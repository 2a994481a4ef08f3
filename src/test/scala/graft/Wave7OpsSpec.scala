package graft

import org.scalatest.funsuite.AnyFunSuite

/** Invariant checks for the wave-7 additions (Spearman, Mann-Whitney,
  * DP histogram, Hill tail index, betweenness, group-sequential SPRT)
  * at sf0.001 — algebraic laws the DuckDB value gate cannot express
  * (range bounds, rank-sum identities, noise bounds, conservation)
  * which must hold at ANY scale or partitioning. */
class Wave7OpsSpec extends AnyFunSuite with SparkFixture {

  test("spearman: rho in [-1, 1] and sum of squared rank diffs is even") {
    val r = SparkEntry.queries("q_spearman")(spark, Sf).collect().head
    val (n, sd2, rho) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    assert(n > 0 && sd2 >= 0)
    assert(rho >= -1.0 - 1e-9 && rho <= 1.0 + 1e-9, s"rho=$rho")
    // both rank columns are permutations of 1..n, so Σd = 0 ⇒ Σd² even
    assert(sd2 % 2 == 0, s"sd2=$sd2 must be even")
  }

  test("mannwhitney: rank-sum identities hold against independent counts") {
    import org.apache.spark.sql.functions._
    val r = SparkEntry.queries("q_mannwhitney")(spark, Sf).collect().head
    val (n1, n2, r1, u1) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    // INDEPENDENT group sizes straight off the events table
    val counts = spark.read.parquet(s"$Sf/events.parquet")
      .where(col("event_type").isin("click", "purchase"))
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(row => row.getString(0) -> row.getLong(1)).toMap
    assert(n1 == counts("click") && n2 == counts("purchase"))
    // U1 bounds and the rank-sum identity R1 ≥ n1(n1+1)/2
    assert(u1 >= 0 && u1 <= n1 * n2, s"u1=$u1 out of [0, ${n1 * n2}]")
    assert(r1 == u1 + n1 * (n1 + 1) / 2)
  }

  test("dp_hist: noise is bounded by the Laplace quantile at the grid " +
    "floor and every cell of the true histogram is present") {
    val rows = SparkEntry.queries("q_dp_hist")(spark, Sf).collect()
    assert(rows.nonEmpty)
    // |noise| = 2·|ln(a/1e6)| ≤ 2·ln(1e6) ≈ 27.64 for the md5 grid
    val bound = 2.0 * math.log(1e6) + 1e-6
    for (r <- rows) {
      val (n, noisy) = (r.getLong(2), r.getDouble(3))
      assert(math.abs(noisy - n) <= bound,
        s"noise ${noisy - n} exceeds Laplace grid bound $bound")
    }
    // deterministic release: a second run draws the identical noise
    val again = SparkEntry.queries("q_dp_hist")(spark, Sf).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("hill_tail: k top statistics used, alpha positive, lnsum " +
    "consistent with k and the boundary value") {
    import org.apache.spark.sql.functions._
    val r = SparkEntry.queries("q_hill_tail")(spark, Sf).collect().head
    val (k, xk1, lnsum) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    // the top set is min(101, |users|) rows, minus the boundary row
    val nUsers = spark.read.parquet(s"$Sf/events.parquet")
      .select(countDistinct(col("user_id"))).collect().head.getLong(0)
    assert(k == math.min(101L, nUsers) - 1, s"k=$k users=$nUsers")
    assert(xk1 > 0)
    // every kept x ≥ xk1 so each ln term ≥ 0; alpha = k/s > 0 when s > 0
    assert(lnsum >= 0.0)
    if (!r.isNullAt(3)) assert(r.getDouble(3) > 0.0)
  }

  test("betweenness: bc non-negative, bounded by seed count times max " +
    "dependency, and no seed appears as a scored vertex") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q_betweenness")(spark, Sf).collect()
    assert(rows.nonEmpty)
    // seeds replicated independently: top-8 by degree among sv ≡ 0 mod 7
    val seeds = spark.read.parquet(s"$Sf/lineitem.parquet")
      .select(col("l_partkey").as("p"), (col("l_suppkey") + 1000000L).as("sv"))
      .distinct()
      .where(col("sv") % 7 === 0)
      .groupBy("sv").agg(count(lit(1)).as("dg"))
      .orderBy(desc("dg"), asc("sv")).limit(8)
      .collect().map(_.getLong(0)).toSet
    for (r <- rows) {
      assert(r.getDouble(2) >= 0.0, s"negative bc for v=${r.getLong(0)}")
      assert(!seeds.contains(r.getLong(0)),
        "a seed can never enter the backward delta set (settled at dist 0)")
      assert(r.getLong(1) >= 1 && r.getLong(1) <= 8)
    }
  }

  test("betweenness: a second build and collect compiles no new class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // every class a warm run generates is still in the codegen cache
    // (Sessions.CodegenCacheEntries); at Spark's default 100 the second run
    // recompiled ~80 of its ~114 classes
    def run(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      SparkEntry.queries("q_betweenness")(spark, Sf).collect()
      spark.catalog.clearCache()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    run()
    val compiles = run()
    assert(compiles == 0, s"the second run compiled $compiles classes")
  }

  test("sprt: walk conservation — the decision day's cumulative obs " +
    "never exceeds the total, and the decision matches the walk sign") {
    val rows = SparkEntry.queries("q_sprt")(spark, Sf).collect()
    assert(rows.length == 2) // variants 0 and 1
    for (r <- rows) {
      val totalObs = r.getLong(2)
      val decision = r.getString(5)
      if (decision == "continue") {
        assert(r.isNullAt(3) && r.isNullAt(4) && r.isNullAt(6))
      } else {
        val (nObs, llr) = (r.getLong(4), r.getDouble(6))
        assert(nObs >= 1 && nObs <= totalObs)
        assert((decision == "H1") == (llr > 0), s"$decision vs llr=$llr")
        // at the first crossing the walk is outside (−ln19, ln19)
        assert(math.abs(llr) >= math.log(19.0) - 1e-6)
      }
    }
  }
}
