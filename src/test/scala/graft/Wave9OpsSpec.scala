package graft

import org.scalatest.funsuite.AnyFunSuite

/** Invariant checks for the wave-9 additions (Bradley-Terry, isotonic
  * calibration, Kendall τ-b, propensity rank matching) at sf0.001 —
  * algebraic laws the DuckDB value gate cannot express (win
  * conservation, fit monotonicity, τ bounds, matching cardinality)
  * which must hold at ANY scale or partitioning. */
class Wave9OpsSpec extends AnyFunSuite with SparkFixture {

  test("bradley_terry: win conservation (sum of wins = comparisons/2), " +
    "positive strengths, sum-normalization holds") {
    val rows = SparkEntry.queries("q_bradley_terry")(spark, Sf).collect()
    assert(rows.nonEmpty)
    val wins = rows.map(_.getLong(1)).sum
    val comps = rows.map(_.getLong(2)).sum
    // every recorded comparison has exactly one winner, and n_ij counts
    // the pair from both sides
    assert(comps == 2 * wins, s"wins=$wins comparisons=$comps")
    val th = rows.map(_.getDouble(3))
    assert(th.forall(_ > 0.0))
    // normalized to mean 1 (sum = k) at the round-8 grain
    assert(math.abs(th.sum - rows.length) < 1e-4, s"sum=${th.sum}")
  }

  test("isotonic: fitted rates are monotone non-decreasing and bracket " +
    "the raw rates' range") {
    val rows = SparkEntry.queries("q_isotonic")(spark, Sf).collect()
    assert(rows.length == 20)
    val iso = rows.map(r => if (r.isNullAt(4)) Double.NaN else r.getDouble(4))
    iso.filter(!_.isNaN).sliding(2).filter(_.length == 2).foreach { w =>
      assert(w(1) >= w(0) - 1e-9,
        s"isotonic fit must be monotone: ${w(0)} -> ${w(1)}")
    }
    val raws = rows.collect { case r if !r.isNullAt(3) => r.getDouble(3) }
    if (raws.nonEmpty) {
      val clean = iso.filter(!_.isNaN)
      assert(clean.max <= raws.max + 1e-9 && clean.min >= raws.min - 1e-9,
        "the isotonic fit is a monotone projection — it cannot leave the" +
          " raw rates' range")
    }
  }

  test("kendall: tau in [-1, 1], pair counts conserve, n0 = D(D-1)/2") {
    val r = SparkEntry.queries("q_kendall")(spark, Sf).collect().head
    val (n0, c, d, tx, ty) = (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))
    val nDays = graft.queries.table(spark, Sf, "events")
      .selectExpr("unix_micros(ts) DIV 86400000000 AS day")
      .distinct().count()
    assert(n0 == nDays * (nDays - 1) / 2)
    assert(c + d <= n0, "concordant + discordant cannot exceed all pairs")
    assert(tx <= n0 && ty <= n0)
    val tau = r.getDouble(5)
    assert(tau >= -1.0 - 1e-9 && tau <= 1.0 + 1e-9, s"tau=$tau")
  }

  test("psm_match: matched count is min(treated, control) per stratum " +
    "and strata partition the user base") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q_psm_match")(spark, Sf).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    val users = spark.read.parquet(s"$Sf/events.parquet")
      .select(countDistinct(col("user_id"))).collect().head.getLong(0)
    assert(rows.map(r => r.getLong(1) + r.getLong(2)).sum == users)
    for (r <- rows) {
      val (nt, nc, nm) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nm == math.min(nt, nc),
        "rank matching pairs every rank up to the smaller arm")
      if (nm > 0) assert(r.getDouble(4) >= 0.0)
    }
  }
}
