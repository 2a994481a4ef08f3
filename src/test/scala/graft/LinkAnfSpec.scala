package graft

import org.scalatest.funsuite.AnyFunSuite

/** Invariants for queries.Graphs (Adamic-Adar link prediction, HyperANF)
  * beyond the oracle gate: predicted links must be non-edges, AA scores
  * must respect the per-neighbor contribution bound, and the ANF curve
  * must behave like a neighborhood function (monotone growth from ~|V|). */
class LinkAnfSpec extends AnyFunSuite with SparkFixture {

  import org.apache.spark.sql.functions._

  test("q_link_predict: predictions are non-edges with bounded AA scores") {
    val r = SparkEntry.queries("q_link_predict")(spark, Sf).collect()
    assert(r.nonEmpty)
    // rebuild the edge set with the same construction
    val b = spark.read.parquet(s"$Sf/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val small = b.groupBy("ok").agg(count(lit(1)).as("bs"))
      .where(col("bs") <= 64).select("ok")
    val os = b.join(small, "ok")
    val edges = os.alias("a").join(os.alias("b"), Seq("ok"))
      .where(col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
      .agg(count(lit(1)).as("w")).where(col("w") >= 2)
      .select("u", "v").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    r.foreach { row =>
      val (u, v, nc, aa) =
        (row.getLong(0), row.getLong(1), row.getLong(2), row.getDouble(3))
      assert(!edges.contains((u, v)), s"predicted existing edge ($u,$v)")
      assert(u < v, row)
      assert(nc >= 1 && aa > 0.0, row)
      // each common neighbor contributes at most 1/ln(2)
      assert(aa <= nc / Math.log(2.0) + 1e-6, row)
    }
  }

  test("q_hyperanf: N(t) grows monotonically from ~|V| at t=0") {
    val r = SparkEntry.queries("q_hyperanf")(spark, Sf).collect()
      .sortBy(_.getLong(0))
    assert(r.length == 3)
    val nv = r.map(_.getLong(1)).distinct
    assert(nv.length == 1) // vertex count constant across rounds
    val ests = r.map(_.getDouble(2))
    // linear-counting correction: N(0) within 15% of |V|
    assert(Math.abs(ests(0) - nv(0)) <= 0.15 * nv(0), s"${ests(0)} vs ${nv(0)}")
    // registers only grow under max-merge => per-vertex estimates and the
    // sum are non-decreasing in t
    assert(ests.zip(ests.tail).forall { case (a, b) => b >= a }, ests.mkString(","))
  }

  test("q_hyperanf is partition-count invariant (integer registers)") {
    def run() = SparkEntry.queries("q_hyperanf")(spark, Sf)
      .collect().map(_.toString).toSeq
    val base = run()
    withConf("spark.sql.shuffle.partitions", "7")(assert(run() == base))
  }
}
