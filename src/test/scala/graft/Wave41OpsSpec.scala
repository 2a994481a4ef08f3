package graft

import graft.queries.Wave41
import org.scalatest.funsuite.AnyFunSuite

/** Invariant pins for the wave-41 queries at sf0.001. */
class Wave41OpsSpec extends AnyFunSuite with SparkFixture {

  test("q_rich_club: rungs are nested (club size and edges nonincreasing)") {
    val rows = Wave41.queries("q_rich_club")(spark, Sf)
      .orderBy("k").collect()
    assert(rows.length == 4)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("club_size") >= b.getAs[Long]("club_size"))
      assert(a.getAs[Long]("club_edges") >= b.getAs[Long]("club_edges"))
    }
    rows.foreach { r =>
      val n = r.getAs[Long]("club_size")
      val m = r.getAs[Long]("club_edges")
      assert(m <= n * (n - 1) / 2, r) // density ≤ 1
      if (n >= 2) assert(r.getAs[Double]("phi") <= 1.0, r)
    }
    spark.catalog.clearCache()
  }

  test("q_wedge_census: closed wedges bounded by the census") {
    val r = Wave41.queries("q_wedge_census")(spark, Sf).collect().head
    val w = r.getAs[Long]("n_wedges")
    val t = r.getAs[Long]("n_triangles")
    assert(w >= 0 && t >= 0)
    assert(3 * t <= w, s"3T=$t*3 exceeds W=$w")
    if (w > 0) {
      val tr = r.getAs[Double]("transitivity")
      assert(tr >= 0.0 && tr <= 1.0)
    }
    spark.catalog.clearCache()
  }

  test("q_isotropy: mean cosine within [-1, 1], fractions consistent") {
    val r = Wave41.queries("q_isotropy")(spark, Sf).collect().head
    val n = r.getAs[Long]("n_pairs")
    assert(n == 32L * 31 / 2) // C(32,2) — the constant query set
    val mc = r.getAs[Double]("mean_cos")
    assert(mc >= -1.0 && mc <= 1.0)
    assert(r.getAs[Long]("n_pos_dot") <= n)
    assert(math.abs(r.getAs[Double]("frac_pos_dot") -
      r.getAs[Long]("n_pos_dot").toDouble / n) < 1e-4)
    spark.catalog.clearCache()
  }
}
