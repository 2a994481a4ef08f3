package graft

import org.scalatest.funsuite.AnyFunSuite

/** Geospatial-tier invariants (queries.Geo): the 3×3 grid probe must be
  * COMPLETE for radius = cell width (grid join ≡ brute force), the Morton
  * key must be a bijection on the 8×8 grid, and the exact-integer
  * distances must make everything partition-invariant. */
class GeoSpec extends AnyFunSuite with SparkFixture {

  import org.apache.spark.sql.functions._

  private def rows(name: String) =
    SparkEntry.queries(name)(spark, Sf).collect()

  test("q_geo_radius_join equals the brute-force cross-join radius join") {
    // brute force: same PRF coordinates, no grid — every (station, point)
    // pair checked. The grid join must produce identical aggregates.
    val space = 1048576L
    val cellW = 131072L
    def coord(prefix: String, key: String) =
      expr(s"CAST(conv(substring(md5(concat('$prefix-', CAST($key AS STRING))), 1, 8), 16, 10) AS BIGINT) % $space")
    val pts = spark.read.parquet(s"$Sf/events.parquet")
      .select("user_id").distinct()
      .withColumn("px", coord("px", "user_id"))
      .withColumn("py", coord("py", "user_id"))
    val st = spark.read.parquet(s"$Sf/nation.parquet")
      .select(col("n_nationkey").cast("long").as("station"))
      .withColumn("sx", coord("sx", "station"))
      .withColumn("sy", coord("sy", "station"))
    val brute = pts.crossJoin(st)
      .withColumn("d2", expr("(px - sx)*(px - sx) + (py - sy)*(py - sy)"))
      .where(col("d2") <= cellW * cellW)
      .groupBy("station")
      .agg(count(lit(1)).as("n_within"),
        min(struct(col("d2"), col("user_id"))).as("m"))
      .select(col("station"), col("n_within"),
        col("m.user_id").as("closest_uid"), col("m.d2").as("closest_d2"))
      .orderBy("station")
      .collect().map(_.toString).toSeq
    val grid = rows("q_geo_radius_join").map(_.toString).toSeq
    assert(grid == brute)
  }

  test("q_geo_cell: Morton key is a bijection of (cx, cy) and counts cover all points") {
    val r = rows("q_geo_cell")
    val zs = r.map(_.getLong(0))
    assert(zs.distinct.length == zs.length) // zcell unique per cell
    zs.foreach(z => assert(z >= 0 && z < 64, z))
    val nPts = SparkEntry.queries("q_geo_cell")(spark, Sf)
      .agg(sum("n_points")).collect()(0).getLong(0)
    val nUsers = spark.read.parquet(s"$Sf/events.parquet")
      .select("user_id").distinct().count()
    assert(nPts == nUsers)
  }

  test("q_geo_knn: ranks contiguous from 1, d2 non-decreasing per station") {
    val r = rows("q_geo_knn")
    assert(r.nonEmpty)
    r.groupBy(_.getLong(0)).foreach { case (_, g) =>
      val sorted = g.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length).toSeq)
      val d2s = sorted.map(_.getLong(3))
      assert(d2s.zip(d2s.tail).forall { case (a, b) => a <= b }, g.mkString(";"))
    }
  }

  test("q_geo_radius_join is partition-count invariant (exact integers)") {
    val base = rows("q_geo_radius_join").map(_.toString).toSeq
    withConf("spark.sql.shuffle.partitions", "7") {
      assert(rows("q_geo_radius_join").map(_.toString).toSeq == base)
    }
  }

  test("q_geo_radius_join plan: station side broadcasts, no cartesian product") {
    val p = SparkEntry.queries("q_geo_radius_join")(spark, Sf).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }
}
