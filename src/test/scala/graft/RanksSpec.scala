package graft

import graft.operators.Ranks
import org.scalatest.funsuite.AnyFunSuite

/** The distributed two-level rank must equal a plain in-memory sort rank
  * for any partitioning — including keys far bigger than a range slice. */
class RanksSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("rk equals in-memory sort rank, invariant across partitionings") {
    val rnd = new scala.util.Random(3)
    val rows = (1L to 4000L).map(id =>
      (s"k${rnd.nextInt(3)}", rnd.nextInt(1000), id)) // unique id tiebreak
    val want = rows.groupBy(_._1).flatMap { case (_, rs) =>
      rs.sortBy(r => (r._2, r._3)).zipWithIndex
        .map { case (r, i) => (r._3, (i + 1).toLong) }
    }
    for (parts <- Seq(2, 9)) {
      val got = Ranks
        .withinKey(rows.toDF("k", "v", "id"), "k", Seq("v", "id"), parts)
        .select("id", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == want, s"parts=$parts")
    }
  }

  test("~1e5 distinct keys: ranks equal the in-memory sort rank") {
    // The high-cardinality guard (Ranks scaladoc): the offsets table is
    // parts × |keys| rows, too big to force-broadcast safely in general,
    // so AQE sizes the offsets join at runtime. Prove the rank is still
    // exact at 1e5 distinct keys.
    val rows = (1L to 200000L).map(id => (id % 100000, id * 31 % 997, id))
    val got = Ranks.withinKey(rows.toDF("k", "v", "id"), "k", Seq("v", "id"), 8)
      .select("id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // spot-check against the in-memory rank law: each key has 2 rows
    val want = rows.groupBy(_._1).flatMap { case (_, rs) =>
      rs.sortBy(r => (r._2, r._3)).zipWithIndex
        .map { case (r, i) => (r._3, (i + 1).toLong) }
    }
    assert(got == want)
  }

  test("a single huge key spans range partitions (no single-task rank)") {
    val rows = (1L to 20000L).map(id => ("whale", id * 7 % 99991, id))
    val ranked = Ranks.withinKey(rows.toDF("k", "v", "id"), "k", Seq("v", "id"), 8)
    // correct min/max rank and count
    val stats = ranked.agg(
      org.apache.spark.sql.functions.min("rk"),
      org.apache.spark.sql.functions.max("rk"),
      org.apache.spark.sql.functions.count_distinct(
        org.apache.spark.sql.functions.col("rk"))).collect()(0)
    assert((stats.getLong(0), stats.getLong(1), stats.getLong(2)) ==
      (1L, 20000L, 20000L))
  }
}
