package graft

import graft.operators.TopK
import graft.plans.TopKPerKeyExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native TopKPerKeyExec must be row-identical to the window
  * row_number spelling under a total ordering, independent of input
  * partitioning (the map-side partial prune must not change results),
  * and must plan as partial+final around one Exchange. */
class TopKSpec extends AnyFunSuite with SparkFixture {

  private def events = spark.read
    .parquet(s"$Sf/events.parquet")
    .select(col("event_id"), col("user_id"), col("value"))

  private def windowTwin(k: Int): Set[(Long, Long)] = {
    val w = Window.partitionBy("user_id").orderBy(desc("value"), asc("event_id"))
    events.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .select("user_id", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  private def native(df: org.apache.spark.sql.DataFrame, k: Int): Set[(Long, Long)] =
    TopK.perKey(df, Seq("user_id"), Seq(("value", false), ("event_id", true)), k)
      .select("user_id", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("row-identical to the window spelling (k = 1, 3, 10)") {
    for (k <- Seq(1, 3, 10))
      assert(native(events, k) == windowTwin(k), s"k=$k")
  }

  test("partitioning-invariant: 1-partition and 13-partition inputs agree") {
    val k = 5
    val expected = windowTwin(k)
    assert(native(events.coalesce(1), k) == expected)
    assert(native(events.repartition(13), k) == expected)
  }

  test("float keys: -0.0 and 0.0 (and NaN bit patterns) form ONE group") {
    import spark.implicits._
    val df = Seq((0.0, 1L), (-0.0, 2L), (0.0, 3L), (-0.0, 4L))
      .toDF("dkey", "id")
    val got = TopK.perKey(df, Seq("dkey"), Seq(("id", true)), 3)
      .select("id").collect().map(_.getLong(0)).toSet
    // one group of 4 rows pruned to k=3 best ids; un-normalized raw-byte
    // grouping would keep two groups of 2 and emit all 4 rows
    assert(got == Set(1L, 2L, 3L), got)
  }

  test("sort-fallback past the in-memory key budget is row-identical") {
    // budget of 4 in-memory keys vs ~hundreds of user_ids: almost every
    // key takes the ExternalSorter fallback path, in BOTH the partial and
    // final stages — results must not change (round-2 VERDICT finding 2:
    // the heap map previously grew without bound at high key cardinality)
    val k = 3
    val expected = windowTwin(k)
    def budget4(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
      val plan = graft.operators.Ckpt.noAqe(spark)(TopK.perKey(df, Seq("user_id"),
        Seq(("value", false), ("event_id", true)), k).select("user_id", "event_id")
        .queryExecution.executedPlan)
        .transform { case t: TopKPerKeyExec => t.copy(maxKeysInMemory = 4) }
      assert(plan.collect { case t: TopKPerKeyExec => t.maxKeysInMemory } == Seq(4, 4), plan)
      plan.executeCollect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(budget4(events) == expected)
    assert(budget4(events.repartition(13)) == expected)
  }

  test("plans as partial+final TopKPerKeyExec around one exchange, no sort") {
    val df = TopK.perKey(events, Seq("user_id"), Seq(("value", false), ("event_id", true)), 3)
    val p = df.queryExecution.executedPlan.toString
    // SparkPlan.nodeName strips the Exec suffix: both physical stages
    // print as "TopKPerKey [keys]..."
    assert("TopKPerKey \\[".r.findAllIn(p).length == 2, p)
    assert(p.contains("Exchange"), p)
    assert(!p.contains("Window"), p)
    assert(!p.toLowerCase.contains("sortexec"), p)
  }
}
