package graft

import graft.operators.Merge
import org.scalatest.funsuite.AnyFunSuite

/** Latest-change-wins semantics of Merge.applyChanges under out-of-order
  * feeds (the part the q_cdc_apply oracle — a single-change-per-key
  * reconstruction — can't exercise). */
class MergeSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("applyChanges: max-seq change wins per key; D deletes, I/U replace") {
    val target = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val changes = Seq(
      (1L, "stale", "D", 1L), (1L, "x", "U", 2L),  // update after delete → row lives
      (2L, "y", "U", 4L), (2L, "dead", "D", 5L),   // delete after update → row gone
      (4L, "z", "I", 1L))                           // plain insert
      .toDF("k", "v", "op", "seq")
    val got = Merge.applyChanges(target, changes, "k")
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "x", 3L -> "c", 4L -> "z"), got)
  }

  test("round trip: applyChanges(old, diff(old, new)) == new") {
    import org.apache.spark.sql.functions._
    val old = Seq((1L, "a", Some(10.0)), (2L, "b", Some(20.0)),
      (3L, "c", Some(30.0)), (4L, "d", None: Option[Double]))
      .toDF("k", "v", "x")
    val neu = Seq((1L, "a", Some(10.0)),     // unchanged → no change row
      (2L, "B", Some(20.0)),                  // value update
      (4L, "d", Some(40.0)),                  // null → value update (null-safe)
      (5L, "e", Some(50.0)))                  // insert; key 3 deleted
      .toDF("k", "v", "x")
    val feed = Merge.diff(old, neu, "k")
    // unchanged rows emit nothing
    assert(feed.where(col("k") === 1L).count() == 0)
    val ops = feed.select("k", "op").as[(Long, String)].collect().toMap
    assert(ops == Map(2L -> "U", 3L -> "D", 4L -> "U", 5L -> "I"), ops)
    val replayed = Merge.applyChanges(old, feed.withColumn("seq", lit(1L)), "k")
      .as[(Long, String, Option[Double])].collect().toSet
    assert(replayed == neu.as[(Long, String, Option[Double])].collect().toSet,
      replayed)
  }

  test("diff classifies null-KEY rows by presence, not key-null tests") {
    val old = Seq((Option(1L), "a"), (None: Option[Long], "n"))
      .toDF("k", "v")
    // null key present in BOTH snapshots, unchanged → must emit NOTHING
    val sameNull = Merge.diff(old, old, "k")
    assert(sameNull.count() == 0, sameNull.collect().toSeq)
    // null key updated → 'U' with new payload
    val neuU = Seq((Option(1L), "a"), (None: Option[Long], "n2")).toDF("k", "v")
    val u = Merge.diff(old, neuU, "k").select("op", "v")
      .as[(String, String)].collect().toSet
    assert(u == Set(("U", "n2")), u)
    // null key only in OLD → 'D' carrying the old payload (not a spurious
    // 'I' with null payload)
    val neuD = Seq((Option(1L), "a")).toDF("k", "v")
    val d = Merge.diff(old, neuD, "k").select("op", "v")
      .as[(String, String)].collect().toSet
    assert(d == Set(("D", "n")), d)
  }
}
