package graft

import org.scalatest.funsuite.AnyFunSuite

/** The custom DSv2 source must be partition-invariant, exact on row
  * counts under ragged ranges, and honor column pruning down to the
  * generator (a doc_id-only scan must not carry text). */
class SynthSourceSpec extends AnyFunSuite with SparkFixture {

  private def read(rows: Int, parts: Int) =
    spark.read.format("graft.sources.SynthSource")
      .option("rows", rows.toString).option("partitions", parts.toString)
      .load()

  test("row count exact under ragged partitioning; ids are 0..n-1") {
    for (parts <- Seq(1, 3, 7)) {
      val ids = read(100, parts).select("doc_id")
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == (0L until 100L), s"parts=$parts")
    }
  }

  test("content is partition-count-invariant and matches the generator") {
    val a = read(64, 2).collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val b = read(64, 9).collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(a == b)
    assert(a(7L) == graft.sources.SynthSource.text(7L))
  }

  test("doc_id range filters push into the scan: no Spark-side Filter node") {
    val df = read(100, 4).where("doc_id >= 90 AND doc_id < 95")
    assert(df.count() == 5)
    assert(df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == (90L until 95L))
    val p = df.queryExecution.executedPlan.toString
    // fully absorbed by the source: no Filter NODE ("Filter (cond)") —
    // the always-printed "RuntimeFilters: []" label doesn't count
    assert("Filter \\(".r.findFirstIn(p).isEmpty, p)
  }

  test("ChecksumSink: commit-aggregated checksum is partition-invariant") {
    def write(parts: Int, name: String): Unit =
      read(200, parts).write.format("graft.sources.ChecksumSink")
        .option("name", name).mode("append").save()
    write(2, "t2")
    write(11, "t11")
    val (a, b) = (graft.sources.ChecksumSink.result("t2"),
      graft.sources.ChecksumSink.result("t11"))
    assert(a.isDefined && a.get._1 == 200L, a)
    assert(a == b, s"$a != $b") // xor/count commute across partitionings
    // different data -> different checksum (overwhelming probability)
    read(199, 3).write.format("graft.sources.ChecksumSink")
      .option("name", "t199").mode("overwrite").save()
    assert(graft.sources.ChecksumSink.result("t199").get != a.get)
  }

  test("column pruning reaches the scan: doc_id-only read schema") {
    val p = read(10, 2).select("doc_id").queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    // DSv2 BatchScan prints its (pruned) output attrs, not a ReadSchema
    val scanOut = "(?s)BatchScan synth[^\\n]*\\nOutput \\[1\\]: \\[doc_id#\\d+L\\]".r
    assert(scanOut.findFirstIn(p).isDefined, p)
    assert(!p.contains("text#"), p)
  }

  test("micro-batch stream delivers the full corpus in paced batches") {
    val q = spark.readStream.format("graft.sources.SynthSource")
      .option("rows", "1000").option("partitions", "3")
      .option("rowsPerBatch", "300").load()
    val chk = s"${graft.queries.TmpRoot}/synth_stream_chk_${System.nanoTime()}"
    val query = q.writeStream.format("memory").queryName("synth_stream")
      .option("checkpointLocation", chk).start()
    try {
      query.processAllAvailable()
      val got = spark.table("synth_stream").collect()
      assert(got.length == 1000)
      val ids = got.map(_.getLong(0)).sorted
      assert(ids.head == 0L && ids.last == 999L && ids.distinct.length == 1000)
      // generation identical to the batch path
      val sample = got.filter(_.getLong(0) % 251 == 0)
      sample.foreach { r =>
        assert(r.getString(1) == graft.sources.SynthSource.text(r.getLong(0)))
      }
      // rate limit respected: 1000 rows at 300/batch needs ≥ 4 batches
      val batches = query.recentProgress.map(_.numInputRows).filter(_ > 0)
      assert(batches.length >= 4, batches.mkString(","))
      assert(batches.forall(_ <= 300), batches.mkString(","))
    } finally {
      query.stop()
      spark.sql("DROP TABLE IF EXISTS synth_stream")
    }
  }
}
