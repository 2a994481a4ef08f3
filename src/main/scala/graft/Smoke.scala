package graft

/** Local smoke of the driver's entry contract: prints row count + top rows. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.build(cpus = "4", logLevel = "ERROR")
    val docs = s"${PathRoot.TestData}/sf0.001/documents.parquet"
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    println(s"ENTRY_ROWS=${rows.length}")
    rows.take(5).foreach(r => println(s"ENTRY_ROW $r"))

    // reference-literal output shape: top-K per reducer
    graft.operators.Tokenize.topKPerReducer(
      spark.read.parquet(docs), "text",
      k = 3, numReducers = 4)
      .collect().foreach(r => println(s"PERREDUCER_ROW $r"))

    // native expression through SQL over a real scan
    spark.read.parquet(docs)
      .createOrReplaceTempView("documents")
    spark.sql(
      """SELECT lang, encode_word(lang) AS enc, count(*) AS n
        |FROM documents GROUP BY lang, enc ORDER BY lang""".stripMargin)
      .collect().foreach(r => println(s"ENCODE_ROW $r"))

    // streaming word count over a real file-stream source
    val inDir = java.nio.file.Files.createTempDirectory("graft_stream_in")
    java.nio.file.Files.writeString(inDir.resolve("a.txt"),
      "home fairy dance\npop steal home\n")
    val lines = spark.readStream.format("text")
      .schema("value STRING").load(inDir.toString)
    val q = graft.streaming.StreamOps.streamingWordCount(lines)
      .writeStream.format("memory").queryName("smoke_wc")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    spark.table("smoke_wc").orderBy(org.apache.spark.sql.functions.desc("cnt"))
      .collect().take(3).foreach(r => println(s"STREAM_ROW $r"))

    // streaming dedup over a real file-stream of Event JSON (dup event_ids)
    import spark.implicits._
    val dedupDir = java.nio.file.Files.createTempDirectory("graft_dedup_in")
    java.nio.file.Files.writeString(dedupDir.resolve("e.json"),
      """{"event_id":1,"ts":"2024-01-01T01:00:00","user_id":1,"event_type":"click","value":1.0}
        |{"event_id":1,"ts":"2024-01-01T01:01:00","user_id":1,"event_type":"click","value":1.0}
        |{"event_id":2,"ts":"2024-01-01T01:02:00","user_id":1,"event_type":"view","value":2.0}
        |""".stripMargin)
    val evStream = spark.readStream.format("json")
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE")
      .load(dedupDir.toString).as[graft.streaming.Event]
    val dq = graft.streaming.StreamOps.dedupStream(evStream)
      .writeStream.format("memory").queryName("smoke_dedup")
      .outputMode("append").start()
    dq.processAllAvailable()
    dq.stop()
    println(s"DEDUP_IDS=" + spark.table("smoke_dedup")
      .select("event_id").as[Long].collect().sorted.mkString(","))
    spark.stop()
  }
}
