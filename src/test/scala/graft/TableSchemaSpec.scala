package graft

import java.io.File

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graft.GraftSqlShim
import org.scalatest.funsuite.AnyFunSuite

/** `queries.table` takes a single-file table's schema from the cached
  * parquet footer: the same schema `spark.read.parquet` infers, and no
  * Spark job while a query is built. */
class TableSchemaSpec extends AnyFunSuite with SparkFixture {

  /** The Spark jobs `body` started on this thread, counted by a listener
    * over a job group once the async listener bus has drained. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"table-schema-spec-${System.nanoTime()}"
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          started.incrementAndGet()
    }
    GraftSqlShim.drainListenerBus(spark)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val out = try body finally sc.clearJobGroup()
      GraftSqlShim.drainListenerBus(spark)
      (out, started.get)
    } finally sc.removeSparkListener(listener)
  }

  test("every sf0.001 table reads with the schema spark.read.parquet infers") {
    val names = new File(Sf).listFiles().map(_.getName).filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted.toSeq
    assert(names.contains("events") && names.contains("documents"), names)
    for (name <- names) {
      val inferred = spark.read.parquet(s"$Sf/$name.parquet")
      val expected = if (name == "events") queries.normalizeTs(inferred) else inferred
      val got = queries.table(spark, Sf, name)
      // StructField equality: name, type, nullability and metadata
      assert(got.schema.fields.toSeq == expected.schema.fields.toSeq, name)
    }
    // nanosecond `ts` arrives as a long under the session's nanosAsLong,
    // and is normalized to a timestamp
    assert(queries.table(spark, Sf, "events").schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("a Spark-written directory table still reads correctly") {
    import spark.implicits._
    val dir = s"${queries.TmpRoot}/table-schema-spec"
    val rows = Seq((1L, "a", Some(1.5)), (2L, "b", None), (3L, "c", Some(-2.0)))
    rows.toDF("id", "s", "d").repartition(2)
      .write.mode("overwrite").parquet(s"$dir/tbl.parquet")
    val got = queries.table(spark, dir, "tbl")
    val expected = spark.read.parquet(s"$dir/tbl.parquet")
    assert(got.schema.fields.toSeq == expected.schema.fields.toSeq)
    assert(got.orderBy("id").collect().toSeq == expected.orderBy("id").collect().toSeq)
    assert(got.count() == 3L)
  }

  test("building the word-count queries runs no Spark job") {
    val built = Seq("q_topk", "q_topk_per_reducer", "q_wordcount")
      .map(n => n -> jobsDuring(SparkEntry.queries(n)(spark, Sf))) :+
      ("entry" -> jobsDuring(SparkEntry.entry(spark)))
    for ((name, (df, jobs)) <- built) {
      assert(jobs == 0, s"$name ran $jobs Spark job(s) while being built")
      assert(df.schema.fieldNames.contains("word"), name)
    }
    // the counter does see jobs: an action on this thread counts
    val (_, jobs) = jobsDuring(spark.range(3).count())
    assert(jobs >= 1)
  }
}
