package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.graft.GraftSqlShim

/** Targeted timing for a few catalog queries (median-of-3, cold plans) —
  * the dev-loop A/B tool behind plan tweaks, without a full Bench run:
  *
  *   sbt "runMain graft.TimeQuery <sfDir> q_lm_score q_dbscan"
  *
  * Per rep it prints the wall time, how many Spark JOBS the query
  * scheduled, their summed duration (`job_ms`) and the wall time outside
  * them (`gap_ms`: planning, work between jobs, scheduling barriers — the
  * fixed-cost picture behind the iterative-operator tuning in SCALE.md),
  * and how many classes Spark compiled for it (`compiles`, from
  * `CodegenMetrics`' compilation histogram, which counts generated-code
  * cache misses) and the Janino time they took (`compile_ms`). A warm rep
  * that still compiles is outgrowing the generated-code cache
  * (`Sessions.CodegenCacheEntries`) or generating different code per run.
  * Then the median rep's jobs, one line each in submission order: wall
  * duration, task count, shuffle-write MB and job description — which of
  * an operator's barriers actually costs. Jobs can overlap, so `job_ms`
  * may exceed the wall.
  *
  * Args of the form `conf:key=value` set runtime SQLConf entries before
  * any query runs — the A/B switchboard behind the SCALE.md fixpoint
  * studies (AQE on/off, shuffle-partition counts) without code edits.
  */
object TimeQuery {

  /** One Spark job as the listener saw it; `end` is -1 until it ends. */
  private final class Job(val start: Long, val desc: String) {
    var end = -1L
    var tasks = 0
    var shuffleBytes = 0L
    def ms: Long = if (end > 0) end - start else -1L
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val (confs, names) = args.drop(1).toSeq.partition(_.startsWith("conf:"))
    val spark = Sessions.build()
    confs.map(_.stripPrefix("conf:").split("=", 2)).foreach {
      case Array(k, v) => spark.conf.set(k, v)
      case other => sys.error(s"bad conf arg: ${other.mkString("=")}")
    }
    val jobs = new ConcurrentHashMap[Int, Job]()
    val stageToJob = new ConcurrentHashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
        jobs.put(e.jobId, new Job(e.time, desc.getOrElse("").take(60)))
        e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Option(jobs.get(stageToJob.getOrDefault(e.stageInfo.stageId, -1)))
          .foreach { j =>
            j.tasks += e.stageInfo.numTasks
            j.shuffleBytes +=
              e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
          }
    })
    spark.range(1000000).selectExpr("sum(id)").collect() // session warmup
    for (name <- names) {
      val reps = (1 to 3).map { _ =>
        // the listener bus is async: drain it before resetting the maps
        // so a previous rep's late events cannot leak into this one …
        GraftSqlShim.drainListenerBus(spark)
        jobs.clear(); stageToJob.clear()
        val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val compileNs0 = CodeGenerator.compileTime
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        // … and again before reading them, so every job of this rep landed
        GraftSqlShim.drainListenerBus(spark)
        spark.catalog.clearCache()
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
        val compileMs = (CodeGenerator.compileTime - compileNs0) / 1000000
        (wall, jobs.asScala.toSeq.sortBy(_._1), compiles, compileMs)
      }
      for (((wall, js, compiles, compileMs), rep) <- reps.zipWithIndex) {
        val jobMs = js.map(_._2.ms.max(0L)).sum
        println(f"TIME_QUERY_REP $name rep=${rep + 1} wall=$wall%.2f " +
          f"jobs=${js.size} job_ms=$jobMs gap_ms=${(wall * 1000 - jobMs).toLong} " +
          s"compiles=$compiles compile_ms=$compileMs")
      }
      val walls = reps.map(_._1)
      println(f"TIME_QUERY $name median=${walls.sorted.apply(1)}%.2f " +
        f"all=${walls.map(t => f"$t%.2f").mkString(",")}")
      reps.sortBy(_._1).apply(1)._2.foreach { case (id, j) =>
        println(f"  job=$id%3d ms=${j.ms}%6d tasks=${j.tasks}%4d " +
          f"shufMB=${j.shuffleBytes / 1024 / 1024}%5d ${j.desc}")
      }
    }
    spark.stop()
  }
}
