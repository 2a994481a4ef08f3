package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Catalog-wide scaling-exponent audit (round-11 verdict task 1): run
  * every catalog query at several scale factors and record, per
  * (query, sf): wall seconds, scheduled TASKS, and SHUFFLE-WRITE bytes.
  *
  *   sbt "runMain graft.ScaleAudit [outPath] [sfDir...]"
  *   (defaults: target/scale_audit.json over sf0.01, sf0.1, target/sf1)
  *
  * Methodology (the box drifts ±20-30% between runs minutes apart —
  * SCALE.md):
  *  - per query, the sf runs are BACK-TO-BACK within the same session
  *    (the only wall-time comparison the drift allows), two laps, MIN
  *    per sf (min-of-2 absorbs one-off stalls and first-use JIT; a
  *    genuine plan cost is present in both laps);
  *  - tasks and shuffle-write bytes come from a stage listener and are
  *    DETERMINISTIC per (plan, sf) — the drift-free scaling evidence:
  *    a super-linear wall ratio with a linear shuffle-bytes ratio is
  *    box noise, not a plan problem;
  *  - a per-query timeout (runaway guard) cancels all jobs and records
  *    the sentinel -1; larger sfs of that query are skipped.
  */
object ScaleAudit {
  private val TimeoutSmallSec = 120L
  private val TimeoutSf1Sec = 420L

  def main(args: Array[String]): Unit = {
    val outPath = args.headOption.getOrElse(s"${PathRoot.Target}/scale_audit.json")
    // args after outPath: absolute paths are sf dirs, anything else
    // selects specific queries (targeted re-runs merge into the full
    // artifact via dev/scale_table.py tooling). Classify by path shape,
    // not a q_ prefix — q1_agg has none.
    val only = args.drop(1).filterNot(_.startsWith("/")).toSet
    val dirArgs = args.drop(1).filter(_.startsWith("/"))
    val sfDirs = if (dirArgs.nonEmpty) dirArgs.toSeq
                 else Seq(s"${PathRoot.TestData}/sf0.01",
                          s"${PathRoot.TestData}/sf0.1", s"${PathRoot.Target}/sf1")
    val spark = Sessions.build()
    @volatile var tasks = 0L
    @volatile var shufBytes = 0L
    // Accumulation is GATED on the measured region (round-11 ADVICE):
    // without the gate, a stage from a cancelled run completing late —
    // after the timeout path returned but before the next query's
    // drain — would pollute the next query's counters.
    @volatile var counting = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (counting) {
          tasks += s.stageInfo.numTasks
          shufBytes += s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
        }
    })
    spark.range(1000000).selectExpr("sum(id)").collect()
    var pool = Executors.newSingleThreadExecutor()
    /** (wall sec or -1 on timeout/failure, tasks, shuffle bytes) */
    def runOnce(name: String, sf: String): (Double, Long, Long) = {
      org.apache.spark.sql.graft.GraftSqlShim.drainListenerBus(spark)
      tasks = 0L; shufBytes = 0L
      counting = true
      val limit = if (sf.endsWith("sf1")) TimeoutSf1Sec else TimeoutSmallSec
      val t0 = System.nanoTime()
      val fut = pool.submit(new Runnable {
        override def run(): Unit =
          SparkEntry.queries(name)(spark, sf)
            .write.format("noop").mode("overwrite").save()
      })
      val wall = try { fut.get(limit, TimeUnit.SECONDS); (System.nanoTime() - t0) / 1e9 }
        catch {
          case _: TimeoutException =>
            System.err.println(s"[scale] $name @ $sf TIMED OUT (${limit}s)")
            spark.sparkContext.cancelAllJobs()
            try fut.get(60, TimeUnit.SECONDS) catch { case _: Throwable => () }
            // Wedged-worker guard (round-11 ADVICE): if the runnable is
            // stuck somewhere job cancellation cannot reach (driver-side
            // planning, a non-Spark loop), the single-thread pool would
            // stay occupied and every later submit would queue behind it,
            // recording spurious -1s for HEALTHY queries. Abandon the
            // wedged thread to its fate and hand later queries a fresh
            // worker.
            if (!fut.isDone) {
              System.err.println(
                s"[scale] $name @ $sf still WEDGED after cancel + 60s " +
                  "grace — replacing the worker pool")
              pool.shutdownNow()
              pool = Executors.newSingleThreadExecutor()
            }
            -1.0
          case e: Throwable =>
            System.err.println(s"[scale] $name @ $sf failed: ${e.getMessage}")
            -1.0
        }
      spark.catalog.clearCache()
      org.apache.spark.sql.graft.GraftSqlShim.drainListenerBus(spark)
      counting = false
      (wall, tasks, shufBytes)
    }
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only(n))
    val results = scala.collection.mutable.LinkedHashMap
      .empty[String, Seq[(String, (Double, Long, Long))]]
    var idx = 0
    for (name <- names) {
      idx += 1
      if (idx % 25 == 0) System.gc()
      var dead = false // timeout/failure at a smaller sf skips larger ones
      val perSf = sfDirs.map { sf =>
        if (dead) sf -> ((-1.0, 0L, 0L))
        else {
          val a = runOnce(name, sf)
          val best = if (a._1 < 0) a else {
            val b = runOnce(name, sf)
            if (b._1 >= 0 && b._1 < a._1) b else a
          }
          if (best._1 < 0) dead = true
          sf -> best
        }
      }
      results(name) = perSf
      val line = perSf.map { case (sf, (w, t, b)) =>
        f"${sf.split('/').last}=$w%.2fs/$t%dt/${b / 1024 / 1024}%dMB"
      }.mkString(" ")
      println(s"SCALE [$idx/${names.size}] $name $line")
    }
    val json = results.map { case (n, perSf) =>
      val inner = perSf.map { case (sf, (w, t, b)) =>
        val k = sf.split('/').last
        f""""$k": {"sec": $w%.3f, "tasks": $t, "shuffle_bytes": $b}"""
      }.mkString(", ")
      s""""$n": {$inner}"""
    }.mkString("{\n", ",\n", "\n}")
    Files.createDirectories(Paths.get(outPath).getParent)
    Files.writeString(Paths.get(outPath), json)
    println(s"SCALE_AUDIT queries=${results.size} -> $outPath")
    pool.shutdownNow()
    spark.stop()
  }
}
