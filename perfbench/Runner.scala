package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}

/** JVM side of the benchmark: drives the engine's public entry points in
  * a closed loop (one thread, one query at a time) and writes what it
  * measured to `<out>/result.json`. Correctness is judged outside the
  * JVM from the parquet dumps of the verify pass.
  *
  *   out=DIR cpus=N data=DIR queries=q1,q2 warmup=W jobs=K deadline=S
  *   trace=0|1
  *
  * A job is one pass over the query list: for each query the catalog
  * builder `SparkEntry.queries(q)(spark, data)`, then the `noop` sink. The
  * run is: session set-up, the cold job, the verify pass, W warm-up jobs,
  * K timed jobs and, with trace=1, K traced jobs. A fixed job count (not a
  * fixed time) keeps the timed jobs at the same places in the JVM's
  * warm-up curve on every run. Between jobs (never inside one) the runner
  * forces full GCs to read the live old generation, then clears the
  * session cache, so every job starts from the same state and work held in
  * caches shows up as live heap. */
object Runner {
  def now(): Double = System.nanoTime() / 1e9
  private def epoch(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val out = Paths.get(a("out"))
    Files.createDirectories(out)
    val res = mutable.LinkedHashMap[String, Any]()
    val t0 = now()
    val spark = graft.Sessions.build(cpus = a("cpus"))
    res("sessions_build_s") = now() - t0
    spark.range(1).count()
    res("ready_epoch") = epoch()
    flush(out, res)
    try new Run(spark, a, out, res).all()
    finally {
      flush(out, res)
      spark.stop()
    }
  }

  /** (Re)writes `<out>/result.json`, so a run cut short still leaves
    * what it measured so far. */
  def flush(out: java.nio.file.Path, res: collection.Map[String, Any]): Unit = {
    val tmp = out.resolve("result.json.tmp")
    Files.write(tmp, Json(res).getBytes(UTF_8))
    Files.move(tmp, out.resolve("result.json"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Old-generation occupancy after forced full GCs, in MB. The pause
    * between the two lets Spark's ContextCleaner drop the blocks of
    * datasets the first GC found unreachable. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }
}

class Run(spark: SparkSession, a: Map[String, String],
          out: java.nio.file.Path, res: mutable.LinkedHashMap[String, Any]) {
  import Runner.{liveHeapMb, now}

  private val data = a("data")
  private val names = a("queries").split(",").toSeq
  private val count = a("jobs").toInt
  // wall-clock instant (monotonic seconds) after which no job starts
  private val deadline = now() + a("deadline").toDouble
  private val errors = mutable.LinkedHashMap[String, String]()
  private val perQuery = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()

  /** One pass over the query list. Returns (wall seconds, failed
    * queries). Optional hooks mark the builder and action of each query
    * for the tracer. */
  private def job(tr: Option[Tracer]): (Double, Seq[String]) = {
    val failed = mutable.ArrayBuffer[String]()
    val t0 = now()
    tr.foreach(_.beginJob())
    for (q <- names) {
      val tq = now()
      try {
        tr.foreach(_.begin("construct", q))
        val df = graft.SparkEntry.queries(q)(spark, data)
        tr.foreach(_.begin("action", q))
        df.write.format("noop").mode("overwrite").save()
        tr.foreach(_.end(q))
      } catch {
        case NonFatal(e) =>
          tr.foreach(_.end(q))
          failed += q
          errors.getOrElseUpdate(q, s"${e.getClass.getName}: ${e.getMessage}".take(500))
      }
      perQuery.getOrElseUpdate(q, mutable.ArrayBuffer[Double]()) += now() - tq
    }
    val wall = now() - t0
    tr.foreach(_.endJob())
    (wall, failed.toSeq)
  }

  /** Untimed reset after a timed job: live heap after GC, then drop
    * caches. */
  private def between(): Double = {
    val mb = liveHeapMb()
    spark.catalog.clearCache()
    mb
  }

  /** Untimed reset after an untimed job: drop caches, one full GC. */
  private def reset(): Unit = {
    spark.catalog.clearCache()
    System.gc()
  }

  /** `n` jobs (fewer if the deadline passes), recorded under `res(key)`
    * as they finish. */
  private def window(key: String, n: Int, tr: Option[Tracer], timed: Boolean = true): Unit = {
    val jobs = mutable.ArrayBuffer[Map[String, Any]]()
    res(key) = jobs
    while (jobs.size < n && now() < deadline) {
      val (wall, failed) = job(tr)
      val layers = tr.map(_.jobMetrics()).getOrElse(Map.empty)
      val heap = if (timed) between() else { reset(); 0.0 }
      jobs += Map("s" -> wall, "failed" -> failed, "heap_mb" -> heap, "layers" -> layers)
      Runner.flush(out, res)
    }
  }

  /** Untimed pass that writes every query's answer as parquet for the
    * DuckDB comparison; it is each query's second execution in the JVM,
    * so it also serves as the warm-up before the timed window. */
  private def verifyPass(): Unit = {
    val rows = mutable.LinkedHashMap[String, Long]()
    res("result_rows") = rows
    for (q <- names) {
      val dir = out.resolve("verify").resolve(q).toString
      try {
        graft.SparkEntry.queries(q)(spark, data).write.mode("overwrite").parquet(dir)
        rows(q) = spark.read.parquet(dir).count()
      } catch {
        case NonFatal(e) =>
          errors.getOrElseUpdate(q, s"${e.getClass.getName}: ${e.getMessage}".take(500))
      }
    }
    reset()
  }

  def all(): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    res("oracle") = names.map(q => q -> oracle.getOrElse(q, "")).toMap
    res("errors") = errors
    res("query_s") = perQuery
    val (cold, coldFailed) = job(None)
    res("cold_job_s") = cold
    res("cold_failed") = coldFailed
    reset()
    Runner.flush(out, res)
    verifyPass()
    Runner.flush(out, res)
    window("warmup", a("warmup").toInt, None, timed = false)
    window("jobs", count, None)
    if (a("trace") == "1") {
      val tr = new Tracer(spark, a("cpus").toInt)
      tr.attach()
      try window("traced_jobs", count, Some(tr))
      finally tr.detach()
      Files.write(out.resolve("trace.json"), Json(tr.spans()).getBytes(UTF_8))
    }
  }
}

/** Spans and per-layer counters for the traced window. Spark's public
  * SparkListener and QueryExecutionListener feed it; the client thread
  * marks builder and action boundaries. Spark jobs are attributed to the
  * builder or action that submitted them through a local property, which
  * Spark copies into every job the thread (or its broadcast and subquery
  * helpers) submits. */
class Tracer(spark: SparkSession, cpus: Int) extends AdaptiveSparkPlanHelper {
  import Runner.now

  private val sc = spark.sparkContext
  private val Key = "perfbench.span"
  private val t0Epoch = System.currentTimeMillis() / 1e3 - now()
  private def ts(): Double = t0Epoch + now() // epoch seconds, ns-derived

  case class Span(id: Int, name: String, kind: String, job: Int, parent: Int,
                  start: Double, var end: Double = Double.NaN, site: String = "")
  private val allSpans = mutable.ArrayBuffer[Span]()
  private var jobIdx = -1
  private var jobSpan: Span = _
  private var open: Option[Span] = None
  private var rootSpan: Span = _

  // raw events, appended on the listener-bus thread
  private val jobStarts = new ConcurrentLinkedQueue[SparkListenerJobStart]()
  private val jobEnds = new ConcurrentLinkedQueue[SparkListenerJobEnd]()
  private val stages = new ConcurrentLinkedQueue[StageInfo]()
  private val tasks = new ConcurrentLinkedQueue[SparkListenerTaskEnd]()
  private val plans = new ConcurrentLinkedQueue[SparkPlan]()
  private val planByQuery = mutable.ArrayBuffer[(String, SparkPlan)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.add(e)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.add(e)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.add(e.stageInfo)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.add(e)
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      plans.add(qe.executedPlan)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    rootSpan = newSpan("workload", "workload", -1)
  }
  def detach(): Unit = {
    rootSpan.end = ts()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  private def newSpan(name: String, kind: String, parent: Int): Span = {
    val s = Span(allSpans.size, name, kind, jobIdx, parent, ts())
    allSpans += s
    s
  }

  def beginJob(): Unit = {
    jobIdx += 1
    jobSpan = newSpan(s"job-$jobIdx", "job", rootSpan.id)
  }
  def begin(phase: String, q: String): Unit = {
    open.foreach(_.end = ts())
    val s = newSpan(s"$phase:$q", phase, jobSpan.id)
    open = Some(s)
    sc.setLocalProperty(Key, s.id.toString)
  }
  def end(q: String): Unit = {
    open.foreach(_.end = ts())
    open = None
    sc.setLocalProperty(Key, null)
    // drain so every event of this query has arrived before the next
    // query starts: plan metrics are attributed by arrival order
    Bus.drain(sc)
    drainQ(plans).foreach(p => planByQuery += (q -> p))
  }
  def endJob(): Unit = jobSpan.end = ts()

  private def drainQ[T](q: ConcurrentLinkedQueue[T]): Seq[T] = {
    val b = mutable.ArrayBuffer[T]()
    var x = q.poll()
    while (x != null) { b += x; x = q.poll() }
    b.toSeq
  }

  private def metric(p: SparkPlan, name: String): Double =
    p.metrics.get(name).map { m =>
      m.metricType match {
        case "timing" => m.value / 1e3
        case "nsTiming" => m.value / 1e9
        case _ => m.value.toDouble
      }
    }.getOrElse(0.0)

  /** The first descendant that is a real operator (skips codegen glue). */
  private def below(p: SparkPlan): Option[SparkPlan] =
    allChildren(p).headOption.flatMap {
      case c @ (_: WholeStageCodegenExec | _: InputAdapter | _: ColumnarToRowExec |
                _: ProjectExec) => below(c).orElse(Some(c))
      case c => Some(c)
    }

  /** Every node of an executed plan, through AQE stages and subqueries;
    * reused exchanges are skipped so no metric counts twice. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val b = mutable.ArrayBuffer[SparkPlan]()
    def go(n: SparkPlan): Unit = n match {
      case _: ReusedExchangeExec => ()
      case _ =>
        b += n
        (allChildren(n) ++ n.subqueries).foreach(go)
    }
    go(p)
    b.toSeq
  }

  private def isScan(p: SparkPlan): Boolean =
    p.isInstanceOf[FileSourceScanExec] || p.isInstanceOf[BatchScanExec]

  /** Whether only row-local operators (filters, projections, codegen
    * glue) separate `p` from a table scan. */
  private def overScan(p: SparkPlan): Boolean = allChildren(p) match {
    case Seq(c) if isScan(c) => true
    case Seq(c @ (_: WholeStageCodegenExec | _: InputAdapter | _: ColumnarToRowExec |
                  _: ProjectExec | _: FilterExec)) => overScan(c)
    case _ => false
  }

  private def isWordAgg(p: BaseAggregateExec): Boolean =
    p.groupingExpressions.map(_.references.map(_.name).toSeq).flatten == Seq("word")

  private def modes(p: BaseAggregateExec) = p.aggregateExpressions.map(_.mode).toSet

  /** Per-layer counters of the job that just ended. */
  def jobMetrics(): Map[String, Double] = {
    Bus.drain(sc)
    val js = drainQ(jobStarts); val je = drainQ(jobEnds).map(e => e.jobId -> e.time).toMap
    val st = drainQ(stages); val tk = drainQ(tasks)
    val pl = planByQuery.toSeq; planByQuery.clear()
    val m = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = m(k) = m(k) + v

    val spanById = allSpans.map(s => s.id -> s).toMap
    val done = st.map(s => s.stageId -> s).toMap // completed stages
    val stageJob = mutable.Map[Int, Int]()
    val jobPhase = mutable.Map[Int, String]()
    for (j <- js) {
      val parent = Option(j.properties).flatMap(p => Option(p.getProperty(Key)))
        .flatMap(_.toIntOption).flatMap(spanById.get)
      val phase = parent.map(_.kind).getOrElse("other")
      jobPhase(j.jobId) = phase
      j.stageIds.foreach(s => stageJob(s) = j.jobId)
      // call site: the innermost frames of the code that submitted the job
      val site = j.stageInfos.headOption.map(_.details).getOrElse("")
      val sj = Span(allSpans.size, s"spark-job-${j.jobId}", "spark_job", jobIdx,
        parent.map(_.id).getOrElse(jobSpan.id), j.time / 1e3,
        je.get(j.jobId).map(_ / 1e3).getOrElse(j.time / 1e3),
        site.linesIterator.take(3).mkString(" <- "))
      allSpans += sj
      val ran = j.stageIds.flatMap(done.get)
      for (si <- ran)
        allSpans += Span(allSpans.size, s"stage-${si.stageId}", "stage", jobIdx, sj.id,
          si.submissionTime.getOrElse(j.time) / 1e3,
          si.completionTime.getOrElse(j.time) / 1e3)
      if (phase == "construct") {
        val cls =
          if (site.contains("graft.operators.Ckpt")) "ckpt"
          else if (site.contains("graft.queries.package$.table") ||
                   site.contains("graft.queries.package$.wideTable")) "schema"
          else "other"
        add("construct.jobs", 1)
        add(s"construct.jobs.$cls", 1)
        add("construct.tasks", ran.map(_.numTasks).sum.toDouble)
      } else {
        add("exec.jobs", 1)
        add("exec.stages", ran.size.toDouble)
        add("exec.stages_skipped", (j.stageIds.size - ran.size).toDouble)
      }
    }
    // task metrics over every Spark job of this pass
    val scanStages = st.filter(_.rddInfos.exists(_.name.contains("FileScanRDD")))
      .map(_.stageId).toSet
    var actionRun = 0.0
    for (t <- tk; tm = t.taskMetrics; if tm != null) {
      val run = tm.executorRunTime / 1e3
      add("task.run_s", run)
      add("task.cpu_s", tm.executorCpuTime / 1e9)
      add("task.gc_s", tm.jvmGCTime / 1e3)
      val dur = t.taskInfo.duration
      add("task.sched_delay_s", math.max(0L, dur - tm.executorRunTime -
        tm.executorDeserializeTime - tm.resultSerializationTime -
        t.taskInfo.gettingResultTime) / 1e3)
      add("shuffle.fetch_wait_s", tm.shuffleReadMetrics.fetchWaitTime / 1e3)
      add("shuffle.write_mb", tm.shuffleWriteMetrics.bytesWritten / 1048576.0)
      add("shuffle.read_mb", tm.shuffleReadMetrics.totalBytesRead / 1048576.0)
      add("shuffle.records", tm.shuffleWriteMetrics.recordsWritten.toDouble)
      add("spill.mb", tm.diskBytesSpilled / 1048576.0)
      m("exec.peak_mem_mb") = math.max(m("exec.peak_mem_mb"), tm.peakExecutionMemory / 1048576.0)
      val phase = stageJob.get(t.stageId).flatMap(jobPhase.get).getOrElse("other")
      if (phase == "action") { add("exec.tasks", 1); actionRun += run }
      if (scanStages.contains(t.stageId)) {
        add("scan.tasks", 1)
        add("scan.records", tm.inputMetrics.recordsRead.toDouble)
      }
    }
    // skew of the longest stage: max task time / median task time
    val byStage = tk.groupBy(_.stageId)
    val longest = st.maxByOption(s =>
      s.completionTime.getOrElse(0L) - s.submissionTime.getOrElse(0L))
    longest.flatMap(s => byStage.get(s.stageId)).foreach { ts =>
      val d = ts.map(_.taskInfo.duration.toDouble).sorted
      m("exec.task_skew") = d.last / math.max(1.0, d(d.size / 2))
    }
    // builder / action wall, from the spans of this job
    val mine = allSpans.filter(s => s.job == jobIdx)
    m("construct.s") = mine.filter(_.kind == "construct").map(s => s.end - s.start).sum
    m("exec.s") = mine.filter(_.kind == "action").map(s => s.end - s.start).sum
    m("exec.slot_util") = actionRun / math.max(1e-9, m("exec.s") * cpus)
    // physical operators' SQL metrics
    // (the word-count phases are read from the reference pipeline's
    // queries only: map = tokenize + keep filter, combine = the partial
    // count, reduce = the final count, then the top-K selection)
    for ((q, plan) <- pl; wc = q.startsWith("q_topk"); n <- nodes(plan)) n match {
      case agg: BaseAggregateExec =>
        add("op.agg_s", metric(agg, "aggTime"))
        add("op.spill_mb", metric(agg, "spillSize") / 1048576.0)
        if (wc && isWordAgg(agg) && modes(agg) == Set(Partial)) {
          add("wc.combine.rows_out", metric(agg, "numOutputRows"))
          add("wc.combine.rows_in", below(agg).map(metric(_, "numOutputRows")).getOrElse(0.0))
        } else if (wc && isWordAgg(agg) && modes(agg) == Set(Final)) {
          add("wc.reduce.agg_s", metric(agg, "aggTime"))
        } else if (wc) {
          add("wc.sort_topk.s", metric(agg, "aggTime"))
        }
      case s: SortExec =>
        add("op.sort_s", metric(s, "sortTime"))
        add("op.spill_mb", metric(s, "spillSize") / 1048576.0)
        if (wc) add("wc.sort_topk.s", metric(s, "sortTime"))
      case g: GenerateExec =>
        add("op.generate.rows_out", metric(g, "numOutputRows"))
      case f: FilterExec if wc && below(f).exists(_.isInstanceOf[GenerateExec]) =>
        add("wc.map.rows_out", metric(f, "numOutputRows"))
      case j: BaseJoinExec =>
        add("op.join.rows_out", metric(j, "numOutputRows"))
      case e: ShuffleExchangeExec if overScan(e) =>
        add("scan.widened", 1)
      // task input metrics miss bytes read on Hadoop's vectored-IO
      // threads, so the scan size comes from the scan node instead
      case f: FileSourceScanExec =>
        add("scan.input_mb", metric(f, "filesSize") / 1048576.0)
      case _ => ()
    }
    if (m("wc.combine.rows_out") > 0)
      m("wc.combine_ratio") = m("wc.combine.rows_in") / m("wc.combine.rows_out")
    // materialized blocks still held when the pass ends
    val storage = sc.getRDDStorageInfo
    m("ckpt.cached_mb") = storage.map(i => i.memSize + i.diskSize).sum / 1048576.0
    m("ckpt.blocks") = storage.map(_.numCachedPartitions).sum.toDouble
    m.toMap
  }

  def spans(): Seq[Map[String, Any]] = allSpans.toSeq.map { s =>
    Map("id" -> s.id, "name" -> s.name, "kind" -> s.kind, "trace" -> s.job,
      "parent" -> s.parent, "start" -> s.start, "end" -> s.end, "site" -> s.site)
  }
}

/** Minimal JSON writer for maps, sequences, strings and numbers. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case x => apply(x.toString)
  }
}
