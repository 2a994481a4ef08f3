package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-audit artifact: per catalog query, counts of the physical-plan
  * features the SCALE.md shuffle inventory makes claims about —
  * Exchanges (shuffles), broadcast vs sort-merge vs nested-loop joins,
  * cartesian fallbacks, whole-stage-codegen spans — emitted as one JSON
  * file so the inventory is machine-checkable instead of prose-only.
  *
  *   sbt "runMain graft.PlanAudit [sfDir] [outPath] [names...]"
  *
  * Formatted mode prints each node once in the numbered tree; counting
  * `(n) NodeName` lines keeps duplicates out. Codegen spans are counted
  * as DISTINCT `codegen id : k` annotations per plan (formatted mode has
  * no WholeStageCodegen node line; each fused span carries one id).
  *
  * EVERY query is audited BY EXECUTION (round-11; previously only the
  * side-effecting set was): the returned frame is driven through a noop
  * write and a QueryExecutionListener captures the formatted plan of
  * every completed execution — the final noop-write plan, construction-
  * time checkpoint rounds of graph loops and Ranks riders, temp-table
  * writes, and foreachBatch micro-batches alike. Executed plans are the
  * only ones that carry `codegen id` annotations under AQE (the
  * pre-execution AdaptiveSparkPlan prints none) and reflect AQE's real
  * join selections, so the counts are runtime-true: a cartesian hiding
  * in a checkpoint round or a join degrading at runtime surfaces here.
  * `audited_executions` records how many captured executions each query
  * contributed. Pure streaming incremental executions do not fire the
  * listener; those queries' sink plans all route through foreachBatch
  * batch writes, which do.
  *
  * BroadcastNestedLoopJoin is reported as its own `bnlj` field, NOT
  * folded into `broadcast_joins` (round-11): the legitimate BNLJs in the
  * catalog are 1-row scalar-carrier crossings, and an equi-join that
  * silently degrades to a nested loop must surface as an audit diff
  * (PlanSpec pins the flagship families at bnlj = 0).
  */
object PlanAudit {

  /** An EXECUTED AdaptiveSparkPlan's formatted explain prints the final
    * tree AND the initial tree, and the node-details section numbers the
    * nodes of both — so naive `(n) NodeName` counting doubles every
    * count. This keeps only detail entries whose node id appears in the
    * FINAL tree (everything before the `== Initial Plan ==` marker);
    * non-adaptive plans pass through untouched. Shared with PlanSpec so
    * the CI pins and the audit artifact count identically. */
  def finalPlanOnly(p: String): String = {
    val init = p.indexOf("== Initial Plan ==")
    if (init < 0) p
    else {
      val finalIds = "\\((\\d+)\\)".r
        .findAllMatchIn(p.substring(0, init)).map(_.group(1)).toSet
      val pruned = p.linesIterator.filter { line =>
        "^\\((\\d+)\\) ".r.findFirstMatchIn(line) match {
          case Some(m) => finalIds(m.group(1))
          case None => true
        }
      }.mkString("\n")
      // Guard (round-11 ADVICE): the pruning assumes ExplainUtils numbers
      // the final and initial trees with ONE counter, so detail ids are
      // plan-unique. A future Spark restarting numbering per tree would
      // make the initial tree's details survive the prune under reused
      // ids and silently double every count — fail loudly instead.
      val detailIds = "(?m)^\\((\\d+)\\) ".r
        .findAllMatchIn(pruned).map(_.group(1)).toSeq
      require(detailIds.size == detailIds.distinct.size,
        "formatted-explain node ids collide across final/initial trees — " +
          "the finalPlanOnly pruning (and every count built on it) is " +
          "unsound on this Spark version")
      pruned
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(s"${PathRoot.TestData}/sf0.001")
    val outPath = if (args.length > 1) args(1)
                  else s"${PathRoot.Target}/plan_audit.json"
    val only = args.drop(2).toSet
    val spark = Sessions.build(cpus = "4", logLevel = "ERROR")
    def nodeCount(p: String, name: String): Int =
      s"\\(\\d+\\) $name".r.findAllIn(p).length
    def codegenSpans(p: String): Int =
      "codegen id : (\\d+)".r.findAllMatchIn(p).map(_.group(1)).toSet.size
    def counts(plans: Seq[String], executed: Int, unboundedWin: Int)
        : Map[String, Int] = Map(
      "exchanges" -> plans.map(nodeCount(_, "Exchange")).sum,
      "broadcast_joins" -> plans.map(nodeCount(_, "BroadcastHashJoin")).sum,
      "bnlj" -> plans.map(nodeCount(_, "BroadcastNestedLoopJoin")).sum,
      "sortmerge_joins" -> plans.map(nodeCount(_, "SortMergeJoin")).sum,
      "shuffled_hash_joins" -> plans.map(nodeCount(_, "ShuffledHashJoin")).sum,
      "cartesian" -> plans.map(nodeCount(_, "CartesianProduct")).sum,
      "windows" -> plans.map(nodeCount(_, "Window")).sum,
      // global windows with no limit-class operator below them (the one
      // window shape that serializes a corpus into ONE task at 100 TB) —
      // structural walk of the executed physical plan, round-11 task 5.
      // Non-zero values are the adjudicated aggregation-bounded
      // decile/cohort frames; PlanSpec pins the flagship families at 0,
      // and this artifact carries the catalog-wide census per round.
      "global_windows_unbounded" -> unboundedWin,
      "codegen_spans" -> plans.map(codegenSpans).sum,
      "audited_executions" -> executed)
    // capture listener: explain strings of every completed execution.
    // The listener bus is async — drained via waitUntilEmpty before read.
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capturedWin = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var capturing = false
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        if (capturing) {
          captured.add(
            qe.explainString(org.apache.spark.sql.execution.FormattedMode))
          // structural (non-textual) walk — the partition spec of a
          // Window node is not reliably parseable out of formatted text
          capturedWin.addAndGet(org.apache.spark.sql.graft.GraftSqlShim
            .unboundedGlobalWindows(qe.executedPlan))
        }
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val rows = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only(n))
      .flatMap { name =>
        try {
          captured.clear()
          capturedWin.set(0)
          capturing = true
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          // drain the async listener bus so every captured plan is in
          org.apache.spark.sql.graft.GraftSqlShim.drainListenerBus(spark)
          capturing = false
          spark.catalog.clearCache()
          val plans = captured.toArray(Array.empty[String]).toSeq
            .map(finalPlanOnly)
          Some(name -> counts(plans, plans.size, capturedWin.get()))
        } catch { case e: Throwable =>
          capturing = false
          System.err.println(s"[audit] $name failed: ${e.getMessage}")
          None
        }
      }
    val json = rows.map { case (n, m) =>
      s""""$n": {${m.map { case (k, v) => s""""$k": $v""" }.mkString(", ")}}"""
    }.mkString("{\n", ",\n", "\n}")
    Files.createDirectories(Paths.get(outPath).getParent)
    Files.writeString(Paths.get(outPath), json)
    val totEx = rows.map(_._2("exchanges")).sum
    val nCart = rows.count(_._2("cartesian") > 0)
    val nCg = rows.count(_._2("codegen_spans") > 0)
    val nWin = rows.count(_._2("global_windows_unbounded") > 0)
    println(s"PLAN_AUDIT queries=${rows.size} total_exchanges=$totEx " +
      s"cartesian_queries=$nCart codegen_queries=$nCg " +
      s"unbounded_global_window_queries=$nWin -> $outPath")
    spark.stop()
  }
}
