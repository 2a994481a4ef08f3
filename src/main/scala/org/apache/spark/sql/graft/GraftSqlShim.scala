package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Bridge into `private[sql] Dataset.ofRows` — the standard technique for
  * extension libraries that materialize a DataFrame from a custom
  * LogicalPlan (the public API offers no constructor for third-party
  * logical nodes; session extensions only INJECT rules/strategies). */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A native catalyst expression over Columns (`private[sql]`
    * `ExpressionUtils`): how the Column API reaches graft's expressions
    * without going through a registered function name. */
  def applyExpr(args: Column*)(f: Seq[Expression] => Expression): Column =
    classic.ExpressionUtils.column(f(args.map(classic.ExpressionUtils.expression)))

  /** `localCheckpoint` that TRUNCATES STATISTICS along with lineage.
    *
    * `Dataset.localCheckpoint` copies the originating plan's ESTIMATED
    * `Statistics` onto the `LogicalRDD` it returns (`originStats`,
    * `LogicalRDD.fromDataset`). In an iterative algorithm whose round
    * plan self-joins the previous round's checkpoint (pointer-doubling
    * connected components, label-of-label joins), the size-only estimator
    * multiplies children sizes at every Join, so the carried `sizeInBytes`
    * SQUARES per round: by round ~18 it is a BigInt with millions of
    * digits and `SizeInBytesOnlyStatsPlanVisitor` spends hours inside
    * `BigInteger.multiply` — the driver hangs in planning, not execution
    * (observed live on q_dbscan at sf0.01, jstack in SCALE.md).
    *
    * This wrapper checkpoints eagerly, then rebuilds the `LogicalRDD`
    * with stats MEASURED from the block manager (the blocks were just
    * materialized, so the sizes are real, and reading them is free — no
    * extra job). Estimates stop compounding across rounds, and downstream
    * joins see actual sizes, which is strictly better for broadcast
    * decisions than a round-N estimate. */
  def localCheckpointMeasured(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.Statistics
    import org.apache.spark.sql.execution.LogicalRDD
    val cds = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
    val spark = cds.sparkSession
    val ck = cds.localCheckpoint() // eager: blocks exist before we measure
    ck.queryExecution.analyzed.collectFirst { case lr: LogicalRDD => lr } match {
      case Some(lr) =>
        val measured = spark.sparkContext.getRDDStorageInfo
          .find(_.id == lr.rdd.id).map(i => i.memSize + i.diskSize)
          .filter(_ > 0L)
        // fallback (blocks evicted already / info lag): schema width, not
        // the child plan's estimate — never re-import the compounded stats
        val size = measured.getOrElse(
          math.max(1L, cds.schema.map(_.dataType.defaultSize).sum.toLong * 1000L))
        val fresh = LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
          lr.outputOrdering, lr.isStreaming, lr.stream)(
          spark, Some(Statistics(sizeInBytes = BigInt(size))), None)
        classic.Dataset.ofRows(spark, fresh)
      case None => ck
    }
  }

  /** The schema `spark.read.parquet` infers for one parquet file, taken
    * from that file's already-read `footer` instead of a schema-inference
    * Spark job: Spark's own `readSchemaFromFooter` (the Spark schema the
    * writer stored, else the parquet schema converted) under the
    * session's parquet confs (`nanosAsLong`, binary-as-string, INT96,
    * timestamp-NTZ inference), read on every call. `None` when the session
    * merges parquet schemas, where inference reads every file. */
  def parquetFooterSchema(spark: SparkSession,
                          footer: org.apache.parquet.hadoop.Footer)
      : Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
    val conf = spark.asInstanceOf[classic.SparkSession].sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) None
    else Some(ParquetFileFormat.readSchemaFromFooter(footer, new ParquetToSparkSchemaConverter(conf)))
  }

  /** Drain the async listener bus so a QueryExecutionListener registered
    * by the caller has seen every completed execution (the bus delivers
    * on its own thread; `waitUntilEmpty` is private[spark]). Used by
    * PlanAudit's side-effecting-query capture. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(30000L)

  /** Count of GLOBAL (empty partition spec) window operators whose input
    * subtree contains no limit-class operator — the one window shape
    * that is a 100 TB scale-killer (every corpus row into ONE task's
    * sort). The catalog's ~93 window-bearing plans are safe only by the
    * convention that every global window runs over a `.limit(k)` head or
    * a bounded decile/cohort frame; this makes the convention
    * machine-checkable (round-11 verdict task 5): PlanAudit records the
    * count per query and PlanSpec pins the flagship families at 0, so a
    * future corpus-scale global window fails CI instead of becoming a
    * silent scale regression. Counted on the EXECUTED physical plan —
    * descends through adaptive wrappers, query stages, reused exchanges
    * and cached-relation plans (lazily persisted subtrees are where
    * iterative operators hide their windows).
    *
    * NOTE the "bounded decile/cohort frame" half of the convention is
    * aggregation-bounded, not limit-bounded — those windows DO count
    * here and are pinned at their adjudicated values in the audit
    * artifact; the CI bar is that pinned values never grow. */
  def unboundedGlobalWindows(plan: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case im: InMemoryTableScanExec => Seq(im.relation.cachedPlan)
      case other => other.children
    }
    // limit-class: bounds the row count flowing into the window sort.
    // WindowGroupLimitExec qualifies — for a global window it caps the
    // single partition at the rank limit before the sort.
    def boundedBelow(p: SparkPlan): Boolean = p match {
      case _: GlobalLimitExec | _: LocalLimitExec |
           _: TakeOrderedAndProjectExec | _: CollectLimitExec |
           _: WindowGroupLimitExec => true
      case other => kids(other).exists(boundedBelow)
    }
    def walk(p: SparkPlan): Int = {
      val self = p match {
        case w: WindowExec if w.partitionSpec.isEmpty =>
          if (kids(w).exists(boundedBelow)) 0 else 1
        case _ => 0
      }
      self + kids(p).map(walk).sum
    }
    walk(plan)
  }

  /** private[sql] NormalizeFloatingNumbers.normalize: -0.0 → 0.0 and NaN
    * canonicalization, the same treatment Spark's own Aggregate/Window/
    * Join keys get — needed by custom grouping operators (TopKPerKeyExec)
    * for float-key group identity. */
  def normalizeFloat(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** Wrapper over private[spark] ExternalSorter (whose TYPE cannot leak
    * into graft packages) bound to the CURRENT task's memory manager: it
    * acquires execution memory through the task context and spills to
    * disk under pressure — the same machinery HashAggregateExec falls
    * back on. Used by TopKPerKeyExec's high-key-cardinality fallback.
    * Spill files are released by the task-completion listener registered
    * at construction. */
  final class SpillableKVSorter(
      ord: Ordering[org.apache.spark.sql.catalyst.expressions.UnsafeRow]) {
    private type UR = org.apache.spark.sql.catalyst.expressions.UnsafeRow
    private val sorter = new org.apache.spark.util.collection.ExternalSorter[UR, UR, UR](
      org.apache.spark.TaskContext.get(), None, None, Some(ord),
      org.apache.spark.SparkEnv.get.serializer)
    org.apache.spark.TaskContext.get()
      .addTaskCompletionListener[Unit](_ => sorter.stop())
    /** Caller passes OWNED (copied) rows. */
    def insert(key: UR, value: UR): Unit = sorter.insertAll(Iterator((key, value)))
    /** Grouped-sorted by `ord`; consumable once. */
    def iterator: Iterator[(UR, UR)] = sorter.iterator.map(p => (p._1, p._2))
  }
}
