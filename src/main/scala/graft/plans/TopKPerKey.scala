package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** Whole-operator extension tier (SURVEY.md §7: custom `LogicalPlan` +
  * `SparkStrategy` + `SparkPlan`): group-wise top-K as a native physical
  * operator.
  *
  * Spark's built-in spelling — `row_number().over(Window.partitionBy(key)
  * .orderBy(ord)) <= k` — SORTS every group in full: O(n log n) per group
  * and the whole group materialized per task. This operator keeps a bounded
  * heap of k rows per key, and plans as TWO stages around one Exchange —
  * a map-side partial prune (top-k of a union is the top-k of per-partition
  * top-k's, so each map partition forwards ≤ k rows per key) and a final
  * per-key prune after the shuffle. Memory is O(keys·k) per task and the
  * shuffle carries ≤ k rows per key per map partition — the same shape that
  * makes partial aggregation scale, applied to selection. UnsafeRow in,
  * UnsafeRow out, no encoder boxing, usable from any DataFrame
  * (`operators.TopK.perKey`; the word count's top-K per reducer runs on it).
  */
case class TopKPerKey(keys: Seq[Expression], ordering: Seq[SortOrder],
                      k: Int, child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  // keys are Expressions (not Attributes) so the node can be built from
  // UNRESOLVED attributes by the SQL front door (GraftSqlParser) and let
  // the analyzer's generic ResolveReferences bind them against child
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

/** Physical node. `partial = true` runs before the Exchange with no
  * distribution requirement (pure map-side pruning); the final node
  * requires clustering on `keys`, which EnsureRequirements satisfies with
  * one hash Exchange — exactly the partial/final HashAggregate shape.
  *
  * `maxKeysInMemory` is the in-memory heap-map key budget per task. The
  * heap map is O(keys·k); past this many distinct keys, NEW keys fall back
  * to a spillable external sort (see doExecute) instead of growing the map
  * — the same degrade-to-sort contract HashAggregateExec honors. It is a
  * constant, not a setting; specs pass a small one to force the fallback. */
case class TopKPerKeyExec(keys: Seq[Expression], ordering: Seq[SortOrder],
                          k: Int, partial: Boolean, child: SparkPlan,
                          maxKeysInMemory: Int = TopKPerKeyExec.MaxKeysInMemory)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning

  // rows kept by this stage: after the partial stage, what the exchange
  // carries; after the final stage, the answer
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  // Float keys must group -0.0 with 0.0 and all NaN bit patterns together
  // (the semantics Window/Aggregate get from the NormalizeFloatingNumbers
  // rule, which doesn't know this node): normalize both the shuffle keys
  // (co-location) and the per-partition grouping projection (co-grouping).
  private def normalizedKeys: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
    keys.map(org.apache.spark.sql.graft.GraftSqlShim.normalizeFloat)

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    else Seq(ClusteredDistribution(normalizedKeys))

  override protected def doExecute(): RDD[InternalRow] = {
    val (ks, so, out, kk) = (normalizedKeys, ordering, child.output, k)
    val maxKeys = maxKeysInMemory
    val numOutputRows = longMetric("numOutputRows")
    child.execute().mapPartitions({ iter =>
      // codegen'd projections/orderings are created per partition — they
      // are not serializable, only their expression trees are
      val keyProj = UnsafeProjection.create(ks, out)
      val rowProj = UnsafeProjection.create(out, out)
      val ord = RowOrdering.create(so, out).asInstanceOf[Ordering[InternalRow]]
      val rowOrd = ord.asInstanceOf[Ordering[UnsafeRow]]
      // max-heap by sort order: top = worst retained row, evicted first
      val heaps = new java.util.HashMap[UnsafeRow, scala.collection.mutable.PriorityQueue[UnsafeRow]]()
      // Spill fallback: keys arriving after the map hits its budget are
      // routed WHOLE (a key is either hash-managed or sort-managed, never
      // both) to a task-memory-managed ExternalSorter ordered by key
      // bytes; at drain time each sorted key group is top-k'd with one
      // bounded heap at a time. Memory: O(maxKeys·k) map + O(k) group
      // heap + the sorter's own spill-to-disk discipline.
      var sorter: org.apache.spark.sql.graft.GraftSqlShim.SpillableKVSorter = null
      // any total order with bytes-equal ⇒ equal works for grouping:
      // UnsafeProjection output is canonical (zeroed padding, normalized
      // floats upstream), so equal key VALUES have equal bytes
      lazy val keyByteOrd: Ordering[UnsafeRow] = new Ordering[UnsafeRow] {
        override def compare(a: UnsafeRow, b: UnsafeRow): Int = {
          val (ab, bb) = (a.getBytes, b.getBytes)
          if (ab.length != bb.length) return ab.length - bb.length
          java.util.Arrays.compareUnsigned(ab, bb)
        }
      }
      while (iter.hasNext) {
        val row = iter.next()
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null && heaps.size() >= maxKeys) {
          if (sorter == null)
            sorter = new org.apache.spark.sql.graft.GraftSqlShim.SpillableKVSorter(keyByteOrd)
          sorter.insert(key.copy(), rowProj(row).copy())
        } else {
          if (heap == null) {
            heap = scala.collection.mutable.PriorityQueue.empty[UnsafeRow](rowOrd)
            heaps.put(key.copy(), heap)
          }
          if (heap.size < kk) heap.enqueue(rowProj(row).copy())
          else if (ord.compare(row, heap.head) < 0) {
            heap.dequeue()
            heap.enqueue(rowProj(row).copy())
          }
        }
      }
      import scala.jdk.CollectionConverters._
      val inMem = heaps.values().iterator().asScala.flatMap(_.iterator)
      val spilled: Iterator[UnsafeRow] =
        if (sorter == null) Iterator.empty
        else {
          val sorted = sorter.iterator.buffered
          new Iterator[UnsafeRow] {
            private var pending: Iterator[UnsafeRow] = Iterator.empty
            override def hasNext: Boolean = pending.hasNext || sorted.hasNext
            override def next(): UnsafeRow = {
              if (!pending.hasNext) {
                val groupKey = sorted.head._1 // already a copy (post-sort)
                val heap = scala.collection.mutable.PriorityQueue.empty[UnsafeRow](rowOrd)
                while (sorted.hasNext && sorted.head._1 == groupKey) {
                  val r = sorted.next()._2
                  if (heap.size < kk) heap.enqueue(r)
                  else if (rowOrd.compare(r, heap.head) < 0) {
                    heap.dequeue(); heap.enqueue(r)
                  }
                }
                pending = heap.iterator
              }
              pending.next()
            }
          }
        }
      (inMem ++ spilled).map { r => numOutputRows += 1; r }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopKPerKeyExec {
  /** Per-task in-memory key budget: 4M keys. */
  val MaxKeysInMemory: Int = 1 << 22
}

/** Plans the logical node as partial → (Exchange via EnsureRequirements)
  * → final. Injected by `GraftExtensions`, and on any other session by
  * `operators.TopK.perKey` (`spark.experimental.extraStrategies`). */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, ordering, k, child) =>
      val mapSide = TopKPerKeyExec(keys, ordering, k, partial = true, planLater(child))
      TopKPerKeyExec(keys, ordering, k, partial = false, mapSide) :: Nil
    case _ => Nil
  }
}
