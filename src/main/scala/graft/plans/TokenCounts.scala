package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, BindReferences, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** The word count's map and combine phases as one per-task operator
  * ("in-mapper combining"): `(word, cnt)` for every kept token of `text`
  * ([[TokenKernel]]), counted per task before the shuffle. Several rows
  * per word can come out of one task (see [[TokenCountsExec]]), so a
  * `sum(cnt)` grouped by `word` downstream gives the exact counts;
  * `Tokenize.wordCount` is that plan. */
case class TokenCounts(text: Expression, output: Seq[Attribute], child: LogicalPlan)
    extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildInternal(newChild: LogicalPlan): TokenCounts =
    copy(child = newChild)
}

object TokenCounts {
  /** The node with fresh `word STRING NOT NULL` and `cnt BIGINT NOT NULL`
    * output attributes. */
  def apply(text: Expression, child: LogicalPlan): TokenCounts =
    TokenCounts(text, Seq(
      AttributeReference("word", StringType, nullable = false)(),
      AttributeReference("cnt", LongType, nullable = false)()), child)
}

/** Physical node. Per task it feeds each row's text through
  * `TokenKernel.foreachKept` and counts the tokens in an open-addressing
  * table keyed by their exact bytes (counting is case-sensitive). A token's
  * bytes are hashed straight from the text buffer and copied only when the
  * token first enters the table. Null text has no tokens.
  *
  * Memory is bounded by `budgetBytes` (token bytes plus per-entry
  * overhead): when the table reaches it after a row, the table is emitted
  * as partial rows and cleared, so a task holds at most about twice the
  * budget (array doubling) plus one row's tokens, whatever its vocabulary.
  * The budget is a constant, not a setting; specs pass a small one to force
  * flushes. */
case class TokenCountsExec(text: Expression, output: Seq[Attribute], child: SparkPlan,
                           budgetBytes: Long = TokenCountsExec.BudgetBytes)
    extends UnaryExecNode {

  override def producedAttributes: AttributeSet = AttributeSet(output)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numInputRows" -> SQLMetrics.createMetric(sparkContext, "number of input rows"),
    "numKeptTokens" -> SQLMetrics.createMetric(sparkContext, "number of kept tokens"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numFlushes" -> SQLMetrics.createMetric(sparkContext, "number of budget flushes"),
    "scanTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "time in token scan"))

  override protected def doExecute(): RDD[InternalRow] = {
    val bound = BindReferences.bindReference(text, child.output)
    val budget = budgetBytes
    val m = metrics
    child.execute().mapPartitions(rows => new TokenCountsExec.Counter(
      rows, bound, budget, m("numInputRows"), m("numKeptTokens"),
      m("numOutputRows"), m("numFlushes"), m("scanTime")))
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TokenCountsExec =
    copy(child = newChild)
}

object TokenCountsExec {
  /** Per-task table budget: 16 MiB of token bytes and entries. */
  final val BudgetBytes: Long = 16L << 20

  /** Heap bytes one entry costs besides its arena record: two slots at
    * the table's maximum load of 1/2. */
  private final val SlotBytes = 2 * 8

  private final val InitialSlots = 1 << 13

  /** Arena record header: the count (8 bytes), then the token length (4). */
  private final val Header = 12

  /** One task's table: rows in, `(word, cnt)` rows out. Each distinct
    * token is one 8-byte-aligned record in `arena` — count, length, bytes —
    * in insertion order. `slots` is a linear-probing index over the
    * records: hash << 32 | (record offset + 1), 0 = empty, so a probe reads
    * one slot and, on a hash match, one record. */
  private final class Counter(
      rows: Iterator[InternalRow], text: Expression, budget: Long,
      inputRows: SQLMetric, keptTokens: SQLMetric, outputRows: SQLMetric,
      flushes: SQLMetric, scanTime: SQLMetric)
      extends Iterator[InternalRow] with TokenKernel.Sink {

    private var slots = new Array[Long](InitialSlots)
    private var arena = new Array[Byte](16 * InitialSlots)
    private var arenaUsed = 0
    private var entries = 0
    private var emitAt = 0
    private val writer = new UnsafeRowWriter(2, 32)

    override def token(base: AnyRef, offset: Long, numBytes: Int): Unit = {
      val h = Murmur3_x86_32.hashUnsafeBytes2(base, offset, numBytes, 42)
      val mask = slots.length - 1
      var s = h & mask
      var slot = slots(s)
      while (slot != 0) {
        if ((slot >>> 32).toInt == h) {
          val at = Platform.BYTE_ARRAY_OFFSET + slot.toInt - 1L
          if (Platform.getInt(arena, at + 8) == numBytes &&
              ByteArrayMethods.arrayEquals(arena, at + Header, base, offset, numBytes)) {
            Platform.putLong(arena, at, Platform.getLong(arena, at) + 1)
            return
          }
        }
        s = (s + 1) & mask
        slot = slots(s)
      }
      insert(s, h, base, offset, numBytes)
    }

    private def insert(slot: Int, h: Int, base: AnyRef, offset: Long, numBytes: Int): Unit = {
      val size = (Header + numBytes + 7) & ~7
      if (arenaUsed.toLong + size > arena.length) {
        val cap = math.max(arena.length.toLong * 2, arenaUsed.toLong + size)
        require(cap <= ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH,
          s"token table arena would exceed ${ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH} bytes")
        arena = java.util.Arrays.copyOf(arena, cap.toInt)
      }
      val at = Platform.BYTE_ARRAY_OFFSET + arenaUsed.toLong
      Platform.putLong(arena, at, 1L)
      Platform.putInt(arena, at + 8, numBytes)
      Platform.copyMemory(base, offset, arena, at + Header, numBytes)
      slots(slot) = (h.toLong << 32) | (arenaUsed + 1)
      arenaUsed += size
      entries += 1
      if (2 * entries > slots.length) grow()
    }

    /** Doubles the slot table, re-placing every slot by its stored hash. */
    private def grow(): Unit = {
      val old = slots
      slots = new Array[Long](2 * old.length)
      val mask = slots.length - 1
      var i = 0
      while (i < old.length) {
        val slot = old(i)
        if (slot != 0) {
          var s = (slot >>> 32).toInt & mask
          while (slots(s) != 0) s = (s + 1) & mask
          slots(s) = slot
        }
        i += 1
      }
    }

    private def bytesUsed: Long = arenaUsed.toLong + entries.toLong * SlotBytes

    /** Counts rows until the input ends or the table reaches the budget. */
    private def fill(): Unit = {
      var in = 0L
      var kept = 0L
      var nanos = 0L
      while (rows.hasNext && bytesUsed < budget) {
        val t = text.eval(rows.next()).asInstanceOf[UTF8String]
        in += 1
        if (t != null) {
          val start = System.nanoTime()
          kept += TokenKernel.foreachKept(t, this)
          nanos += System.nanoTime() - start
        }
      }
      if (bytesUsed >= budget && rows.hasNext) flushes += 1
      inputRows += in
      keptTokens += kept
      scanTime += nanos
      outputRows += entries
    }

    override def hasNext: Boolean = emitAt < arenaUsed || {
      if (entries > 0) {
        java.util.Arrays.fill(slots, 0L)
        entries = 0
        arenaUsed = 0
        emitAt = 0
      }
      fill()
      entries > 0
    }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      val at = Platform.BYTE_ARRAY_OFFSET + emitAt.toLong
      val numBytes = Platform.getInt(arena, at + 8)
      writer.reset()
      writer.zeroOutNullBytes()
      writer.write(0, arena, emitAt + Header, numBytes)
      writer.write(1, Platform.getLong(arena, at))
      emitAt += (Header + numBytes + 7) & ~7
      writer.getRow
    }
  }
}

/** Plans [[TokenCounts]] as [[TokenCountsExec]]. Injected by
  * `GraftExtensions`, and on any other session by `Tokenize.wordCount`
  * (`spark.experimental.extraStrategies`). */
object TokenCountsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TokenCounts(text, output, child) => TokenCountsExec(text, output, planLater(child)) :: Nil
    case _ => Nil
  }
}
