package graft

import graft.operators.Tokenize
import graft.plans.{TokenCounts, TokenCountsExec, TokenCountsStrategy}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** `Tokenize.wordCount` (per-task `TokenCountsExec` + `sum`) against the
  * token-row formulation it replaced: `explode(kept_tokens(text))` +
  * `groupBy(word).count()`. */
class TokenCountsSpec extends AnyFunSuite with SparkFixture with TokenTexts
    with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** Collects `df` itself, so its executed plan carries the metrics. */
  private def counts(df: DataFrame): Map[Seq[Byte], Long] =
    df.collect().map(r => r.getString(0).getBytes("UTF-8").toSeq -> r.getLong(1)).toMap

  private def reference(docs: DataFrame): Map[Seq[Byte], Long] =
    counts(docs.select(explode(Tokenize.keptTokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt")))

  private def execs(df: DataFrame): Seq[TokenCountsExec] =
    collect(df.queryExecution.executedPlan) { case t: TokenCountsExec => t }

  for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN"))
    test(s"wordCount equals explode(kept_tokens) + groupBy count ($mode)") {
      withMode(mode) {
        // 3 rows over 8 slices: 5 empty partitions ('-' is not generated)
        val sparse = spark.range(0, 3, 1, 8).select(lit("x- Y- x-").as("text"))
        val docs = corpus().select("text").repartition(3).union(sparse)
        val want = reference(docs)
        val wc = Tokenize.wordCount(docs, "text")
        val got = counts(wc)
        assert(want.nonEmpty)
        assert(got == want)
        assert(want("x-".getBytes.toSeq) == 6 && want("Y-".getBytes.toSeq) == 3)
        assert(got.keys.exists(_.contains(0xEF.toByte)), "no U+FFFD token counted")
        val exec = execs(wc)
        assert(exec.size == 1, wc.queryExecution.executedPlan)
        assert(exec.head.metrics("numKeptTokens").value == want.values.sum)
        assert(exec.head.metrics("numFlushes").value == 0)
        // no rows at all
        assert(Tokenize.wordCount(docs.where(lit(false)), "text").collect().isEmpty)
      }
    }

  test("a small budget flushes several times per task and the sums stay exact") {
    val docs = corpus().select("text").repartition(3)
    val want = reference(docs)
    val child: SparkPlan = docs.queryExecution.executedPlan
    val text = child.output.head
    val exec = TokenCountsExec(text, TokenCounts(text, docs.queryExecution.analyzed).output,
      child, budgetBytes = 256)
    val rows = exec.execute()
      .map(r => (r.getUTF8String(0).getBytes.toSeq, r.getLong(1))).collect()
    val got = rows.groupMapReduce(_._1)(_._2)(_ + _)
    assert(got == want)
    assert(rows.length > want.size, "no word was emitted twice")
    assert(exec.metrics("numFlushes").value >= 3 * 5, exec.metrics("numFlushes").value)
    assert(exec.metrics("numOutputRows").value == rows.length)
    assert(exec.metrics("numKeptTokens").value == want.values.sum)
    assert(exec.metrics("numInputRows").value == docs.count())
  }

  test("one task with a large vocabulary grows its table and keeps every count") {
    // 30k distinct tokens in one partition (the table starts at 8192 slots)
    val docs = spark.range(0, 30000, 1, 1)
      .select(concat(lit("w"), col("id"), lit(" r"), col("id") % 7).as("text"))
    val wc = Tokenize.wordCount(docs, "text")
    val got = counts(wc)
    assert(got.size == 30007)
    assert(got == reference(docs))
    // one row per distinct token: the grown table found every repeat
    assert(execs(wc).map(_.metrics("numOutputRows").value) == Seq(30007L))
  }

  test("wordCount plans on a session built without spark.sql.extensions") {
    val bare = SparkFixture.bareSession()
    assert(!bare.sessionState.functionRegistry.functionExists(FunctionIdentifier("kept_tokens")))
    assert(!bare.sessionState.planner.strategies.contains(TokenCountsStrategy))
    val docs = bare.createDataFrame(Seq(Tuple1("a b a"), Tuple1(null), Tuple1("B°a 42")))
      .toDF("text")
    val wc = Tokenize.wordCount(docs, "text")
    assert(wc.as[(String, Long)].collect().toMap == Map("a" -> 3L, "b" -> 1L, "B" -> 1L))
    assert(execs(wc).size == 1, wc.queryExecution.executedPlan)
    intercept[IllegalArgumentException](Tokenize.wordCount(bare.range(3).toDF("text"), "text"))
  }
}
