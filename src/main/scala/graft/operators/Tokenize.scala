package graft.operators

import graft.plans.{GraftExtensions, KeepToken, KeptTokens, TokenCounts, TokenCountsStrategy}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlShim

/** Reference-parity tokenization.
  *
  * Semantics derived from the reference engine (remy-tang/SLR207-mapreduce):
  *  - Delimiter class: `WorkerSender.java:216`
  *    (`line.split("[!.:;_,'@?()/° \n\t]+")`). This is the distributed path's
  *    regex (`+`-collapsed, empty-filtered) — canonicalized over the
  *    sequential oracle's (`WordCounter.java:28`) which keeps interior empty
  *    tokens; see SURVEY.md §1 fine print 2.
  *  - Keep-rule: a token survives iff its `encode()` image is non-empty
  *    (`WorkerSender.java:221`, encode at `:129-148`), i.e. its lowercased
  *    form contains ≥1 char in the inclusive range backtick..'z' (the
  *    reference's off-by-one admits backtick).
  *  - Counting is case-sensitive while shuffle routing is not
  *    (`WorkerSender.java:135,230`). Under Spark, routing is an execution
  *    detail of `Exchange hashpartitioning`, so only the case-sensitive
  *    counting semantics are preserved.
  *
  * Scale notes: tokenize is a narrow map (no shuffle) done by one native
  * expression, `explode(kept_tokens(text))` — a byte scan that splits and
  * applies the keep rule in a single pass, with no regex, no `lower` copy
  * and no Filter node. wordCount does not build token rows at all: it
  * compiles to scan → `TokenCountsExec` (the same scan, each kept token
  * hashed from its bytes into a per-task count table — in-mapper
  * combining) → partial `sum` → single Exchange on `word` → final `sum`.
  * The table's memory is bounded by a fixed per-task byte budget: when it
  * is reached the table is emitted as partial counts and cleared, and the
  * `sum` downstream merges them. The shuffle carries one row per distinct
  * word per task, against the reference's per-occurrence network send
  * (`ListenerReducer.java:123-139`), with identical results.
  */
object Tokenize {
  /** `WorkerSender.java:216` delimiter class (Java & RE2 compatible). */
  val Delim = """[!.:;_,'@?()/° \n\t]+"""

  /** Keep a token iff lower(token) has a char in backtick..'z'. */
  val KeepRegex = "[`-z]"

  /** The keep rule as a native predicate ([[graft.plans.KeepToken]]):
    * `lower(word) RLIKE KeepRegex`, decided by the tokenizer kernel. */
  def keep(word: Column): Column =
    GraftSqlShim.applyExpr(word) { case Seq(w) => KeepToken(w) }

  /** The kept tokens of `text`, in order ([[graft.plans.KeptTokens]]):
    * `split(text, Delim)` filtered by [[keep]], in one scan. */
  def keptTokens(text: Column): Column =
    GraftSqlShim.applyExpr(text) { case Seq(t) => KeptTokens(t) }

  /** One output row per kept token; original spelling preserved. */
  def tokenize(df: DataFrame, textCol: String, out: String = "word"): DataFrame =
    df.withColumn(out, explode(keptTokens(col(textCol))))

  /** Whitespace-normalized, order-preserving token array (for shingling). */
  def tokenArray(text: Column): Column =
    split(trim(regexp_replace(text, Delim, " ")), " ")

  /** Bag-of-words identity: md5 of the sorted distinct token set — robust
    * to word order, catches shuffled duplicates. Single definition shared
    * by the batch catalog (q_fingerprint) and the streaming dedup
    * (StreamOps.dedupByFingerprint), which promise the SAME identity. */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokenArray(text)))))

  /** Global word count: (word, cnt) over the kept tokens of `textCol`.
    * Each task counts its own tokens ([[graft.plans.TokenCounts]]), then one
    * shuffle on `word` and a `sum` give the exact counts. */
  def wordCount(df: DataFrame, textCol: String): DataFrame = {
    val spark = df.sparkSession
    GraftExtensions.useStrategy(spark, TokenCountsStrategy)
    val plan = df.select(col(textCol)).queryExecution.analyzed
    val text = plan.output.head
    require(text.dataType == org.apache.spark.sql.types.StringType,
      s"wordCount expects a STRING column, $textCol is ${text.dataType.catalogString}")
    GraftSqlShim.ofRows(spark, TokenCounts(text, plan))
      .groupBy("word").agg(sum("cnt").as("cnt"))
  }

  /** The reference's literal output shape: top-K PER REDUCER
    * (`WorkerSender.java:26,286-296` — each worker sorts and prints its own
    * top-20; the global merge was left as dead code). Reducer identity uses
    * the reference's own routing — `BigInteger(encode(word)) mod N`
    * (`WorkerSender.java:223-224`) — so the result is deterministic and
    * independent of physical partitioning (AQE may coalesce partitions;
    * `spark_partition_id` would NOT be a faithful reducer id). Keysets per
    * reducer are disjoint, counts are exact; only the top-K *selection* is
    * local. Returns (reducer, word, cnt). The flagship uses the global
    * top-K.
    *
    * The selection is the native [[TopK.perKey]] (cnt desc, word asc — the
    * reference's ValueThenKeyComparator; words are unique, so the order is
    * total): each word-count partition keeps its best k rows per reducer,
    * one exchange on `reducer` carries at most k rows per reducer per
    * partition, and a final prune keeps k — never a full sort of a
    * reducer's keyset. */
  def topKPerReducer(df: DataFrame, textCol: String, k: Int = 20,
                     numReducers: Int = 4): DataFrame = {
    val routed = wordCount(df, textCol).select(
      graft.functions.EncodeWord.routeUdf(col("word"), lit(numReducers)).as("reducer"),
      col("word"), col("cnt"))
    TopK.perKey(routed, Seq("reducer"), Seq("cnt" -> false, "word" -> true), k)
  }
}
