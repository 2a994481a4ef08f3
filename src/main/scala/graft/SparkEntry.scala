package graft

import graft.operators.Tokenize
import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The engine is a library of composable DataFrame operators
  * (`graft.operators.*`, `graft.functions.*`) plus this query catalog; the
  * reference's sockets/threads/partitioners are subsumed by Spark's
  * scheduler and Exchange (SURVEY.md §3-4), so every catalog entry is a
  * declarative plan that Catalyst/Tungsten optimize (predicate pushdown,
  * partial aggregation, broadcast joins, whole-stage codegen).
  */
object SparkEntry {

  /** Flagship: the reference's end-to-end computation — global word count
    * with count-desc/word-asc top-K (SURVEY.md §1 fine print 5 canonicalizes
    * the global merge the reference left as dead code). */
  def entry(spark: SparkSession): DataFrame = {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    Tokenize.wordCount(docs, "text").orderBy(desc("cnt"), asc("word")).limit(20)
  }

  /** Every per-file catalog, in merge order. */
  lazy val catalogs: Seq[Catalog] = Seq(
    Reference, Relational, RelTpch, RelGraph, RelStats, RelEvents, LlmOps,
    LlmDedup, LlmSim, LlmMedia, Analytics, Retrieval, Geo, Graphs, Metrics,
    Strings, Wave7, Wave8, Wave9, Wave10, Wave11, Wave12, Wave13, Wave14,
    Wave15, Wave16, Wave17, Wave18, Wave19, Wave20, Wave21, Wave22, Wave23,
    Wave24, Wave25, Wave26, Wave27, Wave28, Wave29, Wave30, Wave31, Wave32,
    Wave33, Wave34, Wave35, Wave36, Wave37, Wave38, Wave39, Wave40, Wave41,
    Wave42, Wave43, Wave44, Wave45, Wave46, Wave47, Wave48, Wave49, Wave50,
    Wave51, Wave52, Wave53, Wave54, Wave55, Wave56, Wave57, Wave58, Wave59,
    Wave60, Wave61, Wave62, Wave63, Wave64, Wave65, Wave66, Wave67)

  /** One entry per implemented operator from SURVEY.md §2 (+ §7 additions).
    * A key defined in two catalogs fails here, at construction. */
  lazy val queries: Map[String, Q] =
    strictMap(catalogs.flatMap(_.queries): _*)

  /** DuckDB-runnable oracle twin for every query (same column names). */
  lazy val oracleSql: Map[String, String] =
    strictMap(catalogs.flatMap(_.oracle): _*)
}
