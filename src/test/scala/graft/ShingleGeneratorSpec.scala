package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native char_shingles Generator must agree with the higher-order-
  * function spelling on every edge: exact-length, shorter-than-k, empty,
  * null, stride-remainder tails. */
class ShingleGeneratorSpec extends AnyFunSuite with SparkFixture {

  private def shingleMap(rows: Array[org.apache.spark.sql.Row]): Map[String, Seq[String]] =
    rows.map(r => r.getString(0) -> r.getSeq[String](1).sorted).toMap

  test("char_shingles equals the HOF spelling on edge-case strings") {
    import spark.implicits._
    val texts = Seq("abcdefghij", "abcdefghijk", "short", "", "exactly8",
      "abcdefghijklmnopqrstuvwxyz")
    val df = texts.toDF("text")
    val gen = shingleMap(df
      .selectExpr("text", "char_shingles(text, 8, 3)")
      .groupBy("text").agg(collect_list("sh").as("shs")).collect())
    val hof = shingleMap(df.where(length(col("text")) >= 8)
      .select(col("text"), explode(expr(
        "transform(sequence(1, length(text) - 7, 3), i -> substring(text, i, 8))"))
        .as("sh"))
      .groupBy("text").agg(collect_list("sh").as("shs")).collect())
    assert(gen == hof, s"gen=$gen\nhof=$hof")
    // strings shorter than k emit nothing at all
    assert(!gen.contains("short") && !gen.contains(""))
  }

  test("null input emits no rows") {
    import spark.implicits._
    val df = Seq(Some("abcdefghij"), None).toDF("text")
    val n = df.selectExpr("char_shingles(text, 8, 3)").count()
    assert(n == 1) // only the 10-char string emits (one shingle at i=0)
  }
}
