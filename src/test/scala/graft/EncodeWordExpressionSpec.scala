package graft

import graft.functions.EncodeWord
import graft.plans.GraftExtensions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class EncodeWordExpressionSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("native expression matches the Scala function and the UDF") {
    val words = Seq("abc", "The", "café", "123", "`", "z", "", "a1b2") ++
      graft.operators.Tokenize
        .tokenize(spark.read.parquet(s"$Sf/documents.parquet"), "text")
        .select("word").distinct().as[String].collect().toSeq
    val df = spark.createDataset(words).toDF("w")
    val got = df.select(
      GraftExtensions.encode_word(col("w")).as("native"),
      EncodeWord.encodeUdf(col("w")).as("viaUdf"),
      expr("encode_word(w)").as("viaSql"))
      .collect()
    for ((r, w) <- got.zip(words)) {
      val want = EncodeWord.encode(w)
      assert(r.getString(0) == want, s"native($w)")
      assert(r.getString(1) == want, s"udf($w)")
      assert(r.getString(2) == want, s"sql($w)")
    }
  }

  test("optimizer rule strips case-normalization ABOVE encode_word only") {
    val df = spark.read.parquet(s"$Sf/documents.parquet")
    // lower(encode_word(x)) → encode_word(x): digits are case-invariant
    val stripped = df.select(expr("lower(encode_word(lang))"))
      .queryExecution.optimizedPlan.toString
    assert(stripped.contains("[encode_word(lang#"), stripped)
    // encode_word(lower(x)) must NOT be rewritten: Spark's Lower uses the
    // default locale while encode pins Locale.ROOT (tr-TR divergence)
    val kept = df.select(expr("encode_word(lower(lang))"))
      .queryExecution.optimizedPlan.toString
    assert(kept.contains("encode_word(lower(lang#"), kept)
    // and results are unchanged by the strip
    val a = df.select(expr("lower(encode_word(lang))").as("e"))
      .collect().map(_.getString(0)).toSeq
    val b = df.select(expr("encode_word(lang)").as("e"))
      .collect().map(_.getString(0)).toSeq
    assert(a == b)
  }

  test("expression handles nulls and participates in codegen") {
    val df = Seq(Some("abc"), None).toDF("w")
    val got = df.select(expr("encode_word(w)")).as[Option[String]].collect()
    assert(got.toSet == Set(Some("010203"), None))
    // codegen: over a real scan (a literal input gets constant-folded away)
    // the pipeline containing the expression must be a WholeStageCodegen span
    val plan = spark.read.parquet(s"$Sf/documents.parquet")
      .where(expr("encode_word(lang) = '0618'")) // encode("fr")
      .queryExecution.executedPlan.toString
    // the "*(n)" prefix marks a WholeStageCodegen span in the compact plan
    assert(plan.contains("*(1) Filter (encode_word"), plan)
    // and produce correct results through the codegen'd path
    val n = spark.read.parquet(s"$Sf/documents.parquet")
      .where(expr("encode_word(lang) = '0618'")).count() // "fr"
    val expect = spark.read.parquet(s"$Sf/documents.parquet")
      .where(col("lang") === "fr").count()
    assert(n == expect && n > 0)
  }
}
