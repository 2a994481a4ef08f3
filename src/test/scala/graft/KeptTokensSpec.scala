package graft

import graft.operators.Tokenize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The tokenizer kernel (`kept_tokens`, `keep_token`) against the regex
  * formulation it replaced, which lives on here as the reference:
  * `explode(split(text, Tokenize.Delim))` filtered by
  * `lower(word) RLIKE Tokenize.KeepRegex`. */
class KeptTokensSpec extends AnyFunSuite with SparkFixture with TokenTexts {
  import spark.implicits._

  private def regexKeep(w: Column): Column = lower(w).rlike(Tokenize.KeepRegex)

  private def tokens(df: DataFrame): Seq[(Long, Seq[Byte])] =
    df.select(col("id"), col("w").cast("binary")).as[(Long, Array[Byte])]
      .collect().toSeq.map { case (id, b) => (id, b.toSeq) }

  for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN"))
    test(s"explode(kept_tokens) equals split + explode + keep row for row ($mode)") {
      withMode(mode) {
        val docs = corpus()
        val want = tokens(docs
          .select(col("id"), explode(split(col("text"), Tokenize.Delim)).as("w"))
          .where(regexKeep(col("w"))))
        val got = tokens(docs
          .select(col("id"), explode(Tokenize.keptTokens(col("text"))).as("w")))
        assert(want.nonEmpty)
        assert(got == want)
        assert(got.map(_._1).exists(_ >= 100000L), "no invalid-UTF-8 row kept a token")
        // keep_token agrees with the regex keep on every split token,
        // empty ones included
        val disagree = docs
          .select(explode(split(col("text"), Tokenize.Delim)).as("w"))
          .where(regexKeep(col("w")) =!= Tokenize.keep(col("w")))
          .select(col("w").cast("binary")).as[Array[Byte]].collect()
        assert(disagree.isEmpty, disagree.map(_.toSeq).take(5).mkString("; "))
      }
    }

  test("kept_tokens / keep_token are documented SQL functions") {
    for (f <- Seq("kept_tokens", "keep_token")) {
      val desc = spark.sql(s"DESCRIBE FUNCTION $f")
        .collect().map(_.getString(0)).mkString("\n")
      assert(desc.contains(s"$f(") && !desc.contains("N/A"), s"$f usage:\n$desc")
    }
    assert(spark.sql("SELECT kept_tokens('The 42 c°te')").head().getSeq[String](0) ==
      Seq("The", "c", "te"))
    assert(spark.sql("SELECT keep_token('42'), keep_token('\u212A')").head() ==
      org.apache.spark.sql.Row(false, true))
  }

  test("keep table: every code point's keep decision equals lower(cp) RLIKE KeepRegex") {
    // one row per code point U+0000..U+10FFFF (surrogates skipped), each
    // decided three ways: the session's own lower + regex, keep_token, and
    // whether kept_tokens keeps it as a one-char text
    val cps = spark.range(0, 0x110000)
      .where(col("id") < 0xD800 || col("id") > 0xDFFF)
      .as[Long].map(cp => (cp, new String(Character.toChars(cp.toInt))))
      .toDF("cp", "s")
      .select(col("cp"), regexKeep(col("s")).as("want"),
        Tokenize.keep(col("s")).as("keep"),
        (size(Tokenize.keptTokens(col("s"))) > 0).as("kept"))
    val wrong = cps.where(col("want") =!= col("keep") || col("want") =!= col("kept"))
      .as[(Long, Boolean, Boolean, Boolean)].collect()
    assert(wrong.isEmpty, wrong.take(10).mkString("; "))
    val nonAsciiKeeps = cps.where(col("cp") >= 0x80 && col("want"))
      .select("cp").as[Long].collect().toSet
    assert(nonAsciiKeeps == Set(0x130L, 0x212AL))
  }
}
