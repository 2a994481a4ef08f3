package graft

import graft.operators.Tokenize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The tokenizer kernel (`kept_tokens`, `keep_token`) against the regex
  * formulation it replaced, which lives on here as the reference:
  * `explode(split(text, Tokenize.Delim))` filtered by
  * `lower(word) RLIKE Tokenize.KeepRegex`. */
class KeptTokensSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def regexKeep(w: Column): Column = lower(w).rlike(Tokenize.KeepRegex)

  /** Tokens that build the generated texts: every delimiter, the keep
    * range and its neighbours, digits, multi-byte chars (U+0130 and the
    * Kelvin sign U+212A are the two non-ASCII keeps; 🙂 is a surrogate
    * pair). */
  private val pieces: Seq[String] =
    "!.:;_,'@?()/° \n\t".map(_.toString) ++
      (('A' to 'Z') ++ ('a' to 'z')).map(_.toString) ++
      Seq("`", "[", "^", "{", "~", "0", "7", "é", "\u0130", "\u212A", "北", "🙂")

  private val textGen: Gen[String] =
    Gen.choose(0, 24).flatMap(n => Gen.listOfN(n, Gen.oneOf(pieces)))
      .map(_.mkString)

  private val edgeTexts = Seq(null, "", " ", "°", "!.:;_,'@?()/° \n\t", "°°x°",
    "  lead", "trail!!", "°lead°trail°", "123 456", "\u0130", "\u212A", "ab\u212Acd",
    "\u0130stanbul \u212A 2024")

  /** Invalid UTF-8 (stray continuations, truncated and overlong leads,
    * encoded surrogates) mixed with ASCII, ° and the two non-ASCII keeps,
    * as raw bytes: the texts are `CAST(bytes AS STRING)`. */
  private val byteGen: Gen[Array[Byte]] = {
    val chunk = Gen.oneOf(
      Gen.oneOf("a", "Z", "`", "1", " ", "!", "x y").map(_.getBytes("UTF-8")),
      Gen.oneOf("°", "\u0130", "\u212A", "é", "🙂").map(_.getBytes("UTF-8")),
      Gen.oneOf(Seq(0x80), Seq(0xBF), Seq(0xC2), Seq(0xC4), Seq(0xE2, 0x84),
        Seq(0xF0, 0x9F), Seq(0xC0, 0xAF), Seq(0xED, 0xA0, 0x80), Seq(0xFF),
        Seq(0xB0), Seq(0xF4, 0x90, 0x80, 0x80)).map(_.map(_.toByte).toArray))
    Gen.choose(0, 16).flatMap(n => Gen.listOfN(n, chunk)).map(_.flatten.toArray)
  }

  private def sample[T](g: Gen[T], n: Int, seed: Long): Seq[T] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(seed + i)))

  /** (id, text) rows: generated texts, the edge cases, and invalid UTF-8. */
  private def corpus(): DataFrame = {
    val strs = (sample(textGen, 600, 1L) ++ edgeTexts).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val bytes = sample(byteGen, 300, 7L).zipWithIndex
      .map { case (b, i) => (100000L + i, b) }.toDF("id", "b")
      .select(col("id"), col("b").cast("string").as("text"))
    strs.union(bytes)
  }

  /** `spark.sql.codegen.factoryMode` = `mode`; NO_CODEGEN also turns
    * whole-stage codegen off, and local relations are not folded by the
    * optimizer, so the expressions really run in the chosen mode. */
  private def withMode[T](mode: String)(body: => T): T = {
    val confs = Seq(
      "spark.sql.codegen.factoryMode" -> mode,
      "spark.sql.codegen.wholeStage" -> (mode != "NO_CODEGEN").toString,
      "spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

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
    graft.plans.GraftExtensions.register(spark)
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
