package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Generated texts for the tokenizer specs (`KeptTokensSpec`,
  * `TokenCountsSpec`), and the codegen-mode switch they run under. */
trait TokenTexts { self: SparkFixture =>

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

  /** (id, text) rows: generated texts, the edge cases, and invalid UTF-8
    * (ids from 100000). */
  def corpus(): DataFrame = {
    import spark.implicits._
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
  def withMode[T](mode: String)(body: => T): T = {
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
}
