package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** String-similarity tier over the corpus vocabulary, driven by the two
  * native codegen'd expressions `jaro_winkler` / `damerau_lev`
  * ([[graft.plans.JaroWinklerExpression]] /
  * [[graft.plans.DamerauLevExpression]]) — both pinned bit-compatible with
  * the DuckDB oracle's native functions, so the gate checks the kernels
  * themselves, not a lookalike.
  *
  * Scale shape: every query here first collapses the corpus to its
  * DISTINCT vocabulary (one partial-agg'd shuffle — vocabulary is sublinear
  * in corpus size), then pairs WITHIN the vocabulary under an explicit
  * candidate rule. Nothing is ever corpus × corpus.
  */
object Strings extends Catalog {

  /** Vocabulary length floor (drops stopword-sized noise). */
  private val MinLen = 3

  /** Length-band half-width for the Jaro-Winkler alignment. */
  private val JwBand = 3

  /** Jaro-Winkler acceptance threshold (compared on the RAW double — both
    * engines compute bit-identical values, so the cut is exact). */
  private val JwMin = 0.66

  /** Damerau-Levenshtein acceptance threshold (= SymSpell delete depth). */
  private val DlMax = 2

  /** Distinct lowercased `[A-Za-z]+` tokens of length ≥ [[MinLen]].
    * ASCII-only extraction keeps `lower` and `length` engine-identical. */
  private def vocab(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(explode(expr("regexp_extract_all(text, '[A-Za-z]+', 0)")).as("w0"))
      .select(lower(col("w0")).as("w"))
      .where(length(col("w")) >= MinLen)
      .distinct()

  private val VocabSql =
    s"""toks AS (
       |  SELECT DISTINCT lower(w) AS w
       |  FROM (SELECT unnest(regexp_extract_all(text, '[A-Za-z]+')) AS w
       |        FROM documents) t
       |  WHERE len(w) >= $MinLen
       |)""".stripMargin

  val queries: Map[String, Q] = strictMap(

    // Fuzzy vocabulary alignment: all token pairs within a ±3 length band
    // scoring jaro_winkler ≥ 0.66 — the name/alias matcher of an
    // entity-resolution pass, on the native expression. The band is an
    // EQUI-join (left side explodes its 7 target lengths), so the pair
    // generation shuffles on (length) with bounded ×7 fan-out instead of
    // nested-looping; the codegen'd scorer then cuts inside the join's
    // whole-stage pipeline. The band cap is mirrored verbatim in the
    // oracle (house rule: every blocking cap is part of the semantics).
    "q_jaro_align" -> ((s, dir) => {
      val toks = vocab(s, dir)
      val lhs = toks.select(col("w").as("a"), length(col("w")).as("la"))
        .withColumn("lb", explode(expr(s"sequence(la - $JwBand, la + $JwBand)")))
      val rhs = toks.select(col("w").as("b"), length(col("w")).as("lb"))
      lhs.join(rhs, "lb")
        .where(col("a") < col("b"))
        .withColumn("jw", expr("jaro_winkler(a, b)"))
        .where(col("jw") >= JwMin)
        .select(col("a"), col("b"), round(col("jw"), 4).as("jw"))
        .orderBy("a", "b")
    }),

    // Typo-distance pairs: vocabulary pairs at FULL Damerau-Levenshtein
    // ≤ 2 (adjacent transpositions cost 1 — the dominant human typo).
    // Candidates come from SymSpell delete-neighborhoods: every token
    // emits its ≤2-deletion variants (≈ 1 + L + L²/2 rows per DISTINCT
    // token, vocabulary-scale) and a pair is considered iff it shares a
    // variant — the standard SymSpell guarantee covers every pair at
    // DL ≤ 2, so the block is LOSSLESS and only the length-band cap
    // (|Δlen| ≤ 2, implied by 2 edits but stated for the oracle) appears
    // in the SQL twin. The codegen'd damerau_lev verifies exactly.
    "q_damerau_typos" -> ((s, dir) => {
      val toks = vocab(s, dir).withColumn("n", length(col("w")))
      // delete-0/1/2 variants at 0-based positions i < j
      val vars = toks.select(col("w"), explode(expr(
        """array_distinct(concat(
          |  array(w),
          |  transform(sequence(0, n - 1),
          |    i -> concat(substring(w, 1, i), substring(w, i + 2))),
          |  flatten(transform(sequence(0, n - 2),
          |    i -> transform(sequence(i + 1, n - 1),
          |      j -> concat(substring(w, 1, i),
          |                  substring(w, i + 2, j - i - 1),
          |                  substring(w, j + 2)))))
          |))""".stripMargin)).as("v"))
      vars.select(col("w").as("a"), col("v"))
        .join(vars.select(col("w").as("b"), col("v")), "v")
        .where(col("a") < col("b"))
        .select("a", "b").distinct()
        .where(abs(length(col("a")) - length(col("b"))) <= DlMax)
        .withColumn("dl", expr("damerau_lev(a, b)").cast("long"))
        .where(col("dl") <= DlMax)
        .orderBy("a", "b")
    }))

  val oracle: Map[String, String] = strictMap(

    "q_jaro_align" ->
      s"""WITH $VocabSql
         |SELECT a.w AS a, b.w AS b,
         |  round(jaro_winkler_similarity(a.w, b.w), 4) AS jw
         |FROM toks a JOIN toks b
         |  ON a.w < b.w AND abs(len(a.w) - len(b.w)) <= $JwBand
         |WHERE jaro_winkler_similarity(a.w, b.w) >= $JwMin
         |ORDER BY a, b""".stripMargin,

    "q_damerau_typos" ->
      s"""WITH $VocabSql
         |SELECT a.w AS a, b.w AS b,
         |  CAST(damerau_levenshtein(a.w, b.w) AS BIGINT) AS dl
         |FROM toks a JOIN toks b
         |  ON a.w < b.w AND abs(len(a.w) - len(b.w)) <= $DlMax
         |WHERE damerau_levenshtein(a.w, b.w) <= $DlMax
         |ORDER BY a, b""".stripMargin)
}
