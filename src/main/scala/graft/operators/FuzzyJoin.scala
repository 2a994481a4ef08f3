package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlShim
import graft.plans.LevWithinExpression

/** Blocked fuzzy (edit-distance) matching: candidates → verify, never
  * all-pairs.
  *
  * Candidate generation is the deletion-neighborhood (SymSpell) scheme: the
  * depth-2 neighborhood N2(w) is w plus every string reachable by deleting
  * ≤ 2 characters. If lev(a, b) ≤ 2, an optimal alignment has s
  * substitutions, i insertions and d deletions with s+i+d ≤ 2; deleting
  * from `a` the substituted+deleted positions (≤ 2 chars) and from `b` the
  * substituted+inserted positions (≤ 2 chars) leaves the same aligned
  * subsequence — so N2(a) ∩ N2(b) ≠ ∅ and the pair survives an EQUI-join on
  * the variant. The converse doesn't hold (shared variants don't imply
  * distance ≤ 2), hence the exact-levenshtein verify stage on candidates
  * only.
  *
  * Scale shape: |N2(w)| = 1 + L + L(L-1)/2 for |w| = L — a per-row constant
  * for natural-language tokens — so candidate generation is a narrow map +
  * one shuffle on the variant key. No nested-loop join exists anywhere in
  * the plan (PlanSpec pins this); the vocabulary-cartesian alternative is
  * O(V²) levenshtein calls and cannot run at a 10⁷⁺-word vocabulary.
  * Variant buckets are naturally bounded: a bucket is the set of words
  * within 2 deletions of one string, not a frequency-skewed corpus key.
  */
object FuzzyJoin {

  /** `w` with the character at 1-based position `i` removed. */
  private def delete1(w: Column, i: Column): Column =
    concat(w.substr(lit(1), i - 1), w.substr(i + 1, length(w)))

  /** The word plus every single-character deletion of it. */
  private def delVariants(w: Column): Column =
    when(length(w) === 0, array(w))
      .otherwise(concat(array(w),
        transform(sequence(lit(1), length(w)), i => delete1(w, i))))

  /** Candidate pairs (w1 < w2) containing EVERY pair with lev ≤ 2 (plus
    * false positives the caller must verify). Two explodes build the
    * depth-2 deletion neighborhood; one equi-join on the variant blocks. */
  def candidatePairs(words: DataFrame, wordCol: String): DataFrame = {
    val base = words.select(col(wordCol).as("word"))
      .where(length(col("word")) >= 1)
    val d1 = base.select(col("word"), explode(delVariants(col("word"))).as("v1"))
    val keys = d1
      .select(col("word"), explode(delVariants(col("v1"))).as("v"))
      .distinct()
    keys.alias("x").join(keys.alias("y"),
        col("x.v") === col("y.v") && col("x.word") < col("y.word"))
      .select(col("x.word").as("w1"), col("y.word").as("w2"))
      .distinct()
  }

  /** Full candidates→verify pipeline: all pairs with lev(w1, w2) ≤ maxDist
    * (maxDist ≤ 2 — the neighborhood depth is fixed at 2). The verify
    * predicate uses the banded `lev_within` expression
    * ([[graft.plans.LevWithinExpression]]): exact when ≤ maxDist, k+1
    * otherwise — O(k·L) per pair instead of the built-in levenshtein's
    * full O(L²) DP, and it's the hot loop of the join. */
  def matchPairs(words: DataFrame, wordCol: String, maxDist: Int = 2): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2,
      s"deletion neighborhood is built to depth 2; got maxDist=$maxDist")
    candidatePairs(words, wordCol)
      .withColumn("dist",
        GraftSqlShim.applyExpr(col("w1"), col("w2")) {
          case Seq(a, b) => LevWithinExpression(a, b, maxDist)
        }.cast("long"))
      .where(col("dist") <= maxDist)
  }
}
