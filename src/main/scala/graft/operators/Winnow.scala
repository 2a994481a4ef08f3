package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlShim
import graft.plans.WinnowGenerator

/** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
  * the MOSS algorithm): hash every character k-gram, slide a w-window over
  * the hash sequence, and select each window's MINIMUM hash. The distinct
  * selected values are the document fingerprint — expected density 2/(w+1)
  * of full shingling, with the guarantee that any substring shared by two
  * documents of length ≥ w+k-1 contributes at least one common selected
  * value (the shared windows see identical hash multisets, so their minima
  * agree).
  *
  * Spark shape: the whole selection runs inside ONE
  * [[graft.plans.WinnowGenerator]] GenerateExec — per document, a single
  * monotonic-deque pass over the gram hashes, zero shuffle. (Round 3 used a
  * per-position explode feeding `Window.partitionBy(doc_id)`, whose w-frame
  * min inserted a hash Exchange carrying one ~40-byte row per CHARACTER
  * POSITION — several times the corpus size at 100 TB for a purely
  * per-document computation. A fully-narrow higher-order-function variant
  * — gram-hash array + slice/array_min per window — was also measured 2-4×
  * slower than even that: nested lambdas evaluate interpreted, outside
  * whole-stage codegen.) The k-gram hash is the first 8 md5 hex chars as a
  * BIGINT, computable identically in DuckDB (see
  * [[graft.queries.hex2longSql]]) so oracles can replay the rule.
  */
object Winnow {

  /** Per-position window minima: one row per FULL w-window (gram position
    * i ≤ ng-w+1) with columns (idCol, i, wm, ng) — wm = the window's
    * selected fingerprint, ng = the doc's total k-gram count. Documents
    * with no full window yield no rows. Callers aggregate: the distinct
    * (idCol, wm) pairs are the fingerprint set — and because that
    * aggregation partial-combines map-side, the only Exchange downstream
    * carries the ~2/(w+1)-density fingerprint sets, never the gram
    * stream. */
  def selected(df: DataFrame, idCol: String, textCol: String,
               k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, s"k=$k w=$w must be positive")
    df.where(length(col(textCol)) >= k + w - 1)
      .select(col(idCol),
        GraftSqlShim.applyExpr(col(textCol)) { case Seq(t) => WinnowGenerator(t, k, w) })
  }
}
