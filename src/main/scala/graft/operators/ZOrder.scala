package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.GraftSqlShim
import graft.plans.InterleaveBitsExpression

/** Z-order (Morton-curve) file layout: range-partition + sort by the
  * interleaved bits of two columns so every file's min/max envelope is a
  * small square in (x, y) space instead of a thin full-width stripe. A
  * box predicate on EITHER or BOTH columns then skips most files on
  * footer min/max stats — the multi-dimensional analogue of sorting by
  * one column, and the layout Delta/Iceberg call OPTIMIZE ZORDER BY. At
  * 100 TB layout is destiny: the same table clustered this way turns
  * selective two-column scans from full-table reads into a handful of
  * files.
  */
object ZOrder {

  /** The Z value of two int columns (low 16 bits each) — the native
    * codegen'd [[InterleaveBitsExpression]] (`interleave_bits` in SQL). */
  def zCol(x: Column, y: Column): Column =
    GraftSqlShim.applyExpr(x, y) { case Seq(a, b) => InterleaveBitsExpression(a, b) }

  /** Rewrite `df` into `nFiles` files clustered by z(x, y). The z column
    * drives repartitionByRange + in-partition sort, then is dropped —
    * layout metadata, not data. */
  def layoutBy(df: DataFrame, x: Column, y: Column, nFiles: Int,
               out: String): Unit =
    df.withColumn("__z", zCol(x, y))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(out)
}
