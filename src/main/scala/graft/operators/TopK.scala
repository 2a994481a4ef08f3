package graft.operators

import graft.plans.{GraftExtensions, TopKPerKey, TopKStrategy}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}

/** Public API over the native group-wise top-K operator
  * (plans.TopKPerKey/TopKPerKeyExec): the k best rows per key group under
  * `ordering`, planned as map-side prune → one Exchange → final prune.
  * Row set is identical to the window spelling
  * `row_number().over(partitionBy(keys).orderBy(ordering)) <= k` PROVIDED
  * the ordering is total within each group (supply a tie-break column);
  * output row order is unspecified — add a final orderBy for display.
  */
object TopK {

  /** @param ordering (columnName, ascending) pairs, best-first. */
  def perKey(df: DataFrame, keyCols: Seq[String],
             ordering: Seq[(String, Boolean)], k: Int): DataFrame = {
    val plan = df.queryExecution.analyzed
    def attr(n: String) = plan.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(
        s"column $n not in ${plan.output.map(_.name).mkString(", ")}"))
    val keys = keyCols.map(attr)
    val so = ordering.map { case (n, asc) =>
      SortOrder(attr(n), if (asc) Ascending else Descending) }
    val spark = df.sparkSession
    GraftExtensions.useStrategy(spark, TopKStrategy)
    org.apache.spark.sql.graft.GraftSqlShim.ofRows(
      spark, TopKPerKey(keys, so, k, plan))
  }
}
