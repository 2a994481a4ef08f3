package graft.queries

import org.apache.spark.sql.functions._

/** Wave-55 addition — the columnar encoding audit:
  *
  *  - q_encoding_audit: per column, the two numbers a columnar writer's
  *    encoding chooser runs on — dictionary potential (distinct ratio)
  *    and RLE potential (value runs in storage order). Runs are counted
  *    WITHIN each order's lineitems — the table's natural clustering —
  *    ordered by (l_linenumber, value): the fixture reuses line numbers,
  *    so the value tie-break makes the storage order TOTAL (equal
  *    adjacent values are order-insensitive for run counting anyway).
  *    The count is partition-parallel and boundary-free;
  *    rle_ratio = rows / runs is
  *    the expected RLE compression factor under that clustering. The
  *    audit that decides sort keys and dictionary thresholds before
  *    rewriting 100 TB of parquet (q_zorder/q_zorder_prune pick the
  *    layout; this measures what a layout buys per column).
  *
  * Determinism: exact counts; quantity is integer-valued in the fixture;
  * ratios are terminal round-6.
  */
object Wave55 extends Catalog {

  /** Audited columns (stacked into rows). */
  private val Cols = Seq("l_returnflag", "l_linestatus", "l_quantity")

  val queries: Map[String, Q] = strictMap(

    // ENCODING AUDIT: one stack pass (3 rows per input row, narrow),
    // one lag window per order (the table's own clustering — short
    // partitions, no global sort), two partial-agg'd aggregations.
    "q_encoding_audit" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val stackExpr = "stack(" + Cols.size + ", " +
        Cols.map(c => s"'$c', CAST($c AS STRING)").mkString(", ") +
        ") AS (col, val)"
      val long = table(s, dir, "lineitem")
        .selectExpr("l_orderkey AS ok", "l_linenumber AS ln", stackExpr)
      val w = Window.partitionBy("col", "ok").orderBy("ln", "val")
      val runs = long
        .withColumn("chg",
          when(lag(col("val"), 1).over(w).isNull
            || lag(col("val"), 1).over(w) =!= col("val"), 1L).otherwise(0L))
      runs.groupBy("col")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct("val").as("n_distinct"),
          sum("chg").as("n_runs"))
        .selectExpr("col", "CAST(n_rows AS BIGINT) AS n_rows",
          "CAST(n_distinct AS BIGINT) AS n_distinct",
          "CAST(n_runs AS BIGINT) AS n_runs",
          "round(CAST(n_rows AS DOUBLE) / n_runs, 6) AS rle_ratio",
          "round(CAST(n_distinct AS DOUBLE) / n_rows, 6) AS distinct_ratio")
        .orderBy("col")
    }),
  )

  val oracle: Map[String, String] = strictMap(

    "q_encoding_audit" -> {
      val branches = Cols.map { c =>
        s"SELECT l_orderkey AS ok, l_linenumber AS ln, '$c' AS col," +
          s" CAST($c AS VARCHAR) AS val FROM lineitem"
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH long AS (
         |  $branches
         |),
         |r AS (
         |  SELECT col, val,
         |    CASE WHEN lag(val) OVER (PARTITION BY col, ok ORDER BY ln, val)
         |      IS DISTINCT FROM val THEN 1 ELSE 0 END AS chg
         |  FROM long
         |)
         |SELECT col, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(DISTINCT val) AS BIGINT) AS n_distinct,
         |  CAST(sum(chg) AS BIGINT) AS n_runs,
         |  round(CAST(count(*) AS DOUBLE) / sum(chg), 6) AS rle_ratio,
         |  round(CAST(count(DISTINCT val) AS DOUBLE) / count(*), 6)
         |    AS distinct_ratio
         |FROM r GROUP BY col ORDER BY col""".stripMargin
    },
  )
}
