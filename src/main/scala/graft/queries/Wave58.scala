package graft.queries

/** Wave-58 addition — the three-valued-logic contract pin:
  *
  *  - q_null_semantics: one row per NULL-semantics corner case, evaluated
  *    independently by both engines from the same SQL spelling — the
  *    ground every one of the catalog's oracle comparisons stands on
  *    (IN/NOT IN with NULLs, CASE over UNKNOWN, IS DISTINCT FROM,
  *    null-skipping aggregates over empty/partial input, concat_ws /
  *    least / greatest null absorption). A regression in either engine's
  *    null handling — or an ANSI-mode flip on the Spark side — lands here
  *    first, as a named row instead of an opaque hash mismatch in some
  *    unrelated query.
  *
  * Known cross-engine DIVERGENCES deliberately NOT tested (documented so
  * nobody adds them): default NULL sort order (Spark ASC = NULLS FIRST,
  * DuckDB = NULLS LAST — every catalog query avoids relying on it; keys
  * are non-null or coalesced), and DuckDB's variadic concat() which skips
  * NULLs where Spark's concat() absorbs them (concat_ws agrees, concat
  * does not).
  */
object Wave58 extends Catalog {

  /** (case_name, SQL expression evaluating to a STRING) — the expression
    * text is shared verbatim by both engines. */
  private val Cases: Seq[(String, String)] = Seq(
    "case_over_unknown" ->
      "CASE WHEN CAST(NULL AS INT) = CAST(NULL AS INT) THEN 'T' ELSE 'F' END",
    "is_distinct_from" ->
      "CASE WHEN CAST(NULL AS INT) IS DISTINCT FROM CAST(NULL AS INT) THEN 'T' ELSE 'F' END",
    "in_with_null_miss" ->
      "CASE WHEN 1 IN (2, CAST(NULL AS INT)) THEN 'T' ELSE 'F' END",
    "not_in_with_null" ->
      "CASE WHEN 1 NOT IN (2, CAST(NULL AS INT)) THEN 'T' ELSE 'F' END",
    "in_with_null_hit" ->
      "CASE WHEN 1 IN (1, CAST(NULL AS INT)) THEN 'T' ELSE 'F' END",
    "null_arith_absorbs" ->
      "CASE WHEN 1 + CAST(NULL AS INT) IS NULL THEN 'T' ELSE 'F' END",
    "nullif_collapses" ->
      "CASE WHEN nullif(1, 1) IS NULL THEN 'T' ELSE 'F' END",
    "coalesce_first_nonnull" ->
      "coalesce(CAST(NULL AS VARCHAR(30)), 'x', 'y')",
    "concat_ws_skips_null" ->
      "concat_ws('-', 'a', CAST(NULL AS VARCHAR(30)), 'b')",
    "least_ignores_null" ->
      "CAST(least(CAST(NULL AS INT), 7) AS VARCHAR(30))",
    "greatest_ignores_null" ->
      "CAST(greatest(CAST(NULL AS INT), 7) AS VARCHAR(30))",
    "and_unknown_false" ->
      "CASE WHEN (CAST(NULL AS INT) = 1) AND FALSE THEN 'T' ELSE 'F' END",
    "or_unknown_true" ->
      "CASE WHEN (CAST(NULL AS INT) = 1) OR TRUE THEN 'T' ELSE 'F' END")

  /** Aggregate cases need a relation; both run over lineitem. */
  private val AggCases: Seq[(String, String)] = Seq(
    "sum_over_empty_is_null" ->
      ("(SELECT CASE WHEN sum(l_quantity) IS NULL THEN 'T' ELSE 'F' END" +
        " FROM lineitem WHERE 1 = 0)"),
    "count_over_empty_is_zero" ->
      "(SELECT CAST(count(*) AS VARCHAR(30)) FROM lineitem WHERE 1 = 0)",
    "avg_skips_null" ->
      ("(SELECT CAST(CAST(avg(x) AS INT) AS VARCHAR(30))" +
        " FROM (SELECT 4 AS x UNION ALL SELECT CAST(NULL AS INT)))"))

  val queries: Map[String, Q] = strictMap(

    "q_null_semantics" -> ((s, dir) => {
      // register lineitem for the scalar-subquery aggregate cases
      table(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      val rows = (Cases ++ AggCases).map { case (name, e) =>
        s"SELECT '$name' AS case_name, ($e) AS result"
      }.mkString("\nUNION ALL\n")
      s.sql(rows).orderBy("case_name")
    }),
  )

  val oracle: Map[String, String] = strictMap(

    "q_null_semantics" -> {
      val rows = (Cases ++ AggCases).map { case (name, e) =>
        s"SELECT '$name' AS case_name, ($e) AS result"
      }.mkString("\nUNION ALL\n")
      s"$rows\nORDER BY case_name"
    },
  )
}
