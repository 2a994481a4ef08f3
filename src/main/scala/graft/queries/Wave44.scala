package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.Ckpt._

/** Wave-44 additions — the range-partitioner balance audit and window
  * navigation functions:
  *
  *  - q_range_split_balance: the audit behind every distributed sort /
  *    range exchange at scale — draw a deterministic ~1% hash sample,
  *    select 7 octile boundary VALUES from it by exact distributed rank
  *    selection (what RangePartitioner does with its driver-side sample),
  *    then bucket the FULL table by those boundaries and report each range
  *    partition's achieved row share. The deviation of `frac` from 1/8 IS
  *    the sampling error a real range shuffle would inherit — the number a
  *    1000-executor sort stage needs before committing to boundaries.
  *  - q_window_navigation: first_value / last_value / nth_value and
  *    first_value(... ignore nulls) under EXPLICIT frames (running frame
  *    for first, full-partition frame for last/nth — the classic
  *    last_value-with-default-frame trap). Frame-boundary semantics differ
  *    subtly across engines; the hash match pins Spark's against DuckDB's
  *    on every row. Fills the one window-function family the catalog did
  *    not yet exercise (ranks/ntile/cume_dist/lag: q_window_ranks,
  *    q_transitions; range frames: q_window_range; distributed ntile:
  *    q_window_dist).
  *
  * Determinism: the sample gate and bucket compares ride md5 parity and
  * exact BIGINT cents; boundary selection picks VALUES at ranks (ties
  * interchangeable — the value at any tied rank is the same value);
  * navigation outputs are selections (no accumulation), rounded copies of
  * single input cells.
  */
object Wave44 extends Catalog {

  /** Range buckets (boundaries = octiles of the sample). */
  private val Buckets = 8
  /** Sample keep-rate denominator: md5-bucket % 100 == 0 → ~1%. */
  private val SampleMod = 100

  /** BIGINT cents of l_extendedprice — every compare is integer-exact. */
  private val CentsSpark = "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
  private val CentsSql = CentsSpark // same spelling works in DuckDB

  /** Deterministic sample gate on the lineitem primary key. */
  private val SampleSpark =
    "CAST(conv(substring(md5(concat(CAST(l_orderkey AS STRING), ':', " +
      s"CAST(l_linenumber AS STRING))), 1, 8), 16, 10) AS BIGINT) % $SampleMod = 0"

  val queries: Map[String, Q] = strictMap(

    // RANGE SPLIT BALANCE: the sample is tiny (1%) but the rank selection
    // over it is still DISTRIBUTED (Ranks.withinKey — range partition +
    // per-chunk offsets), because at 100 TB even the 1% sample does not
    // fit a driver; the full-table pass is one narrow projection crossed
    // with a broadcast 7-element boundary array.
    "q_range_split_balance" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val samp = li.where(expr(SampleSpark))
        .select(expr(CentsSpark).as("v"))
        .withColumn("kk", lit(0))
        .ckpt() // ranked + counted
      val n1 = samp.agg(count(lit(1)).as("n"))
      val ranked = graft.operators.Ranks.withinKey(samp, "kk", Seq("v"))
      val rkTargets = (1 until Buckets)
        .map(i => s"rk = ($i * n + ${Buckets - 1}) div $Buckets")
        .mkString(" OR ")
      val bs = ranked.crossJoin(broadcast(n1)).where(expr(rkTargets))
        .agg(sort_array(collect_list("v")).as("bs"))
      val full = li.select(expr(CentsSpark).as("v"))
        .crossJoin(broadcast(bs))
        .withColumn("bucket", expr(
          "aggregate(bs, CAST(0 AS BIGINT)," +
            " (a, b) -> a + IF(b <= v, CAST(1 AS BIGINT), CAST(0 AS BIGINT)))"))
        .groupBy("bucket").agg(count(lit(1)).as("n_rows"))
      val spine = s.range(0, Buckets).select(col("id").as("bucket"))
      val tot = li.agg(count(lit(1)).as("t"))
      spine.join(full, Seq("bucket"), "left_outer")
        .na.fill(0L, Seq("n_rows"))
        .crossJoin(broadcast(tot))
        .selectExpr("CAST(bucket AS BIGINT) AS bucket",
          "CAST(n_rows AS BIGINT) AS n_rows",
          "round(CAST(n_rows AS DOUBLE) / t, 6) AS frac")
        .orderBy("bucket")
    }),

    // WINDOW NAVIGATION: running-frame first, full-frame last/nth (the
    // default-frame trap made explicit), ignore-nulls first over a
    // sparse derived column. Pure selections — nothing accumulates.
    "q_window_navigation" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id").orderBy("us", "event_id")
      val running = byUser
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fullFrame = byUser
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      table(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"),
          round(col("value"), 4).as("v"), col("event_type"))
        .withColumn("click_v",
          when(col("event_type") === "click", col("v")))
        .select(col("event_id"), col("user_id"),
          first(col("v")).over(running).as("first_v"),
          last(col("v")).over(fullFrame).as("last_v"),
          nth_value(col("v"), 3).over(fullFrame).as("third_v"),
          first(col("click_v"), ignoreNulls = true)
            .over(fullFrame).as("first_click_v"))
        .orderBy("event_id")
    }),
  )

  val oracle: Map[String, String] = strictMap(

    "q_range_split_balance" -> {
      val rkTargets = (1 until Buckets)
        .map(i => s"rk = ($i * n + ${Buckets - 1}) // $Buckets")
        .mkString(" OR ")
      s"""WITH samp AS MATERIALIZED (
         |  SELECT $CentsSql AS v FROM lineitem
         |  WHERE ${hex2longSql(
               "md5(CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR))",
               1)} % $SampleMod = 0
         |),
         |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rk FROM samp),
         |n1 AS (SELECT count(*) AS n FROM samp),
         |bnd AS MATERIALIZED (
         |  SELECT v AS b FROM r CROSS JOIN n1 WHERE $rkTargets
         |),
         |f AS (SELECT $CentsSql AS v FROM lineitem),
         |c AS (
         |  SELECT (SELECT count(*) FROM bnd WHERE bnd.b <= f.v) AS bucket
         |  FROM f
         |),
         |g AS (SELECT bucket, count(*) AS n_rows FROM c GROUP BY bucket),
         |sp AS (SELECT unnest(generate_series(0, ${Buckets - 1})) AS bucket),
         |t AS (SELECT count(*) AS t FROM f)
         |SELECT CAST(sp.bucket AS BIGINT) AS bucket,
         |  CAST(coalesce(g.n_rows, 0) AS BIGINT) AS n_rows,
         |  round(CAST(coalesce(g.n_rows, 0) AS DOUBLE) / t.t, 6) AS frac
         |FROM sp LEFT JOIN g ON sp.bucket = g.bucket CROSS JOIN t
         |ORDER BY bucket""".stripMargin
    },

    "q_window_navigation" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS us,
        |    round(value, 4) AS v,
        |    CASE WHEN event_type = 'click' THEN round(value, 4) END AS click_v
        |  FROM events
        |)
        |SELECT event_id, user_id,
        |  first_value(v) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_v,
        |  last_value(v) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_v,
        |  nth_value(v, 3) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS third_v,
        |  first_value(click_v IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS first_click_v
        |FROM e ORDER BY event_id""".stripMargin,
  )
}
