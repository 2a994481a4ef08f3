package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.Ckpt._

/** Wave-54 additions — bitemporal versioning and the watermark-delay
  * audit:
  *
  *  - q_bitemporal: point-in-time selects over BOTH time axes — valid
  *    time (when a fact is true in the world) × transaction time (when
  *    the warehouse learned it). The version table derives
  *    deterministically from customer (the q_cdc_diff fixture
  *    discipline): every customer has a base row; customers with even
  *    keys get a RETROACTIVE correction (+100) recorded at tx day 180
  *    that closes the base row's tx interval; customers divisible by 3
  *    have their valid axis split at day 200 with a future-valid raise
  *    (+50) known from tx 0. The query answers AS OF (tx 190, valid 250)
  *    and AS OF (tx 170, valid 100) per sampled customer — the first
  *    sees corrections and the valid split, the second predates the
  *    correction — which q_scd2/q_scd2_asof (transaction axis only)
  *    cannot express.
  *  - q_watermark_audit: "how much data would watermark delay d drop?" —
  *    for each event, the running max event-time over STRICTLY EARLIER
  *    ARRIVALS (arrival order = event_id), computed distributed as a
  *    two-level prefix max (per-bucket maxima → tiny-table running max →
  *    intra-bucket window), then per candidate delay {1, 5, 10, 30 min}
  *    the count/fraction of events older than (running max − d): exactly
  *    the events Structured Streaming would drop at that watermark. The
  *    evidence behind every withWatermark() in the streaming tier.
  *
  * Determinism: both axes are integer days / micros; values are round-2
  * copies; fractions are terminal round-6.
  */
object Wave54 extends Catalog {

  /** Watermark delays audited (micros). */
  private val Delays = Seq(60L, 300L, 600L, 1800L).map(_ * 1000000L)
  /** Arrival buckets for the two-level prefix max. */
  private val Bucket = 1000L

  val queries: Map[String, Q] = strictMap(

    // BITEMPORAL: the version table is 1-3 rows per customer built in one
    // narrow pass; each point query is a filter + 1-row-per-key pick (no
    // joins at all) — bitemporal correctness is free at any scale when
    // intervals are materialized columns.
    "q_bitemporal" -> ((s, dir) => {
      val base = table(s, dir, "customer")
        .select(col("c_custkey").as("k"), round(col("c_acctbal"), 2).as("bal"))
        .where(col("k") % 37 === 0)
      val INF = 100000L
      val a = base.select(col("k"), col("bal").as("v"),
        lit(0L).as("vf"),
        when(col("k") % 3 === 0, 200L).otherwise(365L).as("vt"),
        lit(0L).as("tf"),
        when(col("k") % 2 === 0, 180L).otherwise(INF).as("tt"))
      val b = base.where(col("k") % 2 === 0)
        .select(col("k"), round(col("bal") + 100, 2).as("v"),
          lit(0L).as("vf"),
          when(col("k") % 3 === 0, 200L).otherwise(365L).as("vt"),
          lit(180L).as("tf"), lit(INF).as("tt"))
      val c = base.where(col("k") % 3 === 0)
        .select(col("k"), round(col("bal") + 50, 2).as("v"),
          lit(200L).as("vf"), lit(365L).as("vt"),
          lit(0L).as("tf"), lit(INF).as("tt"))
      val versions = a.unionAll(b).unionAll(c)
      def asOf(tx: Long, valid: Long) =
        versions.where(col("tf") <= tx && col("tt") > tx
          && col("vf") <= valid && col("vt") > valid)
          .select(col("k"), col("v"))
      asOf(190L, 250L).withColumnRenamed("v", "v_t190_v250")
        .join(asOf(170L, 100L).withColumnRenamed("v", "v_t170_v100"), "k")
        .selectExpr("CAST(k AS BIGINT) AS c_custkey",
          "v_t190_v250", "v_t170_v100")
        .orderBy("c_custkey")
    }),

    // WATERMARK AUDIT: one narrow scan → per-bucket maxima (tiny table) →
    // running max across buckets → intra-bucket preceding-row window —
    // the global prefix max WITHOUT a single-partition global window;
    // then 4 broadcast delay rows cross the labeled events once.
    "q_watermark_audit" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = table(s, dir, "events")
        .select(col("event_id"), unix_micros(col("ts")).as("us"))
        .withColumn("b", expr(s"event_id div $Bucket"))
        .ckpt()
      val bmax = ev.groupBy("b").agg(max("us").as("bm"))
        .withColumn("prev_bm", max("bm").over(
          Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)))
      val labeled = ev.join(broadcast(bmax.select("b", "prev_bm")), "b")
        .withColumn("intra", max("us").over(
          Window.partitionBy("b").orderBy("event_id")
            .rowsBetween(Window.unboundedPreceding, -1)))
        // greatest() skips NULLs; NULL only for the very first arrival,
        // where the late-test below is then NULL -> not counted (oracle:
        // rm IS NOT NULL)
        .withColumn("rm", greatest(col("prev_bm"), col("intra")))
      import s.implicits._
      val ds = broadcast(Delays.toDF("delay_us"))
      val tot = ev.agg(count(lit(1)).as("t"))
      labeled.crossJoin(ds)
        .groupBy("delay_us")
        .agg(sum(when(col("us") < col("rm") - col("delay_us"), 1L)
          .otherwise(0L)).as("n_late"))
        .crossJoin(broadcast(tot))
        .selectExpr("CAST(delay_us AS BIGINT) AS delay_us",
          "CAST(n_late AS BIGINT) AS n_late",
          "round(CAST(n_late AS DOUBLE) / t, 6) AS frac_late")
        .orderBy("delay_us")
    }),
  )

  val oracle: Map[String, String] = strictMap(

    "q_bitemporal" ->
      """WITH base AS (
        |  SELECT c_custkey AS k, round(c_acctbal, 2) AS bal FROM customer
        |  WHERE c_custkey % 37 = 0
        |),
        |versions AS (
        |  SELECT k, bal AS v, 0 AS vf,
        |    CASE WHEN k % 3 = 0 THEN 200 ELSE 365 END AS vt,
        |    0 AS tf, CASE WHEN k % 2 = 0 THEN 180 ELSE 100000 END AS tt
        |  FROM base
        |  UNION ALL
        |  SELECT k, round(bal + 100, 2), 0,
        |    CASE WHEN k % 3 = 0 THEN 200 ELSE 365 END, 180, 100000
        |  FROM base WHERE k % 2 = 0
        |  UNION ALL
        |  SELECT k, round(bal + 50, 2), 200, 365, 0, 100000
        |  FROM base WHERE k % 3 = 0
        |),
        |q1 AS (SELECT k, v FROM versions
        |       WHERE tf <= 190 AND tt > 190 AND vf <= 250 AND vt > 250),
        |q2 AS (SELECT k, v FROM versions
        |       WHERE tf <= 170 AND tt > 170 AND vf <= 100 AND vt > 100)
        |SELECT CAST(k AS BIGINT) AS c_custkey,
        |  q1.v AS v_t190_v250, q2.v AS v_t170_v100
        |FROM q1 JOIN q2 USING (k) ORDER BY c_custkey""".stripMargin,

    "q_watermark_audit" -> {
      val delays = Delays.mkString(", ")
      s"""WITH e AS (
         |  SELECT event_id, epoch_us(ts) AS us FROM events
         |),
         |r AS (
         |  SELECT us,
         |    max(us) OVER (ORDER BY event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rm
         |  FROM e
         |),
         |t AS (SELECT count(*) AS t FROM e)
         |SELECT CAST(delay_us AS BIGINT) AS delay_us,
         |  CAST(sum(CASE WHEN rm IS NOT NULL AND us < rm - delay_us
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
         |  round(CAST(sum(CASE WHEN rm IS NOT NULL AND us < rm - delay_us
         |    THEN 1 ELSE 0 END) AS DOUBLE) / t.t, 6) AS frac_late
         |FROM r, unnest([$delays]) AS d(delay_us), t
         |GROUP BY delay_us, t.t ORDER BY delay_us""".stripMargin
    },
  )
}
