package graft.queries

import org.apache.spark.sql.functions._

/** Wave-59 addition — the time-weighted average (TWAP):
  *
  *  - q_twap: per user, the step-interpolated time-weighted mean of
  *    `value` over the user's observation span: each event's value holds
  *    until the next event, so TWAP = Σ vᵢ·gapᵢ / Σ gapᵢ (gaps in ms —
  *    see the in-code note). The metrics/finance primitive a plain AVG
  *    silently gets wrong whenever sampling is irregular (bursts
  *    overweight themselves) — q_ewma decays by COUNT, q_resample_ffill
  *    regrids; this is the exact step integral. Single-event users (no
  *    gaps) report NULL.
  *
  * Determinism: gaps are exact BIGINT millis (identically truncated from
  * micros in both engines); each term is value (round-4) × BIGINT
  * accumulated as a decimal sum; the final division is terminal round-6.
  * Event ordering ties break on event_id.
  */
object Wave59 extends Catalog {

  val queries: Map[String, Q] = strictMap(

    // TWAP: one window pass per user (lead) + one group-by — partition-
    // parallel, no self-joins; the integral is a partial-agg'd decimal sum.
    "q_twap" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      table(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"), round(col("value"), 4).as("v"))
        .withColumn("nxt", lead(col("us"), 1).over(w))
        // millisecond durations keep v·gap terms far inside DECIMAL(18,4)
        // (micros × value would overflow the exact-sum type at large SFs);
        // the span is Σ of the SAME truncated gaps, so the ratio is
        // internally consistent
        .withColumn("gap_ms", expr("(nxt - us) div 1000"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum("gap_ms").as("span_ms"),
          dsum(col("v") * col("gap_ms"), 4).as("integral"))
        .selectExpr("CAST(user_id AS BIGINT) AS user_id",
          "CAST(n_events AS BIGINT) AS n_events",
          "CAST(span_ms AS BIGINT) AS span_ms",
          "CASE WHEN span_ms > 0 THEN round(integral / span_ms, 6)" +
            " ELSE CAST(NULL AS DOUBLE) END AS twap")
        .orderBy("user_id")
    }),
  )

  val oracle: Map[String, String] = strictMap(

    "q_twap" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, epoch_us(ts) AS us,
         |    round(value, 4) AS v
         |  FROM events
         |),
         |l AS (
         |  SELECT *, (lead(us) OVER (PARTITION BY user_id
         |    ORDER BY us, event_id) - us) // 1000 AS gap_ms
         |  FROM e
         |)
         |SELECT CAST(user_id AS BIGINT) AS user_id,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(sum(gap_ms) AS BIGINT) AS span_ms,
         |  CASE WHEN sum(gap_ms) > 0
         |    THEN round(${dsumSql("v * gap_ms", 4)} / sum(gap_ms), 6)
         |    ELSE CAST(NULL AS DOUBLE) END AS twap
         |FROM l GROUP BY user_id ORDER BY user_id""".stripMargin,
  )
}
