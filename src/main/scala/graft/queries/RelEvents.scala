package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.operators.Ckpt._

/** Event-sequence queries — sessionization (gap and window), funnels,
  * retention, transitions, concurrency, 3-sequences, and forward-fill
  * resampling. Split from Relational.scala (round 10); shared helpers
  * live in [[Relational]] (imported below).
  */
object RelEvents extends Catalog {
  import Relational._

  val queries: Map[String, Q] = strictMap(
    // Batch sessionization (gap-based), the bounded-input twin of
    // streaming.StreamOps.sessionize: lag → new-session flag → running sum
    // as session id → per-session aggregates. Two windows + one groupBy,
    // all partitioned by user (no global ops).
    "q_sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val gapUs = 30L * 60 * 1000000 // 30 min
      val byUser = Window.partitionBy("user_id").orderBy("us", "event_id")
      val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      table(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"), col("value"))
        .withColumn("new_sess",
          when(col("us") - lag(col("us"), 1).over(byUser) > gapUs, 1L)
            .otherwise(lit(0L)))
        .withColumn("session_id", sum(col("new_sess")).over(run))
        .groupBy("user_id", "session_id")
        .agg(min(col("us")).as("start_us"), max(col("us")).as("end_us"),
          count(lit(1)).as("n"), dsum(col("value"), 2).as("sum_value"))
        .orderBy("user_id", "session_id")
    }),

    // Time-series resampling with forward fill — the gap-fill pass behind
    // metrics dashboards and feature stores: events land on a regular
    // 6-hour grid per user; empty buckets carry the last observation
    // forward (NULL before the first). The grid is users × global bucket
    // span (one 1-row span agg exploded — no per-user scans) and the fill
    // is the count-non-null group trick: two windows, no self-join, no
    // per-gap search. Deterministic: the per-bucket observation tie-breaks
    // on (us, event_id); the fill copies a single value (no arithmetic).
    "q_resample_ffill" -> ((s, dir) => {
      val bucketUs = 21600000000L // 6 h in micros
      val w = Window
      val ev = table(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"), col("value"))
        .withColumn("bucket", expr(s"us div $bucketUs"))
      val obs = ev.withColumn("rn", row_number().over(
          w.partitionBy("user_id", "bucket")
            .orderBy(col("us").desc, col("event_id").desc)))
        .where(col("rn") === 1)
        .select(col("user_id"), col("bucket"), col("value").as("obs"))
      val span = ev.agg(min("bucket").as("b0"), max("bucket").as("b1"))
      val grid = ev.select("user_id").distinct()
        .crossJoin(broadcast(span))
        .select(col("user_id"), explode(expr("sequence(b0, b1)")).as("bucket"))
      grid.join(obs, Seq("user_id", "bucket"), "left_outer")
        .withColumn("grp", count(col("obs")).over(
          w.partitionBy("user_id").orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("filled",
          round(max(col("obs")).over(w.partitionBy("user_id", "grp")), 2))
        .select(col("user_id"), col("bucket"), col("filled"),
          when(col("obs").isNotNull, 1L).otherwise(0L).as("is_obs"))
        .orderBy("user_id", "bucket")
    }),

    // The BUILT-IN gap sessionization (session_window — the same operator
    // Structured Streaming uses for stateful sessions, here in batch):
    // sessions merge while events fall inside [start, last + gap).
    // Deliberately strict-boundary (an event at exactly last + gap starts
    // a NEW session), which the oracle mirrors with `>= gap`; the custom
    // twin q_sessionize uses `> gap` — both documented, each
    // oracle-checked under its own rule.
    "q_session_window" -> ((s, dir) =>
      table(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 2).as("sum_value"))
        .select(col("user_id"),
          unix_micros(col("w.start")).as("start_us"),
          unix_micros(col("w.end")).as("end_us"),
          col("n"), col("sum_value"))
        .orderBy("user_id", "start_us")),

    // Ordered-funnel analysis (view → click → purchase): per step, the
    // user's earliest qualifying time must follow their earliest
    // qualifying time for the previous step — min-ts aggs + equi joins on
    // user_id, never a per-user event sort or collect. Each stage's input
    // shrinks (filter by type, then semi-like join against survivors), so
    // at 100 TB the funnel is three pruned shuffles, not an event replay.
    "q_funnel" -> ((s, dir) => {
      val ev = table(s, dir, "events")
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      val s1 = ev.where(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("us")).as("t1"))
      val s2 = ev.where(col("event_type") === "click")
        .join(s1, Seq("user_id")).where(col("us") > col("t1"))
        .groupBy("user_id").agg(min(col("us")).as("t2"))
      val s3 = ev.where(col("event_type") === "purchase")
        .join(s2, Seq("user_id")).where(col("us") > col("t2"))
        .groupBy("user_id").agg(min(col("us")).as("t3"))
      ev.agg(count_distinct(col("user_id")).as("n_users"))
        .crossJoin(s1.agg(count(lit(1)).as("n_view")))
        .crossJoin(s2.agg(count(lit(1)).as("n_view_click")))
        .crossJoin(s3.agg(count(lit(1)).as("n_view_click_purchase")))
    }),

    // Cohort retention: users grouped by first-active day, counted on each
    // of the next 7 days they return. One distinct (user, day) pass, one
    // min-agg for the cohort, one join — counts are exact integers.
    "q_retention" -> ((s, dir) => {
      val ev = table(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val cohort = ev.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
      ev.join(cohort, Seq("user_id"))
        .select(col("cohort_day"),
          datediff(col("day"), col("cohort_day")).cast("long").as("offset"),
          col("user_id"))
        .where(col("offset") <= 7)
        .groupBy("cohort_day", "offset")
        .agg(count_distinct(col("user_id")).as("n_users"))
        .orderBy("cohort_day", "offset")
    }),

    // Sweep-line interval concurrency (peak concurrent sessions): each
    // event opens a 30-minute half-open interval; ±1 deltas ordered by
    // (t, delta, event_id) — ends sort before starts at the same instant
    // (the [s,e) convention) and the tie-break makes the running sum's
    // intermediate values deterministic. One window shuffle per
    // event_type (parallel across types); peak and its first-attained
    // time come from a tiny join-back, not a second data pass. Pure
    // integer arithmetic end to end.
    "q_concurrency" -> ((s, dir) => {
      val ev = table(s, dir, "events")
        .select(col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("st"))
        .withColumn("en", col("st") + ConcIntervalUs)
      val pts = ev.select(col("event_type"), col("st").as("t"),
          lit(1L).as("d"), col("event_id"))
        .unionByName(ev.select(col("event_type"), col("en").as("t"),
          lit(-1L).as("d"), col("event_id")))
      val w = Window.partitionBy("event_type").orderBy("t", "d", "event_id")
      val run = pts.withColumn("c", sum("d").over(w))
      val peak = run.groupBy("event_type").agg(max(col("c")).as("peak"),
        (count(lit(1)) / 2).cast("long").as("n_intervals"))
      run.join(peak, "event_type")
        .where(col("c") === col("peak"))
        .groupBy("event_type")
        .agg(max(col("peak")).as("peak"), min(col("t")).as("peak_at"),
          max(col("n_intervals")).as("n_intervals"))
        .orderBy("event_type")
    }),

    // First-order Markov transitions between event types per user (the
    // user-journey transition matrix): lead() over each user's event-time
    // order pairs consecutive events; pair counts partial-aggregate
    // map-side, and the per-source normalizer is a second tiny aggregate
    // joined back — never a window over the raw pair rows. The transition
    // probability is the single terminal division.
    "q_transitions" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val pairs = table(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("from_type"))
        .withColumn("to_type", lead(col("from_type"), 1).over(w))
        .where(col("to_type").isNotNull)
      val cnt = pairs.groupBy("from_type", "to_type")
        .agg(count(lit(1)).as("cnt"))
      val tot = cnt.groupBy("from_type").agg(sum(col("cnt")).as("tot"))
      cnt.join(broadcast(tot), "from_type")
        .select(col("from_type"), col("to_type"), col("cnt"),
          round(expr("CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE)"), 6).as("p"))
        .orderBy("from_type", "to_type")
    }),

    // Frequent 3-step user journeys (sequential-pattern mining, the
    // PrefixSpan seed): two lead()s per user pair consecutive event
    // triples — the window partitions by user_id (many small groups, the
    // SAFE window shape), triple counts partial-agg; support filter and
    // a total (cnt desc, triple) top-25.
    "q_seq3" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      table(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("e1"))
        .withColumn("e2", lead(col("e1"), 1).over(w))
        .withColumn("e3", lead(col("e1"), 2).over(w))
        .where(col("e3").isNotNull)
        .groupBy("e1", "e2", "e3").agg(count(lit(1)).as("cnt"))
        .where(col("cnt") >= 3)
        .orderBy(desc("cnt"), asc("e1"), asc("e2"), asc("e3"))
        .limit(25)
    })
  )

  val oracle: Map[String, String] = strictMap(
    "q_sessionize" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS us, value FROM events
        |),
        |f AS (
        |  SELECT *, CASE WHEN us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |),
        |g AS (
        |  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM f
        |)
        |SELECT user_id, session_id, min(us) AS start_us, max(us) AS end_us,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM g GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "q_resample_ffill" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us, value,
        |    epoch_us(ts) // 21600000000 AS bucket
        |  FROM events
        |),
        |obs AS (
        |  SELECT user_id, bucket, value AS obs FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id, bucket
        |      ORDER BY us DESC, event_id DESC) AS rn FROM e)
        |  WHERE rn = 1
        |),
        |span AS (SELECT min(bucket) AS b0, max(bucket) AS b1 FROM e),
        |grid AS (
        |  SELECT u.user_id, g.bucket
        |  FROM (SELECT DISTINCT user_id FROM e) u
        |  CROSS JOIN (SELECT unnest(generate_series((SELECT b0 FROM span),
        |                                            (SELECT b1 FROM span))) AS bucket) g
        |),
        |f AS (
        |  SELECT grid.user_id, grid.bucket, obs.obs,
        |    count(obs.obs) OVER (PARTITION BY grid.user_id ORDER BY grid.bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM grid LEFT JOIN obs
        |    ON grid.user_id = obs.user_id AND grid.bucket = obs.bucket
        |)
        |SELECT user_id, bucket,
        |  round(max(obs) OVER (PARTITION BY user_id, grp), 2) AS filled,
        |  CAST(CASE WHEN obs IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_obs
        |FROM f ORDER BY user_id, bucket""".stripMargin,

    // Strict gap boundary (>= gap ⇒ new session) — session_window's
    // [start, last + gap) contract; end = last event + gap.
    "q_session_window" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us, value FROM events
        |),
        |f AS (
        |  SELECT *, CASE WHEN us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
        |),
        |g AS (
        |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY us
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM f
        |)
        |SELECT user_id, min(us) AS start_us, max(us) + 1800000000 AS end_us,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM g GROUP BY user_id, session_id
        |ORDER BY user_id, start_us""".stripMargin,

    "q_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
        |),
        |s1 AS (SELECT user_id, min(us) AS t1 FROM e
        |       WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(us) AS t2 FROM e
        |       JOIN s1 ON e.user_id = s1.user_id
        |       WHERE event_type = 'click' AND us > t1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(us) AS t3 FROM e
        |       JOIN s2 ON e.user_id = s2.user_id
        |       WHERE event_type = 'purchase' AND us > t2 GROUP BY e.user_id)
        |SELECT
        |  (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM e) AS n_users,
        |  (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_view,
        |  (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n_view_click,
        |  (SELECT CAST(count(*) AS BIGINT) FROM s3) AS n_view_click_purchase""".stripMargin,

    "q_retention" ->
      """WITH e AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id)
        |SELECT cohort_day, CAST(e.day - c.cohort_day AS BIGINT) AS "offset",
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM e JOIN c ON e.user_id = c.user_id
        |WHERE e.day - c.cohort_day <= 7
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_concurrency" ->
      s"""WITH ev AS (
         |  SELECT event_type, event_id, epoch_us(ts) AS st,
         |    epoch_us(ts) + $ConcIntervalUs AS en
         |  FROM events
         |),
         |pts AS (
         |  SELECT event_type, st AS t, CAST(1 AS BIGINT) AS d, event_id FROM ev
         |  UNION ALL
         |  SELECT event_type, en, CAST(-1 AS BIGINT), event_id FROM ev
         |),
         |r AS (
         |  SELECT event_type, t,
         |    CAST(sum(d) OVER (PARTITION BY event_type
         |      ORDER BY t, d, event_id) AS BIGINT) AS c
         |  FROM pts
         |),
         |p AS (
         |  SELECT event_type, max(c) AS peak,
         |    CAST(count(*) / 2 AS BIGINT) AS n_intervals
         |  FROM r GROUP BY event_type
         |)
         |SELECT r.event_type, max(p.peak) AS peak, min(r.t) AS peak_at,
         |  max(p.n_intervals) AS n_intervals
         |FROM r JOIN p ON r.event_type = p.event_type AND r.c = p.peak
         |GROUP BY r.event_type
         |ORDER BY r.event_type""".stripMargin,

    "q_transitions" ->
      """WITH pairs AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events
        |),
        |c AS (
        |  SELECT from_type, to_type, count(*) AS cnt
        |  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
        |),
        |t AS (SELECT from_type, CAST(sum(cnt) AS BIGINT) AS tot FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.cnt,
        |  round(CAST(c.cnt AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS p
        |FROM c JOIN t ON c.from_type = t.from_type
        |ORDER BY c.from_type, c.to_type""".stripMargin,

    "q_seq3" ->
      s"""WITH t AS (
         |  SELECT event_type AS e1,
         |    lead(event_type, 1) OVER w AS e2,
         |    lead(event_type, 2) OVER w AS e3
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         |SELECT e1, e2, e3, count(*) AS cnt
         |FROM t WHERE e3 IS NOT NULL
         |GROUP BY e1, e2, e3
         |HAVING count(*) >= 3
         |ORDER BY cnt DESC, e1, e2, e3
         |LIMIT 25""".stripMargin
  )
}
