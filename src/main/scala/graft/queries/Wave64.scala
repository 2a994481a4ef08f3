package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Ckpt._

/** Wave-64 additions — one matrix-factorization half-step, off-policy
  * evaluation, speculative-decoding acceptance, and an ordering audit:
  *
  *  - q_als_round: ONE alternating-least-squares user-side solve for a
  *    2-factor implicit-feedback model (Hu-Koren-Volinsky shape): item
  *    factors are md5-derived integer vectors (q/1000), each user's
  *    2×2 ridge normal equation Aᵀu = b is solved in CLOSED FORM with
  *    exact integer arithmetic (A = Σ qqᵀ + λI, b = Σ q over the user's
  *    items, capped at 32 by md5 rank), and the only IEEE operation is
  *    the final cofactor/determinant division, rounded once. The
  *    per-key small-dense-solve pattern every distributed ALS iteration
  *    reduces to — no gradient, no global sync.
  *  - q_ips_offpolicy: inverse-propensity off-policy evaluation — the
  *    logged uniform assignment (user parity, p = 1/2 literal) replayed
  *    against a deterministic target policy (user_id % 3 = 0): IPS
  *    value = mean over users of 1[z = π(u)]·2·reward. The bandit-eval
  *    tier beside q_iv_wald's IV and q_diff_in_diff; exact integer
  *    sums, one rounded division per estimate.
  *  - q_draft_acceptance: speculative-decoding acceptance rate of a
  *    bigram draft model — per held-out bigram, does the train-split
  *    argmax continuation (ties → word asc) equal the actual next
  *    word? Reports per-source acceptance and known-context coverage —
  *    the accept-rate arithmetic behind draft-model speedup estimates.
  *    Aggregate tables sized by |bigram types| (the q_lm_kn shape).
  *  - q_order_inversions: out-of-order-arrival audit — fraction of
  *    consecutive event-id pairs (per user) whose timestamps invert.
  *    ONE lag window per user partition; the ingest-quality signal
  *    behind every watermark-delay choice (q_watermark_audit's
  *    upstream question).
  *
  * Determinism: item factors and policy probabilities are md5-derived /
  * literal integers; argmax ties break by word; every division is a
  * terminal round from exact integers; total ORDER BYs everywhere.
  */
object Wave64 extends Catalog {

  /** Items kept per user for the ALS solve (md5-rank sampled constant —
    * the per-user solve must stay O(cap·k²) at any scale). */
  private val AlsCap = 32
  /** Ridge λ = 0.1 in the raw integer unit system (factors are f/1000,
    * so A's entries carry 10⁻⁶ units: λ_raw = 0.1·10⁶). */
  private val LambdaRaw = 100000L

  /** md5-derived item factor in [-1000, 1000] (integer, meaning f/1000)
    * — same spelling in both engines via the shared hex machinery. */
  private def qSpark(j: Int): String =
    s"CAST(conv(substring(md5(concat('als$j:', CAST(pk AS STRING))), 1, 8), 16, 10) AS BIGINT) % 2001 - 1000"
  private def qSql(j: Int): String =
    s"${hex2longSql(s"md5('als$j:' || CAST(pk AS VARCHAR))", 1)} % 2001 - 1000"

  val queries: Map[String, Q] = strictMap(

    "q_als_round" -> ((s, dir) => {
      val ui = table(s, dir, "orders")
        .select(col("o_orderkey").as("ok"), col("o_custkey").as("ck"))
        .join(table(s, dir, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")), "ok")
        .select("ck", "pk").distinct()
        .withColumn("r", row_number().over(Window.partitionBy("ck")
          .orderBy(expr("md5(CAST(pk AS STRING))"), col("pk"))))
        .where(col("r") <= AlsCap)
        .select(col("ck"), col("pk"),
          expr(qSpark(1)).as("q1"), expr(qSpark(2)).as("q2"))
      ui.groupBy("ck")
        .agg(count(lit(1)).as("n"),
          (sum(col("q1") * col("q1")) + LambdaRaw).as("a11"),
          sum(col("q1") * col("q2")).as("a12"),
          (sum(col("q2") * col("q2")) + LambdaRaw).as("a22"),
          // implicit r = 1 per kept item: b_j = Σ q_j (10⁻³ units)
          sum(col("q1")).as("b1"), sum(col("q2")).as("b2"))
        .withColumn("det", col("a11") * col("a22") - col("a12") * col("a12"))
        // u_true = 1000 · cofactor / det (unit bookkeeping: A raw 10⁻⁶,
        // b raw 10⁻³); λ > 0 ⇒ det > 0
        .selectExpr("CAST(ck AS BIGINT) AS custkey", "CAST(n AS BIGINT) AS n_items",
          "round(1000.0 * CAST(a22 * b1 - a12 * b2 AS DOUBLE) / det, 6) AS u1",
          "round(1000.0 * CAST(a11 * b2 - a12 * b1 AS DOUBLE) / det, 6) AS u2")
        .orderBy("custkey")
    }),

    "q_ips_offpolicy" -> ((s, dir) => {
      val pu = table(s, dir, "events").groupBy("user_id")
        .agg(sum(when(col("event_type") === "purchase",
          expr("CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT)"))
          .otherwise(0L)).as("rew"))
        .withColumn("z", col("user_id") % 2)
        .withColumn("pi", when(col("user_id") % 3 === 0, 1L).otherwise(0L))
      pu.groupBy()
        .agg(count(lit(1)).as("n"),
          sum(col("rew")).as("sum_rew"),
          sum(when(col("z") === col("pi"), col("rew")).otherwise(0L))
            .as("matched_rew"),
          sum(when(col("z") === col("pi"), 1L).otherwise(0L)).as("n_matched"))
        .selectExpr("CAST(n AS BIGINT) AS n_users",
          "CAST(n_matched AS BIGINT) AS n_matched",
          "round(CAST(sum_rew AS DOUBLE) / n, 6) AS logged_mean",
          // 1/p = 2 (uniform parity logging), one rounded division
          "round(2.0 * CAST(matched_rew AS DOUBLE) / n, 6) AS ips_value")
    }),

    "q_draft_acceptance" -> ((s, dir) => {
      val bg = table(s, dir, "documents")
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("a"))
        .where(expr("size(a) >= 2"))
        .select(col("doc_id"), col("source"),
          explode(expr(
            "transform(sequence(1, size(a) - 1)," +
              " i -> struct(a[i-1] AS v, a[i] AS w))")).as("b"))
        .select(col("doc_id"), col("source"),
          col("b.v").as("v"), col("b.w").as("w"))
      val train = bg.where(expr(HashBucketSpark) < 80)
      // draft(v) = the train argmax continuation (count desc, word asc)
      val draft = train.groupBy("v", "w").agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(Window.partitionBy("v")
          .orderBy(desc("c"), asc("w"))))
        .where(col("rn") === 1)
        .select(col("v"), col("w").as("draft"))
      bg.where(expr(HashBucketSpark) >= 80)
        .join(draft, Seq("v"), "left_outer")
        .groupBy("source")
        .agg(count(lit(1)).as("n_bg"),
          sum(when(col("draft").isNotNull, 1L).otherwise(0L)).as("n_known"),
          sum(when(col("w") === col("draft"), 1L).otherwise(0L))
            .as("n_accept"))
        .selectExpr("source", "CAST(n_bg AS BIGINT) AS n_bg",
          "CAST(n_known AS BIGINT) AS n_known",
          "CAST(n_accept AS BIGINT) AS n_accept",
          "round(CAST(n_accept AS DOUBLE) / n_bg, 6) AS accept_rate",
          "round(CAST(n_known AS DOUBLE) / n_bg, 6) AS ctx_coverage")
        .orderBy("source")
    }),

    "q_order_inversions" -> ((s, dir) => {
      val ev = table(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(ts)").as("tsu"))
        .withColumn("prev_ts", lag(col("tsu"), 1).over(
          Window.partitionBy("user_id").orderBy("event_id")))
      ev.where(col("prev_ts").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("tsu") < col("prev_ts"), 1L).otherwise(0L))
            .as("n_inv"))
        .groupBy()
        .agg(count(lit(1)).as("n_users"), sum(col("n_pairs")).as("n_pairs"),
          sum(col("n_inv")).as("n_inv"),
          sum(when(col("n_inv") > 0, 1L).otherwise(0L)).as("users_with_inv"))
        .selectExpr("CAST(n_users AS BIGINT) AS n_users",
          "CAST(n_pairs AS BIGINT) AS n_pairs",
          "CAST(n_inv AS BIGINT) AS n_inv",
          "CAST(users_with_inv AS BIGINT) AS users_with_inv",
          "round(CAST(n_inv AS DOUBLE) / n_pairs, 6) AS inv_rate")
    })
  )

  val oracle: Map[String, String] = strictMap(

    "q_als_round" ->
      s"""WITH ui0 AS (
         |  SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS pk
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         |),
         |ui AS (
         |  SELECT ck, pk,
         |    ${qSql(1)} AS q1,
         |    ${qSql(2)} AS q2
         |  FROM (
         |    SELECT ck, pk, row_number() OVER (PARTITION BY ck
         |      ORDER BY md5(CAST(pk AS VARCHAR)), pk) AS r
         |    FROM ui0)
         |  WHERE r <= $AlsCap
         |),
         |ag AS (
         |  SELECT ck, count(*) AS n,
         |    CAST(sum(q1 * q1) + $LambdaRaw AS BIGINT) AS a11,
         |    CAST(sum(q1 * q2) AS BIGINT) AS a12,
         |    CAST(sum(q2 * q2) + $LambdaRaw AS BIGINT) AS a22,
         |    CAST(sum(q1) AS BIGINT) AS b1, CAST(sum(q2) AS BIGINT) AS b2
         |  FROM ui GROUP BY ck
         |)
         |SELECT CAST(ck AS BIGINT) AS custkey, CAST(n AS BIGINT) AS n_items,
         |  round(1000.0 * (a22 * b1 - a12 * b2) / (a11 * a22 - a12 * a12), 6) AS u1,
         |  round(1000.0 * (a11 * b2 - a12 * b1) / (a11 * a22 - a12 * a12), 6) AS u2
         |FROM ag ORDER BY custkey""".stripMargin,

    "q_ips_offpolicy" ->
      """WITH pu AS (
        |  SELECT user_id, user_id % 2 AS z,
        |    CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END AS pi,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS rew
        |  FROM events GROUP BY 1, 2, 3
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(CASE WHEN z = pi THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
        |  round(CAST(sum(rew) AS DOUBLE) / count(*), 6) AS logged_mean,
        |  round(2.0 * CAST(sum(CASE WHEN z = pi THEN rew ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS ips_value
        |FROM pu""".stripMargin,

    "q_draft_acceptance" ->
      s"""WITH toks AS (
         |  SELECT doc_id, source, string_split(text, ' ') AS a FROM documents
         |),
         |bg AS (
         |  SELECT doc_id, source, a[i] AS v, a[i + 1] AS w
         |  FROM toks, unnest(generate_series(1, len(a) - 1)) AS t(i)
         |  WHERE len(a) >= 2
         |),
         |train AS (SELECT * FROM bg WHERE $hashBucketSql < 80),
         |draft AS (
         |  SELECT v, w AS draft FROM (
         |    SELECT v, w, row_number() OVER (PARTITION BY v
         |      ORDER BY count(*) DESC, w) AS rn
         |    FROM train GROUP BY v, w)
         |  WHERE rn = 1
         |)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_bg,
         |  CAST(sum(CASE WHEN draft IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_known,
         |  CAST(sum(CASE WHEN w = draft THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_accept,
         |  round(CAST(sum(CASE WHEN w = draft THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 6) AS accept_rate,
         |  round(CAST(sum(CASE WHEN draft IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 6) AS ctx_coverage
         |FROM bg LEFT JOIN draft USING (v)
         |WHERE $hashBucketSql >= 80
         |GROUP BY source ORDER BY source""".stripMargin,

    "q_order_inversions" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tsu,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id)
        |      AS prev_ts
        |  FROM events
        |),
        |pu AS (
        |  SELECT user_id, count(*) AS n_pairs,
        |    CAST(sum(CASE WHEN tsu < prev_ts THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_inv
        |  FROM ev WHERE prev_ts IS NOT NULL GROUP BY user_id
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(n_pairs) AS BIGINT) AS n_pairs,
        |  CAST(sum(n_inv) AS BIGINT) AS n_inv,
        |  CAST(sum(CASE WHEN n_inv > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS users_with_inv,
        |  round(CAST(sum(n_inv) AS DOUBLE) / sum(n_pairs), 6) AS inv_rate
        |FROM pu""".stripMargin
  )
}
