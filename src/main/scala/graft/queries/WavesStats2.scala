package graft.queries

import graft.operators.{Ckpt, Tokenize}
import graft.operators.Ckpt._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Robust effect sizes, agreement, sampling design and corpus-estimation
  * waves (16-31 era) — the second half of the consolidated statistics
  * family (see [[WavesStats]] for the hypothesis-test half).
  *
  * Consolidated from the round-era Wave files (r11 verdict task 7):
  * pure moves — each object below is byte-identical to its former
  * single-object file minus the per-file package/import header,
  * which is merged (conflict-free union) above. */

/** Wave-16 additions: robust effect sizes, uncertainty-aware ranking,
  * causal panels, and forecast benchmarking —
  *
  *  - Cliff's delta between two event-value distributions, computed
  *    EXACTLY from the bucketed cross-multiply (Σ d₀·cum d₁ — never
  *    the O(n₀·n₁) pairwise form): the ordinal effect size that stays
  *    meaningful when t-test assumptions fail,
  *  - Wilson-score lower-bound ranking of cohort conversion rates —
  *    the "sort by rating" fix for small-sample cohorts outranking
  *    solid ones (naive-rate vs Wilson rank inversions surfaced
  *    side-by-side),
  *  - difference-in-differences over the (treat × post) panel — the
  *    workhorse causal read-out when randomization is absent,
  *  - seasonal forecast skill: MAE of the seasonal-naive (t−7)
  *    forecast over the naive (t−1) baseline on the daily series —
  *    the M-competition sanity benchmark every forecasting pipeline
  *    reports before anything fancier.
  *
  * Determinism: counts and absolute-error sums exact BIGINTs; money
  * in ×100 cents; products that pass int64 in DECIMAL(38,0); one
  * identical terminal float chain per statistic.
  */
object Wave16 extends Catalog {

  private val DayUs = 24L * 3600L * 1000000L

  /** Wilson z for the 95% lower bound. */
  private val WilsonZ = 1.96

  val queries: Map[String, Q] = strictMap(

    // CLIFF'S DELTA between purchase and click value distributions on
    // the floor(value) bucket grid (bucket-level equality counts as a
    // tie — the same bucketed contract as q_ks_test): #(x>y) =
    // Σ_b d₀(b)·cumd₁(<b) and #(x<y) = Σ_b d₀(b)·(n₁−cumd₁(≤b)),
    // exact in DECIMAL(38,0) (d·cum wraps int64 past ~3e9 rows/side),
    // δ = (gt−lt)/(n₀n₁) one terminal chain. One count shuffle; the
    // cumulative runs on the ≤ |buckets|-row grid.
    "q_cliffs_delta" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val g = table(s, dir, "events")
        .where(col("event_type").isin("purchase", "click"))
        .select(col("event_type"),
          expr("CAST(floor(value) AS BIGINT)").as("b"))
        .groupBy("b")
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("d0"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("d1"))
        // ckpt: the bucket grid feeds the totals AND the cumulative pass
        .ckpt()
      val tot = broadcast(g.agg(sum("d0").cast("long").as("n0"),
        sum("d1").cast("long").as("n1")))
      val w = Window.orderBy("b")
      g.withColumn("c1", sum(col("d1")).over(w))
        .crossJoin(tot)
        .withColumn("gt", expr(
          "CAST(d0 AS DECIMAL(38,0)) * (c1 - d1)"))
        .withColumn("lt", expr(
          "CAST(d0 AS DECIMAL(38,0)) * (n1 - c1)"))
        .withColumn("tie", expr("CAST(d0 AS DECIMAL(38,0)) * d1"))
        .agg(sum("gt").as("sgt"), sum("lt").as("slt"), sum("tie").as("stie"),
          max("n0").as("n0"), max("n1").as("n1"))
        .selectExpr("n0", "n1",
          "round(CAST(sgt AS DOUBLE) / (CAST(n0 AS DOUBLE) * n1), 6)" +
            " AS p_gt",
          "round(CAST(slt AS DOUBLE) / (CAST(n0 AS DOUBLE) * n1), 6)" +
            " AS p_lt",
          "round(CAST(stie AS DOUBLE) / (CAST(n0 AS DOUBLE) * n1), 6)" +
            " AS p_tie",
          "round(CAST(sgt - slt AS DOUBLE) / (CAST(n0 AS DOUBLE) * n1), 6)" +
            " AS delta")
    }),

    // WILSON-SCORE LOWER-BOUND ranking of per-cohort purchase rates:
    // lb = (p̂ + z²/2n − z·√((p̂(1−p̂) + z²/4n)/n)) / (1 + z²/n) —
    // the uncertainty-penalized score that stops a 3-of-5 cohort
    // outranking a 300-of-600 one. Exact integer (n, x) per cohort;
    // the naive-rate rank and the Wilson rank ride side by side so
    // the inversions are visible. One count shuffle; ranking on the
    // m-row cohort grid.
    "q_wilson_rank" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val z = WilsonZ
      table(s, dir, "events")
        .select((col("user_id") % 20).cast("long").as("cohort"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
        .groupBy("cohort")
        .agg(count(lit(1)).as("n"), sum("y").as("x"))
        .withColumn("rate", expr("round(CAST(x AS DOUBLE) / n, 6)"))
        .withColumn("lb", expr(
          s"round((CAST(x AS DOUBLE) / n + $z * $z / (2.0 * n)" +
            s" - $z * sqrt((CAST(x AS DOUBLE) / n" +
            s" * (1.0 - CAST(x AS DOUBLE) / n) + $z * $z / (4.0 * n)) / n))" +
            s" / (1.0 + $z * $z / n), 6)"))
        .withColumn("rank_naive", row_number()
          .over(Window.orderBy(desc("rate"), asc("cohort"))).cast("long"))
        .withColumn("rank_wilson", row_number()
          .over(Window.orderBy(desc("lb"), asc("cohort"))).cast("long"))
        .selectExpr("cohort", "n", "x", "rate", "lb", "rank_naive",
          "rank_wilson")
        .orderBy("rank_wilson")
    }),

    // DIFFERENCE-IN-DIFFERENCES on the (treat = user parity) ×
    // (post = second half of the month) panel, outcome = mean event
    // value in EXACT ×100 cents: DiD = (m₁₁−m₁₀) − (m₀₁−m₀₀) with
    // cell means round-8 from exact integer sums. The 2×2 panel is
    // metadata after one partial-agg'd shuffle.
    "q_diff_in_diff" -> ((s, dir) => {
      val e = table(s, dir, "events")
        .select(col("user_id"),
          (unix_micros(col("ts")) / DayUs).cast("long").as("day"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      val d0 = e.agg(min("day").as("d0"))
      val cell = e.crossJoin(broadcast(d0))
        .select((col("user_id") % 2).cast("long").as("treat"),
          when(col("day") - col("d0") >= 15, 1L).otherwise(0L).as("post"),
          col("cents"))
        .groupBy("treat", "post")
        .agg(count(lit(1)).as("n"), sum("cents").as("sc"))
        .withColumn("mean_cents",
          expr("round(CAST(sc AS DOUBLE) / n, 8)"))
        // ckpt: the 2×2 panel feeds the DiD pick AND the final rows
        .ckpt()
      // per-cell max PICKS (not a float sum over cells — a 4-term
      // double sum is partial-agg order-dependent in the last ulp)
      val did = cell.agg(
          max(when(col("treat") === 1L && col("post") === 1L,
            col("mean_cents"))).as("m11"),
          max(when(col("treat") === 1L && col("post") === 0L,
            col("mean_cents"))).as("m10"),
          max(when(col("treat") === 0L && col("post") === 1L,
            col("mean_cents"))).as("m01"),
          max(when(col("treat") === 0L && col("post") === 0L,
            col("mean_cents"))).as("m00"))
        .selectExpr("round(m11 - m10 - (m01 - m00), 6) AS did_cents")
      cell.crossJoin(broadcast(did))
        .selectExpr("treat", "post", "n", "sc", "mean_cents", "did_cents")
        .orderBy("treat", "post")
    }),

    // SEASONAL FORECAST SKILL on the daily event-count series: MAE of
    // the seasonal-naive forecast x̂_t = x_{t−7} over the naive
    // x̂_t = x_{t−1}, both absolute-error sums EXACT BIGINTs over the
    // common scored window (t ≥ 8th day), skill = MAE_s/MAE_n — the
    // "does weekly seasonality even exist" gate a forecasting
    // pipeline runs before fitting anything. One daily-count shuffle;
    // lags on the |days|-row grid.
    "q_forecast_skill" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = table(s, dir, "events")
        .select((unix_micros(col("ts")) / DayUs).cast("long").as("day"))
        .groupBy("day").agg(count(lit(1)).as("x"))
      val w = Window.orderBy("day")
      daily
        .withColumn("l1", lag(col("x"), 1).over(w))
        .withColumn("l7", lag(col("x"), 7).over(w))
        .where(col("l7").isNotNull)
        .agg(count(lit(1)).cast("long").as("n_scored"),
          sum(abs(col("x") - col("l1"))).cast("long").as("ae_naive"),
          sum(abs(col("x") - col("l7"))).cast("long").as("ae_snaive"))
        .selectExpr("n_scored", "ae_naive", "ae_snaive",
          "CASE WHEN ae_naive > 0 THEN" +
            " round(CAST(ae_snaive AS DOUBLE) / ae_naive, 6)" +
            " ELSE CAST(0.0 AS DOUBLE) END AS skill")
    }),
  )

  val oracle: Map[String, String] = strictMap(

    "q_cliffs_delta" ->
      """WITH g AS (
        |  SELECT CAST(floor(value) AS BIGINT) AS b,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS d0,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS d1
        |  FROM events WHERE event_type IN ('purchase', 'click')
        |  GROUP BY 1
        |),
        |tot AS (
        |  SELECT CAST(sum(d0) AS BIGINT) AS n0, CAST(sum(d1) AS BIGINT) AS n1
        |  FROM g
        |),
        |c AS (
        |  SELECT b, d0, d1, sum(d1) OVER (ORDER BY b) AS c1 FROM g
        |),
        |s AS (
        |  SELECT sum(CAST(d0 AS DECIMAL(38,0)) * (c1 - d1)) AS sgt,
        |    sum(CAST(d0 AS DECIMAL(38,0)) * (tot.n1 - c1)) AS slt,
        |    sum(CAST(d0 AS DECIMAL(38,0)) * d1) AS stie,
        |    max(tot.n0) AS n0, max(tot.n1) AS n1
        |  FROM c CROSS JOIN tot
        |)
        |SELECT n0, n1,
        |  round(CAST(sgt AS DOUBLE) / (CAST(n0 AS DOUBLE) * n1), 6) AS p_gt,
        |  round(CAST(slt AS DOUBLE) / (CAST(n0 AS DOUBLE) * n1), 6) AS p_lt,
        |  round(CAST(stie AS DOUBLE) / (CAST(n0 AS DOUBLE) * n1), 6)
        |    AS p_tie,
        |  round(CAST(sgt - slt AS DOUBLE) / (CAST(n0 AS DOUBLE) * n1), 6)
        |    AS delta
        |FROM s""".stripMargin,

    "q_wilson_rank" ->
      s"""WITH c AS (
         |  SELECT CAST(user_id % 20 AS BIGINT) AS cohort, count(*) AS n,
         |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x
         |  FROM events GROUP BY 1
         |),
         |w AS (
         |  SELECT cohort, CAST(n AS BIGINT) AS n, CAST(x AS BIGINT) AS x,
         |    round(CAST(x AS DOUBLE) / n, 6) AS rate,
         |    round((CAST(x AS DOUBLE) / n + $WilsonZ * $WilsonZ / (2.0 * n)
         |      - $WilsonZ * sqrt((CAST(x AS DOUBLE) / n
         |      * (1.0 - CAST(x AS DOUBLE) / n)
         |      + $WilsonZ * $WilsonZ / (4.0 * n)) / n))
         |      / (1.0 + $WilsonZ * $WilsonZ / n), 6) AS lb
         |  FROM c
         |),
         |r AS (
         |  SELECT *,
         |    CAST(row_number() OVER (ORDER BY rate DESC, cohort) AS BIGINT)
         |      AS rank_naive,
         |    CAST(row_number() OVER (ORDER BY lb DESC, cohort) AS BIGINT)
         |      AS rank_wilson
         |  FROM w
         |)
         |SELECT cohort, n, x, rate, lb, rank_naive, rank_wilson
         |FROM r ORDER BY rank_wilson""".stripMargin,

    "q_diff_in_diff" ->
      s"""WITH e AS (
         |  SELECT user_id, CAST(epoch_us(ts) // $DayUs AS BIGINT) AS day,
         |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
         |  FROM events
         |),
         |d0 AS (SELECT min(day) AS d0 FROM e),
         |cell AS (
         |  SELECT CAST(user_id % 2 AS BIGINT) AS treat,
         |    CAST(CASE WHEN day - (SELECT d0 FROM d0) >= 15
         |      THEN 1 ELSE 0 END AS BIGINT) AS post,
         |    count(*) AS n, CAST(sum(cents) AS BIGINT) AS sc
         |  FROM e GROUP BY 1, 2
         |),
         |m AS (
         |  SELECT treat, post, CAST(n AS BIGINT) AS n, sc,
         |    round(CAST(sc AS DOUBLE) / n, 8) AS mean_cents
         |  FROM cell
         |),
         |did AS (
         |  SELECT round(
         |    max(CASE WHEN treat = 1 AND post = 1 THEN mean_cents END)
         |    - max(CASE WHEN treat = 1 AND post = 0 THEN mean_cents END)
         |    - (max(CASE WHEN treat = 0 AND post = 1 THEN mean_cents END)
         |    - max(CASE WHEN treat = 0 AND post = 0 THEN mean_cents END)),
         |    6) AS did_cents
         |  FROM m
         |)
         |SELECT treat, post, n, sc, mean_cents, did.did_cents
         |FROM m CROSS JOIN did ORDER BY treat, post""".stripMargin,

    "q_forecast_skill" ->
      s"""WITH daily AS (
         |  SELECT CAST(epoch_us(ts) // $DayUs AS BIGINT) AS day,
         |    count(*) AS x
         |  FROM events GROUP BY 1
         |),
         |l AS (
         |  SELECT day, x, lag(x, 1) OVER (ORDER BY day) AS l1,
         |    lag(x, 7) OVER (ORDER BY day) AS l7
         |  FROM daily
         |)
         |SELECT CAST(count(*) AS BIGINT) AS n_scored,
         |  CAST(sum(abs(x - l1)) AS BIGINT) AS ae_naive,
         |  CAST(sum(abs(x - l7)) AS BIGINT) AS ae_snaive,
         |  CASE WHEN sum(abs(x - l1)) > 0 THEN
         |    round(CAST(sum(abs(x - l7)) AS DOUBLE) / sum(abs(x - l1)), 6)
         |    ELSE CAST(0.0 AS DOUBLE) END AS skill
         |FROM l WHERE l7 IS NOT NULL""".stripMargin,
  )
}

/** Wave-23 additions: split hygiene, order-statistic inference, and
  * sketch sizing —
  *
  *  - q_split_leakage: near-duplicate pairs CROSSING the train/val/test
  *    split (q_split_train's hash buckets × the verified MinHash
  *    channel) — the leakage audit the dedup papers run before trusting
  *    held-out metrics; a test doc with a jac ≥ 0.5 twin in train IS
  *    contamination even when no benchmark shingle matches,
  *  - q_median_ci: distribution-free (binomial order-statistic) 95%
  *    confidence interval for the per-event-type median — rank-selected
  *    exact values, no bootstrap, no whole-group buffer,
  *  - q_bloom_planner: Bloom-filter sizing (m bits, k hashes) per
  *    event-type audience at 1% and 0.1% target FPP — the closed-form
  *    planning table behind q_sketch_bloom/q_join_bloom's fixed
  *    constants.
  *
  * Determinism: split assignment is the md5 bucket; CI ranks derive
  * from one identically-spelled sqrt chain then select exact values;
  * bloom constants are pre-folded literals (ln never evaluated at
  * query time). */
object Wave23 extends Catalog {

  /** bits/key = ln(1/p)/ln(2)² and k = round(bits/key · ln 2), folded
    * to literals at build time so no engine evaluates a libm ln. */
  private val BloomPlans: Seq[(Int, String, Int)] = Seq(
    (100, "9.58505960", 7),   // p = 1%   (100 basis points)
    (10, "14.37758940", 10))  // p = 0.1% (10 basis points)

  val queries: Map[String, Q] = strictMap(

    // SPLIT LEAKAGE: every verified LSH candidate pair labeled with its
    // endpoints' splits; leaky = cross-split AND jac ≥ 0.5 (the same
    // identically-derived double both engines compute). Output = the
    // leaky pair listing with the summary constants on every row. The
    // verified channel keeps its capped-bucket discipline; the split
    // join is two broadcast-scale probes of the doc table.
    "q_split_leakage" -> ((s, dir) => {
      val splits = table(s, dir, "documents")
        .selectExpr("doc_id", s"$HashBucketSpark AS bucket")
        .selectExpr("doc_id",
          "CASE WHEN bucket < 80 THEN 'train'" +
            " WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split")
      val pairs = LlmOps.verifiedJaccard(s, dir)
        .join(splits.select(col("doc_id").as("d1"),
          col("split").as("split1")), "d1")
        .join(splits.select(col("doc_id").as("d2"),
          col("split").as("split2")), "d2")
        .ckpt() // feeds the summary + the leaky listing
      val summary = pairs.agg(count(lit(1)).as("n_cand"),
        sum(when(col("split1") =!= col("split2"), 1L).otherwise(0L))
          .as("n_cross"),
        sum(when(col("split1") =!= col("split2") && col("jac") >= 0.5, 1L)
          .otherwise(0L)).as("n_leaky"))
      pairs.where(col("split1") =!= col("split2") && col("jac") >= 0.5)
        .crossJoin(broadcast(summary))
        .selectExpr("d1", "d2", "split1", "split2",
          "round(jac, 4) AS jac", "CAST(n_cand AS BIGINT) AS n_cand",
          "CAST(n_cross AS BIGINT) AS n_cross",
          "CAST(n_leaky AS BIGINT) AS n_leaky",
          "CASE WHEN n_cross = 0 THEN CAST(NULL AS DOUBLE)" +
            " ELSE round(CAST(n_leaky AS DOUBLE) / n_cross, 4)" +
            " END AS leak_rate")
        .orderBy("d1", "d2")
    }),

    // MEDIAN CI: the binomial bound ranks lo = max(1, floor((n −
    // 1.96√n)/2)), hi = min(n, ceil(1 + (n + 1.96√n)/2)) — one
    // identically-spelled float chain producing INTEGER ranks, then the
    // distributed Ranks pass selects the exact values at lo/median/hi.
    // No bootstrap resamples, no per-group sort buffer.
    "q_median_ci" -> ((s, dir) => {
      val v = table(s, dir, "events")
        .selectExpr("event_type",
          "CAST(floor(value*100 + 0.5) AS BIGINT) AS v", "event_id")
      val ranked = graft.operators.Ranks
        .withinKey(v, "event_type", Seq("v", "event_id"))
        .ckpt() // feeds the per-type n + the three rank picks
      val n = ranked.groupBy("event_type").agg(max("rk").as("n"))
      val withN = ranked.join(n, "event_type")
        .withColumn("lo", expr("greatest(CAST(1 AS BIGINT)," +
          " CAST(floor((n - 1.96 * sqrt(n)) / 2) AS BIGINT))"))
        .withColumn("hi", expr("least(n," +
          " CAST(ceil(1 + (n + 1.96 * sqrt(n)) / 2) AS BIGINT))"))
        .withColumn("md", expr("(n + 1) DIV 2"))
      withN.where(expr("rk = lo OR rk = md OR rk = hi"))
        .groupBy("event_type")
        .agg(max("n").as("n"),
          min(when(expr("rk = lo"), col("v"))).as("vlo"),
          min(when(expr("rk = md"), col("v"))).as("vmd"),
          min(when(expr("rk = hi"), col("v"))).as("vhi"))
        .selectExpr("event_type", "CAST(n AS BIGINT) AS n",
          "round(CAST(vmd AS DOUBLE) / 100, 2) AS median",
          "round(CAST(vlo AS DOUBLE) / 100, 2) AS ci_lo",
          "round(CAST(vhi AS DOUBLE) / 100, 2) AS ci_hi")
        .orderBy("event_type")
    }),

    // BLOOM PLANNER: per event-type distinct-user audience n → m =
    // ceil(n · bits/key) and the pre-folded k, at 1% and 0.1% FPP.
    // One distinct shuffle; the 2× plan expansion is metadata. m_mib
    // prices the broadcast (q_join_bloom ships exactly such a filter).
    "q_bloom_planner" -> ((s, dir) => {
      val aud = table(s, dir, "events")
        .groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("n_keys"))
      val plans = BloomPlans.map { case (bp, bpk, k) =>
        aud.selectExpr("event_type", s"CAST($bp AS BIGINT) AS fpp_bp",
          "CAST(n_keys AS BIGINT) AS n_keys",
          s"CAST(ceil(n_keys * $bpk) AS BIGINT) AS m_bits",
          s"CAST($k AS BIGINT) AS k_hashes",
          s"round(CAST(ceil(n_keys * $bpk) AS DOUBLE) / 8388608, 4)" +
            " AS m_mib")
      }
      plans.reduce(_ unionByName _).orderBy(col("event_type"), desc("fpp_bp"))
    }),
  )

  val oracle: Map[String, String] = strictMap(

    "q_split_leakage" ->
      s"""WITH ${LlmOps.MinhashSigSql},
         |${LlmOps.BandsSql},
         |${LlmOps.VerifiedJacSql},
         |sp AS (
         |  SELECT doc_id,
         |    CASE WHEN b < 80 THEN 'train'
         |         WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT doc_id, $hashBucketSql AS b FROM documents)
         |),
         |lab AS (
         |  SELECT vj.d1, vj.d2, vj.jac, s1.split AS split1,
         |    s2.split AS split2
         |  FROM vj JOIN sp s1 ON s1.doc_id = vj.d1
         |          JOIN sp s2 ON s2.doc_id = vj.d2
         |),
         |summary AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_cand,
         |    CAST(sum(CASE WHEN split1 <> split2 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_cross,
         |    CAST(sum(CASE WHEN split1 <> split2 AND jac >= 0.5
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_leaky
         |  FROM lab
         |)
         |SELECT d1, d2, split1, split2, round(jac, 4) AS jac,
         |  n_cand, n_cross, n_leaky,
         |  CASE WHEN n_cross = 0 THEN CAST(NULL AS DOUBLE)
         |       ELSE round(CAST(n_leaky AS DOUBLE) / n_cross, 4)
         |  END AS leak_rate
         |FROM lab CROSS JOIN summary
         |WHERE split1 <> split2 AND jac >= 0.5
         |ORDER BY d1, d2""".stripMargin,

    "q_median_ci" ->
      """WITH v AS (
        |  SELECT event_type, CAST(floor(value*100 + 0.5) AS BIGINT) AS v,
        |    event_id
        |  FROM events
        |),
        |r AS (
        |  SELECT event_type, v,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY v, event_id) AS BIGINT) AS rk,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM v
        |),
        |b AS (
        |  SELECT event_type, v, rk, n,
        |    greatest(CAST(1 AS BIGINT),
        |      CAST(floor((n - 1.96 * sqrt(n)) / 2) AS BIGINT)) AS lo,
        |    least(n,
        |      CAST(ceil(1 + (n + 1.96 * sqrt(n)) / 2) AS BIGINT)) AS hi,
        |    (n + 1) // 2 AS md
        |  FROM r
        |)
        |SELECT event_type, max(n) AS n,
        |  round(CAST(min(CASE WHEN rk = md THEN v END) AS DOUBLE) / 100, 2)
        |    AS median,
        |  round(CAST(min(CASE WHEN rk = lo THEN v END) AS DOUBLE) / 100, 2)
        |    AS ci_lo,
        |  round(CAST(min(CASE WHEN rk = hi THEN v END) AS DOUBLE) / 100, 2)
        |    AS ci_hi
        |FROM b WHERE rk = lo OR rk = md OR rk = hi
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_bloom_planner" -> {
      def side(bp: Int, bpk: String, k: Int) =
        s"""SELECT event_type, CAST($bp AS BIGINT) AS fpp_bp,
           |  CAST(n_keys AS BIGINT) AS n_keys,
           |  CAST(ceil(n_keys * $bpk) AS BIGINT) AS m_bits,
           |  CAST($k AS BIGINT) AS k_hashes,
           |  round(CAST(ceil(n_keys * $bpk) AS DOUBLE) / 8388608, 4)
           |    AS m_mib
           |FROM aud""".stripMargin
      s"""WITH aud AS (
         |  SELECT event_type, count(DISTINCT user_id) AS n_keys
         |  FROM events GROUP BY event_type
         |)
         |${BloomPlans.map { case (bp, bpk, k) => side(bp, bpk, k) }
          .mkString("\nUNION ALL\n")}
         |ORDER BY event_type, fpp_bp DESC""".stripMargin
    },
  )
}

/** Wave-24 additions: spectral structure of the embedding space and the
  * event stream, plus a classical effect size —
  *
  *  - q_pca_top1: top principal direction of the (uncentered, integer-
  *    quantized) embedding Gram matrix by 3 power-iteration steps — the
  *    "is there one dominant axis?" audit run before trusting cosine
  *    similarity (anisotropic embedding spaces put most mass on one
  *    direction and cosine degenerates),
  *  - q_periodogram: discrete-Fourier power of the daily event-count
  *    series at the two calendar periods (7 / 30 days) per event type,
  *    with the trig tables pre-folded to literals — the seasonality
  *    detector behind q_stl_strength's single fixed period,
  *  - q_cramers_v: Cramér's V (raw + Bergsma bias-corrected) from the
  *    lang × source contingency table — the effect-size companion to
  *    q_chi2's test statistic (χ² grows with N even for trivial
  *    association; V is the scale-free number worth alerting on).
  *
  * Determinism: the Gram matrix and centered counts are exact integers;
  * every float product is rounded to a fixed scale and decimal-summed
  * ([[queries.dsum]]); trig/eigen normalization constants are either
  * pre-folded literals or one identically-spelled IEEE chain. */
object Wave24 extends Catalog {

  /** cos/sin(2π m / p) for m ∈ [0, p), 8 dp, as a SQL literal list body.
    * Values within 5e-9 of zero are pinned to exactly "0.00000000" so
    * neither engine ever parses a negative zero. */
  private def trig(p: Int, f: Double => Double): String =
    (0 until p).map { m =>
      val v = f(2 * math.Pi * m / p)
      if (math.abs(v) < 5e-9) "0.00000000" else f"$v%.8f"
    }.mkString(", ")

  /** One power-iteration step: u' = normalize(G·u), with the matrix-
    * vector products rounded to scale 4 and decimal-summed and the
    * max-abs normalization one correctly-rounded division + round(8). */
  private def step(g: DataFrame, u: DataFrame): DataFrame = {
    val v = g.join(broadcast(u.select(col("i").as("j"), col("u"))), "j")
      .groupBy("i")
      .agg(dsum(expr("round(CAST(g AS DOUBLE) * u, 4)"), 4).as("v"))
    val m = v.agg(max(abs(col("v"))).as("m"))
    v.crossJoin(broadcast(m))
      .selectExpr("i",
        "CASE WHEN m = 0 THEN CAST(0 AS DOUBLE)" +
          " ELSE round(v / m, 8) END AS u")
  }

  val queries: Map[String, Q] = strictMap(

    // PCA TOP-1: Gram G = Σ q qᵀ over integer-quantized embeddings (one
    // self-join shuffle on vec_id → dims² cells, partial-agg'd; |q| ≤
    // ~10³ so cells stay < 2^53 well past 10⁹ vectors — the documented
    // DECIMAL upgrade beyond that). Three u ← G·u / ‖·‖∞ steps on the
    // 64-row broadcast vector, then the Rayleigh quotient λ and its
    // share of trace(G) = total quantized variance mass. Every stage
    // after the Gram is metadata-scale.
    "q_pca_top1" -> ((s, dir) => {
      val el = table(s, dir, "embeddings")
        .select(col("vec_id"),
          posexplode(expr(LlmOps.QuantSpark)))
        .selectExpr("vec_id", "CAST(pos + 1 AS BIGINT) AS i", "col AS q")
      val g = el.as("a").join(el.as("b"), "vec_id")
        .groupBy(col("a.i").as("i"), col("b.i").as("j"))
        .agg(sum(expr("a.q * b.q")).as("g"))
        .ckpt() // feeds u1/u2/u3, the Rayleigh join, and the trace
      val u0 = g.select(col("i")).distinct()
        .withColumn("u", expr("CAST(1 AS DOUBLE)"))
      val u3 = step(g, step(g, step(g, u0))).ckpt()
      val num = g
        .join(broadcast(u3.select(col("i").as("gi"), col("u").as("ui"))),
          col("i") === col("gi"))
        .join(broadcast(u3.select(col("i").as("gj"), col("u").as("uj"))),
          col("j") === col("gj"))
        .agg(dsum(expr("round(CAST(g AS DOUBLE) * ui * uj, 4)"), 4)
          .as("num"))
      val den = u3.agg(dsum(expr("round(u * u, 8)"), 8).as("den"))
      val tr = g.where(col("i") === col("j"))
        .agg(sum("g").as("trace"))
      u3.crossJoin(broadcast(num)).crossJoin(broadcast(den))
        .crossJoin(broadcast(tr))
        .selectExpr("i AS dim", "u AS loading",
          "round(num / den, 4) AS lambda",
          "round(num / den / CAST(trace AS DOUBLE), 6) AS ev_share")
        .orderBy("dim")
    }),

    // PERIODOGRAM: per event type, DFT power of the daily count series
    // at periods 7 and 30. Counts are centered exactly in integers
    // (y = n·c − Σc, scaled by n to avoid a mean division), the trig
    // factors are 8-dp literals folded at build time, and each power is
    // (Σy·cos)² + (Σy·sin)² over decimal-backed sums, normalized by n³
    // (the n² centering scale times the standard 1/n). One daily-count
    // shuffle; everything after is per-type metadata.
    "q_periodogram" -> ((s, dir) => {
      val daily = table(s, dir, "events")
        .selectExpr("event_type",
          "unix_micros(ts) DIV 86400000000 AS day")
        .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      val st = daily.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("c").as("s1"))
      val y = daily.join(broadcast(st), "event_type")
        .withColumn("y", expr("n * c - s1"))
      def comp(alias: String, p: Int, lits: String) =
        dsum(expr("round(CAST(y AS DOUBLE) * CAST(element_at(" +
          s"array($lits), CAST(day % $p + 1 AS INT)) AS DOUBLE), 4)"), 4)
          .as(alias)
      y.groupBy("event_type")
        .agg(first(col("n")).as("n"),
          comp("c7", 7, trig(7, math.cos)),
          comp("s7", 7, trig(7, math.sin)),
          comp("c30", 30, trig(30, math.cos)),
          comp("s30", 30, trig(30, math.sin)))
        .selectExpr("event_type", "CAST(n AS BIGINT) AS n_days",
          "round((c7 * c7 + s7 * s7)" +
            " / (CAST(n AS DOUBLE) * n * n), 4) AS p7",
          "round((c30 * c30 + s30 * s30)" +
            " / (CAST(n AS DOUBLE) * n * n), 4) AS p30",
          "CAST(CASE WHEN (c7 * c7 + s7 * s7) >= (c30 * c30 + s30 * s30)" +
            " THEN 7 ELSE 30 END AS BIGINT) AS dominant_period")
        .orderBy("event_type")
    }),

    // CRAMÉR'S V: χ² from the complete lang × source grid (identical
    // cell chain to q_chi2 — exact 128-bit cross-multiplied residuals,
    // one round(8) division per cell, decimal sum), then V =
    // √(χ²/(N·(min(r,c)−1))) and the Bergsma small-sample correction.
    // Contingency metadata-scale; one count shuffle over documents.
    "q_cramers_v" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val cell = d.groupBy("lang", "source").agg(count(lit(1)).as("o"))
      val rowS = cell.groupBy("lang").agg(sum(col("o")).as("r"))
      val colS = cell.groupBy("source").agg(sum(col("o")).as("cc"))
      val tot = broadcast(d.agg(count(lit(1)).as("nn")))
      rowS.crossJoin(colS)
        .join(cell, Seq("lang", "source"), "left_outer")
        .withColumn("o", coalesce(col("o"), lit(0L)))
        .crossJoin(tot)
        .withColumn("res", expr(
          "CAST(o AS DECIMAL(19,0)) * nn - CAST(r AS DECIMAL(19,0)) * cc"))
        .withColumn("cellchi",
          expr("round(CAST(res * res AS DOUBLE)" +
            " / CAST(CAST(r AS DECIMAL(19,0)) * cc * nn AS DOUBLE), 8)"))
        .agg(first(col("nn")).as("nn"),
          count_distinct(col("lang")).as("rl"),
          count_distinct(col("source")).as("cl"),
          dsum(col("cellchi"), 8).as("chi2"))
        .selectExpr("CAST(nn AS BIGINT) AS n",
          "CAST(rl AS BIGINT) AS r_levels",
          "CAST(cl AS BIGINT) AS c_levels", "round(chi2, 6) AS chi2",
          "round(sqrt(chi2 / (nn * (least(rl, cl) - 1))), 6) AS v",
          // Bergsma 2013: φ²⁺ = max(0, φ² − (r−1)(c−1)/(N−1)),
          // r⁺ = r − (r−1)²/(N−1), c⁺ = c − (c−1)²/(N−1)
          "CASE WHEN least(" +
            "  rl - CAST((rl - 1) * (rl - 1) AS DOUBLE) / (nn - 1)," +
            "  cl - CAST((cl - 1) * (cl - 1) AS DOUBLE) / (nn - 1))" +
            " <= 1 THEN CAST(NULL AS DOUBLE)" +
            " ELSE round(sqrt(" +
            "  greatest(CAST(0 AS DOUBLE), chi2 / nn" +
            "    - CAST((rl - 1) * (cl - 1) AS DOUBLE) / (nn - 1))" +
            "  / (least(" +
            "    rl - CAST((rl - 1) * (rl - 1) AS DOUBLE) / (nn - 1)," +
            "    cl - CAST((cl - 1) * (cl - 1) AS DOUBLE) / (nn - 1))" +
            "    - 1)), 6) END AS v_corrected")
    }),
  )

  val oracle: Map[String, String] = strictMap(

    "q_pca_top1" -> {
      def stepSql(k: Int, prev: String) =
        s"""v$k AS (
           |  SELECT g.i, ${dsumSql("round(CAST(g AS DOUBLE) * u, 4)", 4)} AS v
           |  FROM g JOIN $prev ON $prev.i = g.j GROUP BY g.i
           |),
           |m$k AS (SELECT max(abs(v)) AS m FROM v$k),
           |u$k AS (
           |  SELECT i, CASE WHEN m = 0 THEN CAST(0 AS DOUBLE)
           |            ELSE round(v / m, 8) END AS u
           |  FROM v$k CROSS JOIN m$k
           |)""".stripMargin
      s"""WITH el AS (
         |  SELECT vec_id, i, ${LlmOps.quantSqlElem("embedding[i]")} AS q
         |  FROM (SELECT vec_id, embedding,
         |               unnest(generate_series(1, len(embedding))) AS i
         |        FROM embeddings)
         |),
         |g AS (
         |  SELECT a.i AS i, b.i AS j, CAST(sum(a.q * b.q) AS BIGINT) AS g
         |  FROM el a JOIN el b USING (vec_id) GROUP BY 1, 2
         |),
         |u0 AS (SELECT DISTINCT i, CAST(1 AS DOUBLE) AS u FROM g),
         |${stepSql(1, "u0")},
         |${stepSql(2, "u1")},
         |${stepSql(3, "u2")},
         |num AS (
         |  SELECT ${dsumSql("round(CAST(g AS DOUBLE) * ui * uj, 4)", 4)}
         |    AS num
         |  FROM g
         |  JOIN (SELECT i AS gi, u AS ui FROM u3) a ON g.i = a.gi
         |  JOIN (SELECT i AS gj, u AS uj FROM u3) b ON g.j = b.gj
         |),
         |den AS (SELECT ${dsumSql("round(u * u, 8)", 8)} AS den FROM u3),
         |tr AS (SELECT CAST(sum(g) AS BIGINT) AS trace FROM g WHERE i = j)
         |SELECT i AS dim, u AS loading, round(num / den, 4) AS lambda,
         |  round(num / den / CAST(trace AS DOUBLE), 6) AS ev_share
         |FROM u3 CROSS JOIN num CROSS JOIN den CROSS JOIN tr
         |ORDER BY dim""".stripMargin
    },

    "q_periodogram" -> {
      def comp(alias: String, p: Int, lits: String) =
        s"""${dsumSql(s"round(CAST(y AS DOUBLE) * CAST(([$lits])" +
          s"[CAST(day % $p AS INT) + 1] AS DOUBLE), 4)", 4)} AS $alias"""
      s"""WITH daily AS (
         |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         |    count(*) AS c
         |  FROM events GROUP BY 1, 2
         |),
         |st AS (SELECT event_type, count(*) AS n,
         |         CAST(sum(c) AS BIGINT) AS s1
         |       FROM daily GROUP BY event_type),
         |y AS (SELECT daily.*, n, n * c - s1 AS y
         |      FROM daily JOIN st USING (event_type)),
         |f AS (
         |  SELECT event_type, max(n) AS n,
         |    ${comp("c7", 7, trig(7, math.cos))},
         |    ${comp("s7", 7, trig(7, math.sin))},
         |    ${comp("c30", 30, trig(30, math.cos))},
         |    ${comp("s30", 30, trig(30, math.sin))}
         |  FROM y GROUP BY event_type
         |)
         |SELECT event_type, CAST(n AS BIGINT) AS n_days,
         |  round((c7 * c7 + s7 * s7)
         |    / (CAST(n AS DOUBLE) * n * n), 4) AS p7,
         |  round((c30 * c30 + s30 * s30)
         |    / (CAST(n AS DOUBLE) * n * n), 4) AS p30,
         |  CAST(CASE WHEN (c7 * c7 + s7 * s7) >= (c30 * c30 + s30 * s30)
         |       THEN 7 ELSE 30 END AS BIGINT) AS dominant_period
         |FROM f ORDER BY event_type""".stripMargin
    },

    "q_cramers_v" ->
      s"""WITH cell AS (
         |  SELECT lang, source, count(*) AS o
         |  FROM documents GROUP BY 1, 2
         |),
         |rs AS (SELECT lang, CAST(sum(o) AS BIGINT) AS r
         |       FROM cell GROUP BY lang),
         |cs AS (SELECT source, CAST(sum(o) AS BIGINT) AS cc
         |       FROM cell GROUP BY source),
         |tot AS (SELECT count(*) AS nn FROM documents),
         |grid AS (
         |  SELECT rs.lang, cs.source, r, cc,
         |    coalesce(cell.o, 0) AS o, nn
         |  FROM rs CROSS JOIN cs
         |  LEFT JOIN cell ON cell.lang = rs.lang
         |    AND cell.source = cs.source
         |  CROSS JOIN tot
         |),
         |agg AS (
         |  SELECT max(nn) AS nn, count(DISTINCT lang) AS rl,
         |    count(DISTINCT source) AS cl,
         |    ${dsumSql(
             "round(CAST((CAST(o AS HUGEINT) * nn - CAST(r AS HUGEINT) * cc)" +
               " * (CAST(o AS HUGEINT) * nn - CAST(r AS HUGEINT) * cc)" +
               " AS DOUBLE) / CAST(CAST(r AS HUGEINT) * cc * nn" +
               " AS DOUBLE), 8)", 8)} AS chi2
         |  FROM grid
         |)
         |SELECT CAST(nn AS BIGINT) AS n, CAST(rl AS BIGINT) AS r_levels,
         |  CAST(cl AS BIGINT) AS c_levels, round(chi2, 6) AS chi2,
         |  round(sqrt(chi2 / (nn * (least(rl, cl) - 1))), 6) AS v,
         |  CASE WHEN least(
         |    rl - CAST((rl - 1) * (rl - 1) AS DOUBLE) / (nn - 1),
         |    cl - CAST((cl - 1) * (cl - 1) AS DOUBLE) / (nn - 1))
         |    <= 1 THEN CAST(NULL AS DOUBLE)
         |  ELSE round(sqrt(
         |    greatest(CAST(0 AS DOUBLE), chi2 / nn
         |      - CAST((rl - 1) * (cl - 1) AS DOUBLE) / (nn - 1))
         |    / (least(
         |      rl - CAST((rl - 1) * (rl - 1) AS DOUBLE) / (nn - 1),
         |      cl - CAST((cl - 1) * (cl - 1) AS DOUBLE) / (nn - 1))
         |      - 1)), 6) END AS v_corrected
         |FROM agg""".stripMargin,
  )
}

/** Wave-25 additions: substring-level dedup evidence, the PR-curve
  * summary, and a variance-homogeneity test —
  *
  *  - q_dedup_longest_run: longest run of consecutive matching shingle
  *    positions per verified LSH candidate pair — the suffix-array-style
  *    "how long is the shared substring actually?" evidence (Lee et al.'s
  *    exact-substring dedup criterion) that set-level Jaccard cannot
  *    give: two docs at jac 0.3 may share one 500-char block (trainable
  *    leak) or 30 scattered 8-grams (benign),
  *  - q_pr_auc: average precision (step-interpolated PR-curve area) by
  *    two distributed rank passes — the imbalanced-class companion to
  *    q_auc's ROC (with 1% positives, ROC-AUC 0.99 can hide precision
  *    0.1; AP does not),
  *  - q_levene: Brown–Forsythe variance-homogeneity W across event
  *    types (the median-centered Levene test) — the assumption check
  *    run before trusting q_anova's equal-variance F.
  *
  * Determinism: runs are integer position arithmetic; AP terms are one
  * correctly-rounded division each, round-8 + decimal-summed; W derives
  * from exact BIGINT power sums through one identically-spelled chain. */
object Wave25 extends Catalog {

  val queries: Map[String, Q] = strictMap(

    // LONGEST RUN: matched shingle positions per candidate pair, grouped
    // by diagonal (i1 − i2); a run of consecutive stride-3 positions is
    // an island under the classic i − stride·row_number key. Candidates
    // come from the capped-bucket verified channel (≤ C(64,2) pairs per
    // bucket at any corpus size); per-pair match rows are bounded by the
    // ShPosCap² occurrence cap. span_chars = (run−1)·stride + K is the
    // exact shared-substring length the run certifies.
    "q_dedup_longest_run" -> ((s, dir) => {
      val stride = LlmOps.ShingleStride
      val pj = LlmOps.verifiedJaccard(s, dir).ckpt() // join + fallback rows
      val shp = LlmOps.repShinglesPos(s, dir).ckpt() // both join sides
      val m = pj.select("d1", "d2")
        .join(shp.select(col("doc_id").as("d1"), col("i").as("i1"),
          col("sh")), "d1")
        .join(shp.select(col("doc_id").as("d2"), col("i").as("i2"),
          col("sh").as("sh2")), "d2")
        .where(col("sh") === col("sh2"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("d1", "d2", "diag").orderBy("i1")
      val runs = m.withColumn("diag", col("i1") - col("i2"))
        .withColumn("grp", col("i1") - lit(stride) * row_number().over(w))
        .groupBy("d1", "d2", "diag", "grp")
        .agg(count(lit(1)).as("run"))
        .groupBy("d1", "d2").agg(max("run").as("max_run"))
      pj.join(runs, Seq("d1", "d2"), "left_outer")
        .selectExpr("d1", "d2", "round(jac, 4) AS jac",
          "CAST(coalesce(max_run, 0) AS BIGINT) AS run_shingles",
          "CAST(CASE WHEN max_run IS NULL THEN 0" +
            s" ELSE (max_run - 1) * $stride + ${LlmOps.ShingleK}" +
            " END AS BIGINT) AS span_chars")
        .orderBy("d1", "d2")
    }),

    // AVERAGE PRECISION: global score-desc rank (Ranks pass 1, no
    // whole-table window), positive-only rank (pass 2) = cumulative
    // positives at that row, AP = mean of P@i = rp/grk over positives.
    // Ties broken by event_id on both engines (AP under a fixed
    // permutation — documented, same discipline as q_gains_lift).
    "q_pr_auc" -> ((s, dir) => {
      val ev = table(s, dir, "events")
        .selectExpr("event_id",
          "CAST(floor(value*100 + 0.5) AS BIGINT) AS v",
          "CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END" +
            " AS BIGINT) AS y")
        .withColumn("k", lit(1)).withColumn("vn", -col("v"))
      val ranked = graft.operators.Ranks
        .withinKey(ev, "k", Seq("vn", "event_id"))
        .withColumnRenamed("rk", "grk").ckpt() // feeds n + the positive pass
      val pos = graft.operators.Ranks
        .withinKey(ranked.where(col("y") === 1), "k", Seq("grk"))
      val ap = pos.agg(count(lit(1)).as("npos"),
        dsum(expr("round(CAST(rk AS DOUBLE) / grk, 8)"), 8).as("sap"))
      ranked.agg(count(lit(1)).as("n")).crossJoin(broadcast(ap))
        .selectExpr("CAST(n AS BIGINT) AS n",
          "CAST(npos AS BIGINT) AS npos",
          "round(sap / npos, 6) AS ap")
    }),

    // BROWN–FORSYTHE: per-type lower median by rank selection (no
    // per-group sort buffer), |x − med| power sums as exact BIGINTs,
    // W from the k-row group table through one identically-spelled
    // chain (s1² computed in DOUBLE — it passes int64 around 10⁵ rows
    // per group; the per-group term is round-8 anyway).
    "q_levene" -> ((s, dir) => {
      val v = table(s, dir, "events")
        .selectExpr("event_type",
          "CAST(floor(value*100 + 0.5) AS BIGINT) AS v", "event_id")
      val ranked = graft.operators.Ranks
        .withinKey(v, "event_type", Seq("v", "event_id")).ckpt()
      val ng = ranked.groupBy("event_type").agg(max("rk").as("n"))
      val med = ranked.join(broadcast(ng), "event_type")
        .where(expr("rk = (n + 1) DIV 2"))
        .select(col("event_type"), col("v").as("med"))
      val g = v.join(broadcast(med), "event_type")
        .withColumn("z", abs(col("v") - col("med")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("ng"), sum("z").as("s1"),
          sum(expr("z * z")).as("s2"))
        .ckpt() // feeds the totals + both term sums
      val tot = g.agg(sum("ng").as("nn"), sum("s1").as("ss"),
        count(lit(1)).as("kk"))
      g.crossJoin(broadcast(tot))
        .withColumn("d",
          expr("CAST(s1 AS DOUBLE) / ng - CAST(ss AS DOUBLE) / nn"))
        .agg(first(col("nn")).as("nn"), first(col("kk")).as("kk"),
          // scale 2, not 8: the den term is ~s2 (≈10¹³ at sf0.1) and a
          // DECIMAL(18,8) holds only 10 integer digits — scale 2 caps at
          // 10¹⁶ while losing nothing against round(·, 6) display
          dsum(expr("round(ng * d * d, 2)"), 2).as("num"),
          dsum(expr("round(CAST(s2 AS DOUBLE)" +
            " - CAST(s1 AS DOUBLE) * s1 / ng, 2)"), 2).as("den"))
        .selectExpr("CAST(nn AS BIGINT) AS n", "CAST(kk AS BIGINT) AS k",
          "CASE WHEN den = 0 OR kk <= 1 THEN CAST(NULL AS DOUBLE)" +
            " ELSE round(CAST(nn - kk AS DOUBLE) / (kk - 1)" +
            " * num / den, 6) END AS w")
    }),
  )

  val oracle: Map[String, String] = strictMap(

    "q_dedup_longest_run" -> {
      val stride = LlmOps.ShingleStride
      s"""WITH ${LlmOps.MinhashSigSql},
         |${LlmOps.BandsSql},
         |${LlmOps.VerifiedJacSql},
         |${LlmOps.repShinglesPosSql},
         |m AS (
         |  SELECT p.d1, p.d2, a.i AS i1, b.i AS i2
         |  FROM (SELECT d1, d2 FROM vj) p
         |  JOIN shp a ON a.doc_id = p.d1
         |  JOIN shp b ON b.doc_id = p.d2 AND b.sh = a.sh
         |),
         |isl AS (
         |  SELECT d1, d2, i1 - i2 AS diag,
         |    i1 - $stride * row_number() OVER (
         |      PARTITION BY d1, d2, i1 - i2 ORDER BY i1) AS grp
         |  FROM m
         |),
         |runs AS (
         |  SELECT d1, d2, max(run) AS max_run FROM (
         |    SELECT d1, d2, diag, grp, count(*) AS run
         |    FROM isl GROUP BY 1, 2, 3, 4)
         |  GROUP BY d1, d2
         |)
         |SELECT vj.d1, vj.d2, round(jac, 4) AS jac,
         |  CAST(coalesce(max_run, 0) AS BIGINT) AS run_shingles,
         |  CAST(CASE WHEN max_run IS NULL THEN 0
         |       ELSE (max_run - 1) * $stride + ${LlmOps.ShingleK}
         |       END AS BIGINT) AS span_chars
         |FROM vj LEFT JOIN runs ON runs.d1 = vj.d1 AND runs.d2 = vj.d2
         |ORDER BY vj.d1, vj.d2""".stripMargin
    },

    "q_pr_auc" ->
      s"""WITH ev AS (
         |  SELECT event_id, CAST(floor(value*100 + 0.5) AS BIGINT) AS v,
         |    CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
         |      AS BIGINT) AS y
         |  FROM events
         |),
         |r AS (
         |  SELECT event_id, y,
         |    CAST(row_number() OVER (ORDER BY -v, event_id) AS BIGINT)
         |      AS grk
         |  FROM ev
         |),
         |p AS (
         |  SELECT grk,
         |    CAST(row_number() OVER (ORDER BY grk) AS BIGINT) AS rp
         |  FROM r WHERE y = 1
         |),
         |s AS (
         |  SELECT count(*) AS npos,
         |    ${dsumSql("round(CAST(rp AS DOUBLE) / grk, 8)", 8)} AS sap
         |  FROM p
         |),
         |t AS (SELECT count(*) AS n FROM ev)
         |SELECT CAST(n AS BIGINT) AS n, CAST(npos AS BIGINT) AS npos,
         |  round(sap / npos, 6) AS ap
         |FROM t CROSS JOIN s""".stripMargin,

    "q_levene" ->
      s"""WITH v AS (
         |  SELECT event_type, CAST(floor(value*100 + 0.5) AS BIGINT) AS v,
         |    event_id
         |  FROM events
         |),
         |r AS (
         |  SELECT event_type, v,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY v, event_id) AS rk,
         |    count(*) OVER (PARTITION BY event_type) AS n
         |  FROM v
         |),
         |med AS (
         |  SELECT event_type, v AS med FROM r WHERE rk = (n + 1) // 2
         |),
         |g AS (
         |  SELECT v.event_type, count(*) AS ng,
         |    CAST(sum(abs(v.v - med)) AS BIGINT) AS s1,
         |    CAST(sum(abs(v.v - med) * abs(v.v - med)) AS BIGINT) AS s2
         |  FROM v JOIN med USING (event_type)
         |  GROUP BY v.event_type
         |),
         |tot AS (SELECT CAST(sum(ng) AS BIGINT) AS nn,
         |          CAST(sum(s1) AS BIGINT) AS ss, count(*) AS kk
         |        FROM g),
         |agg AS (
         |  SELECT max(nn) AS nn, max(kk) AS kk,
         |    ${dsumSql("round(ng * d * d, 2)", 2)} AS num,
         |    ${dsumSql("round(CAST(s2 AS DOUBLE)" +
           " - CAST(s1 AS DOUBLE) * s1 / ng, 2)", 2)} AS den
         |  FROM (SELECT g.*, nn, kk,
         |          CAST(s1 AS DOUBLE) / ng - CAST(ss AS DOUBLE) / nn AS d
         |        FROM g CROSS JOIN tot)
         |)
         |SELECT CAST(nn AS BIGINT) AS n, CAST(kk AS BIGINT) AS k,
         |  CASE WHEN den = 0 OR kk <= 1 THEN CAST(NULL AS DOUBLE)
         |       ELSE round(CAST(nn - kk AS DOUBLE) / (kk - 1)
         |       * num / den, 6) END AS w
         |FROM agg""".stripMargin,
  )
}

/** Wave-31 additions — four families the catalog did not yet cover:
  *
  *  - q_fleiss_kappa: multi-rater (k > 2) chance-corrected agreement over
  *    the documents table — the labeling-quality gate of an annotation
  *    pipeline (Fleiss '71), the k-rater generalization of
  *    q_cohens_kappa. Three deterministic synthetic raters = md5-noised
  *    copies of a base category.
  *  - q_interval_union: per-user total COVERED time from overlapping
  *    event intervals (the union-of-intervals sweep): running-max-end
  *    island detection inside one per-user window pass — the
  *    availability / watch-time / session-coverage primitive.
  *  - q_critical_path: bounded-depth longest-path layering of the
  *    degree-oriented co-purchase DAG (the q_triangles orientation is
  *    acyclic by construction) — the DAG-scheduling primitive; after k
  *    relaxation rounds every level is exactly min(longest path, k).
  *  - q_conformal: split-conformal calibration of a per-type mean
  *    predictor — calibration-half nonconformity quantile at the
  *    ⌈(1−α)(n+1)⌉ rank (exact, via the distributed Ranks selection),
  *    then MEASURED test-half coverage: the distribution-free
  *    prediction-interval audit an ML-eval pipeline runs.
  *
  * Determinism: rater categories and the calibration split are integer
  * md5 algebra; Fleiss' Σ C_j² runs 128-bit (DECIMAL/HUGEINT — C_j ~ 3N
  * wraps int64 past ~10⁹ items); interval arithmetic is pure integer
  * microseconds; layering is integer max-relaxation; the conformal mean
  * and nonconformity are round-8 doubles from exact integers with
  * identical spelling both engines, ranked under a (nc, event_id) total
  * order. */
object Wave31 extends Catalog {

  /** Synthetic rater count (hard agreement floor: each item gets exactly
    * this many ratings). */
  private val Raters = 3

  /** Relaxation rounds for the layering: levels saturate at this depth
    * (level = min(longest path, k)) — the bounded-neighborhood contract,
    * same as [[graft.operators.Bfs]] rounds. */
  private val PathRounds = 4

  /** Co-purchase edge weight floor (suppliers sharing ≥ this many
    * orders), the q_triangles noise-floor semantics. */
  private val PathMinW = 5

  /** Conformal miscoverage α = 1/[[ConfAlphaInv]]. */
  private val ConfAlphaInv = 10

  val queries: Map[String, Q] = strictMap(

    // FLEISS KAPPA: the ×3 rater explode is narrow; the only data-scale
    // shuffles are the (doc, cat) count and its doc-level regroup. Column
    // totals C_j are 128-bit squared (C_j ~ 3N overflows int64 squared
    // past ~1e9 items). P̄o = (Σ n_ij² − 3N)/(6N), P̄e = Σ C_j²/(9N²),
    // κ = (P̄o − P̄e)/(1 − P̄e) — all exact integers until the final
    // correctly-rounded divisions, spelled identically in the oracle.
    "q_fleiss_kappa" -> ((s, dir) => {
      val rated = table(s, dir, "documents")
        .select(col("doc_id"), (col("n_chars") % 3).as("b"),
          explode(expr(s"sequence(0, ${Raters - 1})")).as("r"))
        .withColumn("h", expr("CAST(conv(substring(md5(concat('rate-', " +
          "CAST(r AS STRING), ':', CAST(doc_id AS STRING))), 1, 8), 16, 10)" +
          " AS BIGINT)"))
        .withColumn("cat",
          expr("CASE WHEN h % 10 < 3 THEN (b + 1 + h % 2) % 3 ELSE b END"))
      val nij = rated.groupBy("doc_id", "cat").agg(count(lit(1)).as("m"))
        .ckpt() // feeds the per-item squares AND the column totals
      val item = nij.groupBy("doc_id").agg(sum(expr("m * m")).as("s2"))
      val base = item.agg(count(lit(1)).as("n"), sum("s2").as("ss"))
      val cj = nij.groupBy("cat").agg(sum("m").as("cj"))
        .agg(sum(expr("CAST(cj AS DECIMAL(19,0)) * cj")).as("sc2"))
      base.crossJoin(broadcast(cj))
        .selectExpr("CAST(n AS BIGINT) AS n_items",
          s"CAST($Raters AS BIGINT) AS n_raters",
          s"round(CAST(ss - $Raters*n AS DOUBLE)" +
            s" / CAST(${Raters * (Raters - 1)}*n AS DOUBLE), 8) AS po",
          "round(CAST(sc2 AS DOUBLE) / (CAST(9 AS DOUBLE)" +
            " * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 8) AS pe")
        .selectExpr("n_items", "n_raters", "po", "pe",
          "CASE WHEN pe = CAST(1 AS DOUBLE) THEN CAST(NULL AS DOUBLE)" +
            " ELSE round((po - pe) / (CAST(1 AS DOUBLE) - pe), 6)" +
            " END AS kappa")
    }),

    // INTERVAL UNION: duration is a deterministic function of event_id
    // (1..60 s), islands found by the classic running-max-end sweep —
    // everything stays inside ONE per-user window partition (no cross-
    // user data movement; a user's events are the state bound), and the
    // arithmetic is pure integer microseconds.
    "q_interval_union" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("st", "event_id")
      val prior = w.rowsBetween(Window.unboundedPreceding, -1)
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      table(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("st"))
        .withColumn("en", expr("st + (1 + event_id % 60) * 1000000"))
        .withColumn("pmax", max("en").over(prior))
        .withColumn("isl", sum(expr(
          "CASE WHEN pmax IS NULL OR st > pmax THEN 1 ELSE 0 END")).over(run))
        .groupBy("user_id", "isl")
        .agg(count(lit(1)).as("ne"), (max("en") - min("st")).as("cov"))
        .groupBy("user_id")
        .agg(sum("ne").as("n_events"), count(lit(1)).as("n_islands"),
          sum("cov").as("covered_us"))
        .selectExpr("user_id", "CAST(n_events AS BIGINT) AS n_events",
          "CAST(n_islands AS BIGINT) AS n_islands",
          "CAST(covered_us AS BIGINT) AS covered_us")
        .orderBy("user_id")
    }),

    // CRITICAL PATH: the (degree, id) orientation of the co-purchase
    // graph is a DAG by construction (the q_triangles argument), so
    // longest-path layering is well-defined; after k max-relaxation
    // rounds level(v) = min(longest path ending at v, k) EXACTLY (any
    // length-ℓ path has a length-min(ℓ,k) suffix ending at the same
    // vertex) — the bounded-depth contract, identical in the unrolled
    // oracle. Each round is one edge join + max-regroup; per-round
    // frames are ckpt'd (two consumers: the join and the union).
    "q_critical_path" -> ((s, dir) => {
      val os = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .distinct()
      val und = os.alias("a").join(os.alias("b"), Seq("ok"))
        .where(col("a.sk") < col("b.sk"))
        .groupBy(col("a.sk").as("u"), col("b.sk").as("v"))
        .agg(count(lit(1)).as("w"))
        .where(col("w") >= PathMinW).select("u", "v")
        .ckpt()
      val deg = und.select(col("u").as("x"))
        .unionAll(und.select(col("v").as("x")))
        .groupBy("x").agg(count(lit(1)).as("d"))
        .ckpt()
      val oriented = und
        .join(deg.select(col("x").as("u"), col("d").as("du")), Seq("u"))
        .join(deg.select(col("x").as("v"), col("d").as("dv")), Seq("v"))
        .selectExpr(
          "CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS s",
          "CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS t")
        .ckpt()
      var lvl = deg.select(col("x").as("v"), lit(0L).as("l"))
      for (_ <- 1 to PathRounds)
        lvl = lvl.join(oriented, col("v") === col("s"))
          .select(col("t").as("v"), (col("l") + 1).as("c"))
          .unionByName(lvl.select(col("v"), col("l").as("c")))
          .groupBy("v").agg(max("c").as("l"))
          .ckpt() // consumed twice next round (join side + union side)
      lvl.groupBy(col("l").as("level"))
        .agg(count(lit(1)).as("n_vertices"))
        .selectExpr("CAST(level AS BIGINT) AS level",
          "CAST(n_vertices AS BIGINT) AS n_vertices")
        .orderBy("level")
    }),

    // CONFORMAL: calibration/test split by event_id md5 parity; the
    // predictor is the calibration per-type mean (round-8 from exact
    // integer sums); q̂ = nonconformity value at the exact
    // ⌈(1−α)(n_cal+1)⌉ rank — a distributed Ranks selection under the
    // (nc, event_id) total order, never a per-type sort buffer; coverage
    // is then MEASURED on the held-out half. At 100 TB the only
    // data-scale stages are the split scan, one rank selection, and one
    // broadcast join of the per-type (μ, q̂) table.
    "q_conformal" -> ((s, dir) => {
      val ev = table(s, dir, "events")
        .where(col("value").isNotNull)
        .select(col("event_type"), col("event_id"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("vq"),
          expr("CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 8)," +
            " 16, 10) AS BIGINT) % 2").as("half"))
        .ckpt() // read by the calibration AND test sides
      val cal = ev.where(col("half") === 0)
      val mu = cal.groupBy("event_type")
        .agg(count(lit(1)).as("n_cal"), sum("vq").as("sv"))
        .withColumn("mu", expr("round(CAST(sv AS DOUBLE)" +
          " / CAST(n_cal AS DOUBLE), 8)"))
        .select("event_type", "n_cal", "mu")
      val nc = cal.join(broadcast(mu), "event_type")
        .withColumn("nc",
          expr("round(abs(CAST(vq AS DOUBLE) - mu), 8)"))
        .select("event_type", "event_id", "nc")
      val ranked = graft.operators.Ranks
        .withinKey(nc, "event_type", Seq("nc", "event_id"))
      val qhat = ranked.join(broadcast(mu), "event_type")
        .where(col("rk") === expr(
          s"least(n_cal, (${ConfAlphaInv - 1} * (n_cal + 1)" +
            s" + ${ConfAlphaInv - 1}) DIV $ConfAlphaInv)"))
        .select(col("event_type"), col("nc").as("qh"))
      val cov = ev.where(col("half") === 1)
        .join(broadcast(mu), "event_type")
        .join(broadcast(qhat), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_test"),
          sum(expr("CASE WHEN round(abs(CAST(vq AS DOUBLE) - mu), 8) <= qh" +
            " THEN 1 ELSE 0 END")).as("n_cov"))
      mu.join(qhat, "event_type").join(cov, Seq("event_type"), "left_outer")
        .selectExpr("event_type", "CAST(n_cal AS BIGINT) AS n_cal",
          "CAST(coalesce(n_test, 0) AS BIGINT) AS n_test",
          "round(mu, 6) AS mu", "round(qh, 6) AS qhat",
          "CASE WHEN n_test IS NULL OR n_test = 0 THEN CAST(NULL AS DOUBLE)" +
            " ELSE round(CAST(n_cov AS DOUBLE) / n_test, 6) END AS coverage")
        .orderBy("event_type")
    }),
  )

  val oracle: Map[String, String] = strictMap(

    "q_fleiss_kappa" ->
      s"""WITH rs AS (SELECT unnest(generate_series(0, ${Raters - 1})) AS r),
         |a AS (
         |  SELECT doc_id, n_chars % 3 AS b, r,
         |    ${hex2longSql("md5('rate-' || r || ':' || doc_id)", 1)} AS h
         |  FROM documents CROSS JOIN rs
         |),
         |c AS (
         |  SELECT doc_id,
         |    CASE WHEN h % 10 < 3 THEN (b + 1 + h % 2) % 3 ELSE b END AS cat
         |  FROM a
         |),
         |nij AS (SELECT doc_id, cat, count(*) AS m FROM c GROUP BY 1, 2),
         |item AS (SELECT doc_id, CAST(sum(m*m) AS BIGINT) AS s2
         |         FROM nij GROUP BY 1),
         |base AS (SELECT count(*) AS n, CAST(sum(s2) AS BIGINT) AS ss
         |         FROM item),
         |cj AS (SELECT cat, CAST(sum(m) AS BIGINT) AS cj
         |       FROM nij GROUP BY 1),
         |c2 AS (SELECT sum(CAST(cj AS HUGEINT) * cj) AS sc2 FROM cj),
         |f AS (
         |  SELECT CAST(n AS BIGINT) AS n_items,
         |    CAST($Raters AS BIGINT) AS n_raters,
         |    round(CAST(ss - $Raters*n AS DOUBLE)
         |      / CAST(${Raters * (Raters - 1)}*n AS DOUBLE), 8) AS po,
         |    round(CAST(sc2 AS DOUBLE) / (CAST(9 AS DOUBLE)
         |      * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 8) AS pe
         |  FROM base CROSS JOIN c2
         |)
         |SELECT n_items, n_raters, po, pe,
         |  CASE WHEN pe = CAST(1 AS DOUBLE) THEN CAST(NULL AS DOUBLE)
         |       ELSE round((po - pe) / (CAST(1 AS DOUBLE) - pe), 6)
         |       END AS kappa
         |FROM f""".stripMargin,

    "q_interval_union" ->
      """WITH iv AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS st,
        |    epoch_us(ts) + (1 + event_id % 60) * 1000000 AS en
        |  FROM events
        |),
        |m AS (
        |  SELECT user_id, event_id, st, en,
        |    max(en) OVER (PARTITION BY user_id ORDER BY st, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM iv
        |),
        |isl AS (
        |  SELECT user_id, st, en,
        |    sum(CASE WHEN pmax IS NULL OR st > pmax THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY st, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        |  FROM m
        |),
        |g AS (
        |  SELECT user_id, isl, count(*) AS ne,
        |    max(en) - min(st) AS cov
        |  FROM isl GROUP BY 1, 2
        |)
        |SELECT user_id, CAST(sum(ne) AS BIGINT) AS n_events,
        |  CAST(count(*) AS BIGINT) AS n_islands,
        |  CAST(sum(cov) AS BIGINT) AS covered_us
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_critical_path" -> {
      val rounds = (1 to PathRounds).map { i =>
        s"""l$i AS (
           |  SELECT v, CAST(max(c) AS BIGINT) AS l FROM (
           |    SELECT e.t AS v, l${i - 1}.l + 1 AS c
           |    FROM l${i - 1} JOIN e ON l${i - 1}.v = e.s
           |    UNION ALL
           |    SELECT v, l FROM l${i - 1}
           |  ) GROUP BY v
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH os AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
         |),
         |und AS (
         |  SELECT a.sk AS u, b.sk AS v
         |  FROM os a JOIN os b ON a.ok = b.ok AND a.sk < b.sk
         |  GROUP BY 1, 2 HAVING count(*) >= $PathMinW
         |),
         |deg AS (
         |  SELECT x, count(*) AS d FROM (
         |    SELECT u AS x FROM und UNION ALL SELECT v AS x FROM und
         |  ) GROUP BY x
         |),
         |e AS (
         |  SELECT CASE WHEN du < dv OR (du = dv AND u < v)
         |              THEN u ELSE v END AS s,
         |         CASE WHEN du < dv OR (du = dv AND u < v)
         |              THEN v ELSE u END AS t
         |  FROM und
         |  JOIN (SELECT x AS u, d AS du FROM deg) USING (u)
         |  JOIN (SELECT x AS v, d AS dv FROM deg) USING (v)
         |),
         |l0 AS (SELECT x AS v, CAST(0 AS BIGINT) AS l FROM deg),
         |$rounds
         |SELECT CAST(l AS BIGINT) AS level,
         |  CAST(count(*) AS BIGINT) AS n_vertices
         |FROM l$PathRounds GROUP BY 1 ORDER BY level""".stripMargin
    },

    "q_conformal" ->
      s"""WITH ev AS (
         |  SELECT event_type, event_id,
         |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS vq,
         |    ${hex2longSql("md5(CAST(event_id AS VARCHAR))", 1)} % 2 AS half
         |  FROM events WHERE value IS NOT NULL
         |),
         |mu AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_cal,
         |    round(CAST(sum(vq) AS DOUBLE) / CAST(count(*) AS DOUBLE), 8)
         |      AS mu
         |  FROM ev WHERE half = 0 GROUP BY 1
         |),
         |nc AS (
         |  SELECT ev.event_type, event_id,
         |    round(abs(CAST(vq AS DOUBLE) - mu), 8) AS nc
         |  FROM ev JOIN mu USING (event_type) WHERE half = 0
         |),
         |r AS (
         |  SELECT event_type, nc,
         |    CAST(row_number() OVER (PARTITION BY event_type
         |      ORDER BY nc, event_id) AS BIGINT) AS rk
         |  FROM nc
         |),
         |qh AS (
         |  SELECT r.event_type, nc AS qh
         |  FROM r JOIN mu USING (event_type)
         |  WHERE rk = least(n_cal, (${ConfAlphaInv - 1} * (n_cal + 1)
         |    + ${ConfAlphaInv - 1}) // $ConfAlphaInv)
         |),
         |cov AS (
         |  SELECT ev.event_type, CAST(count(*) AS BIGINT) AS n_test,
         |    CAST(sum(CASE WHEN round(abs(CAST(vq AS DOUBLE) - mu), 8)
         |      <= qh THEN 1 ELSE 0 END) AS BIGINT) AS n_cov
         |  FROM ev JOIN mu USING (event_type) JOIN qh USING (event_type)
         |  WHERE half = 1 GROUP BY 1
         |)
         |SELECT event_type, n_cal,
         |  CAST(coalesce(n_test, 0) AS BIGINT) AS n_test,
         |  round(mu, 6) AS mu, round(qh, 6) AS qhat,
         |  CASE WHEN n_test IS NULL OR n_test = 0 THEN CAST(NULL AS DOUBLE)
         |       ELSE round(CAST(n_cov AS DOUBLE) / n_test, 6) END AS coverage
         |FROM mu JOIN qh USING (event_type)
         |LEFT JOIN cov USING (event_type)
         |ORDER BY event_type""".stripMargin,
  )
}
