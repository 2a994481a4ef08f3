package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Ckpt._

/** Deterministic statistics / evaluation additions: time-series
  * autocorrelation and seasonal-naive error on the daily event series,
  * probabilistic-forecast scoring (Brier, log-loss) beside q_auc /
  * q_confusion / q_calibration, l-diversity beside q_kanon, and the
  * modularity score of the q_communities partition.
  *
  * Float discipline is the house standard: integer/rational identities
  * wherever algebra allows (ACF and Brier numerators are pure BIGINT after
  * multiplying out the rational mean), the round(ln(x), 8) pre-round where
  * a log is irreducible, 6-decimal contribution rounding + decimal sums,
  * and one terminal division shared verbatim with the oracle.
  */
object Metrics extends Catalog {

  type Q = (SparkSession, String) => DataFrame

  /** Micros per day (the q_heatmap day-arithmetic convention). */
  private val DayUs = 86400000000L

  /** Micros per hour (q_survival's duration grain). */
  private val HourUs = 3600000000L

  /** q_survival's administrative right-censoring horizon (hours): a user
    * whose first purchase falls after τ (or never happens) is censored at
    * τ — the rule that guarantees both deaths and censored subjects on
    * any corpus with purchases. */
  private val Tau = 72L

  /** l-diversity threshold (sensitive attribute must take ≥ 3 distinct
    * values inside every quasi-identifier group). */
  private val LDiv = 3L

  /** round(ln(10000), 8) — the log-loss probability denominator, a
    * literal so neither engine computes it at runtime. */
  private val Ln1e4 = "9.21034037"

  /** CMS dimensions for the join-size sketch (the q_sketch_cms shape). */
  private val JsDepth = 4
  private val JsWidth = 64

  /** Per-event log-loss contribution (columns y ∈ {0,1}, vl ∈ [1,9999]):
    * ln(p) = ln(vl) − ln(10⁴) with both logs 8-decimal pre-rounded, then
    * the 6-decimal round that makes contributions decimal-summable. */
  private val LoglossContribExpr =
    s"round(-(y * (round(ln(CAST(vl AS DOUBLE)), 8) - $Ln1e4)" +
      s" + (1 - y) * (round(ln(CAST(10000 - vl AS DOUBLE)), 8) - $Ln1e4)), 6)"

  /** Daily event counts as (day, x). */
  private def daily(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events")
      .select((expr("unix_micros(ts)") / DayUs).cast("long").as("day"))
      .groupBy("day").agg(count(lit(1)).as("x"))

  private val DailySql =
    s"""daily AS (
       |  SELECT epoch_us(ts) // $DayUs AS day, count(*) AS x
       |  FROM events GROUP BY 1
       |)""".stripMargin

  val queries: Map[String, Q] = strictMap(

    // Sample autocorrelation of the daily event-count series at lags
    // 1..7 — the seasonality detector a forecasting pipeline runs first.
    // The mean is rational (S/n), so both sums multiply out to pure
    // BIGINT: r_k = Σ(n·x_t−S)(n·x_{t−k}−S) / Σ(n·x_t−S)² with ONE
    // terminal division. Lagged pairs come from an equi-join on
    // (day − lag) — at 10⁴ days the aggregated series is broadcast-tiny;
    // the heavy lifting is the one partial-agg'd daily count shuffle.
    "q_autocorr" -> ((s, dir) => {
      val d = daily(s, dir)
      val st = d.agg(sum("x").as("sx"), count(lit(1)).as("n"))
      val c = d.crossJoin(broadcast(st))
        .select(col("day"), (col("n") * col("x") - col("sx")).as("cx"))
      val den = c.agg(sum(expr("cx * cx")).as("den"))
      val lags = c.select(col("day"), col("cx"),
        explode(expr("sequence(1, 7)")).as("lag"))
      lags.join(c.select((col("day")).as("pday"), col("cx").as("pcx")),
          lags("day") - lags("lag") === col("pday"))
        .groupBy("lag")
        .agg(count(lit(1)).as("n_pairs"), sum(expr("cx * pcx")).as("num"))
        .crossJoin(broadcast(den))
        .select(col("lag").cast("long").as("lag"), col("n_pairs"),
          expr("round(CAST(num AS DOUBLE) / den, 6)").as("acf"))
        .orderBy("lag")
    }),

    // Seasonal-naive forecast error: forecast_t = x_{t−7} (weekly
    // season), MAE vs the lag-1 naive baseline, MASE as their ratio —
    // all integer sums, three terminal divisions. The backtest a
    // capacity-planning pipeline runs before trusting a model.
    "q_seasonal_error" -> ((s, dir) => {
      val d = daily(s, dir)
      def maeAt(k: Int, tag: String) = d.alias("a")
        .join(d.alias("b"), col("a.day") - k === col("b.day"))
        .agg(count(lit(1)).as(s"n_$tag"),
          sum(expr("abs(a.x - b.x)")).as(s"ae_$tag"))
      maeAt(7, "season").crossJoin(maeAt(1, "naive"))
        .select(col("n_season"), col("n_naive"),
          expr("round(CAST(ae_season AS DOUBLE) / n_season, 6)").as("mae_season"),
          expr("round(CAST(ae_naive AS DOUBLE) / n_naive, 6)").as("mae_naive"),
          expr("round((CAST(ae_season AS DOUBLE) / n_season)" +
            " / (CAST(ae_naive AS DOUBLE) / n_naive), 6)").as("mase"))
    }),

    // Probabilistic-forecast scoring for "value predicts purchase":
    // p = min(cents, 10⁴)/10⁴. Brier = Σ(v − 10⁴y)²/(n·10⁸) is exact
    // rational (BIGINT numerator); log-loss clamps p into (0,1) and uses
    // the pre-rounded-ln contribution. One conditional-sum pass,
    // constant state — the q_confusion profile.
    "q_brier" -> ((s, dir) => {
      table(s, dir, "events")
        .selectExpr(
          "CAST(least(floor(value*100 + 0.5), 10000) AS BIGINT) AS vb",
          "CAST(least(greatest(floor(value*100 + 0.5), 1), 9999) AS BIGINT) AS vl",
          "CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS BIGINT) AS y")
        .withColumn("ll", expr(LoglossContribExpr))
        .agg(count(lit(1)).as("n"),
          sum(expr("(vb - 10000*y) * (vb - 10000*y)")).as("bnum"),
          dsum(col("ll"), 6).as("lsum"))
        .select(col("n"),
          expr("round(CAST(bnum AS DOUBLE) / n / 100000000, 6)").as("brier"),
          expr("round(lsum / n, 6)").as("logloss"))
    }),

    // l-diversity audit beside q_kanon: same quasi-identifier groups
    // (segment × coarse region), sensitive attribute = account-balance
    // band; a group is safe only if the sensitive value takes ≥ 3
    // distinct values (k-anonymity alone lets a homogeneous group leak).
    // One grouped pass, integer state.
    "q_ldiversity" -> ((s, dir) => {
      table(s, dir, "customer")
        .select(col("c_mktsegment"),
          (col("c_nationkey") % 5).cast("long").as("region"),
          expr("CAST(floor(c_acctbal / 1000) AS BIGINT)").as("band"))
        .groupBy("c_mktsegment", "region")
        .agg(count(lit(1)).as("n"), count_distinct(col("band")).as("ldiv"))
        .withColumn("safe",
          expr(s"CAST(CASE WHEN ldiv >= $LDiv THEN 1 ELSE 0 END AS BIGINT)"))
        .orderBy("c_mktsegment", "region")
    }),

    // Freshness-decayed activity score: per event type, events weighted by
    // 2^-(age_weeks) with a 7-day half-life — the recency prior a
    // training-data mixer applies to crawl snapshots. Weights are DYADIC
    // (age div 7 capped at 12), so the score is an exact BIGINT in units
    // of 2⁻¹²: weighted_scaled = Σ n·2^(12−k) — no float decay drift, one
    // division at the end for the human-readable column. One partial-agg'd
    // daily shuffle; the decay arithmetic runs on the aggregate.
    "q_decay_score" -> ((s, dir) => {
      val d = table(s, dir, "events")
        .groupBy(col("event_type"),
          expr("CAST(unix_date(to_date(ts)) AS BIGINT)").as("day"))
        .agg(count(lit(1)).as("n"))
      val mx = broadcast(d.agg(max(col("day")).as("mxd")))
      d.crossJoin(mx)
        .withColumn("k", expr("least((mxd - day) div 7, 12)"))
        .withColumn("ws", expr(
          "n * shiftleft(CAST(1 AS BIGINT), CAST(12 - k AS INT))"))
        .groupBy("event_type")
        .agg(sum(col("n")).as("n_events"), sum(col("ws")).as("scaled"))
        .withColumn("weighted",
          expr("round(CAST(scaled AS DOUBLE) / 4096, 6)"))
        .orderBy("event_type")
    }),

    // Two-sample Kolmogorov-Smirnov distance between the event-value
    // distributions of the two user_id-parity variants. Exact KS needs a
    // cumulative count at every distinct value (a corpus-wide ordered
    // cumsum); the scale-honest form quantizes to integer buckets
    // (floor(value) — domain-bounded, ≤ \|value range\| rows at ANY corpus
    // size) so the ECDF window runs over the bucket AGGREGATE. The gap is
    // the cross-multiplied integer \|c0·n1 − c1·n0\| — one division for
    // the reported D at the end; argmax ties break to the smallest bucket
    // via max(struct(gap, −b)) both engines.
    "q_ks_test" -> ((s, dir) => {
      val g = table(s, dir, "events")
        .select((col("user_id") % 2).cast("int").as("variant"),
          expr("CAST(floor(value) AS BIGINT)").as("b"))
        .groupBy("b")
        .agg(sum(when(col("variant") === 0, 1L).otherwise(0L)).as("d0"),
          sum(when(col("variant") === 1, 1L).otherwise(0L)).as("d1"))
      val tot = broadcast(g.agg(sum(col("d0")).as("n0"),
        sum(col("d1")).as("n1")))
      val w = org.apache.spark.sql.expressions.Window.orderBy("b")
      g.withColumn("c0", sum(col("d0")).over(w))
        .withColumn("c1", sum(col("d1")).over(w))
        .crossJoin(tot)
        .withColumn("gap", abs(col("c0") * col("n1") - col("c1") * col("n0")))
        .agg(max(struct(col("gap"), (-col("b")).as("nb"))).as("m"),
          max(col("n0")).as("n0"), max(col("n1")).as("n1"))
        .select((-col("m.nb")).as("ks_bucket"),
          col("m.gap").as("gap_scaled"),
          expr("round(CAST(m.gap AS DOUBLE) / (n0 * n1), 6)").as("ks_d"),
          col("n0"), col("n1"))
    }),

    // Simpson's-paradox audit: per-segment vs pooled conversion rates for
    // the user_id-parity split. All comparisons are integer
    // CROSS-MULTIPLIED (c0·n1 vs c1·n0 — no rate floats decide anything);
    // the two rounded divisions per row are display-only. One partial-agg
    // count shuffle is the only corpus-scale stage; the pooled row folds
    // from the same aggregate (rollup), not a second scan.
    "q_simpson" -> ((s, dir) =>
      table(s, dir, "events")
        .select((col("user_id") % 2).cast("int").as("variant"),
          col("event_type").as("segment"),
          when(col("value") > 500, 1L).otherwise(0L).as("conv"))
        .groupBy("segment", "variant")
        .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
        .groupBy("segment")
        .agg(sum(when(col("variant") === 0, col("n"))).as("n0"),
          sum(when(col("variant") === 0, col("c"))).as("c0"),
          sum(when(col("variant") === 1, col("n"))).as("n1"),
          sum(when(col("variant") === 1, col("c"))).as("c1"))
        .select(col("segment"), col("n0"), col("c0"), col("n1"), col("c1"))
        .unionByName(
          table(s, dir, "events")
            .select((col("user_id") % 2).cast("int").as("variant"),
              when(col("value") > 500, 1L).otherwise(0L).as("conv"))
            .groupBy("variant")
            .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
            .groupBy()
            .agg(sum(when(col("variant") === 0, col("n"))).as("n0"),
              sum(when(col("variant") === 0, col("c"))).as("c0"),
              sum(when(col("variant") === 1, col("n"))).as("n1"),
              sum(when(col("variant") === 1, col("c"))).as("c1"))
            .select(lit("__all__").as("segment"),
              col("n0"), col("c0"), col("n1"), col("c1")))
        .withColumn("rate0", expr("round(CAST(c0 AS DOUBLE) / n0, 6)"))
        .withColumn("rate1", expr("round(CAST(c1 AS DOUBLE) / n1, 6)"))
        .withColumn("winner", expr(
          "CAST(CASE WHEN c0 * n1 > c1 * n0 THEN 0 " +
            "WHEN c0 * n1 < c1 * n0 THEN 1 ELSE -1 END AS INT)"))
        .orderBy("segment")),

    // CUPED variance reduction (Deng et al. 2013): per-user pre-period
    // metric X and experiment-period metric Y (split at the corpus's
    // midpoint day), variant = user_id parity; the adjusted mean is
    // mean(Y) − θ·(mean(X) − mean_all(X)) with θ = cov(X,Y)/var(X) pooled.
    // Per-user sums are DECIMAL(18,4)-exact, the θ power sums (Σxy, Σx²)
    // are exact DECIMAL(38,8) cross-products — identical decimals reach
    // the one double division in both engines, and the remaining scalar
    // ops are the same expression tree, so the floats cannot drift. The
    // only corpus-scale stage is the per-user aggregate (1 shuffle); all
    // moment math runs on the |users| table and 1-row broadcasts.
    "q_cuped" -> ((s, dir) => {
      val ev = table(s, dir, "events")
        .select(col("user_id"),
          expr("CAST(unix_date(to_date(ts)) AS BIGINT)").as("day"),
          expr("CAST(round(value, 4) AS DECIMAL(18,4))").as("v"))
      val mid = broadcast(ev.agg(
        expr("(min(day) + max(day)) div 2").as("mid")))
      val u = ev.crossJoin(mid)
        .groupBy("user_id")
        .agg(sum(when(col("day") < col("mid"), col("v"))
            .otherwise(lit(0).cast("decimal(18,4)"))).cast("decimal(18,4)")
            .as("x"),
          sum(when(col("day") >= col("mid"), col("v"))
            .otherwise(lit(0).cast("decimal(18,4)"))).cast("decimal(18,4)")
            .as("y"))
        .withColumn("variant", (col("user_id") % 2).cast("int"))
      val theta = broadcast(u.agg(
        count(lit(1)).as("n"),
        sum(col("x")).cast("decimal(38,8)").as("sx"),
        sum(col("y")).cast("decimal(38,8)").as("sy"),
        sum(expr("CAST(x AS DECIMAL(19,4)) * CAST(y AS DECIMAL(19,4))"))
          .cast("decimal(38,8)").as("sxy"),
        sum(expr("CAST(x AS DECIMAL(19,4)) * CAST(x AS DECIMAL(19,4))"))
          .cast("decimal(38,8)").as("sxx"))
        .withColumn("theta", expr(
          "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - " +
            "CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
            "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
            "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"))
        .withColumn("mx", expr("CAST(sx AS DOUBLE) / n"))
        .select("theta", "mx"))
      u.groupBy("variant")
        .agg(count(lit(1)).as("n_users"),
          sum(col("x")).cast("decimal(38,4)").as("vx"),
          sum(col("y")).cast("decimal(38,4)").as("vy"))
        .crossJoin(theta)
        .select(col("variant"), col("n_users"),
          expr("round(CAST(vy AS DOUBLE) / n_users, 6)").as("mean_y"),
          expr("round(CAST(vy AS DOUBLE) / n_users - theta * " +
            "(CAST(vx AS DOUBLE) / n_users - mx), 6)").as("mean_y_cuped"),
          expr("round(theta, 6)").as("theta"))
        .orderBy("variant")
    }),

    // Dynamic time warping distance between each event type's daily
    // series and the purchase series — the alignment-tolerant similarity
    // a seasonality/shape analysis needs where Pearson (q_cross_corr)
    // assumes rigid day alignment. Full O(n·m) DP as a nested array
    // aggregate: the outer fold walks rows, the inner fold builds each
    // row left-to-right (the sequential dependency is inherent to DTW),
    // all BIGINT with an INF sentinel — bit-equal in the oracle's
    // (i, j)-stepping recursive CTE. The DP runs on AGGREGATED
    // calendar-bounded series (n·m ≈ 10⁴ cells at a century of days);
    // the corpus-scale stage is the one daily count shuffle.
    "q_dtw" -> ((s, dir) => {
      val inf = "CAST(1000000000000000 AS BIGINT)"
      val daily = table(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .groupBy("event_type")
        .agg(expr("transform(sort_array(collect_list(struct(day, n))), s -> s.n)")
          .as("b"))
      val pa = broadcast(daily.where(col("event_type") === "purchase")
        .select(col("b").as("a")))
      daily.crossJoin(pa)
        .withColumn("dtw", expr(
          s"""aggregate(
             |  sequence(1, size(a)),
             |  transform(b, x -> $inf),
             |  (prev, i) -> aggregate(
             |    sequence(1, size(b)),
             |    CAST(array() AS ARRAY<BIGINT>),
             |    (row, j) -> concat(row, array(
             |      abs(element_at(a, i) - element_at(b, j)) + least(
             |        element_at(prev, j),
             |        CASE WHEN j = 1 THEN $inf
             |             ELSE element_at(row, j - 1) END,
             |        CASE WHEN j = 1 THEN
             |               (CASE WHEN i = 1 THEN CAST(0 AS BIGINT)
             |                     ELSE $inf END)
             |             ELSE element_at(prev, j - 1) END)))),
             |  prev -> element_at(prev, size(b)))""".stripMargin))
        .select(col("event_type"), size(col("a")).cast("long").as("n_a"),
          size(col("b")).cast("long").as("n_b"), col("dtw"))
        .orderBy("event_type")
    }),

    // Lagged cross-correlation between the daily click and purchase
    // series (lead/lag discovery — "do clicks predict purchases k days
    // out?"): for each lag in [−7, 7], Pearson r over the PAIRED days
    // from the five integer power sums (the q_corr discipline — exact
    // BIGINTs, one identical sqrt expression; IEEE sqrt is correctly
    // rounded, so it is engine-invariant unlike ln). Pairing is an
    // equi-join on day+lag after a ×15 lag explode of the aggregated
    // daily table — never a range join, and the series is calendar-
    // bounded at any corpus scale.
    "q_cross_corr" -> ((s, dir) => {
      val d = table(s, dir, "events")
        .groupBy(expr("CAST(unix_date(to_date(ts)) AS BIGINT)").as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
      val x = d.where(col("event_type") === "click")
        .select(col("day"), col("n").as("x"))
      val y = d.where(col("event_type") === "purchase")
        .select(col("day").as("yday"), col("n").as("y"))
      x.select(col("day"), col("x"),
          explode(expr("sequence(-7, 7)")).as("lag"))
        .join(y, col("day") + col("lag") === col("yday"))
        .groupBy("lag").agg(
          count(lit(1)).as("n_pairs"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(expr("x*y")).as("sxy"),
          sum(expr("x*x")).as("sxx"), sum(expr("y*y")).as("syy"))
        .withColumn("r", round(expr(
          """(CAST(n_pairs AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy) /
            | sqrt((CAST(n_pairs AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx) *
            |       (CAST(n_pairs AS DOUBLE)*syy - CAST(sy AS DOUBLE)*sy))"""
            .stripMargin), 6))
        .select(col("lag").cast("long").as("lag"), col("n_pairs"), col("r"))
        .orderBy("lag")
    }),

    // t-closeness (Li et al., ICDE'07): for each quasi-identifier group,
    // the Earth-Mover's Distance between the group's distribution over an
    // ORDERED sensitive attribute (price binned to 10 levels) and the
    // global distribution — EMD over ordered categories is the mean
    // absolute cumulative-share gap. All-integer core: per bin,
    // |cumc·N − cumg·n_g| is exact BIGINT (cross-multiplied fractions);
    // ONE division + round(6) per group at the end. The windows run over
    // the |groups|×k aggregate grid (metadata-scale), never the fact; at
    // 100 TB the BIGINT cross-products upgrade to DECIMAL(38,0) — the
    // same discipline as every sketch here. Complete (group × bin) grid
    // via cross join of the two distinct sides so zero-count bins carry
    // through the cumsum.
    "q_tcloseness" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val b = table(s, dir, "orders")
        .select(col("o_orderpriority").as("grp"),
          expr("least(CAST(floor(o_totalprice / 50000) AS BIGINT), 9)").as("bin"))
      val cell = b.groupBy("grp", "bin").agg(count(lit(1)).as("c"))
      val glob = b.groupBy("bin").agg(count(lit(1)).as("g"))
      val grid = cell.select("grp").distinct()
        .crossJoin(glob.select("bin"))
        .join(cell, Seq("grp", "bin"), "left_outer")
        .withColumn("c", coalesce(col("c"), lit(0L)))
        .join(glob, Seq("bin"))
      val k = Window.partitionBy("grp").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = grid
        .withColumn("cumc", sum(col("c")).over(k))
        .withColumn("cumg", sum(col("g")).over(k))
      val ng = cell.groupBy("grp").agg(sum(col("c")).as("n_g"))
      val tot = broadcast(b.agg(count(lit(1)).as("nn"),
        count_distinct(col("bin")).as("kk")))
      cum.join(ng, Seq("grp")).crossJoin(tot)
        .withColumn("d", abs(col("cumc") * col("nn") - col("cumg") * col("n_g")))
        .groupBy("grp")
        .agg(first(col("n_g")).as("n_g"),
          expr("round(CAST(sum(d) AS DOUBLE)" +
            " / CAST(first(n_g) * first(nn) * (first(kk) - 1) AS DOUBLE), 6)")
            .as("t"))
        .orderBy("grp")
    }),

    // Chi-square independence statistic over the documents lang × source
    // contingency table: χ² = Σ (O − E)²/E with E = row·col/N, computed
    // as the cross-multiplied integer form (O·N − row·col)² / (row·col·N)
    // with the residual, its square, and the denominator all computed in
    // DECIMAL (Spark) / HUGEINT (DuckDB): the residual alone can reach
    // ~N² and its square ~N⁴, which silently wraps int64 once the
    // residual exceeds ~3·10⁹ (≈10⁵ skewed documents) — so every
    // product is exact 128-bit on BOTH engines. The residual is O(N²)
    // and its square must fit DECIMAL(38,0)/HUGEINT (~10³⁸), so the
    // exactness bound is residual ≲ 10¹⁹ ⇒ N ≲ ~3·10⁹ observations —
    // ample for a contingency table, not unbounded. Each cell pays one
    // correctly-rounded division + round(8) before a decimal sum. The
    // contingency table is |langs|×|sources| — metadata-scale; the only
    // data-scale stage is the one partial-agg'd count shuffle.
    "q_chi2" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val cell = d.groupBy("lang", "source").agg(count(lit(1)).as("o"))
      val rowS = cell.groupBy("lang").agg(sum(col("o")).as("r"))
      val colS = cell.groupBy("source").agg(sum(col("o")).as("cc"))
      val tot = broadcast(d.agg(count(lit(1)).as("nn")))
      // complete grid: an UNOBSERVED (lang, source) cell still contributes
      // E = r·c/N to the statistic — dropping zero cells understates χ²
      rowS.crossJoin(colS)
        .join(cell, Seq("lang", "source"), "left_outer")
        .withColumn("o", coalesce(col("o"), lit(0L)))
        .crossJoin(tot)
        .withColumn("res", expr(
          "CAST(o AS DECIMAL(19,0)) * nn - CAST(r AS DECIMAL(19,0)) * cc"))
        .withColumn("cellchi",
          expr("round(CAST(res * res AS DOUBLE)" +
            " / CAST(CAST(r AS DECIMAL(19,0)) * cc * nn AS DOUBLE), 8)"))
        .agg(count(lit(1)).as("n_cells"),
          ((count_distinct(col("lang")) - 1) *
            (count_distinct(col("source")) - 1)).as("df"),
          dsum(col("cellchi"), 8).as("chi2"))
    }),

    // Rendezvous (highest-random-weight) sharding + the rescale audit:
    // shard(doc, n) = argmax over s<n of md5("rdv-s:doc") — pure PRF, no
    // ring state, and growing n→n+1 moves ONLY the docs whose new
    // shard's hash beats their old maximum (≈ 1/(n+1) of the corpus;
    // consistent-hashing's minimal-movement property). The audit emits
    // per-shard occupancy at n=9 plus how many docs kept their n=8
    // placement — what an elastic 100 TB store checks before a rescale.
    // argmax by STRING max on the hex hash (identical collation both
    // engines); one narrow ×9 explode, one partial-agg'd shuffle.
    "q_shard_rebalance" -> ((s, dir) => {
      val h = table(s, dir, "documents").select("doc_id")
        .select(col("doc_id"), explode(expr("sequence(0, 8)")).as("sh"))
        .withColumn("h", expr(
          "md5(concat('rdv-', CAST(sh AS STRING), ':', CAST(doc_id AS STRING)))"))
      val a = h.groupBy("doc_id").agg(
        max(when(col("sh") < 8, struct(col("h"), col("sh")))).as("m8"),
        max(struct(col("h"), col("sh"))).as("m9"))
        .select(col("doc_id"), col("m8.sh").as("s8"), col("m9.sh").as("s9"))
      a.groupBy(col("s9").cast("long").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(expr("CASE WHEN s8 = s9 THEN 1 ELSE 0 END")).as("n_kept"))
        .orderBy("shard")
    }),

    // Weighted sampling WITHOUT replacement (Efraimidis-Spirakis A-Res):
    // key = ln(u)/w with u a doc-keyed PRF uniform and w = n_chars; the
    // top-k keys ARE a w-proportional sample — one narrow pass + a
    // TakeOrderedAndProject, no rejection loop, reproducible across
    // runs/cluster sizes. ln pre-rounded 8 (house float discipline);
    // exactly k rows at any corpus size (vs q_sample_pps's Poisson size).
    "q_sample_weighted" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      table(s, dir, "documents").select(col("doc_id"), col("n_chars").as("w"))
        .where(col("w") > 0)
        .withColumn("u_h", expr(
          "CAST(conv(substring(md5(concat('esw-', CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT)"))
        .withColumn("k", expr(
          "round(ln((CAST(u_h AS DOUBLE) + 1) / 4294967296.0), 8) / w"))
        .orderBy(desc("k"), asc("doc_id")).limit(10)
        .withColumn("rank", row_number()
          .over(Window.orderBy(desc("k"), asc("doc_id"))).cast("long"))
        .select(col("rank"), col("doc_id"), col("w"))
    }),

    // Theil-Sen robust trend: the DISCRETE median of all pairwise slopes
    // of the daily series — outlier-proof where OLS (q_regression) is
    // not. All C(n,2) pairs of the |days|-row AGGREGATED series (the
    // corpus collapses first — the pair join is over a broadcast-size
    // table at any corpus scale); median by position on a total order,
    // slope division IEEE-identical both engines.
    "q_theil_sen" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = daily(s, dir)
      val pairs = d.alias("a").join(d.alias("b"),
          col("a.day") < col("b.day"))
        .select(col("a.day").as("i"), col("b.day").as("j"),
          expr("round(CAST(b.x - a.x AS DOUBLE) / (b.day - a.day), 8)")
            .as("slope"))
      val n = pairs.agg(count(lit(1)).as("n"))
      pairs.withColumn("rn", row_number()
          .over(Window.orderBy("slope", "i", "j")).cast("long"))
        .crossJoin(broadcast(n))
        .where(col("rn") === expr("(n + 1) div 2"))
        .select(col("n").as("n_pairs"), col("slope").as("median_slope"))
    }),

    // Join-size estimation by CMS inner product (AMS/CMS sketch algebra):
    // the size of the l_suppkey self-join is Σ_k cnt_k², estimated as
    // min_j Σ_cells cell_j² — the pre-flight check an optimizer (or an
    // engineer eyeing a suspicious self-join) runs BEFORE paying for the
    // join. Never undercounts (inner-product guarantee). One per-key
    // count shuffle + a d·w-cell sketch agg; the true value rides the
    // same key table for the accuracy report. Hashing is the
    // vocabulary-collapsed Sketches discipline (md5 per DISTINCT key).
    "q_sketch_join_size" -> ((s, dir) => {
      val keyCnt = table(s, dir, "lineitem")
        .groupBy(col("l_suppkey").as("k")).agg(count(lit(1)).as("cnt"))
      val cells = keyCnt
        .select(col("k"), col("cnt"),
          explode(expr(s"sequence(0, ${JsDepth - 1})")).as("j"))
        .withColumn("cell", expr(
          s"CAST(conv(substring(md5(concat(CAST(j AS STRING), ':', CAST(k AS STRING))), 1, 8), 16, 10) AS BIGINT) % $JsWidth"))
        .groupBy("j", "cell").agg(sum("cnt").as("c"))
      val est = cells.groupBy("j").agg(sum(expr("c * c")).as("e"))
        .agg(min("e").as("est_sq"))
      keyCnt.agg(count(lit(1)).as("n_keys"),
          sum(expr("cnt * cnt")).as("true_sq"))
        .crossJoin(broadcast(est))
        .select(col("n_keys"), col("true_sq"), col("est_sq"),
          expr("round(CAST(est_sq AS DOUBLE) / true_sq, 4)").as("ratio"))
    }),

    // The native TypedImperativeAggregate HLL (functions.HllRegisterAgg,
    // the engine-layer aggregate tier of the custom-operator tour):
    // SAME output as the DataFrame-composed q_sketch_hll — n_true, m,
    // estimate, register-table md5 — and the SAME DuckDB oracle, because
    // the register rule is bit-compatible by construction. The buffer IS
    // the 64-register array: partial buffers collapse map-side inside
    // ObjectHashAggregate and ONE array per partition crosses the
    // shuffle (vs the composed form's (bucket, rho) rows).
    "q_sketch_hll_native" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val regs = li
        .agg(graft.functions.HllRegisterAgg(col("l_orderkey")).as("rs"))
        .select(posexplode(col("rs")).as(Seq("bucket", "reg")))
        .select(col("bucket").cast("long").as("bucket"), col("reg"))
      val est = graft.operators.Sketches.hllEstimate(regs, 64, 0.709)
      val regMd5 = regs.agg(
        expr("md5(array_join(transform(sort_array(collect_list(struct(bucket, reg))), x -> CAST(x.reg AS STRING)), ','))")
          .as("reg_md5"))
      li.agg(count_distinct(col("l_orderkey")).as("n_true"))
        .crossJoin(broadcast(est))
        .crossJoin(broadcast(regMd5))
        .select(col("n_true"), lit(64L).as("m"), col("est"), col("reg_md5"))
    }),

    // Mutual information I(feature; lang) for two candidate document
    // features — the feature-selection ranking an ML-prep pipeline runs
    // before committing training columns. Per contingency cell:
    // (n_ab/N)·ln(N·n_ab/(n_a·n_b)), computed as the integer n_ab times
    // the 8-pre-rounded ln of ONE division over exact BIGINT products
    // (the house ln discipline), decimal-summed, one terminal /N.
    // Everything happens on the aggregated contingency tables (cells =
    // |feature|×|langs|, broadcast-size at any corpus scale); the only
    // data-scale stage is the joint-count shuffle.
    "q_infogain" -> ((s, dir) => {
      def mi(name: String, fcol: org.apache.spark.sql.Column) = {
        val d = table(s, dir, "documents")
          .select(fcol.as("a"), col("lang").as("b"))
        val joint = d.groupBy("a", "b").agg(count(lit(1)).as("nab"))
        val na = joint.groupBy("a").agg(sum("nab").as("na"))
        val nb = joint.groupBy("b").agg(sum("nab").as("nb"))
        val tot = joint.agg(sum("nab").as("nn"))
        joint.join(na, "a").join(nb, "b").crossJoin(broadcast(tot))
          .select((col("nab") *
            expr("round(ln(CAST(nn * nab AS DOUBLE) / (na * nb)), 8)"))
            .as("c"), col("nn"))
          .groupBy("nn").agg(dsum(col("c"), 6).as("csum"))
          .select(lit(name).as("feature"),
            expr("round(csum / nn, 6)").as("mi"))
      }
      mi("source", col("source"))
        .unionByName(mi("len_band", expr("n_chars div 100")))
        .orderBy("feature")
    }),

    // Kaplan-Meier survival curve for time-to-first-purchase, with
    // administrative right-censoring at τ = 72 h (first purchase after τ
    // or never → censored at τ). The product-limit estimator is emitted
    // in LOG form — per death-time contribution ln((n_t − d_t)/n_t)
    // pre-rounded to 8 decimals (the house ln discipline), then a
    // cumulative DECIMAL sum, so the curve is exact decimal arithmetic
    // with no cross-engine exp. Per-user collapse is one partial-agg'd
    // shuffle; everything after runs on the ≤ τ+1-row duration table
    // (the global-ORDER window is over that aggregate, not the corpus).
    "q_survival" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = table(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          (unix_micros(col("ts")) / HourUs).cast("long").as("h"))
      val u = e.groupBy("user_id").agg(min("h").as("fh"))
      val p = e.where(col("event_type") === "purchase")
        .groupBy("user_id").agg(min("h").as("ph"))
      val lab = u.join(p, Seq("user_id"), "left")
        .select(
          least(coalesce(col("ph") - col("fh"), lit(Tau + 1)), lit(Tau))
            .as("dur"),
          when(col("ph").isNotNull && col("ph") - col("fh") <= Tau, 1L)
            .otherwise(0L).as("death"))
      val byd = lab.groupBy("dur")
        .agg(count(lit(1)).as("n_tot"), sum("death").as("d"))
      val tot = byd.agg(sum("n_tot").as("n"))
      val prev = Window.orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, -1)
      byd.crossJoin(broadcast(tot))
        .withColumn("n_risk",
          (col("n") - coalesce(sum("n_tot").over(prev), lit(0L))).cast("long"))
        .withColumn("contrib",
          expr("round(ln(CAST(n_risk - d AS DOUBLE) / n_risk), 8)"))
        .withColumn("km_log",
          sum(expr("CAST(contrib AS DECIMAL(18,8))"))
            .over(Window.orderBy("dur")).cast("double"))
        .where(col("d") > 0)
        .select(col("dur"), col("d"), col("n_risk"),
          round(col("km_log"), 6).as("km_log"))
        .orderBy("dur")
    }),

    // KMV (bottom-k) cardinality sketch via the native kmv_agg
    // TypedImperativeAggregate — the order-statistics twin of
    // q_sketch_hll_native: the 64 smallest distinct 32-bit key hashes
    // ARE the sketch, estimate = (k−1)·2³² div h_k (one exact integer
    // division). The sketch CONTENT is oracle-checked (kmv_md5), not
    // just the estimate — DuckDB reproduces the identical bottom-64 set
    // from the same md5 hash rule.
    "q_sketch_kmv" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val sk = li.agg(graft.functions.KmvAgg(col("l_orderkey")).as("ks"))
        .select(expr("CAST(size(ks) AS BIGINT)").as("k"),
          expr("element_at(ks, -1)").as("h_k"),
          expr("md5(array_join(transform(ks, x -> CAST(x AS STRING)), ','))")
            .as("kmv_md5"))
      li.agg(count_distinct(col("l_orderkey")).as("n_true"))
        .crossJoin(broadcast(sk))
        .select(col("n_true"), col("k"), col("h_k"),
          expr("(k - 1) * 4294967296 div h_k").as("est"), col("kmv_md5"))
    }),

    // KMV set algebra — the property HLL registers lack: because the
    // sketch is a uniform bottom-k SAMPLE of the hash space, two
    // sketches support union AND intersection estimation. K = bottom-k
    // of the merged sketches estimates |A∪B| as usual; ρ = |{x ∈ K :
    // x ∈ sketch(A) ∧ x ∈ sketch(B)}| gives Jaccard ≈ ρ/k, so
    // |A∩B| ≈ ρ·est_union div k — all exact integer arithmetic over
    // two 64-long arrays. Sets: click-users vs purchase-users.
    "q_sketch_kmv_sets" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      def sk(t: String, alias: String) =
        ev.where(col("event_type") === t)
          .agg(graft.functions.KmvAgg(col("user_id")).as(alias))
      val truth = ev.where(col("event_type").isin("click", "purchase"))
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "click", 1L)).as("c"),
          max(when(col("event_type") === "purchase", 1L)).as("p"))
        .agg(count(lit(1)).as("true_union"),
          sum(when(col("c") === 1L && col("p") === 1L, 1L).otherwise(0L))
            .as("true_inter"))
      sk("click", "ka").crossJoin(sk("purchase", "kb"))
        .select(
          expr("slice(array_sort(array_distinct(concat(ka, kb))), 1, 64)")
            .as("k"),
          col("ka"), col("kb"))
        .select(
          expr("CAST(size(k) AS BIGINT)").as("kk"),
          expr("element_at(k, -1)").as("h_k"),
          expr("CAST(size(filter(k, x -> array_contains(ka, x)" +
            " AND array_contains(kb, x))) AS BIGINT)").as("rho"))
        .select(col("kk"), col("rho"),
          expr("(kk - 1) * 4294967296 div h_k").as("est_union"),
          expr("rho * ((kk - 1) * 4294967296 div h_k) div kk").as("est_inter"))
        .crossJoin(broadcast(truth))
        .select("true_union", "true_inter", "kk", "rho", "est_union",
          "est_inter")
    }),

    // Modularity of the q_communities partition: Q = Σ_c [m_c/m −
    // (D_c/2m)²], computed from the SAME LabelProp assignment (shared
    // operator) with the exact identity Q·4m² = Σ_c (4m·m_c − D_c²) —
    // pure BIGINT until one terminal division. Two label joins onto the
    // edge list + two grouped aggs; BIGINT holds to m ≈ 1.5·10⁹ edges
    // (past that the numerator flips to DECIMAL(38,0) — same partials).
    "q_modularity" -> ((s, dir) => {
      val pairs = table(s, dir, "lineitem")
        .select(col("l_partkey").as("p"),
          (col("l_suppkey") + 1000000L).as("sv"))
        .distinct()
      val labels = graft.operators.LabelProp
        .run(pairs.select(col("p").as("src"), col("sv").as("dst")), 3)
      val mdf = pairs.agg(count(lit(1)).as("m"))
      // three consumers (mc + both deg legs) — materialize the labeled
      // edge list once instead of re-running the label joins (and the
      // LabelProp tail) per consumer: ~5.6 → ~4.8 s warm at sf0.1; the
      // remaining cost IS the 3 LabelProp rounds the query shares with
      // q_communities by construction
      val withC = pairs
        .join(labels.select(col("v").as("p"), col("lbl").as("cp")), "p")
        .join(labels.select(col("v").as("sv"), col("lbl").as("cs")), "sv")
        .ckpt()
      val mc = withC.where(col("cp") === col("cs"))
        .groupBy(col("cp").as("c")).agg(count(lit(1)).as("m_c"))
      val deg = withC.select(col("p").as("v"), col("cp").as("c"))
        .unionAll(withC.select(col("sv").as("v"), col("cs").as("c")))
        .groupBy("v", "c").agg(count(lit(1)).as("d"))
        .groupBy("c").agg(sum("d").as("d_c"))
      deg.join(mc, Seq("c"), "left")
        .select(col("c"), coalesce(col("m_c"), lit(0L)).as("m_c"), col("d_c"))
        .crossJoin(broadcast(mdf))
        .agg(count(lit(1)).as("n_comm"), max(col("m")).as("m_edges"),
          sum(expr("4 * m * m_c - d_c * d_c")).as("qnum"))
        .select(col("n_comm"), col("m_edges"),
          expr("round(CAST(qnum AS DOUBLE) / (4.0 * m_edges * m_edges), 6)")
            .as("modularity"))
    }))

  val oracle: Map[String, String] = strictMap(

    "q_autocorr" ->
      s"""WITH $DailySql,
         |st AS (SELECT CAST(sum(x) AS BIGINT) AS sx, count(*) AS n FROM daily),
         |c AS (SELECT day, n * x - sx AS cx FROM daily CROSS JOIN st),
         |den AS (SELECT CAST(sum(cx * cx) AS BIGINT) AS den FROM c),
         |pairs AS (
         |  SELECT lag, a.cx AS cx, b.cx AS pcx
         |  FROM (SELECT day, cx, unnest(generate_series(1, 7)) AS lag
         |        FROM c) a
         |  JOIN c b ON a.day - a.lag = b.day
         |)
         |SELECT CAST(lag AS BIGINT) AS lag, count(*) AS n_pairs,
         |  round(CAST(CAST(sum(cx * pcx) AS BIGINT) AS DOUBLE) / den, 6)
         |    AS acf
         |FROM pairs CROSS JOIN den
         |GROUP BY lag, den ORDER BY lag""".stripMargin,

    "q_seasonal_error" ->
      s"""WITH $DailySql,
         |se AS (
         |  SELECT count(*) AS n_season,
         |    CAST(sum(abs(a.x - b.x)) AS BIGINT) AS ae_season
         |  FROM daily a JOIN daily b ON a.day - 7 = b.day
         |),
         |nv AS (
         |  SELECT count(*) AS n_naive,
         |    CAST(sum(abs(a.x - b.x)) AS BIGINT) AS ae_naive
         |  FROM daily a JOIN daily b ON a.day - 1 = b.day
         |)
         |SELECT n_season, n_naive,
         |  round(CAST(ae_season AS DOUBLE) / n_season, 6) AS mae_season,
         |  round(CAST(ae_naive AS DOUBLE) / n_naive, 6) AS mae_naive,
         |  round((CAST(ae_season AS DOUBLE) / n_season)
         |    / (CAST(ae_naive AS DOUBLE) / n_naive), 6) AS mase
         |FROM se CROSS JOIN nv""".stripMargin,

    "q_brier" ->
      s"""WITH t AS (
         |  SELECT
         |    CAST(least(floor(value*100 + 0.5), 10000) AS BIGINT) AS vb,
         |    CAST(least(greatest(floor(value*100 + 0.5), 1), 9999) AS BIGINT) AS vl,
         |    CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS BIGINT) AS y
         |  FROM events
         |),
         |c AS (SELECT vb, y, $LoglossContribExpr AS ll FROM t)
         |SELECT count(*) AS n,
         |  round(CAST(CAST(sum((vb - 10000*y) * (vb - 10000*y)) AS BIGINT)
         |    AS DOUBLE) / count(*) / 100000000, 6) AS brier,
         |  round(${dsumSql("ll", 6)} / count(*), 6) AS logloss
         |FROM c""".stripMargin,

    "q_ldiversity" ->
      s"""SELECT c_mktsegment, CAST(c_nationkey % 5 AS BIGINT) AS region,
         |  count(*) AS n,
         |  CAST(count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
         |    AS BIGINT) AS ldiv,
         |  CAST(CASE WHEN count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
         |    >= $LDiv THEN 1 ELSE 0 END AS BIGINT) AS safe
         |FROM customer
         |GROUP BY 1, 2
         |ORDER BY c_mktsegment, region""".stripMargin,

    "q_decay_score" ->
      """WITH d AS (
        |  SELECT event_type,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2
        |),
        |mx AS (SELECT max(day) AS mxd FROM d),
        |w AS (
        |  SELECT event_type, n,
        |    n * (1::BIGINT << CAST(12 - least((mxd - day) // 7, 12) AS INT))
        |      AS ws
        |  FROM d CROSS JOIN mx
        |)
        |SELECT event_type, CAST(sum(n) AS BIGINT) AS n_events,
        |  CAST(sum(ws) AS BIGINT) AS scaled,
        |  round(CAST(sum(ws) AS DOUBLE) / 4096, 6) AS weighted
        |FROM w GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q_ks_test" ->
      """WITH g AS (
        |  SELECT CAST(floor(value) AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d0,
        |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d1
        |  FROM events GROUP BY 1
        |),
        |t AS (
        |  SELECT CAST(sum(d0) AS BIGINT) AS n0,
        |    CAST(sum(d1) AS BIGINT) AS n1 FROM g
        |),
        |c AS (
        |  SELECT b,
        |    CAST(sum(d0) OVER (ORDER BY b) AS BIGINT) AS c0,
        |    CAST(sum(d1) OVER (ORDER BY b) AS BIGINT) AS c1
        |  FROM g
        |),
        |x AS (
        |  SELECT b, abs(c0 * n1 - c1 * n0) AS gap, n0, n1
        |  FROM c CROSS JOIN t
        |)
        |SELECT b AS ks_bucket, CAST(gap AS BIGINT) AS gap_scaled,
        |  round(CAST(gap AS DOUBLE) / (n0 * n1), 6) AS ks_d, n0, n1
        |FROM x ORDER BY gap DESC, b ASC LIMIT 1""".stripMargin,

    "q_simpson" ->
      """WITH e AS (
        |  SELECT CAST(user_id % 2 AS INT) AS variant, event_type AS segment,
        |    CASE WHEN value > 500 THEN 1 ELSE 0 END AS conv
        |  FROM events
        |),
        |seg AS (
        |  SELECT segment,
        |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT) AS c0,
        |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT) AS c1
        |  FROM e GROUP BY segment
        |),
        |allr AS (
        |  SELECT '__all__' AS segment,
        |    CAST(sum(n0) AS BIGINT) AS n0, CAST(sum(c0) AS BIGINT) AS c0,
        |    CAST(sum(n1) AS BIGINT) AS n1, CAST(sum(c1) AS BIGINT) AS c1
        |  FROM seg
        |),
        |u AS (SELECT * FROM seg UNION ALL SELECT * FROM allr)
        |SELECT segment, n0, c0, n1, c1,
        |  round(CAST(c0 AS DOUBLE) / n0, 6) AS rate0,
        |  round(CAST(c1 AS DOUBLE) / n1, 6) AS rate1,
        |  CAST(CASE WHEN c0 * n1 > c1 * n0 THEN 0
        |       WHEN c0 * n1 < c1 * n0 THEN 1 ELSE -1 END AS INT) AS winner
        |FROM u ORDER BY segment""".stripMargin,

    "q_cuped" ->
      """WITH ev AS (
        |  SELECT user_id,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |    CAST(round(value, 4) AS DECIMAL(18,4)) AS v
        |  FROM events
        |),
        |mid AS (SELECT (min(day) + max(day)) // 2 AS mid FROM ev),
        |u AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN day < mid THEN v
        |             ELSE CAST(0 AS DECIMAL(18,4)) END) AS DECIMAL(18,4))
        |      AS x,
        |    CAST(sum(CASE WHEN day >= mid THEN v
        |             ELSE CAST(0 AS DECIMAL(18,4)) END) AS DECIMAL(18,4))
        |      AS y,
        |    CAST(user_id % 2 AS INT) AS variant
        |  FROM ev CROSS JOIN mid GROUP BY user_id
        |),
        |t AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(x) AS DECIMAL(38,8)) AS sx,
        |    CAST(sum(y) AS DECIMAL(38,8)) AS sy,
        |    CAST(sum(CAST(x AS DECIMAL(19,4)) * CAST(y AS DECIMAL(19,4)))
        |         AS DECIMAL(38,8)) AS sxy,
        |    CAST(sum(CAST(x AS DECIMAL(19,4)) * CAST(x AS DECIMAL(19,4)))
        |         AS DECIMAL(38,8)) AS sxx
        |  FROM u
        |),
        |th AS (
        |  SELECT (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |          CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |         (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |          CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS theta,
        |    CAST(sx AS DOUBLE) / n AS mx
        |  FROM t
        |)
        |SELECT variant, count(*) AS n_users,
        |  round(CAST(CAST(sum(y) AS DECIMAL(38,4)) AS DOUBLE)
        |    / count(*), 6) AS mean_y,
        |  round(CAST(CAST(sum(y) AS DECIMAL(38,4)) AS DOUBLE) / count(*)
        |    - theta * (CAST(CAST(sum(x) AS DECIMAL(38,4)) AS DOUBLE)
        |               / count(*) - mx), 6) AS mean_y_cuped,
        |  round(theta, 6) AS theta
        |FROM u CROSS JOIN th
        |GROUP BY variant, theta, mx
        |ORDER BY variant""".stripMargin,

    "q_dtw" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |),
        |ser AS (
        |  SELECT event_type, list(CAST(n AS BIGINT) ORDER BY day) AS b
        |  FROM daily GROUP BY 1
        |),
        |pa AS (SELECT b AS a FROM ser WHERE event_type = 'purchase'),
        |pairs AS (SELECT event_type, a, b FROM ser CROSS JOIN pa),
        |step AS (
        |  SELECT event_type, 1 AS i, 0 AS j,
        |    list_transform(b, x -> CAST(1000000000000000 AS BIGINT)) AS prev,
        |    CAST([] AS BIGINT[]) AS cur, a, b
        |  FROM pairs
        |  UNION ALL
        |  SELECT event_type,
        |    CASE WHEN j + 1 = len(b) THEN i + 1 ELSE i END AS i,
        |    CASE WHEN j + 1 = len(b) THEN 0 ELSE j + 1 END AS j,
        |    CASE WHEN j + 1 = len(b) THEN cur || [cell] ELSE prev END AS prev,
        |    CASE WHEN j + 1 = len(b) THEN CAST([] AS BIGINT[])
        |         ELSE cur || [cell] END AS cur,
        |    a, b
        |  FROM (
        |    SELECT *,
        |      abs(a[i] - b[j + 1]) + least(
        |        prev[j + 1],
        |        CASE WHEN j = 0 THEN CAST(1000000000000000 AS BIGINT)
        |             ELSE cur[j] END,
        |        CASE WHEN j = 0 THEN
        |               (CASE WHEN i = 1 THEN CAST(0 AS BIGINT)
        |                     ELSE CAST(1000000000000000 AS BIGINT) END)
        |             ELSE prev[j] END) AS cell
        |    FROM step WHERE i <= len(a))
        |)
        |SELECT event_type, CAST(len(a) AS BIGINT) AS n_a,
        |  CAST(len(b) AS BIGINT) AS n_b, prev[len(b)] AS dtw
        |FROM step
        |WHERE i = len(a) + 1 AND j = 0
        |ORDER BY event_type""".stripMargin,

    "q_cross_corr" ->
      """WITH d AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |    event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |),
        |x AS (SELECT day, n AS x FROM d WHERE event_type = 'click'),
        |y AS (SELECT day AS yday, n AS y FROM d WHERE event_type = 'purchase'),
        |p AS (
        |  SELECT lag, x, y FROM (
        |    SELECT day, x, unnest(generate_series(-7, 7)) AS lag FROM x)
        |  JOIN y ON day + lag = yday
        |),
        |a AS (
        |  SELECT lag, count(*) AS n_pairs,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x*y) AS BIGINT) AS sxy,
        |    CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(y*y) AS BIGINT) AS syy
        |  FROM p GROUP BY lag
        |)
        |SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
        |  round((CAST(n_pairs AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy) /
        |   sqrt((CAST(n_pairs AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx) *
        |        (CAST(n_pairs AS DOUBLE)*syy - CAST(sy AS DOUBLE)*sy)), 6) AS r
        |FROM a ORDER BY lag""".stripMargin,

    "q_tcloseness" ->
      """WITH b AS (
        |  SELECT o_orderpriority AS grp,
        |    least(CAST(floor(o_totalprice / 50000) AS BIGINT), 9) AS bin
        |  FROM orders
        |),
        |cell AS (SELECT grp, bin, count(*) AS c FROM b GROUP BY 1, 2),
        |gb AS (SELECT bin, count(*) AS g FROM b GROUP BY 1),
        |grid AS (
        |  SELECT gr.grp, gl.bin, COALESCE(cell.c, 0) AS c, gl.g
        |  FROM (SELECT DISTINCT grp FROM cell) gr
        |  CROSS JOIN gb gl
        |  LEFT JOIN cell ON cell.grp = gr.grp AND cell.bin = gl.bin
        |),
        |cum AS (
        |  SELECT grp, bin, c,
        |    sum(c) OVER (PARTITION BY grp ORDER BY bin
        |                 ROWS UNBOUNDED PRECEDING) AS cumc,
        |    sum(g) OVER (PARTITION BY grp ORDER BY bin
        |                 ROWS UNBOUNDED PRECEDING) AS cumg
        |  FROM grid
        |),
        |ng AS (SELECT grp, sum(c) AS n_g FROM cell GROUP BY 1),
        |tot AS (SELECT count(*) AS nn, count(DISTINCT bin) AS kk FROM b)
        |SELECT cum.grp, CAST(ng.n_g AS BIGINT) AS n_g,
        |  round(CAST(sum(abs(cumc * nn - cumg * ng.n_g)) AS DOUBLE)
        |        / CAST(ng.n_g * nn * (kk - 1) AS DOUBLE), 6) AS t
        |FROM cum JOIN ng USING (grp) CROSS JOIN tot
        |GROUP BY cum.grp, ng.n_g, tot.nn, tot.kk
        |ORDER BY grp""".stripMargin,

    "q_chi2" ->
      """WITH cell AS (
        |  SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2
        |),
        |rowS AS (SELECT lang, sum(o) AS r FROM cell GROUP BY 1),
        |colS AS (SELECT source, sum(o) AS cc FROM cell GROUP BY 1),
        |tot AS (SELECT count(*) AS nn FROM documents),
        |grid AS (
        |  SELECT rowS.lang, colS.source, rowS.r, colS.cc,
        |    COALESCE(cell.o, 0) AS o
        |  FROM rowS CROSS JOIN colS
        |  LEFT JOIN cell ON cell.lang = rowS.lang AND cell.source = colS.source
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_cells,
        |  CAST((count(DISTINCT lang) - 1) * (count(DISTINCT source) - 1)
        |    AS BIGINT) AS df,
        |  CAST(sum(CAST(round(
        |    CAST((CAST(o AS HUGEINT) * nn - CAST(r AS HUGEINT) * cc)
        |       * (CAST(o AS HUGEINT) * nn - CAST(r AS HUGEINT) * cc) AS DOUBLE)
        |    / CAST(CAST(r AS HUGEINT) * cc * nn AS DOUBLE), 8) AS DECIMAL(18,8))) AS DOUBLE)
        |    AS chi2
        |FROM grid CROSS JOIN tot""".stripMargin,

    // identical semantics, identical oracle — the native aggregate must
    // reproduce the composed sketch bit-for-bit (including reg_md5)
    "q_sketch_hll_native" -> LlmMedia.oracle("q_sketch_hll"),

    "q_shard_rebalance" ->
      s"""WITH h AS (
         |  SELECT doc_id, sh,
         |    md5('rdv-' || CAST(sh AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS h
         |  FROM documents, unnest(generate_series(0, 8)) AS t(sh)
         |),
         |a AS (
         |  SELECT doc_id,
         |    arg_max(sh, h) FILTER (sh < 8) AS s8,
         |    arg_max(sh, h) AS s9
         |  FROM h GROUP BY doc_id
         |)
         |SELECT CAST(s9 AS BIGINT) AS shard, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN s8 = s9 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM a GROUP BY 1 ORDER BY shard""".stripMargin,

    "q_sample_weighted" ->
      s"""WITH t AS (
         |  SELECT doc_id, n_chars AS w,
         |    ${hex2longSql("md5('esw-' || CAST(doc_id AS VARCHAR))", 1)} AS u_h
         |  FROM documents WHERE n_chars > 0
         |),
         |k AS (
         |  SELECT doc_id, w,
         |    round(ln((CAST(u_h AS DOUBLE) + 1) / 4294967296.0), 8) / w AS k
         |  FROM t
         |)
         |SELECT CAST(row_number() OVER (ORDER BY k DESC, doc_id) AS BIGINT)
         |    AS rank,
         |  doc_id, w
         |FROM k ORDER BY k DESC, doc_id LIMIT 10""".stripMargin,

    "q_theil_sen" ->
      s"""WITH $DailySql,
         |pairs AS (
         |  SELECT a.day AS i, b.day AS j,
         |    round(CAST(b.x - a.x AS DOUBLE) / (b.day - a.day), 8) AS slope
         |  FROM daily a JOIN daily b ON a.day < b.day
         |),
         |n AS (SELECT count(*) AS n FROM pairs),
         |r AS (
         |  SELECT slope,
         |    row_number() OVER (ORDER BY slope, i, j) AS rn
         |  FROM pairs
         |)
         |SELECT n.n AS n_pairs, r.slope AS median_slope
         |FROM r CROSS JOIN n WHERE r.rn = (n.n + 1) // 2""".stripMargin,

    "q_sketch_join_size" ->
      s"""WITH kc AS (
         |  SELECT l_suppkey AS k, count(*) AS cnt FROM lineitem GROUP BY 1
         |),
         |cells AS (
         |  SELECT j, (${hex2longSql(
              "md5(CAST(j AS VARCHAR) || ':' || CAST(k AS VARCHAR))", 1)})
         |      % $JsWidth AS cell,
         |    CAST(sum(cnt) AS BIGINT) AS c
         |  FROM kc, unnest(generate_series(0, ${JsDepth - 1})) AS t(j)
         |  GROUP BY 1, 2
         |),
         |est AS (
         |  SELECT CAST(min(e) AS BIGINT) AS est_sq FROM (
         |    SELECT j, sum(c * c) AS e FROM cells GROUP BY j)
         |),
         |tr AS (
         |  SELECT count(*) AS n_keys, CAST(sum(cnt * cnt) AS BIGINT) AS true_sq
         |  FROM kc
         |)
         |SELECT n_keys, true_sq, est_sq,
         |  round(CAST(est_sq AS DOUBLE) / true_sq, 4) AS ratio
         |FROM tr CROSS JOIN est""".stripMargin,

    "q_sketch_kmv" ->
      s"""WITH h AS (
         |  SELECT DISTINCT ${hex2longSql(
              "md5(CAST(l_orderkey AS VARCHAR))", 1)} AS hv
         |  FROM lineitem
         |),
         |bk AS (SELECT hv FROM h ORDER BY hv LIMIT 64),
         |agg AS (
         |  SELECT count(*) AS k, CAST(max(hv) AS BIGINT) AS h_k,
         |    md5(string_agg(CAST(hv AS VARCHAR), ',' ORDER BY hv))
         |      AS kmv_md5
         |  FROM bk
         |),
         |tr AS (
         |  SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_true
         |  FROM lineitem
         |)
         |SELECT n_true, k, h_k, (k - 1) * 4294967296 // h_k AS est, kmv_md5
         |FROM tr CROSS JOIN agg""".stripMargin,

    "q_sketch_kmv_sets" -> {
      def bottom(t: String, name: String) =
        s"""$name AS (
           |  SELECT hv FROM (
           |    SELECT DISTINCT ${hex2longSql(
                "md5(CAST(user_id AS VARCHAR))", 1)} AS hv
           |    FROM events WHERE event_type = '$t'
           |  ) ORDER BY hv LIMIT 64
           |)""".stripMargin
      s"""WITH ${bottom("click", "ba")},
         |${bottom("purchase", "bb")},
         |ku AS (
         |  SELECT hv FROM (SELECT hv FROM ba UNION SELECT hv FROM bb)
         |  ORDER BY hv LIMIT 64
         |),
         |est AS (
         |  SELECT CAST(count(*) AS BIGINT) AS kk,
         |    CAST(max(hv) AS BIGINT) AS h_k,
         |    CAST(sum(CASE WHEN hv IN (SELECT hv FROM ba)
         |      AND hv IN (SELECT hv FROM bb) THEN 1 ELSE 0 END) AS BIGINT)
         |      AS rho
         |  FROM ku
         |),
         |truth AS (
         |  SELECT CAST(count(*) AS BIGINT) AS true_union,
         |    CAST(sum(CASE WHEN c = 1 AND p = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS true_inter
         |  FROM (
         |    SELECT user_id,
         |      max(CASE WHEN event_type = 'click' THEN 1 END) AS c,
         |      max(CASE WHEN event_type = 'purchase' THEN 1 END) AS p
         |    FROM events WHERE event_type IN ('click', 'purchase')
         |    GROUP BY user_id
         |  )
         |)
         |SELECT true_union, true_inter, kk, rho,
         |  (kk - 1) * 4294967296 // h_k AS est_union,
         |  rho * ((kk - 1) * 4294967296 // h_k) // kk AS est_inter
         |FROM truth CROSS JOIN est""".stripMargin
    },

    "q_infogain" -> {
      def mi(name: String, fexpr: String) =
        s"""SELECT '$name' AS feature, round(csum / nn, 6) AS mi FROM (
           |  SELECT any_value(nn) AS nn,
           |    ${dsumSql("c", 6)} AS csum
           |  FROM (
           |    SELECT j.nab *
           |      round(ln(CAST(t.nn * j.nab AS DOUBLE) / (na.na * nb.nb)), 8)
           |        AS c,
           |      t.nn AS nn
           |    FROM (SELECT $fexpr AS a, lang AS b, count(*) AS nab
           |          FROM documents GROUP BY 1, 2) j
           |    JOIN (SELECT $fexpr AS a, count(*) AS na
           |          FROM documents GROUP BY 1) na ON na.a = j.a
           |    JOIN (SELECT lang AS b, count(*) AS nb
           |          FROM documents GROUP BY 1) nb ON nb.b = j.b
           |    CROSS JOIN (SELECT count(*) AS nn FROM documents) t
           |  )
           |)""".stripMargin
      s"""${mi("source", "source")}
         |UNION ALL
         |${mi("len_band", "n_chars // 100")}
         |ORDER BY feature""".stripMargin
    },

    "q_survival" ->
      s"""WITH e AS (
         |  SELECT user_id, event_type, epoch_us(ts) // $HourUs AS h
         |  FROM events
         |),
         |u AS (SELECT user_id, min(h) AS fh FROM e GROUP BY 1),
         |p AS (SELECT user_id, min(h) AS ph FROM e
         |      WHERE event_type = 'purchase' GROUP BY 1),
         |lab AS (
         |  SELECT least(coalesce(p.ph - u.fh, ${Tau + 1}), $Tau) AS dur,
         |    CASE WHEN p.ph IS NOT NULL AND p.ph - u.fh <= $Tau
         |         THEN 1 ELSE 0 END AS death
         |  FROM u LEFT JOIN p USING (user_id)
         |),
         |byd AS (SELECT dur, count(*) AS n_tot,
         |          CAST(sum(death) AS BIGINT) AS d
         |        FROM lab GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_tot) AS BIGINT) AS n FROM byd),
         |r AS (
         |  SELECT dur, d,
         |    CAST((SELECT n FROM tot) - coalesce(sum(n_tot)
         |      OVER (ORDER BY dur
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS n_risk
         |  FROM byd
         |),
         |s AS (
         |  SELECT dur, d, n_risk,
         |    CAST(sum(CAST(round(ln(CAST(n_risk - d AS DOUBLE) / n_risk), 8)
         |      AS DECIMAL(18,8))) OVER (ORDER BY dur) AS DOUBLE) AS km_log
         |  FROM r
         |)
         |SELECT CAST(dur AS BIGINT) AS dur, d, n_risk,
         |  round(km_log, 6) AS km_log
         |FROM s WHERE d > 0 ORDER BY dur""".stripMargin,

    "q_modularity" ->
      s"""WITH ${Relational.LpaOracleChain},
         |m AS (SELECT count(*) AS m FROM pairs),
         |wc AS (
         |  SELECT pairs.p, pairs.sv, lp.lbl AS cp, ls.lbl AS cs
         |  FROM pairs JOIN l3 lp ON lp.v = pairs.p
         |             JOIN l3 ls ON ls.v = pairs.sv
         |),
         |mc AS (SELECT cp AS c, count(*) AS m_c FROM wc
         |       WHERE cp = cs GROUP BY cp),
         |deg AS (
         |  SELECT c, CAST(sum(d) AS BIGINT) AS d_c FROM (
         |    SELECT v, c, count(*) AS d FROM (
         |      SELECT p AS v, cp AS c FROM wc
         |      UNION ALL SELECT sv, cs FROM wc
         |    ) GROUP BY v, c
         |  ) GROUP BY c
         |)
         |SELECT count(*) AS n_comm,
         |  (SELECT CAST(m AS BIGINT) FROM m) AS m_edges,
         |  round(CAST(CAST(sum(4 * m.m * coalesce(m_c, 0) - d_c * d_c)
         |      AS BIGINT) AS DOUBLE)
         |    / (4.0 * m.m * m.m), 6) AS modularity
         |FROM deg LEFT JOIN mc USING (c) CROSS JOIN m
         |GROUP BY m.m""".stripMargin)
}
