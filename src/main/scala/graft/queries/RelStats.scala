package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.Ckpt._

/** Statistics / evaluation queries — regression, EWMA, drawdown, t-test,
  * z-scores, quantile normalization, outlier gates, classifier metrics
  * (AUC / confusion / calibration), k-anonymity, frequent itemsets, and
  * the exact percentile variants. Split from Relational.scala (round 10);
  * shared helpers live in [[Relational]] (imported below).
  */
object RelStats extends Catalog {
  import Relational._

  val queries: Map[String, Q] = strictMap(
    // Winsorization (robust clipping): per event_type, clamp values into
    // [p05, p95] and report how much mass moved — the feature-engineering
    // staple before scale-sensitive models. Thresholds come from ONE
    // Percentiles.exact pass (both ps share the rank shuffle); the clip
    // comparisons carry the q_anomalies relative epsilon, and the
    // thresholds are output-safe because the oracle replays the engine's
    // interpolation formula (bit-identical lo/hi both engines).
    "q_winsorize" -> ((s, dir) => {
      val ev = table(s, dir, "events").select(col("event_type"), col("value"))
      val thr = graft.operators.Percentiles
        .exact(ev, "event_type", "value", Seq(0.05, 0.95))
        .groupBy("event_type")
        .agg(max(when(col("p") < 0.5, col("q"))).as("lo"),
          max(when(col("p") > 0.5, col("q"))).as("hi"))
      val eps = (c: org.apache.spark.sql.Column) =>
        lit(1e-9) * greatest(abs(c), lit(1.0))
      ev.where(col("value").isNotNull).join(broadcast(thr), "event_type")
        .withColumn("clip_lo", col("value") < col("lo") - eps(col("lo")))
        .withColumn("clip_hi", col("value") > col("hi") + eps(col("hi")))
        .withColumn("w", when(col("clip_lo"), col("lo"))
          .when(col("clip_hi"), col("hi")).otherwise(col("value")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("clip_lo"), 1L).otherwise(0L)).as("n_lo"),
          sum(when(col("clip_hi"), 1L).otherwise(0L)).as("n_hi"),
          round(dsum(col("value"), 4) / count(lit(1)), 4).as("mean_before"),
          round(dsum(col("w"), 4) / count(lit(1)), 4).as("mean_after"),
          round(max(col("lo")), 4).as("lo"), round(max(col("hi")), 4).as("hi"))
        .orderBy("event_type")
    }),

    // Robust outlier detection: median / MAD (median absolute deviation)
    // per event_type — two COMPOSED passes of the distributed Percentiles
    // selection (median of values, then median of |value − median|), so
    // no whole-group buffer exists at either level. The outlier rule
    // |v − med| > 3·mad carries the same relative epsilon as q_anomalies
    // (interpolation ulps can't flip a count); med/mad are output-safe
    // because the oracle replays the engine's exact interpolation formula
    // (bit-identical doubles), not quantile_cont.
    "q_mad_outliers" -> ((s, dir) => {
      val ev = table(s, dir, "events").select(col("event_type"), col("value"))
      val med = graft.operators.Percentiles
        .exact(ev, "event_type", "value", Seq(0.5))
        .select(col("event_type"), col("q").as("med"))
      // dev feeds BOTH the second Percentiles selection (which itself
      // reads it twice: rank pass + count pass) and the final aggregate —
      // materialize once instead of re-running the events scan + med join
      // per consumer (plan audit r7: 51 Exchanges before, mostly repeats)
      val dev = ev.join(broadcast(med), "event_type")
        .select(col("event_type"), col("med"),
          abs(col("value") - col("med")).as("d"))
        .ckpt()
      val mad = graft.operators.Percentiles
        .exact(dev, "event_type", "d", Seq(0.5))
        .select(col("event_type"), col("q").as("mad"))
      dev.join(broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("d") >
            lit(3.0) * col("mad") + lit(1e-9) * greatest(col("mad"), lit(1.0)),
            1L).otherwise(0L)).as("n_out"),
          round(max(col("med")), 4).as("med"),
          round(max(col("mad")), 4).as("mad"))
        .orderBy("event_type")
    }),

    // Per-group mode (most frequent value) with a deterministic tie-break:
    // two partial-agg'd aggregations — (status, priority) counts, then an
    // argmax as min(struct(-count, value)) — never a window sort over the
    // raw rows. The same shape LabelProp uses per vertex: a group with
    // 10¹⁰ rows contributes |distinct values| rows to the second shuffle.
    "q_mode" -> ((s, dir) =>
      table(s, dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"))
        .groupBy("o_orderstatus")
        .agg(min(struct((-col("cnt")).as("nc"),
            col("o_orderpriority").as("p"))).as("m"),
          sum(col("cnt")).cast("long").as("n_rows"))
        .select(col("o_orderstatus"), col("m.p").as("mode_priority"),
          (-col("m.nc")).cast("long").as("mode_cnt"), col("n_rows"))
        .orderBy("o_orderstatus")),

    // Grouped simple OLS (y = intercept + slope·x): extendedprice against
    // quantity per returnflag, from five exact INTEGER power sums (price
    // quantized ×100, quantity integral) — the q_corr determinism
    // discipline for regression. One partial-agg'd aggregation carries the
    // whole fit; the terminal slope/intercept expressions are shared
    // verbatim with the oracle. Built-in regr_slope accumulates doubles in
    // partition order and cannot hash-match across engines.
    "q_regression" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity").cast("long").as("x"),
          expr("CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)").as("y"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(expr("x*y")).as("sxy"),
          sum(expr("x*x")).as("sxx"))
        .withColumn("slope", round(expr(SlopeExpr), 6))
        .withColumn("intercept", round(expr(InterceptExpr), 6))
        .select("l_returnflag", "n", "slope", "intercept")
        .orderBy("l_returnflag")),

    // 8-lag integer-kernel EWMA per user over event time — the time-series
    // smoothing twin of q_resample_ffill. One window shuffle on user_id
    // (parallel across users, a user's history bounded by its own events);
    // all 16 lag terms share one window spec so the plan carries a single
    // Window node. Exact integer numerator/denominator, one terminal
    // division, expression strings shared verbatim with the oracle.
    "q_ewma" -> ((s, dir) =>
      table(s, dir, "events")
        .selectExpr("user_id", "event_id", "ts",
          "CAST(floor(value*100 + 0.5) AS BIGINT) AS v")
        .selectExpr("user_id", "event_id", s"$EwmaExpr AS ewma")
        .orderBy("user_id", "event_id")),

    // Maximum-drawdown profile of the daily purchase-revenue equity
    // curve — the risk statistic every monitoring dashboard derives from
    // a cumulative series. Integer cents throughout; the running-sum and
    // running-max windows sit on the AGGREGATED daily table (≤ one row
    // per day — the corpus collapses in the one partial-agg'd shuffle
    // first), so the unpartitioned window is constant-size at any scale.
    "q_drawdown" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = table(s, dir, "events")
        .where(col("event_type") === "purchase")
        .selectExpr("unix_micros(ts) div 86400000000 AS day",
          "CAST(floor(value*100 + 0.5) AS BIGINT) AS v")
        .groupBy("day").agg(sum("v").as("rev"))
      val w = Window.orderBy("day")
      daily
        .withColumn("equity", sum("rev").over(w))
        .withColumn("peak", max("equity").over(w))
        .withColumn("dd", col("peak") - col("equity"))
        .select("day", "rev", "equity", "peak", "dd")
        .orderBy("day")
    }),

    // Frequent co-occurring item pairs (the a-priori first pass /
    // market-basket shape): baskets = orders, items = distinct parts per
    // order, pairs generated by a self-join WITHIN basket only — Σ C(b,2)
    // rows, never corpus × corpus — then support-filtered. Baskets larger
    // than BasketCap are dropped (mirrored in the oracle): a degenerate
    // million-item basket would emit 10¹² pairs and carries no
    // co-occurrence signal — the same cap discipline as the LSH band
    // buckets.
    "q_freq_pairs" -> ((s, dir) => {
      val b = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val small = b.groupBy("ok").agg(count(lit(1)).as("bsz"))
        .where(col("bsz") <= BasketCap).select("ok")
      val bb = b.join(small, "ok")
      bb.select(col("ok"), col("pk").as("p1"))
        .join(bb.select(col("ok"), col("pk").as("p2")), "ok")
        .where(col("p1") < col("p2"))
        .groupBy("p1", "p2").agg(count(lit(1)).as("support"))
        .where(col("support") >= PairMinSupport)
        .orderBy("p1", "p2")
    }),

    // A-priori second pass: frequent TRIPLES from the frequent-pair
    // lattice. Candidates join L2 with itself on the first item and are
    // pruned by anti-monotonicity (all three sub-pairs must be frequent
    // — a semi-join, no support counting wasted on hopeless triples);
    // only then is support counted, via three basket equi-joins that
    // touch candidate rows, never C(b,3) enumeration. The classic
    // candidate-generation discipline that keeps frequent-itemset mining
    // affordable at any corpus size (at sf0.01: 3445 pairs → 61
    // candidates → 12 frequent triples).
    "q_freq_triples" -> ((s, dir) => {
      val b = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val small = b.groupBy("ok").agg(count(lit(1)).as("bsz"))
        .where(col("bsz") <= BasketCap).select("ok")
      // bb has FIVE consumers (both l2 self-join sides + three basket
      // equi-joins) and l2 three (both candidate sides + the prune
      // semi-join) — materialize each once (plan audit r7: 34 Exchanges
      // before, mostly replays of the capped-basket join)
      val bb = b.join(small, "ok").ckpt()
      val l2 = bb.select(col("ok"), col("pk").as("p1"))
        .join(bb.select(col("ok"), col("pk").as("p2")), "ok")
        .where(col("p1") < col("p2"))
        .groupBy("p1", "p2").agg(count(lit(1)).as("w"))
        .where(col("w") >= PairMinSupport).select("p1", "p2")
        .ckpt()
      val c3 = l2.alias("x")
        .join(l2.alias("y"),
          col("x.p1") === col("y.p1") && col("x.p2") < col("y.p2"))
        .select(col("x.p1").as("p1"), col("x.p2").as("p2"),
          col("y.p2").as("p3"))
        .join(l2.select(col("p1").as("p2"), col("p2").as("p3")),
          Seq("p2", "p3"), "left_semi")
      c3.join(bb.select(col("ok"), col("pk").as("p1")), "p1")
        .join(bb.select(col("ok"), col("pk").as("p2")), Seq("ok", "p2"))
        .join(bb.select(col("ok"), col("pk").as("p3")), Seq("ok", "p3"))
        .groupBy("p1", "p2", "p3").agg(count(lit(1)).as("support"))
        .where(col("support") >= PairMinSupport)
        .orderBy("p1", "p2", "p3")
    }),

    // Welch's two-sample t-statistic per event_type (even vs odd user
    // cohorts — the A/B-test read-out): six exact integer sums (n, Σv,
    // Σv² per cohort, value ×100-quantized, all < 2^53) in ONE
    // partial-agg'd pass, then the t-statistic as one shared IEEE
    // expression — the q_corr determinism discipline for inference.
    // Built-in stddev/var accumulate doubles in partition order and
    // cannot hash-match.
    "q_ttest" -> ((s, dir) =>
      table(s, dir, "events")
        .selectExpr("event_type", "user_id % 2 = 0 AS grp_a",
          "CAST(floor(value*100 + 0.5) AS BIGINT) AS v")
        .groupBy("event_type")
        .agg(sum(when(col("grp_a"), 1L).otherwise(0L)).as("n1"),
          sum(when(col("grp_a"), col("v"))).as("s1"),
          sum(when(col("grp_a"), expr("v*v"))).as("q1"),
          sum(when(!col("grp_a"), 1L).otherwise(0L)).as("n2"),
          sum(when(!col("grp_a"), col("v"))).as("s2"),
          sum(when(!col("grp_a"), expr("v*v"))).as("q2"))
        .select(col("event_type"), col("n1"), col("n2"),
          round(expr(s"${tMean(1)} / 100"), 4).as("mean1"),
          round(expr(s"${tMean(2)} / 100"), 4).as("mean2"),
          round(expr(WelchTExpr), 4).as("t_stat"))
        .orderBy("event_type")),

    // Z-score feature normalization per event_type — the standard ML
    // preprocessing pass: group mean/std from the exact integer sums
    // (q_ttest's state), broadcast back, then one narrow codegen'd map
    // over the rows. The ×100 quantization scale cancels in
    // (v − mean)/std, so z is already standard units. At 100 TB: one
    // tiny agg shuffle + a shuffle-free normalize pass.
    "q_zscore" -> ((s, dir) => {
      val ev = table(s, dir, "events")
        .selectExpr("event_id", "event_type",
          "CAST(floor(value*100 + 0.5) AS BIGINT) AS v")
      val stats = ev.groupBy("event_type").agg(count(lit(1)).as("n"),
        sum(col("v")).as("s"), sum(expr("v*v")).as("q"))
      ev.join(broadcast(stats), "event_type")
        .select(col("event_id"), col("event_type"),
          expr(ZScoreExpr).as("z"))
        .orderBy("event_id")
    }),

    // Quantile (percentile-rank) normalization per event_type — the
    // rank-based scaler robust to outliers: pr = (rk − 1)/(n − 1) over
    // the UNIQUE (v, event_id) order via `Ranks.withinKey`, so a group
    // of any size ranks across partitions (no single-task sort) and ties
    // carry the deterministic event_id break. Integer rank, ONE terminal
    // division.
    "q_quantile_normalize" -> ((s, dir) => {
      val ev = table(s, dir, "events")
        .selectExpr("event_id", "event_type",
          "CAST(floor(value*100 + 0.5) AS BIGINT) AS v")
      val n = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
      graft.operators.Ranks.withinKey(ev, "event_type", Seq("v", "event_id"))
        .join(broadcast(n), "event_type")
        .select(col("event_id"), col("event_type"),
          round(expr("CAST(rk - 1 AS DOUBLE) / CAST(nullif(n - 1, 0) AS DOUBLE)"), 6)
            .as("pr"))
        .orderBy("event_id")
    }),

    // DISCRETE percentiles (order statistics, no interpolation) — the
    // convention twin of q_percentile's linear interpolation: the value
    // AT rank ceil(p·n) in the (v, event_id) total order, selected on
    // the distributed `Ranks.withinKey` rank (no whole-group buffer,
    // same machinery as the continuous path). Integer rank targets, so
    // the selection cannot ulp-flip; the oracle replays the identical
    // rank rule rather than relying on any built-in's convention.
    "q_percentile_disc" -> ((s, dir) => {
      val ev = table(s, dir, "events").selectExpr("event_type", "event_id",
        "CAST(floor(value*100 + 0.5) AS BIGINT) AS v")
      val n = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
      val ranked = graft.operators.Ranks
        .withinKey(ev, "event_type", Seq("v", "event_id"))
        .join(broadcast(n), "event_type")
      val sels = Seq(("p25", 1L, 4L), ("p50", 1L, 2L), ("p75", 3L, 4L))
        .map { case (lbl, nu, de) =>
          min(when(col("rk") === expr(s"($nu*n + ${de - 1}) div $de"),
            col("v"))).as(s"v_$lbl")
        }
      ranked.groupBy("event_type")
        .agg(max(col("n")).as("n"), sels: _*)
        .select(col("event_type"), col("n"),
          round(expr("CAST(v_p25 AS DOUBLE) / 100"), 2).as("p25"),
          round(expr("CAST(v_p50 AS DOUBLE) / 100"), 2).as("p50"),
          round(expr("CAST(v_p75 AS DOUBLE) / 100"), 2).as("p75"))
        .orderBy("event_type")
    }),

    // K-anonymity enforcement over quasi-identifiers (segment ×
    // generalized nation region): groups smaller than K are SUPPRESSED
    // from the release — the structural privacy gate that complements
    // q_scrub_pii's content scrubbing in a training-data pipeline. One
    // partial-agg'd aggregation + a filter; generalization (nation → 5
    // regions) is a narrow map.
    "q_kanon" -> ((s, dir) =>
      table(s, dir, "customer")
        .select(col("c_mktsegment"),
          (col("c_nationkey") % 5).cast("long").as("region"))
        .groupBy("c_mktsegment", "region").agg(count(lit(1)).as("n"))
        .where(col("n") >= KAnonK)
        .orderBy("c_mktsegment", "region")),

    // ROC AUC of "value predicts purchase" via the Mann-Whitney rank-sum
    // identity: AUC = (ΣR⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻) with AVERAGE ranks on
    // ties. Ranks come from the distributed `Ranks.withinKey` (constant
    // key: the range partitioner spreads the total (v, event_id) order
    // across tasks — a 10¹¹-row score column never sorts on one task);
    // tied groups occupy contiguous rank runs, so the per-value
    // (rmin, rmax, n⁺) aggregate reconstructs average ranks exactly:
    // 2·ΣR⁺ = Σᵥ n⁺ᵥ·(rminᵥ+rmaxᵥ). Everything is BIGINT until the one
    // terminal division (shared verbatim with the oracle) — the
    // classifier-evaluation metric at any corpus size for two shuffles.
    "q_auc" -> ((s, dir) => {
      val ev = table(s, dir, "events")
        .selectExpr("event_id",
          "CAST(floor(value*100 + 0.5) AS BIGINT) AS v",
          "CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS BIGINT) AS y")
        .withColumn("k", lit(1))
      graft.operators.Ranks.withinKey(ev, "k", Seq("v", "event_id"))
        .groupBy("v")
        .agg(min("rk").as("rmin"), max("rk").as("rmax"), sum("y").as("np"))
        .agg(sum(expr("np*(rmin+rmax)")).as("two_sr"),
          sum(col("np")).as("npos"),
          sum(expr("rmax - rmin + 1")).as("n"))
        .select(col("n"), col("npos"), expr("n - npos").as("nneg"),
          expr(AucExpr).as("auc"))
    }),

    // Confusion matrix + threshold metrics ("value ≥ 100 predicts
    // purchase"): TP/FP/FN/TN as one conditional-count pass (map-side
    // partials, BIGINT), precision/recall/F1 as terminal divisions over
    // exact integers — each IEEE op correctly rounded from identical
    // inputs, the q_auc discipline. The classifier-eval staple next to
    // AUC: one scan, constant state, any corpus size.
    "q_confusion" -> ((s, dir) => {
      table(s, dir, "events")
        .selectExpr(
          "CAST(CASE WHEN floor(value*100 + 0.5) >= 10000 THEN 1 ELSE 0 END AS BIGINT) AS p",
          "CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS BIGINT) AS y")
        .agg(sum(expr("p*y")).as("tp"), sum(expr("p*(1-y)")).as("fp"),
          sum(expr("(1-p)*y")).as("fn"), sum(expr("(1-p)*(1-y)")).as("tn"))
        .selectExpr("tp", "fp", "fn", "tn",
          "round(CAST(tp AS DOUBLE) / (tp + fp), 6) AS precision",
          "round(CAST(tp AS DOUBLE) / (tp + fn), 6) AS recall",
          "round(CAST(2*tp AS DOUBLE) / (2*tp + fp + fn), 6) AS f1")
    }),

    // Calibration (reliability) bins: score deciles (5 000-cent buckets,
    // clamped) vs empirical purchase rate — the reliability-diagram table
    // a classifier evaluation publishes beside AUC. Means are terminal
    // divisions of exact BIGINT sums; one partial-agg'd shuffle of ≤10
    // groups.
    "q_calibration" -> ((s, dir) => {
      table(s, dir, "events")
        .selectExpr("CAST(floor(value*100 + 0.5) AS BIGINT) AS v",
          "CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS BIGINT) AS y")
        .selectExpr("least(CAST(9 AS BIGINT), v DIV 5000) AS bin", "v", "y")
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum("y").as("n_pos"), sum("v").as("sv"))
        .selectExpr("bin", "n", "n_pos",
          "round(CAST(sv AS DOUBLE) / n / 100, 6) AS mean_score",
          "round(CAST(n_pos AS DOUBLE) / n, 6) AS frac_pos")
        .orderBy("bin")
    }),

    // Exact WEIGHTED percentiles (quantity-weighted price quartiles per
    // return flag): the smallest value whose cumulative weight reaches
    // ⌈p·W⌉ — every unit sold counts, not every line item. Rides
    // `Percentiles.weighted` (single-lineage cumulative weights, decimal
    // thresholds, argmin selection — no whole-group buffer); the oracle
    // replays the identical convention with a window cumsum and INTEGER
    // ceil thresholds, so the boundary cannot ulp-flip.
    "q_percentile_weighted" -> ((s, dir) => {
      val li = table(s, dir, "lineitem").selectExpr("l_returnflag",
        "CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) AS pc",
        "CAST(l_quantity AS BIGINT) AS w")
      graft.operators.Percentiles
        .weighted(li, "l_returnflag", "pc", "w", Seq(0.25, 0.5, 0.75))
        .select(col("l_returnflag"), col("p"),
          round(expr("q / 100"), 2).as("wq"))
        .orderBy("l_returnflag", "p")
    })
  )

  val oracle: Map[String, String] = strictMap(
    // replays the engine's interpolation formula for p05/p95 (bit-identical
    // thresholds — the q_anomalies technique), then the clip accounting
    "q_winsorize" ->
      """WITH ev AS (SELECT event_type, value FROM events),
        |tp AS (
        |  SELECT event_type, p,
        |         CAST(floor(r) AS BIGINT) + 1 AS lo,
        |         least(CAST(floor(r) AS BIGINT) + 2, n) AS hi,
        |         r - floor(r) AS f
        |  FROM (
        |    SELECT event_type, n, p, p * (n - 1) AS r
        |    FROM (SELECT event_type, count(value) AS n FROM ev GROUP BY event_type)
        |    CROSS JOIN (SELECT unnest([CAST(0.05 AS DOUBLE), CAST(0.95 AS DOUBLE)]) AS p)
        |  )
        |),
        |ranked AS (
        |  SELECT event_type, value,
        |         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rk
        |  FROM ev WHERE value IS NOT NULL
        |),
        |qv AS (
        |  SELECT t.event_type, t.p,
        |         CASE WHEN t.f = 0 THEN lo.value
        |              ELSE (CAST(1.0 AS DOUBLE) - t.f) * lo.value + t.f * hi.value
        |         END AS q
        |  FROM tp t
        |  JOIN ranked lo ON lo.event_type = t.event_type AND lo.rk = t.lo
        |  JOIN ranked hi ON hi.event_type = t.event_type AND hi.rk = t.hi
        |),
        |thr AS (
        |  SELECT event_type,
        |         max(CASE WHEN p < 0.5 THEN q END) AS lo,
        |         max(CASE WHEN p > 0.5 THEN q END) AS hi
        |  FROM qv GROUP BY event_type
        |),
        |c AS (
        |  SELECT ev.event_type, value, thr.lo, thr.hi,
        |    value < thr.lo - 1e-9 * greatest(abs(thr.lo), 1.0) AS clip_lo,
        |    value > thr.hi + 1e-9 * greatest(abs(thr.hi), 1.0) AS clip_hi
        |  FROM ev JOIN thr USING (event_type) WHERE value IS NOT NULL
        |)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN clip_lo THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
        |  CAST(sum(CASE WHEN clip_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4)
        |    AS mean_before,
        |  round(CAST(sum(CAST(CASE WHEN clip_lo THEN lo
        |                           WHEN clip_hi THEN hi
        |                           ELSE value END AS DECIMAL(18,4))) AS DOUBLE)
        |        / count(*), 4) AS mean_after,
        |  round(max(lo), 4) AS lo, round(max(hi), 4) AS hi
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,

    // replays the engine's exact interpolation formula at BOTH levels
    // (median, then median of deviations) so med/mad are bit-identical
    // doubles — never quantile_cont, whose different FMA spelling can
    // drift an ulp (the q_anomalies technique, composed)
    "q_mad_outliers" ->
      """WITH ev AS (SELECT event_type, value FROM events),
        |tp1 AS (
        |  SELECT event_type,
        |         CAST(floor(r) AS BIGINT) + 1 AS lo,
        |         least(CAST(floor(r) AS BIGINT) + 2, n) AS hi,
        |         r - floor(r) AS f
        |  FROM (SELECT event_type, count(value) AS n,
        |               CAST(0.5 AS DOUBLE) * (count(value) - 1) AS r
        |        FROM ev GROUP BY event_type)
        |),
        |rk1 AS (
        |  SELECT event_type, value,
        |         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rk
        |  FROM ev WHERE value IS NOT NULL
        |),
        |med AS (
        |  SELECT t.event_type,
        |         CASE WHEN t.f = 0 THEN lo.value
        |              ELSE (CAST(1.0 AS DOUBLE) - t.f) * lo.value + t.f * hi.value
        |         END AS med
        |  FROM tp1 t
        |  JOIN rk1 lo ON lo.event_type = t.event_type AND lo.rk = t.lo
        |  JOIN rk1 hi ON hi.event_type = t.event_type AND hi.rk = t.hi
        |),
        |dv AS (
        |  SELECT ev.event_type, med.med, abs(value - med.med) AS d
        |  FROM ev JOIN med USING (event_type)
        |),
        |tp2 AS (
        |  SELECT event_type,
        |         CAST(floor(r) AS BIGINT) + 1 AS lo,
        |         least(CAST(floor(r) AS BIGINT) + 2, n) AS hi,
        |         r - floor(r) AS f
        |  FROM (SELECT event_type, count(d) AS n,
        |               CAST(0.5 AS DOUBLE) * (count(d) - 1) AS r
        |        FROM dv GROUP BY event_type)
        |),
        |rk2 AS (
        |  SELECT event_type, d,
        |         row_number() OVER (PARTITION BY event_type ORDER BY d) AS rk
        |  FROM dv WHERE d IS NOT NULL
        |),
        |mad AS (
        |  SELECT t.event_type,
        |         CASE WHEN t.f = 0 THEN lo.d
        |              ELSE (CAST(1.0 AS DOUBLE) - t.f) * lo.d + t.f * hi.d
        |         END AS mad
        |  FROM tp2 t
        |  JOIN rk2 lo ON lo.event_type = t.event_type AND lo.rk = t.lo
        |  JOIN rk2 hi ON hi.event_type = t.event_type AND hi.rk = t.hi
        |)
        |SELECT dv.event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN d > 3.0 * mad.mad + 1e-9 * greatest(mad.mad, 1.0)
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_out,
        |  round(max(dv.med), 4) AS med, round(max(mad.mad), 4) AS mad
        |FROM dv JOIN mad USING (event_type)
        |GROUP BY dv.event_type ORDER BY dv.event_type""".stripMargin,

    "q_mode" ->
      """WITH c AS (
        |  SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
        |  FROM orders GROUP BY 1, 2
        |),
        |r AS (
        |  SELECT o_orderstatus, o_orderpriority, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY o_orderstatus) AS BIGINT) AS n_rows,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY cnt DESC, o_orderpriority) AS rn
        |  FROM c
        |)
        |SELECT o_orderstatus, o_orderpriority AS mode_priority,
        |  cnt AS mode_cnt, n_rows
        |FROM r WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin,

    "q_regression" ->
      s"""WITH v AS (
         |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
         |    CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) AS y
         |  FROM lineitem
         |),
         |a AS (
         |  SELECT l_returnflag, count(*) AS n,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x*y) AS BIGINT) AS sxy, CAST(sum(x*x) AS BIGINT) AS sxx
         |  FROM v GROUP BY l_returnflag
         |)
         |SELECT l_returnflag, n,
         |  round($SlopeExpr, 6) AS slope,
         |  round($InterceptExpr, 6) AS intercept
         |FROM a ORDER BY l_returnflag""".stripMargin,

    "q_drawdown" ->
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS rev
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1
        |),
        |eq AS (
        |  SELECT day, rev,
        |    CAST(sum(rev) OVER (ORDER BY day) AS BIGINT) AS equity
        |  FROM daily
        |)
        |SELECT day, rev, equity,
        |  CAST(max(equity) OVER (ORDER BY day) AS BIGINT) AS peak,
        |  CAST(max(equity) OVER (ORDER BY day) - equity AS BIGINT) AS dd
        |FROM eq ORDER BY day""".stripMargin,

    "q_ewma" ->
      s"""WITH v AS (
         |  SELECT user_id, event_id, ts,
         |    CAST(floor(value*100 + 0.5) AS BIGINT) AS v
         |  FROM events
         |)
         |SELECT user_id, event_id, $EwmaExpr AS ewma
         |FROM v ORDER BY user_id, event_id""".stripMargin,

    "q_freq_pairs" ->
      s"""WITH b AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
         |),
         |small AS (
         |  SELECT ok FROM b GROUP BY ok HAVING count(*) <= $BasketCap
         |)
         |SELECT a.pk AS p1, c.pk AS p2, count(*) AS support
         |FROM (SELECT * FROM b JOIN small USING (ok)) a
         |JOIN (SELECT * FROM b JOIN small USING (ok)) c USING (ok)
         |WHERE a.pk < c.pk
         |GROUP BY a.pk, c.pk
         |HAVING count(*) >= $PairMinSupport
         |ORDER BY p1, p2""".stripMargin,

    "q_freq_triples" ->
      s"""WITH b AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
         |),
         |small AS (
         |  SELECT ok FROM b GROUP BY ok HAVING count(*) <= $BasketCap
         |),
         |bb AS (SELECT * FROM b JOIN small USING (ok)),
         |l2 AS (
         |  SELECT a.pk AS p1, c.pk AS p2
         |  FROM bb a JOIN bb c USING (ok) WHERE a.pk < c.pk
         |  GROUP BY 1, 2 HAVING count(*) >= $PairMinSupport
         |),
         |c3 AS (
         |  SELECT x.p1, x.p2, y.p2 AS p3
         |  FROM l2 x JOIN l2 y ON x.p1 = y.p1 AND x.p2 < y.p2
         |  WHERE EXISTS (SELECT 1 FROM l2 z
         |                WHERE z.p1 = x.p2 AND z.p2 = y.p2)
         |)
         |SELECT c3.p1, c3.p2, c3.p3, count(*) AS support
         |FROM c3
         |JOIN bb ba ON ba.pk = c3.p1
         |JOIN bb bc ON bc.ok = ba.ok AND bc.pk = c3.p2
         |JOIN bb bd ON bd.ok = ba.ok AND bd.pk = c3.p3
         |GROUP BY 1, 2, 3 HAVING count(*) >= $PairMinSupport
         |ORDER BY p1, p2, p3""".stripMargin,

    "q_ttest" ->
      s"""WITH v AS (
         |  SELECT event_type, user_id % 2 = 0 AS grp_a,
         |    CAST(floor(value*100 + 0.5) AS BIGINT) AS v
         |  FROM events
         |),
         |a AS (
         |  SELECT event_type,
         |    CAST(sum(CASE WHEN grp_a THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(sum(CASE WHEN grp_a THEN v END) AS BIGINT) AS s1,
         |    CAST(sum(CASE WHEN grp_a THEN v*v END) AS BIGINT) AS q1,
         |    CAST(sum(CASE WHEN NOT grp_a THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         |    CAST(sum(CASE WHEN NOT grp_a THEN v END) AS BIGINT) AS s2,
         |    CAST(sum(CASE WHEN NOT grp_a THEN v*v END) AS BIGINT) AS q2
         |  FROM v GROUP BY event_type
         |)
         |SELECT event_type, n1, n2,
         |  round(${tMean(1)} / 100, 4) AS mean1,
         |  round(${tMean(2)} / 100, 4) AS mean2,
         |  round($WelchTExpr, 4) AS t_stat
         |FROM a ORDER BY event_type""".stripMargin,

    "q_zscore" ->
      s"""WITH v AS (
         |  SELECT event_id, event_type,
         |    CAST(floor(value*100 + 0.5) AS BIGINT) AS v
         |  FROM events
         |),
         |st AS (
         |  SELECT event_type, count(*) AS n,
         |    CAST(sum(v) AS BIGINT) AS s, CAST(sum(v*v) AS BIGINT) AS q
         |  FROM v GROUP BY event_type
         |)
         |SELECT v.event_id, v.event_type,
         |  $ZScoreExpr AS z
         |FROM v JOIN st ON v.event_type = st.event_type
         |ORDER BY v.event_id""".stripMargin,

    "q_quantile_normalize" ->
      """WITH v AS (
        |  SELECT event_id, event_type,
        |    CAST(floor(value*100 + 0.5) AS BIGINT) AS v
        |  FROM events
        |),
        |r AS (
        |  SELECT event_id, event_type,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY v, event_id) AS BIGINT) AS rk,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM v
        |)
        |SELECT event_id, event_type,
        |  round(CAST(rk - 1 AS DOUBLE) / CAST(nullif(n - 1, 0) AS DOUBLE), 6) AS pr
        |FROM r ORDER BY event_id""".stripMargin,

    "q_percentile_disc" ->
      """WITH v AS (
        |  SELECT event_type, event_id,
        |    CAST(floor(value*100 + 0.5) AS BIGINT) AS v
        |  FROM events
        |),
        |r AS (
        |  SELECT event_type, v,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY v, event_id) AS BIGINT) AS rk,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM v
        |)
        |SELECT event_type, max(n) AS n,
        |  round(CAST(min(CASE WHEN rk = (1*n + 3) // 4 THEN v END) AS DOUBLE) / 100, 2) AS p25,
        |  round(CAST(min(CASE WHEN rk = (1*n + 1) // 2 THEN v END) AS DOUBLE) / 100, 2) AS p50,
        |  round(CAST(min(CASE WHEN rk = (3*n + 3) // 4 THEN v END) AS DOUBLE) / 100, 2) AS p75
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_kanon" ->
      s"""SELECT c_mktsegment, CAST(c_nationkey % 5 AS BIGINT) AS region,
         |  count(*) AS n
         |FROM customer
         |GROUP BY 1, 2
         |HAVING count(*) >= $KAnonK
         |ORDER BY c_mktsegment, region""".stripMargin,

    "q_percentile_weighted" ->
      s"""WITH r AS (
         |  SELECT l_returnflag AS k,
         |    CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) AS v,
         |    CAST(l_quantity AS BIGINT) AS w, l_orderkey, l_linenumber
         |  FROM lineitem),
         |o AS (SELECT k, v, cw FROM (
         |  SELECT k, v, sum(w) OVER (PARTITION BY k
         |    ORDER BY v, l_orderkey, l_linenumber) AS cw FROM r)),
         |t AS (SELECT k, CAST(sum(w) AS BIGINT) AS tw FROM r GROUP BY k),
         |th AS (SELECT k, CAST(p AS DOUBLE) AS p,
         |    greatest(1, (num*tw + den - 1) // den) AS thr
         |  FROM t, (VALUES (0.25, 1, 4), (0.5, 1, 2), (0.75, 3, 4))
         |    AS ps(p, num, den))
         |SELECT o.k AS l_returnflag, th.p,
         |  round(CAST(min(CASE WHEN o.cw >= th.thr THEN o.v END) AS DOUBLE)
         |    / 100, 2) AS wq
         |FROM o JOIN th ON th.k = o.k
         |GROUP BY o.k, th.p
         |ORDER BY l_returnflag, p""".stripMargin,

    "q_auc" ->
      s"""WITH r AS (
         |  SELECT CAST(floor(value*100 + 0.5) AS BIGINT) AS v,
         |    CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
         |      AS BIGINT) AS y,
         |    event_id
         |  FROM events),
         |rk AS (SELECT v, y,
         |  row_number() OVER (ORDER BY v, event_id) AS rk FROM r),
         |g AS (SELECT v, min(rk) AS rmin, max(rk) AS rmax, sum(y) AS np
         |      FROM rk GROUP BY v),
         |t AS (SELECT CAST(sum(np*(rmin+rmax)) AS BIGINT) AS two_sr,
         |  CAST(sum(np) AS BIGINT) AS npos,
         |  CAST(sum(rmax - rmin + 1) AS BIGINT) AS n FROM g)
         |SELECT n, npos, n - npos AS nneg, $AucExpr AS auc
         |FROM t""".stripMargin,

    "q_confusion" ->
      """WITH b AS (
        |  SELECT CAST(CASE WHEN floor(value*100 + 0.5) >= 10000
        |              THEN 1 ELSE 0 END AS BIGINT) AS p,
        |    CAST(CASE WHEN event_type = 'purchase'
        |         THEN 1 ELSE 0 END AS BIGINT) AS y
        |  FROM events
        |),
        |m AS (
        |  SELECT CAST(sum(p*y) AS BIGINT) AS tp,
        |    CAST(sum(p*(1-y)) AS BIGINT) AS fp,
        |    CAST(sum((1-p)*y) AS BIGINT) AS fn,
        |    CAST(sum((1-p)*(1-y)) AS BIGINT) AS tn
        |  FROM b
        |)
        |SELECT tp, fp, fn, tn,
        |  round(CAST(tp AS DOUBLE) / (tp + fp), 6) AS precision,
        |  round(CAST(tp AS DOUBLE) / (tp + fn), 6) AS recall,
        |  round(CAST(2*tp AS DOUBLE) / (2*tp + fp + fn), 6) AS f1
        |FROM m""".stripMargin,

    "q_calibration" ->
      """WITH b AS (
        |  SELECT least(CAST(9 AS BIGINT),
        |               CAST(floor(value*100 + 0.5) AS BIGINT) // 5000) AS bin,
        |    CAST(floor(value*100 + 0.5) AS BIGINT) AS v,
        |    CAST(CASE WHEN event_type = 'purchase'
        |         THEN 1 ELSE 0 END AS BIGINT) AS y
        |  FROM events
        |)
        |SELECT bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
        |  round(CAST(CAST(sum(v) AS BIGINT) AS DOUBLE) / count(*) / 100, 6)
        |    AS mean_score,
        |  round(CAST(CAST(sum(y) AS BIGINT) AS DOUBLE) / count(*), 6)
        |    AS frac_pos
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin
  )
}
