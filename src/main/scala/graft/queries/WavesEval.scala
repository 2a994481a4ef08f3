package graft.queries

import graft.operators.{Ckpt, Tokenize}
import graft.operators.Ckpt._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Evaluation / launch-decision / weak-supervision waves (9-32 era):
  * preference ranking, equivalence gates, supervised eval, score
  * monitoring, re-identification risk, labeling-function audits.
  *
  * Consolidated from the round-era Wave files (r11 verdict task 7):
  * pure moves — each object below is byte-identical to its former
  * single-object file minus the per-file package/import header,
  * which is merged (conflict-free union) above. */

/** Wave-9 additions: the preference-and-causal corner of an evaluation
  * pipeline — Bradley-Terry strength estimation from pairwise
  * comparisons (the reward-model / arena-ranking primitive), isotonic
  * calibration by the exact minimax characterization of PAVA (the
  * "probabilities that are actually monotone in the score" fit),
  * Kendall τ-b rank agreement on the calendar-bounded daily grid, and
  * rank-matched treatment/control pairing within propensity buckets
  * (the observational-causal "compare like with like" step).
  *
  * Determinism: comparisons, wins, concordances, and bucket sums are
  * exact BIGINTs; iterative float updates (Bradley-Terry MM) follow the
  * house per-term round-8 / decimal-sum / re-round discipline so the
  * DuckDB oracle unrolls identical rounds; isotonic interval rates are
  * round-12 from exact integer pairs, and the minimax over them
  * compares identical doubles in both engines.
  */
object Wave9 extends Catalog {

  /** Integer-cents quantization of the events `value` double. */
  private val CentsSpark =
    "CAST(floor(CAST(value AS DOUBLE)*100 + 0.5) AS BIGINT)"
  private def centsSql = "CAST(floor(CAST(value AS DOUBLE)*100 + 0.5) AS BIGINT)"

  /** Micros-per-day (q_sprt day bucketing). */
  private val DayUs = "86400000000"

  /** q_bradley_terry: MM iteration count (unrolled in the oracle). */
  private val BtRounds = 3

  /** q_isotonic: score-bucket count (the calibration grid is ALWAYS
    * this many rows — every post-aggregation stage is metadata). */
  private val IsoBuckets = 20
  private val IsoWidth = 2000 // cents per bucket

  val queries: Map[String, Q] = strictMap(

    // BRADLEY-TERRY strength from pairwise daily comparisons: event type
    // i "beats" j on any day its cents total is strictly higher (ties
    // drop — no half-win float). ONE (type, day) partial-agg'd shuffle
    // builds the calendar-bounded daily grid; the k×k comparison table
    // and all MM rounds are metadata-scale. Each MM round is the
    // textbook minorize-maximize update θ_i ← W_i / Σ_j n_ij/(θ_i+θ_j),
    // sum-normalized to k, with every division round-8 from identical
    // inputs and every sum decimal-backed — so the oracle replays the
    // rounds bit-for-bit. The arena-ranking / reward-model primitive.
    "q_bradley_terry" -> ((s, dir) => {
      val daily = table(s, dir, "events")
        .selectExpr("event_type", s"unix_micros(ts) DIV $DayUs AS day",
          s"$CentsSpark AS cents")
        .groupBy("event_type", "day")
        .agg(sum(col("cents")).as("c"))
      val w = daily.as("a").join(daily.as("b"), Seq("day"))
        .where(col("a.event_type") =!= col("b.event_type") &&
          col("a.c") > col("b.c"))
        .groupBy(col("a.event_type").as("i"), col("b.event_type").as("j"))
        .agg(count(lit(1)).as("wij"))
      // full ordered-pair grid with n_ij = w_ij + w_ji (absent → 0)
      // the comparison grid feeds every MM round (and wins feeds the
      // round update + the final projection): materialize ONCE — the
      // k(k−1)-row table is metadata, but its lineage is the daily
      // self-join, which would otherwise re-plan and re-execute per
      // round (measured 16.5 → ~2 s at sf0.1)
      import graft.operators.Ckpt._
      val pairs = w.select(col("i"), col("j"), col("wij"))
        .join(w.select(col("j").as("i"), col("i").as("j"),
          col("wij").as("wji")), Seq("i", "j"), "full_outer")
        .selectExpr("i", "j", "coalesce(wij, CAST(0 AS BIGINT)) AS wij",
          "coalesce(wij, CAST(0 AS BIGINT))" +
            " + coalesce(wji, CAST(0 AS BIGINT)) AS nij")
        .ckpt()
      val items = pairs.select(col("i")).distinct()
      val wins = pairs.groupBy("i").agg(sum(col("wij")).as("wi"),
        sum(col("nij")).as("ni")).ckpt()
      var th = items.withColumn("th", lit(1.0)).ckpt()
      for (_ <- 1 to BtRounds) {
        val den = pairs
          .join(th.select(col("i"), col("th").as("ti")), Seq("i"))
          .join(th.select(col("i").as("j"), col("th").as("tj")), Seq("j"))
          .withColumn("t", expr("round(CAST(nij AS DOUBLE) / (ti + tj), 8)"))
          .groupBy("i").agg(dsum(col("t"), 8).as("d"))
        val raw = den.join(wins, Seq("i"))
          .selectExpr("i", "round(CAST(wi AS DOUBLE) / d, 8) AS th")
        val tot = raw.agg(dsum(col("th"), 8).as("s"),
          count(lit(1)).as("k"))
        th = raw.crossJoin(broadcast(tot))
          .selectExpr("i", "round(CAST(k AS DOUBLE) * th / s, 8) AS th")
          .ckpt()
      }
      th.join(wins, Seq("i"))
        .select(col("i").as("event_type"), col("wi").as("wins"),
          col("ni").as("comparisons"), round(col("th"), 6).as("strength"))
        .orderBy(desc("strength"), asc("event_type"))
    }),

    // ISOTONIC calibration by the exact minimax characterization of
    // PAVA: iso_i = max_{a≤i} min_{b≥i} rate(a..b) over IsoBuckets
    // fixed-width score buckets — identical to the pool-adjacent-
    // violators fit, but expressed as bounded-grid joins instead of a
    // sequential sweep (the grid is ALWAYS IsoBuckets rows, so the
    // O(B³) interval enumeration is metadata at any corpus size; the
    // ONE data-scale stage is the bucket count shuffle). Interval rates
    // are round-12 doubles from exact integer (conv, n) pairs, so the
    // minimax compares identical values in both engines. Spec pins the
    // fit's monotonicity — the property the raw rates lack.
    "q_isotonic" -> ((s, dir) => {
      val b = table(s, dir, "events")
        .selectExpr(
          s"least($CentsSpark DIV $IsoWidth, ${IsoBuckets - 1}) AS bkt",
          "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y")
        .groupBy("bkt")
        .agg(count(lit(1)).as("n"), sum(col("y")).as("conv"))
      val grid = s.range(IsoBuckets).select(col("id").as("bkt"))
        .join(b, Seq("bkt"), "left_outer")
        .selectExpr("bkt", "coalesce(n, CAST(0 AS BIGINT)) AS n",
          "coalesce(conv, CAST(0 AS BIGINT)) AS conv")
      // all intervals [a, b] with pooled totals (empty intervals keep
      // n = 0 and are excluded — rate undefined)
      val ids = s.range(IsoBuckets).select(col("id"))
      val iv = ids.select(col("id").as("a"))
        .crossJoin(ids.select(col("id").as("bb"))).where(col("a") <= col("bb"))
        .join(grid, col("bkt") >= col("a") && col("bkt") <= col("bb"))
        .groupBy("a", "bb")
        .agg(sum(col("n")).as("sn"), sum(col("conv")).as("sc"))
        .where(col("sn") > 0)
        .selectExpr("a", "bb",
          "round(CAST(sc AS DOUBLE) / CAST(sn AS DOUBLE), 12) AS r")
      val iso = ids.select(col("id").as("i"))
        .join(iv, col("a") <= col("i") && col("bb") >= col("i"))
        .groupBy("i", "a").agg(min(col("r")).as("m"))
        .groupBy("i").agg(max(col("m")).as("iso"))
      grid.join(iso, col("bkt") === col("i"), "left_outer")
        .selectExpr("bkt", "n", "conv",
          "CASE WHEN n > 0 THEN" +
            " round(CAST(conv AS DOUBLE) / CAST(n AS DOUBLE), 6) END AS raw",
          "round(iso, 6) AS iso")
        .orderBy("bkt")
    }),

    // KENDALL τ-b between daily click and purchase counts: concordant /
    // discordant / tied pair counts over the CALENDAR-BOUNDED daily grid
    // (the self-join is |days|², which grows with time, never with
    // corpus size — the scale contract that makes exact τ affordable;
    // unbounded-n τ belongs to inversion-counting via range-partitioned
    // merge, not a pair join). All counts exact BIGINTs; τ-b is one
    // identically-spelled float chain.
    "q_kendall" -> ((s, dir) => {
      val daily = table(s, dir, "events")
        .selectExpr(s"unix_micros(ts) DIV $DayUs AS day", "event_type")
        .groupBy("day")
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
      daily.as("p").join(daily.as("q"), col("p.day") < col("q.day"))
        .selectExpr(
          "CAST(sign((p.x - q.x) * (p.y - q.y)) AS BIGINT) AS s",
          "CAST(CASE WHEN p.x = q.x THEN 1 ELSE 0 END AS BIGINT) AS tx",
          "CAST(CASE WHEN p.y = q.y THEN 1 ELSE 0 END AS BIGINT) AS ty")
        .agg(count(lit(1)).as("n0"),
          sum(when(col("s") === 1L, 1L).otherwise(0L)).as("c"),
          sum(when(col("s") === -1L, 1L).otherwise(0L)).as("d"),
          sum(col("tx")).as("tx"), sum(col("ty")).as("ty"))
        .selectExpr("n0", "c", "d", "tx", "ty",
          "round((CAST(c AS DOUBLE) - CAST(d AS DOUBLE)) /" +
            " sqrt((CAST(n0 AS DOUBLE) - tx) * (CAST(n0 AS DOUBLE) - ty))," +
            " 6) AS tau_b")
    }),

    // PROPENSITY-BUCKET rank matching: users split into variants by id
    // parity; global spend deciles proxy the propensity strata; within
    // each (decile), the r-th ranked treated user (by cents, id — the
    // tie-broken total order) matches the r-th ranked control. TWO
    // distributed Ranks passes (global decile; within-stratum order) +
    // ONE (decile, rank) equi-join — never a greedy sequential sweep, so
    // matching scales and is deterministic. Output: per-decile match
    // counts + exact-integer mean absolute spend gap of matched pairs
    // (the post-match balance diagnostic).
    "q_psm_match" -> ((s, dir) => {
      val ux = table(s, dir, "events")
        .selectExpr("user_id", s"$CentsSpark AS cents")
        .groupBy("user_id").agg(sum(col("cents")).as("x"))
        .withColumn("variant", col("user_id") % 2)
        .withColumn("kk", lit(1))
      val n = ux.count()
      val dec = graft.operators.Ranks.withinKey(ux, "kk", Seq("x", "user_id"))
        .withColumn("decile", expr(s"(rk - 1) * 10 DIV $n"))
        .drop("rk", "kk")
        .withColumn("dv", col("decile") * 2 + col("variant"))
      val ranked = graft.operators.Ranks
        .withinKey(dec, "dv", Seq("x", "user_id"))
      val t = ranked.where(col("variant") === 1)
        .select(col("decile"), col("rk"), col("x").as("xt"))
      val c = ranked.where(col("variant") === 0)
        .select(col("decile"), col("rk"), col("x").as("xc"))
      val m = t.join(c, Seq("decile", "rk"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_matched"),
          sum(expr("abs(xt - xc)")).as("gap"))
      ranked.groupBy("decile")
        .agg(sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_treated"),
          sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_control"))
        .join(m, Seq("decile"), "left_outer")
        .selectExpr("decile", "n_treated", "n_control",
          "coalesce(n_matched, CAST(0 AS BIGINT)) AS n_matched",
          "CASE WHEN n_matched > 0 THEN" +
            " round(CAST(gap AS DOUBLE) / CAST(n_matched AS DOUBLE), 6)" +
            " END AS mean_gap")
        .orderBy("decile")
    }),
  )

  /** One unrolled Bradley-Terry MM round (oracle twin): t$r from
    * t${r-1} — per-pair round-8 division, decimal-8 sums, round-8
    * update, round-8 sum-normalization to k. */
  private def btRoundSql(r: Int): String =
    s"""den$r AS (
       |  SELECT p.i, ${dsumSql("round(CAST(p.nij AS DOUBLE) / (ti.th + tj.th), 8)", 8)} AS d
       |  FROM pairs p
       |  JOIN t${r - 1} ti ON ti.i = p.i
       |  JOIN t${r - 1} tj ON tj.i = p.j
       |  GROUP BY p.i
       |),
       |raw$r AS (
       |  SELECT den$r.i, round(CAST(w.wi AS DOUBLE) / den$r.d, 8) AS th
       |  FROM den$r JOIN wins w ON w.i = den$r.i
       |),
       |t$r AS (
       |  SELECT i, round(
       |    (SELECT CAST(count(*) AS DOUBLE) FROM raw$r) * th /
       |    (SELECT ${dsumSql("th", 8)} FROM raw$r), 8) AS th
       |  FROM raw$r
       |)""".stripMargin

  val oracle: Map[String, String] = strictMap(

    "q_bradley_terry" ->
      s"""WITH daily AS (
         |  SELECT event_type, epoch_us(ts) // $DayUs AS day,
         |    CAST(sum($centsSql) AS BIGINT) AS c
         |  FROM events GROUP BY 1, 2
         |),
         |w AS (
         |  SELECT a.event_type AS i, b.event_type AS j, count(*) AS wij
         |  FROM daily a JOIN daily b
         |    ON a.day = b.day AND a.event_type <> b.event_type AND a.c > b.c
         |  GROUP BY 1, 2
         |),
         |pairs AS (
         |  SELECT coalesce(w1.i, w2.i) AS i, coalesce(w1.j, w2.j) AS j,
         |    CAST(coalesce(w1.wij, 0) AS BIGINT) AS wij,
         |    CAST(coalesce(w1.wij, 0) + coalesce(w2.wji, 0) AS BIGINT) AS nij
         |  FROM w w1
         |  FULL OUTER JOIN (SELECT j AS i, i AS j, wij AS wji FROM w) w2
         |    ON w1.i = w2.i AND w1.j = w2.j
         |),
         |wins AS (
         |  SELECT i, CAST(sum(wij) AS BIGINT) AS wi,
         |    CAST(sum(nij) AS BIGINT) AS ni
         |  FROM pairs GROUP BY i
         |),
         |t0 AS (SELECT DISTINCT i, CAST(1.0 AS DOUBLE) AS th FROM pairs),
         |${(1 to BtRounds).map(btRoundSql).mkString(",\n")}
         |SELECT t.i AS event_type, w.wi AS wins, w.ni AS comparisons,
         |  round(t.th, 6) AS strength
         |FROM t$BtRounds t JOIN wins w ON w.i = t.i
         |ORDER BY strength DESC, event_type""".stripMargin,

    "q_isotonic" ->
      s"""WITH b AS (
         |  SELECT least($centsSql // $IsoWidth, ${IsoBuckets - 1}) AS bkt,
         |    count(*) AS n,
         |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS conv
         |  FROM events GROUP BY 1
         |),
         |grid AS (
         |  SELECT g.f AS bkt, CAST(coalesce(b.n, 0) AS BIGINT) AS n,
         |    CAST(coalesce(b.conv, 0) AS BIGINT) AS conv
         |  FROM (SELECT CAST(unnest(range($IsoBuckets)) AS BIGINT) AS f) g
         |  LEFT JOIN b ON b.bkt = g.f
         |),
         |iv AS (
         |  SELECT a.f AS a, bb.f AS bb,
         |    round(CAST(sum(g.conv) AS DOUBLE) / CAST(sum(g.n) AS DOUBLE), 12) AS r
         |  FROM (SELECT CAST(unnest(range($IsoBuckets)) AS BIGINT) AS f) a
         |  JOIN (SELECT CAST(unnest(range($IsoBuckets)) AS BIGINT) AS f) bb
         |    ON a.f <= bb.f
         |  JOIN grid g ON g.bkt BETWEEN a.f AND bb.f
         |  GROUP BY 1, 2 HAVING sum(g.n) > 0
         |),
         |iso AS (
         |  SELECT i, max(m) AS iso FROM (
         |    SELECT ii.f AS i, iv.a, min(iv.r) AS m
         |    FROM (SELECT CAST(unnest(range($IsoBuckets)) AS BIGINT) AS f) ii
         |    JOIN iv ON iv.a <= ii.f AND iv.bb >= ii.f
         |    GROUP BY 1, 2
         |  ) GROUP BY i
         |)
         |SELECT g.bkt, g.n, g.conv,
         |  CASE WHEN g.n > 0 THEN
         |    round(CAST(g.conv AS DOUBLE) / CAST(g.n AS DOUBLE), 6) END AS raw,
         |  round(iso.iso, 6) AS iso
         |FROM grid g LEFT JOIN iso ON iso.i = g.bkt
         |ORDER BY g.bkt""".stripMargin,

    "q_kendall" ->
      s"""WITH daily AS (
         |  SELECT epoch_us(ts) // $DayUs AS day,
         |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS x,
         |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS y
         |  FROM events GROUP BY 1
         |),
         |pr AS (
         |  SELECT CAST(sign((p.x - q.x) * (p.y - q.y)) AS BIGINT) AS s,
         |    CASE WHEN p.x = q.x THEN 1 ELSE 0 END AS tx,
         |    CASE WHEN p.y = q.y THEN 1 ELSE 0 END AS ty
         |  FROM daily p JOIN daily q ON p.day < q.day
         |),
         |a AS (
         |  SELECT count(*) AS n0,
         |    CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
         |    CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS d,
         |    CAST(sum(tx) AS BIGINT) AS tx, CAST(sum(ty) AS BIGINT) AS ty
         |  FROM pr
         |)
         |SELECT CAST(n0 AS BIGINT) AS n0, c, d, tx, ty,
         |  round((CAST(c AS DOUBLE) - CAST(d AS DOUBLE)) /
         |    sqrt((CAST(n0 AS DOUBLE) - tx) * (CAST(n0 AS DOUBLE) - ty)), 6)
         |    AS tau_b
         |FROM a""".stripMargin,

    "q_psm_match" ->
      s"""WITH ux AS (
         |  SELECT user_id, CAST(sum($centsSql) AS BIGINT) AS x,
         |    user_id % 2 AS variant
         |  FROM events GROUP BY user_id
         |),
         |dec AS (
         |  SELECT user_id, x, variant,
         |    (row_number() OVER (ORDER BY x, user_id) - 1) * 10
         |      // (SELECT count(*) FROM ux) AS decile
         |  FROM ux
         |),
         |ranked AS (
         |  SELECT user_id, x, variant, decile,
         |    row_number() OVER (PARTITION BY decile, variant
         |                       ORDER BY x, user_id) AS rk
         |  FROM dec
         |),
         |m AS (
         |  SELECT t.decile, count(*) AS n_matched,
         |    CAST(sum(abs(t.x - c.x)) AS BIGINT) AS gap
         |  FROM ranked t JOIN ranked c
         |    ON t.decile = c.decile AND t.rk = c.rk
         |   AND t.variant = 1 AND c.variant = 0
         |  GROUP BY t.decile
         |),
         |tot AS (
         |  SELECT decile,
         |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_treated,
         |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_control
         |  FROM ranked GROUP BY decile
         |)
         |SELECT tot.decile, tot.n_treated, tot.n_control,
         |  CAST(coalesce(m.n_matched, 0) AS BIGINT) AS n_matched,
         |  CASE WHEN m.n_matched > 0 THEN
         |    round(CAST(m.gap AS DOUBLE) / CAST(m.n_matched AS DOUBLE), 6)
         |  END AS mean_gap
         |FROM tot LEFT JOIN m ON m.decile = tot.decile
         |ORDER BY tot.decile""".stripMargin,
  )
}

/** Wave-11 additions: the launch-decision corner of an experimentation
  * pipeline — TOST equivalence testing (the "prove it did NOT move"
  * gate, dual to the significance tests), per-source KL divergence from
  * the corpus language mix (the domain-drift monitor a curation
  * pipeline watches between crawls), and delete-one-bucket jackknife
  * variance of a ratio metric (the standard error experimentation
  * platforms actually ship for ratio metrics, where the naive i.i.d.
  * formula is wrong).
  *
  * Determinism: every mean/ratio comes from exact integer power sums,
  * KL terms are round-8 ln of exact smoothed rationals decimal-summed,
  * and jackknife pseudo-deviations are round-12 from identical float
  * chains — every query ends bounded and totally ordered.
  */
object Wave11 extends Catalog {

  /** Integer-cents quantization of the events `value` double. */
  private val CentsSpark =
    "CAST(floor(CAST(value AS DOUBLE)*100 + 0.5) AS BIGINT)"
  private def centsSql = "CAST(floor(CAST(value AS DOUBLE)*100 + 0.5) AS BIGINT)"

  /** q_tost: equivalence margin (cents) and the one-sided z critical
    * value at α = 0.05 — fixed literals, identical in both engines. */
  private val TostDelta = "25.0"
  private val TostZa = "1.645"

  /** q_jackknife: delete-one bucket count (fixed grid — the jackknife
    * loop is metadata at any scale). */
  private val JkBuckets = 20

  val queries: Map[String, Q] = strictMap(

    // TOST equivalence gate on purchase value between the two id-parity
    // variants: H0 "they differ by ≥ δ" rejected iff BOTH one-sided z
    // tests clear the α = 0.05 critical value — the launch-decision dual
    // of q_ttest ("is the new variant the same within δ?"). ONE
    // partial-agg'd power-sum shuffle (n, Σx, Σx² per arm, all exact
    // BIGINTs); means/variances/z are one identically-spelled float
    // chain over the 2-row grid. Welch (unpooled) standard error.
    "q_tost" -> ((s, dir) => {
      val g = table(s, dir, "events")
        .where(col("event_type") === "purchase")
        .selectExpr("user_id % 2 AS variant", s"$CentsSpark AS x")
        .groupBy("variant")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(expr("x * x")).as("sxx"))
      g.agg(
          max(when(col("variant") === 0, struct(col("n"), col("sx"),
            col("sxx")))).as("a"),
          max(when(col("variant") === 1, struct(col("n"), col("sx"),
            col("sxx")))).as("b"))
        .selectExpr("a.n AS n0", "b.n AS n1",
          "CAST(a.sx AS DOUBLE) / a.n AS m0",
          "CAST(b.sx AS DOUBLE) / b.n AS m1",
          // unbiased per-arm variance from the exact power sums
          "(CAST(a.sxx AS DOUBLE) - CAST(a.sx AS DOUBLE) * a.sx / a.n)" +
            " / (a.n - 1) AS v0",
          "(CAST(b.sxx AS DOUBLE) - CAST(b.sx AS DOUBLE) * b.sx / b.n)" +
            " / (b.n - 1) AS v1")
        .selectExpr("n0", "n1", "round(m0, 4) AS m0", "round(m1, 4) AS m1",
          "m1 - m0 AS diff", "sqrt(v0 / n0 + v1 / n1) AS se")
        .selectExpr("n0", "n1", "m0", "m1",
          s"round((diff + $TostDelta) / se, 6) AS z_low",
          s"round((diff - $TostDelta) / se, 6) AS z_high")
        .selectExpr("n0", "n1", "m0", "m1", "z_low", "z_high",
          s"CASE WHEN z_low >= $TostZa AND z_high <= -$TostZa" +
            " THEN 'equivalent' ELSE 'not_equivalent' END AS verdict")
    }),

    // KL DOMAIN DRIFT: per source, KL(P_source(lang) ‖ P_corpus(lang))
    // with add-1 smoothing over the |langs| global alphabet — the
    // "did this crawl slice drift from the corpus mix?" monitor. ONE
    // (source, lang) contingency shuffle; the |sources|×|langs| grid and
    // both smoothed distributions are metadata. Every term is round-8 ln
    // of exact integer rationals, decimal-summed, so KL ≥ 0 holds
    // exactly and the ordering is engine-invariant.
    "q_kl_drift" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val cell = d.groupBy("source", "lang").agg(count(lit(1)).as("c"))
      val langs = d.select("lang").distinct()
      val nl = langs.count()
      val corpus = d.groupBy("lang").agg(count(lit(1)).as("cl"))
      val ns = d.groupBy("source").agg(count(lit(1)).as("nsrc"))
      val n = d.count()
      // full source×lang grid (absent cells smooth to count 0)
      val grid = ns.crossJoin(broadcast(langs))
        .join(cell, Seq("source", "lang"), "left_outer")
        .selectExpr("source", "lang", "nsrc",
          "coalesce(c, CAST(0 AS BIGINT)) AS c")
      grid.join(broadcast(corpus), Seq("lang"))
        .withColumn("t", expr(
          s"round((CAST(c AS DOUBLE) + 1.0) / (nsrc + $nl)" +
            s" * ln(((CAST(c AS DOUBLE) + 1.0) / (nsrc + $nl))" +
            s" / ((CAST(cl AS DOUBLE) + 1.0) / (${n}.0 + $nl))), 8)"))
        .groupBy("source")
        .agg(max(col("nsrc")).as("n_docs"), dsum(col("t"), 8).as("kl"))
        .selectExpr("source", "n_docs", "round(kl, 6) AS kl")
        .orderBy(desc("kl"), asc("source"))
    }),

    // JACKKNIFE standard error of a ratio metric (purchase-to-click
    // cents): users hash into JkBuckets fixed buckets (md5 PRF — stable
    // under repartitioning); per-bucket numerator/denominator sums are
    // exact BIGINTs off ONE shuffle; the delete-one loop is the
    // B-row metadata grid — r_(i) = (S_p − p_i)/(S_c − c_i), var =
    // (B−1)/B · Σ(r_(i) − r̄)². THE standard error for ratio metrics
    // (the i.i.d. formula ignores the shared denominator); round-12
    // pseudo-deviations, decimal-summed.
    "q_jackknife" -> ((s, dir) => {
      val b = table(s, dir, "events")
        .selectExpr("user_id", "event_type", s"$CentsSpark AS cents")
        .where(col("event_type").isin("click", "purchase"))
        .selectExpr(
          s"CAST(conv(substring(md5(concat('jk:', CAST(user_id AS STRING))), 1, 8)," +
            s" 16, 10) AS BIGINT) % $JkBuckets AS bkt",
          "CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END AS p",
          "CASE WHEN event_type = 'click' THEN cents ELSE 0 END AS c")
        .groupBy("bkt")
        .agg(sum(col("p")).as("pi"), sum(col("c")).as("ci"))
      val tot = b.agg(sum(col("pi")).as("sp"), sum(col("ci")).as("sc"),
        count(lit(1)).as("nb"))
      val loo = b.crossJoin(broadcast(tot))
        .selectExpr("bkt", "nb", "sp", "sc",
          "CAST(sp - pi AS DOUBLE) / CAST(sc - ci AS DOUBLE) AS r")
      val rbar = loo.agg(dsum(expr("round(r, 12)"), 12).as("sr"),
        max(col("nb")).as("nb"))
        .selectExpr("CAST(sr AS DOUBLE) / nb AS rbar")
      loo.crossJoin(broadcast(rbar))
        .withColumn("d2", expr("round((r - rbar) * (r - rbar), 12)"))
        .agg(max(col("nb")).as("b"), max(expr(
          "round(CAST(sp AS DOUBLE) / CAST(sc AS DOUBLE), 6)")).as("ratio"),
          dsum(col("d2"), 12).as("sd2"))
        .selectExpr("b", "ratio",
          "round(sqrt((CAST(b AS DOUBLE) - 1.0) / CAST(b AS DOUBLE)" +
            " * sd2), 6) AS se_jk")
    }),
  )

  val oracle: Map[String, String] = strictMap(

    "q_tost" ->
      s"""WITH g AS (
         |  SELECT user_id % 2 AS variant, count(*) AS n,
         |    CAST(sum($centsSql) AS BIGINT) AS sx,
         |    CAST(sum($centsSql * $centsSql) AS BIGINT) AS sxx
         |  FROM events WHERE event_type = 'purchase' GROUP BY 1
         |),
         |w AS (
         |  SELECT
         |    max(CASE WHEN variant = 0 THEN n END) AS n0,
         |    max(CASE WHEN variant = 1 THEN n END) AS n1,
         |    max(CASE WHEN variant = 0 THEN CAST(sx AS DOUBLE) / n END) AS m0,
         |    max(CASE WHEN variant = 1 THEN CAST(sx AS DOUBLE) / n END) AS m1,
         |    max(CASE WHEN variant = 0 THEN
         |      (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / (n - 1)
         |      END) AS v0,
         |    max(CASE WHEN variant = 1 THEN
         |      (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / (n - 1)
         |      END) AS v1
         |  FROM g
         |),
         |z AS (
         |  SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
         |    round(m0, 4) AS m0, round(m1, 4) AS m1,
         |    round((m1 - m0 + $TostDelta) / sqrt(v0 / n0 + v1 / n1), 6) AS z_low,
         |    round((m1 - m0 - $TostDelta) / sqrt(v0 / n0 + v1 / n1), 6) AS z_high
         |  FROM w
         |)
         |SELECT n0, n1, m0, m1, z_low, z_high,
         |  CASE WHEN z_low >= $TostZa AND z_high <= -$TostZa
         |  THEN 'equivalent' ELSE 'not_equivalent' END AS verdict
         |FROM z""".stripMargin,

    "q_kl_drift" ->
      s"""WITH cell AS (
         |  SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2
         |),
         |langs AS (SELECT DISTINCT lang FROM documents),
         |nl AS (SELECT count(*) AS nl FROM langs),
         |corpus AS (SELECT lang, count(*) AS cl FROM documents GROUP BY lang),
         |ns AS (SELECT source, count(*) AS nsrc FROM documents GROUP BY source),
         |n AS (SELECT count(*) AS n FROM documents),
         |grid AS (
         |  SELECT ns.source, langs.lang, ns.nsrc,
         |    CAST(coalesce(cell.c, 0) AS BIGINT) AS c
         |  FROM ns CROSS JOIN langs
         |  LEFT JOIN cell ON cell.source = ns.source AND cell.lang = langs.lang
         |),
         |t AS (
         |  SELECT g.source, g.nsrc,
         |    round((CAST(g.c AS DOUBLE) + 1.0) / (g.nsrc + nl.nl)
         |      * ln(((CAST(g.c AS DOUBLE) + 1.0) / (g.nsrc + nl.nl))
         |      / ((CAST(co.cl AS DOUBLE) + 1.0) / (CAST(n.n AS DOUBLE) + nl.nl))),
         |      8) AS t
         |  FROM grid g
         |  JOIN corpus co ON co.lang = g.lang
         |  CROSS JOIN nl CROSS JOIN n
         |)
         |SELECT source, CAST(max(nsrc) AS BIGINT) AS n_docs,
         |  round(${dsumSql("t", 8)}, 6) AS kl
         |FROM t GROUP BY source
         |ORDER BY kl DESC, source""".stripMargin,

    "q_jackknife" ->
      s"""WITH b AS (
         |  SELECT ${hex2longSql("md5('jk:' || CAST(user_id AS VARCHAR))", 1)}
         |      % $JkBuckets AS bkt,
         |    CAST(sum(CASE WHEN event_type = 'purchase' THEN $centsSql
         |             ELSE 0 END) AS BIGINT) AS pi,
         |    CAST(sum(CASE WHEN event_type = 'click' THEN $centsSql
         |             ELSE 0 END) AS BIGINT) AS ci
         |  FROM events WHERE event_type IN ('click', 'purchase')
         |  GROUP BY 1
         |),
         |tot AS (
         |  SELECT CAST(sum(pi) AS BIGINT) AS sp, CAST(sum(ci) AS BIGINT) AS sc,
         |    count(*) AS nb
         |  FROM b
         |),
         |loo AS (
         |  SELECT bkt, nb, sp, sc,
         |    CAST(sp - pi AS DOUBLE) / CAST(sc - ci AS DOUBLE) AS r
         |  FROM b CROSS JOIN tot
         |),
         |rb AS (
         |  SELECT ${dsumSql("round(r, 12)", 12)} / max(nb) AS rbar FROM loo
         |),
         |d AS (
         |  SELECT loo.nb, loo.sp, loo.sc,
         |    round((loo.r - rb.rbar) * (loo.r - rb.rbar), 12) AS d2
         |  FROM loo CROSS JOIN rb
         |)
         |SELECT CAST(max(nb) AS BIGINT) AS b,
         |  max(round(CAST(sp AS DOUBLE) / CAST(sc AS DOUBLE), 6)) AS ratio,
         |  round(sqrt((CAST(max(nb) AS DOUBLE) - 1.0) / CAST(max(nb) AS DOUBLE)
         |    * ${dsumSql("d2", 12)}), 6) AS se_jk
         |FROM d""".stripMargin,
  )
}

/** Wave-19 additions: supervised evaluation and network structure —
  *
  *  - q_langid_accuracy: confusion matrix + accuracy of the stopword
  *    lang-id heuristic (q_lang_id's chain) against the corpus `lang`
  *    labels — the supervised closing-of-the-loop on the classifier
  *    the filter funnel trusts; the out-of-scope class (zh, which the
  *    4-way argmax can never emit) shows up honestly as off-diagonal
  *    mass instead of being silently dropped,
  *  - q_assortativity: degree assortativity (Newman's r) of the
  *    supplier↔part bipartite incidence graph — do hubs attach to
  *    hubs (r > 0, social-style) or to leaves (r < 0, hub-and-spoke)?
  *    The one scalar that says which scale-out strategies (hub
  *    salting, degree-capped wedges) the graph family will need,
  *  - q_mde_power: minimum detectable effect for the user-conversion
  *    A/B test at α = 0.05 / power = 0.80 from exact per-arm counts —
  *    the pre-readout number that separates "no effect" from
  *    "underpowered"; the observed lift is flagged against it.
  *
  * Determinism: confusion cells and arm counts are pure integers;
  * assortativity's normalizer rides exact 128-bit integer products
  * (DECIMAL(38,0) / HUGEINT) with one terminal IEEE division; the MDE
  * chain is sqrt/÷/× of exact counts — all correctly-rounded IEEE ops
  * spelled identically in both engines (no libm-divergent ln/exp). */
object Wave19 extends Catalog {

  /** z_{0.975} + z_{0.80} pre-summed as one literal (2.80158521) so
    * neither engine's decimal-promotion rules touch the sum. */
  private val ZSum = "CAST(2.80158521 AS DOUBLE)"

  private val P0 = "(CAST(x0 AS DOUBLE) / n0)"
  private val P1 = "(CAST(x1 AS DOUBLE) / n1)"
  private val PPool = "(CAST(x0 + x1 AS DOUBLE) / (n0 + n1))"
  private val MdeAbs =
    s"($ZSum * sqrt($PPool * (CAST(1 AS DOUBLE) - $PPool)" +
      s" * (CAST(1 AS DOUBLE)/n0 + CAST(1 AS DOUBLE)/n1)))"

  /** Newman's r over moment columns (m, sx, sxx, sxy); `big` is the
    * engine's exact-128-bit type (DECIMAL(38,0) / HUGEINT) — m·sxy can
    * pass int64 at ~2·10⁵ directed edges × 10¹⁴ degree products. The
    * all-degrees-equal graph has a zero normalizer → NULL by contract. */
  private def assortExpr(big: String): String =
    s"""CASE WHEN CAST(m AS $big) * sxx - CAST(sx AS $big) * sx = 0
       |     THEN CAST(NULL AS DOUBLE)
       |     ELSE round(
       |       CAST(CAST(m AS $big) * sxy - CAST(sx AS $big) * sx AS DOUBLE)
       |       / CAST(CAST(m AS $big) * sxx - CAST(sx AS $big) * sx AS DOUBLE), 6)
       |END""".stripMargin

  val queries: Map[String, Q] = strictMap(

    // LANG-ID ACCURACY: q_lang_id's stopword-score argmax joined back
    // to the `lang` label → (truth, pred) confusion cells, per-truth
    // row shares (the diagonal share IS per-lang recall), and overall
    // accuracy constants. One tokenize shuffle + one metadata-scale
    // cell table; docs with zero tokens never reach the classifier
    // (inner join — mirrored in the oracle).
    "q_langid_accuracy" -> ((s, dir) => {
      val scoreAggs = LlmOps.Stops.map { case (lang, words) =>
        sum(expr(s"CASE WHEN word IN ${LlmOps.inList(words)} THEN 1 ELSE 0 END"))
          .cast("long").as(s"s_$lang")
      }
      val pred = corpusToks(s, dir).groupBy("doc_id")
        .agg(scoreAggs.head, scoreAggs.tail: _*)
        .withColumn("pred", expr(LlmOps.PredCase))
        .select("doc_id", "pred")
      val cells = table(s, dir, "documents").select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
        .ckpt() // feeds lang totals + overall accuracy + output rows
      val lt = cells.groupBy("lang").agg(sum("n").as("lang_total"))
      val acc = cells.agg(sum("n").as("n_docs"),
        sum(when(col("lang") === col("pred"), col("n")).otherwise(0L))
          .as("n_correct"))
      cells.join(lt, "lang").crossJoin(broadcast(acc))
        .selectExpr("lang", "pred", "CAST(n AS BIGINT) AS n",
          "CAST(lang_total AS BIGINT) AS lang_total",
          "round(CAST(n AS DOUBLE) / lang_total, 4) AS share",
          "CAST(n_docs AS BIGINT) AS n_docs",
          "CAST(n_correct AS BIGINT) AS n_correct",
          "round(CAST(n_correct AS DOUBLE) / n_docs, 4) AS accuracy")
        .orderBy("lang", "pred")
    }),

    // DEGREE ASSORTATIVITY (Newman's r) over the supplier↔part
    // bipartite incidence graph — the projection with genuine degree
    // variance at every scale factor (the w ≥ 5 co-purchase projection
    // is COMPLETE at harness scale: all degrees equal → r undefined).
    // Each undirected edge contributes both orientations (the standard
    // symmetric form), so the per-edge join of the two degree tables
    // yields all four moments in one pass: m = 2|E|, Σx = Σ(ds+dp),
    // Σx² = Σ(ds²+dp²), Σxy = 2·Σ ds·dp. Moments are plain BIGINT sums
    // (≤ ~10¹⁴ here; DECIMAL upgrade past ~10⁹ edges noted in
    // assortExpr); only the final m·Σ products go 128-bit. Bipartite
    // hub-leaf structure ⇒ r < 0 (the spec pins the sign).
    "q_assortativity" -> ((s, dir) => {
      val e = table(s, dir, "lineitem")
        .select(col("l_suppkey").as("sk"), col("l_partkey").as("pk"))
        .distinct()
        .ckpt() // feeds two degree aggs + the moment join
      val ds = e.groupBy("sk").agg(count(lit(1)).as("dsv"))
      val dp = e.groupBy("pk").agg(count(lit(1)).as("dpv"))
      val mom = e.join(ds, "sk").join(dp, "pk")
        .agg(count(lit(1)).as("ne"),
          sum(expr("dsv + dpv")).as("sx"),
          sum(expr("dsv * dsv + dpv * dpv")).as("sxx"),
          sum(expr("dsv * dpv")).as("sxy2"))
        .selectExpr("ne", "2 * ne AS m", "sx", "sxx", "2 * sxy2 AS sxy")
      ds.agg(count(lit(1)).as("n_supp"))
        .crossJoin(dp.agg(count(lit(1)).as("n_part")))
        .crossJoin(mom)
        .selectExpr("CAST(n_supp + n_part AS BIGINT) AS n_vertices",
          "CAST(ne AS BIGINT) AS n_edges",
          "CAST(m AS BIGINT) AS m_endpoints",
          s"${assortExpr("DECIMAL(38,0)")} AS assortativity")
    }),

    // MDE / POWER: exact per-arm event counts (arm = user_id % 2 — the
    // q_srm_check assignment) and purchase events → pooled rate →
    // minimum detectable absolute/relative effect at the standard
    // α = 0.05 two-sided / 80% power, plus the observed lift flagged
    // against it. Event-grain conversion (the q_smoothed_rate metric —
    // user-grain "ever purchased" saturates to p = 1 on this corpus and
    // degenerates the MDE to 0). One partial-agg'd pass over events;
    // everything after is a 1-row chain of correctly-rounded IEEE ops.
    "q_mde_power" -> ((s, dir) =>
      table(s, dir, "events")
        .select(col("user_id"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
        .agg(sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("user_id") % 2 === 0, col("y")).otherwise(0L))
            .as("x0"),
          sum(when(col("user_id") % 2 === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("user_id") % 2 === 1, col("y")).otherwise(0L))
            .as("x1"))
        .selectExpr("CAST(n0 AS BIGINT) AS n0", "CAST(x0 AS BIGINT) AS x0",
          "CAST(n1 AS BIGINT) AS n1", "CAST(x1 AS BIGINT) AS x1",
          s"round($P0, 6) AS p0", s"round($P1, 6) AS p1",
          s"round($PPool, 6) AS p_pool",
          s"round($MdeAbs, 6) AS mde_abs",
          s"round($MdeAbs / $P0, 6) AS mde_rel",
          s"round($P1 - $P0, 6) AS lift",
          s"CAST(CASE WHEN abs($P1 - $P0) >= $MdeAbs THEN 1 ELSE 0 END" +
            " AS BIGINT) AS powered")),
  )

  val oracle: Map[String, String] = strictMap(

    "q_langid_accuracy" -> {
      val scores = LlmOps.Stops.map { case (lang, words) =>
        s"CAST(sum(CASE WHEN word IN ${LlmOps.inList(words)} THEN 1 ELSE 0 END) AS BIGINT) AS s_$lang"
      }.mkString(",\n    ")
      s"""WITH ${Reference.ToksSql},
         |sc AS (
         |  SELECT doc_id,
         |    $scores
         |  FROM toks GROUP BY doc_id
         |),
         |pr AS (SELECT doc_id, ${LlmOps.PredCase} AS pred FROM sc),
         |cells AS (
         |  SELECT d.lang, pr.pred, count(*) AS n
         |  FROM documents d JOIN pr USING (doc_id)
         |  GROUP BY 1, 2
         |),
         |lt AS (SELECT lang, CAST(sum(n) AS BIGINT) AS lang_total
         |       FROM cells GROUP BY lang),
         |acc AS (SELECT CAST(sum(n) AS BIGINT) AS n_docs,
         |          CAST(sum(CASE WHEN lang = pred THEN n ELSE 0 END)
         |            AS BIGINT) AS n_correct
         |        FROM cells)
         |SELECT cells.lang, pred, CAST(n AS BIGINT) AS n, lang_total,
         |  round(CAST(n AS DOUBLE) / lang_total, 4) AS share,
         |  n_docs, n_correct,
         |  round(CAST(n_correct AS DOUBLE) / n_docs, 4) AS accuracy
         |FROM cells JOIN lt USING (lang) CROSS JOIN acc
         |ORDER BY lang, pred""".stripMargin
    },

    "q_assortativity" ->
      s"""WITH e AS (
         |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk FROM lineitem
         |),
         |ds AS (SELECT sk, count(*) AS dsv FROM e GROUP BY sk),
         |dp AS (SELECT pk, count(*) AS dpv FROM e GROUP BY pk),
         |mom AS (
         |  SELECT count(*) AS ne,
         |    CAST(sum(dsv + dpv) AS BIGINT) AS sx,
         |    CAST(sum(dsv * dsv + dpv * dpv) AS BIGINT) AS sxx,
         |    CAST(sum(dsv * dpv) AS BIGINT) AS sxy2
         |  FROM e JOIN ds USING (sk) JOIN dp USING (pk)
         |),
         |mm AS (SELECT ne, 2 * ne AS m, sx, sxx, 2 * sxy2 AS sxy FROM mom)
         |SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM ds) +
         |    (SELECT CAST(count(*) AS BIGINT) FROM dp) AS n_vertices,
         |  CAST(ne AS BIGINT) AS n_edges,
         |  CAST(m AS BIGINT) AS m_endpoints,
         |  ${assortExpr("HUGEINT")} AS assortativity
         |FROM mm""".stripMargin,

    "q_mde_power" ->
      s"""WITH u AS (
         |  SELECT user_id,
         |    CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
         |      AS BIGINT) AS y
         |  FROM events
         |),
         |w AS (
         |  SELECT
         |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n0,
         |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN y ELSE 0 END)
         |      AS BIGINT) AS x0,
         |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n1,
         |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN y ELSE 0 END)
         |      AS BIGINT) AS x1
         |  FROM u
         |)
         |SELECT n0, x0, n1, x1,
         |  round($P0, 6) AS p0, round($P1, 6) AS p1,
         |  round($PPool, 6) AS p_pool,
         |  round($MdeAbs, 6) AS mde_abs,
         |  round($MdeAbs / $P0, 6) AS mde_rel,
         |  round($P1 - $P0, 6) AS lift,
         |  CAST(CASE WHEN abs($P1 - $P0) >= $MdeAbs THEN 1 ELSE 0 END
         |    AS BIGINT) AS powered
         |FROM w""".stripMargin,
  )
}

/** Wave-21 additions: corpus-composition and score-monitoring audits —
  *
  *  - q_source_ngram_overlap: pairwise word-trigram-set Jaccard between
  *    sources — the redundancy matrix a mixture designer reads before
  *    weighting sources (exact-dup composition is useless here: the
  *    harness corpus has near-zero exact cross-source dups, so overlap
  *    must ride shared n-grams),
  *  - q_gains_lift: cumulative gains/lift table by score decile — the
  *    "top 20% of scores capture X% of purchases" targeting curve
  *    (ranking-quality complement to q_auc's order statistic),
  *  - q_psi: Population Stability Index of the score distribution
  *    between the first and second halves of the event window, on
  *    decile bins FROZEN from period 1 — THE production score-drift
  *    monitor (PSI < 0.1 stable, > 0.25 retrain).
  *
  * Determinism: trigram sets and bin/decile assignment are pure
  * integers (quantized scores, rank selection); PSI's ln argument is an
  * exact integer rational under Laplace smoothing, so the round-8 ln
  * discipline applies; gains/lift are terminal divisions of exact
  * counts. */
object Wave21 extends Catalog {

  val queries: Map[String, Q] = strictMap(

    // SOURCE OVERLAP MATRIX: distinct (source, trigram) rows — ONE
    // tokenize pass — self-joined on the trigram (each trigram
    // contributes at most C(|sources|,2) pairs, and |sources| is a
    // catalog-scale dimension, so the join is corpus-linear; a df-cap
    // rider is the upgrade if sources ever become user-scale). Jaccard
    // from exact set sizes; ordered by the pair.
    "q_source_ngram_overlap" -> ((s, dir) => {
      val tri = table(s, dir, "documents")
        .select(col("source"), Tokenize.tokenArray(col("text")).as("ws"))
        .where(size(col("ws")) >= 3)
        .select(col("source"), explode(expr(
          "transform(sequence(1, size(ws)-2), i -> concat_ws(' '," +
            " element_at(ws,i), element_at(ws,i+1), element_at(ws,i+2)))"))
          .as("sh"))
        .distinct()
        .ckpt() // feeds per-source sizes + both self-join sides
      val sz = tri.groupBy("source").agg(count(lit(1)).as("sz"))
      tri.alias("x")
        .join(tri.alias("y"),
          col("x.sh") === col("y.sh") && col("x.source") < col("y.source"))
        .groupBy(col("x.source").as("sa"), col("y.source").as("sb"))
        .agg(count(lit(1)).as("co"))
        .join(sz.select(col("source").as("sa"), col("sz").as("sza")), "sa")
        .join(sz.select(col("source").as("sb"), col("sz").as("szb")), "sb")
        .selectExpr("sa", "sb", "CAST(co AS BIGINT) AS co",
          "CAST(sza AS BIGINT) AS sza", "CAST(szb AS BIGINT) AS szb",
          "round(CAST(co AS DOUBLE) / (sza + szb - co), 6) AS jac")
        .orderBy("sa", "sb")
    }),

    // GAINS / LIFT: events ranked by quantized score DESC on the
    // distributed Ranks pass (no whole-table window), cut into 10
    // global deciles by pure-integer rank arithmetic, then the 10-row
    // cumulative capture/lift chain is metadata. Decile 1 = top
    // scores; lift(d) = precision-in-top-d ÷ base rate.
    "q_gains_lift" -> ((s, dir) => {
      val e = table(s, dir, "events")
        .selectExpr("CAST(floor(value*100 + 0.5) AS BIGINT) AS v",
          "event_id",
          "CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END" +
            " AS BIGINT) AS y")
        .withColumn("nv", -col("v")).withColumn("k", lit(1))
      val tot = e.agg(count(lit(1)).as("n"), sum("y").as("tot_pos"))
      val bins = graft.operators.Ranks.withinKey(e, "k", Seq("nv", "event_id"))
        .crossJoin(broadcast(tot))
        .selectExpr("((rk - 1) * 10) DIV n + 1 AS decile", "y")
        .groupBy("decile")
        .agg(count(lit(1)).as("n_events"), sum("y").as("n_pos"))
      val w = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      bins
        .withColumn("cum_n", sum("n_events").over(w))
        .withColumn("cum_pos", sum("n_pos").over(w))
        .crossJoin(broadcast(tot))
        .selectExpr("CAST(decile AS BIGINT) AS decile",
          "CAST(n_events AS BIGINT) AS n_events",
          "CAST(n_pos AS BIGINT) AS n_pos",
          "CAST(cum_pos AS BIGINT) AS cum_pos",
          "round(CAST(cum_pos AS DOUBLE) / tot_pos, 6) AS capture",
          "round(CAST(cum_pos AS DOUBLE) * n" +
            " / (CAST(cum_n AS DOUBLE) * tot_pos), 6) AS lift")
        .orderBy("decile")
    }),

    // PSI: decile boundaries FROZEN from period 1 (first ceil(D/2)
    // days), both periods binned against them (a 1-row broadcast of
    // b1..b9 — the q_percentile_disc pick pattern), Laplace-smoothed
    // shares so empty bins stay finite, and the ln argument is the
    // EXACT integer rational (n1+1)(N2+10) / ((n2+1)(N1+10)) — the
    // round-8 ln discipline applies verbatim. Σ terms ride a decimal
    // sum; the 10-bin grid is metadata.
    "q_psi" -> ((s, dir) => {
      val ev = table(s, dir, "events")
        .selectExpr("CAST(floor(value*100 + 0.5) AS BIGINT) AS v",
          "event_id", "unix_micros(ts) DIV 86400000000 AS day")
      val span = ev.agg(min("day").as("d0"), max("day").as("dmax"))
      val per = ev.crossJoin(broadcast(span))
        .selectExpr("v", "event_id",
          "CAST(CASE WHEN day - d0 < (dmax - d0 + 2) DIV 2" +
            " THEN 1 ELSE 2 END AS BIGINT) AS period")
        .ckpt() // feeds the boundary rank pass + both period binnings
      val p1 = per.where(col("period") === 1).withColumn("k", lit(1))
      val n1t = p1.agg(count(lit(1)).as("np1"))
      val bounds = graft.operators.Ranks.withinKey(p1, "k", Seq("v", "event_id"))
        .crossJoin(broadcast(n1t))
        .where(expr("rk IN ((1*np1 + 9) DIV 10, (2*np1 + 9) DIV 10," +
          " (3*np1 + 9) DIV 10, (4*np1 + 9) DIV 10, (5*np1 + 9) DIV 10," +
          " (6*np1 + 9) DIV 10, (7*np1 + 9) DIV 10, (8*np1 + 9) DIV 10," +
          " (9*np1 + 9) DIV 10)"))
        .agg(min(when(expr("rk = (1*np1 + 9) DIV 10"), col("v"))).as("b1"),
          (2 to 9).map(i =>
            min(when(expr(s"rk = ($i*np1 + 9) DIV 10"), col("v")))
              .as(s"b$i")): _*)
      val binExpr = "CAST(1 + " + (1 to 9)
        .map(i => s"(CASE WHEN v > b$i THEN 1 ELSE 0 END)")
        .mkString(" + ") + " AS BIGINT)"
      val counts = per.crossJoin(broadcast(bounds))
        .selectExpr("period", s"$binExpr AS bin")
        .groupBy("period", "bin").agg(count(lit(1)).as("n"))
      val grid = s.range(1, 11).select(col("id").as("bin"))
      val wide = grid
        .join(counts.where(col("period") === 1).select(col("bin"),
          col("n").as("n1")), Seq("bin"), "left_outer")
        .join(counts.where(col("period") === 2).select(col("bin"),
          col("n").as("n2")), Seq("bin"), "left_outer")
        .na.fill(0L, Seq("n1", "n2"))
        .crossJoin(broadcast(counts.agg(
          sum(when(col("period") === 1, col("n")).otherwise(0L)).as("t1"),
          sum(when(col("period") === 2, col("n")).otherwise(0L)).as("t2"))))
        .withColumn("p", expr("CAST(n1 + 1 AS DOUBLE) / (t1 + 10)"))
        .withColumn("q", expr("CAST(n2 + 1 AS DOUBLE) / (t2 + 10)"))
        .withColumn("term", expr(
          "round((p - q) * round(ln(CAST((n1 + 1) * (t2 + 10) AS DOUBLE)" +
            " / CAST((n2 + 1) * (t1 + 10) AS DOUBLE)), 8), 8)"))
        .ckpt() // feeds the PSI total + the per-bin rows
      val psi = wide.agg(dsum(col("term"), 8).as("s"))
        .selectExpr("round(s, 6) AS psi")
      wide.crossJoin(broadcast(psi))
        .selectExpr("CAST(bin AS BIGINT) AS bin",
          "CAST(n1 AS BIGINT) AS n1", "CAST(n2 AS BIGINT) AS n2",
          "round(p, 6) AS p", "round(q, 6) AS q", "psi")
        .orderBy("bin")
    }),
  )

  val oracle: Map[String, String] = strictMap(

    "q_source_ngram_overlap" ->
      s"""WITH t AS (
         |  SELECT source,
         |    regexp_split_to_array(trim(regexp_replace(text, '$DelimSql', ' ', 'g')), ' ') AS ws
         |  FROM documents
         |),
         |tri AS (
         |  SELECT DISTINCT source,
         |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         |  FROM (SELECT source, ws,
         |               unnest(generate_series(1, len(ws)-2)) AS i
         |        FROM t WHERE len(ws) >= 3)
         |),
         |sz AS (SELECT source, count(*) AS sz FROM tri GROUP BY source),
         |co AS (
         |  SELECT x.source AS sa, y.source AS sb, count(*) AS co
         |  FROM tri x JOIN tri y ON x.sh = y.sh AND x.source < y.source
         |  GROUP BY 1, 2
         |)
         |SELECT sa, sb, CAST(co AS BIGINT) AS co,
         |  CAST(a.sz AS BIGINT) AS sza, CAST(b.sz AS BIGINT) AS szb,
         |  round(CAST(co AS DOUBLE) / (a.sz + b.sz - co), 6) AS jac
         |FROM co JOIN sz a ON a.source = co.sa JOIN sz b ON b.source = co.sb
         |ORDER BY sa, sb""".stripMargin,

    "q_gains_lift" ->
      """WITH e AS (
        |  SELECT CAST(floor(value*100 + 0.5) AS BIGINT) AS v, event_id,
        |    CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
        |      AS BIGINT) AS y
        |  FROM events
        |),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |          CAST(sum(y) AS BIGINT) AS tot_pos FROM e),
        |r AS (
        |  SELECT y, CAST(row_number() OVER (ORDER BY v DESC, event_id)
        |    AS BIGINT) AS rk
        |  FROM e
        |),
        |bins AS (
        |  SELECT ((rk - 1) * 10) // n + 1 AS decile,
        |    count(*) AS n_events, CAST(sum(y) AS BIGINT) AS n_pos
        |  FROM r CROSS JOIN tot GROUP BY 1
        |),
        |c AS (
        |  SELECT decile, n_events, n_pos,
        |    CAST(sum(n_events) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_n,
        |    CAST(sum(n_pos) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_pos
        |  FROM bins
        |)
        |SELECT CAST(decile AS BIGINT) AS decile,
        |  CAST(n_events AS BIGINT) AS n_events, n_pos, cum_pos,
        |  round(CAST(cum_pos AS DOUBLE) / tot_pos, 6) AS capture,
        |  round(CAST(cum_pos AS DOUBLE) * n
        |    / (CAST(cum_n AS DOUBLE) * tot_pos), 6) AS lift
        |FROM c CROSS JOIN tot ORDER BY decile""".stripMargin,

    "q_psi" -> {
      val picks = (1 to 9).map(i =>
        s"CAST(min(CASE WHEN rk = ($i*np1 + 9) // 10 THEN v END)" +
          s" AS BIGINT) AS b$i").mkString(",\n    ")
      val binExpr = "CAST(1 + " + (1 to 9)
        .map(i => s"(CASE WHEN v > b$i THEN 1 ELSE 0 END)")
        .mkString(" + ") + " AS BIGINT)"
      s"""WITH ev AS (
         |  SELECT CAST(floor(value*100 + 0.5) AS BIGINT) AS v, event_id,
         |    epoch_us(ts) // 86400000000 AS day
         |  FROM events
         |),
         |span AS (SELECT min(day) AS d0, max(day) AS dmax FROM ev),
         |per AS (
         |  SELECT v, event_id,
         |    CAST(CASE WHEN day - d0 < (dmax - d0 + 2) // 2
         |      THEN 1 ELSE 2 END AS BIGINT) AS period
         |  FROM ev CROSS JOIN span
         |),
         |p1 AS (SELECT v, event_id FROM per WHERE period = 1),
         |n1t AS (SELECT CAST(count(*) AS BIGINT) AS np1 FROM p1),
         |r AS (
         |  SELECT v, CAST(row_number() OVER (ORDER BY v, event_id)
         |    AS BIGINT) AS rk
         |  FROM p1
         |),
         |bounds AS (
         |  SELECT
         |    $picks
         |  FROM r CROSS JOIN n1t
         |),
         |counts AS (
         |  SELECT period, $binExpr AS bin, count(*) AS n
         |  FROM per CROSS JOIN bounds GROUP BY 1, 2
         |),
         |grid AS (SELECT CAST(unnest(generate_series(1, 10)) AS BIGINT)
         |           AS bin),
         |tots AS (
         |  SELECT CAST(sum(CASE WHEN period = 1 THEN n ELSE 0 END)
         |           AS BIGINT) AS t1,
         |         CAST(sum(CASE WHEN period = 2 THEN n ELSE 0 END)
         |           AS BIGINT) AS t2
         |  FROM counts
         |),
         |wide AS (
         |  SELECT bin,
         |    CAST(coalesce(c1.n, 0) AS BIGINT) AS n1,
         |    CAST(coalesce(c2.n, 0) AS BIGINT) AS n2, t1, t2,
         |    CAST(coalesce(c1.n, 0) + 1 AS DOUBLE) / (t1 + 10) AS p,
         |    CAST(coalesce(c2.n, 0) + 1 AS DOUBLE) / (t2 + 10) AS q,
         |    round((CAST(coalesce(c1.n, 0) + 1 AS DOUBLE) / (t1 + 10)
         |       - CAST(coalesce(c2.n, 0) + 1 AS DOUBLE) / (t2 + 10))
         |      * round(ln(CAST((coalesce(c1.n, 0) + 1) * (t2 + 10) AS DOUBLE)
         |        / CAST((coalesce(c2.n, 0) + 1) * (t1 + 10) AS DOUBLE)), 8),
         |      8) AS term
         |  FROM grid
         |  LEFT JOIN (SELECT bin, n FROM counts WHERE period = 1) c1
         |    USING (bin)
         |  LEFT JOIN (SELECT bin, n FROM counts WHERE period = 2) c2
         |    USING (bin)
         |  CROSS JOIN tots
         |),
         |psi AS (SELECT round(${dsumSql("term", 8)}, 6) AS psi FROM wide)
         |SELECT bin, n1, n2, round(p, 6) AS p, round(q, 6) AS q, psi
         |FROM wide CROSS JOIN psi ORDER BY bin""".stripMargin
    },
  )
}

/** Wave-29 additions: re-identification risk, long-range dependence,
  * and embedding-space geometry —
  *
  *  - q_uniqueness_ladder: fraction of customers unique under 1/2/3
  *    quasi-identifiers in ONE grouping-sets pass — the Sweeney-style
  *    re-identification audit that motivates q_kanon's suppression
  *    (uniqueness climbing the ladder = linkage-attack surface),
  *  - q_hurst: rescaled-range (R/S) Hurst exponent of the daily event
  *    series at block sizes 8/16/32/64 — H ≈ 0.5 is memoryless, H > 0.5
  *    long-range dependent (capacity planning can NOT assume Poisson);
  *    the regression x-side is pre-folded literals,
  *  - q_embedding_norms: norm distribution (rank-selected percentiles),
  *    zero-vector count, and the center-mass ratio ‖mean vec‖ / mean
  *    norm — q_pca_top1's companion: a high ratio means the space is
  *    off-center and cosine needs mean-centering first.
  *
  * Determinism: uniqueness counts are integers; R and the variance
  * argument are EXACT integers (cumulative deviations scaled by the
  * block width), so R/S pays one sqrt + one division per block; norm
  * percentiles are exact integer norm² selections. */
object Wave29 extends Catalog {

  /** R/S block widths (days). */
  private val Widths = Seq(8L, 16L, 32L, 64L)

  /** Pre-folded ln w literals (8 dp) — the regression x-side. The slope
    * is fit over the widths that actually produced full blocks, so a
    * short series (no 64-day block) degrades to a 3-point fit instead
    * of silently mis-normalizing fixed coefficients. */
  private val LnW: Map[Long, String] =
    Widths.map(w => w -> f"${math.log(w.toDouble)}%.8f").toMap

  private def lnWCase(col: String): String =
    "CASE " + Widths.map(w =>
      s"WHEN $col = $w THEN CAST(${LnW(w)} AS DOUBLE)").mkString(" ") + " END"

  val queries: Map[String, Q] = strictMap(

    // UNIQUENESS LADDER: one GROUPING SETS aggregation (single shuffle,
    // partial-agg'd) over (segment) ⊂ (segment, nation) ⊂ (segment,
    // nation, balance-band); level read back from grouping() flags.
    // min_k is the k-anonymity the raw table provides at that level.
    "q_uniqueness_ladder" -> ((s, dir) => {
      table(s, dir, "customer")
        .selectExpr("c_mktsegment AS seg", "c_nationkey AS nat",
          "CAST(floor(c_acctbal / 100) AS BIGINT) AS bal")
        .createOrReplaceTempView("w29_cust")
      s.sql(
        """SELECT
          |  CASE WHEN grouping(nat) = 1 THEN 1
          |       WHEN grouping(bal) = 1 THEN 2 ELSE 3 END AS level,
          |  count(*) AS cnt
          |FROM w29_cust
          |GROUP BY GROUPING SETS ((seg), (seg, nat), (seg, nat, bal))
          |""".stripMargin)
        .groupBy("level")
        .agg(count(lit(1)).as("n_combos"),
          sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("n_unique"),
          min("cnt").as("min_k"), sum("cnt").as("n_rows"))
        .selectExpr("CAST(level AS BIGINT) AS level",
          "CAST(n_combos AS BIGINT) AS n_combos",
          "CAST(n_unique AS BIGINT) AS n_unique",
          "CAST(min_k AS BIGINT) AS min_k",
          "round(CAST(n_unique AS DOUBLE) / n_rows, 6) AS frac_unique")
        .orderBy("level")
    }),

    // HURST: daily counts once (ckpt'd), ×4 width expansion of the tiny
    // daily table, one window pass per (width, block) for the cumulative
    // deviation D_t = w·Σ_{i≤t}c_i − t·S (EXACT integer — the mean never
    // divides), R/S per full block = (maxD − minD)/√(w·Σc² − S²), then
    // H = Σ c_w·ln(mean R/S) with the x-side constants pre-folded.
    "q_hurst" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = table(s, dir, "events")
        .selectExpr("unix_micros(ts) DIV 86400000000 AS day")
        .groupBy("day").agg(count(lit(1)).as("c"))
        .ckpt() // 4 width slices read the same counts
      val widthsDf = s.createDataset(Widths)(
        org.apache.spark.sql.Encoders.scalaLong).toDF("w")
      val wb = daily.crossJoin(broadcast(widthsDf))
        .withColumn("blk", expr("day DIV w"))
      val win = Window.partitionBy("w", "blk").orderBy("day")
      val run = win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // D_t depends on t·S which needs S of the WHOLE block — two-pass:
      // aggregate S first, join back, then window the deviations.
      val stats = wb.groupBy("w", "blk")
        .agg(count(lit(1)).as("n"), sum("c").as("ss"),
          sum(expr("c * c")).as("s2"))
        .where(col("n") === col("w")) // full blocks only
      val dev = wb.join(stats, Seq("w", "blk"))
        .withColumn("t", row_number().over(win))
        .withColumn("cum", sum("c").over(run))
        .withColumn("d", expr("w * cum - t * ss"))
        .groupBy("w", "blk")
        .agg(first(col("ss")).as("ss"), first(col("s2")).as("s2"),
          max("d").as("dmx"), min("d").as("dmn"))
        // the variance argument w·Σc² − S² is ~N² in the block's event
        // count, so it wraps int64 once a block passes ~3·10⁹ events —
        // plausible for an 8–64-day block of a 100 TB events table. Both
        // products run 128-bit (Spark DECIMAL ↔ DuckDB HUGEINT, the
        // chi-square discipline) and only the exact difference is cast
        // to DOUBLE for the sqrt.
        .withColumn("rs", expr("round(CAST(greatest(dmx, CAST(0 AS BIGINT))" +
          " - least(dmn, CAST(0 AS BIGINT)) AS DOUBLE)" +
          " / sqrt(CAST(CAST(w AS DECIMAL(19,0)) * s2" +
          " - CAST(ss AS DECIMAL(19,0)) * ss AS DOUBLE)), 8)"))
        .where(expr("CAST(w AS DECIMAL(19,0)) * s2" +
          " - CAST(ss AS DECIMAL(19,0)) * ss > 0"))
      val per = dev.groupBy("w")
        .agg(count(lit(1)).as("n_blocks"), dsum(col("rs"), 8).as("srs"))
        .withColumn("mean_rs", expr("srs / n_blocks"))
        .withColumn("y", expr("round(ln(mean_rs), 8)"))
        .withColumn("x", expr(lnWCase("w")))
        .ckpt() // feeds the slope fit + the output rows
      val h = per.agg(count(lit(1)).as("np"),
        dsum(col("x"), 8).as("sx"), dsum(col("y"), 8).as("sy"),
        dsum(expr("round(x * y, 8)"), 8).as("sxy"),
        dsum(expr("round(x * x, 8)"), 8).as("sxx"))
      per.crossJoin(broadcast(h))
        .selectExpr("CAST(w AS BIGINT) AS w",
          "CAST(n_blocks AS BIGINT) AS n_blocks",
          "round(mean_rs, 6) AS mean_rs",
          "CASE WHEN np < 2 THEN CAST(NULL AS DOUBLE)" +
            " ELSE round((np * sxy - sx * sy)" +
            " / (np * sxx - sx * sx), 6) END AS hurst")
        .orderBy("w")
    }),

    // EMBEDDING NORMS: exact integer norm² per vector (the shared
    // quantization), nearest-rank percentiles by distributed rank
    // selection, and the center-mass ratio from per-dimension exact
    // sums — one explode shuffle + metadata.
    "q_embedding_norms" -> ((s, dir) => {
      val q = LlmOps.quantized(s, dir).select("vec_id", "nq").ckpt()
      val ranked = graft.operators.Ranks
        .withinKey(q.withColumn("k", lit(1)), "k", Seq("nq", "vec_id"))
      val n1 = ranked.agg(max("rk").as("n"))
      val picks = ranked.crossJoin(broadcast(n1))
        .where(expr("rk = greatest(CAST(1 AS BIGINT), (10 * n + 99) DIV 100)" +
          " OR rk = greatest(CAST(1 AS BIGINT), (50 * n + 99) DIV 100)" +
          " OR rk = greatest(CAST(1 AS BIGINT), (90 * n + 99) DIV 100)"))
        .agg(max(expr("CASE WHEN rk = greatest(CAST(1 AS BIGINT)," +
          " (10 * n + 99) DIV 100) THEN nq END")).as("q10"),
          max(expr("CASE WHEN rk = greatest(CAST(1 AS BIGINT)," +
            " (50 * n + 99) DIV 100) THEN nq END")).as("q50"),
          max(expr("CASE WHEN rk = greatest(CAST(1 AS BIGINT)," +
            " (90 * n + 99) DIV 100) THEN nq END")).as("q90"))
      val base = q.agg(count(lit(1)).as("n"),
        sum(when(col("nq") === 0, 1L).otherwise(0L)).as("n_zero"),
        dsum(expr("round(sqrt(CAST(nq AS DOUBLE)), 8)"), 8).as("snorm"))
      val dims = table(s, dir, "embeddings")
        .select(posexplode(expr(LlmOps.QuantSpark)))
        .groupBy("pos").agg(sum("col").as("sd"))
        .agg(sum(expr("sd * sd")).as("ssq"))
      base.crossJoin(broadcast(picks)).crossJoin(broadcast(dims))
        .selectExpr("CAST(n AS BIGINT) AS n_vecs",
          "CAST(n_zero AS BIGINT) AS n_zero",
          "round(sqrt(CAST(q10 AS DOUBLE)) / 1000, 6) AS p10_norm",
          "round(sqrt(CAST(q50 AS DOUBLE)) / 1000, 6) AS p50_norm",
          "round(sqrt(CAST(q90 AS DOUBLE)) / 1000, 6) AS p90_norm",
          "round(snorm / n / 1000, 6) AS mean_norm",
          "round(sqrt(CAST(ssq AS DOUBLE)) / n / (snorm / n), 6)" +
            " AS center_mass_ratio")
    }),
  )

  val oracle: Map[String, String] = strictMap(

    "q_uniqueness_ladder" ->
      """WITH c AS (
        |  SELECT c_mktsegment AS seg, c_nationkey AS nat,
        |    CAST(floor(c_acctbal / 100) AS BIGINT) AS bal
        |  FROM customer
        |),
        |g AS (
        |  SELECT CASE WHEN grouping(nat) = 1 THEN 1
        |              WHEN grouping(bal) = 1 THEN 2 ELSE 3 END AS level,
        |    count(*) AS cnt
        |  FROM c
        |  GROUP BY GROUPING SETS ((seg), (seg, nat), (seg, nat, bal))
        |)
        |SELECT CAST(level AS BIGINT) AS level,
        |  CAST(count(*) AS BIGINT) AS n_combos,
        |  CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_unique,
        |  CAST(min(cnt) AS BIGINT) AS min_k,
        |  round(CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / sum(cnt), 6) AS frac_unique
        |FROM g GROUP BY level ORDER BY level""".stripMargin,

    "q_hurst" -> {
      val widthRows = Widths.map(w => s"SELECT CAST($w AS BIGINT) AS w")
        .mkString("\n  UNION ALL ")
      s"""WITH daily AS MATERIALIZED (
         |  SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS c
         |  FROM events GROUP BY 1
         |),
         |widths AS ($widthRows),
         |wb AS MATERIALIZED (
         |  SELECT w, day, c, day // w AS blk
         |  FROM daily CROSS JOIN widths
         |),
         |stats AS (
         |  SELECT w, blk, count(*) AS n, CAST(sum(c) AS BIGINT) AS ss,
         |    CAST(sum(c * c) AS BIGINT) AS s2
         |  FROM wb GROUP BY w, blk
         |  HAVING count(*) = w
         |),
         |dev AS (
         |  SELECT wb.w, wb.blk, ss, s2,
         |    wb.w * sum(c) OVER (PARTITION BY wb.w, wb.blk ORDER BY day)
         |      - row_number() OVER (PARTITION BY wb.w, wb.blk ORDER BY day)
         |        * ss AS d
         |  FROM wb JOIN stats ON stats.w = wb.w AND stats.blk = wb.blk
         |),
         |rsb AS (
         |  SELECT w, blk,
         |    round(CAST(greatest(max(d), CAST(0 AS BIGINT))
         |      - least(min(d), CAST(0 AS BIGINT)) AS DOUBLE)
         |      / sqrt(CAST(CAST(w AS HUGEINT) * max(s2)
         |        - CAST(max(ss) AS HUGEINT) * max(ss) AS DOUBLE)), 8)
         |      AS rs
         |  FROM dev GROUP BY w, blk, ss, s2
         |  HAVING CAST(w AS HUGEINT) * max(s2)
         |    - CAST(max(ss) AS HUGEINT) * max(ss) > 0
         |),
         |per AS (
         |  SELECT w, count(*) AS n_blocks,
         |    ${dsumSql("rs", 8)} / count(*) AS mean_rs
         |  FROM rsb GROUP BY w
         |),
         |py AS (
         |  SELECT w, n_blocks, mean_rs,
         |    round(ln(mean_rs), 8) AS y, ${lnWCase("w")} AS x
         |  FROM per
         |),
         |h AS (
         |  SELECT count(*) AS np, ${dsumSql("x", 8)} AS sx,
         |    ${dsumSql("y", 8)} AS sy,
         |    ${dsumSql("round(x * y, 8)", 8)} AS sxy,
         |    ${dsumSql("round(x * x, 8)", 8)} AS sxx
         |  FROM py
         |)
         |SELECT CAST(w AS BIGINT) AS w,
         |  CAST(n_blocks AS BIGINT) AS n_blocks,
         |  round(mean_rs, 6) AS mean_rs,
         |  CASE WHEN np < 2 THEN CAST(NULL AS DOUBLE)
         |       ELSE round((np * sxy - sx * sy)
         |       / (np * sxx - sx * sx), 6) END AS hurst
         |FROM py CROSS JOIN h ORDER BY w""".stripMargin
    },

    "q_embedding_norms" ->
      s"""WITH ${LlmOps.QuantizedNormSql},
         |r AS (
         |  SELECT nq, CAST(row_number() OVER (ORDER BY nq, vec_id)
         |    AS BIGINT) AS rk, CAST(count(*) OVER () AS BIGINT) AS n
         |  FROM qn
         |),
         |picks AS (
         |  SELECT
         |    max(CASE WHEN rk = greatest(CAST(1 AS BIGINT),
         |      (10 * n + 99) // 100) THEN nq END) AS q10,
         |    max(CASE WHEN rk = greatest(CAST(1 AS BIGINT),
         |      (50 * n + 99) // 100) THEN nq END) AS q50,
         |    max(CASE WHEN rk = greatest(CAST(1 AS BIGINT),
         |      (90 * n + 99) // 100) THEN nq END) AS q90
         |  FROM r
         |  WHERE rk = greatest(CAST(1 AS BIGINT), (10 * n + 99) // 100)
         |     OR rk = greatest(CAST(1 AS BIGINT), (50 * n + 99) // 100)
         |     OR rk = greatest(CAST(1 AS BIGINT), (90 * n + 99) // 100)
         |),
         |base AS (
         |  SELECT count(*) AS n,
         |    CAST(sum(CASE WHEN nq = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_zero,
         |    ${dsumSql("round(sqrt(CAST(nq AS DOUBLE)), 8)", 8)} AS snorm
         |  FROM qn
         |),
         |dims AS (
         |  SELECT CAST(sum(sd * sd) AS BIGINT) AS ssq FROM (
         |    SELECT i, sum(q) AS sd
         |    FROM (SELECT vec_id, i,
         |            ${LlmOps.quantSqlElem("embedding[i]")} AS q
         |          FROM (SELECT vec_id, embedding,
         |                  unnest(generate_series(1, len(embedding))) AS i
         |                FROM embeddings))
         |    GROUP BY i)
         |)
         |SELECT CAST(n AS BIGINT) AS n_vecs,
         |  CAST(n_zero AS BIGINT) AS n_zero,
         |  round(sqrt(CAST(q10 AS DOUBLE)) / 1000, 6) AS p10_norm,
         |  round(sqrt(CAST(q50 AS DOUBLE)) / 1000, 6) AS p50_norm,
         |  round(sqrt(CAST(q90 AS DOUBLE)) / 1000, 6) AS p90_norm,
         |  round(snorm / n / 1000, 6) AS mean_norm,
         |  round(sqrt(CAST(ssq AS DOUBLE)) / n / (snorm / n), 6)
         |    AS center_mass_ratio
         |FROM base CROSS JOIN picks CROSS JOIN dims""".stripMargin,
  )
}

/** Wave-32 additions — weak-supervision and feature-engineering audits
  * (the Mst operator landed alongside, spec-gated like Scc):
  *
  *  - q_weak_supervision: the Snorkel-style labeling-function analysis —
  *    three deterministic md5-derived LFs (varying coverage and accuracy,
  *    abstentions allowed) over the documents table; per-LF coverage /
  *    overlap / conflict / empirical accuracy plus the majority-vote
  *    row — the audit a weak-supervision pipeline runs before training
  *    a label model.
  *  - q_woe_binning: equal-frequency (quartile) binning of the event
  *    value by distributed rank selection, weight-of-evidence encoding
  *    per bin against the purchase/non-purchase target, and the total
  *    information value — the classic credit-scoring / feature-screening
  *    transform.
  *
  * Determinism: LF votes are integer md5 algebra; bins come from an
  * exact (vq, event_id)-total-order rank; WoE is round-8 ln of
  * bit-identical double arguments (correctly-rounded divisions of exact
  * integers, identical spelling both engines); IV is a decimal sum of
  * round-8 terms. */
object Wave32 extends Catalog {

  /** LF j abstains when h % 10 < 3 + j and flips the truth when
    * h % 100 < 10 + 5j — coverage and accuracy both vary by LF. */
  private def lfVoteSpark(j: Int): String = {
    val h = s"CAST(conv(substring(md5(concat('lf-$j:', " +
      s"CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT)"
    s"CASE WHEN $h % 10 < ${3 + j} THEN CAST(-1 AS BIGINT) " +
      s"WHEN $h % 100 < ${10 + 5 * j} THEN 1 - y ELSE y END"
  }

  private def lfVoteSql(j: Int): String = {
    val h = hex2longSql(s"md5('lf-$j:' || doc_id)", 1)
    s"CASE WHEN $h % 10 < ${3 + j} THEN CAST(-1 AS BIGINT) " +
      s"WHEN $h % 100 < ${10 + 5 * j} THEN 1 - y ELSE y END"
  }

  private val WoeBins = 4

  val queries: Map[String, Q] = strictMap(

    // WEAK SUPERVISION: one corpus scan computes all three votes + the
    // truth as columns (no explode), one 1-row aggregate collects every
    // pairwise/majority statistic, and the 4-row output is a stack over
    // that metadata row — corpus-linear with a single shuffle.
    "q_weak_supervision" -> ((s, dir) => {
      val v = table(s, dir, "documents")
        .select(col("doc_id"), (col("n_chars") % 2).as("y"))
        .withColumn("v0", expr(lfVoteSpark(0)))
        .withColumn("v1", expr(lfVoteSpark(1)))
        .withColumn("v2", expr(lfVoteSpark(2)))
        .withColumn("c1", expr(
          "CASE WHEN v0 = 1 THEN 1 ELSE 0 END + CASE WHEN v1 = 1 THEN 1" +
            " ELSE 0 END + CASE WHEN v2 = 1 THEN 1 ELSE 0 END"))
        .withColumn("c0", expr(
          "CASE WHEN v0 = 0 THEN 1 ELSE 0 END + CASE WHEN v1 = 0 THEN 1" +
            " ELSE 0 END + CASE WHEN v2 = 0 THEN 1 ELSE 0 END"))
        .withColumn("mv", expr("CASE WHEN c1 > c0 THEN CAST(1 AS BIGINT)" +
          " WHEN c0 > c1 THEN CAST(0 AS BIGINT) ELSE CAST(-1 AS BIGINT) END"))
      def lfAggs(j: Int) = Seq(
        expr(s"sum(CASE WHEN v$j >= 0 THEN 1 ELSE 0 END)").as(s"n$j"),
        expr(s"sum(CASE WHEN v$j >= 0 AND (c0 + c1) >= 2 THEN 1 ELSE 0 END)")
          .as(s"ov$j"),
        expr(s"sum(CASE WHEN v$j >= 0 AND (c0 >= 1 AND c1 >= 1)" +
          s" THEN 1 ELSE 0 END)").as(s"cf$j"),
        expr(s"sum(CASE WHEN v$j = y THEN 1 ELSE 0 END)").as(s"ok$j"))
      val aggs = count(lit(1)).as("n") +:
        (Seq(0, 1, 2).flatMap(lfAggs) ++ Seq(
          expr("sum(CASE WHEN mv >= 0 THEN 1 ELSE 0 END)").as("nmv"),
          expr("sum(CASE WHEN mv = y THEN 1 ELSE 0 END)").as("okmv")))
      val a = v.agg(aggs.head, aggs.tail: _*)
      val rows = (0 to 2).map(j =>
        s"'lf$j', n$j, ov$j, cf$j, ok$j") :+ "'mv', nmv, nmv, nmv, okmv"
      a.selectExpr(
          s"stack(4, ${rows.mkString(", ")})" +
            " AS (lf, n_votes, n_overlap, n_conflict, n_correct)", "n")
        .selectExpr("lf", "CAST(n_votes AS BIGINT) AS n_votes",
          "round(CAST(n_votes AS DOUBLE) / n, 6) AS coverage",
          "CASE WHEN lf = 'mv' THEN CAST(NULL AS DOUBLE)" +
            " ELSE round(CAST(n_overlap AS DOUBLE) / n, 6) END AS overlap",
          "CASE WHEN lf = 'mv' THEN CAST(NULL AS DOUBLE)" +
            " ELSE round(CAST(n_conflict AS DOUBLE) / n, 6) END AS conflict",
          "CASE WHEN n_votes = 0 THEN CAST(NULL AS DOUBLE)" +
            " ELSE round(CAST(n_correct AS DOUBLE) / n_votes, 6)" +
            " END AS accuracy")
        .orderBy("lf")
    }),

    // WOE BINNING: quartile bins from one distributed rank selection
    // (never a global sort buffer), per-bin good/bad counts, round-8 ln
    // WoE over bit-identical double ratios, decimal-summed IV.
    "q_woe_binning" -> ((s, dir) => {
      val ev = table(s, dir, "events")
        .where(col("value").isNotNull)
        .select(col("event_id"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("vq"),
          expr("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END")
            .as("good"))
        .withColumn("kk", lit(1))
      val ranked = graft.operators.Ranks
        .withinKey(ev, "kk", Seq("vq", "event_id")).ckpt()
      val n1 = ranked.agg(max("rk").as("n"))
      val bins = ranked.crossJoin(broadcast(n1))
        .withColumn("bin", expr(s"(($WoeBins * (rk - 1)) DIV n)"))
        .groupBy("bin")
        .agg(count(lit(1)).as("nb"), sum("good").as("g"),
          sum(expr("1 - good")).as("b"))
        .ckpt() // totals + output
      val tot = bins.agg(sum("g").as("gg"), sum("b").as("bb"))
      val woed = bins.crossJoin(broadcast(tot))
        .withColumn("woe", expr("CASE WHEN g = 0 OR b = 0 OR gg = 0 OR" +
          " bb = 0 THEN CAST(NULL AS DOUBLE) ELSE round(ln(" +
          "(CAST(g AS DOUBLE) / gg) / (CAST(b AS DOUBLE) / bb)), 8) END"))
        .withColumn("ivt", expr("CASE WHEN woe IS NULL THEN CAST(0 AS" +
          " DOUBLE) ELSE round((CAST(g AS DOUBLE) / gg" +
          " - CAST(b AS DOUBLE) / bb) * woe, 8) END"))
        .ckpt() // output rows + the IV fold
      val iv = woed.agg(dsum(col("ivt"), 8).as("iv"))
      woed.crossJoin(broadcast(iv))
        .selectExpr("CAST(bin AS BIGINT) AS bin", "CAST(nb AS BIGINT) AS n",
          "CAST(g AS BIGINT) AS n_good", "CAST(b AS BIGINT) AS n_bad",
          "round(woe, 6) AS woe", "round(iv, 6) AS iv")
        .orderBy("bin")
    }),
  )

  val oracle: Map[String, String] = strictMap(

    "q_weak_supervision" -> {
      val lfRows = (0 to 2).map(j =>
        s"""SELECT 'lf$j' AS lf, n$j AS n_votes, ov$j AS n_overlap,
           |  cf$j AS n_conflict, ok$j AS n_correct, n FROM a""".stripMargin)
      val mvRow =
        """SELECT 'mv' AS lf, nmv AS n_votes, nmv AS n_overlap,
          |  nmv AS n_conflict, okmv AS n_correct, n FROM a""".stripMargin
      val lfAggs = (0 to 2).map(j =>
        s"""CAST(sum(CASE WHEN v$j >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n$j,
           |    CAST(sum(CASE WHEN v$j >= 0 AND (c0 + c1) >= 2 THEN 1
           |      ELSE 0 END) AS BIGINT) AS ov$j,
           |    CAST(sum(CASE WHEN v$j >= 0 AND (c0 >= 1 AND c1 >= 1)
           |      THEN 1 ELSE 0 END) AS BIGINT) AS cf$j,
           |    CAST(sum(CASE WHEN v$j = y THEN 1 ELSE 0 END) AS BIGINT)
           |      AS ok$j""".stripMargin).mkString(",\n    ")
      s"""WITH v0 AS (
         |  SELECT doc_id, n_chars % 2 AS y,
         |    ${lfVoteSql(0)} AS v0, ${lfVoteSql(1)} AS v1,
         |    ${lfVoteSql(2)} AS v2
         |  FROM documents
         |),
         |v AS (
         |  SELECT *,
         |    (CASE WHEN v0 = 1 THEN 1 ELSE 0 END
         |      + CASE WHEN v1 = 1 THEN 1 ELSE 0 END
         |      + CASE WHEN v2 = 1 THEN 1 ELSE 0 END) AS c1,
         |    (CASE WHEN v0 = 0 THEN 1 ELSE 0 END
         |      + CASE WHEN v1 = 0 THEN 1 ELSE 0 END
         |      + CASE WHEN v2 = 0 THEN 1 ELSE 0 END) AS c0
         |  FROM v0
         |),
         |vm AS (
         |  SELECT *, CASE WHEN c1 > c0 THEN CAST(1 AS BIGINT)
         |    WHEN c0 > c1 THEN CAST(0 AS BIGINT)
         |    ELSE CAST(-1 AS BIGINT) END AS mv
         |  FROM v
         |),
         |a AS (
         |  SELECT count(*) AS n,
         |    $lfAggs,
         |    CAST(sum(CASE WHEN mv >= 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS nmv,
         |    CAST(sum(CASE WHEN mv = y THEN 1 ELSE 0 END) AS BIGINT)
         |      AS okmv
         |  FROM vm
         |),
         |rows AS (
         |${(lfRows :+ mvRow).mkString("\nUNION ALL\n")}
         |)
         |SELECT lf, n_votes,
         |  round(CAST(n_votes AS DOUBLE) / n, 6) AS coverage,
         |  CASE WHEN lf = 'mv' THEN CAST(NULL AS DOUBLE)
         |       ELSE round(CAST(n_overlap AS DOUBLE) / n, 6) END AS overlap,
         |  CASE WHEN lf = 'mv' THEN CAST(NULL AS DOUBLE)
         |       ELSE round(CAST(n_conflict AS DOUBLE) / n, 6) END
         |    AS conflict,
         |  CASE WHEN n_votes = 0 THEN CAST(NULL AS DOUBLE)
         |       ELSE round(CAST(n_correct AS DOUBLE) / n_votes, 6) END
         |    AS accuracy
         |FROM rows ORDER BY lf""".stripMargin
    },

    "q_woe_binning" ->
      s"""WITH ev AS (
         |  SELECT event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS vq,
         |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS good
         |  FROM events WHERE value IS NOT NULL
         |),
         |r AS (
         |  SELECT good, CAST(row_number() OVER (ORDER BY vq, event_id)
         |    AS BIGINT) AS rk, CAST(count(*) OVER () AS BIGINT) AS n
         |  FROM ev
         |),
         |bins AS (
         |  SELECT ($WoeBins * (rk - 1)) // n AS bin, count(*) AS nb,
         |    CAST(sum(good) AS BIGINT) AS g,
         |    CAST(sum(1 - good) AS BIGINT) AS b
         |  FROM r GROUP BY 1
         |),
         |tot AS (SELECT CAST(sum(g) AS BIGINT) AS gg,
         |               CAST(sum(b) AS BIGINT) AS bb FROM bins),
         |w AS (
         |  SELECT bin, nb, g, b,
         |    CASE WHEN g = 0 OR b = 0 OR gg = 0 OR bb = 0
         |         THEN CAST(NULL AS DOUBLE)
         |         ELSE round(ln((CAST(g AS DOUBLE) / gg)
         |           / (CAST(b AS DOUBLE) / bb)), 8) END AS woe
         |  FROM bins CROSS JOIN tot
         |),
         |w2 AS (
         |  SELECT *, CASE WHEN woe IS NULL THEN CAST(0 AS DOUBLE)
         |    ELSE round((CAST(g AS DOUBLE) / (SELECT gg FROM tot)
         |      - CAST(b AS DOUBLE) / (SELECT bb FROM tot)) * woe, 8)
         |    END AS ivt
         |  FROM w
         |),
         |iv AS (SELECT ${dsumSql("ivt", 8)} AS iv FROM w2)
         |SELECT CAST(bin AS BIGINT) AS bin, CAST(nb AS BIGINT) AS n,
         |  g AS n_good, b AS n_bad, round(woe, 6) AS woe,
         |  round(iv, 6) AS iv
         |FROM w2 CROSS JOIN iv ORDER BY bin""".stripMargin,
  )
}
