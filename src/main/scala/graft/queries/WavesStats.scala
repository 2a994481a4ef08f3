package graft.queries

import graft.operators.{Ckpt, Tokenize}
import graft.operators.Ckpt._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Nonparametric / rank hypothesis-test waves (7-15 era): the
  * distribution-shift, k-group and paired tests a curation pipeline
  * runs as data gates (effect sizes / agreement / sampling design
  * continue in [[WavesStats2]]).
  *
  * Consolidated from the round-era Wave files (r11 verdict task 7):
  * pure moves — each object below is byte-identical to its former
  * single-object file minus the per-file package/import header,
  * which is merged (conflict-free union) above. */

/** Wave-7 additions: the rank-statistics / privacy corner of a curation
  * pipeline — Spearman rank correlation and the Mann-Whitney U test (the
  * two standard nonparametric "did this data change distribution?"
  * gates), a differentially-private histogram release, and the Hill tail
  * index (the heavy-tail exponent behind "is activity power-law enough
  * to need skew handling?").
  *
  * Determinism: every rank is a [[graft.operators.Ranks]] global rank
  * under a TOTAL order (unique tie-breaker last), floats are quantized
  * to integer cents before anything ranks or sums them, ln goes through
  * the house round-8 discipline, and each query ends in a bounded,
  * totally-ordered result — so the DuckDB oracles replay bit-for-bit.
  *
  * Scale notes per query inline; none of these carries a whole-corpus
  * window or an uncapped join.
  */
object Wave7 extends Catalog {

  /** Integer-cents quantization of the events `value` double — the house
    * floor(x·100 + 0.5) spelling, identical in both engines, so ranks
    * and sums are exact-integer everywhere. */
  private val CentsSpark =
    "CAST(floor(CAST(value AS DOUBLE)*100 + 0.5) AS BIGINT)"
  private def centsSql = "CAST(floor(CAST(value AS DOUBLE)*100 + 0.5) AS BIGINT)"

  /** q_hill_tail: number of top order statistics the estimator uses. */
  private val HillK = 100

  /** q_dp_hist: Laplace scale b = Δf/ε = 1/0.5 (count sensitivity 1,
    * ε = 0.5) — inlined as the literal 2.0 in both engines. */
  private val DpEps = "2.0"

  /** q_betweenness: constant seed-set size (the q_closeness contract —
    * per-seed state is the seed's ball, so |seeds| must not grow with
    * the graph) and forward depth. */
  private val BetwSeedK = 8
  private val BetwDepth = 3

  /** q_sprt: H0/H1 Bernoulli rates, their per-observation log-likelihood
    * ratio terms pre-rounded to 8 decimals AT CATALOG BUILD TIME and
    * inlined as DECIMAL literals in both engines — the whole walk is then
    * exact decimal arithmetic (counts × 8-decimal constants), no float
    * until the display column. Thresholds ±ln(19) (α = β = 0.05). */
  private val SprtP0 = 0.10
  private val SprtP1 = 0.12
  private def r8(x: Double): String =
    BigDecimal(x).setScale(8, BigDecimal.RoundingMode.HALF_UP).toString
  private val SprtC1 = r8(math.log(SprtP1 / SprtP0))           // y = 1 term
  private val SprtC0 = r8(math.log((1 - SprtP1) / (1 - SprtP0))) // y = 0 term
  private val SprtA = r8(math.log(19.0))

  val queries: Map[String, Q] = strictMap(

    // SPEARMAN rank correlation between two per-user metrics (event
    // count vs total spend): ρ = 1 − 6·Σd²/(n·(n²−1)) over GLOBAL ranks
    // from the distributed Ranks selection — no whole-table window, so a
    // popular metric value never lands on one task. Ranks are
    // row_number-style under the total order (metric, user_id): a pinned
    // deterministic contract (midranks for ties would need a second
    // aggregation; the tie-broken variant is partition- and
    // engine-invariant, which is what the gate needs). Σd² is an exact
    // BIGINT (≤ n³/3 — exact in double to n ≈ 2·10⁵ users, DECIMAL(38,0)
    // past that; the one terminal float chain is spelled identically in
    // both engines).
    "q_spearman" -> ((s, dir) => {
      val ux = table(s, dir, "events")
        .selectExpr("user_id", s"$CentsSpark AS cents")
        .groupBy("user_id")
        .agg(count(lit(1)).as("x"), sum(col("cents")).as("y"))
        .withColumn("k", lit(1))
      val rx = graft.operators.Ranks
        .withinKey(ux, "k", Seq("x", "user_id"))
        .select(col("user_id"), col("rk").as("rx"))
      val ry = graft.operators.Ranks
        .withinKey(ux, "k", Seq("y", "user_id"))
        .select(col("user_id"), col("rk").as("ry"))
      rx.join(ry, "user_id")
        .select(((col("rx") - col("ry")) * (col("rx") - col("ry"))).as("d2"))
        .agg(count(lit(1)).as("n"), sum(col("d2")).as("sd2"))
        .selectExpr("n", "sd2",
          "round(1.0 - 6.0 * CAST(sd2 AS DOUBLE) / " +
            "(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)" +
            " - CAST(n AS DOUBLE)), 6) AS rho")
    }),

    // MANN-WHITNEY U (rank-sum) test: do click and purchase event values
    // come from the same distribution? Pooled global rank over integer
    // cents (total order (cents, event_id) — the tie-broken contract, as
    // in q_spearman), R₁ and U₁ = R₁ − n₁(n₁+1)/2 exact BIGINTs, then
    // the normal-approximation z in one identically-spelled float chain.
    // ONE rank pass over the pooled sample + one metadata aggregate —
    // the same cost envelope as any global Ranks consumer.
    "q_mannwhitney" -> ((s, dir) => {
      val p = table(s, dir, "events")
        .where(col("event_type").isin("click", "purchase"))
        .selectExpr("event_type", s"$CentsSpark AS cents", "event_id")
        .withColumn("k", lit(1))
      graft.operators.Ranks.withinKey(p, "k", Seq("cents", "event_id"))
        .agg(
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n1"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n2"),
          sum(when(col("event_type") === "click", col("rk"))
            .otherwise(0L)).as("r1"))
        // DIV, not `/`: the Column `/` is DOUBLE division, which would
        // ship u1 as a float while the oracle's `//` yields BIGINT —
        // the exact representation-drift class the driver hash catches
        .withColumn("u1", expr("r1 - n1 * (n1 + 1) DIV 2"))
        .selectExpr("n1", "n2", "r1", "u1",
          "round((CAST(u1 AS DOUBLE) - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2)" +
            " / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)" +
            " * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) + 1.0) / 12.0), 6) AS z")
    }),

    // DIFFERENTIALLY-PRIVATE histogram release of the documents
    // lang × source contingency table (ε = 0.5, sensitivity 1): Laplace
    // noise derived DETERMINISTICALLY per cell from an md5-uniform —
    // u = (2j+1)/2·10⁶ with j the first 8 md5 hex chars mod 10⁶, noise =
    // −b·sign(u−½)·ln(1−2|u−½|) — so both engines draw the IDENTICAL
    // noise (a seeded PRF, the replayable-release pattern; real
    // deployments swap the md5 for a keyed PRF). The ln argument is an
    // exact rational a/10⁶ (a ≥ 1 — never log 0) and ln rides the house
    // round-8; the grid is |langs|×|sources| metadata, the only
    // data-scale stage one partial-agg'd count shuffle.
    "q_dp_hist" -> ((s, dir) =>
      table(s, dir, "documents")
        .groupBy("lang", "source").agg(count(lit(1)).as("n"))
        .withColumn("j", expr(
          "CAST(conv(substring(md5(concat('dp:', lang, ':', source)), 1, 8)," +
            " 16, 10) AS BIGINT) % 1000000"))
        .withColumn("a", expr("1000000 - abs(2*j + 1 - 1000000)"))
        .withColumn("noise", expr(
          s"-$DpEps * (CASE WHEN 2*j + 1 > 1000000 THEN 1.0 ELSE -1.0 END)" +
            " * round(ln(CAST(a AS DOUBLE) / 1000000.0), 8)"))
        .selectExpr("lang", "source", "n",
          "round(CAST(n AS DOUBLE) + noise, 4) AS noisy_n")
        .orderBy("lang", "source")),

    // HILL tail-index estimator of per-user total spend: α̂ = k / Σ_{i≤k}
    // ln(x₍ᵢ₎/x₍ₖ₊₁₎) over the top k+1 order statistics — the "how
    // heavy is the tail" diagnostic run before choosing skew salting.
    // Top-(k+1) selects via TakeOrderedAndProject (never a global sort);
    // the boundary row is the argmin under the same total order
    // (min-struct — no second pass); ln(xᵢ/xₖ₊₁) is one correctly-rounded
    // division + house round-8, decimal-summed. Guard: s = 0 (all top
    // values tied) yields NULL alpha identically in both engines.
    "q_hill_tail" -> ((s, dir) => {
      val ux = table(s, dir, "events")
        .selectExpr("user_id", s"$CentsSpark AS cents")
        .groupBy("user_id").agg(sum(col("cents")).as("x"))
      val top = ux.orderBy(desc("x"), asc("user_id")).limit(HillK + 1)
      val b = top.agg(min(struct(col("x"), (-col("user_id")).as("nid"))).as("m"))
        .select(col("m.x").as("xk1"), (-col("m.nid")).as("bid"))
      top.crossJoin(broadcast(b))
        .where(!(col("x") === col("xk1") && col("user_id") === col("bid")))
        .groupBy("xk1")
        .agg(count(lit(1)).as("k"),
          dsum(expr("round(ln(CAST(x AS DOUBLE) / CAST(xk1 AS DOUBLE)), 8)"), 8)
            .as("s"))
        .selectExpr("k", "xk1", "round(s, 8) AS lnsum",
          "CASE WHEN s > 0 THEN round(CAST(k AS DOUBLE) / s, 6) END AS alpha")
    }),

    // BETWEENNESS centrality (operators.Betweenness — bounded-seed
    // Brandes): shortest-path dependency of every vertex on the truncated
    // shortest-path DAGs of the BetwSeedK highest-degree trusted
    // suppliers, on the same part↔supplier bipartite graph as
    // q_closeness. Forward σ path counts are exact BIGINTs; backward δ
    // accumulation follows the house float discipline (per-edge term
    // rounded 8 from identical inputs, decimal-summed, re-rounded), so
    // the DuckDB oracle unrolls both sweeps exactly. Constant seed set =
    // k·|ball| state (the q_closeness scale contract); top-20 by
    // dependency via TakeOrderedAndProject.
    "q_betweenness" -> ((s, dir) => {
      // ckpt before mirroring: `pairs` feeds the union twice plus the
      // seed derivation — un-materialized that triples the lineitem
      // scan + distinct (the round-10 mirrored-union fix). wideTable was
      // A/B'd here (3 interleaved laps vs the frozen binary) and measured
      // a wash-to-regression: the serialized scan overlaps the ckpt
      // barrier, so the extra exchange only adds a hop.
      import graft.operators.Ckpt._
      val pairs = table(s, dir, "lineitem")
        .select(col("l_partkey").as("p"),
          (col("l_suppkey") + 1000000L).as("sv"))
        .distinct().ckpt()
      val edges = pairs.select(col("p").as("src"), col("sv").as("dst"))
        .unionByName(pairs.select(col("sv").as("src"), col("p").as("dst")))
      val seeds = pairs.where(col("sv") % 7 === 0)
        .groupBy("sv").agg(count(lit(1)).as("dg"))
        .orderBy(desc("dg"), asc("sv")).limit(BetwSeedK)
        .select(col("sv").as("seed"))
      graft.operators.Betweenness.run(edges, seeds, BetwDepth)
        .orderBy(desc("bc"), asc("v")).limit(20)
        .select(col("v").cast("long").as("v"), col("n_seeds"), col("bc"))
    }),

    // GROUP-SEQUENTIAL SPRT (Wald's sequential probability ratio test at
    // daily interim analyses — the "stop the A/B test early" procedure):
    // per variant, the cumulative log-likelihood ratio of H1 (p = 12%)
    // vs H0 (p = 10%) purchase rates walks day by day; the first day the
    // walk leaves (−ln 19, ln 19) decides. Scale shape: ONE partial-agg'd
    // (variant, day) count shuffle over the events, then every window
    // rides the |days|-row aggregate (calendar-bounded — never a
    // whole-corpus window); the walk itself is exact DECIMAL (counts ×
    // 8-decimal literal constants), so the crossing day is
    // engine-invariant with no epsilon anywhere.
    "q_sprt" -> ((s, dir) => {
      val daily = table(s, dir, "events")
        .selectExpr("user_id % 2 AS variant",
          "unix_micros(ts) DIV 86400000000 AS day",
          "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y")
        .groupBy("variant", "day")
        .agg(count(lit(1)).as("n"), sum(col("y")).as("conv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("variant").orderBy("day")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val walk = daily
        .withColumn("llr", expr(
          s"conv * CAST($SprtC1 AS DECIMAL(10,8))" +
            s" + (n - conv) * CAST($SprtC0 AS DECIMAL(10,8))"))
        .withColumn("cum", sum(col("llr")).over(w))
        .withColumn("cumn", sum(col("n")).over(w))
      val crossed = walk.where(
          col("cum") >= expr(s"CAST($SprtA AS DECIMAL(10,8))") ||
          col("cum") <= expr(s"CAST(-$SprtA AS DECIMAL(10,8))"))
        .groupBy("variant")
        .agg(min(struct(col("day"), col("cum"), col("cumn"))).as("m"))
      daily.groupBy("variant")
        .agg(count(lit(1)).as("n_days"), sum(col("n")).as("total_obs"))
        .join(crossed, Seq("variant"), "left_outer")
        .selectExpr("variant", "n_days", "total_obs",
          "m.day AS dec_day", "m.cumn AS n_obs",
          "CASE WHEN m IS NULL THEN 'continue'" +
            " WHEN m.cum > 0 THEN 'H1' ELSE 'H0' END AS decision",
          "round(CAST(m.cum AS DOUBLE), 6) AS llr_at")
        .orderBy("variant")
    }),
  )

  /** Unrolled Brandes replay (oracle twin of
    * [[graft.operators.Betweenness]] at depth [[BetwDepth]]): forward
    * f0…f3 (σ accumulation, settled-set anti-joins), then backward
    * levels 2 and 1 with the identical per-edge round-8 / decimal-sum /
    * re-round spelling. Ends with CTE `alldelta` = (seed, v, delta) over
    * levels 1..3. */
  private lazy val BetwCtes: String = {
    // every f_i is referenced 2× by f_{i+1} and the final f another ~7×
    // by the backward sweep — DuckDB's default CTE INLINING re-executes
    // each reference, which compounds to an exponential plan (observed:
    // 100+ GB grinding at sf0.01). MATERIALIZED pins one execution per
    // CTE, which is also exactly the engine's ckpt-per-round shape.
    val fwd = (1 to BetwDepth).map { i =>
      s"""n$i AS MATERIALIZED (
         |  SELECT f.seed, e.dst AS v, CAST(sum(f.sig) AS BIGINT) AS sig
         |  FROM f${i - 1} f JOIN e ON f.v = e.src
         |  WHERE f.dist = ${i - 1} GROUP BY 1, 2
         |),
         |f$i AS MATERIALIZED (
         |  SELECT * FROM f${i - 1}
         |  UNION ALL
         |  SELECT n$i.seed, n$i.v, CAST($i AS BIGINT) AS dist, n$i.sig
         |  FROM n$i ANTI JOIN f${i - 1}
         |    ON n$i.seed = f${i - 1}.seed AND n$i.v = f${i - 1}.v
         |)""".stripMargin
    }.mkString(",\n")
    val last = s"f$BetwDepth"
    val bwd = ((BetwDepth - 1) to 1 by -1).map { lvl =>
      val prevDelta = if (lvl == BetwDepth - 1) s"b${BetwDepth}" else s"b${lvl + 1}"
      s"""c$lvl AS MATERIALIZED (
         |  SELECT x.seed, x.v,
         |    round(CAST(sum(CAST(round(
         |      (CAST(x.sig AS DOUBLE) / CAST(w.sig AS DOUBLE)) * (1.0 + b.delta),
         |      8) AS DECIMAL(18,8))) AS DOUBLE), 8) AS delta
         |  FROM $last x JOIN e ON x.v = e.src
         |  JOIN $last w ON w.seed = x.seed AND w.v = e.dst
         |    AND w.dist = ${lvl + 1}
         |  JOIN $prevDelta b ON b.seed = x.seed AND b.v = e.dst
         |  WHERE x.dist = $lvl
         |  GROUP BY x.seed, x.v
         |),
         |b$lvl AS MATERIALIZED (
         |  SELECT x.seed, x.v, coalesce(c$lvl.delta, 0.0) AS delta
         |  FROM $last x LEFT JOIN c$lvl
         |    ON c$lvl.seed = x.seed AND c$lvl.v = x.v
         |  WHERE x.dist = $lvl
         |)""".stripMargin
    }.mkString(",\n")
    val unionAll = (1 to BetwDepth)
      .map(l => s"SELECT seed, v, delta FROM b$l").mkString("\n  UNION ALL ")
    s"""pairs AS (
       |  SELECT DISTINCT l_partkey AS p, l_suppkey + 1000000 AS sv
       |  FROM lineitem
       |),
       |e AS MATERIALIZED (SELECT p AS src, sv AS dst FROM pairs
       |      UNION ALL SELECT sv, p FROM pairs),
       |f0 AS MATERIALIZED (
       |  SELECT sv AS seed, sv AS v, CAST(0 AS BIGINT) AS dist,
       |         CAST(1 AS BIGINT) AS sig
       |  FROM (SELECT sv, count(*) AS dg FROM pairs WHERE sv % 7 = 0
       |        GROUP BY sv ORDER BY dg DESC, sv LIMIT $BetwSeedK)
       |),
       |$fwd,
       |b$BetwDepth AS (
       |  SELECT seed, v, CAST(0.0 AS DOUBLE) AS delta
       |  FROM $last WHERE dist = $BetwDepth
       |),
       |$bwd,
       |alldelta AS (
       |  $unionAll
       |)""".stripMargin
  }

  val oracle: Map[String, String] = strictMap(

    "q_spearman" ->
      s"""WITH ux AS (
         |  SELECT user_id, count(*) AS x, CAST(sum($centsSql) AS BIGINT) AS y
         |  FROM events GROUP BY user_id
         |),
         |r AS (
         |  SELECT row_number() OVER (ORDER BY x, user_id) AS rx,
         |         row_number() OVER (ORDER BY y, user_id) AS ry
         |  FROM ux
         |)
         |SELECT count(*) AS n,
         |  CAST(sum((rx - ry) * (rx - ry)) AS BIGINT) AS sd2,
         |  round(1.0 - 6.0 * CAST(sum((rx - ry) * (rx - ry)) AS DOUBLE) /
         |    (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE)
         |     * CAST(count(*) AS DOUBLE) - CAST(count(*) AS DOUBLE)), 6) AS rho
         |FROM r""".stripMargin,

    "q_mannwhitney" ->
      s"""WITH p AS (
         |  SELECT event_type, $centsSql AS cents, event_id
         |  FROM events WHERE event_type IN ('click', 'purchase')
         |),
         |r AS (
         |  SELECT event_type,
         |         row_number() OVER (ORDER BY cents, event_id) AS rk
         |  FROM p
         |),
         |a AS (
         |  SELECT
         |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         |    CAST(sum(CASE WHEN event_type = 'click' THEN rk ELSE 0 END) AS BIGINT) AS r1
         |  FROM r
         |)
         |SELECT n1, n2, r1, r1 - n1 * (n1 + 1) // 2 AS u1,
         |  round((CAST(r1 - n1 * (n1 + 1) // 2 AS DOUBLE)
         |         - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2)
         |    / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
         |           * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) + 1.0) / 12.0), 6) AS z
         |FROM a""".stripMargin,

    "q_dp_hist" ->
      s"""WITH g AS (
         |  SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2
         |),
         |u AS (
         |  SELECT lang, source, n,
         |    ${hex2longSql("md5('dp:' || lang || ':' || source)", 1)} % 1000000 AS j
         |  FROM g
         |),
         |w AS (
         |  SELECT lang, source, n, j,
         |    1000000 - abs(2*j + 1 - 1000000) AS a
         |  FROM u
         |)
         |SELECT lang, source, n,
         |  round(CAST(n AS DOUBLE)
         |    + (-$DpEps * (CASE WHEN 2*j + 1 > 1000000 THEN 1.0 ELSE -1.0 END)
         |       * round(ln(CAST(a AS DOUBLE) / 1000000.0), 8)), 4) AS noisy_n
         |FROM w ORDER BY lang, source""".stripMargin,

    "q_hill_tail" ->
      s"""WITH ux AS (
         |  SELECT user_id, CAST(sum($centsSql) AS BIGINT) AS x
         |  FROM events GROUP BY user_id
         |),
         |top AS (
         |  SELECT user_id, x FROM ux ORDER BY x DESC, user_id LIMIT ${HillK + 1}
         |),
         |b AS (
         |  SELECT x AS xk1, user_id AS bid FROM top
         |  ORDER BY x, user_id DESC LIMIT 1
         |),
         |h AS (
         |  SELECT t.x, b.xk1 FROM top t CROSS JOIN b
         |  WHERE NOT (t.x = b.xk1 AND t.user_id = b.bid)
         |),
         |agg AS (
         |  SELECT xk1, count(*) AS k,
         |    CAST(sum(CAST(round(ln(CAST(x AS DOUBLE) / CAST(xk1 AS DOUBLE)), 8)
         |             AS DECIMAL(18,8))) AS DOUBLE) AS s
         |  FROM h GROUP BY xk1
         |)
         |SELECT CAST(k AS BIGINT) AS k, xk1, round(s, 8) AS lnsum,
         |  CASE WHEN s > 0 THEN round(CAST(k AS DOUBLE) / s, 6) END AS alpha
         |FROM agg""".stripMargin,

    "q_betweenness" ->
      s"""WITH $BetwCtes
         |SELECT CAST(v AS BIGINT) AS v, count(*) AS n_seeds,
         |  round(CAST(sum(CAST(delta AS DECIMAL(18,8))) AS DOUBLE), 6) AS bc
         |FROM alldelta GROUP BY v
         |ORDER BY bc DESC, v LIMIT 20""".stripMargin,

    "q_sprt" ->
      s"""WITH daily AS (
         |  SELECT user_id % 2 AS variant, epoch_us(ts) // 86400000000 AS day,
         |    count(*) AS n,
         |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS conv
         |  FROM events GROUP BY 1, 2
         |),
         |walk AS (
         |  SELECT variant, day, n, conv,
         |    sum(conv * CAST($SprtC1 AS DECIMAL(10,8))
         |        + (n - conv) * CAST($SprtC0 AS DECIMAL(10,8)))
         |      OVER (PARTITION BY variant ORDER BY day
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    sum(n) OVER (PARTITION BY variant ORDER BY day
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumn
         |  FROM daily
         |),
         |crossed AS (
         |  SELECT variant, day, cum, cumn,
         |    row_number() OVER (PARTITION BY variant ORDER BY day) AS rn
         |  FROM walk
         |  WHERE cum >= CAST($SprtA AS DECIMAL(10,8))
         |     OR cum <= CAST(-$SprtA AS DECIMAL(10,8))
         |),
         |first AS (SELECT variant, day, cum, cumn FROM crossed WHERE rn = 1),
         |tot AS (
         |  SELECT variant, count(*) AS n_days, CAST(sum(n) AS BIGINT) AS total_obs
         |  FROM daily GROUP BY variant
         |)
         |SELECT tot.variant, tot.n_days, tot.total_obs,
         |  first.day AS dec_day, CAST(first.cumn AS BIGINT) AS n_obs,
         |  CASE WHEN first.variant IS NULL THEN 'continue'
         |       WHEN first.cum > 0 THEN 'H1' ELSE 'H0' END AS decision,
         |  round(CAST(first.cum AS DOUBLE), 6) AS llr_at
         |FROM tot LEFT JOIN first ON tot.variant = first.variant
         |ORDER BY tot.variant""".stripMargin,
  )
}

/** Wave-8 additions: the "which data goes in the mix" corner of a
  * curation pipeline — one-way ANOVA and Kruskal-Wallis (the parametric /
  * nonparametric k-group "did segments diverge?" gates extending wave-7's
  * two-sample tests), DSIR-style importance-resampling selection
  * (Xie et al. '23: score raw docs by a target-vs-raw hashed-n-gram
  * log-likelihood ratio, keep the top), boilerplate stripping by
  * paragraph document frequency (the CCNet/RefinedWeb "drop lines shared
  * across many pages" rule — distinct from q_dedup_paragraph's
  * first-occurrence dedup), normalized mutual information between two
  * categorical partitions (the clustering-agreement metric), and bounded
  * k-truss peeling (the triangle-support community core, one level
  * stronger than q_kcore's degree peeling).
  *
  * Determinism: counts and rank sums are exact BIGINTs under tie-broken
  * total orders, every ln rides the house round-8 + decimal-sum
  * discipline, DSIR scores are exact DECIMAL walks (integer counts ×
  * 8-decimal pre-rounded weights — the q_sprt pattern), and every query
  * ends in a bounded, totally-ordered result.
  */
object Wave8 extends Catalog {

  /** Integer-cents quantization of the events `value` double (the house
    * floor(x·100 + 0.5) spelling — exact and identical in both engines). */
  private val CentsSpark =
    "CAST(floor(CAST(value AS DOUBLE)*100 + 0.5) AS BIGINT)"
  private def centsSql = "CAST(floor(CAST(value AS DOUBLE)*100 + 0.5) AS BIGINT)"

  /** q_dsir_select: hashed word-feature bucket count (the feature table
    * is ALWAYS this many rows — broadcastable at any corpus size) and
    * the number of selected documents. */
  private val DsirBuckets = 256
  private val DsirTopK = 50

  /** q_boilerplate: paragraphs appearing in ≥ this many documents are
    * boilerplate (site chrome, licence headers) and are dropped. */
  private val BoilerDf = 3

  /** q_ktruss: triangle-support threshold (an edge survives while it
    * closes ≥ k−2 triangles among surviving edges) and the bounded
    * peel-round count; co-purchase projection weight as in q_triangles. */
  private val TrussK = 4
  private val TrussRounds = 3
  private val TrussMinW = 5

  /** Exact quotient/remainder split of Σ s²/m (the sum-of-squares /
    * rank-sum workhorse of q_anova and q_kruskal): with a = s DIV m,
    * b = s MOD m (all non-negative, so DIV/MOD agree across engines),
    *
    *   s²/m = a²m + 2ab + (b² DIV m)  +  (b² MOD m)/m
    *          └──────── ii ─────────┘    └──── fr ────┘
    *
    * ii is EXACT 128-bit integer arithmetic (DECIMAL(38,0) / HUGEINT);
    * fr ∈ [0, 1) is one small identical float division, round-12. The
    * grid sums Σii exactly and Σfr as DECIMAL(18,12) (≤ k, so the scale
    * never overflows) — no rounding of any large double anywhere, which
    * is what keeps the statistic deterministic at ANY n (doubles past
    * 2^53/10^scale round differently per engine). */
  private def sumSqIiSpark(s: String, m: String): String =
    s"CAST($s DIV $m AS DECIMAL(38,0)) * ($s DIV $m) * $m" +
      s" + 2 * CAST($s DIV $m AS DECIMAL(38,0)) * ($s % $m)" +
      s" + (CAST($s % $m AS DECIMAL(38,0)) * ($s % $m) DIV $m)"
  private def sumSqFrSpark(s: String, m: String): String =
    s"round(CAST(CAST($s % $m AS DECIMAL(38,0)) * ($s % $m) % $m AS DOUBLE)" +
      s" / CAST($m AS DOUBLE), 12)"

  /** DuckDB twins of [[sumSqIiSpark]]/[[sumSqFrSpark]] (HUGEINT). */
  private def sumSqIiSql(s: String, m: String): String =
    s"CAST($s // $m AS HUGEINT) * ($s // $m) * $m" +
      s" + 2 * CAST($s // $m AS HUGEINT) * ($s % $m)" +
      s" + (CAST($s % $m AS HUGEINT) * ($s % $m) // $m)"
  private def sumSqFrSql(s: String, m: String): String =
    s"round(CAST(CAST($s % $m AS HUGEINT) * ($s % $m) % $m AS DOUBLE)" +
      s" / CAST($m AS DOUBLE), 12)"

  val queries: Map[String, Q] = strictMap(

    // ONE-WAY ANOVA F-test across event types on integer cents: all
    // power sums (n, Σx, Σx² per group) are exact BIGINTs with map-side
    // partials — ONE partial-agg'd shuffle of |groups| rows, never a
    // second pass. The sum-of-squares identities then ride the EXACT
    // quotient/remainder split ([[sumSqOverN]]): Σs_g²/n_g = I + F with
    // I an exact 128-bit integer and F < k a small round-12 decimal sum,
    // so SSB = (I−I_tot) + (F−F_tot) and SSW = (Σx²−I) − F subtract
    // exact integers FIRST (no catastrophic double cancellation, no
    // round-of-huge-double cross-engine hazard — the naive Σ round(s²/n)
    // overflowed DECIMAL(18,6) at sf0.1 and a wider decimal would round
    // doubles past 2^53/10⁶ where the engines disagree). Σx² upgrades
    // to DECIMAL(38,0) past ~10¹⁰ rows (house q_spearman note).
    "q_anova" -> ((s, dir) => {
      val g = table(s, dir, "events")
        .selectExpr("event_type", s"$CentsSpark AS x")
        .groupBy("event_type")
        .agg(count(lit(1)).as("ng"), sum(col("x")).as("sx"),
          sum(expr("x * x")).as("sxx"))
      val per = g.selectExpr("ng", "sxx",
          s"${sumSqIiSpark("sx", "ng")} AS ii",
          s"${sumSqFrSpark("sx", "ng")} AS fr")
        .agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
          sum(col("sxx")).as("sxxt"), sum(col("ii")).as("i"),
          sum(expr("CAST(fr AS DECIMAL(18,12))")).as("f"))
      // grand-total branch: the same split on (Σx, n)
      val tot = g.agg(sum(col("sx")).as("sx"), sum(col("ng")).as("ng"))
        .selectExpr(s"${sumSqIiSpark("sx", "ng")} AS it",
          s"${sumSqFrSpark("sx", "ng")} AS ft")
      per.crossJoin(broadcast(tot))
        .selectExpr("k", "n",
          "round(CAST(i - it AS DOUBLE) + (CAST(f AS DOUBLE) - ft), 4) AS ssb",
          "round(CAST(CAST(sxxt AS DECIMAL(38,0)) - i AS DOUBLE)" +
            " - CAST(f AS DOUBLE), 4) AS ssw")
        .selectExpr("k", "n", "ssb", "ssw",
          "round((ssb / (CAST(k AS DOUBLE) - 1)) /" +
            " (ssw / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 6) AS f")
    }),

    // KRUSKAL-WALLIS H: the k-group rank extension of q_mannwhitney.
    // ONE pooled global rank (distributed Ranks selection, total order
    // (cents, event_id) — the pinned tie-broken contract) + one
    // per-group BIGINT rank-sum aggregate. ΣR_g²/n_g rides the exact
    // quotient/remainder split (see q_anova): H·n(n+1) = 12I − 3n(n+1)²
    // + 12F where the integer part G is computed EXACTLY in 128-bit and
    // only the final (G + 12F)/(n(n+1)) is float — deterministic at any
    // n, no DECIMAL(18,6) ceiling (the naive spelling crashed at sf0.1
    // with rg²/n_g ≈ 5·10¹³). Rank sums upgrade to DECIMAL(38,0) past
    // n ≈ 4·10⁹ (q_spearman house note).
    "q_kruskal" -> ((s, dir) => {
      val p = table(s, dir, "events")
        .selectExpr("event_type", s"$CentsSpark AS cents", "event_id")
        .withColumn("kk", lit(1))
      graft.operators.Ranks.withinKey(p, "kk", Seq("cents", "event_id"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("ng"), sum(col("rk")).as("rg"))
        .selectExpr("ng",
          s"${sumSqIiSpark("rg", "ng")} AS ii",
          s"${sumSqFrSpark("rg", "ng")} AS fr")
        .agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
          sum(col("ii")).as("i"),
          sum(expr("CAST(fr AS DECIMAL(18,12))")).as("f"))
        .selectExpr("k", "n",
          "12 * i - 3 * CAST(n AS DECIMAL(38,0)) * (n + 1) * (n + 1) AS g",
          "f")
        .selectExpr("k", "n",
          "round((CAST(g AS DOUBLE) + 12 * CAST(f AS DOUBLE))" +
            " / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)), 6) AS h")
    }),

    // DSIR importance-resampling selection (Data Selection via Importance
    // Resampling): score every raw document by Σ_f count_f(doc)·λ_f where
    // λ_f = ln p_target(f) − ln p_raw(f) over hashed word features
    // (add-1 smoothing), keep the top-k. Target = src0 (the curated
    // slice), raw = the rest. Scale shape: BOTH feature tables are
    // EXACTLY DsirBuckets rows (hashing bounds the vocabulary) so the
    // λ table broadcasts anywhere; the corpus side is one tokenize +
    // (doc, bucket) count + one broadcast join; top-k rides
    // TakeOrderedAndProject. Numeric contract: λ is pre-rounded to 8
    // decimals from ln of exact rationals, and each doc score is an
    // EXACT DECIMAL sum of count×λ products (the q_sprt walk pattern) —
    // display rounds once at the end.
    "q_dsir_select" -> ((s, dir) => {
      val words = table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          explode(split(col("text"), " ")).as("w"))
        .where(length(col("w")) > 0)
        .selectExpr("doc_id", "source",
          s"CAST(conv(substring(md5(concat('dsir:', w)), 1, 8), 16, 10) AS BIGINT)" +
            s" % $DsirBuckets AS f")
      val perDoc = words.groupBy("doc_id", "source", "f")
        .agg(count(lit(1)).as("c"))
      val tgt = words.where(col("source") === "src0")
        .groupBy("f").agg(count(lit(1)).as("tc"))
      val raw = words.where(col("source") =!= "src0")
        .groupBy("f").agg(count(lit(1)).as("rc"))
      // λ over the FULL bucket grid (absent buckets smooth to count 0):
      // totals are scalar subselects on the bounded grid, exact BIGINTs
      val grid = s.range(DsirBuckets).select(col("id").as("f"))
        .join(tgt, Seq("f"), "left_outer")
        .join(raw, Seq("f"), "left_outer")
        .selectExpr("f", "coalesce(tc, CAST(0 AS BIGINT)) AS tc",
          "coalesce(rc, CAST(0 AS BIGINT)) AS rc")
      val tots = grid.agg(sum(col("tc")).as("tt"), sum(col("rc")).as("rt"))
      val lam = grid.crossJoin(broadcast(tots))
        .selectExpr("f",
          s"CAST(round(ln((CAST(tc AS DOUBLE) + 1.0) / (CAST(tt AS DOUBLE) + $DsirBuckets))" +
            s" - ln((CAST(rc AS DOUBLE) + 1.0) / (CAST(rt AS DOUBLE) + $DsirBuckets)), 8)" +
            // DECIMAL(10,8), NOT (18,8): BIGINT(20,0) × DECIMAL(18,8)
            // needs precision 39 > 38, and Spark's allowPrecisionLoss
            // silently drops the product to scale 7 (caught live: every
            // score off at the 8th decimal). 20+10+1 = 31 keeps scale 8.
            " AS DECIMAL(10,8)) AS lam")
      perDoc.where(col("source") =!= "src0")
        .join(broadcast(lam), Seq("f"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_feats"), sum(col("c")).as("n_words"),
          sum(expr("c * lam")).as("sc"))
        // order by the EXACT decimal score (ties in the rounded display
        // value must not reorder the cut), doc_id tie-break
        .orderBy(desc("sc"), asc("doc_id")).limit(DsirTopK)
        // NO display re-round: sc is an exact 8-decimal DECIMAL, and
        // re-rounding to 6 ulp-flips half-boundary scores (caught live
        // at sf0.01, 3/50 rows off by 1e-6 — Spark decimal round is
        // HALF_UP, DuckDB's resolves the half the other way). The exact
        // decimal→double conversion is identical in both engines.
        .select(col("doc_id"), col("n_feats"), col("n_words"),
          expr("CAST(sc AS DOUBLE)").as("score"))
    }),

    // BOILERPLATE stripping by paragraph document frequency: a paragraph
    // seen in ≥ BoilerDf DISTINCT documents is chrome and every copy is
    // dropped (q_dedup_paragraph keeps the FIRST copy — different rule,
    // different output). One (para → distinct-doc count) aggregation
    // (map-side partials over the md5 of the paragraph, so the shuffle
    // carries hashes, not text), one join back, then the deterministic
    // sort-rebuild from q_clean_paragraph (struct(i, para) sort — never
    // order-dependent collect_list). Per-doc output row: kept/dropped
    // counts + md5 of the rebuilt text.
    "q_boilerplate" -> ((s, dir) => {
      val paras = table(s, dir, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), "\\. ")))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("i"),
          trim(col("col")).as("para"))
        .where(length(col("para")) > 0)
      val df = paras.groupBy("para")
        .agg(countDistinct(col("doc_id")).as("ndocs"))
      paras.join(df, "para")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_paras"),
          sum(when(col("ndocs") < BoilerDf, 1L).otherwise(0L)).as("n_kept"),
          // collect_list drops the NULL (boilerplate) entries; the struct
          // sort by unique i makes the rebuild partition-invariant, and a
          // doc whose EVERY paragraph is boilerplate rebuilds to md5('')
          // (the oracle coalesces its NULL string_agg to '' to match)
          md5(concat_ws(". ",
            sort_array(collect_list(when(col("ndocs") < BoilerDf,
              struct(col("i"), col("para"))))).getField("para")))
            .as("clean_md5"))
        .orderBy("doc_id")
    }),

    // NORMALIZED MUTUAL INFORMATION between the lang and source
    // partitions of the corpus: NMI = I(X;Y)/√(H(X)·H(Y)) from the
    // |langs|×|sources| contingency table — ONE partial-agg'd count
    // shuffle, then every entropy term is metadata-scale. Each cell's
    // n·ln(n·N/(nx·ny)) term is round-8 from exact integer rationals and
    // decimal-summed (house ln discipline), so the statistic is
    // engine-invariant. The "are these two groupings the same
    // clustering?" metric (label-vs-cluster agreement at full scale).
    "q_nmi" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val cell = d.groupBy("lang", "source").agg(count(lit(1)).as("nxy"))
      val nx = d.groupBy("lang").agg(count(lit(1)).as("nx"))
      val ny = d.groupBy("source").agg(count(lit(1)).as("ny"))
      val n = d.agg(count(lit(1)).as("n"))
      val mi = cell.join(broadcast(nx), "lang").join(broadcast(ny), "source")
        .crossJoin(broadcast(n))
        .agg(dsum(expr(
          "round(CAST(nxy AS DOUBLE) / CAST(n AS DOUBLE)" +
            " * ln(CAST(nxy AS DOUBLE) * CAST(n AS DOUBLE)" +
            " / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE))), 8)"), 8).as("mi"))
      val hx = nx.crossJoin(broadcast(n))
        .agg(dsum(expr(
          "round(-CAST(nx AS DOUBLE) / CAST(n AS DOUBLE)" +
            " * ln(CAST(nx AS DOUBLE) / CAST(n AS DOUBLE)), 8)"), 8).as("hx"))
      val hy = ny.crossJoin(broadcast(n))
        .agg(dsum(expr(
          "round(-CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)" +
            " * ln(CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)), 8)"), 8).as("hy"))
      n.crossJoin(mi).crossJoin(hx).crossJoin(hy)
        .selectExpr("n", "round(mi, 6) AS mi", "round(hx, 6) AS hx",
          "round(hy, 6) AS hy",
          "round(mi / sqrt(hx * hy), 6) AS nmi")
    }),

    // K-TRUSS peeling on the co-purchase supplier graph (same weight-≥-5
    // projection as q_triangles): per round, each surviving canonical
    // edge (u < v) counts its triangle support — common neighbors via
    // ONE adjacency⋈adjacency wedge join probed against the canonical
    // edge set — and edges with support < k−2 drop, for TrussRounds
    // bounded rounds (the q_kcore fixed-round contract; the oracle
    // unrolls identical rounds). The basket projection and each round's
    // survivor set are checkpointed — the wedge join is the expensive
    // stage and must not re-execute. Output: per-round survivor counts.
    "q_ktruss" -> ((s, dir) => {
      import graft.operators.Ckpt._
      val os = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .distinct()
      var und = os.alias("a").join(os.alias("b"), Seq("ok"))
        .where(col("a.sk") < col("b.sk"))
        .groupBy(col("a.sk").as("u"), col("b.sk").as("v"))
        .agg(count(lit(1)).as("w"))
        .where(col("w") >= TrussMinW).select("u", "v")
        .ckpt()
      val out = scala.collection.mutable.ArrayBuffer(
        und.agg(count(lit(1)).as("n_edges"))
          .select(lit(0L).as("round"), col("n_edges")))
      for (r <- 1 to TrussRounds) {
        val adj = und.select(col("u").as("x"), col("v").as("y"))
          .unionByName(und.select(col("v").as("x"), col("u").as("y")))
        val support = und
          .join(adj.select(col("x").as("u"), col("y").as("wn")), Seq("u"))
          .join(adj.select(col("x").as("v"), col("y").as("wn")), Seq("v", "wn"))
          .groupBy("u", "v").agg(count(lit(1)).as("sup"))
        und = und.join(
            support.where(col("sup") >= TrussK - 2).select("u", "v"),
            Seq("u", "v"), "left_semi")
          .ckpt()
        out += und.agg(count(lit(1)).as("n_edges"))
          .select(lit(r.toLong).as("round"), col("n_edges"))
      }
      out.reduce(_ unionByName _).orderBy("round")
    }),
  )

  /** One peel round of the k-truss oracle: survivors of e$i with
    * triangle support ≥ k−2 among e$i edges. MATERIALIZED — each e$i is
    * referenced 3× by the wedge join + the final counts (DuckDB's
    * default CTE inlining would re-execute the whole peel chain). */
  private def trussRoundSql(i: Int): String =
    s"""adj$i AS MATERIALIZED (
       |  SELECT u AS x, v AS y FROM e${i - 1}
       |  UNION ALL SELECT v, u FROM e${i - 1}
       |),
       |sup$i AS (
       |  SELECT e.u, e.v, count(*) AS sup
       |  FROM e${i - 1} e
       |  JOIN adj$i a1 ON a1.x = e.u
       |  JOIN adj$i a2 ON a2.x = e.v AND a2.y = a1.y
       |  GROUP BY e.u, e.v
       |),
       |e$i AS MATERIALIZED (
       |  SELECT e.u, e.v FROM e${i - 1} e
       |  JOIN sup$i s ON s.u = e.u AND s.v = e.v
       |  WHERE s.sup >= $TrussK - 2
       |)""".stripMargin

  val oracle: Map[String, String] = strictMap(

    "q_anova" ->
      s"""WITH g AS (
         |  SELECT event_type, count(*) AS ng,
         |    CAST(sum($centsSql) AS BIGINT) AS sx,
         |    CAST(sum($centsSql * $centsSql) AS BIGINT) AS sxx
         |  FROM events GROUP BY event_type
         |),
         |per AS (
         |  SELECT count(*) AS k, CAST(sum(ng) AS BIGINT) AS n,
         |    CAST(sum(sxx) AS BIGINT) AS sxxt,
         |    sum(${sumSqIiSql("sx", "ng")}) AS i,
         |    sum(CAST(${sumSqFrSql("sx", "ng")} AS DECIMAL(18,12))) AS f
         |  FROM g
         |),
         |tot AS (
         |  SELECT ${sumSqIiSql("sx", "ng")} AS it,
         |         ${sumSqFrSql("sx", "ng")} AS ft
         |  FROM (SELECT CAST(sum(sx) AS BIGINT) AS sx,
         |               CAST(sum(ng) AS BIGINT) AS ng FROM g)
         |),
         |b AS (
         |  SELECT k, n,
         |    round(CAST(i - it AS DOUBLE) + (CAST(f AS DOUBLE) - ft), 4) AS ssb,
         |    round(CAST(CAST(sxxt AS HUGEINT) - i AS DOUBLE)
         |          - CAST(f AS DOUBLE), 4) AS ssw
         |  FROM per CROSS JOIN tot
         |)
         |SELECT CAST(k AS BIGINT) AS k, n, ssb, ssw,
         |  round((ssb / (CAST(k AS DOUBLE) - 1)) /
         |        (ssw / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 6) AS f
         |FROM b""".stripMargin,

    "q_kruskal" ->
      s"""WITH p AS (
         |  SELECT event_type, $centsSql AS cents, event_id FROM events
         |),
         |r AS (
         |  SELECT event_type,
         |         row_number() OVER (ORDER BY cents, event_id) AS rk
         |  FROM p
         |),
         |g AS (
         |  SELECT event_type, count(*) AS ng, CAST(sum(rk) AS BIGINT) AS rg
         |  FROM r GROUP BY event_type
         |),
         |a AS (
         |  SELECT count(*) AS k, CAST(sum(ng) AS BIGINT) AS n,
         |    sum(${sumSqIiSql("rg", "ng")}) AS i,
         |    sum(CAST(${sumSqFrSql("rg", "ng")} AS DECIMAL(18,12))) AS f
         |  FROM g
         |),
         |b AS (
         |  SELECT k, n,
         |    12 * i - 3 * CAST(n AS HUGEINT) * (n + 1) * (n + 1) AS g,
         |    f
         |  FROM a
         |)
         |SELECT CAST(k AS BIGINT) AS k, n,
         |  round((CAST(g AS DOUBLE) + 12 * CAST(f AS DOUBLE))
         |        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)), 6) AS h
         |FROM b""".stripMargin,

    "q_dsir_select" ->
      s"""WITH w0 AS (
         |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
         |  FROM documents
         |),
         |words AS (
         |  SELECT doc_id, source,
         |    ${hex2longSql("md5('dsir:' || w)", 1)} % $DsirBuckets AS f
         |  FROM w0 WHERE length(w) > 0
         |),
         |per_doc AS (
         |  SELECT doc_id, source, f, count(*) AS c
         |  FROM words GROUP BY 1, 2, 3
         |),
         |grid AS (
         |  SELECT g.f,
         |    coalesce(t.tc, 0) AS tc, coalesce(r.rc, 0) AS rc
         |  FROM (SELECT CAST(unnest(range($DsirBuckets)) AS BIGINT) AS f) g
         |  LEFT JOIN (SELECT f, count(*) AS tc FROM words
         |             WHERE source = 'src0' GROUP BY f) t ON t.f = g.f
         |  LEFT JOIN (SELECT f, count(*) AS rc FROM words
         |             WHERE source <> 'src0' GROUP BY f) r ON r.f = g.f
         |),
         |lam AS (
         |  SELECT f,
         |    CAST(round(
         |      ln((CAST(tc AS DOUBLE) + 1.0) /
         |         ((SELECT CAST(sum(tc) AS DOUBLE) FROM grid) + $DsirBuckets))
         |      - ln((CAST(rc AS DOUBLE) + 1.0) /
         |         ((SELECT CAST(sum(rc) AS DOUBLE) FROM grid) + $DsirBuckets)), 8)
         |      AS DECIMAL(18,8)) AS lam
         |  FROM grid
         |),
         |sc AS (
         |  SELECT p.doc_id, count(*) AS n_feats,
         |    CAST(sum(p.c) AS BIGINT) AS n_words,
         |    sum(p.c * l.lam) AS sc
         |  FROM per_doc p JOIN lam l ON l.f = p.f
         |  WHERE p.source <> 'src0'
         |  GROUP BY p.doc_id
         |)
         |SELECT doc_id, n_feats, n_words,
         |  CAST(sc AS DOUBLE) AS score
         |FROM sc ORDER BY sc DESC, doc_id LIMIT $DsirTopK""".stripMargin,

    "q_boilerplate" ->
      s"""WITH arr AS (
         |  SELECT doc_id, regexp_split_to_array(text, '\\. ') AS a FROM documents
         |),
         |xs AS (
         |  SELECT doc_id, a, unnest(generate_series(1, len(a))) AS i FROM arr
         |),
         |paras AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS i, trim(a[i]) AS para
         |  FROM xs WHERE length(trim(a[i])) > 0
         |),
         |df AS (
         |  SELECT para, count(DISTINCT doc_id) AS ndocs
         |  FROM paras GROUP BY para
         |),
         |j AS (
         |  SELECT p.doc_id, p.i, p.para, d.ndocs
         |  FROM paras p JOIN df d ON d.para = p.para
         |)
         |SELECT doc_id, count(*) AS n_paras,
         |  CAST(sum(CASE WHEN ndocs < $BoilerDf THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_kept,
         |  md5(coalesce(string_agg(CASE WHEN ndocs < $BoilerDf THEN para END,
         |      '. ' ORDER BY i), '')) AS clean_md5
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_nmi" ->
      s"""WITH n AS (SELECT count(*) AS n FROM documents),
         |cell AS (
         |  SELECT lang, source, count(*) AS nxy FROM documents GROUP BY 1, 2
         |),
         |nx AS (SELECT lang, count(*) AS nx FROM documents GROUP BY lang),
         |ny AS (SELECT source, count(*) AS ny FROM documents GROUP BY source),
         |mi AS (
         |  SELECT ${dsumSql(
           "round(CAST(nxy AS DOUBLE) / CAST(n AS DOUBLE) * ln(CAST(nxy AS DOUBLE) * CAST(n AS DOUBLE) / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE))), 8)", 8)} AS mi
         |  FROM cell JOIN nx USING (lang) JOIN ny USING (source) CROSS JOIN n
         |),
         |hx AS (
         |  SELECT ${dsumSql(
           "round(-CAST(nx AS DOUBLE) / CAST(n AS DOUBLE) * ln(CAST(nx AS DOUBLE) / CAST(n AS DOUBLE)), 8)", 8)} AS hx
         |  FROM nx CROSS JOIN n
         |),
         |hy AS (
         |  SELECT ${dsumSql(
           "round(-CAST(ny AS DOUBLE) / CAST(n AS DOUBLE) * ln(CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)), 8)", 8)} AS hy
         |  FROM ny CROSS JOIN n
         |)
         |SELECT n, round(mi, 6) AS mi, round(hx, 6) AS hx,
         |  round(hy, 6) AS hy, round(mi / sqrt(hx * hy), 6) AS nmi
         |FROM n CROSS JOIN mi CROSS JOIN hx CROSS JOIN hy""".stripMargin,

    "q_ktruss" ->
      s"""WITH os AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
         |),
         |e0 AS MATERIALIZED (
         |  SELECT a.sk AS u, b.sk AS v
         |  FROM os a JOIN os b ON a.ok = b.ok AND a.sk < b.sk
         |  GROUP BY 1, 2 HAVING count(*) >= $TrussMinW
         |),
         |${(1 to TrussRounds).map(trussRoundSql).mkString(",\n")}
         |${(0 to TrussRounds).map(i =>
           s"SELECT CAST($i AS BIGINT) AS round, count(*) AS n_edges FROM e$i")
           .mkString("\nUNION ALL ")}
         |ORDER BY round""".stripMargin,
  )
}

/** Wave-10 additions: the remaining nonparametric-testing family plus a
  * second differential-privacy release — Wilcoxon signed-rank (the
  * PAIRED "did the metric move?" test completing the
  * Mann-Whitney/Kruskal set), Friedman's blocked rank test (k
  * treatments judged within each calendar-day block — the "same panel,
  * many variants" design), and a differentially-private median via the
  * exponential mechanism with replayable PRF Gumbel noise (pairs with
  * q_dp_hist's Laplace release).
  *
  * Determinism: ranks are [[graft.operators.Ranks]] global ranks under
  * tie-broken total orders (or block-local row_numbers over
  * constant-size blocks), every statistic's integer core is exact, the
  * DP score is an exact dyadic multiple (×0.125) of an integer utility
  * plus round-8 PRF noise, and every query ends totally ordered.
  */
object Wave10 extends Catalog {

  /** Integer-cents quantization of the events `value` double. */
  private val CentsSpark =
    "CAST(floor(CAST(value AS DOUBLE)*100 + 0.5) AS BIGINT)"
  private def centsSql = "CAST(floor(CAST(value AS DOUBLE)*100 + 0.5) AS BIGINT)"

  /** Micros-per-day (q_sprt day bucketing). */
  private val DayUs = "86400000000"

  /** q_dp_quantile: bucket grid (fixed — every post-count stage is
    * metadata) and bucket width in cents of per-user total spend. */
  private val DpqBuckets = 20
  private val DpqWidth = 100000

  val queries: Map[String, Q] = strictMap(

    // WILCOXON SIGNED-RANK on paired daily (click − purchase) cents
    // totals: the paired two-sample test the A/B family still lacked.
    // ONE (day) shuffle builds the calendar-bounded pair list; zero
    // differences drop (the textbook rule); |d| ranks come from the
    // distributed Ranks selection under the total order (|d|, day); W⁺
    // and the tie-free normal approximation are exact-integer + one
    // identically-spelled float chain.
    "q_wilcoxon" -> ((s, dir) => {
      val daily = table(s, dir, "events")
        .selectExpr(s"unix_micros(ts) DIV $DayUs AS day", "event_type",
          s"$CentsSpark AS cents")
        .groupBy("day")
        .agg((sum(when(col("event_type") === "click", col("cents"))
            .otherwise(0L)) -
          sum(when(col("event_type") === "purchase", col("cents"))
            .otherwise(0L))).as("d"))
        .where(col("d") =!= 0L)
        .withColumn("absd", abs(col("d")))
        .withColumn("kk", lit(1))
      graft.operators.Ranks.withinKey(daily, "kk", Seq("absd", "day"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("d") > 0, col("rk")).otherwise(0L)).as("wplus"))
        .selectExpr("n", "wplus",
          "round((CAST(wplus AS DOUBLE)" +
            " - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 4.0)" +
            " / sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)" +
            " * (2.0 * CAST(n AS DOUBLE) + 1.0) / 24.0), 6) AS z")
    }),

    // FRIEDMAN blocked rank test: within each complete calendar-day
    // block, the k event types rank by daily cents (row_number over a
    // CONSTANT-k block — the one window in the family, bounded by k
    // rows per partition at any scale). Incomplete blocks (a day
    // missing some type) drop, per the textbook design. χ²_F rides the
    // exact-integer numerator G = 12·ΣR_j² − 3·n²·k·(k+1)² over the
    // n·k·(k+1) denominator — one float division at the end (ΣR_j² ≤
    // n²k³: DECIMAL(38,0) upgrade past n ≈ 10⁸ blocks, house note).
    "q_friedman" -> ((s, dir) => {
      val daily = table(s, dir, "events")
        .selectExpr(s"unix_micros(ts) DIV $DayUs AS day", "event_type",
          s"$CentsSpark AS cents")
        .groupBy("day", "event_type")
        .agg(sum(col("cents")).as("c"))
      val k = daily.select("event_type").distinct().count()
      val complete = daily.groupBy("day")
        .agg(count(lit(1)).as("nt")).where(col("nt") === k)
        .select("day")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("day").orderBy("c", "event_type")
      val ranks = daily.join(complete, "day")
        .withColumn("rk", row_number().over(w))
      val rj = ranks.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("rk")).as("rj"))
      rj.agg(count(lit(1)).as("k"), max(col("n")).as("n"),
          sum(expr("rj * rj")).as("sr2"))
        .selectExpr("k", "n",
          "12 * sr2 - 3 * n * n * k * (k + 1) * (k + 1) AS g")
        .selectExpr("k", "n",
          "round(CAST(g AS DOUBLE) / (CAST(n AS DOUBLE) * k * (k + 1)), 6)" +
            " AS chi2_f")
    }),

    // DIFFERENTIALLY-PRIVATE MEDIAN of per-user total spend via the
    // EXPONENTIAL MECHANISM over a fixed bucket grid: utility u_b =
    // −|2·cum_b − n| (exact integer, sensitivity 2), score = 0.125·u_b
    // (an EXACT dyadic multiple — ε = 0.5, Δu = 2, so ε/(2Δu) = 2⁻³ and
    // the multiply is lossless in IEEE) plus replayable Gumbel noise
    // g_b = −ln(−ln(u)) from the same md5-PRF grid as q_dp_hist (inner
    // ln round-8 BEFORE the outer — both engines see identical
    // arguments). Argmax with smaller-bucket tie-break = the released
    // bucket. ONE data-scale count shuffle; the grid is metadata.
    "q_dp_quantile" -> ((s, dir) => {
      val b = table(s, dir, "events")
        .selectExpr("user_id", s"$CentsSpark AS cents")
        .groupBy("user_id").agg(sum(col("cents")).as("x"))
        .selectExpr(s"least(x DIV $DpqWidth, ${DpqBuckets - 1}) AS bkt")
        .groupBy("bkt").agg(count(lit(1)).as("nb"))
      val grid = s.range(DpqBuckets).select(col("id").as("bkt"))
        .join(b, Seq("bkt"), "left_outer")
        .selectExpr("bkt", "coalesce(nb, CAST(0 AS BIGINT)) AS nb")
      val tot = grid.agg(sum(col("nb")).as("n"))
      val cum = grid.alias("g")
        .join(grid.alias("h"), col("h.bkt") <= col("g.bkt"))
        .groupBy(col("g.bkt").as("bkt"), col("g.nb").as("nb"))
        .agg(sum(col("h.nb")).as("cum"))
      val scored = cum.crossJoin(broadcast(tot))
        .withColumn("u", expr("-abs(2 * cum - n)"))
        .withColumn("j", expr(
          "CAST(conv(substring(md5(concat('dpq:', CAST(bkt AS STRING))), 1, 8)," +
            " 16, 10) AS BIGINT) % 1000000"))
        .withColumn("lnu", expr(
          "round(ln(CAST(2*j + 1 AS DOUBLE) / 2000000.0), 8)"))
        .withColumn("gmb", expr("round(-ln(-lnu), 8)"))
        .withColumn("score", expr("round(0.125 * u + gmb, 8)"))
      val top = scored.orderBy(desc("score"), asc("bkt")).limit(1)
        .select(col("bkt").as("chosen"))
      scored.crossJoin(broadcast(top))
        .selectExpr("bkt", "nb", "cum", "u", "score",
          "CAST(bkt = chosen AS BOOLEAN) AS chosen")
        .orderBy("bkt")
    }),
  )

  val oracle: Map[String, String] = strictMap(

    "q_wilcoxon" ->
      s"""WITH daily AS (
         |  SELECT epoch_us(ts) // $DayUs AS day,
         |    CAST(sum(CASE WHEN event_type = 'click' THEN $centsSql
         |             ELSE 0 END)
         |      - sum(CASE WHEN event_type = 'purchase' THEN $centsSql
         |             ELSE 0 END) AS BIGINT) AS d
         |  FROM events GROUP BY 1
         |),
         |nz AS (SELECT day, d, abs(d) AS absd FROM daily WHERE d <> 0),
         |r AS (
         |  SELECT d, row_number() OVER (ORDER BY absd, day) AS rk FROM nz
         |),
         |a AS (
         |  SELECT count(*) AS n,
         |    CAST(sum(CASE WHEN d > 0 THEN rk ELSE 0 END) AS BIGINT) AS wplus
         |  FROM r
         |)
         |SELECT CAST(n AS BIGINT) AS n, wplus,
         |  round((CAST(wplus AS DOUBLE)
         |    - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 4.0)
         |    / sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
         |    * (2.0 * CAST(n AS DOUBLE) + 1.0) / 24.0), 6) AS z
         |FROM a""".stripMargin,

    "q_friedman" ->
      s"""WITH daily AS (
         |  SELECT epoch_us(ts) // $DayUs AS day, event_type,
         |    CAST(sum($centsSql) AS BIGINT) AS c
         |  FROM events GROUP BY 1, 2
         |),
         |kk AS (SELECT count(DISTINCT event_type) AS k FROM daily),
         |complete AS (
         |  SELECT day FROM daily GROUP BY day
         |  HAVING count(*) = (SELECT k FROM kk)
         |),
         |ranks AS (
         |  SELECT d.event_type,
         |    row_number() OVER (PARTITION BY d.day
         |                       ORDER BY d.c, d.event_type) AS rk
         |  FROM daily d JOIN complete USING (day)
         |),
         |rj AS (
         |  SELECT event_type, count(*) AS n, CAST(sum(rk) AS BIGINT) AS rj
         |  FROM ranks GROUP BY event_type
         |),
         |a AS (
         |  SELECT count(*) AS k, CAST(max(n) AS BIGINT) AS n,
         |    CAST(sum(rj * rj) AS BIGINT) AS sr2
         |  FROM rj
         |)
         |SELECT CAST(k AS BIGINT) AS k, n,
         |  round(CAST(12 * sr2 - 3 * n * n * k * (k + 1) * (k + 1) AS DOUBLE)
         |    / (CAST(n AS DOUBLE) * k * (k + 1)), 6) AS chi2_f
         |FROM a""".stripMargin,

    "q_dp_quantile" ->
      s"""WITH b AS (
         |  SELECT least(x // $DpqWidth, ${DpqBuckets - 1}) AS bkt,
         |    count(*) AS nb
         |  FROM (SELECT user_id, CAST(sum($centsSql) AS BIGINT) AS x
         |        FROM events GROUP BY user_id)
         |  GROUP BY 1
         |),
         |grid AS (
         |  SELECT g.f AS bkt, CAST(coalesce(b.nb, 0) AS BIGINT) AS nb
         |  FROM (SELECT CAST(unnest(range($DpqBuckets)) AS BIGINT) AS f) g
         |  LEFT JOIN b ON b.bkt = g.f
         |),
         |cum AS (
         |  SELECT g.bkt, g.nb, CAST(sum(h.nb) AS BIGINT) AS cum
         |  FROM grid g JOIN grid h ON h.bkt <= g.bkt
         |  GROUP BY g.bkt, g.nb
         |),
         |scored AS (
         |  SELECT bkt, nb, cum,
         |    -abs(2 * cum - (SELECT CAST(sum(nb) AS BIGINT) FROM grid)) AS u,
         |    ${hex2longSql("md5('dpq:' || CAST(bkt AS VARCHAR))", 1)} % 1000000 AS j
         |  FROM cum
         |),
         |noised AS (
         |  SELECT bkt, nb, cum, u,
         |    round(0.125 * u
         |      + round(-ln(-round(ln(CAST(2*j + 1 AS DOUBLE) / 2000000.0), 8)),
         |              8), 8) AS score
         |  FROM scored
         |),
         |top AS (SELECT bkt AS chosen FROM noised
         |        ORDER BY score DESC, bkt LIMIT 1)
         |SELECT bkt, nb, cum, u, score,
         |  bkt = (SELECT chosen FROM top) AS chosen
         |FROM noised ORDER BY bkt""".stripMargin,
  )
}

/** Wave-13 additions: epidemiology-grade comparison statistics and
  * corpus-estimation primitives —
  *
  *  - two-arm log-rank test on time-to-first-purchase (the survival
  *    A/B read-out the Kaplan-Meier curve of q_survival stops short
  *    of: "is arm 1's conversion hazard actually different?"),
  *  - Mantel-Haenszel pooled odds ratio across language strata (the
  *    confounder-adjusted effect estimate behind every stratified
  *    quality audit — q_simpson shows the paradox, this is the
  *    estimator that resolves it),
  *  - Chapman capture-recapture audience estimate from two
  *    observation windows (estimate the CLOSED population you never
  *    fully observe — the coverage-estimation trick for "how many
  *    users/dup-pairs exist beyond what either window saw"),
  *  - Good-Turing frequency-of-frequencies smoothing over the corpus
  *    vocabulary (unseen-mass p₀ = N₁/N and the Turing-adjusted
  *    counts r* — the open-vocabulary accounting q_vocab_oov's raw
  *    OOV rate approximates),
  *  - temperature-based multilingual resampling weights (the XLM-R /
  *    mT5 α-sampling staple), at α = ½ so the power is an exact IEEE
  *    sqrt on BOTH engines — no cross-engine pow/exp hazard.
  *
  * Determinism: every statistic reduces to exact BIGINT counts off
  * one partial-agg'd shuffle; float chains are per-term round-8 →
  * decimal sum → terminal round, and the only transcendental is
  * sqrt (correctly rounded IEEE in both engines).
  */
object Wave13 extends Catalog {

  /** Censoring horizon (hours) for the log-rank arms — matches
    * q_survival's administrative-censoring contract. */
  private val Tau = 72L
  private val HourUs = 3600L * 1000000L
  private val DayUs = 24L * HourUs

  /** Outcome threshold for the Mantel-Haenszel 2×2 tables: "long
    * document" at roughly the corpus median length. */
  private val MhLen = 300L

  val queries: Map[String, Q] = strictMap(

    // TWO-ARM LOG-RANK TEST on time-to-first-purchase (censored at
    // Tau, the q_survival framing), arms = user_id parity. Per event
    // time t: O−E contribution d_t·n1_t/n_t and hypergeometric
    // variance d_t·n1_t·n0_t·(n_t−d_t)/(n_t²·(n_t−1)) from exact
    // BIGINT at-risk/death counts; z = (O₁−E₁)/√V one terminal chain.
    // Scale: ONE per-user shuffle builds the duration labels; the
    // at-risk cumulative windows run on the ≤ 2·(Tau+2)-row duration
    // grid, never the user table.
    "q_logrank" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = table(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          (unix_micros(col("ts")) / HourUs).cast("long").as("h"))
      val u = e.groupBy("user_id").agg(min("h").as("fh"))
      val p = e.where(col("event_type") === "purchase")
        .groupBy("user_id").agg(min("h").as("ph"))
      val lab = u.join(p, Seq("user_id"), "left")
        .select((col("user_id") % 2).cast("long").as("arm"),
          least(coalesce(col("ph") - col("fh"), lit(Tau + 1)), lit(Tau))
            .as("dur"),
          when(col("ph").isNotNull && col("ph") - col("fh") <= Tau, 1L)
            .otherwise(0L).as("death"))
      // ckpt: the duration grid has FIVE consumers (dur/arm distincts,
      // the grid join, armTot, risk) — unmaterialized, each re-executes
      // the per-user shuffle (plan audit: 27 Exchanges before)
      val byd = lab.groupBy("dur", "arm")
        .agg(count(lit(1)).as("n_tot"), sum("death").as("d")).ckpt()
      // full dur × arm grid: an arm absent at a duration still has an
      // at-risk count there, so the cumulative must see a 0 row
      val grid = byd.select("dur").distinct()
        .crossJoin(byd.select("arm").distinct())
        .join(byd, Seq("dur", "arm"), "left")
        .na.fill(0L, Seq("n_tot", "d")).ckpt()
      val armTot = grid.groupBy("arm").agg(sum("n_tot").as("n_arm"))
      val prev = Window.partitionBy("arm").orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, -1)
      val risk = grid.join(broadcast(armTot), Seq("arm"))
        .withColumn("n_risk",
          (col("n_arm") - coalesce(sum("n_tot").over(prev), lit(0L)))
            .cast("long"))
      val t = risk.groupBy("dur")
        .agg(sum("n_risk").as("nt"), sum("d").as("dt"),
          sum(when(col("arm") === 1L, col("n_risk")).otherwise(0L)).as("n1"),
          sum(when(col("arm") === 1L, col("d")).otherwise(0L)).as("d1"))
        .where(col("dt") > 0)
        .withColumn("eterm",
          expr("round(CAST(dt AS DOUBLE) * n1 / nt, 8)"))
        .withColumn("vterm", expr(
          "CASE WHEN nt > 1 THEN round(CAST(dt AS DOUBLE) * n1 * (nt - n1)" +
            " * (nt - dt) / (CAST(nt AS DOUBLE) * nt * (nt - 1)), 8)" +
            " ELSE CAST(0.0 AS DOUBLE) END"))
      val arms = armTot.groupBy()
        .agg(sum(when(col("arm") === 0L, col("n_arm")).otherwise(0L))
            .cast("long").as("n_arm0"),
          sum(when(col("arm") === 1L, col("n_arm")).otherwise(0L))
            .cast("long").as("n_arm1"))
      t.agg(sum("d1").cast("long").as("o1"),
          dsum(col("eterm"), 8).as("e1"), dsum(col("vterm"), 8).as("v"))
        .crossJoin(broadcast(arms))
        .selectExpr("n_arm0", "n_arm1", "o1", "round(e1, 6) AS e1",
          "round(v, 6) AS v",
          "round((o1 - e1) / sqrt(v), 6) AS z")
    }),

    // MANTEL-HAENSZEL pooled odds ratio across lang strata: exposure =
    // even-numbered source, outcome = n_chars > MhLen. OR_MH =
    // Σ(a·d/n) / Σ(b·c/n) with round-8 terms and decimal sums — the
    // confounder-adjusted single number behind q_simpson's paradox
    // audit. Per-stratum ORs ride along (NULL when a zero cell makes
    // them undefined). One count shuffle; the grid is |langs| rows.
    "q_mh_or" -> ((s, dir) => {
      // ckpt below: the cell grid feeds pooled AND the final projection —
      // unmaterialized, the corpus count shuffle runs twice
      val cell = table(s, dir, "documents")
        .select(col("lang"),
          expr("CAST(substring(source, 4) AS INT) % 2 = 0").as("ex"),
          (col("n_chars") > MhLen).as("oc"))
        .groupBy("lang").agg(
          sum(when(col("ex") && col("oc"), 1L).otherwise(0L)).as("a"),
          sum(when(col("ex") && !col("oc"), 1L).otherwise(0L)).as("b"),
          sum(when(!col("ex") && col("oc"), 1L).otherwise(0L)).as("c"),
          sum(when(!col("ex") && !col("oc"), 1L).otherwise(0L)).as("d"))
        .withColumn("n", (col("a") + col("b") + col("c") + col("d")))
        .withColumn("or_stratum", expr(
          "CASE WHEN b * c > 0 THEN" +
            " round(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c), 6)" +
            " END"))
        .withColumn("rterm", expr("round(CAST(a AS DOUBLE) * d / n, 8)"))
        .withColumn("sterm", expr("round(CAST(b AS DOUBLE) * c / n, 8)"))
        .ckpt()
      val pooled = cell
        .agg(dsum(col("rterm"), 8).as("rr"), dsum(col("sterm"), 8).as("ss"))
        .selectExpr("round(rr / ss, 6) AS or_mh")
      cell.crossJoin(broadcast(pooled))
        .selectExpr("lang", "a", "b", "c", "d", "or_stratum", "or_mh")
        .orderBy("lang")
    }),

    // CHAPMAN CAPTURE-RECAPTURE estimate of the month's true active
    // audience from two week-long observation windows: N̂ =
    // (n₁+1)(n₂+1)/(m+1) − 1 (and the classic Lincoln-Petersen
    // n₁n₂/m), compared against the fully-observed truth. The same
    // estimator audits dedup-detector coverage (two independent
    // detectors' overlap → total dup population). ONE per-user
    // shuffle computes both marks and the truth; everything after is
    // a 1-row grid.
    "q_capture_recapture" -> ((s, dir) => {
      val e = table(s, dir, "events")
        .select(col("user_id"),
          (unix_micros(col("ts")) / DayUs).cast("long").as("day"))
      val d0 = e.agg(min("day").as("d0"))
      val per = e.crossJoin(broadcast(d0))
        .select(col("user_id"), (col("day") - col("d0")).as("rd"))
        .groupBy("user_id").agg(
          max(when(col("rd") < 7, 1L).otherwise(0L)).as("ia"),
          max(when(col("rd") >= 7 && col("rd") < 14, 1L).otherwise(0L))
            .as("ib"))
      per.agg(sum("ia").cast("long").as("n1"),
          sum("ib").cast("long").as("n2"),
          sum(when(col("ia") === 1L && col("ib") === 1L, 1L).otherwise(0L))
            .cast("long").as("m"),
          count(lit(1)).as("n_true"))
        .selectExpr("n1", "n2", "m", "n_true",
          "round((CAST(n1 AS DOUBLE) + 1) * (n2 + 1) / (m + 1) - 1, 4)" +
            " AS chapman",
          "round(CAST(n1 AS DOUBLE) * n2 / m, 4) AS lincoln",
          "round(((CAST(n1 AS DOUBLE) + 1) * (n2 + 1) / (m + 1) - 1" +
            " - n_true) / n_true, 6) AS rel_err")
    }),

    // GOOD-TURING frequency-of-frequencies over corpus word TRIGRAMS
    // (the shingle unit of the dedup family — the synthetic unigram
    // vocabulary is a dense 31-word closed set with min count ≫ 10,
    // so the rare-count tail Good-Turing models only exists at the
    // n-gram level): N_r = |{trigram types seen exactly r times}|,
    // unseen probability mass p₀ = N₁/N, and the Turing-adjusted
    // count r* = (r+1)·N_{r+1}/N_r for r ≤ 10 (the small-r region
    // where the raw estimate is the recipe; beyond it N_r is sparse
    // and a fit takes over — documented contract). Scale: trigram
    // counts partial-agg one shuffle; the count-of-counts table has
    // |distinct r| rows — metadata at any corpus size.
    "q_good_turing" -> ((s, dir) => {
      import graft.operators.Tokenize
      val wc = table(s, dir, "documents")
        .select(split(col("text"), Tokenize.Delim).as("a"))
        .where(expr("size(a) >= 3"))
        .select(expr("explode(sequence(1, size(a) - 2))").as("i"), col("a"))
        .select(expr("element_at(a, i)").as("w1"),
          expr("element_at(a, i + 1)").as("w2"),
          expr("element_at(a, i + 2)").as("w3"))
        .where(Tokenize.keep(col("w1")) && Tokenize.keep(col("w2")) &&
          Tokenize.keep(col("w3")))
        .groupBy(concat_ws(" ", col("w1"), col("w2"), col("w3")).as("g"))
        .agg(count(lit(1)).as("r"))
      // ckpt: fof has THREE consumers (tot, the r+1 self-join, the final
      // projection) — unmaterialized, each re-runs the corpus trigram
      // explode (plan audit: 8 Exchanges before)
      val fof = wc.groupBy("r").agg(count(lit(1)).as("n_r")).ckpt()
      val tot = fof.agg(sum(expr("r * n_r")).cast("long").as("nn"),
        sum(when(col("r") === 1L, col("n_r")).otherwise(0L)).cast("long")
          .as("n1"))
      val nxt = fof.select((col("r") - 1).as("r"), col("n_r").as("n_next"))
      fof.join(nxt, Seq("r"), "left")
        .crossJoin(broadcast(tot))
        .where(col("r") <= 10)
        .selectExpr("r", "n_r",
          "round(CAST(r + 1 AS DOUBLE) * coalesce(n_next, 0) / n_r, 6)" +
            " AS r_star",
          "round(CAST(n1 AS DOUBLE) / nn, 8) AS p0_unseen")
        .orderBy("r")
    }),

    // TEMPERATURE-BASED MULTILINGUAL RESAMPLING (the XLM-R / mT5
    // α-sampling recipe) at α = ½: p_l ∝ n_l^α flattens the language
    // distribution so low-resource langs up-sample. α = ½ makes the
    // power an exact IEEE sqrt (correctly rounded in BOTH engines) —
    // no cross-engine pow/exp drift; weights round-8, decimal-summed,
    // one terminal division each. Complements q_mix_sources (exact
    // target-ratio mixing): this derives the ratios FROM the corpus.
    // One |langs|-row aggregate; everything else metadata.
    "q_alpha_sampling" -> ((s, dir) => {
      // ckpt: nl feeds the weight sum, the total, and the final row —
      // three corpus scans without it
      val nl = table(s, dir, "documents").groupBy("lang")
        .agg(sum("n_chars").cast("long").as("n_l")).ckpt()
      val wsum = nl
        .select(expr("round(sqrt(CAST(n_l AS DOUBLE)), 8)").as("w"))
        .agg(dsum(col("w"), 8).as("sw"))
      val tot = nl.agg(sum("n_l").cast("long").as("nn"))
      nl.crossJoin(broadcast(wsum)).crossJoin(broadcast(tot))
        .selectExpr("lang", "n_l",
          "round(CAST(n_l AS DOUBLE) / nn, 8) AS share",
          "round(round(sqrt(CAST(n_l AS DOUBLE)), 8) / sw, 8) AS p_alpha",
          "round(round(sqrt(CAST(n_l AS DOUBLE)), 8) / sw" +
            " / (CAST(n_l AS DOUBLE) / nn), 6) AS boost")
        .orderBy("lang")
    }),
  )

  val oracle: Map[String, String] = strictMap(

    "q_logrank" ->
      s"""WITH e AS (
         |  SELECT user_id, event_type,
         |    CAST(epoch_us(ts) // $HourUs AS BIGINT) AS h
         |  FROM events
         |),
         |u AS (SELECT user_id, min(h) AS fh FROM e GROUP BY user_id),
         |p AS (SELECT user_id, min(h) AS ph FROM e
         |      WHERE event_type = 'purchase' GROUP BY user_id),
         |lab AS (
         |  SELECT CAST(u.user_id % 2 AS BIGINT) AS arm,
         |    least(coalesce(p.ph - u.fh, ${Tau + 1}), $Tau) AS dur,
         |    CASE WHEN p.ph IS NOT NULL AND p.ph - u.fh <= $Tau
         |      THEN 1 ELSE 0 END AS death
         |  FROM u LEFT JOIN p ON p.user_id = u.user_id
         |),
         |byd AS (
         |  SELECT dur, arm, count(*) AS n_tot, sum(death) AS d
         |  FROM lab GROUP BY dur, arm
         |),
         |grid AS (
         |  SELECT ds.dur, ar.arm,
         |    coalesce(byd.n_tot, 0) AS n_tot, coalesce(byd.d, 0) AS d
         |  FROM (SELECT DISTINCT dur FROM byd) ds
         |  CROSS JOIN (SELECT DISTINCT arm FROM byd) ar
         |  LEFT JOIN byd ON byd.dur = ds.dur AND byd.arm = ar.arm
         |),
         |at AS (SELECT arm, CAST(sum(n_tot) AS BIGINT) AS n_arm
         |       FROM grid GROUP BY arm),
         |risk AS (
         |  SELECT grid.*, at.n_arm,
         |    CAST(at.n_arm - coalesce(sum(grid.n_tot) OVER (
         |      PARTITION BY grid.arm ORDER BY grid.dur
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS n_risk
         |  FROM grid JOIN at ON at.arm = grid.arm
         |),
         |t AS (
         |  SELECT dur, sum(n_risk) AS nt, sum(d) AS dt,
         |    sum(CASE WHEN arm = 1 THEN n_risk ELSE 0 END) AS n1,
         |    sum(CASE WHEN arm = 1 THEN d ELSE 0 END) AS d1
         |  FROM risk GROUP BY dur
         |),
         |tt AS (
         |  SELECT *,
         |    round(CAST(dt AS DOUBLE) * n1 / nt, 8) AS eterm,
         |    CASE WHEN nt > 1 THEN round(CAST(dt AS DOUBLE) * n1 * (nt - n1)
         |      * (nt - dt) / (CAST(nt AS DOUBLE) * nt * (nt - 1)), 8)
         |      ELSE CAST(0.0 AS DOUBLE) END AS vterm
         |  FROM t WHERE dt > 0
         |),
         |arms AS (
         |  SELECT
         |    CAST(sum(CASE WHEN arm = 0 THEN n_arm ELSE 0 END) AS BIGINT)
         |      AS n_arm0,
         |    CAST(sum(CASE WHEN arm = 1 THEN n_arm ELSE 0 END) AS BIGINT)
         |      AS n_arm1
         |  FROM at
         |),
         |s AS (
         |  SELECT CAST(sum(d1) AS BIGINT) AS o1,
         |    ${dsumSql("eterm", 8)} AS e1, ${dsumSql("vterm", 8)} AS v
         |  FROM tt
         |)
         |SELECT n_arm0, n_arm1, o1, round(e1, 6) AS e1, round(v, 6) AS v,
         |  round((o1 - e1) / sqrt(v), 6) AS z
         |FROM s CROSS JOIN arms""".stripMargin,

    "q_mh_or" ->
      s"""WITH cell AS (
         |  SELECT lang,
         |    CAST(sum(CASE WHEN ex AND oc THEN 1 ELSE 0 END) AS BIGINT) AS a,
         |    CAST(sum(CASE WHEN ex AND NOT oc THEN 1 ELSE 0 END) AS BIGINT)
         |      AS b,
         |    CAST(sum(CASE WHEN NOT ex AND oc THEN 1 ELSE 0 END) AS BIGINT)
         |      AS c,
         |    CAST(sum(CASE WHEN NOT ex AND NOT oc THEN 1 ELSE 0 END)
         |      AS BIGINT) AS d
         |  FROM (
         |    SELECT lang, CAST(substr(source, 4) AS INT) % 2 = 0 AS ex,
         |      n_chars > $MhLen AS oc
         |    FROM documents
         |  ) GROUP BY lang
         |),
         |w AS (
         |  SELECT *, a + b + c + d AS n,
         |    CASE WHEN b * c > 0 THEN
         |      round(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c), 6)
         |      END AS or_stratum,
         |    round(CAST(a AS DOUBLE) * d / (a + b + c + d), 8) AS rterm,
         |    round(CAST(b AS DOUBLE) * c / (a + b + c + d), 8) AS sterm
         |  FROM cell
         |),
         |pooled AS (
         |  SELECT round(${dsumSql("rterm", 8)} / ${dsumSql("sterm", 8)}, 6)
         |    AS or_mh
         |  FROM w
         |)
         |SELECT lang, a, b, c, d, or_stratum, or_mh
         |FROM w CROSS JOIN pooled ORDER BY lang""".stripMargin,

    "q_capture_recapture" ->
      s"""WITH e AS (
         |  SELECT user_id, CAST(epoch_us(ts) // $DayUs AS BIGINT) AS day
         |  FROM events
         |),
         |d0 AS (SELECT min(day) AS d0 FROM e),
         |per AS (
         |  SELECT user_id,
         |    max(CASE WHEN day - (SELECT d0 FROM d0) < 7
         |      THEN 1 ELSE 0 END) AS ia,
         |    max(CASE WHEN day - (SELECT d0 FROM d0) >= 7
         |      AND day - (SELECT d0 FROM d0) < 14 THEN 1 ELSE 0 END) AS ib
         |  FROM e GROUP BY user_id
         |),
         |s AS (
         |  SELECT CAST(sum(ia) AS BIGINT) AS n1,
         |    CAST(sum(ib) AS BIGINT) AS n2,
         |    CAST(sum(CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS m,
         |    CAST(count(*) AS BIGINT) AS n_true
         |  FROM per
         |)
         |SELECT n1, n2, m, n_true,
         |  round((CAST(n1 AS DOUBLE) + 1) * (n2 + 1) / (m + 1) - 1, 4)
         |    AS chapman,
         |  round(CAST(n1 AS DOUBLE) * n2 / m, 4) AS lincoln,
         |  round(((CAST(n1 AS DOUBLE) + 1) * (n2 + 1) / (m + 1) - 1
         |    - n_true) / n_true, 6) AS rel_err
         |FROM s""".stripMargin,

    "q_good_turing" ->
      s"""WITH t AS (
         |  SELECT regexp_split_to_array(text, '$DelimSql') AS a FROM documents
         |),
         |g3 AS (
         |  SELECT a[CAST(i AS INT)] AS w1, a[CAST(i AS INT) + 1] AS w2,
         |    a[CAST(i AS INT) + 2] AS w3
         |  FROM (SELECT a, unnest(generate_series(1, len(a) - 2)) AS i
         |        FROM t WHERE len(a) >= 3)
         |),
         |wc AS (
         |  SELECT w1 || ' ' || w2 || ' ' || w3 AS g, count(*) AS r
         |  FROM g3
         |  WHERE regexp_matches(lower(w1), '${graft.operators.Tokenize.KeepRegex}')
         |    AND regexp_matches(lower(w2), '${graft.operators.Tokenize.KeepRegex}')
         |    AND regexp_matches(lower(w3), '${graft.operators.Tokenize.KeepRegex}')
         |  GROUP BY 1
         |),
         |fof AS (SELECT CAST(r AS BIGINT) AS r, count(*) AS n_r
         |        FROM wc GROUP BY r),
         |tot AS (
         |  SELECT CAST(sum(r * n_r) AS BIGINT) AS nn,
         |    CAST(sum(CASE WHEN r = 1 THEN n_r ELSE 0 END) AS BIGINT) AS n1
         |  FROM fof
         |)
         |SELECT fof.r, CAST(fof.n_r AS BIGINT) AS n_r,
         |  round(CAST(fof.r + 1 AS DOUBLE) * coalesce(nxt.n_r, 0)
         |    / fof.n_r, 6) AS r_star,
         |  round(CAST(tot.n1 AS DOUBLE) / tot.nn, 8) AS p0_unseen
         |FROM fof
         |LEFT JOIN fof nxt ON nxt.r = fof.r + 1
         |CROSS JOIN tot
         |WHERE fof.r <= 10
         |ORDER BY fof.r""".stripMargin,

    "q_alpha_sampling" ->
      s"""WITH nl AS (
         |  SELECT lang, CAST(sum(n_chars) AS BIGINT) AS n_l
         |  FROM documents GROUP BY lang
         |),
         |ws AS (
         |  SELECT ${dsumSql("round(sqrt(CAST(n_l AS DOUBLE)), 8)", 8)} AS sw
         |  FROM nl
         |),
         |tot AS (SELECT CAST(sum(n_l) AS BIGINT) AS nn FROM nl)
         |SELECT lang, n_l,
         |  round(CAST(n_l AS DOUBLE) / nn, 8) AS share,
         |  round(round(sqrt(CAST(n_l AS DOUBLE)), 8) / sw, 8) AS p_alpha,
         |  round(round(sqrt(CAST(n_l AS DOUBLE)), 8) / sw
         |    / (CAST(n_l AS DOUBLE) / nn), 6) AS boost
         |FROM nl CROSS JOIN ws CROSS JOIN tot
         |ORDER BY lang""".stripMargin,
  )
}

/** Wave-14 additions: experimentation-platform guardrails and
  * distribution-balancing primitives —
  *
  *  - iterative proportional fitting (raking) of the lang × source-
  *    parity cell grid to target marginals — the post-stratification
  *    weighting that balances a training mix to a target joint when
  *    only the margins are prescribed (the survey-weighting classic,
  *    and exactly the "hit the lang margin AND the source margin"
  *    corpus-assembly step),
  *  - Wasserstein-1 (earth-mover) distance between two event-value
  *    distributions on the bucketed ECDF — the drift statistic that
  *    sees HOW FAR mass moved where KS (q_ks_test) only sees the
  *    single worst gap,
  *  - Benjamini-Hochberg FDR control across per-cohort rate tests,
  *    run ENTIRELY in the log domain: Hoeffding-bound p-values
  *    ln p = −2nδ² (exact arithmetic, a documented conservative
  *    contract) against thresholds ln(k·q/m) — no exp/erf at all, so
  *    no cross-engine transcendental hazard,
  *  - daily sample-ratio-mismatch audit (the A/B trust check run
  *    before ANY metric is read): per-day χ² of the 50/50 split from
  *    exact integer counts, flagged against the 1-df critical value.
  *
  * Determinism: every statistic reduces to exact BIGINT counts off
  * one partial-agg'd shuffle; metadata-grid float chains are the
  * house per-term round-8 → decimal sum → terminal round spelling;
  * the only transcendental is round-8 ln of exact rationals.
  */
object Wave14 extends Catalog {

  private val DayUs = 24L * 3600L * 1000000L

  /** IPF rounds (each = one row-scale + one column-scale step),
    * unrolled identically in the oracle. */
  private val IpfRounds = 3

  /** BH target FDR q. */
  private val BhQ = 0.05

  /** χ² 1-df critical value at α = 0.05 for the SRM flag. */
  private val SrmCrit = 3.841

  val queries: Map[String, Q] = strictMap(

    // ITERATIVE PROPORTIONAL FITTING (raking): scale the observed
    // lang × source-parity joint to a uniform lang margin and a
    // 50/50 parity margin, IpfRounds alternating row/column steps
    // (round-8 cells, decimal-summed margins — the Sinkhorn/IPF
    // classic). Output: observed cell, fitted cell, and the raking
    // weight w = fitted/observed a sampler would apply. ONE count
    // shuffle; the grid is |langs|·2 rows — metadata at any scale,
    // ckpt'd once so the rounds don't re-execute the corpus scan.
    "q_ipf_raking" -> ((s, dir) => {
      val cell = table(s, dir, "documents")
        .select(col("lang"),
          expr("CAST(substring(source, 4) AS INT) % 2").cast("long")
            .as("par"))
        .groupBy("lang", "par").agg(count(lit(1)).as("n"))
        .ckpt()
      val tot = cell.agg(sum("n").cast("long").as("nn"))
      val kl = cell.select("lang").distinct()
        .agg(count(lit(1)).cast("long").as("k"))
      var p = cell.crossJoin(broadcast(tot))
        .selectExpr("lang", "par", "n",
          "round(CAST(n AS DOUBLE) / nn, 8) AS p")
        .crossJoin(broadcast(kl))
      // ckpt each half-step: p feeds its margin agg AND the scale join
      // (2 consumers per step) — unmaterialized, the round lineage
      // multiplies 4× per round (plan audit: 225 Exchanges before, the
      // q_markov_stationary lesson)
      for (_ <- 1 to IpfRounds) {
        val rs = p.groupBy("lang").agg(dsum(col("p"), 8).as("rs"))
        val rowStep = p.join(broadcast(rs), "lang")
          .selectExpr("lang", "par", "n", "k",
            "round(p * round(1.0 / k, 8) / rs, 8) AS p")
          .ckpt()
        val cs = rowStep.groupBy("par").agg(dsum(col("p"), 8).as("cs"))
        p = rowStep.join(broadcast(cs), "par")
          .selectExpr("lang", "par", "n", "k",
            "round(p * 0.5 / cs, 8) AS p")
          .ckpt()
      }
      p.crossJoin(broadcast(tot))
        .selectExpr("lang", "par", "n",
          "round(p, 6) AS p_fit",
          "round(p * nn / n, 6) AS w")
        .orderBy("lang", "par")
    }),

    // WASSERSTEIN-1 (earth-mover) distance between the value
    // distributions of purchase vs click events, on unit floor(value)
    // buckets: W₁ = ∫|F₀ − F₁| = Σ_b |c₀·n₁ − c₁·n₀|·gap(b) / (n₀·n₁)
    // with the cross-multiplied numerator EXACT BIGINT (the q_ks_test
    // discipline — no rate floats inside the sum), summed in
    // DECIMAL(38,0) (the q_chi2 overflow lesson: the scaled gap can
    // reach n²·|buckets|), and ONE terminal division. gap(b) weights
    // each present bucket by the distance to the next — absent
    // buckets carry the unchanged ECDF gap. One count shuffle; the
    // cumulative windows run on the ≤ |buckets|-row grid.
    "q_wasserstein1" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val g = table(s, dir, "events")
        .where(col("event_type").isin("purchase", "click"))
        .select(col("event_type"), expr("CAST(floor(value) AS BIGINT)").as("b"))
        .groupBy("b")
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("d0"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("d1"))
        // ckpt: the bucket grid feeds the totals AND the ECDF windows
        .ckpt()
      val tot = broadcast(g.agg(sum(col("d0")).cast("long").as("n0"),
        sum(col("d1")).cast("long").as("n1")))
      val w = Window.orderBy("b")
      g.withColumn("c0", sum(col("d0")).over(w))
        .withColumn("c1", sum(col("d1")).over(w))
        .withColumn("gap", coalesce(lead(col("b"), 1).over(w) - col("b"),
          lit(0L)))
        .crossJoin(tot)
        .withColumn("term", expr(
          // 128-bit BEFORE the multiply: c·n alone wraps int64 once both
          // sides pass ~3e9 rows (the q_chi2 overflow lesson)
          "abs(CAST(c0 AS DECIMAL(38,0)) * n1 - CAST(c1 AS DECIMAL(38,0))" +
            " * n0) * gap"))
        .agg(sum(col("term")).as("sterm"), max(col("n0")).as("n0"),
          max(col("n1")).as("n1"), count(lit(1)).cast("long").as("n_buckets"))
        .selectExpr("n0", "n1", "n_buckets",
          "round(CAST(sterm AS DOUBLE) / (CAST(n0 AS DOUBLE) * n1), 6)" +
            " AS w1")
    }),

    // BENJAMINI-HOCHBERG FDR control across 50 per-cohort purchase-
    // rate tests, entirely in the LOG domain: the Hoeffding bound
    // gives ln p_i = −2·n_i·δ_i² (δ = |rate_i − rate_global|, a
    // DOCUMENTED conservative p-value contract — no erf), and the BH
    // step-up compares ln p_(k) ≤ ln(k·q/m) — ln of exact rationals,
    // round-8, no exp anywhere. k* = the largest passing rank;
    // cohorts with rank ≤ k* are rejected (their rate genuinely
    // drifts). One count shuffle; ranking and thresholds live on the
    // m-row cohort grid.
    "q_bh_fdr" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val c = table(s, dir, "events")
        .select((col("user_id") % 50).cast("long").as("cohort"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
        .groupBy("cohort")
        .agg(count(lit(1)).as("n"), sum("y").as("x"))
        // ckpt: feeds the totals AND the scored grid
        .ckpt()
      val tot = broadcast(c.agg(sum("n").cast("long").as("nn"),
        sum("x").cast("long").as("xx"),
        count(lit(1)).cast("long").as("m")))
      val scored = c.crossJoin(tot)
        .withColumn("delta", expr(
          "round(abs(CAST(x AS DOUBLE) / n - CAST(xx AS DOUBLE) / nn), 8)"))
        .withColumn("lnp",
          expr("round(-2.0 * n * delta * delta, 8)"))
        .withColumn("rk", row_number()
          .over(Window.orderBy(col("lnp"), col("cohort"))))
        .withColumn("thr",
          expr(s"round(ln(rk * $BhQ / m), 8)"))
        .withColumn("pass", col("lnp") <= col("thr"))
        // ckpt: feeds k_star AND the final projection
        .ckpt()
      val kstar = scored
        .agg(coalesce(max(when(col("pass"), col("rk"))), lit(0))
          .cast("long").as("k_star"))
      scored.crossJoin(broadcast(kstar))
        .selectExpr("cohort", "n", "x", "lnp", "CAST(rk AS BIGINT) AS rk",
          "thr", "CAST(CASE WHEN rk <= k_star THEN 1 ELSE 0 END AS BIGINT)" +
            " AS rejected", "k_star")
        .orderBy("rk")
    }),

    // DAILY SAMPLE-RATIO-MISMATCH audit of the user_id-parity split:
    // per day, χ² against the expected 50/50 = (o₀−o₁)²/n from exact
    // BIGINT counts (the 2-cell goodness-of-fit closed form), flagged
    // at the 1-df α=0.05 critical value; the month-level pooled χ²
    // rides along as a scalar. The trust gate every experimentation
    // platform runs before reading ANY metric. One (day) shuffle;
    // the grid is |days| rows.
    "q_srm_check" -> ((s, dir) => {
      val e = table(s, dir, "events")
        .select(col("user_id"),
          (unix_micros(col("ts")) / DayUs).cast("long").as("day"))
      val d0 = e.agg(min("day").as("d0"))
      val daily = e.crossJoin(broadcast(d0))
        .select((col("day") - col("d0")).as("day"),
          (col("user_id") % 2).cast("long").as("arm"))
        .groupBy("day")
        .agg(sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("o0"),
          sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("o1"))
        // square in DOUBLE: a BIGINT (o0−o1)² wraps once the daily
        // imbalance passes ~3e9 rows
        .withColumn("chi2", expr(
          "round(CAST(o0 - o1 AS DOUBLE) * CAST(o0 - o1 AS DOUBLE)" +
            " / (o0 + o1), 6)"))
        .withColumn("srm_flag",
          expr(s"CAST(CASE WHEN chi2 > $SrmCrit THEN 1 ELSE 0 END" +
            " AS BIGINT)"))
        // ckpt: the daily grid feeds the pooled row AND the final rows
        .ckpt()
      val pooled = daily
        .agg(sum("o0").cast("long").as("t0"), sum("o1").cast("long").as("t1"))
        .selectExpr(
          "round(CAST(t0 - t1 AS DOUBLE) * CAST(t0 - t1 AS DOUBLE)" +
            " / (t0 + t1), 6) AS chi2_total")
      daily.crossJoin(broadcast(pooled))
        .selectExpr("day", "o0", "o1", "chi2", "srm_flag", "chi2_total")
        .orderBy("day")
    }),
  )

  /** One unrolled IPF round (row-scale to uniform lang margin, then
    * column-scale to the 50/50 parity margin). */
  private def ipfRoundSql(r: Int): String =
    s"""rs$r AS (
       |  SELECT lang, ${dsumSql("p", 8)} AS rs FROM p${r - 1} GROUP BY lang
       |),
       |row$r AS (
       |  SELECT p.lang, p.par, p.n, p.k,
       |    round(p.p * round(1.0 / p.k, 8) / rs$r.rs, 8) AS p
       |  FROM p${r - 1} p JOIN rs$r ON rs$r.lang = p.lang
       |),
       |cs$r AS (
       |  SELECT par, ${dsumSql("p", 8)} AS cs FROM row$r GROUP BY par
       |),
       |p$r AS (
       |  SELECT r.lang, r.par, r.n, r.k, round(r.p * 0.5 / cs$r.cs, 8) AS p
       |  FROM row$r r JOIN cs$r ON cs$r.par = r.par
       |)""".stripMargin

  val oracle: Map[String, String] = strictMap(

    "q_ipf_raking" ->
      s"""WITH cell AS (
         |  SELECT lang, CAST(CAST(substr(source, 4) AS INT) % 2 AS BIGINT)
         |    AS par, count(*) AS n
         |  FROM documents GROUP BY 1, 2
         |),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cell),
         |kl AS (SELECT CAST(count(DISTINCT lang) AS BIGINT) AS k FROM cell),
         |p0 AS (
         |  SELECT lang, par, CAST(n AS BIGINT) AS n, kl.k,
         |    round(CAST(n AS DOUBLE) / tot.nn, 8) AS p
         |  FROM cell CROSS JOIN tot CROSS JOIN kl
         |),
         |${(1 to IpfRounds).map(ipfRoundSql).mkString(",\n")}
         |SELECT lang, par, n, round(p, 6) AS p_fit,
         |  round(p * (SELECT nn FROM tot) / n, 6) AS w
         |FROM p$IpfRounds ORDER BY lang, par""".stripMargin,

    "q_wasserstein1" ->
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
        |  SELECT b, sum(d0) OVER (ORDER BY b) AS c0,
        |    sum(d1) OVER (ORDER BY b) AS c1,
        |    coalesce(lead(b, 1) OVER (ORDER BY b) - b, 0) AS gap
        |  FROM g
        |)
        |SELECT tot.n0, tot.n1, CAST(count(*) AS BIGINT) AS n_buckets,
        |  round(CAST(sum(abs(CAST(c0 AS DECIMAL(38,0)) * tot.n1
        |    - CAST(c1 AS DECIMAL(38,0)) * tot.n0) * gap) AS DOUBLE)
        |    / (CAST(tot.n0 AS DOUBLE) * tot.n1), 6) AS w1
        |FROM c CROSS JOIN tot
        |GROUP BY tot.n0, tot.n1""".stripMargin,

    "q_bh_fdr" ->
      s"""WITH c AS (
         |  SELECT CAST(user_id % 50 AS BIGINT) AS cohort, count(*) AS n,
         |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x
         |  FROM events GROUP BY 1
         |),
         |tot AS (
         |  SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(x) AS BIGINT) AS xx,
         |    CAST(count(*) AS BIGINT) AS m
         |  FROM c
         |),
         |scored AS (
         |  SELECT cohort, CAST(n AS BIGINT) AS n, CAST(x AS BIGINT) AS x,
         |    round(-2.0 * n * round(abs(CAST(x AS DOUBLE) / n
         |      - CAST(xx AS DOUBLE) / nn), 8)
         |      * round(abs(CAST(x AS DOUBLE) / n
         |      - CAST(xx AS DOUBLE) / nn), 8), 8) AS lnp,
         |    m
         |  FROM c CROSS JOIN tot
         |),
         |rk AS (
         |  SELECT *, row_number() OVER (ORDER BY lnp, cohort) AS rk,
         |    round(ln(row_number() OVER (ORDER BY lnp, cohort)
         |      * $BhQ / m), 8) AS thr
         |  FROM scored
         |),
         |ks AS (
         |  SELECT CAST(coalesce(max(CASE WHEN lnp <= thr THEN rk END), 0)
         |    AS BIGINT) AS k_star
         |  FROM rk
         |)
         |SELECT cohort, n, x, lnp, CAST(rk AS BIGINT) AS rk, thr,
         |  CAST(CASE WHEN rk <= k_star THEN 1 ELSE 0 END AS BIGINT)
         |    AS rejected, k_star
         |FROM rk CROSS JOIN ks ORDER BY rk""".stripMargin,

    "q_srm_check" ->
      s"""WITH e AS (
         |  SELECT user_id, CAST(epoch_us(ts) // $DayUs AS BIGINT) AS day
         |  FROM events
         |),
         |d0 AS (SELECT min(day) AS d0 FROM e),
         |daily AS (
         |  SELECT day - (SELECT d0 FROM d0) AS day,
         |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS o0,
         |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS o1
         |  FROM e GROUP BY 1
         |),
         |f AS (
         |  SELECT *,
         |    round(CAST(o0 - o1 AS DOUBLE) * CAST(o0 - o1 AS DOUBLE)
         |      / (o0 + o1), 6) AS chi2
         |  FROM daily
         |),
         |pooled AS (
         |  SELECT round(CAST(sum(o0) - sum(o1) AS DOUBLE)
         |    * CAST(sum(o0) - sum(o1) AS DOUBLE)
         |    / (sum(o0) + sum(o1)), 6) AS chi2_total
         |  FROM daily
         |)
         |SELECT day, o0, o1, chi2,
         |  CAST(CASE WHEN chi2 > $SrmCrit THEN 1 ELSE 0 END AS BIGINT)
         |    AS srm_flag,
         |  chi2_total
         |FROM f CROSS JOIN pooled ORDER BY day""".stripMargin,
  )
}

/** Wave-15 additions: agreement / trend / paired-test statistics and
  * optimal sampling design —
  *
  *  - Cohen's kappa between the stopword lang-id heuristic
  *    (q_lang_id's EXACT argmax, reused — no drift) and the true
  *    lang label: the chance-corrected agreement score every
  *    classifier audit reports where raw accuracy misleads,
  *  - Cochran-Armitage trend test: is purchase propensity MONOTONE
  *    in activity dose (the ordered-exposure question a flat k-group
  *    ANOVA can't answer),
  *  - McNemar's paired test between two document-quality filters on
  *    the SAME corpus — only the discordant cells carry information
  *    (the "is filter B actually stricter?" calibration),
  *  - Neyman-optimal allocation of a labeling budget across language
  *    strata (n_h ∝ N_h·S_h — variance-proportional, not
  *    size-proportional), integerized by the exact largest-remainder
  *    scheme q_token_budget established.
  *
  * Determinism: all counts exact BIGINTs off one partial-agg'd
  * shuffle each; cross-multiplied integer forms in 128-bit DECIMAL
  * where products pass int64 (the q_chi2 lesson); squares taken in
  * DOUBLE where the operand itself can reach ~10¹⁰; terminal float
  * chains spelled identically in both engines.
  */
object Wave15 extends Catalog {

  /** Labeling budget for the Neyman allocation. */
  private val NeyB = 10000L

  /** Cochran-Armitage exposure: dose = clamp((n_ev − Lo) DIV W, 0, Cap)
    * — per-user event counts concentrate in ~[45, 99] at every SF, so
    * the offset/width spread them over 4 real dose levels; the outcome
    * is the RARE event (high-value purchase), not "any purchase",
    * which saturates (every user buys something → X = N and the
    * variance term is 0). */
  private val CaCap = 3L
  private val CaLo = 40L
  private val CaWidth = 15L
  private val CaVal = 250.0

  /** McNemar filter thresholds: A = long doc, B = many words. */
  private val McLen = 300L
  private val McWords = 59L

  val queries: Map[String, Q] = strictMap(

    // COHEN'S KAPPA of the stopword lang-id heuristic vs the true
    // label, over docs with ≥ 1 kept token (the heuristic's domain —
    // zh docs surface only if they tokenize; pred never says 'zh',
    // which is exactly what kappa should punish). κ = (p_o − p_e) /
    // (1 − p_e): p_o from the exact diagonal, p_e = Σ_c row_c·col_c
    // / N² with round-8 terms and DOUBLE casts BEFORE the margin
    // product (row·col wraps int64 past ~3e9 docs). One tokenize
    // shuffle + one confusion count; the grid is |classes|² rows.
    "q_cohens_kappa" -> ((s, dir) => {
      val scoreAggs = LlmOps.Stops.map { case (lang, words) =>
        sum(expr(s"CASE WHEN word IN ${LlmOps.inList(words)} THEN 1" +
          " ELSE 0 END")).cast("long").as(s"s_$lang")
      }
      val pred = corpusToks(s, dir).groupBy("doc_id")
        .agg(scoreAggs.head, scoreAggs.tail: _*)
        .withColumn("pred", expr(LlmOps.PredCase))
        .select("doc_id", "pred")
      // ckpt: the confusion grid has FIVE consumers (total, row/col
      // margins, diagonal, final projection) — unmaterialized, each
      // re-runs the corpus tokenize (plan audit: 19 Exchanges before)
      val conf = table(s, dir, "documents").select("doc_id", "lang")
        .join(pred, Seq("doc_id"))
        .groupBy("lang", "pred").agg(count(lit(1)).as("n")).ckpt()
      val tot = conf.agg(sum("n").cast("long").as("nn"))
      val rows = conf.groupBy("lang").agg(sum("n").as("r"))
      val cols = conf.groupBy(col("pred").as("lang")).agg(sum("n").as("cc"))
      val po = conf.where(col("lang") === col("pred"))
        .agg(sum("n").cast("long").as("diag"))
      val pe = rows.join(cols, Seq("lang"))
        .crossJoin(broadcast(tot))
        .withColumn("t", expr(
          "round(CAST(r AS DOUBLE) * cc / (CAST(nn AS DOUBLE) * nn), 8)"))
        .agg(dsum(col("t"), 8).as("pe"))
      val scal = po.crossJoin(broadcast(pe)).crossJoin(broadcast(tot))
        .selectExpr("round(CAST(diag AS DOUBLE) / nn, 8) AS po", "pe",
          "round((CAST(diag AS DOUBLE) / nn - pe) / (1.0 - pe), 6)" +
            " AS kappa")
      conf.crossJoin(broadcast(scal))
        .selectExpr("lang", "pred", "n", "po", "pe", "kappa")
        .orderBy("lang", "pred")
    }),

    // COCHRAN-ARMITAGE trend test: dose = capped activity bucket
    // (n_events DIV width, ≤ CaCap), outcome = ever purchased.
    // T = Σ w_d(x_d·N − n_d·X) and A = N·Σn_d w² − (Σn_d w)² EXACT
    // in DECIMAL(38,0) (x·N alone wraps int64 past ~3e9 users);
    // z² = N·T²/(X(N−X)A) is ONE identical DOUBLE chain (T² would
    // overflow even 128-bit at extreme scale — the documented
    // boundary where exactness hands over to deterministic IEEE).
    // One per-user shuffle; the dose grid is ≤ CaCap+1 rows.
    "q_cochran_armitage" -> ((s, dir) => {
      val per = table(s, dir, "events")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_ev"),
          max(when(col("event_type") === "purchase" && col("value") > CaVal,
            1L).otherwise(0L)).as("y"))
      // ckpt: the dose grid feeds the totals, the trend terms, and the
      // final projection — three per-user shuffles without it
      val g = per
        .select(expr(s"least($CaCap, greatest(0, (n_ev - $CaLo)" +
          s" DIV $CaWidth))").as("d"), col("y"))
        .groupBy("d").agg(count(lit(1)).as("n"), sum("y").as("x")).ckpt()
      val tot = broadcast(g.agg(sum("n").cast("long").as("nt"),
        sum("x").cast("long").as("xt")))
      val terms = g.crossJoin(tot)
        .withColumn("tterm", expr(
          "d * (CAST(x AS DECIMAL(38,0)) * nt" +
            " - CAST(n AS DECIMAL(38,0)) * xt)"))
        .withColumn("nw", expr("CAST(n AS DECIMAL(38,0)) * d"))
        .withColumn("nw2", expr("CAST(n AS DECIMAL(38,0)) * d * d"))
      val scal = terms.agg(sum("tterm").as("tt"), sum("nw").as("snw"),
          sum("nw2").as("snw2"), max("nt").as("nt"), max("xt").as("xt"))
        .withColumn("aa", expr("CAST(nt AS DECIMAL(38,0)) * snw2" +
          " - snw * snw"))
        // saturated outcome (X = 0 or X = N) or a single dose level
        // (A = 0) has no trend information — z is 0 by contract, not ∞
        .withColumn("den", expr("CAST(xt AS DOUBLE)" +
          " * CAST(nt - xt AS DOUBLE) * CAST(aa AS DOUBLE)"))
        .selectExpr("round(CAST(tt AS DOUBLE), 4) AS t_stat",
          "CASE WHEN den > 0 THEN round(CAST(nt AS DOUBLE)" +
            " * CAST(tt AS DOUBLE) * CAST(tt AS DOUBLE) / den, 6)" +
            " ELSE CAST(0.0 AS DOUBLE) END AS z2",
          "CASE WHEN den > 0 THEN" +
            " round(CAST(CASE WHEN tt < 0 THEN -1 ELSE 1 END AS DOUBLE)" +
            " * sqrt(CAST(nt AS DOUBLE) * CAST(tt AS DOUBLE)" +
            " * CAST(tt AS DOUBLE) / den), 6)" +
            " ELSE CAST(0.0 AS DOUBLE) END AS z")
      g.crossJoin(broadcast(scal))
        .selectExpr("d", "n", "x",
          "round(CAST(x AS DOUBLE) / n, 6) AS rate",
          "t_stat", "z2", "z")
        .orderBy("d")
    }),

    // McNEMAR'S PAIRED TEST between two quality filters on the same
    // docs (A = n_chars > McLen, B = space-separated word count >
    // McWords — both pure length arithmetic, engine-identical): the
    // marginal-homogeneity χ² lives ONLY on the discordant cells,
    // χ²_cc = (|b−c|−1)²/(b+c) with Edwards' continuity correction,
    // the square in DOUBLE. One narrow corpus pass → a single 2×2.
    "q_mcnemar" -> ((s, dir) =>
      table(s, dir, "documents")
        .select((col("n_chars") > McLen).as("fa"),
          (expr("length(text) - length(replace(text, ' ', ''))")
            >= McWords).as("fb"))
        .agg(sum(when(col("fa") && col("fb"), 1L).otherwise(0L)).as("a"),
          sum(when(col("fa") && !col("fb"), 1L).otherwise(0L)).as("b"),
          sum(when(!col("fa") && col("fb"), 1L).otherwise(0L)).as("c"),
          sum(when(!col("fa") && !col("fb"), 1L).otherwise(0L)).as("d"))
        .selectExpr("a", "b", "c", "d",
          "CASE WHEN b + c > 0 THEN round(CAST(abs(b - c) - 1 AS DOUBLE)" +
            " * CAST(abs(b - c) - 1 AS DOUBLE) / (b + c), 6)" +
            " ELSE CAST(0.0 AS DOUBLE) END AS chi2_cc",
          "CAST(CASE WHEN b + c > 0 AND CAST(abs(b - c) - 1 AS DOUBLE)" +
            " * CAST(abs(b - c) - 1 AS DOUBLE) / (b + c) > 3.841" +
            " THEN 1 ELSE 0 END AS BIGINT) AS differs")),

    // NEYMAN-OPTIMAL ALLOCATION of a labeling budget across language
    // strata: n_h ∝ N_h·S_h (big AND variable strata get labels —
    // the design that minimizes the estimator variance at fixed
    // cost). S_h from EXACT 128-bit power sums (N·Σx² − (Σx)²
    // wraps int64 past ~10⁵ docs·10⁶ chars), round-8 sqrt; weights
    // quantized to integer milli-units so the largest-remainder
    // integerization is the exact q_token_budget arithmetic (Σ alloc
    // = B by construction, spec-pinned). One count shuffle; the
    // allocation grid is |langs| rows.
    "q_neyman_alloc" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val g = table(s, dir, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_h"),
          sum(col("n_chars").cast("decimal(38,0)")).cast("decimal(38,0)")
            .as("sx"),
          sum(expr("CAST(n_chars AS DECIMAL(38,0)) * n_chars")).as("sxx"))
        .withColumn("sigma", expr(
          "round(sqrt(CAST(CAST(n_h AS DECIMAL(38,0)) * sxx - sx * sx" +
            " AS DOUBLE) / (CAST(n_h AS DOUBLE) * n_h)), 8)"))
        .withColumn("w", expr(
          "CAST(floor(n_h * sigma * 1000 + 0.5) AS BIGINT)"))
        // ckpt: the weight grid feeds the weight total AND the quota rows
        .ckpt()
      val tot = broadcast(g.agg(sum("w").as("wt")))
      val q = g.crossJoin(tot)
        .withColumn("base", expr(s"($NeyB * w) div wt"))
        .withColumn("rem", expr(s"($NeyB * w) % wt"))
        // ckpt: feeds the leftover count AND the ranked distribution
        .ckpt()
      val extra = broadcast(q.agg((lit(NeyB) - sum(col("base"))).as("ex")))
      q.withColumn("rnk", row_number()
          .over(Window.orderBy(desc("rem"), asc("lang"))).cast("long"))
        .crossJoin(extra)
        .withColumn("alloc", col("base") +
          when(col("rnk") <= col("ex"), 1L).otherwise(0L))
        .selectExpr("lang", "n_h", "sigma", "CAST(alloc AS BIGINT) AS alloc")
        .orderBy("lang")
    }),
  )

  val oracle: Map[String, String] = strictMap(

    "q_cohens_kappa" -> {
      val scores = LlmOps.Stops.map { case (lang, words) =>
        s"CAST(sum(CASE WHEN word IN ${LlmOps.inList(words)} THEN 1" +
          s" ELSE 0 END) AS BIGINT) AS s_$lang"
      }.mkString(",\n    ")
      s"""WITH ${Reference.ToksSql},
         |sc AS (
         |  SELECT doc_id,
         |    $scores
         |  FROM toks GROUP BY doc_id
         |),
         |pred AS (
         |  SELECT doc_id, ${LlmOps.PredCase.replace("\n", "\n  ")} AS pred
         |  FROM sc
         |),
         |conf AS (
         |  SELECT d.lang, p.pred, count(*) AS n
         |  FROM documents d JOIN pred p ON p.doc_id = d.doc_id
         |  GROUP BY 1, 2
         |),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM conf),
         |r AS (SELECT lang, CAST(sum(n) AS BIGINT) AS r FROM conf
         |      GROUP BY lang),
         |c AS (SELECT pred AS lang, CAST(sum(n) AS BIGINT) AS cc FROM conf
         |      GROUP BY pred),
         |po AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS diag
         |       FROM conf WHERE lang = pred),
         |pe AS (
         |  SELECT ${dsumSql(
        "round(CAST(r.r AS DOUBLE) * c.cc / (CAST(tot.nn AS DOUBLE) * tot.nn), 8)",
        8)} AS pe
         |  FROM r JOIN c USING (lang) CROSS JOIN tot
         |),
         |scal AS (
         |  SELECT round(CAST(diag AS DOUBLE) / nn, 8) AS po, pe,
         |    round((CAST(diag AS DOUBLE) / nn - pe) / (1.0 - pe), 6)
         |      AS kappa
         |  FROM po CROSS JOIN pe CROSS JOIN tot
         |)
         |SELECT conf.lang, conf.pred, CAST(conf.n AS BIGINT) AS n,
         |  po, pe, kappa
         |FROM conf CROSS JOIN scal
         |ORDER BY conf.lang, conf.pred""".stripMargin
    },

    "q_cochran_armitage" ->
      s"""WITH per AS (
         |  SELECT user_id, count(*) AS n_ev,
         |    max(CASE WHEN event_type = 'purchase' AND value > $CaVal
         |      THEN 1 ELSE 0 END) AS y
         |  FROM events GROUP BY user_id
         |),
         |g AS (
         |  SELECT least($CaCap, greatest(0, (n_ev - $CaLo) // $CaWidth))
         |    AS d, count(*) AS n, sum(y) AS x
         |  FROM per GROUP BY 1
         |),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
         |        CAST(sum(x) AS BIGINT) AS xt FROM g),
         |terms AS (
         |  SELECT g.*, tot.nt, tot.xt,
         |    d * (CAST(x AS DECIMAL(38,0)) * nt
         |      - CAST(n AS DECIMAL(38,0)) * xt) AS tterm,
         |    CAST(n AS DECIMAL(38,0)) * d AS nw,
         |    CAST(n AS DECIMAL(38,0)) * d * d AS nw2
         |  FROM g CROSS JOIN tot
         |),
         |s AS (
         |  SELECT sum(tterm) AS tt, sum(nw) AS snw, sum(nw2) AS snw2,
         |    max(nt) AS nt, max(xt) AS xt
         |  FROM terms
         |),
         |d2 AS (
         |  SELECT *, CAST(xt AS DOUBLE) * CAST(nt - xt AS DOUBLE)
         |    * CAST(CAST(nt AS DECIMAL(38,0)) * snw2 - snw * snw
         |      AS DOUBLE) AS den
         |  FROM s
         |),
         |scal AS (
         |  SELECT round(CAST(tt AS DOUBLE), 4) AS t_stat,
         |    CASE WHEN den > 0 THEN round(CAST(nt AS DOUBLE)
         |      * CAST(tt AS DOUBLE) * CAST(tt AS DOUBLE) / den, 6)
         |      ELSE CAST(0.0 AS DOUBLE) END AS z2,
         |    CASE WHEN den > 0 THEN
         |      round(CAST(CASE WHEN tt < 0 THEN -1 ELSE 1 END AS DOUBLE)
         |      * sqrt(CAST(nt AS DOUBLE) * CAST(tt AS DOUBLE)
         |      * CAST(tt AS DOUBLE) / den), 6)
         |      ELSE CAST(0.0 AS DOUBLE) END AS z
         |  FROM d2
         |)
         |SELECT CAST(d AS BIGINT) AS d, CAST(n AS BIGINT) AS n,
         |  CAST(x AS BIGINT) AS x, round(CAST(x AS DOUBLE) / n, 6) AS rate,
         |  t_stat, z2, z
         |FROM g CROSS JOIN scal ORDER BY d""".stripMargin,

    "q_mcnemar" ->
      s"""WITH f AS (
         |  SELECT n_chars > $McLen AS fa,
         |    length(text) - length(replace(text, ' ', '')) >= $McWords
         |      AS fb
         |  FROM documents
         |),
         |s AS (
         |  SELECT
         |    CAST(sum(CASE WHEN fa AND fb THEN 1 ELSE 0 END) AS BIGINT)
         |      AS a,
         |    CAST(sum(CASE WHEN fa AND NOT fb THEN 1 ELSE 0 END) AS BIGINT)
         |      AS b,
         |    CAST(sum(CASE WHEN NOT fa AND fb THEN 1 ELSE 0 END) AS BIGINT)
         |      AS c,
         |    CAST(sum(CASE WHEN NOT fa AND NOT fb THEN 1 ELSE 0 END)
         |      AS BIGINT) AS d
         |  FROM f
         |)
         |SELECT a, b, c, d,
         |  CASE WHEN b + c > 0 THEN round(CAST(abs(b - c) - 1 AS DOUBLE)
         |    * CAST(abs(b - c) - 1 AS DOUBLE) / (b + c), 6)
         |    ELSE CAST(0.0 AS DOUBLE) END AS chi2_cc,
         |  CAST(CASE WHEN b + c > 0 AND CAST(abs(b - c) - 1 AS DOUBLE)
         |    * CAST(abs(b - c) - 1 AS DOUBLE) / (b + c) > 3.841
         |    THEN 1 ELSE 0 END AS BIGINT) AS differs
         |FROM s""".stripMargin,

    "q_neyman_alloc" ->
      s"""WITH g AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n_h,
         |    CAST(sum(CAST(n_chars AS DECIMAL(38,0))) AS DECIMAL(38,0))
         |      AS sx,
         |    CAST(sum(CAST(n_chars AS DECIMAL(38,0)) * n_chars)
         |      AS DECIMAL(38,0)) AS sxx
         |  FROM documents GROUP BY lang
         |),
         |w AS (
         |  SELECT lang, n_h,
         |    round(sqrt(CAST(CAST(n_h AS DECIMAL(38,0)) * sxx - sx * sx
         |      AS DOUBLE) / (CAST(n_h AS DOUBLE) * n_h)), 8) AS sigma
         |  FROM g
         |),
         |q AS (
         |  SELECT lang, n_h, sigma,
         |    CAST(floor(n_h * sigma * 1000 + 0.5) AS BIGINT) AS wq
         |  FROM w
         |),
         |tot AS (SELECT CAST(sum(wq) AS BIGINT) AS wt FROM q),
         |b AS (
         |  SELECT q.*, ($NeyB * wq) // tot.wt AS base,
         |    ($NeyB * wq) % tot.wt AS rem
         |  FROM q CROSS JOIN tot
         |),
         |e AS (SELECT CAST($NeyB - sum(base) AS BIGINT) AS ex FROM b),
         |r AS (
         |  SELECT b.*, row_number() OVER (ORDER BY rem DESC, lang) AS rnk
         |  FROM b
         |)
         |SELECT lang, n_h, sigma,
         |  CAST(base + CASE WHEN rnk <= (SELECT ex FROM e) THEN 1 ELSE 0 END
         |    AS BIGINT) AS alloc
         |FROM r ORDER BY lang""".stripMargin,
  )
}
