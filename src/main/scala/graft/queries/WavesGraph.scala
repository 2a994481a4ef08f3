package graft.queries

import graft.operators.{Ckpt, Tokenize}
import graft.operators.Ckpt._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph-structure waves (12-39 era): Markov journeys, condensation,
  * reciprocity, matching, connectivity, MST, user-scale SCC.
  *
  * Consolidated from the round-era Wave files (r11 verdict task 7):
  * pure moves — each object below is byte-identical to its former
  * single-object file minus the per-file package/import header,
  * which is merged (conflict-free union) above. */

/** Wave-12 additions: Markov-chain journey analytics on the event
  * stream — the stationary distribution and entropy rate of the
  * session transition chain (the "where do users actually live"
  * summary), truncated absorbing-chain expected steps to conversion
  * (the funnel-length read-out), and association-rule confidence/lift
  * over per-user event-type baskets (the classic market-basket rule
  * mining the frequent-pair machinery stopped short of).
  *
  * Determinism: transition counts and basket supports are exact
  * BIGINTs off ONE shuffle each; every chain update is the house
  * per-term round-8 / decimal-sum / re-round spelling on a k-row
  * metadata grid (k = |event types|), unrolled identically in the
  * oracle; lift/confidence are one float chain over exact counts.
  */
object Wave12 extends Catalog {

  /** Power-iteration rounds for the stationary distribution and the
    * truncated absorbing-horizon — unrolled in the oracle. */
  private val MkRounds = 3
  private val AbsRounds = 6

  /** The absorbing (conversion) state of q_absorb_steps. */
  private val AbsState = "purchase"

  /** Shared transition-probability grid: (from_type, to_type, cnt, p)
    * with p = round(cnt/tot, 8) — consecutive-event pairs per user
    * under the (ts, event_id) total order (the q_transitions shape). */
  private def transP(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val pairs = table(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .where(col("to_type").isNotNull)
    val cnt = pairs.groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("cnt"))
    val tot = cnt.groupBy("from_type").agg(sum(col("cnt")).as("tot"))
    cnt.join(broadcast(tot), "from_type")
      .selectExpr("from_type", "to_type", "cnt",
        "round(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE), 8) AS p")
  }

  /** Oracle twin of [[transP]], as a CTE ending in `tp`. */
  private val TransPSql: String =
    """pairs AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type, 1) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS to_type
      |  FROM events
      |),
      |c AS (
      |  SELECT from_type, to_type, count(*) AS cnt FROM pairs
      |  WHERE to_type IS NOT NULL GROUP BY 1, 2
      |),
      |t AS (SELECT from_type, CAST(sum(cnt) AS BIGINT) AS tot
      |      FROM c GROUP BY from_type),
      |tp AS (
      |  SELECT c.from_type, c.to_type, CAST(c.cnt AS BIGINT) AS cnt,
      |    round(CAST(c.cnt AS DOUBLE) / CAST(t.tot AS BIGINT), 8) AS p
      |  FROM c JOIN t USING (from_type)
      |)""".stripMargin

  val queries: Map[String, Q] = strictMap(

    // STATIONARY DISTRIBUTION + ENTROPY RATE of the session transition
    // chain: π from MkRounds power-iteration rounds (uniform start,
    // round-8 terms, decimal sums, sum-renormalized each round — the
    // Bradley-Terry float discipline), H(row i) = Σ_j −p_ij ln p_ij
    // over PRESENT cells, and the chain's entropy rate Σ_i π_i·H_i —
    // the "how predictable are journeys" scalar. ONE lead-window
    // shuffle builds the count matrix; every round is a k-row grid
    // (ckpt'd — the tiny table's LINEAGE is the windowed pair scan).
    "q_markov_stationary" -> ((s, dir) => {
      val tp = transP(s, dir).ckpt()
      val states = tp.select(col("from_type").as("st")).distinct()
        .unionByName(tp.select(col("to_type").as("st")).distinct())
        .distinct().ckpt()
      val k = states.count()
      var pi = states.withColumn("pi", expr(s"round(1.0 / $k, 8)")).ckpt()
      for (_ <- 1 to MkRounds) {
        val raw = tp.join(pi.select(col("st").as("from_type"), col("pi")),
            Seq("from_type"))
          .withColumn("t", expr("round(pi * p, 8)"))
          .groupBy(col("to_type").as("st"))
          .agg(dsum(col("t"), 8).as("m"))
        // states with no inbound mass keep 0 (full grid via left join)
        val dist = states.join(raw, Seq("st"), "left_outer")
          .selectExpr("st", "coalesce(m, 0.0) AS m")
        val tot = dist.agg(dsum(col("m"), 8).as("sm"))
        pi = dist.crossJoin(broadcast(tot))
          .selectExpr("st", "round(m / sm, 8) AS pi").ckpt()
      }
      val hrow = tp
        .withColumn("t", expr("round(-p * ln(p), 8)"))
        .groupBy(col("from_type").as("st"))
        .agg(dsum(col("t"), 8).as("h"))
      val joined = pi.join(hrow, Seq("st"), "left_outer")
        .selectExpr("st", "pi", "coalesce(h, 0.0) AS h")
      val hrate = joined
        .agg(expr("round(CAST(sum(CAST(round(pi * h, 8) AS DECIMAL(18,8)))" +
          " AS DOUBLE), 6)").as("hrate"))
      joined.crossJoin(broadcast(hrate))
        .selectExpr("st AS state", "round(pi, 6) AS pi",
          "round(h, 6) AS h_row", "hrate")
        .orderBy("state")
    }),

    // TRUNCATED ABSORBING-CHAIN expected steps to conversion: with
    // purchase absorbing, e_{t+1}(i) = 1 + Σ_j q_ij·e_t(j) over the
    // non-absorbing submatrix Q, iterated AbsRounds times from e_0 = 1
    // — the partial sums of the fundamental matrix (I−Q)⁻¹·1, a
    // DOCUMENTED truncated-horizon contract (exact inversion is not a
    // data-parallel primitive; the truncation is the streaming-safe
    // spelling). Round-8 terms, decimal sums; the grid is k−1 rows.
    "q_absorb_steps" -> ((s, dir) => {
      val q = transP(s, dir)
        .where(col("from_type") =!= AbsState && col("to_type") =!= AbsState)
        .ckpt()
      val states = q.select(col("from_type").as("st")).distinct()
        .unionByName(q.select(col("to_type").as("st")).distinct())
        .distinct().ckpt()
      var e = states.withColumn("e", lit(1.0)).ckpt()
      for (_ <- 1 to AbsRounds) {
        val raw = q.join(e.select(col("st").as("to_type"), col("e")),
            Seq("to_type"))
          .withColumn("t", expr("round(p * e, 8)"))
          .groupBy(col("from_type").as("st"))
          .agg(dsum(col("t"), 8).as("m"))
        e = states.join(raw, Seq("st"), "left_outer")
          .selectExpr("st", "round(1.0 + coalesce(m, 0.0), 8) AS e")
          .ckpt()
      }
      e.selectExpr("st AS state", "round(e, 6) AS exp_steps")
        .orderBy(desc("exp_steps"), asc("state"))
    }),

    // ASSOCIATION-RULE confidence and lift over per-user event-type
    // baskets: supp(a→b) = users with both / users with a, lift =
    // conf / P(b) — the rule-mining read-out the frequent-pair miner
    // (q_freq_pairs) stops short of. Baskets are DISTINCT types per
    // user (≤ k rows each, so the self-join is k²-bounded per user —
    // never |events|²); supports are exact BIGINTs; conf/lift one
    // float chain. Top rules by lift under a total order.
    "q_lift_rules" -> ((s, dir) => {
      val basket = table(s, dir, "events")
        .select(col("user_id"), col("event_type")).distinct()
      val suppA = basket.groupBy(col("event_type").as("a"))
        .agg(count(lit(1)).as("sa"))
      val n = basket.select("user_id").distinct().count()
      val ab = basket.alias("x").join(basket.alias("y"), Seq("user_id"))
        .where(col("x.event_type") =!= col("y.event_type"))
        .groupBy(col("x.event_type").as("a"), col("y.event_type").as("b"))
        .agg(count(lit(1)).as("sab"))
      ab.join(broadcast(suppA), Seq("a"))
        .join(broadcast(suppA.select(col("a").as("b"), col("sa").as("sb"))),
          Seq("b"))
        .selectExpr("a", "b", "sab", "sa", "sb",
          "round(CAST(sab AS DOUBLE) / CAST(sa AS DOUBLE), 6) AS conf",
          s"round(CAST(sab AS DOUBLE) * $n" +
            " / (CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)), 6) AS lift")
        .orderBy(desc("lift"), asc("a"), asc("b")).limit(20)
    }),
  )

  /** One unrolled power-iteration round of the stationary chain. */
  private def mkRoundSql(r: Int): String =
    s"""raw$r AS (
       |  SELECT tp.to_type AS st,
       |    ${dsumSql(s"round(p${r - 1}.pi * tp.p, 8)", 8)} AS m
       |  FROM tp JOIN p${r - 1} ON p${r - 1}.st = tp.from_type
       |  GROUP BY tp.to_type
       |),
       |d$r AS (
       |  SELECT states.st, coalesce(raw$r.m, 0.0) AS m
       |  FROM states LEFT JOIN raw$r ON raw$r.st = states.st
       |),
       |p$r AS (
       |  SELECT st, round(m / (SELECT ${dsumSql("m", 8)} FROM d$r), 8) AS pi
       |  FROM d$r
       |)""".stripMargin

  /** One unrolled truncated-absorption round. */
  private def absRoundSql(r: Int): String =
    s"""raw$r AS (
       |  SELECT q.from_type AS st,
       |    ${dsumSql(s"round(q.p * e${r - 1}.e, 8)", 8)} AS m
       |  FROM q JOIN e${r - 1} ON e${r - 1}.st = q.to_type
       |  GROUP BY q.from_type
       |),
       |e$r AS (
       |  SELECT states.st, round(1.0 + coalesce(raw$r.m, 0.0), 8) AS e
       |  FROM states LEFT JOIN raw$r ON raw$r.st = states.st
       |)""".stripMargin

  val oracle: Map[String, String] = strictMap(

    "q_markov_stationary" ->
      s"""WITH $TransPSql,
         |states AS (
         |  SELECT DISTINCT st FROM (
         |    SELECT from_type AS st FROM tp
         |    UNION SELECT to_type FROM tp)
         |),
         |p0 AS (
         |  SELECT st,
         |    round(1.0 / (SELECT count(*) FROM states), 8) AS pi
         |  FROM states
         |),
         |${(1 to MkRounds).map(mkRoundSql).mkString(",\n")},
         |hrow AS (
         |  SELECT from_type AS st, ${dsumSql("round(-p * ln(p), 8)", 8)} AS h
         |  FROM tp GROUP BY from_type
         |),
         |joined AS (
         |  SELECT p$MkRounds.st, p$MkRounds.pi, coalesce(hrow.h, 0.0) AS h
         |  FROM p$MkRounds LEFT JOIN hrow ON hrow.st = p$MkRounds.st
         |),
         |hr AS (
         |  SELECT round(${dsumSql("round(pi * h, 8)", 8)}, 6) AS hrate
         |  FROM joined
         |)
         |SELECT st AS state, round(pi, 6) AS pi, round(h, 6) AS h_row,
         |  hr.hrate
         |FROM joined CROSS JOIN hr ORDER BY state""".stripMargin,

    "q_absorb_steps" ->
      s"""WITH $TransPSql,
         |q AS (
         |  SELECT * FROM tp
         |  WHERE from_type <> '$AbsState' AND to_type <> '$AbsState'
         |),
         |states AS (
         |  SELECT DISTINCT st FROM (
         |    SELECT from_type AS st FROM q UNION SELECT to_type FROM q)
         |),
         |e0 AS (SELECT st, CAST(1.0 AS DOUBLE) AS e FROM states),
         |${(1 to AbsRounds).map(absRoundSql).mkString(",\n")}
         |SELECT st AS state, round(e, 6) AS exp_steps
         |FROM e$AbsRounds ORDER BY exp_steps DESC, state""".stripMargin,

    "q_lift_rules" ->
      s"""WITH basket AS (
         |  SELECT DISTINCT user_id, event_type FROM events
         |),
         |sa AS (SELECT event_type AS a, count(*) AS sa
         |       FROM basket GROUP BY 1),
         |n AS (SELECT count(DISTINCT user_id) AS n FROM basket),
         |ab AS (
         |  SELECT x.event_type AS a, y.event_type AS b, count(*) AS sab
         |  FROM basket x JOIN basket y
         |    ON x.user_id = y.user_id AND x.event_type <> y.event_type
         |  GROUP BY 1, 2
         |)
         |SELECT ab.a, ab.b, CAST(ab.sab AS BIGINT) AS sab,
         |  CAST(sa.sa AS BIGINT) AS sa, CAST(sb.sa AS BIGINT) AS sb,
         |  round(CAST(ab.sab AS DOUBLE) / CAST(sa.sa AS DOUBLE), 6) AS conf,
         |  round(CAST(ab.sab AS DOUBLE) * (SELECT n FROM n)
         |    / (CAST(sa.sa AS DOUBLE) * CAST(sb.sa AS DOUBLE)), 6) AS lift
         |FROM ab
         |JOIN sa ON sa.a = ab.a
         |JOIN sa sb ON sb.a = ab.b
         |ORDER BY lift DESC, ab.a, ab.b LIMIT 20""".stripMargin,
  )
}

/** Wave-26 additions: directed-graph condensation, cooperative-game
  * attribution, and an optimizer-statistics audit —
  *
  *  - q_scc: strongly connected components of the dominant-direction
  *    nation trade graph (edge cn→sn iff flow(cn→sn) > flow(sn→cn)) by
  *    reflexive transitive closure with 5 doubling rounds (paths ≤ 2⁵ >
  *    |V|); scc(u) = min{v : u↔v} — the classic missing from the
  *    otherwise-complete graph family (CC/BFS/SSSP/PageRank/…),
  *  - q_shapley_attribution: EXACT Shapley credit per marketing channel
  *    over the 2⁴ exact-exposure coalitions (v(S) = conversion rate of
  *    users touched by exactly S) — the principled alternative to
  *    q_attribution's first/last-touch heuristics,
  *  - q_selectivity_audit: observed pairwise-conjunction selectivity vs
  *    the independence product the cardinality estimator assumes — the
  *    correlated-predicate evidence behind a CBO's misestimates.
  *
  * Determinism: closure and coalitions are integer/bitmask algebra;
  * Shapley weights s!(k−1−s)!/k! are build-time round-8 literals; every
  * division is correctly rounded from exact integer counts. */
object Wave26 extends Catalog {

  /** Marketing channels (alphabetical, bit i = 2^i) — the generator's
    * fixed non-purchase event taxonomy. */
  private val Channels = Seq("click", "error", "signup", "view")

  val queries: Map[String, Q] = strictMap(

    // SCC: the flow aggregation is the only data-scale stage (3 joins
    // sharing the TPC-H key shuffles, partial-agg'd counts). The graph
    // itself is the nations dimension (≤ 25² edge rows — metadata), so
    // closure-by-doubling costs 5 self-joins of a tiny frame AND gives
    // the DuckDB oracle an exact recursive twin — which is why this
    // query deliberately STAYS dimension-scale. The user-scale path is
    // [[graft.operators.Scc]] (forward/backward min-label peeling on the
    // Bfs/Ckpt machinery — O(V) state, O(E) per round, same output
    // schema), cross-checked against an in-memory Kosaraju and a planted
    // 10⁵-edge digraph in SccSpec; its driver-side fixpoint loop has no
    // oracle-SQL twin, so it is spec-gated rather than catalog-gated.
    "q_scc" -> ((s, dir) => {
      val f = table(s, dir, "orders").select("o_orderkey", "o_custkey")
        .join(table(s, dir, "lineitem").select("l_orderkey", "l_suppkey"),
          col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(table(s, dir, "customer")
          .select("c_custkey", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(table(s, dir, "supplier")
          .select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("c_nationkey").as("cn"), col("s_nationkey").as("sn"))
        .agg(count(lit(1)).as("fl"))
      val e = f.as("a")
        .join(f.select(col("cn").as("bsn"), col("sn").as("bcn"),
          col("fl").as("bfl")),
          col("a.cn") === col("bcn") && col("a.sn") === col("bsn"),
          "left_outer")
        .where(col("a.cn") =!= col("a.sn") &&
          col("a.fl") > coalesce(col("bfl"), lit(0L)))
        .select(col("a.cn").as("u"), col("a.sn").as("v"))
      val nodes = e.select(col("u")).unionByName(e.select(col("v").as("u")))
        .distinct()
      var r = e.unionByName(nodes.select(col("u"), col("u").as("v")))
        .distinct().ckpt()
      for (_ <- 1 to 5)
        r = r.unionByName(
            r.select(col("u"), col("v").as("w"))
              .join(r.select(col("u").as("w"), col("v")), "w")
              .select("u", "v"))
          .distinct().ckpt()
      val scc = r.join(r.select(col("v").as("u"), col("u").as("v")),
          Seq("u", "v"))
        .groupBy("u").agg(min("v").as("scc"))
      val sizes = scc.groupBy("scc").agg(count(lit(1)).as("scc_size"))
      val summary = sizes.agg(count(lit(1)).as("n_scc"),
        max("scc_size").as("max_scc"))
      scc.join(broadcast(sizes), "scc")
        .crossJoin(broadcast(summary))
        .selectExpr("CAST(u AS BIGINT) AS nationkey",
          "CAST(scc AS BIGINT) AS scc",
          "CAST(scc_size AS BIGINT) AS scc_size",
          "CAST(n_scc AS BIGINT) AS n_scc",
          "CAST(max_scc AS BIGINT) AS max_scc")
        .orderBy("nationkey")
    }),

    // SHAPLEY: one user-level shuffle builds the exact-exposure bitmask
    // and conversion flag; everything after is the 16-row coalition
    // table × 4 channels (metadata). v(S∪i) − v(S) marginals weighted
    // by the pre-folded s!(k−1−s)!/k! literals; efficiency (Σφ =
    // v(full) − v(∅)) is spec-pinned.
    "q_shapley_attribution" -> ((s, dir) => {
      val um = table(s, dir, "events")
        .groupBy("user_id")
        .agg((Channels.zipWithIndex.map { case (c, i) =>
          max(when(col("event_type") === c, lit(1L << i)).otherwise(lit(0L)))
        }.reduce(_ + _)).as("m"),
          max(when(col("event_type") === "purchase", lit(1L))
            .otherwise(lit(0L))).as("conv"))
      val obs = um.groupBy("m")
        .agg(count(lit(1)).as("n"), sum("conv").as("nc"))
      val vt = s.range(16).select(col("id").as("m"))
        .join(broadcast(obs), Seq("m"), "left_outer")
        .selectExpr("m",
          "CASE WHEN n IS NULL OR n = 0 THEN CAST(0 AS DOUBLE)" +
            " ELSE CAST(nc AS DOUBLE) / n END AS v")
      val chans = s.sql("SELECT stack(" + Channels.size + ", " +
        Channels.zipWithIndex.map { case (c, i) =>
          s"'$c', CAST(${1 << i} AS BIGINT)"
        }.mkString(", ") + ") AS (channel, bit)")
      val grid = s.range(16).select(col("id").as("sm"))
        .crossJoin(broadcast(chans))
        .where(expr("(sm & bit) = 0"))
        .join(broadcast(vt.select(col("m").as("sm"), col("v").as("v0"))),
          "sm")
        .join(broadcast(vt.select(col("m").as("smi"), col("v").as("v1"))),
          expr("smi = sm + bit"))
        .withColumn("w", expr("CASE WHEN bit_count(sm) = 0 THEN 0.25" +
          " WHEN bit_count(sm) = 3 THEN 0.25 ELSE 0.08333333 END"))
        .groupBy("channel")
        .agg(dsum(expr("round(CAST(w AS DOUBLE) * (v1 - v0), 8)"), 8)
          .as("phi"))
      val tot = obs.agg(sum("n").as("nu"), sum("nc").as("ncu"))
      grid.crossJoin(broadcast(tot))
        .selectExpr("channel", "round(phi, 6) AS shapley",
          "CAST(nu AS BIGINT) AS n_users",
          "round(CAST(ncu AS DOUBLE) / nu, 6) AS conv_rate")
        .orderBy("channel")
    }),

    // SELECTIVITY AUDIT: three correlated lineitem predicates, all
    // pairwise conjunctions measured in ONE scan (conditional-count
    // partials — constant state, any scale); independence_ratio =
    // sel(A∧B) / (sel(A)·sel(B)) is the correction factor a CBO's
    // independence assumption misses (1 = independent).
    "q_selectivity_audit" -> ((s, dir) => {
      val l = table(s, dir, "lineitem")
        .selectExpr(
          "CAST(CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END AS BIGINT) AS a",
          "CAST(CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS BIGINT) AS b",
          "CAST(CASE WHEN l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'" +
            " THEN 1 ELSE 0 END AS BIGINT) AS c")
      val agg = l.agg(count(lit(1)).as("n"),
        sum("a").as("na"), sum("b").as("nb"), sum("c").as("nc"),
        sum(expr("a * b")).as("nab"), sum(expr("a * c")).as("nac"),
        sum(expr("b * c")).as("nbc"))
      agg.selectExpr(
        "stack(3," +
          " 'quantity_x_discount', na, nb, nab," +
          " 'quantity_x_shipdate', na, nc, nac," +
          " 'discount_x_shipdate', nb, nc, nbc" +
          ") AS (pair, n1, n2, n12)", "n")
        .selectExpr("pair", "CAST(n AS BIGINT) AS n",
          "CAST(n1 AS BIGINT) AS n1", "CAST(n2 AS BIGINT) AS n2",
          "CAST(n12 AS BIGINT) AS n12",
          "round(CAST(n1 AS DOUBLE) / n, 6) AS sel1",
          "round(CAST(n2 AS DOUBLE) / n, 6) AS sel2",
          "round(CAST(n12 AS DOUBLE) / n, 6) AS sel12",
          "CASE WHEN n1 = 0 OR n2 = 0 THEN CAST(NULL AS DOUBLE)" +
            " ELSE round(CAST(n12 AS DOUBLE) * n" +
            " / (CAST(n1 AS DOUBLE) * n2), 6) END AS independence_ratio")
        .orderBy("pair")
    }),
  )

  val oracle: Map[String, String] = strictMap(

    "q_scc" -> {
      // AS MATERIALIZED: each doubling round references the previous one
      // twice — inlined CTEs would expand 2^k-fold (observed as DuckDB
      // re-opening the base parquet thousands of times)
      val rounds = (1 to 5).map { k =>
        s"""r$k AS MATERIALIZED (
           |  SELECT u, v FROM r${k - 1}
           |  UNION
           |  SELECT a.u, b.v FROM r${k - 1} a JOIN r${k - 1} b ON a.v = b.u
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH f AS MATERIALIZED (
         |  SELECT c.c_nationkey AS cn, s.s_nationkey AS sn,
         |    count(*) AS fl
         |  FROM orders o
         |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON c.c_custkey = o.o_custkey
         |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
         |  GROUP BY 1, 2
         |),
         |e AS (
         |  SELECT a.cn AS u, a.sn AS v
         |  FROM f a LEFT JOIN f b ON b.cn = a.sn AND b.sn = a.cn
         |  WHERE a.cn <> a.sn AND a.fl > coalesce(b.fl, 0)
         |),
         |nodes AS (SELECT u FROM e UNION SELECT v FROM e),
         |r0 AS MATERIALIZED (
         |  SELECT u, v FROM e UNION SELECT u, u AS v FROM nodes),
         |$rounds,
         |scc AS MATERIALIZED (
         |  SELECT r.u, min(r.v) AS scc
         |  FROM r5 r JOIN r5 b ON b.u = r.v AND b.v = r.u
         |  GROUP BY r.u
         |),
         |sizes AS (SELECT scc, count(*) AS scc_size FROM scc GROUP BY scc),
         |summary AS (SELECT count(*) AS n_scc, max(scc_size) AS max_scc
         |            FROM sizes)
         |SELECT CAST(u AS BIGINT) AS nationkey, CAST(scc AS BIGINT) AS scc,
         |  CAST(scc_size AS BIGINT) AS scc_size,
         |  CAST(n_scc AS BIGINT) AS n_scc,
         |  CAST(max_scc AS BIGINT) AS max_scc
         |FROM scc JOIN sizes USING (scc) CROSS JOIN summary
         |ORDER BY nationkey""".stripMargin
    },

    "q_shapley_attribution" -> {
      val maskExpr = Channels.zipWithIndex.map { case (c, i) =>
        s"max(CASE WHEN event_type = '$c' THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      val chanRows = Channels.zipWithIndex.map { case (c, i) =>
        s"SELECT '$c' AS channel, CAST(${1 << i} AS BIGINT) AS bit"
      }.mkString("\n  UNION ALL ")
      s"""WITH um AS (
         |  SELECT user_id, CAST($maskExpr AS BIGINT) AS m,
         |    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS conv
         |  FROM events GROUP BY user_id
         |),
         |obs AS (SELECT m, count(*) AS n, CAST(sum(conv) AS BIGINT) AS nc
         |        FROM um GROUP BY m),
         |vt AS (
         |  SELECT g.m,
         |    CASE WHEN n IS NULL OR n = 0 THEN CAST(0 AS DOUBLE)
         |         ELSE CAST(nc AS DOUBLE) / n END AS v
         |  FROM (SELECT unnest(generate_series(0, 15)) AS m) g
         |  LEFT JOIN obs ON obs.m = g.m
         |),
         |chans AS (
         |  $chanRows
         |),
         |grid AS (
         |  SELECT channel, g.sm, bit,
         |    CASE WHEN bit_count(g.sm) = 0 THEN 0.25
         |         WHEN bit_count(g.sm) = 3 THEN 0.25
         |         ELSE 0.08333333 END AS w,
         |    v0.v AS v0, v1.v AS v1
         |  FROM (SELECT unnest(generate_series(0, 15)) AS sm) g
         |  CROSS JOIN chans
         |  JOIN vt v0 ON v0.m = g.sm
         |  JOIN vt v1 ON v1.m = g.sm + bit
         |  WHERE (g.sm & bit) = 0
         |),
         |phi AS (
         |  SELECT channel,
         |    ${dsumSql("round(CAST(w AS DOUBLE) * (v1 - v0), 8)", 8)}
         |      AS phi
         |  FROM grid GROUP BY channel
         |),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nu,
         |          CAST(sum(nc) AS BIGINT) AS ncu FROM obs)
         |SELECT channel, round(phi, 6) AS shapley,
         |  CAST(nu AS BIGINT) AS n_users,
         |  round(CAST(ncu AS DOUBLE) / nu, 6) AS conv_rate
         |FROM phi CROSS JOIN tot ORDER BY channel""".stripMargin
    },

    "q_selectivity_audit" -> {
      def side(pair: String, x1: String, x2: String, x12: String) =
        s"""SELECT '$pair' AS pair, CAST(n AS BIGINT) AS n,
           |  CAST($x1 AS BIGINT) AS n1, CAST($x2 AS BIGINT) AS n2,
           |  CAST($x12 AS BIGINT) AS n12,
           |  round(CAST($x1 AS DOUBLE) / n, 6) AS sel1,
           |  round(CAST($x2 AS DOUBLE) / n, 6) AS sel2,
           |  round(CAST($x12 AS DOUBLE) / n, 6) AS sel12,
           |  CASE WHEN $x1 = 0 OR $x2 = 0 THEN CAST(NULL AS DOUBLE)
           |       ELSE round(CAST($x12 AS DOUBLE) * n
           |       / (CAST($x1 AS DOUBLE) * $x2), 6) END
           |    AS independence_ratio
           |FROM agg""".stripMargin
      s"""WITH base AS (
         |  SELECT CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END AS a,
         |    CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS b,
         |    CASE WHEN l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
         |         THEN 1 ELSE 0 END AS c
         |  FROM lineitem
         |),
         |agg AS (
         |  SELECT count(*) AS n, sum(a) AS na, sum(b) AS nb,
         |    sum(c) AS nc, sum(a * b) AS nab, sum(a * c) AS nac,
         |    sum(b * c) AS nbc
         |  FROM base
         |)
         |${side("quantity_x_discount", "na", "nb", "nab")}
         |UNION ALL
         |${side("quantity_x_shipdate", "na", "nc", "nac")}
         |UNION ALL
         |${side("discount_x_shipdate", "nb", "nc", "nbc")}
         |ORDER BY pair""".stripMargin
    },
  )
}

/** Wave-28 additions: audience structure, digraph reciprocity, and the
  * join-cardinality half of the CBO audit —
  *
  *  - q_audience_overlap: pairwise user-audience Jaccard + lift across
  *    event types from ONE distinct pass — the campaign-planning
  *    companion to q_source_ngram_overlap (same matrix shape, user
  *    sets instead of trigram sets),
  *  - q_reciprocity: edge reciprocity and flow-weighted asymmetry of
  *    the nation trade digraph (q_scc's edge rule) — how much of the
  *    flow network is two-way,
  *  - q_join_card_audit: the estimator's containment-assumption join
  *    cardinality |R|·|S|/max(ndv) vs the EXACT join size computed
  *    without materializing the join (Σ n_R(k)·n_S(k) over the key
  *    profile) for the three TPC-H FK joins — q_selectivity_audit's
  *    sibling for the join side of the cost model.
  *
  * Determinism: set sizes and join profiles are exact integers;
  * Jaccard/lift/ratios are terminal correctly-rounded divisions. */
object Wave28 extends Catalog {

  val queries: Map[String, Q] = strictMap(

    // AUDIENCE OVERLAP: distinct (type, user) once; the pair join is
    // per-user with ≤ C(5,2) pairs per user (types are a catalog
    // dimension) — corpus-linear, same discipline as the n-gram overlap
    // matrix. Jaccard over exact set sizes; lift = P(b|a)/P(b) with
    // the user universe as the base measure.
    "q_audience_overlap" -> ((s, dir) => {
      val tu = table(s, dir, "events")
        .select(col("event_type").as("t"), col("user_id")).distinct()
        .ckpt() // feeds sizes + both pair sides + the universe
      val sz = tu.groupBy("t").agg(count(lit(1)).as("n"))
      val uni = tu.select("user_id").distinct()
        .agg(count(lit(1)).as("nu"))
      val co = tu.select(col("t").as("ta"), col("user_id"))
        .join(tu.select(col("t").as("tb"), col("user_id")), "user_id")
        .where(col("ta") < col("tb"))
        .groupBy("ta", "tb").agg(count(lit(1)).as("co"))
      co.join(broadcast(sz.select(col("t").as("ta"), col("n").as("na"))), "ta")
        .join(broadcast(sz.select(col("t").as("tb"), col("n").as("nb"))), "tb")
        .crossJoin(broadcast(uni))
        .selectExpr("ta", "tb", "CAST(na AS BIGINT) AS na",
          "CAST(nb AS BIGINT) AS nb", "CAST(co AS BIGINT) AS co",
          "round(CAST(co AS DOUBLE) / (na + nb - co), 6) AS jaccard",
          "round(CAST(co AS DOUBLE) * nu / (CAST(na AS DOUBLE) * nb), 6)" +
            " AS lift")
        .orderBy("ta", "tb")
    }),

    // RECIPROCITY: the q_scc flow aggregation once, self-joined on the
    // reversed key (dimension-scale). r = |reciprocated directed
    // edges| / |directed edges|; asymmetry = Σ|f_uv − f_vu| / Σ(f_uv +
    // f_vu) over unordered pairs — 0 = perfectly balanced trade.
    "q_reciprocity" -> ((s, dir) => {
      val f = table(s, dir, "orders").select("o_orderkey", "o_custkey")
        .join(table(s, dir, "lineitem").select("l_orderkey", "l_suppkey"),
          col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(table(s, dir, "customer")
          .select("c_custkey", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(table(s, dir, "supplier")
          .select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("c_nationkey").as("cn"), col("s_nationkey").as("sn"))
        .agg(count(lit(1)).as("fl"))
        .where(col("cn") =!= col("sn"))
        .ckpt() // both sides of the reversed self-join
      val j = f.join(f.select(col("cn").as("bsn"), col("sn").as("bcn"),
          col("fl").as("rfl")),
          col("cn") === col("bcn") && col("sn") === col("bsn"),
          "left_outer")
        .select(col("cn"), col("sn"), col("fl"),
          coalesce(col("rfl"), lit(0L)).as("rfl"))
      j.agg(count(lit(1)).as("n_edges"),
          sum(when(col("rfl") > 0, 1L).otherwise(0L)).as("n_recip"),
          sum(expr("abs(fl - rfl)")).as("sasym"),
          sum(expr("fl + rfl")).as("stot"))
        .selectExpr("CAST(n_edges AS BIGINT) AS n_edges",
          "CAST(n_recip AS BIGINT) AS n_recip",
          "round(CAST(n_recip AS DOUBLE) / n_edges, 6) AS reciprocity",
          "round(CAST(sasym AS DOUBLE) / stot, 6) AS flow_asymmetry")
    }),

    // JOIN CARDINALITY AUDIT: per FK join, both sides' key profiles
    // (count per key — one partial-agg'd shuffle each), EXACT join size
    // as Σ n_R(k)·n_S(k) over the joined profiles (never materializing
    // the join), estimate as |R|·|S|/max(ndv). est_ratio = est/actual
    // is the CBO's error factor (1 = containment assumption holds —
    // true for clean FK joins, broken by filters/skew).
    "q_join_card_audit" -> ((s, dir) => {
      def audit(pair: String, r: DataFrame, rk: String,
                t: DataFrame, tk: String): DataFrame = {
        val pr = r.groupBy(col(rk).as("k")).agg(count(lit(1)).as("na"))
        val pt = t.groupBy(col(tk).as("k")).agg(count(lit(1)).as("nb"))
        val joined = pr.join(pt, "k")
          .agg(sum(expr("na * nb")).as("actual"))
        val stats = pr.agg(sum("na").as("nr"), count(lit(1)).as("dr"))
          .crossJoin(pt.agg(sum("nb").as("ns"), count(lit(1)).as("ds")))
        stats.crossJoin(joined)
          .selectExpr(s"'$pair' AS pair", "CAST(nr AS BIGINT) AS n_left",
            "CAST(ns AS BIGINT) AS n_right",
            "CAST(dr AS BIGINT) AS ndv_left",
            "CAST(ds AS BIGINT) AS ndv_right",
            "CAST(coalesce(actual, 0) AS BIGINT) AS actual_rows",
            "round(CAST(nr AS DOUBLE) * ns / greatest(dr, ds), 2)" +
              " AS est_rows",
            "CASE WHEN coalesce(actual, 0) = 0 THEN CAST(NULL AS DOUBLE)" +
              " ELSE round(CAST(nr AS DOUBLE) * ns / greatest(dr, ds)" +
              " / actual, 6) END AS est_ratio")
      }
      val a = audit("orders_x_lineitem",
        table(s, dir, "orders"), "o_orderkey",
        table(s, dir, "lineitem"), "l_orderkey")
      val b = audit("customer_x_orders",
        table(s, dir, "customer"), "c_custkey",
        table(s, dir, "orders"), "o_custkey")
      val c = audit("part_x_lineitem",
        table(s, dir, "part"), "p_partkey",
        table(s, dir, "lineitem"), "l_partkey")
      a.unionByName(b).unionByName(c).orderBy("pair")
    }),
  )

  val oracle: Map[String, String] = strictMap(

    "q_audience_overlap" ->
      """WITH tu AS (SELECT DISTINCT event_type AS t, user_id FROM events),
        |sz AS (SELECT t, count(*) AS n FROM tu GROUP BY t),
        |uni AS (SELECT count(DISTINCT user_id) AS nu FROM tu),
        |co AS (
        |  SELECT a.t AS ta, b.t AS tb, count(*) AS co
        |  FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.t < b.t
        |  GROUP BY 1, 2
        |)
        |SELECT ta, tb, CAST(na.n AS BIGINT) AS na,
        |  CAST(nb.n AS BIGINT) AS nb, CAST(co AS BIGINT) AS co,
        |  round(CAST(co AS DOUBLE) / (na.n + nb.n - co), 6) AS jaccard,
        |  round(CAST(co AS DOUBLE) * nu / (CAST(na.n AS DOUBLE) * nb.n), 6)
        |    AS lift
        |FROM co
        |JOIN sz na ON na.t = co.ta
        |JOIN sz nb ON nb.t = co.tb
        |CROSS JOIN uni
        |ORDER BY ta, tb""".stripMargin,

    "q_reciprocity" ->
      """WITH f AS MATERIALIZED (
        |  SELECT c.c_nationkey AS cn, s.s_nationkey AS sn, count(*) AS fl
        |  FROM orders o
        |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  GROUP BY 1, 2
        |  HAVING c.c_nationkey <> s.s_nationkey
        |),
        |j AS (
        |  SELECT a.cn, a.sn, a.fl, coalesce(b.fl, 0) AS rfl
        |  FROM f a LEFT JOIN f b ON b.cn = a.sn AND b.sn = a.cn
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_edges,
        |  CAST(sum(CASE WHEN rfl > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_recip,
        |  round(CAST(sum(CASE WHEN rfl > 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS reciprocity,
        |  round(CAST(sum(abs(fl - rfl)) AS DOUBLE)
        |    / sum(fl + rfl), 6) AS flow_asymmetry
        |FROM j""".stripMargin,

    "q_join_card_audit" -> {
      def side(pair: String, rt: String, rk: String, tt: String,
               tk: String) =
        s"""SELECT '$pair' AS pair, CAST(nr AS BIGINT) AS n_left,
           |  CAST(ns AS BIGINT) AS n_right, CAST(dr AS BIGINT) AS ndv_left,
           |  CAST(ds AS BIGINT) AS ndv_right,
           |  CAST(coalesce(actual, 0) AS BIGINT) AS actual_rows,
           |  round(CAST(nr AS DOUBLE) * ns / greatest(dr, ds), 2)
           |    AS est_rows,
           |  CASE WHEN coalesce(actual, 0) = 0 THEN CAST(NULL AS DOUBLE)
           |       ELSE round(CAST(nr AS DOUBLE) * ns / greatest(dr, ds)
           |       / actual, 6) END AS est_ratio
           |FROM (SELECT count(*) AS nr, count(DISTINCT $rk) AS dr FROM $rt)
           |CROSS JOIN (SELECT count(*) AS ns, count(DISTINCT $tk) AS ds
           |            FROM $tt)
           |CROSS JOIN (
           |  SELECT sum(na * nb) AS actual FROM
           |    (SELECT $rk AS k, count(*) AS na FROM $rt GROUP BY 1) pr
           |  JOIN (SELECT $tk AS k, count(*) AS nb FROM $tt GROUP BY 1) pt
           |    USING (k)
           |)""".stripMargin
      s"""${side("orders_x_lineitem", "orders", "o_orderkey",
             "lineitem", "l_orderkey")}
         |UNION ALL
         |${side("customer_x_orders", "customer", "c_custkey",
             "orders", "o_custkey")}
         |UNION ALL
         |${side("part_x_lineitem", "part", "p_partkey",
             "lineitem", "l_partkey")}
         |ORDER BY pair""".stripMargin
    },
  )
}

/** Wave-33 additions — pairing and dependency profiling:
  *
  *  - q_matching: greedy maximal matching (deterministic min-id mutual
  *    proposals, [[graft.operators.Matching]]) over the supplier
  *    co-purchase graph, bounded to 3 proposal rounds — the
  *    conflict-free pairing primitive (reviewer assignment, graph
  *    coarsening). The oracle unrolls the identical rounds.
  *  - q_fd_audit: functional-dependency audit over four candidate FDs
  *    with mixed outcomes (the profiling pass an ingestion pipeline runs
  *    to discover keys and denormalization errors): per FD the group
  *    count, violating-group count, max per-group NDV of the dependent,
  *    and the holds verdict.
  *
  * Determinism: matching is pure integer min algebra (the same matching
  * in any engine/partitioning); FD statistics are exact counts. */
object Wave33 extends Catalog {

  private val MatchMinW = 5
  private val MatchRounds = 3

  /** Candidate FDs: (table, lhs, rhs) — o_orderkey → o_custkey holds
    * (PK); the other three fail with real violation counts. */
  private val Fds = Seq(
    ("orders", "o_orderkey", "o_custkey"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("lineitem", "l_partkey", "l_suppkey"))

  val queries: Map[String, Q] = strictMap(

    // MATCHING: one partial-agg'd proposal shuffle + two anti-joins per
    // round on the (already weight-thresholded) co-purchase edge list;
    // the 3-round bound is the contract (identical unrolled rounds in
    // the oracle; the operator's early exit on an empty remainder cannot
    // change the output).
    "q_matching" -> ((s, dir) => {
      val os = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .distinct()
      val und = os.alias("a").join(os.alias("b"), Seq("ok"))
        .where(col("a.sk") < col("b.sk"))
        .groupBy(col("a.sk").as("u"), col("b.sk").as("v"))
        .agg(count(lit(1)).as("w"))
        .where(col("w") >= MatchMinW)
        .select(col("u").as("src"), col("v").as("dst"))
      graft.operators.Matching.run(und, MatchRounds)
        .selectExpr("CAST(u AS BIGINT) AS u", "CAST(v AS BIGINT) AS v",
          "CAST(round AS BIGINT) AS round")
        .orderBy("round", "u")
    }),

    // FD AUDIT: each candidate is one partial-agg'd (lhs → ndv(rhs))
    // shuffle + a 1-row summary; the four summaries union to the audit
    // table. Exact count_distinct per group — group state is the rhs
    // value set, bounded by the FD's actual violation degree.
    "q_fd_audit" -> ((s, dir) => {
      val rows = Fds.map { case (t, lhs, rhs) =>
        table(s, dir, t)
          .groupBy(col(lhs)).agg(count_distinct(col(rhs)).as("ndv"))
          .agg(count(lit(1)).as("n_groups"),
            sum(when(col("ndv") > 1, 1L).otherwise(0L)).as("n_violating"),
            max("ndv").as("max_ndv"))
          .selectExpr(s"'$t' AS tbl", s"'$lhs' AS lhs", s"'$rhs' AS rhs",
            "CAST(n_groups AS BIGINT) AS n_groups",
            "CAST(n_violating AS BIGINT) AS n_violating",
            "CAST(max_ndv AS BIGINT) AS max_ndv",
            "CAST(CASE WHEN n_violating = 0 THEN 1 ELSE 0 END AS BIGINT)" +
              " AS holds")
      }
      rows.reduce(_ unionByName _).orderBy("tbl", "lhs", "rhs")
    }),
  )

  val oracle: Map[String, String] = strictMap(

    "q_matching" -> {
      val rounds = (1 to MatchRounds).map { i =>
        s"""s$i AS (SELECT u AS a, v AS b FROM e${i - 1}
           |       UNION ALL SELECT v, u FROM e${i - 1}),
           |p$i AS (SELECT a, min(b) AS p FROM s$i GROUP BY a),
           |m$i AS (SELECT x.a AS u, x.p AS v
           |        FROM p$i x JOIN p$i y ON x.a = y.p AND x.p = y.a
           |        WHERE x.a < x.p),
           |mv$i AS (SELECT u AS x FROM m$i UNION ALL SELECT v FROM m$i),
           |e$i AS (SELECT u, v FROM e${i - 1}
           |        WHERE u NOT IN (SELECT x FROM mv$i)
           |          AND v NOT IN (SELECT x FROM mv$i))""".stripMargin
      }.mkString(",\n")
      val out = (1 to MatchRounds).map(i =>
        s"SELECT u, v, CAST($i AS BIGINT) AS round FROM m$i")
        .mkString("\nUNION ALL\n")
      s"""WITH os AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
         |),
         |e0 AS (
         |  SELECT a.sk AS u, b.sk AS v
         |  FROM os a JOIN os b ON a.ok = b.ok AND a.sk < b.sk
         |  GROUP BY 1, 2 HAVING count(*) >= $MatchMinW
         |),
         |$rounds
         |SELECT CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v, round
         |FROM ($out) ORDER BY round, u""".stripMargin
    },

    "q_fd_audit" -> {
      val rows = Fds.map { case (t, lhs, rhs) =>
        s"""SELECT '$t' AS tbl, '$lhs' AS lhs, '$rhs' AS rhs,
           |  CAST(count(*) AS BIGINT) AS n_groups,
           |  CAST(sum(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_violating,
           |  CAST(max(ndv) AS BIGINT) AS max_ndv,
           |  CAST(CASE WHEN sum(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) = 0
           |       THEN 1 ELSE 0 END AS BIGINT) AS holds
           |FROM (SELECT $lhs, count(DISTINCT $rhs) AS ndv
           |      FROM $t GROUP BY $lhs)""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"SELECT * FROM (\n$rows\n) ORDER BY tbl, lhs, rhs"
    },
  )
}

/** Wave-34 additions — connectivity structure audits over the supplier
  * co-purchase graph (the ConnectedComponents machinery, oracle-twinned
  * by DuckDB recursive CTEs — the q_dedup_components precedent):
  *
  *  - q_percolation: component structure under an edge-weight threshold
  *    sweep (w ≥ 5/8/12) — how the giant component dissolves as the
  *    co-purchase evidence bar rises; the bond-percolation view of
  *    "how much of this graph is real signal".
  *  - q_robustness: targeted-attack robustness — the giant component
  *    before and after removing the top-8 degree hubs (deterministic
  *    degree-desc, id-asc selection), the classic scale-free-network
  *    fragility audit (Albert-Jeong-Barabási).
  *
  * Determinism: thresholds, degrees and component labels are pure
  * integer algebra; min-label CC is engine- and partition-invariant. */
object Wave34 extends Catalog {

  // sweep starts AT the established co-purchase noise floor (w ≥ 5, the
  // q_triangles semantics): below it the projection is near-complete and
  // any component algorithm pays a quadratic-ish edge set for structure
  // that is one-off co-occurrence noise anyway
  private val PercThresholds = Seq(5L, 8L, 12L)
  private val RobustHubs = 8

  /** The weighted co-purchase projection (u < v, w = shared orders). */
  private def coPurchase(s: SparkSession, dir: String): DataFrame = {
    val os = table(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      .distinct()
    os.alias("a").join(os.alias("b"), Seq("ok"))
      .where(col("a.sk") < col("b.sk"))
      .groupBy(col("a.sk").as("u"), col("b.sk").as("v"))
      .agg(count(lit(1)).as("w"))
  }

  /** Summary row over an edge set and its (already converged) labels. */
  private def summary(labels: DataFrame, e: DataFrame,
                      tag: org.apache.spark.sql.Column): DataFrame = {
    val sizes = labels.groupBy("l").agg(count(lit(1)).as("sz"))
    sizes.agg(count(lit(1)).as("nc"), max("sz").as("g"), sum("sz").as("nv"))
      .crossJoin(broadcast(e.agg(count(lit(1)).as("ne"))))
      .select(tag,
        expr("CAST(nc AS BIGINT) AS n_components"),
        expr("CAST(g AS BIGINT) AS giant_size"),
        expr("CAST(nv AS BIGINT) AS n_vertices"),
        expr("CAST(ne AS BIGINT) AS n_edges"))
  }

  val queries: Map[String, Q] = strictMap(

    // PERCOLATION: ONE weighted-projection shuffle (ckpt'd — all three
    // thresholds read it), then per threshold a filter + the O(log)
    // hooking CC; summaries are metadata. The thresholds are NESTED
    // (τ₁ < τ₂ < τ₃ ⇒ E₃ ⊆ E₂ ⊆ E₁), so the sweep runs τ DESCENDING and
    // each coarser graph's CONVERGED labels REFINE the next denser one
    // (ConnectedComponents.refine: contract by the labels, fixpoint on
    // the component-count-sized graph, relabel) — identical min-labels,
    // but only ONE full-size cold fixpoint instead of r7's three (the
    // r7 verdict task 5).
    "q_percolation" -> ((s, dir) => {
      val wt = coPurchase(s, dir).ckpt()
      var seed: DataFrame = null
      PercThresholds.sorted.reverse.map { thr =>
        val e = wt.where(col("w") >= thr)
          .select(col("u").as("a"), col("v").as("b"))
        val (labels, _) =
          if (seed == null) graft.operators.ConnectedComponents.labels(e)
          else graft.operators.ConnectedComponents.refine(e, seed)
        seed = labels
        summary(labels, e, lit(thr).as("threshold"))
      }.reduce(_ unionByName _).orderBy("threshold")
    }),

    // ROBUSTNESS: degrees from the thresholded edge list, a constant
    // top-8 hub selection (TakeOrderedAndProject — never a fraction of
    // the graph), two anti-joins drop hub-incident edges, CC twice —
    // the CUT graph runs first (cold) and its labels REFINE the base CC
    // (E_cut ⊆ E_base, the same contract-and-relabel trick; the reverse
    // direction would be unsound — base components are coarser).
    "q_robustness" -> ((s, dir) => {
      val e0 = coPurchase(s, dir).where(col("w") >= 5L)
        .select("u", "v").ckpt()
      val deg = e0.select(col("u").as("x"))
        .unionAll(e0.select(col("v").as("x")))
        .groupBy("x").agg(count(lit(1)).as("d"))
      val hubs = broadcast(deg.orderBy(desc("d"), asc("x"))
        .limit(RobustHubs).select("x"))
      val e1 = e0
        .join(hubs.select(col("x").as("u")), Seq("u"), "left_anti")
        .join(hubs.select(col("x").as("v")), Seq("v"), "left_anti")
        .select("u", "v")
      val eCut = e1.select(col("u").as("a"), col("v").as("b"))
      val eBase = e0.select(col("u").as("a"), col("v").as("b"))
      val (cutLabels, _) = graft.operators.ConnectedComponents.labels(eCut)
      val (baseLabels, _) =
        graft.operators.ConnectedComponents.refine(eBase, cutLabels)
      summary(baseLabels, eBase, lit("base").as("stage"))
        .unionByName(summary(cutLabels, eCut,
          lit("hubs_removed").as("stage")))
        .orderBy("stage")
    }),
  )

  private val CoPurchaseSql =
    """os AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
      |),
      |wt AS (
      |  SELECT a.sk AS u, b.sk AS v, count(*) AS w
      |  FROM os a JOIN os b ON a.ok = b.ok AND a.sk < b.sk
      |  GROUP BY 1, 2
      |)""".stripMargin

  /** Recursive min-label closure + summary row over an edge CTE `e$sfx`
    * (columns a, b, one direction — mirrored internally). */
  private def ccSummarySql(sfx: String, tagExpr: String): String =
    s"""sym$sfx AS (SELECT a, b FROM e$sfx UNION ALL SELECT b, a FROM e$sfx),
       |verts$sfx AS (SELECT DISTINCT a AS v FROM sym$sfx),
       |reach$sfx AS (
       |  SELECT v, v AS l FROM verts$sfx
       |  UNION
       |  SELECT s.b AS v, r.l FROM reach$sfx r JOIN sym$sfx s ON s.a = r.v
       |),
       |comp$sfx AS (SELECT v, min(l) AS l FROM reach$sfx GROUP BY v),
       |sz$sfx AS (SELECT l, count(*) AS sz FROM comp$sfx GROUP BY l),
       |row$sfx AS (
       |  SELECT $tagExpr,
       |    CAST(count(*) AS BIGINT) AS n_components,
       |    CAST(max(sz) AS BIGINT) AS giant_size,
       |    CAST(sum(sz) AS BIGINT) AS n_vertices,
       |    (SELECT CAST(count(*) AS BIGINT) FROM e$sfx) AS n_edges
       |  FROM sz$sfx
       |)""".stripMargin

  val oracle: Map[String, String] = strictMap(

    "q_percolation" -> {
      val per = PercThresholds.map { thr =>
        s"""e$thr AS (SELECT u AS a, v AS b FROM wt WHERE w >= $thr),
           |${ccSummarySql(thr.toString,
            s"CAST($thr AS BIGINT) AS threshold")}""".stripMargin
      }.mkString(",\n")
      val out = PercThresholds.map(t => s"SELECT * FROM row$t")
        .mkString("\nUNION ALL\n")
      s"""WITH RECURSIVE $CoPurchaseSql,
         |$per
         |$out
         |ORDER BY threshold""".stripMargin
    },

    "q_robustness" ->
      s"""WITH RECURSIVE $CoPurchaseSql,
         |ebase AS (SELECT u AS a, v AS b FROM wt WHERE w >= 5),
         |deg AS (
         |  SELECT x, count(*) AS d FROM (
         |    SELECT a AS x FROM ebase UNION ALL SELECT b AS x FROM ebase
         |  ) GROUP BY x
         |),
         |hubs AS (SELECT x FROM deg ORDER BY d DESC, x LIMIT $RobustHubs),
         |ecut AS (
         |  SELECT a, b FROM ebase
         |  WHERE a NOT IN (SELECT x FROM hubs)
         |    AND b NOT IN (SELECT x FROM hubs)
         |),
         |${ccSummarySql("base", "'base' AS stage")},
         |${ccSummarySql("cut", "'hubs_removed' AS stage")}
         |SELECT * FROM rowbase
         |UNION ALL SELECT * FROM rowcut
         |ORDER BY stage""".stripMargin,
  )
}

/** Wave-36 addition — the oracle-gated Borůvka view:
  *
  *  - q_mst: 3 bounded Borůvka rounds ([[graft.operators.Mst.runRounds]])
  *    over the weight-thresholded supplier co-purchase graph, each chosen
  *    edge tagged with the round that picked it. This closes the last
  *    oracle-coverage gap in the graph-operator family (r7 verdict):
  *    [[graft.operators.Mst]] itself was spec-gated only (MstSpec pins
  *    run() against a driver-side Kruskal on 150k random edges) because
  *    its driver-loop fixpoint has no oracle-SQL equivalent — but the
  *    ROUNDS are deterministic min-(w, u, v) selections, so a bounded
  *    3-round unroll is DuckDB-writable (the q_matching precedent): per
  *    round the oracle re-labels components via a recursive min-label
  *    closure over the forest-so-far and replays the per-component min
  *    pick with a window.
  *
  * Determinism: the (w, u, v) total order makes every per-component pick
  * unique (no float, no hash, no partition dependence); component labels
  * are min vertex ids — pure integer algebra in both engines. */
object Wave36 extends Catalog {

  /** Co-purchase noise floor (the q_matching / q_percolation semantics). */
  private val MstMinW = 5
  /** Bounded unrolled rounds — components at least halve per round, so 3
    * rounds build ≥ 7/8 of the forest; the oracle replays exactly 3. */
  private val MstRounds = 3

  val queries: Map[String, Q] = strictMap(

    // MST: per round ONE partial-agg'd min-(w,u,v) nomination shuffle
    // (both endpoint components nominate through the same groupBy) + the
    // O(log)-hooking CC merge over the COMPONENT-label graph (component-
    // count-sized, not vertex-count-sized). The 3-round bound is the
    // contract; the operator's early exit on an already-spanning forest
    // cannot change the output.
    "q_mst" -> ((s, dir) => {
      val os = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .distinct()
      val e = os.alias("a").join(os.alias("b"), Seq("ok"))
        .where(col("a.sk") < col("b.sk"))
        .groupBy(col("a.sk").as("u"), col("b.sk").as("v"))
        .agg(count(lit(1)).as("w"))
        .where(col("w") >= MstMinW)
        .selectExpr("CAST(u AS BIGINT) AS src", "CAST(v AS BIGINT) AS dst",
          "CAST(w AS BIGINT) AS w")
      graft.operators.Mst.runRounds(e, MstRounds)
        .selectExpr("CAST(u AS BIGINT) AS u", "CAST(v AS BIGINT) AS v",
          "CAST(w AS BIGINT) AS w", "CAST(round AS BIGINT) AS round")
        .orderBy("round", "u", "v")
    }),
  )

  /** Unrolled hooking CC stages for the oracle's component merge. A
    * recursive min-label CTE would be the natural spelling, but DuckDB
    * re-evaluates every CTE referenced from a recursive branch ON EVERY
    * fixpoint iteration (MATERIALIZED hints are not honored there), and
    * 1-hop label spreading needs diameter-many iterations over the MST's
    * long tree paths — measured 15-25 s at sf0.01 vs 0.14 s for this
    * unrolled form. So the oracle mirrors the Spark operator instead:
    * [[CcStages]] chained MATERIALIZED stages, each taking per vertex the
    * min of (own label, neighbors' labels, HOOK — label(a) hears
    * label(b) across each edge, and pointer jump — label's label): the
    * exact candidate set of `operators.ConnectedComponents`, which
    * collapses label trees geometrically (the repo's adversarial
    * 1000-link chain converges ≤ 12 rounds; 16 stages is comfortable
    * margin for the ≤ few-hundred-vertex co-purchase forests). */
  private val CcStages = 16

  /** The stage chain: labels seeded from `$seed`, closed over edge CTE
    * `$sym` (columns a, b, symmetric); emits CTE fragments and returns
    * (fragments, name of the converged labels CTE). The returned CTE is
    * GUARDED: if stage 16 still differs from stage 15 (a graph that needs
    * more hooking stages than the fixed unroll — larger oracle SF,
    * adversarial structure), it raises a loud DuckDB error instead of
    * silently emitting under-converged labels that would surface only as
    * an opaque downstream hash mismatch. */
  private[queries] def ccStageSql(pfx: String, sym: String,
                                  seed: String): (Seq[String], String) = {
    val frags = (1 to CcStages).map { k =>
      val prev = if (k == 1) seed else s"${pfx}c${k - 1}"
      s"""${pfx}c$k AS MATERIALIZED (
         |  SELECT v, min(l) AS l FROM (
         |    SELECT v, l FROM $prev
         |    UNION ALL
         |    SELECT s.a AS v, p.l FROM $sym s JOIN $prev p ON p.v = s.b
         |    UNION ALL
         |    SELECT pa.l AS v, pb.l AS l
         |    FROM $sym s JOIN $prev pa ON pa.v = s.a
         |                JOIN $prev pb ON pb.v = s.b
         |    UNION ALL
         |    SELECT x.v, y.l FROM $prev x JOIN $prev y ON x.l = y.v
         |  ) GROUP BY v
         |)""".stripMargin
    }
    val guard =
      s"""${pfx}cg AS MATERIALIZED (
         |  SELECT v, CASE WHEN (
         |      SELECT count(*) FROM ${pfx}c$CcStages a
         |      JOIN ${pfx}c${CcStages - 1} b ON a.v = b.v AND a.l <> b.l
         |    ) > 0
         |    THEN CAST(error('graft oracle: $pfx CC stages under-converged after $CcStages rounds') AS BIGINT)
         |    ELSE l END AS l
         |  FROM ${pfx}c$CcStages
         |)""".stripMargin
    (frags :+ guard, s"${pfx}cg")
  }

  /** One unrolled Borůvka round: cross edges under the previous labels,
    * both endpoint components nominate, min-(w, u, v) per component via a
    * window, then labels re-converge over the forest-so-far (seeded from
    * the previous round's labels, so the stages only have to absorb the
    * just-chosen merges). */
  private def mstRoundSql(i: Int, prevComp: String): (String, String) = {
    val forestSoFar = (1 to i).map(j => s"SELECT u, v FROM m$j")
      .mkString(" UNION ALL ")
    val (ccFrags, last) = ccStageSql(s"r$i", s"sym$i", prevComp)
    val frag =
      s"""x$i AS MATERIALIZED (
         |  SELECT e.u, e.v, e.w, cu.l AS cu, cv.l AS cv
         |  FROM e
         |  JOIN $prevComp cu ON e.u = cu.v
         |  JOIN $prevComp cv ON e.v = cv.v
         |  WHERE cu.l <> cv.l
         |),
         |m$i AS MATERIALIZED (
         |  SELECT DISTINCT u, v, w FROM (
         |    SELECT comp, u, v, w,
         |      row_number() OVER (PARTITION BY comp ORDER BY w, u, v) AS rn
         |    FROM (SELECT cu AS comp, u, v, w FROM x$i
         |          UNION ALL SELECT cv, u, v, w FROM x$i)
         |  ) WHERE rn = 1
         |),
         |sym$i AS MATERIALIZED (
         |  SELECT u AS a, v AS b FROM ($forestSoFar)
         |  UNION ALL
         |  SELECT v, u FROM ($forestSoFar)
         |),
         |${ccFrags.mkString(",\n")},
         |comp$i AS MATERIALIZED (SELECT v, l FROM $last)""".stripMargin
    (frag, s"comp$i")
  }

  val oracle: Map[String, String] = strictMap(

    "q_mst" -> {
      val rounds = (1 to MstRounds).map { i =>
        mstRoundSql(i, if (i == 1) "comp0" else s"comp${i - 1}")._1
      }.mkString(",\n")
      val out = (1 to MstRounds).map(i =>
        s"SELECT u, v, w, CAST($i AS BIGINT) AS round FROM m$i")
        .mkString("\nUNION ALL\n")
      s"""WITH os AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
         |),
         |e AS MATERIALIZED (
         |  SELECT CAST(a.sk AS BIGINT) AS u, CAST(b.sk AS BIGINT) AS v,
         |         CAST(count(*) AS BIGINT) AS w
         |  FROM os a JOIN os b ON a.ok = b.ok AND a.sk < b.sk
         |  GROUP BY 1, 2 HAVING count(*) >= $MstMinW
         |),
         |verts AS MATERIALIZED (SELECT u AS x FROM e UNION SELECT v FROM e),
         |comp0 AS MATERIALIZED (SELECT x AS v, x AS l FROM verts),
         |$rounds
         |SELECT CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v,
         |       CAST(w AS BIGINT) AS w, round
         |FROM ($out) ORDER BY round, u, v""".stripMargin
    },
  )
}

/** Wave-39 additions — the user-scale SCC value proof and the fifth
  * oracle-gated streaming sink:
  *
  *  - q_scc_user: strongly connected components of the supplier
  *    SUCCESSION digraph (per order, lineitems ordered by l_linenumber;
  *    each supplier keeps directed edges to its top-3 successors by
  *    observation count) computed by [[graft.operators.Scc]] — the
  *    forward/backward min-label peeling operator that was spec-gated
  *    only (SccSpec's planted 10⁵-edge digraph) since wave 26. The
  *    oracle computes the SAME fixpoint by a DIFFERENT algorithm
  *    (mutual-reachability via unrolled doubling closure, convergence-
  *    guarded), so the hash match is a value-level proof of Scc.run on
  *    harness data — the q_single_linkage pattern (r8) applied to the
  *    last spec-only graph operator. Unlike q_scc's ≤25-node nation
  *    condensation, the vertex set here GROWS with SF (100 suppliers at
  *    sf0.01, 1000 at sf0.1, 10k at sf1) while the top-3 rule keeps
  *    out-degree constant — O(V) state, O(E)=O(3V) per propagation
  *    round at any scale.
  *  - q_stream_recent_sink: the ListState recent-K buffer
  *    ([[graft.streaming.StreamOps.recentEvents]] — the last
  *    transformWithState primitive still JVM-spec-only) run as a real
  *    AvailableNow job over the events parquet, per-batch update-mode
  *    emissions appended to a versioned sink, latest batch per user =
  *    the final window — which must equal the batch "newest 3 events
  *    per user" the DuckDB oracle computes (the q_stream_dedup_sink
  *    pattern; 5th oracle-gated streaming query).
  *
  * Determinism: SCC labels are min-id integer fixpoints; succession
  * edges rank by (count DESC, suppkey ASC) — no floats, no hashes. The
  * recent-K buffer orders by (epoch-millis, event_id) — the exact state
  * key the processor sorts on — spelled identically in the oracle. */
object Wave39 extends Catalog {

  /** Successors kept per supplier: constant out-degree at any SF. */
  private val TopSucc = 3
  /** Oracle doubling rounds: paths ≤ 2⁷ = 128 ≥ any shortest path on the
    * sf0.01 gate graph (100 vertices); the convergence guard errors
    * loudly if a larger oracle SF ever needs more. */
  private val SccDoublingRounds = 7
  /** Recent-event buffer size (StreamOps.recentEvents default). */
  private val RecentK = 3

  val queries: Map[String, Q] = strictMap(

    // SCC USER-SCALE: the lineitem self-join on (orderkey, linenumber+1)
    // is the only data-scale stage (one shuffle by orderkey, partial-agg'd
    // pair counts); the top-3 rank is a per-supplier window over the
    // aggregated pair table (|suppliers|·avg-successors rows, not
    // lineitem rows). Scc.run then runs on a 3·V-edge digraph: forward
    // min-label fixpoint + backward root flags per peeling round, O(V)
    // label state — the 100 TB shape (SccSpec pins the same operator on a
    // planted 10⁵-edge graph; this query pins it on harness data against
    // an independent-algorithm oracle).
    "q_scc_user" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val seq = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
          col("l_suppkey").as("sk"))
      val cons = seq.alias("a")
        .join(seq.alias("b"),
          col("a.ok") === col("b.ok") && col("b.ln") === col("a.ln") + 1)
        .where(col("a.sk") =!= col("b.sk"))
        .groupBy(col("a.sk").as("u"), col("b.sk").as("v"))
        .agg(count(lit(1)).as("w"))
      val e = cons
        .withColumn("rn", row_number().over(
          Window.partitionBy("u").orderBy(desc("w"), asc("v"))))
        .where(col("rn") <= TopSucc)
        .selectExpr("CAST(u AS BIGINT) AS src", "CAST(v AS BIGINT) AS dst")
      val scc = graft.operators.Scc.run(e, maxOuter = 20, maxProp = 120)
      val sizes = scc.groupBy("scc").agg(count(lit(1)).as("n"))
      scc.join(broadcast(sizes), "scc")
        .selectExpr("CAST(v AS BIGINT) AS suppkey",
          "CAST(scc AS BIGINT) AS scc", "CAST(n AS BIGINT) AS scc_size")
        .orderBy("suppkey")
    }),

    // STREAM RECENT-K SINK: ListState buffer truncated to the newest 3
    // (epoch-ms, event_id) pairs per user, emitted in update mode per
    // micro-batch; the latest batch's emission per user is the final
    // window, read back as a batch table. event_ids serialize as a
    // comma-joined string (the driver's cell compare is scalar-typed).
    "q_stream_recent_sink" -> ((s, dir) => {
      import s.implicits._
      val base = s"$TmpRoot/stream_recent_${new java.io.File(dir).getName}"
      val sch = s.read.parquet(s"$dir/events.parquet").schema
      val src = normalizeTs(s.readStream.schema(sch)
        .option("pathGlobFilter", "events.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(dir))
        .select("event_id", "ts", "user_id", "event_type", "value")
        .as[graft.streaming.Event]
      // transformWithState requires the RocksDB store (multiple column
      // families); restore the session's provider afterwards
      val pk = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(pk)
      s.conf.set(pk, "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
      try {
        graft.streaming.StreamOps.recentEvents(src, RecentK).toDF()
          .writeStream
          .option("checkpointLocation", s"$base/ckpt")
          .outputMode("update")
          .foreachBatch { (b: DataFrame, id: Long) =>
            b.withColumn("batch_id", lit(id))
              .write.mode("append").parquet(s"$base/sink")
            ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
          .awaitTermination()
      } finally prev match {
        case Some(v) => s.conf.set(pk, v)
        case None => s.conf.unset(pk)
      }
      val sink = s.read.parquet(s"$base/sink")
      // latest batch per user wins (update-mode semantics)
      sink.groupBy("user_id")
        .agg(expr("max_by(event_ids, batch_id)").as("ids"))
        .selectExpr("CAST(user_id AS BIGINT) AS user_id",
          "concat_ws(',', transform(ids, x -> CAST(x AS STRING))) AS event_ids")
        .orderBy("user_id")
    }),
  )

  val oracle: Map[String, String] = strictMap(

    // Mutual-reachability closure by doubling (a DIFFERENT algorithm than
    // the Spark side's FW-BW peeling — the value-proof point). Every round
    // CTE is MATERIALIZED (multi-reference re-inlining is multiplicative —
    // the q_mis oracle lesson); the reflexive base makes round k cover all
    // paths ≤ 2^k. The guard CTE errors loudly if the last two rounds
    // still differ (under-convergence would otherwise surface only as an
    // opaque hash mismatch).
    "q_scc_user" -> {
      val rounds = (1 to SccDoublingRounds).map { k =>
        s"""r$k AS MATERIALIZED (
           |  SELECT u, v FROM r${k - 1}
           |  UNION
           |  SELECT a.u, b.v FROM r${k - 1} a JOIN r${k - 1} b ON a.v = b.u
           |)""".stripMargin
      }.mkString(",\n")
      val last = s"r$SccDoublingRounds"
      val prev = s"r${SccDoublingRounds - 1}"
      s"""WITH seq AS MATERIALIZED (
         |  SELECT l_orderkey AS ok, l_linenumber AS ln, l_suppkey AS sk
         |  FROM lineitem
         |),
         |cons AS MATERIALIZED (
         |  SELECT a.sk AS u, b.sk AS v, count(*) AS w
         |  FROM seq a JOIN seq b ON a.ok = b.ok AND b.ln = a.ln + 1
         |  WHERE a.sk <> b.sk GROUP BY 1, 2
         |),
         |e AS MATERIALIZED (
         |  SELECT u, v FROM (
         |    SELECT u, v,
         |      row_number() OVER (PARTITION BY u ORDER BY w DESC, v) AS rn
         |    FROM cons) WHERE rn <= $TopSucc
         |),
         |r0 AS MATERIALIZED (
         |  SELECT u, v FROM e
         |  UNION
         |  SELECT x, x FROM (SELECT u AS x FROM e UNION SELECT v FROM e)
         |),
         |$rounds,
         |rg AS MATERIALIZED (
         |  SELECT u, CASE WHEN (SELECT count(*) FROM $last) <>
         |                      (SELECT count(*) FROM $prev)
         |    THEN CAST(error('graft oracle: q_scc_user closure under-converged after $SccDoublingRounds doubling rounds') AS BIGINT)
         |    ELSE v END AS v
         |  FROM $last
         |),
         |scc AS MATERIALIZED (
         |  SELECT r.u AS v, min(r.v) AS scc
         |  FROM rg r JOIN rg b ON b.u = r.v AND b.v = r.u
         |  GROUP BY r.u
         |),
         |sizes AS (SELECT scc, count(*) AS n FROM scc GROUP BY scc)
         |SELECT CAST(s.v AS BIGINT) AS suppkey, CAST(s.scc AS BIGINT) AS scc,
         |  CAST(z.n AS BIGINT) AS scc_size
         |FROM scc s JOIN sizes z USING (scc)
         |ORDER BY suppkey""".stripMargin
    },

    // the transformWithState final window must equal the batch
    // newest-3-per-user — the oracle never sees a stream. Ranks by
    // epoch-MILLIS (the processor's state key is ts.getTime), ties by
    // event_id, window emitted ascending.
    "q_stream_recent_sink" ->
      s"""WITH r AS (
         |  SELECT user_id, event_id, epoch_ms(ts) AS ms,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
         |  FROM events
         |)
         |SELECT CAST(user_id AS BIGINT) AS user_id,
         |  string_agg(CAST(event_id AS VARCHAR), ','
         |    ORDER BY ms, event_id) AS event_ids
         |FROM r WHERE rn <= $RecentK
         |GROUP BY user_id ORDER BY user_id""".stripMargin,
  )
}
