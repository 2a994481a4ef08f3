package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Ckpt._

/** Graph-analytics additions over the harness projections: link
  * prediction (Adamic-Adar) on the supplier co-purchase graph and the
  * HyperANF neighborhood function (Boldi-Vigna, WWW'11) on the
  * part↔supplier bipartite graph — per-vertex HyperLogLog registers
  * max-merged along edges, the sketch-based answer to "how big is each
  * vertex's t-hop ball" that runs in O(rounds · |E|) instead of an
  * all-pairs BFS.
  *
  * Determinism: Adamic-Adar follows the q_tfidf/q_bm25 float discipline
  * (ln pre-rounded to 8 decimals, one correctly-rounded division, 6-decimal
  * contribution rounding, decimal sums); HyperANF registers are md5-derived
  * integers with BIGINT harmonic sums (the q_sketch_hll machinery), so both
  * are partition- and engine-invariant.
  */
object Graphs extends Catalog {

  type Q = (SparkSession, String) => DataFrame

  /** Same co-occurrence graph as q_kcore (parts sharing ≥ 2 orders,
    * baskets capped at 64 items — the supplier projection is COMPLETE at
    * harness scale, useless for link prediction); wedge centers capped at
    * degree ≤ [[AaMaxDeg]] — the df-cap discipline: a 10⁶-degree hub
    * would fan out C(10⁶,2) wedges while its 1/ln(10⁶) contribution is
    * noise-level. */
  private val AaMinW = 2
  private val AaBasketCap = 64
  private val AaMaxDeg = 64

  /** Per-wedge Adamic-Adar contribution (column d = center degree ≥ 2):
    * ONE spelling both engines — ln pre-rounded 8, then a single
    * correctly-rounded IEEE division, then the 6-decimal round that makes
    * contributions decimal-summable. */
  private val AaContribExpr =
    "round(1.0 / round(ln(CAST(d AS DOUBLE)), 8), 6)"

  /** HyperANF register count per vertex and its alpha. */
  private val AnfM = 16
  private val AnfAlpha = "0.673"
  private val AnfRounds = 2

  /** rho upper bound: the 60-bit hash leaves a (60 − log2 m) = 56-bit
    * remainder, so rho = 57 − bitlength(rest) ∈ [1, 57] (rest = 0 → 57).
    * (The m = 64 sketches use 55 — per-m constants, NOT shared.) */
  private val AnfRhoMax = 57

  /** Shared estimate expression over (R, S) with S the dense harmonic sum
    * Σ 2^(R−reg) including the (m − n_nz) zero registers at 2^R. */
  private val AnfRawEstExpr =
    s"round($AnfAlpha * ${AnfM * AnfM} * pow(2, CAST(R AS DOUBLE)) / CAST(S AS DOUBLE), 2)"

  /** Flajolet small-range (linear counting) correction: raw ≤ 2.5m with
    * zero registers present → est = m·ln(m/zeros). The ln values are a
    * 15-entry literal table computed once here (2-decimal), so neither
    * engine evaluates a runtime log — without this, a singleton ball
    * estimates ~11 instead of ~1 at m = 16. */
  private val AnfEstExpr: String = {
    val lc = (1 until AnfM).map { z =>
      val v = BigDecimal(AnfM * Math.log(AnfM.toDouble / z))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP)
      s"WHEN ${AnfM - z} THEN CAST($v AS DOUBLE)"
    }.mkString(" ")
    s"CASE WHEN n_nz < $AnfM AND $AnfRawEstExpr <= ${5 * AnfM / 2}.0" +
      s" THEN (CASE n_nz $lc END) ELSE $AnfRawEstExpr END"
  }

  /** q_lcc: same co-purchase supplier graph as q_triangles (shared-order
    * weight ≥ 5 keeps the projection sparse on the uniform harness data). */
  private val LccMinW = 5

  /** q_hits: iteration count (unrolled identically in the oracle). */
  private val HitsRounds = 3

  val queries: Map[String, Q] = strictMap(

    // HITS hubs & authorities (operators.Hits) on the directed
    // customer→part purchase graph: two edge⋈scores joins per round with
    // max-normalization (L∞ — no cross-engine sqrt), the PageRank float
    // discipline throughout. Top-10 per side via TakeOrderedAndProject.
    "q_hits" -> ((s, dir) => {
      val e = table(s, dir, "orders")
        .join(table(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_partkey") + 10000000L).as("dst"))
      val hs = graft.operators.Hits.run(e, HitsRounds)
      val top = hs.where(col("kind") === "hub")
        .orderBy(desc("score"), asc("v")).limit(10)
        .unionByName(hs.where(col("kind") === "auth")
          .orderBy(desc("score"), asc("v")).limit(10))
      top.select(col("v").cast("long").as("v"), col("kind"), col("score"))
        .orderBy(col("kind"), desc("score"), asc("v"))
    }),

    // Local clustering coefficient: per-vertex closed-triangle count over
    // C(deg, 2) possible wedges — the q_triangles degree-oriented wedge
    // join (each triangle materializes ONCE as (apex; t1 < t2), fan-out
    // bounded by orienting edges low-degree → high-degree), then each
    // triangle credits its 3 corners via one 3-way explode. Integer
    // counts; the only float op is one correctly-rounded division per
    // emitted vertex. Never an all-pairs join.
    "q_lcc" -> ((s, dir) => {
      val os = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .distinct()
      // the basket self-join is the expensive stage and feeds FOUR
      // branches (deg ×2 unions, the withDeg join, the triangle-closing
      // join) — materialize once or the whole projection re-executes
      // per branch (plan audit r5: 52 Exchanges without this)
      val und = os.alias("a").join(os.alias("b"), Seq("ok"))
        .where(col("a.sk") < col("b.sk"))
        .groupBy(col("a.sk").as("u"), col("b.sk").as("v"))
        .agg(count(lit(1)).as("w"))
        .where(col("w") >= LccMinW).select("u", "v")
        .ckpt()
      val deg = und.select(col("u").as("x"))
        .unionAll(und.select(col("v").as("x")))
        .groupBy("x").agg(count(lit(1)).as("d"))
      val withDeg = und
        .join(deg.select(col("x").as("u"), col("d").as("du")), Seq("u"))
        .join(deg.select(col("x").as("v"), col("d").as("dv")), Seq("v"))
      val oriented = withDeg.select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          struct(col("u").as("s"), col("v").as("t")))
          .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("e"))
        .select(col("e.s").as("s"), col("e.t").as("t"))
        .ckpt() // self-joined ×2 below
      val tri = oriented.alias("e1").join(oriented.alias("e2"), Seq("s"))
        .where(col("e1.t") < col("e2.t"))
        .join(und, col("e1.t") === col("u") && col("e2.t") === col("v"))
        .select(col("s"), col("u"), col("v"))
      val perVertex = tri
        .select(explode(array(col("s"), col("u"), col("v"))).as("x"))
        .groupBy("x").agg(count(lit(1)).as("tri"))
      deg.where(col("d") >= 2)
        .join(perVertex, Seq("x"), "left_outer")
        .select(col("x").as("v"), col("d"),
          coalesce(col("tri"), lit(0L)).as("tri"))
        .withColumn("lcc",
          expr("round(CAST(2 * tri AS DOUBLE) / CAST(d * (d - 1) AS DOUBLE), 6)"))
        .orderBy(desc("lcc"), desc("d"), asc("v")).limit(30)
    }),

    // Jaccard neighborhood similarity (the set-overlap twin of
    // Adamic-Adar): candidates are 2-hop pairs enumerated as wedges
    // through degree-capped centers, |N(u) ∩ N(v)| is the wedge count per
    // pair, and |N(u) ∪ N(v)| = deg(u) + deg(v) − |∩| needs no second
    // pass. BOTH terms are computed over the CAPPED adjacency (only
    // neighbors whose own degree is in [2, AaMaxDeg] count): the wedge
    // enumeration can only see common neighbors that survive the cap, so
    // using full degrees in the union would bias jac low whenever a
    // shared neighbor is a capped-out hub — with capped degrees, jac is
    // the EXACT Jaccard of the capped graph (a well-defined contract,
    // like q_ann_ivf's probe-subset recall). Existing edges drop with one
    // anti-join; all arithmetic is integer except the final
    // correctly-rounded ratio.
    "q_jaccard_sim" -> ((s, dir) => {
      val b = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val small = b.groupBy("ok").agg(count(lit(1)).as("bs"))
        .where(col("bs") <= AaBasketCap).select("ok")
      val os = b.join(small, "ok")
      // the basket self-join feeds adj (×2), and the anti-join —
      // materialize once (plan audit r5: 100 Exchanges without this)
      val und = os.alias("a").join(os.alias("b"), Seq("ok"))
        .where(col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
        .agg(count(lit(1)).as("w"))
        .where(col("w") >= AaMinW).select("u", "v")
        .ckpt()
      val adj = und.select(col("u").as("ctr"), col("v").as("n"))
        .unionAll(und.select(col("v").as("ctr"), col("u").as("n")))
      val deg = adj.groupBy("ctr").agg(count(lit(1)).as("d"))
      val centers = adj.join(
          deg.where(col("d") >= 2 && col("d") <= AaMaxDeg), "ctr")
        .ckpt() // self-joined ×2 below + the capped-degree pass
      // |N(x) ∩ capped centers| — the SAME neighborhood the wedge count
      // sees, so inter ≤ min(du, dv) by construction
      val degC = centers.groupBy("n").agg(count(lit(1)).as("d"))
      val wedges = centers.alias("x")
        .join(centers.alias("y"), Seq("ctr"))
        .where(col("x.n") < col("y.n"))
        .select(col("x.n").as("u"), col("y.n").as("v"))
      val inter = wedges.join(und, Seq("u", "v"), "left_anti")
        .groupBy("u", "v").agg(count(lit(1)).as("inter"))
      inter
        .join(degC.select(col("n").as("u"), col("d").as("du")), Seq("u"))
        .join(degC.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
        .withColumn("uni", col("du") + col("dv") - col("inter"))
        .withColumn("jac",
          expr("round(CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE), 6)"))
        .select(col("u").cast("long").as("u"), col("v").cast("long").as("v"),
          col("inter"), col("uni"), col("jac"))
        .orderBy(desc("jac"), asc("u"), asc("v")).limit(20)
    }),

    // Link prediction by Adamic-Adar: for every non-adjacent supplier
    // pair (u, v), AA = Σ over common neighbors w of 1/ln(deg(w)) —
    // common neighbors enumerate as wedges through each center (the
    // q_triangles join shape, fan-out C(deg,2) bounded by the degree
    // cap), existing edges drop with one anti-join, and the top-20
    // predicted links select via TakeOrderedAndProject. Never an
    // all-pairs vertex join.
    "q_link_predict" -> ((s, dir) => {
      val b = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val small = b.groupBy("ok").agg(count(lit(1)).as("bs"))
        .where(col("bs") <= AaBasketCap).select("ok")
      val os = b.join(small, "ok")
      // shared expensive projection — materialize once (r5 plan audit:
      // 68 Exchanges without this; same fix as q_modularity)
      val und = os.alias("a").join(os.alias("b"), Seq("ok"))
        .where(col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
        .agg(count(lit(1)).as("w"))
        .where(col("w") >= AaMinW).select("u", "v")
        .ckpt()
      val adj = und.select(col("u").as("ctr"), col("v").as("n"))
        .unionAll(und.select(col("v").as("ctr"), col("u").as("n")))
      val deg = adj.groupBy("ctr").agg(count(lit(1)).as("d"))
      val centers = adj.join(
          deg.where(col("d") >= 2 && col("d") <= AaMaxDeg), "ctr")
        .withColumn("contrib", expr(AaContribExpr))
        .ckpt() // self-joined ×2 in the wedge enumeration
      val wedges = centers.alias("x")
        .join(centers.alias("y"), Seq("ctr"))
        .where(col("x.n") < col("y.n"))
        .select(col("x.n").as("u"), col("y.n").as("v"),
          col("x.contrib").as("contrib"))
      wedges.join(und, Seq("u", "v"), "left_anti")
        .groupBy("u", "v")
        .agg(count(lit(1)).as("n_common"), dsum(col("contrib"), 6).as("aa"))
        .orderBy(desc("aa"), asc("u"), asc("v")).limit(20)
        .select(col("u").cast("long").as("u"), col("v").cast("long").as("v"),
          col("n_common"), col("aa"))
    }),

    // HyperANF: the neighborhood function N(t) = Σ_v |Ball(v, t)|
    // estimated by per-vertex HLL registers max-merged along edges for
    // [[AnfRounds]] rounds — per round ONE edge join + one (v, bucket)
    // max aggregation (map-side partials; registers are sparse rows, the
    // dense zero-run folds into the harmonic sum arithmetically). The
    // distance-distribution / effective-diameter primitive at
    // O(rounds·|E|·m) instead of all-pairs BFS.
    "q_hyperanf" -> ((s, dir) => anfNf(s, dir).orderBy("t")))

  /** The HyperANF neighborhood-function chain — (t, n_verts, sum_est)
    * for rounds 0..[[AnfRounds]], unordered. Factored so
    * q_effective_diameter (Wave20) derives the distance statistics from
    * the SAME register machinery q_hyperanf pins. */
  private[queries] def anfNf(s: SparkSession, dir: String): DataFrame = {
      val p0 = table(s, dir, "lineitem")
        .select(col("l_partkey").as("p"), (col("l_suppkey") + 1000000L).as("sv"))
        .distinct()
      val edges = p0.select(col("p").as("src"), col("sv").as("dst"))
        .unionAll(p0.select(col("sv").as("src"), col("p").as("dst")))
      val verts = p0.select(col("p").as("v"))
        .union(p0.select(col("sv").as("v"))).distinct()
      // one register row per vertex: h = 60-bit md5 of the vertex id
      val r0 = verts
        .withColumn("h", expr(
          "CAST(conv(substring(md5(concat('anf-', CAST(v AS STRING))), 1, 15), 16, 10) AS BIGINT)"))
        .withColumn("bucket", col("h") % AnfM)
        .withColumn("rho", expr(
          s"CAST(CASE WHEN h div $AnfM = 0 THEN $AnfRhoMax ELSE $AnfRhoMax - length(bin(h div $AnfM)) END AS BIGINT)"))
        .select("v", "bucket", "rho")
      // localCheckpoint per round: every later round AND its estimate
      // branch reuse the materialized register table — without it the
      // 3 estimate branches re-execute the whole propagation chain
      // (measured 7.6 → ~2.5 s at sf0.1), and at depth the lineage stays
      // bounded (the PageRank/LabelProp discipline)
      val regs = (1 to AnfRounds).scanLeft(r0.ckpt()) { (r, _) =>
        r.unionAll(
            edges.join(r, edges("dst") === r("v"))
              .select(edges("src").as("v"), r("bucket"), r("rho")))
          .groupBy("v", "bucket").agg(max("rho").as("rho"))
          .ckpt()
      }
      regs.zipWithIndex.map { case (r, t) =>
        r.groupBy("v")
          .agg(count(lit(1)).as("n_nz"), max("rho").as("R"),
            sum(expr(s"CAST(shiftleft(CAST(1 AS BIGINT), CAST($AnfRhoMax - rho AS INT)) AS BIGINT)"))
              .as("s1"))
          // re-base the per-bucket terms from 2^(rhoMax-rho) to 2^(R-rho)
          // exactly: s1 is divisible by 2^(rhoMax-R)
          .withColumn("S", expr(
            s"s1 div shiftleft(CAST(1 AS BIGINT), CAST($AnfRhoMax - R AS INT))" +
              s" + ($AnfM - n_nz) * shiftleft(CAST(1 AS BIGINT), CAST(R AS INT))"))
          .withColumn("est", expr(AnfEstExpr))
          .agg(count(lit(1)).as("n_verts"), dsum(col("est"), 2).as("sum_est"))
          .select(lit(t.toLong).as("t"), col("n_verts"), col("sum_est"))
      }.reduce(_ unionByName _)
  }

  private def anfRoundSql(i: Int): String =
    s"""r$i AS (
       |  SELECT v, bucket, max(rho) AS rho FROM (
       |    SELECT * FROM r${i - 1}
       |    UNION ALL
       |    SELECT e.src AS v, r.bucket, r.rho FROM e JOIN r${i - 1} r
       |      ON e.dst = r.v
       |  ) GROUP BY v, bucket
       |)""".stripMargin

  private def anfEstSql(t: Int): String =
    s"""SELECT CAST($t AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS n_verts,
       |  ${dsumSql("est", 2)} AS sum_est
       |FROM (
       |  SELECT v, $AnfEstExpr AS est FROM (
       |    SELECT v, count(*) AS n_nz, max(rho) AS R,
       |      CAST(sum(1::BIGINT << CAST($AnfRhoMax - rho AS INT)) AS BIGINT) AS s1
       |    FROM r$t GROUP BY v
       |  ), LATERAL (SELECT s1 // (1::BIGINT << CAST($AnfRhoMax - R AS INT))
       |      + ($AnfM - n_nz) * (1::BIGINT << CAST(R AS INT)) AS S)
       |)""".stripMargin

  private def hitsRoundSql(i: Int): String =
    s"""a${i}r AS (
       |  SELECT dst AS v, sum(CAST(s AS DECIMAL(28,10))) AS sm
       |  FROM e JOIN h${i - 1} ON e.src = h${i - 1}.v GROUP BY 1
       |),
       |a$i AS (
       |  SELECT v, CAST(round(CAST(sm AS DOUBLE)
       |    / CAST((SELECT max(sm) FROM a${i}r) AS DOUBLE), 8) AS DOUBLE) AS s
       |  FROM a${i}r
       |),
       |h${i}r AS (
       |  SELECT src AS v, sum(CAST(s AS DECIMAL(28,10))) AS sm
       |  FROM e JOIN a$i ON e.dst = a$i.v GROUP BY 1
       |),
       |h$i AS (
       |  SELECT v, CAST(round(CAST(sm AS DOUBLE)
       |    / CAST((SELECT max(sm) FROM h${i}r) AS DOUBLE), 8) AS DOUBLE) AS s
       |  FROM h${i}r
       |)""".stripMargin

  val oracle: Map[String, String] = strictMap(

    "q_hits" ->
      s"""WITH e AS (
         |  SELECT DISTINCT o_custkey AS src, l_partkey + 10000000 AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |),
         |h0 AS (SELECT DISTINCT src AS v, 1.0 AS s FROM e),
         |${(1 to HitsRounds).map(hitsRoundSql).mkString(",\n")}
         |SELECT * FROM (
         |  (SELECT CAST(v AS BIGINT) AS v, 'hub' AS kind, s AS score
         |   FROM h$HitsRounds ORDER BY s DESC, v LIMIT 10)
         |  UNION ALL
         |  (SELECT CAST(v AS BIGINT) AS v, 'auth' AS kind, s AS score
         |   FROM a$HitsRounds ORDER BY s DESC, v LIMIT 10))
         |ORDER BY kind, score DESC, v""".stripMargin,

    "q_lcc" ->
      s"""WITH os AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
         |),
         |und AS (
         |  SELECT a.sk AS u, b.sk AS v
         |  FROM os a JOIN os b USING (ok) WHERE a.sk < b.sk
         |  GROUP BY 1, 2 HAVING count(*) >= $LccMinW
         |),
         |deg AS (
         |  SELECT x, count(*) AS d FROM (
         |    SELECT u AS x FROM und UNION ALL SELECT v FROM und
         |  ) GROUP BY x
         |),
         |oriented AS (
         |  SELECT CASE WHEN (du, u) < (dv, v) THEN u ELSE v END AS s,
         |         CASE WHEN (du, u) < (dv, v) THEN v ELSE u END AS t
         |  FROM und
         |  JOIN deg d1 ON d1.x = und.u
         |  JOIN deg d2 ON d2.x = und.v,
         |  LATERAL (SELECT d1.d AS du, d2.d AS dv)
         |),
         |tri AS (
         |  SELECT e1.s, e1.t AS t1, e2.t AS t2
         |  FROM oriented e1 JOIN oriented e2 ON e1.s = e2.s AND e1.t < e2.t
         |  JOIN und ON e1.t = und.u AND e2.t = und.v
         |),
         |pv AS (
         |  SELECT x, count(*) AS tri FROM (
         |    SELECT s AS x FROM tri
         |    UNION ALL SELECT t1 FROM tri
         |    UNION ALL SELECT t2 FROM tri
         |  ) GROUP BY x
         |)
         |SELECT deg.x AS v, deg.d AS d,
         |  COALESCE(pv.tri, 0) AS tri,
         |  round(CAST(2 * COALESCE(pv.tri, 0) AS DOUBLE)
         |        / CAST(deg.d * (deg.d - 1) AS DOUBLE), 6) AS lcc
         |FROM deg LEFT JOIN pv ON pv.x = deg.x
         |WHERE deg.d >= 2
         |ORDER BY lcc DESC, d DESC, v LIMIT 30""".stripMargin,

    "q_jaccard_sim" ->
      s"""WITH b AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
         |),
         |small AS (SELECT ok FROM b GROUP BY ok
         |          HAVING count(*) <= $AaBasketCap),
         |os AS (SELECT * FROM b JOIN small USING (ok)),
         |und AS (
         |  SELECT a.pk AS u, c.pk AS v
         |  FROM os a JOIN os c USING (ok) WHERE a.pk < c.pk
         |  GROUP BY 1, 2 HAVING count(*) >= $AaMinW
         |),
         |adj AS (SELECT u AS ctr, v AS n FROM und
         |        UNION ALL SELECT v, u FROM und),
         |deg AS (SELECT ctr, count(*) AS d FROM adj GROUP BY ctr),
         |centers AS (
         |  SELECT adj.ctr, adj.n FROM adj JOIN deg USING (ctr)
         |  WHERE deg.d BETWEEN 2 AND $AaMaxDeg
         |),
         |degc AS (SELECT n AS x, count(*) AS d FROM centers GROUP BY n),
         |wedges AS (
         |  SELECT x.n AS u, y.n AS v
         |  FROM centers x JOIN centers y USING (ctr) WHERE x.n < y.n
         |),
         |inter AS (
         |  SELECT w.u, w.v, count(*) AS inter
         |  FROM wedges w ANTI JOIN und ON w.u = und.u AND w.v = und.v
         |  GROUP BY 1, 2
         |)
         |SELECT CAST(i.u AS BIGINT) AS u, CAST(i.v AS BIGINT) AS v,
         |  i.inter,
         |  d1.d + d2.d - i.inter AS uni,
         |  round(CAST(i.inter AS DOUBLE)
         |        / CAST(d1.d + d2.d - i.inter AS DOUBLE), 6) AS jac
         |FROM inter i
         |JOIN degc d1 ON d1.x = i.u
         |JOIN degc d2 ON d2.x = i.v
         |ORDER BY jac DESC, u, v LIMIT 20""".stripMargin,

    "q_link_predict" ->
      s"""WITH b AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
         |),
         |small AS (SELECT ok FROM b GROUP BY ok
         |          HAVING count(*) <= $AaBasketCap),
         |os AS (SELECT * FROM b JOIN small USING (ok)),
         |und AS (
         |  SELECT a.pk AS u, c.pk AS v
         |  FROM os a JOIN os c USING (ok) WHERE a.pk < c.pk
         |  GROUP BY 1, 2 HAVING count(*) >= $AaMinW
         |),
         |adj AS (SELECT u AS ctr, v AS n FROM und
         |        UNION ALL SELECT v, u FROM und),
         |deg AS (SELECT ctr, count(*) AS d FROM adj GROUP BY ctr
         |        HAVING count(*) BETWEEN 2 AND $AaMaxDeg),
         |centers AS (
         |  SELECT adj.ctr, adj.n, $AaContribExpr AS contrib
         |  FROM adj JOIN deg USING (ctr)
         |),
         |wedges AS (
         |  SELECT x.n AS u, y.n AS v, x.contrib
         |  FROM centers x JOIN centers y USING (ctr) WHERE x.n < y.n
         |)
         |SELECT CAST(w.u AS BIGINT) AS u, CAST(w.v AS BIGINT) AS v,
         |  count(*) AS n_common, ${dsumSql("contrib", 6)} AS aa
         |FROM wedges w ANTI JOIN und ON w.u = und.u AND w.v = und.v
         |GROUP BY 1, 2
         |ORDER BY aa DESC, u, v LIMIT 20""".stripMargin,

    "q_hyperanf" ->
      s"""WITH $anfNfSql
         |SELECT t, n_verts, sum_est FROM nf ORDER BY t""".stripMargin)

  /** Oracle twin of [[anfNf]] — CTE chain ending in
    * `nf(t, n_verts, sum_est)`. */
  private[queries] def anfNfSql: String =
    s"""p0 AS (
       |  SELECT DISTINCT l_partkey AS p, l_suppkey + 1000000 AS sv
       |  FROM lineitem
       |),
       |e AS (SELECT p AS src, sv AS dst FROM p0
       |      UNION ALL SELECT sv, p FROM p0),
       |verts AS (SELECT DISTINCT p AS v FROM p0
       |          UNION SELECT DISTINCT sv FROM p0),
       |r0 AS (
       |  SELECT v, h % $AnfM AS bucket,
       |    CAST(CASE WHEN h // $AnfM = 0 THEN $AnfRhoMax
       |         ELSE $AnfRhoMax - length(bin(h // $AnfM)) END AS BIGINT) AS rho
       |  FROM (SELECT v,
       |          ${hexLongSql("md5('anf-' || CAST(v AS VARCHAR))", 1, 15)} AS h
       |        FROM verts)
       |),
       |${(1 to AnfRounds).map(anfRoundSql).mkString(",\n")},
       |nf AS (
       |${(0 to AnfRounds).map(anfEstSql).mkString("", "\nUNION ALL\n", "")}
       |)""".stripMargin
}
