package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Ckpt._

/** Wave-41 additions — global graph-structure audits and an embedding
  * geometry audit:
  *
  *  - q_rich_club: the rich-club coefficient ladder φ(k) = density of the
  *    subgraph induced by vertices of degree > k, for k ∈ {1, 2, 3, 4}
  *    (Colizza et al. '06) — "do the well-connected parts co-occur with
  *    each other" over the sparse part co-occurrence graph; the
  *    scale-free-network audit beside q_assortativity (correlation view)
  *    and q_robustness (attack view). The SUPPLIER projection is useless
  *    here — it is COMPLETE at harness scale (measured: 100 vertices,
  *    4,950 = C(100,2) edges at sf0.01, every φ ≡ 1), the same reason
  *    q_mis runs on the part graph.
  *  - q_wedge_census: the global wedge census over the same part graph —
  *    W = Σ C(deg, 2) paths of length 2, closed wedges = 3·triangles, and
  *    the transitivity ratio 3T/W (the GLOBAL clustering coefficient;
  *    q_lcc is the per-vertex local view on the supplier graph, and the
  *    two famously disagree on skewed graphs — this query gives the
  *    corpus-level number on the sparse graph where it is non-degenerate:
  *    measured 0.0137 at sf0.01 vs the complete supplier graph's 1.0).
  *  - q_isotropy: embedding-geometry audit over the constant ANN query set
  *    (Ethayarajh '19-style): mean pairwise cosine and the positive-dot
  *    fraction across all C(32,2) query pairs. Anisotropic embeddings
  *    (mean cos ≫ 0) degrade cosine-based retrieval — the audit a pipeline
  *    runs before trusting the ANN family's scores.
  *
  * Determinism: degrees, wedge counts and dots are exact integers; the
  * positive-dot gate is a SIGN test on an exact integer (never a float
  * threshold); densities/ratios/cosines are terminal round-6 divisions
  * spelled identically in both engines; empty rungs are CASE → NULL on
  * both sides. */
object Wave41 extends Catalog {

  /** Rich-club degree rungs (part-graph degrees are basket-capped small). */
  private val RichKs = Seq(1L, 2L, 3L, 4L)

  /** The φ(k) rich-club ladder over an undirected canonical edge list —
    * factored out so GraphScaleSpec can pin it on planted graphs. NO
    * loop: one projection + one degree pass (both ckpt'd), then the
    * 4-rung ladder rides two aggregations (vertices and edges each cross
    * the tiny rung table once — |V|·4 and |E|·4 rows, partial-agg'd), so
    * rounds/cardinality are constant regardless of graph shape. */
  private[graft] def richClubLadder(s: SparkSession, edges: DataFrame): DataFrame = {
    import s.implicits._
    val e = edges.ckpt()
    val deg = e.select(col("u").as("x"))
      .unionAll(e.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("d"))
      .ckpt()
    val ks = broadcast(RichKs.toDF("k"))
    val nk = deg.crossJoin(ks).where(col("d") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n"))
    val ekd = e
      .join(deg.select(col("x").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("x").as("v"), col("d").as("dv")), "v")
    val mk = ekd.crossJoin(ks)
      .where(col("du") > col("k") && col("dv") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("m"))
    ks.join(nk, Seq("k"), "left_outer").na.fill(0L, Seq("n"))
      .join(mk, Seq("k"), "left_outer").na.fill(0L, Seq("m"))
      .selectExpr("CAST(k AS BIGINT) AS k",
        "CAST(n AS BIGINT) AS club_size",
        "CAST(m AS BIGINT) AS club_edges",
        "CASE WHEN n >= 2 THEN round(CAST(2 * m AS DOUBLE) / (n * (n - 1)), 6)" +
          " ELSE CAST(NULL AS DOUBLE) END AS phi")
      .orderBy("k")
  }

  val queries: Map[String, Q] = strictMap(

    // RICH CLUB: one projection + one degree pass (both ckpt'd), then the
    // 4-rung ladder rides TWO broadcast-free aggregations — vertices and
    // edges each cross the tiny rung table once (|V|·4 and |E|·4 rows,
    // partial-agg'd). φ(k) = 2·E_k / (n_k·(n_k−1)), NULL when the club
    // has < 2 members.
    "q_rich_club" -> ((s, dir) =>
      richClubLadder(s, Wave40.partEdges(s, dir))),

    // WEDGE CENSUS: W from one degree pass (Σ C(d,2) in BIGINT — degrees
    // are basket-capped, so wedge counts stay far under 2^63); T via the
    // q_triangles degree-oriented apex join (each wedge materialized once
    // at its lower-(degree, id) apex, closed by the canonical edge set).
    // transitivity = 3T / W, the global clustering coefficient.
    "q_wedge_census" -> ((s, dir) => {
      val und = Wave40.partEdges(s, dir).ckpt()
      val deg = und.select(col("u").as("x"))
        .unionAll(und.select(col("v").as("x")))
        .groupBy("x").agg(count(lit(1)).as("d"))
        .ckpt()
      val wedges = deg.agg(sum(expr("d * (d - 1) / 2")).cast("long").as("w"))
      val withDeg = und
        .join(deg.select(col("x").as("u"), col("d").as("du")), Seq("u"))
        .join(deg.select(col("x").as("v"), col("d").as("dv")), Seq("v"))
      val oriented = withDeg.select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          struct(col("u").as("s"), col("v").as("t")))
          .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("e"))
        .select(col("e.s").as("s"), col("e.t").as("t"))
        .ckpt()
      val tri = oriented.alias("e1").join(oriented.alias("e2"), Seq("s"))
        .where(col("e1.t") < col("e2.t"))
        .join(und, col("e1.t") === col("u") && col("e2.t") === col("v"))
        .agg(count(lit(1)).cast("long").as("t"))
      wedges.crossJoin(broadcast(tri))
        .selectExpr("CAST(w AS BIGINT) AS n_wedges",
          "CAST(t AS BIGINT) AS n_triangles",
          "CASE WHEN w > 0 THEN round(CAST(3 * t AS DOUBLE) / w, 6)" +
            " ELSE CAST(NULL AS DOUBLE) END AS transitivity")
    }),

    // ISOTROPY: the constant 32-vector query set self-joined (496 pairs —
    // a catalog constant, never a corpus fraction), exact integer dots;
    // mean cosine is a terminal decimal-summed round-6 mean, and the
    // positive fraction gates on the SIGN of the integer dot.
    "q_isotropy" -> ((s, dir) => {
      val all = LlmOps.quantized(s, dir).where(col("nq") > 0).ckpt()
      val qs = all.join(LlmOps.annQueryIds(all), "vec_id")
        .select(col("vec_id"), col("q"), col("nq"))
      // broadcast: a 32-row constant set under an inequality-only join —
      // without the hint Spark plans a CartesianProduct (PlanSpec forbids)
      val pairs = qs.alias("a")
        .join(broadcast(qs.alias("b")), col("a.vec_id") < col("b.vec_id"))
        .select(
          expr("ivec_dot(a.q, b.q)").as("dot"),
          col("a.nq").as("na"), col("b.nq").as("nb"))
        .withColumn("cos", expr(s"round(${LlmOps.CosExpr}, 6)"))
      pairs.agg(count(lit(1)).as("n_pairs"),
          dsum(col("cos"), 6).as("sc"),
          sum(when(col("dot") > 0L, 1L).otherwise(0L)).as("np"))
        .selectExpr("CAST(n_pairs AS BIGINT) AS n_pairs",
          "round(sc / n_pairs, 6) AS mean_cos",
          "CAST(np AS BIGINT) AS n_pos_dot",
          "round(CAST(np AS DOUBLE) / n_pairs, 6) AS frac_pos_dot")
    }),
  )

  /** Part co-occurrence base (b/small/e/deg CTEs) — the SQL twin of
    * [[Wave40.partEdges]] plus its degree table; shared with Wave42's
    * peeling/census oracles so the projection is defined once. */
  private[queries] val CopSql =
    """b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |small AS (SELECT ok FROM b GROUP BY ok HAVING count(*) <= 64),
      |e AS MATERIALIZED (
      |  SELECT CAST(a.pk AS BIGINT) AS u, CAST(c.pk AS BIGINT) AS v
      |  FROM (SELECT * FROM b JOIN small USING (ok)) a
      |  JOIN (SELECT * FROM b JOIN small USING (ok)) c USING (ok)
      |  WHERE a.pk < c.pk GROUP BY 1, 2 HAVING count(*) >= 2
      |),
      |deg AS MATERIALIZED (
      |  SELECT x, count(*) AS d FROM (
      |    SELECT u AS x FROM e UNION ALL SELECT v FROM e) GROUP BY x
      |)""".stripMargin

  val oracle: Map[String, String] = strictMap(

    "q_rich_club" ->
      s"""WITH $CopSql,
         |ks AS (SELECT unnest([${RichKs.mkString(", ")}]) AS k),
         |nk AS (SELECT k, count(*) AS n FROM deg CROSS JOIN ks
         |       WHERE d > k GROUP BY k),
         |mk AS (
         |  SELECT k, count(*) AS m
         |  FROM e
         |  JOIN deg du ON du.x = e.u
         |  JOIN deg dv ON dv.x = e.v
         |  CROSS JOIN ks
         |  WHERE du.d > k AND dv.d > k GROUP BY k
         |)
         |SELECT CAST(k AS BIGINT) AS k,
         |  CAST(coalesce(n, 0) AS BIGINT) AS club_size,
         |  CAST(coalesce(m, 0) AS BIGINT) AS club_edges,
         |  CASE WHEN coalesce(n, 0) >= 2
         |    THEN round(CAST(2 * coalesce(m, 0) AS DOUBLE) / (n * (n - 1)), 6)
         |    ELSE CAST(NULL AS DOUBLE) END AS phi
         |FROM ks LEFT JOIN nk USING (k) LEFT JOIN mk USING (k)
         |ORDER BY k""".stripMargin,

    "q_wedge_census" ->
      s"""WITH $CopSql,
         |w AS (SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) AS w FROM deg),
         |ori AS MATERIALIZED (
         |  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
         |         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t
         |  FROM e JOIN deg du ON du.x = e.u JOIN deg dv ON dv.x = e.v
         |),
         |t AS (
         |  SELECT CAST(count(*) AS BIGINT) AS t
         |  FROM ori e1 JOIN ori e2 ON e1.s = e2.s AND e1.t < e2.t
         |  JOIN e ON e.u = e1.t AND e.v = e2.t
         |)
         |SELECT w AS n_wedges, t AS n_triangles,
         |  CASE WHEN w > 0 THEN round(CAST(3 * t AS DOUBLE) / w, 6)
         |    ELSE CAST(NULL AS DOUBLE) END AS transitivity
         |FROM w CROSS JOIN t""".stripMargin,

    "q_isotropy" ->
      s"""WITH ${LlmOps.QuantizedNormSql},
         |${LlmOps.AnnQidsSql},
         |sel AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding, qn.nq
         |  FROM embeddings e
         |  JOIN qn ON e.vec_id = qn.vec_id
         |  JOIN qids ON e.vec_id = qids.vec_id
         |  WHERE qn.nq > 0),
         |d AS MATERIALIZED (
         |  SELECT v1, v2, na, nb,
         |    CAST(sum(${LlmOps.quantSqlElem("ea[i]")} *
         |             ${LlmOps.quantSqlElem("eb[i]")}) AS BIGINT) AS dot
         |  FROM (SELECT a.vec_id AS v1, b.vec_id AS v2,
         |               a.embedding AS ea, b.embedding AS eb,
         |               a.nq AS na, b.nq AS nb,
         |               unnest(generate_series(1, len(a.embedding))) AS i
         |        FROM sel a JOIN sel b ON a.vec_id < b.vec_id)
         |  GROUP BY v1, v2, na, nb)
         |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |  round(${dsumSql(s"round(${LlmOps.CosExpr}, 6)", 6)} / count(*), 6)
         |    AS mean_cos,
         |  CAST(sum(CASE WHEN dot > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_pos_dot,
         |  round(CAST(sum(CASE WHEN dot > 0 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 6) AS frac_pos_dot
         |FROM d""".stripMargin,
  )
}
