package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Ckpt._

/** Wave-61 additions — local graph structure, spectral centrality, and
  * classifier evaluation (two retrieval-metric candidates authored for
  * this wave, q_ndcg and q_rrf_fusion, turned out to already exist in
  * Retrieval.scala — the shadow check in CatalogSpec is what catches
  * that class of mistake):
  *
  *  - q_local_clustering: per-vertex clustering coefficient
  *    cc(v) = 2·tri(v) / (d·(d−1)) — the "is this node's neighborhood a
  *    clique or a star" signal behind spam-cluster and community-seed
  *    detection. Triangles come from the q_wedge_census degree-oriented
  *    apex join (each triangle materialized once, fan-out bounded by the
  *    basket cap), then ONE explode re-attributes each triangle to its
  *    three corners; top-20 is a TakeOrderedAndProject.
  *  - q_eigen_centrality: 3 power-iteration rounds with max-normalization
  *    on the symmetric co-occurrence adjacency — the spectral cousin of
  *    q_katz (pure A·x, renormalized, so the vector tracks the dominant
  *    eigenvector's direction). Determinism: x is DECIMAL(18,8)
  *    throughout; the per-round sum is exact decimal; the one IEEE
  *    division y/max(y) is rounded to 8 decimals from identical exact
  *    inputs in both engines.
  *  - q_lang_confusion: the (declared lang × predicted lang) confusion
  *    matrix of the q_lang_id stopword classifier — the eval twin every
  *    heuristic classifier needs before it gates a corpus. One token
  *    aggregation + one broadcast-sized matrix group-by.
  *
  * Determinism: decimal-summed 8-decimal terms, deterministic argmax
  * tie-breaks, total ORDER BYs.
  */
object Wave61 extends Catalog {

  private val EigenIters = 3

  val queries: Map[String, Q] = strictMap(

    "q_local_clustering" -> ((s, dir) => {
      val und = Wave40.partEdges(s, dir).ckpt()
      val deg = und.select(col("u").as("x"))
        .unionAll(und.select(col("v").as("x")))
        .groupBy("x").agg(count(lit(1)).as("d"))
        .ckpt()
      val withDeg = und
        .join(deg.select(col("x").as("u"), col("d").as("du")), Seq("u"))
        .join(deg.select(col("x").as("v"), col("d").as("dv")), Seq("v"))
      val oriented = withDeg.select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          struct(col("u").as("s"), col("v").as("t")))
          .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("e"))
        .select(col("e.s").as("s"), col("e.t").as("t"))
        .ckpt()
      val tris = oriented.alias("e1").join(oriented.alias("e2"), Seq("s"))
        .where(col("e1.t") < col("e2.t"))
        .join(und, col("e1.t") === col("u") && col("e2.t") === col("v"))
        .select(col("s"), col("e1.t").as("t1"), col("e2.t").as("t2"))
      val perV = tris
        .select(explode(array(col("s"), col("t1"), col("t2"))).as("x"))
        .groupBy("x").agg(count(lit(1)).as("tri"))
      deg.join(perV, Seq("x"), "left_outer")
        .withColumn("tri", coalesce(col("tri"), lit(0L)))
        .where(col("d") >= 2)
        .selectExpr("CAST(x AS BIGINT) AS v", "CAST(d AS BIGINT) AS d",
          "CAST(tri AS BIGINT) AS tri",
          "round(CAST(2 * tri AS DOUBLE) / (d * (d - 1)), 6) AS cc")
        .orderBy(desc("cc"), asc("v")).limit(20)
    }),

    "q_eigen_centrality" -> ((s, dir) => {
      val e = Wave40.partEdges(s, dir).ckpt()
      val adj = e.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(e.select(col("v").as("src"), col("u").as("dst")))
        .ckpt()
      val verts = adj.select(col("src").as("x")).distinct().ckpt()
      var x = verts.withColumn("ec",
        expr("CAST(1.0 AS DECIMAL(18,8))"))
      for (_ <- 1 to EigenIters) {
        // y is referenced twice (max + renormalized projection) — ckpt
        val y = adj
          .join(x.select(col("x").as("src"), col("ec")), "src")
          .groupBy(col("dst").as("x")).agg(sum(col("ec")).as("y"))
          .ckpt()
        val m = broadcast(y.agg(max(col("y")).as("m")))
        // every edge endpoint has ≥1 neighbor so y > 0 and m > 0
        x = y.crossJoin(m).select(col("x"), expr(
          "CAST(round(CAST(y AS DOUBLE) / CAST(m AS DOUBLE), 8) AS DECIMAL(18,8))")
          .as("ec"))
      }
      x.ckpt()
        .selectExpr("CAST(x AS BIGINT) AS v",
          "round(CAST(ec AS DOUBLE), 6) AS eigen")
        .orderBy(desc("eigen"), asc("v")).limit(20)
    }),

    "q_lang_confusion" -> ((s, dir) => {
      val scoreAggs = LlmOps.Stops.map { case (lang, words) =>
        sum(expr(s"CASE WHEN word IN ${LlmOps.inList(words)} THEN 1 ELSE 0 END"))
          .cast("long").as(s"s_$lang")
      }
      val pred = corpusToks(s, dir).groupBy("doc_id")
        .agg(scoreAggs.head, scoreAggs.tail: _*)
        .withColumn("pred", expr(LlmOps.PredCase))
        .select("doc_id", "pred")
      table(s, dir, "documents").select(col("doc_id"), col("lang"))
        .join(pred, Seq("doc_id"), "left_outer")
        .select(col("lang"), coalesce(col("pred"), lit("none")).as("pred"))
        .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
        .selectExpr("lang", "pred", "CAST(n AS BIGINT) AS n")
        .orderBy("lang", "pred")
    })

  )

  val oracle: Map[String, String] = strictMap(

    "q_local_clustering" ->
      s"""WITH ${Wave41.CopSql},
         |ori AS MATERIALIZED (
         |  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
         |         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t
         |  FROM e JOIN deg du ON du.x = e.u JOIN deg dv ON dv.x = e.v
         |),
         |tri AS MATERIALIZED (
         |  SELECT e1.s AS a, e1.t AS b, e2.t AS c
         |  FROM ori e1 JOIN ori e2 ON e1.s = e2.s AND e1.t < e2.t
         |  JOIN e ON e.u = e1.t AND e.v = e2.t
         |),
         |pv AS (
         |  SELECT x, count(*) AS tri FROM (
         |    SELECT a AS x FROM tri
         |    UNION ALL SELECT b FROM tri
         |    UNION ALL SELECT c FROM tri) GROUP BY x
         |)
         |SELECT CAST(deg.x AS BIGINT) AS v, CAST(d AS BIGINT) AS d,
         |  CAST(coalesce(tri, 0) AS BIGINT) AS tri,
         |  round(CAST(2 * coalesce(tri, 0) AS DOUBLE) / (d * (d - 1)), 6) AS cc
         |FROM deg LEFT JOIN pv ON pv.x = deg.x
         |WHERE d >= 2
         |ORDER BY cc DESC, v LIMIT 20""".stripMargin,

    "q_eigen_centrality" -> {
      val rounds = (1 to EigenIters).map { t =>
        s"""y$t AS MATERIALIZED (
           |  SELECT adj.dst AS x, sum(p.ec) AS y
           |  FROM adj JOIN x${t - 1} p ON p.x = adj.src GROUP BY adj.dst
           |),
           |m$t AS (SELECT max(y) AS m FROM y$t),
           |x$t AS MATERIALIZED (
           |  SELECT x, CAST(round(CAST(y AS DOUBLE) / CAST(m AS DOUBLE), 8)
           |    AS DECIMAL(18,8)) AS ec
           |  FROM y$t CROSS JOIN m$t
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${Wave41.CopSql},
         |adj AS MATERIALIZED (
         |  SELECT u AS src, v AS dst FROM e
         |  UNION ALL SELECT v AS src, u AS dst FROM e),
         |x0 AS (SELECT DISTINCT src AS x, CAST(1.0 AS DECIMAL(18,8)) AS ec
         |       FROM adj),
         |$rounds
         |SELECT CAST(x AS BIGINT) AS v, round(CAST(ec AS DOUBLE), 6) AS eigen
         |FROM x$EigenIters ORDER BY eigen DESC, v LIMIT 20""".stripMargin
    },

    "q_lang_confusion" -> {
      val scores = LlmOps.Stops.map { case (lang, words) =>
        s"CAST(sum(CASE WHEN word IN ${LlmOps.inList(words)} THEN 1 ELSE 0 END) AS BIGINT) AS s_$lang"
      }.mkString(",\n    ")
      s"""WITH ${Reference.ToksSql},
         |sc AS (
         |  SELECT doc_id,
         |    $scores
         |  FROM toks GROUP BY doc_id
         |),
         |pr AS (SELECT doc_id, ${LlmOps.PredCase} AS pred FROM sc)
         |SELECT d.lang, coalesce(pr.pred, 'none') AS pred,
         |  CAST(count(*) AS BIGINT) AS n
         |FROM documents d LEFT JOIN pr ON pr.doc_id = d.doc_id
         |GROUP BY 1, 2 ORDER BY lang, pred""".stripMargin
    }

  )
}
