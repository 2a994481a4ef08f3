package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.operators.Ckpt._

/** Graph queries over the part↔supplier / user projections — PageRank,
  * personalized PageRank, label-propagation communities, triangles, BFS,
  * and bounded-seed closeness. Split from Relational.scala (round 10);
  * shared helpers live in [[Relational]] (imported below).
  */
object RelGraph extends Catalog {
  import Relational._

  val queries: Map[String, Q] = strictMap(
    // Graph-quality signal: PageRank over the bipartite part↔supplier
    // graph from lineitem (the web-pipeline shape: host-level PageRank as
    // a document quality prior). Three unrolled damped iterations via
    // operators.PageRank; supplier ids offset by 10^6 into a shared
    // vertex space. The oracle unrolls the identical iterations in SQL —
    // decimal-summed contributions make both engines bit-equal.
    "q_pagerank" -> ((s, dir) => {
      // ckpt before mirroring: the union below references `pairs` twice,
      // and un-materialized that doubles the lineitem scan + distinct
      import graft.operators.Ckpt._
      val pairs = table(s, dir, "lineitem")
        .select(col("l_partkey").as("p"),
          (col("l_suppkey") + 1000000L).as("sv"))
        .distinct().ckpt()
      val edges = pairs.select(col("p").as("src"), col("sv").as("dst"))
        .unionByName(pairs.select(col("sv").as("src"), col("p").as("dst")))
      graft.operators.PageRank.run(edges, 3)
        .select(col("v"), round(col("r"), 6).as("rank"))
        .orderBy("v")
    }),

    // Personalized (topic-sensitive) PageRank: teleport mass lands ONLY
    // on the supplier vertices — ranks measure proximity to the trusted
    // seed side (the TrustRank curation shape: seed a vetted domain list,
    // rank everything by seed-proximity). Same unrolled-iteration oracle
    // technique as q_pagerank; vertices unreachable from the seeds keep
    // rank 0 — the asymmetry that distinguishes PPR from the uniform
    // teleport.
    "q_ppr" -> ((s, dir) => {
      // ckpt before mirroring (see q_pagerank) — `pairs` feeds the union
      // twice plus the seed set
      import graft.operators.Ckpt._
      val pairs = table(s, dir, "lineitem")
        .select(col("l_partkey").as("p"),
          (col("l_suppkey") + 1000000L).as("sv"))
        .distinct().ckpt()
      val edges = pairs.select(col("p").as("src"), col("sv").as("dst"))
        .unionByName(pairs.select(col("sv").as("src"), col("p").as("dst")))
      val seeds = pairs.select(col("sv").as("v")).distinct()
      graft.operators.PageRank.runPersonalized(edges, 3, seeds)
        .select(col("v"), col("s"), round(col("r"), 6).as("rank"))
        .orderBy("v")
    }),

    // Community detection via SYNCHRONOUS label propagation
    // (operators.LabelProp) over the same part-supplier graph as
    // q_pagerank: deterministic sweep (most frequent neighbor label, ties
    // to smallest) makes LPA a pure function of the graph, so the oracle
    // unrolls the identical rounds — the async textbook variant is
    // update-order-dependent and unverifiable. Output: community sizes.
    "q_communities" -> ((s, dir) => {
      val pairs = table(s, dir, "lineitem")
        .select(col("l_partkey").as("p"),
          (col("l_suppkey") + 1000000L).as("sv"))
        .distinct()
      graft.operators.LabelProp
        .run(pairs.select(col("p").as("src"), col("sv").as("dst")), 3)
        .groupBy(col("lbl").as("community"))
        .agg(count(lit(1)).as("n_members"),
          min(col("v")).as("min_v"), max(col("v")).as("max_v"))
        .orderBy("community")
    }),

    // Triangle counting over the supplier co-purchase graph (suppliers
    // sharing ≥ TriangleMinW orders — the weight threshold drops the
    // noise floor of one-off co-occurrences, which in a uniform corpus
    // make the projection near-complete and any triangle algorithm
    // quadratic-ish; affinity edges are the graph a pipeline would
    // actually mine). Edges are oriented low→high by (degree, id), so
    // the oriented graph is a DAG and every triangle is counted exactly
    // once at its unique two-out-edge apex — the classic O(E^1.5) bound:
    // orientation caps wedge fan-out at O(sqrt E) even for power-law
    // hubs, where the naive per-vertex wedge join is quadratic in the hub
    // degree. The oracle counts the same triangles with the three-way
    // a<b<c join (order-free semantics, fine at oracle scale).
    "q_triangles" -> ((s, dir) => {
      val os = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .distinct()
      // und has THREE consumers (degree build, orientation, the closing
      // edge join) and oriented/deg two each — materialize the shared
      // subplans once (the q_jaccard_sim discipline) instead of
      // re-executing the co-purchase projection per consumer
      val und = os.alias("a").join(os.alias("b"), Seq("ok"))
        .where(col("a.sk") < col("b.sk"))
        .groupBy(col("a.sk").as("u"), col("b.sk").as("v"))
        .agg(count(lit(1)).as("w"))
        .where(col("w") >= TriangleMinW).select("u", "v")
        .ckpt()
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
      // apex wedges (s; t1 < t2 by id) closed by the canonical u<v edge set
      val tri = oriented.alias("e1").join(oriented.alias("e2"), Seq("s"))
        .where(col("e1.t") < col("e2.t"))
        .join(und, col("e1.t") === col("u") && col("e2.t") === col("v"))
        .agg(count(lit(1)).as("n_triangles"))
      deg.agg(count(lit(1)).as("n_vertices"))
        .crossJoin(und.agg(count(lit(1)).as("n_edges")))
        .crossJoin(tri)
    }),

    // Bounded-round multi-source BFS (operators.Bfs) over the same
    // part-supplier graph as q_pagerank: hop distance from the seed
    // suppliers (sv ≡ 0 mod 7) — the link-distance quality prior of
    // web curation ("≤ k hops from a trusted seed"). Integer-only state,
    // frontier-only expansion; the oracle unrolls the identical rounds
    // (UNION + min-regroup per round).
    "q_bfs" -> ((s, dir) => {
      // ckpt before mirroring (see q_pagerank)
      import graft.operators.Ckpt._
      val pairs = table(s, dir, "lineitem")
        .select(col("l_partkey").as("p"),
          (col("l_suppkey") + 1000000L).as("sv"))
        .distinct().ckpt()
      val edges = pairs.select(col("p").as("src"), col("sv").as("dst"))
        .unionByName(pairs.select(col("sv").as("src"), col("p").as("dst")))
      val seeds = pairs.where(col("sv") % 7 === 0).select(col("sv").as("v"))
      graft.operators.Bfs.run(edges, seeds, 3).orderBy("v")
    }),

    // Harmonic closeness centrality from a BOUNDED seed set, on the
    // per-source BFS (Bfs.perSource — all seeds advance in ONE
    // frontier×edges join per round, batching k traversals into one job).
    // Per-source BFS state is Σ per-seed reachable sets ≈ |seeds|·|ball|,
    // so the seed set MUST be a constant, not a constant FRACTION of the
    // graph (a mod-7 filter alone would make state ~|V|²/7 at scale —
    // the r5 plan audit's one real scale-killer): the contract here is
    // the k = CloseSeedK highest-degree trusted suppliers (deterministic
    // degree-desc, id-asc tie-break), the "closeness of the top hubs"
    // question that k-source BFS is actually affordable for. Unbounded
    // all-vertex closeness belongs to the HLL estimate machinery
    // (q_hyperanf / Boldi-Vigna), not exact BFS. Harmonic sum over
    // d ∈ {1..3} is kept EXACT by scaling: h6 = Σ 6/d ∈ {6,3,2} is pure
    // integer; the display value divides once at the end. Bounded
    // 3-hop neighborhood — the documented contract, same as q_bfs.
    "q_closeness" -> ((s, dir) => {
      // ckpt before mirroring (see q_pagerank)
      import graft.operators.Ckpt._
      val pairs = table(s, dir, "lineitem")
        .select(col("l_partkey").as("p"),
          (col("l_suppkey") + 1000000L).as("sv"))
        .distinct().ckpt()
      val edges = pairs.select(col("p").as("src"), col("sv").as("dst"))
        .unionByName(pairs.select(col("sv").as("src"), col("p").as("dst")))
      val seeds = pairs.where(col("sv") % 7 === 0)
        .groupBy("sv").agg(count(lit(1)).as("dg"))
        .orderBy(desc("dg"), asc("sv")).limit(CloseSeedK)
        .select(col("sv").as("seed"))
      graft.operators.Bfs.perSource(edges, seeds, 3)
        .where(col("dist") > 0)
        .groupBy("seed")
        .agg(count(lit(1)).as("n_reached"),
          sum(expr("6 div dist")).as("h6"))
        .select(col("seed"), col("n_reached"), col("h6"),
          expr("round(CAST(h6 AS DOUBLE) / 6, 6)").as("closeness"))
        .orderBy("seed")
    })
  )

  val oracle: Map[String, String] = strictMap(
    "q_pagerank" -> {
      // unroll the same 3 damped iterations the Spark loop runs
      val iters = (1 to 3).map { i =>
        s"""c$i AS (
           |  SELECT e.dst, sum(CAST(round(r${i - 1}.r / deg.deg, 8) AS DECIMAL(28,10))) AS sc
           |  FROM e JOIN r${i - 1} ON e.src = r${i - 1}.v JOIN deg ON e.src = deg.src
           |  GROUP BY e.dst
           |),
           |r$i AS (
           |  SELECT verts.v,
           |    CAST(round(0.15 + 0.85 * coalesce(CAST(sc AS DOUBLE), 0.0), 8) AS DOUBLE) AS r
           |  FROM verts LEFT JOIN c$i ON verts.v = c$i.dst
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS (
         |  SELECT DISTINCT l_partkey AS p, l_suppkey + 1000000 AS sv FROM lineitem
         |),
         |e AS (
         |  SELECT p AS src, sv AS dst FROM pairs
         |  UNION ALL
         |  SELECT sv AS src, p AS dst FROM pairs
         |),
         |verts AS (SELECT DISTINCT src AS v FROM e),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         |r0 AS (SELECT v, CAST(1.0 AS DOUBLE) AS r FROM verts),
         |$iters
         |SELECT v, round(r, 6) AS rank FROM r3 ORDER BY v""".stripMargin
    },

    "q_ppr" -> {
      // same unrolled-iteration technique as q_pagerank, with the
      // personalized teleport r = 0.15·s + 0.85·Σc and r0 = s
      val iters = (1 to 3).map { i =>
        s"""c$i AS (
           |  SELECT e.dst, sum(CAST(round(r${i - 1}.r / deg.deg, 8) AS DECIMAL(28,10))) AS sc
           |  FROM e JOIN r${i - 1} ON e.src = r${i - 1}.v JOIN deg ON e.src = deg.src
           |  GROUP BY e.dst
           |),
           |r$i AS (
           |  SELECT sv.v,
           |    CAST(round(0.15 * s + 0.85 * coalesce(CAST(sc AS DOUBLE), 0.0), 8) AS DOUBLE) AS r
           |  FROM sv LEFT JOIN c$i ON sv.v = c$i.dst
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS (
         |  SELECT DISTINCT l_partkey AS p, l_suppkey + 1000000 AS sv FROM lineitem
         |),
         |e AS (
         |  SELECT p AS src, sv AS dst FROM pairs
         |  UNION ALL
         |  SELECT sv AS src, p AS dst FROM pairs
         |),
         |verts AS (SELECT DISTINCT src AS v FROM e),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         |sv AS (SELECT v, CAST(CASE WHEN v >= 1000000 THEN 1 ELSE 0 END AS BIGINT) AS s
         |       FROM verts),
         |r0 AS (SELECT v, CAST(s AS DOUBLE) AS r FROM sv),
         |$iters
         |SELECT sv.v, sv.s, round(r3.r, 6) AS rank
         |FROM sv JOIN r3 ON sv.v = r3.v ORDER BY sv.v""".stripMargin
    },

    "q_communities" ->
      s"""WITH $LpaOracleChain
         |SELECT lbl AS community, count(*) AS n_members,
         |       min(v) AS min_v, max(v) AS max_v
         |FROM l3 GROUP BY lbl ORDER BY community""".stripMargin,

    // naive a<b<c three-way join — same triangle set the oriented DAG
    // counts, tractable at oracle scale
    "q_triangles" ->
      s"""WITH os AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
        |),
        |e AS (
        |  SELECT a.sk AS u, b.sk AS v
        |  FROM os a JOIN os b USING (ok) WHERE a.sk < b.sk
        |  GROUP BY 1, 2 HAVING count(*) >= $TriangleMinW
        |),
        |verts AS (SELECT u AS x FROM e UNION SELECT v FROM e),
        |tri AS (
        |  SELECT count(*) AS c
        |  FROM e e1 JOIN e e2 ON e2.u = e1.v
        |            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
        |)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM verts) AS n_vertices,
        |       (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
        |       (SELECT CAST(c AS BIGINT) FROM tri) AS n_triangles""".stripMargin,

    "q_bfs" -> {
      // unroll the same 3 frontier rounds the Spark loop runs:
      // per round, expand the previous frontier then min-regroup
      val rounds = (1 to 3).map { i =>
        s"""n$i AS (
           |  SELECT e.dst AS v, CAST($i AS BIGINT) AS dist
           |  FROM e JOIN d${i - 1} f ON e.src = f.v
           |  WHERE f.dist = ${i - 1}
           |),
           |d$i AS (
           |  SELECT v, min(dist) AS dist FROM
           |    (SELECT * FROM d${i - 1} UNION ALL SELECT * FROM n$i)
           |  GROUP BY v
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS (
         |  SELECT DISTINCT l_partkey AS p, l_suppkey + 1000000 AS sv FROM lineitem
         |),
         |e AS (
         |  SELECT p AS src, sv AS dst FROM pairs
         |  UNION ALL
         |  SELECT sv AS src, p AS dst FROM pairs
         |),
         |d0 AS (
         |  SELECT DISTINCT sv AS v, CAST(0 AS BIGINT) AS dist
         |  FROM pairs WHERE sv % 7 = 0
         |),
         |$rounds
         |SELECT v, dist FROM d3 ORDER BY v""".stripMargin
    },

    "q_closeness" -> {
      val rounds = (1 to 3).map { i =>
        s"""n$i AS (
           |  SELECT f.seed, e.dst AS v, CAST($i AS BIGINT) AS dist
           |  FROM e JOIN d${i - 1} f ON e.src = f.v
           |  WHERE f.dist = ${i - 1}
           |),
           |d$i AS (
           |  SELECT seed, v, min(dist) AS dist FROM
           |    (SELECT * FROM d${i - 1} UNION ALL SELECT * FROM n$i)
           |  GROUP BY seed, v
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS (
         |  SELECT DISTINCT l_partkey AS p, l_suppkey + 1000000 AS sv
         |  FROM lineitem
         |),
         |e AS (
         |  SELECT p AS src, sv AS dst FROM pairs
         |  UNION ALL
         |  SELECT sv AS src, p AS dst FROM pairs
         |),
         |d0 AS (
         |  SELECT sv AS seed, sv AS v, CAST(0 AS BIGINT) AS dist
         |  FROM (SELECT sv, count(*) AS dg FROM pairs WHERE sv % 7 = 0
         |        GROUP BY sv ORDER BY dg DESC, sv LIMIT $CloseSeedK)
         |),
         |$rounds
         |SELECT seed, count(*) AS n_reached,
         |  CAST(sum(6 // dist) AS BIGINT) AS h6,
         |  round(CAST(CAST(sum(6 // dist) AS BIGINT) AS DOUBLE) / 6, 6)
         |    AS closeness
         |FROM d3 WHERE dist > 0
         |GROUP BY seed ORDER BY seed""".stripMargin
    }
  )
}
