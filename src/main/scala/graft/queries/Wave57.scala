package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.Ckpt._

/** Wave-57 additions — tropical-semiring APSP and the grouping-flag API:
  *
  *  - q_apsp_minplus: all-pairs shortest paths on the ≤25-vertex nation
  *    trade adjacency by MIN-PLUS matrix doubling — d₂ₖ(u,v) =
  *    min(dₖ(u,v), minₘ dₖ(u,m) + dₖ(m,v)), 5 roundsreach 32 ≥ any
  *    diameter on 25 vertices, so the result is exact. The tropical
  *    closure is how APSP runs on a CONDENSED graph at scale (condense
  *    100 TB to components — q_scc — then take the small closure);
  *    doubling is one join + one min-regroup per round. Output: the
  *    unordered-pair distance histogram + an unreachable row (dist −1).
  *  - q_grouping_flags: CUBE with the grouping() indicator columns — the
  *    one rollup-family API the catalog's cube/rollup/grouping-sets
  *    queries did not exercise: the flags disambiguate "NULL because
  *    rolled up" from a genuine NULL group, which downstream consumers of
  *    cube output must branch on.
  *
  * Determinism: distances/counts are exact integers; the cube output
  * orders by flags then coalesced group keys (total).
  */
object Wave57 extends Catalog {

  private val ApspRounds = 5

  val queries: Map[String, Q] = strictMap(

    // APSP MIN-PLUS: the flow aggregation is the only data-scale stage
    // (one shuffle, the q_scc projection); the closure then lives on
    // ≤ 25² rows, each doubling round one join + one min-regroup.
    "q_apsp_minplus" -> ((s, dir) => {
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
      // dominant-direction sparsification (the q_scc discipline): keep
      // cn→sn only when its flow strictly beats the reverse — the raw
      // adjacency is near-complete and every distance would be 1
      val dom = f.alias("a")
        .join(f.select(col("cn").as("bsn"), col("sn").as("bcn"),
          col("fl").as("bfl")),
          col("a.cn") === col("bcn") && col("a.sn") === col("bsn"),
          "left_outer")
        .where(col("a.cn") =!= col("a.sn") &&
          col("a.fl") > coalesce(col("bfl"), lit(0L)))
        .select(col("a.cn").as("cn"), col("a.sn").as("sn"))
      val e = dom.select(col("cn").as("u"), col("sn").as("v"))
        .unionAll(dom.select(col("sn").as("u"), col("cn").as("v")))
        .distinct().ckpt()
      val nodes = e.select("u").distinct().ckpt()
      var d = e.withColumn("dist", lit(1L))
        .unionAll(nodes.select(col("u"), col("u").as("v"), lit(0L).as("dist")))
        .groupBy("u", "v").agg(min("dist").as("dist")).ckpt()
      for (_ <- 1 to ApspRounds) {
        val hop = d.alias("x").join(d.alias("y"), col("x.v") === col("y.u"))
          .select(col("x.u").as("u"), col("y.v").as("v"),
            (col("x.dist") + col("y.dist")).as("dist"))
        d = d.unionAll(hop).groupBy("u", "v").agg(min("dist").as("dist")).ckpt()
      }
      val pairs = nodes.alias("a")
        .join(broadcast(nodes.withColumnRenamed("u", "w").alias("b")),
          col("u") < col("w"))
      pairs.join(d, pairs("u") === d("u") && pairs("w") === d("v"), "left_outer")
        .select(coalesce(col("dist"), lit(-1L)).as("dist"))
        .groupBy("dist").agg(count(lit(1)).as("n_pairs"))
        .selectExpr("CAST(dist AS BIGINT) AS dist",
          "CAST(n_pairs AS BIGINT) AS n_pairs")
        .orderBy("dist")
    }),

    // GROUPING FLAGS: one Expand pass; flags + coalesced keys give the
    // total order the cube output needs to be hash-stable.
    "q_grouping_flags" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          grouping(col("l_returnflag")).cast("long").as("g_rf"),
          grouping(col("l_linestatus")).cast("long").as("g_ls"))
        .selectExpr("l_returnflag AS rf", "l_linestatus AS ls",
          "CAST(n AS BIGINT) AS n", "g_rf", "g_ls")
        .orderBy(col("g_rf"), col("g_ls"),
          coalesce(col("rf"), lit("")), coalesce(col("ls"), lit("")))),
  )

  val oracle: Map[String, String] = strictMap(

    "q_apsp_minplus" -> {
      val rounds = (1 to ApspRounds).map { k =>
        s"""d$k AS MATERIALIZED (
           |  SELECT u, v, min(dist) AS dist FROM (
           |    SELECT u, v, dist FROM d${k - 1}
           |    UNION ALL
           |    SELECT x.u, y.v, x.dist + y.dist
           |    FROM d${k - 1} x JOIN d${k - 1} y ON x.v = y.u
           |  ) GROUP BY u, v
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH fl AS MATERIALIZED (
         |  SELECT c.c_nationkey AS cn, s.s_nationkey AS sn,
         |    count(*) AS f
         |  FROM orders o
         |  JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  GROUP BY 1, 2
         |),
         |dom AS MATERIALIZED (
         |  SELECT a.cn, a.sn FROM fl a
         |  LEFT JOIN fl b ON a.cn = b.sn AND a.sn = b.cn
         |  WHERE a.cn <> a.sn AND a.f > coalesce(b.f, 0)
         |),
         |e AS MATERIALIZED (
         |  SELECT cn AS u, sn AS v FROM dom
         |  UNION
         |  SELECT sn, cn FROM dom
         |),
         |nodes AS (SELECT DISTINCT u FROM e),
         |d0 AS MATERIALIZED (
         |  SELECT u, v, min(dist) AS dist FROM (
         |    SELECT u, v, 1 AS dist FROM e
         |    UNION ALL
         |    SELECT u, u, 0 FROM nodes
         |  ) GROUP BY u, v
         |),
         |$rounds,
         |pairs AS (
         |  SELECT a.u, b.u AS w FROM nodes a JOIN nodes b ON a.u < b.u
         |)
         |SELECT CAST(coalesce(d.dist, -1) AS BIGINT) AS dist,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM pairs LEFT JOIN d$ApspRounds d ON d.u = pairs.u AND d.v = pairs.w
         |GROUP BY 1 ORDER BY dist""".stripMargin
    },

    "q_grouping_flags" ->
      """SELECT l_returnflag AS rf, l_linestatus AS ls,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
        |  CAST(grouping(l_linestatus) AS BIGINT) AS g_ls
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY g_rf, g_ls, coalesce(rf, ''), coalesce(ls, '')""".stripMargin,
  )
}
