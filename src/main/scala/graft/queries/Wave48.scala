package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.Ckpt._

/** Wave-48 addition — temporal (time-respecting) reachability, the
  * temporal-graph family the catalog did not yet carry (static BFS/SSSP/
  * critical-path relax on edge WEIGHTS; here the constraint is on edge
  * TIMES):
  *
  *  - q_temporal_reach: on the supplier succession digraph with each edge
  *    stamped by its order's date, vertex v is reached at arrival a(v) =
  *    the earliest edge time t of any edge (u, v, t) with t ≥ a(u) — a
  *    path must use non-decreasing timestamps (information/contagion flow,
  *    not just connectivity: a static path whose edges run backwards in
  *    time transports nothing). Computed as 4 rounds of min-arrival
  *    relaxation from the 3 busiest suppliers (the bounded-depth contract
  *    every graph fixpoint in this catalog ships with); the oracle unrolls
  *    the same 4 rounds, so the hash pins the ≤4-hop temporal-reach
  *    PREFIX — well-defined whether or not the fixpoint has converged.
  *
  * Determinism: times are exact epoch DAYS (BIGINT), seeds tie-break on
  * (count desc, suppkey asc), arrivals are integer minima; seed arrival is
  * −1 (before any real date) so every first-hop edge qualifies.
  */
object Wave48 extends Catalog {

  /** Relaxation rounds = the reach-prefix depth (both engines). */
  private val ReachRounds = 4
  /** Seed count (busiest suppliers). */
  private val Seeds = 3

  val queries: Map[String, Q] = strictMap(

    // TEMPORAL REACH: edge build is one lineitem self-join on (orderkey,
    // linenumber+1) + one orders join (both shuffles partial-agg'd by
    // distinct); each round is ONE join (arrivals × edges on u, t >= a)
    // + one min-regroup — O(E) per round, the SSSP cost contract with a
    // time gate instead of a weight sum.
    "q_temporal_reach" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val seq = li.select(col("l_orderkey").as("ok"),
        col("l_linenumber").as("ln"), col("l_suppkey").as("sk"))
      val days = table(s, dir, "orders")
        .select(col("o_orderkey").as("ok"),
          expr("CAST(datediff(o_orderdate, DATE'1970-01-01') AS BIGINT)")
            .as("t"))
      val e = seq.alias("a")
        .join(seq.alias("b"),
          col("a.ok") === col("b.ok") && col("b.ln") === col("a.ln") + 1)
        .where(col("a.sk") =!= col("b.sk"))
        .select(col("a.sk").as("u"), col("b.sk").as("v"), col("a.ok").as("ok"))
        .join(days, "ok")
        .select("u", "v", "t").distinct()
        .ckpt()
      val seeds = li.groupBy(col("l_suppkey").as("v"))
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("v")).limit(Seeds)
        .select(col("v"), lit(-1L).as("a"))
      var arr = seeds.ckpt()
      for (_ <- 1 to ReachRounds) {
        val upd = e.join(arr.withColumnRenamed("v", "u"), "u")
          .where(col("t") >= col("a"))
          .select(col("v"), col("t").as("a"))
        arr = arr.unionAll(upd).groupBy("v").agg(min("a").as("a")).ckpt()
      }
      arr.selectExpr("CAST(v AS BIGINT) AS suppkey",
          "CAST(a AS BIGINT) AS arrival_day")
        .orderBy("suppkey")
    }),
  )

  val oracle: Map[String, String] = strictMap(

    "q_temporal_reach" -> {
      val rounds = (1 to ReachRounds).map { k =>
        s"""a$k AS MATERIALIZED (
           |  SELECT v, min(a) AS a FROM (
           |    SELECT v, a FROM a${k - 1}
           |    UNION ALL
           |    SELECT e.v, e.t AS a
           |    FROM e JOIN a${k - 1} p ON p.v = e.u
           |    WHERE e.t >= p.a
           |  ) GROUP BY v
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH seq AS MATERIALIZED (
         |  SELECT l_orderkey AS ok, l_linenumber AS ln, l_suppkey AS sk
         |  FROM lineitem
         |),
         |e AS MATERIALIZED (
         |  SELECT DISTINCT a.sk AS u, b.sk AS v,
         |    CAST(datediff('day', DATE '1970-01-01',
         |                  CAST(o.o_orderdate AS DATE)) AS BIGINT) AS t
         |  FROM seq a
         |  JOIN seq b ON a.ok = b.ok AND b.ln = a.ln + 1
         |  JOIN orders o ON o.o_orderkey = a.ok
         |  WHERE a.sk <> b.sk
         |),
         |a0 AS MATERIALIZED (
         |  SELECT l_suppkey AS v, CAST(-1 AS BIGINT) AS a FROM lineitem
         |  GROUP BY l_suppkey ORDER BY count(*) DESC, l_suppkey LIMIT $Seeds
         |),
         |$rounds
         |SELECT CAST(v AS BIGINT) AS suppkey, CAST(a AS BIGINT) AS arrival_day
         |FROM a$ReachRounds ORDER BY suppkey""".stripMargin
    },
  )
}
