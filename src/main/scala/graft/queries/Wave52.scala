package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.Ckpt._

/** Wave-52 additions — transitive reduction and join-order cardinality
  * evidence:
  *
  *  - q_transitive_reduction: the Hasse-diagram computation (drop every
  *    DAG edge implied by a longer path — dependency-graph minimization,
  *    build-system / lineage-graph compaction). The DAG is the
  *    multiplicative lattice on part keys (k → 2k, k → 3k, k → 6k while
  *    in range): ×6 edges are redundant exactly when the k → 2k → 6k (or
  *    k → 3k → 6k) detour exists, ×2/×3 edges never are — so the per-type
  *    redundancy table is a value proof of the whole reduction. An edge is
  *    redundant iff its head is reachable by a path of length ≥ 2 =
  *    closure ∘ E; the closure is pointer-doubled in 5 rounds (reach 32 ≥
  *    any ×2/×3 chain under 10⁹ keys).
  *  - q_join_order_audit: ACTUAL intermediate cardinalities of the same
  *    3-table join under both orders — (σ orders ⋈ customer) ⋈ lineitem
  *    vs (σ orders ⋈ lineitem) ⋈ customer. The first intermediate differs
  *    by ~4× (customer is a key-lookup, lineitem a fan-out); the final
  *    counts agree, which the hash also pins. This is the evidence a
  *    cost-based optimizer acts on, measured instead of estimated.
  *
  * Determinism: pure integer counts and key checksums; total ORDER BYs.
  */
object Wave52 extends Catalog {

  private val CloseRounds = 5

  /** Per-multiplier (edges, redundant) table of the ×2/×3/×6 lattice over
    * a key column `k` — factored out so the spec can pin a planted
    * hand-verified lattice. */
  private[graft] def latticeReduction(ks0: org.apache.spark.sql.DataFrame,
                                      rounds: Int): org.apache.spark.sql.DataFrame = {
    val ks = ks0.ckpt()
    val kmax = ks.agg(max("k").as("km"))
    val e = ks.crossJoin(broadcast(kmax))
      .select(col("k").as("u"), explode(array(
        struct(lit(2L).as("m"), (col("k") * 2).as("w")),
        struct(lit(3L).as("m"), (col("k") * 3).as("w")),
        struct(lit(6L).as("m"), (col("k") * 6).as("w")))).as("e"), col("km"))
      .where(col("e.w") <= col("km"))
      .select(col("u"), col("e.w").as("v"), col("e.m").as("mult"))
      .ckpt()
    var c = e.select("u", "v")
    for (_ <- 1 to rounds) {
      val hop = c.alias("x").join(c.alias("y"), col("x.v") === col("y.u"))
        .select(col("x.u").as("u"), col("y.v").as("v"))
      c = c.unionAll(hop).distinct().ckpt()
    }
    // paths of length >= 2: one more hop through an original edge
    val p2 = c.alias("x")
      .join(e.select(col("u").as("m"), col("v")).alias("y"),
        col("x.v") === col("y.m"))
      .select(col("x.u").as("u"), col("y.v").as("v"))
      .distinct()
    val red = e.join(p2.withColumn("r", lit(1L)), Seq("u", "v"), "left_outer")
    red.groupBy("mult")
      .agg(count(lit(1)).as("n_edges"),
        sum(when(col("r").isNotNull, 1L).otherwise(0L)).as("n_redundant"))
      .selectExpr("CAST(mult AS BIGINT) AS mult",
        "CAST(n_edges AS BIGINT) AS n_edges",
        "CAST(n_redundant AS BIGINT) AS n_redundant")
      .orderBy("mult")
  }

  val queries: Map[String, Q] = strictMap(

    // TRANSITIVE REDUCTION: closure is O(V · reachable-set) rows (the
    // ×2/×3 lattice reaches ~log²·/2 per vertex); each doubling round is
    // one self-join; redundancy is one closure∘E join + one edge join.
    "q_transitive_reduction" -> ((s, dir) =>
      latticeReduction(
        table(s, dir, "part").select(col("p_partkey").as("k")), CloseRounds)),

    // JOIN ORDER AUDIT: six counted plan steps, one row each.
    "q_join_order_audit" -> ((s, dir) => {
      val o = table(s, dir, "orders")
        .where(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
        .select(col("o_orderkey").as("ok"), col("o_custkey").as("ck"))
        .ckpt()
      val c = table(s, dir, "customer").select(col("c_custkey").as("ck"))
      val l = table(s, dir, "lineitem").select(col("l_orderkey").as("ok"))
      val oc = o.join(c, "ck").ckpt()
      val ol = o.join(l, "ok").ckpt()
      val steps = Seq(
        ("A_oc_first", 1L, oc.agg(count(lit(1)).as("n"))),
        ("A_oc_first", 2L, oc.join(l, "ok").agg(count(lit(1)).as("n"))),
        ("B_ol_first", 1L, ol.agg(count(lit(1)).as("n"))),
        ("B_ol_first", 2L, ol.join(c, "ck").agg(count(lit(1)).as("n"))),
        ("filter_only", 0L, o.agg(count(lit(1)).as("n"))))
      steps.map { case (p, st, df) =>
        df.select(lit(p).as("plan"), lit(st).as("step"), col("n"))
      }.reduce(_ unionAll _)
        .selectExpr("plan", "CAST(step AS BIGINT) AS step",
          "CAST(n AS BIGINT) AS n_rows")
        .orderBy("plan", "step")
    }),
  )

  val oracle: Map[String, String] = strictMap(

    "q_transitive_reduction" -> {
      val rounds = (1 to CloseRounds).map { k =>
        s"""c$k AS MATERIALIZED (
           |  SELECT u, v FROM c${k - 1}
           |  UNION
           |  SELECT x.u, y.v FROM c${k - 1} x JOIN c${k - 1} y ON x.v = y.u
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH km AS (SELECT max(p_partkey) AS km FROM part),
         |e AS MATERIALIZED (
         |  SELECT p_partkey AS u, p_partkey * m AS v, m AS mult
         |  FROM part, unnest([2, 3, 6]) AS t(m), km
         |  WHERE p_partkey * m <= km
         |),
         |c0 AS MATERIALIZED (SELECT u, v FROM e),
         |$rounds,
         |p2 AS MATERIALIZED (
         |  SELECT DISTINCT x.u, y.v
         |  FROM c$CloseRounds x JOIN e y ON x.v = y.u
         |)
         |SELECT CAST(mult AS BIGINT) AS mult,
         |  CAST(count(*) AS BIGINT) AS n_edges,
         |  CAST(sum(CASE WHEN p2.u IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_redundant
         |FROM e LEFT JOIN p2 ON e.u = p2.u AND e.v = p2.v
         |GROUP BY mult ORDER BY mult""".stripMargin
    },

    "q_join_order_audit" ->
      """WITH o AS (
        |  SELECT o_orderkey AS ok, o_custkey AS ck FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |),
        |oc AS (SELECT o.* FROM o JOIN customer ON c_custkey = ck),
        |ol AS (SELECT o.* FROM o JOIN lineitem ON l_orderkey = ok),
        |steps AS (
        |  SELECT 'A_oc_first' AS plan, 1 AS step, count(*) AS n FROM oc
        |  UNION ALL
        |  SELECT 'A_oc_first', 2, count(*)
        |  FROM oc JOIN lineitem ON l_orderkey = ok
        |  UNION ALL
        |  SELECT 'B_ol_first', 1, count(*) FROM ol
        |  UNION ALL
        |  SELECT 'B_ol_first', 2, count(*)
        |  FROM ol JOIN customer ON c_custkey = ck
        |  UNION ALL
        |  SELECT 'filter_only', 0, count(*) FROM o
        |)
        |SELECT plan, CAST(step AS BIGINT) AS step, CAST(n AS BIGINT) AS n_rows
        |FROM steps ORDER BY plan, step""".stripMargin,
  )
}
