package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Ckpt._

/** Wave-45 additions — hierarchical aggregation, the one aggregation
  * family the catalog did not yet carry (group-bys, cubes, windows, graph
  * fixpoints: yes; AGGREGATION UP A TREE: no):
  *
  *  - q_tree_rollup: subtree aggregates over a part hierarchy
  *    (parent(k) = k div 10 — a deterministic forest of ~9 roots whose
  *    depth grows with log₁₀ |parts|): every part's depth, descendant
  *    count and subtree retail-cents total. The org-chart / category-tree
  *    rollup. Computed via the ancestor CLOSURE built by pointer doubling
  *    (4 rounds cover depth ≤ 16, i.e. any conceivable SF) — each vertex
  *    meets each of its ≤ depth ancestors exactly once, so the closure is
  *    O(V·depth) rows and the rollup is ONE group-by over it; the oracle
  *    walks the same chains with a recursive CTE (different algorithm —
  *    linear recursion vs doubling).
  *  - q_bom_explosion: the bill-of-materials explosion on the same
  *    hierarchy with per-edge multiplicities (qty(c) = c mod 3 + 1):
  *    effective units per ROOT = Σ over descendants of the PRODUCT of
  *    edge quantities along the path. The closure composition multiplies
  *    path products (tree ⇒ paths unique ⇒ products well-defined; the
  *    doubling may re-derive a pair via different split points but always
  *    with the same product, so a distinct collapses them). Products stay
  *    exact BIGINT (≤ 3^16).
  *
  * Determinism: everything is BIGINT (ids, depths, counts, cents,
  * products); both queries end in total ORDER BYs.
  */
object Wave45 extends Catalog {

  /** Doubling rounds: closure reach 2^4 = 16 ≥ any parent-chain depth
    * (depth = decimal digits of the largest part key − 1). */
  private val CloseRounds = 4

  /** Pointer-doubling closure of distance-≤1 (v, a, q) pairs: after round
    * k the closure reaches distance 2^k; tree paths are unique so every
    * re-derived pair carries the same product and distinct() collapses
    * them. */
  private[graft] def closeAncestors(base: DataFrame, rounds: Int): DataFrame = {
    var anc = base.ckpt()
    for (_ <- 1 to rounds) {
      val hop = anc.alias("x")
        .join(anc.alias("y"), col("x.a") === col("y.v"))
        .select(col("x.v").as("v"), col("y.a").as("a"),
          (col("x.q") * col("y.q")).as("q"))
      anc = anc.unionAll(hop).distinct().ckpt()
    }
    anc
  }

  /** (v, a, q) ancestor closure of the part forest — v reaches ancestor a
    * with path quantity-product q; reflexive (v, v, 1) included. */
  private[graft] def partAncestors(s: SparkSession, dir: String): DataFrame = {
    val parts = table(s, dir, "part").select(col("p_partkey").as("v"))
    // Fail LOUDLY if a larger SF ever exceeds the depth the unrolled
    // closure (and its SQL oracle twin) covers: parent = v div 10, so
    // chain depth = digits(max key) − 1 and CloseRounds doubling rounds
    // reach 2^CloseRounds hops. Previously this bound lived only in a
    // comment and a violation would surface as an oracle hash mismatch
    // (ADVICE r9); one scalar agg over the part dimension makes it a
    // hard error instead.
    val maxKey = Option(parts.agg(max(col("v"))).head.get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    require(maxKey.toString.length - 1 <= (1 << CloseRounds),
      s"part key $maxKey needs a parent chain deeper than 2^$CloseRounds; " +
        "raise CloseRounds AND the oracle's unrolled rounds together")
    closeAncestors(
      parts.select(col("v"), col("v").as("a"), lit(1L).as("q"))
        .unionAll(parts.where(col("v") >= 10L)
          .select(col("v"), expr("v div 10").as("a"),
            expr("v % 3 + 1").as("q"))),
      CloseRounds)
  }

  val queries: Map[String, Q] = strictMap(

    // TREE ROLLUP: closure (O(V·depth) rows) built in log(depth) rounds —
    // the 1000-executor replacement for a per-level loop (depth sequential
    // joins) or a driver-side walk; rollup + depth are two group-bys over
    // the closure, partial-agg'd.
    "q_tree_rollup" -> ((s, dir) => {
      val anc = partAncestors(s, dir)
      val w = table(s, dir, "part").select(col("p_partkey").as("v"),
        expr("CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)").as("w"))
      val roll = anc.join(w, "v")
        .groupBy(col("a").as("pk"))
        .agg(count(lit(1)).as("n_desc"), sum("w").as("subtree_cents"))
      val depth = anc.groupBy("v")
        .agg((count(lit(1)) - 1).as("depth"))
        .withColumnRenamed("v", "pk")
      roll.join(depth, "pk")
        .selectExpr("CAST(pk AS BIGINT) AS pk", "CAST(depth AS BIGINT) AS depth",
          "CAST(n_desc AS BIGINT) AS n_desc",
          "CAST(subtree_cents AS BIGINT) AS subtree_cents")
        .orderBy("pk")
    }),

    // BOM EXPLOSION: same closure, restricted to the ≤ 9 roots; total
    // effective units = Σ path products (exact BIGINT).
    "q_bom_explosion" -> ((s, dir) => {
      val anc = partAncestors(s, dir)
      anc.where(col("a") < 10L)
        .groupBy(col("a").as("root"))
        .agg(count(lit(1)).as("n_desc"), sum("q").as("total_units"))
        .selectExpr("CAST(root AS BIGINT) AS root",
          "CAST(n_desc AS BIGINT) AS n_desc",
          "CAST(total_units AS BIGINT) AS total_units")
        .orderBy("root")
    }),
  )

  /** Recursive parent-chain walk (linear recursion — a DIFFERENT algorithm
    * than the Spark side's doubling, the value-proof point): base case is
    * the reflexive pair, the step climbs one edge multiplying its qty. */
  private val AncSql =
    """anc AS (
      |  SELECT p_partkey AS v, p_partkey AS a, CAST(1 AS BIGINT) AS q
      |  FROM part
      |  UNION ALL
      |  SELECT v, a // 10, q * (a % 3 + 1) FROM anc WHERE a >= 10
      |)""".stripMargin

  val oracle: Map[String, String] = strictMap(

    "q_tree_rollup" ->
      s"""WITH RECURSIVE $AncSql,
         |w AS (
         |  SELECT p_partkey AS v,
         |    CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS w
         |  FROM part
         |),
         |roll AS (
         |  SELECT a AS pk, count(*) AS n_desc, sum(w.w) AS subtree_cents
         |  FROM anc JOIN w ON w.v = anc.v GROUP BY a
         |),
         |d AS (SELECT v AS pk, count(*) - 1 AS depth FROM anc GROUP BY v)
         |SELECT CAST(pk AS BIGINT) AS pk, CAST(depth AS BIGINT) AS depth,
         |  CAST(n_desc AS BIGINT) AS n_desc,
         |  CAST(subtree_cents AS BIGINT) AS subtree_cents
         |FROM roll JOIN d USING (pk) ORDER BY pk""".stripMargin,

    "q_bom_explosion" ->
      s"""WITH RECURSIVE $AncSql
         |SELECT CAST(a AS BIGINT) AS root, count(*) AS n_desc,
         |  CAST(sum(q) AS BIGINT) AS total_units
         |FROM anc WHERE a < 10 GROUP BY a ORDER BY root""".stripMargin,
  )
}
