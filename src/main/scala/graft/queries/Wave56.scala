package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Ckpt._

/** Wave-56 addition — Gale–Shapley deferred acceptance (stable matching):
  *
  *  - q_stable_matching: 16 proposers (lowest customer keys) × 16
  *    acceptors (lowest supplier keys), preference orders from two
  *    independent md5 score families; 6 synchronized proposal rounds —
  *    every free proposer proposes to the next entry of its list (pointer
  *    = its rejection count), every acceptor keeps the best of incumbents
  *    and proposers, rejected proposers advance their pointer. The
  *    matching-market primitive (ad auctions, task assignment, residency
  *    match); rounds are data-parallel per acceptor — the 1000-executor
  *    shape, vs the textbook one-proposal-at-a-time loop. The output is
  *    the round-6 engagement PREFIX (well-defined whether or not the
  *    fixpoint converged), which the oracle replays with the same
  *    unrolled state recursion (engagements + pointers as per-round
  *    MATERIALIZED CTEs).
  *
  * Determinism: preference scores are 60-bit md5 integers (ties
  * impossible at this scale), ranks are row_numbers over (score desc),
  * and the whole state recursion is integer-exact.
  */
object Wave56 extends Catalog {

  private val NSide = 16
  private val Rounds = 6

  private def h60(e: String): String =
    s"CAST(conv(substring(md5($e), 1, 15), 16, 10) AS BIGINT)"

  /** Proposer preference table (p, a, rank, ascore): rank 1 = p's best
    * acceptor; ascore is the ACCEPTOR's score for p (the contest key). */
  private def prefs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ps = table(s, dir, "customer").select(col("c_custkey").as("p"))
      .orderBy("p").limit(NSide)
    val as = table(s, dir, "supplier").select(col("s_suppkey").as("a"))
      .orderBy("a").limit(NSide)
    ps.crossJoin(broadcast(as))
      .withColumn("pscore", expr(h60(
        "concat('gs-', CAST(p AS STRING), ':', CAST(a AS STRING))")))
      .withColumn("ascore", expr(h60(
        "concat('sg-', CAST(a AS STRING), ':', CAST(p AS STRING))")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("p").orderBy(desc("pscore"))))
      .select("p", "a", "rank", "ascore")
  }

  /** The synchronized deferred-acceptance rounds over a preference table
    * (p, a, rank, ascore) — factored out so the spec can run it to
    * convergence and assert the no-blocking-pair property.
    *
    * POINTER DISCIPLINE (deliberate, oracle-shared): only losing
    * PROPOSALS advance a proposer's rejection pointer; a DISPLACED
    * incumbent keeps its pointer, so its next proposal goes back to the
    * acceptor that just displaced it (and loses, advancing the pointer
    * then). That burns one extra round per displacement versus the
    * textbook count — `Rounds` is calibrated for this slower discipline,
    * and the SQL oracle replays the identical recursion, so both engines
    * converge at the same prefix (ADVICE r9: do not "fix" one side
    * alone; changing the discipline means regenerating the oracle's
    * unrolled rounds with it). */
  private[graft] def galeShapley(pf0: DataFrame, rounds: Int): DataFrame = {
    val pf = pf0.ckpt()
    val nSide = NSide
    var eng = pf.where(lit(false))
      .select(col("a"), col("p"), col("ascore")) // empty engagements
    var rej = pf.select("p").distinct()
      .withColumn("rej", lit(0L)).ckpt()
    for (_ <- 1 to rounds) {
      // rename before joining pf: free's lineage reaches back into pf,
      // so df("p") === df("p") would be ambiguous otherwise
      val free = rej.join(eng.select(col("p")), Seq("p"), "left_anti")
        .where(col("rej") < nSide)
        .select(col("p").as("fp"), col("rej"))
      val prop = free
        .join(pf, col("p") === col("fp") && col("rank") === col("rej") + 1)
        .select(col("a"), col("p"), col("ascore"))
      val contest = eng.unionAll(prop)
      val newEng = contest
        .groupBy("a").agg(expr("max_by(p, ascore)").as("p"),
          max("ascore").as("ascore"))
        .select("a", "p", "ascore").ckpt()
      val lost = prop.join(newEng.select("a", "p"), Seq("a", "p"), "left_anti")
        .select(col("p")).withColumn("inc", lit(1L))
      rej = rej.join(lost, Seq("p"), "left_outer")
        .select(col("p"), (col("rej") + coalesce(col("inc"), lit(0L))).as("rej"))
        .ckpt()
      eng = newEng
    }
    eng
  }

  /** Preference table for spec use (same construction as the query). */
  private[graft] def prefTable(s: SparkSession, dir: String): DataFrame =
    prefs(s, dir)

  val queries: Map[String, Q] = strictMap(

    // STABLE MATCHING: the 256-row preference table is a catalog constant
    // (broadcast everywhere); each round is one rank-probe join, one
    // per-acceptor argmax, one pointer update — all partial-agg'd, state
    // is O(participants).
    "q_stable_matching" -> ((s, dir) =>
      galeShapley(prefs(s, dir), Rounds)
        .selectExpr("CAST(a AS BIGINT) AS suppkey",
          "CAST(p AS BIGINT) AS custkey")
        .orderBy("suppkey")),
  )

  val oracle: Map[String, String] = strictMap(

    "q_stable_matching" -> {
      val h = (e: String) => hexLongSql(s"md5($e)", 1, 15)
      val rounds = (1 to Rounds).map { t =>
        s"""free$t AS (
           |  SELECT r.p, r.rej FROM rej${t - 1} r
           |  LEFT JOIN eng${t - 1} e ON e.p = r.p
           |  WHERE e.p IS NULL AND r.rej < $NSide
           |),
           |prop$t AS MATERIALIZED (
           |  SELECT pf.a, pf.p, pf.ascore
           |  FROM free$t f JOIN pf ON pf.p = f.p AND pf.rank = f.rej + 1
           |),
           |eng$t AS MATERIALIZED (
           |  SELECT a, arg_max(p, ascore) AS p, max(ascore) AS ascore
           |  FROM (SELECT * FROM eng${t - 1} UNION ALL SELECT * FROM prop$t)
           |  GROUP BY a
           |),
           |rej$t AS MATERIALIZED (
           |  SELECT r.p, r.rej + CASE WHEN lost.p IS NOT NULL
           |    THEN 1 ELSE 0 END AS rej
           |  FROM rej${t - 1} r
           |  LEFT JOIN (
           |    SELECT pr.p FROM prop$t pr
           |    LEFT JOIN eng$t e ON e.a = pr.a AND e.p = pr.p
           |    WHERE e.p IS NULL
           |  ) lost ON lost.p = r.p
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH ps AS (SELECT c_custkey AS p FROM customer ORDER BY p LIMIT $NSide),
         |"as" AS (SELECT s_suppkey AS a FROM supplier ORDER BY a LIMIT $NSide),
         |pf AS MATERIALIZED (
         |  SELECT p, a,
         |    row_number() OVER (PARTITION BY p ORDER BY
         |      ${h("'gs-' || CAST(p AS VARCHAR) || ':' || CAST(a AS VARCHAR)")}
         |      DESC) AS rank,
         |    ${h("'sg-' || CAST(a AS VARCHAR) || ':' || CAST(p AS VARCHAR)")}
         |      AS ascore
         |  FROM ps CROSS JOIN "as"
         |),
         |eng0 AS (SELECT a, p, ascore FROM pf WHERE 1 = 0),
         |rej0 AS (SELECT p, CAST(0 AS BIGINT) AS rej FROM ps),
         |$rounds
         |SELECT CAST(a AS BIGINT) AS suppkey, CAST(p AS BIGINT) AS custkey
         |FROM eng$Rounds ORDER BY suppkey""".stripMargin
    },
  )
}
