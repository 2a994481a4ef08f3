package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Ckpt
import graft.operators.Ckpt._

/** Wave-66 additions — deterministic DP-release shape, a second
  * two-sample distance, and farthest-point coreset seeding:
  *
  *  - q_dp_topk: the differentially-private top-k RELEASE SHAPE (noised
  *    counts, ranked on the noised score, true counts shown for the
  *    audit) with a deterministic md5-derived uniform perturbation
  *    standing in for the Laplace draw — the same stand-in discipline as
  *    q_dp_hist / q_dp_quantile (an RNG would be engine-divergent; the
  *    released ORDERING and the k-set boundary effects are what the
  *    query pins). Completes the DP family over top-k.
  *  - q_energy_distance: the Székely energy distance between the
  *    purchase and click value distributions (2·E|X−Y| − E|X−X'| −
  *    E|Y−Y'|) on dollar-bucketed values — each pairwise-|difference|
  *    expectation collapses to ONE prefix-sum pass over the ≤ $500
  *    bucket table (Σ|x−y| = Σ_b cnt_b·(b·cntₓ≤b − sumₓ≤b) + mirror),
  *    never an O(n²) pair join; the distribution-shape complement of
  *    q_wasserstein1's CDF integral. Exact BIGINT sums, three terminal
  *    divisions.
  *  - q_kcenter_greedy: Gonzalez farthest-point traversal (the 2-approx
  *    k-center / k-means++-style coreset seeding): 4 synchronized
  *    rounds, each ONE broadcast join updating every point's
  *    min-distance (exact integer ivec_sqdist) + one argmax pick
  *    (ties → vec_id asc). Output: per round the chosen center and the
  *    covering radius — the diversity-seeding primitive behind
  *    q_sample_diverse's clustering.
  *
  * Determinism: noise and tie-breaks are md5/id-derived; energy sums are
  * exact integers; k-center distances are exact integers end-to-end;
  * total ORDER BYs everywhere.
  */
object Wave66 extends Catalog {

  /** DP-release top-k size; the md5-derived noise is ±10.00 in count
    * units (score = 100·count + noise, noise ∈ [−1000, 1000]). */
  private val DpK = 10
  private val KCenterK = 4

  val queries: Map[String, Q] = strictMap(

    "q_dp_topk" -> ((s, dir) => {
      val wc = corpusToks(s, dir).groupBy("word")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("noise", expr(
          "CAST(conv(substring(md5(concat('dp:', word)), 1, 8), 16, 10) AS BIGINT) % 2001 - 1000"))
        .withColumn("score", col("cnt") * 100 + col("noise"))
      wc.orderBy(desc("score"), asc("word")).limit(DpK)
        .selectExpr("word", "CAST(cnt AS BIGINT) AS true_count",
          "round(CAST(score AS DOUBLE) / 100, 2) AS noised_count")
        .orderBy(desc("noised_count"), asc("word"))
    }),

    "q_energy_distance" -> ((s, dir) => {
      // dollar buckets: bounded domain, so the prefix pass rides a tiny
      // aggregated frame (never a whole-corpus window)
      val b = table(s, dir, "events")
        .where(col("event_type").isin("purchase", "click"))
        .selectExpr("event_type",
          "CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) div 100 AS b")
        .groupBy("b")
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("cx"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("cy"))
      val w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
      val pre = b
        .withColumn("pcx", sum("cx").over(w))
        .withColumn("psx", sum(col("cx") * col("b")).over(w))
        .withColumn("pcy", sum("cy").over(w))
        .withColumn("psy", sum(col("cy") * col("b")).over(w))
      // Σ_b over the RIGHT sample's rows of (b·cntLEFT≤b − sumLEFT≤b),
      // doubled = full Σ|x−y| (pairs where y ≥ x counted at y; the
      // mirror pairs where x > y counted at x by the symmetric term)
      val sums = pre.groupBy().agg(
        sum(col("cy") * (col("b") * col("pcx") - col("psx"))).as("yx"),
        sum(col("cx") * (col("b") * col("pcy") - col("psy"))).as("xy"),
        sum(col("cx") * (col("b") * col("pcx") - col("psx"))).as("xx"),
        sum(col("cy") * (col("b") * col("pcy") - col("psy"))).as("yy"),
        sum(col("cx")).as("nx"), sum(col("cy")).as("ny"))
      sums.selectExpr(
        "CAST(nx AS BIGINT) AS n_x", "CAST(ny AS BIGINT) AS n_y",
        "round(CAST(yx + xy AS DOUBLE) / (CAST(nx AS DOUBLE) * ny), 6) AS e_xy",
        "round(2.0 * xx / (CAST(nx AS DOUBLE) * nx), 6) AS e_xx",
        "round(2.0 * yy / (CAST(ny AS DOUBLE) * ny), 6) AS e_yy",
        """round(2.0 * CAST(yx + xy AS DOUBLE) / (CAST(nx AS DOUBLE) * ny)
          | - 2.0 * xx / (CAST(nx AS DOUBLE) * nx)
          | - 2.0 * yy / (CAST(ny AS DOUBLE) * ny), 6) AS energy""".stripMargin)
    }),

    "q_kcenter_greedy" -> ((s, dir) => {
      val all = LlmOps.quantized(s, dir).where(col("nq") > 0)
        .select(col("vec_id"), col("q"), col("nq")).ckpt()
      // center 1: deterministic farthest-from-origin (max self-norm)
      var center = all.orderBy(desc("nq"), asc("vec_id")).limit(1)
        .select(col("vec_id").as("cid"), col("q").as("cq")).ckpt()
      var mind = all.crossJoin(broadcast(center))
        .select(col("vec_id"), col("q"),
          expr("ivec_sqdist(q, cq)").as("mind"))
        .ckpt()
      val out = Seq.newBuilder[org.apache.spark.sql.DataFrame]
      out += center.crossJoin(broadcast(
          mind.agg(max(col("mind")).as("radius"))))
        .select(lit(1L).as("k"), col("cid"), col("radius"))
      for (k <- 2 to KCenterK) {
        center = mind.orderBy(desc("mind"), asc("vec_id")).limit(1)
          .select(col("vec_id").as("cid"), col("q").as("cq")).ckpt()
        mind = mind.crossJoin(broadcast(center))
          .select(col("vec_id"), col("q"),
            least(col("mind"), expr("ivec_sqdist(q, cq)")).as("mind"))
          .ckpt()
        out += center.select(col("cid")).crossJoin(broadcast(
            mind.agg(max(col("mind")).as("radius"))))
          .select(lit(k.toLong).as("k"), col("cid"), col("radius"))
      }
      out.result().reduce(_ unionByName _)
        .selectExpr("k", "CAST(cid AS BIGINT) AS center_id",
          "CAST(radius AS BIGINT) AS radius_sq")
        .orderBy("k")
    })
  )

  val oracle: Map[String, String] = strictMap(

    "q_dp_topk" ->
      s"""WITH ${Reference.ToksSql},
         |wc AS (
         |  SELECT word, count(*) AS cnt,
         |    ${hex2longSql("md5('dp:' || word)", 1)} % 2001 - 1000 AS noise
         |  FROM toks GROUP BY word
         |),
         |sc AS (SELECT word, cnt, cnt * 100 + noise AS score FROM wc)
         |SELECT word, CAST(cnt AS BIGINT) AS true_count,
         |  round(CAST(score AS DOUBLE) / 100, 2) AS noised_count
         |FROM sc
         |ORDER BY score DESC, word LIMIT $DpK""".stripMargin,

    "q_energy_distance" ->
      """WITH b AS (
        |  SELECT CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) // 100 AS b,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS cx,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS cy
        |  FROM events WHERE event_type IN ('purchase', 'click')
        |  GROUP BY 1
        |),
        |pre AS (
        |  SELECT b, cx, cy,
        |    CAST(sum(cx) OVER w AS BIGINT) AS pcx,
        |    CAST(sum(cx * b) OVER w AS BIGINT) AS psx,
        |    CAST(sum(cy) OVER w AS BIGINT) AS pcy,
        |    CAST(sum(cy * b) OVER w AS BIGINT) AS psy
        |  FROM b
        |  WINDOW w AS (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |),
        |s AS (
        |  SELECT
        |    CAST(sum(cy * (b * pcx - psx)) AS BIGINT) AS yx,
        |    CAST(sum(cx * (b * pcy - psy)) AS BIGINT) AS xy,
        |    CAST(sum(cx * (b * pcx - psx)) AS BIGINT) AS xx,
        |    CAST(sum(cy * (b * pcy - psy)) AS BIGINT) AS yy,
        |    CAST(sum(cx) AS BIGINT) AS nx, CAST(sum(cy) AS BIGINT) AS ny
        |  FROM pre
        |)
        |SELECT nx AS n_x, ny AS n_y,
        |  round(CAST(yx + xy AS DOUBLE) / (CAST(nx AS DOUBLE) * ny), 6) AS e_xy,
        |  round(2.0 * xx / (CAST(nx AS DOUBLE) * nx), 6) AS e_xx,
        |  round(2.0 * yy / (CAST(ny AS DOUBLE) * ny), 6) AS e_yy,
        |  round(2.0 * CAST(yx + xy AS DOUBLE) / (CAST(nx AS DOUBLE) * ny)
        |   - 2.0 * xx / (CAST(nx AS DOUBLE) * nx)
        |   - 2.0 * yy / (CAST(ny AS DOUBLE) * ny), 6) AS energy
        |FROM s""".stripMargin,

    "q_kcenter_greedy" -> {
      def sqd(aVec: String, bVec: String): String =
        s"""CAST(sum((${LlmOps.quantSqlElem(s"$aVec[i]")} - ${LlmOps.quantSqlElem(s"$bVec[i]")})
           | * (${LlmOps.quantSqlElem(s"$aVec[i]")} - ${LlmOps.quantSqlElem(s"$bVec[i]")})) AS BIGINT)"""
          .stripMargin.replaceAll("\n", " ")
      val rounds = (2 to KCenterK).map { k =>
        s"""c$k AS MATERIALIZED (
           |  SELECT m.vec_id AS cid, e.embedding AS cq
           |  FROM m${k - 1} m JOIN embeddings e ON e.vec_id = m.vec_id
           |  ORDER BY m.mind DESC, m.vec_id LIMIT 1
           |),
           |m$k AS MATERIALIZED (
           |  SELECT m.vec_id, least(m.mind, d.d2) AS mind
           |  FROM m${k - 1} m JOIN (
           |    SELECT p.vec_id, ${sqd("p.embedding", "c.cq")} AS d2
           |    FROM (SELECT e.vec_id, e.embedding,
           |            unnest(generate_series(1, len(e.embedding))) AS i
           |          FROM embeddings e JOIN qn ON qn.vec_id = e.vec_id
           |          WHERE qn.nq > 0) p
           |    CROSS JOIN c$k c
           |    GROUP BY p.vec_id
           |  ) d ON d.vec_id = m.vec_id
           |)""".stripMargin
      }.mkString(",\n")
      val outs = (1 to KCenterK).map { k =>
        s"""SELECT CAST($k AS BIGINT) AS k,
           |  (SELECT CAST(cid AS BIGINT) FROM c$k) AS center_id,
           |  (SELECT CAST(max(mind) AS BIGINT) FROM m$k) AS radius_sq"""
          .stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH ${LlmOps.QuantizedNormSql},
         |c1 AS MATERIALIZED (
         |  SELECT e.vec_id AS cid, e.embedding AS cq
         |  FROM embeddings e JOIN qn ON qn.vec_id = e.vec_id
         |  WHERE qn.nq > 0
         |  ORDER BY qn.nq DESC, e.vec_id LIMIT 1
         |),
         |m1 AS MATERIALIZED (
         |  SELECT p.vec_id, ${sqd("p.embedding", "c.cq")} AS mind
         |  FROM (SELECT e.vec_id, e.embedding,
         |          unnest(generate_series(1, len(e.embedding))) AS i
         |        FROM embeddings e JOIN qn ON qn.vec_id = e.vec_id
         |        WHERE qn.nq > 0) p
         |  CROSS JOIN c1 c
         |  GROUP BY p.vec_id
         |),
         |$rounds
         |$outs
         |ORDER BY k""".stripMargin
    }
  )
}
