package graft.queries

import org.apache.spark.sql.functions._

/** Wave-46 addition — the AMS (Alon–Matias–Szegedy) "tug-of-war" sketch:
  *
  *  - q_sketch_ams_f2: estimates the second frequency moment F2 = Σ f_w²
  *    of the token stream — equivalently the SELF-JOIN SIZE on the token
  *    key — with 16 independent ±1 estimators: X_j = (Σ_w f_w·s_j(w))²,
  *    E[X_j] = F2. The sign s_j(w) derives from md5(j:w) (first hex digit
  *    < '8' → +1), the same hash-parity discipline as the CMS/HLL/Bloom/
  *    KMV family; the estimate is the mean of the 16 estimators. Output:
  *    exact F2 (the truth the oracle also computes), the estimate, and
  *    the relative error. Completes the classic linear-sketch family
  *    (CMS point counts, HLL distincts, KMV set ops, Bloom membership,
  *    HyperANF reach — AMS join/self-join SIZE was the missing one); AMS
  *    sketches merge by vector ADDITION, so partial aggregation and
  *    cross-shard union are free.
  *
  * Determinism: f_w and the signed sums are exact BIGINT; X_j ≤
  * (Σ f_w)² fits comfortably (corpus token counts ≪ 2^31); the estimate
  * is one terminal division rounded to 6.
  */
object Wave46 extends Catalog {

  /** Estimator count (one sketch row each; mean-combined). */
  private val AmsK = 16

  val queries: Map[String, Q] = strictMap(

    // AMS F2: one token-frequency pass (the word-count shuffle), then a
    // 16-way broadcast crossing — (distinct words)×16 rows, partial-agg'd
    // into 16 signed sums. Never touches raw token occurrences twice.
    "q_sketch_ams_f2" -> ((s, dir) => {
      val wc = corpusWordCount(s, dir).withColumnRenamed("cnt", "f")
      val js = broadcast(s.range(0, AmsK).select(col("id").as("j")))
      val signed = wc.crossJoin(js)
        .withColumn("sgn", expr(
          "IF(substring(md5(concat(CAST(j AS STRING), ':', word)), 1, 1)" +
            " < '8', CAST(1 AS BIGINT), CAST(-1 AS BIGINT))"))
        .groupBy("j").agg(sum(col("f") * col("sgn")).as("z"))
        .agg(sum(col("z") * col("z")).as("sx"), count(lit(1)).as("k"))
      val truth = wc.agg(sum(col("f") * col("f")).as("f2"))
      truth.crossJoin(broadcast(signed))
        .selectExpr("CAST(f2 AS BIGINT) AS f2_true",
          "round(CAST(sx AS DOUBLE) / k, 6) AS f2_est",
          "round(abs(CAST(sx AS DOUBLE) / k - f2) / f2, 6) AS rel_err")
    }),
  )

  val oracle: Map[String, String] = strictMap(

    "q_sketch_ams_f2" ->
      s"""WITH ${Reference.ToksSql},
         |wc AS (SELECT word, count(*) AS f FROM toks GROUP BY word),
         |signed AS (
         |  SELECT j, sum(f * CASE WHEN substr(md5(CAST(j AS VARCHAR)
         |      || ':' || word), 1, 1) < '8' THEN 1 ELSE -1 END) AS z
         |  FROM wc CROSS JOIN
         |    (SELECT unnest(generate_series(0, ${AmsK - 1})) AS j)
         |  GROUP BY j
         |),
         |est AS (SELECT sum(z * z) AS sx, count(*) AS k FROM signed),
         |truth AS (SELECT sum(f * f) AS f2 FROM wc)
         |SELECT CAST(f2 AS BIGINT) AS f2_true,
         |  round(CAST(sx AS DOUBLE) / k, 6) AS f2_est,
         |  round(abs(CAST(sx AS DOUBLE) / k - f2) / f2, 6) AS rel_err
         |FROM truth CROSS JOIN est""".stripMargin,
  )
}
