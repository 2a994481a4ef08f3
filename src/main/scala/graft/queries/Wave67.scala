package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Wave-67 additions — max-min fair allocation, a placebo robustness
  * check, and a third inter-rater agreement coefficient:
  *
  *  - q_water_filling: max-min fair (water-filling) allocation of a
  *    sampling budget across sources — every source gets min(demand,
  *    level) with the level chosen so the budget is exactly exhausted.
  *    The level is found in CLOSED FORM from one ordered pass over the
  *    |sources|-row demand table (sorted prefix sums; the first position
  *    where demand·remaining ≥ remaining-budget pins the level as one
  *    exact rational) — never an iterative fill. The quota arithmetic
  *    behind fair corpus-mixing budgets.
  *  - q_placebo_test: the A/B robustness placebo — the real variant
  *    split's purchase-rate lift vs the SAME estimator under an
  *    md5-derived pseudo-assignment that cannot have a causal effect.
  *    A healthy pipeline shows |placebo lift| ≪ |real lift|; completes
  *    the causal family (DiD, CUPED, PSM, IV, IPS) with its standard
  *    falsification check.
  *  - q_krippendorff: Krippendorff's alpha (nominal) over three
  *    deterministic annotators of document quality — the
  *    missing-data-tolerant agreement coefficient beside Cohen's and
  *    Fleiss' kappa. α = 1 − Do/De with both disagreements exact
  *    integer forms (Σ_u Σ_c o_uc(m−o_uc) over pairable units;
  *    Σ_c n_c(Nm−n_c) for expectation) — one rounded expression at the
  *    end.
  *
  * Determinism: budgets/levels/alphas are single rounded expressions
  * over exact integers; the placebo assignment is md5-derived; total
  * ORDER BYs everywhere.
  */
object Wave67 extends Catalog {

  val queries: Map[String, Q] = strictMap(

    "q_water_filling" -> ((s, dir) => {
      // demand = 2·docs per source; budget = 60% of total demand (an
      // integer at any SF), so the level binds
      val dem = table(s, dir, "documents").groupBy("source")
        .agg((count(lit(1)) * 2).as("d"))
      val tot = broadcast(dem.agg(sum(col("d")).as("td"),
        count(lit(1)).as("ns"))
        .withColumn("budget", expr("(3 * td) div 5")))
      val w = Window.orderBy(asc("d"), asc("source"))
      val ranked = dem.crossJoin(tot)
        .withColumn("k", row_number().over(w).cast("long"))
        .withColumn("pre", coalesce(sum(col("d")).over(
          Window.orderBy(asc("d"), asc("source"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      // first k where d·(ns−k+1) ≥ budget−pre pins the level (exact
      // integer compare); level = (budget − pre)/(ns − k + 1)
      val lvl = broadcast(ranked
        .where(col("d") * (col("ns") - col("k") + 1) >=
          col("budget") - col("pre"))
        .orderBy("k").limit(1)
        .select(col("pre").as("lpre"), (col("ns") - col("k") + 1).as("lrem")))
      dem.crossJoin(tot).crossJoin(lvl)
        .withColumn("level", expr(
          "round(CAST(budget - lpre AS DOUBLE) / lrem, 4)"))
        .selectExpr("source", "CAST(d AS BIGINT) AS demand",
          "CAST(budget AS BIGINT) AS budget", "level",
          """CASE WHEN CAST(d AS DOUBLE) <= level THEN CAST(d AS DOUBLE)
            |ELSE level END AS alloc""".stripMargin)
        .orderBy("source")
    }),

    "q_placebo_test" -> ((s, dir) => {
      val pu = table(s, dir, "events").groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("y"))
        .withColumn("z", col("user_id") % 2)
        .withColumn("zp", expr(
          "CAST(conv(substring(md5(concat('placebo:', CAST(user_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 2"))
      def lift(zc: String) = expr(
        s"""round(CAST(sum(CASE WHEN $zc = 1 THEN y ELSE 0 END) AS DOUBLE)
           |  / sum(CASE WHEN $zc = 1 THEN 1 ELSE 0 END)
           |  - CAST(sum(CASE WHEN $zc = 0 THEN y ELSE 0 END) AS DOUBLE)
           |  / sum(CASE WHEN $zc = 0 THEN 1 ELSE 0 END), 8)""".stripMargin)
      pu.groupBy()
        .agg(count(lit(1)).as("n"), lift("z").as("real_lift"),
          lift("zp").as("placebo_lift"))
        .selectExpr("CAST(n AS BIGINT) AS n_users", "real_lift",
          "placebo_lift")
    }),

    "q_krippendorff" -> ((s, dir) => {
      // three deterministic binary annotators of "high quality":
      // declared-English, long (> median chars is data-dependent — use a
      // fixed 400-char bar), and md5-parity (the deliberately-noisy rater)
      val lab = table(s, dir, "documents").select(col("doc_id"),
          when(col("lang") === "en", 1L).otherwise(0L).as("r1"),
          when(col("n_chars") > 400, 1L).otherwise(0L).as("r2"),
          expr("CAST(conv(substring(md5(concat('rater:', CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 2")
            .as("r3"))
        .withColumn("o1", col("r1") + col("r2") + col("r3")) // count of 1s
      // m = 3 raters, no missing: per unit Σ_c o_uc(m − o_uc) =
      // 2·o1·(3 − o1) … wait o0 = 3−o1 ⇒ o1(3−o1) + o0(3−o0) = 2·o1·(3−o1)
      val st = lab.groupBy()
        .agg(count(lit(1)).as("nu"),
          sum(expr("2 * o1 * (3 - o1)")).as("do_tot"),
          sum(col("o1")).as("n1"))
      st.selectExpr("CAST(nu AS BIGINT) AS n_units",
          "CAST(do_tot AS BIGINT) AS do_pairs",
          "CAST(n1 AS BIGINT) AS n_ones",
          """round(1.0 -
            |  (CAST(do_tot AS DOUBLE) / (nu * 3 * 2)) /
            |  (CAST(n1 * (3 * nu - n1) + (3 * nu - n1) * n1 AS DOUBLE)
            |   / (CAST(3 * nu AS DOUBLE) * (3 * nu - 1))), 6) AS alpha"""
            .stripMargin)
    })
  )

  val oracle: Map[String, String] = strictMap(

    "q_water_filling" ->
      """WITH dem AS (
        |  SELECT source, CAST(count(*) * 2 AS BIGINT) AS d
        |  FROM documents GROUP BY source
        |),
        |tot AS (SELECT CAST(sum(d) AS BIGINT) AS td,
        |               CAST(count(*) AS BIGINT) AS ns,
        |               CAST((3 * sum(d)) // 5 AS BIGINT) AS budget
        |        FROM dem),
        |rk AS (
        |  SELECT source, d, td, ns, budget,
        |    CAST(row_number() OVER (ORDER BY d, source) AS BIGINT) AS k,
        |    CAST(coalesce(sum(d) OVER (ORDER BY d, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS pre
        |  FROM dem CROSS JOIN tot
        |),
        |lvl AS (
        |  SELECT pre AS lpre, ns - k + 1 AS lrem FROM rk
        |  WHERE d * (ns - k + 1) >= budget - pre
        |  ORDER BY k LIMIT 1
        |)
        |SELECT source, d AS demand, budget,
        |  round(CAST(budget - lpre AS DOUBLE) / lrem, 4) AS level,
        |  CASE WHEN CAST(d AS DOUBLE) <=
        |    round(CAST(budget - lpre AS DOUBLE) / lrem, 4)
        |  THEN CAST(d AS DOUBLE)
        |  ELSE round(CAST(budget - lpre AS DOUBLE) / lrem, 4) END AS alloc
        |FROM dem CROSS JOIN tot CROSS JOIN lvl
        |ORDER BY source""".stripMargin,

    "q_placebo_test" ->
      s"""WITH pu AS (
         |  SELECT user_id, user_id % 2 AS z,
         |    ${hex2longSql("md5('placebo:' || CAST(user_id AS VARCHAR))", 1)} % 2 AS zp,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
         |  FROM events GROUP BY 1, 2, 3
         |)
         |SELECT CAST(count(*) AS BIGINT) AS n_users,
         |  round(CAST(sum(CASE WHEN z = 1 THEN y ELSE 0 END) AS DOUBLE)
         |    / sum(CASE WHEN z = 1 THEN 1 ELSE 0 END)
         |    - CAST(sum(CASE WHEN z = 0 THEN y ELSE 0 END) AS DOUBLE)
         |    / sum(CASE WHEN z = 0 THEN 1 ELSE 0 END), 8) AS real_lift,
         |  round(CAST(sum(CASE WHEN zp = 1 THEN y ELSE 0 END) AS DOUBLE)
         |    / sum(CASE WHEN zp = 1 THEN 1 ELSE 0 END)
         |    - CAST(sum(CASE WHEN zp = 0 THEN y ELSE 0 END) AS DOUBLE)
         |    / sum(CASE WHEN zp = 0 THEN 1 ELSE 0 END), 8) AS placebo_lift
         |FROM pu""".stripMargin,

    "q_krippendorff" ->
      s"""WITH lab AS (
         |  SELECT doc_id,
         |    (CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
         |    + (CASE WHEN n_chars > 400 THEN 1 ELSE 0 END)
         |    + (${hex2longSql("md5('rater:' || CAST(doc_id AS VARCHAR))", 1)} % 2)
         |      AS o1
         |  FROM documents
         |),
         |st AS (
         |  SELECT CAST(count(*) AS BIGINT) AS nu,
         |    CAST(sum(2 * o1 * (3 - o1)) AS BIGINT) AS do_tot,
         |    CAST(sum(o1) AS BIGINT) AS n1
         |  FROM lab
         |)
         |SELECT nu AS n_units, do_tot AS do_pairs, n1 AS n_ones,
         |  round(1.0 -
         |    (CAST(do_tot AS DOUBLE) / (nu * 3 * 2)) /
         |    (CAST(n1 * (3 * nu - n1) + (3 * nu - n1) * n1 AS DOUBLE)
         |     / (CAST(3 * nu AS DOUBLE) * (3 * nu - 1))), 6) AS alpha
         |FROM st""".stripMargin
  )
}
