package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Wave-65 additions — a decision-stump split scan, windowed regression,
  * combinatorial coverage, and one-pass leave-one-out source impact:
  *
  *  - q_best_split: the decision-tree ROOT SPLIT on a numeric feature —
  *    the threshold on per-user event count that best separates
  *    converters (Gini impurity, not entropy: weighted Gini is an exact
  *    rational in the class counts, so no log ever runs; the single
  *    rounded IEEE expression orders candidates identically in both
  *    engines, ties → threshold asc). Candidates are the DISTINCT
  *    feature values with prefix class counts from one ordered window
  *    over the aggregated value table — sublinear in users, the
  *    histogram-split pattern every distributed tree learner uses.
  *  - q_rolling_slope: per-user rolling ordinary-least-squares slope of
  *    purchase value over the last 5 events — trend detection as a
  *    WINDOW of exact integer sums (x = the global row index, so
  *    Σx/Σx²/Σxy are window sums of integers; the OLS closed form runs
  *    once per row, rounded once). Output: each user's latest-window
  *    slope.
  *  - q_pairwise_coverage: t-way (t = 2) combinatorial coverage of the
  *    event feature space — for each feature pair, observed distinct
  *    value combinations vs the product of observed domains (the
  *    test-adequacy / data-profiling signal for categorical crosses).
  *    Three group-bys over bounded domains.
  *  - q_loo_impact: leave-one-out source impact in ONE PASS — for every
  *    source, the corpus stats WITHOUT it (docs, mean chars, vocabulary)
  *    computed from per-source aggregates and the words-unique-to-source
  *    table (vocab_without = vocab − words whose source-frequency is 1
  *    and owned by this source), never by 20 re-aggregations of the
  *    complement.
  *
  * Determinism: all inputs are exact integers; each score/slope is one
  * rounded IEEE expression; argmins tie-break on the value axis; total
  * ORDER BYs everywhere.
  */
object Wave65 extends Catalog {

  /** Rolling-regression window length (events). */
  private val SlopeW = 5
  /** Value-bucket cap for the coverage cross (cents div 2000, ≤ 9). */
  private val CovBuckets = 9

  val queries: Map[String, Q] = strictMap(

    "q_best_split" -> ((s, dir) => {
      val pu = table(s, dir, "events").groupBy("user_id")
        .agg(count(lit(1)).as("f"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"))
      // candidate thresholds = distinct feature values; prefix class
      // counts ride one ordered window over the AGGREGATED (f, pos, neg)
      // table (|distinct f| rows, not |users|)
      val fv = pu.groupBy("f")
        .agg(sum(col("y")).as("pos"), sum(lit(1L) - col("y")).as("neg"))
      val w = Window.orderBy("f")
      val cum = fv
        .withColumn("cpos", sum("pos").over(w))
        .withColumn("cneg", sum("neg").over(w))
        .crossJoin(broadcast(fv.agg(sum(col("pos")).as("tpos"),
          sum(col("neg")).as("tneg"))))
      // split: LEFT = f ≤ t. weighted Gini = Σ side (n_side − (p²+n²)/n_side)/n
      // — one IEEE expression over exact integers, rounded to 8
      val scored = cum
        .where(col("cpos") + col("cneg") < col("tpos") + col("tneg"))
        .withColumn("imp", expr(
          """round((
            |  (cpos + cneg) - (CAST(cpos AS DOUBLE)*cpos + CAST(cneg AS DOUBLE)*cneg) / (cpos + cneg)
            |  + ((tpos - cpos) + (tneg - cneg))
            |  - (CAST(tpos - cpos AS DOUBLE)*(tpos - cpos) + CAST(tneg - cneg AS DOUBLE)*(tneg - cneg))
            |    / ((tpos - cpos) + (tneg - cneg))
            |) / (tpos + tneg), 8)""".stripMargin))
      scored
        .withColumn("rn", row_number().over(
          Window.orderBy(asc("imp"), asc("f"))))
        .where(col("rn") === 1)
        .selectExpr("CAST(f AS BIGINT) AS threshold",
          "imp AS impurity",
          "CAST(cpos AS BIGINT) AS left_pos", "CAST(cneg AS BIGINT) AS left_neg",
          "CAST(tpos - cpos AS BIGINT) AS right_pos",
          "CAST(tneg - cneg AS BIGINT) AS right_neg")
    }),

    "q_rolling_slope" -> ((s, dir) => {
      val ev = table(s, dir, "events")
        .select(col("user_id"),
          expr("unix_micros(ts)").as("tsu"), col("event_id"),
          expr("CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT)")
            .as("cents"))
        .withColumn("rn", row_number().over(Window.partitionBy("user_id")
          .orderBy("tsu", "event_id")).cast("long"))
      val w = Window.partitionBy("user_id").orderBy("rn")
        .rowsBetween(-(SlopeW - 1), 0)
      val sl = ev
        .withColumn("k", count(lit(1)).over(w))
        .withColumn("sx", sum(col("rn")).over(w))
        .withColumn("sxx", sum(col("rn") * col("rn")).over(w))
        .withColumn("sy", sum(col("cents")).over(w))
        .withColumn("sxy", sum(col("rn") * col("cents")).over(w))
        .where(col("k") === SlopeW)
        .withColumn("slope", expr(
          s"""CASE WHEN $SlopeW * sxx - sx * sx <> 0
             |THEN round(CAST($SlopeW * sxy - sx * sy AS DOUBLE)
             |     / ($SlopeW * sxx - sx * sx), 6)
             |ELSE CAST(NULL AS DOUBLE) END""".stripMargin))
      // latest full window per user
      sl.withColumn("last", max(col("rn")).over(
          Window.partitionBy("user_id")))
        .where(col("rn") === col("last"))
        .selectExpr("CAST(user_id AS BIGINT) AS user_id",
          "CAST(rn AS BIGINT) AS n_events", "slope")
        .orderBy("user_id")
    }),

    "q_pairwise_coverage" -> ((s, dir) => {
      val f = table(s, dir, "events").selectExpr(
        "event_type AS f1",
        "CAST(unix_micros(ts) DIV 3600000000 % 24 AS BIGINT) AS f2",
        s"least(CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) div 2000, $CovBuckets) AS f3")
      def pair(a: String, b: String) = {
        val obs = f.select(col(a), col(b)).distinct()
          .agg(count(lit(1)).as("n_obs"))
        val da = f.select(col(a)).distinct().agg(count(lit(1)).as("na"))
        val db = f.select(col(b)).distinct().agg(count(lit(1)).as("nb"))
        obs.crossJoin(broadcast(da)).crossJoin(broadcast(db))
          .select(lit(s"$a x $b").as("pair"), col("n_obs"),
            (col("na") * col("nb")).as("n_possible"))
      }
      pair("f1", "f2").unionByName(pair("f1", "f3"))
        .unionByName(pair("f2", "f3"))
        .selectExpr("pair", "CAST(n_obs AS BIGINT) AS n_obs",
          "CAST(n_possible AS BIGINT) AS n_possible",
          "round(CAST(n_obs AS DOUBLE) / n_possible, 6) AS coverage")
        .orderBy("pair")
    }),

    "q_loo_impact" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val perSrc = d.groupBy("source").agg(count(lit(1)).as("nd"),
        sum(col("n_chars")).as("sc"))
      val tot = broadcast(perSrc.agg(sum(col("nd")).as("tn"),
        sum(col("sc")).as("tc")))
      // vocabulary owned exclusively by one source: words whose distinct
      // source count is 1, attributed to that source
      val sw = corpusToks(s, dir)
        .join(d.select("doc_id", "source"), "doc_id")
        .select("source", "word").distinct()
      val uniq = sw.groupBy("word")
        .agg(count(lit(1)).as("ns"), min(col("source")).as("owner"))
        .where(col("ns") === 1)
        .groupBy(col("owner").as("source"))
        .agg(count(lit(1)).as("uniq_words"))
      val vocab = broadcast(sw.select("word").distinct()
        .agg(count(lit(1)).as("vt")))
      perSrc.join(uniq, Seq("source"), "left_outer")
        .na.fill(0L, Seq("uniq_words"))
        .crossJoin(tot).crossJoin(vocab)
        .selectExpr("source",
          "CAST(tn - nd AS BIGINT) AS docs_without",
          "round(CAST(tc - sc AS DOUBLE) / (tn - nd), 4) AS mean_chars_without",
          "CAST(vt - uniq_words AS BIGINT) AS vocab_without",
          "CAST(uniq_words AS BIGINT) AS vocab_lost")
        .orderBy("source")
    })
  )

  val oracle: Map[String, String] = strictMap(

    "q_best_split" ->
      """WITH pu AS (
        |  SELECT user_id, count(*) AS f,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
        |  FROM events GROUP BY user_id
        |),
        |fv AS (
        |  SELECT f, CAST(sum(y) AS BIGINT) AS pos,
        |    CAST(sum(1 - y) AS BIGINT) AS neg
        |  FROM pu GROUP BY f
        |),
        |cum AS (
        |  SELECT f,
        |    CAST(sum(pos) OVER (ORDER BY f) AS BIGINT) AS cpos,
        |    CAST(sum(neg) OVER (ORDER BY f) AS BIGINT) AS cneg,
        |    (SELECT CAST(sum(pos) AS BIGINT) FROM fv) AS tpos,
        |    (SELECT CAST(sum(neg) AS BIGINT) FROM fv) AS tneg
        |  FROM fv
        |),
        |sc AS (
        |  SELECT f, cpos, cneg, tpos, tneg,
        |    round((
        |      (cpos + cneg) - (CAST(cpos AS DOUBLE)*cpos + CAST(cneg AS DOUBLE)*cneg) / (cpos + cneg)
        |      + ((tpos - cpos) + (tneg - cneg))
        |      - (CAST(tpos - cpos AS DOUBLE)*(tpos - cpos) + CAST(tneg - cneg AS DOUBLE)*(tneg - cneg))
        |        / ((tpos - cpos) + (tneg - cneg))
        |    ) / (tpos + tneg), 8) AS imp
        |  FROM cum WHERE cpos + cneg < tpos + tneg
        |)
        |SELECT CAST(f AS BIGINT) AS threshold, imp AS impurity,
        |  cpos AS left_pos, cneg AS left_neg,
        |  CAST(tpos - cpos AS BIGINT) AS right_pos,
        |  CAST(tneg - cneg AS BIGINT) AS right_neg
        |FROM sc ORDER BY imp, threshold LIMIT 1""".stripMargin,

    "q_rolling_slope" ->
      s"""WITH ev AS (
         |  SELECT user_id, epoch_us(ts) AS tsu, event_id,
         |    CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS cents,
         |    CAST(row_number() OVER (PARTITION BY user_id
         |      ORDER BY epoch_us(ts), event_id) AS BIGINT) AS rn
         |  FROM events
         |),
         |sl AS (
         |  SELECT user_id, rn,
         |    count(*) OVER w AS k,
         |    CAST(sum(rn) OVER w AS BIGINT) AS sx,
         |    CAST(sum(rn * rn) OVER w AS BIGINT) AS sxx,
         |    CAST(sum(cents) OVER w AS BIGINT) AS sy,
         |    CAST(sum(rn * cents) OVER w AS BIGINT) AS sxy
         |  FROM ev
         |  WINDOW w AS (PARTITION BY user_id ORDER BY rn
         |               ROWS BETWEEN ${SlopeW - 1} PRECEDING AND CURRENT ROW)
         |),
         |fin AS (
         |  SELECT user_id, rn,
         |    CASE WHEN $SlopeW * sxx - sx * sx <> 0
         |    THEN round(CAST($SlopeW * sxy - sx * sy AS DOUBLE)
         |         / ($SlopeW * sxx - sx * sx), 6)
         |    ELSE CAST(NULL AS DOUBLE) END AS slope,
         |    max(rn) OVER (PARTITION BY user_id) AS last
         |  FROM sl WHERE k = $SlopeW
         |)
         |SELECT CAST(user_id AS BIGINT) AS user_id,
         |  rn AS n_events, slope
         |FROM fin WHERE rn = last ORDER BY user_id""".stripMargin,

    "q_pairwise_coverage" -> {
      val f =
        s"""f AS (
           |  SELECT event_type AS f1,
           |    CAST(epoch_us(ts) // 3600000000 % 24 AS BIGINT) AS f2,
           |    least(CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) // 2000,
           |          $CovBuckets) AS f3
           |  FROM events
           |)""".stripMargin
      def blk(a: String, b: String) =
        s"""SELECT '$a x $b' AS pair,
           |  (SELECT CAST(count(*) AS BIGINT)
           |   FROM (SELECT DISTINCT $a, $b FROM f)) AS n_obs,
           |  (SELECT CAST(count(DISTINCT $a) AS BIGINT) FROM f)
           |  * (SELECT CAST(count(DISTINCT $b) AS BIGINT) FROM f) AS n_possible"""
          .stripMargin
      s"""WITH $f,
         |u AS (
         |${blk("f1", "f2")}
         |UNION ALL
         |${blk("f1", "f3")}
         |UNION ALL
         |${blk("f2", "f3")}
         |)
         |SELECT pair, n_obs, n_possible,
         |  round(CAST(n_obs AS DOUBLE) / n_possible, 6) AS coverage
         |FROM u ORDER BY pair""".stripMargin
    },

    "q_loo_impact" ->
      s"""WITH ${Reference.ToksSql},
         |ps AS (
         |  SELECT source, count(*) AS nd, CAST(sum(n_chars) AS BIGINT) AS sc
         |  FROM documents GROUP BY source
         |),
         |tot AS (SELECT CAST(sum(nd) AS BIGINT) AS tn,
         |               CAST(sum(sc) AS BIGINT) AS tc FROM ps),
         |sw AS (
         |  SELECT DISTINCT d.source, t.word
         |  FROM toks t JOIN documents d ON d.doc_id = t.doc_id
         |),
         |uniq AS (
         |  SELECT owner AS source, count(*) AS uniq_words FROM (
         |    SELECT word, count(*) AS ns, min(source) AS owner
         |    FROM sw GROUP BY word)
         |  WHERE ns = 1 GROUP BY owner
         |),
         |vocab AS (SELECT CAST(count(DISTINCT word) AS BIGINT) AS vt FROM sw)
         |SELECT ps.source AS source,
         |  CAST(tn - nd AS BIGINT) AS docs_without,
         |  round(CAST(tc - sc AS DOUBLE) / (tn - nd), 4) AS mean_chars_without,
         |  CAST(vt - coalesce(uniq_words, 0) AS BIGINT) AS vocab_without,
         |  CAST(coalesce(uniq_words, 0) AS BIGINT) AS vocab_lost
         |FROM ps LEFT JOIN uniq ON uniq.source = ps.source
         |CROSS JOIN tot CROSS JOIN vocab
         |ORDER BY source""".stripMargin
  )
}
