package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.Ckpt._

/** Wave-47 addition — the Count-Sketch (Charikar–Chen–Farach-Colton),
  * CMS's unbiased sibling, evaluated head-to-head against it:
  *
  *  - q_count_sketch: d=5 signed rows × w=64 cells over the token
  *    frequencies — C[j][h_j(x)] += f_x·s_j(x); the point estimate for x
  *    is the MEDIAN over rows of s_j(x)·C[j][h_j(x)] (unbiased, two-sided
  *    error), where CMS's min-over-rows is biased UP (one-sided). The
  *    query sketches the corpus once, then reads back the 10 most frequent
  *    words through BOTH sketches and emits (word, exact f, cms_est,
  *    cs_est) — the textbook contrast a pipeline consults when choosing a
  *    frequency sketch (CMS for guaranteed over-counts / threshold gates,
  *    Count-Sketch for unbiased sums and F2-friendly composition; its row
  *    vectors are AMS estimators bucketed by h — see q_sketch_ams_f2).
  *
  * Determinism: cells and signs ride the md5 parity family (first 8 hex
  * chars → cell, 9th hex digit → sign); all sketch arithmetic is exact
  * BIGINT; the median of 5 integers is an exact order statistic (3rd of
  * the sorted list) — no float path exists in the whole query.
  */
object Wave47 extends Catalog {

  private val CsDepth = 5
  private val CsWidth = 64
  /** Words evaluated through the sketches (top by (f desc, word asc)). */
  private val CsProbe = 10

  /** (cell, sgn) rules — md5(j:word): hex[1..8] → cell, hex[9] → sign. */
  private val CellSpark =
    s"CAST(conv(substring(md5(concat(CAST(j AS STRING), ':', word)), 1, 8), 16, 10) AS BIGINT) % $CsWidth"
  private val SgnSpark =
    "IF(substring(md5(concat(CAST(j AS STRING), ':', word)), 9, 1) < '8'," +
      " CAST(1 AS BIGINT), CAST(-1 AS BIGINT))"

  val queries: Map[String, Q] = strictMap(

    // COUNT SKETCH: one word-count shuffle; the 5-way crossing is
    // |vocab|×5 rows partial-agg'd into 5×64 cells (constant-size state —
    // the whole point); the probe side is 10 constant rows broadcast into
    // the cell table. CMS cells recompute from the same crossing (shared
    // ckpt), so the contrast is apples-to-apples on one pass.
    "q_count_sketch" -> ((s, dir) => {
      val wc = corpusWordCount(s, dir).withColumnRenamed("cnt", "f")
        .ckpt() // sketched + probed
      val js = broadcast(s.range(0, CsDepth).select(col("id").as("j")))
      val crossed = wc.crossJoin(js)
        .withColumn("cell", expr(CellSpark))
        .withColumn("sgn", expr(SgnSpark))
        .ckpt() // feeds both sketch tables
      val csCells = crossed.groupBy("j", "cell")
        .agg(sum(col("f") * col("sgn")).as("c"))
      val cmsCells = crossed.where(col("j") < 4)
        .groupBy("j", "cell").agg(sum("f").as("c"))
      // TakeOrderedAndProject (distributed top-k), never a global window
      val probes = wc.orderBy(desc("f"), asc("word")).limit(CsProbe)
        .crossJoin(js)
        .withColumn("cell", expr(CellSpark))
        .withColumn("sgn", expr(SgnSpark))
      val cs = probes.join(csCells, Seq("j", "cell"))
        .groupBy("word", "f")
        .agg(expr("sort_array(collect_list(sgn * c))[2]").as("cs_est"))
      val cms = probes.where(col("j") < 4).join(cmsCells, Seq("j", "cell"))
        .groupBy("word").agg(min("c").as("cms_est"))
      cs.join(cms, "word")
        .selectExpr("word", "CAST(f AS BIGINT) AS f",
          "CAST(cms_est AS BIGINT) AS cms_est",
          "CAST(cs_est AS BIGINT) AS cs_est")
        .orderBy(desc("f"), asc("word"))
    }),
  )

  val oracle: Map[String, String] = strictMap(

    "q_count_sketch" -> {
      val cellSql =
        s"${hex2longSql("md5(CAST(j AS VARCHAR) || ':' || word)", 1)} % $CsWidth"
      val sgnSql =
        "CASE WHEN substr(md5(CAST(j AS VARCHAR) || ':' || word), 9, 1)" +
          " < '8' THEN 1 ELSE -1 END"
      s"""WITH ${Reference.ToksSql},
         |wc AS MATERIALIZED (SELECT word, count(*) AS f FROM toks GROUP BY word),
         |crossed AS MATERIALIZED (
         |  SELECT word, f, j, $cellSql AS cell, $sgnSql AS sgn
         |  FROM wc CROSS JOIN
         |    (SELECT unnest(generate_series(0, ${CsDepth - 1})) AS j)
         |),
         |cs_cells AS (SELECT j, cell, sum(f * sgn) AS c
         |             FROM crossed GROUP BY j, cell),
         |cms_cells AS (SELECT j, cell, sum(f) AS c
         |              FROM crossed WHERE j < 4 GROUP BY j, cell),
         |probes AS MATERIALIZED (
         |  SELECT c.* FROM crossed c JOIN (
         |    SELECT word FROM wc ORDER BY f DESC, word LIMIT $CsProbe
         |  ) t USING (word)
         |),
         |cs AS (
         |  SELECT word, f, (array_agg(sgn * c ORDER BY sgn * c))[3] AS cs_est
         |  FROM probes JOIN cs_cells USING (j, cell) GROUP BY word, f
         |),
         |cms AS (
         |  SELECT word, min(c) AS cms_est
         |  FROM probes JOIN cms_cells USING (j, cell)
         |  WHERE j < 4 GROUP BY word
         |)
         |SELECT word, CAST(f AS BIGINT) AS f,
         |  CAST(cms_est AS BIGINT) AS cms_est, CAST(cs_est AS BIGINT) AS cs_est
         |FROM cs JOIN cms USING (word)
         |ORDER BY f DESC, word""".stripMargin
    },
  )
}
