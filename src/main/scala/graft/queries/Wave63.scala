package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Ckpt
import graft.operators.Ckpt._

/** Wave-63 additions — exact dynamic programming by tropical doubling,
  * causal inference, submodular data selection, and a sketch-accuracy
  * sweep:
  *
  *  - q_viterbi_hmm: the most-likely 2-state regime score over the daily
  *    purchase series (Viterbi max-product DP), computed as a TROPICAL
  *    (max-plus) matrix chain. Every weight is an 8-decimal literal and
  *    max-plus over exact decimals is fully ASSOCIATIVE, so the chain
  *    can be evaluated in any grouping: Spark folds adjacent segments by
  *    pairing (O(log days) synchronized rounds — the q_apsp_minplus
  *    doubling family; a sequential scan would serialize on one task),
  *    while the oracle runs the textbook day-by-day recursion in a
  *    recursive CTE — different algorithms, bit-identical scores. The
  *    demonstration that exact arithmetic buys algorithm-shape freedom.
  *  - q_iv_wald: the Wald instrumental-variable estimator — effect of
  *    engagement (≥1 click) on purchase spend, instrumented by user-id
  *    parity: β = (E[y|z=1]−E[y|z=0]) / (E[x|z=1]−E[x|z=0]). The
  *    causal tier beside q_diff_in_diff / q_cuped / q_psm_match; exact
  *    integer sums, two rounded divisions, one final ratio.
  *  - q_set_cover: greedy set cover of the corpus BIGRAM vocabulary by
  *    sources ("which 5 sources cover the most distinct bigrams" — the
  *    submodular data-selection primitive behind corpus mixing; unigram
  *    vocab degenerates, every source carries the whole word pool). Each
  *    of the 5 rounds is one anti-join + one aggregation + a 1-row
  *    broadcast argmax (ties → source asc) — synchronized per round,
  *    never a per-element loop.
  *  - q_cms_error_sweep: measured Count-Min overestimate vs the e·N/w
  *    bound across widths {64, 256, 1024} on the top-10 true-count
  *    words — the measured-vs-theory audit (q_bloom_fpp_measured's
  *    pattern) behind sketch sizing; rides Sketches.cmsEstimates
  *    unchanged, one sketch per width.
  *
  * Determinism: Viterbi weights and the CMS bound constant are literal
  * decimals (no engine evaluates ln/e); IV divisions are 8-decimal
  * rounded from exact integers; set-cover argmax ties break by source;
  * all outputs end in total ORDER BYs.
  */
object Wave63 extends Catalog {

  /** 2-state HMM log-weights, Scala-computed 8-decimal literals:
    * stay/switch 0.8/0.2; state 1 emits busy days with p=.7, state 0
    * with p=.2. */
  private def l8(p: Double): String = f"${math.log(p)}%.8f"
  private val TStay = l8(0.8)
  private val TSwitch = l8(0.2)
  private val E1Busy = l8(0.7)
  private val E1Quiet = l8(0.3)
  private val E0Busy = l8(0.2)
  private val E0Quiet = l8(0.8)

  /** Set-cover greedy rounds (a constant pick budget). */
  private val CoverK = 5

  private val CmsWidths = Seq(64L, 256L, 1024L)
  /** Top-k true-count words audited per width. */
  private val CmsTopK = 10

  /** SQL fragment: the day-matrix entry M[s, s'] given a `busy` column. */
  private def mSql(s: Int, sp: Int): String = {
    val t = if (s == sp) TStay else TSwitch
    val (eb, eq) = if (sp == 1) (E1Busy, E1Quiet) else (E0Busy, E0Quiet)
    s"(CAST($t AS DECIMAL(20,8)) + CASE WHEN busy" +
      s" THEN CAST($eb AS DECIMAL(20,8)) ELSE CAST($eq AS DECIMAL(20,8)) END)"
  }

  /** Daily busy/quiet observations with 1-based day rank. The rank
    * window rides the DAY-aggregated series (calendar-bounded — never a
    * whole-corpus window). */
  private def dayObs(s: SparkSession, dir: String): DataFrame = {
    val daily = table(s, dir, "events")
      .where(col("event_type") === "purchase")
      .selectExpr("unix_micros(ts) DIV 86400000000 AS day")
      .groupBy("day").agg(count(lit(1)).as("cnt"))
    val tot = daily.agg(sum(col("cnt")).as("tot"), count(lit(1)).as("nd"))
    // busy ⟺ cnt·n_days > total: the exact-integer compare vs the mean
    daily.crossJoin(broadcast(tot))
      .select(col("day"), (col("cnt") * col("nd") > col("tot")).as("busy"))
      .withColumn("pos",
        row_number().over(Window.orderBy("day")).cast("long"))
  }

  val queries: Map[String, Q] = strictMap(

    "q_viterbi_hmm" -> ((s, dir) => {
      // 4 tropical-matrix rows per day: (pos, len, s, sp, w)
      val obs = dayObs(s, dir)
      var seg = obs.select(col("pos"), lit(1L).as("len"), explode(expr(
          s"""array(
             |  struct(0L AS s, 0L AS sp, ${mSql(0, 0)} AS w),
             |  struct(0L AS s, 1L AS sp, ${mSql(0, 1)} AS w),
             |  struct(1L AS s, 0L AS sp, ${mSql(1, 0)} AS w),
             |  struct(1L AS s, 1L AS sp, ${mSql(1, 1)} AS w))"""
            .stripMargin)).as("m"))
        .select(col("pos"), col("len"), col("m.s").as("s"),
          col("m.sp").as("sp"), col("m.w").as("w"))
        .ckpt()
      var nSegs = Ckpt.fastCount(seg.select("pos").distinct())
      var round = 0
      while (nSegs > 1) {
        round += 1
        require(round <= 20, s"viterbi pairing exceeded 20 rounds")
        // pair ADJACENT segments by rank parity; max-plus combine over
        // the mid state. The rank window rides the segment-START frame
        // (≤ days rows, halving per round)
        val starts = seg.select("pos", "len").distinct()
          .withColumn("idx",
            row_number().over(Window.orderBy("pos")).cast("long"))
        val si = seg.join(starts, Seq("pos", "len"))
        val lefts = si.where(col("idx") % 2 === 1)
        val rights = si.where(col("idx") % 2 === 0)
          .select(col("idx").as("ridx"), col("s").as("m"),
            col("sp").as("rsp"), col("w").as("rw"), col("len").as("rlen"))
        val combined = lefts
          .join(rights, col("idx") + 1 === col("ridx") &&
            col("sp") === col("m"))
          .groupBy(col("pos"), (col("len") + col("rlen")).as("len"),
            col("s"), col("rsp").as("sp"))
          .agg(max(col("w") + col("rw")).as("w"))
        val unpaired = lefts
          .join(rights.select((col("ridx") - 1).as("idx")).distinct(),
            Seq("idx"), "left_anti")
          .select("pos", "len", "s", "sp", "w")
        seg = combined.select("pos", "len", "s", "sp", "w")
          .unionByName(unpaired).ckpt()
        nSegs = Ckpt.fastCount(seg.select("pos").distinct())
      }
      // start vector is 0 for both states, so the terminal score per end
      // state is max over the start state
      seg.groupBy(col("sp").as("state"))
        .agg(max(col("w")).as("w"), max(col("len")).as("n_days"))
        .selectExpr("CAST(state AS BIGINT) AS state",
          "round(CAST(w AS DOUBLE), 6) AS score",
          "CAST(n_days AS BIGINT) AS n_days")
        .orderBy("state")
    }),

    "q_iv_wald" -> ((s, dir) => {
      val perUser = table(s, dir, "events").groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("x"),
          sum(when(col("event_type") === "purchase",
            expr("CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT)"))
            .otherwise(0L)).as("y"))
        .withColumn("z", col("user_id") % 2)
      perUser.groupBy("z")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"))
        .groupBy()
        .agg(
          sum(when(col("z") === 1, col("n"))).as("n1"),
          sum(when(col("z") === 0, col("n"))).as("n0"),
          sum(when(col("z") === 1, col("sx"))).as("sx1"),
          sum(when(col("z") === 0, col("sx"))).as("sx0"),
          sum(when(col("z") === 1, col("sy"))).as("sy1"),
          sum(when(col("z") === 0, col("sy"))).as("sy0"))
        .selectExpr(
          "CAST(n1 AS BIGINT) AS n1", "CAST(n0 AS BIGINT) AS n0",
          "round(CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0, 8) AS itt_y",
          "round(CAST(sx1 AS DOUBLE) / n1 - CAST(sx0 AS DOUBLE) / n0, 8) AS itt_x",
          """CASE WHEN round(CAST(sx1 AS DOUBLE) / n1 - CAST(sx0 AS DOUBLE) / n0, 8) <> 0.0
            |THEN round(round(CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0, 8)
            |     / round(CAST(sx1 AS DOUBLE) / n1 - CAST(sx0 AS DOUBLE) / n0, 8), 6)
            |ELSE CAST(NULL AS DOUBLE) END AS wald_beta""".stripMargin)
    }),

    "q_set_cover" -> ((s, dir) => {
      val sv = table(s, dir, "documents")
        .select(col("source"), split(col("text"), " ").as("a"))
        .where(expr("size(a) >= 2"))
        .select(col("source"), explode(expr(
          "transform(sequence(1, size(a) - 1)," +
            " i -> concat(a[i-1], ' ', a[i]))")).as("word"))
        .distinct().ckpt()
      var covered = sv.select("word").where(lit(false)).ckpt()
      val out = Seq.newBuilder[DataFrame]
      for (r <- 1 to CoverK) {
        val gains = sv.join(covered, Seq("word"), "left_anti")
          .groupBy("source").agg(count(lit(1)).as("gain"))
        val pick = gains
          .orderBy(desc("gain"), asc("source")).limit(1).ckpt()
        covered = covered
          .unionByName(sv.join(broadcast(pick.select("source")), "source")
            .select("word"))
          .distinct().ckpt()
        val cum = Ckpt.fastCount(covered)
        out += pick.select(lit(r.toLong).as("round"), col("source"),
          col("gain"), lit(cum).as("covered"))
      }
      out.result().reduce(_ unionByName _)
        .selectExpr("round", "source", "CAST(gain AS BIGINT) AS gain",
          "CAST(covered AS BIGINT) AS covered")
        .orderBy("round")
    }),

    "q_cms_error_sweep" -> ((s, dir) => {
      val toks = corpusToks(s, dir).select("word").ckpt()
      val nTotal = toks.count()
      val perWidth = CmsWidths.map { w =>
        graft.operators.Sketches
          .cmsEstimates(toks, "word", LlmOps.CmsDepth, w.toInt)
          .orderBy(desc("n_true"), asc("word")).limit(CmsTopK)
          .agg(max(col("n_est") - col("n_true")).as("max_err"),
            sum(col("n_est") - col("n_true")).as("sum_err"),
            count(lit(1)).as("k"))
          .select(lit(w).as("width"), col("max_err"), col("sum_err"),
            col("k"), lit(nTotal).as("n_total"))
      }
      perWidth.reduce(_ unionByName _)
        .selectExpr("width", "CAST(max_err AS BIGINT) AS max_err",
          "round(CAST(sum_err AS DOUBLE) / k, 4) AS mean_err",
          // e·N/width — the Count-Min overestimate bound (ε = e/w), with
          // e as a literal so neither engine evaluates exp(1)
          "round(2.71828183 * CAST(n_total AS DOUBLE) / width, 4) AS bound_en_w")
        .orderBy("width")
    })
  )

  private val DayObsSql =
    """daily AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS cnt
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1
      |),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot, count(*) AS nd
      |        FROM daily),
      |obs AS (
      |  SELECT day, cnt * nd > tot AS busy,
      |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS pos
      |  FROM daily CROSS JOIN tot
      |)""".stripMargin

  val oracle: Map[String, String] = strictMap(

    // textbook sequential Viterbi recursion — a DIFFERENT algorithm from
    // Spark's segment pairing; exact decimal max-plus makes any
    // evaluation order bit-identical
    "q_viterbi_hmm" ->
      s"""WITH RECURSIVE $DayObsSql,
         |rec AS (
         |  SELECT CAST(0 AS BIGINT) AS pos,
         |    CAST(0 AS DECIMAL(20,8)) AS v0, CAST(0 AS DECIMAL(20,8)) AS v1
         |  UNION ALL
         |  SELECT o.pos,
         |    greatest(r.v0 + ${mSql(0, 0)}, r.v1 + ${mSql(1, 0)}),
         |    greatest(r.v0 + ${mSql(0, 1)}, r.v1 + ${mSql(1, 1)})
         |  FROM rec r JOIN obs o ON o.pos = r.pos + 1
         |),
         |fin AS (
         |  SELECT v0, v1, pos FROM rec
         |  WHERE pos = (SELECT max(pos) FROM obs)
         |)
         |SELECT CAST(0 AS BIGINT) AS state, round(CAST(v0 AS DOUBLE), 6) AS score,
         |  pos AS n_days FROM fin
         |UNION ALL
         |SELECT CAST(1 AS BIGINT), round(CAST(v1 AS DOUBLE), 6), pos FROM fin
         |ORDER BY state""".stripMargin,

    "q_iv_wald" ->
      """WITH pu AS (
        |  SELECT user_id, user_id % 2 AS z,
        |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2
        |),
        |g AS (
        |  SELECT z, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(y) AS BIGINT) AS sy
        |  FROM pu GROUP BY z
        |),
        |w AS (
        |  SELECT
        |    CAST(sum(CASE WHEN z = 1 THEN n END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN z = 0 THEN n END) AS BIGINT) AS n0,
        |    sum(CASE WHEN z = 1 THEN sx END) AS sx1,
        |    sum(CASE WHEN z = 0 THEN sx END) AS sx0,
        |    sum(CASE WHEN z = 1 THEN sy END) AS sy1,
        |    sum(CASE WHEN z = 0 THEN sy END) AS sy0
        |  FROM g
        |)
        |SELECT n1, n0,
        |  round(CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0, 8) AS itt_y,
        |  round(CAST(sx1 AS DOUBLE) / n1 - CAST(sx0 AS DOUBLE) / n0, 8) AS itt_x,
        |  CASE WHEN round(CAST(sx1 AS DOUBLE) / n1 - CAST(sx0 AS DOUBLE) / n0, 8) <> 0.0
        |  THEN round(round(CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0, 8)
        |       / round(CAST(sx1 AS DOUBLE) / n1 - CAST(sx0 AS DOUBLE) / n0, 8), 6)
        |  ELSE CAST(NULL AS DOUBLE) END AS wald_beta
        |FROM w""".stripMargin,

    "q_set_cover" -> {
      val rounds = (1 to CoverK).map { r =>
        val prevCov = if (r == 1) "" else
          s"AND NOT EXISTS (SELECT 1 FROM c${r - 1} c WHERE c.word = sv.word)"
        val newCov =
          if (r == 1)
            s"""c1 AS MATERIALIZED (
               |  SELECT DISTINCT sv.word FROM sv JOIN p1 USING (source))"""
              .stripMargin
          else
            s"""c$r AS MATERIALIZED (
               |  SELECT word FROM c${r - 1}
               |  UNION
               |  SELECT sv.word FROM sv JOIN p$r USING (source))"""
              .stripMargin
        s"""g$r AS (
           |  SELECT source, count(*) AS gain FROM sv
           |  WHERE 1=1 $prevCov
           |  GROUP BY source
           |),
           |p$r AS (SELECT source, gain FROM g$r
           |        ORDER BY gain DESC, source LIMIT 1),
           |$newCov""".stripMargin
      }.mkString(",\n")
      val out = (1 to CoverK).map { r =>
        s"""SELECT CAST($r AS BIGINT) AS round, source,
           |  CAST(gain AS BIGINT) AS gain,
           |  (SELECT CAST(count(*) AS BIGINT) FROM c$r) AS covered
           |FROM p$r""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH tk AS (SELECT source, string_split(text, ' ') AS a
         |           FROM documents),
         |sv AS MATERIALIZED (
         |  SELECT DISTINCT source, a[i] || ' ' || a[i + 1] AS word
         |  FROM tk, unnest(generate_series(1, len(a) - 1)) AS t(i)
         |  WHERE len(a) >= 2
         |),
         |$rounds
         |$out
         |ORDER BY round""".stripMargin
    },

    "q_cms_error_sweep" -> {
      val blocks = CmsWidths.map { w =>
        s"""SELECT CAST($w AS BIGINT) AS width,
           |  CAST(max(n_est - n_true) AS BIGINT) AS max_err,
           |  round(CAST(sum(n_est - n_true) AS DOUBLE) / count(*), 4) AS mean_err,
           |  round(2.71828183 * (SELECT CAST(count(*) AS DOUBLE) FROM toks) / $w, 4) AS bound_en_w
           |FROM (
           |  SELECT word, max(n) AS n_true, min(cn) AS n_est FROM (
           |    SELECT r.word, r.n, cells.cn
           |    FROM r$w r JOIN cells$w cells USING (j, cell)
           |  ) GROUP BY word
           |  ORDER BY n_true DESC, word LIMIT $CmsTopK
           |)""".stripMargin
      }.mkString("\nUNION ALL\n")
      val sketches = CmsWidths.map { w =>
        s"""r$w AS MATERIALIZED (
           |  SELECT word, n, j,
           |    ${hex2longSql("md5(CAST(j AS VARCHAR) || ':' || word)", 1)} % $w AS cell
           |  FROM wc CROSS JOIN (SELECT unnest(generate_series(0, ${LlmOps.CmsDepth - 1})) AS j)
           |),
           |cells$w AS (
           |  SELECT j, cell, CAST(sum(n) AS BIGINT) AS cn FROM r$w GROUP BY j, cell
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${Reference.ToksSql},
         |wc AS MATERIALIZED (SELECT word, count(*) AS n FROM toks GROUP BY word),
         |$sketches
         |$blocks
         |ORDER BY width""".stripMargin
    }
  )
}
