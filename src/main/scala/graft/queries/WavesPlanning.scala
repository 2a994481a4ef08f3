package graft.queries

import graft.operators.Tokenize
import graft.operators.Ckpt._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pipeline-calibration / scale-planning waves (17-38 era): the queries
  * that MEASURE the engine's own estimators and knobs (recall audits,
  * sketch sizing, sensitivity sweeps, blocking economics).
  *
  * Consolidated from the round-era Wave files (r11 verdict task 7):
  * pure moves — each object below is byte-identical to its former
  * single-object file minus the per-file package/import header,
  * which is merged (conflict-free union) above. */

/** Wave-17 additions: the calibration queries that close the loop on
  * the ANN / dedup / tokenizer families — instead of adding another
  * estimator, these MEASURE the estimators the catalog already ships:
  *
  *  - q_ann_recall: recall@5 of the IVF probe (q_ann_ivf's chain)
  *    against the exact brute-force top-5 (q_ann_topk's chain) — the
  *    number that turns q_ann_ivf's "documented estimate contract"
  *    into a measured one,
  *  - q_bpe_fertility: per-language tokens-per-word and chars-per-
  *    token under the corpus-trained BPE (q_bpe_merges' chain) — the
  *    multilingual tokenizer-fairness audit (high fertility = that
  *    language pays more context budget per character),
  *  - q_dedup_threshold_sweep: pairs-over-threshold and docs-removed
  *    for τ = 0.1..0.9 from ONE pass of the trigram-Jaccard channel —
  *    the operating-curve a pipeline reads before freezing τ; the
  *    comparison is EXACT (10·co ≥ t·(union) in integers — the float
  *    jac never decides membership).
  *
  * Determinism: every decision rides exact integers (quantized dots,
  * trigram counts, cross-multiplied thresholds); displayed ratios are
  * terminal round-4/6 chains identical in both engines.
  */
object Wave17 extends Catalog {

  /** Recall depth (matches q_ann_ivf's emitted k). */
  private val RecallK = 5

  val queries: Map[String, Q] = strictMap(

    // ANN RECALL@5: exact top-5 (brute force over all candidates) vs
    // the IVF probe's top-5 (nearest centroid's cluster only), per
    // query vector, |∩|/5 — macro-averaged. Both chains reuse the
    // exact-integer quantized cosine, so the ONLY divergence measured
    // is the probe's, not float noise. The quantized table is ckpt'd
    // once and feeds all four consumers (centroids, probe distances,
    // query side, candidate side); the probe join stays
    // Σ|cluster|-bounded, the exact join is queries×corpus (the
    // documented cost of having a ground truth — queries are the 5%
    // sample, so it is corpus-linear, not corpus²).
    "q_ann_recall" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val all = LlmOps.quantized(s, dir).where(col("nq") > 0).ckpt()
      // constant k = AnnQueryK ground-truth query set (round-7 family
      // rule: a constant-FRACTION query set makes the exact side Θ(n²))
      val qids = LlmOps.annQueryIds(all)
      val qs = all.join(qids, "vec_id")
        .select(col("vec_id").as("q_id"), col("q").as("qq"),
          col("nq").as("na"))
      val dot = "ivec_dot(qq, q)"
      // exact top-5: brute force
      val exact = qs.join(all, col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id").as("cand_id"),
          expr(dot).as("dot"), col("na"), col("nq").as("nb"))
        .withColumn("cos", expr(LlmOps.CosExpr))
        .withColumn("rank", row_number().over(Window.partitionBy("q_id")
          .orderBy(desc("cos"), asc("cand_id"))))
        .where(col("rank") <= RecallK)
        .select("q_id", "cand_id")
        .ckpt()
      // IVF top-5: q_ann_ivf's probe (nearest centroid by exact
      // integer n²-scaled distance, then cosine within that cluster)
      val cent = all
        .select(col("label"), posexplode(col("q")).as(Seq("pos", "qv")))
        .groupBy("label", "pos")
        .agg(sum("qv").as("s"), count(lit(1)).as("n"))
      val qd = all.join(qids, "vec_id")
        .select(col("vec_id").as("q_id"),
          posexplode(col("q")).as(Seq("pos", "qv")))
      val best = qd.join(cent, "pos")
        .groupBy("q_id", "label")
        .agg(sum(expr("(qv * n - s) * (qv * n - s)")).as("dist_num"),
          max("n").as("n"))
        .withColumn("rn", row_number().over(Window.partitionBy("q_id")
          .orderBy(expr("CAST(dist_num AS DOUBLE) / (n * n)").asc,
            col("label").asc)))
        .where(col("rn") === 1).select("q_id", "label")
      val ivf = best.join(qs, "q_id")
        .join(all.select(col("vec_id").as("cand_id"), col("label"),
          col("q"), col("nq").as("nb")), "label")
        .where(col("cand_id") =!= col("q_id"))
        .select(col("q_id"), col("cand_id"), expr(dot).as("dot"),
          col("na"), col("nb"))
        .withColumn("cos", expr(LlmOps.CosExpr))
        .withColumn("rank", row_number().over(Window.partitionBy("q_id")
          .orderBy(desc("cos"), asc("cand_id"))))
        .where(col("rank") <= RecallK)
        .select("q_id", "cand_id")
      val per = exact.groupBy("q_id").agg(count(lit(1)).as("k_exact"))
        .join(exact.join(ivf, Seq("q_id", "cand_id"))
          .groupBy("q_id").agg(count(lit(1)).as("n_hit")), Seq("q_id"),
          "left_outer")
        .na.fill(0L, Seq("n_hit"))
        .withColumn("recall",
          expr("round(CAST(n_hit AS DOUBLE) / k_exact, 4)"))
        .ckpt()
      val mean = per.agg(count(lit(1)).as("m"),
          dsum(col("recall"), 4).as("sr"))
        .selectExpr("round(sr / m, 4) AS mean_recall")
      per.crossJoin(broadcast(mean))
        .selectExpr("q_id", "CAST(k_exact AS BIGINT) AS k_exact",
          "CAST(n_hit AS BIGINT) AS n_hit", "recall", "mean_recall")
        .orderBy("q_id")
    }),

    // BPE FERTILITY per language: the corpus-trained 3-merge tokenizer
    // (q_bpe_merges' exact chain, reused — the merges cannot drift)
    // applied to per-(lang, word) counts → tokens-per-word and
    // chars-per-token per lang. High tokens-per-word = that language
    // pays more of the context window per word — THE multilingual
    // tokenizer-fairness number. The vocabulary table (words × n_sym)
    // is broadcast-joined to the per-lang counts; one tokenize
    // shuffle + one vocab-scale join.
    "q_bpe_fertility" -> ((s, dir) => {
      val (wc3, _) = LlmOps.bpeChain(s, dir)
      val nsym = wc3.select(col("word"),
        expr("CAST(size(split(trim(seq), ' ')) AS BIGINT)").as("n_sym"))
      val lw = corpusToks(s, dir)
        .join(table(s, dir, "documents").select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "word").agg(count(lit(1)).as("cnt"))
      lw.join(nsym, "word")
        .groupBy("lang")
        .agg(sum("cnt").cast("long").as("n_words"),
          sum(expr("cnt * n_sym")).cast("long").as("n_tokens"),
          sum(expr("cnt * length(word)")).cast("long").as("n_chars"))
        .selectExpr("lang", "n_words", "n_tokens", "n_chars",
          "round(CAST(n_tokens AS DOUBLE) / n_words, 6) AS tokens_per_word",
          "round(CAST(n_chars AS DOUBLE) / n_tokens, 6) AS chars_per_token")
        .orderBy("lang")
    }),

    // DEDUP THRESHOLD SWEEP: the τ operating curve of the trigram-
    // Jaccard channel (q_dedup_ngram's df-capped blocked pair join,
    // run ONCE) — for τ = 0.1..0.9: pairs at-or-over τ and docs a
    // keep-first policy would remove. Membership is decided by the
    // EXACT integer cross-multiply 10·co ≥ t·(sa+sb−co) — the float
    // jac never gates anything. The pair table is ckpt'd and the
    // 9-threshold sweep is a 9× metadata expansion of it, not 9
    // passes over the corpus.
    "q_dedup_threshold_sweep" -> ((s, dir) => {
      val ws = table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          Tokenize.tokenArray(col("text")).as("ws"))
        .where(size(col("ws")) >= 3)
      val tri = ws.select(col("doc_id"), col("source"),
          explode(expr(
            "transform(sequence(1, size(ws)-2), i -> concat_ws(' '," +
              " element_at(ws,i), element_at(ws,i+1), element_at(ws,i+2)))"))
            .as("sh"))
        .distinct().ckpt()
      val rare = tri.groupBy("source", "sh")
        .agg(count(lit(1)).as("dfreq"))
        .where(col("dfreq") <= LlmOps.NgramDfCap)
        .select("source", "sh")
      val trif = tri.join(rare, Seq("source", "sh")).ckpt()
      val sz = trif.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val pairs = trif.alias("x")
        .join(trif.alias("y"),
          col("x.source") === col("y.source") &&
            col("x.sh") === col("y.sh") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
        .groupBy("d1", "d2").agg(count(lit(1)).as("co"))
        .join(sz.select(col("doc_id").as("d1"), col("sz").as("sa")), "d1")
        .join(sz.select(col("doc_id").as("d2"), col("sz").as("sb")), "d2")
        .ckpt()
      val total = broadcast(pairs.agg(count(lit(1)).as("n_pairs_total")))
      pairs
        .crossJoin(s.range(1, 10).select(col("id").as("t")))
        .where(expr("10 * co >= t * (sa + sb - co)"))
        .groupBy("t")
        .agg(count(lit(1)).as("n_pairs_over"),
          count_distinct(col("d2")).as("n_docs_removed"))
        .crossJoin(total)
        .selectExpr("t", "n_pairs_over", "n_docs_removed", "n_pairs_total")
        .orderBy("t")
    }),
  )

  /** The unrolled 3-merge BPE oracle chain ending in `wc3(word, cnt,
    * seq)` — the q_bpe_merges/q_bpe_apply spelling, shared here. */
  private def bpeWc3Sql: String = {
    def round(r: Int, src: String) =
      s"""p$r AS (
         |  SELECT syms[i] AS l, syms[i + 1] AS r, CAST(sum(cnt) AS BIGINT) AS w
         |  FROM (SELECT cnt, string_split(trim(seq), ' ') AS syms FROM $src),
         |       unnest(generate_series(1, len(syms) - 1)) AS t(i)
         |  WHERE len(syms) >= 2 GROUP BY 1, 2
         |),
         |t$r AS (SELECT l, r, w FROM p$r ORDER BY w DESC, l, r LIMIT 1),
         |wc$r AS (
         |  SELECT word, cnt,
         |    replace(seq, ' ' || l || ' ' || r || ' ', ' ' || l || r || ' ') AS seq
         |  FROM $src CROSS JOIN t$r
         |)""".stripMargin
    s"""wc0 AS (
       |  SELECT word, count(*) AS cnt,
       |    ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS seq
       |  FROM toks GROUP BY word
       |),
       |${round(1, "wc0")},
       |${round(2, "wc1")},
       |${round(3, "wc2")}""".stripMargin
  }

  val oracle: Map[String, String] = strictMap(

    "q_ann_recall" ->
      s"""WITH ${LlmOps.QuantizedNormSql},
         |${LlmOps.AnnQidsSql},
         |qs AS (SELECT e.vec_id AS q_id, e.embedding AS eq, qn.nq AS na
         |       FROM embeddings e JOIN qn ON e.vec_id = qn.vec_id
         |       WHERE qn.nq > 0
         |         AND e.vec_id IN (SELECT vec_id FROM qids)),
         |cand AS (SELECT e.vec_id AS cand_id, e.embedding AS ec, qn.nq AS nb
         |         FROM embeddings e JOIN qn ON e.vec_id = qn.vec_id
         |         WHERE qn.nq > 0),
         |pxx AS (SELECT q_id, cand_id, na, nb, eq, ec
         |       FROM qs JOIN cand ON q_id <> cand_id),
         |dxx AS (
         |  SELECT q_id, cand_id, na, nb,
         |    CAST(sum(${LlmOps.quantSqlElem("eq[i]")}
         |      * ${LlmOps.quantSqlElem("ec[i]")}) AS BIGINT) AS dot
         |  FROM (SELECT pxx.*, unnest(generate_series(1, len(eq))) AS i
         |        FROM pxx)
         |  GROUP BY q_id, cand_id, na, nb
         |),
         |rxx AS (
         |  SELECT q_id, cand_id FROM (
         |    SELECT q_id, cand_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY ${LlmOps.CosExpr} DESC, cand_id) AS rank
         |    FROM dxx) WHERE rank <= $RecallK
         |),
         |pe AS (
         |  SELECT vec_id, label, i AS pos,
         |    ${LlmOps.quantSqlElem("embedding[i]")} AS qv
         |  FROM (SELECT e.vec_id, e.label, e.embedding,
         |               unnest(generate_series(1, len(e.embedding))) AS i
         |        FROM embeddings e JOIN qn ON e.vec_id = qn.vec_id
         |        WHERE qn.nq > 0)
         |),
         |cent AS (
         |  SELECT label, pos, CAST(sum(qv) AS BIGINT) AS s, count(*) AS n
         |  FROM pe GROUP BY label, pos
         |),
         |dist AS (
         |  SELECT pe.vec_id AS q_id, c.label,
         |    CAST(sum((pe.qv * c.n - c.s) * (pe.qv * c.n - c.s)) AS BIGINT)
         |      AS dist_num,
         |    max(c.n) AS n
         |  FROM pe JOIN cent c ON pe.pos = c.pos
         |  WHERE pe.vec_id IN (SELECT vec_id FROM qids)
         |  GROUP BY q_id, c.label
         |),
         |best AS (
         |  SELECT q_id, label FROM (
         |    SELECT q_id, label, row_number() OVER (PARTITION BY q_id
         |      ORDER BY CAST(dist_num AS DOUBLE) / (n * n), label) AS rn
         |    FROM dist) WHERE rn = 1
         |),
         |sel AS (SELECT e.vec_id, qn.label, qn.nq, e.embedding
         |        FROM embeddings e JOIN qn ON e.vec_id = qn.vec_id
         |        WHERE qn.nq > 0),
         |pyy AS (
         |  SELECT b.q_id, s.vec_id AS cand_id, eq.embedding AS eqv,
         |         s.embedding AS ecv, eqn.nq AS na, s.nq AS nb
         |  FROM best b
         |  JOIN embeddings eq ON eq.vec_id = b.q_id
         |  JOIN qn eqn ON eqn.vec_id = b.q_id
         |  JOIN sel s ON s.label = b.label AND s.vec_id <> b.q_id
         |),
         |dyy AS (
         |  SELECT q_id, cand_id, na, nb,
         |    CAST(sum(${LlmOps.quantSqlElem("eqv[i]")}
         |      * ${LlmOps.quantSqlElem("ecv[i]")}) AS BIGINT) AS dot
         |  FROM (SELECT pyy.*, unnest(generate_series(1, len(eqv))) AS i
         |        FROM pyy)
         |  GROUP BY q_id, cand_id, na, nb
         |),
         |ryy AS (
         |  SELECT q_id, cand_id FROM (
         |    SELECT q_id, cand_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY ${LlmOps.CosExpr} DESC, cand_id) AS rank
         |    FROM dyy) WHERE rank <= $RecallK
         |),
         |per AS (
         |  SELECT rxx.q_id, count(*) AS k_exact,
         |    CAST(coalesce(sum(CASE WHEN ryy.cand_id IS NOT NULL
         |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hit
         |  FROM rxx LEFT JOIN ryy
         |    ON ryy.q_id = rxx.q_id AND ryy.cand_id = rxx.cand_id
         |  GROUP BY rxx.q_id
         |),
         |pr AS (
         |  SELECT q_id, CAST(k_exact AS BIGINT) AS k_exact, n_hit,
         |    round(CAST(n_hit AS DOUBLE) / k_exact, 4) AS recall
         |  FROM per
         |),
         |mr AS (
         |  SELECT round(${dsumSql("recall", 4)} / count(*), 4)
         |    AS mean_recall
         |  FROM pr
         |)
         |SELECT q_id, k_exact, n_hit, recall, mean_recall
         |FROM pr CROSS JOIN mr ORDER BY q_id""".stripMargin,

    "q_bpe_fertility" ->
      s"""WITH ${Reference.ToksSql},
         |$bpeWc3Sql,
         |nsym AS (
         |  SELECT word, CAST(len(string_split(trim(seq), ' ')) AS BIGINT)
         |    AS n_sym
         |  FROM wc3
         |),
         |lw AS (
         |  SELECT d.lang, toks.word, count(*) AS cnt
         |  FROM toks JOIN documents d ON d.doc_id = toks.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_words,
         |  CAST(sum(cnt * n_sym) AS BIGINT) AS n_tokens,
         |  CAST(sum(cnt * length(word)) AS BIGINT) AS n_chars,
         |  round(CAST(sum(cnt * n_sym) AS DOUBLE) / sum(cnt), 6)
         |    AS tokens_per_word,
         |  round(CAST(sum(cnt * length(word)) AS DOUBLE)
         |    / sum(cnt * n_sym), 6) AS chars_per_token
         |FROM lw JOIN nsym USING (word)
         |GROUP BY lang ORDER BY lang""".stripMargin,

    "q_dedup_threshold_sweep" ->
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |    regexp_split_to_array(trim(regexp_replace(text, '$DelimSql', ' ', 'g')), ' ') AS ws
         |  FROM documents
         |),
         |tt AS (SELECT * FROM t WHERE len(ws) >= 3),
         |tri AS (
         |  SELECT DISTINCT doc_id, source,
         |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         |  FROM (SELECT doc_id, source, ws,
         |               unnest(generate_series(1, len(ws)-2)) AS i FROM tt)
         |),
         |tdf AS (SELECT source, sh, count(*) AS dfreq FROM tri
         |        GROUP BY source, sh),
         |trif AS (
         |  SELECT tri.doc_id, tri.source, tri.sh
         |  FROM tri JOIN tdf USING (source, sh)
         |  WHERE tdf.dfreq <= ${LlmOps.NgramDfCap}
         |),
         |sz AS (SELECT doc_id, count(*) AS sz FROM trif GROUP BY doc_id),
         |co AS (
         |  SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS co
         |  FROM trif x JOIN trif y
         |    ON x.source = y.source AND x.sh = y.sh AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2
         |),
         |pairs AS (
         |  SELECT d1, d2, co, sa.sz AS sa, sb.sz AS sb
         |  FROM co JOIN sz sa ON co.d1 = sa.doc_id
         |          JOIN sz sb ON co.d2 = sb.doc_id
         |),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs_total
         |        FROM pairs),
         |thr AS (SELECT CAST(unnest(generate_series(1, 9)) AS BIGINT) AS t)
         |SELECT thr.t, CAST(count(*) AS BIGINT) AS n_pairs_over,
         |  CAST(count(DISTINCT d2) AS BIGINT) AS n_docs_removed,
         |  tot.n_pairs_total
         |FROM pairs CROSS JOIN thr CROSS JOIN tot
         |WHERE 10 * co >= thr.t * (sa + sb - co)
         |GROUP BY thr.t, tot.n_pairs_total
         |ORDER BY thr.t""".stripMargin,
  )
}

/** Wave-18 additions: corpus-law fits and the LSH recall audit —
  * the statistical profile a pipeline reads before committing a
  * tokenizer/dedup configuration to a 100 TB run:
  *
  *  - q_zipf_fit: least-squares fit of Zipf's law (ln cnt ~ ln rank)
  *    over the top-[[Wave18.ZipfTopN]] words — the one-number check
  *    that a corpus is natural-language-shaped (slope ≈ −1) rather
  *    than templated boilerplate (flat head) or noise (no fit),
  *  - q_heaps_law: Heaps'-law vocabulary growth V(n) = K·n^β from
  *    cumulative (tokens, vocab) at doc-id deciles — β tells you how
  *    vocabulary (and so tokenizer OOV pressure) scales with corpus
  *    growth BEFORE you scale the corpus,
  *  - q_minhash_recall: measured recall of the probabilistic
  *    MinHash-LSH candidate channel against the LOSSLESS prefix-filter
  *    pair set at Jaccard ≥ 0.8 (q_prefix_join's chain) — the number
  *    that turns the LSH band/row choice from folklore into a
  *    measured contract, bucketed by exact-Jaccard decile so the
  *    near-threshold dropoff is visible.
  *
  * Determinism: ranks and deciles are integer-derived with total
  * tie-breaks; every ln rides the round-8 idiom; least-squares sums
  * go through exact DECIMAL ([[queries.dsum]]); LSH/truth membership
  * is decided by exact integer cross-multiplies. */
object Wave18 extends Catalog {

  /** Head size for the Zipf fit: large enough that the slope is not
    * dominated by the 2-3 stopword outliers, small enough that the
    * rank table is metadata (TakeOrderedAndProject, never a global
    * sort). */
  private val ZipfTopN = 100

  /** Shared least-squares moment aggregate over (x, y) points: exact
    * decimal sums of the round-8 products, so the fit is independent
    * of partitioning and matches the oracle's identical spelling. */
  private def lsqMoments(pts: DataFrame): DataFrame =
    pts.agg(count(lit(1)).as("n"),
      dsum(col("x"), 8).as("sx"), dsum(col("y"), 8).as("sy"),
      dsum(expr("round(x*y, 8)"), 8).as("sxy"),
      dsum(expr("round(x*x, 8)"), 8).as("sxx"),
      dsum(expr("round(y*y, 8)"), 8).as("syy"))

  /** DuckDB twin of [[lsqMoments]]'s aggregate list. */
  private def lsqMomentsSql: String =
    s"""count(*) AS n, ${dsumSql("x", 8)} AS sx, ${dsumSql("y", 8)} AS sy,
       |  ${dsumSql("round(x*y, 8)", 8)} AS sxy,
       |  ${dsumSql("round(x*x, 8)", 8)} AS sxx,
       |  ${dsumSql("round(y*y, 8)", 8)} AS syy""".stripMargin

  /** Slope / intercept / r² spelled ONCE and fed verbatim to both
    * engines — the terminal float chain is identical IEEE ops in
    * identical order, so it cannot ulp-diverge. */
  private val SlopeExpr = "(n*sxy - sx*sy) / (n*sxx - sx*sx)"
  private val InterceptExpr = s"(sy - ($SlopeExpr) * sx) / n"
  private val R2Expr =
    "((n*sxy - sx*sy) * (n*sxy - sx*sy)) / ((n*sxx - sx*sx) * (n*syy - sy*sy))"

  val queries: Map[String, Q] = strictMap(

    // ZIPF FIT: word counts (one partial-agg'd shuffle) → top-100 by
    // (cnt desc, word asc) via TakeOrderedAndProject (never a global
    // sort) → row_number over the 100-row head (metadata-scale
    // window) → ln-ln least squares. Natural text fits slope ≈ −1
    // with high r²; a templated corpus shows up immediately as a
    // flat head or a broken fit.
    "q_zipf_fit" -> ((s, dir) => {
      val wc = corpusWordCount(s, dir)
      val top = wc.orderBy(desc("cnt"), asc("word")).limit(ZipfTopN)
      val pts = top
        .withColumn("rk",
          row_number().over(Window.orderBy(desc("cnt"), asc("word"))))
        .selectExpr("round(ln(rk), 8) AS x", "round(ln(cnt), 8) AS y")
      lsqMoments(pts)
        .selectExpr("CAST(n AS BIGINT) AS n_top",
          s"round($SlopeExpr, 6) AS slope",
          s"round($InterceptExpr, 6) AS intercept",
          s"round($R2Expr, 6) AS r2")
    }),

    // HEAPS' LAW: cumulative (tokens, vocab) at 10 doc-id deciles —
    // a word's first-occurrence doc is one min-agg, a doc's token
    // count one count-agg; each partial lands in its integer decile
    // cell ((id*10) DIV (max+1)) and the 10-row cumulative sum +
    // ln-ln fit are metadata. β (the growth exponent) and ln K ride
    // every row; V(n) = K·n^β means doubling the corpus multiplies
    // vocabulary by 2^β — the tokenizer-budget planning number.
    "q_heaps_law" -> ((s, dir) => {
      val t = corpusToks(s, dir)
      val nmax = broadcast(table(s, dir, "documents")
        .agg((max("doc_id") + lit(1L)).as("nn")))
      val tokCell = t.crossJoin(nmax)
        .selectExpr("(doc_id * 10) DIV nn AS cell")
        .groupBy("cell").agg(count(lit(1)).as("tok"))
      val vocCell = t.groupBy("word").agg(min("doc_id").as("fd"))
        .crossJoin(nmax)
        .selectExpr("(fd * 10) DIV nn AS cell")
        .groupBy("cell").agg(count(lit(1)).as("voc"))
      val w = Window.orderBy("cell")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = s.range(0, 10).select(col("id").as("cell"))
        .join(tokCell, Seq("cell"), "left_outer")
        .join(vocCell, Seq("cell"), "left_outer")
        .na.fill(0L, Seq("tok", "voc"))
        .withColumn("cum_tokens", sum("tok").over(w))
        .withColumn("cum_vocab", sum("voc").over(w))
        .selectExpr("CAST(cell AS BIGINT) AS decile",
          "CAST(cum_tokens AS BIGINT) AS cum_tokens",
          "CAST(cum_vocab AS BIGINT) AS cum_vocab")
        .ckpt() // feeds the fit AND the output rows
      val pts = cum
        .where(col("cum_tokens") > 0 && col("cum_vocab") > 0)
        .selectExpr("round(ln(cum_tokens), 8) AS x",
          "round(ln(cum_vocab), 8) AS y")
      val fit = lsqMoments(pts)
        .selectExpr(s"round($SlopeExpr, 6) AS beta",
          s"round($InterceptExpr, 6) AS ln_k")
      cum.crossJoin(broadcast(fit)).orderBy("decile")
    }),

    // MINHASH-LSH RECALL: the probabilistic band channel
    // (q_dedup_minhash's capped band-bucket join) graded against the
    // GUARANTEED-complete prefix-filter pair set at J ≥ 0.8
    // (q_prefix_join's chain, factored as LlmOps.prefixTruePairs) —
    // per exact-Jaccard decile ((10·inter) DIV union, pure integers)
    // plus overall recall and precision-at-τ constants on every row.
    // Both channels are corpus-linear (prefix pigeonhole bound /
    // capped buckets); the grading join is |truth| ⋈ |candidates| —
    // pair-table scale, never corpus².
    "q_minhash_recall" -> ((s, dir) => {
      val truth = LlmOps.prefixTruePairs(s, dir)
        .withColumn("b", expr("(10*inter) DIV (sz1 + sz2 - inter)"))
        .ckpt() // feeds the hit join + per-bucket counts
      val cand = LlmOps.minhashCandPairs(s, dir)
        .withColumn("hit", lit(1L))
        .ckpt() // feeds the hit join + the total count
      val per = truth.join(cand, Seq("d1", "d2"), "left_outer")
        .groupBy("b")
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("hit"), lit(0L))).as("n_caught"))
        .ckpt() // feeds totals + output
      val tot = per.agg(sum("n_true").as("n_true_total"),
        sum("n_caught").as("n_caught_total"))
      val nc = cand.agg(count(lit(1)).as("n_cand_total"))
      per.crossJoin(broadcast(tot)).crossJoin(broadcast(nc))
        .selectExpr("CAST(b AS BIGINT) AS jac_decile",
          "CAST(n_true AS BIGINT) AS n_true",
          "CAST(n_caught AS BIGINT) AS n_caught",
          "round(CAST(n_caught AS DOUBLE) / n_true, 4) AS recall",
          "CAST(n_true_total AS BIGINT) AS n_true_total",
          "CAST(n_caught_total AS BIGINT) AS n_caught_total",
          "CAST(n_cand_total AS BIGINT) AS n_cand_total",
          "round(CAST(n_caught_total AS DOUBLE) / n_true_total, 4)" +
            " AS overall_recall",
          "round(CAST(n_caught_total AS DOUBLE) / n_cand_total, 4)" +
            " AS precision_at_t")
        .orderBy("jac_decile")
    }),
  )

  /** The prefix-filter truth CTE chain over the DISTINCT shingle sets
    * of [[LlmOps.MinhashSigSql]]'s `sh` — ends in
    * `truth(d1, d2, inter, sz1, sz2, b)`. */
  private def prefixTruthSql: String = {
    import LlmOps.{PrefixTNum => TN, PrefixTDen => TD}
    s"""sets AS (SELECT DISTINCT doc_id, sh FROM sh),
       |dfq AS (SELECT sh, count(*) AS df FROM sets GROUP BY sh),
       |szt AS (SELECT doc_id, count(*) AS sz FROM sets GROUP BY doc_id),
       |pref AS (
       |  SELECT doc_id, sh FROM (
       |    SELECT s.doc_id, s.sh, z.sz,
       |      row_number() OVER (PARTITION BY s.doc_id
       |        ORDER BY d.df, s.sh) AS rn
       |    FROM sets s JOIN dfq d USING (sh) JOIN szt z USING (doc_id)
       |  ) WHERE rn <= sz - ($TN*sz + $TN) // $TD + 1
       |),
       |pcand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM pref a JOIN pref b USING (sh) WHERE a.doc_id < b.doc_id
       |),
       |pint AS (
       |  SELECT c.d1, c.d2, count(*) AS inter
       |  FROM pcand c
       |  JOIN sets x ON x.doc_id = c.d1
       |  JOIN sets y ON y.doc_id = c.d2 AND y.sh = x.sh
       |  GROUP BY c.d1, c.d2
       |),
       |truth AS (
       |  SELECT i.d1, i.d2, i.inter, z1.sz AS sz1, z2.sz AS sz2,
       |    (10*i.inter) // (z1.sz + z2.sz - i.inter) AS b
       |  FROM pint i
       |  JOIN szt z1 ON z1.doc_id = i.d1
       |  JOIN szt z2 ON z2.doc_id = i.d2
       |  WHERE ${TD + TN}*i.inter >= $TN*(z1.sz + z2.sz)
       |)""".stripMargin
  }

  val oracle: Map[String, String] = strictMap(

    "q_zipf_fit" ->
      s"""WITH ${Reference.ToksSql},
         |wc AS (SELECT word, count(*) AS cnt FROM toks GROUP BY word),
         |top AS (SELECT word, cnt FROM wc
         |        ORDER BY cnt DESC, word LIMIT $ZipfTopN),
         |r AS (SELECT cnt,
         |        row_number() OVER (ORDER BY cnt DESC, word) AS rk
         |      FROM top),
         |p AS (SELECT round(ln(rk), 8) AS x, round(ln(cnt), 8) AS y
         |      FROM r),
         |f AS (SELECT $lsqMomentsSql FROM p)
         |SELECT CAST(n AS BIGINT) AS n_top,
         |  round($SlopeExpr, 6) AS slope,
         |  round($InterceptExpr, 6) AS intercept,
         |  round($R2Expr, 6) AS r2
         |FROM f""".stripMargin,

    "q_heaps_law" ->
      s"""WITH ${Reference.ToksSql},
         |nmax AS (SELECT max(doc_id) + 1 AS nn FROM documents),
         |tc AS (SELECT (doc_id * 10) // nn AS cell, count(*) AS tok
         |       FROM toks CROSS JOIN nmax GROUP BY 1),
         |fw AS (SELECT word, min(doc_id) AS fd FROM toks GROUP BY word),
         |vc AS (SELECT (fd * 10) // nn AS cell, count(*) AS voc
         |       FROM fw CROSS JOIN nmax GROUP BY 1),
         |grid AS (SELECT CAST(unnest(generate_series(0, 9)) AS BIGINT)
         |           AS cell),
         |cum AS (
         |  SELECT cell,
         |    CAST(sum(coalesce(tok, 0)) OVER (ORDER BY cell
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum_tokens,
         |    CAST(sum(coalesce(voc, 0)) OVER (ORDER BY cell
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum_vocab
         |  FROM grid LEFT JOIN tc USING (cell) LEFT JOIN vc USING (cell)
         |),
         |p AS (SELECT round(ln(cum_tokens), 8) AS x,
         |        round(ln(cum_vocab), 8) AS y
         |      FROM cum WHERE cum_tokens > 0 AND cum_vocab > 0),
         |f AS (SELECT $lsqMomentsSql FROM p)
         |SELECT cell AS decile, cum_tokens, cum_vocab,
         |  round($SlopeExpr, 6) AS beta,
         |  round($InterceptExpr, 6) AS ln_k
         |FROM cum CROSS JOIN f ORDER BY decile""".stripMargin,

    "q_minhash_recall" ->
      s"""WITH ${LlmOps.MinhashSigSql},
         |${LlmOps.BandsSql},
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |  FROM cbands x JOIN cbands y
         |    ON x.band = y.band AND x.v = y.v AND x.doc_id < y.doc_id
         |),
         |$prefixTruthSql,
         |per AS (
         |  SELECT t.b, count(*) AS n_true,
         |    CAST(sum(CASE WHEN c.d1 IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_caught
         |  FROM truth t LEFT JOIN cand c ON c.d1 = t.d1 AND c.d2 = t.d2
         |  GROUP BY t.b
         |),
         |tot AS (SELECT CAST(sum(n_true) AS BIGINT) AS n_true_total,
         |          CAST(sum(n_caught) AS BIGINT) AS n_caught_total
         |        FROM per),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cand_total FROM cand)
         |SELECT CAST(b AS BIGINT) AS jac_decile,
         |  CAST(n_true AS BIGINT) AS n_true, n_caught,
         |  round(CAST(n_caught AS DOUBLE) / n_true, 4) AS recall,
         |  n_true_total, n_caught_total, n_cand_total,
         |  round(CAST(n_caught_total AS DOUBLE) / n_true_total, 4)
         |    AS overall_recall,
         |  round(CAST(n_caught_total AS DOUBLE) / n_cand_total, 4)
         |    AS precision_at_t
         |FROM per CROSS JOIN tot CROSS JOIN nc
         |ORDER BY jac_decile""".stripMargin,
  )
}

/** Wave-20 additions: the scale-planning audits —
  *
  *  - q_effective_diameter: 90%-effective diameter from the HyperANF
  *    neighborhood function (q_hyperanf's register machinery, factored
  *    and reused) — the Boldi-Vigna deliverable, and the r5-verdict
  *    answer to distance statistics without per-source BFS state,
  *  - q_skew_audit: per-join-key frequency skew (max/avg factor, exact
  *    p50/p99 of the key-frequency distribution) for the three lineitem
  *    keys in ONE pass — the number that decides salting vs plain
  *    shuffle BEFORE the 100 TB join is launched,
  *  - q_burstiness: per-user inter-event gap burstiness
  *    B = (σ−μ)/(σ+μ) (Goh-Barabási) — B → −1 periodic, ≈ 0 Poisson,
  *    → 1 bursty; tells a sessionizer/rate-limiter what arrival model
  *    to assume. Gap moments are exact 128-bit integer sums.
  *
  * Determinism: NF values ride q_hyperanf's exact register arithmetic;
  * frequency percentiles are rank-selected integers (the
  * q_percentile_disc convention); burstiness is one identically-spelled
  * IEEE chain (sqrt is correctly rounded — no libm-divergent ln). */
object Wave20 extends Catalog {

  val queries: Map[String, Q] = strictMap(

    // EFFECTIVE DIAMETER: smallest t with NF(t) ≥ 0.9·NF(t_max), with
    // linear interpolation between the straddling rounds. The NF table
    // is rounds×1 metadata from the factored ANF chain (ckpt'd — the
    // last-round, threshold-scan, and both interpolation joins all read
    // it); NF is nondecreasing in t so the interpolation denominator is
    // strictly positive whenever d90 > 0.
    "q_effective_diameter" -> ((s, dir) => {
      val nf = Graphs.anfNf(s, dir).ckpt()
      val last = nf.orderBy(desc("t")).limit(1)
        .select(col("t").as("t_max"), col("sum_est").as("nf_inf"))
      val d90 = nf.crossJoin(broadcast(last))
        .where(expr("sum_est >= CAST(0.9 AS DOUBLE) * nf_inf"))
        .agg(min("t").as("d90"))
      last.crossJoin(broadcast(d90))
        .join(nf.select(col("t").as("d90"), col("sum_est").as("nf_at")),
          Seq("d90"), "left_outer")
        .join(nf.select((col("t") + 1).as("d90"),
          col("sum_est").as("nf_prev")), Seq("d90"), "left_outer")
        .selectExpr("CAST(t_max AS BIGINT) AS t_max", "nf_inf",
          "CAST(d90 AS BIGINT) AS d90",
          "CASE WHEN d90 = 0 THEN CAST(0 AS DOUBLE)" +
            " ELSE round(CAST(d90 - 1 AS DOUBLE)" +
            " + (CAST(0.9 AS DOUBLE) * nf_inf - nf_prev)" +
            " / (nf_at - nf_prev), 4) END AS d_eff")
    }),

    // SKEW AUDIT: one stack pass widens lineitem to (key_name, key_val)
    // rows — 3× the scan but ONE partial-agg'd shuffle builds all three
    // frequency tables at once. Percentiles of the frequency
    // distribution are rank-selected exact integers on the distributed
    // Ranks pass (never a whole-group buffer); skew_factor = max/avg is
    // the salting decision number (≈ 1 uniform, ≫ 1 salt the key).
    "q_skew_audit" -> ((s, dir) => {
      val freqs = table(s, dir, "lineitem")
        .selectExpr("stack(3, 'l_orderkey', l_orderkey," +
          " 'l_partkey', l_partkey, 'l_suppkey', l_suppkey)" +
          " AS (kname, kval)")
        .groupBy("kname", "kval").agg(count(lit(1)).as("freq"))
        .ckpt() // feeds the rank pass + the per-key stats
      val ranked = graft.operators.Ranks
        .withinKey(freqs, "kname", Seq("freq", "kval"))
      val stats = freqs.groupBy("kname").agg(count(lit(1)).as("n_keys"),
        sum("freq").as("n_rows"), max("freq").as("max_freq"))
      val picks = ranked
        .join(stats.select(col("kname"), col("n_keys")), "kname")
        .where(expr("rk = (n_keys + 1) DIV 2" +
          " OR rk = (99*n_keys + 99) DIV 100"))
        .groupBy("kname")
        .agg(min(when(expr("rk = (n_keys + 1) DIV 2"), col("freq")))
          .as("p50_freq"),
          min(when(expr("rk = (99*n_keys + 99) DIV 100"), col("freq")))
            .as("p99_freq"))
      stats.join(picks, "kname")
        .selectExpr("kname AS key_name", "CAST(n_rows AS BIGINT) AS n_rows",
          "CAST(n_keys AS BIGINT) AS n_keys",
          "CAST(max_freq AS BIGINT) AS max_freq",
          "round(CAST(n_rows AS DOUBLE) / n_keys, 4) AS avg_freq",
          "round(CAST(max_freq AS DOUBLE) * n_keys / n_rows, 4)" +
            " AS skew_factor",
          "CAST(p50_freq AS BIGINT) AS p50_freq",
          "CAST(p99_freq AS BIGINT) AS p99_freq")
        .orderBy("key_name")
    }),

    // BURSTINESS: per-user inter-event gaps (lag over the user window —
    // tied timestamps give identical gap multisets under any tie order,
    // so the moments are partition-invariant), gap moments as exact
    // DECIMAL(38,0)/HUGEINT sums (g² ~ 10²⁴ overflows int64), then one
    // identically-spelled float chain per user. Top-20 most-active
    // users shown; the all-user mean rides every row. All-zero-gap
    // users (σ+μ = 0) are NULL by contract and excluded from the mean.
    "q_burstiness" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val per = table(s, dir, "events")
        .select(col("user_id"), expr("unix_micros(ts)").as("us"),
          col("event_id"))
        .withColumn("prev", lag("us", 1).over(w))
        .where(col("prev").isNotNull)
        .select(col("user_id"), (col("us") - col("prev")).as("g"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_gaps"),
          sum(expr("CAST(g AS DECIMAL(38,0))")).as("sg"),
          sum(expr("CAST(g AS DECIMAL(38,0)) * g")).as("sgg"))
        .where(col("n_gaps") >= 2)
        .withColumn("mu", expr("CAST(sg AS DOUBLE) / n_gaps"))
        .withColumn("sigma", expr(
          "sqrt(greatest(CAST(sgg AS DOUBLE) / n_gaps" +
            " - (CAST(sg AS DOUBLE) / n_gaps)" +
            " * (CAST(sg AS DOUBLE) / n_gaps), CAST(0 AS DOUBLE)))"))
        .withColumn("b", expr(
          "CASE WHEN sigma + mu = 0 THEN CAST(NULL AS DOUBLE)" +
            " ELSE round((sigma - mu) / (sigma + mu), 6) END"))
        .ckpt() // feeds the all-user mean + the top-20 rows
      val mean = per.where(col("b").isNotNull)
        .agg(count(lit(1)).as("nb"), dsum(col("b"), 6).as("sb"))
        .selectExpr("CAST(nb AS BIGINT) AS n_users",
          "round(sb / nb, 6) AS mean_b")
      per.orderBy(desc("n_gaps"), asc("user_id")).limit(20)
        .crossJoin(broadcast(mean))
        .selectExpr("user_id", "CAST(n_gaps AS BIGINT) AS n_gaps",
          "round(mu / 1000000, 4) AS mean_gap_s",
          "round(sigma / 1000000, 4) AS sd_gap_s",
          "b AS burstiness", "n_users", "mean_b")
        .orderBy(desc("n_gaps"), asc("user_id"))
    }),
  )

  val oracle: Map[String, String] = strictMap(

    "q_effective_diameter" ->
      s"""WITH ${Graphs.anfNfSql},
         |last AS (SELECT t AS t_max, sum_est AS nf_inf FROM nf
         |         ORDER BY t DESC LIMIT 1),
         |d AS (SELECT min(t) AS d90 FROM nf CROSS JOIN last
         |      WHERE sum_est >= CAST(0.9 AS DOUBLE) * nf_inf)
         |SELECT CAST(t_max AS BIGINT) AS t_max, nf_inf,
         |  CAST(d90 AS BIGINT) AS d90,
         |  CASE WHEN d90 = 0 THEN CAST(0 AS DOUBLE)
         |       ELSE round(CAST(d90 - 1 AS DOUBLE)
         |         + (CAST(0.9 AS DOUBLE) * nf_inf - p.sum_est)
         |         / (c.sum_est - p.sum_est), 4) END AS d_eff
         |FROM last CROSS JOIN d
         |LEFT JOIN nf c ON c.t = d90
         |LEFT JOIN nf p ON p.t = d90 - 1""".stripMargin,

    "q_skew_audit" ->
      """WITH long AS (
        |  SELECT 'l_orderkey' AS kname, l_orderkey AS kval FROM lineitem
        |  UNION ALL SELECT 'l_partkey', l_partkey FROM lineitem
        |  UNION ALL SELECT 'l_suppkey', l_suppkey FROM lineitem
        |),
        |f AS (SELECT kname, kval, count(*) AS freq FROM long GROUP BY 1, 2),
        |r AS (
        |  SELECT kname, freq,
        |    CAST(row_number() OVER (PARTITION BY kname
        |      ORDER BY freq, kval) AS BIGINT) AS rk,
        |    CAST(count(*) OVER (PARTITION BY kname) AS BIGINT) AS n_keys
        |  FROM f
        |),
        |st AS (SELECT kname, count(*) AS n_keys,
        |         CAST(sum(freq) AS BIGINT) AS n_rows,
        |         max(freq) AS max_freq
        |       FROM f GROUP BY kname),
        |p AS (
        |  SELECT kname,
        |    CAST(min(CASE WHEN rk = (n_keys + 1) // 2 THEN freq END)
        |      AS BIGINT) AS p50_freq,
        |    CAST(min(CASE WHEN rk = (99*n_keys + 99) // 100 THEN freq END)
        |      AS BIGINT) AS p99_freq
        |  FROM r GROUP BY kname
        |)
        |SELECT st.kname AS key_name, n_rows,
        |  CAST(st.n_keys AS BIGINT) AS n_keys,
        |  CAST(max_freq AS BIGINT) AS max_freq,
        |  round(CAST(n_rows AS DOUBLE) / st.n_keys, 4) AS avg_freq,
        |  round(CAST(max_freq AS DOUBLE) * st.n_keys / n_rows, 4)
        |    AS skew_factor,
        |  p50_freq, p99_freq
        |FROM st JOIN p USING (kname) ORDER BY key_name""".stripMargin,

    "q_burstiness" ->
      s"""WITH ev AS (
         |  SELECT user_id, epoch_us(ts) AS us, event_id FROM events
         |),
         |g AS (
         |  SELECT user_id, us - lag(us) OVER (PARTITION BY user_id
         |    ORDER BY us, event_id) AS g
         |  FROM ev
         |),
         |per AS (
         |  SELECT user_id, count(*) AS n_gaps,
         |    sum(CAST(g AS HUGEINT)) AS sg,
         |    sum(CAST(g AS HUGEINT) * g) AS sgg
         |  FROM g WHERE g IS NOT NULL
         |  GROUP BY user_id HAVING count(*) >= 2
         |),
         |m AS (
         |  SELECT user_id, n_gaps,
         |    CAST(sg AS DOUBLE) / n_gaps AS mu,
         |    sqrt(greatest(CAST(sgg AS DOUBLE) / n_gaps
         |      - (CAST(sg AS DOUBLE) / n_gaps)
         |      * (CAST(sg AS DOUBLE) / n_gaps), CAST(0 AS DOUBLE))) AS sigma
         |  FROM per
         |),
         |wb AS (
         |  SELECT user_id, n_gaps, mu, sigma,
         |    CASE WHEN sigma + mu = 0 THEN CAST(NULL AS DOUBLE)
         |         ELSE round((sigma - mu) / (sigma + mu), 6) END AS b
         |  FROM m
         |),
         |mean AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_users,
         |    round(${dsumSql("b", 6)} / count(*), 6) AS mean_b
         |  FROM wb WHERE b IS NOT NULL
         |)
         |SELECT user_id, CAST(n_gaps AS BIGINT) AS n_gaps,
         |  round(mu / 1000000, 4) AS mean_gap_s,
         |  round(sigma / 1000000, 4) AS sd_gap_s,
         |  b AS burstiness, n_users, mean_b
         |FROM wb CROSS JOIN mean
         |ORDER BY n_gaps DESC, user_id LIMIT 20""".stripMargin,
  )
}

/** Wave-22 additions: published-rule quality filters and infrastructure
  * sizing audits —
  *
  *  - q_gopher_ngram_frac: per-doc duplicated-trigram fraction — the
  *    Gopher/FineWeb "repeated n-gram" quality rule (word-level
  *    repetition is q_repetition; THIS is the n-gram variant the
  *    published pipelines actually gate on), with the 0.2 threshold
  *    applied as an exact integer cross-multiply,
  *  - q_stl_strength: seasonal strength of the daily event-count
  *    series against day-of-week means — F = max(0, 1 − Var(R)/Var(D));
  *    near 1 = strongly weekly, near 0 = no weekly structure; decides
  *    whether the forecast family's seasonal-naive baseline is even
  *    meaningful,
  *  - q_hash_collision_audit: observed vs birthday-expected collisions
  *    of 16/24/32-bit text fingerprints — the width-planning number
  *    (at 10¹² docs a 32-bit fingerprint is ~10⁵ collisions per
  *    partition; this query is the evidence).
  *
  * Determinism: trigram counts and collision counts are pure integers;
  * the quality gate is a cross-multiply; seasonal strength's residual
  * terms ride round-8 + decimal sums with one identically-spelled
  * float chain. */
object Wave22 extends Catalog {

  val queries: Map[String, Q] = strictMap(

    // GOPHER N-GRAM RULE: positional trigrams per doc (multiset, NOT
    // distinct), occurrences of trigrams appearing ≥ 2× in the doc →
    // dup fraction; flag = 5·n_dup > n_tri (the exact-integer 0.2
    // gate — the float frac is display only). One tokenize pass + one
    // (doc, trigram) count shuffle; docs with < 3 tokens are excluded
    // (no trigram exists — mirrored in the oracle).
    "q_gopher_ngram_frac" -> ((s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"), Tokenize.tokenArray(col("text")).as("ws"))
        .where(size(col("ws")) >= 3)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(ws)-2), i -> concat_ws(' '," +
            " element_at(ws,i), element_at(ws,i+1), element_at(ws,i+2)))"))
          .as("sh"))
        .groupBy("doc_id", "sh").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_tri"),
          sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("n_dup"))
        .selectExpr("doc_id", "CAST(n_tri AS BIGINT) AS n_tri",
          "CAST(n_dup AS BIGINT) AS n_dup",
          "round(CAST(n_dup AS DOUBLE) / n_tri, 4) AS dup_frac",
          "CAST(CASE WHEN 5 * n_dup > n_tri THEN 1 ELSE 0 END" +
            " AS BIGINT) AS gopher_flag")
        .orderBy("doc_id")),

    // SEASONAL STRENGTH: daily counts → day-of-week means → residual
    // variance vs total variance. Total variance is EXACT integer
    // power sums (n·Σc² − (Σc)² — 128-bit past ~10⁹ daily counts,
    // noted); residuals are one identically-spelled float chain with
    // round-8 terms through a decimal sum. A constant series (zero
    // total variance) → NULL by contract.
    "q_stl_strength" -> ((s, dir) => {
      val daily = table(s, dir, "events")
        .selectExpr("unix_micros(ts) DIV 86400000000 AS day")
        .groupBy("day").agg(count(lit(1)).as("c"))
        .withColumn("dow", col("day") % 7)
        .ckpt() // feeds the dow means + the residual join + power sums
      val dowm = daily.groupBy("dow")
        .agg(sum("c").as("sc"), count(lit(1)).as("nd"))
      val resid = daily.join(broadcast(dowm), "dow")
        .withColumn("r", expr(
          "CAST(c AS DOUBLE) - CAST(sc AS DOUBLE) / nd"))
        .agg(dsum(expr("round(r * r, 8)"), 8).as("srr"),
          dsum(expr("round(r, 8)"), 8).as("sr"))
      val tot = daily.agg(count(lit(1)).as("n"), sum("c").as("s1"),
        sum(expr("c * c")).as("s2"))
      tot.crossJoin(broadcast(resid))
        .selectExpr("CAST(n AS BIGINT) AS n_days",
          "round(CAST(n * s2 - s1 * s1 AS DOUBLE) / (n * n), 6)" +
            " AS var_total",
          "round(srr / n - (sr / n) * (sr / n), 6) AS var_resid",
          "CASE WHEN n * s2 - s1 * s1 = 0 THEN CAST(NULL AS DOUBLE)" +
            " ELSE round(greatest(CAST(0 AS DOUBLE)," +
            " 1 - (srr / n - (sr / n) * (sr / n))" +
            " / (CAST(n * s2 - s1 * s1 AS DOUBLE) / (n * n))), 6)" +
            " END AS seasonal_strength")
    }),

    // FINGERPRINT COLLISION AUDIT: distinct texts hashed at 16/24/32
    // bits (md5 hex prefixes — the corpus fingerprint family's exact
    // spelling), observed collisions vs the birthday expectation
    // n(n−1)/2^(b+1). One distinct pass; the stack's 3× expansion
    // collapses in the per-width aggregate. The width whose observed
    // count first tracks the expectation is the width the dedup
    // pipeline must EXCEED at target scale.
    "q_hash_collision_audit" -> ((s, dir) =>
      table(s, dir, "documents").select("text").distinct()
        .selectExpr("stack(3," +
          " CAST(16 AS BIGINT), CAST(conv(substring(md5(text), 1, 4), 16, 10) AS BIGINT)," +
          " CAST(24 AS BIGINT), CAST(conv(substring(md5(text), 1, 6), 16, 10) AS BIGINT)," +
          " CAST(32 AS BIGINT), CAST(conv(substring(md5(text), 1, 8), 16, 10) AS BIGINT)" +
          ") AS (bits, h)")
        .groupBy("bits")
        .agg(count(lit(1)).as("n_keys"),
          count_distinct(col("h")).as("n_distinct"))
        .selectExpr("bits", "CAST(n_keys AS BIGINT) AS n_keys",
          "CAST(n_distinct AS BIGINT) AS n_distinct",
          "CAST(n_keys - n_distinct AS BIGINT) AS n_collisions",
          "round(CAST(n_keys AS DOUBLE) * (n_keys - 1)" +
            " / CAST(2 * shiftleft(CAST(1 AS BIGINT), CAST(bits AS INT))" +
            " AS DOUBLE), 4) AS expected_collisions")
        .orderBy("bits")),
  )

  val oracle: Map[String, String] = strictMap(

    "q_gopher_ngram_frac" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    regexp_split_to_array(trim(regexp_replace(text, '$DelimSql', ' ', 'g')), ' ') AS ws
         |  FROM documents
         |),
         |tri AS (
         |  SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         |  FROM (SELECT doc_id, ws,
         |               unnest(generate_series(1, len(ws)-2)) AS i
         |        FROM t WHERE len(ws) >= 3)
         |),
         |c AS (SELECT doc_id, sh, count(*) AS c FROM tri GROUP BY 1, 2),
         |per AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tri,
         |    CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
         |      AS n_dup
         |  FROM c GROUP BY doc_id
         |)
         |SELECT doc_id, n_tri, n_dup,
         |  round(CAST(n_dup AS DOUBLE) / n_tri, 4) AS dup_frac,
         |  CAST(CASE WHEN 5 * n_dup > n_tri THEN 1 ELSE 0 END AS BIGINT)
         |    AS gopher_flag
         |FROM per ORDER BY doc_id""".stripMargin,

    "q_stl_strength" ->
      s"""WITH daily AS (
         |  SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS c
         |  FROM events GROUP BY 1
         |),
         |d2 AS (SELECT day, c, day % 7 AS dow FROM daily),
         |dowm AS (SELECT dow, CAST(sum(c) AS BIGINT) AS sc,
         |           count(*) AS nd
         |         FROM d2 GROUP BY dow),
         |resid AS (
         |  SELECT ${dsumSql("round(r * r, 8)", 8)} AS srr,
         |    ${dsumSql("round(r, 8)", 8)} AS sr
         |  FROM (SELECT CAST(c AS DOUBLE) - CAST(sc AS DOUBLE) / nd AS r
         |        FROM d2 JOIN dowm USING (dow))
         |),
         |tot AS (SELECT count(*) AS n, CAST(sum(c) AS BIGINT) AS s1,
         |          CAST(sum(c * c) AS BIGINT) AS s2
         |        FROM d2)
         |SELECT CAST(n AS BIGINT) AS n_days,
         |  round(CAST(n * s2 - s1 * s1 AS DOUBLE) / (n * n), 6)
         |    AS var_total,
         |  round(srr / n - (sr / n) * (sr / n), 6) AS var_resid,
         |  CASE WHEN n * s2 - s1 * s1 = 0 THEN CAST(NULL AS DOUBLE)
         |       ELSE round(greatest(CAST(0 AS DOUBLE),
         |         1 - (srr / n - (sr / n) * (sr / n))
         |         / (CAST(n * s2 - s1 * s1 AS DOUBLE) / (n * n))), 6)
         |  END AS seasonal_strength
         |FROM tot CROSS JOIN resid""".stripMargin,

    "q_hash_collision_audit" -> {
      def side(bits: Int, hexLen: Int) =
        s"""SELECT CAST($bits AS BIGINT) AS bits,
           |  ${hexLongSql("md5(text)", 1, hexLen)} AS h
           |FROM dt""".stripMargin
      s"""WITH dt AS (SELECT DISTINCT text FROM documents),
         |hs AS (
         |${side(16, 4)}
         |UNION ALL
         |${side(24, 6)}
         |UNION ALL
         |${side(32, 8)}
         |),
         |g AS (
         |  SELECT bits, count(*) AS n_keys,
         |    count(DISTINCT h) AS n_distinct
         |  FROM hs GROUP BY bits
         |)
         |SELECT bits, CAST(n_keys AS BIGINT) AS n_keys,
         |  CAST(n_distinct AS BIGINT) AS n_distinct,
         |  CAST(n_keys - n_distinct AS BIGINT) AS n_collisions,
         |  round(CAST(n_keys AS DOUBLE) * (n_keys - 1)
         |    / CAST(2 * (CAST(1 AS BIGINT) << CAST(bits AS INT))
         |    AS DOUBLE), 4) AS expected_collisions
         |FROM g ORDER BY bits""".stripMargin
    },
  )
}

/** Wave-27 additions: pipeline parameter-sensitivity audits —
  *
  *  - q_session_gap_sensitivity: session counts under 10/30/60-minute
  *    inactivity gaps from ONE lag pass (no per-threshold re-scan) —
  *    the "is 30 minutes the right cut?" evidence behind q_sessionize's
  *    fixed constant,
  *  - q_entropy_rate: conditional entropy H(next|current) of the
  *    event-type Markov chain, per state and overall — the
  *    predictability number behind q_transitions / q_markov_stationary
  *    (uniform 5-state chain ⇒ ln 5 ≈ 1.609; lower = exploitable
  *    structure),
  *  - q_dup_growth: exact-duplicate rate at 25/50/75/100% corpus
  *    prefixes (hash-bucket subsets) — the duplication scaling curve
  *    that decides whether dedup must precede or can follow a corpus
  *    expansion (dup rate grows superlinearly when sources repeat).
  *
  * Determinism: gaps/counts are exact integers; entropy terms are
  * round-8 ln of exact integer rationals times integer counts,
  * decimal-summed; prefix membership is the shared md5 bucket. */
object Wave27 extends Catalog {

  /** Gap thresholds (minutes) for the sessionization sweep. */
  private val Gaps = Seq(10L, 30L, 60L)

  val queries: Map[String, Q] = strictMap(

    // GAP SENSITIVITY: n_sessions(T) = n_users + |{gaps > T}| — all
    // thresholds read the SAME lag pass (one per-user window, one
    // conditional-count aggregate; the ×3 expansion is 3 output rows).
    "q_session_gap_sensitivity" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id").orderBy("us", "event_id")
      val gaps = table(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"))
        .withColumn("gap", col("us") - lag(col("us"), 1).over(byUser))
      val aggCols = count_distinct(col("user_id")).as("nu") +:
        count(lit(1)).as("ne") +:
        Gaps.map(t => sum(when(col("gap") > t * 60000000L, 1L)
          .otherwise(0L)).as(s"x$t"))
      val aggs = gaps.agg(aggCols.head, aggCols.tail: _*)
      aggs.selectExpr("stack(" + Gaps.size + ", " +
        Gaps.map(t => s"CAST($t AS BIGINT), nu + x$t").mkString(", ") +
        ") AS (gap_min, n_sessions)", "nu", "ne")
        .selectExpr("gap_min", "CAST(nu AS BIGINT) AS n_users",
          "CAST(ne AS BIGINT) AS n_events",
          "CAST(n_sessions AS BIGINT) AS n_sessions",
          "round(CAST(ne AS DOUBLE) / n_sessions, 6)" +
            " AS events_per_session")
        .orderBy("gap_min")
    }),

    // ENTROPY RATE: one lead pass (the q_transitions shuffle), then
    // H_i = −Σ_j (n_ij/n_i)·ln(n_ij/n_i) with round-8 ln terms scaled
    // by exact integer counts before the decimal sum; overall
    // H = Σ_i (n_i/N)·H_i rides the same per-state sums.
    "q_entropy_rate" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val cnt = table(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("from_type"))
        .withColumn("to_type", lead(col("from_type"), 1).over(w))
        .where(col("to_type").isNotNull)
        .groupBy("from_type", "to_type").agg(count(lit(1)).as("cnt"))
      val tot = cnt.groupBy("from_type").agg(sum("cnt").as("tot"))
      val st = cnt.join(broadcast(tot), "from_type")
        .groupBy("from_type")
        .agg(first(col("tot")).as("n_i"),
          dsum(expr(
            "-cnt * round(ln(CAST(cnt AS DOUBLE) / tot), 8)"), 8).as("si"))
      val overall = st.agg(sum("n_i").as("nn"), dsum(col("si"), 8).as("ss"))
      st.crossJoin(broadcast(overall))
        .selectExpr("from_type", "CAST(n_i AS BIGINT) AS n_i",
          "round(si / n_i, 6) AS h_state",
          "round(ss / nn, 6) AS h_rate")
        .orderBy("from_type")
    }),

    // DUP GROWTH: one text-group shuffle; per group, the 4 prefix
    // member-counts are conditional sums over the shared md5 bucket —
    // no per-prefix corpus re-scan, no expansion before the terminal
    // 4-row stack. dup(p) = Σ max(members_p − 1, 0).
    "q_dup_growth" -> ((s, dir) => {
      val ps = Seq(25, 50, 75, 100)
      val cCols = ps.map(p => sum(when(col("b") < p, 1L).otherwise(0L))
        .as(s"c$p"))
      val g = table(s, dir, "documents")
        .selectExpr("text", s"$HashBucketSpark AS b")
        .groupBy("text")
        .agg(cCols.head, cCols.tail: _*)
      val aCols = ps.map(p => sum(col(s"c$p")).as(s"n$p")) ++
        ps.map(p => sum(greatest(col(s"c$p") - 1, lit(0L))).as(s"d$p"))
      val agg = g.agg(aCols.head, aCols.tail: _*)
      agg.selectExpr("stack(" + ps.size + ", " +
        ps.map(p => s"CAST($p AS BIGINT), n$p, d$p").mkString(", ") +
        ") AS (prefix_pct, n_docs, n_dups)")
        .selectExpr("prefix_pct", "CAST(n_docs AS BIGINT) AS n_docs",
          "CAST(n_dups AS BIGINT) AS n_dups",
          "CASE WHEN n_docs = 0 THEN CAST(NULL AS DOUBLE)" +
            " ELSE round(CAST(n_dups AS DOUBLE) / n_docs, 6)" +
            " END AS dup_rate")
        .orderBy("prefix_pct")
    }),
  )

  val oracle: Map[String, String] = strictMap(

    "q_session_gap_sensitivity" -> {
      val xs = Gaps.map(t =>
        s"CAST(sum(CASE WHEN gap > ${t * 60000000L} THEN 1 ELSE 0 END)" +
          s" AS BIGINT) AS x$t").mkString(",\n    ")
      val rows = Gaps.map(t =>
        s"""SELECT CAST($t AS BIGINT) AS gap_min,
           |  CAST(nu AS BIGINT) AS n_users, CAST(ne AS BIGINT) AS n_events,
           |  CAST(nu + x$t AS BIGINT) AS n_sessions,
           |  round(CAST(ne AS DOUBLE) / (nu + x$t), 6)
           |    AS events_per_session
           |FROM a""".stripMargin).mkString("\nUNION ALL\n")
      s"""WITH g AS (
         |  SELECT user_id,
         |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
         |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap
         |  FROM events
         |),
         |a AS (
         |  SELECT count(DISTINCT user_id) AS nu, count(*) AS ne,
         |    $xs
         |  FROM g
         |)
         |$rows
         |ORDER BY gap_min""".stripMargin
    },

    "q_entropy_rate" ->
      s"""WITH pairs AS (
         |  SELECT event_type AS from_type,
         |    lead(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS to_type
         |  FROM events
         |),
         |cnt AS (
         |  SELECT from_type, to_type, count(*) AS cnt
         |  FROM pairs WHERE to_type IS NOT NULL
         |  GROUP BY 1, 2
         |),
         |tot AS (SELECT from_type, CAST(sum(cnt) AS BIGINT) AS tot
         |        FROM cnt GROUP BY from_type),
         |st AS (
         |  SELECT from_type, max(tot) AS n_i,
         |    ${dsumSql(
           "-cnt * round(ln(CAST(cnt AS DOUBLE) / tot), 8)", 8)} AS si
         |  FROM cnt JOIN tot USING (from_type)
         |  GROUP BY from_type
         |),
         |overall AS (SELECT CAST(sum(n_i) AS BIGINT) AS nn,
         |              CAST(sum(CAST(si AS DECIMAL(18,8))) AS DOUBLE) AS ss
         |            FROM st)
         |SELECT from_type, CAST(n_i AS BIGINT) AS n_i,
         |  round(si / n_i, 6) AS h_state,
         |  round(ss / nn, 6) AS h_rate
         |FROM st CROSS JOIN overall ORDER BY from_type""".stripMargin,

    "q_dup_growth" -> {
      val ps = Seq(25, 50, 75, 100)
      val cs = ps.map(p =>
        s"sum(CASE WHEN b < $p THEN 1 ELSE 0 END) AS c$p")
        .mkString(",\n    ")
      val ns = (ps.map(p => s"CAST(sum(c$p) AS BIGINT) AS n$p") ++
        ps.map(p => s"CAST(sum(greatest(c$p - 1, 0)) AS BIGINT) AS d$p"))
        .mkString(",\n    ")
      val rows = ps.map(p =>
        s"""SELECT CAST($p AS BIGINT) AS prefix_pct,
           |  CAST(n$p AS BIGINT) AS n_docs, CAST(d$p AS BIGINT) AS n_dups,
           |  CASE WHEN n$p = 0 THEN CAST(NULL AS DOUBLE)
           |       ELSE round(CAST(d$p AS DOUBLE) / n$p, 6) END AS dup_rate
           |FROM a""".stripMargin).mkString("\nUNION ALL\n")
      s"""WITH g AS (
         |  SELECT text,
         |    $cs
         |  FROM (SELECT text, $hashBucketSql AS b FROM documents)
         |  GROUP BY text
         |),
         |a AS (
         |  SELECT $ns
         |  FROM g
         |)
         |$rows
         |ORDER BY prefix_pct""".stripMargin
    },
  )
}

/** Wave-30 additions: closing measurement loops the planners opened —
  *
  *  - q_bloom_fpp_measured: build the Bloom filter q_bloom_planner
  *    priced (m = 2¹⁷, k = 7, md5-derived bit positions), probe it with
  *    every non-member user, and compare the MEASURED false-positive
  *    rate to the fill-ratio prediction fill^k — planner → artifact →
  *    measurement, all in-engine,
  *  - q_seasonal_decompose: the classical decomposition TABLE (centered
  *    7-day MA trend, day-of-week seasonal of the detrended series,
  *    residual) whose variance ratio q_stl_strength summarizes,
  *  - q_cache_coverage: hit ratio of a top-C hot-key cache at C =
  *    10/100/1000 over part-key accesses — the cache-sizing curve
  *    (Zipf-skewed keys ⇒ small caches already absorb most hits; the
  *    practical companion to q_heavy_hitters/q_zipf_fit).
  *
  * Determinism: bit positions and hit counts are integer md5 algebra;
  * fill^k is k explicit multiplications (no pow); the decomposition's
  * one mean division per stage is round-8 before reuse; cache hits are
  * exact conditional sums over ranked keys. */
object Wave30 extends Catalog {

  private val BloomM = 131072L // 2^17 bits
  private val BloomK = 7

  val queries: Map[String, Q] = strictMap(

    // BLOOM MEASUREMENT: members (a deterministic 30% md5-bucket user
    // audience — the filter's FPP is membership-agnostic, and a
    // semantic audience like "purchasers" degenerates to 100% of users
    // at small sf) ×k bit explode → distinct bitset (≤ m rows); probes
    // (non-members) ×k probe rows joined to the bitset on the bit
    // position (shuffle keyed by bit — no broadcast assumption); a
    // probe with k/k hits is a false positive. predicted = fill^k as k
    // explicit multiplications.
    "q_bloom_fpp_measured" -> ((s, dir) => {
      def bitExpr(col0: String) =
        s"CAST(conv(substring(md5(concat('bf-', CAST(j AS STRING), ':'," +
          s" CAST($col0 AS STRING))), 1, 8), 16, 10) AS BIGINT) % $BloomM"
      val users = table(s, dir, "events")
        .select("user_id").distinct()
        .selectExpr("user_id",
          "CAST(CASE WHEN CAST(conv(substring(md5(CAST(user_id AS STRING))," +
            " 1, 8), 16, 10) AS BIGINT) % 100 < 30 THEN 1 ELSE 0 END" +
            " AS BIGINT) AS is_member")
        .ckpt() // members + probes + counts
      val ks = expr(s"explode(sequence(0, ${BloomK - 1}))").as("j")
      val bits = users.where(col("is_member") === 1)
        .select(col("user_id"), ks)
        .selectExpr(s"${bitExpr("user_id")} AS bit").distinct()
        .ckpt() // joined by probes + counted
      val probes = users.where(col("is_member") === 0)
        .select(col("user_id"), ks)
        .selectExpr("user_id", s"${bitExpr("user_id")} AS bit")
      val fp = probes.join(bits, Seq("bit"), "left_semi")
        .groupBy("user_id").agg(count(lit(1)).as("hits"))
        .where(col("hits") === BloomK)
        .agg(count(lit(1)).as("n_fp"))
      val counts = users.agg(
        sum(col("is_member")).as("n_members"),
        sum(expr("1 - is_member")).as("n_probes"))
      val nb = bits.agg(count(lit(1)).as("n_bits"))
      val fillPow = (1 to BloomK).map(_ => "fill").mkString(" * ")
      counts.crossJoin(broadcast(nb)).crossJoin(broadcast(fp))
        .withColumn("fill", expr(s"CAST(n_bits AS DOUBLE) / $BloomM"))
        .selectExpr(s"CAST($BloomM AS BIGINT) AS m",
          s"CAST($BloomK AS BIGINT) AS k",
          "CAST(n_members AS BIGINT) AS n_members",
          "CAST(n_bits AS BIGINT) AS n_bits",
          "round(fill, 6) AS fill_ratio",
          "CAST(n_probes AS BIGINT) AS n_probes",
          "CAST(coalesce(n_fp, 0) AS BIGINT) AS n_fp",
          "CASE WHEN n_probes = 0 THEN CAST(NULL AS DOUBLE)" +
            " ELSE round(CAST(coalesce(n_fp, 0) AS DOUBLE) / n_probes, 6)" +
            " END AS measured_fpp",
          s"round($fillPow, 6) AS predicted_fpp")
    }),

    // DECOMPOSITION: the data-scale stage is the daily-count shuffle;
    // the decomposition windows run on the aggregated series (metadata —
    // same envelope as q_theil_sen's pairwise slopes). The trend is
    // NULL unless the ±3-day window is complete AND contiguous (a
    // 7-row window spanning a gap is not a weekly MA).
    "q_seasonal_decompose" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w7 = Window.orderBy("day").rowsBetween(-3, 3)
      val daily = table(s, dir, "events")
        .selectExpr("unix_micros(ts) DIV 86400000000 AS day")
        .groupBy("day").agg(count(lit(1)).as("c"))
      val tr = daily
        .withColumn("wn", count(lit(1)).over(w7))
        .withColumn("wspan", max("day").over(w7) - min("day").over(w7))
        .withColumn("trend", expr("CASE WHEN wn = 7 AND wspan = 6" +
          " THEN round(CAST(sum(c) OVER (ORDER BY day" +
          " ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS DOUBLE) / 7, 8)" +
          " ELSE CAST(NULL AS DOUBLE) END"))
        .withColumn("detr", expr("CASE WHEN trend IS NULL THEN NULL" +
          " ELSE c - trend END"))
        .ckpt() // feeds the dow means + the output join
      val dow = tr.where(col("detr").isNotNull)
        .groupBy(expr("day % 7").as("dw"))
        .agg(dsum(expr("round(detr, 8)"), 8).as("sd"),
          count(lit(1)).as("nd"))
        .selectExpr("dw", "round(sd / nd, 8) AS seasonal")
      tr.join(broadcast(dow), expr("day % 7 = dw"), "left_outer")
        .selectExpr("day", "CAST(c AS BIGINT) AS c",
          "round(trend, 6) AS trend",
          "CASE WHEN trend IS NULL THEN CAST(NULL AS DOUBLE)" +
            " ELSE round(seasonal, 6) END AS seasonal",
          "CASE WHEN trend IS NULL THEN CAST(NULL AS DOUBLE)" +
            " ELSE round(detr - seasonal, 6) END AS resid")
        .orderBy("day")
    }),

    // CACHE COVERAGE: one part-key frequency shuffle, a distributed
    // rank by (count desc, key), then the three cache sizes are
    // conditional sums over the SAME ranked pass.
    "q_cache_coverage" -> ((s, dir) => {
      val sizes = Seq(10L, 100L, 1000L)
      val freq = table(s, dir, "lineitem")
        .groupBy(col("l_partkey").as("k")).agg(count(lit(1)).as("cnt"))
        .withColumn("kk", lit(1)).withColumn("negc", -col("cnt"))
      val ranked = graft.operators.Ranks
        .withinKey(freq, "kk", Seq("negc", "k"))
      val aggCols = count(lit(1)).as("n_keys") +:
        sum("cnt").as("n_access") +:
        sizes.map(c => sum(when(col("rk") <= c, col("cnt"))
          .otherwise(0L)).as(s"h$c"))
      val a = ranked.agg(aggCols.head, aggCols.tail: _*)
      a.selectExpr("stack(" + sizes.size + ", " +
        sizes.map(c => s"CAST($c AS BIGINT), h$c").mkString(", ") +
        ") AS (cache_size, hits)", "n_keys", "n_access")
        .selectExpr("cache_size", "CAST(n_keys AS BIGINT) AS n_keys",
          "CAST(n_access AS BIGINT) AS n_access",
          "CAST(hits AS BIGINT) AS hits",
          "round(CAST(hits AS DOUBLE) / n_access, 6) AS hit_ratio")
        .orderBy("cache_size")
    }),
  )

  val oracle: Map[String, String] = strictMap(

    "q_bloom_fpp_measured" -> {
      def bitSql(col0: String) =
        s"${hex2longSql(s"md5('bf-' || j || ':' || $col0)", 1)} % $BloomM"
      val fillPow = (1 to BloomK).map(_ => "fill").mkString(" * ")
      s"""WITH users AS (
         |  SELECT user_id,
         |    CAST(CASE WHEN ${hex2longSql(
             "md5(CAST(user_id AS VARCHAR))", 1)} % 100 < 30
         |         THEN 1 ELSE 0 END AS BIGINT) AS is_member
         |  FROM (SELECT DISTINCT user_id FROM events)
         |),
         |ks AS (SELECT unnest(generate_series(0, ${BloomK - 1})) AS j),
         |bits AS (
         |  SELECT DISTINCT ${bitSql("user_id")} AS bit
         |  FROM users CROSS JOIN ks WHERE is_member = 1
         |),
         |probes AS (
         |  SELECT user_id, ${bitSql("user_id")} AS bit
         |  FROM users CROSS JOIN ks WHERE is_member = 0
         |),
         |fp AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_fp FROM (
         |    SELECT user_id FROM probes
         |    WHERE bit IN (SELECT bit FROM bits)
         |    GROUP BY user_id HAVING count(*) = $BloomK)
         |),
         |counts AS (
         |  SELECT CAST(sum(is_member) AS BIGINT) AS n_members,
         |    CAST(sum(1 - is_member) AS BIGINT) AS n_probes
         |  FROM users
         |),
         |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_bits FROM bits),
         |f AS (
         |  SELECT *, CAST(n_bits AS DOUBLE) / $BloomM AS fill
         |  FROM counts CROSS JOIN nb CROSS JOIN fp
         |)
         |SELECT CAST($BloomM AS BIGINT) AS m, CAST($BloomK AS BIGINT) AS k,
         |  n_members, n_bits, round(fill, 6) AS fill_ratio, n_probes,
         |  CAST(coalesce(n_fp, 0) AS BIGINT) AS n_fp,
         |  CASE WHEN n_probes = 0 THEN CAST(NULL AS DOUBLE)
         |       ELSE round(CAST(coalesce(n_fp, 0) AS DOUBLE) / n_probes, 6)
         |       END AS measured_fpp,
         |  round($fillPow, 6) AS predicted_fpp
         |FROM f""".stripMargin
    },

    "q_seasonal_decompose" ->
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS c
        |  FROM events GROUP BY 1
        |),
        |tr AS (
        |  SELECT day, c,
        |    CASE WHEN count(*) OVER w = 7
        |           AND max(day) OVER w - min(day) OVER w = 6
        |         THEN round(CAST(sum(c) OVER w AS DOUBLE) / 7, 8)
        |         ELSE CAST(NULL AS DOUBLE) END AS trend
        |  FROM daily
        |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING
        |    AND 3 FOLLOWING)
        |),
        |t2 AS (
        |  SELECT *, CASE WHEN trend IS NULL THEN NULL
        |              ELSE c - trend END AS detr
        |  FROM tr
        |),
        |dow AS (
        |  SELECT day % 7 AS dw,
        |    round(CAST(sum(CAST(round(detr, 8) AS DECIMAL(18,8)))
        |      AS DOUBLE) / count(*), 8) AS seasonal
        |  FROM t2 WHERE detr IS NOT NULL GROUP BY 1
        |)
        |SELECT day, CAST(c AS BIGINT) AS c, round(trend, 6) AS trend,
        |  CASE WHEN trend IS NULL THEN CAST(NULL AS DOUBLE)
        |       ELSE round(seasonal, 6) END AS seasonal,
        |  CASE WHEN trend IS NULL THEN CAST(NULL AS DOUBLE)
        |       ELSE round(detr - seasonal, 6) END AS resid
        |FROM t2 LEFT JOIN dow ON day % 7 = dw
        |ORDER BY day""".stripMargin,

    "q_cache_coverage" -> {
      val sizes = Seq(10L, 100L, 1000L)
      val hs = sizes.map(c =>
        s"CAST(sum(CASE WHEN rk <= $c THEN cnt ELSE 0 END) AS BIGINT)" +
          s" AS h$c").mkString(",\n    ")
      val rows = sizes.map(c =>
        s"""SELECT CAST($c AS BIGINT) AS cache_size,
           |  CAST(n_keys AS BIGINT) AS n_keys,
           |  CAST(n_access AS BIGINT) AS n_access,
           |  CAST(h$c AS BIGINT) AS hits,
           |  round(CAST(h$c AS DOUBLE) / n_access, 6) AS hit_ratio
           |FROM a""".stripMargin).mkString("\nUNION ALL\n")
      s"""WITH freq AS (
         |  SELECT l_partkey AS k, count(*) AS cnt
         |  FROM lineitem GROUP BY 1
         |),
         |r AS (
         |  SELECT cnt, CAST(row_number() OVER (ORDER BY cnt DESC, k)
         |    AS BIGINT) AS rk
         |  FROM freq
         |),
         |a AS (
         |  SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_access,
         |    $hs
         |  FROM r
         |)
         |$rows
         |ORDER BY cache_size""".stripMargin
    },
  )
}

/** Wave-35 addition — the LSH banding-config planner:
  *
  *  - q_lsh_planner: for three bandings of the SAME 16-minhash signature
  *    table — (b bands × r rows) ∈ {(2,8), (4,4), (8,2)} — the ACTUAL
  *    candidate-pair volume the dedup join would pay, bucket-size
  *    structure, and what the BandBucketCap=64 discipline would drop.
  *    This closes the dedup planning loop the way q_bloom_planner /
  *    q_bloom_fpp_measured close the membership-filter loop: pick the
  *    banding from measured volume, not the textbook S-curve alone
  *    (more rows per band ⇒ stricter buckets ⇒ fewer candidates).
  *    Counts only — Σ n(n−1)/2 per bucket; no pair row is ever
  *    materialized, and the pair sums run 128-bit (a degenerate bucket
  *    of 10⁹ docs squares past int64).
  */
object Wave35 extends Catalog {

  /** Banding configs over the 16-hash family: b·r = 16. */
  private val Configs = Seq((2, 8), (4, 4), (8, 2))

  val queries: Map[String, Q] = strictMap(

    // ONE signature aggregation (ckpt'd — all three configs read it);
    // per config a narrow band-value stack + one partial-agg'd bucket
    // count; outputs are 3 metadata rows.
    "q_lsh_planner" -> ((s, dir) => {
      val sig = LlmOps.repSignatures(s, dir).ckpt()
      Configs.map { case (b, r) =>
        val bandCols = (0 until b).map(i =>
          concat_ws("-", (0 until r).map(j => col(s"h${i * r + j}")): _*)
            .as(s"b$i"))
        val buckets = sig.select(col("doc_id") +: bandCols: _*)
          .selectExpr("doc_id",
            s"stack($b, ${(0 until b).map(i => s"$i, b$i").mkString(", ")})" +
              " AS (band, v)")
          .groupBy("band", "v").agg(count(lit(1)).as("n"))
        buckets.agg(
            count(lit(1)).as("nb"),
            sum(when(col("n") === 1, 1L).otherwise(0L)).as("ns"),
            sum(when(col("n") > LlmOps.BandBucketCap, 1L).otherwise(0L))
              .as("noc"),
            sum(when(col("n") <= LlmOps.BandBucketCap,
              expr("CAST(n AS DECIMAL(19,0)) * (n - 1) / 2"))
              .otherwise(expr("CAST(0 AS DECIMAL(19,0))"))).as("cp"),
            sum(when(col("n") > LlmOps.BandBucketCap,
              expr("CAST(n AS DECIMAL(19,0)) * (n - 1) / 2"))
              .otherwise(expr("CAST(0 AS DECIMAL(19,0))"))).as("dp"))
          .selectExpr(s"CAST($b AS BIGINT) AS bands",
            s"CAST($r AS BIGINT) AS rows_per_band",
            "CAST(nb AS BIGINT) AS n_buckets",
            "CAST(ns AS BIGINT) AS n_singleton",
            "CAST(noc AS BIGINT) AS n_over_cap",
            "CAST(cp AS BIGINT) AS cand_pairs",
            "CAST(dp AS BIGINT) AS dropped_pairs")
      }.reduce(_ unionByName _).orderBy("bands")
    }),
  )

  val oracle: Map[String, String] = strictMap(

    "q_lsh_planner" -> {
      val cap = LlmOps.BandBucketCap
      val per = Configs.map { case (b, r) =>
        val stackRows = (0 until b).map { i =>
          val v = (0 until r).map(j => s"h${i * r + j}").mkString(" || '-' || ")
          s"SELECT doc_id, $i AS band, $v AS v FROM sig"
        }.mkString("\nUNION ALL\n")
        s"""buckets${b} AS (
           |  SELECT band, v, count(*) AS n FROM (
           |$stackRows
           |  ) GROUP BY band, v
           |),
           |row${b} AS (
           |  SELECT CAST($b AS BIGINT) AS bands,
           |    CAST($r AS BIGINT) AS rows_per_band,
           |    CAST(count(*) AS BIGINT) AS n_buckets,
           |    CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_singleton,
           |    CAST(sum(CASE WHEN n > $cap THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_over_cap,
           |    CAST(sum(CASE WHEN n <= $cap
           |      THEN CAST(n AS HUGEINT) * (n - 1) // 2
           |      ELSE CAST(0 AS HUGEINT) END) AS BIGINT) AS cand_pairs,
           |    CAST(sum(CASE WHEN n > $cap
           |      THEN CAST(n AS HUGEINT) * (n - 1) // 2
           |      ELSE CAST(0 AS HUGEINT) END) AS BIGINT) AS dropped_pairs
           |  FROM buckets${b}
           |)""".stripMargin
      }.mkString(",\n")
      val out = Configs.map { case (b, _) => s"SELECT * FROM row$b" }
        .mkString("\nUNION ALL\n")
      s"""WITH ${LlmOps.MinhashSigSql},
         |$per
         |$out
         |ORDER BY bands""".stripMargin
    },
  )
}

/** Wave-37 additions — blocking economics, MST clustering, graph ANN:
  *
  *  - q_blocking_quality: the record-linkage blocking audit (Christen's
  *    reduction ratio + pairs completeness) for three classic candidate
  *    generators — first-2-char prefix blocks, equal-length blocks,
  *    sorted-neighborhood window 3 — measured against the exact lev ≤ 2
  *    ground truth. Candidate volumes are COUNTED (Σ n(n−1)/2 per block,
  *    128-bit), never materialized — the q_lsh_planner discipline applied
  *    to ER blocking.
  *  - q_single_linkage: single-linkage clustering as an MST threshold
  *    cut — the FULL converged Borůvka forest ([[graft.operators.Mst]])
  *    cut at w ≤ 8, components over the kept edges. The oracle computes
  *    the same clusters by a DIFFERENT algorithm (components of the
  *    thresholded ORIGINAL graph — equal by the classic Kruskal/
  *    single-linkage property), so the hash match doubles as an
  *    end-to-end proof of Mst.run's forest on harness data.
  *  - q_nn_descent: one NN-descent refinement round (Dong et al. '11,
  *    the graph-ANN construction step behind HNSW-family indexes) over
  *    the LSH-bucket top-1 graph: candidates = current neighbor ∪
  *    neighbor-of-neighbor ∪ reverse edges, rescored with the exact
  *    integer cosine, per-vector top-1 kept. Output marks which vectors
  *    improved — the measured "does one round help" audit.
  *
  * Determinism: blocking counts and coverage are pure integer algebra
  * (ratios are divisions of exact integers, spelled identically in both
  * engines); MST + CC labels are min-id integer fixpoints; NN-descent
  * ranks by round-6 cosine of exact integer dots, ties to smaller id. */
object Wave37 extends Catalog {

  /** Sorted-neighborhood window (the q_er_sorted_neighborhood geometry). */
  private val SnWindow = 3
  /** Single-linkage cut, RELATIVE to the corpus: w ≤ min(w) + SlSlack.
    * Co-purchase weights scale with SF (more orders ⇒ higher counts), so
    * an absolute cut is scale-brittle — sf0.01's minimum weight is ~10
    * and a fixed w ≤ 8 cut selects nothing. min+slack is exact integer
    * algebra in both engines. */
  private val SlSlack = 3L

  /** ASCII vocabulary (the q_fuzzy_match population). */
  private def vocab(s: SparkSession, dir: String): DataFrame =
    corpusToks(s, dir).select("word").distinct()
      .where(col("word").rlike("^[ -~]+$"))

  val queries: Map[String, Q] = strictMap(

    // BLOCKING QUALITY: ONE vocabulary pass per scheme for the counted
    // candidate volume (partial-agg'd block sizes, Σ C(n,2) in DECIMAL),
    // the lev ≤ 2 truth from the SymSpell-complete deletion-neighborhood
    // join (FuzzyJoin — completeness proven by the q_fuzzy_match oracle),
    // and coverage as cheap predicates over the truth table (prefix/
    // length equality; rank distance via two broadcast-sized rank joins).
    // Nothing quadratic is ever materialized.
    "q_blocking_quality" -> ((s, dir) => {
      val words = vocab(s, dir).ckpt() // 3 block-counts + ranks + |V|
      val truth = graft.operators.FuzzyJoin.matchPairs(words, "word", 2)
        .select("w1", "w2").ckpt() // 3 coverage passes
      val nV = words.agg(count(lit(1)).cast("long").as("n_v"))
      val nTruth = truth.agg(count(lit(1)).cast("long").as("n_truth"))
      def blockCands(key: org.apache.spark.sql.Column) = words
        .groupBy(key.as("k")).agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(expr("CAST(n AS DECIMAL(38,0)) * (n - 1) / 2")),
          expr("CAST(0 AS DECIMAL(38,0))")).cast("decimal(38,0)").as("cand"))
      val ranked = graft.operators.Ranks
        .withinKey(words.withColumn("one", lit(1)), "one", Seq("word"))
        .drop("one")
      val snCovered = truth
        .join(ranked.select(col("word").as("w1"), col("rk").as("r1")), "w1")
        .join(ranked.select(col("word").as("w2"), col("rk").as("r2")), "w2")
        .where(col("r2") - col("r1") <= SnWindow)
        .agg(count(lit(1)).cast("long").as("cov"))
      val schemes = Seq(
        ("prefix2",
          blockCands(expr("substring(word, 1, 2)")),
          truth.where(expr("substring(w1, 1, 2) = substring(w2, 1, 2)"))
            .agg(count(lit(1)).cast("long").as("cov"))),
        ("length",
          blockCands(length(col("word"))),
          truth.where(length(col("w1")) === length(col("w2")))
            .agg(count(lit(1)).cast("long").as("cov"))),
        ("sorted_neighborhood",
          // window-3 candidates are exactly Σ_{d=1..3}(V−d) = 3V−6
          nV.select(expr(s"CAST(GREATEST($SnWindow * n_v - " +
            s"${SnWindow * (SnWindow + 1) / 2}, 0) AS DECIMAL(38,0))")
            .as("cand")),
          snCovered))
      schemes.map { case (name, cand, cov) =>
        cand.crossJoin(broadcast(cov)).crossJoin(broadcast(nV))
          .crossJoin(broadcast(nTruth))
          .selectExpr(s"'$name' AS scheme",
            "CAST(cand AS BIGINT) AS n_candidates",
            // all-pairs C(V,2) and the ratio: exact integers into one
            // identically-spelled double division on both engines
            "round(CAST(1 AS DOUBLE) - CAST(cand AS DOUBLE) / " +
              "(CAST(n_v AS DOUBLE) * (n_v - 1) / 2), 6) AS reduction",
            "CAST(n_truth AS BIGINT) AS n_truth",
            "CAST(cov AS BIGINT) AS n_covered",
            "round(CAST(cov AS DOUBLE) / n_truth, 6) AS completeness")
      }.reduce(_ unionByName _).orderBy("scheme")
    }),

    // SINGLE LINKAGE: the converged Borůvka forest (Mst.run — O(log V)
    // rounds, loud contract), cut at w ≤ min(w)+slack, hooking CC over
    // the KEPT FOREST edges only (≤ V−1 of them — never the full graph),
    // cluster sizes for clusters of ≥ 2. The oracle never sees the MST:
    // it takes components of the thresholded original graph directly —
    // the two are equal by the Kruskal exchange property, making this a
    // value-level proof of the forest.
    "q_single_linkage" -> ((s, dir) => {
      val os = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .distinct()
      val e = os.alias("a").join(os.alias("b"), Seq("ok"))
        .where(col("a.sk") < col("b.sk"))
        .groupBy(col("a.sk").as("u"), col("b.sk").as("v"))
        .agg(count(lit(1)).as("w"))
        .where(col("w") >= 5L)
        .selectExpr("CAST(u AS BIGINT) AS src", "CAST(v AS BIGINT) AS dst",
          "CAST(w AS BIGINT) AS w")
        .ckpt() // feeds the MST loop AND the threshold aggregate
      val tau = broadcast(e.agg((min("w") + SlSlack).as("tau")))
      val kept = graft.operators.Mst.run(e).crossJoin(tau)
        .where(col("w") <= col("tau"))
        .select(col("u").as("a"), col("v").as("b"))
      val (labels, _) = graft.operators.ConnectedComponents.labels(kept)
      labels.groupBy(col("l").as("cluster"))
        .agg(count(lit(1)).as("n_members"))
        .where(col("n_members") >= 2L)
        .selectExpr("CAST(cluster AS BIGINT) AS cluster",
          "CAST(n_members AS BIGINT) AS n_members")
        .orderBy("cluster")
    }),

    // NN-DESCENT: nn0 = per-vector top-1 within the capped (label ∩ LSH
    // bucket) groups (the q_mutual_knn candidate machinery), then ONE
    // refinement round — candidates from the O(V)-row nn0 table alone
    // (own neighbor, neighbor-of-neighbor through one self-join, reverse
    // edges), exact-integer-cosine rescore, top-1 kept. Candidate volume
    // is ≤ 3 rows per vector BY CONSTRUCTION — the whole round is O(V)
    // regardless of corpus size, which is precisely why NN-descent is
    // the scale path when buckets are too coarse.
    "q_nn_descent" -> ((s, dir) => {
      val bucketed = LlmOps.quantized(s, dir).where(col("nq") > 0)
        .withColumn("bucket",
          expr(LlmOps.lshBucketSparkExpr("q")).cast("long"))
        .ckpt()
      val ok = bucketed.groupBy("label", "bucket")
        .agg(count(lit(1)).as("gsz"))
        .where(col("gsz") <= LlmOps.BandBucketCap)
        .select("label", "bucket")
      // bk keeps the (label, bucket) keys for the base-graph self-join;
      // b is the key-free projection both rescore sides read
      val bk = bucketed.join(ok, Seq("label", "bucket")).ckpt()
      val b = bk.select("vec_id", "q", "nq")
      val pairs0 = bk.alias("a")
        .join(bk.alias("b"), col("a.label") === col("b.label")
          && col("a.bucket") === col("b.bucket")
          && col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("v"), col("b.vec_id").as("u"),
          expr("ivec_dot(a.q, b.q)").as("dot"),
          col("a.nq").as("na"), col("b.nq").as("nb"))
        .withColumn("cos", expr(s"round(${LlmOps.CosExpr}, 6)"))
        .select("v", "u", "cos")
      val nn0 = graft.operators.TopK.perKey(pairs0, Seq("v"),
        Seq(("cos", false), ("u", true)), 1).ckpt()
      // one descent round: v's candidates = {nn0(v)} ∪ {nn0(nn0(v))} ∪
      // {u : nn0(u) = v}; dedup, drop self, exact rescore, top-1
      val hop2 = nn0.select(col("v"), col("u").as("m"))
        .join(nn0.select(col("v").as("m"), col("u").as("u2")), "m")
        .select(col("v"), col("u2").as("u"))
      val rev = nn0.select(col("u").as("v"), col("v").as("u"))
      val cands = nn0.select("v", "u")
        .unionByName(hop2).unionByName(rev)
        .where(col("v") =!= col("u")).distinct()
      val rescored = cands
        .join(b.select(col("vec_id").as("v"), col("q").as("qa"),
          col("nq").as("na")), "v")
        .join(b.select(col("vec_id").as("u"), col("q").as("qb"),
          col("nq").as("nb")), "u")
        .select(col("v"), col("u"),
          expr("ivec_dot(qa, qb)").as("dot"),
          col("na"), col("nb"))
        .withColumn("cos", expr(s"round(${LlmOps.CosExpr}, 6)"))
        .select("v", "u", "cos")
      val nn1 = graft.operators.TopK.perKey(rescored, Seq("v"),
        Seq(("cos", false), ("u", true)), 1)
      nn0.select(col("v"), col("u").as("u0"), col("cos").as("cos0"))
        .join(nn1.select(col("v"), col("u").as("u1"), col("cos").as("cos1")),
          "v")
        .selectExpr("v", "u0", "cos0", "u1", "cos1",
          "CAST(CASE WHEN cos1 > cos0 THEN 1 ELSE 0 END AS BIGINT)" +
            " AS improved")
        .orderBy("v")
    }),
  )

  private val VocabSql =
    s"""${Reference.ToksSql},
       |words AS (SELECT DISTINCT word FROM toks
       |          WHERE regexp_matches(word, '^[ -~]+$$'))""".stripMargin

  /** Co-purchase w ≥ 5 edges (the q_mst `e` CTE). */
  private val CoEdgeSql =
    """os AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
      |),
      |e AS MATERIALIZED (
      |  SELECT CAST(a.sk AS BIGINT) AS u, CAST(b.sk AS BIGINT) AS v,
      |         CAST(count(*) AS BIGINT) AS w
      |  FROM os a JOIN os b ON a.ok = b.ok AND a.sk < b.sk
      |  GROUP BY 1, 2 HAVING count(*) >= 5
      |)""".stripMargin

  val oracle: Map[String, String] = strictMap(

    "q_blocking_quality" -> {
      val allPairs = "CAST(n_v AS DOUBLE) * (n_v - 1) / 2"
      s"""WITH $VocabSql,
         |truth AS (
         |  SELECT x.word AS w1, y.word AS w2
         |  FROM words x JOIN words y
         |    ON x.word < y.word AND levenshtein(x.word, y.word) <= 2
         |),
         |nv AS (SELECT CAST(count(*) AS BIGINT) AS n_v FROM words),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
         |r AS (SELECT word, row_number() OVER (ORDER BY word) AS rk
         |      FROM words),
         |pc AS (SELECT coalesce(sum(CAST(n AS HUGEINT) * (n - 1) // 2),
         |                       CAST(0 AS HUGEINT)) AS cand
         |       FROM (SELECT substring(word, 1, 2) AS k, count(*) AS n
         |             FROM words GROUP BY 1)),
         |lc AS (SELECT coalesce(sum(CAST(n AS HUGEINT) * (n - 1) // 2),
         |                       CAST(0 AS HUGEINT)) AS cand
         |       FROM (SELECT length(word) AS k, count(*) AS n
         |             FROM words GROUP BY 1)),
         |sc AS (SELECT CAST(GREATEST($SnWindow * n_v -
         |                ${SnWindow * (SnWindow + 1) / 2}, 0) AS HUGEINT)
         |         AS cand FROM nv),
         |pcov AS (SELECT CAST(count(*) AS BIGINT) AS cov FROM truth
         |         WHERE substring(w1, 1, 2) = substring(w2, 1, 2)),
         |lcov AS (SELECT CAST(count(*) AS BIGINT) AS cov FROM truth
         |         WHERE length(w1) = length(w2)),
         |scov AS (
         |  SELECT CAST(count(*) AS BIGINT) AS cov
         |  FROM truth
         |  JOIN r a ON truth.w1 = a.word
         |  JOIN r b ON truth.w2 = b.word
         |  WHERE b.rk - a.rk <= $SnWindow
         |)
         |SELECT scheme, CAST(cand AS BIGINT) AS n_candidates,
         |  round(CAST(1 AS DOUBLE) - CAST(cand AS DOUBLE) / ($allPairs), 6)
         |    AS reduction,
         |  n_truth, cov AS n_covered,
         |  round(CAST(cov AS DOUBLE) / n_truth, 6) AS completeness
         |FROM (
         |  SELECT 'prefix2' AS scheme, pc.cand, nt.n_truth, pcov.cov, nv.n_v
         |  FROM pc, nt, pcov, nv
         |  UNION ALL
         |  SELECT 'length', lc.cand, nt.n_truth, lcov.cov, nv.n_v
         |  FROM lc, nt, lcov, nv
         |  UNION ALL
         |  SELECT 'sorted_neighborhood', sc.cand, nt.n_truth, scov.cov, nv.n_v
         |  FROM sc, nt, scov, nv
         |) ORDER BY scheme""".stripMargin
    },

    "q_single_linkage" -> {
      // components of the thresholded ORIGINAL graph — never the MST —
      // via the same unrolled MATERIALIZED hooking stages as q_mst
      val (ccFrags, last) = Wave36.ccStageSql("sl", "symsl", "comp0sl")
      s"""WITH $CoEdgeSql,
         |ecut AS MATERIALIZED (
         |  SELECT u, v FROM e
         |  WHERE w <= (SELECT min(w) + $SlSlack FROM e)),
         |vertsl AS MATERIALIZED (
         |  SELECT u AS x FROM ecut UNION SELECT v FROM ecut),
         |comp0sl AS MATERIALIZED (SELECT x AS v, x AS l FROM vertsl),
         |symsl AS MATERIALIZED (
         |  SELECT u AS a, v AS b FROM ecut
         |  UNION ALL SELECT v, u FROM ecut),
         |${ccFrags.mkString(",\n")}
         |SELECT CAST(l AS BIGINT) AS cluster,
         |       CAST(count(*) AS BIGINT) AS n_members
         |FROM $last GROUP BY l HAVING count(*) >= 2
         |ORDER BY cluster""".stripMargin
    },

    "q_nn_descent" ->
      s"""WITH ${LlmOps.QuantizedNormSql},
         |${LlmOps.lshBucketSql},
         |qv AS MATERIALIZED (
         |  SELECT e.vec_id, e.label, e.embedding, qn.nq, b.bucket
         |  FROM embeddings e
         |  JOIN qn ON e.vec_id = qn.vec_id
         |  JOIN buckets b ON e.vec_id = b.vec_id
         |  WHERE qn.nq > 0),
         |okg AS (SELECT label, bucket FROM qv
         |        GROUP BY label, bucket
         |        HAVING count(*) <= ${LlmOps.BandBucketCap}),
         |qb AS MATERIALIZED (SELECT qv.* FROM qv JOIN okg USING (label, bucket)),
         |p0 AS (
         |  SELECT a.vec_id AS v, b.vec_id AS u, a.embedding AS ea,
         |         b.embedding AS eb, a.nq AS na, b.nq AS nb
         |  FROM qb a JOIN qb b ON a.label = b.label
         |                     AND a.bucket = b.bucket
         |                     AND a.vec_id <> b.vec_id
         |),
         |d0 AS (
         |  SELECT v, u, na, nb,
         |    CAST(sum(${LlmOps.quantSqlElem("ea[i]")} *
         |             ${LlmOps.quantSqlElem("eb[i]")}) AS BIGINT) AS dot
         |  FROM (SELECT p0.*, unnest(generate_series(1, len(ea))) AS i FROM p0)
         |  GROUP BY v, u, na, nb
         |),
         |c0 AS (SELECT v, u, round(${LlmOps.CosExpr}, 6) AS cos FROM d0),
         |nn0 AS MATERIALIZED (
         |  SELECT v, u, cos FROM (
         |    SELECT v, u, cos,
         |      row_number() OVER (PARTITION BY v ORDER BY cos DESC, u) AS rn
         |    FROM c0) WHERE rn = 1
         |),
         |cands AS MATERIALIZED (
         |  SELECT DISTINCT v, u FROM (
         |    SELECT v, u FROM nn0
         |    UNION ALL
         |    SELECT x.v, y.u FROM nn0 x JOIN nn0 y ON x.u = y.v
         |    UNION ALL
         |    SELECT u AS v, v AS u FROM nn0
         |  ) WHERE v <> u
         |),
         |p1 AS (
         |  SELECT c.v, c.u, a.embedding AS ea, b.embedding AS eb,
         |         a.nq AS na, b.nq AS nb
         |  FROM cands c
         |  JOIN qb a ON c.v = a.vec_id
         |  JOIN qb b ON c.u = b.vec_id
         |),
         |d1 AS (
         |  SELECT v, u, na, nb,
         |    CAST(sum(${LlmOps.quantSqlElem("ea[i]")} *
         |             ${LlmOps.quantSqlElem("eb[i]")}) AS BIGINT) AS dot
         |  FROM (SELECT p1.*, unnest(generate_series(1, len(ea))) AS i FROM p1)
         |  GROUP BY v, u, na, nb
         |),
         |c1 AS (SELECT v, u, round(${LlmOps.CosExpr}, 6) AS cos FROM d1),
         |nn1 AS (
         |  SELECT v, u, cos FROM (
         |    SELECT v, u, cos,
         |      row_number() OVER (PARTITION BY v ORDER BY cos DESC, u) AS rn
         |    FROM c1) WHERE rn = 1
         |)
         |SELECT nn0.v AS v, nn0.u AS u0, nn0.cos AS cos0,
         |  nn1.u AS u1, nn1.cos AS cos1,
         |  CAST(CASE WHEN nn1.cos > nn0.cos THEN 1 ELSE 0 END AS BIGINT)
         |    AS improved
         |FROM nn0 JOIN nn1 ON nn0.v = nn1.v
         |ORDER BY v""".stripMargin,
  )
}

/** Wave-38 additions — similarity-as-labeler, mixing audits, Luby MIS:
  *
  *  - q_knn_classify: kNN label prediction over the capped LSH buckets —
  *    each vector's label predicted by the majority vote of its top-3
  *    bucket neighbors (bucket-blocked only, NEVER label-blocked: using
  *    the target label to block would be circular), scored per true
  *    label. The "similarity search used as an annotator" evaluation a
  *    training pipeline runs before trusting embedding-propagated labels.
  *  - q_corpus_overlap: the cross-source n-gram overlap matrix — for
  *    every source pair, the count of shared distinct token-trigrams and
  *    both containment directions. The data-mixing audit ("how much of
  *    source B is already in source A") that q_mix_sources' weights and
  *    q_contamination's train/test split don't cover.
  *  - q_mis: Luby's maximal-independent-set (1986), 3 bounded rounds —
  *    deterministic md5-derived UNIQUE priorities, a vertex joins when
  *    its priority beats every remaining neighbor's, winners + their
  *    neighborhoods retire. The classic symmetry-breaking primitive
  *    (scheduling, graph coloring seeds) beside q_matching; identical
  *    unrolled rounds in the oracle (the q_matching precedent).
  *
  * Determinism: votes, overlaps and priorities are pure integer algebra;
  * kNN neighbor ranks order by the exact-integer-dot cosine (identical
  * IEEE divisions both engines) with id tie-breaks. */
object Wave38 extends Catalog {

  private val KnnK = 3
  private val MisRounds = 3

  /** Unique MIS priority: 6 md5 hex chars (< 2²⁴) × 10¹¹ + v — max value
    * ≈ 1.7e18, inside int64, and vertex ids up to 10¹¹ keep priorities
    * unique (l_partkey at sf=10 is ~2e7; 10¹¹ covers any plausible SF).
    * A raise_error column in the initial active-set plan guards the
    * precondition in-plan — no driver collect, no job, no NPE on an
    * empty edge set. Uniqueness makes the strict `<` comparison a total
    * order — no (priority, id) tuple compares needed. */
  private val PriorityStride = 100000000000L // 10^11
  private def prioritySpark(v: String): String =
    s"CAST(conv(substring(md5(concat('mis:', CAST($v AS STRING))), 1, 6), 16, 10) AS BIGINT) * $PriorityStride + $v"
  private def prioritySql(v: String): String =
    s"${hexLongSql(s"md5('mis:' || CAST($v AS VARCHAR))", 1, 6)} * $PriorityStride + $v"

  val queries: Map[String, Q] = strictMap(

    // KNN CLASSIFY: candidates from the capped LSH buckets (the
    // q_dedup_embcos machinery — over-cap buckets dropped, pairs bounded
    // at C(cap,2) per bucket), top-3 neighbors per vector by exact
    // cosine, majority vote with (count desc, label asc) tie-break,
    // per-true-label accuracy. Vectors in dropped/singleton buckets
    // simply aren't evaluated (mirrored in the oracle).
    "q_knn_classify" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val bucketed = LlmOps.quantized(s, dir).where(col("nq") > 0)
        .withColumn("bucket",
          expr(LlmOps.lshBucketSparkExpr("q")).cast("long"))
        .ckpt()
      val ok = bucketed.groupBy("bucket").agg(count(lit(1)).as("bsz"))
        .where(col("bsz") <= LlmOps.BandBucketCap).select("bucket")
      val b = bucketed.join(ok, Seq("bucket")).ckpt()
      val nbrs = b.alias("a")
        .join(b.alias("c"), col("a.bucket") === col("c.bucket")
          && col("a.vec_id") =!= col("c.vec_id"))
        .select(col("a.vec_id").as("v"), col("a.label").as("true_label"),
          col("c.vec_id").as("cand"), col("c.label").as("nlabel"),
          expr("ivec_dot(a.q, c.q)").as("dot"),
          col("a.nq").as("na"), col("c.nq").as("nb"))
        .withColumn("cos", expr(LlmOps.CosExpr))
        .withColumn("rn", row_number().over(Window.partitionBy("v")
          .orderBy(desc("cos"), asc("cand"))))
        .where(col("rn") <= KnnK)
      val votes = nbrs.groupBy("v", "true_label", "nlabel")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("vr", row_number().over(Window.partitionBy("v")
          .orderBy(desc("cnt"), asc("nlabel"))))
        .where(col("vr") === 1)
      votes.groupBy(col("true_label").cast("long").as("label"))
        .agg(count(lit(1)).as("n_eval"),
          sum(when(col("nlabel") === col("true_label"), 1L).otherwise(0L))
            .as("n_correct"))
        .selectExpr("label", "CAST(n_eval AS BIGINT) AS n_eval",
          "CAST(n_correct AS BIGINT) AS n_correct",
          "round(CAST(n_correct AS DOUBLE) / n_eval, 6) AS accuracy")
        .orderBy("label")
    }),

    // CORPUS OVERLAP: distinct (source, trigram) pairs — ONE explode +
    // distinct — then a shingle-keyed self-join whose per-shingle output
    // is bounded by C(#sources, 2) (a CONSTANT: sources are a catalog,
    // not data), per-pair shared counts + both containments. Linear in
    // corpus shingles at any scale.
    "q_corpus_overlap" -> ((s, dir) => {
      val tri = table(s, dir, "documents")
        .select(col("source"),
          graft.operators.Tokenize.tokenArray(col("text")).as("ws"))
        .where(size(col("ws")) >= 3)
        .select(col("source"), explode(expr(
          "transform(sequence(1, size(ws)-2), i -> concat_ws(' ', element_at(ws,i), element_at(ws,i+1), element_at(ws,i+2)))"))
          .as("sh"))
        .distinct()
        .ckpt() // per-source sizes + both self-join sides
      val sz = tri.groupBy("source").agg(count(lit(1)).as("n"))
      val co = tri.alias("x")
        .join(tri.alias("y"),
          col("x.sh") === col("y.sh") && col("x.source") < col("y.source"))
        .groupBy(col("x.source").as("s1"), col("y.source").as("s2"))
        .agg(count(lit(1)).as("n_common"))
      co.join(sz.select(col("source").as("s1"), col("n").as("n_s1")), "s1")
        .join(sz.select(col("source").as("s2"), col("n").as("n_s2")), "s2")
        .selectExpr("s1", "s2", "CAST(n_common AS BIGINT) AS n_common",
          "CAST(n_s1 AS BIGINT) AS n_s1", "CAST(n_s2 AS BIGINT) AS n_s2",
          "round(CAST(n_common AS DOUBLE) / n_s1, 6) AS containment_in_s1",
          "round(CAST(n_common AS DOUBLE) / n_s2, 6) AS containment_in_s2")
        .orderBy("s1", "s2")
    }),

    // MIS: per round ONE neighbor-min shuffle (p(v) vs min over active
    // neighbors; unique priorities make strict < a total order), winners
    // + their neighborhoods retire via two anti-joins. 3 bounded rounds,
    // identically unrolled in the oracle; isolated survivors join (min
    // over an empty neighborhood is +∞). Runs on the PART co-occurrence
    // graph (the q_kcore edges: basket ≤ 64, support ≥ 2) — the supplier
    // projection is COMPLETE at harness scale (its MIS is one vertex);
    // the part graph is sparse, so rounds do real symmetry-breaking.
    "q_mis" -> ((s, dir) => {
      val b0 = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val small = b0.groupBy("ok").agg(count(lit(1)).as("bsz"))
        .where(col("bsz") <= 64).select("ok")
      val bb = b0.join(small, "ok")
      // ckpt the projection ONCE: active and edges both consume it, and
      // un-materialized it would re-run the data-scale basket self-join
      // per consumer (measured: 2.4 s of q_mis's 11.9 s median was this
      // second projection run)
      val e0 = bb.select(col("ok"), col("pk").as("u"))
        .join(bb.select(col("ok"), col("pk").as("v")), "ok")
        .where(col("u") < col("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("support"))
        .where(col("support") >= 2L)
        .selectExpr("CAST(u AS BIGINT) AS u", "CAST(v AS BIGINT) AS v")
        .ckpt()
      // in-plan precondition: ids must stay below the priority stride so
      // priorities are unique; fires during the eager ckpt materialization
      // (zero extra jobs, trivially true on an empty edge set)
      var active = e0.select(explode(array(col("u"), col("v"))).as("x"))
        .distinct()
        .select(when(col("x") >= lit(PriorityStride),
          raise_error(concat(lit("MIS priority stride assumes vertex ids < 10^11, got "),
            col("x").cast("string"))).cast("long"))
          .otherwise(col("x")).as("x"))
        .ckpt()
      var edges = e0
      val out = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      for (r <- 1 to MisRounds) {
        // cheap md5 projection over the ckpt'd active set — both
        // consumers (neighbor-min side, winner join) recompute it faster
        // than an eager barrier would materialize it
        val pri = active.select(col("x").as("v"),
          expr(prioritySpark("x")).as("p"))
        val sym = edges.select(col("u").as("v"), col("v").as("n"))
          .unionByName(edges.select(col("v").as("v"), col("u").as("n")))
        val nbrMin = sym
          .join(pri.select(col("v").as("n"), col("p").as("np")), "n")
          .groupBy("v").agg(min("np").as("minp"))
        val mis = pri.join(nbrMin, Seq("v"), "left_outer")
          .where(col("minp").isNull || col("p") < col("minp"))
          .select(col("v")).ckpt() // output + retirement joins
        out += mis.select(col("v"), lit(r.toLong).as("round"))
        val retired = mis
          .unionByName(sym.join(mis, Seq("v")).select(col("n").as("v")))
          .distinct()
        active = active.join(retired.select(col("v").as("x")),
          Seq("x"), "left_anti").ckpt()
        edges = edges
          .join(retired.select(col("v").as("u")), Seq("u"), "left_anti")
          .join(retired.select(col("v")), Seq("v"), "left_anti")
          .ckpt()
      }
      out.reduce(_ unionByName _)
        .selectExpr("CAST(v AS BIGINT) AS v", "CAST(round AS BIGINT) AS round")
        .orderBy("round", "v")
    }),
  )

  private val TriSql =
    s"""t AS (
       |  SELECT source,
       |    regexp_split_to_array(trim(regexp_replace(text, '$DelimSql', ' ', 'g')), ' ') AS ws
       |  FROM documents
       |),
       |tt AS (SELECT * FROM t WHERE len(ws) >= 3),
       |tri AS (
       |  SELECT DISTINCT source,
       |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
       |  FROM (SELECT source, ws,
       |               unnest(generate_series(1, len(ws)-2)) AS i FROM tt)
       |)""".stripMargin

  /** One unrolled Luby round over active set a$p / edges e$p. Every CTE
    * is MATERIALIZED: the round chain references e/sym/ret several times
    * each, and DuckDB's default inlining re-evaluates the whole upstream
    * chain per reference — multiplicative across 3 rounds (the q_mst
    * oracle lesson; unhinted this oracle did not finish in minutes). */
  private def misRoundSql(i: Int): String = {
    val p = i - 1
    s"""pri$i AS MATERIALIZED (SELECT x AS v, ${prioritySql("x")} AS p FROM a$p),
       |sym$i AS MATERIALIZED (SELECT u AS v, v AS n FROM e$p
       |          UNION ALL SELECT v, u FROM e$p),
       |nm$i AS MATERIALIZED (
       |  SELECT s.v, min(pp.p) AS minp
       |  FROM sym$i s JOIN pri$i pp ON s.n = pp.v
       |  GROUP BY s.v
       |),
       |m$i AS MATERIALIZED (
       |  SELECT pri$i.v FROM pri$i LEFT JOIN nm$i ON pri$i.v = nm$i.v
       |  WHERE nm$i.minp IS NULL OR pri$i.p < nm$i.minp
       |),
       |ret$i AS MATERIALIZED (
       |  SELECT v FROM m$i
       |  UNION
       |  SELECT s.n AS v FROM sym$i s JOIN m$i ON s.v = m$i.v
       |),
       |a$i AS MATERIALIZED (
       |  SELECT x FROM a$p WHERE x NOT IN (SELECT v FROM ret$i)),
       |e$i AS MATERIALIZED (
       |  SELECT u, v FROM e$p
       |  WHERE u NOT IN (SELECT v FROM ret$i)
       |    AND v NOT IN (SELECT v FROM ret$i))""".stripMargin
  }

  val oracle: Map[String, String] = strictMap(

    "q_knn_classify" ->
      s"""WITH ${LlmOps.QuantizedNormSql},
         |${LlmOps.lshBucketSql},
         |sel AS (SELECT e.vec_id, e.label, e.embedding, qn.nq, b.bucket
         |        FROM embeddings e
         |        JOIN qn ON e.vec_id = qn.vec_id
         |        JOIN buckets b ON e.vec_id = b.vec_id
         |        WHERE qn.nq > 0),
         |ok AS (SELECT bucket FROM sel
         |       GROUP BY bucket HAVING count(*) <= ${LlmOps.BandBucketCap}),
         |sb AS (SELECT sel.* FROM sel JOIN ok USING (bucket)),
         |p AS (
         |  SELECT a.vec_id AS v, a.label AS true_label,
         |         c.vec_id AS cand, c.label AS nlabel,
         |         a.embedding AS ea, c.embedding AS eb,
         |         a.nq AS na, c.nq AS nb
         |  FROM sb a JOIN sb c
         |    ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
         |),
         |d AS (
         |  SELECT v, true_label, cand, nlabel, na, nb,
         |    CAST(sum(${LlmOps.quantSqlElem("ea[i]")} *
         |             ${LlmOps.quantSqlElem("eb[i]")}) AS BIGINT) AS dot
         |  FROM (SELECT p.*, unnest(generate_series(1, len(ea))) AS i FROM p)
         |  GROUP BY v, true_label, cand, nlabel, na, nb
         |),
         |n3 AS (
         |  SELECT v, true_label, nlabel FROM (
         |    SELECT v, true_label, nlabel,
         |      row_number() OVER (PARTITION BY v
         |        ORDER BY ${LlmOps.CosExpr} DESC, cand) AS rn
         |    FROM d) WHERE rn <= $KnnK
         |),
         |votes AS (
         |  SELECT v, true_label, nlabel FROM (
         |    SELECT v, true_label, nlabel,
         |      row_number() OVER (PARTITION BY v
         |        ORDER BY count(*) DESC, nlabel) AS vr
         |    FROM n3 GROUP BY v, true_label, nlabel
         |  ) WHERE vr = 1
         |)
         |SELECT CAST(true_label AS BIGINT) AS label,
         |  CAST(count(*) AS BIGINT) AS n_eval,
         |  CAST(sum(CASE WHEN nlabel = true_label THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_correct,
         |  round(CAST(sum(CASE WHEN nlabel = true_label THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*), 6) AS accuracy
         |FROM votes GROUP BY true_label ORDER BY label""".stripMargin,

    "q_corpus_overlap" ->
      s"""WITH $TriSql,
         |sz AS (SELECT source, count(*) AS n FROM tri GROUP BY source),
         |co AS (
         |  SELECT x.source AS s1, y.source AS s2, count(*) AS n_common
         |  FROM tri x JOIN tri y
         |    ON x.sh = y.sh AND x.source < y.source
         |  GROUP BY 1, 2
         |)
         |SELECT s1, s2, CAST(n_common AS BIGINT) AS n_common,
         |  CAST(a.n AS BIGINT) AS n_s1, CAST(b.n AS BIGINT) AS n_s2,
         |  round(CAST(n_common AS DOUBLE) / a.n, 6) AS containment_in_s1,
         |  round(CAST(n_common AS DOUBLE) / b.n, 6) AS containment_in_s2
         |FROM co
         |JOIN sz a ON co.s1 = a.source
         |JOIN sz b ON co.s2 = b.source
         |ORDER BY s1, s2""".stripMargin,

    "q_mis" -> {
      val rounds = (1 to MisRounds).map(misRoundSql).mkString(",\n")
      val out = (1 to MisRounds).map(i =>
        s"SELECT v, CAST($i AS BIGINT) AS round FROM m$i")
        .mkString("\nUNION ALL\n")
      s"""WITH b AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
         |),
         |small AS MATERIALIZED (
         |  SELECT ok FROM b GROUP BY ok HAVING count(*) <= 64),
         |e0 AS MATERIALIZED (
         |  SELECT CAST(a.pk AS BIGINT) AS u, CAST(c.pk AS BIGINT) AS v
         |  FROM (SELECT * FROM b JOIN small USING (ok)) a
         |  JOIN (SELECT * FROM b JOIN small USING (ok)) c USING (ok)
         |  WHERE a.pk < c.pk GROUP BY 1, 2 HAVING count(*) >= 2
         |),
         |a0 AS MATERIALIZED (SELECT u AS x FROM e0 UNION SELECT v FROM e0),
         |$rounds
         |SELECT CAST(v AS BIGINT) AS v, round
         |FROM ($out) ORDER BY round, v""".stripMargin
    },
  )
}
