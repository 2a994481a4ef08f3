package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Ckpt._

/** Retrieval-evaluation tier: the metrics a RAG / search pipeline runs
  * after q_bm25 (lexical), q_ann_* (semantic) and q_inverted_index have
  * built the rankers — hybrid rank fusion and graded ranking quality.
  *
  *  - `q_rrf_fusion`: reciprocal-rank fusion of the lexical BM25 list
  *    with a semantic pseudo-relevance-feedback list (the corpus-side
  *    embedding neighborhood of the top lexical hit) — the standard
  *    hybrid-retrieval merge (Cormack et al., SIGIR'09).
  *  - `q_ndcg`: NDCG@10 of the multi-query BM25 ranker against graded
  *    query-term relevance.
  *  - `q_mrr`: first-relevant-position / reciprocal rank per query.
  *
  * Determinism: every score that feeds a cross-engine compare is either
  * pure integer (RRF contributions are `10⁹ div (60+rank)`; DCG gains and
  * discounts are pre-computed integer literals shared by both engines) or
  * the established BM25/cosine spelling (identical arithmetic string both
  * sides, ties broken by id).
  *
  * Scale: per-query candidate sets are corpus-sized, so every per-query
  * ranking here is selected with the bounded-heap paths — global top-k via
  * TakeOrderedAndProject (`orderBy.limit`), per-query top-k via the native
  * [[graft.operators.TopK]] partial/final prune — never a window sort of a
  * full per-query group on one task. The display-rank windows run over the
  * ≤ k·|queries| survivors only.
  */
object Retrieval extends Catalog {

  type Q = (SparkSession, String) => DataFrame

  private def toks(s: SparkSession, dir: String): DataFrame = corpusToks(s, dir)

  /** q_item2item basket-size cap: baskets larger than this are dropped
    * before the within-basket self-join, bounding the pair fan-out at
    * C(cap,2) per basket (same discipline as `Relational.BasketCap`). */
  private val ItemBasketCap = 64

  /** The evaluation query set: qid → terms (all inside the harness
    * vocabulary; q1 is [[LlmOps.BmTerms]] with its one rare term). */
  private[queries] val QuerySets: Seq[(Long, Seq[String])] = Seq(
    1L -> LlmOps.BmTerms,
    2L -> Seq("join", "hash", "merge", "sort"),
    3L -> Seq("stream", "window", "batch", "filter"))

  /** RRF constant (Cormack et al. use 60) and the integer scale that makes
    * contributions exact: contrib = RrfScale div (RrfK + rank). */
  private val RrfK = 60L
  private val RrfScale = 1000000000L

  /** MMR: candidate pool, picks, and the λ-tradeoff score — ONE spelling
    * both engines (columns nrel ∈ [0,1], msim = max cos to selected). */
  private val MmrPool = 20
  private val MmrK = 5
  private val MmrScoreExpr = "round(0.7 * nrel - 0.3 * msim, 6)"

  /** NDCG@10 integer discount table: D(pos) = round(10⁸ / log2(pos+1)),
    * computed ONCE here and inlined as literals into both engines — the
    * only use of floating log is at catalog-build time. */
  private[queries] val NdcgDiscount: IndexedSeq[Long] =
    (1 to 10).map(p => Math.round(1e8 / (Math.log(p + 1.0) / Math.log(2.0))))

  /** CASE over [[NdcgDiscount]] — one spelling for Spark and DuckDB. */
  private def discountCase(pos: String): String =
    NdcgDiscount.zipWithIndex
      .map { case (d, i) => s"WHEN ${i + 1} THEN $d" }
      .mkString(s"CASE $pos ", " ", " ELSE 0 END")

  /** Graded gain: 2^rel − 1 for rel ∈ 0..3. */
  private def gainCase(rel: String): String =
    s"CASE $rel WHEN 1 THEN 1 WHEN 2 THEN 3 WHEN 3 THEN 7 ELSE 0 END"

  /** Per-(qid, doc) BM25 score + graded relevance over [[QuerySets]].
    * The chain is the q_bm25 shape run for all queries at once: the term
    * table (|queries|·|terms| rows) broadcasts into the token scan, so tf
    * is filtered BEFORE its shuffle; df/stats sides are tiny broadcasts.
    * rel = least(3, tf_total div 4) — graded ground truth derived from
    * term frequency, identical both engines. */
  private def scoredRel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qterms = QuerySets
      .flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("qid", "word")
    val t = toks(s, dir)
    val dl = t.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val tf = t.join(broadcast(qterms), "word")
      .groupBy("qid", "doc_id", "word").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("qid", "word").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    tf.join(broadcast(dfreq), Seq("qid", "word")).join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("contrib", expr(LlmOps.BmContribExpr))
      .groupBy("qid", "doc_id")
      .agg(dsum(col("contrib"), 6).as("score"), sum(col("tf")).as("tf_total"))
      .withColumn("rel", expr("least(CAST(3 AS BIGINT), tf_total div 4)"))
  }

  /** DuckDB twin of [[scoredRel]] — ends in CTE `scored`
    * (qid, doc_id, score, rel). */
  private def scoredRelSql: String = {
    val values = QuerySets
      .flatMap { case (qid, ts) => ts.map(t => s"($qid, '$t')") }
      .mkString(", ")
    s"""${Reference.ToksSql},
       |qterms AS (SELECT * FROM (VALUES $values) AS t(qid, word)),
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       |tf AS (SELECT qid, doc_id, word, count(*) AS tf
       |       FROM toks JOIN qterms USING (word) GROUP BY 1, 2, 3),
       |dfreq AS (SELECT qid, word, count(*) AS df FROM tf GROUP BY 1, 2),
       |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
       |          FROM dl),
       |c AS (
       |  SELECT tf.qid, tf.doc_id, tf.tf, ${LlmOps.BmContribExpr} AS contrib
       |  FROM tf JOIN dfreq USING (qid, word) JOIN dl USING (doc_id)
       |  CROSS JOIN stats
       |),
       |scored AS (
       |  SELECT qid, doc_id, ${dsumSql("contrib", 6)} AS score,
       |    least(CAST(3 AS BIGINT), CAST(sum(tf) AS BIGINT) // 4) AS rel
       |  FROM c GROUP BY qid, doc_id
       |)""".stripMargin
  }

  val queries: Map[String, Q] = strictMap(

    // Item-item collaborative filtering: cosine similarity on the
    // order-basket co-occurrence matrix (the classic "customers who
    // bought X also bought Y" recommender). Pairs are generated WITHIN
    // baskets only — the self-join shuffles on the order key — and
    // baskets larger than ItemBasketCap=64 are dropped BEFORE the
    // self-join (mirrored in the oracle), so the fan-out is hard-bounded
    // at C(64,2) per basket regardless of corpus size: one degenerate
    // million-item basket (a bot account) would otherwise emit ~10¹²
    // join rows, and oversized baskets carry no co-purchase signal
    // anyway (same cap discipline as q_freq_pairs and the LSH band
    // buckets). nᵢ counts ride the capped basket table too, so cos stays
    // a pure function of the capped matrix. cos = co/√(nᵢ·nⱼ) is two
    // IEEE ops (sqrt and one division — both correctly rounded, so
    // cross-engine exact) over exact BIGINT counts; the co ≥ 2 support
    // floor is part of the semantics (mirrored in the oracle) and is
    // what keeps the pair table sparse at scale. Top-50 by
    // (cos desc, ia, ib).
    "q_item2item" -> ((s, dir) => {
      val b0 = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("i"))
        .distinct()
      val small = b0.groupBy("o").agg(count(lit(1)).as("bsz"))
        .where(col("bsz") <= ItemBasketCap).select("o")
      val b = b0.join(small, "o").ckpt()
      val ni = b.groupBy("i").agg(count(lit(1)).as("n"))
      val co = b.alias("a")
        .join(b.alias("c"), col("a.o") === col("c.o") && col("a.i") < col("c.i"))
        .groupBy(col("a.i").as("ia"), col("c.i").as("ib"))
        .agg(count(lit(1)).as("co"))
        .where(col("co") >= 2)
      co.join(ni.select(col("i").as("ia"), col("n").as("na")), "ia")
        .join(ni.select(col("i").as("ib"), col("n").as("nb")), "ib")
        .select(col("ia"), col("ib"), col("co"),
          expr("round(co / sqrt(CAST(na * nb AS DOUBLE)), 6)").as("cos"))
        .orderBy(desc("cos"), asc("ia"), asc("ib")).limit(50)
    }),

    // Hybrid retrieval by reciprocal-rank fusion: list A = BM25 top-50
    // (lexical); list B = embedding-cosine top-50 neighbors of the BEST
    // lexical hit (pseudo-relevance feedback — vec_id aligns with doc_id
    // in the harness corpus). fused = Σ 10⁹ div (60 + rank) over the
    // lists containing the doc; absent-list ranks contribute 0. Both
    // top-50s are TakeOrderedAndProject selections (k rows per partition
    // cross the final gather — no global sort), the seed is a 1-row
    // broadcast, and the display window runs over ≤ 100 survivor rows.
    // Rank-biased overlap (Webber et al., TOIS'10) between two document
    // rankings — the rank-similarity audit run before swapping a ranker:
    // truncated RBO@20 with p = 1/2, so the weight (1−p)·p^(d−1) = 2^−d
    // is exact dyadic and each depth term is ONE correctly-rounded
    // division ov(d) / (d·2^d) over integers, decimal-summed. Rankings:
    // by raw length vs by distinct-word count (top-20 each via
    // TakeOrderedAndProject); overlap-at-depth runs over the ≤20-row
    // intersection × 20 depths — constant work after the rank selections.
    "q_rbo" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      def ranked(df: DataFrame, metric: String) =
        df.orderBy(desc(metric), asc("doc_id")).limit(20)
          .withColumn("rk", row_number()
            .over(Window.orderBy(desc(metric), asc("doc_id"))).cast("long"))
          .select("doc_id", "rk")
      val ra = ranked(table(s, dir, "documents").select("doc_id", "n_chars"),
        "n_chars")
        .withColumnRenamed("rk", "ra")
      val rb = ranked(
        toks(s, dir).groupBy("doc_id")
          .agg(count_distinct(col("word")).as("uniq")), "uniq")
        .withColumnRenamed("rk", "rb")
      val j = ra.join(rb, Seq("doc_id"))
      val depths = table(s, dir, "documents").limit(1)
        .select(explode(expr("sequence(1, 20)")).as("d"))
      val ov = depths.join(j,
          col("ra") <= col("d") && col("rb") <= col("d"), "left_outer")
        .groupBy("d").agg(count(col("doc_id")).as("ov"))
      ov.withColumn("term", expr(
          "round(CAST(ov AS DOUBLE) / CAST(d * shiftleft(1, CAST(d AS INT)) AS BIGINT), 8)"))
        .agg(max(lit(20L)).as("depth"), dsum(col("term"), 8).as("rbo"))
        .crossJoin(broadcast(j.agg(count(lit(1)).as("n_common"))))
        .select("depth", "n_common", "rbo")
    }),

    "q_rrf_fusion" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = toks(s, dir)
      val dl = t.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val tf = t.where(col("word").isin(LlmOps.BmTerms: _*))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
      val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      val bm = tf.join(broadcast(dfreq), "word").join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("contrib", expr(LlmOps.BmContribExpr))
        .groupBy("doc_id").agg(dsum(col("contrib"), 6).as("score"))
      val lex = bm.orderBy(desc("score"), asc("doc_id")).limit(50)
        .withColumn("lex_rank", row_number()
          .over(Window.orderBy(desc("score"), asc("doc_id"))).cast("long"))
        .select("doc_id", "lex_rank")
      val qn = LlmOps.quantized(s, dir) // (vec_id, label, q, nq)
      // PRF seed: the best lexical hit that has a usable (non-zero)
      // embedding — a 1-row broadcast, never a driver collect.
      val seed = lex
        .join(qn.where(col("nq") > 0).select(col("vec_id").as("doc_id"),
          col("q").as("qq"), col("nq").as("na")), "doc_id")
        .orderBy("lex_rank").limit(1)
        .select(col("doc_id").as("seed_id"), col("qq"), col("na"))
      val sem = qn.where(col("nq") > 0)
        .crossJoin(broadcast(seed))
        .where(col("vec_id") =!= col("seed_id"))
        .select(col("vec_id").as("doc_id"),
          expr("ivec_dot(qq, q)").as("dot"),
          col("na"), col("nq").as("nb"))
        .withColumn("cos", expr(LlmOps.CosExpr))
        .orderBy(desc("cos"), asc("doc_id")).limit(50)
        .withColumn("sem_rank", row_number()
          .over(Window.orderBy(desc("cos"), asc("doc_id"))).cast("long"))
        .select("doc_id", "sem_rank")
      lex.join(sem, Seq("doc_id"), "full_outer")
        .withColumn("lex_rank", coalesce(col("lex_rank"), lit(0L)))
        .withColumn("sem_rank", coalesce(col("sem_rank"), lit(0L)))
        .withColumn("rrf",
          expr(s"CASE WHEN lex_rank > 0 THEN $RrfScale div ($RrfK + lex_rank) ELSE 0 END" +
            s" + CASE WHEN sem_rank > 0 THEN $RrfScale div ($RrfK + sem_rank) ELSE 0 END"))
        .orderBy(desc("rrf"), asc("doc_id")).limit(20)
        .select("doc_id", "lex_rank", "sem_rank", "rrf")
    }),

    // NDCG@10 per evaluation query: ranked list = multi-query BM25 top-10
    // (native bounded-heap per-key selection — a 10¹¹-doc candidate set
    // never sorts on one task), graded relevance from query-term
    // frequency, DCG/IDCG as exact BIGINT sums over the literal integer
    // discount table, ndcg the single terminal division.
    "q_ndcg" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val sc = scoredRel(s, dir)
      val ranked = graft.operators.TopK.perKey(sc, Seq("qid"),
          Seq(("score", false), ("doc_id", true)), 10)
        .withColumn("pos", row_number().over(Window.partitionBy("qid")
          .orderBy(desc("score"), asc("doc_id"))).cast("long"))
        .withColumn("dg",
          expr(s"${gainCase("rel")} * (${discountCase("pos")})"))
        .groupBy("qid").agg(sum("dg").as("dcg_s"))
      val ideal = graft.operators.TopK.perKey(sc, Seq("qid"),
          Seq(("rel", false), ("doc_id", true)), 10)
        .withColumn("pos", row_number().over(Window.partitionBy("qid")
          .orderBy(desc("rel"), asc("doc_id"))).cast("long"))
        .withColumn("dg",
          expr(s"${gainCase("rel")} * (${discountCase("pos")})"))
        .groupBy("qid").agg(sum("dg").as("idcg_s"))
      ranked.join(ideal, "qid")
        .withColumn("ndcg",
          round(col("dcg_s").cast("double") / col("idcg_s"), 6))
        .orderBy("qid")
        .select("qid", "dcg_s", "idcg_s", "ndcg")
    }),

    // MMR diversification re-rank (Carbonell-Goldstein '98): greedily
    // pick 5 of the BM25 top-20, each round maximizing
    // λ·rel_norm − (1−λ)·max_sim-to-selected — the result-diversity pass
    // a RAG retriever runs so the context window isn't 5 near-duplicates.
    // The candidate set is BOUNDED (top-20 TakeOrderedAndProject), so the
    // 20×20 cosine matrix and the 5 unrolled greedy rounds are tiny
    // broadcast-side work whatever the corpus size; relevance and
    // similarity reuse the established BM25 / quantized-cosine spellings,
    // every score is 6-decimal-rounded before an argmax, ties to the
    // smaller doc_id.
    "q_mmr" -> ((s, dir) => {
      val t = toks(s, dir)
      val dl = t.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val tf = t.where(col("word").isin(LlmOps.BmTerms: _*))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
      val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      val bm = tf.join(broadcast(dfreq), "word").join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("contrib", expr(LlmOps.BmContribExpr))
        .groupBy("doc_id").agg(dsum(col("contrib"), 6).as("score"))
      val qn = LlmOps.quantized(s, dir).where(col("nq") > 0)
        .select(col("vec_id").as("doc_id"), col("q"), col("nq"))
      val cand = bm.join(qn, "doc_id")
        .orderBy(desc("score"), asc("doc_id")).limit(MmrPool)
        .crossJoin(broadcast(bm.agg(max("score").as("smax"))))
        .withColumn("nrel", expr("round(score / smax, 6)"))
        .select("doc_id", "nrel", "q", "nq")
        .ckpt() // tiny; reused by the sim matrix + every round
      val sims = cand.alias("a").select(col("a.doc_id").as("d1"),
          col("a.q").as("qa"), col("a.nq").as("na"))
        .crossJoin(cand.alias("b").select(col("b.doc_id").as("d2"),
          col("b.q").as("qb"), col("b.nq").as("nb")))
        .where(col("d1") =!= col("d2"))
        .select(col("d1"), col("d2"),
          expr("ivec_dot(qa, qb)").as("dot"),
          col("na"), col("nb"))
        .withColumn("sim", expr(s"round(${LlmOps.CosExpr}, 6)"))
        .select("d1", "d2", "sim")
        .ckpt()
      val c0 = cand.select("doc_id", "nrel")
      // round 1: empty selected set => msim = 0, score = λ·nrel
      // sel is ≤ r rows but read 3× per round (anti-join, sim filter,
      // union) — without the per-round ckpt the unrolled greedy loop
      // nests every prior round's plan inside the next (O(K²) replayed
      // selections; plan audit r7: 40 Exchanges / 120 broadcast joins)
      var sel = c0.withColumn("msim", lit(0.0))
        .withColumn("mmr", expr(MmrScoreExpr))
        .orderBy(desc("mmr"), asc("doc_id")).limit(1)
        .select(col("doc_id"), lit(1L).as("rank"), col("mmr"))
        .ckpt()
      for (r <- 2 to MmrK) {
        val rest = c0.join(sel.select("doc_id"), Seq("doc_id"), "left_anti")
        val scored = rest
          .join(sims.join(sel.select(col("doc_id").as("d2")), "d2")
              .groupBy(col("d1").as("doc_id"))
              .agg(max("sim").as("msim")),
            Seq("doc_id"), "left")
          .withColumn("msim", coalesce(col("msim"), lit(0.0)))
          .withColumn("mmr", expr(MmrScoreExpr))
        sel = sel.unionByName(
          scored.orderBy(desc("mmr"), asc("doc_id")).limit(1)
            .select(col("doc_id"), lit(r.toLong).as("rank"), col("mmr")))
          .ckpt()
      }
      sel.select(col("rank"), col("doc_id"), col("mmr")).orderBy("rank")
    }),

    // Mutual nearest neighbors (reciprocal best match) — the embedding-
    // alignment primitive (MUSE-style lexicon induction, entity
    // alignment): pairs (v, u) where each is the other's top-1 neighbor.
    // Candidate generation is BUCKETED, never all-pairs-within-label:
    // per-vector candidates are its label block ∩ its random-hyperplane
    // LSH bucket (the q_dedup_embcos machinery — one 8-bit bucket per
    // vector), and (label, bucket) groups over BandBucketCap vectors are
    // DROPPED before the self-join (the minhash band-join discipline), so
    // candidate volume is O(#groups·cap²) = O(n·cap) at any corpus size —
    // where blocking on label alone paid Θ(Σ n_label²) = Θ(n²/L) for a
    // constant label count. Top-1 per vector rides the native
    // bounded-heap TopKPerKey, and mutuality is one self-join on the
    // O(V)-row nn table. Exact-integer cosine, ties to smaller id; a
    // planted mutual pair survives because identical/near-identical
    // vectors land in the same hyperplane bucket (Wave36OpsSpec pins it).
    "q_mutual_knn" -> ((s, dir) => {
      // bucketed feeds the group-cap filter and BOTH self-join sides
      val bucketed = LlmOps.quantized(s, dir).where(col("nq") > 0)
        .withColumn("bucket",
          expr(LlmOps.lshBucketSparkExpr("q")).cast("long"))
        .ckpt()
      val ok = bucketed.groupBy("label", "bucket")
        .agg(count(lit(1)).as("gsz"))
        .where(col("gsz") <= LlmOps.BandBucketCap)
        .select("label", "bucket")
      val b = bucketed.join(ok, Seq("label", "bucket"))
      val cand = b.alias("a")
        .join(b.alias("b"), col("a.label") === col("b.label")
          && col("a.bucket") === col("b.bucket")
          && col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("v"), col("b.vec_id").as("u"),
          expr("ivec_dot(a.q, b.q)").as("dot"),
          col("a.nq").as("na"), col("b.nq").as("nb"))
        .withColumn("cos", expr(s"round(${LlmOps.CosExpr}, 6)"))
        .select("v", "u", "cos")
      val nn = graft.operators.TopK.perKey(cand, Seq("v"),
        Seq(("cos", false), ("u", true)), 1)
      nn.alias("x")
        .join(nn.alias("y"),
          col("x.v") === col("y.u") && col("x.u") === col("y.v"))
        .where(col("x.v") < col("x.u"))
        .select(col("x.v").as("v"), col("x.u").as("u"),
          col("x.cos").as("cos"))
        .orderBy("v")
    }),

    // Mean-reciprocal-rank inputs: the first relevant (rel ≥ 2) position
    // in each query's BM25 top-50, rr = 10⁶ div pos exact. Queries with
    // no relevant hit in the top-50 drop (same rule both engines).
    "q_mrr" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val sc = scoredRel(s, dir)
      graft.operators.TopK.perKey(sc, Seq("qid"),
          Seq(("score", false), ("doc_id", true)), 50)
        .withColumn("pos", row_number().over(Window.partitionBy("qid")
          .orderBy(desc("score"), asc("doc_id"))).cast("long"))
        .where(col("rel") >= 2)
        .groupBy("qid").agg(min("pos").as("first_pos"))
        .withColumn("rr_micro", expr("1000000 div first_pos"))
        .orderBy("qid")
        .select("qid", "first_pos", "rr_micro")
    }))

  /** One unrolled MMR greedy round for the oracle (sel = s1..s{i−1}). */
  private def mmrRoundSql(i: Int): String = {
    val selU = (1 until i).map(j => s"SELECT doc_id FROM s$j")
      .mkString(" UNION ALL ")
    s"""s$i AS (
       |  SELECT doc_id, CAST($i AS BIGINT) AS rank, $MmrScoreExpr AS mmr
       |  FROM (
       |    SELECT c0.doc_id, c0.nrel, coalesce(ms.msim, 0.0) AS msim
       |    FROM c0
       |    LEFT JOIN (
       |      SELECT d1 AS doc_id, max(sim) AS msim FROM sims
       |      WHERE d2 IN ($selU) GROUP BY d1
       |    ) ms USING (doc_id)
       |    WHERE c0.doc_id NOT IN ($selU)
       |  ) ORDER BY mmr DESC, doc_id LIMIT 1
       |)""".stripMargin
  }

  val oracle: Map[String, String] = strictMap(

    "q_rbo" ->
      s"""WITH ${Reference.ToksSql},
         |ra AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id)
         |    AS ra
         |  FROM documents ORDER BY n_chars DESC, doc_id LIMIT 20
         |),
         |uq AS (SELECT doc_id, count(DISTINCT word) AS uniq FROM toks
         |       GROUP BY 1),
         |rb AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY uniq DESC, doc_id)
         |    AS rb
         |  FROM uq ORDER BY uniq DESC, doc_id LIMIT 20
         |),
         |j AS (SELECT ra.doc_id, ra.ra, rb.rb FROM ra JOIN rb USING (doc_id)),
         |ov AS (
         |  SELECT d, count(doc_id) AS ov
         |  FROM (SELECT unnest(generate_series(1, 20)) AS d)
         |  LEFT JOIN j ON ra <= d AND rb <= d
         |  GROUP BY d
         |)
         |SELECT CAST(20 AS BIGINT) AS depth,
         |  (SELECT CAST(count(*) AS BIGINT) FROM j) AS n_common,
         |  CAST(sum(CAST(round(CAST(ov AS DOUBLE)
         |    / CAST(d * (1::BIGINT << CAST(d AS INT)) AS BIGINT), 8)
         |    AS DECIMAL(18,8))) AS DOUBLE) AS rbo
         |FROM ov""".stripMargin,

    "q_item2item" ->
      s"""WITH b0 AS (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS i FROM lineitem
         |),
         |small AS (
         |  SELECT o FROM b0 GROUP BY o HAVING count(*) <= $ItemBasketCap
         |),
         |b AS (SELECT b0.o, b0.i FROM b0 JOIN small USING (o)),
         |ni AS (SELECT i, count(*) AS n FROM b GROUP BY 1),
         |co AS (
         |  SELECT a.i AS ia, c.i AS ib, count(*) AS co
         |  FROM b a JOIN b c ON a.o = c.o AND a.i < c.i
         |  GROUP BY 1, 2 HAVING count(*) >= 2
         |)
         |SELECT ia, ib, co,
         |  round(co / sqrt(CAST(na.n * nb.n AS DOUBLE)), 6) AS cos
         |FROM co JOIN ni na ON na.i = co.ia JOIN ni nb ON nb.i = co.ib
         |ORDER BY cos DESC, ia, ib LIMIT 50""".stripMargin,

    "q_mmr" -> {
      val terms = LlmOps.inList(LlmOps.BmTerms)
      s"""WITH ${Reference.ToksSql},
         |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM toks
         |       WHERE word IN $terms GROUP BY doc_id, word),
         |dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
         |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
         |          FROM dl),
         |cb AS (
         |  SELECT tf.doc_id, ${LlmOps.BmContribExpr} AS contrib
         |  FROM tf JOIN dfreq USING (word) JOIN dl USING (doc_id)
         |  CROSS JOIN stats
         |),
         |bm AS (SELECT doc_id, ${dsumSql("contrib", 6)} AS score
         |       FROM cb GROUP BY doc_id),
         |${LlmOps.QuantizedNormSql},
         |cand AS (
         |  SELECT bm.doc_id,
         |    round(score / (SELECT max(score) FROM bm), 6) AS nrel,
         |    e.embedding, qn.nq
         |  FROM bm JOIN qn ON bm.doc_id = qn.vec_id
         |          JOIN embeddings e ON e.vec_id = qn.vec_id
         |  WHERE qn.nq > 0
         |  ORDER BY score DESC, bm.doc_id LIMIT $MmrPool
         |),
         |p AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, a.embedding AS ea,
         |         b.embedding AS eb, a.nq AS na, b.nq AS nb
         |  FROM cand a JOIN cand b ON a.doc_id <> b.doc_id
         |),
         |d AS (
         |  SELECT d1, d2, na, nb,
         |    CAST(sum(${LlmOps.quantSqlElem("ea[i]")} *
         |             ${LlmOps.quantSqlElem("eb[i]")}) AS BIGINT) AS dot
         |  FROM (SELECT p.*, unnest(generate_series(1, len(ea))) AS i FROM p)
         |  GROUP BY d1, d2, na, nb
         |),
         |sims AS (SELECT d1, d2, round(${LlmOps.CosExpr}, 6) AS sim FROM d),
         |c0 AS (SELECT doc_id, nrel FROM cand),
         |s1 AS (
         |  SELECT doc_id, CAST(1 AS BIGINT) AS rank, $MmrScoreExpr AS mmr
         |  FROM (SELECT doc_id, nrel, 0.0 AS msim FROM c0)
         |  ORDER BY mmr DESC, doc_id LIMIT 1
         |),
         |${(2 to MmrK).map(mmrRoundSql).mkString(",\n")}
         |${(1 to MmrK).map(i => s"SELECT rank, doc_id, mmr FROM s$i")
            .mkString("", "\nUNION ALL\n", "")}
         |ORDER BY rank""".stripMargin
    },

    "q_rrf_fusion" -> {
      val terms = LlmOps.inList(LlmOps.BmTerms)
      s"""WITH ${Reference.ToksSql},
         |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM toks
         |       WHERE word IN $terms GROUP BY doc_id, word),
         |dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
         |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
         |          FROM dl),
         |c AS (
         |  SELECT tf.doc_id, ${LlmOps.BmContribExpr} AS contrib
         |  FROM tf JOIN dfreq USING (word) JOIN dl USING (doc_id)
         |  CROSS JOIN stats
         |),
         |bm AS (SELECT doc_id, ${dsumSql("contrib", 6)} AS score
         |       FROM c GROUP BY doc_id),
         |lex AS (
         |  SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
         |      AS lex_rank
         |  FROM bm ORDER BY score DESC, doc_id LIMIT 50
         |),
         |${LlmOps.QuantizedNormSql},
         |qv AS (SELECT e.vec_id, e.embedding, qn.nq FROM embeddings e
         |       JOIN qn ON e.vec_id = qn.vec_id WHERE qn.nq > 0),
         |seed AS (
         |  SELECT qv.vec_id AS seed_id, qv.embedding AS eq, qv.nq AS na
         |  FROM lex JOIN qv ON lex.doc_id = qv.vec_id
         |  ORDER BY lex_rank LIMIT 1
         |),
         |d AS (
         |  SELECT vec_id AS doc_id, na, nq AS nb,
         |    CAST(sum(${LlmOps.quantSqlElem("eq[i]")} *
         |             ${LlmOps.quantSqlElem("embedding[i]")}) AS BIGINT) AS dot
         |  FROM (SELECT qv.*, seed.*, unnest(generate_series(1, len(eq))) AS i
         |        FROM qv CROSS JOIN seed WHERE qv.vec_id <> seed.seed_id)
         |  GROUP BY 1, 2, 3
         |),
         |sem AS (
         |  SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY ${LlmOps.CosExpr} DESC, doc_id)
         |      AS BIGINT) AS sem_rank
         |  FROM d ORDER BY ${LlmOps.CosExpr} DESC, doc_id LIMIT 50
         |),
         |fused AS (
         |  SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
         |    coalesce(lex_rank, 0) AS lex_rank,
         |    coalesce(sem_rank, 0) AS sem_rank
         |  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
         |)
         |SELECT doc_id, lex_rank, sem_rank,
         |  (CASE WHEN lex_rank > 0 THEN $RrfScale // ($RrfK + lex_rank) ELSE 0 END
         |   + CASE WHEN sem_rank > 0 THEN $RrfScale // ($RrfK + sem_rank) ELSE 0 END)
         |  AS rrf
         |FROM fused ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin
    },

    "q_ndcg" ->
      s"""WITH $scoredRelSql,
         |ranked AS (
         |  SELECT qid, CAST(sum(${gainCase("rel")} * (${discountCase("pos")}))
         |    AS BIGINT) AS dcg_s
         |  FROM (SELECT qid, rel,
         |          row_number() OVER (PARTITION BY qid
         |            ORDER BY score DESC, doc_id) AS pos
         |        FROM scored)
         |  WHERE pos <= 10 GROUP BY qid
         |),
         |ideal AS (
         |  SELECT qid, CAST(sum(${gainCase("rel")} * (${discountCase("pos")}))
         |    AS BIGINT) AS idcg_s
         |  FROM (SELECT qid, rel,
         |          row_number() OVER (PARTITION BY qid
         |            ORDER BY rel DESC, doc_id) AS pos
         |        FROM scored)
         |  WHERE pos <= 10 GROUP BY qid
         |)
         |SELECT qid, dcg_s, idcg_s,
         |  round(CAST(dcg_s AS DOUBLE) / idcg_s, 6) AS ndcg
         |FROM ranked JOIN ideal USING (qid) ORDER BY qid""".stripMargin,

    "q_mutual_knn" ->
      s"""WITH ${LlmOps.QuantizedNormSql},
         |${LlmOps.lshBucketSql},
         |qv AS (SELECT e.vec_id, e.label, e.embedding, qn.nq, b.bucket
         |       FROM embeddings e
         |       JOIN qn ON e.vec_id = qn.vec_id
         |       JOIN buckets b ON e.vec_id = b.vec_id
         |       WHERE qn.nq > 0),
         |ok AS (SELECT label, bucket FROM qv
         |       GROUP BY label, bucket
         |       HAVING count(*) <= ${LlmOps.BandBucketCap}),
         |qb AS (SELECT qv.* FROM qv JOIN ok USING (label, bucket)),
         |p AS (
         |  SELECT a.vec_id AS v, b.vec_id AS u, a.embedding AS ea,
         |         b.embedding AS eb, a.nq AS na, b.nq AS nb
         |  FROM qb a JOIN qb b ON a.label = b.label
         |                     AND a.bucket = b.bucket
         |                     AND a.vec_id <> b.vec_id
         |),
         |d AS (
         |  SELECT v, u, na, nb,
         |    CAST(sum(${LlmOps.quantSqlElem("ea[i]")} *
         |             ${LlmOps.quantSqlElem("eb[i]")}) AS BIGINT) AS dot
         |  FROM (SELECT p.*, unnest(generate_series(1, len(ea))) AS i FROM p)
         |  GROUP BY v, u, na, nb
         |),
         |c AS (SELECT v, u, round(${LlmOps.CosExpr}, 6) AS cos FROM d),
         |nn AS (
         |  SELECT v, u, cos FROM (
         |    SELECT v, u, cos,
         |      row_number() OVER (PARTITION BY v ORDER BY cos DESC, u) AS rn
         |    FROM c) WHERE rn = 1
         |)
         |SELECT x.v AS v, x.u AS u, x.cos AS cos
         |FROM nn x JOIN nn y ON x.v = y.u AND x.u = y.v
         |WHERE x.v < x.u ORDER BY v""".stripMargin,

    "q_mrr" ->
      s"""WITH $scoredRelSql
         |SELECT qid, CAST(min(pos) AS BIGINT) AS first_pos,
         |  1000000 // CAST(min(pos) AS BIGINT) AS rr_micro
         |FROM (SELECT qid, rel,
         |        row_number() OVER (PARTITION BY qid
         |          ORDER BY score DESC, doc_id) AS pos
         |      FROM scored)
         |WHERE pos <= 50 AND rel >= 2
         |GROUP BY qid ORDER BY qid""".stripMargin)
}
