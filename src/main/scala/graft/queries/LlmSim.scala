package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity-search / representation family — brute-force ANN top-k,
  * IVF / PQ / LSH approximate variants, k-means and silhouette, TF-IDF /
  * BM25 retrieval scoring, feature hashing and random projection. Split
  * from LlmOps.scala (round 10) along the family seam; shared constants
  * and the determinism contract live in [[LlmOps]].
  */
object LlmSim extends Catalog {
  import LlmOps._

  val queries: Map[String, Q] = strictMap(
    // Brute-force cosine top-k ANN for sampled query vectors: the exactness
    // baseline; rank by unrounded (but deterministic) cosine, tie-break id.
    // The query set is a CONSTANT k = AnnQueryK vectors (largest exact
    // integer self-norm, tie-break vec_id — a deterministic selection both
    // engines can replay), NOT a constant fraction of the corpus: with a
    // fractional query set the brute-force join is Θ(n²), while k·n scans
    // stay linear in the corpus and the k-row query side broadcasts.
    "q_ann_topk" -> ((s, dir) => {
      val all = quantized(s, dir)
      val qs = all.where(col("nq") > 0)
        .orderBy(desc("nq"), asc("vec_id")).limit(AnnQueryK)
        .select(col("vec_id").as("q_id"), col("q").as("qq"), col("nq").as("na"))
      val scored = broadcast(qs)
        .join(all.where(col("nq") > 0), col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id").as("cand_id"),
          expr("ivec_dot(qq, q)")
            .as("dot"),
          col("na"), col("nq").as("nb"))
        .withColumn("cos", expr(CosExpr))
      import org.apache.spark.sql.expressions.Window
      scored
        .withColumn("rank",
          row_number().over(Window.partitionBy("q_id")
            .orderBy(desc("cos"), asc("cand_id"))).cast("long"))
        .where(col("rank") <= 10)
        .select(col("q_id"), col("rank"), col("cand_id"),
          round(col("cos"), 4).as("cos"))
        .orderBy("q_id", "rank")
    }),

    // Hard-negative mining for contrastive training: for each query
    // vector, the top-5 most-similar candidates with a DIFFERENT label —
    // the "looks alike, isn't" pairs a retrieval/embedding trainer feeds
    // as negatives. Same exact-integer cosine machinery as q_ann_topk,
    // including its CONSTANT k = AnnQueryK query set (a fractional set
    // makes this full-corpus join Θ(n²)); the k-row query side
    // broadcasts, the label inequality rides the join, per-query top-5
    // via a window over the bounded query set.
    "q_hard_negatives" -> ((s, dir) => {
      val all = quantized(s, dir)
      val qs = all.join(annQueryIds(all), "vec_id")
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("q").as("qq"), col("nq").as("na"))
      val scored = qs
        .join(all.where(col("nq") > 0),
          col("q_id") =!= col("vec_id") && col("q_label") =!= col("label"))
        .select(col("q_id"), col("vec_id").as("cand_id"),
          expr("ivec_dot(qq, q)")
            .as("dot"),
          col("na"), col("nq").as("nb"))
        .withColumn("cos", expr(CosExpr))
      scored
        .withColumn("rank",
          row_number().over(Window.partitionBy("q_id")
            .orderBy(desc("cos"), asc("cand_id"))).cast("long"))
        .where(col("rank") <= 5)
        .select(col("q_id"), col("rank"), col("cand_id"),
          round(col("cos"), 4).as("cos"))
        .orderBy("q_id", "rank")
    }),

    // Inverted-index build with impact-ordered posting heads: per term,
    // document frequency plus the top-5 (tf desc, doc asc) postings
    // rendered "doc:tf,..." — the retrieval-index construction step
    // (impact-sorted posting lists truncated at the head). The head is
    // selected by the NATIVE TopKPerKey operator (bounded heap per map
    // partition, one shuffle — never a per-term window sort over full
    // posting lists), so per-term state is O(5) at any corpus size; the
    // collect_list that renders the string is over ≤5 rows by
    // construction.
    "q_inverted_index" -> ((s, dir) => {
      val tf = toks(s, dir).groupBy("word", "doc_id")
        .agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
      val head = graft.operators.TopK
        .perKey(tf, Seq("word"), Seq(("tf", false), ("doc_id", true)), 5)
      val postings = head
        .select(col("word"),
          struct((-col("tf")).as("ntf"), col("doc_id"), col("tf")).as("e"))
        .groupBy("word").agg(array_sort(collect_list(col("e"))).as("es"))
        .select(col("word"), expr(
          "concat_ws(',', transform(es, e -> concat(CAST(e.doc_id AS STRING), ':', CAST(e.tf AS STRING))))")
          .as("postings"))
      dfreq.where(col("df") >= InvIdxMinDf)
        .join(postings, "word")
        .select("word", "df", "postings").orderBy("word")
    }),

    // TF-IDF over the corpus: tf per (doc, word), document frequency per
    // word, idf = ln((N+1)/(df+1)). Two narrow aggregations plus a
    // broadcast of the single-row N — no fact-side re-shuffle.
    "q_tfidf" -> ((s, dir) => {
      // EAGER ckpt: tf feeds three consumers (dfreq, the doc count, the
      // final join); relying on AQE exchange reuse left the token
      // pipeline materializing once per consumer under the concurrent
      // broadcast builds (r12 per-job breakdown: three ~400 ms duplicate
      // jobs). One materialization, consumers read blocks.
      import graft.operators.Ckpt._
      val tf = toks(s, dir).groupBy("doc_id", "word")
        .agg(count(lit(1)).as("tf")).ckpt()
      // dfreq AND n_docs derive from tf: same canonical exchange → AQE
      // stage reuse, and the doc set is locale-consistent with the token
      // pipeline (a whole-text keep(text) shortcut would route non-ASCII
      // text through Spark's default-locale lower() and could disagree
      // with the per-token keep on a non-ROOT-locale JVM).
      val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
      val n = tf.select("doc_id").distinct().agg(count(lit(1)).as("n_docs"))
      // idf is pre-rounded to 8 decimals: ln() is not correctly-rounded,
      // so a 1-ulp Java-vs-C libm difference could otherwise flip the
      // final 4th decimal; quantizing the (few, per-word) idf values first
      // confines the boundary risk to |vocab| values at 1e-8 granularity.
      tf.join(dfreq, "word").crossJoin(broadcast(n))
        .withColumn("tfidf",
          round(col("tf") * expr("round(ln((n_docs + 1.0) / (df + 1.0)), 8)"), 4))
        .select("doc_id", "word", "tf", "df", "tfidf")
        .orderBy("doc_id", "word")
    }),

    // IVF-style ANN: centroid per label (coarse quantizer) → route each
    // query to its nearest centroid → search only that partition. This is
    // the scale path: probes 1/|labels| of the data vs q_ann_topk's full
    // scan. Distances stay on exact integers (scaled by partition size) so
    // both engines agree bit-for-bit.
    "q_ann_ivf" -> ((s, dir) => {
      val all = quantized(s, dir).where(col("nq") > 0)
      // per-label, per-dimension integer sums (centroid = s/n, kept unscaled)
      val cent = all.select(col("label"), posexplode(col("q")).as(Seq("pos", "qv")))
        .groupBy("label", "pos")
        .agg(sum("qv").as("s"), count(lit(1)).as("n"))
      val qd = all.join(annQueryIds(all), "vec_id")
        .select(col("vec_id").as("q_id"), posexplode(col("q")).as(Seq("pos", "qv")))
      // dist² to centroid, scaled by n²: Σ(qv·n − s)² — exact BIGINTs
      val dist = qd.join(cent, "pos")
        .groupBy("q_id", "label")
        .agg(sum(expr("(qv * n - s) * (qv * n - s)")).as("dist_num"),
          max("n").as("n"))
      val best = dist
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("q_id")
            .orderBy(expr("CAST(dist_num AS DOUBLE) / (n * n)").asc, col("label").asc)))
        .where(col("rn") === 1).select("q_id", "label")
      val qs = all.select(col("vec_id").as("q_id"), col("q").as("qq"),
        col("nq").as("na"))
      val scored = best.join(qs, "q_id")
        .join(all.select(col("vec_id").as("cand_id"), col("label"),
          col("q"), col("nq").as("nb")), "label")
        .where(col("cand_id") =!= col("q_id"))
        .select(col("q_id"), col("cand_id"),
          expr("ivec_dot(qq, q)")
            .as("dot"), col("na"), col("nb"))
        .withColumn("cos", expr(CosExpr))
      scored
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("q_id")
            .orderBy(desc("cos"), asc("cand_id"))).cast("long"))
        .where(col("rank") <= 5)
        .select(col("q_id"), col("rank"), col("cand_id"),
          round(col("cos"), 4).as("cos"))
        .orderBy("q_id", "rank")
    }),

    // Product quantization (PQ) ANN — the memory-side scale path that
    // completes brute/IVF/LSH: vectors are split into 8 subspaces of 8
    // dims; each subvector is replaced by the id of its nearest per-label
    // subspace centroid (label-seeded codebook — deterministic, no
    // iterative k-means), so a 64-int vector becomes 8 small codes. ADC
    // scoring then approximates dot(query, candidate) as Σ_m
    // dot(query_sub_m, centroid(code_m)) — a lookup-table sum, never a
    // full-vector scan per candidate. At 100 TB the code table is ~1% of
    // the vector bytes and the ADC join is |queries|·M rows per
    // candidate. Determinism discipline: centroid distances compare as
    // one FP division over exact BIGINTs (ties → label asc), ADC terms
    // are 6-decimal-rounded DECIMALs summed exactly, and the final rank
    // orders on the EXACT decimal before any display cast.
    "q_ann_pq" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
      val all = quantized(s, dir).where(col("nq") > 0)
      def comps(keyCol: String) = all
        .select(col(keyCol), posexplode(col("q")).as(Seq("pos", "qv")))
        .select(col(keyCol), expr(s"pos div $PqD").as("m"),
          expr(s"pos % $PqD").as("d"), col("qv"))
      val comp = comps("vec_id")
      val cb = comps("label").groupBy(col("label").as("clabel"), col("m"), col("d"))
        .agg(sum("qv").as("s"), count(lit(1)).as("n"))
      val assign = comp.join(cb, Seq("m", "d"))
        .groupBy("vec_id", "m", "clabel")
        .agg(sum(expr("(qv * n - s) * (qv * n - s)")).as("dn"), max("n").as("cn"))
        .withColumn("rn", row_number().over(w.partitionBy("vec_id", "m")
          .orderBy(expr("CAST(dn AS DOUBLE) / (cn * cn)").asc, col("clabel").asc)))
        .where(col("rn") === 1)
        .select(col("vec_id").as("cand_id"), col("m"), col("clabel").as("code"))
      val adc = comp.join(annQueryIds(all), "vec_id")
        .join(cb, Seq("m", "d"))
        .groupBy(col("vec_id").as("q_id"), col("m"), col("clabel"))
        .agg(sum(expr("qv * s")).as("dotnum"), max("n").as("n"))
        .select(col("q_id"), col("m"), col("clabel").as("code"),
          expr("CAST(round(CAST(dotnum AS DOUBLE) / n, 6) AS DECIMAL(24,6))")
            .as("term"))
      assign.join(adc, Seq("m", "code"))
        .where(col("cand_id") =!= col("q_id"))
        .groupBy("q_id", "cand_id").agg(sum(col("term")).as("adc_exact"))
        .withColumn("rank", row_number().over(
          w.partitionBy("q_id").orderBy(col("adc_exact").desc, col("cand_id").asc))
          .cast("long"))
        .where(col("rank") <= 5)
        .select(col("q_id"), col("rank"), col("cand_id"),
          round(col("adc_exact").cast("double"), 4).as("adc"))
        .orderBy("q_id", "rank")
    }),

    // Random-hyperplane LSH ANN: 8 md5-seeded integer hyperplanes → 8-bit
    // bucket per vector → search only the query's bucket. The scale path
    // when no partition label exists (vs q_ann_ivf's label centroids);
    // candidates per query drop ~256× for uniform buckets.
    "q_ann_lsh" -> ((s, dir) => {
      val all = quantized(s, dir).where(col("nq") > 0)
        .withColumn("bucket", expr(lshBucketSparkExpr("q")).cast("long"))
      val qs = all.join(annQueryIds(all), "vec_id")
        .select(col("vec_id").as("q_id"), col("q").as("qq"),
          col("nq").as("na"), col("bucket"))
      val scored = qs.join(
          all.select(col("vec_id").as("cand_id"), col("q"),
            col("nq").as("nb"), col("bucket")), Seq("bucket"))
        .where(col("cand_id") =!= col("q_id"))
        .select(col("q_id"), col("bucket"), col("cand_id"),
          expr("ivec_dot(qq, q)")
            .as("dot"), col("na"), col("nb"))
        .withColumn("cos", expr(CosExpr))
      scored
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("q_id")
            .orderBy(desc("cos"), asc("cand_id"))).cast("long"))
        .where(col("rank") <= 5)
        .select(col("q_id"), col("bucket"), col("rank"), col("cand_id"),
          round(col("cos"), 4).as("cos"))
        .orderBy("q_id", "rank")
    }),

    // K-MEANS corpus clustering (operators.KMeans): fixed-iteration
    // Lloyd's over the integer-quantized embeddings — k smallest-id init,
    // exact-BIGINT assignment distances (×1000 fixed-point centroids), so
    // there is no floating-point accumulation order anywhere and the
    // DuckDB oracle unrolls the identical iterations. Output: per-cluster
    // membership stats + the centroid fingerprint.
    "q_kmeans" -> ((s, dir) => {
      val vecs = quantized(s, dir).select(col("vec_id").as("id"), col("q"))
      val cents = graft.operators.KMeans.centroids(vecs, KmK, KmIters)
      val q1000 = vecs.select(col("id"),
        expr("transform(q, x -> x * CAST(1000 AS BIGINT))").as("v"))
      graft.operators.KMeans.assign(q1000, cents)
        .groupBy("cid")
        .agg(count(lit(1)).as("n"),
          min(col("id")).as("min_vec"), max(col("id")).as("max_vec"),
          // exact decimal sum (~2·10¹⁹ at sf0.01 — beyond float64
          // exactness) emitted as its exact DIGIT STRING: a decimal128
          // column here is the one value in the catalog whose pandas/
          // pyarrow representation can drift between the oracle's DuckDB
          // and the parquet reader (the r4/r5 driver-gate hash mismatch;
          // same class as the q_smoothed_rate DECIMAL/DOUBLE drift). A
          // VARCHAR of the exact integer has one representation everywhere.
          sum(col("d2").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            .cast(org.apache.spark.sql.types.DecimalType(38, 0))
            .cast("string").as("inertia"))
        .join(cents.select(col("cid"),
          expr("md5(array_join(transform(c1000, x -> CAST(x AS STRING)), ','))")
            .as("c_md5")), "cid")
        .orderBy("cid")
    }),

    // Simplified (centroid-based) silhouette of the q_kmeans clustering:
    // per point, a = distance to its own centroid, b = distance to the
    // nearest OTHER centroid, s = (b − a)/b — the clustering-quality
    // audit run before trusting cluster-quota sampling (q_sample_diverse).
    // Centroid-based silhouette is the LINEAR form (k distances per
    // point against the broadcast k×dims table) — full silhouette's
    // per-cluster all-pairs would be quadratic at scale. Distances are
    // exact BIGINTs; sqrt/divide are two correctly-rounded IEEE ops with
    // one spelling in both engines; per-point scores 6-rounded then
    // decimal-summed per cluster.
    "q_silhouette" -> ((s, dir) => {
      val vecs = quantized(s, dir).select(col("vec_id").as("id"), col("q"))
      val cents = graft.operators.KMeans.centroids(vecs, KmK, KmIters)
      val dists = vecs.select(col("id"),
          expr("transform(q, x -> x * CAST(1000 AS BIGINT))").as("v"))
        .crossJoin(broadcast(cents))
        .select(col("id"), col("cid"),
          expr("ivec_sqdist(v, c1000)").as("d2"))
      dists.groupBy("id").agg(
          min(struct(col("d2"), col("cid"))).as("m1"),
          expr("element_at(array_sort(collect_list(struct(d2, cid))), 2).d2")
            .as("b2"))
        .select(col("m1.cid").as("cid"),
          expr("round((sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(m1.d2 AS DOUBLE)))" +
            " / sqrt(CAST(b2 AS DOUBLE)), 6)").as("sc"))
        .groupBy("cid")
        .agg(count(lit(1)).as("n"), dsum(col("sc"), 6).as("ssum"))
        .select(col("cid"), col("n"),
          expr("round(ssum / n, 6)").as("mean_sil"))
        .orderBy("cid")
    }),

    // DIVERSITY SAMPLING — clustering and sampling COMPOSED: k-means
    // buckets the embedding space, then a fixed per-cluster quota keeps
    // the DiverseQuota smallest (md5, id) ranks per cluster (via the same
    // distributed Ranks.withinKey — a popular cluster never ranks on one
    // task). The standard "cover the space, don't oversample the dense
    // core" curation step; the oracle replays clustering + quota exactly.
    "q_sample_diverse" -> ((s, dir) => {
      val vecs = quantized(s, dir).select(col("vec_id").as("id"), col("q"))
      val cents = graft.operators.KMeans.centroids(vecs, KmK, KmIters)
      val q1000 = vecs.select(col("id"),
        expr("transform(q, x -> x * CAST(1000 AS BIGINT))").as("v"))
      val assigned = graft.operators.KMeans.assign(q1000, cents)
        .withColumn("hx", md5(concat(lit("div:"), col("id").cast("string"))))
      graft.operators.Ranks.withinKey(assigned, "cid", Seq("hx", "id"))
        .where(col("rk") <= DiverseQuota)
        .groupBy("cid")
        .agg(count(lit(1)).as("n_kept"), min(col("id")).as("min_kept"),
          max(col("id")).as("max_kept"), sum(col("id")).as("sum_kept"))
        .orderBy("cid")
    }),

    // Per-label embedding centroids — the k-means/IVF building block. The
    // quantized components sum exactly in BIGINT (order-free under any
    // partitioning); the only IEEE op is the terminal mean division. One
    // narrow posexplode + one (label, pos) shuffle of integer partials.
    "q_centroid" -> ((s, dir) =>
      emb(s, dir)
        .select(col("label"), posexplode(expr(QuantSpark)))
        .groupBy(col("label").cast("long").as("label"),
          (col("pos") + 1).cast("long").as("pos"))
        .agg(count(lit(1)).as("n"), sum(col("col")).as("sq"))
        .select(col("label"), col("pos"), col("n"), col("sq"),
          round(col("sq").cast("double") / col("n"), 4).as("c"))
        .orderBy("label", "pos")),

    // BM25 relevance: top-20 docs for a fixed query-term set. The scale
    // shape is two narrow token aggregations (doc length; tf filtered to
    // the query terms BEFORE the shuffle) plus broadcasts of the tiny
    // df/stats sides — the corpus is never joined to itself and the top-k
    // is a TakeOrderedAndProject, not a global sort. Determinism: ln() is
    // not correctly-rounded across libms, so idf is pre-rounded to 8
    // decimals (the q_tfidf technique); the remaining ops (+,-,*,/) are
    // IEEE-exact given identical spelling, and per-term contributions are
    // rounded to 6 decimals then decimal-summed so partitioning cannot
    // reorder a float sum.
    "q_bm25" -> ((s, dir) => {
      val t = toks(s, dir)
      val dl = t.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val tf = t.where(col("word").isin(BmTerms: _*))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
      val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      tf.join(broadcast(dfreq), "word").join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("contrib", expr(BmContribExpr))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms"), dsum(col("contrib"), 6).as("score"))
        .orderBy(desc("score"), asc("doc_id")).limit(20)
        .select(col("doc_id"), col("n_terms"), col("score"))
    }),

    // Set-similarity self-join via PREFIX FILTERING (AllPairs/PPJoin) —
    // the LOSSLESS complement of the df-cap heuristic the LSH pipelines
    // use: order each doc's shingle set by global rarity (df asc, shingle
    // asc) and join only the first |s| − ceil(t·|s|) + 1 shingles. If
    // J(x,y) ≥ t then overlap ≥ ceil(t·|x|) (J ≥ t ⟹ |y| ≥ t·|x| ⟹
    // o ≥ t/(1+t)·(|x|+|y|) ≥ t·|x|), and an overlap that large cannot
    // avoid both prefixes (pigeonhole) — recall is GUARANTEED, no band
    // probability. Boilerplate never enters the join: high-df shingles
    // rank last and fall outside every prefix. Exact-dup collapse first
    // (reps) keeps true-duplicate clusters from re-creating the n² blowup
    // the prefix bound cannot prevent. Verify = exact integer Jaccard on
    // candidates only (9·inter ≥ 4·(sz1+sz2) — no float at the
    // threshold).
    "q_prefix_join" -> ((s, dir) =>
      // the factored [[prefixTruePairs]] chain (shared with
      // q_minhash_recall, which grades the LSH channel against it)
      prefixTruePairs(s, dir)
        .select(col("d1"), col("d2"), col("inter"), col("sz1"), col("sz2"),
          round(expr("CAST(inter AS DOUBLE) / CAST(sz1 + sz2 - inter AS DOUBLE)"), 4)
            .as("jac"))
        .orderBy("d1", "d2"))
  )

  val oracle: Map[String, String] = strictMap(
    "q_ann_topk" ->
      s"""WITH $QuantizedNormSql,
         |qs AS (SELECT e.vec_id AS q_id, e.embedding AS eq, qn.nq AS na
         |       FROM embeddings e JOIN qn ON e.vec_id = qn.vec_id
         |       WHERE qn.nq > 0
         |       ORDER BY qn.nq DESC, e.vec_id LIMIT $AnnQueryK),
         |cand AS (SELECT e.vec_id AS cand_id, e.embedding AS ec, qn.nq AS nb
         |         FROM embeddings e JOIN qn ON e.vec_id = qn.vec_id
         |         WHERE qn.nq > 0),
         |p AS (SELECT q_id, cand_id, na, nb, eq, ec
         |      FROM qs JOIN cand ON q_id <> cand_id),
         |d AS (
         |  SELECT q_id, cand_id, na, nb,
         |    CAST(sum(${quantSqlElem("eq[i]")} * ${quantSqlElem("ec[i]")}) AS BIGINT) AS dot
         |  FROM (SELECT p.*, unnest(generate_series(1, len(eq))) AS i FROM p)
         |  GROUP BY q_id, cand_id, na, nb
         |),
         |c AS (SELECT q_id, cand_id, $CosExpr AS cos FROM d),
         |r AS (
         |  SELECT q_id, cand_id, cos,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS BIGINT) AS rank
         |  FROM c
         |)
         |SELECT q_id, rank, cand_id, round(cos, 4) AS cos
         |FROM r WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,

    "q_hard_negatives" ->
      s"""WITH $QuantizedNormSql,
         |$AnnQidsSql,
         |qs AS (SELECT e.vec_id AS q_id, e.label AS q_label,
         |              e.embedding AS eq, qn.nq AS na
         |       FROM embeddings e JOIN qn ON e.vec_id = qn.vec_id
         |       WHERE qn.nq > 0
         |         AND e.vec_id IN (SELECT vec_id FROM qids)),
         |cand AS (SELECT e.vec_id AS cand_id, e.label, e.embedding AS ec,
         |                qn.nq AS nb
         |         FROM embeddings e JOIN qn ON e.vec_id = qn.vec_id
         |         WHERE qn.nq > 0),
         |p AS (SELECT q_id, cand_id, na, nb, eq, ec
         |      FROM qs JOIN cand ON q_id <> cand_id AND q_label <> label),
         |d AS (
         |  SELECT q_id, cand_id, na, nb,
         |    CAST(sum(${quantSqlElem("eq[i]")} * ${quantSqlElem("ec[i]")}) AS BIGINT) AS dot
         |  FROM (SELECT p.*, unnest(generate_series(1, len(eq))) AS i FROM p)
         |  GROUP BY q_id, cand_id, na, nb
         |),
         |c AS (SELECT q_id, cand_id, $CosExpr AS cos FROM d),
         |r AS (
         |  SELECT q_id, cand_id, cos,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS BIGINT) AS rank
         |  FROM c
         |)
         |SELECT q_id, rank, cand_id, round(cos, 4) AS cos
         |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    "q_inverted_index" ->
      s"""WITH $ToksSql,
         |tf AS (SELECT word, doc_id, count(*) AS tf FROM toks
         |       GROUP BY word, doc_id),
         |d AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
         |h AS (
         |  SELECT word, doc_id, tf,
         |    row_number() OVER (PARTITION BY word ORDER BY tf DESC, doc_id) AS rn
         |  FROM tf
         |),
         |p AS (
         |  SELECT word,
         |    string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR),
         |               ',' ORDER BY tf DESC, doc_id) AS postings
         |  FROM h WHERE rn <= 5 GROUP BY word
         |)
         |SELECT d.word, d.df, p.postings FROM d JOIN p USING (word)
         |WHERE d.df >= $InvIdxMinDf ORDER BY word""".stripMargin,

    "q_tfidf" ->
      s"""WITH $ToksSql,
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY doc_id, word),
         |dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
         |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf)
         |SELECT doc_id, word, tf, df,
         |  round(tf * round(ln((n_docs + 1.0) / (df + 1.0)), 8), 4) AS tfidf
         |FROM tf JOIN dfreq USING (word) CROSS JOIN n
         |ORDER BY doc_id, word""".stripMargin,

    "q_ann_ivf" ->
      s"""WITH $QuantizedNormSql,
         |$AnnQidsSql,
         |pe AS (
         |  SELECT vec_id, label, i AS pos, ${quantSqlElem("embedding[i]")} AS qv
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
         |    CAST(sum((pe.qv * c.n - c.s) * (pe.qv * c.n - c.s)) AS BIGINT) AS dist_num,
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
         |p AS (
         |  SELECT b.q_id, s.vec_id AS cand_id, eq.embedding AS eqv,
         |         s.embedding AS ecv, eqn.nq AS na, s.nq AS nb
         |  FROM best b
         |  JOIN embeddings eq ON eq.vec_id = b.q_id
         |  JOIN qn eqn ON eqn.vec_id = b.q_id
         |  JOIN sel s ON s.label = b.label AND s.vec_id <> b.q_id
         |),
         |d AS (
         |  SELECT q_id, cand_id, na, nb,
         |    CAST(sum(${quantSqlElem("eqv[i]")} * ${quantSqlElem("ecv[i]")}) AS BIGINT) AS dot
         |  FROM (SELECT p.*, unnest(generate_series(1, len(eqv))) AS i FROM p)
         |  GROUP BY q_id, cand_id, na, nb
         |),
         |c AS (SELECT q_id, cand_id, $CosExpr AS cos FROM d),
         |r AS (
         |  SELECT q_id, cand_id, cos,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS BIGINT) AS rank
         |  FROM c
         |)
         |SELECT q_id, rank, cand_id, round(cos, 4) AS cos
         |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    "q_ann_pq" ->
      s"""WITH comp AS (
         |  SELECT vec_id, label,
         |    CAST((i-1) // $PqD AS BIGINT) AS m, (i-1) % $PqD AS d, q AS qv
         |  FROM (SELECT vec_id, label, i, ${quantSqlElem("embedding[i]")} AS q
         |        FROM (SELECT vec_id, label, embedding,
         |                     unnest(generate_series(1, len(embedding))) AS i
         |              FROM embeddings))
         |),
         |nz AS (SELECT vec_id FROM comp GROUP BY vec_id HAVING sum(qv*qv) > 0),
         |qids AS (SELECT vec_id FROM comp GROUP BY vec_id
         |         HAVING sum(qv*qv) > 0
         |         ORDER BY CAST(sum(qv*qv) AS BIGINT) DESC, vec_id
         |         LIMIT $AnnQueryK),
         |compz AS (SELECT comp.* FROM comp JOIN nz USING (vec_id)),
         |cb AS (
         |  SELECT label AS clabel, m, d, CAST(sum(qv) AS BIGINT) AS s,
         |         count(*) AS n
         |  FROM compz GROUP BY 1, 2, 3
         |),
         |a1 AS (
         |  SELECT c.vec_id, c.m, cb.clabel,
         |    CAST(sum((c.qv * cb.n - cb.s) * (c.qv * cb.n - cb.s)) AS BIGINT) AS dn,
         |    max(cb.n) AS cn
         |  FROM compz c JOIN cb ON c.m = cb.m AND c.d = cb.d
         |  GROUP BY 1, 2, 3
         |),
         |assign AS (
         |  SELECT vec_id AS cand_id, m, clabel AS code FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
         |      ORDER BY CAST(dn AS DOUBLE) / (cn * cn), clabel) AS rn FROM a1)
         |  WHERE rn = 1
         |),
         |a2 AS (
         |  SELECT c.vec_id AS q_id, c.m, cb.clabel AS code,
         |    CAST(sum(c.qv * cb.s) AS BIGINT) AS dotnum, max(cb.n) AS n
         |  FROM compz c JOIN cb ON c.m = cb.m AND c.d = cb.d
         |  WHERE c.vec_id IN (SELECT vec_id FROM qids)
         |  GROUP BY 1, 2, 3
         |),
         |adc AS (
         |  SELECT q_id, m, code,
         |    CAST(round(CAST(dotnum AS DOUBLE) / n, 6) AS DECIMAL(24,6)) AS term
         |  FROM a2
         |),
         |sc AS (
         |  SELECT q_id, cand_id, sum(term) AS adc_exact
         |  FROM assign JOIN adc USING (m, code)
         |  WHERE cand_id <> q_id
         |  GROUP BY 1, 2
         |),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY adc_exact DESC, cand_id) AS rank
         |  FROM sc
         |)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, cand_id,
         |  round(CAST(adc_exact AS DOUBLE), 4) AS adc
         |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    "q_ann_lsh" ->
      s"""WITH $QuantizedNormSql,
         |$AnnQidsSql,
         |$lshBucketSql,
         |sel AS (SELECT e.vec_id, e.embedding, qn.nq, b.bucket
         |        FROM embeddings e
         |        JOIN qn ON e.vec_id = qn.vec_id
         |        JOIN buckets b ON e.vec_id = b.vec_id
         |        WHERE qn.nq > 0),
         |p AS (
         |  SELECT q.vec_id AS q_id, q.bucket, s.vec_id AS cand_id,
         |         q.embedding AS eqv, s.embedding AS ecv,
         |         q.nq AS na, s.nq AS nb
         |  FROM sel q JOIN sel s
         |    ON q.bucket = s.bucket AND s.vec_id <> q.vec_id
         |  WHERE q.vec_id IN (SELECT vec_id FROM qids)
         |),
         |d AS (
         |  SELECT q_id, bucket, cand_id, na, nb,
         |    CAST(sum(${quantSqlElem("eqv[i]")} * ${quantSqlElem("ecv[i]")}) AS BIGINT) AS dot
         |  FROM (SELECT p.*, unnest(generate_series(1, len(eqv))) AS i FROM p)
         |  GROUP BY q_id, bucket, cand_id, na, nb
         |),
         |c AS (SELECT q_id, bucket, cand_id, $CosExpr AS cos FROM d),
         |r AS (
         |  SELECT q_id, bucket, cand_id, cos,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS BIGINT) AS rank
         |  FROM c
         |)
         |SELECT q_id, bucket, rank, cand_id, round(cos, 4) AS cos
         |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    "q_kmeans" ->
      s"""WITH $KmeansCtes
         |SELECT af.cid, count(*) AS n, min(af.id) AS min_vec, max(af.id) AS max_vec,
         |       CAST(CAST(sum(af.d2) AS DECIMAL(38,0)) AS VARCHAR) AS inertia,
         |       any_value(cm.c_md5) AS c_md5
         |FROM af JOIN cm USING (cid)
         |GROUP BY af.cid ORDER BY af.cid""".stripMargin,

    // a = af.d2 (the assignment minimum), b = min distance to any OTHER
    // centroid — both from the same df (all point×centroid distances)
    // the kmeans chain already exposes
    "q_silhouette" ->
      s"""WITH $KmeansCtes,
         |s2 AS (
         |  SELECT af.id, af.cid, af.d2 AS a2, min(df.d2) AS b2
         |  FROM af JOIN df ON df.id = af.id AND df.cid <> af.cid
         |  GROUP BY af.id, af.cid, af.d2
         |),
         |sil AS (
         |  SELECT cid,
         |    round((sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE)))
         |      / sqrt(CAST(b2 AS DOUBLE)), 6) AS sc
         |  FROM s2
         |)
         |SELECT cid, count(*) AS n,
         |  round(${dsumSql("sc", 6)} / count(*), 6) AS mean_sil
         |FROM sil GROUP BY cid ORDER BY cid""".stripMargin,

    "q_sample_diverse" ->
      s"""WITH $KmeansCtes,
         |rk AS (
         |  SELECT cid, id,
         |         row_number() OVER (PARTITION BY cid
         |           ORDER BY md5('div:' || CAST(id AS VARCHAR)), id) AS rk
         |  FROM af
         |),
         |kept AS (SELECT cid, id FROM rk WHERE rk <= $DiverseQuota)
         |SELECT cid, count(*) AS n_kept, min(id) AS min_kept, max(id) AS max_kept,
         |       CAST(sum(id) AS BIGINT) AS sum_kept
         |FROM kept GROUP BY cid ORDER BY cid""".stripMargin,

    "q_centroid" ->
      s"""SELECT CAST(label AS BIGINT) AS label, CAST(i AS BIGINT) AS pos,
         |  count(*) AS n, CAST(sum(q) AS BIGINT) AS sq,
         |  round(CAST(sum(q) AS DOUBLE) / count(*), 4) AS c
         |FROM (
         |  SELECT label, i, ${quantSqlElem("embedding[i]")} AS q
         |  FROM (SELECT label, embedding,
         |          unnest(generate_series(1, len(embedding))) AS i
         |        FROM embeddings)
         |)
         |GROUP BY 1, 2 ORDER BY label, pos""".stripMargin,

    "q_bm25" ->
      s"""WITH $ToksSql,
         |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM toks
         |       WHERE word IN ${inList(BmTerms)} GROUP BY doc_id, word),
         |dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
         |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
         |          FROM dl),
         |c AS (
         |  SELECT tf.doc_id, $BmContribExpr AS contrib
         |  FROM tf JOIN dfreq USING (word) JOIN dl USING (doc_id)
         |  CROSS JOIN stats
         |)
         |SELECT doc_id, count(*) AS n_terms,
         |  ${dsumSql("contrib", 6)} AS score
         |FROM c GROUP BY doc_id
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "q_prefix_join" ->
      s"""WITH reps AS (
         |  SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text
         |),
         |sh AS (
         |  SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), $K) AS sh
         |  FROM (SELECT doc_id, text,
         |               unnest(generate_series(1, length(text) - ${K - 1}, $Stride)) AS i
         |        FROM reps WHERE length(text) >= $K)
         |),
         |dfq AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh),
         |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |pref AS (
         |  SELECT doc_id, sh FROM (
         |    SELECT s.doc_id, s.sh, z.sz,
         |      row_number() OVER (PARTITION BY s.doc_id ORDER BY d.df, s.sh) AS rn
         |    FROM sh s JOIN dfq d USING (sh) JOIN sz z USING (doc_id)
         |  ) WHERE rn <= sz - ($PrefixTNum*sz + $PrefixTNum) // $PrefixTDen + 1
         |),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM pref a JOIN pref b USING (sh) WHERE a.doc_id < b.doc_id
         |),
         |i AS (
         |  SELECT c.d1, c.d2, count(*) AS inter
         |  FROM cand c
         |  JOIN sh x ON x.doc_id = c.d1
         |  JOIN sh y ON y.doc_id = c.d2 AND y.sh = x.sh
         |  GROUP BY c.d1, c.d2
         |)
         |SELECT i.d1, i.d2, i.inter, z1.sz AS sz1, z2.sz AS sz2,
         |  round(CAST(i.inter AS DOUBLE) / CAST(z1.sz + z2.sz - i.inter AS DOUBLE), 4) AS jac
         |FROM i
         |JOIN sz z1 ON z1.doc_id = i.d1
         |JOIN sz z2 ON z2.doc_id = i.d2
         |WHERE ${PrefixTDen + PrefixTNum}*i.inter >= $PrefixTNum*(z1.sz + z2.sz)
         |ORDER BY i.d1, i.d2""".stripMargin,

    "q_feature_hash" ->
      s"""WITH $ToksSql
         |SELECT doc_id,
         |  ${hex2longSql("md5(word)", 1)} % $FeatHashDim AS bucket,
         |  count(*) AS cnt
         |FROM toks GROUP BY 1, 2
         |ORDER BY doc_id, bucket""".stripMargin,

    "q_random_projection" -> {
      val sums = (0 until LshPlanes).map { p =>
        val arr = LshW(p).mkString("[", ", ", "]")
        s"CAST(sum(q * ($arr)[i]) AS BIGINT) AS d$p"
      }.mkString(",\n  ")
      s"""SELECT vec_id,
         |  $sums
         |FROM (SELECT vec_id, i, ${quantSqlElem("embedding[i]")} AS q
         |      FROM (SELECT vec_id, embedding,
         |                   unnest(generate_series(1, len(embedding))) AS i
         |            FROM embeddings))
         |GROUP BY vec_id ORDER BY vec_id""".stripMargin
    }
  )
}
