package graft.queries

import graft.operators.Tokenize
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Ckpt._

/** Deduplication family of the training-data pipeline — exact, URL,
  * MinHash-LSH (+ verified), containment, SimHash, n-gram Jaccard,
  * embedding-cosine, paragraph/span level, winnowing fingerprints, and
  * the keep-best / apply / agreement mechanics. Split from LlmOps.scala
  * (round 10) along the family seam; all shared hash/shingle helpers and
  * the cross-engine determinism contract live in [[LlmOps]] (imported
  * wholesale below) — see its scaladoc for the md5-derived hash family
  * and integer-quantization rules these queries build on.
  */
object LlmDedup extends Catalog {
  import LlmOps._

  val queries: Map[String, Q] = strictMap(
    // Exact dedup: hash-groupBy on full text; keeper = min doc_id.
    "q_dedup_exact" -> ((s, dir) =>
      docs(s, dir).groupBy("text")
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n"))
        .select("keep_id", "n").orderBy("keep_id")),

    // URL canonicalization + dedup — the crawl-side twin of q_dedup_exact:
    // messy URLs (case-noisy scheme/host, www., default :80 port,
    // utm_* tracking params in shuffled positions, fragments, trailing
    // slash) are synthesized deterministically per doc, then canonicalized
    // with pure string/array ops: lowercase (paths are constructed
    // lowercase, so full-lower ≡ scheme+host-lower here — production
    // lowers only scheme/host), fragment strip, :80/ strip, www. strip,
    // query split → drop utm_* → sort → rejoin, trailing-slash strip.
    // Dedup = one groupBy on the canonical form (min doc_id kept) — a
    // narrow projection + one partial-agg'd shuffle at any corpus scale.
    "q_dedup_url" -> ((s, dir) => {
      val raw = docs(s, dir).selectExpr("doc_id",
        """concat(
          |  'HTTP://', CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END,
          |  source, '.Example.COM',
          |  CASE WHEN doc_id % 4 = 0 THEN ':80' ELSE '' END,
          |  '/p/', CAST(doc_id % 7 AS STRING),
          |  CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END,
          |  CASE CAST(doc_id % 3 AS INT)
          |    WHEN 0 THEN concat('?utm_source=feed&id=', CAST(doc_id % 3 AS STRING))
          |    WHEN 1 THEN concat('?id=', CAST(doc_id % 3 AS STRING), '&utm_campaign=x')
          |    ELSE concat('?id=', CAST(doc_id % 3 AS STRING)) END,
          |  CASE WHEN doc_id % 2 = 0 THEN '#Section-2' ELSE '' END
          |) AS url""".stripMargin)
      raw.selectExpr("doc_id", "url",
          """regexp_replace(
            |  replace(replace(lower(regexp_replace(url, '#.*$', '')),
            |          ':80/', '/'),
            |    '://www.', '://'),
            |  '/$', '') AS u1""".stripMargin)
        .selectExpr("doc_id", "url",
          "split(u1, '[?]')[0] AS base",
          """array_join(array_sort(filter(
            |  split(coalesce(try_element_at(split(u1, '[?]'), 2), ''), '&'),
            |  p -> p NOT LIKE 'utm_%')), '&') AS q""".stripMargin)
        .selectExpr("doc_id",
          """concat(regexp_replace(base, '/$', ''),
            |  CASE WHEN q <> '' THEN concat('?', q) ELSE '' END) AS canon""".stripMargin)
        .groupBy("canon")
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("canon")).limit(20)
    }),

    // Curriculum ordering for training: docs bucket into integer quality
    // tiers by type-token ratio (cross-multiplied — no float thresholds),
    // then order (tier DESC, md5(doc_id)) — a deterministic shuffle
    // within each tier, reproducible at any partitioning. The first-N
    // selection is TakeOrderedAndProject (bounded heap per partition);
    // the position column is a window over the LIMITED 50-row result,
    // not the corpus.
    "q_curriculum" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val scored = docs(s, dir)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("words", size(col("toks")).cast("long"))
        .withColumn("uniq", size(array_distinct(col("toks"))).cast("long"))
        .withColumn("tier", expr(
          """CAST(CASE WHEN uniq * 10 >= words * 7 THEN 2
            |     WHEN uniq * 10 >= words * 4 THEN 1
            |     ELSE 0 END AS BIGINT)""".stripMargin))
        .withColumn("h", md5(concat(lit("cur-"), col("doc_id").cast("string"))))
      val top = scored.orderBy(desc("tier"), asc("h"), asc("doc_id"))
        .select("doc_id", "tier", "h").limit(50)
      top.withColumn("pos",
          row_number().over(Window.orderBy(desc("tier"), asc("h"), asc("doc_id")))
            .cast("long"))
        .select("pos", "doc_id", "tier")
        .orderBy("pos")
    }),

    // MinHash + LSH near-dup candidates: exact-dup collapse → char-shingle
    // → 16 minhashes from one md5 (Kirsch-Mitzenmacher) → 4 bands × 4 rows
    // → capped band-bucket self-join. This is the 100 TB dedup path: no
    // all-pairs comparison ever happens and no bucket exceeds BandBucketCap.
    "q_dedup_minhash" -> ((s, dir) =>
      minhashCandPairs(s, dir)
        .groupBy("d1")
        .agg(count(lit(1)).as("n_cand"), min(col("d2")).as("min_partner"))
        .orderBy("d1")),

    // LSH verify stage: exact shingle-Jaccard computed ONLY on the LSH
    // candidate pairs (never all pairs) — the candidates→verify dedup
    // pipeline end to end; cost is O(|candidates| · shingles/doc).
    // Same verifiedJaccard stage as verifiedPairs/q_dedup_apply/
    // q_dedup_components — one implementation, rounded here for display.
    "q_dedup_minhash_verified" -> ((s, dir) =>
      verifiedJaccard(s, dir)
        .select(col("d1"), col("d2"), round(col("jac"), 4).as("jac"))
        .orderBy("d1", "d2")),

    // CONTAINMENT near-dup (asymmetric): overlap / min(|A|, |B|) — catches
    // a document EMBEDDED in a larger one, where symmetric Jaccard stays
    // small (|A∩B|/|A∪B| shrinks as |B| grows). Candidates = Jaccard-LSH
    // band buckets UNION a universe-sampled shingle index (see
    // containmentPairs) — the second channel closes round-3's documented
    // recall gap for containment-high / jaccard-low pairs; DedupScaleSpec
    // plants a small-doc-inside-huge-doc pair the LSH channel provably
    // misses. Verify stays candidates-only.
    "q_dedup_containment" -> ((s, dir) =>
      containmentPairs(docs(s, dir), 0.5)
        .select(col("d1"), col("d2"),
          round(col("containment"), 4).as("containment"))
        .orderBy("d1", "d2")),

    // Dedup APPLY: the pipeline's final step — drop every exact duplicate
    // (non-representative of its text cluster) and every doc that appears
    // as the greater id (d2) of a verified near-dup pair over the
    // representatives (greedy keep-first policy; ids are totally ordered so
    // the survivor set is well-defined without connected components).
    // Returns the kept corpus summary.
    "q_dedup_apply" -> ((s, dir) => {
      docs(s, dir)
        .join(verifiedDupIds(s, dir), Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
    }),

    // SimHash: 16-bit signature from md5-derived token hashes (majority vote
    // per bit over token occurrences). One narrow agg — linear at scale.
    "q_dedup_simhash" -> ((s, dir) =>
      simhashW(s, dir, 16).select(col("doc_id"), col("sim").as("simhash"))
        .orderBy("doc_id")),

    // SimHash near-dup PAIRS: the banded-LSH completion of the signature
    // query. 32-bit signatures (8-bit bands stay selective: 256 bucket
    // values vs 16 for the display query's 16-bit width) → band equi-join
    // under the same BandBucketCap discipline as minhash → exact hamming
    // verify (bit_count of xor) on candidates only. Pigeonhole makes the
    // candidate set COMPLETE for ham ≤ SimHamThr = bands−1: a pair within
    // the threshold differs in ≤ 3 of 4 bands, so some band matches.
    "q_dedup_simhash_pairs" -> ((s, dir) => {
      val sig = maybePersist(simhashW(s, dir, 32))
      val bands = sig.select(col("doc_id") +: (0 until SimBands).map(b =>
          expr(s"CAST(floor(sim / ${1L << (SimBandBits * b)}) AS BIGINT) % ${1 << SimBandBits}")
            .as(s"b$b")): _*)
        .selectExpr("doc_id",
          s"stack($SimBands, ${(0 until SimBands).map(b => s"$b, b$b").mkString(", ")}) AS (band, v)")
      val small = bands.groupBy("band", "v").agg(count(lit(1)).as("bn"))
        .where(col("bn") <= BandBucketCap).select("band", "v")
      // capped bucket → sorted member list → pair_combos (see
      // cappedBandPairs — same self-join-to-generator rewrite, lists
      // bounded at BandBucketCap)
      val pairs = bands.join(small, Seq("band", "v"))
        .groupBy("band", "v")
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .selectExpr("pair_combos(ids) AS (d1, d2)")
        .distinct()
      pairs
        .join(sig.select(col("doc_id").as("d1"), col("sim").as("sim1")), "d1")
        .join(sig.select(col("doc_id").as("d2"), col("sim").as("sim2")), "d2")
        .select(col("d1"), col("d2"),
          expr("CAST(bit_count(sim1 ^ sim2) AS BIGINT)").as("ham"))
        .where(col("ham") <= SimHamThr)
        .orderBy("d1", "d2")
    }),

    // Duplicate-SPAN detection (the sub-document dedup of "Deduplicating
    // Training Data Makes Language Models Better": exact duplicate token
    // spans, not whole-doc similarity). Every SpanW-token sliding window is
    // hashed; a span whose hash occurs in ≥2 distinct docs is duplicated
    // text. Per doc: span count, duplicated-span count, duplicated
    // fraction. Cost is Σ tokens rows (narrow explode) + one hash-keyed
    // count — linear at any corpus size; unlike the pair-generating dedups
    // there is NO self-join, so boilerplate needs no df-cap (high-df spans
    // just count, they never multiply).
    "q_span_dedup" -> ((s, dir) => {
      val ws = docs(s, dir)
        .select(col("doc_id"), Tokenize.tokenArray(col("text")).as("ws"))
        .where(size(col("ws")) >= SpanW)
      val spans = maybePersist(ws.select(col("doc_id"),
        explode(expr(
          s"transform(sequence(1, size(ws)-${SpanW - 1}), i -> md5(concat_ws(' ', slice(ws, i, $SpanW))))"))
          .as("h")))
      val docFreq = spans.select("doc_id", "h").distinct()
        .groupBy("h").agg(count(lit(1)).as("dfreq"))
      spans.join(docFreq, "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("dfreq") > 1, 1L).otherwise(0L)).as("n_dup"))
        .withColumn("dup_frac",
          round(col("n_dup").cast("double") / col("n_spans").cast("double"), 4))
        .orderBy("doc_id")
    }),

    // Incremental (base × delta) dedup — the production shape: a new batch
    // is deduped AGAINST the existing corpus, never corpus × corpus. Split
    // is by the stable md5 key bucket (90% base / 10% delta); candidates
    // come from an asymmetric band join (delta bands probe base bands, base
    // buckets capped at BandBucketCap), then exact shingle-Jaccard verifies
    // candidates only. At 100 TB the base band table is a persisted index:
    // each new batch costs O(delta) + the probe join.
    "q_delta_dedup" -> ((s, dir) => {
      val d = docs(s, dir).withColumn("bucket", expr(HashBucketSpark))
      val base = d.where(col("bucket") < 90).select("doc_id", "text")
      val delta = d.where(col("bucket") >= 90).select("doc_id", "text")
      val bSh = maybePersist(shinglesOf(base))
      val dSh = maybePersist(shinglesOf(delta))
      val bBands = bandRowsFromShingles(bSh)
      val small = bBands.groupBy("band", "v").agg(count(lit(1)).as("bn"))
        .where(col("bn") <= BandBucketCap).select("band", "v")
      val cand = bandRowsFromShingles(dSh)
        .join(bBands.join(small, Seq("band", "v"))
          .select(col("band"), col("v"), col("doc_id").as("base_id")),
          Seq("band", "v"))
        .select(col("doc_id").as("delta_id"), col("base_id")).distinct()
      val bSets = bSh.distinct()
      val dSets = dSh.distinct()
      val bSz = bSets.groupBy("doc_id").agg(count(lit(1)).as("szb"))
      val dSz = dSets.groupBy("doc_id").agg(count(lit(1)).as("szd"))
      val co = cand
        .join(dSets.select(col("doc_id").as("delta_id"), col("sh")), "delta_id")
        .join(bSets.select(col("doc_id").as("base_id"), col("sh").as("sh2")), "base_id")
        .where(col("sh") === col("sh2"))
        .groupBy("delta_id", "base_id").agg(count(lit(1)).as("co"))
      cand.join(co, Seq("delta_id", "base_id"), "left_outer")
        .join(dSz.withColumnRenamed("doc_id", "delta_id"), "delta_id")
        .join(bSz.withColumnRenamed("doc_id", "base_id"), "base_id")
        .withColumn("jac",
          expr("CAST(coalesce(co, 0) AS DOUBLE) / (szd + szb - coalesce(co, 0))"))
        .where(col("jac") >= DeltaJacThr)
        .select(col("delta_id"), col("base_id"), round(col("jac"), 4).as("jac"))
        .orderBy("delta_id", "base_id")
    }),

    // n-gram (token 3-gram) Jaccard near-dup, blocked by `source` so the
    // candidate join is bounded per block (global variant = q_dedup_minhash).
    // Trigrams with per-block document frequency > NgramDfCap are dropped
    // BEFORE the self-join (and from the Jaccard denominators): a shingle in
    // df docs contributes df² join rows but zero dedup signal once df is
    // large — the cap bounds pairs-per-shingle at C(cap,2) at any corpus
    // size. Jaccard is over the df-filtered shingle sets in both engines.
    "q_dedup_ngram" -> ((s, dir) => {
      val ws = docs(s, dir)
        .select(col("doc_id"), col("source"),
          Tokenize.tokenArray(col("text")).as("ws"))
        .where(size(col("ws")) >= 3)
      // tri feeds the df computation and (via trif) sizes + both join
      // sides — EAGER ckpt, not lazy persist: the consumers materialize
      // concurrently under the single terminal action and race a lazy
      // cache, each recomputing the tokenize+explode+distinct pipeline
      // (r12 per-job breakdown: two duplicate ~0.9 s jobs). One materialization,
      // blocks re-read by every consumer (the prefixTruePairs discipline).
      // SIZE-GATED (r12 verdict task 2): tri is a corpus-amplified explode
      // output — past the gate it degrades to a lazy spillable persist
      // that keeps lineage instead of pinning ~100× the corpus text in
      // executor storage with no recompute path.
      val tri = ckptIfSmall(ws.select(col("doc_id"), col("source"),
        explode(expr(
          "transform(sequence(1, size(ws)-2), i -> concat_ws(' ', element_at(ws,i), element_at(ws,i+1), element_at(ws,i+2)))"))
          .as("sh"))
        .distinct())
      val rare = tri.groupBy("source", "sh")
        .agg(count(lit(1)).as("dfreq")).where(col("dfreq") <= NgramDfCap)
        .select("source", "sh")
      val trif = tri.join(rare, Seq("source", "sh"))
      val sz = trif.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      // co-occurrence via per-shingle sorted doc lists + the native
      // pair_combos generator (the q_adamic_adar r12 shape): one shuffle
      // collects each rare shingle's doc list — bounded at NgramDfCap by
      // the rare filter, so the agg buffer is capped at any corpus
      // size — and the generator streams exactly C(df,2) value-ordered
      // (d1 < d2) pairs where the trif⋈trif sort-merge self-join sorted
      // both sides and streamed df² joined rows before its filter.
      val co = trif.groupBy("source", "sh")
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .selectExpr("pair_combos(ids) AS (d1, d2)")
        .groupBy("d1", "d2").agg(count(lit(1)).as("co"))
      co.join(sz.select(col("doc_id").as("d1"), col("sz").as("sa")), "d1")
        .join(sz.select(col("doc_id").as("d2"), col("sz").as("sb")), "d2")
        .withColumn("jac", expr("CAST(co AS DOUBLE) / (sa + sb - co)"))
        .groupBy("d1")
        .agg(count(lit(1)).as("n_pairs"),
          sum(expr("CASE WHEN jac >= 0.2 THEN 1 ELSE 0 END")).as("n_sim"),
          max(round(col("jac"), 4)).as("max_jac"))
        .orderBy("d1")
    }),

    // Embedding-cosine near-dup — BUCKETED, never all-pairs: candidates
    // come from the random-hyperplane LSH buckets (the q_ann_lsh
    // machinery — 8 md5-seeded integer hyperplanes → one 8-bit bucket per
    // vector), buckets over BandBucketCap docs are DROPPED before the
    // self-join (the minhash band-join discipline: an oversized bucket is
    // boilerplate, not dedup signal), and the exact-integer cosine
    // verifies inside each surviving bucket. Pairs per bucket are bounded
    // at C(cap,2) ≈ 2·10³ REGARDLESS of corpus size, so total candidate
    // volume is O(#buckets·cap²) = O(n·cap) — where the previous
    // constant-fraction self-join paid Θ((n/10)²/|labels|).
    "q_dedup_embcos" -> ((s, dir) => {
      // bucketed feeds the cap filter and BOTH self-join sides — ckpt so
      // the bucket computation runs once, not three times
      val bucketed = quantized(s, dir).where(col("nq") > 0)
        .withColumn("bucket", expr(lshBucketSparkExpr("q")).cast("long"))
        .ckpt()
      val ok = bucketed.groupBy("bucket").agg(count(lit(1)).as("bsz"))
        .where(col("bsz") <= BandBucketCap).select("bucket")
      val b = bucketed.join(ok, Seq("bucket"))
      val pairs = b.alias("x")
        .join(b.alias("y"),
          col("x.bucket") === col("y.bucket") &&
            col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("d1"), col("y.vec_id").as("d2"),
          expr("ivec_dot(x.q, y.q)")
            .as("dot"),
          col("x.nq").as("na"), col("y.nq").as("nb"))
        .withColumn("cos", expr(CosExpr))
      pairs.groupBy("d1")
        .agg(count(lit(1)).as("n_pairs"),
          sum(expr("CASE WHEN cos >= 0.7 THEN 1 ELSE 0 END")).as("n_sim"),
          max(round(col("cos"), 4)).as("max_cos"))
        .orderBy("d1")
    }),

    // Multimodal PERCEPTUAL DEDUP — aHash over the REAL decoded rasters
    // (8×8 grid sample → integer-mean threshold → 64-bit hash), then
    // hamming-near pairs via the simhash band discipline: 8 bands of 8
    // bits, pigeonhole-LOSSLESS for hamming ≤ 7, band buckets df-capped
    // at 64. The image twin of the text near-dup family: codec work runs
    // where the bytes live, the self-join only ever sees band-bucket
    // candidates, and bit_count(xor) verifies exactly. The oracle replays
    // hash + bands from the fixture's pixel rule.
    "q_phash_dedup" -> ((s, dir) => {
      import s.implicits._
      val recs = mediaTable(s, dir, "png")
        .repartition(s.sparkContext.defaultParallelism)
        .as[graft.operators.MediaRecord]
      val hashed = graft.operators.Multimodal.extractAHash(recs)
        .toDF().select("doc_id", "ahash").ckpt()
      val bands = hashed
        .select(col("doc_id"), col("ahash"),
          explode(expr("sequence(0, 7)")).as("b"))
        .withColumn("bv", expr("shiftright(ahash, CAST(8 * b AS INT)) & 255"))
      val keep = bands.groupBy("b", "bv").agg(count(lit(1)).as("n"))
        .where(col("n") <= BandBucketCap).select("b", "bv")
      val bk = bands.join(keep, Seq("b", "bv"))
      val cand = bk.alias("x").join(bk.alias("y"), Seq("b", "bv"))
        .where(col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
          col("x.ahash").as("h1"), col("y.ahash").as("h2"))
        .distinct()
      cand.withColumn("ham", expr("bit_count(h1 ^ h2)").cast("long"))
        .where(col("ham") <= 7)
        .select("d1", "d2", "ham")
        .orderBy("d1", "d2")
    }),

    "q_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        Tokenize.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),

    // Winnowing fingerprints (operators.Winnow — Schleimer/MOSS): every
    // w-window of k-gram hashes contributes its MINIMUM hash; the distinct
    // selected set is the document fingerprint — ~2/(w+1) the density of
    // full shingling with a guarantee that any match of length ≥ w+k-1
    // shares a fingerprint. One narrow gram explode + one doc_id window
    // shuffle; fingerprint set md5'd so the dump stays one row per doc.
    // WinnowSpec cross-checks the operator against an in-memory mirror
    // and the match guarantee on random strings.
    "q_winnow" -> ((s, dir) =>
      graft.operators.Winnow
        .selected(docs(s, dir), "doc_id", "text", WinnowK, WinnowW)
        .groupBy("doc_id")
        .agg(max(col("ng")).as("n_grams"),
          sort_array(collect_set(col("wm"))).as("fps"))
        .select(col("doc_id"), col("n_grams"),
          expr("CAST(size(fps) AS BIGINT)").as("n_fp"),
          expr("md5(array_join(transform(fps, x -> CAST(x AS STRING)), ','))")
            .as("fp_md5"))
        .orderBy("doc_id")),

    // Winnowing as a dedup scale path: docs whose selected-fingerprint
    // sets overlap heavily are near-dups. Same bucket-join discipline as
    // minhash/ngram: a fingerprint's document frequency is capped (df in
    // [2, WinnowDfCap]) before the self-join, so corpus boilerplate (a
    // fingerprint in thousands of docs) never fans out — pairs per
    // fingerprint ≤ C(cap, 2) at any corpus size. Pairs are kept when the
    // overlap coefficient n_shared / min(|fps_a|, |fps_b|) ≥ threshold —
    // a set-containment test, so a doc embedded in a longer one still
    // scores 1.0. The oracle replays the identical cap and ratio.
    "q_winnow_pairs" -> ((s, dir) => {
      // the distinct fingerprint set is ~2/(w+1) the gram volume and has
      // FOUR consumers (sizes, df filter, both join sides) — persist it
      // (policy knob) so the explode+window pipeline runs once
      val fp = maybePersist(graft.operators.Winnow
        .selected(docs(s, dir), "doc_id", "text", WinnowK, WinnowW)
        .select(col("doc_id"), col("wm")).distinct())
      val nfp = fp.groupBy("doc_id").agg(count(lit(1)).as("nf"))
      val rare = fp.groupBy("wm").agg(count(lit(1)).as("c"))
        .where(col("c") >= 2 && col("c") <= WinnowDfCap).select("wm")
      val capped = fp.join(rare, Seq("wm"))
      capped.alias("x")
        .join(capped.alias("y"),
          col("x.wm") === col("y.wm") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .agg(count(lit(1)).as("n_shared"))
        .join(nfp.select(col("doc_id").as("a"), col("nf").as("na")), Seq("a"))
        .join(nfp.select(col("doc_id").as("b"), col("nf").as("nb")), Seq("b"))
        .where(col("n_shared") >= least(col("na"), col("nb")) * WinnowOverlap)
        .select(col("a"), col("b"), col("n_shared"),
          round(col("n_shared") / least(col("na"), col("nb")), 4).as("overlap"))
        .orderBy("a", "b")
    }),

    // SQL front door for the winnowing Generator: the same selection
    // reached as LATERAL VIEW winnow_fingerprints(text, k, w) over plain
    // SQL text — proof the registered function library composes in SQL,
    // not just through the Column API. Output: per-doc fingerprint-set
    // size (docs with no full window emit no rows on either engine).
    "q_sql_winnow" -> ((s, dir) => {
      graft.plans.GraftExtensions.register(s)
      docs(s, dir).createOrReplaceTempView("documents_wv")
      s.sql(
        s"""SELECT doc_id, CAST(count(DISTINCT wm) AS BIGINT) AS n_fp
           |FROM documents_wv
           |LATERAL VIEW winnow_fingerprints(text, $WinnowK, $WinnowW) wf AS i, wm, ng
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    }),

    // SEMANTIC DEDUP (SemDeDup, Abbas et al. '23): k-means buckets the
    // embedding space, then near-duplicates are pruned ONLY within each
    // cluster — the clustering IS the blocking step, so the pair join is
    // Σ|cluster|², never corpus², and in the real recipe k grows with
    // the corpus to keep cluster sizes bounded (here k = KmK, the
    // harness-scale contract; the same capped-bucket shape as LSH band
    // dedup). Keep-first semantics: a vector drops iff some SMALLER id
    // in its cluster has quantized cosine ≥ SemTau with it — exact
    // integer dots, one identical float chain, no iteration. Zero-norm
    // vectors are excluded up front (cosine undefined).
    "q_semdedup" -> ((s, dir) => {
      val vecs = quantized(s, dir).select(col("vec_id").as("id"),
        col("q"), col("nq"))
      val cents = graft.operators.KMeans.centroids(
        vecs.select("id", "q"), KmK, KmIters)
      val asg = graft.operators.KMeans.assign(
        vecs.select(col("id"),
          expr("transform(q, x -> x * CAST(1000 AS BIGINT))").as("v")),
        cents).select("id", "cid")
      val qa = vecs.where(col("nq") > 0).join(asg, "id")
      val dropped = qa.alias("x").join(qa.alias("y"),
          col("x.cid") === col("y.cid") && col("x.id") < col("y.id"))
        .select(col("y.id").as("id"),
          expr("ivec_dot(x.q, y.q)").as("dot"),
          col("x.nq").as("na"), col("y.nq").as("nb"))
        .where(expr(CosExpr) >= SemTau)
        .select("id").distinct().withColumn("drp", lit(1L))
      qa.join(dropped, Seq("id"), "left_outer")
        .groupBy("cid")
        .agg(count(lit(1)).as("n"),
          sum(when(col("drp").isNull, 1L).otherwise(0L)).as("n_kept"),
          min(when(col("drp").isNull, col("id"))).as("min_kept"),
          max(when(col("drp").isNull, col("id"))).as("max_kept"))
        .orderBy("cid")
    }),

    // Native Generator (the UDTF extension tier, completing the custom-
    // operator surface: expression / optimizer rule / strategy+exec /
    // parser / DSv2 / generator): the sampled char-shingle explode as ONE
    // GenerateExec row-emitter — the HOF spelling
    // explode(transform(sequence(...))) materializes a per-row array of
    // len/stride elements first; the generator never allocates it. Stats
    // per doc over the generated shingle stream.
    "q_shingle_gen" -> ((s, dir) =>
      docs(s, dir)
        .selectExpr("doc_id", s"char_shingles(text, $K, $Stride)")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_sh"),
          count_distinct(col("sh")).as("n_distinct"),
          min(col("sh")).as("min_sh"), max(col("sh")).as("max_sh"))
        .orderBy("doc_id")),

    // T5-style span corruption accounting: deterministic span starts
    // (md5(doc:pos) ≡ 0 mod 10), fixed span width 3, overlapping spans
    // UNION — a position is masked iff a start falls in [pos−2, pos]
    // (rolling max over the start flag), span count = maximal-run starts
    // (masked ∧ ¬lag(masked)). Pure integer/window ops, reproducible at
    // any partitioning; windows are per-doc over token positions (doc-
    // length bounded), the corpus-scale stage is one tokenize explode +
    // one per-source aggregation.
    "q_span_corrupt" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pos = docs(s, dir)
        .select(col("doc_id"), col("source"),
          posexplode(split(col("text"), " ")).as(Seq("p", "tok")))
        .withColumn("st", expr(
          "CAST(CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':', " +
            "CAST(p AS STRING))), 1, 8), 16, 10) AS BIGINT) % 10 = 0 AS INT)"))
      val win = Window.partitionBy("doc_id").orderBy("p")
      val masked = pos
        .withColumn("m",
          max(col("st")).over(win.rowsBetween(-2, Window.currentRow)))
        .withColumn("run_start", expr(
          "CAST(m = 1 AND coalesce(lag(m, 1) OVER " +
            "(PARTITION BY doc_id ORDER BY p), 0) = 0 AS INT)"))
      masked.groupBy("source")
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("m")).cast("long").as("n_masked"),
          sum(col("run_start")).cast("long").as("n_spans"))
        .withColumn("mask_ratio", expr(
          "round(CAST(n_masked AS DOUBLE) / n_tokens, 6)"))
        .orderBy("source")
    }),

    // SUB-document dedup: exact paragraph-level dedup across the corpus
    // (boilerplate headers/footers repeat across docs that are NOT
    // near-dups as wholes — the real-pipeline granularity below document
    // dedup). Keeper = first occurrence in (doc_id, position) order.
    // Scale shape: groupBy(para) with a lexicographic min-struct collapses
    // map-side (a paragraph duplicated 10⁶× shuffles ≤ 1 row per map
    // partition, not 10⁶ rows into one window sort), then one join back —
    // no per-group sort anywhere.
    // Dedup-channel AGREEMENT eval: how much of the lexical near-dup
    // signal (trigram Jaccard ≥ 0.2, the q_dedup_ngram chain) does the
    // semantic channel (embedding cos ≥ 0.7, label-blocked over ALL
    // vectors) recover, and vice versa — the calibration a pipeline runs
    // before trusting one channel alone. Pair-set Jaccard over exact
    // integer counts; both channels keep their own blocking discipline
    // (df-capped trigrams / IVF labels), so neither goes corpus×corpus.
    "q_dedup_agreement" -> ((s, dir) => {
      val ws = docs(s, dir)
        .select(col("doc_id"), col("source"),
          Tokenize.tokenArray(col("text")).as("ws"))
        .where(size(col("ws")) >= 3)
      val tri = maybePersist(ws.select(col("doc_id"), col("source"),
        explode(expr(
          "transform(sequence(1, size(ws)-2), i -> concat_ws(' ', element_at(ws,i), element_at(ws,i+1), element_at(ws,i+2)))"))
          .as("sh"))
        .distinct())
      val rare = tri.groupBy("source", "sh")
        .agg(count(lit(1)).as("dfreq")).where(col("dfreq") <= NgramDfCap)
        .select("source", "sh")
      val trif = tri.join(rare, Seq("source", "sh"))
      val sz = trif.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val lex = trif.alias("x")
        .join(trif.alias("y"),
          col("x.source") === col("y.source") && col("x.sh") === col("y.sh") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
        .groupBy("d1", "d2").agg(count(lit(1)).as("co"))
        .join(sz.select(col("doc_id").as("d1"), col("sz").as("sa")), "d1")
        .join(sz.select(col("doc_id").as("d2"), col("sz").as("sb")), "d2")
        .where(expr("CAST(co AS DOUBLE) / (sa + sb - co) >= 0.2"))
        .select("d1", "d2")
      val all = quantized(s, dir).where(col("nq") > 0)
      val sem = all.alias("a")
        .join(all.alias("b"), col("a.label") === col("b.label")
          && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("d1"), col("b.vec_id").as("d2"),
          expr("ivec_dot(a.q, b.q)").as("dot"),
          col("a.nq").as("na"), col("b.nq").as("nb"))
        .where(expr(s"$CosExpr >= 0.7"))
        .select("d1", "d2")
      val both = lex.join(sem, Seq("d1", "d2"))
      lex.agg(count(lit(1)).as("n_lex"))
        .crossJoin(sem.agg(count(lit(1)).as("n_sem")))
        .crossJoin(both.agg(count(lit(1)).as("n_both")))
        .select(col("n_lex"), col("n_sem"), col("n_both"),
          expr("round(CAST(n_both AS DOUBLE) / (n_lex + n_sem - n_both), 6)")
            .as("agreement"))
    }),

    "q_dedup_paragraph" -> ((s, dir) => {
      val paras = docs(s, dir)
        .select(col("doc_id"), posexplode(split(col("text"), "\\. ")))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("i"),
          trim(col("col")).as("para"))
        .where(length(col("para")) > 0)
      val firsts = paras.groupBy("para")
        .agg(min(struct(col("doc_id"), col("i"))).as("first"))
      paras.join(firsts, "para")
        .withColumn("kept", col("doc_id") === col("first.doc_id") &&
          col("i") === col("first.i"))
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_paras"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("kept"), length(col("para")).cast("long"))
            .otherwise(0L)).as("kept_chars"))
        .orderBy("doc_id")
    }),

    // Near-dup CLUSTERS via connected components: pointer-doubling
    // min-label propagation over the verified-pair graph (the union-find
    // view of dedup — the greedy d2-drop of q_dedup_apply is one policy;
    // this exposes the clusters themselves). O(log diameter) rounds, hard
    // round cap, convergence count folded into the propagation job — see
    // operators.ConnectedComponents. Oracle = DuckDB recursive CTE, a
    // different fixpoint algorithm entirely.
    "q_dedup_components" -> ((s, dir) => {
      val vp = verifiedPairs(s, dir)
      val (labels, _) = graft.operators.ConnectedComponents.labels(
        vp.select(col("d1").as("a"), col("d2").as("b")))
      labels.groupBy("l").agg(count(lit(1)).as("n_members"),
          max(col("v")).as("max_id"))
        .select(col("l").as("comp_id"), col("n_members"), col("max_id"))
        .orderBy("comp_id")
    }),

    // Near-dup clusters with a KEEP-BEST policy: per component, retain
    // the LONGEST member (n_chars, smallest doc_id on ties) — the
    // C4/RefinedWeb-style "keep the richest near-dup" curation rule, vs
    // the min-id policy of q_dedup_apply. Same components machinery; the
    // argmax is one max-struct aggregate (map-side partials — never a
    // per-component sort), doc length joins from the broadcast-size
    // documents dim at sf but shuffles on doc_id at corpus scale.
    "q_dedup_keep_best" -> ((s, dir) => {
      val vp = verifiedPairs(s, dir)
      val (labels, _) = graft.operators.ConnectedComponents.labels(
        vp.select(col("d1").as("a"), col("d2").as("b")))
      labels.join(docs(s, dir).select(col("doc_id").as("v"), col("n_chars")),
          Seq("v"))
        .groupBy("l")
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("n_chars"), (-col("v")).as("nid"))).as("mx"))
        .select(col("l").as("comp_id"), col("n_members"),
          (-col("mx.nid")).as("keep_id"),
          col("mx.n_chars").cast("long").as("keep_chars"))
        .orderBy("comp_id")
    }),

    // The APPLY stage of paragraph dedup: rebuild each document from only
    // its KEPT paragraphs (first global occurrence), in original order.
    // collect_list is order-nondeterministic, so the rebuild sorts
    // struct(i, para) pairs (unique i) before joining — deterministic
    // under any partitioning; output is the md5 of the cleaned text plus
    // kept counts, keeping the dump small.
    "q_clean_paragraph" -> ((s, dir) => {
      val paras = docs(s, dir)
        .select(col("doc_id"), posexplode(split(col("text"), "\\. ")))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("i"),
          trim(col("col")).as("para"))
        .where(length(col("para")) > 0)
      val firsts = paras.groupBy("para")
        .agg(min(struct(col("doc_id"), col("i"))).as("first"))
      paras.join(firsts, "para")
        .where(col("doc_id") === col("first.doc_id") &&
          col("i") === col("first.i"))
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("i"), col("para"))))
          .as("ps"))
        .select(col("doc_id"),
          expr("CAST(size(ps) AS BIGINT)").as("n_kept"),
          expr("md5(array_join(transform(ps, s -> s.para), '. '))")
            .as("clean_md5"))
        .orderBy("doc_id")
    })
  )

  val oracle: Map[String, String] = strictMap(
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,

    "q_dedup_url" ->
      """WITH raw AS (
        |  SELECT doc_id, concat(
        |    'HTTP://', CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END,
        |    source, '.Example.COM',
        |    CASE WHEN doc_id % 4 = 0 THEN ':80' ELSE '' END,
        |    '/p/', CAST(doc_id % 7 AS VARCHAR),
        |    CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END,
        |    CASE CAST(doc_id % 3 AS INT)
        |      WHEN 0 THEN concat('?utm_source=feed&id=', CAST(doc_id % 3 AS VARCHAR))
        |      WHEN 1 THEN concat('?id=', CAST(doc_id % 3 AS VARCHAR), '&utm_campaign=x')
        |      ELSE concat('?id=', CAST(doc_id % 3 AS VARCHAR)) END,
        |    CASE WHEN doc_id % 2 = 0 THEN '#Section-2' ELSE '' END) AS url
        |  FROM documents
        |),
        |u AS (
        |  SELECT doc_id,
        |    regexp_replace(
        |      replace(replace(lower(regexp_replace(url, '#.*$', '')),
        |              ':80/', '/'),
        |        '://www.', '://'),
        |      '/$', '') AS u1
        |  FROM raw
        |),
        |parts AS (
        |  SELECT doc_id, str_split(u1, '?')[1] AS base,
        |    COALESCE(str_split(u1, '?')[2], '') AS qq
        |  FROM u
        |),
        |canon AS (
        |  SELECT doc_id,
        |    concat(regexp_replace(base, '/$', ''),
        |      CASE WHEN q2 <> '' THEN concat('?', q2) ELSE '' END) AS canon
        |  FROM parts, LATERAL (
        |    SELECT array_to_string(
        |      list_sort(list_filter(str_split(qq, '&'),
        |                            p -> p NOT LIKE 'utm_%')), '&') AS q2)
        |)
        |SELECT canon, min(doc_id) AS keep_id, count(*) AS n
        |FROM canon GROUP BY 1
        |ORDER BY n DESC, canon LIMIT 20""".stripMargin,

    "q_curriculum" ->
      """WITH scored AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN uniq * 10 >= words * 7 THEN 2
        |         WHEN uniq * 10 >= words * 4 THEN 1
        |         ELSE 0 END AS BIGINT) AS tier,
        |    md5('cur-' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM (SELECT doc_id,
        |          len(str_split(text, ' ')) AS words,
        |          len(list_distinct(str_split(text, ' '))) AS uniq
        |        FROM documents)
        |)
        |SELECT CAST(row_number() OVER (ORDER BY tier DESC, h, doc_id)
        |    AS BIGINT) AS pos,
        |  doc_id, tier
        |FROM scored ORDER BY tier DESC, h, doc_id LIMIT 50""".stripMargin,

    "q_dedup_minhash" ->
      s"""WITH $MinhashSigSql,
         |$BandsSql,
         |pairs AS (
         |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |  FROM cbands x JOIN cbands y
         |    ON x.band = y.band AND x.v = y.v AND x.doc_id < y.doc_id
         |)
         |SELECT d1, count(*) AS n_cand, min(d2) AS min_partner
         |FROM pairs GROUP BY d1 ORDER BY d1""".stripMargin,

    "q_dedup_minhash_verified" ->
      s"""WITH $MinhashSigSql,
         |$BandsSql,
         |pairs AS (
         |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |  FROM cbands x JOIN cbands y
         |    ON x.band = y.band AND x.v = y.v AND x.doc_id < y.doc_id
         |),
         |sets AS (SELECT DISTINCT doc_id, sh FROM sh),
         |sz AS (SELECT doc_id, count(*) AS sz FROM sets GROUP BY doc_id),
         |co AS (
         |  SELECT p.d1, p.d2, count(*) AS co
         |  FROM pairs p
         |  JOIN sets a ON a.doc_id = p.d1
         |  JOIN sets b ON b.doc_id = p.d2 AND b.sh = a.sh
         |  GROUP BY p.d1, p.d2
         |)
         |SELECT p.d1, p.d2,
         |  round(CAST(coalesce(co.co, 0) AS DOUBLE)
         |        / (sa.sz + sb.sz - coalesce(co.co, 0)), 4) AS jac
         |FROM pairs p
         |LEFT JOIN co ON co.d1 = p.d1 AND co.d2 = p.d2
         |JOIN sz sa ON sa.doc_id = p.d1
         |JOIN sz sb ON sb.doc_id = p.d2
         |ORDER BY p.d1, p.d2""".stripMargin,

    "q_dedup_containment" ->
      s"""WITH $MinhashSigSql,
         |$BandsSql,
         |bpairs AS (
         |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |  FROM cbands x JOIN cbands y
         |    ON x.band = y.band AND x.v = y.v AND x.doc_id < y.doc_id
         |),
         |sets AS (SELECT DISTINCT doc_id, sh FROM sh),
         |samp AS (
         |  SELECT doc_id, sh FROM sets
         |  WHERE ${hex2longSql("md5(sh)", 1)} % $ContainSampleMod = 0
         |),
         |srare AS (SELECT sh FROM samp GROUP BY sh
         |          HAVING count(*) BETWEEN 2 AND $BandBucketCap),
         |spairs AS (
         |  SELECT x.doc_id AS d1, y.doc_id AS d2
         |  FROM samp x JOIN srare USING (sh) JOIN samp y USING (sh)
         |  WHERE x.doc_id < y.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= $ContainCoMin
         |),
         |pairs AS (SELECT d1, d2 FROM bpairs UNION SELECT d1, d2 FROM spairs),
         |sz AS (SELECT doc_id, count(*) AS sz FROM sets GROUP BY doc_id),
         |co AS (
         |  SELECT p.d1, p.d2, count(*) AS co
         |  FROM pairs p
         |  JOIN sets a ON a.doc_id = p.d1
         |  JOIN sets b ON b.doc_id = p.d2 AND b.sh = a.sh
         |  GROUP BY p.d1, p.d2
         |)
         |SELECT p.d1, p.d2,
         |  round(CAST(coalesce(co.co, 0) AS DOUBLE)
         |        / least(sa.sz, sb.sz), 4) AS containment
         |FROM pairs p
         |LEFT JOIN co ON co.d1 = p.d1 AND co.d2 = p.d2
         |JOIN sz sa ON sa.doc_id = p.d1
         |JOIN sz sb ON sb.doc_id = p.d2
         |WHERE CAST(coalesce(co.co, 0) AS DOUBLE) / least(sa.sz, sb.sz) >= 0.5
         |ORDER BY p.d1, p.d2""".stripMargin,

    "q_dedup_apply" ->
      s"""WITH $MinhashSigSql,
         |$BandsSql,
         |$NearDupsSql
         |SELECT count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  min(doc_id) AS min_id, max(doc_id) AS max_id
         |FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM dropids)""".stripMargin,

    // Recursive-CTE fixpoint (a different algorithm than the Spark side's
    // label propagation): reach(v, l) holds every (vertex, label-that-
    // reaches-it); min per vertex = component min id. UNION dedup
    // guarantees termination.
    "q_dedup_components" ->
      s"""WITH RECURSIVE $MinhashSigSql,
         |$BandsSql,
         |pairs AS (
         |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |  FROM cbands x JOIN cbands y
         |    ON x.band = y.band AND x.v = y.v AND x.doc_id < y.doc_id
         |),
         |sets AS (SELECT DISTINCT doc_id, sh FROM sh),
         |sz AS (SELECT doc_id, count(*) AS sz FROM sets GROUP BY doc_id),
         |vp AS (
         |  SELECT p.d1, p.d2
         |  FROM pairs p
         |  JOIN (SELECT p2.d1, p2.d2, count(*) AS co
         |        FROM pairs p2
         |        JOIN sets a ON a.doc_id = p2.d1
         |        JOIN sets b ON b.doc_id = p2.d2 AND b.sh = a.sh
         |        GROUP BY p2.d1, p2.d2) co ON co.d1 = p.d1 AND co.d2 = p.d2
         |  JOIN sz sa ON sa.doc_id = p.d1
         |  JOIN sz sb ON sb.doc_id = p.d2
         |  WHERE CAST(co.co AS DOUBLE) / (sa.sz + sb.sz - co.co) >= 0.5
         |),
         |edges AS (SELECT d1 AS a, d2 AS b FROM vp
         |          UNION ALL SELECT d2 AS a, d1 AS b FROM vp),
         |verts AS (SELECT DISTINCT a AS v FROM edges),
         |reach AS (
         |  SELECT v, v AS l FROM verts
         |  UNION
         |  SELECT e.b AS v, r.l FROM reach r JOIN edges e ON e.a = r.v
         |),
         |comp AS (SELECT v, min(l) AS comp_id FROM reach GROUP BY v)
         |SELECT comp_id, count(*) AS n_members, max(v) AS max_id
         |FROM comp GROUP BY comp_id ORDER BY comp_id""".stripMargin,

    // Same recursive-CTE components, + the keep-best argmax: longest
    // member, smallest doc_id on equal length.
    "q_dedup_keep_best" ->
      s"""WITH RECURSIVE $MinhashSigSql,
         |$BandsSql,
         |pairs AS (
         |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |  FROM cbands x JOIN cbands y
         |    ON x.band = y.band AND x.v = y.v AND x.doc_id < y.doc_id
         |),
         |sets AS (SELECT DISTINCT doc_id, sh FROM sh),
         |sz AS (SELECT doc_id, count(*) AS sz FROM sets GROUP BY doc_id),
         |vp AS (
         |  SELECT p.d1, p.d2
         |  FROM pairs p
         |  JOIN (SELECT p2.d1, p2.d2, count(*) AS co
         |        FROM pairs p2
         |        JOIN sets a ON a.doc_id = p2.d1
         |        JOIN sets b ON b.doc_id = p2.d2 AND b.sh = a.sh
         |        GROUP BY p2.d1, p2.d2) co ON co.d1 = p.d1 AND co.d2 = p.d2
         |  JOIN sz sa ON sa.doc_id = p.d1
         |  JOIN sz sb ON sb.doc_id = p.d2
         |  WHERE CAST(co.co AS DOUBLE) / (sa.sz + sb.sz - co.co) >= 0.5
         |),
         |edges AS (SELECT d1 AS a, d2 AS b FROM vp
         |          UNION ALL SELECT d2 AS a, d1 AS b FROM vp),
         |verts AS (SELECT DISTINCT a AS v FROM edges),
         |reach AS (
         |  SELECT v, v AS l FROM verts
         |  UNION
         |  SELECT e.b AS v, r.l FROM reach r JOIN edges e ON e.a = r.v
         |),
         |comp AS (SELECT v, min(l) AS comp_id FROM reach GROUP BY v),
         |m AS (SELECT c.comp_id, c.v, d.n_chars
         |      FROM comp c JOIN documents d ON d.doc_id = c.v),
         |mc AS (SELECT comp_id, max(n_chars) AS mx FROM m GROUP BY comp_id)
         |SELECT m.comp_id, count(*) AS n_members,
         |  min(CASE WHEN m.n_chars = mc.mx THEN m.v END) AS keep_id,
         |  CAST(max(mc.mx) AS BIGINT) AS keep_chars
         |FROM m JOIN mc ON mc.comp_id = m.comp_id
         |GROUP BY m.comp_id ORDER BY m.comp_id""".stripMargin,

    "q_dedup_simhash" -> {
      val sums = (0 until 16).map(j =>
        s"sum(CASE WHEN CAST(floor(a / ${1L << j}) AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END) AS s$j")
        .mkString(",\n    ")
      val bits = (0 until 16).map(j =>
        s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
      s"""WITH $ToksSql,
         |a AS (SELECT doc_id, ${hex2longSql("md5(word)", 1)} AS a FROM toks),
         |sums AS (
         |  SELECT doc_id,
         |    $sums
         |  FROM a GROUP BY doc_id
         |)
         |SELECT doc_id, CAST($bits AS BIGINT) AS simhash
         |FROM sums ORDER BY doc_id""".stripMargin
    },

    "q_dedup_simhash_pairs" -> {
      val sums = (0 until 32).map(j =>
        s"sum(CASE WHEN CAST(floor(a / ${1L << j}) AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END) AS s$j")
        .mkString(",\n    ")
      val bits = (0 until 32).map(j =>
        s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
      val bandRows = (0 until SimBands).map(b =>
        s"SELECT doc_id, $b AS band, CAST(floor(sim / ${1L << (SimBandBits * b)}) AS BIGINT) % ${1 << SimBandBits} AS v FROM sig")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH $ToksSql,
         |a AS (SELECT doc_id, ${hex2longSql("md5(word)", 1)} AS a FROM toks),
         |sums AS (SELECT doc_id,
         |    $sums
         |  FROM a GROUP BY doc_id),
         |sig AS (SELECT doc_id, CAST($bits AS BIGINT) AS sim FROM sums),
         |bands AS (
         |  $bandRows
         |),
         |small AS (SELECT band, v FROM bands GROUP BY band, v
         |          HAVING count(*) <= $BandBucketCap),
         |capped AS (SELECT bands.* FROM bands JOIN small USING (band, v)),
         |pairs AS (
         |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |  FROM capped x JOIN capped y
         |    ON x.band = y.band AND x.v = y.v AND x.doc_id < y.doc_id
         |)
         |SELECT d1, d2, CAST(bit_count(xor(s1.sim, s2.sim)) AS BIGINT) AS ham
         |FROM pairs
         |JOIN sig s1 ON pairs.d1 = s1.doc_id
         |JOIN sig s2 ON pairs.d2 = s2.doc_id
         |WHERE bit_count(xor(s1.sim, s2.sim)) <= $SimHamThr
         |ORDER BY d1, d2""".stripMargin
    },

    "q_span_dedup" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    regexp_split_to_array(trim(regexp_replace(text, '$DelimSql', ' ', 'g')), ' ') AS ws
         |  FROM documents
         |),
         |tt AS (SELECT * FROM t WHERE len(ws) >= $SpanW),
         |spans AS (
         |  SELECT doc_id,
         |    md5(array_to_string(ws[i:i+${SpanW - 1}], ' ')) AS h
         |  FROM (SELECT doc_id, ws,
         |               unnest(generate_series(1, len(ws)-${SpanW - 1})) AS i
         |        FROM tt)
         |),
         |dfq AS (SELECT h, count(*) AS dfreq
         |        FROM (SELECT DISTINCT doc_id, h FROM spans) GROUP BY h)
         |SELECT doc_id, count(*) AS n_spans,
         |  CAST(sum(CASE WHEN dfreq > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |  round(CAST(sum(CASE WHEN dfreq > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |        / CAST(count(*) AS DOUBLE), 4) AS dup_frac
         |FROM spans JOIN dfq USING (h)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_delta_dedup" ->
      s"""WITH ${deltaSideSql("b", s"$hashBucketSql < 90")},
         |${deltaSideSql("d", s"$hashBucketSql >= 90")},
         |small AS (SELECT band, v FROM bands_b GROUP BY band, v
         |          HAVING count(*) <= $BandBucketCap),
         |cand AS (
         |  SELECT DISTINCT dd.doc_id AS delta_id, bb.doc_id AS base_id
         |  FROM bands_d dd
         |  JOIN (SELECT bands_b.* FROM bands_b JOIN small USING (band, v)) bb
         |    ON dd.band = bb.band AND dd.v = bb.v
         |),
         |bsets AS (SELECT DISTINCT doc_id, sh FROM sh_b),
         |dsets AS (SELECT DISTINCT doc_id, sh FROM sh_d),
         |bsz AS (SELECT doc_id, count(*) AS szb FROM bsets GROUP BY doc_id),
         |dsz AS (SELECT doc_id, count(*) AS szd FROM dsets GROUP BY doc_id),
         |co AS (
         |  SELECT c.delta_id, c.base_id, count(*) AS co
         |  FROM cand c
         |  JOIN dsets a ON a.doc_id = c.delta_id
         |  JOIN bsets b2 ON b2.doc_id = c.base_id AND b2.sh = a.sh
         |  GROUP BY 1, 2
         |)
         |SELECT c.delta_id, c.base_id,
         |  round(CAST(coalesce(co.co, 0) AS DOUBLE)
         |        / (dsz.szd + bsz.szb - coalesce(co.co, 0)), 4) AS jac
         |FROM cand c
         |LEFT JOIN co ON co.delta_id = c.delta_id AND co.base_id = c.base_id
         |JOIN dsz ON dsz.doc_id = c.delta_id
         |JOIN bsz ON bsz.doc_id = c.base_id
         |WHERE CAST(coalesce(co.co, 0) AS DOUBLE)
         |      / (dsz.szd + bsz.szb - coalesce(co.co, 0)) >= $DeltaJacThr
         |ORDER BY c.delta_id, c.base_id""".stripMargin,

    "q_dedup_ngram" ->
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
         |tdf AS (SELECT source, sh, count(*) AS dfreq FROM tri GROUP BY source, sh),
         |trif AS (
         |  SELECT tri.doc_id, tri.source, tri.sh
         |  FROM tri JOIN tdf USING (source, sh) WHERE tdf.dfreq <= $NgramDfCap
         |),
         |sz AS (SELECT doc_id, count(*) AS sz FROM trif GROUP BY doc_id),
         |co AS (
         |  SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS co
         |  FROM trif x JOIN trif y
         |    ON x.source = y.source AND x.sh = y.sh AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2
         |),
         |j AS (
         |  SELECT d1, d2, CAST(co AS DOUBLE) / (sa.sz + sb.sz - co) AS jac
         |  FROM co JOIN sz sa ON co.d1 = sa.doc_id JOIN sz sb ON co.d2 = sb.doc_id
         |)
         |SELECT d1, count(*) AS n_pairs,
         |  CAST(sum(CASE WHEN jac >= 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_sim,
         |  max(round(jac, 4)) AS max_jac
         |FROM j GROUP BY d1 ORDER BY d1""".stripMargin,

    "q_dedup_agreement" ->
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
         |tdf AS (SELECT source, sh, count(*) AS dfreq FROM tri GROUP BY source, sh),
         |trif AS (
         |  SELECT tri.doc_id, tri.source, tri.sh
         |  FROM tri JOIN tdf USING (source, sh) WHERE tdf.dfreq <= $NgramDfCap
         |),
         |sz AS (SELECT doc_id, count(*) AS sz FROM trif GROUP BY doc_id),
         |lex AS (
         |  SELECT d1, d2 FROM (
         |    SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS cnt
         |    FROM trif x JOIN trif y
         |      ON x.source = y.source AND x.sh = y.sh AND x.doc_id < y.doc_id
         |    GROUP BY 1, 2
         |  ) co JOIN sz sa ON co.d1 = sa.doc_id JOIN sz sb ON co.d2 = sb.doc_id
         |  WHERE CAST(cnt AS DOUBLE) / (sa.sz + sb.sz - cnt) >= 0.2
         |),
         |$QuantizedNormSql,
         |qv AS (SELECT e.vec_id, e.label, e.embedding, qn.nq
         |       FROM embeddings e JOIN qn ON e.vec_id = qn.vec_id
         |       WHERE qn.nq > 0),
         |p AS (
         |  SELECT a.vec_id AS d1, b.vec_id AS d2, a.embedding AS ea,
         |         b.embedding AS eb, a.nq AS na, b.nq AS nb
         |  FROM qv a JOIN qv b ON a.label = b.label AND a.vec_id < b.vec_id
         |),
         |dd AS (
         |  SELECT d1, d2, na, nb,
         |    CAST(sum(${quantSqlElem("ea[i]")} * ${quantSqlElem("eb[i]")}) AS BIGINT) AS dot
         |  FROM (SELECT p.*, unnest(generate_series(1, len(ea))) AS i FROM p)
         |  GROUP BY d1, d2, na, nb
         |),
         |sem AS (SELECT d1, d2 FROM dd WHERE $CosExpr >= 0.7),
         |b2 AS (SELECT count(*) AS n_both FROM lex JOIN sem USING (d1, d2))
         |SELECT (SELECT count(*) FROM lex) AS n_lex,
         |  (SELECT count(*) FROM sem) AS n_sem,
         |  n_both,
         |  round(CAST(n_both AS DOUBLE) /
         |    ((SELECT count(*) FROM lex) + (SELECT count(*) FROM sem) - n_both), 6)
         |    AS agreement
         |FROM b2""".stripMargin,

    "q_dedup_embcos" ->
      s"""WITH $QuantizedNormSql,
         |$lshBucketSql,
         |sel AS (SELECT e.vec_id, e.embedding, qn.nq, b.bucket
         |        FROM embeddings e
         |        JOIN qn ON e.vec_id = qn.vec_id
         |        JOIN buckets b ON e.vec_id = b.vec_id
         |        WHERE qn.nq > 0),
         |ok AS (SELECT bucket FROM sel
         |       GROUP BY bucket HAVING count(*) <= $BandBucketCap),
         |sb AS (SELECT sel.* FROM sel JOIN ok USING (bucket)),
         |p AS (
         |  SELECT x.vec_id AS d1, y.vec_id AS d2, x.nq AS na, y.nq AS nb,
         |         x.embedding AS ea, y.embedding AS eb
         |  FROM sb x JOIN sb y
         |    ON x.bucket = y.bucket AND x.vec_id < y.vec_id
         |),
         |d AS (
         |  SELECT d1, d2, na, nb,
         |    CAST(sum(${quantSqlElem("ea[i]")} * ${quantSqlElem("eb[i]")}) AS BIGINT) AS dot
         |  FROM (SELECT p.*, unnest(generate_series(1, len(ea))) AS i FROM p)
         |  GROUP BY d1, d2, na, nb
         |),
         |c AS (SELECT d1, d2, $CosExpr AS cos FROM d)
         |SELECT d1, count(*) AS n_pairs,
         |  CAST(sum(CASE WHEN cos >= 0.7 THEN 1 ELSE 0 END) AS BIGINT) AS n_sim,
         |  max(round(cos, 4)) AS max_cos
         |FROM c GROUP BY d1 ORDER BY d1""".stripMargin,

    // Recomputes the planted-image features from the construction rule
    // (dims = 8 + doc_id % 25/17, pixel = (x·31 + y·17 + doc_id·13) % 256)
    // — the Spark side went text→PNG→decode through the real codec.
    "q_phash_dedup" ->
      s"""WITH g AS (
         |  SELECT doc_id, CAST(8 + doc_id % 25 AS INT) AS w,
         |         CAST(8 + doc_id % 17 AS INT) AS h
         |  FROM documents
         |),
         |samp AS (
         |  SELECT doc_id, i,
         |    ((((i % 8) * w // 8) * 31 + ((i // 8) * h // 8) * 17
         |      + doc_id * 13) % 256) AS px
         |  FROM g, unnest(generate_series(0, 63)) AS t(i)
         |),
         |m AS (SELECT doc_id, CAST(sum(px) // 64 AS BIGINT) AS mean
         |      FROM samp GROUP BY doc_id),
         |hs AS (
         |  SELECT samp.doc_id,
         |    CAST(sum(CASE WHEN px <= mean THEN 0
         |      WHEN i = 63 THEN -9223372036854775808
         |      ELSE (CAST(1 AS BIGINT) << CAST(i AS INT)) END)
         |      AS BIGINT) AS ahash
         |  FROM samp JOIN m USING (doc_id) GROUP BY samp.doc_id
         |),
         |bands AS (
         |  SELECT doc_id, ahash, b,
         |    (ahash >> CAST(8 * b AS INT)) & 255 AS bv
         |  FROM hs, unnest(generate_series(0, 7)) AS t(b)
         |),
         |keep AS (SELECT b, bv FROM bands GROUP BY b, bv
         |         HAVING count(*) <= $BandBucketCap),
         |bk AS (SELECT bands.* FROM bands JOIN keep USING (b, bv)),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
         |    x.ahash AS h1, y.ahash AS h2
         |  FROM bk x JOIN bk y USING (b, bv) WHERE x.doc_id < y.doc_id
         |)
         |SELECT d1, d2, CAST(bit_count(xor(h1, h2)) AS BIGINT) AS ham
         |FROM cand WHERE bit_count(xor(h1, h2)) <= 7
         |ORDER BY d1, d2""".stripMargin,

    "q_fingerprint" ->
      s"""SELECT doc_id,
         |  md5(array_to_string(list_sort(list_distinct(
         |    regexp_split_to_array(trim(regexp_replace(text, '$DelimSql', ' ', 'g')), ' '))), ' ')) AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_winnow" ->
      s"""WITH $WinnowSelSql,
         |a AS (
         |  SELECT doc_id, CAST(max(ng) AS BIGINT) AS n_grams,
         |    list_sort(list_distinct(list(wm))) AS fps
         |  FROM f GROUP BY doc_id
         |)
         |SELECT doc_id, n_grams, CAST(len(fps) AS BIGINT) AS n_fp,
         |  md5(array_to_string(list_transform(fps, x -> CAST(x AS VARCHAR)), ',')) AS fp_md5
         |FROM a ORDER BY doc_id""".stripMargin,

    "q_winnow_pairs" ->
      s"""WITH $WinnowSelSql,
         |fp AS (SELECT DISTINCT doc_id, wm FROM f),
         |nfp AS (SELECT doc_id, count(*) AS nf FROM fp GROUP BY doc_id),
         |rare AS (SELECT wm FROM fp GROUP BY wm
         |         HAVING count(*) BETWEEN 2 AND $WinnowDfCap),
         |p AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_shared
         |  FROM fp x JOIN rare USING (wm) JOIN fp y USING (wm)
         |  WHERE x.doc_id < y.doc_id GROUP BY 1, 2
         |)
         |SELECT a, b, CAST(n_shared AS BIGINT) AS n_shared,
         |  round(n_shared / least(xa.nf, yb.nf), 4) AS overlap
         |FROM p JOIN nfp xa ON p.a = xa.doc_id JOIN nfp yb ON p.b = yb.doc_id
         |WHERE n_shared >= least(xa.nf, yb.nf) * $WinnowOverlap
         |ORDER BY a, b""".stripMargin,

    // the kmeans chain's final assignment (af) is the blocking key; the
    // pair scan mirrors q_dedup_embcos' exact-integer dot spelling
    "q_semdedup" ->
      s"""WITH $KmeansCtes,
         |$QuantizedNormSql,
         |qa AS (
         |  SELECT e.vec_id AS id, e.embedding AS emb, qn.nq, af.cid
         |  FROM embeddings e
         |  JOIN qn ON qn.vec_id = e.vec_id AND qn.nq > 0
         |  JOIN af ON af.id = e.vec_id
         |),
         |p AS (
         |  SELECT x.id AS xid, y.id, x.nq AS na, y.nq AS nb,
         |         x.emb AS ea, y.emb AS eb
         |  FROM qa x JOIN qa y ON x.cid = y.cid AND x.id < y.id
         |),
         |dd AS (
         |  SELECT xid, id, na, nb,
         |    CAST(sum(${quantSqlElem("ea[i]")} * ${quantSqlElem("eb[i]")}) AS BIGINT) AS dot
         |  FROM (SELECT p.*, unnest(generate_series(1, len(ea))) AS i FROM p)
         |  GROUP BY xid, id, na, nb
         |),
         |dropped AS (
         |  SELECT DISTINCT id FROM dd WHERE $CosExpr >= $SemTau
         |)
         |SELECT qa.cid, count(*) AS n,
         |  CAST(sum(CASE WHEN dropped.id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_kept,
         |  min(CASE WHEN dropped.id IS NULL THEN qa.id END) AS min_kept,
         |  max(CASE WHEN dropped.id IS NULL THEN qa.id END) AS max_kept
         |FROM qa LEFT JOIN dropped ON dropped.id = qa.id
         |GROUP BY qa.cid ORDER BY qa.cid""".stripMargin,

    "q_sql_winnow" ->
      s"""WITH $WinnowSelSql
         |SELECT doc_id, CAST(count(DISTINCT wm) AS BIGINT) AS n_fp
         |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_shingle_gen" ->
      s"""WITH sh AS (
         |  SELECT doc_id, substr(text, i, $K) AS sh
         |  FROM (SELECT doc_id, text,
         |               unnest(generate_series(1, length(text) - ${K - 1}, $Stride)) AS i
         |        FROM documents WHERE length(text) >= $K)
         |)
         |SELECT doc_id, count(*) AS n_sh,
         |  CAST(count(DISTINCT sh) AS BIGINT) AS n_distinct,
         |  min(sh) AS min_sh, max(sh) AS max_sh
         |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_span_corrupt" ->
      s"""WITH pos AS (
         |  SELECT doc_id, source, CAST(i - 1 AS BIGINT) AS p
         |  FROM (SELECT doc_id, source,
         |          unnest(generate_series(1, len(str_split(text, ' ')))) AS i
         |        FROM documents)
         |),
         |st AS (
         |  SELECT doc_id, source, p,
         |    CAST(${hex2longSql("md5(CAST(doc_id AS VARCHAR) || ':' || CAST(p AS VARCHAR))", 1)} % 10 = 0
         |      AS INT) AS st
         |  FROM pos
         |),
         |m AS (
         |  SELECT doc_id, source, p, st,
         |    max(st) OVER (PARTITION BY doc_id ORDER BY p
         |                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS m
         |  FROM st
         |),
         |r AS (
         |  SELECT source, m,
         |    CASE WHEN m = 1 AND COALESCE(
         |        lag(m) OVER (PARTITION BY doc_id ORDER BY p), 0) = 0
         |      THEN 1 ELSE 0 END AS run_start
         |  FROM m
         |)
         |SELECT source, count(*) AS n_tokens,
         |  CAST(sum(m) AS BIGINT) AS n_masked,
         |  CAST(sum(run_start) AS BIGINT) AS n_spans,
         |  round(CAST(sum(m) AS DOUBLE) / count(*), 6) AS mask_ratio
         |FROM r GROUP BY 1 ORDER BY source""".stripMargin,

    "q_dedup_paragraph" ->
      """WITH arr AS (
        |  SELECT doc_id, regexp_split_to_array(text, '\. ') AS a FROM documents
        |),
        |xs AS (
        |  SELECT doc_id, a, unnest(generate_series(1, len(a))) AS i FROM arr
        |),
        |p AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS i, trim(a[i]) AS para
        |  FROM xs WHERE length(trim(a[i])) > 0
        |),
        |r AS (
        |  SELECT doc_id, para,
        |    row_number() OVER (PARTITION BY para ORDER BY doc_id, i) AS rn
        |  FROM p
        |)
        |SELECT doc_id,
        |  count(*) AS n_paras,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN rn = 1 THEN length(para) ELSE 0 END) AS BIGINT) AS kept_chars
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_clean_paragraph" ->
      """WITH arr AS (
        |  SELECT doc_id, regexp_split_to_array(text, '\. ') AS a FROM documents
        |),
        |xs AS (
        |  SELECT doc_id, a, unnest(generate_series(1, len(a))) AS i FROM arr
        |),
        |p AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS i, trim(a[i]) AS para
        |  FROM xs WHERE length(trim(a[i])) > 0
        |),
        |r AS (
        |  SELECT doc_id, i, para,
        |    row_number() OVER (PARTITION BY para ORDER BY doc_id, i) AS rn
        |  FROM p
        |)
        |SELECT doc_id,
        |  count(*) AS n_kept,
        |  md5(string_agg(para, '. ' ORDER BY i)) AS clean_md5
        |FROM r WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )
}
