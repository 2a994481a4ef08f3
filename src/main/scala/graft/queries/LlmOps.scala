package graft.queries

import graft.operators.Tokenize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Ckpt._

/** Training-data pipeline operators over `documents` and `embeddings` —
  * text analysis, language ID, quality scoring, tokenization statistics,
  * sampling/splitting mechanics — plus the shared constants, hash
  * helpers, and fixtures the whole family builds on. The other families
  * split out along their seams in round 10 (each imports this object's
  * private[queries] helpers wholesale): [[LlmDedup]] (deduplication),
  * [[LlmSim]] (similarity search / ANN / clustering), [[LlmMedia]]
  * (multimodal columns, sketches, streaming sinks).
  *
  * Cross-engine determinism strategy (each query is DuckDB-oracle-checked):
  *  - All hashing is md5-derived: Spark `md5()` and DuckDB `md5()` emit the
  *    same lowercase hex, so hash families built from md5 substrings agree
  *    bit-for-bit. 32-bit values are extracted from the hex digest (Spark:
  *    `conv(substr,16,10)`; DuckDB: an 8-term positional polynomial) and
  *    combined with the Kirsch-Mitzenmacher construction h_i = a + i·b,
  *    giving 16 independent hashes from ONE md5 per shingle.
  *  - Float vectors are quantized to integers (`floor(x*1000 + 0.5)`) before
  *    dot products: integer sums are exact in double (< 2^53), hence
  *    order-independent and identical across engines; the final cosine is a
  *    single deterministic IEEE expression over those exact integers.
  *
  * Scale notes: the LSH path (shingle → minhash → band → bucket join) is the
  * 100 TB design — cost is O(docs · shingles) plus a join whose width is
  * controlled by band selectivity; the all-pairs paths are blocked (by
  * `label` / `source`) and sampled, and exist as correctness baselines for
  * the LSH/IVF variants.
  */
object LlmOps extends Catalog {

  // ---- minhash / shingle constants (shared Spark + SQL) ----
  private[queries] val K = 8        // char-shingle width
  private[queries] val Stride = 3   // shingle stride (sampled positions)
  private[queries] val H = 16       // minhash family size
  private[queries] val Bands = 4    // LSH bands ...
  private[queries] val R = 4        // ... of R rows each (H = Bands * R)
  private[queries] val Mod = 4294967296L // 2^32

  // wideTable: the single-row-group corpus file otherwise serializes every
  // text query's scan-fused compute (tokenize/shingle explodes, regex
  // scoring, md5 hashing) into one task — see queries.wideTable.
  private[queries] def docs(s: SparkSession, dir: String) = wideTable(s, dir, "documents")
  private[queries] def emb(s: SparkSession, dir: String) = table(s, dir, "embeddings")
  private[queries] def toks(s: SparkSession, dir: String): DataFrame = corpusToks(s, dir)

  /** Synthetic media-payload fixture table (doc_id, payload), materialized
    * ONCE per (JVM, sf dir, kind) under [[TmpRoot]]: the PNG/zlib ENCODE
    * is fixture construction, not the operator under test, so persisting
    * it keeps the multimodal bench numbers measuring DECODE (round-4
    * finding: payload synthesis was 30-50% of q_multimodal_decode's
    * headline cost). Re-reads land pre-spread across parquet splits; the
    * repartition in the consuming queries still rebalances for the
    * CPU-bound codec stage. Deterministic: same construction rule, same
    * JVM deflater → identical bytes every run, oracle unchanged. */
  private[queries] def mediaTable(s: SparkSession, dir: String, kind: String): DataFrame = {
    import s.implicits._
    val base = s"$TmpRoot/media_${kind}_${new java.io.File(dir).getName}"
    if (!new java.io.File(base, "_SUCCESS").exists()) {
      val ids = docs(s, dir).select(col("doc_id"))
        .repartition(s.sparkContext.defaultParallelism)
      val recs = kind match {
        case "png" => ids.as[Long].mapPartitions(_.map(id =>
          graft.operators.MediaRecord(id, graft.operators.Multimodal.pngPayload(id))))
        case "video" => ids.as[Long].mapPartitions(_.map(id =>
          graft.operators.MediaRecord(id, graft.operators.Multimodal.videoPayload(id))))
        case "wav" => ids.as[Long].mapPartitions(_.map(id =>
          graft.operators.MediaRecord(id, graft.operators.Multimodal.wavPayload(id))))
        case "zlib" => docs(s, dir).select(col("doc_id"), col("text"))
          .repartition(s.sparkContext.defaultParallelism).as[(Long, String)]
          .mapPartitions(_.map { case (id, t) => graft.operators.MediaRecord(
            id, graft.operators.Multimodal.deflatePayload(t)) })
        case other => sys.error(s"unknown media kind $other")
      }
      recs.write.mode("overwrite").parquet(base)
    }
    s.read.parquet(base)
  }

  // ---- language-ID stopword lists (tiny n-gram-free heuristic) ----
  private[queries] val Stops: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "est"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine", "nicht"),
    "es" -> Seq("el", "los", "las", "y", "un", "una", "es", "que"))

  private[queries] def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ", ", ")")

  /** Language-characteristic character bigrams (same length per
    * alternative — keeps non-overlapping scan counts engine-identical). */
  private[queries] val Bigrams: Seq[(String, String)] = Seq(
    "en" -> "th|he|in|er|an",
    "fr" -> "le|de|es|en|on",
    "de" -> "ch|ei|ie|un|sc",
    "es" -> "ll|el|la|os|as")

  /** Deterministic argmax chain over the four scores (ties → earlier lang). */
  private[queries] val PredCase: String =
    """CASE WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es THEN 'en'
      |     WHEN s_fr >= s_de AND s_fr >= s_es THEN 'fr'
      |     WHEN s_de >= s_es THEN 'de'
      |     ELSE 'es' END""".stripMargin

  /** BPE-ish token pattern for token counting (letters / digits / symbol). */
  private[queries] val BpePattern = """[a-z]+|[A-Z][a-z]*|[0-9]+|[^A-Za-z0-9\s]"""

  // ---- embedding quantization (shared semantics) ----
  // q_i = floor(x_i * 1000 + 0.5) as BIGINT; |q| ≤ ~10^4 so dot products over
  // 64 dims stay < 2^53 → exact in double → order-free.
  private[queries] val QuantSpark =
    "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000 + 0.5) AS BIGINT))"
  private[queries] def quantSqlElem(e: String) =
    s"CAST(floor(CAST($e AS DOUBLE)*1000 + 0.5) AS BIGINT)"

  private[queries] val CosExpr = // over exact-integer dot & norms, identical both engines
    "CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))"

  /** ANN-family query-set size: every ANN query (brute force, IVF, PQ,
    * LSH, recall calibration, hard negatives) scans k·|probe| candidate
    * pairs per query, so k must be a CONSTANT (top-k by exact integer
    * self-norm, tie-break vec_id), never a fraction of the corpus — a
    * fractional query set makes even the bucketed probes Θ(n²/const)
    * (the q_closeness lesson, applied family-wide in round 7). */
  private[queries] val AnnQueryK = 32

  /** The deterministic constant ANN query-id set over a `quantized`
    * frame: the [[AnnQueryK]] largest self-norms, tie-break vec_id. */
  private[queries] def annQueryIds(all: DataFrame): DataFrame =
    broadcast(all.where(col("nq") > 0)
      .orderBy(desc("nq"), asc("vec_id")).limit(AnnQueryK)
      .select("vec_id"))

  /** DuckDB twin of [[annQueryIds]] — a CTE body over the `qn` norms
    * CTE ([[QuantizedNormSql]]). */
  private[queries] val AnnQidsSql: String =
    s"""qids AS (SELECT vec_id FROM qn WHERE nq > 0
       |         ORDER BY nq DESC, vec_id LIMIT $AnnQueryK)""".stripMargin

  // ---- random-hyperplane LSH (deterministic, engine-independent) ----
  // 8 hyperplanes of 64 integer weights in [-1000, 1000], derived from md5
  // of "lsh:p:i" at catalog-build time and inlined as LITERALS into both
  // the Spark plan and the oracle SQL — so there is nothing to keep in
  // sync at runtime. Signs of exact integer dots → a 8-bit bucket.
  private[queries] val LshPlanes = 8
  private[queries] val LshDims = 64
  private[queries] val LshW: IndexedSeq[IndexedSeq[Long]] =
    (0 until LshPlanes).map { p =>
      (0 until LshDims).map { i =>
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(s"lsh:$p:$i".getBytes("UTF-8"))
        val v = java.lang.Long.parseLong(
          md.take(4).map("%02x".format(_)).mkString, 16)
        (v % 2001L) - 1000L
      }
    }

  /** SQL/expr fragment: the bucket of a quantized vector expression where
    * element i is `qElem(i)` (1-based i). Generated identically for Spark
    * (over an array column) and DuckDB (over unnested elements). */
  private[queries] def lshBucketSparkExpr(qCol: String): String = {
    // dot_p via aggregate over zip_with(q, literal array)
    val bits = (0 until LshPlanes).map { p =>
      val arr = LshW(p).mkString("array(", "L, ", "L)")
      s"(CASE WHEN ivec_dot($qCol, $arr) > 0 THEN ${1 << p} ELSE 0 END)"
    }
    bits.mkString("(", " + ", ")")
  }

  /** DuckDB bucket CTE over (vec_id, i, q) long-format rows. */
  private[queries] def lshBucketSql: String = {
    val sums = (0 until LshPlanes).map { p =>
      val arr = LshW(p).mkString("[", ", ", "]")
      s"(CASE WHEN sum(q * ($arr)[i]) > 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString(" + ")
    s"""buckets AS (
       |  SELECT vec_id, CAST($sums AS BIGINT) AS bucket
       |  FROM (SELECT vec_id, i, ${quantSqlElem("embedding[i]")} AS q
       |        FROM (SELECT vec_id, embedding,
       |                     unnest(generate_series(1, len(embedding))) AS i
       |              FROM embeddings))
       |  GROUP BY vec_id
       |)""".stripMargin
  }

  /** Cap on docs sharing one LSH (band, value) bucket. A bucket of k docs
    * yields C(k,2) candidate pairs; without a cap a cluster of k
    * near-identical boilerplate docs (the common case in web corpora)
    * produces k² pairs. Oversized buckets are dropped — at ≥ [[BandBucketCap]]
    * docs a bucket is boilerplate, not dedup signal — bounding pairs per
    * bucket at C(cap,2) ≈ 2·10³ regardless of corpus size. Mirrored in the
    * oracle SQL ([[BandsSql]]). */
  private[queries] val BandBucketCap = 64

  /** Per-(source, trigram) document-frequency cap for q_dedup_ngram: a
    * shingle shared by more than this many docs in a block is corpus
    * boilerplate — it carries no dedup signal but contributes df² join
    * rows. Jaccard is computed over the df-filtered shingle set (both
    * engines). */
  private[queries] val NgramDfCap = 64

  /** Winnowing (q_winnow / q_winnow_pairs): char k-gram size, window
    * width, the same df-style bucket cap as minhash/ngram, and the
    * overlap coefficient that promotes a pair to near-dup. */
  private[queries] val WinnowK = 8
  private[queries] val WinnowW = 4
  private[queries] val WinnowDfCap = 64
  private[queries] val WinnowOverlap = 0.8

  /** q_vocab_oov vocabulary size — deliberately smaller than the corpus'
    * distinct-word count (31) so real OOV mass exists at sf0.01. */
  private[queries] val VocabSize = 10

  /** q_dedup_simhash_pairs: 4 bands × 8 bits over a 32-bit signature.
    * Pigeonhole: hamming ≤ [[SimHamThr]] = bands−1 ⇒ at least one band is
    * bit-identical, so the banded equi-join is a complete candidate
    * generator for the hamming threshold — no all-pairs comparison. */
  private[queries] val SimBands = 4
  private[queries] val SimBandBits = 8
  private[queries] val SimHamThr = 3

  /** q_span_dedup sliding-window width (tokens). */
  private[queries] val SpanW = 5

  /** q_delta_dedup verify threshold — lower than the self-dedup 0.5 so the
    * asymmetric path keeps signal on the small 10% delta slice. */
  private[queries] val DeltaJacThr = 0.3

  /** Count-min sketch shape (q_sketch_cms): depth × width. Width is kept
    * at 64 so the 31-word vocab × 4 rows provokes real collisions — the
    * overestimate property is visible in the output, not just latent. */
  private[queries] val CmsDepth = 4
  private[queries] val CmsWidth = 64

  /** HyperLogLog register count (q_sketch_hll); 2^6 buckets → the
    * paper's α₆₄ = 0.709 and ~13% standard error. */
  private[queries] val HllM = 64
  private[queries] val HllAlpha = 0.709

  /** q_sketch_quantile equi-width histogram: bin width in CENTI-value
    * units (400 = 4.0 value units over the events.value domain [0, ~560]
    * → ~140 live bins). Quantile error is bounded by one bin width. */
  private[queries] val HistBinW = 400L

  /** q_sketch_quantile interpolation: the (tgt − cumb)-th of the bin's
    * `cnt` values under a uniform-spread assumption, as ONE exact-integer
    * fraction with a single terminal IEEE division — engine-identical.
    * The scale factor HistBinW/100 (bin width in VALUE units, since bins
    * are centi-unit-wide) is derived, not hardcoded, so retuning the
    * accuracy/state knob cannot silently skew estimates in both engines
    * at once. */
  private[queries] def histEstExpr(bin: String, cnt: String, tgt: String,
                          cumb: String): String =
    s"round(CAST(${HistBinW / 100}*(($bin)*($cnt) + ($tgt) - ($cumb)) AS DOUBLE) / CAST($cnt AS DOUBLE), 4)"

  /** The three q_sketch_quantile percentiles as exact rationals:
    * (label, numerator, denominator); target rank = ceil(p·n) computed as
    * (num·n + den − 1) div den — no float at the selection boundary. */
  private[queries] val HistPs: Seq[(String, Long, Long)] =
    Seq(("q50", 1L, 2L), ("q90", 9L, 10L), ("q99", 99L, 100L))

  /** q_prefix_join similarity threshold t = 4/5 (Jaccard ≥ 0.8). The
    * verify keep-rule 9·inter ≥ 4·(sz1+sz2) is t spelled in integers;
    * the prefix length |s| − ceil(t·|s|) + 1 uses ceil(4s/5) =
    * (4s+4) div 5. */
  private[queries] val PrefixTNum = 4L
  private[queries] val PrefixTDen = 5L

  /** q_ngram_topk: bigrams kept per head word. */
  private[queries] val NgramK = 3

  /** Adjacent-token (w1, w2) pairs from the raw split arrays — the ONE
    * bigram definition shared by q_ngram_topk and q_pmi (engine side),
    * mirrored by [[BigramCountsSql]] on the oracle side, so the
    * tokenization of pairs cannot drift between the two queries. */
  private[queries] def bigramPairs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(split(col("text"), Tokenize.Delim).as("a"))
      .where(expr("size(a) >= 2"))
      .select(expr("explode(sequence(1, size(a)-1))").as("i"), col("a"))
      .select(expr("element_at(a, i)").as("w1"),
        expr("element_at(a, i+1)").as("w2"))
      .where(Tokenize.keep(col("w1")) && Tokenize.keep(col("w2")))

  /** Oracle twin of [[bigramPairs]] + counts: CTEs `t`, `b`, `c` with
    * `c(w1, w2, cnt)`. */
  private[queries] lazy val BigramCountsSql: String =
    s"""t AS (
       |  SELECT regexp_split_to_array(text, '$DelimSql') AS a FROM documents
       |),
       |b AS (
       |  SELECT a[CAST(i AS INT)] AS w1, a[CAST(i AS INT) + 1] AS w2
       |  FROM (SELECT a, unnest(generate_series(1, len(a) - 1)) AS i
       |        FROM t WHERE len(a) >= 2)
       |),
       |c AS (
       |  SELECT w1, w2, count(*) AS cnt FROM b
       |  WHERE regexp_matches(lower(w1), '${Tokenize.KeepRegex}')
       |    AND regexp_matches(lower(w2), '${Tokenize.KeepRegex}')
       |  GROUP BY 1, 2
       |)""".stripMargin

  /** q_feature_hash: hashing-trick feature space size. */
  private[queries] val FeatHashDim = 64

  /** q_pmi: min bigram count for a reported association. */
  private[queries] val PmiMinCount = 5

  /** q_inverted_index: min document frequency for an emitted term row. */
  private[queries] val InvIdxMinDf = 50

  /** q_kmeans shape: k clusters, fixed Lloyd iterations (both unrolled
    * verbatim in the DuckDB oracle). */
  private[queries] val KmK = 8

  /** q_semdedup: within-cluster cosine threshold above which the
    * larger-id vector drops (keep-first). */
  private[queries] val SemTau = 0.8
  private[queries] val KmIters = 2

  /** q_sample_diverse per-cluster quota. */
  private[queries] val DiverseQuota = 10

  /** q_mix_sources target mixture, as integer WEIGHTS (4:2:2:1:1) — integer
    * ratios keep the achievable-size arithmetic exact on both engines
    * (units = min over langs of n_lang div w_lang; kept_lang = w·units). */
  private[queries] val MixWeights: Seq[(String, Long)] =
    Seq("en" -> 4L, "es" -> 2L, "de" -> 2L, "fr" -> 1L, "zh" -> 1L)

  /** q_sample_pps expected sample size (Poisson, so realized size varies). */
  private[queries] val PpsK = 50

  /** q_ann_pq: 64-dim vectors split into 8 subspaces of [[PqD]] dims. */
  private[queries] val PqD = 8

  /** q_sketch_bloom shape: m bits × k hashes. At n=1.5k members the load
    * kn/m ≈ 0.27 → theoretical fp ≈ (1−e^−0.27)³ ≈ 1.4% — small but
    * non-zero, so the probe stage measures something real. */
  private[queries] val BloomM = 16384
  private[queries] val BloomK = 3

  /** Exact-duplicate collapse: one representative (min doc_id) per
    * distinct text. Near-dedup runs over representatives only — a cluster
    * of k exact duplicates shares every band and would otherwise feed k²
    * candidate pairs into the LSH join; after collapse it contributes one
    * row, and its non-representatives are dropped by the exact stage of
    * [[verifiedDupIds]]. The final drop-set is provably identical: a
    * non-rep x is dropped either way (exact stage here; the (rep,x)
    * Jaccard-1.0 pair before), and a rep x is dropped iff some smaller
    * doc's text is near-identical, which collapses to the rep-pair
    * (rep_B, x) with the same Jaccard. */
  private[queries] def repsOf(d: DataFrame): DataFrame =
    d.groupBy("text").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id", "text")

  private[queries] def repDocs(s: SparkSession, dir: String): DataFrame =
    widenIfSmall(repsOf(docs(s, dir)))

  /** w-bit simhash per doc: majority vote per bit over md5-derived token
    * hashes. One narrow aggregation — linear at any corpus size; the
    * shuffle carries w partial sums per (doc, partition). `w` ≤ 32 (bits
    * come from the first 8 hex chars of the token md5). */
  private[queries] def simhashW(s: SparkSession, dir: String, w: Int): DataFrame = {
    require(w <= 32, s"simhash width $w exceeds the 32 hash bits available")
    val a = toks(s, dir).select(col("doc_id"),
      expr("CAST(conv(substring(md5(word), 1, 8), 16, 10) AS BIGINT)").as("a"))
    val sumAggs = (0 until w).map(j =>
      sum(expr(s"CASE WHEN CAST(floor(a / ${1L << j}) AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END"))
        .as(s"s$j"))
    a.groupBy("doc_id").agg(sumAggs.head, sumAggs.tail: _*)
      .select(col("doc_id"),
        (0 until w).map(j =>
          expr(s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE CAST(0 AS BIGINT) END"))
          .reduce(_ + _).cast("long").as("sim"))
  }

  /** Sampled char shingles (doc_id, sh) of a (doc_id, text) frame —
    * multiset (no distinct; min-agg consumers don't need it, set consumers
    * call .distinct()). */
  private[queries] def shinglesOf(d: DataFrame): DataFrame =
    d.where(length(col("text")) >= K)
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("text")) - (K - 1), lit(Stride)))
          .as("i"), col("text"))
      .select(col("doc_id"), expr(s"substring(text, i, $K)").as("sh"))

  /** Shingles of the deduped representatives. */
  private[queries] def repShingles(s: SparkSession, dir: String): DataFrame =
    shinglesOf(repDocs(s, dir))

  /** Positional rep shingles (doc_id, i, sh), occurrences per (doc, sh)
    * capped at [[ShPosCap]] smallest positions — a shingle repeated r
    * times in BOTH docs of a pair yields r² matched positions, so
    * highly repetitive text (the "aaaa…" hazard) is bounded at
    * [[ShPosCap]]² per shingle value while non-repetitive runs (distinct
    * shingles) pass through untouched. Window is per (doc, shingle) —
    * bounded groups, any corpus size. */
  private[queries] def repShinglesPos(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id", "sh").orderBy("i")
    repDocs(s, dir).where(length(col("text")) >= K)
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("text")) - (K - 1), lit(Stride)))
          .as("i"), col("text"))
      .select(col("doc_id"), col("i"), expr(s"substring(text, i, $K)").as("sh"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= ShPosCap).drop("rn")
  }

  private[queries] val ShPosCap = 4

  /** Shingle geometry shared with oracles of positional-run queries. */
  private[queries] val ShingleK: Int = K
  private[queries] val ShingleStride: Int = Stride

  /** Oracle twin of [[repShinglesPos]]; requires the `reps` CTE (from
    * [[MinhashSigSql]]) upstream. Defines CTE `shp`. */
  private[queries] def repShinglesPosSql: String =
    s"""shp AS (
       |  SELECT doc_id, i, sh FROM (
       |    SELECT doc_id, i, sh,
       |      row_number() OVER (PARTITION BY doc_id, sh ORDER BY i) AS rn
       |    FROM (SELECT doc_id, i, substr(text, i, $K) AS sh
       |          FROM (SELECT doc_id, text,
       |                  unnest(generate_series(1, length(text) - ${K - 1},
       |                    $Stride)) AS i
       |                FROM reps WHERE length(text) >= $K)))
       |  WHERE rn <= $ShPosCap
       |)""".stripMargin

  /** Oracle twin of [[verifiedJaccard]]; requires the [[MinhashSigSql]] +
    * [[BandsSql]] CTEs upstream. Defines CTEs `pairs`, `sets`, `sz`,
    * `co`, `vj` — vj(d1, d2, jac) is every capped-bucket LSH candidate
    * pair with its exact shingle Jaccard (0 for zero-overlap pairs). */
  private[queries] val VerifiedJacSql: String =
    """pairs AS (
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
      |),
      |vj AS (
      |  SELECT p.d1, p.d2,
      |    CAST(coalesce(co.co, 0) AS DOUBLE)
      |      / (za.sz + zb.sz - coalesce(co.co, 0)) AS jac
      |  FROM pairs p
      |  LEFT JOIN co ON co.d1 = p.d1 AND co.d2 = p.d2
      |  JOIN sz za ON za.doc_id = p.d1
      |  JOIN sz zb ON zb.doc_id = p.d2
      |)""".stripMargin

  /** LSH band rows (doc_id, band, v) from a shingle multiset: shingle →
    * [[H]] minhashes from one md5 (Kirsch-Mitzenmacher) → [[Bands]] bands
    * of [[R]] rows. Shared by the corpus self-dedup (q_dedup_minhash*) and
    * the base×delta incremental dedup (q_delta_dedup). */
  /** The [[H]]-minhash signature table (doc_id, h0..h{H-1}) over a
    * shingle stream — shared by [[bandRowsFromShingles]] and the
    * banding-config planner (q_lsh_planner). */
  private[queries] def minhashSignatures(sh: DataFrame): DataFrame = {
    val ab = sh.select(col("doc_id"),
      expr("CAST(conv(substring(md5(sh), 1, 8), 16, 10) AS BIGINT)").as("a"),
      expr("CAST(conv(substring(md5(sh), 9, 8), 16, 10) AS BIGINT)").as("b"))
    val aggs = (0 until H).map(i =>
      min((col("a") + lit(i.toLong) * col("b")) % lit(Mod)).as(s"h$i"))
    ab.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Corpus-representative signatures for the planner. */
  private[queries] def repSignatures(s: SparkSession, dir: String): DataFrame =
    minhashSignatures(repShingles(s, dir))

  /** Minhash family size — exposed with [[repSignatures]]. */
  private[queries] val MinhashH: Int = H

  private[queries] def bandRowsFromShingles(sh: DataFrame): DataFrame = {
    val sig = minhashSignatures(sh)
    val bandCols = (0 until Bands).map(b =>
      concat_ws("-", (0 until R).map(r => col(s"h${b * R + r}")): _*).as(s"b$b"))
    sig.select(col("doc_id") +: bandCols: _*)
      .selectExpr("doc_id",
        s"stack($Bands, ${(0 until Bands).map(b => s"$b, b$b").mkString(", ")}) AS (band, v)")
  }

  /** LSH candidate pairs (d1 < d2) over exact-dup representatives:
    * shingle → 16 minhashes from one md5 (Kirsch-Mitzenmacher) → 4 bands ×
    * 4 rows → capped band-bucket self-join. The 100 TB dedup path: no
    * all-pairs comparison ever happens, and no bucket exceeds
    * [[BandBucketCap]] docs. `bands` is eagerly checkpointed, NOT lazily
    * persisted: it feeds the bucket sizing AND both self-join sides, and
    * under AQE those consumers materialize as CONCURRENT broadcast-build
    * jobs that race a lazy cache and each recompute the whole signature
    * pipeline (shingle explode + md5 per shingle + 16-way min-agg) —
    * r12 per-job breakdown: two duplicate ~1.3 s build jobs, the dominant cost
    * of q_dedup_minhash. The prefixTruePairs discipline: one eager
    * materialization of the narrow |docs|×Bands table, every consumer
    * reads blocks. */
  private[queries] def cappedBandPairs(sh: DataFrame): DataFrame = {
    val bands = bandRowsFromShingles(sh).ckpt()
    val smallBuckets = bands.groupBy("band", "v")
      .agg(count(lit(1)).as("bn")).where(col("bn") <= BandBucketCap)
      .select("band", "v")
    // bucket members → sorted doc list (bounded at BandBucketCap by the
    // filter above, so the agg buffer is capped at any corpus size) →
    // native pair_combos generator streaming exactly C(|bucket|,2)
    // value-ordered pairs — where the capped⋈capped sort-merge self-join
    // sorted both sides and streamed |bucket|² joined rows before its
    // d1 < d2 filter (the q_adamic_adar r12 shape).
    bands.join(smallBuckets, Seq("band", "v"))
      .groupBy("band", "v")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .selectExpr("pair_combos(ids) AS (d1, d2)")
      .distinct()
  }

  private[queries] def minhashCandPairs(s: SparkSession, dir: String): DataFrame =
    cappedBandPairs(repShingles(s, dir))

  /** The LOSSLESS Jaccard ≥ [[PrefixTNum]]/[[PrefixTDen]] pair set over
    * exact-dup representatives via prefix filtering (the q_prefix_join
    * chain, factored): (d1 < d2, inter, sz1, sz2). Recall is GUARANTEED
    * by the pigeonhole bound, so this is exact ground truth for the
    * probabilistic LSH channel (q_minhash_recall measures that). */
  private[queries] def prefixTruePairs(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Ckpt._
    // ONE eagerly-checkpointed mid-table carries everything every later
    // stage needs (doc, shingle, set size, rarity rank): candidates
    // filter it, and both verify sides re-read it. A LAZY persist is
    // not enough here — the final single action reads the table from
    // parallel stages that would each race to populate the cache,
    // duplicating the wide upstream (distinct + two shuffled joins + a
    // window); eager localCheckpoint (the PageRank/BFS discipline)
    // materializes once and truncates the lineage (38→~10 s at sf0.1).
    val sh = ckptIfSmall(shinglesOf(repDocs(s, dir)).distinct())
    val dfq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val w = Window.partitionBy("doc_id").orderBy("df", "sh")
    val ranked = ckptIfSmall(sh.join(dfq, "sh").join(sz, "doc_id")
      .withColumn("rn", row_number().over(w))
      .select("doc_id", "sh", "sz", "rn"))
    val pref = ranked
      .where(col("rn") <=
        col("sz") - expr(s"($PrefixTNum*sz + $PrefixTNum) div $PrefixTDen") + 1)
      .select(col("doc_id"), col("sh"), col("sz"), col("rn"))
    // candidate pairs with PPJoin's LOSSLESS prunes folded into the
    // aggregation (a templated corpus can push raw prefix candidates
    // to ~n²/12 — 1M pairs at sf0.1): (a) length ratio — J ≥ t needs
    // t·max ≤ min; (b) positional upper bound — overlap ≤ 1 +
    // min(sz−rn) at the FIRST shared prefix position, which must reach
    // α = ceil(t/(1+t)·(sz1+sz2)). Both bounds overestimate the true
    // overlap, so no qualifying pair is lost (the brute-force equality
    // spec pins it).
    val cand = pref.select(col("doc_id").as("d1"), col("sh"),
        col("sz").as("sz1"), col("rn").as("rn1"))
      .join(pref.select(col("doc_id").as("d2"), col("sh"),
        col("sz").as("sz2"), col("rn").as("rn2")), "sh")
      .where(col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(min(col("rn1")).as("r1"),
        min(col("rn2")).as("r2"),
        max(col("sz1")).as("sz1"), max(col("sz2")).as("sz2"))
      .where(expr(s"$PrefixTDen*least(sz1, sz2) >= $PrefixTNum*greatest(sz1, sz2)"))
      .where(expr(s"1 + least(sz1 - r1, sz2 - r2) >= " +
        s"($PrefixTNum*(sz1+sz2) + ${PrefixTDen + PrefixTNum - 1}) div ${PrefixTDen + PrefixTNum}"))
    // verify: exact intersection via array_intersect over the per-doc
    // sorted set arrays — one row per surviving candidate, never a
    // |cand|·|set| fan-out shuffle. The arrays table is |docs| rows and
    // broadcasts at bench scale; when candidates ≪ sets at corpus
    // scale, flip to the equi-join fan-out shape instead of the
    // broadcast (SCALE.md).
    val sets = sh.groupBy("doc_id")
      .agg(sort_array(collect_set(col("sh"))).as("arr"))
    cand
      .join(broadcast(sets.select(col("doc_id").as("d1"), col("arr").as("a1"))), "d1")
      .join(broadcast(sets.select(col("doc_id").as("d2"), col("arr").as("a2"))), "d2")
      .withColumn("inter",
        expr("CAST(size(array_intersect(a1, a2)) AS BIGINT)"))
      .where(expr(s"${PrefixTDen + PrefixTNum}*inter >= $PrefixTNum*(sz1+sz2)"))
      .select("d1", "d2", "inter", "sz1", "sz2")
  }

  /** The Jaccard-LSH candidate channel alone, over an arbitrary (doc_id,
    * text) corpus — exposed so specs can demonstrate what it MISSES. */
  private[graft] def lshCandidates(d: DataFrame): DataFrame =
    cappedBandPairs(shinglesOf(repsOf(d)))

  /** doc_ids dropped by the full dedup policy: every exact duplicate that
    * is not its cluster's representative, plus the greater id of every LSH
    * candidate pair whose exact shingle-Jaccard ≥ `thr` (greedy keep-first
    * over representatives). Single source for q_dedup_apply and
    * q_pipeline_prep (Spark side; [[NearDupsSql]] is the oracle twin).
    * `sets` is persisted — it feeds both verify-join sides plus the size
    * aggregate. */
  /** Exact shingle-Jaccard of EVERY LSH candidate pair (d1 < d2, over
    * exact-dup representatives) — the verify stage computed once, shared
    * by the q_dedup_minhash_verified catalog query (which rounds for
    * display) and [[verifiedPairs]] (which thresholds). Candidates with
    * zero shared shingles keep jac = 0 (left-outer co-count). */
  private[queries] def verifiedJaccard(s: SparkSession, dir: String): DataFrame = {
    // pairs has two consumers; measured BOTH ways at sf0.1 — persisting it
    // loses (5.1 s vs 3.3 s median): the block-manager materialization
    // costs more than re-running the capped band join, the same
    // recompute-beats-persist economics as SCALE.md "Persist points"
    val pairs = minhashCandPairs(s, dir)
    val sets = maybePersist(repShingles(s, dir).distinct())
    val sz = sets.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val co = pairs
      .join(sets.select(col("doc_id").as("d1"), col("sh")), "d1")
      .join(sets.select(col("doc_id").as("d2"), col("sh").as("sh2")), "d2")
      .where(col("sh") === col("sh2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("co"))
    pairs
      .join(co, Seq("d1", "d2"), "left_outer")
      .join(sz.select(col("doc_id").as("d1"), col("sz").as("sa")), "d1")
      .join(sz.select(col("doc_id").as("d2"), col("sz").as("sb")), "d2")
      .withColumn("jac",
        expr("CAST(coalesce(co, 0) AS DOUBLE) / (sa + sb - coalesce(co, 0))"))
      .select("d1", "d2", "jac")
  }

  /** Verified near-dup pairs: LSH candidates with Jaccard ≥ `thr`. */
  private[queries] def verifiedPairs(s: SparkSession, dir: String,
                            thr: Double = 0.5): DataFrame =
    verifiedJaccard(s, dir).where(col("jac") >= thr).select("d1", "d2")

  private[queries] def verifiedDupIds(s: SparkSession, dir: String,
                             thr: Double = 0.5): DataFrame = {
    val exact = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("text")
      docs(s, dir).withColumn("keep", min(col("doc_id")).over(w))
        .where(col("doc_id") =!= col("keep")).select("doc_id")
    }
    val near = verifiedPairs(s, dir, thr).select(col("d2").as("doc_id"))
    exact.unionByName(near).distinct()
  }

  /** Universe-sampling rate for the containment candidate channel: the
    * 1/[[ContainSampleMod]] of shingles whose 32-bit md5 value ≡ 0 (mod
    * this) form a deterministic sampled inverted index. A contained doc
    * shares ALL its shingles with its container, so with m shared
    * shingles the pair co-occurs under some sampled shingle unless none
    * of the m hashes hits the sampled residue — P ≈ (1−1/16)^m < 1% past
    * m ≈ 72. Same [[BandBucketCap]] df discipline as every other
    * inverted-index join. */
  private[queries] val ContainSampleMod = 16

  /** Minimum shared SAMPLED shingles to promote a pair out of the
    * containment candidate index: a truly contained doc with m shared
    * shingles expects m/[[ContainSampleMod]] sampled co-hits (P(< 2) ≈
    * 1% at m = 100), while the accidental single-co-hit pairs that
    * dominate the raw index (measured 29k → 150 at sf0.1) carry no
    * containment signal. Bounds the verify stage to real candidates. */
  private[queries] val ContainCoMin = 2

  /** Containment (asymmetric) near-dup pairs over an arbitrary (doc_id,
    * text) corpus: overlap / min(|A|, |B|) ≥ `thr` — catches a document
    * EMBEDDED in a larger one, where symmetric Jaccard shrinks as |B|
    * grows. Candidates are the UNION of two channels, each replayed by
    * the oracle:
    *  - the Jaccard-LSH band buckets (shared with q_dedup_minhash) —
    *    high-Jaccard pairs;
    *  - a universe-sampled shingle index ([[ContainSampleMod]]) —
    *    containment-high / jaccard-low pairs the Jaccard-tuned banding
    *    misses (round-3's documented recall gap). Verify stays
    *    candidates-only: the sampled index is 1/16 the shingle volume,
    *    df-capped, so the join is bounded per shingle at any corpus
    *    size. */
  private[graft] def containmentPairs(d: DataFrame, thr: Double): DataFrame = {
    val reps = repsOf(d)
    val sh = shinglesOf(reps)
    // band channel reads the raw multiset (signature mins partial-agg
    // map-side on the narrow explode — measured FASTER than routing it
    // through the distinct set, whose Exchange it would then pay);
    // verify shares the maybePersist'd distinct set as before
    val sets = maybePersist(sh.distinct())
    // the sampled index gets its OWN narrow pipeline — the 1/16 residue
    // filter runs BEFORE the distinct, so its Exchange carries 1/16 the
    // shingle volume. Its 3 consumers (df filter + both self-join sides)
    // recompute it: measured at sf0.1, recompute (3.5 s query median)
    // beats block-manager persist (5.7-6.1 s) — SCALE.md "Persist points"
    val sampled = sh.where(
      expr(s"CAST(conv(substring(md5(sh), 1, 8), 16, 10) AS BIGINT) % $ContainSampleMod = 0"))
      .distinct()
    val srare = sampled.groupBy("sh").agg(count(lit(1)).as("c"))
      .where(col("c") >= 2 && col("c") <= BandBucketCap).select("sh")
    val scap = sampled.join(srare, Seq("sh"))
    val sampPairs = scap.alias("x")
      .join(scap.alias("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .agg(count(lit(1)).as("n_co"))
      .where(col("n_co") >= ContainCoMin).select("d1", "d2")
    // two consumers, but NOT persisted: measured at sf0.1 the recompute
    // beats the block-manager materialization (SCALE.md "Persist points")
    val pairs = cappedBandPairs(sh).unionByName(sampPairs).distinct()
    val sz = sets.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val co = pairs
      .join(sets.select(col("doc_id").as("d1"), col("sh")), "d1")
      .join(sets.select(col("doc_id").as("d2"), col("sh").as("sh2")), "d2")
      .where(col("sh") === col("sh2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("co"))
    pairs.join(co, Seq("d1", "d2"), "left_outer")
      .join(sz.select(col("doc_id").as("d1"), col("sz").as("sa")), "d1")
      .join(sz.select(col("doc_id").as("d2"), col("sz").as("sb")), "d2")
      .withColumn("containment",
        expr("CAST(coalesce(co, 0) AS DOUBLE) / least(sa, sb)"))
      .where(col("containment") >= thr)
  }

  /** Per-doc char-bigram LM scores (doc_id, n_bigrams, nll) — the shared
    * scoring stage of q_lm_score (display) and q_filter_perplexity (the
    * percentile gate). Bigram stream is a narrow explode recomputed per
    * consumer (cheaper than materializing — SCALE.md "Persist points");
    * each model aggregate collapses it map-side to a tiny shuffle
    * (|charset|² / |charset| groups). The repartition is the tiny-scan
    * rebalance rule (the harness corpus is one parquet split, so all
    * three explode+partial-agg branches would otherwise run on ONE core);
    * the three branches share one identical Exchange via ReuseExchange.
    * term = n × round(ln(bc/cc), 8) as DECIMAL: an integer times an
    * 8-decimal fixed-point value is exact, so the sum equals the
    * per-position oracle's n identical addends — order-free. Operand
    * precisions are sized so the product type DECIMAL(29,8) needs no
    * precision-loss adjustment (18+10+1 ≤ 38). */
  private[queries] def lmScores(s: SparkSession, dir: String): DataFrame = {
    val bg = docs(s, dir).repartition(s.sparkContext.defaultParallelism)
      .where(length(col("text")) >= 2)
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("text")) - 1)).as("i"),
        col("text"))
      .select(col("doc_id"), expr("substring(text, i, 2)").as("bgm"))
    // ONE explode pass (r13): bg previously fed three independent
    // consumers (model bigram counts, model char counts, the per-doc
    // scoring probe), each re-running the whole-corpus char-bigram
    // explode — 3 corpus passes per scores build (r12 per-job breakdown:
    // the dominant cost of q_filter_perplexity). The model counts are
    // EXACT integer rollups of the per-doc aggregate (Σ over docs of n
    // grouped by bgm ≡ count of bg rows by bgm), so aggregate once to
    // bgn, materialize it through the task-2 size gate (per-doc distinct
    // bigrams still scale with corpus text, so past the gate it degrades
    // to a lazy spillable persist), and derive both model tables from
    // it. 3 corpus explodes → 1; counts bit-identical.
    val bgn = ckptIfSmall(bg.groupBy("doc_id", "bgm").agg(count(lit(1)).as("n"))
      .withColumn("c1", expr("substring(bgm, 1, 1)")))
    val bgCnt = bgn.groupBy("bgm").agg(sum(col("n")).as("bc"))
    // c1 occurrences at non-final positions = first char of each bigram:
    // derived from bgm (no second substring over text, no text carry)
    val c1Cnt = bgn.groupBy("c1").agg(sum(col("n")).as("cc"))
    bgn.join(broadcast(bgCnt), "bgm").join(broadcast(c1Cnt), "c1")
      .withColumn("term", expr(
        "CAST(n AS DECIMAL(18,0)) * CAST(round(ln(CAST(bc AS DOUBLE) / cc), 8) AS DECIMAL(10,8))"))
      .groupBy("doc_id")
      .agg(sum(col("n")).as("n_bigrams"),
        round((-sum(col("term"))).cast("double") / sum(col("n")), 4)
          .as("nll"))
  }

  /** Quantized embeddings + exact integer self-norm. */
  private[queries] def quantized(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).select(col("vec_id"), col("label"), expr(QuantSpark).as("q"))
      .withColumn("nq",
        expr("aggregate(q, CAST(0 AS BIGINT), (acc, x) -> acc + x*x)"))

  private[queries] val QuantizedNormSql = // norms CTE: per-vector exact integer norm
    s"""qn AS (
       |  SELECT vec_id, label, CAST(sum(q*q) AS BIGINT) AS nq
       |  FROM (SELECT vec_id, label, ${quantSqlElem("unnest(embedding)")} AS q
       |        FROM embeddings)
       |  GROUP BY vec_id, label
       |)""".stripMargin

  // =========================================================================

  val queries: Map[String, Q] = strictMap(

    // Language ID: stopword-hit scoring with a deterministic argmax.
    "q_lang_id" -> ((s, dir) => {
      val scoreAggs = Stops.map { case (lang, words) =>
        sum(expr(s"CASE WHEN word IN ${inList(words)} THEN 1 ELSE 0 END"))
          .cast("long").as(s"s_$lang")
      }
      toks(s, dir).groupBy("doc_id").agg(scoreAggs.head, scoreAggs.tail: _*)
        .withColumn("pred", expr(PredCase))
        .orderBy("doc_id")
    }),

    // Language ID, character-n-gram variant: score = count of language-
    // characteristic bigrams (all alternatives same-length so Java-regex
    // and RE2 scanning agree), deterministic argmax as in q_lang_id.
    "q_lang_ngram" -> ((s, dir) => {
      val scoreCols = Bigrams.map { case (lang, pat) =>
        regexp_count(col("text"), lit(pat)).cast("long").as(s"s_$lang")
      }
      docs(s, dir).select(col("doc_id") +: scoreCols: _*)
        .withColumn("pred", expr(PredCase))
        .orderBy("doc_id")
    }),

    // Quality scoring: token stats + stopword/digit ratios → composite score.
    "q_quality" -> ((s, dir) => {
      val en = Stops.head._2
      val st = toks(s, dir).groupBy("doc_id").agg(
        count(lit(1)).as("n_tok"),
        sum(length(col("word"))).as("sum_len"),
        sum(expr(s"CASE WHEN word IN ${inList(en)} THEN 1 ELSE 0 END")).as("n_stop"))
      docs(s, dir).join(st, "doc_id")
        .withColumn("avg_len", round(expr("CAST(sum_len AS DOUBLE) / n_tok"), 4))
        .withColumn("stop_ratio", round(expr("CAST(n_stop AS DOUBLE) / n_tok"), 4))
        .withColumn("digit_ratio",
          round(expr("CAST(regexp_count(text, '[0-9]') AS DOUBLE) / greatest(length(text), 1)"), 4))
        .withColumn("quality", round(
          expr("least(CAST(n_tok AS DOUBLE)/100, 1.0)*0.5") +
            expr("CASE WHEN avg_len >= 3 AND avg_len <= 8 THEN 0.3 ELSE 0.0 END") +
            expr("least(stop_ratio*5, 1.0)*0.2"), 4))
        .select(col("doc_id"), col("n_tok"), col("avg_len"), col("stop_ratio"),
          col("digit_ratio"), col("quality"))
        .orderBy("doc_id")
    }),

    // Token counting: whitespace tokens + a BPE-ish regex token stream.
    // NB: regexp_count via the typed API — the SQL-literal path would eat
    // the \s escape in the pattern.
    "q_token_count" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        expr("CAST(size(split(trim(text), ' +')) AS BIGINT)").as("n_ws"),
        regexp_count(col("text"), lit(BpePattern)).cast("long").as("n_bpe"),
        col("n_chars"))
        .orderBy("doc_id")),

    // Token-budget apportionment (Hamilton / largest-remainder): given a
    // global training budget of 10⁶ tokens, allocate per-source quotas
    // proportional to token counts with EXACT integer arithmetic — base =
    // ⌊B·c/C⌋, then the B − Σbase leftover units go to the largest
    // remainders (B·c mod C, ties to source name). The apportionment runs
    // on the per-source aggregate (|sources| rows — the q_survival-style
    // bounded window); Σquota = B exactly, no float proportions to drift.
    // B·c needs DECIMAL(38,0) past ~10¹³ tokens/source — noted like the
    // sketch family.
    "q_token_budget" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val B = 1000000L
      val counts = toks(s, dir)
        .join(docs(s, dir).select("doc_id", "source"), "doc_id")
        .groupBy("source").agg(count(lit(1)).as("c"))
      val tot = broadcast(counts.agg(sum(col("c")).as("ctot")))
      val q = counts.crossJoin(tot)
        .withColumn("base", expr(s"($B * c) div ctot"))
        .withColumn("rem", expr(s"($B * c) % ctot"))
      val extra = broadcast(q.agg((lit(B) - sum(col("base"))).as("extra")))
      q.withColumn("rnk", row_number()
          .over(Window.orderBy(desc("rem"), asc("source"))).cast("long"))
        .crossJoin(extra)
        .withColumn("quota", col("base") +
          when(col("rnk") <= col("extra"), 1L).otherwise(0L))
        .select(col("source"), col("c").as("tokens"), col("quota"))
        .orderBy("source")
    }),

    // Document fingerprint: md5 over the sorted distinct token set (bag-of-
    // words identity, robust to word order — catches shuffled duplicates).
    // Greedy quality-density selection under a character budget — "take
    // the best data until the budget runs out". Scale-honest formulation:
    // instead of a global sort + running sum over the corpus (single-task
    // window), docs are bucketed by integer type-token ratio (1000·u div w,
    // ≤1001 buckets at ANY corpus size), the cumsum + cutoff run over the
    // bounded bucket AGGREGATE, and whole buckets are taken while the
    // cumulative cost fits. Corpus-scale work: one tokenize agg shuffle +
    // one bucket agg; everything after is metadata-scale.
    "q_budget_select" -> ((s, dir) => {
      val B = 50000L
      val per = toks(s, dir).groupBy("doc_id")
        .agg(count(lit(1)).as("w"), countDistinct(col("word")).as("u"))
        .join(docs(s, dir).select("doc_id", "n_chars"), "doc_id")
        .withColumn("bucket", expr("(1000 * u) div w"))
      val buckets = per.groupBy("bucket")
        .agg(count(lit(1)).as("nd"),
          sum(col("n_chars").cast("long")).as("cost"))
      buckets
        .withColumn("cum", sum(col("cost"))
          .over(Window.orderBy(desc("bucket"))))
        .where(col("cum") <= B)
        .agg(count(lit(1)).as("n_buckets"),
          coalesce(sum(col("nd")), lit(0L)).as("n_docs"),
          coalesce(sum(col("cost")), lit(0L)).as("total_cost"),
          min(col("bucket")).as("cutoff_bucket"))
        .withColumn("budget_left", lit(B) - col("total_cost"))
    }),

    // Flesch reading-ease profile per source — the classic readability
    // quality signal. Sentences = non-empty [.!?]-delimited chunks
    // (floored at 1), words = whitespace tokens, syllables = vowel-group
    // runs [aeiouy]+ over the lowercased text (whitespace carries no
    // vowels, so whole-text counting ≡ per-word counting, saving the
    // explode). All three are exact BIGINTs from one narrow scan; the
    // score 206.835 − 1.015·(W/S) − 84.6·(Syl/W) is the same scalar
    // expression both engines evaluate on identical integers, pre-rounded
    // per doc then decimal-summed for the per-source mean.
    "q_readability" -> ((s, dir) =>
      docs(s, dir)
        .withColumn("words", size(filter(split(col("text"), "\\s+"),
          x => length(x) > 0)).cast("long"))
        .withColumn("sents", greatest(lit(1L),
          size(filter(split(col("text"), "[.!?]+"),
            x => length(trim(x)) > 0)).cast("long")))
        .withColumn("syls", size(regexp_extract_all(lower(col("text")),
          lit("[aeiouy]+"), lit(0))).cast("long"))
        .where(col("words") > 0)
        .withColumn("flesch", expr(
          "CAST(round(206.835 - 1.015 * (CAST(words AS DOUBLE) / sents)" +
            " - 84.6 * (CAST(syls AS DOUBLE) / words), 4) AS DECIMAL(18,4))"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("words")).as("total_words"),
          sum(col("syls")).as("total_syls"),
          expr("round(CAST(sum(flesch) AS DOUBLE) / count(*), 6)")
            .as("avg_flesch"))
        .orderBy("source")),

    // DOMAIN MIXING (mixture resampling): downsample each language to hit
    // a target ratio (4:2:2:1:1) exactly — the data-mixing step of LLM
    // corpus assembly. Achievable size is exact integer arithmetic
    // (units = min over langs of n DIV w; kept = w·units) and the keep
    // rule is deterministic: the w·units smallest (md5(doc_id), doc_id)
    // ranks per lang, ranked distributively by Ranks.withinKey — no
    // per-lang single-task window at any corpus size.
    "q_mix_sources" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("hx", md5(concat(lit("mix:"), col("doc_id").cast("string"))))
      val wDf = MixWeights.toDF("lang", "w")
      val counts = d.groupBy("lang").agg(count(lit(1)).as("n"))
      val withW = counts.join(wDf, "lang")
      val units = withW.agg(min(expr("n DIV w")).as("u"))
      val kept = graft.operators.Ranks.withinKey(d, "lang", Seq("hx", "doc_id"))
        .join(broadcast(withW.select("lang", "w")), "lang")
        .crossJoin(broadcast(units))
        .where(col("rk") <= col("w") * col("u"))
      kept.groupBy("lang")
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("kept_chars"),
          min(col("doc_id")).as("first_kept"))
        .join(counts, Seq("lang"))
        .select("lang", "n", "n_kept", "kept_chars", "first_kept")
        .orderBy("lang")
    }),

    // Vocabulary build + out-of-vocabulary rate (the tokenizer-coverage
    // signal): top-V words by corpus frequency (count-desc/word-asc so the
    // cut is deterministic under ties), then per-doc OOV fraction. The
    // vocab is tiny by construction → broadcast probe; the corpus side
    // aggregates map-side and shuffles only |docs| rows.
    "q_vocab_oov" -> ((s, dir) => {
      val toks = corpusToks(s, dir)
      val vocab = corpusWordCount(s, dir)
        .orderBy(col("cnt").desc, col("word").asc).limit(VocabSize)
        .select(col("word"), lit(1L).as("in_v"))
      toks.join(broadcast(vocab), Seq("word"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"),
          sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("doc_id"), col("n_toks"), col("n_oov"),
          round(col("n_oov") / col("n_toks"), 4).as("oov_rate"))
        .orderBy("doc_id")
    }),

    // Repetition signals (the Gopher-style quality filters): duplicate-
    // token fraction and most-common-token fraction per doc. Template spam
    // and keyword stuffing sit at high dup_frac/top_frac. One narrow
    // tokenize + two partial-agg collapses; ratios are single IEEE
    // divisions over exact integers — engine-identical.
    "q_repetition" -> ((s, dir) => {
      val wc = toks(s, dir).groupBy("doc_id", "word")
        .agg(count(lit(1)).as("n"))
      wc.groupBy("doc_id").agg(
          sum(col("n")).as("n_tok"),
          count(lit(1)).as("n_distinct"),
          max(col("n")).as("top_n"))
        .withColumn("dup_frac",
          round(expr("1.0 - CAST(n_distinct AS DOUBLE) / n_tok"), 4))
        .withColumn("top_frac",
          round(expr("CAST(top_n AS DOUBLE) / n_tok"), 4))
        .orderBy("doc_id")
    }),

    // Context-window chunking with overlap: each doc's token stream split
    // into 32-token windows at stride 24 (the training-sample slicing
    // step between cleaning and packing). Emits one row per chunk —
    // boundaries are closed-form over the whitespace token count, so the
    // explode is a narrow fan-out with no shuffle at all.
    "q_chunk_overlap" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          expr("CAST(size(split(trim(text), ' +')) AS BIGINT)").as("n_tok"))
        .withColumn("n_chunks", expr(
          "CASE WHEN n_tok <= 32 THEN CAST(1 AS BIGINT) " +
            "ELSE 1 + CAST(floor((n_tok - 32 + 23) / 24.0) AS BIGINT) END"))
        .select(col("doc_id"), col("n_tok"),
          explode(expr("sequence(CAST(1 AS BIGINT), n_chunks)")).as("chunk_id"))
        .withColumn("chunk_start", expr("1 + (chunk_id - 1) * 24"))
        .withColumn("chunk_len",
          expr("least(n_tok - chunk_start + 1, CAST(32 AS BIGINT))"))
        .orderBy("doc_id", "chunk_id")),

    // Pearson correlation between embedding dimensions, per label —
    // computed from the five INTEGER power sums (n, Σx, Σy, Σxy, Σx², Σy²)
    // over the quantized vectors: every sum is exact (< 2^53) hence
    // order-independent, and the final correlation is one deterministic
    // IEEE expression over them. The built-in corr() accumulates doubles
    // in partition order and CANNOT hash-match across engines — this is
    // the determinism-disciplined spelling of the same statistic.
    "q_corr" -> ((s, dir) =>
      emb(s, dir)
        .select(col("label"), expr(QuantSpark).as("q"))
        .select(col("label"), expr("element_at(q, 1)").as("x"),
          expr("element_at(q, 2)").as("y"))
        .groupBy("label").agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(expr("x*y")).as("sxy"),
          sum(expr("x*x")).as("sxx"), sum(expr("y*y")).as("syy"))
        .withColumn("corr", round(expr(
          """(CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy) /
            | sqrt((CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx) *
            |       (CAST(n AS DOUBLE)*syy - CAST(sy AS DOUBLE)*sy))""".stripMargin), 6))
        .select("label", "n", "corr")
        .orderBy("label")),

    // Higher-order array functions over the embedding vectors: filter /
    // exists / transform+aggregate — the lambda-function family (used
    // inside every ANN query) exercised as first-class operators on the
    // quantized (exact-integer) representation so both engines agree.
    "q_array_hof" -> ((s, dir) =>
      emb(s, dir)
        .select(col("vec_id"), expr(QuantSpark).as("q"))
        .select(col("vec_id"),
          expr("CAST(size(filter(q, x -> x > 0)) AS BIGINT)").as("n_pos"),
          expr("exists(q, x -> x >= 900)").as("has_big"),
          expr("aggregate(q, CAST(0 AS BIGINT), (a, x) -> a + abs(x))").as("l1"),
          expr("CAST(array_max(q) AS BIGINT)").as("qmax"),
          expr("CAST(array_min(q) AS BIGINT)").as("qmin"))
        .orderBy("vec_id")),

    // n-gram LM quality scoring (the CCNet/KenLM-style filter): train a
    // char-bigram model on the corpus itself (P(c2|c1) = cnt(c1c2) /
    // cnt(c1 at non-final positions)), then score each doc by its average
    // negative log-likelihood — low = typical text, high = gibberish.
    // The model is |charset|² rows → broadcast joins; scoring is one
    // narrow pass. Same determinism scheme as q_char_entropy: exact
    // integer-ratio division, ln pre-rounded to 8, decimal-summed terms.
    "q_lm_score" -> ((s, dir) => lmScores(s, dir).orderBy("doc_id")),

    // PERPLEXITY-PERCENTILE FILTERING — the scoring composed with the
    // distributed percentile into the actual CCNet-style corpus gate:
    // keep documents whose average NLL is at or below the corpus p75
    // (computed by operators.Percentiles — no whole-corpus buffer), drop
    // the worst quartile. Output: kept-set summary + the threshold. The
    // oracle recomputes the same scores and quantile_cont threshold.
    "q_filter_perplexity" -> ((s, dir) => {
      // eager materialization: the per-doc score table (|docs| rows) has
      // FOUR consumers downstream (Percentiles' two rank branches, the
      // count metadata, and the keep-filter scan) — without it each one
      // re-executes the per-character bigram explode of the whole corpus
      // (measured 25.3 → ~2 s at sf0.1)
      val scores = lmScores(s, dir).withColumn("__g", lit(1))
        .ckpt()
      val thr = graft.operators.Percentiles
        .exact(scores, "__g", "nll", Seq(0.75))
        .select(col("q").as("thr"))
      // + 1e-9: nll values live on a 1e-4 grid while engine-specific IEEE
      // evaluation (FMA contraction, rounding spellings) can move the
      // interpolated threshold by an ulp (~1e-16) — the epsilon makes the
      // keep rule boundary-proof without admitting any extra grid point
      scores.crossJoin(broadcast(thr))
        .where(col("nll") <= col("thr") + 1e-9)
        .agg(count(lit(1)).as("n_kept"), sum(col("n_bigrams")).as("kept_bigrams"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
    }),

    // Interpolated Kneser-Ney bigram LM (Chen & Goodman '99) with dyadic
    // discount d = 3/4 — the production-grade quality scorer beside
    // q_lm_score's add-one model. Train on the hash-bucket < 80 split,
    // score the ≥ 80 held-out docs. Every case of
    //   P_KN(w|v) = max(c(vw)−d, 0)/c(v·) + d·N1+(v·)/c(v·) · N1+(·w)/NB
    // cross-multiplies into ONE integer rational (d = 3/4 makes 4·c − 3
    // exact), so ln P = round(ln(num),8) − round(ln(den),8) over BIGINTs —
    // the house ln-of-integer discipline; no float ever feeds a log.
    // Unseen context backs off to add-one continuation ((N1+(·w)+1)/(NB+V)).
    // Shape: test bigrams join three aggregate tables (bigram counts,
    // per-context totals, per-word continuation counts) on their keys —
    // shuffle equi-joins sized by |bigram types|, never corpus×corpus;
    // the 1-row totals broadcast. BIGINT products need DECIMAL(38,0) +
    // decimal-ln past ~10¹⁸ — the sketch-family upgrade path.
    "q_lm_kn" -> ((s, dir) => {
      val bg = docs(s, dir)
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("a"))
        // size guard BEFORE the sequence: Spark's sequence(1, 0) steps
        // BACKWARD to [1, 0], so a one-token doc would emit two bogus
        // NULL-component bigrams while the oracle's generate_series(1, 0)
        // is empty — same guard as bigramPairs / the oracle's len(a) >= 2
        .where(expr("size(a) >= 2"))
        .select(col("doc_id"), col("source"),
          explode(expr(
            "transform(sequence(1, size(a) - 1)," +
              " i -> struct(a[i-1] AS v, a[i] AS w))")).as("b"))
        .select(col("doc_id"), col("source"),
          col("b.v").as("v"), col("b.w").as("w"))
      val train = bg.where(expr(HashBucketSpark) < 80)
      val cvw = train.groupBy("v", "w").agg(count(lit(1)).as("c"))
      val cv = cvw.groupBy("v")
        .agg(sum(col("c")).as("cv"), count(lit(1)).as("n1f"))
      val n1b = cvw.groupBy("w").agg(count(lit(1)).as("n1b"))
      val tot = broadcast(cvw.agg(count(lit(1)).as("nb"))
        .crossJoin(train.select(col("v").as("t"))
          .unionAll(train.select(col("w").as("t")))
          .agg(count_distinct(col("t")).as("vv"))))
      bg.where(expr(HashBucketSpark) >= 80)
        .join(cvw, Seq("v", "w"), "left_outer")
        .join(cv, Seq("v"), "left_outer")
        .join(n1b, Seq("w"), "left_outer")
        .crossJoin(tot)
        .withColumn("c", coalesce(col("c"), lit(0L)))
        .withColumn("cv", coalesce(col("cv"), lit(0L)))
        .withColumn("n1f", coalesce(col("n1f"), lit(0L)))
        .withColumn("n1b", coalesce(col("n1b"), lit(0L)))
        .withColumn("num", expr(
          """CASE WHEN cv > 0 AND c > 0 THEN (4*c - 3)*nb + 3*n1f*n1b
            |     WHEN cv > 0 THEN 3*n1f*n1b + 1
            |     ELSE n1b + 1 END""".stripMargin))
        .withColumn("den", expr(
          "CASE WHEN cv > 0 THEN 4*cv*nb ELSE nb + vv END"))
        .withColumn("lp", expr(
          "round(ln(CAST(num AS DOUBLE)), 8) - round(ln(CAST(den AS DOUBLE)), 8)"))
        .groupBy("source")
        .agg(count_distinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_bigrams"),
          expr("round(-CAST(sum(CAST(lp AS DECIMAL(18,8))) AS DOUBLE)" +
            " / count(*), 6)").as("avg_nll"))
        .orderBy("source")
    }),

    // Benchmark decontamination: fraction of each doc's 8-char shingles
    // that appear in a held-out "benchmark" set (here: every 97th doc
    // stands in for an eval suite). The real-pipeline shape: benchmark
    // shingle set is small → broadcast; the corpus side is one narrow
    // pass + one broadcast semi-probe, never a corpus-corpus join.
    "q_contamination" -> ((s, dir) => {
      val s8 = docs(s, dir).where(length(col("text")) >= K)
        .select(col("doc_id"),
          explode(sequence(lit(1), length(col("text")) - (K - 1), lit(Stride)))
            .as("i"), col("text"))
        .select(col("doc_id"), expr(s"substring(text, i, $K)").as("sh"))
        .distinct()
      val bench = s8.where(col("doc_id") % 97 === 0).select("sh").distinct()
      s8.where(col("doc_id") % 97 =!= 0)
        .join(broadcast(bench.withColumn("hit", lit(1L))), Seq("sh"), "left_outer")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_sh"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .withColumn("frac", round(expr("CAST(n_hit AS DOUBLE) / n_sh"), 4))
        .orderBy("doc_id")
    }),

    // Character-entropy quality signal: H = -Σ p·ln(p) over the per-doc
    // character distribution (gibberish and template spam sit at the
    // entropy extremes). Determinism: p = cnt/total is one exact IEEE
    // division; ln is pre-rounded to 8 decimals (libm 1-ulp differences);
    // each term is cast to DECIMAL before the sum so accumulation order
    // can't change the result (same technique as q_tfidf's idf).
    "q_char_entropy" -> ((s, dir) => {
      val ch = docs(s, dir).where(length(col("text")) > 0)
        .select(col("doc_id"), explode(split(col("text"), "")).as("c"))
      val cnt = ch.groupBy("doc_id", "c").agg(count(lit(1)).as("cnt"))
      val tot = cnt.groupBy("doc_id").agg(sum(col("cnt")).as("total"))
      cnt.join(tot, "doc_id")
        .withColumn("term", expr(
          "CAST((CAST(cnt AS DOUBLE)/total) * round(ln(CAST(cnt AS DOUBLE)/total), 8) AS DECIMAL(28,10))"))
        .groupBy("doc_id")
        .agg(round((-sum(col("term"))).cast("double"), 4).as("entropy"),
          count(lit(1)).as("n_classes"))
        .orderBy("doc_id")
    }),

    // Document-length histogram (100-char buckets): the size-distribution
    // profile that drives packing budgets and truncation policies.
    "q_len_histogram" -> ((s, dir) =>
      docs(s, dir)
        .groupBy(floor(col("n_chars") / lit(100)).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"), min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy("bucket")),

    // Deterministic hash sampling: keep docs whose stable md5-derived
    // bucket (of the KEY, not the row — re-runs and re-partitions agree)
    // falls under the rate. The scalable sampling primitive: a narrow
    // filter, no shuffle, no RNG state, reproducible across engines and
    // cluster sizes.
    "q_sample_hash" -> ((s, dir) =>
      docs(s, dir)
        .where(expr(s"$HashBucketSpark < 10"))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")),

    // Uniform k-per-key sample via the NATIVE TopKPerKey operator: rank
    // docs inside each lang by a stable md5 of the key and keep the k
    // smallest. Equivalent to per-group reservoir sampling but
    // deterministic (reproducible across runs/cluster sizes) and planned as
    // map-side bounded-heap prune → 1 Exchange → final prune — each map
    // partition contributes ≤ k rows per lang to the shuffle, vs a full
    // per-group window sort. The oracle spells the same selection as a
    // row_number window.
    "q_sample_per_key" -> ((s, dir) => {
      val ranked = docs(s, dir).select(col("lang"), col("doc_id"),
        md5(concat(lit("smp-"), col("doc_id").cast("string"))).as("r"))
      graft.operators.TopK.perKey(ranked, Seq("lang"), Seq(("r", true)), 5)
        .select("lang", "doc_id").orderBy("lang", "doc_id")
    }),

    // Weighted (probability-proportional-to-size) Poisson sampling with an
    // INTEGER-exact inclusion rule: doc i is kept iff
    // bucket_i · W < k · w_i · 2^32, i.e. u < min(1, k·w_i/W) with
    // u = bucket/2^32 — no floating comparison anywhere near the decision
    // boundary, so both engines keep the identical sample. W is one cheap
    // global agg broadcast like tfidf's N; the filter itself is narrow and
    // shuffle-free. (The BIGINT product bounds hold to ~2^30 total weight;
    // beyond that, pre-scale W — noted, irrelevant at catalog scale.)
    "q_sample_pps" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("n_chars"))
        .withColumn("bucket",
          expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"))
      val tot = d.agg(sum(col("n_chars")).as("W"))
      d.crossJoin(broadcast(tot))
        .where(col("bucket") * col("W") < lit(PpsK.toLong) * col("n_chars") * lit(1L << 32))
        .select(col("doc_id"), col("n_chars"),
          round(least(lit(1.0).cast("double"),
            (lit(PpsK.toLong) * col("n_chars")) / col("W")), 6).as("p"))
        .orderBy("doc_id")
    }),

    // Deterministic train/val/test split (80/10/10) by the same key hash,
    // with per-split stats: the split is a pure function of doc_id, so
    // adding data never moves an existing doc across splits.
    "q_split_train" -> ((s, dir) =>
      docs(s, dir)
        .withColumn("bucket", expr(HashBucketSpark))
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val").otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"))
        .orderBy("split")),

    // PII scrubbing: URLs, emails, then long digit runs masked with typed
    // placeholders (RE2-safe patterns — no backrefs/lookahead — so Java
    // and DuckDB regex engines agree). The corpus has no PII, so the
    // query plants synthetic markers derived from doc_id and the oracle
    // plants the same — masking is genuinely exercised on every row.
    "q_scrub_pii" -> ((s, dir) => {
      val aug = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or https://ex.com/u/"), col("doc_id").cast("string"),
        lit(" ref "), (col("doc_id") * 1000000 + 424242).cast("string"))
      val scrubbed =
        regexp_replace(
          regexp_replace(
            regexp_replace(aug, lit(UrlRe), lit("<URL>")),
            lit(EmailRe), lit("<EMAIL>")),
          lit(DigitsRe), lit("<NUM>"))
      docs(s, dir).select(col("doc_id"),
        regexp_count(aug, lit(EmailRe)).cast("long").as("n_email"),
        regexp_count(aug, lit(UrlRe)).cast("long").as("n_url"),
        scrubbed.as("clean"))
        .orderBy("doc_id")
    }),

    // Sequence packing: concatenate docs (in doc_id order) into training
    // rows of ~512 whitespace tokens, greedy running-sum binning. Packing
    // is per-lang so the window is partition-parallel — the 100 TB shape
    // is "pack within shard", never a global single-partition window.
    "q_pack_sequences" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byLang = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs(s, dir)
        .select(col("doc_id"), col("lang"),
          expr("CAST(size(split(trim(text), ' +')) AS BIGINT)").as("n_tok"))
        .withColumn("cum", sum(col("n_tok")).over(byLang))
        .withColumn("bin",
          floor((col("cum") - col("n_tok")) / lit(PackBudget)).cast("long"))
        .groupBy("lang", "bin")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tok"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy("lang", "bin")
    }),

    // Equi-DEPTH decile binning of per-doc token counts — the feature-
    // binning pass behind quantile bucketing, built on the distributed
    // two-level rank ([[graft.operators.Ranks.withinKey]]) instead of a
    // single-partition global window: bin = (rank-1)·10 div n over the
    // UNIQUE order (n_tok, doc_id), so ties never straddle bins
    // nondeterministically and everything stays in exact integers (no
    // interpolated quantile boundaries to ulp-flip cross-engine).
    "q_bin_equidepth" -> ((s, dir) => {
      val dl = toks(s, dir).groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
      val n = dl.agg(count(lit(1)).as("n"))
      graft.operators.Ranks
        .withinKey(dl.withColumn("__k", lit(1)), "__k", Seq("n_tok", "doc_id"))
        .crossJoin(broadcast(n))
        .withColumn("bin", expr("(rk - 1) * 10 div n"))
        .groupBy(col("bin").cast("long").as("bin"))
        .agg(count(lit(1)).as("n_docs"), min("n_tok").as("lo"),
          max("n_tok").as("hi"), sum("n_tok").as("sum_tok"))
        .orderBy("bin")
    }),

    // BPE tokenizer training, first 3 merge rounds over the word-frequency
    // dictionary — the distributed core of tokenizer fitting: per round,
    // count adjacent symbol pairs weighted by word count (a narrow
    // explode + partial-agg'd sum), take the global argmax pair
    // (weight desc, pair asc — deterministic), and apply the merge with a
    // non-overlapping left-to-right literal replace. The chosen pair
    // flows back via crossJoin(broadcast(1 row)) — no driver collect, the
    // whole 3-round loop is ONE declarative plan. Scale: pair counting is
    // |vocab|-bound (not corpus-bound) after the word-count shuffle, and
    // each merge is a map-side string op.
    "q_bpe_merges" -> ((s, dir) => {
      val (_, merges) = bpeChain(s, dir)
      merges.zipWithIndex.map { case (t, i) =>
        t.withColumn("step", lit((i + 1).toLong))
      }.reduce(_ unionByName _)
        .select(col("step"), col("l"), col("r"), col("w"))
        .orderBy("step")
    }),

    // BPE APPLY — the tokenizer completes train→apply the way the dedup
    // family completes candidates→verify→apply: the 3 learned merges are
    // applied to the whole vocabulary (the same broadcast-pair literal
    // replace as training, so the two queries cannot drift) and each
    // word's resulting symbol count is emitted. n_sym is the per-word
    // token cost under the learned tokenizer — Σ cnt·n_sym is the corpus
    // token count a budget planner would use. All map-side after the
    // word-count collapse.
    "q_bpe_apply" -> ((s, dir) => {
      val (wc3, _) = bpeChain(s, dir)
      wc3.select(col("word"), col("cnt"),
        expr("CAST(size(split(trim(seq), ' ')) AS BIGINT)").as("n_sym"))
        .orderBy("word")
    }),

    // Deterministic training-data shuffle: shard = md5 bucket of doc_id
    // (the shared 100-bucket rule) folded to 8 shards,
    // within-shard position = rank of an INDEPENDENT salted hash (so the
    // order inside a shard is decorrelated from the shard assignment) via
    // `Ranks.withinKey` — a 10¹¹-doc shard never sorts on one task. The
    // whole permutation is a pure function of doc_id: re-runs, retries and
    // corpus growth never reorder existing docs relative to each other
    // within a shard (new docs splice in at their hash positions).
    "q_shuffle_shards" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"))
        .withColumn("shard", expr(s"($HashBucketSpark) % 8"))
        .withColumn("h", md5(concat(lit("ord"), col("doc_id").cast("string"))))
      graft.operators.Ranks.withinKey(d, "shard", Seq("h", "doc_id"))
        .select(col("doc_id"), col("shard"), col("rk").as("pos"))
        .orderBy("shard", "pos")
    }),

    // Top-K bigrams per head word on the NATIVE TopKPerKey operator (the
    // n-gram language-model seed): adjacent token pairs from the SAME
    // split array the oracle sees, pair counts partial-agg'd map-side,
    // then the bounded-heap partial/final prune — ≤ k rows per head word
    // per map partition cross the one shuffle, never a per-head window
    // sort. The (cnt desc, w2 asc) ordering is total within a head, so
    // the native operator's row set equals the oracle's row_number
    // spelling exactly.
    "q_ngram_topk" -> ((s, dir) => {
      val counts = bigramPairs(s, dir)
        .groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
      graft.operators.TopK.perKey(counts, Seq("w1"),
        Seq(("cnt", false), ("w2", true)), NgramK)
        .orderBy("w1", "w2")
    }),

    // Hashing-trick featurizer (the bag-of-words → fixed-width sparse
    // vector ML front door): token → md5 bucket in [0, 64), per-doc
    // bucket counts in long (doc_id, bucket, cnt) shape — collisions are
    // the accepted tradeoff (the feature DIMENSION is corpus-independent,
    // no vocabulary build, no OOV). Narrow token map + one partial-agg'd
    // (doc, bucket) shuffle; linear at any corpus size.
    "q_feature_hash" -> ((s, dir) =>
      toks(s, dir)
        .select(col("doc_id"),
          expr(s"CAST(conv(substring(md5(word), 1, 8), 16, 10) AS BIGINT) % $FeatHashDim")
            .as("bucket"))
        .groupBy("doc_id", "bucket").agg(count(lit(1)).as("cnt"))
        .orderBy("doc_id", "bucket")),

    // Johnson-Lindenstrauss random projection — 64-dim embeddings mapped
    // to 8 dims through the SAME md5-seeded integer hyperplane matrix the
    // LSH bucketing uses (weights inlined as literals into both engines):
    // the distance-preserving dimensionality reducer feeding downstream
    // ANN/clustering at 1/8 the vector bytes. Quantized inputs × integer
    // weights keep every projected coordinate an exact BIGINT — no float
    // anywhere, partition-invariant. One narrow codegen'd map, zero
    // shuffles.
    "q_random_projection" -> ((s, dir) => {
      val dims = (0 until LshPlanes).map { p =>
        val arr = LshW(p).mkString("array(", "L, ", "L)")
        expr(s"ivec_dot(q, $arr)").as(s"d$p")
      }
      emb(s, dir).select(col("vec_id"), expr(QuantSpark).as("q"))
        .select(col("vec_id") +: dims: _*)
        .orderBy("vec_id")
    }),

    // Pointwise mutual information over adjacent-token pairs — the word
    // association score (collocation detection): PMI = ln(N·c12/(c1·c2))
    // where the marginals c1/c2 and N derive from the SAME pair-count
    // table (self-consistent, no tokenization drift). All counting is
    // exact integer partial-agg'd; ln is the one terminal float op
    // (rounded — same discipline as BM25's idf). Marginals broadcast
    // back; the min-count filter keeps only supported associations.
    "q_pmi" -> ((s, dir) => {
      val c = bigramPairs(s, dir)
        .groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
      val lm = c.groupBy("w1").agg(sum(col("cnt")).as("c1"))
      val rm = c.groupBy("w2").agg(sum(col("cnt")).as("c2"))
      val nn = c.agg(sum(col("cnt")).as("nb"))
      c.where(col("cnt") >= PmiMinCount)
        .join(broadcast(lm), "w1").join(broadcast(rm), "w2")
        .crossJoin(broadcast(nn))
        .select(col("w1"), col("w2"), col("cnt"),
          round(expr(
            "ln(CAST(nb AS DOUBLE) * CAST(cnt AS DOUBLE) / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE)))"),
            6).as("pmi"))
        .orderBy("w1", "w2")
    })
  )

  // ---- sampling / scrubbing / packing constants (shared Spark + SQL) ----

  /** RE2-safe scrub patterns (no backrefs / lookaround): both Java regex
    * and DuckDB's RE2 interpret them identically. URL first (it may
    * contain @ and digits), then email, then long digit runs. */
  private[queries] val UrlRe = "https?://[A-Za-z0-9./_-]+"
  private[queries] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[queries] val DigitsRe = "[0-9]{6,}"

  /** Token budget per packed training row. */
  private[queries] val PackBudget = 512

  /** BM25 query terms: three common + one rare ("dup", df≈5% of docs) so
    * scores discriminate. */
  private[queries] val BmTerms = Seq("spark", "query", "vector", "dup")

  /** Shared BPE training chain (q_bpe_merges / q_bpe_apply): word counts →
    * char-split symbol sequences → 3 rounds of (weighted pair count →
    * deterministic argmax → broadcast literal merge). Returns the final
    * sequence table and the 3 chosen merges. One definition so train and
    * apply cannot drift. */
  private[queries] def bpeChain(s: SparkSession, dir: String)
      : (DataFrame, Seq[DataFrame]) = {
    // ckpt per round: each vocabulary state feeds BOTH the pair-count
    // argmax and the next merge — unmaterialized, the corpus tokenize
    // re-executes ~2× per round (plan audit: 19 Exchanges on the
    // fertility consumer before)
    import graft.operators.Ckpt._
    val wc0 = corpusWordCount(s, dir)
      .withColumn("seq", concat(lit(" "),
        regexp_replace(col("word"), "(.)", "$1 ")))
      .ckpt()
    def top1(wc: DataFrame): DataFrame = wc
      .where(expr("size(split(trim(seq), ' ')) >= 2"))
      .select(col("cnt"), split(trim(col("seq")), " ").as("syms"))
      .select(col("cnt"), explode(expr(
        "transform(sequence(1, size(syms) - 1)," +
          " i -> struct(syms[i-1] AS l, syms[i] AS r))")).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum("cnt").as("w"))
      .orderBy(desc("w"), asc("l"), asc("r")).limit(1)
    def merge(wc: DataFrame, t1: DataFrame): DataFrame = wc
      .crossJoin(broadcast(t1))
      .withColumn("seq", expr(
        "replace(seq, concat(' ', l, ' ', r, ' '), concat(' ', l, r, ' '))"))
      .select("word", "cnt", "seq")
      .ckpt()
    val t1 = top1(wc0); val wc1 = merge(wc0, t1)
    val t2 = top1(wc1); val wc2 = merge(wc1, t2)
    val t3 = top1(wc2); val wc3 = merge(wc2, t3)
    (wc3, Seq(t1, t2, t3))
  }

  /** Per-(doc, term) BM25 contribution (k1 = 1.2, b = 0.75), ONE string
    * parsed by BOTH engines (columns tf, df, dl, n_docs, sum_dl): spelling
    * the arithmetic once guarantees the identical IEEE evaluation order.
    * idf is pre-rounded to 8 decimals because ln() is not correctly-
    * rounded (q_tfidf note); every other op is exact-input +,-,*,/ —
    * correctly rounded, so bit-identical cross-engine. The final 6-decimal
    * round makes the contribution decimal-summable (order-free). */
  private[queries] val BmContribExpr: String =
    "round(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 8)" +
      " * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75" +
      " * (dl / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))), 6)"

  // =========================================================================
  //  DuckDB oracles
  // =========================================================================

  private[queries] val ToksSql = Reference.ToksSql

  /** DuckDB replay of [[graft.operators.Winnow.selected]] at
    * ([[WinnowK]], [[WinnowW]]): ends in CTE `f` = (doc_id, i, wm, ng),
    * one row per full window. */
  private[queries] val WinnowSelSql: String =
    s"""xs AS (
       |  SELECT doc_id, text, length(text) - ${WinnowK - 1} AS ng,
       |    unnest(generate_series(1, length(text) - ${WinnowK - 1})) AS i
       |  FROM documents WHERE length(text) >= $WinnowK
       |),
       |g AS (
       |  SELECT doc_id, i, ng,
       |    ${hex2longSql(s"md5(substring(text, i, $WinnowK))", 1)} AS h
       |  FROM xs
       |),
       |wmw AS (
       |  SELECT doc_id, i, ng,
       |    min(h) OVER (PARTITION BY doc_id ORDER BY i
       |                 ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS wm
       |  FROM g
       |),
       |f AS (SELECT doc_id, i, wm, ng FROM wmw WHERE i <= ng - ${WinnowW - 1})""".stripMargin

  /** Unrolled Lloyd replay (oracle twin of [[graft.operators.KMeans]] at
    * ([[KmK]], [[KmIters]])): c0 = init (k smallest ids), then per
    * iteration t: d_t (exact integer distances) → a_t (argmin, ties to
    * smaller cid) → c_t (fixed-point component update — the same
    * pure-integer round-half-up spelling as the operator: exactly-divisible
    * floor division, no DOUBLE on either engine). Ends with `af`
    * (final assignment: id, cid, d2) and `cm` (centroid md5 per cid). */
  private[queries] lazy val KmeansCtes: String = {
    val qvInit =
      s"""qv AS (
         |  SELECT vec_id AS id, i, 1000 * ${quantSqlElem("embedding[i]")} AS v
         |  FROM (SELECT vec_id, embedding,
         |               unnest(generate_series(1, len(embedding))) AS i
         |        FROM embeddings)
         |),
         |init AS (
         |  SELECT id, row_number() OVER (ORDER BY id) - 1 AS cid
         |  FROM (SELECT DISTINCT id FROM qv ORDER BY id LIMIT $KmK)
         |),
         |c0 AS (SELECT init.cid, qv.i, qv.v AS c FROM init JOIN qv USING (id))""".stripMargin
    val steps = (1 to KmIters).map { t =>
      s"""d$t AS (
         |  SELECT qv.id, c.cid, sum((qv.v - c.c) * (qv.v - c.c)) AS d2
         |  FROM qv JOIN c${t - 1} c ON qv.i = c.i GROUP BY qv.id, c.cid
         |),
         |a$t AS (
         |  SELECT id, cid FROM (
         |    SELECT id, cid,
         |           row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn
         |    FROM d$t) WHERE rn = 1
         |),
         |c$t AS (
         |  SELECT cid, i,
         |         CAST((2*s + n - ((((2*s + n) % (2*n)) + 2*n) % (2*n))) // (2*n) AS BIGINT) AS c
         |  FROM (SELECT a.cid, qv.i, sum(qv.v) AS s, count(*) AS n
         |        FROM a$t a JOIN qv USING (id) GROUP BY a.cid, qv.i)
         |)""".stripMargin
    }.mkString(",\n")
    s"""$qvInit,
       |$steps,
       |df AS (
       |  SELECT qv.id, c.cid, sum((qv.v - c.c) * (qv.v - c.c)) AS d2
       |  FROM qv JOIN c$KmIters c ON qv.i = c.i GROUP BY qv.id, c.cid
       |),
       |af AS (
       |  SELECT id, cid, d2 FROM (
       |    SELECT id, cid, d2,
       |           row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn
       |    FROM df) WHERE rn = 1
       |),
       |cm AS (
       |  SELECT cid, md5(array_to_string(
       |    list_transform(list(c ORDER BY i), x -> CAST(x AS VARCHAR)), ',')) AS c_md5
       |  FROM c$KmIters GROUP BY cid
       |)""".stripMargin
  }

  /** Char-bigram LM replay (oracle twin of [[lmScores]]): ends in CTE
    * `scores` = (doc_id, n_bigrams, nll). */
  private[queries] val LmScoreCtes: String =
    """bg AS (
      |  SELECT doc_id, substr(text, i, 1) AS c1, substr(text, i, 2) AS bgm
      |  FROM (SELECT doc_id, text,
      |               unnest(generate_series(1, length(text) - 1)) AS i
      |        FROM documents WHERE length(text) >= 2)
      |),
      |bgc AS (SELECT bgm, count(*) AS bc FROM bg GROUP BY bgm),
      |c1c AS (SELECT c1, count(*) AS cc FROM bg GROUP BY c1),
      |t AS (
      |  SELECT bg.doc_id,
      |    CAST(round(ln(CAST(bc AS DOUBLE) / cc), 8) AS DECIMAL(28,10)) AS term
      |  FROM bg JOIN bgc USING (bgm) JOIN c1c USING (c1)
      |),
      |scores AS (
      |  SELECT doc_id, count(*) AS n_bigrams,
      |    round(-CAST(sum(term) AS DOUBLE) / count(*), 4) AS nll
      |  FROM t GROUP BY doc_id
      |)""".stripMargin

  private[queries] val MinhashSigSql: String = {
    val mins = (0 until H)
      .map(i => s"min((a + $i*b) % $Mod) AS h$i").mkString(",\n    ")
    s"""reps AS (
       |  SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text
       |),
       |sh AS (
       |  SELECT doc_id, substr(text, i, $K) AS sh
       |  FROM (SELECT doc_id, text,
       |               unnest(generate_series(1, length(text) - ${K - 1}, $Stride)) AS i
       |        FROM reps WHERE length(text) >= $K)
       |),
       |ab AS (
       |  SELECT doc_id, ${hex2longSql("md5(sh)", 1)} AS a,
       |         ${hex2longSql("md5(sh)", 9)} AS b
       |  FROM sh
       |),
       |sig AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM ab GROUP BY doc_id
       |)""".stripMargin
  }

  /** Oracle twin of [[verifiedDupIds]] (threshold 0.5); requires the
    * [[MinhashSigSql]] + [[BandsSql]] CTEs upstream. Defines CTEs
    * `pairs`, `sets`, `sz`, `neardups`, `exactdups`, `dropids`. */
  private[queries] lazy val NearDupsSql: String =
    """pairs AS (
      |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
      |  FROM cbands x JOIN cbands y
      |    ON x.band = y.band AND x.v = y.v AND x.doc_id < y.doc_id
      |),
      |sets AS (SELECT DISTINCT doc_id, sh FROM sh),
      |sz AS (SELECT doc_id, count(*) AS sz FROM sets GROUP BY doc_id),
      |neardups AS (
      |  SELECT DISTINCT p.d2 AS doc_id
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
      |exactdups AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS keep
      |    FROM documents)
      |  WHERE doc_id <> keep
      |),
      |dropids AS (
      |  SELECT doc_id FROM neardups UNION SELECT doc_id FROM exactdups
      |)""".stripMargin

  /** One side of the q_delta_dedup oracle: doc slice → shingles → minhash
    * sig → band rows, all CTE names suffixed `_tag` (twin of the Spark
    * `shinglesOf` + `bandRowsFromShingles` pair over a bucket slice). */
  private[queries] def deltaSideSql(tag: String, pred: String): String = {
    val mins = (0 until H)
      .map(i => s"min((a + $i*b) % $Mod) AS h$i").mkString(",\n    ")
    val bandRows = (0 until Bands).map { b =>
      val v = (0 until R).map(r => s"CAST(h${b * R + r} AS VARCHAR)")
        .mkString(" || '-' || ")
      s"SELECT doc_id, $b AS band, $v AS v FROM sig_$tag"
    }.mkString("\n  UNION ALL ")
    s"""d_$tag AS (SELECT doc_id, text FROM documents WHERE $pred),
       |sh_$tag AS (
       |  SELECT doc_id, substr(text, i, $K) AS sh
       |  FROM (SELECT doc_id, text,
       |               unnest(generate_series(1, length(text) - ${K - 1}, $Stride)) AS i
       |        FROM d_$tag WHERE length(text) >= $K)
       |),
       |ab_$tag AS (
       |  SELECT doc_id, ${hex2longSql("md5(sh)", 1)} AS a,
       |         ${hex2longSql("md5(sh)", 9)} AS b
       |  FROM sh_$tag
       |),
       |sig_$tag AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM ab_$tag GROUP BY doc_id
       |),
       |bands_$tag AS (
       |  $bandRows
       |)""".stripMargin
  }

  /** Band rows + the bucket-size cap: `cbands` is `bands` minus buckets
    * holding more than [[BandBucketCap]] docs (twin of the Spark-side
    * `smallBuckets` join in `minhashCandPairs`). */
  private[queries] val BandsSql: String =
    (0 until Bands).map { b =>
      val v = (0 until R).map(r => s"CAST(h${b * R + r} AS VARCHAR)")
        .mkString(" || '-' || ")
      s"SELECT doc_id, $b AS band, $v AS v FROM sig"
    }.mkString("bands AS (\n  ", "\n  UNION ALL ", "\n)") +
      s""",
         |bsz AS (SELECT band, v, count(*) AS bn FROM bands GROUP BY band, v),
         |cbands AS (
         |  SELECT bands.doc_id, bands.band, bands.v
         |  FROM bands JOIN bsz USING (band, v) WHERE bsz.bn <= $BandBucketCap
         |)""".stripMargin

  val oracle: Map[String, String] = strictMap(
    "q_lang_id" -> {
      val scores = Stops.map { case (lang, words) =>
        s"CAST(sum(CASE WHEN word IN ${inList(words)} THEN 1 ELSE 0 END) AS BIGINT) AS s_$lang"
      }.mkString(",\n    ")
      s"""WITH $ToksSql,
         |sc AS (
         |  SELECT doc_id,
         |    $scores
         |  FROM toks GROUP BY doc_id
         |)
         |SELECT doc_id, s_en, s_fr, s_de, s_es,
         |  $PredCase AS pred
         |FROM sc ORDER BY doc_id""".stripMargin
    },

    "q_lang_ngram" -> {
      val scores = Bigrams.map { case (lang, pat) =>
        s"CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS s_$lang"
      }.mkString(",\n    ")
      s"""WITH sc AS (
         |  SELECT doc_id,
         |    $scores
         |  FROM documents
         |)
         |SELECT doc_id, s_en, s_fr, s_de, s_es, $PredCase AS pred
         |FROM sc ORDER BY doc_id""".stripMargin
    },

    "q_quality" -> {
      val en = inList(Stops.head._2)
      s"""WITH $ToksSql,
         |st AS (
         |  SELECT doc_id, count(*) AS n_tok,
         |    CAST(sum(length(word)) AS BIGINT) AS sum_len,
         |    CAST(sum(CASE WHEN word IN $en THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
         |  FROM toks GROUP BY doc_id
         |),
         |m AS (
         |  SELECT d.doc_id, st.n_tok,
         |    round(CAST(sum_len AS DOUBLE) / n_tok, 4) AS avg_len,
         |    round(CAST(n_stop AS DOUBLE) / n_tok, 4) AS stop_ratio,
         |    round(CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
         |          / greatest(length(text), 1), 4) AS digit_ratio
         |  FROM documents d JOIN st ON d.doc_id = st.doc_id
         |)
         |SELECT doc_id, n_tok, avg_len, stop_ratio, digit_ratio,
         |  round(least(CAST(n_tok AS DOUBLE)/100, 1.0)*0.5
         |        + (CASE WHEN avg_len >= 3 AND avg_len <= 8 THEN 0.3 ELSE 0.0 END)
         |        + least(stop_ratio*5, 1.0)*0.2, 4) AS quality
         |FROM m ORDER BY doc_id""".stripMargin
    },

    "q_token_count" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT) AS n_ws,
         |  CAST(len(regexp_extract_all(text, '$BpePattern')) AS BIGINT) AS n_bpe,
         |  n_chars
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_budget_select" ->
      s"""WITH ${Reference.ToksSql},
         |per AS (
         |  SELECT doc_id, count(*) AS w, count(DISTINCT word) AS u
         |  FROM toks GROUP BY doc_id
         |),
         |b AS (
         |  SELECT (1000 * u) // w AS bucket, count(*) AS nd,
         |    CAST(sum(n_chars) AS BIGINT) AS cost
         |  FROM per JOIN documents USING (doc_id) GROUP BY 1
         |),
         |c AS (
         |  SELECT bucket, nd, cost,
         |    sum(cost) OVER (ORDER BY bucket DESC) AS cum
         |  FROM b
         |)
         |SELECT CAST(count(*) AS BIGINT) AS n_buckets,
         |  CAST(coalesce(sum(nd), 0) AS BIGINT) AS n_docs,
         |  CAST(coalesce(sum(cost), 0) AS BIGINT) AS total_cost,
         |  CAST(min(bucket) AS BIGINT) AS cutoff_bucket,
         |  CAST(50000 - coalesce(sum(cost), 0) AS BIGINT) AS budget_left
         |FROM c WHERE cum <= 50000""".stripMargin,

    "q_readability" ->
      """WITH d AS (
        |  SELECT source,
        |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> len(x) > 0)) AS BIGINT) AS words,
        |    greatest(CAST(1 AS BIGINT),
        |      CAST(len(list_filter(regexp_split_to_array(text, '[.!?]+'),
        |        x -> trim(x) <> '')) AS BIGINT)) AS sents,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |      AS BIGINT) AS syls
        |  FROM documents
        |),
        |f AS (
        |  SELECT source, words, syls,
        |    CAST(round(206.835 - 1.015 * (CAST(words AS DOUBLE) / sents)
        |      - 84.6 * (CAST(syls AS DOUBLE) / words), 4)
        |      AS DECIMAL(18,4)) AS flesch
        |  FROM d WHERE words > 0
        |)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(words) AS BIGINT) AS total_words,
        |  CAST(sum(syls) AS BIGINT) AS total_syls,
        |  round(CAST(sum(flesch) AS DOUBLE) / count(*), 6) AS avg_flesch
        |FROM f GROUP BY source ORDER BY source""".stripMargin,

    "q_mix_sources" -> {
      val wVals = MixWeights.map { case (l, w) => s"('$l', $w)" }.mkString(", ")
      s"""WITH d AS (
         |  SELECT doc_id, lang, n_chars,
         |         md5('mix:' || CAST(doc_id AS VARCHAR)) AS hx
         |  FROM documents
         |),
         |w(lang, w) AS (VALUES $wVals),
         |counts AS (SELECT lang, count(*) AS n FROM d GROUP BY lang),
         |u AS (SELECT min(n // w) AS u FROM counts JOIN w USING (lang)),
         |r AS (SELECT d.*,
         |        row_number() OVER (PARTITION BY lang ORDER BY hx, doc_id) AS rk
         |      FROM d),
         |kept AS (
         |  SELECT r.* FROM r JOIN w USING (lang) CROSS JOIN u
         |  WHERE r.rk <= w.w * u.u
         |)
         |SELECT counts.lang, counts.n,
         |       count(*) AS n_kept,
         |       CAST(sum(kept.n_chars) AS BIGINT) AS kept_chars,
         |       min(kept.doc_id) AS first_kept
         |FROM kept JOIN counts USING (lang)
         |GROUP BY counts.lang, counts.n ORDER BY counts.lang""".stripMargin
    },

    "q_vocab_oov" ->
      s"""WITH $ToksSql,
         |vocab AS (
         |  SELECT word FROM toks GROUP BY word
         |  ORDER BY count(*) DESC, word LIMIT $VocabSize
         |),
         |per AS (
         |  SELECT doc_id, count(*) AS n_toks,
         |    sum(CASE WHEN word IN (SELECT word FROM vocab) THEN 0 ELSE 1 END) AS n_oov
         |  FROM toks GROUP BY doc_id
         |)
         |SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks,
         |  CAST(n_oov AS BIGINT) AS n_oov,
         |  round(n_oov / n_toks, 4) AS oov_rate
         |FROM per ORDER BY doc_id""".stripMargin,

    "q_repetition" ->
      s"""WITH $ToksSql,
         |wc AS (SELECT doc_id, word, count(*) AS n FROM toks GROUP BY doc_id, word)
         |SELECT doc_id,
         |  CAST(sum(n) AS BIGINT) AS n_tok,
         |  count(*) AS n_distinct,
         |  CAST(max(n) AS BIGINT) AS top_n,
         |  round(1.0 - CAST(count(*) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 4) AS dup_frac,
         |  round(CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 4) AS top_frac
         |FROM wc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_chunk_overlap" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT) AS n_tok
        |  FROM documents
        |),
        |c AS (
        |  SELECT doc_id, n_tok,
        |    CASE WHEN n_tok <= 32 THEN CAST(1 AS BIGINT)
        |         ELSE 1 + CAST(floor((n_tok - 32 + 23) / 24.0) AS BIGINT) END AS n_chunks
        |  FROM t
        |),
        |x AS (SELECT doc_id, n_tok, unnest(generate_series(1, n_chunks)) AS chunk_id FROM c)
        |SELECT doc_id, n_tok, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(1 + (chunk_id - 1) * 24 AS BIGINT) AS chunk_start,
        |  CAST(least(n_tok - (1 + (chunk_id - 1) * 24) + 1, 32) AS BIGINT) AS chunk_len
        |FROM x ORDER BY doc_id, chunk_id""".stripMargin,

    "q_corr" ->
      s"""WITH v AS (
         |  SELECT label,
         |    ${quantSqlElem("embedding[1]")} AS x,
         |    ${quantSqlElem("embedding[2]")} AS y
         |  FROM embeddings
         |),
         |a AS (
         |  SELECT label, count(*) AS n,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x*y) AS BIGINT) AS sxy,
         |    CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(y*y) AS BIGINT) AS syy
         |  FROM v GROUP BY label
         |)
         |SELECT label, n,
         |  round((CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy) /
         |   sqrt((CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx) *
         |        (CAST(n AS DOUBLE)*syy - CAST(sy AS DOUBLE)*sy)), 6) AS corr
         |FROM a ORDER BY label""".stripMargin,

    "q_array_hof" ->
      s"""WITH qv AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> ${quantSqlElem("x")}) AS q
         |  FROM embeddings
         |)
         |SELECT vec_id,
         |  CAST(len(list_filter(q, x -> x > 0)) AS BIGINT) AS n_pos,
         |  len(list_filter(q, x -> x >= 900)) > 0 AS has_big,
         |  CAST(list_aggregate(list_transform(q, x -> abs(x)), 'sum') AS BIGINT) AS l1,
         |  CAST(list_max(q) AS BIGINT) AS qmax,
         |  CAST(list_min(q) AS BIGINT) AS qmin
         |FROM qv ORDER BY vec_id""".stripMargin,

    "q_lm_score" ->
      s"""WITH $LmScoreCtes
         |SELECT doc_id, n_bigrams, nll FROM scores ORDER BY doc_id""".stripMargin,

    "q_filter_perplexity" ->
      // NOT quantile_cont: its lo + f·(hi−lo) spelling differs from the
      // engine's (1−f)·lo + f·hi by an ulp, which flips round(…,4) at an
      // exact .00005 boundary (observed on this corpus). The oracle
      // replays the selection formula verbatim in double arithmetic —
      // bit-identical IEEE on both engines.
      s"""WITH $LmScoreCtes,
         |ranked AS (SELECT nll, row_number() OVER (ORDER BY nll) AS rk FROM scores),
         |tp AS (
         |  SELECT CAST(floor(r) AS BIGINT) + 1 AS lo,
         |         least(CAST(floor(r) AS BIGINT) + 2, n) AS hi,
         |         r - floor(r) AS f
         |  FROM (SELECT CAST(0.75 AS DOUBLE) * (count(*) - 1) AS r,
         |               count(*) AS n FROM scores)
         |),
         |thr AS (
         |  SELECT CASE WHEN t.f = 0 THEN lo.nll
         |              ELSE (CAST(1.0 AS DOUBLE) - t.f) * lo.nll + t.f * hi.nll
         |         END AS thr
         |  FROM tp t JOIN ranked lo ON lo.rk = t.lo JOIN ranked hi ON hi.rk = t.hi
         |)
         |SELECT count(*) AS n_kept,
         |       CAST(sum(n_bigrams) AS BIGINT) AS kept_bigrams,
         |       min(doc_id) AS min_id, max(doc_id) AS max_id
         |FROM scores CROSS JOIN thr WHERE nll <= thr.thr + 1e-9""".stripMargin,

    "q_token_budget" ->
      s"""WITH ${Reference.ToksSql},
         |counts AS (
         |  SELECT source, count(*) AS c
         |  FROM toks JOIN documents USING (doc_id) GROUP BY 1
         |),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS ctot FROM counts),
         |q AS (
         |  SELECT source, c,
         |    (1000000 * c) // ctot AS base,
         |    (1000000 * c) % ctot AS rem
         |  FROM counts CROSS JOIN tot
         |),
         |x AS (SELECT CAST(1000000 - sum(base) AS BIGINT) AS extra FROM q)
         |SELECT source, CAST(c AS BIGINT) AS tokens,
         |  CAST(base + CASE WHEN row_number()
         |      OVER (ORDER BY rem DESC, source) <= extra
         |    THEN 1 ELSE 0 END AS BIGINT) AS quota
         |FROM q CROSS JOIN x
         |ORDER BY source""".stripMargin,

    "q_lm_kn" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, str_split(text, ' ') AS a FROM documents
         |),
         |bg AS (
         |  SELECT doc_id, source,
         |    a[CAST(i AS INT)] AS v, a[CAST(i AS INT) + 1] AS w
         |  FROM (SELECT doc_id, source, a,
         |          unnest(generate_series(1, len(a) - 1)) AS i
         |        FROM t WHERE len(a) >= 2)
         |),
         |train AS (SELECT * FROM bg WHERE $hashBucketSql < 80),
         |test AS (SELECT * FROM bg WHERE $hashBucketSql >= 80),
         |cvw AS (SELECT v, w, count(*) AS c FROM train GROUP BY 1, 2),
         |cv AS (SELECT v, CAST(sum(c) AS BIGINT) AS cv, count(*) AS n1f
         |       FROM cvw GROUP BY 1),
         |nb1 AS (SELECT w, count(*) AS n1b FROM cvw GROUP BY 1),
         |tot AS (SELECT (SELECT count(*) FROM cvw) AS nb,
         |  (SELECT count(DISTINCT tk) FROM
         |     (SELECT v AS tk FROM train UNION ALL SELECT w FROM train)) AS vv),
         |j AS (
         |  SELECT te.source, te.doc_id,
         |    COALESCE(cvw.c, 0) AS c, COALESCE(cv.cv, 0) AS cv,
         |    COALESCE(cv.n1f, 0) AS n1f, COALESCE(nb1.n1b, 0) AS n1b, nb, vv
         |  FROM test te
         |  LEFT JOIN cvw ON te.v = cvw.v AND te.w = cvw.w
         |  LEFT JOIN cv ON te.v = cv.v
         |  LEFT JOIN nb1 ON te.w = nb1.w
         |  CROSS JOIN tot
         |),
         |sc AS (
         |  SELECT source, doc_id,
         |    round(ln(CAST(CASE WHEN cv > 0 AND c > 0
         |                       THEN (4*c - 3)*nb + 3*n1f*n1b
         |                       WHEN cv > 0 THEN 3*n1f*n1b + 1
         |                       ELSE n1b + 1 END AS DOUBLE)), 8)
         |    - round(ln(CAST(CASE WHEN cv > 0 THEN 4*cv*nb
         |                         ELSE nb + vv END AS DOUBLE)), 8) AS lp
         |  FROM j
         |)
         |SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  count(*) AS n_bigrams,
         |  round(-CAST(sum(CAST(lp AS DECIMAL(18,8))) AS DOUBLE)
         |        / count(*), 6) AS avg_nll
         |FROM sc GROUP BY 1 ORDER BY source""".stripMargin,

    "q_contamination" ->
      s"""WITH s8 AS (
         |  SELECT DISTINCT doc_id, substr(text, i, $K) AS sh
         |  FROM (SELECT doc_id, text,
         |               unnest(generate_series(1, length(text) - ${K - 1}, $Stride)) AS i
         |        FROM documents WHERE length(text) >= $K)
         |),
         |bench AS (SELECT DISTINCT sh FROM s8 WHERE doc_id % 97 = 0)
         |SELECT s8.doc_id, count(*) AS n_sh,
         |  CAST(sum(CASE WHEN bench.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |  round(CAST(sum(CASE WHEN bench.sh IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |        / count(*), 4) AS frac
         |FROM s8 LEFT JOIN bench ON s8.sh = bench.sh
         |WHERE s8.doc_id % 97 <> 0
         |GROUP BY s8.doc_id ORDER BY s8.doc_id""".stripMargin,

    "q_char_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, unnest(split(text, '')) AS c
        |  FROM documents WHERE length(text) > 0
        |),
        |cnt AS (SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY doc_id, c),
        |tot AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS total
        |        FROM cnt GROUP BY doc_id),
        |t AS (
        |  SELECT cnt.doc_id,
        |    CAST((CAST(cnt AS DOUBLE)/total)
        |         * round(ln(CAST(cnt AS DOUBLE)/total), 8)
        |         AS DECIMAL(28,10)) AS term
        |  FROM cnt JOIN tot ON cnt.doc_id = tot.doc_id
        |)
        |SELECT doc_id, round(-CAST(sum(term) AS DOUBLE), 4) AS entropy,
        |  count(*) AS n_classes
        |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_len_histogram" ->
      """SELECT CAST(floor(n_chars / 100.0) AS BIGINT) AS bucket,
        |  count(*) AS n, min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q_sample_hash" ->
      s"""SELECT doc_id, lang, source, n_chars FROM documents
         |WHERE $hashBucketSql < 10 ORDER BY doc_id""".stripMargin,

    "q_sample_per_key" ->
      """WITH r AS (
        |  SELECT lang, doc_id,
        |    md5('smp-' || CAST(doc_id AS VARCHAR)) AS r
        |  FROM documents
        |),
        |k AS (SELECT lang, doc_id,
        |        row_number() OVER (PARTITION BY lang ORDER BY r) AS rn
        |      FROM r)
        |SELECT lang, doc_id FROM k WHERE rn <= 5
        |ORDER BY lang, doc_id""".stripMargin,

    "q_sample_pps" ->
      s"""WITH t AS (
         |  SELECT doc_id, n_chars,
         |    ${hex2longSql("md5(CAST(doc_id AS VARCHAR))", 1)} AS bucket
         |  FROM documents
         |),
         |w AS (SELECT CAST(sum(n_chars) AS BIGINT) AS W FROM documents)
         |SELECT doc_id, n_chars,
         |  round(least(CAST(1 AS DOUBLE), ($PpsK * n_chars) / W), 6) AS p
         |FROM t, w
         |WHERE bucket * W < $PpsK * n_chars * 4294967296
         |ORDER BY doc_id""".stripMargin,

    "q_split_train" ->
      s"""WITH b AS (SELECT doc_id, n_chars, $hashBucketSql AS bucket
         |           FROM documents),
         |s AS (SELECT doc_id, n_chars,
         |        CASE WHEN bucket < 80 THEN 'train'
         |             WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
         |      FROM b)
         |SELECT split, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  min(doc_id) AS min_id
         |FROM s GROUP BY split ORDER BY split""".stripMargin,

    "q_scrub_pii" ->
      s"""WITH a AS (
         |  SELECT doc_id,
         |    text || ' contact user' || CAST(doc_id AS VARCHAR)
         |      || '@example.com or https://ex.com/u/' || CAST(doc_id AS VARCHAR)
         |      || ' ref ' || CAST(doc_id*1000000 + 424242 AS VARCHAR) AS aug
         |  FROM documents
         |)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(aug, '$EmailRe')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(aug, '$UrlRe')) AS BIGINT) AS n_url,
         |  regexp_replace(regexp_replace(regexp_replace(aug,
         |    '$UrlRe', '<URL>', 'g'),
         |    '$EmailRe', '<EMAIL>', 'g'),
         |    '$DigitsRe', '<NUM>', 'g') AS clean
         |FROM a ORDER BY doc_id""".stripMargin,

    "q_pack_sequences" ->
      s"""WITH d AS (
         |  SELECT doc_id, lang,
         |    CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT) AS n_tok
         |  FROM documents
         |),
         |c AS (
         |  SELECT doc_id, lang, n_tok,
         |    CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM d
         |),
         |b AS (SELECT lang, doc_id, n_tok,
         |        CAST(floor((cum - n_tok) / $PackBudget.0) AS BIGINT) AS bin
         |      FROM c)
         |SELECT lang, bin, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tok,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM b GROUP BY lang, bin ORDER BY lang, bin""".stripMargin,

    "q_bin_equidepth" ->
      s"""WITH $ToksSql,
         |dl AS (SELECT doc_id, count(*) AS n_tok FROM toks GROUP BY doc_id),
         |r AS (SELECT n_tok,
         |        row_number() OVER (ORDER BY n_tok, doc_id) AS rk,
         |        count(*) OVER () AS n
         |      FROM dl)
         |SELECT CAST((rk - 1) * 10 // n AS BIGINT) AS bin,
         |  count(*) AS n_docs, min(n_tok) AS lo, max(n_tok) AS hi,
         |  CAST(sum(n_tok) AS BIGINT) AS sum_tok
         |FROM r GROUP BY 1 ORDER BY bin""".stripMargin,

    "q_bpe_merges" ->
      s"""WITH $ToksSql,
         |wc0 AS (
         |  SELECT word, count(*) AS cnt,
         |    ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS seq
         |  FROM toks GROUP BY word
         |),
         |p1 AS (
         |  SELECT syms[i] AS l, syms[i + 1] AS r, CAST(sum(cnt) AS BIGINT) AS w
         |  FROM (SELECT cnt, string_split(trim(seq), ' ') AS syms FROM wc0),
         |       unnest(generate_series(1, len(syms) - 1)) AS t(i)
         |  WHERE len(syms) >= 2 GROUP BY 1, 2
         |),
         |t1 AS (SELECT l, r, w FROM p1 ORDER BY w DESC, l, r LIMIT 1),
         |wc1 AS (
         |  SELECT word, cnt,
         |    replace(seq, ' ' || l || ' ' || r || ' ', ' ' || l || r || ' ') AS seq
         |  FROM wc0 CROSS JOIN t1
         |),
         |p2 AS (
         |  SELECT syms[i] AS l, syms[i + 1] AS r, CAST(sum(cnt) AS BIGINT) AS w
         |  FROM (SELECT cnt, string_split(trim(seq), ' ') AS syms FROM wc1),
         |       unnest(generate_series(1, len(syms) - 1)) AS t(i)
         |  WHERE len(syms) >= 2 GROUP BY 1, 2
         |),
         |t2 AS (SELECT l, r, w FROM p2 ORDER BY w DESC, l, r LIMIT 1),
         |wc2 AS (
         |  SELECT word, cnt,
         |    replace(seq, ' ' || l || ' ' || r || ' ', ' ' || l || r || ' ') AS seq
         |  FROM wc1 CROSS JOIN t2
         |),
         |p3 AS (
         |  SELECT syms[i] AS l, syms[i + 1] AS r, CAST(sum(cnt) AS BIGINT) AS w
         |  FROM (SELECT cnt, string_split(trim(seq), ' ') AS syms FROM wc2),
         |       unnest(generate_series(1, len(syms) - 1)) AS t(i)
         |  WHERE len(syms) >= 2 GROUP BY 1, 2
         |),
         |t3 AS (SELECT l, r, w FROM p3 ORDER BY w DESC, l, r LIMIT 1)
         |SELECT CAST(1 AS BIGINT) AS step, l, r, w FROM t1
         |UNION ALL SELECT CAST(2 AS BIGINT), l, r, w FROM t2
         |UNION ALL SELECT CAST(3 AS BIGINT), l, r, w FROM t3
         |ORDER BY step""".stripMargin,

    "q_bpe_apply" ->
      s"""WITH $ToksSql,
         |wc0 AS (
         |  SELECT word, count(*) AS cnt,
         |    ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS seq
         |  FROM toks GROUP BY word
         |),
         |p1 AS (
         |  SELECT syms[i] AS l, syms[i + 1] AS r, CAST(sum(cnt) AS BIGINT) AS w
         |  FROM (SELECT cnt, string_split(trim(seq), ' ') AS syms FROM wc0),
         |       unnest(generate_series(1, len(syms) - 1)) AS t(i)
         |  WHERE len(syms) >= 2 GROUP BY 1, 2
         |),
         |t1 AS (SELECT l, r, w FROM p1 ORDER BY w DESC, l, r LIMIT 1),
         |wc1 AS (
         |  SELECT word, cnt,
         |    replace(seq, ' ' || l || ' ' || r || ' ', ' ' || l || r || ' ') AS seq
         |  FROM wc0 CROSS JOIN t1
         |),
         |p2 AS (
         |  SELECT syms[i] AS l, syms[i + 1] AS r, CAST(sum(cnt) AS BIGINT) AS w
         |  FROM (SELECT cnt, string_split(trim(seq), ' ') AS syms FROM wc1),
         |       unnest(generate_series(1, len(syms) - 1)) AS t(i)
         |  WHERE len(syms) >= 2 GROUP BY 1, 2
         |),
         |t2 AS (SELECT l, r, w FROM p2 ORDER BY w DESC, l, r LIMIT 1),
         |wc2 AS (
         |  SELECT word, cnt,
         |    replace(seq, ' ' || l || ' ' || r || ' ', ' ' || l || r || ' ') AS seq
         |  FROM wc1 CROSS JOIN t2
         |),
         |p3 AS (
         |  SELECT syms[i] AS l, syms[i + 1] AS r, CAST(sum(cnt) AS BIGINT) AS w
         |  FROM (SELECT cnt, string_split(trim(seq), ' ') AS syms FROM wc2),
         |       unnest(generate_series(1, len(syms) - 1)) AS t(i)
         |  WHERE len(syms) >= 2 GROUP BY 1, 2
         |),
         |t3 AS (SELECT l, r, w FROM p3 ORDER BY w DESC, l, r LIMIT 1),
         |wc3 AS (
         |  SELECT word, cnt,
         |    replace(seq, ' ' || l || ' ' || r || ' ', ' ' || l || r || ' ') AS seq
         |  FROM wc2 CROSS JOIN t3
         |)
         |SELECT word, cnt,
         |  CAST(len(string_split(trim(seq), ' ')) AS BIGINT) AS n_sym
         |FROM wc3 ORDER BY word""".stripMargin,

    "q_shuffle_shards" ->
      s"""WITH d AS (
         |  SELECT doc_id, ($hashBucketSql) % 8 AS shard,
         |    md5('ord' || CAST(doc_id AS VARCHAR)) AS h
         |  FROM documents
         |)
         |SELECT doc_id, shard,
         |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
         |    AS BIGINT) AS pos
         |FROM d ORDER BY shard, pos""".stripMargin,

    "q_ngram_topk" ->
      s"""WITH $BigramCountsSql,
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY w1 ORDER BY cnt DESC, w2) AS rn
         |  FROM c
         |)
         |SELECT w1, w2, cnt FROM r WHERE rn <= $NgramK
         |ORDER BY w1, w2""".stripMargin,

    "q_pmi" ->
      s"""WITH $BigramCountsSql,
         |lm AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS c1 FROM c GROUP BY 1),
         |rm AS (SELECT w2, CAST(sum(cnt) AS BIGINT) AS c2 FROM c GROUP BY 1),
         |nn AS (SELECT CAST(sum(cnt) AS BIGINT) AS nb FROM c)
         |SELECT c.w1, c.w2, c.cnt,
         |  round(ln(CAST(nb AS DOUBLE) * CAST(cnt AS DOUBLE) / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))), 6) AS pmi
         |FROM c
         |JOIN lm ON c.w1 = lm.w1
         |JOIN rm ON c.w2 = rm.w2
         |CROSS JOIN nn
         |WHERE c.cnt >= $PmiMinCount
         |ORDER BY c.w1, c.w2""".stripMargin
  )
}
