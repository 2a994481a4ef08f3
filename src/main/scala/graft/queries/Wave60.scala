package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.Ckpt._

/** Wave-60 additions — link prediction, attenuated centrality, template
  * mining, content-defined-chunking dedup, and a third LM smoothing
  * family:
  *
  *  - q_adamic_adar: Adamic-Adar link prediction over the part
  *    co-occurrence graph — for every NON-edge pair with ≥1 common
  *    neighbor, score = Σ_z 1/ln(deg z). The "which products will
  *    co-occur next" / "which docs will cross-reference" primitive.
  *    Wedge fan-out is Σ C(deg, 2), bounded by the basket cap exactly
  *    like q_wedge_census; top-20 by (score, pair) is a
  *    TakeOrderedAndProject, never a global sort.
  *  - q_katz: Katz centrality (attenuation α = 0.05, 3 unrolled
  *    iterations) on the symmetric co-occurrence adjacency — the
  *    walk-counting cousin of q_pagerank (mass is not normalized by
  *    degree, so hubs compound). Same determinism discipline: each
  *    per-edge contribution is one 8-decimal rounded IEEE term cast to
  *    DECIMAL before the sum; the update is one rounded expression.
  *  - q_template_detect: documents sharing a STRUCTURE skeleton — the
  *    first 8 words mapped to length classes (≤3 S, ≤6 M, else L),
  *    joined with '-' — the boilerplate-template miner that catches
  *    "same form opener, different words" which exact dedup misses and
  *    MinHash only catches at high shingle overlap. One narrow
  *    projection + one hash groupBy; no joins.
  *  - q_dedup_cdc: content-defined chunking (the rsync/LBFS/backup-dedup
  *    primitive): chunk boundaries wherever the 8-gram hash ≡ 0 mod 32,
  *    so an insertion early in a document only perturbs the chunks
  *    around the edit — positionally-shifted duplicate SPANS still hash
  *    equal, where fixed-window span dedup (q_span_dedup) would misalign.
  *    Per-doc cost is one O(len) hash pass (the honest CDC cost at any
  *    scale); the dedup measure is one chunk-hash aggregation per
  *    source, never a doc×doc join.
  *  - q_lm_interp: Jelinek-Mercer interpolated word-bigram LM
  *    (λ = 0.7) — the third smoothing family beside add-one char-bigram
  *    (q_lm_score) and Kneser-Ney (q_lm_kn). λ·c₁₂/c₁ + (1−λ)·c₂/N
  *    cross-multiplies into ONE integer rational
  *    (7·c₁₂·N + 3·c₂·c₁)/(10·c₁·N), so ln P = round(ln num, 8) −
  *    round(ln den, 8) over BIGINTs — the house ln-of-integer
  *    discipline; no float ever feeds a log. Train/score split and join
  *    shape identical to q_lm_kn (aggregate tables sized by |bigram
  *    types|, 1-row totals broadcast).
  *
  * Determinism: AA scores and Katz sums are decimal-summed 8-decimal
  * terms; template skeletons and CDC chunk hashes are md5-exact; every
  * output ends in a total ORDER BY.
  */
object Wave60 extends Catalog {

  /** Katz attenuation and iteration count (unrolled in both engines). */
  private val KatzAlpha = "0.05"
  private val KatzIters = 3

  /** CDC gram width / boundary modulus (avg chunk ≈ Mod chars). */
  private val CdcW = 8
  private val CdcMod = 32

  /** JM interpolation weight λ = 7/10, spelled as integers. */
  private val JmNum = 7

  val queries: Map[String, Q] = strictMap(

    "q_adamic_adar" -> ((s, dir) => {
      val e = Wave40.partEdges(s, dir).ckpt()
      // Wedge enumeration via neighbor-list collection + the native
      // pair_combos generator (round-12; was a wadj⋈wadj self-join on
      // the center z): ONE shuffle builds each center's sorted neighbor
      // list — deg(z) IS its length, so the separate degree build and
      // its two joins disappear — and the generator streams exactly
      // C(deg,2) value-ordered pairs where the self-join streamed deg²
      // sort-merge outputs before its p < q filter. Wedge volume
      // Σ C(deg,2) is unchanged (bounded by the basket cap exactly like
      // q_wedge_census); only the constant in front of it drops (~4×
      // less join traffic + two shuffles fewer; sf1 39.7 s → see
      // SCALE.md round-12 row).
      val nbrs = e.select(col("u").as("z"), col("v").as("x"))
        .unionAll(e.select(col("v").as("z"), col("u").as("x")))
        .groupBy("z").agg(sort_array(collect_list(col("x"))).as("nb"))
        // deg-1 vertices can never be a COMMON neighbor, and ln(1) = 0
        // would trip the ANSI divide — filter before the weight
        .where(size(col("nb")) >= 2)
        .withColumn("w", expr(
          "CAST(round(1.0 / ln(CAST(size(nb) AS DOUBLE)), 8) AS DECIMAL(18,8))"))
      val pairs = nbrs
        .selectExpr("w", "pair_combos(nb) AS (p, q)")
        .groupBy("p", "q")
        .agg(count(lit(1)).as("n_common"), dsum(col("w"), 8).as("sw"))
      pairs
        .join(e, col("p") === col("u") && col("q") === col("v"), "left_anti")
        .selectExpr("CAST(p AS BIGINT) AS u", "CAST(q AS BIGINT) AS v",
          "CAST(n_common AS BIGINT) AS n_common",
          "round(sw, 6) AS aa")
        .orderBy(desc("aa"), asc("u"), asc("v")).limit(20)
    }),

    "q_katz" -> ((s, dir) => {
      val e = Wave40.partEdges(s, dir).ckpt()
      val adj = e.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(e.select(col("v").as("src"), col("u").as("dst")))
        .ckpt()
      val verts = adj.select(col("src").as("x")).distinct().ckpt()
      var kx = verts.withColumn("k", lit(1.0))
      // rank frames feed the next step exactly once → fused plan, one
      // final materialization (the PageRank CkptCadence rationale)
      for (_ <- 1 to KatzIters) {
        val contrib = adj.join(kx.withColumnRenamed("x", "src"), "src")
          .select(col("dst"), expr(
            s"CAST(round($KatzAlpha * k, 8) AS DECIMAL(28,10))").as("c"))
          .groupBy("dst").agg(sum(col("c")).as("sc"))
        kx = verts.join(contrib, col("x") === col("dst"), "left_outer")
          .select(col("x"), expr(
            "CAST(round(1.0 + coalesce(CAST(sc AS DOUBLE), 0.0), 8) AS DOUBLE)")
            .as("k"))
      }
      kx.ckpt()
        .selectExpr("CAST(x AS BIGINT) AS v", "round(k, 6) AS katz")
        .orderBy(desc("katz"), asc("v")).limit(20)
    }),

    "q_template_detect" -> ((s, dir) => {
      val skel = table(s, dir, "documents")
        .select(col("doc_id"), col("text"), expr(
          "md5(array_join(transform(slice(split(text, ' '), 1, 8)," +
            " w -> CASE WHEN length(w) <= 3 THEN 'S'" +
            " WHEN length(w) <= 6 THEN 'M' ELSE 'L' END), '-'))").as("skel"))
      skel.groupBy("skel")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("text")).as("n_texts"),
          min(col("doc_id")).as("keep_id"))
        .where(col("n_docs") >= 2)
        .selectExpr("skel", "CAST(n_docs AS BIGINT) AS n_docs",
          "CAST(n_texts AS BIGINT) AS n_texts",
          "CAST(keep_id AS BIGINT) AS keep_id")
        .orderBy("keep_id")
    }),

    "q_dedup_cdc" -> ((s, dir) => {
      val d0 = table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
        .where(length(col("text")) >= 1)
      // cut BEFORE position i when the 8-gram at i hashes ≡ 0 (mod 32);
      // i ∈ [2, len−W+1] so chunks are never empty. The guard len ≥ W+1
      // keeps Spark's sequence() from stepping backward (sequence(2, 1)
      // would emit [2, 1]) — the oracle's generate_series is empty there.
      val cuts = d0.where(length(col("text")) >= CdcW + 1)
        .select(col("doc_id"),
          explode(sequence(lit(2), length(col("text")) - (CdcW - 1))).as("i"),
          col("text"))
        .where(expr(
          s"CAST(conv(substring(md5(substring(text, i, $CdcW)), 1, 8), 16, 10) AS BIGINT) % $CdcMod = 0"))
        .groupBy("doc_id").agg(sort_array(collect_list(col("i"))).as("cs"))
      d0.join(cuts, Seq("doc_id"), "left_outer")
        .withColumn("bs", expr(
          "concat(array(1), coalesce(cs, CAST(array() AS ARRAY<INT>)), " +
            "array(length(text) + 1))"))
        .select(col("doc_id"), col("source"), col("text"),
          explode(expr(
            """transform(sequence(0, size(bs) - 2),
              |  j -> struct(element_at(bs, j + 1) AS st,
              |              element_at(bs, j + 2) - element_at(bs, j + 1) AS ln))"""
              .stripMargin)).as("c"))
        .select(col("source"), col("c.ln").as("ln"),
          md5(expr("substring(text, c.st, c.ln)")).as("h"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_chunks"),
          countDistinct(col("h")).as("n_unique"),
          sum(col("ln")).as("sum_len"))
        .selectExpr("source", "CAST(n_chunks AS BIGINT) AS n_chunks",
          "CAST(n_unique AS BIGINT) AS n_unique",
          "CAST(n_chunks - n_unique AS BIGINT) AS dup_chunks",
          "round(CAST(sum_len AS DOUBLE) / n_chunks, 4) AS mean_len")
        .orderBy("source")
    }),

    "q_lm_interp" -> ((s, dir) => {
      val bg = table(s, dir, "documents")
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("a"))
        .where(expr("size(a) >= 2"))
        .select(col("doc_id"), col("source"),
          explode(expr(
            "transform(sequence(1, size(a) - 1)," +
              " i -> struct(a[i-1] AS v, a[i] AS w))")).as("b"))
        .select(col("doc_id"), col("source"),
          col("b.v").as("v"), col("b.w").as("w"))
      val train = bg.where(expr(HashBucketSpark) < 80)
      val cvw = train.groupBy("v", "w").agg(count(lit(1)).as("c12"))
      val cv = cvw.groupBy("v").agg(sum(col("c12")).as("c1"))
      val cw = train.groupBy("w").agg(count(lit(1)).as("c2"))
      val tot = broadcast(train.agg(count(lit(1)).as("nn")))
      // score only bigrams whose SECOND word is in the train vocabulary
      // (c2 ≥ 1 ⇒ p > 0); an unseen context falls back to the pure
      // unigram term. Both cases are one integer rational.
      bg.where(expr(HashBucketSpark) >= 80)
        .join(cw, Seq("w")) // inner: drops unseen-w2 bigrams, same in SQL
        .join(cvw, Seq("v", "w"), "left_outer")
        .join(cv, Seq("v"), "left_outer")
        .crossJoin(tot)
        .withColumn("c12", coalesce(col("c12"), lit(0L)))
        .withColumn("c1", coalesce(col("c1"), lit(0L)))
        .withColumn("num", expr(
          s"CASE WHEN c1 > 0 THEN $JmNum*c12*nn + ${10 - JmNum}*c2*c1" +
            s" ELSE ${10 - JmNum}*c2 END"))
        .withColumn("den", expr(
          "CASE WHEN c1 > 0 THEN 10*c1*nn ELSE 10*nn END"))
        .withColumn("lp", expr(
          "round(ln(CAST(num AS DOUBLE)), 8) - round(ln(CAST(den AS DOUBLE)), 8)"))
        .groupBy("source")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_bigrams"),
          expr("round(-CAST(sum(CAST(lp AS DECIMAL(18,8))) AS DOUBLE)" +
            " / count(*), 6)").as("avg_nll"))
        .orderBy("source")
    })
  )

  val oracle: Map[String, String] = strictMap(

    "q_adamic_adar" ->
      s"""WITH ${Wave41.CopSql},
         |wadj AS (
         |  SELECT a.z, a.x,
         |    CAST(round(1.0 / ln(CAST(deg.d AS DOUBLE)), 8) AS DECIMAL(18,8)) AS w
         |  FROM (SELECT u AS z, v AS x FROM e
         |        UNION ALL SELECT v AS z, u AS x FROM e) a
         |  JOIN deg ON deg.x = a.z
         |  WHERE deg.d >= 2
         |),
         |pr AS (
         |  SELECT a.x AS p, b.x AS q, count(*) AS n_common,
         |    ${dsumSql("a.w", 8)} AS sw
         |  FROM wadj a JOIN wadj b ON a.z = b.z AND a.x < b.x
         |  GROUP BY 1, 2
         |)
         |SELECT CAST(p AS BIGINT) AS u, CAST(q AS BIGINT) AS v,
         |  CAST(n_common AS BIGINT) AS n_common, round(sw, 6) AS aa
         |FROM pr
         |WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = pr.p AND e.v = pr.q)
         |ORDER BY aa DESC, u, v LIMIT 20""".stripMargin,

    "q_katz" -> {
      val rounds = (1 to KatzIters).map { t =>
        s"""k$t AS MATERIALIZED (
           |  SELECT verts.x,
           |    CAST(round(1.0 + coalesce(CAST(sc.s AS DOUBLE), 0.0), 8) AS DOUBLE) AS k
           |  FROM verts LEFT JOIN (
           |    SELECT adj.dst, sum(CAST(round($KatzAlpha * p.k, 8) AS DECIMAL(28,10))) AS s
           |    FROM adj JOIN k${t - 1} p ON p.x = adj.src GROUP BY adj.dst
           |  ) sc ON sc.dst = verts.x
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${Wave41.CopSql},
         |adj AS MATERIALIZED (
         |  SELECT u AS src, v AS dst FROM e
         |  UNION ALL SELECT v AS src, u AS dst FROM e),
         |verts AS MATERIALIZED (SELECT DISTINCT src AS x FROM adj),
         |k0 AS (SELECT x, CAST(1.0 AS DOUBLE) AS k FROM verts),
         |$rounds
         |SELECT CAST(x AS BIGINT) AS v, round(k, 6) AS katz
         |FROM k$KatzIters ORDER BY katz DESC, v LIMIT 20""".stripMargin
    },

    "q_template_detect" ->
      """SELECT md5(array_to_string(list_transform(string_split(text, ' ')[1:8],
        |         w -> CASE WHEN length(w) <= 3 THEN 'S'
        |              WHEN length(w) <= 6 THEN 'M' ELSE 'L' END), '-')) AS skel,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT text) AS BIGINT) AS n_texts,
        |  CAST(min(doc_id) AS BIGINT) AS keep_id
        |FROM documents
        |GROUP BY 1 HAVING count(*) >= 2
        |ORDER BY keep_id""".stripMargin,

    "q_dedup_cdc" ->
      s"""WITH d0 AS (SELECT doc_id, source, text FROM documents
         |            WHERE length(text) >= 1),
         |cuts AS (
         |  SELECT doc_id, list_sort(list(i)) AS cs
         |  FROM (
         |    SELECT doc_id, text,
         |      unnest(generate_series(2, length(text) - ${CdcW - 1})) AS i
         |    FROM d0 WHERE length(text) >= ${CdcW + 1}
         |  )
         |  WHERE ${hex2longSql(s"md5(substring(text, CAST(i AS INT), $CdcW))", 1)} % $CdcMod = 0
         |  GROUP BY doc_id
         |),
         |bounds AS (
         |  SELECT d0.doc_id, d0.source, d0.text,
         |    list_concat(list_concat([CAST(1 AS BIGINT)],
         |                            coalesce(cs, [])),
         |                [CAST(length(text) + 1 AS BIGINT)]) AS bs
         |  FROM d0 LEFT JOIN cuts USING (doc_id)
         |),
         |ch AS (
         |  SELECT source, bs[j + 1] AS st, bs[j + 2] - bs[j + 1] AS ln,
         |    md5(substring(text, CAST(bs[j + 1] AS INT),
         |                  CAST(bs[j + 2] - bs[j + 1] AS INT))) AS h
         |  FROM bounds, unnest(generate_series(0, len(bs) - 2)) AS t(j)
         |)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(count(DISTINCT h) AS BIGINT) AS n_unique,
         |  CAST(count(*) - count(DISTINCT h) AS BIGINT) AS dup_chunks,
         |  round(CAST(sum(ln) AS DOUBLE) / count(*), 4) AS mean_len
         |FROM ch GROUP BY source ORDER BY source""".stripMargin,

    "q_lm_interp" ->
      s"""WITH toks AS (
         |  SELECT doc_id, source, string_split(text, ' ') AS a FROM documents
         |),
         |bg AS (
         |  SELECT doc_id, source, a[i] AS v, a[i + 1] AS w
         |  FROM toks, unnest(generate_series(1, len(a) - 1)) AS t(i)
         |  WHERE len(a) >= 2
         |),
         |train AS (SELECT * FROM bg WHERE $hashBucketSql < 80),
         |cvw AS (SELECT v, w, count(*) AS c12 FROM train GROUP BY 1, 2),
         |cv AS (SELECT v, CAST(sum(c12) AS BIGINT) AS c1 FROM cvw GROUP BY 1),
         |cw AS (SELECT w, count(*) AS c2 FROM train GROUP BY 1),
         |tot AS (SELECT count(*) AS nn FROM train),
         |sc AS (
         |  SELECT bg.doc_id, bg.source,
         |    coalesce(cvw.c12, 0) AS c12, coalesce(cv.c1, 0) AS c1,
         |    cw.c2 AS c2, tot.nn AS nn
         |  FROM bg
         |  JOIN cw ON cw.w = bg.w
         |  LEFT JOIN cvw ON cvw.v = bg.v AND cvw.w = bg.w
         |  LEFT JOIN cv ON cv.v = bg.v
         |  CROSS JOIN tot
         |  WHERE $hashBucketSql >= 80
         |),
         |lp AS (
         |  SELECT doc_id, source,
         |    round(ln(CAST(CASE WHEN c1 > 0
         |        THEN $JmNum*c12*nn + ${10 - JmNum}*c2*c1
         |        ELSE ${10 - JmNum}*c2 END AS DOUBLE)), 8)
         |    - round(ln(CAST(CASE WHEN c1 > 0 THEN 10*c1*nn
         |        ELSE 10*nn END AS DOUBLE)), 8) AS lp
         |  FROM sc
         |)
         |SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_bigrams,
         |  round(-CAST(sum(CAST(lp AS DECIMAL(18,8))) AS DOUBLE) / count(*), 6)
         |    AS avg_nll
         |FROM lp GROUP BY source ORDER BY source""".stripMargin
  )
}
