package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Ckpt._

/** Wave-40 additions — multi-probe ANN, full k-core decomposition, and
  * the MapState streaming sink:
  *
  *  - q_ann_multiprobe: multi-probe LSH (Lv et al. '07) — each query
  *    probes its own 8-bit hyperplane bucket PLUS the 8 one-bit-flip
  *    buckets, and the query measures what the probes buy: recall@5 vs
  *    the exact brute-force truth for single-probe vs multi-probe, per
  *    query and macro-averaged. The standard recall/cost knob a vector
  *    store exposes; candidates stay bucket-bounded (9 buckets ≈ 9/256
  *    of the corpus for uniform buckets) while the exact side is
  *    queries×corpus (constant query set — corpus-linear).
  *  - q_coreness: FULL k-core decomposition (every vertex's core number,
  *    not q_kcore's fixed-k core) by the Montresor-De Pellegrini-Miorandi
  *    distributed h-index fixpoint: c₀ = degree; c_{k+1}(v) = min(c_k(v),
  *    H(neighbors' c_k)) where H is the h-index — monotone nonincreasing
  *    and convergent to the exact coreness. The Spark loop early-exits on
  *    convergence (measured: 5 rounds at sf0.1, 10 at sf0.01, 21 at
  *    sf0.001 — the h-index wave travels degeneracy-ordering chains
  *    1-hop per round, so the count is structure- not size-driven); the
  *    oracle unrolls a generous 40 rounds — converged rounds are no-ops,
  *    so the unroll length can't change the value — and BOTH engines are
  *    convergence-guarded (Spark require, oracle error() CTE).
  *  - q_stream_typecount_sink: per-(user, event_type) running counts on
  *    MapState ([[graft.streaming.StreamOps.typeCounts]]) as a real
  *    AvailableNow job — the 6th oracle-gated streaming query, extending
  *    the transformWithState tour (ValueState = dedup, ListState =
  *    recent-K, MapState = here) end-to-end through a sink.
  *
  * Determinism: h-index is pure integer algebra over a tie-invariant
  * window (max(least(rn, c)) is the same for any descending order);
  * recalls are integer hit counts over exact-integer-cosine ranks;
  * stream counts are integers. */
object Wave40 extends Catalog {

  private val ProbeK = 5
  private val CorenessRounds = 40

  /** The q_mis/q_kcore part co-occurrence projection (support ≥ 2,
    * baskets ≤ 64 — pair volume bounded at C(64,2) per order); shared
    * with the wave-41 structure audits. */
  private[queries] def partEdges(s: SparkSession, dir: String): DataFrame = {
    val b0 = table(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val small = b0.groupBy("ok").agg(count(lit(1)).as("bsz"))
      .where(col("bsz") <= 64).select("ok")
    val bb = b0.join(small, "ok")
    bb.select(col("ok"), col("pk").as("u"))
      .join(bb.select(col("ok"), col("pk").as("v")), "ok")
      .where(col("u") < col("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("support"))
      .where(col("support") >= 2L)
      .selectExpr("CAST(u AS BIGINT) AS u", "CAST(v AS BIGINT) AS v")
  }

  /** Full k-core decomposition by synchronous h-index iteration (Lü et
    * al. '16): c₀ = degree; per round every vertex lowers c to the
    * h-index of its neighbors' values; the fixpoint is exactly the core
    * number. Per round: ONE neighbor join + a per-vertex window (local
    * O(deg log deg) sort — max degree bounded by the basket cap) + the
    * min update; state is one (v, c) row per vertex.
    *
    * ROUND CONTRACT (GraphScaleSpec): the iteration converges in rounds =
    * the graph's value-unraveling depth, which for hub-dominated /
    * clique-ish corpora is small (pendant fringes collapse in ONE
    * simultaneous round), but an adversarial PATH hanging off a core
    * unravels one vertex per round from each end — a 10⁴-link chain needs
    * ~5·10³ rounds, which NO synchronous exact-coreness algorithm beats
    * (the decay is a genuine data dependency, not a plan artifact). The
    * operator therefore fails LOUDLY via `require` at `maxRounds` instead
    * of returning a silently-wrong partial decomposition; callers that
    * expect chain-shaped graphs belong at the fixed-k [[graft.operators.KCore]]
    * membership test or the peeling LADDER (q_densest_subgraph), both of
    * which bound rounds by construction.
    *
    * @return coreness histogram (coreness, n_vertices, sum_v) — the
    *   sum-of-vertex-ids checksum pins the exact assignment. */
  private[graft] def corenessHistogram(edges: DataFrame,
                                       maxRounds: Int = CorenessRounds): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e0 = edges.ckpt()
    val sym = e0.select(col("u").as("v"), col("v").as("n"))
      .unionByName(e0.select(col("v").as("v"), col("u").as("n")))
      .ckpt()
    var c = sym.groupBy("v").agg(count(lit(1)).cast("long").as("c")).ckpt()
    var round = 0
    var moved = 1L
    while (moved > 0) {
      round += 1
      require(round <= maxRounds,
        s"coreness did not converge in $maxRounds rounds")
      val nb = sym.join(c.select(col("v").as("n"), col("c").as("cn")), "n")
        .select(col("v"), col("cn"))
      val h = nb.withColumn("rn", row_number().over(
          Window.partitionBy("v").orderBy(desc("cn"))).cast("long"))
        .groupBy("v").agg(max(least(col("rn"), col("cn"))).as("h"))
      // the previous value rides through as `co` so convergence is a
      // column compare over the just-materialized blocks
      val nxt = c.join(h, "v")
        .select(col("v"), least(col("c"), col("h")).as("c"),
          col("c").as("co")).ckpt()
      moved = graft.operators.Ckpt.fastCount(
        nxt.where(col("c") =!= col("co")))
      c = nxt.select("v", "c")
    }
    c.groupBy(col("c").as("coreness"))
      .agg(count(lit(1)).as("n_vertices"), sum(col("v")).as("sum_v"))
      .selectExpr("CAST(coreness AS BIGINT) AS coreness",
        "CAST(n_vertices AS BIGINT) AS n_vertices",
        "CAST(sum_v AS BIGINT) AS sum_v")
      .orderBy("coreness")
  }

  val queries: Map[String, Q] = strictMap(

    // MULTI-PROBE LSH: the scored frame is built ONCE over the 9 probed
    // buckets (probe_dist 0 = the query's own bucket — buckets partition
    // vectors, so candidates never duplicate across probes); two windows
    // rank the single-probe subset and the full probe set, the exact
    // brute-force truth ranks the constant query set against the corpus
    // (the q_ann_recall cost contract), and recall@5 is |∩|/5 per channel.
    "q_ann_multiprobe" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val all = LlmOps.quantized(s, dir).where(col("nq") > 0)
        .withColumn("bucket",
          expr(LlmOps.lshBucketSparkExpr("q")).cast("long"))
        .ckpt() // query side + candidate side + exact side
      val qs = all.join(LlmOps.annQueryIds(all), "vec_id")
        .select(col("vec_id").as("q_id"), col("q").as("qq"),
          col("nq").as("na"), col("bucket"))
      val probes = qs.select(col("q_id"),
        explode(expr("transform(sequence(0, 8), " +
          "p -> CASE WHEN p = 0 THEN bucket " +
          "ELSE bucket ^ shiftleft(CAST(1 AS BIGINT), CAST(p AS INT) - 1) END)"))
          .as("bucket"))
      val dot = "ivec_dot(qq, q)"
      val scored = qs.select(col("q_id"), col("qq"), col("na"),
          col("bucket").as("qbucket"))
        .join(probes.select(col("q_id"), col("bucket")), "q_id")
        .join(all.select(col("vec_id").as("cand_id"), col("q"),
          col("nq").as("nb"), col("bucket")), Seq("bucket"))
        .where(col("cand_id") =!= col("q_id"))
        .select(col("q_id"), col("cand_id"),
          (col("bucket") === col("qbucket")).as("own"),
          expr(dot).as("dot"), col("na"), col("nb"))
        .withColumn("cos", expr(LlmOps.CosExpr))
        .ckpt() // both channel windows
      val multi = scored.withColumn("rank", row_number().over(
          Window.partitionBy("q_id").orderBy(desc("cos"), asc("cand_id"))))
        .where(col("rank") <= ProbeK).select("q_id", "cand_id")
      val single = scored.where(col("own"))
        .withColumn("rank", row_number().over(
          Window.partitionBy("q_id").orderBy(desc("cos"), asc("cand_id"))))
        .where(col("rank") <= ProbeK).select("q_id", "cand_id")
      val exact = qs.join(all, col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id").as("cand_id"),
          expr(dot).as("dot"), col("na"), col("nq").as("nb"))
        .withColumn("cos", expr(LlmOps.CosExpr))
        .withColumn("rank", row_number().over(
          Window.partitionBy("q_id").orderBy(desc("cos"), asc("cand_id"))))
        .where(col("rank") <= ProbeK).select("q_id", "cand_id")
        .ckpt() // joined by both channels
      def hits(ch: DataFrame, name: String) = exact
        .groupBy("q_id").agg(count(lit(1)).as("k_exact"))
        .join(exact.join(ch, Seq("q_id", "cand_id"))
          .groupBy("q_id").agg(count(lit(1)).as(name)), Seq("q_id"),
          "left_outer")
        .na.fill(0L, Seq(name))
      val per = hits(single, "hit_single")
        .join(hits(multi, "hit_multi").select("q_id", "hit_multi"), "q_id")
        .selectExpr("q_id", "CAST(k_exact AS BIGINT) AS k_exact",
          "CAST(hit_single AS BIGINT) AS hit_single",
          "CAST(hit_multi AS BIGINT) AS hit_multi",
          "round(CAST(hit_single AS DOUBLE) / k_exact, 4) AS recall_single",
          "round(CAST(hit_multi AS DOUBLE) / k_exact, 4) AS recall_multi")
        .ckpt()
      val mean = per.agg(count(lit(1)).as("m"),
          dsum(col("recall_single"), 4).as("ss"),
          dsum(col("recall_multi"), 4).as("sm"))
        .selectExpr("round(ss / m, 4) AS mean_recall_single",
          "round(sm / m, 4) AS mean_recall_multi")
      per.crossJoin(broadcast(mean)).orderBy("q_id")
    }),

    // CORENESS: one symmetric-edge ckpt feeds every round; per round ONE
    // neighbor join + a per-vertex window (local O(deg log deg) sort —
    // max degree bounded by the basket cap) + the min update. State is
    // one (v, c) row per vertex; rounds are bounded and guarded. Output
    // is the coreness histogram with a sum-of-vertex-ids checksum so the
    // hash pins the exact assignment, not just the counts.
    "q_coreness" -> ((s, dir) =>
      corenessHistogram(partEdges(s, dir))),

    // STREAM MAPSTATE SINK: per-(user, type) cumulative counts emitted in
    // update mode per micro-batch; latest batch per key is the final
    // count, which must equal the batch GROUP BY (the oracle).
    "q_stream_typecount_sink" -> ((s, dir) => {
      import s.implicits._
      val base = s"$TmpRoot/stream_typecount_${new java.io.File(dir).getName}"
      val sch = s.read.parquet(s"$dir/events.parquet").schema
      val src = normalizeTs(s.readStream.schema(sch)
        .option("pathGlobFilter", "events.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(dir))
        .select("event_id", "ts", "user_id", "event_type", "value")
        .as[graft.streaming.Event]
      val pk = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(pk)
      s.conf.set(pk, "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
      try {
        graft.streaming.StreamOps.typeCounts(src).toDF()
          .writeStream
          .option("checkpointLocation", s"$base/ckpt")
          .outputMode("update")
          .foreachBatch { (b: DataFrame, id: Long) =>
            b.withColumn("batch_id", lit(id))
              .write.mode("append").parquet(s"$base/sink")
            ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
          .awaitTermination()
      } finally prev match {
        case Some(v) => s.conf.set(pk, v)
        case None => s.conf.unset(pk)
      }
      s.read.parquet(s"$base/sink")
        .groupBy("user_id", "event_type")
        .agg(expr("max_by(n, batch_id)").as("n"))
        .selectExpr("CAST(user_id AS BIGINT) AS user_id", "event_type",
          "CAST(n AS BIGINT) AS n")
        .orderBy("user_id", "event_type")
    }),
  )

  /** One unrolled h-index round; every CTE MATERIALIZED (multi-reference
    * re-inlining is multiplicative — the q_mis oracle lesson). */
  private def corenessRoundSql(i: Int): String = {
    val p = i - 1
    s"""nb$i AS MATERIALIZED (
       |  SELECT s.v, c.c AS cn FROM sym s JOIN c$p c ON c.v = s.n
       |),
       |h$i AS MATERIALIZED (
       |  SELECT v, max(least(rn, cn)) AS h FROM (
       |    SELECT v, cn,
       |      row_number() OVER (PARTITION BY v ORDER BY cn DESC) AS rn
       |    FROM nb$i) GROUP BY v
       |),
       |c$i AS MATERIALIZED (
       |  SELECT c$p.v, least(c$p.c, h$i.h) AS c
       |  FROM c$p JOIN h$i ON h$i.v = c$p.v
       |)""".stripMargin
  }

  val oracle: Map[String, String] = strictMap(

    "q_ann_multiprobe" ->
      s"""WITH ${LlmOps.QuantizedNormSql},
         |${LlmOps.lshBucketSql},
         |${LlmOps.AnnQidsSql},
         |sel AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding, qn.nq, b.bucket
         |  FROM embeddings e
         |  JOIN qn ON e.vec_id = qn.vec_id
         |  JOIN buckets b ON e.vec_id = b.vec_id
         |  WHERE qn.nq > 0),
         |qv AS MATERIALIZED (
         |  SELECT sel.vec_id AS q_id, embedding AS qe, nq AS na,
         |         bucket AS qbucket
         |  FROM sel JOIN qids ON sel.vec_id = qids.vec_id),
         |probes AS MATERIALIZED (
         |  SELECT q_id, CASE WHEN p = 0 THEN qbucket
         |               ELSE xor(qbucket, CAST(1 << (p - 1) AS BIGINT)) END AS bucket
         |  FROM qv, (SELECT unnest(generate_series(0, 8)) AS p)),
         |cand AS MATERIALIZED (
         |  SELECT q.q_id, s.vec_id AS cand_id, s.bucket = q.qbucket AS own,
         |         q.qe, q.na, s.embedding AS ce, s.nq AS nb
         |  FROM qv q
         |  JOIN probes pr ON pr.q_id = q.q_id
         |  JOIN sel s ON s.bucket = pr.bucket AND s.vec_id <> q.q_id),
         |d AS MATERIALIZED (
         |  SELECT q_id, cand_id, own, na, nb,
         |    CAST(sum(${LlmOps.quantSqlElem("qe[i]")} *
         |             ${LlmOps.quantSqlElem("ce[i]")}) AS BIGINT) AS dot
         |  FROM (SELECT cand.*, unnest(generate_series(1, len(qe))) AS i
         |        FROM cand)
         |  GROUP BY q_id, cand_id, own, na, nb),
         |multi AS MATERIALIZED (
         |  SELECT q_id, cand_id FROM (
         |    SELECT q_id, cand_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY ${LlmOps.CosExpr} DESC, cand_id) AS rank
         |    FROM d) WHERE rank <= $ProbeK),
         |single AS MATERIALIZED (
         |  SELECT q_id, cand_id FROM (
         |    SELECT q_id, cand_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY ${LlmOps.CosExpr} DESC, cand_id) AS rank
         |    FROM d WHERE own) WHERE rank <= $ProbeK),
         |ed AS MATERIALIZED (
         |  SELECT q_id, cand_id, na, nb,
         |    CAST(sum(${LlmOps.quantSqlElem("qe[i]")} *
         |             ${LlmOps.quantSqlElem("ce[i]")}) AS BIGINT) AS dot
         |  FROM (SELECT q.q_id, s.vec_id AS cand_id, q.na, s.nq AS nb,
         |               q.qe, s.embedding AS ce,
         |               unnest(generate_series(1, len(q.qe))) AS i
         |        FROM qv q JOIN sel s ON s.vec_id <> q.q_id)
         |  GROUP BY q_id, cand_id, na, nb),
         |exact AS MATERIALIZED (
         |  SELECT q_id, cand_id FROM (
         |    SELECT q_id, cand_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY ${LlmOps.CosExpr} DESC, cand_id) AS rank
         |    FROM ed) WHERE rank <= $ProbeK),
         |per AS MATERIALIZED (
         |  SELECT e.q_id, count(*) AS k_exact,
         |    count(s.cand_id) AS hit_single, count(m.cand_id) AS hit_multi
         |  FROM exact e
         |  LEFT JOIN single s ON s.q_id = e.q_id AND s.cand_id = e.cand_id
         |  LEFT JOIN multi m ON m.q_id = e.q_id AND m.cand_id = e.cand_id
         |  GROUP BY e.q_id),
         |mean AS MATERIALIZED (
         |  SELECT round(${dsumSql("round(CAST(hit_single AS DOUBLE) / k_exact, 4)", 4)}
         |           / count(*), 4) AS mean_recall_single,
         |         round(${dsumSql("round(CAST(hit_multi AS DOUBLE) / k_exact, 4)", 4)}
         |           / count(*), 4) AS mean_recall_multi
         |  FROM per)
         |SELECT q_id, CAST(k_exact AS BIGINT) AS k_exact,
         |  CAST(hit_single AS BIGINT) AS hit_single,
         |  CAST(hit_multi AS BIGINT) AS hit_multi,
         |  round(CAST(hit_single AS DOUBLE) / k_exact, 4) AS recall_single,
         |  round(CAST(hit_multi AS DOUBLE) / k_exact, 4) AS recall_multi,
         |  mean_recall_single, mean_recall_multi
         |FROM per CROSS JOIN mean ORDER BY q_id""".stripMargin,

    "q_coreness" -> {
      val rounds = (1 to CorenessRounds).map(corenessRoundSql).mkString(",\n")
      val last = s"c$CorenessRounds"
      val prev = s"c${CorenessRounds - 1}"
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
         |sym AS MATERIALIZED (
         |  SELECT u AS v, v AS n FROM e0 UNION ALL SELECT v, u FROM e0),
         |c0 AS MATERIALIZED (
         |  SELECT v, CAST(count(*) AS BIGINT) AS c FROM sym GROUP BY v),
         |$rounds,
         |cg AS MATERIALIZED (
         |  SELECT v, CASE WHEN (
         |      SELECT count(*) FROM $last a JOIN $prev b
         |      ON a.v = b.v AND a.c <> b.c) > 0
         |    THEN CAST(error('graft oracle: coreness under-converged after $CorenessRounds rounds') AS BIGINT)
         |    ELSE c END AS c
         |  FROM $last)
         |SELECT CAST(c AS BIGINT) AS coreness,
         |  CAST(count(*) AS BIGINT) AS n_vertices,
         |  CAST(sum(v) AS BIGINT) AS sum_v
         |FROM cg GROUP BY c ORDER BY coreness""".stripMargin
    },

    // the MapState final counts must equal the batch GROUP BY — the
    // oracle never sees a stream
    "q_stream_typecount_sink" ->
      """SELECT CAST(user_id AS BIGINT) AS user_id, event_type,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2 ORDER BY user_id, event_type""".stripMargin,
  )
}
