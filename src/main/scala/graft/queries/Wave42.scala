package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Ckpt._

/** Wave-42 additions — a parallel core-extraction ladder, the 4-cycle
  * census, and the seventh oracle-gated streaming sink:
  *
  *  - q_densest_subgraph: Bahmani–Kumar–Vassilvitskii parallel greedy
  *    peeling (WWW '12) over the part co-occurrence graph — each round
  *    removes every vertex of degree ≤ 2(1+ε)·|E|/|V| (ε = 0.1) at once,
  *    which provably terminates in O(log |V|) rounds with a
  *    2(1+ε)-approximation of the maximum-density subgraph. The output is
  *    the per-round (|V|, |E|, density) LADDER; the densest row is the
  *    approximation witness. The dense-core extractor behind community
  *    seeds and spam-cluster mining — the peeling view beside q_kcore's
  *    fixed-k core and q_coreness's full decomposition.
  *  - q_square_census: the global 4-cycle (rectangle / "butterfly") census —
  *    distance-2 pairs via the wedge group-by, C4 count = Σ C(cn, 2) / 2
  *    (each square is counted at both diagonals), plus the adjacent-pair
  *    overlap and mean common-neighbor multiplicity. Completes the motif
  *    ladder (q_wedge_census paths/triangles → squares), the signal used
  *    for bipartite-like density and co-citation strength.
  *  - q_stream_session_sink: the timer-driven transformWithState session
  *    processor ([[graft.streaming.StreamOps.sessionizeTws]] — the last
  *    stateful-processor primitive still JVM-spec-only: event-time TIMERS)
  *    run as a real AvailableNow job, append-mode emissions landed in a
  *    parquet sink and read back as a batch table. Sessions close either
  *    inline (a later event > gap away) or by timer when the final
  *    watermark passes end + gap; each user's LAST session stays open (and
  *    unemitted) exactly when end + gap ≥ watermark — the oracle computes
  *    batch gap-sessionization and applies the SAME eviction rule, so the
  *    hash match pins the full emit/evict contract, not just the merge
  *    rule (7th oracle-gated streaming query; q_sessionize is the
  *    unbounded-input batch twin).
  *
  * Determinism: peeling thresholds compare exact integers
  * (10·d·|V| > 22·|E| ⟺ d > 2.2·|E|/|V|) — no float density ever gates a
  * removal; censuses are exact BIGINT motif counts; densities/means are
  * terminal round-6 divisions spelled identically in both engines; the
  * session processor keys state on epoch-MILLIS (ts.getTime), which the
  * oracle mirrors with epoch_ms(ts).
  */
object Wave42 extends Catalog {

  /** Peeling rounds emitted (0 = the input graph). log₁.₁-ish decay: the
    * sf0.01 part graph peels to its dense core well inside 6 rounds; the
    * ladder is defined for exactly PeelRounds+1 rows at any SF (an empty
    * graph keeps emitting 0-rows), so no convergence guard is needed. */
  private[queries] val PeelRounds = 6

  /** Stream-session gap / watermark delay (the StreamOps defaults, pinned
    * here because the oracle's eviction rule depends on both). */
  private val SessionGapMs = 30L * 60 * 1000
  private val SessionDelayMs = 10L * 60 * 1000

  /** One Bahmani peeling round: keep vertices with 10·d·|V| > 22·|E|
    * (ε = 0.1), induce the surviving subgraph. Exact-integer threshold. */
  private def degrees(e: DataFrame): DataFrame =
    e.select(col("u").as("x"))
      .unionAll(e.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("d"))

  /** The (round, n_vertices, n_edges, density) peeling ladder over an
    * undirected canonical (u < v) edge list — factored out so the spec can
    * pin it on planted graphs. Each round is one degree aggregation + two
    * key joins (all shuffle-partitioned, nothing driver-side); rounds are
    * ckpt'd so lineage stays flat. */
  private[graft] def peelLadder(edges: DataFrame, rounds: Int): DataFrame = {
    var e = edges.ckpt()
    val stats = Seq.newBuilder[DataFrame]
    for (r <- 0 to rounds) {
      val d = degrees(e).ckpt()
      val sz = e.agg(count(lit(1)).as("m"))
        .crossJoin(broadcast(d.agg(count(lit(1)).as("n"))))
        .ckpt() // 1 row; reused by the stats ladder and the keep filter
      stats += sz.select(lit(r.toLong).as("round"), col("n"), col("m"))
      if (r < rounds) {
        val keep = d.crossJoin(broadcast(sz))
          .where(col("d") * col("n") * lit(10L) > col("m") * lit(22L))
          .select("x")
        e = e.join(keep.withColumnRenamed("x", "u"), "u")
          .join(keep.withColumnRenamed("x", "v"), "v")
          .select("u", "v").ckpt()
      }
    }
    stats.result().reduce(_ unionAll _)
      .selectExpr("CAST(round AS BIGINT) AS round",
        "CAST(n AS BIGINT) AS n_vertices",
        "CAST(m AS BIGINT) AS n_edges",
        "CASE WHEN n > 0 THEN round(CAST(m AS DOUBLE) / n, 6)" +
          " ELSE CAST(NULL AS DOUBLE) END AS density")
      .orderBy("round")
  }

  /** Global 4-cycle census over an undirected canonical edge list: one
    * wedge self-join grouped by endpoint pair (the q_wedge_census shape),
    * then constant-size aggregates — Σ cn·(cn−1) = 4·#C4 exactly. */
  private[graft] def squareCensus(e0: DataFrame): DataFrame = {
    val e = e0.ckpt()
    val adj = e.select(col("u").as("z"), col("v").as("x"))
      .unionAll(e.select(col("v").as("z"), col("u").as("x")))
    val cn = adj.alias("a").join(adj.alias("b"), Seq("z"))
      .where(col("a.x") < col("b.x"))
      .groupBy(col("a.x").as("u"), col("b.x").as("v"))
      .agg(count(lit(1)).as("cn"))
      .ckpt() // aggregated twice (global census + adjacent overlap)
    val adjPairs = cn.join(e, Seq("u", "v")).agg(count(lit(1)).as("na"))
    cn.agg(count(lit(1)).as("n_pairs"),
        sum(col("cn") * (col("cn") - 1)).as("s4"),
        max("cn").as("mc"), sum("cn").as("sc"))
      .crossJoin(broadcast(adjPairs))
      .selectExpr("CAST(n_pairs AS BIGINT) AS n_pairs",
        "CAST(na AS BIGINT) AS n_adj_pairs",
        "CAST(s4 div 4 AS BIGINT) AS n_squares",
        "CAST(mc AS BIGINT) AS max_cn",
        "CASE WHEN n_pairs > 0 THEN round(CAST(sc AS DOUBLE) / n_pairs, 6)" +
          " ELSE CAST(NULL AS DOUBLE) END AS mean_cn")
  }

  val queries: Map[String, Q] = strictMap(

    // DENSEST SUBGRAPH: O(log V) synchronized peeling rounds, each one
    // degree pass + two joins — never a sequential min-degree peel (the
    // Charikar greedy is inherently serial; Bahmani's batched threshold is
    // the 1000-executor version). The ladder rides the same projection as
    // q_mis/q_rich_club.
    "q_densest_subgraph" -> ((s, dir) =>
      peelLadder(Wave40.partEdges(s, dir), PeelRounds)),

    // SQUARE CENSUS: wedge fan-out is Σ C(deg, 2) — bounded by the basket
    // cap exactly like q_wedge_census; everything after the group-by is
    // constant-size.
    "q_square_census" -> ((s, dir) =>
      squareCensus(Wave40.partEdges(s, dir))),

    // STREAM SESSION SINK: append-mode timer emissions, versioned into a
    // parquet sink per micro-batch; the read-back equals batch gap
    // sessionization minus each user's still-open tail session.
    "q_stream_session_sink" -> ((s, dir) => {
      import s.implicits._
      val base = s"$TmpRoot/stream_session_${new java.io.File(dir).getName}"
      val sch = s.read.parquet(s"$dir/events.parquet").schema
      val src = normalizeTs(s.readStream.schema(sch)
        .option("pathGlobFilter", "events.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(dir))
        .select("event_id", "ts", "user_id", "event_type", "value")
        .as[graft.streaming.Event]
      // transformWithState requires the RocksDB store (multiple column
      // families); restore the session's provider afterwards
      val pk = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(pk)
      s.conf.set(pk, "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
      try {
        graft.streaming.StreamOps
          .sessionizeTws(src, SessionGapMs, s"${SessionDelayMs / 60000} minutes")
          .toDF()
          .writeStream
          .option("checkpointLocation", s"$base/ckpt")
          .outputMode("append")
          .foreachBatch { (b: DataFrame, id: Long) =>
            // batch-id-keyed dir, overwritten: a micro-batch RETRY (or
            // speculative re-execution) rewrites its own dir instead of
            // appending duplicate sessions — the idempotent-sink
            // discipline of Wave43's snapshotSink; read-back unions the
            // dirs via parquet partition discovery
            b.write.mode("overwrite").parquet(s"$base/sink/batch=$id")
            ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
          .awaitTermination()
      } finally prev match {
        case Some(v) => s.conf.set(pk, v)
        case None => s.conf.unset(pk)
      }
      // sum_value is dropped: it is a double accumulated in event order
      // inside the processor, the one field whose batch twin is
      // order-sensitive; the session identity fields are exact integers
      s.read.parquet(s"$base/sink")
        .selectExpr("CAST(user_id AS BIGINT) AS user_id",
          "CAST(start_ms AS BIGINT) AS start_ms",
          "CAST(end_ms AS BIGINT) AS end_ms",
          "CAST(n_events AS BIGINT) AS n_events")
        .orderBy("user_id", "start_ms")
    }),
  )

  /** Oracle peeling chain: e (round 0, from [[Wave41.CopSql]]) →
    * k0 → e1 → d1 → … unrolled [[PeelRounds]] times, every stage
    * MATERIALIZED (multi-reference CTEs re-inline multiplicatively
    * otherwise — the q_mis oracle lesson). */
  private def peelChainSql: String =
    (0 until PeelRounds).map { r =>
      val (er, dr) = (if (r == 0) "e" else s"e$r", if (r == 0) "deg" else s"d$r")
      s"""k$r AS MATERIALIZED (
         |  SELECT x FROM $dr
         |  WHERE 10 * d * (SELECT count(*) FROM $dr) >
         |        22 * (SELECT count(*) FROM $er)
         |),
         |e${r + 1} AS MATERIALIZED (
         |  SELECT u, v FROM $er JOIN k$r a ON a.x = u JOIN k$r b ON b.x = v
         |),
         |d${r + 1} AS MATERIALIZED (
         |  SELECT x, count(*) AS d FROM (
         |    SELECT u AS x FROM e${r + 1} UNION ALL SELECT v FROM e${r + 1}
         |  ) GROUP BY x
         |)""".stripMargin
    }.mkString(",\n")

  val oracle: Map[String, String] = strictMap(

    "q_densest_subgraph" -> {
      val rows = (0 to PeelRounds).map { r =>
        val (er, dr) = (if (r == 0) "e" else s"e$r", if (r == 0) "deg" else s"d$r")
        s"""SELECT $r AS round,
           |  (SELECT count(*) FROM $dr) AS n_vertices,
           |  (SELECT count(*) FROM $er) AS n_edges""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH ${Wave41.CopSql},
         |$peelChainSql,
         |ladder AS (
         |$rows
         |)
         |SELECT CAST(round AS BIGINT) AS round,
         |  CAST(n_vertices AS BIGINT) AS n_vertices,
         |  CAST(n_edges AS BIGINT) AS n_edges,
         |  CASE WHEN n_vertices > 0
         |    THEN round(CAST(n_edges AS DOUBLE) / n_vertices, 6)
         |    ELSE CAST(NULL AS DOUBLE) END AS density
         |FROM ladder ORDER BY round""".stripMargin
    },

    "q_square_census" ->
      s"""WITH ${Wave41.CopSql},
         |adj AS MATERIALIZED (
         |  SELECT u AS z, v AS x FROM e UNION ALL SELECT v, u FROM e
         |),
         |cn AS MATERIALIZED (
         |  SELECT a.x AS u, b.x AS v, count(*) AS cn
         |  FROM adj a JOIN adj b ON a.z = b.z AND a.x < b.x
         |  GROUP BY 1, 2
         |),
         |ap AS (SELECT count(*) AS na FROM cn JOIN e ON e.u = cn.u AND e.v = cn.v)
         |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST((SELECT na FROM ap) AS BIGINT) AS n_adj_pairs,
         |  CAST(sum(cn * (cn - 1)) // 4 AS BIGINT) AS n_squares,
         |  CAST(max(cn) AS BIGINT) AS max_cn,
         |  CASE WHEN count(*) > 0
         |    THEN round(CAST(sum(cn) AS DOUBLE) / count(*), 6)
         |    ELSE CAST(NULL AS DOUBLE) END AS mean_cn
         |FROM cn""".stripMargin,

    // Batch gap sessionization on epoch-MILLIS (the processor's state
    // unit), then the streaming eviction rule: every non-last session per
    // user was closed inline and emitted; the last session emitted only if
    // its timer (end + gap) expired under the final watermark
    // (max event-time − delay). The oracle never sees a stream.
    "q_stream_session_sink" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events
         |),
         |f AS (
         |  SELECT *, CASE WHEN ms - lag(ms) OVER w > $SessionGapMs
         |    THEN 1 ELSE 0 END AS ns
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)
         |),
         |g AS (
         |  SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ms, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |  FROM f
         |),
         |sess AS (
         |  SELECT user_id, sid, min(ms) AS start_ms, max(ms) AS end_ms,
         |    count(*) AS n_events
         |  FROM g GROUP BY user_id, sid
         |),
         |wm AS (SELECT max(ms) - $SessionDelayMs AS wm FROM e),
         |last AS (SELECT user_id, max(sid) AS lsid FROM sess GROUP BY user_id)
         |SELECT CAST(user_id AS BIGINT) AS user_id,
         |  CAST(start_ms AS BIGINT) AS start_ms,
         |  CAST(end_ms AS BIGINT) AS end_ms,
         |  CAST(n_events AS BIGINT) AS n_events
         |FROM sess JOIN last USING (user_id) CROSS JOIN wm
         |WHERE sid < lsid OR end_ms + $SessionGapMs < wm
         |ORDER BY user_id, start_ms""".stripMargin,
  )
}
