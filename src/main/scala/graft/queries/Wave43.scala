package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Ckpt._

/** Wave-43 additions — the two remaining spec-only streaming sketches
  * promoted to oracle-gated sinks, and parallel graph coloring:
  *
  *  - q_stream_cms_sink: [[graft.streaming.StreamOps.streamingCms]] — the
  *    count-min sketch maintained AS the aggregation state (d×w cells,
  *    elementwise-sum merge) — run as a real AvailableNow job over the
  *    documents parquet, complete-mode snapshots versioned per batch; the
  *    final snapshot must be bit-identical to the batch sketch the DuckDB
  *    oracle builds from the same tokens (same md5 cell hash). 8th
  *    oracle-gated streaming query.
  *  - q_stream_hll_sink: [[graft.streaming.StreamOps.streamingHll]] — the
  *    HyperLogLog register table as streaming state (per-bucket MAX merge,
  *    idempotent + commutative), snapshotted the same way; final sparse
  *    registers must equal the batch (bucket, max rho) table. With these
  *    two, EVERY StreamOps operator is either oracle-gated end-to-end or
  *    a variant of one that is. 9th oracle-gated streaming query.
  *  - q_graph_coloring: distance-1 coloring by iterated independent sets
  *    (Jones–Plassmann with vertex id as the priority): each round colors
  *    every uncolored vertex that is a LOCAL MAXIMUM among its uncolored
  *    neighbors — a maximal-independent-set layer per round, so each color
  *    class is independent by construction. The parallel symmetry-breaking
  *    schedule behind conflict-free batched updates (vertices of one color
  *    never contend); complements q_mis (one Luby layer) with the full
  *    layered decomposition. 4 rounds + the uncolored remainder, per-class
  *    size + Σ-id checksum so the hash pins the assignment.
  *
  * Determinism: sketch cells/registers ride the md5 parity both engines
  * share; coloring selects by exact integer id comparisons — no hashes, no
  * floats anywhere in the wave except nothing (all columns BIGINT).
  */
object Wave43 extends Catalog {

  /** CMS geometry (must match StreamOps.streamingCms defaults AND the
    * oracle's cell rule). */
  private val CmsDepth = 4
  private val CmsWidth = 64
  /** HLL register count (StreamOps.streamingHll default). */
  private val HllM = 64
  /** Coloring rounds (colors 0..3; the rest reports as color −1). */
  private[queries] val ColorRounds = 4

  /** Per-vertex greedy color classes over an undirected canonical edge
    * list: round r colors the local-max-by-id layer of the uncolored
    * subgraph; vertices still uncolored after `rounds` get color −1.
    * Factored out so the spec can pin planted graphs and assert each
    * class's independence. */
  private[graft] def greedyColorClasses(edges: DataFrame, rounds: Int): DataFrame = {
    val e = edges.ckpt()
    // LIVE adjacency invariant: at the top of each round, `adj` contains
    // exactly the uncolored×uncolored edges — so the local-max test is one
    // aggregation, and the restriction joins run once per round on a
    // SHRINKING edge set instead of twice on the full one (measured at
    // sf0.1: 7.71 s → see SCALE.md wave-44 note)
    var adj = e.select(col("u").as("v1"), col("v").as("v2"))
      .unionAll(e.select(col("v").as("v1"), col("u").as("v2")))
      .ckpt()
    var uc = adj.select(col("v1").as("x")).distinct().ckpt()
    val classes = Seq.newBuilder[DataFrame]
    for (r <- 0 until rounds) {
      // max uncolored neighbor per still-connected vertex; vertices with
      // no live edge (all neighbors colored) select trivially (left null)
      val nb = adj.groupBy("v1").agg(max("v2").as("mx"))
      val sel = uc
        .join(nb.withColumnRenamed("v1", "x"), Seq("x"), "left_outer")
        .where(col("mx").isNull || col("mx") < col("x"))
        .select("x").ckpt()
      classes += sel.withColumn("color", lit(r.toLong))
      uc = uc.join(sel, Seq("x"), "left_anti").ckpt()
      if (r < rounds - 1)
        adj = adj
          .join(uc.withColumnRenamed("x", "v1"), "v1")
          .join(uc.withColumnRenamed("x", "v2"), "v2")
          .select("v1", "v2").ckpt()
    }
    classes += uc.withColumn("color", lit(-1L))
    classes.result().reduce(_ unionAll _)
      .selectExpr("CAST(x AS BIGINT) AS x", "CAST(color AS BIGINT) AS color")
  }

  /** Shared snapshot-sink runner (the q_stream_window_sink pattern): run a
    * complete-mode streaming aggregate over ONE parquet file, overwrite a
    * versioned state dir per micro-batch, and return the latest snapshot. */
  private def snapshotSink(s: org.apache.spark.sql.SparkSession,
                           agg: DataFrame, base: String): DataFrame = {
    agg.writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("complete")
      .foreachBatch { (b: DataFrame, id: Long) =>
        b.write.mode("overwrite").parquet(s"$base/state_$id")
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()
    val latest = Option(new java.io.File(base).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .map(_.getName).filter(_.startsWith("state_"))
      .map(_.stripPrefix("state_").toLong)
      .maxOption.getOrElse(sys.error(
        s"no state_* under $base: checkpoint survived but state dirs " +
          "are gone — delete the checkpoint to replay"))
    s.read.parquet(s"$base/state_$latest")
  }

  val queries: Map[String, Q] = strictMap(

    // STREAM CMS SINK: state is d×w = 256 cells no matter how long the
    // stream runs; the snapshot is the sketch.
    "q_stream_cms_sink" -> ((s, dir) => {
      val base = s"$TmpRoot/stream_cms_${new java.io.File(dir).getName}"
      val sch = s.read.parquet(s"$dir/documents.parquet").schema
      val src = s.readStream.schema(sch)
        .option("pathGlobFilter", "documents.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(dir)
        .select(col("text").as("value"))
      val cms = graft.streaming.StreamOps
        .streamingCms(src, "value", CmsDepth, CmsWidth)
      snapshotSink(s, cms, base)
        .selectExpr("CAST(j AS BIGINT) AS j", "CAST(cell AS BIGINT) AS cell",
          "CAST(cn AS BIGINT) AS cn")
        .orderBy("j", "cell")
    }),

    // STREAM HLL SINK: constant 64-register state; sparse form (buckets
    // never hit are absent), exactly like the oracle's GROUP BY.
    "q_stream_hll_sink" -> ((s, dir) => {
      val base = s"$TmpRoot/stream_hll_${new java.io.File(dir).getName}"
      val sch = s.read.parquet(s"$dir/events.parquet").schema
      val src = s.readStream.schema(sch)
        .option("pathGlobFilter", "events.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(dir)
        .select(col("user_id").as("value"))
      val hll = graft.streaming.StreamOps.streamingHll(src, "value", HllM)
      snapshotSink(s, hll, base)
        .selectExpr("CAST(bucket AS BIGINT) AS bucket", "CAST(reg AS BIGINT) AS reg")
        .orderBy("bucket")
    }),

    // GRAPH COLORING: 4 MIS layers, each one degree-style aggregation +
    // two membership joins over the shrinking uncolored set — O(E) per
    // round, fully parallel (the point: a serial greedy color is a chain).
    "q_graph_coloring" -> ((s, dir) => {
      val classes = greedyColorClasses(Wave40.partEdges(s, dir), ColorRounds)
      classes.groupBy("color")
        .agg(count(lit(1)).as("n"), sum("x").as("sum_id"))
        .selectExpr("color", "CAST(n AS BIGINT) AS n",
          "CAST(sum_id AS BIGINT) AS sum_id")
        .orderBy("color")
    }),
  )

  /** Unrolled coloring chain: uc0 → sel0 → uc1 → … MATERIALIZED stages. */
  private def colorChainSql: String = {
    val stages = (0 until ColorRounds).map { r =>
      s"""sel$r AS MATERIALIZED (
         |  SELECT x FROM uc$r u WHERE NOT EXISTS (
         |    SELECT 1 FROM adj a JOIN uc$r w ON w.x = a.v2
         |    WHERE a.v1 = u.x AND a.v2 > u.x)
         |),
         |uc${r + 1} AS MATERIALIZED (
         |  SELECT x FROM uc$r EXCEPT SELECT x FROM sel$r
         |)""".stripMargin
    }.mkString(",\n")
    s"""adj AS MATERIALIZED (
       |  SELECT u AS v1, v AS v2 FROM e UNION ALL SELECT v, u FROM e
       |),
       |uc0 AS MATERIALIZED (SELECT DISTINCT v1 AS x FROM adj),
       |$stages""".stripMargin
  }

  val oracle: Map[String, String] = strictMap(

    // the streaming snapshot must equal the batch sketch — the oracle
    // never sees a stream (tokens via the shared reference tokenizer SQL)
    "q_stream_cms_sink" ->
      s"""WITH ${Reference.ToksSql},
         |c AS (
         |  SELECT j,
         |    ${hex2longSql("md5(CAST(j AS VARCHAR) || ':' || word)", 1)} % $CmsWidth AS cell
         |  FROM toks
         |  CROSS JOIN (SELECT unnest(generate_series(0, ${CmsDepth - 1})) AS j)
         |)
         |SELECT CAST(j AS BIGINT) AS j, CAST(cell AS BIGINT) AS cell,
         |  count(*) AS cn
         |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_stream_hll_sink" ->
      s"""WITH h AS (
         |  SELECT ${hexLongSql("md5(CAST(user_id AS VARCHAR))", 1, 15)} AS h
         |  FROM events
         |)
         |SELECT CAST(h % $HllM AS BIGINT) AS bucket,
         |  CAST(max(CASE WHEN h // $HllM = 0 THEN 55
         |    ELSE 55 - length(bin(h // $HllM)) END) AS BIGINT) AS reg
         |FROM h GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_graph_coloring" -> {
      val rows = (0 until ColorRounds).map { r =>
        s"SELECT $r AS color, count(*) AS n, sum(x) AS sum_id FROM sel$r"
      } :+ s"SELECT -1 AS color, count(*) AS n, sum(x) AS sum_id FROM uc$ColorRounds"
      s"""WITH ${Wave41.CopSql},
         |$colorChainSql,
         |ladder AS (
         |${rows.mkString("\nUNION ALL\n")}
         |)
         |SELECT CAST(color AS BIGINT) AS color, CAST(n AS BIGINT) AS n,
         |  CAST(sum_id AS BIGINT) AS sum_id
         |FROM ladder ORDER BY color""".stripMargin
    },
  )
}
