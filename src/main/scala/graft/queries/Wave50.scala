package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.Ckpt._

/** Wave-50 addition — crop-resistant image near-dup detection by
  * quadrant tile hashing:
  *
  *  - q_multimodal_tile_dedup: every PNG decodes (real ImageIO codec,
  *    batched mapPartitions — the codec-tier contract) into FOUR 16-bit
  *    per-quadrant average-hashes ([[graft.operators.Multimodal
  *    .tileHashImage]]); docs that agree on a (tile, hash) bucket are
  *    crop/occlusion-robust candidates — a crop that destroys one
  *    quadrant leaves the other three buckets intact, which the
  *    whole-image aHash (q_phash_dedup) cannot survive. Buckets are
  *    df-capped at 64 (the band discipline), pairs count their matching
  *    tiles, and the query emits the one-row candidate-funnel audit
  *    (hashes → kept buckets → pairs → ≥2-tile pairs) the pipeline reads
  *    before trusting tile-level dedup at corpus scale. The oracle
  *    replays tiles/means/buckets/pairs from the fixture's planted pixel
  *    rule — the Spark side went text→PNG→real decode.
  *
  * Determinism: all pure integer (floor tile dims, floor means, bit
  * sums); the funnel is exact counts.
  */
object Wave50 extends Catalog {

  private val TileCap = 64 // bucket df-cap (the LlmOps.BandBucketCap value)

  val queries: Map[String, Q] = strictMap(

    // TILE DEDUP FUNNEL: codec work runs where the bytes live (zero
    // shuffle until the 4-row-per-doc hash table); the self-join only
    // ever sees df-capped (tile, hash) buckets — never an all-pairs
    // image comparison.
    "q_multimodal_tile_dedup" -> ((s, dir) => {
      import s.implicits._
      val recs = LlmOps.mediaTable(s, dir, "png")
        .repartition(s.sparkContext.defaultParallelism)
        .as[graft.operators.MediaRecord]
      val th = graft.operators.Multimodal.extractTileHash(recs)
        .toDF().ckpt()
      val nHashes = th.agg(count(lit(1)).as("n_hashes"))
      val keep = th.groupBy("tile", "thash").agg(count(lit(1)).as("n"))
        .where(col("n") <= TileCap).select("tile", "thash")
      val bk = th.join(keep, Seq("tile", "thash")).ckpt()
      val nKept = bk.agg(count(lit(1)).as("n_in_kept_buckets"))
      val pairs = bk.alias("x").join(bk.alias("y"), Seq("tile", "thash"))
        .where(col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
        .agg(count(lit(1)).as("n_match"))
      val funnel = pairs.agg(
        count(lit(1)).as("n_cand_pairs"),
        sum(when(col("n_match") >= 2, 1L).otherwise(0L)).as("n_pairs_ge2"),
        max("n_match").as("max_tiles_match"))
      nHashes.crossJoin(broadcast(nKept)).crossJoin(broadcast(funnel))
        .selectExpr("CAST(n_hashes AS BIGINT) AS n_hashes",
          "CAST(n_in_kept_buckets AS BIGINT) AS n_in_kept_buckets",
          "CAST(coalesce(n_cand_pairs, 0) AS BIGINT) AS n_cand_pairs",
          "CAST(coalesce(n_pairs_ge2, 0) AS BIGINT) AS n_pairs_ge2",
          "CAST(coalesce(max_tiles_match, 0) AS BIGINT) AS max_tiles_match")
    }),
  )

  val oracle: Map[String, String] = strictMap(

    // tiles/means/buckets replayed from the planted pixel rule
    // (dims = 8 + doc_id % 25 / % 17, pixel = (x·31 + y·17 + doc_id·13)
    // % 256); tile origin (qx·(w//2), qy·(h//2)), 4×4 grid, floor mean.
    "q_multimodal_tile_dedup" ->
      s"""WITH g AS (
         |  SELECT doc_id, CAST(8 + doc_id % 25 AS INT) AS w,
         |         CAST(8 + doc_id % 17 AS INT) AS h
         |  FROM documents
         |),
         |samp AS (
         |  SELECT doc_id, (q // 2) * 2 + (q % 2) AS tile, i,
         |    ((((q % 2) * (w // 2) + (i % 4) * (w // 2) // 4) * 31
         |      + ((q // 2) * (h // 2) + (i // 4) * (h // 2) // 4) * 17
         |      + doc_id * 13) % 256) AS px
         |  FROM g,
         |    unnest(generate_series(0, 3)) AS tq(q),
         |    unnest(generate_series(0, 15)) AS ti(i)
         |),
         |m AS (SELECT doc_id, tile, CAST(sum(px) // 16 AS BIGINT) AS mean
         |      FROM samp GROUP BY doc_id, tile),
         |hs AS MATERIALIZED (
         |  SELECT samp.doc_id, samp.tile,
         |    CAST(sum(CASE WHEN px > mean
         |      THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END)
         |      AS BIGINT) AS thash
         |  FROM samp JOIN m USING (doc_id, tile) GROUP BY samp.doc_id, samp.tile
         |),
         |keep AS (SELECT tile, thash FROM hs GROUP BY tile, thash
         |         HAVING count(*) <= $TileCap),
         |bk AS MATERIALIZED (SELECT hs.* FROM hs JOIN keep USING (tile, thash)),
         |pairs AS (
         |  SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS n_match
         |  FROM bk x JOIN bk y USING (tile, thash)
         |  WHERE x.doc_id < y.doc_id GROUP BY 1, 2
         |),
         |f AS (
         |  SELECT count(*) AS n_cand_pairs,
         |    sum(CASE WHEN n_match >= 2 THEN 1 ELSE 0 END) AS n_pairs_ge2,
         |    max(n_match) AS max_tiles_match
         |  FROM pairs
         |)
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM hs) AS n_hashes,
         |  (SELECT CAST(count(*) AS BIGINT) FROM bk) AS n_in_kept_buckets,
         |  CAST(coalesce(n_cand_pairs, 0) AS BIGINT) AS n_cand_pairs,
         |  CAST(coalesce(n_pairs_ge2, 0) AS BIGINT) AS n_pairs_ge2,
         |  CAST(coalesce(max_tiles_match, 0) AS BIGINT) AS max_tiles_match
         |FROM f""".stripMargin,
  )
}
