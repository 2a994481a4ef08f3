package graft.queries

/** Wave-51 additions — frame-level audio and video signals through the
  * real codecs (the segmentation primitives a multimodal training
  * pipeline runs after decode):
  *
  *  - q_multimodal_audio_frames: the decoded 16-bit PCM stream sliced
  *    into 100-sample frames, each with its exact energy (Σ v², BIGINT)
  *    and peak — the VAD/loudness-segmentation signal (silence gating,
  *    clipping detection). Spark goes WAV→javax.sound decode→frames; the
  *    oracle replays the planted sample rule ((doc·31 + i·17) mod 2¹⁶ −
  *    32768) arithmetic only.
  *  - q_multimodal_motion: exact L1 pixel delta between consecutive clip
  *    frames (real zlib inflate, frames addressed by offset) — the
  *    scene-cut / motion-energy signal. On the planted clips consecutive
  *    frames differ by +7 mod 256 per pixel, so each delta is
  *    7·(non-wrapping pixels) + 249·(wrapping ones) — the oracle computes
  *    exactly that from the pixel rule while Spark inflates real bytes;
  *    any offset/stride bug breaks the match.
  *
  * Determinism: everything is exact integer arithmetic on both sides.
  */
object Wave51 extends Catalog {

  private val FrameLen = 100

  val queries: Map[String, Q] = strictMap(

    // AUDIO FRAMES: codec + framing run in batched mapPartitions (zero
    // shuffle); output is ≤ 8 rows per doc.
    "q_multimodal_audio_frames" -> ((s, dir) => {
      import s.implicits._
      val recs = LlmOps.mediaTable(s, dir, "wav")
        .repartition(s.sparkContext.defaultParallelism)
        .as[graft.operators.MediaRecord]
      graft.operators.Multimodal.extractAudioFrames(recs, FrameLen)
        .toDF()
        .selectExpr("doc_id", "frame", "n", "energy", "peak")
        .orderBy("doc_id", "frame")
    }),

    // MOTION: inflate + per-pair L1 in mapPartitions; ≤ 7 rows per doc.
    "q_multimodal_motion" -> ((s, dir) => {
      import s.implicits._
      val recs = LlmOps.mediaTable(s, dir, "video")
        .repartition(s.sparkContext.defaultParallelism)
        .as[graft.operators.MediaRecord]
      graft.operators.Multimodal.extractMotion(recs)
        .toDF()
        .selectExpr("doc_id", "frame", "l1_delta")
        .orderBy("doc_id", "frame")
    }),
  )

  val oracle: Map[String, String] = strictMap(

    "q_multimodal_audio_frames" ->
      s"""WITH n AS (
         |  SELECT doc_id, 400 + (doc_id % 5) * 80 AS n FROM documents
         |),
         |s AS (
         |  SELECT doc_id, i // $FrameLen AS frame,
         |    ((doc_id * 31 + i * 17) % 65536) - 32768 AS v
         |  FROM n, unnest(generate_series(0, n - 1)) AS t(i)
         |)
         |SELECT doc_id, CAST(frame AS BIGINT) AS frame,
         |  count(*) AS n,
         |  CAST(sum(v * v) AS BIGINT) AS energy,
         |  CAST(max(abs(v)) AS BIGINT) AS peak
         |FROM s GROUP BY doc_id, frame
         |ORDER BY doc_id, frame""".stripMargin,

    // |((p+7) mod 256) − p| is 7 unless p ≥ 249, where it wraps to 249
    "q_multimodal_motion" ->
      """WITH g AS (
        |  SELECT doc_id, CAST(8 + doc_id % 25 AS INT) AS w,
        |         CAST(8 + doc_id % 17 AS INT) AS h,
        |         CAST(4 + doc_id % 5 AS INT) AS nf
        |  FROM documents
        |),
        |px AS (
        |  SELECT doc_id, f,
        |    ((x * 31 + y * 17 + doc_id * 13 + f * 7) % 256) AS p
        |  FROM g,
        |    unnest(generate_series(0, nf - 2)) AS tf(f),
        |    unnest(generate_series(0, w - 1)) AS tx(x),
        |    unnest(generate_series(0, h - 1)) AS ty(y)
        |)
        |SELECT doc_id, CAST(f AS BIGINT) AS frame,
        |  CAST(sum(CASE WHEN p >= 249 THEN 249 ELSE 7 END) AS BIGINT)
        |    AS l1_delta
        |FROM px GROUP BY doc_id, f
        |ORDER BY doc_id, frame""".stripMargin,
  )
}
