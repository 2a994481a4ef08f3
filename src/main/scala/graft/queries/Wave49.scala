package graft.queries

import org.apache.spark.sql.functions._

/** Wave-49 addition — consistent hashing on a virtual-node ring, the
  * successor-placement twin of q_shard_rebalance's rendezvous (HRW)
  * hashing (the two classic minimal-movement placement schemes):
  *
  *  - q_consistent_hash_ring: 16 virtual nodes per shard at md5 ring
  *    positions; a key lands on the nearest vnode CLOCKWISE (min position
  *    ≥ the key's hash, wrapping to the ring's global minimum). The query
  *    places every doc under 4 shards and again under 5, and emits each
  *    shard's occupancy before/after the scale-out — the ring's defining
  *    MONOTONE-MOVEMENT property (keys only ever move TO the new shard,
  *    ~1/5 of them in expectation; old shards never exchange keys) falls
  *    out of the before/after columns and is spec-asserted. The
  *    elastic-store placement audit beside HRW: rings pay vnode variance
  *    for O(1)-ish lookup tables, HRW pays k hashes per key for perfect
  *    spread — a 100 TB store picks one of exactly these two.
  *
  * Determinism: ring positions and key hashes are 60-bit md5 prefixes
  * (exact BIGINT, collision-free at catalog scale); successor selection is
  * min_by over integers with a 4-row broadcast fallback; occupancy shares
  * are terminal round-6 divisions.
  */
object Wave49 extends Catalog {

  private val OldShards = 4
  private val NewShards = 5 // OldShards + 1
  private val VnodesPerShard = 16

  /** 60-bit md5 prefix (the q_sketch_hll 15-hex-char rule). */
  private def h60Spark(e: String): String =
    s"CAST(conv(substring(md5($e), 1, 15), 16, 10) AS BIGINT)"

  val queries: Map[String, Q] = strictMap(

    // RING: the vnode table is 80 broadcast rows; placement is ONE
    // keys×vnodes crossing partial-agg'd by key (min_by over qualifying
    // successors for the old and new rings simultaneously), one broadcast
    // wrap-around fallback, one occupancy group-by. Never a per-key loop,
    // never a driver-side ring structure.
    "q_consistent_hash_ring" -> ((s, dir) => {
      val vn = s.range(0, NewShards.toLong * VnodesPerShard)
        .selectExpr(s"CAST(id div $VnodesPerShard AS BIGINT) AS shard",
          s"${h60Spark("concat('ring-', CAST(id AS STRING))")} AS pos")
      val wrapOld = vn.where(col("shard") < OldShards)
        .agg(expr("min_by(shard, pos)").as("wo"))
      val wrapNew = vn.agg(expr("min_by(shard, pos)").as("wn"))
      val keys = table(s, dir, "documents")
        .select(col("doc_id"),
          expr(h60Spark("concat('key-', CAST(doc_id AS STRING))")).as("k"))
      val placed = keys.crossJoin(broadcast(vn))
        .groupBy("doc_id")
        .agg(
          expr(s"min_by(IF(pos >= k AND shard < $OldShards, shard, NULL)," +
            s" IF(pos >= k AND shard < $OldShards, pos, NULL))").as("so"),
          expr("min_by(IF(pos >= k, shard, NULL)," +
            " IF(pos >= k, pos, NULL))").as("sn"))
        .crossJoin(broadcast(wrapOld)).crossJoin(broadcast(wrapNew))
        .select(col("doc_id"),
          coalesce(col("so"), col("wo")).as("before_shard"),
          coalesce(col("sn"), col("wn")).as("after_shard"))
      val tot = keys.agg(count(lit(1)).as("t"))
      val spine = s.range(0, NewShards).select(col("id").as("shard"))
      val before = placed.groupBy(col("before_shard").as("shard"))
        .agg(count(lit(1)).as("n_before"))
      val after = placed.groupBy(col("after_shard").as("shard"))
        .agg(count(lit(1)).as("n_after"))
      spine.join(before, Seq("shard"), "left_outer")
        .join(after, Seq("shard"), "left_outer")
        .na.fill(0L, Seq("n_before", "n_after"))
        .crossJoin(broadcast(tot))
        .selectExpr("CAST(shard AS BIGINT) AS shard",
          "CAST(n_before AS BIGINT) AS n_before",
          "CAST(n_after AS BIGINT) AS n_after",
          "round(CAST(n_after AS DOUBLE) / t, 6) AS frac_after")
        .orderBy("shard")
    }),
  )

  val oracle: Map[String, String] = strictMap(

    "q_consistent_hash_ring" -> {
      val h60 = (e: String) => hexLongSql(s"md5($e)", 1, 15)
      s"""WITH vn AS MATERIALIZED (
         |  SELECT CAST(id // $VnodesPerShard AS BIGINT) AS shard,
         |    ${h60("'ring-' || CAST(id AS VARCHAR)")} AS pos
         |  FROM (SELECT unnest(generate_series(0,
         |    ${NewShards * VnodesPerShard - 1})) AS id)
         |),
         |wo AS (SELECT arg_min(shard, pos) AS wo FROM vn
         |       WHERE shard < $OldShards),
         |wn AS (SELECT arg_min(shard, pos) AS wn FROM vn),
         |keys AS (
         |  SELECT doc_id,
         |    ${h60("'key-' || CAST(doc_id AS VARCHAR)")} AS k
         |  FROM documents
         |),
         |placed AS MATERIALIZED (
         |  SELECT doc_id,
         |    coalesce(arg_min(CASE WHEN pos >= k AND shard < $OldShards
         |        THEN shard END,
         |      CASE WHEN pos >= k AND shard < $OldShards THEN pos END),
         |      (SELECT wo FROM wo)) AS before_shard,
         |    coalesce(arg_min(CASE WHEN pos >= k THEN shard END,
         |      CASE WHEN pos >= k THEN pos END),
         |      (SELECT wn FROM wn)) AS after_shard
         |  FROM keys CROSS JOIN vn GROUP BY doc_id, k
         |),
         |t AS (SELECT count(*) AS t FROM keys),
         |sp AS (SELECT unnest(generate_series(0, ${NewShards - 1})) AS shard),
         |b AS (SELECT before_shard AS shard, count(*) AS n_before
         |      FROM placed GROUP BY 1),
         |a AS (SELECT after_shard AS shard, count(*) AS n_after
         |      FROM placed GROUP BY 1)
         |SELECT CAST(sp.shard AS BIGINT) AS shard,
         |  CAST(coalesce(n_before, 0) AS BIGINT) AS n_before,
         |  CAST(coalesce(n_after, 0) AS BIGINT) AS n_after,
         |  round(CAST(coalesce(n_after, 0) AS DOUBLE) / t.t, 6) AS frac_after
         |FROM sp LEFT JOIN b ON sp.shard = b.shard
         |LEFT JOIN a ON sp.shard = a.shard CROSS JOIN t
         |ORDER BY shard""".stripMargin
    },
  )
}
