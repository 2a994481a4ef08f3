package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-free sketch primitives shared by the catalog queries
  * (q_sketch_cms / q_sketch_hll / q_sketch_hll_grouped) and the property
  * specs. Both sketches merge with commutative+associative operations —
  * CMS cells by sum, HLL registers by max — so partial map-side
  * aggregation does the heavy lifting and results are bit-identical under
  * any partitioning. All hashes are md5-derived so a DuckDB oracle can
  * replay them exactly.
  */
object Sketches {

  /** Per-row CMS coordinates: one (j, cell) per hash row for `keyCol`.
    * Aggregating `count`/`sum` by (j, cell) yields the sketch. */
  def cmsCoords(df: DataFrame, keyCol: String, depth: Int, width: Int): DataFrame =
    df.select(col("*"), explode(sequence(lit(0), lit(depth - 1))).as("j"))
      .withColumn("cell",
        expr(s"CAST(conv(substring(md5(concat(CAST(j AS STRING), ':', CAST($keyCol AS STRING))), 1, 8), 16, 10) AS BIGINT) % $width"))

  /** Per-row HLL (bucket, rho): bucket = low bits of a 60-bit md5 hash,
    * rho = leading-zero rank of the 54-bit remainder. max(rho) per bucket
    * is the register value. */
  def hllRho(df: DataFrame, keyCol: String, m: Int): DataFrame =
    df.select(col("*"),
        expr(s"CAST(conv(substring(md5(CAST($keyCol AS STRING)), 1, 15), 16, 10) AS BIGINT)")
          .as("__h"))
      .withColumn("bucket", col("__h") % m)
      .withColumn("rho",
        expr(s"CAST(CASE WHEN __h div $m = 0 THEN 55 ELSE 55 - length(bin(__h div $m)) END AS BIGINT)"))
      .drop("__h")

  /** Dense HLL register table for `keyCol` over optional group columns:
    * every (group ×) bucket in [0, m) present, absent buckets at 0. */
  def hllRegisters(df: DataFrame, keyCol: String, m: Int,
                   groupCols: Seq[String] = Nil): DataFrame = {
    val spark = df.sparkSession
    val rho = hllRho(df, keyCol, m)
    val buckets = spark.range(m).select(col("id").as("bucket"))
    val frame =
      if (groupCols.isEmpty) buckets
      else df.select(groupCols.map(col): _*).distinct().crossJoin(buckets)
    val keys = groupCols :+ "bucket"
    frame.join(rho.groupBy(keys.map(col): _*).agg(max(col("rho")).as("mrho")),
        keys, "left")
      .select((groupCols.map(col) :+ col("bucket") :+
        coalesce(col("mrho"), lit(0L)).as("reg")): _*)
  }

  /** The HLL estimate from a dense register table, computed with exact
    * integer math up to one terminal IEEE multiply/divide: Σ2^-reg is
    * carried as the BIGINT Σ2^(R-reg) against the max register R. Returns
    * one row per group with (groupCols..., est). alpha must match m
    * (0.709 for m=64). No small-range correction — see q_sketch_hll. */
  def hllEstimate(regs: DataFrame, m: Int, alpha: Double,
                  groupCols: Seq[String] = Nil): DataFrame = {
    val rmax =
      if (groupCols.isEmpty)
        regs.crossJoin(broadcast(regs.agg(max(col("reg")).as("R"))))
      else
        regs.join(regs.groupBy(groupCols.map(col): _*)
          .agg(max(col("reg")).as("R")), groupCols)
    val grouped =
      if (groupCols.isEmpty) rmax.groupBy()
      else rmax.groupBy(groupCols.map(col): _*)
    grouped
      .agg(max(col("R")).as("R"),
        sum(expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(R - reg AS INT)) AS BIGINT)")).as("S"))
      .select((groupCols.map(col) :+
        expr(s"round(CAST($alpha AS DOUBLE) * CAST(${m.toLong * m} AS DOUBLE) * pow(2, R) / CAST(S AS DOUBLE), 2)")
          .as("est")): _*)
  }

  /** CMS point estimate for every distinct (group ×) key: min over hash
    * rows of the key's cell total — never below the true count. With
    * `groupCols`, one INDEPENDENT sketch per group (cells keyed by
    * (group, j, cell)) — the per-source/per-day profile shape, all groups
    * in a single pass, mirroring [[hllRegisters]]'s grouped form. */
  def cmsEstimates(df: DataFrame, keyCol: String, depth: Int, width: Int,
                   groupCols: Seq[String] = Nil): DataFrame = {
    // Collapse to per-key counts FIRST: the sketch is linear in the count
    // vector, so hashing each DISTINCT key once (depth md5s) replaces
    // depth md5s per occurrence — at 100 TB that is the difference
    // between hash work ∝ corpus and ∝ vocabulary. Cell totals are
    // identical: Σ over keys in the cell of their counts.
    val keys = groupCols :+ keyCol
    val wc = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n_true"))
    val coords = cmsCoords(wc, keyCol, depth, width)
    val cellKeys = groupCols ++ Seq("j", "cell")
    val cells = coords.groupBy(cellKeys.map(col): _*)
      .agg(sum(col("n_true")).as("cn"))
    coords.join(cells, cellKeys)
      .groupBy(keys.map(col): _*)
      .agg(min(col("n_true")).as("n_true"), min(col("cn")).as("n_est"))
  }

  /** Elementwise register max — the HLL MERGE. Associative+commutative,
    * so sketches built on disjoint partitions/machines/days combine into
    * exactly the sketch of the union (SketchSpec proves it). */
  def hllMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("bucket").agg(max(col("reg")).as("reg"))
}
