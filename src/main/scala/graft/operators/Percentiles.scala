package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact per-key percentiles (linear interpolation — the `percentile()` /
  * `quantile_cont` contract) WITHOUT buffering any group in memory.
  *
  * Spark's built-in exact `percentile()` is a TypedImperativeAggregate that
  * materializes every value of a group in the final aggregation buffer — a
  * handful of huge groups at 100 TB means billions of doubles on a handful
  * of tasks, an OOM the buffer cannot spill out of. This operator computes
  * the same result as a distributed SELECTION instead:
  *
  *  1. [[Ranks.withinKey]] assigns global within-key ranks via the
  *     range-partitioned two-level scheme — a huge group SPANS partitions,
  *     so no task ever holds more than ~|data|/parts rows;
  *  2. only the two interpolation-neighbor ranks per (key, percentile) are
  *     joined out (broadcast of a tiny rank list), then combined with
  *     Spark's own interpolation formula `(1-frac)·lo + frac·hi`.
  *
  * Every join is an equi join on (key[, rank]); the rank/offset metadata
  * sides carry no broadcast hint — AQE sizes them at runtime (see
  * [[Ranks]]' high-cardinality guard).
  */
object Percentiles {

  /** @param ps  percentile fractions in [0, 1] (e.g. 0.25, 0.5, 0.75)
    * @param parts range-partition count — sizes the memory bound per task
    * @return one row per (key, p): columns (keyCol, p, q) with q the exact
    *   linear-interpolation percentile of non-null `valCol` values. Keys
    *   with zero non-null values yield no rows (same as `percentile()`
    *   returning null). */
  def exact(df: DataFrame, keyCol: String, valCol: String, ps: Seq[Double],
            parts: Int = 32): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1), s"bad ps: $ps")
    val data = df.where(col(valCol).isNotNull)
      .select(col(keyCol).as("__k"), col(valCol).as("__v"))
    // the two-level rank (range partition + chunk offsets) lives in
    // [[Ranks.withinKey]] — ties on __v get partition-dependent ranks,
    // which is fine HERE because tied values are interchangeable for
    // selection (the value at any tied rank is the same value)
    val ranked0 = Ranks.withinKey(data, "__k", Seq("__v"), parts)
    val ns = data.groupBy("__k").agg(count(lit(1)).as("__n"))
    // Spark's percentile(): position r = p·(n-1) (0-based), neighbors
    // floor(r)/ceil(r), result (1-frac)·lo + frac·hi (exactly lo when
    // frac = 0) — spelled identically here so results bit-match
    val targets = ns.select(col("__k"), col("__n"),
        explode(array(ps.distinct.map(lit): _*)).as("__p"))
      .withColumn("__r", col("__p") * (col("__n") - 1).cast("double"))
      .withColumn("__lo", floor(col("__r")).cast("long") + 1) // 1-based rank
      .withColumn("__hi", least(col("__lo") + 1, col("__n")))
      .withColumn("__frac", col("__r") - floor(col("__r")))
    val need = targets.select(col("__k"),
      explode(array(col("__lo"), col("__hi"))).as("__rk")).distinct()
    val ranked = ranked0.select(col("__k"), col("rk").as("__rk"), col("__v"))
    // |keys|·|ps|·2 rows — tiny for low-cardinality keys, but subject to
    // the same high-cardinality guard as the rank offsets (Ranks scaladoc)
    val vals = ranked.join(need, Seq("__k", "__rk"))
    targets
      .join(vals.select(col("__k"), col("__rk").as("__lo"), col("__v").as("__vlo")),
        Seq("__k", "__lo"))
      .join(vals.select(col("__k"), col("__rk").as("__hi"), col("__v").as("__vhi")),
        Seq("__k", "__hi"))
      .select(col("__k").as(keyCol), col("__p").as("p"),
        when(col("__frac") === 0.0, col("__vlo"))
          .otherwise((lit(1.0) - col("__frac")) * col("__vlo") +
            col("__frac") * col("__vhi")).as("q"))
  }

  /** Exact WEIGHTED per-key percentiles: the smallest value whose
    * cumulative weight reaches ⌈p·W⌉ (the lower weighted-quantile
    * convention — collapses to the order statistic at weight ≡ 1).
    * Quantity-weighted median price, token-weighted median doc length —
    * the corpus statistic where every row does not count equally.
    *
    * Scale shape (same discipline as [[Ranks.withinKey]] — ONE RDD
    * lineage, so the sampled range boundaries can never diverge between
    * plan branches): range-partition + sort by (key, value), one
    * mapPartitions pass embeds the partition id and the within-partition
    * per-key running weight sum (keys are contiguous in sorted
    * partitions); per-(pid, key) totals (parts × |keys| rows — metadata)
    * prefix-sum into offsets; global cumulative weight = offset + local
    * running sum. Thresholds ⌈p·W⌉ are computed in DECIMAL (exact for
    * the rational ps in practice; the one ceil cannot ulp-flip), and the
    * selection min (cw, v) over cw ≥ t is a partial-agg'd argmin — no
    * whole-group buffer anywhere, a huge key spans partitions.
    *
    * @param wCol positive integral weights (cast to long; rows with null
    *   value/weight are dropped, weights ≤ 0 rejected at runtime)
    * @return one row per (key, p): (keyCol, p, q) with q the selected
    *   value as double */
  def weighted(df: DataFrame, keyCol: String, valCol: String, wCol: String,
               ps: Seq[Double], parts: Int = 32): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1), s"bad ps: $ps")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = df.sparkSession
    val data = df.where(col(valCol).isNotNull && col(wCol).isNotNull)
      .select(col(keyCol).as("__k"), col(valCol).cast("double").as("__v"),
        col(wCol).cast("long").as("__w"))
    val sorted = data.repartitionByRange(parts, col("__k"), col("__v"))
      .sortWithinPartitions(col("__k"), col("__v"))
    val withCum = spark.createDataFrame(
      sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
        var curKey: Any = null
        var started = false
        var cum = 0L
        it.map { r =>
          val k = r.get(0)
          if (!started || k != curKey) { curKey = k; started = true; cum = 0L }
          val w = r.getLong(2)
          require(w > 0, s"non-positive weight $w")
          cum += w
          Row(k, r.getDouble(1), cum, pid)
        }
      },
      StructType(Seq(
        sorted.schema("__k").copy(name = "__k"),
        StructField("__v", DoubleType, nullable = false),
        StructField("__cuml", LongType, nullable = false),
        StructField("__pid", IntegerType, nullable = false))))
    // per-(pid, key) totals = the final running sum of the chunk; prefix
    // over pid within key turns them into global offsets (metadata-sized
    // window, never over data rows)
    val chunk = withCum.groupBy("__pid", "__k").agg(max("__cuml").as("__pw"))
    val offs = chunk.withColumn("__off",
        sum(col("__pw")).over(org.apache.spark.sql.expressions.Window
          .partitionBy("__k").orderBy("__pid")) - col("__pw"))
      .select("__pid", "__k", "__off")
    val tw = chunk.groupBy("__k").agg(sum("__pw").as("__tw"))
    val thresholds = tw.select(col("__k"), col("__tw"),
        explode(array(ps.distinct.map(lit): _*)).as("__p"))
      // ⌈p·W⌉ in exact decimal; max(t, 1) so p=0 selects the minimum
      .withColumn("__t", greatest(lit(1L),
        ceil(col("__p").cast(DecimalType(38, 18)) * col("__tw")).cast("long")))
      .select("__k", "__p", "__t")
    withCum.join(offs, Seq("__pid", "__k"))
      .withColumn("__cw", col("__off") + col("__cuml"))
      .join(thresholds, Seq("__k"))
      .where(col("__cw") >= col("__t"))
      .groupBy("__k", "__p")
      .agg(min(struct(col("__cw"), col("__v"))).as("__m"))
      .select(col("__k").as(keyCol), col("__p").as("p"),
        col("__m.__v").as("q"))
  }
}
