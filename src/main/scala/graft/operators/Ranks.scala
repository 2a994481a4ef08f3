package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed within-key ranking WITHOUT a per-key window sort: the
  * building block under [[Percentiles]] (exact selection) and the mixture
  * sampler — anywhere a "row_number() over (partition by key order by …)"
  * would put a whole (possibly huge) key on one task.
  *
  * Shape: range-partition + sort by (key, orderCols) so a big key SPANS
  * partitions, then a GLOBAL contiguous index via `RDD.zipWithIndex`
  * (its count job reads the one shuffle's output; map stages are skipped
  * on reuse); within-key rank = global index − min index of the key + 1,
  * where the per-key min-index table (|keys| rows — metadata) joins back
  * under the high-cardinality guard below.
  *
  * == Why one RDD lineage, not two DataFrame branches ==
  * The previous shape derived chunk offsets from `spark_partition_id()`
  * in a SECOND plan branch over the same `repartitionByRange`. Range
  * boundaries come from a SAMPLE; when the optimizer does not reuse the
  * Exchange (observed under the 32-partition AQE session), each branch
  * re-samples, the two executions assign DIFFERENT partition ids, and
  * the offsets misalign — q_auc's rank sum inflated nondeterministically
  * (10000 rows → n of 10267…10285) the moment an oracle pinned it. With
  * a single RDD, the partitioner and shuffle files are created once and
  * every downstream job (the zip count, the min-index aggregate, the
  * final join) reads the same materialized partitions — determinism by
  * construction, not by optimizer goodwill.
  *
  * == High-cardinality-key guard ==
  * The offsets table is parts × |distinct keys| rows. For the operator's
  * current callers (percentile keys, languages, cluster ids) that is tiny
  * and a broadcast join is ideal — but as a GENERAL primitive a
  * high-cardinality key would make a forced broadcast an executor/driver
  * memory bomb. So the offsets join carries NO static hint: AQE measures
  * the offsets aggregate at runtime and broadcasts iff it fits
  * `spark.sql.adaptive.autoBroadcastJoinThreshold`; past that it falls
  * back to a shuffled join. The fallback is cheap by construction: the
  * data side is ALREADY hash-partitioned and sorted by (pid, key) for the
  * chunk-local window, so only the offsets (metadata) side gets a new
  * Exchange.
  */
object Ranks {

  /** Adds a 1-based `rk` column: the rank of each row within its
    * `keyCol` group under the total order `orderCols` (pass a unique
    * tie-breaker as the last order column — ranks of exact ties are
    * otherwise partition-dependent). */
  def withinKey(df: DataFrame, keyCol: String, orderCols: Seq[String],
                parts: Int = 32): DataFrame = {
    require(orderCols.nonEmpty, "orderCols must be non-empty")
    val sortCols = (col(keyCol) +: orderCols.map(col))
    val sorted = df.repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    // one RDD: the range partitioner (sampled boundaries) and the shuffle
    // are fixed HERE; zipWithIndex's count job and every later job over
    // `indexed` reuse the same materialized partitions
    val indexed = df.sparkSession.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
      },
      sorted.schema.add("__gidx", org.apache.spark.sql.types.LongType,
        nullable = false))
    val firsts = indexed.groupBy(keyCol).agg(min("__gidx").as("__first"))
    indexed.join(firsts, Seq(keyCol))
      .withColumn("rk", col("__gidx") - col("__first") + 1)
      .drop("__gidx", "__first")
  }
}
