package graft.operators

import org.apache.spark.sql.{SaveMode, SparkSession}

/** Small-file compaction — the table-maintenance pass every long-running
  * pipeline needs at scale. Streaming sinks, frequent upserts, and
  * over-parallel writes leave thousands of KB-sized files per partition;
  * each adds a task, a scheduler round-trip, and a metadata row, so scan
  * cost at 100 TB is driven by FILE COUNT as much as bytes.
  *
  * The operator sizes the rewrite from the DATA, not a guess: it reads the
  * current on-disk footprint, targets `targetBytes` per output file, and
  * rewrites with that many partitions. `repartition` (round-robin) spreads
  * rows evenly at the cost of a shuffle; `coalesce` avoids the shuffle but
  * can only merge, so it is chosen automatically when merely reducing file
  * count. Idempotent: re-compacting an already-compact table is a no-op
  * rewrite of the same file count.
  */
object Compact {

  /** Total bytes of the parquet files under `path` (non-recursive data
    * files only — skips _SUCCESS and dotfiles). */
  private def dataBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else
      fs.listStatus(p).filter(s => s.isFile && !s.getPath.getName.startsWith("_")
        && !s.getPath.getName.startsWith(".")).map(_.getLen).sum
  }

  /** Rewrite the parquet table at `path` into ceil(bytes/targetBytes)
    * files. Returns (filesBefore, filesAfter). The rewrite goes through a
    * temp directory + atomic-ish rename so a crash mid-compaction leaves
    * either the old or the new layout, never a half-written mix. */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val bytes = dataBytes(spark, path)
    val before = countFiles(spark, path)
    val want = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(path)
    // merging down: coalesce (no shuffle). resplitting up: repartition.
    val out = if (want <= before) df.coalesce(want) else df.repartition(want)
    val tmp = path + ".compact-tmp"
    out.write.mode(SaveMode.Overwrite).parquet(tmp)
    val p = new org.apache.hadoop.fs.Path(path)
    val t = new org.apache.hadoop.fs.Path(tmp)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    fs.rename(t, p)
    (before, countFiles(spark, path))
  }

  /** Parquet data-file count under `path`. */
  def countFiles(spark: SparkSession, path: String): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else fs.listStatus(p).count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
  }
}
