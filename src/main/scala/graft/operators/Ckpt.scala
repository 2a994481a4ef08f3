package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.GraftSqlShim
import org.apache.spark.storage.StorageLevel

/** Lineage truncation for iterative operators, and the one owner of every
  * size gate that decides whether a frame is materialized or widened.
  *
  * Every loop in this package (ConnectedComponents, PageRank, BFS, SSSP,
  * label propagation, k-means, HyperANF, …) must cut lineage per round so
  * each iteration costs one pass. Plain `Dataset.localCheckpoint` is NOT
  * enough: it carries the round plan's estimated `Statistics` forward, and
  * a self-joining round plan squares that estimate every iteration until
  * the driver hangs multiplying million-digit BigInts inside the stats
  * visitor (see [[GraftSqlShim.localCheckpointMeasured]] for the full
  * mechanism; bit us live on q_dbscan at sf0.01 — 20+ min in planning for
  * a sub-second job). `.ckpt()` checkpoints eagerly and replaces the
  * carried estimate with the just-materialized blocks' real size.
  */
object Ckpt {
  implicit class DfCkpt(private val df: DataFrame) extends AnyVal {
    /** Drop-in replacement for `localCheckpoint()` in iterative loops. */
    def ckpt(): DataFrame = GraftSqlShim.localCheckpointMeasured(df)
  }

  // ---- size gates ----
  //
  // Every gate is a fixed constant applied to what the plan sees (the
  // optimizer's size estimate, or the parquet footer). The session's
  // shuffle width is read here and nowhere else in the engine.

  /** Persist break-even for multi-consumer dedup intermediates, on the
    * optimizer's size estimate of the intermediate: below it, recomputing
    * the narrow codegen'd pipeline 2-3× beats materialization (measured at
    * sf0.1: the minhash trio runs 13.2 s recomputed vs 21.7 s persisted —
    * SCALE.md "Persist points"); above it the corpus scan dominates and
    * reuse wins. */
  private[graft] val PersistAutoBytes = BigInt(256L * 1024 * 1024)

  /** Per-partition bytes of the width gate: AQE's 64 MB advisory size. */
  private val AdvisoryBytes = 64L * 1024 * 1024

  /** File floor of [[widenScan]]: skips the KB-scale dimension tables
    * (nation/region/customer — no amplifying consumers, the exchange
    * would be pure overhead) while catching documents/embeddings, whose
    * consumers amplify 100-200× (tokenize/shingle/vector explodes), so
    * file bytes understate the compute behind the scan. */
  private val ScanWidenFloorBytes = 512L * 1024

  private def width(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions", "32").toInt

  /** The width gate: the plan's estimated size is below shuffle width ×
    * the 64 MB AQE advisory size. Below it, size-based coalescing can
    * starve an amplifying stage (AQE folds a few MB to one partition);
    * above it AQE keeps ≥ width partitions on its own. */
  private def belowWidthGate(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes <
      BigInt(width(df.sparkSession)) * AdvisoryBytes

  /** Hash-repartition by `key` at the session's shuffle width. */
  private[graft] def spreadBy(df: DataFrame, key: Column): DataFrame =
    df.repartition(width(df.sparkSession), key)

  /** Cache a multi-consumer dedup intermediate (bands / shingle sets /
    * trigram incidence) when the plan's estimated size exceeds
    * [[PersistAutoBytes]]; below it the frame is returned unchanged.
    * Callers run inside Bench/Verify, which clearCache() per query. */
  private[graft] def maybePersist(df: DataFrame): DataFrame =
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes > PersistAutoBytes)
      df.persist(StorageLevel.MEMORY_AND_DISK)
    else df

  /** Eager ckpt for CORPUS-AMPLIFIED multi-consumer intermediates
    * (shingle/trigram incidence tables — explode outputs ~100× the corpus
    * text), behind the width gate: below it (all of local/harness scale)
    * the frame is eagerly localCheckpointed — one materialization, every
    * concurrent consumer reads blocks, no duplicate-build race (the r12
    * per-job breakdown finding). Past the gate (cluster-scale corpora)
    * eager materialization of an exploded table into executor memory
    * with TRUNCATED lineage is itself the failure mode (executor loss =
    * job failure, guide §5) — degrade to a lazy spillable persist that
    * keeps lineage, accepting the possible duplicate build as the cheaper
    * risk. Post-agg narrow frames (|docs|-row score/band tables) don't
    * need the gate and call `.ckpt()` directly. */
  private[graft] def ckptIfSmall(df: DataFrame): DataFrame =
    if (belowWidthGate(df)) df.ckpt()
    else df.persist(StorageLevel.MEMORY_AND_DISK)

  /** Restore machine-width parallelism under a compute-AMPLIFYING stage
    * (shingle explode + per-shingle md5) whose input arrives through an
    * exchange AQE coalesces by BYTES: the rep corpus at harness scale is
    * a few MB of shuffle output, so AQE folds it to one partition and the
    * downstream signature build runs single-task (r12 per-job breakdown:
    * a 1.2 s one-task job = half of q_dedup_minhash's wall). The fix is
    * the Betweenness edge-list discipline — an explicit `doc_id`
    * repartition at the shuffle width — behind the width gate: past it
    * (cluster-scale inputs, where the exchange is already wide and an
    * extra corpus-text shuffle would be pure cost) this is the identity. */
  private[graft] def widenIfSmall(df: DataFrame): DataFrame =
    if (belowWidthGate(df)) spreadBy(df, col("doc_id")) else df

  /** Scan-side widen for a table whose parquet file physically cannot
    * feed the shuffle width (see `queries.wideTable`): gated on the file
    * FOOTER, not a size estimate — it fires only when the file offers
    * fewer row groups than the width AND carries more than
    * [[ScanWidenFloorBytes]]. Repartitions by `key` when given, else
    * round-robin. */
  private[graft] def widenScan(df: DataFrame, rowGroups: Int, fileBytes: Long,
                               key: Option[String]): DataFrame = {
    val n = width(df.sparkSession)
    if (rowGroups < n && fileBytes > ScanWidenFloorBytes)
      key.fold(df.repartition(n))(k => df.repartition(n, col(k)))
    else df
  }

  /** Narrow row count for fixpoint convergence tests: one job over the
    * plan's own partitions, NO exchange. `Dataset.count()` plans a
    * two-stage partial/final aggregate — under AQE that is two scheduled
    * jobs plus a shuffle, measured at ~170 ms even on a 4,096-row
    * checkpointed frame (round-10 barrier micro-benchmark, SCALE.md), which multiplied by every
    * propagation round dominated the iterative-graph queries. The
    * per-partition counting that `RDD.count` does driver-side is exactly
    * the map-side half of that aggregate, at one job and zero exchanges
    * (~40 ms). Use ONLY for counts over just-checkpointed frames (the
    * filter is a narrow scan of materialized blocks — no recompute). */
  def fastCount(df: DataFrame): Long =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.toRdd.count()

  /** Run `body` (a fixpoint loop) with AQE disabled, restoring the
    * session's setting afterwards.
    *
    * WHY: under AQE every exchange — including each of the ~5 broadcast
    * exchanges a propagation round builds from its checkpointed label
    * frame — materializes as its own scheduled JOB, so a round whose data
    * fits in one task still pays ~9 job-submission round-trips
    * (job profile: q_dbscan 59 jobs / q_scc_user 153 jobs, ~45% of wall
    * BETWEEN jobs). Inside a loop over [[DfCkpt.ckpt]]'d frames AQE buys
    * nothing: every input is a LogicalRDD with MEASURED stats, so the
    * static planner already makes the same broadcast-vs-shuffle calls
    * AQE would make at runtime — without the per-stage barriers. Scoped
    * to the loop only: upstream plan construction (scans, first
    * aggregations) keeps AQE's runtime re-planning.
    *
    * SINGLE-THREADED-SESSION ASSUMPTION: the setting is session-global
    * for the duration of `body` — a query built or executed CONCURRENTLY
    * on the same SparkSession would silently plan without AQE, and two
    * overlapping noAqe scopes can restore the wrong value. Every caller
    * in this repo (catalog builders under Verify/Bench/PlanAudit, specs
    * under SparkFixture) drives the session from one thread at a time;
    * do not call this from parallel test runners or multi-threaded
    * drivers sharing a session. */
  def noAqe[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
