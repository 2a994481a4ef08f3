package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Ckpt._

/** Fixed-iteration PageRank over an edge list — the graph-quality signal
  * of web-corpus pipelines (host-level PageRank as a document quality
  * prior), expressed as an unrolled DataFrame loop: each iteration is two
  * shuffled joins + one aggregation, the same Pregel shape as
  * [[ConnectedComponents]] but with weighted mass instead of min-labels.
  *
  * Cross-engine determinism (the reason this doesn't use a plain double
  * `sum`): each contribution is ONE IEEE division rounded to 8 decimals
  * and cast to DECIMAL before the sum, so accumulation order can't change
  * the result; the rank update is again a single rounded IEEE expression.
  * A DuckDB oracle unrolling the same iterations reproduces every bit.
  *
  * Fixed iteration count (not convergence-tested): rank consumers want a
  * stable per-round cost envelope, and k ≈ 3-10 captures the quality
  * ordering — the standard production trade-off.
  */
object PageRank {

  /** Broadcasting the |V|-row rank table collects it through the driver, so
    * the hint must be CONDITIONAL: past this many vertices the iteration
    * falls back to the standard shuffled join instead of OOMing the driver.
    * Default ≈ a few hundred MB of (long, double) rows — comfortably inside
    * executor/driver memory on any real cluster; [[run]] and
    * [[runPersonalized]] take another cap as `broadcastMaxVerts`. */
  val DefaultBroadcastMaxVerts = 10_000_000L

  /** One damped-update iteration, pre-checkpoint (exposed for plan tests).
    * When `useBroadcast`, ranks/contrib are |V|-row tables broadcast to the
    * |E|-row edge probe — a NARROW pass over edges (no edge shuffle,
    * map-side partial agg on dst), the |V| ≪ |E| regime that holds for
    * host-graph quality priors. Otherwise both joins shuffle — the plain
    * scalable shape. */
  private[graft] def step(degEdges: DataFrame, verts: DataFrame,
                          ranks: DataFrame, useBroadcast: Boolean): DataFrame = {
    def hint(df: DataFrame) = if (useBroadcast) broadcast(df) else df
    val contrib = degEdges.join(hint(ranks), col("src") === col("v"))
      .select(col("dst"),
        expr("CAST(round(r / deg, 8) AS DECIMAL(28,10))").as("c"))
      .groupBy("dst").agg(sum(col("c")).as("sc"))
    // literal strings, not 1 - 0.85 in Scala (whose double formatting
    // would leak 0.15000000000000002 into the plan)
    verts.join(hint(contrib), col("v") === col("dst"), "left_outer")
      .select(col("v"), expr(
        "CAST(round(0.15 + 0.85 * coalesce(CAST(sc AS DOUBLE), 0.0), 8) AS DOUBLE)")
        .as("r"))
  }

  /** One personalized iteration: like [[step]] but teleport mass lands
    * ONLY on the seed set (`verts` carries s ∈ {0,1}) — the rank update is
    * r = 0.15·s + 0.85·Σc, the topic-sensitive PageRank recurrence. Same
    * determinism discipline (one rounded IEEE expression; decimal-summed
    * contributions). */
  private def stepPersonalized(degEdges: DataFrame, verts: DataFrame,
                               ranks: DataFrame, useBroadcast: Boolean): DataFrame = {
    def hint(df: DataFrame) = if (useBroadcast) broadcast(df) else df
    val contrib = degEdges.join(hint(ranks), col("src") === col("v"))
      .select(col("dst"),
        expr("CAST(round(r / deg, 8) AS DECIMAL(28,10))").as("c"))
      .groupBy("dst").agg(sum(col("c")).as("sc"))
    verts.join(hint(contrib), col("v") === col("dst"), "left_outer")
      .select(col("v"), col("s"), expr(
        "CAST(round(0.15 * s + 0.85 * coalesce(CAST(sc AS DOUBLE), 0.0), 8) AS DOUBLE)")
        .as("r"))
  }

  /** Personalized (topic-sensitive) PageRank: teleport mass lands only on
    * `seeds` (a (v) table), so ranks measure proximity to the seed set —
    * the "trusted seed" quality prior of web-corpus curation (TrustRank
    * shape). r₀ = 1[v ∈ seeds]; per-iteration r = 0.15·s + 0.85·Σc. Same
    * shuffle profile, broadcast gate, and cross-engine determinism as
    * [[run]]; a vertex unreachable from the seeds keeps rank 0 (not the
    * uniform 0.15) — that asymmetry is the point of personalization.
    * @return (v, s, r): seed flag and rank after `iters` iterations. */
  def runPersonalized(edges0: DataFrame, iters: Int, seeds: DataFrame,
                      broadcastMaxVerts: Long = DefaultBroadcastMaxVerts): DataFrame = {
    require(iters >= 1 && iters <= 20, s"iters must be in [1, 20], got $iters")
    val edges = edges0.select(col("src"), col("dst")).ckpt()
    val degEdges = edges
      .join(edges.groupBy("src").agg(count(lit(1)).as("deg")), "src")
      .ckpt()
    val verts = edges.select(col("src").as("v"))
      .unionByName(edges.select(col("dst").as("v"))).distinct()
      .join(seeds.select(col("v")).distinct().withColumn("__s", lit(1L)),
        Seq("v"), "left_outer")
      .select(col("v"), coalesce(col("__s"), lit(0L)).as("s"))
      .ckpt()
    val useBroadcast = verts.count() <= broadcastMaxVerts
    var ranks = verts.select(col("v"), col("s"), col("s").cast("double").as("r"))
    var done = 0
    Ckpt.noAqe(edges0.sparkSession) {
      while (done < iters) {
        val fused = math.min(CkptCadence, iters - done)
        for (_ <- 1 to fused)
          ranks = stepPersonalized(degEdges, verts, ranks, useBroadcast)
        ranks = ranks.ckpt()
        done += fused
      }
    }
    ranks
  }

  /** Iterations fused per checkpoint barrier. The rank frame feeds the
    * next step exactly ONCE, so an un-materialized step chain grows the
    * plan LINEARLY (no self-join tree blow-up), and each step's work is
    * still executed exactly once inside the barrier job — fusing only
    * removes the per-iteration eager-checkpoint job + LogicalRDD rebuild
    * (measured q_pagerank 3.7 → 2.0 s median at sf0.1, SCALE.md round-10
    * table). Capped at 4: join-size ESTIMATES still compound across
    * un-truncated steps, and 4 keeps the worst-case estimate growth far
    * from the BigInt-stats planner hang [[Ckpt]] exists to prevent. */
  val CkptCadence = 4

  /** @param edges0 (src, dst) BIGINT pairs, already in the direction(s)
    *   mass should flow (pass both directions for an undirected graph).
    * @param broadcastMaxVerts broadcast the rank table only up to this |V|
    *   ([[DefaultBroadcastMaxVerts]]).
    * @return (v, r) ranks after `iters` damped iterations (d = 0.85). */
  def run(edges0: DataFrame, iters: Int,
          broadcastMaxVerts: Long = DefaultBroadcastMaxVerts): DataFrame = {
    require(iters >= 1 && iters <= 20, s"iters must be in [1, 20], got $iters")
    // edges feed every iteration, so they checkpoint once up front; rank
    // frames feed ONLY the next step, so steps fuse into one plan per
    // CkptCadence barrier (see below) instead of paying an eager
    // checkpoint job per iteration
    val edges = edges0.select(col("src"), col("dst")).ckpt()
    // pre-join degree onto the edge once instead of re-joining per round
    val degEdges = edges
      .join(edges.groupBy("src").agg(count(lit(1)).as("deg")), "src")
      .ckpt()
    val verts = edges.select(col("src").as("v"))
      .unionByName(edges.select(col("dst").as("v")))
      .distinct().ckpt()
    // |V| is known exactly (verts is checkpointed — the count is one cheap
    // scan, amortized over every iteration); gate the broadcast hint on it
    val useBroadcast = verts.count() <= broadcastMaxVerts
    var ranks = verts.withColumn("r", lit(1.0))
    var done = 0
    // noAqe: the loop consumes only checkpointed frames with measured
    // stats plus explicit broadcast hints, so AQE's per-stage job
    // barriers buy nothing here (see Ckpt.noAqe / ConnectedComponents)
    Ckpt.noAqe(edges0.sparkSession) {
      while (done < iters) {
        val fused = math.min(CkptCadence, iters - done)
        for (_ <- 1 to fused)
          ranks = step(degEdges, verts, ranks, useBroadcast)
        ranks = ranks.ckpt()
        done += fused
      }
    }
    ranks
  }
}
