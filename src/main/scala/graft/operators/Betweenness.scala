package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Ckpt._

/** Bounded-seed Brandes betweenness centrality (Brandes '01) — the
  * "which vertices sit on the most shortest paths" primitive, restated
  * as the two unrolled Pregel sweeps the algorithm actually is:
  *
  *  1. FORWARD (path counting): per round, the frontier joins the edge
  *     list once and σ(seed, v) = Σ σ over in-neighbors at the previous
  *     level accumulates as an exact BIGINT; the settled set drops
  *     re-reached vertices (a vertex's shortest-path predecessors are
  *     all exactly one level shallower, so level sets ARE the
  *     shortest-path DAG).
  *  2. BACKWARD (dependency accumulation): for levels ℓ = depth−1 … 1,
  *     δ(v) = Σ over successors w at level ℓ+1 of (σv/σw)·(1 + δw).
  *     Each per-edge term is one correctly-rounded division + multiply
  *     rounded to 8 decimals from identical inputs in both engines, then
  *     decimal-summed and re-rounded — so δ is partition- and
  *     engine-invariant all the way up the DAG.
  *
  * Betweenness(v) = Σ over seeds of δ_seed(v), v ≠ seed.
  *
  * SCALE CONTRACT (same as q_closeness): per-seed state is the seed's
  * ≤depth-hop ball, so the seed set must be a CONSTANT (top-k by degree,
  * caller-chosen) — k·|ball| state, one frontier×edges join per round
  * regardless of k. Exact all-pairs betweenness is O(V·E) and belongs to
  * sampling estimators (Riondato-Kornaropoulos), not this operator.
  *
  * EXECUTION SHAPE (round-12 rework; r11's per-job breakdown showed the wall
  * was the per-round σ-aggregation shuffles — 37 MB + 63 MB at sf0.1 —
  * not the expansion joins, and every action-fusion/noAqe/pin variant
  * measured neutral-or-worse):
  *
  *  - MS-BFS SHARED FRONTIER (Then et al., VLDB'14): per-seed σ state is
  *    packed into ONE array row per frontier VERTEX — the balls of a
  *    constant seed set overlap almost completely past round 1, so the
  *    packed frontier is |seeds|× smaller than the (seed, v) row form
  *    and comfortably broadcast-sized under the contract.
  *  - EDGES PARTITIONED BY DST, frontier broadcast into the expansion
  *    join: the σ-candidate stream comes out of the join ALREADY
  *    partitioned by the grouping vertex, so the per-round σ-aggregation
  *    (groupBy v, seed) and the next round's re-packing (groupBy v)
  *    require NO exchange — the two multi-MB shuffles per round that
  *    dominated r11 disappear; Spark's alias-aware partitioning
  *    propagation carries hash(dst) through the join, the explode and
  *    both aggregations.
  *  - settled-set exclusion is a broadcast anti-join (ball-sized build)
  *    instead of r11's tag-union ride-along (which forced the union
  *    back through a shuffle).
  *  - all broadcast hints are GATED on measured graph size (the
  *    PageRank broadcastMaxVerts discipline): past the threshold every
  *    hint drops away and the same plan runs as plain shuffle
  *    joins/aggregations — the standard scalable shape.
  */
object Betweenness {

  /** Measured edge-block bytes above which the broadcast hints drop. */
  private val BroadcastMaxEdgeBytes = 1L << 30

  /** @param edges (src, dst) BIGINT pairs, both directions for undirected.
    * @param seeds (seed) — the bounded source set.
    * @param depth forward rounds (shortest-path DAG truncated at this
    *   many hops — the documented contract, as in [[Bfs]]).
    * @return (v, bc): Σ-over-seeds dependency of every non-seed vertex
    *   on some truncated shortest path, 8-decimal deterministic. */
  def run(edges0: DataFrame, seeds: DataFrame, depth: Int): DataFrame = {
    require(depth >= 1 && depth <= 6, s"depth must be in [1, 6], got $depth")
    runInner(edges0, seeds, depth)
  }

  private def runInner(edges0: DataFrame, seeds: DataFrame,
                       depth: Int): DataFrame = {
    // Partition the edge list by DST (round-12; was src): the frontier
    // side is broadcast, so the expansion join's output partitioning is
    // the EDGE side's — and every downstream consumer (σ-agg, repack)
    // groups by the candidate vertex, which IS dst. One up-front shuffle
    // buys zero exchanges per round. The explicit partition count also
    // restores full parallelism when the caller's edge list arrives
    // AQE-coalesced to a handful of partitions (r11 finding: an 8-wide
    // σ-expansion on a 32-core box).
    val sc = edges0.sparkSession.sparkContext
    def label[T](l: String)(body: => T): T = {
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"betweenness: $l")
      try body finally sc.setJobDescription(prev)
    }
    val edges = label("edges ckpt") {
      spreadBy(edges0.select(col("src"), col("dst")), col("dst")).ckpt()
    }
    // Broadcast-hint gate (the PageRank broadcastMaxVerts discipline):
    // frontier/settled/δ frames are ball-sized by the seed contract, but
    // an explicit hint is a promise the planner can't veto — so it is
    // gated on the measured graph size, and past the threshold the
    // operator runs the plain shuffle shape. The gate reads the ckpt's
    // MEASURED block size off the plan stats (localCheckpointMeasured) —
    // driver-side, zero jobs, where a count would cost one more of the
    // fixed-cost barriers this operator is budgeted by. ~1 GiB of edge
    // blocks ≈ 50 M+ edges: well past the point where a ball could
    // plausibly stay broadcast-sized.
    val useBroadcast = edges.queryExecution.optimizedPlan.stats.sizeInBytes <=
      BigInt(BroadcastMaxEdgeBytes)
    def hint(df: DataFrame): DataFrame =
      if (useBroadcast) broadcast(df) else df
    // level 0 — the seeds themselves; σ(seed, seed) = 1. Eager ckpt: it
    // is tiny and truncates the caller's seed-derivation lineage.
    var frontier = label("seed frontier") {
      seeds.select(col("seed")).distinct()
        .select(col("seed"), col("seed").as("v"), lit(1L).as("sig"))
        .ckpt()
    }
    val levels = scala.collection.mutable.ArrayBuffer(frontier)
    // Lazy-persist cadence (r11): frames with >1 consumer are persisted;
    // the first consumer materializes, the rest read cache (worst case a
    // racing stage duplicates a tiny deterministic frame). All persists
    // are tracked and released once the final union has materialized —
    // caches must not accumulate across run() invocations in a session.
    val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def lazyPersist(df: DataFrame): DataFrame = {
      val p = df.persist(); persisted += p; p
    }
    // per-round TRANSITIONS — the packed frontier×edges expansion
    // (pred, v-candidate, ss = [(seed, σ_pred)]), exactly the rows the
    // backward sweep's contribution join needs (levels(ℓ-1)⋈edges ≡
    // trans(ℓ)); caching them replaces one frontier×edges re-join per
    // backward level with a cache read. trans(1) is never consumed
    // twice (backward stops at lvl 1 reading trans(2)) and skips the
    // cache.
    val trans = new Array[DataFrame](depth + 1)
    for (i <- 1 to depth) {
      // pack per-seed state per vertex (no exchange: frontier frames
      // are hash(v)-partitioned from the previous round's aggregation,
      // and round 1's seed frame is tiny), broadcast into the edge probe
      val fv = frontier.groupBy("v")
        .agg(collect_list(struct(col("seed"), col("sig"))).as("ss"))
      val t = hint(fv).join(edges, col("v") === col("src"))
        .select(col("v").as("pred"), col("dst").as("v"), col("ss"))
      trans(i) = if (i >= 2) lazyPersist(t) else t
      // σ-aggregation: explode the packed state back to per-seed rows
      // (narrow) and sum — grouping key (v, seed) is co-partitioned
      // with the dst-partitioned candidate stream, so NO exchange; the
      // settled exclusion is a broadcast anti-join on the ball-sized
      // union of prior levels.
      val settled = levels.map(_.select("seed", "v")).reduce(_ unionByName _)
      val next = trans(i)
        .select(col("v"), explode(col("ss")).as("s"))
        .select(col("v"), col("s.seed").as("seed"), col("s.sig").as("sig"))
        .groupBy("v", "seed").agg(sum(col("sig")).as("sig"))
        .join(hint(settled), Seq("seed", "v"), "left_anti")
        .select(col("seed"), col("v"), col("sig"))
      // even levels pay the eager ckpt barrier that truncates lineage;
      // odd + terminal levels are lazy (bounded consumers — the r11
      // cadence, every alternative A/B'd neutral-or-worse)
      frontier =
        if (i % 2 == 0) label(s"fwd round $i ckpt")(next.ckpt()).coalesce(8)
        else lazyPersist(next)
      levels += frontier
    }
    // backward: δ at the deepest level is 0; walk levels depth-1 … 1.
    // Each level's δ is its own materialized frame (index = dist) — the
    // sweep at lvl reads exactly levels(lvl), levels(lvl+1), and the
    // just-computed δ(lvl+1), never a growing union.
    val deltas = new Array[DataFrame](depth + 1)
    deltas(depth) = levels(depth)
      .select(col("seed"), col("v"), lit(0.0).as("delta"))
    for (lvl <- (depth - 1) to 1 by -1) {
      val fr = levels(lvl)
      val succ = levels(lvl + 1)
        .select(col("seed").as("sseed"), col("v").as("w"), col("sig").as("sigw"))
        .join(hint(deltas(lvl + 1).select(col("seed").as("sseed"),
          col("v").as("w"), col("delta").as("dw"))), Seq("sseed", "w"))
      // DAG edges level ℓ → ℓ+1 are exactly the forward transitions of
      // round ℓ+1 restricted to vertices that LANDED at level ℓ+1 (the
      // succ inner join does the restriction; trans.pred ∈ level ℓ by
      // construction) — the cached packed trans is re-exploded (narrow)
      // instead of paying an fr×edges re-expansion per level, and the
      // ball-sized succ side is broadcast, so the contribution join
      // leaves the dst-partitioned transition stream in place.
      val te = trans(lvl + 1)
        .select(col("pred"), col("v"), explode(col("ss")).as("s"))
        .select(col("s.seed").as("seed"), col("pred"), col("v"),
          col("s.sig").as("sig"))
      val contrib = te
        .join(hint(succ), col("seed") === col("sseed") && col("v") === col("w"))
        .withColumn("c", expr(
          "round((CAST(sig AS DOUBLE) / CAST(sigw AS DOUBLE)) * (1.0 + dw), 8)"))
      val d = fr.join(
          hint(contrib.groupBy("seed", "pred")
            .agg(graft.queries.dsum(col("c"), 8).as("s"))
            .select(col("seed"), col("pred").as("v"), col("s"))),
          Seq("seed", "v"), "left_outer")
        .select(col("seed"), col("v"),
          expr("round(coalesce(s, 0.0), 8)").as("delta"))
      // δ(lvl) has ≤2 consumers (the next sweep's succ side + the final
      // union); δ(1) exactly one — same cadence: eager barrier on even
      // levels only, lazy persist on odd (none at all for δ(1))
      deltas(lvl) =
        if (lvl % 2 == 0) label(s"bwd level $lvl ckpt")(d.ckpt()).coalesce(8)
        else if (lvl > 1) lazyPersist(d) else d
    }
    // bc(v) = Σ over seeds of δ; the seed row itself (dist 0) never
    // enters delta, so no v = seed exclusion is needed. The final union
    // is ckpt'd (eagerly materialized — it is ball-sized, tiny) so every
    // lazily persisted σ/δ frame can be released HERE: their last
    // consumer is this union, and without the unpersist the cached
    // blocks would pile up on executors across run() invocations.
    val out = label("final union ckpt") {
      (1 to depth).map(deltas).reduce(_ unionByName _).groupBy("v")
        .agg(count(lit(1)).as("n_seeds"),
          expr("round(CAST(sum(CAST(delta AS DECIMAL(18,8))) AS DOUBLE), 6)")
            .as("bc"))
        .ckpt()
    }
    persisted.foreach(_.unpersist(blocking = false))
    out
  }
}
