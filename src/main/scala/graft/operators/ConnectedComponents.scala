package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Ckpt._

/** Distributed connected components over an edge list — the union-find view
  * of near-dup clustering (LlmOps.q_dedup_components), usable on any
  * (a, b) edge DataFrame.
  *
  * Algorithm: Shiloach–Vishkin-style min-label convergence. Each round
  * every vertex takes the min of
  *   - its neighbors' labels (1-hop spread),
  *   - its label's label (pointer jumping: path halving), and
  *   - HOOKING — for every edge (a, b), label(a) itself receives
  *     label(b) as a candidate: the min label crosses between label-TREES
  *     through any edge connecting them, in one round, regardless of how
  *     far the edge is from either tree's root.
  * The hook term is what makes this O(log) rather than O(diameter): with
  * only neighbor-min + jumping, the component minimum spreads as a 1-hop
  * wave through id-plateaus (measured live: a 1,839-cell grid blob was
  * still moving at round 60), whereas hooking contracts the tree-adjacency
  * graph so the per-component label count collapses geometrically — the
  * same grid converges in 12 rounds, and DedupScaleSpec's adversarial
  * 1000-link duplicate chain stays ≤ 12 rounds.
  *
  * FIXED-COST DISCIPLINE (round-10): on a tiny frame the per-round wall
  * cost is driver fixed cost, not data — every broadcast collect and AQE
  * stage materialization is its own scheduled job, and `Dataset.count`
  * plans a two-stage aggregate (~170 ms even on 4k rows — round-10
  * barrier micro-benchmark, SCALE.md).
  * So each round (a) emits the neighbor + hook candidates from ONE join
  * tree via inline(array(...)) so all three joins build the identical
  * [v, l] broadcast of `cur` and exchange reuse collapses them (separate
  * union branches got pruned differently and paid five broadcast-collect
  * jobs), (b) jumps FOUR pointer hops per barrier (see below), and
  * (c) counts convergence with the narrow [[Ckpt.fastCount]]. Measured
  * together: q_dbscan 59 → 36 jobs, 4.0 → 3.2 s median (SCALE.md
  * round-10 table). Rejected alternatives, both measured slower: whole
  * loop under [[Ckpt.noAqe]] (AQE's partition coalescing pays for its
  * stage barriers) and fusing two full rounds per barrier (the
  * un-materialized mid round is referenced ~5× by the outer round's plan,
  * so its joins re-execute per reference — job time doubled).
  *
  * Per round: two chained edge⋈label joins + the jump chain + one
  * aggregation, then a stats-truncating checkpoint ([[Ckpt]] — plain
  * localCheckpoint compounds estimated Statistics across self-joining
  * rounds until the planner hangs multiplying million-digit BigInts). The
  * convergence test rides the SAME aggregation: the previous label is
  * carried through as `lo` into the checkpointed result, so "changed" is a
  * column compare over materialized blocks — no second join re-running the
  * propagation, no driver-side plan growth.
  *
  * A hard `maxRounds` cap (default 50 ≫ log₂ of any real graph) bounds the
  * loop on any input; hitting it logs a bailout and returns the partial
  * labels rather than spinning.
  */
object ConnectedComponents {

  /** @param edges (a, b) pairs, either direction, BIGINT vertex ids.
    * @param requireConverged when true, hitting the round cap with labels
    *   still moving THROWS instead of warning — for callers that build on
    *   the labels (e.g. [[Mst]], where a partial merge would let a later
    *   Borůvka round silently close a cycle).
    * @return (labels DataFrame with columns (v, l) — l = component min —
    *         and the number of propagation rounds run). */
  def labels(edges: DataFrame, maxRounds: Int = 50,
             requireConverged: Boolean = false): (DataFrame, Int) = {
    // ckpt BEFORE mirroring: a union of a plan with its own mirror
    // duplicates the upstream subtree, so an expensive edge derivation
    // (minhash candidate pairs, grid adjacency) would execute twice; the
    // mirror of a checkpointed frame is two cheap block scans
    val e0 = edges.select(col("a"), col("b")).ckpt()
    val sym = e0
      .unionByName(e0.select(col("b").as("a"), col("a").as("b")))
      .ckpt()
    var cur = sym.select(col("a").as("v")).distinct()
      .withColumn("l", col("v")).ckpt()
    var round = 0
    var changed = 1L
    while (changed > 0 && round < maxRounds) {
      round += 1
      // (a, la, lb) per symmetric edge: one join per endpoint. The
      // neighbor and hook candidates are emitted from this ONE join tree
      // via inline(array(...)) rather than two union branches: separate
      // branches duplicate the join subtree and column-prune each copy
      // differently, so the per-branch broadcasts of `cur` no longer
      // canonicalize equal and every round paid FIVE broadcast-collect
      // jobs; emitted together, all three joins below build the identical
      // [v, l] broadcast and ReuseExchange collapses them into ONE
      // (job profile: q_dbscan 59 → 35 jobs, SCALE.md round-10 table).
      val withBoth = sym.join(cur, col("b") === col("v"))
        .select(col("a"), col("l").as("lb"))
        .join(cur, col("a") === col("v"))
        .select(col("a"), col("l").as("la"), col("lb"))
      val nbrHook = withBoth.select(expr(
        // neighbor: a hears lb; hooking: the label vertex la hears lb
        // (and lb hears la via the mirrored symmetric edge)
        "inline(array(struct(a AS v, lb AS l, false AS self), " +
          "struct(la AS v, lb AS l, false AS self)))"))
      // pointer jumping, 4 hops per round: l⁴(v) = l(l(l(l(v)))).
      // Sound because labels are self-decreasing (l(x) ≤ x — own id rides
      // every min), so l⁴ ≤ l³ ≤ l² pointwise and one l⁴ candidate
      // subsumes the lower powers; each extra hop is one more broadcast
      // probe of the SAME cur broadcast inside the same stage — zero
      // extra barriers — while the label trees collapse ~4× per round
      // instead of ~2× (chain-1000: 12 → 7 rounds, DedupScaleSpec).
      val ptr = cur.as("x").join(cur.as("j1"), col("x.l") === col("j1.v"))
        .select(col("x.v").as("pv"), col("j1.l").as("l2"))
        .join(cur.as("j2"), col("l2") === col("j2.v"))
        .select(col("pv"), col("j2.l").as("l3"))
        .join(cur.as("j3"), col("l3") === col("j3.v"))
        .select(col("pv").as("v"), col("j3.l").as("l"), lit(false).as("self"))
      val next = nbrHook
        .unionByName(ptr)
        .unionByName(cur.select(col("v"), col("l"), lit(true).as("self")))
        .groupBy("v")
        .agg(min(col("l")).as("l"),
          min(when(col("self"), col("l"))).as("lo"))
        .ckpt()
      // narrow scan over the just-materialized blocks — not a recompute,
      // and no aggregate exchange (Ckpt.fastCount)
      changed = Ckpt.fastCount(next.where(col("l") =!= col("lo")))
      cur = next.select("v", "l")
    }
    if (changed > 0) {
      if (requireConverged)
        throw new IllegalStateException(
          s"ConnectedComponents did not converge in $maxRounds rounds " +
            s"($changed labels still moving)")
      System.err.println(
        s"[graft] ConnectedComponents: round cap $maxRounds hit with " +
          s"$changed labels still moving — returning partial labels")
    }
    (cur, round)
  }

  /** Labels of `edges` given the CONVERGED labels of a SUBGRAPH of it
    * (the q_percolation nested-threshold / q_robustness hub-cut case):
    * rather than seeding the full-size fixpoint — which still pays
    * whole-edge-set rounds just to detect convergence — CONTRACT the
    * graph by the seed partition (the [[Mst]] merge trick), run the
    * fixpoint on the component-count-sized contracted graph, and relabel
    * through one join. Seed labels must each lie inside their vertex's
    * own component of `edges` (guaranteed when the seed is a converged
    * labeling of any edge-subset); then the result is IDENTICAL to a
    * cold `labels(edges)` run — min vertex id per component — at
    * O(E) contraction + O(components) fixpoint cost.
    *
    * @param seed (v, l) converged subgraph labels; vertices of `edges`
    *   absent from the seed start as their own singleton.
    * @return (labels (v, l), inner fixpoint rounds). */
  def refine(edges: DataFrame, seed: DataFrame,
             maxRounds: Int = 50): (DataFrame, Int) = {
    val verts = edges.select(col("a").as("v"))
      .unionByName(edges.select(col("b").as("v"))).distinct()
    val vl = verts
      .join(seed.select(col("v"), col("l").as("sl")), Seq("v"), "left_outer")
      .select(col("v"), coalesce(col("sl"), col("v")).as("l0"))
      .ckpt() // consumed by the contraction join AND the final relabel
    val cedges = edges
      .join(vl.select(col("v").as("a"), col("l0").as("la")), "a")
      .join(vl.select(col("v").as("b"), col("l0").as("lb")), "b")
      .where(col("la") =!= col("lb"))
      .select(col("la").as("a"), col("lb").as("b")).distinct()
    // requireConverged: a round-cap bailout here would return silently
    // partial labels, breaking the documented "identical to a cold
    // labels() run" contract that q_percolation/q_robustness hash-gates
    // build on — fail loudly instead.
    val (clbl, rounds) = labels(cedges, maxRounds, requireConverged = true)
    val out = vl
      .join(clbl.select(col("v").as("l0"), col("l")), Seq("l0"), "left_outer")
      .select(col("v"), coalesce(col("l"), col("l0")).as("l"))
      .ckpt()
    (out, rounds)
  }
}
