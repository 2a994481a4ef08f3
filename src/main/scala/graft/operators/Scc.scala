package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Ckpt._

/** User-scale strongly connected components — forward/backward
  * reachability peeling (the FW-BW / coloring family: Fleischer-Hendrickson-
  * Pinar '00, restated as synchronous label propagation), the algorithm the
  * `q_scc` contract comment promises for graphs too big for closure by
  * doubling (doubling materializes the reachability RELATION — Θ(V²) rows
  * on a dense condensation — where peeling only ever holds one label per
  * vertex).
  *
  * Outer peeling round over the ACTIVE subgraph:
  *
  *  1. FORWARD min-label fixpoint: f(v) = min vertex id that reaches v
  *     (own id included). Each round takes per vertex the min of its
  *     current label, its in-neighbors' labels (1-hop), and its LABEL'S
  *     label (pointer jumping — valid because reachability is transitive:
  *     f(v) reaches v and f(f(v)) reaches f(v), so f(f(v)) reaches v; the
  *     fixpoint is unchanged, but long reach chains collapse geometrically,
  *     so rounds are O(log diameter) instead of O(diameter) — measured
  *     14.1 s → 10.5 s median on the sf0.1 supplier succession graph's
  *     870-vertex SCC). Vertices with f(v) = v are ROOTS: nothing smaller reaches
  *     them.
  *  2. BACKWARD: the same min-label fixpoint over REVERSED edges
  *     restricted to equal-f-label endpoints. Within one label region
  *     every vertex is ≥ the region root r and the region contains
  *     SCC(r) entirely, so h(v) — the min vertex v reaches FORWARD inside
  *     the region — equals r exactly when v reaches its root, i.e.
  *     v ∈ SCC(r) = F(r) ∩ B(r) (Fleischer et al. Thm 1; here F = the
  *     f-label region, B = {v : h(v) = r}). Replaces the earlier
  *     frontier-BFS flag spread (O(depth) rounds, growing union plan)
  *     with the same O(log) jumped fixpoint and O(V) state.
  *  3. Settle every v with h(v) = f(v) as scc = f(v); remove from active.
  *     Each outer round settles at least every current root's SCC, so the
  *     round count is bounded by the longest root-chain in the
  *     condensation, not |V|.
  *
  * FIXED-COST DISCIPLINE (round-10): under AQE every exchange materializes
  * as its own job, and this operator's wall time on the harness graph was
  * ~50% BETWEEN jobs (153 jobs, job profile) — so (a) the trim round is ONE
  * union+groupBy shuffle instead of two distincts + a join + an anti-join
  * (in/out degree flags and settled-singleton detection ride the same
  * aggregation), and (b) every convergence/settle count is a narrow
  * [[Ckpt.fastCount]] over just-materialized blocks instead of a
  * two-stage aggregate (~170 ms of fixed cost per round at any data
  * size). Whole-loop AQE-off and two-rounds-per-barrier fusion were both
  * tried and measured SLOWER (SCALE.md round-10 study): AQE's partition
  * coalescing pays for its stage barriers here, and a fused mid-round is
  * referenced ~4x by the next round's plan so its joins re-execute per
  * reference.
  *
  * Determinism: labels are integer ids, min algebra only — no floats,
  * no randomness; output is engine- and partitioning-invariant.
  *
  * SCALE CONTRACT: per-round state is ONE (v, f) row per active vertex
  * (O(V)), each propagation round is two joins + one partial-agg'd shuffle
  * over the active edge set (O(E + V)), and work SHRINKS as components
  * settle — the shape that survives a 1000-executor graph. The iteration
  * bounds are the caller's declared contract (like [[Bfs]]/[[LabelProp]]
  * rounds): the operator fails loudly via `require` if the graph needs
  * more, it never returns a silently-wrong partial answer.
  *
  * @see `queries/Wave26.scala` `q_scc` — the dimension-scale (≤25-node)
  *      closure-by-doubling twin this operator replaces at user scale;
  *      `queries/Wave39.scala` `q_scc_user` — the oracle-gated value
  *      proof on the harness supplier succession digraph.
  */
object Scc {

  /** @param edges0 (src, dst) BIGINT pairs, DIRECTED. Self-loops and
    *   duplicates are dropped.
    * @param maxOuter peeling-round bound (≥ longest root-chain in the
    *   condensation; fails loudly if exceeded).
    * @param maxProp per-fixpoint propagation bound (≥ log₂ of the active
    *   subgraph's reachability diameter, with slack; fails loudly if
    *   exceeded).
    * @return (v, scc): scc = min vertex id of v's strongly connected
    *   component, one row per vertex that appears in any edge. */
  def run(edges0: DataFrame, maxOuter: Int = 10, maxProp: Int = 60)
      : DataFrame = {
    require(maxOuter >= 1 && maxOuter <= 50,
      s"maxOuter must be in [1, 50], got $maxOuter")
    require(maxProp >= 1 && maxProp <= 200,
      s"maxProp must be in [1, 200], got $maxProp")
    val edges = edges0.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst")).distinct().ckpt()
    var active = edges.select(col("src").as("v"))
      .unionByName(edges.select(col("dst").as("v"))).distinct().ckpt()
    val settled = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var outer = 0
    while (outer < maxOuter && !active.isEmpty) {
      outer += 1
      // 0. TRIM to fixpoint (the FW-BW-Trim step): a vertex with no
      //    in-edge or no out-edge in the active subgraph cannot lie on a
      //    cycle — settle it as its own singleton. Iterating peels whole
      //    source/sink chains. Each round is ONE aggregation: active
      //    vertices and both edge endpoints union into a per-vertex
      //    max(out-flag)/max(in-flag) groupBy, so "keeps both sides" and
      //    "settles this round" are filters over the SAME materialized
      //    frame (previously two distincts + a join + an anti-join — three
      //    extra exchanges and two extra job barriers per trim round).
      var ae = edges
        .join(active.select(col("v").as("src")), Seq("src"), "left_semi")
        .join(active.select(col("v").as("dst")), Seq("dst"), "left_semi")
        .ckpt()
      var trimRound = 0
      var trimming = true
      while (trimming) {
        trimRound += 1
        require(trimRound <= maxProp,
          s"trim exceeded $maxProp rounds (outer $outer)")
        val stat = ae.select(col("src").as("v"), lit(1).as("o"), lit(0).as("i"))
          .unionByName(ae.select(col("dst").as("v"), lit(0).as("o"),
            lit(1).as("i")))
          .unionByName(active.select(col("v"), lit(0).as("o"), lit(0).as("i")))
          .groupBy("v").agg(max(col("o")).as("o"), max(col("i")).as("i"))
          .ckpt()
        val trivCnt =
          Ckpt.fastCount(stat.where(col("o") === 0 || col("i") === 0))
        if (trivCnt == 0L) trimming = false
        else {
          // narrow filters over the just-materialized stat blocks — no
          // recompute and no ckpt barrier: each consumer re-scans the
          // materialized stat frame, which is cheaper than an eager
          // checkpoint job per trim round
          settled += stat.where(col("o") === 0 || col("i") === 0)
            .select(col("v"), col("v").as("scc"))
          active = stat.where(col("o") === 1 && col("i") === 1)
            .select("v") // ⊆ active by construction
          ae = ae
            .join(active.select(col("v").as("src")), Seq("src"), "left_semi")
            .join(active.select(col("v").as("dst")), Seq("dst"), "left_semi")
            .ckpt()
        }
      }
      if (!active.isEmpty) { // otherwise a DAG — trim settled everything
        // 1. forward min-label fixpoint over the active subgraph
        val lbl = minReach(active, ae, maxProp, s"forward (outer $outer)")
        // 2. the same fixpoint on REVERSED edges within equal f-label
        //    regions: h(v) = min vertex v reaches forward inside its region
        val rev = ae
          .join(lbl.select(col("v").as("src"), col("f").as("fs")), "src")
          .join(lbl.select(col("v").as("dst"), col("f").as("fd")), "dst")
          .where(col("fs") === col("fd"))
          .select(col("dst").as("src"), col("src").as("dst")).ckpt()
        val h = minReach(lbl.select("v"), rev, maxProp,
          s"backward (outer $outer)")
        // 3. settle: v reaches its region root ⟺ h(v) = f(v)
        // lazy: a broadcast join of two checkpointed frames, consumed
        // twice (settled union + active anti-join) — re-executing it is
        // cheaper than an eager checkpoint barrier
        val just = lbl
          .join(h.select(col("v"), col("f").as("h")), "v")
          .where(col("h") === col("f"))
          .select(col("v"), col("f").as("scc"))
        settled += just
        active = active.join(just.select("v"), Seq("v"), "left_anti").ckpt()
      }
    }
    require(active.isEmpty,
      s"SCC peeling did not converge in $maxOuter outer rounds")
    if (settled.isEmpty) // no non-self-loop edges → no vertices
      active.select(col("v"), col("v").as("scc"))
    else settled.reduce(_ unionByName _)
  }

  /** Min-label reachability fixpoint with pointer jumping: per round each
    * vertex takes min(own f, in-neighbors' f, f(f)) — one edges join, one
    * label self-join, one partial-agg'd min shuffle. The previous label
    * rides through the aggregation as `fo`, so convergence detection is a
    * column compare over the just-materialized blocks (the
    * [[ConnectedComponents.labels]] discipline — no recompute). */
  private def minReach(verts: DataFrame, edges: DataFrame, maxProp: Int,
                       what: String): DataFrame = {
    var lbl = verts.select(col("v"), col("v").as("f")).ckpt()
    var changed = 1L
    var prop = 0
    while (changed > 0) {
      prop += 1
      require(prop <= maxProp,
        s"$what propagation exceeded $maxProp rounds")
      val oneHop = lbl.join(edges, col("v") === col("src"))
        .select(col("dst").as("v"), col("f"), lit(false).as("self"))
      // 4-hop pointer jump per round (f⁴ subsumes lower powers because
      // f(x) ≤ x pointwise): three extra broadcast probes of the same
      // label broadcast inside the same stage, zero extra barriers, and
      // reach chains collapse ~4× per round instead of ~2× (see
      // ConnectedComponents for the same cadence).
      val jump = lbl.as("x").join(lbl.as("j1"), col("x.f") === col("j1.v"))
        .select(col("x.v").as("jv"), col("j1.f").as("f2"))
        .join(lbl.as("j2"), col("f2") === col("j2.v"))
        .select(col("jv"), col("j2.f").as("f3"))
        .join(lbl.as("j3"), col("f3") === col("j3.v"))
        .select(col("jv").as("v"), col("j3.f").as("f"), lit(false).as("self"))
      val nxt = oneHop
        .unionByName(jump)
        .unionByName(lbl.select(col("v"), col("f"), lit(true).as("self")))
        .groupBy("v")
        .agg(min(col("f")).as("f"),
          min(when(col("self"), col("f"))).as("fo"))
        .ckpt()
      changed = Ckpt.fastCount(nxt.where(col("f") =!= col("fo")))
      lbl = nxt.select("v", "f")
    }
    lbl
  }
}
