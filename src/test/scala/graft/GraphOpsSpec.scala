package graft

import graft.operators.{ConnectedComponents, PageRank}
import org.scalatest.funsuite.AnyFunSuite

/** Randomized cross-checks of the distributed graph operators against
  * straightforward in-memory reference implementations — evidence beyond
  * the (single-input) DuckDB oracle that the algorithms are right on
  * arbitrary graph shapes: forests, cycles, stars, self-loops, parallel
  * edges, disconnected pieces. */
class GraphOpsSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def unionFindMinLabels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // min vertex id per component as the canonical label
    val byRoot = verts.groupBy(find)
    byRoot.values.flatMap { vs => val m = vs.min; vs.map(_ -> m) }.toMap
  }

  /** HALF_UP at 8 decimals via the decimal string repr, matching Spark's
    * round() on doubles. */
  private def r8(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(8, java.math.RoundingMode.HALF_UP).doubleValue()

  test("ConnectedComponents matches union-find on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 8) {
      val nV = 2 + rnd.nextInt(24)
      val nE = 1 + rnd.nextInt(40)
      val edges = Seq.fill(nE)(
        (rnd.nextInt(nV).toLong, rnd.nextInt(nV).toLong))
      val (labels, rounds) = ConnectedComponents.labels(edges.toDF("a", "b"))
      val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == unionFindMinLabels(edges),
        s"trial $trial edges=$edges rounds=$rounds")
    }
  }

  test("PageRank bit-matches an in-memory mirror of its rounding semantics") {
    val rnd = new scala.util.Random(7)
    val nV = 12
    val edges0 = Seq.fill(30)((rnd.nextInt(nV).toLong, rnd.nextInt(nV).toLong))
      .filter(e => e._1 != e._2).distinct
    val edges = edges0 ++ edges0.map(_.swap) // undirected, every vertex has out-degree
    val got = PageRank.run(edges.toDF("src", "dst"), 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap

    // reference: identical per-step rounding (r8)
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val deg = edges.groupBy(_._1).map { case (v, es) => v -> es.size }
    var r = verts.map(_ -> 1.0).toMap
    for (_ <- 1 to 3) {
      val contribs = edges.groupBy(_._2).map { case (dst, es) =>
        // decimal-exact sum of the 8-decimal contributions
        dst -> es.map(e => java.math.BigDecimal.valueOf(r8(r(e._1) / deg(e._1))))
          .reduce(_.add(_))
      }
      r = verts.map(v => v ->
        r8(0.15 + 0.85 * contribs.get(v).map(_.doubleValue()).getOrElse(0.0))).toMap
    }
    assert(got == r) // run() returns the 8-decimal ranks; no further rounding
  }

  test("Personalized PageRank mirrors in memory; non-seed-reachable ranks are 0") {
    val rnd = new scala.util.Random(13)
    val nV = 12
    val edges0 = Seq.fill(30)((rnd.nextInt(nV).toLong, rnd.nextInt(nV).toLong))
      .filter(e => e._1 != e._2).distinct
    val edges = edges0 ++ edges0.map(_.swap)
    val seedSet = Set(0L, 3L, 7L)
    val got = PageRank.runPersonalized(edges.toDF("src", "dst"), 3,
        seedSet.toSeq.toDF("v"))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap

    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val deg = edges.groupBy(_._1).map { case (v, es) => v -> es.size }
    def s(v: Long): Double = if (seedSet(v)) 1.0 else 0.0
    var r = verts.map(v => v -> s(v)).toMap
    for (_ <- 1 to 3) {
      val contribs = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map(e => java.math.BigDecimal.valueOf(r8(r(e._1) / deg(e._1))))
          .reduce(_.add(_))
      }
      r = verts.map(v => v ->
        r8(0.15 * s(v) + 0.85 * contribs.get(v).map(_.doubleValue()).getOrElse(0.0))).toMap
    }
    assert(got == r)

    // an isolated component with no seed keeps rank exactly 0 — the PPR
    // asymmetry the uniform teleport cannot express
    val island = edges ++ Seq((100L, 101L), (101L, 100L))
    val gotI = PageRank.runPersonalized(island.toDF("src", "dst"), 3,
        seedSet.toSeq.toDF("v"))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(gotI(100L) == 0.0 && gotI(101L) == 0.0)
  }

  test("LabelProp matches a synchronous in-memory mirror on random graphs") {
    val rnd = new scala.util.Random(101)
    for (trial <- 1 to 6) {
      val nV = 3 + rnd.nextInt(20)
      val raw = Seq.fill(1 + rnd.nextInt(40))(
        (rnd.nextInt(nV).toLong, rnd.nextInt(nV).toLong))
        .filter(e => e._1 != e._2)
      if (raw.nonEmpty) {
        val und = (raw ++ raw.map(_.swap)).distinct
        val adj = und.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        var lbl = adj.keys.map(v => v -> v).toMap
        for (_ <- 1 to 3) {
          lbl = adj.map { case (v, ns) =>
            val counts = ns.groupBy(lbl).view.mapValues(_.size)
            // most frequent neighbor label, ties to the smallest label
            v -> counts.toSeq.maxBy { case (l, c) => (c, -l) }._1
          }
        }
        val got = graft.operators.LabelProp.run(raw.toDF("src", "dst"), 3)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        assert(got == lbl, s"trial $trial edges=$raw")
      }
    }
  }

  test("LabelProp tie-breaks correctly for a Long.MinValue label") {
    // the argmax encodes (count desc, label asc) WITHOUT negating the
    // label — the old max(struct(c, -lbl)) overflowed at Long.MinValue
    // (-MinValue == MinValue) and could never win a tie
    val raw = Seq((Long.MinValue, 5L), (5L, 6L), (6L, Long.MinValue))
    val got = graft.operators.LabelProp.run(raw.toDF("src", "dst"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.values.toSet == Set(Long.MinValue), got)
  }

  test("PageRank broadcast hint is conditional on |V| vs the configured cap") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L)).toDF("src", "dst")
    val verts = edges.select($"src".as("v")).union(edges.select($"dst".as("v"))).distinct()
    val degEdges = edges.join(
      edges.groupBy("src").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("deg")), "src")
    val ranks = verts.withColumn("r", org.apache.spark.sql.functions.lit(1.0))
    // the hint lives in the OPTIMIZED logical plan (physical join choice on a
    // 3-row test graph would be broadcast either way via AQE size stats —
    // the thing to pin is that run() stops ASKING for a broadcast past the cap)
    def hints(useBroadcast: Boolean): String =
      PageRank.step(degEdges, verts, ranks, useBroadcast)
        .queryExecution.optimizedPlan.toString
    assert(hints(useBroadcast = true).contains("strategy=broadcast"))
    assert(!hints(useBroadcast = false).contains("strategy=broadcast"))

    // and run() derives the flag from its broadcastMaxVerts cap: with the
    // cap forced below |V|=3 the ranks are STILL bit-identical — the
    // shuffled fallback changes the plan, never the result
    val expected = PageRank.run(edges, 2).collect().toSet
    assert(PageRank.run(edges, 2, broadcastMaxVerts = 1).collect().toSet == expected)
  }
}
