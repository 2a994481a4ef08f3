package graft

import graft.operators.Hits
import org.scalatest.funsuite.AnyFunSuite

/** In-memory cross-checks for the HITS / DTW / RBO additions on arbitrary
  * inputs — the same role Wave4OpsSpec plays for wave 4: the DuckDB gate
  * pins one corpus; these pin the algorithms on shapes the harness data
  * does not produce (disconnected hubs, warped series, disjoint
  * rankings). */
class Wave5OpsSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  /** Mirror of Hits.run's rounding semantics (8-decimal HALF_UP, exact
    * decimal sums, L∞ normalization). */
  private def hitsMirror(edges: Seq[(Long, Long)], iters: Int)
  : (Map[Long, Double], Map[Long, Double]) = {
    def r8(x: BigDecimal): Double =
      x.setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    val e = edges.distinct
    var hub = e.map(_._1).distinct.map(_ -> 1.0).toMap
    var auth = Map.empty[Long, Double]
    for (_ <- 1 to iters) {
      val araw = e.groupBy(_._2).map { case (v, es) =>
        v -> es.map(x => BigDecimal(hub(x._1))
          .setScale(10, BigDecimal.RoundingMode.HALF_UP)).sum
      }
      val amax = araw.values.max
      auth = araw.map { case (v, s) => v -> r8(BigDecimal(s.toDouble / amax.toDouble)) }
      val hraw = e.filter(x => auth.contains(x._2)).groupBy(_._1)
        .map { case (v, es) =>
          v -> es.map(x => BigDecimal(auth(x._2))
            .setScale(10, BigDecimal.RoundingMode.HALF_UP)).sum
        }
      val hmax = hraw.values.max
      hub = hraw.map { case (v, s) => v -> r8(BigDecimal(s.toDouble / hmax.toDouble)) }
    }
    (hub, auth)
  }

  test("Hits matches an in-memory mirror on random bipartite graphs") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 5) {
      val edges = Seq.fill(40)(
        (rnd.nextInt(8).toLong, 100L + rnd.nextInt(10))).distinct
      val got = Hits.run(edges.toDF("src", "dst"), 3).collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
      val (hub, auth) = hitsMirror(edges, 3)
      val want = hub.map { case (v, s) => (v, "hub") -> s } ++
        auth.map { case (v, s) => (v, "auth") -> s }
      assert(got == want, s"trial $trial edges=$edges")
    }
  }

  /** Textbook DTW (no sentinel tricks) for cross-checking the SQL fold. */
  private def dtwRef(a: Seq[Long], b: Seq[Long]): Long = {
    val inf = Long.MaxValue / 4
    val d = Array.fill(a.size + 1, b.size + 1)(inf)
    d(0)(0) = 0
    for (i <- 1 to a.size; j <- 1 to b.size)
      d(i)(j) = math.abs(a(i - 1) - b(j - 1)) +
        math.min(d(i - 1)(j), math.min(d(i)(j - 1), d(i - 1)(j - 1)))
    d(a.size)(b.size)
  }

  test("the q_dtw SQL fold matches textbook DTW on random series") {
    val rnd = new scala.util.Random(23)
    val inf = "CAST(1000000000000000 AS BIGINT)"
    val dtwExpr =
      s"""aggregate(
         |  sequence(1, size(a)),
         |  transform(b, x -> $inf),
         |  (prev, i) -> aggregate(
         |    sequence(1, size(b)),
         |    CAST(array() AS ARRAY<BIGINT>),
         |    (row, j) -> concat(row, array(
         |      abs(element_at(a, i) - element_at(b, j)) + least(
         |        element_at(prev, j),
         |        CASE WHEN j = 1 THEN $inf ELSE element_at(row, j - 1) END,
         |        CASE WHEN j = 1 THEN
         |               (CASE WHEN i = 1 THEN CAST(0 AS BIGINT) ELSE $inf END)
         |             ELSE element_at(prev, j - 1) END)))),
         |  prev -> element_at(prev, size(b)))""".stripMargin
    for (trial <- 1 to 6) {
      val a = Seq.fill(1 + rnd.nextInt(12))(rnd.nextInt(100).toLong)
      val b = Seq.fill(1 + rnd.nextInt(12))(rnd.nextInt(100).toLong)
      val got = Seq((a, b)).toDF("a", "b")
        .selectExpr(s"$dtwExpr AS dtw").collect().head.getLong(0)
      assert(got == dtwRef(a, b), s"trial $trial a=$a b=$b")
    }
  }

  test("DTW laws: identical series → 0; warp-invariant to element repeats") {
    val a = Seq(3L, 7L, 2L, 9L)
    assert(dtwRef(a, a) == 0)
    // repeating an element is free under warping
    assert(dtwRef(a, Seq(3L, 3L, 7L, 7L, 2L, 9L)) == 0)
    val got = Seq((a, a)).toDF("a", "b")
      .selectExpr("""aggregate(
        sequence(1, size(a)),
        transform(b, x -> CAST(1000000000000000 AS BIGINT)),
        (prev, i) -> aggregate(
          sequence(1, size(b)),
          CAST(array() AS ARRAY<BIGINT>),
          (row, j) -> concat(row, array(
            abs(element_at(a, i) - element_at(b, j)) + least(
              element_at(prev, j),
              CASE WHEN j = 1 THEN CAST(1000000000000000 AS BIGINT)
                   ELSE element_at(row, j - 1) END,
              CASE WHEN j = 1 THEN
                     (CASE WHEN i = 1 THEN CAST(0 AS BIGINT)
                           ELSE CAST(1000000000000000 AS BIGINT) END)
                   ELSE element_at(prev, j - 1) END)))),
        prev -> element_at(prev, size(b))) AS dtw""")
      .collect().head.getLong(0)
    assert(got == 0)
  }

  test("RBO laws on the harness corpus: identical rankings give RBO ≈ 1 - 2^-20 tail") {
    // RBO of a ranking with itself at p=1/2 truncated at 20:
    // Σ_{d=1..20} 2^-d · d/d = 1 − 2^-20 (every depth fully overlaps)
    val row = SparkEntry.queries("q_rbo")(spark, Sf).collect().head
    val rbo = row.getDouble(2)
    assert(rbo >= 0.0 && rbo <= 1.0)
    // and the self-RBO identity computed through the same term formula
    val self = (1 to 20).map(d => BigDecimal(d.toDouble / (d.toLong << d))
      .setScale(8, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
    assert(math.abs(self - (1.0 - math.pow(2.0, -20))) < 1e-6)
  }
}
