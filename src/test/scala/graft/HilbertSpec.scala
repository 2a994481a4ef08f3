package graft

import org.scalatest.funsuite.AnyFunSuite

/** plans.Hilbert / HilbertExpression: the mathematical contract
  * (bijection; every curve step is an orthogonal neighbor), exhaustively
  * at order 8 (65 536 cells) in-JVM, plus the codegen'd SQL path. */
class HilbertSpec extends AnyFunSuite with SparkFixture {

  test("order-8 curve is a bijection whose every step is an orthogonal neighbor") {
    val n = 1 << 8
    val coords = new Array[(Int, Int)](n * n)
    for (x <- 0 until n; y <- 0 until n) {
      val d = graft.plans.Hilbert.xy2d(x, y, 8)
      assert(d >= 0 && d < n.toLong * n, s"($x,$y) -> $d out of range")
      assert(coords(d.toInt) == null, s"collision at d=$d")
      coords(d.toInt) = (x, y)
    }
    for (d <- 1 until n * n) {
      val (x0, y0) = coords(d - 1)
      val (x1, y1) = coords(d)
      assert(math.abs(x0 - x1) + math.abs(y0 - y1) == 1,
        s"step $d: ($x0,$y0) -> ($x1,$y1) not adjacent")
    }
  }

  test("order masks high bits: only the low `order` bits participate") {
    assert(graft.plans.Hilbert.xy2d(5 + 16, 3 + 32, 4) ==
      graft.plans.Hilbert.xy2d(5, 3, 4))
  }

  test("codegen'd SQL path agrees with the interpreted function") {
    import spark.implicits._
    val rows = (0 until 32).flatMap(x => (0 until 32).map(y => (x, y)))
      .toDF("x", "y")
      .selectExpr("x", "y", "hilbert_index(x, y, 5) AS d")
      .collect()
    rows.foreach { r =>
      assert(r.getLong(2) ==
        graft.plans.Hilbert.xy2d(r.getInt(0), r.getInt(1), 5), r)
    }
  }

  test("expression stays inside whole-stage codegen") {
    val p = spark.range(100)
      .selectExpr("CAST(id AS INT) AS x", "CAST(id % 7 AS INT) AS y")
      .selectExpr("hilbert_index(x, y, 16) AS d")
      .queryExecution.executedPlan.toString
    // the `*(n)` prefix marks operators inside a WholeStageCodegen stage
    assert(p.contains("*(1) Project"), p)
  }
}
