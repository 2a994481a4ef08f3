package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Parity pins for the native ivec_dot / ivec_sqdist kernels: value- and
  * NULL-identical to the composed higher-order spellings they replaced
  * across the ANN family, on randoms and on every edge case. */
class IntVecExpressionsSpec extends AnyFunSuite with SparkFixture {

  private def df(rows: Seq[(Seq[java.lang.Long], Seq[java.lang.Long])]) = {
    import spark.implicits._
    rows.toDF("a", "b")
  }

  /** 50 pairs of random 64-long vectors. */
  private def randoms(seed: Int) = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(50)((Seq.fill(64)(java.lang.Long.valueOf(rnd.nextInt(20001) - 10000L)),
      Seq.fill(64)(java.lang.Long.valueOf(rnd.nextInt(20001) - 10000L))))
  }

  /** Rows where `native` and `composed` differ in value or in NULL-ness. */
  private def mismatches(d: org.apache.spark.sql.DataFrame): Long =
    d.where(!col("native").eqNullSafe(col("composed"))).count()

  test("ivec_dot equals aggregate(zip_with(*)) on randoms and edge cases") {
    val edges: Seq[(Seq[java.lang.Long], Seq[java.lang.Long])] = Seq(
      (Seq.empty, Seq.empty),                                // both empty → 0
      (Seq(java.lang.Long.valueOf(3L)), Seq.empty),          // mismatch → NULL
      (Seq(java.lang.Long.valueOf(3L), null),
        Seq(java.lang.Long.valueOf(1L), java.lang.Long.valueOf(2L))), // null elem → NULL
      (Seq(java.lang.Long.valueOf(-5L)), Seq(java.lang.Long.valueOf(7L))))
    val d = df(randoms(7) ++ edges).select(
      expr("ivec_dot(a, b)").as("native"),
      expr("aggregate(zip_with(a, b, (x, y) -> x*y), CAST(0 AS BIGINT), " +
        "(acc, v) -> acc + v)").as("composed"))
    assert(mismatches(d) == 0L)
    spark.catalog.clearCache()
  }

  test("ivec_sqdist equals the composed (x-y)^2 sum") {
    val edges: Seq[(Seq[java.lang.Long], Seq[java.lang.Long])] = Seq(
      (Seq.empty, Seq.empty),
      (Seq(java.lang.Long.valueOf(3L)), Seq.empty),
      (Seq(null), Seq(java.lang.Long.valueOf(2L))))
    val d = df(randoms(11) ++ edges).select(
      expr("ivec_sqdist(a, b)").as("native"),
      expr("aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), " +
        "CAST(0 AS BIGINT), (acc, t) -> acc + t)").as("composed"))
    assert(mismatches(d) == 0L)
    spark.catalog.clearCache()
  }

  test("ivec_dot participates in whole-stage codegen (no CodegenFallback)") {
    // non-foldable input (range), else constant folding erases the project
    val d = spark.range(4)
      .selectExpr("array(id, id + 1) AS a", "array(id + 2, id + 3) AS b")
      .selectExpr("ivec_dot(a, b) AS d")
    // the `*(n)` prefix marks a WholeStageCodegen stage; a CodegenFallback
    // expression would force the Project out of it (no `*` on the Project)
    val plan = d.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [ivec_dot"), plan)
    assert(d.orderBy("d").collect().map(_.getLong(0)).toSeq ==
      Seq(3L, 11L, 23L, 39L)) // id=0..3: id*(id+2) + (id+1)*(id+3)
    spark.catalog.clearCache()
  }
}
