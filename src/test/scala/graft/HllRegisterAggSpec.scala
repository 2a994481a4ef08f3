package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native TypedImperativeAggregate HLL (functions.HllRegisterAgg):
  * bit-equality with the DataFrame-composed register table, the
  * ObjectHashAggregate plan shape, and merge correctness across many
  * partitions (the partial/final buffer path). */
class HllRegisterAggSpec extends AnyFunSuite with SparkFixture {

  private def nativeRegs(df: org.apache.spark.sql.DataFrame, keyCol: String) = {
    df.agg(graft.functions.HllRegisterAgg(col(keyCol)).as("rs"))
      .select(posexplode(col("rs")).as(Seq("bucket", "reg")))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).toSeq
  }

  test("bit-equal with Sketches.hllRegisters on the harness keys") {
    val li = spark.read.parquet(s"$Sf/lineitem.parquet")
      .select(col("l_orderkey").as("k"))
    val composed = graft.operators.Sketches.hllRegisters(li, "k", 64)
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1))).sortBy(_._1).toSeq
    assert(nativeRegs(li, "k") == composed)
  }

  test("merge path: 1-partition and 37-partition runs agree") {
    val li = spark.read.parquet(s"$Sf/lineitem.parquet")
      .select(col("l_orderkey").as("k"))
    assert(nativeRegs(li.coalesce(1), "k") == nativeRegs(li.repartition(37), "k"))
  }

  test("plans through ObjectHashAggregate with a partial stage") {
    val li = spark.read.parquet(s"$Sf/lineitem.parquet")
    val p = li.agg(graft.functions.HllRegisterAgg(col("l_orderkey")))
      .queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_hll_register_agg"), p)
  }

  test("null keys are ignored; empty input yields all-zero registers") {
    import spark.implicits._
    val df = Seq[Option[String]](None, None).toDF("k")
      .select(col("k").cast("string").as("k"))
    val regs = df.where(col("k").isNotNull || col("k").isNull)
      .agg(graft.functions.HllRegisterAgg(col("k")).as("rs"))
      .select(explode(col("rs")).as("reg")).collect().map(_.getLong(0))
    assert(regs.length == 64 && regs.forall(_ == 0L))
  }

  test("sql front door: hll_register_agg usable from spark.sql") {
    spark.read.parquet(s"$Sf/lineitem.parquet")
      .createOrReplaceTempView("li_hll_native")
    val n = spark.sql(
      "SELECT size(hll_register_agg(CAST(l_orderkey AS STRING))) AS m" +
        " FROM li_hll_native").collect()(0).getInt(0)
    assert(n == 64)
  }
}
