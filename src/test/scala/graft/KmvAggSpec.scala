package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native KMV bottom-k aggregate (functions.KmvAgg): exact
  * bottom-64-distinct-hash equality with a brute-force SQL computation,
  * partition-invariant merge, the ObjectHashAggregate plan shape, and
  * estimator sanity. */
class KmvAggSpec extends AnyFunSuite with SparkFixture {

  private def sketch(df: org.apache.spark.sql.DataFrame, keyCol: String) = {
    df.agg(graft.functions.KmvAgg(col(keyCol)).as("ks"))
      .select(explode(col("ks")).as("h"))
      .collect().map(_.getLong(0)).toSeq
  }

  test("sketch equals the brute-force bottom-64 distinct hashes") {
    val li = spark.read.parquet(s"$Sf/lineitem.parquet")
      .select(col("l_orderkey").as("k"))
    val brute = li.select(
        expr("CAST(conv(substring(md5(CAST(k AS STRING)), 1, 8), 16, 10) AS BIGINT)")
          .as("h"))
      .distinct().orderBy("h").limit(64)
      .collect().map(_.getLong(0)).toSeq
    assert(sketch(li, "k") == brute)
  }

  test("merge path: 1-partition and 37-partition runs agree") {
    val li = spark.read.parquet(s"$Sf/lineitem.parquet")
      .select(col("l_orderkey").as("k"))
    assert(sketch(li.coalesce(1), "k") == sketch(li.repartition(37), "k"))
  }

  test("buffer is sorted, distinct, capped at k") {
    val li = spark.read.parquet(s"$Sf/lineitem.parquet")
      .select(col("l_orderkey").as("k"))
    val s = sketch(li, "k")
    assert(s.length <= 64)
    assert(s == s.sorted && s.distinct == s)
  }

  test("plans through ObjectHashAggregate with a partial stage") {
    val li = spark.read.parquet(s"$Sf/lineitem.parquet")
    val p = li.agg(graft.functions.KmvAgg(col("l_orderkey")))
      .queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_kmv_agg"), p)
  }

  test("estimator lands within 50% of the truth on the harness keys") {
    val r = SparkEntry.queries("q_sketch_kmv")(spark, Sf).collect().head
    val (nTrue, k, est) = (r.getLong(0), r.getLong(1), r.getLong(3))
    if (k == 64) { // enough distinct keys for the estimator to engage
      assert(est > nTrue / 2 && est < nTrue * 2,
        s"estimate $est vs true $nTrue")
    } else assert(k == nTrue) // fewer than k keys: the sketch IS the set
  }
}
