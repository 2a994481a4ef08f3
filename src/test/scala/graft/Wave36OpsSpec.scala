package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-36 invariants at sf0.001 + planted-fixture pins for the round-8
  * bucketed-candidate rebuilds:
  *
  *  - q_mst: the bounded-round output is a PREFIX of the converged
  *    Borůvka forest (Mst.run on the same graph), tagged 1..3.
  *  - q_dedup_embcos / q_mutual_knn: the BandBucketCap discipline on the
  *    random-hyperplane LSH buckets — an oversized planted bucket (100
  *    identical vectors > cap 64) contributes ZERO candidate pairs, while
  *    a small planted near-dup cluster survives bucketing (identical
  *    vectors land in identical buckets by construction), so the planted
  *    mutual pair is found.
  */
class Wave36OpsSpec extends AnyFunSuite with SparkFixture {

  /** Synthetic embeddings: ids 1..100 = one identical vector (label 1,
    * one bucket of 100 > cap — must drop); ids 201, 202 = an identical
    * pair (label 2 — must survive); ids 301..320 = varied label-2
    * distractors. */
  private lazy val dir: String = {
    import spark.implicits._
    val dims = 64
    val vecA = Array.fill(dims)(0.5f)
    val vecB = Array.tabulate(dims)(i => if (i % 2 == 0) 1.0f else -0.25f)
    def distract(k: Int) =
      Array.tabulate(dims)(i => ((k * 31 + i * 17) % 7 - 3) / 3.0f)
    val rows =
      (1 to 100).map(i => (i.toLong, vecA, 1)) ++
        Seq((201L, vecB, 2), (202L, vecB, 2)) ++
        (301 to 320).map(k => (k.toLong, distract(k), 2))
    val out = s"${graft.queries.TmpRoot}/wave36_embeddings"
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    out
  }

  test("q_mst output is a tagged prefix of the converged Boruvka forest") {
    val got = SparkEntry.queries("q_mst")(spark, Sf).collect()
    assert(got.nonEmpty)
    assert(got.forall(r => r.getAs[Long]("round") >= 1L
      && r.getAs[Long]("round") <= 3L))
    // same graph, run to convergence: the bounded rounds must be a subset
    val os = graft.queries.table(spark, Sf, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      .distinct()
    val e = os.alias("a").join(os.alias("b"), Seq("ok"))
      .where(col("a.sk") < col("b.sk"))
      .groupBy(col("a.sk").as("u"), col("b.sk").as("v"))
      .agg(count(lit(1)).as("w"))
      .where(col("w") >= 5)
      .selectExpr("CAST(u AS BIGINT) AS src", "CAST(v AS BIGINT) AS dst",
        "CAST(w AS BIGINT) AS w")
    val full = graft.operators.Mst.run(e)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val prefix = got.map(r => (r.getAs[Long]("u"), r.getAs[Long]("v"),
      r.getAs[Long]("w"))).toSet
    assert(prefix.size == got.length, "duplicate edge across rounds")
    assert(prefix.subsetOf(full),
      s"bounded rounds chose edges outside the converged forest: ${prefix -- full}")
    spark.catalog.clearCache()
  }

  test("q_dedup_embcos drops the oversized bucket, keeps the planted pair") {
    val rows = SparkEntry.queries("q_dedup_embcos")(spark, dir).collect()
    val d1s = rows.map(_.getAs[Long]("d1")).toSet
    assert(!d1s.exists(_ <= 100L),
      s"over-cap bucket leaked candidate pairs: ${d1s.filter(_ <= 100L)}")
    val planted = rows.find(_.getAs[Long]("d1") == 201L)
    assert(planted.isDefined, "planted identical pair (201, 202) not found")
    assert(planted.get.getAs[Double]("max_cos") == 1.0)
    assert(planted.get.getAs[Long]("n_sim") >= 1L)
    spark.catalog.clearCache()
  }

  test("q_mutual_knn drops the oversized group, finds the planted mutual pair") {
    val rows = SparkEntry.queries("q_mutual_knn")(spark, dir).collect()
    val ids = rows.flatMap(r =>
      Seq(r.getAs[Long]("v"), r.getAs[Long]("u"))).toSet
    assert(!ids.exists(_ <= 100L),
      s"over-cap (label, bucket) group leaked: ${ids.filter(_ <= 100L)}")
    val planted = rows.find(r =>
      r.getAs[Long]("v") == 201L && r.getAs[Long]("u") == 202L)
    assert(planted.isDefined, "planted mutual pair (201, 202) not found")
    assert(planted.get.getAs[Double]("cos") == 1.0)
    spark.catalog.clearCache()
  }
}
