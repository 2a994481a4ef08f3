package graft

import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the retrieval-evaluation tier (queries.Retrieval) the
  * oracle gate can't express: metric range laws, partitioning invariance
  * of the exact-integer scores, the RRF formula recomputed row-by-row, and
  * the bounded-heap plan shape of the per-query selections. */
class RetrievalSpec extends AnyFunSuite with SparkFixture {

  private def rows(name: String) =
    SparkEntry.queries(name)(spark, Sf).collect()

  test("q_ndcg: 0 < ndcg <= 1, dcg <= idcg, all querysets present") {
    val r = rows("q_ndcg")
    assert(r.map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    r.foreach { row =>
      val (dcg, idcg, ndcg) = (row.getLong(1), row.getLong(2), row.getDouble(3))
      assert(dcg > 0 && idcg >= dcg, row)
      assert(ndcg > 0.0 && ndcg <= 1.0, row)
    }
  }

  test("q_mrr: rr_micro = 10^6 div first_pos, pos within top-50") {
    val r = rows("q_mrr")
    assert(r.nonEmpty)
    r.foreach { row =>
      val (pos, rr) = (row.getLong(1), row.getLong(2))
      assert(pos >= 1 && pos <= 50, row)
      assert(rr == 1000000L / pos, row)
    }
  }

  test("q_rrf_fusion: rrf recomputes from the emitted ranks; both-list docs exist") {
    val r = rows("q_rrf_fusion")
    assert(r.length > 0)
    def contrib(rank: Long) = if (rank > 0) 1000000000L / (60L + rank) else 0L
    r.foreach { row =>
      val (lex, sem, rrf) = (row.getLong(1), row.getLong(2), row.getLong(3))
      assert(lex > 0 || sem > 0, row)
      assert(rrf == contrib(lex) + contrib(sem), row)
    }
    // the fused head must actually fuse: at least one doc from both lists
    assert(r.exists(row => row.getLong(1) > 0 && row.getLong(2) > 0), r.mkString("\n"))
  }

  test("q_mmr: 5 distinct picks, ranks 1..5, greedy scores non-increasing") {
    val r = rows("q_mmr").sortBy(_.getLong(0))
    assert(r.map(_.getLong(0)).toSeq == (1L to 5L))
    val docs = r.map(_.getLong(1))
    assert(docs.distinct.length == 5, docs.mkString(","))
    // each round's pool shrinks and msim only grows => max MMR score
    // weakly decreases round over round
    val scores = r.map(_.getDouble(2))
    assert(scores.zip(scores.tail).forall { case (a, b) => b <= a + 1e-9 },
      scores.mkString(","))
  }

  test("q_mutual_knn: pairs are canonical, and mutuality is real (each side's top-1)") {
    import org.apache.spark.sql.functions._
    val pairs = rows("q_mutual_knn")
    assert(pairs.nonEmpty)
    pairs.foreach(p => assert(p.getLong(0) < p.getLong(1), p))
    // recompute each vector's top-1 within the query's candidate geometry
    // — label block ∩ random-hyperplane LSH bucket, over-cap groups
    // dropped (r8 rebuild) — by brute force from an INDEPENDENT
    // reimplementation of the md5 plane constants, and confirm both
    // directions for every emitted pair
    val planes = (0 until 8).map { p =>
      (0 until 64).map { i =>
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(s"lsh:$p:$i".getBytes("UTF-8"))
        (java.lang.Long.parseLong(
          md.take(4).map("%02x".format(_)).mkString, 16) % 2001L) - 1000L
      }
    }
    val bucketExpr = (0 until 8).map { p =>
      val arr = planes(p).mkString("array(", ", ", ")")
      s"(CASE WHEN aggregate(zip_with(q, $arr, (x, y) -> x*y), " +
        s"CAST(0 AS BIGINT), (a, v) -> a + v) > 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")
    val all = spark.read.parquet(s"$Sf/embeddings.parquet")
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000 + 0.5) AS BIGINT))").as("q"))
      .withColumn("nq", expr("aggregate(q, CAST(0 AS BIGINT), (a, x) -> a + x*x)"))
      .where(col("nq") > 0)
      .withColumn("bucket", expr(bucketExpr))
    val okg = all.groupBy("label", "bucket").agg(count(lit(1)).as("g"))
      .where(col("g") <= 64).select("label", "bucket")
    val bl = all.join(okg, Seq("label", "bucket"))
    val cand = bl.alias("a").join(bl.alias("b"),
        col("a.label") === col("b.label")
          && col("a.bucket") === col("b.bucket")
          && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("v"), col("b.vec_id").as("u"),
        expr("round(CAST(aggregate(zip_with(a.q, b.q, (p, r) -> p*r), CAST(0 AS BIGINT), (acc, x) -> acc + x) AS DOUBLE)" +
          " / sqrt(CAST(a.nq AS DOUBLE) * CAST(b.nq AS DOUBLE)), 6)").as("cos"))
    import org.apache.spark.sql.expressions.Window
    val top1 = cand.withColumn("rn", row_number().over(
        Window.partitionBy("v").orderBy(desc("cos"), asc("u"))))
      .where(col("rn") === 1).select("v", "u")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    pairs.foreach { p =>
      val (v, u) = (p.getLong(0), p.getLong(1))
      assert(top1(v) == u && top1(u) == v, s"($v,$u) not mutual")
    }
  }

  test("q_ndcg is partition-count invariant (exact integer metrics)") {
    val base = rows("q_ndcg").map(_.toString).toSeq
    withConf("spark.sql.shuffle.partitions", "7") {
      assert(rows("q_ndcg").map(_.toString).toSeq == base)
    }
  }

  test("per-query rankings plan as the native bounded-heap TopKPerKeyExec") {
    val p = SparkEntry.queries("q_ndcg")(spark, Sf).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("TopKPerKey"), p)
  }
}
