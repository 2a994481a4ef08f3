package graft

import org.scalatest.funsuite.AnyFunSuite

/** Range/consistency laws for queries.Metrics that the value-equality
  * oracle can't express. */
class MetricsSpec extends AnyFunSuite with SparkFixture {

  private def one(name: String) =
    SparkEntry.queries(name)(spark, Sf).collect()(0)

  test("q_brier: both losses in range, Brier <= 1") {
    val r = one("q_brier")
    val (brier, logloss) =
      (r.getAs[Double]("brier"), r.getAs[Double]("logloss"))
    assert(brier >= 0.0 && brier <= 1.0, r)
    assert(logloss >= 0.0, r)
  }

  test("q_seasonal_error: mase == mae_season / mae_naive (recomputed)") {
    val r = one("q_seasonal_error")
    val (ms, mn, mase) = (r.getAs[Double]("mae_season"),
      r.getAs[Double]("mae_naive"), r.getAs[Double]("mase"))
    assert(math.abs(mase - ms / mn) < 1e-5, r)
    assert(ms >= 0 && mn > 0, r)
  }

  test("q_autocorr: all 7 lags present, |acf| bounded") {
    val r = SparkEntry.queries("q_autocorr")(spark, Sf).collect()
    assert(r.map(_.getLong(0)).sorted.toSeq == (1L to 7L))
    r.foreach { row =>
      assert(math.abs(row.getAs[Double]("acf")) <= 1.0 + 1e-9, row)
    }
  }

  test("q_ldiversity: safe flag consistent with ldiv; ldiv <= n") {
    val r = SparkEntry.queries("q_ldiversity")(spark, Sf).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val (n, ldiv, safe) = (row.getAs[Long]("n"), row.getAs[Long]("ldiv"),
        row.getAs[Long]("safe"))
      assert(ldiv >= 1 && ldiv <= n, row)
      assert(safe == (if (ldiv >= 3) 1L else 0L), row)
    }
  }

  test("q_sketch_join_size: CMS inner product never undercounts") {
    val r = one("q_sketch_join_size")
    val (tr, est, ratio) = (r.getAs[Long]("true_sq"),
      r.getAs[Long]("est_sq"), r.getAs[Double]("ratio"))
    assert(est >= tr, r)
    assert(ratio >= 1.0, r)
  }

  test("q_freq_triples: anti-monotonicity — every sub-pair of a frequent triple is frequent") {
    val triples = SparkEntry.queries("q_freq_triples")(spark, Sf).collect()
    val pairs = SparkEntry.queries("q_freq_pairs")(spark, Sf).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val supports = SparkEntry.queries("q_freq_pairs")(spark, Sf).collect()
      .map(x => ((x.getLong(0), x.getLong(1)), x.getLong(2))).toMap
    triples.foreach { t =>
      val (a, b, c, s) =
        (t.getLong(0), t.getLong(1), t.getLong(2), t.getLong(3))
      assert(a < b && b < c, t)
      Seq((a, b), (a, c), (b, c)).foreach { p =>
        assert(pairs.contains(p), s"sub-pair $p of ($a,$b,$c) not frequent")
        assert(s <= supports(p), s"triple support $s > pair ${supports(p)}")
      }
    }
  }

  test("q_shard_rebalance: rendezvous minimal-movement law") {
    // a doc changes placement on n=8 -> 9 ONLY by moving TO the new
    // shard (its s<8 argmax is unchanged otherwise): every old shard
    // keeps all its remaining docs, the new shard keeps none
    val r = SparkEntry.queries("q_shard_rebalance")(spark, Sf).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val (shard, n, kept) =
        (row.getLong(0), row.getLong(1), row.getLong(2))
      if (shard == 8L) assert(kept == 0L, row)
      else assert(kept == n, row)
    }
    // movement is roughly 1/9 of the corpus (PRF balance)
    val total = r.map(_.getLong(1)).sum
    val moved = r.filter(_.getLong(0) == 8L).map(_.getLong(1)).sum
    assert(moved > 0 && moved < total / 4, s"$moved of $total")
  }

  test("q_sample_weighted: exactly 10 ranked rows, partition invariant") {
    def run() = SparkEntry.queries("q_sample_weighted")(spark, Sf)
      .collect().map(_.toString).toSeq
    val base = run()
    assert(base.length == 10)
    withConf("spark.sql.shuffle.partitions", "7")(assert(run() == base))
  }

  test("q_theil_sen: pair count is C(days, 2)") {
    val r = one("q_theil_sen")
    val days = SparkEntry.queries("q_autocorr")(spark, Sf)
      .agg(org.apache.spark.sql.functions.max("n_pairs")).collect()(0).getLong(0) + 1
    assert(r.getAs[Long]("n_pairs") == days * (days - 1) / 2, r)
  }

  test("q_modularity: score in [-1, 1], partition-count invariant") {
    def run() = SparkEntry.queries("q_modularity")(spark, Sf)
      .collect().map(_.toString).toSeq
    val base = run()
    val q = one("q_modularity").getAs[Double]("modularity")
    assert(q >= -1.0 && q <= 1.0, q)
    withConf("spark.sql.shuffle.partitions", "7")(assert(run() == base))
  }
}
