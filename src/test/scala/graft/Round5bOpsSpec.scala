package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the round-5 second wave: TPC-H Q3, mode, OLS
  * regression, unpivot, EWMA, frequent pairs, the histogram-quantile
  * sketch, the lossless prefix-filter similarity join, and bigram top-K on
  * the native TopKPerKey operator. Exact value matching is dev/check.py's
  * job; these pin the properties a refactor could silently break.
  */
class Round5bOpsSpec extends AnyFunSuite with SparkFixture {

  test("tpch_q3: ≤10 rows, revenue strictly ordered with orderkey tie-break") {
    val rows = SparkEntry.queries("q_tpch_q3")(spark, Sf).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    val rev = rows.map(_.getDouble(3))
    assert(rev.zip(rev.tail).forall { case (a, b) => a >= b })
    rows.zip(rows.tail).foreach { case (a, b) =>
      if (a.getDouble(3) == b.getDouble(3)) assert(a.getLong(0) < b.getLong(0))
    }
  }

  test("mode: the reported mode really is a maximal-count value") {
    val modes = SparkEntry.queries("q_mode")(spark, Sf).collect()
    val counts = spark.read.parquet(s"$Sf/orders.parquet")
      .groupBy("o_orderstatus", "o_orderpriority").count()
      .collect()
      .groupBy(_.getString(0))
    for (r <- modes) {
      val g = counts(r.getString(0)).map(x => (x.getString(1), x.getLong(2)))
      val maxCnt = g.map(_._2).max
      assert(r.getLong(2) == maxCnt, s"mode_cnt != max for ${r.getString(0)}")
      // deterministic tie-break: smallest value among max-count values
      val best = g.filter(_._2 == maxCnt).map(_._1).min
      assert(r.getString(1) == best)
      assert(r.getLong(3) == g.map(_._2).sum)
    }
  }

  test("regression: slope/intercept match an in-memory exact-sum replay") {
    val rows = SparkEntry.queries("q_regression")(spark, Sf).collect()
    val data = spark.read.parquet(s"$Sf/lineitem.parquet")
      .select(col("l_returnflag"), col("l_quantity").cast("long"),
        expr("CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)"))
      .collect()
      .groupBy(_.getString(0))
    for (r <- rows) {
      val g = data(r.getString(0))
      val n = g.length.toLong
      val sx = g.map(_.getLong(1)).sum
      val sy = g.map(_.getLong(2)).sum
      val sxy = g.map(x => x.getLong(1) * x.getLong(2)).sum
      val sxx = g.map(x => x.getLong(1) * x.getLong(1)).sum
      val slope = (n.toDouble * sxy - sx.toDouble * sy) /
        (n.toDouble * sxx - sx.toDouble * sx)
      val icept = (sy.toDouble - slope * sx.toDouble) / n.toDouble
      assert(r.getLong(1) == n)
      assert(math.abs(r.getDouble(2) - slope) < 1e-5)
      assert(math.abs(r.getDouble(3) - icept) < 1e-5)
    }
  }

  test("unpivot: long rows carry exactly the wide aggregate's cells") {
    val long = SparkEntry.queries("q_unpivot")(spark, Sf).collect()
    val groups = long.map(_.getString(0)).distinct
    assert(long.length == groups.length * 3)
    val byFlag = long.groupBy(_.getString(0))
    for ((_, rs) <- byFlag)
      assert(rs.map(_.getString(1)).sorted.toSeq == Seq("disc", "price", "qty"))
  }

  test("ewma: head of each series equals its own value; result is bounded") {
    val ev = graft.queries.table(spark, Sf, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("value")).collect()
      .groupBy(_.getLong(0))
    val got = SparkEntry.queries("q_ewma")(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for ((_, g) <- ev) {
      val ordered = g.sortBy(r => (r.getLong(2), r.getLong(1)))
      val head = ordered.head
      val q = math.floor(head.getDouble(3) * 100 + 0.5) / 100.0
      assert(math.abs(got((head.getLong(0), head.getLong(1))) - q) < 1e-6)
      // every EWMA lies within the min/max of the quantized history
      val vals = ordered.map(r => math.floor(r.getDouble(3) * 100 + 0.5) / 100.0)
      for ((r, i) <- ordered.zipWithIndex) {
        val window = vals.slice(math.max(0, i - 7), i + 1)
        val e = got((r.getLong(0), r.getLong(1)))
        assert(e >= window.min - 1e-4 && e <= window.max + 1e-4)
      }
    }
  }

  test("freq_pairs: every reported pair recounts to its support") {
    val rows = SparkEntry.queries("q_freq_pairs")(spark, Sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(2) >= 2))
    val baskets = spark.read.parquet(s"$Sf/lineitem.parquet")
      .select("l_orderkey", "l_partkey").distinct().collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      .filter(_._2.size <= 64)
    val sample = rows.take(20)
    for (r <- sample) {
      val (p1, p2) = (r.getLong(0), r.getLong(1))
      val sup = baskets.valuesIterator.count(s => s(p1) && s(p2))
      assert(sup == r.getLong(2), s"pair ($p1,$p2)")
    }
  }

  test("sketch_quantile: monotone estimates, exact n, one-bin-width accuracy") {
    val rows = SparkEntry.queries("q_sketch_quantile")(spark, Sf).collect()
    val vals = spark.read.parquet(s"$Sf/events.parquet")
      .select("event_type", "value").collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.map(r => math.floor(r.getDouble(1) * 100 + 0.5) / 100.0)
        .sorted).toMap
    for (r <- rows) {
      val (q50, q90, q99) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(q50 <= q90 && q90 <= q99)
      val v = vals(r.getString(0))
      assert(r.getLong(1) == v.length)
      // the ceil(p·n) order statistic lives in the estimate's bin, so the
      // estimate is within one 4.0-wide bin of the true order statistic
      for ((p, est) <- Seq(0.5 -> q50, 0.9 -> q90, 0.99 -> q99)) {
        val target = math.ceil(p * v.length).toInt.max(1)
        val exact = v(target - 1)
        assert(math.abs(est - exact) <= 4.0 + 1e-9,
          s"${r.getString(0)} p=$p est=$est exact=$exact")
      }
    }
  }

  test("sketch_quantile: identical under different partitioning") {
    val a = SparkEntry.queries("q_sketch_quantile")(spark, Sf).collect().toSeq
    withConf("spark.sql.shuffle.partitions", "13") {
      val b = SparkEntry.queries("q_sketch_quantile")(spark, Sf).collect().toSeq
      assert(a == b)
    }
  }

  test("prefix_join: lossless — equals the brute-force all-pairs result") {
    // recall guarantee: the prefix-filtered candidate set must surface
    // EVERY pair with shingle-Jaccard ≥ 0.8, so the join's output equals
    // the quadratic all-pairs spelling exactly (same verify rule)
    val got = SparkEntry.queries("q_prefix_join")(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .groupBy("text").agg(min("doc_id").as("doc_id"))
      .select("doc_id", "text").collect()
    val sets = docs.filter(_.getString(1).length >= 8).map { r =>
      val t = r.getString(1)
      r.getLong(0) -> (1 to (t.length - 7) by 3).map(i => t.substring(i - 1, i + 7)).toSet
    }
    val brute = (for {
      (d1, s1) <- sets; (d2, s2) <- sets if d1 < d2
      inter = (s1 & s2).size
      if 9L * inter >= 4L * (s1.size + s2.size)
    } yield (d1, d2)).toSet
    assert(got == brute, s"missing=${brute -- got} extra=${got -- brute}")
  }

  test("ngram_topk: ≤k per head, counts recount, ordering respected") {
    val rows = SparkEntry.queries("q_ngram_topk")(spark, Sf).collect()
    assert(rows.nonEmpty)
    val byHead = rows.groupBy(_.getString(0))
    assert(byHead.values.forall(_.length <= 3))
    // per head: the kept bigrams are the top-(cnt desc, w2 asc) of a full
    // recount over the same split arrays
    val delim = graft.operators.Tokenize.Delim
    val recount = spark.read.parquet(s"$Sf/documents.parquet")
      .select(split(col("text"), delim).as("a")).collect()
      .flatMap { r =>
        val a = r.getSeq[String](0)
        a.iterator.zip(a.iterator.drop(1)).filter { case (x, y) =>
          x.toLowerCase.exists(c => c >= '`' && c <= 'z') &&
            y.toLowerCase.exists(c => c >= '`' && c <= 'z')
        }.toSeq
      }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    for ((head, rs) <- byHead) {
      val all = recount.collect { case ((w1, w2), c) if w1 == head => (w2, c) }
        .toSeq.sortBy { case (w2, c) => (-c, w2) }
      val expect = all.take(rs.length).toSet
      assert(rs.map(r => (r.getString(1), r.getLong(2))).toSet == expect,
        s"head=$head")
    }
  }

  test("concurrency: peak matches an in-memory sweep-line replay") {
    val rows = SparkEntry.queries("q_concurrency")(spark, Sf).collect()
    val ev = graft.queries.table(spark, Sf, "events")
      .selectExpr("event_type", "event_id", "unix_micros(ts) AS us").collect()
      .groupBy(_.getString(0))
    for (r <- rows) {
      val g = ev(r.getString(0))
      val pts = g.flatMap { e =>
        Seq((e.getLong(2), 1L, e.getLong(1)),
          (e.getLong(2) + 1800000000L, -1L, e.getLong(1)))
      }.sortBy(p => (p._1, p._2, p._3))
      var c = 0L; var peak = 0L; var peakAt = 0L
      for ((t, d, _) <- pts) {
        c += d
        if (c > peak) { peak = c; peakAt = t }
      }
      assert(r.getLong(1) == peak, s"peak ${r.getString(0)}")
      assert(r.getLong(2) == peakAt, s"peak_at ${r.getString(0)}")
      assert(r.getLong(3) == g.length.toLong)
    }
  }

  test("transitions: rows per source sum to the normalizer (Σp ≈ 1)") {
    val rows = SparkEntry.queries("q_transitions")(spark, Sf).collect()
    assert(rows.nonEmpty)
    val bySrc = rows.groupBy(_.getString(0))
    for ((src, rs) <- bySrc) {
      val tot = rs.map(_.getLong(2)).sum
      val psum = rs.map(_.getDouble(3)).sum
      assert(math.abs(psum - 1.0) < 1e-4, s"$src Σp=$psum")
      assert(rs.forall(r => r.getLong(2) > 0 && r.getLong(2) <= tot))
    }
    // global pair conservation: Σcnt = Σ_users (events_u − 1)
    val perUser = spark.read.parquet(s"$Sf/events.parquet")
      .groupBy("user_id").count().collect().map(_.getLong(1))
    assert(rows.map(_.getLong(2)).sum == perUser.map(_ - 1).sum)
  }

  test("ttest: cohort sizes partition the group; t matches a replay") {
    val rows = SparkEntry.queries("q_ttest")(spark, Sf).collect()
    val ev = spark.read.parquet(s"$Sf/events.parquet")
      .selectExpr("event_type", "user_id % 2 = 0 AS a",
        "CAST(floor(value*100 + 0.5) AS BIGINT) AS v").collect()
      .groupBy(_.getString(0))
    for (r <- rows) {
      val g = ev(r.getString(0))
      val (ga, gb) = g.partition(_.getBoolean(1))
      assert(r.getLong(1) == ga.length.toLong && r.getLong(2) == gb.length.toLong)
      def stats(xs: Array[org.apache.spark.sql.Row]) = {
        val n = xs.length.toDouble
        val s = xs.map(_.getLong(2)).sum.toDouble
        val q = xs.map(x => x.getLong(2) * x.getLong(2)).sum.toDouble
        (n, s / n, (q - s * s / n) / (n - 1))
      }
      val (n1, m1, v1) = stats(ga); val (n2, m2, v2) = stats(gb)
      val t = (m1 - m2) / math.sqrt(v1 / n1 + v2 / n2)
      assert(math.abs(r.getDouble(5) - t) < 1e-3, s"${r.getString(0)}")
    }
  }

  test("bloom_grouped: a group's filter equals the single-group construction") {
    val rows = SparkEntry.queries("q_sketch_bloom_grouped")(spark, Sf).collect()
    assert(rows.map(_.getString(0)).distinct.length == rows.length)
    val md = java.security.MessageDigest.getInstance("MD5")
    def pos(j: Int, key: Long): Long = {
      val h = md.digest(s"$j:$key".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h, 16) % 16384
    }
    val users = spark.read.parquet(s"$Sf/events.parquet")
      .select("event_type", "user_id").distinct().collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    for (r <- rows) {
      val keys = users(r.getString(0))
      // independent per-group construction: the set-bit count must equal
      // what this group's members alone produce
      val bits = keys.flatMap(k => (0 until 3).map(j => pos(j, k)))
      assert(r.getLong(1) == keys.size.toLong)
      assert(r.getLong(2) == bits.size.toLong, s"n_bits ${r.getString(0)}")
      // measured FP: probes are member+10^6, disjoint from members
      val fps = keys.count { k =>
        (0 until 3).forall(j => bits(pos(j, k + 1000000L)))
      }
      assert(r.getLong(3) == fps.toLong, s"n_fp ${r.getString(0)}")
    }
  }

  test("zscore: per-group z has mean ≈ 0 and sample std ≈ 1") {
    val rows = SparkEntry.queries("q_zscore")(spark, Sf).collect()
      .groupBy(_.getString(1))
    for ((tpe, g) <- rows) {
      val z = g.map(_.getDouble(2))
      val n = z.length.toDouble
      val m = z.sum / n
      val sd = math.sqrt(z.map(x => (x - m) * (x - m)).sum / (n - 1))
      assert(math.abs(m) < 1e-3, s"$tpe mean=$m")
      assert(math.abs(sd - 1.0) < 1e-2, s"$tpe sd=$sd")
    }
  }

  test("quantile_normalize: pr spans [0,1] with unique ranks per group") {
    val rows = SparkEntry.queries("q_quantile_normalize")(spark, Sf).collect()
      .groupBy(_.getString(1))
    for ((tpe, g) <- rows) {
      val pr = g.map(_.getDouble(2)).sorted
      assert(pr.head == 0.0 && pr.last == 1.0, s"$tpe span")
      assert(pr.forall(p => p >= 0.0 && p <= 1.0))
      assert(pr.distinct.length == pr.length, s"$tpe rank ties")
    }
  }

  test("feature_hash: bucket counts conserve each doc's token count") {
    val rows = SparkEntry.queries("q_feature_hash")(spark, Sf).collect()
    assert(rows.forall(r => r.getLong(1) >= 0 && r.getLong(1) < 64))
    val perDoc = rows.groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(2)).sum).toMap
    val toks = graft.queries.corpusToks(spark, Sf)
      .groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perDoc == toks)
  }

  test("pmi: marginal-consistent and matches an in-memory replay") {
    val rows = SparkEntry.queries("q_pmi")(spark, Sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(2) >= 5))
    // replay: pair counts from the same split arrays
    val delim = graft.operators.Tokenize.Delim
    val pairs = spark.read.parquet(s"$Sf/documents.parquet")
      .select(split(col("text"), delim).as("a")).collect()
      .flatMap { r =>
        val a = r.getSeq[String](0)
        a.iterator.zip(a.iterator.drop(1)).filter { case (x, y) =>
          x.toLowerCase.exists(c => c >= '`' && c <= 'z') &&
            y.toLowerCase.exists(c => c >= '`' && c <= 'z')
        }.toSeq
      }
    val c = pairs.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val l = c.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val rr = c.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val nb = c.values.sum.toDouble
    for (row <- rows.take(30)) {
      val (w1, w2) = (row.getString(0), row.getString(1))
      val cnt = c((w1, w2))
      assert(row.getLong(2) == cnt)
      val pmi = math.log(nb * cnt / (l(w1).toDouble * rr(w2).toDouble))
      assert(math.abs(row.getDouble(3) - pmi) < 1e-5, s"($w1,$w2)")
    }
  }

  test("join_interval: binned overlap join equals the quadratic replay") {
    val got = SparkEntry.queries("q_join_interval")(spark, Sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val ev = graft.queries.table(spark, Sf, "events")
      .selectExpr("user_id", "event_type", "unix_micros(ts) AS us").collect()
    val byUser = ev.groupBy(_.getLong(0))
    val expect = byUser.flatMap { case (u, g) =>
      val cs = g.filter(_.getString(1) == "click").map(_.getLong(2))
      val ps = g.filter(_.getString(1) == "purchase").map(_.getLong(2))
      val ov = for {
        c <- cs; p <- ps
        s = math.max(c, p); e = math.min(c, p) + 1800000000L
        if s < e
      } yield e - s
      if (ov.isEmpty) None else Some(u -> (ov.length.toLong, ov.sum))
    }
    assert(got == expect.toMap)
  }

  test("ref_integrity: orphan counts match a NOT IN replay") {
    val rows = SparkEntry.queries("q_ref_integrity")(spark, Sf).collect()
    assert(rows.length == 4)
    def keys(t: String, c: String) =
      spark.read.parquet(s"$Sf/$t.parquet").select(c).collect()
        .map(_.getLong(0)).toSet
    def longs(t: String, c: String) =
      spark.read.parquet(s"$Sf/$t.parquet").selectExpr(s"CAST($c AS BIGINT)")
        .collect().map(_.getLong(0))
    val checks = Map(
      "lineitem.l_orderkey->orders" ->
        (longs("lineitem", "l_orderkey"), keys("orders", "o_orderkey")),
      "lineitem.l_partkey->part" ->
        (longs("lineitem", "l_partkey"), keys("part", "p_partkey")),
      "lineitem.l_suppkey->supplier" ->
        (longs("lineitem", "l_suppkey"), keys("supplier", "s_suppkey")),
      "orders.o_custkey->customer" ->
        (longs("orders", "o_custkey"),
          longs("customer", "c_custkey").toSet))
    for (r <- rows) {
      val (child, parents) = checks(r.getString(0))
      assert(r.getLong(1) == child.length.toLong)
      assert(r.getLong(2) == child.count(k => !parents(k)).toLong,
        r.getString(0))
    }
  }

  test("tpch_q5: broadcasts all four dims; revenue strictly ordered") {
    val p = SparkEntry.queries("q_tpch_q5")(spark, Sf).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 4, p)
    assert(!p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"), p)
    val rows = SparkEntry.queries("q_tpch_q5")(spark, Sf).collect()
    assert(rows.nonEmpty)
    val rev = rows.map(_.getDouble(1))
    assert(rev.zip(rev.tail).forall { case (a, b) => a >= b })
  }

  test("random_projection: exact BIGINT dots match an md5-weight replay") {
    val rows = SparkEntry.queries("q_random_projection")(spark, Sf).collect()
    // rebuild the md5-seeded hyperplane matrix by its public rule
    val w = (0 until 8).map { p =>
      (0 until 64).map { i =>
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(s"lsh:$p:$i".getBytes("UTF-8"))
        val v = java.lang.Long.parseLong(
          md.take(4).map("%02x".format(_)).mkString, 16)
        (v % 2001L) - 1000L
      }
    }
    val vecs = spark.read.parquet(s"$Sf/embeddings.parquet").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1000 + 0.5).toLong))
      .toMap
    for (r <- rows.take(50)) {
      val q = vecs(r.getLong(0))
      for (p <- 0 until 8) {
        val dot = q.zip(w(p)).map { case (x, y) => x * y }.sum
        assert(r.getLong(1 + p) == dot, s"vec ${r.getLong(0)} plane $p")
      }
    }
  }

  test("kanon: released groups all reach K; suppressed groups are < K") {
    val rows = SparkEntry.queries("q_kanon")(spark, Sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(2) >= 5))
    val all = spark.read.parquet(s"$Sf/customer.parquet")
      .selectExpr("c_mktsegment", "CAST(c_nationkey % 5 AS BIGINT) AS r")
      .collect().groupBy(r => (r.getString(0), r.getLong(1))).view
      .mapValues(_.length.toLong).toMap
    val released = rows.map(r => (r.getString(0), r.getLong(1))).toSet
    for (((k, cnt)) <- all) {
      if (cnt >= 5) assert(released(k), s"group $k size $cnt missing")
      else assert(!released(k), s"group $k size $cnt should be suppressed")
    }
  }
}
