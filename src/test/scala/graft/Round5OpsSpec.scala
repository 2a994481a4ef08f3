package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the round-5 additions: BM25 relevance,
  * equi-depth binning on the distributed rank, BPE merge rounds, and the
  * bucketed Pareto skyline. Exact value matching is dev/check.py's job;
  * these pin the properties a refactor could silently break. */
class Round5OpsSpec extends AnyFunSuite with SparkFixture {

  test("bm25: scores are positive, descending, with doc_id tie-break") {
    val rows = SparkEntry.queries("q_bm25")(spark, Sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val scores = rows.map(_.getDouble(2))
    assert(scores.forall(_ > 0))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    rows.zip(rows.tail).foreach { case (a, b) =>
      if (a.getDouble(2) == b.getDouble(2)) assert(a.getLong(0) < b.getLong(0))
    }
    assert(rows.map(_.getLong(1)).forall(n => n >= 1 && n <= 4))
  }

  test("bin_equidepth: bins partition the corpus with non-decreasing bounds") {
    val rows = SparkEntry.queries("q_bin_equidepth")(spark, Sf).collect()
    val total = graft.queries.corpusToks(spark, Sf)
      .select("doc_id").distinct().count()
    assert(rows.map(_.getLong(1)).sum == total) // every doc in exactly one bin
    // equi-depth: bin sizes differ by at most 1 when |docs| ≥ 10 — the
    // (rk-1)·10 div n rule floors evenly
    val sizes = rows.map(_.getLong(1))
    assert(sizes.max - sizes.min <= 1)
    // [lo, hi] ranges are ordered: bin k's hi ≤ bin k+1's lo can overlap
    // only on ties of the underlying value
    rows.zip(rows.tail).foreach { case (a, b) =>
      assert(a.getLong(3) <= b.getLong(2) ||
        a.getLong(3) == b.getLong(2)) // hi_k ≤ lo_{k+1} (ties equal)
      assert(a.getLong(2) <= a.getLong(3)) // lo ≤ hi within a bin
    }
  }

  test("bin_equidepth: identical bins under different partitioning") {
    // the bin rule rides the UNIQUE (n_tok, doc_id) rank — re-partitioning
    // must not move any doc across bins (ties carry the doc_id tiebreak)
    val a = SparkEntry.queries("q_bin_equidepth")(spark, Sf).collect().toSeq
    withConf("spark.sql.shuffle.partitions", "13") {
      val b = SparkEntry.queries("q_bin_equidepth")(spark, Sf).collect().toSeq
      assert(a == b)
    }
  }

  test("bpe_merges: 3 steps with non-increasing weights and real pairs") {
    val rows = SparkEntry.queries("q_bpe_merges")(spark, Sf).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    val ws = rows.map(_.getLong(3))
    // a later round's best pair existed as a (weighted) symbol triple
    // before the earlier merge, so its weight cannot exceed it
    assert(ws.zip(ws.tail).forall { case (a, b) => a >= b })
    assert(rows.forall(r => r.getString(1).nonEmpty && r.getString(2).nonEmpty))
    assert(ws.forall(_ > 0))
  }

  test("bpe apply: symbol counts shrink by at most the trained merge weights") {
    val merges = SparkEntry.queries("q_bpe_merges")(spark, Sf).collect()
    val applied = SparkEntry.queries("q_bpe_apply")(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    applied.foreach { case (w, _, nSym) =>
      assert(nSym >= 1 && nSym <= w.length, s"$w: n_sym $nSym")
    }
    val totalChars = applied.map { case (w, cnt, _) => cnt * w.length }.sum
    val totalSyms = applied.map { case (_, cnt, nSym) => cnt * nSym }.sum
    val claimed = merges.map(_.getLong(3)).sum
    // each executed merge removes exactly one symbol; non-overlapping
    // left-to-right replace may execute FEWER merges than the counted
    // pair weight (" a a a " counts 2 pairs, merges once) — never more
    assert(totalSyms < totalChars, "training merged nothing")
    assert(totalChars - totalSyms <= claimed,
      s"merged more symbols ($totalChars - $totalSyms) than trained weight $claimed")
  }

  test("bpe merge actually rewrites sequences (merged token appears)") {
    // replay round 1 by hand on the tiny corpus: after merging the top
    // pair (l, r), no word sequence may still contain ' l r ' as adjacent
    // separate symbols
    val t1 = SparkEntry.queries("q_bpe_merges")(spark, Sf)
      .where(col("step") === 1).collect()(0)
    val (l, r) = (t1.getString(1), t1.getString(2))
    val seqs = graft.queries.corpusToks(spark, Sf)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .withColumn("seq", concat(lit(" "),
        regexp_replace(col("word"), "(.)", "$1 ")))
      .withColumn("merged", expr(
        s"replace(seq, ' $l $r ', ' $l$r ')"))
    assert(seqs.where(col("merged").contains(s" $l $r ")).count() == 0)
  }

  test("scd2: version chains are gapless with exactly one current row per key") {
    val rows = SparkEntry.queries("q_scd2")(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getLong(5)))
    rows.groupBy(_._1).foreach { case (_, chain0) =>
      val chain = chain0.sortBy(_._2)
      // every non-final interval closes exactly where the next opens
      chain.zip(chain.tail).foreach { case (a, b) =>
        assert(a._3.contains(b._2), s"gap: $a -> $b")
      }
      assert(chain.count(_._4 == 1L) == 1) // one current version
      assert(chain.last._3.isEmpty)        // and it's the open-ended one
    }
  }

  test("shuffle_shards: a true permutation, stable under repartitioning") {
    val rows = SparkEntry.queries("q_shuffle_shards")(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val total = spark.read.parquet(s"$Sf/documents.parquet").count()
    assert(rows.map(_._1).distinct.length.toLong == total) // every doc once
    rows.groupBy(_._2).foreach { case (_, g) =>
      assert(g.map(_._3).sorted.toSeq == (1L to g.length)) // contiguous pos
    }
    withConf("spark.sql.shuffle.partitions", "7") {
      val again = SparkEntry.queries("q_shuffle_shards")(spark, Sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.toSeq == again.toSeq)
    }
  }

  test("pipeline_assemble: exact mixture ratio and contiguous per-shard bins") {
    val rows = SparkEntry.queries("q_pipeline_assemble")(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // the mixed corpus is u units of the 4:2:2:1:1 weights → total docs
    // divisible by Σw = 10 (exact-ratio mixing survived the composition)
    assert(rows.map(_._3).sum % 10 == 0)
    rows.groupBy(_._1).foreach { case (_, g) =>
      val bins = g.map(_._2).sorted
      assert(bins.toSeq == (bins.head to bins.last), // contiguous bins
        s"gap in bins: ${bins.toSeq}")
      // greedy packing: every bin but the shard's last holds > 0 tokens
      assert(g.forall(_._4 > 0))
    }
  }

  test("heavy hitters: CMS candidates have no false negatives, even squeezed") {
    import spark.implicits._
    // a deliberately narrow sketch (width 4) forces collisions: estimates
    // may inflate (false positives allowed) but can NEVER undercount, so
    // thresholding n_est keeps every true heavy hitter
    val words = (Seq.fill(50)("hot1") ++ Seq.fill(40)("hot2") ++
      (1 to 30).flatMap(i => Seq.fill(2)(s"cold$i"))).toDF("word")
    val est = graft.operators.Sketches.cmsEstimates(words, "word", 4, 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    est.foreach { case (w, nTrue, nEst) =>
      assert(nEst >= nTrue, s"$w undercounted: est $nEst < true $nTrue")
    }
    val thr = 40
    val candidates = est.filter(_._3 >= thr).map(_._1).toSet
    assert(Set("hot1", "hot2").subsetOf(candidates)) // no false negatives
    // and the verify stage separates the survivors exactly
    assert(est.filter(e => e._3 >= thr && e._2 >= thr).map(_._1).toSet ==
      Set("hot1", "hot2"))
  }

  test("synth_agg: aggregation is COMPLETELY pushed into the DSv2 scan") {
    val df = SparkEntry.queries("q_synth_agg")(spark, Sf)
    val p = df.queryExecution.executedPlan.toString
    // complete pushdown: the connector answers with one row; no Spark
    // aggregation exec may survive above the scan
    assert(p.contains("SynthAggScan") || p.contains("BatchScan"), p)
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate"), p)
    // and the answer equals the honest aggregate over the generated rows
    val row = df.collect()(0)
    assert(row.getLong(0) == 89000L && row.getLong(1) == 1000L &&
      row.getLong(2) == 89999L, row)
    // a query the connector CANNOT answer (grouped) still works — Spark
    // keeps its own aggregation on the row path
    val grouped = spark.read.format("graft.sources.SynthSource")
      .option("rows", "100").option("partitions", "4").load()
      .groupBy((col("doc_id") % 10).as("b")).count()
    assert(grouped.queryExecution.executedPlan.toString.contains("HashAggregate"))
    assert(grouped.collect().map(_.getLong(1)).sum == 100L)
  }

  test("dpp: fact scan carries a dynamic pruning partition filter") {
    // run once so the partitioned layout exists, then plan the same
    // join shape and assert Catalyst injected the runtime partition filter
    SparkEntry.queries("q_dpp")(spark, Sf).collect()
    val dim = spark.read.parquet(s"$Sf/documents.parquet")
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= 75)
    val fact = spark.read
      .parquet(s"${graft.queries.TmpRoot}/docs_by_lang_dpp")
      .join(broadcast(dim), "lang")
      .groupBy("lang").agg(count(lit(1)).as("n"))
    val p = fact.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"), p)
  }

  test("winsorize: ~10% of mass clips and the clamped mean moves inward") {
    val rows = SparkEntry.queries("q_winsorize")(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, nLo, nHi) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val (lo, hi) = (r.getDouble(6), r.getDouble(7))
      assert(lo <= hi)
      // p05/p95 thresholds clip at most ~5% each side (interpolation can
      // only shrink the strictly-outside set, never grow it)
      assert(nLo <= n * 0.05 + 1 && nHi <= n * 0.05 + 1, s"$r")
      assert(nLo + nHi > 0, s"nothing clipped for ${r.getString(0)}")
    }
  }

  test("mad_outliers: med/mad are non-negative and outliers are a minority") {
    val rows = SparkEntry.queries("q_mad_outliers")(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, nOut, mad) = (r.getLong(1), r.getLong(2), r.getDouble(4))
      assert(mad >= 0.0)
      assert(nOut >= 0 && nOut * 2 < n, s"outliers not a minority: $r")
    }
  }

  test("skyline: result is exactly the non-dominated distinct point set") {
    val fr = SparkEntry.queries("q_skyline")(spark, Sf).collect()
      .map(r => (r.getDouble(0), r.getLong(1)))
    assert(fr.nonEmpty)
    // no frontier point dominates another
    for (a <- fr; b <- fr if a != b)
      assert(!(b._1 <= a._1 && b._2 >= a._2 && (b._1 < a._1 || b._2 > a._2)),
        s"$b dominates $a inside the frontier")
    // brute-force reference on the tiny sf: frontier == non-dominated set
    val pts = spark.read.parquet(s"$Sf/part.parquet")
      .groupBy(col("p_retailprice").as("price"), col("p_size").cast("long").as("size"))
      .count().collect().map(r => (r.getDouble(0), r.getLong(1)))
    val expected = pts.filter(a => !pts.exists(b =>
      b._1 <= a._1 && b._2 >= a._2 && (b._1 < a._1 || b._2 > a._2))).toSet
    assert(fr.toSet == expected)
  }
}
