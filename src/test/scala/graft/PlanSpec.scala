package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards: correctness is the oracle gate's job;
  * these pin the SHAPE that makes each query scale — a regression that
  * keeps results right but, say, drops a broadcast hint or widens a scan
  * fails here instead of in production. */
class PlanSpec extends AnyFunSuite with SparkFixture {

  private def readSchema(p: String): String =
    "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")

  test("q_join_broadcast: both dimension joins are broadcast hash joins") {
    val p = plan("q_join_broadcast")
    // formatted mode prints each join once in the tree ("... Inner BuildX")
    assert("BroadcastHashJoin Inner".r.findAllIn(p).length == 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q1_agg: scan is column-pruned to exactly the 6 needed columns") {
    val p = plan("q1_agg")
    val schema = readSchema(p)
    // count field NAMES (type parameters may themselves contain commas)
    val fields = "(\\w+):".r.findAllIn(schema).length
    assert(fields == 6, schema)
    // map-side partial aggregation present (partial_* agg functions in the
    // first HashAggregate — node counts are unreliable in formatted mode,
    // which prints every node twice)
    assert(p.contains("partial_count"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("q_join_semi / q_join_anti: existence joins, no row-duplicating join") {
    assert(plan("q_join_semi").contains("LeftSemi"))
    assert(plan("q_join_anti").contains("LeftAnti"))
  }

  test("q_topk: top-K runs as TakeOrderedAndProject, not a global sort") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_topk: the map stage is one TokenCountsExec over the scan") {
    import org.apache.spark.sql.catalyst.expressions.{Lower, RLike, StringSplit}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Sum}
    import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec, GenerateExec,
      InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = SparkEntry.queries("q_topk")(spark, Sf)
    df.collect()
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other.children.flatMap(nodes)
    })
    // through row transitions, codegen spans and AQE's shuffle-read wrappers
    def input(p: SparkPlan): SparkPlan = p match {
      case _: WholeStageCodegenExec | _: InputAdapter | _: ColumnarToRowExec | _: ProjectExec |
           _: AQEShuffleReadExec =>
        input(p.children.head)
      case q: QueryStageExec => input(q.plan)
      case other => other
    }
    val all = nodes(df.queryExecution.executedPlan)
    val counts = all.collect { case t: graft.plans.TokenCountsExec => t }
    assert(counts.size == 1, all.head)
    assert(input(counts.head.child).isInstanceOf[FileSourceScanExec], counts.head)
    // TokenCountsExec is the combiner: the exchange reads it directly …
    val exchange = all.collect { case e: ShuffleExchangeExec if input(e.child) eq counts.head => e }
    assert(exchange.size == 1, all.head)
    assert(!all.exists {
      case h: HashAggregateExec => input(h.child) eq counts.head
      case _ => false
    }, all.head)
    // … and one Final-mode sum merges its rows
    val finals = all.collect { case h: HashAggregateExec if input(h.child) eq exchange.head => h }
    assert(finals.size == 1, all.head)
    assert(finals.head.aggregateExpressions.map(a => (a.mode, a.aggregateFunction.getClass)) ==
      Seq((Final, classOf[Sum])), finals.head)
    assert(!all.exists(_.isInstanceOf[GenerateExec]), all.head)
    val regexPath = all.flatMap(_.expressions.flatMap(_.collect {
      case e @ (_: RLike | _: StringSplit | _: Lower) => e
    }))
    assert(regexPath.isEmpty, regexPath)
  }

  test("q_wordcount: scan pruned to the single text column") {
    val p = plan("q_wordcount")
    // the tokenizer isn't pushable, but the scan must be pruned to the
    // single text column
    assert(readSchema(p) == "text:string", readSchema(p))
  }

  test("q_scan_text: scan reads exactly the five projected columns") {
    val schema = readSchema(plan("q_scan_text"))
    val names = "(\\w+):".r.findAllMatchIn(schema).map(_.group(1)).toSet
    assert(names == Set("doc_id", "lang", "source", "n_chars", "text"), schema)
  }

  test("q_sql_topk: the GRAFT TOPK dialect plans as native partial+final TopKPerKeyExec") {
    val p = plan("q_sql_topk")
    // the SQL front door must reach the same physical operator pair as the
    // programmatic spelling — not a window fallback (formatted mode lists
    // each node once as "(n) TopKPerKey" in the details section)
    assert("\\(\\d+\\) TopKPerKey".r.findAllIn(p).length == 2, p)
    assert(!p.contains("Window"), p)
  }

  test("q_dedup_paragraph: min-struct keeper selection, no window sort") {
    // the whole point of the agg+join shape: a paragraph duplicated 10^6
    // times must collapse map-side, not pile into one window partition
    val p = plan("q_dedup_paragraph")
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_min"), p)
  }

  test("q_join_range: binned join is a real equi join, not nested-loop") {
    val p = plan("q_join_range")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_dedup_minhash: no cartesian fallback in the LSH bucket join") {
    val p = plan("q_dedup_minhash")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_fuzzy_match: blocked candidates, no nested-loop / cartesian join") {
    val p = plan("q_fuzzy_match")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_star_profit: all three dimensions broadcast, fact never shuffles pre-agg") {
    val p = plan("q_star_profit")
    assert("BroadcastHashJoin Inner".r.findAllIn(p).length == 3, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_join_salted: salt column participates in the join keys") {
    val p = plan("q_join_salted")
    assert(p.contains("__salt"), p)
  }

  test("q_join_bloom: bloom prune filters the fact side before the join") {
    val p = plan("q_join_bloom")
    assert(p.contains("bloom_might_contain"), p)
  }

  test("q_winnow_pairs: fingerprint bucket join is equi, never nested-loop") {
    val p = plan("q_winnow_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_triangles: wedge closure is an equi join; only 1-row stat crossjoins") {
    val p = plan("q_triangles")
    // the wedge join and the closure join must both be hash/sort-merge equi
    // joins; the only permissible non-equi joins are the three single-row
    // stat-assembly crossjoins at the top
    assert(!p.contains("CartesianProduct"), p)
    // formatted mode lists each node once as "(n) BroadcastNestedLoopJoin"
    val bnlj = "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj == 2, s"expected only the 2 one-row stat-assembly joins, got $bnlj\n$p")
  }

  test("q_sample_pps: the inclusion filter stays a narrow scan-side filter") {
    val p = plan("q_sample_pps")
    // one broadcast of the 1-row global weight; no shuffle of the doc side
    // beyond the final order
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_sketch_cms / q_centroid: partial map-side aggregation present") {
    assert(plan("q_sketch_cms").contains("partial_count"))
    assert(plan("q_centroid").contains("partial_sum"))
  }

  test("q_dedup_simhash_pairs: banded candidates, no nested-loop / cartesian") {
    val p = plan("q_dedup_simhash_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_delta_dedup / q_span_dedup: equi joins only, never nested-loop") {
    for (n <- Seq("q_delta_dedup", "q_span_dedup")) {
      val p = plan(n)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$n:\n$p")
      assert(!p.contains("CartesianProduct"), s"$n:\n$p")
    }
  }

  test("q_agg_salted: two aggregation tiers, salt in the first grouping only") {
    val p = plan("q_agg_salted")
    // stage 1 groups by (l_returnflag, salt); stage 2 by l_returnflag only —
    // both with map-side partials, so four HashAggregate tiers total
    assert(p.contains("partial_sum"), p)
    assert("Keys \\[2\\]: \\[l_returnflag[^,]*, [^\\]]*salt".r.findFirstIn(p).isDefined, p)
    assert("\\(\\d+\\) HashAggregate".r.findAllIn(p).length == 4, p)
  }

  test("q_winnow: selection runs inside Generate — no Window, no pre-agg Exchange") {
    val p = plan("q_winnow")
    // round 3 shuffled one row per character position into a
    // Window.partitionBy(doc_id) w-frame min; the WinnowGenerator computes
    // the minima inline, so the plan must have no Window node and exactly
    // two Exchanges (the partial-agg'd fingerprint-set shuffle + final sort)
    assert(p.contains("winnow_fingerprints"), p)
    assert(!p.contains("Window"), p)
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).length == 2, p)
    // the one data Exchange sits ABOVE a partial aggregate (map-side
    // collect_set dedup), never below the Generate
    assert(p.contains("partial_collect_set"), p)
  }

  test("q_percentile: distributed selection, no whole-group percentile buffer") {
    val p = plan("q_percentile")
    // the built-in percentile() is a TypedImperativeAggregate that holds
    // every value of a group in one task's buffer; the selection shape must
    // plan the zipWithIndex rank lineage instead (Ranks.withinKey's single
    // materialized RDD — the determinism-by-construction boundary), with
    // the rank/neighbor metadata sides broadcast
    assert(!p.contains("percentile("), p)
    assert(p.contains("Scan ExistingRDD"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_mv_rewrite: answered from the summary, fact never scanned") {
    val p = plan("q_mv_rewrite")
    assert(p.contains("mv_lineitem"), p)
    assert(!p.contains("lineitem.parquet"), p)
  }

  test("q_mv_rewrite_minmax: min/max answered from partials, fact never scanned") {
    val p = plan("q_mv_rewrite_minmax")
    assert(p.contains("mv_lineitem_mm"), p)
    assert(!p.contains("lineitem.parquet"), p)
    assert(p.contains("min(mn_price") && p.contains("max(mx_price"), p)
  }

  test("q_mv_refresh: answered from the REFRESHED summary, fact never scanned") {
    val p = plan("q_mv_refresh")
    assert(p.contains("mv_li_v1"), p) // the v1 (post-refresh) summary
    assert(!p.contains("lineitem.parquet"), p)
  }

  test("q_shingle_gen: native generator row-emitter, no per-row array transform") {
    val p = plan("q_shingle_gen")
    assert(p.contains("char_shingles"), p)
    assert(!p.contains("transform("), p)
  }

  test("q_sample_per_key: plans through the native TopKPerKeyExec pair") {
    val p = plan("q_sample_per_key")
    assert("TopKPerKey".r.findAllIn(p).nonEmpty, p)
    assert(!p.contains("Window"), p) // never falls back to a window sort
  }

  test("q_bm25: top-k is TakeOrderedAndProject; df and stats sides broadcast") {
    val p = plan("q_bm25")
    // limit-after-orderBy must plan the distributed top-k operator (k rows
    // per partition cross), never a global Sort of the scored corpus
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_tpch_q3: broadcast dim, pushed date filters, TakeOrderedAndProject") {
    val p = plan("q_tpch_q3")
    assert(p.contains("BroadcastHashJoin"), p) // customer dim never shuffles
    assert(p.contains("TakeOrderedAndProject"), p) // top-10, no global sort
    // both date predicates reach the parquet scans
    assert("PushedFilters: \\[[^\\]]*LessThan\\(o_orderdate".r
      .findFirstIn(p).nonEmpty, p)
    assert("PushedFilters: \\[[^\\]]*GreaterThan\\(l_shipdate".r
      .findFirstIn(p).nonEmpty, p)
  }

  test("q_zscore: the stats join is broadcast (normalize pass never shuffles)") {
    val p = plan("q_zscore")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_ngram_topk: native partial+final TopKPerKeyExec, no Window") {
    val p = plan("q_ngram_topk")
    assert("\\(\\d+\\) TopKPerKey".r.findAllIn(p).length == 2, p)
    assert(!p.contains("Window"), p)
  }

  test("q_ewma: all 16 lag terms collapse into ONE partitioned Window node") {
    val p = plan("q_ewma")
    assert("\\(\\d+\\) Window".r.findAllIn(p).length == 1, p)
  }

  test("q_transitions: the normalizer joins back broadcast") {
    val p = plan("q_transitions")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_inverted_index: posting heads via native TopKPerKeyExec, no per-term window") {
    val p = plan("q_inverted_index")
    assert(p.contains("TopKPerKey"), p)
    assert(!"\\(\\d+\\) Window\\b".r.findAllIn(p).hasNext, p)
  }

  test("q_join_lateral: the correlated lateral decorrelates to an aggregate join") {
    val p = plan("q_join_lateral")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("flagship + native-expression queries participate in whole-stage codegen") {
    // the flagship or a native-Expression query (EncodeWordExpression,
    // IntVecDot under q_ann_topk) silently falling off codegen is a perf
    // regression that must fail CI, not surface as a bench mystery
    // (r11 verdict task 2)
    val lost = Seq("q_wordcount", "q1_agg", "q_encode_exact", "q_ann_topk",
                   "q_dedup_minhash")
      .filterNot(q => CatalogRun(q).finalPlan.contains("codegen id :"))
    assert(lost.isEmpty, s"queries that lost whole-stage codegen: $lost")
  }

  test("BNLJ pins: equi joins never silently degrade to nested-loop") {
    // expected BroadcastNestedLoopJoin count per flagship-family query —
    // the only legitimate BNLJs are constant-size scalar/query-set
    // crossings (q_ann_topk's k-row non-equi query broadcast, q_tfidf's
    // 1-row global doc-count carrier); every equi-join family pins 0 so
    // a join degradation shows up as a CI diff, not a bench mystery
    // (r11 verdict task 3). Counted on the EXECUTED plan (CatalogRun) —
    // AQE's final join selection, same counter as PlanAudit's `bnlj` field.
    val pins = Seq(
      "q_wordcount" -> 0, "q1_agg" -> 0, "q_join_broadcast" -> 0,
      "q_join_sortmerge" -> 0, "q_join_semi" -> 0, "q_join_anti" -> 0,
      "q_dedup_exact" -> 0, "q_dedup_minhash" -> 0, "q_dedup_simhash" -> 0,
      "q_dedup_ngram" -> 0, "q_token_count" -> 0,
      "q_ann_ivf" -> 0, "q_ann_lsh" -> 0,
      "q_tfidf" -> 1,   // the 1-row global doc-count scalar carrier
      "q_ann_topk" -> 1) // the constant-k broadcast query-set crossing
    val bad = pins.flatMap { case (q, want) =>
      val n = "\\(\\d+\\) BroadcastNestedLoopJoin".r
        .findAllIn(CatalogRun(q).finalPlan).length
      if (n == want) None else Some(s"$q: expected $want BNLJ, got $n")
    }
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("headline queries execute zero unbounded global windows") {
    // round-11 verdict task 5: ~93 catalog plans contain WindowExec, and
    // the global-window sites are safe only by the convention that their
    // input is a `.limit(k)` head or a bounded decile/cohort frame. This
    // pins the machine-checkable half for the FROZEN headline set: a
    // corpus-scale global window (every row into one task's sort — the
    // canonical 100 TB scale-killer) appearing in a flagship family
    // fails CI instead of surfacing as a bench mystery. The structural
    // walk (GraftSqlShim.unboundedGlobalWindows) runs on the EXECUTED
    // plan (CatalogRun) and descends through AQE wrappers, query stages
    // and cached relations.
    val bad = Bench.Headline.toSeq.sorted.flatMap { q =>
      val n = CatalogRun(q).unboundedGlobalWindows
      if (n == 0) None else Some(s"$q: $n")
    }
    assert(bad.isEmpty, s"unbounded global windows in: $bad")
  }

  test("catalog-wide: no query plans a CartesianProduct") {
    // 1-row stat-assembly crossjoins plan as BroadcastNestedLoopJoin and
    // are fine; an actual CartesianProduct (both sides big, no key) is
    // always a bug at scale. Reads the whole EXECUTED explain
    // (CatalogRun), so both AQE's final and initial trees are checked.
    val offenders = CatalogRun.results.toSeq.sortBy(_._1).collect {
      case (name, Left(e)) => fail(s"$name failed: $e")
      case (name, Right(r)) if r.explain.contains("CartesianProduct") => name
    }
    assert(offenders.isEmpty, s"CartesianProduct in: $offenders")
  }
}
