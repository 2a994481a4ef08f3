package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Ckpt._

/** Round-5 wave-3 additions: weighted graph analytics (SSSP, k-core,
  * deterministic random walks) and Spark-4 SQL-surface coverage
  * (recursive CTEs, VARIANT semi-structured extraction) — each with a
  * DuckDB oracle twin built on exact integer/string arithmetic so the
  * cross-engine compare is bit-exact.
  *
  * Graph inputs derive from the harness tables the way the existing graph
  * family does (reference has no graph surface; SURVEY §2c extensions):
  * the part↔supplier bipartite projection of lineitem (q_pagerank/q_bfs's
  * graph, here weighted by min shipped quantity) and the co-purchase part
  * graph (q_freq_pairs' basket-capped, support-thresholded edges).
  */
object Analytics extends Catalog {

  type Q = (SparkSession, String) => DataFrame

  /** q_kcore: peeling threshold. k=3 exercises a real multi-round cascade
    * at sf0.01 (1243 → 1078 → 1019 surviving vertices) while k=4 would
    * empty the sparser sf0.1 projection in one round. */
  private val KCoreK = 3

  /** part↔supplier bipartite edges weighted by the minimum shipped
    * quantity of the pair — supplier ids offset into a shared vertex
    * space (the q_pagerank convention). Weights are integral (quantities
    * are whole numbers stored as doubles), so path costs stay BIGINT. */
  private def weightedBipartite(s: SparkSession, dir: String): DataFrame = {
    val pairs = table(s, dir, "lineitem")
      .groupBy(col("l_partkey").as("p"),
        (col("l_suppkey") + 1000000L).as("sv"))
      .agg(min(col("l_quantity").cast("long")).as("w"))
    pairs.select(col("p").as("src"), col("sv").as("dst"), col("w"))
      .unionByName(pairs.select(col("sv").as("src"), col("p").as("dst"),
        col("w")))
  }

  private val PairsSql =
    """pairs AS (
      |  SELECT l_partkey AS p, l_suppkey + 1000000 AS sv,
      |    CAST(min(l_quantity) AS BIGINT) AS w
      |  FROM lineitem GROUP BY 1, 2
      |)""".stripMargin

  /** q_bootstrap: Poisson(1) bootstrap weights as a pure hash function —
    * u = first-8-hex md5("bs-rep-id") ∈ [0, 2³²), w = the Poisson(1)
    * inverse CDF as fixed INTEGER thresholds ⌊cum·2³²⌋ (no float compare
    * at any boundary). Deterministic resampling with replacement, no RNG
    * state — both engines derive identical weights. */
  private val BootstrapReps = 32
  private val PoissonThresholds = Seq(1580030168L, 3160060337L, 3950075421L,
    4213413783L, 4279248373L, 4292415291L, 4294609777L)

  private def poissonCaseSql(u: String): String =
    PoissonThresholds.zipWithIndex
      .map { case (t, k) => s"WHEN $u < $t THEN $k" }
      .mkString("CASE ", " ", s" ELSE ${PoissonThresholds.size} END")

  val queries: Map[String, Q] = strictMap(

    // Poisson-bootstrap replicate means (the scale-out bootstrap: weights
    // are i.i.d.-ish Poisson(1) counts derived from a keyed PRF, so a
    // resample-with-replacement NEVER materializes — each row just
    // carries an integer weight per replicate, the streaming-friendly
    // bootstrap used on corpora too big to resample). 32 replicates of
    // the mean order-value in ONE pass: explode ×32, hash → weight via
    // integer thresholds, per-rep exact sums, terminal division. The
    // replicate spread IS the confidence interval.
    "q_bootstrap" -> ((s, dir) => {
      val ev = table(s, dir, "events").selectExpr("event_id",
        "CAST(floor(value*100 + 0.5) AS BIGINT) AS v")
      val u = "CAST(conv(substring(md5(concat('bs-', CAST(rep AS STRING), " +
        "'-', CAST(event_id AS STRING))), 1, 8), 16, 10) AS BIGINT)"
      ev.select(col("event_id"), col("v"),
          explode(expr(s"sequence(1, $BootstrapReps)")).as("rep"))
        .selectExpr("rep", "v", s"${poissonCaseSql(u)} AS w")
        .groupBy("rep")
        .agg(sum("w").as("n_eff"), sum(expr("w * v")).as("sv"))
        .selectExpr("CAST(rep AS BIGINT) AS rep", "n_eff",
          "round(CAST(sv AS DOUBLE) / n_eff / 100, 6) AS mu")
        .orderBy("rep")
    }),

    // Weighted shortest paths (3 Bellman-Ford sweeps) from the seed
    // suppliers over the min-quantity-weighted part↔supplier graph — the
    // weighted upgrade of q_bfs's hop distance ("cheapest ≤3-leg routing
    // to a vetted supplier"). Integer path costs; the oracle unrolls the
    // identical rounds as full relaxations, which the operator's
    // frontier-only expansion provably equals (see operators.Sssp).
    "q_sssp" -> ((s, dir) => {
      val edges = weightedBipartite(s, dir)
      val seeds = edges.where(col("src") % 7 === 0 && col("src") >= 1000000L)
        .select(col("src").as("v")).distinct()
      graft.operators.Sssp.run(edges, seeds, 3).orderBy("v")
    }),

    // k-core peeling (3 sweeps, k=3) over the co-purchase part graph
    // (q_freq_pairs' edges: basket-capped, support ≥ 2) — the density
    // filter that keeps the co-occurrence core and drops the sparse
    // fringe. The oracle unrolls the identical degree-count + two-semi-
    // join rounds.
    "q_kcore" -> ((s, dir) => {
      val b = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val small = b.groupBy("ok").agg(count(lit(1)).as("bsz"))
        .where(col("bsz") <= 64).select("ok")
      val bb = b.join(small, "ok")
      val und = bb.select(col("ok"), col("pk").as("u"))
        .join(bb.select(col("ok"), col("pk").as("v")), "ok")
        .where(col("u") < col("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("support"))
        .where(col("support") >= 2)
      graft.operators.KCore
        .run(und.select(col("u").as("src"), col("v").as("dst")), KCoreK, 3)
        .orderBy("v")
    }),

    // Deterministic "random" walks (3 steps) from the seed suppliers:
    // next vertex = argmin over out-neighbors of md5("cur|step|nbr") — a
    // keyed PRF both engines spell identically, giving reproducible
    // node2vec-style walk corpora with no RNG state. The oracle unrolls
    // the steps with the same hash strings.
    "q_random_walks" -> ((s, dir) => {
      // ckpt before mirroring (round-10 mirrored-union fix): `pairs`
      // feeds the union twice plus the seed set
      import graft.operators.Ckpt._
      val pairs = table(s, dir, "lineitem")
        .select(col("l_partkey").as("p"),
          (col("l_suppkey") + 1000000L).as("sv")).distinct().ckpt()
      val edges = pairs.select(col("p").as("src"), col("sv").as("dst"))
        .unionByName(pairs.select(col("sv").as("src"), col("p").as("dst")))
      val seeds = pairs.where(col("sv") % 3 === 0)
        .select(col("sv").as("v")).distinct()
      graft.operators.RandomWalk.run(edges, seeds, 3)
        .orderBy("seed", "step")
    }),

    // Recursive CTE through Spark's SQL frontend (Spark 4 WITH RECURSIVE,
    // executed as an iterative union loop — the same unrolled-iteration
    // execution shape the graph operators hand-build): halving ancestor
    // chains from every 97th customer key, depth + path sum per start.
    // The oracle runs genuinely recursive SQL in DuckDB — both engines
    // recurse, nothing is unrolled by hand.
    "q_sql_recursive" -> ((s, dir) => {
      table(s, dir, "customer").createOrReplaceTempView("customer_rec_v")
      s.sql(
        """WITH RECURSIVE chain AS (
          |  SELECT c_custkey AS orig, c_custkey AS cur,
          |    CAST(0 AS BIGINT) AS d
          |  FROM customer_rec_v WHERE c_custkey % 97 = 0
          |  UNION ALL
          |  SELECT orig, cur DIV 2, d + 1 FROM chain WHERE cur > 0
          |)
          |SELECT orig, max(d) AS depth, sum(cur) AS path_sum
          |FROM chain GROUP BY orig ORDER BY orig""".stripMargin)
    }),

    // Correlated LATERAL subquery through the SQL frontend: per sampled
    // customer, an aggregate over their orders. Catalyst decorrelates the
    // lateral into an outer aggregate join (no per-row re-execution —
    // the planner turns the correlated spelling into the same join/agg
    // the DataFrame catalog writes by hand), which is the point of the
    // row: the SQL surface reaches the scale-safe plan.
    "q_join_lateral" -> ((s, dir) => {
      table(s, dir, "customer").createOrReplaceTempView("customer_lat_v")
      table(s, dir, "orders").createOrReplaceTempView("orders_lat_v")
      s.sql(
        """SELECT c.c_custkey, l.n_orders, l.max_price
          |FROM customer_lat_v c,
          |LATERAL (
          |  SELECT count(*) AS n_orders,
          |    round(max(o_totalprice), 2) AS max_price
          |  FROM orders_lat_v o WHERE o.o_custkey = c.c_custkey
          |) l
          |WHERE c.c_custkey % 50 = 0
          |ORDER BY c.c_custkey""".stripMargin)
    }),

    // Cleaning-funnel attrition report: the cumulative survivor counts of
    // a 5-stage document filter chain (non-empty → known language →
    // length floor → type-token-ratio gate → exact dedup) — the per-rule
    // accounting every curation pipeline publishes next to its output
    // (what did each rule cost?). One corpus pass for the cheap gates,
    // one (doc, word) aggregation for the TTR gate (constant state per
    // doc), one distinct for the dedup stage. Every gate is
    // integer/string-exact (TTR as the cross-multiplication 2·uniq ≥
    // total — no float boundary), so both engines agree per doc.
    "q_filter_funnel" -> ((s, dir) => {
      val base = table(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      val tt = base
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .where(col("w") =!= "")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("nw"), countDistinct(col("w")).as("uw"))
      val d = base.join(tt, Seq("doc_id"), "left")
        .withColumn("b1", length(trim(col("text"))) > 0)
        .withColumn("b2", col("b1") && col("lang").isin("en", "fr", "de", "es"))
        .withColumn("b3", col("b2") && col("n_chars") >= 100)
        .withColumn("b4",
          col("b3") && coalesce(col("uw") * 2 >= col("nw"), lit(false)))
      d.agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("b1"), 1L).otherwise(0L)).as("s1_nonempty"),
        sum(when(col("b2"), 1L).otherwise(0L)).as("s2_lang"),
        sum(when(col("b3"), 1L).otherwise(0L)).as("s3_length"),
        sum(when(col("b4"), 1L).otherwise(0L)).as("s4_ttr"),
        countDistinct(when(col("b4"), col("text"))).as("s5_dedup"))
    }),

    // Journey-shape similarity: each user's first-5-event initial string
    // vs the canonical "signup→view→click→view→purchase" pattern, as an
    // edit-distance histogram — sequence mining × edit distance (the
    // funnel-conformance question "how close is each user's journey to
    // the designed flow?"). The per-user prefix is selected by the NATIVE
    // TopKPerKey operator (bounded heap — a 10⁶-event user contributes 5
    // rows to the shuffle, the whole-journey string is never built), the
    // ≤5-row ordered concat is a plain collect+sort, and levenshtein is
    // the classic DP both engines implement identically on codepoints.
    "q_seq_distance" -> ((s, dir) => {
      val ev = table(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id"), substring(col("event_type"), 1, 1).as("c"))
      val first5 = graft.operators.TopK.perKey(ev, Seq("user_id"),
        Seq(("us", true), ("event_id", true)), 5)
      first5.groupBy("user_id")
        .agg(expr(
          "array_join(transform(array_sort(collect_list(struct(us, event_id, c))), x -> x.c), '')")
          .as("journey"))
        .select(levenshtein(col("journey"), lit("svcvp")).cast("long").as("d"))
        .groupBy("d").agg(count(lit(1)).as("n_users"))
        .orderBy("d")
    }),

    // Leave-one-out target encoding (the ML-feature-prep staple that
    // leaks without the LOO exclusion): per event, the mean target of its
    // category EXCLUDING itself — (S_k − v_i)/(n_k − 1) over exact cent
    // sums, category stats broadcast back, one terminal division. n=1
    // groups encode to NULL (no peers), same CASE both engines.
    "q_target_encode" -> ((s, dir) => {
      val ev = table(s, dir, "events").selectExpr("event_id", "event_type",
        "CAST(floor(value*100 + 0.5) AS BIGINT) AS v")
      val st = ev.groupBy("event_type")
        .agg(sum("v").as("sv"), count(lit(1)).as("n"))
      ev.join(broadcast(st), "event_type")
        .selectExpr("event_id", "event_type",
          "CASE WHEN n > 1 THEN round(CAST(sv - v AS DOUBLE) / (n - 1) / 100, 6) END AS te")
        .orderBy("event_id")
    }),

    // GCN-style symmetric adjacency normalization: per undirected
    // co-purchase edge, w = 1/√(du·dv) — the D^{-1/2} A D^{-1/2} weights
    // graph neural nets consume. Degrees are exact BIGINTs; √ and ÷ are
    // single correctly-rounded IEEE ops from identical inputs, so both
    // engines emit bit-equal weights. One degree aggregation + two
    // broadcast-size joins back onto the edge list.
    "q_gcn_norm" -> ((s, dir) => {
      val b = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val small = b.groupBy("ok").agg(count(lit(1)).as("bsz"))
        .where(col("bsz") <= 64).select("ok")
      val bb = b.join(small, "ok")
      // und has three consumers (degree build + the two-sided join back)
      // — materialize the capped basket self-join once instead of
      // re-executing it per consumer (plan audit r7: 40 Exchanges before)
      val und = bb.select(col("ok"), col("pk").as("u"))
        .join(bb.select(col("ok"), col("pk").as("v")), "ok")
        .where(col("u") < col("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("support"))
        .where(col("support") >= 2).select("u", "v")
        .ckpt()
      val deg = und.select(col("u").as("x"))
        .unionByName(und.select(col("v").as("x")))
        .groupBy("x").agg(count(lit(1)).as("d"))
        .ckpt()
      und
        .join(deg.select(col("x").as("u"), col("d").as("du")), Seq("u"))
        .join(deg.select(col("x").as("v"), col("d").as("dv")), Seq("v"))
        .selectExpr("u", "v", "du", "dv",
          "round(1.0 / sqrt(CAST(du * dv AS DOUBLE)), 6) AS w")
        .orderBy("u", "v")
    }),

    // Per-document n-gram novelty: the fraction of a doc's DISTINCT token
    // trigrams that appear nowhere else in the corpus (global df = 1) —
    // high novelty ⇒ original text, low ⇒ boilerplate/template — the
    // positive-signal twin of the dedup family's df-capped shingles.
    // One trigram incidence shuffle + one df aggregation joined back;
    // integer ratio with a terminal division. Same tokenizer and trigram
    // spelling as q_dedup_ngram, so the signal is consistent with dedup.
    "q_ngram_novelty" -> ((s, dir) => {
      val ws = table(s, dir, "documents")
        .select(col("doc_id"),
          graft.operators.Tokenize.tokenArray(col("text")).as("ws"))
        .where(size(col("ws")) >= 3)
      val tri = ws.select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(ws)-2), i -> concat_ws(' ', element_at(ws,i), element_at(ws,i+1), element_at(ws,i+2)))"))
          .as("sh"))
        .distinct()
      val dfreq = tri.groupBy("sh").agg(count(lit(1)).as("dfreq"))
      tri.join(dfreq, "sh")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tri"),
          sum(when(col("dfreq") === 1, 1L).otherwise(0L)).as("n_unique"))
        .selectExpr("doc_id", "n_tri", "n_unique",
          "round(CAST(n_unique AS DOUBLE) / n_tri, 6) AS novelty")
        .orderBy("doc_id")
    }),

    // Bounce rate: share of 30-minute-gap sessions containing exactly one
    // event, plus session-length mix — the engagement headline on top of
    // q_sessionize's session table (same gap rule, same per-user windows;
    // the summary adds one tiny aggregation). Terminal division only.
    "q_bounce" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val gapUs = 30L * 60 * 1000000
      val byUser = Window.partitionBy("user_id").orderBy("us", "event_id")
      val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      table(s, dir, "events")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
        .withColumn("new_sess",
          when(col("us") - lag(col("us"), 1).over(byUser) > gapUs, 1L)
            .otherwise(lit(0L)))
        .withColumn("session_id", sum(col("new_sess")).over(run))
        .groupBy("user_id", "session_id").agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_bounce"),
          sum(when(col("n") >= 10, 1L).otherwise(0L)).as("n_long"),
          sum("n").as("n_events"))
        .selectExpr("n_sessions", "n_bounce", "n_long", "n_events",
          "round(CAST(n_bounce AS DOUBLE) / n_sessions, 6) AS bounce_rate")
    }),

    // Activity heatmap: event counts by (day-of-week, hour) — the usage
    // calendar behind capacity planning. BOTH coordinates derive from
    // epoch micros by integer arithmetic ((days+4) mod 7 pins Thursday
    // 1970-01-01 = 4, hours = us DIV 3.6e9 mod 24), so no engine
    // dow/locale convention can disagree; ≤168 groups, one partial-agg'd
    // shuffle.
    "q_heatmap" -> ((s, dir) =>
      table(s, dir, "events")
        .select(unix_micros(col("ts")).as("us"))
        .selectExpr("(us DIV 86400000000 + 4) % 7 AS dow",
          "(us DIV 3600000000) % 24 AS hour")
        .groupBy("dow", "hour").agg(count(lit(1)).as("n"))
        .orderBy("dow", "hour")),

    // Empirical-Bayes smoothed purchase rates per cohort (Beta(2,8)
    // prior): rate = (x+2)/(n+10) — the shrinkage estimator that keeps
    // small-sample cohorts from dominating a ranking (the smoothed-CTR
    // staple). Integer counts, one terminal division; ordered by the
    // smoothed rate with a total tie-break so the ranking itself is
    // deterministic cross-engine.
    "q_smoothed_rate" -> ((s, dir) =>
      table(s, dir, "events")
        .selectExpr("user_id % 20 AS cohort",
          "CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS BIGINT) AS y")
        .groupBy("cohort")
        .agg(count(lit(1)).as("n"), sum("y").as("x"))
        .selectExpr("cohort", "n", "x",
          "round(CAST(x AS DOUBLE) / n, 6) AS raw_rate",
          "round((CAST(x AS DOUBLE) + 2.0) / (n + 10.0), 6) AS smoothed_rate")
        .orderBy(desc("smoothed_rate"), asc("cohort"))),

    // Gini coefficient of user activity (the inequality/concentration
    // statistic behind "are 1% of accounts generating 90% of events?"):
    // G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over ascending per-user counts.
    // The rank comes from the distributed Ranks selection; ties on x are
    // harmless (equal values swap ranks without changing Σ i·xᵢ, so the
    // statistic is partition-invariant even where the tie-break isn't
    // observable). All sums are exact BIGINTs; one terminal float chain
    // identical in both engines.
    "q_gini" -> ((s, dir) => {
      val counts = table(s, dir, "events")
        .groupBy("user_id").agg(count(lit(1)).as("x"))
        .withColumn("k", lit(1))
      graft.operators.Ranks.withinKey(counts, "k", Seq("x", "user_id"))
        .agg(count(lit(1)).as("n"), sum("x").as("sx"),
          sum(expr("rk * x")).as("six"))
        .selectExpr("n", "sx AS total_events",
          "round(2.0 * six / (CAST(n AS DOUBLE) * sx) - (n + 1.0) / n, 6) AS gini")
    }),

    // Per-document keyword extraction: top-3 TF-IDF terms per doc on the
    // NATIVE TopKPerKey operator — the retrieval/labeling staple. The
    // tfidf value follows q_tfidf's determinism discipline (idf
    // pre-rounded to 8 decimals, product rounded to 4) so the (tfidf
    // desc, word) ordering is total and identical in both engines; the
    // bounded heap means a million-term document contributes 3 rows to
    // the shuffle.
    "q_keywords" -> ((s, dir) => {
      val tf = corpusToks(s, dir).groupBy("doc_id", "word")
        .agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
      val n = tf.select("doc_id").distinct().agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfreq, "word").crossJoin(broadcast(n))
        .selectExpr("doc_id", "word",
          "round(tf * round(ln((n_docs + 1.0) / (df + 1.0)), 8), 4) AS tfidf")
      graft.operators.TopK.perKey(scored, Seq("doc_id"),
        Seq(("tfidf", false), ("word", true)), 3)
        .orderBy(col("doc_id"), desc("tfidf"), asc("word"))
    }),

    // Vocabulary coverage curve (the tokenizer-vocab sizing question):
    // what fraction of the corpus token mass do the top-100 / top-1000
    // most frequent words cover? Word ranks ride the distributed Ranks
    // selection on (count desc, word); coverage = two conditional BIGINT
    // sums + terminal divisions. A 10⁹-type vocabulary never sorts on
    // one task.
    "q_vocab_coverage" -> ((s, dir) => {
      val wc = corpusWordCount(s, dir)
        .selectExpr("word", "cnt AS c", "-cnt AS nc").withColumn("k", lit(1))
      graft.operators.Ranks.withinKey(wc, "k", Seq("nc", "word"))
        .agg(count(lit(1)).as("vocab_size"), sum("c").as("total_tokens"),
          sum(when(col("rk") <= 100, col("c")).otherwise(0L)).as("c100"),
          sum(when(col("rk") <= 1000, col("c")).otherwise(0L)).as("c1000"))
        .selectExpr("vocab_size", "total_tokens",
          "round(CAST(c100 AS DOUBLE) / total_tokens, 6) AS cov100",
          "round(CAST(c1000 AS DOUBLE) / total_tokens, 6) AS cov1000")
    }),

    // Funnel latency: minutes from each user's FIRST signup to their
    // FIRST subsequent purchase, summarized as discrete quartiles — the
    // "how long does conversion take" report. Per-user endpoints are two
    // conditional min aggregates (one user shuffle, constant state);
    // quartiles ride the distributed Ranks selection with the
    // q_percentile_disc order-statistic convention (rank ⌈p·n⌉ on the
    // total (gap, user) order — a 10⁹-user gap table never sorts on one
    // task, and integer rank targets cannot ulp-flip).
    "q_funnel_time" -> ((s, dir) => {
      val ev = table(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val gaps = ev.groupBy("user_id")
        .agg(min(when(col("event_type") === "signup", col("us"))).as("ts0"),
          min(when(col("event_type") === "purchase", col("us"))).as("tp"))
        .where(col("ts0").isNotNull && col("tp").isNotNull &&
          col("tp") >= col("ts0"))
        .selectExpr("user_id", "(tp - ts0) DIV 60000000 AS gap_min")
      val n = gaps.agg(count(lit(1)).as("n"))
      val ranked = graft.operators.Ranks
        .withinKey(gaps.withColumn("k", lit(1)), "k", Seq("gap_min", "user_id"))
        .crossJoin(broadcast(n))
      val sels = Seq(("p25", 1L, 4L), ("p50", 1L, 2L), ("p75", 3L, 4L))
        .map { case (lbl, nu, de) =>
          min(when(col("rk") === expr(s"($nu*n + ${de - 1}) div $de"),
            col("gap_min"))).as(lbl)
        }
      ranked.agg(max(col("n")).as("n_users"), sels: _*)
        .select(col("n_users"), col("p25"), col("p50"), col("p75"))
    }),

    // CUSUM changepoint scan over the daily event-count series: the
    // classic level-shift detector, made integer-exact by scaling through
    // the day count — s_k = D·Σ_{i≤k}n_i − k·T needs no mean division,
    // so both engines agree bit-for-bit and the peak |s_k| day is the
    // changepoint candidate. The global window runs over PER-DAY
    // aggregates (|rows| = days, bounded by the calendar, not the
    // corpus), so the single-partition sort is structurally tiny.
    // Holt linear (double-exponential) smoothing forecast over the daily
    // event series per type, with α = β = 1/2 as EXACT dyadic floor
    // divisions — level/trend stay BIGINT, so the recurrence is bit-equal
    // in both engines (no compounding float error; floor(x/2) via DOUBLE
    // is exact below 2^52). The recurrence is inherently sequential, but
    // it runs over the AGGREGATED per-type daily series (bounded by
    // calendar days — thousands of entries at any corpus size): the
    // corpus-scale stage is the one partial-agg'd daily count shuffle;
    // the per-key fold is an array aggregate like the MMR matrix. Oracle
    // unrolls the identical recurrence with a recursive CTE.
    "q_smooth_forecast" -> ((s, dir) => {
      val lv = "CAST(floor(CAST(e.x + acc.lv + acc.tr AS DOUBLE) / 2) AS BIGINT)"
      table(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
        .groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("day"), col("x")))).as("arr"))
        .withColumn("st", expr(
          s"""aggregate(
             |  slice(arr, 2, size(arr) - 1),
             |  named_struct('lv', arr[0].x, 'tr', CAST(0 AS BIGINT)),
             |  (acc, e) -> named_struct(
             |    'lv', $lv,
             |    'tr', CAST(floor(CAST(acc.tr + ($lv - acc.lv) AS DOUBLE) / 2)
             |            AS BIGINT)))""".stripMargin))
        .select(col("event_type"), size(col("arr")).cast("long").as("n_days"),
          col("st.lv").as("level"), col("st.tr").as("trend"),
          (col("st.lv") + col("st.tr")).as("fc1"),
          (col("st.lv") + lit(7L) * col("st.tr")).as("fc7"))
        .orderBy("event_type")
    }),

    "q_changepoint" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = table(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val tot = daily.agg(sum("n").as("t"), count(lit(1)).as("dd"))
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sk = daily.crossJoin(broadcast(tot))
        .withColumn("k", row_number().over(Window.orderBy("day")).cast("long"))
        .withColumn("cum", sum("n").over(w))
        .selectExpr("day", "n", "dd * cum - k * t AS sk")
      sk.crossJoin(broadcast(sk.agg(max(abs(col("sk"))).as("ma"))))
        .selectExpr("day", "n", "sk", "abs(sk) = ma AS is_peak")
        .orderBy("day")
    }),

    // Benford first-digit audit (the fraud/data-quality screen): observed
    // first-digit distribution of order totals vs Benford's log10(1+1/d)
    // expectation, with the chi-square statistic as the one terminal
    // float chain (identical expression both engines — the q_corr
    // discipline). First digits are extracted from the ×100-cent BIGINT
    // by repeated integer division, so there is no string/float parsing
    // at the boundary; one partial-agg'd 9-group shuffle.
    "q_benford" -> ((s, dir) => {
      val cents = table(s, dir, "orders")
        .selectExpr("CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS c")
        .where(col("c") > 0)
      val digit = cents.selectExpr(
        """CASE WHEN c >= 1000000000 THEN c DIV 1000000000
          |     WHEN c >= 100000000 THEN c DIV 100000000
          |     WHEN c >= 10000000 THEN c DIV 10000000
          |     WHEN c >= 1000000 THEN c DIV 1000000
          |     WHEN c >= 100000 THEN c DIV 100000
          |     WHEN c >= 10000 THEN c DIV 10000
          |     WHEN c >= 1000 THEN c DIV 1000
          |     WHEN c >= 100 THEN c DIV 100
          |     WHEN c >= 10 THEN c DIV 10
          |     ELSE c END AS d""".stripMargin)
      digit.groupBy("d").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(digit.agg(count(lit(1)).as("total"))))
        .selectExpr("d", "n",
          "round(CAST(n AS DOUBLE) / total, 6) AS observed",
          "round(log10(1.0 + 1.0/CAST(d AS DOUBLE)), 6) AS expected",
          // chi-square contribution (n - e·N)²/(e·N), e pre-rounded so
          // both engines chain from identical doubles
          "round(pow(CAST(n AS DOUBLE) - round(log10(1.0 + 1.0/CAST(d AS DOUBLE)), 6) * total, 2) / (round(log10(1.0 + 1.0/CAST(d AS DOUBLE)), 6) * total), 6) AS chi2_term")
        .orderBy("d")
    }),

    // Period-over-period trending: per-user activity in the first vs
    // second half of the time range (split at the midpoint micro,
    // integer-exact), top-20 risers by (delta desc, user_id) — the
    // "what's moving" report. Two conditional counts in ONE pass sharing
    // the user shuffle; the global midpoint is a broadcast 1-row agg;
    // top-20 is TakeOrderedAndProject.
    "q_trending" -> ((s, dir) => {
      val ev = table(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
      val mid = ev.agg(expr("(min(us) + max(us)) DIV 2").as("mid"))
      ev.crossJoin(broadcast(mid))
        .groupBy("user_id")
        .agg(sum(when(col("us") < col("mid"), 1L).otherwise(0L)).as("n1"),
          sum(when(col("us") >= col("mid"), 1L).otherwise(0L)).as("n2"))
        .withColumn("delta", col("n2") - col("n1"))
        .orderBy(desc("delta"), asc("user_id"))
        .limit(20)
    }),

    // Deterministic stratified k-fold assignment (cross-validation prep):
    // fold = stable md5 bucket of the doc key, reported per (lang, fold)
    // with counts and char mass — the balance table an ML pipeline
    // publishes to prove folds are exchangeable. Reproducible across
    // runs/cluster sizes (the HashBucketSpark discipline); one
    // partial-agg'd shuffle of |langs|×k groups.
    "q_kfold" -> ((s, dir) =>
      table(s, dir, "documents")
        .withColumn("fold", expr(s"($HashBucketSpark) % 5"))
        .groupBy("lang", "fold")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
        .orderBy("lang", "fold")),

    // Nested scaling-law subsets: hash-threshold samples at 10/20/50% that
    // are SUBSETS of each other by construction (bucket < 10 ⊂ < 20 ⊂
    // < 50) — the "same data, more of it" property scaling-law training
    // runs require, impossible with independent random samples. One
    // conditional-aggregation pass; the output row proves the nesting
    // (counts and char masses are monotone).
    "q_nested_samples" -> ((s, dir) =>
      table(s, dir, "documents")
        .withColumn("b", expr(HashBucketSpark))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("b") < 10, 1L).otherwise(0L)).as("n10"),
          sum(when(col("b") < 20, 1L).otherwise(0L)).as("n20"),
          sum(when(col("b") < 50, 1L).otherwise(0L)).as("n50"),
          sum(when(col("b") < 10, col("n_chars"))).as("chars10"),
          sum(when(col("b") < 20, col("n_chars"))).as("chars20"),
          sum(when(col("b") < 50, col("n_chars"))).as("chars50"))),

    // Last-touch attribution: for each purchase, the immediately-preceding
    // event of the same user (lag over (user, time, id) — per-user groups
    // are small, the safe window shape) becomes the credited channel;
    // purchases with no prior event credit "(none)". The event-analytics
    // staple joining q_funnel/q_retention; deterministic via the total
    // (us, event_id) order.
    "q_attribution" -> ((s, dir) =>
      table(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"), col("event_id"))
        .withColumn("prev_type",
          lag(col("event_type"), 1).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("user_id").orderBy("us", "event_id")))
        .where(col("event_type") === "purchase")
        .groupBy(coalesce(col("prev_type"), lit("(none)")).as("channel"))
        .agg(count(lit(1)).as("n_purchases"))
        .orderBy("channel")),

    // VARIANT semi-structured extraction (Spark 4 parse_json /
    // variant_get): JSON built deterministically from orders (integers
    // and JSON-safe strings only), shredded back out with typed paths —
    // including an array index and a missing-path null — then aggregated.
    // The oracle extracts the same paths with DuckDB's JSON functions, so
    // the gate checks the whole variant encode→extract round trip.
    "q_variant_extract" -> ((s, dir) => {
      val j = table(s, dir, "orders").select(concat(
        lit("{\"k\":"), col("o_orderkey").cast("string"),
        lit(",\"pri\":\""), col("o_orderpriority"),
        lit("\",\"amt\":"),
        expr("CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)").cast("string"),
        lit(",\"tags\":["), (col("o_orderkey") % 3).cast("string"),
        lit(","), (col("o_orderkey") % 5).cast("string"),
        lit("]}")).as("js"))
      j.selectExpr(
          "variant_get(parse_json(js), '$.pri', 'string') AS pri",
          "variant_get(parse_json(js), '$.amt', 'bigint') AS amt",
          "variant_get(parse_json(js), '$.tags[1]', 'bigint') AS t1",
          "try_variant_get(parse_json(js), '$.nope', 'bigint') AS missing")
        .groupBy("pri")
        .agg(count(lit(1)).as("n"), sum("amt").as("amt_total"),
          sum("t1").as("t1_sum"), count(col("missing")).as("n_missing"))
        .orderBy("pri")
    }))

  private def kcoreRoundsSql(k: Int, rounds: Int): String =
    (1 to rounds).map { r =>
      s"""k$r AS (SELECT src AS v FROM e${r - 1} GROUP BY src HAVING count(*) >= $k),
         |e$r AS (
         |  SELECT e.src, e.dst FROM e${r - 1} e
         |  JOIN k$r a ON e.src = a.v JOIN k$r b2 ON e.dst = b2.v
         |)""".stripMargin
    }.mkString(",\n")

  private def walkStepSql(i: Int): String =
    s"""s$i AS (
       |  SELECT w.seed, e.dst,
       |    md5(CAST(w.v AS VARCHAR) || '|$i|' || CAST(e.dst AS VARCHAR)) AS h
       |  FROM w${i - 1} w JOIN e ON w.v = e.src
       |),
       |m$i AS (SELECT seed, min(h) AS h FROM s$i GROUP BY seed),
       |w$i AS (
       |  SELECT s.seed, s.dst AS v
       |  FROM s$i s JOIN m$i m ON s.seed = m.seed AND s.h = m.h
       |)""".stripMargin

  val oracle: Map[String, String] = strictMap(

    "q_bootstrap" -> {
      val u = hex2longSql(
        "md5('bs-' || CAST(rep AS VARCHAR) || '-' || CAST(event_id AS VARCHAR))", 1)
      s"""WITH ev AS (
         |  SELECT event_id, CAST(floor(value*100 + 0.5) AS BIGINT) AS v
         |  FROM events
         |),
         |x AS (
         |  SELECT event_id, v, unnest(generate_series(1, $BootstrapReps)) AS rep
         |  FROM ev
         |),
         |w AS (SELECT rep, v, ${poissonCaseSql(s"($u)")} AS w FROM x)
         |SELECT CAST(rep AS BIGINT) AS rep,
         |  CAST(sum(w) AS BIGINT) AS n_eff,
         |  round(CAST(CAST(sum(w * v) AS BIGINT) AS DOUBLE)
         |        / CAST(sum(w) AS BIGINT) / 100, 6) AS mu
         |FROM w GROUP BY rep ORDER BY rep""".stripMargin
    },

    "q_sssp" -> {
      val rounds = (1 to 3).map { i =>
        s"""r$i AS (
           |  SELECT v, min(dist) AS dist FROM (
           |    SELECT * FROM r${i - 1}
           |    UNION ALL
           |    SELECT e.dst AS v, f.dist + e.w AS dist
           |    FROM e JOIN r${i - 1} f ON e.src = f.v
           |  ) GROUP BY v
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH $PairsSql,
         |e AS (
         |  SELECT p AS src, sv AS dst, w FROM pairs
         |  UNION ALL
         |  SELECT sv AS src, p AS dst, w FROM pairs
         |),
         |r0 AS (
         |  SELECT DISTINCT sv AS v, CAST(0 AS BIGINT) AS dist
         |  FROM pairs WHERE sv % 7 = 0
         |),
         |$rounds
         |SELECT v, dist FROM r3 ORDER BY v""".stripMargin
    },

    "q_kcore" ->
      s"""WITH b AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
         |),
         |small AS (SELECT ok FROM b GROUP BY ok HAVING count(*) <= 64),
         |und AS (
         |  SELECT a.pk AS u, c.pk AS v
         |  FROM (SELECT * FROM b JOIN small USING (ok)) a
         |  JOIN (SELECT * FROM b JOIN small USING (ok)) c USING (ok)
         |  WHERE a.pk < c.pk GROUP BY a.pk, c.pk HAVING count(*) >= 2
         |),
         |e0 AS (SELECT u AS src, v AS dst FROM und
         |       UNION ALL SELECT v, u FROM und),
         |${kcoreRoundsSql(KCoreK, 3)}
         |SELECT src AS v, count(*) AS deg FROM e3 GROUP BY src ORDER BY v""".stripMargin,

    "q_random_walks" ->
      s"""WITH p0 AS (
         |  SELECT DISTINCT l_partkey AS p, l_suppkey + 1000000 AS sv
         |  FROM lineitem
         |),
         |e AS (
         |  SELECT p AS src, sv AS dst FROM p0
         |  UNION ALL
         |  SELECT sv AS src, p AS dst FROM p0
         |),
         |w0 AS (
         |  SELECT sv AS seed, sv AS v FROM (SELECT DISTINCT sv FROM p0)
         |  WHERE sv % 3 = 0
         |),
         |${(1 to 3).map(walkStepSql).mkString(",\n")}
         |SELECT seed, CAST(0 AS BIGINT) AS step, v FROM w0
         |UNION ALL SELECT seed, 1, v FROM w1
         |UNION ALL SELECT seed, 2, v FROM w2
         |UNION ALL SELECT seed, 3, v FROM w3
         |ORDER BY seed, step""".stripMargin,

    "q_join_lateral" ->
      """SELECT c.c_custkey, l.n_orders, l.max_price
        |FROM customer c,
        |LATERAL (
        |  SELECT count(*) AS n_orders,
        |    round(max(o_totalprice), 2) AS max_price
        |  FROM orders o WHERE o.o_custkey = c.c_custkey
        |) l
        |WHERE c.c_custkey % 50 = 0
        |ORDER BY c.c_custkey""".stripMargin,

    "q_filter_funnel" ->
      """WITH tt AS (
        |  SELECT doc_id, count(*) AS nw, count(DISTINCT w) AS uw
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |        FROM documents)
        |  WHERE w <> '' GROUP BY doc_id
        |),
        |d AS (
        |  SELECT doc_id, text,
        |    length(trim(text)) > 0 AS b1,
        |    length(trim(text)) > 0
        |      AND lang IN ('en', 'fr', 'de', 'es') AS b2,
        |    length(trim(text)) > 0
        |      AND lang IN ('en', 'fr', 'de', 'es')
        |      AND n_chars >= 100 AS b3,
        |    length(trim(text)) > 0
        |      AND lang IN ('en', 'fr', 'de', 'es')
        |      AND n_chars >= 100
        |      AND coalesce(tt.uw * 2 >= tt.nw, FALSE) AS b4
        |  FROM documents LEFT JOIN tt USING (doc_id)
        |)
        |SELECT count(*) AS n_docs,
        |  CAST(sum(CASE WHEN b1 THEN 1 ELSE 0 END) AS BIGINT) AS s1_nonempty,
        |  CAST(sum(CASE WHEN b2 THEN 1 ELSE 0 END) AS BIGINT) AS s2_lang,
        |  CAST(sum(CASE WHEN b3 THEN 1 ELSE 0 END) AS BIGINT) AS s3_length,
        |  CAST(sum(CASE WHEN b4 THEN 1 ELSE 0 END) AS BIGINT) AS s4_ttr,
        |  count(DISTINCT CASE WHEN b4 THEN text END) AS s5_dedup
        |FROM d""".stripMargin,

    "q_seq_distance" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id,
        |    substr(event_type, 1, 1) AS c,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events
        |),
        |j AS (
        |  SELECT user_id,
        |    string_agg(c, '' ORDER BY us, event_id) AS journey
        |  FROM e WHERE rn <= 5 GROUP BY user_id
        |)
        |SELECT CAST(levenshtein(journey, 'svcvp') AS BIGINT) AS d,
        |  count(*) AS n_users
        |FROM j GROUP BY d ORDER BY d""".stripMargin,

    "q_target_encode" ->
      """WITH ev AS (
        |  SELECT event_id, event_type,
        |    CAST(floor(value*100 + 0.5) AS BIGINT) AS v
        |  FROM events
        |),
        |st AS (
        |  SELECT event_type, CAST(sum(v) AS BIGINT) AS sv,
        |    count(*) AS n
        |  FROM ev GROUP BY event_type
        |)
        |SELECT event_id, event_type,
        |  CASE WHEN n > 1
        |       THEN round(CAST(sv - v AS DOUBLE) / (n - 1) / 100, 6) END AS te
        |FROM ev JOIN st USING (event_type)
        |ORDER BY event_id""".stripMargin,

    "q_gcn_norm" ->
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |),
        |small AS (SELECT ok FROM b GROUP BY ok HAVING count(*) <= 64),
        |und AS (
        |  SELECT a.pk AS u, c.pk AS v
        |  FROM (SELECT * FROM b JOIN small USING (ok)) a
        |  JOIN (SELECT * FROM b JOIN small USING (ok)) c USING (ok)
        |  WHERE a.pk < c.pk GROUP BY a.pk, c.pk HAVING count(*) >= 2
        |),
        |deg AS (
        |  SELECT x, count(*) AS d FROM (
        |    SELECT u AS x FROM und UNION ALL SELECT v FROM und
        |  ) GROUP BY x
        |)
        |SELECT u, v, d1.d AS du, d2.d AS dv,
        |  round(1.0 / sqrt(CAST(d1.d * d2.d AS DOUBLE)), 6) AS w
        |FROM und JOIN deg d1 ON und.u = d1.x JOIN deg d2 ON und.v = d2.x
        |ORDER BY u, v""".stripMargin,

    "q_ngram_novelty" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    regexp_split_to_array(trim(regexp_replace(text, '$DelimSql', ' ', 'g')), ' ') AS ws
         |  FROM documents
         |),
         |tt AS (SELECT * FROM t WHERE len(ws) >= 3),
         |tri AS (
         |  SELECT DISTINCT doc_id,
         |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         |  FROM (SELECT doc_id, ws,
         |               unnest(generate_series(1, len(ws)-2)) AS i FROM tt)
         |),
         |tdf AS (SELECT sh, count(*) AS dfreq FROM tri GROUP BY sh)
         |SELECT doc_id, count(*) AS n_tri,
         |  CAST(sum(CASE WHEN dfreq = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_unique,
         |  round(CAST(sum(CASE WHEN dfreq = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |        / count(*), 6) AS novelty
         |FROM tri JOIN tdf USING (sh)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_bounce" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS us FROM events
        |),
        |f AS (
        |  SELECT user_id, us, event_id,
        |    CASE WHEN us - lag(us, 1) OVER (PARTITION BY user_id
        |                                    ORDER BY us, event_id)
        |              > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM ev
        |),
        |sess AS (
        |  SELECT user_id,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS session_id,
        |    us FROM f
        |),
        |g AS (
        |  SELECT user_id, session_id, count(*) AS n
        |  FROM sess GROUP BY user_id, session_id
        |)
        |SELECT count(*) AS n_sessions,
        |  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce,
        |  CAST(sum(CASE WHEN n >= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_long,
        |  CAST(sum(n) AS BIGINT) AS n_events,
        |  round(CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / count(*), 6) AS bounce_rate
        |FROM g""".stripMargin,

    "q_heatmap" ->
      """SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
        |  (epoch_us(ts) // 3600000000) % 24 AS hour,
        |  count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY dow, hour""".stripMargin,

    "q_smoothed_rate" ->
      """WITH c AS (
        |  SELECT user_id % 20 AS cohort,
        |    CAST(CASE WHEN event_type = 'purchase'
        |         THEN 1 ELSE 0 END AS BIGINT) AS y
        |  FROM events
        |),
        |g AS (SELECT cohort, count(*) AS n, CAST(sum(y) AS BIGINT) AS x
        |      FROM c GROUP BY cohort)
        |SELECT cohort, n, x,
        |  round(CAST(x AS DOUBLE) / n, 6) AS raw_rate,
        |  round((x + 2.0) / (n + 10.0), 6) AS smoothed_rate
        |FROM g ORDER BY smoothed_rate DESC, cohort""".stripMargin,

    "q_gini" ->
      """WITH c AS (
        |  SELECT user_id, count(*) AS x FROM events GROUP BY user_id
        |),
        |r AS (
        |  SELECT x, row_number() OVER (ORDER BY x, user_id) AS rk FROM c
        |)
        |SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS total_events,
        |  round(2.0 * CAST(sum(rk * x) AS BIGINT)
        |          / (CAST(count(*) AS DOUBLE) * CAST(sum(x) AS BIGINT))
        |        - (count(*) + 1.0) / count(*), 6) AS gini
        |FROM r""".stripMargin,

    "q_keywords" -> {
      val toks = graft.queries.Reference.ToksSql
      s"""WITH $toks,
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM toks
         |       GROUP BY doc_id, word),
         |dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
         |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
         |scored AS (
         |  SELECT doc_id, word,
         |    round(tf * round(ln((n_docs + 1.0) / (df + 1.0)), 8), 4) AS tfidf
         |  FROM tf JOIN dfreq USING (word) CROSS JOIN n
         |),
         |r AS (
         |  SELECT doc_id, word, tfidf,
         |    row_number() OVER (PARTITION BY doc_id
         |                       ORDER BY tfidf DESC, word) AS rn
         |  FROM scored
         |)
         |SELECT doc_id, word, tfidf FROM r WHERE rn <= 3
         |ORDER BY doc_id, tfidf DESC, word""".stripMargin
    },

    "q_vocab_coverage" -> {
      val toks = graft.queries.Reference.ToksSql
      s"""WITH $toks,
         |wc AS (SELECT word, count(*) AS c FROM toks GROUP BY word),
         |r AS (
         |  SELECT c, row_number() OVER (ORDER BY c DESC, word) AS rk FROM wc
         |)
         |SELECT count(*) AS vocab_size, CAST(sum(c) AS BIGINT) AS total_tokens,
         |  round(CAST(CAST(sum(CASE WHEN rk <= 100 THEN c ELSE 0 END) AS BIGINT)
         |             AS DOUBLE) / CAST(sum(c) AS BIGINT), 6) AS cov100,
         |  round(CAST(CAST(sum(CASE WHEN rk <= 1000 THEN c ELSE 0 END) AS BIGINT)
         |             AS DOUBLE) / CAST(sum(c) AS BIGINT), 6) AS cov1000
         |FROM r""".stripMargin
    },

    "q_funnel_time" ->
      """WITH g AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS ts0,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS tp
        |  FROM events GROUP BY user_id
        |),
        |gaps AS (
        |  SELECT user_id, (tp - ts0) // 60000000 AS gap_min
        |  FROM g WHERE ts0 IS NOT NULL AND tp IS NOT NULL AND tp >= ts0
        |),
        |r AS (
        |  SELECT gap_min,
        |    row_number() OVER (ORDER BY gap_min, user_id) AS rk,
        |    count(*) OVER () AS n
        |  FROM gaps
        |)
        |SELECT CAST(max(n) AS BIGINT) AS n_users,
        |  min(CASE WHEN rk = (1*n + 3) // 4 THEN gap_min END) AS p25,
        |  min(CASE WHEN rk = (1*n + 1) // 2 THEN gap_min END) AS p50,
        |  min(CASE WHEN rk = (3*n + 3) // 4 THEN gap_min END) AS p75
        |FROM r""".stripMargin,

    "q_smooth_forecast" -> {
      val lvSql = "CAST(floor(CAST(o.x + r.lv + r.tr AS DOUBLE) / 2) AS BIGINT)"
      s"""WITH RECURSIVE daily AS (
         |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
         |  FROM events GROUP BY 1, 2
         |),
         |ord AS (
         |  SELECT event_type, x,
         |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
         |  FROM daily
         |),
         |rec AS (
         |  SELECT event_type, rn, lv, tr FROM (
         |    SELECT event_type, rn, x AS lv, CAST(0 AS BIGINT) AS tr
         |    FROM ord WHERE rn = 1)
         |  UNION ALL
         |  SELECT o.event_type, o.rn,
         |    $lvSql AS lv,
         |    CAST(floor(CAST(r.tr + ($lvSql - r.lv) AS DOUBLE) / 2) AS BIGINT)
         |      AS tr
         |  FROM rec r JOIN ord o
         |    ON o.event_type = r.event_type AND o.rn = r.rn + 1
         |),
         |lastn AS (SELECT event_type, max(rn) AS n_days FROM ord GROUP BY 1)
         |SELECT r.event_type, CAST(l.n_days AS BIGINT) AS n_days,
         |  r.lv AS level, r.tr AS trend,
         |  r.lv + r.tr AS fc1, r.lv + 7 * r.tr AS fc7
         |FROM rec r JOIN lastn l
         |  ON l.event_type = r.event_type AND r.rn = l.n_days
         |ORDER BY r.event_type""".stripMargin
    },

    "q_changepoint" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1
        |),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS t,
        |             count(*) AS dd FROM daily),
        |s AS (
        |  SELECT day, n,
        |    CAST(dd * sum(n) OVER (ORDER BY day)
        |         - row_number() OVER (ORDER BY day) * t AS BIGINT) AS sk
        |  FROM daily CROSS JOIN t
        |),
        |m AS (SELECT max(abs(sk)) AS ma FROM s)
        |SELECT day, n, sk, abs(sk) = ma AS is_peak
        |FROM s CROSS JOIN m ORDER BY day""".stripMargin,

    "q_benford" ->
      """WITH c0 AS (
        |  SELECT CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS c
        |  FROM orders
        |),
        |dg AS (
        |  SELECT CASE WHEN c >= 1000000000 THEN c // 1000000000
        |              WHEN c >= 100000000 THEN c // 100000000
        |              WHEN c >= 10000000 THEN c // 10000000
        |              WHEN c >= 1000000 THEN c // 1000000
        |              WHEN c >= 100000 THEN c // 100000
        |              WHEN c >= 10000 THEN c // 10000
        |              WHEN c >= 1000 THEN c // 1000
        |              WHEN c >= 100 THEN c // 100
        |              WHEN c >= 10 THEN c // 10
        |              ELSE c END AS d
        |  FROM c0 WHERE c > 0
        |),
        |g AS (SELECT d, count(*) AS n FROM dg GROUP BY d),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM g)
        |SELECT d, n,
        |  round(CAST(n AS DOUBLE) / total, 6) AS observed,
        |  round(log10(1.0 + 1.0/CAST(d AS DOUBLE)), 6) AS expected,
        |  round(pow(CAST(n AS DOUBLE)
        |            - round(log10(1.0 + 1.0/CAST(d AS DOUBLE)), 6) * total, 2)
        |        / (round(log10(1.0 + 1.0/CAST(d AS DOUBLE)), 6) * total), 6)
        |    AS chi2_term
        |FROM g CROSS JOIN t ORDER BY d""".stripMargin,

    "q_trending" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS us FROM events
        |),
        |m AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN us < mid THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |  CAST(sum(CASE WHEN us >= mid THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |  CAST(sum(CASE WHEN us >= mid THEN 1 ELSE 0 END)
        |       - sum(CASE WHEN us < mid THEN 1 ELSE 0 END) AS BIGINT) AS delta
        |FROM ev CROSS JOIN m
        |GROUP BY user_id
        |ORDER BY delta DESC, user_id LIMIT 20""".stripMargin,

    "q_kfold" ->
      s"""SELECT lang, ($hashBucketSql) % 5 AS fold, count(*) AS n,
         |  CAST(sum(n_chars) AS BIGINT) AS chars
         |FROM documents GROUP BY 1, 2 ORDER BY lang, fold""".stripMargin,

    "q_nested_samples" ->
      s"""WITH d AS (SELECT $hashBucketSql AS b, n_chars FROM documents)
         |SELECT count(*) AS n_docs,
         |  CAST(sum(CASE WHEN b < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
         |  CAST(sum(CASE WHEN b < 20 THEN 1 ELSE 0 END) AS BIGINT) AS n20,
         |  CAST(sum(CASE WHEN b < 50 THEN 1 ELSE 0 END) AS BIGINT) AS n50,
         |  CAST(sum(CASE WHEN b < 10 THEN n_chars END) AS BIGINT) AS chars10,
         |  CAST(sum(CASE WHEN b < 20 THEN n_chars END) AS BIGINT) AS chars20,
         |  CAST(sum(CASE WHEN b < 50 THEN n_chars END) AS BIGINT) AS chars50
         |FROM d""".stripMargin,

    "q_attribution" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
        |    lag(event_type, 1) OVER (PARTITION BY user_id
        |                             ORDER BY epoch_us(ts), event_id)
        |      AS prev_type
        |  FROM events
        |)
        |SELECT coalesce(prev_type, '(none)') AS channel,
        |  count(*) AS n_purchases
        |FROM ev WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY channel""".stripMargin,

    "q_sql_recursive" ->
      """WITH RECURSIVE chain AS (
        |  SELECT c_custkey AS orig, c_custkey AS cur, CAST(0 AS BIGINT) AS d
        |  FROM customer WHERE c_custkey % 97 = 0
        |  UNION ALL
        |  SELECT orig, cur // 2, d + 1 FROM chain WHERE cur > 0
        |)
        |SELECT orig, max(d) AS depth, CAST(sum(cur) AS BIGINT) AS path_sum
        |FROM chain GROUP BY orig ORDER BY orig""".stripMargin,

    "q_variant_extract" ->
      """WITH j AS (
        |  SELECT '{"k":' || CAST(o_orderkey AS VARCHAR)
        |    || ',"pri":"' || o_orderpriority
        |    || '","amt":'
        |    || CAST(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS VARCHAR)
        |    || ',"tags":[' || CAST(o_orderkey % 3 AS VARCHAR)
        |    || ',' || CAST(o_orderkey % 5 AS VARCHAR) || ']}' AS js
        |  FROM orders
        |),
        |x AS (
        |  SELECT json_extract_string(js, '$.pri') AS pri,
        |    CAST(json_extract(js, '$.amt') AS BIGINT) AS amt,
        |    CAST(json_extract(js, '$.tags[1]') AS BIGINT) AS t1,
        |    CAST(json_extract(js, '$.nope') AS BIGINT) AS missing
        |  FROM j
        |)
        |SELECT pri, count(*) AS n, CAST(sum(amt) AS BIGINT) AS amt_total,
        |  CAST(sum(t1) AS BIGINT) AS t1_sum, count(missing) AS n_missing
        |FROM x GROUP BY pri ORDER BY pri""".stripMargin)
}
