package graft

import org.scalatest.funsuite.AnyFunSuite

/** Invariant checks for the wave-8 additions (ANOVA, Kruskal-Wallis,
  * DSIR selection, boilerplate stripping, NMI, k-truss) at sf0.001 —
  * algebraic laws the DuckDB value gate cannot express (non-negativity,
  * information bounds, monotone peeling, selection-set purity) which
  * must hold at ANY scale or partitioning. */
class Wave8OpsSpec extends AnyFunSuite with SparkFixture {

  test("anova: sums of squares non-negative, n independently recounted") {
    import org.apache.spark.sql.functions._
    val r = SparkEntry.queries("q_anova")(spark, Sf).collect().head
    val (k, n, ssb, ssw) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
    val ev = spark.read.parquet(s"$Sf/events.parquet")
    assert(n == ev.count())
    assert(k == ev.select(countDistinct(col("event_type")))
      .collect().head.getLong(0))
    // SSB and SSW are sums of squares (up to the round-4 display grain)
    assert(ssb >= -1e-3 && ssw >= -1e-3, s"ssb=$ssb ssw=$ssw")
    if (!r.isNullAt(4)) assert(r.getDouble(4) >= 0.0)
  }

  test("kruskal: H non-negative and bounded by n-1 (its algebraic max)") {
    val r = SparkEntry.queries("q_kruskal")(spark, Sf).collect().head
    val (k, n, h) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    assert(k >= 2 && n > k)
    // H = (n-1) exactly when every group is a contiguous rank block;
    // tie-broken ranks keep it within the closed bound
    assert(h >= -1e-9 && h <= (n - 1) + 1e-6, s"h=$h n=$n")
  }

  test("dsir_select: no target-slice docs selected, scores " +
    "non-increasing, feature count bounded by word count") {
    val rows = SparkEntry.queries("q_dsir_select")(spark, Sf).collect()
    assert(rows.nonEmpty)
    val srcOf = spark.read.parquet(s"$Sf/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    var prev = Double.MaxValue
    for (r <- rows) {
      assert(srcOf(r.getLong(0)) != "src0",
        "the target slice must never be selected from the raw pool")
      assert(r.getLong(1) <= r.getLong(2), "n_feats > n_words")
      val sc = r.getDouble(3)
      assert(sc <= prev + 1e-9, "scores must be non-increasing")
      prev = sc
    }
  }

  test("boilerplate: kept <= total, counts recomputed independently, " +
    "all-boilerplate docs rebuild to md5('')") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q_boilerplate")(spark, Sf).collect()
    assert(rows.nonEmpty)
    // independent per-doc paragraph totals
    val totals = spark.read.parquet(s"$Sf/documents.parquet")
      .select(col("doc_id"), explode(split(col("text"), "\\. ")).as("p"))
      .where(length(trim(col("p"))) > 0)
      .groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val emptyMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(Array.empty[Byte]).map("%02x".format(_)).mkString
    for (r <- rows) {
      val (id, np, nk) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(nk <= np && nk >= 0)
      assert(np == totals(id), s"doc $id paragraph total drifted")
      if (nk == 0) assert(r.getString(3) == emptyMd5)
    }
  }

  test("nmi: information bounds — 0 <= MI <= min(Hx, Hy), NMI in [0, 1]") {
    val r = SparkEntry.queries("q_nmi")(spark, Sf).collect().head
    val (mi, hx, hy, nmi) =
      (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
    assert(mi >= -1e-6, s"mi=$mi")
    assert(mi <= math.min(hx, hy) + 1e-6, s"mi=$mi hx=$hx hy=$hy")
    assert(nmi >= -1e-6 && nmi <= 1.0 + 1e-6, s"nmi=$nmi")
  }

  test("ktruss: survivor counts monotonically non-increasing from an " +
    "independently recounted round-0 edge set") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q_ktruss")(spark, Sf).collect()
    assert(rows.length == 4) // rounds 0..3
    val os = spark.read.parquet(s"$Sf/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      .distinct()
    val e0 = os.alias("a").join(os.alias("b"), Seq("ok"))
      .where(col("a.sk") < col("b.sk"))
      .groupBy(col("a.sk"), col("b.sk")).agg(count(lit(1)).as("w"))
      .where(col("w") >= 5).count()
    assert(rows.head.getLong(1) == e0, "round-0 edges drifted")
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(1) <= a.getLong(1), "peeling must never add edges")
    }
  }
}
