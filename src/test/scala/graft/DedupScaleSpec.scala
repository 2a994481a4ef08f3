package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-shape proof of the dedup safeguards that the harness corpus is too
  * small to exercise (no exact duplicates, no high-df boilerplate at
  * sf0.01): a synthetic corpus with a 200-doc exact-duplicate cluster and
  * shared boilerplate text, written in the harness documents schema, run
  * through the REAL catalog queries. Round-1 plans produced k² candidate
  * pairs on this input; the collapsed/capped plans must stay linear. */
class DedupScaleSpec extends AnyFunSuite with SparkFixture {

  private lazy val dir: String = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def sentence(n: Int): String =
      Seq.fill(n)(Seq.fill(3 + rnd.nextInt(6))(('a' + rnd.nextInt(26)).toChar).mkString)
        .mkString(" ")
    val cluster = sentence(40) // one text, duplicated 200x
    val boiler = sentence(30)  // boilerplate prefix shared by ALL uniques
    val nearA = sentence(40)
    val nearB = nearA + " tail" // near-identical pair
    val rows =
      (1 to 200).map(i => (i.toLong, cluster)) ++
        Seq((201L, nearA), (202L, nearB)) ++
        (203 to 300).map(i => (i.toLong, boiler + " " + sentence(25)))
    val out = s"${graft.queries.TmpRoot}/dedup_scale_corpus"
    rows.toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("s" + "0").as("source"), length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    out
  }

  test("exact-dup cluster collapses: minhash candidates don't scale as k^2") {
    val pairs = SparkEntry.queries("q_dedup_minhash")(spark, dir)
    val totalCands = pairs.agg(sum("n_cand")).collect()(0).getLong(0)
    // round-1 shape: the 200-dup cluster alone yields C(200,2) = 19900
    // pairs. Collapsed, the cluster contributes zero; what remains are the
    // uniques' legitimate candidates (they share ~50% boilerplate content
    // by construction, so LSH correctly surfaces a few hundred).
    assert(totalCands < 2000, s"candidate pairs exploded: $totalCands")
    spark.catalog.clearCache()
  }

  test("dedup apply keeps one representative per cluster + drops near-dup") {
    val row = SparkEntry.queries("q_dedup_apply")(spark, dir).collect()(0)
    // kept = 1 (cluster rep) + 1 (nearA; nearB dropped, Jaccard > 0.5)
    //        + 98 uniques = 100
    assert(row.getAs[Long]("n_kept") == 100L, row)
    spark.catalog.clearCache()
  }

  test("components: dup cluster collapses to one vertex-free component set") {
    val comps = SparkEntry.queries("q_dedup_components")(spark, dir).collect()
    // the 200-dup cluster contributes NO component (collapsed before LSH);
    // the planted near-pair (201, 202) must appear as one 2-member
    // component unless swallowed by a larger legitimate cluster
    val m = comps.map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(comps.forall(_.getLong(1) >= 2), comps.mkString("; "))
    val containing = comps.find(r => r.getLong(0) <= 201 && r.getLong(2) >= 202)
    assert(containing.isDefined, s"near pair not clustered: ${m.take(10)}")
    spark.catalog.clearCache()
  }

  test("delta dedup flags a planted base/delta near-pair, not the uniques") {
    import spark.implicits._
    // build a corpus where the hash-bucket split (doc_id-keyed md5) is
    // KNOWN: find a delta-side id (bucket >= 90), give it text
    // near-identical to a base-side doc; delta docs with unique text must
    // not be flagged.
    val rnd = new scala.util.Random(11)
    def sentence(n: Int): String =
      Seq.fill(n)(Seq.fill(3 + rnd.nextInt(6))(('a' + rnd.nextInt(26)).toChar).mkString)
        .mkString(" ")
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(4).map("%02x".format(_)).mkString, 16) % 100
    }
    val ids = (1L to 400L)
    val deltaIds = ids.filter(b => bucket(b) >= 90)
    val baseIds = ids.filterNot(b => bucket(b) >= 90)
    assert(deltaIds.nonEmpty && baseIds.nonEmpty)
    val shared = sentence(40)
    val rows = ids.map { id =>
      val text =
        if (id == baseIds.head) shared
        else if (id == deltaIds.head) shared + " tail" // planted near-pair
        else sentence(40)
      (id, text)
    }
    val out = s"${graft.queries.TmpRoot}/delta_dedup_corpus"
    rows.toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("s0").as("source"), length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val got = SparkEntry.queries("q_delta_dedup")(spark, out).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((deltaIds.head, baseIds.head)),
      s"planted pair missing: $got")
    // random 40-word texts don't reach Jaccard 0.3 against anything
    assert(got.size <= 2, s"false positives: $got")
    spark.catalog.clearCache()
  }

  test("components converge in O(log n) rounds on a 1000-link chain") {
    import spark.implicits._
    // the adversarial near-dup CHAIN: d1—d2—…—d1000, diameter 999. Plain
    // min-label propagation needs ~1000 rounds; pointer doubling must do
    // it in ~log₂(1000) ≈ 10 (round-2 VERDICT finding 1).
    val chain = (0L until 999L).map(i => (i, i + 1)).toDF("a", "b")
    val (labels, rounds) = graft.operators.ConnectedComponents.labels(chain)
    assert(rounds <= 12, s"chain took $rounds rounds")
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 1000 && got.forall(_._2 == 0L),
      s"not one component: ${got.filter(_._2 != 0L).take(5).mkString(",")}")
  }

  test("components round cap bails out instead of spinning") {
    import spark.implicits._
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
    // diameter 63 needs ~7 doubling rounds; cap at 2 must return partial
    // labels promptly (and log), not loop
    val (_, rounds) = graft.operators.ConnectedComponents.labels(chain, maxRounds = 2)
    assert(rounds == 2)
  }

  test("ngram join is bounded by the df-cap under shared boilerplate") {
    // All 98 unique docs share the boilerplate prefix: df(boiler trigrams)
    // = 98 > NgramDfCap, so those trigrams must be dropped before the
    // self-join; surviving pair counts come only from genuine overlap.
    val res = SparkEntry.queries("q_dedup_ngram")(spark, dir)
    val nPairs = res.agg(sum("n_pairs")).collect()(0).getLong(0)
    // boilerplate-only joins would give ~C(98,2)≈4753 pairs (every unique
    // doc pairs with every other); df-capped, only the dup cluster rep /
    // near pair relationships remain
    assert(nPairs < 100, s"boilerplate trigrams leaked into the join: $nPairs")
    spark.catalog.clearCache()
  }

  test("containment: embedded small doc is found; the LSH channel alone misses it") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    def text(n: Int): String =
      Seq.fill(n)("abcdefghijklmnopqrstuvwxyz "(rnd.nextInt(27))).mkString
    val small = text(300)
    // prefix length ≡ 0 (mod stride 3) so the embedded copy's shingle grid
    // aligns with the standalone doc's — containment ≈ 1.0, |B| ≈ 21·|A|,
    // Jaccard ≈ 0.05 (far below what 4×4 banding can surface)
    val big = text(3000) + small + text(3000)
    val filler = (3L to 20L).map(i => i -> text(400))
    val docsDf = (Seq(1L -> small, 2L -> big) ++ filler).toDF("doc_id", "text")

    val got = graft.queries.LlmOps.containmentPairs(docsDf, 0.5)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)),
      s"embedded pair not surfaced by the sampled channel: $got")
    spark.catalog.clearCache()

    // the Jaccard-tuned band buckets alone do NOT produce this candidate —
    // the sampled shingle index is what closes the recall gap
    val lsh = graft.queries.LlmOps.lshCandidates(docsDf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!lsh.contains((1L, 2L)),
      "planted pair unexpectedly has high enough Jaccard for the LSH channel")
    spark.catalog.clearCache()
  }
}
