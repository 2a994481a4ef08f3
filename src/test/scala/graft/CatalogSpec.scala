package graft

import graft.functions.{HllRegisterAgg, KmvAgg}
import graft.operators.{FuzzyJoin, KMeans, Tokenize, Winnow, ZOrder}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Catalog-level invariants at sf0.001 (exact value matching against the
  * DuckDB oracle is the driver's job / dev/check.py; these are fast sanity
  * gates that keep `sbt test` meaningful per operator). */
class CatalogSpec extends AnyFunSuite with SparkFixture {

  test("every query has an oracle (or is explicitly rows-only)") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty, s"queries without oracle SQL: $noOracle")
  }

  test("no catalog key is shadowed across the per-file map merge") {
    // within-file dups fail at construction (queries.strictMap), and so
    // does a key defined in TWO files (SparkEntry's strict merge); this
    // names the colliding files
    val files = SparkEntry.catalogs.map(c =>
      c.getClass.getSimpleName.stripSuffix("$") -> c.queries.keySet)
    assert(files.map(_._2.size).sum == SparkEntry.queries.size,
      s"cross-file duplicate keys: ${
        files.combinations(2).flatMap { case Seq((a, ka), (b, kb)) =>
          val i = ka & kb; if (i.nonEmpty) Some(s"$a∩$b=$i") else None
        }.mkString("; ")}")
  }

  test("bench headline set stays valid (all names resolve to queries)") {
    val missing = Bench.Headline -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"headline names with no query: $missing")
  }

  test("entry returns the global top-20 with positive counts") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.length == 20)
    val counts = rows.map(_.getLong(1))
    assert(counts.forall(_ > 0) && counts.sameElements(counts.sortBy(-_)))
  }

  test("all queries execute at sf0.001 and return rows") {
    val failed = CatalogRun.results.collect { case (n, Left(e)) => s"$n: $e" }
    assert(failed.isEmpty, s"queries that failed: ${failed.mkString("; ")}")
    val empty = CatalogRun.results.collect { case (n, Right(r)) if r.rows == 0 => n }
    assert(empty.isEmpty, s"queries with empty results: $empty")
  }

  test("building every query adds no optimizer rule and no second graft strategy") {
    CatalogRun.results
    val x = spark.experimental
    assert(x.extraOptimizations.isEmpty, x.extraOptimizations)
    for (s <- Seq(graft.plans.TopKStrategy, graft.plans.TokenCountsStrategy))
      assert(x.extraStrategies.count(_ == s) <= 1, x.extraStrategies)
  }

  test("q_topk is the 20-row prefix of q_wordcount's total order") {
    val wc = SparkEntry.queries("q_wordcount")(spark, Sf).collect()
    val topk = SparkEntry.queries("q_topk")(spark, Sf).collect()
    assert(topk.toSeq == wc.take(20).toSeq)
  }

  test("ann_topk: ranks are 1..k and cosine is within [-1, 1] and descending") {
    val rows = SparkEntry.queries("q_ann_topk")(spark, Sf)
      .collect().groupBy(_.getLong(0))
    for ((_, g) <- rows) {
      val ranks = g.map(_.getLong(1)).toSeq
      assert(ranks == (1L to ranks.length))
      val cos = g.sortBy(_.getLong(1)).map(_.getDouble(3)).toSeq
      assert(cos.forall(c => c >= -1.0001 && c <= 1.0001))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
  }

  test("dedup_exact partitions the corpus (keepers + dups = total docs)") {
    val total = spark.read.parquet(s"$Sf/documents.parquet").count()
    val agg = SparkEntry.queries("q_dedup_exact")(spark, Sf).collect()
    assert(agg.map(_.getLong(1)).sum == total)
  }

  test("partitioned scan prunes partitions (PartitionFilters in plan)") {
    // run the query once so the partitioned layout exists…
    SparkEntry.queries("q_partitioned_scan")(spark, Sf).collect()
    // …then check the read side prunes on lang
    val plan = spark.read.parquet(s"${graft.queries.TmpRoot}/docs_by_lang")
      .where(org.apache.spark.sql.functions.col("lang").isin("en", "fr"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("lang"), plan)
  }

  test("simhash of identical texts is identical") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // doc pairs with equal text must get equal simhash (hash is text-pure)
    val sim = SparkEntry.queries("q_dedup_simhash")(spark, Sf)
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val joined = docs.select($"doc_id", $"text")
      .join(sim, "doc_id").select($"text", $"simhash")
      .groupBy("text").agg(countDistinct("simhash").as("n"))
    assert(joined.where(col("n") > 1).count() == 0)
  }

  /** Every Column helper over graft's native expressions, on session `s`. */
  private def helperRows(s: SparkSession): Map[String, Seq[String]] = {
    val words = s.createDataFrame(Seq("kitten", "sitten", "sitting", "mitten", "The", "42", "c°te")
      .map(Tuple1(_))).toDF("w")
    val docs = s.createDataFrame(Seq((1L, "The 42 c°te, a b."), (2L, "abcdefghijklmnop")))
      .toDF("id", "text")
    val vecs = s.createDataFrame(Seq((1L, Seq(1000L, 0L)), (2L, Seq(0L, 3000L)))).toDF("id", "v")
    val cents = s.createDataFrame(Seq((0L, Seq(0L, 0L)), (1L, Seq(0L, 2000L)))).toDF("cid", "c1000")
    Map(
      "keep, encode_word" -> words.select(col("w"), Tokenize.keep(col("w")),
        graft.plans.GraftExtensions.encode_word(col("w"))),
      "keptTokens" -> docs.select(col("id"), Tokenize.keptTokens(col("text"))),
      "matchPairs" -> FuzzyJoin.matchPairs(words, "w"),
      "Winnow.selected" -> Winnow.selected(docs, "id", "text", k = 3, w = 2),
      "zCol" -> s.createDataFrame(Seq((3, 5), (65535, 1))).toDF("x", "y")
        .select(ZOrder.zCol(col("x"), col("y"))),
      "sketches" -> words.agg(HllRegisterAgg(col("w")), KmvAgg(col("w"))),
      "KMeans.assign" -> KMeans.assign(vecs, cents)
    ).map { case (k, df) => k -> df.collect().map(_.toString).toSeq.sorted }
  }

  test("Column helpers return the same rows on a session built without the extension") {
    val bare = SparkFixture.bareSession()
    assert(!bare.sessionState.functionRegistry.functionExists(FunctionIdentifier("lev_within")))
    val want = helperRows(spark)
    assert(want.values.forall(_.nonEmpty), want)
    assert(helperRows(bare) == want)
  }

  test("SQL front door: the whole native-function library is registered and callable") {
    val expected = Seq("encode_word", "lev_within", "interleave_bits",
      "char_shingles", "winnow_fingerprints", "ivec_dot", "ivec_sqdist")
    for (f <- expected) {
      assert(spark.sessionState.functionRegistry.functionExists(FunctionIdentifier(f)),
        s"$f not registered")
      // DESCRIBE FUNCTION must print a real usage string, not "N/A"
      val desc = spark.sql(s"DESCRIBE FUNCTION $f")
        .collect().map(_.getString(0)).mkString("\n")
      assert(desc.contains(s"$f(") && !desc.contains("N/A"), s"$f usage:\n$desc")
    }
    // one-liner smoke per scalar/generator function, pure SQL text
    assert(spark.sql("SELECT encode_word('ab')").collect()(0).getString(0) == "0102")
    assert(spark.sql("SELECT lev_within('kitten', 'sitting', 3)")
      .collect()(0).getInt(0) == 3) // banded edit distance within k
    // y's bit i lands at position 2i+1 (x takes the even positions)
    assert(spark.sql("SELECT interleave_bits(0, 1)").collect()(0).getLong(0) == 2L)
    assert(spark.sql("SELECT interleave_bits(1, 0)").collect()(0).getLong(0) == 1L)
    assert(spark.sql("SELECT collect_list(sh) FROM (SELECT char_shingles('abcd', 3, 1) AS sh)")
      .collect()(0).getSeq[String](0) == Seq("abc", "bcd"))
    assert(spark.sql(
      s"SELECT count(*) FROM (SELECT winnow_fingerprints('abcdefghijklmnop', 8, 4))")
      .collect()(0).getLong(0) == 6L) // ng = 9 grams → 6 full windows
    assert(spark.sql("SELECT ivec_dot(array(1L, 2L), array(3L, 4L))")
      .collect()(0).getLong(0) == 11L)
    assert(spark.sql("SELECT ivec_sqdist(array(1L, 2L), array(3L, 4L))")
      .collect()(0).getLong(0) == 8L)
  }
}
