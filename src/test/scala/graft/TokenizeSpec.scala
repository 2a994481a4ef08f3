package graft

import graft.operators.Tokenize
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TokenizeSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("splits on the reference delimiter class and collapses runs") {
    val df = Seq("home!fairy.dance:pop;steal_python,car'snake@pop?x(y)z/a°b\tc\nd e")
      .toDF("text")
    val words = Tokenize.tokenize(df, "text").select("word").as[String]
      .collect().toSeq
    assert(words == Seq("home", "fairy", "dance", "pop", "steal", "python",
      "car", "snake", "pop", "x", "y", "z", "a", "b", "c", "d", "e"))
  }

  test("keep-rule: encode-empty tokens are dropped, mixed tokens kept") {
    val df = Seq("123 456 café The THE ` é 1a2").toDF("text")
    val words = Tokenize.tokenize(df, "text").select("word").as[String]
      .collect().toSeq
    // pure digits and pure non-[`-z] dropped; café/1a2 kept (≥1 encodable
    // char); case preserved (The vs THE distinct spellings both kept)
    assert(words == Seq("café", "The", "THE", "`", "1a2"))
  }

  test("word count matches hand-computed fixture with cross-partition dups") {
    // little_splits-style planted duplicates (SURVEY.md §5.2)
    val df = Seq("home fairy dance", "pop steal home",
      "python pop snake", "car pop home").toDF("text")
    val got = Tokenize.wordCount(df, "text").as[(String, Long)].collect().toMap
    assert(got == Map("home" -> 3L, "pop" -> 3L, "fairy" -> 1L,
      "dance" -> 1L, "steal" -> 1L, "python" -> 1L, "snake" -> 1L, "car" -> 1L))
  }

  test("counts are invariant under repartitioning (reference split-size invariant)") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet").select("text")
    val base = Tokenize.wordCount(docs, "text").as[(String, Long)].collect().toMap
    for (n <- Seq(1, 3, 7)) {
      val re = Tokenize.wordCount(docs.repartition(n), "text")
        .as[(String, Long)].collect().toMap
      assert(re == base, s"repartition($n) changed counts")
    }
  }

  test("topKPerReducer: disjoint keysets, exact counts, local selection") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet").select("text")
    val per = Tokenize.topKPerReducer(docs, "text", k = 10, numReducers = 4)
      .collect()
    val global = Tokenize.wordCount(docs, "text")
      .as[(String, Long)].collect().toMap
    // each emitted (word, cnt) carries the exact global count
    for (r <- per)
      assert(global(r.getString(1)) == r.getLong(2), r.toString)
    // a word appears under exactly one reducer (route-disjoint keysets)
    val byWord = per.groupBy(_.getString(1))
    assert(byWord.values.forall(_.map(_.getInt(0)).distinct.length == 1))
    // each reducer emits at most k rows
    assert(per.groupBy(_.getInt(0)).values.forall(_.length <= 10))
    // reducer ids follow the reference routing exactly, and the observed
    // reducer set matches the expected one (catches partition-id collapse)
    for (r <- per)
      assert(r.getInt(0) == graft.functions.EncodeWord.route(r.getString(1), 4))
    val expected = global.keySet.map(graft.functions.EncodeWord.route(_, 4))
    assert(per.map(_.getInt(0)).toSet == expected)
    // the bounded-memory aggregator must equal the window formulation
    val viaWindow = Tokenize.wordCount(docs, "text")
      .withColumn("reducer",
        graft.functions.EncodeWord.routeUdf(col("word"), lit(4)))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("reducer")
          .orderBy(desc("cnt"), asc("word"))))
      .where(col("rn") <= 10).select("reducer", "word", "cnt")
      .collect().map(_.toString).sorted.toSeq
    assert(per.map(_.toString).sorted.toSeq == viaWindow)
  }

  test("topKPerReducer equals the window formulation when many words tie at the k-th count") {
    // 240 words (two case spellings of 120 stems: routing lowercases, so
    // both spellings share a reducer), count 1 + (i mod 4): every reducer
    // holds a run of words tied at each count, so the k-th place is
    // decided by `word asc` alone; the tokens are shuffled over 12 texts in
    // 3 partitions, so the partial prune sees each word's partial counts
    val words = (0 until 120).flatMap { i =>
      val stem = s"w${('a' + i % 26).toChar}${('a' + i / 26).toChar}"
      Seq(stem, stem.capitalize)
    }
    val tokens = words.zipWithIndex.flatMap { case (w, i) => Seq.fill(1 + i % 4)(w) }
    val texts = new scala.util.Random(11).shuffle(tokens).grouped(40).map(_.mkString(" "))
    val docs = texts.toSeq.toDF("text").repartition(3)
    for (n <- Seq(4, 7); k <- Seq(1, 10, 20)) {
      val got = Tokenize.topKPerReducer(docs, "text", k = k, numReducers = n)
        .collect().map(_.toString).sorted.toSeq
      val viaWindow = Tokenize.wordCount(docs, "text")
        .withColumn("reducer",
          graft.functions.EncodeWord.routeUdf(col("word"), lit(n)))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("reducer")
            .orderBy(desc("cnt"), asc("word"))))
        .where(col("rn") <= k).select("reducer", "word", "cnt")
        .collect().map(_.toString).sorted.toSeq
      assert(got == viaWindow, s"numReducers=$n k=$k")
      // the fixture really ties at the k-th place in some reducer
      val perReducer = words.zipWithIndex
        .groupBy { case (w, _) => graft.functions.EncodeWord.route(w, n) }.values
        .map(_.map { case (_, i) => 1 + i % 4 }.sorted(Ordering[Int].reverse))
      assert(perReducer.exists(c => c.size > k && c(k - 1) == c(k)), s"numReducers=$n k=$k")
    }
  }

  test("tokenArray preserves order for shingling") {
    val arr = Seq("a!b c.d").toDF("text")
      .select(Tokenize.tokenArray(col("text")).as("ws"))
      .as[Seq[String]].head()
    assert(arr == Seq("a", "b", "c", "d"))
  }
}
