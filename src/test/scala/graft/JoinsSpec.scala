package graft

import graft.operators.{Joins, Skew}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class JoinsSpec extends AnyFunSuite with SparkFixture {

  test("binned intervalOverlap equals the naive non-equi join (pairs exactly once)") {
    import spark.implicits._
    // hand-built intervals including multi-bin overlaps (binWidth 10):
    // the start-bin ownership rule must emit each qualifying pair ONCE
    val left = Seq((1L, 1L, 0L, 25L), (2L, 1L, 14L, 16L), (3L, 2L, 5L, 9L))
      .toDF("l_id", "k", "ls", "le")
    val right = Seq((10L, 1L, 4L, 40L), (11L, 1L, 24L, 26L), (12L, 2L, 9L, 12L))
      .toDF("r_id", "k", "rs", "re")
    val got = Joins.intervalOverlap(left, right, Seq("k"),
        "ls", "le", "rs", "re", 10L)
      .select("l_id", "r_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == got.distinct.length, "pair emitted more than once")
    val naive = left.join(right, Seq("k"))
      .where(greatest(col("ls"), col("rs")) < least(col("le"), col("re")))
      .select("l_id", "r_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSet == naive.toSet && naive.nonEmpty)
    // interval (1,10) × (11,..): overlap [24,25) crosses no bin boundary;
    // (1,..) × (10,..): [4,25) spans bins 0..2 — still exactly one row
    assert(got.toSet.contains((1L, 10L)) && got.toSet.contains((1L, 11L)))
  }

  test("binned pointInInterval equals the naive non-equi join") {
    val e = graft.queries.table(spark, Sf, "events") // converts ns-long ts
    val points = e.select(col("event_id"), col("event_type"),
      unix_micros(col("ts")).as("pt"))
    val iv = e.select(col("event_id").as("iv_id"), col("event_type"),
      unix_micros(col("ts")).as("lo"),
      (unix_micros(col("ts")) + lit(600000000L)).as("hi"))
    val binned = Joins
      .pointInInterval(points, iv, Seq("event_type"), "pt", "lo", "hi", 600000000L)
      .select("iv_id", "event_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = points.alias("p").join(iv.alias("i"),
      col("p.event_type") === col("i.event_type") &&
        col("p.pt") >= col("i.lo") && col("p.pt") <= col("i.hi"))
      .select("iv_id", "event_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(binned == naive && naive.nonEmpty)
  }

  test("asof picks the latest right row at or before the left ordinal") {
    import spark.implicits._
    val left = Seq((1L, 10L, 100L), (2L, 10L, 205L), (3L, 20L, 50L))
      .toDF("id", "k", "t")
    val right = Seq((10L, 100L, "a"), (10L, 200L, "b"), (10L, 300L, "c"),
      (20L, 60L, "late")).toDF("rk", "rt", "tag")
    val got = Joins.asof(left, right,
      leftKey = col("k"), rightKey = col("rk"),
      leftOrd = col("t"), rightOrd = col("rt"),
      leftId = col("id"), tieBreak = col("rt"))
      .select("id", "tag").as[(Long, String)].collect().toMap
    // left-outer semantics: id 3 (no right row ≤ 50) survives with null
    assert(got == Map(1L -> "a", 2L -> "b", 3L -> null))
  }

  test("saltedJoin is row-identical to the plain equi-join") {
    val li = spark.read.parquet(s"$Sf/lineitem.parquet")
      .select(col("l_orderkey").as("k"), col("l_linenumber"), col("l_quantity"))
    val o = spark.read.parquet(s"$Sf/orders.parquet")
      .select(col("o_orderkey").as("k"), col("o_orderpriority"))
    val plain = li.join(o, "k")
      .groupBy("o_orderpriority").agg(count(lit(1)), sum("l_quantity"))
      .collect().map(_.toString).sorted.toSeq
    val salted = Skew.saltedJoin(li, o, "k", 8, col("l_linenumber"))
      .groupBy("o_orderpriority").agg(count(lit(1)), sum("l_quantity"))
      .collect().map(_.toString).sorted.toSeq
    assert(salted == plain)
  }

  test("BloomPrune auto-sizes from the dimension: FPP holds at dim >> 1M keys") {
    // 2M dimension keys — double the old fixed default of 1M, which would
    // have inflated the realized FPP well past the requested 1%. The
    // auto-sized filter (expectedItems = dim.count()) must keep the
    // realized FPP on a DISJOINT probe set near the requested fpp.
    val dim = spark.range(2000000L).toDF("k")
    val probeN = 200000L
    val probe = spark.range(2000000L, 2000000L + probeN).toDF("k")
    val survivors = graft.operators.BloomPrune
      .preFilter(probe, "k", dim, "k", None, 0.01).count()
    val fppAuto = survivors.toDouble / probeN
    assert(fppAuto < 0.03, s"auto-sized realized FPP $fppAuto")
    // and the missized fixed guess is measurably worse — the failure mode
    // the auto default exists to prevent
    val survivorsFixed = graft.operators.BloomPrune
      .preFilter(probe, "k", dim, "k", Some(100000L), 0.01).count()
    assert(survivorsFixed > survivors * 3,
      s"fixed-100k sizing should degrade: $survivorsFixed vs $survivors")
  }

  test("bucketed tables co-locate the join: no Exchange in the plan") {
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")
    // the in-memory catalog forgets tables across JVMs but files persist
    for (t <- Seq("li_b", "o_b")) {
      val d = new java.io.File(new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t).toUri.getPath)
      if (d.exists()) {
        d.listFiles().foreach(_.delete()); d.delete()
      }
    }
    spark.read.parquet(s"$Sf/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
      .write.mode("overwrite").bucketBy(8, "l_orderkey").saveAsTable("li_b")
    spark.read.parquet(s"$Sf/orders.parquet")
      .select("o_orderkey", "o_orderpriority")
      .write.mode("overwrite").bucketBy(8, "o_orderkey").saveAsTable("o_b")
    val joined = spark.table("li_b")
      .join(spark.table("o_b"), col("l_orderkey") === col("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(joined.count() ==
      spark.read.parquet(s"$Sf/lineitem.parquet").count())
  }
}
