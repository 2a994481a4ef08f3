package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The 12 queries completing the 22-query TPC-H suite (Q2/4/6/8/9/11/12/
  * 14/16/19/20/21, harness-adapted where the schema lacks partsupp /
  * commit / receipt / shipmode). Exact value matching is dev/check.py's
  * job; these pin (a) the plan shapes that make each query scale and
  * (b) the semantic invariants of the adapted decorrelations, which a
  * refactor could break while still producing plausible rows.
  */
class TpchSuiteSpec extends AnyFunSuite with SparkFixture {

  test("q6: zero joins, every predicate pushed to the parquet scan") {
    val p = plan("q_tpch_q6")
    assert(!p.contains("Join"), p)
    assert("PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(l_shipdate".r
      .findFirstIn(p).nonEmpty, p)
    assert("PushedFilters: \\[[^\\]]*LessThan\\(l_quantity".r
      .findFirstIn(p).nonEmpty, p)
    assert(p.contains("partial_count"), p) // map-side partials
  }

  test("q19: the OR-bracket predicate keeps the part join broadcast") {
    val p = plan("q_tpch_q19")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q16: complaint-supplier exclusion is a broadcast anti join") {
    val p = plan("q_tpch_q16")
    assert(p.contains("LeftAnti"), p)
    assert("BroadcastHashJoin LeftAnti".r.findFirstIn(p).nonEmpty, p)
  }

  test("q4: lateness EXISTS is a left-semi (no row duplication)") {
    val p = plan("q_tpch_q4")
    assert(p.contains("LeftSemi"), p)
    // the quarter filter reaches the orders scan
    assert("PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(o_orderdate".r
      .findFirstIn(p).nonEmpty, p)
  }

  test("q2/q8/q21 plan shapes: dims broadcast, facts shuffle at most once per join tree") {
    // Q2: the part filter, the EUROPE supplier chain, and the per-part
    // min table all broadcast — the only wide work on lineitem is the
    // distinct (part, supplier) shuffle
    val p2 = plan("q_tpch_q2")
    assert("BroadcastHashJoin".r.findAllIn(p2).length >= 3, p2)
    // Q8: all five dims broadcast; the single SortMergeJoin (if any) is
    // the fact-fact orders join
    val p8 = plan("q_tpch_q8")
    assert("BroadcastHashJoin".r.findAllIn(p8).length >= 4, p8)
    // Q21: status semi-join + per-order aggregate + supplier lookup —
    // the supplier dim must broadcast, the order-status filter reaches
    // the orders scan
    val p21 = plan("q_tpch_q21")
    assert(p21.contains("LeftSemi"), p21)
    assert(p21.contains("BroadcastHashJoin"), p21)
    assert("PushedFilters: \\[[^\\]]*EqualTo\\(o_orderstatus,F\\)".r
      .findFirstIn(p21).nonEmpty, p21)
  }

  test("q2: every output row carries its part's minimum EUROPE balance") {
    val rows = SparkEntry.queries("q_tpch_q2")(spark, Sf).collect()
    assert(rows.nonEmpty)
    // recompute the per-part min independently (raw joins, no min table)
    val li = spark.read.parquet(s"$Sf/lineitem.parquet")
      .select("l_partkey", "l_suppkey").distinct()
    val part = spark.read.parquet(s"$Sf/part.parquet")
      .where(col("p_size").between(10, 20) && col("p_type") === "LARGE")
    val sup = spark.read.parquet(s"$Sf/supplier.parquet")
      .join(spark.read.parquet(s"$Sf/nation.parquet"),
        col("s_nationkey") === col("n_nationkey"))
      .join(spark.read.parquet(s"$Sf/region.parquet")
        .where(col("r_name") === "EUROPE"),
        col("n_regionkey") === col("r_regionkey"))
    val mins = li.join(part, col("l_partkey") === col("p_partkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .groupBy("p_partkey").agg(min("s_acctbal").as("m"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for (r <- rows) {
      val (bal, pk) = (r.getDouble(0), r.getLong(3))
      assert(bal == mins(pk), s"part $pk: $bal != min ${mins(pk)}")
    }
  }

  test("q11: every kept part's value exceeds 0.1% of the global value") {
    val out = SparkEntry.queries("q_tpch_q11")(spark, Sf).collect()
    assert(out.nonEmpty)
    val all = spark.read.parquet(s"$Sf/lineitem.parquet")
      .join(spark.read.parquet(s"$Sf/part.parquet"),
        col("l_partkey") === col("p_partkey"))
      .select((col("l_quantity").cast("long") *
        expr("CAST(floor(p_retailprice*100 + 0.5) AS BIGINT)")).as("v"))
      .agg(sum("v")).collect()(0).getLong(0)
    for (r <- out) {
      val cents = math.round(r.getDouble(1) * 100)
      assert(cents * 1000 > all, s"part ${r.getLong(0)} under threshold")
    }
  }

  test("q21: the reported supplier really shipped last in a multi-supplier F order") {
    val winners = SparkEntry.queries("q_tpch_q21")(spark, Sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(winners.nonEmpty)
    // in-memory replay of the decorrelation on the tiny sf
    val li = spark.read.parquet(s"$Sf/lineitem.parquet")
      .join(spark.read.parquet(s"$Sf/orders.parquet")
        .where(col("o_orderstatus") === "F").select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        unix_timestamp(col("l_shipdate").cast("timestamp")).as("es"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1).toInt, r.getLong(2)))
    val names = spark.read.parquet(s"$Sf/supplier.parquet")
      .select("s_suppkey", "s_name").collect()
      .map(r => r.getLong(0).toInt -> r.getString(1)).toMap
    val expected = li.groupBy(_._1).values
      .filter(_.map(_._2).distinct.size > 1)
      .map(_.maxBy(t => (t._3, t._2)))
      .groupBy(t => names(t._2)).map { case (n, g) => n -> g.size.toLong }
    // the query reports the global top-20 of this map
    val top = expected.toSeq.sortBy { case (n, c) => (-c, n) }.take(20).toMap
    assert(winners == top, s"got $winners expected $top")
  }

  test("q8 market share is within [0,1] and q14 promo share within [0,100]") {
    val q8 = SparkEntry.queries("q_tpch_q8")(spark, Sf).collect()
    assert(q8.nonEmpty)
    q8.foreach(r => assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0))
    val q14 = SparkEntry.queries("q_tpch_q14")(spark, Sf).collect()(0)
    assert(q14.getDouble(0) >= 0.0 && q14.getDouble(0) <= 100.0)
  }

  test("q12 counts partition the joined rows exactly") {
    val rows = SparkEntry.queries("q_tpch_q12")(spark, Sf).collect()
    val total = rows.map(r => r.getLong(1) + r.getLong(2)).sum
    val expected = spark.read.parquet(s"$Sf/lineitem.parquet")
      .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(spark.read.parquet(s"$Sf/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .count()
    assert(total == expected)
  }

  test("q20: a qualifying supplier holds >20% of some widget part's 1996 volume") {
    val out = SparkEntry.queries("q_tpch_q20")(spark, Sf)
      .select("s_name").collect().map(_.getString(0)).toSet
    val shipped = spark.read.parquet(s"$Sf/lineitem.parquet")
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(spark.read.parquet(s"$Sf/part.parquet")
        .where(col("p_name").endsWith("widget")),
        col("l_partkey") === col("p_partkey"))
      .select("l_partkey", "l_suppkey", "l_quantity").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2).toLong))
    val perPart = shipped.groupBy(_._1).map { case (p, g) =>
      p -> g.map(_._3).sum }
    val qualifying = shipped.groupBy(t => (t._1, t._2))
      .filter { case ((p, _), g) => g.map(_._3).sum * 5 > perPart(p) }
      .map(_._1._2).toSet
    val names = spark.read.parquet(s"$Sf/supplier.parquet")
      .select("s_suppkey", "s_name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == qualifying.map(names))
  }
}
