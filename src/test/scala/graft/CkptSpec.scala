package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Regression guards for the two round-5 iterative-operator fixes:
  * stats-truncating checkpoints (Ckpt) and Shiloach–Vishkin hooking in
  * ConnectedComponents. Both bugs only detonate on inputs needing many
  * rounds, so each is pinned by a construction that forces the rounds.
  * Then both sides of every size gate in Ckpt: small `spark.range`
  * frames below, optimizer estimates of `spark.range(1L << 40)` (8 TiB)
  * or of a frame exactly at the threshold above — nothing on the high
  * side is ever executed.
  */
class CkptSpec extends AnyFunSuite with SparkFixture {
  import graft.operators.Ckpt

  private val Huge = 1L << 40

  private def width = spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** Ids of the jobs `body` ran, via a job group read back from the
    * status store once the async listener bus has drained. */
  private def jobsOf[T](body: => T): (T, Seq[Int]) = {
    val sc = spark.sparkContext
    val group = s"ckpt-spec-${System.nanoTime()}"
    sc.setJobGroup(group, group)
    val out = try body finally sc.clearJobGroup()
    org.apache.spark.sql.graft.GraftSqlShim.drainListenerBus(spark)
    (out, sc.statusTracker.getJobIdsForGroup(group).toSeq)
  }

  /** One self-joining "round" of the shape every iterative operator uses:
    * the Catalyst size estimator multiplies the join children's sizes, so
    * whatever stats the checkpoint carries forward get SQUARED here. */
  private def round(df: org.apache.spark.sql.DataFrame) = {
    val j = df.as("x").join(df.as("y"), col("x.l") === col("y.v"))
      .select(col("x.v").as("v"), col("y.l").as("l"))
    j.unionByName(df).groupBy("v").agg(min(col("l")).as("l"))
  }

  test("plain localCheckpoint compounds estimated stats; ckpt does not") {
    import spark.implicits._
    import graft.operators.Ckpt._
    val base = (0L to 99L).map(v => (v, v)).toDF("v", "l")

    var plain = base.localCheckpoint()
    var fixed = base.ckpt()
    for (_ <- 1 to 8) {
      plain = round(plain).localCheckpoint()
      fixed = round(fixed).ckpt()
    }
    val plainBits = plain.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
    val fixedBits = fixed.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
    // 8 squarings from a ~2^12-byte base → thousands of bits if carried
    // estimates compound (the round-18 version of this hangs the planner
    // for hours); measured stats stay at real-data size.
    assert(plainBits > 500, s"expected compounding without the fix, got $plainBits bits")
    assert(fixedBits < 64, s"ckpt stats must be real-size, got $fixedBits bits")
  }

  test("ckpt preserves rows, schema, and values exactly") {
    import spark.implicits._
    import graft.operators.Ckpt._
    val df = (1L to 1000L).map(v => (v, s"s$v", v * 0.5)).toDF("a", "b", "c")
    val ck = df.ckpt()
    assert(ck.schema == df.schema)
    assert(ck.orderBy("a").collect().toSeq == df.orderBy("a").collect().toSeq)
  }

  test("CC converges in O(log) rounds on a row-major grid (id-plateau case)") {
    import spark.implicits._
    // 30×30 4-neighbor grid, ids row-major: the min label must cross the
    // whole grid; without hooking this takes ~diameter rounds (measured
    // live: a 64×64 blob was still moving at round 60 under the cap).
    val n = 30
    val edges = (for {
      x <- 0 until n; y <- 0 until n
      (dx, dy) <- Seq((1, 0), (0, 1))
      if x + dx < n && y + dy < n
    } yield ((x * n + y).toLong, ((x + dx) * n + (y + dy)).toLong))
      .toDF("a", "b")
    val (labels, rounds) = graft.operators.ConnectedComponents.labels(edges)
    val out = labels.agg(countDistinct(col("l")), min(col("l")), count(lit(1)))
      .collect()(0)
    assert(out.getLong(0) == 1L, "grid must be one component")
    assert(out.getLong(1) == 0L, "label must be the component minimum")
    assert(out.getLong(2) == (n * n).toLong)
    assert(rounds <= 15, s"hooking bound: expected ≤15 rounds, took $rounds")
  }

  test("ckptIfSmall: checkpoint below the width gate, lazy cache above it") {
    import org.apache.spark.sql.execution.LogicalRDD
    val (small, smallJobs) = jobsOf(Ckpt.ckptIfSmall(spark.range(1000).toDF()))
    assert(small.queryExecution.analyzed.isInstanceOf[LogicalRDD])
    assert(smallJobs.nonEmpty, "the checkpoint is eager")
    assert(small.count() == 1000L)

    val big = spark.range(Huge).toDF()
    val (cached, bigJobs) = jobsOf(Ckpt.ckptIfSmall(big))
    try {
      assert(cached.storageLevel == StorageLevel.MEMORY_AND_DISK)
      assert(!cached.queryExecution.analyzed.isInstanceOf[LogicalRDD])
      assert(bigJobs.isEmpty, s"the persist must be lazy, ran jobs $bigJobs")
    } finally cached.unpersist()
  }

  test("widenIfSmall: doc_id repartition at width below the gate, identity at it") {
    import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
    // the gate is width × 64 MB of estimate; a range row is 8 bytes
    val atGate = width * 64L * 1024 * 1024 / 8
    def docs(n: Long) = spark.range(n).select(col("id").as("doc_id"))
    for (n <- Seq(1000L, atGate - 1)) {
      Ckpt.widenIfSmall(docs(n)).queryExecution.analyzed match {
        case r: RepartitionByExpression =>
          assert(r.optNumPartitions.contains(width), s"n=$n")
          assert(r.partitionExpressions.map(_.sql) == Seq("doc_id"), s"n=$n")
        case other => fail(s"n=$n: expected a doc_id repartition, got\n$other")
      }
    }
    for (n <- Seq(atGate, Huge)) {
      val df = docs(n)
      assert(Ckpt.widenIfSmall(df) eq df, s"n=$n")
    }
  }

  test("maybePersist: identity up to 256 MB of estimate, persisted above") {
    val limit = 256L * 1024 * 1024 / 8 // range rows in PersistAutoBytes
    assert(Ckpt.PersistAutoBytes == BigInt(256L * 1024 * 1024))
    for (n <- Seq(1000L, limit)) {
      val df = spark.range(n).toDF()
      assert(Ckpt.maybePersist(df) eq df, s"n=$n")
      assert(df.storageLevel == StorageLevel.NONE, s"n=$n")
    }
    for (n <- Seq(limit + 1, Huge)) {
      val (p, jobs) = jobsOf(Ckpt.maybePersist(spark.range(n).toDF()))
      try {
        assert(p.storageLevel == StorageLevel.MEMORY_AND_DISK, s"n=$n")
        assert(jobs.isEmpty, s"n=$n: the persist must be lazy, ran jobs $jobs")
      } finally p.unpersist()
    }
  }

  test("widenScan: repartitions only a file with < width row groups and > 512 KB") {
    import org.apache.spark.sql.catalyst.plans.logical.{Repartition, RepartitionByExpression}
    val df = spark.range(10).toDF()
    val floor = 512L * 1024
    assert(Ckpt.widenScan(df, width, floor + 1, Some("id")) eq df)
    assert(Ckpt.widenScan(df, width - 1, floor, Some("id")) eq df)
    Ckpt.widenScan(df, width - 1, floor + 1, Some("id")).queryExecution.analyzed match {
      case r: RepartitionByExpression =>
        assert(r.optNumPartitions.contains(width))
        assert(r.partitionExpressions.map(_.sql) == Seq("id"))
      case other => fail(s"expected an id repartition, got\n$other")
    }
    Ckpt.widenScan(df, width - 1, floor + 1, None).queryExecution.analyzed match {
      case r: Repartition => assert(r.numPartitions == width && r.shuffle)
      case other => fail(s"expected a round-robin repartition, got\n$other")
    }
  }
}
