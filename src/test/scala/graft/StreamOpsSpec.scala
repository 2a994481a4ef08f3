package graft

import graft.streaming.{Event, StreamOps}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

class StreamOpsSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def ts(minute: Int) = new java.sql.Timestamp(minute * 60000L)

  test("q_stream_sink_roundtrip is idempotent across in-process reruns") {
    // the checkpoint marks the source file processed, so a second run sees
    // no new data, executes zero batches, and the versioned state table
    // read back is bit-identical — reruns (Bench's 3 reps, Verify retries)
    // must not perturb the sink
    def run() = SparkEntry.queries("q_stream_sink_roundtrip")(spark, Sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val first = run()
    assert(first.nonEmpty && first == run())
  }

  test("streamingWordCount counts across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val q = StreamOps.streamingWordCount(in.toDF())
      .writeStream.format("memory").queryName("wc_out")
      .outputMode(OutputMode.Complete()).start()
    try {
      in.addData("home fairy dance", "pop steal home")
      q.processAllAvailable()
      in.addData("python pop home")
      q.processAllAvailable()
      val got = spark.table("wc_out").as[(String, Long)].collect().toMap
      assert(got("home") == 3 && got("pop") == 2 && got("python") == 1)
    } finally q.stop()
  }

  test("streamingCms equals the batch sketch of the same prefix after every micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    def batchSketch(lines: Seq[String]): Map[(Long, Long), Long] =
      StreamOps.streamingCms(lines.toDF("value"))
        .collect().map(r => ((r.getInt(0).toLong, r.getLong(1)), r.getLong(2))).toMap

    val in = MemoryStream[String]
    val q = StreamOps.streamingCms(in.toDF())
      .writeStream.format("memory").queryName("cms_out")
      .outputMode(OutputMode.Complete()).start()
    try {
      val b1 = Seq("home fairy dance", "pop steal home")
      val b2 = Seq("python pop home", "fairy fairy pop")
      in.addData(b1: _*)
      q.processAllAvailable()
      val got1 = spark.table("cms_out")
        .collect().map(r => ((r.getInt(0).toLong, r.getLong(1)), r.getLong(2))).toMap
      assert(got1 == batchSketch(b1))
      in.addData(b2: _*)
      q.processAllAvailable()
      val got2 = spark.table("cms_out")
        .collect().map(r => ((r.getInt(0).toLong, r.getLong(1)), r.getLong(2))).toMap
      assert(got2 == batchSketch(b1 ++ b2))
    } finally q.stop()
  }

  test("streamingHll registers equal the batch sketch of the same prefix") {
    implicit val sqlCtx = spark.sqlContext
    def batchRegs(keys: Seq[String]): Map[Long, Long] =
      StreamOps.streamingHll(keys.toDF("value"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap

    val in = MemoryStream[String]
    val q = StreamOps.streamingHll(in.toDF())
      .writeStream.format("memory").queryName("hll_out")
      .outputMode(OutputMode.Complete()).start()
    try {
      val b1 = (1 to 40).map(i => s"user-$i")
      val b2 = (30 to 80).map(i => s"user-$i") // overlap: max-merge is idempotent
      in.addData(b1: _*)
      q.processAllAvailable()
      val got1 = spark.table("hll_out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got1 == batchRegs(b1))
      in.addData(b2: _*)
      q.processAllAvailable()
      val got2 = spark.table("hll_out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got2 == batchRegs(b1 ++ b2))
    } finally q.stop()
  }

  test("dedupByFingerprint suppresses shuffled re-posts, keeps first arrival") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = StreamOps.dedupByFingerprint(
        in.toDF().toDF("doc_id", "ts", "text"))
      .writeStream.format("memory").queryName("fp_out")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData((1L, ts(1), "the quick brown fox"))
      q.processAllAvailable()
      // same bag of words, different order + duplicate token -> same fp
      in.addData((2L, ts(2), "brown fox the quick the"))
      // genuinely new content
      in.addData((3L, ts(3), "an entirely different doc"))
      q.processAllAvailable()
      val ids = spark.table("fp_out").select("doc_id")
        .as[Long].collect().toSet
      assert(ids == Set(1L, 3L), ids)
    } finally q.stop()
  }

  test("windowedCounts: tumbling windows by event type, late data dropped") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamOps.windowedCounts(in.toDS(), "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("win_out")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(Event(1, ts(1), 10, "click", 1.0), Event(2, ts(4), 10, "click", 2.0),
        Event(3, ts(12), 11, "view", 5.0))
      q.processAllAvailable()
      // advance watermark far enough to close the first window…
      in.addData(Event(4, ts(40), 12, "click", 1.0))
      q.processAllAvailable()
      // …then a very late event for the closed window: must be dropped
      in.addData(Event(5, ts(2), 13, "click", 99.0))
      q.processAllAvailable()
      in.addData(Event(6, ts(80), 12, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("win_out")
        .selectExpr("CAST(window.start AS LONG) AS start_s", "event_type", "n", "sum_value")
        .as[(Long, String, Long, Double)].collect().toSet
      assert(rows.contains((0L, "click", 2L, 3.0)))    // w[0,10) click: events 1,2 only
      assert(rows.contains((600L, "view", 1L, 5.0)))   // w[10,20) view
      assert(!rows.exists { case (s, t, _, v) => s == 0 && v == 99.0 }) // late dropped
    } finally q.stop()
  }

  test("sessionize: a late event inside the gap extends, never rewinds, bounds") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamOps.sessionize(in.toDS(), gapMs = 15 * 60000L)
      .writeStream.format("memory").queryName("sess_late_out")
      .outputMode(OutputMode.Append()).start()
    val base = 60
    try {
      in.addData(Event(1, ts(base), 1, "click", 1.0),
        Event(2, ts(base + 10), 1, "view", 2.0))
      q.processAllAvailable()
      // late event BETWEEN the session bounds (within watermark): must
      // merge without rewinding end_ms (a rewind would split the session)
      in.addData(Event(3, ts(base + 5), 1, "click", 4.0))
      q.processAllAvailable()
      // close the session via watermark advance
      in.addData(Event(4, ts(base + 120), 2, "click", 0.0))
      q.processAllAvailable()
      in.addData(Event(5, ts(base + 240), 2, "click", 0.0))
      q.processAllAvailable()
      val u1 = spark.table("sess_late_out")
        .as[graft.streaming.Session].collect().filter(_.user_id == 1)
      assert(u1.length == 1, u1.mkString(";"))
      assert(u1.head.n_events == 3 && u1.head.sum_value == 7.0)
      assert(u1.head.start_ms == base * 60000L &&
        u1.head.end_ms == (base + 10) * 60000L)
    } finally q.stop()
  }

  test("sessionize closes sessions after the gap and evicts state") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamOps.sessionize(in.toDS(), gapMs = 10 * 60000L)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append()).start()
    // NB: keep event times > 0 — a row at exactly the initial watermark (0)
    // is considered late and dropped before reaching the state function.
    val base = 60 // minutes
    try {
      // user 1: two events 5 min apart (one session), then silence
      in.addData(Event(1, ts(base), 1, "click", 1.0),
        Event(2, ts(base + 5), 1, "view", 2.0))
      q.processAllAvailable()
      // move the watermark past user 1's session timeout → session closes
      in.addData(Event(3, ts(base + 60), 2, "click", 7.0))
      q.processAllAvailable()
      in.addData(Event(4, ts(base + 120), 2, "click", 1.0))
      q.processAllAvailable()
      val got = spark.table("sess_out")
        .as[graft.streaming.Session].collect()
      info("sessions: " + got.mkString("; "))
      val u1 = got.filter(_.user_id == 1)
      assert(u1.length == 1)
      assert(u1.head.n_events == 2 && u1.head.sum_value == 3.0)
      assert(u1.head.start_ms == base * 60000L &&
        u1.head.end_ms == (base + 5) * 60000L)
    } finally q.stop()
  }

  test("sessionizeTws (timers) emits exactly the sessions of the old API") {
    implicit val sqlCtx = spark.sqlContext
    withConf("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val base = 60
      // watermarkDelay (30 min) > gap (10 min) makes the STRAGGLER branch
      // reachable: batch 2's t = base−20 is above the watermark (base−30)
      // but older than start−gap — both implementations must emit it as a
      // closed singleton and keep the open session untouched
      val batches = Seq(
        Seq(Event(1, ts(base), 1, "click", 1.0),
          Event(2, ts(base + 5), 1, "view", 2.0),
          Event(10, ts(base + 2), 2, "click", 4.0)),
        Seq(Event(6, ts(base - 20), 1, "view", 5.0)),
        Seq(Event(3, ts(base + 60), 2, "click", 7.0)),
        Seq(Event(4, ts(base + 120), 3, "click", 1.0)),
        Seq(Event(5, ts(base + 200), 3, "view", 9.0)))
      def run(f: org.apache.spark.sql.Dataset[Event] => org.apache.spark.sql.Dataset[graft.streaming.Session],
              name: String): Set[graft.streaming.Session] = {
        val in = MemoryStream[Event]
        val q = f(in.toDS()).writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Append()).start()
        try {
          batches.foreach { b => in.addData(b); q.processAllAvailable() }
          spark.table(name).as[graft.streaming.Session].collect().toSet
        } finally q.stop()
      }
      try {
        val old = run(StreamOps.sessionize(_, gapMs = 10 * 60000L,
          watermarkDelay = "30 minutes"), "sess_old")
        val tws = run(StreamOps.sessionizeTws(_, gapMs = 10 * 60000L,
          watermarkDelay = "30 minutes"), "sess_tws")
        assert(old.nonEmpty, "fixture closed no sessions")
        // the straggler singleton really was exercised
        assert(old.exists(s => s.user_id == 1 && s.n_events == 1 &&
          s.start_ms == (base - 20) * 60000L), s"straggler missing: $old")
        assert(tws == old, s"tws=$tws old=$old")
      } finally {
        spark.sql("DROP TABLE IF EXISTS sess_old")
        spark.sql("DROP TABLE IF EXISTS sess_tws")
      }
    }
  }

  test("recentEvents (ListState): newest-k buffer per user, bounded state") {
    implicit val sqlCtx = spark.sqlContext
    withConf("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val in = MemoryStream[Event]
      val q = StreamOps.recentEvents(in.toDS(), k = 3)
        .writeStream.format("memory").queryName("recent_ev")
        .outputMode("update").start()
      try {
        in.addData(Event(1, ts(1), 1, "a", 0.0), Event(2, ts(2), 1, "a", 0.0))
        q.processAllAvailable()
        in.addData(Event(3, ts(3), 1, "a", 0.0), Event(4, ts(4), 1, "a", 0.0))
        q.processAllAvailable()
        val got = spark.table("recent_ev")
          .as[graft.streaming.RecentWindow].collect()
          .map(w => w.event_ids).toSeq
        // batch 1 window = [1,2]; batch 2 truncates to the newest 3 = [2,3,4]
        assert(got.contains(Seq(1L, 2L)) && got.contains(Seq(2L, 3L, 4L)),
          got.toString)
      } finally {
        q.stop()
        spark.sql("DROP TABLE IF EXISTS recent_ev")
      }
    }
  }

  test("typeCounts (MapState): cumulative per-type counts per user") {
    implicit val sqlCtx = spark.sqlContext
    withConf("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val in = MemoryStream[Event]
      val q = StreamOps.typeCounts(in.toDS())
        .writeStream.format("memory").queryName("type_counts")
        .outputMode("update").start()
      try {
        in.addData(Event(1, ts(1), 1, "click", 0.0), Event(2, ts(2), 1, "click", 0.0),
          Event(3, ts(3), 1, "view", 0.0), Event(4, ts(4), 2, "view", 0.0))
        q.processAllAvailable()
        in.addData(Event(5, ts(5), 1, "click", 0.0), Event(6, ts(6), 2, "view", 0.0))
        q.processAllAvailable()
        val got = spark.table("type_counts")
          .as[graft.streaming.TypeCount].collect()
          .groupBy(t => (t.user_id, t.event_type)).view
          .mapValues(_.map(_.n).sorted.toSeq).toMap
        // batch 1: (1,click)=2, (1,view)=1, (2,view)=1; batch 2 updates
        // (1,click)=3 and (2,view)=2
        assert(got((1L, "click")) == Seq(2L, 3L), got.toString)
        assert(got((1L, "view")) == Seq(1L), got.toString)
        assert(got((2L, "view")) == Seq(1L, 2L), got.toString)
      } finally {
        q.stop()
        spark.sql("DROP TABLE IF EXISTS type_counts")
      }
    }
  }

  test("dedupCounts (transformWithState): cumulative duplicate accounting per key") {
    implicit val sqlCtx = spark.sqlContext
    // transformWithState requires the RocksDB state store provider
    withConf("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val in = MemoryStream[String]
      val q = StreamOps.dedupCounts(in.toDS())
        .writeStream.format("memory").queryName("dedup_counts")
        .outputMode("update").start()
      try {
        in.addData("a", "a", "b")
        q.processAllAvailable()
        in.addData("a", "b", "b")
        q.processAllAvailable()
        val got = spark.table("dedup_counts")
          .as[(String, Long)].collect().groupBy(_._1).view
          .mapValues(_.map(_._2).sorted.toSeq).toMap
        // batch 1 emits cumulative (a,2),(b,1); batch 2 emits (a,3),(b,3)
        assert(got("a") == Seq(2L, 3L), got.toString)
        assert(got("b") == Seq(1L, 3L), got.toString)
        // first-seen rows are exactly the n==1 emissions (dedup view)
        val firstSeen = spark.table("dedup_counts")
          .as[(String, Long)].collect().filter(_._2 == 1L).map(_._1)
        assert(firstSeen.toSeq == Seq("b"))
      } finally {
        q.stop()
        spark.sql("DROP TABLE IF EXISTS dedup_counts")
      }
    }
  }
}
