package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.EventsStream
import graft.streaming.EventsStream._
import graft.queries.Scratch

/** Streaming surface: the file-driven windowed aggregate must agree with its
  * batch equivalent, and stateful sessionization must split on the gap.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("streaming hourly counts == batch hourly counts (sf0.001 events)") {
    val dir = "/root/testdata/sf0.001"
    val streamed = EventsStream.runToBatch(spark,
      EventsStream.hourlyCounts(EventsStream.readEvents(spark, dir)), "hourly_test")
    val batch = graft.sources.Sources.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming sliding counts == batch sliding counts (sf0.001 events)") {
    val dir = "/root/testdata/sf0.001"
    val streamed = EventsStream.runToBatch(spark,
      EventsStream.slidingCounts(EventsStream.readEvents(spark, dir)), "sliding_test")
    val batch = graft.sources.Sources.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n_events"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("stream-stream time-bound join == batch range join (sf0.001 events)") {
    val dir = "/root/testdata/sf0.001"
    def side(prefix: String, eventType: String) = {
      val raw = EventsStream.readEvents(spark, dir).filter(col("event_type") === eventType)
      raw.select(col("user_id").as(s"${prefix}_key"), col("ts").as(s"${prefix}_ts"),
        col("event_id").as(s"${prefix}_event_id"))
    }
    val joined = EventsStream.timeBoundJoin(
      side("l", "view"), side("r", "click"), withinSeconds = 3600, watermark = "2 hours")
      .select(col("l_event_id"), col("r_event_id"))
    val streamed = EventsStream.runToBatchAppend(spark, joined, "ssj_test")
    def bside(prefix: String, eventType: String) =
      graft.sources.Sources.events(spark, dir).filter(col("event_type") === eventType)
        .select(col("user_id").as(s"${prefix}_key"), col("ts").as(s"${prefix}_ts"),
          col("event_id").as(s"${prefix}_event_id"))
    val batch = bside("l", "view").join(bside("r", "click"),
      expr("l_key = r_key AND r_ts > l_ts AND r_ts <= l_ts + interval 3600 seconds"))
      .select(col("l_event_id"), col("r_event_id"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("left-outer time-bound join: NULL only after the match window closes under the watermark") {
    implicit val s = spark
    implicit val sc = s.sqlContext
    val hr = 3600L * 1000000
    val base = 1700000000L * 1000000
    val lmem = MemoryStream[Event] // (event_id, user_id, us)
    val rmem = MemoryStream[Event]
    // views: 10 matched; 20 unmatched+finalized; 30 matched (late, drives
    // the watermark); 40 unmatched, window still open at end -> withheld
    lmem.addData(Event(1, 10, base), Event(2, 20, base),
      Event(3, 30, base + 4 * hr), Event(4, 40, base + hr + hr / 2))
    rmem.addData(Event(101, 10, base + hr / 2), Event(103, 30, base + 4 * hr + hr / 2))
    def side(m: MemoryStream[Event], p: String) = m.toDS()
      .select(col("user_id").as(s"${p}_key"),
        org.apache.spark.sql.functions.timestamp_micros(col("us")).as(s"${p}_ts"),
        col("event_id").as(s"${p}_event_id"))
    val joined = EventsStream.timeBoundJoinOuter(side(lmem, "l"), side(rmem, "r"),
      withinSeconds = 3600, watermark = "2 hours")
      .select(col("l_event_id"), col("r_event_id"))
    val q = joined.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ssj_outer_test")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.table("ssj_outer_test").collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
    // watermark = min(base+4h, base+4.5h) - 2h = base+2h: view 20's window
    // (closes base+1h) finalized NULL; view 40's (closes base+2.5h) withheld
    assert(out === Map(1L -> Some(101L), 3L -> Some(103L), 2L -> None))
  }

  test("stateful sessionization splits on the 30-min gap") {
    implicit val s = spark
    implicit val sc = s.sqlContext
    val mem = MemoryStream[Event]
    val min = 60L * 1000000
    // modern base time: an event at epoch 0 sits exactly ON the initial
    // watermark and is discarded as late — an artifact no real feed has
    val base = 1700000000L * 1000000
    mem.addData(
      Event(1, 10, base), Event(2, 10, base + 5 * min),
      Event(3, 10, base + 50 * min), // gap after 5min
      Event(4, 20, base))
    val out = EventsStream.sessionize(mem.toDS())
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("sessions_test")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // only COMPLETED sessions are emitted (append mode): user 10's first
    // session closes via the in-stream gap; the open sessions at [50min]
    // and user 20 stay in state (the watermark has not passed their gap
    // horizon when the finite input ends)
    val rows = spark.table("sessions_test").as[SessionOut].collect()
    assert(rows.length === 1)
    assert(rows(0).user_id === 10L)
    assert(rows(0).n_events === 2L)
    assert(rows(0).duration_us === 5 * min)
  }

  test("sessionize places cross-batch LATE events like the batch sessionizer") {
    implicit val s = spark
    implicit val sc = s.sqlContext
    val mem = MemoryStream[Event]
    val min = 60L * 1000000
    val base = 1700000000L * 1000000
    val out = EventsStream.sessionize(mem.toDS()) // default 2h watermark
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("sessions_late_test").start()
    try {
      mem.addData(Event(1, 40, base + 200 * min))
      q.processAllAvailable() // watermark -> 80min; open session [200, 200]
      // both late, both above the watermark: 185min is within the 30-min gap
      // BEFORE the open session (must extend it backwards); 100min is 85min
      // before it (must become its own, already-complete session)
      mem.addData(Event(2, 40, base + 185 * min), Event(3, 40, base + 100 * min))
      q.processAllAvailable()
      // flush the open session via an unrelated user far in the future
      mem.addData(Event(9, 99, base + 20L * 60 * min))
      q.processAllAvailable()
      val rows = spark.table("sessions_late_test").as[SessionOut].collect()
        .filter(_.user_id == 40L).sortBy(_.session_start_us)
      assert(rows.length === 2, s"got: ${rows.toSeq}")
      assert(rows(0).session_start_us === base + 100 * min)
      assert(rows(0).n_events === 1L && rows(0).duration_us === 0L)
      assert(rows(1).session_start_us === base + 185 * min,
        "the in-gap late event must extend the session START backwards")
      assert(rows(1).n_events === 2L && rows(1).duration_us === 15 * min)
    } finally q.stop()
  }

  test("funnelStream == batch funnel under cross-batch out-of-order steps") {
    implicit val s = spark
    implicit val sc = s.sqlContext
    import EventsStream.FunnelProgress
    val min = 60L * 1000000
    val base = 1700000000L * 1000000
    val mem = MemoryStream[(Long, Long, String)] // (user_id, us, event_type)
    val stream = mem.toDF().toDF("user_id", "us", "event_type")
      .withColumn("ts", timestamp_micros($"us"))
    val results = scala.collection.concurrent.TrieMap[Long, Int]()
    val q = EventsStream.funnelStream(stream, Seq("view", "click", "purchase"))
      .writeStream.outputMode(OutputMode.Update())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[FunnelProgress], _: Long) =>
        b.collect().foreach(p => results(p.user_id) = p.reached); ()
      }
      .start()
    // u1's click+purchase arrive BEFORE its view (the view lands late in a
    // later batch) — a naive incremental fold locks u1 at 0 forever; the
    // buffer-until-watermark fold must recover the full progression.
    // u2 has a click at the SAME ts as its view: equal ts must not advance
    // (and the batch tie-break folds 'click' before 'view').
    val events = Seq(
      (1L, base + 20 * min, "click"), (1L, base + 30 * min, "purchase"),
      (2L, base + 10 * min, "view"), (2L, base + 10 * min, "click"),
      (3L, base + 5 * min, "browse"))
    try {
      mem.addData(events: _*)
      q.processAllAvailable()
      mem.addData((1L, base + 10 * min, "view")) // late, within the horizon
      q.processAllAvailable()
      // sentinel advances the watermark past every buffered step; the
      // timeout no-data batch then finalizes the folds
      mem.addData((99L, base + 20L * 60 * min, "browse"))
      q.processAllAvailable()
      // late BEYOND the horizon: this click would advance u2 to 2 if
      // folded, but its region is finalized — the watermark contract says
      // drop, and reached must not regress or jump
      mem.addData((2L, base + 11 * min, "click"))
      q.processAllAvailable()
    } finally q.stop()
    val all = events ++ Seq((1L, base + 10 * min, "view"),
      (99L, base + 20L * 60 * min, "browse"))
    val batch = graft.operators.EventAnalytics.funnel(
      all.toDF("user_id", "us", "event_type")
        .withColumn("ts", timestamp_micros($"us")),
      Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(results.toMap === batch)
    assert(batch === Map(1L -> 3, 2L -> 1, 3L -> 0, 99L -> 0))
  }

  test("register compaction lifecycle: k-bounded closed hour, checkpoint-resumed merge, cuts in envelope") {
    implicit val s = spark
    implicit val sc = s.sqlContext
    import graft.functions.QuantileSketch
    val wh = new graft.engine.Warehouse(
      Scratch.tempDir("graft_qsc").toString, spark)
    val hourA = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val hourB = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    def stream = mem.toDF().toDF("ts", "value")
    def ingest(): Unit = EventsStream.aggStream(stream, wh, "regs",
      Seq("hour_start", "qs_value"), Seq("qs_weight" -> "sum")) { batch =>
      batch.groupBy(date_trunc("hour", col("ts")).as("hour_start"),
        floor(col("value") * 100 + 0.5).cast("long").as("qs_value"))
        .agg(count(lit(1)).as("qs_weight"))
    }.awaitTermination()
    // phase 1: hour A holds cents 1..10 (one row each)
    mem.addData((1 to 10).map(i => (hourA, i / 100.0)): _*)
    ingest()
    assert(wh.read("regs").count() === 10L)
    // maintenance: W=10, k=2 -> stride ceil(10/2)=5, kept ranks 5 and 10
    // -> registers (5,5),(10,5) — the k+1 size bound with exact
    // telescoped weights
    EventsStream.compactRegisterTable(wh, "regs", Seq("hour_start"), k = 2)
    val a1 = wh.read("regs").collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(a1 === Map(5L -> 5L, 10L -> 5L))
    // phase 2 resumes the SAME checkpoint: only the new rows process, the
    // sum-combiner merge is a register bag union, and the compacted
    // closed hour is untouched (disjoint keys)
    mem.addData((1 to 4).map(i => (hourB, i / 100.0)): _*)
    ingest()
    val stored = wh.read("regs").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSet
    assert(stored === Set((hourA, 5L, 5L), (hourA, 10L, 5L),
      (hourB, 1L, 1L), (hourB, 2L, 1L), (hourB, 3L, 1L), (hourB, 4L, 1L)))
    // rank cuts across the compaction boundary: hour A's summary answers
    // the median EXACTLY (kept rank 5 == the target) and p900 at value 10
    // whose represented rank range [6, 10] covers target 9 — inside the
    // one-sided stride envelope s=5; hour B (never compacted) is exact
    val cuts = QuantileSketch.qsQuantile(wh.read("regs"),
      Seq("hour_start"), Seq(500, 900))
      .collect().map(r => (r.getTimestamp(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(cuts === Map((hourA, 500) -> 5L, (hourA, 900) -> 10L,
      (hourB, 500) -> 2L, (hourB, 900) -> 4L))
  }

  test("trendingStream materializes top-k per finalized window == batch rank") {
    implicit val s = spark
    implicit val sc = s.sqlContext
    val min = 60L * 1000000
    val base = 1700000000L * 1000000
    val wh = new graft.engine.Warehouse(
      Scratch.tempDir("graft_trend").toString, spark)
    val mem = MemoryStream[(Long, String)] // (us, event_type)
    def stream = mem.toDF().toDF("us", "event_type")
      .withColumn("ts", timestamp_micros($"us"))
    // two ingest runs (AvailableNow drains then stops), then a sentinel
    // run that advances the watermark past every real window
    val real = Seq(
      (base + 5 * min, "view"), (base + 10 * min, "view"), (base + 12 * min, "click"),
      (base + 15 * min, "view"), (base + 20 * min, "click"), (base + 40 * min, "scroll"),
      (base + 41 * min, "scroll"), (base + 42 * min, "scroll"), (base + 44 * min, "buy"))
    mem.addData(real.take(5): _*)
    EventsStream.trendingStream(stream, wh, "trending", k = 2).awaitTermination()
    mem.addData(real.drop(5): _*)
    EventsStream.trendingStream(stream, wh, "trending", k = 2).awaitTermination()
    mem.addData((base + 30L * 60 * min, "browse")) // watermark far ahead
    EventsStream.trendingStream(stream, wh, "trending", k = 2).awaitTermination()
    val got = wh.read("trending")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    // batch twin over the real events: same window/agg/rank recipe
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"win_start").orderBy($"n_events".desc, $"event_type".asc)
    val expected = real.toDF("us", "event_type")
      .withColumn("ts", timestamp_micros($"us"))
      .groupBy(window($"ts", "1 hour", "30 minutes"), $"event_type")
      .agg(count(lit(1)).as("n_events"))
      .select($"window.start".as("win_start"), $"event_type", $"n_events")
      .withColumn("__rn", row_number().over(w)).filter($"__rn" <= 2).drop("__rn")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(got === expected, s"got: $got")
    assert(got.nonEmpty)
  }

  test("burstAlertStream: finalized windows over threshold == batch twin, append-only") {
    implicit val s = spark
    implicit val sc = s.sqlContext
    val min = 60L * 1000000
    val base = 1700000000L * 1000000
    val wh = new graft.engine.Warehouse(
      Scratch.tempDir("graft_burst").toString, spark)
    val mem = MemoryStream[(Long, Long)] // (user_id, us)
    def stream = mem.toDF().toDF("user_id", "us")
      .withColumn("ts", timestamp_micros($"us"))
    val real = Seq( // user 1 bursts (3 in 20 min); user 2 is slow
      (1L, base + 5 * min), (1L, base + 15 * min), (1L, base + 25 * min),
      (2L, base + 5 * min), (2L, base + 200 * min))
    mem.addData(real.take(3): _*)
    EventsStream.burstAlertStream(stream, wh, "burst", threshold = 2L)
      .awaitTermination()
    mem.addData(real.drop(3): _*)
    EventsStream.burstAlertStream(stream, wh, "burst", threshold = 2L)
      .awaitTermination()
    mem.addData((9L, base + 3000 * min)) // sentinel: finalize everything
    EventsStream.burstAlertStream(stream, wh, "burst", threshold = 2L)
      .awaitTermination()
    val got = wh.read("burst")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSet
    val expected = (real :+ ((9L, base + 3000 * min))).toDF("user_id", "us")
      .withColumn("ts", timestamp_micros($"us"))
      .groupBy(window($"ts", "1 hour", "15 minutes"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .filter($"n_events" >= 2)
      // every real window is finalized by the sentinel; the sentinel's own
      // windows can never reach threshold 2
      .select($"window.start".as("win_start"), $"user_id", $"n_events")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected, s"got: $got")
    assert(got.nonEmpty)
    assert(got.forall(_._2 == 1L)) // only the bursting user alerts
  }

  test("eventsSchema falls back to the generator schema when no file exists yet") {
    val empty = Scratch.tempDir("graft_noevents").toString
    val st = EventsStream.eventsSchema(spark, empty)
    assert(st.fieldNames.toSeq ===
      Seq("event_id", "ts", "user_id", "event_type", "value", "props"))
    assert(st("ts").dataType === org.apache.spark.sql.types.TimestampType)
    // and a stream can START against the empty dir (empty-at-start ingest)
    val q = EventsStream.readEvents(spark, empty).writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("noevents_sink")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    assert(spark.table("noevents_sink").count() === 0)
  }

  test("append-mode eviction boundary: window.end == watermark IS finalized (q185 oracle pin)") {
    // The q185 oracle mirrors the watermark contract as `window end <=
    // max(ts) - delay`. No driver testdata generation has landed max(ts)
    // exactly on a half-hour boundary, so the <= vs < choice is untested
    // by data — this pins the engine's actual semantics: a sentinel whose
    // watermark equals a window end exactly must finalize that window.
    implicit val s = spark
    implicit val sc = s.sqlContext
    val hr = 3600L * 1000000
    val b0 = 1700000000L * 1000000 / (1800L * 1000000) * (1800L * 1000000)
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("us", "event_type")
      .withColumn("ts", timestamp_micros($"us"))
    val wh = new graft.engine.Warehouse(
      Scratch.tempDir("graft_bnd").toString, spark)
    mem.addData((b0 + 10, "a"))
    EventsStream.trendingStream(stream, wh, "bnd", 2).awaitTermination()
    // watermark after the sentinel = b0+3h - 2h = b0+1h == end of BOTH
    // windows holding 'a' ([b0-30m, b0+30m] ends earlier; [b0, b0+1h]
    // ends exactly at the watermark)
    mem.addData((b0 + 3 * hr, "z"))
    EventsStream.trendingStream(stream, wh, "bnd", 2).awaitTermination()
    val got = wh.read("bnd").collect()
      .map(r => (r.getTimestamp(0).getTime * 1000, r.getString(1))).toSet
    assert(got === Set((b0 - 1800L * 1000000, "a"), (b0, "a")),
      s"window.end == watermark must finalize (eviction is <=): $got")
  }

  test("funnelStream near the epoch: ts>0 late arrivals fold; ts<=0 is an ENGINE boundary") {
    implicit val s = spark
    implicit val sc = s.sqlContext
    import EventsStream.FunnelProgress
    val mem = MemoryStream[(Long, Long, String)]
    val stream = mem.toDF().toDF("user_id", "us", "event_type")
      .withColumn("ts", timestamp_micros($"us"))
    val results = scala.collection.concurrent.TrieMap[Long, Int]()
    val q = EventsStream.funnelStream(stream, Seq("view", "click"))
      .writeStream.outputMode(OutputMode.Update())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[FunnelProgress], _: Long) =>
        b.collect().foreach(p => results(p.user_id) = p.reached); ()
      }
      .start()
    try {
      // getCurrentWatermarkMs() == 0 before any watermark exists: the
      // horizon guard must not mark the ts<=0 region finalized, and a
      // late ts>0 arrival in the 0-watermark regime must still fold
      mem.addData((1L, 2000L, "click"), (2L, 0L, "view"))
      q.processAllAvailable()
      mem.addData((1L, 1000L, "view")) // late, watermark still unset
      q.processAllAvailable()
      mem.addData((99L, 20L * 3600 * 1000000, "browse")) // advance watermark
      q.processAllAvailable()
    } finally q.stop()
    assert(results(1L) === 2, results.toMap.toString)
    // DOCUMENTED engine boundary (not this operator's choice): Spark's own
    // late-record filter compares against the INITIAL watermark value 0,
    // so ts <= 0 events (u2's view) never reach any watermarked stateful
    // operator at all — verified via handler instrumentation; batch funnel
    // counts them, streams structurally cannot
    assert(!results.contains(2L), results.toMap.toString)
  }

  test("sessionize emits an idle user's session when the watermark passes the gap (timeout liveness)") {
    implicit val s = spark
    implicit val sc = s.sqlContext
    val mem = MemoryStream[Event]
    val min = 60L * 1000000
    val base = 1700000000L * 1000000
    val out = EventsStream.sessionize(mem.toDS(), watermarkDelay = "0 seconds")
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("sessions_timeout_test").start()
    try {
      mem.addData(Event(1, 30, base), Event(2, 30, base + 5 * min))
      q.processAllAvailable()
      // a LATER batch from an unrelated user advances the watermark past
      // user 30's gap horizon; the timeout must flush the idle session
      // even though user 30 never sends another event
      mem.addData(Event(9, 99, base + 10L * 60 * 60 * 1000000))
      q.processAllAvailable()
      val flushed = spark.table("sessions_timeout_test").as[SessionOut].collect()
        .filter(_.user_id == 30L)
      assert(flushed.length === 1, "idle user's session must flush on timeout")
      assert(flushed(0).n_events === 2L && flushed(0).duration_us === 5 * min)
    } finally q.stop()
  }

  test("streaming minhash dedup == batch minhashPairs (multi-batch ingest vs index)") {
    import graft.engine.Warehouse
    import graft.pipeline.{Dedup, IncrementalDedup}
    implicit val s = spark
    implicit val sc = s.sqlContext
    val root = Scratch.tempDir("graft_mh_stream").toString
    val wh = new Warehouse(root, spark)
    val mkText = (i: Long) => s"alpha beta gamma delta eps zeta token$i tail$i"
    // corpus 1..6; the stream delivers 101..104 in two triggers, with 102
    // duplicating corpus doc 2 and 104 duplicating streamed doc 101
    val corpus = (1L to 6L).map(i => (i, mkText(i))).toDF("doc_id", "text")
    try {
      IncrementalDedup.initRun(wh, "mhs_idx", corpus,
        n = 3, k = 8, bandSize = 2, threshold = 0.9, nBuckets = 4)
      // AvailableNow runs drain-then-terminate: two separate starts over
      // the SAME checkpoint model the production periodic-ingest shape
      // (and prove offset resume — run 2 must process only batch 2)
      val mem = MemoryStream[(Long, String)]
      def runOnce(): Unit = {
        val q = EventsStream.minhashDedupStream(
          mem.toDS().toDF("doc_id", "text"), wh, "mhs_idx", "mhs_pairs",
          n = 3, k = 8, bandSize = 2, threshold = 0.9, nBuckets = 4)
        try q.awaitTermination() finally q.stop()
      }
      mem.addData((101L, mkText(101)), (102L, mkText(2)))
      runOnce()
      mem.addData((103L, mkText(103)), (104L, mkText(101)))
      runOnce()
      val streamed = wh.read("mhs_pairs").select($"id_a", $"id_b")
        .as[(Long, Long)].collect().toSet
      // reference: the batch operator over corpus + everything streamed
      val all = corpus.unionByName(Seq((101L, mkText(101)), (102L, mkText(2)),
        (103L, mkText(103)), (104L, mkText(101))).toDF("doc_id", "text"))
      val batch = Dedup.minhashPairs(all, n = 3, k = 8, bandSize = 2, threshold = 0.9)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      // every batch pair with >= 1 streamed side must be found by the stream
      val streamedSide = batch.filter(p => p._1 > 100 || p._2 > 100)
      assert(streamed === streamedSide,
        s"stream found $streamed, batch reference says $streamedSide")
      assert(streamed.contains((2L, 102L)) && streamed.contains((101L, 104L)))
    } finally {
      Seq("mhs_idx_bands", "mhs_idx_sh", "mhs_pairs").foreach(wh.drop)
    }
  }

  test("streaming HLL registers == batch registers (sf0.001 events)") {
    import graft.functions.Sketches
    val dir = "/root/testdata/sf0.001"
    val streamed = EventsStream.runToBatch(spark,
      EventsStream.hourlyDistinctUsers(EventsStream.readEvents(spark, dir)), "hll_stream_test")
    val batchEvents = graft.sources.Sources.events(spark, dir)
      .withColumn("hour_start", date_trunc("hour", col("ts")))
    val batch = Sketches.hllRegisters(batchEvents, Seq("hour_start"), col("user_id"))
    // the register tables must agree EXACTLY — the sketch state a stream
    // maintains is the same mergeable relation the batch path derives
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    // sf0.001 has ~15 users — far below the raw estimator's validity range
    // (Sketches doc: use exact counting under ~3m), so assert DETERMINISM,
    // not accuracy: the streamed-register estimate must equal the
    // batch-register estimate bit-for-bit
    def estimate(regs: org.apache.spark.sql.DataFrame): Double = Sketches.hllEstimate(
      regs.groupBy("hll_bucket").agg(max("hll_rho").as("hll_rho")), Nil)
      .collect()(0).getDouble(0)
    assert(estimate(streamed) === estimate(batch))
  }

  test("streaming Count-Min registers == batch registers (sf0.001 events)") {
    import graft.functions.Sketches
    val dir = "/root/testdata/sf0.001"
    val streamed = EventsStream.runToBatch(spark,
      EventsStream.hourlyEventTypeFreq(EventsStream.readEvents(spark, dir)), "cm_stream_test")
    val batchEvents = graft.sources.Sources.events(spark, dir)
      .withColumn("hour_start", date_trunc("hour", col("ts")))
    val batch = Sketches.cmRegisters(batchEvents, Seq("hour_start"), col("event_type"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    // merged global lookup: estimate must never undercount the exact truth
    val merged = streamed.groupBy("cm_row", "cm_col")
      .agg(sum("cm_count").as("cm_count"))
    val types = batchEvents.select(col("event_type")).distinct()
    val est = Sketches.cmEstimate(merged, types, col("event_type"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = batchEvents.groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    truth.foreach { case (k, n) => assert(est(k) >= n, s"undercount for $k") }
  }

  test("streaming log2-histogram registers == batch registers (sf0.001 events)") {
    import graft.functions.Sketches
    val dir = "/root/testdata/sf0.001"
    val streamed = EventsStream.runToBatch(spark,
      EventsStream.hourlyValueHist(EventsStream.readEvents(spark, dir)), "hist_stream_test")
    val batchEvents = graft.sources.Sources.events(spark, dir)
      .withColumn("hour_start", date_trunc("hour", col("ts")))
    val batch = Sketches.histRegisters(batchEvents, Seq("hour_start"),
      floor(col("value") * 100 + 0.5).cast("long"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming quantile registers == batch registers; compress+cut ride on top (sf0.001)") {
    import graft.functions.QuantileSketch
    val dir = "/root/testdata/sf0.001"
    val streamed = EventsStream.runToBatch(spark,
      EventsStream.hourlyValueQuantileRegisters(EventsStream.readEvents(spark, dir)),
      "qs_stream_test")
    val batchEvents = graft.sources.Sources.events(spark, dir)
      .withColumn("hour_start", date_trunc("hour", col("ts")))
    val batch = QuantileSketch.qsRegisters(batchEvents, Seq("hour_start"),
      floor(col("value") * 100 + 0.5).cast("long"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    // the stream-maintained relation feeds the same compactor/cut path
    val cuts = QuantileSketch.qsQuantile(
      QuantileSketch.qsCompress(streamed, Seq("hour_start"), k = 16),
      Seq("hour_start"), Seq(500))
    assert(cuts.count() > 0)
  }

  test("streaming dedup drops repeated keys within the watermark horizon") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    mem.addData((1L, "first", ts(0)), (1L, "dup-same-batch", ts(1)),
      (2L, "first", ts(2)))
    val deduped = EventsStream.dedupStream(
      mem.toDF().toDF("k", "v", "ts"), Seq("k"), "ts", "1 hour")
    val cp = Scratch.tempDir("graft_dedup_cp").toString
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    def runOnce(): Unit = {
      // foreachBatch sink: supports checkpoint RECOVERY (memory sink does not)
      val q = deduped.writeStream.outputMode(OutputMode.Append)
        .option("checkpointLocation", cp)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => got.add(r.getLong(0) -> r.getString(1)))
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toMap === Map(1L -> "first", 2L -> "first"))
    // a restart from the SAME checkpoint carries the key state: the later
    // duplicate of key 1 is dropped, only the new key 3 appears
    got.clear()
    mem.addData((1L, "dup-later-batch", ts(3)), (3L, "first", ts(4)))
    runOnce()
    assert(got.asScala.toMap === Map(3L -> "first"))
  }

  test("streaming aggregate state stays current across micro-batches") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val wh = new graft.engine.Warehouse(
      Scratch.tempDir("graft_aggstream").toString, spark)
    val mem = MemoryStream[(String, Long)]
    val combiners = Seq("n" -> "sum", "total" -> "sum")
    def run() = {
      val q = EventsStream.aggStream(mem.toDF().toDF("k", "v"), wh, "agg",
        Seq("k"), combiners) { b =>
        b.groupBy($"k").agg(count(lit(1)).as("n"), sum($"v").as("total"))
      }
      q.awaitTermination()
    }
    mem.addData(("a", 10L), ("a", 20L), ("b", 5L))
    run()
    mem.addData(("a", 1L), ("c", 7L))
    run()
    val out = wh.read("agg").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out === Map("a" -> ((3L, 31L)), "b" -> ((1L, 5L)), "c" -> ((1L, 7L))))
    // drop kills the checkpoint with the table: a retained checkpoint
    // would claim every offset processed, so a rebuilt stream against the
    // recreated table would silently process nothing (a MemoryStream purges
    // committed entries so full replay can't be shown here; a file source
    // re-reads everything)
    val cp = java.nio.file.Paths.get(wh.root, "_checkpoints", "agg")
    assert(java.nio.file.Files.exists(cp), "checkpoint dir expected after runs")
    wh.drop("agg")
    assert(!java.nio.file.Files.exists(cp), "drop must delete the stream checkpoint")
    // a post-drop batch rebuilds the table from scratch (fresh checkpoint)
    mem.addData(("d", 2L))
    run()
    val rebuilt = wh.read("agg").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rebuilt("d") === ((1L, 2L)))
  }

  test("mgStream: certificate law survives batch boundaries; totals ride along; k-bounded state") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val wh = new graft.engine.Warehouse(
      Scratch.tempDir("graft_mgstream").toString, spark)
    val mem = MemoryStream[Long]
    def run() = EventsStream.mgStream(mem.toDF().toDF("hk"), wh,
      "hh", $"hk", 4).awaitTermination()
    // phase 1: key 7 hot (60 of 100), tail spread over 20 cold keys
    mem.addData((0L until 60L).map(_ => 7L) ++ (0L until 40L).map(_ % 20L): _*)
    run()
    // phase 2: a DIFFERENT batch boundary adds 30 more hot + 20 cold
    mem.addData((0L until 30L).map(_ => 7L) ++ (0L until 20L).map(_ % 10L + 100L): _*)
    run()
    val regs = wh.read("hh").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = wh.read("hh__n").head().getLong(0)
    assert(n === 150L, s"total must sum both batches, got $n")
    assert(regs.size <= 4, s"register bound violated: ${regs.size}")
    // the law, not the digits: stored counts are lower bounds, and every
    // key above the residual must be present — key 7 (true 90 of 150)
    // is certainly certified at the n/5 = 30 threshold under ANY tree
    val storedMass = regs.values.sum
    val residual = (n - storedMass) / 5L
    assert(regs.contains("7"), s"hot key missing: $regs")
    assert(regs("7") <= 90L && regs("7") >= 90L - residual,
      s"stored ${regs("7")} outside [${90L - residual}, 90]")
    assert(regs.filter(_._1 != "7").values.forall(_ < 30L),
      "a cold key crossed the certification threshold")
  }

  test("stream-static enrichment == batch join, left-NULL passthrough") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val dimDir = Scratch.tempDir("graft_dim").toString
    Seq(("click", "engage"), ("view", "passive")).toDF("event_type", "tier")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val mem = MemoryStream[(Long, String)]
    mem.addData((1L, "click"), (2L, "view"), (3L, "signup"))
    val enriched = EventsStream.enrichStream(
      mem.toDF().toDF("event_id", "event_type"), dim, Seq("event_type"))
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val q = enriched.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => got.add(
          r.getAs[Long]("event_id") -> r.getAs[String]("tier")))
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    // left join: unknown type flows through with NULL tier, not dropped,
    // and the values match the batch join exactly
    assert(got.asScala.toMap ===
      Map(1L -> "engage", 2L -> "passive", 3L -> null))
  }

  test("drift monitor: stream registers == batch registers; hand drift vectors") {
    val dir = "/root/testdata/sf0.001"
    val edges = Seq(1000L, 2000L, 3000L, 5000L, 8000L)
    // stream == batch on the registers (the maintained state)
    val streamed = EventsStream.runToBatch(spark,
      EventsStream.driftRegisters(EventsStream.readEvents(spark, dir), edges),
      "drift_regs_test")
    val cents = floor(col("value") * 100 + 0.5).cast("long")
    val bin = edges.foldLeft(lit(0)) { (acc, e) =>
      acc + when(cents > e, 1).otherwise(0) }
    val batch = graft.sources.Sources.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"), bin.as("bin"))
      .agg(count(lit(1)).as("n"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)

    // hand vector: one hour, all mass in bin 0 against a 20%-per-step
    // reference -> the largest gap is at bin 0: |1e6 - 200000| = 800000
    val h = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val ref = Seq(200000L, 400000L, 550000L, 700000L, 850000L, 1000000L)
    val allLow = Seq((h, 0, 10L)).toDF("hour_start", "bin", "n")
    val r1 = EventsStream.driftFromRegisters(allLow, ref).collect().head
    assert(r1.getLong(1) === 10L && r1.getLong(2) === 800000L)
    // perfectly on-reference counts -> d_ppm 0 (20 rows split 4/4/3/3/3/3)
    val onRef = Seq(4L, 4L, 3L, 3L, 3L, 3L).zipWithIndex
      .map { case (n, i) => (h, i, n) }.toDF("hour_start", "bin", "n")
    assert(EventsStream.driftFromRegisters(onRef, ref)
      .collect().head.getLong(2) === 0L)
    // a STARVED middle bin is drift even though it has no register row:
    // mass only in bins 0 and 5 (10/10) -> live cum sits at 500000 through
    // bins 0-4 while the reference ramps; the MAX gap lands at absent
    // bin 4 (|500000 - 850000| = 350000), exceeding present bin 0's 300000
    // — the exact case a sparse-register max would under-report
    val starved = Seq((h, 0, 10L), (h, 5, 10L)).toDF("hour_start", "bin", "n")
    assert(EventsStream.driftFromRegisters(starved, ref)
      .collect().head.getLong(2) === 350000L)
    intercept[IllegalArgumentException](
      EventsStream.driftFromRegisters(allLow, Seq(500000L, 900000L)))
    intercept[IllegalArgumentException](
      EventsStream.driftRegisters(
        EventsStream.readEvents(spark, dir), Seq(5L, 3L)))
  }

  test("joinStream: cross-batch view == batch join; batch-id ledger gates replays") {
    val s = spark
    implicit val sc = s.sqlContext
    val wh = new graft.engine.Warehouse(
      Scratch.tempDir("graft_jstream").toString, spark)
    val dim = Seq((1L, "a"), (2L, "b")).toDF("uid", "seg") // uid 3 absent
    wh.writeSwap("jdim", dim)
    val mem = MemoryStream[(Long, Long)]
    def ingest(): Unit = EventsStream.joinStream(
      mem.toDF().toDF("uid", "v"), wh, "jview", wh.read("jdim"),
      Seq("uid")).awaitTermination()
    mem.addData((1L, 10L), (3L, 99L)) // uid 3 drops (not in dim)
    ingest()
    assert(wh.read("jview").count() === 1)
    // second trigger resumes the same checkpoint: only new rows process
    mem.addData((2L, 20L), (1L, 30L))
    ingest()
    val batchTwin = Seq((1L, 10L), (3L, 99L), (2L, 20L), (1L, 30L))
      .toDF("uid", "v").join(dim, Seq("uid"))
    assert(wh.read("jview").exceptAll(batchTwin).count() === 0)
    assert(batchTwin.exceptAll(wh.read("jview")).count() === 0)
    // the ledger gates: force it PAST the next batch id — the arriving
    // batch reads as already-applied and must no-op (the crash-replay
    // path where the append and ledger landed but offsets didn't)
    wh.putMeta("jview__stream_batch", "999999")
    mem.addData((2L, 40L))
    ingest()
    assert(wh.read("jview").count() === 3) // unchanged
    // drop clears the ledger with the view (a recreated table must not
    // inherit "already applied")
    wh.drop("jview")
    assert(wh.getMeta("jview__stream_batch").isEmpty)
  }
}
