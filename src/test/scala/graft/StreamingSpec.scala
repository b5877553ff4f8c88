package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem,
  LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream,
  StreamingQueryWrapper}
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.ReactiveStreams
import graft.streaming.ReactiveStreams.Ev

/** Structured Streaming operators driven by MemoryStream; where a
  * batch twin exists the streaming result must agree with it. */
class StreamingSpec extends AnyFunSuite {
  import TestSession._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private val sample = Seq(
    Ev(0, ts(0), 1, "click", 10.0),
    Ev(1, ts(1), 1, "click", 11.0),
    Ev(2, ts(2), 1, "view", 12.0),
    Ev(3, ts(65), 1, "click", 13.0),   // > 1h gap => new throttle window
    Ev(4, ts(80), 1, "click", 14.0),
    Ev(5, ts(0), 2, "purchase", 20.0),
    Ev(6, ts(30), 2, "click", 21.0),
    Ev(7, ts(200), 2, "purchase", 22.0))

  /** Run a streaming transform over the sample and collect results. */
  private def run(f: DataFrame => DataFrame): Seq[org.apache.spark.sql.Row] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Ev]
    mem.addData(sample)
    val qName = s"out_${System.nanoTime()}"
    val q = f(mem.toDF()).writeStream
      .format("memory").queryName(qName).outputMode("append").start()
    try {
      q.processAllAvailable()
      // advance watermark past all events, then flush timed-out state
      mem.addData(Ev(99, ts(100000), 99, "tick", 0.0))
      q.processAllAvailable()
      spark.table(qName).collect().toSeq
    } finally q.stop()
  }

  test("streaming windowed agg matches batch window aggregation") {
    val got = run(df => ReactiveStreams.windowedAgg(df, "1 hour", "2 hours"))
      .filter(_.getAs[Long]("n") > 0)
      .map(r => (r.getAs[Timestamp]("win_start").getTime,
        r.getAs[String]("event_type"), r.getAs[Long]("n")))
      .toSet
    import spark.implicits._
    val batch = sample.toDF()
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start"), col("event_type"), col("n"))
      .collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2)))
      .toSet
    // the watermark tick row itself is excluded from comparison
    assert(batch.subsetOf(got))
  }

  test("streaming session windows equal the batch session_window " +
      "groupBy across a batch split") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Ev]
    val qName = s"sess_${System.nanoTime()}"
    val q = ReactiveStreams.sessionAgg(mem.toDF()).writeStream
      .format("memory").queryName(qName).outputMode("append").start()
    try {
      // user 1's session opened at minute 65 gains minute 80 in the
      // second batch
      mem.addData(sample.take(4)); q.processAllAvailable()
      mem.addData(sample.drop(4)); q.processAllAvailable()
      // the tick moves the watermark past every session; the batch
      // after it closes them
      mem.addData(Ev(99, ts(100000), 99, "tick", 0.0))
      q.processAllAvailable()
      mem.addData(Ev(100, ts(200000), 99, "tick", 0.0))
      q.processAllAvailable()
      def rows(df: DataFrame) = df.collect()
        .map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      val got = rows(spark.table(qName).filter(col("user_id") =!= 99L))
      val batch = rows(sample.toDF()
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))
        .select(col("session_window.start"), col("user_id"), col("n"),
          col("s")))
      assert(got === batch)
      assert(got.contains((ts(65).getTime, 1L, 2L, 27.0)),
        "the session split across batches must merge")
    } finally q.stop()
  }

  test("streaming distinctUntilChanged matches batch twin") {
    import spark.implicits._
    val got = run(df =>
        ReactiveStreams.distinctUntilChanged(spark, df).toDF())
      .map(_.getAs[Long]("event_id")).toSet - 99L
    val batch = graft.operators.Reactive
      .rxDistinctUntilChanged(sample.toDF())
      .collect().map(_.getAs[Long]("event_id")).toSet
    assert(got === batch)
  }

  test("streaming throttleFirst emits first event per hour window") {
    val got = run(df =>
        ReactiveStreams.throttleFirst(spark, df, 3600000L).toDF())
      .map(_.getAs[Long]("event_id")).toSet - 99L
    // user 1: ev0 opens window (0-60min) => ev3 at 65min opens next, ev4 suppressed
    // user 2: ev5 opens window, ev6 suppressed, ev7 at 200min opens next
    assert(got === Set(0L, 3L, 5L, 7L))
  }

  test("streaming debounce emits only events followed by silence") {
    val got = run(df =>
        ReactiveStreams.debounce(spark, df, 600000L).toDF())
      .map(_.getAs[Long]("event_id")).toSet - 99L
    // user 1: gaps after ev2 (63min) and ev3? ev4-ev3=15min>=10min => ev2, ev3, ev4(last, flushed by timeout)
    // user 2: ev5->ev6 30min => ev5; ev6->ev7 170min => ev6; ev7 last
    assert(got === Set(2L, 3L, 4L, 5L, 6L, 7L))
  }

  test("streaming scan accumulates per key like the batch twin") {
    import spark.implicits._
    val got = run(df => ReactiveStreams.scan(spark, df).toDF())
      .filter(_.getAs[Long]("user_id") != 99L)
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Double]("running_value")))
      .toMap
    assert(got(1L) === 21.0)
    assert(got(4L) === 60.0)
    assert(got(7L) === 63.0)
  }

  test("stream-stream join pairs purchases with clicks in the window") {
    val got = run(ReactiveStreams.streamStreamJoin)
      .map(r => (r.getAs[Long]("p_id"), r.getAs[Long]("c_id"))).toSet
    // user 2: purchase ev5 at 0min, click ev6 at 30min => within 30min window
    assert(got === Set((5L, 6L)))
  }

  test("watermark drops late data from finalized windows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Ev]
    val qName = s"late_${System.nanoTime()}"
    val q = ReactiveStreams.windowedAgg(mem.toDF(), "1 hour", "30 minutes")
      .writeStream.format("memory").queryName(qName)
      .outputMode("append").start()
    try {
      mem.addData(Ev(0, ts(10), 1, "click", 1.0)); q.processAllAvailable()
      // advance the watermark far past the first window...
      mem.addData(Ev(1, ts(600), 1, "click", 1.0)); q.processAllAvailable()
      // ...then send an event INTO the finalized first window: late,
      // must be dropped, and must not re-open the emitted window
      mem.addData(Ev(2, ts(20), 1, "click", 99.0)); q.processAllAvailable()
      mem.addData(Ev(3, ts(1200), 1, "click", 1.0)); q.processAllAvailable()
      val firstWindow = spark.table(qName)
        .filter(col("win_start") === ts(0)).collect()
      assert(firstWindow.length === 1)
      assert(firstWindow.head.getAs[Long]("n") === 1,
        "late event leaked into a finalized window")
    } finally q.stop()
  }

  test("streaming withLatestFrom enriches purchases with the latest click") {
    val got = run(df =>
        ReactiveStreams.withLatestFrom(spark, df).toDF())
      .filter(_.getAs[Long]("user_id") != 99L)
      .map(r => (r.getAs[Long]("event_id"),
        Option(r.getAs[Any]("asof_event_id")).map(_.asInstanceOf[Long])))
      .toSet
    // user 2: purchase ev5 precedes any click => None;
    //         purchase ev7 follows click ev6 => Some(6)
    assert(got === Set((5L, None), (7L, Some(6L))))
  }

  test("streaming running top-k converges to the batch top-k per key") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Ev]
    val qName = s"topk_${System.nanoTime()}"
    val q = ReactiveStreams.runningTopK(spark, mem.toDF(), k = 2).toDF()
      .writeStream.format("memory").queryName(qName)
      .outputMode("update").start()
    try {
      // two batches: the second displaces part of the first's top-k
      mem.addData(sample.take(4)); q.processAllAvailable()
      mem.addData(sample.drop(4)); q.processAllAvailable()
      // memory sink in update mode appends refreshed rows; the final
      // state per (user, rank) is the last row written
      val finalRows = spark.table(qName)
        .withColumn("seq", monotonically_increasing_id())
        .orderBy(col("seq").desc).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("rank")) ->
          r.getAs[Long]("event_id"))
        .distinct.groupBy(_._1).map { case (k2, v) => k2 -> v.head._2 }
      // user 1 values: 10,11,12,13,14 => top2 = ev4(14), ev3(13)
      assert(finalRows((1L, 1)) === 4L && finalRows((1L, 2)) === 3L)
      // user 2 values: 20,21,22 => top2 = ev7(22), ev6(21)
      assert(finalRows((2L, 1)) === 7L && finalRows((2L, 2)) === 6L)
    } finally q.stop()
  }

  test("streaming bufferCount emits full batches across micro-batch boundaries") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Ev]
    val qName = s"buf_${System.nanoTime()}"
    val q = ReactiveStreams.bufferCount(spark, mem.toDF(), n = 2).toDF()
      .writeStream.format("memory").queryName(qName)
      .outputMode("append").start()
    try {
      // user 1 events split 3 + 2 across micro-batches: the open
      // buffer {ev2} must carry over and close with ev3
      mem.addData(sample.take(3)); q.processAllAvailable()
      mem.addData(sample.slice(3, 5)); q.processAllAvailable()
      val got = spark.table(qName)
        .select("user_id", "batch_id", "first_event_id", "last_event_id")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got === Set((1L, 0L, 0L, 1L), (1L, 1L, 2L, 3L)))
    } finally q.stop()
  }

  test("streaming packing closes bins on overflow and carries the open bin across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, String, Long)]
    val qName = s"pack_${System.nanoTime()}"
    val q = ReactiveStreams.packStream(spark, mem.toDF()
        .toDF("doc_id", "source", "n_chars"), capacity = 100L)
      .toDF().writeStream.format("memory").queryName(qName)
      .outputMode("append").start()
    try {
      // batch 1: 60+30 fit bin 0; batch 2: 50 overflows -> bin 0
      // closes (90 chars, docs 1-2), 50+40 fill bin 1, 20 overflows
      // nothing (90+20>100 -> closes bin 1 with docs 3-4)
      mem.addData((1L, "s", 60L), (2L, "s", 30L)); q.processAllAvailable()
      mem.addData((3L, "s", 50L), (4L, "s", 40L), (5L, "s", 20L))
      q.processAllAvailable()
      val got = spark.table(qName)
        .select("bin_id", "n_docs", "bin_chars", "first_doc", "last_doc")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(got === Set((0L, 2, 90L, 1L, 2L), (1L, 2, 90L, 3L, 4L)))
    } finally q.stop()
  }

  test("streaming incremental dedup admits only fingerprints new to corpus and stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val corpus = Seq("alpha", "beta").toDF("text")
      .select(md5(lower(trim(col("text")))).as("content_hash"))
    val mem = MemoryStream[(Long, Timestamp, String)]
    mem.addData(
      (1L, ts(0), "alpha"),   // corpus dup -> dropped
      (2L, ts(1), "gamma"),   // new -> kept
      (3L, ts(2), "gamma"),   // stream-internal dup -> dropped
      (4L, ts(3), "Beta "),   // normalizes to corpus dup -> dropped
      (5L, ts(4), "delta"))   // new -> kept
    val qName = s"incdedup_${System.nanoTime()}"
    val q = ReactiveStreams.incrementalDedupStream(
        mem.toDF().toDF("doc_id", "ts", "text"), corpus)
      .writeStream.format("memory").queryName(qName)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table(qName).select("doc_id").collect()
        .map(_.getLong(0)).toSet
      assert(got === Set(2L, 5L))
    } finally q.stop()
  }

  test("streaming funnel advances stages across batch boundaries") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Ev]
    val qName = s"funnel_${System.nanoTime()}"
    val q = ReactiveStreams.funnelStream(spark, mem.toDF()).toDF()
      .writeStream.format("memory").queryName(qName)
      .outputMode("append").start()
    try {
      // batch 1: user 1 views (stage 1); the click at ev1 PRECEDES the
      // view so it must not advance stage 2
      mem.addData(Ev(1, ts(1), 1, "click", 1.0), Ev(2, ts(2), 1, "view", 1.0))
      q.processAllAvailable()
      // batch 2: click after the view -> stage 2, then purchase -> 3;
      // user 2 purchases without ever viewing -> no advance
      mem.addData(Ev(3, ts(3), 1, "click", 1.0),
        Ev(4, ts(4), 1, "purchase", 1.0), Ev(5, ts(5), 2, "purchase", 9.0))
      q.processAllAvailable()
      val got = spark.table(qName).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("stage"),
          r.getAs[Long]("event_id"))).toSet
      assert(got === Set((1L, 1, 2L), (1L, 2, 3L), (1L, 3, 4L)))
    } finally q.stop()
  }

  test("streaming EWMA matches the batch recurrence") {
    import spark.implicits._
    val got = run(df => ReactiveStreams.ewmaStream(spark, df).toDF())
      .filter(_.getAs[Long]("user_id") != 99L)
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("ewma"))
      .toMap
    val batch = graft.operators.Reactive.rxEwma(sample.toDF())
      .collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("ewma"))
      .toMap
    assert(got === batch)
  }

  test("streaming Bollinger verdicts equal the batch rolling-frame " +
      "rule across trigger splits") {
    import spark.implicits._
    val got = run(df => ReactiveStreams.bollingerStream(spark, df).toDF())
      .filter(_.getAs[Long]("user_id") != 99L)
      .map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[Long]("cents"), r.getAs[Long]("n_window"),
          r.getAs[String]("band"))))
      .toMap
    val batch = graft.operators.Reactive.rxBollinger(sample.toDF())
      .collect()
      .map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[Long]("cents"), r.getAs[Long]("n_window"),
          r.getAs[String]("band"))))
      .toMap
    assert(got === batch)
  }

  test("streaming running Theil-Sen: last emission per key equals " +
      "the batch estimator") {
    import spark.implicits._
    val rows = run(df => ReactiveStreams.theilSenStream(spark, df).toDF())
      .filter(_.getAs[Long]("user_id") != 99L)
    val last = rows.groupBy(_.getAs[Long]("user_id")).map {
      case (u, rs) =>
        val r = rs.maxBy(_.getAs[Long]("event_id"))
        u -> ((r.getAs[Long]("n_points"), r.getAs[Long]("n_pairs"),
          Option(r.getAs[java.lang.Double]("slope_median"))
            .map(_.doubleValue)))
    }
    val batch = graft.operators.Reactive.rxTheilSen(sample.toDF())
      .collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("n_points"), r.getAs[Long]("n_pairs"),
          Option(r.getAs[java.lang.Double]("slope_median"))
            .map(_.doubleValue))))
      .toMap
    assert(last === batch)
  }

  test("streaming running LIS: last emission per key equals the " +
      "batch patience fold") {
    import spark.implicits._
    val rows = run(df => ReactiveStreams.lisStream(spark, df).toDF())
      .filter(_.getAs[Long]("user_id") != 99L)
    val last = rows.groupBy(_.getAs[Long]("user_id")).map {
      case (u, rs) =>
        val r = rs.maxBy(_.getAs[Long]("event_id"))
        u -> ((r.getAs[Long]("n"), r.getAs[Long]("lis_len")))
    }
    val batch = graft.operators.Reactive.rxLis(sample.toDF())
      .collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("n"), r.getAs[Long]("lis_len"))))
      .toMap
    assert(last === batch)
  }

  test("streaming running Kendall tau: last emission per key equals " +
      "the capped batch op") {
    import spark.implicits._
    val rows = run(df => ReactiveStreams.kendallStream(spark, df).toDF())
      .filter(_.getAs[Long]("user_id") != 99L)
    val last = rows.groupBy(_.getAs[Long]("user_id")).map {
      case (u, rs) =>
        val r = rs.maxBy(_.getAs[Long]("event_id"))
        u -> ((r.getAs[Long]("n_points"), r.getAs[Long]("n_pairs"),
          r.getAs[Long]("n_concordant"), r.getAs[Long]("n_discordant"),
          r.getAs[Long]("tau_a_ppm")))
    }
    val batch = graft.operators.Reactive.rxKendallTau(sample.toDF())
      .collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("n_points"), r.getAs[Long]("n_pairs"),
          r.getAs[Long]("n_concordant"), r.getAs[Long]("n_discordant"),
          r.getAs[Long]("tau_a_ppm"))))
      .toMap
    assert(last === batch)
  }

  test("streaming running cadence: last emission per key equals the " +
      "batch CV2 verdict") {
    import spark.implicits._
    val rows = run(df => ReactiveStreams.cadenceStream(spark, df).toDF())
      .filter(_.getAs[Long]("user_id") != 99L)
    val last = rows.groupBy(_.getAs[Long]("user_id")).flatMap {
      case (u, rs) =>
        val r = rs.maxBy(_.getAs[Long]("event_id"))
        // batch emits only keys with >= 2 gaps; mirror that here
        Option(r.getAs[java.lang.Long]("cv2_ppm")).map(cv =>
          u -> ((r.getAs[Long]("n_gaps"), r.getAs[Long]("mean_gap_ms"),
            r.getAs[Long]("min_gap_ms"), r.getAs[Long]("max_gap_ms"),
            cv.longValue)))
    }.toMap
    val batch = graft.operators.Reactive.rxCadence(sample.toDF())
      .collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("n_gaps"), r.getAs[Long]("mean_gap_ms"),
          r.getAs[Long]("min_gap_ms"), r.getAs[Long]("max_gap_ms"),
          r.getAs[Long]("cv2_ppm"))))
      .toMap
    assert(last === batch)
  }

  test("streaming Holt matches the batch 2-term recurrence bit-for-bit") {
    import spark.implicits._
    val got = run(df => ReactiveStreams.holtStream(spark, df).toDF())
      .filter(_.getAs[Long]("user_id") != 99L)
      .map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[Double]("level"), r.getAs[Double]("trend"),
          r.getAs[Double]("forecast"))))
      .toMap
    val batch = graft.operators.Reactive.rxHolt(sample.toDF())
      .collect()
      .map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[Double]("level"), r.getAs[Double]("trend"),
          r.getAs[Double]("forecast"))))
      .toMap
    assert(got === batch)
  }

  test("chained streaming aggregation rolls hourly counts into 2h totals") {
    import spark.implicits._
    val got = run(df => ReactiveStreams.windowedRollup(df))
      .map(r => (r.getAs[Timestamp]("win_start").getTime,
        r.getAs[Long]("total"))).toMap
    val batch = sample.toDF()
      .groupBy(window(col("ts"), "2 hours"))
      .agg(count(lit(1)).as("total"))
      .select(col("window.start"), col("total"))
      .collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1))).toMap
    // every fully-closed batch window appears with the same total
    // (the watermark tick's own window may be absent)
    batch.foreach { case (w, n) =>
      assert(got.getOrElse(w, -1L) === n, s"window $w") }
  }

  test("withLatestFrom idle TTL evicts stale enrichment state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Ev]
    val qName = s"ttl_${System.nanoTime()}"
    val q = ReactiveStreams.withLatestFrom(spark,
        mem.toDF().withWatermark("ts", "0 seconds"),
        idleTtlMs = Some(10 * 60000L)).writeStream
      .format("memory").queryName(qName).outputMode("append").start()
    try {
      // user 1's click is the enrichment value; user 2 is the control
      // whose purchase arrives WITHIN the TTL
      mem.addData(Ev(0, ts(0), 1, "click", 7.0),
        Ev(1, ts(0), 2, "click", 9.0),
        Ev(2, ts(1), 2, "purchase", 20.0))
      q.processAllAvailable()
      // march the watermark past user 1's t0+10min deadline (takes
      // effect one batch after the data that moved it)
      mem.addData(Ev(90, ts(60), 99, "click", 0.0)); q.processAllAvailable()
      mem.addData(Ev(91, ts(61), 99, "click", 0.0)); q.processAllAvailable()
      // user 1's purchase arrives AFTER eviction: no enrichment
      mem.addData(Ev(5, ts(62), 1, "purchase", 10.0)); q.processAllAvailable()
      val got = spark.table(qName).collect()
        .map(r => r.getAs[Long]("event_id") ->
          Option(r.get(r.fieldIndex("asof_value")))
            .map(_.asInstanceOf[Double])).toMap
      assert(got(2L) === Some(9.0), "in-TTL enrichment must survive")
      assert(got(5L) === None, "post-TTL primary must see evicted state")
    } finally q.stop()
  }

  test("streaming timeout detect fires at the silence deadline, not before") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Ev]
    val qName = s"to_${System.nanoTime()}"
    // user 1: events at t0..t2 then silence; user 2: steady events
    // closer together than the gap, then silence after t30
    val q = ReactiveStreams.timeoutDetect(spark, mem.toDF(),
      gapMs = 20 * 60000L).writeStream
      .format("memory").queryName(qName).outputMode("append").start()
    try {
      mem.addData(sample.filter(_.user_id != 99L)); q.processAllAvailable()
      // push the watermark far past every deadline
      mem.addData(Ev(900, ts(100000), 99, "tick", 0.0)); q.processAllAvailable()
      mem.addData(Ev(901, ts(200000), 99, "tick", 0.0)); q.processAllAvailable()
      val got = spark.table(qName).collect()
        .filter(_.getAs[Long]("user_id") != 99L)
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("last_event_id")))
        .toSet
      // each real user times out exactly once, anchored at its LAST event
      assert(got === Set((1L, 4L), (2L, 7L)))
    } finally q.stop()
  }

  test("streaming combineLatest emits latest pairs once both sides seen") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val evs = Seq(
      Ev(0, ts(0), 1, "purchase", 10.0),  // no click yet -> no emit
      Ev(1, ts(1), 1, "click", 1.0),      // emit (p0, c1)
      Ev(2, ts(2), 1, "click", 2.0),      // emit (p0, c2)
      Ev(3, ts(3), 1, "purchase", 30.0))  // emit (p3, c2)
    val mem = MemoryStream[Ev]
    val qName = s"cl_${System.nanoTime()}"
    val q = ReactiveStreams.combineLatestStream(spark, mem.toDF()).writeStream
      .format("memory").queryName(qName).outputMode("append").start()
    try {
      mem.addData(evs.take(2)); q.processAllAvailable()
      mem.addData(evs.drop(2)); q.processAllAvailable()
      val got = spark.table(qName).collect()
        .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("a_event_id"),
          r.getAs[Long]("b_event_id"))).toSet
      assert(got === Set((1L, 0L, 1L), (2L, 0L, 2L), (3L, 3L, 2L)))
    } finally q.stop()
  }

  test("stream-stream RIGHT OUTER join emits unmatched clicks after watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Ev]
    val qName = s"rsj_${System.nanoTime()}"
    val q = ReactiveStreams.streamStreamRightJoin(mem.toDF()).writeStream
      .format("memory").queryName(qName).outputMode("append").start()
    try {
      mem.addData(sample); q.processAllAvailable()
      mem.addData(Ev(100, ts(100000), 99, "purchase", 0.0),
        Ev(101, ts(100000), 99, "click", 0.0)); q.processAllAvailable()
      mem.addData(Ev(102, ts(200000), 99, "purchase", 0.0),
        Ev(103, ts(200000), 99, "click", 0.0)); q.processAllAvailable()
      val got = spark.table(qName).collect()
        .filter(_.getAs[Long]("user_id") != 99L)
        .map(r => (Option(r.get(r.fieldIndex("p_id"))).map(_.asInstanceOf[Long]),
          r.getAs[Long]("c_id")))
        .toSet
      // click ev6 pairs with purchase ev5; user 1's clicks (0,1,3,4)
      // have no purchase at all and must emit null-paired — each
      // carrying its key via the coalesced user_id
      assert(got === Set((Some(5L), 6L), (None, 0L), (None, 1L),
        (None, 3L), (None, 4L)))
    } finally q.stop()
  }

  test("stream-stream FULL OUTER join emits both sides' unmatched rows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Ev]
    val qName = s"fsj_${System.nanoTime()}"
    val q = ReactiveStreams.streamStreamFullJoin(mem.toDF()).writeStream
      .format("memory").queryName(qName).outputMode("append").start()
    try {
      mem.addData(sample); q.processAllAvailable()
      mem.addData(Ev(100, ts(100000), 99, "purchase", 0.0),
        Ev(101, ts(100000), 99, "click", 0.0)); q.processAllAvailable()
      mem.addData(Ev(102, ts(200000), 99, "purchase", 0.0),
        Ev(103, ts(200000), 99, "click", 0.0)); q.processAllAvailable()
      val got = spark.table(qName).collect()
        .filter(_.getAs[Long]("user_id") != 99L)
        .map(r => (Option(r.get(r.fieldIndex("p_id"))).map(_.asInstanceOf[Long]),
          Option(r.get(r.fieldIndex("c_id"))).map(_.asInstanceOf[Long])))
        .toSet
      // matched (5,6); purchase 7 null-right; clicks 0,1,3,4 null-left
      assert(got === Set((Some(5L), Some(6L)), (Some(7L), None),
        (None, Some(0L)), (None, Some(1L)), (None, Some(3L)),
        (None, Some(4L))))
    } finally q.stop()
  }

  test("streaming retryWhen matches the batch twin across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // user 1: two retryable errors (budget 2) then a third -> terminal;
    // user 2: one retryable then a fatal (value >= 300) -> terminal
    val evs = Seq(
      Ev(0, ts(0), 1, "click", 10.0), Ev(1, ts(1), 1, "error", 100.0),
      Ev(2, ts(2), 1, "click", 11.0), Ev(3, ts(3), 1, "error", 200.0),
      Ev(4, ts(4), 1, "error", 250.0), Ev(5, ts(5), 1, "click", 12.0),
      Ev(6, ts(0), 2, "click", 20.0), Ev(7, ts(1), 2, "error", 50.0),
      Ev(8, ts(2), 2, "error", 400.0), Ev(9, ts(3), 2, "click", 21.0))
    val mem = MemoryStream[Ev]
    val qName = s"rw_${System.nanoTime()}"
    val q = ReactiveStreams.retryWhenStream(spark, mem.toDF()).writeStream
      .format("memory").queryName(qName).outputMode("append").start()
    try {
      // split across two triggers in event_id order (the documented
      // cross-trigger ordering contract)
      mem.addData(evs.filter(_.event_id < 4)); q.processAllAvailable()
      mem.addData(evs.filter(_.event_id >= 4)); q.processAllAvailable()
      val got = spark.table(qName)
        .select("event_id", "n_retried", "terminal").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      val batch = graft.operators.Reactive.rxRetryWhen(evs.toDF())
        .select("event_id", "n_retried", "terminal").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(got === batch)
      // terminal rows present, post-terminal rows absent
      assert(got.exists { case (id, _, t) => id == 4L && t })
      assert(got.exists { case (id, _, t) => id == 8L && t })
      assert(!got.exists { case (id, _, _) => id == 5L || id == 9L })
    } finally q.stop()
  }

  test("streaming window(count, skip) matches the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val evs = (0 until 9).map(i => Ev(i, ts(i), 1, "click", i * 1.0))
    val mem = MemoryStream[Ev]
    val qName = s"wcs_${System.nanoTime()}"
    val q = ReactiveStreams.windowCountSkipStream(spark, mem.toDF(),
      n = 4, skip = 2).writeStream
      .format("memory").queryName(qName).outputMode("append").start()
    try {
      mem.addData(evs.take(5)); q.processAllAvailable()
      mem.addData(evs.drop(5)); q.processAllAvailable()
      val got = spark.table(qName)
        .select("window_id", "pos_in_window", "event_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = graft.operators.Reactive
        .rxWindowCountSkip(evs.toDF(), n = 4, skip = 2)
        .select("window_id", "pos_in_window", "event_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === batch)
      // overlap: element at pos 2 belongs to windows 0 and 1
      assert(got.contains((0L, 2L, 2L)) && got.contains((1L, 0L, 2L)))
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join emits unmatched purchases after watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Ev]
    val qName = s"lsj_${System.nanoTime()}"
    val q = ReactiveStreams.streamStreamLeftJoin(mem.toDF()).writeStream
      .format("memory").queryName(qName).outputMode("append").start()
    try {
      mem.addData(sample); q.processAllAvailable()
      // advance BOTH sides' watermarks (the join holds the min of the
      // two), twice: the new watermark takes effect one batch after
      // the data that moved it, and eviction emits in that batch
      mem.addData(Ev(100, ts(100000), 99, "purchase", 0.0),
        Ev(101, ts(100000), 99, "click", 0.0)); q.processAllAvailable()
      mem.addData(Ev(102, ts(200000), 99, "purchase", 0.0),
        Ev(103, ts(200000), 99, "click", 0.0)); q.processAllAvailable()
      val got = spark.table(qName).collect()
        .filter(_.getAs[Long]("user_id") != 99L)
        .map(r => (r.getAs[Long]("p_id"),
          Option(r.get(r.fieldIndex("c_id"))).map(_.asInstanceOf[Long])))
        .toSet
      // purchase ev5 pairs with click ev6 (30 min apart); purchase
      // ev7 has no click within +-30 min and must still emit, null-paired
      assert(got === Set((5L, Some(6L)), (7L, None)))
    } finally q.stop()
  }

  test("streaming islands emits closed runs matching the batch twin across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Ev]
    val qName = s"isl_${System.nanoTime()}"
    val q = ReactiveStreams.islandsStream(spark, mem.toDF()).toDF()
      .writeStream.format("memory").queryName(qName)
      .outputMode("append").start()
    try {
      // split MID-island: user 1's click-click|view-click run crosses
      // the trigger boundary
      mem.addData(sample.take(2)); q.processAllAvailable()
      mem.addData(sample.drop(2)); q.processAllAvailable()
      val got = spark.table(qName).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("island_id"),
          r.getAs[String]("event_type"), r.getAs[Long]("n_events"),
          r.getAs[Long]("first_event_id"), r.getAs[Long]("last_event_id")))
        .toSet
      // batch twin over the same events, minus each user's OPEN tail
      // island (streaming emits only closed runs)
      val batch = graft.operators.Reactive.rxIslands(sample.toDF())
      val tails = batch.groupBy("user_id")
        .agg(max("island_id").as("island_id"))
      val closed = batch.join(tails,
          Seq("user_id", "island_id"), "left_anti")
        .collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("island_id"),
          r.getAs[String]("event_type"), r.getAs[Long]("n_events"),
          r.getAs[Long]("first_event_id"), r.getAs[Long]("last_event_id")))
        .toSet
      assert(got === closed)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streaming kmv estimate equals the batch sketch over the same values") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Ev]
    val qName = s"kmv_${System.nanoTime()}"
    // 40 distinct values for one user, k=16: estimator branch, split
    // across two triggers to force state merge through Array[Long]
    val evs = (1 to 40).map(i =>
      Ev(i.toLong, ts(i), 1L, "click", i * 1.5))
    val q = ReactiveStreams.kmvDistinctStream(spark, mem.toDF(), k = 16)
      .toDF().writeStream.format("memory").queryName(qName)
      .outputMode("update").start()
    try {
      mem.addData(evs.take(25)); q.processAllAvailable()
      mem.addData(evs.drop(25)); q.processAllAvailable()
      val last = spark.table(qName)
        .withColumn("seq", monotonically_increasing_id())
        .orderBy(col("seq").desc).collect()
        .find(_.getAs[Long]("user_id") == 1L).get.getAs[Long]("n_est")
      val ref = new graft.functions.KmvState(16)
      evs.foreach(e => ref.insert(
        graft.functions.Kernels.md5Prefix60(e.value.toString)))
      val expected =
        (BigInt(15) * (BigInt(1) << 60) / BigInt(ref.set.last())).toLong
      assert(last === expected)
    } finally q.stop()
  }

  test("streaming quantile sketch equals the batch sketch over the same docs") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, String, Long)]
    val qName = s"qsk_${System.nanoTime()}"
    // 40 docs across 2 sources, k=8 < per-source count so the
    // bottom-k sample actually evicts; split across two triggers to
    // force the state merge path
    val rows = (1 to 40).map(i =>
      (i.toLong, if (i % 2 == 0) "s1" else "s2", (i * 7 % 23).toLong))
    val q = ReactiveStreams.quantileSketchStream(spark,
        mem.toDF().toDF("doc_id", "source", "n_chars"), k = 8)
      .toDF().writeStream.format("memory").queryName(qName)
      .outputMode("update").start()
    try {
      mem.addData(rows.take(25)); q.processAllAvailable()
      mem.addData(rows.drop(25)); q.processAllAvailable()
      val streamed = spark.table(qName)
        .withColumn("seq", monotonically_increasing_id())
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("source").orderBy(col("seq").desc)))
        .filter(col("rn") === 1)
        .select("source", "sample_m", "est_p50", "est_p90", "est_p99")
      val batch = graft.operators.Sketches.quantileSketch(
        rows.toDF("doc_id", "source", "n_chars"), k = 8)
      assert(streamed.exceptAll(batch).isEmpty &&
        batch.exceptAll(streamed).isEmpty,
        s"stream=${streamed.collect().mkString} batch=${batch.collect().mkString}")
    } finally q.stop()
  }

  test("streaming CMS cells equal the batch build over the same documents") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, String, String, String, Long)]
    val qName = s"cms_${System.nanoTime()}"
    val rows = Seq(
      (1L, "hot hot hot hot cold warm", "en", "s1", 26L),
      (2L, "hot hot mild cold", "en", "s1", 17L),
      (3L, "hot warm mild", "en", "s1", 13L))
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val q = graft.operators.Sketches
      .cmsCellsStream(mem.toDF().toDF(cols: _*))
      .writeStream.format("memory").queryName(qName)
      .outputMode("complete").start()
    try {
      // split across triggers so the counters accumulate, not reset
      mem.addData(rows.take(2)); q.processAllAvailable()
      mem.addData(rows.drop(2)); q.processAllAvailable()
      val streamed = spark.table(qName).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val batch = graft.operators.Sketches
        .cmsCellsStream(rows.toDF(cols: _*)) // same plan, bounded input
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(streamed === batch)
      // every depth's row of counters absorbs each token exactly once
      val perDepth = streamed.groupBy(_._1._1).map { case (d, m) =>
        d -> m.values.sum }
      assert(perDepth === Map(0L -> 13L, 1L -> 13L, 2L -> 13L, 3L -> 13L))
    } finally q.stop()
  }

  test("streaming resample: ticks finalize at the watermark and match the batch fill") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def dayTs(day: Int, hour: Int): Timestamp =
      Timestamp.valueOf(f"2024-01-${day + 1}%02d $hour%02d:00:00")
    val mem = MemoryStream[Ev]
    val qName = s"resample_${System.nanoTime()}"
    // 2-day watermark: the day-3 event arrives AFTER the day-4 event
    // (out of order, within the lag) and must still feed day-4's tick
    val t1 = Seq(Ev(1L, dayTs(0, 10), 1L, "m", 1.0),
                 Ev(2L, dayTs(4, 9), 1L, "m", 9.0))
    val t2 = Seq(Ev(3L, dayTs(3, 6), 1L, "m", 5.0))
    val t3 = Seq(Ev(4L, dayTs(6, 1), 1L, "m", 7.0))
    val q = ReactiveStreams
      .resampleStream(spark, mem.toDF(), watermark = "2 days")
      .toDF().writeStream.format("memory").queryName(qName)
      .outputMode("append").start()
    try {
      mem.addData(t1); q.processAllAvailable()
      mem.addData(t2); q.processAllAvailable()
      mem.addData(t3); q.processAllAvailable()
      val streamed = spark.table(qName).collect()
        .map(r => (r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
      // watermark is day6 01:00 - 2d => ticks day0..day4 are final
      val dayMs = 86400000L
      def d(i: Int) = Timestamp.valueOf(f"2024-01-${i + 1}%02d 00:00:00")
        .getTime - 0L
      assert(streamed.keySet === (0 to 4).map(d).toSet)
      // and the values equal the batch twin's fill on the same events
      val batch = graft.operators.Reactive
        .rxResample((t1 ++ t2 ++ t3)
          .toDF("event_id", "ts", "user_id", "event_type", "value"))
        .collect()
        .map(r => (r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
      for (i <- 0 to 4)
        assert(streamed(d(i)) === batch(d(i)),
          s"tick day$i diverged from batch")
      // the out-of-order day-3 event fed day-4's tick
      assert(streamed(d(4)) === Some(5.0))
    } finally q.stop()
  }

  test("streaming resample: an idle key's pending ticks fire on another key's watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def dayTs(day: Int, hour: Int): Timestamp =
      Timestamp.valueOf(f"2024-01-${day + 1}%02d $hour%02d:00:00")
    val mem = MemoryStream[Ev]
    val qName = s"resample_timer_${System.nanoTime()}"
    val q = ReactiveStreams
      .resampleStream(spark, mem.toDF(), watermark = "0 seconds")
      .toDF().writeStream.format("memory").queryName(qName)
      .outputMode("append").start()
    try {
      // key 1: events on day0 and day2 — with wm at day2 08:00 its
      // day-2 tick is final but nothing has emitted it yet when the
      // trigger ends (wm advances AFTER the batch that carried the
      // events); the EventTimeTimeout timer must fire it
      mem.addData(Seq(Ev(1L, dayTs(0, 10), 1L, "m", 1.0),
        Ev(2L, dayTs(2, 8), 1L, "m", 3.0)))
      q.processAllAvailable()
      // key 9 alone advances the global watermark; key 1 gets NO new
      // rows — only its timer can produce the remaining ticks
      mem.addData(Seq(Ev(3L, dayTs(9, 1), 9L, "m", 0.0)))
      q.processAllAvailable()
      val k1 = spark.table(qName).collect()
        .filter(_.getLong(0) == 1L)
        .map(r => (r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
      def d(i: Int) =
        Timestamp.valueOf(f"2024-01-${i + 1}%02d 00:00:00").getTime
      assert(k1 === Map(
        d(0) -> None,        // tick before the first event
        d(1) -> Some(1.0),   // forward-fill from day0
        d(2) -> Some(1.0)))  // day-2 event is at 08:00 > the tick
    } finally q.stop()
  }

  test("streaming interp resample: emitted ticks equal the batch interpolation") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def dayTs(day: Int, hour: Int): Timestamp =
      Timestamp.valueOf(f"2024-01-${day + 1}%02d $hour%02d:00:00")
    val mem = MemoryStream[Ev]
    val qName = s"interp_${System.nanoTime()}"
    val t1 = Seq(Ev(1L, dayTs(0, 10), 1L, "m", 10.0),
                 Ev(2L, dayTs(4, 9), 1L, "m", 90.0))
    val t2 = Seq(Ev(3L, dayTs(3, 6), 1L, "m", 50.0)) // out-of-order
    val t3 = Seq(Ev(4L, dayTs(6, 1), 1L, "m", 70.0))
    val q = ReactiveStreams
      .resampleInterpStream(spark, mem.toDF(), watermark = "2 days")
      .toDF().writeStream.format("memory").queryName(qName)
      .outputMode("append").start()
    try {
      mem.addData(t1); q.processAllAvailable()
      mem.addData(t2); q.processAllAvailable()
      mem.addData(t3); q.processAllAvailable()
      val streamed = spark.table(qName).collect()
        .map(r => r.getLong(1) -> r.getDouble(2)).toMap
      def d(i: Int) =
        Timestamp.valueOf(f"2024-01-${i + 1}%02d 00:00:00").getTime
      // wm = day6 01:00 - 2d = day4 01:00: day-4's right endpoint
      // (day4 09:00) is past the watermark, so day4 pends; day0
      // (head back-fill) .. day3 are final
      assert(streamed.keySet === (0 to 3).map(d).toSet)
      val batch = graft.operators.Reactive
        .rxResampleInterp((t1 ++ t2 ++ t3)
          .toDF("event_id", "ts", "user_id", "event_type", "value"))
        .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
      for (i <- 0 to 3)
        assert(streamed(d(i)) === batch(d(i)),
          s"tick day$i diverged from batch interp")
      // day1..day3 interpolate across the out-of-order day-3 event's
      // segment [day0 10:00 -> day3 06:00]
      assert(streamed(d(0)) === 10.0) // head back-fill from first event
    } finally q.stop()
  }

  test("streaming capped sessionization matches the batch twin's grouping") {
    import spark.implicits._
    // gap 30 min, cap 120 min: user 1 splits by cap at t=145min
    // (29-min steps, no gap split); user 2 splits by gap at 31 min
    val evs = Seq(
      Ev(1, ts(0), 1, "m", 0), Ev(2, ts(29), 1, "m", 0),
      Ev(3, ts(58), 1, "m", 0), Ev(4, ts(87), 1, "m", 0),
      Ev(5, ts(116), 1, "m", 0), Ev(6, ts(145), 1, "m", 0),
      Ev(10, ts(0), 2, "m", 0), Ev(11, ts(31), 2, "m", 0))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(evs)
    val qName = s"sess_${System.nanoTime()}"
    val q = ReactiveStreams.sessionCappedStream(spark, mem.toDF(),
        gapMs = 30 * 60000L, capMs = 120 * 60000L)
      .toDF().writeStream.format("memory").queryName(qName)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table(qName).collect()
        .map(r => (r.getLong(1), r.getLong(3))).toMap
      // batch twin emits session counters; its per-session start ms
      // must equal the stream's session identity
      val batch = graft.operators.Reactive.rxSessionCapped(
          evs.toDF("event_id", "ts", "user_id", "event_type", "value"),
          gapMs = 30 * 60000L, capMs = 120 * 60000L)
        .withColumn("ss", min("ts_ms").over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("user_id", "session_id")))
        .collect().map(r => (r.getLong(1), r.getLong(4))).toMap
      assert(streamed === batch)
    } finally q.stop()
  }

  test("streaming capped sessionization continues sessions across triggers " +
      "and evicted keys reopen cleanly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val qName = s"sess2_${System.nanoTime()}"
    val q = ReactiveStreams.sessionCappedStream(spark, mem.toDF(),
        gapMs = 30 * 60000L, capMs = 120 * 60000L)
      .toDF().writeStream.format("memory").queryName(qName)
      .outputMode("append").start()
    try {
      mem.addData(Seq(Ev(1, ts(0), 1, "m", 0)))
      q.processAllAvailable()
      // same session across the trigger boundary (20 < 30 min gap)
      mem.addData(Seq(Ev(2, ts(20), 1, "m", 0)))
      q.processAllAvailable()
      // push the watermark far past prev_t + gap => state evicts;
      // the next event must open a session at its own timestamp
      mem.addData(Seq(Ev(90, ts(5000), 99, "wm", 0)))
      q.processAllAvailable()
      mem.addData(Seq(Ev(3, ts(6000), 1, "m", 0)))
      q.processAllAvailable()
      val rows = spark.table(qName).collect()
        .filter(_.getLong(0) == 1L)
        .map(r => (r.getLong(1), r.getLong(3))).toMap
      assert(rows(1L) === rows(2L), "cross-trigger continuation broke")
      assert(rows(3L) === ts(6000).getTime, "post-eviction reopen broke")
    } finally q.stop()
  }

  test("streaming rate limiter matches the batch twin across triggers; " +
      "eviction equals a saturated bucket") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val qName = s"rate_${System.nanoTime()}"
    val q = ReactiveStreams.rateLimitStream(spark, mem.toDF())
      .toDF().writeStream.format("memory").queryName(qName)
      .outputMode("append").start()
    // burst of 4 within a minute: 3 admitted, 4th rejected — split
    // across two triggers so the recurrence crosses a batch boundary
    val t1 = Seq(Ev(1, ts(0), 1, "m", 0), Ev(2, ts(1), 1, "m", 0))
    val t2 = Seq(Ev(3, ts(2), 1, "m", 0), Ev(4, ts(3), 1, "m", 0))
    try {
      mem.addData(t1); q.processAllAvailable()
      mem.addData(t2); q.processAllAvailable()
      // push the watermark past the refill horizon => state evicts;
      // the next event must see a FULL bucket (fresh-state identity)
      mem.addData(Seq(Ev(90, ts(60000), 99, "wm", 0)))
      q.processAllAvailable()
      mem.addData(Seq(Ev(5, ts(70000), 1, "m", 0)))
      q.processAllAvailable()
      val streamed = spark.table(qName).collect()
        .filter(_.getLong(0) == 1L)
        .map(r => (r.getLong(1), r.getBoolean(3), r.getLong(4))).toSet
      val batch = graft.operators.Reactive.rxRateLimit(
          (t1 ++ t2 ++ Seq(Ev(5, ts(70000), 1, "m", 0)))
            .toDF("event_id", "ts", "user_id", "event_type", "value"))
        .collect()
        .map(r => (r.getLong(1), r.getBoolean(3), r.getLong(4))).toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("streaming SLO burn alerts exactly the windows the batch trailing frame flags") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val min = 60000L
    val evs = (1 to 3).map(i =>
      Ev(i.toLong, new java.sql.Timestamp(i.toLong), 1L, "error", 0.0)) ++
      (4 to 10).map(i =>
        Ev(i.toLong, new java.sql.Timestamp(min + i), 1L, "click", 0.0))
    val mem = MemoryStream[Ev]
    val qName = s"slo_${System.nanoTime()}"
    val q = ReactiveStreams.sloBurnStream(mem.toDF())
      .writeStream.format("memory").queryName(qName)
      .outputMode("append").start()
    try {
      mem.addData(evs)
      // watermark-advancing straggler 4 hours later closes everything
      mem.addData(Ev(99L, new java.sql.Timestamp(4 * 3600000L), 9L,
        "click", 0.0))
      q.processAllAvailable(); mem.addData(); q.processAllAvailable()
      val streamed = spark.table(qName).collect()
        .map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2),
          r.getLong(3)))
      // only the window ending at minute 1 (covering minute 0 alone:
      // 3/3 errors) alerts; every window also covering minute 1 sits
      // exactly AT the 300000 ppm SLO and must not fire — same strict
      // verdict as the batch twin's minute-0 row
      assert(streamed.toSeq === Seq((min, 3L, 3L, 1000000L)))
      val batch = graft.operators.Reactive.rxSloBurn(evs.toDF()).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(batch.toSeq === Seq((0L, 3L, 3L, 1000000L)))
    } finally q.stop()
  }

  test("streaming dwell equals the batch time-in-state across batch splits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Ev]
    val qName = s"dwell_${System.nanoTime()}"
    val q = ReactiveStreams.dwellStream(spark, mem.toDF())
      .writeStream.format("memory").queryName(qName)
      .outputMode("complete").start()
    try {
      // the dwell between events 2 and 3 crosses the trigger split
      mem.addData(sample.take(3)); q.processAllAvailable()
      mem.addData(sample.drop(3)); q.processAllAvailable()
      val streamed = spark.table(qName).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))).toMap
      val batch = graft.operators.Reactive.rxStateDwell(sample.toDF())
        .collect().map(r => r.getString(0) -> ((r.getLong(1),
          r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      assert(streamed === batch)
    } finally q.stop()
  }

  test("streaming TWAP equals the batch time-weighted average across batch splits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Ev]
    val qName = s"twap_${System.nanoTime()}"
    val q = ReactiveStreams.twapStream(spark, mem.toDF())
      .writeStream.format("memory").queryName(qName)
      .outputMode("complete").start()
    try {
      // the segment between events 2 and 3 crosses the trigger split
      mem.addData(sample.take(3)); q.processAllAvailable()
      mem.addData(sample.drop(3)); q.processAllAvailable()
      val streamed = spark.table(qName).collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
          r.getDouble(3)))).toMap
      graft.operators.Reactive.rxTwap(sample.toDF()).collect().foreach { r =>
        val (n, span, tw) = streamed(r.getLong(0))
        assert(n === r.getLong(1) && span === r.getLong(2))
        assert(math.abs(tw - r.getDouble(3)) < 1e-9)
      }
    } finally q.stop()
  }

  test("streaming transition counts equal the batch Markov matrix across batch splits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Ev]
    val qName = s"trans_${System.nanoTime()}"
    val q = ReactiveStreams.transitionsStream(spark, mem.toDF())
      .writeStream.format("memory").queryName(qName)
      .outputMode("complete").start()
    try {
      // split mid-stream: the A→B pair for user 1 crosses the
      // trigger boundary, so it must come from carried state
      mem.addData(sample.take(3)); q.processAllAvailable()
      mem.addData(sample.drop(3)); q.processAllAvailable()
      val streamed = spark.table(qName).collect()
        .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
      val batch = graft.operators.Reactive.rxTransitions(sample.toDF())
        .collect()
        .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
      assert(streamed === batch)
    } finally q.stop()
  }

  test("streaming CUSUM matches the batch drawdown identity across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val evs = (0 until 30).map(i =>
      Ev(i, ts(i), i % 2, "m", (i * 53 % 200 + (if (i % 5 == 0) 400 else 0)) * 1.0))
    val refCents = 10000L // fixed 100.00 baseline
    val mem = MemoryStream[Ev]
    val qName = s"cusum_${System.nanoTime()}"
    val q = ReactiveStreams.cusumStream(spark, mem.toDF(), refCents,
        alarmCents = 30000L).writeStream
      .format("memory").queryName(qName).outputMode("append").start()
    try {
      mem.addData(evs.filter(_.event_id < 11)); q.processAllAvailable()
      mem.addData(evs.filter(e => e.event_id >= 11 && e.event_id < 23))
      q.processAllAvailable()
      mem.addData(evs.filter(_.event_id >= 23)); q.processAllAvailable()
      val streamed = spark.table(qName)
        .select("event_id", "cusum_cents", "alarm").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      val batch = graft.operators.Reactive
        .rxCusum(evs.toDF(), alarmCents = 30000L, refCents = Some(refCents))
        .select("event_id", "cusum_cents", "alarm").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(streamed === batch)
      assert(streamed.exists(_._3), "constructed series must trip an alarm")
    } finally q.stop()
  }

  test("streaming drawdown equals the batch rollup across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // peaks and recoveries per key; the user-0 peak lands in batch 1
    // and its worst trough in batch 3 — the dd must come from state
    val evs = (0 until 24).map(i =>
      Ev(i, ts(i), i % 2, "m", ((i * 37) % 150 + 10) * 1.0))
    val mem = MemoryStream[Ev]
    val qName = s"dd_${System.nanoTime()}"
    val q = ReactiveStreams.drawdownStream(spark, mem.toDF()).writeStream
      .format("memory").queryName(qName).outputMode("append").start()
    try {
      mem.addData(evs.filter(_.event_id < 7)); q.processAllAvailable()
      mem.addData(evs.filter(e => e.event_id >= 7 && e.event_id < 17))
      q.processAllAvailable()
      mem.addData(evs.filter(_.event_id >= 17)); q.processAllAvailable()
      val streamed = spark.table(qName)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          max("peak_cents").as("peak_cents"),
          expr("max_by(cents, event_id)").as("final_cents"),
          max("dd_cents").as("max_dd_cents"),
          max("dd_ppm").as("max_dd_ppm"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      val batch = graft.operators.Reactive.rxDrawdown(evs.toDF())
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      assert(streamed === batch)
      assert(batch.values.exists(_._4 > 0), "series must draw down")
    } finally q.stop()
  }

  test("streaming attribution matches the batch twin across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val types = Seq("click", "view", "signup", "purchase")
    val evs = (0 until 40).map(i =>
      Ev(i, ts(i), i % 3, types((i * 7) % 4), (i % 9) * 10.0 + 0.25))
    val mem = MemoryStream[Ev]
    val qName = s"attr_${System.nanoTime()}"
    val q = ReactiveStreams.attributionStream(spark, mem.toDF()).writeStream
      .format("memory").queryName(qName).outputMode("complete").start()
    try {
      mem.addData(evs.filter(_.event_id < 13)); q.processAllAvailable()
      mem.addData(evs.filter(e => e.event_id >= 13 && e.event_id < 29))
      q.processAllAvailable()
      mem.addData(evs.filter(_.event_id >= 29)); q.processAllAvailable()
      val streamed = spark.table(qName).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val batch = graft.operators.Reactive.rxAttribution(evs.toDF())
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(streamed === batch)
      assert(streamed.size > 1, "constructed stream must hit several channels")
    } finally q.stop()
  }

  test("streaming paths matches batch on depth-complete users; short users pending") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val types = Seq("view", "click", "purchase", "error")
    // users 0..4: user u gets u+1 events → users 2,3,4 complete depth 3
    val evs = for (u <- 0 until 5; i <- 0 to u)
      yield Ev(u * 10 + i, ts(i), u, types((u + i) % 4), 1.0)
    val mem = MemoryStream[Ev]
    val qName = s"paths_${System.nanoTime()}"
    val q = ReactiveStreams.pathsStream(spark, mem.toDF()).writeStream
      .format("memory").queryName(qName).outputMode("complete").start()
    try {
      // split so user 3's third event crosses a trigger boundary
      mem.addData(evs.filter(_.event_id % 10 < 2)); q.processAllAvailable()
      mem.addData(evs.filter(_.event_id % 10 >= 2)); q.processAllAvailable()
      val streamed = spark.table(qName).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      val batch = graft.operators.Reactive.rxPaths(evs.toDF())
        .filter(size(split(col("path"), ">")) === 3)
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(streamed === batch)
      assert(streamed.values.sum === 3L, "exactly users 2,3,4 complete")
    } finally q.stop()
  }

  test("streaming shape alerts equal the batch thresholded distances") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val p = Seq(0.0, 0.0, 0.0, 10.0, 10.0, 0.0, 0.0, 0.0)
    // user 1 embeds a scaled pattern copy mid-stream; user 2 is noise
    val vals =
      (Seq(4.0, 9.0) ++ p.map(_ * 2 + 3) ++ Seq(1.0, 8.0)).zipWithIndex
        .map { case (v, i) => Ev(i.toLong, ts(i), 1L, "m", v) } ++
      Seq.tabulate(12)(i => Ev(100L + i, ts(i), 2L, "m", (i * 29 % 13) * 1.0))
    val mem = MemoryStream[Ev]
    val qName = s"shape_${System.nanoTime()}"
    val q = ReactiveStreams.shapeAlertStream(spark, mem.toDF()).writeStream
      .format("memory").queryName(qName).outputMode("append").start()
    try {
      // split right through the embedded pattern occurrence
      mem.addData(vals.filter(_.event_id % 100 < 6)); q.processAllAvailable()
      mem.addData(vals.filter(_.event_id % 100 >= 6)); q.processAllAvailable()
      val streamed = spark.table(qName).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val batch = graft.operators.Reactive
        .rxTsMatch(vals.toDF(), k = 1000).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .filter(_._3 <= 0.5).toSet
      assert(streamed === batch)
      assert(streamed.exists(a => a._1 == 1L && a._3 < 1e-12),
        "the embedded copy must alert at ~0")
    } finally q.stop()
  }

  test("streaming burst matches the batch twin on closed minutes") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val min = 60000L
    def at(id: Long, m: Long, t: String) =
      Ev(id, new Timestamp(m * min + id % 50), 1L, t, 0.0)
    // type "a": calm 0-11 (1/min), burst at 12 (5 events), closer 13
    // type "b": minutes 0-10, quiet, spike at 20 after silence, closer 21
    val evs =
      (0 to 11).map(i => at(i, i, "a")) ++
      (100 to 104).map(i => at(i, 12, "a")) ++ Seq(at(110, 13, "a")) ++
      (200 to 210).map(i => at(i, i - 200, "b")) ++
      (300 to 303).map(i => at(i, 20, "b")) ++ Seq(at(310, 21, "b"))
    val sorted = evs.sortBy(_.event_id)
    val mem = MemoryStream[Ev]
    val qName = s"burst_${System.nanoTime()}"
    val q = ReactiveStreams.burstStream(spark, mem.toDF()).writeStream
      .format("memory").queryName(qName).outputMode("append").start()
    try {
      mem.addData(sorted.filter(_.event_id < 103)); q.processAllAvailable()
      mem.addData(sorted.filter(e => e.event_id >= 103 && e.event_id < 301))
      q.processAllAvailable()
      mem.addData(sorted.filter(_.event_id >= 301)); q.processAllAvailable()
      val streamed = spark.table(qName).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      // batch twin with per-type warm-up, minus each type's final
      // (never-closed) minute
      val lastMinute = sorted.groupBy(_.event_type)
        .map { case (t, es) => t -> es.map(_.ts.getTime / min).max }
      val batch = graft.operators.Reactive
        .rxBurst(sorted.toDF(), globalWarmup = false)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .filter { case (t, m, _, _) => m < lastMinute(t) }.toSet
      assert(streamed === batch)
      assert(streamed.map(_._1) === Set("a", "b"),
        "both constructed bursts must fire")
    } finally q.stop()
  }

  test("streaming funnel rates equal the batch report across trigger splits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // u1 full funnel, u2 view+click, u3 view only, u4 click with no
    // view (reaches nothing), u5 purchase-before-view then full
    val evs = Seq(
      Ev(0, ts(0), 1, "view", 0), Ev(1, ts(1), 1, "click", 0),
      Ev(2, ts(2), 1, "purchase", 0),
      Ev(3, ts(0), 2, "view", 0), Ev(4, ts(1), 2, "click", 0),
      Ev(5, ts(0), 3, "view", 0),
      Ev(6, ts(0), 4, "click", 0),
      Ev(7, ts(0), 5, "purchase", 0), Ev(8, ts(1), 5, "view", 0),
      Ev(9, ts(2), 5, "click", 0), Ev(10, ts(3), 5, "purchase", 0))
    val mem = MemoryStream[Ev]
    val qName = s"frates_${System.nanoTime()}"
    val q = ReactiveStreams.funnelRatesStream(spark, mem.toDF()).writeStream
      .format("memory").queryName(qName).outputMode("complete").start()
    try {
      // split mid-funnel: u1's purchase and u5's tail arrive later
      mem.addData(evs.filter(_.event_id < 2)); q.processAllAvailable()
      mem.addData(evs.filter(e => e.event_id >= 2 && e.event_id < 8))
      q.processAllAvailable()
      mem.addData(evs.filter(_.event_id >= 8)); q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4))
      val streamed = spark.table(qName).collect().map(key).toSet
      val batch = graft.operators.Reactive.rxFunnelRates(evs.toDF())
        .collect().map(key).toSet
      assert(streamed === batch)
      assert(batch.exists { case (st, _, n, _, _) => st == 3L && n == 2L },
        "two users must complete the funnel")
    } finally q.stop()
  }

  test("streaming inter-arrival histogram equals the batch buckets across splits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // gaps spanning several log2 decades per user; a same-ms repeat
    // (zero gap) that both forms must drop
    def at(id: Long, uid: Long, ms: Long, t: String) =
      Ev(id, new Timestamp(ms), uid, t, 0.0)
    val evs = Seq(
      at(0, 1, 1000, "click"), at(1, 1, 1001, "view"),
      at(2, 1, 1005, "click"), at(3, 1, 2000, "view"),
      at(4, 1, 2000, "purchase"),                       // zero gap
      at(5, 1, 500000, "click"),
      at(6, 2, 0, "view"), at(7, 2, 7, "click"), at(8, 2, 1 << 20, "view"))
    val mem = MemoryStream[Ev]
    val qName = s"iah_${System.nanoTime()}"
    val q = ReactiveStreams.interarrivalHistStream(spark, mem.toDF())
      .writeStream.format("memory").queryName(qName)
      .outputMode("complete").start()
    try {
      // the u1 1005->2000 gap and u2 7->1<<20 gap cross the split
      mem.addData(evs.filter(_.event_id < 3)); q.processAllAvailable()
      mem.addData(evs.filter(e => e.event_id >= 3 && e.event_id < 8))
      q.processAllAvailable()
      mem.addData(evs.filter(_.event_id >= 8)); q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getLong(1), r.getLong(2))
      val streamed = spark.table(qName).collect().map(key).toSet
      val batch = graft.operators.Reactive.rxInterarrivalHist(evs.toDF())
        .collect().map(key).toSet
      assert(streamed === batch)
      assert(streamed.map(_._2).size >= 4, "several distinct log2 buckets")
    } finally q.stop()
  }

  test("streaming anomaly-path pairs + bounded scoring equal the batch op") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // u1..u3 walk the common loop; u4 takes one rare transition
    val common = Seq("view", "click", "view", "click", "purchase")
    val evs = (for {
      uid <- 1L to 3L
      (t, i) <- common.zipWithIndex
    } yield Ev(uid * 100 + i, ts(i.toInt), uid, t, 0.0)) ++ Seq(
      // view->purchase skips the funnel: 1 of 7 view-outgoing
      // transitions (142857 ppm) vs the common 500000 ppm minimum
      Ev(400, ts(0), 4, "view", 0.0), Ev(401, ts(1), 4, "purchase", 0.0))
    val mem = MemoryStream[Ev]
    val qName = s"apath_${System.nanoTime()}"
    val q = ReactiveStreams.anomalyPathStream(spark, mem.toDF()).writeStream
      .format("memory").queryName(qName).outputMode("append").start()
    try {
      val sorted = evs.sortBy(_.event_id)
      mem.addData(sorted.take(6)); q.processAllAvailable()
      mem.addData(sorted.slice(6, 13)); q.processAllAvailable()
      mem.addData(sorted.drop(13)); q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
          r.getString(4))
      // localCheckpoint: the scoring self-joins its input, and the
      // memory-sink MemoryPlan is not a MultiInstanceRelation (a
      // parquet/table sink dedups fine)
      val scored = ReactiveStreams
        .anomalyPathScore(spark.table(qName).localCheckpoint(), k = 10)
        .collect().map(key)
      val batch = graft.operators.Reactive
        .rxAnomalyPath(evs.toDF(), k = 10).collect().map(key)
      assert(scored.toSeq === batch.toSeq)
      assert(batch.head._1 === 4L, "the rare-path user must rank first")
    } finally q.stop()
  }

  test("RocksDB state store: stateful twin agrees with default provider + batch") {
    // the 100 TB state backend (GraftSession.useRocksDBStateStore):
    // results must be provider-independent. Drive a
    // flatMapGroupsWithState twin (real per-key state across three
    // triggers) under RocksDB and compare against the batch twin —
    // the same equality every default-provider test asserts.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val evs = (0 until 24).map(i =>
      Ev(i, ts(i), i % 2, "m", ((i * 37) % 150 + 10) * 1.0))
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    GraftSession.useRocksDBStateStore(spark)
    val mem = MemoryStream[Ev]
    val qName = s"rocks_${System.nanoTime()}"
    val q = ReactiveStreams.drawdownStream(spark, mem.toDF()).writeStream
      .format("memory").queryName(qName).outputMode("append").start()
    try {
      // the query must actually run on RocksDB, not silently fall back
      assert(spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass")
        .contains("RocksDBStateStoreProvider"))
      mem.addData(evs.filter(_.event_id < 7)); q.processAllAvailable()
      mem.addData(evs.filter(e => e.event_id >= 7 && e.event_id < 17))
      q.processAllAvailable()
      mem.addData(evs.filter(_.event_id >= 17)); q.processAllAvailable()
      val streamed = spark.table(qName)
        .select("event_id", "user_id", "cents", "peak_cents", "dd_cents")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      // the per-row pre-rollup frame the batch op reduces: recompute
      // it directly (running max over event_id order)
      val expected = evs.groupBy(_.user_id).toSeq.flatMap { case (uid, es) =>
        var peak = Long.MinValue
        es.sortBy(_.event_id).map { e =>
          val cents = math.round(e.value * 100)
          peak = math.max(peak, cents)
          (e.event_id, uid, cents, peak, peak - cents)
        }
      }.toSet
      assert(streamed === expected)
      assert(expected.exists(_._5 > 0), "series must draw down")
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
      spark.conf.unset("spark.sql.streaming.stateStore.rocksdb." +
        "changelogCheckpointing.enabled")
    }
  }

  test("streaming A/B fold + bounded arm rollup equal the batch readout") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // users hash into both arms; purchases (with cents-exact values)
    // and conversion-free users on each side of every trigger split
    val evs = (for {
      uid <- 1L to 12L
      i <- 0 until 4
    } yield Ev(uid * 10 + i, ts(i), uid,
      if ((uid + i) % 5 == 0) "purchase" else "view",
      if ((uid + i) % 5 == 0) (uid * 7 + i) * 1.25 else 0.0)).toVector
    val mem = MemoryStream[Ev]
    val qName = s"ab_${System.nanoTime()}"
    val q = ReactiveStreams.abTestStream(spark, mem.toDF()).writeStream
      .format("memory").queryName(qName).outputMode("append").start()
    try {
      val sorted = evs.sortBy(_.event_id)
      mem.addData(sorted.take(15)); q.processAllAvailable()
      mem.addData(sorted.slice(15, 33)); q.processAllAvailable()
      mem.addData(sorted.drop(33)); q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))
      val scored = ReactiveStreams
        .abTestScore(spark.table(qName).localCheckpoint())
        .collect().map(key).toSet
      val batch = graft.operators.Reactive.rxAbTest(evs.toDF())
        .collect().map(key).toSet
      assert(scored === batch)
      assert(scored.map(_._1) === Set("A", "B"), "both arms populated")
      assert(batch.exists(_._5 > 0), "revenue must flow")
    } finally q.stop()
  }

  test("streaming trending counts + bounded top-k equal the batch ranks") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // two days; per-day type frequencies differ so ranks flip, and
    // every trigger split lands mid-day (counts must accumulate
    // across triggers, not per trigger)
    val types = Vector("view", "click", "purchase", "signup")
    val evs = (0 until 40).map { i =>
      val day = i / 20
      val t = types((i * (day + 2)) % types.length)
      Ev(i.toLong, ts(day * 24 * 60 + (i % 20)), i % 6, t, 0.0)
    }.toVector
    val mem = MemoryStream[Ev]
    val qName = s"trend_${System.nanoTime()}"
    val q = ReactiveStreams.trendingStream(spark, mem.toDF()).writeStream
      .format("memory").queryName(qName).outputMode("append").start()
    try {
      mem.addData(evs.take(13)); q.processAllAvailable()
      mem.addData(evs.slice(13, 27)); q.processAllAvailable()
      mem.addData(evs.drop(27)); q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))
      val scored = ReactiveStreams
        .trendingScore(spark.table(qName).localCheckpoint(), k = 3)
        .collect().map(key).toSet
      val batch = graft.operators.Reactive.rxTrending(evs.toDF(), k = 3)
        .collect().map(key).toSet
      assert(scored === batch)
      assert(scored.map(_._1).size === 2, "both days ranked")
    } finally q.stop()
  }

  test("streaming user-day feed + bounded tails equal batch cohort retention and stickiness") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // users join on different days (distinct cohorts), revisit days
    // (the state must dedup within AND across triggers), and skip
    // days (offsets with gaps)
    val evs = (for {
      uid <- 1L to 6L
      visit <- 0 until 5
      rep <- 0 until 2 // same-day repeat → must not double-emit
    } yield {
      val day = uid + visit * (1 + uid % 3)
      Ev(uid * 1000 + visit * 10 + rep,
        ts((day * 24 * 60 + rep * 5).toInt), uid, "view", 0.0)
    }).toVector
    val mem = MemoryStream[Ev]
    val qName = s"uday_${System.nanoTime()}"
    val q = ReactiveStreams.userDayStream(spark, mem.toDF()).writeStream
      .format("memory").queryName(qName).outputMode("append").start()
    try {
      mem.addData(evs.take(19)); q.processAllAvailable()
      mem.addData(evs.slice(19, 41)); q.processAllAvailable()
      mem.addData(evs.drop(41)); q.processAllAvailable()
      val sink = spark.table(qName).localCheckpoint()
      // the feed is exactly the distinct (user, day) frame
      assert(sink.count() === sink.distinct().count())
      def k3(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2))
      val retention = ReactiveStreams.cohortRetentionScore(sink)
        .collect().map(k3).toSet
      val retentionBatch = graft.operators.Reactive
        .rxCohortRetention(evs.toDF()).collect().map(k3).toSet
      assert(retention === retentionBatch)
      def k4(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val stick = ReactiveStreams.stickinessScore(sink, windowDays = 7)
        .collect().map(k4).toSet
      val stickBatch = graft.operators.Reactive
        .rxStickiness(evs.toDF(), windowDays = 7).collect().map(k4).toSet
      assert(stick === stickBatch)
      def k2(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
      val rolling = ReactiveStreams.rollingActivesScore(sink, windowDays = 3)
        .collect().map(k2).toSet
      val rollingBatch = graft.operators.Reactive
        .rxRollingActives(evs.toDF(), windowDays = 3).collect().map(k2).toSet
      assert(rolling === rollingBatch)
      val streaks = ReactiveStreams.streaksScore(sink)
        .collect().map(k4).toSet
      val streaksBatch = graft.operators.Reactive
        .rxStreaks(evs.toDF()).collect().map(k4).toSet
      assert(streaks === streaksBatch)
      assert(retention.map(_._1).size >= 3, "several distinct cohorts")
    } finally q.stop()
  }

  test("streaming peaks equal the batch local-maxima across trigger splits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // two keys: a zig-zag with a plateau (plateau rule: first point
    // of equal run is the peak) and a monotone series (no peaks)
    val vals = Vector(1.0, 5.0, 3.0, 7.0, 7.0, 2.0, 9.0, 4.0, 4.0, 8.0)
    val evs = vals.zipWithIndex.map { case (v, i) =>
      Ev(i.toLong, ts(i), 1L, "m", v) } ++
      (0 until 6).map(i => Ev(100L + i, ts(i), 2L, "m", i * 10.0))
    val mem = MemoryStream[Ev]
    val qName = s"peaks_${System.nanoTime()}"
    val q = ReactiveStreams.peaksStream(spark, mem.toDF()).writeStream
      .format("memory").queryName(qName).outputMode("append").start()
    try {
      val sorted = evs.sortBy(_.event_id)
      // split mid-plateau so the pair state must carry across triggers
      mem.addData(sorted.take(4)); q.processAllAvailable()
      mem.addData(sorted.slice(4, 9)); q.processAllAvailable()
      mem.addData(sorted.drop(9)); q.processAllAvailable()
      def k5(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))
      val streamed = spark.table(qName).collect().map(k5).toSet
      val batch = graft.operators.Reactive.rxPeaks(evs.toDF())
        .collect().map(k5).toSet
      assert(streamed === batch)
      assert(streamed.exists(_._2 === 3L), "the plateau head must peak")
      assert(!streamed.exists(_._1 === 2L), "monotone key has no peaks")
    } finally q.stop()
  }

  test("streaming hysteresis latch equals the batch transition feed") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // oscillates INSIDE the dead band (no flapping), then crosses
    // hi, dips into the band (stays on), drops past lo (off), and
    // re-arms — with trigger splits landing mid-latched-state
    val vals = Vector(60.0, 90.0, 40.0, 95.0, 110.0, 70.0, 95.0,
      45.0, 80.0, 120.0, 30.0)
    val evs = vals.zipWithIndex.map { case (v, i) =>
      Ev(i.toLong, ts(i), 1L, "m", v) }
    val mem = MemoryStream[Ev]
    val qName = s"hyst_${System.nanoTime()}"
    val q = ReactiveStreams.hysteresisStream(spark, mem.toDF()).writeStream
      .format("memory").queryName(qName).outputMode("append").start()
    try {
      mem.addData(evs.take(5)); q.processAllAvailable()
      mem.addData(evs.slice(5, 8)); q.processAllAvailable()
      mem.addData(evs.drop(8)); q.processAllAvailable()
      def k4s(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))
      val streamed = spark.table(qName).collect().map(k4s).toSet
      val batch = graft.operators.Reactive.rxHysteresis(evs.toDF())
        .collect().map(k4s).toSet
      assert(streamed === batch)
      // dead-band dips must not flap: exactly on@4, off@7, on@9, off@10
      assert(streamed.map(t => (t._2, t._4)) ===
        Set((4L, "on"), (7L, "off"), (9L, "on"), (10L, "off")))
    } finally q.stop()
  }

  test("streaming CDC ingest: per-doc novelty equals the batch " +
      "anti-join rollup across a trigger split") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = (0 until 60).map(i => s"w${i}x${(i * 7) % 13}")
      .mkString(" ")
    val corpus = Seq((1L, base, "s")).toDF("doc_id", "text", "source")
    val corpusChunks = graft.operators.Dedup.cdcChunksGear(corpus)
      .select("ch").distinct().cache()
    val d10 = "COMPLETELY NOVEL HEAD OF DOCUMENT " + base
    val d11 = (100 until 160).map(i => s"q${i}y${(i * 5) % 11}")
      .mkString(" ")
    val streamRows = Seq((10L, ts(0), d10, "s"), (11L, ts(1), d11, "s"))
    val batch = graft.operators.Dedup.cdcChunksGear(
        streamRows.toDF("doc_id", "ts", "text", "source"))
      .join(corpusChunks.withColumn("known", lit(1)), Seq("ch"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"),
        coalesce(sum(when(col("known").isNull, 1L)), lit(0L)).as("nov"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    val mem = MemoryStream[(Long, Timestamp, String, String)]
    val qName = s"cdc_${System.nanoTime()}"
    val q = ReactiveStreams.cdcIngestStream(
      mem.toDF().toDF("doc_id", "ts", "text", "source"), corpusChunks)
      .writeStream.format("memory").queryName(qName)
      .outputMode("append").start()
    try {
      mem.addData(streamRows.head); q.processAllAvailable()
      mem.addData(streamRows(1)); q.processAllAvailable()
      // far-future tick closes the windows
      mem.addData((99L, ts(600), "x", "s")); q.processAllAvailable()
      val got = spark.table(qName).collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      for (id <- Seq(10L, 11L)) {
        val (n, nov) = batch(id)
        assert(got(id) === ((n, nov, nov * 1000000L / n)), s"doc $id")
      }
      // the shifted doc re-used corpus chunks; the fresh doc did not
      assert(got(10L)._2 > 0 && got(10L)._2 < got(10L)._1)
      assert(got(11L)._2 === got(11L)._1)
    } finally q.stop()
  }

  test("streaming surprisal scoring against the frozen model equals " +
      "the batch scorer; OOV tokens take the ceiling") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val corpus = Seq((1L, "a a a a"), (2L, "a z"), (3L, "b b a z"))
      .toDF("doc_id", "text")
    val model = graft.operators.TextAnalysis.unigramModel(corpus)
      .cache()
    val batch = graft.operators.TextAnalysis.unigramSurprisal(corpus)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val mem = MemoryStream[(Long, Timestamp, String)]
    val qName = s"surp_${System.nanoTime()}"
    val q = ReactiveStreams.surprisalScoreStream(
      mem.toDF().toDF("doc_id", "ts", "text"), model, oovBits = 7L)
      .writeStream.format("memory").queryName(qName)
      .outputMode("append").start()
    try {
      // replay the corpus as a stream, split mid-corpus; doc 4 has an
      // OOV token ('q', never in the model) -> scores oovBits
      mem.addData((1L, ts(0), "a a a a")); q.processAllAvailable()
      mem.addData((2L, ts(1), "a z"), (3L, ts(2), "b b a z"),
        (4L, ts(3), "a q"))
      q.processAllAvailable()
      // far-future tick closes every window (watermark passes them)
      mem.addData((99L, ts(600), "a")); q.processAllAvailable()
      val got = spark.table(qName).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      // in-model docs score exactly as the batch op
      batch.foreach { case (id, exp) =>
        assert(got(id) === exp, s"doc $id") }
      // OOV doc: T=10, s(a)=flog2(10)-flog2(6)=3-2=1, s(q)=oovBits=7
      // -> (1+7)*1000 div 2 = 4000
      assert(got(4L) === ((2L, 4000L)))
    } finally q.stop()
  }

  test("streaming OOV monitor against the frozen vocab: per-source " +
      "window cells match hand-computed coverage across trigger splits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // static corpus tf: a=3, b=1, z=1 -> top-2 vocab = {a, b}
    // (tie at tf=1 breaks to the lexicographically first term)
    val corpus = Seq((1L, "a a a b z")).toDF("doc_id", "text")
    val vocab = graft.operators.TextAnalysis.vocabTable(corpus, v = 2)
      .cache()
    assert(vocab.select("term").collect().map(_.getString(0)).toSet
      === Set("a", "b"))
    val mem = MemoryStream[(String, Timestamp, String)]
    val qName = s"oov_${System.nanoTime()}"
    val q = ReactiveStreams.oovMonitorStream(
      mem.toDF().toDF("source", "ts", "text"), vocab)
      .writeStream.format("memory").queryName(qName)
      .outputMode("append").start()
    try {
      // one hour window, rows split across triggers
      mem.addData(("s1", ts(0), "a b q")); q.processAllAvailable()
      mem.addData(("s2", ts(1), "z z"), ("s1", ts(2), "a a"))
      q.processAllAvailable()
      // far-future tick closes the first hour's windows
      mem.addData(("s9", ts(600), "a")); q.processAllAvailable()
      val got = spark.table(qName).collect()
        .map(r => (r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      // s1: tokens a,b,q + a,a -> n=5 covered=4 oov=200000
      // s2: z z -> n=2 covered=0 oov=1000000
      assert(got === Set(("s1", 5L, 4L, 200000L),
        ("s2", 2L, 0L, 1000000L)))
    } finally q.stop()
  }

  test("streaming concurrency curve: closed-session minute deltas " +
      "equal the batch sweep-line across a trigger split") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // user 1: two sessions split by a 50-min gap; user 2: one
    // session straddling the trigger boundary (all above-watermark:
    // a 10-min-late event would be dropped at the watermark, the
    // documented honest boundary)
    val evs = Seq(
      Ev(1, ts(0), 1, "m", 0), Ev(2, ts(10), 1, "m", 0),
      Ev(5, ts(5), 2, "m", 0),
      Ev(3, ts(60), 1, "m", 0), Ev(4, ts(75), 1, "m", 0),
      Ev(6, ts(20), 2, "m", 0))
    val mem = MemoryStream[Ev]
    val qName = s"conc_${System.nanoTime()}"
    // the documented global-watermark exception: the chained
    // unwindowed agg never evicts on the watermark, so the
    // below-watermark delta rows merge instead of dropping
    val ccKey = "spark.sql.streaming.statefulOperator." +
      "checkCorrectness.enabled"
    val prevCc = spark.conf.get(ccKey)
    spark.conf.set(ccKey, "false")
    val q = ReactiveStreams.concurrencyStream(spark, mem.toDF(),
        gapMs = 30 * 60000L)
      .writeStream.format("memory").queryName(qName)
      .outputMode("complete").start()
    try {
      // split mid-session: user 1's first session crosses the
      // trigger boundary, so its closure must come from carried state
      mem.addData(evs.take(3)); q.processAllAvailable()
      mem.addData(evs.drop(3)); q.processAllAvailable()
      // two watermark pushes: the first advances the watermark past
      // every prev_t + gap, the second fires the event-time timeouts
      // that prove and emit the remaining closures
      mem.addData(Seq(Ev(99, ts(10000), 99, "wm", 0)))
      q.processAllAvailable()
      mem.addData(Seq(Ev(100, ts(10010), 99, "wm", 0)))
      q.processAllAvailable()
      val streamed = spark.table(qName).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
        .filter(_._2 != 0L)
      // batch twin over the real events (the sentinel user's session
      // never closes and must contribute nothing)
      val batch = graft.operators.Reactive.rxConcurrency(
          evs.toDF("event_id", "ts", "user_id", "event_type", "value"),
          gapMs = 30 * 60000L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed === batch)
      // prefix sum over the deltas reproduces the batch concurrency
      val active = streamed.toSeq.sortBy(_._1)
        .scanLeft((Long.MinValue, 0L)) { case ((_, acc), (m, d)) =>
          (m, acc + d) }.drop(1).toMap
      val batchActive = graft.operators.Reactive.rxConcurrency(
          evs.toDF("event_id", "ts", "user_id", "event_type", "value"),
          gapMs = 30 * 60000L)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(active === batchActive)
    } finally {
      q.stop()
      spark.conf.set(ccKey, prevCc)
    }
  }

  /** Feed each chunk to `f` over `mem` as one trigger, checkpointing
    * at `ckpt`, and return the stopped query. Output is kept by batch
    * id, so a batch that runs again after a restart replaces its first
    * output. */
  private def runCheckpointed[T](f: DataFrame => DataFrame,
                                 mem: MemoryStream[T], ckpt: String,
                                 chunks: Seq[Seq[T]],
                                 out: mutable.Map[Long, Seq[Row]],
                                 mode: String = "append"): StreamingQuery = {
    val q = f(mem.toDF()).writeStream
      .outputMode(mode)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val rows = batch.collect().toSeq
        out.synchronized { out(id) = rows }
      }
      .start()
    try chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
    finally q.stop()
    q
  }

  private def withTempDir[A](body: java.io.File => A): A = {
    val dir = Files.createTempDirectory("graft-ckpt").toFile
    try body(dir) finally FileUtils.deleteDirectory(dir)
  }

  /** The sample in three triggers; the last one advances the
    * watermark past every event so timed-out state flushes. */
  private val sampleChunks = Seq(sample.take(4), sample.drop(4),
    Seq(Ev(99, ts(100000), 99, "tick", 0.0)))

  private val debounce10m: DataFrame => DataFrame =
    df => ReactiveStreams.debounce(spark, df, 600000L).toDF()

  /** Runs `body` on the RocksDB state store, then restores the
    * session's provider. */
  private def onRocksDB[A](body: => A): A = {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    GraftSession.useRocksDBStateStore(spark)
    try body
    finally {
      prev match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
      spark.conf.unset("spark.sql.streaming.stateStore.rocksdb." +
        "changelogCheckpointing.enabled")
    }
  }

  /** The session's `file:` file system. Hadoop caches one per scheme
    * and user for the whole JVM, whatever the conf, so one cached by
    * earlier code under another conf is closed (which uncaches it)
    * first. */
  private def sessionLocalFs(): FileSystem = {
    val root = new java.net.URI("file:///")
    val conf = spark.sessionState.newHadoopConf()
    val cached = FileSystem.get(root, conf)
    if (cached.isInstanceOf[NoForkLocalFileSystem]) cached
    else { cached.close(); FileSystem.get(root, conf) }
  }

  /** Commands of the processes started while `body` runs (JFR). */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val jfr = Files.createTempFile("graft-proc", ".jfr")
    try {
      rec.dump(jfr)
      jdk.jfr.consumer.RecordingFile.readAllEvents(jfr)
        .asScala.map(_.getString("command")).toSeq
    } finally { rec.close(); Files.delete(jfr) }
  }

  /** Runs the cleanups that earlier tests left pending, so that a
    * process-start window sees only its own body: the state stores of
    * stopped queries are unloaded (RocksDB deletes each working
    * directory with `rm -rf`), and the artifact directories of
    * sessions that are now garbage are deleted (`rm -rf` on Spark's
    * cleaner thread once a collection finds the session). Returns
    * once a full collection is followed by 200 ms without a process
    * start, or after 20 tries. */
  private def settle(): Unit = {
    StateStore.stop()
    Iterator.continually(processStarts { System.gc(); Thread.sleep(200) })
      .take(20).find(_.isEmpty)
  }

  test("stream triggers fork no chmod or readlink on either state store") {
    // Without libhadoop, RawLocalFileSystem forks `chmod` for each
    // file and directory it creates with a permission, and the
    // FileContext-based default checkpoint manager forks `readlink`
    // for each file it renames.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    assert(sessionLocalFs().isInstanceOf[NoForkLocalFileSystem])
    def commands(store: String): Seq[String] = withTempDir { dir =>
      val out = mutable.Map.empty[Long, Seq[Row]]
      settle()
      val started = processStarts(runCheckpointed(debounce10m,
        MemoryStream[Ev], new java.io.File(dir, "ckpt").getPath,
        sampleChunks, out))
      assert(out.values.flatten.map(_.getAs[Long]("event_id")).toSet -
        99L === Set(2L, 3L, 4L, 5L, 6L, 7L), store)
      val mgr = CheckpointFileManager.create(new Path(dir.getPath),
        spark.sessionState.newHadoopConf())
      assert(mgr.isInstanceOf[FileSystemBasedCheckpointFileManager],
        mgr.getClass.getName)
      started
    }
    assert(commands("HDFS") === Nil)
    // RocksDB still forks outside its triggers: Spark deletes each
    // state store's working directory with `rm -rf` when the query
    // stops, and the RocksDB library probes for musl libc once per JVM
    val rocks = onRocksDB(commands("RocksDB"))
    assert(rocks.filter(c => c.startsWith("chmod") ||
      c.startsWith("readlink")) === Nil, rocks)
  }

  test("the session's local file system sets the permissions the " +
    "stock one does") {
    withTempDir { dir =>
      val ours = sessionLocalFs()
      val stock = new LocalFileSystem()
      stock.initialize(new java.net.URI("file:///"), new Configuration())
      try {
        def octal(s: String): Int = Integer.parseInt(s, 8)
        def perm(s: String) = new FsPermission(octal(s).toShort)
        def mode(p: Path): Int = Files.getAttribute(
          new java.io.File(p.toUri).toPath, "unix:mode").asInstanceOf[Int] &
          0x0fff
        val modes = Seq(ours, stock).map { fs =>
          val base = new Path(dir.toURI.toString, fs.getClass.getSimpleName)
          val sub = new Path(base, "sub")
          val file = new Path(sub, "f")
          val secret = new Path(sub, "secret")
          assert(fs.mkdirs(sub))
          fs.create(file).close()
          fs.create(secret).close()
          fs.setPermission(secret, perm("600"))
          Seq(mode(base), mode(sub), mode(file), mode(new Path(sub, ".f.crc")),
            mode(secret))
        }
        // Hadoop's default umask is 022
        assert(modes.head === Seq("755", "755", "644", "644", "600")
          .map(octal))
        assert(modes.head === modes.last)
        // NIO cannot set the sticky bit; the shell path still does
        val sticky = new Path(dir.toURI.toString, "sticky")
        assert(ours.mkdirs(sticky))
        val commands = processStarts(ours.setPermission(sticky, perm("1755")))
        assert(commands.count(_.startsWith("chmod")) === 1, commands)
        assert(mode(sticky) === octal("1755"))
        val missing = new Path(dir.toURI.toString, "missing")
        intercept[java.io.IOException](ours.setPermission(missing, perm("600")))
        intercept[java.io.IOException](stock.setPermission(missing, perm("600")))
      } finally stock.close()
    }
  }

  test("restart from checkpoint after the second trigger reproduces " +
    "the uninterrupted output on both state stores") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "debounce" -> debounce10m,
      "streamStreamJoin" -> ReactiveStreams.streamStreamJoin)
    def sorted(out: collection.Map[Long, Seq[Row]]) =
      out.values.flatten.map(_.toString).toSeq.sorted
    def check(store: String): Unit = ops.foreach { case (name, f) =>
      withTempDir { dir =>
        val whole = mutable.Map.empty[Long, Seq[Row]]
        runCheckpointed(f, MemoryStream[Ev],
          new java.io.File(dir, "whole").getPath, sampleChunks, whole)
        val beforeStop = mutable.Map.empty[Long, Seq[Row]]
        val afterRestart = mutable.Map.empty[Long, Seq[Row]]
        val mem = MemoryStream[Ev]
        val ckpt = new java.io.File(dir, "resumed").getPath
        runCheckpointed(f, mem, ckpt, sampleChunks.take(2), beforeStop)
        runCheckpointed(f, mem, ckpt, sampleChunks.drop(2), afterRestart)
        // batch ids continue from the offset log instead of restarting at 0
        assert(afterRestart.keys.min >= beforeStop.keys.max,
          s"$name on $store")
        assert(sorted(whole).nonEmpty, s"$name on $store")
        assert(sorted(beforeStop ++ afterRestart) === sorted(whole),
          s"$name on $store")
      }
    }
    check("HDFS")
    onRocksDB(check("RocksDB"))
  }

  /** Spark's built-in stream-stream inner join, which
    * `ReactiveStreams.streamStreamJoin` replaced: the reference its
    * rows are checked against. */
  private def builtInJoin(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts").as("p_ts"), col("value").as("p_value"))
      .withWatermark("p_ts", "1 hour")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
        col("c_ts") <= col("p_ts") + expr("INTERVAL 30 MINUTES"))
      .select("p_id", "c_id", "user_id", "p_value")
  }

  test("stream-stream join equals the built-in join under random batch " +
    "splits, late rows and nulls, on both state stores") {
    import StreamingSpec.NEv
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val minuteUs = 60L * 1000 * 1000
    def at(us: Long): Timestamp = {
      val t = new Timestamp(Math.floorDiv(us, 1000L))
      t.setNanos((Math.floorMod(us, 1000000L) * 1000).toInt)
      t
    }
    val t0 = 1704067200L * 1000 * 1000 // 2024-01-01 00:00 UTC
    // (arrival order, row): each event type arrives in event-time order,
    // so only the late chunk below is behind the watermark. With seed 2
    // purchases run 80 minutes behind clicks: the watermark follows the
    // slower side, so they are not late either.
    def lag(seed: Int) = if (seed == 2) 80 * minuteUs else 0L
    def events(seed: Int): Seq[(Long, NEv)] = {
      val rnd = new scala.util.Random(seed)
      var t = t0
      (0L until 160L).map { i =>
        t += rnd.nextInt(8) * minuteUs + rnd.nextInt(1000000)
        def sometimes[A](a: A, oneIn: Int) =
          if (rnd.nextInt(oneIn) == 0) None else Some(a)
        val kind = Seq("purchase", "click", "click", "view")(rnd.nextInt(4))
        val ts = if (kind == "purchase") t - lag(seed) else t
        t -> NEv(sometimes(i, 12), sometimes(at(ts), 25),
          sometimes(1L + rnd.nextInt(4), 20), kind,
          sometimes(rnd.nextInt(100).toDouble, 12))
      }
    }
    // user 9: one purchase, clicks exactly 30 min away on either side
    // (kept) and 1 us further (dropped); null ids and values pass
    val tb = t0 + 300 * minuteUs
    val window = 30 * minuteUs
    def edges(seed: Int) = Seq(
      (tb + lag(seed)) -> NEv(Some(1000L), Some(at(tb)), Some(9L), "purchase", None),
      (tb - window) -> NEv(None, Some(at(tb - window)), Some(9L), "click", Some(1.0)),
      (tb + window) -> NEv(Some(1002L), Some(at(tb + window)), Some(9L), "click", None),
      (tb - window - 1) -> NEv(Some(1003L), Some(at(tb - window - 1)), Some(9L), "click", None),
      (tb + window + 1) -> NEv(Some(1004L), Some(at(tb + window + 1)), Some(9L), "click", None))
    // a closing chunk hours behind the watermark: 3 purchase or click
    // rows to drop; a view and a null-user row are filtered, not dropped
    val early = t0 - 600 * minuteUs
    val late = Seq(
      NEv(Some(2000L), Some(at(early)), Some(1L), "purchase", Some(5.0)),
      NEv(Some(2001L), Some(at(early + minuteUs)), Some(1L), "click", Some(5.0)),
      NEv(Some(2002L), Some(at(early + minuteUs)), Some(2L), "click", Some(5.0)),
      NEv(Some(2003L), Some(at(early)), Some(2L), "view", Some(5.0)),
      NEv(Some(2004L), Some(at(early)), None, "click", Some(5.0)))
    def sorted(out: collection.Map[Long, Seq[Row]]) =
      out.values.flatten.map(_.toString).toSeq.sorted
    def dropped(q: StreamingQuery) = q.recentProgress
      .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    def check(store: String): Unit = Seq(1, 2).foreach { seed =>
      val rows = (events(seed) ++ edges(seed)).sortBy(_._1).map(_._2)
      val rnd = new scala.util.Random(seed * 31)
      val cuts = (rnd.shuffle((1 until rows.size).toList).take(2) :+ 0 :+
        rows.size).sorted
      val chunks = cuts.zip(cuts.tail).map { case (a, b) => rows.slice(a, b) } :+
        late
      val what = s"$store, seed $seed, cuts $cuts"
      withTempDir { dir =>
        val ours = mutable.Map.empty[Long, Seq[Row]]
        val ref = mutable.Map.empty[Long, Seq[Row]]
        val q = runCheckpointed(ReactiveStreams.streamStreamJoin,
          MemoryStream[NEv], new java.io.File(dir, "ours").getPath, chunks, ours)
        val refQ = runCheckpointed(builtInJoin, MemoryStream[NEv],
          new java.io.File(dir, "ref").getPath, chunks, ref)
        assert(sorted(ours) === sorted(ref), what)
        assert(dropped(q) === 3, what)
        assert(dropped(refQ) === 3, what)
        val edgeRows = ours.values.flatten
          .filter(_.getAs[Long]("user_id") == 9L).map(_.toString).toSeq.sorted
        assert(edgeRows === Seq("[1000,1002,9,null]", "[1000,null,9,null]"), what)
        val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
          .lastExecution.executedPlan.toString
        assert(!plan.contains("StreamingSymmetricHashJoin"), what)
        assert(q.lastProgress.stateOperators.map(_.numStateStoreInstances)
          .toSeq === Seq(spark.conf.get("spark.sql.shuffle.partitions").toInt),
          what)
      }
    }
    check("HDFS")
    onRocksDB(check("RocksDB"))
  }

  test("a second stream query over the same input compiles no new " +
    "generated code") {
    // CodeGenerator caches classes by (context classloader, source);
    // with artifact isolation on, each query's cloned session gets its
    // own executor classloader and compiles every class again.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // runningTopK and the join hold fixed-shape state: a `Seq` state's
    // encoder names its loop variable by a per-query counter
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val ops: Seq[(String, DataFrame => DataFrame, String)] = Seq(
      ("debounce", debounce10m, "append"),
      ("runningTopK", df => ReactiveStreams.runningTopK(spark, df).toDF(), "update"),
      ("streamStreamJoin", ReactiveStreams.streamStreamJoin, "append"))
    ops.foreach { case (name, f, mode) =>
      def replay(): Seq[String] = withTempDir { dir =>
        val out = mutable.Map.empty[Long, Seq[Row]]
        runCheckpointed(f, MemoryStream[Ev],
          new java.io.File(dir, "ckpt").getPath, sampleChunks, out, mode)
        out.values.flatten.map(_.toString).toSeq.sorted
      }
      val first = replay()
      val before = compiles
      val second = replay()
      assert(compiles - before === 0, name)
      assert(first.nonEmpty, name)
      assert(second === first, name)
    }
  }

  test("checkpoint manager never overwrites an existing file") {
    // HDFSMetadataLog detects a second writer of a batch by this
    withTempDir { dir =>
      val target = new Path(dir.getPath, "0")
      val mgr = CheckpointFileManager.create(target.getParent,
        spark.sessionState.newHadoopConf())
      val first = mgr.createAtomic(target, overwriteIfPossible = false)
      first.write("first".getBytes("UTF-8"))
      first.close()
      val second = mgr.createAtomic(target, overwriteIfPossible = false)
      second.write("second".getBytes("UTF-8"))
      intercept[FileAlreadyExistsException](second.close())
      assert(new String(Files.readAllBytes(
        new java.io.File(dir, "0").toPath), "UTF-8") === "first")
    }
  }
}

object StreamingSpec {
  /** An events row whose every column but the type may be null. */
  case class NEv(event_id: Option[Long], ts: Option[Timestamp],
                 user_id: Option[Long], event_type: String,
                 value: Option[Double])
}
