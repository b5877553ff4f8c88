package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, expr, lit, to_json, xxhash64}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.MapType

import graft.{GraftSession, SparkEntry}
import graft.operators.FrameCache
import graft.sources.{Sources, Tables}
import graft.streaming.ReactiveStreams

/** The benchmark's JVM side. It drives graft only through public
  * entry points, times each call, and writes one JSON record per
  * event to `--out`; perfbench/run.py turns the records into metrics
  * and checks them against the stored references.
  *
  * Modes:
  *  - `batch`: passes over `--keys`, the first one cold;
  *  - `stream`: passes replaying the chunk files in `--chunks` through
  *    each operator of `--ops`, one at a time;
  *  - `survey`: one cold and one warm traced pass over every registry
  *    key (not a workload; ranks keys by their layer split).
  * The cold pass is followed by warm passes until `--seconds` have
  * passed since the JVM started, with at least `--min-warm` whole
  * warm passes; past those, a pass stops at the deadline between two
  * operations. */
object Main {
  final case class Opts(mode: String, data: String, chunks: String,
                        work: String, out: String, keys: Seq[String],
                        tables: Seq[String],
                        ops: Seq[String], seed: Long, seconds: Double,
                        trace: Boolean, cores: Int, setups: Int,
                        minWarm: Int, state: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def list(k: String) = m.get(k).filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(Nil)
    Opts(m("mode"), m("data"), m.getOrElse("chunks", ""), m("work"), m("out"),
      list("keys"), list("tables"), list("ops"), m.getOrElse("seed", "0").toLong,
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1",
      m.getOrElse("cores", "4").toInt, m.getOrElse("setups", "3").toInt,
      m.getOrElse("min-warm", "2").toInt, m.getOrElse("state", "hdfs"))
  }

  /** The smoke query of every set-up: `SparkEntry.entry`'s plan
    * (TPC-H Q1), run on the benchmark's own tables. */
  val SmokeKey = "q1_pricing_summary"

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val deadlineNs = System.nanoTime() + ((o.seconds * 1e3 - (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime)) * 1e6).toLong
    val out = new Records(o.out)
    val tracer = new Tracer(o.trace)
    out.emit("record", "spark" -> org.apache.spark.SPARK_VERSION,
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "cores" -> o.cores, "nproc" -> Runtime.getRuntime.availableProcessors,
      "spin_s" -> Noise.spinSec(), "load5" -> Noise.load5(),
      "cpu_avg300" -> Noise.cpuAvg300())
    val registry = SparkEntry.queries

    // set-up, several times; the first one counts from process start
    var spark: SparkSession = null
    (0 until o.setups).foreach { i =>
      if (spark != null) stop(spark)
      val t0 = if (i == 0)
        System.nanoTime() - (System.currentTimeMillis() -
          ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
      else System.nanoTime()
      val (s, rec) = tracer.span("setup", i.toString) {
        val t1 = System.nanoTime()
        val s = tracer.span("session")(GraftSession
          .builder(s"local[${o.cores}]", shufflePartitions = o.cores)
          .getOrCreate())
        s.sparkContext.setLogLevel("ERROR")
        tracer.attach(s)
        val t2 = System.nanoTime()
        // the workload's input tables, resolved through graft's loaders
        tracer.span("input_prep") {
          o.tables.foreach(t => loaders(t)(s, o.data).schema)
          if (o.mode == "stream") Sources.eventStream(s, o.chunks).schema
        }
        val t3 = System.nanoTime()
        val smoke = tracer.span("smoke")(checksum(registry(SmokeKey)(s, o.data)))
        val t4 = System.nanoTime()
        (s, Seq("i" -> i, "jvm_start_ms" -> ms(t0, t1),
          "session_ms" -> ms(t1, t2), "input_prep_ms" -> ms(t2, t3),
          "smoke_ms" -> ms(t3, t4), "total_ms" -> ms(t0, t4),
          "xor" -> smoke._1, "count" -> smoke._2))
      }
      spark = s
      out.emit("setup", rec: _*)
    }

    val ctx = new Ctx(spark, o, out, tracer, registry, deadlineNs)
    o.mode match {
      case "batch" | "survey" => ctx.batch()
      case "stream" => ctx.stream()
      case m => sys.error(s"unknown mode $m")
    }
    out.emit("end", "peak_rss_kb" -> Noise.peakRssKb(),
      "spin_s" -> Noise.spinSec(), "load5" -> Noise.load5(),
      "cpu_avg300" -> Noise.cpuAvg300())
    stop(spark) // drains the listener bus before spans are resolved
    if (o.trace) tracer.spansOut.foreach { sp =>
      out.emit("span", Seq("id" -> sp.id, "name" -> sp.name,
        "label" -> sp.label, "parent" -> sp.parent,
        "start_ms" -> sp.startNs / 1e6, "end_ms" -> sp.endNs / 1e6) ++
        sp.counters.toSeq: _*)
    }
    out.close()
  }

  val loaders: Map[String, (SparkSession, String) => DataFrame] = Map(
    "region" -> Tables.region, "nation" -> Tables.nation,
    "customer" -> Tables.customer, "supplier" -> Tables.supplier,
    "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def ms(a: Long, b: Long): Double = (b - a) / 1e6

  /** xxhash64 of every output column, folded with bit_xor, plus the
    * row count: evaluates the whole result while one row reaches the
    * driver. Map columns are hashed through to_json. */
  def digestCols(df: DataFrame) = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => to_json(df.col(s"`${f.name}`"))
        case _          => df.col(s"`${f.name}`")
      }
    }
    xxhash64(cols: _*).as("h")
  }

  def checksum(df: DataFrame): (Long, Long) = {
    val r = df.select(digestCols(df))
      .agg(expr("bit_xor(h)"), count(lit(1))).head()
    (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
  }

}

/** One workload run inside one session. */
final class Ctx(spark: SparkSession, o: Main.Opts, out: Records,
                tracer: Tracer,
                registry: Map[String, (SparkSession, String) => DataFrame],
                deadlineNs: Long) {
  import Main._

  /** Cold pass, then warm passes until the run's deadline. The first
    * `minWarm` warm passes run whole; a later pass stops at the
    * deadline between two operations, so a run overruns it by at most
    * one operation. In a traced run warm passes alternate traced and
    * untraced, which gives the tracing overhead. */
  private def passes(ops: Int => Seq[String])(run: (String, Int) => Unit): Unit = {
    val minWarm = if (o.trace) math.max(o.minWarm, 2) else o.minWarm
    def late = System.nanoTime() > deadlineNs
    var p = 0
    while (p <= minWarm || !late) {
      tracer.enabled = o.trace && (p == 0 || p % 2 == 1)
      val start = System.nanoTime()
      val todo = ops(p)
      val done = tracer.span("pass", p.toString) {
        todo.iterator.takeWhile(_ => p <= minWarm || !late).map(run(_, p)).size
      }
      val wall = ms(start, System.nanoTime())
      val live: Seq[(String, Any)] = if (!tracer.enabled) Nil else Seq(
        "framecache_live" -> FrameCache.protectedIds.size,
        "storage_bytes" -> spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum)
      out.emit("pass", Seq("pass" -> p, "wall_ms" -> wall,
        "traced" -> tracer.enabled, "whole" -> (done == todo.size)) ++ live: _*)
      System.gc() // between passes, outside every timed window
      p += 1
      if (o.mode == "survey" && p == 2) return
    }
  }

  def batch(): Unit = {
    val keys = if (o.mode == "survey" && o.keys.isEmpty) registry.keys.toSeq.sorted
               else o.keys
    // The cold pass keeps the listed order: a shared frame's build
    // lands on whichever family member runs first, and a seed-chosen
    // builder moved cold_pass_s by a quarter between seeds. Warm
    // passes run in a seed-permuted order.
    passes(p => if (p == 0) keys else new Random(o.seed * 1000003L + p).shuffle(keys)) {
      (k, p) =>
        tracer.span("query", k)(query(k, p))
        val c0 = System.nanoTime()
        tracer.span("cleanup", k)(cleanup())
        out.emit("cleanup", "pass" -> p, "key" -> k,
          "ms" -> ms(c0, System.nanoTime()))
    }
  }

  private def query(k: String, p: Int): Unit = {
    val a = System.nanoTime()
    var phase = "plan_build"
    var b = a
    val rec: Seq[(String, Any)] = try {
      val df = tracer.span("plan_build", k)(registry(k)(spark, o.data))
      b = System.nanoTime()
      phase = "action"
      val (x, n) = tracer.span("action", k)(checksum(df))
      Seq("ok" -> true, "xor" -> x, "count" -> n)
    } catch {
      case NonFatal(e) =>
        if (phase == "plan_build") b = System.nanoTime()
        Seq("ok" -> false, "phase" -> phase, "error" -> e.getClass.getName,
          "message" -> String.valueOf(e.getMessage).take(300))
    }
    val c = System.nanoTime()
    out.emit("query", Seq("pass" -> p, "key" -> k,
      "plan_ms" -> ms(a, b), "action_ms" -> ms(b, c)) ++ rec: _*)
  }

  /** Query-boundary cleanup, as graft.Bench does it: unpersist every
    * block except the FrameCache's shared frames, blocking. */
  private def cleanup(): Unit = {
    val keep = FrameCache.protectedIds
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep.contains(id)) rdd.unpersist(blocking = true)
    }
  }

  def stream(): Unit = {
    if (o.state == "rocksdb") GraftSession.useRocksDBStateStore(spark)
    passes(_ => o.ops)((op, p) => tracer.span("operator", op)(replay(op, p)))
  }

  /** Replays the chunk files through one operator with
    * Trigger.AvailableNow, one chunk per trigger, on a fresh
    * checkpoint. The sink folds each micro-batch into a digest on the
    * executors; only that digest reaches the driver. */
  private def replay(op: String, p: Int): Unit = {
    val ckpt = new File(o.work, s"ckpt-$p-$op")
    val digest = new StreamDigest(StreamOps.updateKey(op))
    val start = System.nanoTime()
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    val rec: Seq[(String, Any)] = try {
      // the chunk directories add a `chunk` partition column; the
      // operators see the events table's own columns only
      val events = Sources.eventStream(spark, o.chunks)
        .select(Sources.eventSchema.fieldNames.toSeq.map(col): _*)
      val sink: (DataFrame, Long) => Unit = (df, _) => digest.add(df)
      q = StreamOps.build(op, spark, events).writeStream
        .outputMode(StreamOps.mode(op))
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt.getPath)
        .foreachBatch(sink)
        .start()
      tracer.triggers(q.id)
      q.awaitTermination()
      Seq("ok" -> true, "xor" -> digest.xor, "count" -> digest.rows)
    } catch {
      case NonFatal(e) =>
        if (q != null) q.stop()
        Seq("ok" -> false, "phase" -> "trigger", "error" -> e.getClass.getName,
          "message" -> String.valueOf(e.getMessage).take(300))
    }
    val wall = ms(start, System.nanoTime())
    val progress = Option(q).map(_.recentProgress.toSeq).getOrElse(Nil)
    out.emit("op", Seq("pass" -> p, "op" -> op, "wall_ms" -> wall,
      "triggers" -> progress.map(_.batchDuration.toDouble),
      "input_rows" -> progress.map(_.numInputRows),
      "dropped" -> progress.flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark).sum) ++ rec: _*)
    deleteTree(ckpt)
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** The stream operators the benchmark replays, by name. */
object StreamOps {
  def build(op: String, s: SparkSession, ev: DataFrame): DataFrame = op match {
    case "debounce" => ReactiveStreams.debounce(s, ev).toDF()
    case "sessionCappedStream" => ReactiveStreams.sessionCappedStream(s, ev).toDF()
    case "funnelStream" => ReactiveStreams.funnelStream(s, ev).toDF()
    case "withLatestFrom" => ReactiveStreams.withLatestFrom(s, ev).toDF()
    case "runningTopK" => ReactiveStreams.runningTopK(s, ev).toDF()
    case "dedupStream" => ReactiveStreams.dedupStream(ev)
    case "rateLimitStream" => ReactiveStreams.rateLimitStream(s, ev).toDF()
    case "streamStreamJoin" => ReactiveStreams.streamStreamJoin(ev)
  }
  def mode(op: String): String = if (op == "runningTopK") "update" else "append"
  /** Update-mode operators re-emit a key's whole current result; the
    * final output is each key's last emission. */
  def updateKey(op: String): Option[String] =
    if (op == "runningTopK") Some("user_id") else None
}

/** Order-independent digest of a stream's final output, folded on the
  * executors one micro-batch at a time. */
final class StreamDigest(updateKey: Option[String]) {
  private var x = 0L
  private var n = 0L
  private val last = mutable.HashMap.empty[Long, (Long, Long)]

  def add(df: DataFrame): Unit = updateKey match {
    case None =>
      val (bx, bn) = Main.checksum(df)
      x ^= bx; n += bn
    case Some(k) =>
      df.select(col(k), Main.digestCols(df)).groupBy(col(k))
        .agg(expr("bit_xor(h)"), count(lit(1))).collect()
        .foreach(r => last(r.getLong(0)) = (r.getLong(1), r.getLong(2)))
  }
  def xor: Long = if (updateKey.isEmpty) x else last.values.map(_._1).foldLeft(0L)(_ ^ _)
  def rows: Long = if (updateKey.isEmpty) n else last.values.map(_._2).sum
}

/** Host-noise readings recorded with every run: a fixed-work spin
  * (tools/noise_probe.py's single-thread probe, inlined as
  * graft.Bench does), the 5-minute load average and CPU pressure. */
object Noise {
  def spinSec(): Double = {
    val t0 = System.nanoTime()
    var x = 0L; var i = 0
    while (i < 400000000) { x += i & 7; i += 1 }
    require(x > 0)
    (System.nanoTime() - t0) / 1e9
  }
  private def read(p: String): Option[String] =
    try Some(new String(Files.readAllBytes(Paths.get(p)), "UTF-8"))
    catch { case NonFatal(_) => None }
  def load5(): Double =
    read("/proc/loadavg").map(_.split(" ")(1).toDouble).getOrElse(-1.0)
  def cpuAvg300(): Double = read("/proc/pressure/cpu").flatMap(
    _.linesIterator.find(_.startsWith("some")).flatMap(
      _.split(" ").find(_.startsWith("avg300="))
        .map(_.stripPrefix("avg300=").toDouble))).getOrElse(-1.0)
  def peakRssKb(): Long = read("/proc/self/status").flatMap(
    _.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong)).getOrElse(-1L)
}

/** JSON-lines writer for the run's records. */
final class Records(path: String) {
  private val w = new PrintWriter(path, "UTF-8")
  def emit(kind: String, fields: (String, Any)*): Unit = {
    w.println((("type" -> kind) +: fields)
      .map { case (k, v) => s"${Records.str(k)}:${Records.value(v)}" }
      .mkString("{", ",", "}"))
    w.flush()
  }
  def close(): Unit = w.close()
}

object Records {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
