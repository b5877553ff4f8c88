package perfbench

import java.lang.management.ManagementFactory
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.FrameCache

/** One timed region of a traced run: name, start, end, parent. Its
  * counters are what the layers reported inside it. */
final class Span(val id: Int, val name: String, val label: String,
                 val parent: Int, val startNs: Long) {
  var endNs: Long = -1L
  val counters = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit =
    counters(k) = counters.getOrElse(k, 0.0) + v
}

/** Spans of the benchmark's own calls into each layer, plus the
  * counters Spark's public hooks report for them. Everything stays in
  * memory until the run ends. When tracing is off, `span` runs its
  * body and records nothing, and no listener is registered.
  *
  * Attribution: while a span is open its id rides the SparkContext
  * local property [[Tracer.SpanKey]], so every job submitted from the
  * benchmark thread (eager probes inside a plan build included)
  * carries it. Streaming jobs run on the query's own thread and are
  * attributed by query id and batch id instead. Listener events are
  * asynchronous; they are resolved to spans after the listener bus is
  * drained by `SparkSession.stop`. */
final class Tracer(val on: Boolean) {
  import Tracer._
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var spark: SparkSession = _
  /** Untraced passes of a traced run switch this off. */
  var enabled: Boolean = on
  private val wall0Ms = System.currentTimeMillis()
  private val nano0 = System.nanoTime()

  // listener-side tables, keyed by attribution key
  private val byKey = mutable.HashMap.empty[String, mutable.HashMap[String, Double]]
  private val stageKey = mutable.HashMap.empty[Int, String]
  private val execKey = mutable.HashMap.empty[Long, String]
  private val execPhases = mutable.ArrayBuffer.empty[(Long, Map[String, Double])]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  def attach(s: SparkSession): Unit = {
    spark = s
    if (on) {
      s.sparkContext.addSparkListener(new Jobs)
      s.listenerManager.register(new Phases)
      s.streams.addListener(new Progress)
    }
  }

  def span[T](name: String, label: String = "")(body: => T): T = {
    if (!enabled) return body
    val parent = stack.headOption
    val sp = new Span(spans.size, name, label, parent.fold(-1)(_.id),
      System.nanoTime())
    spans += sp
    stack = sp :: stack
    val before = snapshot()
    live.foreach(_.sparkContext.setLocalProperty(SpanKey, sp.id.toString))
    try body
    finally {
      val after = snapshot()
      sp.endNs = System.nanoTime()
      sp.add("codegen.compiles", after.compiles - before.compiles)
      sp.add("codegen.compile_ms", after.compileMs - before.compileMs)
      sp.add("driver.gc_ms", after.gcMs - before.gcMs)
      sp.add("storage.rdds_persisted", (after.persisted -- before.persisted).size)
      sp.add("framecache.rdds_built",
        math.max(0, after.protectedIds - before.protectedIds))
      stack = stack.tail
      live.foreach(_.sparkContext.setLocalProperty(SpanKey,
        parent.map(_.id.toString).orNull))
    }
  }

  /** Marks the open operator span as the parent of the triggers of
    * streaming query `queryId`; they are built from its progress
    * reports once the listener bus is drained. */
  def triggers(queryId: java.util.UUID): Unit =
    if (enabled) stack.headOption.foreach(sp => opSpans(queryId) = sp.id)
  private val opSpans = mutable.HashMap.empty[java.util.UUID, Int]
  private val streamKeys = mutable.HashMap.empty[String, Int]

  private def triggerSpan(p: StreamingQueryProgress, parent: Int): Unit = {
    val startMs = Instant.parse(p.timestamp).toEpochMilli
    val start = nano0 + (startMs - wall0Ms) * 1000000L
    val sp = new Span(spans.size, "trigger", p.batchId.toString, parent, start)
    sp.endNs = start + p.batchDuration * 1000000L
    spans += sp
    sp.add("stream.triggers", 1)
    sp.add("stream.input_rows", p.numInputRows.toDouble)
    val d = p.durationMs.asScala
    Seq("latestOffset" -> "source.latest_offset_ms",
      "getBatch" -> "source.get_batch_ms",
      "addBatch" -> "stream.add_batch_ms",
      "queryPlanning" -> "stream.planning_ms",
      "walCommit" -> "stream.wal_commit_ms",
      "commitOffsets" -> "stream.commit_offsets_ms").foreach {
      case (k, m) => sp.add(m, d.get(k).map(_.toDouble).getOrElse(0.0))
    }
    p.stateOperators.foreach { s =>
      sp.add("state.rows_updated", s.numRowsUpdated.toDouble)
      sp.add("state.rows_removed", s.numRowsRemoved.toDouble)
      sp.add("state.update_ms", s.allUpdatesTimeMs.toDouble)
      sp.add("state.removal_ms", s.allRemovalsTimeMs.toDouble)
      sp.add("state.commit_ms", s.commitTimeMs.toDouble)
      sp.add("state.rows_total", s.numRowsTotal.toDouble)
      sp.add("state.memory_bytes", s.memoryUsedBytes.toDouble)
      sp.add("state.rows_dropped_by_watermark",
        s.numRowsDroppedByWatermark.toDouble)
    }
    streamKeys(s"q:${p.id}:${p.batchId}") = sp.id
  }

  /** Resolves listener counters onto spans; call once the last
    * session is stopped (its listener bus drained). */
  def spansOut: Seq[Span] = {
    progress.foreach(p => opSpans.get(p.id).foreach(triggerSpan(p, _)))
    def spanOf(key: String): Option[Span] =
      if (key.startsWith("q:")) streamKeys.get(key).map(spans(_))
      else key.toIntOption.filter(_ < spans.size).map(spans(_))
    byKey.foreach { case (k, cs) =>
      spanOf(k).foreach(sp => cs.foreach { case (c, v) => sp.add(c, v) })
    }
    execPhases.foreach { case (id, phases) =>
      execKey.get(id).flatMap(spanOf).foreach(sp =>
        phases.foreach { case (c, v) => sp.add(c, v) })
    }
    spans.toSeq
  }

  private final case class Snap(compiles: Double, compileMs: Double,
                                gcMs: Double, persisted: Set[Int],
                                protectedIds: Int)
  private def snapshot(): Snap = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    val s = h.getSnapshot
    // the histogram keeps every sample up to its reservoir size;
    // past that the sum is estimated from the mean
    val ms = if (n <= s.size) s.getValues.map(_.toDouble).sum
             else s.getMean * n
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
    Snap(n.toDouble, ms, gc.toDouble,
      live.map(_.sparkContext.getPersistentRDDs.keySet.toSet)
        .getOrElse(Set.empty),
      FrameCache.protectedIds.size)
  }

  /** The attached session, unless it is not there yet or stopped
    * (set-up spans open before the session exists). */
  private def live: Option[SparkSession] =
    Option(spark).filterNot(_.sparkContext.isStopped)

  private def add(key: String, c: String, v: Double): Unit = synchronized {
    val m = byKey.getOrElseUpdate(key, mutable.HashMap.empty)
    m(c) = m.getOrElse(c, 0.0) + v
  }

  private final class Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      if (p == null) return
      // a streaming query's thread inherits the span property of the
      // operator span that started it, so its own ids decide first
      val key = (for {
        q <- Option(p.getProperty("sql.streaming.queryId"))
        b <- Option(p.getProperty("streaming.sql.batchId"))
      } yield s"q:$q:$b").orElse(Option(p.getProperty(SpanKey)))
      key.foreach { k =>
        Tracer.this.synchronized {
          e.stageIds.foreach(stageKey(_) = k)
          Option(p.getProperty("spark.sql.execution.id"))
            .flatMap(_.toLongOption).foreach(execKey(_) = k)
        }
        add(k, "scheduler.jobs", 1)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      keyOf(e.stageInfo.stageId).foreach(add(_, "scheduler.stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      keyOf(e.stageId).foreach { k =>
        add(k, "scheduler.tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          add(k, "executor.run_ms", m.executorRunTime.toDouble)
          add(k, "executor.cpu_ms", m.executorCpuTime / 1e6)
          add(k, "executor.gc_ms", m.jvmGCTime.toDouble)
          add(k, "executor.input_bytes", m.inputMetrics.bytesRead.toDouble)
          add(k, "scheduler.deserialize_ms", m.executorDeserializeTime.toDouble)
          add(k, "shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add(k, "shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          add(k, "shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
          add(k, "shuffle.spill_bytes",
            (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          add(k, "driver.result_bytes", m.resultSize.toDouble)
        }
      }
    private def keyOf(stage: Int): Option[String] =
      Tracer.this.synchronized(stageKey.get(stage))
  }

  private final class Phases extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Double = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      Tracer.this.synchronized {
        execPhases += qe.id -> Map(
          "catalyst.analysis_ms" -> ms("analysis"),
          "catalyst.optimization_ms" -> ms("optimization"),
          "catalyst.planning_ms" -> ms("planning"),
          "catalyst.executions" -> 1.0)
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private final class Progress extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized(progress += e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}
