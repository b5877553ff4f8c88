package graft.streaming

import java.nio.ByteBuffer
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming forms of the reactive operator algebra: the
  * genuinely *unbounded* semantics (watermarks, per-key state,
  * event-time timeouts) that the batch twins in
  * [[graft.operators.Reactive]] can't carry.
  *
  * Input contract: any streaming DataFrame with the `events` schema
  * (event_id long, ts timestamp, user_id long, event_type string,
  * value double). Tests drive these with MemoryStream; production
  * would use kafka/file sources — the plans are source-agnostic.
  *
  * Scale design: all stateful operators key state by `user_id`, so
  * state is sharded across executors by the same single shuffle the
  * batch forms use. State lifetime is explicit per operator:
  * deadline ops (debounce, timeoutDetect) evict via event-time
  * timeouts; enrichment ops (withLatestFrom, combineLatest) take an
  * optional `idleTtl` that evicts keys idle past the TTL — the
  * 100 TB knob, since without it "latest value per key" state grows
  * with every key EVER seen, not active ones; recurrence ops (scan,
  * EWMA, funnel, retryWhen, packing, buffers, top-k) hold state by
  * semantic necessity — evicting would corrupt the recurrence — so
  * their state is O(distinct keys) by contract and documented as
  * such. Output modes chosen so sinks see append-only streams (no
  * unbounded result re-emission).
  *
  * ORDERING PRECONDITION (order-sensitive stateful twins): operators
  * that fold per-key state in sequence order — scan/EWMA/CUSUM,
  * [[twapStream]], [[dwellStream]], [[drawdownStream]], pairwise,
  * distinctUntilChanged — sort each micro-batch's rows by `event_id`
  * BEFORE folding, which restores order only WITHIN a trigger. Across
  * triggers the fold runs in arrival order: an event delivered in a
  * later trigger with a smaller event_id than one already folded is
  * applied late, and the result diverges from the order-insensitive
  * batch twin (a late trough after the peak was raised, a late event
  * splicing into a closed dwell). The contract is therefore
  * PER-KEY MONOTONE DELIVERY ACROSS TRIGGERS: each key's events must
  * reach the stream in non-decreasing event_id order at trigger
  * granularity — what a partitioned log (kafka keyed by user_id)
  * gives naturally. Sources that cannot guarantee it must buffer
  * reorder upstream (or accept the divergence); the batch twins
  * remain the order-insensitive ground truth.
  */
object ReactiveStreams {
  case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
                event_type: String, value: Double)

  /** Windowed aggregate with watermark (Rx window/buffer-by-time):
    * append-mode tumbling windows finalize once the watermark passes. */
  def windowedAgg(events: DataFrame, window_ : String = "1 hour",
                  watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("win_sum"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("win_sum"))

  /** Session windows (gap-close semantics) with watermark. */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes",
                 watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sess_sum"))
      .select(col("session_window.start").as("sess_start"), col("user_id"),
        col("n"), col("sess_sum"))

  /** Streaming distinctUntilChanged: emit only elements whose
    * event_type differs from the key's previous element. Per-key
    * last-value state via flatMapGroupsWithState. */
  def distinctUntilChanged(spark: SparkSession, events: DataFrame)
      : Dataset[Ev] = {
    import spark.implicits._
    events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[String, Ev](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[Ev], state: GroupState[String]) =>
          // micro-batch arrival order is not event order — sort by seq
          val sorted = rows.toSeq.sortBy(_.event_id)
          val out = scala.collection.mutable.ArrayBuffer[Ev]()
          var last = state.getOption
          sorted.foreach { e =>
            if (!last.contains(e.event_type)) { out += e; last = Some(e.event_type) }
          }
          last.foreach(state.update)
          out.iterator
      }
  }

  /** Streaming throttleFirst: at most one element per key per
    * `intervalMs`, state = end of current throttle window. */
  def throttleFirst(spark: SparkSession, events: DataFrame,
                    intervalMs: Long = 3600000L): Dataset[Ev] = {
    import spark.implicits._
    events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, Ev](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[Ev], state: GroupState[Long]) =>
          val sorted = rows.toSeq.sortBy(_.event_id)
          val out = scala.collection.mutable.ArrayBuffer[Ev]()
          var windowEnd = state.getOption.getOrElse(Long.MinValue)
          sorted.foreach { e =>
            val t = e.ts.getTime
            if (t >= windowEnd) { out += e; windowEnd = t + intervalMs }
          }
          state.update(windowEnd)
          out.iterator
      }
  }

  /** Streaming debounce: an element is emitted only once its key has
    * been silent for `gapMs` (event-time timeout flushes the last
    * pending element; a newer element replaces the pending one). */
  case class Pending(ev: Ev, deadlineMs: Long)
  def debounce(spark: SparkSession, events: DataFrame,
               gapMs: Long = 600000L): Dataset[Ev] = {
    import spark.implicits._
    events
      .withWatermark("ts", "2 hours")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Pending, Ev](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, rows: Iterator[Ev], state: GroupState[Pending]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(_.ev)
            state.remove()
            out.iterator
          } else {
            val sorted = rows.toSeq.sortBy(_.event_id)
            val out = scala.collection.mutable.ArrayBuffer[Ev]()
            var pending = state.getOption
            sorted.foreach { e =>
              pending.foreach { p =>
                if (e.ts.getTime - p.ev.ts.getTime >= gapMs) out += p.ev
              }
              pending = Some(Pending(e, e.ts.getTime + gapMs))
            }
            pending.foreach { p =>
              state.update(p)
              state.setTimeoutTimestamp(p.deadlineMs)
            }
            out.iterator
          }
      }
  }

  /** Streaming scan: running per-key fold emitted per element. */
  case class Scanned(event_id: Long, user_id: Long, running_value: Double,
                     running_n: Long)
  def scan(spark: SparkSession, events: DataFrame): Dataset[Scanned] = {
    import spark.implicits._
    events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Double, Long), Scanned](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[(Double, Long)]) =>
          var (acc, n) = state.getOption.getOrElse((0.0, 0L))
          val out = rows.toSeq.sortBy(_.event_id).map { e =>
            acc += e.value; n += 1
            Scanned(e.event_id, uid, acc, n)
          }
          state.update((acc, n))
          out.iterator
      }
  }

  /** Streaming per-key EWMA: the unbounded twin of
    * [[graft.operators.Reactive.rxEwma]]. State per key = the running
    * average wrapped in an Option — the explicit "uninitialized"
    * marker, NOT a NaN sentinel: a genuine NaN input must poison the
    * recurrence exactly like the batch twin and the oracle's
    * recursive CTE do, not re-seed it. Rows are event_id-ordered
    * WITHIN each trigger only; across triggers arrival order governs,
    * so an event delivered in a later micro-batch with a smaller
    * event_id folds in late and diverges from the batch twin's
    * globally-ordered result — callers needing exact batch parity
    * must deliver per-key events in event_id order. */
  case class EwmaRow(event_id: Long, user_id: Long, value: Double,
                     ewma: Double)
  def ewmaStream(spark: SparkSession, events: DataFrame,
                 alpha: Double = 0.25): Dataset[EwmaRow] = {
    import spark.implicits._
    events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Option[Double], EwmaRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[Option[Double]]) =>
          var ewma = state.getOption.flatten
          val out = rows.toSeq.sortBy(_.event_id).map { e =>
            ewma = Some(ewma.fold(e.value)(s =>
              alpha * e.value + (1 - alpha) * s))
            EwmaRow(e.event_id, uid, e.value, ewma.get)
          }
          state.update(ewma)
          out.iterator
      }
  }

  /** Streaming Holt double exponential smoothing: the unbounded twin
    * of [[graft.operators.Reactive.rxHolt]]. State per key = the
    * (level, trend) pair wrapped in an Option (the explicit
    * uninitialized marker — a genuine NaN input must poison the
    * 2-term recurrence exactly like the batch twin, not re-seed it).
    * Same within-trigger event_id ordering contract as
    * [[ewmaStream]]: across triggers arrival order governs, so exact
    * batch parity requires per-key event_id-ordered delivery. */
  case class HoltRow(event_id: Long, user_id: Long, value: Double,
                     level: Double, trend: Double, forecast: Double)
  def holtStream(spark: SparkSession, events: DataFrame,
                 alpha: Double = 0.25, beta: Double = 0.25)
      : Dataset[HoltRow] = {
    import spark.implicits._
    events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Option[(Double, Double)], HoltRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev],
         state: GroupState[Option[(Double, Double)]]) =>
          var st = state.getOption.flatten
          val out = rows.toSeq.sortBy(_.event_id).map { e =>
            st = Some(st.fold((e.value, 0.0)) { case (l, t) =>
              val lNew = alpha * e.value + (1 - alpha) * (l + t)
              (lNew, beta * (lNew - l) + (1 - beta) * t)
            })
            val (l, t) = st.get
            HoltRow(e.event_id, uid, e.value, l, t, l + t)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Streaming Bollinger breakout flags: the unbounded twin of
    * [[graft.operators.Reactive.rxBollinger]]. State per key = the
    * last `window`−1 cents (a bounded ring — the rolling ROWS frame
    * carried across triggers), so each arrival judges itself against
    * its trailing window with the batch twin's EXACT integer rule
    * (n·x − Σ)² > 4(nΣx² − Σ²); cents quantize with the
    * DECIMAL(18,2) HALF_UP valueOf rule ([[cusumStream]]'s pin), so
    * verdicts equal the batch op bit-for-bit across trigger splits.
    * Same within-trigger event_id ordering contract as
    * [[ewmaStream]]. */
  case class BollingerRow(user_id: Long, event_id: Long, cents: Long,
                          n_window: Long, band: String)
  def bollingerStream(spark: SparkSession, events: DataFrame,
                      window: Int = 8): Dataset[BollingerRow] = {
    import spark.implicits._
    events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[Long], BollingerRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[List[Long]]) =>
          var ring = state.getOption.getOrElse(Nil) // newest first
          val out = rows.toSeq.sortBy(_.event_id).map { e =>
            val x = java.math.BigDecimal.valueOf(e.value)
              .setScale(2, java.math.RoundingMode.HALF_UP)
              .unscaledValue().longValueExact()
            val frame = x :: ring.take(window - 1)
            val n = frame.length.toLong
            // moments as BigInt: the same overflow headroom the
            // batch op's DECIMAL(38,0) ride gives
            val sx = frame.foldLeft(BigInt(0))(_ + BigInt(_))
            val sxx = frame.foldLeft(BigInt(0))((a, v) =>
              a + BigInt(v) * BigInt(v))
            val dev = BigInt(n) * BigInt(x) - sx
            val band =
              if (dev * dev > (BigInt(n) * sxx - sx * sx) * 4)
                (if (dev > 0) "above" else "below")
              else "in"
            ring = frame
            BollingerRow(uid, e.event_id, x, n, band)
          }
          state.update(ring.take(window - 1))
          out.iterator
      }
  }

  /** Streaming (running) Theil–Sen trend: the unbounded twin of
    * [[graft.operators.Reactive.rxTheilSen]] in the
    * running-top-k sense — each arrival re-emits the key's current
    * last-`n` median slope, so the LAST emission per key over a
    * bounded replay equals the batch op (spec-asserted). State per
    * key = the last `n` (event_id, value) points — the same bounded
    * ring that caps the batch op's pair fan-out caps the state here;
    * each arrival recomputes ≤ n(n−1)/2 = 496 slope doubles in one
    * tight local loop (the per-event cost a live robust-drift
    * monitor pays by definition). */
  case class TheilSenRow(user_id: Long, event_id: Long,
                         n_points: Long, n_pairs: Long,
                         slope_median: Option[Double])
  def theilSenStream(spark: SparkSession, events: DataFrame,
                     n: Int = 32): Dataset[TheilSenRow] = {
    import spark.implicits._
    events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[(Long, Double)], TheilSenRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev],
         state: GroupState[List[(Long, Double)]]) =>
          var pts = state.getOption.getOrElse(Nil) // newest first
          val out = rows.toSeq.sortBy(_.event_id).map { e =>
            pts = ((e.event_id, e.value) :: pts).take(n)
            val asc = pts.reverse.toArray // event_id ascending
            val slopes = (for {
              j <- 1 until asc.length
              i <- 0 until j
            } yield (asc(j)._2 - asc(i)._2) /
                (asc(j)._1 - asc(i)._1).toDouble).sorted
            val med = if (slopes.isEmpty) None
              else Some(slopes((slopes.length + 1) / 2 - 1))
            TheilSenRow(uid, e.event_id, asc.length.toLong,
              slopes.length.toLong, med)
          }
          state.update(pts)
          out.iterator
      }
  }

  /** Streaming (running) cadence regularity: the unbounded twin of
    * [[graft.operators.Reactive.rxCadence]] — each arrival updates
    * the key's gap moments and re-emits the running CV²·ppm verdict,
    * so the last emission per key over a bounded replay equals the
    * batch op for every key with ≥ 2 positive gaps (spec-asserted).
    * State is O(1) per key: (last-ms, count, Σg, min, max) as longs
    * plus Σg² as BigInteger BYTES — gap² summed over an unbounded
    * stream exceeds any fixed-width type eventually, and the batch
    * op's DECIMAL(38,0) exactness contract must survive streaming,
    * so the state carries arbitrary precision (a few dozen bytes)
    * rather than a lossy double. The emission arithmetic is the
    * identical division-free n·Σg²·10⁶ div (Σg)² − 10⁶. */
  case class CadenceRow(user_id: Long, event_id: Long, n_gaps: Long,
                        mean_gap_ms: Long, min_gap_ms: Long,
                        max_gap_ms: Long, cv2_ppm: Option[Long])
  def cadenceStream(spark: SparkSession, events: DataFrame)
      : Dataset[CadenceRow] = {
    import spark.implicits._
    events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[
        (Long, Long, Long, Long, Long, Array[Byte]), CadenceRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev],
         state: GroupState[(Long, Long, Long, Long, Long, Array[Byte])]) =>
          var (lastMs, cnt, sg, mn, mx, sqB) = state.getOption
            .getOrElse((Long.MinValue, 0L, 0L, Long.MaxValue,
              Long.MinValue, java.math.BigInteger.ZERO.toByteArray))
          var sq = new java.math.BigInteger(sqB)
          val out = rows.toSeq.sortBy(_.event_id).flatMap { e =>
            val ms = e.ts.getTime
            val g = if (lastMs == Long.MinValue) 0L else ms - lastMs
            lastMs = ms
            if (g > 0) {
              cnt += 1; sg += g
              mn = math.min(mn, g); mx = math.max(mx, g)
              sq = sq.add(java.math.BigInteger.valueOf(g)
                .multiply(java.math.BigInteger.valueOf(g)))
            }
            if (cnt == 0) None
            else {
              val cv2 =
                if (cnt < 2) None
                else {
                  val sgB = java.math.BigInteger.valueOf(sg)
                  Some(java.math.BigInteger.valueOf(cnt)
                    .multiply(sq)
                    .multiply(java.math.BigInteger.valueOf(1000000L))
                    .divide(sgB.multiply(sgB))
                    .subtract(java.math.BigInteger.valueOf(1000000L))
                    .longValueExact())
                }
              Some(CadenceRow(uid, e.event_id, cnt, sg / cnt, mn, mx,
                cv2))
            }
          }
          state.update((lastMs, cnt, sg, mn, mx, sq.toByteArray))
          out.iterator
      }
  }

  /** Streaming (running) Kendall τ_a: the unbounded twin of
    * [[graft.operators.Reactive.rxKendallTau]] — each arrival
    * re-counts concordant/discordant pairs over the key's last-32
    * point ring (the same cap that bounds the batch fan-out bounds
    * the state, ≤ 496 integer comparisons per event) and re-emits
    * the running τ_a in exact ppm; last emission per key ≡ the
    * batch op (spec-asserted), because the batch op is ALSO the
    * capped last-32 form. */
  case class KendallRow(user_id: Long, event_id: Long, n_points: Long,
                        n_pairs: Long, n_concordant: Long,
                        n_discordant: Long, tau_a_ppm: Long)
  def kendallStream(spark: SparkSession, events: DataFrame,
                    n: Int = 32): Dataset[KendallRow] = {
    import spark.implicits._
    events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[(Long, Double)], KendallRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev],
         state: GroupState[List[(Long, Double)]]) =>
          var pts = state.getOption.getOrElse(Nil) // newest first
          val out = rows.toSeq.sortBy(_.event_id).map { e =>
            pts = ((e.event_id, e.value) :: pts).take(n)
            val asc = pts.reverse.toArray // event_id ascending
            var conc = 0L
            var disc = 0L
            for (j <- 1 until asc.length; i <- 0 until j) {
              if (asc(i)._2 < asc(j)._2) conc += 1
              else if (asc(i)._2 > asc(j)._2) disc += 1
            }
            val np = asc.length.toLong * (asc.length - 1) / 2
            KendallRow(uid, e.event_id, asc.length.toLong, np, conc,
              disc, if (np > 0) (conc - disc) * 1000000L / np else 0L)
          }
          state.update(pts)
          out.iterator
      }
  }

  /** Streaming (running) longest increasing subsequence: the
    * unbounded twin of [[graft.operators.Reactive.rxLis]] in the
    * running sense — each arrival performs the same patience-tails
    * insertion step (replace the first tail ≥ v, else append) and
    * re-emits the key's current LIS length, so the LAST emission per
    * key over a bounded replay equals the batch op (spec-asserted).
    * State per key = the tails array itself — O(current LIS), NOT
    * the series: the fold never needs history beyond the tails,
    * which is what makes LIS streamable at all. */
  case class LisRow(user_id: Long, event_id: Long, n: Long,
                    lis_len: Long)
  def lisStream(spark: SparkSession, events: DataFrame)
      : Dataset[LisRow] = {
    import spark.implicits._
    events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Vector[Double]), LisRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev],
         state: GroupState[(Long, Vector[Double])]) =>
          var (cnt, tails) =
            state.getOption.getOrElse((0L, Vector.empty[Double]))
          val out = rows.toSeq.sortBy(_.event_id).map { e =>
            val i = tails.count(_ < e.value) // batch insertion point
            tails = if (i == tails.length) tails :+ e.value
                    else tails.updated(i, e.value)
            cnt += 1
            LisRow(uid, e.event_id, cnt, tails.length.toLong)
          }
          state.update((cnt, tails))
          out.iterator
      }
  }

  /** Streaming withLatestFrom / as-of enrichment: each primary-type
    * element is emitted with the latest-seen secondary-type value of
    * its key (the unbounded form of [[graft.operators.AsOf]]). State
    * per key = one (event_id, value, ts) triple.
    *
    * `idleTtlMs` is the state-size lever for production streams:
    * when set (input must carry a watermark on `ts`), a key whose
    * enrichment value goes unrefreshed for the TTL of EVENT time is
    * evicted — state becomes O(recently-active keys) instead of
    * O(every key ever seen), and a primary arriving after eviction
    * enriches to None (the stale value is deliberately forgotten —
    * the TTL-cache contract). */
  case class Enriched(event_id: Long, user_id: Long, value: Double,
                      asof_event_id: Option[Long], asof_value: Option[Double])
  def withLatestFrom(spark: SparkSession, events: DataFrame,
                     primary: String = "purchase",
                     secondary: String = "click",
                     idleTtlMs: Option[Long] = None): Dataset[Enriched] = {
    import spark.implicits._
    val timeoutConf = if (idleTtlMs.isDefined)
      GroupStateTimeout.EventTimeTimeout else GroupStateTimeout.NoTimeout
    events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .filter(e => e.event_type == primary || e.event_type == secondary)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Double, Long), Enriched](
        OutputMode.Append, timeoutConf) {
        (uid: Long, rows: Iterator[Ev],
         state: GroupState[(Long, Double, Long)]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var latest = state.getOption
            val out = scala.collection.mutable.ArrayBuffer[Enriched]()
            rows.toSeq.sortBy(_.event_id).foreach { e =>
              if (e.event_type == secondary)
                latest = Some((e.event_id, e.value, e.ts.getTime))
              else out += Enriched(e.event_id, uid, e.value,
                latest.map(_._1), latest.map(_._2))
            }
            latest.foreach { l =>
              state.update(l)
              idleTtlMs.foreach(ttl => state.setTimeoutTimestamp(l._3 + ttl))
            }
            out.iterator
          }
      }
  }

  /** Streaming running top-k per key: bounded k-element state, the
    * unbounded twin of [[graft.plans.TopKPerGroup]]. Emits each key's
    * refreshed top-k whenever a batch touches it (update-mode
    * semantics); state is O(keys x k) regardless of stream length.
    * The state is the kept values and event ids in rank order, two
    * [[Packed]] arrays. */
  case class TopKRow(user_id: Long, rank: Int, event_id: Long, value: Double)
  case class TopKState(values: Array[Byte], ids: Array[Byte])
  def runningTopK(spark: SparkSession, events: DataFrame, k: Int = 3)
      : Dataset[TopKRow] = {
    import spark.implicits._
    events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TopKState, TopKRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[TopKState]) =>
          // keep the k largest (value, event_id) pairs; event_id is
          // the deterministic tiebreak (total order)
          val kept = state.getOption.fold(Iterator.empty[(Double, Long)])(s =>
            Packed.doubles(s.values).iterator.zip(Packed.longs(s.ids)))
          val merged = (kept ++ rows.map(e => (e.value, e.event_id))).toSeq
            .sortBy { case (v, id) => (-v, id) }
            .take(k)
          state.update(TopKState(Packed(merged.map(_._1).toArray),
            Packed(merged.map(_._2).toArray)))
          merged.iterator.zipWithIndex.map { case ((v, id), i) =>
            TopKRow(uid, i + 1, id, v)
          }
      }
  }

  /** Streaming exact dedup: drop re-deliveries of the same event_id,
    * with watermark-bounded state (the unbounded-input form of
    * Dedup.exact). */
  def dedupStream(events: DataFrame, watermark: String = "2 hours")
      : DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming gaps-and-islands: emits each maximal run of equal
    * event_type per key WHEN IT CLOSES (the first element of a
    * different type arrives) — the unbounded twin of
    * [[graft.operators.Reactive.rxIslands]], whose rows it matches
    * for every closed island when per-key events arrive in event_id
    * order across triggers (the recurrence caveat all order-
    * sensitive streaming ops here share). The still-open tail island
    * lives only in state. State per key = one (type, id, n, first,
    * last) tuple — O(keys), append-mode output. */
  case class IslandRow(user_id: Long, island_id: Long, event_type: String,
                       n_events: Long, first_event_id: Long,
                       last_event_id: Long)
  def islandsStream(spark: SparkSession, events: DataFrame)
      : Dataset[IslandRow] = {
    import spark.implicits._
    events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(String, Long, Long, Long, Long), IslandRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev],
         state: GroupState[(String, Long, Long, Long, Long)]) =>
          var cur = state.getOption
          val out = scala.collection.mutable.ArrayBuffer[IslandRow]()
          rows.toSeq.sortBy(_.event_id).foreach { e =>
            cur match {
              case Some((t, id, n, f, _)) if t == e.event_type =>
                cur = Some((t, id, n + 1, f, e.event_id))
              case Some((t, id, n, f, l)) =>
                out += IslandRow(uid, id, t, n, f, l)
                cur = Some((e.event_type, id + 1, 1L, e.event_id, e.event_id))
              case None =>
                cur = Some((e.event_type, 1L, 1L, e.event_id, e.event_id))
            }
          }
          cur.foreach(state.update)
          out.iterator
      }
  }

  /** Streaming distinct-count estimate per key via the mergeable KMV
    * sketch ([[graft.functions.KmvState]]): state per key is at most
    * k longs FOREVER — the sketch is the eviction policy, unlike
    * dropDuplicates-style distinct state that grows with every value
    * seen. Emits the key's refreshed estimate whenever a trigger
    * touches it (update mode). Hashes go through the engine's md5
    * family, so the estimate equals what the batch KMV aggregate
    * (and its SQL oracle) computes over the same prefix of values. */
  case class DistinctEstRow(user_id: Long, n_est: Long)
  def kmvDistinctStream(spark: SparkSession, events: DataFrame,
                        k: Int = 16): Dataset[DistinctEstRow] = {
    import spark.implicits._
    events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Array[Long], DistinctEstRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[Array[Long]]) =>
          val st = new graft.functions.KmvState(k)
          state.getOption.foreach(_.foreach(st.insert))
          rows.foreach(e => st.insert(
            graft.functions.Kernels.md5Prefix60(e.value.toString)))
          val arr = new Array[Long](st.set.size)
          val it = st.set.iterator(); var i = 0
          while (it.hasNext) { arr(i) = it.next(); i += 1 }
          state.update(arr)
          val est =
            if (st.set.size < k) st.set.size.toLong
            else (BigInt(k - 1) * (BigInt(1) << 60) /
              BigInt(st.set.last())).toLong
          Iterator.single(DistinctEstRow(uid, est))
      }
  }

  /** Streaming twin of [[graft.operators.Sketches.quantileSketch]]:
    * per-key state is the bottom-k (md5(id), id, value) triples —
    * bounded FOREVER like the KMV sketch, merging new rows by
    * keep-k-smallest — and the emitted estimates are the
    * ceil(q·m)-th order statistics of that sample. The md5 hex
    * ordering is byte-identical to the batch op's (lowercase hex is
    * ASCII, so String ordering = UTF8 binary ordering), so after
    * consuming the same documents the stream's last emission per key
    * EQUALS the batch sketch — asserted in StreamingSpec. */
  case class DocIn(doc_id: Long, source: String, n_chars: Long)
  case class QuantRow(source: String, sample_m: Long, est_p50: Long,
                      est_p90: Long, est_p99: Long)
  def quantileSketchStream(spark: SparkSession, docs: DataFrame,
                           k: Int = 256): Dataset[QuantRow] = {
    import spark.implicits._
    docs.selectExpr("doc_id", "source", "n_chars").as[DocIn]
      .groupByKey(_.source)
      .flatMapGroupsWithState[List[(String, Long, Long)], QuantRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (src: String, rows: Iterator[DocIn],
         state: GroupState[List[(String, Long, Long)]]) =>
          val incoming = rows.map(d =>
            (md5HexAscii(d.doc_id.toString), d.doc_id, d.n_chars)).toList
          val kept = (state.getOption.getOrElse(Nil) ++ incoming)
            .sortBy(t => (t._1, t._2)).take(k)
          state.update(kept)
          val vals = kept.map(_._3).sorted.toArray
          val m = vals.length
          def est(q: Double): Long =
            vals(math.max(1L, math.ceil(m * q).toLong).toInt - 1)
          Iterator.single(QuantRow(src, m.toLong,
            est(0.5), est(0.9), est(0.99)))
      }
  }

  private def md5HexAscii(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    val sb = new java.lang.StringBuilder(32)
    d.foreach(b => sb.append(f"${b & 0xFF}%02x"))
    sb.toString
  }

  /** Streaming twin of Dedup.incrementalNew: admit an incoming
    * document only if its content fingerprint is absent from the
    * static corpus (stream-static left-anti join — the corpus side
    * is the pre-collapsed DISTINCT fingerprint table, broadcast when
    * it fits, shuffled once otherwise) and not already seen earlier
    * in the stream (watermark-bounded streaming dedup keeps the
    * in-flight state finite). */
  def incrementalDedupStream(docs: DataFrame, corpusHashes: DataFrame,
                             watermark: String = "2 hours"): DataFrame =
    docs.withColumn("content_hash", md5(lower(trim(col("text")))))
      .join(broadcast(corpusHashes), Seq("content_hash"), "left_anti")
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Stream-static enrichment join: stream fact against a broadcast
    * static dimension (no stream-side shuffle). */
  def enrich(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("user_id"), "left")

  /** Streaming CDC chunk ingest — the delta-sync decision per
    * arriving document: chunk it content-defined
    * ([[graft.operators.Dedup.cdcChunksGear]] — per-row stateless
    * HOFs, stream-safe by construction), flag each chunk against the
    * FROZEN corpus chunk-hash table (stream-static BROADCAST left
    * join, the [[incrementalDedupStream]] contract — the table never
    * enters state), and roll up per doc: total chunks, novel chunks,
    * novel ppm — "how many bytes of this doc are actually new".
    * `corpusChunks` MUST be produced by the same gear cut path
    * ([[graft.operators.Dedup.cdcChunksGear]]); the md5-window
    * variant cuts at different positions, so mixing the two silently
    * inflates novel_ppm even though every row still computes.
    * A doc's chunks all carry its single ts, so the watermarked
    * windowed aggregate emits exactly one final row per doc (the
    * [[surprisalScoreStream]] fold shape); state is O(docs in
    * flight), never O(corpus chunks). ≡ the batch anti-join rollup
    * over the same docs (spec-asserted across a trigger split). */
  def cdcIngestStream(docs: DataFrame, corpusChunks: DataFrame,
                      watermark: String = "2 hours"): DataFrame =
    graft.operators.Dedup.cdcChunksGear(docs, keep = Seq("ts"))
      .join(broadcast(corpusChunks.select(col("ch"),
        lit(1).as("known"))), Seq("ch"), "left")
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        coalesce(sum(when(col("known").isNull, 1L)), lit(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_chunks"), col("n_novel"),
        expr("n_novel * 1000000 div n_chunks").as("novel_ppm"))

  /** Streaming near-dup admission against a PERSISTED MinHash index
    * — the ingest half of the frozen-index contract
    * ([[graft.operators.Dedup.minhashWriteIndex]] builds it,
    * [[graft.operators.Dedup.minhashProbeIndex]] is the batch twin):
    * each arriving doc derives its shingle set and band keys
    * STATELESSLY in-row, the band keys join the static posting table
    * (stream-static inner equi-join — per micro-batch the tiny
    * stream side is the BUILD side, so the corpus postings never
    * shuffle; bucket the postings by `bh` via Sinks.bucketedTable to
    * make the scan exchange-free too), matches verify with exact
    * Jaccard against the static per-doc shingle sets, and ONE
    * verdict row per doc emits: distinct corpus near-dups ≥
    * threshold, the best match (floor-scaled ppm, −1 when none), and
    * the admit bit. A sentinel no-candidate row per doc keeps
    * admitted docs in the output without a streaming outer join on
    * the corpus side; multi-band hits collapse via the chained
    * per-(doc, candidate) max-Jaccard window aggregate (Spark 4
    * multi-stateful-agg append mode), mirroring the batch probe's
    * DISTINCT. State is O(docs in flight) pairs — the index never
    * enters state. ≡ [[graft.operators.Dedup.minhashProbeIndex]]'s
    * per-doc rollup across a trigger split (spec-asserted). */
  def minhashAdmitStream(docs: DataFrame, postings: DataFrame,
                         corpusSets: DataFrame, threshold: Double = 0.5,
                         bands: Int = 16, rows: Int = 4,
                         auditable: Boolean = false,
                         watermark: String = "2 hours"): DataFrame = {
    import graft.functions.GraftFunctions
    val sh = docs.select(col("doc_id"), col("ts"),
        GraftFunctions.text_shingles(split(lower(col("text")), " "), 3)
          .as("sh2"))
      .filter(size(col("sh2")) > 0)
    val bandKeys =
      if (auditable) GraftFunctions.md5_minhash_bands(col("sh2"), bands, rows)
      else GraftFunctions.minhash_bands(col("sh2"), bands, rows)
    val probes = sh.select(col("doc_id"), col("ts"), col("sh2"),
        posexplode(bandKeys))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bh"))
    val matches = postings
      .select(col("band"), col("bh"), col("doc_id").as("doc1"))
      .join(broadcast(probes), Seq("band", "bh"))
      .select(col("doc_id"), col("ts"), col("sh2"), col("doc1"))
    // sentinel: every shingle-bearing doc gets a null-candidate row,
    // so a doc with zero posting hits still emits its verdict
    val sentinel = sh.select(col("doc_id"), col("ts"), col("sh2"),
      lit(null).cast("long").as("doc1"))
    val verified = matches.unionByName(sentinel)
      .join(corpusSets.select(col("doc_id").as("doc1"), col("sh").as("sh1")),
        Seq("doc1"), "left")
      .withColumn("j",
        size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2"))))
    val perPair = verified
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("doc_id"), col("doc1"))
      .agg(max("j").as("j"))
    perPair
      .groupBy(window(col("window"), "1 hour"), col("doc_id"))
      .agg(coalesce(sum(when(col("j") >= threshold, 1L)), lit(0L))
          .as("n_dup"),
        coalesce(max(when(col("j") >= threshold,
          floor(col("j") * 1e6).cast("long"))), lit(-1L))
          .as("best_j_scaled"))
      .select(col("doc_id"), col("n_dup"), col("best_j_scaled"),
        (col("n_dup") === 0L).as("admitted"))
  }

  /** INDEXED streaming admission — [[minhashAdmitStream]] routed
    * through the file-skipping batch probe
    * ([[graft.operators.Dedup.minhashAdmitIndexed]]) via
    * foreachBatch: each micro-batch IS an admission wave, so the
    * trigger pays O(wave-matched index files), not O(corpus scan).
    * The plain stream-static form above never shuffles the index
    * but still SCANS it per trigger — measured per-trigger cost
    * grows with the corpus (steady mean 4.029 s → 4.508 s on a 10×
    * index, ADMIT_PROBE_r11.json); this form pushes the wave's band
    * keys and
    * matched candidate ids into the postings/sets scans as literal
    * `isin` filters (or a planner-chosen semi-join past
    * `pushdownCap`), which parquet row-group stats turn into
    * whole-file skips against [[graft.operators.Dedup
    * .minhashWriteIndex]]'s range-clustered layout.
    *
    * foreachBatch is the honest Spark shape here: the admission
    * decision needs TWO data-dependent scan plans per wave (band
    * keys, then candidate ids), which no static streaming plan can
    * express — and it needs NO cross-trigger state, so nothing is
    * lost. Verdicts stream to `sink` once per trigger, one row per
    * shingle-bearing wave doc, identical to the batch probe on the
    * same wave (spec-asserted across a trigger split). `docs` needs
    * only (doc_id, text) — no watermark, no event time. */
  def minhashAdmitIndexedStream(docs: DataFrame, indexDir: String,
                                sink: DataFrame => Unit,
                                threshold: Double = 0.5,
                                bands: Int = 16, rows: Int = 4,
                                auditable: Boolean = false,
                                pushdownCap: Int = 4096)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) =>
          if (!batch.isEmpty) {
            // trigger-boundary cleanup: the batch probe
            // localCheckpoints its wave/probe/candidate frames, and
            // in a long-running stream those blocks would accrete in
            // the executor store across triggers (the exact
            // cross-query accretion Bench.cleanup counters: measured
            // 186 s vs 37 s for a late query under the pile).
            // Verdicts are fully materialized by `sink` before the
            // diff-unpersist runs, so nothing live is dropped; the
            // id diff leaves any pre-existing (shared/cached)
            // frames alone.
            val sc = batch.sparkSession.sparkContext
            val before = sc.getPersistentRDDs.keySet
            sink(graft.operators.Dedup.minhashAdmitIndexed(
              batch.sparkSession, indexDir, batch.toDF(), threshold,
              bands, rows, auditable, pushdownCap))
            val after = sc.getPersistentRDDs
            after.view.filterKeys(!before.contains(_)).values
              .foreach(_.unpersist(blocking = false))
          }
      }
      .start()

  /** SEMANTIC streaming admission — [[minhashAdmitIndexedStream]]'s
    * embedding-space twin: each micro-batch of vectors is an
    * admission wave routed through the partition-pruned IVF probe
    * ([[graft.operators.Dedup.embeddingAdmitIndexed]]) via
    * foreachBatch, so the trigger pays O(wave × probed posting
    * directories), never O(corpus) — the production ingest gate for
    * semantic dedup at 100 TB. foreachBatch is again the honest
    * Spark shape: the probe needs a data-dependent partition filter
    * per wave (the top-nprobe centroid ids), which no static
    * streaming plan can express, and it carries no cross-trigger
    * state. Verdicts stream to `sink` once per trigger, one row per
    * wave vector, identical to the batch probe on the same wave
    * (spec-asserted across a trigger split). Same trigger-boundary
    * block cleanup as the minhash path: the probe localCheckpoints
    * its wave/probe frames, and a long-running stream must not
    * accrete them across triggers. */
  def embeddingAdmitStream(vecs: DataFrame, indexDir: String,
                           sink: DataFrame => Unit,
                           minCosine: Double = 0.95,
                           nprobe: Int = 4)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) =>
          if (!batch.isEmpty) {
            val sc = batch.sparkSession.sparkContext
            val before = sc.getPersistentRDDs.keySet
            sink(graft.operators.Dedup.embeddingAdmitIndexed(
              batch.sparkSession, indexDir, batch.toDF(), minCosine,
              nprobe))
            val after = sc.getPersistentRDDs
            after.view.filterKeys(!before.contains(_)).values
              .foreach(_.unpersist(blocking = false))
          }
      }
      .start()

  /** Streaming epsilon-band admission — the serving twin of
    * [[graft.operators.Relational.qBandJoin]]: each incoming
    * (nation, balance) record asks "does an existing record sit
    * within ±eps of me in my nation?" — the numeric near-duplicate
    * ingest gate (duplicate-invoice / split-transaction screening)
    * next to the content gates (63zs/63zw) and the semantic gate
    * (63zz). The band predicate lives IN the join key exactly as in
    * the batch op: the STREAM row replicates to its ⌊bal/eps⌋
    * bucket ±1 (3× on the unbounded side only), the static peer
    * table sits in its unique home bucket, so every within-eps peer
    * is matched exactly once and the static side never replicates —
    * key cardinality |nations|×|range/eps| keeps the stream-static
    * join off the 25-fat-cell nation-only plan at any corpus size.
    * One watermarked windowed aggregate folds the ≤3 bucket probes
    * per record into a single verdict row (n peers, min/max gap,
    * `novel` when none) — state is O(records in flight), the peer
    * corpus never enters state. Self-ids are excluded so replaying
    * an already-ingested record reports its band NEIGHBORS, not
    * itself. */
  def bandAdmitStream(updates: DataFrame, peers: DataFrame,
                      epsCents: Long = 10000L,
                      watermark: String = "2 hours"): DataFrame = {
    val home = peers.select(col("nation"),
      expr(s"CAST(floor(bal / $epsCents) AS BIGINT)").as("jb"),
      col("id").as("peer_id"), col("bal").as("peer_bal"))
    val hit = col("peer_id").isNotNull &&
      col("peer_id") =!= col("id") &&
      abs(col("bal") - col("peer_bal")) <= epsCents
    updates.withWatermark("ts", watermark)
      .select(col("ts"), col("id"), col("nation"), col("bal"),
        explode(expr(
          s"array(CAST(floor(bal / $epsCents) - 1 AS BIGINT), " +
          s"CAST(floor(bal / $epsCents) AS BIGINT), " +
          s"CAST(floor(bal / $epsCents) + 1 AS BIGINT))")).as("jb"))
      .join(home, Seq("nation", "jb"), "left")
      .groupBy(window(col("ts"), "1 hour"), col("id"),
        col("nation"), col("bal"))
      .agg(
        sum(when(hit, 1L).otherwise(0L)).as("n_band_peers"),
        min(when(hit, abs(col("bal") - col("peer_bal"))))
          .as("min_gap_cents"),
        max(when(hit, abs(col("bal") - col("peer_bal"))))
          .as("max_gap_cents"))
      .select(col("id"), col("nation"), col("bal"),
        col("n_band_peers"),
        col("min_gap_cents"), col("max_gap_cents"),
        (col("n_band_peers") === 0L).as("novel"))
  }

  /** INDEXED streaming band admission — [[bandAdmitStream]]'s
    * corpus-scan growth killed the same way 63zy killed 63zs's:
    * each micro-batch is an admission wave routed through the
    * PARTITION-PRUNED band index
    * ([[graft.operators.Relational.bandAdmitIndexed]]) via
    * foreachBatch, so the trigger pays O(wave × touched band
    * blocks), never O(peer corpus). foreachBatch is the honest
    * Spark shape: the probe needs a data-dependent PartitionFilter
    * per wave (the wave's distinct jb_blocks), which no static
    * streaming plan can express, and it carries no cross-trigger
    * state. Verdicts stream to `sink` once per trigger, one row per
    * wave record, identical to the batch probe on the same wave
    * (spec-asserted across a trigger split). Same trigger-boundary
    * block cleanup as the other indexed gates. */
  def bandAdmitIndexedStream(updates: DataFrame, indexDir: String,
                             sink: DataFrame => Unit,
                             epsCents: Long = 10000L,
                             blockSize: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) =>
          if (!batch.isEmpty) {
            val sc = batch.sparkSession.sparkContext
            val before = sc.getPersistentRDDs.keySet
            sink(graft.operators.Relational.bandAdmitIndexed(
              batch.sparkSession, indexDir, batch.toDF(), epsCents,
              blockSize))
            val after = sc.getPersistentRDDs
            after.view.filterKeys(!before.contains(_)).values
              .foreach(_.unpersist(blocking = false))
          }
      }
      .start()

  /** Streaming twin of [[graft.operators.TextAnalysis
    * .unigramSurprisal]]'s SCORING half — the production ingest
    * shape: the unigram model is FROZEN from the static corpus
    * ([[graft.operators.TextAnalysis.unigramModel]]; a faithful
    * online model would re-score every already-admitted doc on each
    * arrival, which no ingest filter does), and each incoming doc
    * scores against it. Tokens explode statelessly, the model join
    * is stream-static broadcast (no stream-side shuffle), and the
    * per-doc fold is a watermarked windowed aggregate — a doc's
    * exploded tokens all carry the doc's single ts, so each doc
    * lives entirely inside one window and emits exactly one final
    * row when the watermark passes it. Tokens absent from the
    * frozen model (the stream moved past the corpus) score
    * `oovBits` — set it to floor(log2 T), the model's never-seen
    * ceiling. State is O(docs in flight within the watermark), not
    * O(vocabulary): the model is static, never in state. */
  def surprisalScoreStream(docs: DataFrame, model: DataFrame,
                           oovBits: Long = 40L,
                           watermark: String = "2 hours"): DataFrame =
    docs.withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"),
        explode(graft.operators.TextAnalysis.tokens(col("text"))).as("t"))
      .join(broadcast(model), Seq("t"), "left")
      .select(col("doc_id"), col("ts"),
        coalesce(col("s_bits"), lit(oovBits)).as("s_bits"))
      .groupBy(window(col("ts"), "1 hour"), col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        expr("sum(s_bits) * 1000 div count(*)").as("surprisal_milli"))
      .select("doc_id", "n_tokens", "surprisal_milli")

  /** Streaming bloom admission — the stateless first tier of ingest
    * dedup ([[graft.operators.Dedup.bloomAdmit]]'s unbounded twin):
    * each arriving doc derives its k=3 md5 bit positions in-row,
    * joins the FROZEN corpus position table (stream-static LEFT
    * broadcast — the bit set is ≤ m distinct rows by construction,
    * the rare static side that is provably broadcastable at ANY
    * corpus size, which is the whole point of a bloom tier), and one
    * watermarked windowed aggregate emits the verdict: definitely
    * new (some position unset — no second tier needed) vs bloom-hit
    * (pay the exact check). NO keyed state anywhere: the filter is
    * the state, and it lives outside the stream. ≡ the batch
    * audit's per-doc verdict (spec-asserted across a trigger
    * split). */
  def bloomAdmitStream(docs: DataFrame, corpusPositions: DataFrame,
                       mBits: Long = 1L << 20, k: Int = 3,
                       watermark: String = "2 hours"): DataFrame =
    docs.withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"),
        md5(lower(trim(col("text")))).as("content_hash"))
      .select(col("doc_id"), col("ts"), col("content_hash"),
        explode(expr(s"transform(sequence(0, ${k - 1}), j -> " +
          s"CAST(conv(substr(md5(concat('bloom', j, ':', " +
          s"content_hash)), 1, 15), 16, 10) AS BIGINT) % $mBits)"))
          .as("pos"))
      .join(broadcast(corpusPositions
        .select(col("pos"), lit(1L).as("hit"))), Seq("pos"), "left")
      .groupBy(window(col("ts"), "1 hour"), col("doc_id"),
        col("content_hash"))
      .agg((count(lit(1)) === sum(coalesce(col("hit"), lit(0L))))
        .as("bloom_hit"))
      .select(col("doc_id"), col("content_hash"), col("bloom_hit"),
        (!col("bloom_hit")).as("definitely_new"))

  /** Streaming OOV drift monitor — the serving twin of
    * [[graft.operators.TextAnalysis.vocabCoverage]]: the top-v
    * vocabulary is FROZEN from the static corpus
    * ([[graft.operators.TextAnalysis.vocabTable]] — the tokenizer
    * was committed once; re-cutting the vocab per batch would score
    * against a tokenizer nobody trained), and each hour × source
    * cell of the incoming stream reports its token mass, the mass
    * the frozen vocab covers, and the OOV rate in ppm. A rising
    * oov_ppm per source is the earliest signal the stream's
    * vocabulary has drifted off the tokenizer (byte-fallback
    * explosion ahead). Tokens explode statelessly, the vocab join
    * is stream-static BROADCAST (no stream-side shuffle, the vocab
    * never enters state), and the rollup is one watermarked windowed
    * aggregate — state is O(sources × windows in flight), never
    * O(vocabulary). */
  def oovMonitorStream(docs: DataFrame, vocab: DataFrame,
                       watermark: String = "2 hours"): DataFrame =
    docs.withWatermark("ts", watermark)
      .select(col("source"), col("ts"),
        explode(graft.operators.TextAnalysis.tokens(col("text")))
          .as("term"))
      .join(broadcast(vocab), Seq("term"), "left")
      .select(col("source"), col("ts"),
        coalesce(col("in_vocab"), lit(0L)).as("iv"))
      .groupBy(window(col("ts"), "1 hour"), col("source"))
      .agg(count(lit(1)).as("n_tokens"), sum("iv").as("covered"))
      .select(col("window.start").as("window_start"), col("source"),
        col("n_tokens"), col("covered").cast("long").as("covered"),
        expr("(n_tokens - covered) * 1000000 div n_tokens")
          .cast("long").as("oov_ppm"))

  /** Stream-stream join: each purchase paired with every click of the
    * same user whose `ts` lies within 30 minutes of it, both ends
    * inclusive, compared in microseconds. Append mode; the columns are
    * `p_id`, `c_id`, `user_id` and `p_value`.
    *
    * One `flatMapGroupsWithState` keyed by `user_id` runs the join over
    * the union of the purchases and the clicks, each side watermarked
    * on `ts` on its own. The watermark is the built-in join's: each
    * side's newest `ts` less 1 hour, the slower side's taken (Spark's
    * `multipleWatermarkPolicy`, min by default), and 0 until both sides
    * have had a row. A watermark node per side needs a scan per side:
    * Spark refuses a second watermark node in one lineage. Rows at or
    * behind the watermark are dropped before the state function sees
    * them and are counted in `numRowsDroppedByWatermark`. Each batch
    * pairs the new purchases with the buffered and the new clicks, and
    * the new clicks with the buffered purchases. Then it evicts every
    * buffered event whose `ts + 30 min` is at or behind the watermark:
    * a row a later batch keeps is ahead of it, so such an event can
    * never match again. An event-time timeout at the newest buffered
    * `ts + 30 min` clears a key that gets no new rows. The state per
    * key is the buffered events ([[JoinBuffer]]).
    *
    * Nulls: a row with a null `user_id` or `ts` never matches and is
    * not buffered; a null `event_id` or `value` is passed through as a
    * null `p_id`, `c_id` or `p_value`.
    *
    * Spark's built-in stream-stream join gives the same rows, and
    * StreamingSpec checks that it does, but it cost about twice as
    * much per trigger: it commits four state stores per partition
    * instead of one, and every copy of its plan node broadcasts a new
    * Hadoop conf. */
  def streamStreamJoin(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import JoinBuffer._
    def flag(cond: org.apache.spark.sql.Column, bit: Byte) =
      when(cond, lit(bit)).otherwise(lit(0.toByte))
    def side(eventType: String, bit: Byte) = events
      .filter(col("event_type") === eventType &&
        col("user_id").isNotNull && col("ts").isNotNull)
      .withWatermark("ts", "1 hour")
      // `ts` stays in the rows: the operator drops late rows by it
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"),
        coalesce(col("event_id"), lit(0L)).as("id"),
        coalesce(col("value"), lit(0.0)).as("value"),
        lit(bit).bitwiseOR(flag(col("event_id").isNull, NullId))
          .bitwiseOR(flag(col("value").isNull, NullValue)).as("flags"))
    side("purchase", Purchase).union(side("click", 0))
      .as[JoinEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[JoinBuffer, JoinedPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[JoinEv], state: GroupState[JoinBuffer]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else joinBatch(uid, rows.toArray, state)
      }
      .toDF()
  }

  /** One input row of [[streamStreamJoin]]; `flags` as in [[JoinBuffer]]. */
  case class JoinEv(user_id: Long, ts_us: Long, id: Long, value: Double,
                    flags: Byte)
  /** [[streamStreamJoin]]'s buffered events of one user: event `i` is
    * `(ts_us(i), id(i), value(i), flags(i))`, the first three
    * [[Packed]]; the flag bits are in the companion object. */
  case class JoinBuffer(ts_us: Array[Byte], id: Array[Byte],
                        value: Array[Byte], flags: Array[Byte])
  object JoinBuffer {
    val Purchase: Byte = 1
    val NullId: Byte = 2
    val NullValue: Byte = 4
    val WindowUs: Long = 30L * 60 * 1000 * 1000
  }
  case class JoinedPair(p_id: Option[Long], c_id: Option[Long], user_id: Long,
                        p_value: Option[Double])

  private def joinBatch(uid: Long, fresh: Array[JoinEv],
                        state: GroupState[JoinBuffer]): Iterator[JoinedPair] = {
    import JoinBuffer._
    val old = state.getOption
    val oTs = old.fold(Array.emptyLongArray)(b => Packed.longs(b.ts_us))
    val oId = old.fold(Array.emptyLongArray)(b => Packed.longs(b.id))
    val oValue = old.fold(Array.emptyDoubleArray)(b => Packed.doubles(b.value))
    val oFlags = old.fold(Array.emptyByteArray)(_.flags)
    def isPurchase(f: Byte) = (f & Purchase) != 0
    def near(a: Long, b: Long) = math.abs(a - b) <= WindowUs
    def opt[A](f: Byte, bit: Byte, a: A) = if ((f & bit) != 0) None else Some(a)
    val out = scala.collection.mutable.ArrayBuffer[JoinedPair]()
    def emit(pId: Long, pValue: Double, pFlags: Byte, cId: Long, cFlags: Byte) =
      out += JoinedPair(opt(pFlags, NullId, pId), opt(cFlags, NullId, cId), uid,
        opt(pFlags, NullValue, pValue))
    fresh.foreach { e =>
      var i = 0
      while (i < oTs.length) {
        if (isPurchase(e.flags) != isPurchase(oFlags(i)) && near(e.ts_us, oTs(i))) {
          if (isPurchase(e.flags)) emit(e.id, e.value, e.flags, oId(i), oFlags(i))
          else emit(oId(i), oValue(i), oFlags(i), e.id, e.flags)
        }
        i += 1
      }
      if (isPurchase(e.flags)) fresh.foreach { c =>
        if (!isPurchase(c.flags) && near(e.ts_us, c.ts_us))
          emit(e.id, e.value, e.flags, c.id, c.flags)
      }
    }
    // keep what a row ahead of the watermark can still match
    val horizonUs = state.getCurrentWatermarkMs() * 1000L
    val keepOld = oTs.indices.filter(i => oTs(i) + WindowUs > horizonUs)
    val keepNew = fresh.filter(_.ts_us + WindowUs > horizonUs)
    if (keepOld.isEmpty && keepNew.isEmpty) state.remove()
    else {
      val ts = keepOld.map(oTs).toArray ++ keepNew.map(_.ts_us)
      state.update(JoinBuffer(Packed(ts),
        Packed(keepOld.map(oId).toArray ++ keepNew.map(_.id)),
        Packed(keepOld.map(oValue).toArray ++ keepNew.map(_.value)),
        keepOld.map(oFlags).toArray ++ keepNew.map(_.flags)))
      state.setTimeoutTimestamp(Math.floorDiv(ts.max + WindowUs, 1000L))
    }
    out.iterator
  }

  /** Primitive arrays as binary state columns. Spark decodes an
    * `Array[Long]` or `Array[Double]` state field element by element
    * in a loop whose variable is named by a JVM-wide counter, so every
    * new query compiled its state projection again; a binary field
    * decodes without a loop. */
  private[streaming] object Packed {
    def apply(xs: Array[Long]): Array[Byte] = {
      val b = ByteBuffer.allocate(8 * xs.length)
      b.asLongBuffer().put(xs)
      b.array()
    }
    def apply(xs: Array[Double]): Array[Byte] = {
      val b = ByteBuffer.allocate(8 * xs.length)
      b.asDoubleBuffer().put(xs)
      b.array()
    }
    def longs(b: Array[Byte]): Array[Long] = {
      val xs = new Array[Long](b.length / 8)
      ByteBuffer.wrap(b).asLongBuffer().get(xs)
      xs
    }
    def doubles(b: Array[Byte]): Array[Double] = {
      val xs = new Array[Double](b.length / 8)
      ByteBuffer.wrap(b).asDoubleBuffer().get(xs)
      xs
    }
  }

  /** Streaming ordered funnel: the unbounded twin of
    * [[graft.operators.Reactive.rxFunnel]]. Emits one row the moment
    * a key ADVANCES a stage (view → click-after-view →
    * purchase-after-click); state per key = the three stage anchors,
    * O(1) regardless of stream length. Rows are event_id-ordered
    * WITHIN each trigger only; stage order survives batch boundaries
    * for events delivered in event_id order — an out-of-order event
    * arriving in a later micro-batch is judged against the
    * already-advanced anchors and may diverge from the batch twin. */
  case class FunnelState(t1: Long, t2: Long, t3: Long) // -1 = not reached
  case class FunnelAdvance(user_id: Long, stage: Int, event_id: Long)
  def funnelStream(spark: SparkSession, events: DataFrame)
      : Dataset[FunnelAdvance] = {
    import spark.implicits._
    events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelAdvance](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[FunnelState]) =>
          var s = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          val out = Seq.newBuilder[FunnelAdvance]
          rows.toSeq.sortBy(_.event_id).foreach { e =>
            if (s.t1 < 0 && e.event_type == "view") {
              s = s.copy(t1 = e.event_id)
              out += FunnelAdvance(uid, 1, e.event_id)
            } else if (s.t1 >= 0 && s.t2 < 0 &&
              e.event_type == "click" && e.event_id > s.t1) {
              s = s.copy(t2 = e.event_id)
              out += FunnelAdvance(uid, 2, e.event_id)
            } else if (s.t2 >= 0 && s.t3 < 0 &&
              e.event_type == "purchase" && e.event_id > s.t2) {
              s = s.copy(t3 = e.event_id)
              out += FunnelAdvance(uid, 3, e.event_id)
            }
          }
          state.update(s)
          out.result().iterator
      }
  }

  /** Chained stateful aggregation (multiple stateful operators in one
    * streaming query): hourly per-type counts re-aggregated into
    * 2-hour totals. The second agg windows over the FIRST's window
    * column, so watermark propagation closes both levels from one
    * event-time watermark — the streaming form of a rollup, and the
    * capability that lets a 100 TB pipeline keep raw + coarse
    * aggregates in one pass instead of two jobs over the stream. */
  def windowedRollup(events: DataFrame,
                     watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(window(col("window"), "2 hours"))
      .agg(sum(col("n")).as("total"))
      .select(col("window.start").as("win_start"), col("total"))

  /** Stream-stream LEFT OUTER join: every purchase emits — paired
    * with in-window clicks when they exist, with nulls once the
    * watermark passes the window end and proves no click can still
    * arrive. The null-side emission is watermark-driven: state for
    * an unmatched purchase is held exactly until its join window
    * expires, then emitted and evicted — bounded state, no lost
    * rows, the unbounded form of an outer interval join. */
  def streamStreamLeftJoin(events: DataFrame): DataFrame =
    outerJoin(events, "left_outer")

  /** Stream-stream RIGHT OUTER join: every click emits — paired with
    * in-window purchases when they exist, null-paired once the
    * watermark proves no purchase can still arrive. Same watermark-
    * driven state/eviction contract as [[streamStreamLeftJoin]], with
    * the null side flipped: unmatched CLICK state is held exactly
    * until its join window expires. `user_id` is coalesced across
    * sides so unmatched right rows still carry their key. */
  def streamStreamRightJoin(events: DataFrame): DataFrame =
    outerJoin(events, "right_outer")

  /** Stream-stream FULL OUTER join: matched pairs plus BOTH sides'
    * watermark-expired unmatched rows — the unbounded form of a CDC
    * merge where either side may lack its partner. State on each side
    * is held exactly until that row's join window expires, then
    * emitted null-paired and evicted; bounded state, no lost rows. */
  def streamStreamFullJoin(events: DataFrame): DataFrame =
    outerJoin(events, "full_outer")

  private def outerJoin(events: DataFrame, joinType: String): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"), col("value").as("p_value"))
      .withWatermark("p_ts", "10 minutes")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
        col("c_ts") <= col("p_ts") + expr("INTERVAL 30 MINUTES"),
      joinType)
      .select(col("p_id"), col("c_id"),
        coalesce(col("p_user"), col("c_user")).as("user_id"),
        col("p_value"))
  }

  /** Streaming retryWhen: the unbounded twin of
    * [[graft.operators.Reactive.rxRetryWhen]] — a policy decides per
    * error whether the key's stream resubscribes (retryable: error
    * value below `retryableBelow`, budget `maxRetries`) or terminates.
    * State per key = (retries used, terminated) — O(1); once
    * terminated, later rows for the key are dropped. The terminal
    * error itself is emitted as the closing element. Rows are
    * event_id-ordered within each trigger; across triggers arrival
    * order governs (an out-of-order event in a later micro-batch sees
    * the already-advanced retry state). */
  case class RetryRow(event_id: Long, user_id: Long, event_type: String,
                      value: Double, n_retried: Long, terminal: Boolean)
  def retryWhenStream(spark: SparkSession, events: DataFrame,
                      maxRetries: Int = 2, retryableBelow: Double = 300.0)
      : Dataset[RetryRow] = {
    import spark.implicits._
    events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Boolean), RetryRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[(Long, Boolean)]) =>
          var (retried, dead) = state.getOption.getOrElse((0L, false))
          val out = scala.collection.mutable.ArrayBuffer[RetryRow]()
          rows.toSeq.sortBy(_.event_id).foreach { e =>
            if (!dead) {
              if (e.event_type == "error") {
                val retryable = e.value < retryableBelow
                if (retryable) retried += 1
                if (!retryable || retried > maxRetries) dead = true
                out += RetryRow(e.event_id, uid, e.event_type, e.value,
                  retried, dead)
              } else out += RetryRow(e.event_id, uid, e.event_type, e.value,
                retried, terminal = false)
            }
          }
          state.update((retried, dead))
          out.iterator
      }
  }

  /** Streaming window(count, skip): overlapping / gapped count
    * windows per key — a new window opens every `skip` elements and
    * spans `count` elements; each element is emitted into every open
    * window covering its position (the window form of
    * buffer(count, skip): membership rows, not collapsed batches).
    * State per key = the element position plus at most
    * ceil(count/skip) open windows — O(1) per key. A window's rows
    * appear as the elements arrive (append mode); windows the
    * unbounded stream never fills simply keep accepting elements,
    * unlike the batch twin whose bounded input closes them. */
  case class WindowedEl(user_id: Long, window_id: Long, pos_in_window: Long,
                        event_id: Long, value: Double)
  case class WinCsState(pos: Long)
  def windowCountSkipStream(spark: SparkSession, events: DataFrame,
                            n: Int = 10, skip: Int = 5)
      : Dataset[WindowedEl] = {
    require(n > 0 && skip > 0, "count and skip must be positive")
    import spark.implicits._
    events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[WinCsState, WindowedEl](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[WinCsState]) =>
          var pos = state.getOption.map(_.pos).getOrElse(0L)
          val out = scala.collection.mutable.ArrayBuffer[WindowedEl]()
          rows.toSeq.sortBy(_.event_id).foreach { e =>
            // window w covers positions [w*skip, w*skip + n)
            val wFirst = math.max(0L,
              math.ceil((pos - n + 1).toDouble / skip).toLong)
            val wLast = pos / skip
            var w = wFirst
            while (w <= wLast) {
              out += WindowedEl(uid, w, pos - w * skip, e.event_id, e.value)
              w += 1
            }
            pos += 1
          }
          state.update(WinCsState(pos))
          out.iterator
      }
  }

  /** Streaming timeout detect: the unbounded twin of
    * [[graft.operators.Reactive.rxTimeout]] — emit a marker row the
    * moment a key has been SILENT for `gapMs` of event time (the
    * batch form can only flag the gap retrospectively on the next
    * event; the streaming form fires at the deadline itself via an
    * event-time timeout, which is what a liveness monitor needs).
    * State per key = the last-seen (event_id, ts) — O(active keys),
    * evicted on firing; a key that resumes after a timeout starts a
    * fresh watch. */
  case class TimeoutMark(user_id: Long, last_event_id: Long,
                         last_ts_ms: Long, deadline_ms: Long)
  def timeoutDetect(spark: SparkSession, events: DataFrame,
                    gapMs: Long = 3600000L): Dataset[TimeoutMark] = {
    import spark.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long), TimeoutMark](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map { case (eid, t) =>
              TimeoutMark(uid, eid, t, t + gapMs)
            }
            state.remove()
            out.iterator
          } else {
            // track the newest event; watch its silence window
            val newest = rows.maxBy(_.event_id)
            val cur = state.getOption
            if (cur.forall(_._2 <= newest.ts.getTime)) {
              state.update((newest.event_id, newest.ts.getTime))
              state.setTimeoutTimestamp(newest.ts.getTime + gapMs)
            }
            Iterator.empty
          }
      }
  }

  /** Streaming combineLatest: the unbounded twin of
    * [[graft.operators.Reactive.rxCombineLatest]] — every arrival of
    * either type emits the pair of latest values once BOTH types
    * have been seen for the key. State per key = one (event_id,
    * value) per side. Rows are event_id-ordered within a trigger;
    * across triggers arrival order governs. `idleTtlMs` evicts keys
    * idle past the TTL of event time (see [[withLatestFrom]]) — the
    * lever that keeps state O(recently-active keys). */
  case class Combined(user_id: Long, event_id: Long,
                      a_event_id: Long, a_value: Double,
                      b_event_id: Long, b_value: Double)
  def combineLatestStream(spark: SparkSession, events: DataFrame,
                          typeA: String = "purchase",
                          typeB: String = "click",
                          idleTtlMs: Option[Long] = None): Dataset[Combined] = {
    import spark.implicits._
    val timeoutConf = if (idleTtlMs.isDefined)
      GroupStateTimeout.EventTimeTimeout else GroupStateTimeout.NoTimeout
    events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .filter(e => e.event_type == typeA || e.event_type == typeB)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[
        (Option[(Long, Double)], Option[(Long, Double)], Long),
        Combined](OutputMode.Append, timeoutConf) {
        (uid: Long, rows: Iterator[Ev],
         state: GroupState[
           (Option[(Long, Double)], Option[(Long, Double)], Long)]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var (a, b, _) = state.getOption.getOrElse((None, None, 0L))
            var lastTs = 0L
            val out = scala.collection.mutable.ArrayBuffer[Combined]()
            rows.toSeq.sortBy(_.event_id).foreach { e =>
              if (e.event_type == typeA) a = Some((e.event_id, e.value))
              else b = Some((e.event_id, e.value))
              lastTs = math.max(lastTs, e.ts.getTime)
              for ((ae, av) <- a; (be, bv) <- b)
                out += Combined(uid, e.event_id, ae, av, be, bv)
            }
            state.update((a, b, lastTs))
            idleTtlMs.foreach(ttl => state.setTimeoutTimestamp(lastTs + ttl))
            out.iterator
          }
      }
  }

  /** Streaming buffer(count): per-key count-based batches emitted as
    * they fill — the unbounded twin of Reactive.rxBufferCount. State
    * per key = the open (partial) buffer + the next batch id, so
    * state size is O(keys x n) regardless of stream length. Elements
    * are ordered by event_id within a trigger; a buffer emits the
    * moment its n-th element arrives. */
  case class Buffered(user_id: Long, batch_id: Long, batch_n: Int,
                      batch_sum: Double, first_event_id: Long,
                      last_event_id: Long)
  case class BufState(nextBatch: Long, open: Seq[(Long, Double)])
  def bufferCount(spark: SparkSession, events: DataFrame, n: Int = 5)
      : Dataset[Buffered] = {
    import spark.implicits._
    events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[BufState, Buffered](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[BufState]) =>
          var st = state.getOption.getOrElse(BufState(0L, Seq.empty))
          val out = scala.collection.mutable.ArrayBuffer[Buffered]()
          rows.toSeq.sortBy(_.event_id).foreach { e =>
            val open = st.open :+ (e.event_id, e.value)
            if (open.size == n) {
              out += Buffered(uid, st.nextBatch, n, open.map(_._2).sum,
                open.head._1, open.last._1)
              st = BufState(st.nextBatch + 1, Seq.empty)
            } else st = BufState(st.nextBatch, open)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Streaming sequence packing: the unbounded twin of
    * Packing.packGreedy. Per-source state is the open bin only
    * (id + used chars + member stats — O(1) per key); a bin emits
    * the moment a document overflows it. Documents pack in doc_id
    * order within a trigger; across triggers, arrival order governs
    * — the streaming analogue of greedy first-fit-in-order. */
  case class PackedBin(source: String, bin_id: Long, n_docs: Int,
                       bin_chars: Long, first_doc: Long, last_doc: Long)
  case class PackState(binId: Long, used: Long, nDocs: Int,
                       firstDoc: Long, lastDoc: Long)
  def packStream(spark: SparkSession, docs: DataFrame,
                 capacity: Long = 4096L): Dataset[PackedBin] = {
    import spark.implicits._
    docs.selectExpr("doc_id", "source", "n_chars")
      .as[(Long, String, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[PackState, PackedBin](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (src: String, rows: Iterator[(Long, String, Long)],
         state: GroupState[PackState]) =>
          var st = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer[PackedBin]()
          rows.toSeq.sortBy(_._1).foreach { case (id, _, n) =>
            if (st == null) st = PackState(0L, n, 1, id, id)
            else if (st.used + n > capacity) {
              out += PackedBin(src, st.binId, st.nDocs, st.used,
                st.firstDoc, st.lastDoc)
              st = PackState(st.binId + 1, n, 1, id, id)
            } else st = PackState(st.binId, st.used + n, st.nDocs + 1,
              st.firstDoc, id)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Streaming resample + forward-fill: the unbounded twin of
    * [[graft.operators.Reactive.rxResample]]. Emits each key's
    * regular grid ticks (day-floored anchor, `stepMs` apart)
    * carrying the last value at-or-before the tick — a tick is
    * emitted exactly when it becomes FINAL, i.e. when the event-time
    * watermark passes it (no earlier event can still arrive), via an
    * event-time timer: a key with pending ticks wakes on watermark
    * advance even if it never receives another event.
    *
    * State per key = the O(watermark-lag) buffer of not-yet-consumed
    * events + the fill cursor — ticks and their feeding events leave
    * state as the watermark passes, so state is bounded by lag, not
    * by history. The grid ends at the key's latest SEEN event day
    * (the batch twin's max(ts) bound): matching the batch result
    * requires each key's first-delivered event to be its earliest —
    * the same cross-trigger ordering caveat ewmaStream documents.
    * Out-of-order arrival WITHIN the watermark is handled exactly
    * (events buffer until their tick is final). */
  case class GridTick(user_id: Long, grid_ms: Long,
                      value: Option[Double])
  case class ResampleSt(anchored: Boolean, nextGrid: Long,
                        lastV: Double, hasLast: Boolean, maxSeen: Long,
                        buf: Seq[(Long, Double, Long)])
  def resampleStream(spark: SparkSession, events: DataFrame,
                     stepMs: Long = 86400000L,
                     watermark: String = "1 hour"): Dataset[GridTick] = {
    import spark.implicits._
    val dayMs = 86400000L
    events.withWatermark("ts", watermark)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ResampleSt, GridTick](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[ResampleSt]) =>
          var st = state.getOption
            .getOrElse(ResampleSt(false, 0L, 0.0, false, Long.MinValue,
              Seq.empty))
          val fresh = rows.map(e => (e.ts.getTime, e.value, e.event_id))
            .toSeq
          if (fresh.nonEmpty) {
            val buf = (st.buf ++ fresh).sortBy(t => (t._1, t._3))
            val mx = math.max(st.maxSeen, buf.map(_._1).max)
            st =
              if (!st.anchored) {
                val t0 = buf.head._1 - buf.head._1 % dayMs
                st.copy(anchored = true, nextGrid = t0, maxSeen = mx,
                  buf = buf)
              } else st.copy(maxSeen = mx, buf = buf)
          }
          val wm = state.getCurrentWatermarkMs()
          val out = scala.collection.mutable.ArrayBuffer[GridTick]()
          if (st.anchored) {
            val gridEnd = st.maxSeen - st.maxSeen % dayMs
            var buf = st.buf
            var (lastV, hasLast) = (st.lastV, st.hasLast)
            var g = st.nextGrid
            // a tick is final once the watermark passes it: every
            // event with ts <= tick has arrived (watermark contract)
            while (g <= wm && g <= gridEnd) {
              while (buf.nonEmpty && buf.head._1 <= g) {
                lastV = buf.head._2; hasLast = true; buf = buf.tail
              }
              out += GridTick(uid, g, if (hasLast) Some(lastV) else None)
              g += stepMs
            }
            st = st.copy(nextGrid = g, lastV = lastV, hasLast = hasLast,
              buf = buf)
            state.update(st)
            // wake when the watermark passes the next pending tick;
            // a fresh event past gridEnd extends the grid and re-arms
            if (g <= gridEnd) state.setTimeoutTimestamp(g)
          } else state.update(st)
          out.iterator
      }
  }

  /** Streaming resample + LINEAR INTERPOLATION: the unbounded twin
    * of [[graft.operators.Reactive.rxResampleInterp]]. A tick needs
    * BOTH endpoints final: the last event at-or-before it (final
    * once the watermark passes the tick) and the first event
    * strictly after it (final once the watermark passes THAT event's
    * time — no later arrival can slot in between, it would be below
    * the watermark). So a tick emits when
    * wm ≥ max(tick, next_event.ts); the tail-ffill row the batch
    * twin emits for its very last tick has no streaming analogue (an
    * unbounded stream can never prove "no further event"), so ticks
    * pend until their right endpoint arrives — every EMITTED tick's
    * value equals the batch twin's over the complete stream
    * (spec-asserted, including an out-of-order right endpoint). The
    * interpolation is the batch twin's exact IEEE op order:
    * prv + (nxt − prv) · (tick − t_prv)/(t_nxt − t_prv). */
  case class InterpTick(user_id: Long, grid_ms: Long, value: Double)
  case class InterpSt(anchored: Boolean, nextGrid: Long,
                      prvT: Long, prvV: Double, hasPrv: Boolean,
                      buf: Seq[(Long, Double, Long)])
  def resampleInterpStream(spark: SparkSession, events: DataFrame,
                           stepMs: Long = 86400000L,
                           watermark: String = "1 hour")
      : Dataset[InterpTick] = {
    import spark.implicits._
    val dayMs = 86400000L
    events.withWatermark("ts", watermark)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[InterpSt, InterpTick](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[InterpSt]) =>
          var st = state.getOption
            .getOrElse(InterpSt(false, 0L, 0L, 0.0, false, Seq.empty))
          val fresh = rows.map(e => (e.ts.getTime, e.value, e.event_id))
            .toSeq
          if (fresh.nonEmpty) {
            val buf = (st.buf ++ fresh).sortBy(t => (t._1, t._3))
            st =
              if (!st.anchored)
                st.copy(anchored = true,
                  nextGrid = buf.head._1 - buf.head._1 % dayMs, buf = buf)
              else st.copy(buf = buf)
          }
          val wm = state.getCurrentWatermarkMs()
          val out = scala.collection.mutable.ArrayBuffer[InterpTick]()
          if (st.anchored) {
            var buf = st.buf
            var (prvT, prvV, hasPrv) = (st.prvT, st.prvV, st.hasPrv)
            var g = st.nextGrid
            var blocked = false
            while (!blocked && g <= wm) {
              while (buf.nonEmpty && buf.head._1 <= g) {
                prvT = buf.head._1; prvV = buf.head._2; hasPrv = true
                buf = buf.tail
              }
              if (buf.isEmpty || buf.head._1 > wm) blocked = true
              else {
                val (nxtT, nxtV, _) = buf.head
                val v =
                  if (!hasPrv) nxtV
                  else if (nxtT == prvT) prvV
                  else prvV + (nxtV - prvV) *
                    ((g - prvT).toDouble / (nxtT - prvT).toDouble)
                out += InterpTick(uid, g, v)
                g += stepMs
              }
            }
            st = st.copy(nextGrid = g, prvT = prvT, prvV = prvV,
              hasPrv = hasPrv, buf = buf)
            state.update(st)
            // re-arm for when the watermark reaches both endpoints
            if (buf.nonEmpty)
              state.setTimeoutTimestamp(math.max(g, buf.head._1))
          } else state.update(st)
          out.iterator
      }
  }

  /** Streaming token-bucket rate limiter — unbounded twin of
    * [[graft.operators.Reactive.rxRateLimit]]. State per key =
    * (tokens_micro, last_t), two longs, with SAFE event-time-timeout
    * eviction: once the watermark passes last_t + the full-refill
    * horizon (cap/rate), any future event finds a saturated bucket —
    * exactly the fresh-state initial condition — so dropping the
    * state cannot change any admission decision. Same in-order
    * delivery contract as the other recurrence ops. */
  case class AdmitRow(user_id: Long, event_id: Long, ts_ms: Long,
                      admitted: Boolean, tokens_micro: Long)
  def rateLimitStream(spark: SparkSession, events: DataFrame,
                      capacityTokens: Int = 3,
                      refillMicroPerMs: Long = 2L): Dataset[AdmitRow] = {
    import spark.implicits._
    val capMicro = capacityTokens * 1000000L
    val refillHorizonMs = capMicro / refillMicroPerMs + 1
    events.withWatermark("ts", "10 minutes")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long), AdmitRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[Ev],
         state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var (tokens, last) =
              state.getOption.getOrElse((capMicro, Long.MinValue))
            val out = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
              .map { e =>
                val t = e.ts.getTime
                if (last != Long.MinValue)
                  tokens = math.min(capMicro,
                    tokens + (t - last) * refillMicroPerMs)
                last = t
                val admitted = tokens >= 1000000L
                if (admitted) tokens -= 1000000L
                AdmitRow(uid, e.event_id, t, admitted, tokens)
              }
            state.update((tokens, last))
            state.setTimeoutTimestamp(math.max(last + refillHorizonMs,
              state.getCurrentWatermarkMs() + 1))
            out.iterator
          }
      }
  }

  /** Streaming capped sessionization — unbounded twin of
    * [[graft.operators.Reactive.rxSessionCapped]]. Each event is
    * emitted with its session identity as it arrives (update-style
    * append); the session identity is the session's START ms, not a
    * counter — that makes eviction SAFE: once the watermark passes
    * prev_t + gap, any future event is guaranteed a gap-split (it
    * cannot be sub-watermark), so the state can be dropped via
    * event-time timeout without ever mis-assigning a later event —
    * a counter would restart after eviction, a start-ms identity
    * cannot collide. State per key = (session_start, prev_t), two
    * longs, evicted on idle; like the other recurrence ops, events
    * are processed in event-time order within a trigger and the
    * recurrence assumes cross-trigger delivery in order. */
  case class SessionRow(user_id: Long, event_id: Long, ts_ms: Long,
                        session_start_ms: Long)
  def sessionCappedStream(spark: SparkSession, events: DataFrame,
                          gapMs: Long = 1800000L,
                          capMs: Long = 7200000L): Dataset[SessionRow] = {
    import spark.implicits._
    events.withWatermark("ts", "10 minutes")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long), SessionRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[Ev],
         state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var (ss, prevT) = state.getOption.getOrElse((-1L, -1L))
            val out = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
              .map { e =>
                val t = e.ts.getTime
                if (ss < 0 || t - prevT > gapMs || t - ss > capMs) ss = t
                prevT = t
                SessionRow(uid, e.event_id, t, ss)
              }
            state.update((ss, prevT))
            // state is only needed while a non-gap continuation is
            // still possible: evict once the watermark passes it
            // (clamped: an event-time timeout must sit above the
            // current watermark)
            state.setTimeoutTimestamp(
              math.max(prevT + gapMs, state.getCurrentWatermarkMs() + 1))
            out.iterator
          }
      }
  }

  case class MinuteDelta(minute: Long, d: Long)

  /** Streaming concurrency curve — the unbounded twin of
    * [[graft.operators.Reactive.rxConcurrency]]. Per-key state is
    * one (session_start, prev_t) pair (the gap-session recurrence,
    * uncapped like the batch op's gapSessions): a CLOSED session
    * emits its ±1 minute-level deltas — (start-minute, +1),
    * (end-minute + 1, −1) — and a chained unwindowed aggregate
    * (the [[transitionsStream]] multi-stateful pattern) keeps the
    * per-minute delta table queryable at any moment; the running
    * active-session count is the consumer's prefix sum over the
    * minute axis, exactly the batch op's window.
    *
    * Closure is emitted at the two provable points: a same-key
    * later event past the gap (exact under the suite's in-order
    * cross-trigger contract), and the event-time TIMEOUT once the
    * watermark passes prev_t + gap — at which point any future
    * event is guaranteed a gap split, so the state can be dropped
    * and the deltas emitted without ever retracting (the
    * sessionCappedStream eviction argument). Deltas therefore
    * appear exactly once per closed session; open sessions
    * contribute nothing until they close — batch parity holds on
    * watermark-closed sessions (spec-asserted across a trigger
    * split). State is two longs per active key, evicted on idle.
    *
    * Deployment note: delta rows necessarily carry minutes BELOW
    * the closure watermark (a session's start minute is old by the
    * time its closure is provable), so Spark's conservative
    * global-watermark checker flags the chain; it is safe HERE
    * because the downstream aggregate is UNWINDOWED — it never
    * evicts per-minute state on the watermark, so a below-watermark
    * delta is merged, never discarded (the exact risk the checker
    * guards against cannot occur). Callers must set
    * `spark.sql.streaming.statefulOperator.checkCorrectness.enabled`
    * to false before starting the query — the documented,
    * deliberate exception, asserted working in StreamingSpec. */
  def concurrencyStream(spark: SparkSession, events: DataFrame,
                        gapMs: Long = 1800000L): DataFrame = {
    import spark.implicits._
    val deltas = events.withWatermark("ts", "10 minutes")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long), MinuteDelta](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[Ev],
         state: GroupState[(Long, Long)]) =>
          def close(ss: Long, end: Long): Seq[MinuteDelta] =
            Seq(MinuteDelta(ss / 60000L, 1L),
              MinuteDelta(end / 60000L + 1L, -1L))
          if (state.hasTimedOut) {
            val (ss, prev) = state.get
            state.remove()
            close(ss, prev).iterator
          } else {
            var (ss, prev) = state.getOption.getOrElse((-1L, -1L))
            val out =
              scala.collection.mutable.ArrayBuffer.empty[MinuteDelta]
            rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
              .foreach { e =>
                val t = e.ts.getTime
                if (ss < 0) ss = t
                else if (t - prev > gapMs) {
                  out ++= close(ss, prev)
                  ss = t
                }
                prev = t
              }
            state.update((ss, prev))
            state.setTimeoutTimestamp(math.max(prev + gapMs,
              state.getCurrentWatermarkMs() + 1))
            out.iterator
          }
      }
    deltas.groupBy(col("minute")).agg(sum(col("d")).as("delta"))
  }

  case class TransRow(user_id: Long, from_type: String, to_type: String)

  /** Streaming Markov transition counts — the unbounded twin of
    * `Reactive.rxTransitions`. Per-key state is ONE string (the last
    * seen event_type): each arrival emits its (from → to) pair row,
    * and a downstream unwindowed count aggregates the matrix —
    * chained stateful operators, so the running transition model is
    * queryable at any moment while state stays O(keys) + O(types²).
    * Late/out-of-order arrivals inside a micro-batch are re-ordered
    * by event_id before pairing, same contract as the batch op. */
  def transitionsStream(spark: SparkSession, events: DataFrame)
      : DataFrame = {
    import spark.implicits._
    val pairs = events
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[String, TransRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[String]) =>
          val sorted = rows.toSeq.sortBy(_.event_id)
          val out = scala.collection.mutable.ArrayBuffer[TransRow]()
          var last = state.getOption
          sorted.foreach { e =>
            last.foreach(f => out += TransRow(uid, f, e.event_type))
            last = Some(e.event_type)
          }
          last.foreach(state.update)
          out.iterator
      }
    pairs.groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n_trans"))
  }

  case class TwapSeg(user_id: Long, dt_ms: Long, weighted: Double)

  /** Streaming TWAP — the unbounded twin of `Reactive.rxTwap`.
    * State per key is one (last_ts, last_value) pair: each arrival
    * closes the previous observation's live segment and emits its
    * (dt, value·dt) contribution into a chained running aggregate,
    * so the time-weighted mean is queryable at any moment. Same
    * in-order contract as the EWMA stream: event_id-ordered within
    * triggers; zero-length segments carry no weight, exactly like
    * the batch op. */
  def twapStream(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val segs = events
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Double), TwapSeg](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev],
         state: GroupState[(Long, Double)]) =>
          val sorted = rows.toSeq.sortBy(_.event_id)
          val out = scala.collection.mutable.ArrayBuffer[TwapSeg]()
          var last = state.getOption
          sorted.foreach { e =>
            val t = e.ts.getTime
            last.foreach { case (lt, lv) =>
              if (t > lt) out += TwapSeg(uid, t - lt, lv * (t - lt))
            }
            last = Some((t, e.value))
          }
          last.foreach(state.update)
          out.iterator
      }
    segs.groupBy("user_id")
      .agg(count(lit(1)).as("n_segments"),
        sum("dt_ms").as("span_ms"),
        (sum("weighted") / sum("dt_ms")).as("twap"))
  }

  /** Streaming SLO burn-rate alert: the unbounded twin of
    * [[graft.operators.Reactive.rxSloBurn]] as sliding 60-minute
    * windows advancing by the minute — each closed window carries
    * its own (err, tot) counts and the same strict integer
    * cross-multiplication verdict, so a page fires AT the minute
    * boundary the trailing-hour rate crosses the objective, not at
    * the next batch run. Watermark-closed append output; the 60×
    * window fan-out per event is the standard sliding-window cost
    * and partial-aggregates per (window, key-less) group. A stream
    * window's end minute m+1 corresponds to the batch op's minute-m
    * trailing frame, with one deliberate asymmetry around TRAFFIC
    * GAPS: the stream emits a row for EVERY breaching sliding
    * window, including windows whose end minute had no events,
    * while the batch frame only materializes minutes that have
    * traffic — so when errors are followed by a silent gap the
    * stream keeps paging through the gap (the operationally-correct
    * behavior: the trailing hour is still burning) and the batch
    * report has no rows for those minutes. The stream output is
    * therefore a SUPERSET of the batch frame; per-window equality
    * holds exactly for windows whose final minute is active, and
    * the spec asserts parity on that subset only. */
  def sloBurnStream(events: DataFrame, sloPpm: Long = 300000L)
      : DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "60 minutes", "1 minute"))
      .agg(sum(when(col("event_type") === "error", 1L).otherwise(0L))
        .as("err_60m"),
        count(lit(1)).as("tot_60m"))
      .filter(col("err_60m") * 1000000L > lit(sloPpm) * col("tot_60m"))
      .select(col("window.end").as("window_end"), col("err_60m"),
        col("tot_60m"),
        expr("err_60m * 1000000 div tot_60m").as("err_ppm"))

  case class DwellSeg(event_type: String, dwell_ms: Long)

  /** Streaming time-in-state: the unbounded twin of
    * [[graft.operators.Reactive.rxStateDwell]]. State per user is
    * one (ts, event_type) pair — the event whose dwell is still
    * open; each arriving event closes the previous one's dwell and
    * emits a (state, dwell) segment into an unwindowed rollup keyed
    * by event_type, so the running dwell table is queryable
    * mid-stream and each user's LAST event stays open exactly like
    * the batch contract. Same [[twapStream]] state shape; dwell
    * segments of zero ms are kept (the batch `lead` keeps them).
    * Requires the per-key monotone-delivery-across-triggers contract
    * (object scaladoc): a late out-of-order event would splice into
    * an already-closed dwell segment. */
  def dwellStream(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val segs = events
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, String), DwellSeg](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev],
         state: GroupState[(Long, String)]) =>
          val sorted = rows.toSeq.sortBy(_.event_id)
          val out = scala.collection.mutable.ArrayBuffer[DwellSeg]()
          var last = state.getOption
          sorted.foreach { e =>
            val t = e.ts.getTime
            last.foreach { case (lt, ltype) =>
              out += DwellSeg(ltype, t - lt)
            }
            last = Some((t, e.event_type))
          }
          last.foreach(state.update)
          out.iterator
      }
    segs.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum("dwell_ms").as("total_dwell_ms"),
        max("dwell_ms").as("max_dwell_ms"))
      .withColumn("mean_dwell_ms", expr("total_dwell_ms div n"))
      .select("event_type", "n", "total_dwell_ms", "mean_dwell_ms",
        "max_dwell_ms")
  }

  case class AttrRow(channel: String, cents: Long)

  /** Streaming last-touch attribution: the unbounded twin of
    * [[graft.operators.Reactive.rxAttribution]]. State per key is
    * ONE string — the latest non-purchase event type seen — and each
    * purchase emits an attributed (channel, cents) row chained into
    * an unwindowed rollup, so the running attribution table is
    * queryable mid-stream. Cents quantize with the batch DECIMAL
    * cast's valueOf semantics (same rule as [[cusumStream]]). */
  def attributionStream(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val rows = events
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[String, AttrRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[String]) =>
          var touch = state.getOption.getOrElse("direct")
          val out = rows.toSeq.sortBy(_.event_id).flatMap { e =>
            if (e.event_type == "purchase") {
              val cents = java.math.BigDecimal.valueOf(e.value)
                .setScale(2, java.math.RoundingMode.HALF_UP)
                .movePointRight(2).longValueExact()
              Some(AttrRow(touch, cents))
            } else { touch = e.event_type; None }
          }
          state.update(touch)
          out.iterator
      }
    rows.groupBy("channel")
      .agg(count(lit(1)).as("n_conversions"),
        sum("cents").as("attributed_cents"))
  }

  case class BurstRow(event_type: String, minute: Long,
                      n: Long, trail_sum: Long)

  /** Streaming burst detection: the unbounded twin of
    * [[graft.operators.Reactive.rxBurst]] with per-key warm-up (an
    * unbounded stream knows no global corpus start — batch twin run
    * with `globalWarmup = false` for parity). State per event type is
    * (first minute, the last `windowBuckets`+1 non-silent minute
    * counts); a minute's verdict emits when a LATER minute arrives
    * (close-on-advance — the final open minute stays pending, the
    * same no-EOF delta as [[pathsStream]]). Silent minutes are
    * implicit zeros exactly as the batch RANGE frame counts them. */
  def burstStream(spark: SparkSession, events: DataFrame,
                  windowBuckets: Int = 10, factor: Int = 3)
      : Dataset[BurstRow] = {
    import spark.implicits._
    events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[(Long, List[(Long, Long)]), BurstRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (etype: String, rows: Iterator[Ev],
         state: GroupState[(Long, List[(Long, Long)])]) =>
          var (first, hist) = state.getOption.getOrElse((Long.MaxValue, Nil))
          val out = scala.collection.mutable.ArrayBuffer[BurstRow]()
          def close(m: Long, c: Long): Unit =
            if (m >= first + windowBuckets) {
              val trail = hist
                .filter { case (hm, _) => hm >= m - windowBuckets && hm < m }
                .map(_._2).sum
              if (c * windowBuckets > trail * factor)
                out += BurstRow(etype, m, c, trail)
            }
          rows.toSeq.sortBy(_.event_id).foreach { e =>
            val m = e.ts.getTime / 60000L
            if (first == Long.MaxValue) first = m
            hist match {
              case (lm, lc) :: rest if lm == m => hist = (m, lc + 1) :: rest
              case (lm, lc) :: _ if m > lm =>
                close(lm, lc)
                hist = ((m, 1L) :: hist)
                  .filter { case (hm, _) => hm >= m - windowBuckets }
              case Nil => hist = List((m, 1L))
              case _ => // late minute (shouldn't occur: ids order time)
                hist = (m, 1L) :: hist
            }
          }
          state.update((first, hist))
          out.iterator
      }
  }

  case class ShapeAlert(user_id: Long, start_event_id: Long, dist: Double)

  /** Streaming shape-match alerting: the unbounded form of
    * [[graft.operators.Reactive.rxTsMatch]] — fire whenever a key's
    * LAST L values z-normalize within `maxDist` of the query
    * pattern. State per key is an L-value ring (the minimal
    * subsequence memory); the distance kernel is the SAME
    * [[graft.functions.Kernels.znDist]] the batch op codegens, so
    * alerts equal the batch op's thresholded distance set exactly
    * across trigger splits (spec-asserted). */
  def shapeAlertStream(spark: SparkSession, events: DataFrame,
                       pattern: Seq[Double] =
                         Seq(0, 0, 0, 10, 10, 0, 0, 0),
                       maxDist: Double = 0.5): Dataset[ShapeAlert] = {
    import spark.implicits._
    val q = pattern.toArray
    val L = q.length
    events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[(Long, Double)], ShapeAlert](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev],
         state: GroupState[List[(Long, Double)]]) =>
          var ring = state.getOption.getOrElse(Nil) // newest first
          val out = scala.collection.mutable.ArrayBuffer[ShapeAlert]()
          rows.toSeq.sortBy(_.event_id).foreach { e =>
            ring = ((e.event_id, e.value) :: ring).take(L)
            if (ring.length == L) {
              val window = ring.reverse
              val arr = org.apache.spark.sql.catalyst.util.ArrayData
                .toArrayData(window.map(_._2).toArray)
              val d = graft.functions.Kernels.znDist(arr, q)
              if (d <= maxDist)
                out += ShapeAlert(uid, window.head._1, d)
            }
          }
          state.update(ring)
          out.iterator
      }
  }

  case class PathRow(user_id: Long, path: String)

  /** Streaming journey paths: the unbounded twin of
    * [[graft.operators.Reactive.rxPaths]]. State per key is the
    * growing prefix (≤ depth event types); the path row emits ONCE,
    * when the depth-th event arrives, and chains into an unwindowed
    * frequency rollup. The deliberate semantic delta vs batch: a
    * bounded run can close short histories at EOF, an unbounded
    * stream cannot — users still short of `depth` have not emitted
    * yet (spec compares against the batch op restricted to
    * depth-complete users). */
  def pathsStream(spark: SparkSession, events: DataFrame, depth: Int = 3)
      : DataFrame = {
    import spark.implicits._
    val paths = events
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[String], PathRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[List[String]]) =>
          var seen = state.getOption.getOrElse(Nil) // reversed prefix
          val out = scala.collection.mutable.ArrayBuffer[PathRow]()
          rows.toSeq.sortBy(_.event_id).foreach { e =>
            if (seen.length < depth) {
              seen = e.event_type :: seen
              if (seen.length == depth)
                out += PathRow(uid, seen.reverse.mkString(">"))
            }
          }
          state.update(seen)
          out.iterator
      }
    paths.groupBy("path").agg(count(lit(1)).as("n_users"))
  }

  case class CusumRow(event_id: Long, user_id: Long,
                      cusum_cents: Long, alarm: Boolean)

  /** Streaming CUSUM change-point detector: the unbounded twin of
    * [[graft.operators.Reactive.rxCusum]] run against a FIXED
    * reference (an unbounded stream has no full-series mean; in
    * production the reference comes from a trained baseline). State
    * per key is ONE long — the textbook recurrence
    * S = max(0, S + (x − ref)) applied per element, which the batch
    * op's drawdown identity provably equals. Cents quantization uses
    * the same DECIMAL(18,2) HALF_UP rule as the batch `dec()` cast,
    * so the two forms are bit-identical on shared history. */
  def cusumStream(spark: SparkSession, events: DataFrame,
                  refCents: Long, alarmCents: Long = 100000L)
      : Dataset[CusumRow] = {
    import spark.implicits._
    events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, CusumRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[Long]) =>
          var s = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(_.event_id).map { e =>
            // valueOf = Double.toString semantics — what Spark's
            // cast(DECIMAL) uses; the raw binary expansion would
            // round 0.004999… differently
            val cents = java.math.BigDecimal.valueOf(e.value)
              .setScale(2, java.math.RoundingMode.HALF_UP)
              .movePointRight(2).longValueExact()
            s = math.max(0L, s + (cents - refCents))
            CusumRow(e.event_id, uid, s, s > alarmCents)
          }
          state.update(s)
          out.iterator
      }
  }

  case class DrawdownRow(event_id: Long, user_id: Long, cents: Long,
                         peak_cents: Long, dd_cents: Long,
                         dd_ppm: Option[Long])

  /** Streaming maximum-drawdown monitor: the unbounded twin of
    * [[graft.operators.Reactive.rxDrawdown]]. State per key is ONE
    * long — the running peak; each arriving event emits its live
    * drawdown from that peak (absolute cents and integer ppm) so a
    * risk page can fire mid-stream instead of at the next batch run.
    * Cents quantization pins the batch `dec()` cast's valueOf /
    * HALF_UP rule and the ppm is the same single floor division
    * (through BigInt so 100 TB-scale cents cannot overflow the
    * numerator), so per-row output equals the batch op's pre-rollup
    * frame bit-for-bit across any trigger split (spec-asserted);
    * non-positive peaks yield None exactly like the batch NULL.
    * Requires the per-key monotone-delivery-across-triggers contract
    * (object scaladoc): a late low event_id arriving after the peak
    * state was raised by a later event would fold against the wrong
    * peak. */
  def drawdownStream(spark: SparkSession, events: DataFrame)
      : Dataset[DrawdownRow] = {
    import spark.implicits._
    events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, DrawdownRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[Long]) =>
          var peak = state.getOption.getOrElse(Long.MinValue)
          val out = rows.toSeq.sortBy(_.event_id).map { e =>
            val cents = java.math.BigDecimal.valueOf(e.value)
              .setScale(2, java.math.RoundingMode.HALF_UP)
              .movePointRight(2).longValueExact()
            peak = math.max(peak, cents)
            val dd = peak - cents
            val ppm = if (peak > 0)
              Some((BigInt(dd) * 1000000 / BigInt(peak)).toLong)
            else None
            DrawdownRow(e.event_id, uid, cents, peak, dd, ppm)
          }
          state.update(peak)
          out.iterator
      }
  }

  /** Streaming funnel-rates report: the unbounded twin of
    * [[graft.operators.Reactive.rxFunnelRates]]. Rides
    * [[funnelStream]]'s append advances (a user emits stage k at
    * most once, so count(stage = k) IS "users who reached k") into
    * one running 3-counter aggregate; the 3-stage report plus
    * step/overall ppm is a pure projection on that single row — the
    * batch op's lag window unrolls into literal stage arithmetic
    * because the stage set is fixed, so no (unsupported) streaming
    * window function is needed. Complete output: the 3-row report
    * re-emits per trigger, which is the point — live conversion
    * rates mid-stream. Same div/zero contract as batch: stage 1
    * steps at 1e6, a zero previous stage steps at 0. */
  def funnelRatesStream(spark: SparkSession, events: DataFrame)
      : DataFrame =
    funnelStream(spark, events)
      .groupBy()
      .agg(sum(when(col("stage") === 1, 1L).otherwise(0L)).as("s1"),
        sum(when(col("stage") === 2, 1L).otherwise(0L)).as("s2"),
        sum(when(col("stage") === 3, 1L).otherwise(0L)).as("s3"))
      .select(explode(array(
        struct(lit(1L).as("stage"), lit("view").as("name"),
          col("s1").as("n_users"), lit(1000000L).as("step_ppm"),
          expr("CASE WHEN s1 = 0 THEN 0L ELSE 1000000L END")
            .as("overall_ppm")),
        struct(lit(2L).as("stage"), lit("click").as("name"),
          col("s2").as("n_users"),
          expr("CASE WHEN s1 = 0 THEN 0L ELSE s2 * 1000000 div s1 END")
            .as("step_ppm"),
          expr("CASE WHEN s1 = 0 THEN 0L ELSE s2 * 1000000 div s1 END")
            .as("overall_ppm")),
        struct(lit(3L).as("stage"), lit("purchase").as("name"),
          col("s3").as("n_users"),
          expr("CASE WHEN s2 = 0 THEN 0L ELSE s3 * 1000000 div s2 END")
            .as("step_ppm"),
          expr("CASE WHEN s1 = 0 THEN 0L ELSE s3 * 1000000 div s1 END")
            .as("overall_ppm")))).as("r"))
      .select(col("r.stage"), col("r.name"), col("r.n_users"),
        col("r.step_ppm"), col("r.overall_ppm"))

  case class GapRow(event_type: String, log2_bucket: Long)

  /** Streaming inter-arrival histogram: the unbounded twin of
    * [[graft.operators.Reactive.rxInterarrivalHist]]. State per key
    * is one long — the previous event's epoch ms; each arrival with
    * a strictly-larger ms emits its gap's exact bit-length bucket
    * (63 − leading zeros ≡ the batch `length(bin(g)) − 1`, no float
    * log) tagged with the ARRIVING event's type, then the tiny
    * (type, ≤64-bucket) running rollup. Zero-ms gaps excluded like
    * batch (clock granularity, not behavior). Same monotone-delivery
    * contract as the other fold twins. */
  def interarrivalHistStream(spark: SparkSession, events: DataFrame)
      : DataFrame = {
    import spark.implicits._
    val gaps = events
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, GapRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[Long]) =>
          var last = state.getOption.getOrElse(Long.MinValue)
          val out = scala.collection.mutable.ArrayBuffer[GapRow]()
          rows.toSeq.sortBy(_.event_id).foreach { e =>
            val ms = e.ts.getTime
            if (last != Long.MinValue && ms > last)
              out += GapRow(e.event_type,
                (63 - java.lang.Long.numberOfLeadingZeros(ms - last)).toLong)
            last = ms
          }
          state.update(last)
          out.iterator
      }
    gaps.groupBy("event_type", "log2_bucket")
      .agg(count(lit(1)).as("n"))
  }

  /** Streaming rare-path pair feed: the unbounded half of
    * [[graft.operators.Reactive.rxAnomalyPath]]. The batch op scores
    * each user against the CORPUS-FINAL Markov model, which no
    * online operator can do without rescoring history at every
    * model update — so the streaming form splits at the honest
    * boundary: the sequentially-hard part (per-key transition
    * extraction, which at scale needs the per-user ordering this
    * stateful fold provides) runs unbounded and appends
    * (user_id, from, to, event_id) rows to the sink; the CHEAP part
    * (|types|² model + per-user argmin + bottom-k) is
    * [[anomalyPathScore]], a bounded batch query over the
    * accumulated sink run on demand ("score as of now"). Spec
    * asserts score(sink after N triggers) ≡ the batch op on the
    * same events. */
  def anomalyPathStream(spark: SparkSession, events: DataFrame)
      : Dataset[PairRow] = {
    import spark.implicits._
    events
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[String, PairRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[String]) =>
          val out = scala.collection.mutable.ArrayBuffer[PairRow]()
          var last = state.getOption
          rows.toSeq.sortBy(_.event_id).foreach { e =>
            last.foreach(f =>
              out += PairRow(uid, f, e.event_type, e.event_id))
            last = Some(e.event_type)
          }
          last.foreach(state.update)
          out.iterator
      }
  }

  case class PairRow(user_id: Long, from_state: String, to_state: String,
                     event_id: Long)

  /** Bounded scoring tail over [[anomalyPathStream]]'s sink: exactly
    * the batch op's model + weakest-link argmin + bottom-k plan
    * (probs broadcast, one user_id rollup), so running it over the
    * accumulated pair table reproduces `rxAnomalyPath` of everything
    * delivered so far. */
  def anomalyPathScore(pairs: DataFrame, k: Int = 20): DataFrame = {
    val counts = pairs.groupBy("from_state", "to_state")
      .agg(count(lit(1)).as("n"))
    val probs = counts
      .join(counts.groupBy("from_state").agg(sum("n").as("tot")),
        "from_state")
      .select(col("from_state"), col("to_state"),
        expr("n * 1000000 div tot").as("prob_ppm"))
    pairs.join(org.apache.spark.sql.functions.broadcast(probs),
        Seq("from_state", "to_state"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_transitions"),
        min(struct(col("prob_ppm"), col("from_state"), col("to_state")))
          .as("w"))
      .select(col("user_id"), col("n_transitions"),
        col("w.prob_ppm").as("min_prob_ppm"),
        col("w.from_state").as("rare_from"),
        col("w.to_state").as("rare_to"))
      .orderBy(col("min_prob_ppm"), col("user_id")).limit(k)
  }

  case class AbRow(user_id: Long, n_events: Long, converted: Long,
                   rev_cents: Long)

  /** Streaming A/B readout, user-fold half: the unbounded part of
    * [[graft.operators.Reactive.rxAbTest]] is the per-user
    * converted-flag / revenue fold (order-insensitive, so no
    * cross-trigger ordering precondition); each trigger appends the
    * key's updated snapshot stamped with the monotone processed-event
    * count, and the CHEAP arm rollup ([[abTestScore]]) runs bounded
    * over the latest snapshots on demand — the
    * [[anomalyPathStream]] split-at-the-honest-boundary shape,
    * because a streaming re-aggregation of an updating aggregate
    * would need update-mode sinks the arm report's consumers don't
    * have. State per user = three longs; cents quantization pins the
    * batch `dec()` cast's valueOf semantics (same rule as
    * [[attributionStream]]). */
  def abTestStream(spark: SparkSession, events: DataFrame)
      : Dataset[AbRow] = {
    import spark.implicits._
    events
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Long), AbRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev],
         state: GroupState[(Long, Long, Long)]) =>
          var (n, conv, rev) = state.getOption.getOrElse((0L, 0L, 0L))
          rows.foreach { e =>
            n += 1
            if (e.event_type == "purchase") {
              conv = 1L
              rev += java.math.BigDecimal.valueOf(e.value)
                .setScale(2, java.math.RoundingMode.HALF_UP)
                .movePointRight(2).longValueExact()
            }
          }
          state.update((n, conv, rev))
          Iterator.single(AbRow(uid, n, conv, rev))
      }
  }

  /** Bounded arm rollup over [[abTestStream]]'s snapshot sink:
    * latest snapshot per user (max processed-count struct — the
    * stamp is monotone per key, so "latest" is well-defined without
    * wall clocks), then exactly the batch op's md5 arm split and
    * integral-ppm rollup. Running it over the accumulated sink
    * reproduces `rxAbTest` of everything delivered so far. */
  def abTestScore(snapshots: DataFrame): DataFrame =
    snapshots
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("converted"),
        col("rev_cents"))).as("s"))
      .select(col("user_id"), col("s.converted").as("converted"),
        col("s.rev_cents").as("rev"))
      .withColumn("arm",
        when(expr(
          "instr('01234567', substr(md5(cast(user_id AS string)), 1, 1))")
          > 0, lit("A")).otherwise(lit("B")))
      .groupBy("arm")
      .agg(count(lit(1)).as("n_users"),
        sum("converted").as("n_converted"),
        sum("rev").as("r"))
      .select(col("arm"), col("n_users"), col("n_converted"),
        expr("n_converted * 1000000 div n_users").as("conv_ppm"),
        col("r").cast("long").as("rev_cents"),
        expr("r div n_users").as("arpu_cents"))

  case class TrendRow(day: Long, salt: Long, event_type: String, n: Long)

  /** Streaming per-day type counts, the unbounded half of
    * [[graft.operators.Reactive.rxTrending]]: state is the per-type
    * count map — bounded by the event-type vocabulary, the same
    * |types| contract as the batch op's rank frame — and each
    * trigger appends the key's refreshed (type, count) snapshots.
    * The state key is (day, user_id mod `salts`), NOT the bare day:
    * a day-keyed fold funnels every event of the current day through
    * ONE state task (the classic hot-key serialization — at 100 TB
    * that single task IS the pipeline), while the salt spreads the
    * fold across `salts` tasks and the score tail re-sums the
    * monotone per-salt counts. The top-k rank itself
    * ([[trendingScore]]) runs bounded over the latest counts: a
    * per-day top-k that changes as counts grow is inherently
    * update-shaped, so the append sink carries monotone counts and
    * the rank is scored on demand. Active state = salts × current
    * day — eviction is the calendar, not a TTL. */
  def trendingStream(spark: SparkSession, events: DataFrame,
                     salts: Int = 8): Dataset[TrendRow] = {
    import spark.implicits._
    events
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(e =>
        (e.ts.getTime / 86400000L, math.floorMod(e.user_id, salts.toLong)))
      .flatMapGroupsWithState[Map[String, Long], TrendRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Long, Long), rows: Iterator[Ev],
         state: GroupState[Map[String, Long]]) =>
          var counts = state.getOption.getOrElse(Map.empty[String, Long])
          val touched = scala.collection.mutable.LinkedHashSet[String]()
          rows.foreach { e =>
            counts = counts.updated(e.event_type,
              counts.getOrElse(e.event_type, 0L) + 1L)
            touched += e.event_type
          }
          state.update(counts)
          touched.iterator.map(t => TrendRow(key._1, key._2, t, counts(t)))
      }
  }

  /** Bounded top-k over [[trendingStream]]'s count sink: latest
    * count per (day, salt, type) — counts are monotone per key, so
    * max IS latest — re-summed across salts, then the batch op's
    * exact rank frame. Reproduces `rxTrending` of everything
    * delivered so far. */
  def trendingScore(counts: DataFrame, k: Int = 3): DataFrame =
    counts
      .groupBy("day", "salt", "event_type")
      .agg(max("n").as("n"))
      .groupBy("day", "event_type")
      .agg(sum("n").as("n"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("day")
          .orderBy(col("n").desc, col("event_type"))).cast("long"))
      .filter(col("rank") <= k)
      .select("day", "rank", "event_type", "n")

  case class PeakRow(user_id: Long, event_id: Long, cents: Long,
                     rise_cents: Long, drop_cents: Long)

  /** Streaming local-maximum detection: the unbounded twin of
    * [[graft.operators.Reactive.rxPeaks]]. A peak needs ONE event of
    * lookahead, so state per key is the last two (event_id, cents)
    * points and each arrival decides whether the MIDDLE point was a
    * peak (strict-left/non-strict-right, same plateau rule) —
    * emission lags the stream by exactly one event per key, the
    * honest latency of the definition. Cents quantization pins the
    * batch `dec()` cast's valueOf semantics; same per-key
    * monotone-delivery-across-triggers contract as the other
    * order-sensitive fold twins. */
  def peaksStream(spark: SparkSession, events: DataFrame)
      : Dataset[PeakRow] = {
    import spark.implicits._
    events
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Long, Boolean, Boolean), PeakRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev],
         state: GroupState[(Long, Long, Long, Boolean, Boolean)]) =>
          // (prevCents, currId, currCents, havePair, haveCurr):
          // haveCurr after one point, havePair after two
          var (prevC, currId, currC, havePair, haveCurr) =
            state.getOption.getOrElse((0L, 0L, 0L, false, false))
          val out = scala.collection.mutable.ArrayBuffer[PeakRow]()
          rows.toSeq.sortBy(_.event_id).foreach { e =>
            val c = java.math.BigDecimal.valueOf(e.value)
              .setScale(2, java.math.RoundingMode.HALF_UP)
              .movePointRight(2).longValueExact()
            if (haveCurr) {
              if (havePair && currC > prevC && currC >= c)
                out += PeakRow(uid, currId, currC, currC - prevC,
                  currC - c)
              prevC = currC; havePair = true
            }
            currId = e.event_id; currC = c; haveCurr = true
          }
          state.update((prevC, currId, currC, havePair, haveCurr))
          out.iterator
      }
  }

  case class LatchRow(user_id: Long, event_id: Long, cents: Long,
                      state: String)

  /** Streaming hysteresis latch: the unbounded twin of
    * [[graft.operators.Reactive.rxHysteresis]]. State per key is ONE
    * boolean (the latch); an arrival crossing `hiCents` from the OFF
    * state or falling to `loCents` from ON emits the transition the
    * moment it happens — the flap-free alert feed with zero lag
    * (unlike [[peaksStream]], the latch needs no lookahead). Same
    * quantization and ordering contract as the other fold twins. */
  def hysteresisStream(spark: SparkSession, events: DataFrame,
                       hiCents: Long = 10000L, loCents: Long = 5000L)
      : Dataset[LatchRow] = {
    require(loCents < hiCents, "hysteresis needs lo < hi")
    import spark.implicits._
    events
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Boolean, LatchRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[Boolean]) =>
          var on = state.getOption.getOrElse(false)
          val out = scala.collection.mutable.ArrayBuffer[LatchRow]()
          rows.toSeq.sortBy(_.event_id).foreach { e =>
            val c = java.math.BigDecimal.valueOf(e.value)
              .setScale(2, java.math.RoundingMode.HALF_UP)
              .movePointRight(2).longValueExact()
            if (!on && c >= hiCents) {
              on = true; out += LatchRow(uid, e.event_id, c, "on")
            } else if (on && c <= loCents) {
              on = false; out += LatchRow(uid, e.event_id, c, "off")
            }
          }
          state.update(on)
          out.iterator
      }
  }

  case class UserDay(user_id: Long, day: Long)

  /** Streaming distinct user-day activity feed: the shared unbounded
    * primitive under every calendar engagement metric (cohort
    * retention, DAU/MAU stickiness, streaks, rolling actives). State
    * per user is the set of calendar days already emitted — bounded
    * by the CALENDAR (days active, not events; a decade of daily
    * activity is ~3.7k longs — swap in a day-offset bitmap when that
    * matters), so each (user, day) first-activity crosses the sink
    * exactly once and the sink IS the distinct frame the batch ops
    * start from. Emission is order-insensitive (set membership), so
    * no cross-trigger ordering precondition. */
  def userDayStream(spark: SparkSession, events: DataFrame)
      : Dataset[UserDay] = {
    import spark.implicits._
    events
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Set[Long], UserDay](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[Set[Long]]) =>
          var seen = state.getOption.getOrElse(Set.empty[Long])
          val out = scala.collection.mutable.ArrayBuffer[UserDay]()
          rows.foreach { e =>
            val day = e.ts.getTime / 86400000L
            if (!seen(day)) { seen += day; out += UserDay(uid, day) }
          }
          state.update(seen)
          out.iterator
      }
  }

  /** Bounded cohort-retention tail over [[userDayStream]]'s sink:
    * exactly the batch triangle (min-day cohort, per-(cohort, offset)
    * distinct actives) on the already-distinct feed. Reproduces
    * `rxCohortRetention` of everything delivered so far. */
  def cohortRetentionScore(userDays: DataFrame): DataFrame = {
    val cohort = userDays.groupBy("user_id")
      .agg(min("day").as("cohort_day"))
    userDays.select("user_id", "day").join(cohort, "user_id")
      .groupBy(col("cohort_day"),
        (col("day") - col("cohort_day")).as("offset_days"))
      .agg(count_distinct(col("user_id")).as("active_users"))
  }

  /** Bounded rolling-actives tail over [[userDayStream]]'s sink:
    * the batch trailing-N-day distinct-actives frame (bounded
    * contribution fan-out, horizon-clipped) on the distinct feed.
    * Reproduces `rxRollingActives` of everything delivered so far. */
  def rollingActivesScore(userDays: DataFrame, windowDays: Int = 7)
      : DataFrame = {
    val ud = userDays.select("user_id", "day").distinct()
    val maxDay = ud.agg(max(col("day")).as("max_day"))
    ud.select(col("user_id"),
        explode(expr(s"sequence(day, day + ${windowDays - 1})")).as("wday"))
      .distinct()
      .crossJoin(broadcast(maxDay))
      .filter(col("wday") <= col("max_day"))
      .groupBy("wday").agg(count(lit(1)).as("active_users"))
  }

  /** Bounded streaks tail over [[userDayStream]]'s sink: the batch
    * gaps-and-islands rollup (day − row_number group identity) on
    * the distinct feed. Reproduces `rxStreaks` of everything
    * delivered so far. */
  def streaksScore(userDays: DataFrame): DataFrame = {
    val ud = userDays.select("user_id", "day").distinct()
    val runs = ud
      .withColumn("grp",
        col("day") - row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("user_id").orderBy("day")))
      .groupBy("user_id", "grp")
      .agg(count(lit(1)).as("len"), min("day").as("start_day"))
    runs.groupBy("user_id")
      .agg(max(col("len")).as("longest_streak"),
        max_by(col("start_day"), struct(col("len"), -col("grp")))
          .as("streak_start_day"),
        count(lit(1)).as("n_streaks"))
  }

  /** Bounded DAU/MAU tail over [[userDayStream]]'s sink: the batch
    * stickiness frame (trailing-window membership via a bounded
    * sequence explode) on the distinct feed. Reproduces
    * `rxStickiness` of everything delivered so far. */
  def stickinessScore(userDays: DataFrame, windowDays: Int = 30)
      : DataFrame = {
    val ud = userDays.select("user_id", "day").distinct()
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val mau = ud.select(col("user_id"),
        explode(expr(s"sequence(day, day + ${windowDays - 1})")).as("day"))
      .distinct()
      .groupBy("day").agg(count(lit(1)).as("mau"))
    dau.join(mau, Seq("day"))
      .select(col("day"), col("dau"), col("mau"),
        expr("dau * 1000000 div mau").as("stickiness_ppm"))
  }
}
