package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The reactive (Rx-style) operator algebra, re-expressed as
  * declarative Spark plans over a keyed, timestamped event stream
  * (`events`: event_id, ts, user_id, event_type, value, props).
  *
  * Reference surface: the Observable operator algebra exercised by
  * pietro909/scala-reactivex (ReactiveX coursework). Semantics are
  * the batch (bounded-stream) form; `graft.streaming` carries the
  * unbounded Structured Streaming twins.
  *
  * Scale notes:
  *  - Every per-key operator is a single shuffle on `user_id`
  *    followed by in-partition window evaluation; chained operators
  *    reuse the Exchange (same partitioning expression).
  *  - `event_id` is the deterministic per-stream sequence number
  *    (monotone in event time), used as window order key so results
  *    are reproducible under any physical row order.
  *  - Combination operators (withLatestFrom / combineLatest) use the
  *    union-tag + running-last-value lattice: ONE shuffle total,
  *    never a per-key join and never a cross product — this is the
  *    shape that survives 100 TB.
  *  - Monetary/double aggregation goes through DecimalType so sums
  *    are exact and order-independent (bit-stable across cluster
  *    sizes and vs. external oracles).
  */
object Reactive {
  private val byUser = Window.partitionBy("user_id").orderBy("event_id")
  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))

  /** Rx `map`: pure projection — narrow, codegen'd, no shuffle. */
  def rxMap(events: DataFrame): DataFrame =
    events.select(
      col("event_id"), col("user_id"),
      (col("value") * lit(2.5)).as("scaled"),
      upper(col("event_type")).as("tag"),
      concat_ws(":", col("user_id"), col("event_type")).as("route"))

  /** Rx `filter`: predicate reaches the parquet scan (PushedFilters). */
  def rxFilter(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "purchase" && col("value") > 100.0)
      .select("event_id", "user_id", "value")

  /** Rx `partition`: split a stream into pass/fail substreams by a
    * predicate. Rx returns a pair of Observables; the engine form is
    * ONE scan producing both substreams as a tagged union — callers
    * `filter(part = ...)` their half and Catalyst prunes the scan to
    * a plain pushed-down filter, so taking one half costs the same
    * as `rxFilter` while taking both costs a single pass. */
  def rxPartition(events: DataFrame, threshold: Double = 100.0): DataFrame =
    events.select(col("event_id"), col("user_id"), col("value"),
      when(col("value") >= threshold, lit("pass")).otherwise(lit("fail"))
        .as("part"))

  /** Rx `ignoreElements`: suppress every element, emit only the
    * per-key completion signal (with how many elements completed —
    * the bounded analogue of onComplete). One partial-aggregable
    * groupBy; the values never leave the map side. */
  def rxIgnoreElements(events: DataFrame): DataFrame =
    events.groupBy("user_id")
      .agg(count(lit(1)).as("n_ignored"))
      .select(col("user_id"), lit("completed").as("signal"),
        col("n_ignored"))

  /** Rx `flatMap`: one event fans out into 1+floor(value/100) rows. */
  def rxFlatMap(events: DataFrame): DataFrame =
    events
      .select(col("event_id"), col("user_id"), col("value"),
        explode(sequence(lit(0L),
          greatest(lit(0L),
            least(floor(col("value") / 100).cast("long"), lit(3L))))).as("rep"))
      .select(col("event_id"), col("rep"), col("user_id"),
        (col("value") / (col("rep") + 1)).as("split_value"))

  /** Rx `scan`: running fold (cumulative sum) per key, exact decimal. */
  def rxScan(events: DataFrame): DataFrame =
    events.select(col("event_id"), col("user_id"),
      sum(dec(col("value")))
        .over(byUser.rowsBetween(Window.unboundedPreceding, 0))
        .as("running_value"),
      count(lit(1))
        .over(byUser.rowsBetween(Window.unboundedPreceding, 0))
        .as("running_n"))

  /** Rx `distinct` on a derived key. */
  def rxDistinct(events: DataFrame): DataFrame =
    events.select("user_id", "event_type").distinct()

  /** Rx `distinctUntilChanged`: drop consecutive repeats per key. */
  def rxDistinctUntilChanged(events: DataFrame): DataFrame =
    events
      .withColumn("prev_type", lag("event_type", 1).over(byUser))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .select("event_id", "user_id", "event_type")

  /** Gaps-and-islands: maximal runs of equal event_type per user
    * stream — distinctUntilChanged's aggregate twin (that op keeps
    * run HEADS; this one describes every run). Change flags from lag,
    * running sum numbers the islands, then a per-(user, island)
    * collapse. ONE exchange on user_id: both window passes share its
    * sort and the final aggregate's (user_id, island_id) keys are a
    * superset of the partitioning, so at any scale the op costs one
    * fact shuffle like the windows it's built from. */
  def rxIslands(events: DataFrame): DataFrame =
    events
      .withColumn("chg",
        when(lag("event_type", 1).over(byUser).isNull ||
          lag("event_type", 1).over(byUser) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("island_id", sum(col("chg"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("island_id"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        min("event_id").as("first_event_id"),
        max("event_id").as("last_event_id"))

  /** Rx `take(n)` per key stream. */
  def rxTake(events: DataFrame, n: Int = 5): DataFrame =
    events
      .withColumn("rn", row_number().over(byUser))
      .filter(col("rn") <= n)
      .select("event_id", "user_id", "rn")

  /** Rx `skip(n)` per key stream. */
  def rxSkip(events: DataFrame, n: Int = 5): DataFrame =
    events
      .withColumn("rn", row_number().over(byUser))
      .filter(col("rn") > n)
      .select("event_id", "user_id", "rn")

  /** Rx `takeWhile(value < limit)` per key: stop at first violation. */
  def rxTakeWhile(events: DataFrame, limit: Double = 150.0): DataFrame =
    events
      .withColumn("violations",
        sum(when(col("value") >= limit, 1).otherwise(0))
          .over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("violations") === 0)
      .select("event_id", "user_id", "value")

  /** Rx `first`/`last` per key (min_by/max_by: single partial-aggregable pass). */
  def rxFirstLast(events: DataFrame): DataFrame =
    events.groupBy("user_id").agg(
      min("event_id").as("first_event_id"),
      min_by(col("value"), col("event_id")).as("first_value"),
      max("event_id").as("last_event_id"),
      max_by(col("value"), col("event_id")).as("last_value"))

  /** Rx `pairwise`: sliding pairs per key. */
  def rxPairwise(events: DataFrame): DataFrame =
    events
      .withColumn("prev_value", lag("value", 1).over(byUser))
      .filter(col("prev_value").isNotNull)
      .select(col("event_id"), col("user_id"), col("prev_value"),
        col("value").as("cur_value"))

  /** Rx `startWith`: prepend a seed element to every key's stream. */
  def rxStartWith(events: DataFrame): DataFrame = {
    val seeds = events.select("user_id").distinct()
      .select(lit(-1L).as("event_id"), col("user_id"),
        lit("seed").as("event_type"), lit(0.0).as("value"))
    seeds.unionByName(
      events.select("event_id", "user_id", "event_type", "value"))
  }

  /** Rx `defaultIfEmpty`: keys whose filtered stream is empty emit a default. */
  def rxDefaultIfEmpty(events: DataFrame): DataFrame = {
    val errors = events.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id"), col("value"))
    val allUsers = events.select("user_id").distinct()
    val empties = allUsers.join(errors.select("user_id").distinct(),
        Seq("user_id"), "left_anti")
      .select(col("user_id"), lit(-1L).as("event_id"), lit(0.0).as("value"))
    errors.unionByName(empties)
  }

  /** Rx `merge`: interleave two streams (unionByName — no shuffle). */
  def rxMerge(events: DataFrame): DataFrame = {
    val a = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("value"), lit("A").as("src"))
    val b = events.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("value"), lit("B").as("src"))
    a.unionByName(b)
  }

  /** Rx `concat`: stream A fully before stream B (explicit order key). */
  def rxConcat(events: DataFrame): DataFrame = {
    val a = events.filter(col("event_type") === "signup")
      .select(lit(0).as("src_order"), col("event_id"), col("user_id"))
    val b = events.filter(col("event_type") === "error")
      .select(lit(1).as("src_order"), col("event_id"), col("user_id"))
    a.unionByName(b)
  }

  /** Rx `zip`: pair the i-th purchase with the i-th click per key.
    * Sort-merge join on (user_id, occurrence index); inner join
    * truncates to the shorter stream, exactly like Rx zip. */
  def rxZip(events: DataFrame): DataFrame = {
    def indexed(t: String, idCol: String, vCol: String) =
      events.filter(col("event_type") === t)
        .withColumn("idx", row_number().over(byUser))
        .select(col("user_id"), col("idx"), col("event_id").as(idCol),
          col("value").as(vCol))
    indexed("purchase", "purchase_event_id", "purchase_value")
      .join(indexed("click", "click_event_id", "click_value"),
        Seq("user_id", "idx"))
  }

  /** Rx `withLatestFrom`: each click sees the latest purchase value
    * at-or-before it. Union-tag + running last_value(ignoreNulls):
    * ONE shuffle on user_id, no join. */
  def rxWithLatestFrom(events: DataFrame): DataFrame =
    events
      .filter(col("event_type").isin("click", "purchase"))
      .withColumn("latest_purchase",
        last(when(col("event_type") === "purchase", col("value")),
          ignoreNulls = true)
          .over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("event_type") === "click" && col("latest_purchase").isNotNull)
      .select(col("event_id"), col("user_id"), col("value").as("click_value"),
        col("latest_purchase"))

  /** Rx `combineLatest`: on every element of either stream, emit the
    * pair of latest values once both sides have fired. Same
    * single-shuffle lattice as withLatestFrom. */
  def rxCombineLatest(events: DataFrame): DataFrame =
    events
      .filter(col("event_type").isin("click", "purchase"))
      .withColumn("latest_purchase",
        last(when(col("event_type") === "purchase", col("value")),
          ignoreNulls = true)
          .over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("latest_click",
        last(when(col("event_type") === "click", col("value")),
          ignoreNulls = true)
          .over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("latest_purchase").isNotNull && col("latest_click").isNotNull)
      .select("event_id", "user_id", "latest_purchase", "latest_click")

  /** Rx `amb`: per key, the stream (click vs view) that fires first
    * wins; only its elements are emitted. */
  def rxAmb(events: DataFrame): DataFrame = {
    val cv = events.filter(col("event_type").isin("click", "view"))
    val winner = cv.groupBy("user_id")
      .agg(min_by(col("event_type"), col("event_id")).as("event_type"))
    cv.join(winner, Seq("user_id", "event_type"))
      .select("event_id", "user_id", "event_type", "value")
  }

  /** Rx `switchMap`: each signup opens a new inner stream of the
    * user's subsequent activity; a later signup switches to a new
    * inner stream, implicitly unsubscribing the old one. In bounded
    * replay each event belongs to the then-latest signup: a running
    * last_value — single shuffle, no join. */
  def rxSwitchMap(events: DataFrame): DataFrame =
    events
      .withColumn("stream_id",
        last(when(col("event_type") === "signup", col("event_id")),
          ignoreNulls = true)
          .over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("stream_id").isNotNull && col("event_type") =!= "signup")
      .select("stream_id", "event_id", "user_id", "event_type", "value")

  /** Rx `buffer(count)`: fixed-size batches per key. */
  def rxBufferCount(events: DataFrame, n: Int = 10): DataFrame =
    events
      .withColumn("batch_id", ((row_number().over(byUser) - 1) / n).cast("long"))
      .groupBy("user_id", "batch_id")
      .agg(count(lit(1)).as("batch_n"),
        sum(dec(col("value"))).as("batch_sum"),
        min("event_id").as("first_event_id"),
        max("event_id").as("last_event_id"))

  /** Count-based sliding window: aggregate over the last n elements
    * per key at every element (rowsBetween frame — no extra shuffle
    * beyond the per-key one). */
  def rxSlidingCountWindow(events: DataFrame, n: Int = 10): DataFrame =
    events.select(col("event_id"), col("user_id"),
      sum(dec(col("value")))
        .over(byUser.rowsBetween(-(n - 1), 0)).as("window_sum"),
      count(lit(1)).over(byUser.rowsBetween(-(n - 1), 0)).as("window_n"),
      max(col("value")).over(byUser.rowsBetween(-(n - 1), 0)).as("window_max"))

  /** Time-based sliding window per element: aggregate over the
    * trailing `windowMs` at every event — a RANGE frame over epoch
    * ms (value-based bounds, so tied timestamps share one frame),
    * vs. the ROWS frame of rxSlidingCountWindow. Still one shuffle. */
  def rxSlidingTimeWindow(events: DataFrame, windowMs: Long = 600000L)
      : DataFrame = {
    val byUserMs = Window.partitionBy("user_id")
      .orderBy(unix_millis(col("ts")))
      .rangeBetween(-windowMs, 0)
    events.select(col("event_id"), col("user_id"),
      sum(dec(col("value"))).over(byUserMs).as("window_sum"),
      count(lit(1)).over(byUserMs).as("window_n"))
  }

  /** Rx `buffer(count, skip)`: overlapping / gapped batches — a new
    * batch starts every `skip` elements and spans `count` elements,
    * so one element belongs to 0..ceil(count/skip) batches. Generator
    * explode of the covering batch ids (narrow), then grouped agg. */
  def rxBufferCountSkip(events: DataFrame, n: Int = 10, skip: Int = 5)
      : DataFrame =
    events
      .withColumn("pos", row_number().over(byUser) - 1)
      // batch b covers positions [b*skip, b*skip + n): solve for b.
      // When skip > n an element can fall in a gap (first > last);
      // sequence() would default to step -1 there and explode a
      // descending range, so guard to an empty array — the element
      // belongs to no batch and the explode drops it.
      .withColumn("b_first",
        greatest(lit(0L), ceil((col("pos") - n + 1).cast("double") / skip)
          .cast("long")))
      .withColumn("b_last", floor(col("pos").cast("double") / skip)
        .cast("long"))
      .withColumn("batch_id", explode(
        when(col("b_first") <= col("b_last"),
          sequence(col("b_first"), col("b_last")))
          .otherwise(array().cast("array<long>"))))
      .groupBy("user_id", "batch_id")
      .agg(count(lit(1)).as("batch_n"),
        sum(dec(col("value"))).as("batch_sum"),
        min("event_id").as("first_event_id"),
        max("event_id").as("last_event_id"))

  /** Rx `window(time)`: tumbling event-time windows + aggregate. */
  def rxWindowTumbling(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).as("win_sum"))
      .select(unix_millis(col("window.start")).as("win_start_ms"),
        col("event_type"), col("n"), col("win_sum"))

  /** Rx sliding window: 1h windows hopping every 30min. */
  def rxWindowSliding(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).as("win_sum"))
      .select(unix_millis(col("window.start")).as("win_start_ms"),
        col("n"), col("win_sum"))

  /** Session windows: 30-minute inactivity gap per key. */
  def rxWindowSession(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).as("sess_sum"))
      .select(col("user_id"),
        unix_millis(col("session_window.start")).as("sess_start_ms"),
        col("n"), col("sess_sum"))

  /** Rx `debounce(gap)`: keep an event only if the key then stays
    * silent for >= gap (or the stream ends). */
  def rxDebounce(events: DataFrame, gapMs: Long = 600000L): DataFrame =
    events
      .withColumn("next_ms", lead(unix_millis(col("ts")), 1).over(byUser))
      .filter(col("next_ms").isNull ||
        col("next_ms") - unix_millis(col("ts")) >= gapMs)
      .select("event_id", "user_id", "event_type", "value")

  /** Rx `throttleFirst(interval)`: first event per key per interval. */
  def rxThrottleFirst(events: DataFrame): DataFrame =
    events
      .withColumn("bucket", date_trunc("hour", col("ts")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id", "bucket").orderBy("event_id")))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("user_id"),
        unix_millis(col("bucket")).as("bucket_ms"), col("value"))

  /** Rx `sample(interval)`: last event per key per interval. */
  def rxSample(events: DataFrame): DataFrame =
    events
      .withColumn("bucket", date_trunc("hour", col("ts")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id", "bucket").orderBy(col("event_id").desc)))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("user_id"),
        unix_millis(col("bucket")).as("bucket_ms"), col("value"))

  /** Rx `delay`: shift event time by a constant interval. */
  def rxDelay(events: DataFrame): DataFrame =
    events.select(col("event_id"), col("user_id"),
      unix_millis(col("ts")).as("ts_ms"),
      unix_millis(col("ts") + expr("INTERVAL 5 MINUTES")).as("delayed_ms"))

  /** Rx `timeInterval`: elapsed ms between consecutive events per key. */
  def rxTimeInterval(events: DataFrame): DataFrame =
    events
      .withColumn("gap_ms",
        unix_millis(col("ts")) - lag(unix_millis(col("ts")), 1).over(byUser))
      .filter(col("gap_ms").isNotNull)
      .select("event_id", "user_id", "gap_ms")

  /** Rx `timeout`: flag events arriving after > T of key silence. */
  def rxTimeout(events: DataFrame, timeoutMs: Long = 3600000L): DataFrame =
    events
      .withColumn("gap_ms",
        unix_millis(col("ts")) - lag(unix_millis(col("ts")), 1).over(byUser))
      .filter(col("gap_ms") > timeoutMs)
      .select("event_id", "user_id", "gap_ms")

  /** Rx `reduce`: terminal fold over each event_type stream
    * (partial aggregation map-side, single shuffle). */
  def rxReduce(events: DataFrame): DataFrame =
    events.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sum(dec(col("value"))).as("total"),
      min("value").as("min_value"),
      max("value").as("max_value"))

  /** Rx aggregate suite per key (incl. exact distinct + stable avg). */
  def rxAggSuite(events: DataFrame): DataFrame =
    events.groupBy("user_id").agg(
      count(lit(1)).as("n"),
      sum(dec(col("value"))).as("total"),
      min("value").as("min_value"),
      max("value").as("max_value"),
      (sum(dec(col("value"))).cast("double") / count(lit(1))).as("avg_value"),
      countDistinct("event_type").as("n_types"))

  /** Rx `groupBy` materializing each group's element sequence. */
  def rxGroupBy(events: DataFrame): DataFrame =
    events.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      countDistinct("user_id").as("n_users"),
      sum(dec(col("value"))).as("total"),
      concat_ws(",",
        slice(array_sort(collect_list(col("event_id"))), 1, 20))
        .as("first_ids"))

  /** Rx `takeLast(n)`: the last n elements per key (descending
    * row_number — same single-shuffle shape as take). */
  def rxTakeLast(events: DataFrame, n: Int = 5): DataFrame =
    events
      .withColumn("rn_desc", row_number().over(
        Window.partitionBy("user_id").orderBy(col("event_id").desc)))
      .filter(col("rn_desc") <= n)
      .select(col("event_id"), col("user_id"),
        col("rn_desc").cast("long").as("rn_desc"))

  /** Rx `skipLast(n)`: everything but the last n per key. */
  def rxSkipLast(events: DataFrame, n: Int = 5): DataFrame =
    events
      .withColumn("rn_desc", row_number().over(
        Window.partitionBy("user_id").orderBy(col("event_id").desc)))
      .filter(col("rn_desc") > n)
      .select(col("event_id"), col("user_id"),
        col("rn_desc").cast("long").as("rn_desc"))

  /** Rx predicate aggregates — `all` / `any` / `contains` /
    * `isEmpty` per key, one partial-aggregable pass. */
  def rxAllAny(events: DataFrame, limit: Double = 400.0): DataFrame =
    events.groupBy("user_id").agg(
      expr(s"bool_and(value < $limit)").as("all_below"),
      expr("bool_or(event_type = 'error')").as("any_error"),
      expr("bool_or(event_type = 'purchase' AND value > 300.0)")
        .as("contains_big_purchase"),
      (count(when(col("event_type") === "purchase", 1)) === 0)
        .as("purchases_empty"))

  /** Rx `buffer(time)`: time-bucketed batches per key (the time twin
    * of bufferCount — a plain grouped aggregate, fully partial-agg
    * map-side). */
  def rxBufferTime(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("buf_n"), sum(dec(col("value"))).as("buf_sum"),
        min("event_id").as("first_event_id"),
        max("event_id").as("last_event_id"))
      .select(col("user_id"), unix_millis(col("bucket")).as("bucket_ms"),
        col("buf_n"), col("buf_sum"), col("first_event_id"),
        col("last_event_id"))

  /** Rx `repeat(n)`: replay the whole stream n times; the iteration
    * index becomes the outer order key. Generator explode — narrow,
    * no shuffle. */
  def rxRepeat(events: DataFrame, n: Int = 3): DataFrame = {
    require(n >= 1, s"rxRepeat: n must be >= 1 (got $n); " +
      "sequence(0, n-1) would explode a descending range for n = 0")
    events
      .select(col("event_id"), col("user_id"), col("value"),
        explode(sequence(lit(0L), lit(n - 1L))).as("iteration"))
      .select("iteration", "event_id", "user_id", "value")
  }

  /** Rx `retry(n)`: replay through the first n errors per key; the
    * (n+1)-th error is terminal (emitted as the closing element,
    * everything after it dropped). Running error count — one
    * shuffle, no join. */
  def rxRetry(events: DataFrame, n: Int = 2): DataFrame =
    events
      .withColumn("n_errors",
        sum(when(col("event_type") === "error", 1).otherwise(0))
          .over(byUser.rowsBetween(Window.unboundedPreceding, 0))
          .cast("long"))
      .filter(col("n_errors") <= n ||
        (col("n_errors") === n + 1 && col("event_type") === "error"))
      .select("event_id", "user_id", "event_type", "value", "n_errors")

  /** Rx `retryWhen`: policy-driven retry — unlike [[rxRetry]]'s plain
    * count budget, a PREDICATE decides per error whether the stream
    * resubscribes. Policy here: an error is retryable iff its value
    * is below `retryableBelow`, with at most `maxRetries` retries; a
    * non-retryable error, or the (maxRetries+1)-th retryable one, is
    * terminal — emitted as the closing element, everything after it
    * dropped. Two running predicate counts over ONE window frame —
    * a single user_id shuffle, no join against an error-feedback
    * stream (the Rx notifier collapses to the policy predicate in
    * batch form). */
  def rxRetryWhen(events: DataFrame, maxRetries: Int = 2,
                  retryableBelow: Double = 300.0): DataFrame = {
    val runningFrame = byUser.rowsBetween(Window.unboundedPreceding, 0)
    val isErr = col("event_type") === "error"
    val retryable = isErr && col("value") < retryableBelow
    val fatal = isErr && !(col("value") < retryableBelow)
    events
      .withColumn("n_retried",
        sum(when(retryable, 1).otherwise(0)).over(runningFrame).cast("long"))
      .withColumn("n_fatal",
        sum(when(fatal, 1).otherwise(0)).over(runningFrame).cast("long"))
      // alive rows precede every terminal condition; the terminal
      // error itself (first fatal, or retry budget exhausted) emits
      .filter(
        (col("n_fatal") === 0 && col("n_retried") <= maxRetries) ||
        (fatal && col("n_fatal") === 1 && col("n_retried") <= maxRetries) ||
        (retryable && col("n_fatal") === 0 &&
          col("n_retried") === maxRetries + 1))
      .withColumn("terminal",
        col("n_fatal") === 1 || col("n_retried") === maxRetries + 1)
      .select("event_id", "user_id", "event_type", "value", "n_retried",
        "terminal")
  }

  /** Rx `window(count, skip)`: the window form of
    * [[rxBufferCountSkip]] — instead of collapsing each batch to an
    * aggregate, every element is emitted into each of the windows
    * covering its position (window w spans positions
    * [w*skip, w*skip + n)), tagged with (window_id, pos_in_window).
    * Same narrow generator-explode shape: one row_number window, the
    * covering window ids from sequence(), no join. */
  def rxWindowCountSkip(events: DataFrame, n: Int = 10, skip: Int = 5)
      : DataFrame = {
    require(n > 0 && skip > 0, "count and skip must be positive")
    events
      .withColumn("pos", (row_number().over(byUser) - 1).cast("long"))
      .withColumn("w_first",
        greatest(lit(0L), ceil((col("pos") - n + 1).cast("double") / skip)
          .cast("long")))
      .withColumn("w_last", floor(col("pos").cast("double") / skip)
        .cast("long"))
      .withColumn("window_id", explode(
        when(col("w_first") <= col("w_last"),
          sequence(col("w_first"), col("w_last")))
          .otherwise(array().cast("array<long>"))))
      .select(col("user_id"), col("window_id"),
        (col("pos") - col("window_id") * skip).as("pos_in_window"),
        col("event_id"), col("value"))
  }

  /** Rx `sequenceEqual`: per key, do the purchase and view streams
    * carry the same value-bucket sequence? Full outer join on the
    * occurrence index (any length mismatch yields an unmatched side),
    * then a per-key conjunction. */
  def rxSequenceEqual(events: DataFrame): DataFrame = {
    def indexed(t: String, bucketName: String) =
      events.filter(col("event_type") === t)
        .withColumn("idx", row_number().over(byUser))
        .select(col("user_id"), col("idx"),
          floor(col("value") / 50).cast("long").as(bucketName))
    indexed("purchase", "bucket_a")
      .join(indexed("view", "bucket_b"), Seq("user_id", "idx"), "full_outer")
      .groupBy("user_id")
      .agg(count(col("bucket_a")).as("n_a"), count(col("bucket_b")).as("n_b"),
        expr("bool_and(bucket_a IS NOT NULL AND bucket_b IS NOT NULL " +
          "AND bucket_a = bucket_b)").as("seq_equal"))
  }

  /** Rx window join (interval join): each purchase pairs with every
    * click of the same key in the trailing 10-minute window. Equi-key
    * + range predicate: the join shuffles on user_id only, the range
    * is evaluated in-partition — never a time-bucket cross product. */
  def rxIntervalJoin(events: DataFrame, windowMs: Long = 600000L): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_event_id"),
        unix_millis(col("ts")).as("p_ms"))
    val c = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), col("event_id").as("click_event_id"),
        unix_millis(col("ts")).as("c_ms"))
    p.join(c, col("user_id") === col("c_user_id") &&
        col("c_ms") >= col("p_ms") - windowMs && col("c_ms") <= col("p_ms"))
      .select(col("user_id"), col("purchase_event_id"), col("click_event_id"),
        (col("p_ms") - col("c_ms")).as("gap_ms"))
  }

  /** Rx `window(boundaries)`: windows are opened by a second
    * (boundary) stream — here each signup starts a new window for its
    * key; events before the first signup fall in window -1. The
    * boundary id is a running last_value (same single-shuffle lattice
    * as switchMap), then a plain grouped aggregate. */
  def rxWindowBoundary(events: DataFrame): DataFrame =
    events
      .withColumn("window_id",
        coalesce(
          last(when(col("event_type") === "signup", col("event_id")),
            ignoreNulls = true)
            .over(byUser.rowsBetween(Window.unboundedPreceding, 0)),
          lit(-1L)))
      .filter(col("event_type") =!= "signup")
      .groupBy("user_id", "window_id")
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).as("win_sum"),
        min("event_id").as("first_event_id"),
        max("event_id").as("last_event_id"))

  /** Rx `groupJoin`: each purchase collects the clicks of its key in
    * the trailing window as one group (vs. intervalJoin's flat
    * pairs). Group membership is deterministic; the member list is
    * emitted sorted so results are order-stable. */
  def rxGroupJoin(events: DataFrame, windowMs: Long = 600000L): DataFrame =
    rxIntervalJoin(events, windowMs)
      .groupBy("user_id", "purchase_event_id")
      .agg(count(lit(1)).as("n_clicks"),
        concat_ws(",", array_sort(collect_list(col("click_event_id"))))
          .as("click_ids"))

  /** Rx `onErrorResumeNext`: truncate each key's stream at its first
    * error and splice in a fallback element. */
  def rxOnErrorResume(events: DataFrame): DataFrame = {
    val firstErr = events.filter(col("event_type") === "error")
      .groupBy("user_id").agg(min("event_id").as("err_id"))
    val main = events.join(firstErr, Seq("user_id"), "left")
      .filter(col("err_id").isNull || col("event_id") < col("err_id"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val fallback = firstErr.select(col("err_id").as("event_id"),
      col("user_id"), lit("fallback").as("event_type"), lit(0.0).as("value"))
    main.unionByName(fallback)
  }

  /** Rx `onErrorReturn`: map error elements to a recovery value. */
  def rxOnErrorReturn(events: DataFrame): DataFrame =
    events.select(col("event_id"), col("user_id"),
      when(col("event_type") === "error", lit("recovered"))
        .otherwise(col("event_type")).as("event_type"),
      when(col("event_type") === "error", lit(0.0))
        .otherwise(col("value")).as("value"))

  /** Rx `materialize`: reify elements into Next/Error/Completed
    * notifications (terminal notification synthesized per key). */
  def rxMaterialize(events: DataFrame): DataFrame = {
    val notes = events.select(col("user_id"), col("event_id"),
      when(col("event_type") === "error", lit("OnError"))
        .otherwise(lit("OnNext")).as("kind"),
      col("value"))
    val completed = events.groupBy("user_id")
      .agg(max("event_id").as("last_id"))
      .select(col("user_id"), (col("last_id") + 1).as("event_id"),
        lit("OnCompleted").as("kind"), lit(0.0).as("value"))
    notes.unionByName(completed)
  }

  /** Rx `skipWhile(value < limit)` per key: drop the prefix before
    * the first violation, emit everything from it on (the complement
    * of rxTakeWhile — same single-shuffle running-violation count). */
  def rxSkipWhile(events: DataFrame, limit: Double = 150.0): DataFrame =
    events
      .withColumn("violations",
        sum(when(col("value") >= limit, 1).otherwise(0))
          .over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("violations") > 0)
      .select("event_id", "user_id", "value")

  /** Rx `takeUntil(trigger)`: emit the main stream until the trigger
    * stream fires. Trigger = the key's `error` events; main = the
    * rest. Running trigger count — one shuffle, no join with the
    * trigger side. */
  def rxTakeUntil(events: DataFrame): DataFrame =
    events
      .withColumn("fired",
        sum(when(col("event_type") === "error", 1).otherwise(0))
          .over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("fired") === 0 && col("event_type") =!= "error")
      .select("event_id", "user_id", "event_type", "value")

  /** Rx `skipUntil(trigger)`: suppress the main stream until the
    * trigger fires, then emit everything after. */
  def rxSkipUntil(events: DataFrame): DataFrame =
    events
      .withColumn("fired",
        sum(when(col("event_type") === "error", 1).otherwise(0))
          .over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("fired") > 0 && col("event_type") =!= "error")
      .select("event_id", "user_id", "event_type", "value")

  /** Rx `elementAt(n)` per key (1-based): the key's n-th element. */
  def rxElementAt(events: DataFrame, n: Int = 3): DataFrame =
    events
      .withColumn("rn", row_number().over(byUser))
      .filter(col("rn") === n)
      .select("user_id", "event_id", "event_type", "value")

  /** Rx `timestamp` + `zipWithIndex`: stamp each element with its
    * event time (epoch ms) and per-key sequence index. */
  def rxIndexed(events: DataFrame): DataFrame =
    events.select(col("event_id"), col("user_id"),
      unix_millis(col("ts")).as("ts_ms"),
      (row_number().over(byUser) - 1).cast("long").as("idx"))

  /** Rx `minBy` / `maxBy` per key with a deterministic tie-break
    * (lowest event_id among equal values): two in-partition window
    * rankings + one grouped fold — still a single shuffle. */
  def rxMinMaxBy(events: DataFrame): DataFrame = {
    val wMin = Window.partitionBy("user_id")
      .orderBy(col("value").asc, col("event_id").asc)
    val wMax = Window.partitionBy("user_id")
      .orderBy(col("value").desc, col("event_id").asc)
    events
      .withColumn("rmin", row_number().over(wMin))
      .withColumn("rmax", row_number().over(wMax))
      .groupBy("user_id")
      .agg(
        max(when(col("rmin") === 1, col("event_id"))).as("min_event_id"),
        max(when(col("rmin") === 1, col("value"))).as("min_value"),
        max(when(col("rmax") === 1, col("event_id"))).as("max_event_id"),
        max(when(col("rmax") === 1, col("value"))).as("max_value"))
  }

  /** Rx `single`: per (key, day) purchase substream, emit the element
    * iff the substream has exactly one — more than one is a
    * violation (the batch form surfaces only the conforming groups;
    * the count column is the diagnostic). */
  def rxSingle(events: DataFrame): DataFrame =
    events
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"), min("event_id").as("event_id"),
        min("value").as("value"))
      .filter(col("n") === 1)
      .select(col("user_id"), unix_millis(col("day")).as("day_ms"),
        col("event_id"), col("value"))

  /** Rx `toList` per key: the stream materialized as one ordered
    * element list (surfaced as a comma-joined id string so the
    * result is hashable across engines). */
  def rxToList(events: DataFrame): DataFrame =
    events.groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        concat_ws(",", array_sort(collect_list(col("event_id"))))
          .as("ids"))

  /** Rx `bufferToggle(openings, closings)`: `signup` events open a
    * buffer, the next `error` closes it; elements (including the
    * opening) collect into the open buffer. Two running last-marker
    * windows — one shuffle, no join against either marker stream. */
  def rxBufferToggle(events: DataFrame): DataFrame = {
    val w = byUser.rowsBetween(Window.unboundedPreceding, 0)
    events
      .withColumn("open_id", last(
        when(col("event_type") === "signup", col("event_id")),
        ignoreNulls = true).over(w))
      .withColumn("close_id", last(
        when(col("event_type") === "error", col("event_id")),
        ignoreNulls = true).over(w))
      .filter(col("open_id").isNotNull &&
        (col("close_id").isNull || col("close_id") < col("open_id")))
      .groupBy("user_id", "open_id")
      .agg(count(lit(1)).as("buf_n"),
        sum(dec(col("value"))).as("buf_sum"),
        max("event_id").as("last_event_id"))
  }

  /** Rx `groupByUntil`: per-key windows closed by a data-dependent
    * boundary (here: a value >= threshold closes the current window
    * AFTER including the closing element). The running count of past
    * boundary elements is the window id — one shuffle, no join
    * against a boundary stream. */
  def rxGroupByUntil(events: DataFrame, closeAt: Double = 150.0)
      : DataFrame = {
    val wPrev = byUser.rowsBetween(Window.unboundedPreceding, -1)
    events
      .withColumn("win_id", coalesce(
        sum(when(col("value") >= closeAt, 1).otherwise(0)).over(wPrev),
        lit(0)).cast("long"))
      .groupBy("user_id", "win_id")
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).as("win_sum"),
        min("event_id").as("first_event_id"),
        max("event_id").as("last_event_id"))
  }

  /** Rx `sample(sampler)` (sampler-stream variant): at each `view`
    * event, the latest `click` at-or-before it — the as-of lattice
    * specialized to an in-table sampler. */
  def rxSampleTrigger(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select("event_id", "user_id")
    val clicks = events.filter(col("event_type") === "click")
      .select("event_id", "user_id", "value")
    AsOf.join(views, clicks, "user_id", "event_id", Seq("event_id", "value"))
      .withColumnsRenamed(Map(
        "asof_event_id" -> "click_event_id",
        "asof_value" -> "click_value"))
  }

  /** Time-series resample + forward-fill: a regular `stepMs` grid
    * per key (day-aligned, spanning the key's observed range), each
    * grid point carrying the last event value at-or-before it. The
    * gap-fill primitive for turning irregular event streams into
    * fixed-rate series.
    *
    * Same union-tag lattice as the as-of join: grid points and
    * events merge into ONE stream, shuffle once on the key, and a
    * running last_value(ignoreNulls) fills the grid — no grid⋈events
    * range join (which would shuffle both sides and range-scan per
    * grid point). Events sort before grid points at the same
    * millisecond, so a point-on-grid event fills its own tick. */
  def rxResample(events: DataFrame, stepMs: Long = 86400000L): DataFrame = {
    val grid = events.groupBy("user_id").agg(
        unix_millis(date_trunc("day", min(col("ts")))).as("t0"),
        unix_millis(date_trunc("day", max(col("ts")))).as("t1"))
      .select(col("user_id"),
        explode(sequence(col("t0"), col("t1"), lit(stepMs))).as("t"))
    val gridPts = grid.select(col("user_id"), col("t"),
      lit(1).as("is_grid"), lit(null).cast("double").as("v"),
      lit(1).as("tag"), lit(-1L).as("eid"))
    val evPts = events.select(col("user_id"),
      unix_millis(col("ts")).as("t"), lit(0).as("is_grid"),
      col("value").as("v"), lit(0).as("tag"), col("event_id").as("eid"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("t"), col("tag"), col("eid"))
      .rowsBetween(Window.unboundedPreceding, 0)
    gridPts.unionByName(evPts)
      .withColumn("value", last(col("v"), ignoreNulls = true).over(w))
      .filter(col("is_grid") === 1)
      .select(col("user_id"), col("t").as("grid_ms"), col("value"))
  }

  /** Resample with LINEAR INTERPOLATION: like [[rxResample]] but each
    * grid tick takes prev + (next-prev) * elapsed-fraction instead of
    * a flat forward-fill — the standard sensor/metric regularization.
    *
    * Same single-shuffle lattice: grid and events union once; the
    * backward and forward fills are two frames over the SAME
    * partition+order spec, so one WindowExec computes both (no second
    * sort, no second shuffle). The (t, v) pair rides in one struct so
    * both fields always come from the same event row. Head ticks
    * (before the first event) back-fill from `next`; tail ticks
    * forward-fill from `prev`. */
  def rxResampleInterp(events: DataFrame,
                       stepMs: Long = 86400000L): DataFrame = {
    val grid = events.groupBy("user_id").agg(
        unix_millis(date_trunc("day", min(col("ts")))).as("t0"),
        unix_millis(date_trunc("day", max(col("ts")))).as("t1"))
      .select(col("user_id"),
        explode(sequence(col("t0"), col("t1"), lit(stepMs))).as("t"))
    val gridPts = grid.select(col("user_id"), col("t"),
      lit(1).as("is_grid"), lit(null).cast("double").as("v"),
      lit(1).as("tag"), lit(-1L).as("eid"))
    val evPts = events.select(col("user_id"),
      unix_millis(col("ts")).as("t"), lit(0).as("is_grid"),
      col("value").as("v"), lit(0).as("tag"), col("event_id").as("eid"))
    val wPrev = Window.partitionBy("user_id")
      .orderBy(col("t"), col("tag"), col("eid"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wNext = Window.partitionBy("user_id")
      .orderBy(col("t"), col("tag"), col("eid"))
      .rowsBetween(0, Window.unboundedFollowing)
    gridPts.unionByName(evPts)
      .withColumn("pt",
        when(col("is_grid") === 0, struct(col("t"), col("v"))))
      .withColumn("prv", last(col("pt"), ignoreNulls = true).over(wPrev))
      .withColumn("nxt", first(col("pt"), ignoreNulls = true).over(wNext))
      .filter(col("is_grid") === 1)
      .select(col("user_id"), col("t").as("grid_ms"),
        when(col("prv").isNull, col("nxt.v"))
          .when(col("nxt").isNull, col("prv.v"))
          .when(col("nxt.t") === col("prv.t"), col("prv.v"))
          .otherwise(col("prv.v") + (col("nxt.v") - col("prv.v")) *
            (col("t") - col("prv.t")).cast("double") /
            (col("nxt.t") - col("prv.t")).cast("double"))
          .as("value"))
  }

  /** Rolling statistics: trailing-10-element sum / count / sample
    * variance per key, one window pass. The variance uses the
    * sum-of-squares identity over EXACT decimal window sums, so even
    * a rolling second moment is order-independent and bit-stable
    * across engines and partitionings (the final identity is a fixed
    * sequence of IEEE double ops on exact inputs). */
  def rxRollingStats(events: DataFrame, n: Int = 10): DataFrame = {
    val w = byUser.rowsBetween(-(n - 1), 0)
    events.select(col("event_id"), col("user_id"),
        sum(dec(col("value"))).over(w).cast("double").as("roll_sum"),
        count(lit(1)).over(w).as("roll_n"),
        sum(col("value").multiply(col("value")).cast(DecimalType(18, 4)))
          .over(w).cast("double").as("_sumsq"))
      .filter(col("roll_n") >= 2)
      .select(col("event_id"), col("user_id"), col("roll_sum"),
        col("roll_n"),
        ((col("roll_n") * col("_sumsq") -
          col("roll_sum") * col("roll_sum")) /
          (col("roll_n") * (col("roll_n") - 1))).as("roll_var"))
  }

  /** Ordered-funnel analysis (MATCH_RECOGNIZE's workhorse case): per
    * key, the first `view`, the first `click` AFTER that view, and
    * the first `purchase` AFTER that click — stages must happen in
    * order, each bound to the previous stage's anchor row.
    *
    * Three chained conditional-min windows over the SAME
    * partitioning: one shuffle on user_id, consecutive WindowExecs
    * with no re-exchange, and the final per-user collapse reuses the
    * partitioning too. Never a per-stage self-join (the textbook
    * 3-way funnel join would shuffle the events three times). */
  def rxFunnel(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
    events.select(col("user_id"), col("event_type"), col("event_id"))
      .withColumn("t1",
        min(when(col("event_type") === "view", col("event_id"))).over(w))
      .withColumn("t2",
        min(when(col("event_type") === "click" &&
          col("event_id") > col("t1"), col("event_id"))).over(w))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" &&
          col("event_id") > col("t2"), col("event_id"))).over(w))
      .groupBy("user_id")
      .agg(first("t1").as("view_id"), first("t2").as("click_id"),
        first("t3").as("purchase_id"))
      .select(col("user_id"), col("view_id"), col("click_id"),
        col("purchase_id"),
        (when(col("view_id").isNotNull, 1L).otherwise(0L) +
          when(col("click_id").isNotNull, 1L).otherwise(0L) +
          when(col("purchase_id").isNotNull, 1L).otherwise(0L))
          .as("reached_stage"))
  }

  /** Time-series subsequence similarity search (the UCR-suite shape;
    * cf. PAPERS.md "Time Series Similarity Search for Streaming
    * Data", EDBT 2019): the top-k per-key value subsequences closest
    * to a fixed query pattern under z-normalized squared Euclidean
    * distance — shape matching invariant to each window's offset and
    * scale. Subsequences materialize from the ONE shared user_id
    * window (ordered collect_list frame, L values per row — constant
    * fan-out); the distance is a single codegen kernel whose every
    * Σ/op order the oracle reproduces; TakeOrdered keeps k rows, no
    * global sort. */
  def rxTsMatch(events: DataFrame,
                pattern: Seq[Double] = Seq(0, 0, 0, 10, 10, 0, 0, 0),
                k: Int = 10): DataFrame = {
    val L = pattern.length
    val win = byUser.rowsBetween(-(L - 1), 0)
    events.select(col("user_id"), col("event_id"), col("value"))
      .withColumn("seq", collect_list(col("value")).over(win))
      .withColumn("start_event_id", min(col("event_id")).over(win))
      .filter(size(col("seq")) === L)
      .select(col("user_id"), col("start_event_id"),
        graft.functions.GraftFunctions
          .zn_dist(col("seq"), pattern.toArray).as("dist"))
      .orderBy(col("dist"), col("user_id"), col("start_event_id"))
      .limit(k)
  }

  /** Daily session report: the product-analytics rollup over gap
    * sessionization — sessions, bounce share (single-event
    * sessions), exact mean duration and mean events per session,
    * keyed by the session's start day. Sessions derive from the
    * gaps-and-islands identity on the shared user_id partitioning
    * (NOT a second session_window pass — one shuffle, and the
    * session id is the in-partition run id); the daily rollup
    * partial-aggregates on the calendar-bounded day key; means are
    * floor divisions of exact BIGINT sums. */
  def rxSessionStats(events: DataFrame, gapMs: Long = 1800000L)
      : DataFrame =
    gapSessions(events, gapMs)
      .groupBy(expr("start_ms div 86400000").as("day"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounce"),
        sum(col("end_ms") - col("start_ms")).as("dur_sum"),
        sum("n_events").as("ev_sum"))
      .select(col("day"), col("n_sessions"),
        expr("n_bounce * 1000000 div n_sessions").as("bounce_ppm"),
        expr("dur_sum div n_sessions").as("mean_duration_ms"),
        expr("ev_sum * 1000 div n_sessions").as("mean_events_milli"))

  /** Gap sessions: one (start, end, n_events) row per session via
    * gaps-and-islands on the shared user_id partitioning. */
  private def gapSessions(events: DataFrame, gapMs: Long): DataFrame =
    events
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        col("event_id"))
      .withColumn("prev_ms", lag("ms", 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ms").isNull ||
          col("ms") - col("prev_ms") > gapMs, 1L).otherwise(0L))
      .withColumn("sess_id", sum("new_sess").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sess_id")
      .agg(min("ms").as("start_ms"), max("ms").as("end_ms"),
        count(lit(1)).as("n_events"))

  /** Concurrency curve (active sessions per minute) by SWEEP-LINE,
    * not interval explosion: each session contributes a +1 delta at
    * its start minute and a −1 after its end minute; the cumulative
    * sum over the minute-delta frame is the concurrency — O(sessions)
    * deltas regardless of session LENGTH, where the naive
    * minute-explode is O(Σ durations) and unbounded under long
    * sessions. Deltas partial-aggregate per minute; the running sum
    * runs over the calendar-bounded minute frame. Only minutes where
    * the level CHANGES are emitted (the curve is a step function —
    * consumers ffill, exactly like [[rxResample]]'s contract). */
  def rxConcurrency(events: DataFrame, gapMs: Long = 1800000L)
      : DataFrame = {
    val deltas = gapSessions(events, gapMs)
      .select(explode(array(
        struct(expr("start_ms div 60000").as("minute"), lit(1L).as("d")),
        struct(expr("end_ms div 60000 + 1").as("minute"),
          lit(-1L).as("d")))).as("x"))
      .select(col("x.minute"), col("x.d"))
      .groupBy("minute").agg(sum("d").as("delta"))
      .filter(col("delta") =!= 0)
    deltas
      .withColumn("active_sessions", sum("delta").over(
        Window.orderBy("minute")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("minute", "delta", "active_sessions")
  }

  /** Growth accounting (lifecycle states): per week, how many keys
    * are NEW (first ever week), RETAINED (active the week before),
    * RESURRECTED (returning after a gap), and CHURNED (active the
    * prior week, absent this one — attributed to the week they went
    * missing, never past the observed horizon). The corpus collapses
    * to the distinct user-week frame on the one key shuffle; state
    * classification is a lag/lead pass on that frame; both rollups
    * partial-aggregate on the calendar-bounded week key. */
  def rxLifecycle(events: DataFrame): DataFrame = {
    val uw = events.select(col("user_id"),
      expr("unix_millis(ts) div 604800000").as("week")).distinct()
    val byUserWeek = Window.partitionBy("user_id").orderBy("week")
    val active = uw
      .withColumn("prev", lag("week", 1).over(byUserWeek))
      .groupBy("week").agg(
        sum(when(col("prev").isNull, 1L).otherwise(0L)).as("n_new"),
        sum(when(col("prev") === col("week") - 1, 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("prev").isNotNull && col("prev") < col("week") - 1,
          1L).otherwise(0L)).as("n_resurrected"))
    val churn = uw
      .withColumn("next", lead("week", 1).over(byUserWeek))
      .crossJoin(broadcast(uw.agg(max("week").as("maxw"))))
      .filter(col("week") < col("maxw") &&
        (col("next").isNull || col("next") > col("week") + 1))
      .groupBy((col("week") + 1).as("week"))
      .agg(count(lit(1)).as("n_churned"))
    // full outer: an all-churn week (nobody active) still gets a row
    active.join(churn, Seq("week"), "full_outer")
      .select(col("week"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
  }

  /** Aggregate funnel report: the stage table on top of [[rxFunnel]]
    * — per stage, how many keys reached it, step conversion from the
    * previous stage, and overall conversion from stage 1, both in
    * exact integral ppm. The per-user frame collapses to THREE rows
    * before any window; the lag runs over that constant frame. */
  def rxFunnelRates(events: DataFrame): DataFrame = {
    val perUser = rxFunnel(events)
    val stages = perUser.agg(
        sum(when(col("view_id").isNotNull, 1L).otherwise(0L)).as("s1"),
        sum(when(col("click_id").isNotNull, 1L).otherwise(0L)).as("s2"),
        sum(when(col("purchase_id").isNotNull, 1L).otherwise(0L)).as("s3"))
      .select(explode(array(
        struct(lit(1L).as("stage"), lit("view").as("name"),
          col("s1").as("n_users")),
        struct(lit(2L).as("stage"), lit("click").as("name"),
          col("s2").as("n_users")),
        struct(lit(3L).as("stage"), lit("purchase").as("name"),
          col("s3").as("n_users")))).as("s"))
      .select(col("s.stage"), col("s.name"), col("s.n_users"))
    stages
      .withColumn("prev", lag("n_users", 1).over(Window.orderBy("stage")))
      .withColumn("top", first("n_users").over(
        Window.orderBy("stage")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("stage"), col("name"), col("n_users"),
        expr("CASE WHEN prev IS NULL THEN 1000000L " +
          "WHEN prev = 0 THEN 0L " +
          "ELSE n_users * 1000000 div prev END").as("step_ppm"),
        expr("CASE WHEN top = 0 THEN 0L " +
          "ELSE n_users * 1000000 div top END").as("overall_ppm"))
  }

  /** Per-key exact sample variance/stddev: the grouped form of
    * [[rxRollingStats]]'s identity — both moments accumulate as
    * EXACT decimals (partial-aggregable, order-independent), and the
    * n*Σx²−(Σx)² identity runs as a fixed IEEE sequence on those
    * exact inputs. A plain `var_samp`/`stddev` is float summation
    * whose result depends on partitioning — unacceptable under a
    * bit-reproducibility contract. */
  def rxVariance(events: DataFrame): DataFrame =
    events.groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("sx"),
        sum((col("value") * col("value")).cast(DecimalType(28, 4)))
          .cast("double").as("sxx"))
      .filter(col("n") >= 2)
      .select(col("user_id"), col("n"),
        ((col("n") * col("sxx") - col("sx") * col("sx")) /
          (col("n") * (col("n") - 1))).as("var_samp"),
        sqrt((col("n") * col("sxx") - col("sx") * col("sx")) /
          (col("n") * (col("n") - 1))).as("stddev_samp"))

  /** Per-key 3-sigma outlier detection with an EXACT decision rule:
    * |x − mean| > 3·sigma_pop is evaluated as
    * (n·xi − Sx)² > 9·(n·Sxx − Sx²) over scaled-integer moments
    * (xi = value rounded to cents ×100), so the flag is integer
    * arithmetic — no float mean/stddev whose summation order could
    * flip a borderline row between engines or between partitionings.
    * One user_id shuffle: the moments are unbounded-frame window
    * sums sharing the partition; no stats-table re-join. Emits the
    * flagged rows with their raw columns only (every computed value
    * stays internal, keeping the output schema engine-neutral). */
  def rxOutliers(events: DataFrame): DataFrame = {
    val wAll = Window.partitionBy("user_id")
    val big = DecimalType(38, 0)
    events
      .withColumn("xi", (dec(col("value")) * lit(100)).cast(big))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("sx", sum(col("xi")).over(wAll).cast(big))
      .withColumn("sxx",
        sum((col("xi") * col("xi")).cast(big)).over(wAll).cast(big))
      .filter(col("n") >= 2 &&
        (col("n") * col("xi") - col("sx")) *
          (col("n") * col("xi") - col("sx")) >
        lit(9) * (col("n") * col("sxx") - col("sx") * col("sx")))
      .select("event_id", "user_id", "value")
  }

  /** Robust per-key outliers via MAD (median absolute deviation):
    * flag |x − median| > 4.4478 · MAD — the 3σ rule with σ's robust
    * estimator (1.4826·MAD ≈ σ for normal data; 3·1.4826 pinned as
    * ONE literal so both engines multiply identically). Unlike
    * [[rxOutliers]], a single wild value cannot inflate the scale
    * estimate and mask itself: median and MAD have a 50% breakdown
    * point. Exact continuous percentiles (the gated house pattern);
    * two shuffle rounds by necessity (MAD needs the median first),
    * per-key stats broadcast back, keys with MAD = 0 flag every
    * off-median value (degenerate but deterministic — documented).
    * At 100 TB both medians swap for approx_percentile, same shape. */
  def rxOutliersMad(events: DataFrame): DataFrame = {
    val med = events.groupBy("user_id")
      .agg(expr("percentile(value, 0.5)").as("med"),
        count(lit(1)).as("n"))
      .filter(col("n") >= 2)
    val withMed = events.join(broadcast(med), "user_id")
    val mad = withMed.groupBy("user_id")
      .agg(expr("percentile(abs(value - med), 0.5)").as("mad"))
    withMed.join(broadcast(mad), "user_id")
      .filter(abs(col("value") - col("med")) > lit(4.4478) * col("mad"))
      .select(col("event_id"), col("user_id"), col("value"),
        col("med"), col("mad"))
  }

  /** Rolling median (robust trailing statistic): exact continuous
    * median over the trailing-n frame — the outlier-resistant twin
    * of [[rxRollingStats]]'s mean. Same single user_id shuffle; the
    * in-frame percentile sort is O(n log n) per row on an n-row
    * frame (fine for dashboard-sized n; a 100 TB budget with huge
    * frames would switch to a sketch column). The midpoint
    * interpolation (a+b)/2 is one IEEE op — engine-neutral. */
  def rxRollingMedian(events: DataFrame, n: Int = 10): DataFrame = {
    val w = byUser.rowsBetween(-(n - 1), 0)
    events.select(col("event_id"), col("user_id"),
        percentile(col("value"), lit(0.5)).over(w).as("roll_median"),
        count(lit(1)).over(w).as("roll_n"))
      .filter(col("roll_n") >= 2)
  }

  /** Per-key Pearson correlation of value vs arrival order (trend
    * signal: is this stream drifting up or down?). The five moment
    * sums accumulate as EXACT decimals (order-independent — a plain
    * `corr()` would be partitioning-dependent float summation), and
    * the final Pearson identity is a fixed sequence of IEEE double
    * ops on those exact inputs — bit-stable on any cluster. */
  def rxTrendCorrelation(events: DataFrame): DataFrame = {
    val x = row_number().over(byUser).cast("long")
    val d2 = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(18, 2))
    val d4 = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(28, 4))
    events.select(col("user_id"), x.as("x"), col("value"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(d2(col("x"))).cast("double").as("sx"),
        sum(d2(col("value"))).cast("double").as("sy"),
        sum(d4(col("x") * col("x"))).cast("double").as("sxx"),
        sum(d4(col("value") * col("value"))).cast("double").as("syy"),
        sum(d4(col("x") * col("value"))).cast("double").as("sxy"))
      // constant-value streams have zero variance: no defined trend
      // (keeping them would emit inf/NaN from the zero denominator)
      .filter(col("n") >= 3 &&
        col("n") * col("syy") - col("sy") * col("sy") > 0)
      .select(col("user_id"), col("n"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
          .as("trend_r"))
  }

  /** Spearman rank correlation per key between arrival order and
    * value — the nonparametric twin of [[rxTrendCorrelation]]'s
    * Pearson trend: monotone-but-nonlinear drifts score |ρ| → 1
    * where Pearson underreports them, and single outliers can't
    * dominate because only RANKS enter. Ranks are integers (arrival
    * rank = row_number over event_id — unique; value rank = min-rank
    * `rank()` over the double order, the identical tie convention in
    * both engines), so every aggregate is an exact BIGINT sum —
    * Σrank² ≤ n³ stays far inside long range — and only the final
    * Pearson-on-ranks quotient is a double. Tie-heavy keys with zero
    * value-rank variance are filtered like the trend op (no defined
    * correlation). One shuffle on user_id shared by both rank
    * windows and the aggregate. */
  def rxSpearman(events: DataFrame): DataFrame = {
    val a = row_number().over(byUser).cast("long")
    val b = rank().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("value")).cast("long")
    events.select(col("user_id"), a.as("a"), b.as("b"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(col("a")).as("sa"), sum(col("b")).as("sb"),
        sum(col("a") * col("a")).as("saa"),
        sum(col("b") * col("b")).as("sbb"),
        sum(col("a") * col("b")).as("sab"))
      .filter(col("n") >= 3 &&
        col("n") * col("sbb") - col("sb") * col("sb") > 0)
      .select(col("user_id"), col("n"),
        ((col("n") * col("sab") - col("sa") * col("sb")).cast("double") /
          (sqrt((col("n") * col("saa") - col("sa") * col("sa"))
            .cast("double")) *
            sqrt((col("n") * col("sbb") - col("sb") * col("sb"))
              .cast("double"))))
          .as("spearman_rho"))
  }

  /** SAX symbolization (Lin et al. 2003) per key, exact-arithmetic
    * variant: each user's value series is PAA-compressed into ≤ 8
    * equal-count segments (seg = (rn−1)·8 div n — integer grid, no
    * float boundaries) whose means are exact centi-unit BIGINTs
    * (DECIMAL(18,2) sums — the twap convention — then one floor
    * div), and each PAA value maps to a quartile SYMBOL by its
    * global RANK (corpus-equidepth breakpoints: symbol = (r−1)·4
    * div N over the (paa, user, seg) total order) instead of the
    * textbook Gaussian table — rank breakpoints are the only
    * breakpoints two engines reproduce bit-for-bit, and equidepth
    * is what you want on non-Gaussian telemetry anyway. Output: one
    * row per user with its SAX word — the index/motif alphabet for
    * whole-series similarity at 100 TB (8 chars replace the series).
    *
    * Plan: one user_id shuffle (segments + per-segment means), then
    * the global rank over the 8·|users| PAA rows via the
    * [[Sampling.shuffleShard]] two-level construction — range
    * repartition on (paa, user, seg) + in-partition sort +
    * zipWithIndex offset composition — NOT a single-task
    * row_number() window: the PAA frame is users-proportional, and
    * at 10⁹ keys a global WindowExec would push 8B rows through one
    * task. The biggest sorted run is bounded by a partition; one
    * fold-back per user. Values never leave their segment row. */
  def rxSax(events: DataFrame, segments: Int = 8, alphabet: Int = 4)
      : DataFrame = {
    val n = count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy("user_id"))
    val paa = events
      .select(col("user_id"), col("value"),
        row_number().over(byUser).as("rn"), n.as("n"))
      .select(col("user_id"), col("n"),
        expr(s"(rn - 1) * $segments div n").as("seg"),
        col("value").cast(DecimalType(18, 2)).as("v"))
      .groupBy("user_id", "n", "seg")
      .agg(sum(col("v") * 100).cast("long").as("sc"),
        count(lit(1)).as("cnt"))
      .select(col("user_id"), col("n"), col("seg"),
        expr("sc div cnt").as("paa_centi"))
      // materialized once: the rank pass and the total-count scalar
      // both read the PAA frame — without this the events shuffle +
      // segment aggregation would run twice
      .localCheckpoint()
    val sorted = paa
      .repartitionByRange(32, col("paa_centi"), col("user_id"),
        col("seg"))
      .sortWithinPartitions("paa_centi", "user_id", "seg")
    val sp = paa.sparkSession
    val withRank = sp.createDataFrame(
      sorted.rdd.zipWithIndex().map { case (row, idx) =>
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+ idx) },
      sorted.schema.add("r0", org.apache.spark.sql.types.LongType))
    val ranked = withRank
      .crossJoin(broadcast(paa.agg(count(lit(1)).as("nn"))))
      .select(col("user_id"), col("n"), col("seg"),
        expr(s"r0 * $alphabet div nn").as("sym"))
    ranked.groupBy("user_id", "n")
      .agg(array_join(expr(
        "transform(array_sort(collect_list(struct(seg, sym)))," +
          " x -> CAST(x.sym AS STRING))"), "").as("sax"))
      .select(col("user_id"), col("n").cast("long").as("n"), col("sax"))
  }

  /** Longest (strictly) increasing subsequence per key — the classic
    * order-statistics telemetry: how monotone is each user's value
    * stream under arbitrary interleaving (LIS = n means perfectly
    * sorted arrivals; LIS ≈ 2√n is the random baseline by the
    * Vershik–Kerov/Logan–Shepp theorem, so the ratio is an
    * out-of-orderness score).
    *
    * Patience-sorting fold in pure higher-order functions: one
    * user_id shuffle collects each series in arrival order, then
    * `aggregate` maintains the classic tails array (smallest
    * possible tail value of an increasing subsequence of each
    * length; replace the first tail ≥ v, else append — the
    * insertion point is `size(filter(tails, t < v))`). O(n·L) per
    * key as a narrow map over the grouped row; no value comparisons
    * ever cross engines as arithmetic, only as comparisons of
    * stored doubles, so the length is engine-exact. The identical
    * fold runs in DuckDB via list_reduce — same algorithm, same
    * integer output, a cross-engine proof of the HOF semantics. */
  def rxLis(events: DataFrame): DataFrame = {
    val seqs = events
      .select(col("user_id"), col("value"),
        row_number().over(byUser).as("rn"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        expr("transform(array_sort(collect_list(struct(rn, value)))," +
          " x -> x.value)").as("vs"))
    seqs.select(col("user_id"), col("n"),
      expr(
        """CAST(size(aggregate(vs, CAST(array() AS ARRAY<DOUBLE>),
          |  (tails, v) -> CASE
          |    WHEN size(filter(tails, t -> t < v)) = size(tails)
          |      THEN concat(tails, array(v))
          |    ELSE concat(
          |      slice(tails, 1, size(filter(tails, t -> t < v))),
          |      array(v),
          |      slice(tails, size(filter(tails, t -> t < v)) + 2,
          |        size(tails)))
          |    END)) AS BIGINT)""".stripMargin).as("lis_len"))
  }

  /** Mean-crossing / run statistics per key: each value is compared
    * to the key's own mean with EXACT arithmetic — sign of
    * (v·n − Σv) where v and Σv ride DECIMAL(18,2) (the twap/sax
    * convention: no division ever happens, so the zero class is
    * engine-stable) — and the op reports the number of sign FLIPS
    * over the nonzero-sign subsequence (zero-crossings of the
    * centered series: ~n/2 for white noise, ≪ n/2 for trending or
    * sticky regimes) plus the longest consecutive above-mean run
    * (zeros break runs). One user_id shuffle; the mean rides the
    * same partitioning as a window aggregate, the flip count and
    * the gaps-and-islands run id are per-key window folds over the
    * already-shuffled rows. */
  def rxSignChanges(events: DataFrame): DataFrame = {
    val v = col("value").cast(DecimalType(18, 2))
    val keyAll = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
    val signed = events
      .select(col("user_id"), col("event_id"), v.as("v"))
      .withColumn("n", count(lit(1)).over(keyAll))
      .withColumn("sv", sum(col("v")).over(keyAll))
      // pure decimal COMPARISONS decide the sign class — no cast,
      // no division, the identical CASE both engines evaluate
      .withColumn("s",
        when(col("v") * col("n") > col("sv"), 1)
          .when(col("v") * col("n") < col("sv"), -1).otherwise(0))
      .withColumn("rn", row_number().over(byUser))
    val flips = signed.filter(col("s") =!= 0)
      .withColumn("prev", lag("s", 1).over(byUser))
      .groupBy("user_id")
      .agg(coalesce(sum(when(col("prev").isNotNull &&
        col("prev") =!= col("s"), 1L)), lit(0L)).as("n_flips"))
    val runs = signed
      .withColumn("grp", col("rn") - row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("user_id", "s").orderBy("event_id")))
      .filter(col("s") === 1)
      .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
      .groupBy("user_id").agg(max("len").as("max_above_run"))
    signed.groupBy("user_id").agg(max("n").as("n"))
      .join(flips, Seq("user_id"), "left")
      .join(runs, Seq("user_id"), "left")
      .select(col("user_id"), col("n").cast("long").as("n"),
        coalesce(col("n_flips"), lit(0L)).as("n_flips"),
        coalesce(col("max_above_run"), lit(0L)).as("max_above_run"))
  }

  /** Cohort retention: users bucketed by first-seen day, activity
    * counted per (cohort, day offset) — the standard retention
    * triangle. Two aggregates sharing the user_id partitioning; the
    * distinct-user count is the only wide result. */
  def rxCohortRetention(events: DataFrame): DataFrame = {
    val days = events.select(col("user_id"),
      expr("unix_millis(ts) div 86400000").as("day"))
    val cohort = days.groupBy("user_id")
      .agg(min(col("day")).as("cohort_day"))
    days.join(cohort, "user_id")
      .groupBy(col("cohort_day"),
        (col("day") - col("cohort_day")).as("offset_days"))
      .agg(countDistinct(col("user_id")).as("active_users"))
  }

  /** Rx `exhaustMap` admission: a trigger opens a window of
    * `windowMs`; triggers arriving while a window is open are
    * DROPPED (vs switchMap, which cancels the open window). Greedy
    * interval admission is inherently sequential per key — the one
    * operator family a window function cannot express (each
    * decision depends on the previous ACCEPTED trigger, not a fixed
    * frame). Realized with `flatMapSortedGroups`: the shuffle's
    * secondary sort orders each user's triggers by event_id, and a
    * single O(1)-state forward scan per key does the admission —
    * state is one Long regardless of group size, and only trigger
    * rows (not the full stream) ever shuffle. The opened windows
    * compose with an interval join for the inner "map" phase. */
  def rxExhaustMap(events: DataFrame, windowMs: Long = 1800000L,
                   trigger: String = "click"): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    events.filter(col("event_type") === trigger)
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("t"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("event_id")) { (uid, it) =>
        var end = Long.MinValue
        it.flatMap { case (_, eid, t) =>
          if (t >= end) { end = t + windowMs; Some((uid, eid, t, end)) }
          else None
        }
      }
      .toDF("user_id", "event_id", "ts_ms", "end_ms")
  }

  /** Per-key exponential moving average (Rx smoothing scan):
    * s_1 = x_1, s_i = alpha*x_i + (1-alpha)*s_{i-1}.
    *
    * The recurrence is inherently sequential per key, so it uses the
    * same shape as [[rxExhaustMap]]: `flatMapSortedGroups` (shuffle
    * secondary-sort on event_id) walks each key's stream with O(1)
    * state. Only (user_id, event_id, value) shuffles.
    *
    * Cross-engine determinism: alpha is a NEGATIVE POWER OF TWO
    * (0.25), so alpha and 1-alpha are exact binary doubles and the
    * fused-free a*x + b*s sequence is the same IEEE op sequence the
    * oracle's recursive CTE evaluates — bit-identical results. An
    * arbitrary alpha would round differently at parse time, not at
    * eval time, and still match; the power of two makes the contract
    * obvious. */
  def rxEwma(events: DataFrame, alpha: Double = 0.25): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    events.select(col("user_id"), col("event_id"), col("value"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("event_id")) { (uid, it) =>
        // initialization tracked with an explicit flag, not a NaN
        // sentinel: a genuine NaN input must poison the recurrence
        // (as the oracle's recursive CTE does), not re-seed it
        var init = false
        var ewma = 0.0
        it.map { case (_, eid, x) =>
          ewma = if (!init) { init = true; x }
                 else alpha * x + (1 - alpha) * ewma
          (uid, eid, x, ewma)
        }
      }
      .toDF("user_id", "event_id", "value", "ewma")
  }

  /** Holt double exponential smoothing per key (level + trend — the
    * forecasting step up from [[rxEwma]]'s level-only scan):
    * l₁ = x₁, b₁ = 0, then
    * lᵢ = α·xᵢ + (1−α)(lᵢ₋₁ + bᵢ₋₁),
    * bᵢ = β(lᵢ − lᵢ₋₁) + (1−β)bᵢ₋₁, emitting the one-step forecast
    * lᵢ + bᵢ alongside. The recurrence is a 2-term linear state —
    * inherently sequential per key — so it rides the same
    * `flatMapSortedGroups` shape as [[rxEwma]] (shuffle
    * secondary-sort on event_id, O(1) state per key, only
    * (user_id, event_id, value) on the wire).
    *
    * Cross-engine determinism: α = β = 1/4 are exact binary doubles
    * and BOTH engines evaluate the same literal op sequence
    * (a·x + b·(l+t), then a·(l′−l) + b·t), so every level/trend is
    * bit-identical to the oracle's recursive CTE — the rxEwma
    * contract extended to a 2-dimensional state. */
  def rxHolt(events: DataFrame, alpha: Double = 0.25,
             beta: Double = 0.25): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    events.select(col("user_id"), col("event_id"), col("value"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("event_id")) { (uid, it) =>
        var init = false
        var level = 0.0
        var trend = 0.0
        it.map { case (_, eid, x) =>
          if (!init) { init = true; level = x; trend = 0.0 }
          else {
            val lNew = alpha * x + (1 - alpha) * (level + trend)
            trend = beta * (lNew - level) + (1 - beta) * trend
            level = lNew
          }
          (uid, eid, x, level, trend, level + trend)
        }
      }
      .toDF("user_id", "event_id", "value", "level", "trend",
        "forecast")
  }

  /** Markov entropy rate of each user's event-type chain, in exact
    * millibits per transition: H = Σ_{s,t} c_st·(⌊log2 c_s⌋ −
    * ⌊log2 c_st⌋) / Σc — how predictable the NEXT action is given
    * the current one (0 = deterministic navigation, high = erratic),
    * the sequential refinement of [[graft.operators.TextAnalysis
    * .tokenEntropy]]'s bag-of-events diversity. Uses the same exact
    * integer bit-length log2 proxy as the surprisal family, so the
    * score is bit-identical on any engine where a libm-log entropy
    * is not: exact at the deterministic end (every c_st = c_s ⇒ 0),
    * within a bit per transition elsewhere.
    *
    * Plan: one lag window per key builds (from, to) pairs, ONE
    * (user, from, to)-keyed count rollup, then the ⌊log2⌋ identity
    * folds per (user, from) and per user — counts only on the wire,
    * partial-aggregable throughout. */
  def rxEntropyRate(events: DataFrame): DataFrame = {
    val byId = Window.partitionBy("user_id").orderBy("event_id")
    val pairs = events
      .withColumn("from", lag("event_type", 1).over(byId))
      .filter(col("from").isNotNull)
      .groupBy(col("user_id"), col("from"),
        col("event_type").as("to"))
      .agg(count(lit(1)).as("c_st"))
    pairs
      .withColumn("c_s", sum("c_st").over(
        Window.partitionBy("user_id", "from")))
      .groupBy("user_id")
      .agg(sum("c_st").cast("long").as("n_transitions"),
        sum(expr("c_st * ((length(bin(c_s)) - 1) " +
          "- (length(bin(c_st)) - 1))")).cast("long").as("bits_sum"))
      .select(col("user_id"), col("n_transitions"),
        expr("bits_sum * 1000 div n_transitions")
          .as("entropy_rate_milli"))
  }

  /** Bollinger-band breakout flags per key: each event judged
    * against its trailing `window`-row mean ± 2σ — the classic
    * volatility-breakout signal, with [[rxOutliers]]' EXACT decision
    * rule moved onto a rolling frame: |x − μ| > 2σ evaluates as
    * (n·x − Σx)² > 4·(n·Σx² − (Σx)²) over BIGINT-cent moments
    * ridden as DECIMAL(38,0), so a borderline row can never flip
    * between engines or partitionings (float μ/σ would). The frame
    * is ROWS-bounded (≤ `window` rows), so the two rolling sums are
    * O(1) per row and the whole operator is one user_id shuffle —
    * no stats re-join, no global pass. n < 2 rows degenerate to
    * dev = 0 > 0 = false ⇒ "in" (the formula needs no warmup
    * special case). */
  def rxBollinger(events: DataFrame, window: Int = 8): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(-(window - 1), Window.currentRow)
    val big = DecimalType(38, 0)
    events
      .withColumn("xi", (dec(col("value")) * lit(100)).cast(big))
      .withColumn("n", count(lit(1)).over(w).cast(big))
      .withColumn("sx", sum(col("xi")).over(w).cast(big))
      .withColumn("sxx",
        sum((col("xi") * col("xi")).cast(big)).over(w).cast(big))
      .select(col("user_id"), col("event_id"),
        col("xi").cast("long").as("cents"),
        col("n").cast("long").as("n_window"),
        when((col("n") * col("xi") - col("sx")) *
             (col("n") * col("xi") - col("sx")) >
             (col("n") * col("sxx") - col("sx") * col("sx")) * 4,
          when(col("n") * col("xi") > col("sx"), "above")
            .otherwise("below"))
          .otherwise("in").as("band"))
  }

  /** Arrival-cadence regularity per key: the squared coefficient of
    * variation of inter-arrival gaps in exact ppm — CV² ≈ 0 flags
    * metronome/bot cadence, ≈ 10⁶ is Poisson, ≫ 10⁶ is bursty — via
    * the division-free identity CV²·10⁶ = n·Σg²·10⁶ div (Σg)² − 10⁶
    * with Σg² riding DECIMAL(38,0) (gap² ≤ 10¹⁶ per term overflows
    * BIGINT over long streams). One user_id shuffle: the lag window
    * and the moment aggregate share it; min/mean/max gap ms round
    * out the report. Keys with < 2 gaps are filtered (no defined
    * dispersion — the trend-op rule). */
  def rxCadence(events: DataFrame): DataFrame = {
    val ms = unix_millis(col("ts"))
    val g = events
      .select(col("user_id"),
        (ms - lag(ms, 1).over(byUser)).as("g"))
      .filter(col("g").isNotNull && col("g") > 0)
    g.groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("g")).as("sg"),
        sum(col("g").cast(DecimalType(38, 0)) * col("g")).as("sgg"),
        min("g").as("min_gap_ms"), max("g").as("max_gap_ms"))
      .filter(col("n_gaps") >= 2)
      .select(col("user_id"), col("n_gaps"),
        expr("sg div n_gaps").as("mean_gap_ms"),
        col("min_gap_ms"), col("max_gap_ms"),
        expr("CAST((n_gaps * sgg * 1000000) div (CAST(sg AS " +
          "DECIMAL(38,0)) * sg) - 1000000 AS BIGINT)").as("cv2_ppm"))
  }

  /** Kendall rank correlation (τ_a) per key over the LAST `n`
    * points — the pair-counting partner of [[rxSpearman]] (τ is the
    * probability-of-concordance statistic; Spearman weights
    * disagreements by rank distance, τ counts them): arrival order
    * vs value order, concordant = later arrival has strictly larger
    * value. Pairwise by definition, so the theil_sen last-n cap
    * bounds the fan-out at n(n−1)/2 = 496 comparisons per key
    * regardless of stream length. INTEGER outputs only — concordant
    * / discordant / value-tie counts and τ_a in exact ppm
    * ((C−D)·10⁶ div pairs); the tie-corrected τ_b's √ is the
    * consumer's float step (the runs-test rule). One key shuffle +
    * bounded collect + one HOF fold; the oracle counts the same
    * pairs with a capped self-join — different plan, identical
    * integers. */
  def rxKendallTau(events: DataFrame, n: Int = 32): DataFrame = {
    val lastN = events
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id").orderBy(col("event_id").desc)))
      .filter(col("rn") <= n)
    lastN.groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("event_id"), col("value"))))
        .as("pts"))
      .withColumn("vals", expr("transform(pts, p -> p.value)"))
      .withColumn("conc", expr(
        """IF(size(vals) < 2, 0L, aggregate(sequence(2, size(vals)), 0L,
          |  (acc, j) -> acc + size(filter(slice(vals, 1, j - 1),
          |    x -> x < element_at(vals, CAST(j AS INT))))))"""
          .stripMargin))
      .withColumn("disc", expr(
        """IF(size(vals) < 2, 0L, aggregate(sequence(2, size(vals)), 0L,
          |  (acc, j) -> acc + size(filter(slice(vals, 1, j - 1),
          |    x -> x > element_at(vals, CAST(j AS INT))))))"""
          .stripMargin))
      .select(col("user_id"),
        size(col("vals")).cast("long").as("n_points"),
        expr("size(vals) * (size(vals) - 1) div 2").as("n_pairs"),
        col("conc").as("n_concordant"), col("disc").as("n_discordant"),
        expr("size(vals) * (size(vals) - 1) div 2 - conc - disc")
          .as("n_value_ties"),
        expr("""CASE WHEN size(vals) >= 2 THEN
          (conc - disc) * 1000000 div (size(vals) * (size(vals) - 1) div 2)
          ELSE 0 END""").as("tau_a_ppm"))
  }

  /** Raw autocovariance cross-products per key at lags 0..`maxLag`:
    * xcorr_ℓ = Σᵢ cᵢ·cᵢ₊ℓ over the centi-unit integer series
    * (DECIMAL(18,2)·100 — the twap convention), the building block a
    * signal consumer normalizes into autocorrelation or matched
    * filters. Everything is exact BIGINT (products ≤ 10¹⁰ per term);
    * unlike [[rxAcf]]'s normalized floats these raw sums are
    * bit-stable at any partitioning. One user_id shuffle shared by
    * the lead windows and the fold. */
  def rxXcorr(events: DataFrame, maxLag: Int = 3): DataFrame = {
    val c = (col("value").cast(DecimalType(18, 2)) * 100)
      .cast("long")
    val base = events.select(col("user_id"), col("event_id"), c.as("c"))
    val withLeads = (1 to maxLag).foldLeft(
      base.withColumn("xc0", col("c") * col("c"))) { (df, l) =>
      df.withColumn(s"xc$l", col("c") * lead("c", l).over(byUser))
    }
    val sums = (0 to maxLag).map(l =>
      coalesce(sum(col(s"xc$l")), lit(0L)).as(s"xcorr$l"))
    withLeads.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sums: _*)
  }

  /** Theil–Sen robust trend per key: the (lower) median of all
    * pairwise slopes over the last `n` points — the estimator that
    * shrugs off the outliers OLS chases (breakdown point ~29%), and
    * the standard robust drift detector next to [[rxTrendCorrelation]]
    * 's parametric slope. The last-`n` cap is the scale contract:
    * pairwise slopes are O(n²) per key BY DEFINITION, so the window
    * bounds the fan-out at n(n−1)/2 = 496 doubles per key regardless
    * of stream length (the capped-adjacency rule applied to time
    * series). Slopes use event_id as the time axis (unique integers
    * — no zero denominators), each slope is ONE double division (the
    * same IEEE result on any engine), and the median is an order
    * statistic of the sorted slope array — deterministic throughout.
    *
    * Scale shape: one rank window to keep the last n, one
    * collect-to-array per key (bounded at n), then per-row HOFs;
    * only (user, event_id, value) triples shuffle. */
  def rxTheilSen(events: DataFrame, n: Int = 32): DataFrame = {
    val lastN = events
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id").orderBy(col("event_id").desc)))
      .filter(col("rn") <= n)
    lastN.groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("event_id"), col("value"))))
        .as("pts"))
      .withColumn("eids", expr("transform(pts, p -> p.event_id)"))
      .withColumn("vals", expr("transform(pts, p -> p.value)"))
      .withColumn("slopes", expr(
        """IF(size(vals) < 2, array(),
          |  array_sort(flatten(transform(sequence(2, size(vals)), j ->
          |    transform(sequence(1, j - 1), i ->
          |      (element_at(vals, CAST(j AS INT))
          |        - element_at(vals, CAST(i AS INT)))
          |      / CAST(element_at(eids, CAST(j AS INT))
          |        - element_at(eids, CAST(i AS INT)) AS DOUBLE))))))"""
          .stripMargin))
      .select(col("user_id"),
        size(col("pts")).cast("long").as("n_points"),
        size(col("slopes")).cast("long").as("n_pairs"),
        expr("""CASE WHEN size(slopes) > 0 THEN
          element_at(slopes, CAST((size(slopes) + 1) div 2 AS INT))
          END""").as("slope_median"))
  }

  /** Mann–Kendall trend test ingredients per key over the same
    * capped last-`n` window as [[rxTheilSen]] — the significance
    * half of the robust-trend pair (Theil–Sen says how steep, M–K
    * says whether to believe it): S = Σ_{i<j} sign(xⱼ − xᵢ) and the
    * tie-corrected variance NUMERATOR 18·Var = n(n−1)(2n+5) −
    * Σ_t t(t−1)(2t+5) — both exact integers, so the verdict inputs
    * are bit-identical anywhere (the z-score's √ is the consumer's
    * one float step, the rx_survival rule; sign of equal doubles is
    * 0 on any engine).
    *
    * Scale shape: one rank window keeps the last n; S folds over the
    * bounded collected array (≤ n(n−1)/2 = 496 comparisons per key);
    * the tie term is a (user, value)-keyed count rollup over the
    * SAME lastN rows — no second corpus pass, counts only on the
    * wire. */
  def rxMannKendall(events: DataFrame, n: Int = 32): DataFrame = {
    val lastN = events
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id").orderBy(col("event_id").desc)))
      .filter(col("rn") <= n)
      .localCheckpoint()
    val sStat = lastN.groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("event_id"), col("value"))))
        .as("pts"))
      .withColumn("vals", expr("transform(pts, p -> p.value)"))
      .select(col("user_id"),
        size(col("vals")).cast("long").as("n_points"),
        expr(
          """aggregate(IF(size(vals) < 2, array(),
            |  flatten(transform(sequence(2, size(vals)), j ->
            |    transform(sequence(1, j - 1), i ->
            |      IF(element_at(vals, CAST(j AS INT))
            |           > element_at(vals, CAST(i AS INT)), 1,
            |         IF(element_at(vals, CAST(j AS INT))
            |           < element_at(vals, CAST(i AS INT)), -1, 0)))))),
            |  0L, (a, x) -> a + x)""".stripMargin).as("s_stat"))
    val ties = lastN.groupBy("user_id", "value")
      .agg(count(lit(1)).as("t"))
      .groupBy("user_id")
      .agg(coalesce(sum(when(col("t") > 1,
        expr("t * (t - 1) * (2 * t + 5)"))), lit(0L)).as("tie_term"))
    sStat.join(ties, "user_id")
      .select(col("user_id"), col("n_points"), col("s_stat"),
        (expr("n_points * (n_points - 1) * (2 * n_points + 5)")
          - col("tie_term")).cast("long").as("var18"))
  }

  /** Wald–Wolfowitz runs test ingredients per key: is the value
    * stream random around its median, or does it trend/oscillate?
    * Values equal to the per-key lower median drop (the standard
    * treatment); the report carries n₁ (above), n₂ (below), the
    * observed run count, and the expected run count under
    * randomness, E[R] = 1 + 2n₁n₂/(n₁+n₂), in exact ppm — observed
    * far below expected means trending, far above means
    * oscillation. Everything is integer (counts, one integer
    * division), so the verdict inputs are bit-identical on any
    * engine; the z-score's √ is the consumer's one float step (the
    * rx_survival adjudication).
    *
    * Scale shape: one row_number window to select the lower median
    * (rank (n+1)/2 per key), one lag window for sign changes — both
    * partitioned by user_id, so the whole test is two key-local
    * sorts with counts on the wire; keys with every value at the
    * median still report (zeros, NULL expectation) via the left
    * join from the per-key median frame. */
  def rxRunsTest(events: DataFrame): DataFrame = {
    val perKey = Window.partitionBy("user_id")
    val byVal = Window.partitionBy("user_id")
      .orderBy(col("value"), col("event_id"))
    val med = events
      .withColumn("rn", row_number().over(byVal))
      .withColumn("cnt", count(lit(1)).over(perKey))
      .filter(col("rn") === expr("(cnt + 1) div 2"))
      .select(col("user_id"), col("value").as("med"))
    val signs = events.join(med, "user_id")
      .filter(col("value") =!= col("med"))
      .withColumn("above", (col("value") > col("med")).cast("int"))
      .withColumn("prev", lag("above", 1).over(
        Window.partitionBy("user_id").orderBy("event_id")))
    val agg = signs.groupBy("user_id")
      .agg(
        sum("above").cast("long").as("n1"),
        sum(lit(1) - col("above")).cast("long").as("n2"),
        (coalesce(sum(when(col("prev").isNotNull &&
          col("prev") =!= col("above"), 1L)), lit(0L)) + 1L)
          .cast("long").as("runs"))
    med.select("user_id").join(agg, Seq("user_id"), "left")
      .select(col("user_id"),
        coalesce(col("n1"), lit(0L)).as("n1"),
        coalesce(col("n2"), lit(0L)).as("n2"),
        coalesce(col("runs"), lit(0L)).as("runs"),
        expr("CASE WHEN coalesce(n1, 0) + coalesce(n2, 0) > 0 THEN " +
          "1000000 + 2000000 * n1 * n2 div (n1 + n2) END")
          .cast("long").as("expected_runs_ppm"))
  }

  /** Rx `forkJoin`: the final value of each of several per-key
    * streams, emitted together once all of them have completed — a
    * key only appears if EVERY stream emitted at least once. One
    * partial-aggregable pass: `max_by(value, event_id)` per stream
    * inside a single groupBy (no per-stream join tree). */
  def rxForkJoin(events: DataFrame,
                 types: Seq[String] = Seq("click", "view", "purchase"))
      : DataFrame = {
    val aggs = types.map(t => max_by(
      when(col("event_type") === t, col("value")),
      when(col("event_type") === t, col("event_id"))).as(s"last_$t"))
    types.foldLeft(
      events.groupBy("user_id").agg(aggs.head, aggs.tail: _*))(
      (df, t) => df.filter(col(s"last_$t").isNotNull))
  }

  /** Capped sessionization: a new session opens on the first event,
    * after a silence > `gapMs`, OR once the running session has
    * lasted > `capMs` — the production form (analytics stacks cap
    * session length so a bot pinging every minute can't hold one
    * session open forever). The cap makes the assignment RECURSIVE —
    * whether this event splits depends on when its session started,
    * which depends on every earlier split — so no fixed window frame
    * expresses it (`session_window` handles the gap only). Same
    * sequential-scan shape as [[rxExhaustMap]]: `flatMapSortedGroups`
    * secondary-sorts each key's events in the ONE user_id shuffle and
    * a forward scan with two Longs of state assigns session ids.
    * Only (user_id, event_id, ts) shuffles. Oracle = recursive CTE. */
  def rxSessionCapped(events: DataFrame, gapMs: Long = 1800000L,
                      capMs: Long = 7200000L): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    events.select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("t"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("t"), col("event_id")) { (uid, it) =>
        var sessionId = 0L
        var sessStart = Long.MinValue
        var prevT = Long.MinValue
        it.map { case (_, eid, t) =>
          if (sessionId == 0L || t - prevT > gapMs || t - sessStart > capMs) {
            sessionId += 1; sessStart = t
          }
          prevT = t
          (uid, eid, t, sessionId)
        }
      }
      .toDF("user_id", "event_id", "ts_ms", "session_id")
  }

  /** Token-bucket rate limiting (admission control): each key's
    * bucket holds up to `capacityTokens`, refilling continuously at
    * `refillMicroPerMs` micro-tokens per ms; an event is ADMITTED if
    * a full token (1e6 micro) is available and spends it. The
    * production ingestion-throttle primitive — [[rxThrottleFirst]]
    * is the degenerate bucket (capacity 1, bucket-aligned refill),
    * this is the bursty general form. The recurrence (balance
    * depends on every prior admission) is sequential per key by
    * nature: `flatMapSortedGroups`, two longs of state, only
    * (user_id, event_id, ts) shuffles. All-integer micro-token
    * arithmetic ⇒ no borderline admission can flip between engines;
    * oracle = recursive CTE. */
  def rxRateLimit(events: DataFrame, capacityTokens: Int = 3,
                  refillMicroPerMs: Long = 2L): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val capMicro = capacityTokens * 1000000L
    events.select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("t"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("t"), col("event_id")) { (uid, it) =>
        var tokens = capMicro
        var last = Long.MinValue
        it.map { case (_, eid, t) =>
          if (last != Long.MinValue)
            tokens = math.min(capMicro, tokens + (t - last) * refillMicroPerMs)
          last = t
          val admitted = tokens >= 1000000L
          if (admitted) tokens -= 1000000L
          (uid, eid, t, admitted, tokens)
        }
      }
      .toDF("user_id", "event_id", "ts_ms", "admitted", "tokens_micro")
  }

  /** Conversion funnel with a per-stage time window: click within
    * `windowMs` of the first view, purchase within `windowMs` of that
    * click — the form product analytics actually runs ("converted
    * within 7 days"), vs [[rxFunnel]]'s unbounded ordering. Same
    * plan shape: chained conditional-min windows sharing ONE user_id
    * shuffle (consecutive WindowExecs, no self-joins); the stage-n
    * anchor is a min over rows inside the previous anchor's window,
    * so each stage is one more frame on the same sort. Anchors are
    * epoch-ms mins (min is deterministic under ties). */
  def rxFunnelWindowed(events: DataFrame,
                       windowMs: Long = 86400000L): DataFrame = {
    val w = Window.partitionBy("user_id")
    events.select(col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("t"))
      .withColumn("t1",
        min(when(col("event_type") === "view", col("t"))).over(w))
      .withColumn("t2",
        min(when(col("event_type") === "click" &&
          col("t") > col("t1") &&
          col("t") <= col("t1") + windowMs, col("t"))).over(w))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" &&
          col("t") > col("t2") &&
          col("t") <= col("t2") + windowMs, col("t"))).over(w))
      .groupBy("user_id")
      .agg(first("t1").as("view_ms"), first("t2").as("click_ms"),
        first("t3").as("purchase_ms"))
      .select(col("user_id"), col("view_ms"), col("click_ms"),
        col("purchase_ms"),
        (when(col("view_ms").isNotNull, 1L).otherwise(0L) +
          when(col("click_ms").isNotNull, 1L).otherwise(0L) +
          when(col("purchase_ms").isNotNull, 1L).otherwise(0L))
          .as("reached_stage"))
  }

  /** Per-key weighted median: the smallest value whose cumulative
    * weight reaches half the key's total — the robust location
    * estimate when observations carry importance (sample weights,
    * trade sizes). Decision rule 2*cumw >= total runs in BIGINT
    * (weights are integral here), so no borderline row can flip
    * between engines. One user_id shuffle: the cumulative window and
    * the final min_by collapse share the partitioning; total weight
    * rides the same WindowExec as an unbounded frame, never a
    * stats re-join. */
  def rxWeightedMedian(events: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy("user_id")
      .orderBy(col("value"), col("event_id"))
    val wAll = Window.partitionBy("user_id")
    events.select(col("user_id"), col("event_id"), col("value"),
        (col("event_id") % 10 + 1).as("wt"))
      .withColumn("cumw", sum(col("wt")).over(wOrd))
      .withColumn("total", sum(col("wt")).over(wAll))
      .filter(col("cumw") * 2 >= col("total"))
      .groupBy("user_id")
      .agg(min(col("value")).as("w_median"),
        first(col("total")).as("total_weight"))
  }

  /** Markov transition matrix over the event stream: for every
    * (from_type → to_type) pair of consecutive events within a key,
    * the transition count and its probability — the standard path /
    * next-action model behind funnels and session generators.
    *
    * Shape at scale: ONE user_id shuffle for the `lead` (shared with
    * every other per-key operator), then an aggregation whose key
    * space is |event_type|² — tiny regardless of corpus size — so
    * the per-state totals join is a broadcast, never a second wide
    * exchange. Probability surfaces as an exact BIGINT micro-prob
    * (`n*1e6 div total`): integral arithmetic is bit-identical on
    * any engine and any partitioning, where a double ratio would be
    * rounding-dependent. */
  def rxTransitions(events: DataFrame): DataFrame = {
    val next = events
      .select(col("user_id"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead("event_type", 1).over(byUser))
      .filter(col("to_type").isNotNull)
    val cnt = next
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_trans"))
    val totals = cnt.groupBy("from_type")
      .agg(sum("n_trans").as("n_from"))
    cnt.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n_trans"),
        expr("(n_trans * 1000000L) div n_from").as("p_micro"))
  }

  /** Rolling N-day active users (the DAU/WAU family): for every
    * observed day, the count of distinct keys active in the trailing
    * N-day window. A sliding DISTINCT is not window-frameable;
    * the scalable identity is contribution explosion: a (user, day)
    * presence contributes to exactly the N windows ending at
    * day..day+N-1, so explode by a constant factor N, dedupe
    * (user, window-day), and count — every stage partial-aggregates,
    * and the shuffled object is the distinct user-day frame (already
    * tiny next to the event stream), never raw events. Trailing
    * windows past the last observed day are cut with one broadcast
    * scalar. */
  def rxRollingActives(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val ud = events.select(col("user_id"),
      expr("unix_millis(ts) div 86400000").as("day")).distinct()
    val maxDay = ud.agg(max(col("day")).as("max_day"))
    ud.select(col("user_id"),
        explode(expr(s"sequence(day, day + ${windowDays - 1})")).as("wday"))
      .distinct()
      .crossJoin(broadcast(maxDay))
      .filter(col("wday") <= col("max_day"))
      .groupBy("wday").agg(count(lit(1)).as("active_users"))
  }

  /** DAU/MAU stickiness per day — the engagement-health ratio: what
    * fraction of the trailing-30-day actives showed up today. Shares
    * [[rxRollingActives]]' machinery: the corpus collapses ONCE to
    * distinct user-days, DAU is a plain rollup of that frame, MAU is
    * the bounded 30× contribution fan-out + distinct (each user-day
    * tells the next 29 days "I count for you" — no per-day distinct
    * windows, no state), and the ratio is an exact ppm floor
    * division on the joined day frame. Only days with activity
    * emit (a silent day has DAU 0 by inspection). */
  def rxStickiness(events: DataFrame, windowDays: Int = 30): DataFrame = {
    val ud = events.select(col("user_id"),
      expr("unix_millis(ts) div 86400000").as("day")).distinct()
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val mau = ud.select(col("user_id"),
        explode(expr(s"sequence(day, day + ${windowDays - 1})"))
          .as("day"))
      .distinct()
      .groupBy("day").agg(count(lit(1)).as("mau"))
    dau.join(mau, Seq("day"))
      .select(col("day"), col("dau"), col("mau"),
        expr("dau * 1000000 div mau").as("stickiness_ppm"))
  }

  /** Longest consecutive-day activity streak per key (engagement
    * streaks): distinct active days, then the gaps-and-islands
    * identity `day − row_number = group` turns "consecutive run"
    * into a plain groupBy — no self-join, no iteration. The chain
    * (distinct → window → two aggs) shares ONE user_id-compatible
    * partitioning end to end; raw events collapse to distinct
    * user-days at the first shuffle. */
  def rxStreaks(events: DataFrame): DataFrame = {
    val ud = events.select(col("user_id"),
      expr("unix_millis(ts) div 86400000").as("day")).distinct()
    val runs = ud
      .withColumn("grp",
        col("day") - row_number().over(
          Window.partitionBy("user_id").orderBy("day")))
      .groupBy("user_id", "grp")
      .agg(count(lit(1)).as("len"), min("day").as("start_day"))
    runs.groupBy("user_id")
      .agg(max(col("len")).as("longest_streak"),
        max_by(col("start_day"), struct(col("len"), -col("grp")))
          .as("streak_start_day"),
        count(lit(1)).as("n_streaks"))
  }

  /** Per-key time-weighted average (TWAP): each observation holds
    * until the next one, so its weight is the ms it was "live" —
    * the estimator that is robust to irregular sampling (a burst of
    * identical readings doesn't drag the mean). Zero-length
    * segments (same-ms ticks) carry zero weight and are dropped.
    *
    * Exactness: value quantizes to DECIMAL(18,2) per row and the
    * numerator Σ(value·dt) accumulates as exact decimal × BIGINT
    * ms — order-independent — with one final double division on the
    * exact sums (fixed IEEE op, bit-stable; same contract as
    * [[rxTrendCorrelation]]). One user_id shuffle total: the `lead`
    * window and the aggregation share the partitioning. */
  def rxTwap(events: DataFrame): DataFrame = {
    val seg = events
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ts_ms"), col("value"))
      .withColumn("next_ms", lead("ts_ms", 1).over(byUser))
      .filter(col("next_ms").isNotNull && col("next_ms") > col("ts_ms"))
    seg.groupBy("user_id")
      .agg(count(lit(1)).as("n_segments"),
        sum(col("next_ms") - col("ts_ms")).as("span_ms"),
        sum(dec(col("value")) * (col("next_ms") - col("ts_ms"))).as("num"))
      .select(col("user_id"), col("n_segments"), col("span_ms"),
        (col("num").cast("double") / col("span_ms").cast("double"))
          .as("twap"))
  }

  /** Per-key CUSUM change-point statistic (Page 1954). The textbook
    * recurrence S_i = max(0, S_{i−1} + (x_i − ref)) is sequential,
    * but the drawdown identity makes it window-frameable:
    * S_i = P_i − min(0, min_{j≤i} P_j) where P is the prefix sum of
    * deviations — so the whole detector is one cumulative SUM plus
    * one cumulative MIN over the SAME user_id partitioning (zero
    * extra exchanges; the per-key reference mean is a full-partition
    * frame on that partitioning too).
    *
    * Exactness: values quantize to BIGINT cents, the reference is
    * the floor-division mean (`sx div n` — integral, so deterministic
    * on any engine), and every prefix/min is integer arithmetic —
    * bit-stable at any cluster size. Sums ride DECIMAL(38,0) so 100 TB
    * of cents cannot overflow; only the final statistic narrows to
    * BIGINT. Alarm threshold is explicit cents, not a float sigma. */
  def rxCusum(events: DataFrame, alarmCents: Long = 100000L,
              refCents: Option[Long] = None): DataFrame = {
    // All arithmetic in BIGINT cents (the oracle's own type). The
    // r4 DECIMAL(38,0) belt-and-braces version measured 21.8× for
    // the sf1→sf10 decade while every long-cents window sibling
    // (scan/EWMA/TWAP/drawdown) stayed ≤1.7×: precision-38 decimals
    // don't fit UnsafeRow's 8-byte compact form, so four chained
    // window columns each carried a var-length allocation per row.
    // Long cents bound the per-key cumulative deviation at 9.2e18 —
    // the same money-sum contract every other cents op documents.
    val wAll = Window.partitionBy("user_id")
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withRef = events
      .select(col("event_id"), col("user_id"),
        (dec(col("value")) * 100).cast("long").as("xi"))
    val reffed = refCents match {
      // fixed reference: the streaming twin's form (an unbounded
      // stream has no full-series mean to subtract)
      case Some(r) => withRef.withColumn("ref", lit(r))
      case None => withRef
        .withColumn("sx", sum("xi").over(wAll))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("ref", expr("sx div n"))
    }
    reffed
      .withColumn("p", sum(col("xi") - col("ref")).over(cum))
      .withColumn("runmin", min(col("p")).over(cum))
      .select(col("event_id"), col("user_id"),
        (col("p") - least(col("runmin"), lit(0L))).as("cusum_cents"))
      .withColumn("alarm", col("cusum_cents") > alarmCents)
  }

  /** Last-touch conversion attribution: each purchase credits the
    * most recent PRECEDING non-purchase event of the same key (its
    * type is the "channel"; no prior touch → 'direct'), then revenue
    * rolls up per channel. The lookup is not a join — it's a running
    * last-non-null over the already-required user_id window
    * (`last(..., ignoreNulls)` over an unbounded-preceding-exclusive
    * frame), so the whole attribution costs the one per-key shuffle
    * every other Rx operator shares, plus a tiny |event_type|-keyed
    * final rollup (partial-aggregated map-side, never wide).
    * Revenue accumulates as exact BIGINT cents. */
  def rxAttribution(events: DataFrame): DataFrame = {
    val prior = byUser.rowsBetween(Window.unboundedPreceding, -1)
    events
      .withColumn("touch",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(prior))
      .filter(col("event_type") === "purchase")
      .select(coalesce(col("touch"), lit("direct")).as("channel"),
        (dec(col("value")) * 100).cast("long").as("cents"))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_conversions"),
        sum("cents").as("attributed_cents"))
  }

  /** Top user-journey prefixes (path analysis): each key's first
    * `depth` event types joined into one path string, then path
    * frequencies. The per-key prefix costs the shared user_id
    * shuffle; the path rollup's key space is |event_type|^depth —
    * bounded, partial-aggregated, never wide. `collect_list` order
    * is partitioning-dependent, so elements carry their row_number
    * and sort INSIDE the aggregate (array_sort of (rn, type)
    * structs) — deterministic on any cluster. */
  def rxPaths(events: DataFrame, depth: Int = 3, k: Int = 50): DataFrame =
    events
      .withColumn("rn", row_number().over(byUser))
      .filter(col("rn") <= depth)
      .groupBy("user_id")
      .agg(expr("array_join(transform(array_sort(" +
        "collect_list(struct(rn, event_type))), x -> x.event_type), '>')")
        .as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path")).limit(k)

  /** Complex-event pattern match (the MATCH_RECOGNIZE / CEP shape):
    * `error+ purchase` — purchases immediately preceded by an
    * unbroken run of errors, with the run length attached. The run
    * length is position arithmetic, not a state machine or
    * self-join: n = pos − 1 − (position of the last NON-error before
    * this row, a running conditional max). Two consecutive window
    * steps over the ONE shared user_id partitioning; linear at any
    * scale. */
  def rxPatternMatch(events: DataFrame): DataFrame = {
    val prior = byUser.rowsBetween(Window.unboundedPreceding, -1)
    events
      .withColumn("pos", row_number().over(byUser))
      .withColumn("prev_non_err",
        max(when(col("event_type") =!= "error", col("pos"))).over(prior))
      .filter(col("event_type") === "purchase")
      .withColumn("n_errors",
        (col("pos") - lit(1) - coalesce(col("prev_non_err"), lit(0)))
          .cast("long"))
      .filter(col("n_errors") >= 1)
      .select(col("user_id"), col("event_id").as("purchase_event_id"),
        col("n_errors"))
  }

  /** Trending per calendar day: each day's top-k event types by
    * count with rank — the "what moved today" leaderboard. The
    * (day, type) rollup partial-aggregates map-side (key space =
    * days × |event_type|, calendar-bounded); the rank window runs
    * over THAT frame, never raw events. */
  def rxTrending(events: DataFrame, k: Int = 3): DataFrame = {
    val counts = events
      .groupBy(expr("unix_millis(ts) div 86400000").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    counts
      .withColumn("rank", row_number().over(
        Window.partitionBy("day").orderBy(col("n").desc, col("event_type")))
        .cast("long"))
      .filter(col("rank") <= k)
      .select("day", "rank", "event_type", "n")
  }

  /** Cohort LTV curves: users grouped by first-seen week, cumulative
    * revenue per cohort-age cell and per-user LTV — the monetary twin
    * of [[rxCohortRetention]]. The corpus collapses to cohort×age
    * cells on the shared user_id partitioning (first-seen and the
    * revenue rollup co-partition); the cumulative window runs over
    * the calendar-bounded cell frame; LTV is an exact floor-division
    * of BIGINT cents. */
  def rxCohortLtv(events: DataFrame): DataFrame = {
    val base = events.select(col("user_id"),
      expr("unix_millis(ts) div 604800000").as("week"),
      when(col("event_type") === "purchase",
        (dec(col("value")) * 100).cast("long")).otherwise(0L).as("cents"))
    val cohorts = base.groupBy("user_id").agg(min("week").as("cohort_week"))
    val sizes = cohorts.groupBy("cohort_week")
      .agg(count(lit(1)).as("cohort_users"))
    val cells = base.join(cohorts, "user_id")
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("age_weeks"))
      .agg(sum("cents").as("rev_cents"),
        count_distinct(col("user_id")).as("active_users"))
    cells
      .withColumn("cum_cents", sum("rev_cents").over(
        Window.partitionBy("cohort_week").orderBy("age_weeks")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(sizes), "cohort_week")
      .select(col("cohort_week"), col("age_weeks"), col("cohort_users"),
        col("active_users"), col("rev_cents"), col("cum_cents"),
        expr("cum_cents div cohort_users").as("ltv_cents_per_user"))
  }

  /** Rate-spike (burst) detection per event type: each minute
    * bucket's count against `factor`× the trailing `windowBuckets`-
    * minute average. The RANGE frame on the minute key makes silent
    * minutes IMPLICIT ZEROS (a ROWS frame would skip them and
    * under-detect bursts after quiet periods); the verdict is the
    * integer cross-multiplication n·w > k·Σ — no ratio to flip
    * between engines. Events collapse to the (type, minute) count
    * frame on the one shuffle; the window runs over that
    * calendar-bounded frame. Warm-up minutes (before a full trailing
    * window exists) are cut with one broadcast scalar. */
  def rxBurst(events: DataFrame, windowBuckets: Int = 10,
              factor: Int = 3, globalWarmup: Boolean = true): DataFrame = {
    val counts = events
      .groupBy(col("event_type"),
        expr("unix_millis(ts) div 60000").as("minute"))
      .agg(count(lit(1)).as("n"))
    val trail = Window.partitionBy("event_type").orderBy("minute")
      .rangeBetween(-windowBuckets, -1)
    val base = counts
      .withColumn("trail_sum",
        coalesce(sum("n").over(trail), lit(0L)))
    // warm-up: global corpus start (gated default) or per-type first
    // minute (the streaming twin's only knowable form)
    val cut =
      if (globalWarmup)
        base.crossJoin(broadcast(counts.agg(min("minute").as("m0"))))
      else base.withColumn("m0",
        min("minute").over(Window.partitionBy("event_type")))
    cut
      .filter(col("minute") >= col("m0") + windowBuckets)
      .filter(col("n") * windowBuckets > col("trail_sum") * factor)
      .select("event_type", "minute", "n", "trail_sum")
  }

  /** Seasonal decomposition (STL-lite): daily value series split into
    * trend (centered 7-day moving average), weekday seasonal (mean of
    * the detrended series per day-of-week) and residual — the
    * smoothing-free classical decomposition, entirely in exact
    * integer cents (floor-division means; `div` truncation verified
    * identical to DuckDB's `//` incl. negatives by q_period_growth).
    * The RANGE frame makes calendar gaps disqualify a window (w_n<7)
    * rather than silently widen it. Events collapse to the
    * calendar-bounded day frame on the one aggregation; the global
    * windows run over THAT frame (the qPeriodGrowth contract); dow
    * from epoch-day arithmetic, no dow() convention dependence. */
  def rxSeasonality(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(expr("unix_millis(ts) div 86400000").as("day"))
      .agg((sum(dec(col("value"))) * 100).cast("long").as("cents"))
    val w = Window.orderBy("day").rangeBetween(-3, 3)
    val t = daily
      .withColumn("w_sum", sum("cents").over(w))
      .withColumn("w_n", count(lit(1)).over(w))
      .filter(col("w_n") === 7)
      .withColumn("trend_cents", expr("w_sum div w_n"))
      .withColumn("detrended", col("cents") - col("trend_cents"))
      .withColumn("dow", expr("(day + 4) % 7"))
    val seasonal = t.groupBy("dow")
      .agg(expr("sum(detrended) div count(1)").as("seasonal_cents"))
    t.join(broadcast(seasonal), "dow")
      .select(col("day"), col("cents"), col("trend_cents"),
        col("seasonal_cents"),
        (col("detrended") - col("seasonal_cents")).as("residual_cents"))
  }

  /** A/B experiment readout with a deterministic hash split: arm A =
    * first md5 hex digit of the key in 0-7 (the reproducible 50/50
    * assignment every experimentation system needs — no RNG state,
    * re-derivable by any engine); per arm: users, converters,
    * conversion ppm, revenue and ARPU in exact cents. The corpus
    * collapses to one row per user on the shared key shuffle before
    * the two-row arm rollup; revenue rides DECIMAL(38,0). */
  def rxAbTest(events: DataFrame): DataFrame = {
    val users = events.groupBy("user_id").agg(
      max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("converted"),
      sum(when(col("event_type") === "purchase",
        (dec(col("value")) * 100).cast(DecimalType(38, 0)))
        .otherwise(lit(0).cast(DecimalType(38, 0)))).as("rev"))
    users
      .withColumn("arm",
        when(expr("instr('01234567', substr(md5(cast(user_id AS string)), 1, 1))") > 0,
          lit("A")).otherwise(lit("B")))
      .groupBy("arm")
      .agg(count(lit(1)).as("n_users"),
        sum("converted").as("n_converted"),
        sum("rev").as("r"))
      .select(col("arm"), col("n_users"), col("n_converted"),
        expr("n_converted * 1000000 div n_users").as("conv_ppm"),
        col("r").cast("long").as("rev_cents"),
        expr("r div n_users").as("arpu_cents"))
  }

  /** Time-to-event (survival) hazard table for the signup→purchase
    * funnel: per key, days from first signup to the first LATER
    * purchase (event_id order — monotone in event time), censored at
    * the corpus horizon when no purchase follows. Output is the
    * Kaplan-Meier ingredient table — per event day: the at-risk
    * count, event count, and the discrete hazard in integral ppm
    * (`d*1e6 div n_risk`; the KM survival curve itself is a running
    * product of these rationals — left to the consumer because a
    * float Π would be the one engine-dependent step).
    *
    * Shape at scale: signup/purchase firsts are partial-aggregable
    * min-structs on the shared user_id key; the corpus collapses to
    * ONE row per user before the day rollup, and the day frame is
    * horizon-bounded (≤ a few thousand rows at any corpus size), so
    * its global cumulative window is a deliberate single-task step
    * over a tiny frame — same contract as [[Relational.qPeriodGrowth]]. */
  def rxSurvival(events: DataFrame): DataFrame = {
    val base = events.select(col("user_id"), col("event_id"),
      col("event_type"), expr("unix_millis(ts) div 86400000").as("day"))
    val signup = base.filter(col("event_type") === "signup")
      .groupBy("user_id")
      .agg(min(struct(col("event_id"), col("day"))).as("s"))
      .select(col("user_id"), col("s.event_id").as("sid"),
        col("s.day").as("sday"))
    val firstPurchase = base.filter(col("event_type") === "purchase")
      .join(signup, "user_id")
      .filter(col("event_id") > col("sid"))
      .groupBy("user_id")
      .agg(min(struct(col("event_id"), col("day"))).as("p"))
      .select(col("user_id"), col("p.day").as("pday"))
    val horizon = base.agg(max("day").as("max_day"))
    val perUser = signup.join(firstPurchase, Seq("user_id"), "left")
      .crossJoin(broadcast(horizon))
      .select(
        when(col("pday").isNotNull, col("pday") - col("sday"))
          .otherwise(col("max_day") - col("sday")).as("day"),
        when(col("pday").isNotNull, 1L).otherwise(0L).as("event"))
    val byDay = perUser.groupBy("day")
      .agg(count(lit(1)).as("n_ended"), sum("event").as("n_events"))
    val ordered = Window.orderBy("day")
    byDay
      .withColumn("ended_before",
        coalesce(sum("n_ended").over(
          ordered.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("total", sum("n_ended").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("n_events") > 0)
      .select(col("day"), (col("total") - col("ended_before")).as("n_risk"),
        col("n_events"))
      .withColumn("hazard_ppm", expr("n_events * 1000000 div n_risk"))
  }

  /** Time-in-state (dwell) report: for each event_type, how long
    * users sit in that state before their next event — the
    * engagement/funnel-friction number behind "where do sessions
    * stall". Dwell is the per-user gap to the NEXT event (one `lead`
    * on the shared user_id partitioning — the same single shuffle
    * every sequential op in this file rides), each user's last event
    * is open-ended and excluded by contract, and the rollup is a
    * partial-aggregable groupBy on the tiny event_type key. Mean is
    * an exact floor division of BIGINT ms. */
  def rxStateDwell(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ms"))
      .withColumn("next_ms", lead("ms", 1).over(byUser))
      .filter(col("next_ms").isNotNull)
      .select(col("event_type"), (col("next_ms") - col("ms")).as("dwell"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum("dwell").as("total_dwell_ms"),
        max("dwell").as("max_dwell_ms"))
      .withColumn("mean_dwell_ms", expr("total_dwell_ms div n"))
      .select("event_type", "n", "total_dwell_ms", "mean_dwell_ms",
        "max_dwell_ms")

  /** Inter-arrival time histogram per event_type in log₂ buckets —
    * the burstiness fingerprint (human traffic is heavy-tailed
    * across decades of gap sizes; bots cluster in one bucket), using
    * the same exact bit-length bucketing as the doc-length power
    * law: no float log, no boundary rounding. One `lag` on the
    * shared user_id partitioning, then a partial-aggregable rollup
    * on the tiny (type, ≤64-bucket) key. Zero-ms gaps (same-ms
    * ticks) are excluded by contract — they measure clock
    * granularity, not behavior. */
  def rxInterarrivalHist(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ms"))
      .withColumn("prev", lag("ms", 1).over(byUser))
      .filter(col("prev").isNotNull && col("ms") > col("prev"))
      .select(col("event_type"),
        (length(bin(col("ms") - col("prev"))) - 1).cast("long")
          .as("log2_bucket"))
      .groupBy("event_type", "log2_bucket")
      .agg(count(lit(1)).as("n"))

  /** Rare-path anomaly detection: score each user by the WEAKEST
    * transition in their event sequence under the corpus-wide Markov
    * model ([[rxTransitions]]' exact ppm probabilities) — the
    * integer-exact alternative to sequence log-likelihood (a product
    * of probabilities needs logs no two engines round alike; the
    * weakest link is a min, and min is exact). Bot/fraud triage
    * reads exactly this: "which users did something almost nobody
    * does". Pairs come off the shared user_id shuffle; the |types|²
    * probability table rides a broadcast; the per-user argmin is one
    * lexicographic struct-min; bottom-k is TakeOrdered. */
  def rxAnomalyPath(events: DataFrame, k: Int = 20): DataFrame = {
    val pairs = events
      .select(col("user_id"), col("event_id"),
        col("event_type").as("to_state"))
      .withColumn("from_state", lag("to_state", 1).over(byUser))
      .filter(col("from_state").isNotNull)
    val counts = pairs.groupBy("from_state", "to_state")
      .agg(count(lit(1)).as("n"))
    val probs = counts
      .join(counts.groupBy("from_state").agg(sum("n").as("tot")),
        "from_state")
      .select(col("from_state"), col("to_state"),
        expr("n * 1000000 div tot").as("prob_ppm"))
    pairs.join(broadcast(probs), Seq("from_state", "to_state"))
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

  /** Funnel stage latency: how long users take between consecutive
    * funnel stages (view→click→purchase, [[rxFunnel]]'s ordered
    * semantics over wall-clock ms instead of sequence position) —
    * the "WHERE does the funnel stall" number that conversion rates
    * alone can't give. Stage times are the same window-constant
    * trick as rxFunnel (one user_id shuffle); gaps unpivot into a
    * (stage, gap) frame whose rollup carries the exact floor mean
    * and the interpolated exact median (`percentile` ≡ the oracle's
    * quantile_cont on identical integer ms inputs). */
  def rxStageLatency(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
    val f = events
      .select(col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("ms"))
      .withColumn("t1",
        min(when(col("event_type") === "view", col("ms"))).over(w))
      .withColumn("t2",
        min(when(col("event_type") === "click" &&
          col("ms") > col("t1"), col("ms"))).over(w))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" &&
          col("ms") > col("t2"), col("ms"))).over(w))
      .groupBy("user_id")
      .agg(first("t1").as("t1"), first("t2").as("t2"),
        first("t3").as("t3"))
    val gaps = f.select(lit("view->click").as("stage"),
        (col("t2") - col("t1")).as("gap"))
      .unionAll(f.select(lit("click->purchase").as("stage"),
        (col("t3") - col("t2")).as("gap")))
      .filter(col("gap").isNotNull)
    gaps.groupBy("stage")
      .agg(count(lit(1)).as("n"), sum("gap").as("total_ms"),
        expr("percentile(gap, 0.5)").as("p50_ms"))
      .withColumn("mean_ms", expr("total_ms div n"))
      .select("stage", "n", "mean_ms", "p50_ms")
  }

  /** SLO burn-rate alerting: minutes whose trailing-hour error RATE
    * exceeds the objective — the SRE page condition, which [[rxBurst]]
    * (absolute count spikes) cannot express: a traffic surge with
    * proportional errors must NOT page, a quiet hour with mostly
    * errors MUST. The corpus collapses to per-minute (err, tot)
    * counts first (partial-aggregable); the trailing RANGE frame
    * runs over that calendar-bounded minute frame (silent minutes
    * are implicit zeros, same contract as rxBurst) and the verdict
    * is the integer cross-multiplication err·1e6 > slo·tot — no
    * float rate, no boundary rounding. Emits alert minutes only. */
  def rxSloBurn(events: DataFrame, sloPpm: Long = 300000L,
                windowMinutes: Int = 60): DataFrame = {
    val byMin = events
      .select(expr("unix_millis(ts) div 60000").as("minute"),
        when(col("event_type") === "error", 1L).otherwise(0L).as("e"))
      .groupBy("minute")
      .agg(sum("e").as("err"), count(lit(1)).as("tot"))
    val w = Window.orderBy("minute")
      .rangeBetween(-(windowMinutes - 1), Window.currentRow)
    byMin
      .withColumn("err_60m", sum("err").over(w))
      .withColumn("tot_60m", sum("tot").over(w))
      .filter(col("err_60m") * 1000000L > lit(sloPpm) * col("tot_60m"))
      .select(col("minute"), col("err_60m"), col("tot_60m"),
        expr("err_60m * 1000000 div tot_60m").as("err_ppm"))
  }

  /** Seasonal-naive forecast backtest: predict each day's value as
    * the value `season` days earlier and score per event_type with
    * WAPE (Σ|y−ŷ| / Σ|y|) and signed bias — the baseline every
    * forecasting pipeline must beat, and the backtest harness that
    * scores it without leaving exact arithmetic (per-day MAPE would
    * average ratios and lose exactness; WAPE is a ratio OF exact
    * sums). Corpus collapses to the daily frame first; the forecast
    * join is the calendar self-join of [[rxAcf]]; the ×1e6 rides
    * DECIMAL(38,0) (an sf10 year of cents overflows BIGINT). */
  def rxForecastBacktest(events: DataFrame, season: Int = 7)
      : DataFrame = {
    val daily = events
      .select(col("event_type"),
        expr("unix_millis(ts) div 86400000").as("day"),
        (dec(col("value")) * 100).cast("long").as("cents"))
      .groupBy("event_type", "day")
      .agg(sum("cents").as("cents"))
    val pred = daily.select(col("event_type"),
      (col("day") + season).as("day"), col("cents").as("pred"))
    daily.join(pred, Seq("event_type", "day"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(abs(col("cents") - col("pred"))).as("abs_err"),
        sum(col("pred") - col("cents")).as("signed_err"),
        sum(abs(col("cents"))).as("abs_actual"))
      .filter(col("abs_actual") > 0)
      .select(col("event_type"), col("n_days"),
        expr("CAST(abs_err AS DECIMAL(38,0)) * 1000000 div abs_actual")
          .as("wape_ppm"),
        expr("CAST(signed_err AS DECIMAL(38,0)) * 1000000 " +
          "div abs_actual").as("bias_ppm"))
  }

  /** Autocorrelation function (ACF) of the daily value series per
    * event_type at calendar lags 1..maxLag — the standard seasonality
    * / memory diagnostic a forecasting pipeline runs before picking a
    * model (a spike at lag 7 = weekly cycle). The corpus collapses
    * FIRST to the daily frame (one shuffle with map-side partials;
    * O(days × types) rows at any corpus size), so the lag pairing and
    * moment math run on the collapsed frame only. Calendar-aligned
    * pairing (day t with day t−L, both present), not sequence-lag —
    * gaps must break pairs, or a missing week would silently
    * correlate across it. Daily sums are exact BIGINT cents; moments
    * accumulate as DECIMAL(38,0) integer products (order-independent)
    * and each Pearson is the same fixed IEEE tail as
    * [[rxTrendCorrelation]] — bit-stable at any cluster size. */
  def rxAcf(events: DataFrame, maxLag: Int = 7): DataFrame = {
    val big = DecimalType(38, 0)
    val daily = events
      .select(col("event_type"),
        expr("unix_millis(ts) div 86400000").as("day"),
        (dec(col("value")) * 100).cast("long").as("cents"))
      .groupBy("event_type", "day")
      .agg(sum("cents").as("cents"))
    val x = daily.withColumn("lag_i", explode(sequence(lit(1), lit(maxLag))))
      .select(col("event_type"), col("lag_i").cast("long").as("lag"),
        (col("day") - col("lag_i")).as("match_day"), col("cents").as("x"))
    val y = daily.select(col("event_type"), col("day").as("match_day"),
      col("cents").as("y"))
    x.join(y, Seq("event_type", "match_day"))
      .groupBy("event_type", "lag")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(big)).cast("double").as("sx"),
        sum(col("y").cast(big)).cast("double").as("sy"),
        sum((col("x").cast(big) * col("x"))).cast("double").as("sxx"),
        sum((col("y").cast(big) * col("y"))).cast("double").as("syy"),
        sum((col("x").cast(big) * col("y"))).cast("double").as("sxy"))
      .filter(col("n") >= 3 &&
        col("n") * col("sxx") - col("sx") * col("sx") > 0 &&
        col("n") * col("syy") - col("sy") * col("sy") > 0)
      .select(col("event_type"), col("lag"), col("n"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
          .as("acf_r"))
  }

  /** Per-key maximum drawdown over the value series: treating each
    * key's ordered `value` readings as a level (price, queue depth,
    * balance), drawdown at i is runningMax(value) − value — how far
    * the series has fallen from its historical peak. Reports the
    * worst absolute fall and the worst relative fall per key, plus
    * the peak and final levels — the risk metric every monitoring /
    * portfolio pipeline wants.
    *
    * Both cumulative stats (running max, and the per-row ppm ratio's
    * max) ride the SAME user_id/event_id window partitioning every
    * other Rx operator shares — one exchange, two zero-cost frames,
    * then a per-key rollup that combines map-side on the already
    *-partitioned data (no second shuffle: the groupBy key equals the
    * window partition key, so Catalyst reuses the exchange).
    * Exactness: values quantize to BIGINT cents; the relative fall is
    * (peak − v) · 10⁶ div peak through DECIMAL(38,0) — one integer
    * division per row, so DuckDB reproduces every ppm bit for bit.
    * The final level is max_by(cents, event_id) — order-free, safe
    * under any partition interleaving. */
  def rxDrawdown(events: DataFrame): DataFrame = {
    val big = DecimalType(38, 0)
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col("user_id"), col("event_id"),
        (dec(col("value")) * 100).cast(big).as("cents"))
      .withColumn("peak", max("cents").over(cum).cast(big))
      .withColumn("dd", col("peak") - col("cents"))
      .withColumn("dd_ppm",
        expr("CASE WHEN peak > 0 THEN dd * 1000000 div peak END"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        max("cents").cast("long").as("peak_cents"),
        expr("max_by(cents, event_id)").cast("long").as("final_cents"),
        max("dd").cast("long").as("max_dd_cents"),
        max("dd_ppm").cast("long").as("max_dd_ppm"))
  }

  /** Local-maximum (peak) detection per key: points strictly above
    * their predecessor and at-or-above their successor in event_id
    * order — the strict-left / non-strict-right rule makes every
    * plateau contribute exactly its FIRST point, so the peak set is
    * deterministic under ties. Series endpoints need both neighbors
    * and are excluded by definition. Emits the rise/drop flanks in
    * exact BIGINT cents (a consumer thresholds prominence on them —
    * e.g. `rise >= 500` = alert-grade spikes). One lag + one lead on
    * the shared user_id window partitioning; pure integer
    * comparisons, no shuffle beyond the per-key one every Rx
    * operator shares. */
  def rxPeaks(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), col("event_id"),
        (dec(col("value")) * 100).cast("long").as("cents"))
      .withColumn("prev", lag("cents", 1).over(byUser))
      .withColumn("next", lead("cents", 1).over(byUser))
      .filter(col("prev").isNotNull && col("next").isNotNull &&
        col("cents") > col("prev") && col("cents") >= col("next"))
      .select(col("user_id"), col("event_id"), col("cents"),
        (col("cents") - col("prev")).as("rise_cents"),
        (col("cents") - col("next")).as("drop_cents"))

  /** Hysteresis (Schmitt-trigger) alert latching per key: the alert
    * turns ON when the value crosses `hiCents` from below and OFF
    * only when it falls to `loCents` — the two-threshold latch that
    * kills the flapping a single-threshold alert produces when the
    * series oscillates around the line. The latch is a running
    * last-non-null over the crossing events (a window, not a fold —
    * each row's state depends only on the most recent crossing, so
    * no sequential scan is needed), keys start OFF, and only the
    * TRANSITIONS emit — the alert feed, not a per-event echo.
    * Integer cents end to end; one user_id exchange shared by both
    * windows. */
  def rxHysteresis(events: DataFrame, hiCents: Long = 10000L,
                   loCents: Long = 5000L): DataFrame = {
    require(loCents < hiCents, "hysteresis needs lo < hi")
    events
      .select(col("user_id"), col("event_id"),
        (dec(col("value")) * 100).cast("long").as("cents"))
      .withColumn("crossing",
        when(col("cents") >= hiCents, lit("on"))
          .when(col("cents") <= loCents, lit("off")))
      .withColumn("state", coalesce(
        last(col("crossing"), ignoreNulls = true).over(
          byUser.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)), lit("off")))
      .withColumn("prev_state", coalesce(
        lag(col("state"), 1).over(byUser), lit("off")))
      .filter(col("state") =!= col("prev_state"))
      .select(col("user_id"), col("event_id"), col("cents"),
        col("state"))
  }

  /** The (event_type, value)-grouped two-arm count frame shared by
    * the nonparametric tests ([[rxMannWhitney]], [[rxKsTest]]): arm
    * A/B by the md5 user split (the [[rxAbTest]] convention —
    * deterministic, engine-re-derivable), one partial-aggregable
    * collapse to DISTINCT VALUE BLOCKS per event_type. Everything
    * downstream runs on the block frame — bounded by the value
    * domain per type, not the event count — under a per-type
    * (PARTITIONED) window. */
  private def armValueBlocks(events: DataFrame): DataFrame = events
    .select(col("event_type"), col("value"),
      when(expr("instr('01234567', " +
        "substr(md5(cast(user_id AS string)), 1, 1))") > 0, 1L)
        .otherwise(0L).as("isa"))
    .groupBy("event_type", "value")
    .agg(sum("isa").as("ca"), count(lit(1)).as("c"))

  /** Mann–Whitney U (Wilcoxon rank-sum) per event type between the
    * md5 A/B arms — the NONPARAMETRIC sibling of [[rxAbTest]]'s
    * means: does arm A's value distribution stochastically dominate
    * arm B's, with the rank-biserial correlation as the effect
    * size. All-integer by DOUBLED ranks: a tied block of size t
    * after `cb` predecessors has average rank cb + (t+1)/2, so its
    * doubled rank 2·cb + t + 1 is exact in integers; U₁ = R₁ −
    * n₁(n₁+1)/2 doubles to u1_x2 = Σ ca·(2·cb + t + 1) − n₁(n₁+1),
    * and rank-biserial (2U₁/(n₁n₂) − 1) lands in integral ppm via
    * the div-truncation contract. One shuffle (the block collapse);
    * the rank window is per-type PARTITIONED; the final rollup
    * partial-aggregates. */
  def rxMannWhitney(events: DataFrame): DataFrame = {
    val byTypeVal = Window.partitionBy("event_type").orderBy("value")
    armValueBlocks(events)
      .withColumn("cb", coalesce(sum("c").over(
        byTypeVal.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .groupBy("event_type")
      .agg(sum("ca").as("n1"), sum(col("c") - col("ca")).as("n2"),
        sum(col("ca") * (lit(2L) * col("cb") + col("c") + lit(1L)))
          .as("r1x2"))
      .select(col("event_type"), col("n1"), col("n2"),
        (col("r1x2") - col("n1") * (col("n1") + 1L)).as("u1_x2"),
        expr("(r1x2 - n1 * (n1 + 1) - n1 * n2) * 1000000 " +
          "div (n1 * n2)").as("rank_biserial_ppm"))
  }

  /** Two-sample Kolmogorov–Smirnov D per event type between the md5
    * A/B arms — the distribution-shape test next to
    * [[rxMannWhitney]]'s location shift (KS sees variance/shape
    * differences a rank-sum misses). D = max over the value axis of
    * |ECDF_A − ECDF_B|, computed exactly on cross-multiplied
    * integers: |cumA·n₂ − cumB·n₁| max'd per type, reported in
    * integral ppm of n₁·n₂. Same one-shuffle block frame and
    * per-type partitioned cumulative window as the U test. */
  def rxKsTest(events: DataFrame): DataFrame = {
    val byTypeVal = Window.partitionBy("event_type").orderBy("value")
    val byType = Window.partitionBy("event_type")
    armValueBlocks(events)
      .withColumn("cuma", sum("ca").over(
        byTypeVal.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .withColumn("cumc", sum("c").over(
        byTypeVal.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .withColumn("n1", sum("ca").over(byType))
      .withColumn("n2", sum("c").over(byType) - col("n1"))
      .withColumn("dn", abs(col("cuma") * col("n2") -
        (col("cumc") - col("cuma")) * col("n1")))
      .groupBy("event_type")
      .agg(max("n1").as("n1"), max("n2").as("n2"),
        max("dn").as("d_num"))
      .select(col("event_type"), col("n1"), col("n2"),
        expr("d_num * 1000000 div (n1 * n2)").as("d_ppm"))
  }
}
