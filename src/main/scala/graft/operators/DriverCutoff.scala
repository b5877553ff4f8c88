package graft.operators

import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The shared DRIVER-MATERIALIZATION budget behind every
  * size-adaptive graph/dedup operator — cutoffs are BYTES, not a
  * per-op magic row count.
  *
  * The r11 cosource incident is the motivating measurement: the
  * union-find family shipped with a uniform 2M-row cutoff chosen
  * for (long, long) arc frames, and the co-sourcing PROJECTION —
  * the same 16-byte row shape — landed at 4.25M edges at sf10, just
  * past it, sending a seconds-scale union-find onto ~20 min of
  * GC-pressured distributed label rounds. The row count was never
  * the invariant; the driver's memory is. Deriving each op's cutoff
  * as budget ÷ documented-row-width makes the next
  * projection-shaped frame inherit the right bound instead of
  * needing its own incident.
  *
  * Budget: 128 MiB of PACKED row payload, a constant. The collected
  * Row objects transiently cost a few× that on the driver heap
  * (boxing + object headers): a 48 GiB driver absorbs it, while the
  * benchmark runs a 4 GB heap with this same budget. Sizing the
  * budget from the driver heap belongs to the planner-node route
  * decision (ROADMAP item 4), which replaces [[collectUnder]]; until
  * then nothing sets it. Above the cutoff every operator runs its
  * distributed loop unchanged — outputs are spec-pinned byte-equal
  * across the boundary (Round12Spec, Round13Spec), so the cutoff is
  * pure execution policy.
  */
object DriverCutoff {
  val budgetBytes: Long = 128L << 20

  /** Rows of `rowBytes`-wide packed payload inside the budget. */
  def rows(rowBytes: Long): Long = budgetBytes / rowBytes

  /** (long, long) id-pair frames: dedup/cosource union-find edges,
    * SCC/topo arc + condensation frames, landmark BFS arcs. */
  val pairRows: Long = rows(16)

  /** (long, long, long) weighted-arc frames: SSSP's (a, b, cost). */
  val weightedArcRows: Long = rows(24)

  /** TIME crossover (not a memory bound) for FIXED-ROUND driver
    * twins over the un-thresholded bipartite pair frame (k-core
    * peel, HITS, BFS): their distributed cost is a fixed handful of
    * per-round jobs while the driver cost is the collect itself, so
    * past a few million rows the collect loses even though it fits
    * the byte budget comfortably. Measured (sf0.1 → sf1, quiet
    * host): 0.59M pairs — driver 0.6–1.3 s vs distributed 1.7–2.5 s;
    * 5.5M pairs — driver 5.8–8.1 s vs distributed 4.9–6.7 s. The
    * crossover sits ≈2M pairs; iterative ops over THRESHOLDED arc
    * frames (the key-level family, ≤ tens of k rows at sf10) keep
    * the plain byte budget. */
  val bipartiteCollectRows: Long = math.min(2000000L, pairRows)

  /** The route gate of every size-adaptive Graph/Dedup operator:
    * `frame`'s rows when it has at most `maxRows` of them (the
    * operator then runs its driver twin over them), else None (it
    * runs its distributed loop). Callers fold any extra bound into
    * `maxRows`, e.g. an exactness cap. Two jobs, a count and then a
    * collect: a one-job `limit(maxRows + 1).collect()` is not
    * cheaper over a multi-partition frame, because Spark's
    * `executeTake` scans 1 partition and then 4× more per job. */
  def collectUnder(frame: DataFrame, maxRows: Long): Option[Array[Row]] =
    if (frame.count() <= maxRows) Some(frame.collect()) else None

  /** A driver twin's result `rows` as a frame of columns `cols`,
    * parallelized rather than a LocalRelation: a LocalRelation
    * encodes every row on the driver per execution (~60 s of the
    * 890k-node sf10 SCC pass), an RDD of tuples converts on the
    * executors. */
  private[operators] def twinFrame[T <: Product : ClassTag : TypeTag](
      spark: SparkSession, rows: Seq[T], cols: String*): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(rows, 32).toDF(cols: _*)
  }
}
