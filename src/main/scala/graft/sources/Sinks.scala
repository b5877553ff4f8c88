package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Subscription surface (Rx `subscribe`/observers), Spark-first:
  * batch writers with layout control and streaming sinks.
  *
  * Scale notes: `partitionBy` columns become directory partitions —
  * choose low-cardinality keys (date, event_type), never user_id;
  * `maxRecordsPerFile` bounds file sizes; sorting within partitions
  * gives min/max zone-map pruning for downstream readers.
  */
object Sinks {
  /** Parquet with directory partitioning + bounded file sizes. */
  def parquet(df: DataFrame, path: String, partitionCols: Seq[String] = Nil,
              maxRecordsPerFile: Long = 5000000L): Unit = {
    val w = df.write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(path)
  }

  /** Bucketed managed table: co-locates rows by key so later joins
    * and aggregations on that key need NO shuffle at all — the
    * pre-partitioning that makes repeated fact-fact joins viable at
    * 100 TB (pay one shuffle at write time, never again). */
  def bucketedTable(df: DataFrame, table: String, bucketCol: String,
                    buckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
      .bucketBy(buckets, bucketCol)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet").saveAsTable(table)
  }

  /** Range-clustered parquet layout: rows are range-partitioned on
    * the cluster columns and sorted within each file, so every file
    * covers a disjoint slice of the key space. Parquet's row-group
    * min/max statistics then prune whole files for any range or
    * point predicate on those columns — at 100 TB this is the
    * difference between scanning one file and scanning a thousand.
    * (The write costs one range-exchange; `numFiles` sizes the
    * output so each file is one big sorted run.) */
  def clusteredParquet(df: DataFrame, path: String,
                       clusterCols: Seq[String], numFiles: Int): Unit =
    df.repartitionByRange(numFiles,
        clusterCols.map(org.apache.spark.sql.functions.col): _*)
      .sortWithinPartitions(
        clusterCols.map(org.apache.spark.sql.functions.col): _*)
      .write.mode("overwrite").parquet(path)

  /** Z-order (Morton) clustered layout: interleave the bits of TWO
    * key columns and range-cluster on the interleaved value, so
    * files stay selective for predicates on EITHER column — the
    * multi-dimensional generalization of [[clusteredParquet]]
    * (which serves its first column perfectly and its second not at
    * all). Numeric keys are min/max-normalized to 16-bit ordinals
    * from one broadcast stats row — never a global rank, which would
    * be a single-task sort (heavily skewed domains would want
    * percentile-edge normalization instead, same plan shape).
    *
    * The interleave is pure bit arithmetic on codegen'd expressions
    * (no UDF); the write costs the same single range-exchange as any
    * clustered layout. */
  def zorderParquet(df: DataFrame, path: String, colA: String,
                    colB: String, numFiles: Int): Unit = {
    import org.apache.spark.sql.functions._
    val stats = df.agg(
      min(col(colA)).cast("double").as("_amin"),
      max(col(colA)).cast("double").as("_amax"),
      min(col(colB)).cast("double").as("_bmin"),
      max(col(colB)).cast("double").as("_bmax"))
    def ordinal(c: String, lo: String, hi: String) =
      when(col(hi) === col(lo), lit(0L))
        .otherwise(((col(c).cast("double") - col(lo)) /
          (col(hi) - col(lo)) * 65535).cast("long"))
    // spread one 16-bit ordinal's bits to even positions (classic
    // bit-twiddle, expressed over BIGINT masks)
    def spread(c: org.apache.spark.sql.Column) = {
      val s1 = (c.bitwiseOR(shiftleft(c, 8))).bitwiseAND(lit(0x00FF00FFL))
      val s2 = (s1.bitwiseOR(shiftleft(s1, 4))).bitwiseAND(lit(0x0F0F0F0FL))
      val s3 = (s2.bitwiseOR(shiftleft(s2, 2))).bitwiseAND(lit(0x33333333L))
      (s3.bitwiseOR(shiftleft(s3, 1))).bitwiseAND(lit(0x55555555L))
    }
    df.crossJoin(broadcast(stats))
      .withColumn("_za", ordinal(colA, "_amin", "_amax"))
      .withColumn("_zb", ordinal(colB, "_bmin", "_bmax"))
      .withColumn("_z", spread(col("_za"))
        .bitwiseOR(shiftleft(spread(col("_zb")), 1)))
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_za", "_zb", "_z", "_amin", "_amax", "_bmin", "_bmax")
      .write.mode("overwrite").parquet(path)
  }

  def csv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  def json(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** ORC interchange (columnar alternative to parquet; same
    * predicate-pushdown / column-pruning behavior at the scan). */
  def orc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Rx `subscribe(onNext)`: per-micro-batch callback with exactly
    * the batch DataFrame + batch id (foreachBatch). */
  def subscribe(df: DataFrame, name: String)
               (onBatch: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream.outputMode("append").queryName(name)
      .foreachBatch(onBatch).start()

  /** Rx `doOnNext`-style observability: named aggregate metrics that
    * accumulate on the executors DURING the job that computes the
    * result (CollectMetrics node — no second pass over the data,
    * which at 100 TB is the difference between free telemetry and a
    * doubled pipeline). Trigger any action on the returned frame,
    * then read `observation.get`. */
  def withMetrics(df: DataFrame, name: String,
                  metrics: (String, org.apache.spark.sql.Column)*)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = new org.apache.spark.sql.Observation(name)
    val cols = metrics.map { case (n, c) => c.as(n) }
    (df.observe(obs, cols.head, cols.tail: _*), obs)
  }
}
