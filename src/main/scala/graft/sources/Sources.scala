package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Observable-creation surface, Spark-first: the reference builds
  * streams from collections, timers, and files; here those are
  * bounded DataFrames, rate sources, and (streaming) file sources.
  * All return lazy plans.
  */
object Sources {
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Rx `Observable.from(iterable)`: a bounded in-memory stream. */
  def fromSeq(spark: SparkSession, rows: Seq[Tables.Event]): DataFrame = {
    import spark.implicits._
    rows.toDF()
  }

  /** Rx `Observable.interval(period)`: unbounded tick stream
    * (Structured Streaming rate source; event_id = tick number). */
  def interval(spark: SparkSession, ticksPerSecond: Int = 10): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", ticksPerSecond.toString).load()
      .select(col("value").as("event_id"), col("timestamp").as("ts"))

  /** Rx `range(start, n)`: distributed bounded sequence (no driver
    * materialization; Spark's range is generated per-partition). */
  def range(spark: SparkSession, start: Long, n: Long): DataFrame =
    spark.range(start, start + n).select(col("id").as("event_id"))

  /** File-backed stream of events: the same parquet directory is
    * readable bounded (batch) or unbounded (file-source streaming,
    * one micro-batch per discovered file). */
  def eventStream(spark: SparkSession, dir: String): DataFrame = {
    // The streaming file source needs a declared schema; probe the
    // batch footer to learn which ts encoding this testdata
    // generation uses — native us timestamp, or legacy ns surfaced as
    // LONG under spark.sql.legacy.parquet.nanosAsLong (set by
    // GraftSession). Memoized per file listing (Tables.parquetSchema),
    // so replaying the same directory probes once.
    val fileSchema = Tables.parquetSchema(spark, dir,
      Map("pathGlobFilter" -> "events.parquet"))
    val tsIsLong = fileSchema("ts").dataType == LongType
    val stream = spark.readStream.schema(fileSchema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    if (tsIsLong) stream.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else stream.withColumn("ts", col("ts").cast(TimestampType))
  }

  /** CSV/JSON ingest with explicit schema (schema inference is a
    * full extra pass at 100 TB — never rely on it). */
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  def json(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)
}
