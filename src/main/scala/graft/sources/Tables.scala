package graft.sources

import java.io.FileNotFoundException

import graft.operators.FrameCache
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Typed access to the driver-generated parquet tables.
  *
  * All loaders return lazy plans; column pruning and predicate
  * pushdown happen in Catalyst, so callers should `select`/`filter`
  * on the result rather than asking for trimmed variants here.
  *
  * Every load passes the table's schema to the reader explicitly.
  * Without one, Spark infers it on each `read.parquet` by running a
  * one-task job that reads a footer; the registry loads its tables
  * again for every query, so a warm pass paid that job once per table
  * per key (11 of the 22 plan-build jobs in a traced `curation_mix`
  * warm pass on a 4-core host). [[parquetSchema]] runs Spark's own inference once and
  * memoizes the result in [[FrameCache.scalar]], which
  * `FrameCache.invalidateAll` clears. The relation, the file listing,
  * pruning and pushdown are the same as without a schema. The memo
  * key covers everything the inference reads:
  *   - the path and each leaf file under it, with its length and
  *     modification time, so a rewritten file or a Spark-written
  *     directory whose part files change is inferred again;
  *   - the reader options (`pathGlobFilter`, …);
  *   - the session settings that change the inferred types:
  *     `spark.sql.parquet.*`, `spark.sql.legacy.parquet.*` and
  *     partition-column type inference.
  * The file statuses come from `getFileStatus`/`listStatus` and only
  * their length and modification time are read: the owner and
  * permission fields that `listFiles` fills in fork `ls` on a local
  * file system without libhadoop.
  */
object Tables {
  // TPC-H-ish star schema
  case class Region(r_regionkey: Int, r_name: String)
  case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
  case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
                      c_acctbal: Double, c_mktsegment: String)
  case class Supplier(s_suppkey: Long, s_name: String, s_nationkey: Int,
                      s_acctbal: Double)
  case class Part(p_partkey: Long, p_name: String, p_brand: String,
                  p_type: String, p_size: Int, p_retailprice: Double)
  case class Orders(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
                    o_totalprice: Double, o_orderdate: java.sql.Timestamp,
                    o_orderpriority: String)
  case class Lineitem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
                      l_linenumber: Int, l_quantity: Double,
                      l_extendedprice: Double, l_discount: Double,
                      l_tax: Double, l_returnflag: String,
                      l_linestatus: String, l_shipdate: java.sql.Timestamp)
  /** The canonical "observable": keyed (user_id), timestamped event stream. */
  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double, props: String)
  case class Document(doc_id: Long, text: String, lang: String,
                      source: String, n_chars: Long)
  case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(parquetSchema(spark, path)).parquet(path)
  }

  /** The schema `spark.read.options(options).parquet(path)` infers,
    * inferred once per memo key (see the scaladoc above). A path that
    * does not exist as written (missing, or a glob) is not memoized:
    * Spark infers on every call and raises its own errors. */
  def parquetSchema(spark: SparkSession, path: String,
                    options: Map[String, String] = Map.empty): StructType = {
    def infer = spark.read.options(options).parquet(path).schema
    leafFiles(spark, path) match {
      case None => infer
      case Some(files) =>
        val confs = spark.conf.getAll.filter { case (k, _) =>
          k.startsWith("spark.sql.parquet.") ||
            k.startsWith("spark.sql.legacy.parquet.") ||
            k == "spark.sql.sources.partitionColumnTypeInference.enabled"
        }
        val key = Seq(path, options.toSeq.sorted.mkString(","),
          confs.toSeq.sorted.mkString(","), files).mkString("parquetSchema|", "|", "")
        FrameCache.scalar(key)(infer)
    }
  }

  /** `path:length:mtime` of every file under `path`, in name order;
    * None when `path` does not exist. */
  private def leafFiles(spark: SparkSession, path: String): Option[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def walk(st: FileStatus): Seq[String] =
      if (st.isDirectory)
        fs.listStatus(st.getPath).sortBy(_.getPath.getName).toSeq.flatMap(walk)
      else Seq(s"${st.getPath}:${st.getLen}:${st.getModificationTime}")
    try Some(walk(fs.getFileStatus(p)).mkString(","))
    catch { case _: FileNotFoundException => None }
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.parquet has shipped in two encodings across testdata
    * generations: `ts` as a native us-precision timestamp, and `ts`
    * as ns-precision (which Spark 4 surfaces as a raw-nanos LONG
    * under `spark.sql.legacy.parquet.nanosAsLong=true`, set by
    * GraftSession at construction). Sniff the loaded schema and
    * normalize both to the engine's native us timestamp — integer
    * `div`, no double rounding, so the legacy path floors exactly. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, timestamp_micros, expr}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      // NTZ → session-TZ timestamp: the engine standardizes on
      // TimestampType (unix_millis etc. require it); session TZ is
      // UTC so the wall-clock values are unchanged.
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  // Typed surface: Dataset[T] with case-class Encoders for callers
  // that want compile-time row types (the DataFrame loaders stay the
  // engine-internal path — schema-dynamic operators don't pay the
  // per-row serialization a typed map would add).
  import org.apache.spark.sql.Dataset
  def eventsDs(s: SparkSession, d: String): Dataset[Event] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[Event]
    events(s, d).as[Event]
  }
  def lineitemDs(s: SparkSession, d: String): Dataset[Lineitem] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[Lineitem]
    lineitem(s, d).as[Lineitem]
  }
  def ordersDs(s: SparkSession, d: String): Dataset[Orders] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[Orders]
    orders(s, d).as[Orders]
  }
  def documentsDs(s: SparkSession, d: String): Dataset[Document] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[Document]
    documents(s, d).as[Document]
  }
  def embeddingsDs(s: SparkSession, d: String): Dataset[Embedding] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[Embedding]
    embeddings(s, d).as[Embedding]
  }
}
