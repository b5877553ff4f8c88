package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.CaseMapExpr
import graft.operators.FrameCache
import graft.sources.{Sources, Tables}

/** Parquet inputs are read with a schema inferred once per memo key
  * (`Tables.parquetSchema`), and `lower`/`upper` run without Spark's
  * ICU title-case table (`CaseMapRule`). */
class InputSchemaSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  private val sf01 = new File(new File(sf).getParent, "sf0.01").getPath
  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    ListenerBusBridge.drain(sc)
    sc.addSparkListener(l)
    try { body; ListenerBusBridge.drain(sc) }
    finally sc.removeSparkListener(l)
    n.get
  }

  private def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(bit_xor(xxhash64(df.columns.map(col).toSeq: _*)),
      count(lit(1))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def tempDir(): File = Files.createTempDirectory("graft-schema").toFile

  test("Tables loads every table with the schema and digest of " +
      "spark.read.parquet, nanosAsLong on and off") {
    for (nanos <- Seq("true", "false"))
      withConf("spark.sql.legacy.parquet.nanosAsLong", nanos) {
        FrameCache.invalidateAll(spark)
        tables.foreach { t =>
          val ours = Tables.load(spark, sf01, t)
          val theirs = spark.read.parquet(s"$sf01/$t.parquet")
          assert(ours.schema === theirs.schema, s"$t, nanosAsLong=$nanos")
          assert(digest(ours) === digest(theirs), s"$t, nanosAsLong=$nanos")
        }
      }
    FrameCache.invalidateAll(spark)
  }

  test("a memoized table load starts no Spark job; after " +
      "invalidateAll the next load infers once") {
    FrameCache.invalidateAll(spark)
    Tables.lineitem(spark, sf01).schema
    assert(jobsDuring(Tables.lineitem(spark, sf01).schema) === 0)
    FrameCache.invalidateAll(spark)
    assert(jobsDuring(Tables.lineitem(spark, sf01).schema) === 1)
    FrameCache.invalidateAll(spark)
  }

  test("an overwritten table directory with a new schema is inferred again") {
    val dir = tempDir()
    Seq((1L, "a")).toDF("k", "v").write.mode("overwrite")
      .parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir.getPath, "t").columns.toSeq === Seq("k", "v"))
    Seq((1L, 2.0, 3)).toDF("k", "x", "y").write.mode("overwrite")
      .parquet(s"$dir/t.parquet")
    val again = Tables.load(spark, dir.getPath, "t")
    assert(again.columns.toSeq === Seq("k", "x", "y"))
    assert(again.count() === 1)
  }

  test("a single file rewritten with a new length is inferred again, " +
      "even with its old modification time") {
    val dir = tempDir()
    val file = new File(dir, "t.parquet")
    def writeSingle(df: DataFrame): Unit = {
      val out = new File(dir, "out")
      df.coalesce(1).write.mode("overwrite").parquet(out.getPath)
      val part = out.listFiles().find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, file.toPath, StandardCopyOption.REPLACE_EXISTING)
    }
    writeSingle(Seq((1L, "a")).toDF("k", "v"))
    val mtime = file.lastModified()
    assert(Tables.load(spark, dir.getPath, "t").columns.toSeq === Seq("k", "v"))
    val len = file.length()
    writeSingle(Seq((1L, "a", 2.5)).toDF("k", "v", "w"))
    assert(file.setLastModified(mtime))
    assert(file.length() != len)
    assert(Tables.load(spark, dir.getPath, "t").columns.toSeq ===
      Seq("k", "v", "w"))
  }

  test("a changed parquet setting is inferred again") {
    val dir = tempDir()
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    Seq((2L, 2.5)).toDF("k", "w").write.mode("append")
      .parquet(s"$dir/t.parquet")
    def width = Tables.load(spark, dir.getPath, "t").columns.length
    assert(width === 2)
    withConf("spark.sql.parquet.mergeSchema", "true") {
      assert(width === 3)
    }
    assert(width === 2)
  }

  test("two eventStream calls on one directory run one schema probe") {
    FrameCache.invalidateAll(spark)
    val jobs = jobsDuring {
      Sources.eventStream(spark, sf01)
      Sources.eventStream(spark, sf01)
    }
    assert(jobs === 1)
    FrameCache.invalidateAll(spark)
  }

  /** `lower` and `upper` of every string in `corpus` as bytes, and
    * whether the optimized plan used [[CaseMapExpr]]. */
  private def caseMapped(corpus: DataFrame): (Seq[Seq[Option[String]]], Boolean) = {
    val q = corpus.select(col("id"),
      hex(lower(col("s")).cast(BinaryType)), hex(upper(col("s")).cast(BinaryType)))
      .orderBy("id")
    val rows = q.collect().toSeq
      .map(r => Seq(1, 2).map(i => Option(r.getString(i))))
    val graft = q.queryExecution.optimizedPlan.exists(
      _.expressions.exists(_.exists(_.isInstanceOf[CaseMapExpr])))
    (rows, graft)
  }

  test("lower/upper under ICU case mappings equal Spark's on a mixed corpus") {
    val texts: Seq[Array[Byte]] = Seq("Hello, World 123", "Straße",
      "ΟΔΟΣ ΚΑΙ Σ", "İstanbul ıi", "Привет МИР", "漢字かなカナ",
      "emoji 😀 ǅ ﬀ",
      // Unicode 14 letters: ICU maps their case, the JDK 17 tables do not
      "Ꟁ ꟁ Ⱟ ⱟ Ꟑ ꟑ", "").map(_.getBytes("UTF-8")) ++
      Seq(Array[Byte](0x41, 0xC3.toByte, 0x28, 0xFF.toByte, 0x62), null)
    // from an RDD, not a local relation, which the optimizer would
    // evaluate before any extension rule runs
    val corpus = spark.sparkContext.parallelize(texts.zipWithIndex, 2)
      .toDF("b", "id").select(col("id"), col("b").cast(StringType).as("s"))
    withConf("spark.sql.icu.caseMappings.enabled", "true") {
      val (ours, rewritten) = caseMapped(corpus)
      val (spark41, kept) = withConf("spark.sql.optimizer.excludedRules",
        "graft.plans.CaseMapRule")(caseMapped(corpus))
      assert(rewritten && !kept)
      assert(ours === spark41)
      assert(ours.count(_.forall(_.isEmpty)) === 1, "the null row")
    }
    withConf("spark.sql.icu.caseMappings.enabled", "false") {
      assert(!caseMapped(corpus)._2, "without ICU mappings Spark's stay")
    }
  }
}
