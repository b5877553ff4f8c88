package graft

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}

import graft.functions.GraftFunctions._
import graft.functions.KmvSketch.kmv_distinct
import graft.sources.Tables

/** SQL surface of the engine: registers the custom Catalyst
  * expressions in the session FunctionRegistry and the star-schema
  * tables as temp views, so every capability is reachable from
  * `spark.sql(...)` as well as the DataFrame API.
  */
object GraftSql {
  /** Register graft's custom functions for SQL use (idempotent). Each
    * name calls the DataFrame function of the same name. */
  def registerFunctions(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def register(name: String)(build: Seq[Column] => Column): Unit =
      reg.createOrReplaceTempFunction(name,
        es => GraftColumnBridge.expression(
          build(es.map(GraftColumnBridge.column))), "scala_udf")
    register("simhash64")(cs => simhash64(cs(0)))
    register("cosine_sim")(cs => cosine_sim(cs(0), cs(1)))
    register("dot_product")(cs => dot_product(cs(0), cs(1)))
    register("rhp_lsh")(cs => rhp_lsh(cs(0), intArg(cs(1))))
    register("minhash_bands")(cs =>
      minhash_bands(cs(0), intArg(cs(1)), intArg(cs(2))))
    register("text_shingles")(cs => text_shingles(cs(0), intArg(cs(1))))
    // md5 ("auditable") hash family — buckets/signatures re-derivable
    // in any engine with md5(); the cross-engine oracle family
    register("md5_simhash60")(cs => md5_simhash60(cs(0)))
    register("md5_rhp_lsh")(cs => md5_rhp_lsh(cs(0), intArg(cs(1))))
    register("md5_minhash_bands")(cs =>
      md5_minhash_bands(cs(0), intArg(cs(1)), intArg(cs(2))))
    register("cosine_argmax")(cs => cosine_argmax(cs(0), cs(1)))
    register("quantize_audit")(cs => quantize_audit(cs(0)))
    register("l2_argmin")(cs => l2_argmin(cs(0), cs(1)))
    register("sorted_jaccard")(cs => sorted_jaccard(cs(0), cs(1)))
    register("sorted_jaccard_long")(cs => sorted_jaccard_long(cs(0), cs(1)))
    // aggregate: mergeable KMV distinct sketch over a BIGINT hash
    register("kmv_distinct")(cs => kmv_distinct(cs(0), intArg(cs(1))))
  }

  private def intArg(c: Column): Int =
    GraftColumnBridge.expression(c).eval(null) match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"literal int expected, got $other")
    }

  /** Register every test-data table as a temp view over `dir`. */
  def registerTables(spark: SparkSession, dir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
    Tables.events(spark, dir).createOrReplaceTempView("events")
  }

  /** One-call setup: functions + views, then free-form SQL. */
  def sql(spark: SparkSession, dir: String, query: String): DataFrame = {
    registerFunctions(spark)
    registerTables(spark, dir)
    spark.sql(query)
  }
}
