package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions._

final case class KernelCent(centroid_id: Long, c_emb: Seq[Float])
final case class KernelRow(id: Long, toks: Seq[String], text: String,
                           a: Seq[Float], b: Seq[Float],
                           sa: Seq[String], sb: Seq[String],
                           la: Seq[Long], lb: Seq[Long],
                           xs: Seq[Double], cents: Seq[KernelCent])

/** One call of each kernel column function over [[KernelCases.input]]:
  * `name` is the function, `method` the [[graft.functions.Kernels]]
  * method it calls, `sql` the same call through the SQL name when the
  * function is registered in [[GraftSql]]. */
final case class KernelCase(name: String, method: String, column: Column,
                            sql: Option[String])

object KernelCases {
  private val cents = Seq(KernelCent(1L, Seq(1f, 0f, 0f, 0f)),
    KernelCent(2L, Seq(0f, 1f, 0f, 0f)), KernelCent(3L, Seq(0f, 0f, 1f, 0.5f)))

  /** An ordinary row, an edge row (too few tokens to shingle, empty
    * text and sets, a zero vector, a constant series), an all-NULL row
    * and a non-ASCII row, read through an RDD scan so a projection
    * over it is planned rather than folded into a local relation. */
  def input(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(Seq(
      KernelRow(1L, "the quick brown fox jumps over the lazy dog".split(" ").toSeq,
        "the quick brown fox jumps over the lazy dog and a long tail of text",
        Seq(0.5f, -1.5f, 2.5f, 0.1f), Seq(1f, 2f, 3f, 4f),
        Seq("a", "b", "c"), Seq("b", "c", "d"), Seq(1L, 3L, 5L), Seq(3L, 5L, 7L),
        Seq(1.0, 2.0, 4.0, 8.0, 3.0), cents),
      KernelRow(2L, Seq("x", "y"), "", Seq(0f, 0f, 0f, 0f), Seq(1f, 1f, 1f, 1f),
        Nil, Nil, Nil, Nil, Seq(2.0, 2.0, 2.0, 2.0, 2.0), cents),
      KernelRow(3L, null, null, null, null, null, null, null, null, null, null),
      KernelRow(4L, Seq("naïve", "café", "日本語", "テキスト", "naïve"),
        "naïve café — 日本語のテキスト, ünïcödé all the way down",
        Seq(-0.25f, 0.75f, -3f, 1e-3f), Seq(2f, -1f, 0.5f, 0f),
        Seq("café", "naïve"), Seq("naïve"), Seq(-2L, 9L), Seq(-2L),
        Seq(0.5, -1.5, 7.25, 3.0, -2.0), cents.reverse)
    ), 2).toDF()
  }

  private val mu = Array(0.1, 0.2, 0.3, 0.4)
  private val axis = Array(1.0, -1.0, 0.5, 0.25)
  private val pattern = Array(1.0, 3.0, 2.0, 5.0, 4.0)

  def all: Seq[KernelCase] = {
    def c(name: String, method: String, column: Column,
          sql: String = null) = KernelCase(name, method, column, Option(sql))
    val toks = col("toks")
    val (a, b, cs) = (col("a"), col("b"), col("cents"))
    Seq(
      c("simhash64", "simhash64", simhash64(toks), "simhash64(toks)"),
      c("cosine_sim", "cosine", cosine_sim(a, b), "cosine_sim(a, b)"),
      c("dot_product", "dot", dot_product(a, b), "dot_product(a, b)"),
      c("rhp_lsh", "rhpBits", rhp_lsh(a, 8), "rhp_lsh(a, 8)"),
      c("minhash_bands", "minhashBands",
        minhash_bands(text_shingles(toks, 2), 4, 2),
        "minhash_bands(text_shingles(toks, 2), 4, 2)"),
      c("text_shingles", "shingles", text_shingles(toks, 2),
        "text_shingles(toks, 2)"),
      c("cdc_gear_cuts", "cdcGearCuts", cdc_gear_cuts(col("text"), 4, 2)),
      c("cdc_md5_cuts", "cdcMd5Cuts", cdc_md5_cuts(col("text"), 3, 4, 2)),
      c("sorted_jaccard", "sortedJaccard",
        sorted_jaccard(col("sa"), col("sb")), "sorted_jaccard(sa, sb)"),
      c("sorted_jaccard_long", "sortedJaccardLong",
        sorted_jaccard_long(col("la"), col("lb")),
        "sorted_jaccard_long(la, lb)"),
      c("power_contrib", "centeredPowerContrib", power_contrib(a, mu, axis)),
      c("centered_dot", "centeredDot", centered_dot(a, mu, axis)),
      c("zn_dist", "znDist", zn_dist(col("xs"), pattern)),
      c("md5_minhash_bands", "md5MinhashBands",
        md5_minhash_bands(text_shingles(toks, 2), 4, 2),
        "md5_minhash_bands(text_shingles(toks, 2), 4, 2)"),
      c("md5_simhash60", "md5Simhash60", md5_simhash60(toks),
        "md5_simhash60(toks)"),
      c("md5_rhp_lsh", "md5RhpBits", md5_rhp_lsh(a, 6), "md5_rhp_lsh(a, 6)"),
      c("cosine_argmax", "cosineArgmax", cosine_argmax(a, cs),
        "cosine_argmax(a, cents)"),
      c("cosine_top_r", "cosineTopR", cosine_top_r(a, cs, 2)),
      c("l2_argmin", "l2Argmin", l2_argmin(a, cs), "l2_argmin(a, cents)"),
      c("quantize_audit", "quantAudit", quantize_audit(a),
        "quantize_audit(a)"),
      c("quantize_nonzero", "quantNonzero", quantize_nonzero(a)))
  }
}

/** The kernel functions are `StaticInvoke`s, which resolve their
  * `Kernels` method by reflection only when evaluated without codegen
  * — so a signature mismatch would pass every codegen'd test. This
  * spec runs each function both ways, and through its SQL name. */
class KernelModesSpec extends AnyFunSuite {
  import TestSession._

  private def withConf[T](kvs: (String, String)*)(f: => T): T = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** (rows sorted by id, executed plan text) */
  private def run(df: DataFrame): (Seq[Row], String) = {
    val rows = df.collect().toSeq.sortBy(_.getLong(0))
    (rows, df.queryExecution.executedPlan.toString)
  }

  test("every kernel function gives the same rows interpreted as codegen'd") {
    val cases = KernelCases.all
    assert(cases.map(_.name).distinct.size === 21)
    for (k <- cases) {
      def query = KernelCases.input(spark).select(col("id"), k.column.as("r"))
      val (compiled, compiledPlan) = run(query)
      val (interpreted, interpretedPlan) = withConf(
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
          "spark.sql.codegen.wholeStage" -> "false") {
        run(query)
      }
      // "*(n)" prefixes mark WholeStageCodegen stages
      assert(compiledPlan.contains("*(1) Project"), k.name)
      assert(!interpretedPlan.contains("*("), k.name)
      assert(compiled.size === 4, k.name)
      assert(compiled.find(_.getLong(0) == 3L).get.isNullAt(1),
        s"${k.name}: NULL input must give NULL")
      assert(compiled.filter(_.getLong(0) != 3L).forall(!_.isNullAt(1)),
        s"${k.name}: non-null input must not give NULL")
      assert(interpreted === compiled, k.name)
    }
  }

  test("every SQL-registered kernel name gives its DataFrame function's rows") {
    GraftSql.registerFunctions(spark)
    KernelCases.input(spark).createOrReplaceTempView("kernel_input")
    val registered = KernelCases.all.filter(_.sql.isDefined)
    assert(registered.size === 14)
    for (k <- registered) {
      val viaSql = spark.sql(
        s"SELECT id, ${k.sql.get} AS r FROM kernel_input")
      val viaDf = KernelCases.input(spark).select(col("id"), k.column.as("r"))
      assert(viaSql.schema === viaDf.schema, k.name)
      assert(run(viaSql)._1 === run(viaDf)._1, k.name)
    }
  }
}
