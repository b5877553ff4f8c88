package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._
import graft.sources.Tables

/** Round-6 additions: scaled-BIGINT money-sum fast path parity. */
class Round6Spec extends AnyFunSuite {
  import TestSession._

  private def withConf[A](key: String, on: Boolean)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  private def withFastSums[A](on: Boolean)(body: => A): A =
    withConf("spark.graft.fastMoneySums", on)(body)

  test("SPARK_GRAFT_FAST_MONEY is validated when the session is built") {
    assert(GraftSession.fastMoneySums(None) === "true")
    assert(GraftSession.fastMoneySums(Some("FALSE")) === "false")
    assert(GraftSession.fastMoneySums(Some("True")) === "true")
    val e = intercept[IllegalArgumentException](
      GraftSession.fastMoneySums(Some("yes")))
    assert(e.getMessage.contains("SPARK_GRAFT_FAST_MONEY"))
    assert(e.getMessage.contains("'yes'"))
  }

  test("fastMoneySums: q1/q6 value parity between DECIMAL and BIGINT routes") {
    // the two routes differ ONLY in the aggregation buffer; totals
    // must agree to the exact decimal VALUE and (since round 7) the
    // visible SCHEMA: the fast route re-casts its reconstruction to
    // the default route's DECIMAL(28,sc), so flipping the flag can
    // never change a consumer-visible dtype
    val slowSchema = withFastSums(false)(
      Relational.q1PricingSummary(spark, sf).schema)
    val fastSchema = withFastSums(true)(
      Relational.q1PricingSummary(spark, sf).schema)
    assert(slowSchema === fastSchema, "flag must not change the schema")
    def snapshot() = {
      val q1 = Relational.q1PricingSummary(spark, sf)
        .orderBy("l_returnflag", "l_linestatus").collect()
        .map(r => (r.getString(0), r.getString(1),
          r.getDecimal(2).stripTrailingZeros,
          r.getDecimal(3).stripTrailingZeros,
          r.getDecimal(4).stripTrailingZeros,
          r.getDecimal(5).stripTrailingZeros,
          r.getDouble(6), r.getLong(7)))
      val q6 = Relational.q6Revenue(spark, sf).collect()
        .map(r => r.getDecimal(0).stripTrailingZeros)
      // the round-7 extension keys: q5/q9 decimal-heavy star joins
      // and q18's HAVING-on-sum, each flagged through sumExact
      val q5 = Relational.q5LocalSupplier(spark, sf).orderBy("n_name")
        .collect().map(r => (r.getString(0),
          r.getDecimal(1).stripTrailingZeros))
      val q9 = Relational.q9Profit(spark, sf).orderBy("n_name", "o_year")
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getDecimal(2).stripTrailingZeros))
      val q18 = Relational.q18LargeOrders(spark, sf, minQty = 80.0)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(5)))
      (q1.toSeq, q6.toSeq, q5.toSeq, q9.toSeq, q18.toSeq)
    }
    val slow = withFastSums(false)(snapshot())
    val fast = withFastSums(true)(snapshot())
    assert(slow === fast)
    assert(slow._1.nonEmpty && slow._1.head._8 > 0)
    assert(slow._3.nonEmpty && slow._4.nonEmpty && slow._5.nonEmpty,
      "extension queries must produce rows at the test SF")
  }

  test("money_scaled: NaN/Infinity NULL out like the decimal cast") {
    import spark.implicits._
    val df = Seq(1.5, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, -2.25).toDF("v")
    val got = df.select(
        graft.functions.GraftFunctions.money_scaled(col("v"), 2).as("fast"),
        (col("v").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
          .cast("long").as("exact"))
      .collect().map(r =>
        (if (r.isNullAt(0)) null else r.getLong(0),
         if (r.isNullAt(1)) null else r.getLong(1)))
    assert(got.forall { case (f, e) => f == e },
      s"NaN/Inf parity broken: ${got.mkString(", ")}")
    assert(got.count(_._1 == null) === 3)
  }

  test("money_scaled overflows like the decimal cast under either " +
    "ANSI setting") {
    import spark.implicits._
    // 1e17 does not fit DECIMAL(18,2): the cast NULLs it with ANSI off
    // and throws with ANSI on; both routes read the setting when the
    // query is built
    val df = Seq(1.5, 1e17, -2.25).toDF("v")
    def perRow(fast: Boolean) = df.select(
        if (fast) graft.functions.GraftFunctions.money_scaled(col("v"), 2)
        else (col("v").cast(org.apache.spark.sql.types.DecimalType(18, 2))
          * 100).cast("long"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      .toSeq
    def total(fast: Boolean) = withFastSums(fast)(
      df.agg(Relational.sumExact(spark, col("v"), 2)).head()
        .getDecimal(0).stripTrailingZeros)
    def withAnsi[A](on: Boolean)(body: => A): A =
      withConf("spark.sql.ansi.enabled", on)(body)
    withAnsi(on = false) {
      assert(perRow(fast = true) === Seq(Some(150L), None, Some(-225L)))
      assert(perRow(fast = true) === perRow(fast = false))
      assert(total(fast = true) === new java.math.BigDecimal("-0.75"))
      assert(total(fast = true) === total(fast = false))
    }
    def arithmetic(e: Throwable) = Iterator.iterate(e)(_.getCause)
      .takeWhile(_ != null).exists(_.isInstanceOf[ArithmeticException])
    withAnsi(on = true) {
      for (fast <- Seq(true, false)) {
        assert(arithmetic(intercept[Exception](perRow(fast))), s"fast=$fast")
        assert(arithmetic(intercept[Exception](total(fast))), s"fast=$fast")
      }
    }
  }

  test("money_scaled ≡ the decimal cast, per row, on adversarial and random doubles") {
    import spark.implicits._
    // 8.165 is the canonical trap: its double prints "8.165" so the
    // decimal cast rounds HALF_UP to 8.17 (817 cents), while raw
    // binary arithmetic sees 816.4999... and a floor(x*100+0.5)
    // shortcut yields 816. The kernel must track the CAST semantics
    // on every row, every scale.
    val rng = new scala.util.Random(42)
    val traps = Seq(8.165, 2.675, 1.005, 0.115, 123.455, 0.01,
      99999.995, -8.165, -2.675, 0.0, 1e-9, -1e-9, 1.23456789e7,
      4.9e-16, 12345678901.235)
    val vals = traps ++ Seq.fill(20000)(
      (rng.nextDouble() - 0.5) * math.pow(10, rng.nextInt(9)))
    val df = vals.toDF("v")
    for (sc <- Seq(2, 4, 6)) {
      val pow = math.pow(10, sc).toLong
      val bad = df.select(col("v"),
          graft.functions.GraftFunctions.money_scaled(col("v"), sc)
            .as("fast"),
          (col("v").cast(org.apache.spark.sql.types.DecimalType(18, sc))
            * pow).cast("long").as("exact"))
        .filter(col("fast") =!= col("exact"))
        .collect()
      assert(bad.isEmpty,
        s"scale $sc divergence: ${bad.take(5).mkString(", ")}")
    }
    // kernel-level trap check, no Spark in the loop
    assert(graft.functions.Kernels.moneyScaled(8.165, 2) === 817L)
    assert(graft.functions.Kernels.moneyScaled(-8.165, 2) === -817L)
    assert(math.floor(8.165 * 100 + 0.5).toLong === 816L,
      "the trap must actually trap the naive shortcut")
  }

  test("robustScale: approx-percentile scale path parity with the exact route") {
    import graft.operators.Similarity
    import graft.sources.Tables
    val embs = Tables.embeddings(spark, sf)
    def collectMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
        .toMap
    val exact = collectMap(Similarity.robustScale(embs))
    val approx = collectMap(Similarity.robustScale(embs, exact = false))
    assert(exact.keySet === approx.keySet)
    // percentile_approx returns an actual sample (no interpolation),
    // so even with accuracy >> n the routes differ by up to the local
    // inter-sample gap around each quartile — bounded drift, not
    // equality, is the production contract
    val worst = exact.map { case (k, v) => math.abs(v - approx(k)) }.max
    assert(worst < 0.15, s"approx percentile drifted: $worst")
    val mean = exact.map { case (k, v) => math.abs(v - approx(k)) }.sum /
      exact.size
    assert(mean < 0.02, s"mean drift too large: $mean")
  }

  test("cappedAssign: every vector assigned, no cluster above cap, caps bind") {
    import graft.operators.Similarity
    import graft.sources.Tables
    val embs = Tables.embeddings(spark, sf)
    val n = embs.count()
    val nlist = 16
    val cap = (n * 5 + 4 * nlist - 1) / (4 * nlist)
    val a = Similarity.cappedAssign(embs, nlist).collect()
    assert(a.length.toLong === n, "fixed rounds must empty the corpus here")
    assert(a.map(_.getLong(0)).distinct.length.toLong === n)
    val sizes = a.groupBy(_.getLong(1)).map(_._2.length.toLong)
    assert(sizes.max <= cap, s"cluster above cap: ${sizes.max} > $cap")
    // the cap must actually bind (otherwise the test proves nothing):
    // at least one vector was deflected off its first choice
    assert(a.exists(_.getLong(3) > 1L), "no spill — cap never bound")
  }
}
