package graft

import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.MoneyScaledExpr
import graft.operators._
import graft.sources.Tables

/** Round-6 additions: scaled-BIGINT money-sum parity with the DECIMAL cast. */
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

  /** `df` with every [[Relational.sumExact]] in its plan replaced by
    * the DECIMAL reference `sum(c.cast(DecimalType(18, sc)))` over
    * the same input column: the per-row decimal cast and a
    * BigDecimal sum buffer. */
  private def withDecimalSums(df: DataFrame): DataFrame =
    GraftColumnBridge.ofRows(spark,
      df.queryExecution.analyzed.transformAllExpressions {
        case c: Cast if c.dataType.isInstanceOf[DecimalType] &&
            c.child.exists(_.isInstanceOf[MoneyScaledExpr]) =>
          val m = c.child.collectFirst { case m: MoneyScaledExpr => m }.get
          Sum(Cast(m.child, DecimalType(18, m.scale))).toAggregateExpression()
      })

  test("money sums: q1/q5/q6/q9/q18 equal the DECIMAL-cast reference " +
    "in value and schema") {
    // the scaled-BIGINT sum differs from the reference ONLY in the
    // aggregation buffer; totals must agree to the exact decimal
    // VALUE and the visible SCHEMA: DECIMAL(28,sc), the type the
    // reference's sum of DECIMAL(18,sc) has
    val queries = Seq(
      Relational.q1PricingSummary(spark, sf)
        .orderBy("l_returnflag", "l_linestatus") ->
        Seq("sum_qty" -> 2, "sum_base_price" -> 2, "sum_disc_price" -> 4,
          "sum_charge" -> 6),
      Relational.q6Revenue(spark, sf) -> Seq("revenue" -> 4),
      // the round-7 extension keys: q5/q9 decimal-heavy star joins
      // and q18's HAVING-on-sum, each summed through sumExact
      Relational.q5LocalSupplier(spark, sf).orderBy("n_name") ->
        Seq("revenue" -> 4),
      Relational.q9Profit(spark, sf).orderBy("n_name", "o_year") ->
        Seq("sum_profit" -> 4),
      Relational.q18LargeOrders(spark, sf, minQty = 80.0) -> Nil)
    def sumsScaled(d: DataFrame) = d.queryExecution.analyzed.exists(
      _.expressions.exists(_.exists(_.isInstanceOf[MoneyScaledExpr])))
    for ((df, money) <- queries) {
      val ref = withDecimalSums(df)
      assert(sumsScaled(df) && !sumsScaled(ref))
      for ((c, sc) <- money)
        assert(df.schema(c).dataType === DecimalType(28, sc), c)
      assert(df.schema === ref.schema)
      val rows = df.collect().toSeq
      assert(rows.nonEmpty, "every query must produce rows at the test SF")
      assert(rows === ref.collect().toSeq)
    }
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
    def total(fast: Boolean) = df.agg(
        if (fast) Relational.sumExact(col("v"), 2)
        else sum(col("v").cast(DecimalType(18, 2))))
      .head().getDecimal(0).stripTrailingZeros
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
