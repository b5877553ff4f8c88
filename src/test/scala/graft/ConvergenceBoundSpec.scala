package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{FrameCache, Graph}
import graft.operators.DriverCutoff.{pairRows, weightedArcRows}

/** The convergence contract of Graph's shared distributed round
  * loops: a bound of `b` allows `b` improving rounds plus one
  * confirming round. A chain that needs exactly `b` rounds converges
  * and one arc longer throws, on the distributed route
  * (`driverCutoff = 0`) and on the driver twin (the default) alike,
  * with the calling operator's own message (`sccTrade` has only its
  * default route). The PageRank rounds run a fixed `iters` and have
  * no such bound. */
class ConvergenceBoundSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  private val bound = 3

  /** Nation chain 0 → 1 → … → `arcs`, one lineitem per arc. */
  private def nationChain(arcs: Int) = {
    val rows = (0 until arcs).map(i => (i.toLong, i + 1L, i * 1000L))
    val li = rows.map { case (sn, _, ok) => (ok, sn * 10 + 1) }
      .toDF("l_orderkey", "l_suppkey")
    val ord = rows.map { case (_, cn, ok) => (ok, cn * 10 + 2) }
      .toDF("o_orderkey", "o_custkey")
    val sup = (0L to arcs).map(n => (n * 10 + 1, n))
      .toDF("s_suppkey", "s_nationkey")
    val cust = (0L to arcs).map(n => (n * 10 + 2, n))
      .toDF("c_custkey", "c_nationkey")
    val nat = (0L to arcs).map(n => (n, s"N$n"))
      .toDF("n_nationkey", "n_name")
    (li, ord, cust, sup, nat)
  }

  /** Repeat-business chain of `arcs` arcs at minTrades = 3,
    * minReturns = 2, starting at customer 1 (node 2): even arcs are
    * 3 plain lineitems c → s, odd arcs 2 returned lineitems s → c
    * (too few for a forward arc). Customer 1 alone is in the first
    * nation. */
  private def keyChain(arcs: Int) = {
    val lines = (0 until arcs).flatMap { k =>
      if (k % 2 == 0) Seq.fill(3)((k / 2 + 1L, k / 2 + 1L, "N"))
      else Seq.fill(2)(((k + 1) / 2 + 1L, (k + 1) / 2L, "R"))
    }
    val custs = lines.map(_._1).distinct
    val li = lines.map { case (c, s, f) => (c * 1000L, s, f) }
      .toDF("l_orderkey", "l_suppkey", "l_returnflag")
    val ord = custs.map(c => (c * 1000L, c)).toDF("o_orderkey", "o_custkey")
    val cust = custs.map(c => (c, if (c == 1L) 0L else 1L))
      .toDF("c_custkey", "c_nationkey")
    val nat = Seq((0L, "A"), (1L, "B")).toDF("n_nationkey", "n_name")
    (li, ord, cust, nat)
  }

  private def rows(df: DataFrame) =
    df.collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq

  private def maxAt(rs: Seq[Seq[Any]], i: Int): Long =
    rs.map(_(i).asInstanceOf[Long]).max

  /** Runs `op` on the distributed route (cutoff 0) and on the driver
    * twin (the operator's default cutoff), each from an empty
    * FrameCache; both must return the same rows. */
  private def converges(op: Long => DataFrame, default: Long)
      : Seq[Seq[Any]] = {
    FrameCache.invalidateAll(spark)
    val distributed = rows(op(0L))
    FrameCache.invalidateAll(spark)
    val driver = rows(op(default))
    FrameCache.invalidateAll(spark)
    assert(driver == distributed, "driver twin must equal the loop")
    driver
  }

  /** `op` must throw the caller's own IllegalStateException on both
    * routes. */
  private def throwsOwn(caller: String, default: Long)
                       (op: Long => DataFrame): Unit = {
    for (cut <- Seq(0L, default)) {
      FrameCache.invalidateAll(spark)
      val e = intercept[IllegalStateException](op(cut).collect())
      assert(e.getMessage.startsWith(caller) &&
        e.getMessage.contains(s" $bound "), s"cutoff $cut: ${e.getMessage}")
    }
    FrameCache.invalidateAll(spark)
  }

  test("max-relax layering: topoLayersTrade and topoLayersKeysTrade " +
      "converge at the bound and throw one round past it") {
    def topo(arcs: Int)(cut: Long) = {
      val (li, ord, cust, sup, nat) = nationChain(arcs)
      Graph.topoLayersTrade(li, ord, cust, sup, nat, maxIter = bound,
        driverCutoff = cut)
    }
    assert(maxAt(converges(topo(bound), pairRows), 3) == bound.toLong)
    throwsOwn("topoLayersTrade did not converge", pairRows)(
      topo(bound + 1))

    def topoKeys(arcs: Int)(cut: Long) = {
      val (li, ord, _, _) = keyChain(arcs)
      Graph.topoLayersKeysTrade(li, ord, minTrades = 3,
        sweepBound = bound, driverCutoff = cut)
    }
    assert(maxAt(converges(topoKeys(bound), pairRows), 2) == bound.toLong)
    throwsOwn("topoLayersKeysTrade", pairRows)(topoKeys(bound + 1))
  }

  test("iterated-squaring SCC closure: sccTrade and topoLayersTrade " +
      "converge at the bound and throw one round past it") {
    // a chain of 2^b arcs needs b improving squaring rounds
    val b = 2
    def scc(arcs: Int) = {
      val (li, ord, cust, sup, nat) = nationChain(arcs)
      Graph.sccTrade(li, ord, cust, sup, nat, maxIter = b)
    }
    // sccTrade has only its default route; every node is its own SCC
    assert(rows(scc(4)).map(r => r(1) == r(2)) == Seq.fill(5)(true))
    assert(intercept[IllegalStateException](scc(5)).getMessage ==
      s"sccTrade closure did not converge in $b rounds")
    def topo(arcs: Int)(cut: Long) = {
      val (li, ord, cust, sup, nat) = nationChain(arcs)
      Graph.topoLayersTrade(li, ord, cust, sup, nat, maxIter = b,
        driverCutoff = cut)
    }
    for (cut <- Seq(0L, pairRows)) {
      FrameCache.invalidateAll(spark)
      // the closure converges, so the 4 layering rounds are what fail
      assert(intercept[IllegalStateException](topo(4)(cut)).getMessage
        .startsWith("topoLayersTrade did not converge"), s"cutoff $cut")
      FrameCache.invalidateAll(spark)
      assert(intercept[IllegalStateException](topo(5)(cut)).getMessage ==
        s"sccTrade closure did not converge in $b rounds", s"cutoff $cut")
    }
    FrameCache.invalidateAll(spark)
  }

  test("min-plus relaxation over present rows: ssspTrade and " +
      "closenessTrade converge at the bound and throw one round past it") {
    def sssp(arcs: Int)(cut: Long) = {
      val (li, ord, cust, sup, nat) = nationChain(arcs)
      Graph.ssspTrade(li, ord, cust, sup, nat, maxIter = bound,
        driverCutoff = cut)
    }
    assert(maxAt(converges(sssp(bound), weightedArcRows), 2) ==
      bound * 1000000L)
    throwsOwn("ssspTrade did not converge", weightedArcRows)(
      sssp(bound + 1))

    def closeness(arcs: Int)(cut: Long) = {
      val (li, ord, cust, sup, nat) = nationChain(arcs)
      Graph.closenessTrade(li, ord, cust, sup, nat, maxIter = bound,
        driverCutoff = cut)
    }
    // node 0 reaches the whole chain: itself plus `bound` nodes
    assert(maxAt(converges(closeness(bound), weightedArcRows), 2) ==
      bound + 1L)
    throwsOwn("closenessTrade did not converge", weightedArcRows)(
      closeness(bound + 1))
  }

  test("min-plus relaxation over reached rows: ssspKeysTrade and the " +
      "landmark BFS converge at the bound and throw one round past it") {
    def ssspKeys(arcs: Int)(cut: Long) = {
      val (li, ord, cust, nat) = keyChain(arcs)
      Graph.ssspKeysTrade(li, ord, cust, nat, minTrades = 3,
        maxIter = bound, driverCutoff = cut)
    }
    assert(converges(ssspKeys(bound), weightedArcRows).size == bound + 1)
    throwsOwn("ssspKeysTrade", weightedArcRows)(ssspKeys(bound + 1))

    // every node is a landmark, so the chain's head runs the full
    // `arcs` hops
    def harmonic(arcs: Int)(cut: Long) = {
      val (li, ord, _, _) = keyChain(arcs)
      Graph.harmonicKeysTrade(li, ord, minTrades = 3,
        landmarks = arcs + 1, maxIter = bound, driverCutoff = cut)
    }
    // the chain's tail is reached by every other node
    assert(maxAt(converges(harmonic(bound), pairRows), 1) == bound.toLong)
    throwsOwn("landmarkDistKeys did not converge", pairRows)(
      harmonic(bound + 1))
  }

  test("a loop that throws inside a FrameCache build leaves no frame " +
      "persisted") {
    val (li, ord, _, _) = keyChain(bound + 1)
    def harmonic(maxIter: Int) = Graph.harmonicKeysTrade(li, ord,
      minTrades = 3, landmarks = bound + 2, maxIter = maxIter,
      driverCutoff = 0L)
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    FrameCache.invalidateAll(spark)
    // the shared arc frame is now cached; the bounded run below
    // rebuilds only the landmark distances, checkpointing each round
    harmonic(60).collect()
    val before = persisted
    intercept[IllegalStateException](harmonic(bound).collect())
    val leaked = persisted -- before
    assert(leaked.isEmpty, s"still persisted: $leaked")
    FrameCache.invalidateAll(spark)
  }
}
