package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DriverCutoff, FrameCache, Graph, Similarity}

/** Round-13 (optimization round 2) additions: DriverCutoff twins for
  * the keyed PageRank / personalized-PageRank loops — the boundary
  * tests pin driver == distributed byte-equal on the known fixture,
  * the same contract every other size-adaptive operator carries. */
class Round13Spec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  /** The Round10/11 repeat-business fixture — known arc set:
    * 2↔3, 2→5, 4↔5, 6→7, 8↔7, 8→9, 6↔9, 10→11, 12→11. */
  private def fixture: (DataFrame, DataFrame) = {
    val pairs = Seq(
      (1L, 1L, 2, 2), (1L, 2L, 2, 0), (2L, 2L, 2, 2),
      (3L, 3L, 2, 0), (4L, 3L, 2, 2), (4L, 4L, 2, 0),
      (3L, 4L, 2, 2), (5L, 5L, 2, 0), (6L, 5L, 2, 0),
      (1L, 5L, 1, 0))
    val orders = pairs.map(_._1).distinct
      .map(c => (c * 1000L, c)).toDF("o_orderkey", "o_custkey")
    val lineitem = pairs.flatMap { case (c, s, n, nr) =>
      (0 until n).map(i =>
        (c * 1000L, s, if (i < nr) "R" else "N"))
    }.toDF("l_orderkey", "l_suppkey", "l_returnflag")
    (lineitem, orders)
  }

  test("cutoff boundary: pageRankKeysTrade byte-equal across paths") {
    FrameCache.invalidateAll(spark)
    val (li, ord) = fixture
    def run(cut: Long) = Graph
      .pageRankKeysTrade(li, ord, driverCutoff = cut)
      .orderBy("node").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val driver = run(DriverCutoff.pairRows)
    val distributed = run(0L)
    assert(driver === distributed,
      "driver twin diverges from the distributed rounds")
    assert(driver.nonEmpty)
    FrameCache.invalidateAll(spark)
  }

  test("cutoff boundary: pprKeysTrade byte-equal across paths " +
      "(seeds, reached non-seeds, positive-rank filter)") {
    FrameCache.invalidateAll(spark)
    val (li, ord) = fixture
    val customer = Seq((1L, 0L), (2L, 1L), (3L, 1L), (4L, 1L),
      (5L, 0L), (6L, 1L)).toDF("c_custkey", "c_nationkey")
    val nation = Seq((0L, "AAA"), (1L, "BBB"))
      .toDF("n_nationkey", "n_name")
    def run(cut: Long) = Graph
      .pprKeysTrade(li, ord, customer, nation, driverCutoff = cut)
      .orderBy("node").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val driver = run(DriverCutoff.pairRows)
    val distributed = run(0L)
    assert(driver === distributed,
      "driver twin diverges from the distributed loop")
    assert(driver.nonEmpty)
    // the propagation-only reach (node 11 via 10→11) must carry no
    // teleport base in EITHER path — a twin that seeded non-seeds
    // would inflate exactly these rows
    val m = driver.map(r => r._2 -> r._3).toMap
    assert(m.contains(11L))
    FrameCache.invalidateAll(spark)
  }

  test("cutoff boundary: cappedAssign byte-equal across paths " +
      "(kernel-replica cosine / top-R / acceptance order)") {
    val embs = graft.sources.Tables
      .embeddings(spark, "/root/testdata/sf0.01")
    val nlist = 16
    val cents = embs.filter(org.apache.spark.sql.functions.col("vec_id")
        .<(nlist))
      .select(org.apache.spark.sql.functions.col("vec_id")
          .as("centroid_id"),
        org.apache.spark.sql.functions.col("embedding").as("c_emb"))
    def run(budget: Long) = Similarity
      .cappedAssignTo(embs, cents, nlist, driverBudget = budget)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSeq
    val driver = run(DriverCutoff.budgetBytes)
    val distributed = run(0L)
    assert(driver === distributed,
      "driver acceptance diverges from the distributed rounds")
    assert(driver.nonEmpty)
  }

  test("cutoff boundary: cappedLloyd byte-equal across paths " +
      "(mean update floor-sums and reconstruction included)") {
    val embs = graft.sources.Tables
      .embeddings(spark, "/root/testdata/sf0.01")
    def run(budget: Long) = Similarity
      .cappedLloyd(embs, nlist = 16, iters = 2, driverBudget = budget)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSeq
    val driver = run(DriverCutoff.budgetBytes)
    val distributed = run(0L)
    assert(driver === distributed,
      "driver Lloyd diverges from the distributed alternation")
    assert(driver.nonEmpty)
  }

  test("cutoff boundary: graphSearchTopK byte-equal across paths " +
      "(route, beam hops, final self-drop rank)") {
    val embs = graft.sources.Tables
      .embeddings(spark, "/root/testdata/sf0.01")
    val queries = embs.filter(
      org.apache.spark.sql.functions.col("vec_id") % 97 === 0)
    def run(budget: Long) = Similarity
      .graphSearchTopK(embs, queries, k = 3, driverBudget = budget)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    val driver = run(DriverCutoff.budgetBytes)
    val distributed = run(0L)
    assert(driver === distributed,
      "driver beam walk diverges from the distributed hops")
    assert(driver.nonEmpty)
  }

  test("cutoff boundary: mmrRerank greedy byte-equal across paths " +
      "(pairwise redundancy, score IEEE order, tie-breaks)") {
    val embs = graft.sources.Tables
      .embeddings(spark, "/root/testdata/sf0.01")
    val queries = embs.filter(
      org.apache.spark.sql.functions.col("vec_id") % 97 === 0)
    def run(budget: Long) = Similarity
      .mmrRerank(embs, queries, k = 4, driverBudget = budget)
      .orderBy("query_id", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    val driver = run(DriverCutoff.budgetBytes)
    val distributed = run(0L)
    assert(driver === distributed,
      "driver greedy diverges from the unrolled distributed steps")
    assert(driver.nonEmpty)
  }

  test("cutoff boundary: pcaAxis byte-equal across paths " +
      "(quantized mean, kernel contributions, normalization)") {
    val embs = graft.sources.Tables
      .embeddings(spark, "/root/testdata/sf0.01")
    val (muD, vD) = Similarity.pcaAxis(embs, iters = 3,
      driverBudget = DriverCutoff.budgetBytes)
    val (muX, vX) = Similarity.pcaAxis(embs, iters = 3,
      driverBudget = 0L)
    assert(muD.toSeq === muX.toSeq, "means diverge across the cutoff")
    assert(vD.toSeq === vX.toSeq, "axis diverges across the cutoff")
    assert(vD.nonEmpty)
  }

  test("cutoff boundary: pcaAxis with per-dim sums beyond the Long " +
      "range equals the distributed path") {
    // dimension 0 sums 10 × floor(1e12 · 1e6) ≈ 1e19 > 2^63 micro-units
    val embs = (0 until 10)
      .map(i => (i.toLong, Array(1e12f, i.toFloat, (i % 3).toFloat)))
      .toDF("vec_id", "embedding")
    val (muD, vD) = Similarity.pcaAxis(embs, iters = 3,
      driverBudget = DriverCutoff.budgetBytes)
    val (muX, vX) = Similarity.pcaAxis(embs, iters = 3,
      driverBudget = 0L)
    assert(muD.toSeq === muX.toSeq, "means diverge across the cutoff")
    assert(vD.toSeq === vX.toSeq, "axis diverges across the cutoff")
    assert(muX(0) > 9e11, "the mean of dimension 0 wrapped")
  }

  test("cutoff boundary: pcaAxis on vectors of unequal length equals " +
      "the distributed path") {
    val embs = Seq((0L, Array(1f, 2f, 3f)), (1L, Array(4f, 5f)),
        (2L, Array(7f, 8f, 9f)), (3L, Array(1f, 0f)))
      .toDF("vec_id", "embedding")
    val (muD, vD) = Similarity.pcaAxis(embs, iters = 3,
      driverBudget = DriverCutoff.budgetBytes)
    val (muX, vX) = Similarity.pcaAxis(embs, iters = 3,
      driverBudget = 0L)
    assert(muD.toSeq === muX.toSeq, "means diverge across the cutoff")
    assert(vD.toSeq === vX.toSeq, "axis diverges across the cutoff")
  }
}
