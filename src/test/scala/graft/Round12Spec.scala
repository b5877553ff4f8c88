package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, DriverCutoff, FrameCache, Graph, Relational}

/** Round-12 additions: the cross-query FrameCache (family-shared
  * graph frames), the byte-budget driver-cutoff contract, the
  * arc-free guards on the keyed PageRank family, and the
  * Newman-Girvan modularity score over the LPA communities. */
class Round12Spec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  /** The Round10/11 repeat-business fixture — known arc set. */
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

  // ---------------- FrameCache ----------------

  test("FrameCache: same key is built once and reused; results equal") {
    FrameCache.invalidateAll(spark)
    var builds = 0
    def build(): DataFrame = {
      builds += 1
      Seq((1L, 2L), (3L, 4L)).toDF("a", "b").localCheckpoint()
    }
    val k = "r12spec:reuse"
    val d1 = FrameCache.cached(spark, k)(build())
    val d2 = FrameCache.cached(spark, k)(build())
    assert(builds == 1, "second cached() call must not rebuild")
    assert(d2 eq d1, "cache must return the SAME frame instance")
    assert(d1.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 2L), (3L, 4L)))
    FrameCache.invalidateAll(spark)
  }

  test("FrameCache: a memoized scalar is gone after invalidateAll") {
    FrameCache.invalidateAll(spark)
    var computed = 0
    def probe(): Long = FrameCache.scalar("r12spec:scalar") {
      computed += 1; 40L + computed
    }
    assert(probe() === 41L)
    assert(probe() === 41L)
    assert(computed === 1, "a memoized scalar must not recompute")
    FrameCache.invalidateAll(spark)
    assert(probe() === 42L)
    assert(computed === 2, "invalidateAll must drop the scalar")
    FrameCache.invalidateAll(spark)
  }

  test("FrameCache: externally unpersisted entry is detected and rebuilt") {
    FrameCache.invalidateAll(spark)
    var builds = 0
    val k = "r12spec:stale"
    def build(): DataFrame = {
      builds += 1
      Seq((7L, 8L)).toDF("a", "b").localCheckpoint()
    }
    FrameCache.cached(spark, k)(build())
    // simulate a boundary cleanup that ignored protectedIds
    val ids = FrameCache.protectedIds
    spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => ids.contains(id) }
      .values.foreach(_.unpersist(blocking = true))
    val d2 = FrameCache.cached(spark, k)(build())
    assert(builds == 2, "dropped blocks must trigger a rebuild")
    assert(d2.count() == 1L)
    FrameCache.invalidateAll(spark)
  }

  test("FrameCache: planKey separates datasets and protectedIds covers entries") {
    FrameCache.invalidateAll(spark)
    val a = Seq((1L, 1L)).toDF("x", "y")
    val b = Seq((1L, 1L), (2L, 2L)).toDF("x", "y")
    assert(FrameCache.planKey(a) != FrameCache.planKey(b),
      "different inputs must produce different plan keys")
    val d = FrameCache.cached(spark, "r12spec:prot")(
      a.localCheckpoint())
    assert(FrameCache.protectedIds.nonEmpty,
      "a live entry must expose its blocks for boundary-skip")
    assert(d.count() == 1L)
    FrameCache.invalidateAll(spark)
    assert(FrameCache.protectedIds.isEmpty)
  }

  test("family sharing: triangles/clustering agree with and without the cache") {
    val (li, ord) = fixture
    FrameCache.invalidateAll(spark)
    val tri1 = Graph.trianglesKeysTrade(li, ord, cap = 4, minShared = 1)
      .orderBy("cust").collect().map(r => (r.getLong(0), r.getLong(1)))
    val cc1 = Graph.clusteringKeysTrade(li, ord, cap = 4, minShared = 1)
      .orderBy("cust").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // second pass rides the memoized corners — must be identical
    val tri2 = Graph.trianglesKeysTrade(li, ord, cap = 4, minShared = 1)
      .orderBy("cust").collect().map(r => (r.getLong(0), r.getLong(1)))
    val cc2 = Graph.clusteringKeysTrade(li, ord, cap = 4, minShared = 1)
      .orderBy("cust").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(tri1.toSeq == tri2.toSeq)
    assert(cc1.toSeq == cc2.toSeq)
    FrameCache.invalidateAll(spark)
  }

  // ---------------- byte-budget driver cutoffs ----------------

  test("DriverCutoff: budget arithmetic and documented widths") {
    assert(DriverCutoff.budgetBytes == (128L << 20))
    assert(DriverCutoff.pairRows == DriverCutoff.budgetBytes / 16)
    assert(DriverCutoff.weightedArcRows == DriverCutoff.budgetBytes / 24)
    assert(DriverCutoff.pairRows > 8000000L,
      "pair budget must cover the measured 4.25M-edge sf10 projection")
  }

  test("cutoff boundary: union-find and distributed CC byte-equal") {
    // chain + singleton: 1-2-3, 4-5, isolated 9
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc1", "doc2")
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("doc_id")
    def run(cut: Long) =
      Dedup.connectedComponents(pairs, nodes, driverCutoff = cut)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(run(0L) == run(DriverCutoff.pairRows),
      "driver and distributed paths must emit byte-equal labelings")
  }

  test("cutoff boundary: landmark family (betweenness/eccentricity/" +
       "hop histogram) byte-equal across paths") {
    val (li, ord) = fixture
    def bw(cut: Long) =
      Graph.betweennessKeysTrade(li, ord, driverCutoff = cut)
        .orderBy("node").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    def ecc(cut: Long) =
      Graph.eccentricityKeysTrade(li, ord, driverCutoff = cut)
        .orderBy("node").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
    def hh(cut: Long) =
      Graph.hopHistogramKeysTrade(li, ord, driverCutoff = cut)
        .orderBy("h").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    FrameCache.invalidateAll(spark) // distinct lbfs keys per cutoff
    assert(bw(0L) == bw(DriverCutoff.pairRows),
      "driver Brandes and the distributed level loops must agree")
    assert(ecc(0L) == ecc(DriverCutoff.pairRows))
    assert(hh(0L) == hh(DriverCutoff.pairRows))
    FrameCache.invalidateAll(spark)
  }

  test("cutoff boundary: bfs/hits/k-core/k-truss byte-equal across " +
       "paths") {
    // the richer truss fixture: K4 projection + pendant edge
    val pairs = Seq(
      (1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L),
      (3L, 10L), (3L, 11L), (4L, 10L), (4L, 11L),
      (1L, 12L), (1L, 13L), (5L, 12L), (5L, 13L))
    val ord = pairs.map(_._1).distinct
      .map(c => (c * 1000L, c)).toDF("o_orderkey", "o_custkey")
    val li = pairs.map { case (c, s) => (c * 1000L, s) }
      .toDF("l_orderkey", "l_suppkey")
    val sup = Seq((10L, 1L), (11L, 1L), (12L, 2L), (13L, 2L))
      .toDF("s_suppkey", "s_nationkey")
    val nat = Seq((1L, "A"), (2L, "B")).toDF("n_nationkey", "n_name")
    def rows(df: DataFrame, sort: String*) =
      df.orderBy(sort.map(col): _*).collect().map(_.toSeq).toSeq
    FrameCache.invalidateAll(spark)
    val bfs0 = rows(Graph.bfsTrade(li, ord, sup, nat,
      driverCutoff = 0L), "hop")
    val hits0 = rows(Graph.hitsTrade(li, ord, driverCutoff = 0L),
      "role", "node")
    val core0 = rows(Graph.kCoreTrade(li, ord, k = 2,
      driverCutoff = 0L), "round")
    val truss0 = rows(Graph.kTrussTrade(li, ord, k = 4,
      driverCutoff = 0L), "round")
    assert(rows(Graph.bfsTrade(li, ord, sup, nat), "hop") == bfs0)
    assert(rows(Graph.hitsTrade(li, ord), "role", "node") == hits0)
    assert(rows(Graph.kCoreTrade(li, ord, k = 2), "round") == core0)
    assert(rows(Graph.kTrussTrade(li, ord, k = 4), "round") == truss0)
    FrameCache.invalidateAll(spark)
  }

  test("certificate floor: link-prediction trio's τ̂ skip is " +
       "lossless — results equal with the certificate forced on") {
    // K4 + pendant projection: real common neighbors, distinct
    // degrees, ties — exercises cap ordering, weights, top-k sort
    val pairs = Seq(
      (1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L),
      (3L, 10L), (3L, 11L), (4L, 10L), (4L, 11L),
      (1L, 12L), (1L, 13L), (5L, 12L), (5L, 13L))
    val ord = pairs.map(_._1).distinct
      .map(c => (c * 1000L, c)).toDF("o_orderkey", "o_custkey")
    val li = pairs.map { case (c, s) => (c * 1000L, s) }
      .toDF("l_orderkey", "l_suppkey")
    def rows(df: DataFrame) =
      df.collect().map(_.toSeq).toSeq // already top-k ordered
    FrameCache.invalidateAll(spark)
    // certificateFloor = 0 forces the τ̂ certificate path even on
    // this tiny fan-out; default skips it — results must be equal
    val cn0 = rows(Graph.commonNeighbors(li, ord,
      certificateFloor = 0L))
    assert(rows(Graph.commonNeighbors(li, ord)) == cn0,
      "certificate-skipped top-k must equal the certificated one")
    val ra0 = rows(Graph.resourceAllocation(li, ord,
      certificateFloor = 0L))
    assert(rows(Graph.resourceAllocation(li, ord)) == ra0)
    val aa0 = rows(Graph.adamicAdar(li, ord, certificateFloor = 0L))
    assert(rows(Graph.adamicAdar(li, ord)) == aa0)
    // weight spot checks — the top pair is (1,5): it shares the two
    // CAPPED-DEGREE-2 suppliers {12, 13}, which RA/AA weight above
    // the K4's degree-4 witnesses: RA = 2·(1e6 div 2) = 1000000,
    // AA = 2·(1e6 div ⌊log₂2⌋) = 2000000
    assert(ra0.head == Seq(1L, 5L, 2L, 1000000L), s"RA ${ra0.head}")
    assert(aa0.head == Seq(1L, 5L, 2L, 2000000L), s"AA ${aa0.head}")
    FrameCache.invalidateAll(spark)
  }

  test("cutoff boundary: nation-level scc/topo/sssp/closeness " +
       "byte-equal across paths") {
    // 3-node cycle (A→B→C→A) + pendant D reached from A: one
    // nontrivial SCC, two condensation layers, asymmetric weighted
    // distances — all endpoints in the nation dim
    val flows = Seq( // (suppNation, custNation, lineitems)
      (0L, 1L, 4), (1L, 2L, 2), (2L, 0L, 1), (0L, 3L, 1))
    val rows = flows.flatMap { case (sn, cn, n) =>
      (0 until n).map(i => (sn, cn, sn * 1000 + cn * 100 + i)) }
    val li = rows.map { case (sn, cn, ok) => (ok, sn * 10 + 1) }
      .toDF("l_orderkey", "l_suppkey")
    val ord = rows.map { case (sn, cn, ok) => (ok, cn * 10 + 2) }
      .toDF("o_orderkey", "o_custkey")
    val sup = (0L to 3L).map(n => (n * 10 + 1, n))
      .toDF("s_suppkey", "s_nationkey")
    val cust = (0L to 3L).map(n => (n * 10 + 2, n))
      .toDF("c_custkey", "c_nationkey")
    val nat = Seq((0L, "A"), (1L, "B"), (2L, "C"), (3L, "D"))
      .toDF("n_nationkey", "n_name")
    def rowsOf(df: DataFrame) =
      df.orderBy("node").collect().map(_.toSeq).toSeq
    FrameCache.invalidateAll(spark)
    val scc0 = rowsOf(Graph.sccTrade(li, ord, cust, sup, nat))
    val topo0 = rowsOf(Graph.topoLayersTrade(li, ord, cust, sup, nat,
      driverCutoff = 0L))
    val sssp0 = rowsOf(Graph.ssspTrade(li, ord, cust, sup, nat,
      driverCutoff = 0L))
    val close0 = rowsOf(Graph.closenessTrade(li, ord, cust, sup, nat,
      driverCutoff = 0L))
    assert(rowsOf(Graph.topoLayersTrade(li, ord, cust, sup, nat))
      == topo0, "topo driver twin must equal the distributed loop")
    assert(rowsOf(Graph.ssspTrade(li, ord, cust, sup, nat)) == sssp0)
    assert(rowsOf(Graph.closenessTrade(li, ord, cust, sup, nat))
      == close0)
    def prRows(cut: Long) =
      Graph.pageRankTrade(li, ord, cust, sup, nat, driverCutoff = cut)
        .orderBy("n_name").collect().map(_.toSeq).toSeq
    assert(prRows(DriverCutoff.weightedArcRows) == prRows(0L),
      "pagerank driver twin must equal the distributed ppm rounds")
    // scc: A,B,C form one component labeled min id 0; D is its own
    assert(scc0.map(r => (r(1), r(2))) ==
      Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 3L)))
    // sssp from nation 0: friction = max(1, 1e6 div lineitems)
    val d = sssp0.map(r => (r(1), r(2))).toMap
    assert(d(0L) == 0L && d(1L) == 250000L &&
      d(2L) == 750000L && d(3L) == 1000000L, s"sssp $d")
    FrameCache.invalidateAll(spark)
  }

  test("cutoff boundary: k-center selection byte-equal across paths") {
    import graft.operators.Similarity
    // distinct radii + an exact tie (vectors 5 and 6 are equidistant
    // reflections) so the (d2 DESC, vec_id ASC) pick order is
    // exercised, not just the values
    val embs = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(4.0f, 0.0f)),
      (2L, Array(0.0f, 3.0f)), (3L, Array(1.0f, 1.0f)),
      (5L, Array(2.0f, 2.5f)), (6L, Array(2.5f, 2.0f)))
      .toDF("vec_id", "embedding")
    def rows(cut: Long) =
      Similarity.kcenterSelect(embs, k = 5, driverCutoff = cut)
        .orderBy("rank").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(rows(0L) == rows(DriverCutoff.budgetBytes),
      "driver greedy k-center must equal the k-pass argmax scan")
  }

  test("cutoff boundary: keyed SSSP byte-equal across paths") {
    val (li, ord) = fixture
    def run(cut: Long) =
      Graph.ssspKeysTrade(li, ord,
        customer = Seq((1L, 0L), (2L, 0L), (3L, 1L))
          .toDF("c_custkey", "c_nationkey"),
        nation = Seq((0L, "ALPHA"), (1L, "BETA"))
          .toDF("n_nationkey", "n_name"),
        driverCutoff = cut)
        .orderBy("node").collect()
        .map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(run(0L) == run(DriverCutoff.weightedArcRows))
  }

  // ---------------- arc-free guards ----------------

  test("pageRankKeys/pprKeys: arc-free graph returns empty, not div-by-zero") {
    val (li, ord) = fixture
    // minTrades above any pair's support -> zero arcs
    val pr = Graph.pageRankKeysTrade(li, ord, minTrades = 99,
      minReturns = 99)
    assert(pr.count() == 0L)
    assert(pr.columns.toSeq == Seq("node_type", "node", "pr_scaled"))
    val ppr = Graph.pprKeysTrade(li, ord,
      customer = Seq((1L, 0L)).toDF("c_custkey", "c_nationkey"),
      nation = Seq((0L, "ALPHA")).toDF("n_nationkey", "n_name"),
      minTrades = 99, minReturns = 99)
    assert(ppr.count() == 0L)
    assert(ppr.columns.toSeq == Seq("node_type", "node", "ppr_scaled"))
  }

  test("pprKeys: seed-free market (no edge-bearing seed) returns empty") {
    val (li, ord) = fixture
    // nation 7 has no customers in the graph -> zero seeds
    val ppr = Graph.pprKeysTrade(li, ord,
      customer = Seq((100L, 7L)).toDF("c_custkey", "c_nationkey"),
      nation = Seq((7L, "GAMMA")).toDF("n_nationkey", "n_name"))
    assert(ppr.count() == 0L)
  }

  // ---------------- modularity ----------------

  test("modularityTrade: hand-checked values incl. the bipartite in_w=0 law") {
    // two disjoint customer-supplier pairs:
    //   cust 1 - supp 1 (3 lineitems), cust 2 - supp 2 (1 lineitem)
    val orders = Seq((1000L, 1L), (2000L, 2L))
      .toDF("o_orderkey", "o_custkey")
    val lineitem = Seq(
      (1000L, 1L, "N"), (1000L, 1L, "N"), (1000L, 1L, "N"),
      (2000L, 2L, "N")).toDF("l_orderkey", "l_suppkey", "l_returnflag")
    val out = Graph.modularityTrade(lineitem, orders)
      .orderBy("community").collect()
    // nodes: c1=2, s1=3, c2=4, s2=5; w(2,3)=3 both ways, w(4,5)=1;
    // 2m = 8. Semi-synchronous LPA on a bipartite pair oscillates:
    // after 3 (odd) rounds labels are swapped within each pair ->
    // four singleton communities 2,3,4,5; label parity keeps every
    // community single-side, so in_w = 0 (the documented law).
    // q(strength 3) = 0 - (3e6//8)^2 // 1e6 = -(375000^2 // 1e6)
    //              = -140625;  q(strength 1) = -(125000^2 // 1e6)
    //              = -15625
    assert(out.length == 4)
    val m = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(m(2L) == ((1L, 0L, 3L, -140625L)))
    assert(m(3L) == ((1L, 0L, 3L, -140625L)))
    assert(m(4L) == ((1L, 0L, 1L, -15625L)))
    assert(m(5L) == ((1L, 0L, 1L, -15625L)))
  }

  test("modularityProjection: unipartite communities carry real in_w") {
    // two disjoint co-sourcing cliques: custs {1,2,3} all share
    // supps 1,2; custs {10,11} share supps 10,11 -> projection
    // edges (2,4,ns2) (2,6,2) (4,6,2) and (20,22,2); LPA unifies
    // each clique to its min node id
    val rows =
      (for { c <- Seq(1L, 2L, 3L); s <- Seq(1L, 2L); r <- 1 to 1 }
        yield (c, s)) ++
      (for { c <- Seq(10L, 11L); s <- Seq(10L, 11L) } yield (c, s))
    val orders = rows.map(_._1).distinct
      .map(c => (c * 100L, c)).toDF("o_orderkey", "o_custkey")
    val lineitem = rows.map { case (c, s) => (c * 100L, s, "N") }
      .toDF("l_orderkey", "l_suppkey", "l_returnflag")
    val out = Graph.modularityProjection(lineitem, orders,
      cap = 8, minShared = 2).orderBy("community").collect()
    // projection nodes are RAW custkeys: triangle edges (1,2),(1,3),
    // (2,3) ns=2 -> sym 6 arcs w=2 (weight 12); pair edge (10,11)
    // ns=2 -> sym 2 arcs w=2 (weight 4); 2m = 16.
    // LPA: the triangle converges to min label 1 by round 2; the
    // lone pair oscillates (single-edge bipartite-like swap), so
    // after 3 rounds 10<->11 carry each other's label -> two
    // singleton communities.
    // tri community 1: n=3, in_w=12, tot=12
    //   q = 12e6//16 - (12e6//16)^2//1e6 = 750000 - 562500 = 187500
    // pair communities 10,11: n=1, in_w=0, tot=2
    //   q = 0 - (2e6//16)^2//1e6 = -(125000^2 // 1e6) = -15625
    assert(out.length == 3)
    val m = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(m(1L) == ((3L, 12L, 12L, 187500L)))
    assert(m(10L) == ((1L, 0L, 2L, -15625L)))
    assert(m(11L) == ((1L, 0L, 2L, -15625L)))
    assert(m(1L)._2 > 0L, "unipartite community must carry real in_w")
  }

  // ---------------- semantic streaming admission ----------------

  test("embeddingAdmitStream: foreachBatch verdicts across a trigger " +
      "split equal the batch IVF probe per wave") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // corpus: two clear directions + a near-dup + an anti-vector;
    // iters = 0 keeps centroids at the vec_id < nlist init (0, 1)
    val corpus = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 1f)),
      (2L, Array(0.9f, 0.1f)), (3L, Array(-1f, 0f)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("ivf_idx12").toString
    graft.operators.Similarity.ivfWriteIndex(corpus, dir,
      nlist = 2, iters = 0)
    val wave1 = Seq((100L, Array(1f, 0.01f)))
    val wave2 = Seq(
      (101L, Array(0.70710678f, 0.70710678f)),
      (102L, Array(0f, 1f)))
    val mem = MemoryStream[(Long, Array[Float])]
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Boolean)]
    val q = graft.streaming.ReactiveStreams.embeddingAdmitStream(
      mem.toDF().toDF("vec_id", "embedding"), dir,
      v => buf.synchronized {
        buf ++= v.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      }, minCosine = 0.95, nprobe = 1)
    try {
      mem.addData(wave1: _*); q.processAllAvailable()
      mem.addData(wave2: _*); q.processAllAvailable()
    } finally q.stop()
    val got = buf.map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    val batch = (Dedup.embeddingAdmitIndexed(spark, dir,
        wave1.toDF("vec_id", "embedding"), minCosine = 0.95,
        nprobe = 1).collect() ++
      Dedup.embeddingAdmitIndexed(spark, dir,
        wave2.toDF("vec_id", "embedding"), minCosine = 0.95,
        nprobe = 1).collect())
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got === batch)
    // 100 probes list 0 -> dups {0, 2}; 101 ties both centroids
    // (min id wins), nothing >= 0.95; 102 is an exact copy of 1
    assert(got(100L)._1 === 2L && got(100L)._3 === false)
    assert(got(101L) === ((0L, -1L, true)))
    assert(got(102L) === ((1L, 1000000L, false)))
  }

  test("embeddingAdmitStream: trigger cleanup leaves no new persisted blocks") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val corpus = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("ivf_idx12b").toString
    graft.operators.Similarity.ivfWriteIndex(corpus, dir,
      nlist = 2, iters = 0)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val mem = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.ReactiveStreams.embeddingAdmitStream(
      mem.toDF().toDF("vec_id", "embedding"), dir,
      v => { v.collect(); () })
    try {
      mem.addData((200L, Array(1f, 0f))); q.processAllAvailable()
      mem.addData((201L, Array(0f, 1f))); q.processAllAvailable()
    } finally q.stop()
    // the diff-unpersist is async (blocking = false): poll briefly
    val deadline = System.nanoTime() + 10000000000L
    def leaked(): Set[Int] =
      spark.sparkContext.getPersistentRDDs.keySet.diff(before).toSet
    while (leaked().nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    assert(leaked().isEmpty,
      "per-trigger probe checkpoints must not accrete across triggers")
  }

  test("modularityTrade: edge-free corpus returns empty with schema") {
    val orders = Seq.empty[(Long, Long)].toDF("o_orderkey", "o_custkey")
    val lineitem = Seq.empty[(Long, Long, String)]
      .toDF("l_orderkey", "l_suppkey", "l_returnflag")
    val out = Graph.modularityTrade(lineitem, orders)
    assert(out.count() == 0L)
    assert(out.columns.toSeq ==
      Seq("community", "n_nodes", "in_w", "tot_w", "q_contrib_ppm"))
  }

  // ---------------- landmark family (r12 continuation) ----------------

  /** The fixture's repeat-business arc set, derived BY HAND from the
    * pair list (fwd c→s at n≥2, return s→c at nr≥2; cust = 2c,
    * supp = 2s+1) — the independent ground truth the reference
    * implementations below walk. */
  private val fixtureArcs: Seq[(Long, Long)] = Seq(
    (2L, 3L), (3L, 2L),     // c1↔s1
    (2L, 5L),               // c1→s2
    (4L, 5L), (5L, 4L),     // c2↔s2
    (6L, 7L),               // c3→s3
    (8L, 7L), (7L, 8L),     // c4↔s3
    (8L, 9L),               // c4→s4
    (6L, 9L), (9L, 6L),     // c3↔s4
    (10L, 11L),             // c5→s5
    (12L, 11L))             // c6→s5

  private def mdhex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Reference multi-pivot BFS (dist per (pivot, node)) — plain
    * driver Scala, no Spark. */
  private def refLandmarkDists(arcs: Seq[(Long, Long)], k: Int)
      : (Seq[Long], Map[(Long, Long), Long]) = {
    val adj = arcs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val nodes = (arcs.map(_._1) ++ arcs.map(_._2)).distinct
    val pivots = nodes.sortBy(n => (mdhex(s"bw:$n"), n)).take(k)
    val dist = scala.collection.mutable.Map.empty[(Long, Long), Long]
    pivots.foreach { p =>
      dist((p, p)) = 0L
      var frontier = List(p)
      while (frontier.nonEmpty)
        frontier = frontier.flatMap(v =>
          adj.getOrElse(v, Nil).filterNot(w => dist.contains((p, w)))
            .map { w => dist((p, w)) = dist((p, v)) + 1L; w })
    }
    (pivots, dist.toMap)
  }

  test("eccentricityKeysTrade matches an independent driver BFS") {
    val (lineitem, orders) = fixture
    FrameCache.invalidateAll(spark)
    val (_, dist) = refLandmarkDists(fixtureArcs, 8)
    val want = dist.toSeq.groupBy(_._1._2).map { case (node, ds) =>
      node -> (ds.map(_._2).max, ds.size.toLong)
    }
    val got = Graph.eccentricityKeysTrade(lineitem, orders)
      .collect().map(r => r.getLong(1) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got == want)
  }

  /** Reference depth-bounded Brandes with the EXACT integer-ppm
    * floor order the engine and oracle use. */
  private def refBetweenness(arcs: Seq[(Long, Long)], k: Int,
                             horizon: Int): Map[Long, Long] = {
    val (pivots, dist) = refLandmarkDists(arcs, k)
    val nodes = (arcs.map(_._1) ++ arcs.map(_._2)).distinct
    val btw = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    pivots.foreach { p =>
      val d = dist.collect { case ((`p`, n), h) if h <= horizon =>
        n -> h }.toMap
      val sigma = scala.collection.mutable.Map(p -> 1L)
      (1 to horizon).foreach { lvl =>
        nodes.filter(n => d.get(n).contains(lvl.toLong)).foreach { w =>
          sigma(w) = arcs.filter(a => a._2 == w &&
              d.get(a._1).contains(lvl - 1L))
            .map(a => sigma(a._1)).sum
        }
      }
      val del = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      (horizon - 1 to 0 by -1).foreach { lvl =>
        nodes.filter(n => d.get(n).contains(lvl.toLong)).foreach { v =>
          del(v) = arcs.filter(a => a._1 == v &&
              d.get(a._2).contains(lvl + 1L))
            .map { a =>
              val w = a._2
              (sigma(v) * 1000000L / sigma(w)) *
                (1000000L + del(w)) / 1000000L
            }.sum
        }
      }
      del.foreach { case (n, x) => if (n != p) btw(n) += x }
    }
    nodes.map(n => n -> btw(n)).toMap
  }

  test("betweennessKeysTrade matches an independent driver Brandes") {
    val (lineitem, orders) = fixture
    FrameCache.invalidateAll(spark)
    val want = refBetweenness(fixtureArcs, 8, 8)
    val got = Graph.betweennessKeysTrade(lineitem, orders)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(got == want)
    // the centrality is not degenerate on the fixture: the cycle
    // nodes carry strictly positive dependency
    assert(got.values.exists(_ > 0L))
  }

  test("landmark family shares ONE cached BFS frame per (dataset, params)") {
    val (lineitem, orders) = fixture
    FrameCache.invalidateAll(spark)
    Graph.eccentricityKeysTrade(lineitem, orders).collect()
    val afterFirst = FrameCache.protectedIds
    Graph.betweennessKeysTrade(lineitem, orders).collect()
    // betweenness must reuse the eccentricity run's BFS blocks, not
    // build a second landmark distance frame
    assert(FrameCache.protectedIds.intersect(afterFirst) == afterFirst,
      "the shared landmark BFS frame was rebuilt, not reused")
  }

  test("hopHistogramKeysTrade matches the reference BFS's histogram") {
    val (lineitem, orders) = fixture
    FrameCache.invalidateAll(spark)
    val (_, dist) = refLandmarkDists(fixtureArcs, 8)
    val want = dist.toSeq.groupBy(_._2).map { case (h, ds) =>
      h -> (ds.size.toLong, ds.map(_._1._2).distinct.size.toLong)
    }
    val got = Graph.hopHistogramKeysTrade(lineitem, orders)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    assert(got == want)
  }

  test("qBandJoin: exact pair semantics incl. cross-bucket pairs, " +
      "each pair found once, banded plan (no fat-key theta join)") {
    // balances chosen so pairs span bucket boundaries (eps=10000
    // cents → buckets of 100.00): (1,2) gap 0 same bucket, (1,3)/
    // (2,3) gap 9999 CROSS-bucket (9950 vs 19949 → buckets 0 and 1),
    // (3,4) gap 10000 boundary-inclusive, (4,5) gap 10001 excluded,
    // nation 2 isolated row → no output row for it
    val rows = Seq(
      (1L, 1, 99.50), (2L, 1, 99.50), (3L, 1, 199.49),
      (4L, 1, 299.49), (5L, 1, 399.50), (6L, 2, 50.00))
    // doubles on purpose — the real table ships double; the cents
    // conversion must ride the decimal-cast contract
    val sup = rows.toDF("s_suppkey", "s_nationkey", "s_acctbal")
    val dir = java.nio.file.Files
      .createTempDirectory("bandjoin").toString
    sup.write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    val out = Relational.qBandJoin(spark, dir)
    val got = out.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // pairs in nation 1: (1,2)=0, (1,3)=9999, (2,3)=9999,
    // (3,4)=10000 → n=4, sum=29998, max=10000, min=0
    assert(got == Map(1L -> ((4L, 29998L, 10000L, 0L))))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"band join fell back to a fat-key theta join:\n$plan")
  }

  test("degreeMixingTrade: hand-checked cells on the fixture") {
    val (lineitem, orders) = fixture
    // degrees over fixtureArcs (in+out): 2→3:2? compute by hand in
    // the reference loop instead — the point is binary-digit-count
    // bucketing and exact sums
    val deg = (fixtureArcs.map(_._1) ++ fixtureArcs.map(_._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    def bucket(d: Long): Long = java.lang.Long.toBinaryString(d).length
    val want = fixtureArcs.groupBy { case (a, b) =>
      (bucket(deg(a)), bucket(deg(b)))
    }.map { case (k, as) =>
      k -> (as.size.toLong, as.map(a => deg(a._1)).sum,
        as.map(a => deg(a._2)).sum)
    }
    val got = Graph.degreeMixingTrade(lineitem, orders)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == want)
  }

  test("kTrussTrade: K4 + pendant edge — pendant peels round 1, " +
       "K4 is 4-truss-stable") {
    // customers 1..4 all share suppliers {10, 11} → projection K4
    // (every pair shares 2 suppliers); customer 5 shares {12, 13}
    // with customer 1 only → pendant edge (1,5), zero triangles.
    val pairs = Seq(
      (1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L),
      (3L, 10L), (3L, 11L), (4L, 10L), (4L, 11L),
      (1L, 12L), (1L, 13L), (5L, 12L), (5L, 13L))
    val orders = pairs.map(_._1).distinct
      .map(c => (c * 1000L, c)).toDF("o_orderkey", "o_custkey")
    val lineitem = pairs.map { case (c, s) => (c * 1000L, s) }
      .toDF("l_orderkey", "l_suppkey")
    // K4: 6 edges, 4 triangles, every edge in exactly 2 → survives
    // support ≥ 2 every round; (1,5) has support 0 → gone in r1
    val got = Graph.kTrussTrade(lineitem, orders, k = 4, rounds = 3)
      .orderBy("round").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 6L, 4L, 4L), (2L, 6L, 4L, 4L), (3L, 6L, 4L, 4L)))
  }

  test("bandAdmitStream: verdicts match hand-checked band peers " +
       "incl. cross-bucket; self excluded; no keyed-state operator") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // eps = 10000 cents: peers 100/101 share update-1's bucket,
    // peer 103 (20001) sits one bucket up — the cross-bucket match
    val peers = Seq((100L, 1L, 10000L), (101L, 1L, 19999L),
      (102L, 1L, 50000L), (103L, 1L, 20001L))
      .toDF("id", "nation", "bal")
    val mem = MemoryStream[(java.sql.Timestamp, Long, Long, Long)]
    val qn = s"band_${System.nanoTime()}"
    val q = graft.streaming.ReactiveStreams.bandAdmitStream(
        mem.toDF().toDF("ts", "id", "nation", "bal"), peers)
      .writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try {
      mem.addData((t(0), 1L, 1L, 15000L))    // 3 peers: 100,101,103
      mem.addData((t(1), 2L, 1L, 99999990L)) // novel
      mem.addData((t(2), 100L, 1L, 10000L))  // replay: self excluded
      q.processAllAvailable()
      mem.addData((java.sql.Timestamp.valueOf("2024-01-01 09:00:00"),
        9L, 1L, 0L)) // watermark closer
      q.processAllAvailable()
      val got = spark.table(qn).collect().map(r => r.getLong(0) ->
        ((r.getLong(3),
          if (r.isNullAt(4)) -1L else r.getLong(4),
          if (r.isNullAt(5)) -1L else r.getLong(5),
          r.getBoolean(6)))).toMap
      assert(got(1L) === ((3L, 4999L, 5001L, false)))
      assert(got(2L) === ((0L, -1L, -1L, true)))
      assert(got(100L) === ((1L, 9999L, 9999L, false)))
      val exec = q.asInstanceOf[org.apache.spark.sql.execution
          .streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      assert(!exec.contains("FlatMapGroupsWithState"),
        s"band admission must carry no keyed custom state:\n$exec")
    } finally q.stop()
  }

  test("degreeDriftTrade: hand-checked two-month L1; first month NULL") {
    // month 1: c1->{s1,s2}, c2->{s1}  -> degs {2,1}, hist {2:1, 1:1}
    // month 2: c1->{s1}, c2->{s1}, c3->{s2} -> degs {1,1,1}, hist {1:3}
    // L1(m2) = |0-1|(b2) + |3-1|(b1) = 3
    def d(s: String) = java.sql.Date.valueOf(s)
    val rows = Seq(
      (1L, 1L, d("1995-01-05")), (1L, 2L, d("1995-01-05")),
      (2L, 1L, d("1995-01-20")),
      (3L, 1L, d("1995-02-03")), (4L, 1L, d("1995-02-09")),
      (5L, 2L, d("1995-02-11")))
    // order keys 10,11: cust 1 month1; 12: cust 2 m1; 13: c1 m2;
    // 14: c2 m2; 15: c3 m2
    val orders = Seq(
      (10L, 1L, d("1995-01-05")), (11L, 2L, d("1995-01-20")),
      (12L, 1L, d("1995-02-03")), (13L, 2L, d("1995-02-09")),
      (14L, 3L, d("1995-02-11")))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val lineitem = Seq(
      (10L, 1L), (10L, 2L),            // c1 m1 -> s1,s2
      (11L, 1L),                       // c2 m1 -> s1
      (12L, 1L), (13L, 1L), (14L, 2L)) // m2: c1->s1, c2->s1, c3->s2
      .toDF("l_orderkey", "l_suppkey")
    val got = Graph.degreeDriftTrade(lineitem, orders)
      .orderBy("month_key").collect()
    val m1 = got(0); val m2 = got(1)
    assert(m1.getLong(1) === 3L && m1.getLong(2) === 2L &&
      m1.getLong(3) === 2L && m1.isNullAt(4))
    assert(m2.getLong(1) === 3L && m2.getLong(2) === 3L &&
      m2.getLong(3) === 2L && m2.getLong(4) === 3L)
  }

  test("bandAdmitIndexed: verdicts equal the hand-checked band " +
       "peers; the probe scan carries a jb_block PartitionFilter") {
    import graft.operators.Relational
    val peers = Seq((100L, 1L, 10000L), (101L, 1L, 19999L),
      (102L, 1L, 50000L), (103L, 1L, 20001L))
      .toDF("id", "nation", "bal")
    val dir = java.nio.file.Files
      .createTempDirectory("band_idx12").toString
    Relational.bandWriteIndex(peers, dir)
    val wave = Seq((1L, 1L, 15000L), (2L, 1L, 99999990L),
      (100L, 1L, 10000L)).toDF("id", "nation", "bal")
    val out = Relational.bandAdmitIndexed(spark, dir, wave)
    val got = out.collect().map(r => r.getLong(0) ->
      ((r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6))))
      .toMap
    assert(got(1L) === ((3L, 4999L, 5001L, false)))
    assert(got(2L) === ((0L, -1L, -1L, true)))
    assert(got(100L) === ((1L, 9999L, 9999L, false)))
    val plan = out.queryExecution.executedPlan.toString
    val scanLine = plan.split("\n")
      .find(l => l.contains("band_idx12") &&
        l.contains("PartitionFilters"))
    assert(scanLine.exists(
      _.matches(""".*PartitionFilters: \[.*jb_block.*\].*""")),
      s"index scan must prune on jb_block:\n$plan")
  }

  test("bandAdmitIndexedStream: foreachBatch verdicts across a " +
       "trigger split equal the batch probe; no block accretion") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Relational
    val peers = Seq((100L, 1L, 10000L), (101L, 1L, 19999L),
      (102L, 1L, 50000L), (103L, 1L, 20001L))
      .toDF("id", "nation", "bal")
    val dir = java.nio.file.Files
      .createTempDirectory("band_idx12b").toString
    Relational.bandWriteIndex(peers, dir)
    val wave1 = Seq((1L, 1L, 15000L))
    val wave2 = Seq((2L, 1L, 99999990L), (100L, 1L, 10000L))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val mem = MemoryStream[(Long, Long, Long)]
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Boolean)]
    val q = graft.streaming.ReactiveStreams.bandAdmitIndexedStream(
      mem.toDF().toDF("id", "nation", "bal"), dir,
      v => buf.synchronized {
        buf ++= v.collect().map(r => (r.getLong(0), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getBoolean(6)))
      })
    try {
      mem.addData(wave1: _*); q.processAllAvailable()
      mem.addData(wave2: _*); q.processAllAvailable()
    } finally q.stop()
    // leak check FIRST — the batch comparison below checkpoints its
    // own wave frames, which are not the stream's to clean up
    val deadline = System.nanoTime() + 10000000000L
    def leaked(): Set[Int] =
      spark.sparkContext.getPersistentRDDs.keySet.diff(before).toSet
    while (leaked().nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    assert(leaked().isEmpty,
      "per-trigger probe checkpoints must not accrete across triggers")
    val got = buf.map(t => t._1 -> ((t._2, t._3, t._4, t._5))).toMap
    val batch = (Relational.bandAdmitIndexed(spark, dir,
        wave1.toDF("id", "nation", "bal")).collect() ++
      Relational.bandAdmitIndexed(spark, dir,
        wave2.toDF("id", "nation", "bal")).collect())
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4),
        r.getLong(5), r.getBoolean(6)))).toMap
    assert(got === batch)
    assert(got(1L) === ((3L, 4999L, 5001L, false)))
  }

  test("graphSearchTopK: single-partition corpus converges to the " +
       "brute-force top-k") {
    import graft.operators.Similarity
    // 8 vectors → nlist = 1, all assigned to one partition; beam 8
    // covers every visited node, and 3 hops over a 5-out-degree kNN
    // graph reach the whole 8-node partition — so the beam's final
    // top-k must equal exact brute force.
    val embs = Seq(
      (0L, Array(1.0f, 0.1f, 0.0f)), (1L, Array(0.9f, 0.2f, 0.1f)),
      (2L, Array(0.1f, 1.0f, 0.0f)), (3L, Array(0.0f, 0.9f, 0.3f)),
      (4L, Array(0.2f, 0.1f, 1.0f)), (5L, Array(0.1f, 0.0f, 0.9f)),
      (6L, Array(0.7f, 0.7f, 0.1f)), (7L, Array(0.1f, 0.7f, 0.7f)))
      .toDF("vec_id", "embedding")
    val queries = embs.filter(col("vec_id") < 2)
    val got = Similarity.graphSearchTopK(embs, queries, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getDouble(3))).toSet
    val want = Similarity.bruteForceTopK(embs, queries, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong,
        r.getLong(2), r.getDouble(3))).toSet
    assert(got == want)
    // ... and the recall audit prices that convergence at 1.0
    val rec = Similarity.graphSearchRecall(embs, queries, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2)))
    assert(rec.length == 2 &&
      rec.forall { case (_, n, rr) => n == 3L && rr == 1.0 })
  }

  test("cdcMd5Cuts kernel is bit-identical to the md5-window HOF " +
       "chain it replaced (incl. multibyte, empty, short, boundary)") {
    val w = 8; val divisor = 32; val minSize = 16
    // the r1–r12 HOF formulation, verbatim, as the in-test reference
    val cand =
      s"""IF(length(text) < $w, array(),
         |  filter(transform(sequence($w, length(text)),
         |    i -> IF(CAST(conv(substr(md5(substring(text, i - ${w - 1},
         |        $w)), 1, 7), 16, 10) AS BIGINT) % $divisor = 0, i, -1)),
         |    x -> x > 0))""".stripMargin
    val cuts =
      s"""aggregate($cand, array(0), (acc, i) ->
         |  IF(i - element_at(acc, -1) >= $minSize,
         |     concat(acc, array(i)), acc))""".stripMargin
    val boundsSql =
      s"""IF(element_at($cuts, -1) = length(text), $cuts,
         |   concat($cuts, array(length(text))))""".stripMargin
    val rnd = new scala.util.Random(12)
    val alphabet = "abcdefgh \n\tqxyz0123" + "äßñ中日🙂" // 2/3/4-byte
    val texts = Seq("", "short", "a" * w, "a" * 500,
      alphabet * 40, "中" * 300, "🙂ab" * 120) ++
      (0 until 40).map(_ => (0 until (rnd.nextInt(400) + 1))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    val docs = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val both = docs.select(col("doc_id"),
      expr(boundsSql).as("ref"),
      graft.functions.GraftFunctions
        .cdc_md5_cuts(col("text"), w, divisor, minSize).as("got"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](2),
        s"doc ${r.getLong(0)}: HOF ${r.getSeq[Int](1)} vs " +
          s"kernel ${r.getSeq[Int](2)}")
    }
    // at least one multi-cut doc so the greedy fold is exercised
    assert(both.exists(_.getSeq[Int](1).length > 3))
  }
}
