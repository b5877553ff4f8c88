package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Distributed graph analytics beyond clustering —
  * [[Dedup.connectedComponents]] covers the equivalence side; this
  * file holds iterative rank propagation. */
object Graph {
  /** Deterministic PageRank over the supplier-nation → customer-nation
    * trade graph (edge weight = lineitem count between the nations).
    * Fixed-point integer arithmetic end to end: ranks live at scale
    * 1e12, edge transition fractions at ppm, damping 0.85 as the
    * rational 85/100, every division an integer floor — so all
    * engines compute bit-identical ranks, where a float PageRank's
    * sum order would diverge by ulps. Per-edge term is
    * (rank * frac_ppm) div 1e6 ≤ 1e12 BEFORE the sum, so no
    * intermediate exceeds BIGINT anywhere.
    *
    * Scale shape: the expensive part is the ONE pass over the fact
    * join building the edge frame (q7's join shape — broadcast dims,
    * partial-aggregated to ≤ N² rows map-side); the iteration then
    * runs entirely on that tiny frame (localCheckpointed like
    * connectedComponents, so rounds never re-run the fact join).
    * Dangling-node mass (a nation with no outbound trade) leaks, the
    * standard simplification — ranks remain a centrality ORDER, not
    * a distribution summing to 1. */
  def pageRankTrade(lineitem: DataFrame, orders: DataFrame,
                    customer: DataFrame, supplier: DataFrame,
                    nation: DataFrame, iters: Int = 3,
                    driverCutoff: Long = DriverCutoff.weightedArcRows)
      : DataFrame = {
    // the arc counts are the FrameCache-shared nation fact collapse
    // (one build for pagerank + sssp + closeness); fractions derive
    // lazily from the cached counts
    val rawEdges = nationArcCounts(lineitem, orders, customer, supplier)
      .select(col("esrc").as("src"), col("edst").as("dst"), col("w"))
    val outw = rawEdges.groupBy("src").agg(sum("w").as("ow"))
    val edges = rawEdges.join(outw, "src")
      .select(col("src"), col("dst"),
        expr("w * 1000000 div ow").as("frac_ppm"))
    // size-adaptive driver twin ([[DriverCutoff]]): the nation graph
    // is ≤ V² arcs, and [[pageRankPpm]] runs the rounds below on them
    DriverCutoff.collectUnder(edges.select(col("src").cast("long"),
        col("dst").cast("long"), col("frac_ppm").cast("long")),
      driverCutoff) match {
      case Some(rows) =>
        val natRows = nationNames(nation)
        val pr = pageRankPpm(longTriples(rows), natRows.map(_._1), iters)
        val out = natRows.sortBy(_._1).map { case (v, name) =>
          (name, pr(v), pr(v).toDouble / 1e12) }
        DriverCutoff.twinFrame(lineitem.sparkSession, out.toSeq,
          "n_name", "rank_scaled", "rank_norm")
      case None =>
        val nodes = nation.select(col("n_nationkey").cast("long").as("node"))
        val ranks = pageRankRounds(nodes, nodes.count(), edges, iters)
        ranks
          .join(broadcast(nation),
            ranks("node") === nation("n_nationkey").cast("long"))
          .select(col("n_name"), col("pr").as("rank_scaled"),
            (col("pr").cast("double") / lit(1e12)).as("rank_norm"))
    }
  }

  /** FrameCache-shared inter-nation undirected edge frame (u < v,
    * distinct; ≤ 300 rows at any scale) — [[trianglesTrade]] used to
    * replay the 4-table fact join for every one of its FOUR uses of
    * this frame (und/deg/oriented×3 — a 174-Exchange, 2658-line
    * plan for graph_local_clustering), and [[localClustering]] paid
    * a fifth. One collapse per (dataset), like [[bipartitePairs]]. */
  private def nationEdges(lineitem: DataFrame, orders: DataFrame,
                          customer: DataFrame, supplier: DataFrame)
      : DataFrame = FrameCache.cached(lineitem.sparkSession,
    s"nue:${FrameCache.planKey(lineitem, orders, customer, supplier)}") {
    lineitem
      .join(orders, lineitem("l_orderkey") === orders("o_orderkey"))
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(supplier, lineitem("l_suppkey") === supplier("s_suppkey"))
      .select(col("s_nationkey").cast("long").as("a"),
        col("c_nationkey").cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()
      .localCheckpoint()
  }

  /** Triangle enumeration over the undirected nation trade graph
    * (an edge joins two nations with any lineitem trade in either
    * direction). Triangles are the clustering/community primitive —
    * the output is the sorted node triple set, one row per triangle.
    *
    * Scale shape: the classic compact-forward orientation — every
    * undirected edge is oriented from the (degree, id)-SMALLER
    * endpoint to the larger, so each wedge is enumerated at exactly
    * one apex and the per-node fan-out in the wedge self-join is
    * bounded by O(sqrt(|E|)) on any graph (arboricity bound) — a
    * hub with degree m contributes min(m, sqrt E)² wedges instead of
    * m². The closing check is one more equi-join on the oriented
    * edge list. Node ids never carry payloads; the whole iteration
    * frame is (src, dst) pairs. Orientation changes only the
    * intermediate size — the emitted triple set is identical, so the
    * oracle re-derives it with the plain id-ordered 3-way join. */
  def trianglesTrade(lineitem: DataFrame, orders: DataFrame,
                     customer: DataFrame, supplier: DataFrame): DataFrame = {
    val und = nationEdges(lineitem, orders, customer, supplier)
    val deg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient by (deg, id): src strictly smaller in the total order
    val oriented = und
      .join(deg.withColumnRenamed("node", "u").withColumnRenamed("deg", "du"), "u")
      .join(deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "dv"), "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          col("u")).otherwise(col("v")).as("src"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          col("v")).otherwise(col("u")).as("dst"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          struct(col("dv").as("d"), col("v").as("n")))
          .otherwise(struct(col("du").as("d"), col("u").as("n")))
          .as("dstOrd"))
    val e1 = oriented.select(col("src"), col("dst").as("b"),
      col("dstOrd").as("bOrd"))
    val e2 = oriented.select(col("src"), col("dst").as("c"),
      col("dstOrd").as("cOrd"))
    val wedges = e1.join(e2, "src")
      .filter(col("bOrd") < col("cOrd"))
      .select(col("src").as("apex"), col("b"), col("c"))
    // ord(b) < ord(c), so a closing edge {b,c} can only be stored
    // oriented as b -> c: one equi-join, no symmetrized union
    val closing = oriented.select(col("src").as("b"), col("dst").as("c"))
    wedges.join(closing, Seq("b", "c"))
      .select(least(col("apex"), col("b"), col("c")).as("n1"),
        greatest(
          least(col("apex"), col("b")),
          least(col("apex"), col("c")),
          least(col("b"), col("c"))).as("n2"),
        greatest(col("apex"), col("b"), col("c")).as("n3"))
  }

  /** Per-node local clustering coefficient over the inter-nation
    * trade graph: cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)) in exact ppm —
    * how much of each node's neighborhood is itself connected, the
    * node-level densification metric next to [[trianglesTrade]]'s
    * global triangle list (which this reuses verbatim: the oriented
    * wedge-join enumeration runs once, then each triangle credits
    * its three corners via a narrow 3-way explode). Nodes of degree
    * < 2 report NULL (the coefficient is undefined, not zero — a
    * pendant node has no wedge to close). All-integer arithmetic:
    * triangle counts and degrees are BIGINTs, the coefficient is one
    * integer division. */
  def localClustering(lineitem: DataFrame, orders: DataFrame,
                      customer: DataFrame, supplier: DataFrame)
      : DataFrame = {
    val tri = trianglesTrade(lineitem, orders, customer, supplier)
    val perNode = tri
      .select(explode(array(col("n1"), col("n2"), col("n3"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    val und = nationEdges(lineitem, orders, customer, supplier)
    val deg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg").cast("long").as("deg"),
        coalesce(col("n_triangles"), lit(0L)).cast("long")
          .as("n_triangles"),
        expr("""CASE WHEN deg >= 2 THEN
          coalesce(n_triangles, 0) * 2000000 div (deg * (deg - 1))
          END""").cast("long").as("cc_ppm"))
  }

  /** Degree histogram of the customer↔supplier trade graph: how many
    * distinct suppliers each buying customer touched, rolled up to a
    * (degree, n_customers) distribution — the shape diagnostic run
    * before any graph algorithm (a heavy tail says salt the hot
    * nodes; connectedComponents and pageRank both care). One fact
    * join (runtime-filterable dims), the distinct collapses on the
    * composite (customer, supplier) key with map-side partials, then
    * two count-only rollups — after the distinct nothing wider than
    * two BIGINTs shuffles. Customers with no orders have no degree
    * row by definition (a zero bucket would need the dim scan this
    * histogram deliberately avoids). */
  def degreeHistogram(lineitem: DataFrame, orders: DataFrame)
      : DataFrame =
    lineitem.join(orders,
        lineitem("l_orderkey") === orders("o_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct()
      .groupBy("o_custkey").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_customers"))

  /** Multi-source BFS hop distances over the bipartite
    * customer–supplier trade graph (edge = any lineitem between
    * them), seeded from every supplier of the lexicographically
    * first nation — "how many hops of business separate the market
    * from this supply region", the reachability primitive under
    * blast-radius and contagion analyses. Output is the compact hop
    * histogram (customers and suppliers first reached at each hop),
    * not per-node rows — at 100 TB the distance table is
    * node-sized, the report stays maxHops-sized.
    *
    * Scale shape: textbook frontier BFS — the edge frame is built
    * ONCE from the fact join (distinct (cust, supp) pairs collapse
    * map-side before the exchange) and localCheckpointed; each round
    * is frontier ⋈ edges on co-partitioned node ids, a distinct, and
    * an anti-join against the visited set, so a node re-reached
    * later never re-expands (min-hop by construction, like
    * [[graft.operators.Dedup.connectedComponents]]'s min-label).
    * Rounds are hop-bounded; every frame that crosses an exchange is
    * (node) or (node, hop) ids only. */
  def bfsTrade(lineitem: DataFrame, orders: DataFrame,
               supplier: DataFrame, nation: DataFrame,
               maxHops: Int = 4,
               driverCutoff: Long = DriverCutoff.bipartiteCollectRows)
      : DataFrame = {
    // even ids = customers, odd = suppliers: one namespace, no
    // structs. The distinct pair collapse is the FrameCache-shared
    // [[bipartitePairs]] (identical distinct set — the namespace map
    // is a bijection), so bfs/hits/k-core pay the corpus fact join
    // once per dataset instead of once each.
    val pairs = bipartitePairs(lineitem, orders)
    val e0 = pairs.select((col("cust") * 2).as("a"),
      (col("supp") * 2 + 1).as("b"))
    val srcNation = nation.orderBy("n_name", "n_nationkey").limit(1)
      .select("n_nationkey")
    val seeds = supplier
      .join(broadcast(srcNation), col("s_nationkey") === col("n_nationkey"))
      .select((col("s_suppkey") * 2 + 1).as("node"))
      .distinct()
    // size-adaptive driver BFS ([[DriverCutoff]]; [[hopBfs]]): the 4
    // distributed hops ran ~3 driver jobs each over KB frontiers at
    // sf0.1 (2.3 s of pure per-job fixed cost). The symmetrized frame
    // is 2 × 16-byte rows per pair in the budget.
    DriverCutoff.collectUnder(e0, driverCutoff / 2) match {
      case Some(rows) =>
        val arcs = longPairs(rows)
        val hop = hopBfs(adjacency(arcs ++ arcs.map(_.swap)),
          seeds.collect().map(_.getLong(0)), maxHops)
        val byHop = hop.toSeq.groupBy(_._2).toSeq.sortBy(_._1)
          .map { case (h, ns) =>
            (h, ns.count(_._1 % 2 == 0).toLong,
              ns.count(_._1 % 2 == 1).toLong)
          }
        DriverCutoff.twinFrame(lineitem.sparkSession, byHop,
          "hop", "n_customers", "n_suppliers")
      case None =>
        val edges = e0.union(e0.select(col("b").as("a"), col("a").as("b")))
          .localCheckpoint()
        var dist = seeds
          .withColumn("hop", lit(0L))
          .localCheckpoint()
        var frontier = dist.select("node")
        for (h <- 1 to maxHops) {
          val next = frontier.join(edges, col("node") === col("a"))
            .select(col("b").as("node")).distinct()
            .join(dist, Seq("node"), "left_anti")
            .withColumn("hop", lit(h.toLong))
            .localCheckpoint()
          dist = dist.union(next).localCheckpoint()
          frontier = next.select("node")
        }
        dist.groupBy("hop")
          .agg(count(when(col("node") % 2 === 0, 1)).as("n_customers"),
            count(when(col("node") % 2 === 1, 1)).as("n_suppliers"))
    }
  }

  /** Label-propagation communities (Raghavan et al. 2007) over the
    * weighted customer↔supplier purchase graph (the [[bfsTrade]]
    * even/odd node namespace): every round each node adopts the
    * label carrying the greatest incident edge weight among its
    * neighbors' current labels, ties to the smallest label — the
    * deterministic semi-synchronous LPA (the classic randomized
    * visit order would break the oracle gate), `iters` fixed rounds.
    * The bipartite key-level graph is the one with real community
    * structure; the nation-level roll-up is near-complete and
    * collapses to one community in a single round.
    *
    * Scale shape: ONE pass over the fact join collapses the corpus
    * to the weighted distinct (customer, supplier) edge frame
    * (partial-aggregated map-side), pre-partitioned on the join key
    * and localCheckpointed (LogicalRDD keeps the partitioning), so
    * every round's edge⋈label join shuffles ONLY the one-row-per-node
    * label frame — the big edge side is exchanged once at build, not
    * per round. The vote argmax is a min-struct aggregate, not a
    * window (no per-round sort), and it chains onto the vote rollup's
    * (node, label) partitioning. Linear in edges per round, state is
    * one label per node; integer edge-weight votes ⇒ bit-identical
    * label evolution on any engine. */
  def labelPropTrade(lineitem: DataFrame, orders: DataFrame,
                     iters: Int = 3): DataFrame = {
    val labels = lpaLabels(
      purchaseEdgesSym(lineitem, orders), iters)
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("community_size"))
    labels.join(sizes, "lbl")
      .select(col("node"), col("lbl").as("community"),
        col("community_size"))
  }

  /** The symmetrized weighted purchase edge frame (a, b, w) shared
    * by [[labelPropTrade]] and [[modularityTrade]] — one corpus
    * fact collapse per (dataset), memoized like [[repeatKeyEdges]];
    * pre-partitioned on the vote join key so every LPA round
    * shuffles only the label frame. */
  private def purchaseEdgesSym(lineitem: DataFrame, orders: DataFrame)
      : DataFrame = FrameCache.cached(lineitem.sparkSession,
    s"pes:${FrameCache.planKey(lineitem, orders)}") {
    val raw = lineitem.select(col("l_orderkey"), col("l_suppkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy((col("o_custkey") * 2).cast("long").as("a"),
        (col("l_suppkey") * 2 + 1).cast("long").as("b"))
      .agg(count(lit(1)).as("w"))
    raw
      .unionByName(raw.select(col("b").as("a"), col("a").as("b"),
        col("w")))
      .repartition(col("b"))
      .localCheckpoint()
  }

  /** [[lpaLabelsRaw]] memoized per (edge frame, iters): the 3-round
    * vote fixpoint is the dominant cost of BOTH community consumers
    * (communities pays it for the sizes rollup, modularity for the
    * score — measured 65.6 s + 133.7 s at sf10 when each re-ran it),
    * and like the edge collapse it is one deterministic frame a
    * deployment materializes once per (dataset, params). Keyed off
    * the INPUT frame's plan hash: a rebuilt edge frame re-keys, so
    * reuse can never cross datasets. keepOnlyLast prunes the
    * per-round checkpoints the loop leaves behind. */
  private def lpaLabels(edges: DataFrame, iters: Int): DataFrame =
    FrameCache.cached(edges.sparkSession,
      s"lpa:${FrameCache.planKey(edges)}:$iters", keepOnlyLast = true) {
      lpaLabelsRaw(edges, iters)
    }

  /** [[labelPropTrade]]'s deterministic semi-synchronous vote loop
    * over an already-built symmetric edge frame; returns the final
    * (node, lbl). */
  private def lpaLabelsRaw(edges: DataFrame, iters: Int): DataFrame = {
    val nodes = edges.select(col("a").as("node")).distinct()
    var labels = nodes.withColumn("lbl", col("node"))
    for (_ <- 0 until iters) {
      val best = edges
        .join(labels, edges("b") === labels("node"))
        .groupBy(col("a"), col("lbl"))
        .agg(sum("w").as("vw"))
        // argmax by (vw desc, lbl asc) as a plain aggregate: min over
        // the (-vw, lbl) struct — same tie-break as the oracle's
        // row_number ORDER BY vw DESC, lbl without a per-round sort
        .groupBy(col("a"))
        .agg(min(struct((-col("vw")).as("nv"), col("lbl").as("l")))
          .as("m"))
        .select(col("a").as("node"), col("m.l").as("newlbl"))
      labels = labels.select("node", "lbl")
        .join(best, Seq("node"), "left")
        .select(col("node"), coalesce(col("newlbl"), col("lbl")).as("lbl"))
        .localCheckpoint()
    }
    labels
  }

  /** MODULARITY score of the LPA communities — the quality gate the
    * community family lacked (the r11 verdict's named gap): for the
    * weighted undirected purchase graph with partition C,
    *   Q = Σ_c [ in_c/2m − (tot_c/2m)² ]
    * where in_c = intra-community weight (both directions), tot_c =
    * summed node strength in c, 2m = total directed weight. Emitted
    * PER COMMUNITY as an exact integer-ppm contribution
    *   q_contrib_ppm = in_c·10⁶ div 2m − (tot_c·10⁶ div 2m)² div 10⁶
    * — every division an integer floor on BIGINTs, bit-identical on
    * any engine (Σ over rows ≈ Q·10⁶; the per-community rows are
    * the actionable output: a community with in_c ≈ (tot_c)²/2m is
    * noise, one far above is real co-purchase structure). Newman &
    * Girvan 2004's Q, integerized to the oracle contract.
    *
    * Scale shape: the corpus is touched once ([[purchaseEdgesSym]]'s
    * memoized collapse, shared with [[labelPropTrade]]); labels ride
    * the same O(edges)-per-round LPA; the score is two label joins
    * on the edge frame + two groupBys over O(communities) rows. 2m
    * is ONE driver scalar off an agg — the only collect. All-BIGINT
    * arithmetic, recursive-CTE-free oracle.
    *
    * KNOWN STRUCTURAL VERDICT: on this bipartite graph,
    * semi-synchronous LPA label parities alternate oppositely per
    * side, so no community ever mixes customers and suppliers, every
    * arc crosses communities, and in_w ≡ 0 / Q < 0 — at any iters
    * and any SF. That IS the measurement (3-round deterministic LPA
    * side-segregates the purchase graph); the unipartite score where
    * in_w is live is [[modularityProjection]]. */
  def modularityTrade(lineitem: DataFrame, orders: DataFrame,
                      iters: Int = 3): DataFrame = {
    val edges = purchaseEdgesSym(lineitem, orders)
    modularityOf(edges, lpaLabels(edges, iters))
  }

  /** The per-community integer-ppm modularity rollup shared by
    * [[modularityTrade]] and [[modularityProjection]]: `edges` is a
    * symmetric (a, b, w) frame (both directions present), `labels`
    * the (node, lbl) partition to score. Two label joins on the
    * O(edges) frame + two O(communities) groupBys; 2m is ONE driver
    * scalar off an agg — the only collect. */
  private def modularityOf(edges: DataFrame, labels: DataFrame)
      : DataFrame = {
    val twoM = edges.select(coalesce(sum("w"), lit(0L))).head().getLong(0)
    // edge-free corpus: no communities, and every div-by-2m below
    // would throw — empty frame with the declared schema
    if (twoM == 0L)
      return edges.select(col("a").as("community"),
        col("a").as("n_nodes"), col("a").as("in_w"),
        col("a").as("tot_w"), col("a").as("q_contrib_ppm")).limit(0)
    // one pass over the labeled edge frame, not three: join the
    // b-side labels FIRST (the edge frame ships repartitioned on b —
    // the LPA vote join's layout — so the big side moves zero bytes),
    // then the a-side labels (the one unavoidable big exchange), and
    // fold intra-weight + strength into a single (a, la) aggregate —
    // tot/in/n_nodes all fall out of its O(nodes) result (measured:
    // the two-join-per-rollup form re-exchanged the 100M-arc sf10
    // frame twice)
    val labeled = edges
      .join(labels.select(col("node").as("b"), col("lbl").as("lb")), "b")
      .join(labels.select(col("node").as("a"), col("lbl").as("la")), "a")
    val perNode = labeled.groupBy(col("a"), col("la"))
      .agg(sum("w").as("s"),
        coalesce(sum(when(col("la") === col("lb"), col("w"))), lit(0L))
          .as("si"))
    perNode.groupBy(col("la").as("community"))
      .agg(count(lit(1)).as("n_nodes"), sum("si").as("in_w"),
        sum("s").as("tot_w"))
      .select(col("community"), col("n_nodes"), col("in_w"), col("tot_w"),
        (expr(s"in_w * 1000000 div ${twoM}L") -
          expr(s"((tot_w * 1000000 div ${twoM}L) * " +
            s"(tot_w * 1000000 div ${twoM}L)) div 1000000"))
          .as("q_contrib_ppm"))
  }

  /** LPA communities + modularity over the WEIGHTED co-sourcing
    * projection — the unipartite companion [[modularityTrade]]
    * structurally cannot be: on the bipartite purchase graph,
    * semi-synchronous LPA labels alternate parity OPPOSITELY per
    * side every round (customers carry odd-side labels exactly when
    * suppliers carry even-side ones), so no community ever mixes
    * sides, every arc crosses communities, and in_w ≡ 0 — Q < 0
    * identically, at any iteration count and any scale (the honest
    * verdict 44aw17 records). The co-sourcing projection
    * ([[coSourceEdges]], ns = shared-supplier count as the edge
    * weight) is unipartite with real triangle structure, so the
    * same 3 deterministic LPA rounds produce communities with
    * genuine intra-edges and the full Newman-Girvan decomposition —
    * in_c > 0 against the (tot_c)²/2m null — does its job.
    *
    * Scale shape: rides the memoized projection (one capped
    * fan-out, shared with triangles/clustering/cosource); LPA is
    * O(projection edges) per round; the rollup is
    * [[modularityOf]]'s two label joins. */
  def modularityProjection(lineitem: DataFrame, orders: DataFrame,
                           cap: Int = 64, minShared: Int = 2,
                           iters: Int = 3): DataFrame = {
    val und = coSourceEdges(lineitem, orders, cap, minShared)
    val sym = FrameCache.cached(lineitem.sparkSession,
      s"csym:${FrameCache.planKey(lineitem, orders)}:$cap:$minShared") {
      und.select(col("u").as("a"), col("v").as("b"), col("ns").as("w"))
        .unionByName(und.select(col("v").as("a"), col("u").as("b"),
          col("ns").as("w")))
        .repartition(col("b"))
        .localCheckpoint()
    }
    modularityOf(sym, lpaLabels(sym, iters))
  }

  /** Capped pair fan-out Σ min(deg, cap)·(min(deg, cap)−1)/2 of the
    * LP family — one cheap aggregate over the memoized pair frame.
    * Decides whether the τ̂ certificate can possibly pay for itself:
    * the prune's value is proportional to the fan-out it can cut,
    * while its cost (sampled self-join + two driver collects) is
    * fixed. Below [[DriverCutoff.pairRows]] enumerated pairs the
    * whole fan-out is seconds of work and the certificate is pure
    * overhead — skip it, which by the documented lossless-bound
    * argument leaves the gated result bit-identical (τ̂ = 0 ⇒ the
    * unpruned plan verbatim). Measured at sf0.1 (2.0M fan-out): the
    * certificate jobs were ~40% of each LP key's wall clock. */
  // the fan-out scalar is a pure function of the pair frame's input
  // identity (planKey folds the scanned files) and the cap, so the
  // aggregate+collect pass runs once per (dataset, cap) — each LP key
  // used to re-pay it per invocation purely to decide to do what it
  // always does at this scale (r12 ADVICE)
  private def lpFanOut(pairs: DataFrame, cap: Int): Long =
    FrameCache.scalar(s"lpFanOut:${FrameCache.planKey(pairs)}:$cap") {
      pairs.groupBy("supp")
        .agg(least(count(lit(1)), lit(cap.toLong)).as("d"))
        .agg(coalesce(sum(expr("d * (d - 1)")), lit(0L)).as("f"))
        .collect()(0).getLong(0) / 2
    }

  /** Common-neighbor link prediction over the bipartite
    * customer↔supplier purchase graph: the top-k customer pairs by
    * Jaccard of their (capped) supplier-shared neighborhoods — "these
    * two customers buy from the same suppliers but never from each
    * other" is the classic recommendation/entity-resolution signal,
    * and the neighbor-set Jaccard beats the raw common count because
    * it normalizes away the megacustomer that co-occurs with
    * everyone.
    *
    * Scale contract: the pair fan-out of a posting self-join is
    * Σ deg(supplier)² — quadratic in the hottest supplier. Each
    * supplier's customer list is therefore CAPPED at `cap` members
    * (smallest md5("cn:"+supp+":"+cust) first, so the kept sublist is
    * deterministic, engine-re-derivable, and stable under
    * resharding), which bounds the fan-out at cap²·|suppliers|/2 —
    * linear in suppliers at any SF. Degrees and Jaccard are defined
    * over the SAME capped adjacency, so the score is exact for the
    * capped graph (the documented estimator, like
    * [[graft.operators.TextAnalysis.ngramJaccardCapped]]). The
    * global top-k is TakeOrderedAndProject (per-partition heaps +
    * driver merge of k rows), never a global sort. */
  def commonNeighbors(lineitem: DataFrame, orders: DataFrame,
                      cap: Int = 64, k: Int = 50,
                      certificateFloor: Long = DriverCutoff.pairRows)
      : DataFrame = {
    val edges = bipartitePairs(lineitem, orders)
    val smallFan = lpFanOut(edges, cap) <= certificateFloor
    val capped = edges
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("supp")
          .orderBy(md5(concat(lit("cn:"), col("supp").cast("string"),
            lit(":"), col("cust").cast("string"))), col("cust"))))
      .filter(col("rn") <= cap)
      .select("cust", "supp")
    val deg = capped.groupBy("cust").agg(count(lit(1)).as("deg"))
    // degrees attach to the SMALL capped adjacency (≤ cap·|S| rows)
    // BEFORE the pair fan-out: joining them after would re-shuffle
    // the pair table — the largest frame in the plan — twice.
    // Measured at sf10 (200 M-row fan-out): deg-after = 283 s,
    // deg-before self-join = 187 s, and the qBasketPairs-style
    // join-free emission (collect_list + nested-transform pair
    // structs) = 281 s — the lambda pair generator runs OUTSIDE
    // whole-stage codegen and loses to the codegen'd sort-merge
    // self-join once the per-group fan-out is thousands (baskets
    // are ≤ tens, which is why the same shape WINS in qBasketPairs).
    // r8 prune-before-aggregate (below) re-measured the same sf10
    // run at 27.8 s warm (cap 64; 187 s unpruned) and 167 s at cap
    // 128 — the cap² fan-out contract with the degree-ratio filter
    // cutting the pair exchange ~6×; tops byte-identical at both
    // caps, gate-SF hash-exact vs the unchanged full oracle.
    // FrameCache: the capped adjacency (64k rows at sf0.1) costs an
    // md5-keyed window sort over the full pair frame per build —
    // shared across the bench passes like the other family frames
    val withDeg = FrameCache.cached(lineitem.sparkSession,
      s"lpd:cn:${FrameCache.planKey(edges)}:$cap") {
      capped.join(deg, "cust").localCheckpoint()
    }
    // prune-before-aggregate: a 1/8 deterministic CUSTOMER sample
    // keeps its members' ENTIRE posting rows, so every sampled pair
    // (both endpoints sampled — ~1/64 of the fan-out) aggregates to
    // its EXACT jaccard; τ̂ = the k-th best sampled score is then a
    // true lower bound on the global k-th score τ, and every pair
    // whose UPPER bound ⌊min(deg)·1e6 / max(deg)⌋ (c ≤ min(deg1,
    // deg2), denominator ≥ max(deg1, deg2)) falls below τ̂ provably
    // misses the top-k. The filter runs on the join output BEFORE
    // the pair exchange, so what it cuts is the big shuffle —
    // lossless by the bound argument; τ̂ = 0 (no prune) when the
    // sample yields < k pairs, so the gate-SF output is the
    // unpruned plan verbatim.
    val tau = if (smallFan) 0L else {
      val sampled = withDeg.filter(
        expr("CAST(conv(substr(md5(concat('cns:', CAST(cust AS STRING)))," +
          " 1, 15), 16, 10) AS BIGINT) % 8 = 0"))
      val tauRows = sampled.as("x")
        .join(sampled.as("y"),
          col("x.supp") === col("y.supp") && col("x.cust") < col("y.cust"))
        .groupBy(col("x.cust").as("cust1"), col("y.cust").as("cust2"),
          col("x.deg").as("deg1"), col("y.deg").as("deg2"))
        .agg(count(lit(1)).as("c_ex"))
        .select(expr("c_ex * 1000000 div (deg1 + deg2 - c_ex)").as("lb"))
        .orderBy(col("lb").desc).limit(k).collect()
      if (tauRows.length < k) 0L else tauRows.last.getLong(0)
    }
    val pairs = withDeg.as("x")
      .join(withDeg.as("y"),
        col("x.supp") === col("y.supp") && col("x.cust") < col("y.cust"))
      .filter(expr("least(x.deg, y.deg) * 1000000 " +
        s"div greatest(x.deg, y.deg) >= $tau"))
      .groupBy(col("x.cust").as("cust1"), col("y.cust").as("cust2"),
        col("x.deg").as("deg1"), col("y.deg").as("deg2"))
      .agg(count(lit(1)).as("n_common"))
    pairs
      .select(col("cust1"), col("cust2"), col("n_common"),
        col("deg1"), col("deg2"),
        expr("n_common * 1000000 div (deg1 + deg2 - n_common)")
          .as("jaccard_ppm"))
      .orderBy(col("jaccard_ppm").desc, col("cust1"), col("cust2"))
      .limit(k)
  }

  /** k-core peeling over the bipartite customer↔supplier trade graph
    * (edge = any lineitem between them): `rounds` synchronous rounds
    * of "drop every node with degree < k, then recount" — the dense-
    * subgraph primitive behind fraud-ring and power-user detection
    * (the k-core is where every member keeps ≥ k live ties after all
    * weaker nodes leave). Semi-synchronous peeling (both sides drop
    * against the SAME round's degrees) is deterministic, so the
    * per-round shrink trace — the output: one row per round with
    * surviving customers / suppliers / edges — is bit-identical on
    * any engine. A fixed round count is the contract (the trace IS
    * the result; convergence shows as equal tail rows).
    *
    * Scale shape: the edge frame is built ONCE from the fact join
    * (distinct pairs collapse map-side) and localCheckpointed; each
    * round is two partial-aggregable degree counts plus two
    * key-joins on the shrinking edge frame — linear in surviving
    * edges per round, and only (cust, supp) id pairs ever cross an
    * exchange. */
  def kCoreTrade(lineitem: DataFrame, orders: DataFrame,
                 k: Int = 20, rounds: Int = 4,
                 driverCutoff: Long = DriverCutoff.bipartiteCollectRows)
      : DataFrame = {
    var e = bipartitePairs(lineitem, orders)
    DriverCutoff.collectUnder(e, driverCutoff) match {
      case Some(rows) =>
        // size-adaptive driver peel ([[DriverCutoff]]): each of the 4
        // distributed rounds paid a checkpoint job + trace aggregates
        // over a KB-scale shrinking frame at sf0.1 — semi-synchronous
        // peeling is a pair-list filter the driver runs in
        // microseconds once the memoized pair collapse is in hand.
        // Value-equal by construction (the round trace is determined
        // by the peel rule); Round12Spec pins the boundary byte-equal.
        var pairs = longPairs(rows)
        val trace = mutable.ArrayBuffer
          .empty[(Long, Long, Long, Long)]
        for (r <- 1 to rounds) {
          val dc = mutable.LongMap.empty[Int].withDefaultValue(0)
          val ds = mutable.LongMap.empty[Int].withDefaultValue(0)
          pairs.foreach { case (c, s) => dc(c) += 1; ds(s) += 1 }
          pairs = pairs.filter { case (c, s) => dc(c) >= k && ds(s) >= k }
          val nc = mutable.LongMap.empty[Unit]
          val ns = mutable.LongMap.empty[Unit]
          pairs.foreach { case (c, s) => nc(c) = (); ns(s) = () }
          trace += ((r.toLong, nc.size.toLong, ns.size.toLong,
            pairs.length.toLong))
        }
        DriverCutoff.twinFrame(lineitem.sparkSession, trace.toSeq,
          "round", "n_customers", "n_suppliers", "n_edges")
      case None =>
        val trace = mutable.ArrayBuffer.empty[DataFrame]
        for (r <- 1 to rounds) {
          val keepC = e.groupBy("cust").agg(count(lit(1)).as("dc"))
            .filter(col("dc") >= k).select("cust")
          val keepS = e.groupBy("supp").agg(count(lit(1)).as("ds"))
            .filter(col("ds") >= k).select("supp")
          e = e.join(keepC, "cust").join(keepS, "supp").localCheckpoint()
          trace += e.agg(
            countDistinct("cust").as("n_customers"),
            countDistinct("supp").as("n_suppliers"),
            count(lit(1)).as("n_edges"))
            .select(lit(r.toLong).as("round"), col("n_customers"),
              col("n_suppliers"), col("n_edges"))
        }
        trace.reduce(_ unionByName _)
    }
  }

  /** k-truss peeling over the capped co-sourcing projection
    * ([[coSourceEdges]]) — the EDGE-support sibling of
    * [[kCoreTrade]]'s node-degree peel: `rounds` synchronous rounds
    * of "count each edge's triangles, drop edges supporting fewer
    * than k−2, recount". The k-truss is the standard
    * stronger-than-k-core cohesion core (every surviving tie is
    * re-witnessed by ≥ k−2 common partners — the community-defining
    * condition of Cohen 2008), and the peel trace — one row per
    * round with surviving edges / customers / input triangles — is
    * the output, bit-identical on any engine (all counts). The
    * bipartite purchase graph itself is triangle-free by parity, so
    * like the triangle/clustering family this runs on the one-mode
    * projection.
    *
    * Scale shape: triangles enumerate per round via the same
    * compact-forward orientation as [[triangleCorners]] (wedges at
    * the (deg,id)-smaller apex — per-node fan-out O(√E) by the
    * arboricity bound, never hub-degree²), each triangle credits
    * its three member edges through one narrow explode, and the
    * peel is one (u,v)-keyed semi-shape join on the shrinking
    * checkpointed edge frame — linear in surviving wedges per
    * round, only id pairs on the wire. The oracle re-derives the
    * identical trace from the plain id-ordered 3-way join:
    * orientation changes only intermediate sizes. */
  def kTrussTrade(lineitem: DataFrame, orders: DataFrame,
                  cap: Int = 64, minShared: Int = 2,
                  k: Int = 4, rounds: Int = 3,
                  driverCutoff: Long = DriverCutoff.pairRows): DataFrame = {
    val eSrc = coSourceEdges(lineitem, orders, cap, minShared)
      .select("u", "v")
    DriverCutoff.collectUnder(eSrc, driverCutoff) match {
      case Some(rows) =>
        // size-adaptive driver peel ([[DriverCutoff]]): per-edge
        // support on a u<v edge set is |N(u) ∩ N(v)| — exactly what
        // the distributed round's triangle-credit explode counts
        // (each closed triangle credits its three member edges once),
        // so the trace is value-equal by construction; Round12Spec
        // pins the boundary byte-equal. The 3 distributed rounds paid
        // 2 checkpoint jobs + 3 aggregates each over the KB-scale
        // projection at sf0.1.
        var edges = longPairs(rows).toSeq
        val trace = mutable.ArrayBuffer
          .empty[(Long, Long, Long, Long)]
        for (r <- 1 to rounds) {
          val adj = mutable.LongMap.empty[mutable.Set[Long]]
          edges.foreach { case (u, v) =>
            adj.getOrElseUpdate(u, mutable.Set.empty[Long]) += v
            adj.getOrElseUpdate(v, mutable.Set.empty[Long]) += u
          }
          val sup = edges.map { case (u, v) =>
            ((u, v), (adj(u) & adj(v)).size.toLong) }.toMap
          val nTri = sup.values.sum / 3
          // the distributed peel inner-joins the support frame, which
          // only carries sup ≥ 1 edges — so the effective threshold is
          // max(k−2, 1) even for k ≤ 2
          edges = edges.filter(e => sup(e) >= k - 2 && sup(e) >= 1)
          val nNodes = edges.flatMap(e => Seq(e._1, e._2))
            .distinct.size.toLong
          trace += ((r.toLong, edges.size.toLong, nNodes, nTri))
        }
        DriverCutoff.twinFrame(lineitem.sparkSession, trace.toSeq,
          "round", "n_edges", "n_customers", "n_triangles")
      case None =>
        var e = eSrc.localCheckpoint()
        val trace = mutable.ArrayBuffer.empty[DataFrame]
        for (r <- 1 to rounds) {
          // one row per (triangle, member edge), edges normalized u < v
          val credits = closedTriangles(e)
            .select(explode(array(
              struct(least(col("apex"), col("b")).as("eu"),
                greatest(col("apex"), col("b")).as("ev")),
              struct(least(col("apex"), col("c")).as("eu"),
                greatest(col("apex"), col("c")).as("ev")),
              struct(least(col("b"), col("c")).as("eu"),
                greatest(col("b"), col("c")).as("ev")))).as("m"))
            .select(col("m.eu").as("u"), col("m.ev").as("v"))
          val support = credits.groupBy("u", "v")
            .agg(count(lit(1)).as("sup")).localCheckpoint()
          e = e.join(support.filter(col("sup") >= k - 2)
            .select("u", "v"), Seq("u", "v")).localCheckpoint()
          // each triangle credits exactly 3 edges, so Σsup ≡ 0 (mod 3)
          // and the integer div is exact (never the float `/`)
          val triAgg = support.agg(
            expr("CAST(coalesce(sum(sup), 0) div 3 AS BIGINT)")
              .as("n_triangles"))
          val nodeAgg = e.select(col("u").as("nd"))
            .unionAll(e.select(col("v").as("nd")))
            .agg(countDistinct("nd").as("n_customers"))
          trace += e.agg(count(lit(1)).as("n_edges"))
            .crossJoin(nodeAgg).crossJoin(triAgg)
            .select(lit(r.toLong).as("round"), col("n_edges"),
              col("n_customers"), col("n_triangles"))
        }
        trace.reduce(_ unionByName _)
    }
  }

  /** HITS hubs-and-authorities (Kleinberg 1999) over the bipartite
    * trade graph: customers are pure hubs, suppliers pure
    * authorities — `a = Eᵀh; h = E a` Gauss-Seidel rounds with
    * sum-normalization to the 1e12 fixed-point scale each half-step,
    * every division an integer floor, so all engines compute
    * bit-identical scores (the float HITS power iteration's sum
    * order would diverge by ulps). The raw per-node sums ride
    * DECIMAL(38,0) (a hot node can neighbor the whole other side:
    * |C|·1e12 overflows BIGINT at ~9 M customers), then the
    * normalize division returns scores to ≤ 1e12 longs. Output: the
    * top-k authorities and top-k hubs (ties to the smaller id) —
    * per-partition heaps + driver merge, never a global sort.
    *
    * Scale shape: the edge frame builds once and localCheckpoints;
    * each half-step is one id-keyed join of the one-row-per-node
    * score frame against the edges plus a partial-aggregable sum —
    * linear in edges per round, ids and scores only on the wire. */
  def hitsTrade(lineitem: DataFrame, orders: DataFrame,
                iters: Int = 3, k: Int = 20,
                driverCutoff: Long = DriverCutoff.bipartiteCollectRows)
      : DataFrame = {
    val S = 1000000000000L
    val e = bipartitePairs(lineitem, orders)
    // the driver twin's Long raw-sum exactness argument (below) holds
    // only while edges·S < 2⁶³; a caller-supplied driverCutoff past
    // that bound must fall through to the distributed DECIMAL(38,0)
    // path instead of silently overflowing (r12 ADVICE)
    val exactnessCap = Long.MaxValue / S // 9 223 372 edges
    DriverCutoff.collectUnder(e, math.min(driverCutoff, exactnessCap)) match {
      case Some(rows) =>
        // size-adaptive driver twin ([[DriverCutoff]]): the 3
        // Gauss-Seidel rounds each paid 2 checkpoint jobs + 2
        // broadcast-total subqueries over one-row-per-node frames
        // (2.5 s of fixed cost at sf0.1). Identical arithmetic: raw
        // sums in BigInt (≙ the DECIMAL(38,0) column), normalize =
        // raw·1e12 div tot as exact integer floor, ties to the
        // smaller id. Round12Spec pins the boundary byte-equal.
        val edges = longPairs(rows)
        if (edges.isEmpty)
          return DriverCutoff.twinFrame(lineitem.sparkSession,
            Seq.empty[(String, Long, Long)], "role", "node", "score")
        val hubM = mutable.LongMap.empty[Long]
        val authM = mutable.LongMap.empty[Long]
        edges.foreach { case (c, _) => hubM(c) = S }
        edges.foreach { case (_, s) => authM(s) = S }
        // per-node raw sums stay in Long: scores are ≤ 1e12 and the
        // edge count is ≤ DriverCutoff.pairRows (8.39M), so any raw
        // sum and the grand total are ≤ 8.39e18 < 2⁶³−1 — the Long
        // accumulation is exact, matching the DECIMAL(38,0) column;
        // only the per-node normalize raw·1e12 needs BigInt headroom
        for (_ <- 0 until iters) {
          val ar = mutable.LongMap.empty[Long].withDefaultValue(0L)
          var tot = 0L
          edges.foreach { case (c, s) =>
            ar(s) += hubM(c); tot += hubM(c) }
          ar.foreach { case (s, raw) =>
            authM(s) = (BigInt(raw) * S / tot).toLong }
          val hr = mutable.LongMap.empty[Long].withDefaultValue(0L)
          var tot2 = 0L
          edges.foreach { case (c, s) =>
            hr(c) += authM(s); tot2 += authM(s) }
          hr.foreach { case (c, raw) =>
            hubM(c) = (BigInt(raw) * S / tot2).toLong }
        }
        val topA = authM.toSeq.sortBy { case (s, a) => (-a, s) }.take(k)
          .map { case (s, a) => ("authority", s, a) }
        val topH = hubM.toSeq.sortBy { case (c, h) => (-h, c) }.take(k)
          .map { case (c, h) => ("hub", c, h) }
        DriverCutoff.twinFrame(lineitem.sparkSession, topA ++ topH,
          "role", "node", "score")
      case None =>
        var hub = e.select("cust").distinct().withColumn("h", lit(S))
        var auth = e.select("supp").distinct().withColumn("a", lit(S))
        for (_ <- 0 until iters) {
          val ar = e.join(hub, "cust").groupBy("supp")
            .agg(sum(col("h").cast("decimal(38,0)")).as("raw"))
          auth = ar.crossJoin(broadcast(ar.agg(sum("raw").as("tot"))))
            .select(col("supp"),
              expr("CAST(raw * 1000000000000 div tot AS BIGINT)").as("a"))
            .localCheckpoint()
          val hr = e.join(auth, "supp").groupBy("cust")
            .agg(sum(col("a").cast("decimal(38,0)")).as("raw"))
          hub = hr.crossJoin(broadcast(hr.agg(sum("raw").as("tot"))))
            .select(col("cust"),
              expr("CAST(raw * 1000000000000 div tot AS BIGINT)").as("h"))
            .localCheckpoint()
        }
        val topAuth = auth
          .orderBy(col("a").desc, col("supp")).limit(k)
          .select(lit("authority").as("role"), col("supp").as("node"),
            col("a").as("score"))
        val topHub = hub
          .orderBy(col("h").desc, col("cust")).limit(k)
          .select(lit("hub").as("role"), col("cust").as("node"),
            col("h").as("score"))
        topAuth.unionByName(topHub)
    }
  }

  /** Resource-allocation link prediction over the capped bipartite
    * customer↔supplier graph: RA(c1,c2) = Σ_{s ∈ common} 1/deg(s),
    * the index that beats raw common-neighbor counts by discounting
    * promiscuous hub suppliers (a shared niche supplier is strong
    * evidence, a shared megasupplier is none) — the complement to
    * [[commonNeighbors]]' Jaccard, which normalizes by the PAIR's
    * degrees instead of the witness's.
    *
    * Same scale contract as [[commonNeighbors]]: each supplier's
    * customer list is capped at `cap` (smallest md5("ra:"+supp+":"+
    * cust) first — deterministic under resharding), bounding the
    * self-join fan-out at cap²·|suppliers|/2, and the per-witness
    * weight 1000000 div deg(s) is an exact BIGINT over the SAME
    * capped adjacency, so the summed score is engine-reproducible to
    * the unit. Degrees attach to the capped frame BEFORE the pair
    * fan-out (the measured deg-before lesson at :312), and the
    * top-k is TakeOrderedAndProject — never a global sort. */
  def resourceAllocation(lineitem: DataFrame, orders: DataFrame,
                         cap: Int = 64, k: Int = 50,
                         certificateFloor: Long = DriverCutoff.pairRows)
      : DataFrame =
    witnessWeightedTopK(lineitem, orders, cap, k,
      capSalt = "ra:", sampleSalt = "ras:",
      weightSql = "1000000 div sdeg", scoreName = "ra_ppm",
      certificateFloor = certificateFloor)

  /** Adamic–Adar link prediction: AA(c1,c2) = Σ_{s ∈ common}
    * 1/log deg(s) — the witness-weighted index between raw common
    * counts and [[resourceAllocation]]'s aggressive 1/deg discount
    * (log damping keeps mid-degree witnesses informative where RA
    * zeroes them out). The log is the exact integer bit-length
    * `⌊log2 sdeg⌋ = length(bin(sdeg)) − 1` — the repo's libm-free
    * log the NB classifier already gates on — so the summed score
    * `Σ 1e6 div ⌊log2 sdeg⌋` is BIGINT-exact on any engine.
    * Degree-1 witnesses (⌊log2⌋ = 0) produce no pairs at all, so
    * the division never sees a zero. Same capped adjacency, same
    * customer-sampled lossless τ̂ prune, same plan shape as RA —
    * one shared generator, different witness weight. */
  def adamicAdar(lineitem: DataFrame, orders: DataFrame,
                 cap: Int = 64, k: Int = 50,
                 certificateFloor: Long = DriverCutoff.pairRows)
      : DataFrame =
    witnessWeightedTopK(lineitem, orders, cap, k,
      capSalt = "aa:", sampleSalt = "aas:",
      weightSql = "1000000 div (length(bin(sdeg)) - 1)",
      scoreName = "aa_ppm", minSdeg = 2,
      certificateFloor = certificateFloor)

  /** The shared witness-weighted link-prediction generator behind
    * [[resourceAllocation]] and [[adamicAdar]]: capped adjacency,
    * per-witness BIGINT weight `weightSql` over the capped supplier
    * degree, customer-sampled τ̂ + adaptive W-prune, pair sum,
    * top-k. */
  private def witnessWeightedTopK(lineitem: DataFrame, orders: DataFrame,
                                  cap: Int, k: Int, capSalt: String,
                                  sampleSalt: String, weightSql: String,
                                  scoreName: String, minSdeg: Int = 1,
                                  certificateFloor: Long =
                                    DriverCutoff.pairRows)
      : DataFrame = {
    val edges = bipartitePairs(lineitem, orders)
    // small fan-out ⇒ the τ̂ certificate cannot pay for its own jobs;
    // skipping it is lossless (τ̂ = 0 ⇒ unpruned plan verbatim) —
    // see [[lpFanOut]]
    val smallFan = lpFanOut(edges, cap) <= certificateFloor
    val capped = edges
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("supp")
          .orderBy(md5(concat(lit(capSalt), col("supp").cast("string"),
            lit(":"), col("cust").cast("string"))), col("cust"))))
      .filter(col("rn") <= cap)
      .select("cust", "supp")
    val wt = capped.groupBy("supp")
      .agg(count(lit(1)).as("sdeg"))
      .filter(col("sdeg") >= minSdeg)
      .select(col("supp"), expr(weightSql).as("w"))
    // FrameCache — see commonNeighbors' withDeg note; the weight
    // column is a pure function of (capSalt, cap, minSdeg, weight
    // expression), all folded into the key
    val withW = FrameCache.cached(lineitem.sparkSession,
      s"lpd:$capSalt${FrameCache.planKey(edges)}:$cap:$minSdeg:" +
        weightSql.hashCode) {
      capped.join(wt, "supp").localCheckpoint()
    }
    // prune-before-pair: W(c) = Σ_{s∈N(c)} w(s) bounds every pair
    // containing c (RA(c1,c2) ≤ min(W1, W2) — the common set is a
    // subset of either side's suppliers), so once a sampled τ̂ is in
    // hand, customers with W < τ̂ leave the POSTING LISTS before the
    // self-join — a GENERATION-level prune (min(W1, W2) ≥ τ̂ is
    // exactly "both endpoints survive", so no per-row filter
    // needed). τ̂ comes from a 1/8 deterministic CUSTOMER sample:
    // sampled members keep their entire posting rows, so every
    // both-sampled pair (~1/64 of the fan-out) sums to its EXACT RA
    // score and the k-th best is a true lower bound on τ. The prune
    // is ADAPTIVE: when the W histogram says < 5% of customers fall
    // below τ̂ (the skew-free synthetic corpus), the posting-list
    // join is skipped entirely and the plan is the unpruned original
    // — the τ̂ pass itself stays, priced at the 1/64 sample.
    // Lossless either way; τ̂ = 0 when the sample yields < k pairs.
    val tau = if (smallFan) 0L else {
      val sampled = withW.filter(
        expr(s"CAST(conv(substr(md5(concat('$sampleSalt', " +
          "CAST(cust AS STRING))), 1, 15), 16, 10) AS BIGINT) % 8 = 0"))
      val tauRows = sampled.as("x")
        .join(sampled.as("y"),
          col("x.supp") === col("y.supp") && col("x.cust") < col("y.cust"))
        .groupBy(col("x.cust").as("cust1"), col("y.cust").as("cust2"))
        .agg(sum(col("x.w")).as("s_ex"))
        .select(col("s_ex").cast("long").as("s_ex"))
        .orderBy(col("s_ex").desc).limit(k).collect()
      if (tauRows.length < k) 0L else tauRows.last.getLong(0)
    }
    val pruned = if (tau == 0L) withW else {
      val cw = withW.groupBy("cust")
        .agg(sum("w").as("cw"), count(lit(1)).as("cdeg"))
        .localCheckpoint()
      // engage only when the prune removes ≥ 1/3 of POSTING ROWS —
      // pruned customers are the low-degree tail, so a headcount
      // fraction overstates the fan-out actually saved, and below
      // this bar the extra cust-join costs more than it cuts
      // (measured at sf10: engaging at a ~7% row cut ran 67–106 s
      // vs 47.8 s baseline; skipping holds the baseline + the ~5 s
      // τ̂ certificate)
      val Array(below, total) = cw.agg(
        coalesce(sum(when(col("cw") < tau, col("cdeg"))), lit(0L)),
        sum(col("cdeg"))).collect()(0)
        .toSeq.map(_.asInstanceOf[Long]).toArray
      if (below * 3 < total) withW
      else withW.join(cw.filter(col("cw") >= tau).select("cust"), "cust")
    }
    pruned.as("x")
      .join(pruned.as("y"),
        col("x.supp") === col("y.supp") && col("x.cust") < col("y.cust"))
      .groupBy(col("x.cust").as("cust1"), col("y.cust").as("cust2"))
      .agg(count(lit(1)).as("n_common"), sum(col("x.w")).as(scoreName))
      .select(col("cust1"), col("cust2"), col("n_common"),
        col(scoreName).cast("long").as(scoreName))
      .orderBy(col(scoreName).desc, col("cust1"), col("cust2"))
      .limit(k)
  }

  /** Preferential-attachment link prediction: PA(c1,c2) =
    * deg(c1)·deg(c2) — the degree-only baseline every LP study
    * reports next to common-neighbors/RA/AA. Its defining property
    * IS the scale story: the score depends on nothing but the two
    * degrees, so the top-k NEVER touches the pair space.
    *
    * Candidate completeness is closed-form, no certificate loop:
    * order nodes by (deg DESC, cust ASC). Replacing either endpoint
    * of a pair with an EARLIER node in that order strictly improves
    * the pair's sort key (pa DESC, cust1 ASC, cust2 ASC) — a higher
    * degree strictly raises the product; an equal degree with a
    * smaller cust leaves the product tied and strictly improves the
    * sorted-endpoint tie-break wherever the new id lands. So if a
    * pair has an endpoint OUTSIDE the first k+1 nodes, swapping that
    * endpoint for each of the ≥ k first-k+1 nodes distinct from the
    * other endpoint yields ≥ k pairs strictly ahead of it — it
    * cannot be in the top k. Candidates are therefore exactly the
    * top k+1 DEGREE-TABLE rows (one TakeOrdered over |customers|
    * rows), the (k+1)·k/2 candidate pairs enumerate via a broadcast
    * self-join (never the driver — an all-tied degree table used to
    * force a driver-side quadratic enumeration here), and one more
    * TakeOrdered keeps k. Capped adjacency (salt "pa:") keeps the
    * degrees themselves deterministic/estimator-contract like the
    * other LP ops. */
  def prefAttachment(lineitem: DataFrame, orders: DataFrame,
                     cap: Int = 64, k: Int = 50): DataFrame = {
    val edges = bipartitePairs(lineitem, orders)
    val capped = edges
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("supp")
          .orderBy(md5(concat(lit("pa:"), col("supp").cast("string"),
            lit(":"), col("cust").cast("string"))), col("cust"))))
      .filter(col("rn") <= cap)
      .select("cust", "supp")
    val deg = capped.groupBy("cust").agg(count(lit(1)).as("deg"))
    val cand = deg.orderBy(col("deg").desc, col("cust")).limit(k + 1)
      .localCheckpoint()
    cand.as("x").join(broadcast(cand.as("y")),
        col("x.cust") < col("y.cust"))
      .select(col("x.cust").as("cust1"), col("y.cust").as("cust2"),
        col("x.deg").as("deg1"), col("y.deg").as("deg2"),
        (col("x.deg") * col("y.deg")).as("pa"))
      .orderBy(col("pa").desc, col("cust1"), col("cust2"))
      .limit(k)
  }

  /** Single-source shortest paths over the weighted nation trade
    * graph (edge cost = integer trade FRICTION, max(1, 10⁶ div
    * lineitem-count) — heavy trade lanes are cheap to traverse), by
    * distributed Bellman–Ford relaxation: each round joins the
    * current distance table to the edge list, takes the per-node min
    * of carry-forward and relaxed distances, and stops at the first
    * round that improves nothing (≤ diameter rounds — 2–3 on a trade
    * graph — never the textbook n−1; the convergence check is the
    * one action per round, the iterative-fixpoint exception like
    * [[Dedup.connectedComponents]]). All-integer costs make every
    * distance engine-exact. The frame is O(nodes) rows keyed by
    * node: at a billion-node graph each round is one co-partitioned
    * join + groupBy — the standard Pregel round — and the edge list
    * localCheckpoints once. Unreachable nodes report −1. */
  def ssspTrade(lineitem: DataFrame, orders: DataFrame,
                customer: DataFrame, supplier: DataFrame,
                nation: DataFrame, src: Long = 0L,
                maxIter: Int = 30,
                driverCutoff: Long = DriverCutoff.weightedArcRows)
      : DataFrame = {
    val edges = weightedNationEdges(lineitem, orders, customer, supplier)
    def stuck = new IllegalStateException(
      s"ssspTrade did not converge in $maxIter rounds " +
        "(negative-cost cycle cannot exist with positive costs; " +
        "raise maxIter for a graph of larger diameter)")
    DriverCutoff.collectUnder(edges, driverCutoff) match {
      case Some(rows) =>
        // size-adaptive driver Bellman–Ford ([[DriverCutoff]]): the
        // nation arc frame is ≤ V² rows and each distributed round
        // paid 2 driver jobs; [[bellmanFord]] runs the same rounds.
        // The distributed frame starts with every NATION node present
        // (d null) and seeds d = 0 only when src is one of them.
        val natRows = nationNames(nation)
        val dist = mutable.LongMap.empty[Long] // value ⇔ reached
        val present = mutable.Set.from(natRows.map(_._1))
        if (present(src)) dist(src) = 0L
        if (!bellmanFord(longTriples(rows), Seq((dist, present)), maxIter))
          throw stuck
        val out = natRows.sortBy(_._1).map { case (n, name) =>
          (name, n, dist.getOrElse(n, -1L)) }
        DriverCutoff.twinFrame(lineitem.sparkSession, out.toSeq,
          "n_name", "node", "dist")
      case None =>
        val nodes = nation.select(col("n_nationkey").cast("long").as("node"))
        val dist = relaxPresent(edges,
          nodes.select(col("node"), when(col("node") === src, 0L).as("d"))
            .localCheckpoint(),
          Seq("node"), maxIter, stuck)
        dist
          .join(broadcast(nation),
            dist("node") === nation("n_nationkey").cast("long"))
          .select(col("n_name"), col("node"),
            coalesce(col("d"), lit(-1L)).as("dist"))
    }
  }

  /** The distinct directed nation trade edge frame (a → b), self
    * loops dropped — shared by the SCC / layering / reciprocity
    * family so composites pay the 4-table fact join once. */
  private def tradeEdges(lineitem: DataFrame, orders: DataFrame,
                         customer: DataFrame, supplier: DataFrame)
      : DataFrame = FrameCache.cached(lineitem.sparkSession,
    s"nte:${FrameCache.planKey(lineitem, orders, customer, supplier)}") {
    lineitem
      .join(orders, lineitem("l_orderkey") === orders("o_orderkey"))
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(supplier, lineitem("l_suppkey") === supplier("s_suppkey"))
      .select(col("s_nationkey").cast("long").as("a"),
        col("c_nationkey").cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()
  }

  /** The nation arc-count frame (esrc, edst, w = supporting
    * lineitems) — ONE fact collapse shared by [[ssspTrade]] /
    * [[closenessTrade]] (friction cost = max(1, 10⁶ div w)) and
    * [[pageRankTrade]] (transition fractions from w), which each
    * used to pay their own 4-table fact join. */
  private def nationArcCounts(lineitem: DataFrame, orders: DataFrame,
                              customer: DataFrame,
                              supplier: DataFrame): DataFrame =
    FrameCache.cached(lineitem.sparkSession,
      s"nac:${FrameCache.planKey(lineitem, orders, customer, supplier)}") {
      lineitem
        .join(orders, lineitem("l_orderkey") === orders("o_orderkey"))
        .join(customer, orders("o_custkey") === customer("c_custkey"))
        .join(supplier, lineitem("l_suppkey") === supplier("s_suppkey"))
        .groupBy(col("s_nationkey").cast("long").as("esrc"),
          col("c_nationkey").cast("long").as("edst"))
        .agg(count(lit(1)).as("w"))
        .localCheckpoint()
    }

  /** Friction-cost projection of [[nationArcCounts]]. */
  private def weightedNationEdges(lineitem: DataFrame, orders: DataFrame,
                                  customer: DataFrame,
                                  supplier: DataFrame): DataFrame =
    nationArcCounts(lineitem, orders, customer, supplier)
      .select(col("esrc"), col("edst"),
        greatest(lit(1L), expr("1000000 div w")).as("cost"))

  /** [[sccSquaring]]'s driver twin over the collected arcs
    * ([[DriverCutoff]]): the nation graph is ≤ V² ≤ 625 pairs and the
    * squaring loop paid 2 driver jobs per round, so this runs the
    * IDENTICAL rounds (same squaring recurrence, same convergence
    * test, same maxIter guard) on an in-memory pair set. Returns
    * scc(v) = min of v and its mutually reachable peers, per node. */
  private def sccClosure(arcs: Array[(Long, Long)], nodes: Array[Long],
                         maxIter: Int): mutable.LongMap[Long] = {
    var reach = arcs.toSet
    var converged = false
    var i = 0
    while (!converged && i < maxIter + 1) {
      val byA = reach.groupBy(_._1)
      val nxt = reach ++ reach.flatMap { case (a, b) =>
        byA.getOrElse(b, Nil).map { case (_, c) => (a, c) } }
      converged = nxt.size == reach.size
      reach = nxt
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"sccTrade closure did not converge in $maxIter rounds")
    val sccId = mutable.LongMap.empty[Long]
    nodes.foreach { v =>
      val peers = reach.collect {
        case (a, b) if a == v && reach.contains((b, a)) => b }
      sccId(v) = (peers + v).min
    }
    sccId
  }

  /** Strongly connected components of the DIRECTED trade graph:
    * scc(v) = the minimum node mutually reachable with v (self
    * included) — the prerequisite for condensation-DAG analytics
    * (cycle detection, topological layering of trade flows).
    *
    * Exact transitive closure by ITERATED SQUARING: each round
    * extends reach pairs with one join hop and dedups, so the
    * reachable path length DOUBLES per round — log₂(diameter)
    * rounds of one pair-join + distinct, the CC convergence-action
    * pattern. The closure frame is ≤ V² pairs — the right call for
    * the small/medium dense graphs this gate carries (V = 25 ⇒ 625
    * rows); billion-node sparse graphs swap in FW-BW-trim
    * decomposition (forward/backward reachability coloring from
    * pivots), which keeps the same per-round join shape without
    * materializing the closure. */
  def sccTrade(lineitem: DataFrame, orders: DataFrame,
               customer: DataFrame, supplier: DataFrame,
               nation: DataFrame, maxIter: Int = 10): DataFrame = {
    val edges = tradeEdges(lineitem, orders, customer, supplier)
    val scc = DriverCutoff.collectUnder(edges, DriverCutoff.pairRows) match {
      case Some(rows) =>
        val keys = nation.select(col("n_nationkey").cast("long")).collect()
          .map(_.getLong(0))
        DriverCutoff.twinFrame(lineitem.sparkSession,
          sccClosure(longPairs(rows), keys, maxIter).toSeq.sortBy(_._1),
          "node", "scc_id")
      case None => sccSquaring(edges, nation, maxIter)
    }
    val sizes = scc.groupBy("scc_id").agg(count(lit(1)).as("scc_size"))
    scc.join(sizes, "scc_id")
      .join(broadcast(nation),
        col("node") === nation("n_nationkey").cast("long"))
      .select(col("n_name"), col("node"), col("scc_id"), col("scc_size"))
  }

  /** Edge reciprocity per node: of each nation's outgoing trade
    * lanes, the fraction that flow back (dyad mutuality — the
    * density-free symmetry measure; near 10⁶ ppm ⇒ balanced trading
    * partners, near 0 ⇒ pure exporter). One distinct edge frame,
    * one self-semi-join on the reversed keys, one groupBy — every
    * step co-partitions on the edge key at any scale. */
  def reciprocityTrade(lineitem: DataFrame, orders: DataFrame,
                       customer: DataFrame, supplier: DataFrame,
                       nation: DataFrame): DataFrame = {
    val edges = tradeEdges(lineitem, orders, customer, supplier)
    val recip = edges.join(
        edges.select(col("b").as("a"), col("a").as("b")),
        Seq("a", "b"), "left_semi")
      .groupBy("a").agg(count(lit(1)).as("n_recip"))
    edges.groupBy("a").agg(count(lit(1)).as("n_out"))
      .join(recip, Seq("a"), "left")
      .join(broadcast(nation),
        col("a") === nation("n_nationkey").cast("long"))
      .select(col("n_name"), col("a").as("node"), col("n_out"),
        coalesce(col("n_recip"), lit(0L)).as("n_recip"),
        expr("coalesce(n_recip, 0L) * 1000000 div n_out")
          .as("recip_ppm"))
  }

  /** Condensation-DAG topological layers: collapse the trade graph
    * to its SCCs ([[sccTrade]]) and assign each component its
    * longest-path depth from the DAG's sources — the build-order /
    * dependency-tier view of trade flow (layer 0 = pure exporters'
    * components, deeper layers only reachable through earlier ones).
    * The condensation of any digraph is acyclic, so max-relaxation
    * (layer = 1 + max over predecessors, the SSSP loop with max/+1
    * in place of min/cost) converges in depth rounds over an
    * O(#SCCs) frame. Output: every nation with its component and
    * layer — the per-node join back is one broadcast. */
  def topoLayersTrade(lineitem: DataFrame, orders: DataFrame,
                      customer: DataFrame, supplier: DataFrame,
                      nation: DataFrame, maxIter: Int = 30,
                      driverCutoff: Long = DriverCutoff.pairRows)
      : DataFrame = {
    val edges = tradeEdges(lineitem, orders, customer, supplier)
    def stuck = new IllegalStateException(
      s"topoLayersTrade did not converge in $maxIter rounds " +
        "(the condensation is a DAG; raise maxIter for deeper ones)")
    DriverCutoff.collectUnder(edges, driverCutoff) match {
      case Some(rows) =>
        // size-adaptive driver layering ([[DriverCutoff]]): the
        // condensation is ≤ V ≤ 25 components here and the max-relax
        // loop paid 2 driver jobs per depth round; the driver twin
        // runs the identical synchronous rounds + maxIter guard, on
        // [[sccClosure]] of the same collected arcs.
        val arcs = longPairs(rows)
        val natRows = nationNames(nation)
        val sccOf = sccClosure(arcs, natRows.map(_._1), maxIter)
        val sccRows = sccOf.toSeq.sortBy(_._1)
        // endpoints absent from the scc map (no FK integrity) are
        // DROPPED, mirroring the distributed path's inner join on scc —
        // Map.apply here would crash where the cluster path silently
        // drops the arc, diverging across the size cutoff (r12 ADVICE)
        val condPairs = arcs
          .flatMap { case (a, b) =>
            for (sa <- sccOf.get(a); sb <- sccOf.get(b)) yield (sa, sb) }
          .filter { case (sa, sb) => sa != sb }.toSet
        val layer = mutable.LongMap.empty[Long]
        sccRows.foreach { case (_, s) => layer(s) = 0L }
        var converged = false
        var i = 0
        while (!converged && i < maxIter + 1) {
          val relaxed = layer.clone()
          condPairs.foreach { case (sa, sb) =>
            if (layer(sa) + 1L > relaxed(sb)) relaxed(sb) = layer(sa) + 1L }
          converged = sccRows.forall { case (_, s) =>
            relaxed(s) == layer(s) }
          relaxed.foreach { case (s, l) => layer(s) = l }
          i += 1
        }
        if (!converged) throw stuck
        val names = natRows.toMap
        val out = sccRows.map { case (n, s) =>
          (names(n), n, s, layer(s)) }
        DriverCutoff.twinFrame(lineitem.sparkSession, out,
          "n_name", "node", "scc_id", "layer")
      case None =>
        val scc = sccSquaring(edges, nation, maxIter).localCheckpoint()
        val cond = edges
          .join(scc.select(col("node").as("a"), col("scc_id").as("sa")), "a")
          .join(scc.select(col("node").as("b"), col("scc_id").as("sb")), "b")
          .filter(col("sa") =!= col("sb"))
          .select("sa", "sb").distinct()
          .localCheckpoint()
        scc.join(maxRelaxLayers(cond, scc, maxIter, stuck), "scc_id")
          .join(broadcast(nation),
            col("node") === nation("n_nationkey").cast("long"))
          .select(col("n_name"), col("node"), col("scc_id"), col("layer"))
    }
  }

  /** Out-closeness centrality over the weighted trade graph: for
    * every node, the sum of its shortest-path distances to all
    * reachable nodes plus the reach count — the "how quickly can
    * this nation's supply reach the market" rank (consumers divide
    * n_reachable² by total_dist for the standard harmonic-free
    * normalization; kept integer here per the runs-test rule).
    *
    * ALL-SOURCES Bellman–Ford in one loop: the distance frame is
    * keyed (src, node) — |V|² rows at worst, 625 here, still one
    * co-partitioned join + groupBy per round exactly like
    * [[ssspTrade]], converging in diameter rounds for every source
    * SIMULTANEOUSLY (this is the multi-source generalization, not
    * |V| sequential runs — the 100 TB shape for small-diameter
    * graphs; for billion-node graphs swap the exact frame for
    * landmark sampling, same loop). Self-distance 0 counts toward
    * n_reachable, not total_dist. */
  def closenessTrade(lineitem: DataFrame, orders: DataFrame,
                     customer: DataFrame, supplier: DataFrame,
                     nation: DataFrame, maxIter: Int = 30,
                     driverCutoff: Long = DriverCutoff.weightedArcRows)
      : DataFrame = {
    val edges = weightedNationEdges(lineitem, orders, customer, supplier)
    def stuck = new IllegalStateException(
      s"closenessTrade did not converge in $maxIter rounds")
    DriverCutoff.collectUnder(edges, driverCutoff) match {
      case Some(rows) =>
        // size-adaptive driver all-sources Bellman–Ford
        // ([[bellmanFord]], one state per source in lockstep) over the
        // ≤ V² arc frame. Every (src, node) NATION pair starts
        // present-with-null per the crossJoin init.
        val natRows = nationNames(nation)
        val natKeys = natRows.map(_._1)
        val dist = mutable.LongMap.empty[mutable.LongMap[Long]]
        natKeys.foreach(s => dist(s) = mutable.LongMap(s -> 0L))
        if (!bellmanFord(longTriples(rows), dist.values.toSeq.map(m =>
            (m, mutable.Set.from(natKeys))), maxIter))
          throw stuck
        val out = natRows.sortBy(_._1).map { case (s, name) =>
          // the distributed aggregate counts EVERY reached row of the
          // (src, node) frame — including nodes relax added beyond the
          // nation init — so the twin counts the whole map
          val m = dist(s)
          (name, s, m.size.toLong, m.values.sum)
        }
        DriverCutoff.twinFrame(lineitem.sparkSession, out.toSeq,
          "n_name", "node", "n_reachable", "total_dist")
      case None =>
        val nodes = nation.select(col("n_nationkey").cast("long").as("node"))
        relaxPresent(edges, nodes.select(col("node").as("src"))
            .crossJoin(nodes)
            .select(col("src"), col("node"),
              when(col("src") === col("node"), 0L).as("d"))
            .localCheckpoint(),
          Seq("src", "node"), maxIter, stuck)
          .groupBy("src")
          .agg(coalesce(sum(when(col("d").isNotNull, 1L)), lit(0L))
              .as("n_reachable"),
            coalesce(sum("d"), lit(0L)).as("total_dist"))
          .join(broadcast(nation),
            col("src") === nation("n_nationkey").cast("long"))
          .select(col("n_name"), col("src").as("node"),
            col("n_reachable"), col("total_dist"))
    }
  }

  /** The DISTINCT bipartite (cust, supp) purchase pair frame —
    * the corpus collapse six operators used to re-pay independently
    * (HITS, k-core, common-neighbors, the RA/AA witness generator,
    * preferential attachment, the co-sourcing projection), memoized
    * like [[repeatKeyEdges]]: one map-side-partial distinct per
    * (dataset), every consumer caps/weights it downstream with its
    * own md5 seed family. */
  private def bipartitePairs(lineitem: DataFrame, orders: DataFrame)
      : DataFrame = FrameCache.cached(lineitem.sparkSession,
    s"bpp:${FrameCache.planKey(lineitem, orders)}") {
    lineitem.select(col("l_orderkey"), col("l_suppkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").cast("long").as("cust"),
        col("l_suppkey").cast("long").as("supp"))
      .distinct()
      .localCheckpoint()
  }

  /** The directed REPEAT-BUSINESS key-level trade graph shared by
    * the key-level SCC/SSSP family ([[sccKeysTrade]],
    * [[ssspKeysTrade]]): forward arc cust→supp when the pair traded
    * at least `minTrades` lineitems (sustained demand), return arc
    * supp→cust when at least `minReturns` of the pair's lineitems
    * came back (sustained return flow) — directions under which a
    * cycle is a closed order/return loop between real entities, not
    * a 25-node nation roll-up. Node namespace: even = custkey·2,
    * odd = suppkey·2+1 (the [[bfsTrade]] convention). Arc cost is
    * integer FRICTION, max(1, 10⁶ div supporting-lineitem-count) —
    * heavy lanes are cheap — for the weighted consumers.
    *
    * Scale shape: ONE partial-aggregated fact collapse builds the
    * (cust, supp) pair frame; the thresholds then keep the ARC
    * frame far below it and growing sublinearly (per-pair lineitem
    * counts FALL as the corpus widens: measured 9.8k→12.9k forward
    * arcs and 1.3k→1.4k return arcs across sf0.01→sf0.1, a 10×
    * corpus). Every iterative consumer runs on that sparse frame —
    * never on the corpus. */
  private def repeatKeyEdges(lineitem: DataFrame, orders: DataFrame,
                             minTrades: Int, minReturns: Int)
      : DataFrame = FrameCache.cached(lineitem.sparkSession,
    s"rke:${FrameCache.planKey(lineitem, orders)}:$minTrades:$minReturns") {
    val pair = lineitem
      .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy((col("o_custkey") * 2).cast("long").as("c"),
        (col("l_suppkey") * 2 + 1).cast("long").as("s"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("nr"))
    pair.filter(col("n") >= minTrades)
      .select(col("c").as("a"), col("s").as("b"),
        greatest(lit(1L), expr("1000000 div n")).as("cost"))
      .unionByName(pair.filter(col("nr") >= minReturns)
        .select(col("s").as("a"), col("c").as("b"),
          greatest(lit(1L), expr("1000000 div nr")).as("cost")))
      .localCheckpoint()
  }

  /** Strongly connected components of the KEY-LEVEL repeat-business
    * trade graph by FW-BW-TRIM with simultaneous max-id pivots (the
    * sparse-graph decomposition [[sccTrade]]'s docstring names —
    * Orzan's coloring form: FW = forward max-color propagation from
    * every pivot at once, BW = multi-source backward reach inside
    * each color class, TRIM = peeling the acyclic periphery):
    *
    *   1. TRIM to fixpoint: a node with no in-arcs or no out-arcs
    *      in the remaining graph can sit on no cycle — it is its
    *      own SCC; drop it. This peels the vast majority (at sf0.1
    *      ~8k edge-bearing nodes leave ~2k cyclic candidates).
    *   2. FW: propagate color(v) = max node id that reaches v
    *      (diameter rounds of one arc⋈color join + max-agg — the
    *      forward-reachability half of FW-BW, all pivots at once).
    *   3. BW: every root r (color(r) = r) walks BACKWARD along
    *      arcs inside its color class; reached nodes are mutually
    *      reachable with r by construction — SCC(r) found. One pass
    *      resolves one SCC PER COLOR CLASS (hundreds at once).
    *   4. Remove found SCCs, re-trim, repeat until no arcs remain.
    *
    * Every exchanged frame is (node) / (a, b) ids — O(arcs), never
    * the V² closure the nation-level [[sccTrade]] materializes
    * (viable only because its V ≤ 25; here V is corpus-scale).
    * scc_id normalizes to the component's MIN member (the oracle's
    * mutual-closure convention); trimmed/acyclic nodes report
    * themselves. Output: every edge-bearing node as
    * (node, scc_id, scc_size).
    *
    * The DuckDB gate recomputes this via full transitive closure +
    * mutual-pair min — independent algorithm, identical answer
    * (feasible for the oracle because the thresholded arc frame
    * stays small at every tier; the ENGINE never builds reach
    * pairs, so it scales past the oracle's envelope). */
  def sccKeysTrade(lineitem: DataFrame, orders: DataFrame,
                   minTrades: Int = 2, minReturns: Int = 2,
                   maxIter: Int = 200,
                   driverCutoff: Long = DriverCutoff.pairRows): DataFrame =
    sccKeysShared(lineitem, orders, minTrades, minReturns, maxIter,
      driverCutoff)

  /** FrameCache-shared [[sccKeysCore]] result: graph_scc_keys and
    * graph_topo_layers_keys both need the SCC assignment of the same
    * thresholded arc frame — the decomposition now runs once per
    * (dataset, params). The arc projection is NOT re-checkpointed
    * (repeatKeyEdges is already a cached frame; the extra eager
    * checkpoint here cost one driver job per invocation). */
  private def sccKeysShared(lineitem: DataFrame, orders: DataFrame,
                            minTrades: Int, minReturns: Int,
                            maxIter: Int, driverCutoff: Long)
      : DataFrame = FrameCache.cached(lineitem.sparkSession,
    s"sck:${FrameCache.planKey(lineitem, orders)}:" +
      s"$minTrades:$minReturns:$maxIter:$driverCutoff",
    keepOnlyLast = true) {
    sccKeysCore(
      repeatKeyEdges(lineitem, orders, minTrades, minReturns)
        .select("a", "b"),
      lineitem.sparkSession, maxIter, driverCutoff).localCheckpoint()
  }

  /** [[sccKeysTrade]]'s core over an already-built arc frame — the
    * composition point [[topoLayersKeysTrade]] uses so the layering
    * composite pays the corpus fact collapse ONCE (the r9 nation
    * lesson, applied at key level: the nation layering used to pay
    * the 4-table join twice, 9.24 -> 4.95 s at sf10). */
  private def sccKeysCore(edges0: DataFrame,
                          session: org.apache.spark.sql.SparkSession,
                          maxIter: Int,
                          driverCutoff: Long): DataFrame = {
    // SIZE-ADAPTIVE execution (the [[graft.operators.Dedup
    // .connectedComponents]] contract): the thresholded arc frame is
    // orders of magnitude smaller than its corpus and its count is
    // free off the checkpoint. Under the cutoff ([[DriverCutoff
    // .pairRows]] of 16-byte id pairs — the shared 128 MiB driver
    // byte budget) the FW-BW-trim loop pays ~150 scheduled
    // tiny-frame jobs (measured 51 s at sf0.1 for 14k arcs — pure
    // fixed job latency) to do what one driver Tarjan pass does in
    // milliseconds; min-member ids make the outputs byte-equal
    // (spec-pinned). Above the cutoff — a denser graph at 100 TB —
    // the distributed decomposition below runs unchanged.
    DriverCutoff.collectUnder(edges0, driverCutoff) match {
      case Some(rows) =>
        val adj = mutable.LongMap.empty[mutable.ArrayBuffer[Long]]
        // node universe as a LongMap + one array sort — a SortedSet's
        // per-insert tree rebalance was ~10 s of the sf10 pass alone
        val seen = mutable.LongMap.empty[Unit]
        rows.foreach { r =>
          val (a, b) = (r.getLong(0), r.getLong(1))
          adj.getOrElseUpdate(a, mutable.ArrayBuffer.empty[Long]) += b
          seen(a) = (); seen(b) = ()
        }
        val nodeSet = seen.keys.toArray
        java.util.Arrays.sort(nodeSet)
        val empty = mutable.ArrayBuffer.empty[Long]
        val index = mutable.LongMap.empty[Int]
        val low = mutable.LongMap.empty[Int]
        val onStk = mutable.HashSet.empty[Long]
        val stk = mutable.ArrayBuffer.empty[Long]
        val comp = mutable.LongMap.empty[Long]
        var idx = 0
        // iterative Tarjan (explicit call stack: a 2M-arc chain would
        // blow the JVM stack recursive)
        val call = mutable.ArrayBuffer.empty[(Long, Iterator[Long])]
        def enter(v: Long): Unit = {
          index(v) = idx; low(v) = idx; idx += 1
          stk += v; onStk += v
          call += ((v, adj.getOrElse(v, empty).iterator))
        }
        for (v0 <- nodeSet if !index.contains(v0)) {
          enter(v0)
          while (call.nonEmpty) {
            val (v, it) = call.last
            if (it.hasNext) {
              val w = it.next()
              if (!index.contains(w)) enter(w)
              else if (onStk(w)) low(v) = math.min(low(v), index(w))
            } else {
              call.remove(call.length - 1)
              if (call.nonEmpty) {
                val p = call.last._1
                low(p) = math.min(low(p), low(v))
              }
              if (low(v) == index(v)) {
                val members = mutable.ArrayBuffer.empty[Long]
                var w = 0L
                do {
                  w = stk.remove(stk.length - 1); onStk -= w
                  members += w
                } while (w != v)
                val m = members.min
                members.foreach(comp(_) = m)
              }
            }
          }
        }
        val sizes = mutable.LongMap.empty[Long].withDefaultValue(0L)
        comp.values.foreach(id => sizes(id) = sizes(id) + 1L)
        DriverCutoff.twinFrame(session,
          nodeSet.toSeq.map(n => (n, comp(n), sizes(comp(n)))),
          "node", "scc_id", "scc_size")
      case None =>
        val allNodes = edges0.select(col("a").as("node"))
          .unionByName(edges0.select(col("b").as("node"))).distinct()
          .localCheckpoint()
        var members = List.empty[DataFrame] // (node, color) per found SCC
        var edges = edges0
        var nEdges = edges.count()
        var outer = 0
        while (nEdges > 0 && outer < maxIter) {
          // 1. TRIM: keep only arcs whose tail has an in-arc and whose
          // head has an out-arc; fixpoint = every survivor is on a path
          // through a cycle candidate
          var trimming = true
          while (trimming && nEdges > 0) {
            val e2 = edges
              .join(edges.select(col("b").as("a")).distinct(),
                Seq("a"), "left_semi")
              .join(edges.select(col("a").as("b")).distinct(),
                Seq("b"), "left_semi")
              .localCheckpoint()
            val n2 = e2.count()
            trimming = n2 < nEdges
            edges = e2
            nEdges = n2
          }
          if (nEdges > 0) {
            // 2. FW max-color propagation to fixpoint
            val nodes = edges.select(col("a").as("node"))
              .unionByName(edges.select(col("b").as("node"))).distinct()
            var colors = nodes.withColumn("color", col("node"))
              .localCheckpoint()
            var changed = 1L
            var it = 0
            // improving rounds ≤ maxIter; +1 is the confirming round
            while (changed > 0 && it < maxIter + 1) {
              val upd = edges.join(colors, edges("a") === colors("node"))
                .select(col("b").as("node"), col("color"))
                .unionByName(colors)
                .groupBy("node").agg(max("color").as("color"))
                .localCheckpoint()
              changed = upd.as("x").join(colors.as("y"), Seq("node"))
                .filter(col("x.color") > col("y.color")).count()
              colors = upd
              it += 1
            }
            if (changed > 0)
              throw new IllegalStateException(
                s"sccKeysTrade coloring did not converge in $maxIter rounds")
            // 3. BW multi-source reach inside each color class
            var found = colors.filter(col("color") === col("node"))
              .localCheckpoint()
            var frontier = found
            var fcount = frontier.count()
            while (fcount > 0) {
              val nxt = edges
                .join(frontier, edges("b") === frontier("node"))
                .select(col("a").as("node"), col("color"))
                .distinct()
                .join(colors.withColumnRenamed("color", "ncolor"),
                  Seq("node"))
                .filter(col("color") === col("ncolor"))
                .select("node", "color")
                .join(found, Seq("node"), "left_anti")
                .localCheckpoint()
              found = found.unionByName(nxt).localCheckpoint()
              frontier = nxt
              fcount = nxt.count()
            }
            members ::= found
            // 4. remove the resolved components and go again
            val fa = found.select(col("node").as("a"))
            val fb = found.select(col("node").as("b"))
            edges = edges.join(fa, Seq("a"), "left_anti")
              .join(fb, Seq("b"), "left_anti")
              .localCheckpoint()
            nEdges = edges.count()
          }
          outer += 1
        }
        if (nEdges > 0)
          throw new IllegalStateException(
            s"sccKeysTrade did not resolve all components in $maxIter passes")
        val nontrivial = members.reduceOption(_.unionByName(_))
          .getOrElse(allNodes.filter(lit(false))
            .withColumn("color", col("node")))
        val assigned = nontrivial
          .join(nontrivial.groupBy("color").agg(min("node").as("scc_id")),
            "color")
          .select("node", "scc_id")
        val scc = allNodes.join(assigned, Seq("node"), "left")
          .select(col("node"),
            coalesce(col("scc_id"), col("node")).as("scc_id"))
        scc.join(scc.groupBy("scc_id").agg(count(lit(1)).as("scc_size")),
          "scc_id")
          .select("node", "scc_id", "scc_size")
    }
  }

  /** Condensation-DAG topological layers of the KEY-LEVEL
    * repeat-business graph — [[topoLayersTrade]] lifted off the
    * nation roll-up: collapse to SCCs ([[sccKeysTrade]]), build the
    * condensed arc frame (one scc-assignment join per arc end,
    * distinct — O(arcs) exchanged), and assign every component its
    * longest-path depth from the DAG's sources. Size-adaptive like
    * the SCC op: under the cutoff a driver Kahn pass layers the
    * condensation in milliseconds and ASSERTS depth ≤ `sweepBound`
    * (the oracle relaxes a fixed `sweepBound` max-sweeps — the
    * ssspKeysTrade parity-bound pattern: a deeper DAG fails loud,
    * never silently unequal); above it the distributed max-relax
    * loop ([[maxRelaxLayers]]) runs on the O(#SCCs) frame.
    * Output: (node, scc_id, layer) for every edge-bearing node. */
  def topoLayersKeysTrade(lineitem: DataFrame, orders: DataFrame,
                          minTrades: Int = 2, minReturns: Int = 2,
                          maxIter: Int = 200, sweepBound: Int = 60,
                          driverCutoff: Long = DriverCutoff.pairRows)
      : DataFrame = {
    val edges = repeatKeyEdges(lineitem, orders, minTrades, minReturns)
      .select("a", "b")
    val scc = sccKeysShared(lineitem, orders, minTrades, minReturns,
      maxIter, driverCutoff)
    // the condensation arc frame is a pure function of (dataset,
    // params) like the scc frame it derives from — FrameCache'd so
    // the per-invocation join+distinct+checkpoint jobs run once per
    // pass (r13); O(#inter-SCC arcs) rows
    val cond = FrameCache.cached(lineitem.sparkSession,
      s"tlc:${FrameCache.planKey(lineitem, orders)}:" +
        s"$minTrades:$minReturns:$maxIter:$driverCutoff") {
      edges
        .join(scc.select(col("node").as("a"), col("scc_id").as("sa")), "a")
        .join(scc.select(col("node").as("b"), col("scc_id").as("sb")), "b")
        .filter(col("sa") =!= col("sb"))
        .select("sa", "sb").distinct()
        .localCheckpoint()
    }
    val layers = DriverCutoff.collectUnder(cond, driverCutoff) match {
      case Some(rows) =>
        val succs = mutable.LongMap.empty[mutable.ArrayBuffer[Long]]
        val indeg = mutable.LongMap.empty[Int].withDefaultValue(0)
        val comps = mutable.SortedSet.empty[Long]
        scc.select("scc_id").distinct().collect()
          .foreach(r => comps += r.getLong(0))
        rows.foreach { r =>
          val (sa, sb) = (r.getLong(0), r.getLong(1))
          succs.getOrElseUpdate(sa,
            mutable.ArrayBuffer.empty[Long]) += sb
          indeg(sb) = indeg(sb) + 1
        }
        val layer = mutable.LongMap.empty[Long].withDefaultValue(0L)
        val queue = mutable.Queue.empty[Long]
        comps.foreach(c => if (indeg(c) == 0) queue += c)
        val none = mutable.ArrayBuffer.empty[Long]
        var processed = 0
        while (queue.nonEmpty) {
          val v = queue.dequeue()
          processed += 1
          for (w <- succs.getOrElse(v, none)) {
            layer(w) = math.max(layer(w), layer(v) + 1L)
            indeg(w) = indeg(w) - 1
            if (indeg(w) == 0) queue += w
          }
        }
        if (processed != comps.size)
          throw new IllegalStateException(
            "topoLayersKeysTrade: condensation is not acyclic — " +
              "SCC collapse failed")
        if (layer.values.nonEmpty && layer.values.max > sweepBound)
          throw new IllegalStateException(
            s"topoLayersKeysTrade depth exceeds $sweepBound — raise " +
              "sweepBound (and the oracle's sweep bound)")
        DriverCutoff.twinFrame(lineitem.sparkSession,
          comps.toSeq.map(c => (c, layer(c))), "scc_id", "layer")
      case None =>
        // a depth-exactly-sweepBound DAG converges here just as it
        // passes the driver path's '> sweepBound' assert
        maxRelaxLayers(cond, scc, sweepBound, new IllegalStateException(
          s"topoLayersKeysTrade did not converge in $sweepBound " +
            "rounds (the condensation is a DAG; raise sweepBound " +
            "and the oracle bound for deeper ones)"))
    }
    scc.join(layers, "scc_id").select("node", "scc_id", "layer")
  }

  /** Landmark-sampled harmonic centrality over the KEY-LEVEL
    * repeat-business graph — the estimator [[closenessTrade]]'s
    * docstring names as the billion-node swap for its exact |V|²
    * frame, delivered at key level: pick `landmarks` fixed probes
    * (the smallest md5("hl:"+node) edge-bearing nodes — id-pattern-
    * free, engine-re-derivable, the capped-adjacency salt
    * convention), run ONE multi-source BFS keyed (landmark, node) —
    * [[landmarkDistKeys]] with the 'hl:' salt, size-adaptive and
    * FrameCache'd like the 'bw:' family — and report each reached
    * node's harmonic estimate Σ 10⁶ div hops over the landmarks that
    * reach it (integral by construction; Boldi–Vigna's in-harmonic
    * sampling). Hops are asserted ≤ `maxIter`, the oracle's fixed
    * sweep bound. Output: (node, n_reach, harmonic_ppm) for nodes
    * ≥1 landmark reaches. */
  def harmonicKeysTrade(lineitem: DataFrame, orders: DataFrame,
                        minTrades: Int = 2, minReturns: Int = 2,
                        landmarks: Int = 8, maxIter: Int = 60,
                        driverCutoff: Long = DriverCutoff.pairRows)
      : DataFrame =
    landmarkDistKeys(lineitem, orders, "hl:", minTrades, minReturns,
        landmarks, maxIter, driverCutoff)
      .filter(col("h") >= 1L)
      .groupBy("node")
      .agg(count(lit(1)).as("n_reach"),
        sum(expr("1000000 div h")).as("harmonic_ppm"))

  /** Weighted single-source-set shortest paths over the KEY-LEVEL
    * repeat-business trade graph ([[repeatKeyEdges]] — integer
    * friction costs), seeded from every edge-bearing customer of
    * the lexicographically first nation: "how cheaply can this
    * market's sustained demand reach each entity through repeat
    * trade and return flows". Plain distributed Bellman–Ford
    * ([[relaxReached]]) on the O(arcs) key-level frame: each round
    * one arc⋈distance join + per-node min, stop at the first round
    * that improves nothing (≤ hop-diameter rounds, convergence
    * check is the one action per round). The distance frame starts
    * at the seed set and grows with the REACHED set only — the
    * full node universe never materializes. Unreached nodes are
    * simply absent (the billion-node contract: output is
    * O(reached), not O(V)). maxIter is the engine↔oracle parity
    * bound: the oracle relaxes a fixed `maxIter` sweeps, the engine
    * throws if convergence needs more — loud, never silently
    * unequal. */
  def ssspKeysTrade(lineitem: DataFrame, orders: DataFrame,
                    customer: DataFrame, nation: DataFrame,
                    minTrades: Int = 2, minReturns: Int = 2,
                    maxIter: Int = 60,
                    driverCutoff: Long = DriverCutoff.weightedArcRows)
      : DataFrame = {
    val edges = repeatKeyEdges(lineitem, orders, minTrades, minReturns)
    val srcNation = nation.orderBy("n_name", "n_nationkey").limit(1)
      .select("n_nationkey")
    val nodes = edges.select(col("a").as("node"))
      .unionByName(edges.select(col("b").as("node"))).distinct()
    val seeds = customer
      .join(broadcast(srcNation),
        col("c_nationkey") === col("n_nationkey"))
      .select((col("c_custkey") * 2).cast("long").as("node"))
      .join(nodes, Seq("node"), "left_semi")
    // SIZE-ADAPTIVE: under the arc cutoff a driver Dijkstra (integer
    // non-negative costs — same min-plus fixpoint the loop computes)
    // replaces ~80 tiny-frame relaxation jobs; byte-equal outputs,
    // spec-pinned. Above it the Bellman–Ford loop runs unchanged.
    DriverCutoff.collectUnder(edges, driverCutoff) match {
      case Some(rows) =>
        val adj = mutable.LongMap.empty[mutable.ArrayBuffer[(Long, Long)]]
        rows.foreach { r =>
          adj.getOrElseUpdate(r.getLong(0),
            mutable.ArrayBuffer.empty[(Long, Long)]) +=
            ((r.getLong(1), r.getLong(2)))
        }
        val d = mutable.LongMap.empty[Long]
        // hop counts along the accepted relaxations: if every optimal
        // distance is realized by a path of ≤ maxIter hops, a
        // maxIter-sweep Bellman–Ford (the oracle) has converged — the
        // driver path must enforce the same parity bound the
        // distributed loop's convergence throw enforces
        val hops = mutable.LongMap.empty[Int]
        val pq = mutable.PriorityQueue.empty[(Long, Long)](
          Ordering.by[(Long, Long), Long](_._1).reverse)
        seeds.collect().foreach { r =>
          d(r.getLong(0)) = 0L; hops(r.getLong(0)) = 0
          pq.enqueue((0L, r.getLong(0)))
        }
        while (pq.nonEmpty) {
          val (dv, v) = pq.dequeue()
          if (dv == d(v))
            for ((w, c) <- adj.getOrElse(v, mutable.ArrayBuffer.empty))
              if (!d.contains(w) || dv + c < d(w)) {
                d(w) = dv + c; hops(w) = hops(v) + 1
                pq.enqueue((dv + c, w))
              } else if (dv + c == d(w) && hops(v) + 1 < hops(w)) {
                // tie-break on (distance, hops): among equal-cost
                // paths record the MIN-hop witness, else the parity
                // assert below can fire on a graph whose min-hop
                // optimal paths the oracle's fixed sweeps do handle
                // (the re-enqueue propagates the shorter witness
                // downstream; hops only decreases, so it terminates)
                hops(w) = hops(v) + 1
                pq.enqueue((dv + c, w))
              }
        }
        if (hops.values.nonEmpty && hops.values.max > maxIter)
          throw new IllegalStateException(
            s"ssspKeysTrade optimal paths exceed $maxIter hops — " +
              "raise maxIter (and the oracle's sweep bound)")
        DriverCutoff.twinFrame(lineitem.sparkSession,
          d.toSeq.map { case (n, dd) =>
            (if (n % 2 == 0) "cust" else "supp", n, dd) },
          "node_type", "node", "dist")
      case None =>
        // a graph whose hop-diameter equals maxIter exactly converges
        // here just as it passes the driver Dijkstra's
        // 'hops > maxIter' assert and the oracle's fixed maxIter-sweep
        // Bellman–Ford
        relaxReached(edges,
          seeds.withColumn("d", lit(0L)).localCheckpoint(),
          Seq("node"), "d", col("cost"), maxIter,
          new IllegalStateException(
            s"ssspKeysTrade did not converge in $maxIter rounds — " +
              "raise maxIter (and the oracle's sweep bound) for a graph " +
              "of larger hop diameter"))
          .select(
          when(col("node") % 2 === 0, "cust").otherwise("supp")
            .as("node_type"),
          col("node"), col("d").as("dist"))
    }
  }

  /** Deterministic PageRank over the KEY-LEVEL repeat-business
    * trade graph — [[pageRankTrade]] lifted off the 25-node nation
    * roll-up onto [[repeatKeyEdges]]' sparse arc frame: which real
    * entities (customers, suppliers) accumulate standing when rank
    * flows along sustained order/return relationships. Uniform
    * out-arc split (frac_ppm = 10⁶ div outdeg — the arc frame's
    * thresholds already encode "sustained", so every surviving arc
    * carries equal vote), damping 85/100, ranks at scale 1e12,
    * every division an integer floor — bit-identical on any engine,
    * the [[pageRankTrade]] fixed-point contract. Dangling-node mass
    * (a node with only in-arcs) leaks — ranks are a centrality
    * ORDER, not a distribution.
    *
    * Scale shape: the corpus is touched once ([[repeatKeyEdges]]'
    * partial-aggregated fact collapse); each of the `iters` rounds
    * is ONE co-partitioned arc⋈rank join + groupBy over O(arcs) —
    * the node universe never materializes beyond the edge-bearing
    * set, and the iteration frame is (node, pr) BIGINT pairs. */
  def pageRankKeysTrade(lineitem: DataFrame, orders: DataFrame,
                        minTrades: Int = 2, minReturns: Int = 2,
                        iters: Int = 3,
                        driverCutoff: Long = DriverCutoff.pairRows)
      : DataFrame = {
    val S = 1000000000000L
    val arcs = repeatKeyEdges(lineitem, orders, minTrades, minReturns)
      .select("a", "b")
    // size-adaptive driver twin ([[DriverCutoff]], [[pageRankPpm]]
    // like pageRankTrade's): each distributed round is an arc⋈rank
    // join + groupBy whose AQE stages cost ~20 driver
    // jobs over KB-scale frames at sf0.1 (profiled: 23 jobs,
    // 1.10 s wall for 7.6 s of tiny-task time). All arithmetic is
    // the identical integer-ppm recurrence — commutative BIGINT
    // sums, floor divisions in the same order — so ranks are
    // byte-equal; Round13Spec pins the boundary. The Long contrib
    // sums are exact while arcs·S < 2⁶³ (the hitsTrade exactness
    // cap); past min(cutoff, cap) the distributed loop runs
    // UNCHANGED — the 100 TB path.
    DriverCutoff.collectUnder(arcs,
        math.min(driverCutoff, Long.MaxValue / S)) match {
      case Some(rows) =>
        val pairs = longPairs(rows)
        if (pairs.isEmpty)
          return DriverCutoff.twinFrame(lineitem.sparkSession,
            Seq.empty[(String, Long, Long)], "node_type", "node", "pr_scaled")
        val od = mutable.LongMap.empty[Long].withDefaultValue(0L)
        pairs.foreach { case (a, _) => od(a) += 1L }
        val nodeArr = (pairs.map(_._1) ++ pairs.map(_._2)).distinct
        val pr = pageRankPpm(
          pairs.map { case (a, b) => (a, b, 1000000L / od(a)) },
          nodeArr, iters)
        val out = nodeArr.sorted.map(v =>
          (if (v % 2 == 0) "cust" else "supp", v, pr(v)))
        DriverCutoff.twinFrame(lineitem.sparkSession, out.toSeq,
          "node_type", "node", "pr_scaled")
      case None =>
        val nodes = arcs.select(col("a").as("node"))
          .unionByName(arcs.select(col("b").as("node"))).distinct()
          .localCheckpoint()
        val outd = arcs.groupBy("a").agg(count(lit(1)).as("od"))
        val edges = arcs.join(outd, "a")
          .select(col("a").as("src"), col("b").as("dst"),
            expr("1000000 div od").as("frac_ppm"))
          .localCheckpoint()
        val n = nodes.count()
        // arc-free graph (tight thresholds / tiny SF): S div 0 would die
        // with ArithmeticException mid-plan; an empty frame with the
        // declared schema is the honest answer (and matches the oracle,
        // whose per-node divisions never run when no node rows exist)
        if (n == 0L)
          return nodes.select(
            lit("cust").as("node_type"), col("node"),
            col("node").as("pr_scaled")).limit(0)
        pageRankRounds(nodes, n, edges, iters).select(
          when(col("node") % 2 === 0, "cust").otherwise("supp")
            .as("node_type"),
          col("node"), col("pr").as("pr_scaled"))
    }
  }

  /** Arc reciprocity over the KEY-LEVEL repeat-business graph —
    * [[reciprocityTrade]] at entity grain: for each node with
    * out-arcs, how many of them are reciprocated (the reverse arc
    * exists — for a customer, a supplier it sustains demand with
    * ALSO ships it sustained returns; the churn-risk signature at
    * pair level). One reversed-key left-semi self-join on the
    * O(arcs) frame + two co-partitioned groupBys — the corpus is
    * touched only by [[repeatKeyEdges]]' single fact collapse.
    * recip_ppm is an exact integer ratio. */
  def reciprocityKeysTrade(lineitem: DataFrame, orders: DataFrame,
                           minTrades: Int = 2, minReturns: Int = 2)
      : DataFrame = {
    // (a, b) pairs are unique by construction: forward arcs run
    // even→odd, return arcs odd→even — no cross-duplicates
    val arcs = repeatKeyEdges(lineitem, orders, minTrades, minReturns)
      .select("a", "b")
    val recip = arcs.join(
        arcs.select(col("b").as("a"), col("a").as("b")),
        Seq("a", "b"), "left_semi")
      .groupBy("a").agg(count(lit(1)).as("n_recip"))
    arcs.groupBy("a").agg(count(lit(1)).as("n_out"))
      .join(recip, Seq("a"), "left")
      .select(
        when(col("a") % 2 === 0, "cust").otherwise("supp")
          .as("node_type"),
        col("a").as("node"), col("n_out"),
        coalesce(col("n_recip"), lit(0L)).as("n_recip"),
        expr("coalesce(n_recip, 0L) * 1000000 div n_out")
          .as("recip_ppm"))
  }

  /** The capped CO-SOURCING projection shared by
    * [[trianglesKeysTrade]] / [[clusteringKeysTrade]]: an
    * undirected edge joins customers (u < v) who share at least
    * `minShared` suppliers — the repeat-business digraph's own
    * undirected support is bipartite (cust↔supp only) and therefore
    * triangle-free BY PARITY, so the triangle/clustering family
    * runs on the one-mode projection instead. Each supplier's
    * customer list is capped at `cap` (smallest
    * md5("tri:"+supp+":"+cust) first — deterministic under any
    * resharding, the [[commonNeighbors]] capped-adjacency
    * contract), bounding the projection fan-out at
    * cap²·|suppliers|/2 regardless of hub skew; `minShared` then
    * keeps the EDGE frame sparse (one shared megasupplier is noise,
    * repeated co-sourcing is structure). */
  private def coSourceEdges(lineitem: DataFrame, orders: DataFrame,
                            cap: Int, minShared: Int): DataFrame =
    FrameCache.cached(lineitem.sparkSession,
      s"cse:${FrameCache.planKey(lineitem, orders)}:$cap:$minShared") {
    val edges = bipartitePairs(lineitem, orders)
    val capped = edges
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("supp")
          .orderBy(md5(concat(lit("tri:"), col("supp").cast("string"),
            lit(":"), col("cust").cast("string"))), col("cust"))))
      .filter(col("rn") <= cap)
      .select("cust", "supp")
    capped.as("x").join(capped.as("y"),
        col("x.supp") === col("y.supp") &&
          col("x.cust") < col("y.cust"))
      .groupBy(col("x.cust").as("u"), col("y.cust").as("v"))
      .agg(count(lit(1)).as("ns"))
      .filter(col("ns") >= minShared)
      .select("u", "v", "ns")
      .localCheckpoint()
  }

  /** Compact-forward triangle corner counts over an undirected
    * (u < v) edge frame — [[trianglesTrade]]'s orientation
    * machinery factored out at entity scale: orient every edge from
    * the (degree, id)-smaller endpoint, enumerate each wedge at its
    * unique apex (per-node fan-out O(√E) by the arboricity bound —
    * a hub of degree m contributes min(m, √E)² wedges, not m²),
    * close with one equi-join, credit each triangle's three
    * corners via a narrow explode. Returns (node, n_tri) for every
    * edge-bearing node, 0 included. */
  private def triangleCorners(und: DataFrame): DataFrame = {
    val deg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val corners = closedTriangles(und, Some(deg))
      .select(explode(array(col("apex"), col("b"), col("c")))
        .as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.select("node")
      .join(corners, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  /** Compact-forward triangle enumeration over an undirected
    * (u < v) edge frame: one row (apex, b, c) per triangle, ids in
    * ORIENTATION order (apex = (deg,id)-smallest), not id order —
    * callers normalize as needed. Orient every edge from the
    * (degree, id)-smaller endpoint, enumerate each wedge at its
    * unique apex (per-node fan-out O(√E) by the arboricity bound),
    * close with one equi-join. `degOpt` lets a caller that already
    * holds the degree frame skip the recount. Callers pass an
    * already-checkpointed edge frame (coSourceEdges / the peel
    * loop's round frame) — only `oriented` checkpoints here. */
  private def closedTriangles(und: DataFrame,
                              degOpt: Option[DataFrame] = None)
      : DataFrame = {
    val deg = degOpt.getOrElse(
      und.select(col("u").as("node"))
        .unionAll(und.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
        .localCheckpoint())
    val oriented = und
      .join(deg.withColumnRenamed("node", "u")
        .withColumnRenamed("deg", "du"), "u")
      .join(deg.withColumnRenamed("node", "v")
        .withColumnRenamed("deg", "dv"), "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          col("u")).otherwise(col("v")).as("src"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          col("v")).otherwise(col("u")).as("dst"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          struct(col("dv").as("d"), col("v").as("n")))
          .otherwise(struct(col("du").as("d"), col("u").as("n")))
          .as("dstOrd"))
      .localCheckpoint()
    val e1 = oriented.select(col("src"), col("dst").as("b"),
      col("dstOrd").as("bOrd"))
    val e2 = oriented.select(col("src"), col("dst").as("c"),
      col("dstOrd").as("cOrd"))
    val wedges = e1.join(e2, "src")
      .filter(col("bOrd") < col("cOrd"))
      .select(col("src").as("apex"), col("b"), col("c"))
    val closing = oriented.select(col("src").as("b"), col("dst").as("c"))
    wedges.join(closing, Seq("b", "c"))
      .select(col("apex"), col("b"), col("c"))
  }

  /** Per-customer triangle participation in the capped co-sourcing
    * projection ([[coSourceEdges]]) — the KEY-LEVEL lift of
    * [[trianglesTrade]], whose 25-node nation triple set is
    * degenerate by the survey's own admission. A triangle is three
    * customers pairwise joined by repeated shared sourcing — the
    * tightest co-demand motif. Output: (cust, n_tri) for every
    * projection-edge-bearing customer. The oracle re-derives the
    * identical count from the plain id-ordered 3-way join —
    * orientation changes only the intermediate size. */
  def trianglesKeysTrade(lineitem: DataFrame, orders: DataFrame,
                         cap: Int = 64, minShared: Int = 2)
      : DataFrame =
    triangleCornersFor(lineitem, orders, cap, minShared)
      .select(col("node").as("cust"), col("n_tri"))

  /** The memoized corner-count frame [[trianglesKeysTrade]] and
    * [[clusteringKeysTrade]] share: before the cache, clustering
    * re-paid the whole wedge-close pipeline on top of triangles
    * (measured 66.8 s vs triangles' 38.5 s at sf10 — the r11
    * verdict's standing watch item); now the family pays it once
    * per (dataset, cap, minShared) and keeps only the final (node,
    * n_tri) checkpoint — the oriented/degree intermediates are
    * unpersisted the moment the corners materialize. */
  private def triangleCornersFor(lineitem: DataFrame, orders: DataFrame,
                                 cap: Int, minShared: Int): DataFrame =
    FrameCache.cached(lineitem.sparkSession,
      s"tcr:${FrameCache.planKey(lineitem, orders)}:$cap:$minShared",
      keepOnlyLast = true) {
      triangleCorners(coSourceEdges(lineitem, orders, cap, minShared))
        .localCheckpoint()
    }

  /** PERSONALIZED PageRank over the key-level repeat-business graph
    * — rank with teleport restricted to the seed set (every
    * edge-bearing customer of the lexicographically first nation,
    * the [[ssspKeysTrade]] seeds): "which entities accumulate
    * standing FROM THIS MARKET's sustained demand", the
    * trust-propagation / recommendation primitive next to
    * [[pageRankKeysTrade]]'s global centrality. Same fixed-point
    * integer contract (scale 1e12, ppm fractions, 85/100 damping,
    * floors everywhere — bit-identical on any engine); base mass
    * (S div |seeds|)·15/100 flows ONLY to seeds, so non-seed rank
    * is pure propagation.
    *
    * Scale shape: the rank frame starts at the seed set and grows
    * with the REACHED set only (each round one co-partitioned
    * arc⋈rank join + groupBy + a full-outer merge with the seed
    * base — all O(reached), the ssspKeys billion-node contract);
    * rows whose floored rank is 0 are dropped at the end (they
    * contribute nothing and keep the output O(positive-rank)). */
  def pprKeysTrade(lineitem: DataFrame, orders: DataFrame,
                   customer: DataFrame, nation: DataFrame,
                   minTrades: Int = 2, minReturns: Int = 2,
                   iters: Int = 3,
                   driverCutoff: Long = DriverCutoff.pairRows)
      : DataFrame = {
    val S = 1000000000000L
    val arcs = repeatKeyEdges(lineitem, orders, minTrades, minReturns)
      .select("a", "b")
    val nodes = arcs.select(col("a").as("node"))
      .unionByName(arcs.select(col("b").as("node"))).distinct()
    val srcNation = nation.orderBy("n_name", "n_nationkey").limit(1)
      .select("n_nationkey")
    // the seed intersection stays DISTRIBUTED in both paths (the raw
    // per-nation customer list scales with the corpus, not with the
    // thresholded arc frame; the left-semi bounds what the driver
    // twin collects at ≤ |nodes| ≤ 2·arcs)
    val seedsLazy = customer
      .join(broadcast(srcNation),
        col("c_nationkey") === col("n_nationkey"))
      .select((col("c_custkey") * 2).cast("long").as("node"))
      .join(nodes, Seq("node"), "left_semi")
    // size-adaptive driver twin ([[DriverCutoff]]) with its own
    // seed-teleport recurrence: [[pageRankPpm]] keeps a fixed node
    // set, while here the rank map is rebuilt each round from the
    // seeds and the reached nodes. Profiled at sf0.1 the distributed
    // loop's 33 AQE stage jobs cost 1.28 s wall. Identical integer-ppm
    // arithmetic — commutative Long sums (exact below the hitsTrade
    // cap), floor divisions in the same order, the full-outer seed
    // merge replicated as "seeds keep their base, reached non-seeds
    // get contribution only" — byte-equal (Round13Spec pins the
    // boundary). Above min(cutoff, cap) the distributed loop runs
    // UNCHANGED.
    DriverCutoff.collectUnder(arcs,
        math.min(driverCutoff, Long.MaxValue / S)) match {
      case Some(rows) =>
        val pairs = longPairs(rows)
        val seedArr = seedsLazy.collect().map(_.getLong(0))
        if (seedArr.isEmpty)
          return DriverCutoff.twinFrame(lineitem.sparkSession,
            Seq.empty[(String, Long, Long)], "node_type", "node", "ppr_scaled")
        val od = mutable.LongMap.empty[Long].withDefaultValue(0L)
        pairs.foreach { case (a, _) => od(a) += 1L }
        val nSeeds = seedArr.length.toLong
        val base = ((S / nSeeds) * 15L) / 100L
        val isSeed = mutable.LongMap.empty[Unit]
        seedArr.foreach(v => isSeed(v) = ())
        var pr = mutable.LongMap.empty[Long]
        seedArr.foreach(v => pr(v) = S / nSeeds)
        for (_ <- 0 until iters) {
          val c = mutable.LongMap.empty[Long].withDefaultValue(0L)
          pairs.foreach { case (a, b) =>
            pr.get(a).foreach(p => c(b) += (p * (1000000L / od(a))) / 1000000L)
          }
          val next = mutable.LongMap.empty[Long]
          seedArr.foreach(v => next(v) = base + (c(v) * 85L) / 100L)
          c.foreach { case (v, cv) =>
            if (!isSeed.contains(v)) next(v) = (cv * 85L) / 100L }
          pr = next
        }
        val out = pr.toSeq.filter(_._2 > 0L).sortBy(_._1).map { case (v, p) =>
          (if (v % 2 == 0) "cust" else "supp", v, p) }
        DriverCutoff.twinFrame(lineitem.sparkSession, out,
          "node_type", "node", "ppr_scaled")
      case None =>
        val seeds = seedsLazy.localCheckpoint()
        val outd = arcs.groupBy("a").agg(count(lit(1)).as("od"))
        val edges = arcs.join(outd, "a")
          .select(col("a").as("src"), col("b").as("dst"),
            expr("1000000 div od").as("frac_ppm"))
          .localCheckpoint()
        val nSeeds = seeds.count()
        // seed-free market (the source nation's customers carry no arc
        // at this threshold): S div 0 would die mid-plan; with no seed
        // there is no teleport mass and no propagation — empty frame
        // with the declared schema (oracle-aligned: its per-seed
        // divisions never run over zero seed rows)
        if (nSeeds == 0L)
          return seeds.select(
            lit("cust").as("node_type"), col("node"),
            col("node").as("ppr_scaled")).limit(0)
        val base = ((S / nSeeds) * 15L) / 100L
        val seedBase = seeds.withColumn("b", lit(base))
        var ranks = seeds.withColumn("pr", lit(S / nSeeds))
        for (_ <- 0 until iters) {
          val contrib = edges
            .join(ranks, edges("src") === ranks("node"))
            .select(col("dst").as("node"),
              expr("(pr * frac_ppm) div 1000000").as("term"))
            .groupBy("node").agg(sum("term").as("c"))
          ranks = seedBase
            .join(contrib, Seq("node"), "full_outer")
            .select(col("node"),
              (coalesce(col("b"), lit(0L)) +
                expr("(coalesce(c, 0L) * 85) div 100")).as("pr"))
            .localCheckpoint()
        }
        ranks.filter(col("pr") > 0L)
          .select(
            when(col("node") % 2 === 0, "cust").otherwise("supp")
              .as("node_type"),
            col("node"), col("pr").as("ppr_scaled"))
    }
  }

  /** Customer MARKET SEGMENTS: connected components of the capped
    * co-sourcing projection ([[coSourceEdges]]) — customers linked
    * by repeated shared sourcing collapse into supply communities,
    * the graph twin of the dedup clusters (and literally the same
    * machinery: [[graft.operators.Dedup.connectedComponents]]' size-
    * adaptive union-find / path-halving label propagation, min-id
    * labels). Output one row per edge-bearing customer with its
    * segment id and segment size; isolated customers have no
    * projection edge and are absent by the O(edge-bearing) output
    * contract.
    *
    * driverCutoff is [[DriverCutoff.pairRows]] (~8.4M 16-byte
    * (long, long) rows — the shared 128 MiB driver budget): this is
    * the op whose r11 incident MOTIVATED the byte contract — at
    * sf10 the projection lands at 4.25M directed edges, just past
    * the old uniform 2M-row default, and the distributed label loop
    * burned ~20 min of single-JVM GC-pressured rounds where the
    * union-find takes seconds (the r10 dedup_union_cluster
    * measurement, 32.7 s loop vs 0.3 s union-find, reproduced one
    * size tier up). Past the budget — true cluster scale — the
    * distributed path-halving loop runs unchanged. */
  def cosourceComponents(lineitem: DataFrame, orders: DataFrame,
                         cap: Int = 64, minShared: Int = 2,
                         driverCutoff: Long = DriverCutoff.pairRows)
      : DataFrame = {
    val und = coSourceEdges(lineitem, orders, cap, minShared)
    val nodes = und.select(col("u").as("doc_id"))
      .unionByName(und.select(col("v").as("doc_id"))).distinct()
    val labeled = graft.operators.Dedup.connectedComponents(
      und.select(col("u").as("doc1"), col("v").as("doc2")), nodes,
      driverCutoff = driverCutoff)
      .select(col("doc_id").as("cust"), col("cluster_id").as("segment_id"))
    labeled.join(
      labeled.groupBy("segment_id").agg(count(lit(1)).as("segment_size")),
      "segment_id")
      .select("cust", "segment_id", "segment_size")
  }

  /** Per-customer local clustering coefficient over the capped
    * co-sourcing projection — [[localClustering]] at entity grain:
    * cc(v) = 2·T(v)·10⁶ div (deg(v)·(deg(v)−1)) exact ppm, NULL for
    * degree-1 nodes (undefined, not zero — a pendant has no wedge
    * to close). Shares [[coSourceEdges]] + [[triangleCorners]] with
    * [[trianglesKeysTrade]]; the only additions are the degree
    * frame it already built and one integer division. */
  def clusteringKeysTrade(lineitem: DataFrame, orders: DataFrame,
                          cap: Int = 64, minShared: Int = 2)
      : DataFrame = {
    val und = coSourceEdges(lineitem, orders, cap, minShared)
    val deg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    triangleCornersFor(lineitem, orders, cap, minShared)
      .join(deg, "node")
      .select(col("node").as("cust"), col("deg"), col("n_tri"),
        expr("""CASE WHEN deg >= 2 THEN
          n_tri * 2000000 div (deg * (deg - 1)) END""")
          .cast("long").as("cc_ppm"))
  }

  /** Family-shared landmark distance frame over the KEY-LEVEL
    * repeat-business graph: (lm, node, h) for `landmarks`
    * md5(salt+node)-chosen pivots — ONE multi-source BFS keyed
    * (landmark, node): one arc⋈dist join + per-(lm,node) min per
    * round, O(landmarks·reached) rows, never all-sources. The 'bw:'
    * salt serves [[eccentricityKeysTrade]], [[betweennessKeysTrade]]
    * and [[hopHistogramKeysTrade]], the 'hl:' salt
    * [[harmonicKeysTrade]]; the salt is part of the FrameCache key,
    * so each family pays its BFS once per (dataset, params) — the r12
    * cross-query sharing contract. maxIter is the engine↔oracle
    * parity bound: the oracle sweeps a fixed 60 rounds; the engine
    * throws past it (loud, never silently unequal). */
  private def landmarkDistKeys(lineitem: DataFrame, orders: DataFrame,
                               salt: String,
                               minTrades: Int, minReturns: Int,
                               landmarks: Int, maxIter: Int,
                               driverCutoff: Long)
      : DataFrame = FrameCache.cached(lineitem.sparkSession,
    s"lbfs:$salt${FrameCache.planKey(lineitem, orders)}:" +
      s"$minTrades:$minReturns:$landmarks:$maxIter:$driverCutoff",
    // the BFS loop checkpoints every round; only the converged
    // frame (the max created id) may be pinned — pinning the loop
    // intermediates lets the ContextCleaner invalidate the entry
    // the moment any GC'd intermediate is reaped, silently turning
    // every family member into a full rebuild (measured: 19.2 s
    // eccentricity at sf0.1 vs sub-second warm)
    keepOnlyLast = true) {
    val edges = repeatKeyEdges(lineitem, orders, minTrades, minReturns)
      .select("a", "b") // cached parent — no eager re-checkpoint
    val nodes = edges.select(col("a").as("node"))
      .unionByName(edges.select(col("b").as("node"))).distinct()
    val lms = nodes
      .orderBy(md5(concat(lit(salt), col("node").cast("string"))),
        col("node"))
      .limit(landmarks)
      .select(col("node").as("lm"))
      .localCheckpoint()
    def stuck = new IllegalStateException(
      s"landmarkDistKeys did not converge in $maxIter rounds — " +
        "raise maxIter (and the oracle's sweep bound)")
    DriverCutoff.collectUnder(edges, driverCutoff) match {
      case Some(rows) =>
        // size-adaptive driver BFS ([[hopBfs]], [[DriverCutoff]] byte
        // budget): the sf0.1 BFS runs 47 distributed rounds × 2 driver
        // jobs on KB-scale frontiers — pure per-job fixed cost.
        // Round12Spec pins both families byte-equal across the cutoff.
        // A node past maxIter hops shows up at hop maxIter + 1.
        val adj = adjacency(longPairs(rows))
        val out = lms.collect().flatMap { r =>
          val lm = r.getLong(0)
          hopBfs(adj, Seq(lm), maxIter + 1L)
            .map { case (n, h) => (lm, n, h) }
        }
        if (out.exists(_._3 > maxIter)) throw stuck
        DriverCutoff.twinFrame(lineitem.sparkSession,
          out.sortBy(r => (r._1, r._2)).toSeq, "lm", "node", "h")
          .localCheckpoint()
      case None =>
        // a hop-diameter-exactly-maxIter graph converges here just as
        // it passes the driver BFS's '> maxIter' assert
        relaxReached(edges,
          lms.select(col("lm"), col("lm").as("node"))
            .withColumn("h", lit(0L)).localCheckpoint(),
          Seq("lm", "node"), "h", lit(1L), maxIter, stuck)
    }
  }

  /** KEY-LEVEL landmark eccentricity lower bounds: for every node
    * reached by any of the 8 'bw:' pivots, ecc_lb = max over pivots
    * of d(pivot → node) — the standard BFS-landmark eccentricity
    * bound (each pivot's distance to v is a witness path, so the
    * max over pivots never exceeds the true in-eccentricity of v's
    * sources view; at billion-node scale exact all-pairs diameter
    * is off the table and pivot bounds ARE the published estimator).
    * One groupBy over the FrameCache-shared (lm, node, h) frame —
    * the corpus is touched only by [[repeatKeyEdges]]' collapse,
    * and the BFS itself is shared with [[betweennessKeysTrade]].
    * n_lm counts the pivots that reach the node (pivots count
    * themselves at h = 0). */
  def eccentricityKeysTrade(lineitem: DataFrame, orders: DataFrame,
                            minTrades: Int = 2, minReturns: Int = 2,
                            landmarks: Int = 8, maxIter: Int = 60,
                            driverCutoff: Long = DriverCutoff.pairRows)
      : DataFrame = {
    landmarkDistKeys(lineitem, orders, "bw:", minTrades, minReturns,
      landmarks, maxIter, driverCutoff)
      .groupBy("node")
      .agg(max("h").as("ecc_lb"), count(lit(1)).as("n_lm"))
      .select(
        when(col("node") % 2 === 0, "cust").otherwise("supp")
          .as("node_type"),
        col("node"), col("ecc_lb"), col("n_lm"))
  }

  /** Hop-distance histogram from the landmark probes — the
    * neighborhood-function estimate (the ANF / effective-diameter
    * ingredient, Palmer–Gibbons–Faloutsos KDD'02: N(h) ≈ how many
    * (source, node) pairs sit within h hops, estimated from sampled
    * sources; the h where the cumulative curve flattens IS the
    * effective diameter): per-hop (landmark, node) pair counts +
    * distinct reached nodes over the FrameCache-shared BFS frame —
    * one groupBy, zero additional corpus touches, third rider on
    * the 'bw:' pivot family. */
  def hopHistogramKeysTrade(lineitem: DataFrame, orders: DataFrame,
                            minTrades: Int = 2, minReturns: Int = 2,
                            landmarks: Int = 8, maxIter: Int = 60,
                            driverCutoff: Long = DriverCutoff.pairRows)
      : DataFrame = {
    landmarkDistKeys(lineitem, orders, "bw:", minTrades, minReturns,
      landmarks, maxIter, driverCutoff)
      .groupBy("h")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct("node").as("n_nodes"))
  }

  /** KEY-LEVEL landmark betweenness (depth-bounded Brandes): the
    * canonical shortest-path centrality, in the only form that
    * survives a billion-node graph — pivot sampling (8 md5-chosen
    * 'bw:' sources) × a fixed 8-hop horizon (Brandes–Pich pivot
    * approximation; contributions beyond the horizon are zero BY
    * DESIGN, so engine and oracle bound the same universe).
    *
    * Forward: σ(w) = Σ σ(v) over in-neighbors at h(w)−1 — 8
    * level-synchronous rounds, each ONE arc⋈frontier join guarded
    * by the FrameCache-shared landmark distance frame (h = k+1
    * semi-join — no visited-set anti-join needed, the distance
    * frame IS the BFS DAG certificate). Backward: Brandes'
    * dependency δ(v) = Σ_{v→w on DAG} ⌊σv·10⁶/σw⌋·(10⁶+δw) div 10⁶
    * accumulated level-by-level from the horizon down — every
    * division an integer floor in a fixed order, bit-identical on
    * any engine (the ppm contract of [[pageRankKeysTrade]]).
    * btw_ppm(v) = Σ over pivots s ≠ v of δ_s(v), scale 10⁶ = one
    * fully-dependent reachable node.
    *
    * Every exchanged frame is O(landmarks · level-width); the
    * corpus is touched once ([[repeatKeyEdges]], memoized). Integer
    * honesty guards: σ ≤ 9·10¹² and δ ≤ 9·10¹² asserted per round
    * on DECIMAL(38,0) sums BEFORE narrowing to long — σ·10⁶ and
    * (10⁶+δ)·r_ppm then provably fit int64 (σv ≤ σw on a DAG arc,
    * so r_ppm ≤ 10⁶) — past the cap the engine fails loud, never
    * silently wraps (the DuckDB oracle's HUGEINT sums raise on
    * their own). */
  def betweennessKeysTrade(lineitem: DataFrame, orders: DataFrame,
                           minTrades: Int = 2, minReturns: Int = 2,
                           landmarks: Int = 8, horizon: Int = 8,
                           maxIter: Int = 60,
                           driverCutoff: Long = DriverCutoff.pairRows)
      : DataFrame = {
    val cap = 9000000000000L // 9e12: σ·10⁶ and r_ppm·(10⁶+δ) < 2⁶³
    val spark = lineitem.sparkSession
    val edges = repeatKeyEdges(lineitem, orders, minTrades, minReturns)
      .select("a", "b") // cached parent — no eager re-checkpoint
    DriverCutoff.collectUnder(edges, driverCutoff) match {
      case Some(rows) =>
        betweennessDriver(spark, longPairs(rows),
          landmarkDistKeys(lineitem, orders, "bw:", minTrades, minReturns,
            landmarks, maxIter, driverCutoff),
          horizon, cap)
      case None =>
        val nodes = edges.select(col("a").as("node"))
          .unionByName(edges.select(col("b").as("node"))).distinct()
        val dd = landmarkDistKeys(lineitem, orders, "bw:", minTrades,
            minReturns, landmarks, maxIter, driverCutoff)
          .filter(col("h") <= horizon).localCheckpoint()
        // checkpoint FIRST, then read the max off the materialized
        // blocks — check-then-checkpoint would compute every level's
        // plan twice (once for the guard aggregate, once to persist)
        def guarded(df: DataFrame, what: String): DataFrame = {
          val ck = df.localCheckpoint()
          val m = ck.agg(max(col(what))).collect()(0)
          if (!m.isNullAt(0) &&
              m.getDecimal(0).compareTo(new java.math.BigDecimal(cap)) > 0)
            throw new IllegalStateException(
              s"betweennessKeysTrade $what exceeds $cap — integer-exact " +
                "ppm accumulation would overflow; shrink horizon/landmarks")
          ck.withColumn(what, col(what).cast("long"))
        }
        // forward: per-level σ frames, level k+1 gated by the distance
        // frame (DAG arcs only — no anti-join against the visited set)
        val byLevel = mutable.ArrayBuffer(
          dd.filter(col("h") === 0)
            .select(col("lm"), col("node"), lit(1L).as("sigma"))
            .localCheckpoint())
        for (k <- 0 until horizon) {
          val nxt = byLevel(k).join(edges,
              byLevel(k)("node") === edges("a"))
            .select(col("lm"), col("b").as("node"), col("sigma"))
            .join(dd.filter(col("h") === (k + 1)).select("lm", "node"),
              Seq("lm", "node"), "left_semi")
            .groupBy("lm", "node")
            .agg(sum(col("sigma").cast("decimal(38,0)")).as("sigma"))
          byLevel += guarded(nxt, "sigma")
        }
        // backward: δ from the horizon down; δ at the deepest level is 0
        var del = byLevel(horizon)
          .select(col("lm"), col("node"), lit(0L).as("del"))
          .localCheckpoint()
        val acc = mutable.ArrayBuffer(del)
        for (k <- (horizon - 1) to 0 by -1) {
          val contribSrc = byLevel(k + 1).join(del, Seq("lm", "node"))
            .join(edges, col("node") === edges("b"))
            .select(col("lm"), edges("a").as("node"),
              col("sigma").as("sigma_w"), col("del").as("del_w"))
          val cur = byLevel(k).join(contribSrc, Seq("lm", "node"), "left")
            .select(col("lm"), col("node"),
              coalesce(
                expr("((sigma * 1000000 div sigma_w) * (1000000 + del_w))" +
                  " div 1000000"),
                lit(0L)).as("c"))
            .groupBy("lm", "node")
            .agg(sum(col("c").cast("decimal(38,0)")).as("del"))
          del = guarded(cur, "del")
          acc += del
        }
        val allDel =
          acc.reduce(_ unionByName _).filter(col("lm") =!= col("node"))
            .groupBy("node").agg(sum("del").as("btw_ppm"))
        nodes.join(allDel, Seq("node"), "left")
          .select(
            when(col("node") % 2 === 0, "cust").otherwise("supp")
              .as("node_type"),
            col("node"),
            coalesce(col("btw_ppm"), lit(0L)).as("btw_ppm"))
    }
  }

  /** Size-adaptive driver twin of [[betweennessKeysTrade]]'s
    * distributed loops over the arcs [[DriverCutoff.collectUnder]]
    * collected, and the [[landmarkDistKeys]] frame: same depth-bounded
    * Brandes, same integer-floor ppm arithmetic, same σ/δ ≤ cap
    * guards on exact (BigInt ≙ DECIMAL(38,0)) per-level sums before
    * narrowing to long — value-equal by construction, pinned
    * byte-equal across the cutoff by Round12Spec. Motivation
    * (measured, sf0.1): the 17 level-synchronous rounds ran
    * KB-scale frames through ~2 driver jobs each (4.8 s isolated,
    * per-job fixed cost — the data never exceeded a few thousand
    * rows); the driver twin computes the same levels in
    * milliseconds once the memoized arc collapse is in hand. */
  private def betweennessDriver(
      spark: org.apache.spark.sql.SparkSession, arcs: Array[(Long, Long)],
      ddFrame: DataFrame, horizon: Int, cap: Long): DataFrame = {
    val adj = adjacency(arcs)
    val nodeSet = mutable.SortedSet.empty[Long]
    arcs.foreach { case (a, b) => nodeSet += a; nodeSet += b }
    val none = mutable.ArrayBuffer.empty[Long]
    // (lm, node, h ≤ horizon) off the FrameCache-shared BFS frame
    val hops = mutable.LongMap.empty[mutable.LongMap[Long]]
    ddFrame.filter(col("h") <= horizon).collect().foreach { r =>
      hops.getOrElseUpdate(r.getLong(0), mutable.LongMap.empty[Long])
        .update(r.getLong(1), r.getLong(2))
    }
    val overflow = new IllegalStateException(
      s"betweennessKeysTrade exceeds $cap — integer-exact ppm " +
        "accumulation would overflow; shrink horizon/landmarks")
    val btw = mutable.LongMap.empty[Long].withDefaultValue(0L)
    hops.foreach { case (lm, hop) =>
      val byLevel = Array.fill(horizon + 1)(
        mutable.ArrayBuffer.empty[Long])
      hop.foreach { case (n, h) => byLevel(h.toInt) += n }
      // forward: σ summed exactly per level (BigInt ≙ the
      // distributed DECIMAL(38,0) sums), guarded, then narrowed
      val sigma = mutable.LongMap.empty[Long]
      sigma(lm) = 1L
      for (k <- 0 until horizon) {
        val nxt = mutable.LongMap.empty[BigInt]
        byLevel(k).foreach { v =>
          adj.getOrElse(v, none).foreach { w =>
            if (hop.getOrElse(w, -1L) == k + 1L)
              nxt(w) = nxt.getOrElse(w, BigInt(0)) + BigInt(sigma(v))
          }
        }
        nxt.foreach { case (w, s) =>
          if (s > cap) throw overflow
          sigma(w) = s.toLong
        }
      }
      // backward: δ from the horizon down, exact sums, guarded
      val del = mutable.LongMap.empty[Long]
      byLevel(horizon).foreach(n => del(n) = 0L)
      for (k <- (horizon - 1) to 0 by -1) {
        byLevel(k).foreach { v =>
          var d = BigInt(0)
          adj.getOrElse(v, none).foreach { w =>
            if (hop.getOrElse(w, -1L) == k + 1L) {
              val c = ((sigma(v) * 1000000L / sigma(w)) *
                (1000000L + del(w))) / 1000000L
              d += BigInt(c)
            }
          }
          if (d > cap) throw overflow
          del(v) = d.toLong
        }
      }
      del.foreach { case (n, d) => if (n != lm) btw(n) += d }
    }
    DriverCutoff.twinFrame(spark, nodeSet.toSeq.map(n =>
        (if (n % 2 == 0) "cust" else "supp", n, btw(n))),
      "node_type", "node", "btw_ppm")
  }

  /** Degree-mixing matrix over the KEY-LEVEL repeat-business graph —
    * the integer-exact assortativity structure: every arc binned by
    * ⌊log₂ deg⌋+1 of each endpoint's TOTAL degree (bucket = binary
    * digit count, exact on any engine — no floating log2 whose
    * power-of-two boundaries drift by an ulp), with per-cell arc
    * counts and raw degree sums. The diagonal-mass-vs-off-diagonal
    * shape IS degree assortativity (Newman's mixing matrix e_jk);
    * the scalar r needs a sqrt no integer contract can express, so
    * the matrix and its BIGINT moments are the gated artifact and r
    * is one driver-side division away for whoever wants the summary.
    * Cost: the memoized [[repeatKeyEdges]] collapse + one small
    * degree aggregate joined twice (broadcast both times — the
    * degree frame is O(edge-bearing nodes)) + one 2-key groupBy:
    * every exchanged frame is O(arcs) and the cell count is
    * ≤ log²(max degree) ≈ a few hundred rows at ANY scale. */
  def degreeMixingTrade(lineitem: DataFrame, orders: DataFrame,
                        minTrades: Int = 2, minReturns: Int = 2)
      : DataFrame = {
    val arcs = repeatKeyEdges(lineitem, orders, minTrades, minReturns)
      .select("a", "b")
    val deg = arcs.select(col("a").as("node"))
      .unionByName(arcs.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    arcs
      .join(deg.select(col("node").as("a"), col("deg").as("src_deg")),
        "a")
      .join(deg.select(col("node").as("b"), col("deg").as("dst_deg")),
        "b")
      .groupBy(
        length(bin(col("src_deg"))).cast("long").as("src_bucket"),
        length(bin(col("dst_deg"))).cast("long").as("dst_bucket"))
      .agg(count(lit(1)).as("n_arcs"),
        sum("src_deg").as("sum_src_deg"),
        sum("dst_deg").as("sum_dst_deg"))
  }

  /** TEMPORAL degree drift — the graph family's first time axis:
    * slice the purchase graph by order MONTH (one arc per (month,
    * cust, supp)), and report per month the active-graph telemetry
    * (edges, customers, suppliers) plus the L1 distance between the
    * month's customer-degree histogram and the previous month's —
    * the month-over-month structural-churn signal behind "did the
    * market's shape move or just its volume" (a stable L1 with
    * rising edges = same structure, more of it; an L1 spike = the
    * degree distribution itself shifted). Histograms bucket by
    * degree bit-length (the [[degreeMixingTrade]] buckets), so the
    * report is a few dozen rows per month however large the graph.
    *
    * The L1 is computed WITHOUT a month self-join: each histogram
    * cell (m, b, h) also ships a phantom (m+1, b, −h); summing per
    * (month, bucket) leaves exactly h_m(b) − h_{m−1}(b), and one
    * more grouped Σ|·| per month is the distance — two
    * partial-aggregable groupBys over (month, bucket) cells, never
    * a histogram-to-histogram join. The first month's drift is NULL
    * (no predecessor), not the degenerate distance-to-empty. All
    * counts — bit-identical on any engine. */
  def degreeDriftTrade(lineitem: DataFrame, orders: DataFrame)
      : DataFrame = {
    val arcs = lineitem.select(col("l_orderkey"), col("l_suppkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("mk"),
        col("o_custkey").cast("long").as("cust"),
        col("l_suppkey").cast("long").as("supp"))
      .distinct()
      .localCheckpoint()
    // ONE (mk, cust) degree collapse feeds the histogram AND the
    // edge/customer stats: n_edges = Σ deg (arcs is distinct), and
    // n_customers = its row count per mk — the double-countDistinct
    // Expand over the full arc frame this replaces tripled the
    // aggregated bytes for numbers the degree frame already holds
    // (r13; counts identical by construction).
    // lazy: degc's (mk, cust) exchange is identical in the histogram
    // and stats consumers — ReusedExchange computes it once; an eager
    // checkpoint measured slower than the reuse.
    val degc = arcs.groupBy("mk", "cust")
      .agg(count(lit(1)).as("deg"))
    val hist = degc
      .groupBy(col("mk"),
        length(bin(col("deg"))).cast("long").as("bucket"))
      .agg(count(lit(1)).as("h"))
    val l1 = hist.select(col("mk"), col("bucket"), col("h"))
      .unionByName(hist.select((col("mk") + 1).as("mk"),
        col("bucket"), (-col("h")).as("h")))
      .groupBy("mk", "bucket").agg(sum("h").as("s"))
      .groupBy("mk").agg(sum(abs(col("s"))).as("l1_drift"))
    val stats = degc.groupBy("mk").agg(
      sum("deg").as("n_edges"),
      count(lit(1)).as("n_customers"))
      .join(arcs.groupBy("mk")
        .agg(countDistinct("supp").as("n_suppliers")), "mk")
    val m0 = arcs.agg(min("mk")).head().getLong(0)
    stats.join(l1, Seq("mk"), "left")
      .select(col("mk").as("month_key"), col("n_edges"),
        col("n_customers"), col("n_suppliers"),
        when(col("mk") === m0, lit(null).cast("long"))
          .otherwise(col("l1_drift")).as("l1_drift"))
  }

  // ---- distributed round loops: the one copy of each loop that
  // several operators run above their cutoff ----

  /** The integer-ppm PageRank rounds of [[pageRankTrade]] and
    * [[pageRankKeysTrade]]: ranks (node, pr) at scale 1e12 over the
    * `n` (> 0) rows of `nodes`, flowing along `edges` (src, dst,
    * frac_ppm) for `iters` rounds. [[pageRankPpm]] is the driver
    * twin. */
  private def pageRankRounds(nodes: DataFrame, n: Long, edges: DataFrame,
                             iters: Int): DataFrame = {
    val S = 1000000000000L
    val base = ((S / n) * 15L) / 100L
    var ranks = nodes.withColumn("pr", lit(S / n))
    for (_ <- 0 until iters) {
      val contrib = edges
        .join(ranks, edges("src") === ranks("node"))
        .select(col("dst").as("node"),
          expr("(pr * frac_ppm) div 1000000").as("term"))
        .groupBy("node").agg(sum("term").as("c"))
      ranks = nodes
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + expr("(coalesce(c, 0L) * 85) div 100")).as("pr"))
    }
    ranks
  }

  /** The distributed SCC route of [[sccTrade]] and
    * [[topoLayersTrade]], each of which has already counted `edges`
    * (a, b) in its own gate: the iterated-squaring closure, then
    * scc(v) = min of v and its mutually reachable peers, per nation
    * node. [[sccClosure]] is the driver twin. */
  private def sccSquaring(edges: DataFrame, nation: DataFrame,
                          maxIter: Int): DataFrame = {
    var reach = edges
    var converged = false
    var i = 0
    // improving rounds ≤ maxIter; +1 is the confirming round
    while (!converged && i < maxIter + 1) {
      val nxt = reach.unionByName(
          reach.as("x").join(reach.as("y"), col("x.b") === col("y.a"))
            .select(col("x.a").as("a"), col("y.b").as("b")))
        .distinct().localCheckpoint()
      converged = nxt.count() == reach.count()
      reach = nxt
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"sccTrade closure did not converge in $maxIter rounds")
    val mutual = reach.as("f").join(reach.as("r"),
        col("f.a") === col("r.b") && col("f.b") === col("r.a"))
      .select(col("f.a").as("node"), col("f.b").as("peer"))
    val nodes = nation.select(col("n_nationkey").cast("long").as("node"))
    nodes.join(mutual, Seq("node"), "left")
      .groupBy("node")
      .agg(coalesce(least(min("peer"), col("node")), col("node"))
        .as("scc_id"))
  }

  /** The max-relax layering of [[topoLayersTrade]] and
    * [[topoLayersKeysTrade]]: every component of `scc` (scc_id)
    * starts at layer 0 and takes 1 + the max over its predecessors in
    * the condensation arcs `cond` (sa, sb). At most `bound` improving
    * rounds plus one confirming round, else `stuck` is thrown.
    * Returns (scc_id, layer). */
  private def maxRelaxLayers(cond: DataFrame, scc: DataFrame, bound: Int,
                             stuck: => IllegalStateException): DataFrame = {
    var layers = scc.select("scc_id").distinct()
      .withColumn("layer", lit(0L)).localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < bound + 1) {
      val relaxed = cond
        .join(layers, col("sa") === col("scc_id"))
        .select(col("sb").as("scc_id"), (col("layer") + 1L).as("layer"))
        .unionByName(layers)
        .groupBy("scc_id").agg(max("layer").as("layer"))
        .localCheckpoint()
      val improved = relaxed.as("x")
        .join(layers.as("y"), Seq("scc_id"))
        .filter(col("x.layer") > col("y.layer")).count()
      converged = improved == 0
      layers = relaxed
      i += 1
    }
    if (!converged) throw stuck
    layers
  }

  /** The min-plus relaxation of [[ssspTrade]] and [[closenessTrade]]
    * over `edges` (esrc, edst, cost), on a distance frame keyed by
    * `keys` (the last is "node") whose d is null until reached. Only
    * a row present in the previous frame registers an improvement,
    * the rule [[bellmanFord]] (the driver twin) documents. At most
    * `maxIter` improving rounds plus one confirming round, else
    * `stuck` is thrown. */
  private def relaxPresent(edges: DataFrame, dist0: DataFrame,
                           keys: Seq[String], maxIter: Int,
                           stuck: => IllegalStateException): DataFrame = {
    var dist = dist0
    var converged = false
    var i = 0
    while (!converged && i < maxIter + 1) {
      val relaxed = edges
        .join(dist.filter(col("d").isNotNull), col("esrc") === col("node"))
        .select(keys.init.map(col) :+ col("edst").as("node") :+
          (col("d") + col("cost")).as("d"): _*)
        .unionByName(dist)
        .groupBy(keys.map(col): _*).agg(min("d").as("d"))
        .localCheckpoint()
      val improved = relaxed.as("a")
        .join(dist.as("b"), keys)
        .filter(col("a.d").isNotNull &&
          (col("b.d").isNull || col("a.d") < col("b.d")))
        .count()
      converged = improved == 0
      dist = relaxed
      i += 1
    }
    if (!converged) throw stuck
    dist
  }

  /** The min-plus relaxation of [[ssspKeysTrade]] and
    * [[landmarkDistKeys]] over `edges` (a, b, …), on a distance frame
    * keyed by `keys` (the last is "node") holding reached rows only:
    * an arc adds `step` to value column `v`, and any new or shorter
    * row is an improvement. At most `maxIter` improving rounds plus
    * one confirming round, else `stuck` is thrown. */
  private def relaxReached(edges: DataFrame, dist0: DataFrame,
                           keys: Seq[String], v: String, step: Column,
                           maxIter: Int,
                           stuck: => IllegalStateException): DataFrame = {
    var dist = dist0
    var improved = 1L
    var i = 0
    while (improved > 0 && i < maxIter + 1) {
      val relaxed = edges.join(dist, edges("a") === dist("node"))
        .select(keys.init.map(col) :+ col("b").as("node") :+
          (col(v) + step).as(v): _*)
        .unionByName(dist)
        .groupBy(keys.map(col): _*).agg(min(v).as(v))
        .localCheckpoint()
      improved = relaxed.as("x")
        .join(dist.as("y"), keys, "left_outer")
        .filter(col(s"y.$v").isNull || col(s"x.$v") < col(s"y.$v")).count()
      dist = relaxed
      i += 1
    }
    if (improved > 0) throw stuck
    dist
  }

  // ---- driver-twin kernels: each is the arithmetic of one
  // distributed loop, shared by every twin of that loop ----

  private def longPairs(rows: Array[Row]): Array[(Long, Long)] =
    rows.map(r => (r.getLong(0), r.getLong(1)))

  private def longTriples(rows: Array[Row]): Array[(Long, Long, Long)] =
    rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

  /** The nation dimension as (n_nationkey, n_name) on the driver. */
  private def nationNames(nation: DataFrame): Array[(Long, String)] =
    nation.select(col("n_nationkey").cast("long"), col("n_name"))
      .collect().map(r => (r.getLong(0), r.getString(1)))

  /** Out-adjacency lists of directed (a, b) arcs. */
  private def adjacency(arcs: Array[(Long, Long)])
      : mutable.LongMap[mutable.ArrayBuffer[Long]] = {
    val adj = mutable.LongMap.empty[mutable.ArrayBuffer[Long]]
    arcs.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.ArrayBuffer.empty[Long]) += b }
    adj
  }

  /** Min-hop distances from `sources` along `adj`, out to `maxHops`:
    * the fixpoint of the distributed frontier⋈arcs loops of
    * [[bfsTrade]] and [[landmarkDistKeys]] (min-hop BFS distances are
    * unique, so the twins are value-equal by construction). */
  private def hopBfs(adj: mutable.LongMap[mutable.ArrayBuffer[Long]],
                     sources: Iterable[Long], maxHops: Long)
      : mutable.LongMap[Long] = {
    val none = mutable.ArrayBuffer.empty[Long]
    val hop = mutable.LongMap.empty[Long]
    sources.foreach(hop(_) = 0L)
    var frontier = hop.keys.toList
    var h = 0L
    while (frontier.nonEmpty && h < maxHops) {
      h += 1
      frontier = frontier.flatMap { v =>
        adj.getOrElse(v, none).filterNot(hop.contains).map { w =>
          hop(w) = h; w
        }
      }
    }
    hop
  }

  /** The synchronous Bellman–Ford rounds of [[ssspTrade]] and
    * [[closenessTrade]] over (a, b, cost) arcs, all sources in
    * lockstep: one (dist, present) state per source, dist holding a
    * value only for reached nodes. Each round relaxes from
    * round-start distances; only a node PRESENT at round start (a
    * row of the distributed frame, which the convergence check
    * inner-joins) registers an improvement, first reach included.
    * Rounds stop when no source improves, after at most maxIter + 1
    * (the +1 is the confirming round); returns whether they
    * converged. Per-source runs would differ: a source whose round
    * only adds a non-present node keeps relaxing while others
    * improve. */
  private def bellmanFord(arcs: Array[(Long, Long, Long)],
                          states: Seq[(mutable.LongMap[Long], mutable.Set[Long])],
                          maxIter: Int): Boolean = {
    var converged = false
    var i = 0
    while (!converged && i < maxIter + 1) {
      converged = !states.map { case (dist, present) =>
        val relaxed = dist.clone()
        arcs.foreach { case (a, b, c) =>
          dist.get(a).foreach { da =>
            if (!relaxed.contains(b) || da + c < relaxed(b))
              relaxed(b) = da + c
          }
        }
        val improved = relaxed.exists { case (n, d) =>
          present(n) && dist.get(n).forall(_ > d) }
        relaxed.foreach { case (n, d) => dist(n) = d; present += n }
        improved
      }.contains(true)
      i += 1
    }
    converged
  }

  /** The integer-ppm PageRank rounds of [[pageRankTrade]] and
    * [[pageRankKeysTrade]] over (src, dst, frac_ppm) arcs: ranks at
    * scale 1e12 start at S div n over `nodes`; each round a node
    * takes base + 85% of its floored in-flow, base = (S div n)·15
    * div 100. Arcs whose src is not a node carry nothing, as the
    * distributed join drops them. Long sums are commutative and every
    * division floors in the distributed order, so ranks are
    * byte-equal. */
  private def pageRankPpm(arcs: Array[(Long, Long, Long)],
                          nodes: Array[Long], iters: Int)
      : mutable.LongMap[Long] = {
    val S = 1000000000000L
    val n = nodes.length.toLong
    val base = ((S / n) * 15L) / 100L
    val pr = mutable.LongMap.empty[Long]
    nodes.foreach(v => pr(v) = S / n)
    for (_ <- 0 until iters) {
      val c = mutable.LongMap.empty[Long].withDefaultValue(0L)
      arcs.foreach { case (s, d, f) =>
        pr.get(s).foreach(p => c(d) += (p * f) / 1000000L) }
      nodes.foreach(v => pr(v) = base + (c(v) * 85L) / 100L)
    }
    pr
  }
}
