package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._
import graft.sources.Tables

/** Physical-plan quality gates: these are the properties that decide
  * whether a plan survives a 100x scale-up, asserted so refactors
  * can't silently regress them. */
class PlanSpec extends AnyFunSuite {
  import TestSession._

  private def plan(df: DataFrame): String = {
    df.collect() // materialize so AQE finalizes its choices
    // AQE's toString carries both final and initial plans; assert on final
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  test("q6: filters and column pruning reach the parquet scan") {
    val p = plan(Relational.q6Revenue(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    // only the 4 needed columns are read, not all 11
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate:timestamp_ntz>"))
  }

  test("q3/q5: dimension joins broadcast; no shuffle joins, no cartesian") {
    for (df <- Seq(Relational.q3ShippingPriority(spark, sf),
                   Relational.q5LocalSupplier(spark, sf))) {
      val p = plan(df)
      assert(p.contains("BroadcastHashJoin"))
      assert(!p.contains("SortMergeJoin"))
      assert(!p.contains("CartesianProduct"))
    }
  }

  test("per-key window ops shuffle exactly once (hash on user_id)") {
    for (df <- Seq(Reactive.rxScan(Tables.events(spark, sf)),
                   Reactive.rxWithLatestFrom(Tables.events(spark, sf)),
                   Reactive.rxDistinctUntilChanged(Tables.events(spark, sf)))) {
      val p = plan(df)
      val hashExchanges = "hashpartitioning\\(user_id".r.findAllIn(p).length
      assert(hashExchanges === 1, s"expected 1 user_id exchange:\n$p")
    }
  }

  test("chained per-key ops reuse the user_id partitioning (no extra shuffle)") {
    // debounce then per-key aggregate: the groupBy must reuse the
    // window's hashpartitioning(user_id) instead of re-shuffling
    val chained = Reactive.rxDebounce(Tables.events(spark, sf))
      .groupBy("user_id").agg(count(lit(1)).as("n"), sum("value").as("s"))
    val p = plan(chained)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges === 1, s"expected exactly 1 exchange:\n$p")
  }

  test("per-document text scoring is shuffle-free (pure scan pipeline)") {
    for (df <- Seq(TextAnalysis.textQuality(Tables.documents(spark, sf)),
                   TextAnalysis.tokenCount(Tables.documents(spark, sf)),
                   TextAnalysis.fingerprint(Tables.documents(spark, sf)))) {
      val p = plan(df)
      assert(!p.contains("Exchange"), s"unexpected shuffle:\n$p")
    }
  }

  test("LSH dedup paths never form a cartesian product") {
    for (df <- Seq(Dedup.minhashLsh(Tables.documents(spark, sf)),
                   Dedup.simhash(Tables.documents(spark, sf)),
                   Dedup.embeddingNearDup(Tables.embeddings(spark, sf),
                     planes = 6, minCosine = 0.25))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct"))
      assert(!p.contains("BroadcastNestedLoopJoin"))
    }
  }

  test("brute-force ANN broadcasts the query side (corpus never shuffles)") {
    val e = Tables.embeddings(spark, sf)
    val p = plan(Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10)))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("asof join is a single shuffle, never a physical join") {
    val p = plan(AsOf.purchasesWithLatestClick(Tables.events(spark, sf)))
    assert(!p.contains("Join"), s"asof must not plan a join:\n$p")
    val hashExchanges = "hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(hashExchanges === 1, s"expected 1 user_id exchange:\n$p")
  }

  test("ngram jaccard posting join never carries shingle arrays or a cartesian") {
    val p = plan(TextAnalysis.ngramJaccard(Tables.documents(spark, sf)))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    // the posting-list self-join shuffles (source, hash, id) triples;
    // the shingle strings must stay inside the scan stage
    val joinExchangeCarriesStrings =
      "Exchange hashpartitioning\\(source[^\\n]*sh#".r.findFirstIn(p)
    assert(joinExchangeCarriesStrings.isEmpty,
      s"shingle payload rides the join shuffle:\n$p")
  }

  test("q7/q9: nation/supplier/customer dims broadcast, single fact-fact shuffle join") {
    // q7 selects an empty nation pair at sf0.001 (AQE collapses the
    // whole plan to EmptyRelation), so probe it at sf0.01
    for (df <- Seq(Relational.q7VolumeShipping(spark, "/root/testdata/sf0.01"),
                   Relational.q9Profit(spark, sf))) {
      val p = plan(df)
      assert(p.contains("BroadcastHashJoin"))
      assert(!p.contains("CartesianProduct"))
    }
  }

  test("pipeline_filter is one scan with one shuffle (content-hash window)") {
    val p = plan(TextAnalysis.qualityFilterPipeline(Tables.documents(spark, sf)))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges === 1, s"expected exactly 1 exchange:\n$p")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans === 1, s"expected exactly 1 scan:\n$p")
  }

  test("pii scrub and doc chunking are shuffle-free scan pipelines") {
    for (df <- Seq(TextAnalysis.piiScrub(Tables.documents(spark, sf)),
                   TextAnalysis.docChunks(Tables.documents(spark, sf)))) {
      val p = plan(df)
      assert(!p.contains("Exchange"), s"unexpected shuffle:\n$p")
      assert("Scan parquet".r.findAllIn(p).length === 1)
    }
  }

  test("contamination check broadcasts the benchmark postings") {
    val p = plan(TextAnalysis.contaminationCheck(
      Tables.documents(spark, "/root/testdata/sf0.01"),
      col("doc_id") % 97 === 0))
    assert(p.contains("BroadcastHashJoin"), s"bench side not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("capped ngram jaccard: grouped pair emission, no self-join, no window") {
    // the cap bounds each posting list, so pairs come from a plain
    // generator over the grouped list — the plan must have NO window
    // sort and NO join on the shingle hash, and the postings must
    // shuffle ONCE (counts branch reuses the (source, h) exchange)
    // the raw (un-checkpointed) pair frame: ngramJaccardCapped now
    // returns a FrameCache-shared checkpoint of exactly this plan,
    // so the shape gate inspects the plan that actually builds it
    val p = plan(TextAnalysis.cappedPairFrameRaw(
      Tables.documents(spark, "/root/testdata/sf0.01"),
      maxDocFreq = 10))
    assert(!p.contains("Window"), s"unexpected window sort:\n$p")
    val realPostingExchanges = p.linesIterator.count(l =>
      "Exchange hashpartitioning\\(source#\\d+, h#".r
        .findFirstIn(l).isDefined &&
        !l.contains("ReusedExchange"))
    assert(realPostingExchanges <= 1,
      s"postings materialized too many exchanges:\n$p")
  }

  test("capped ngram jaccard: public API is the shared checkpoint + threshold filter only") {
    // companion to the raw-frame shape gate above (r12 ADVICE): the
    // public path must stay "FrameCache'd checkpoint scan + narrow
    // score/filter" — a join, window, or exchange sneaking in between
    // the raw pair frame and the public output would evade the raw
    // gate, so pin the public plan's shape too
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    for (df <- Seq(
        TextAnalysis.ngramJaccardCapped(docs, maxDocFreq = 10),
        TextAnalysis.containmentCapped(docs, maxDocFreq = 10))) {
      val p = plan(df)
      assert(p.contains("ExistingRDD"),
        s"public plan no longer scans the shared checkpoint:\n$p")
      assert(!p.contains("Exchange"),
        s"unexpected exchange above the shared pair frame:\n$p")
      assert(!p.contains("Join"),
        s"unexpected join above the shared pair frame:\n$p")
      assert(!p.contains("Window"),
        s"unexpected window above the shared pair frame:\n$p")
    }
  }

  test("q2: part filter broadcasts below the pair agg; supplier broadcast") {
    val p = plan(Relational.q2MinCostSupplier(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"dim join shuffled:\n$p")
    // the pair agg and its window-min share the fact's one shuffle
    // chain; no second fact aggregation exchange
    val factExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("ReusedExchange"))
    assert(factExchanges <= 2, s"too many exchanges:\n$p")
  }

  test("q21: single fact pass — one SMJ, both aggs on the join's partitioning") {
    val p = plan(Relational.q21WaitingSuppliers(spark, sf))
    // the fact is joined to orders ONCE and never re-joined: the
    // per-(order,supplier) and per-order collapses are back-to-back
    // hash aggregates on the join's own l_orderkey partitioning
    // (an earlier agg + re-join form executed the fact SMJ twice)
    assert(!p.contains("CartesianProduct"))
    assert(p.linesIterator.count(_.contains("SortMergeJoin")) <= 1,
      s"fact joined more than once:\n$p")
    // exchanges: lineitem->orderkey, orders->orderkey, s_name agg
    assert(p.linesIterator.count(l => l.contains("Exchange hashpartitioning") &&
      !l.contains("ReusedExchange")) <= 3, s"fact reshuffled per step:\n$p")
  }

  test("rx_islands: both windows and the final agg share one user_id shuffle") {
    val p = plan(Reactive.rxIslands(Tables.events(spark, sf)))
    assert(!p.contains("Join"), s"islands used a join:\n$p")
    assert(p.linesIterator.count(l => l.contains("Exchange hashpartitioning") &&
      !l.contains("ReusedExchange")) === 1, s"more than one exchange:\n$p")
  }

  test("dedup_substring: no pair join; three bounded-row exchanges") {
    val p = plan(Dedup.substringRepetition(
      Tables.documents(spark, sf).limit(50)))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("CartesianProduct"), s"pair join materialized:\n$p")
    // (doc,h) agg -> h window -> doc agg: nothing else may shuffle
    assert(p.linesIterator.count(l => l.contains("Exchange hashpartitioning") &&
      !l.contains("ReusedExchange")) <= 3, s"extra exchanges:\n$p")
  }

  test("kmv sketch aggregate runs with map-side partials") {
    val p = plan(TextAnalysis.distinctTokensSketch(
      Tables.documents(spark, sf)))
    assert(p.contains("kmv_distinct"), p)
    // TypedImperativeAggregate plans as ObjectHashAggregate with a
    // partial pass before the exchange — the O(k)-per-group shuffle
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_kmv_distinct"), s"no map-side partial:\n$p")
  }

  test("resample grid fill is one shuffle, no grid-to-events join") {
    val p = plan(Reactive.rxResample(Tables.events(spark, sf)))
    assert(!p.contains("Join"), s"resample used a join:\n$p")
    assert(p.contains("Window"), p)
  }

  test("bm25 term filter cuts the token explode before any shuffle") {
    val p = plan(TextAnalysis.bm25(Tables.documents(spark, sf),
      Seq("spark", "join", "window", "stream")))
    // df + corpus stats are broadcast; the only sort-merge-sized work
    // is the per-doc tf join back to doc lengths
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"))
  }

  test("custom expressions run inside whole-stage codegen") {
    for (k <- KernelCases.all) {
      val p = plan(KernelCases.input(spark).select(k.column))
      // "*(n)" prefixes mark WholeStageCodegen stages; the projection
      // calling the kernel (printed as
      // `static_invoke(graft.functions.Kernels.<method>(...))`) must
      // carry one
      assert(p.linesIterator.exists(l =>
        l.contains(s"static_invoke(graft.functions.Kernels.${k.method}(") &&
          l.trim.matches(""".*\*\(\d+\) Project.*""")),
        s"${k.name} not inside a codegen stage:\n$p")
    }
  }

  test("sequence packing never reads or shuffles the text column") {
    val p = plan(Packing.packGreedy(Tables.documents(spark, sf)))
    // only the 32-byte id/size projection reaches the walk: the scan
    // must prune text (at 100 TB the difference between shuffling
    // the corpus and shuffling ids)
    assert(!p.contains("text"), s"text column in packing plan:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,source:string,n_chars:bigint>"),
      s"packing scan not pruned to (doc_id, source, n_chars):\n$p")
  }

  test("mixture sampling broadcasts the quota table, no shuffle join") {
    val p = plan(Sampling.mixtureSample(Tables.documents(spark, sf)))
    assert(p.contains("BroadcastHashJoin"), s"quota join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"shuffle join in mixture plan:\n$p")
  }

  test("incremental dedup collapses the corpus before a broadcast anti join") {
    val p = plan(Dedup.incrementalNew(Tables.documents(spark, sf),
      Seq("src16", "src17", "src18", "src19")))
    assert(p.contains("LeftAnti"), s"no anti join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"anti join not broadcast (corpus fingerprints fit in memory):\n$p")
    // the corpus side must partial-aggregate to distinct hashes
    // before its exchange, so the full corpus never shuffles
    assert("HashAggregate.*content_hash".r.findFirstIn(p).isDefined,
      s"corpus not collapsed to distinct fingerprints:\n$p")
  }

  test("funnel stages chain in one user_id shuffle, no self-joins") {
    val p = plan(Reactive.rxFunnel(Tables.events(spark, sf)))
    val exchanges = "Exchange hashpartitioning\\(user_id".r
      .findAllIn(p).length
    assert(exchanges === 1, s"expected 1 user_id exchange:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"funnel must not join:\n$p")
  }

  test("bloom runtime filter prunes the fact BELOW the join") {
    val fact = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_extendedprice")
    val dim = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
    val df = RuntimeFilter.bloomPrunedJoin(fact, dim, "l_orderkey",
      "o_orderkey", expectedItems = 10000L)
    val p = plan(df)
    // the probe must sit under the join, between it and the fact scan
    // (the native expression prints as bloomprobeexpr(<sketch>,
    // l_orderkey#N) inside the fact branch's Filter, i.e. textually
    // after the join), and must stay inside whole-stage codegen
    val joinAt = p.indexOf("Join")
    val probeAt = "bloomprobeexpr\\([^)]*l_orderkey".r
      .findFirstMatchIn(p).map(_.start).getOrElse(-1)
    assert(joinAt >= 0 && probeAt > joinAt,
      s"bloom probe not below the join:\n$p")
    assert(!p.contains("UDF"), s"bloom probe fell back to a UDF:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("upsert full-outer join shuffles each side exactly once") {
    val base = Tables.customer(spark, sf)
      .select("c_custkey", "c_acctbal")
    val updates = Tables.orders(spark, sf)
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(sum("o_totalprice").as("c_acctbal"))
    val p = plan(MergeOps.upsert(base, updates, "c_custkey"))
    assert(p.contains("FullOuter"), s"no full-outer join:\n$p")
    val exchanges = "Exchange hashpartitioning\\(c_custkey".r
      .findAllIn(p).length
    // base: 1 exchange; updates: 1 exchange reused from its groupBy
    assert(exchanges <= 2, s"extra shuffles in upsert plan:\n$p")
  }

  test("ivf assignment is a narrow argmax: the corpus never hash-shuffles") {
    // the corpus branch must run scan -> argmax project -> probe join
    // with no exchange of its own; the only hash exchanges in the plan
    // are the per-QUERY window ranks (probe selection + final top-k).
    // At 100 TB this is one corpus scan vs a full-dataset exchange.
    val e = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val p = plan(Similarity.ivfTopK(e, e.filter(col("vec_id") < 10)))
    val hashKeys = "Exchange hashpartitioning\\((\\w+)#".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(hashKeys.nonEmpty && hashKeys.forall(_ == "query_id"),
      s"corpus-side hash exchange found (keys: $hashKeys):\n$p")
    assert(p.contains("static_invoke(graft.functions.Kernels.cosineArgmax("),
      s"argmax kernel missing:\n$p")
  }

  test("quantize audit is a shuffle-free codegen scan pipeline") {
    val p = plan(Similarity.quantizeAudit(Tables.embeddings(spark, sf)))
    assert(!p.contains("Exchange"), s"unexpected shuffle:\n$p")
    // the kernel must sit inside a WholeStageCodegen stage ("*(n)")
    // — its HOF predecessor was CodegenFallback (interpreted per row)
    assert(p.linesIterator.exists(l =>
      l.contains("static_invoke(graft.functions.Kernels.quantAudit(") &&
        l.matches(""".*\*\(\d+\).*""")),
      s"quantize kernel not inside a codegen stage:\n$p")
    // once per row: Catalyst copies the call into any filter on its
    // result that it pushes below the projection
    assert("Kernels\\.quantAudit\\(".r.findAllMatchIn(p).size === 1,
      s"quantize kernel called more than once:\n$p")
  }

  test("snapshot diff shuffles only (key, hash) — payloads never ship") {
    val dd = Tables.documents(spark, sf)
    val df = MergeOps.snapshotDiff(
      dd.select("doc_id", "text"),
      dd.filter(col("doc_id") % 2 === 0).select("doc_id", "text"),
      "doc_id", Seq("text"))
    df.collect()
    val wide = df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.output.exists(_.name.contains("text")) => e
    }
    assert(wide.isEmpty, "text column crossed an exchange in snapshotDiff")
  }

  test("importanceSample is a pure narrow filter: zero exchanges") {
    val p = plan(Sampling.importanceSample(Tables.documents(spark, sf)))
    assert(!p.contains("Exchange"), s"importance sample shuffled:\n$p")
  }

  test("CMS heavy hitters: cells and probe ride broadcast joins, one term shuffle") {
    val p = plan(Sketches.cmsHeavyHitters(Tables.documents(spark, sf)))
    // the term aggregation is the only hash exchange over data; the
    // ≤ depth×width cells frame must come back as a broadcast, never
    // a shuffle join against the top-k probe
    assert(p.contains("BroadcastHashJoin"), s"cells join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"SMJ in CMS plan:\n$p")
  }

  test("pageRank iterations never re-run the fact join") {
    val df = Graph.pageRankTrade(Tables.lineitem(spark, sf),
      Tables.orders(spark, sf), Tables.customer(spark, sf),
      Tables.supplier(spark, sf), Tables.nation(spark, sf))
    df.collect()
    // the edge frame is localCheckpointed: the executed plan of the
    // final query must contain scans of the checkpoint RDD, not of
    // lineitem parquet (which would mean a fact re-read per round)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("lineitem.parquet"),
      s"iteration plan still reads the fact table:\n$p")
  }

  test("dimProfile: one exchange, partials collapse before it") {
    val p = plan(Similarity.dimProfile(Tables.embeddings(spark, sf)))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges === 1, s"expected exactly 1 exchange:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_"),
      s"no map-side partial aggregation:\n$p")
  }

  test("knnGraph: pair join keyed on the cluster, top-k cut before the exchange") {
    val p = plan(Similarity.knnGraph(Tables.embeddings(spark, sf)))
    // the equi-join must key on the cluster label (AQE picks BHJ at
    // gate scale, SMJ at 100 TB — both are label-keyed and fine; a
    // CartesianProduct would mean the cluster key fell out of the
    // join) and WindowGroupLimit must prune to k per src BEFORE the
    // rank exchange, so only candidate top-k rows ride the shuffle
    // (the label passes through knnGraphWithin as `cluster_id`)
    assert(p.contains("Join [cluster_id"), s"pair join not cluster-keyed:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in knnGraph:\n$p")
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"no partial top-k pruning before the rank exchange:\n$p")
  }

  test("codeDetect and readability sentence branch stay scan-narrow") {
    val p = plan(TextAnalysis.codeDetect(Tables.documents(spark, sf)))
    assert(!p.contains("Exchange"), s"codeDetect shuffled:\n$p")
  }

  test("embOutliers: centroid join broadcasts; corpus never sort-merge-joins") {
    val p = plan(Similarity.embOutliers(Tables.embeddings(spark, sf)))
    // the nlabels-row centroid frame must come back as a broadcast;
    // the only other exchanges are the centroid build's own tiny
    // (label, dim)/(label) rollups and the per-label rank window —
    // a SortMergeJoin or cartesian would mean the corpus itself
    // joined wide
    assert(p.contains("BroadcastHashJoin"),
      s"centroid join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"corpus joined wide:\n$p")
  }

  test("qMarketHhi: dims broadcast, fact scanned once, partial agg combines") {
    val p = plan(Relational.qMarketHhi(spark, sf))
    // the supplier→nation chain must ride a broadcast (never a
    // fact-side SortMergeJoin), and the (nation, supplier) rollup
    // must partial-aggregate before its exchange so only combined
    // per-supplier rows shuffle — the re-agg above it is
    // supplier-sized by construction
    assert(p.contains("BroadcastHashJoin"),
      s"dim chain not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"fact joined wide:\n$p")
    assert(p.contains("partial_sum"), s"no map-side combine:\n$p")
  }

  test("qTradeBalance: both fact sides broadcast-joined and pre-collapsed") {
    val p = plan(Relational.qTradeBalance(spark, sf))
    // each fact must meet its dim→nation chain as a broadcast and
    // collapse with a map-side partial before the nations-sized
    // full-outer meet; a SortMergeJoin would mean a fact-sized frame
    // reached the final join
    assert(p.contains("BroadcastHashJoin"),
      s"dim chains not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert(p.contains("partial_sum"), s"no map-side combine:\n$p")
  }

  test("rxDrawdown: window and rollup share one user_id exchange") {
    val p = plan(Reactive.rxDrawdown(Tables.events(spark, sf)))
    // the running-max window and the per-user groupBy key match, so
    // Catalyst must plan exactly one hash exchange for the whole op —
    // a second Exchange would mean the rollup re-shuffled data the
    // window already partitioned
    assert(p.split("Exchange").length - 1 <= 1,
      s"more than one exchange:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"unexpected join:\n$p")
  }

  test("qGini: dims broadcast, ranks run over tie-collapsed values") {
    val p = plan(Relational.qGini(spark, sf))
    // customer→nation rides a broadcast; the fact collapses map-side
    // per customer, then again per distinct cent value, so the sort
    // window only ever sees the (nation, cents)-sized frame — a
    // SortMergeJoin would mean the orders fact itself joined wide
    assert(p.contains("BroadcastHashJoin"), s"dim not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"fact joined wide:\n$p")
    assert(p.contains("partial_sum"), s"no map-side combine:\n$p")
  }

  test("scd2AsOf snapshot is a narrow filter: zero exchanges") {
    val base = Tables.customer(spark, sf).select(col("c_custkey"),
      col("c_acctbal").as("bal"), lit(0L).as("valid_from"),
      lit(null).cast("long").as("valid_to"))
    val p = plan(MergeOps.scd2AsOf(base, 10L))
    assert(!p.contains("Exchange"), s"time-travel read shuffled:\n$p")
  }

  test("labelPropTrade: rounds never re-run the fact join") {
    val df = Graph.labelPropTrade(Tables.lineitem(spark, sf),
      Tables.orders(spark, sf))
    df.collect()
    // edges are pre-partitioned + localCheckpointed: the final plan
    // must iterate over the checkpoint RDD, never re-read lineitem
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("lineitem.parquet"),
      s"iteration plan still reads the fact table:\n$p")
  }

  test("pqAudit: both assignment passes broadcast the codebook; corpus never sort-merge-joins") {
    val p = plan(Similarity.pqAudit(Tables.embeddings(spark, sf)))
    assert(!p.contains("SortMergeJoin"), s"corpus joined wide:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"codebook didn't broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("cappedAssign: each round materializes once — final plan unions checkpoint scans") {
    // driverBudget = 0 forces the DISTRIBUTED path (the r13 driver
    // twin would otherwise return a parallelized result below the
    // byte budget) — this gate inspects the 100 TB plan shape
    val embs = Tables.embeddings(spark, sf)
    val nlist = 16
    val p = plan(Similarity.cappedAssignTo(embs,
      embs.filter(col("vec_id") < nlist)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("c_emb")),
      nlist, driverBudget = 0L))
    // the acceptance rounds are localCheckpointed as they complete, so
    // the result must be a pure union of the materialized round
    // frames: no join, window, or preference recomputation downstream
    // (a recomputing plan would re-run every round per consumer)
    assert(!p.contains("SortMergeJoin") && !p.contains("Window") &&
      !p.contains("Join"), s"round recomputation leaked downstream:\n$p")
    assert("Scan ExistingRDD".r.findAllIn(p).length === 3,
      s"expected 3 checkpointed round frames:\n$p")
  }

  test("global (partition-less) windows appear only in the audited " +
      "bounded-frame whitelist") {
    // The 100 TB scale-killer this gate exists to catch: a
    // row_number()/sum() window with NO partition key pushes its
    // whole input through ONE task. Round 9 removed the two real
    // offenders (rx_sax, q_equidepth — now two-level ranks); every
    // remaining partition-less windowspec in PLANS.md runs over a
    // frame bounded by construction, audited here one by one. A new
    // key appearing in this set must either adopt the two-level
    // rank or justify its bound in this whitelist — it can no
    // longer hide in the bench tail's WARN flood.
    val bounded = Set(
      "dedup_sorted_neighborhood", // pid prefix-sum: 32 rows
      "dedup_threshold_sweep",     // 11 threshold rows
      "dq_drift",                  // 10 period rows
      "emb_pq_balanced",           // dim-variance rows (<= dims)
      "pipeline_balanced_shards",  // shard rollup (8 rows)
      "pipeline_contrastive",      // per-label centroid frame
      "pipeline_epoch_mix",        // sources x epochs frame
      "pipeline_quantile_norm",    // pid prefix-sum: 32 rows
      "pipeline_token_budget",     // |sources| water-filling frame
      "q_abc_pareto",              // pid prefix-sum: 32 rows
      "q_decile_lift",             // 10 decile rows
      "q_period_growth",           // |months| frame
      "q_skyline",                 // pid prefix-max: 32 rows
      "rx_concurrency",            // minute-bucket sweep (time-bounded)
      "rx_funnel_rates",           // 3 stage rows
      "rx_seasonality",            // 24 hour-of-day rows
      "rx_slo_burn",               // minute-bucket burn frame
      "rx_survival",               // 11 hazard rows
      "search_hybrid_rrf",         // k-row rank frames
      "text_zipf_audit")           // k-row rank frame
    val txt = scala.io.Source.fromFile("PLANS.md")("UTF-8").mkString
    val sections = txt.split("(?m)^## ").drop(1)
    val globalWin =
      "windowspecdefinition\\([^,()]*? (?:ASC|DESC)".r
    val offenders = sections.flatMap { s =>
      val key = s.linesIterator.next().trim
      if (globalWin.findFirstIn(s).isDefined) Some(key) else None
    }.toSet
    val rogue = offenders -- bounded
    assert(rogue.isEmpty,
      s"NEW partition-less window(s) — single-task scale cliff " +
        s"unless the frame is provably bounded; fix with the " +
        s"two-level rank or audit into the whitelist: $rogue")
  }

  test("classBalance: corpus shuffles once for ranking, quota rides a broadcast") {
    val p = plan(Sampling.classBalance(Tables.documents(spark, sf)))
    // exactly two lang exchanges: the corpus ranking shuffle plus the
    // quota rollup's partial-agg exchange (|langs| rows after map-side
    // combine — HashAggregate partials sit below it); the quota itself
    // must reach the corpus as a broadcast, never a shuffle join
    val hashExchanges = "hashpartitioning\\(lang".r.findAllIn(p).length
    assert(hashExchanges === 2, s"expected 2 lang exchanges:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), s"quota didn't broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"))
  }

  test("partition-less WindowExec gate: only the documented " +
      "horizon-bounded queries may move a window to one task") {
    // The bounded-window CONVENTION, turned into a gate (the WARN
    // flood hid rx_sax's corpus-proportional single-task window for
    // seven rounds). Every query key whose physical plan contains a
    // WindowExec/WindowGroupLimitExec with an EMPTY partition spec
    // must be on this whitelist, and every whitelist entry must
    // still exhibit one (no stale entries). Whitelisted frames are
    // bounded by the TIME HORIZON or a fixed small cardinality
    // (minutes, days, months, stages, deciles, per-partition
    // maxima, k rows), never by corpus volume — adding a
    // partition-less window over a corpus-proportional frame now
    // fails this spec instead of drowning in WARN noise.
    val whitelist = Map(
      "rx_concurrency" -> "minute grid (horizon-bounded)",
      "rx_slo_burn" -> "minute grid (horizon-bounded)",
      "rx_seasonality" -> "day grid (horizon-bounded)",
      "rx_survival" -> "day/horizon hazard frame",
      "q_period_growth" -> "month frame (calendar-bounded)",
      "rx_funnel_rates" -> "stage frame (|stages| rows)",
      "q_skyline" -> "per-partition maxima prefix (<=1 row/part)",
      "q_decile_lift" -> "decile frame (10 rows)",
      "q_abc_pareto" -> "per-partition maxima prefix (<=1 row/part)",
      "search_hybrid_rrf" -> "k-row post-limit rank frames",
      "pipeline_token_budget" -> "per-source frame (|sources| rows)",
      "pipeline_epoch_mix" -> "sources x epochs frame",
      "pipeline_balanced_shards" ->
        "shuffleShard partition offsets (<=|parts| rows)",
      "pipeline_quantile_norm" ->
        "shuffleShard partition offsets (<=|parts| rows)",
      "dedup_sorted_neighborhood" ->
        "shuffleShard partition offsets (<=|parts| rows)",
      "dedup_threshold_sweep" -> "11 jaccard bands",
      "text_zipf_audit" -> "k-row post-limit head frame",
      "emb_pq_balanced" -> "per-dimension frame (|dims| rows)",
      "pipeline_contrastive" -> "label universe (tiny by contract)",
      "dq_drift" ->
        "distinct token-length frame (doc-length-domain-bounded)")
    val offenders = scala.collection.mutable.Map.empty[String, Int]
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val df = fn(spark, sf)
      val n = df.queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
        case w: org.apache.spark.sql.execution.window
              .WindowGroupLimitExec if w.partitionSpec.isEmpty => w
      }.size
      if (n > 0) offenders(name) = n
    }
    val undocumented = offenders.keySet -- whitelist.keySet
    val stale = whitelist.keySet -- offenders.keySet
    assert(undocumented.isEmpty,
      s"NEW partition-less window(s) — document the bound or " +
        s"partition the frame: ${undocumented.toSeq.sorted}")
    assert(stale.isEmpty,
      s"whitelist entries whose plans no longer hold a " +
        s"partition-less window: ${stale.toSeq.sorted}")
  }
}
