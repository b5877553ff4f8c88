package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, to_json, xxhash64}
import org.apache.spark.sql.types.MapType
object Bench {
  /** The timed action: a row-count action lets Spark PRUNE every
    * output column (a projection feeding count() evaluates nothing),
    * so expensive final-select expressions went untimed — the
    * documented under-reporting of the r1–r5 benches (SURVEY §5.4).
    * Hashing every column into one xxhash64 and folding it forces
    * full evaluation of the real output while still collecting only
    * ONE row to the driver (collect() itself would time row
    * serialization + driver memory instead of the query). Map
    * columns aren't hashable and ride to_json; the rollup is
    * bit_xor, not sum — summing 2^63-scale hashes overflows under
    * ANSI mode. Totals re-based in round 6 — r6+ numbers are not
    * comparable to r5 and earlier. */
  private def checksum(df: DataFrame): Unit = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(f.name))
        case _          => col(f.name)
      }
    }
    df.select(xxhash64(cols.toSeq: _*).as("h"))
      .agg(org.apache.spark.sql.functions.expr("bit_xor(h)")).head()
  }

  /** Query-boundary cleanup: the graph/dedup plans localCheckpoint
    * intermediate frames, and those blocks outlive the query — by
    * the r10 suite's 362nd query the executor store carries every
    * prior query's checkpoints (measured: graph_scc_keys 186 s
    * in-suite vs 37 s isolated). A production job never carries a
    * NEIGHBOR query's blocks, so the bench drops them at each
    * boundary, OUTSIDE the timed window — and BLOCKING, so the
    * removal itself also lands outside it (r11's blocking=false
    * issued the call outside the window but let the block-removal
    * work bleed into the next query's timer; removal cost is
    * negligible next to query runtime). [[graft.operators
    * .FrameCache]]'s ids are the one exception: those frames are
    * the family-shared inputs a production job DOES keep
    * materialized across queries, so the boundary leaves them
    * live. The periodic System.gc() lets the ContextCleaner also
    * reap dead broadcasts. */
  private var sinceGc = 0
  private def cleanup(spark: SparkSession): Unit = {
    val keep = graft.operators.FrameCache.protectedIds
    spark.sparkContext.getPersistentRDDs
      .foreach { case (id, rdd) =>
        if (!keep.contains(id)) rdd.unpersist(blocking = true) }
    sinceGc += 1
    if (sinceGc >= 25) { sinceGc = 0; System.gc() }
  }

  /** In-artifact host-noise probe (tools/noise_probe.py's fixed-work
    * spin, inlined): the guest shares a host, and two r10/r11
    * incidents inflated committed bench numbers 1.4–3.5× with the
    * guest idle. A reading RECORDED NEXT TO the number makes every
    * BENCH artifact carry its own epoch — runs are comparable only
    * when their spin_sec agree within ~15%. The spin is a fixed
    * 4e8-iteration integer loop (~0.2 s quiet); probed before the
    * warmup and again after the last timed pass, with 5-min load
    * average and /proc/pressure/cpu avg300 at both points. */
  private def spinSec(): Double = {
    val t0 = System.nanoTime()
    var x = 0L; var i = 0
    while (i < 400000000) { x += i & 7; i += 1 }
    val dt = (System.nanoTime() - t0) / 1e9
    require(x > 0, "spin optimized away")
    dt
  }
  private def loadCpu(): (Double, Double) = {
    def readF(p: String): Option[String] =
      try Some(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p)), "UTF-8"))
      catch { case _: Throwable => None }
    val l5 = readF("/proc/loadavg")
      .map(_.split(" ")(1).toDouble).getOrElse(-1.0)
    val c300 = readF("/proc/pressure/cpu").flatMap(
      _.linesIterator.find(_.startsWith("some"))
        .flatMap(_.split(" ").find(_.startsWith("avg300="))
          .map(_.stripPrefix("avg300=").toDouble))).getOrElse(-1.0)
    (l5, c300)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession
      .builder(s"local[$cpus]", shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // optional local-iteration filters (driver never sets them):
    // ONLY whitelists, SKIP blacklists (e.g. excluding the two
    // contract-quadratic exact ops from a triple-SF scaling run so
    // they can be timed separately single-pass)
    val only: Set[String] = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").toSet).getOrElse(Set.empty)
    val skipQ: Set[String] = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(",").toSet).getOrElse(Set.empty)
    def queries = SparkEntry.queries
      .filter { case (name, _) =>
        (only.isEmpty || only(name)) && !skipQ(name) }
    val spin0 = spinSec()
    val (l5a, c3a) = loadCpu()
    // Untimed warm-up pass: JIT compilation, whole-stage codegen,
    // parquet footer caching. Measures steady-state throughput (the
    // 100 TB-relevant number), not single-JVM cold start. A failure
    // here is named on stderr and counted in `warmup_failed`.
    val warmupFailed = queries.count { case (name, fn) =>
      val failed =
        try { checksum(fn(spark, sfDir)); false }
        catch { case e: Throwable =>
          System.err.println(
            s"warm-up failed: $name: ${e.getClass.getName}")
          true
        }
      cleanup(spark)
      failed
    }
    // Two timed passes, best-of per query: a single pass is exposed
    // to one-off JVM/driver stalls that hit random queries. A failed
    // run is Infinity so best-of keeps the succeeding pass; a query
    // that fails in BOTH passes reports -1, is excluded from the
    // summed total and is counted in `n_failed` and named in `failed`.
    def timedPass(): Map[String, Double] = queries.map {
      case (name, fn) =>
        val t0 = System.nanoTime()
        val ok = try { checksum(fn(spark, sfDir)); true }
                 catch { case e: Throwable =>
                   System.err.println(
                     s"timed run failed: $name: ${e.getClass.getName}")
                   false
                 }
        val dt = (System.nanoTime() - t0) / 1e9
        cleanup(spark) // outside the timed window
        name -> (if (ok) dt else Double.PositiveInfinity)
    }
    val (p1, p2) = (timedPass(), timedPass())
    val results = p1.map { case (k, v) =>
      val best = math.min(v, p2(k))
      k -> (if (best.isInfinity) -1.0 else best)
    }
    val total = results.values.filter(_ >= 0).sum
    val failed = results.collect { case (k, v) if v < 0 => k }.toSeq.sorted
    // local-iteration aid (driver never sets it): full per-query map
    sys.env.get("SPARK_GRAFT_DUMP").foreach { p =>
      val full = results.toSeq.sortBy(-_._2)
        .map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        full.getBytes("UTF-8"))
    }
    // The driver captures only the LAST ~2000 chars of stdout and
    // parses the JSON line out of that tail. With 135 queries a full
    // per-query map is ~4 KB and the line gets truncated (r1/r2 both
    // recorded parsed:null). Report the total over every query, but
    // limit the per-query map to a representative headline subset,
    // rounded to ms, so the line stays well inside the tail window.
    val headline = Vector(
      "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
      "q6_revenue", "q9_profit", "q18_large_orders", "q21_waiting_suppliers",
      "rx_scan", "rx_window_sliding", "rx_resample", "rx_exhaust_map",
      "asof_join", "dedup_exact", "dedup_minhash_lsh", "dedup_cluster",
      "text_ngram_jaccard_capped", "text_bm25", "ann_bruteforce",
      "ann_ivf", "pipeline_filter", "q_bloom_join", "q_merge_upsert",
      "rx_funnel", "rx_ewma", "media_near_dup", "pipeline_shard",
      "graph_pagerank", "sketch_cms_topk", "dq_check",
      "text_jaccard_prefix", "source_divergence",
      "graph_triangles", "search_hybrid_rrf", "rx_session_capped",
      "dedup_semantic", "q_basket_pairs", "q_decile_lift",
      "rx_cusum", "rx_survival", "text_boilerplate", "emb_whitening",
      "graph_communities", "emb_pq", "dedup_union_cluster",
      "pipeline_quantile_norm")
    def r3(v: Double): String = f"$v%.3f"
    val qs = headline.filter(results.contains)
      .map(k => "\"" + k + "\":" + r3(results(k)))
      .mkString("{", ",", "}")
    val spin1 = spinSec()
    val (l5b, c3b) = loadCpu()
    def r2(v: Double): String = f"$v%.2f"
    val noise = s""""noise":{"spin":[${r2(spin0)},${r2(spin1)}],""" +
      s""""load5":[${r2(l5a)},${r2(l5b)}],"cpu300":[${r2(c3a)},${r2(c3b)}]}"""
    // every failed key is on stderr; the line names the first six,
    // which keeps it under its length limit
    val named = failed.take(6).map("\"" + _ + "\"").mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.size},"warmup_failed":$warmupFailed,"n_failed":${failed.size},"failed":$named,$noise,"queries":$qs,"sf":"$sfDir"}"""
    require(line.length < 1600, s"bench JSON line too long: ${line.length}")
    println(line)
    spark.stop()
  }
}
