package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.DecimalType

import graft.functions.{GraftFunctions, Kernels}

/** Similarity search over an embedding column (array<float>).
  *
  * Brute-force is the exact baseline: broadcast the (small) query
  * set against the corpus scan — one pass, no shuffle of the corpus,
  * top-k per query via per-partition partial ranking. The LSH path
  * is the 100 TB shape: bucket the corpus once (single long key),
  * search only within the query's bucket.
  */
object Similarity {
  /** Exact top-k nearest by cosine for each query vector.
    * The query side is broadcast; the corpus is scanned once. */
  def bruteForceTopK(embs: DataFrame, queries: DataFrame, k: Int = 5)
      : DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))
    val cand = embs.select(col("vec_id").as("neighbor_id"), col("embedding"))
    cand.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_sim",
        GraftFunctions.cosine_sim(col("q_emb"), col("embedding")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("cos_sim").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos_sim")
  }

  /** Maximum inner-product search (MIPS) — [[bruteForceTopK]] with
    * the RAW dot product: the recommendation-scoring retrieval
    * (user·item affinity, un-normalized rerankers) where magnitude
    * MATTERS and cosine's normalization is wrong — the two rankings
    * genuinely differ (a long vector can win MIPS while losing
    * cosine), which is why MIPS has its own reduction literature
    * (Shrivastava & Li's asymmetric LSH). Same exchange-free plan:
    * queries broadcast onto one corpus scan, the codegen'd dot
    * kernel (index-order left fold — the ann_bruteforce float
    * contract), one per-query top-k window as the only exchange. */
  def mipsTopK(embs: DataFrame, queries: DataFrame, k: Int = 5)
      : DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))
    val cand = embs.select(col("vec_id").as("neighbor_id"),
      col("embedding"))
    cand.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("ip",
        GraftFunctions.dot_product(col("q_emb"), col("embedding")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("ip").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "ip")
  }

  /** Embedding L2-norm spread histogram — the diagnostic that
    * decides whether [[mipsTopK]] and cosine retrieval can disagree
    * (equal norms ⇒ identical rankings; a wide norm spread is where
    * MIPS work lives) and the standard pre-normalization audit.
    * Squared norms floor-scale to integers (×10⁴) BEFORE the
    * equi-width bucketing, so every downstream number is integral
    * (the q_equiwidth edge contract: both edges from ONE min/max
    * row, zero-width guarded). The norm fold itself is the
    * index-order left fold of the ann float contract (Spark
    * `aggregate` HOF ≡ DuckDB list_sum — a one-scan narrow
    * projection, no kernel needed off the hot path). One scan, one
    * broadcast stats row, |buckets| output rows at any corpus
    * size. */
  def normHistogram(embs: DataFrame, buckets: Int = 20): DataFrame = {
    val nsq = embs.select(
      expr("CAST(floor(aggregate(embedding, CAST(0 AS DOUBLE), " +
        "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) " +
        "* 10000) AS BIGINT)").as("nsq"))
    val mm = nsq.agg(min("nsq").as("lo"), max("nsq").as("hi"))
    nsq.crossJoin(broadcast(mm))
      .select(least(lit(buckets - 1),
        expr(s"(nsq - lo) * $buckets div greatest(hi - lo, 1)"))
        .as("bucket"), col("nsq"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_vecs"), sum("nsq").as("sum_nsq"))
  }

  /** Lloyd-refined coarse centroids for IVF: seed with the first
    * nlist vectors, then `iters` rounds of assign → recompute-mean.
    * Means are computed with the scaled-integer trick (floor(x*1e6)
    * BIGINT sums) so every round is order-independent and the
    * resulting index is bit-identical across cluster sizes — an
    * IVF index build must be reproducible or every downstream probe
    * result changes between builds. Each round is one broadcast
    * assign + two narrow-key shuffles over (nlist x dim) rows; a
    * centroid whose list empties is dropped (standard Lloyd). */
  def kmeansCentroids(embs: DataFrame, nlist: Int = 16, iters: Int = 3)
      : DataFrame = {
    var centroids = embs.filter(col("vec_id") < nlist)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      // assignment is a NARROW map: the nlist centroids collapse to one
      // broadcast row and each corpus vector picks its argmax-cosine
      // centroid in a single codegen pass — zero corpus exchanges per
      // Lloyd round (the old crossJoin+groupBy-argmax re-shuffled every
      // corpus vector every round). The only shuffle left is the
      // per-(centroid, dim) moment reduction, whose map-side partials
      // collapse each partition to nlist x dim rows.
      val assigned = assignCentroids(embs, centroids)
      centroids = assigned
        .select(col("centroid_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy("centroid_id", "dim")
        .agg(sum(floor(col("x").cast("double") * 1e6).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .groupBy("centroid_id")
        .agg(transform(
          array_sort(collect_list(struct(col("dim"),
            (col("s").cast("double") / col("n") / 1e6).cast("float").as("m")))),
          e => e.getField("m")).as("c_emb"))
        .localCheckpoint()
    }
    centroids
  }

  /** Narrow argmax-cosine assignment: centroids (centroid_id, c_emb)
    * collapse to ONE broadcast row carrying the sorted struct array;
    * each corpus row evaluates `cosine_argmax` in-place. No corpus
    * exchange — at 100 TB this is one scan instead of a full-dataset
    * shuffle per assignment pass. Ties resolve to the lowest
    * centroid_id (same order as ORDER BY sim DESC, centroid_id). */
  private[operators] def assignCentroids(embs: DataFrame, centroids: DataFrame)
      : DataFrame = {
    val centsRow = centroids.agg(
      array_sort(collect_list(struct(
        col("centroid_id").cast("long").as("centroid_id"), col("c_emb"))))
        .as("cents"))
    embs.crossJoin(broadcast(centsRow))
      .select(col("vec_id"), col("embedding"),
        GraftFunctions.cosine_argmax(col("embedding"), col("cents"))
          .as("centroid_id"))
  }

  /** IVF (inverted-file) ANN: the corpus is coarse-quantized to its
    * nearest of `nlist` centroids; each query probes only the
    * `nprobe` nearest centroid lists. The second classic ANN scale
    * path next to LSH: recall is tuned by nprobe instead of
    * hamming-probe width, and list sizes adapt to the data
    * distribution (LSH buckets don't).
    *
    * Centroids here are the `nlist` lowest-id corpus vectors —
    * deterministic and cheap; swap in k-means iterations offline for
    * better list balance (the plan shape is identical). Assignment is
    * a NARROW per-row argmax against the broadcast centroid array
    * ([[assignCentroids]]) — the corpus never shuffles; the probe
    * join is a broadcast of the (tiny) query probes, so the only
    * exchange in the whole plan is the per-query top-k window over
    * the candidate lists. */
  def ivfTopK(embs: DataFrame, queries: DataFrame, nlist: Int = 16,
              nprobe: Int = 4, k: Int = 5): DataFrame =
    ivfTopKWith(embs, queries,
      embs.filter(col("vec_id") < nlist)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb")),
      nprobe, k)

  /** IVF probe against Lloyd-refined centroids ([[kmeansCentroids]]). */
  def ivfTopKRefined(embs: DataFrame, queries: DataFrame, nlist: Int = 16,
                     nprobe: Int = 4, k: Int = 5, iters: Int = 3): DataFrame =
    ivfTopKWith(embs, queries, kmeansCentroids(embs, nlist, iters), nprobe, k)

  private[graft] def ivfTopKWith(embs: DataFrame, queries: DataFrame,
                          centroidsIn: DataFrame, nprobe: Int, k: Int)
      : DataFrame = {
    val centroids = centroidsIn
    // corpus side: narrow argmax assignment (no exchange); the query
    // side keeps the tiny crossJoin — it needs the top-nprobe
    // centroids per query, not just the argmax, and the query set is
    // small by contract
    val assigned = assignCentroids(embs, centroids)
    val qprobes = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .crossJoin(broadcast(centroids))
      .withColumn("c_sim", GraftFunctions.cosine_sim(col("q_emb"), col("c_emb")))
      .withColumn("probe_rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("c_sim").desc, col("centroid_id"))))
      .filter(col("probe_rank") <= nprobe)
      .select("query_id", "q_emb", "centroid_id")
    assigned.join(broadcast(qprobes), Seq("centroid_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos_sim",
        GraftFunctions.cosine_sim(col("q_emb"), col("embedding")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("cos_sim").desc, col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cos_sim"))
  }

  /** Recall audit: the ANN quality metric as a query — recall@k of
    * the IVF probe against the exact brute-force top-k, per query.
    * Both inputs are deterministic (tie-broken rankings), so recall
    * is a hash-exact gated value, not a statistical estimate: the
    * number a production index pipeline alerts on when a rebuild
    * regresses it. Cost shape: the exact side is the audit's price —
    * run it on a sampled query set (the queries frame IS that
    * sample), never the full corpus. */
  def recallAudit(embs: DataFrame, queries: DataFrame, k: Int = 5,
                  nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val exact = bruteForceTopK(embs, queries, k)
      .select(col("query_id"), col("neighbor_id"))
    val approx = ivfTopK(embs, queries, nlist = nlist, nprobe = nprobe,
        k = k)
      .select(col("query_id"), col("neighbor_id"))
    val matches = exact
      .join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_match"))
    exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      .join(matches, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_match"), lit(0L)).as("n_match"),
        (coalesce(col("n_match"), lit(0L)).cast("double") /
          col("n_exact")).as("recall"))
  }

  /** Persist the IVF index: postings PARTITIONED BY centroid_id on
    * disk — each inverted list is its own partition directory — next
    * to the centroid table. This is what "build the index once"
    * means at scale: [[ivfTopKRefined]] re-derives assignment per
    * query batch; the persisted form pays the k-means + assignment
    * scan once and every later probe reads only its nprobe
    * directories (see [[ivfProbeIndex]]). */
  def ivfWriteIndex(embs: DataFrame, dir: String, nlist: Int = 16,
                    iters: Int = 3): Unit = {
    val cents = kmeansCentroids(embs, nlist, iters)
    assignCentroids(embs, cents)
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(dir + "/postings")
    cents.write.mode("overwrite").parquet(dir + "/centroids")
  }

  /** Incremental IVF index maintenance: assign a batch of NEW
    * vectors against the index's EXISTING centroids and append them
    * to their posting directories — corpus growth without the full
    * k-means + rewrite of [[ivfWriteIndex]]. The append touches only
    * the partition dirs the batch lands in (dynamic-partition
    * append; untouched lists keep their files byte-identical), and
    * the assignment is the same narrow broadcast-argmax as the
    * build, so the upsert cost is O(batch), not O(corpus) — the
    * property that makes a 100 TB index maintainable under daily
    * ingest. Centroids deliberately do NOT move (an ANN index's
    * bucketing must stay stable or every probe's recall shifts);
    * after enough drift — monitored via [[recallAudit]]-style
    * checks — rebuild with [[ivfWriteIndex]]. Probe-after-upsert ≡
    * probe of a from-scratch assignment of old∪new over the same
    * centroids (spec-asserted in SurfaceSpec). */
  def ivfUpsertIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                     newVecs: DataFrame): Unit = {
    val cents = spark.read.parquet(dir + "/centroids")
    assignCentroids(newVecs, cents)
      .write.mode("append").partitionBy("centroid_id")
      .parquet(dir + "/postings")
  }

  /** Probe the persisted IVF index: top-nprobe centroids per query,
    * then ONLY those partition directories are listed and scanned —
    * the probe's `centroid_id IN (...)` literal filter prunes at the
    * file index (PartitionFilters, asserted in SurfaceSpec), the
    * disk twin of "probe nprobe of nlist lists". The probe-set
    * collect is nqueries×nprobe INDEX IDS (the lookup key, not
    * data) — bounded by contract, like a partition predicate.
    * Results are identical to [[ivfTopKRefined]] with the same
    * build parameters (spec-asserted). */
  def ivfProbeIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                    queries: DataFrame, nprobe: Int = 4, k: Int = 5)
      : DataFrame = {
    val cents = spark.read.parquet(dir + "/centroids")
    val qprobes = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .crossJoin(broadcast(cents))
      .withColumn("c_sim", GraftFunctions.cosine_sim(col("q_emb"), col("c_emb")))
      .withColumn("probe_rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("c_sim").desc, col("centroid_id"))))
      .filter(col("probe_rank") <= nprobe)
      .select("query_id", "q_emb", "centroid_id")
    val probeIds = qprobes.select("centroid_id").distinct()
      .collect().map(_.getLong(0))
    spark.read.parquet(dir + "/postings")
      // filter on the raw inferred-int partition attribute FIRST (a
      // cast above the filter can block PartitionFilters), then
      // normalize to the long the probe side carries
      .filter(col("centroid_id").isin(probeIds.map(_.toInt): _*))
      .withColumn("centroid_id", col("centroid_id").cast("long"))
      .join(broadcast(qprobes), Seq("centroid_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos_sim",
        GraftFunctions.cosine_sim(col("q_emb"), col("embedding")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("cos_sim").desc, col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cos_sim"))
  }

  /** Approximate top-k: candidates restricted to the query's
    * random-hyperplane LSH bucket plus every bucket within hamming
    * distance 1 (multi-probe: planes+1 probes per query — the
    * standard recall/cost lever; the corpus side stays single-bucket
    * so the index is built once). */
  def lshTopK(embs: DataFrame, queries: DataFrame, planes: Int = 6,
              k: Int = 5, auditable: Boolean = false): DataFrame = {
    // auditable = md5 hash family: ~10x the hash cost, but any engine
    // with md5() re-derives the buckets (the cross-engine oracle gate
    // runs this family); default = xxhash64 throughput family
    def sig(c: Column): Column =
      if (auditable) GraftFunctions.md5_rhp_lsh(c, planes)
      else GraftFunctions.rhp_lsh(c, planes)
    val probeBuckets = array(
      (col("_b") +: (0 until planes).map(j =>
        col("_b").bitwiseXOR(lit(1L << j)))): _*)
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"),
      sig(col("embedding")).as("_b"))
      .withColumn("bucket", explode(probeBuckets))
      .drop("_b")
    val cand = embs.select(col("vec_id").as("neighbor_id"), col("embedding"),
      sig(col("embedding")).as("bucket"))
    cand.join(broadcast(q), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_sim",
        GraftFunctions.cosine_sim(col("q_emb"), col("embedding")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("cos_sim").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos_sim")
  }

  /** Exact per-label embedding centroids, bit-stable across engines
    * and cluster sizes: each float component is scaled to an integer
    * (floor(x * 1e6) — one deterministic IEEE double op), summed as
    * BIGINT (order-independent), and the mean taken as one double
    * division at the end. This sidesteps float-sum non-associativity
    * AND engine-specific double→decimal rounding. posexplode →
    * groupBy(label, dim): partial aggregation collapses each
    * partition to nlabels×dim rows before the one shuffle. */
  def labelCentroids(embs: DataFrame): DataFrame =
    embs
      .select(col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("x").cast("double") * 1e6).cast("long"))
          .as("sum_scaled"))
      .select(col("label"), col("dim").cast("long").as("dim"), col("n"),
        col("sum_scaled"),
        (col("sum_scaled").cast("double") / col("n") / 1e6)
          .as("centroid"))

  /** Radius (range) search: every corpus vector within a cosine
    * threshold of each query — the retrieval twin of top-k when the
    * caller wants "all sufficiently similar", e.g. near-dup audit or
    * contrastive negative mining. Queries broadcast against one
    * corpus scan; the corpus never shuffles and the threshold filter
    * runs inside the scan stage, so output size — not corpus size —
    * bounds what leaves the executors. */
  def rangeSearch(embs: DataFrame, queries: DataFrame,
                  minCosine: Double): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))
    embs.select(col("vec_id").as("neighbor_id"), col("embedding"))
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_sim",
        GraftFunctions.cosine_sim(col("q_emb"), col("embedding")))
      .filter(col("cos_sim") >= minCosine)
      .select("query_id", "neighbor_id", "cos_sim")
  }

  /** Int8 quantization audit: symmetric per-vector quantization
    * (scale = max|x| / 127, q = round-half-up(x/scale) clamped to
    * ±127) with the reconstruction error reported per vector. Int8
    * embeddings are the 4x memory / bandwidth lever for ANN serving
    * at corpus scale; this op measures what that costs in fidelity.
    *
    * Narrow per-row map, no shuffle. Determinism rules: rounding is
    * floor(x+0.5) (an engine-neutral primitive — SQL ROUND
    * conventions differ), and error totals are floor-scaled BIGINTs
    * so the per-dimension sum is order-independent. */
  def quantizeAudit(embs: DataFrame): DataFrame =
    // single-pass codegen kernel (`quantize_audit`): the HOF
    // (transform/aggregate) form of this audit is CodegenFallback —
    // interpreted per row — per the engine's own §5.1 finding; the
    // kernel keeps the op inside WholeStageCodegen with bit-identical
    // arithmetic (same clamp order, same sequential error fold). The
    // filter tests the vector, not `qa.nonzero`: Catalyst pushes a
    // filter on `qa` below the projection by copying the kernel call
    // into it, which would run the audit twice per row.
    embs
      .filter(GraftFunctions.quantize_nonzero(col("embedding")))
      .select(col("vec_id"),
        GraftFunctions.quantize_audit(col("embedding")).as("qa"))
      .select(col("vec_id"), col("qa.scale").as("scale"),
        col("qa.abs_err_scaled").as("abs_err_scaled"),
        col("qa.max_err_scaled").as("max_err_scaled"))

  /** Hybrid retrieval: reciprocal-rank fusion of a lexical (BM25)
    * ranking and a vector (cosine) ranking — the standard RAG /
    * training-data-retrieval pattern (dense recall + sparse
    * precision beat either alone; RRF needs no score calibration
    * because only RANKS enter the fusion). Each list is cut to its
    * top `k`, then fused: rrf_ppm = Σ floor(1e6 / (60 + rank)) —
    * integer arithmetic, so fusion is bit-stable across engines even
    * though the underlying scores are doubles (ranks are
    * deterministic: ties break on doc id).
    *
    * Plan: the two rankings are independent branches (each one
    * partial-agg/scan pass over its table); each cuts to k rows via
    * distributed TakeOrdered BEFORE ranking, so the rank windows run
    * over k-row frames — bounded by construction, never a
    * corpus-wide single-task sort. The fusion join is k-vs-k. */
  def hybridRrf(docs: DataFrame, embs: DataFrame, terms: Seq[String],
                queryVecId: Long = 0L, k: Int = 50, rrfK: Int = 60)
      : DataFrame = {
    val lex = TextAnalysis.bm25(docs, terms)
      .orderBy(col("bm25").desc, col("doc_id")).limit(k)
      .select(col("doc_id"), row_number().over(
        Window.orderBy(col("bm25").desc, col("doc_id")))
        .cast("long").as("lex_rank"))
    val q = embs.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_emb"))
    val vec = embs.filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        GraftFunctions.cosine_sim(col("q_emb"), col("embedding"))
          .as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("doc_id")).limit(k)
      .select(col("doc_id"), row_number().over(
        Window.orderBy(col("cos_sim").desc, col("doc_id")))
        .cast("long").as("vec_rank"))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        col("lex_rank"), col("vec_rank"),
        (coalesce(expr(s"1000000 div ($rrfK + lex_rank)"), lit(0L)) +
          coalesce(expr(s"1000000 div ($rrfK + vec_rank)"), lit(0L)))
          .as("rrf_ppm"))
  }

  /** Per-dimension whitening (mean-center + unit-variance) — the
    * standard embedding preprocessing before ANN indexing or cosine
    * thresholds, so no dimension dominates the dot product.
    *
    * Cross-engine exactness: moments accumulate over 1e-6-quantized
    * BIGINT components (a raw double sum is partitioning-dependent),
    * then mean and sigma come from ONE fixed IEEE sequence each
    * (sqrt is correctly rounded, unlike log/exp — the same contract
    * as qCorrMatrix); sums are exact DECIMAL(38,0) totals
    * ([[GraftFunctions.exact_sum]]) so corpus size cannot overflow.
    * Constant dimensions whiten to 0 by definition.
    *
    * Shape at scale: the moment pass partial-aggregates to dim rows
    * (≤ the embedding width — broadcast by construction); assignment
    * is a narrow map. Two corpus scans total (moments, then apply) —
    * at 100 TB persist the source once if the scan dominates. */
  def whitenEmbeddings(embs: DataFrame): DataFrame = {
    val q = embs.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .withColumn("qd", floor(col("x").cast("double") * 1e6).cast("long"))
    val stats = q.groupBy("dim").agg(
      GraftFunctions.exact_sum(col("qd")).as("s"),
      GraftFunctions.exact_sum(col("qd") * col("qd")).as("ss"),
      count(lit(1)).as("n"))
    q.join(broadcast(stats), "dim")
      .withColumn("mu", col("s").cast("double") / col("n") / 1e6)
      .withColumn("sigma",
        sqrt((col("n") * col("ss") - col("s") * col("s")).cast("double"))
          / col("n") / 1e6)
      .select(col("vec_id"), col("dim"),
        when(col("sigma") === 0.0, 0.0)
          .otherwise((col("x").cast("double") - col("mu")) / col("sigma"))
          .as("w"))
  }

  /** Capacity-capped coarse assignment (balanced clustering): every
    * vector lands on a centroid, but NO centroid exceeds
    * cap = ceil(1.25·n/nlist) — the construction that makes the
    * exact-within-cluster contracts (kNN graph §2.7 51h, SemDeDup
    * pruning) safe at ANY corpus size, because the worst cluster is
    * bounded by the index build instead of an organic label's
    * growth. Deterministic deferred acceptance over the seed
    * centroids: in round r every still-unassigned vector proposes to
    * its r-th-preference centroid (cosine desc, id tie-break) and
    * each centroid accepts its best proposals up to remaining
    * capacity (again cosine desc, id) — the parallel,
    * order-independent form of "assign to nearest non-full". Three
    * fixed rounds: with 25% slack the synthetic corpus empties in
    * two; production loops until the unassigned frame is empty
    * (each round = one join + one window, O(n·r) total). A vector
    * still unassigned after the fixed rounds is dropped BY BOTH the
    * engine and the oracle — the gate stays exact either way, and
    * the balance spec asserts emptiness at the build SF.
    *
    * Scale shape: preferences come from the NARROW top-R kernel
    * ([[GraftFunctions.cosine_top_r]]) against the one-row broadcast
    * centroid array — the acceptance loop only ever consults prefs
    * 1..rounds, so only n×rounds preference rows exist (the old
    * n×nlist crossJoin + per-vector rank window shuffled the full
    * preference matrix, which at nlist ∝ corpus/listSize is
    * n²/listSize rows — a non-starter); each round's acceptance is
    * one window per centroid partition — that task ranks the
    * centroid's O(n/nlist) proposals, which is the SAME per-list
    * volume an IVF deployment already accepts (nlist grows with the
    * corpus; the list length, not the corpus, is the unit of work);
    * capacity frames are nlist-row broadcasts. Per-row assignment
    * cost is nlist cosines — the standard flat-IVF build contract;
    * past ~100k centroids swap the linear centroid scan for a
    * centroid-level ANN index (the plan shape is unchanged). */
  def cappedAssign(embs: DataFrame, nlist: Int = 16, rounds: Int = 3)
      : DataFrame =
    cappedAssignTo(embs,
      embs.filter(col("vec_id") < nlist)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("c_emb")),
      nlist, rounds)

  /** Driver-side deferred acceptance — the identical round semantics
    * as the distributed [[cappedAssignTo]] loop: in round r every
    * still-unassigned vector proposes to its r-th preference, each
    * centroid accepts (cos desc, vec_id asc) up to remaining
    * capacity. Preferences come from [[Kernels.cosineTopR]] over the
    * id-ordered (id, emb) array the distributed path's
    * array_sort(collect_list(struct(...))) builds. Returns (vec_id,
    * centroid_id, cos_sim, pref_used). */
  private def assignDrv(vecs: Array[(Long, ArrayData)],
                        cents: Array[(Long, ArrayData)],
                        nlist: Int, rounds: Int)
      : Array[(Long, Long, Double, Long)] = {
    import scala.collection.mutable
    val centsArr = new GenericArrayData(cents.sortBy(_._1).map {
      case (id, e) => new GenericInternalRow(Array[Any](id, e)) })
    val prefs = vecs.map { case (id, v) =>
      id -> Kernels.cosineTopR(v, centsArr, rounds) }
    val cap = (vecs.length.toLong * 5L + (4L * nlist - 1L)) / (4L * nlist)
    val rem = mutable.LongMap.empty[Long].withDefaultValue(cap)
    val out = mutable.ArrayBuffer.empty[(Long, Long, Double, Long)]
    var unassigned = prefs
    for (r <- 1 to rounds) {
      val byCent = unassigned
        .filter { case (_, p) => p.numElements() >= r }
        .map { case (id, p) =>
          val pref = p.getStruct(r - 1, 2)
          (pref.getLong(0), pref.getDouble(1), id) }
        .groupBy(_._1)
      val takenIds = mutable.LongMap.empty[Unit]
      byCent.foreach { case (cent, cands) =>
        val take = cands
          .sortWith { case ((_, s1, v1), (_, s2, v2)) =>
            val c = java.lang.Double.compare(s1, s2)
            if (c != 0) c > 0 else v1 < v2
          }
          .take(math.max(0L, rem(cent)).toInt)
        rem(cent) = rem(cent) - take.length
        take.foreach { case (c2, s2, v2) =>
          out += ((v2, c2, s2, r.toLong)); takenIds(v2) = () }
      }
      unassigned = unassigned.filterNot(p => takenIds.contains(p._1))
    }
    out.toArray
  }

  /** A collected `array<float>` column as the [[ArrayData]] the
    * kernels read, wrapped once per row. */
  private def embAt(r: org.apache.spark.sql.Row, i: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(r.getSeq[Float](i).toArray)

  /** Byte-budget gate for the embedding driver twins: rows ×
    * (8 + 4·dim) packed payload against [[DriverCutoff.budgetBytes]]
    * — the kcenterSelect contract. Returns the collected corpus when
    * it fits, None above the budget. The corpus shape is a pure
    * function of its input identity, so the count and first-row
    * probes run once per [[FrameCache.planKey]], not on every call. */
  private def collectEmbsUnder(embs: DataFrame, budget: Long)
      : Option[Array[(Long, ArrayData)]] = {
    val corpus = embs.select(col("vec_id"), col("embedding"))
    val (nRows, dim) = FrameCache.scalar(
        s"embShape:${FrameCache.planKey(corpus)}") {
      (corpus.count(), corpus.limit(1).collect().headOption
        .map(_.getSeq[Float](1).length).getOrElse(0))
    }
    if (nRows * (8L + 4L * dim) <= budget)
      Some(corpus.collect().map(r => (r.getLong(0), embAt(r, 1))))
    else None
  }

  /** [[cappedAssign]] against an EXPLICIT centroid frame
    * (centroid_id, c_emb) — the re-entrant form [[cappedLloyd]]
    * alternates with mean updates. `nlist` stays a parameter (not
    * centroids.count) so the capacity formula is a literal, never a
    * driver-side action. */
  def cappedAssignTo(embs: DataFrame, cents: DataFrame, nlist: Int,
                     rounds: Int = 3,
                     driverBudget: Long = DriverCutoff.budgetBytes)
      : DataFrame = {
    // size-adaptive driver twin ([[DriverCutoff]]): the distributed
    // acceptance loop pays ~10 checkpoint/collect jobs per call over
    // KB-scale frames at sf0.1 (profiled: emb_capped_lloyd = 78 jobs
    // via two of these calls). Identical arithmetic — the
    // preferences are the distributed path's own cosine top-R kernel,
    // the acceptance is the same (cos desc, id) order, the capacity the
    // same integer formula — so the assignment is byte-equal
    // (Round13Spec pins the boundary). Above the budget the
    // distributed rounds run UNCHANGED.
    collectEmbsUnder(embs, driverBudget) match {
      case Some(vecs) =>
        val centArr = cents
          .select(col("centroid_id").cast("long"), col("c_emb"))
          .collect().map(r => (r.getLong(0), embAt(r, 1)))
        val asg = assignDrv(vecs, centArr, nlist, rounds)
        return DriverCutoff.twinFrame(embs.sparkSession, asg.toSeq,
          "vec_id", "centroid_id", "cos_sim", "pref_used")
      case None => ()
    }
    val centsRow = cents.agg(
      array_sort(collect_list(struct(
        col("centroid_id").cast("long").as("centroid_id"), col("c_emb"))))
        .as("cents"))
    val total = embs.agg(count(lit(1)).as("bign"))
    val prefs = embs
      .select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(centsRow))
      .select(col("vec_id"), posexplode(
        GraftFunctions.cosine_top_r(col("embedding"), col("cents"), rounds)))
      .select(col("vec_id"), (col("pos") + 1).as("pref"),
        col("col.centroid_id").as("centroid_id"),
        col("col.cos_sim").as("cos_sim"))
      .crossJoin(broadcast(total))
      .withColumn("cap",
        expr(s"(bign * 5 + ${4 * nlist - 1}) div ${4 * nlist}"))
      .select("vec_id", "centroid_id", "cos_sim", "pref", "cap")
      .localCheckpoint()
    var capsLeft = prefs.select(col("centroid_id"), col("cap").as("rem"))
      .distinct()
    var unassigned = prefs.select("vec_id").distinct()
    var assigned: DataFrame = null
    for (r <- 1 to rounds) {
      val acc = prefs
        .join(unassigned, "vec_id")
        .filter(col("pref") === r)
        .join(broadcast(capsLeft), "centroid_id")
        .withColumn("arank", row_number().over(
          Window.partitionBy("centroid_id")
            .orderBy(col("cos_sim").desc, col("vec_id"))))
        .filter(col("arank") <= col("rem"))
        .select(col("vec_id"), col("centroid_id"), col("cos_sim"),
          lit(r.toLong).as("pref_used"))
        .localCheckpoint()
      assigned = if (assigned == null) acc else assigned.unionByName(acc)
      unassigned = unassigned.join(acc.select("vec_id"), Seq("vec_id"),
        "left_anti").localCheckpoint()
      capsLeft = capsLeft
        .join(acc.groupBy("centroid_id").agg(count(lit(1)).as("took")),
          Seq("centroid_id"), "left")
        .select(col("centroid_id"),
          (col("rem") - coalesce(col("took"), lit(0L))).as("rem"))
        .localCheckpoint()
    }
    assigned
  }

  /** Capacity-capped LLOYD (balanced k-means): alternate the
    * deferred-acceptance capped assignment ([[cappedAssignTo]]) with
    * the scaled-BIGINT mean update ([[kmeansCentroids]]'s
    * bit-reproducible recompute) — re-balancing BETWEEN mean updates,
    * so the index build keeps every list under
    * cap = ceil(1.25·n/nlist) at every iteration, not just at the
    * final assignment. Plain Lloyd lets a dominant mode swallow a
    * list (the cap then only truncates the END state); interleaving
    * the cap re-balances while the centroids are still moving, which
    * is what holds list balance under drift.
    *
    * Determinism: both halves are the proven bit-stable pieces — the
    * assignment is the parallel order-independent acceptance
    * (cosine desc, id tie-breaks), the mean update sums
    * floor(x·1e6) BIGINTs — so the whole build gates hash-exactly
    * against the unrolled-CTE oracle at any partitioning.
    *
    * Scale shape: per iteration ONE narrow top-R corpus scan
    * (broadcast centroid row), `rounds` acceptance windows over
    * O(n/nlist)-sized centroid partitions, and one (nlist×dim)-row
    * moment reduction whose map-side partials collapse each
    * partition — the same per-iteration exchange budget as
    * [[kmeansCentroids]] plus the acceptance windows; nothing
    * quadratic, nothing driver-side. Vectors unassigned after
    * `rounds` preferences drop from that iteration's mean update and
    * from the final assignment (both engine and oracle — documented
    * [[cappedAssign]] contract; the balance spec asserts emptiness
    * at the build SF). Returns the FINAL capped assignment
    * (vec_id, centroid_id, cos_sim, pref_used). */
  def cappedLloyd(embs: DataFrame, nlist: Int = 16, iters: Int = 2,
                  rounds: Int = 3,
                  driverBudget: Long = DriverCutoff.budgetBytes)
      : DataFrame = {
    // size-adaptive driver twin for the WHOLE alternation (not just
    // the per-iteration assignment): below the byte budget the
    // corpus collects once and both halves run in memory — the
    // assignment via the kernel-driven acceptance ([[assignDrv]]),
    // the mean update with the identical floor(x·1e6) long sums
    // (commutative — the distributed partial-agg order never
    // mattered) and the identical (s.toDouble / n / 1e6).toFloat
    // reconstruction. Byte-equal (Round13Spec); above the budget the
    // distributed alternation below runs UNCHANGED.
    collectEmbsUnder(embs, driverBudget) match {
      case Some(vecs) =>
        var centArr = vecs.filter(_._1 < nlist)
        var asg: Array[(Long, Long, Double, Long)] = null
        val byId = vecs.toMap
        for (i <- 1 to iters) {
          asg = assignDrv(vecs, centArr, nlist, rounds)
          if (i < iters) {
            import scala.collection.mutable
            val sums = mutable.LongMap.empty[(Array[Long], Long)]
            asg.foreach { case (vid, cent, _, _) =>
              val v = byId(vid)
              val (s, n) = sums.getOrElse(cent,
                (new Array[Long](v.numElements()), 0L))
              var d = 0
              while (d < v.numElements()) {
                s(d) += math.floor(v.getFloat(d).toDouble * 1e6).toLong
                d += 1
              }
              sums(cent) = (s, n + 1L)
            }
            centArr = sums.toArray.map { case (cent, (s, n)) =>
              (cent, UnsafeArrayData.fromPrimitiveArray(
                s.map(x => (x.toDouble / n / 1e6).toFloat)): ArrayData)
            }
          }
        }
        return DriverCutoff.twinFrame(embs.sparkSession, asg.toSeq,
          "vec_id", "centroid_id", "cos_sim", "pref_used")
      case None => ()
    }
    var cents = embs.filter(col("vec_id") < nlist)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))
      .localCheckpoint()
    var asg: DataFrame = null
    for (i <- 1 to iters) {
      asg = cappedAssignTo(embs, cents, nlist, rounds, driverBudget)
      if (i < iters) {
        cents = asg.select("vec_id", "centroid_id")
          .join(embs.select(col("vec_id"), col("embedding")), "vec_id")
          .select(col("centroid_id"),
            posexplode(col("embedding")).as(Seq("dim", "x")))
          .groupBy("centroid_id", "dim")
          .agg(sum(floor(col("x").cast("double") * 1e6).cast("long")).as("s"),
            count(lit(1)).as("n"))
          .groupBy("centroid_id")
          .agg(transform(
            array_sort(collect_list(struct(col("dim"),
              (col("s").cast("double") / col("n") / 1e6)
                .cast("float").as("m")))),
            e => e.getField("m")).as("c_emb"))
          .localCheckpoint()
      }
    }
    asg
  }

  /** Robust per-dimension scaling (median / IQR): the outlier-proof
    * sibling of [[whitenEmbeddings]] — mean/σ move arbitrarily far
    * under a single corrupted vector, median/IQR don't, so this is
    * the scaler to run BEFORE outlier filtering has happened.
    * Exact-percentile aggregation per dim (the `q_percentiles`
    * engine-parity contract), zero-IQR dims report 0 like
    * whitening's zero-σ rule.
    *
    * Scale: one posexplode pass collapses map-side to 64 per-dim
    * percentile states; stats broadcast back onto the narrow
    * normalize map. Exact percentile state is O(distinct values)
    * per dim (measured 25 s at sf10 — the partial states ship every
    * distinct float); `exact = false` swaps in `percentile_approx`'s
    * mergeable O(accuracy) sketch — the 100 TB path, identical plan
    * shape, parity spec-asserted — while the oracle gate runs the
    * exact default. */
  def robustScale(embs: DataFrame, exact: Boolean = true): DataFrame = {
    val q = embs.select(col("vec_id"),
      posexplode(col("embedding")).as(Seq("dim", "x")))
      .withColumn("xd", col("x").cast("double"))
    val stats =
      if (exact) q.groupBy("dim").agg(
        expr("percentile(xd, 0.5)").as("med"),
        (expr("percentile(xd, 0.75)") - expr("percentile(xd, 0.25)"))
          .as("iqr"))
      else q.groupBy("dim").agg(
        expr("percentile_approx(xd, 0.5, 10000)").as("med"),
        (expr("percentile_approx(xd, 0.75, 10000)")
          - expr("percentile_approx(xd, 0.25, 10000)")).as("iqr"))
    q.join(broadcast(stats), "dim")
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        when(col("iqr") === 0.0, 0.0)
          .otherwise((col("xd") - col("med")) / col("iqr")).as("r"))
  }

  /** Contrastive training-pair mining over labeled embeddings — the
    * data-prep step for embedding fine-tuning (triplet/InfoNCE):
    * every anchor gets one positive (its same-label predecessor by
    * id) and one deterministic negative drawn from the NEXT label's
    * md5-ordered ring at slot md5(anchor) mod ring-size. No RNG — the
    * triple set is a pure function of the corpus, reproducible on
    * any engine/cluster (the same contract as the md5 samplers).
    *
    * Shape at scale: positives ride the label-partitioned window;
    * the negative lookup is ONE co-partitioned join on
    * (label, slot) — never a cross join or per-anchor scan; the
    * label universe frames are label-cardinality-sized broadcasts. */
  def contrastivePairs(embs: DataFrame): DataFrame = {
    val anchors = embs.select(col("vec_id"), col("label"))
      .withColumn("pos_id", lag("vec_id", 1).over(
        Window.partitionBy("label").orderBy("vec_id")))
      .filter(col("pos_id").isNotNull)
    val ring = embs
      .select(col("label").as("neg_label"), col("vec_id").as("neg_id"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("neg_label")
          .orderBy(md5(col("neg_id").cast("string")), col("neg_id")))
        .cast("long") - 1)
    val counts = ring.groupBy("neg_label").agg(count(lit(1)).as("cnt"))
    // label universe (tiny by construction): cyclic next-label ring
    val nextLabel = counts
      .select(col("neg_label").as("label"))
      .withColumn("nxt", lead("label", 1).over(Window.orderBy("label")))
      .crossJoin(broadcast(counts.agg(min("neg_label").as("min_lab"))))
      .select(col("label"), coalesce(col("nxt"), col("min_lab"))
        .as("neg_label"))
    anchors
      .join(broadcast(nextLabel), "label")
      .join(broadcast(counts), "neg_label")
      .withColumn("rk",
        expr("CAST(conv(substr(md5(cast(vec_id AS string)), 1, 15), 16, 10) AS BIGINT)")
          % col("cnt"))
      .join(ring, Seq("neg_label", "rk"))
      .select(col("vec_id"), col("label"), col("pos_id"), col("neg_id"))
  }

  /** Top principal component by power iteration — the PCA axis used
    * for embedding diagnostics (dominant-direction removal, ABTT
    * "all-but-the-top") and as the first step of any spectral
    * dimensionality reduction. v_{k+1} ∝ Σ_rows (x−μ)·((x−μ)·v_k),
    * seeded from all-ones, `iters` fixed rounds.
    *
    * Cross-engine exactness (the kmeans contract, extended): the
    * per-row projection is ONE sequential IEEE dot (codegen
    * `GraftFunctions.power_contrib`, same order as list_sum);
    * each row's contribution quantizes to BIGINT micro-units so the
    * corpus reduction is exact integer arithmetic under any
    * partitioning; the normalization is a fixed IEEE sequence per
    * round (sqrt correctly rounded). Same arithmetic unrolled in the
    * DuckDB oracle → bit-identical loadings.
    *
    * Shape at scale: each round is one NARROW scan (μ and v ride the
    * closure as 64-double references) + a dim-keyed partial-agg
    * reduction to an embedding-width frame; the driver holds only
    * 2×64 doubles. iters scans total — the Lloyd-round structure. */
  def pcaTopComponent(embs: DataFrame, iters: Int = 3): DataFrame = {
    val (_, v) = pcaAxis(embs, iters)
    val s = embs.sparkSession
    import s.implicits._
    v.toSeq.zipWithIndex.map { case (l, d) => (d, l) }
      .toDF("dim", "loading").select(col("dim"), col("loading"))
  }

  private[graft] def pcaAxis(embs: DataFrame, iters: Int,
                             driverBudget: Long = DriverCutoff.budgetBytes)
      : (Array[Double], Array[Double]) = {
    // size-adaptive driver twin ([[DriverCutoff]]): the distributed
    // axis build pays 1 + iters sequential scan+collect jobs
    // (profiled: emb_pca 19 driver jobs at sf0.1). The per-row
    // contribution kernel is invoked DIRECTLY (same
    // Kernels.centeredPowerContrib over the collected vectors),
    // the per-dim reductions are commutative Long sums rendered
    // through BigDecimal.doubleValue exactly like the DECIMAL(38,0)
    // column, and the normalization is the identical IEEE sequence —
    // axis byte-equal (Round13Spec). Above the budget, when the
    // vectors differ in length, or when a per-dim sum leaves the Long
    // range, the scans run UNCHANGED.
    collectEmbsUnder(embs, driverBudget) match {
      case Some(vecs) if vecs.nonEmpty && vecs.forall(
          _._2.numElements() == vecs(0)._2.numElements()) => try {
        val dims = vecs(0)._2.numElements()
        val n = vecs.length.toLong
        val muSum = new Array[Long](dims)
        vecs.foreach { case (_, e) =>
          var d = 0
          while (d < dims) {
            muSum(d) = Math.addExact(muSum(d),
              math.floor(e.getFloat(d).toDouble * 1e6).toLong)
            d += 1
          }
        }
        val mu = muSum.map(s =>
          new java.math.BigDecimal(s).doubleValue() / n / 1e6)
        var v = Array.fill(dims)(1.0)
        for (_ <- 1 to iters) {
          val wSum = new Array[Long](dims)
          vecs.foreach { case (_, e) =>
            val c = Kernels.centeredPowerContrib(e, mu, v)
            var d = 0
            while (d < dims) {
              wSum(d) = Math.addExact(wSum(d), c.getLong(d)); d += 1 }
          }
          val w = wSum.map(s =>
            new java.math.BigDecimal(s).doubleValue() / 1e6)
          var ss = 0.0
          w.foreach(x => ss += x * x)
          val norm = math.sqrt(ss)
          v = w.map(_ / norm)
        }
        return (mu, v)
      } catch { case _: ArithmeticException => () }
      case _ => ()
    }
    val stats = embs
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .withColumn("qd", floor(col("x").cast("double") * 1e6).cast("long"))
      .groupBy("dim")
      .agg(GraftFunctions.exact_sum(col("qd")).as("s"), count(lit(1)).as("n"))
      .orderBy("dim").collect()
    val mu = stats.map(r =>
      r.getDecimal(1).doubleValue() / r.getLong(2) / 1e6)
    var v = Array.fill(mu.length)(1.0)
    for (_ <- 1 to iters) {
      val w = embs
        .select(posexplode(GraftFunctions
          .power_contrib(col("embedding"), mu, v)).as(Seq("dim", "c")))
        .groupBy("dim").agg(GraftFunctions.exact_sum(col("c")).as("w"))
        .orderBy("dim").collect()
        .map(_.getDecimal(1).doubleValue() / 1e6)
      var ss = 0.0
      w.foreach(x => ss += x * x)
      val norm = math.sqrt(ss)
      v = w.map(_ / norm)
    }
    (mu, v)
  }

  /** All-but-the-top correction (Mu & Viswanath 2018): subtract the
    * mean and the projection onto the dominant axis — the standard
    * post-processing that removes the "common direction" every
    * embedding shares and sharpens cosine geometry. Composes
    * [[pcaAxis]]: the correction itself is a NARROW map (one codegen
    * projection dot + per-dim arithmetic against broadcast μ/v
    * literal arrays); output posexploded to scalar rows like
    * emb_whitening. Same bit-exactness contract as emb_pca — the
    * oracle re-derives the axis and the correction end-to-end. */
  def abttCorrect(embs: DataFrame, iters: Int = 3): DataFrame = {
    val (mu, v) = pcaAxis(embs, iters)
    val muLit = typedLit(mu.toSeq)
    val vLit = typedLit(v.toSeq)
    embs
      .withColumn("t",
        GraftFunctions.centered_dot(col("embedding"), mu, v))
      .select(col("vec_id"), col("t"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim"),
        (col("x").cast("double")
          - element_at(muLit, col("dim") + 1)
          - element_at(vLit, col("dim") + 1) * col("t")).as("corrected"))
  }

  /** Within-LABEL exact kNN graph: each vector's top-k nearest
    * same-label neighbors by cosine — the neighbor structure behind
    * SemDeDup pruning, kNN-classification audits and graph-based
    * diversity sampling. AUDIT-SCOPED: the partition key is the
    * organic `label`, so Σ|cluster|² grows however the labels grow —
    * use this to inspect a label taxonomy, and [[knnGraphCapped]]
    * (the gated production form) when the corpus scales, because its
    * capacity-capped clusters bound the pair work by construction.
    * The global-exact variant is inherently quadratic and exists only
    * as [[bruteForceTopK]] for bounded query sets. Cosine is the
    * shared codegen kernel; rank ties break on neighbor id, so the
    * graph is a pure function of the corpus. */
  def knnGraph(embs: DataFrame, k: Int = 5): DataFrame =
    knnGraphWithin(
      embs.select(col("label").cast("long").as("cluster_id"),
        col("vec_id"), col("embedding")), k)
      .withColumnRenamed("cluster_id", "label")

  /** Within-cluster exact kNN over an explicit (cluster_id, vec_id,
    * embedding) frame: ONE shuffle of each side on the cluster key,
    * O(m²) pair work strictly inside a cluster. The caller owns the
    * cluster-size contract — [[knnGraph]] passes the organic label
    * (audit-scoped: Σ|cluster|² grows with the label's growth);
    * [[knnGraphCapped]] passes the capacity-capped assignment, whose
    * worst cluster is bounded by the index build at ANY corpus size. */
  private[operators] def knnGraphWithin(clustered: DataFrame, k: Int)
      : DataFrame = {
    val a = clustered.select(col("cluster_id"),
      col("vec_id").as("src_id"), col("embedding").as("src_emb"))
    val b = clustered.select(col("cluster_id"),
      col("vec_id").as("dst_id"), col("embedding").as("dst_emb"))
    a.join(b, Seq("cluster_id"))
      .filter(col("src_id") =!= col("dst_id"))
      .withColumn("cos_sim",
        GraftFunctions.cosine_sim(col("src_emb"), col("dst_emb")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("src_id")
          .orderBy(col("cos_sim").desc, col("dst_id"))))
      .filter(col("rank") <= k)
      .select(col("cluster_id"), col("src_id"),
        col("rank").cast("long").as("rank"), col("dst_id"), col("cos_sim"))
  }

  /** Capacity-capped assignment frame for graph-shaped consumers:
    * nlist grows with the corpus at a FIXED target list size, so the
    * per-cluster membership — and with it every Σ|cluster|² contract
    * downstream — is bounded by construction (cap = ceil(1.25 ·
    * targetList)) instead of by an organic label's growth. The
    * corpus count read here is one scalar (a partition-predicate-
    * class collect). */
  private[graft] def cappedClusters(embs: DataFrame,
      targetList: Int, rounds: Int): DataFrame =
    FrameCache.cached(embs.sparkSession,
      s"ccl:${FrameCache.planKey(embs)}:$targetList:$rounds",
      // cappedAssign's acceptance rounds checkpoint intermediates;
      // only the final membership frame is the shared artifact
      keepOnlyLast = true) {
      val n = embs.agg(count(lit(1))).head().getLong(0)
      val nlist = math.max(1L, (n + targetList - 1) / targetList).toInt
      cappedAssign(embs, nlist, rounds)
        .select(col("vec_id"), col("centroid_id").as("cluster_id"))
        .join(embs.select(col("vec_id"), col("embedding")), Seq("vec_id"))
        .select(col("cluster_id"), col("vec_id"), col("embedding"))
        .localCheckpoint()
    }

  /** The FrameCache-shared capped kNN graph — built once per
    * (dataset, k, targetList, rounds) and fanned out to
    * [[knnGraphCapped]], [[hubnessAuditCapped]] and
    * [[graphSearchTopK]]/[[graphSearchRecall]], which each used to
    * re-pay the capped assignment + Σ|cluster|² pair scan (the
    * key-level graph family's repeatKeyEdges contract, r12). */
  private def knnGraphCappedShared(embs: DataFrame, k: Int,
                                   targetList: Int, rounds: Int)
      : DataFrame =
    FrameCache.cached(embs.sparkSession,
      s"kng:${FrameCache.planKey(embs)}:$k:$targetList:$rounds") {
      knnGraphWithin(cappedClusters(embs, targetList, rounds), k)
        .localCheckpoint()
    }

  /** Exact kNN graph over capacity-capped clusters — the 100 TB form
    * of [[knnGraph]]: the grouping key is the deferred-acceptance
    * capped assignment ([[cappedAssign]]) at a fixed target list
    * size, so pair work is Σ|cluster|² ≤ nlist·cap² ≈ 1.56·targetList
    * ·n — LINEAR in the corpus at any scale (the organic-label form
    * is audit-scoped: its worst cluster grows with the label). The
    * assignment itself is the narrow flat-IVF build scan (nlist
    * cosines per row, no corpus exchange); vectors unassigned after
    * the fixed acceptance rounds are dropped by engine and oracle
    * alike (none at 25% slack on the gate corpus — spec-asserted). */
  def knnGraphCapped(embs: DataFrame, k: Int = 5, targetList: Int = 200,
                     rounds: Int = 3): DataFrame =
    knnGraphCappedShared(embs, k, targetList, rounds)

  /** [[hubnessAudit]] over the capacity-capped kNN graph
    * ([[knnGraphCapped]]) — same histogram, bounded-cluster cost.
    * The in-degree-0 restore joins against the ASSIGNED vector set
    * (the graph's universe). */
  def hubnessAuditCapped(embs: DataFrame, k: Int = 5,
                         targetList: Int = 200, rounds: Int = 3)
      : DataFrame = {
    val clustered = cappedClusters(embs, targetList, rounds)
    val indeg = knnGraphCappedShared(embs, k, targetList, rounds)
      .groupBy(col("dst_id").as("vec_id"))
      .agg(count(lit(1)).as("in_degree"))
    clustered.select("vec_id")
      .join(indeg, Seq("vec_id"), "left")
      .select(coalesce(col("in_degree"), lit(0L)).as("in_degree"))
      .groupBy("in_degree").agg(count(lit(1)).as("n_vecs"))
  }

  /** Graph-traversal ANN (the SPANN/DiskANN-shaped query path):
    * route each query to its `nprobe` nearest centroid partitions
    * (one broadcast pass over the nlist centroid vectors — the IVF
    * route; multi-partition entry is what keeps recall when a
    * query's true neighbors straddle a partition boundary), enter
    * at each routed partition's anchor member (min vec_id —
    * deterministic on any engine), then run `hops`
    * synchronous best-first beam rounds over the within-partition
    * exact kNN graph ([[knnGraphCapped]]'s edges): each round
    * expands the beam's out-neighbors, scores every candidate
    * against the query with the shared cosine kernel, and keeps the
    * top `beam` by (cos DESC, id) — candidates always include the
    * previous beam, so the kept set's scores are monotone
    * non-decreasing and the walk can only improve. Output: the
    * final beam's top-k neighbors per query (self excluded).
    *
    * Scale shape: the graph build is the capacity-capped linear
    * construction (Σ|cluster|² ≤ nlist·cap² — linear in the corpus
    * at fixed targetList); per hop the beam frame is
    * O(|queries|·beam) rows joined against the src_id-keyed edge
    * frame — the corpus itself is touched only through the ≤
    * beam·knnK candidate embeddings per query per hop, never
    * scanned. That is the production contract graph-ANN exists for:
    * query cost bounded by beam×degree×hops, independent of corpus
    * size. A query routed to an empty partition (impossible at 25%
    * acceptance slack, spec-asserted territory) would simply emit
    * no rows — same verdict on both engines. */
  def graphSearchTopK(embs: DataFrame, queries: DataFrame, k: Int = 5,
                      knnK: Int = 5, beam: Int = 16, hops: Int = 5,
                      nprobe: Int = 4, targetList: Int = 200,
                      rounds: Int = 3,
                      driverBudget: Long = DriverCutoff.budgetBytes)
      : DataFrame = {
    val clustered = cappedClusters(embs, targetList, rounds)
    val g = knnGraphCappedShared(embs, knnK, targetList, rounds)
      .select(col("src_id"), col("dst_id"))
    // size-adaptive driver twin ([[DriverCutoff]]): the 5 beam hops
    // each paid a join + rank window + checkpoint (profiled: 54–60
    // driver jobs per ann_graph_search/recall execution at sf0.1) —
    // over frames the byte budget says fit on the driver whole. The
    // walk replays EXACTLY: the kernel's own [[Kernels.cosine]],
    // (cos desc, id asc) ranks, beam ∪ out-neighbors expansion,
    // final self-drop + top-k reusing the beam's scores. Collected
    // inputs are the cached cluster membership and kNN arcs (both
    // O(n)) plus the query panel; above the budget the distributed
    // hops run UNCHANGED. Byte-equal: Round13Spec pins the boundary.
    (collectEmbsUnder(embs, driverBudget / 2),
      collectEmbsUnder(queries.select(col("vec_id"), col("embedding")),
        driverBudget / 2)) match {
      case (Some(vecs), Some(qsArr)) =>
        import scala.collection.mutable
        val byId = vecs.toMap
        val n = vecs.length.toLong
        val nlist = math.max(1L, (n + targetList - 1) / targetList)
        val cents = vecs.filter(_._1 < nlist).sortBy(_._1)
        val minMember = mutable.LongMap.empty[Long]
        clustered.select(col("cluster_id"), col("vec_id")).collect()
          .foreach { r =>
            val (c, v) = (r.getLong(0), r.getLong(1))
            minMember.get(c) match {
              case Some(m) => if (v < m) minMember(c) = v
              case None => minMember(c) = v
            }
          }
        val adj = mutable.LongMap.empty[mutable.ArrayBuffer[Long]]
        g.collect().foreach { r =>
          adj.getOrElseUpdate(r.getLong(0),
            mutable.ArrayBuffer.empty[Long]) += r.getLong(1) }
        val none = mutable.ArrayBuffer.empty[Long]
        val out = mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
        qsArr.foreach { case (qid, qv) =>
          val routed = cents
            .map { case (cid, ce) => (cid, Kernels.cosine(qv, ce)) }
            .sortWith { case ((i1, c1), (i2, c2)) =>
              val c = java.lang.Double.compare(c1, c2)
              if (c != 0) c > 0 else i1 < i2
            }
            .take(nprobe)
          var beamScored: Array[(Long, Double)] = routed
            .flatMap { case (cid, _) => minMember.get(cid) }
            .distinct.map(v => (v, 0.0))
          for (_ <- 1 to hops) {
            val cand = (beamScored.map(_._1) ++
              beamScored.map(_._1).flatMap(v =>
                adj.getOrElse(v, none))).distinct
            beamScored = cand
              .map(v => (v, Kernels.cosine(qv, byId(v))))
              .sortWith { case ((v1, c1), (v2, c2)) =>
                val c = java.lang.Double.compare(c1, c2)
                if (c != 0) c > 0 else v1 < v2
              }
              .take(beam)
          }
          beamScored.filter(_._1 != qid).take(k)
            .zipWithIndex.foreach { case ((v, cs), idx) =>
              out += ((qid, idx + 1L, v, cs)) }
        }
        return DriverCutoff.twinFrame(embs.sparkSession, out.toSeq,
          "query_id", "rank", "neighbor_id", "cos_sim")
      case _ => ()
    }
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb")).localCheckpoint()
    // route: the nprobe nearest of the nlist centroid vectors (the
    // same centroids the capped assignment used — ids < nlist)
    val n = embs.agg(count(lit(1))).head().getLong(0)
    val nlist = math.max(1L, (n + targetList - 1) / targetList)
    val cents = embs.filter(col("vec_id") < nlist)
      .select(col("vec_id").as("centroid_id"),
        col("embedding").as("c_emb"))
    val route = q.crossJoin(broadcast(cents))
      .withColumn("cs",
        GraftFunctions.cosine_sim(col("q_emb"), col("c_emb")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("cs").desc, col("centroid_id"))))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("centroid_id"))
    var beamDf: DataFrame = route.as("r")
      .join(clustered.as("m"),
        col("m.cluster_id") === col("r.centroid_id"))
      .groupBy(col("query_id"), col("r.centroid_id"))
      .agg(min("vec_id").as("vec_id"))
      .select("query_id", "vec_id").distinct()
      .localCheckpoint()
    for (_ <- 1 to hops) {
      // candidates = beam ∪ out-neighbors, via one left join + a
      // self+dst explode (a Union of a frame with its own join
      // derivation trips Catalyst's union-constraint rewrite)
      val expanded = beamDf.as("b")
        .join(g.as("g"), col("b.vec_id") === col("g.src_id"), "left")
        .select(col("b.query_id").as("query_id"),
          explode(array(col("b.vec_id"), col("g.dst_id")))
            .as("vec_id"))
        .filter(col("vec_id").isNotNull)
        .distinct()
      beamDf = expanded
        .join(embs.select(col("vec_id"), col("embedding")),
          Seq("vec_id"))
        .join(broadcast(q), Seq("query_id"))
        .withColumn("cos_sim",
          GraftFunctions.cosine_sim(col("q_emb"), col("embedding")))
        .withColumn("rk", row_number().over(
          Window.partitionBy("query_id")
            .orderBy(col("cos_sim").desc, col("vec_id"))))
        .filter(col("rk") <= beam)
        .select("query_id", "vec_id", "cos_sim")
        .localCheckpoint()
    }
    beamDf.filter(col("vec_id") =!= col("query_id"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("cos_sim").desc, col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("neighbor_id"), col("cos_sim"))
  }

  /** Recall@k of the graph traversal ([[graphSearchTopK]]) against
    * exact brute force — [[recallAudit]]'s sibling for the
    * graph-ANN path: the number that prices the beam/hops budget
    * (raise either until this says the walk finds what a full scan
    * finds). Same overlap shape: left-semi of the two
    * O(queries×k) edge frames, per-query match count, recall as a
    * double. The brute-force side is the audit's own cost — the
    * production query path never runs it. Measured on the gate
    * corpus: 0.42 @ (nprobe 1, beam 8, 3 hops) → 0.58 @ (4, 16, 3)
    * → 0.70 @ (4, 16, 5), flat from nprobe 4 → 8 — the residual
    * misses are ANTI-HUBS (in-degree-0 nodes of the kNN digraph,
    * [[hubnessAuditCapped]]'s left bucket), which no graph walk can
    * reach at any budget; that structural ceiling is exactly why
    * this audit and the hubness histogram ship next to the
    * traversal. */
  def graphSearchRecall(embs: DataFrame, queries: DataFrame,
                        k: Int = 5): DataFrame = {
    val exact = bruteForceTopK(embs, queries, k)
      .select(col("query_id"), col("neighbor_id"))
    val approx = graphSearchTopK(embs, queries, k)
      .select(col("query_id"), col("neighbor_id"))
    val matches = exact
      .join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_match"))
    exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      .join(matches, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_match"), lit(0L)).as("n_match"),
        (coalesce(col("n_match"), lit(0L)).cast("double") /
          col("n_exact")).as("recall"))
  }

  /** Matryoshka truncation audit: recall@k of brute-force retrieval
    * when each vector keeps only its first `keepDims` dimensions —
    * the number that decides whether storing/searching half the
    * vector is safe (MRL-style embeddings are trained so prefixes
    * stay usable; this audit verifies the claim on YOUR corpus
    * instead of trusting the model card). Both sides are the same
    * broadcast-query corpus scan ([[bruteForceTopK]]); the truncated
    * branch slices in the scan projection so the cosine kernel sees
    * a genuinely shorter array. Overlap via left-semi on the two
    * O(queries×k) edge frames; queries losing every neighbor still
    * report (right join restores recall 0). Exact ppm floor. */
  def truncationAudit(embs: DataFrame, queries: DataFrame,
                      keepDims: Int = 32, k: Int = 5): DataFrame = {
    def trunc(df: DataFrame) = df.withColumn("embedding",
      slice(col("embedding"), 1, keepDims))
    val full = bruteForceTopK(embs, queries, k)
      .select(col("query_id"), col("neighbor_id"))
    val truncated = bruteForceTopK(trunc(embs), trunc(queries), k)
      .select(col("query_id"), col("neighbor_id"))
    full.join(truncated, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_kept"))
      .join(queries.select(col("vec_id").as("query_id")),
        Seq("query_id"), "right")
      .select(col("query_id"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .withColumn("recall_ppm", expr(s"n_kept * 1000000 div $k"))
  }

  /** Per-label embedding outlier report: the bottom decile of each
    * label by cosine to the label's own centroid — the curation pass
    * that surfaces mislabeled / noisy vectors before they poison
    * contrastive pairs or kNN retrieval. Centroids come from
    * [[labelCentroids]]' scaled-integer means (order-independent,
    * engine-neutral), assembled per label and rounded ONCE to float
    * (one deterministic IEEE op both engines repeat) so the corpus
    * pass reuses the float cosine kernel unchanged. The centroid
    * frame is nlabels rows and rides a broadcast; the per-label
    * rank window is the only exchange, and the decile cut is integer
    * (rank ≤ n div 10) — no float percentile boundary to disagree
    * over. Emits only the flagged rows: output is O(corpus/10),
    * shaped by the report, not the scan. */
  def embOutliers(embs: DataFrame, decile: Int = 10): DataFrame = {
    val cents = centroidArrays(embs)
    embs.select(col("label").cast("long").as("label"), col("vec_id"),
        col("embedding"))
      .join(broadcast(cents), Seq("label"))
      .withColumn("cos_to_centroid",
        GraftFunctions.cosine_sim(col("embedding"), col("c_emb")))
      .withColumn("rank_in_label", row_number().over(
        Window.partitionBy("label")
          .orderBy(col("cos_to_centroid").asc, col("vec_id"))))
      .withColumn("n_label",
        count(lit(1)).over(Window.partitionBy("label")))
      .filter(expr(s"rank_in_label <= n_label div $decile"))
      .select(col("label"), col("vec_id"), col("cos_to_centroid"),
        col("rank_in_label").cast("long").as("rank_in_label"))
  }

  /** Per-label centroids as float arrays — [[labelCentroids]]'
    * scaled-integer means assembled per label, rounded ONCE to float
    * (one deterministic IEEE op both engines repeat) so corpus
    * passes reuse the float cosine kernel. nlabels rows — broadcast
    * material. */
  private def centroidArrays(embs: DataFrame): DataFrame =
    labelCentroids(embs)
      .groupBy("label")
      .agg(transform(
        array_sort(collect_list(struct(col("dim"),
          col("centroid").cast("float").as("m")))),
        e => e.getField("m")).as("c_emb"))

  /** Per-dimension embedding profile: mean, variance, min/max for
    * every coordinate — the dead-dimension / dominant-dimension
    * audit run before whitening or truncation (a dim with ~zero
    * variance is wasted storage; one with outsized variance hijacks
    * cosine). Moments are exact: each value rounds once to a 1e6-
    * scaled integer, first and second moments sum as BIGINT /
    * DECIMAL(38,0) (order-independent), and mean/variance are a
    * fixed IEEE tail on exact inputs. posexplode → groupBy(dim):
    * map-side partials collapse each partition to `dim` rows, so
    * the single exchange carries O(partitions × dim) rows at any
    * corpus size. Min/max of floats are exact order statistics. */
  def dimProfile(embs: DataFrame): DataFrame = {
    val big = DecimalType(38, 0)
    embs.select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"),
        floor(col("x").cast("double") * 1e6).cast("long").as("s"),
        col("x"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum("s").as("s1"),
        sum((col("s").cast(big) * col("s"))).as("s2"),
        min("x").cast("double").as("min_x"),
        max("x").cast("double").as("max_x"))
      .select(col("dim"), col("n"),
        (col("s1").cast("double") / col("n") / 1e6).as("mean"),
        (((col("n") * col("s2") - col("s1").cast(big) * col("s1"))
          .cast("double")) / col("n") / col("n") / 1e12).as("variance"),
        col("min_x"), col("max_x"))
  }

  /** Cluster-quality report per label: compactness as the mean
    * cosine of members to their own centroid, separation as the
    * nearest OTHER centroid's cosine — the Davies-Bouldin-style
    * health check run before trusting labels for SemDeDup pruning or
    * contrastive mining (a label whose nearest-centroid similarity
    * approaches its compactness is bleeding into its neighbor). The
    * corpus pass is one broadcast join + narrow cosine, collapsed by
    * a partial-aggregable per-label rollup; per-vector cosines round
    * deterministically to integer nano-units BEFORE summation so the
    * mean is order-independent (float sums would drift with
    * partitioning). The centroid-pair matrix is nlabels² on the
    * broadcast-size frame. */
  def clusterQuality(embs: DataFrame): DataFrame = {
    val cents = centroidArrays(embs)
    val intra = embs
      .select(col("label").cast("long").as("label"), col("embedding"))
      .join(broadcast(cents), Seq("label"))
      .select(col("label"),
        floor(GraftFunctions.cosine_sim(col("embedding"), col("c_emb"))
          * 1e9).cast("long").as("s"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), sum("s").as("intra_sum"))
      .withColumn("mean_intra_nano", expr("intra_sum div n"))
    val a = cents.select(col("label"), col("c_emb").as("ca"))
    val b = cents.select(col("label").as("other_label"),
      col("c_emb").as("cb"))
    val inter = a.crossJoin(broadcast(b))
      .filter(col("label") =!= col("other_label"))
      .withColumn("sim", GraftFunctions.cosine_sim(col("ca"), col("cb")))
      .withColumn("r", row_number().over(
        Window.partitionBy("label")
          .orderBy(col("sim").desc, col("other_label"))))
      .filter(col("r") === 1)
      .select(col("label"), col("other_label").as("nearest_label"),
        col("sim").as("nearest_centroid_sim"))
    intra.join(inter, Seq("label"))
      .select("label", "n", "mean_intra_nano", "nearest_label",
        "nearest_centroid_sim")
  }

  /** Leave-one-out kNN classification audit: predict each sampled
    * query's label from its k nearest corpus neighbors (majority
    * vote, ties to the smallest label) and report per-label accuracy
    * — the standard embedding-quality number (a space whose kNN can't
    * recover its own labels won't retrieve either). Reuses
    * [[bruteForceTopK]]'s broadcast-query scan: the corpus never
    * shuffles; the vote/argmax/rollup frames are all O(queries×k).
    * Accuracy is exact ppm floor division. */
  def knnClassifyAudit(embs: DataFrame, queries: DataFrame, k: Int = 5)
      : DataFrame = {
    val nbrLabels = embs.select(col("vec_id").as("neighbor_id"),
      col("label").cast("long").as("n_label"))
    val votes = bruteForceTopK(embs, queries, k)
      .join(nbrLabels, Seq("neighbor_id"))
      .groupBy("query_id", "n_label").agg(count(lit(1)).as("votes"))
    val predicted = votes
      .withColumn("r", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("votes").desc, col("n_label"))))
      .filter(col("r") === 1)
      .select(col("query_id"), col("n_label").as("pred_label"))
    queries.select(col("vec_id").as("query_id"),
        col("label").cast("long").as("true_label"))
      .join(predicted, Seq("query_id"))
      .groupBy("true_label")
      .agg(count(lit(1)).as("n"),
        sum(when(col("pred_label") === col("true_label"), 1L)
          .otherwise(0L)).as("n_correct"))
      .withColumn("accuracy_ppm", expr("n_correct * 1000000 div n"))
  }

  /** Hubness audit over the [[knnGraph]]: the in-degree distribution
    * of the directed kNN graph — how many vectors' top-k lists each
    * vector appears in. High-dimensional embedding spaces concentrate
    * in-degree mass on a few "hub" points (Radovanović JMLR'10) while
    * anti-hubs (in-degree 0) vanish from every neighbor list; a
    * skewed histogram is the standard early-warning that cosine
    * retrieval quality is degrading. Audit-scoped like [[knnGraph]]
    * (organic-label clusters); [[hubnessAuditCapped]] is the gated
    * bounded-cluster form. The graph's edge frame collapses
    * to per-dst counts (partial-aggregable), the right join against
    * the corpus id frame restores the in-degree-0 anti-hubs, and the
    * final histogram is a second tiny rollup — nothing wider than
    * (vec_id, count) ever shuffles. */
  def hubnessAudit(embs: DataFrame, k: Int = 5): DataFrame = {
    val indeg = knnGraph(embs, k)
      .groupBy(col("dst_id").as("vec_id"))
      .agg(count(lit(1)).as("in_degree"))
    embs.select("vec_id")
      .join(indeg, Seq("vec_id"), "left")
      .select(coalesce(col("in_degree"), lit(0L)).as("in_degree"))
      .groupBy("in_degree").agg(count(lit(1)).as("n_vecs"))
  }

  /** Narrow argmin-L2 assignment of vector slices to a per-subspace
    * codebook: the codebook collapses to one array row per subspace
    * and rides a broadcast join on `sub`; each slice evaluates every
    * code's squared distance in-place via the codegen
    * [[GraftFunctions.l2_argmin]] kernel (the HOF
    * transform/aggregate form was CodegenFallback and dropped the
    * whole assignment scan out of whole-stage codegen — 19.0 s →
    * 1.8 s at sf10, same fold order so the gate stays exact) — no
    * corpus exchange, mirroring
    * [[assignCentroids]] but keyed by subspace and under L2 (PQ's
    * metric) instead of cosine. Ties resolve to the lowest code. */
  private def assignPq(sliced: DataFrame, codebook: DataFrame): DataFrame = {
    val cb = codebook.groupBy("sub")
      .agg(array_sort(collect_list(struct(col("code"), col("c_v"))))
        .as("cb"))
    sliced.join(broadcast(cb), Seq("sub"))
      .withColumn("best", GraftFunctions.l2_argmin(col("v"), col("cb")))
      .select(col("vec_id"), col("sub"), col("v"),
        col("best.code").as("code"), col("best.d2").as("d2"))
  }

  /** Product-quantization (PQ) codebook training + distortion audit
    * (Jégou et al., TPAMI'11): the embedding splits into `m`
    * contiguous `subDim`-wide subspaces, each trained independently
    * with `k` codes — one Lloyd round from lowest-id seeds, the same
    * deterministic scaled-BIGINT mean recompute as
    * [[kmeansCentroids]] so the codebook is bit-identical across
    * cluster sizes — then every slice is re-assigned and the
    * per-(subspace, code) quantization error reported. avg_dist2 is
    * the number a PQ deployment watches: it bounds the inner-product
    * error of compressed-domain ANN, and a code whose distortion is
    * an outlier marks a subspace that needs more codes.
    *
    * Scale shape: the slice fan-out is a narrow ×m projection of the
    * scan; BOTH assignment passes are broadcast joins on `sub`
    * (codebook is m×k rows); per-row d2 floors to a scaled BIGINT
    * before the final rollup, so the distortion sums are
    * order-independent and the whole audit is two broadcast-assign
    * scans plus two (m×k×subDim)-row aggregations — no corpus-sized
    * shuffle anywhere. */
  def pqAudit(embs: DataFrame, m: Int = 4, subDim: Int = 16, k: Int = 8)
      : DataFrame = {
    val sliced = embs
      .select(col("vec_id"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"), col("embedding"))
      .select(col("vec_id"), col("sub"),
        slice(col("embedding"), col("sub") * subDim + 1, lit(subDim))
          .as("v"))
    pqDistortion(sliced, k)
  }

  /** The trained-codebook distortion pipeline shared by [[pqAudit]]
    * (contiguous slices) and [[pqAuditBalanced]] (variance-permuted
    * slices): seed from the lowest-id vectors, one Lloyd round with
    * the scaled-BIGINT mean recompute, re-assign, report per-(sub,
    * code) quantization error. */
  private def pqDistortion(sliced: DataFrame, k: Int): DataFrame = {
    val seeds = sliced.filter(col("vec_id") < k)
      .select(col("sub"), col("vec_id").cast("long").as("code"),
        col("v").as("c_v"))
    val means = assignPq(sliced, seeds)
      .select(col("sub"), col("code"),
        posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("sub", "code", "dim")
      .agg(sum(floor(col("x").cast("double") * 1e6).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .groupBy("sub", "code")
      .agg(transform(
        array_sort(collect_list(struct(col("dim"),
          (col("s").cast("double") / col("n") / 1e6).cast("float")
            .as("mv")))),
        e => e.getField("mv")).as("c_v"))
    assignPq(sliced, means)
      .withColumn("d2s", floor(col("d2") * 1e6).cast("long"))
      .groupBy("sub", "code")
      .agg(count(lit(1)).as("n"), sum(col("d2s")).as("distortion_scaled"))
      .withColumn("avg_dist2",
        col("distortion_scaled").cast("double") / col("n") / 1e6)
      .select(col("sub").cast("long").as("sub"), col("code"), col("n"),
        col("distortion_scaled"), col("avg_dist2"))
      .orderBy("sub", "code")
  }

  /** Variance-balanced dimension→subspace assignment (the OPQ-lite
    * permutation): dims ranked by exact scaled-integer variance
    * (n·Σx² − (Σx)² over floor(x·1e6) BIGINTs, ridden as
    * DECIMAL(38,0) so a 1e9-row corpus can't overflow), then
    * snake-dealt across the `m` subspaces — rank 0..m−1 forward,
    * m..2m−1 backward — so every subspace gets one dim from each
    * variance stratum. The data-dependent rotation of full OPQ
    * (Ge et al., CVPR'13) needs an SVD no oracle can re-derive; the
    * permutation variant is the published first-order fix for the
    * same failure (contiguous slices concentrating all the variance
    * in one subspace) and is exactly reproducible. Returns
    * (dim, sub). */
  def dimAssignment(embs: DataFrame, m: Int = 4): DataFrame = {
    val big = DecimalType(38, 0)
    val moments = embs
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim"), floor(col("x").cast("double") * 1e6)
        .cast("long").as("xs"))
      .groupBy("dim")
      .agg(count(lit(1)).cast(big).as("n"),
        sum(col("xs")).cast(big).as("s1"),
        sum((col("xs").cast(big) * col("xs"))).as("s2"))
      .select(col("dim"),
        (col("n") * col("s2") - col("s1") * col("s1")).as("var_s"))
    moments
      .withColumn("r", row_number().over(
        Window.orderBy(col("var_s").desc, col("dim"))) - 1)
      .select(col("dim"),
        when(((col("r") / m).cast("int") % 2) === 0, col("r") % m)
          .otherwise(lit(m - 1) - col("r") % m).as("sub"))
  }

  /** PQ distortion audit over the variance-balanced permutation:
    * [[dimAssignment]]'s snake deal replaces [[pqAudit]]'s contiguous
    * slices, then the identical codebook-train/assign/report pipeline
    * runs — so the two gated reports are directly comparable and the
    * delta IS the value of the permutation. The dim→sub map is a
    * dim-count frame (64 rows): it collapses to one array row per
    * subspace and rides the same broadcast the codebook does; the
    * corpus-side gather is a narrow ×m projection, no new exchange
    * anywhere. The rank window runs over DIMS (embedding width), not
    * rows — single-task by construction, same adjudication as the
    * water-filling frames. */
  def pqAuditBalanced(embs: DataFrame, m: Int = 4, k: Int = 8)
      : DataFrame = {
    val idx = dimAssignment(embs, m)
      .groupBy("sub")
      .agg(array_sort(collect_list(col("dim"))).as("dims"))
    val sliced = embs
      .crossJoin(broadcast(idx))
      .select(col("vec_id"), col("sub"),
        transform(col("dims"),
          i => element_at(col("embedding"), i + 1)).as("v"))
    pqDistortion(sliced, k)
  }

  /** ⌈d/64⌉-word packed sign bits of the embedding column — shared
    * by [[binaryQuantAudit]] and [[binaryRerank]]. */
  private def packedSignBits = expr(
    """transform(sequence(0, (size(embedding) + 63) div 64 - 1),
      |  g -> aggregate(
      |    sequence(g * 64, least(g * 64 + 63, size(embedding) - 1)),
      |    0L,
      |    (acc, i) -> IF(element_at(embedding, CAST(i + 1 AS INT)) > 0,
      |      acc | shiftleft(1L, CAST(i - g * 64 AS INT)), acc)))"""
      .stripMargin)

  private def hammingWords = expr(
    """aggregate(zip_with(q_bits, bits,
      |  (a, b) -> bit_count(a ^ b)), 0, (x, y) -> x + y)""".stripMargin)
    .cast("long")

  /** 1-bit (sign) quantization audit: pack each embedding's sign
    * bits into ⌈d/64⌉ BIGINT words (×256 smaller than raw floats at
    * d=64 — the cheapest rerank-tier compression there is) and score
    * a bounded query panel: Hamming top-k recall against the exact
    * cosine top-k, the Hamming mass of the true top-k, and the
    * panel-wide minimum Hamming distance. The packed scan is the
    * 100 TB read path — XOR + bit_count per word via codegen'd
    * builtins, the raw floats never leave the exact-side columns —
    * and the audit tells a deployment whether sign bits alone carry
    * enough of the neighborhood structure to prune before exact
    * rerank.
    *
    * Scale shape: queries are a bounded panel (broadcast); the
    * corpus scans once, packs narrowly, and only (query, neighbor,
    * hamming, cos) tuples reach the per-query rank windows — the
    * [[bruteForceTopK]] exact-baseline contract. */
  def binaryQuantAudit(embs: DataFrame, queries: DataFrame, k: Int = 10)
      : DataFrame = {
    val scored = binaryScored(embs, queries)
    scored.groupBy("query_id")
      .agg(
        coalesce(sum(when(col("rank_exact") <= k && col("rank_ham") <= k,
          1L)), lit(0L)).cast("long").as("recall_at_k"),
        coalesce(sum(when(col("rank_exact") <= k, col("hamming"))),
          lit(0L)).cast("long").as("hamming_sum_exact_topk"),
        min("hamming").cast("long").as("min_hamming"))
  }

  /** Matryoshka prefix-dimension audit (Kusupati et al. 2022 MRL):
    * how much of the FULL-dimension exact top-k does a PREFIX of the
    * embedding recover? Serving stacks truncate matryoshka-trained
    * vectors to d/2 or d/4 for the first-stage scan and rerank with
    * full vectors; this audit is the number that says whether the
    * truncation is safe for THIS corpus — per query: overlap@k
    * between the d-dim and prefix-dim exact top-k, and whether the
    * top-1 survives. All-integer verdict columns (the doubles stay
    * inside the two rank windows).
    *
    * Scale shape: two [[bruteForceTopK]]-pattern scans (the honest
    * exact baseline — swap the prefix scan for any ANN tier), both
    * broadcasting the bounded query panel so the corpus never
    * shuffles; the per-query overlap is a join of two k-row frames
    * keyed by (query, neighbor). Prefix cosine uses slice() — zero
    * extra storage, the whole point of matryoshka layouts. */
  def matryoshkaAudit(embs: DataFrame, queries: DataFrame,
                      prefixDims: Int = 32, k: Int = 10): DataFrame = {
    val full = bruteForceTopK(embs, queries, k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
    val pq = queries.select(col("vec_id").as("query_id"),
      slice(col("embedding"), 1, prefixDims).as("q_emb"))
    val pcand = embs.select(col("vec_id").as("neighbor_id"),
      slice(col("embedding"), 1, prefixDims).as("embedding"))
    val prefix = pcand
      .join(broadcast(pq), col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_sim",
        GraftFunctions.cosine_sim(col("q_emb"), col("embedding")))
      .withColumn("p_rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("cos_sim").desc, col("neighbor_id"))))
      .filter(col("p_rank") <= k)
      .select(col("query_id"), col("p_rank"), col("neighbor_id"))
    full.join(prefix, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).cast("long").as("k_full"),
        coalesce(sum(when(col("p_rank").isNotNull, 1L)), lit(0L))
          .cast("long").as("n_overlap"),
        coalesce(max(when(col("rank") === 1 && col("p_rank") === 1, 1L)),
          lit(0L)).cast("long").as("top1_match"))
      .select(col("query_id"), col("k_full"), col("n_overlap"),
        expr("n_overlap * 1000000 div k_full").as("recall_ppm"),
        col("top1_match"))
  }

  /** Maximal-Marginal-Relevance rerank (Carbonell & Goldstein,
    * SIGIR'98): greedily pick the candidate maximizing
    * λ·rel − (1−λ)·max-sim-to-already-picked — the diversity-aware
    * top-k every retrieval stack bolts onto its ANN tier so five
    * near-duplicate neighbors don't fill the whole result page.
    * λ = 1/2 (exact binary double); rel = cosine to the query,
    * redundancy = cosine among candidates — all doubles both engines
    * reproduce bit-for-bit, ties break to the lower neighbor id.
    * NOTE on the emitted score: the seed pick (pos = 1) reports
    * λ·rel, NOT the plain rel classic MMR prints for the seed — it
    * has no redundancy term by definition, so λ-scaling it keeps
    * every row on the same λ·rel − (1−λ)·maxSim scale. Selection
    * order is identical either way; divide pos 1 by λ to recover
    * the textbook seed score when comparing across engines.
    *
    * Scale shape: the expensive part is candidate generation (the
    * [[bruteForceTopK]] scan — swap in any ANN tier); the greedy
    * itself runs over a BOUNDED (panel × pool) frame
    * localCheckpointed once, so the k unrolled selection steps are
    * window ops over ≤ panel·pool rows each — no corpus re-scan per
    * step, no driver loop over data. The k sequential steps are
    * MMR's definition (each pick conditions on all previous). */
  def mmrRerank(embs: DataFrame, queries: DataFrame, pool: Int = 16,
                k: Int = 5, lambda: Double = 0.5,
                driverBudget: Long = DriverCutoff.budgetBytes)
      : DataFrame = {
    val withEmbLazy = bruteForceTopK(embs, queries, pool)
      .join(embs.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_emb")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("cos_sim")
        .as("rel"), col("c_emb"))
    // size-adaptive driver GREEDY ([[DriverCutoff]]): candidate
    // generation stays the distributed brute-force scan in BOTH
    // paths (that is the corpus-touching contract); the k-step
    // selection runs over the bounded panel×pool frame, and its k−1
    // unrolled join+window+checkpoint steps cost ~25 driver jobs at
    // sf0.1 (profiled: search_mmr 33 jobs). Below the byte budget
    // the greedy replays driver-side: kernel ([[Kernels.cosine]]) pairwise
    // cosines, the same λ·rel − (1−λ)·maxSim IEEE sequence, (score
    // desc, id asc) picks. Byte-equal (Round13Spec). Above the
    // budget the unrolled distributed steps run UNCHANGED.
    val poolBytes = {
      val nQ = queries.count()
      val dim = embs.select(col("embedding")).limit(1).collect()
        .headOption.map(_.getSeq[Float](0).length).getOrElse(0)
      nQ * pool * (24L + 4L * dim)
    }
    if (poolBytes <= driverBudget) {
      import scala.collection.mutable
      val rowsArr = withEmbLazy.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), embAt(r, 3)))
      val out = mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
      rowsArr.groupBy(_._1).foreach { case (qid, cands0) =>
        val cands = cands0.map { case (_, id, rel, emb) => (id, rel, emb) }
        if (cands.nonEmpty) {
          val firstPick = cands.reduceLeft { (x, y) =>
            val c = java.lang.Double.compare(x._2, y._2)
            if (c > 0 || (c == 0 && x._1 < y._1)) x else y
          }
          val selected = mutable.ArrayBuffer[(Long, ArrayData)](
            (firstPick._1, firstPick._3))
          out += ((qid, 1L, firstPick._1, firstPick._2 * lambda))
          for (pos <- 2 to k) {
            val unpicked = cands.filter(c =>
              !selected.exists(_._1 == c._1))
            if (unpicked.nonEmpty) {
              val scored = unpicked.map { case (id, rel, emb) =>
                // max over the selected set of the pairwise kernel
                // cosine — commutative double max, same value as the
                // distributed max_sim aggregate
                var maxSim = Double.NegativeInfinity
                selected.foreach { case (_, sEmb) =>
                  val s = Kernels.cosine(emb, sEmb)
                  if (s > maxSim) maxSim = s
                }
                (id, rel * lambda - maxSim * (1 - lambda))
              }
              val pick = scored.reduceLeft { (x, y) =>
                val c = java.lang.Double.compare(x._2, y._2)
                if (c > 0 || (c == 0 && x._1 < y._1)) x else y
              }
              val pEmb = cands.find(_._1 == pick._1).get._3
              selected += ((pick._1, pEmb))
              out += ((qid, pos.toLong, pick._1, pick._2))
            }
          }
        }
      }
      return DriverCutoff.twinFrame(embs.sparkSession, out.toSeq,
        "query_id", "pos", "neighbor_id", "mmr_score")
    }
    val withEmb = withEmbLazy.localCheckpoint()
    val sims = withEmb.as("a")
      .join(withEmb.as("b"),
        col("a.query_id") === col("b.query_id") &&
          col("a.neighbor_id") =!= col("b.neighbor_id"))
      .select(col("a.query_id").as("query_id"),
        col("a.neighbor_id").as("i"), col("b.neighbor_id").as("j"),
        GraftFunctions.cosine_sim(col("a.c_emb"), col("b.c_emb"))
          .as("sim"))
      .localCheckpoint()
    val first = withEmb
      .withColumn("rn", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("rel").desc, col("neighbor_id"))))
      .filter(col("rn") === 1)
      .select(col("query_id"), lit(1L).as("pos"), col("neighbor_id"),
        (col("rel") * lambda).as("mmr_score"))
    var selected = first
    for (pos <- 2 to k) {
      val simsR = sims.withColumnRenamed("query_id", "sq")
      val ms = withEmb
        .join(selected.select(col("query_id"),
          col("neighbor_id").as("s_id")), Seq("query_id"))
        .filter(col("neighbor_id") =!= col("s_id"))
        .join(simsR, col("query_id") === col("sq") &&
          col("neighbor_id") === col("i") && col("s_id") === col("j"))
        .groupBy(col("query_id"), col("neighbor_id"), col("rel"))
        .agg(count(lit(1)).as("n_sel"), max("sim").as("max_sim"))
        .filter(col("n_sel") === (pos - 1)) // drops already-picked
        .select(col("query_id"), col("neighbor_id"),
          (col("rel") * lambda - col("max_sim") * (1 - lambda))
            .as("score"))
      val pick = ms
        .withColumn("rn", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("score").desc, col("neighbor_id"))))
        .filter(col("rn") === 1)
        .select(col("query_id"), lit(pos.toLong).as("pos"),
          col("neighbor_id"), col("score").as("mmr_score"))
      selected = selected.unionByName(pick).localCheckpoint()
    }
    selected
  }

  /** Greedy k-center (farthest-point) selection: starting from the
    * lowest-id vector, repeatedly add the point whose distance to
    * the selected set is LARGEST — the classic coreset / diverse-
    * subset primitive for training-data curation (2-approximation of
    * the optimal k-center cover), and the principled seeding most
    * k-means deployments should use instead of first-k. Output is
    * the selection order with each pick's covering radius — the
    * SQUARED L2 min-distance that made it farthest (l2_argmin's d2,
    * floor-scaled to a BIGINT and named `radius2_scaled` to say so)
    * — the radius² sequence is the coverage curve a curation run
    * reads to choose k (monotone in the true radius, so the elbow is
    * the same; take sqrt for metric units).
    *
    * Scale shape: k bounded passes over the corpus; each pass is a
    * NARROW broadcast-argmin against the ≤k selected vectors (the
    * [[assignPq]] kernel — min distance falls out of l2_argmin's
    * struct) followed by a TakeOrderedAndProject(1) — the corpus
    * never shuffles, and the driver holds exactly k rows. The k
    * sequential passes are the algorithm's DEFINITION (each pick
    * depends on all previous); parallel variants trade the
    * approximation bound away. */
  def kcenterSelect(embs: DataFrame, k: Int = 16,
                    driverCutoff: Long = DriverCutoff.budgetBytes)
      : DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    // measured r12: checkpointing this projection to spare the k
    // re-scans ran 1.66 → 2.03 s at sf0.1 — the corpus scan is not
    // the cost, the k sequential argmax driver jobs are; below the
    // byte budget the whole greedy selection runs driver-side with
    // the IDENTICAL distance arithmetic (float→double per-dim diff,
    // ascending-dim accumulation — the same expression the
    // l2_argmin kernel evaluates), max by (d2 DESC, vec_id) with
    // java.lang.Double ordering, floor(d2·1e6) radii. Byte-equal;
    // Round12Spec pins the boundary. Above the budget the k-pass
    // broadcast-argmax scan runs unchanged (the 100 TB shape).
    collectEmbsUnder(embs, driverCutoff) match {
      case Some(collected) =>
        // the dimension is the first collected row's, as the size probe
        val dim = collected.headOption.map(_._2.numElements()).getOrElse(0)
        val vecs = collected.sortBy(_._1)
        val picks =
          scala.collection.mutable.ArrayBuffer[(Long, Long, Option[Long])]()
        if (vecs.nonEmpty) {
          val selected = scala.collection.mutable.Set[Long](vecs.head._1)
          picks += ((1L, vecs.head._1, None))
          var newest = vecs.head._2
          val minD2 = Array.fill(vecs.length)(Double.PositiveInfinity)
          var rank = 2
          while (rank <= k && selected.size < vecs.length) {
            var bestIdx = -1
            var i = 0
            while (i < vecs.length) {
              // distance to the NEWEST center only; min with the
              // stored min-over-previous — same value as the full
              // min the kernel recomputes (exact double min)
              val v = vecs(i)._2
              var d2 = 0.0
              var j = 0
              while (j < dim) {
                val d = v.getFloat(j).toDouble - newest.getFloat(j).toDouble
                d2 += d * d
                j += 1
              }
              if (d2 < minD2(i)) minD2(i) = d2
              if (!selected.contains(vecs(i)._1) &&
                  (bestIdx < 0 ||
                    java.lang.Double.compare(minD2(i), minD2(bestIdx)) > 0))
                bestIdx = i // ties keep the earlier (smaller) vec_id
              i += 1
            }
            val (id, v) = vecs(bestIdx)
            selected += id
            picks += ((rank.toLong, id,
              Some(math.floor(minD2(bestIdx) * 1e6).toLong)))
            newest = v
            rank += 1
          }
        }
        return picks.toSeq.toDF("rank", "vec_id", "radius2_scaled")
      case None => ()
    }
    val corpus = embs.select(col("vec_id"), col("embedding"))
    // headOption, not head: an empty corpus returns the empty
    // selection; a corpus smaller than k returns the partial one
    val seedOpt = corpus.orderBy("vec_id").limit(1)
      .collect().headOption
    val picks = scala.collection.mutable.ArrayBuffer[(Long, Long, Option[Long])]()
    seedOpt.foreach { seed =>
      var selected = Vector[(Long, Array[Float])](
        (seed.getLong(0), seed.getSeq[Float](1).toArray))
      picks += ((1L, selected.head._1, None))
      var exhausted = false
      for (rank <- 2 to k if !exhausted) {
        val selFrame = selected.map { case (id, v) => (id, v) }
          .toDF("code", "c_v")
          .groupBy()
          .agg(array_sort(collect_list(struct(col("code"), col("c_v"))))
            .as("cb"))
        corpus
          .filter(!col("vec_id").isInCollection(selected.map(_._1)))
          .crossJoin(broadcast(selFrame))
          .withColumn("m",
            graft.functions.GraftFunctions
              .l2_argmin(col("embedding"), col("cb")).getField("d2"))
          .orderBy(col("m").desc, col("vec_id"))
          .limit(1)
          .collect().headOption match {
          case Some(far) =>
            selected :+= ((far.getLong(0), far.getSeq[Float](1).toArray))
            picks += ((rank.toLong, far.getLong(0),
              Some(math.floor(far.getDouble(3) * 1e6).toLong)))
          case None => exhausted = true // corpus < k: partial selection
        }
      }
    }
    picks.toSeq
      .toDF("rank", "vec_id", "radius2_scaled")
  }

  /** The shared scored candidate frame: broadcast query panel ×
    * corpus with exact cosine, packed-word Hamming, and both rank
    * windows. */
  private def binaryScored(embs: DataFrame, queries: DataFrame)
      : DataFrame = {
    val corpus = embs.select(col("vec_id").as("neighbor_id"),
      col("embedding"), packedSignBits.as("bits"))
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), packedSignBits.as("q_bits"))
    corpus
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_sim",
        GraftFunctions.cosine_sim(col("q_emb"), col("embedding")))
      .withColumn("hamming", hammingWords)
      .withColumn("rank_exact", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("cos_sim").desc, col("neighbor_id"))))
      .withColumn("rank_ham", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("hamming"), col("neighbor_id"))))
  }

  /** Two-stage retrieval: Hamming-prune to the `prune` nearest sign
    * patterns, exact-cosine rerank the survivors, emit the top `k`
    * with an `in_exact_topk` flag per row (sum per query = recall —
    * the audit rides the result instead of replacing it). This is
    * the production use of [[binaryQuantAudit]]'s measurement: the
    * 1-bit tier reads 1/256th of the bytes to kill 1−prune/n of the
    * corpus, and only the pruned survivors ever touch raw floats —
    * at 100 TB that is the difference between scanning embeddings
    * and scanning sign words. Ranking is fully deterministic
    * (hamming asc, id; then cos desc, id), so the emitted rows are
    * engine-reproducible even where the prune boundary ties. */
  def binaryRerank(embs: DataFrame, queries: DataFrame,
                   prune: Int = 32, k: Int = 10): DataFrame = {
    val scored = binaryScored(embs, queries)
    scored.filter(col("rank_ham") <= prune)
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("cos_sim").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cos_sim"),
        when(col("rank_exact") <= k, 1L).otherwise(0L)
          .cast("long").as("in_exact_topk"))
  }

  /** IVFADC search (Jégou et al., TPAMI'11 §IV): the production-scale
    * composition of the two index halves this module already trains —
    * IVF coarse pruning ([[ivfTopK]]'s probe) over PQ
    * compressed-domain scoring ([[pqAudit]]'s codebook), encoded on
    * RESIDUALS (vector − its coarse centroid), which is what makes
    * the 8-code-per-subspace budget usable: residuals concentrate
    * near 0, so the same codebook spends its codes on the part of
    * the vector the coarse quantizer didn't explain.
    *
    * Memory contract at 100 TB: the searched representation is
    * m log₂(kCodes) bits per vector (4 bytes here vs 256 for the raw
    * floats — ×64); candidate scoring never touches `embedding`,
    * only (sub, code) pairs joined against the per-query ADC
    * lookup table.
    *
    * Determinism: per-(probe, sub, code) squared distances floor to
    * 1e6-scaled BIGINTs and the per-candidate ADC score is their
    * integer SUM over subspaces — order-independent, so the ranking
    * (asc score, id tie-break) gates hash-exactly. Residual floats
    * are CAST(double − double AS FLOAT): exact-rounded identically
    * in both engines.
    *
    * Scale shape: coarse assignment + residual encode are narrow
    * broadcast-join scans (no corpus exchange); the codebook train
    * is [[pqAudit]]'s one Lloyd round (two broadcast-assign scans +
    * (m×kCodes×subDim)-row reductions); the ADC table is
    * queries×nprobe×m×kCodes rows built broadcast-side; candidate
    * scoring joins the (centroid_id, vec_id, sub, code) postings
    * against the broadcast ADC table and integer-sums m rows per
    * candidate — the only corpus-sized exchange is that final
    * (query, vec) rollup, already pruned to nprobe lists. The
    * build recomputes the coarse-assignment scan once per consumer
    * branch here (narrow, zero-shuffle); a deployment persists the
    * encoded postings instead — [[ivfWriteIndex]]'s layout with
    * (sub, code) columns — and pays the scan once at build time.
    * Residual/ADC HOF lambdas run on m-slice or ADC-table-sized
    * frames only; the corpus-sized argmin rides the codegen
    * [[GraftFunctions.l2_argmin]] kernel. */
  def ivfPqTopK(embs: DataFrame, queries: DataFrame, nlist: Int = 16,
                nprobe: Int = 4, m: Int = 4, subDim: Int = 16,
                kCodes: Int = 8, k: Int = 5): DataFrame = {
    val (cents, means, postings) = ivfPqBuild(embs, nlist, m, subDim, kCodes)
    ivfPqScore(postings,
      ivfPqAdcTable(queries, cents, means, nprobe, m, subDim), k)
  }

  private val resSubSql =
    "z -> CAST(CAST(z.%s AS DOUBLE) - CAST(z.c_emb AS DOUBLE) AS FLOAT)"

  /** Train the IVFADC index halves and encode the corpus: seed coarse
    * centroids, one PQ Lloyd round on residual slices, postings =
    * (vec_id, sub, code, centroid_id). All narrow broadcast-join
    * scans; the codebook localCheckpoints (m×kCodes rows) so encode
    * and ADC consumers don't re-train it. */
  private[graft] def ivfPqBuild(embs: DataFrame, nlist: Int, m: Int,
                                subDim: Int, kCodes: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val cents = embs.filter(col("vec_id") < nlist)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))
    val sliced = ivfPqSlices(embs, cents, m, subDim)
    // PQ codebook: one Lloyd round on residual slices, lowest-id seeds
    val seeds = sliced.filter(col("vec_id") < kCodes)
      .select(col("sub"), col("vec_id").cast("long").as("code"),
        col("v").as("c_v"))
    val means = assignPq(sliced, seeds)
      .select(col("sub"), col("code"),
        posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("sub", "code", "dim")
      .agg(sum(floor(col("x").cast("double") * 1e6).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .groupBy("sub", "code")
      .agg(transform(
        array_sort(collect_list(struct(col("dim"),
          (col("s").cast("double") / col("n") / 1e6).cast("float")
            .as("mv")))),
        e => e.getField("mv")).as("c_v"))
      .localCheckpoint() // m x kCodes rows; reused by encode AND ADC
    (cents, means, ivfPqEncode(embs, cents, means, m, subDim))
  }

  /** Residual slice frame (vec_id, centroid_id, sub, v): narrow
    * argmax coarse assignment → CAST(double−double AS FLOAT)
    * residual → ×m slice fan-out. No corpus exchange. */
  private def ivfPqSlices(vecs: DataFrame, cents: DataFrame, m: Int,
                          subDim: Int): DataFrame =
    assignCentroids(vecs, cents)
      .join(broadcast(cents), "centroid_id")
      .withColumn("res", expr("transform(arrays_zip(embedding, c_emb), " +
        resSubSql.format("embedding") + ")"))
      .select(col("vec_id"), col("centroid_id"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"), col("res"))
      .select(col("vec_id"), col("centroid_id"), col("sub"),
        slice(col("res"), col("sub") * subDim + 1, lit(subDim)).as("v"))

  /** Encode vectors against FROZEN centroids + codebook → postings
    * (vec_id, sub, code, centroid_id). The upsert/ingest primitive:
    * O(batch) narrow scans, nothing corpus-sized. */
  private[graft] def ivfPqEncode(vecs: DataFrame, cents: DataFrame,
                                 means: DataFrame, m: Int = 4,
                                 subDim: Int = 16): DataFrame = {
    val sliced = ivfPqSlices(vecs, cents, m, subDim)
    assignPq(sliced, means)
      .select("vec_id", "sub", "code")
      // sub==0 slice = one (vec, centroid) row per vector, shuffle-free
      .join(sliced.filter(col("sub") === 0)
        .select("vec_id", "centroid_id"), "vec_id")
  }

  /** Per-query ADC lookup table (query_id, centroid_id, sub, code,
    * d2s): top-nprobe coarse probes, per-probe residual slices,
    * 1e6-floored scaled-BIGINT distances to every codebook entry —
    * queries×nprobe×m×kCodes rows, built entirely broadcast-side. */
  private[graft] def ivfPqAdcTable(queries: DataFrame, cents: DataFrame,
                                   means: DataFrame, nprobe: Int,
                                   m: Int, subDim: Int): DataFrame = {
    val qprobes = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .crossJoin(broadcast(cents))
      .withColumn("c_sim",
        GraftFunctions.cosine_sim(col("q_emb"), col("c_emb")))
      .withColumn("probe_rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("c_sim").desc, col("centroid_id"))))
      .filter(col("probe_rank") <= nprobe)
      .select(col("query_id"), col("q_emb"), col("centroid_id"),
        col("c_emb"))
    qprobes
      .withColumn("qres", expr("transform(arrays_zip(q_emb, c_emb), " +
        resSubSql.format("q_emb") + ")"))
      .select(col("query_id"), col("centroid_id"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"), col("qres"))
      .select(col("query_id"), col("centroid_id"), col("sub"),
        slice(col("qres"), col("sub") * subDim + 1, lit(subDim)).as("qv"))
      .join(broadcast(means), "sub")
      .withColumn("d2", expr(
        "aggregate(zip_with(qv, c_v, (x, y) -> " +
          "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * " +
          "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), " +
          "CAST(0.0 AS DOUBLE), (acc, e) -> acc + e)"))
      .select(col("query_id"), col("centroid_id"), col("sub"), col("code"),
        floor(col("d2") * 1e6).cast("long").as("d2s"))
  }

  /** ADC candidate scoring: postings ⋈ broadcast ADC table on
    * (centroid_id, sub, code), integer-sum the m per-sub distances
    * per candidate, rank asc (id tie-break). The (query, vec) rollup
    * over the nprobe-pruned lists is the only corpus-sized exchange
    * in the whole search. */
  private[graft] def ivfPqScore(postings: DataFrame, adc: DataFrame,
                                k: Int): DataFrame =
    postings.join(broadcast(adc), Seq("centroid_id", "sub", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum("d2s").as("adc_d2_scaled"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("adc_d2_scaled").asc, col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("adc_d2_scaled"),
        (col("adc_d2_scaled").cast("double") / 1e6).as("adc_d2"))

  /** Persist the IVFADC index: postings partitioned BY centroid_id
    * (each inverted list = one partition dir, [[ivfWriteIndex]]'s
    * layout with (sub, code) instead of raw vectors — the ×64
    * smaller searched representation), plus the centroid table and
    * the PQ codebook. Pays coarse training + codebook + encode once;
    * every probe afterwards scans only its nprobe directories. */
  def ivfPqWriteIndex(embs: DataFrame, dir: String, nlist: Int = 16,
                      m: Int = 4, subDim: Int = 16, kCodes: Int = 8)
      : Unit = {
    val (cents, means, postings) = ivfPqBuild(embs, nlist, m, subDim, kCodes)
    postings.write.mode("overwrite").partitionBy("centroid_id")
      .parquet(dir + "/postings")
    cents.write.mode("overwrite").parquet(dir + "/centroids")
    means.write.mode("overwrite").parquet(dir + "/codebook")
  }

  /** Incremental IVFADC maintenance: encode a NEW batch against the
    * index's FROZEN centroids + codebook and append to the touched
    * posting dirs — O(batch), untouched lists keep their files
    * byte-identical ([[ivfUpsertIndex]]'s contract). Quantizers
    * deliberately do not move (re-training shifts every stored
    * code); after drift — watched via [[pqAudit]]'s distortion —
    * rebuild with [[ivfPqWriteIndex]]. Probe-after-upsert ≡ scoring
    * a from-scratch encode of old∪new over the same frozen
    * quantizers (spec-asserted). */
  def ivfPqUpsertIndex(spark: org.apache.spark.sql.SparkSession,
                       dir: String, newVecs: DataFrame, m: Int = 4,
                       subDim: Int = 16): Unit = {
    val cents = spark.read.parquet(dir + "/centroids")
    val means = spark.read.parquet(dir + "/codebook")
    ivfPqEncode(newVecs, cents, means, m, subDim)
      .write.mode("append").partitionBy("centroid_id")
      .parquet(dir + "/postings")
  }

  /** Probe the persisted IVFADC index: ADC table from the read-back
    * centroids/codebook, then ONLY the nprobe posting directories
    * are listed and scanned (PartitionFilters prune at the file
    * index, [[ivfProbeIndex]]'s disk contract — asserted in spec).
    * Results identical to [[ivfPqTopK]] with the same build
    * parameters (spec-asserted). */
  def ivfPqProbeIndex(spark: org.apache.spark.sql.SparkSession,
                      dir: String, queries: DataFrame, nprobe: Int = 4,
                      k: Int = 5, m: Int = 4, subDim: Int = 16)
      : DataFrame = {
    val cents = spark.read.parquet(dir + "/centroids")
    val means = spark.read.parquet(dir + "/codebook")
    val adc = ivfPqAdcTable(queries, cents, means, nprobe, m, subDim)
      .localCheckpoint() // tiny; also feeds the probe-id collect
    val probeIds = adc.select("centroid_id").distinct()
      .collect().map(_.getLong(0))
    val postings = spark.read.parquet(dir + "/postings")
      // filter the raw inferred-int partition attribute FIRST (a
      // cast above the filter can block PartitionFilters)
      .filter(col("centroid_id").isin(probeIds.map(_.toInt): _*))
      .withColumn("centroid_id", col("centroid_id").cast("long"))
    ivfPqScore(postings, adc, k)
  }

  /** Pairwise-cosine geometry histogram — the anisotropy audit next
    * to [[abttCorrect]]: the distribution of cos(a, b) over random
    * vector pairs (mean ≫ 0 ⇒ the anisotropic cone LLM embeddings
    * are known for; post-ABTT it should re-center). Pairs come from
    * TWO independent md5-deterministic samples (salts "ca:"/"cb:",
    * 1/`mod` each), so the pair fan-out is (n/mod)² by construction
    * — never an in-corpus self-join — and reproducible without an
    * RNG. Buckets are fixed-width over [−1, 1]; the per-bucket
    * cosine mass is emitted as floor-scaled ppm integers (sum of
    * floor(cos·10⁶) — exact BIGINT once each cosine double is
    * engine-identical, which the shared eval order guarantees, the
    * ann_bruteforce contract). */
  def cosineHistogram(embs: DataFrame, mod: Int = 64, nb: Int = 20)
      : DataFrame = {
    def side(salt: String) = embs
      .filter(expr("CAST(conv(substr(md5(concat('" + salt +
        "', CAST(vec_id AS STRING))), 1, 15), 16, 10) AS BIGINT) " +
        s"% $mod = 0"))
      .select(col("vec_id"), col("embedding"))
    val pairs = side("ca:").as("a")
      .join(side("cb:").as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(GraftFunctions.cosine_sim(col("a.embedding"),
        col("b.embedding")).as("cos"))
    pairs
      .select(least(lit(nb - 1).cast("long"),
          floor((col("cos") + 1.0) * nb / 2.0)).as("bucket"),
        floor(col("cos") * 1e6).cast("long").as("cos_ppm"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"),
        sum("cos_ppm").as("sum_cos_ppm"))
  }
}
