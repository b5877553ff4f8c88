package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Deduplication operators for the training-data pipeline.
  *
  * Scale design: none of the near-dup paths ever forms an O(n^2)
  * cross product. Candidate generation is always "shuffle by a
  * bucket key, pair within bucket":
  *  - MinHash-LSH: band-hash buckets (b bands of r rows; catches
  *    Jaccard >= ~(1/b)^(1/r) with high prob).
  *  - SimHash: c equal-width chunk keys, c > maxHamming (pigeonhole:
  *    hamming<=maxHamming pairs share at least one chunk).
  *  - Embeddings: random-hyperplane bucket key.
  * Over-full buckets (degenerate content): AQE skew splitting
  * re-sizes tasks, and ALL THREE near-dup paths additionally CAP
  * the per-bucket pair fan-out (star emission against the bucket
  * representative past `maxBucket` — AQE cannot bound the pair
  * OUTPUT of a hot bucket, only task sizing; connectivity for
  * downstream clustering survives through the rep).
  */
object Dedup {
  /** Lowercased whitespace tokens. */
  private def toks(c: Column): Column = split(lower(c), " ")

  /** 3-token shingles of a token array (empty if < 3 tokens).
    * Single-pass codegen expression — see Kernels.shingles for why
    * the compose-first HOF form is quadratic after CollapseProject. */
  private def shingles(t: Column): Column = GraftFunctions.text_shingles(t, 3)

  /** Exact dedup: group by content hash, keep the lowest doc_id. */
  def exact(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(lower(trim(col("text")))).as("content_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))

  /** MinHash + LSH near-duplicate pairs with exact n-gram-Jaccard
    * verification of the candidates — with the [[embeddingNearDup]]
    * BUCKET-SIZE GUARD on the band-bucket pair join.
    *
    * A band bucket of m members emits m²/2 candidate rows; a
    * boilerplate-heavy corpus (mirrored crawls, templated pages) can
    * collapse millions of docs into one bucket and the in-bucket
    * pair join goes quadratic in OUTPUT — AQE skew-split re-sizes
    * tasks but cannot bound the pair fan-out. Buckets larger than
    * `maxBucket` therefore switch from all-pairs to STAR emission
    * against the bucket's representative (lowest doc_id), bounding
    * fan-out at O(m). Star pairs still pass the exact Jaccard
    * verify, so connectivity through the rep is preserved only for
    * members within `threshold` of the rep — an over-cap member
    * dissimilar to the rep loses every pair from that bucket (it can
    * still connect via its other bands). Pairwise enumeration inside
    * over-cap buckets is explicitly traded away; a clustering-only
    * consumer that wants unconditional connectivity should consume
    * the pre-verify star edges instead. The bucket-stats join shuffles on
    * the same (band, bh) key as the pair join — co-partitioned, no
    * extra exchange pattern, and never a forced broadcast (bucket
    * count grows with the corpus). The default cap is far above any
    * honest bucket (a band bucket's size ≈ the near-dup cluster
    * size; measured max 3 at sf0.01, 4 at sf0.1), so the
    * oracle-gated output is recall-complete/unchanged; it exists for
    * the degenerate corpus.
    *
    * @param bands LSH bands; @param rows rows per band (k = bands*rows)
    * @param threshold exact Jaccard cutoff applied to candidates
    * @param maxBucket per-(band,bucket) membership above which pair
    *   emission degrades from all-pairs to star
    */
  def minhashLsh(docs: DataFrame, bands: Int = 16, rows: Int = 4,
                 threshold: Double = 0.5, auditable: Boolean = false,
                 maxBucket: Int = 1024): DataFrame =
    minhashLshFrom(shingleFrame(docs), bands, rows, threshold,
      auditable, maxBucket)

  /** FrameCache-shared [[minhashLsh]] pair frame: the default
    * auditable pair set is re-derived by dedup_minhash_lsh,
    * dedup_union_cluster and dedup_report, and the threshold-0
    * candidate set by dedup_threshold_sweep / dedup_est_audit /
    * dedup_recall_audit — each a full tokenize + band + verify pass.
    * The OUTPUT pair frame is thin (ids + jaccard); [[minhashLsh]]
    * itself stays lazy for the PlanSpec no-cartesian gate. */
  def minhashLshShared(docs: DataFrame, bands: Int = 16, rows: Int = 4,
                       threshold: Double = 0.5,
                       auditable: Boolean = false,
                       maxBucket: Int = 1024): DataFrame =
    FrameCache.cached(docs.sparkSession,
      s"mhl:${FrameCache.planKey(docs)}:$bands:$rows:$threshold:" +
        s"$auditable:$maxBucket") {
      minhashLsh(docs, bands, rows, threshold, auditable, maxBucket)
        .localCheckpoint()
    }

  /** [[minhashLsh]] over a pre-derived (doc_id, sh) shingle frame —
    * the shared-scan entry the union composite uses so the corpus is
    * tokenized/shingled ONCE across pair families instead of per
    * family (at 100 TB each re-derivation is a full corpus scan). */
  def minhashLshFrom(shFrame: DataFrame, bands: Int = 16, rows: Int = 4,
                     threshold: Double = 0.5, auditable: Boolean = false,
                     maxBucket: Int = 1024): DataFrame = {
    require(maxBucket > 1, "maxBucket must be > 1")
    // candidate generation on (band, bucket-hash, id) ONLY — the
    // shingle arrays must NOT ride through the explode/shuffle/join
    // (at 100 TB that multiplies the payload bands-x); they are
    // re-joined just for the final verify over the (tiny) candidate
    // pair set. Band keys come from the single-pass codegen kernel.
    // auditable = md5 family (cross-engine reproducible buckets; the
    // oracle-gate family); default = xxhash64 throughput family.
    val buckets = bandBuckets(shFrame, bands, rows, auditable)
    val bstats = buckets.groupBy("band", "bh")
      .agg(count(lit(1)).as("bsize"), min("doc_id").as("rep"))
    val annotated = buckets.join(bstats, Seq("band", "bh"))
    val small = annotated.filter(col("bsize") <= maxBucket)
    val pairsAll = small
      .select(col("band"), col("bh"), col("doc_id").as("doc1"))
      .join(small.select(col("band"), col("bh"), col("doc_id").as("doc2")),
        Seq("band", "bh"))
      .filter(col("doc1") < col("doc2"))
      .select("doc1", "doc2")
    val pairsStar = annotated.filter(col("bsize") > maxBucket)
      .filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc1"), col("doc_id").as("doc2"))
    val pairs = pairsAll.unionByName(pairsStar).distinct()
    val sets = shFrame.filter(size(col("sh")) > 0)
    pairs
      .join(sets.select(col("doc_id").as("doc1"), col("sh").as("sh1")), "doc1")
      .join(sets.select(col("doc_id").as("doc2"), col("sh").as("sh2")), "doc2")
      .withColumn("jaccard",
        size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2"))))
      .filter(col("jaccard") >= threshold)
      .select("doc1", "doc2", "jaccard")
  }

  /** (doc_id, sh) raw 3-gram shingle frame — the single-family
    * derivation [[minhashLsh]] wraps around [[minhashLshFrom]]. */
  private def shingleFrame(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), shingles(toks(col("text"))).as("sh"))

  /** MinHash estimator-quality audit — the dedup-side parallel of
    * the ANN recall audit: over the SAME candidate pairs the
    * production LSH surfaces, compare the k-component signature
    * estimate of Jaccard (matching components / k — the unbiased
    * MinHash estimator) against the exact shingle-set Jaccard, and
    * roll the absolute error into deci-Jaccard buckets. This is the
    * number that justifies trusting the sketch before skipping the
    * exact verify at 100 TB: mass at bucket 0–1 says the k=64
    * signature ranks pairs faithfully; mass in high buckets says
    * raise k before relying on estimate-only admission.
    *
    * The estimate counts EQUALITY of per-component band keys at
    * rows=1 (md5-injective images of the component minima — equal
    * iff the minima are equal), so the oracle re-derives the same
    * count from the raw md5-family minima it already computes for
    * the LSH gate. All-integer ppm arithmetic end to end.
    *
    * Plan: pairs come from the capped candidate generator
    * ([[minhashLsh]] at threshold 0 — the audit population is what
    * LSH admits, including sub-threshold near-misses); signatures
    * and distinct-shingle sets join onto that tiny pair set, never
    * the corpus; the per-pair component comparison is a 64-element
    * array fold. Output is ≤ 11 rows. */
  def minhashEstAudit(docs: DataFrame, k: Int = 64): DataFrame = {
    val cand = minhashLshShared(docs, threshold = 0.0, auditable = true)
      .select("doc1", "doc2")
    val feats = docs
      .select(col("doc_id"),
        array_distinct(shingles(toks(col("text")))).as("ds"),
        GraftFunctions.md5_minhash_bands(
          shingles(toks(col("text"))), k, 1).as("sig"))
      .filter(size(col("ds")) > 0)
    cand
      .join(feats.select(col("doc_id").as("doc1"), col("ds").as("ds1"),
        col("sig").as("sig1")), "doc1")
      .join(feats.select(col("doc_id").as("doc2"), col("ds").as("ds2"),
        col("sig").as("sig2")), "doc2")
      .withColumn("matches", expr(
        "size(filter(zip_with(sig1, sig2, (x, y) -> x = y), b -> b))")
        .cast("long"))
      .withColumn("inter",
        size(array_intersect(col("ds1"), col("ds2"))).cast("long"))
      .withColumn("est_ppm", expr(s"matches * 1000000 div $k"))
      .withColumn("exact_ppm", expr(
        "inter * 1000000 div (size(ds1) + size(ds2) - inter)"))
      .groupBy(expr("abs(est_ppm - exact_ppm) div 100000")
        .cast("long").as("err_decile"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Near-dup threshold-sensitivity sweep: over the SAME capped LSH
    * candidate population the production dedup surfaces (threshold
    * 0 — every pair any band admits), band the exact shingle-set
    * Jaccard into deci-bands and report, per band b: the pair count
    * in [b/10, (b+1)/10), the cumulative pairs at or above b/10
    * (what a threshold of b/10 would flag), and the cumulative
    * count of documents whose BEST pair reaches b/10 (how many docs
    * a threshold touches at all). This is the curve an operator
    * reads before committing a dedup threshold to a 100 TB run —
    * the cost of re-running the full dedup per candidate threshold,
    * collapsed into one pass.
    *
    * All-integer ppm arithmetic (j_ppm = inter·1e6 div union), so
    * the banding is bit-identical on any engine.
    *
    * Plan: candidates come from the capped generator ([[minhashLsh]]
    * — star-degradation caps bound the pair set); distinct-shingle
    * sets join onto the tiny pair set only; the per-doc best pair is
    * a partial-aggregable max; both cumulative sums run on the fixed
    * 11-row band frame (the documented bounded-frame window class).
    * Output is exactly 11 rows at any corpus size. */
  def thresholdSweep(docs: DataFrame): DataFrame = {
    val cand = minhashLshShared(docs, threshold = 0.0, auditable = true)
      .select("doc1", "doc2")
    val sets = docs
      .select(col("doc_id"),
        array_distinct(shingles(toks(col("text")))).as("ds"))
      .filter(size(col("ds")) > 0)
    val scored = cand
      .join(sets.select(col("doc_id").as("doc1"), col("ds").as("ds1")),
        "doc1")
      .join(sets.select(col("doc_id").as("doc2"), col("ds").as("ds2")),
        "doc2")
      .withColumn("inter",
        size(array_intersect(col("ds1"), col("ds2"))).cast("long"))
      .select(col("doc1"), col("doc2"), expr(
        "inter * 1000000 div (size(ds1) + size(ds2) - inter)")
        .cast("long").as("j_ppm"))
      .localCheckpoint()
    val perBand = scored
      .groupBy(expr("j_ppm div 100000").cast("long").as("band"))
      .agg(count(lit(1)).as("n_pairs"))
    val docBest = scored.select(col("doc1").as("doc_id"), col("j_ppm"))
      .unionByName(scored.select(col("doc2").as("doc_id"), col("j_ppm")))
      .groupBy("doc_id").agg(max("j_ppm").as("mx"))
      .groupBy(expr("mx div 100000").cast("long").as("band"))
      .agg(count(lit(1)).as("n_docs_best"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("band").desc)
      .rowsBetween(Long.MinValue, 0)
    docs.sparkSession.range(0, 11).select(col("id").as("band"))
      .join(perBand, Seq("band"), "left")
      .join(docBest, Seq("band"), "left")
      .na.fill(0L, Seq("n_pairs", "n_docs_best"))
      .withColumn("cum_pairs", sum("n_pairs").over(w).cast("long"))
      .withColumn("cum_docs_affected",
        sum("n_docs_best").over(w).cast("long"))
      .select("band", "n_pairs", "cum_pairs", "cum_docs_affected")
  }

  /** LSH recall audit — the dedup twin of the ANN recall audit: per
    * Jaccard deci-band at or above `threshold`, how many of the
    * EXACT near-dup pairs does the banded MinHash candidate
    * generation surface? The exact reference is the corpus-wide
    * inverted-index pair set (posting self-join on md5-hashed
    * shingles — only pairs sharing a shingle materialize, and a pair
    * at Jaccard ≥ 0.5 shares plenty); the LSH side is the SAME
    * capped candidate generator production dedup uses. Banded
    * recall is the number that justifies the (bands × rows) choice:
    * the S-curve predicts recall rising toward 1 with Jaccard, and
    * this measures it on the real corpus.
    *
    * Scale contract: the exact side is inherently heavier than LSH
    * (that is WHY LSH exists), so at 100 TB the audit runs over an
    * md5-deterministic document sample (`sampleMod` keeps 1/mod of
    * the corpus; 1 = everything at gate SF) — recall estimated on a
    * sample of the pair universe, same contract as the ANN recall
    * audit's query sample. All-integer ppm; ≤ 6 output rows. */
  def recallAudit(docs: DataFrame, threshold: Double = 0.5,
                  sampleMod: Int = 1): DataFrame = {
    // sampleMod = 1 admits every doc — skip the tautological md5
    // filter so the gated run scans nothing extra AND shares the
    // threshold-0 candidate frame with sweep/est-audit (same plan
    // identity). Any other modulus keeps the documented sample.
    val sample = if (sampleMod == 1) docs else docs.filter(expr(
      s"CAST(conv(substr(md5(CAST(doc_id AS string)), 1, 7), 16, 10) " +
        s"AS BIGINT) % $sampleMod = 0"))
    val sh = sample
      .select(col("doc_id"),
        array_distinct(shingles(toks(col("text")))).as("ds"))
      .filter(size(col("ds")) > 0)
    // THIN frames checkpointed (8–16 bytes/row — not the fat ds
    // arrays): counts feeds two joins and posting both self-join
    // sides, and each use re-paid the tokenize + shingle + per-
    // shingle md5 scan (measured: 4.06 → 2.42 s at sf0.1 together
    // with the shared-candidate change)
    val counts = sh.select(col("doc_id"),
      size(col("ds")).cast("long").as("n_sh")).localCheckpoint()
    val posting = sh
      .select(col("doc_id"), explode(col("ds")).as("s"))
      .select(col("doc_id"), expr(
        "CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT)").as("h"))
      .localCheckpoint()
    val thresholdPpm = math.floor(threshold * 1000000).toLong
    val exact = posting.select(col("h"), col("doc_id").as("doc1"))
      .join(posting.select(col("h"), col("doc_id").as("doc2")), Seq("h"))
      .filter(col("doc1") < col("doc2"))
      .groupBy("doc1", "doc2").agg(count(lit(1)).as("n_common"))
      .join(counts.withColumnsRenamed(
        Map("doc_id" -> "doc1", "n_sh" -> "n1")), "doc1")
      .join(counts.withColumnsRenamed(
        Map("doc_id" -> "doc2", "n_sh" -> "n2")), "doc2")
      .select(col("doc1"), col("doc2"),
        expr("n_common * 1000000 div (n1 + n2 - n_common)")
          .cast("long").as("j_ppm"))
      .filter(col("j_ppm") >= thresholdPpm)
    val cand = minhashLshShared(sample, threshold = 0.0, auditable = true)
      .select(col("doc1"), col("doc2"), lit(1L).as("found"))
    exact.join(cand, Seq("doc1", "doc2"), "left")
      .groupBy(expr("j_ppm div 100000").cast("long").as("band"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("found"), lit(0L))).cast("long").as("n_found"))
      .select(col("band"), col("n_exact"), col("n_found"),
        (col("n_exact") - col("n_found")).as("missed"),
        expr("n_found * 1000000 div n_exact").cast("long")
          .as("recall_ppm"))
  }

  /** ONE-scan shared feature frame: raw shingles (minhash buckets +
    * Jaccard verify), simhash signature, and the SNM blocking key,
    * all derived from a single tokenize pass; pairs with the `*From`
    * family entries ([[minhashLshFrom]]/[[simhashFrom]]/
    * [[sortedNeighborhoodFrom]]) when a consumer ALREADY persists
    * these features (a feature store, the minhash index layout).
    *
    * Measured caveat for ad-hoc composites: materializing this full
    * frame to share it is NOT a win — at sf10 the 3-family union
    * ran 143 s off a persisted full frame vs 70 s re-deriving per
    * family vs 67 s sharing only the signature column. Building the
    * columnar cache of per-doc shingle-string arrays (an
    * intermediate FATTER than the corpus) costs more than the
    * tokenize scans it saves; the 8-byte/doc `sig` column is the
    * only feature cheap enough to cache ad hoc. The gated composite
    * therefore persists `select(doc_id, sig)` only. */
  def pairFeatures(docs: DataFrame, auditable: Boolean = false,
                   keyLen: Int = 24): DataFrame = {
    val t = toks(col("text"))
    val sig = if (auditable) GraftFunctions.md5_simhash60(t)
              else GraftFunctions.simhash64(t)
    docs.select(col("doc_id"), shingles(t).as("sh"), sig.as("sig"),
      substring(lower(trim(col("text"))), 1, keyLen).as("bkey"))
  }

  /** SimHash near-dup pairs: 64-bit simhash (custom codegen
    * expression), candidate join on chunk equality, exact hamming
    * verify via bit_count(xor).
    *
    * Recall guarantee (pigeonhole): a pair at hamming distance d
    * shares at least one of c chunks iff d < c, so the chunk count
    * is derived from `maxHamming` (4 chunks of 16 bits for d<=3,
    * 8x8 for d<=7, 16x4 for d<=15). maxHamming must be < 16.
    *
    * Selectivity warning: bucket-key cardinality is 2^(64/c), so
    * candidate volume grows as c x n^2 / 2^(64/c) — at 4-bit chunks
    * (maxHamming 8..15) buckets have only 16 distinct values and
    * candidate generation degenerates toward quadratic. For corpora
    * at scale keep maxHamming <= 3 (the radius the published 64-bit
    * simhash dedup design targets, cf. Manku et al. WWW'07); larger
    * radii need a longer signature, not more chunks.
    *
    * Bucket-size guard: like [[minhashLsh]], chunk buckets larger
    * than `maxBucket` (a near-constant corpus collapsing into one
    * chunk value) degrade from all-pairs to STAR emission against
    * the bucket's lowest-doc_id representative — O(m) fan-out;
    * star pairs still pass the exact hamming verify, so
    * connectivity through the rep holds only for members within
    * `maxHamming` of the rep (others may reconnect via their
    * remaining chunks); pairwise enumeration inside over-cap
    * buckets traded away. Unlike the
    * minhash band buckets (measured max 4 at sf0.1 — bounded by
    * dup-cluster size), simhash chunk buckets GROW with the corpus:
    * a 16-bit chunk has only 65k values, so buckets saturate toward
    * n/65k (measured 27 at sf0.01, 269 at sf0.1 ⇒ ~2.7k at sf1).
    * The 4096 default therefore keeps every gate/validation SF
    * (≤ sf1) recall-complete and unchanged while capping the
    * ~27k-member buckets a sf10-scale corpus would produce (27k²/2 ≈
    * 364M pair rows from ONE bucket) — past that scale, dropping to
    * star emission is the documented design point, and radius-exact
    * recall needs a longer signature (more chunk values), not an
    * uncapped join. */
  def simhash(docs: DataFrame, maxHamming: Int = 3,
              auditable: Boolean = false,
              maxBucket: Int = 4096): DataFrame = {
    val sigExpr =
      if (auditable) GraftFunctions.md5_simhash60(toks(col("text")))
      else GraftFunctions.simhash64(toks(col("text")))
    simhashFrom(docs.select(col("doc_id"), sigExpr.as("sig")),
      maxHamming, auditable, maxBucket)
  }

  /** [[simhash]] over a pre-derived (doc_id, sig) signature frame —
    * the shared-scan entry for the union composite ([[minhashLshFrom]]
    * contract: the corpus is tokenized once, per-family derivations
    * ride the shared frame). `auditable` must match the family the
    * signatures were derived with (it fixes the chunk geometry). */
  def simhashFrom(sigs: DataFrame, maxHamming: Int = 3,
                  auditable: Boolean = false,
                  maxBucket: Int = 4096): DataFrame = {
    require(maxBucket > 1, "maxBucket must be > 1")
    require(maxHamming < 16,
      s"maxHamming=$maxHamming: 4-bit chunks only guarantee recall to 15")
    require(!auditable || maxHamming < 4,
      "the auditable (md5/60-bit) family divides into 4 chunks of 15 " +
        "bits — recall is guaranteed for maxHamming <= 3 only (the " +
        "Manku WWW'07 design point); larger radii need the 64-bit family")
    val sigBits = if (auditable) 60 else 64
    val numChunks = if (maxHamming < 4) 4 else if (maxHamming < 8) 8 else 16
    val width = sigBits / numChunks
    val mask = (1L << width) - 1
    val chunkStructs = (0 until numChunks).map { c =>
      struct(lit(c).as("chunk_id"),
        shiftrightunsigned(col("sig"), c * width).bitwiseAND(lit(mask))
          .as("chunk"))
    }
    val chunks = sigs.select(col("doc_id"), col("sig"),
      explode(array(chunkStructs: _*)).as("ck"))
      .select(col("doc_id"), col("sig"), col("ck.chunk_id"), col("ck.chunk"))
    // bucket stats shuffle on the same (chunk_id, chunk) key as the
    // pair join (co-partitioned); never broadcast — bucket count
    // grows with the corpus
    val bstats = chunks.groupBy("chunk_id", "chunk")
      .agg(count(lit(1)).as("bsize"),
        min_by(struct(col("doc_id"), col("sig")), col("doc_id")).as("rep"))
    val annotated = chunks.join(bstats, Seq("chunk_id", "chunk"))
    val small = annotated.filter(col("bsize") <= maxBucket)
    val l = small.select(col("chunk_id"), col("chunk"),
      col("doc_id").as("doc1"), col("sig").as("sig1"))
    val r = small.select(col("chunk_id"), col("chunk"),
      col("doc_id").as("doc2"), col("sig").as("sig2"))
    val pairsAll = l.join(r, Seq("chunk_id", "chunk"))
      .filter(col("doc1") < col("doc2"))
      .select(col("doc1"), col("doc2"), col("sig1"), col("sig2"))
    // rep has the bucket-minimal doc_id, so doc1 < doc2 holds by
    // construction on the star side
    val pairsStar = annotated.filter(col("bsize") > maxBucket)
      .filter(col("doc_id") =!= col("rep.doc_id"))
      .select(col("rep.doc_id").as("doc1"), col("doc_id").as("doc2"),
        col("rep.sig").as("sig1"), col("sig").as("sig2"))
    pairsAll.unionByName(pairsStar)
      .select(col("doc1"), col("doc2"),
        bit_count(col("sig1").bitwiseXOR(col("sig2"))).cast("long")
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** (band, bucket-hash, doc_id) LSH posting rows for a corpus —
    * the candidate-generation frame [[minhashLsh]] self-joins and
    * [[minhashWriteIndex]] persists. Band keys from the single-pass
    * codegen kernel; md5 family when auditable. */
  private def bandBuckets(shFrame: DataFrame, bands: Int, rows: Int,
                          auditable: Boolean): DataFrame = {
    val bandKeys =
      if (auditable) GraftFunctions.md5_minhash_bands(col("sh"), bands, rows)
      else GraftFunctions.minhash_bands(col("sh"), bands, rows)
    shFrame
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), posexplode(bandKeys))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bh"))
  }

  /** Persist a MinHash-LSH index: the posting table (band, bh,
    * doc_id) plus the per-doc shingle sets the verify step needs —
    * the text-dedup mirror of [[Similarity.ivfWriteIndex]]. Pays the
    * corpus tokenize/shingle/signature cost ONCE; every future
    * ingest batch probes it for O(batch) instead of re-deriving the
    * corpus ([[minhashProbeIndex]]). Production layout note: bucket
    * the postings by `bh` (Sinks.bucketedTable) to make the probe
    * join exchange-free on the corpus side; the directory form here
    * keeps the index self-contained like the IVF one, and the probe
    * stays corpus-shuffle-free anyway because the batch side
    * broadcasts. */
  def minhashWriteIndex(docs: DataFrame, dir: String, bands: Int = 16,
                        rows: Int = 4, auditable: Boolean = false): Unit = {
    // RANGE-CLUSTERED layouts (the Sinks.clusteredParquet contract):
    // postings sorted by (band, bh) and sets by doc_id, so every
    // file covers a disjoint key slice and parquet row-group min/max
    // stats skip whole files for the indexed probe's pushed-down key
    // lists — the lever that makes per-wave admission O(wave-matched
    // files), not O(corpus scan), at 100 TB index sizes.
    bandBuckets(shingleFrame(docs), bands, rows, auditable)
      .repartitionByRange(32, col("band"), col("bh"))
      .sortWithinPartitions("band", "bh")
      .write.mode("overwrite").parquet(dir + "/postings")
    docs.select(col("doc_id"), shingles(toks(col("text"))).as("sh"))
      .filter(size(col("sh")) > 0)
      .repartitionByRange(32, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(dir + "/sets")
  }

  /** Append a new batch to a persisted MinHash index (same contract
    * as [[Similarity.ivfUpsertIndex]]: O(batch) work, existing files
    * untouched). Callers dedup the batch against the index FIRST
    * ([[minhashProbeIndex]]) and upsert only admitted docs. */
  def minhashUpsertIndex(docs: DataFrame, dir: String, bands: Int = 16,
                         rows: Int = 4, auditable: Boolean = false): Unit = {
    // appended files sort within themselves, so their row-group
    // stats stay selective even though batches interleave key ranges
    bandBuckets(shingleFrame(docs), bands, rows, auditable)
      .sortWithinPartitions("band", "bh")
      .write.mode("append").parquet(dir + "/postings")
    docs.select(col("doc_id"), shingles(toks(col("text"))).as("sh"))
      .filter(size(col("sh")) > 0)
      .sortWithinPartitions("doc_id")
      .write.mode("append").parquet(dir + "/sets")
  }

  /** Probe a persisted MinHash index with an ingest batch: emits the
    * (corpus doc1, batch doc2, jaccard ≥ threshold) near-dup pairs
    * WITHOUT re-deriving anything corpus-sized. The batch's band
    * keys ride a broadcast into the posting scan (the corpus never
    * shuffles — plan-asserted in SurfaceSpec), matched candidates
    * collapse to distinct (corpus, batch) id pairs, and the exact
    * Jaccard verify joins each side's shingle sets by doc id. Batch-
    * INTERNAL dups are [[minhashLsh]] on the batch itself — this op
    * is the batch-vs-corpus half of ingest admission. */
  def minhashProbeIndex(spark: org.apache.spark.sql.SparkSession,
                        dir: String, batch: DataFrame,
                        threshold: Double = 0.5, bands: Int = 16,
                        rows: Int = 4, auditable: Boolean = false)
      : DataFrame = {
    val probes = bandBuckets(shingleFrame(batch), bands, rows, auditable)
      .select(col("band"), col("bh"), col("doc_id").as("doc2"))
    val cand = spark.read.parquet(dir + "/postings")
      .join(broadcast(probes), Seq("band", "bh"))
      .select(col("doc_id").as("doc1"), col("doc2")).distinct()
    val corpusSets = spark.read.parquet(dir + "/sets")
      .select(col("doc_id").as("doc1"), col("sh").as("sh1"))
    val batchSets = batch
      .select(col("doc_id"), shingles(toks(col("text"))).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id").as("doc2"), col("sh").as("sh2"))
    cand.join(corpusSets, "doc1")
      .join(broadcast(batchSets), "doc2")
      .withColumn("jaccard",
        size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2"))))
      .filter(col("jaccard") >= threshold)
      .select("doc1", "doc2", "jaccard")
  }

  /** Indexed (file-skipping) admission verdict for ONE ingest wave —
    * the per-trigger production path behind streaming admission at
    * 100 TB index sizes. The plain stream-static form
    * ([[graft.streaming.ReactiveStreams.minhashAdmitStream]]) never
    * SHUFFLES the index but still SCANS it per trigger — measured
    * per-trigger cost grows with the corpus (steady mean 4.029 s →
    * 4.508 s on a 10× index, ADMIT_PROBE_r11.json). This form makes
    * the trigger O(wave): the wave's band keys and the matched
    * candidate ids —
    * both bounded by the wave (waveSize·bands keys) — collect to the
    * driver and push into the index scans as LITERAL `isin` filters,
    * which parquet row-group min/max stats turn into whole-file
    * skips against the range-clustered layout [[minhashWriteIndex]]
    * writes. `pushdownCap` guards the driver, and the guard guards
    * the COLLECT, not just the plan choice: each id set is fetched
    * via ONE `limit(cap+1).collect()` action (incremental
    * executeTake — no full count job), so the driver never
    * materializes more than cap+1 ids even when a
    * boilerplate-heavy wave hitting a hot bucket blows the
    * candidate set past any wave bound. Past the cap the scans run
    * UNFILTERED — the pre-filter is redundant there: a semi-join
    * cannot skip parquet files (only literal min/max predicates
    * can), so it cuts exactly the rows the downstream
    * probes/candidate joins cut anyway while paying an extra
    * exchange of the corpus side (measured: the r11 un-hinted
    * semi-join fallback turned SMJ at a corpus-proportional wave
    * and cost +2 s at sf10), and a broadcast-hinted one builds the
    * unbounded id set as a hash relation ON THE DRIVER (hints
    * bypass autoBroadcastJoinThreshold) — the OOM the cap exists
    * to prevent. The default cap sits at 4096: an `isin` of ~100k
    * literals bloats analysis and exceeds what parquet row-group
    * pruning evaluates usefully.
    * Output is one verdict row per shingle-bearing wave doc:
    * (doc_id, n_dup, best_j_scaled, admitted) — identical to the
    * streaming twin's rollup and spec-asserted ≡ the batch probe. */
  def minhashAdmitIndexed(spark: org.apache.spark.sql.SparkSession,
                          dir: String, wave: DataFrame,
                          threshold: Double = 0.5, bands: Int = 16,
                          rows: Int = 4, auditable: Boolean = false,
                          pushdownCap: Int = 4096): DataFrame = {
    val sh = wave
      .select(col("doc_id"), shingles(toks(col("text"))).as("sh"))
      .filter(size(col("sh")) > 0)
      .localCheckpoint()
    val probes = bandBuckets(sh, bands, rows, auditable)
      .select(col("band"), col("bh"), col("doc_id").as("doc2"))
      .localCheckpoint()
    // wave-bounded key set (waveSize * bands values) — one
    // limit(cap+1).collect() action: the driver sees at most cap+1
    // ids, and an over-cap set never fully materializes there
    val bhKeys = probes.select("bh").distinct()
    val postings0 = spark.read.parquet(dir + "/postings")
    val bhArr = bhKeys.limit(pushdownCap + 1).collect()
    val postings =
      if (bhArr.length <= pushdownCap)
        postings0.filter(col("bh").isin(
          bhArr.map(_.getLong(0)).toSeq: _*))
      else postings0 // unfiltered: the probes join filters below
    val cand = postings
      .join(broadcast(probes), Seq("band", "bh"))
      .select(col("doc_id").as("doc1"), col("doc2")).distinct()
      .localCheckpoint()
    // candidate ids are bucket-occupancy-bounded, NOT wave-bounded:
    // same capped take; past the cap the sets scan keeps a PLAIN
    // (un-hinted) left-semi pre-filter — unlike the postings side
    // it earns its keep (sets rows are WIDE shingle arrays, and an
    // id set under autoBroadcastJoinThreshold semi-joins broadcast,
    // cutting the sets shuffle before the cand join; un-hinted, the
    // planner never builds an over-threshold relation on the
    // driver, so the hot-bucket exposure is gone either way)
    val doc1Keys = cand.select("doc1").distinct()
    val sets0 = spark.read.parquet(dir + "/sets")
      .select(col("doc_id").as("doc1"), col("sh").as("sh1"))
    val doc1Arr = doc1Keys.limit(pushdownCap + 1).collect()
    val corpusSets =
      if (doc1Arr.length <= pushdownCap)
        sets0.filter(col("doc1").isin(
          doc1Arr.map(_.getLong(0)).toSeq: _*))
      else sets0.join(doc1Keys, Seq("doc1"), "left_semi")
    val verdicts = cand
      .join(corpusSets, "doc1")
      .join(broadcast(sh.select(col("doc_id").as("doc2"),
        col("sh").as("sh2"))), "doc2")
      .withColumn("j",
        size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2"))))
      .groupBy(col("doc2"))
      .agg(coalesce(sum(when(col("j") >= threshold, 1L)), lit(0L))
          .as("n_dup"),
        coalesce(max(when(col("j") >= threshold,
          floor(col("j") * 1e6).cast("long"))), lit(-1L))
          .as("best_j_scaled"))
    sh.select(col("doc_id"))
      .join(verdicts.withColumnRenamed("doc2", "doc_id"),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        coalesce(col("best_j_scaled"), lit(-1L)).as("best_j_scaled"),
        (coalesce(col("n_dup"), lit(0L)) === 0L).as("admitted"))
  }

  /** SEMANTIC (embedding-space) streaming-admission batch probe —
    * [[minhashAdmitIndexed]]'s twin on the persisted IVF index
    * ([[graft.operators.Similarity.ivfWriteIndex]]'s layout:
    * centroid table + postings PARTITIONED BY centroid_id): each
    * wave vector probes its top-`nprobe` centroids, ONLY those
    * posting directories are listed and scanned (the probe-id
    * `isin` is a PartitionFilter — whole-directory skips, the disk
    * twin of "probe nprobe of nlist lists"), and the verdict is the
    * [[embeddingNearDup]] threshold over the probed candidates: a
    * wave vector with any corpus neighbor at cosine ≥ `minCosine`
    * among its probed lists is a semantic duplicate. This is the
    * production ingest gate for embedding dedup at 100 TB — the
    * index is a prior artifact, per-wave cost is
    * O(wave × probed partitions), never O(corpus).
    *
    * Approximation contract (same as every IVF consumer): recall is
    * bounded by the probed lists — a true neighbor assigned to an
    * unprobed centroid is missed; `nprobe` is the recall/cost lever
    * and [[graft.operators.Similarity.recallAudit]] the monitor.
    * The probe-set collect is nwave×nprobe INDEX IDS (a lookup key,
    * not data). Each corpus vector lives in exactly ONE posting
    * partition, so candidate pairs are unique by construction — no
    * dedup step. Output: one verdict row per wave vector —
    * (vec_id, n_dup, best_cos_scaled, admitted), best_cos_scaled =
    * floor(cos·10⁶) over verified dups, −1 when none (the
    * [[minhashAdmitIndexed]] verdict shape). */
  def embeddingAdmitIndexed(spark: org.apache.spark.sql.SparkSession,
                            dir: String, wave: DataFrame,
                            minCosine: Double = 0.95,
                            nprobe: Int = 4): DataFrame = {
    val q = wave.select(col("vec_id"), col("embedding"))
      .localCheckpoint()
    val cents = spark.read.parquet(dir + "/centroids")
    val qprobes = q.crossJoin(broadcast(cents))
      .withColumn("c_sim", GraftFunctions.cosine_sim(
        col("embedding"), col("c_emb")))
      .withColumn("pr", row_number().over(
        Window.partitionBy("vec_id")
          .orderBy(col("c_sim").desc, col("centroid_id"))))
      .filter(col("pr") <= nprobe)
      .select(col("vec_id").as("qid"), col("embedding").as("q_emb"),
        col("centroid_id").cast("long").as("centroid_id"))
      .localCheckpoint()
    val probeIds = qprobes.select("centroid_id").distinct()
      .collect().map(_.getLong(0))
    val verdicts = spark.read.parquet(dir + "/postings")
      // filter the raw inferred-int partition attribute FIRST (a
      // cast above the filter can block PartitionFilters), then
      // normalize to the long the probe side carries
      .filter(col("centroid_id").isin(probeIds.map(_.toInt): _*))
      .withColumn("centroid_id", col("centroid_id").cast("long"))
      .join(broadcast(qprobes), Seq("centroid_id"))
      .withColumn("cos", GraftFunctions.cosine_sim(
        col("q_emb"), col("embedding")))
      .groupBy(col("qid"))
      .agg(coalesce(sum(when(col("cos") >= minCosine, 1L)), lit(0L))
          .as("n_dup"),
        coalesce(max(when(col("cos") >= minCosine,
          floor(col("cos") * 1e6).cast("long"))), lit(-1L))
          .as("best_cos_scaled"))
    q.select(col("vec_id"))
      .join(verdicts.withColumnRenamed("qid", "vec_id"),
        Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        coalesce(col("best_cos_scaled"), lit(-1L)).as("best_cos_scaled"),
        (coalesce(col("n_dup"), lit(0L)) === 0L).as("admitted"))
  }

  /** FrameCache-shared near-dup cluster labels over the exact
    * 3-gram Jaccard pair set — re-derived by FOUR gated keys
    * (dedup_cluster / keep_best / cluster_stats / canonical), each
    * of which used to pay the posting self-join AND the
    * connected-components pass. One labels frame per (dataset,
    * threshold); same values by determinism of both inputs. */
  def jaccardClusters(docs: DataFrame, minJaccard: Double = 0.2)
      : DataFrame =
    FrameCache.cached(docs.sparkSession,
      s"jcl:${FrameCache.planKey(docs)}:$minJaccard",
      keepOnlyLast = true) {
      connectedComponents(graft.operators.TextAnalysis
        .ngramJaccardShared(docs, minJaccard), docs)
        .localCheckpoint()
    }

  /** CANONICAL-SURVIVOR selection — the keep-best half of dedup
    * that [[connectedComponents]]' docstring promises (cluster_id ==
    * doc_id marks A canonical; production pipelines keep the BEST
    * member, not the min-id one): per near-dup cluster
    * ([[graft.operators.TextAnalysis.ngramJaccard]] pairs → CC), the
    * survivor is the member with the MOST tokens (near-dups differ
    * by truncation/boilerplate more than by content, so longest ≈
    * most complete), ties to the smallest doc_id — fully
    * deterministic under any partitioning via ONE grouped
    * max(struct(n_tok, −doc_id)) — no rank window, no second pass.
    * Output one row per cluster (singletons included: a clean doc
    * is its own survivor): (cluster_id, n_members, canon_tokens,
    * canonical_doc, n_dropped). Text never rides a shuffle — token
    * counts collapse per doc before the cluster join. */
  def canonicalSelection(docs: DataFrame,
                         minJaccard: Double = 0.2): DataFrame = {
    val clusters = jaccardClusters(docs, minJaccard)
    val toks = docs.select(col("doc_id"),
      size(split(lower(col("text")), " ")).cast("long").as("n_tok"))
    clusters.join(toks, "doc_id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("n_tok"), (-col("doc_id")).as("nid"))).as("m"))
      .select(col("cluster_id"), col("n_members"),
        col("m.n_tok").as("canon_tokens"),
        (-col("m.nid")).cast("long").as("canonical_doc"),
        (col("n_members") - 1L).as("n_dropped"))
  }

  /** Per-source dedup telemetry: the curation dashboard's first
    * page — for every source, how many documents are exact
    * duplicates (their normalized fingerprint occurs more than once
    * ANYWHERE in the corpus, not just in-source — cross-source
    * copying is the signal) and how many sit in at least one
    * near-dup pair (the auditable MinHash-LSH pair set, which
    * includes exact copies of any shingle-bearing (≥3-token) doc by
    * construction — near ⊇ exact above the shingle floor), with
    * exact ppm rates. Composes the existing
    * fingerprint rollup and LSH machinery: the corpus collapses to
    * (fingerprint, count) partials and (pair-id) frames before any
    * rollup — text never rides a shuffle; the per-source report is
    * |sources| rows. */
  def dedupReport(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    val fp = docs.select(col("doc_id"), col("source"),
      md5(lower(trim(col("text")))).as("fp"))
    val dupFps = fp.groupBy("fp").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).select("fp")
    val exactIds = fp.join(dupFps, "fp").select("doc_id")
    val pairs = minhashLshShared(docs, threshold = threshold,
      auditable = true)
    val nearIds = pairs.select(col("doc1").as("doc_id"))
      .unionByName(pairs.select(col("doc2").as("doc_id"))).distinct()
    docs.select(col("doc_id"), col("source"))
      .join(exactIds.withColumn("is_exact", lit(1L)), Seq("doc_id"), "left")
      .join(nearIds.withColumn("is_near", lit(1L)), Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_exact"), lit(0L))).as("n_exact_dup"),
        sum(coalesce(col("is_near"), lit(0L))).as("n_near_dup"))
      .select(col("source"), col("n_docs"), col("n_exact_dup"),
        col("n_near_dup"),
        expr("n_exact_dup * 1000000 div n_docs").as("exact_ppm"),
        expr("n_near_dup * 1000000 div n_docs").as("near_ppm"))
  }

  /** Sorted-neighborhood dedup (SNM, Hernández–Stolfo): the classic
    * NON-HASH blocking family next to MinHash/SimHash/embedding LSH
    * — sort the corpus by a cheap blocking key and compare each doc
    * only with its `window` successors in sort order, then verify
    * candidates with exact 3-gram Jaccard. Catches the near-dups a
    * hash family can miss when edits hit the hashed features but not
    * the sort key's prefix (and vice versa — production pipelines
    * run both and union the pair sets into connected components).
    *
    * Scale shape: candidates are O(n·window) BY CONSTRUCTION — no
    * bucket can degenerate, so this path needs no maxBucket guard.
    * The global sort rank is the two-level prefix-sum construction
    * (range repartition on (key, doc_id), per-partition row_number,
    * ≤`parts`-row offsets frame broadcast back) — no single-task
    * window at any corpus size; window pairs that CROSS partition
    * boundaries need no special casing because ranks are global and
    * the pair join keys on rank. Only (rank, doc_id) rides the pair
    * join; shingle arrays re-join by doc_id for the verify, exactly
    * like [[minhashLsh]]. Docs under 3 tokens have no 3-gram
    * identity and are excluded (same contract as every shingle
    * path). Blocking key = first `keyLen` chars of the normalized
    * text — deliberately simple and SQL-replicable; swap in a
    * domain key (title, URL path) in production. */
  def sortedNeighborhood(docs: DataFrame, window: Int = 5,
                         threshold: Double = 0.5, keyLen: Int = 24,
                         parts: Int = 32): DataFrame =
    sortedNeighborhoodFrom(docs
      // pre-filter on the TOKEN count: a 3-gram set is nonempty iff
      // the doc has >= 3 tokens (text_shingles emits len-2 windows),
      // so this is exactly From's size(sh) > 0 gate — but evaluable
      // without building the shingle arrays, which lets Catalyst
      // prune `sh` out of the rank branch entirely (r13; the rank
      // branch used to tokenize+shingle the corpus a second time
      // just to evaluate the emptiness filter)
      .filter(size(toks(col("text"))) >= 3)
      .select(col("doc_id"),
        array_distinct(shingles(toks(col("text")))).as("sh"),
        substring(lower(trim(col("text"))), 1, keyLen).as("bkey")),
      window, threshold, parts, assumeFiltered = true)

  /** [[sortedNeighborhood]] over a pre-derived (doc_id, sh, bkey)
    * frame — `sh` must be the DISTINCT shingle set (array_intersect
    * dedups, so the Jaccard size arithmetic is only exact over
    * distinct arrays) and `bkey` the blocking key. Shared-scan entry
    * for the union composite. */
  def sortedNeighborhoodFrom(keyedIn: DataFrame, window: Int = 5,
                             threshold: Double = 0.5,
                             parts: Int = 32,
                             assumeFiltered: Boolean = false)
      : DataFrame = {
    require(window >= 1, "window must be >= 1")
    // assumeFiltered: the caller guarantees sh-empty docs are already
    // excluded (sortedNeighborhood's token-count pre-filter) — the
    // generic gate would force shingle evaluation in the narrow rank
    // branch
    val keyed =
      if (assumeFiltered) keyedIn
      else keyedIn.filter(size(col("sh")) > 0)
    val parted = keyed.select(col("doc_id"), col("bkey"))
      .repartitionByRange(parts, col("bkey"), col("doc_id"))
      .withColumn("pid", spark_partition_id())
    val offsets = parted.groupBy("pid").agg(count(lit(1)).as("pn"))
      .withColumn("offset", coalesce(sum("pn").over(
        Window.orderBy("pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("pid", "offset")
    val ranked = parted.join(broadcast(offsets), "pid")
      .withColumn("r", col("offset") +
        row_number().over(Window.partitionBy("pid")
          .orderBy(col("bkey"), col("doc_id"))) - 1)
      .select("doc_id", "r")
    val pairs = ranked
      .select(col("doc_id").as("doc1"),
        explode(sequence(col("r") + 1, col("r") + window)).as("r"))
      .join(ranked.select(col("doc_id").as("doc2"), col("r")), "r")
      .select(col("doc1"), col("doc2"))
    val sets = keyed.select(col("doc_id"), col("sh"))
    pairs
      .join(sets.select(col("doc_id").as("doc1"), col("sh").as("sh1")), "doc1")
      .join(sets.select(col("doc_id").as("doc2"), col("sh").as("sh2")), "doc2")
      .withColumn("n_common",
        size(array_intersect(col("sh1"), col("sh2"))).cast("long"))
      .withColumn("jaccard", col("n_common").cast("double") /
        (size(col("sh1")) + size(col("sh2")) - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(least(col("doc1"), col("doc2")).as("doc1"),
        greatest(col("doc1"), col("doc2")).as("doc2"), col("jaccard"))
  }

  /** Connected components over a near-dup pair set: the step that
    * turns pairwise matches into dedup clusters (every doc gets the
    * min doc_id of its component as cluster id; cluster_id == doc_id
    * marks the canonical survivor).
    *
    * Min-label propagation WITH ADAPTIVE POINTER JUMPING: every
    * round propagates labels across the symmetric edge set and keeps
    * the per-node min; rounds past the first few ALSO replace every
    * node's label with its label's OWN label (path halving). Shallow
    * components — the near-dup norm — converge during the plain
    * rounds and never pay for the extra self-join; an adversarial
    * deep chain (a crawl of incrementally-edited pages), where plain
    * propagation needs diameter-many rounds, gets the jump step and
    * converges in O(log diameter) because the distance a minimum
    * travels roughly doubles per jumped round. Each round is one or
    * two node-id-keyed joins + one groupBy — a cluster deploy
    * co-partitions all of them; `localCheckpoint` truncates the
    * growing lineage. This is the documented-at-scale alternative to
    * a driver-side union-find, which would need the full edge set on
    * one machine.
    *
    * The iteration frame is labels over nodes that HAVE an edge —
    * O(matched docs), a sliver of the corpus at 100 TB; isolated
    * nodes re-attach as singleton clusters with one final left join.
    * The convergence check is an action per round by design —
    * iterative fixpoints are the one place the "no actions inside
    * operators" rule gives way; non-convergence within maxIter
    * throws (partial labels would silently corrupt clusters). */
  def connectedComponents(pairs: DataFrame, nodes: DataFrame,
                          maxIter: Int = 20,
                          driverCutoff: Long = DriverCutoff.pairRows)
      : DataFrame = {
    // ids normalize to long up front: the driver fast path reads
    // getLong and an int-typed caller would otherwise hit a
    // size-dependent ClassCastException only under the cutoff
    val edges = pairs.select(col("doc1").cast("long").as("a"),
        col("doc2").cast("long").as("b"))
      .unionByName(pairs.select(col("doc2").cast("long").as("a"),
        col("doc1").cast("long").as("b")))
      .localCheckpoint()
    // SIZE-ADAPTIVE execution: the edge count is known for free off
    // the checkpoint, and a near-dup pair set is orders of magnitude
    // smaller than its corpus — under the cutoff ([[DriverCutoff
    // .pairRows]] of 16-byte directed-edge rows, the shared 128 MiB
    // driver byte budget) the label-propagation loop
    // pays ~6 scheduled jobs × log(diameter) rounds of fixed latency
    // to do what a driver union-find does in milliseconds (measured
    // at sf10: 32.7 s loop vs 0.3 s union-find on 168 k pairs, the
    // whole dedup_union_cluster gap). Min-root union-find emits the
    // identical component-min labeling the converged loop emits, so
    // the outputs are byte-equal (spec-pinned); above the cutoff —
    // billions of pairs at 100 TB — the distributed path-halving
    // loop runs unchanged.
    DriverCutoff.collectUnder(edges, driverCutoff) match {
      case Some(rows) =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != c) {
            val nxt = parent.getOrElse(c, c); parent(c) = r; c = nxt
          }
          r
        }
        rows.foreach { row =>
          val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
          if (ra != rb) { // min root keeps the component-min label
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
        }
        val spark = pairs.sparkSession
        import spark.implicits._
        val labelRows = parent.keys.toSeq.map(n => (n, find(n)))
        nodes.select(col("doc_id"))
          .join(labelRows.toDF("node", "label"),
            col("doc_id") === col("node"), "left")
          .select(col("doc_id"),
            coalesce(col("label"), col("doc_id")).as("cluster_id"))
      case None =>
        var labels = edges.select(col("a").as("node")).distinct()
          .select(col("node"), col("node").as("label")).localCheckpoint()
        var converged = false
        var i = 0
        while (!converged && i < maxIter) {
          val prop = edges.join(labels, col("a") === col("node"))
            .select(col("b").as("node"), col("label"), lit(0).as("is_self"))
          // fold the convergence check into the round's groupBy: the
          // node's own row carries the old label, so "did anything
          // change" is a filter on the grouped result — no extra join
          val merged = labels.select(col("node"), col("label"),
              lit(1).as("is_self"))
            .unionByName(prop)
            .groupBy("node").agg(min("label").as("label"),
              max(when(col("is_self") === 1, col("label"))).as("old_label"))
          val next = if (i < 3) merged.localCheckpoint()
          else {
            // pointer jump (path halving): label := label(label). Labels
            // are always node ids present in the frame, so the self-join
            // hits; left join keeps already-minimal nodes unchanged. The
            // pre-join checkpoint stops the propagate+groupBy subtree
            // from evaluating once per join side.
            val m = merged.localCheckpoint()
            m.join(m.select(col("node").as("_jn"), col("label").as("_jl")),
                col("label") === col("_jn"), "left")
              .select(col("node"),
                least(col("label"), coalesce(col("_jl"), col("label")))
                  .as("label"),
                col("old_label"))
              .localCheckpoint()
          }
          converged = next.filter(col("label") =!= col("old_label")).isEmpty
          labels = next.select(col("node"), col("label"))
          i += 1
        }
        if (!converged)
          throw new IllegalStateException(
            s"connectedComponents did not converge in $maxIter rounds; " +
              "a component's min-label needs more doubling rounds — raise " +
              "maxIter (returning partial labels would silently corrupt " +
              "clusters)")
        nodes.select(col("doc_id"))
          .join(labels, col("doc_id") === col("node"), "left")
          .select(col("doc_id"),
            coalesce(col("label"), col("doc_id")).as("cluster_id"))
    }
  }

  /** Duplicate-cluster size histogram: from a (doc_id, cluster_id)
    * labeling (any family — [[connectedComponents]] over whichever
    * pair set), report per cluster SIZE the number of clusters and
    * the document mass they hold. The one-page audit read before
    * committing a dedup pass: singleton mass says how much of the
    * corpus is untouched, the size-2 row is ordinary duplication,
    * and a heavy tail of giant clusters says the threshold (or a
    * boilerplate family) is collapsing unrelated docs — the failure
    * mode caps and verify exist to prevent.
    *
    * Plan: two partial-aggregable count shuffles (cluster_id key,
    * then the tiny size key) — output is |distinct sizes| rows,
    * bounded by the largest cluster, at any corpus size. */
  def clusterStats(labels: DataFrame): DataFrame =
    labels.groupBy("cluster_id").agg(count(lit(1)).as("csize"))
      .groupBy("csize").agg(count(lit(1)).as("n_clusters"))
      .select(col("csize"), col("n_clusters"),
        expr("csize * n_clusters").as("docs_mass"))

  /** Canonical selection per dedup cluster: keep the highest-QUALITY
    * member (ties to lowest id), not the arbitrary min-id — what a
    * curation pipeline actually wants from its dup clusters. Inputs
    * are the CC labels and any per-doc quality score; max + re-join
    * keeps it one small aggregate over the (already tiny) label set. */
  def keepBest(labels: DataFrame, quality: DataFrame): DataFrame =
    labels.join(quality, "doc_id")
      .groupBy("cluster_id")
      .agg(
        // min_by on (-score, doc_id): best score, ties to lowest id —
        // one partial-aggregable pass, vs the textbook max + re-join
        // that would evaluate the (iterative, expensive) label
        // subtree twice
        min_by(col("doc_id"),
          struct(negate(col("score")), col("doc_id"))).as("canonical_doc"),
        max("score").as("best_score"), count(lit(1)).as("n_members"))
      .select("cluster_id", "canonical_doc", "best_score", "n_members")

  /** Incremental ingestion dedup: admit from an incoming batch only
    * the documents whose content fingerprint is absent from the
    * existing corpus, deduplicating within the batch itself (first
    * doc_id wins). This is the daily-crawl-vs-100 TB-corpus shape:
    * the corpus side reduces to DISTINCT fingerprints before the
    * anti join (one partial-aggregable pass over the corpus — the
    * full text never shuffles), and in production the fingerprint
    * set is a bucketed table so each increment's anti join is
    * shuffle-free on the corpus side. */
  def incrementalNew(docs: DataFrame, batchSources: Seq[String])
      : DataFrame = {
    val h = docs.select(col("doc_id"), col("source"),
      md5(lower(trim(col("text")))).as("content_hash"))
    val corpus = h.filter(!col("source").isin(batchSources: _*))
      .select("content_hash").distinct()
    val batch = h.filter(col("source").isin(batchSources: _*))
    batch.join(corpus, Seq("content_hash"), "left_anti")
      .withColumn("_rn", row_number().over(
        Window.partitionBy("content_hash").orderBy("doc_id")))
      .filter(col("_rn") === 1)
      .select("doc_id", "source", "content_hash")
  }

  /** Bloom-filter admission audit — the cheapest possible first tier
    * of incremental exact dedup at 100 TB: the corpus compresses to
    * a bit set (k md5-derived positions per content hash, m bits),
    * an arriving doc is DEFINITELY NEW when any of its k positions
    * is unset, and only maybe-duplicates (bloom hits) pay the exact
    * content-hash lookup. The audit reports, per batch source, the
    * bloom verdicts against ground truth: n_batch, n_bloom_hit,
    * n_exact_dup, n_false_pos (bloom says dup, exact says new — the
    * fraction that pays the second tier for nothing; false NEGATIVES
    * are impossible by construction, which is the safety property
    * dedup needs). The filter here is an auditable RELATIONAL
    * rendering — the distinct (position) table of the corpus, k
    * semi-joinable rows per doc — so an external engine re-derives
    * every bit with md5 alone; a deployed tier swaps in Spark's
    * native BloomFilter aggregate with the same admission semantics.
    * Positions distinct-collapse before the join (≤ m rows no matter
    * the corpus), the batch side carries k rows per doc, and the
    * verdict is one groupBy — no per-pair work anywhere. */
  def bloomAdmit(docs: DataFrame, batchSources: Seq[String],
                 mBits: Long = 1L << 20, k: Int = 3): DataFrame = {
    val h = docs.select(col("doc_id"), col("source"),
      md5(lower(trim(col("text")))).as("content_hash"))
    val corpus = h.filter(!col("source").isin(batchSources: _*))
      .localCheckpoint()
    val batch = h.filter(col("source").isin(batchSources: _*))
    def positions(src: DataFrame): DataFrame = src.select(
        col("doc_id"), col("source"), col("content_hash"),
        explode(expr(s"transform(sequence(0, ${k - 1}), j -> " +
          s"CAST(conv(substr(md5(concat('bloom', j, ':', " +
          s"content_hash)), 1, 15), 16, 10) AS BIGINT) % $mBits)"))
          .as("pos"))
    val bits = positions(corpus).select("pos").distinct()
    val exact = corpus.select("content_hash").distinct()
      .withColumn("is_dup", lit(1L))
    positions(batch)
      .join(bits.withColumn("hit", lit(1L)), Seq("pos"), "left")
      .groupBy("doc_id", "source", "content_hash")
      .agg((count(lit(1)) === sum(coalesce(col("hit"), lit(0L))))
        .as("bloom_hit"))
      .join(exact, Seq("content_hash"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_batch"),
        coalesce(sum(when(col("bloom_hit"), 1L)), lit(0L))
          .as("n_bloom_hit"),
        coalesce(sum(when(col("is_dup") === 1L, 1L)), lit(0L))
          .as("n_exact_dup"),
        coalesce(sum(when(col("bloom_hit") && col("is_dup").isNull, 1L)),
          lit(0L)).as("n_false_pos"))
  }

  /** Production form of [[incrementalNew]]: the corpus side arrives
    * as the ALREADY-COLLAPSED fingerprint table (one `content_hash`
    * column) instead of being derived in-plan. Stored bucketed on
    * `content_hash` ([[graft.sources.Sinks.bucketedTable]]), the
    * corpus side of the anti join needs NO exchange — each daily
    * increment pays one batch-side shuffle and a co-located join,
    * O(increment) work against a 100 TB corpus. The in-batch
    * first-wins window reuses the same content_hash partitioning, so
    * the whole admission plan is ONE exchange (SurfaceSpec asserts
    * this on the physical plan). */
  def incrementalNewAgainst(batch: DataFrame, corpusHashes: DataFrame)
      : DataFrame = {
    val h = batch.select(col("doc_id"), col("source"),
      md5(lower(trim(col("text")))).as("content_hash"))
    h.join(corpusHashes.select("content_hash"), Seq("content_hash"),
        "left_anti")
      .withColumn("_rn", row_number().over(
        Window.partitionBy("content_hash").orderBy("doc_id")))
      .filter(col("_rn") === 1)
      .select("doc_id", "source", "content_hash")
  }

  /** Embedding near-dup: random-hyperplane LSH buckets, cosine verify
    * (custom codegen expression) within bucket — with a BUCKET-SIZE
    * GUARD for degenerate data.
    *
    * A bucket of m members emits m²/2 pair rows; collinear corpora
    * (the measured media_near_dup case — same-language byte
    * histograms) collapse most vectors into one bucket and the
    * in-bucket pair scan goes quadratic inside a single task — AQE
    * skew-split re-sizes tasks but cannot bound the pair OUTPUT.
    * Buckets larger than `maxBucket` therefore switch from all-pairs
    * to STAR emission: each member pairs only with the bucket's
    * representative (lowest vec_id), bounding fan-out at O(m) while
    * preserving what dedup needs — cluster CONNECTIVITY (downstream
    * connected-components still groups every verified member through
    * the representative). Pairwise enumeration inside over-cap
    * buckets is explicitly traded away; this is the df-cap pattern
    * from [[TextAnalysis.ngramJaccardCapped]] applied to the bucket
    * key. Bucket stats reach the corpus via a broadcast join when the
    * bucket count is provably small (planes <= 16 ⇒ <= 65k rows); for
    * wider signatures the stats table can approach O(corpus) and
    * shuffles instead (AQE still broadcasts at runtime if it measures
    * small), so the hint can never drive the driver out of memory.
    *
    * auditable = md5 hash family with exact scaled-integer dot
    * products: any engine with md5() re-derives the buckets (the
    * cross-engine oracle gate runs this family). */
  def embeddingNearDup(embs: DataFrame, planes: Int = 8,
                       minCosine: Double = 0.95,
                       auditable: Boolean = false,
                       maxBucket: Int = 64): DataFrame = {
    require(maxBucket > 1, "maxBucket must be > 1")
    val sig =
      if (auditable) GraftFunctions.md5_rhp_lsh(col("embedding"), planes)
      else GraftFunctions.rhp_lsh(col("embedding"), planes)
    val withBucket = embs.select(col("vec_id"), col("embedding"),
      sig.as("bucket"))
    val stats = withBucket.groupBy("bucket")
      .agg(count(lit(1)).as("bsize"),
        min_by(struct(col("vec_id"), col("embedding")), col("vec_id"))
          .as("rep"))
    // broadcast only while the bucket count is provably small
    // (<= 2^planes rows, one rep embedding each); for wide signatures
    // the bucket table can approach O(corpus) and must shuffle — AQE
    // still converts to broadcast at runtime when it measures small
    val statsSide = if (planes <= 16) broadcast(stats) else stats
    val annotated = withBucket.join(statsSide, Seq("bucket"))
    val small = annotated.filter(col("bsize") <= maxBucket)
    val pairsAll = small
      .select(col("bucket"), col("vec_id").as("id1"), col("embedding").as("e1"))
      .join(small.select(col("bucket"), col("vec_id").as("id2"),
        col("embedding").as("e2")), Seq("bucket"))
      .filter(col("id1") < col("id2"))
      .select("id1", "e1", "id2", "e2")
    val pairsStar = annotated.filter(col("bsize") > maxBucket)
      .filter(col("vec_id") =!= col("rep.vec_id"))
      .select(col("rep.vec_id").as("id1"), col("rep.embedding").as("e1"),
        col("vec_id").as("id2"), col("embedding").as("e2"))
    pairsAll.unionByName(pairsStar)
      .withColumn("cos_sim", GraftFunctions.cosine_sim(col("e1"), col("e2")))
      .filter(col("cos_sim") >= minCosine)
      .select("id1", "id2", "cos_sim")
  }

  /** Substring-level repetition audit: for each doc, the fraction of
    * its w-token windows whose content occurs >= 2 times in the
    * corpus (counting repeats inside the same doc) — the signal the
    * "train-on-unique-substrings" dedup policy thresholds on, at
    * window rather than whole-document granularity.
    *
    * Never materializes pairs or spans: windows reduce to 60-bit md5
    * hashes, global occurrence totals come from a window-sum over the
    * per-(doc, hash) counts (partition by hash — one exchange), and
    * the verdict folds back per doc. Everything that shuffles is a
    * (doc_id, hash, count) row; work is linear in corpus tokens at
    * any scale. The md5 hash family keeps the op inside the
    * cross-engine gate (a collision agrees on both sides). */
  def substringRepetition(docs: DataFrame, w: Int = 8): DataFrame = {
    val wins = docs
      .select(col("doc_id"),
        GraftFunctions.text_shingles(toks(col("text")), w).as("wins"))
      .filter(size(col("wins")) > 0)
    val perDocHash = wins
      .select(col("doc_id"), explode(col("wins")).as("s"))
      .select(col("doc_id"),
        conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("h"))
      .groupBy("doc_id", "h").agg(count(lit(1)).as("n_win"))
    perDocHash
      .withColumn("n_occ", sum(col("n_win")).over(Window.partitionBy("h")))
      .groupBy("doc_id")
      .agg(sum(col("n_win")).as("n_windows"),
        sum(when(col("n_occ") >= 2, col("n_win")).otherwise(lit(0L)))
          .as("n_dup_win"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_win"),
        (col("n_dup_win").cast("double") / col("n_windows")).as("dup_ratio"))
  }

  /** Substring-span dedup with REMOVAL output — the exact-substring
    * policy of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better"): any w-token window whose content
    * occurs elsewhere in the corpus is cut out of every occurrence
    * EXCEPT the canonical first one ((doc_id, pos)-lexicographic
    * minimum per window hash), and each document survives as its
    * retained token spans — the span is removed, never the doc.
    * Output: one row per retained span (doc_id, tok_start, tok_end,
    * span_toks), 1-based inclusive token indexes; a doc made
    * entirely of elsewhere-seen text contributes zero rows, a doc
    * with no duplicated window survives as its single full span.
    *
    * Scale shape (linear, two key exchanges, text never shuffles):
    * windows collapse to 60-bit md5 hashes in-row; occurrence count
    * + canonical pick are ONE window pass partitioned by hash
    * (row_number — removed ⇔ rn ≥ 2, which already implies a prior
    * occurrence); surviving removed starts flow to a doc_id-keyed
    * islands pass (sorted starts of fixed-width intervals merge ⇔
    * next start ≤ prev + w), and retained spans are the gap
    * complement — lag/groupBy windows over the ≤ per-doc-window
    * count of removed rows, no HOF fold, no driver loop. Everything
    * that moves is (doc_id, pos, h) 24-byte rows. */
  def substringSpans(docs: DataFrame, w: Int = 8): DataFrame =
    // FrameCache'd (r13): the span frame is a pure function of
    // (dataset, w) and BOTH gated consumers — the span output itself
    // and [[substringSpanStats]]' telemetry rollup — re-paid the
    // full window/island machinery per key. O(docs + islands) thin
    // rows; the r12 family-sharing contract.
    FrameCache.cached(docs.sparkSession,
      s"sss:${FrameCache.planKey(docs)}:$w") {
      substringSpansRaw(docs, w).localCheckpoint()
    }

  /** The lazy plan under [[substringSpans]] — kept un-checkpointed
    * so plan/spec tests can inspect the real span machinery. */
  private[graft] def substringSpansRaw(docs: DataFrame, w: Int = 8)
      : DataFrame = {
    val base = docs.select(col("doc_id"), toks(col("text")).as("t"))
      .select(col("doc_id"), size(col("t")).cast("long").as("n"),
        GraftFunctions.text_shingles(col("t"), w).as("wins"))
    val hashed = base
      .select(col("doc_id"), col("n"),
        posexplode(col("wins")).as(Seq("p0", "s")))
      .select(col("doc_id"), col("n"), (col("p0") + 1).as("pos"),
        conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("h"))
    // removed ⇔ a strictly earlier (doc_id, pos) occurrence exists
    val removed = hashed
      .withColumn("rn", row_number().over(
        Window.partitionBy("h").orderBy("doc_id", "pos")))
      .filter(col("rn") >= 2)
      .select("doc_id", "n", "pos")
    // islands of overlapping/adjacent removed intervals [pos, pos+w-1]
    val merged = removed
      .withColumn("prev", lag("pos", 1).over(
        Window.partitionBy("doc_id").orderBy("pos")))
      .withColumn("newi",
        when(col("prev").isNull || col("pos") > col("prev") + w, 1L)
          .otherwise(0L))
      .withColumn("island", sum("newi").over(
        Window.partitionBy("doc_id").orderBy("pos")))
      .groupBy(col("doc_id"), col("n"), col("island"))
      .agg(min("pos").cast("long").as("s"),
        (max("pos") + (w - 1)).cast("long").as("e"))
    // gap complement: before each island + after the last one
    val before = merged
      .withColumn("prev_e", lag("e", 1).over(
        Window.partitionBy("doc_id").orderBy("s")))
      .select(col("doc_id"),
        (coalesce(col("prev_e"), lit(0L)) + 1).as("tok_start"),
        (col("s") - 1).as("tok_end"))
    val after = merged.groupBy("doc_id", "n")
      .agg((max("e") + 1).as("tok_start"))
      .select(col("doc_id"), col("tok_start"), col("n").as("tok_end"))
    // untouched docs survive whole
    val whole = docs.select(col("doc_id"),
        size(toks(col("text"))).cast("long").as("n"))
      .join(merged.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit(1L).as("tok_start"), col("n").as("tok_end"))
    before.unionByName(after).unionByName(whole)
      .filter(col("tok_start") <= col("tok_end"))
      .select(col("doc_id"), col("tok_start"), col("tok_end"),
        (col("tok_end") - col("tok_start") + 1).as("span_toks"))
  }

  /** Per-source rollup of [[substringSpans]] — the removal
    * telemetry a curation run reads after span-level dedup: how many
    * docs were touched, how many vanished entirely (all their text
    * seen earlier), and the retained-token ppm per source. Docs with
    * zero retained spans count via the LEFT join from the doc table
    * (they'd otherwise drop out of the rollup and inflate
    * retained_ppm). Shuffles only (doc_id, counts) rows on top of
    * the span machinery's own exchanges. */
  def substringSpanStats(docs: DataFrame, w: Int = 8): DataFrame = {
    val perDoc = substringSpans(docs, w)
      .groupBy("doc_id")
      .agg(sum("span_toks").as("retained"),
        count(lit(1)).as("n_spans"))
    docs.select(col("doc_id"), col("source"),
        size(toks(col("text"))).cast("long").as("n_toks"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("source"), col("n_toks"),
        coalesce(col("retained"), lit(0L)).as("retained"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"))
      .groupBy("source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        coalesce(sum(when(col("retained") < col("n_toks"), 1L)), lit(0L))
          .cast("long").as("n_docs_cut"),
        coalesce(sum(when(col("retained") === 0, 1L)), lit(0L))
          .cast("long").as("n_docs_gone"),
        sum("n_toks").cast("long").as("total_toks"),
        sum("retained").cast("long").as("retained_toks"))
      .select(col("source"), col("n_docs"), col("n_docs_cut"),
        col("n_docs_gone"), col("total_toks"), col("retained_toks"),
        expr("retained_toks * 1000000 div total_toks")
          .as("retained_ppm"))
  }

  /** SemDeDup-style semantic deduplication (cluster-then-prune,
    * Abbas et al. 2023): embeddings are coarse-clustered, then only
    * WITHIN-cluster pairs are cosine-compared — the clustering turns
    * the O(n²) semantic pair space into nclusters independent
    * problems, which is the whole trick that makes semantic dedup
    * feasible at corpus scale. A vector is a duplicate when a
    * SMALLER-id vector in its cluster is ≥ minCosine similar; output
    * is the dropped set with its canonical survivor.
    *
    * Determinism/scale, reusing the proven machinery: assignment is
    * [[Similarity.assignCentroids]]' NARROW broadcast argmax (zero
    * corpus exchanges — seeded, like IVF, from the first nclusters
    * vectors); within-cluster pruning mirrors [[embeddingNearDup]] —
    * all-pairs while a cluster is ≤ maxCluster, degrading to the
    * star-vs-representative comparison above it, so a hot cluster is
    * bounded-linear instead of quadratic (the honest trade: past the
    * cap, only rep-duplicates are caught; tighten nclusters instead
    * of raising the cap). minCosine 0.25 is corpus-calibrated like
    * [[embeddingNearDup]]'s (the synthetic vectors are near-
    * orthogonal: max observed pairwise cosine ≈ 0.51). */
  def dedupSemantic(embs: DataFrame, nclusters: Int = 8,
                    minCosine: Double = 0.25,
                    maxCluster: Int = 256): DataFrame = {
    val centroids = embs.filter(col("vec_id") < nclusters)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))
    val assigned = Similarity.assignCentroids(embs, centroids)
    val stats = assigned.groupBy("centroid_id")
      .agg(count(lit(1)).as("csize"),
        min_by(struct(col("vec_id"), col("embedding")), col("vec_id"))
          .as("rep"))
    val annotated = assigned.join(broadcast(stats), Seq("centroid_id"))
    val small = annotated.filter(col("csize") <= maxCluster)
    val pairsAll = small
      .select(col("centroid_id"), col("vec_id").as("id1"),
        col("embedding").as("e1"))
      .join(small.select(col("centroid_id"), col("vec_id").as("id2"),
        col("embedding").as("e2")), Seq("centroid_id"))
      .filter(col("id1") < col("id2"))
    val pairsStar = annotated.filter(col("csize") > maxCluster)
      .filter(col("vec_id") =!= col("rep.vec_id"))
      .select(col("centroid_id"),
        col("rep.vec_id").as("id1"), col("rep.embedding").as("e1"),
        col("vec_id").as("id2"), col("embedding").as("e2"))
    pairsAll.select("centroid_id", "id1", "e1", "id2", "e2")
      .unionByName(pairsStar)
      .withColumn("cos_sim", GraftFunctions.cosine_sim(col("e1"), col("e2")))
      .filter(col("cos_sim") >= minCosine)
      .groupBy(col("id2").as("vec_id"))
      .agg(min_by(struct(col("centroid_id"), col("id1"), col("cos_sim")),
        col("id1")).as("m"))
      .select(col("vec_id"), col("m.centroid_id").as("cluster_id"),
        col("m.id1").as("dup_of"), col("m.cos_sim").as("cos_sim"))
  }

  /** Content-defined chunking (the FastCDC/rsync shape): cut each
    * document where the rolling content hash of the trailing `w`
    * chars hits 0 mod `divisor`, subject to a `minSize` greedy floor
    * — so chunk BOUNDARIES move with the content, not the offset.
    * That is the property byte-offset chunking ([[TextAnalysis]]'
    * token windows) lacks: insert one word at the top of a document
    * and every fixed-stride chunk downstream changes, but CDC cuts
    * re-synchronize at the next content boundary, so storage dedup /
    * delta-sync still finds every unchanged chunk. The report is the
    * per-source chunk-dedup telemetry: chunk instances, distinct
    * hashes, instances whose hash repeats corpus-wide, exact dup ppm.
    *
    * The boundary predicate is the auditable md5 family (28-bit
    * prefix of md5 of the trailing window mod `divisor`) — a
    * production deployment swaps in a gear/Rabin rolling hash with
    * O(1) updates; the plan shape (and the oracle) is identical, the
    * per-position hash is just cheaper. Expected chunk ≈ divisor
    * chars; minSize suppresses the geometric head.
    *
    * Scale shape: the candidate scan, greedy cut fold, and chunk
    * split are ALL per-row HOFs over the text column — narrow,
    * codegen, zero exchanges; text leaves the row only as (hash,
    * len) pairs, so the two corpus-wide rollups (hash counts, source
    * report) shuffle 16-byte tuples, never chunk bytes. The greedy
    * fold is sequential BY DEFINITION within a document (each cut
    * depends on the last accepted cut) and embarrassingly parallel
    * across documents — exactly where a per-row aggregate puts it. */
  def cdcChunkReport(docs: DataFrame, w: Int = 8, divisor: Int = 32,
                     minSize: Int = 16): DataFrame =
    chunkDupReport(cdcChunks(docs, w, divisor, minSize))

  /** The per-source dup-telemetry tail shared by the md5-window and
    * gear CDC variants. */
  private def chunkDupReport(chunks: DataFrame): DataFrame = {
    val counts = chunks.groupBy("ch").agg(count(lit(1)).as("cnt"))
    chunks.join(counts, "ch")
      .groupBy("source")
      .agg(countDistinct(col("doc_id")).cast("long").as("n_docs"),
        count(lit(1)).cast("long").as("n_chunks"),
        sum("clen").cast("long").as("n_chunk_chars"),
        countDistinct(col("ch")).cast("long").as("n_distinct"),
        coalesce(sum(when(col("cnt") > 1, 1L)), lit(0L)).cast("long")
          .as("n_shared"))
      .select(col("source"), col("n_docs"), col("n_chunks"),
        col("n_chunk_chars"), col("n_distinct"), col("n_shared"),
        expr("n_shared * 1000000 div n_chunks").as("dup_ppm"))
  }

  /** Gear rolling-hash CDC — the PRODUCTION cut path next to
    * [[cdcChunks]]' md5-window variant: same greedy min-size
    * contract, same chunk identity (md5 of the chunk text, one per
    * CHUNK), but the per-character boundary test is the
    * [[graft.functions.Kernels.cdcGearCuts]] codegen kernel (table
    * lookup + shift + mask) instead of an md5 of every trailing
    * window. Measured at sf0.1: 6.09 s (md5 windows, ≈0.4 µs/char)
    * → the gear loop's table update is ~2 ns/char — the difference
    * between "chunking is the pipeline bottleneck" and "chunking is
    * free" at 100 TB. The gear table itself is md5-derived, so the
    * oracle re-derives every cut from scratch (per-character
    * recursive CTE over the same 2^62 modular update). */
  def cdcChunksGear(docs: DataFrame, divisor: Int = 32,
                    minSize: Int = 16, keep: Seq[String] = Nil)
      : DataFrame = {
    val kept = keep.map(col)
    docs
      .select(Seq(col("doc_id"), col("source"), col("text"),
        GraftFunctions.cdc_gear_cuts(col("text"), divisor, minSize)
          .as("bs")) ++ kept: _*)
      .select(Seq(col("doc_id"), col("source"),
        posexplode(expr(
          """IF(size(bs) < 2, array(),
            |  transform(sequence(1, size(bs) - 1),
            |    j -> substring(text, element_at(bs, j) + 1,
            |      element_at(bs, j + 1) - element_at(bs, j))))"""
            .stripMargin)).as(Seq("chunk_index", "chunk"))) ++ kept: _*)
      .select(Seq(col("doc_id"), col("source"), col("chunk_index"),
        length(col("chunk")).as("clen"),
        expr("CAST(conv(substr(md5(chunk), 1, 15), 16, 10) AS BIGINT)")
          .as("ch")) ++ kept: _*)
  }

  /** [[cdcChunkReport]] over the gear cut path. */
  def cdcGearReport(docs: DataFrame, divisor: Int = 32,
                    minSize: Int = 16): DataFrame =
    chunkDupReport(cdcChunksGear(docs, divisor, minSize))

  /** Batch incremental CDC ingest — the bounded-batch twin of the
    * streaming delta-sync verdict ([[graft.streaming.ReactiveStreams
    * .cdcIngestStream]]): chunk the incoming batch content-defined,
    * flag every chunk against the existing corpus's distinct chunk
    * table, and report per source how many chunk instances are
    * actually new bytes. This is what a storage/dedup tier runs per
    * ingest wave: novel ppm near zero means the wave is re-uploads
    * and delta-sync wins; near 1e6 means genuinely fresh content.
    *
    * Scale shape: both sides chunk narrowly (per-row HOFs); the
    * corpus side collapses to its DISTINCT hash column before the
    * key-equi LEFT join (the [[incrementalDedup]] one-exchange
    * contract), so the join moves 8-byte hashes, never text. */
  def cdcIncremental(batch: DataFrame, corpus: DataFrame,
                     divisor: Int = 32, minSize: Int = 16)
      : DataFrame = {
    // gear cuts on BOTH sides: composites ride the production path
    // (the md5-window variant is the documented windowed alternative)
    val corpusChunks = cdcChunksGear(corpus, divisor, minSize)
      .select("ch").distinct().withColumn("known", lit(1))
    cdcChunksGear(batch, divisor, minSize)
      .join(corpusChunks, Seq("ch"), "left")
      .groupBy("source")
      .agg(countDistinct(col("doc_id")).cast("long").as("n_docs"),
        count(lit(1)).cast("long").as("n_chunks"),
        coalesce(sum(when(col("known").isNull, 1L)), lit(0L))
          .cast("long").as("n_novel"))
      .select(col("source"), col("n_docs"), col("n_chunks"),
        col("n_novel"),
        expr("n_novel * 1000000 div n_chunks").as("novel_ppm"))
  }

  /** The per-document CDC chunk frame under [[cdcChunkReport]]:
    * (doc_id, source, chunk_index, clen, ch) — chunk bytes never
    * leave the row; only the 16-byte (hash, len) projection does.
    * `keep` passes extra input columns through (the streaming twin
    * threads its event-time column this way). */
  def cdcChunks(docs: DataFrame, w: Int = 8, divisor: Int = 32,
                minSize: Int = 16, keep: Seq[String] = Nil)
      : DataFrame = {
    val kept = keep.map(col)
    // Cut bounds via the codegen kernel ([[graft.functions.Kernels
    // .cdcMd5Cuts]]) — bit-identical to the r1–r12 HOF chain
    //   filter(transform(sequence(w, length(text)),
    //     i -> IF(conv(substr(md5(substring(text, i-w+1, w)), 1, 7),
    //             16, 10) % divisor = 0, i, -1)), x -> x > 0)
    //   |> aggregate(_, array(0), greedy min-size fold)
    //   |> append length(text)
    // whose per-position lambda eval + substring + md5-hex + conv
    // parse measured 12.9 s at sf0.1 (Round12Spec pins kernel ≡ HOF
    // parity; the bench re-measured 12.92 → ~1 s with the kernel).
    docs
      .select(Seq(col("doc_id"), col("source"), col("text"),
        GraftFunctions.cdc_md5_cuts(col("text"), w, divisor, minSize)
          .as("bs")) ++ kept: _*)
      // size(bs) < 2 ⇔ empty document (bounds collapses to [0]);
      // without the guard sequence(1, 0) evaluates DESCENDING to
      // [1, 0] and element_at(bs, 0) throws under ANSI indexing —
      // same IF() contract as the gear path
      .select(Seq(col("doc_id"), col("source"),
        posexplode(expr(
          """IF(size(bs) < 2, array(),
            |  transform(sequence(1, size(bs) - 1),
            |    j -> substring(text, element_at(bs, j) + 1,
            |      element_at(bs, j + 1) - element_at(bs, j))))"""
            .stripMargin)).as(Seq("chunk_index", "chunk"))) ++ kept: _*)
      .select(Seq(col("doc_id"), col("source"), col("chunk_index"),
        length(col("chunk")).as("clen"),
        expr("CAST(conv(substr(md5(chunk), 1, 15), 16, 10) AS BIGINT)")
          .as("ch")) ++ kept: _*)
  }
}
