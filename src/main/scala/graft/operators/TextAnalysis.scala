package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline, over the
  * `documents` table (doc_id, text, lang, source, n_chars).
  *
  * Everything is built from codegen'd `functions._` (split / filter /
  * transform / aggregate higher-order functions) — no UDFs — so the
  * whole pipeline stays inside WholeStageCodegen and scales linearly
  * with a plain parquet scan: no shuffle at all for per-document
  * scoring.
  */
object TextAnalysis {
  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** Lowercased whitespace tokens. */
  def tokens(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    split(lower(text), " ")

  /** Quality scoring: length / token / stopword / uniqueness ratios
    * combined into one score. */
  def textQuality(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", tokens(col("text")))
      // BIGINT on purpose: matches the oracle engine's integer width
      .withColumn("len", length(col("text")).cast("long"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_stop",
        size(filter(col("toks"), t => t.isInCollection(stopwords))).cast("long"))
      .withColumn("n_uniq", size(array_distinct(col("toks"))).cast("long"))
      .select(
        col("doc_id"), col("len"), col("n_tokens"), col("n_stop"),
        col("n_uniq"),
        (col("n_stop").cast("double") / col("n_tokens")).as("stop_ratio"),
        (col("n_uniq").cast("double") / col("n_tokens")).as("uniq_ratio"),
        ((col("n_uniq").cast("double") / col("n_tokens")) * lit(0.6) +
          (lit(1.0) - col("n_stop").cast("double") / col("n_tokens")) * lit(0.4))
          .as("quality_score"))

  /** Token counting: whitespace tokens, alpha runs (BPE-ish subword
    * proxy: ceil(len/4) pieces per token), and mean token length. */
  def tokenCount(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", tokens(col("text")))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("ws_tokens"),
        aggregate(col("toks"), lit(0L),
          (acc, t) => acc + ceil(length(t).cast("double") / 4.0).cast("long"))
          .as("subword_pieces"),
        aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t))
          .cast("double")./(size(col("toks"))).as("mean_token_len"))

  /** Language ID: n-gram/stopword-profile heuristic. Scores each
    * candidate language by profile-hit ratio; deterministic argmax.
    * (Profiles are tiny; the comparison is a codegen'd expression —
    * at scale this is a pure map over the scan.) */
  def langId(docs: DataFrame): DataFrame = {
    val profiles: Map[String, Seq[String]] = Map(
      "en" -> Seq("the", "and", "of", "is"),
      "fr" -> Seq("le", "la", "et", "de"),
      "de" -> Seq("der", "die", "und", "das"),
      "es" -> Seq("el", "la", "y", "de"),
      "zh" -> Seq("de", "shi", "le", "he"))
    val toks = tokens(col("text"))
    val scores = profiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(
        (size(filter(toks, t => t.isInCollection(words))).cast("double") /
          size(toks)).as("score"),
        lit(lang).as("lang"))
    }
    docs.select(
      col("doc_id"), col("lang").as("labeled_lang"),
      array_max(array(scores: _*)).getField("lang").as("predicted_lang"),
      array_max(array(scores: _*)).getField("score").as("confidence"))
  }

  /** Shingle document-frequency SPECTRUM: shingles rolled into
    * log₂(df) buckets with shingle counts, df mass, and occurrence
    * mass per bucket — the one-page answer to "how much cross-doc
    * repetition does this corpus carry and where should the df-cap
    * sit" before running any pairwise dedup ([[ngramJaccardCapped]]
    * consumes exactly this: the cap should sit where the spectrum's
    * heavy tail starts). One scan, one shuffle of 8-byte md5-prefix
    * hashes (text never rides the exchange; the 60-bit prefix makes
    * collisions negligible AND both engines group by the identical
    * hash, so the verdict is hash-exact by construction), tf + df in
    * one partial-aggregable pass, |buckets| output rows. */
  def shingleSpectrum(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(graft.functions.GraftFunctions
          .text_shingles(tokens(col("text")), 3)).as("shingle"))
      .select(col("doc_id"),
        conv(substring(md5(col("shingle")), 1, 15), 16, 10)
          .cast("long").as("h"))
      .groupBy("h")
      .agg(count(lit(1)).as("tf"), countDistinct("doc_id").as("df"))
      .groupBy(expr("CAST(length(bin(df)) - 1 AS BIGINT)")
        .as("log2_df"))
      .agg(count(lit(1)).as("n_shingles"),
        sum("df").as("sum_df"), sum("tf").as("sum_tf"))

  /** FrameCache-shared [[ngramJaccard]] pair frame — the
    * 0.2-threshold exact pair set is re-derived by FIVE gated keys
    * (dedup_cluster / keep_best / cluster_stats / canonical /
    * edit_verify); the OUTPUT frame is thin (ids + jaccard), unlike
    * the fat shingle feature frame whose materialization measured 2×
    * worse at sf10 (see [[graft.operators.Dedup.pairFeatures]]).
    * [[ngramJaccard]] itself stays lazy so its plan-shape gates
    * (PlanSpec) keep inspecting the real posting-join plan. */
  def ngramJaccardShared(docs: DataFrame, minJaccard: Double)
      : DataFrame =
    FrameCache.cached(docs.sparkSession,
      s"ngj:${FrameCache.planKey(docs)}:$minJaccard") {
      ngramJaccard(docs, minJaccard).localCheckpoint()
    }

  /** Exact n-gram Jaccard similarity for all document pairs within a
    * `source` group (deterministic candidate set — the LSH paths use
    * hash-dependent candidates instead). Distinct 3-gram shingle
    * sets; |A n B| / |A u B|.
    *
    * Inverted-index plan, never a quadratic pair join: explode each
    * doc's distinct shingle set to (source, shingle-hash, doc)
    * postings, self-join the postings on the 8-byte hash (only pairs
    * that SHARE a shingle are ever materialized), count common
    * shingles per pair map-side, then |A u B| = |A| + |B| - |A n B|
    * from per-doc set sizes. Payload through the shuffle is
    * (source, hash, id) — the shingle strings never leave the scan
    * stage. Pairs sharing zero shingles have jaccard 0 < minJaccard,
    * so dropping them is exact. */
  def ngramJaccard(docs: DataFrame, minJaccard: Double = 0.05): DataFrame = {
    require(minJaccard > 0, "minJaccard must be > 0: zero-overlap pairs " +
      "are never generated by the inverted index")
    val sh = docs.select(col("doc_id"), col("source"),
      array_distinct(graft.functions.GraftFunctions
        .text_shingles(tokens(col("text")), 3)).as("sh"))
      .filter(size(col("sh")) > 0)
    val counts = sh.select(col("doc_id"), size(col("sh")).cast("long").as("n_sh"))
    val posting = sh
      .select(col("source"), col("doc_id"), explode(col("sh")).as("shingle"))
      .select(col("source"), xxhash64(col("shingle")).as("h"), col("doc_id"))
    val common = posting.select(col("source"), col("h"), col("doc_id").as("doc1"))
      .join(posting.select(col("source"), col("h"), col("doc_id").as("doc2")),
        Seq("source", "h"))
      .filter(col("doc1") < col("doc2"))
      .groupBy("source", "doc1", "doc2")
      .agg(count(lit(1)).as("n_common"))
    // no broadcast hint: per-doc counts are tiny here but O(corpus) at
    // 100 TB — AQE converts to broadcast at runtime when small enough
    common
      .join(counts.withColumnsRenamed(
        Map("doc_id" -> "doc1", "n_sh" -> "n1")), "doc1")
      .join(counts.withColumnsRenamed(
        Map("doc_id" -> "doc2", "n_sh" -> "n2")), "doc2")
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("n1") + col("n2") - col("n_common")))
      .filter(col("jaccard") >= minJaccard)
      .select("source", "doc1", "doc2", "jaccard")
  }

  /** Tokenizer fertility by language: subword pieces per whitespace
    * word (the [[tokenCount]] 4-chars-per-piece proxy), rolled up per
    * lang in exact milli — the number that prices how expensive each
    * language is to train on (high-fertility languages consume
    * context budget faster; mixture weights correct with exactly
    * this ratio). Per-doc counts are narrow; the rollup keys on the
    * tiny lang column with map-side partials. */
  def fertility(docs: DataFrame): DataFrame =
    docs.withColumn("toks", tokens(col("text")))
      .select(col("lang"), size(col("toks")).cast("long").as("ws"),
        aggregate(col("toks"), lit(0L),
          (acc, t) => acc + ceil(length(t).cast("double") / 4.0)
            .cast("long")).as("sub"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("ws").as("ws_tokens"),
        sum("sub").as("subword_pieces"))
      .withColumn("fertility_milli",
        expr("subword_pieces * 1000 div ws_tokens"))

  /** Code-vs-prose detection: symbol density and indented-line share
    * — the structural signals a code filter keys on (prose has ~0
    * braces/semicolons and no indent discipline; code is dense in
    * both), without attempting language ID. Explicit character
    * classes only (the [[normalize]] lesson: never a shorthand class
    * two regex engines expand differently); all ratios exact ppm;
    * the verdict is a deterministic integer-threshold OR. Narrow
    * single-pass scan — no shuffle at all before the gate's
    * presentation sort. */
  def codeDetect(docs: DataFrame): DataFrame =
    docs.filter(length(col("text")) > 0)
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        length(regexp_replace(col("text"), "[^{}()\\[\\];=<>|&]", ""))
          .cast("long").as("n_sym"),
        size(split(col("text"), "\n", -1)).cast("long").as("n_lines"),
        regexp_count(col("text"), lit("\n[ \t]{2,}")).cast("long")
          .as("n_indent"))
      .select(col("doc_id"), col("n_chars"),
        expr("n_sym * 1000000 div n_chars").as("symbol_ppm"),
        col("n_lines"), col("n_indent"),
        (expr("n_sym * 1000000 div n_chars") > 40000L ||
          (col("n_lines") > 3L &&
            col("n_indent") * 2 > col("n_lines"))).as("looks_code"))

  /** Doc-length power-law histogram: document counts and char mass
    * per log₂ size bucket — the heavy-tail diagnostic behind chunk
    * sizing and packing bin choice (corpus length distributions are
    * power-laws; a linear histogram wastes every bucket on the
    * head). The bucket is floor(log₂ n) computed EXACTLY as
    * `length(bin(n)) − 1` — integer bit-length, no float log whose
    * boundary rounding the two engines could disagree on. One
    * partial-aggregable rollup on a ≤64-value key. */
  def lengthPowerlaw(docs: DataFrame): DataFrame =
    docs.filter(col("n_chars") > 0)
      .select((length(bin(col("n_chars"))) - 1).cast("long")
        .as("log2_bucket"), col("n_chars"))
      .groupBy("log2_bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))

  /** Readability surface metrics per document: sentence and word
    * counts with words-per-sentence and chars-per-word in exact
    * milli units — the Flesch-style complexity SIGNAL without the
    * syllable heuristic no two engines count alike. Sentences =
    * terminator runs `[.!?]+` via regexp count (min 1); words from
    * the RAW text (lowercasing can change codepoint counts outside
    * ASCII, so length math stays on the bytes the corpus actually
    * has). One explode + one doc-keyed rollup carrying the sentence
    * count through `first`. Docs with no words drop by contract. */
  def readability(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
          .cast("long").as("n_sentences"),
        explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("doc_id")
      .agg(first("n_sentences").as("n_sentences"),
        count(lit(1)).as("n_words"),
        sum(length(col("tok")).cast("long")).as("word_chars"))
      .select(col("doc_id"), col("n_sentences"), col("n_words"),
        col("word_chars"),
        expr("n_words * 1000 div n_sentences")
          .as("words_per_sentence_milli"),
        expr("word_chars * 1000 div n_words")
          .as("chars_per_word_milli"))

  /** Lexical diversity indices per document: type-token ratio and
    * Simpson repeat concentration (Σnᵢ(nᵢ−1)/N(N−1) — the chance two
    * sampled tokens are the same type), both as exact ppm floor
    * divisions — the vocabulary-richness signal quality filters use
    * next to the repetition ratio (48's n-gram machinery measures
    * SEQUENCES; Simpson measures the bag). Token counts collapse on
    * the composite (doc, token) key with map-side partials, then a
    * per-doc rollup — integer arithmetic end to end, no entropy
    * logs to disagree over. */
  def lexicalDiversity(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("n"))
      .groupBy("doc_id")
      .agg(sum("n").as("n_tokens"), count(lit(1)).as("n_types"),
        sum(expr("n * (n - 1)")).as("s2"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        expr("n_types * 1000000 div n_tokens").as("ttr_ppm"),
        when(col("n_tokens") >= 2,
          expr("s2 * 1000000 div (n_tokens * (n_tokens - 1))"))
          .otherwise(0L).as("simpson_ppm"))

  /** Asymmetric n-gram CONTAINMENT: |A∩B| / |A| per directed
    * candidate pair — the doc-in-doc signal symmetric Jaccard
    * misses. A short document quoted wholesale inside a long one has
    * tiny Jaccard (the union is dominated by the long side) but
    * containment ≈ 1 in the short→long direction; training-data
    * curation prunes exactly those embedded quotes/boilerplate
    * inclusions. Same inverted-index machinery as [[ngramJaccard]]
    * (only docs sharing a shingle ever meet; one posting self-join,
    * candidate count bounded by shingle df), the per-pair overlap
    * computed ONCE on the unordered pair and fanned out to the two
    * directed rows afterwards — direction is a projection, not a
    * second join. Thresholding is directional: either direction
    * clearing `minContainment` emits that direction only. */
  def ngramContainment(docs: DataFrame, minContainment: Double = 0.5)
      : DataFrame = {
    require(minContainment > 0, "minContainment must be > 0: " +
      "zero-overlap pairs are never generated by the inverted index")
    val sh = docs.select(col("doc_id"), col("source"),
      array_distinct(graft.functions.GraftFunctions
        .text_shingles(tokens(col("text")), 3)).as("sh"))
      .filter(size(col("sh")) > 0)
    val counts = sh.select(col("doc_id"), size(col("sh")).cast("long").as("n_sh"))
    val posting = sh
      .select(col("source"), col("doc_id"), explode(col("sh")).as("shingle"))
      .select(col("source"), xxhash64(col("shingle")).as("h"), col("doc_id"))
    val common = posting.select(col("source"), col("h"), col("doc_id").as("doc1"))
      .join(posting.select(col("source"), col("h"), col("doc_id").as("doc2")),
        Seq("source", "h"))
      .filter(col("doc1") < col("doc2"))
      .groupBy("source", "doc1", "doc2")
      .agg(count(lit(1)).as("n_common"))
    val sized = common
      .join(counts.withColumnsRenamed(
        Map("doc_id" -> "doc1", "n_sh" -> "n1")), "doc1")
      .join(counts.withColumnsRenamed(
        Map("doc_id" -> "doc2", "n_sh" -> "n2")), "doc2")
    sized.select(col("source"), col("doc1").as("src_id"),
        col("doc2").as("dst_id"),
        (col("n_common").cast("double") / col("n1")).as("containment"))
      .unionAll(sized.select(col("source"), col("doc2").as("src_id"),
        col("doc1").as("dst_id"),
        (col("n_common").cast("double") / col("n2")).as("containment")))
      .filter(col("containment") >= minContainment)
      .select("source", "src_id", "dst_id", "containment")
  }

  /** Prefix-filtered n-gram Jaccard (All-Pairs / PPJoin candidate
    * generation, Bayardo WWW'07): provably the SAME result set as
    * [[ngramJaccard]] — the gate runs the identical oracle — from a
    * far smaller candidate space. Sets are ordered by global token
    * rarity (ascending document frequency, hash tiebreak); two sets
    * with Jaccard ≥ t MUST share a token inside their first
    * n − ⌈t·n⌉ + 1 rarest tokens (if all shared tokens sat in the
    * suffix, the intersection would be < t·n already). So only the
    * PREFIX posting self-joins — the frequent-shingle f² pair blowup
    * the uncapped variant eats is cut to the rare-token candidates —
    * and the exact merge-Jaccard verify (codegen kernel) runs per
    * CANDIDATE, on full sorted arrays that ship only to that small
    * set.
    *
    * When it wins: corpora with df SKEW, where frequent shingles make
    * the plain inverted index emit f² pairs — the prefix cuts exactly
    * those postings. Measured honestly: on the synthetic gate corpus
    * shingles are near-unique (no skew) AND the default t=0.05 keeps
    * ~95% of postings in the prefix (the cut is 1−t of nothing), so
    * the rarity-ranking overhead runs ~1.2-1.3× the exact op — on
    * such corpora use [[ngramJaccard]]/[[ngramJaccardCapped]]; on
    * skewed real text the prefix path bounds the blowup the cap
    * variant would instead truncate away. */
  def ngramJaccardPrefix(docs: DataFrame, minJaccard: Double = 0.05)
      : DataFrame = {
    require(minJaccard > 0 && minJaccard < 1,
      "prefix filtering needs 0 < minJaccard < 1")
    // ONE pass over text: the corpus collapses to a per-doc distinct
    // hash-set frame immediately, localCheckpointed so the df join,
    // prefix cut, and both verify sides re-read the compact frame
    // instead of re-scanning + re-shingling the corpus (the previous
    // formulation paid 4 text scans); strings never leave this stage.
    val byDoc0 = docs.select(col("doc_id"), col("source"),
        array_distinct(graft.functions.GraftFunctions
          .text_shingles(tokens(col("text")), 3)).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("source"), col("doc_id"), explode(col("sh")).as("shingle"))
      .select(col("source"), col("doc_id"), xxhash64(col("shingle")).as("h"))
      .groupBy("source", "doc_id")
      .agg(collect_set(col("h")).as("hs0"))
      .localCheckpoint()
    val occ = byDoc0.select(col("source"), col("doc_id"),
      explode(col("hs0")).as("h"))
    val dfreq = occ.groupBy("source", "h").agg(count(lit(1)).as("df"))
    // rarity order via in-aggregate sort of (df, h) structs — replaces
    // the row_number + count window pair (full posting Exchange+Sort)
    // with a hash agg; the regroup rides byDoc0's (source, doc_id)
    // partitioning when AQE broadcasts dfreq (at vocabulary scale it
    // becomes the one posting shuffle the window form also paid)
    val byDoc = occ.join(dfreq, Seq("source", "h"))
      .groupBy("source", "doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("dh"))
      .select(col("source"), col("doc_id"),
        expr("transform(dh, x -> x.h)").as("by_rarity"))
      .localCheckpoint()
    val prefix = byDoc.select(col("source"), col("doc_id"),
      explode(expr("slice(by_rarity, 1, cast(size(by_rarity) - " +
        s"ceil(size(by_rarity) * $minJaccard) + 1 AS INT))")).as("h"))
    // grouped pair emission (the ngramJaccardCapped pattern): sorted
    // doc list per prefix hash, each element paired with its tail
    val cand = prefix.groupBy("source", "h")
      .agg(sort_array(collect_list("doc_id")).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(col("source"), col("ds"),
        posexplode(col("ds")).as(Seq("i", "doc1")))
      .select(col("source"), col("doc1"),
        explode(slice(col("ds"), col("i") + lit(2),
          size(col("ds")))).as("doc2"))
      .distinct()
    // exact merge-Jaccard verify over 8-byte hash arrays (jaccard on
    // distinct hashes ≡ distinct shingles absent xxhash64 collisions
    // — the same assumption candidate generation already makes)
    val hsets = byDoc.select(col("source"), col("doc_id"),
      sort_array(col("by_rarity")).as("hs"))
    cand
      .join(hsets.withColumnsRenamed(
        Map("doc_id" -> "doc1", "hs" -> "hs1")), Seq("source", "doc1"))
      .join(hsets.withColumnsRenamed(
        Map("doc_id" -> "doc2", "hs" -> "hs2")), Seq("source", "doc2"))
      .withColumn("jaccard", graft.functions.GraftFunctions
        .sorted_jaccard_long(col("hs1"), col("hs2")))
      .filter(col("jaccard") >= minJaccard)
      .select("source", "doc1", "doc2", "jaccard")
  }

  /** The df-capped 3-gram pair frame shared by [[ngramJaccardCapped]]
    * and [[containmentCapped]]: (source, doc1, doc2, n_common, n1,
    * n2) over the CAPPED posting lists — both consumers score the
    * same estimator-contract adjacency, paying the posting collapse
    * once in source. */
  private def cappedPairFrame(docs: DataFrame, maxDocFreq: Int)
      : DataFrame = FrameCache.cached(docs.sparkSession,
    s"cpf:${FrameCache.planKey(docs)}:$maxDocFreq") {
    cappedPairFrameRaw(docs, maxDocFreq).localCheckpoint()
  }

  /** The lazy plan under [[cappedPairFrame]] — kept un-checkpointed
    * so plan-shape tests can still inspect the grouped generator. */
  private[graft] def cappedPairFrameRaw(docs: DataFrame,
                                        maxDocFreq: Int)
      : DataFrame = {
    val sh = docs.select(col("doc_id"), col("source"),
      array_distinct(graft.functions.GraftFunctions
        .text_shingles(tokens(col("text")), 3)).as("sh"))
      .filter(size(col("sh")) > 0)
    val posting = sh
      .select(col("source"), col("doc_id"), explode(col("sh")).as("shingle"))
      .select(col("source"), xxhash64(col("shingle")).as("h"), col("doc_id"))
    val lists = posting.groupBy("source", "h")
      .agg(sort_array(collect_list("doc_id")).as("docs"))
      .filter(size(col("docs")) <= maxDocFreq)
    val counts = lists.select(explode(col("docs")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    // docs is sorted, so pairing element i with the tail i+1.. gives
    // every doc1 < doc2 pair exactly once per shared shingle
    val common = lists
      .select(col("source"), col("docs"),
        posexplode(col("docs")).as(Seq("i", "doc1")))
      .select(col("source"), col("doc1"),
        explode(slice(col("docs"), col("i") + lit(2),
          size(col("docs")))).as("doc2"))
      .groupBy("source", "doc1", "doc2")
      .agg(count(lit(1)).as("n_common"))
    common
      .join(counts.withColumnsRenamed(
        Map("doc_id" -> "doc1", "n_sh" -> "n1")), "doc1")
      .join(counts.withColumnsRenamed(
        Map("doc_id" -> "doc2", "n_sh" -> "n2")), "doc2")
  }

  /** DF-capped n-gram Jaccard: the skew guard for adversarial
    * corpora — a stopword shingle appearing in f docs would emit f²
    * pairs; shingles with document frequency > `maxDocFreq` are cut,
    * and Jaccard is DEFINED over the capped shingle universe (set
    * sizes recomputed over kept shingles), so the result is still
    * exact for that definition and cross-engine verifiable.
    *
    * Unlike the uncapped variant's posting self-join, the cap makes
    * a GROUPED plan strictly better: aggregate postings to one doc
    * list per (source, hash) — the cap bounds the list, so the pair
    * fan-out per shingle is ≤ maxDocFreq²/2 and can be emitted by a
    * plain generator (posexplode + slice of the sorted list) with no
    * join and no window sort. One shuffle of the postings total; the
    * per-doc kept-set sizes reuse that same (source, h) Exchange. */
  def ngramJaccardCapped(docs: DataFrame, minJaccard: Double = 0.05,
                         maxDocFreq: Int = 100): DataFrame = {
    require(minJaccard > 0, "minJaccard must be > 0")
    cappedPairFrame(docs, maxDocFreq)
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("n1") + col("n2") - col("n_common")))
      .filter(col("jaccard") >= minJaccard)
      .select("source", "doc1", "doc2", "jaccard")
  }

  /** Asymmetric CONTAINMENT near-dup detection over the same
    * df-capped 3-gram frame: C = |A∩B| / min(|A|, |B|) — the
    * subset-copy signal symmetric Jaccard structurally misses (a
    * short doc quoted whole inside a long one has tiny Jaccard but
    * containment 1.0; Broder's original resemblance/containment
    * pair). All-integral score (`n_common·10⁶ div n_small` — no
    * float division anywhere), plus which doc is the contained one
    * (the smaller capped set, ties to doc1). Same estimator
    * contract and plan shape as [[ngramJaccardCapped]]: capped
    * posting lists bound the pair fan-out, sets never ride a
    * shuffle, scoring is a narrow integer map over the pair frame. */
  def containmentCapped(docs: DataFrame,
                        minContainmentPpm: Long = 600000L,
                        maxDocFreq: Int = 100): DataFrame =
    cappedPairFrame(docs, maxDocFreq)
      .withColumn("n_small", least(col("n1"), col("n2")))
      .withColumn("containment_ppm",
        expr("n_common * 1000000 div n_small"))
      .filter(col("containment_ppm") >= minContainmentPpm)
      .withColumn("contained_doc",
        when(col("n1") <= col("n2"), col("doc1")).otherwise(col("doc2")))
      .select("source", "doc1", "doc2", "n_common", "n_small",
        "containment_ppm", "contained_doc")

  /** Okapi BM25 relevance of every document against a fixed term set
    * — the classic quality/relevance scorer for corpus curation.
    *
    * Deliberately the rational-idf variant, idf = (N-df+0.5)/(df+0.5)
    * WITHOUT the usual ln(): JVM Math.log tolerates 1-ulp error while
    * glibc's is correctly rounded, so a log in the score would make
    * the cross-engine hash gate flaky. All remaining arithmetic is
    * IEEE +,*,/ evaluated in the same order in both engines; per-term
    * scores pass through DECIMAL(18,6) so the per-doc sum is
    * order-independent.
    *
    * Scale: one scan; tf shuffles only tokens matching the term list
    * (filter before the shuffle), df and the corpus stats are scalar
    * broadcasts. */
  def bm25(docs: DataFrame, terms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val d = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val dl = d.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
    val stats = dl.agg(
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"),
      count(lit(1)).as("n"))
    val tf = d.select(col("doc_id"), explode(col("toks")).as("t"))
      .filter(col("t").isInCollection(terms))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy("t").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfc), "t")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        (((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          ((col("tf") * lit(k1 + 1)) /
            (col("tf") + lit(k1) * (lit(1.0 - b) +
              lit(b) * (col("dl") / col("avgdl"))))))
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("s"))
      .groupBy("doc_id").agg(sum(col("s")).cast("double").as("bm25"))
  }

  /** Per-document repetition ratio: share of the document's 3-gram
    * occurrences taken by its single most repeated 3-gram — the
    * standard boilerplate/spam signal (high ratio = template text).
    * Shingles shuffle as 8-byte hashes, never strings. */
  def repetition(docs: DataFrame): DataFrame = {
    val sh = docs.select(col("doc_id"),
      graft.functions.GraftFunctions
        .text_shingles(tokens(col("text")), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    sh.select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("h"))
      .groupBy("doc_id", "h").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg((max("c").cast("double") / sum("c")).as("rep_ratio"),
        max("c").cast("long").as("max_rep"))
  }

  /** Per-source token-length quantile summary — the corpus-shape
    * report a curation run starts from. Exact continuous-interpolation
    * percentiles (swap for approx_percentile's t-digest at the 100 TB
    * accuracy/memory budget; the plan shape is identical). */
  def sourcePercentiles(docs: DataFrame): DataFrame =
    docs.select(col("source"), size(tokens(col("text"))).as("tok"))
      .groupBy("source")
      .agg(expr("percentile(tok, 0.5)").as("p50"),
        expr("percentile(tok, 0.9)").as("p90"),
        expr("percentile(tok, 0.99)").as("p99"),
        count(lit(1)).as("n"))

  /** Dedup cascade verify stage: n-gram Jaccard proposes candidate
    * pairs (cheap, hash-based), edit distance on a text prefix
    * confirms them (expensive, exact) — the standard two-stage
    * near-dup pipeline where the quadratic-cost metric only ever
    * runs on the candidate set, never the corpus. */
  def editVerify(docs: DataFrame, minJaccard: Double = 0.2,
                 prefixLen: Int = 64): DataFrame = {
    val pairs = ngramJaccardShared(docs, minJaccard)
    val pfx = docs.select(col("doc_id"),
      substring(lower(col("text")), 1, prefixLen).as("pfx"))
    pairs
      .join(pfx.withColumnsRenamed(
        Map("doc_id" -> "doc1", "pfx" -> "p1")), "doc1")
      .join(pfx.withColumnsRenamed(
        Map("doc_id" -> "doc2", "pfx" -> "p2")), "doc2")
      .select(col("source"), col("doc1"), col("doc2"), col("jaccard"),
        levenshtein(col("p1"), col("p2")).cast("long").as("edit64"))
  }

  /** Cross-source overlap matrix: distinct shared 3-grams per source
    * pair — the corpus-level contamination/duplication report (which
    * crawls overlap, which are independent). Postings collapse to
    * distinct (source, hash) FIRST — the join input is O(vocabulary),
    * not O(corpus) — and only 8-byte hashes shuffle. */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    val sh = docs.select(col("source"),
        explode(array_distinct(graft.functions.GraftFunctions
          .text_shingles(tokens(col("text")), 3))).as("s"))
      .select(col("source"), xxhash64(col("s")).as("h"))
      .distinct()
    sh.select(col("source").as("source1"), col("h"))
      .join(sh.select(col("source").as("source2"), col("h")), "h")
      .filter(col("source1") < col("source2"))
      .groupBy("source1", "source2")
      .agg(count(lit(1)).as("n_common"))
  }

  /** End-to-end training-data filter pipeline: per-document quality
    * metrics + exact dedup (keep lowest doc_id per content hash) +
    * threshold filters, composed into ONE plan — a single scan, one
    * shuffle (on the content hash for the dedup window), filters
    * evaluated before anything wide. This is the composed form of
    * textQuality + Dedup.exact a 100 TB curation job would run. */
  def qualityFilterPipeline(docs: DataFrame, minTokens: Long = 5,
                            maxTokens: Long = 1000,
                            minUniqRatio: Double = 0.3): DataFrame =
    docs
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_uniq", size(array_distinct(col("toks"))).cast("long"))
      .withColumn("uniq_ratio", col("n_uniq").cast("double") / col("n_tokens"))
      .withColumn("n_stop",
        size(filter(col("toks"), t => t.isInCollection(stopwords))).cast("long"))
      .withColumn("quality_score",
        (col("n_uniq").cast("double") / col("n_tokens")) * lit(0.6) +
          (lit(1.0) - col("n_stop").cast("double") / col("n_tokens")) * lit(0.4))
      .withColumn("content_hash", md5(lower(trim(col("text")))))
      .withColumn("keep_id",
        min("doc_id").over(org.apache.spark.sql.expressions.Window
          .partitionBy("content_hash")))
      .filter(col("doc_id") === col("keep_id") &&
        col("n_tokens").between(minTokens, maxTokens) &&
        col("uniq_ratio") >= minUniqRatio)
      .select("doc_id", "lang", "n_tokens", "uniq_ratio", "quality_score")

  /** Deterministic stratified sampling: per-language rates via a
    * hash-bucket predicate (first hex digit of md5(doc_id)), so the
    * sample is reproducible across engines, runs, and cluster sizes —
    * no RNG state, pure map over the scan. en keeps 8/16 buckets
    * (50%), everything else 2/16 (12.5%). */
  def stratifiedSample(docs: DataFrame): DataFrame =
    docs
      .withColumn("h", substring(md5(col("doc_id").cast("string")), 1, 1))
      .filter(
        (col("lang") === "en" &&
          col("h").isin("0", "1", "2", "3", "4", "5", "6", "7")) ||
        (col("lang") =!= "en" && col("h").isin("0", "1")))
      .select("doc_id", "lang", "h")

  /** Corpus-level term statistics: document frequency of each
    * distinct token, top-k. The explode→groupBy inverted-index shape;
    * partial aggregation collapses per-partition duplicates before
    * the shuffle, and TakeOrdered avoids a global sort. */
  def termStats(docs: DataFrame, k: Int = 50): DataFrame =
    docs
      .select(explode(array_distinct(tokens(col("text")))).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("term"))
      .limit(k)

  /** Content fingerprint: md5 over the sorted distinct token set —
    * whitespace/word-order-insensitive document identity. */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      md5(concat_ws(" ", array_sort(array_distinct(tokens(col("text"))))))
        .as("content_fp"),
      md5(lower(trim(col("text")))).as("exact_fp"))

  /** Canonical text normalization: markup tags stripped, lowercased,
    * whitespace runs collapsed to single spaces, trimmed — the
    * standard cleaning pass before exact dedup so trivial variants
    * (case, spacing, residual markup) collapse to one form.
    *
    * The whitespace class is written explicitly ([ \t\n\r\f]) rather
    * than \s: Java's \s additionally matches \x0B while RE2's does
    * not, and the explicit class keeps the transform byte-identical
    * across engines. Pure codegen'd map over the scan — no shuffle.
    */
  def normText(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(regexp_replace(
      lower(regexp_replace(c, "<[^>]*>", " ")),
      "[ \t\n\r\f]+", " "))

  /** Per-document normalization record: normalized text, its md5
    * (the key normalized dedup groups on), raw/normalized lengths,
    * and a 0/1 changed flag (BIGINT so external engines agree on the
    * column type). */
  def normalize(docs: DataFrame): DataFrame =
    docs
      .withColumn("norm_text", normText(col("text")))
      .select(
        col("doc_id"), col("norm_text"),
        md5(col("norm_text")).as("norm_hash"),
        length(col("text")).cast("long").as("len_raw"),
        length(col("norm_text")).cast("long").as("len_norm"),
        (col("norm_text") =!= col("text")).cast("long").as("is_changed"))

  /** Normalized exact dedup: [[Dedup.exact]]'s group-by-content-hash
    * over the normalized form — catches the case/spacing/markup
    * variants a raw-byte hash misses, at identical cost (one
    * hash-shuffle of (hash, doc_id); text never ships). */
  def dedupNormalized(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(normText(col("text"))).as("content_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))

  /** PII scrubbing: redact emails / URLs / phone-shaped substrings
    * with typed placeholders, counting redactions. regexp_replace is
    * codegen'd — a pure map over the scan, no shuffle. Patterns stay
    * in the Java∩RE2 common subset (no lookaround) so external
    * engines agree on the matches. */
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val urlRe = "https?://[^ ]+"
  private val phoneRe = "\\+[0-9][0-9-]{6,}[0-9]"
  def piiScrub(docs: DataFrame,
               textCol: org.apache.spark.sql.Column = col("text")): DataFrame =
    docs.select(
      col("doc_id"),
      regexp_replace(regexp_replace(regexp_replace(textCol,
        urlRe, "<URL>"), emailRe, "<EMAIL>"), phoneRe, "<PHONE>")
        .as("clean_text"),
      (regexp_count(textCol, lit(urlRe)) +
        regexp_count(regexp_replace(textCol, urlRe, "<URL>"), lit(emailRe)) +
        regexp_count(regexp_replace(regexp_replace(textCol, urlRe, "<URL>"),
          emailRe, "<EMAIL>"), lit(phoneRe))).cast("long").as("n_redactions"))

  /** Benchmark-contamination check: flag corpus documents sharing at
    * least one distinct 3-gram shingle with any benchmark document
    * (`benchPred` selects the benchmark set). Inverted-index
    * semi-join on the shingle hash — same postings shape as
    * ngramJaccard: corpus-side postings shuffle once, benchmark
    * postings are tiny and broadcast; never a doc×doc product. */
  def contaminationCheck(docs: DataFrame,
                         benchPred: org.apache.spark.sql.Column): DataFrame = {
    val sh = docs.select(col("doc_id"), benchPred.as("is_bench"),
      array_distinct(graft.functions.GraftFunctions
        .text_shingles(tokens(col("text")), 3)).as("sh"))
      .filter(size(col("sh")) > 0)
    val posting = sh.select(col("doc_id"), col("is_bench"),
      explode(col("sh")).as("shingle"))
      .select(col("doc_id"), col("is_bench"),
        xxhash64(col("shingle")).as("h"))
    val bench = posting.filter(col("is_bench"))
      .select(col("h"), col("doc_id").as("bench_id"))
    posting.filter(!col("is_bench"))
      .join(org.apache.spark.sql.functions.broadcast(bench), Seq("h"))
      .groupBy("doc_id")
      .agg(countDistinct("bench_id").as("n_bench_docs"),
        countDistinct("h").as("n_shared_shingles"))
  }

  /** Document chunking for training/RAG: fixed-size token windows
    * with stride (overlap = size - stride). Pure generator explode —
    * narrow, no shuffle; chunk k of a doc covers tokens
    * [k*stride, k*stride + size). */
  def docChunks(docs: DataFrame, size: Int = 50, stride: Int = 40)
      : DataFrame = {
    require(stride >= 1 && stride <= size,
      s"stride must be in [1, size] (got stride=$stride size=$size)")
    docs
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens",
        org.apache.spark.sql.functions.size(col("toks")).cast("long"))
      .withColumn("chunk_id", explode(sequence(lit(0L),
        greatest(lit(0L), ceil((col("n_tokens") - size).cast("double") / stride)
          .cast("long")))))
      .select(col("doc_id"), col("chunk_id"),
        concat_ws(" ", slice(col("toks"),
          (col("chunk_id") * stride + 1).cast("int"), lit(size))).as("chunk_text"),
        least(lit(size.toLong),
          col("n_tokens") - col("chunk_id") * stride).as("chunk_tokens"))
  }

  /** Chunk-level (paragraph) dedup — boilerplate detection: chunk
    * every document into token windows, fingerprint each chunk, and
    * report fingerprints that recur across DISTINCT documents (the
    * repeated headers / footers / templates that survive doc-level
    * dedup because their carrier documents differ). Only (hash,
    * doc_id) pairs shuffle — chunk text reduces to md5 on the map
    * side; the cross-doc requirement uses the two-level
    * distinct-then-count shape (never countDistinct over raw text).
    * Non-overlapping stride so a repeated passage can't pair a
    * document with itself through shifted windows. */
  def chunkDedup(docs: DataFrame, size: Int = 50,
                 minDocs: Int = 2): DataFrame =
    docChunks(docs, size = size, stride = size)
      .select(col("doc_id"),
        md5(lower(col("chunk_text"))).as("chunk_hash"))
      .distinct()
      .groupBy("chunk_hash")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"))
      .filter(col("n_docs") >= minDocs)

  /** Per-source corpus statistics: the per-domain quality dashboard a
    * curation job reads — doc counts, token totals (exact decimal),
    * quality-threshold shares. One partial-aggregable pass. */
  def sourceStats(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_uniq", size(array_distinct(col("toks"))).cast("long"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        (sum(col("n_tokens")).cast("double") / count(lit(1)))
          .as("mean_tokens"),
        sum(when(col("n_uniq").cast("double") / col("n_tokens") >= 0.5, 1L)
          .otherwise(0L)).as("n_high_uniq"),
        min("n_tokens").as("min_tokens"),
        max("n_tokens").as("max_tokens"))

  /** Token-length histogram: docs bucketed by token count (bucket
    * width `width`) — the length-distribution pass that sizes
    * training mixtures. */
  def tokenHistogram(docs: DataFrame, width: Int = 50): DataFrame =
    docs
      .withColumn("n_tokens", size(tokens(col("text"))).cast("long"))
      .groupBy((floor(col("n_tokens") / width) * width).as("bucket_lo"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))

  /** Per-source top-k terms by corpus TF-IDF: the "what characterizes
    * this domain" pass of a curation dashboard. Classic tf·idf with a
    * rational idf (N+1)/(df+1) — no log, so the score is ONE double
    * division of exact integers and bit-identical across engines
    * (summation-order-independent: tf and df are integer counts).
    *
    * Scale: two partial-aggregable shuffles over the exploded tokens
    * — (source, term) occurrence counts and per-term document
    * frequency from a distinct (term, doc) pass; the ranked window
    * runs over the per-source VOCABULARY (≪ corpus). The corpus
    * count is a broadcast scalar. */
  def tfidfTopTerms(docs: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs
      .select(col("doc_id"), col("source"),
        explode(tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
    val tf = toks.groupBy("source", "term")
      .agg(count(lit(1)).as("tf_sum"))
    val dfreq = toks.select("term", "doc_id").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      // exact BIGINT numerator, one IEEE division — deterministic
      .withColumn("score",
        (col("tf_sum") * (col("n_docs") + lit(1L))).cast("double") /
          (col("df") + lit(1L)).cast("double"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("source")
          .orderBy(col("score").desc, col("term"))).cast("long"))
      .filter(col("rnk") <= k)
      .select("source", "term", "tf_sum", "df", "score", "rnk")
  }

  /** Language-ID confusion matrix: labeled vs predicted counts — the
    * audit view that tells a curation pipeline WHERE the heuristic
    * classifier disagrees with upstream labels (and by how much)
    * before anyone filters on it. Pure map (langId) + one tiny
    * partial-aggregable groupBy over a 5x5 key space. */
  def langConfusion(docs: DataFrame): DataFrame =
    langId(docs)
      .groupBy("labeled_lang", "predicted_lang")
      .agg(count(lit(1)).as("n_docs"))

  /** Per-source distinct-token counts, exact AND via the mergeable
    * KMV sketch side by side — the audit view for choosing sketch
    * parameters before pointing the sketch at a corpus too large to
    * count exactly. The sketch aggregate carries at most k longs per
    * group through the shuffle (map-side partials, bounded merges)
    * where count_distinct shuffles every distinct token; k=16 keeps
    * the estimator branch exercised even at tiny SF. Deterministic
    * KMV over the md5 hash family — DuckDB re-derives the identical
    * estimate from the k-th smallest hash, so the sketch itself sits
    * inside the hash-exact gate (impossible for HLL). */
  def distinctTokensSketch(docs: DataFrame, k: Int = 16): DataFrame = {
    val toksDf = docs
      .select(col("source"), explode(tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .withColumn("h",
        conv(substring(md5(col("term")), 1, 15), 16, 10).cast("long"))
    toksDf.groupBy("source")
      .agg(count_distinct(col("term")).as("n_exact"),
        graft.functions.KmvSketch.kmv_distinct(col("h"), k).as("n_est"))
  }

  /** Per-document n-gram novelty: the fraction of a doc's distinct
    * 3-gram shingles that no earlier doc (smaller doc_id) contains —
    * the "marginal diversity" score a curation job uses to order or
    * down-weight redundant additions to a corpus.
    *
    * No pair join at all: each shingle hash is reduced to its
    * MINIMUM doc_id (partial-aggregable), and that single row per
    * shingle credits one novel shingle to the introducing doc — a
    * second small aggregation. Only (hash, doc_id) rides either
    * shuffle; at 100 TB this is two map-side-combined exchanges of
    * 16-byte rows. The 60-bit md5-prefix hash is the engine's
    * auditable cross-engine family (identical in SQL, so even a
    * collision agrees on both sides). */
  def textNovelty(docs: DataFrame): DataFrame = {
    val sh = docs.select(col("doc_id"),
        array_distinct(graft.functions.GraftFunctions
          .text_shingles(tokens(col("text")), 3)).as("sh"))
      .filter(size(col("sh")) > 0)
    val totals = sh.select(col("doc_id"),
      size(col("sh")).cast("long").as("n_sh"))
    val novel = sh
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"),
        conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("h"))
      .groupBy("h").agg(min("doc_id").as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
    totals.join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        (coalesce(col("n_novel"), lit(0L)).cast("double") / col("n_sh"))
          .as("novelty"))
  }

  /** Collocation mining: the top bigrams by occurrence with their
    * LIFT over independence, lift = P(ab) / (P(a)·P(b)) — the
    * rational PMI surrogate (PMI itself is log(lift): same ranking,
    * but the log would break the cross-engine bit-exactness).
    * Computed in staged integer arithmetic,
    * ((n_ab · 1e6) div n_a) · N div n_b: n_ab ≤ n_a bounds the first
    * factor at 1e6, and the factor·N product rides DECIMAL(38,0)
    * (the q_decile_lift convention) so a corpus past ~9·10¹² tokens
    * (~36 TB of raw text — where the old BIGINT product wrapped
    * silently) stays exact; the final `div` lands back in BIGINT, so
    * the visible schema never changes. The floor order is pinned so
    * every engine agrees bit-for-bit (DuckDB's HUGEINT promotion
    * computes the same staged quotients).
    *
    * Scale shape: bigram + unigram counts partial-aggregate map-side
    * (the two big shuffles); the lift join happens AFTER the top-k
    * cut, so only k rows probe the unigram frame (unhinted — AQE
    * broadcasts it while small, per the house policy). */
  def collocations(docs: DataFrame, k: Int = 20): DataFrame = {
    val uni = docs
      .select(explode(tokens(col("text"))).as("term"))
      .where(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    val total = uni.agg(sum("cnt").as("n_total"))
    val top = docs
      .select(explode(graft.functions.GraftFunctions
        .text_shingles(tokens(col("text")), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n_ab"))
      .withColumn("a", split(col("bigram"), " ").getItem(0))
      .withColumn("b", split(col("bigram"), " ").getItem(1))
      // empty parts (double spaces in the raw text) have no unigram
      // row — drop them BEFORE the cut so the result keeps k rows
      .where(col("a") =!= "" && col("b") =!= "")
      .orderBy(col("n_ab").desc, col("bigram"))
      .limit(k)
    top
      .join(uni.select(col("term").as("a"), col("cnt").as("n_a")), "a")
      .join(uni.select(col("term").as("b"), col("cnt").as("n_b")), "b")
      .crossJoin(broadcast(total))
      .select(col("bigram"), col("n_ab"), col("n_a"), col("n_b"),
        liftPpm.as("lift_ppm"))
  }

  /** The staged-floor lift-over-independence expression over columns
    * (n_ab, n_a, n_b, n_total): ((n_ab·1e6) div n_a)·n_total div n_b
    * with the middle product in DECIMAL(38,0). n_ab ≤ n_a caps the
    * first quotient at 1e6; 1e6·n_total ≤ 9·10²⁴ fits DECIMAL(38,0)
    * for any BIGINT token total, so the expression cannot wrap at
    * corpus scale (an over-BIGINT final quotient — physically a
    * lift_ppm > 9·10¹⁸ — follows the session's ANSI overflow policy:
    * error under ANSI, NULL pre-ANSI; never a silent wrap). Exposed
    * for the adversarial-count overflow spec. */
  private[graft] def liftPpm: org.apache.spark.sql.Column =
    expr("CAST((CAST(n_ab AS DECIMAL(38,0)) * 1000000) div n_a " +
      "AS DECIMAL(38,0)) * n_total div n_b")

  /** Per-source token-distribution concentration: Gini impurity
    * 1 − Σ p² (the rational diversity score — Shannon entropy's log
    * sum would desync engines by ulps) plus the top-term share, all
    * in parts-per-1e9 integer arithmetic. One partial-aggregable
    * shuffle on (source, term), then a per-source fold; the output
    * is sources-sized. */
  def sourceDiversity(docs: DataFrame): DataFrame = {
    val counts = docs
      .select(col("source"), explode(tokens(col("text"))).as("term"))
      .where(col("term") =!= "")
      .groupBy("source", "term").agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy("source").agg(sum("cnt").as("tot"))
    counts.join(broadcast(totals), "source")
      .select(col("source"),
        expr("cnt * 1000000000 div tot").as("p"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_terms"),
        max("p").as("top_share_ppb"),
        (lit(1000000000L) - sum(expr("(p * p) div 1000000000")))
          .as("gini_ppb"))
  }

  /** Pairwise token-distribution divergence between sources: the
    * curation signal for "is source B just a skew of source A" /
    * "which mixture weights change the blend most". Chi-square
    * divergence sum_t (p_t - q_t)^2 / (p_t + q_t) instead of KL/JS:
    * chi-square is RATIONAL, so with probabilities held as
    * parts-per-1e9 integers (cnt * 1e9 div total) every contribution
    * is exact integer arithmetic — order-independent and
    * bit-identical in any engine, where a float log sum would
    * diverge by ulps across summation orders. Bounded: contribution
    * of a term present in only one source is exactly its p, so
    * chi2 ≤ 2e9 (scaled) — no overflow anywhere ((p-q)^2 ≤ 1e18).
    *
    * Scale shape: per-source term counts partial-aggregate map-side
    * (one shuffle on (source, term)); the pair frame is an inner
    * self-join on term — terms missing from one side contribute via
    * the per-source scaled totals, so NO outer join materializes the
    * vocabulary × sources cross product. Sources are few; the
    * vocabulary is the big axis and it rides one hash join. */
  def sourceDivergence(docs: DataFrame): DataFrame = {
    val counts = docs
      .select(col("source"), explode(tokens(col("text"))).as("term"))
      .where(col("term") =!= "")
      .groupBy("source", "term").agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy("source").agg(sum("cnt").as("tot"))
    val scaled = counts.join(broadcast(totals), "source")
      .select(col("source"), col("term"),
        expr("cnt * 1000000000 div tot").as("p"))
    // sum of the scaled probabilities (≈ 1e9 minus div-floor dust):
    // the exact mass each source carries after scaling — the absent-
    // term contributions below must use THIS, not the nominal 1e9
    val mass = scaled.groupBy("source").agg(sum("p").as("mass"))
    val a = scaled.select(col("source").as("source_a"),
      col("term"), col("p"))
    val b = scaled.select(col("source").as("source_b"),
      col("term"), col("p").as("q"))
    val shared = a.join(b, "term")
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(
        sum(expr("(p - q) * (p - q) div (p + q)")).as("chi2_shared"),
        sum("p").as("shared_p"),
        sum("q").as("shared_q"),
        count(lit(1)).as("n_shared_terms"))
    // pair frame from the tiny per-source mass — a LEFT join so a
    // pair sharing zero terms still appears (it is the maximally
    // divergent pair: chi2 = mass_a + mass_b), instead of silently
    // dropping out of the inner join
    val pairs = mass
      .select(col("source").as("source_a"), col("mass").as("mass_a"))
      .crossJoin(mass.select(col("source").as("source_b"),
        col("mass").as("mass_b")))
      .filter(col("source_a") < col("source_b"))
    // broadcast the per-pair aggregates (the BUILD side — the
    // preserved pair frame can't be the broadcast side of a left
    // outer join)
    pairs
      .join(broadcast(shared), Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        coalesce(col("n_shared_terms"), lit(0L)).as("n_shared_terms"),
        (coalesce(col("chi2_shared"), lit(0L)) +
          (col("mass_a") - coalesce(col("shared_p"), lit(0L))) +
          (col("mass_b") - coalesce(col("shared_q"), lit(0L))))
          .as("chi2_scaled"))
      .withColumn("chi2", col("chi2_scaled").cast("double") / lit(1e9))
  }

  /** Bigram fluency score: per-doc mean conditional bigram
    * probability P(w2 | w1) under the corpus's own bigram language
    * model, in parts-per-million INTEGER arithmetic — the
    * model-free fluency proxy (word salad scores low because its
    * transitions are rare corpus-wide; natural prose rides frequent
    * transitions). The standard perplexity would exponentiate a mean
    * LOG probability — libm ulp divergence across engines — so the
    * score is the arithmetic mean instead: same signal direction,
    * exact integers end to end (floor ppm per bigram, floor mean).
    *
    * Plan: bigram occurrences explode once (narrow generator);
    * corpus bigram counts and left-token counts are two
    * partial-aggregable shuffles over 8-byte-keyed rows; the
    * occurrence->model join keys on the bigram. At 100 TB the bigram
    * vocabulary table is the shuffled object, never document text. */
  def bigramFluency(docs: DataFrame): DataFrame = {
    val bi = docs
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), posexplode(col("tk")).as(Seq("i", "w1")),
        col("tk"))
      .filter(col("i") < size(col("tk")) - 1)
      .select(col("doc_id"), col("w1"),
        element_at(col("tk"), col("i") + 2).as("w2"))
    val c2 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy("w1").agg(sum("c2").as("c1"))
    val model = c2.join(c1, "w1")
      .select(col("w1"), col("w2"),
        expr("c2 * 1000000 div c1").as("p_ppm"))
    bi.join(model, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(p_ppm) div count(*)").as("fluency_ppm"))
  }

  /** Unigram surprisal score: per-doc mean token rarity under the
    * corpus's own unigram language model — the CCNet-style
    * perplexity quality filter (docs whose vocabulary is corpus-rare
    * score high; stopword-heavy fluent prose scores low), without
    * the libm log that would ulp-diverge across engines: the
    * per-token surprisal is the INTEGER bit-length proxy
    * `floor(log2(T)) − floor(log2(c))` (T = corpus token mass,
    * c = token count), exact on both engines (`bin()` length here,
    * binary `format` length in the oracle), within 1 bit of the
    * true log2 ratio per token and averaging to a fine-grained
    * per-doc score in millibits.
    *
    * Plan: tokens explode once (narrow generator); the unigram model
    * is ONE partial-aggregable count shuffle over token-keyed rows;
    * the corpus total is a broadcast scalar folded into the model
    * frame, and the occurrence→model join keys on the TOKEN — at
    * 100 TB the shuffled object is the vocabulary count table,
    * never document text. Same shape as [[bigramFluency]] one
    * n-gram order down, but log-scaled: the signals differ (fluency
    * is transition-mass, surprisal is vocabulary rarity). */
  def unigramSurprisal(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(tokens(col("text"))).as("t"))
    tok.join(unigramModel(docs), "t")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        expr("sum(s_bits) * 1000 div count(*)").as("surprisal_milli"))
  }

  /** Token-entropy scoring: each doc's Shannon entropy over its OWN
    * token histogram, in millibits — the doc-internal diversity
    * signal ([[unigramSurprisal]] is corpus-relative rarity; this is
    * the information-theoretic refinement of the distinct-ratio
    * lexical-diversity and repetition heuristics: keyword-stuffed or
    * looping text collapses toward 0, natural prose sits near
    * log2(vocab)). Uses the same exact integer bit-length log2 proxy
    * as the surprisal family, folded through the identity
    * `Σ tf·(⌊log2 n⌋ − ⌊log2 tf⌋) = n·⌊log2 n⌋ − Σ tf·⌊log2 tf⌋`, so
    * the whole score is ONE aggregation over (doc, token) counts —
    * no self-join, no window, no second pass for the doc total.
    * Exact at the distribution's ends (all-same → 0; all-distinct →
    * ⌊log2 n⌋·1000), within a bit per term between — deterministic
    * on any engine, which a libm-log entropy is not.
    *
    * Plan: tokens explode narrowly; two partial-aggregable count
    * shuffles, first keyed (doc_id, token), then doc_id — document
    * text itself never rides a shuffle at any corpus size. */
  def tokenEntropy(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
      .withColumn("fl_tf", (length(bin(col("tf"))) - 1).cast("long"))
      .groupBy("doc_id")
      .agg(sum("tf").as("n"), sum(expr("tf * fl_tf")).as("s1"))
      .select(col("doc_id"), col("n").as("n_tokens"),
        expr("(n * (length(bin(n)) - 1) - s1) * 1000 div n")
          .as("entropy_milli"))

  /** The frozen (token → surprisal-bits) unigram model behind
    * [[unigramSurprisal]], exposed so a serving path (e.g. the
    * streaming ingest filter) can train once on the static corpus
    * and score forever against the same model. */
  def unigramModel(docs: DataFrame): DataFrame = {
    val counts = docs.select(explode(tokens(col("text"))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
    val total = counts.agg(sum("c").as("bigt"))
    counts.crossJoin(broadcast(total))
      .select(col("t"),
        (length(bin(col("bigt"))) - length(bin(col("c"))))
          .cast("long").as("s_bits"))
  }

  /** Per-document keyword extraction: top-k terms by tf·idf with the
    * linear idf (score = tf·1e6 div df) — all-BIGINT, so ranking is
    * bit-identical on any engine (a log-idf double would make
    * near-tie ranks rounding-dependent). Ties break on the term
    * itself: fully deterministic top-k.
    *
    * Plan: tokens explode once; tf and df are partial-aggregable
    * counts; the tf↔df join keys on the TERM (counts only — document
    * text never rides a shuffle), and the final top-k is a bounded
    * per-doc_id window. At 100 TB the widest object is the
    * vocabulary-keyed count table. */
  def keywords(docs: DataFrame, k: Int = 3): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .filter(length(col("t")) >= 3 && !col("t").isInCollection(stopwords))
    val tf = toks.groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy("t").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    tf.join(dfc, "t")
      .select(col("doc_id"), col("t").as("term"), col("tf"), col("df"),
        expr("(tf * 1000000L) div df").as("score"))
      .withColumn("kw_rank", row_number().over(w).cast("long"))
      .filter(col("kw_rank") <= k)
  }

  /** Cross-document boilerplate detection: the n-grams shared by the
    * most documents are boilerplate (headers, footers, license
    * blurbs); each document then reports what fraction of its n-gram
    * positions a top-K boilerplate gram covers. The LLM-pipeline use
    * is pre-training cleanup — docs with a high boilerplate fraction
    * are template pages, not prose.
    *
    * Shape at scale: the gram explode is a NARROW constant-factor
    * map (per-position shingles from the codegen `text_shingles`); doc
    * frequency partial-aggregates on the gram key; the boilerplate
    * set is K rows → broadcast semi-join, so the only wide exchanges
    * move (gram, doc_id) pairs for the DF count and (doc_id) hits for
    * the per-doc rollup — never text. Fraction is integral ppm
    * (`hits*1e6 div positions`), bit-stable everywhere. Ties at the
    * K-th doc-frequency cut break on the gram string — a total,
    * engine-independent order. */
  def boilerplate(docs: DataFrame, n: Int = 5, topK: Int = 20): DataFrame = {
    val grams = docs
      .select(col("doc_id"), graft.functions.GraftFunctions
        .text_shingles(tokens(col("text")), n).as("g"))
      .filter(size(col("g")) > 0)
    val occ = grams.select(col("doc_id"), explode(col("g")).as("gram"))
    val top = occ.groupBy("gram")
      .agg(count_distinct(col("doc_id")).as("df"))
      .orderBy(col("df").desc, col("gram")).limit(topK)
    val counts = grams.select(col("doc_id"),
      size(col("g")).cast("long").as("n_grams"))
    val hits = occ.join(broadcast(top.select("gram")), Seq("gram"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("boiler_hits"))
    counts.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("boiler_hits"), lit(0L)).as("boiler_hits"))
      .withColumn("boiler_ppm",
        expr("boiler_hits * 1000000 div n_grams"))
  }

  /** Gopher-style duplicate-n-gram fractions (Rae et al. 2021 §A1.1
    * repetition filters): for n ∈ {2,3,4}, the share of a document's
    * n-gram occurrences that are repeats of an earlier occurrence —
    * the intra-doc redundancy signal quality pipelines threshold on
    * (the cross-doc twin is [[graft.operators.Dedup.substringRepetition]]).
    *
    * Deliberately a ZERO-SHUFFLE op: every metric is a per-row
    * computation over the doc's own shingle arrays (codegen
    * `text_shingles` + size/array_distinct), so the plan is one scan
    * with no Exchange at any corpus size — asserted in the spec.
    * Fractions are integral ppm. */
  def dupNgrams(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"),
      tokens(col("text")).as("tk"))
    val withN = Seq(2, 3, 4).foldLeft(base) { (df, n) =>
      df.withColumn(s"sh$n",
        graft.functions.GraftFunctions.text_shingles(col("tk"), n))
    }
    Seq(2, 3, 4).foldLeft(withN) { (df, n) =>
        df.withColumn(s"dup${n}_ppm",
          when(size(col(s"sh$n")) > 0,
            expr(s"(size(sh$n) - size(array_distinct(sh$n))) * 1000000L " +
              s"div size(sh$n)")).otherwise(0L))
      }
      .select(col("doc_id"), col("dup2_ppm"), col("dup3_ppm"),
        col("dup4_ppm"))
  }

  /** Padding-waste planner: for each candidate context length, how
    * many slots naive per-document padding would burn vs the token
    * volume — the number that decides whether sequence packing
    * ([[Packing]]) is worth its shuffle and which context length to
    * train at. Per (doc, C): padded = ceil(n/C)·C; everything is an
    * exact integral aggregate (waste in ppm of padded slots). The
    * explode factor is |lengths| (a constant), the rollup key space
    * is |lengths| — one partial-aggregable pass. */
  def paddingWaste(docs: DataFrame,
                   lengths: Seq[Int] = Seq(512, 1024, 2048)): DataFrame = {
    val toks = docs.select(
      size(tokens(col("text"))).cast("long").as("n_tok"))
    toks
      .select(col("n_tok"), explode(lit(lengths.toArray)).as("ctx"))
      .groupBy("ctx")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("total_tokens"),
        sum(expr("(CAST(n_tok + ctx - 1 AS BIGINT) div ctx) * ctx"))
          .as("padded_slots"))
      .withColumn("waste_ppm",
        expr("CAST((padded_slots - total_tokens) AS DECIMAL(38,0)) " +
          "* 1000000 div padded_slots"))
      .select("ctx", "n_docs", "total_tokens", "padded_slots", "waste_ppm")
  }

  /** Vocabulary-growth curve (Heaps' law audit): distinct vocabulary
    * size after 10% / 50% / 100% of the corpus (by doc id order) —
    * the saturation signal that tells a tokenizer/dedup pipeline
    * whether more data still brings new types. A term's ENTIRE
    * contribution reduces to its first-seen doc id (min — partial
    * aggregable), so the curve is |vocab| rows joined against the
    * three cut ids, never a cumulative distinct over the corpus.
    * Cut ids come from exact percentiles of the doc-id frame
    * broadcast back (value-based, no rank sort). */
  def vocabGrowth(docs: DataFrame): DataFrame = {
    val firstSeen = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .filter(col("t") =!= "")
      .groupBy("t").agg(min("doc_id").as("first_doc"))
    val cuts = docs.agg(
      expr("percentile(doc_id, 0.1)").as("c10"),
      expr("percentile(doc_id, 0.5)").as("c50"),
      max("doc_id").cast("double").as("c100"))
    firstSeen.crossJoin(broadcast(cuts))
      .select(explode(array(
        struct(lit(10L).as("pct"), (col("first_doc") <= col("c10")).as("in")),
        struct(lit(50L).as("pct"), (col("first_doc") <= col("c50")).as("in")),
        struct(lit(100L).as("pct"), (col("first_doc") <= col("c100")).as("in"))))
        .as("s"))
      .filter(col("s.in"))
      .groupBy(col("s.pct").as("pct"))
      .agg(count(lit(1)).as("vocab_size"))
  }

  /** Gopher-style rule-based quality gate (Rae et al. 2021, table
    * A1 adapted to the space-tokenized corpus): the four cheap
    * structural rules a 100 TB pre-filter applies before any model
    * scoring — word count in [50, 100 000], mean word length in
    * [3, 10] (exact milli-chars: 1000·Σlen div n), ≥ 80% alphabetic
    * words, ≥ 2 distinct stopwords present. Per doc: the measured
    * values, how many rules passed, and the admit bit — integral
    * ppm/milli arithmetic end to end so the verdict is hash-exact.
    * ONE per-row scan, zero exchanges at any corpus size (the
    * dupNgrams contract): every rule reads only the doc's own token
    * array. */
  def gopherRules(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_words"),
        expr("1000 * aggregate(transform(toks, t -> length(t))," +
          " CAST(0 AS BIGINT), (a, x) -> a + x) div size(toks)")
          .as("mean_wlen_milli"),
        expr("size(filter(toks, t -> t RLIKE '^[a-z]+$'))" +
          " * CAST(1000000 AS BIGINT) div size(toks)").as("alpha_ppm"),
        size(array_intersect(array_distinct(col("toks")),
          array(stopwords.map(lit): _*))).cast("long").as("n_stop"))
      .select(col("*"),
        (when(col("n_words").between(50L, 100000L), 1L).otherwise(0L) +
          when(col("mean_wlen_milli").between(3000L, 10000L), 1L)
            .otherwise(0L) +
          when(col("alpha_ppm") >= 800000L, 1L).otherwise(0L) +
          when(col("n_stop") >= 2L, 1L).otherwise(0L)).as("rules_passed"))
      .withColumn("admit", when(col("rules_passed") === 4L, 1L)
        .otherwise(0L))

  /** Source × language token matrix — the wide-format mixture
    * dashboard (one row per source, one column per language) a
    * training-mix owner reads, vs the long-format rollups the other
    * lang ops emit. Realized as a true Catalyst PIVOT with an
    * EXPLICIT value list (the corpus's fixed lang domain — passing
    * the list keeps the plan a single groupBy, no distinct-values
    * pre-job, which is the only pivot shape that belongs at 100 TB;
    * a deployment derives the domain once from config, not per
    * query). Absent cells coalesce to 0 so the matrix is dense and
    * hash-exact. */
  def langSourceMatrix(docs: DataFrame,
                       langs: Seq[String] =
                         Seq("de", "en", "es", "fr", "zh")): DataFrame = {
    val wide = docs
      .select(col("source"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy("source").pivot("lang", langs).agg(sum("n_tok"))
    val cells = langs.map(l => coalesce(col(l), lit(0L)).as(s"toks_$l"))
    wide.select(col("source") +: cells: _*)
      .withColumn("toks_total",
        langs.map(l => col(s"toks_$l")).reduce(_ + _))
  }

  /** Per-document charset profile: the byte-class ratios (ascii
    * letters, digits, whitespace, other) data-cleaning pipelines
    * threshold on — mojibake and binary-spill detectors. Pure
    * per-row regexp_replace length arithmetic in integral ppm: one
    * scan, ZERO exchanges (the dupNgrams contract). */
  def charsetProfile(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        length(regexp_replace(col("text"), "[^a-zA-Z]", ""))
          .cast("long").as("n_alpha"),
        length(regexp_replace(col("text"), "[^0-9]", ""))
          .cast("long").as("n_digit"),
        length(regexp_replace(col("text"), "[^ ]", ""))
          .cast("long").as("n_space"))
      .filter(col("n_chars") > 0)
      .select(col("doc_id"), col("n_chars"),
        expr("n_alpha * 1000000 div n_chars").as("alpha_ppm"),
        expr("n_digit * 1000000 div n_chars").as("digit_ppm"),
        expr("n_space * 1000000 div n_chars").as("space_ppm"),
        expr("(n_chars - n_alpha - n_digit - n_space) * 1000000 " +
          "div n_chars").as("other_ppm"))

  /** Dataset card: the one-row corpus summary a training run records
    * next to its data — sizes, source/language coverage, exact
    * duplicate rate. ONE wide aggregate pass (every measure is
    * partial-aggregable, the distincts two-phase); text reduces to a
    * 16-byte fingerprint before any shuffle. */
  def datasetCard(docs: DataFrame): DataFrame =
    docs.select(col("source"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n_tok"),
        length(col("text")).cast("long").as("n_chars"),
        md5(lower(trim(col("text")))).as("fp"))
      .agg(
        count(lit(1)).as("n_docs"),
        count_distinct(col("source")).as("n_sources"),
        count_distinct(col("lang")).as("n_langs"),
        sum("n_tok").as("total_tokens"),
        sum("n_chars").as("total_chars"),
        count_distinct(col("fp")).as("n_unique_docs"))
      .select(col("*"),
        expr("total_tokens div n_docs").as("mean_tokens"),
        expr("(n_docs - n_unique_docs) * 1000000 div n_docs")
          .as("dup_ppm"))

  /** BPE merge training ([[bpePairs]] is round zero's counting; this
    * is the actual LOOP): `rounds` greedy merges, each picking the
    * most frequent adjacent symbol pair and fusing it corpus-wide.
    * The classic implementation detail that makes it scale: merges
    * operate on the VOCABULARY frame (distinct words weighted by
    * occurrence count — localCheckpointed once), never the token
    * stream, so each round is a small-frame aggregate + a narrow
    * string rewrite. Symbol sequences are space-delimited and
    * space-padded, so the pair pattern ` a b ` can never match
    * inside a fused symbol, and `replace`'s left-to-right
    * non-overlapping scan IS greedy BPE ("l l l" → "ll l") — the
    * same contract in DuckDB's replace(). Ties break on the
    * space-joined pair string (space sorts below every symbol char,
    * making concat order = tuple order). Driver state is one row
    * per merge.
    *
    * `batch` > 1 is the multi-merge round: ONE pair-count pass
    * selects the top-`batch` pairs whose SYMBOL SETS are mutually
    * disjoint (rank order preserved; a pair sharing a symbol with an
    * earlier selection this round is skipped, because replacing
    * ' a b ' cannot move any ' c d ' occurrence when {a,b} ∩ {c,d}
    * = ∅ — disjointness is exactly the condition that makes the m
    * replaces order-free and count-exact), and applies them as one
    * chained replace projection — cutting the driver round-trips
    * (and the count-shuffle passes, the loop's real cost) by ~batch×.
    * Recorded pair_count is the shared pass's count: exact for every
    * selected pair by the disjointness argument. batch = 1 is the
    * textbook loop and the gate contract. NOTE: batch > 1 is an
    * approximation of the greedy ORDER, not just a reordering — a
    * merge can CREATE a new pair containing the fused symbol (merge
    * 'a b' in "x a b" births 'x ab') that sequential BPE would rank
    * ahead of this round's second disjoint pick; within a round
    * newly-created pairs are never considered, so the emitted merge
    * SEQUENCE can differ from batch = 1 even when disjoint picks
    * exist. Counts stay exact per selected pair; use batch = 1
    * whenever the canonical greedy sequence itself is the contract. Measured at sf0.1,
    * rounds = 16 (warm): 4.26 s at batch = 1 → 1.07 s at batch = 4
    * → 0.87 s at batch = 8 (4.0×/4.9× — the driver-round-trip +
    * count-shuffle pass count, 16 → 4 → 2, is the whole story;
    * selection found `batch` disjoint pairs every round on the
    * documents corpus, and the first merge agrees across batch
    * settings). */
  def bpeTrain(docs: DataFrame, rounds: Int = 2, batch: Int = 1)
      : DataFrame = {
    val words = docs.select(explode(tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[a-z0-9]+$") && length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(concat(lit(" "),
        array_join(split(col("w"), ""), " "), lit(" ")).as("s"),
        col("cnt"))
      .localCheckpoint()
    var cur = words
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    var drained = false
    while (merges.size < rounds && !drained) {
      val want = math.min(batch, rounds - merges.size)
      // 8× headroom: greedy disjoint selection over the top ranks
      // IF guard: a fully-fused word has ONE symbol, and the raw
      // sequence(1, 0) would evaluate descending into syms[1] — the
      // same ANSI-indexing trap as the CDC bounds (latent in the
      // 2-round form, certain at 16 rounds)
      val top = cur
        .select(col("cnt"), split(trim(col("s")), " ").as("syms"))
        .select(col("cnt"), explode(expr(
          "IF(size(syms) < 2, array(), " +
            "transform(sequence(1, size(syms) - 1), " +
            "i -> concat(syms[i - 1], ' ', syms[i])))")).as("pr"))
        .groupBy("pr").agg(sum("cnt").as("n"))
        .orderBy(col("n").desc, col("pr")).limit(8 * want)
        .collect()
      val used = scala.collection.mutable.Set[String]()
      val take = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
      var i = 0
      while (i < top.length && take.size < want) {
        val Array(a, b) = top(i).getString(0).split(" ")
        if (!used(a) && !used(b)) {
          used += a; used += b
          take += ((a, b, top(i).getLong(1)))
        }
        i += 1
      }
      if (take.isEmpty) drained = true // no pairs left to merge
      else {
        take.foreach { case (a, b, n) =>
          merges += (((merges.size + 1).toLong, a, b, n)) }
        val sExpr = take.foldLeft("s") { case (e, (a, b, _)) =>
          s"replace($e, ' $a $b ', ' $a$b ')" }
        cur = cur.select(expr(sExpr).as("s"), col("cnt"))
          .localCheckpoint()
      }
    }
    val s = docs.sparkSession
    import s.implicits._
    merges.toSeq.toDF("merge_rank", "left_sym", "right_sym", "pair_count")
  }

  /** Subword pair mining — the counting round at the heart of BPE
    * vocabulary learning: adjacent character-pair frequencies over
    * ascii word occurrences, top-k by count. One merge iteration of
    * the tokenizer-training loop, at corpus scale.
    *
    * Plan: a narrow generator (`sequence` + `substring` transform,
    * whole-stage codegen'd — no UDF) explodes each word into its
    * len-1 pairs; the count aggregates map-side partially (the key
    * space is ≤ 36² for ascii alnum), and the top-k is a
    * TakeOrdered — no global sort, no driver loop. Non-ascii words
    * are excluded by contract: BPE byte/char conventions differ
    * across unicode normal forms, and the op pins the portable
    * subset. */
  def bpePairs(docs: DataFrame, k: Int = 100): DataFrame = {
    val words = docs.select(explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 2 && col("w").rlike("^[a-z0-9]+$"))
    words
      .select(explode(expr(
        "transform(sequence(1, length(w)-1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(k)
  }

  /** The frozen multinomial Naive-Bayes model behind [[nbClassify]]:
    * per (token, class) the add-one-smoothed occurrence count's
    * integer bit-length `fl1 = ⌊log2(n_tc + 1)⌋`, exposed so a
    * serving path (the streaming ingest filter) can train once on
    * the static corpus and score forever against the same weights.
    * Model rows exist only for OBSERVED (token, class) pairs —
    * the smoothing floor for unseen pairs is `⌊log2 1⌋ = 0`, i.e.
    * exactly "absent from the join", so the model is the sparse
    * count table, never vocab × classes. */
  def nbModel(docs: DataFrame, classCol: String = "source"): DataFrame =
    docs.select(col(classCol).as("cls"), explode(tokens(col("text"))).as("t"))
      .groupBy("t", "cls").agg(count(lit(1)).as("ntc"))
      .select(col("t"), col("cls"),
        (length(bin(col("ntc") + 1)) - 1).cast("long").as("fl1"))

  /** Per-class normalizer + prior frame for [[nbClassify]]: one row
    * per class with `fl_den = ⌊log2(N_c + V)⌋` (class token mass +
    * vocabulary size — the smoothed-likelihood denominator) and
    * `fl_prior = ⌊log2 docs_c⌋`. |classes| rows — broadcast scalar
    * territory at any corpus size. */
  def nbClassStats(docs: DataFrame, classCol: String = "source")
      : DataFrame = {
    val tc = docs
      .select(col(classCol).as("cls"), explode(tokens(col("text"))).as("t"))
      .groupBy("t", "cls").agg(count(lit(1)).as("ntc"))
    val mass = tc.groupBy("cls").agg(sum("ntc").as("nc"))
    val vocab = tc.select("t").distinct().agg(count(lit(1)).as("v"))
    val priors = docs.groupBy(col(classCol).as("cls"))
      .agg(count(lit(1)).as("ndocs"))
    mass.join(priors, "cls").crossJoin(broadcast(vocab))
      .select(col("cls"),
        (length(bin(col("nc") + col("v"))) - 1).cast("long").as("fl_den"),
        (length(bin(col("ndocs"))) - 1).cast("long").as("fl_prior"))
  }

  /** Multinomial Naive-Bayes classifier trained on the corpus's own
    * `source` labels and evaluated on every document — the
    * WebText-style quality-classifier shape (train a cheap bag-of-
    * words model to recognize the curated source, keep what scores
    * like it). Add-one smoothing; all logs are the exact integer
    * bit-length proxy `⌊log2 x⌋ = length(bin(x)) − 1` (no libm ulp
    * divergence), so the per-class score
    * `Σ_t tf·⌊log2(n_tc+1)⌋ − n_doc·⌊log2(N_c+V)⌋ + ⌊log2 docs_c⌋`
    * is BIGINT-exact and the argmax (ties to the lexicographically
    * first class) is bit-identical on any engine. Output per doc:
    * the argmax class, its score, and the margin to the runner-up —
    * the classifier-confidence admission signal.
    *
    * Plan: tokens explode once; tf and the model are partial-
    * aggregable count shuffles; the tf→model join keys on the TOKEN
    * and fans out only to the ≤|classes| observed model rows per
    * token; the (doc × class) completion frame joins the |classes|-
    * row stats broadcast-style. Document text never rides a shuffle
    * — at 100 TB the widest shuffled object is the (token, class)
    * count table. */
  def nbClassify(docs: DataFrame, classCol: String = "source")
      : DataFrame = {
    // r13 measured-and-reverted: deriving the (t, cls) model counts
    // from the per-doc tf frame (one tokenize + a doc→class join)
    // ran 1.82 → 2.26 s isolated at sf0.1 — the join over the wide
    // tf frame costs more than the re-tokenize it saves, with or
    // without a checkpoint. The 4-subtree shape below stays.
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    val s1 = tf.join(nbModel(docs, classCol), "t")
      .groupBy("doc_id", "cls")
      .agg(sum(expr("tf * fl1")).as("s1"))
    val docN = docs.select(col("doc_id"), col(classCol).as("actual"),
      size(tokens(col("text"))).cast("long").as("n_doc"))
    val scored = docN
      .crossJoin(broadcast(nbClassStats(docs, classCol)))
      .join(s1, Seq("doc_id", "cls"), "left")
      .select(col("doc_id"), col("actual"), col("cls"),
        (coalesce(col("s1"), lit(0L))
          - col("n_doc") * col("fl_den") + col("fl_prior")).as("score"))
    scored.groupBy("doc_id", "actual")
      .agg(array_sort(collect_list(struct((-col("score")).as("ns"),
        col("cls")))).as("ranked"))
      .select(col("doc_id"), col("actual"),
        col("ranked")(0).getField("cls").as("pred"),
        (-col("ranked")(0).getField("ns")).as("score_bits"),
        (col("ranked")(1).getField("ns") - col("ranked")(0).getField("ns"))
          .as("margin_bits"))
  }

  /** Zipf rank-frequency audit: the top-k corpus terms with rank,
    * frequency, the rank·frequency product (Zipf's law predicts it
    * near-constant — a corpus whose product collapses at low ranks
    * is template/boilerplate-dominated, one whose product grows is
    * vocabulary-flat synthetic text), and the cumulative token-mass
    * share in ppm (how much of the corpus the head covers — the
    * number that sizes stopword lists and sanity-checks tokenizer
    * vocab allocation).
    *
    * All-integer output (counts, products, integer-division ppm) —
    * bit-identical on any engine.
    *
    * Plan: ONE token-count shuffle (partial-aggregable); the top-k
    * cut is per-partition heaps (TakeOrderedAndProject), never a
    * global sort; rank/cumulative windows run on the k-row result
    * (the documented bounded-frame class) against the broadcast
    * 1-row corpus total. Document text never rides a shuffle. */
  def zipfAudit(docs: DataFrame, k: Int = 50): DataFrame = {
    val counts = docs.select(explode(tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("tf"))
    val total = counts.agg(sum("tf").cast("long").as("total"))
    val w = Window.orderBy(col("tf").desc, col("term"))
    counts.orderBy(col("tf").desc, col("term")).limit(k)
      .crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum", sum("tf").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("rank"), col("term"), col("tf"),
        expr("rank * tf").as("rf_product"),
        expr("cum * 1000000 div total").cast("long").as("cum_share_ppm"))
  }

  /** OCR / extraction-artifact scoring: per-document counts of the
    * token shapes that betray broken text extraction — mixed
    * letter+digit tokens (OCR confusions, mangled ligatures),
    * single-character tokens (shattered words), and trailing-hyphen
    * tokens (PDF line-break hyphenation never rejoined) — folded
    * into an integral artifact rate in ppm. The standard cheap
    * pre-filter in front of expensive quality models: route
    * high-ppm docs to re-extraction instead of the training set.
    *
    * Plan: a pure per-row computation over the document's own token
    * array (codegen'd `filter` HOFs) — ONE scan, ZERO exchanges at
    * any corpus size; the intra-doc twin of [[dupNgrams]]'s plan
    * class. */
  def ocrArtifacts(docs: DataFrame): DataFrame =
    docs
      .withColumn("tk", tokens(col("text")))
      .withColumn("n_tokens", size(col("tk")).cast("long"))
      .filter(col("n_tokens") > 0)
      .select(
        col("doc_id"), col("n_tokens"),
        size(filter(col("tk"),
          t => t.rlike("[a-z]") && t.rlike("[0-9]"))).cast("long")
          .as("mixed_alnum"),
        size(filter(col("tk"), t => length(t) === 1)).cast("long")
          .as("single_char"),
        size(filter(col("tk"), t => t.rlike("-$"))).cast("long")
          .as("hyphen_break"))
      .withColumn("artifact_ppm", expr(
        "(mixed_alnum + single_char + hyphen_break) * 1000000 div n_tokens"))

  /** Chunk-level language mixture (code-switching detection): split
    * each document into fixed `chunkTokens`-token windows, language-
    * ID each chunk by stopword-profile hits (the [[langId]] profiles;
    * raw hit counts rank languages — within a chunk every profile
    * shares the denominator, so ratios and counts order identically
    * and the argmax stays all-integer), then report per document the
    * chunk count, the majority chunk language and the minority share
    * in ppm. A document whose minority share is high is mixed-
    * language — the doc-level [[langId]] argmax hides exactly this,
    * and mixed docs poison monolingual training mixtures. Ties (in
    * chunk scores and in the majority vote) break to the
    * lexicographically LAST language on both engines — deterministic.
    *
    * Plan: chunking is a narrow per-row generator (token-array
    * slices); per-chunk scoring is a pure codegen'd map; only
    * (doc_id, chunk_lang) rides the one partial-aggregable rollup
    * shuffle — chunk text never leaves the scan stage. */
  def langMix(docs: DataFrame, chunkTokens: Int = 20): DataFrame = {
    val profiles: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "and", "of", "is"),
      "fr" -> Seq("le", "la", "et", "de"),
      "de" -> Seq("der", "die", "und", "das"),
      "es" -> Seq("el", "la", "y", "de"),
      "zh" -> Seq("de", "shi", "le", "he"))
    val chunked = docs
      .withColumn("tk", tokens(col("text")))
      .filter(size(col("tk")) > 0)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, (size(tk) - 1) div $chunkTokens), " +
          s"i -> slice(tk, i * $chunkTokens + 1, $chunkTokens))"))
        .as("ct"))
    val scores = profiles.map { case (lang, words) =>
      struct(size(filter(col("ct"), t => t.isInCollection(words)))
        .cast("long").as("hits"), lit(lang).as("lang"))
    }
    chunked
      .select(col("doc_id"),
        array_max(array(scores: _*)).getField("lang").as("clang"))
      .groupBy("doc_id", "clang").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_chunks"),
        max(struct(col("cnt"), col("clang"))).as("mx"))
      .select(col("doc_id"), col("n_chunks").cast("long").as("n_chunks"),
        col("mx.clang").as("major_lang"),
        expr("(n_chunks - mx.cnt) * 1000000 div n_chunks")
          .cast("long").as("minority_ppm"))
  }

  /** Windowed co-occurrence mining (the word2vec/GloVe pair-count
    * prep): unordered token pairs within a `window`-token skip
    * distance, counted corpus-wide, top-`k` by count — where
    * [[collocations]] scores ADJACENT pairs by lift, this surfaces
    * the wider association structure embedding trainers consume.
    * Pairs are canonicalized (least, greatest) so both directions
    * collapse; ties break on the pair itself — fully deterministic.
    *
    * Plan: pair emission is a narrow per-row generator (≤ window ×
    * tokens rows, no join — positions come from the doc's own
    * array); ONE partial-aggregable count shuffle keyed by the
    * 2-token pair; the global top-k is per-partition heaps
    * (TakeOrderedAndProject). Document text never rides a shuffle —
    * at 100 TB the shuffled object is the pair-vocabulary count
    * table. */
  def cooccurrence(docs: DataFrame, window: Int = 3, k: Int = 30)
      : DataFrame =
    docs
      .withColumn("tk", tokens(col("text")))
      .filter(size(col("tk")) >= 2)
      .select(explode(expr(
        s"""flatten(transform(sequence(1, $window), j ->
           filter(transform(sequence(1, size(tk)), i ->
             IF(i + j <= size(tk),
                struct(least(element_at(tk, i), element_at(tk, i + j))
                         AS w1,
                       greatest(element_at(tk, i), element_at(tk, i + j))
                         AS w2),
                null)), x -> x IS NOT NULL)))""")).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w1"), col("w2")).limit(k)

  /** The frozen (term → in_vocab) top-`v` vocabulary table behind
    * [[vocabCoverage]], exposed standalone so a serving path (the
    * streaming OOV monitor) can train the cut once on the static
    * corpus and score the stream against it forever. */
  def vocabTable(docs: DataFrame, v: Int = 16): DataFrame =
    docs.select(explode(tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("term")).limit(v)
      .select(col("term"), lit(1L).as("in_vocab"))

  /** Tokenizer vocabulary-coverage / OOV audit: build the top-`v`
    * corpus vocabulary by frequency (the fixed-size vocab a
    * tokenizer would allocate) and report, per source, the token
    * mass it covers and the out-of-vocabulary rate in ppm — the
    * number that predicts byte-fallback explosion per source before
    * committing a tokenizer to a mixture.
    *
    * Plan: ONE corpus scan collapses to the (source, term) count
    * table (partial-aggregable — the widest shuffled object at
    * 100 TB, vocabulary-sized per source, never raw text), which is
    * localCheckpointed and reused for both the global top-`v` cut
    * (per-partition heaps) and the per-source coverage rollup; the
    * vocab joins back as a broadcast. Deterministic cut: ties at
    * the boundary break by term. */
  def vocabCoverage(docs: DataFrame, v: Int = 16): DataFrame = {
    val tokc = docs
      .select(col("source"), explode(tokens(col("text"))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val vocab = tokc.groupBy("term").agg(sum("cnt").as("tf"))
      .orderBy(col("tf").desc, col("term")).limit(v)
      .select(col("term"), lit(1L).as("in_vocab"))
    tokc.join(broadcast(vocab), Seq("term"), "left")
      .groupBy("source")
      .agg(sum("cnt").cast("long").as("n_tokens"),
        sum(col("cnt") * coalesce(col("in_vocab"), lit(0L)))
          .cast("long").as("covered"))
      .withColumn("oov_ppm", expr(
        "(n_tokens - covered) * 1000000 div n_tokens"))
  }
}
