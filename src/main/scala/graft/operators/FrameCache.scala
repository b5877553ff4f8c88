package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** Process-level memo of small, expensively-derived,
  * localCheckpointed frames shared ACROSS queries in one JVM — the
  * cross-query extension of the within-query sharing pattern
  * ([[TextAnalysis]]'s cappedPairFrame, [[Graph]]'s sccKeysCore):
  * a bench/verify pass runs the whole key-level graph family back to
  * back, and every member used to re-pay the same corpus fact
  * collapse (measured at sf10: reciprocity's 23.2 s was almost
  * entirely [[Graph]].repeatKeyEdges' 58M-pair collapse it shares
  * with pagerank/scc/sssp/topo/harmonic/ppr; clustering re-paid
  * triangles' full 38.5 s corner count). A production deployment
  * materializes such shared frames once per (dataset, params) and
  * fans the family out from them; this cache is that contract inside
  * a single driver JVM.
  *
  * Scope and safety:
  *   - Keys carry the INPUT IDENTITY: [[planKey]] folds the
  *     analyzed-plan semantic hash of every input frame (two
  *     different SF dirs scan different files → different hashes)
  *     with the operator params. Same key ⇒ same frame by
  *     construction, so reuse cannot change any gated result.
  *   - Entries hold the localCheckpointed frame plus the persistent
  *     RDD ids its build created (before/after snapshot of
  *     `sc.getPersistentRDDs` — sound because queries run serially
  *     in Bench/Verify and the forked test JVM). A boundary cleanup
  *     that drops every OTHER query's blocks must skip
  *     [[protectedIds]]; [[Bench]] does.
  *   - An entry is stale the moment its context stopped or any of
  *     its blocks were unpersisted by someone else — [[cached]]
  *     detects both and rebuilds, so external unpersists degrade to
  *     a re-derive, never a wrong answer.
  *   - Bounded: least-recently-inserted eviction past `maxEntries`
  *     (each retained frame is a thresholded arc/projection/corner
  *     frame — KBs to a few MB even at sf10 — so the cap is a
  *     backstop, not a working limit). Eviction drops the entry, not
  *     its blocks: a frame handed out earlier stays usable until the
  *     boundary cleanup or Spark's ContextCleaner frees them.
  */
object FrameCache {
  private final case class Entry(df: DataFrame, rddIds: Set[Int],
                                 ctxId: Int)
  private val entries = mutable.LinkedHashMap.empty[String, Entry]
  // r12 widened the shared-frame families (dedup pair/label frames,
  // ANN clustering, nation/bipartite edge collapses): a full bench
  // pass now holds ~21 live keys, and silent LRU eviction at 24
  // would turn sharing back into rebuilds mid-pass. Every retained
  // frame is a thresholded pair/label/edge frame (KBs–MBs even at
  // sf10), so doubling the backstop costs nothing material.
  private val maxEntries = 48

  /** Stable identity for "same live SparkContext". */
  private def ctxId(spark: SparkSession): Int =
    System.identityHashCode(spark.sparkContext)

  /** Key component carrying the input frames' identity: the
    * analyzed plan's semantic hash (normalized for expression ids /
    * aliases, distinct per scanned files). */
  def planKey(dfs: DataFrame*): String =
    dfs.map(_.queryExecution.analyzed.semanticHash()).mkString(":")

  /** RDD ids a query-boundary block cleanup must NOT unpersist. */
  def protectedIds: Set[Int] = synchronized {
    entries.values.flatMap(_.rddIds).toSet
  }

  private def valid(spark: SparkSession, e: Entry): Boolean =
    !spark.sparkContext.isStopped &&
      e.ctxId == ctxId(spark) &&
      e.rddIds.subsetOf(
        spark.sparkContext.getPersistentRDDs.keySet.toSet)

  private def drop(spark: SparkSession, e: Entry): Unit =
    if (!spark.sparkContext.isStopped && e.ctxId == ctxId(spark)) {
      val live = spark.sparkContext.getPersistentRDDs
      e.rddIds.foreach(id =>
        live.get(id).foreach(_.unpersist(blocking = false)))
    }

  /** Memoized build: returns the cached frame for `key` when its
    * blocks are still live in `spark`'s context, else (re)builds.
    * `build` MUST return a localCheckpointed (or otherwise
    * persisted) frame — the cache protects blocks, it does not
    * persist plans.
    *
    * `keepOnlyLast`: a build whose LAST step is the returned
    * frame's eager localCheckpoint may checkpoint intermediates
    * along the way (triangle corners checkpoints its oriented edge
    * frame); those blocks are dead once the final frame
    * materializes, so they are unpersisted here rather than pinned
    * for the cache's lifetime — RDD ids are monotone, so the final
    * checkpoint is exactly the max created persistent id.
    *
    * A `build` that throws leaves nothing persisted: the RDDs it
    * created, less those of entries registered meanwhile, are
    * unpersisted before the exception propagates. */
  def cached(spark: SparkSession, key: String,
             keepOnlyLast: Boolean = false)
            (build: => DataFrame): DataFrame = synchronized {
    entries.get(key) match {
      case Some(e) if valid(spark, e) =>
        // refresh insertion order so hot keys survive eviction
        entries.remove(key); entries.put(key, e); e.df
      case stale =>
        stale.foreach { e => entries.remove(key); drop(spark, e) }
        val before = spark.sparkContext.getPersistentRDDs.keySet
        // a nested cached() build (triangle corners → co-sourcing
        // edges) registers its own entry during ours: its blocks
        // are NOT this entry's to track or prune
        def createdSince = spark.sparkContext.getPersistentRDDs.keySet
          .diff(before).toSet.diff(entries.values.flatMap(_.rddIds).toSet)
        val df = try build catch {
          case t: Throwable =>
            // a build that throws (a convergence bound, a twin's
            // assert) owns the frames it checkpointed: no entry will
            // name them, so free them here
            val live = spark.sparkContext.getPersistentRDDs
            createdSince.foreach(id =>
              live.get(id).foreach(_.unpersist(blocking = false)))
            throw t
        }
        var created = createdSince
        if (keepOnlyLast && created.size > 1) {
          val keep = created.max
          val live = spark.sparkContext.getPersistentRDDs
          created.filter(_ != keep).foreach(id =>
            live.get(id).foreach(_.unpersist(blocking = false)))
          created = Set(keep)
        }
        entries.put(key, Entry(df, created, ctxId(spark)))
        while (entries.size > maxEntries) {
          val k = entries.head._1
          // forget the entry, keep its blocks: a query still holding
          // the frame reads them (its lineage is truncated). The
          // boundary cleanup, which spares only protectedIds, or the
          // ContextCleaner frees them. Loud, not silent: an eviction
          // mid-pass turns sharing back into rebuilds.
          System.err.println(
            s"[FrameCache] EVICTING '$k' (cache full at $maxEntries " +
              s"entries while inserting '$key') — its blocks stay " +
              "until the next boundary cleanup; raise maxEntries if " +
              "this fires mid-pass")
          entries.remove(k)
        }
        df
    }
  }

  private val scalars = mutable.HashMap.empty[String, Any]

  /** Memoized driver-side value: a scalar probe over a shared frame
    * ([[Graph]]'s LP fan-out, [[Similarity]]'s corpus shape) or a
    * parquet input's schema ([[graft.sources.Tables]]). Computed once
    * per `key`, which must carry everything the value depends on
    * (for a frame, its [[planKey]]) and name the value's kind, since
    * one key always returns the type it was first stored with.
    * Holds no blocks. */
  def scalar[T](key: String)(compute: => T): T = synchronized {
    scalars.getOrElseUpdate(key, compute).asInstanceOf[T]
  }

  /** Drop every entry and scalar and unpersist the entries' blocks
    * (test hygiene). */
  def invalidateAll(spark: SparkSession): Unit = synchronized {
    entries.values.foreach(drop(spark, _))
    entries.clear()
    scalars.clear()
  }
}
