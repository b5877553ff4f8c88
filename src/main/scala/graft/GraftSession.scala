package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Local-mode defaults tuned for the test harness (`local[32]`,
  * 32 shuffle partitions); on a real cluster the same builder is used
  * with `master` unset and `spark.sql.shuffle.partitions` sized to
  * ~2-3x total cores. AQE stays on in both: it coalesces small
  * shuffle partitions, re-plans skew joins, and converts
  * sort-merge->broadcast at runtime, which is exactly what the
  * 100 TB deployment needs.
  *
  * Two settings cut the fixed cost of every streaming trigger.
  * Checkpoint files (offset and commit logs, state-store files on
  * both providers, the file source's metadata log) go through Spark's
  * `FileSystemBasedCheckpointFileManager`: its rename is
  * `FileSystem.rename`, while the default FileContext-based manager
  * asks `RawLocalFileSystem.getFileLinkStatus` first, which forks a
  * `readlink` process per file when libhadoop is not loaded (8 forks
  * per state-file commit; `state.commit_ms` per trigger fell from
  * 474 to 27 ms in a traced stream replay on a 4-core host). The
  * `.crc` files, Spark's checkpoint checksums and the no-overwrite
  * rename stay as they were.
  * Broadcasts are cut into 512 KB blocks instead of 4 MB: G1 sizes
  * regions at 1-2 MB on a few-GB heap, so every 4 MB block (each
  * stage's task binary, each batch's Hadoop-conf broadcast) was a
  * humongous allocation. To recount the forks, start the JVM with
  * `-XX:StartFlightRecording=filename=x.jfr` and run
  * `jfr print --events jdk.ProcessStart x.jfr`.
  *
  * A third setting stops each stream query from compiling its
  * generated code again. `CodeGenerator` caches compiled classes by
  * (thread context classloader, source), and every stream query runs
  * its batches in a cloned session with a new session UUID. With
  * artifact isolation on (Spark's default), the executors build a new
  * classloader for each UUID, so every projection, predicate and
  * whole-stage class compiles once per query (143 compiles in a
  * traced warm stream replay on a 4-core host). With
  * `spark.sql.artifact.isolation.enabled=false` all sessions share
  * the executor's default classloader and the cache hits (2 compiles:
  * `runningTopK`'s state projections, whose source names its `Seq`
  * loop variable by a per-query counter). The trade-off: jars, files and
  * archives added to one session become visible to every session;
  * graft adds none. To recount, read `codegen.compiles.warm` from
  * `python3 perfbench/run.py --workload stream_replay --trace 1`.
  *
  * A fourth setting stops the `chmod` forks. Hadoop's
  * `RawLocalFileSystem.setPermission` runs `chmod` in a child process
  * when libhadoop is not loaded, and every file or directory that
  * `create` or `mkdirs` makes with an explicit permission calls it:
  * state-store files, Spark's checkpoint checksums, the `.crc` file of
  * each, the offset and commit log entries (about 35 forks per trigger
  * in a stream replay). `spark.hadoop.fs.file.impl` is
  * [[NoForkLocalFileSystem]], the same `LocalFileSystem` whose raw
  * layer sets the permission through `java.nio.file.Files` instead:
  * the same `chmod(2)`, in process. Only a sticky-bit permission,
  * which NIO cannot express, still forks. Checksums and permission
  * bits stay as they were. Hadoop caches one `FileSystem` per scheme
  * and user for the whole JVM, so the setting holds only if the
  * session is built before anything in the JVM asks Hadoop for a
  * `file:` file system; recount the forks as described above.
  */
object GraftSession {
  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // measured-and-rejected (r13): parallelismFirst=false +
      // advisoryPartitionSizeInBytes=64m ran a 60-key small-query
      // subset 10.85 -> 12.06 s at sf0.1 — coalescing mid-size
      // shuffles to one 64 MB partition costs more parallelism than
      // the per-task overhead it saves; AQE's parallelism-first
      // default is already right for both this box and the cluster.
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // 160+ gated queries are ~500 whole-stage-codegen stages; the
      // default 100-entry generated-class cache evicts constantly and
      // every run re-Janino-compiles nearly every stage. Static conf:
      // must be set before the first SparkSession in the JVM.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // The events table carries INT64(TIMESTAMP(NANOS)) which Spark 4
      // rejects by default; session-wide opt-in (see Tables.events,
      // which converts the raw nanos to native us precision).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // graft's Catalyst extensions: the row_number<=k -> TopKPerGroup
      // optimizer rewrite + the planner strategy for its physical node,
      // and lower/upper without Spark's ICU title-case table
      // (CaseMapRule)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // Renames checkpoint files with FileSystem.rename; the default
      // FileContext manager forks `readlink` for each file it renames
      // when libhadoop is missing (see the scaladoc above).
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing." +
          "FileSystemBasedCheckpointFileManager")
      // Broadcast blocks below G1's humongous threshold (half a
      // region; regions are 2 MB on a 4 GB heap). With the 4 MB
      // default every task-binary and Hadoop-conf broadcast took
      // humongous regions, and peak RSS on the stream replay rose
      // ~10% once triggers got faster.
      .config("spark.broadcast.blockSize", "512k")
      // One executor classloader for all sessions, so the codegen
      // cache, keyed by classloader, hits across stream queries (see
      // the scaladoc above). Read when a session is created.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // Sets file and directory permissions in process; the stock
      // local file system forks `chmod` for each checkpoint file it
      // creates when libhadoop is missing (see the scaladoc above).
      .config("spark.hadoop.fs.file.impl", classOf[NoForkLocalFileSystem].getName)

  def get(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** RocksDB streaming state store — the 100 TB deployment's state
    * backend. The default HDFSBackedStateStoreProvider keeps every
    * key's state as JVM heap objects (state size is bounded by
    * executor heap, GC pauses scale with map size); RocksDB keeps it
    * off-heap on local SSD with changelog checkpointing, so per-key
    * state (withLatestFrom caches, top-k heaps, funnel progress over
    * billions of users) is bounded by disk, not heap. Session conf,
    * picked up by queries STARTED after the call — flip it before
    * `.start()`, not mid-query; existing checkpoints keep their
    * original provider. Local tests run both providers
    * (StreamingSpec) to pin provider-independence of results. */
  def useRocksDBStateStore(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    // write per-batch deltas, compact in the background — turns each
    // commit from a full SST upload into an O(changed keys) append
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
  }
}
