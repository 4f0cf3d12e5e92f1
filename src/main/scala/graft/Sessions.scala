package graft

import org.apache.spark.sql.SparkSession

/** One place to build the engine's SparkSession so Verify, Bench, and the
  * test suites agree on the semantics-critical knobs.
  *
  * These settings are what we would ship on a real 1000-executor cluster
  * too (per-job `--conf`), except shuffle.partitions, which scales with
  * the cluster (rule of thumb: 2-3× total cores, or AQE-coalesced from a
  * high initial value).
  */
object Sessions {
  def local(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // engine-native expressions (graft.functions.*) — same conf a
      // deploy cluster passes to spark-submit
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // SIZE-first AQE coalescing (r22, guide §2.2): with the default
      // parallelismFirst=true AQE refuses to coalesce below the default
      // parallelism, so every KB-sized exchange still runs
      // shuffle.partitions tasks — measured r21: nine queries ran FASTER
      // at 8 cores than 32 purely from 32-wide scheduling of tiny
      // post-shuffle stages. false = respect advisoryPartitionSizeInBytes
      // (the setting Spark's own tuning docs recommend); post-shuffle
      // width now derives from the DATA (scale-adaptive), not the core
      // count — the same conf is right on a 1000-executor cluster, where
      // the advisory target (64 MB default; raise per guide §9 for batch
      // ETL) keeps partitions in the intended size band instead of
      // core-count-many slivers. CPU-bound spreads that must stay wide
      // regardless of byte size pin their width explicitly
      // ([[Tables.spreadForCpu]] passes an explicit partition count,
      // which AQE never coalesces).
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
              "false")
      // Let AQE optimize partitioning INSIDE cached-plan materialization
      // (r22): the engine's multi-consumer subframes are CacheScope pins,
      // and with this off (the default) Spark freezes AQE's
      // output-partitioning changes when executing a plan that fills a
      // cache — every pinned frame materialized at full session shuffle
      // width regardless of size (measured: 32-task stages on KB-sized
      // cached aggregates), and every consumer stage inherits that
      // width. With it on, cached plans coalesce by the same size rule
      // as uncached ones; the documented cost (a consumer that would
      // have reused the cache's partitioning may re-shuffle) does not
      // bite here because the pins' consumers re-key or aggregate anyway.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
              "true")
      // Post-shuffle partition size target for the size-first coalescing
      // above. The default 64m targets I/O-bound batch ETL, but this
      // engine's mid-size exchanges carry CPU-dense rows (md5 digests,
      // token positions, vector structs) where 64 MB of input is tens of
      // core-seconds — on the gate corpus that coalesces real work onto
      // one task. 4m keeps such stages a handful of tasks while KB-sized
      // flag/agg exchanges still collapse to one. A constant: this method
      // builds only `local[...]` sessions; a cluster deployment sets its
      // own target (64m–256m per guide §9) with `--conf`.
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      .config("spark.ui.enabled", "false")
      // Some testdata generations store events.ts as TIMESTAMP(NANOS);
      // Spark has no nanos timestamp type, so surface it as BIGINT and
      // convert in Tables.load (which branches on the surfaced type —
      // micros-NTZ generations are unaffected by this conf).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // naive parquet timestamps (isAdjustedToUTC=false) → TIMESTAMP_NTZ,
      // the DuckDB-comparable representation.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
      // `file:` through the engine's NioLocalFileSystem (FileSystem API)
      // and NioLocalFs (FileContext, which the checkpoint logs and state
      // stores use). Without libhadoop the stock local filesystem starts
      // a chmod process for every file and directory it creates and a
      // readlink process on every FileContext rename: 4,755 process
      // launches in one live_1k benchmark run (10 with these), most of
      // each micro-batch's state, WAL and offset commit time. These make
      // the same system calls from the JVM; the bytes, permissions, .crc
      // sidecars and their checks on read, Spark's state-file checksums
      // and the rename-based commits stay identical, and hdfs: and every
      // other scheme keep their stock filesystems.
      .config("spark.hadoop.fs.file.impl",
              classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
              classOf[NioLocalFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Silence two WARN loggers whose messages are expected NOISE under the
    * bench harness but legitimate signals elsewhere — called by Bench
    * ONLY (r12 ADVICE: a library session must keep its cache-eviction
    * warnings; suppressing them session-wide hid real evictions):
    *
    *  - MapPartitionsRDD: the iterative operators (Graph.pageRank,
    *    Cluster.connectedComponents) free each superseded round's
    *    localCheckpoint blocks on purpose; Spark WARNs "cannot be
    *    recomputed after unpersisting" on every such unpersist, which
    *    would bury the bench's per-query attribution lines.
    *  - WindowExec: the bench's gate projections run global windows on
    *    deliberately tiny frames (rank_pos over O(sources) rows);
    *    the per-execution "No Partition Defined" WARN is the intended
    *    plan shape there.
    *
    * log4j2 configuration is JVM-global, so Bench calls this once —
    * it survives the bench's periodic session restarts. */
  def quietBenchLogs(): Unit = {
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
  }
}
