package graft

import org.apache.spark.sql.SparkSession

/**
 * Session factory with the engine's required configuration. Centralized so
 * Verify, Bench, tests, and user code all run with identical semantics.
 *
 * Scale posture (these matter at 1000 executors, set here so local runs
 * exercise the same plans):
 *  - AQE on: runtime shuffle-partition coalescing + skew-join splitting.
 *  - shuffle.partitions sized to the machine locally; on a real cluster
 *    AQE's coalescing makes the initial number far less sensitive.
 *  - UTC session timezone: timestamp semantics must match the DuckDB
 *    oracle and the reference's UTC-epoch handling.
 *  - nanosAsLong: the testdata events table stores TIMESTAMP(NANOS),
 *    which Spark only reads as a raw long (converted to a real timestamp
 *    in Sources.events).
 *  - `file:` through [[graft.sources.InProcessRawLocalFileSystem]]: with no
 *    native libhadoop, Hadoop's stock local file system starts a `chmod`
 *    process per file created and a `readlink` process per FileContext
 *    rename path, a few ms each, on every Parquet write and every
 *    streaming checkpoint file. The replacement does both in process and
 *    keeps modes, `.crc` sidecars and results as they were.
 */
object GraftSession {

  def builder(cores: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // reference parity: the reference ran Spark 3.x (ANSI off) — its
      // string→numeric casts turn malformed input into null, never errors
      // (SURVEY §2.2 P2/P3). Spark 4 defaults ANSI on; pin it off.
      .config("spark.sql.ansi.enabled", "false")
      // shuffle/broadcast scratch on tmpfs: local-mode shuffle volume is
      // small but disk-latency-sensitive; on a shared host, /tmp-on-disk
      // periodically starves the shuffle-heavy pipelines (measured 10-60×
      // inflation). On a real cluster this maps to fast local SSDs.
      .config("spark.local.dir", "/dev/shm/graft-spark")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // TypedImperativeAggregates (collect_top_k, percentile, …) run in
      // ObjectHashAggregateExec, which falls back to SORT-based
      // aggregation after 128 distinct groups per task by default —
      // silently re-introducing the full sort the aggregate exists to
      // avoid. Group states here are O(k) (bounded priority queues), so
      // a large in-memory group count is safe.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "1000000")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // Compiled-class cache. Spark's default of 100 entries is split
      // into 4 LRU segments of 25, and which segment a class lands in
      // depends on an identity hash that changes from JVM to JVM. One
      // medallion cycle uses ~70 classes: in some JVMs a segment overflows
      // and then recompiles (Janino + class load + JIT) 10-30 classes
      // every cycle, in others none, so the same run costs a different
      // amount from one JVM to the next.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.GraftLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.sources.GraftLocalFs].getName)

  /** A local session on `cores` threads: `SPARK_GRAFT_CPUS` when set, else
    * the host's available processors. */
  def local(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)): SparkSession = {
    val spark = builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
