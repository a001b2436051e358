package graft.sources

import java.io.IOException
import java.util.UUID
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/**
 * Sinks. The reference dual-writes every Gold analysis: Delta append (full
 * history) + BigQuery overwrite ("current" view) —
 * 3-spark_curated_analytics_full.py:80-112. In this zero-egress environment
 * Delta jars are absent, so the append/overwrite contracts are realized as
 * Parquet; the query semantics the engine relies on (append + window-dedup
 * to the latest snapshot) never use Delta-only features.
 */
object Sinks {

  /**
   * Runtime probe for Delta Lake: true iff the delta-spark jars are on
   * the classpath (the `DeltaDataSource` entry point resolves). The
   * reference writes `format("delta")` (2-spark_processed_assats_list
   * .py:65); per SURVEY §1.4 this build substitutes parquet when the
   * jars are absent, and this probe is the seam that flips the history
   * sinks back to the real thing on a cluster that ships them — no
   * recompile, same call sites.
   */
  lazy val deltaAvailable: Boolean =
    try {
      Class.forName("org.apache.spark.sql.delta.sources.DeltaDataSource")
      true
    } catch {
      // ClassNotFoundException: jars absent. LinkageError (NoClassDef-
      // FoundError and friends): the entry class resolves but a
      // transitive dependency is missing — a partially-shipped classpath
      // must fall back to parquet, not blow up at first write.
      case _: ClassNotFoundException => false
      case _: LinkageError           => false
    }

  /** The history-sink format this runtime supports: `delta` when the
    * jars are present, else `parquet`. */
  def historyFormat: String = if (deltaAvailable) "delta" else "parquet"

  /** What format is ALREADY at `path`: `Some("delta")` when a `_delta_log`
    * directory exists, `Some("parquet")` when the dir holds data files but
    * no log, `None` when the path is absent/empty (fresh sink). The
    * history sinks key their format off this, never off the classpath
    * alone: appending delta to a parquet-era dir would start a fresh
    * `_delta_log` that references only the new files — every prior batch
    * silently vanishes from reads — and reading a parquet-era dir as
    * delta fails outright. */
  def existingFormat(spark: SparkSession, path: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else if (fs.exists(new org.apache.hadoop.fs.Path(p, "_delta_log")))
      Some("delta")
    else {
      val hasData = fs.listStatus(p).exists { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
      if (hasData) Some("parquet") else None
    }
  }

  /** The format [[appendHistory]]/[[readHistory]] will actually use for
    * `path`: the path's existing format when it has one (history must
    * stay one format for its whole life), else what the runtime supports.
    * Fails fast when the path was written as delta but this runtime
    * cannot read delta — a parquet fallback there would read ORPHANED
    * files the log has compacted away. */
  private def resolveFormat(spark: SparkSession, path: String): String =
    existingFormat(spark, path) match {
      case Some("delta") if !deltaAvailable =>
        throw new IllegalStateException(
          s"history at $path was written as delta but the delta jars are " +
          "not on this classpath — reading/appending it as parquet would " +
          "see a wrong (log-unaware) file set; ship delta-spark or " +
          "migrate the table")
      case Some(f) => f
      case None    => historyFormat
    }

  /** S4/S7: append-mode history sink. The reference appends with
    * `mergeSchema=true` (3-spark_curated_analytics_full.py:89) so an
    * analysis can grow a column without rewriting history; parquet append
    * accepts heterogeneous file schemas natively — the merge happens at
    * READ time via [[readHistory]]. With Delta on the classpath the
    * append goes through the transaction log instead (and
    * `mergeSchema=true` moves to write time, Delta's contract). A dir
    * that already holds history keeps its original format even when the
    * classpath upgraded (see [[existingFormat]]). */
  def appendHistory(df: DataFrame, path: String): Unit =
    resolveFormat(df.sparkSession, path) match {
      case "delta" =>
        df.write.mode(SaveMode.Append).option("mergeSchema", "true")
          .format("delta").save(path)
      case _ =>
        df.write.mode(SaveMode.Append).parquet(path)
    }

  /** Schema-evolution-aware history read: unions the schemas of every
    * appended batch (old rows null-fill columns added later). Plain
    * `spark.read.parquet` picks ONE footer's schema and would silently
    * drop a newly added column depending on file order. (Delta reads the
    * log's evolved schema — mergeSchema is a no-op there.) Format follows
    * the path's own history, not the classpath (see [[existingFormat]]). */
  def readHistory(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true")
      .format(resolveFormat(spark, path)).load(path)

  /** S8: overwrite-mode "current" sink, registered as a temp view so the
    * dashboard SQL (§2.8 Q5) can address it by name, like BigQuery does.
    * The view reads the just-written files with the schema they were
    * written with, so no Parquet footer-inference job runs. */
  def overwriteCurrent(df: DataFrame, path: String, table: String,
                       spark: SparkSession): Unit = {
    df.write.mode(SaveMode.Overwrite).parquet(path)
    spark.read.schema(df.schema).parquet(path).createOrReplaceTempView(table)
  }

  /** S9: one analysis → both sinks. The analysis runs once: its rows are
    * written to the current table, and the history append copies those
    * just-written files (the reference re-runs the whole lineage per
    * action — SURVEY §4.4 inefficiency #1 — we don't). A Parquet history
    * gets the files themselves ([[appendFiles]]: no Spark job, no read
    * back); a Delta history appends the current table through its
    * transaction log, which only a Delta write can extend. */
  def writeAnalysis(df: DataFrame, historyPath: String, currentPath: String,
                    table: String, spark: SparkSession): Unit = {
    overwriteCurrent(df, currentPath, table, spark)
    resolveFormat(spark, historyPath) match {
      case "delta" => appendHistory(spark.table(table), historyPath)
      case _       => appendFiles(spark, currentPath, historyPath)
    }
  }

  /** Appends the data files of the Parquet table at `from` to the Parquet
    * history at `to`, byte for byte, through the Hadoop `FileSystem` API.
    * Each copy gets a fresh `part-…-c000` name under one new write id, as
    * a Spark append names its files. The copies are written into a
    * `_`-prefixed staging dir, which readers skip, and renamed into `to`
    * only once all of them are complete, so a reader never sees a partial
    * file. A checksummed file system writes and renames each copy's
    * `.crc` sidecar with it; the `_SUCCESS` marker is rewritten as a
    * Spark append's commit does. */
  private def appendFiles(spark: SparkSession, from: String,
                          to: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val src = new Path(from)
    val dst = new Path(to)
    val srcFs = src.getFileSystem(conf)
    val fs = dst.getFileSystem(conf)
    val writeId = UUID.randomUUID().toString
    val staging = new Path(dst, s"_staging-$writeId")
    val files = srcFs.listStatus(src).map(_.getPath).filter { p =>
      !p.getName.startsWith("_") && !p.getName.startsWith(".")
    }.sortBy(_.getName)
    try {
      val staged = files.zipWithIndex.map { case (file, i) =>
        val ext = file.getName.dropWhile(_ != '.')
        val copy = new Path(staging, f"part-$i%05d-$writeId-c000$ext")
        FileUtil.copy(srcFs, file, fs, copy, false, conf)
        copy
      }
      staged.foreach { copy =>
        if (!fs.rename(copy, new Path(dst, copy.getName)))
          throw new IOException(s"could not move $copy into $dst")
      }
      fs.create(new Path(dst, "_SUCCESS"), true).close()
    } finally fs.delete(staging, true)
  }

  /** Partitioned append — the 100 TB posture for history tables (SURVEY
    * §4.3 notes the reference writes unpartitioned; at scale, partition
    * pruning on the query key is the difference between scanning a day and
    * scanning a decade). */
  def appendPartitioned(df: DataFrame, path: String,
                        partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Append).partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed managed table: co-locates join/agg keys at write time so
    * repeated joins on `keys` run with NO exchange on either side
    * (asserted by PlanShapeSpec). The warehouse-side answer to "this join's
    * shuffle is the bottleneck at 100 TB". */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String],
                    nBuckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)
}
