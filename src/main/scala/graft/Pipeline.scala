package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import graft.analytics.GoldAnalytics
import graft.etl.BronzeToSilver
import graft.sources.{Landing, Sinks, Sources}

/**
 * End-to-end medallion pipeline — the Spark-native collapse of the
 * reference's Airflow DAG (4-dag_assats-list-full.py:85-192): the three
 * process boundaries (Pub/Sub → Cloud Run ingestion, two Dataproc batch
 * submits) become sequential method calls on one SparkSession, with the
 * same fail-fast behavior (missing Silver table → exception, reference
 * 3-spark_curated_analytics_full.py:55-57).
 */
final class Pipeline(spark: SparkSession, warehouseDir: String) {

  private def gold(name: String) = s"$warehouseDir/gold/$name"

  /** Bronze→Silver: read pending polls, explode+type, append, mark read
    * (S3, G1, P1–P6, S4, S5). */
  def bronzeToSilver(landingDir: String, processedAt: String): Unit = {
    require(Landing.pendingFiles(landingDir).nonEmpty,
      s"validation failed: no pending coincap_data_*.json in $landingDir")
    val silver = BronzeToSilver(Sources.rawPolls(spark, landingDir), processedAt)
    Sinks.appendHistory(silver, s"$warehouseDir/silver/assats_list")
    Landing.markRead(landingDir)
  }

  /** Silver→Gold over one cached single-partition per-asset snapshot
    * ([[GoldAnalytics.latestSnapshot]]): the four analyses, each
    * dual-written (history append + current overwrite). Gold writes are
    * exchange-free — their sorts, top-10, the dominance `sum` and the
    * write run in one task each — so a write is one job, not a
    * range-sample + shuffle-map + write triple. Each analysis runs once
    * for its two writes ([[Sinks.writeAnalysis]]), so the full-history
    * scan of `top_gainers_losers` runs once per cycle.
    *
    * Returns the Silver row count, the reference's `count()` log line
    * (3-spark…py:54). It comes from an [[Observation]] on the full-history
    * scan that `top_gainers_losers` runs anyway, not from a separate
    * action; the fail-fast on a missing table is the read's. Silver is
    * read with the schema [[BronzeToSilver]] writes, so no footer
    * schema-inference job runs. */
  def silverToGold(analysisTs: String): Long = {
    val silver = spark.read.schema(BronzeToSilver.schema(spark))
      .parquet(s"$warehouseDir/silver/assats_list")
    val silverRows = Observation("silver_rows")
    val history = silver.observe(silverRows, count(lit(1)).as("rows"))
      .withColumn("data_referencia_dt", col("data_referencia").cast("timestamp"))
    val latest = GoldAnalytics.latestSnapshot(silver).cache()

    def write(df: DataFrame, name: String): Unit =
      Sinks.writeAnalysis(df, gold(name) + "_history", gold(name), name, spark)

    write(GoldAnalytics.dailyOverview(latest, analysisTs), "daily_overview")
    write(GoldAnalytics.topGainersLosers(latest, history, analysisTs),
      "top_gainers_losers")
    GoldAnalytics.marketDominance(latest, analysisTs)
      .foreach(write(_, "market_dominance"))   // skip guard: total null/≤0
    write(GoldAnalytics.supplyDynamics(latest, analysisTs), "supply_dynamics")
    latest.unpersist()
    // the top_gainers_losers writes ran the observed scan: get() is set
    silverRows.get("rows").asInstanceOf[Long]
  }

  /** Full run: ingest fixture polls → validate → Silver → Gold → dashboard. */
  def run(landingDir: String, runTs: String): DataFrame = {
    bronzeToSilver(landingDir, runTs)
    silverToGold(runTs)
    GoldAnalytics.dashboard(spark)
  }
}
