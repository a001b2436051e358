package graft.analytics

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.functions.CodegenFunctions.stableLiteral
import graft.model.Schemas
import graft.operators.LatestSnapshot

/**
 * The four Gold analyses + dashboard query — the reference's entire query
 * surface (3-spark_curated_analytics_full.py:114-266;
 * 5-sql_exportacao_de_dados_dashboard.sql). Input: Silver `assats_list`.
 *
 * All transforms share one cached single-partition per-asset snapshot
 * (the reference recomputes the scan+window lineage for every one of ~9
 * actions — SURVEY §4.4 — caching preserves semantics and removes the 8×
 * recompute). Gold writes are exchange-free: a single-partition child
 * already satisfies every ordered and all-tuples distribution, so each
 * `orderBy`, top-10, `sum` and write below plans with no Exchange and runs
 * in one task (`PlanShapeSpec` pins this).
 */
object GoldAnalytics {

  /** The `data_processamento_analise` audit stamp. It changes every
    * cycle, so it goes through `stable_literal`: the analyses' generated
    * code stays the same from one cycle to the next. */
  private def auditTs(analysisTs: String): Column =
    stableLiteral(lit(analysisTs).cast("timestamp"))

  /** Common prep: typed timestamp + latest snapshot per asset
    * (3-spark…py:62-74), in one partition. The window keeps its parallel
    * hash exchange and map-side `WindowGroupLimit`; only its ≤|assets|
    * result rows move into the single partition. `repartition(1)`, not
    * `coalesce(1)`: coalesce would pull the window itself into one task,
    * which at history scale serializes the whole dedup. */
  def latestSnapshot(silver: DataFrame): DataFrame = {
    val withTs = silver.withColumn("data_referencia_dt",
      col("data_referencia").cast("timestamp"))
    LatestSnapshot(withTs, Seq("id"), col("data_referencia_dt")).repartition(1)
  }

  /** Q1 `daily_overview` (3-spark…py:114-151): latest snapshot, rounded
    * projection, rank order, audit column. */
  def dailyOverview(latest: DataFrame, analysisTs: String): DataFrame =
    latest.select(
      col("id"), col("name"), col("symbol"), col("rank"),
      round(col("price_usd"), 8).as("price_usd"),
      round(col("market_cap_usd"), 2).as("market_cap_usd"),
      round(col("volume_usd_24hr"), 2).as("volume_usd_24hr"),
      round(col("change_percent_24hr"), 4).as("change_percent_24hr"),
      round(col("vwap_24hr"), 8).as("vwap_24hr"),
      round(col("supply"), 0).as("supply"),
      round(col("max_supply"), 0).as("max_supply"),
      col("explorer"),
      col("data_referencia_dt").as("data_referencia"))
    .orderBy(col("rank").asc)
    .withColumn("data_processamento_analise", auditTs(analysisTs))

  /**
   * Q2 `top_gainers_losers` (3-spark…py:153-196): top-10 gainers from the
   * LATEST snapshot ∪ top-10 losers from the FULL history — the history
   * source for losers is a reference quirk reproduced on purpose
   * (3-spark…py:168 reads `df_assats_list`, not `df_latest_assats`).
   * `orderBy(...).limit(10)` compiles to `TakeOrderedAndProject` — a
   * per-partition top-K + driver merge, no global sort at any scale.
   */
  def topGainersLosers(latest: DataFrame, history: DataFrame,
                       analysisTs: String): DataFrame = {
    def project(df: DataFrame, movement: String) =
      df.select(
        col("name"), col("symbol"),
        round(col("change_percent_24hr"), 4).as("change_percent_24hr"),
        round(col("price_usd"), 8).as("price_usd"),
        lit(movement).as("tipo_movimento"),
        col("data_referencia_dt").as("data_referencia"))

    val gainers = project(
      latest.filter(col("change_percent_24hr").isNotNull)
        .orderBy(col("change_percent_24hr").desc).limit(10), Schemas.Gainer)
    val losers = project(
      history.filter(col("change_percent_24hr").isNotNull)
        .orderBy(col("change_percent_24hr").asc).limit(10), Schemas.Loser)

    gainers.union(losers)   // positional, duplicates kept (unionAll parity)
      .withColumn("data_processamento_analise", auditTs(analysisTs))
  }

  /** Σ market cap over the snapshot, null when every cap is null: the
    * `market_dominance` denominator. An aggregate column, so it can ride
    * an [[org.apache.spark.sql.Observation]] on the snapshot's build
    * ([[graft.Pipeline.silverToGold]]) instead of a job of its own. */
  val MarketCapTotal: Column = sum("market_cap_usd").as("market_cap_total")

  /**
   * Q3 `market_dominance` (3-spark…py:199-232): scalar Σ market cap pulled
   * to the driver (the reference's observable collect() round-trip + null/≤0
   * skip guard), then percent-of-total per asset. Returns None when the
   * guard trips — the reference skips the analysis entirely.
   */
  def marketDominance(latest: DataFrame, analysisTs: String): Option[DataFrame] =
    marketDominance(latest,
      latest.agg(MarketCapTotal).head.getAs[java.lang.Double](0), analysisTs)

  /** Q3 over a [[MarketCapTotal]] of `latest` computed by the caller;
    * None when `total` is null or ≤ 0 (the skip guard). */
  def marketDominance(latest: DataFrame, total: java.lang.Double,
                      analysisTs: String): Option[DataFrame] =
    Option(total).map(_.doubleValue).filter(_ > 0).map { t =>
      latest.filter(col("market_cap_usd").isNotNull)
        .withColumn("percent_market_cap",
          round(col("market_cap_usd") / stableLiteral(lit(t)) * 100, 4))
        .select(
          col("name"), col("symbol"),
          round(col("market_cap_usd"), 2).as("market_cap_usd"),
          col("percent_market_cap"),
          col("data_referencia_dt").as("data_referencia"))
        .orderBy(col("percent_market_cap").desc)
        .withColumn("data_processamento_analise", auditTs(analysisTs))
    }

  /** Q4 `supply_dynamics` (3-spark…py:234-266): supply filter, mcap/unit
    * ratio, 3-way CASE on max_supply (exact Portuguese labels — the oracle
    * hashes output bytes). */
  def supplyDynamics(latest: DataFrame, analysisTs: String): DataFrame =
    latest
      .filter(col("supply").isNotNull && col("supply") > 0 &&
        col("market_cap_usd").isNotNull)
      .withColumn("market_cap_per_unit_supply",
        round(col("market_cap_usd") / col("supply"), 8))
      .withColumn("status_oferta_maxima",
        when(col("max_supply").isNull, lit(Schemas.StatusUndefined))
          .otherwise(when(col("supply") >= col("max_supply"),
            lit(Schemas.StatusNearLimit))
            .otherwise(lit(Schemas.StatusAvailable))))
      .select(
        col("name"), col("symbol"),
        round(col("supply"), 0).as("supply"),
        round(col("max_supply"), 0).as("max_supply"),
        col("market_cap_per_unit_supply"), col("status_oferta_maxima"),
        col("data_referencia_dt").as("data_referencia"))
      .orderBy(col("market_cap_per_unit_supply").desc)
      .withColumn("data_processamento_analise", auditTs(analysisTs))

  /**
   * Q5 dashboard master (5-sql_exportacao_de_dados_dashboard.sql:1-50):
   * 3-way LEFT JOIN of the Gold tables on (symbol, data_referencia), filtered
   * to the latest data_referencia, ordered by rank. The reference filters
   * with `WHERE overview.data_referencia = (SELECT MAX(...))`; here each
   * overview row carries `MAX(data_referencia) OVER ()` and the filter
   * compares the two columns. The rows are the same (the filter reads only
   * overview columns, and LEFT JOINs keep every overview row), but Spark
   * inlines a scalar subquery's result into generated code, which made
   * every cycle's dashboard compile fresh classes; a window value is data.
   *
   * The overview is read through `COALESCE(1)`: it holds one row per
   * asset of the latest snapshot (≤ |assets| rows), so one partition is
   * safe, and a single-partition stream side already satisfies the
   * window's all-tuples distribution and the `ORDER BY`'s ordering. The
   * plan has no shuffle: no MAX aggregate exchange, no broadcast of its
   * one row, no range-sort sample. Runs over the registered "current"
   * views; the Gold tables are small (≤ ~100 rows) → Catalyst broadcasts
   * the three LEFT JOIN sides. The fan-out on non-unique `symbol` is
   * reference behavior, kept as-is.
   */
  val dashboardSql: String =
    """SELECT
      |  overview.id, overview.name, overview.symbol, overview.rank,
      |  overview.price_usd, overview.market_cap_usd, overview.volume_usd_24hr,
      |  overview.change_percent_24hr, overview.vwap_24hr, overview.supply,
      |  overview.max_supply, overview.explorer, overview.data_referencia,
      |  supply.market_cap_per_unit_supply, supply.status_oferta_maxima,
      |  dominance.percent_market_cap, movers.tipo_movimento
      |FROM (SELECT *, MAX(data_referencia) OVER () AS latest_ref
      |      FROM (SELECT /*+ COALESCE(1) */ * FROM daily_overview)) AS overview
      |LEFT JOIN supply_dynamics AS supply
      |  ON overview.symbol = supply.symbol
      | AND overview.data_referencia = supply.data_referencia
      |LEFT JOIN market_dominance AS dominance
      |  ON overview.symbol = dominance.symbol
      | AND overview.data_referencia = dominance.data_referencia
      |LEFT JOIN top_gainers_losers AS movers
      |  ON overview.symbol = movers.symbol
      | AND overview.data_referencia = movers.data_referencia
      |WHERE overview.data_referencia = overview.latest_ref
      |ORDER BY overview.rank ASC
      |""".stripMargin

  def dashboard(spark: SparkSession): DataFrame = spark.sql(dashboardSql)
}
