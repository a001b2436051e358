package graft.etl

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.Schemas

/**
 * Bronze → Silver: explode the per-poll asset array and project it to the
 * flat, typed `assats_list` schema (reference G1 + P1–P6,
 * 2-spark_processed_assats_list.py:44-62).
 *
 * Scale notes: the whole job is narrow (scan → generate → project → write)
 * — zero shuffles — so it parallelizes by input file split and scales
 * linearly with poll volume. Double casts are by design (the API serializes
 * 28-digit decimal strings; the reference accepts double precision loss —
 * SURVEY §1.2). `data_referencia` is produced by the reference's exact
 * two-step (`from_unixtime(ts/1000)` stored as STRING, cast to timestamp
 * later) because the rounding differs from `timestamp_millis`.
 */
object BronzeToSilver {

  /**
   * @param raw            Bronze poll documents (Schemas.rawSchema)
   * @param processedAtUtc job wall-clock audit value, injected (never
   *                       `now()` inside the plan) so runs are deterministic
   */
  def apply(raw: DataFrame, processedAtUtc: String): DataFrame =
    raw
      .select(explode(col("data")).as("coin"), col("timestamp"))
      .select(
        col("coin.id").as("id"),
        col("coin.rank").cast(IntegerType).as("rank"),
        col("coin.symbol").as("symbol"),
        col("coin.name").as("name"),
        col("coin.supply").cast(DoubleType).as("supply"),
        col("coin.maxSupply").cast(DoubleType).as("max_supply"),
        col("coin.marketCapUsd").cast(DoubleType).as("market_cap_usd"),
        col("coin.volumeUsd24Hr").cast(DoubleType).as("volume_usd_24hr"),
        col("coin.priceUsd").cast(DoubleType).as("price_usd"),
        col("coin.changePercent24Hr").cast(DoubleType).as("change_percent_24hr"),
        col("coin.vwap24Hr").cast(DoubleType).as("vwap_24hr"),
        col("coin.explorer").as("explorer"),
        from_unixtime(col("timestamp") / 1000).as("data_referencia"),
        lit(processedAtUtc).as("data_processamento")
      )

  /** The Silver schema [[apply]] writes, as Parquet reads it back (every
    * field nullable). Analysis of the projection over an empty Bronze
    * frame, so no job runs. */
  def schema(spark: SparkSession): StructType = StructType(
    apply(spark.createDataFrame(java.util.Collections.emptyList[Row](),
      Schemas.rawSchema), "").schema.map(_.copy(nullable = true)))
}
