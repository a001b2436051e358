package graft

import org.apache.spark.sql.functions._
import graft.sources.{Landing, Sinks}

/** End-to-end medallion pipeline over CoinCap-shaped fixture polls:
  * Bronze JSON → Silver → four Gold analyses → dashboard SQL. */
class PipelineSpec extends SparkSpec {
  import PipelineSpec._

  test("bronze → silver → gold → dashboard end to end") {
    val landing = tmpDir("landing")
    val warehouse = tmpDir("warehouse")
    Landing.injectPoll(landing, poll0, t0)
    Landing.injectPoll(landing, poll1, t1)

    val pipeline = new Pipeline(spark, warehouse)
    val dashboard = pipeline.run(landing, "2025-05-24 05:00:00")

    // Silver: 4 + 2 rows, typed
    val silver = spark.read.parquet(s"$warehouse/silver/assats_list")
    assert(silver.count() === 6)
    assert(silver.schema("supply").dataType.typeName === "double")
    assert(silver.schema("rank").dataType.typeName === "integer")

    // consumed polls were renamed read_*
    assert(Landing.pendingFiles(landing).isEmpty)

    // daily_overview: latest snapshot only (4 assets; btc/eth from poll1)
    val overview = spark.read.parquet(s"$warehouse/gold/daily_overview")
    assert(overview.count() === 4)
    val btc = overview.filter(col("id") === "bitcoin").head()
    assert(btc.getAs[Double]("change_percent_24hr") === 3.3) // poll1 won W2
    assert(overview.orderBy(col("rank")).head().getAs[String]("id") === "bitcoin")

    // top_gainers_losers: losers read FULL history (btc -2.5 from poll0
    // appears as a loser even though its latest change is +3.3)
    val movers = spark.read.parquet(s"$warehouse/gold/top_gainers_losers")
    val loserChanges = movers.filter(col("tipo_movimento") === "Perdedor")
      .select("change_percent_24hr").collect().map(_.getDouble(0)).toSet
    assert(loserChanges.contains(-2.5))
    assert(movers.filter(col("tipo_movimento") === "Ganhador").count() <= 10)

    // supply_dynamics: CASE labels (capped → Próximo do Limite, eth → Não
    // Definido, btc → Disponível); nully filtered out (null mcap)
    val supply = spark.read.parquet(s"$warehouse/gold/supply_dynamics")
    val status = supply.collect()
      .map(r => r.getAs[String]("symbol") -> r.getAs[String]("status_oferta_maxima")).toMap
    assert(status("CAP") === "Próximo do Limite")
    assert(status("ETH") === "Não Definido")
    assert(status("BTC") === "Disponível")
    assert(!status.contains("NUL"))

    // market_dominance percentages sum to ~100 (nully's null mcap excluded)
    val dom = spark.read.parquet(s"$warehouse/gold/market_dominance")
    val pctSum = dom.agg(sum("percent_market_cap")).head().getDouble(0)
    assert(math.abs(pctSum - 100.0) < 0.01)

    // dashboard: one row per latest asset, rank-ordered, joined cols present
    val rows = dashboard.collect()
    assert(rows.length >= 4)
    assert(rows.head.getAs[String]("id") === "bitcoin")
    assert(rows.head.getAs[String]("status_oferta_maxima") === "Disponível")
  }

  test("silver→gold: current tables in order key, history = current, dashboard pinned") {
    val warehouse = tmpDir("warehouse_sem")
    val pipeline = silverFromTwoPolls(spark, tmpDir("landing_sem"), warehouse)
    assert(pipeline.silverToGold("2025-05-24 05:00:00") === 6L,
      "silverToGold reports the Silver rows its observed scan counted")

    def gold(name: String) = spark.read.parquet(s"$warehouse/gold/$name")
    // each current table reads back in its order key
    for ((name, key, desc) <- Seq(("daily_overview", "rank", false),
        ("market_dominance", "percent_market_cap", true),
        ("supply_dynamics", "market_cap_per_unit_supply", true))) {
      val got = gold(name).select(key).collect()
        .map(_.get(0).asInstanceOf[Number].doubleValue).toSeq
      assert(got.size >= 3 && got == (if (desc) got.sorted.reverse else got.sorted),
        s"$name does not read back in $key order: $got")
    }
    // one run: each history append holds exactly its current table's rows;
    // each "current" view has the schema its files would infer
    for (name <- Seq("daily_overview", "top_gainers_losers",
        "market_dominance", "supply_dynamics")) {
      assert(gold(s"${name}_history").collect().map(_.toString).sorted.toSeq ==
        gold(name).collect().map(_.toString).sorted.toSeq, s"$name history")
      assert(spark.table(name).schema == gold(name).schema, s"$name view schema")
    }
    // the dashboard's rows on this fixture (order within a rank is free:
    // the movers join fans BTC out to its gainer and loser rows); the
    // timestamp is rendered in the session zone, not the JVM's
    val dash = graft.analytics.GoldAnalytics.dashboard(spark)
      .withColumn("data_referencia", col("data_referencia").cast("string"))
      .collect().map(_.toString).sorted.toSeq
    assert(dash == DashboardRows, dash.mkString("\n"))
  }

  test("silver→gold: Silver read with the written schema; a missing table fails fast") {
    val warehouse = tmpDir("warehouse_schema")
    val pipeline = silverFromTwoPolls(spark, tmpDir("landing_schema"), warehouse)
    // the declared read schema is what a footer inference would give
    val inferred = spark.read.parquet(s"$warehouse/silver/assats_list").schema
    assert(graft.etl.BronzeToSilver.schema(spark) == inferred)
    assert(pipeline.silverToGold("2025-05-24 05:00:00") == 6)
    intercept[org.apache.spark.sql.AnalysisException] {
      new Pipeline(spark, tmpDir("warehouse_empty"))
        .silverToGold("2025-05-24 05:00:00")
    }
  }

  test("market dominance skip guard: all-null market caps → analysis skipped") {
    import graft.analytics.GoldAnalytics
    val landing = tmpDir("landing2")
    Landing.injectPoll(landing, poll(t0, Seq(
      asset("a", 1, "A", "A", "\"1.0\"", "null", "null", "\"1.0\"", "\"1.0\"",
        "\"1.0\"", "\"1.0\""))), t0)
    val silver = graft.etl.BronzeToSilver(
      graft.sources.Sources.rawPolls(spark, landing), "2025-01-01 00:00:00")
    val latest = GoldAnalytics.latestSnapshot(silver)
    assert(GoldAnalytics.marketDominance(latest, "2025-01-01 00:00:00").isEmpty)
  }

  test("silver append is incremental: second run adds only new polls") {
    val landing = tmpDir("landing3")
    val warehouse = tmpDir("warehouse3")
    val pipeline = new Pipeline(spark, warehouse)
    Landing.injectPoll(landing, poll0, t0)
    pipeline.bronzeToSilver(landing, "2025-05-24 04:00:00")
    Landing.injectPoll(landing, poll1, t1)
    pipeline.bronzeToSilver(landing, "2025-05-24 05:00:00")
    val silver = spark.read.parquet(s"$warehouse/silver/assats_list")
    assert(silver.count() === 6) // 4 + 2, poll0 not re-read
  }

  test("history append with a widened schema: old rows null-fill new column") {
    // S7 schema evolution (reference appends with mergeSchema=true,
    // 3-spark_curated_analytics_full.py:89): a later batch adds a column;
    // readHistory must surface it with nulls on pre-existing rows.
    import spark.implicits._
    val hist = tmpDir("gold_history_evo")
    Sinks.appendHistory(
      Seq(("btc", 1.0), ("eth", 2.0)).toDF("symbol", "price"), hist)
    Sinks.appendHistory(
      Seq(("btc", 3.0, 0.5)).toDF("symbol", "price", "dominance"), hist)
    val got = Sinks.readHistory(spark, hist)
    assert(got.columns.sorted.toSeq == Seq("dominance", "price", "symbol"))
    assert(got.count() === 3)
    assert(got.filter(col("dominance").isNull).count() === 2,
      "pre-evolution rows must null-fill the added column")
    assert(got.filter(col("dominance") === 0.5).count() === 1)
  }

  test("delta probe: history sinks flip to delta iff the jars are present") {
    // SURVEY §1.4's fallback rule made runtime-checked (reference writes
    // format("delta"), 2-spark_processed_assats_list.py:65): the probe
    // keys off DeltaDataSource resolving on the classpath. Both branches
    // are covered: the active one end-to-end, the other as the skip
    // message records.
    import spark.implicits._
    if (Sinks.deltaAvailable) {
      assert(Sinks.historyFormat == "delta")
      val hist = tmpDir("delta_history")
      Sinks.appendHistory(Seq(("btc", 1.0)).toDF("symbol", "price"), hist)
      assert(new java.io.File(s"$hist/_delta_log").exists(),
        "delta append must create a transaction log")
      assert(Sinks.readHistory(spark, hist).count() === 1)
      info("delta jars present: parquet fallback branch not exercised here" +
        " (covered by the schema-evolution test in parquet-only builds)")
    } else {
      assert(Sinks.historyFormat == "parquet")
      // the parquet branch is fully exercised by the schema-evolution
      // test above; pin that the fallback really engaged (no delta log)
      val hist = tmpDir("delta_probe_fallback")
      Sinks.appendHistory(Seq(("btc", 1.0)).toDF("symbol", "price"), hist)
      assert(!new java.io.File(s"$hist/_delta_log").exists())
      assert(Sinks.readHistory(spark, hist).count() === 1)
      info("delta jars absent in this zero-egress build: delta branch " +
        "verified down to the probe, exercised on clusters that ship " +
        "delta-spark")
    }
  }
}

/** The two-poll fixture, shared with the plan-shape receipts. */
object PipelineSpec {

  /** Two-poll fixture: btc/eth/cap at t0, updated btc/eth at t1 (later).
    * cap has supply ≥ maxSupply; eth has null maxSupply; nul has null
    * changePercent and null marketCap. */
  def asset(id: String, rank: Int, symbol: String, name: String,
            supply: String, maxSupply: String, mcap: String,
            vol: String, price: String, change: String,
            vwap: String): String =
    s"""{"id":"$id","rank":"$rank","symbol":"$symbol","name":"$name",
       |"supply":$supply,"maxSupply":$maxSupply,"marketCapUsd":$mcap,
       |"volumeUsd24Hr":$vol,"priceUsd":$price,"changePercent24Hr":$change,
       |"vwap24Hr":$vwap,"explorer":"https://x/$id",
       |"tokens":{"1":["0xabc"]}}""".stripMargin.replaceAll("\n", "")

  def poll(ts: Long, assets: Seq[String]): String =
    s"""{"data":[${assets.mkString(",")}],"timestamp":$ts}"""

  val t0 = 1748056129137L // 2025-05-24T03:08:49 UTC
  val t1: Long = t0 + 3600000L

  val poll0: String = poll(t0, Seq(
    asset("bitcoin", 1, "BTC", "Bitcoin", "\"19868975.0\"", "\"21000000.0\"",
      "\"2145599312004.7\"", "\"19301351533.2\"", "\"107987.6\"", "\"-2.5\"", "\"108240.5\""),
    asset("ethereum", 2, "ETH", "Ethereum", "\"120716917.5\"", "null",
      "\"305875616817.2\"", "\"9014715590.5\"", "\"2533.8\"", "\"1.2\"", "\"2539.8\""),
    asset("capped", 3, "CAP", "Capped", "\"1000.0\"", "\"1000.0\"",
      "\"500.0\"", "\"10.0\"", "\"0.5\"", "\"-9.9\"", "\"0.5\""),
    asset("nully", 4, "NUL", "Nully", "\"10.0\"", "null",
      "null", "\"1.0\"", "\"1.0\"", "null", "\"1.0\"")))

  val poll1: String = poll(t1, Seq(
    asset("bitcoin", 1, "BTC", "Bitcoin", "\"19868975.0\"", "\"21000000.0\"",
      "\"2150000000000.0\"", "\"19301351533.2\"", "\"108200.0\"", "\"3.3\"", "\"108240.5\""),
    asset("ethereum", 2, "ETH", "Ethereum", "\"120716917.5\"", "null",
      "\"306000000000.0\"", "\"9014715590.5\"", "\"2540.0\"", "\"-0.7\"", "\"2539.8\"")))

  /** The dashboard on the two-poll fixture, as sorted `Row.toString`s. */
  val DashboardRows: Seq[String] = Seq(
    "[bitcoin,Bitcoin,BTC,1,108200.0,2.15E12,1.93013515332E10,3.3,108240.5," +
      "1.9868975E7,2.1E7,https://x/bitcoin,2025-05-24 04:08:49," +
      "108208.90357958,Disponível,87.5407,Ganhador]",
    "[bitcoin,Bitcoin,BTC,1,108200.0,2.15E12,1.93013515332E10,3.3,108240.5," +
      "1.9868975E7,2.1E7,https://x/bitcoin,2025-05-24 04:08:49," +
      "108208.90357958,Disponível,87.5407,Perdedor]",
    "[ethereum,Ethereum,ETH,2,2540.0,3.06E11,9.0147155905E9,-0.7,2539.8," +
      "1.20716918E8,null,https://x/ethereum,2025-05-24 04:08:49," +
      "2534.85597824,Não Definido,12.4593,Ganhador]",
    "[ethereum,Ethereum,ETH,2,2540.0,3.06E11,9.0147155905E9,-0.7,2539.8," +
      "1.20716918E8,null,https://x/ethereum,2025-05-24 04:08:49," +
      "2534.85597824,Não Definido,12.4593,Perdedor]")

  /** Lands both polls in `landing` and runs Bronze→Silver into `warehouse`. */
  def silverFromTwoPolls(spark: org.apache.spark.sql.SparkSession,
                         landing: String, warehouse: String): Pipeline = {
    Landing.injectPoll(landing, poll0, t0)
    Landing.injectPoll(landing, poll1, t1)
    val pipeline = new Pipeline(spark, warehouse)
    pipeline.bronzeToSilver(landing, "2025-05-24 05:00:00")
    pipeline
  }
}
