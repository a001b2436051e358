package perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.api.java.function.VoidFunction2
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import graft.{Pipeline, SparkEntry}
import graft.analytics.GoldAnalytics
import graft.sources.Landing
import graft.streaming.Streaming

/** A workload: `setup` seeds state, then `run` performs the fixed op
  * sequence (warm-up first) through the meter and returns check notes,
  * among them `attempted` and `failed`: every op, the warm-up included, is
  * checked and counted. */
trait Workload {
  def setup(): Unit
  def run(meter: Meter, tracer: Option[Tracer]): Map[String, Any]
}

object Workload {
  def apply(name: String, spark: SparkSession, work: String,
            plan: Map[String, String]): Workload = name match {
    case "medallion"    => new Medallion(spark, work, plan)
    case "curation"     => new Curation(spark, work, plan)
    case "stream_dedup" => new StreamDedup(spark, work, plan)
  }

  def files(dir: String): Seq[Path] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) Seq.empty
    else Files.walk(d).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
  }

  def sha(lines: Iterable[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Each op lands one seeded poll, then Bronze->Silver, Silver->Gold and the
  * dashboard collect, on top of a seeded history. */
final class Medallion(spark: SparkSession, work: String, plan: Map[String, String])
    extends Workload {
  private val landing = s"$work/landing"
  private val warehouse = s"$work/warehouse"
  private val pipeline = new Pipeline(spark, warehouse)
  private def polls(phase: String): Seq[(Long, String)] =
    Workload.files(s"$work/inputs/$phase").map { p =>
      (p.getFileName.toString.stripSuffix(".json").toLong, Files.readString(p))
    }.sortBy(_._1)

  /** Seeds Silver with the history polls; Gold is first written by the
    * warm-up cycles. */
  def setup(): Unit = {
    polls("history").foreach { case (t, json) => Landing.injectPoll(landing, json, t) }
    pipeline.bronzeToSilver(landing, "2025-05-24 00:00:00")
  }

  def run(meter: Meter, tracer: Option[Tracer]): Map[String, Any] = {
    val cycles = polls("cycles")
    val warm = plan("warmup_ops").toInt
    var failed = 0
    cycles.zipWithIndex.foreach { case ((t, json), i) =>
      val ts = java.time.Instant.ofEpochMilli(t).toString.replace("T", " ").take(19)
      val filesBefore = if (tracer.isDefined) Workload.files(warehouse).size else 0
      val (rows, s) = meter.op(timed = i >= warm) {
        meter.span("pipeline.land_s")(Landing.injectPoll(landing, json, t))
        meter.span("pipeline.bronze_to_silver_s")(pipeline.bronzeToSilver(landing, ts))
        meter.span("pipeline.silver_to_gold_s")(pipeline.silverToGold(ts))
        meter.span("pipeline.dashboard_s")(GoldAnalytics.dashboard(spark).collect())
      }
      if (!dashboardOk(rows, ts)) failed += 1
      if (s.traced) tracer.foreach { tr =>
        tr.record("io.output_files", Workload.files(warehouse).size - filesBefore)
        tr.record("op.output_rows", rows.length)
      }
    }
    val silverRows = spark.read.parquet(s"$warehouse/silver/assats_list").count()
    val expected = (plan("history_polls").toLong + cycles.size) * 100
    Map("silver_rows" -> silverRows, "silver_rows_expected" -> expected,
        "silver_ok" -> (silverRows == expected),
        "attempted" -> cycles.size, "failed" -> failed)
  }

  /** 100 rows in rank order, all from the landed poll, and the market
    * dominance shares sum to 100. */
  private def dashboardOk(rows: Array[Row], ts: String): Boolean = {
    val ranks = rows.map(_.getAs[Int]("rank")).toSeq
    val shares = rows.flatMap(r => Option(r.getAs[java.lang.Double]("percent_market_cap")))
    rows.length == 100 && ranks == ranks.sorted &&
      rows.forall(r => String.valueOf(r.getAs[java.sql.Timestamp]("data_referencia")).startsWith(ts)) &&
      shares.length == 100 && math.abs(shares.map(_.doubleValue).sum - 100.0) < 0.01
  }
}

/** Each op is one round of the SparkEntry query mix, in the seed's order. */
final class Curation(spark: SparkSession, work: String, plan: Map[String, String])
    extends Workload {
  private val dir = s"$work/inputs/tables"
  private val queries = plan("queries").split(",").toSeq

  def setup(): Unit = ()

  def run(meter: Meter, tracer: Option[Tracer]): Map[String, Any] = {
    val rounds = plan("warmup_ops").toInt + plan("timed_ops").toInt
    var reference = Map.empty[String, String]
    var failed = 0
    (0 until rounds).foreach { round =>
      val (results, s) = meter.op(timed = round >= plan("warmup_ops").toInt) {
        queries.map { q =>
          val df = meter.span(s"query.${q}_s") {
            val df = meter.span("queries.build_s")(SparkEntry.queries(q)(spark, dir))
            (df, meter.span("queries.action_s")(df.collect()))
          }
          q -> df
        }
      }
      val hashes = results.map { case (q, (_, rows)) =>
        q -> Workload.sha(rows.map(_.toString).sorted)
      }.toMap
      if (round == 0) {
        reference = hashes
        // round 1 is kept for the DuckDB oracle comparison after the run
        results.foreach { case (q, (df, rows)) =>
          spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
            .write.parquet(s"$work/oracle/$q")
          Files.writeString(Paths.get(s"$work/oracle/$q.sql"), SparkEntry.oracleSql(q))
        }
      }
      if (hashes != reference) failed += 1
      if (s.traced) tracer.foreach(_.record("op.output_rows", results.map(_._2._2.length).sum))
    }
    // round 0 is the reference; run.py checks it against the DuckDB oracle
    Map("result_hashes" -> reference, "attempted" -> rounds, "failed" -> failed)
  }
}

/** Each op is one micro-batch of lshBucketClaimStream over the seeded
  * arrival files; a pass replays them all from a fresh checkpoint. */
final class StreamDedup(spark: SparkSession, work: String, plan: Map[String, String])
    extends Workload {
  private val arrivals = s"$work/inputs/arrivals"
  private val bands = plan("k").toInt / plan("r").toInt
  private val docsPerFile = plan("docs_per_file").toInt
  private val nFiles = plan("files").toInt
  private lazy val schema = spark.read.parquet(arrivals).schema
  /** Per-batch samples of the timed passes, built from their progress. */
  val batches = mutable.ArrayBuffer.empty[Sample]
  val passWalls = mutable.ArrayBuffer.empty[Double]

  def setup(): Unit = schema

  private def pass(n: Int, meter: Meter, timed: Boolean) = {
    val emitted = mutable.ArrayBuffer.empty[Array[Streaming.BucketClaim]]
    val sink = new VoidFunction2[Dataset[Streaming.BucketClaim], java.lang.Long] {
      def call(ds: Dataset[Streaming.BucketClaim], id: java.lang.Long): Unit =
        emitted += ds.collect()
    }
    val (progress, s) = meter.op(timed) {
      val src = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(arrivals)
      val q = Streaming.lshBucketClaimStream(src, "doc_id", "text",
          k = plan("k").toInt, r = plan("r").toInt)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", s"$work/checkpoints/pass-$n")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.filter(_.numInputRows > 0)
    }
    (emitted.toSeq, progress.toSeq, s)
  }

  def run(meter: Meter, tracer: Option[Tracer]): Map[String, Any] = {
    val warm = plan("warmup_ops").toInt
    var reference: Option[Set[(Long, Int)]] = None
    var attempted, failed = 0
    (0 until warm + plan("timed_ops").toInt).foreach { n =>
      val timed = n >= warm
      val (emitted, progress, s) = pass(n, meter, timed)
      val flagged = emitted.flatten.filter(_.is_dup).map(c => (c.doc_id, c.band)).toSet
      if (reference.isEmpty) reference = Some(flagged)
      val passOk = flagged == reference.get && emitted.size == nFiles &&
        progress.size == nFiles
      if (timed) passWalls += s.wall
      // an op is a batch: each must emit docs x bands rows in a sound pass
      (0 until nFiles).foreach { i =>
        val ok = passOk && emitted.lift(i).exists(_.length == docsPerFile * bands)
        attempted += 1
        if (!ok) failed += 1
        if (timed) {
          val d = progress.lift(i).map(_.durationMs.asScala.map { case (k, v) =>
            k -> v.doubleValue / 1e3 }.toMap).getOrElse(Map.empty[String, Double])
          batches += Sample(d.getOrElse("triggerExecution", 0.0), s.cpu / nFiles,
            s.jit / nFiles, s.gc / nFiles, s.traced, Map.empty)
          if (s.traced) tracer.foreach { tr =>
            tr.record("streaming.batch_s", d.getOrElse("triggerExecution", 0.0))
            if (i == 0) tr.record("streaming.first_batch_s", d.getOrElse("triggerExecution", 0.0))
            tr.record("streaming.planning_s", d.getOrElse("queryPlanning", 0.0))
            tr.record("streaming.add_batch_s", d.getOrElse("addBatch", 0.0))
            tr.record("streaming.commit_s", d.getOrElse("commitOffsets", 0.0) + d.getOrElse("walCommit", 0.0))
            progress.lift(i).flatMap(_.stateOperators.headOption).foreach { st =>
              tr.record("streaming.state_rows", st.numRowsTotal)
              tr.record("streaming.state_mem_bytes", st.memoryUsedBytes)
            }
            tr.record("op.output_rows", emitted.lift(i).map(_.length.toDouble).getOrElse(0.0))
          }
        }
      }
    }
    Map("flagged" -> reference.map(_.size).getOrElse(0), "bands" -> bands,
        "docs_per_pass" -> nFiles * docsPerFile, "attempted" -> attempted, "failed" -> failed)
  }
}
