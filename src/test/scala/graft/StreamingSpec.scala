package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.sources.{Landing, Sources}
import graft.streaming.Streaming

class StreamingSpec extends SparkSpec {

  private val pollJson =
    """{"data":[
      |{"id":"bitcoin","rank":"1","symbol":"BTC","name":"Bitcoin",
      | "supply":"19.0","maxSupply":"21.0","marketCapUsd":"100.0",
      | "volumeUsd24Hr":"5.0","priceUsd":"10.0","changePercent24Hr":"1.5",
      | "vwap24Hr":"10.1","explorer":"https://x","tokens":{"1":["0xa"]}},
      |{"id":"ethereum","rank":"2","symbol":"ETH","name":"Ethereum",
      | "supply":"120.0","maxSupply":null,"marketCapUsd":"50.0",
      | "volumeUsd24Hr":"2.0","priceUsd":"5.0","changePercent24Hr":"-0.5",
      | "vwap24Hr":"5.1","explorer":null,"tokens":{}}
      |],"timestamp":1748056129137}""".stripMargin

  test("streaming silver ingest produces identical content to batch") {
    val landing = tmpDir("s-landing")
    Landing.injectPoll(landing, pollJson, 1748056129137L)

    val batch = graft.etl.BronzeToSilver(
      Sources.rawPolls(spark, landing), "2025-01-01 00:00:00")

    val silverPath = tmpDir("s-silver") + "/out"
    Streaming.runSilverIngest(spark, landing, silverPath,
      tmpDir("s-ckpt"), "2025-01-01 00:00:00")
    val streamed = spark.read.parquet(silverPath)

    assert(streamed.count() === 2)
    val cols = batch.columns.sorted.map(col).toSeq
    assert(streamed.select(cols: _*).except(batch.select(cols: _*)).isEmpty)
    assert(batch.select(cols: _*).except(streamed.select(cols: _*)).isEmpty)
  }

  test("streaming ingest is exactly-once across restarts (checkpoint)") {
    val landing = tmpDir("s2-landing")
    val silverPath = tmpDir("s2-silver") + "/out"
    val ckpt = tmpDir("s2-ckpt")
    Landing.injectPoll(landing, pollJson, 1000L)
    Streaming.runSilverIngest(spark, landing, silverPath, ckpt, "2025-01-01 00:00:00")
    // second run, same checkpoint: old file must NOT be re-ingested
    // (distinct epoch seconds → distinct landing file names)
    Landing.injectPoll(landing, pollJson, 2000L)
    Streaming.runSilverIngest(spark, landing, silverPath, ckpt, "2025-01-01 00:00:00")
    assert(spark.read.parquet(silverPath).count() === 4) // 2 + 2, not 2 + 4
  }

  test("windowed aggregation matches batch window groupBy") {
    val events = Sources.events(spark, "/root/testdata/sf0.001")
    // batch semantics of the same windowed aggregation
    val expected = events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .count()
    val streamedDef = Streaming.windowedEventCounts(events, "1 hour", "1 hour")
    // windowedEventCounts is stream-agnostic: on a batch DF it runs directly
    assert(streamedDef.count() === expected)
    assert(streamedDef.columns.toSeq ===
      Seq("window_start", "window_end", "event_type", "n", "total_value"))
  }

  test("windowed aggregation runs as a true stream and matches batch") {
    val sf = "/root/testdata/sf0.001"
    val batch = Sources.events(spark, sf)
    val expected = Streaming.windowedEventCounts(batch, "1 hour", "1 hour")
      .collect().toSet

    val raw = spark.read.parquet(s"$sf/events.parquet")
    // file-stream source requires a directory: stage the table file into one
    val streamDir = tmpDir("wec-src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$streamDir/events.parquet"))
    val stream = spark.readStream.schema(raw.schema).parquet(streamDir)
    val streamEvents = Sources.normalizeEventTs(stream)
    val q = Streaming.windowedEventCounts(streamEvents, "1 hour", "1 hour")
      .writeStream.format("memory").queryName("wec")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("wec").collect().toSet === expected)
  }

  test("session windows close on the watermark and match batch sessions") {
    // native gap-based session_window in a true stream: sessions are
    // watermark-closed state, emitted once complete — the streaming form
    // of the Sessionize rollup
    val sf = "/root/testdata/sf0.001"
    val raw = spark.read.parquet(s"$sf/events.parquet")
    def sessions(df: org.apache.spark.sql.DataFrame) = {
      val events = Sources.normalizeEventTs(df)
      events.withWatermark("ts", "0 seconds")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_window.start").as("s"),
          col("session_window.end").as("e"), col("n_events"))
    }
    val expected = sessions(raw).collect().toSet
    assert(expected.nonEmpty)
    val streamDir = tmpDir("sess-src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$streamDir/events.parquet"))
    val q = sessions(spark.readStream.schema(raw.schema).parquet(streamDir))
      .writeStream.format("memory").queryName("sess")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("sess").collect().toSet === expected)
  }

  test("curation feature columns run unchanged on a stream (stateless)") {
    val sf = "/root/testdata/sf0.001"
    import graft.operators.{Sampling, TextAnalysis}
    def curate(df: org.apache.spark.sql.DataFrame) = {
      val (lang, _) = TextAnalysis.languageIdCols(col("text"))
      Sampling.deterministicSplit(
        df.select(col("doc_id"), lang.as("predicted_lang")),
        "doc_id", "split", Seq(("train", 204), ("val", 230), ("test", 256)))
    }
    val batch = spark.read.parquet(s"$sf/documents.parquet")
    val expected = curate(batch).collect().toSet
    val streamDir = tmpDir("cur-src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      java.nio.file.Paths.get(s"$streamDir/documents.parquet"))
    val q = curate(spark.readStream.schema(batch.schema).parquet(streamDir))
      .writeStream.format("memory").queryName("cur")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("cur").collect().toSet === expected)
  }

  test("FIM / ICT data-gen transforms run statelessly on a stream") {
    // the training-pair transforms are pure projections, so ingest can
    // mint pairs online with zero state — parity with batch proves the
    // md5-derived cuts don't depend on partitioning or arrival order
    val sf = "/root/testdata/sf0.001"
    import graft.operators.Chunking
    val batch = spark.read.parquet(s"$sf/documents.parquet")
    val expectedFim = Chunking.fimSplitPlan(batch, "doc_id", "text")
      .collect().toSet
    val expectedIct = Chunking.ictPairs(batch, "doc_id", "text")
      .collect().toSet
    val streamDir = tmpDir("fim-src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      java.nio.file.Paths.get(s"$streamDir/documents.parquet"))
    val src = spark.readStream.schema(batch.schema).parquet(streamDir)
    val q1 = Chunking.fimSplitPlan(src, "doc_id", "text")
      .writeStream.format("memory").queryName("fimout")
      .trigger(Trigger.AvailableNow()).start()
    q1.awaitTermination()
    val q2 = Chunking.ictPairs(src, "doc_id", "text")
      .writeStream.format("memory").queryName("ictout")
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(spark.table("fimout").collect().toSet === expectedFim)
    assert(spark.table("ictout").collect().toSet === expectedIct)
  }

  test("streaming dedup drops repeats within the watermark") {
    import spark.implicits._
    val dir = tmpDir("dup-stream")
    val rows = Seq((1L, "2024-01-01 00:00:01"), (2L, "2024-01-01 00:00:02"))
      .toDF("event_id", "tss").withColumn("ts", col("tss").cast("timestamp"))
      .drop("tss")
    // two files with identical rows → in-stream duplicates
    rows.coalesce(1).write.parquet(s"$dir/a")
    rows.coalesce(1).write.parquet(s"$dir/b")
    val stream = spark.readStream.schema(rows.schema).parquet(s"$dir/*/")
    val q = Streaming.dedupedStream(stream, Seq("event_id"), "10 minutes")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("dedup_stream").select("event_id").collect()
      .map(_.getLong(0)).sorted === Array(1L, 2L))
  }

  test("streaming near-dup candidates match the batch index collisions") {
    val sf = "/root/testdata/sf0.001"
    import graft.operators.TextDedup
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // index the even half (the "already-deduped corpus"), stream the odd
    val (indexBands, _) = TextDedup.lshIndex(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
    val newDocs = docs.filter(col("doc_id") % 2 === 1)
    val expected = TextDedup.bandsPerRow(newDocs, "doc_id", "text")
      .join(indexBands.select(col("doc_id").as("d_old"),
        col("band"), col("bh")), Seq("band", "bh"))
      .select("doc_id", "d_old").distinct().collect().toSet
    assert(expected.nonEmpty, "fixture should produce ≥1 collision")
    val streamDir = tmpDir("neardup-src")
    newDocs.write.parquet(s"$streamDir/docs")
    val stream = spark.readStream.schema(docs.schema)
      .parquet(s"$streamDir/docs")
    val q = Streaming.nearDupCandidates(stream, "doc_id", "text", indexBands)
      .writeStream.format("memory").queryName("neardup")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("neardup").select("doc_id", "d_old")
      .distinct().collect().toSet === expected)
    // a cap-split index (q362's build) yields the IDENTICAL candidate
    // set through the block join — the capped index is transparent to
    // the streaming consumer too
    val (cappedBands, _) = TextDedup.lshIndex(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
      maxBucket = Some(1L))
    val q2 = Streaming.nearDupCandidates(
        spark.readStream.schema(docs.schema).parquet(s"$streamDir/docs"),
        "doc_id", "text", cappedBands)
      .writeStream.format("memory").queryName("neardup_capped")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(spark.table("neardup_capped").select("doc_id", "d_old")
      .distinct().collect().toSet === expected)
  }

  test("streaming embedding near-dup candidates match batch index collisions") {
    import graft.operators.Similarity
    val sf = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // index the even half; stream the odd half (the q375 split)
    val corpus = emb.filter(col("vec_id") % 2 === 0)
    val idx = Similarity.annIndex(corpus, "vec_id", "embedding")
    val batch = emb.filter(col("vec_id") % 2 === 1)
    val expected = Similarity.lshSignaturesMulti(batch, "vec_id",
        "embedding", 4, 4, 64)
      .join(idx.select(col("vec_id").as("d_old"), col("tbl"), col("sig")),
        Seq("tbl", "sig"))
      .select("vec_id", "d_old").distinct().collect().toSet
    assert(expected.nonEmpty, "fixture should produce ≥1 collision")
    val streamDir = tmpDir("embdup-src")
    batch.write.parquet(s"$streamDir/vecs")
    val q = Streaming.nearDupEmbCandidates(
        spark.readStream.schema(emb.schema).parquet(s"$streamDir/vecs"),
        "vec_id", "embedding", idx)
      .writeStream.format("memory").queryName("embdup")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("embdup").select("vec_id", "d_old")
      .distinct().collect().toSet === expected)
    // a cap-split index (q375's build) yields the IDENTICAL candidate
    // set through the block join — transparent to the streaming consumer
    val capped = Similarity.annIndex(corpus, "vec_id", "embedding",
      maxBucket = Some(1L))
    val q2 = Streaming.nearDupEmbCandidates(
        spark.readStream.schema(emb.schema).parquet(s"$streamDir/vecs"),
        "vec_id", "embedding", capped)
      .writeStream.format("memory").queryName("embdup_capped")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(spark.table("embdup_capped").select("vec_id", "d_old")
      .distinct().collect().toSet === expected)
  }

  test("streaming decontamination matches the batch semantic filter") {
    import graft.operators.Decontamination
    val sf = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val train = emb.filter(col("vec_id") % 13 =!= 0)
    val evalVecs = emb.filter(col("vec_id") % 13 === 0)
    // batch ground truth: q201's operator on the same split
    val expected = Decontamination.semanticContaminated(
        train, evalVecs, "vec_id", "embedding", tau = 0.375)
      .collect().toSet
    assert(expected.nonEmpty, "fixture should have ≥1 contaminated vector")
    val streamDir = tmpDir("decontam-src")
    train.write.parquet(s"$streamDir/train")
    val q = Streaming.decontaminationStream(
        spark.readStream.schema(train.schema).parquet(s"$streamDir/train"),
        evalVecs, "vec_id", "embedding", tau = 0.375)
      .writeStream.format("memory").queryName("decontam")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("decontam").collect().toSet === expected)
  }

  test("streaming decontamination is stateless (no state store operator)") {
    val sf = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val streamDir = tmpDir("decontam2-src")
    emb.limit(10).write.parquet(s"$streamDir/t")
    val df = Streaming.decontaminationStream(
      spark.readStream.schema(emb.schema).parquet(s"$streamDir/t"),
      emb.limit(5), "vec_id", "embedding", tau = 0.5)
    // the check runs per-row against the broadcast eval array, so a
    // state store (and its watermark bookkeeping) would be pure
    // overhead at scale — the progress report must show NO stateful
    // operators
    assert(df.isStreaming)
    val q = df.writeStream.format("memory").queryName("decontam2")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val prog = q.lastProgress
    assert(prog == null || prog.stateOperators.isEmpty,
      s"expected no state operators, got ${prog.stateOperators.length}")
  }

  test("quality classifier runs statelessly on a stream and matches batch") {
    import graft.operators.TextAnalysis
    import graft.queries.QualityQueries
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // batch ground truth: the q212 operator (broadcast-join form)
    val expected = TextAnalysis.linearQualityScore(docs, "doc_id", "text",
        QualityQueries.q212MilliWeights.toMap,
        QualityQueries.q212BiasMilli)
      .select("doc_id", "n_terms", "n_hits", "logit_milli", "label")
      .collect().toSet
    val streamDir = tmpDir("qclass-src")
    docs.write.parquet(s"$streamDir/docs")
    // the column form is a pure projection → stateless append stream
    val (nt, nh, lg, lb) = TextAnalysis.linearQualityScoreCols(col("text"),
      QualityQueries.q212MilliWeights.toMap, QualityQueries.q212BiasMilli)
    val q = spark.readStream.schema(docs.schema)
      .parquet(s"$streamDir/docs")
      .select(col("doc_id"), nt.as("n_terms"), nh.as("n_hits"),
        lg.as("logit_milli"), lb.as("label"))
      .writeStream.format("memory").queryName("qclass")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("qclass").collect().toSet === expected)
  }

  test("LSH bucket-claim stream matches batch min-id ownership in one batch") {
    import graft.operators.TextDedup
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // batch ground truth: owner of every bucket = min doc_id in it
    val bands = TextDedup.bandsPerRow(docs, "doc_id", "text")
      .select(col("doc_id"), col("band"), col("bh"))
    val owners = bands.groupBy("band", "bh")
      .agg(min(col("doc_id")).as("owner"))
    val expected = bands.join(owners, Seq("band", "bh"))
      .select(col("doc_id"), col("band"), col("bh"), col("owner"),
        (col("doc_id") =!= col("owner")).as("is_dup"))
      .collect().toSet
    assert(expected.exists(_.getBoolean(4)), "fixture should have ≥1 dup")
    val streamDir = tmpDir("claim-src")
    docs.write.parquet(s"$streamDir/docs")
    val q = Streaming.lshBucketClaimStream(
        spark.readStream.schema(docs.schema).parquet(s"$streamDir/docs"),
        "doc_id", "text")
      .writeStream.format("memory").queryName("claims")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("claims").collect().toSet === expected)
  }

  test("LSH bucket claims are first-wins across micro-batches (no retraction)") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val streamDir = tmpDir("claim2-src")
    // batch 1: doc 10 claims the bucket; batch 2: doc 5 (smaller id, same
    // text) arrives AFTER the claim — the stored owner wins, so doc 5 is
    // flagged as a dup of 10 (min-wins would let it pass un-flagged and
    // ship both copies), as is doc 12.
    // maxFilesPerTrigger=1 + explicit mtimes force the batch order in ONE
    // continuous query (the memory sink cannot recover a checkpoint).
    Seq((10L, "x y z")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$streamDir/b1")
    Seq((5L, "x y z"), (12L, "x y z")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$streamDir/b2")
    def stamp(dir: String, epochSec: Long): Unit = {
      val d = Paths.get(s"$streamDir/$dir")
      Files.list(d).forEach(p =>
        Files.setLastModifiedTime(p, FileTime.fromMillis(epochSec * 1000)))
    }
    stamp("b1", 1000000000L)
    stamp("b2", 1000000100L)
    val schema = spark.read.parquet(s"$streamDir/b1").schema
    val q = Streaming.lshBucketClaimStream(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$streamDir/b*"),
        "doc_id", "text")
      .writeStream.format("memory").queryName("claims2")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val byDoc = spark.table("claims2")
      .as[(Long, Int, String, Long, Boolean)].collect().toSeq.groupBy(_._1)
    assert(byDoc.keySet == Set(5L, 10L, 12L))
    // doc 10 claimed first — its non-dup emission stands
    assert(byDoc(10L).forall(r => r._4 == 10L && !r._5))
    // doc 5 arrives after the claim: flagged against the stored owner
    // despite its smaller id (first-wins, not min-wins)
    assert(byDoc(5L).forall(r => r._4 == 10L && r._5))
    // doc 12 (same batch as 5) dups onto the original owner too
    assert(byDoc(12L).forall(r => r._4 == 10L && r._5))
  }

  test("split claim stream: flag set matches the uncapped stream, owners resolve") {
    import spark.implicits._
    import graft.operators.TextDedup
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // uncapped ground truth: flagged ⟺ doc is not the bucket min-id
    val bands = TextDedup.bandsPerRow(docs, "doc_id", "text")
      .select(col("doc_id"), col("band"), col("bh"))
    val owners = bands.groupBy("band", "bh")
      .agg(min(col("doc_id")).as("g_owner"))
    val expected = bands.join(owners, Seq("band", "bh"))
      .select(col("doc_id"), col("band"), col("bh"),
        (col("doc_id") =!= col("g_owner")).as("is_dup"), col("g_owner"))
      .collect().map(r => ((r.getLong(0), r.getInt(1), r.getString(2)),
        (r.getBoolean(3), r.getLong(4)))).toMap
    assert(expected.values.exists(_._1), "fixture should have ≥1 dup")
    val streamDir = tmpDir("claimsplit-src")
    docs.write.parquet(s"$streamDir/docs")
    val q = Streaming.lshBucketClaimStreamSplit(
        spark.readStream.schema(docs.schema).parquet(s"$streamDir/docs"),
        "doc_id", "text", splits = 3)
      .writeStream.format("memory").queryName("claimsplit")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("claimsplit")
      .as[(Long, Int, String, Long, Boolean)].collect().toSeq
    // every arriving (doc, band) appears exactly once
    assert(got.map(r => (r._1, r._2, r._3)).toSet == expected.keySet)
    assert(got.size == expected.size)
    // flag parity with the uncapped contract
    got.foreach { case (doc, band, bh, _, dup) =>
      assert(dup == expected((doc, band, bh))._1,
        s"flag mismatch for ($doc, $band)") }
    // owner attribution resolves to the bucket owner in ≤ 2 hops
    val ownerOf = got.map(r => ((r._2, r._3, r._1), r._4)).toMap
    got.foreach { case (doc, band, bh, own, _) =>
      val resolved =
        if (own == doc) doc
        else ownerOf.getOrElse((band, bh, own), own) match {
          case o if o == own => own
          case o => o
        }
      assert(resolved == expected((doc, band, bh))._2,
        s"owner chain for ($doc, $band): $own -> $resolved") }
  }

  test("split claim stream is first-wins across micro-batches") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val streamDir = tmpDir("claimsplit2-src")
    // batch 1: doc 10 owns the bucket; batch 2: smaller id 5 arrives
    // late — whatever sub-bucket it hashes into, it must be flagged
    // (either its sub-bucket is owned, or it announces into the owned
    // bucket at level 2) and 10's claim is never retracted
    Seq((10L, "x y z")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$streamDir/b1")
    Seq((5L, "x y z"), (12L, "x y z")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$streamDir/b2")
    def stamp(dir: String, epochSec: Long): Unit = {
      val d = Paths.get(s"$streamDir/$dir")
      Files.list(d).forEach(p =>
        Files.setLastModifiedTime(p, FileTime.fromMillis(epochSec * 1000)))
    }
    stamp("b1", 1000000000L)
    stamp("b2", 1000000100L)
    val schema = spark.read.parquet(s"$streamDir/b1").schema
    val q = Streaming.lshBucketClaimStreamSplit(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$streamDir/b*"),
        "doc_id", "text", splits = 3)
      .writeStream.format("memory").queryName("claimsplit2")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val byDoc = spark.table("claimsplit2")
      .as[(Long, Int, String, Long, Boolean)].collect().toSeq.groupBy(_._1)
    assert(byDoc.keySet == Set(5L, 10L, 12L))
    // doc 10 claimed first: never flagged
    assert(byDoc(10L).forall(r => r._4 == 10L && !r._5))
    // late smaller id 5 and doc 12: flagged, owner chain ends at 10
    Seq(5L, 12L).foreach { d =>
      assert(byDoc(d).forall(_._5), s"doc $d must be flagged")
      assert(byDoc(d).forall(r => r._4 == 10L || r._4 == 5L),
        s"doc $d owner must chain toward the original claim") }
  }

  test("embedding bucket-claim stream matches batch min-id ownership in one batch") {
    import graft.operators.Similarity
    val sf = "/root/testdata/sf0.001"
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
    val sigs = Similarity.lshSignaturesMulti(vecs, "vec_id", "embedding",
        4, 4, 64)
      .select(col("vec_id"), col("tbl"), col("sig"))
    val owners = sigs.groupBy("tbl", "sig")
      .agg(min(col("vec_id")).as("owner"))
    val expected = sigs.join(owners, Seq("tbl", "sig"))
      .select(col("vec_id"), col("tbl"), col("sig"), col("owner"),
        (col("vec_id") =!= col("owner")).as("is_dup"))
      .collect().toSet
    assert(expected.exists(_.getBoolean(4)), "fixture should have ≥1 dup")
    val streamDir = tmpDir("embclaim-src")
    vecs.write.parquet(s"$streamDir/vecs")
    val q = Streaming.embBucketClaimStream(
        spark.readStream.schema(vecs.schema).parquet(s"$streamDir/vecs"),
        "vec_id", "embedding")
      .writeStream.format("memory").queryName("embclaims")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("embclaims").collect().toSet === expected)
  }

  test("embedding bucket claims are first-wins across micro-batches") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val streamDir = tmpDir("embclaim2-src")
    // identical vectors sign identically in every table; the late,
    // smaller id must be flagged against the stored owner
    val v = Array.tabulate(8)(i => (i + 1).toFloat)
    Seq((10L, v)).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$streamDir/b1")
    Seq((5L, v), (12L, v)).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$streamDir/b2")
    def stamp(dir: String, epochSec: Long): Unit = {
      val d = Paths.get(s"$streamDir/$dir")
      Files.list(d).forEach(p =>
        Files.setLastModifiedTime(p, FileTime.fromMillis(epochSec * 1000)))
    }
    stamp("b1", 1000000000L)
    stamp("b2", 1000000100L)
    val schema = spark.read.parquet(s"$streamDir/b1").schema
    val q = Streaming.embBucketClaimStream(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$streamDir/b*"),
        "vec_id", "embedding", dims = 8)
      .writeStream.format("memory").queryName("embclaims2")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val byVec = spark.table("embclaims2")
      .as[(Long, Int, Long, Long, Boolean)].collect().toSeq.groupBy(_._1)
    assert(byVec.keySet == Set(5L, 10L, 12L))
    assert(byVec(10L).forall(r => r._4 == 10L && !r._5))
    assert(byVec(5L).forall(r => r._4 == 10L && r._5))
    assert(byVec(12L).forall(r => r._4 == 10L && r._5))
  }

  test("embedding split claim stream: flag parity with uncapped, owners resolve") {
    import spark.implicits._
    import graft.operators.Similarity
    val sf = "/root/testdata/sf0.001"
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
    val sigs = Similarity.lshSignaturesMulti(vecs, "vec_id", "embedding",
        4, 4, 64)
      .select(col("vec_id"), col("tbl"), col("sig"))
    val owners = sigs.groupBy("tbl", "sig")
      .agg(min(col("vec_id")).as("g_owner"))
    val expected = sigs.join(owners, Seq("tbl", "sig"))
      .select(col("vec_id"), col("tbl"), col("sig"),
        (col("vec_id") =!= col("g_owner")).as("is_dup"), col("g_owner"))
      .collect().map(r => ((r.getLong(0), r.getInt(1), r.getLong(2)),
        (r.getBoolean(3), r.getLong(4)))).toMap
    assert(expected.values.exists(_._1), "fixture should have ≥1 dup")
    val streamDir = tmpDir("embclaimsplit-src")
    vecs.write.parquet(s"$streamDir/vecs")
    val q = Streaming.embBucketClaimStreamSplit(
        spark.readStream.schema(vecs.schema).parquet(s"$streamDir/vecs"),
        "vec_id", "embedding", splits = 3)
      .writeStream.format("memory").queryName("embclaimsplit")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("embclaimsplit")
      .as[(Long, Int, Long, Long, Boolean)].collect().toSeq
    assert(got.map(r => (r._1, r._2, r._3)).toSet == expected.keySet)
    assert(got.size == expected.size)
    got.foreach { case (id, tbl, sig, _, dup) =>
      assert(dup == expected((id, tbl, sig))._1,
        s"flag mismatch for ($id, $tbl, $sig)") }
    val ownerOf = got.map(r => ((r._2, r._3, r._1), r._4)).toMap
    got.foreach { case (id, tbl, sig, own, _) =>
      val resolved =
        if (own == id) id
        else ownerOf.getOrElse((tbl, sig, own), own) match {
          case o if o == own => own
          case o => o
        }
      assert(resolved == expected((id, tbl, sig))._2,
        s"owner chain for ($id, $tbl, $sig): $own -> $resolved") }
  }

  test("embedding split claim stream is first-wins across micro-batches") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val streamDir = tmpDir("embclaimsplit2-src")
    val v = Array.tabulate(8)(i => (i + 1).toFloat)
    Seq((10L, v)).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$streamDir/b1")
    Seq((5L, v), (12L, v)).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$streamDir/b2")
    def stamp(dir: String, epochSec: Long): Unit = {
      val d = Paths.get(s"$streamDir/$dir")
      Files.list(d).forEach(p =>
        Files.setLastModifiedTime(p, FileTime.fromMillis(epochSec * 1000)))
    }
    stamp("b1", 1000000000L)
    stamp("b2", 1000000100L)
    val schema = spark.read.parquet(s"$streamDir/b1").schema
    val q = Streaming.embBucketClaimStreamSplit(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$streamDir/b*"),
        "vec_id", "embedding", splits = 3, dims = 8)
      .writeStream.format("memory").queryName("embclaimsplit2")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val byVec = spark.table("embclaimsplit2")
      .as[(Long, Int, Long, Long, Boolean)].collect().toSeq.groupBy(_._1)
    assert(byVec.keySet == Set(5L, 10L, 12L))
    assert(byVec(10L).forall(r => r._4 == 10L && !r._5))
    Seq(5L, 12L).foreach { d =>
      assert(byVec(d).forall(_._5), s"vec $d must be flagged")
      assert(byVec(d).forall(r => r._4 == 10L || r._4 == 5L),
        s"vec $d owner must chain toward the original claim") }
  }

  test("Hamming bucket-claim stream matches batch min-id slice ownership in one batch") {
    import graft.operators.TextDedup
    val sf = "/root/testdata/sf0.001"
    val hashed = TextDedup.simHashWide(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text", 60)
      .localCheckpoint()
    val slices = TextDedup.hammingSliceRows(hashed, "doc_id", "simhash",
        60, 4)
      .select(col("doc_id"), col("sl"), col("sv"))
    val owners = slices.groupBy("sl", "sv")
      .agg(min(col("doc_id")).as("owner"))
    val expected = slices.join(owners, Seq("sl", "sv"))
      .select(col("doc_id"), col("sl"), col("sv"), col("owner"),
        (col("doc_id") =!= col("owner")).as("is_dup"))
      .collect().toSet
    assert(expected.exists(_.getBoolean(4)), "fixture should have ≥1 dup")
    val streamDir = tmpDir("hamclaim-src")
    hashed.write.parquet(s"$streamDir/hashes")
    val q = Streaming.hammingBucketClaimStream(
        spark.readStream.schema(hashed.schema).parquet(s"$streamDir/hashes"),
        "doc_id", "simhash", bits = 60, bands = 4)
      .writeStream.format("memory").queryName("hamclaims")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("hamclaims").collect().toSet === expected)
  }

  test("Hamming split claim stream: flag parity with uncapped, owners resolve") {
    import spark.implicits._
    import graft.operators.TextDedup
    val sf = "/root/testdata/sf0.001"
    val hashed = TextDedup.simHashWide(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text", 60)
      .localCheckpoint()
    val slices = TextDedup.hammingSliceRows(hashed, "doc_id", "simhash",
        60, 4)
      .select(col("doc_id"), col("sl"), col("sv"))
    val owners = slices.groupBy("sl", "sv")
      .agg(min(col("doc_id")).as("g_owner"))
    val expected = slices.join(owners, Seq("sl", "sv"))
      .select(col("doc_id"), col("sl"), col("sv"),
        (col("doc_id") =!= col("g_owner")).as("is_dup"), col("g_owner"))
      .collect().map(r => ((r.getLong(0), r.getInt(1), r.getLong(2)),
        (r.getBoolean(3), r.getLong(4)))).toMap
    assert(expected.values.exists(_._1), "fixture should have ≥1 dup")
    val streamDir = tmpDir("hamclaimsplit-src")
    hashed.write.parquet(s"$streamDir/hashes")
    val q = Streaming.hammingBucketClaimStreamSplit(
        spark.readStream.schema(hashed.schema).parquet(s"$streamDir/hashes"),
        "doc_id", "simhash", bits = 60, bands = 4, splits = 3)
      .writeStream.format("memory").queryName("hamclaimsplit")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("hamclaimsplit")
      .as[(Long, Int, Long, Long, Boolean)].collect().toSeq
    assert(got.map(r => (r._1, r._2, r._3)).toSet == expected.keySet)
    assert(got.size == expected.size)
    got.foreach { case (id, sl, sv, _, dup) =>
      assert(dup == expected((id, sl, sv))._1,
        s"flag mismatch for ($id, $sl, $sv)") }
    val ownerOf = got.map(r => ((r._2, r._3, r._1), r._4)).toMap
    got.foreach { case (id, sl, sv, own, _) =>
      val resolved =
        if (own == id) id
        else ownerOf.getOrElse((sl, sv, own), own) match {
          case o if o == own => own
          case o => o
        }
      assert(resolved == expected((id, sl, sv))._2,
        s"owner chain for ($id, $sl, $sv): $own -> $resolved") }
  }

  test("Hamming claims are first-wins across micro-batches") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val streamDir = tmpDir("hamclaim2-src")
    // identical hashes share every slice; the late smaller id must be
    // flagged against the stored owner at both levels of the split too
    Seq((10L, 0x0F0F0F0FL)).toDF("doc_id", "h")
      .coalesce(1).write.parquet(s"$streamDir/b1")
    Seq((5L, 0x0F0F0F0FL), (12L, 0x0F0F0F0FL)).toDF("doc_id", "h")
      .coalesce(1).write.parquet(s"$streamDir/b2")
    def stamp(dir: String, epochSec: Long): Unit = {
      val d = Paths.get(s"$streamDir/$dir")
      Files.list(d).forEach(p =>
        Files.setLastModifiedTime(p, FileTime.fromMillis(epochSec * 1000)))
    }
    stamp("b1", 1000000000L)
    stamp("b2", 1000000100L)
    val schema = spark.read.parquet(s"$streamDir/b1").schema
    Seq(
      ("hamclaims2", Streaming.hammingBucketClaimStream(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$streamDir/b*"),
        "doc_id", "h", bits = 32, bands = 4)),
      ("hamclaimsplit2", Streaming.hammingBucketClaimStreamSplit(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$streamDir/b*"),
        "doc_id", "h", bits = 32, bands = 4, splits = 3))
    ).foreach { case (name, stream) =>
      val q = stream.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val byDoc = spark.table(name)
        .as[(Long, Int, Long, Long, Boolean)].collect().toSeq.groupBy(_._1)
      assert(byDoc.keySet == Set(5L, 10L, 12L), s"$name doc set")
      assert(byDoc(10L).forall(r => r._4 == 10L && !r._5),
        s"$name: first claim must stand")
      Seq(5L, 12L).foreach { d =>
        assert(byDoc(d).forall(_._5), s"$name: doc $d must be flagged")
        assert(byDoc(d).forall(r => r._4 == 10L || r._4 == 5L),
          s"$name: doc $d owner must chain toward the original claim") }
    }
  }

  test("streaming Hamming index dedup matches the batch operator's verified pairs") {
    import spark.implicits._
    import graft.operators.TextDedup
    val sf = "/root/testdata/sf0.001"
    val hashed = TextDedup.simHashWide(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text", 60)
    val idx = TextDedup.hammingIndex(
      hashed.filter(col("doc_id") % 2 === 0), "doc_id", "simhash",
      bits = 60, bands = 4, maxBucket = Some(1L))
      .localCheckpoint() // freeze: the index is the STORED side
    val batch = hashed.filter(col("doc_id") % 2 === 1)
    val expected = TextDedup.dedupAgainstHammingIndex(batch, "doc_id",
        "simhash", idx, bits = 60, bands = 4, maxDist = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(expected.nonEmpty, "fixture should have ≥1 verified pair")
    val streamDir = tmpDir("hamidx-src")
    batch.write.parquet(s"$streamDir/hashes")
    val q = Streaming.nearDupHammingCandidates(
        spark.readStream.schema(batch.schema)
          .parquet(s"$streamDir/hashes"),
        "doc_id", "simhash", idx, bits = 60, bands = 4, maxDist = 3)
      .writeStream.format("memory").queryName("hamidx")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // the stream emits one row per agreeing slice; collapsing to
    // (id, d_old, hamming) must equal the batch operator's pair set
    val got = spark.table("hamidx")
      .select(col("doc_id"), col("d_old"), col("hamming"))
      .as[(Long, Long, Int)].collect().toSet
    assert(got === expected)
  }

  test("the three nearDup*Candidates streams ≡ the batch probe over the union of 3 micro-batches") {
    // stream ≡ batch for each family's stored-index probe: the new side
    // arrives as 3 files read one per trigger, against an uncapped and a
    // cap-split index; the distinct (id, d_old) set the stream emits must
    // equal the batch probe's over the union of the files
    import org.apache.spark.sql.DataFrame
    import graft.operators.{Buckets, Similarity, TextDedup}
    val sf = "/root/testdata/sf0.001"
    /** Runs `probe` over `newSide` written as 3 files, one per
      * micro-batch, and returns the distinct (id, d_old) pairs. */
    def streamed(name: String, newSide: DataFrame, idCol: String)
                (probe: DataFrame => DataFrame): Set[(Long, Long)] = {
      val dir = tmpDir(name)
      (0 until 3).foreach(i => newSide.filter(pmod(col(idCol), lit(3)) === i)
        .coalesce(1).write.parquet(s"$dir/b$i"))
      val q = probe(spark.readStream.schema(newSide.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$dir/*/"))
        .select(col(idCol), col("d_old"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      assert(q.recentProgress.count(_.numInputRows > 0) == 3,
        s"$name: expected 3 micro-batches")
      spark.table(name).distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val newDocs = docs.filter(col("doc_id") % 2 === 1)
    val textIndex = Seq(None, Some(1L)).map(mb => TextDedup.lshIndex(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
      maxBucket = mb)._1.localCheckpoint())
    val textBatch = textIndex.map(idx => pairs(Buckets.probeIndex(
        TextDedup.bandsPerRow(newDocs, "doc_id", "text"), idx,
        Buckets.TextBands, col("doc_id").as("d_old"))
      .select("doc_id", "d_old")))
    assert(textBatch.head.nonEmpty && textBatch.distinct.size == 1)
    textIndex.zipWithIndex.foreach { case (idx, i) =>
      assert(streamed(s"near_text_$i", newDocs, "doc_id")(
        Streaming.nearDupCandidates(_, "doc_id", "text", idx)) == textBatch(i))
    }

    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val newVecs = emb.filter(col("vec_id") % 2 === 1)
    val annIndex = Seq(None, Some(1L)).map(mb => Similarity.annIndex(
      emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
      maxBucket = mb).localCheckpoint())
    val annBatch = annIndex.map(idx => pairs(Buckets.probeIndex(
        Similarity.lshSignaturesMulti(newVecs, "vec_id", "embedding", 4, 4, 64),
        idx, Buckets.VectorTables, col("vec_id").as("d_old"))
      .select("vec_id", "d_old")))
    assert(annBatch.head.nonEmpty && annBatch.distinct.size == 1)
    annIndex.zipWithIndex.foreach { case (idx, i) =>
      assert(streamed(s"near_emb_$i", newVecs, "vec_id")(
        Streaming.nearDupEmbCandidates(_, "vec_id", "embedding", idx)) ==
        annBatch(i))
    }

    // the Hamming stream verifies in-stream, so its batch twin is the
    // verified dedupAgainstHammingIndex
    val hashed = TextDedup.simHashWide(docs, "doc_id", "text", 60)
      .localCheckpoint()
    val newHashes = hashed.filter(col("doc_id") % 2 === 1)
    val hamIndex = Seq(None, Some(1L)).map(mb => TextDedup.hammingIndex(
      hashed.filter(col("doc_id") % 2 === 0), "doc_id", "simhash",
      bits = 60, bands = 4, maxBucket = mb).localCheckpoint())
    val hamBatch = hamIndex.map(idx => pairs(TextDedup
      .dedupAgainstHammingIndex(newHashes, "doc_id", "simhash", idx,
        bits = 60, bands = 4, maxDist = 3).select("d_new", "d_old")))
    assert(hamBatch.head.nonEmpty && hamBatch.distinct.size == 1)
    hamIndex.zipWithIndex.foreach { case (idx, i) =>
      assert(streamed(s"near_ham_$i", newHashes, "doc_id")(
        Streaming.nearDupHammingCandidates(_, "doc_id", "simhash", idx,
          bits = 60, bands = 4, maxDist = 3)) == hamBatch(i))
    }
  }

  test("URL claim stream matches batch dedupByUrl ownership in one batch") {
    import spark.implicits._
    val docs = Seq(
      (3L, "https://www.site.com/a/"),
      (1L, "http://site.com/a?utm=9"),   // same page as doc 3
      (2L, "https://site.com/b"),
      (7L, "https://site.com/b#frag")    // same page as doc 2
    ).toDF("doc_id", "url")
    val streamDir = tmpDir("urlclaim-src")
    docs.write.parquet(s"$streamDir/docs")
    val q = Streaming.urlClaimStream(
        spark.readStream.schema(docs.schema).parquet(s"$streamDir/docs"),
        "doc_id", "url")
      .writeStream.format("memory").queryName("urlclaims")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("urlclaims")
      .as[(Long, String, Long, Boolean)].collect().toSet
    // one batch → min-id ownership, the batch dedupByUrl winners
    assert(got == Set(
      (1L, "site.com/a", 1L, false), (3L, "site.com/a", 1L, true),
      (2L, "site.com/b", 2L, false), (7L, "site.com/b", 2L, true)))
  }

  test("URL claims are first-wins across micro-batches (stored claim holds)") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val streamDir = tmpDir("urlclaim2-src")
    Seq((10L, "https://x.com/p")).toDF("doc_id", "url")
      .coalesce(1).write.parquet(s"$streamDir/b1")
    Seq((5L, "https://www.x.com/p/")).toDF("doc_id", "url")
      .coalesce(1).write.parquet(s"$streamDir/b2")
    def stamp(dir: String, epochSec: Long): Unit = {
      val d = Paths.get(s"$streamDir/$dir")
      Files.list(d).forEach(p =>
        Files.setLastModifiedTime(p, FileTime.fromMillis(epochSec * 1000)))
    }
    stamp("b1", 1000000000L)
    stamp("b2", 1000000100L)
    val schema = spark.read.parquet(s"$streamDir/b1").schema
    val q = Streaming.urlClaimStream(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$streamDir/b*"),
        "doc_id", "url")
      .writeStream.format("memory").queryName("urlclaims2")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("urlclaims2")
      .as[(Long, String, Long, Boolean)].collect().toSet
    // doc 5 arrives after doc 10's claim: flagged despite the smaller id
    assert(got == Set(
      (10L, "x.com/p", 10L, false), (5L, "x.com/p", 10L, true)))
  }

  test("paragraph claims match batch paragraphDedup kept-sets (in-order arrival)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d a b"),
      (2L, "c d e"),
      (3L, "a b")
    ).toDF("doc_id", "text")
    val dir = tmpDir("pclaim-src")
    docs.coalesce(1).write.parquet(s"$dir/docs")
    val q = Streaming.paragraphClaimStream(
        spark.readStream.schema(docs.schema).parquet(s"$dir/docs"),
        "doc_id", "text", pWords = 2)
      .writeStream.format("memory").queryName("pclaims")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val kept = spark.table("pclaims").filter(!col("is_dup"))
      .groupBy(col("doc_id")).count()
      .as[(Long, Long)].collect().toMap
    val batch = graft.operators.TextDedup
      .paragraphDedup(docs, "doc_id", "text", pWords = 2)
      .filter(col("n_kept") > 0)
      .select("doc_id", "n_kept").as[(Long, Long)].collect().toMap
    assert(kept == batch)   // (1 -> 2, 2 -> 1; doc 3 fully dup)
    assert(batch == Map(1L -> 2L, 2L -> 1L))
  }

  test("paragraph claims are first-wins across micro-batches (stored claim holds)") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val dir = tmpDir("pclaim2-src")
    Seq((10L, "x y")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/b1")
    Seq((5L, "x y")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/b2")
    def stamp(sub: String, epochSec: Long): Unit =
      Files.list(Paths.get(s"$dir/$sub")).forEach(p =>
        Files.setLastModifiedTime(p, FileTime.fromMillis(epochSec * 1000)))
    stamp("b1", 1000000000L)
    stamp("b2", 1000000100L)
    val schema = spark.read.parquet(s"$dir/b1").schema
    val q = Streaming.paragraphClaimStream(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$dir/b*"),
        "doc_id", "text", pWords = 2)
      .writeStream.format("memory").queryName("pclaims2")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("pclaims2")
      .select("doc_id", "owner_doc", "is_dup")
      .as[(Long, Long, Boolean)].collect().toSet
    // doc 5 arrives after doc 10's claim: flagged despite the smaller id
    assert(got == Set((10L, 10L, false), (5L, 10L, true)))
  }

  test("stream-stream view-click join matches the batch interval join") {
    val sf = "/root/testdata/sf0.001"
    val events = Sources.events(spark, sf)
    val views = events.filter(col("event_type") === "view")
    val clicks = events.filter(col("event_type") === "click")
    // batch semantics of the same bounded join
    val expected = Streaming.viewClickJoin(views, clicks)
      .select("view_id", "click_id").collect().toSet
    assert(expected.nonEmpty, "fixture should produce ≥1 pair")
    val dir = tmpDir("ssj")
    views.write.parquet(s"$dir/views")
    clicks.write.parquet(s"$dir/clicks")
    val q = Streaming.viewClickJoin(
        spark.readStream.schema(views.schema).parquet(s"$dir/views"),
        spark.readStream.schema(clicks.schema).parquet(s"$dir/clicks"))
      .writeStream.format("memory").queryName("ssj")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("ssj").select("view_id", "click_id")
      .collect().toSet === expected)
  }

  test("end-to-end streaming curation: dedupAgainstIndex per micro-batch") {
    // The full "index once, stream forever" loop: incoming docs are
    // verified against the stored LSH index inside foreachBatch, so each
    // micro-batch pays O(batch + collisions) and results accumulate
    // exactly as the batch run would produce them.
    val sf = "/root/testdata/sf0.001"
    import graft.operators.TextDedup
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val (indexBands, indexShingles) = TextDedup.lshIndex(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
    val newDocs = docs.filter(col("doc_id") % 2 === 1)
    val expected = TextDedup.dedupAgainstIndex(newDocs, "doc_id", "text",
        indexBands, indexShingles)
      .select("d_new", "d_old").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty, "fixture should produce ≥1 verified pair")
    val dir = tmpDir("e2e-curation")
    // two files → at least the chance of multiple micro-batches
    newDocs.filter(col("doc_id") < 250).write.parquet(s"$dir/in/a")
    newDocs.filter(col("doc_id") >= 250).write.parquet(s"$dir/in/b")
    val outDir = s"$dir/out"
    val q = spark.readStream.schema(docs.schema).parquet(s"$dir/in/*")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        TextDedup.dedupAgainstIndex(batch, "doc_id", "text",
            indexBands, indexShingles)
          .select("d_new", "d_old")
          .write.mode("append").parquet(outDir)
      }
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === expected)
  }

  test("online cluster-aware split replays to the batch q351 assignment") {
    // ascending-id replay in 3 micro-batches: every component's eventual
    // min-id label arrives first, so the final streaming state table
    // must be BIT-IDENTICAL to the batch assignment (components via
    // full CC, splits via deterministicSplit on the component key) —
    // including clusters whose pairs span micro-batches
    import graft.operators.{Graph, Sampling, TextDedup}
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val cuts = Seq(("train", 204), ("val", 230), ("test", 256))
    val pairs = TextDedup.minHashLshPairs(docs, "doc_id", "text",
        k = 16, r = 4, w = 3, threshold = 0.5)
      .select("d1", "d2").localCheckpoint()
    assert(pairs.count() > 0, "fixture needs >=1 near-dup pair")
    val expected = Sampling.deterministicSplit(
        docs.select("doc_id")
          .join(Graph.connectedComponents(pairs, "d1", "d2")
            .select(col("node").as("doc_id"), col("component")),
            Seq("doc_id"), "left")
          .withColumn("component",
            coalesce(col("component"), col("doc_id"))),
        "component", "split", cuts)
      .select("doc_id", "component", "split").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val dir = tmpDir("cluster-split")
    docs.filter(col("doc_id") < 150).select("doc_id")
      .coalesce(1).write.parquet(s"$dir/a")
    docs.filter(col("doc_id") >= 150 && col("doc_id") < 350)
      .select("doc_id").coalesce(1).write.parquet(s"$dir/b")
    docs.filter(col("doc_id") >= 350).select("doc_id")
      .coalesce(1).write.parquet(s"$dir/c")
    var state = Seq.empty[(Long, Long, String, Boolean)]
      .toDF("doc_id", "component", "split", "split_conflict")
    var batches = 0
    val q = spark.readStream
      .schema(docs.select("doc_id").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += 1
        val ids = batch.select("doc_id").localCheckpoint()
        // delta edges: a pair is revealed when its LATER endpoint
        // arrives (ascending replay — the earlier one is already known)
        val delta = pairs
          .withColumn("graft_gm", greatest(col("d1"), col("d2")))
          .join(ids.select(col("doc_id").as("graft_gm")), "graft_gm")
          .select("d1", "d2")
        state = graft.streaming.Streaming.clusterSplitAdvance(
          state, ids, delta, "split", cuts).localCheckpoint()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(batches >= 3, s"expected >=3 micro-batches, got $batches")
    val got = state.select("doc_id", "component", "split").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == expected)
  }

  test("online cluster split: frozen first-wins on cross-batch merge, conflict loud") {
    // out-of-order arrival: two singleton docs ship to (possibly
    // different) splits; a later bridge doc merges them — the merged
    // cluster must FREEZE on the smallest prior label's split (never
    // relabel shipped docs toward the batch ground truth) and flag the
    // conflict iff the merged splits disagreed
    import graft.operators.Sampling
    import spark.implicits._
    val cuts = Seq(("train", 128), ("test", 256))
    // pick two ids the deterministic hash sends to DIFFERENT splits
    val probe = Sampling.deterministicSplit(
        (2L to 60L).toDF("component"), "component", "split", cuts)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val (aId, aSplit) = probe.head
    val (bId, bSplit) = probe.find(_._2 != aSplit).get
    val empty = Seq.empty[(Long, Long, String, Boolean)]
      .toDF("doc_id", "component", "split", "split_conflict")
    val s1 = graft.streaming.Streaming.clusterSplitAdvance(
      empty, Seq(aId, bId).toDF("doc_id"),
      Seq.empty[(Long, Long)].toDF("d1", "d2"), "split", cuts)
      .localCheckpoint()
    assert(s1.collect().map(r =>
      (r.getLong(0), r.getString(2), r.getBoolean(3))).toSet ==
      Set((aId, aSplit, false), (bId, bSplit, false)))
    // bridge doc 1 (smaller than both): batch label would be 1, but the
    // frozen claim keeps min(aId, bId)'s split
    val s2 = graft.streaming.Streaming.clusterSplitAdvance(
      s1, Seq(1L).toDF("doc_id"),
      Seq((1L, aId), (1L, bId)).toDF("d1", "d2"), "split", cuts)
    val rows = s2.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getString(2), r.getBoolean(3))).toSet
    val frozen = if (math.min(aId, bId) == aId) aSplit else bSplit
    assert(rows == Set(
      (1L, 1L, frozen, true), (aId, 1L, frozen, true),
      (bId, 1L, frozen, true)))
    // same-split merge is NOT a conflict
    val (cId, _) = probe.find(p => p._2 == aSplit && p._1 != aId).get
    val t1 = graft.streaming.Streaming.clusterSplitAdvance(
      empty, Seq(aId, cId).toDF("doc_id"),
      Seq.empty[(Long, Long)].toDF("d1", "d2"), "split", cuts)
      .localCheckpoint()
    val t2 = graft.streaming.Streaming.clusterSplitAdvance(
      t1, Seq(1L).toDF("doc_id"),
      Seq((1L, aId), (1L, cId)).toDF("d1", "d2"), "split", cuts)
    assert(t2.collect().map(r =>
      (r.getString(2), r.getBoolean(3))).toSet == Set((aSplit, false)))
  }

  test("streaming histogram maintenance merges partials to the batch result") {
    // Histogram.bucketCounts' fixed domain is what makes micro-batch
    // partials addable: each batch histograms independently and
    // mergeBucketCounts folds them into the running corpus histogram —
    // the streaming ANALYZE that never rescans history.
    import graft.operators.Histogram
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = tmpDir("hist-stream")
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(s"$dir/a")
    docs.filter(col("doc_id") % 2 =!= 0).coalesce(1).write.parquet(s"$dir/b")
    val expected = Histogram.bucketCounts(docs, "n_chars", 8, 0L, 5000L)
      .orderBy("bucket").collect().toSeq
    var running: Option[org.apache.spark.sql.DataFrame] = None
    var batches = 0
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += 1
        val part = Histogram.bucketCounts(batch, "n_chars", 8, 0L, 5000L)
          .localCheckpoint()
        running = Some(running
          .map(r => Histogram.mergeBucketCounts(Seq(r, part)).localCheckpoint())
          .getOrElse(part))
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(batches >= 2, s"expected >=2 micro-batches, got $batches")
    assert(running.get.orderBy("bucket").collect().toSeq == expected)
  }

  test("streaming dedup-graph label maintenance: each batch folds in via incremental CC") {
    // the online duplicate-cluster registry: the first batch of near-dup
    // edges is labeled by a full CC run, every later batch folds in via
    // Graph.incrementalComponents — O(delta) per micro-batch, the full
    // edge history never rescanned. Final labels must equal one CC run
    // over everything.
    import graft.operators.{Graph, TextDedup}
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val pairs = TextDedup.minHashLshPairs(docs, "doc_id", "text",
        k = 16, r = 4, w = 3, threshold = 0.5)
      .select("d1", "d2").localCheckpoint()
    assert(pairs.count() > 0, "fixture should produce >=1 near-dup pair")
    val dir = tmpDir("inccc-stream")
    pairs.filter(col("d1") % 2 === 0).coalesce(1).write.parquet(s"$dir/a")
    pairs.filter(col("d1") % 2 =!= 0).coalesce(1).write.parquet(s"$dir/b")
    val expected = Graph.connectedComponents(pairs, "d1", "d2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    var labels: Option[org.apache.spark.sql.DataFrame] = None
    var batches = 0
    val q = spark.readStream.schema(pairs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += 1
        val b = batch.localCheckpoint()
        labels = Some(labels
          .map(l => Graph.incrementalComponents(l, "node", "component",
            b, "d1", "d2").localCheckpoint())
          .getOrElse(Graph.connectedComponents(b, "d1", "d2")
            .localCheckpoint()))
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(batches >= 2, s"expected >=2 micro-batches, got $batches")
    val got = labels.get.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("streaming CMS maintenance merges partials to the batch sketch") {
    // same shape as the histogram test: cmsSketch's fixed (d, width)
    // makes micro-batch sketches addable, so frequency monitoring
    // maintains d·width counters per source without rescanning history
    import graft.operators.Sketches
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = tmpDir("cms-stream")
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(s"$dir/a")
    docs.filter(col("doc_id") % 2 =!= 0).coalesce(1).write.parquet(s"$dir/b")
    val expected = Sketches.cmsSketch(docs, "lang", d = 4, width = 64)
      .orderBy("r", "bucket").collect().toSeq
    var running: Option[org.apache.spark.sql.DataFrame] = None
    var batches = 0
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += 1
        val part = Sketches.cmsSketch(batch, "lang", d = 4, width = 64)
          .localCheckpoint()
        running = Some(running
          .map(r => Sketches.cmsMerge(Seq(r, part)).localCheckpoint())
          .getOrElse(part))
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(batches >= 2, s"expected >=2 micro-batches, got $batches")
    assert(running.get.orderBy("r", "bucket").collect().toSeq == expected)
  }

  test("streaming rate limiter matches the batch operator under in-order arrival") {
    import spark.implicits._
    import graft.streaming.Streaming.RlEvent
    val sf = "/root/testdata/sf0.001"
    val events = graft.sources.Sources.events(spark, sf)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("tus"))
    val bucketUs = 3600000000L
    // expected = the batch operator's kept set
    val expected = graft.operators.Funnel.rateLimit(
        graft.sources.Sources.events(spark, sf), "user_id", "event_id",
        "ts", bucketUs, k = 3)
      .select("event_id").as[Long].collect().toSet
    // two micro-batches split on event TIME, replayed in time order —
    // the in-order-arrival regime where stream and batch must agree
    val cut = events.agg(
      org.apache.spark.sql.functions.expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY tus)")
        .cast("long")).head.getLong(0)
    val dir = tmpDir("rl-stream")
    events.filter(col("tus") <= cut).coalesce(1).write.parquet(s"$dir/a")
    events.filter(col("tus") > cut).coalesce(1).write.parquet(s"$dir/b")
    val kept = scala.collection.mutable.Set[Long]()
    val q = spark.readStream
      .schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
      .as[RlEvent]
      .transform(graft.streaming.Streaming.rateLimitedStreamInOrder(_, bucketUs, 3))
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[RlEvent], _: Long) =>
        kept ++= batch.collect().map(_.event_id)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(kept.toSet == expected,
      s"stream kept ${kept.size}, batch kept ${expected.size}")
  }

  test("out-of-order rate limiter matches the batch operator under " +
      "reversed-time arrival") {
    import spark.implicits._
    import graft.streaming.Streaming.RlEvent
    val sf = "/root/testdata/sf0.001"
    val events = graft.sources.Sources.events(spark, sf)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("tus"))
    val bucketUs = 3600000000L
    val expected = graft.operators.Funnel.rateLimit(
        graft.sources.Sources.events(spark, sf), "user_id", "event_id",
        "ts", bucketUs, k = 3)
      .select("event_id").as[Long].collect().toSet
    // ADVERSARIAL arrival: the LATER half of the events (by event time)
    // arrives in micro-batch 1, the earlier half in micro-batch 2 — the
    // regime where the in-order limiter provably picks the wrong
    // winners. Two far-future sentinels then push the watermark past
    // every real bucket end: sentinel 1's batch raises the watermark,
    // sentinel 2's batch runs with it raised, firing every bucket's
    // EventTimeTimeout. Watermark delay exceeds the data's full span so
    // no real event is ever late.
    val cut = events.agg(
      org.apache.spark.sql.functions.expr(
        "percentile_cont(0.5) WITHIN GROUP (ORDER BY tus)")
        .cast("long")).head.getLong(0)
    val maxTus = events.agg(max(col("tus"))).head.getLong(0)
    val dir = tmpDir("rl-ooo-stream")
    events.filter(col("tus") > cut).coalesce(1).write.parquet(s"$dir/a")
    events.filter(col("tus") <= cut).coalesce(1).write.parquet(s"$dir/b")
    val yearUs = 365L * 86400L * 1000000L
    Seq((-1L, -1L, maxTus + 3 * yearUs)).toDF("event_id", "user_id", "tus")
      .coalesce(1).write.parquet(s"$dir/c")
    Seq((-2L, -1L, maxTus + 4 * yearUs)).toDF("event_id", "user_id", "tus")
      .coalesce(1).write.parquet(s"$dir/d")
    val kept = scala.collection.mutable.Set[Long]()
    val q = spark.readStream
      .schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
      .as[RlEvent]
      .transform(graft.streaming.Streaming.rateLimitedStreamOoO(
        _, bucketUs, 3, watermarkDelay = "730 days"))
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[RlEvent], _: Long) =>
        kept ++= batch.collect().map(_.event_id)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(kept.toSet == expected,
      s"stream kept ${kept.size}, batch kept ${expected.size}; " +
        s"missing=${(expected -- kept).take(5)}, " +
        s"extra=${(kept.toSet -- expected).take(5)}")
  }

  test("default rate limiter equals q140's batch output under shuffled arrival") {
    import spark.implicits._
    import graft.streaming.Streaming.RlEvent
    // the gate-adjacent parity case: the EXACT event set and parameters
    // of gate query q140 (full sf0.001 events, hour buckets, k=3),
    // arrival order decorrelated from event time by splitting on
    // md5(event_id) into three micro-batches — a "shuffled" permutation
    // rather than the reversed-halves case above — driven through the
    // DEFAULT rateLimitedStream entry point (which must resolve to the
    // out-of-order variant; the in-order counter provably picks wrong
    // winners on this input). Expected = Funnel.rateLimit, exactly.
    val sf = "/root/testdata/sf0.001"
    val events = graft.sources.Sources.events(spark, sf)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("tus"))
    val bucketUs = 3600000000L
    val expected = graft.operators.Funnel.rateLimit(
        graft.sources.Sources.events(spark, sf), "user_id", "event_id",
        "ts", bucketUs, k = 3)
      .select("event_id").as[Long].collect().toSet
    val maxTus = events.agg(max(col("tus"))).head.getLong(0)
    val dir = tmpDir("rl-shuffled-stream")
    val slice = conv(substring(md5(col("event_id").cast("string")), 1, 2),
      16, 10).cast("long") % 3
    (0 to 2).foreach { i =>
      events.filter(slice === i).coalesce(1).write.parquet(s"$dir/s$i")
    }
    // two far-future sentinels: batch 1 raises the watermark past every
    // real bucket end, batch 2 runs with it raised and fires the timeouts
    val yearUs = 365L * 86400L * 1000000L
    Seq((-1L, -1L, maxTus + 3 * yearUs)).toDF("event_id", "user_id", "tus")
      .coalesce(1).write.parquet(s"$dir/w1")
    Seq((-2L, -1L, maxTus + 4 * yearUs)).toDF("event_id", "user_id", "tus")
      .coalesce(1).write.parquet(s"$dir/w2")
    val kept = scala.collection.mutable.Set[Long]()
    val q = spark.readStream
      .schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
      .as[RlEvent]
      .transform(graft.streaming.Streaming.rateLimitedStream(
        _, bucketUs, 3, watermarkDelay = "730 days"))
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[RlEvent], _: Long) =>
        kept ++= batch.collect().map(_.event_id)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(kept.toSet == expected,
      s"stream kept ${kept.size}, batch kept ${expected.size}; " +
        s"missing=${(expected -- kept).take(5)}, " +
        s"extra=${(kept.toSet -- expected).take(5)}")
  }

  test("out-of-order rate limiter drops data arriving after its bucket closed") {
    import spark.implicits._
    import graft.streaming.Streaming.RlEvent
    val bucketUs = 1000000L // 1s buckets
    val dir = tmpDir("rl-ooo-late")
    // batch 1: two on-time events in bucket 0 and a watermark-driver far
    // ahead; batch 2: another far driver fires bucket 0's timeout;
    // batch 3: a late event for bucket 0 — its state is gone, so the
    // event must be dropped, not re-emitted
    Seq((1L, 7L, 100000L), (2L, 7L, 200000L), (-1L, -1L, 3600000000L))
      .toDF("event_id", "user_id", "tus").coalesce(1).write.parquet(s"$dir/a")
    Seq((-2L, -1L, 7200000000L))
      .toDF("event_id", "user_id", "tus").coalesce(1).write.parquet(s"$dir/b")
    Seq((3L, 7L, 300000L))
      .toDF("event_id", "user_id", "tus").coalesce(1).write.parquet(s"$dir/c")
    val kept = scala.collection.mutable.Set[Long]()
    val q = spark.readStream
      .schema("event_id LONG, user_id LONG, tus LONG")
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
      .as[RlEvent]
      .transform(graft.streaming.Streaming.rateLimitedStreamOoO(
        _, bucketUs, 5, watermarkDelay = "1 second"))
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[RlEvent], _: Long) =>
        kept ++= batch.collect().map(_.event_id)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(kept.contains(1L) && kept.contains(2L),
      s"on-time events must emit when the bucket closes: $kept")
    assert(!kept.contains(3L),
      s"late event 3 arrived after bucket 0 closed and must drop: $kept")
  }

  test("mapGroupsWithState accumulates per-user counts") {
    import spark.implicits._
    val ds = Seq((1L, 100L), (1L, 200L), (2L, 50L)).toDS()
    val out = Streaming.userActivity(ds).collect()
      .map(s => s.user_id -> s).toMap
    assert(out(1L).n_events === 2 && out(1L).last_seen_ms === 200L)
    assert(out(2L).n_events === 1)
    assert(!out(1L).expired)
  }

  test("streaming weighted reservoir converges to the batch A-ES sample " +
      "under arbitrary arrival order") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.streaming.Streaming.{WrDoc, WrSnapshot}
    val sf = "/root/testdata/sf0.001"
    val docs = graft.sources.Sources.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val expected = graft.operators.Sampling.weightedTopKPerStratum(
        docs, "doc_id", "n_chars", "lang", salt = "aes", k = 10)
      .select("lang", "doc_id").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    // split on doc_id PARITY — an order totally unlike event time; the
    // A-ES top-k is order-insensitive so the final snapshots must still
    // match the batch selection exactly
    val dir = tmpDir("wr-stream")
    val typed = docs.select(col("doc_id"),
      col("lang").as("stratum"), col("n_chars").cast("double").as("weight"))
    typed.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.parquet(s"$dir/a")
    typed.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.parquet(s"$dir/b")
    val last = scala.collection.mutable.Map[String, Seq[Long]]()
    val q = spark.readStream.schema(typed.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
      .as[WrDoc]
      .transform(Streaming.weightedReservoirStream(_, salt = "aes", k = 10))
      .writeStream
      .outputMode("update")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[WrSnapshot], _: Long) =>
          batch.collect().foreach(s => last(s.stratum) = s.doc_ids)
          ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(last.toMap == expected,
      s"stream ${last.size} strata vs batch ${expected.size}")
  }

  test("streaming domain-cap admission matches batch capPerDomain in order") {
    import spark.implicits._
    import graft.operators.DomainDedup
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val dir = tmpDir("capstream-src")
    // two in-order batches over two domains; budgets force rejections in
    // BOTH batches and a cross-batch carry (domain a's budget part-used
    // by batch 1)
    val rows = Seq(
      (1L, "https://a.com/1", 40L), (2L, "https://b.com/1", 10L),
      (3L, "https://a.com/2", 50L), (4L, "https://a.com/3", 30L),
      (5L, "https://b.com/2", 200L), (6L, "https://a.com/4", 10L),
      (7L, "https://b.com/3", 20L))
    val (b1, b2) = rows.partition(_._1 <= 3)
    b1.toDF("doc_id", "url", "w").coalesce(1).write.parquet(s"$dir/b1")
    b2.toDF("doc_id", "url", "w").coalesce(1).write.parquet(s"$dir/b2")
    def stamp(sub: String, epochSec: Long): Unit =
      Files.list(Paths.get(s"$dir/$sub")).forEach(p =>
        Files.setLastModifiedTime(p, FileTime.fromMillis(epochSec * 1000)))
    stamp("b1", 1000000000L)
    stamp("b2", 1000000100L)
    val schema = spark.read.parquet(s"$dir/b1").schema
    val q = Streaming.domainCapStream(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$dir/b*"),
        "doc_id", "url", col("w"),
        Map("a.com" -> 100L), defaultBudget = 50L)
      .writeStream.format("memory").queryName("capadm")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val admitted = spark.table("capadm").filter(col("admitted"))
      .select("doc_id").as[Long].collect().toSet
    val batch = DomainDedup.capPerDomain(
        rows.toDF("doc_id", "url", "w"), "doc_id", "url", col("w"),
        Map("a.com" -> 100L), defaultBudget = 50L)
      .select("doc_id").as[Long].collect().toSet
    // a.com: 40+50=90 ok, +30 > 100 reject, +10 = 100... prefix after
    // rejects is 120+10 > 100 → reject; b.com: 10 ok, 200 reject, 20:
    // prefix 210+20 > 50 → reject — the prefix-cut (not best-fit) rule
    assert(admitted == Set(1L, 2L, 3L))
    assert(admitted == batch,
      s"stream $admitted vs batch $batch")
  }

  test("streaming HLL registers fold to the exact batch register table") {
    import spark.implicits._
    import graft.operators.Sketches
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val dir = tmpDir("hll-src")
    // two batches with overlap and out-of-order keys — max-register
    // parity must hold regardless
    val b1 = (1 to 400).map(i => ("s", s"key_$i")).toDF("src", "k")
    val b2 = (300 to 700).reverse.map(i => ("s", s"key_$i")).toDF("src", "k")
    b1.coalesce(1).write.parquet(s"$dir/b1")
    b2.coalesce(1).write.parquet(s"$dir/b2")
    def stamp(sub: String, epochSec: Long): Unit =
      Files.list(Paths.get(s"$dir/$sub")).forEach(p =>
        Files.setLastModifiedTime(p, FileTime.fromMillis(epochSec * 1000)))
    stamp("b1", 1000000000L)
    stamp("b2", 1000000100L)
    val schema = spark.read.parquet(s"$dir/b1").schema
    val q = Streaming.hllRegisterStream(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$dir/b*"),
        "k", "src", p = 8)
      .writeStream.format("memory").queryName("hllregs")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // fold the change-log: max per register == batch registers over all
    val folded = spark.table("hllregs")
      .groupBy(col("stratum").as("src"), col("bucket"))
      .agg(max(col("r")).as("r"))
    val batch = Sketches.hllRegisters(b1.union(b2), "k", "src", p = 8)
    assert(folded.orderBy("bucket").collect().toSeq ==
      batch.orderBy("bucket").collect().toSeq)
    // and the live estimate equals the batch estimate
    val se = Sketches.hllEstimate(folded, "src", p = 8)
      .select("est_floor").as[Long].head()
    val be = Sketches.hllEstimate(batch, "src", p = 8)
      .select("est_floor").as[Long].head()
    assert(se == be)
  }

  test("streaming priority sample: bounded top-(k+1) state equals batch") {
    import spark.implicits._
    import graft.operators.Sampling
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val dir = tmpDir("psample-src")
    val rows = (1L to 300L).map(i => (i, 10L + (i * 13) % 97))
    val (b1, b2) = rows.splitAt(150)
    b1.toDF("id", "wt").coalesce(1).write.parquet(s"$dir/b1")
    b2.toDF("id", "wt").coalesce(1).write.parquet(s"$dir/b2")
    def stamp(sub: String, epochSec: Long): Unit =
      Files.list(Paths.get(s"$dir/$sub")).forEach(p =>
        Files.setLastModifiedTime(p, FileTime.fromMillis(epochSec * 1000)))
    stamp("b1", 1000000000L)
    stamp("b2", 1000000100L)
    val schema = spark.read.parquet(s"$dir/b1").schema
    val q = Streaming.prioritySampleStream(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$dir/b*"),
        "id", "wt", salt = "sps", k = 20)
      .writeStream.format("memory").queryName("psample")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // final state row: first 20 items = the batch sample, in rank order
    val streamed = spark.table("psample")
      .select(explode(col("topk")).as("e"))
      .select(col("e.key"), col("e.w")).as[(Long, Long)].collect().toSeq
    val batch = Sampling.prioritySample(rows.toDF("id", "wt"),
        "id", "wt", salt = "sps", k = 20)
      .orderBy("rn").select("id", "w").as[(Long, Long)].collect().toSeq
    assert(streamed.length == 21)
    assert(streamed.take(20) == batch)
  }

  test("tier serving stream reproduces the batch CCNet assignment") {
    import spark.implicits._
    import graft.operators.Relevance
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // batch train: model + tier assignment + per-lang cuts
    val (cxy, cu, n) = Relevance.bigramServingModel(docs, "text")
    val scored = Relevance.interpolatedPerplexity(docs, "doc_id", "text",
        lambda = 0.75)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    val batch = Relevance.perplexityTiers(scored, "doc_id", "lang")
    val batchRows = batch.select("doc_id", "lang", "pq6_mean", "tier")
      .as[(Long, String, Long, String)].collect().toSeq
    val byLangTier = batchRows.groupBy(r => (r._2, r._4))
      .map { case (k, rs) => k -> rs.map(_._3).min }
    val cuts = batchRows.map(_._2).distinct.map { lang =>
      val head = byLangTier((lang, "head"))
      val mid = byLangTier.getOrElse((lang, "middle"), head)
      lang -> (head, math.min(head, mid))
    }.toMap
    // serve: replay the SAME corpus as a stream, stateless assignment
    val streamDir = tmpDir("tier-serve-src")
    docs.write.parquet(s"$streamDir/docs")
    val served = Streaming.tierServeStream(
      spark.readStream.schema(docs.schema).parquet(s"$streamDir/docs"),
      "doc_id", "text", "lang", cxy, cu, n, cuts)
    assert(served.isStreaming)
    val q = served.writeStream.format("memory").queryName("tierserve")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("tierserve")
      .as[(Long, String, Long, Option[Long], Option[String])]
      .collect().toSeq
    assert(got.size == docs.count())
    // every batch-scored doc: identical score AND identical tier
    val gotById = got.map(r => r._1 -> r).toMap
    batchRows.foreach { case (id, _, pq6, tier) =>
      val r = gotById(id)
      assert(r._4.contains(pq6) && r._5.contains(tier),
        s"doc $id: batch ($pq6, $tier) vs stream (${r._4}, ${r._5})")
    }
    // unscored docs (< 2 words) report NULL tier, exactly like batch
    val batchIds = batchRows.map(_._1).toSet
    got.filterNot(r => batchIds(r._1)).foreach(r =>
      assert(r._3 == 0L && r._5.isEmpty))
    // stateless: no state store operator in the progress report
    val prog = q.lastProgress
    assert(prog == null || prog.stateOperators.isEmpty,
      s"expected no state operators, got ${prog.stateOperators.length}")
  }

  test("streaming content digest converges to the batch digest") {
    import spark.implicits._
    import graft.operators.Profiling
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val expected = Profiling.contentDigest(docs, "source",
        Seq("doc_id", "text"))
      .as[(String, Long, java.math.BigDecimal)].collect()
      .map(r => r._1 -> ((r._2, r._3.toBigInteger.toString))).toMap
    // split the corpus into two micro-batches: the monoid must fold the
    // second on top of the first and land exactly on the batch digest
    val streamDir = tmpDir("digest-src")
    docs.filter(col("doc_id") % 2 === 0).write.parquet(s"$streamDir/b1")
    docs.filter(col("doc_id") % 2 =!= 0).write.parquet(s"$streamDir/b2")
    val last = scala.collection.mutable.Map[String, (Long, String)]()
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$streamDir/b*")
      .transform(s =>
        Streaming.contentDigestStream(s, "source", Seq("doc_id", "text"))
          .toDF())
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.as[(String, Long, String)].collect()
          .foreach(r => last(r._1) = (r._2, r._3))
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(last.toMap == expected,
      s"stream ${last.size} strata vs batch ${expected.size}")
  }

  test("streaming win-rate matrix converges to the batch scoreboard") {
    import spark.implicits._
    import graft.operators.Preference
    // a 5-item comparison log with repeats, reversals, self-play and a
    // NULL (both dropped identically on each side)
    val rows: Seq[(String, String)] = (1 to 60).map(i =>
        (s"m${i % 5}", s"m${(i + 1 + i % 3) % 5}")) ++
      Seq(("m1", "m1"), (null, "m2"))
    val comps = rows.toDF("winner", "loser")
    val expected = Preference.winRateMatrix(comps, "winner", "loser")
      .as[(String, String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    val streamDir = tmpDir("winrate-src")
    val (h1, h2) = rows.splitAt(rows.size / 2)
    h1.toDF("winner", "loser").write.parquet(s"$streamDir/b1")
    h2.toDF("winner", "loser").write.parquet(s"$streamDir/b2")
    val last = scala.collection.mutable
      .Map[(String, String), (Long, Long, Long, Long)]()
    val q = spark.readStream.schema(comps.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$streamDir/b*")
      .transform(s => Streaming.winRateStream(s, "winner", "loser").toDF())
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.as[(String, String, Long, Long, Long, Long)].collect()
          .foreach(r => last((r._1, r._2)) = (r._3, r._4, r._5, r._6))
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(last.toMap == expected,
      s"stream ${last.size} pairs vs batch ${expected.size}")
  }

  test("streaming length-gap win rate converges to the batch bands") {
    import spark.implicits._
    import graft.operators.Preference
    // varied gaps incl. equal-length games (dropped identically on
    // both sides); gapWidth = 2 spreads them over several buckets
    val rows: Seq[(Long, Long)] = (1 to 40).map(i =>
        ((i % 7 + 1).toLong, ((i * 3) % 7 + 1).toLong)) ++
      Seq((4L, 4L), (1L, 7L))
    val games = rows.toDF("winner_len", "loser_len")
    val expected = Preference.lengthControlledWinRate(games,
        "winner_len", "loser_len", gapWidth = 2L)
      .select("gap_bucket", "gap_lo", "gap_hi", "n_games", "n_longer_won",
        "n_shorter_won", "longer_win_micro", "wilson_lb_micro",
        "wilson_ub_micro")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(expected.size >= 3, s"fixture too narrow: ${expected.keySet}")
    val streamDir = tmpDir("lengap-src")
    val (h1, h2) = rows.splitAt(rows.size / 2)
    h1.toDF("winner_len", "loser_len").write.parquet(s"$streamDir/b1")
    h2.toDF("winner_len", "loser_len").write.parquet(s"$streamDir/b2")
    val last = scala.collection.mutable.Map[Long,
      (Long, Long, Long, Long, Long, Long, Long, Long, Long)]()
    val q = spark.readStream.schema(games.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$streamDir/b*")
      .transform(s => Streaming.lengthGapWinRateStream(s, "winner_len",
        "loser_len", gapWidth = 2L).toDF())
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)]
          .collect().foreach(r => last(r._1) = r)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(last.toMap == expected,
      s"stream ${last.size} buckets vs batch ${expected.size}")
  }

  test("streaming judge consistency converges to the batch audit") {
    import spark.implicits._
    import graft.operators.Preference
    // 3 judges with repeated pairs, reversals (flip pairs), self-play
    // and NULLs — dropped identically on each side
    val rows: Seq[(String, String, String)] = (1 to 48).map(i =>
        (s"j${i % 3}", s"m${i % 4}", s"m${(i + 1 + i % 2) % 4}")) ++
      Seq(("j0", "m1", "m1"), (null, "m1", "m2"), ("j1", null, "m2"))
    val comps = rows.toDF("judge", "winner", "loser")
    val expected = Preference.judgeConsistency(comps, "judge", "winner",
        "loser")
      .as[(String, Long, Long, Long, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7))).toMap
    val streamDir = tmpDir("judgecons-src")
    val (h1, h2) = rows.splitAt(rows.size / 2)
    h1.toDF("judge", "winner", "loser").write.parquet(s"$streamDir/b1")
    h2.toDF("judge", "winner", "loser").write.parquet(s"$streamDir/b2")
    val last = scala.collection.mutable
      .Map[String, (Long, Long, Long, Long, Long, Option[Long])]()
    val q = spark.readStream.schema(comps.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$streamDir/b*")
      .transform(s => Streaming.judgeConsistencyStream(s, "judge",
        "winner", "loser").toDF())
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.as[(String, Long, Long, Long, Long, Long, Option[Long])]
          .collect()
          .foreach(r => last(r._1) = (r._2, r._3, r._4, r._5, r._6, r._7))
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(last.toMap == expected,
      s"stream ${last.size} judges vs batch ${expected.size}")
  }

  test("streaming Gini-Simpson converges to the batch diversity read") {
    import spark.implicits._
    import graft.operators.Profiling
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val expected = Profiling.giniSimpson(docs, "source", "lang")
      .as[(String, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val streamDir = tmpDir("gini-src")
    docs.filter(col("doc_id") % 2 === 0).write.parquet(s"$streamDir/b1")
    docs.filter(col("doc_id") % 2 =!= 0).write.parquet(s"$streamDir/b2")
    val last =
      scala.collection.mutable.Map[String, (Long, Long, Option[Long])]()
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$streamDir/b*")
      .transform(s =>
        Streaming.giniSimpsonStream(s, "source", "lang").toDF())
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.as[(String, Long, Long, Option[Long])].collect()
          .foreach(r => last(r._1) = (r._2, r._3, r._4))
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(last.toMap == expected,
      s"stream ${last.size} strata vs batch ${expected.size}")
  }

  test("vocab novelty stream matches a sequential JVM replay (one batch)") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val streamDir = tmpDir("novelty-src")
    docs.write.parquet(s"$streamDir/docs")
    val q = Streaming.vocabNoveltyStream(
        spark.readStream.schema(docs.schema).parquet(s"$streamDir/docs"),
        "doc_id", "text", "lang", k = 4, mBits = 65536)
      .writeStream.format("memory").queryName("novelty")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("novelty")
      .as[(Long, String, Long, Long)].collect().toSeq.sortBy(_._1)
    // ground truth: replay the same Bloom fold sequentially per lang
    val input = docs.select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)].collect().toSeq.sortBy(_._1)
    val bitsByLang = scala.collection.mutable.Map[String, Array[Long]]()
    val expected = input.map { case (id, lang, text) =>
      val bits = bitsByLang.getOrElseUpdate(lang, new Array[Long](65536 / 64))
      val words = text.split(" ").distinct.toSeq
      var nNew = 0L
      words.foreach { w =>
        val ps = (0 until 4).map(r => Streaming.bloomPosJvm(w, r, 65536))
        if (ps.exists(p => (bits(p >> 6) >>> (p & 63) & 1L) == 0L)) nNew += 1
        ps.foreach(p => bits(p >> 6) |= 1L << (p & 63))
      }
      (id, lang, words.size.toLong, nNew)
    }
    assert(got == expected)
    // sanity: the fixture actually exercises both regimes
    assert(got.exists(_._4 > 0) && got.exists(r => r._4 < r._3))
  }

  test("vocab novelty state persists across micro-batches (no re-novelty)") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val streamDir = tmpDir("novelty2-src")
    Seq((1L, "en", "alpha beta"), (2L, "en", "gamma"))
      .toDF("doc_id", "lang", "text")
      .coalesce(1).write.parquet(s"$streamDir/b1")
    // batch 2: alpha/gamma are old, delta is new; the de stratum is
    // independent state, so its alpha IS new there
    Seq((3L, "en", "alpha delta gamma"), (4L, "de", "alpha"))
      .toDF("doc_id", "lang", "text")
      .coalesce(1).write.parquet(s"$streamDir/b2")
    def stamp(dir: String, epochSec: Long): Unit =
      Files.list(Paths.get(s"$streamDir/$dir")).forEach(p =>
        Files.setLastModifiedTime(p, FileTime.fromMillis(epochSec * 1000)))
    stamp("b1", 1000000000L)
    stamp("b2", 1000000100L)
    val schema = spark.read.parquet(s"$streamDir/b1").schema
    val q = Streaming.vocabNoveltyStream(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$streamDir/b*"),
        "doc_id", "text", "lang", k = 4, mBits = 4096)
      .writeStream.format("memory").queryName("novelty2")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val byDoc = spark.table("novelty2")
      .as[(Long, String, Long, Long)].collect().toSeq
      .map(r => r._1 -> r).toMap
    assert(byDoc(1L) == ((1L, "en", 2L, 2L)))
    assert(byDoc(2L) == ((2L, "en", 1L, 1L)))
    // only delta is new to en; alpha is new to the separate de state
    assert(byDoc(3L) == ((3L, "en", 3L, 1L)))
    assert(byDoc(4L) == ((4L, "de", 1L, 1L)))
  }

  test("split claim stream bounds per-task group size on an adversarial hot bucket (text)") {
    import spark.implicits._
    import graft.operators.TextDedup
    // the q382 pile shape AT INGEST: 30 of 60 docs share ONE text, so
    // every pile band bucket holds half the micro-batch — exactly the
    // concentration the plain stream funnels into one state task per
    // bucket and the split stream spreads over (band, bh, u) sub-tasks
    val streamDir = tmpDir("hotbucket-text-src")
    val docs = (0L until 60L).map(i =>
      (i, if (i % 2 == 0) "x y z w v"
          else s"w${i}a w${i}b w${i}c w${i}d w${i}e"))
      .toDF("doc_id", "text")
    docs.coalesce(1).write.parquet(s"$streamDir/b1")
    // fixture validity: the pile really concentrates — all 30 members in
    // ONE (band, bh) bucket per band
    val pileBuckets = TextDedup.bandsPerRow(docs, "doc_id", "text", 16, 4, 3)
      .filter(col("doc_id") % 2 === 0)
      .groupBy("band", "bh").count().collect()
    assert(pileBuckets.length == 4 && pileBuckets.forall(_.getLong(2) == 30L),
      "every pile band bucket must hold all 30 pile members")
    val schema = spark.read.parquet(s"$streamDir/b1").schema
    val splits = 4
    def run(name: String,
            mkStream: org.apache.spark.sql.DataFrame =>
              org.apache.spark.sql.Dataset[Streaming.BucketClaim])
        : Map[(Long, Int, String), Boolean] = {
      val q = mkStream(spark.readStream.schema(schema)
          .parquet(s"$streamDir/b*"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(name).as[(Long, Int, String, Long, Boolean)].collect()
        .map(r => ((r._1, r._2, r._3), r._5)).toMap
    }
    val plain = run("hottextplain",
      df => Streaming.lshBucketClaimStream(df, "doc_id", "text"))
    val split = run("hottextsplit",
      df => Streaming.lshBucketClaimStreamSplit(df, "doc_id", "text", splits))
    // flag parity holds ON THE SKEWED FIXTURE (the StreamingSpec analogue
    // of q382's adversarial gate)
    assert(split.keySet == plain.keySet)
    split.foreach { case (k, dup) =>
      assert(dup == plain(k), s"flag mismatch at $k") }
    // per-task bound: the split stream's level-1 state groups are keyed
    // (band, bh, u = xxhash64(id) mod splits) BY CONSTRUCTION — recompute
    // u for the pile and assert its micro-batch share spreads over
    // sub-tasks (the documented ~B/splits contract) instead of the plain
    // stream's single 30-member group
    val cells = docs.filter(col("doc_id") % 2 === 0)
      .select(pmod(xxhash64(col("doc_id")), lit(splits.toLong)).as("u"))
      .groupBy("u").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cells.size == splits, s"pile must spread over all sub-buckets: $cells")
    assert(cells.values.max < 30L, s"no sub-bucket may hold the whole pile: $cells")
    assert(cells.values.max <= 2L * ((30 + splits - 1) / splits),
      s"sub-bucket sizes should track ~B/splits: $cells")
  }

  test("split claim stream bounds per-task group size on an adversarial hot bucket (Hamming)") {
    import spark.implicits._
    import graft.operators.TextDedup
    // same adversarial shape on the slice space: 30 of 60 hashes are ONE
    // value, so each of the 4 slice buckets holds half the micro-batch
    val streamDir = tmpDir("hotbucket-ham-src")
    val hashes = (0L until 60L).map(i =>
      (i, if (i % 2 == 0) 0x0F0F0F0FL else 0x10000000L + i * 1048583L))
      .toDF("doc_id", "h")
    hashes.coalesce(1).write.parquet(s"$streamDir/b1")
    val pileBuckets = TextDedup.hammingSliceRows(hashes, "doc_id", "h", 32, 4)
      .filter(col("doc_id") % 2 === 0)
      .groupBy("sl", "sv").count().collect()
    assert(pileBuckets.length == 4 && pileBuckets.forall(_.getLong(2) == 30L),
      "every pile slice bucket must hold all 30 pile members")
    val schema = spark.read.parquet(s"$streamDir/b1").schema
    val splits = 4
    def run(name: String,
            mkStream: org.apache.spark.sql.DataFrame =>
              org.apache.spark.sql.Dataset[Streaming.HamBucketClaim])
        : Map[(Long, Int, Long), Boolean] = {
      val q = mkStream(spark.readStream.schema(schema)
          .parquet(s"$streamDir/b*"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(name).as[(Long, Int, Long, Long, Boolean)].collect()
        .map(r => ((r._1, r._2, r._3), r._5)).toMap
    }
    val plain = run("hothamplain",
      df => Streaming.hammingBucketClaimStream(df, "doc_id", "h",
        bits = 32, bands = 4))
    val split = run("hothamsplit",
      df => Streaming.hammingBucketClaimStreamSplit(df, "doc_id", "h",
        bits = 32, bands = 4, splits = splits))
    assert(split.keySet == plain.keySet)
    split.foreach { case (k, dup) =>
      assert(dup == plain(k), s"flag mismatch at $k") }
    val cells = hashes.filter(col("doc_id") % 2 === 0)
      .select(pmod(xxhash64(col("doc_id")), lit(splits.toLong)).as("u"))
      .groupBy("u").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cells.size == splits, s"pile must spread over all sub-buckets: $cells")
    assert(cells.values.max < 30L, s"no sub-bucket may hold the whole pile: $cells")
    assert(cells.values.max <= 2L * ((30 + splits - 1) / splits),
      s"sub-bucket sizes should track ~B/splits: $cells")
  }
}
