package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import graft.etl.BronzeToSilver
import graft.operators.{Buckets, Similarity, TextDedup}
import graft.model.Schemas

/**
 * Structured Streaming surface. The reference's "near-real-time" pipeline is
 * event-driven batch with a manual rename protocol for exactly-once-ish file
 * consumption (SURVEY §2.11); `readStream` + checkpoint subsumes that
 * protocol with true exactly-once file tracking. Batch mode stays the parity
 * baseline; streaming is the production posture.
 *
 * Scale notes: the file source lists the landing dir per trigger (use
 * `maxFilesPerTrigger` to bound micro-batch size); stateful operators
 * (windowed aggs, mapGroupsWithState) keep per-key state in the state store,
 * bounded by the watermark — without a watermark, state grows forever.
 */
object Streaming {

  /** Streaming Bronze→Silver: same transform as the batch job over a
    * file-source stream of poll documents. */
  def bronzeToSilverStream(spark: SparkSession, landingDir: String,
                           processedAtUtc: String): DataFrame =
    BronzeToSilver(
      spark.readStream
        .option("multiline", "true")
        .schema(Schemas.rawSchema)
        .json(landingDir),
      processedAtUtc)

  /** Run the streaming Silver ingest to completion over currently-available
    * files (Trigger.AvailableNow) with exactly-once checkpointing. */
  def runSilverIngest(spark: SparkSession, landingDir: String, silverPath: String,
                      checkpoint: String, processedAtUtc: String): Unit =
    bronzeToSilverStream(spark, landingDir, processedAtUtc)
      .writeStream
      .format("parquet")
      .option("path", silverPath)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .outputMode(OutputMode.Append)
      .start()
      .awaitTermination()

  /** Tumbling-window event counts with a watermark bounding state and
    * late-data acceptance. */
  def windowedEventCounts(events: DataFrame, windowLen: String,
                          watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("event_type"),
        col("n"), col("total_value"))

  /** Streaming dedup: drop repeated ids arriving within the watermark
    * horizon (state is bounded by the watermark — the streaming analog of
    * exact dedup, for at-least-once upstreams). */
  def dedupedStream(events: DataFrame, idCols: Seq[String],
                    watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCols)

  /**
   * Streaming incremental near-dup detection: the stream-side half of
   * `TextDedup.dedupAgainstIndex` — incoming documents are banded by
   * `TextDedup.bandsPerRow`, the band path every text LSH operator shares,
   * and stream-static joined against the stored index bands by
   * [[graft.operators.Buckets.probeIndex]] — the batch operator's probe,
   * in its stream mode (a cap-split index's census is materialized once
   * when the stream is built; see the executor-loss caveat there).
   * Emits (band, bh, idCol, d_old), one row per band collision.
   *
   * Collisions are CANDIDATES: a doc colliding with `d_old` in several
   * bands appears several times (a streaming distinct would need state;
   * append mode keeps this operator stateless and watermark-free), and
   * Jaccard verification needs the indexed shingle sets — both belong to
   * the downstream micro-batch (`foreachBatch` running
   * `dedupAgainstIndex` on the flagged ids), which pays O(collisions),
   * not O(stream). The index side is a plain DataFrame: Spark broadcasts
   * or re-reads it per micro-batch, and a bucketed index table
   * (`Sinks.writeBucketed`) joins without re-shuffling.
   */
  def nearDupCandidates(docStream: DataFrame, idCol: String, textCol: String,
                        indexBands: DataFrame, k: Int = 16, r: Int = 4,
                        w: Int = 3): DataFrame =
    Buckets.probeIndex(
      TextDedup.bandsPerRow(docStream, idCol, textCol, k, r, w),
      indexBands, Buckets.TextBands, col(idCol).as("d_old"))

  /**
   * Streaming incremental EMBEDDING near-dup detection: the stream-side
   * half of [[graft.operators.Similarity.dedupAgainstAnnIndex]] —
   * arriving vectors are hyperplane-signed PER ROW
   * ([[graft.operators.Similarity.lshSignaturesMulti]]: a narrow
   * stateless projection, no stateful aggregation) and stream-static
   * joined against the stored [[graft.operators.Similarity.annIndex]]
   * signature table by [[graft.operators.Buckets.probeIndex]]. Emits
   * (tbl, sig, idCol, d_old) — one row per table collision; exact-cosine
   * verification belongs to the downstream micro-batch (`foreachBatch`
   * running `dedupAgainstAnnIndex` on the flagged ids), which pays
   * O(collisions), not O(stream). A cap-split index's census is
   * metadata (≤ nTables·2^planesPerTable buckets), materialized once
   * when the stream is built and broadcast per micro-batch.
   */
  def nearDupEmbCandidates(vecStream: DataFrame, idCol: String,
                           vecCol: String, indexSigs: DataFrame,
                           nTables: Int = 4, planesPerTable: Int = 4,
                           dims: Int = 64): DataFrame =
    Buckets.probeIndex(
      Similarity.lshSignaturesMulti(vecStream, idCol, vecCol, nTables,
        planesPerTable, dims),
      indexSigs, Buckets.VectorTables, col(idCol).as("d_old"))

  /**
   * Streaming incremental HAMMING near-dup detection — the stream-side
   * half of [[graft.operators.TextDedup.dedupAgainstHammingIndex]],
   * completing the stored-index streaming matrix for the third dedup
   * family (text [[nearDupCandidates]], embeddings
   * [[nearDupEmbCandidates]]). The arriving stream carries an ALREADY
   * COMPUTED hash column — e.g. [[graft.operators.Multimodal
   * .perceptualHashWide]], a stateless projection that composes
   * directly on a stream (SimHash does NOT: it needs a word-level
   * aggregation, so text simhashes are indexed in batch and arrive
   * here as columns). Each row is sliced per band (stateless), probed
   * stream-static against the stored [[graft.operators.TextDedup
   * .hammingIndex]] by [[graft.operators.Buckets.probeIndex]] (the
   * batch operator's probe, in its stream mode), and — unlike the
   * text/embedding twins, whose verification needs a second corpus
   * table — VERIFIED IN-STREAM: Hamming distance is a pure function of
   * the two hashes riding the joined row. Emits one row per agreeing
   * under-`maxDist` slice (idCol, sl, sv, d_old, hamming); a pair
   * agreeing on several slices emits once per slice — the downstream
   * `foreachBatch` dedups ids, exactly the other twins' contract.
   */
  def nearDupHammingCandidates(hashStream: DataFrame, idCol: String,
                               hashCol: String, indexSlices: DataFrame,
                               bits: Int, bands: Int,
                               maxDist: Int): DataFrame = {
    require(maxDist <= bands - 1,
      s"pigeonhole recall needs maxDist <= bands-1 (= ${bands - 1})")
    val cand = Buckets.probeIndex(
      TextDedup.hammingSliceRows(hashStream, idCol, hashCol, bits, bands)
        .select(col(idCol), col(hashCol).as("graft_h1"), col("sl"), col("sv")),
      indexSlices, Buckets.HammingSlices,
      col(idCol).as("d_old"), col(hashCol).as("graft_h2"))
    TextDedup.withinHamming(cand, maxDist)
      .select(col(idCol), col("sl"), col("sv"), col("d_old"), col("hamming"))
  }

  /**
   * Streaming semantic decontamination — the online half of
   * [[graft.operators.Decontamination.semanticContaminated]]: every
   * ARRIVING training vector is checked against the static eval/benchmark
   * set the moment it enters the pipeline, so contaminated documents are
   * flagged before they ever land in the corpus (batch decontamination
   * re-scans the corpus after the fact; a curation pipeline wants both).
   *
   * Output matches the batch operator row-for-row: one append-mode row
   * per CONTAMINATED arrival — (idCol, n_eval_hits, max_cosine), cosines
   * 6-dp-rounded with the same native expression.
   *
   * Scale shape — stateless by construction (the [[nearDupCandidates]]
   * stream-static pattern, taken one step further): the eval set is
   * benchmark-sized by contract, so it rides as ONE static row holding
   * every (id, vector) struct, equi-joined on a constant key (Spark
   * broadcasts the single row per micro-batch and re-reads it when the
   * backing table changes — eval refreshes need no restart). Each
   * arriving row then computes its hit count and max cosine in ONE
   * codegen'd projection over that array — no per-(train, eval) row
   * blow-up, no streaming aggregation, no state store, no watermark.
   * If the eval set outgrows a broadcast row, prefilter with the LSH
   * banding index ([[nearDupCandidates]]) and verify only collisions —
   * same contract as the batch operator's scale note.
   */
  def decontaminationStream(docStream: DataFrame, evalVecs: DataFrame,
                            idCol: String, vecCol: String,
                            tau: Double): DataFrame = {
    val evalRow = evalVecs
      .agg(collect_list(struct(col(vecCol).as("graft_ev"))).as("graft_evs"))
      .withColumn("graft_k", lit(1))
    docStream.withColumn("graft_k", lit(1))
      .join(evalRow, Seq("graft_k"))
      .withColumn("graft_cos",
        transform(col("graft_evs"),
          e => round(graft.operators.Similarity
            .cosine(col(vecCol), e("graft_ev")), 6)))
      .withColumn("graft_hits",
        filter(col("graft_cos"), c => c >= lit(tau)))
      .filter(size(col("graft_hits")) > 0)
      .select(col(idCol),
        size(col("graft_hits")).cast("long").as("n_eval_hits"),
        array_max(col("graft_hits")).as("max_cosine"))
  }

  /** Output row of [[lshBucketClaimStream]]: one row per (document,
    * band) with the bucket's current owner; `is_dup` marks band
    * collisions with an earlier-owned bucket. */
  case class BucketClaim(doc_id: Long, band: Int, bh: String,
                         owner: Long, is_dup: Boolean)

  /** Output row of [[urlClaimStream]]: the arriving document, its
    * normalized URL, the URL's owner, and the online dedup flag. */
  case class UrlClaim(doc_id: Long, norm_url: String, owner: Long,
                      is_dup: Boolean)

  /**
   * Streaming first-wins URL dedup — the online half of
   * [[graft.operators.DomainDedup.dedupByUrl]] (RefinedWeb-style URL
   * dedup applied at INGEST, so a re-crawled page is dropped the moment
   * it arrives instead of in the next batch sweep). Each arriving
   * document is keyed by its NORMALIZED URL
   * ([[graft.operators.DomainDedup.normalizeUrl]], the same codegen'd
   * canonicalization as batch); the first claim on a URL is stored and
   * never displaced ([[lshBucketClaimStream]]'s contract: min-id within
   * a micro-batch, stored-claim-wins across them), so every later
   * arrival — including a smaller id — emits `is_dup = true` against
   * the original owner and earlier emissions are never retracted.
   *
   * Scale shape: state is ONE Long per DISTINCT normalized URL,
   * partitioned by URL hash — corpus-lifetime by design (at 100 TB run
   * the RocksDB state store, or epoch-scope the index via timeouts);
   * the projection side is stateless and narrow.
   */
  def urlClaimStream(docStream: DataFrame, idCol: String,
                     urlCol: String): Dataset[UrlClaim] = {
    val spark = docStream.sparkSession
    import spark.implicits._
    val keyed = docStream
      .select(col(idCol).cast("long").as("doc_id"),
        graft.operators.DomainDedup.normalizeUrl(col(urlCol))
          .as("norm_url"))
      .as[(Long, String)]
    keyed.groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (url: String, rows: Iterator[(Long, String)],
         state: GroupState[Long]) =>
          val ids = rows.map(_._1).toArray.sorted
          val owner = state.getOption.getOrElse(ids.head)
          state.update(owner)
          ids.iterator.map(id => UrlClaim(id, url, owner, id != owner))
      }
  }

  /**
   * The ONE copy of the first-wins keyed claim machinery (r19 ADVICE:
   * the per-family flatMapGroupsWithState blocks were near-identical
   * copies whose invariants could drift). Generic over the bucket key's
   * second component `B` (a band hash String for text, a signature/slice
   * value Long for embeddings and Hamming) and the family's output row
   * `R`; every family instantiates THIS helper, so a semantics fix —
   * claim policy, state timeout, consolidation order — lands in one
   * place.
   *
   * Claim contract (spec-asserted per family): ownership is first-wins
   * ACROSS micro-batches and min-id WITHIN one. The STORED claim wins:
   * min(stored, batch) would let a later, smaller id silently take
   * ownership and pass the online filter un-flagged — both copies of
   * the duplicate would ship. State is ONE Long per distinct (a, b)
   * bucket. The per-batch group materializes as an in-memory array
   * (bounded by the micro-batch's bucket share — the split variant
   * bounds it by ~B/splits; contract documented at each public stream).
   */
  private def firstWinsClaims[B, R](rows: Dataset[(Long, Int, B)],
                                    mk: (Long, Int, B, Long, Boolean) => R)
                                   (implicit ke: Encoder[(Int, B)],
                                    re: Encoder[R]): Dataset[R] = {
    implicit val longEnc: Encoder[Long] = Encoders.scalaLong
    rows.groupByKey { case (_, a, b) => (a, b) }
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (key: (Int, B), rs: Iterator[(Long, Int, B)],
         state: GroupState[Long]) =>
          val ids = rs.map(_._1).toArray.sorted
          val owner = state.getOption.getOrElse(ids.head)
          state.update(owner)
          ids.iterator.map(id => mk(id, key._1, key._2, owner, id != owner))
      }
  }

  /**
   * The split (hot-bucket-bounded) variant of [[firstWinsClaims]], the
   * one copy of the two-level claim/consolidation machinery: level 1
   * claims per deterministic sub-bucket (`u`, computed by the caller —
   * xxhash64(id) mod splits at every call site); level 2 consolidates
   * the ≤ `splits` sub-owner ANNOUNCEMENTS per bucket (each sub-bucket
   * announces exactly once, ever — its first claim) while level-1 dups
   * pass through on singleton keys, so ONE chained operator carries both
   * row kinds — legal in one query because both operators run in append
   * mode. The boolean in the level-2 key keeps any doc id (negative ids
   * included) collision-free with the announcement key.
   *
   * Output contract (spec-asserted per family): every arriving (id, a)
   * appears exactly once; the FLAG set is bit-identical to
   * [[firstWinsClaims]]'s (within a batch the bucket min is the min over
   * sub-bucket minima; across batches a later doc either loses its
   * sub-bucket or announces into an owned bucket — the stored claim is
   * never displaced at either level); a flagged row's owner points ≤ 2
   * hops up the claim chain (dup → sub-owner → owner), both hops present
   * in the stream — exactly a union-find parent pointer. State: one Long
   * per distinct (a, b, u) plus one per (a, b) — ≤ (splits + 1)× the
   * unsplit stream's entries.
   */
  private def firstWinsClaimsSplit[B, R](
      rows: Dataset[(Long, Int, B, Long)],
      mk: (Long, Int, B, Long, Boolean) => R)
     (implicit k1: Encoder[(Int, B, Long)],
      // level-1 rows are (id, a, b, sub-owner, is_dup) TUPLES, not a
      // dedicated case class: janino cannot compile the deserializer of
      // a GENERIC case class (erased accessor lookup fails — measured,
      // r20), while tuple encoders with a generic component are the
      // same machinery the keys already use
      se: Encoder[(Long, Int, B, Long, Boolean)],
      k2: Encoder[(Int, B, Boolean, Long)], re: Encoder[R]): Dataset[R] = {
    implicit val longEnc: Encoder[Long] = Encoders.scalaLong
    val level1 = rows
      .groupByKey { case (_, a, b, u) => (a, b, u) }
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (key: (Int, B, Long), rs: Iterator[(Long, Int, B, Long)],
         state: GroupState[Long]) =>
          val ids = rs.map(_._1).toArray.sorted
          val owner = state.getOption.getOrElse(ids.head)
          state.update(owner)
          ids.iterator.map(id =>
            (id, key._1, key._2, owner, id != owner))
      }
    level1
      .groupByKey(c =>
        if (c._5) (c._2, c._3, false, c._1)
        else (c._2, c._3, true, 0L))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (key: (Int, B, Boolean, Long),
         rs: Iterator[(Long, Int, B, Long, Boolean)],
         state: GroupState[Long]) =>
          if (!key._3)
            // pass-through: already-flagged sub-bucket dups (stateless)
            rs.map(c => mk(c._1, c._2, c._3, c._4, true))
          else {
            val anns = rs.toArray.sortBy(_._1) // ≤ splits per batch
            val owner = state.getOption.getOrElse(anns.head._1)
            state.update(owner)
            anns.iterator.map(c =>
              mk(c._1, c._2, c._3, owner, c._1 != owner))
          }
      }
  }

  /**
   * Streaming SELF-dedup via first-wins LSH bucket claims — the
   * stateful complement of [[nearDupCandidates]] (which checks a stream
   * against a STATIC index): here the stream is its own index. Each
   * incoming document is banded by [[TextDedup.bandsPerRow]] (the shared
   * text band path), then every (band, bh) bucket keeps ONE
   * Long of state — the smallest document id seen (the owner). A
   * document colliding with an already-owned bucket emits `is_dup =
   * true` for that band; reducing a doc's band rows downstream (any
   * band dup → candidate, to be Jaccard-verified in `foreachBatch`,
   * exactly [[nearDupCandidates]]'s contract) gives the online dedup
   * decision.
   *
   * Arrival-order semantics (documented, spec-asserted): ownership is
   * first-wins ACROSS micro-batches and min-id WITHIN one — the stored
   * claim is never displaced, so EVERY later arrival into an owned
   * bucket (including a smaller id) emits `is_dup = true` against the
   * original owner, and earlier emissions are never retracted — the
   * standard online-dedup contract (the batch pass over the same data
   * is the retroactive ground truth; it may canonicalize a different
   * representative, which is exactly the arrival-order-vs-global-order
   * difference between online and offline dedup).
   *
   * Scale shape: state is one Long per DISTINCT band bucket — bounded
   * by corpus bands (k/r per doc), not arrivals, and partitioned by
   * bucket hash across executors; no watermark needed (dedup state is
   * corpus-lifetime by design — at 100 TB run it on the RocksDB state
   * store, or add TTL via timeouts when the index is epoch-scoped).
   */
  def lshBucketClaimStream(docs: DataFrame, idCol: String, textCol: String,
                           k: Int = 16, r: Int = 4,
                           w: Int = 3): Dataset[BucketClaim] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bands = graft.operators.TextDedup
      .bandsPerRow(docs, idCol, textCol, k, r, w)
      .select(col(idCol).cast("long").as("doc_id"), col("band"), col("bh"))
      .as[(Long, Int, String)]
    firstWinsClaims(bands, BucketClaim.apply)
  }

  /**
   * Hot-bucket-bounded streaming LSH self-dedup — the capped variant of
   * [[lshBucketClaimStream]] (r17 verdict item 6). The uncapped stream
   * funnels EVERY member of a (band, bh) bucket into one state task per
   * micro-batch: correct (claims are B-linear, never B²) but a
   * boilerplate storm can put a whole micro-batch's hot bucket into a
   * single task. This variant splits each bucket into `splits`
   * deterministic sub-buckets (u = xxhash64(id) mod splits — arrival-
   * order-independent; expected per-task group B/splits; the q358 HARD
   * ≤ cap bound needs the bucket census, which online would itself be
   * a stateful pass) and consolidates ownership with a SECOND stateful
   * level over the ≤ `splits` sub-owner ANNOUNCEMENTS per bucket —
   * legal in one query because both operators run in append mode.
   *
   * Output contract (spec-asserted parity with the uncapped stream):
   *  - a doc that loses its SUB-bucket claim emits (doc, band, bh,
   *    owner = sub-owner, is_dup = true) — owner points one hop up the
   *    claim chain, exactly a union-find parent pointer;
   *  - a doc that WINS its sub-bucket emits through level 2 as
   *    (doc, band, bh, owner = bucket owner, is_dup = doc ≠ owner).
   * Every arriving (doc, band) appears exactly once, and the FLAG set
   * is bit-identical to [[lshBucketClaimStream]]'s: flagged ⟺ the doc
   * is not the bucket's first-wins owner (within a batch the bucket
   * min is the min over sub-bucket minima; across batches a later doc
   * either loses its sub-bucket or announces into an owned bucket —
   * the stored claim is never displaced at either level). Owner
   * attribution resolves in ≤ 2 hops (dup → sub-owner → owner), both
   * hops present in the stream.
   *
   * State: one Long per DISTINCT (band, bh, u) plus one per (band, bh)
   * — at most (splits + 1)× the uncapped stream's entries, all Longs.
   */
  def lshBucketClaimStreamSplit(docs: DataFrame, idCol: String,
                                textCol: String, splits: Int,
                                k: Int = 16, r: Int = 4,
                                w: Int = 3): Dataset[BucketClaim] = {
    require(splits >= 2, s"splits=$splits must be >= 2")
    val spark = docs.sparkSession
    import spark.implicits._
    val bands = graft.operators.TextDedup
      .bandsPerRow(docs, idCol, textCol, k, r, w)
      .select(col(idCol).cast("long").as("doc_id"), col("band"), col("bh"),
        pmod(xxhash64(col(idCol)), lit(splits.toLong)).as("u"))
      .as[(Long, Int, String, Long)]
    firstWinsClaimsSplit(bands, BucketClaim.apply)
  }

  /** Output row of [[embBucketClaimStream]]: one row per arriving
    * (vector, hash table) with the signature bucket's current owner. */
  case class EmbBucketClaim(vec_id: Long, tbl: Int, sig: Long,
                            owner: Long, is_dup: Boolean)

  /**
   * Streaming EMBEDDING self-dedup via first-wins signature-bucket
   * claims — [[lshBucketClaimStream]]'s pattern on the embedding side
   * (r18 verdict item 5): the fresh-corpus BOOTSTRAP shape, where no
   * [[graft.operators.Similarity.annIndex]] exists yet and the stream
   * is its own index ([[nearDupEmbCandidates]] covers the stream-vs-
   * stored-index half). Arriving vectors are hyperplane-signed PER ROW
   * ([[graft.operators.Similarity.lshSignaturesMulti]], stateless);
   * every (tbl, sig) bucket keeps ONE Long of state — the smallest
   * vector id seen. Any-table collision → candidate, exact-cosine
   * verified in `foreachBatch` downstream, exactly the batch
   * [[graft.operators.Similarity.cosineNearDupPairsBucketed]] contract.
   *
   * Arrival-order semantics are [[lshBucketClaimStream]]'s, verbatim:
   * first-wins ACROSS micro-batches, min-id WITHIN one, claims never
   * displaced or retracted.
   *
   * Scale shape: state is ≤ nTables · 2^planesPerTable Longs — METADATA
   * by construction (the signature space is intentionally coarse for
   * recall). The flip side: bucket POPULATIONS are corpus/2^planes, so
   * each micro-batch funnels a hot bucket's whole share into one state
   * task — at scale use [[embBucketClaimStreamSplit]], which spreads
   * every bucket over `splits` deterministic sub-tasks.
   */
  def embBucketClaimStream(vecs: DataFrame, idCol: String, vecCol: String,
                           nTables: Int = 4, planesPerTable: Int = 4,
                           dims: Int = 64): Dataset[EmbBucketClaim] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val sigs = graft.operators.Similarity
      .lshSignaturesMulti(vecs, idCol, vecCol, nTables, planesPerTable,
        dims)
      .select(col(idCol).cast("long").as("vec_id"), col("tbl"), col("sig"))
      .as[(Long, Int, Long)]
    firstWinsClaims(sigs, EmbBucketClaim.apply)
  }

  /**
   * Hot-bucket-bounded streaming embedding self-dedup — the
   * [[lshBucketClaimStreamSplit]] two-level pattern over
   * [[graft.operators.Similarity.lshSignaturesMulti]] buckets. More
   * load-bearing here than on the text side: the signature space is
   * COARSE by design (≤ nTables · 2^planesPerTable buckets — 64 at the
   * default config), so every bucket's micro-batch share is
   * corpus/2^planes rows and the uncapped stream concentrates them in
   * ≤ 64 state tasks. Level 1 claims per deterministic sub-bucket
   * (u = xxhash64(id) mod splits, expected group B/splits); level 2
   * consolidates the ≤ `splits` sub-owner announcements per bucket —
   * both append-mode, legal chained in one query.
   *
   * Output contract is [[lshBucketClaimStreamSplit]]'s, verbatim: every
   * arriving (vector, table) appears exactly once; the FLAG set is
   * bit-identical to [[embBucketClaimStream]]'s; a flagged row's owner
   * points ≤ 2 hops up the claim chain (dup → sub-owner → owner), both
   * hops present in the stream. State ≤ (splits + 1) Longs per bucket.
   */
  def embBucketClaimStreamSplit(vecs: DataFrame, idCol: String,
                                vecCol: String, splits: Int,
                                nTables: Int = 4, planesPerTable: Int = 4,
                                dims: Int = 64): Dataset[EmbBucketClaim] = {
    require(splits >= 2, s"splits=$splits must be >= 2")
    val spark = vecs.sparkSession
    import spark.implicits._
    val sigs = graft.operators.Similarity
      .lshSignaturesMulti(vecs, idCol, vecCol, nTables, planesPerTable,
        dims)
      .select(col(idCol).cast("long").as("vec_id"), col("tbl"), col("sig"),
        pmod(xxhash64(col(idCol)), lit(splits.toLong)).as("u"))
      .as[(Long, Int, Long, Long)]
    firstWinsClaimsSplit(sigs, EmbBucketClaim.apply)
  }

  /** Output row of [[hammingBucketClaimStream]]: one row per arriving
    * (signature, band slice) with the slice bucket's current owner. */
  case class HamBucketClaim(doc_id: Long, sl: Int, sv: Long,
                            owner: Long, is_dup: Boolean)

  /**
   * Streaming HAMMING self-dedup via first-wins slice-bucket claims —
   * [[lshBucketClaimStream]]'s contract on the pigeonhole slice space,
   * completing the claim-stream matrix for the third dedup family
   * (text bands, embedding signatures, now Hamming slices). The
   * arriving stream carries a pre-computed hash column (the
   * [[nearDupHammingCandidates]] rationale: `perceptualHashWide` is a
   * stateless projection; SimHash needs a word-level agg, so text
   * hashes arrive as columns); each row is sliced per band (stateless)
   * and every (sl, sv) bucket keeps ONE Long of state — the smallest
   * id seen. Any-slice collision → candidate; exact Hamming verify in
   * `foreachBatch` downstream (pigeonhole: a true ≤ maxDist pair
   * collides on some slice).
   *
   * Arrival-order semantics are [[lshBucketClaimStream]]'s verbatim:
   * first-wins across micro-batches, min-id within one, claims never
   * displaced or retracted.
   *
   * Scale shape: state ≤ bands · 2^(bits/bands) Longs — metadata BY
   * THE SPACE ITSELF. Like the embedding side, bucket POPULATIONS are
   * therefore corpus/2^sliceBits at saturation, so at scale use
   * [[hammingBucketClaimStreamSplit]] to spread each bucket's
   * micro-batch share over `splits` state tasks.
   */
  def hammingBucketClaimStream(hashStream: DataFrame, idCol: String,
                               hashCol: String, bits: Int,
                               bands: Int): Dataset[HamBucketClaim] = {
    val spark = hashStream.sparkSession
    import spark.implicits._
    val slices = graft.operators.TextDedup
      .hammingSliceRows(hashStream, idCol, hashCol, bits, bands)
      .select(col(idCol).cast("long").as("doc_id"), col("sl"), col("sv"))
      .as[(Long, Int, Long)]
    firstWinsClaims(slices, HamBucketClaim.apply)
  }

  /**
   * Hot-bucket-bounded streaming Hamming self-dedup — the
   * [[lshBucketClaimStreamSplit]] two-level pattern over slice
   * buckets: level-1 claims per deterministic sub-bucket
   * (u = xxhash64(id) mod splits), level-2 consolidates the ≤ `splits`
   * sub-owner announcements per bucket; both append-mode, chained in
   * one query. Flag set spec-proven bit-identical to
   * [[hammingBucketClaimStream]]; owners resolve in ≤ 2 hops; state
   * ≤ (splits + 1) Longs per occupied slice bucket.
   */
  def hammingBucketClaimStreamSplit(hashStream: DataFrame, idCol: String,
                                    hashCol: String, bits: Int,
                                    bands: Int,
                                    splits: Int): Dataset[HamBucketClaim] = {
    require(splits >= 2, s"splits=$splits must be >= 2")
    val spark = hashStream.sparkSession
    import spark.implicits._
    val slices = graft.operators.TextDedup
      .hammingSliceRows(hashStream, idCol, hashCol, bits, bands)
      .select(col(idCol).cast("long").as("doc_id"), col("sl"), col("sv"),
        pmod(xxhash64(col(idCol)), lit(splits.toLong)).as("u"))
      .as[(Long, Int, Long, Long)]
    firstWinsClaimsSplit(slices, HamBucketClaim.apply)
  }

  /** Output row of [[paragraphClaimStream]]: one row per arriving
    * (document, paragraph position); `is_dup` marks paragraphs whose
    * content was already claimed — by an earlier batch, an earlier doc
    * in this batch, or an earlier position in the same doc. */
  case class ParagraphClaim(doc_id: Long, pos: Long, ph: String,
                            owner_doc: Long, is_dup: Boolean)

  /**
   * Streaming paragraph-level first-wins dedup — the online half of
   * [[graft.operators.TextDedup.paragraphDedup]] (CCNet's paragraph
   * dedup applied at INGEST): each arriving document is sliced into
   * paragraphs by the SAME narrow projection as batch
   * ([[graft.operators.TextDedup.paragraphOccurrences]], stateless),
   * and every distinct paragraph md5 keeps ONE Long of state — the doc
   * that first claimed it. A document can then be reassembled
   * downstream from its `is_dup = false` rows, exactly the batch
   * reconstruction.
   *
   * Claim semantics (the [[lshBucketClaimStream]] contract): within a
   * micro-batch the smallest (doc, pos) occurrence claims; across
   * micro-batches the STORED claim is never displaced, so every later
   * arrival — any doc, any position, including the owner doc seeing
   * its own paragraph again — emits `is_dup = true` and nothing is
   * retracted. When documents arrive in ascending-id order the kept
   * set is bit-identical to batch [[graft.operators.TextDedup
   * .paragraphDedup]] (spec-asserted); out-of-order arrival keeps the
   * online contract (first claim wins) with batch as the retroactive
   * ground truth.
   *
   * Scale shape: the slicing side is stateless and narrow; state is
   * ONE Long per DISTINCT paragraph hash, partitioned by hash —
   * corpus-lifetime by design (RocksDB state store / epoch-scoped
   * timeouts at 100 TB, the [[urlClaimStream]] note).
   */
  def paragraphClaimStream(docStream: DataFrame, idCol: String,
                           textCol: String,
                           pWords: Int): Dataset[ParagraphClaim] = {
    val spark = docStream.sparkSession
    import spark.implicits._
    val occ = graft.operators.TextDedup
      .paragraphOccurrences(docStream, idCol, textCol, pWords)
      .select(col(idCol).cast("long").as("doc_id"), col("pos"),
        col("graft_ph"))
      .as[(Long, Long, String)]
    occ.groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (ph: String, rows: Iterator[(Long, Long, String)],
         state: GroupState[Long]) =>
          val rs = rows.toArray.sortBy(r => (r._1, r._2))
          val fresh = !state.exists
          val owner = state.getOption.getOrElse(rs.head._1)
          state.update(owner)
          rs.iterator.zipWithIndex.map { case ((d, p, _), i) =>
            ParagraphClaim(d, p, ph, owner, !(fresh && i == 0))
          }
      }
  }

  /**
   * One micro-batch advance of the ONLINE cluster-aware train/val/test
   * split — the streaming twin of the q351 batch decision
   * ([[graft.operators.Graph.incrementalComponents]] ∘
   * [[graft.operators.Sampling.deterministicSplit]], the r16 verdict's
   * item 6): an arriving document joins its near-dup cluster's EXISTING
   * split, so online ingestion can never place a new near-duplicate of
   * a frozen-split doc on the other side of the split boundary. Drive
   * it from `foreachBatch` (the histogram-maintenance pattern): feed
   * each batch's arriving doc ids plus the DELTA near-dup pairs (batch
   * vs corpus-so-far — [[graft.operators.TextDedup.dedupAgainstIndex]]
   * against the running LSH index, plus within-batch pairs) and carry
   * the returned state table (localCheckpointed) to the next call.
   *
   * Claim semantics (the [[urlClaimStream]] first-wins contract lifted
   * from keys to COMPONENT LABELS): a component that already owns a
   * split keeps it forever — new members inherit it; a merge of prior
   * components adopts the split of the SMALLEST merged prior label
   * (deterministic, replay-stable), and if the merged components had
   * DIFFERENT splits the conflict is flagged LOUDLY (`split_conflict`,
   * sticky — those are exactly the docs that shipped to both sides
   * before the bridge pair was known; a curation run quarantines them).
   * Brand-new components draw `deterministicSplit(component)` — the
   * batch operator's own assignment, so for an ascending-id replay
   * (every component's eventual min-id label arrives first) the final
   * state table is BIT-IDENTICAL to the batch q351 assignment
   * (spec-asserted incl. cross-batch merges); out-of-order arrival
   * keeps the online contract with batch as retroactive ground truth.
   *
   * Scale shape: the delta edges drive [[graft.operators.Graph
   * .incrementalComponents]] (one delta-endpoint lookup + one
   * prior-scale remap scan); the ledger carry is one more prior-scale
   * join (node → old label) feeding a components-count aggregation —
   * two prior scans per micro-batch total, no corpus rescan, no
   * collect. State is the (doc, component, split) table itself —
   * corpus-lifetime by design (the [[urlClaimStream]] note).
   *
   * @param prior     state from the previous advance: (doc_id,
   *                  component, split, split_conflict) — pass an empty
   *                  frame with that schema for the first batch
   * @param batchDocs arriving doc ids, one column `doc_id`
   * @param newPairs  delta verified near-dup pairs (d1, d2) touching
   *                  this batch
   */
  def clusterSplitAdvance(prior: DataFrame, batchDocs: DataFrame,
                          newPairs: DataFrame, salt: String,
                          cuts: Seq[(String, Int)]): DataFrame = {
    val labels = prior.select(col("doc_id").as("graft_n"),
      col("component"))
    val afterEdges = graft.operators.Graph.incrementalComponents(
      labels, "graft_n", "component", newPairs, "d1", "d2")
    // isolated arrivals (no near-dup pair yet): own-id singleton cluster
    val withNew = afterEdges.unionByName(
      batchDocs.select(col("doc_id").as("graft_n"))
        .join(afterEdges.select("graft_n"), Seq("graft_n"), "left_anti")
        .withColumn("component", col("graft_n")))
    // carry the frozen splits across the relabel: old component → new
    // component via any member node; merges resolve to the SMALLEST
    // merged prior label's split, conflicts flagged and sticky
    val remapped = prior
      .select(col("doc_id").as("graft_n"), col("component").as("graft_oc"),
        col("split").as("graft_os"), col("split_conflict"))
      .join(withNew, Seq("graft_n"))
      .select(col("component"), col("graft_oc"), col("graft_os"),
        col("split_conflict")).distinct()
    val carried = remapped.groupBy(col("component"))
      .agg(min_by(col("graft_os"), col("graft_oc")).as("graft_cs"),
        count_distinct(col("graft_os")).as("graft_ns"),
        max(col("split_conflict")).as("graft_pc"))
    val assigned = graft.operators.Sampling.deterministicSplit(
      withNew.join(carried, Seq("component"), "left"),
      "component", salt, cuts, "graft_fresh")
    assigned.select(col("graft_n").as("doc_id"), col("component"),
      coalesce(col("graft_cs"), col("graft_fresh")).as("split"),
      (coalesce(col("graft_ns") > 1, lit(false)) ||
        coalesce(col("graft_pc"), lit(false))).as("split_conflict"))
  }

  /** Output row of [[hllRegisterStream]]: the NEW value of a register
    * after a micro-batch raised it (registers only ever grow; unchanged
    * registers emit nothing). */
  case class HllRegister(stratum: String, bucket: Long, r: Long)

  /**
   * Streaming HyperLogLog register maintenance — the online half of
   * [[graft.operators.Sketches.hllRegisters]]: each arriving key goes
   * through the SAME stateless (stratum, bucket, ρ) projection as batch
   * ([[graft.operators.Sketches.hllRows]] — md5 bucket + bin-length ρ,
   * no libm), and every (stratum, bucket) keeps ONE Long of state — the
   * running register max. A micro-batch emits a row only when it RAISES
   * a register (max is monotone), so the emitted stream is a
   * change-log: max-folding all emissions (or just taking each
   * register's latest) reproduces the batch register table exactly, and
   * [[graft.operators.Sketches.hllEstimate]] over that fold gives the
   * live distinct-count estimate at any point — the standard streaming
   * cardinality dashboard.
   *
   * Parity is BY CONSTRUCTION (same projection, max is associative /
   * commutative / idempotent — arrival order and batching can never
   * change the final registers) and spec-asserted across multi-batch,
   * duplicated, out-of-order arrival.
   *
   * Scale shape: state is ≤ 2^p Longs per stratum REGARDLESS of arrival
   * count — the sketch bound itself; no watermark needed (a register
   * table is corpus-lifetime by design, the [[urlClaimStream]] note).
   */
  def hllRegisterStream(docStream: DataFrame, keyCol: String,
                        strataCol: String,
                        p: Int = 8): Dataset[HllRegister] = {
    val spark = docStream.sparkSession
    import spark.implicits._
    val rows = graft.operators.Sketches
      .hllRows(docStream, keyCol, strataCol, p)
      .select(col(strataCol).cast("string").as("stratum"), col("bucket"),
        col("r"))
      .as[(String, Long, Long)]
    rows.groupByKey { case (s, b, _) => (s, b) }
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (key: (String, Long), batch: Iterator[(String, Long, Long)],
         state: GroupState[Long]) =>
          val batchMax = batch.map(_._3).max
          val stored = state.getOption
          if (stored.exists(_ >= batchMax)) Iterator.empty
          else {
            state.update(batchMax)
            Iterator.single(HllRegister(key._1, key._2, batchMax))
          }
      }
  }

  /** Output row of [[domainCapStream]]: one row per arriving document
    * with its domain, weight, the domain's cumulative pre-arrival
    * weight, and the admission decision. */
  case class CapAdmission(doc_id: Long, domain: String, n_tokens: Long,
                          cum_before: Long, admitted: Boolean)

  /**
   * Streaming per-domain token-budget admission — the online half of
   * [[graft.operators.DomainDedup.capPerDomain]] (RefinedWeb §3.2's
   * per-domain cap applied at INGEST, so a mega-domain stops consuming
   * budget the moment it fills instead of in the next batch sweep).
   * Each arriving document is keyed by its registrable domain (the same
   * codegen'd projection as batch); every domain keeps ONE Long of
   * state — the cumulative token weight of EVERYTHING that has arrived
   * (admitted or not), because the batch rule is a prefix-sum threshold
   * cut (`cum_before + w <= cap`, rejected rows still advance the
   * prefix — [[graft.operators.Selection.underBudgetPerStratum]]'s
   * documented semantics), not greedy best-fit. Within a micro-batch
   * rows are processed in ascending id order (the batch order), so
   * under in-order arrival the admitted set is bit-identical to batch
   * capPerDomain over the union (spec-asserted); out-of-order arrival
   * keeps the online contract — first-come admission against the live
   * prefix, with batch as the retroactive ground truth.
   *
   * Scale shape: state is ONE Long per DISTINCT domain (web-scale:
   * ~10⁸ domains ≪ docs), partitioned by domain hash; the projection
   * side is stateless and narrow. No watermark — a budget ledger is
   * corpus-lifetime by design (the [[urlClaimStream]] note).
   */
  def domainCapStream(docStream: DataFrame, idCol: String, urlCol: String,
                      weight: org.apache.spark.sql.Column,
                      budgets: Map[String, Long],
                      defaultBudget: Long): Dataset[CapAdmission] = {
    val spark = docStream.sparkSession
    import spark.implicits._
    val keyed = docStream
      .select(col(idCol).cast("long").as("doc_id"),
        graft.operators.DomainDedup.registrableDomain(col(urlCol))
          .as("domain"),
        weight.cast("long").as("w"))
      .as[(Long, String, Long)]
    keyed.groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (domain: String, rows: Iterator[(Long, String, Long)],
         state: GroupState[Long]) =>
          val cap = budgets.getOrElse(domain, defaultBudget)
          var cum = state.getOption.getOrElse(0L)
          val out = rows.toArray.sortBy(_._1).map { case (id, _, w) =>
            val row = CapAdmission(id, domain, w, cum, cum + w <= cap)
            cum += w
            row
          }
          state.update(cum)
          out.iterator
      }
  }

  /**
   * Watermarked stream-STREAM inner join: each view event pairs with the
   * click events of the same user arriving within `horizon` AFTER it —
   * the attribution join computed online. Both sides carry watermarks
   * and the join condition bounds event time on both ends, so the state
   * store provably evicts: a buffered view can only match clicks up to
   * `horizon` past its timestamp, and rows older than watermark+horizon
   * drop. Without the time bound (or the watermarks) state grows
   * forever — Spark rejects the unbounded form in append mode.
   *
   * Inputs must both carry `user_id`, `ts`, `event_id` (the
   * events-table shape filtered by type).
   */
  def viewClickJoin(views: DataFrame, clicks: DataFrame,
                    watermark: String = "10 minutes",
                    horizon: String = "10 minutes"): DataFrame = {
    val v = views.select(col("event_id").as("view_id"),
        col("user_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", watermark)
    val c = clicks.select(col("event_id").as("click_id"),
        col("user_id").as("c_user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    v.join(c,
        col("user_id") === col("c_user_id") &&
          col("click_ts") >= col("view_ts") &&
          col("click_ts") <= col("view_ts") + expr(s"interval $horizon"))
      .select(col("view_id"), col("click_id"), col("user_id"),
        col("view_ts"), col("click_ts"))
  }

  final case class RlEvent(event_id: Long, user_id: Long, tus: Long)
  final case class RlState(nKept: Long)

  /**
   * Streaming rate limiter — THE DEFAULT: delegates to
   * [[rateLimitedStreamOoO]], the event-time-correct form that emits
   * the batch `Funnel.rateLimit` selection under any pre-watermark
   * arrival order. Use [[rateLimitedStreamInOrder]] only for sources
   * that are append-only IN EVENT-TIME ORDER by construction, where
   * its single-counter state (vs O(k) buffered pairs per open bucket)
   * and zero emission latency (vs watermark-delayed) are worth the
   * reordering fragility.
   *
   * @note MIGRATION (behavior change): this entry point previously ran
   *       the in-order variant — output was immediate and every event
   *       was counted in ARRIVAL order. It now (a) delays output until
   *       the event's bucket passes the watermark and (b) DROPS events
   *       arriving after their bucket's watermark close, in exchange
   *       for exact event-time winners under reordering. Callers that
   *       relied on immediate emission over an in-event-time-order
   *       source opt back in explicitly via
   *       [[rateLimitedStreamInOrder]].
   */
  def rateLimitedStream(events: Dataset[RlEvent], bucketUs: Long, k: Int,
                        watermarkDelay: String = "10 minutes"): Dataset[RlEvent] =
    rateLimitedStreamOoO(events, bucketUs, k, watermarkDelay)

  /**
   * IN-ORDER streaming rate limiter: at most `k` events pass per (user,
   * fixed `bucketUs` time bucket), state = ONE counter per open bucket.
   * Within a micro-batch the group's rows are ordered by the total
   * (tus, id) order; across micro-batches earlier-ARRIVING events win —
   * which matches the batch operator ONLY when arrival order respects
   * event time. Under reordering it silently keeps the wrong winners,
   * which is why [[rateLimitedStream]] now routes to the
   * watermark-buffered [[rateLimitedStreamOoO]] instead; this variant
   * survives for strictly time-ordered append-only logs, where its
   * smaller state and immediate emission are a real trade. State is
   * bounded by open buckets per user; pair with a watermark-driven
   * timeout in production to expire closed buckets.
   */
  def rateLimitedStreamInOrder(events: Dataset[RlEvent], bucketUs: Long,
                               k: Int): Dataset[RlEvent] = {
    require(bucketUs > 0 && k >= 1, s"bad rate limit: $bucketUs, $k")
    implicit val enc = Encoders.product[RlEvent]
    implicit val stateEnc = Encoders.product[RlState]
    implicit val keyEnc = Encoders.tuple(Encoders.scalaLong,
      Encoders.scalaLong)
    events.groupByKey(e => (e.user_id, e.tus / bucketUs))
      .flatMapGroupsWithState[RlState, RlEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, state: GroupState[RlState]) =>
          val kept = state.getOption.getOrElse(RlState(0L)).nKept
          val budget = (k - kept).max(0L).toInt
          val winners = rows.toSeq.sortBy(e => (e.tus, e.event_id))
            .take(budget)
          state.update(RlState(kept + winners.size))
          winners.iterator
      }
  }

  final case class RlTsEvent(event_id: Long, user_id: Long, tus: Long,
                             ts: java.sql.Timestamp)
  final case class RlBufState(tus: Seq[Long], ids: Seq[Long])

  /**
   * Out-of-order streaming rate limiter — what [[rateLimitedStream]]
   * resolves to — the event-time-correct form of
   * [[rateLimitedStreamInOrder]]. Instead of letting arrival order pick the
   * winners, each (user, bucket) group BUFFERS candidates until the
   * event-time watermark passes the bucket end, then emits the k
   * earliest by (tus, event_id) — exactly the batch
   * `Funnel.rateLimit` selection, under ANY arrival order in which
   * events reach the stream before the watermark closes their bucket.
   * Events arriving after their bucket closed are dropped (the standard
   * append-mode watermark contract, same as windowed aggregation).
   *
   * State is O(k) per open bucket, NOT O(events): an event that is not
   * among the k earliest seen so far can never enter the kept set, so
   * the buffer holds at most k (tus, id) pairs, deduped for replay
   * idempotence. Buckets close via EventTimeTimeout at the bucket-end
   * timestamp and their state is removed — total state is bounded by
   * (open buckets per user) × k, driven by the watermark delay, not by
   * stream length. At 100 TB/day of events this is the only shape that
   * survives: the in-order variant's counter is smaller but silently
   * wrong under reordering; unbounded buffering is right but OOMs.
   */
  def rateLimitedStreamOoO(events: Dataset[RlEvent], bucketUs: Long, k: Int,
                           watermarkDelay: String = "10 minutes"): Dataset[RlEvent] = {
    require(bucketUs > 0 && k >= 1, s"bad rate limit: $bucketUs, $k")
    implicit val enc = Encoders.product[RlEvent]
    implicit val tsEnc = Encoders.product[RlTsEvent]
    implicit val stateEnc = Encoders.product[RlBufState]
    implicit val keyEnc = Encoders.tuple(Encoders.scalaLong,
      Encoders.scalaLong)
    events
      .withColumn("ts", timestamp_micros(col("tus")))
      .withWatermark("ts", watermarkDelay)
      .as[RlTsEvent]
      .groupByKey(e => (e.user_id, e.tus / bucketUs))
      .flatMapGroupsWithState[RlBufState, RlEvent](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((user, bucket), rows, state: GroupState[RlBufState]) =>
          if (state.hasTimedOut) {
            // watermark passed the bucket end: the buffer is final
            val s = state.get
            state.remove()
            s.tus.zip(s.ids).sorted.iterator
              .map { case (t, id) => RlEvent(id, user, t) }
          } else {
            val bucketEndUs = (bucket + 1L) * bucketUs
            // ceil to ms: the timeout must not fire while a same-ms
            // event could still be on time
            val bucketEndMs = Math.floorDiv(bucketEndUs - 1L, 1000L) + 1L
            val prev = state.getOption.getOrElse(RlBufState(Nil, Nil))
            val merged = (prev.tus.zip(prev.ids) ++
                rows.map(e => (e.tus, e.event_id)))
              .distinct.sorted.take(k)
            if (state.getCurrentWatermarkMs() >= bucketEndMs) {
              if (state.exists) {
                // bucket closing in the same batch its last data arrived:
                // fold the data in and finalize now (the timeout will not
                // fire again — remove() clears it)
                state.remove()
                merged.iterator.map { case (t, id) => RlEvent(id, user, t) }
              } else {
                // no live state: the bucket already emitted (or never
                // opened before its horizon passed) — late data, dropped
                Iterator.empty
              }
            } else {
              state.update(RlBufState(merged.map(_._1), merged.map(_._2)))
              state.setTimeoutTimestamp(bucketEndMs)
              Iterator.empty
            }
          }
      }
  }

  final case class WrDoc(doc_id: Long, stratum: String, weight: Double)
  final case class WrState(keys: Seq[Double], ids: Seq[Long])
  final case class WrSnapshot(stratum: String, doc_ids: Seq[Long])

  /** The Efraimidis–Spirakis key of [[graft.operators.Sampling
    * .weightedTopKPerStratum]], computed JVM-side: ln(u)/w with
    * u = (first-48-md5-bits + 1)/2^48 of "salt_key" — bit-identical to
    * the SQL expression (same md5 bytes, same dyadic u, same ln). */
  def aesKey(salt: String, key: Long, weight: Double): Double = {
    require(weight > 0, s"aesKey requires positive weight: $weight")
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${salt}_$key".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 6) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    math.log((h + 1).toDouble / 281474976710656.0) / weight
  }

  /**
   * Streaming weighted reservoir: the continuous form of
   * `Sampling.weightedTopKPerStratum` — per stratum, keep the k docs
   * with the highest A-ES keys seen SO FAR, emitting the current
   * reservoir snapshot every micro-batch. Because the A-ES top-k is a
   * commutative idempotent monoid (max-k over a fixed per-doc key),
   * the final snapshot equals the batch operator's selection under ANY
   * arrival order — stronger than the rate limiter's in-order-only
   * parity, and asserted in StreamingSpec. State is exactly k
   * (key, id) pairs per stratum — O(k), watermark-free by design.
   */
  def weightedReservoirStream(docs: Dataset[WrDoc], salt: String,
                              k: Int): Dataset[WrSnapshot] = {
    require(k >= 1, s"k must be >= 1: $k")
    implicit val outEnc = Encoders.product[WrSnapshot]
    implicit val stateEnc = Encoders.product[WrState]
    docs.groupByKey(_.stratum)(Encoders.STRING)
      .mapGroupsWithState[WrState, WrSnapshot](
        GroupStateTimeout.NoTimeout) {
        case (stratum, rows, state: GroupState[WrState]) =>
          val prev = state.getOption.getOrElse(WrState(Nil, Nil))
          var entries = prev.keys.zip(prev.ids)
          for (r <- rows) {
            val e = (aesKey(salt, r.doc_id, r.weight), r.doc_id)
            // dedup on id (replays must be idempotent), then top-k by
            // (key desc, id asc) — the batch operator's exact order
            if (!entries.exists(_._2 == e._2))
              entries = ((e +: entries)
                .sortBy { case (key, id) => (-key, id) }).take(k)
          }
          state.update(WrState(entries.map(_._1), entries.map(_._2)))
          WrSnapshot(stratum, entries.map(_._2).sorted)
      }
  }

  final case class SessionState(nEvents: Long, lastTs: Long)
  final case class UserSession(user_id: Long, n_events: Long,
                               last_seen_ms: Long, expired: Boolean)

  /**
   * Custom keyed state via mapGroupsWithState: running per-user event count
   * with a processing-time idle timeout — the pattern for sessionization /
   * custom stateful logic that windowed aggs can't express.
   */
  def userActivity(events: Dataset[(Long, Long)]): Dataset[UserSession] = {
    implicit val enc = Encoders.product[UserSession]
    implicit val stateEnc = Encoders.product[SessionState]
    events.groupByKey(_._1)(Encoders.scalaLong)
      .mapGroupsWithState[SessionState, UserSession](
        GroupStateTimeout.ProcessingTimeTimeout) {
        case (userId, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            UserSession(userId, s.nEvents, s.lastTs, expired = true)
          } else {
            val events = rows.toSeq
            val prev = state.getOption.getOrElse(SessionState(0L, 0L))
            val next = SessionState(prev.nEvents + events.size,
              math.max(prev.lastTs, events.map(_._2).max))
            state.update(next)
            state.setTimeoutDuration("30 minutes")
            UserSession(userId, next.nEvents, next.lastTs, expired = false)
          }
      }
  }

  /** Output row of [[vocabNoveltyStream]]: one row per arriving document
    * with its distinct-word count and how many of those words were new
    * to the stratum's stream at arrival time. */
  final case class NoveltyRow(doc_id: Long, stratum: String,
                              n_distinct: Long, n_new: Long)

  /** JVM replica of [[graft.operators.Sketches]]' Bloom position: first
    * 8 hex chars of md5("bf{r}_" ‖ key) as a long, mod mBits —
    * bit-identical to the SQL expression, shared with the spec replay. */
  private[graft] def bloomPosJvm(key: String, r: Int, mBits: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"bf${r}_$key".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 4) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    (h % mBits).toInt
  }

  /**
   * Batch-train / stream-serve for the CCNet perplexity-tier filter:
   * assign every ARRIVING document its head/middle/tail tier using the
   * model and tier cuts learned by a batch run
   * ([[graft.operators.Relevance.interpolatedPerplexity]] +
   * [[graft.operators.Relevance.perplexityTiers]]) — the standard
   * production seam where the expensive corpus pass happens offline and
   * ingest filters documents online with zero added latency state.
   *
   * STATELESS by construction: the bigram/unigram model and per-group
   * tier cuts ride as broadcast literal maps
   * ([[graft.operators.Relevance.pq6ServingCols]]), so the whole
   * assignment is one narrow projection — no join, no aggregation, no
   * state store, restart-trivial. Spec-asserted: identical tiers to the
   * batch assignment when the training corpus itself is replayed.
   * Documents with < 2 words (no scored slots) and groups absent from
   * the cuts report NULL tier, exactly like batch.
   */
  def tierServeStream(docStream: DataFrame, idCol: String,
                      textCol: String, groupCol: String,
                      cxy: Map[String, Long], cu: Map[String, Long],
                      n: Long, cuts: Map[String, (Long, Long)],
                      lambda: Double = 0.75): DataFrame = {
    val (nScored, sumPq6) =
      graft.operators.Relevance.pq6ServingCols(col(textCol), cxy, cu, n,
        lambda)
    val headCut = typedLit(cuts.map { case (g, (h, _)) => g -> h })
    val midCut = typedLit(cuts.map { case (g, (_, m)) => g -> m })
    val score = call_function("div", sumPq6,
      nScored.cast(org.apache.spark.sql.types.DecimalType(38, 0)))
    docStream
      .withColumn("n_scored", nScored)
      .withColumn("pq6_mean",
        when(col("n_scored") > 0, score).cast("bigint"))
      .withColumn("tier",
        when(col("n_scored") === 0, lit(null).cast("string"))
          .when(element_at(headCut, col(groupCol)).isNull,
            lit(null).cast("string"))
          .when(col("pq6_mean") >= element_at(headCut, col(groupCol)),
            lit("head"))
          .when(col("pq6_mean") >= element_at(midCut, col(groupCol)),
            lit("middle"))
          .otherwise(lit("tail")))
      .select(col(idCol), col(groupCol), col("n_scored"),
        col("pq6_mean"), col("tier"))
  }

  /** Snapshot row of [[giniSimpsonStream]]: the running diversity read
    * per stratum — identical surface to the batch operator. */
  final case class GiniSnapshot(stratum: String, n_rows: Long,
                                n_categories: Long,
                                gini_simpson_micro: Option[Long])

  /**
   * Streaming maintenance of [[graft.operators.Profiling.giniSimpson]]:
   * per stratum, a category→count map folds each arriving row, and the
   * emitted snapshot carries the EXACT same integers the batch operator
   * reports over everything ingested so far (spec-asserted) — the live
   * "is this source drifting toward a monoculture" monitor.
   *
   * State: one Map[category, Long] per stratum — O(|categories|), sized
   * by the label vocabulary (languages, domains, topic tags), never the
   * corpus; watermark-free by design (a composition ledger is
   * corpus-lifetime, the [[urlClaimStream]] note). The Gini–Simpson
   * rational is recomputed per snapshot from the counts in exact BigInt
   * arithmetic — the identical half-away rounding batch uses.
   */
  def giniSimpsonStream(docStream: DataFrame, strataCol: String,
                        catCol: String): Dataset[GiniSnapshot] = {
    val spark = docStream.sparkSession
    import spark.implicits._
    val rows = docStream.select(col(strataCol).cast("string").as("stratum"),
        col(catCol).cast("string").as("cat"))
      .as[(String, String)]
    rows.groupByKey(_._1)(Encoders.STRING)
      .mapGroupsWithState[Map[String, Long], GiniSnapshot](
        GroupStateTimeout.NoTimeout) {
        (stratum: String, batch: Iterator[(String, String)],
         state: GroupState[Map[String, Long]]) =>
          var m = state.getOption.getOrElse(Map.empty[String, Long])
          batch.foreach { case (_, c) => m = m.updated(c, m.getOrElse(c, 0L) + 1L) }
          state.update(m)
          val n = m.valuesIterator.sum
          val same = m.valuesIterator.map(v => BigInt(v) * (v - 1)).sum
          val micro = if (n >= 2) {
            val den = BigInt(n) * (n - 1)
            val num = (den - same) * 1000000
            Some(((num * 2 + den) / (den * 2)).toLong)
          } else None
          GiniSnapshot(stratum, n, m.size.toLong, micro)
      }
  }

  /** Snapshot row of [[contentDigestStream]]: the running multiset
    * digest (decimal string — exact 64-bit value) per stratum. */
  final case class DigestSnapshot(stratum: String, n_rows: Long,
                                  digest: String)

  /**
   * Streaming maintenance of [[graft.operators.Profiling.contentDigest]]
   * — the incremental half the digest's sum-mod-2⁶⁴ monoid was chosen
   * for: each arriving row folds its 64-bit hash into ONE running
   * (count, digest) pair per stratum, so after any prefix of the stream
   * the state equals the batch digest of everything ingested so far
   * (spec-asserted). Snapshot reconciliation against a warehouse copy
   * becomes a constant-size state comparison instead of a re-scan.
   *
   * State: one (Long, 20-char decimal string) per stratum — O(strata),
   * watermark-free by design (an identity ledger is corpus-lifetime,
   * the [[urlClaimStream]] note). The per-row hash is the IDENTICAL
   * column expression batch uses ([[graft.operators.Profiling
   * .rowDigest64]]), evaluated engine-side; only (stratum, value)
   * strings reach the state task.
   */
  def contentDigestStream(docStream: DataFrame, strataCol: String,
                          cols: Seq[String]): Dataset[DigestSnapshot] = {
    val spark = docStream.sparkSession
    import spark.implicits._
    val mod = BigInt(2).pow(64)
    val rows = docStream.select(col(strataCol).cast("string").as("stratum"),
        graft.operators.Profiling.rowDigest64(cols).cast("string").as("hv"))
      .as[(String, String)]
    rows.groupByKey(_._1)(Encoders.STRING)
      .mapGroupsWithState[(Long, String), DigestSnapshot](
        GroupStateTimeout.NoTimeout) {
        (stratum: String, batch: Iterator[(String, String)],
         state: GroupState[(Long, String)]) =>
          val (n0, d0) = state.getOption.getOrElse((0L, "0"))
          var n = n0
          var d = BigInt(d0)
          batch.foreach { case (_, hv) => n += 1; d = (d + BigInt(hv)) % mod }
          state.update((n, d.toString))
          DigestSnapshot(stratum, n, d.toString)
      }
  }

  /**
   * Streaming vocabulary-novelty monitor — the online counterpart of
   * [[graft.operators.TextAnalysis.vocabGrowthCurve]] /
   * [[graft.operators.TextAnalysis.missingMassAudit]]: per stratum, a
   * Bloom filter of every word seen so far (the
   * [[graft.operators.Sketches]] bf-hash family, replayed JVM-side)
   * scores each arriving document's distinct words, emitting how many
   * are NEW to the stream — the live "is this source still buying
   * vocabulary" signal that batch Heaps curves report after the fact.
   *
   * Error contract (one-sided, the Bloom guarantee): a word counted as
   * seen might be a false positive, so `n_new` can only UNDERcount —
   * a word reported new is definitely new. Within a micro-batch,
   * documents fold in ascending doc-id order and insertions are
   * immediate, so the count is deterministic for any fixed file/batch
   * split (spec-asserted against a sequential JVM replay).
   *
   * Scale shape: state is ONE fixed mBits-bit array per stratum
   * (mBits/8 bytes — size chosen by expected vocabulary, NOT corpus
   * size; the unbounded-exact-set alternative is precisely what a
   * 100 TB stream cannot keep). The projection side is stateless and
   * narrow; only (id, stratum, distinct words) reaches the state task.
   * No watermark — a vocabulary ledger is corpus-lifetime by design
   * (the [[urlClaimStream]] note).
   */
  def vocabNoveltyStream(docStream: DataFrame, idCol: String,
                         textCol: String, strataCol: String,
                         k: Int = 4, mBits: Int = 65536)
      : Dataset[NoveltyRow] = {
    require(k >= 1 && k <= 8, s"k=$k out of range")
    require(mBits >= 64 && mBits % 64 == 0 && mBits <= (1 << 24),
      s"mBits=$mBits: need a multiple of 64 in [64, 2^24]")
    val spark = docStream.sparkSession
    import spark.implicits._
    val rows = docStream.select(col(idCol).cast("long").as("doc_id"),
        col(strataCol).cast("string").as("stratum"),
        array_distinct(split(col(textCol), " ")).as("words"))
      .as[(Long, String, Seq[String])]
    rows.groupByKey(_._2)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (stratum: String, batch: Iterator[(Long, String, Seq[String])],
         state: GroupState[Array[Long]]) =>
          val bits = state.getOption.getOrElse(new Array[Long](mBits / 64))
          val out = batch.toSeq.sortBy(_._1).map { case (id, _, words) =>
            var nNew = 0L
            words.foreach { w =>
              var isNew = false
              var r = 0
              while (r < k) {
                val p = bloomPosJvm(w, r, mBits)
                if ((bits(p >> 6) >>> (p & 63) & 1L) == 0L) isNew = true
                r += 1
              }
              if (isNew) nNew += 1
              r = 0
              while (r < k) {
                val p = bloomPosJvm(w, r, mBits)
                bits(p >> 6) |= 1L << (p & 63)
                r += 1
              }
            }
            NoveltyRow(id, stratum, words.size.toLong, nNew)
          }
          state.update(bits)
          out.iterator
      }
  }

  /**
   * Streaming priority sample (Duffield–Lund–Thorup 2007, the batch
   * [[graft.operators.Sampling.prioritySample]]): the global top-(k+1)
   * priority set maintained as ONE bounded aggregate row — the
   * `collect_top_k` bounded-priority-queue aggregate holds O(k) state
   * in the state store and merges map-side partials, so an unbounded
   * stream is sampled with constant memory and no per-key state.
   * Output mode: complete (a single always-current row); the item set
   * of the first k entries equals the batch sample over the rows seen
   * so far, and entry k+1 prices τ (StreamingSpec parity).
   */
  def prioritySampleStream(docStream: DataFrame, keyCol: String,
                           weightCol: String, salt: String,
                           k: Int): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
    require(k >= 1, s"k must be >= 1: $k")
    val big = DecimalType(38, 0)
    val h48 = conv(
      substring(md5(concat_ws("_", lit(salt), col(keyCol))), 1, 12), 16, 10)
      .cast(LongType)
    // qn = w·2^48 in DECIMAL(38,0), mirroring the batch operator: a
    // LongType product silently wraps for any w ≥ 2^15 (non-ANSI),
    // corrupting both the rank order and the carried τ rational
    val item = docStream
      .select(col(keyCol).as("graft_key"),
        col(weightCol).cast(LongType).as("graft_w"), h48.as("graft_h"))
      .select(struct(
        (-(col("graft_w").cast(big) * lit(281474976710656L).cast(big))
          .cast(DoubleType) /
          (col("graft_h") + lit(1L)).cast(DoubleType)).as("nq"),
        col("graft_key").as("key"), col("graft_w").as("w"),
        (col("graft_w").cast(big) * lit(281474976710656L).cast(big))
          .as("qn"),
        (col("graft_h") + lit(1L)).as("qd")).as("graft_item"))
    item.agg(call_function("collect_top_k",
      col("graft_item"), lit(k + 1), lit(true)).as("topk"))
  }

  /** Snapshot row of [[winRateStream]]: the running head-to-head record
    * per unordered item pair — identical surface to the batch
    * [[graft.operators.Preference.winRateMatrix]]. */
  final case class WinRateSnapshot(item_a: String, item_b: String,
                                   wins_a: Long, wins_b: Long,
                                   n_games: Long, winrate_a_micro: Long)

  /**
   * Streaming maintenance of [[graft.operators.Preference
   * .winRateMatrix]]: the live eval-log scoreboard. Each arriving
   * (winner, loser) comparison folds into its unordered pair's
   * (wins_a, wins_b) counters; the emitted snapshot carries the EXACT
   * integers and half-away micro rate the batch operator reports over
   * everything ingested so far (spec-asserted) — a leaderboard that
   * updates as judge verdicts land, without re-scanning the log.
   *
   * State: one (Long, Long) pair per OBSERVED item pair —
   * O(|items|²) worst case, items being models/policies (the
   * preference layer's metadata-scale contract); watermark-free by
   * design (a win-loss ledger is corpus-lifetime, the
   * [[giniSimpsonStream]] note). The micro rate is recomputed per
   * snapshot in exact BigInt arithmetic — the identical half-away
   * rounding batch uses. Self-play and NULL items drop, matching the
   * batch cleaner.
   */
  /** Snapshot row of [[judgeConsistencyStream]]: the running per-judge
    * self-consistency record — identical surface to the batch
    * [[graft.operators.Preference.judgeConsistency]]. */
  final case class JudgeConsistencySnapshot(
      judge: String, n_pairs: Long, n_games: Long, n_pairs_repeated: Long,
      n_games_repeated: Long, n_flip_pairs: Long,
      consistency_micro: Option[Long])

  /**
   * Streaming maintenance of [[graft.operators.Preference
   * .judgeConsistency]]: as judge verdicts land, each judge's
   * per-unordered-pair (lo-wins, hi-wins) counters fold into state and
   * the emitted snapshot carries the EXACT per-judge record the batch
   * operator reports over everything ingested so far (spec-asserted) —
   * flip pairs and the repeated-pair majority share update live, so a
   * coin-flipping judge is caught while the eval run is still paying
   * for its verdicts.
   *
   * State: one (Long, Long) counter pair per (judge, observed pair) —
   * ≤ |items|² per judge, items being models/policies (the preference
   * layer's metadata-scale contract); watermark-free by design (a
   * consistency ledger is corpus-lifetime). Pair keys join the two item
   * names with the \\u0001 control char — item names must not contain it
   * (they are model/policy identifiers by contract). The micro share is
   * recomputed per snapshot in exact BigInt arithmetic — the identical
   * half-away rounding batch uses. Self-play and NULLs drop, matching
   * the batch cleaner.
   */
  def judgeConsistencyStream(compStream: DataFrame, judgeCol: String,
                             winnerCol: String, loserCol: String)
      : Dataset[JudgeConsistencySnapshot] = {
    val spark = compStream.sparkSession
    import spark.implicits._
    val rows = compStream
      .select(col(judgeCol).cast("string").as("j"),
        col(winnerCol).cast("string").as("w"),
        col(loserCol).cast("string").as("l"))
      .filter(col("j").isNotNull && col("w").isNotNull &&
        col("l").isNotNull && col("w") =!= col("l"))
      .select(col("j"),
        concat_ws("\u0001", least(col("w"), col("l")),
          greatest(col("w"), col("l"))).as("pair"),
        (col("w") < col("l")).as("win_is_lo"))
      .as[(String, String, Boolean)]
    rows.groupByKey(_._1)
      .mapGroupsWithState[Map[String, (Long, Long)],
        JudgeConsistencySnapshot](GroupStateTimeout.NoTimeout) {
        (judge: String, batch: Iterator[(String, String, Boolean)],
         state: GroupState[Map[String, (Long, Long)]]) =>
          var m = state.getOption.getOrElse(Map.empty[String, (Long, Long)])
          batch.foreach { case (_, pair, isLo) =>
            val (lo, hi) = m.getOrElse(pair, (0L, 0L))
            m = m.updated(pair, if (isLo) (lo + 1L, hi) else (lo, hi + 1L))
          }
          state.update(m)
          var (nPairs, nGames, nRep, gamesRep, flips, majSum) =
            (0L, 0L, 0L, 0L, 0L, 0L)
          m.valuesIterator.foreach { case (lo, hi) =>
            val n = lo + hi
            nPairs += 1L; nGames += n
            if (n >= 2L) {
              nRep += 1L; gamesRep += n; majSum += math.max(lo, hi)
            }
            if (lo > 0L && hi > 0L) flips += 1L
          }
          val micro =
            if (gamesRep > 0L)
              Some(((BigInt(majSum) * 2000000 + gamesRep) /
                (BigInt(gamesRep) * 2)).toLong)
            else None
          JudgeConsistencySnapshot(judge, nPairs, nGames, nRep, gamesRep,
            flips, micro)
      }
  }

  /** Snapshot row of [[lengthGapWinRateStream]]: the running per-gap-
    * bucket verbosity record — identical surface to the batch
    * [[graft.operators.Preference.lengthControlledWinRate]]. */
  final case class LenGapSnapshot(
      gap_bucket: Long, gap_lo: Long, gap_hi: Long, n_games: Long,
      n_longer_won: Long, n_shorter_won: Long, longer_win_micro: Long,
      wilson_lb_micro: Long, wilson_ub_micro: Long)

  /** Exact floor-sqrt on BigInt: Newton from a double seed, then the
    * two integer corrections — the driver-side sibling of the batch
    * isqrt Expression pattern (corrections make the seed's error
    * irrelevant, so the value is engine/seed-independent). */
  private def isqrtBig(x: BigInt): BigInt = {
    if (x <= 0) BigInt(0)
    else {
      var g = BigInt(math.max(1L, math.sqrt(x.toDouble).toLong))
      var next = (g + x / g) / 2
      while (next < g) { g = next; next = (g + x / g) / 2 }
      while (g * g > x) g -= 1
      while ((g + 1) * (g + 1) <= x) g += 1
      g
    }
  }

  /**
   * Streaming maintenance of [[graft.operators.Preference
   * .lengthControlledWinRate]]: as judged games land, each decided
   * game folds into its |length gap| bucket's (longer-won, shorter-won)
   * counters, and the emitted snapshot carries the EXACT per-bucket
   * record — counts, half-away micro win share, and the z = 2 Wilson
   * band via the exact integer sqrt — that the batch operator reports
   * over everything ingested so far (spec-asserted). The length-bias
   * audit updates live: bands rising above 50% as gaps grow is caught
   * while the judge is still being paid.
   *
   * State: one (Long, Long) counter pair per OCCUPIED gap bucket —
   * bounded by the length range over gapWidth (metadata-scale);
   * watermark-free by design (a bias ledger is corpus-lifetime).
   * Equal-length games drop, matching the batch operator.
   */
  def lengthGapWinRateStream(games: DataFrame, winnerLenCol: String,
                             loserLenCol: String,
                             gapWidth: Long): Dataset[LenGapSnapshot] = {
    require(gapWidth >= 1, s"gapWidth=$gapWidth must be >= 1")
    val spark = games.sparkSession
    import spark.implicits._
    val rows = games
      .select(col(winnerLenCol).cast("long").as("wl"),
        col(loserLenCol).cast("long").as("ll"))
      .filter(col("wl").isNotNull && col("ll").isNotNull &&
        col("wl") =!= col("ll"))
      .select(call_function("div",
          abs(col("wl") - col("ll")) - 1, lit(gapWidth)).as("gb"),
        (col("wl") > col("ll")).as("longer_won"))
      .as[(Long, Boolean)]
    rows.groupByKey(_._1)
      .mapGroupsWithState[(Long, Long), LenGapSnapshot](
        GroupStateTimeout.NoTimeout) {
        (gb: Long, batch: Iterator[(Long, Boolean)],
         state: GroupState[(Long, Long)]) =>
          var (w, s) = state.getOption.getOrElse((0L, 0L))
          batch.foreach { case (_, longerWon) =>
            if (longerWon) w += 1L else s += 1L
          }
          state.update((w, s))
          val n = w + s
          val x = BigInt(n) * (BigInt(w) * (n - w) + n)
          val sq = isqrtBig(x)
          val den = BigInt(n) * (n + 4)
          def ha(num: BigInt, d: BigInt): Long =
            ((num.abs * 2 + d) / (d * 2)).toLong * (if (num < 0) -1 else 1)
          LenGapSnapshot(gb, gb * gapWidth + 1, (gb + 1) * gapWidth,
            n, w, s,
            ha(BigInt(w) * 1000000, BigInt(n)),
            ha((BigInt(w + 2) * n - 2 * sq) * 1000000, den),
            ha((BigInt(w + 2) * n + 2 * sq) * 1000000, den))
      }
  }

  def winRateStream(compStream: DataFrame, winnerCol: String,
                    loserCol: String): Dataset[WinRateSnapshot] = {
    val spark = compStream.sparkSession
    import spark.implicits._
    val rows = compStream
      .select(col(winnerCol).cast("string").as("w"),
        col(loserCol).cast("string").as("l"))
      .filter(col("w").isNotNull && col("l").isNotNull &&
        col("w") =!= col("l"))
      .select(least(col("w"), col("l")).as("a"),
        greatest(col("w"), col("l")).as("b"),
        (col("w") < col("l")).as("win_is_a"))
      .as[(String, String, Boolean)]
    rows.groupByKey(t => (t._1, t._2))
      .mapGroupsWithState[(Long, Long), WinRateSnapshot](
        GroupStateTimeout.NoTimeout) {
        (pair: (String, String), batch: Iterator[(String, String, Boolean)],
         state: GroupState[(Long, Long)]) =>
          var (wa, wb) = state.getOption.getOrElse((0L, 0L))
          batch.foreach { case (_, _, isA) =>
            if (isA) wa += 1L else wb += 1L
          }
          state.update((wa, wb))
          val n = wa + wb
          val micro =
            ((BigInt(wa) * 2000000 + n) / (BigInt(n) * 2)).toLong
          WinRateSnapshot(pair._1, pair._2, wa, wb, n, micro)
      }
  }
}
