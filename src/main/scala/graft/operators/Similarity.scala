package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame}
import graft.functions.VectorFunctions

/**
 * Similarity search over an embedding column (`array<float>`).
 *
 * Two paths, per the standard ANN playbook:
 *  - `bruteForceTopK`: exact cosine against a literal query vector —
 *    a narrow map + `TakeOrderedAndProject` (per-partition top-k heap +
 *    driver merge, no global sort). The correctness baseline; linear scan,
 *    embarrassingly parallel, fine up to billions of rows when the query
 *    count is small.
 *  - `lshSignatures` / `annTopK`: random-hyperplane LSH — each vector maps
 *    to a compact bit signature; candidate generation is an equi-join on
 *    the signature, then exact cosine re-ranks candidates. Turns all-pairs
 *    O(n²) into hash-bucket joins; the scale path for vector-vs-corpus.
 *
 * Vector math runs through graft's native Catalyst expressions
 * (`cosine_sim`/`dot_product`, one codegen'd pass per pair) — the HOF
 * formulation (`cosineHof`) is kept as the reference implementation and
 * asserted bit-equal in VectorFunctionsSpec. Hyperplanes are md5-derived
 * ±1 coefficients computed ONCE on the driver and embedded as literal
 * arrays, so executors do zero hashing — portable (the DuckDB oracle
 * derives the same planes) and cheap.
 */
object Similarity {

  /** Σ x_i·y_i as a strict sequential double fold via the higher-order
    * functions — reference semantics for the native expression. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, x) => acc + x)

  def cosineHof(a: Column, b: Column): Column =
    dotHof(a, b) / (sqrt(dotHof(a, a)) * sqrt(dotHof(b, b)))

  def cosine(a: Column, b: Column): Column = VectorFunctions.cosineSim(a, b)

  /** L2 norm of a vector column (double). */
  def l2Norm(v: Column): Column = sqrt(dotHof(v, v))

  /** Adds `outCol` = the L2-normalized vector (components as double).
    * Normalizing once up front turns every downstream cosine into a plain
    * dot product — the standard preprocessing step for embedding indexes.
    * Zero vectors pass through unchanged (no NaN poisoning).
    *
    * The norm is materialized as a column BEFORE the per-component lambda:
    * lambda bodies get no common-subexpression elimination, so an inlined
    * norm would be re-summed per component — O(dims²) per row (the same
    * trap TextDedup.shingles documents). */
  def withL2Normalized(df: DataFrame, vecCol: String,
                       outCol: String = "unit_vec"): DataFrame = {
    val n = col("graft_l2norm")
    df.withColumn("graft_l2norm", l2Norm(col(vecCol)))
      .withColumn(outCol,
        when(n === 0.0, transform(col(vecCol), x => x.cast(DoubleType)))
          .otherwise(transform(col(vecCol), x => x.cast(DoubleType) / n)))
      .drop("graft_l2norm")
  }

  /**
   * Matryoshka truncation quality: per vector, the L2 norm and the cosine
   * between the full vector and its `dims`-prefix truncation — which
   * equals ‖x₁..d‖/‖x‖, so it needs no second vector materialized. This
   * is the signal that decides how far an MRL-style embedding
   * (Kusupati et al., "Matryoshka Representation Learning", NeurIPS'22)
   * can be cut for a cheaper ANN index before recall collapses. A narrow
   * codegen'd projection: no shuffle, the vector column is read once.
   */
  def matryoshkaStats(df: DataFrame, idCol: String, vecCol: String,
                      dims: Int): DataFrame = {
    val v = col(vecCol)
    df.select(col(idCol),
      size(v).as("dim"),
      round(l2Norm(v), 6).as("l2_norm"),
      round(when(l2Norm(v) === 0.0, lit(0.0))
        .otherwise(sqrt(dotHof(slice(v, 1, dims), slice(v, 1, dims)))
          / l2Norm(v)), 6).as(s"cos_trunc"))
  }

  /** Exact top-k most-similar vectors to a literal query vector.
    * `orderBy(desc).limit(k)` compiles to TakeOrderedAndProject. */
  def bruteForceTopK(embeddings: DataFrame, idCol: String, vecCol: String,
                     query: Seq[Double], k: Int): DataFrame = {
    val q = array(query.map(lit): _*)
    embeddings
      .select(col(idCol), cosine(col(vecCol), q).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /**
   * Hard-negative mining for contrastive training: for each anchor
   * vector, the k most-similar corpus vectors carrying a DIFFERENT
   * label — the "confusable but wrong" examples a contrastive or
   * reranker objective needs (random negatives are trivially easy;
   * same-label neighbors are positives, not negatives).
   *
   * Shape: the anchor set is bounded (an explicit predicate picks it) and
   * broadcast; the corpus is scanned ONCE for all anchors; similarity is
   * the codegen'd native `cosine_sim`; per-anchor top-k rides
   * [[LatestSnapshot.topK]]'s WindowGroupLimit (each map task keeps ≤ k
   * rows per anchor before the shuffle). Ranking uses the 6-dp-rounded
   * cosine so ordering is engine-portable at ties.
   */
  def hardNegatives(embeddings: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, anchorPred: Column, k: Int): DataFrame = {
    val anchors = embeddings.filter(anchorPred)
      .select(col(idCol).as("anchor_id"), col(vecCol).as("graft_qv"),
        col(labelCol).as("anchor_label"))
    val scored = embeddings
      .crossJoin(broadcast(anchors))
      .filter(col(labelCol) =!= col("anchor_label") &&
        col(idCol) =!= col("anchor_id"))
      .select(col("anchor_id"), col("anchor_label"),
        col(idCol).as("neg_id"), col(labelCol).as("neg_label"),
        round(cosine(col(vecCol), col("graft_qv")), 6).as("cosine"))
    LatestSnapshot.topK(scored, Seq("anchor_id"),
      col("cosine").desc, Seq(col("neg_id").asc), k)
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** ±1 hyperplane coefficients for plane p: parity of the first hex
    * nibble of md5("p_d") per dimension — seedless and engine-portable. */
  def hyperplane(p: Int, dims: Int): Seq[Double] =
    (0 until dims).map { d =>
      ((Integer.parseInt(md5Hex(s"${p}_$d").substring(0, 1), 16) % 2) * 2 - 1).toDouble
    }

  /**
   * Random-hyperplane LSH signature (`nPlanes`-bit long): bit p = 1 iff
   * vec · plane_p > 0. One narrow projection — each plane is a literal
   * coefficient array folded through the native dot_product, so the whole
   * signature is a single codegen'd expression with no shuffle, no explode,
   * and no per-row hashing.
   */
  def lshSignatures(embeddings: DataFrame, vecCol: String,
                    nPlanes: Int, dims: Int): DataFrame = {
    val sig = (0 until nPlanes).map { p =>
      val coefs = array(hyperplane(p, dims).map(lit): _*)
      when(VectorFunctions.dotProduct(col(vecCol), coefs) > 0, lit(1L << p))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    embeddings.withColumn("lsh_sig", sig)
  }

  /**
   * Embedding-cosine near-duplicate pairs: all (d1 < d2) pairs with
   * cosine ≥ threshold. Exact blocked self-join — one side broadcasts and
   * the codegen'd cosine filters pairs inside the join loop, so nothing
   * quadratic ever materializes. Exact all-pairs is the right tool up to
   * ~10⁵ vectors per block; beyond that, `cosineNearDupPairsBucketed`
   * (below) is the scale path (same contract as the text-side
   * MinHash→verify split).
   */
  def cosineNearDupPairs(embeddings: DataFrame, idCol: String, vecCol: String,
                         threshold: Double): DataFrame = {
    // r20 optimization, two independent fixes to the O(n²) loop:
    //  - PARALLELISM: the corpus parquet is a handful of input splits
    //    (locally: one), so the nested-loop stream side ran the whole
    //    quadratic loop on as many cores as there were files; AQE's
    //    byte-based coalescing cannot help (a few MB of vectors "fit" in
    //    one partition — the loop is compute-bound, not byte-bound). An
    //    explicit numPartitions pins the exchange against coalescing and
    //    scales with the cluster, not a local constant.
    //  - FLOPS: each pair paid cosine_sim's fused 3-accumulator pass
    //    (dot + both self-norms). The self-norms are per-VECTOR values:
    //    hoist them to the two inputs (same left-to-right Σx·x fold,
    //    |v1| = |v2| corpus-wide), so the inner loop is ONE dot product;
    //    dot/(√na·√nb) is the identical IEEE expression tree either way
    //    — the 6-dp surface is bit-unchanged (oracle hoists identically).
    val np = embeddings.sparkSession.sparkContext.defaultParallelism
    val a = embeddings.repartition(np, col(idCol))
      .select(col(idCol).as("d1"), col(vecCol).as("v1"),
        sqrt(VectorFunctions.dotProduct(col(vecCol), col(vecCol)))
          .as("graft_n1"))
    val b = embeddings.select(col(idCol).as("d2"), col(vecCol).as("v2"),
      sqrt(VectorFunctions.dotProduct(col(vecCol), col(vecCol)))
        .as("graft_n2"))
    a.join(broadcast(b), col("d1") < col("d2"))
      .withColumn("cosine",
        round(VectorFunctions.dotProduct(col("v1"), col("v2")) /
          (col("graft_n1") * col("graft_n2")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("d1"), col("d2"), col("cosine"))
  }

  /**
   * Multi-table signature rows for LSH candidate generation: one
   * (id, tbl, sig) row per hash table, where table t's `planesPerTable`-bit
   * signature uses hyperplanes [t·k, (t+1)·k). A single narrow projection +
   * explode — no shuffle; the vectors themselves stay behind (candidates
   * re-join them by id), so signature traffic is 3 small ints per row.
   */
  def lshSignaturesMulti(embeddings: DataFrame, idCol: String, vecCol: String,
                         nTables: Int, planesPerTable: Int,
                         dims: Int): DataFrame = {
    val tableSigs = (0 until nTables).map { t =>
      val bits = (0 until planesPerTable).map { b =>
        val coefs = array(hyperplane(t * planesPerTable + b, dims).map(lit): _*)
        when(VectorFunctions.dotProduct(col(vecCol), coefs) > 0,
          lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(t).as("tbl"), bits.as("sig"))
    }
    embeddings.select(col(idCol),
        explode(array(tableSigs: _*)).as("ts"))
      .select(col(idCol), col("ts.tbl").as("tbl"), col("ts.sig").as("sig"))
  }

  /**
   * LSH-bucketed near-duplicate pairs: the scale path promised by
   * `cosineNearDupPairs` — candidates are pairs colliding in ANY of
   * `nTables` hyperplane hash tables, then exact cosine verifies. Turns
   * the O(n²) all-pairs loop into signature equi-joins whose volume is the
   * bucket collision rate. Recall for a pair at cosine c: per plane the
   * split probability is arccos(c)/π, so per-table survival is
   * p^planesPerTable and overall recall 1 − (1 − p^k)^L — the standard
   * OR-of-tables trade (more tables → recall, more planes → precision).
   *
   * UNCAPPED: a bucket of size B still emits B² candidates — at corpus
   * scale use [[cosineNearDupPairsBucketedCapped]] (the production
   * default) unless lossless candidate recall against a fixed exact
   * baseline is the point. The gates that ride this uncapped path
   * (q58/q297/q298/q310/q336) opt out DELIBERATELY: each is the
   * bit-exact twin of an exact all-pairs baseline gate, and capping
   * would change which pairs the twin sees.
   */
  def cosineNearDupPairsBucketed(embeddings: DataFrame, idCol: String,
                                 vecCol: String, threshold: Double,
                                 nTables: Int = 4, planesPerTable: Int = 4,
                                 dims: Int = 64): DataFrame =
    verifyCandidatePairs(embeddings, idCol, vecCol, threshold,
      Buckets.selfPairs(lshSignaturesMulti(embeddings, idCol, vecCol,
        nTables, planesPerTable, dims), idCol, Buckets.VectorTables))

  /** The exact-cosine verify stage over a prepared DISTINCT (d1, d2)
    * candidate table: re-joins the vectors by id (narrow corpus
    * shuffles) so only collided pairs ever see a cosine evaluation —
    * shared by every bucketed candidate generator (plain, capped,
    * salt-split) so the verify plan is identical across them. */
  private def verifyCandidatePairs(embeddings: DataFrame, idCol: String,
                                   vecCol: String, threshold: Double,
                                   cand: DataFrame): DataFrame = {
    val a = embeddings.select(col(idCol).as("d1"), col(vecCol).as("v1"))
    val b = embeddings.select(col(idCol).as("d2"), col(vecCol).as("v2"))
    cand.join(a.hint("shuffle_hash"), "d1").join(b.hint("shuffle_hash"), "d2")
      .withColumn("cosine", round(cosine(col("v1"), col("v2")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("d1"), col("d2"), col("cosine"))
  }

  /** Occupied-bucket census for [[lshSignaturesMulti]]: one
    * (tbl, sig, bucket_size) row per occupied bucket — at most
    * nTables · 2^planesPerTable rows regardless of corpus size (ONE
    * map-side-combinable hash-agg over the signature rows), so the
    * census is always broadcastable and the capped path's bucket filter
    * never adds a corpus-scale shuffle. */
  def lshBucketSizes(embeddings: DataFrame, idCol: String, vecCol: String,
                     nTables: Int = 4, planesPerTable: Int = 4,
                     dims: Int = 64): DataFrame =
    // tbl widened to BIGINT: the census is a REPORTED surface and the
    // oracle's integer-division table index is 64-bit
    Buckets.census(lshSignaturesMulti(embeddings, idCol, vecCol, nTables,
        planesPerTable, dims).withColumn("tbl", col("tbl").cast(LongType)),
      Buckets.VectorTables)

  /** The EXPLICIT exclusion report for
    * [[cosineNearDupPairsBucketedCapped]]: every (tbl, sig) bucket the
    * cap drops, with its size — exclusions must be visible rows, never
    * silent (the q20 maxDf / q196 hot-gram-exclusion discipline). A
    * pair losing its only shared bucket here is a RECALL loss the
    * operator's caller audits with exactly this table. */
  def lshExcludedBuckets(embeddings: DataFrame, idCol: String,
                         vecCol: String, maxBucket: Long,
                         nTables: Int = 4, planesPerTable: Int = 4,
                         dims: Int = 64): DataFrame = {
    require(maxBucket >= 1, s"maxBucket=$maxBucket must be >= 1")
    lshBucketSizes(embeddings, idCol, vecCol, nTables, planesPerTable, dims)
      .filter(col("bucket_size") > maxBucket)
  }

  /**
   * [[cosineNearDupPairsBucketed]] with a hot-bucket cap — the r13
   * verdict's one remaining scale hazard closed: a (tbl, sig) bucket of
   * size B contributes B² candidate rows before the verify filter, and
   * a 100 TB web corpus has hot LSH buckets BY DEFINITION (exact/near
   * copies concentrate; the r13 weak-scaling bench measured ×7.16 at
   * 5× rows on the uncapped path). AQE skew-split can rebalance the
   * shuffle but cannot reduce the B² fan-out — only refusing the bucket
   * does. Buckets with more than `maxBucket` members are dropped from
   * candidate generation ENTIRELY and DETERMINISTICALLY (no sampling —
   * the same corpus always excludes the same buckets), the maxDf-cap
   * pattern of [[TextDedup.ngramJaccardPairs]] applied to signatures.
   *
   * Exclusions are never silent: [[lshExcludedBuckets]] (same
   * parameters) is the report — run it alongside and publish the count.
   * Recall: a pair sharing ONLY capped buckets is lost; pairs also
   * colliding in any uncapped table survive (the OR-of-tables union is
   * per-pair). An over-cap bucket at k planes is exactly the population
   * an index would split with more planes — cap + report + re-band is
   * the production loop.
   *
   * Scale shape: the census is ≤ nTables·2^planesPerTable rows
   * (broadcast); the only corpus-scale work is the signature projection
   * (narrow) and the capped self-join, whose per-bucket fan-out is now
   * ≤ maxBucket² by construction.
   */
  def cosineNearDupPairsBucketedCapped(embeddings: DataFrame, idCol: String,
                                       vecCol: String, threshold: Double,
                                       maxBucket: Long, nTables: Int = 4,
                                       planesPerTable: Int = 4,
                                       dims: Int = 64): DataFrame = {
    val kept = Buckets.dropCapped(lshSignaturesMulti(embeddings, idCol,
      vecCol, nTables, planesPerTable, dims), Buckets.VectorTables, maxBucket)
    verifyCandidatePairs(embeddings, idCol, vecCol, threshold,
      Buckets.selfPairs(kept, idCol, Buckets.VectorTables))
  }

  /**
   * The RECALL-PRESERVING hot-bucket path (the r13–r15 verdicts' top
   * open task): where [[cosineNearDupPairsBucketedCapped]] drops an
   * over-cap (tbl, sig) bucket whole — trading recall for the bound,
   * and on a real corpus hot buckets are precisely the most-duplicated
   * content a dedup exists to catch — this variant splits it into
   * m = ⌈B/maxBucket⌉ sub-buckets and joins ALL m² block cells: the
   * lossless split of [[Buckets]], so the verified pair set is
   * IDENTICAL to the uncapped [[cosineNearDupPairsBucketed]]'s (q350's
   * DuckDB oracle is DELIBERATELY the uncapped computation) with a hard
   * per-cell bound of maxBucket² rows. Only hot rows pay the
   * replication (each is emitted m times per side); under-cap buckets
   * ride the plain single-key path.
   *
   * Scale shape: census ≤ nTables·2^planesPerTable rows (broadcast);
   * the rank-of-id window partitions by (tbl, sig) over HOT-bucket rows
   * only — its per-partition sort is O(B log B), noise next to the B²/2
   * pair work the bucket then generates. When even the quadratic OUTPUT
   * of a pathological bucket is unaffordable, that is a policy decision,
   * not a partitioning one: use the capped variant (kept, with its
   * [[lshExcludedBuckets]] report) or dedup by cluster representative
   * instead of by pair.
   */
  def cosineNearDupPairsBucketedSaltSplit(embeddings: DataFrame,
                                          idCol: String, vecCol: String,
                                          threshold: Double, maxBucket: Long,
                                          nTables: Int = 4,
                                          planesPerTable: Int = 4,
                                          dims: Int = 64): DataFrame =
    verifyCandidatePairs(embeddings, idCol, vecCol, threshold,
      Buckets.selfPairs(lshSignaturesMulti(embeddings, idCol, vecCol,
          nTables, planesPerTable, dims), idCol, Buckets.VectorTables,
        split = Some(maxBucket)))

  // ── stored ANN signature index (incremental embedding dedup) ──────────

  /**
   * Persisted ANN signature index for incremental embedding dedup — the
   * embedding-side twin of [[graft.operators.TextDedup.lshIndex]] (the
   * q362 precedent): one (id, tbl, sig) row per (vector, hash table)
   * from [[lshSignaturesMulti]], written once when the corpus is
   * indexed. On a real deployment the table is stored bucketed on
   * (tbl, sig) so incremental batches shuffle only themselves, never
   * the indexed corpus; the corpus embedding table itself is the other
   * stored half (verification joins it by id).
   *
   * `maxBucket` pre-splits hot signature buckets AT BUILD TIME
   * ([[Buckets.splitIndex]]), so every (tbl, sig, graft_u) cell holds
   * ≤ cap index rows — the hot buckets of a 100 TB embedding index are
   * exactly its most-duplicated content, and splitting once at build
   * time bounds EVERY future batch's collision join.
   */
  def annIndex(corpus: DataFrame, idCol: String, vecCol: String,
               nTables: Int = 4, planesPerTable: Int = 4,
               dims: Int = 64,
               maxBucket: Option[Long] = None): DataFrame = {
    val sigs = lshSignaturesMulti(corpus, idCol, vecCol, nTables,
      planesPerTable, dims)
    maxBucket.fold(sigs)(Buckets.splitIndex(sigs, idCol, Buckets.VectorTables, _))
  }

  /**
   * Incremental embedding near-dup detection against a stored
   * [[annIndex]]: candidates are NEW-batch signature rows colliding
   * with INDEX rows (never index×index — the corpus was already deduped
   * when indexed), verified at exact cosine between the batch vector
   * and the indexed vector. The production serving shape: a 100 TB
   * corpus is indexed once and each arriving batch costs
   * O(|batch| + collisions), bit-identical to what a batch-global run
   * reports for the same (new, old) pairs.
   *
   * The collision join is [[Buckets.probeIndex]]: a cap-split index
   * (annIndex(maxBucket)) is probed with the block join, its census
   * (metadata: ≤ nTables · 2^planesPerTable buckets) broadcast, and the
   * candidate set is IDENTICAL to the uncapped join's — q375's oracle
   * is the UNCAPPED chain.
   */
  def dedupAgainstAnnIndex(batch: DataFrame, idCol: String, vecCol: String,
                           indexSigs: DataFrame, corpus: DataFrame,
                           threshold: Double,
                           nTables: Int = 4, planesPerTable: Int = 4,
                           dims: Int = 64): DataFrame = {
    val cand = Buckets.probeIndex(
        lshSignaturesMulti(batch, idCol, vecCol, nTables, planesPerTable,
          dims).select(col(idCol).as("d_new"), col("tbl"), col("sig")),
        indexSigs, Buckets.VectorTables, col(idCol).as("d_old"))
      .select("d_new", "d_old").distinct()
    val a = batch.select(col(idCol).as("d_new"), col(vecCol).as("graft_v1"))
    val b = corpus.select(col(idCol).as("d_old"), col(vecCol).as("graft_v2"))
    cand.join(a.hint("shuffle_hash"), "d_new")
      .join(b.hint("shuffle_hash"), "d_old")
      .withColumn("cosine",
        round(cosine(col("graft_v1"), col("graft_v2")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("d_new"), col("d_old"), col("cosine"))
  }

  /**
   * ANN quality evaluation: recall@k of [[annTopK]] against the exact
   * brute-force top-k, per query — the measurement that tunes nPlanes
   * (recall) against bucket size (cost) before an index ships. Returns
   * (q_id, n_exact, n_hits, recall).
   *
   * Scale shape: the query set is a bounded evaluation SAMPLE, broadcast
   * against one corpus scan for the exact side (per-query
   * WindowGroupLimit heaps — O(corpus·|queries|) flops, an eval-time
   * cost, not a production path); the ANN side is the operator under
   * test. The overlap join is per-(query, candidate) — k·|queries| rows.
   */
  def annRecallAtK(embeddings: DataFrame, idCol: String, vecCol: String,
                   queryPred: Column, k: Int, nPlanes: Int = 12,
                   dims: Int = 64): DataFrame = {
    val queries = embeddings.filter(queryPred)
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val scored = embeddings.select(col(idCol).as("c_id"), col(vecCol).as("c_vec"))
      .crossJoin(broadcast(queries))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cosine", round(cosine(col("q_vec"), col("c_vec")), 6))
    val exact = LatestSnapshot.topK(scored, Seq("q_id"),
        col("cosine").desc, Seq(col("c_id").asc), k)
      .select(col("q_id"), col("c_id"))
    val ann = annTopK(embeddings, idCol, vecCol, queryPred, k, nPlanes, dims)
      .select(col("q_id"), col("c_id"), lit(1L).as("graft_hit"))
    exact.join(ann, Seq("q_id", "c_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("graft_hit"), lit(0L))).as("n_hits"))
      .select(col("q_id"), col("n_exact"), col("n_hits"),
        round(col("n_hits").cast(DoubleType) / col("n_exact"), 6)
          .as("recall"))
  }

  /**
   * ANN top-k: for each query vector (a subset of the corpus given by
   * `queryPred`), candidates = corpus vectors sharing the LSH signature
   * bucket, re-ranked by exact cosine. Bucket join scales as the collision
   * rate; recall is tunable via nPlanes (fewer planes → bigger buckets).
   */
  def annTopK(embeddings: DataFrame, idCol: String, vecCol: String,
              queryPred: Column, k: Int, nPlanes: Int = 12,
              dims: Int = 64): DataFrame = {
    val withSig = lshSignatures(embeddings, vecCol, nPlanes, dims)
    val queries = withSig.filter(queryPred)
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"), col("lsh_sig"))
    val cands = queries.join(
        withSig.select(col(idCol).as("c_id"), col(vecCol).as("c_vec"), col("lsh_sig")),
        "lsh_sig")
      .filter(col("q_id") =!= col("c_id"))
      // rank on the 6-dp-rounded score (with id tiebreak): makes the top-k
      // cut reproducible across engines/partitionings at last-ulp noise
      .withColumn("cosine", round(cosine(col("q_vec"), col("c_vec")), 6))
    // top-k per query: rank-limit window → WindowGroupLimit at scale
    LatestSnapshot.topK(cands, Seq("q_id"),
        col("cosine").desc, Seq(col("c_id").asc), k)
      .select(col("q_id"), col("c_id"), col("cosine"))
  }

  /**
   * Multi-probe LSH top-k (Lv et al., VLDB 2007): instead of buying
   * recall with MORE hash tables (each one a full copy of the
   * signature index), probe MORE buckets of the SAME table — the
   * buckets most likely to hold near misses, i.e. those reached by
   * flipping the signature bits whose hyperplane margin |q·plane| is
   * smallest (the planes the query sits closest to, where a true
   * neighbor most plausibly landed on the other side). This implements
   * the standard 1-step perturbation set: the base bucket plus
   * `nProbes` single-bit flips in ascending-margin order (Lv §4.2's
   * multi-step sequences extend the same machinery).
   *
   * Candidates are a SUPERSET of the single-probe bucket's, so recall
   * at equal index size can only improve (spec-asserted, and the
   * top-k-membership argument makes per-query exact-hit counts
   * monotone). The index side is untouched — one signature per vector,
   * the whole point vs. adding tables.
   *
   * Scale shape: margins and probe signatures are one codegen'd
   * projection over the QUERY side only (array_sort over nPlanes
   * structs — constant size); the corpus side still stores/shuffles
   * one long per vector; candidate volume is (1 + nProbes) bucket
   * joins' worth, tunable. Determinism: margins round to 6 dp with
   * plane-index tiebreaks; final ranking is the annTopK contract.
   */
  def multiProbeTopK(embeddings: DataFrame, idCol: String, vecCol: String,
                     queryPred: Column, k: Int, nPlanes: Int = 12,
                     dims: Int = 64, nProbes: Int = 3): DataFrame = {
    require(nProbes >= 1 && nProbes <= nPlanes,
      s"nProbes=$nProbes must be in [1, nPlanes=$nPlanes]")
    val withSig = lshSignatures(embeddings, vecCol, nPlanes, dims)
    val margins = array((0 until nPlanes).map { p =>
      val coefs = array(hyperplane(p, dims).map(lit): _*)
      struct(
        round(abs(VectorFunctions.dotProduct(col(vecCol), coefs)), 6)
          .as("m"),
        lit(p).as("p"))
    }: _*)
    val probes = withSig.filter(queryPred)
      .withColumn("graft_flips", slice(array_sort(margins), 1, nProbes))
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
        explode(concat(array(col("lsh_sig")),
          transform(col("graft_flips"), s =>
            col("lsh_sig").bitwiseXOR(
              call_function("shiftleft", lit(1L), s("p"))))))
          .as("probe_sig"))
    val cands = probes.join(
        withSig.select(col(idCol).as("c_id"), col(vecCol).as("c_vec"),
          col("lsh_sig").as("probe_sig")),
        "probe_sig")
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cosine", round(cosine(col("q_vec"), col("c_vec")), 6))
    LatestSnapshot.topK(cands, Seq("q_id"),
        col("cosine").desc, Seq(col("c_id").asc), k)
      .select(col("q_id"), col("c_id"), col("cosine"))
  }

  /**
   * Farthest-point traversal (Gonzalez 1985): greedy k-center seeding —
   * start from the minimum-id point, then repeatedly take the point
   * farthest from everything selected so far. The classic 2-approximate
   * k-center coreset: the diversity-maximizing sample that coverage-
   * oriented curation wants where random sampling oversamples dense
   * modes, and the standard seeding for the q61 k-means path.
   *
   * Each of the k−1 rounds is ONE narrow scan: the running min-distance
   * column folds in the newest center via `least` (the l2_sq codegen
   * kernel against a literal vector — no joins, no shuffle), and the
   * argmax is a 1-row TakeOrderedAndProject. Driver state is k vectors
   * — the same k-round driver-loop contract as k-means (q61), with the
   * input localCheckpoint'd once so round i doesn't replay rounds < i.
   *
   * Determinism: distances round to 6 dp (both engines agree bitwise on
   * the raw doubles — same fold order — and the round makes the argmax
   * ORDER BY portable); ties break on vec id.
   */
  def farthestPoints(df: DataFrame, idCol: String, vecCol: String,
                     k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol).cast(LongType).as("graft_id"),
      col(vecCol).as("graft_v")).localCheckpoint()
    def litVec(v: Seq[Float]): Column = array(v.map(lit(_)): _*)
    def distTo(v: Seq[Float]): Column =
      round(VectorFunctions.l2Sq(col("graft_v"), litVec(v)), 6)
    val first = base.orderBy(col("graft_id")).limit(1).head()
    var centerVec = first.getSeq[Float](1)
    val picked = scala.collection.mutable.ArrayBuffer(
      (0L, first.getLong(0), Option.empty[Double]))
    var cur = base.withColumn("graft_dm", distTo(centerVec))
    var exhausted = false
    for (i <- 1 until k if !exhausted) {
      val row = cur.orderBy(col("graft_dm").desc, col("graft_id"))
        .limit(1).head()
      // max remaining distance 0 ⇒ every unpicked point duplicates a
      // selected one; stop rather than re-select an existing id (the
      // oracle's `WHERE dm > 0` stage goes empty at the same moment)
      if (row.getDouble(2) == 0.0) exhausted = true
      else {
        picked += ((i.toLong, row.getLong(0), Some(row.getDouble(2))))
        if (i < k - 1) {
          centerVec = row.getSeq[Float](1)
          cur = cur.withColumn("graft_dm",
            least(col("graft_dm"), distTo(centerVec)))
        }
      }
    }
    picked.toSeq.toDF("sel_idx", "vec_id", "dmin")
  }

  /**
   * Maximal-marginal-relevance re-ranking (Carbonell & Goldstein,
   * SIGIR 1998): per query, greedily select k results balancing
   * relevance against redundancy — step i picks the candidate
   * maximizing λ·rel(q, d) − (1−λ)·max_{s∈selected} sim(d, s). The
   * standard diversification pass over a retriever's top-N — a plain
   * cosine top-k returns near-duplicates of one passage; MMR spends
   * the k slots on distinct content.
   *
   * Determinism: λ = lambdaNum/lambdaDen is never divided — the argmax
   * is taken over the SCALED score lambdaNum·rel − (lambdaDen−
   * lambdaNum)·maxSim (same ordering), a product of exact ints with
   * 6-dp-rounded cosines, bit-identical across engines; ties break on
   * the candidate id.
   *
   * Scale shape: the candidate pool is the retriever's per-query top-N
   * (`candN`, a WindowGroupLimit cut of ONE corpus pass with the
   * queries broadcast — vectors shuffle once, into the |Q|·candN
   * pool), localCheckpointed once; the k greedy rounds then run on
   * pool rows only — each round one per-query top-1 cut plus one
   * |Q|-row broadcast join to fold the new pick into the running
   * maxSim column. The corpus is never touched again; all queries
   * advance in parallel.
   *
   * Returns (qidCol, sel_idx, idCol, rel, max_sim_prev) — max_sim_prev
   * is the pick's similarity ceiling against the PRIOR selection (NULL
   * for the first pick).
   */
  def mmrRerank(queries: DataFrame, qidCol: String, corpus: DataFrame,
                idCol: String, vecCol: String, k: Int, candN: Int,
                lambdaNum: Int, lambdaDen: Int): DataFrame = {
    require(k >= 1 && candN >= k, s"need 1 <= k <= candN, got k=$k candN=$candN")
    require(lambdaDen >= 1 && lambdaNum >= 0 && lambdaNum <= lambdaDen,
      s"lambda $lambdaNum/$lambdaDen outside [0, 1]")
    val q = queries.select(col(qidCol), col(vecCol).as("graft_qv"))
    val pool0 = LatestSnapshot.topK(
      corpus.select(col(idCol), col(vecCol).as("graft_v"))
        .crossJoin(broadcast(q))
        .select(col(qidCol), col(idCol), col("graft_v"),
          round(cosine(col("graft_v"), col("graft_qv")), 6).as("rel")),
      Seq(qidCol), col("rel").desc, Seq(col(idCol).asc), candN)
    var pool = pool0
      .withColumn("graft_ms", lit(null).cast("double")).localCheckpoint()
    val negW = lambdaDen - lambdaNum
    var picked = LatestSnapshot.topK(pool, Seq(qidCol),
        col("rel").desc, Seq(col(idCol).asc), 1)
      .withColumn("sel_idx", lit(0L)).localCheckpoint()
    for (i <- 1 until k) {
      val last = picked.filter(col("sel_idx") === (i - 1))
        .select(col(qidCol), col(idCol).as("graft_pid"),
          col("graft_v").as("graft_pv"))
      pool = pool
        .join(broadcast(last), qidCol)
        .filter(col(idCol) =!= col("graft_pid"))
        .select(col(qidCol), col(idCol), col("graft_v"), col("rel"),
          greatest(coalesce(col("graft_ms"), lit(-2.0)),
            round(cosine(col("graft_v"), col("graft_pv")), 6))
            .as("graft_ms"))
        .localCheckpoint()
      val next = LatestSnapshot.topK(pool, Seq(qidCol),
          (col("rel") * lambdaNum - col("graft_ms") * negW).desc,
          Seq(col(idCol).asc), 1)
        .withColumn("sel_idx", lit(i.toLong))
      picked = picked.unionByName(next).localCheckpoint()
    }
    picked.select(col(qidCol), col("sel_idx"), col(idCol), col("rel"),
      when(col("sel_idx") > 0, col("graft_ms")).as("max_sim_prev"))
  }

  /**
   * Margin-based candidate-pair mining (Artetxe & Schwenk 2019 — the
   * CCMatrix/LASER bitext-mining criterion): for every source vector x,
   * score each target candidate y by the RATIO margin
   * `m(x,y) = cos(x,y) / ((avgₖ cos(x→T) + avgₖ cos(y→S)) / 2)` and keep
   * x's best-margin target when it clears `tau`. Normalizing by BOTH
   * sides' k-NN neighborhood means cancels hubness: a target that is
   * everyone's neighbor carries a large denominator and stops winning on
   * raw cosine — the failure mode of absolute-threshold mining.
   *
   * Determinism: pair cosines are 6-dp DECIMAL (the q201-proven portable
   * surface); k-NN membership breaks cosine ties on id; neighborhood
   * sums are DECIMAL (order-independent); the margin is ONE fixed-shape
   * double expression over those decimals (IEEE divide/add are exactly
   * rounded — no libm), re-rounded to 6 dp, and the final argmax breaks
   * margin ties on target id.
   *
   * Scale shape: the pair source is a PARAMETER ([[marginMiningFrom]]):
   * this entry point feeds it the exact |S|·|T| crossJoin (the oracle
   * baseline — right for bounded eval sets); at corpus scale call
   * [[marginMiningFrom]] with LSH candidate pairs
   * ([[crossCorpusCandidates]] / [[annTopK]] / [[multiProbeTopK]]
   * generate them) — only the pair source shrinks, the margin math is
   * unchanged. Either way: three key shuffles of the pair table
   * (src-side rank+sum windows share one Exchange, tgt-side likewise,
   * argmax rides WindowGroupLimit).
   */
  def marginMining(src: DataFrame, tgt: DataFrame, idCol: String,
                   vecCol: String, k: Int, tau: Double): DataFrame = {
    // r20: same two all-pairs fixes as [[cosineNearDupPairs]] — spread
    // the |S|·|T| loop's stream side over the cluster (the scan is
    // input-split-bound otherwise) and hoist the per-vector self-norms
    // so each pair pays one dot product; dot/(√na·√nb) is bit-identical
    // to the fused cosine_sim at corpus-constant dims.
    val np = src.sparkSession.sparkContext.defaultParallelism
    marginMiningFrom(src.repartition(np, col(idCol))
      .select(col(idCol).as("src_id"), col(vecCol).as("graft_sv"),
        sqrt(VectorFunctions.dotProduct(col(vecCol), col(vecCol)))
          .as("graft_sn"))
      .crossJoin(broadcast(tgt.select(col(idCol).as("tgt_id"),
        col(vecCol).as("graft_tv"),
        sqrt(VectorFunctions.dotProduct(col(vecCol), col(vecCol)))
          .as("graft_tn"))))
      .select(col("src_id"), col("tgt_id"),
        round(VectorFunctions.dotProduct(col("graft_sv"), col("graft_tv")) /
          (col("graft_sn") * col("graft_tn")), 6)
          .cast(DecimalType(18, 6)).as("graft_c")), k, tau)
  }

  /**
   * [[marginMining]] over a caller-supplied candidate-pair frame:
   * `pairs` holds (src_id, tgt_id, graft_c) with the 6-dp DECIMAL
   * cosine, one row per scored candidate. The k-NN neighborhood means
   * normalize over the CANDIDATE set (the standard mining practice:
   * with an ANN candidate pool the neighborhood statistics come from
   * the pool, which contains each vector's near neighbors — exactly the
   * vectors that dominate the true k-NN mean).
   */
  def marginMiningFrom(pairs: DataFrame, k: Int, tau: Double): DataFrame = {
    require(k >= 1, s"k=$k out of range")
    import org.apache.spark.sql.expressions.Window
    val bySrc = Window.partitionBy(col("src_id"))
    val byTgt = Window.partitionBy(col("tgt_id"))
    val inA = row_number().over(
      bySrc.orderBy(col("graft_c").desc, col("tgt_id").asc)) <= k
    val scoredA = pairs
      .withColumn("graft_ina", inA)
      .withColumn("graft_sa",
        sum(when(col("graft_ina"), col("graft_c"))).over(bySrc))
      .withColumn("graft_ka",
        sum(when(col("graft_ina"), 1L)).over(bySrc))
    val inB = row_number().over(
      byTgt.orderBy(col("graft_c").desc, col("src_id").asc)) <= k
    val scoredB = scoredA
      .withColumn("graft_inb", inB)
      .withColumn("graft_sb",
        sum(when(col("graft_inb"), col("graft_c"))).over(byTgt))
      .withColumn("graft_kb",
        sum(when(col("graft_inb"), 1L)).over(byTgt))
    val margin = round(col("graft_c").cast(DoubleType) /
      ((col("graft_sa").cast(DoubleType) / col("graft_ka").cast(DoubleType) +
        col("graft_sb").cast(DoubleType) / col("graft_kb").cast(DoubleType))
        / lit(2.0)), 6)
    val best = LatestSnapshot.topK(
      scoredB.withColumn("margin", margin), Seq("src_id"),
      col("margin").desc, Seq(col("tgt_id").asc), 1)
    best.filter(col("margin") >= tau)
      .select(col("src_id"), col("tgt_id"),
        col("graft_c").cast(DoubleType).as("cosine"), col("margin"))
  }

  /**
   * LSH-bucketed cross-corpus candidate pairs — the scale-path pair
   * source for [[marginMiningFrom]]: src×tgt pairs colliding in ANY of
   * `nTables` hyperplane hash tables (the cross-corpus sibling of
   * [[cosineNearDupPairsBucketed]]; both corpora hash with the SAME
   * seedless hyperplanes, so collision means angular proximity), scored
   * with the exact 6-dp DECIMAL cosine. Replaces the |S|·|T| crossJoin
   * with signature equi-joins whose volume is the collision rate; the
   * plan contains no cartesian/broadcast-nested-loop join
   * (plan-asserted in PlanShapeSpec).
   */
  def crossCorpusCandidates(src: DataFrame, tgt: DataFrame, idCol: String,
                            vecCol: String, nTables: Int = 4,
                            planesPerTable: Int = 4,
                            dims: Int = 64): DataFrame = {
    val ss = lshSignaturesMulti(src, idCol, vecCol, nTables,
      planesPerTable, dims).select(col(idCol).as("src_id"), col("tbl"),
      col("sig"))
    val ts = lshSignaturesMulti(tgt, idCol, vecCol, nTables,
      planesPerTable, dims).select(col(idCol).as("tgt_id"), col("tbl"),
      col("sig"))
    val cand = ss.join(ts.hint("shuffle_hash"), Seq("tbl", "sig"))
      .select("src_id", "tgt_id").distinct()
    cand
      .join(src.select(col(idCol).as("src_id"), col(vecCol).as("graft_sv"))
        .hint("shuffle_hash"), "src_id")
      .join(tgt.select(col(idCol).as("tgt_id"), col(vecCol).as("graft_tv"))
        .hint("shuffle_hash"), "tgt_id")
      .select(col("src_id"), col("tgt_id"),
        round(cosine(col("graft_sv"), col("graft_tv")), 6)
          .cast(DecimalType(18, 6)).as("graft_c"))
  }

  /**
   * Hubness audit (Radovanović et al., JMLR 2010): the k-occurrence
   * N_k(x) — how many OTHER vectors count x among their k nearest
   * neighbors. High-dimensional spaces concentrate: a few "hub" points
   * appear in everyone's neighbor lists (N_k ≫ k) while "anti-hubs"
   * appear in none, silently corrupting kNN labels, ANN recall
   * measurements, and dedup thresholds. This is the measurement behind
   * [[marginMining]]'s normalization — run it BEFORE trusting any
   * kNN-derived signal on a new embedding space.
   *
   * Flags: `is_hub` at the standard N_k ≥ 2k cut, `is_antihub` at
   * N_k = 0. Cosines are the 6-dp DECIMAL portable surface; kNN
   * membership breaks ties on id.
   *
   * Scale shape: the candidate-pair source is a PARAMETER
   * ([[hubnessAuditFrom]], the [[dbscanClustersFrom]] contract): this
   * entry point feeds it the exact all-pairs baseline (the q41/q247
   * oracle contract); at corpus scale call [[hubnessAuditFrom]] with
   * [[cosineNearDupPairsBucketed]]'s LSH-collided candidates (gated as
   * q310, plan-asserted cartesian-free). Either way the per-source
   * k-cut rides WindowGroupLimit and the in-degree is ONE
   * map-side-combinable count keyed by target id.
   */
  def hubnessAudit(df: DataFrame, idCol: String, vecCol: String,
                   k: Int): DataFrame =
    // threshold −2 keeps every pair: the audit wants the full kNN
    // graph, not a near-dup cut
    hubnessAuditFrom(
      cosineNearDupPairs(df, idCol, vecCol, threshold = -2.0),
      df.select(col(idCol)), idCol, k)

  /**
   * [[hubnessAudit]] over a caller-supplied candidate-pair frame:
   * `candPairs` must hold one (d1, d2, cosine) row per unordered
   * candidate pair (d1 < d2, each pair once, 6-dp-rounded cosine) —
   * any generator with that contract plugs in (exact all-pairs,
   * [[cosineNearDupPairsBucketed]], a pre-built ANN index dump).
   * `points` is the full id universe, so vectors with NO candidate
   * edges still report n_k = 0 (they are precisely the anti-hubs the
   * audit exists to find). N_k is computed within the candidate graph —
   * the standard practice when the kNN lists themselves come from an
   * index rather than brute force.
   *
   * Scale shape: one symmetrization union (no vector payloads — only
   * (id, id, cosine) rows), a per-source WindowGroupLimit k-cut, ONE
   * map-side-combinable in-degree count, one id-keyed left join. No
   * cartesian anywhere; volume is the candidate collision rate.
   */
  /** Symmetrized k-NN EDGES from a candidate-pair table (`d1`, `d2`,
    * `cosine` — [[cosineNearDupPairsBucketed]]'s shape): per source, the
    * top-k candidates by (6-dp cosine desc, id asc) as directed (a, b)
    * rows — the graph-construction half of [[hubnessAuditFrom]] exposed
    * for graph consumers ([[graft.operators.Graph.kCorePeel]] et al.).
    * The all-pairs crossJoin kNN (q265's baseline) is quadratic BY
    * DESIGN; this is its 100 TB path: candidates come from the LSH
    * bucket join, the per-source cut rides WindowGroupLimit. A point
    * with no candidate simply emits no edge (its k-NN is undefined
    * under the index — callers decide the isolated-node semantics). */
  def knnEdgesFrom(candPairs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k=$k out of range")
    val p = candPairs.select(col("d1"), col("d2"),
      col("cosine").cast(DecimalType(18, 6)).as("graft_c"))
    val sym = p.select(col("d1").as("src_id"), col("d2").as("tgt_id"),
        col("graft_c"))
      .union(p.select(col("d2").as("src_id"), col("d1").as("tgt_id"),
        col("graft_c")))
    LatestSnapshot.topK(sym, Seq("src_id"),
        col("graft_c").desc, Seq(col("tgt_id").asc), k)
      .select(col("src_id").as("a"), col("tgt_id").as("b"))
  }

  def hubnessAuditFrom(candPairs: DataFrame, points: DataFrame,
                       idCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k=$k out of range")
    val p = candPairs.select(col("d1"), col("d2"),
      col("cosine").cast(DecimalType(18, 6)).as("graft_c"))
    val sym = p.select(col("d1").as("src_id"), col("d2").as("tgt_id"),
        col("graft_c"))
      .union(p.select(col("d2").as("src_id"), col("d1").as("tgt_id"),
        col("graft_c")))
    val knn = LatestSnapshot.topK(sym, Seq("src_id"),
      col("graft_c").desc, Seq(col("tgt_id").asc), k)
    val indeg = knn.groupBy(col("tgt_id")).agg(count(lit(1)).as("n_k"))
    points.select(col(idCol).as("tgt_id"))
      .join(indeg, Seq("tgt_id"), "left")
      .na.fill(0L, Seq("n_k"))
      .select(col("tgt_id").as(idCol), col("n_k"),
        (col("n_k") >= 2L * k).as("is_hub"),
        (col("n_k") === 0L).as("is_antihub"))
  }

  /**
   * Late-interaction MaxSim retrieval (Khattab & Zaharia, ColBERT,
   * SIGIR'20): score(q, d) = Σᵢ maxⱼ cos(qᵢ, dⱼ) over the two sides'
   * sub-vector sets — every query part finds its best-matching document
   * part, so partial matches score where single-vector cosine averages
   * them away. Here the `m` sub-vectors are contiguous `dims/m` slices
   * of the stored embedding (the PQ subspace convention, [[VectorAggs
   * .pqEncode]]), making the operator a drop-in re-ranker over the same
   * column the ANN index serves.
   *
   * Determinism: each of the m² slice cosines is the 6-dp DECIMAL
   * q201-proven surface; max and Σ are exact on decimals; top-k breaks
   * score ties on doc id.
   *
   * Scale shape: the bounded query set broadcasts (the q92/q116 eval
   * shape); the corpus is scanned ONCE with a constant m² fan-out of
   * codegen'd cosines per (query, doc) — no explode, no shuffle of
   * vectors; the k-cut is per-query grouped top-k (WindowGroupLimit).
   */
  def maxSimTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                 vecCol: String, dims: Int, m: Int, k: Int): DataFrame = {
    require(m >= 1 && dims % m == 0, s"m=$m must divide dims=$dims")
    require(k >= 1, s"k=$k out of range")
    val sub = dims / m
    def slices(c: Column): Seq[Column] =
      (0 until m).map(i => slice(c, i * sub + 1, sub))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("graft_qv"))
    val d = corpus.select(col(idCol).as("d_id"), col(vecCol).as("graft_dv"))
    val qs = slices(col("graft_qv"))
    val ds = slices(col("graft_dv"))
    val score = qs.map { qi =>
      val best = ds.map(dj =>
        round(cosine(qi, dj), 6).cast(DecimalType(18, 6)))
      if (best.size == 1) best.head else greatest(best: _*)
    }.reduce(_ + _)
    val scored = d.crossJoin(broadcast(q))
      .select(col("q_id"), col("d_id"), score.as("maxsim"))
    LatestSnapshot.topK(scored, Seq("q_id"), col("maxsim").desc,
        Seq(col("d_id").asc), k)
      .select(col("q_id"), col("d_id"),
        col("maxsim").cast(DoubleType).as("maxsim"))
  }

  /**
   * Johnson–Lindenstrauss distance-distortion audit under a Rademacher
   * (±1) random projection (Achlioptas 2003's database-friendly JL
   * matrix — the same md5-derived sign rows as [[hyperplane]], reused
   * as projection rows instead of LSH thresholds): for each disjoint
   * probe pair (even id, id+1), the squared L2 distance before and
   * after projecting `dims` → `dOut`, and the preservation ratio
   * `ratio_ppm = ⌊10⁶ · ‖Ry‖² / (dOut · ‖y‖²)⌋` whose concentration
   * around 10⁶ is the JL guarantee — the go/no-go check before swapping
   * full embeddings for cheap projections in dedup/ANN prefilters.
   *
   * Determinism: projections and distances are strict sequential double
   * folds ([[dotHof]], the q23-proven oracle-matched shape); the ratio
   * is one fixed-shape double expression (multiply/divide only — no
   * libm) floored to an exact BIGINT. Identical vectors report NULL
   * ratio rather than dividing by zero.
   *
   * Scale shape: the projection is a narrow per-row codegen'd
   * expression (dOut literal-coefficient folds — no shuffle, no
   * explode); pairing is ONE id-keyed self-join. The probe-pair audit
   * shuffles only (id, 2·dOut doubles), never the raw vectors twice.
   */
  def jlDistortionPairs(df: DataFrame, idCol: String, vecCol: String,
                        dims: Int, dOut: Int): DataFrame = {
    require(dOut >= 1 && dims >= 1, s"dims=$dims dOut=$dOut out of range")
    val proj = df.select(col(idCol),
      col(vecCol).cast("array<double>").as("graft_x"))
      .withColumn("graft_y", array((0 until dOut).map { p =>
        dotHof(col("graft_x"), array(hyperplane(p, dims).map(lit): _*))
      }: _*))
    val a = proj.select(col(idCol).as("a_id"), col("graft_x").as("graft_xa"),
      col("graft_y").as("graft_ya"))
    val b = proj.select(col(idCol).as("b_id"), col("graft_x").as("graft_xb"),
      col("graft_y").as("graft_yb"))
    val dx = zip_with(col("graft_xa"), col("graft_xb"), (u, v) => u - v)
    val dy = zip_with(col("graft_ya"), col("graft_yb"), (u, v) => u - v)
    a.filter(col("a_id") % 2 === 0)
      .join(b, col("b_id") === col("a_id") + 1)
      .withColumn("graft_od2", dotHof(dx, dx))
      .withColumn("graft_pd2", dotHof(dy, dy))
      .select(col("a_id"), col("b_id"),
        round(col("graft_od2"), 6).as("orig_d2"),
        round(col("graft_pd2"), 6).as("proj_d2"),
        when(col("graft_od2") > 0.0,
          floor((lit(1000000.0) * col("graft_pd2")) /
            (lit(dOut.toDouble) * col("graft_od2"))).cast(LongType))
          .as("ratio_ppm"))
  }

  /**
   * DBSCAN density clustering (Ester, Kriegel, Sander & Xu, KDD 1996)
   * over the embedding corpus with a cosine ε-neighborhood: a point is
   * CORE iff it has ≥ `minPts` neighbors at cosine ≥ `tau` (self
   * excluded), clusters are the connected components of the core–core
   * ε-graph, BORDER points attach to the smallest cluster id among
   * their core neighbors (deterministic where the classic algorithm is
   * order-dependent), and everything else is NOISE. Unlike k-means-
   * style partitions (PQ codebooks, [[VectorAggs.prototypePrune]]'s
   * centroids), DBSCAN needs no k, finds arbitrary-shape clusters, and
   * leaves outliers OUT — which is exactly the semantics near-dup
   * analysis wants: dense semantic families + untouched singletons.
   *
   * Output: (id, role ∈ core|border|noise, cluster) — cluster is the
   * component's min member id, NULL for noise. Deterministic end to
   * end; cosines are the 6-dp-rounded portable values of
   * [[cosineNearDupPairs]].
   *
   * Scale shape: the ε-graph source is a PARAMETER
   * ([[dbscanClustersFrom]]): this entry point feeds it the exact
   * blocked self-join (the oracle baseline, O(n²) compute — right up to
   * ~10⁵ vectors); at corpus scale call [[dbscanClustersFrom]] with
   * [[cosineNearDupPairsBucketed]]'s output (LSH equi-join candidates,
   * no cartesian anywhere — plan-asserted in PlanShapeSpec) — the
   * roles/CC/border machinery is identical either way. Degrees/core
   * flags are one keyed agg; CC is the diameter-safe iteration; border
   * attach is one join of the sym edge list against the |core|-row
   * cluster map. No driver state.
   */
  def dbscanClusters(embeddings: DataFrame, idCol: String, vecCol: String,
                     tau: Double, minPts: Int): DataFrame =
    dbscanClustersFrom(
      cosineNearDupPairs(embeddings, idCol, vecCol, tau)
        .select(col("d1"), col("d2")),
      embeddings.select(col(idCol)), idCol, minPts)

  /**
   * [[dbscanClusters]] over a caller-supplied ε-graph: `epsPairs` must
   * hold one (d1, d2) row per unordered neighbor pair (d1 < d2, each
   * pair once) — any generator with the ε-neighborhood contract plugs
   * in (exact all-pairs, [[cosineNearDupPairsBucketed]], a pre-built
   * index). `points` is the full id universe (noise rows must emit).
   * The pair frame is lineage-cut once (lazy localCheckpoint), because
   * the clustering consumes it from four branches — without the cut an
   * expensive generator would re-run per branch.
   */
  def dbscanClustersFrom(epsPairs: DataFrame, points: DataFrame,
                         idCol: String, minPts: Int): DataFrame = {
    require(minPts >= 1, s"minPts=$minPts out of range")
    // r21: EAGER — `pairs` is scanned by sym (twice via the union),
    // coreEdges and borderAssign, several of them sibling stages of the
    // same job; a lazy cut's first job raced them into recomputing the
    // ε-graph chain (the most expensive subtree here) once per scan.
    val pairs = epsPairs.localCheckpoint()
    val sym = pairs.union(pairs.select(col("d2").as("d1"), col("d1").as("d2")))
    val degrees = sym.groupBy(col("d1")).agg(count(lit(1)).as("graft_deg"))
    val core = degrees.filter(col("graft_deg") >= minPts)
      .select(col("d1").as("graft_node"))
    val coreEdges = pairs
      .join(core.select(col("graft_node").as("d1")), "d1")
      .join(core.select(col("graft_node").as("d2")), "d2")
    // isolated cores (no core neighbor) miss from CC → own-id cluster
    val comp = Graph.connectedComponents(coreEdges, "d1", "d2")
    val coreClusters = core.join(
        comp.select(col("node").as("graft_node"), col("component")),
        Seq("graft_node"), "left")
      .select(col("graft_node"),
        coalesce(col("component"), col("graft_node")).as("cluster"))
    val borderAssign = sym
      .join(coreClusters.select(col("graft_node").as("d2"),
        col("cluster")), "d2")
      .join(core.select(col("graft_node").as("d1")), Seq("d1"), "left_anti")
      .groupBy(col("d1"))
      .agg(min(col("cluster")).as("cluster"))
    val ids = points.select(col(idCol))
    ids
      .join(coreClusters.select(col("graft_node").as(idCol),
        col("cluster").as("graft_cc")), Seq(idCol), "left")
      .join(borderAssign.select(col("d1").as(idCol),
        col("cluster").as("graft_bc")), Seq(idCol), "left")
      .select(col(idCol),
        when(col("graft_cc").isNotNull, lit("core"))
          .when(col("graft_bc").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("graft_cc"), col("graft_bc")).as("cluster"))
  }
}
