package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame}
import graft.functions.StringFunctions.{minHashBands, shingleSet}

/**
 * Deduplication operators for large-scale text corpora: exact, MinHash+LSH,
 * SimHash, and n-gram Jaccard. These extend the reference's capability
 * surface (its only dedup is the latest-snapshot window, SURVEY §2.4) with
 * the operations an LLM training-data pipeline needs.
 *
 * Design for 100 TB:
 *  - Every stage is a narrow map or a key-partitioned aggregation/join —
 *    no driver-side state, no collect, no cross join.
 *  - MinHash banding is per document: one compiled kernel call
 *    (`minhash_bands`, [[graft.functions.MinHashBands]]) turns a text into
 *    its band hashes inside whole-stage codegen, with no shingle rows and
 *    no signature shuffle ([[bandsPerRow]]). The wide `min` aggregation
 *    ([[minHashSignaturesWide]]) stays only for callers that need the
 *    `sig_*` columns or hash weighted bags.
 *  - LSH banding turns the all-pairs problem into an equi-join on
 *    (band, bandHash) — candidate volume is driven by collision rate, not
 *    corpus size². Skewed buckets (boilerplate docs) are handled by AQE
 *    skew-join splitting (enabled in GraftSession).
 *  - All hashing is md5-based and engine-portable: a DuckDB oracle computes
 *    bit-identical signatures, so even the probabilistic pipeline is
 *    hash-verifiable end to end.
 */
object TextDedup {

  /** Distinct w-word shingles per document: (docId, shingle) rows, one
    * compiled [[graft.functions.ShingleSet]] call per document exploded.
    * Docs shorter than w words produce no rows. */
  def shingles(docs: DataFrame, idCol: String, textCol: String,
               w: Int = 3): DataFrame =
    // Spread documents across the cluster BEFORE the explode: a corpus read
    // from few input splits would otherwise run the whole shingle
    // pipeline on as many cores as there are files. The 1-row-in → many-out
    // Generate makes this cheap shuffle pay for itself immediately.
    docs.repartition(col(idCol))
      .select(col(idCol), explode(shingleSet(col(textCol), w)).as("s"))

  /** First 8 hex chars of md5(salt ‖ input) as a 32-bit value in a long. */
  private def md5Word32(salt: String, input: Column): Column =
    conv(substring(md5(concat(lit(salt), input)), 1, 8), 16, 10).cast(LongType)

  /** Candidate pairs (d1 < d2) sharing at least one LSH band: the
    * [[Buckets.selfPairs]] self-join on (band, bh).
    *
    * `maxBucket` is the HOT-BUCKET policy: on a real corpus the hot band
    * buckets are precisely the most-duplicated content a dedup exists to
    * catch, so DROPPING them (the df-cap trade) is the wrong default
    * here. With `maxBucket = Some(cap)`, over-cap buckets are split into
    * ⌈B/cap⌉ sub-buckets and every block cell is joined — the candidate
    * set is IDENTICAL to the uncapped path's (the lossless split, see
    * [[Buckets]]; q358's oracle is the uncapped q19 computation), with a
    * hard bound of cap² rows per join cell. `None` (the default) is the
    * plain single-key join. The text census is corpus-scale, so bucket
    * sizes come from a window over (band, bh), never a broadcast. */
  def lshCandidates(bands: DataFrame, idCol: String,
                    maxBucket: Option[Long] = None): DataFrame =
    Buckets.selfPairs(bands, idCol, Buckets.TextBands, split = maxBucket)

  /** |A∩B| for candidate (d1, d2) pairs: one pass over the shingle
    * inverted index, restricted to candidates BEFORE the count aggregation
    * (that restriction is what makes LSH pay off — only candidate pair-rows
    * flow into the shuffle). */
  private def candidateIntersections(sh: DataFrame, idCol: String,
                                     pairs: DataFrame): DataFrame =
    pairs
      .join(sh.select(col(idCol).as("d1"), col("s")).hint("shuffle_hash"), "d1")
      .join(sh.select(col(idCol).as("d2"), col("s")).hint("shuffle_hash"),
        Seq("d2", "s"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))

  /** |A∩B| for EVERY pair sharing ≥1 shingle: a single inverted-index
    * self-join + count — pair-rows = Σ_s c_s² over shingle frequencies,
    * never re-expanded against full shingle sets. Heavy-frequency shingles
    * (boilerplate) are the skew risk: cap or drop ultra-common shingles
    * upstream when Σ c_s² explodes. */
  def pairIntersections(sh: DataFrame, idCol: String): DataFrame =
    sh.select(col(idCol).as("d1"), col("s"))
      // the exploded shingle table must never be broadcast (it's the big
      // side post-Generate; Spark's pre-explode size estimate says tiny)
      .join(sh.select(col(idCol).as("d2"), col("s")).hint("shuffle_hash"), "s")
      .filter(col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))

  /** Jaccard from intersection counts + per-doc set sizes. */
  private def jaccardFromInter(inter: DataFrame, sh: DataFrame,
                               idCol: String): DataFrame = {
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    inter
      .join(sizes.select(col(idCol).as("d1"), col("n").as("n1")), "d1")
      .join(sizes.select(col(idCol).as("d2"), col("n").as("n2")), "d2")
      .select(col("d1"), col("d2"),
        (col("inter") / (col("n1") + col("n2") - col("inter")))
          .as("jaccard"))
  }

  /** Exact Jaccard over shingle sets for given (d1, d2) candidate pairs. */
  def jaccard(sh: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    jaccardFromInter(candidateIntersections(sh, idCol, pairs), sh, idCol)

  /** Wide MinHash signatures: one row per doc with sig_0..sig_{k-1} —
    * k `min` aggregates in a SINGLE groupBy (one shuffle of |shingle|
    * rows, no ×k explode). The k permutations are derived from TWO md5
    * words per shingle via the Kirsch–Mitzenmacher construction
    * g_i = (h1 + i·h2) mod 2³² — one md5 costs ~50× an integer
    * multiply-add, so hashing drops from k to 2 digests per shingle with
    * the same (pairwise-independent) LSH guarantees. Both h-words and the
    * mod arithmetic are engine-portable: the DuckDB oracle reproduces
    * every signature exactly. */
  def minHashSignaturesWide(sh: DataFrame, idCol: String, k: Int): DataFrame = {
    val withH = sh.select(col(idCol),
      md5Word32("a_", col("s")).as("h1"), md5Word32("b_", col("s")).as("h2"))
    val mins = (0 until k).map(i =>
      min((col("h1") + lit(i) * col("h2")) % 4294967296L).as(s"sig_$i"))
    withH.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
  }

  /** LSH band rows from wide signatures: a pure projection (band hashes
    * are concat+md5 of the band's sig columns) exploded to (doc, band,
    * bh) — no aggregation, no extra shuffle. */
  def lshBandsFromWide(sigs: DataFrame, idCol: String, k: Int,
                       r: Int): DataFrame = {
    val bandStructs = (0 until k / r).map { b =>
      val cols = (b * r until (b + 1) * r)
        .map(i => col(s"sig_$i").cast(StringType))
      struct(lit(b).as("band"), md5(concat_ws(",", cols: _*)).as("bh"))
    }
    sigs.select(col(idCol), explode(array(bandStructs: _*)).as("bs"))
      .select(col(idCol), col("bs.band").as("band"), col("bs.bh").as("bh"))
  }

  /**
   * Per-ROW LSH band rows (id, band, bh): identical values to
   * `lshBandsFromWide(minHashSignaturesWide(shingles(...)))`, computed by
   * one compiled [[graft.functions.MinHashBands]] call per document and a
   * `posexplode` — a narrow map: no shingle rows, no signature groupBy, no
   * shuffle. Every text LSH band path (batch pairs, stored index, streams)
   * bands through here; a stream is banded per row with no stateful
   * aggregation (`Streaming.nearDupCandidates`). Docs with no shingles
   * (< w words, null text) emit no bands.
   */
  def bandsPerRow(docs: DataFrame, idCol: String, textCol: String,
                  k: Int = 16, r: Int = 4, w: Int = 3): DataFrame =
    docs.select(col(idCol),
      posexplode(minHashBands(col(textCol), k, r, w)).as(Seq("band", "bh")))

  /** MinHash+LSH near-duplicate pairs verified with exact Jaccard ≥
    * threshold. k hashes, bands of r rows → LSH threshold ≈ (1/b)^(1/r).
    * Plan shape: per-row bands straight off the scan ([[bandsPerRow]]) →
    * band self-join → candidate distinct → verification against the
    * id-partitioned shingle rows. */
  /* The shingle table feeds both sides of the verification join and the
   * set sizes; they share its one id exchange. Persisting it was measured
   * NEUTRAL-TO-NEGATIVE at sf0.1 once shingle generation became
   * sub-second: the columnar cache build costs more than the recompute it
   * saves, and a cached relation blocks AQE's stage-level re-planning
   * above it. At larger scale, callers that want
   * reuse should checkpoint/persist the INPUT corpus slice instead. */
  def minHashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      k: Int = 16, r: Int = 2, w: Int = 3,
                      threshold: Double = 0.5,
                      maxBucket: Option[Long] = None): DataFrame = {
    val sh = shingles(docs, idCol, textCol, w)
    val cand = lshCandidates(bandsPerRow(docs, idCol, textCol, k, r, w),
      idCol, maxBucket)
    jaccard(sh, idCol, cand).filter(col("jaccard") >= threshold)
  }

  /** Exact n-gram Jaccard near-dup pairs via inverted-index join (no LSH):
    * only pairs sharing ≥1 shingle are scored. The ground-truth against
    * which the LSH recall is judged.
    *
    * `maxDf` (off by default) is the boilerplate escape hatch for huge
    * corpora: shingles whose document frequency exceeds the cap are dropped
    * from CANDIDATE GENERATION only — pair-rows fall from Σ df² to the
    * capped sum, and surviving candidates are still scored with the full
    * exact intersection over ALL their shingles. The only semantic change:
    * a pair is missed iff every shingle it shares is ultra-common — at a
    * 0.5 threshold that means near-dups made purely of boilerplate, which
    * is precisely the content a curation pipeline wants df-capped anyway. */
  /** (d1 < d2, inter) for every pair sharing ≥1 shingle, with the
    * optional `maxDf` cap applied to CANDIDATE GENERATION only (surviving
    * pairs are still scored on ALL their shingles) — the shared engine of
    * [[ngramJaccardPairs]] and [[ngramContainmentPairs]]. */
  private def cappedIntersections(sh: DataFrame, idCol: String,
                                  maxDf: Option[Long]): DataFrame =
    maxDf match {
      case None => pairIntersections(sh, idCol)
      case Some(cap) =>
        val rare = sh.join(
          sh.groupBy(col("s")).agg(count(lit(1)).as("graft_df"))
            .filter(col("graft_df") <= cap).select(col("s")), "s")
        val cand = rare.select(col(idCol).as("d1"), col("s"))
          .join(rare.select(col(idCol).as("d2"), col("s"))
            .hint("shuffle_hash"), "s")
          .filter(col("d1") < col("d2"))
          .select("d1", "d2").distinct()
        candidateIntersections(sh, idCol, cand)
    }

  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        w: Int = 3, threshold: Double = 0.5,
                        maxDf: Option[Long] = None): DataFrame = {
    val sh = shingles(docs, idCol, textCol, w)
    jaccardFromInter(cappedIntersections(sh, idCol, maxDf), sh, idCol)
      .filter(col("jaccard") >= threshold)
  }

  /**
   * Asymmetric n-gram CONTAINMENT near-dup pairs: containment =
   * |A∩B| / min(|A|, |B|) — the subsumption detector symmetric Jaccard
   * misses. A short document quoted whole inside a long one scores
   * Jaccard ≈ |A|/|B| (tiny) but containment 1.0; curation pipelines cut
   * on containment to catch quote-inclusion, boilerplate wrappers, and
   * truncated re-crawls. Same inverted-index candidate generation and
   * `maxDf` boilerplate cap as [[ngramJaccardPairs]]; emits (d1 < d2,
   * inter, n1, n2, containment).
   */
  def ngramContainmentPairs(docs: DataFrame, idCol: String, textCol: String,
                            w: Int = 3, threshold: Double = 0.8,
                            maxDf: Option[Long] = None): DataFrame = {
    val sh = shingles(docs, idCol, textCol, w)
    val inter = cappedIntersections(sh, idCol, maxDf)
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    inter
      .join(sizes.select(col(idCol).as("d1"), col("n").as("n1")), "d1")
      .join(sizes.select(col(idCol).as("d2"), col("n").as("n2")), "d2")
      .select(col("d1"), col("d2"), col("inter"), col("n1"), col("n2"),
        (col("inter") / least(col("n1"), col("n2"))).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** (id, shingle, tf): shingle BAG with multiplicities — the weighted
    * sibling of [[shingles]] (which dedups). Same bound-array trick; the
    * extra groupBy collapses the per-doc repeats so downstream joins see
    * one row per (doc, shingle type). */
  def shingleBags(docs: DataFrame, idCol: String, textCol: String,
                  w: Int = 3): DataFrame = {
    val ws = col("graft_ws")
    docs.repartition(col(idCol))
      .select(col(idCol), split(col(textCol), " ").as("graft_ws"))
      .select(col(idCol),
        explode(when(size(ws) >= w,
          transform(sequence(lit(0), size(ws) - w),
            i => concat_ws(" ", (0 until w).map(o => element_at(ws, i + o + 1)): _*)))
          .otherwise(array().cast(ArrayType(StringType)))).as("s"))
      .groupBy(col(idCol), col("s")).agg(count(lit(1)).as("tf"))
  }

  /**
   * TF-weighted (multiset) Jaccard near-dup pairs:
   * J_w = Σ_s min(tf_A, tf_B) / Σ_s max(tf_A, tf_B) — the bag-semantics
   * resemblance (Ioffe, ICDM'10 motivates the weighted measure; here the
   * weights are integer term frequencies, so the EXACT value is
   * computable and no consistent-sampling sketch is needed). Set Jaccard
   * saturates when two templated documents share the same shingle TYPES
   * but repeat them differently (spam mills, log dumps); the weighted
   * form keeps separating them. Σmax = Σtf_A + Σtf_B − Σmin, so one
   * min-sum join over the candidate pairs suffices.
   *
   * Candidates come from the SAME distinct-shingle MinHash-LSH banding as
   * [[minHashLshPairs]] (banding on types is the standard prefilter —
   * weighted resemblance ≤ set resemblance never holds in general, but
   * high-J_w pairs share types overwhelmingly). Scored pairs are the
   * banded candidates that share ≥ 1 shingle TYPE (the scoring join is
   * an inner join on shared shingles, so a banded hash-collision pair
   * with zero common types is dropped rather than emitted with
   * w_inter = 0 — such a pair has J_w = 0 and is never a dedup
   * decision; the oracle mirrors the same inner join). Exact
   * integer surface: (w_inter, w_union, wj_ppm = ⌊10⁶·J_w⌋) — engine-
   * portable by construction, no doubles hashed.
   *
   * Scale shape: banding bounds candidates exactly as q19; the scoring
   * join flows only candidate-pair shingle rows (restricted BEFORE the
   * agg), keyed on (d2, s); sizes attach from a |docs|-row agg.
   */
  def weightedJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                           k: Int = 16, r: Int = 4, w: Int = 3,
                           minPpm: Long = 0L,
                           maxBucket: Option[Long] = None): DataFrame = {
    val bags = shingleBags(docs, idCol, textCol, w)
    val bands = lshBandsFromWide(
      minHashSignaturesWide(bags.select(col(idCol), col("s")), idCol, k),
      idCol, k, r)
    val cand = lshCandidates(bands, idCol, maxBucket)
    val minSums = cand
      .join(bags.select(col(idCol).as("d1"), col("s"), col("tf").as("tf1"))
        .hint("shuffle_hash"), "d1")
      .join(bags.select(col(idCol).as("d2"), col("s"), col("tf").as("tf2"))
        .hint("shuffle_hash"), Seq("d2", "s"))
      .groupBy("d1", "d2")
      .agg(sum(least(col("tf1"), col("tf2"))).as("w_inter"))
    val sizes = bags.groupBy(col(idCol)).agg(sum(col("tf")).as("graft_sz"))
    minSums
      .join(sizes.select(col(idCol).as("d1"), col("graft_sz").as("graft_s1")), "d1")
      .join(sizes.select(col(idCol).as("d2"), col("graft_sz").as("graft_s2")), "d2")
      .select(col("d1"), col("d2"), col("w_inter"),
        (col("graft_s1") + col("graft_s2") - col("w_inter")).as("w_union"))
      .withColumn("wj_ppm",
        expr("cast(w_inter * 1000000 as decimal(38,0)) div " +
          "cast(w_union as decimal(38,0))").cast(LongType))
      .filter(col("wj_ppm") >= minPpm)
  }

  /**
   * Prefix-filtered candidate pairs — the LOSSLESS candidate generator of
   * the set-similarity-join family (SSJoin, Chaudhuri et al. ICDE'06;
   * All-Pairs, Bayardo et al. WWW'07; PPJoin): order each document's
   * shingles by ascending global document frequency (rarest first, ties
   * by shingle text) and index only the first n − ⌈t·n⌉ + 1 of them.
   * Any pair with Jaccard ≥ t = tNum/tDen MUST share its first-in-order
   * common shingle inside BOTH prefixes (if it didn't, every common
   * shingle would sit in a suffix of ⌈t·n⌉ − 1 slots — too few to reach
   * the ⌈t·n⌉ overlap that J ≥ t forces), so joining prefix×prefix loses
   * nothing. Unlike the `maxDf` cap this PRUNES boilerplate join rows
   * with a guarantee: ultra-common shingles land at the end of the df
   * order and never enter anyone's prefix, so Σdf² collapses without any
   * recall caveat. ⌈t·n⌉ is computed integer-exactly from the rational
   * threshold ((n·tNum + tDen − 1) div tDen) — no float boundary to
   * diverge on.
   *
   * Scale shape: one df agg + one shingle-keyed join to attach dfs, one
   * doc-keyed window for (position, size), then the prefix×prefix
   * equi-join — every stage keyed, no all-pairs, no driver state.
   *
   * On top of the prefix filter sits PPJoin's POSITIONAL filter (Xiao et
   * al., "Efficient Similarity Joins for Near Duplicate Detection",
   * WWW'08): each surviving pair's first-in-global-order common prefix
   * shingle bounds the achievable overlap by 1 + min(n1−pos1, n2−pos2),
   * and pairs whose bound cannot reach ⌈t·(n1+n2)/(1+t)⌉ are dropped at
   * candidate-generation time — before the (much heavier) full
   * intersection join. Still lossless (see the inline proof); what it
   * buys is pruning the long tail of pairs that share exactly one rare
   * shingle late in both prefixes, which dominate candidate volume on
   * low-overlap corpora.
   *
   * Skew in the df-attach join: a boilerplate shingle in 30% of the
   * corpus concentrates one shuffle partition of the probe side.
   * MEASURED (PlanShapeSpec hot-shingle fixture): Spark's AQE skew-split
   * CANNOT rescue this join — `OptimizeSkewedJoin` only matches a join
   * whose children are both bare shuffle stages, and here the build side
   * is the df AGGREGATE evaluated in-stage above its exchange
   * (`Join(stage, HashAgg(stage))`), so no split fires at any threshold
   * (verified against a control join of the matching bare shape, where
   * the same confs do produce `ShuffledHashJoin(skew=true)`). The fix is
   * deterministic instead: df values for HEAVY keys (df ≥ docs/64)
   * broadcast — there can only be Σdf/cutoff ≈ 64·avg-shingles-per-doc
   * such keys regardless of corpus size, so the broadcast is bounded by
   * construction — and the residual shuffle join carries only keys with
   * df < docs/64, which caps any partition's hot-key mass and removes
   * the skew WITHOUT relying on runtime re-planning. Costs one extra
   * countDistinct pass over `sh`; callers that loop should pass a
   * persisted slice (prefixJaccardPairs does).
   */
  def prefixCandidates(sh: DataFrame, idCol: String,
                       tNum: Int, tDen: Int,
                       nDocs: Option[Long] = None): DataFrame = {
    // r21: EAGER lineage cut — `prefix` feeds BOTH sides of the
    // prefix×prefix join below, and the per-side renames defeat
    // ReusedExchange, so the whole df-attach + double-window chain
    // executed TWICE (q142's before-plan: the subtree of nodes 11..33
    // duplicated verbatim at 44..66, two Window pairs, two df joins).
    // Eager (not lazy): the two join sides' exchanges are submitted
    // concurrently, and a lazy checkpoint's first action races — both
    // sides would recompute the chain, buying nothing. The materialized
    // slice is (id, shingle, pos, n) prefix rows — a bounded subset of
    // the already-persisted shingle table.
    val prefix = prefixRows(sh, idCol, tNum, tDen, nDocs).localCheckpoint()
    val matches = prefix
      .select(col(idCol).as("d1"), col("s"),
        col("graft_pos").as("graft_p1"), col("graft_n").as("graft_n1"))
      .join(prefix
        .select(col(idCol).as("d2"), col("s"),
          col("graft_pos").as("graft_p2"), col("graft_n").as("graft_n2"))
        .hint("shuffle_hash"), "s")
      .filter(col("d1") < col("d2"))
    // POSITIONAL filter (PPJoin, Xiao et al. WWW'08): for a pair, look at
    // its globally-FIRST common prefix shingle s* — within each doc the
    // position order IS the global (df, s) order restricted to that doc,
    // so s* is exactly the match with minimal graft_p1 (equivalently
    // minimal graft_p2; min over the (p1, p2) struct picks it; p1 values
    // are distinct per pair so the min is unique). Every common shingle
    // of the pair sits at position ≥ p1(s*) in d1 and ≥ p2(s*) in d2,
    // hence |A∩B| ≤ 1 + min(n1 − p1, n2 − p2). J ≥ t forces
    // |A∩B| ≥ ⌈t·(n1+n2)/(1+t)⌉ (= ⌈tNum·(n1+n2)/(tNum+tDen)⌉, computed
    // integer-exactly), so any pair whose bound can't reach that overlap
    // is discarded BEFORE the full intersection join. Lossless: for a
    // true pair s* lies inside BOTH prefixes (the prefix-filter theorem
    // applied to the ⌈t·n⌉-overlap it must have), so the bound we test is
    // the valid one — pairs pruned here can only be sub-threshold. The
    // gate keeps proving this end-to-end: q142's oracle is the
    // unfiltered all-pairs ground truth.
    val minOverlap = call_function("div",
      (col("graft_m.graft_n1") + col("graft_m.graft_n2")) * tNum +
        (tNum + tDen - 1),
      lit((tNum + tDen).toLong))
    matches
      .groupBy(col("d1"), col("d2"))
      .agg(min(struct(col("graft_p1"), col("graft_p2"),
        col("graft_n1"), col("graft_n2"))).as("graft_m"))
      .filter(lit(1) +
        least(col("graft_m.graft_n1") - col("graft_m.graft_p1"),
          col("graft_m.graft_n2") - col("graft_m.graft_p2")) >= minOverlap)
      .select("d1", "d2")
  }

  /** The pre-checkpoint prefix slice of [[prefixCandidates]]: df-attach
    * (hot-df broadcast + cold-df shuffle join, see the skew note above)
    * and the per-doc (position, size) double window, WITHOUT the eager
    * lineage cut. `private[graft]` so PlanShapeSpec can assert the
    * attach's join shapes, which the checkpoint hides from the
    * downstream executed plan. */
  private[graft] def prefixRows(sh: DataFrame, idCol: String,
                                tNum: Int, tDen: Int,
                                nDocs: Option[Long] = None): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen,
      s"threshold $tNum/$tDen outside (0, 1]")
    val dfs = sh.groupBy(col("s")).agg(count(lit(1)).as("graft_df"))
    // `nDocs` drives only the hot/cold broadcast cutoff; callers that
    // already know the doc count pass it so plan CONSTRUCTION stays free
    // of Spark actions (otherwise this countDistinct is an eager job over
    // the sh lineage — fine when sh is checkpointed, double work when not)
    val nd = nDocs.getOrElse(sh.agg(countDistinct(col(idCol))).head.getLong(0))
    val hotCutoff = math.max(2L, nd / 64L + 1L)
    val hotDfs = dfs.filter(col("graft_df") >= hotCutoff)
    val coldDfs = dfs.filter(col("graft_df") < hotCutoff)
    val attached = sh.join(broadcast(hotDfs), "s")
      .unionByName(sh.join(coldDfs.hint("shuffle_hash"), "s"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("graft_df"), col("s"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
    val ceilTn = call_function("div",
      col("graft_n") * tNum + (tDen - 1), lit(tDen.toLong))
    attached
      .withColumn("graft_pos", row_number().over(w))
      .withColumn("graft_n", count(lit(1)).over(wAll))
      .filter(col("graft_pos") <= col("graft_n") - ceilTn + 1)
      .select(col(idCol), col("s"), col("graft_pos"), col("graft_n"))
  }

  /** Exact Jaccard ≥ tNum/tDen via [[prefixCandidates]] — identical
    * output to un-capped [[ngramJaccardPairs]] at the same threshold
    * (the prefix filter is lossless), with candidate volume driven by
    * RARE-shingle collisions only.
    *
    * `persistShingles` localCheckpoints the shingle slice once instead of
    * recomputing it for each of its consumers (df agg, prefix window,
    * intersection attach, two size aggs). MEASURED A/B (q142 params,
    * alternating reps, local[32]): sf0.01 recompute 1.85/1.98/1.80s vs
    * persisted 1.99/1.43/1.54s — a wash inside noise; sf0.1 recompute
    * 7.78/12.52/7.46s vs persisted 6.38/5.99/5.43s — persist wins ~25-50%
    * and its times are visibly steadier. Default ON accordingly; turn off
    * only when executor storage memory is the scarcer resource (the
    * materialized slice is |docs|·(n−w+1) shingle rows). */
  def prefixJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                         w: Int = 3, tNum: Int = 1, tDen: Int = 2,
                         persistShingles: Boolean = true): DataFrame = {
    val sh0 = shingles(docs, idCol, textCol, w)
    val sh = if (persistShingles) sh0.localCheckpoint() else sh0
    val cand = prefixCandidates(sh, idCol, tNum, tDen)
    jaccardFromInter(candidateIntersections(sh, idCol, cand), sh, idCol)
      .filter(col("jaccard") >= lit(tNum.toDouble / tDen))
  }

  /**
   * Sorted-neighborhood near-dup pairs (Hernández & Stolfo 1995): sort
   * the corpus by a cheap blocking key — here the first `keyLen` chars
   * of the lowercased, alphanumeric-only text — and compare each record
   * only with its `window − 1` successors in that order, verifying
   * candidates with full-text Levenshtein ≤ `maxDist`. The classic
   * entity-resolution alternative to LSH blocking: O(n·window)
   * comparisons, catches near-dups whose edits cluster AFTER the key
   * prefix (and misses those that edit the prefix — that asymmetry is
   * the documented trade; run both and union for recall).
   *
   * Scale shape: the global sort order comes from
   * [[GlobalRank.globalRowNumber]] (range exchange + broadcast offsets,
   * no single-partition window); the "next w−1 neighbors" inequality is
   * expressed as a w−1-way equi-join fan-out (rank + δ for δ in
   * 1..w−1), never a rank-range theta-join. The O(|a|·|b|) DP runs only
   * on the n·(w−1) neighbor pairs.
   */
  def sortedNeighborhoodPairs(docs: DataFrame, idCol: String,
                              textCol: String, window: Int, maxDist: Int,
                              keyLen: Int = 24): DataFrame = {
    require(window >= 2, s"window must be >= 2: $window")
    val key = substring(
      regexp_replace(lower(col(textCol)), "[^a-z0-9]", ""), 1, keyLen)
    val ranked = GlobalRank.globalRowNumber(
      docs.select(col(idCol), col(textCol), key.as("graft_key")),
      Seq(col("graft_key"), col(idCol)), "graft_rn")
    val left = ranked
      .withColumn("graft_delta",
        explode(sequence(lit(1), lit(window - 1))))
      .select(col(idCol).as("graft_i1"), col(textCol).as("graft_t1"),
        (col("graft_rn") + col("graft_delta")).as("graft_rn"))
    left.join(ranked.select(col(idCol).as("graft_i2"),
        col(textCol).as("graft_t2"), col("graft_rn")), "graft_rn")
      // |len(a) − len(b)| lower-bounds the edit distance, so the length
      // guard drops no qualifying pair — but it spares the DP on the
      // bulk of neighbor pairs; the thresholded levenshtein banded DP
      // (O(n·maxDist), −1 past the budget) handles the rest
      .filter(abs(length(col("graft_t1")) - length(col("graft_t2")))
        <= maxDist)
      .select(least(col("graft_i1"), col("graft_i2")).as("d1"),
        greatest(col("graft_i1"), col("graft_i2")).as("d2"),
        levenshtein(col("graft_t1"), col("graft_t2"), maxDist)
          .as("edit_dist"))
      .filter(col("edit_dist").between(0, maxDist))
  }

  /**
   * Jaro–Winkler-verified near-dup pairs over sorted-neighborhood
   * candidates: the [[sortedNeighborhoodPairs]] O(n·w) candidate chain,
   * re-scored with the native [[graft.functions.JaroWinklerSim]]
   * codegen kernel on a bounded `prefixLen`-char slice — the
   * record-linkage scorer that rewards shared prefixes where
   * Levenshtein charges every transposition. Pairs at or above
   * `minSim` (6-dp-rounded, so the threshold compare is
   * engine-portable) survive.
   *
   * Same scale story as the Levenshtein variant: candidates are the
   * n·(w−1) rank-adjacent pairs from one range-partitioned global
   * ranking — never all-pairs — and the O(prefixLen·window) kernel runs
   * only on them, inside whole-stage codegen.
   */
  def jaroWinklerPairs(docs: DataFrame, idCol: String, textCol: String,
                       window: Int, minSim: Double, prefixLen: Int = 64,
                       keyLen: Int = 24): DataFrame = {
    require(window >= 2, s"window must be >= 2: $window")
    require(minSim > 0 && minSim <= 1, s"minSim must be in (0,1]: $minSim")
    require(prefixLen >= 1, s"prefixLen must be >= 1: $prefixLen")
    val key = substring(
      regexp_replace(lower(col(textCol)), "[^a-z0-9]", ""), 1, keyLen)
    val ranked = GlobalRank.globalRowNumber(
      docs.select(col(idCol),
        substring(col(textCol), 1, prefixLen).as("graft_t"),
        key.as("graft_key")),
      Seq(col("graft_key"), col(idCol)), "graft_rn")
    val left = ranked
      .withColumn("graft_delta",
        explode(sequence(lit(1), lit(window - 1))))
      .select(col(idCol).as("graft_i1"), col("graft_t").as("graft_t1"),
        (col("graft_rn") + col("graft_delta")).as("graft_rn"))
    left.join(ranked.select(col(idCol).as("graft_i2"),
        col("graft_t").as("graft_t2"), col("graft_rn")), "graft_rn")
      .select(least(col("graft_i1"), col("graft_i2")).as("d1"),
        greatest(col("graft_i1"), col("graft_i2")).as("d2"),
        round(graft.functions.StringFunctions.jaroWinkler(
          col("graft_t1"), col("graft_t2")), 6).as("jw_sim"))
      .filter(col("jw_sim") >= minSim)
  }

  /**
   * Edit-distance-verified near-dup pairs: LSH band collisions generate
   * candidates (the usual collision-rate-bounded join), then full-text
   * Levenshtein ≤ `maxDist` verifies — the character-level notion of
   * "near duplicate" that shingle Jaccard approximates from above
   * (k edits can destroy up to k·w shingles but word-reorderings that
   * Jaccard forgives cost edits here). Levenshtein is O(|a|·|b|) per
   * pair, which is exactly why it only ever runs on collided candidates,
   * never all-pairs; both engines implement the classic DP, so the
   * distance is oracle-exact.
   */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
                        maxDist: Int, k: Int = 16, r: Int = 4,
                        w: Int = 3,
                        maxBucket: Option[Long] = None): DataFrame = {
    val cand = lshCandidates(bandsPerRow(docs, idCol, textCol, k, r, w),
      idCol, maxBucket)
    val t = docs.select(col(idCol), col(textCol))
    cand
      .join(t.select(col(idCol).as("d1"), col(textCol).as("graft_t1")), "d1")
      .join(t.select(col(idCol).as("d2"), col(textCol).as("graft_t2")), "d2")
      .withColumn("edit_dist", levenshtein(col("graft_t1"), col("graft_t2")))
      .filter(col("edit_dist") <= maxDist)
      .select(col("d1"), col("d2"), col("edit_dist"))
  }

  /** One row per (id, hash, slice, slice-value): the pigeonhole banding
    * of every Hamming operator — the hash splits into `bands` disjoint
    * bit slices, keyed (sl, sv). */
  private[graft] def hammingSliceRows(df: DataFrame, idCol: String,
                                      hashCol: String, bits: Int,
                                      bands: Int): DataFrame = {
    require(bands >= 2 && bits % bands == 0,
      s"bits=$bits must split evenly into bands=$bands")
    val sliceBits = bits / bands
    val mask = (1L << sliceBits) - 1
    val slices = (0 until bands).map(b => struct(lit(b).as("sl"),
      shiftright(col(hashCol), b * sliceBits).bitwiseAND(lit(mask)).as("sv")))
    df.select(col(idCol), col(hashCol),
        explode(array(slices: _*)).as("s"))
      .select(col(idCol), col(hashCol),
        col("s.sl").as("sl"), col("s.sv").as("sv"))
  }

  /** The slice rows a Hamming self-join scans, hash carried as
    * `graft_h`, with an EAGER lineage cut (r21): the two self-join sides
    * (and a census) each scan them, and the d1/d2 renames defeat
    * ReusedExchange, so without the cut the whole hash chain (for
    * SimHash: word explode → `bits` bit-sums, the expensive part) ran
    * once per scan. The materialized slice table is what a production
    * deployment would store as the index anyway. */
  private def cutSliceRows(df: DataFrame, idCol: String, hashCol: String,
                           bits: Int, bands: Int): DataFrame =
    hammingSliceRows(df, idCol, hashCol, bits, bands)
      .select(col(idCol), col(hashCol).as("graft_h"), col("sl"), col("sv"))
      .localCheckpoint()

  /** Candidates with `hamming` = popcount(graft_h1 xor graft_h2) ≤
    * `maxDist`: one codegen'd bit_count per candidate. */
  private[graft] def withinHamming(cand: DataFrame, maxDist: Int): DataFrame =
    cand.withColumn("hamming",
        bit_count(col("graft_h1").bitwiseXOR(col("graft_h2"))))
      .filter(col("hamming") <= maxDist)

  /**
   * Hamming-distance near-dup pairs over a packed bit-hash column
   * (SimHash, image pHash, any bit signature): all pairs within
   * `maxDist` differing bits. Candidate generation is pigeonhole
   * banding ([[hammingSliceRows]]): a pair differing in at most
   * bands−1 bits MUST agree on some slice, so for `maxDist ≤ bands − 1`
   * recall is EXACT, not probabilistic (Manku et al., "Detecting
   * near-duplicates for web crawling", WWW'07 — simhash dedup at crawl
   * scale). Collisions are the [[Buckets.selfPairs]] equi-join on
   * (slice, value); verification is one bit_count(xor) per candidate.
   *
   * `maxBucket` applies the lossless split of [[Buckets]] to the
   * (slice, value) self-join: pair set IDENTICAL to uncapped (q363's
   * oracle is the uncapped q109 chain; the cap engages on the fixture).
   *
   * WHEN TO USE IT (measured, BENCH_SCALING_r17): the split is a SKEW
   * remedy — a few giant buckets among many (one boilerplate cluster
   * dominating a slice value). A pigeonhole space that is UNIFORMLY
   * dense (small sliceBits ⇒ few distinct values, every bucket ~n/2^s
   * members) has no skew to fix: the keys already saturate the
   * cluster's parallelism and the split pays ⌈B/cap⌉× row replication
   * for nothing (q363 measured ×33 vs uncapped ×20 at 5× on exactly
   * that shape). There, widen the slices — [[simHashWide]] at 60 bits
   * gives 2¹⁵ values per band vs 2⁸, gated as q371 — AND cap by
   * DROPPING with an exclusion report
   * ([[hammingPairsDropCap]]/[[hammingExcludedBuckets]], q372/q373),
   * or dedup by cluster representative. Measured (BENCH_SCALING_r18,
   * sharedBands, vs ×5/×10 linear): widening alone ×7.46 (output still
   * quadratic in replication — any lossless generator's floor);
   * widened + drop-cap ×2.35–×3.3 at both densification points ONCE
   * THE CAP SITS BELOW THE DUPLICATION MULTIPLICITY (cap 12 at 5×
   * replication read ×4.46 — kept ≤ cap buckets still pay their
   * (5B)² pair output; cap 8 read ×2.35).
   */
  def hammingPairs(df: DataFrame, idCol: String, hashCol: String,
                   bits: Int, bands: Int, maxDist: Int,
                   maxBucket: Option[Long] = None): DataFrame = {
    require(maxDist <= bands - 1,
      s"pigeonhole recall needs maxDist <= bands-1 (= ${bands - 1})")
    withinHamming(Buckets.selfPairs(
        cutSliceRows(df, idCol, hashCol, bits, bands), idCol,
        Buckets.HammingSlices, Seq("graft_h"), maxBucket), maxDist)
      .select(col("d1"), col("d2"), col("hamming"))
  }

  /**
   * Drop-cap Hamming pairs — the BOUNDED-VOLUME policy for the
   * pigeonhole join (the q338/q346 embedding pattern on (slice, value)):
   * slice buckets holding more than `maxBucket` members are EXCLUDED
   * from candidate generation entirely ([[Buckets.dropCapped]]), so
   * per-bucket fan-out is ≤ cap² by construction and total candidate
   * volume is bounded regardless of signature density. This is the
   * [[hammingPairs]] scale doc's remedy for a UNIFORMLY dense slice
   * space, where the lossless salt-split is pure replication (q363's
   * measured negative): a near-saturated bucket pairs everything with
   * everything — precisely the candidates a Hamming verifier then
   * rejects almost wholesale (members agree on ONE slice by bucket
   * construction; with the space saturated that agreement is chance,
   * not similarity).
   *
   * Recall contract (deterministic, replayed by the q372 oracle): a
   * pair is emitted iff it verifies AND agrees on at least one
   * UNDER-cap slice. Pigeonhole still guarantees ≤ maxDist pairs agree
   * somewhere; only pairs whose EVERY agreeing slice is over-cap are
   * lost — and those buckets are published loudly by
   * [[hammingExcludedBuckets]] (exclusion is never silent).
   */
  def hammingPairsDropCap(df: DataFrame, idCol: String, hashCol: String,
                          bits: Int, bands: Int, maxDist: Int,
                          maxBucket: Long): DataFrame = {
    require(maxDist <= bands - 1,
      s"pigeonhole recall needs maxDist <= bands-1 (= ${bands - 1})")
    val kept = Buckets.dropCapped(
      cutSliceRows(df, idCol, hashCol, bits, bands),
      Buckets.HammingSlices, maxBucket)
    withinHamming(Buckets.selfPairs(kept, idCol, Buckets.HammingSlices,
        Seq("graft_h")), maxDist)
      .select(col("d1"), col("d2"), col("hamming"))
  }

  /** Full slice-bucket census (sl, sv, bucket_size) — the measurement
    * behind the Hamming family's config choice, published un-filtered
    * (the ≥ 2 tail feeds [[graft.operators.Profiling.dedupPolicyAudit]];
    * [[hammingExcludedBuckets]] is this census cut at the cap). */
  def hammingBucketSizes(df: DataFrame, idCol: String, hashCol: String,
                         bits: Int, bands: Int): DataFrame =
    Buckets.census(hammingSliceRows(df, idCol, hashCol, bits, bands),
      Buckets.HammingSlices)

  /** Band-bucket census (band, bh, bucket_size) for the MinHash LSH
    * path — the text-side input to
    * [[graft.operators.Profiling.dedupPolicyAudit]] (band hashes live
    * in md5 space, so pass spaceSize = None there: density here can
    * only come from content replication, never hash saturation). */
  def lshBandBucketSizes(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 16, r: Int = 4, w: Int = 3): DataFrame =
    Buckets.census(bandsPerRow(docs, idCol, textCol, k, r, w),
      Buckets.TextBands)

  /** The slice buckets [[hammingPairsDropCap]] drops, as visible rows
    * (sl, sv, bucket_size) — the audit table a capped Hamming dedup run
    * publishes next to its pair count (the q339 convention: exclusion
    * is never silent). */
  def hammingExcludedBuckets(df: DataFrame, idCol: String,
                             hashCol: String, bits: Int, bands: Int,
                             maxBucket: Long): DataFrame = {
    require(maxBucket >= 1, s"maxBucket=$maxBucket must be >= 1")
    hammingBucketSizes(df, idCol, hashCol, bits, bands)
      .filter(col("bucket_size") > maxBucket)
  }

  /**
   * Persisted slice index for incremental HAMMING dedup — the family's
   * stored-index member (text has [[lshIndex]], embeddings have
   * [[graft.operators.Similarity.annIndex]]). One (id, hash, sl, sv) row
   * per (signature, band slice), written once when the corpus is
   * indexed; the full hash rides along because Hamming verification is
   * a pure function of the two hashes (no second table needed, unlike
   * text/embedding verify). On a real deployment the table is stored
   * bucketed on (sl, sv) so incremental batches shuffle only themselves.
   *
   * `maxBucket` pre-splits hot slice buckets AT BUILD TIME
   * ([[Buckets.splitIndex]]), so every (sl, sv, graft_u) cell holds
   * ≤ cap index rows — a 100 TB index's hot slices are its exact-dup
   * piles, split once for every future batch.
   */
  def hammingIndex(corpus: DataFrame, idCol: String, hashCol: String,
                   bits: Int, bands: Int,
                   maxBucket: Option[Long] = None): DataFrame = {
    val sl = hammingSliceRows(corpus, idCol, hashCol, bits, bands)
    maxBucket.fold(sl)(Buckets.splitIndex(sl, idCol, Buckets.HammingSlices, _))
  }

  /**
   * Incremental Hamming near-dup detection against a stored
   * [[hammingIndex]]: candidates are NEW-batch slice rows colliding
   * with INDEX rows (never index×index — the corpus was deduped when
   * indexed), verified at exact Hamming distance between the two
   * hashes carried on the rows. Pigeonhole recall is EXACT for
   * `maxDist ≤ bands − 1` over (new, old) pairs: any pair within
   * maxDist agrees on at least one slice, and both sides slice the
   * same way. The probe is [[Buckets.probeIndex]], as in the stream
   * twin [[graft.streaming.Streaming.nearDupHammingCandidates]]; a
   * cap-split index gives the IDENTICAL pair set (q383's oracle is the
   * uncapped chain).
   */
  def dedupAgainstHammingIndex(batch: DataFrame, idCol: String,
                               hashCol: String, indexSlices: DataFrame,
                               bits: Int, bands: Int,
                               maxDist: Int): DataFrame = {
    require(maxDist <= bands - 1,
      s"pigeonhole recall needs maxDist <= bands-1 (= ${bands - 1})")
    val cand = Buckets.probeIndex(
        hammingSliceRows(batch, idCol, hashCol, bits, bands)
          .select(col(idCol).as("d_new"), col(hashCol).as("graft_h1"),
            col("sl"), col("sv")),
        indexSlices, Buckets.HammingSlices,
        col(idCol).as("d_old"), col(hashCol).as("graft_h2"))
      .select("d_new", "d_old", "graft_h1", "graft_h2").distinct()
    withinHamming(cand, maxDist)
      .select(col("d_new"), col("d_old"), col("hamming"))
  }

  /**
   * Per-document novelty score: 1 − max Jaccard against ANY LSH
   * near-dup candidate — the graded companion to the binary dup/not-dup
   * cut. Curation mixes rank by novelty ("prefer documents unlike
   * anything already kept") instead of thresholding; documents with no
   * candidate at all score a full 1.0.
   *
   * Shape: the same banded LSH pipeline as [[minHashLshPairs]] with the
   * threshold removed (candidates are still collision-driven, never
   * all-pairs), one symmetric union of the pair list, one max-agg, and a
   * left join back onto the corpus ids.
   */
  def noveltyScores(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 16, r: Int = 4, w: Int = 3): DataFrame = {
    val pairs = minHashLshPairs(docs, idCol, textCol, k, r, w,
      threshold = 0.0)
    // symmetrize by exploding each pair into both endpoints — a
    // two-branch union would evaluate the whole LSH pipeline twice
    val sym = pairs
      .select(explode(array(
        struct(col("d1").as("id"), col("jaccard")),
        struct(col("d2").as("id"), col("jaccard")))).as("c"))
      .select(col("c.id").as(idCol), col("c.jaccard").as("jaccard"))
    val agg = sym.groupBy(col(idCol))
      .agg(max(col("jaccard")).as("graft_mj"),
        count(lit(1)).as("n_candidates"))
    docs.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        round(lit(1.0) - coalesce(col("graft_mj"), lit(0.0)), 6)
          .as("novelty"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"))
  }

  /**
   * Prefix-blocking dedup groups: documents sharing their first `k`
   * tokens, keyed by the md5 of that prefix. The cheap blocking pass for
   * truncated-scrape and re-crawl artifacts (the duplicate family where
   * one copy is a cut-off prefix of another): full-content hashing
   * misses them, shingle LSH finds them but at shingle cost — a prefix
   * hash is one narrow projection plus one hash-agg.
   *
   * Output: one row per group with >1 member (prefix_hash, n_docs,
   * min_doc, max_doc) — min_doc is the survivor by the min-id rule.
   */
  def prefixClusters(docs: DataFrame, idCol: String, textCol: String,
                     k: Int): DataFrame = {
    require(k >= 1, s"k=$k must be positive")
    docs
      .select(col(idCol),
        md5(array_join(slice(split(col(textCol), " "), 1, k), " "))
          .as("prefix_hash"))
      .groupBy(col("prefix_hash"))
      .agg(count(lit(1)).as("n_docs"),
        min(col(idCol)).as("min_doc"), max(col(idCol)).as("max_doc"))
      .filter(col("n_docs") > 1)
  }

  /**
   * MinHash estimator calibration: for every exact near-dup pair
   * (ground truth = [[ngramJaccardPairs]]), the fraction of the k
   * MinHash signature slots that agree — an unbiased estimator of
   * Jaccard (E[agree/k] = J, Broder 1997) — alongside the exact value
   * and the estimation error. This is the measurement that sizes k:
   * σ = √(J(1−J)/k), so the observed error spread directly answers
   * "are 16 hashes enough at my threshold", the same way
   * `Similarity.annRecallAtK` sizes nPlanes.
   *
   * Scale shape: the ground-truth pair list is the bounded output of the
   * exact path; signatures attach via two doc-keyed joins of the wide
   * sig table (k columns, no explode), and agreement is one codegen'd
   * k-term sum per pair.
   */
  def minHashCalibration(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 16, w: Int = 3,
                         threshold: Double = 0.5): DataFrame = {
    val pairs = ngramJaccardPairs(docs, idCol, textCol, w, threshold)
    val sigs = minHashSignaturesWide(shingles(docs, idCol, textCol, w),
      idCol, k)
    val a = sigs.select(col(idCol).as("d1") +:
      (0 until k).map(i => col(s"sig_$i").as(s"graft_a$i")): _*)
    val b = sigs.select(col(idCol).as("d2") +:
      (0 until k).map(i => col(s"sig_$i").as(s"graft_b$i")): _*)
    val nAgree = (0 until k).map(i =>
      when(col(s"graft_a$i") === col(s"graft_b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    pairs.join(a, "d1").join(b, "d2")
      .withColumn("n_agree", nAgree)
      .select(col("d1"), col("d2"), col("jaccard"), col("n_agree"),
        round(col("n_agree").cast(DoubleType) / k, 6).as("est_jaccard"),
        round(col("n_agree").cast(DoubleType) / k - col("jaccard"), 6)
          .as("est_error"))
  }

  /**
   * b-bit minwise calibration (Li & König, WWW 2010, b = 1): the
   * storage-optimized MinHash — keep only the LOWEST BIT of each of the
   * k signature values (k bits per document instead of 32k) and estimate
   * Jaccard from the bit-agreement rate with the b = 1 correction
   * Ĵ = 2·A/k − 1 (random bits agree half the time, so raw agreement
   * overstates similarity; [[minHashCalibration]]'s full-width A/k needs
   * no correction but 32× the index bytes). Estimates clamp at 0 — J is
   * non-negative, and the clamp keeps the gate free of signed integral
   * division. Run against exact Jaccard on the verified pair set, this
   * is the measurement that says whether the 32× index shrink is safe
   * at the pipeline's similarity threshold.
   *
   * Scale shape: as [[minHashCalibration]] — wide signatures in ONE
   * projection, pair joins keyed by doc id, agreement as a codegen'd
   * k-term sum. Exact integers everywhere (`est_ppm` by positive
   * integral division).
   */
  def bBitMinwiseCalibration(docs: DataFrame, idCol: String,
                             textCol: String, k: Int = 16, w: Int = 3,
                             threshold: Double = 0.5): DataFrame = {
    val pairs = ngramJaccardPairs(docs, idCol, textCol, w, threshold)
    val sigs = minHashSignaturesWide(shingles(docs, idCol, textCol, w),
      idCol, k)
    val a = sigs.select(col(idCol).as("d1") +:
      (0 until k).map(i => pmod(col(s"sig_$i"), lit(2L))
        .as(s"graft_a$i")): _*)
    val b = sigs.select(col(idCol).as("d2") +:
      (0 until k).map(i => pmod(col(s"sig_$i"), lit(2L))
        .as(s"graft_b$i")): _*)
    val nAgree = (0 until k).map(i =>
      when(col(s"graft_a$i") === col(s"graft_b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    pairs.join(a, "d1").join(b, "d2")
      .withColumn("n_agree", nAgree)
      .select(col("d1"), col("d2"), col("jaccard"), col("n_agree"),
        expr(s"cast(greatest(2 * n_agree - $k, 0) * 1000000 " +
          s"as decimal(38,0)) div cast($k as decimal(38,0))")
          .cast(LongType).as("est_ppm"))
  }

  /**
   * Exact repeated-substring SPANS: for each document, the maximal token
   * ranges whose every `w`-gram also appears in at least one OTHER
   * document — the per-document output of exact-substring dedup (the
   * signal behind Lee et al., "Deduplicating Training Data Makes
   * Language Models Better", ACL'22, there computed with a suffix
   * array). Long shared passages (licenses, templates, quoted articles)
   * surface as one span each, ready to be cut out of the training text.
   *
   * Distributed shape instead of a suffix array: positional w-grams
   * (one explode), document frequency over the gram hash (hash agg +
   * inverted-index join back), then adjacent shared positions merge via
   * the gap-run trick — `run = running Σ of (pos − lag(pos) ≠ 1)` —
   * one doc-keyed window pass (the Sessionize pattern on positions).
   * Everything shuffles on gram or doc id; nothing is quadratic.
   *
   * Returns (idCol, span_start, span_end, n_grams): token range
   * [span_start, span_end] inclusive, covering n_grams shared w-grams.
   */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                    w: Int = 5): DataFrame = {
    val ws = col("graft_ws")
    // positional grams: NO array_distinct — positions matter here
    val grams = docs.repartition(col(idCol))
      .select(col(idCol), split(col(textCol), " ").as("graft_ws"))
      .filter(size(ws) >= w)
      .select(col(idCol), posexplode(
        transform(sequence(lit(0), size(ws) - w),
          i => concat_ws(" ", (0 until w).map(o => element_at(ws, i + o + 1)): _*)))
        .as(Seq("pos", "s")))
    val shared = grams.join(
      grams.groupBy(col("s"))
        .agg(countDistinct(col(idCol)).as("graft_nd"))
        .filter(col("graft_nd") > 1).select(col("s")), "s")
    val winOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    val newRun = when(col("pos") - lag(col("pos"), 1).over(winOrd) === 1, 0L)
      .otherwise(1L)
    shared
      .withColumn("graft_run", sum(newRun).over(
        winOrd.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)))
      .groupBy(col(idCol), col("graft_run"))
      .agg(min(col("pos")).cast(LongType).as("span_start"),
        (max(col("pos")) + w - 1).cast(LongType).as("span_end"),
        count(lit(1)).as("n_grams"))
      .drop("graft_run")
  }

  /**
   * Pairwise ALIGNED shared runs: for every document pair, each maximal
   * run of consecutive tokens the two share verbatim — [[repeatedSpans]]
   * says "this span of mine is duplicated somewhere"; this says "docs a
   * and b share these exact `n_tokens` starting at a:start1 / b:start2",
   * the pairwise output of exact-substring dedup (Lee et al., ACL'22,
   * there via one giant suffix array) that drives cut-one-keep-one
   * decisions and provenance audits.
   *
   * Distributed shape instead of a suffix array: positional `w`-grams
   * (one explode), a gram-keyed self-join restricted to grams whose
   * TOTAL occurrence count is ≤ `gramCap` (and that appear in ≥ 2 docs),
   * then the diagonal trick from sequence alignment: a shared run of
   * length L produces L−w+1 matched gram pairs at the SAME offset
   * `pos1 − pos2`, at consecutive pos1 — so runs are gap-run merges
   * (the [[repeatedSpans]] window pattern) keyed by (d1, d2, diagonal).
   *
   * `gramCap` bounds the join: a gram with c occurrences yields ≤ C(c,2)
   * pairs, so per-gram fan-out is ≤ C(gramCap,2) and hot boilerplate
   * grams (the skew risk at corpus scale) are excluded by a DETERMINISTIC
   * rule both engines replay — runs made only of ultra-common grams are
   * reported as absent, the documented precision/volume trade (the same
   * df-conditioning exact-substring implementations apply before the
   * suffix sort). Everything shuffles on the gram, then on the
   * (d1, d2, diagonal) run key; nothing is quadratic in the corpus.
   *
   * Returns (d1, d2, start1, start2, n_tokens, n_grams), d1 < d2, runs
   * of ≥ `minTokens` tokens; (start1, start2) are 0-based token offsets.
   */
  def alignedSharedRuns(docs: DataFrame, idCol: String, textCol: String,
                        w: Int = 5, gramCap: Int = 64,
                        minTokens: Int = 8): DataFrame = {
    require(w >= 2, s"gram width must be >= 2: $w")
    require(gramCap >= 2, s"gramCap must be >= 2: $gramCap")
    require(minTokens >= w, s"minTokens must be >= w: $minTokens < $w")
    val ws = col("graft_ws")
    val grams = docs.repartition(col(idCol))
      .select(col(idCol), split(col(textCol), " ").as("graft_ws"))
      .filter(size(ws) >= w)
      .select(col(idCol), posexplode(
        transform(sequence(lit(0), size(ws) - w),
          i => concat_ws(" ", (0 until w).map(o => element_at(ws, i + o + 1)): _*)))
        .as(Seq("pos", "s")))
    val keep = grams.groupBy(col("s"))
      .agg(count(lit(1)).as("graft_c"),
        countDistinct(col(idCol)).as("graft_nd"))
      .filter(col("graft_c") <= gramCap && col("graft_nd") >= 2)
      .select(col("s"))
    val shared = grams.join(keep, "s")
    val a = shared.select(col("s"), col(idCol).as("d1"), col("pos").as("p1"))
    val b = shared.select(col("s"), col(idCol).as("d2"), col("pos").as("p2"))
    val pairs = a.join(b, "s").filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"), col("p1"), col("p2"),
        (col("p1") - col("p2")).as("graft_diag"))
    val winOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("d1"), col("d2"), col("graft_diag")).orderBy(col("p1"))
    val newRun = when(col("p1") - lag(col("p1"), 1).over(winOrd) === 1, 0L)
      .otherwise(1L)
    pairs
      .withColumn("graft_run", sum(newRun).over(
        winOrd.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)))
      .groupBy(col("d1"), col("d2"), col("graft_diag"), col("graft_run"))
      .agg(min(col("p1")).cast(LongType).as("start1"),
        min(col("p2")).cast(LongType).as("start2"),
        (max(col("p1")) - min(col("p1")) + w).cast(LongType).as("n_tokens"),
        count(lit(1)).as("n_grams"))
      .filter(col("n_tokens") >= minTokens)
      .drop("graft_diag", "graft_run")
  }

  /**
   * Duplication profile: per document, how many of its tokens sit inside
   * at least one cross-document verbatim run — the coverage number that
   * drives the cut-or-keep decision in exact-substring dedup (a doc 90%
   * covered by runs is boilerplate; 5% is a quotation). Composes
   * [[alignedSharedRuns]]: each run contributes its token interval to
   * BOTH endpoints' profiles, intervals from different partners may
   * overlap, so per-doc coverage is the measure of the interval UNION —
   * the standard sweep (order by start, subtract what the running max
   * end already covered), here as one doc-partitioned window over the
   * distinct intervals (metadata-sized per doc: runs it participates
   * in, not tokens).
   *
   * Returns every input document: (idCol, n_tokens, covered_tokens,
   * dup_fraction) with dup_fraction = covered/total rounded to 6 dp —
   * docs with no qualifying runs report 0.
   */
  def duplicationProfile(docs: DataFrame, idCol: String, textCol: String,
                         w: Int = 5, gramCap: Int = 64,
                         minTokens: Int = 8): DataFrame = {
    val runs = alignedSharedRuns(docs, idCol, textCol, w, gramCap, minTokens)
    val iv = runs.select(col("d1").as(idCol), col("start1").as("graft_s"),
        (col("start1") + col("n_tokens") - 1).as("graft_e"))
      .unionByName(runs.select(col("d2").as(idCol),
        col("start2").as("graft_s"),
        (col("start2") + col("n_tokens") - 1).as("graft_e")))
      .distinct()
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("graft_s"), col("graft_e"))
    val pme = coalesce(max(col("graft_e")).over(
      wOrd.rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)), lit(-1L))
    val cov = iv
      .withColumn("graft_add", greatest(lit(0L),
        col("graft_e") - greatest(col("graft_s"), pme + 1L) + 1L))
      .groupBy(col(idCol))
      .agg(sum(col("graft_add")).as("graft_cov"))
    docs.select(col(idCol),
        size(split(col(textCol), " ")).cast(LongType).as("n_tokens"))
      .join(cov, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("graft_cov"), lit(0L)).as("covered_tokens"),
        round(coalesce(col("graft_cov"), lit(0L)).cast(DoubleType) /
          col("n_tokens"), 6).as("dup_fraction"))
  }

  /**
   * 32-bit SimHash over a document's distinct words: bit b is set when the
   * word-count-weighted sum of (2·bit_b(md5(word)) − 1) is positive.
   *
   * Single-pass wide form (same trick as `minHashSignaturesWide`): each
   * word row is hashed ONCE and projected to 32 ±1 contribution columns;
   * one groupBy sums all 32 — no ×32 bit explode, and map-side partial
   * aggregation reduces the shuffle to |docs| × 32 ints. Values are
   * bit-identical to the per-(doc, bit) long form the oracle computes.
   */
  def simHash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    simHashWide(docs, idCol, textCol, 32)

  /**
   * `bits`-wide SimHash (the [[simHash]] formulas at any nibble-aligned
   * width up to 60): the knob the [[hammingPairs]] scale doc prescribes
   * for UNIFORMLY dense pigeonhole spaces — widening the signature
   * widens each band slice (bits/bands per slice), growing the bucket
   * space EXPONENTIALLY (e.g. 60 bits / 4 bands ⇒ 2¹⁵ = 32,768 values
   * per slice vs 2⁸ = 256 at 32 bits) so the (slice, value) self-join
   * stays collision-driven at corpus scale instead of saturating a
   * few-hundred-bucket space. Pigeonhole exactness is unchanged
   * (maxDist ≤ bands − 1 over the WIDER hash — a finer near-dup notion,
   * strictly harder to collide by chance). `bits ≤ 60` keeps every
   * `1L << b` term positive, so the hash is sign-free in both engines'
   * BIGINT arithmetic; nibble alignment keeps the md5 hex mapping
   * engine-portable.
   */
  def simHashWide(docs: DataFrame, idCol: String, textCol: String,
                  bits: Int): DataFrame = {
    require(bits % 4 == 0 && bits >= 4 && bits <= 60,
      s"bits=$bits must be nibble-aligned in 4..60 (md5 hex mapping; " +
        "sign-safe BIGINT)")
    val words = docs.select(col(idCol),
        explode(array_distinct(split(col(textCol), " "))).as("w"))
      .select(col(idCol), md5(col("w")).as("h"))
    // bit b lives in hex digit b div 4, at offset 3 - b%4 within the nibble
    val contribs = (0 until bits).map { b =>
      val nib = conv(substring(col("h"), b / 4 + 1, 1), 16, 10)
        .cast(IntegerType)
      (shiftright(nib, 3 - b % 4).bitwiseAND(lit(1)) * 2 - 1).as(s"c_$b")
    }
    val sums = (0 until bits).map(b => sum(col(s"c_$b")).as(s"s_$b"))
    words.select(col(idCol) +: contribs: _*)
      .groupBy(col(idCol))
      .agg(sums.head, sums.tail: _*)
      .select(col(idCol),
        (0 until bits).map(b =>
          when(col(s"s_$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** LSH index tables for a corpus: (bands, shingles) — the persistent
    * state `dedupAgainstIndex` joins new batches against. On a real
    * deployment both are written bucketed on their join keys
    * ((band, bh) / (docId, s)) so incremental runs shuffle only the new
    * batch, never the indexed corpus.
    *
    * Each shingle row carries `n_old`, the owning doc's total shingle
    * count, computed ONCE at index-build time (one window pass, amortized
    * over every future batch). That lets `dedupAgainstIndex` read the old
    * doc's set size off the collision rows themselves — no per-batch
    * corpus-sized aggregation, no second pass over the candidate join.
    *
    * `maxBucket` pre-splits hot index band buckets AT BUILD TIME
    * ([[Buckets.splitIndex]]), so every (band, bh, graft_u) key holds
    * ≤ cap index rows. The index a 100 TB corpus stores is exactly the
    * table whose hot buckets are the most-duplicated content —
    * pre-splitting once at build time bounds EVERY future batch's
    * collision-join cells (q362 hash-proves the probe lossless against
    * the uncapped q64 oracle). The window cost is one (band, bh) pass at
    * build, amortized like `n_old`. */
  def lshIndex(docs: DataFrame, idCol: String, textCol: String,
               k: Int = 16, r: Int = 4, w: Int = 3,
               maxBucket: Option[Long] = None): (DataFrame, DataFrame) = {
    val sh = shingles(docs, idCol, textCol, w)
    val withN = sh.withColumn("n_old", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))))
    val bands = bandsPerRow(docs, idCol, textCol, k, r, w)
    (maxBucket.fold(bands)(Buckets.splitIndex(bands, idCol, Buckets.TextBands, _)),
      withN)
  }

  /**
   * Incremental near-dup detection: candidate pairs are NEW-batch band
   * rows colliding with INDEX band rows (never index×index — the corpus
   * was already deduped when indexed), verified at exact Jaccard between
   * the new doc's shingles and the indexed doc's shingles.
   *
   * This is the shape that makes dedup tractable in production: a 100 TB
   * corpus is indexed once, and each incoming batch costs
   * O(|batch| + collisions), not a full-corpus self-join. Signatures are
   * per-document (K–M md5), so incremental results are bit-identical to
   * what a batch-global run would report for the same (new, old) pairs.
   * The collision join is [[Buckets.probeIndex]]: a cap-split
   * [[lshIndex]] gives the IDENTICAL candidate set (q362's oracle is the
   * uncapped q64 chain), each join cell bounded by cap × |batch bucket|
   * (the batch side is micro-batch-bounded by the operator's contract).
   */
  def dedupAgainstIndex(newDocs: DataFrame, idCol: String, textCol: String,
                        indexBands: DataFrame, indexShingles: DataFrame,
                        k: Int = 16, r: Int = 4, w: Int = 3,
                        threshold: Double = 0.5): DataFrame = {
    val nsh = shingles(newDocs, idCol, textCol, w)
    val cand = Buckets.probeIndex(
        bandsPerRow(newDocs, idCol, textCol, k, r, w)
          .select(col(idCol).as("d_new"), col("band"), col("bh")),
        indexBands, Buckets.TextBands, col(idCol).as("d_old"))
      .select("d_new", "d_old").distinct()
    // Old-doc set sizes: read off the index's precomputed `n_old` column
    // when present (lshIndex stores it at build time) — the size lookup
    // then rides the collision join itself: no per-batch corpus
    // aggregation, and the candidate join is evaluated exactly once.
    // For index tables built without the column, fall back to aggregating
    // the index semi-filtered by the (batch-bounded) candidate ids —
    // never the whole corpus.
    val hasN = indexShingles.columns.contains("n_old")
    val ishCols = Seq(col(idCol).as("d_old"), col("s")) ++
      (if (hasN) Seq(col("n_old")) else Nil)
    val interAggs = Seq(count(lit(1)).as("inter")) ++
      (if (hasN) Seq(min(col("n_old")).as("n_old")) else Nil)
    val inter = cand
      .join(nsh.select(col(idCol).as("d_new"), col("s"))
        .hint("shuffle_hash"), "d_new")
      .join(indexShingles.select(ishCols: _*).hint("shuffle_hash"),
        Seq("d_old", "s"))
      .groupBy("d_new", "d_old").agg(interAggs.head, interAggs.tail: _*)
    val nsz = nsh.groupBy(col(idCol)).agg(count(lit(1)).as("n_new"))
      .withColumnRenamed(idCol, "d_new")
    val withOld =
      if (hasN) inter
      else {
        val osz = indexShingles
          .join(broadcast(cand.select(col("d_old")).distinct()),
            col(idCol) === col("d_old"), "left_semi")
          .groupBy(col(idCol)).agg(count(lit(1)).as("n_old"))
          .withColumnRenamed(idCol, "d_old")
        inter.join(osz, "d_old")
      }
    withOld.join(nsz, "d_new")
      .select(col("d_new"), col("d_old"),
        (col("inter") / (col("n_new") + col("n_old") - col("inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact dedup: one survivor per distinct value of `keyCols` (smallest id
    * wins — deterministic, unlike dropDuplicates), plus the duplicate
    * count. Hash-groupBy; partial aggregation keeps the shuffle at
    * |distinct keys|. */
  def exactDedup(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /**
   * The dominant-pile PRESCRIPTION of [[graft.operators.Profiling
   * .dedupPolicyAudit]] run END-TO-END (r19 verdict item 1): when one
   * bucket's pairwise output exceeds corpus-linear work (max_bucket² >
   * n_rows — a giant exact-copy pile), a lossless pairwise stage is
   * OUTPUT-quadratic no matter the plan shape, so the audit routes to
   * [[exactDedup]] FIRST and runs the salt-split LSH
   * ([[minHashLshPairs]] with `maxBucket`) only over the RESIDUAL —
   * one survivor per distinct text.
   *
   * Output is the lossless result in its pile-compressed form, one
   * DataFrame with a `kind` discriminator:
   *  - `kind = "exact"`: (d1 = group survivor [min id], d2 = member,
   *    jaccard = 1.0) for every non-survivor member — the member map a
   *    full lossless pair chain's within-group pairs collapse to
   *    (identical texts ⇒ identical shingle sets ⇒ identical band
   *    signatures ⇒ every within-group pair is a candidate with
   *    Jaccard exactly 1.0, so the B(B−1)/2 pair rows carry no more
   *    information than the B−1 map rows);
   *  - `kind = "near"`: (d1 < d2, jaccard) over the residual survivors
   *    — one row per near-dup GROUP pair, where the full chain emits
   *    one row per member pair with the identical jaccard (a pure
   *    function of the two texts).
   * Any full-chain pair is mechanically recoverable: expand each near
   * row over its two groups' members, each exact group over its member
   * pairs — q386's naive comparator gate performs exactly that collapse
   * on the full chain and hashes identical (losslessness, machine-
   * checked), while THIS chain's pairwise stage only ever sees the
   * residual (the quadratic bend flattens — BENCH_SCALING q385 vs
   * q386).
   *
   * Scale shape: [[exactDedup]]'s hash-groupBy keys the shuffle by
   * |distinct texts|; the member-map join re-shuffles the corpus by the
   * same key. Both key on the raw text here — at 100 TB pre-project a
   * fixed-width digest (e.g. md5(text)) as the group key to keep
   * shuffle rows narrow; the operator takes the text column as given so
   * the caller owns that trade (a digest key makes the result exact
   * only up to hash collisions).
   */
  def exactThenLshDedup(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 16, r: Int = 4, w: Int = 3,
                        threshold: Double = 0.5,
                        maxBucket: Option[Long] = None): DataFrame = {
    // `ex` feeds the exact-rows join AND the LSH near chain, so its
    // groupBy(text) executes once per consumer — deliberately NOT
    // lineage-cut (r21, measured): the frame is corpus-scale WITH the
    // text payload, so a localCheckpoint stores the whole survivor
    // corpus in executor-memory blocks — q385 ran 0.63x with the cut
    // (1.95 -> 3.11 s min-of-3), and at cluster scale memory-backed
    // blocks of a payload-bearing corpus are an OOM/executor-loss
    // hazard (the repo's documented localCheckpoint caveat). The
    // duplicate pass is two INDEPENDENT keyed shuffles that overlap on
    // the cluster; a production deployment that wants the cut should
    // write `ex` to storage, not block memory.
    val ex = exactDedup(docs, idCol, Seq(textCol))
    val exactRows = docs.select(col(idCol).as("d2"), col(textCol))
      .join(ex.select(col(textCol), col(idCol).as("d1")), Seq(textCol))
      .filter(col("d2") =!= col("d1"))
      .select(col("d1"), col("d2"), lit(1.0).as("jaccard"),
        lit("exact").as("kind"))
    val near = minHashLshPairs(ex.select(col(idCol), col(textCol)),
        idCol, textCol, k, r, w, threshold, maxBucket)
      .select(col("d1"), col("d2"), col("jaccard"),
        lit("near").as("kind"))
    exactRows.unionByName(near)
  }

  /**
   * Per-document boilerplate audit: the fraction of a document's
   * distinct `w`-shingles that are CORPUS-HEAVY (document frequency ≥
   * `minDf`) — headers, footers, navigation chrome, license blocks. The
   * signal curation uses to route documents to boilerplate-stripping
   * (high fraction) versus leaving them alone, and the df-side
   * diagnostic for [[ngramJaccardPairs]]'s `maxDf` escape hatch.
   *
   * Scale shape: one shingle pass + a shingle-keyed df agg (map-side
   * combinable), then a semi-join-shaped attach of the heavy flag back
   * onto the shingle rows and a doc-keyed count — shuffles are keyed by
   * shingle then doc id, both bounded; nothing corpus-quadratic. The
   * heavy-shingle table is df-filtered BEFORE the join, so the attach
   * streams the corpus against a small build side.
   */
  def boilerplateProfile(docs: DataFrame, idCol: String, textCol: String,
                         w: Int = 3, minDf: Long = 10): DataFrame = {
    require(minDf >= 2, s"minDf=$minDf: a boilerplate shingle needs df >= 2")
    val sh = shingles(docs, idCol, textCol, w)
    val heavy = sh.groupBy(col("s"))
      .agg(countDistinct(col(idCol)).as("graft_df"))
      .filter(col("graft_df") >= minDf)
      .select(col("s"))
    val perDoc = sh.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"))
    val boiler = sh.join(heavy, "s")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_boilerplate"))
    perDoc.join(boiler, Seq(idCol), "left")
      .withColumn("n_boilerplate", coalesce(col("n_boilerplate"), lit(0L)))
      .withColumn("boiler_frac",
        round(col("n_boilerplate").cast(DoubleType) /
          col("n_shingles").cast(DoubleType), 6))
  }

  /**
   * Per-document NOVELTY profile — the first-occurrence yield signal: a
   * document's distinct `w`-shingles split into those it introduces to
   * the corpus (it is the smallest-id document containing them) versus
   * those already seen. Processing order = ascending id (the crawl-order
   * convention the rest of the dedup surface uses). This is the
   * per-document resolution of a dedup YIELD curve: Σ n_novel over a
   * prefix of ids is exactly the distinct-shingle count of that prefix,
   * so curation can read "how much new text does each additional slice
   * of this source buy" straight off the output (the marginal-utility
   * question behind dedup-rate audits in Lee et al. ACL'22 §4 and
   * RefinedWeb's dedup accounting, Penedo 2023 §3.3).
   *
   * `novelty_ppm` = ⌊10⁶ · n_novel / n_shingles⌋ is exact-integer
   * (IntegralDivide — the engine-portable quantization convention).
   *
   * Scale shape: one shingle pass, a shingle-keyed min aggregate
   * (map-side combinable), and ONE shingle-keyed attach join back —
   * the q208 boilerplate shape; nothing corpus-quadratic. A boilerplate
   * mega-shingle concentrates its attach partition exactly like q208's
   * df join — at that scale route the attach through the q142 hot-key
   * broadcast split ([[prefixCandidates]]'s device).
   */
  def noveltyProfile(docs: DataFrame, idCol: String, textCol: String,
                     w: Int = 3): DataFrame = {
    val sh = shingles(docs, idCol, textCol, w)
    val firstOwner = sh.groupBy(col("s"))
      .agg(min(col(idCol)).as("graft_fd"))
    sh.join(firstOwner, "s")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("graft_fd") === col(idCol), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty_ppm",
        expr("(1000000 * n_novel) div n_shingles"))
  }

  /**
   * Cross-source near-duplication matrix: for every unordered pair of
   * sources (crawls, dumps, vendors), how many verified near-dup pairs
   * span them, and how similar the worst offender is — the
   * which-of-my-corpora-overlap audit run before choosing mixture
   * weights (double-counted content inflates a source's effective
   * epochs). Pairs come from [[minHashLshPairs]] (same k/r/w/threshold
   * semantics); each doc's source is attached and the pair is keyed by
   * the CANONICAL (least, greatest) source pair so a↔b and b↔a
   * accumulate together. Intra-source duplication appears on the
   * diagonal (src_a = src_b).
   *
   * Scale shape: the dedup work is [[minHashLshPairs]]'s (banded,
   * never all-pairs); the source attach is two joins keyed on doc id
   * against an (id, source) projection — broadcast-eligible when the
   * pair set is small, plain shuffle-hash otherwise, either way
   * bounded by the verified-pair count, not the corpus. The final agg
   * is |sources|² keys — metadata.
   */
  def crossSourceOverlap(docs: DataFrame, idCol: String, textCol: String,
                         sourceCol: String, k: Int = 16, r: Int = 2,
                         w: Int = 3, threshold: Double = 0.5): DataFrame = {
    val pairs = minHashLshPairs(docs, idCol, textCol, k, r, w, threshold)
    val src = docs.select(col(idCol), col(sourceCol))
    pairs
      .join(src.select(col(idCol).as("d1"), col(sourceCol).as("graft_s1")), "d1")
      .join(src.select(col(idCol).as("d2"), col(sourceCol).as("graft_s2")), "d2")
      .groupBy(
        least(col("graft_s1"), col("graft_s2")).as("src_a"),
        greatest(col("graft_s1"), col("graft_s2")).as("src_b"))
      .agg(count(lit(1)).as("n_pairs"),
        max(col("jaccard")).as("max_jaccard"))
  }

  /**
   * Paragraph-level first-wins dedup with document reconstruction — the
   * CCNet curation stage (Wenzek et al. 2020 §3.1; also Dolma's
   * paragraph dedup): every paragraph is kept exactly ONCE across the
   * corpus, at its first occurrence in (doc, position) order; all later
   * copies — boilerplate headers, license blocks, mirrored passages —
   * are dropped and each document is REASSEMBLED from its surviving
   * paragraphs. This removes repeated content q208's boilerplate audit
   * only reports, at sub-document granularity q18's whole-doc exact
   * dedup can't reach.
   *
   * Paragraph boundary here: fixed `pWords`-word slices of the
   * whitespace token stream (the test corpus has no newline structure;
   * a real corpus would split on "\n\n" — same plan, different
   * boundary expression).
   *
   * Scale shape (100 TB):
   *  - Paragraph slicing is one codegen'd projection (sequence +
   *    explode + slice) — narrow, no shuffle.
   *  - Occurrences shuffle by md5(paragraph), NOT the paragraph text:
   *    16 bytes per row to the exchange regardless of paragraph length.
   *  - First-owner election is `min(struct(doc, pos))` per hash — a
   *    map-side-combinable agg, never a window over the corpus.
   *  - Reassembly groups kept occurrences by doc (one key-partitioned
   *    agg); paragraph text rides only INSIDE this doc-keyed exchange,
   *    and only for kept occurrences.
   *
   * Returns one row per document: `(id, n_paras, n_kept,
   * cleaned_text)` — `n_paras` its paragraph count, `n_kept` how many
   * survived (within-doc repeats also collapse: only the doc's first
   * copy of a paragraph can own it), and the reassembled text (empty
   * string when every paragraph lost its claim).
   */
  /** The paragraph-occurrence projection shared by [[paragraphDedup]]
    * and the streaming claim path: one row per (doc, paragraph
    * position) with the paragraph text and its md5 — a narrow codegen'd
    * sequence/explode/slice chain, batch- and stream-safe. */
  def paragraphOccurrences(docs: DataFrame, idCol: String, textCol: String,
                           pWords: Int): DataFrame = {
    require(pWords >= 1, s"pWords=$pWords: need at least 1 word per paragraph")
    val ws = col("graft_ws")
    val nParas = call_function("div",
      size(ws).cast(LongType) + (pWords - 1), lit(pWords.toLong))
    docs
      .select(col(idCol), split(col(textCol), " ").as("graft_ws"))
      .select(col(idCol), ws,
        explode(sequence(lit(0L), nParas - 1)).as("pos"))
      .select(col(idCol), col("pos"),
        concat_ws(" ", slice(ws, (col("pos") * pWords + 1).cast("int"),
          lit(pWords))).as("graft_pt"))
      .select(col(idCol), col("pos"), col("graft_pt"),
        md5(col("graft_pt")).as("graft_ph"))
  }

  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
                     pWords: Int): DataFrame = {
    val occ = paragraphOccurrences(docs, idCol, textCol, pWords)
    val owners = occ
      .groupBy(col("graft_ph"))
      .agg(min(struct(col(idCol), col("pos"))).as("graft_own"))
      .select(col("graft_ph"),
        col(s"graft_own.$idCol").as("graft_od"),
        col("graft_own.pos").as("graft_op"))
    val kept = occ.join(owners, "graft_ph")
      .filter(col(idCol) === col("graft_od") && col("pos") === col("graft_op"))
    val rebuilt = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("graft_pt")))),
          p => p("graft_pt")), " ").as("cleaned_text"))
    docs.select(col(idCol),
        call_function("div", size(split(col(textCol), " ")).cast(LongType)
          + (pWords - 1), lit(pWords.toLong)).as("n_paras"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
  }

  /**
   * Soft deduplication: instead of DROPPING near-duplicates, down-weight
   * every member of a near-dup cluster by its cluster size —
   * weight = 1/|cluster| — so each distinct piece of content contributes
   * one document's worth of training mass no matter how many times it
   * was crawled (the reweight-don't-remove strategy: SoftDeDup, He et
   * al. 2024, argues it beats hard removal; sampling-proportional-to-
   * uniqueness is also how Dolma/RedPajama ablations re-admit dup tails).
   * Clusters are the connected components of the verified MinHash-LSH
   * pair graph ([[minHashLshPairs]] → [[Graph.connectedComponents]]);
   * documents in no pair form singleton clusters with weight 1.
   *
   * Output per document: (id, n_words, cluster_size, weight_ppm =
   * ⌊10⁶/|cluster|⌋) — exact integers end to end. Feed `weight_ppm`
   * to the A-ES weighted samplers ([[Sampling]]) as-is.
   *
   * Scale shape: the pair graph is LSH-bounded (never all-pairs), CC is
   * the diameter-safe HashMin/two-phase iteration, cluster sizes are a
   * |components|-key agg, and the final attach is ONE left join of the
   * corpus against |clustered-docs| rows. Nothing quadratic, nothing
   * driver-side.
   */
  def softDedupWeights(docs: DataFrame, idCol: String, textCol: String,
                       k: Int = 16, r: Int = 4, w: Int = 3,
                       threshold: Double = 0.5): DataFrame = {
    val pairs = minHashLshPairs(docs, idCol, textCol, k, r, w, threshold)
    val comp = Graph.connectedComponents(pairs, "d1", "d2")
    val sizes = comp.groupBy(col("component"))
      .agg(count(lit(1)).as("graft_sz"))
    val clustered = comp.join(sizes, "component")
      .select(col("node").as(idCol), col("graft_sz"))
    docs.select(col(idCol),
        size(split(col(textCol), " ")).cast(LongType).as("n_words"))
      .join(clustered, Seq(idCol), "left")
      .select(col(idCol), col("n_words"),
        coalesce(col("graft_sz"), lit(1L)).as("cluster_size"))
      .withColumn("weight_ppm",
        expr("cast(1000000 as decimal(38,0)) div " +
          "cast(cluster_size as decimal(38,0))").cast(LongType))
  }

  /**
   * Blocking-quality audit — the two standard record-linkage metrics
   * (Christen, "Data Matching", 2012 §7.3) applied to the MinHash-LSH
   * blocking: PAIRS COMPLETENESS pc = |candidates ∩ truth| / |truth|
   * (the blocking's recall of true near-dup pairs) and REDUCTION RATIO
   * rr = 1 − |candidates| / C(n,2) (how much of the all-pairs work the
   * blocking eliminated). Together they quantify the LSH banding
   * trade-off that [[minHashCalibration]] measures at the estimator
   * level: raise r and rr improves while pc decays. Ground truth is the
   * exact n-gram Jaccard ≥ threshold pair set ([[ngramJaccardPairs]]'s
   * path). One summary row, all exact integers (ppm ratios by integral
   * division).
   *
   * Scale shape: candidates are band-join-bounded, truth is the
   * inverted-index join (df-cap upstream at real scale), and the four
   * inputs to the summary are 1-row aggregates crossJoined broadcast —
   * nothing data-scale ever reaches the driver. The audit is meant for
   * a SAMPLE at 100 TB (truth is quadratic in principle); the metrics
   * are ratios, so a uniform doc sample estimates them unbiasedly.
   */
  def blockingQualityAudit(docs: DataFrame, idCol: String, textCol: String,
                           k: Int = 16, r: Int = 4, w: Int = 3,
                           threshold: Double = 0.5): DataFrame = {
    val sh = shingles(docs, idCol, textCol, w)
    val cand = lshCandidates(bandsPerRow(docs, idCol, textCol, k, r, w), idCol)
    val truth = jaccardFromInter(pairIntersections(sh, idCol), sh, idCol)
      .filter(col("jaccard") >= threshold).select("d1", "d2")
    val nd = sh.agg(countDistinct(col(idCol)).as("n_docs"))
    val nc = cand.agg(count(lit(1)).as("n_candidates"))
    val nt = truth.agg(count(lit(1)).as("n_true_pairs"))
    val nf = truth.join(cand, Seq("d1", "d2"))
      .agg(count(lit(1)).as("n_found"))
    nd.crossJoin(broadcast(nc)).crossJoin(broadcast(nt))
      .crossJoin(broadcast(nf))
      .withColumn("total_pairs",
        expr("n_docs * (n_docs - 1) div 2").cast(LongType))
      .withColumn("pc_ppm",
        expr("cast(n_found * 1000000 as decimal(38,0)) div " +
          "cast(n_true_pairs as decimal(38,0))").cast(LongType))
      .withColumn("rr_ppm",
        expr("cast((total_pairs - n_candidates) * 1000000 as " +
          "decimal(38,0)) div cast(total_pairs as decimal(38,0))")
          .cast(LongType))
  }

  /**
   * Character-bigram F1 between candidate document pairs — the chrF
   * family's core statistic (Popović, WMT 2015: character n-gram F
   * scores track human judgment better than word BLEU for morphology-
   * rich text), here at n = 2 where precision/recall/F collapse to one
   * exact rational: with m = Σ_g min(c₁(g), c₂(g)) the multiset bigram
   * overlap and h, r the bigram totals of the two sides,
   * P = m/h, R = m/r, F1 = 2PR/(P+R) = 2m/(h+r). On LSH candidate
   * pairs this grades HOW close each near-duplicate is on raw
   * characters — the shingle-free second opinion next to word-level
   * Jaccard (q19), cheap enough to run on every banded candidate.
   *
   * Hashed surface: `m`, `h`, `r` exact counts and the half-away micro
   * of 2m/(h+r) ([[ExactRound]]) — no floats.
   *
   * Shape: one posexplode per doc builds (doc, bigram, count) — rows
   * bounded by total characters; candidate pairs join it twice keyed on
   * (doc, bigram); the min/sum rollup is map-side combinable. Nothing
   * quadratic: the pair set is the LSH-banded candidate list, not a
   * cross join.
   */
  def charBigramF1Pairs(docs: DataFrame, pairs: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val grams = docs
      .select(col(idCol).as("graft_id"),
        explode(expr(s"CASE WHEN length($textCol) >= 2 THEN " +
          s"transform(sequence(1, length($textCol) - 1), " +
          s"i -> substring($textCol, i, 2)) " +
          "ELSE array() END")).as("graft_g"))
      .groupBy(col("graft_id"), col("graft_g"))
      .agg(count(lit(1)).as("graft_c"))
    val totals = grams.groupBy(col("graft_id"))
      .agg(sum(col("graft_c")).as("graft_tot"))
    val p = pairs.select(col("d1"), col("d2"))
    val overlap = p
      .join(grams.select(col("graft_id").as("d1"), col("graft_g"),
        col("graft_c").as("graft_c1")), Seq("d1"))
      .join(grams.select(col("graft_id").as("d2"), col("graft_g"),
        col("graft_c").as("graft_c2")), Seq("d2", "graft_g"))
      .groupBy(col("d1"), col("d2"))
      .agg(sum(least(col("graft_c1"), col("graft_c2"))).as("m"))
    p.join(overlap, Seq("d1", "d2"), "left")
      .join(totals.select(col("graft_id").as("d1"),
        col("graft_tot").as("h")), Seq("d1"), "left")
      .join(totals.select(col("graft_id").as("d2"),
        col("graft_tot").as("r")), Seq("d2"), "left")
      .select(col("d1"), col("d2"),
        coalesce(col("m"), lit(0L)).as("m"),
        coalesce(col("h"), lit(0L)).as("h"),
        coalesce(col("r"), lit(0L)).as("r"),
        ExactRound.halfAwayDiv(
          coalesce(col("m"), lit(0L)) * lit(2L) * lit(1000000L),
          coalesce(col("h"), lit(0L)) + coalesce(col("r"), lit(0L)))
          .as("f1_micro"))
  }

  /**
   * Benchmark n-gram decontamination (the GPT-3 appendix-C / PaLM
   * practice, Brown et al. 2020: remove any training document sharing a
   * 13-gram with an evaluation set): per corpus document, how many of
   * its distinct n-word shingles also occur anywhere in `benchmark` —
   * n_contaminated ≥ 1 is the standard removal trigger. Run BEFORE any
   * eval is trusted; leakage this audit misses becomes inflated
   * benchmark numbers downstream.
   *
   * Output: one row per corpus document (documents shorter than n words
   * report n_grams = 0 — never silently dropped) with exact counts and
   * the flag.
   *
   * Scale shape: the benchmark side is an EVAL SET — bounded by
   * contract — so its distinct-shingle set broadcasts; the corpus
   * contributes one [[shingles]] projection (distinct n-grams per doc,
   * exploded) and two doc-keyed map-side-combinable counts. The corpus
   * shingle frame feeds both counts through one lazy lineage cut.
   * Nothing corpus² anywhere; if the benchmark ever outgrows broadcast
   * range the join degrades to a shingle-keyed equi-join (drop the
   * broadcast hint), not a different algorithm.
   */
  def ngramDecontamination(corpus: DataFrame, benchmark: DataFrame,
                           idCol: String, textCol: String,
                           n: Int = 13): DataFrame = {
    require(n >= 2 && n <= 50, s"n=$n out of range (2..50)")
    // LAZY cut kept (r21, measured three ways at sf0.1 min-of-3): the
    // two consumers are sibling STAGES of one job, which the scheduler
    // serializes enough that the lazy cut computes once (lazy 0.66 s vs
    // no-cut 0.93 s vs eager's separate-job barrier) — unlike the
    // operators whose consumers are concurrently-launched broadcast
    // BUILD JOBS, where lazy races and eager wins. Scale caveat stands:
    // the shingle slice is corpus-scale with payload, so block-memory
    // materialization trades a duplicate keyed pass for storage — a
    // production run should spill this to real storage instead.
    val cs = shingles(corpus, idCol, textCol, n)
      .localCheckpoint(eager = false)
    val bs = shingles(benchmark, idCol, textCol, n)
      .select(col("s")).distinct()
    val totals = cs.groupBy(col(idCol)).agg(count(lit(1)).as("n_grams"))
    val hits = cs.join(broadcast(bs), Seq("s"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_contaminated"))
    corpus.select(col(idCol))
      .join(totals, Seq(idCol), "left")
      .join(hits, Seq(idCol), "left")
      .na.fill(0L, Seq("n_grams", "n_contaminated"))
      .select(col(idCol), col("n_grams"), col("n_contaminated"),
        (col("n_contaminated") >= 1L).as("is_contaminated"))
  }

  /**
   * Cross-stratum n-gram leakage matrix — [[ngramDecontamination]]
   * lifted from "corpus vs one benchmark" to EVERY unordered stratum
   * pair: for sources (a, b), how many distinct n-word shingles occur
   * in both, plus each side's containment share. The source-level
   * leakage triage that decides which crawl pairs need document-level
   * decontamination at all — the exact-overlap complement of q203's
   * KMV estimate and q93's near-dup matrix (those see similarity; this
   * sees verbatim n-gram leakage).
   *
   * Hashed surface: exact counts and floor-ppm containments.
   *
   * Scale shape: one shingle projection collapsed to DISTINCT
   * (stratum, shingle) rows; the pair count is a shingle-keyed
   * self-join whose per-shingle fan-out is bounded by |strata|² — a
   * boilerplate shingle present everywhere contributes a CONSTANT
   * ≤ C(|strata|, 2) rows, never corpus². Totals ride a |strata|-row
   * broadcast.
   */
  def ngramLeakageMatrix(docs: DataFrame, idCol: String, textCol: String,
                         strataCol: String, n: Int = 13): DataFrame = {
    require(n >= 2 && n <= 50, s"n=$n out of range (2..50)")
    // LAZY cut kept (r21): same measured trade as
    // [[ngramDecontamination]]'s shingle slice — the three consumers
    // are sibling stages of one job (not racing broadcast-build jobs),
    // so the lazy cut computes once; same production scale caveat.
    val ss = shingles(docs, idCol, textCol, n)
      .join(docs.select(col(idCol), col(strataCol)), Seq(idCol))
      .select(col(strataCol).as("graft_src"), col("s")).distinct()
      .localCheckpoint(eager = false)
    val totals = ss.groupBy(col("graft_src"))
      .agg(count(lit(1)).as("graft_tot"))
    val shared = ss.select(col("graft_src").as("src_a"), col("s"))
      .join(ss.select(col("graft_src").as("src_b"), col("s"))
        .hint("shuffle_hash"), Seq("s"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared_grams"))
    shared
      .join(broadcast(totals.select(col("graft_src").as("src_a"),
        col("graft_tot").as("graft_ta"))), Seq("src_a"))
      .join(broadcast(totals.select(col("graft_src").as("src_b"),
        col("graft_tot").as("graft_tb"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_shared_grams"),
        col("graft_ta").as("n_grams_a"), col("graft_tb").as("n_grams_b"),
        expr("cast(n_shared_grams * 1000000 as decimal(38,0)) div " +
          "cast(graft_ta as decimal(38,0))").cast(LongType)
          .as("contain_a_ppm"),
        expr("cast(n_shared_grams * 1000000 as decimal(38,0)) div " +
          "cast(graft_tb as decimal(38,0))").cast(LongType)
          .as("contain_b_ppm"))
  }
}
