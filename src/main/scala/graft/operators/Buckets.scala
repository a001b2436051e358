package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.{Column, DataFrame}

/**
 * The banded-candidate core of the three near-dup families: MinHash-LSH
 * text bands keyed (band, bh), hyperplane-LSH vector tables keyed
 * (tbl, sig) and SimHash/pHash pigeonhole slices keyed (sl, sv). Each
 * family turns a row into bucket rows (id, key columns…, carried
 * columns…) with its own per-row producer ([[TextDedup.bandsPerRow]],
 * [[Similarity.lshSignaturesMulti]], [[TextDedup.hammingSliceRows]]) and
 * verifies candidates its own way; everything between — the bucket
 * self-join, the census, the drop-cap filter, the build-time split of a
 * stored index and the probe of new rows against it — is written once
 * here. Batch pairs, stored index and stream are modes of the same
 * index-then-verify structure.
 *
 * == Lossless split ==
 * A bucket of B > cap members funnels its B² fan-out through one join
 * key, which AQE cannot divide. [[splitIndex]] gives each member the
 * sub-bucket u = (rank-of-id − 1) mod m with m = ⌈B/cap⌉: round-robin, so
 * every sub-bucket holds ≤ ⌈B/m⌉ ≤ cap members — a hard bound, not an
 * expectation. The rank is a deterministic `row_number` the DuckDB
 * oracles can replay.
 *  - Self-join ([[selfPairs]] with a cap): the left row fixes
 *    block_i = its own u and fans out over every block_j < m; the right
 *    row mirrors it. A pair (x, y) of the bucket meets in exactly one
 *    cell, (u_x, u_y), and d1 < d2 keeps one ordered copy as in the plain
 *    self-join. Every cell joins ≤ cap × cap rows.
 *  - Probe ([[probeIndex]] against a split index): a new row reads the
 *    bucket's m from the census (one row per bucket, so no fan-out),
 *    explodes over the m sub-buckets and meets the index on (key, u).
 *    The old row has ONE u and the new row covers all of them, so every
 *    colliding (new, old) pair meets exactly once per shared bucket.
 * Either way the candidate set, and the verified pair set downstream, is
 * IDENTICAL to the uncapped join's. The split buys a per-cell bound, not
 * less work: B members still owe B(B−1)/2 pairs. Under-cap buckets ride
 * the plain single-key join. The q350/q358/q363 (self-join) and
 * q362/q375/q383 (index) oracles are the UNCAPPED computations, so a
 * green hash is the proof on the fixtures; PropertySpec holds the
 * any-corpus, any-cap laws.
 *
 * == Physical choices follow from the inputs ==
 *  - The census is broadcast when the family's key space is bounded
 *    ([[Family.bounded]]: ≤ nTables·2^planes vector buckets,
 *    ≤ bands·2^(bits/bands) Hamming slices, whatever the corpus size).
 *    MinHash band hashes live in md5 space, so a text census is
 *    |docs| × bands rows and is never broadcast: the self-join sizes
 *    buckets with a window instead.
 *  - Self-joins hint `shuffle_hash`: both sides are corpus-scale bucket
 *    rows that partition cleanly and must never become a broadcast
 *    HashedRelation.
 *  - A probe whose new side is a stream leaves join planning to Spark
 *    per micro-batch (no hints) and materializes a split index's census
 *    once, eagerly, when the stream is built, instead of re-running the
 *    distinct every trigger. `localCheckpoint` pins those blocks to
 *    executor storage with lineage cut, so in a long-running query an
 *    executor loss fails the query rather than recomputing; a deployment
 *    that must survive executor churn should read the census from a
 *    table refreshed out of band. A batch probe hints `shuffle_hash` on
 *    the corpus-scale index (and on a text census) and recomputes the
 *    census inside its one job.
 */
private[graft] object Buckets {

  /** A family's bucket key columns. `bounded`: the key space itself caps
    * the number of occupied buckets, so a census is metadata. */
  final case class Family(keys: Seq[String], bounded: Boolean)

  val TextBands = Family(Seq("band", "bh"), bounded = false)
  val VectorTables = Family(Seq("tbl", "sig"), bounded = true)
  val HammingSlices = Family(Seq("sl", "sv"), bounded = true)

  /** (key…, bucket_size): one map-side-combinable hash-agg. */
  def census(rows: DataFrame, f: Family): DataFrame =
    rows.groupBy(f.keys.map(col): _*).agg(count(lit(1)).as("bucket_size"))

  /** `rows` with their bucket's size in `graft_bs`. */
  private def sized(rows: DataFrame, f: Family): DataFrame =
    if (f.bounded)
      rows.join(broadcast(census(rows, f)
        .withColumnRenamed("bucket_size", "graft_bs")), f.keys)
    else rows.withColumn("graft_bs",
      count(lit(1)).over(Window.partitionBy(f.keys.map(col): _*)))

  /** The rows of buckets holding at most `cap` members: the census
    * filter of the drop-cap policy (its excluded buckets are the census
    * rows above the cap). */
  def dropCapped(rows: DataFrame, f: Family, cap: Long): DataFrame = {
    require(cap >= 1, s"maxBucket=$cap must be >= 1")
    sized(rows, f).filter(col("graft_bs") <= cap).drop("graft_bs")
  }

  /** Adds `graft_m` = ⌈B/cap⌉ and the sub-bucket `graft_u`, so every
    * (key, graft_u) cell holds ≤ cap rows (see the class doc). `size`
    * names a column already holding each row's bucket size B; without
    * one, B is counted with a window over the key. */
  def splitIndex(rows: DataFrame, idCol: String, f: Family, cap: Long,
                 size: Option[String] = None): DataFrame = {
    require(cap >= 1, s"maxBucket=$cap must be >= 1")
    val w = Window.partitionBy(f.keys.map(col): _*)
    val b = size.fold(count(lit(1)).over(w))(col)
    rows
      .withColumn("graft_m",
        call_function("div", b + lit(cap) - 1, lit(cap)).cast(LongType))
      .withColumn("graft_u", (row_number().over(w.orderBy(col(idCol))) - 1)
        .cast(LongType) % col("graft_m"))
  }

  /** Distinct (d1 < d2, carried…1, carried…2) pairs sharing a bucket.
    * Each carried column `c` comes out as `c1`/`c2`. `split = Some(cap)`
    * block-joins the over-cap buckets losslessly (see the class doc). */
  def selfPairs(rows: DataFrame, idCol: String, f: Family,
                carry: Seq[String] = Nil,
                split: Option[Long] = None): DataFrame = {
    val out = (Seq("d1", "d2") ++ carry.map(_ + "1") ++ carry.map(_ + "2"))
      .map(col)
    def side(df: DataFrame, s: String, block: Column*): DataFrame =
      df.select((col(idCol).as("d" + s) +: carry.map(c => col(c).as(c + s))) ++
        f.keys.map(col) ++ block: _*)
    def pairs(l: DataFrame, r: DataFrame, on: Seq[String]): DataFrame =
      l.join(r.hint("shuffle_hash"), on)
        .filter(col("d1") < col("d2"))
        .select(out: _*)
    split match {
      case None => pairs(side(rows, "1"), side(rows, "2"), f.keys).distinct()
      case Some(cap) =>
        val s = sized(rows, f)
        val cool = s.filter(col("graft_bs") <= cap)
        val hot = splitIndex(s.filter(col("graft_bs") > cap), idCol, f, cap,
          size = Some("graft_bs"))
        val blocks = explode(sequence(lit(0L), col("graft_m") - 1))
        pairs(side(cool, "1"), side(cool, "2"), f.keys)
          .unionByName(pairs(
            side(hot.withColumn("graft_bj", blocks), "1",
              col("graft_u").as("graft_bi"), col("graft_bj")),
            side(hot.withColumn("graft_bi", blocks), "2",
              col("graft_bi"), col("graft_u").as("graft_bj")),
            f.keys ++ Seq("graft_bi", "graft_bj")))
          .distinct()
    }
  }

  /** `newRows` (key columns plus anything the caller keeps) joined with
    * the stored `index` rows sharing a bucket, one row per collision;
    * `indexCols` are the index columns to carry (renamed by the caller,
    * e.g. id as d_old). An index built by [[splitIndex]] (it carries
    * `graft_m`) is probed with the block join (see the class doc); the
    * output columns are the same either way. */
  def probeIndex(newRows: DataFrame, index: DataFrame, f: Family,
                 indexCols: Column*): DataFrame = {
    val stream = newRows.isStreaming
    def planned(df: DataFrame): DataFrame =
      if (stream) df else df.hint("shuffle_hash")
    def indexSide(keys: Seq[String]): DataFrame =
      planned(index.select(indexCols ++ keys.map(col): _*))
    if (!index.columns.contains("graft_m"))
      newRows.join(indexSide(f.keys), f.keys)
    else {
      val distinctCensus =
        index.select((f.keys :+ "graft_m").map(col): _*).distinct()
      val materialized =
        if (stream) distinctCensus.localCheckpoint(eager = true)
        else distinctCensus
      val census =
        if (f.bounded) broadcast(materialized) else planned(materialized)
      newRows.join(census, f.keys)
        .withColumn("graft_u", explode(sequence(lit(0L), col("graft_m") - 1)))
        .join(indexSide(f.keys :+ "graft_u"), f.keys :+ "graft_u")
        .drop("graft_u", "graft_m")
    }
  }
}
