package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{
  ByteType, DataType, DecimalType, IntegerType, LongType, ShortType}

/**
 * Distributed graph primitives for the dedup pipeline. Near-dup detection
 * (MinHash LSH, SimHash, cosine buckets) yields PAIRS; turning pairs into
 * dedup decisions needs the transitive closure — duplicate CLUSTERS — so a
 * curation run can keep exactly one survivor per component.
 *
 * The algorithm is HashMin label propagation: every node starts as its own
 * label, each round every node takes the min of its own and its neighbors'
 * labels, converging in O(graph diameter) rounds. Each round is ONE shuffle
 * (a groupBy on node id) and no state grows beyond (node, label); only an
 * edge set small enough to run on the driver is ever collected (see
 * [[connectedComponents]]). Near-dup graphs are almost-cliques of small
 * diameter, so 3-5 rounds close them in practice. For adversarial
 * long-chain graphs at 100 TB the round count is the bottleneck and the
 * large-star/small-star algorithm (Kiveris et al., "Connected Components
 * in MapReduce and Beyond", SoCC'14) halves the rounds; HashMin keeps the
 * per-round plan simplest and is the standard first choice (GraphFrames
 * ships the same loop shape).
 */
object Graph {

  /**
   * Degree-cap a weighted similarity graph: keep an edge iff it ranks in
   * EITHER endpoint's top-`j` by (weight desc, neighbor asc) — the
   * kNN-graph symmetrization (keep-if-either preserves connectivity;
   * keep-if-both can shatter genuine clusters). This is the guard that
   * bounds [[connectedComponents]] fan-in when boilerplate turns a dedup
   * graph into near-cliques: a doc with 10⁵ near-dups contributes j
   * edges, not 10⁵, so per-round shuffle volume stays O(j·|nodes|).
   * Compiles to WindowGroupLimit over the symmetrized edge list (per-
   * partition top-j heaps); the final cut is a semi-join back to the
   * original pairs, so output rows keep their original columns.
   */
  /**
   * Per-node triangle counts and local clustering coefficients over an
   * id-oriented edge list (src < dst, the dedup-pair convention) — the
   * cohesion metrics of a duplicate graph: a near-dup CLUSTER (template
   * family) is triangle-dense, a near-dup CHAIN (drifting revisions) is
   * triangle-free, and the clustering coefficient separates the two
   * failure modes before choosing a survivor policy.
   *
   * Triangles enumerate once each via the oriented 2-path join
   * (a<b<c ⇒ edges ab·bc·ac): two equi-joins on node ids, never an
   * all-pairs expansion. With the default id orientation a low-id hub
   * pays its degree² in 2-path candidates — acceptable when dedup graphs
   * are degree-capped upstream by [[pruneDegree]]. For uncapped skewed
   * graphs pass `orientByDegree = true` (Cohen's trick, "Graph Twiddling
   * in a MapReduce World", CiSE 2009): edges are re-oriented from the
   * lower-(degree, id) endpoint to the higher, a total order, so any
   * triangle still appears exactly once while every node's out-degree —
   * and therefore its 2-path fan-out — is bounded by O(√m). Counts and
   * coefficients are IDENTICAL under both orientations (the flag only
   * changes join shape), but it costs two extra degree-attach joins, so
   * it stays off by default. Coefficient = 2T / (d·(d−1)), NULL for
   * degree-1 nodes.
   */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String,
                     orientByDegree: Boolean = false): DataFrame = {
    val und = edges
      .select(col(srcCol).as("graft_u"), col(dstCol).as("graft_v"))
      .distinct()
    val degrees = und
      .select(explode(array(col("graft_u"), col("graft_v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val e =
      if (!orientByDegree) und
      else {
        // attach each endpoint's degree, then point the edge from the
        // smaller (degree, id) to the larger — ties broken by id keep
        // the orientation a strict total order
        val du = degrees.select(col("node").as("graft_u"),
          col("degree").as("graft_du"))
        val dv = degrees.select(col("node").as("graft_v"),
          col("degree").as("graft_dv"))
        val flip = col("graft_du") > col("graft_dv") ||
          (col("graft_du") === col("graft_dv") &&
            col("graft_u") > col("graft_v"))
        und.join(du, "graft_u").join(dv, "graft_v")
          .select(
            when(flip, col("graft_v")).otherwise(col("graft_u"))
              .as("graft_u2"),
            when(flip, col("graft_u")).otherwise(col("graft_v"))
              .as("graft_v2"))
          .select(col("graft_u2").as("graft_u"),
            col("graft_v2").as("graft_v"))
      }
    val tri = e.as("ab")
      .join(e.as("bc"), col("ab.graft_v") === col("bc.graft_u"))
      .join(e.as("ac"),
        col("ac.graft_u") === col("ab.graft_u") &&
          col("ac.graft_v") === col("bc.graft_v"))
      .select(col("ab.graft_u").as("a"), col("ab.graft_v").as("b"),
        col("bc.graft_v").as("c"))
    val triPerNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    degrees.join(triPerNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") >= 2,
          round(lit(2.0) * coalesce(col("n_triangles"), lit(0L)) /
            (col("degree") * (col("degree") - 1)), 6))
          .as("clustering_coeff"))
  }

  def pruneDegree(pairs: DataFrame, srcCol: String, dstCol: String,
                  weightCol: String, j: Int): DataFrame = {
    require(j >= 1, "degree cap must be >= 1")
    // r21: EAGER lineage cut — the pair list is scanned THREE times
    // (both orientations of the symmetric union plus the final
    // semi-join probe), all sibling stages of one job; for LSH-derived
    // pair lists each scan re-ran the whole candidate chain. Same cut
    // clusterMedoids applies one layer up.
    val p = pairs.localCheckpoint()
    val sym = p.select(col(srcCol).as("a"), col(dstCol).as("b"),
        col(weightCol).as("w"))
      .unionByName(p.select(col(dstCol).as("a"), col(srcCol).as("b"),
        col(weightCol).as("w")))
    val kept = LatestSnapshot.topK(sym, Seq("a"), col("w").desc,
        Seq(col("b").asc), j)
      .select(least(col("a"), col("b")).as("graft_ka"),
        greatest(col("a"), col("b")).as("graft_kb"))
      .distinct()
    // the semi-join probes on the CANONICALIZED endpoints, so callers may
    // pass edges in either orientation (a (5, 3) row matches kept (3, 5))
    p.join(kept,
        least(col(srcCol), col(dstCol)) === col("graft_ka") &&
          greatest(col(srcCol), col(dstCol)) === col("graft_kb"),
        "left_semi")
  }

  /**
   * Connected components of the undirected graph given as an edge list.
   * Returns (`node`, `component`) where `component` is the smallest node
   * id reachable from `node`. Nodes are those appearing in ≥1 edge.
   *
   * Strategy by size (HashMin): one probe reads at most 2^16 + 1 rows
   * of the symmetric edge set. If it holds at most 2^16 rows and the
   * ids are integral, the rounds run on the driver over dense indices
   * and CSR adjacency — a few MB of driver heap — and the labels come
   * back as a local DataFrame: the probe is the only action, with no
   * per-round jobs, probes or lineage cuts (the contracted delta graphs
   * of [[incrementalComponents]] are typically this small). Otherwise
   * the rounds stay distributed and the driver pulls back ONE scalar
   * per probe (the exact label sum, for convergence detection); lineage
   * is truncated each round, since without that the iterated plan nests
   * `maxIters` self-joins and analysis cost explodes. Both paths run the same rounds under the
   * same probe schedule, so they return the same rows, schema and round
   * count, and throw the same way.
   *
   * Checkpointing mode (distributed rounds; the driver path keeps no
   * round state on executors): by default each round uses
   * `localCheckpoint`, which stores blocks in EXECUTOR memory/disk —
   * fast, but on a real cluster an executor loss mid-loop kills the job
   * (blocks are not replicated to reliable storage). Passing
   * `reliable = true` (after `spark.sparkContext.setCheckpointDir` to an
   * HDFS/object-store path; required on both paths) makes every
   * `checkpointInterval`-th round a reliable `checkpoint()`.
   * NOTE the honest contract: intermediate rounds still live in
   * executor-local blocks, and Spark does NOT auto-resume from the last
   * reliable checkpoint — an executor loss during an intermediate round
   * still fails the JOB; what the reliable snapshots buy is a cheap
   * restart point for the CALLER's retry (re-run from the saved labels
   * instead of round 0). Only `checkpointInterval = 1` removes the
   * in-job failure window, at a checkpoint-dir write per round.
   *
   * Throws `IllegalStateException` if the loop exhausts `maxIters` before
   * convergence — a partially-propagated labeling is WRONG (not an
   * approximation: labels would still be moving), and must never ship as
   * a green-looking answer. Size `maxIters` to the expected diameter
   * (HashMin) or to ~⌈log₂ n⌉² (two-phase).
   *
   * `algorithm`:
   *   - `"hashmin"` (default): O(diameter) rounds, one shuffle per
   *     round, state = (node, label); on the driver when small (above).
   *     Right for near-dup graphs, whose components are almost-cliques
   *     of tiny diameter. A null id is a node that only receives labels:
   *     it ends with the least component among its neighbors.
   *   - `"two-phase"`: the alternating large-star/small-star algorithm
   *     (Kiveris et al., "Connected Components in MapReduce and
   *     Beyond", SoCC'14), which converges in O(log² n) rounds
   *     regardless of diameter — the 100 TB choice when components can
   *     be long chains (revision histories, link graphs) where HashMin's
   *     diameter bound explodes. Each round rewrites the EDGE set
   *     (large-star hangs every above-id neighbor off the local min,
   *     small-star re-parents below-id neighbors), so per-round cost is
   *     an edge-keyed groupBy + join rather than HashMin's node-keyed
   *     one; the set shrinks toward the star fixpoint where every edge
   *     is (member, component-min). Convergence is detected EXACTLY
   *     and EARLY: one role-count aggregate per round proves the set is
   *     already a min-rooted star forest (the alternation's only
   *     fixpoints, Kiveris §3) the round it forms — the set-equality
   *     alternative needs the round AFTER to observe nothing moved.
   *     Always distributed; a null id is labeled null.
   */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIters: Int = 25,
                          reliable: Boolean = false,
                          checkpointInterval: Int = 5,
                          algorithm: String = "hashmin"): DataFrame =
    connectedComponentsWithRounds(edges, srcCol, dstCol, maxIters,
      reliable, checkpointInterval, algorithm)._1

  /** [[connectedComponents]] plus the number of rounds it took — the
   *  observable the two-phase spec asserts on (a 10⁴-node path must
   *  close in ≈log₂ rounds, not the 10⁴ HashMin would need). */
  def connectedComponentsWithRounds(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIters: Int = 25, reliable: Boolean = false,
      checkpointInterval: Int = 5,
      algorithm: String = "hashmin"): (DataFrame, Int) = {
    require(algorithm == "hashmin" || algorithm == "two-phase",
      s"unknown connected-components algorithm '$algorithm'")
    require(!reliable ||
      edges.sparkSession.sparkContext.getCheckpointDir.isDefined,
      "reliable=true requires spark.sparkContext.setCheckpointDir(...)")
    // lazy localCheckpoint: every round's convergence probe (labelSum /
    // isStarForest) is the first action on the saved frame, so it
    // materializes the checkpoint in the SAME job — an eager checkpoint
    // would pay one extra full-pipeline job launch per round
    def save(df: DataFrame, round: Int): DataFrame =
      if (reliable && round % checkpointInterval == 0) df.checkpoint()
      else df.localCheckpoint(eager = false)
    if (algorithm == "two-phase")
      return twoPhase(edges, srcCol, dstCol, maxIters, save)
    val e = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
    // symmetric closure: propagate labels in both directions
    val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
      .distinct().persist()
    val seed = sym.select(col("a").as("node")).distinct()
      .withColumn("component", col("node"))
    // one round: every node takes the min of its own and its neighbors'
    // labels (a null node only receives — the join never matches null)
    def step(cur: DataFrame): DataFrame = {
      val msgs = sym.join(cur, sym("b") === cur("node"))
        .select(sym("a").as("node"), col("component"))
      cur.unionByName(msgs)
        .groupBy("node").agg(min("component").as("component"))
    }
    // Size decides the strategy, as a small relation is broadcast rather
    // than shuffled: a symmetric edge set of at most LocalMaxEdges rows
    // runs its rounds on the driver after one probe action. On a larger
    // graph the probe's rows are dropped: it fills sym cache partitions
    // that the first round scans anyway, but its 1-2 take jobs and the
    // shipped rows are extra (0.2-0.3 s on 4 cores).
    val onDriver = localIds.lift(sym.schema("a").dataType).flatMap { toId =>
      val rows = sym.limit(LocalMaxEdges + 1).collect()
      Option.when(rows.length <= LocalMaxEdges) {
        val (labels, iter, converged) = localHashMin(rows, maxIters, toId)
        (edges.sparkSession.createDataFrame(labels.asJava, step(seed).schema),
          iter, converged)
      }
    }
    // Convergence scalar: HashMin labels only ever DECREASE, so the label
    // set changed iff Σ component changed — one exact-decimal aggregate
    // per round instead of a join against the previous labels (saves a
    // |nodes|-sized join + filter per round; DECIMAL(38,0) cannot
    // overflow on int64 labels at any node count below 10^19). The null
    // node is left out: its label rises from null, which could cancel a
    // decrease elsewhere in the sum.
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val s = df.agg(sum(when(col("node").isNotNull, col("component"))
          .cast(DecimalType(38, 0))))
        .head().getDecimal(0)
      if (s == null) java.math.BigDecimal.ZERO else s // empty node set
    }
    val (labels, iter, converged) = onDriver.getOrElse(
      hashMinRounds(save(seed, 0), maxIters)(
        (cur, round) => save(step(cur), round))(labelSum))
    sym.unpersist()
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIters rounds — " +
      "labels were still propagating; raise maxIters (graph diameter " +
      "exceeds the round budget)")
    (labels, iter)
  }

  /** Symmetric edge sets of at most this many rows run HashMin on the
    * driver. They hold at most as many nodes, so the collected rows, the
    * id index, the CSR arrays and two label arrays take a few MB of
    * driver heap. */
  private val LocalMaxEdges = 1 << 16

  /** Id types the driver path handles: the integral types, widened to
    * Long for the rounds and narrowed back for the result rows. Any
    * other id type takes the distributed loop. */
  private val localIds: PartialFunction[DataType, Long => Any] = {
    case ByteType => _.toByte
    case ShortType => _.toShort
    case IntegerType => _.toInt
    case LongType => l => l
  }

  /** The HashMin round and probe schedule, shared by the distributed and
    * the driver loop so both run the same rounds: `round(state, r)`
    * applies round r, `labelSum` is the convergence scalar. Returns the
    * final state, the rounds run and whether the labels converged.
    *
    * r20: probe BATCHING for long-diameter graphs. The convergence probe
    * is one action per round — an O(|labels|) aggregate plus a driver
    * round-trip (plan analysis, AQE stage scheduling), which on a
    * diameter-d graph costs d probes for work the labels themselves
    * reveal for free (monotone-decreasing sum: equality across ANY
    * number of batched steps ⟺ none of them changed a label). Near-dup
    * graphs are near-cliques that close in ≤3 rounds, so the first 3
    * probes stay per-step (their behavior — and per-step cost at scale —
    * is bit-unchanged); only a graph still moving after 3 rounds has
    * revealed a long diameter, and from there steps run 4 per probe:
    * 4× fewer label-table scans and driver round-trips, at most 3
    * post-convergence propagation steps wasted (each a no-op join over
    * already-fixed labels). q289's diameter-24 ε-graph measured 24
    * probe actions → 9 under this schedule. */
  private def hashMinRounds[S](init: S, maxIters: Int)(
      round: (S, Int) => S)(labelSum: S => java.math.BigDecimal)
      : (S, Int, Boolean) = {
    var labels = init
    var prevSum = labelSum(labels)
    var iter = 0
    var probes = 0
    var converged = false
    while (iter < maxIters && !converged) {
      val steps = if (probes < 3) 1 else math.min(4, maxIters - iter)
      for (_ <- 1 to steps) {
        iter += 1
        labels = round(labels, iter)
      }
      val s = labelSum(labels)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      probes += 1
    }
    (labels, iter, converged)
  }

  /** HashMin on the driver over the collected symmetric edge set `rows`
    * (a, b): dense node indices, CSR adjacency (a receives from b) and
    * an `Array[Long]` of labels, under [[hashMinRounds]]. Returns the
    * (node, component) rows, ids mapped back by `toId`. A null id is a
    * node as in the distributed plan: it only receives, so it ends with
    * the least label among its neighbors. */
  private def localHashMin(rows: Array[Row], maxIters: Int, toId: Long => Any)
      : (Seq[Row], Int, Boolean) = {
    val index = mutable.LongMap.empty[Int]
    val ids = mutable.ArrayBuilder.make[Long]
    def at(r: Row, i: Int): Int =
      if (r.isNullAt(i)) -1
      else {
        val id = r.getAs[Number](i).longValue
        index.getOrElseUpdate(id, { ids += id; index.size })
      }
    val src = rows.map(at(_, 0))
    val dst = rows.map(at(_, 1))
    val hasNull = src.contains(-1)
    val n = index.size
    val start = new Array[Int](n + 1)
    for (j <- rows.indices if src(j) >= 0 && dst(j) >= 0) start(src(j) + 1) += 1
    for (v <- 0 until n) start(v + 1) += start(v)
    val nbr = new Array[Int](start(n))
    val fill = start.clone()
    for (j <- rows.indices if src(j) >= 0 && dst(j) >= 0) {
      nbr(fill(src(j))) = dst(j)
      fill(src(j)) += 1
    }
    val toNull = rows.indices.filter(j => src(j) < 0 && dst(j) >= 0)
      .map(dst).toArray
    // state: the labels of the indexed nodes and the null node's label
    def round(s: (Array[Long], Option[Long]), r: Int) = {
      val (cur, nullLabel) = s
      val next = Array.tabulate(n) { v =>
        var m = cur(v)
        var k = start(v)
        while (k < start(v + 1)) { m = math.min(m, cur(nbr(k))); k += 1 }
        m
      }
      (next, (nullLabel ++ toNull.map(cur)).minOption)
    }
    def labelSum(s: (Array[Long], Option[Long])) = new java.math.BigDecimal(
      s._1.foldLeft(java.math.BigInteger.ZERO)(
        (acc, l) => acc.add(java.math.BigInteger.valueOf(l))))
    val nodes = ids.result()
    val ((labels, nullLabel), iter, converged) =
      hashMinRounds((nodes, Option.empty[Long]), maxIters)(round)(
        labelSum)
    val out = nodes.indices.map(v => Row(toId(nodes(v)), toId(labels(v))))
    (if (hasNull) out :+ Row(null, nullLabel.map(toId).orNull) else out,
      iter, converged)
  }

  /** Alternating large-star/small-star rounds; see [[connectedComponents]]
   *  for the contract. One round = large-star + small-star. */
  private def twoPhase(edges: DataFrame, srcCol: String, dstCol: String,
                       maxIters: Int,
                       save: (DataFrame, Int) => DataFrame)
      : (DataFrame, Int) = {
    // node universe (incl. self-loop-only nodes, which the edge rewrite
    // drops): they re-enter as their own singleton component at the end
    val nodes = edges
      .select(explode(array(col(srcCol), col(dstCol))).as("node"))
      .distinct().localCheckpoint()
    // maintained invariant: every edge has a > b (so b is the "parent")
    var e = save(edges
      .select(col(srcCol).as("a"), col(dstCol).as("b"))
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      .distinct(), 0)
    // Exact fixpoint test, one job: the alternation's fixpoints are
    // EXACTLY the min-rooted star forests (Kiveris et al. §3) — every
    // child has ONE parent and no parent is itself a child. Both
    // properties fall out of one role aggregate over the edge list
    // (node with >1 DISTINCT parent → multi-parent; appearing as both
    // child and parent → a 3-level chain — either way another round
    // would rewrite it). Detects the fixpoint the round it FORMS — the
    // set-equality test (|next| = |e| ∧ anti-join empty) needs the
    // round AFTER to prove nothing moved, paying one extra full round
    // of shuffles plus two jobs per round instead of one. The test is
    // STRUCTURAL (distinct parents, not row counts) so the edge list
    // may legally carry cross-group duplicate rows — the round loop
    // exploits that to skip a global distinct per round.
    // single consumption of df (explode, not a two-branch union): the
    // round frames are LAZY localCheckpoints, and this probe is their
    // materializing action — a union would schedule two racing passes
    // over the un-materialized pipeline, paying the round twice
    def isStarForest(df: DataFrame): Boolean = df
      .select(explode(array(
          struct(col("a").as("nd"), col("b").as("par"), lit(1L).as("c")),
          struct(col("b").as("nd"), col("b").as("par"), lit(0L).as("c"))))
        .as("graft_r"))
      .groupBy(col("graft_r.nd"))
      .agg(countDistinct(when(col("graft_r.c") === 1L, col("graft_r.par")))
          .as("graft_ncp"),
        max(lit(1L) - col("graft_r.c")).as("graft_isp"))
      .filter(col("graft_ncp") > 1L ||
        (col("graft_ncp") >= 1L && col("graft_isp") === 1L))
      .isEmpty
    // Each star attaches m = min over the node's neighbor group with ONE
    // partitioned window (shuffle by the group key, then a per-group min
    // over the whole frame) instead of a groupBy(min) + self-join — the
    // join form paid an extra aggregate shuffle AND a full-volume join
    // shuffle per star, which at bounded edge counts made every round
    // two stages deeper for no volume gain. WindowExec buffers one
    // group at a time and spills (ExternalAppendOnlyUnsafeRowArray), so
    // a celebrity node degrades to disk, not OOM — the same posture the
    // streaming SortMergeJoin had.
    val byA = Window.partitionBy(col("a"))
    var iter = 0
    var sinceProbe = 0
    var converged = isStarForest(e)
    while (iter < maxIters && !converged) {
      // LARGE-STAR: symmetrize, per node u take m = min(Γ(u) ∪ {u}),
      // re-hang every neighbor v > u as (v, m). Keeps a > b: v > u ≥ m.
      val sym = e.unionByName(
        e.select(col("b").as("a"), col("a").as("b")))
      // no dedup of sym: duplicate (v, m) emissions collapse in the
      // small-star stage's per-group dedup — deduping now would cost a
      // full |e|-row shuffle per round for no volume bound
      val large = sym
        .withColumn("graft_m",
          least(col("a"), min(col("b")).over(byA)))
        .filter(col("b") > col("a"))
        .select(col("b").as("a"), col("graft_m").as("b"))
        .filter(col("a") =!= col("b"))
      // SMALL-STAR: edges already point large→small; per node u the
      // below neighbors Γ⁻(u) all re-parent onto m = min(Γ⁻(u)), and u
      // itself hangs off m too. Both emissions keep a > b.
      //
      // Dedup is folded into this window stage instead of a global
      // distinct: (u, m) is emitted once per group (rn = 1) and (b, m)
      // once per DISTINCT b in the group (lag test), all under the one
      // byA shuffle. Only CROSS-group duplicates of the same (b, m)
      // pair survive — bounded by the round's multi-parent incidences
      // (a structural count the alternation is actively shrinking), so
      // the multiset can never compound round over round, while the
      // former `.distinct()` cost a third full-volume shuffle of the
      // edge set every round. The detector is duplicate-insensitive
      // and the final labels are deduped once after convergence.
      val byAOrd = byA.orderBy(col("b"))
      val withMin = large
        .withColumn("graft_m", min(col("b")).over(byA))
        .withColumn("graft_rn", row_number().over(byAOrd))
        .withColumn("graft_prev", lag(col("b"), 1).over(byAOrd))
      // both emissions leave in ONE pass over the window output (a
      // two-branch union would re-run the sort+window per branch):
      // slot 1 carries (u, m) on the group's first row, slot 2 carries
      // (b, m) on each first occurrence of a distinct b ≠ m
      val next = save(
        withMin.select(explode(array(
            when(col("graft_rn") === 1,
              struct(col("a"), col("graft_m").as("b"))),
            when(col("b") =!= col("graft_m") &&
                (col("graft_prev").isNull ||
                  col("graft_prev") =!= col("b")),
              struct(col("b").as("a"), col("graft_m").as("b")))))
            .as("graft_e"))
          .filter(col("graft_e").isNotNull)
          .select(col("graft_e.a").as("a"), col("graft_e.b").as("b"))
          , iter + 1)
      e = next
      iter += 1
      sinceProbe += 1
      // r21: probe BATCHING, the q289/hashmin schedule ported to the
      // alternating rounds (§2: fewer actions/driver round-trips — the
      // measured cost at sf0.1 is planning/submission gaps between tiny
      // jobs, Profile jobs q193: 49 jobs summing 5.8 s in an 8.4 s
      // wall). The first 3 rounds keep per-round probes (near-clique
      // graphs close in ≤3 and keep exact behavior); a graph still
      // moving after 3 rounds has revealed a deep structure, and from
      // there the fixpoint test runs every 2nd round (and always at the
      // budget boundary, so exhaustion still throws). Cost bound: ONE
      // extra round past convergence — and a two-phase round applied to
      // a star forest reproduces it exactly (large-star emits the same
      // star edges, small-star re-parents onto the same min), so the
      // overshoot round is a semantic no-op. A skipped round's lazy
      // localCheckpoint is materialized by the next probed round's job
      // (2-round lineage), not left dangling.
      if (iter <= 3 || sinceProbe >= 2 || iter == maxIters) {
        converged = isStarForest(e)
        sinceProbe = 0
      }
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents(two-phase) did not converge in $maxIters " +
      "rounds — edge set was still moving; raise maxIters (expected " +
      "bound is O(log² n) alternating rounds)")
    // fixpoint is a union of stars rooted at each component's min id:
    // members label from their parent, roots (and self-loop-only nodes)
    // label as themselves; the ONE global dedup (cross-group duplicate
    // rows are legal during the loop) happens here, after convergence
    val labels = e.select(col("a").as("node"), col("b").as("component"))
      .distinct()
    (nodes.join(labels, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("component"), col("node")).as("component")),
     iter)
  }

  /**
   * Cluster medoid selection: for every duplicate cluster (connected
   * component of the scored pair graph), the member with the highest
   * total similarity to its in-cluster neighbors — the principled
   * "which copy do we keep" answer (most-central survivor), replacing
   * min-id/max-quality heuristics when the cluster mixes revisions.
   *
   * Scores sum through the 6-dp-decimal rule (order-independent,
   * engine-portable); ties break to the smaller node id. Shape: the CC
   * rounds, then one node-keyed incident-score agg, a component-keyed
   * window top-1 (WindowGroupLimit heaps), and the sizes rollup sharing
   * the component exchange.
   *
   * The pair list feeds BOTH connectedComponents (which persists only
   * its own symmetrized projection) and the incident-score aggregation
   * — for LSH-derived pair lists the upstream candidate chain is the
   * expensive part, so it is localCheckpointed ONCE here and both
   * consumers read the materialized blocks (the q72 lineage-cut rule,
   * applied one layer up; same executor-memory caveat as pageRank).
   */
  def clusterMedoids(pairs: DataFrame, srcCol: String, dstCol: String,
                     scoreCol: String): DataFrame = {
    val p = pairs.localCheckpoint()
    val comp = connectedComponents(p, srcCol, dstCol)
    val incident = p
      .select(col(srcCol).as("node"), col(scoreCol).as("graft_j"))
      .unionByName(p
        .select(col(dstCol).as("node"), col(scoreCol).as("graft_j")))
      .groupBy(col("node"))
      .agg(sum(round(col("graft_j"), 6).cast(DecimalType(18, 6)))
        .as("graft_sumj"))
    val sizes = comp.groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(col("graft_sumj").desc, col("node"))
    comp.join(incident, "node")
      .withColumn("graft_rk", row_number().over(w))
      .filter(col("graft_rk") === 1)
      .join(sizes, "component")
      .select(col("component"), col("node").as("medoid"), col("n_members"),
        col("graft_sumj")
          .cast(org.apache.spark.sql.types.DoubleType).as("medoid_score"))
  }

  /**
   * PageRank over an undirected pair list (src < dst convention),
   * `iters` power iterations at damping 17/20 (= 0.85) — the centrality
   * score that picks CANONICAL survivors in a dedup graph: the doc most
   * linked-into by near-dups is the template original, its satellites
   * the copies.
   *
   * All arithmetic is INTEGER at scale 10^12 so every engine computes
   * bit-identical ranks: pr₀ = S div N; each round sends pr div deg
   * along every edge and sets pr' = (3·S) div (20·N) + (17·Σin) div 20
   * (integral division throughout — the mass lost to flooring is ≤ N·20
   * scale units per round, far below the 10^12 scale). Every node in a
   * pair list has degree ≥ 1, so there is no dangling-mass term.
   *
   * Scale shape: per round, ONE shuffle — the src-keyed join of ranks
   * onto the edge list plus a dst-keyed sum; rank state is (node, pr),
   * never adjacency lists. The node count rides along as a 1-row
   * broadcast. `iters` is a compile-time unroll (the caller picks a
   * small fixed count; dedup graphs are near-cliques where ranks
   * stabilize in a handful of rounds).
   */
  def pageRank(pairs: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 10, s"iters=$iters out of range")
    val S = 1000000000000L
    val e = pairs.select(col(srcCol).as("graft_s"), col(dstCol).as("graft_t"))
      .distinct()
    // the edge list feeds every iteration's join AND the degree/count
    // aggregates — localCheckpoint materializes the (possibly expensive:
    // LSH, verification) pair lineage ONCE instead of once per use, the
    // same lineage cut connectedComponents applies (and with the same
    // caveat: executor-memory-backed; use reliable checkpoints on a
    // real cluster for long-running jobs)
    val sym = e.union(e.select(col("graft_t").as("graft_s"),
      col("graft_s").as("graft_t"))).localCheckpoint()
    val deg = sym.groupBy(col("graft_s").as("node"))
      .agg(count(lit(1)).as("deg"))
    val n = deg.agg(count(lit(1)).as("graft_n"))
    var pr = deg.crossJoin(broadcast(n))
      .select(col("node"), col("deg"), col("graft_n"),
        call_function("div", lit(S), col("graft_n")).as("pr"))
    for (_ <- 1 to iters) {
      val contrib = sym.join(pr, sym("graft_s") === pr("node"))
        .select(col("graft_t").as("node"),
          call_function("div", col("pr"), col("deg")).as("graft_c"))
        .groupBy(col("node"))
        .agg(sum(col("graft_c")).as("graft_in"))
      pr = pr.drop("pr").join(contrib, Seq("node"), "left")
        .select(col("node"), col("deg"), col("graft_n"),
          (call_function("div", lit(3L * S), lit(20L) * col("graft_n")) +
            call_function("div",
              lit(17L) * coalesce(col("graft_in"), lit(0L)), lit(20L)))
            .as("pr"))
    }
    pr.select(col("node"), col("deg"), col("pr").as("pr_scaled"))
  }

  /**
   * Personalized PageRank (Haveliwala, WWW 2002's topic-sensitive
   * restart; the seed-expansion primitive behind "find documents like
   * these known-good ones"): identical power iteration to [[pageRank]]
   * except ALL teleport mass returns to the SEED set — pr' =
   * [node ∈ seeds]·(1−d)·S/|seeds| + d·Σin — so rank measures random-
   * walk proximity TO THE SEEDS, not global centrality. On a dedup/
   * similarity graph this ranks the corpus by relatedness to a
   * curated seed list, the graph-native alternative to embedding
   * kNN expansion.
   *
   * Same integer determinism contract as [[pageRank]]: scale 10^12,
   * damping 17/20, integral division throughout — bit-identical on any
   * engine. Seeds not present in the graph are ignored; at least one
   * seed must be a graph node (the teleport denominator). Seed nodes
   * start with S div |seeds|, everything else at 0.
   *
   * Scale shape: identical to [[pageRank]] (one keyed join + dst-sum
   * per round); the seed set attaches as ONE broadcast flag join and
   * |seeds∩graph| rides in a 1-row broadcast.
   */
  def personalizedPageRank(pairs: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, seedIdCol: String,
                           iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 10, s"iters=$iters out of range")
    val S = 1000000000000L
    val e = pairs.select(col(srcCol).as("graft_s"), col(dstCol).as("graft_t"))
      .distinct()
    val sym = e.union(e.select(col("graft_t").as("graft_s"),
      col("graft_s").as("graft_t"))).localCheckpoint()
    val deg = sym.groupBy(col("graft_s").as("node"))
      .agg(count(lit(1)).as("deg"))
    val seedSet = seeds.select(col(seedIdCol).as("node")).distinct()
      .withColumn("graft_seed", lit(1L))
    val flagged = deg.join(broadcast(seedSet), Seq("node"), "left")
      .na.fill(0L, Seq("graft_seed"))
    val ns = flagged.agg(sum(col("graft_seed")).as("graft_ns"))
    var pr = flagged.crossJoin(broadcast(ns))
      .select(col("node"), col("deg"), col("graft_seed"), col("graft_ns"),
        when(col("graft_seed") === 1L,
          call_function("div", lit(S), col("graft_ns")))
          .otherwise(lit(0L)).as("pr"))
    for (_ <- 1 to iters) {
      val contrib = sym.join(pr, sym("graft_s") === pr("node"))
        .select(col("graft_t").as("node"),
          call_function("div", col("pr"), col("deg")).as("graft_c"))
        .groupBy(col("node"))
        .agg(sum(col("graft_c")).as("graft_in"))
      pr = pr.drop("pr").join(contrib, Seq("node"), "left")
        .select(col("node"), col("deg"), col("graft_seed"), col("graft_ns"),
          (when(col("graft_seed") === 1L,
            call_function("div", lit(3L * S), lit(20L) * col("graft_ns")))
            .otherwise(lit(0L)) +
            call_function("div",
              lit(17L) * coalesce(col("graft_in"), lit(0L)), lit(20L)))
            .as("pr"))
    }
    pr.select(col("node"), col("deg"),
      (col("graft_seed") === 1L).as("is_seed"), col("pr").as("ppr_scaled"))
  }

  /**
   * Two-hop neighborhood counts (friend-of-friend): for each node, how
   * many DISTINCT nodes are reachable in exactly two hops but not one —
   * the near-duplicate "cluster fringe" signal (a doc whose neighbors
   * have many further neighbors sits inside a boilerplate family even
   * if its own degree is low), and the candidate generator for
   * recommend-style "related documents".
   *
   * Candidate volume is Σ deg² over the middle nodes — the standard
   * two-hop bound; on skewed graphs cap degrees first ([[degreeCap]]
   * via q99) exactly as documented there. All joins are key-partitioned
   * equi-joins (edge lists symmetrized once); the "not one hop" subtraction
   * is a left-anti join on the same edge partitioning; everything is
   * int64 counts.
   */
  def twoHopCounts(pairs: DataFrame, srcCol: String,
                   dstCol: String): DataFrame = {
    // the symmetrized edge list feeds THREE consumers (both sides of the
    // hop-2 join and the anti-join probe); materialize it once instead of
    // relying on ReusedExchange to fire across all three (the q153
    // lineage-cut rule — same executor-memory caveat as pageRank)
    val e = pairs.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .union(pairs.select(col(dstCol).as("a"), col(srcCol).as("b")))
      .distinct().localCheckpoint()
    val hop2 = e.select(col("a"), col("b").as("graft_mid"))
      .join(e.select(col("a").as("graft_mid"), col("b").as("c")),
        "graft_mid")
      .filter(col("a") =!= col("c"))
      .select(col("a"), col("c")).distinct()
    hop2.join(e.select(col("a"), col("b").as("c")), Seq("a", "c"),
        "left_anti")
      .groupBy(col("a"))
      .agg(count(lit(1)).as("n_two_hop"))
      .select(col("a").as("doc_id"), col("n_two_hop"))
  }

  /**
   * Incremental connected-components maintenance: fold a batch of NEW
   * edges into an existing min-id labeling withOUT re-running CC over
   * the full graph — the production shape for a continuously-growing
   * dedup graph, where each day's near-dup pairs must update
   * yesterday's duplicate clusters and a full [[connectedComponents]]
   * over the accumulated corpus would cost O(total) per day instead of
   * O(delta).
   *
   * The algebra: map each new edge's endpoints to their current labels
   * (an unseen node is its own singleton label), CONTRACT — each
   * distinct (labelA ≠ labelB) pair is one edge between old components
   * — and run CC on the contracted graph only. Because every existing
   * label is the min node id of its component, the contracted CC's
   * min-label components give the final labels directly: new label =
   * min over merged old components = global min id. Labels of
   * untouched components never enter the computation.
   *
   * Scale shape: one key-partitioned lookup join of the delta's
   * endpoints against the label table, a distinct on contracted pairs
   * (bounded by the delta, not the graph), CC on that contracted edge
   * set (components-touched scale; up to 2^16 symmetric rows it runs on
   * the driver after one probe job), then ONE remap join back over the
   * label table — the remap side is bounded by the merged components
   * and broadcasts. The full edge history is never read.
   *
   * `prior` is (nodeCol, compCol); `newEdges` is (srcCol, dstCol).
   * Returns the updated labeling (nodeCol, compCol) covering prior
   * nodes plus the delta's endpoints.
   */
  def incrementalComponents(prior: DataFrame, nodeCol: String, compCol: String,
                            newEdges: DataFrame, srcCol: String,
                            dstCol: String): DataFrame = {
    val labels = prior.select(col(nodeCol).as("graft_n"),
      col(compCol).as("graft_c"))
    // ONE delta-endpoint lookup against the label table (prior is big;
    // scanning it once here + once in the final remap is the whole
    // prior-side cost); `lk` is delta-sized and feeds both edge
    // endpoints and the new-node rows — callers batching large deltas
    // may localCheckpoint `newEdges` first (it is consumed three times)
    // delta-sized; materialized once because it feeds THREE consumers
    // (both contracted-edge endpoints + the new-node rows) — the q153
    // lineage-cut rule, and it caps the prior-side cost at one lookup
    // scan + the final remap scan
    val lk = newEdges.select(col(srcCol).as("graft_n"))
      .union(newEdges.select(col(dstCol).as("graft_n"))).distinct()
      .join(labels, Seq("graft_n"), "left")
      .select(col("graft_n"), col("graft_c").isNull.as("graft_is_new"),
        coalesce(col("graft_c"), col("graft_n")).as("graft_l"))
      .localCheckpoint()
    val contracted = newEdges
      .join(lk.select(col("graft_n").as(srcCol),
        col("graft_l").as("graft_la")), srcCol)
      .join(lk.select(col("graft_n").as(dstCol),
        col("graft_l").as("graft_lb")), dstCol)
      .filter(col("graft_la") =!= col("graft_lb"))
      .select(col("graft_la").as("graft_ca"),
        col("graft_lb").as("graft_cb"))
      .distinct()
    val remap = connectedComponents(contracted, "graft_ca", "graft_cb")
      .select(col("node").as("graft_c"), col("component").as("graft_c2"))
      // identity rows carry no information; dropping them keeps the
      // broadcast side at merged-components size
      .filter(col("graft_c") =!= col("graft_c2"))
    val newNodes = lk.filter(col("graft_is_new"))
      .select(col("graft_n"), col("graft_n").as("graft_c"))
    labels.unionByName(newNodes)
      .join(broadcast(remap), Seq("graft_c"), "left")
      .select(col("graft_n").as(nodeCol),
        coalesce(col("graft_c2"), col("graft_c")).as(compCol))
  }

  /**
   * k-core peeling with onion layers (Seidman 1983 cores; the
   * peeling-order "onion" refinement of Hébert-Dufresne et al. 2016):
   * repeatedly delete EVERY node of degree < k — simultaneously, so a
   * round is one degree-count + one filter, not a sequential queue —
   * until the k-core (possibly empty) remains. Each deleted node is
   * stamped with the round that removed it: `layer` 1 = peripheral
   * from the start, higher = fell only after its support was stripped,
   * NULL = survives in the k-core. On a dedup/kNN graph the layers
   * grade how structurally embedded each document/vector is — the
   * robustness signal behind graph-index pruning and community cores.
   *
   * Parallel-peel rounds are the scalable formulation: the sequential
   * min-degree peel is inherently serial, while simultaneous deletion
   * converges in at most O(peel depth) rounds. Degrees are counted in
   * full ONCE and then maintained DECREMENTALLY: each round aggregates
   * only the edges incident to that round's peeled nodes (the classic
   * Δ-maintenance — total degree work across ALL rounds is O(E), not
   * O(rounds·E), because every edge is counted once at start and
   * decremented at most once when it dies). Per round the driver pulls
   * ONE scalar (the weak-node count) for convergence; frames are
   * localCheckpointed to truncate the iterated lineage (the CC
   * contract). Throws if `maxRounds` is exhausted while nodes are
   * still falling — a half-peeled layering must never ship as a green
   * answer.
   *
   * Returns (node, layer, in_core) for every edge endpoint.
   */
  def kCorePeel(edges: DataFrame, srcCol: String, dstCol: String,
                k: Int, maxRounds: Int = 50): DataFrame = {
    require(k >= 1 && maxRounds >= 1,
      s"bad parameters k=$k maxRounds=$maxRounds")
    val spark = edges.sparkSession
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val sym = edges
      .select(col(srcCol).cast(LongType).as("a"),
        col(dstCol).cast(LongType).as("b"))
      .filter(col("a") =!= col("b"))
    var cur = sym.union(sym.select(col("b").as("a"), col("a").as("b")))
      .distinct().localCheckpoint()
    val nodes = cur.select(col("a").as("node")).distinct().localCheckpoint()
    var layers = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node", LongType),
        org.apache.spark.sql.types.StructField("layer", IntegerType))))
    var round = 1
    var done = false
    // degree counted in full exactly once; every LIVE node keeps a row
    // (a node stripped of its last edge carries graft_d = 0 < k and
    // MUST peel — dropping zero rows would strand phantom core members)
    var deg = cur.groupBy(col("a")).agg(count(lit(1)).as("graft_d"))
      .withColumnRenamed("a", "node").localCheckpoint()
    while (!done) {
      // weak is a trivial filter over the CHECKPOINTED degree table —
      // left lazy on purpose: re-evaluating it per consumer is a cheap
      // in-memory scan, while checkpointing it would cost one more job
      // per round (job-launch overhead dominates at small rounds)
      val weak = deg.filter(col("graft_d") < k).select(col("node"))
      if (weak.isEmpty) done = true
      else {
        if (round > maxRounds) throw new IllegalStateException(
          s"kCorePeel still peeling after $maxRounds rounds")
        // layers is union-of-checkpointed-weaks — a depth-`rounds` union
        // tree of already-materialized frames, safe to leave lazy (one
        // job at the final read instead of one per round)
        layers = layers
          .union(weak.withColumn("layer", lit(round)))
          .localCheckpoint(eager = false)
        // Δ-maintenance: each dying edge (survivor a, peeled b) costs
        // its survivor one degree — aggregate ONLY the incident slice
        val dec = cur
          .join(weak.withColumnRenamed("node", "b"), Seq("b"))
          .join(weak.withColumnRenamed("node", "a"), Seq("a"), "left_anti")
          .groupBy(col("a")).agg(count(lit(1)).as("graft_dec"))
          .withColumnRenamed("a", "node")
        cur = cur
          .join(weak.withColumnRenamed("node", "a"), Seq("a"), "left_anti")
          .join(weak.withColumnRenamed("node", "b"), Seq("b"), "left_anti")
          .select(col("a"), col("b")).localCheckpoint()
        deg = deg
          .join(weak, Seq("node"), "left_anti")
          .join(dec, Seq("node"), "left")
          .select(col("node"),
            (col("graft_d") - coalesce(col("graft_dec"), lit(0L)))
              .as("graft_d"))
          .localCheckpoint()
        round += 1
      }
    }
    nodes.join(layers, Seq("node"), "left")
      .select(col("node"), col("layer").cast(LongType).as("layer"),
        col("layer").isNull.as("in_core"))
  }

  /**
   * Partition-mixing audit of an undirected graph against a given node
   * labeling — the sufficient statistics of Newman modularity (Newman &
   * Girvan 2004) per community, kept EXACT-INTEGER so the gate never
   * hashes a signed division: for each label, the node count, internal
   * edge count (both endpoints inside), cross edge count, and degree
   * sum, plus the graph's total edge count on every row. On a dedup
   * graph labeled by source this answers "do near-duplicates stay
   * within sources or leak across them" structurally — modularity
   * Q = Σ(Lᶜ/m − (Dᶜ/2m)²) follows from these columns by exact
   * rational arithmetic in the consumer.
   *
   * Scale shape: ONE label attach per endpoint (id-keyed joins), one
   * canonical-edge agg keyed by label pair collapsed to per-label sums,
   * and a 1-row total broadcast. Nothing quadratic.
   */
  def partitionMixing(edges: DataFrame, srcCol: String, dstCol: String,
                      labels: DataFrame, nodeCol: String,
                      labelCol: String): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val e = edges
      .select(least(col(srcCol), col(dstCol)).cast(LongType).as("a"),
        greatest(col(srcCol), col(dstCol)).cast(LongType).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val lab = labels.select(col(nodeCol).cast(LongType).as("node"),
      col(labelCol).as("graft_lab"))
    val tagged = e
      .join(lab.withColumnRenamed("node", "a")
        .withColumnRenamed("graft_lab", "graft_la"), Seq("a"))
      .join(lab.withColumnRenamed("node", "b")
        .withColumnRenamed("graft_lab", "graft_lb"), Seq("b"))
    val m = tagged.agg(count(lit(1)).as("graft_m"))
    val perLabel = tagged
      .select(explode(array(
        struct(col("graft_la").as("graft_lab"),
          (col("graft_la") === col("graft_lb")).as("graft_int")),
        struct(col("graft_lb").as("graft_lab"),
          (col("graft_la") === col("graft_lb")).as("graft_int"))))
        .as("graft_s"))
      .select(col("graft_s.graft_lab").as("graft_lab"),
        col("graft_s.graft_int").as("graft_int"))
      .groupBy(col("graft_lab"))
      // an internal edge contributes 2 to the label's degree sum (both
      // endpoint rows) but is ONE internal edge; cross edges appear
      // once per side
      .agg(count(lit(1)).as("degree_sum"),
        (sum(when(col("graft_int"), 1L).otherwise(0L)) / 2)
          .cast(LongType).as("internal_edges"),
        sum(when(!col("graft_int"), 1L).otherwise(0L))
          .as("cross_edges"))
    val nodesPer = lab.join(
        e.select(col("a").as("node"))
          .union(e.select(col("b").as("node"))).distinct(),
        Seq("node"), "left_semi")
      .groupBy(col("graft_lab")).agg(count(lit(1)).as("n_nodes"))
    perLabel.join(nodesPer, Seq("graft_lab"))
      .crossJoin(broadcast(m))
      .select(col("graft_lab").as(labelCol), col("n_nodes"),
        col("internal_edges"), col("cross_edges"), col("degree_sum"),
        col("graft_m").as("m_edges"))
  }

  /**
   * Synchronous label-propagation community detection (Raghavan, Albert
   * & Kumara 2007): every node starts labeled with itself; each round a
   * node adopts the label the PLURALITY of its neighbors carry, ties
   * broken by the smallest label. Unlike [[connectedComponents]] (which
   * answers "reachable at all"), LPA finds densely-knit groups inside a
   * component — on a dedup graph it separates template families that a
   * bridge edge would otherwise merge into one cluster.
   *
   * Runs a FIXED `rounds` count with fully deterministic tie-breaking
   * (count desc, then label asc — a per-node max-count window followed
   * by min(label) among the tied plurality labels, so ANY orderable
   * node-id type works: numeric, string, date; no numeric negation
   * trick that would null-cast string ids), so the output is
   * reproducible and oracle-checkable — unlike the randomized
   * asynchronous original. Synchronous LPA can
   * oscillate on bipartite-ish structures instead of converging; fixed-R
   * snapshots sidestep that (the classic practical fix, and R = 3–5
   * captures the communities that matter on short-diameter dedup
   * graphs).
   *
   * Scale shape: each round is ONE edge×label join (keyed on the
   * neighbor endpoint) + one (node, label) count agg + one per-node max
   * — all map-side combinable, state never exceeds (node, label), and
   * per-round lineage is cut with the same lazy localCheckpoint
   * discipline as [[connectedComponents]].
   */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       rounds: Int = 3): DataFrame = {
    require(rounds >= 1 && rounds <= 20, s"rounds=$rounds out of range")
    val e = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
    val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
      .distinct().localCheckpoint()
    var labels = sym.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
    for (_ <- 1 to rounds) {
      val next = sym
        .join(labels.select(col("node").as("b"), col("label")), "b")
        .groupBy(col("a"), col("label"))
        .agg(count(lit(1)).as("graft_c"))
        // plurality then min-label, type-generic: a max-count window over
        // the (node, label) counts, then min(label) among the ties — no
        // unary minus, which silently null-casts non-numeric ids
        .withColumn("graft_cmax",
          max(col("graft_c")).over(Window.partitionBy(col("a"))))
        .filter(col("graft_c") === col("graft_cmax"))
        .groupBy(col("a"))
        .agg(min(col("label")).as("label"))
        .select(col("a").as("node"), col("label"))
      labels = next.localCheckpoint()
    }
    labels
  }

  /**
   * Fixed-round k-truss peel (Cohen, "Trusses: cohesive subgraphs for
   * social network analysis", 2008): a k-truss is the maximal subgraph
   * where every edge sits in ≥ k−2 triangles OF THAT SUBGRAPH. Where
   * [[kCorePeel]] grades NODES by degree embeddedness, the truss grades
   * EDGES by triangle support — the sharper cohesion test for dedup
   * graphs, because a bridge edge between two template families has
   * high-degree endpoints (core-survivor) but zero triangles
   * (truss-removed).
   *
   * Round i computes each surviving edge's support (common-neighbor
   * count) on the CURRENT edge set, then drops edges with support <
   * k−2. Runs a FIXED `rounds` count (deterministic, oracle-unrollable
   * — the [[labelPropagation]] convention); the true truss is the
   * fixpoint, and each round only removes, so round R is a sound
   * over-approximation that equals the truss once no edge falls. Output
   * is the surviving edge list with the support measured at the START
   * of the last round (the values the final filter used).
   *
   * Scale shape: support is the standard wedge join — edges × adjacency
   * joined on both endpoints, Σdeg² intermediate rows, keyed
   * throughout; each round's result is lineage-cut with a lazy
   * localCheckpoint. No driver-side state.
   */
  def trussPeel(edges: DataFrame, srcCol: String, dstCol: String,
                k: Int, rounds: Int = 3): DataFrame = {
    require(k >= 2, s"k=$k out of range (need >= 2)")
    require(rounds >= 1 && rounds <= 20, s"rounds=$rounds out of range")
    var e = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint()
    var supported: DataFrame = null
    for (_ <- 1 to rounds) {
      val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
      val ac = sym.select(col("a"), col("b").as("c"))
      val sup = e
        .join(ac, "a")
        .join(ac.select(col("a").as("b"), col("c")), Seq("b", "c"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("support"))
      supported = e.join(sup, Seq("a", "b"), "left")
        .na.fill(0L, Seq("support"))
        .localCheckpoint()
      e = supported.filter(col("support") >= k - 2)
        .select(col("a"), col("b")).localCheckpoint()
    }
    supported.filter(col("support") >= k - 2)
  }

  /**
   * Harmonic centrality of every node w.r.t. a bounded SEED set
   * (Marchiori & Latora 2001; Boldi & Vigna 2014 rank it the
   * best-axiomatized closeness variant): H(v) = Σ_s 1/d(s, v) over
   * seeds s with 1 ≤ d(s, v) ≤ maxDepth — unreachable seeds contribute
   * 0, so the measure needs no connectivity assumption. On a dedup/
   * similarity graph with known-good seed documents this scores how
   * structurally close every document sits to the trusted set.
   *
   * Hashed surface is exact by construction: `score_micro` =
   * Σ_s ⌊10⁶ / d(s,v)⌋ — integer division only, no floats anywhere.
   *
   * Shape: multi-source BFS by frontier joins — round r holds the
   * (seed, node) pairs first reached at distance r; an anti-join
   * against the visited set keeps distances minimal. State is
   * O(|seeds|·V) rows keyed on the node — scale-bounded by the seed
   * count (the documented contract: seeds are a curated handful, not
   * the corpus), and each of the ≤ maxDepth rounds is one equi-join +
   * anti-join, lineage-cut per round. No driver-side state beyond the
   * loop counter.
   */
  def harmonicCentrality(edges: DataFrame, srcCol: String, dstCol: String,
                         seeds: DataFrame, seedCol: String,
                         maxDepth: Int): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 12,
      s"maxDepth=$maxDepth out of range (1..12)")
    val sym0 = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .filter(col("a") =!= col("b"))
    val sym = sym0.union(sym0.select(col("b").as("a"), col("a").as("b")))
      .distinct().localCheckpoint(eager = false)
    val nodes = sym.select(col("a").as("node")).distinct()
      .localCheckpoint(eager = false)
    // dedupe seeds: a duplicated seed id would seed two identical BFS
    // states and double-count its 1/d contributions in score_micro
    var visited = seeds.select(col(seedCol).as("graft_seed")).distinct()
      .withColumn("node", col("graft_seed"))
      .withColumn("graft_d", lit(0))
      .localCheckpoint()
    var frontier = visited
    var depth = 1
    while (depth <= maxDepth && !frontier.isEmpty) {
      val expanded = frontier
        .join(sym, frontier("node") === sym("a"))
        .select(col("graft_seed"), col("b").as("node"))
        .distinct()
        .join(visited.select(col("graft_seed"), col("node")),
          Seq("graft_seed", "node"), "left_anti")
        .withColumn("graft_d", lit(depth))
        .localCheckpoint()
      visited = visited.union(expanded).localCheckpoint(eager = false)
      frontier = expanded
      depth += 1
    }
    val scored = visited.filter(col("graft_d") >= 1)
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_seeds_reached"),
        sum(expr("1000000 div graft_d")).cast("long").as("score_micro"))
    nodes.join(scored, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("n_seeds_reached"), lit(0L)).as("n_seeds_reached"),
        coalesce(col("score_micro"), lit(0L)).as("score_micro"))
  }
}
