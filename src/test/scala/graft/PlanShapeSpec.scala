package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.LatestSnapshot
import graft.queries.CoreQueries
import graft.sources.Landing

/**
 * Physical-plan shape assertions — the 100 TB posture checks. These pin the
 * rewrites the engine's scale story depends on; a regression here is a
 * silent 100× slowdown at cluster scale, invisible to correctness tests.
 */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def physicalPlan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Every node of an executed plan, through AQE wrappers and query
    * stages. A cached relation is a leaf: its build plan is not walked. */
  private def planNodes(
      p: org.apache.spark.sql.execution.SparkPlan
  ): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    p +: (p match {
      case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
      case s: QueryStageExec => planNodes(s.plan)
      case _ => p.children.flatMap(planNodes)
    })
  }

  test("latest-snapshot dedup compiles to WindowGroupLimit (pre-shuffle top-1)") {
    val df = Seq(("a", 1, "x"), ("a", 2, "y")).toDF("id", "v", "p")
    val plan = physicalPlan(LatestSnapshot(df, Seq("id"), col("v")))
    assert(plan.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit in:\n$plan")
  }

  test("per-key topK also gets the group-limit rewrite") {
    val df = Seq(("a", 1), ("a", 2), ("a", 3)).toDF("id", "v")
    val plan = physicalPlan(
      LatestSnapshot.topK(df, Seq("id"), col("v").desc, Seq(col("v")), 2))
    assert(plan.contains("WindowGroupLimit"), s"missing rewrite in:\n$plan")
  }

  test("orderBy+limit compiles to TakeOrderedAndProject (no global sort)") {
    val plan = physicalPlan(CoreQueries.q03TopDesc(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), s"got:\n$plan")
  }

  test("rate limiting rides WindowGroupLimit (floods die map-side)") {
    val plan = physicalPlan(graft.operators.Funnel.rateLimit(
      graft.sources.Sources.events(spark, sf), "user_id", "event_id", "ts",
      bucketUs = 3600000000L, k = 3))
    assert(plan.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit in:\n$plan")
  }

  test("distribution-matching resample is one narrow filter over the scan") {
    val kept = graft.operators.Sampling.matchDistribution(
      graft.sources.Sources.documents(spark, sf), "doc_id", "lang", "mix6",
      Seq("en" -> 4L, "de" -> 2L, "es" -> 2L, "fr" -> 1L, "zh" -> 1L))
    val plan = physicalPlan(kept)
    // the stratum counts were collected eagerly and inlined as literals:
    // the corpus-side plan must contain NO join and NO exchange
    assert(!plan.contains("Join"), s"resample planned a join:\n$plan")
    assert(!plan.contains("Exchange"), s"resample shuffled:\n$plan")
  }

  test("dashboard join broadcasts the dimension sides") {
    val plan = physicalPlan(CoreQueries.q10DashboardJoin(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"got:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"small dims must broadcast, not sort-merge:\n$plan")
  }

  test("conjunctive predicates are pushed to the parquet scan") {
    val plan = physicalPlan(CoreQueries.q12Filter(spark, sf))
    assert(plan.contains("PushedFilters: [IsNotNull(value)"),
      s"filter not pushed:\n$plan")
  }

  test("projection prunes the parquet read schema") {
    val df = graft.sources.Sources.lineitem(spark, sf)
      .select($"l_orderkey", $"l_quantity")
    val plan = physicalPlan(df)
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"scan reads too much:\n$plan")
  }

  test("scalar aggregation stays whole-stage-codegen end to end") {
    // AQE hides codegen spans until the final plan exists — execute first
    val df = CoreQueries.q07ScalarAgg(spark, sf)
    df.collect()
    val plan = physicalPlan(df)
    // codegen'd operators print with a *(stageId) prefix
    assert(plan.contains("*(1) HashAggregate"), s"no codegen span:\n$plan")
  }

  test("cube lattice is one Expand + one shuffle, not per-grouping rescans") {
    val plan = physicalPlan(
      graft.queries.AnalyticsQueries.q42Cube(spark, sf))
    assert(plan.contains("Expand"), s"cube must use Expand:\n$plan")
    // one aggregation pass: a single pair of partial/final HashAggregate
    assert("HashAggregate".r.findAllIn(plan).size <= 2,
      s"cube re-aggregates:\n$plan")
  }

  test("argmax is a single aggregation pass — no self-join, no window") {
    val plan = physicalPlan(
      graft.queries.AnalyticsQueries.q47Argmax(spark, sf))
    assert(!plan.contains("Join"), s"max_by must not join:\n$plan")
    assert(!plan.contains("Window"), s"max_by must not window:\n$plan")
  }

  test("bt fit audit: both strength attaches are BroadcastHashJoins") {
    // r13 verdict item 5: the |items|-row strength table must broadcast
    // by PLAN, not by AQE size estimation — a SortMergeJoin here would
    // shuffle the |pairs| table twice for a 5-row attach (and at real
    // eval scale, shuffle the game log for a |models|-row table).
    val plan = physicalPlan(
      graft.queries.EvalQueries.q332BtFit(spark, sf))
    val nBhj = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(nBhj >= 2,
      s"expected >=2 BroadcastHashJoins for the strength attaches, " +
        s"got $nBhj:\n${plan.take(3000)}")
  }

  test("distributed ntile: every window is partitioned (no single-partition funnel)") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = graft.queries.AnalyticsQueries.q57Ntile(spark, sf)
    val windows = df.queryExecution.sparkPlan.collect {
      case w: WindowExec => w.partitionSpec
    }
    assert(windows.nonEmpty, "expected the per-partition rank window")
    windows.foreach(spec =>
      assert(spec.nonEmpty, "found a partition-less window over data rows"))
    // and the range shuffle that makes per-partition ranks globally valid
    assert(physicalPlan(df).toLowerCase.contains("rangepartitioning"),
      "missing range repartition")
  }

  test("grouped rank: no window partitioned by the low-cardinality group key") {
    // the r12 scale-shape regression: q74's band ranks rode
    // Window.partitionBy(l_returnflag) — 3 key values, so the whole
    // corpus sorted in <= 3 tasks. groupedRowNumber must range-shuffle
    // on (group, sort) and window per (pid, group); any window whose
    // partition spec is the bare group column is the regression back.
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.operators.GlobalRank
    val li = graft.sources.Sources.lineitem(spark, sf)
      .select(col("l_returnflag"),
        floor(col("l_extendedprice") * lit(100)).cast("long").as("pc"))
    val df = GlobalRank.groupedRowNumber(li, Seq("l_returnflag"),
      Seq(col("pc")), "rn")
    val windows = df.queryExecution.sparkPlan.collect {
      case w: WindowExec => w.partitionSpec
    }
    assert(windows.nonEmpty, "expected the per-(pid, group) rank window")
    windows.foreach(spec => assert(spec.size >= 2,
      s"window partitioned by the bare group key (spec=$spec) — " +
        "the <=3-task corpus sort is back"))
    assert(physicalPlan(df).toLowerCase.contains("rangepartitioning"),
      "missing the (group, sort) range repartition")
    // and value-at-rank agrees with the single-task window definition
    val got = df.select(col("l_returnflag"), col("rn"), col("pc"))
      .as[(String, Long, Long)].collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_returnflag")).orderBy(col("pc"))
    val want = li.withColumn("rn", row_number().over(w).cast("long"))
      .select(col("l_returnflag"), col("rn"), col("pc"))
      .as[(String, Long, Long)].collect().toSet
    assert(got === want)
  }

  test("per-language top-k stacks features in one scan — no self-join") {
    val plan = physicalPlan(
      graft.queries.CurationQueries.q60TopQuality(spark, sf))
    assert(!plan.contains("Join"),
      s"quality+language must be one projection, not a join:\n$plan")
    assert("Scan parquet".r.findAllIn(plan).size === 1,
      s"expected exactly one corpus scan:\n$plan")
  }

  test("bucketed cosine near-dup never falls back to a nested-loop join") {
    val plan = physicalPlan(
      graft.queries.ExtrasQueries.q58CosineDupBucketed(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"bucketed near-dup must stay equi-join:\n$plan")
  }

  test("bucketed DBSCAN's whole plan is cartesian-free (the scale path)") {
    // q297 = dbscanClustersFrom over cosineNearDupPairsBucketed: the
    // ε-graph, CC, degree, and border stages must ALL be equi-joins —
    // the exact-path q289 keeps its documented all-pairs oracle join,
    // but the scale path must never nest-loop anywhere
    val plan = physicalPlan(
      graft.queries.ScalePathQueries.q297DbscanBucketed(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"bucketed DBSCAN must stay equi-join end to end:\n$plan")
  }

  test("bucketed margin mining's whole plan is cartesian-free") {
    // q298 = marginMiningFrom over crossCorpusCandidates: signature
    // equi-joins + window stages only; the |S|·|T| crossJoin exists
    // solely in the exact-path baseline (q247)
    val plan = physicalPlan(
      graft.queries.ScalePathQueries.q298MarginBucketed(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"bucketed margin mining must stay equi-join end to end:\n$plan")
  }

  test("repetition quality is a pure narrow projection (no shuffle)") {
    val plan = physicalPlan(graft.operators.TextAnalysis.repetitionStats(
      graft.sources.Sources.documents(spark, sf), "doc_id", "text"))
    assert(!plan.contains("Exchange"),
      s"repetition stats must not shuffle:\n$plan")
  }

  test("decontamination broadcasts the eval side (corpus never shuffles on n-gram)") {
    val plan = physicalPlan(
      graft.queries.CorpusQueries.q75Decontaminate(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"eval n-grams must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"benchmark-sized eval side must never sort-merge:\n$plan")
  }

  test("batch retrieval: per-query cut gets the group-limit rewrite") {
    val plan = physicalPlan(graft.queries.CorpusQueries.q76Retrieve(spark, sf))
    assert(plan.contains("WindowGroupLimit"),
      s"per-query top-k must pre-prune:\n$plan")
  }

  test("packing prefix sum: no single-partition window, one range shuffle") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = graft.queries.CorpusQueries.q77Packing(spark, sf)
    val windows = df.queryExecution.sparkPlan.collect {
      case w: WindowExec => w.partitionSpec
    }
    assert(windows.nonEmpty, "expected the per-partition prefix-sum window")
    windows.foreach(spec =>
      assert(spec.nonEmpty, "found a partition-less window over data rows"))
    assert(physicalPlan(df).toLowerCase.contains("rangepartitioning"),
      "missing range repartition")
  }

  test("matryoshka stats are a pure narrow projection (no shuffle)") {
    val plan = physicalPlan(graft.operators.Similarity.matryoshkaStats(
      graft.sources.Sources.embeddings(spark, sf), "vec_id", "embedding", 16))
    assert(!plan.contains("Exchange"),
      s"matryoshka stats must not shuffle:\n$plan")
  }

  test("bucketed LSH index: incremental dedup never shuffles the index side") {
    // The 100 TB deployment claim made real: with the index tables written
    // bucketed on their join keys (TextDedup.lshIndex's contract), an
    // incremental run's plan contains NO Exchange above a bucketed scan —
    // only the new batch shuffles; the indexed corpus is read in place.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.operators.TextDedup
    import graft.sources.{Sinks, Sources}
    for (t <- Seq("b_lsh_bands", "b_lsh_shingles")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
    }
    val docs = Sources.documents(spark, sf)
    val (bands, shingles) = TextDedup.lshIndex(docs, "doc_id", "text")
    Sinks.writeBucketed(bands, "b_lsh_bands", Seq("band", "bh"), 8)
    Sinks.writeBucketed(shingles, "b_lsh_shingles", Seq("doc_id", "s"), 8)
    // new batch = re-submitted copies of indexed docs under fresh ids:
    // every one must be caught as a jaccard-1.0 duplicate of its original
    val newBatch = docs.limit(20)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val (prevAqe, prevBc) = (
      spark.conf.get("spark.sql.adaptive.enabled"),
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    try {
      // plain plan tree (no AQE stage wrappers) + no broadcast: the index
      // at real scale never fits in a broadcast, the bucketed read is the
      // path under test
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val dup = TextDedup.dedupAgainstIndex(newBatch, "doc_id", "text",
        spark.table("b_lsh_bands"), spark.table("b_lsh_shingles"))
      val hits = dup.filter(col("jaccard") >= 0.999).count()
      assert(hits >= 20, s"expected every resubmitted doc caught, got $hits")
      val plan = dup.queryExecution.executedPlan
      assert(plan.collect {
        case f: FileSourceScanExec if f.bucketedScan => f
      }.size >= 2, s"index tables must be read as bucketed scans:\n$plan")
      // the forbidden shape: an Exchange whose input reaches a bucketed
      // index scan WITHOUT crossing a join — i.e. raw index data being
      // re-shuffled. Post-join shuffles are batch/collision-bounded and
      // legitimate (candidate outputs, semi-filtered size aggs).
      import org.apache.spark.sql.execution.joins.{BaseJoinExec => J}
      def rawBucketedReach(p: SparkPlan): Boolean = p match {
        case _: J => false
        case f: FileSourceScanExec => f.bucketedScan
        case other => other.children.exists(rawBucketedReach)
      }
      plan.foreach {
        case e: ShuffleExchangeExec =>
          assert(!rawBucketedReach(e.child),
            s"raw index data re-shuffled — bucketing not used:\n$plan")
        case _ =>
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("partitioned history reads prune partitions at planning time") {
    // Sinks.appendPartitioned's 100 TB claim made real: a filter on the
    // partition key must become a PartitionFilter (directory pruning at
    // planning time), not a post-scan Filter over every file.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.sources.{Sinks, Sources}
    val dir = java.nio.file.Files.createTempDirectory("part-hist").toString
    Sinks.appendPartitioned(Sources.documents(spark, sf), dir, Seq("lang"))
    val read = spark.read.parquet(dir).filter(col("lang") === "en")
    assert(read.count() > 0)
    val scans = read.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    val pruned = scans.head
    assert(pruned.partitionFilters.exists(_.toString.contains("lang")),
      s"lang predicate must be a partition filter:\n${pruned.partitionFilters}")
    // only the en/ directory is selected — not one per language
    assert(pruned.selectedPartitions.partitionCount == 1,
      s"expected 1 pruned partition, got " +
        s"${pruned.selectedPartitions.partitionCount}")
  }

  test("bucketed snapshot diff joins without any exchange") {
    // Snapshot.diff's scaladoc claim made real: with both snapshots
    // stored bucketed on the id, the full-outer hash-compare join reads
    // both sides in place — the nightly 100 TB diff costs two bucketed
    // scans, zero shuffle.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.operators.Snapshot
    import graft.sources.{Sinks, Sources}
    for (t <- Seq("b_snap_a", "b_snap_b")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
    }
    val docs = Sources.documents(spark, sf)
    Sinks.writeBucketed(docs, "b_snap_a", Seq("doc_id"), 8)
    Sinks.writeBucketed(docs.filter(col("doc_id") % 11 =!= 0),
      "b_snap_b", Seq("doc_id"), 8)
    val (prevAqe, prevBc) = (
      spark.conf.get("spark.sql.adaptive.enabled"),
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val d = Snapshot.diff(spark.table("b_snap_a"),
        spark.table("b_snap_b"), "doc_id", "text")
      assert(d.filter(col("status") === "removed").count() > 0)
      val plan = d.queryExecution.executedPlan
      assert(plan.collect {
        case f: FileSourceScanExec if f.bucketedScan => f
      }.size == 2, s"both snapshots must be read as bucketed scans:\n$plan")
      assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"bucketed diff must be exchange-free:\n$plan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("z-order values are computed inside whole-stage codegen, pruned scan") {
    val df = graft.queries.ScaleQueries.q84ZOrderLayout(spark, sf)
    df.collect() // AQE hides codegen spans until the final plan exists
    val plan = physicalPlan(df)
    // the interleave projection must carry a codegen *(n) prefix
    assert(plan.split("\n").exists(l =>
      l.contains("*(") && l.contains("shiftleft")), s"no codegen span:\n$plan")
    // only the two layout dimensions are read from the events scan
    assert(plan.contains("ReadSchema: struct<ts:"),
      s"scan must read just (ts, user_id):\n$plan")
    assert(!plan.contains("event_type"), s"scan reads too much:\n$plan")
  }

  test("vocab coverage: every window is partitioned (distributed rank)") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = graft.queries.CorpusQueries.q86VocabCoverage(spark, sf)
    val windows = df.queryExecution.sparkPlan.collect {
      case w: WindowExec => w.partitionSpec
    }
    assert(windows.nonEmpty, "expected the GlobalRank per-partition window")
    windows.foreach(spec =>
      assert(spec.nonEmpty, "found a partition-less window over the vocab"))
  }

  test("semDedup joins on the cluster key — no cartesian pairing") {
    val assigned = Seq((1L, 10L, Seq(1.0f, 0.0f)), (2L, 10L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "cluster", "embedding")
    val plan = physicalPlan(graft.operators.VectorAggs.semDedup(
      assigned, "vec_id", "cluster", "embedding", 0.9))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"pairwise test must be a cluster equi-join:\n$plan")
  }

  test("exact-N sampling rides WindowGroupLimit (per-partition top-N heaps)") {
    val df = Seq((1L, "A"), (2L, "A"), (3L, "B")).toDF("id", "s")
    val plan = physicalPlan(
      graft.operators.Sampling.exactNPerStratum(df, "id", "s", "t", 2))
    assert(plan.contains("WindowGroupLimit"), s"missing rewrite in:\n$plan")
  }

  test("repeated spans: every window is doc-partitioned (no global funnel)") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = graft.queries.PipelineQueries.q98RepeatedSpans(spark, sf)
    val windows = df.queryExecution.sparkPlan.collect {
      case w: WindowExec => w.partitionSpec
    }
    assert(windows.nonEmpty, "expected the gap-run windows")
    windows.foreach(spec =>
      assert(spec.nonEmpty, "found a partition-less window over gram rows"))
  }

  test("AQE splits a skewed shuffle join at runtime (100 TB posture)") {
    // The LSH/semDedup equi-joins rely on AQE skew splitting when one
    // bucket (boilerplate band / giant cluster) dominates. Reproduce at
    // toy scale by lowering the skew thresholds: one hot key holding
    // ~90% of the left side must be marked `isSkew` in the final plan.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> scala.util.Try(conf.get(k)).toOption)
    try {
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
      val left = (1 to 60000).map(i =>
        (if (i % 10 == 0) i.toLong else 7L, s"payload_$i%-64s")).toDF("k", "v")
      val right = (1L to 200L).map(i => (i, s"dim_$i")).toDF("k", "d")
      val joined = left.hint("shuffle_hash").join(right, "k")
      // collect() (not count()) so THIS queryExecution reaches its final
      // adaptive plan — count() would execute a different one
      assert(joined.collect().nonEmpty)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isSkew=true") || plan.contains("skew=true"),
        s"expected AQE skew-split markers in final plan:\n${plan.take(4000)}")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("cap-split ANN index dedup: census broadcasts, index side stays shuffled") {
    // the q380 posture claim: the (tbl, sig, m) census is METADATA
    // (≤ nTables·2^planes rows) and must ride a BroadcastHashJoin; the
    // corpus-scale index table must NOT be broadcast — it meets the
    // exploded batch side in a ShuffledHashJoin (the shuffle_hash hint)
    val plan = physicalPlan(
      graft.queries.ScalePathQueries.q380EmbIndexProdCap(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"census must broadcast:\n${plan.take(3000)}")
    assert(plan.contains("ShuffledHashJoin"),
      s"index join must be shuffled, not broadcast:\n${plan.take(3000)}")
  }

  test("text salt split counts each bucket once: no count window over a count window on the same key") {
    // sized() counts each (band, bh) bucket with a window; the split of
    // the hot rows reuses that size instead of counting them again
    import org.apache.spark.sql.catalyst.expressions.aggregate.Count
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.queries.ScalePathQueries
    def counting(w: WindowExec): Boolean =
      w.windowExpression.exists(_.exists(_.isInstanceOf[Count]))
    def key(w: WindowExec) = w.partitionSpec.map(_.canonicalized).toSet
    for ((name, df) <- Seq(
        "q358" -> ScalePathQueries.q358SaltSplitText(spark, sf),
        "q385" -> ScalePathQueries.q385PilePrescribed(spark, sf))) {
      val plan = df.queryExecution.sparkPlan
      val counts = plan.collect { case w: WindowExec if counting(w) => w }
      assert(counts.nonEmpty, s"$name sizes no bucket with a window:\n$plan")
      counts.foreach { w =>
        val recount = w.child.collect {
          case c: WindowExec if counting(c) && key(c) == key(w) => c
        }
        assert(recount.isEmpty,
          s"$name counts ${w.partitionSpec} twice:\n$plan")
      }
    }
  }

  test("whole-surface audit: no unintended nested-loop/cartesian joins") {
    // Every BroadcastNestedLoopJoin in the surface is a deliberate
    // broadcast of a metadata-scale table (k centroids / 1-row total) or
    // the documented exact all-pairs oracle path (q41, scale path = q58).
    // Anything new showing up here is a silent O(n²) regression.
    val allowedBnl = Set(
      "q41_cosine_near_dup", "q55_ivf_ann", "q57_ntile", "q61_kmeans",
      // 1-row corpus-stats broadcasts (N, avgdl, dim min/max) riding
      // along the scan
      "q66_tfidf", "q68_bm25", "q71_sq8",
      // q76: 1-row (N, avgdl) broadcast; q77: n_partitions-row offsets
      // table (the GlobalRank `<` join, metadata-scale, same as q57);
      // q78: 1-row (N, k) totals broadcast
      "q76_retrieve", "q77_packing", "q78_uniform_mix",
      // q214: 1-row (J, saturated-tokens) totals broadcast onto the
      // |strata|-row table; q215/q216: benchmark-sized query-set
      // broadcast for the documented exact grading scan (ADC itself
      // equi-joins)
      "q214_epoch_allocation", "q215_pq_recall", "q216_trained_pq_recall",
      // q217: coarseK-row probe-centroid broadcast + the same grading
      // scan; the candidate path itself is a cluster-keyed equi-join
      "q217_ivf_pq_recall",
      // q80: 1-row n_min broadcast onto the strata counts; q81: 1-row
      // total-token broadcast; q82: k-centroid broadcast (kMeans, as
      // q61); q84: 1-row min/max stats broadcast; q86: GlobalRank
      // offsets `<` join + 1-row totals + cutoffs-table broadcasts
      "q80_temperature_mix", "q81_unigram_logprob", "q82_semdedup",
      "q84_zorder_layout", "q86_vocab_coverage",
      // q87: 1-row whitening-stats (means, sds) broadcast; q90: 1-row
      // (n_tok, n_pair) totals broadcast; q92: bounded eval-query-sample
      // broadcast for the exact-recall baseline; q100: n_partitions-row
      // offsets `<` join (the GlobalRank/Packing prefix-sum construction,
      // metadata-scale, same as q57/q77)
      "q87_whiten", "q90_bigram_pmi", "q92_ann_recall",
      "q100_budget_select",
      // q111: 3-row percentile-targets broadcast onto the (strata ×
      // bucket) counts — metadata scale; q113: 1-row max-ts broadcast
      // riding the scan; q116: bounded anchor-set broadcast vs one
      // corpus pass (the q92 eval-sample shape); q120: 1-row corpus
      // total broadcast onto the strata counts (the q80 n_min shape)
      "q111_quantized_pct", "q113_decayed", "q116_hard_negatives",
      "q120_proportional_sample",
      // q128: 3-row percentile-targets broadcast (as q111); q129: 1-row
      // BM25 corpus-stats broadcast (as q68/q76); q130: 1-row vocab-size
      // broadcast (as q81); q131: bounded query-set broadcast vs one
      // corpus pass (the q92/q116 shape)
      "q128_weighted_pct", "q129_rrf_fusion", "q130_bigram_lm",
      "q131_knn_labels",
      // q143: n_partitions-row offsets `<` join (the GlobalRank
      // construction, metadata-scale, same as q57/q77/q100)
      "q143_sorted_neighbor",
      // q145: 1-row node-count broadcast riding the rank state (the
      // q78/q81 totals shape)
      "q145_pagerank",
      // q165: n_partitions-row offsets `<` join (the GlobalRank
      // construction, metadata-scale — same as q143)
      "q165_jaro_winkler",
      // q170: 1-row max-day bound broadcast onto the fan-out (the q113
      // max-ts shape)
      "q170_sliding_active",
      // q174: 1-row corpus-count broadcast for the integer support
      // compares (the q78/q81 totals shape)
      "q174_frequent_pairs",
      // q175: n_partitions-row offsets `<` join from the GlobalRank
      // ranking inside sortedNeighborhoodPairs (same as q143/q165)
      "q175_two_hop",
      // q188: category-spine broadcasts (|cats|-row + 1-row total) onto
      // the strata rows — metadata scale (the q111 targets shape)
      "q188_chi2_drift",
      // q195: 1-row (raw-total, target-total) stats broadcast onto the
      // 256-row bucket table — metadata scale by construction (DSIR's
      // hashed feature space is fixed at 256 buckets)
      "q195_dsir_select",
      // q197: n_partitions-row offsets `<` join from the GlobalRank
      // global position inside curriculumInterleave (same as q143/q165)
      "q197_curriculum",
      // q200: 1-row corpus-token-total broadcast (the q81/q130 shape)
      "q200_doc_perplexity",
      // q201: benchmark-sized eval-vector broadcast vs one corpus pass
      // (the q92/q116/q131 eval-set shape; LSH-banded prefilter is the
      // documented scale path if eval outgrows broadcast range)
      "q201_embed_decontam",
      // q202: k-row PQ codebook broadcast (the q61/q82 centroid shape)
      "q202_pq_encode",
      // q204: q200's 1-row corpus-token-total broadcast + a 1-row
      // mixture-mass-total broadcast onto |strata| rows — metadata scale
      "q204_mixture_weights",
      // q205: n_partitions-row offsets `<` join from the GlobalRank
      // construction (same as q143/q165/q197)
      "q205_length_batching",
      // q206: |sources|-row sketch-stats `<` self-join (the pair frame)
      // — sketch state only, metadata scale by construction
      "q206_kmv_intersect",
      // q210: 1-row key-stats totals broadcast onto the k-row top list
      "q210_skew_audit",
      // q219/q225: k-centroid broadcast from the kMeans chain (the
      // q61/q82 shape; q225 composes q82's dedup with the prune)
      "q219_prototype_prune", "q225_d4_pipeline",
      // q220: bounded query-set broadcast building the per-query
      // candidate pool in ONE corpus pass (the q92/q116/q131 shape)
      "q220_mmr_rerank",
      // q222: coarseK-row centroid broadcast + the exact grading scan
      // (same as q217); candidates stay a cluster-keyed equi-join
      "q222_ivf_residual",
      // q223: |canaries|-row broadcast with a codegen'd contains filter
      // — the deliberate scan-side probe, nothing corpus-quadratic
      "q223_canary_scan",
      // q224: bounded query-set broadcast for the exact-recall baseline
      // (the q92 shape); both probe paths are signature equi-joins
      "q224_multiprobe_lsh",
      // q227: the funnel report row is six 1-row stage aggregates
      // crossJoined together — metadata scale by construction
      "q227_curation_funnel",
      // q228: n_partitions-row prefix-sum offsets `<` self-join from the
      // same GlobalRank-style construction as q143/q165/q197/q205
      "q228_compaction_plan",
      // q230: bm25RetrieveAll's 1-row (N, avgdl) corpus-stats broadcast
      // (the q68/q76 shape); the gold anti-join is a broadcast EQUI-join
      "q230_hard_negatives",
      // q233: the ≤64-row label-frame crossJoin that zero-fills the
      // (doc, label) score grid — |labels| is bounded by require()
      "q233_centroid_classify",
      // q112: n_partitions-row staircase-offsets `<` join from the
      // distributed pareto running max (the GlobalRank pattern)
      "q112_pareto",
      // q237: packPlan's n_partitions-row offsets `<` join (same as q77)
      "q237_token_packing",
      // q239: the two GlobalRank offsets `<` joins (n_partitions rows
      // each — the q57/q143 construction, one per ranking)
      "q239_spearman",
      // q240: 1-row (Nu, Nb) corpus-totals broadcast (the q81/q130
      // totals shape)
      "q240_pmi_collocations",
      // q241: q233's ≤64-row label-frame crossJoin (centroidScores)
      "q241_uncertainty_sample",
      // q243: GlobalRank offsets `<` join + 1-row n broadcast
      "q243_curriculum_pacing",
      // q246: interpolatedPerplexity's 1-row (N, λ) totals broadcast
      // (the q200 shape); tier assignment itself is a broadcast
      // EQUI-join on (lang, score)
      "q246_ccnet_tiers",
      // q247: the documented exact all-pairs mining baseline (the
      // q41/q201 shape; scale path = LSH/IVF candidate pairs)
      "q247_margin_mining",
      // q248/q249: 1-row corpus-totals broadcasts plus q249's
      // |strata|×|support| grid crossJoin — metadata scale by
      // construction (both sides are post-aggregation count tables)
      "q248_loo_impact", "q249_w1_drift",
      // q251: ntileExact's n_partitions-row offsets `<` join + 1-row
      // total broadcast (the q57/q77 GlobalRank construction)
      "q251_vocab_growth",
      // q255: 1-row corpus-token-total broadcast onto the scored slots
      // (the q81/q130/q240 totals shape)
      "q255_collocation_merge",
      // q257: composes q246's perplexity-tier chain and inherits its
      // 1-row (N, λ) totals broadcast — the q200/q246 shape
      "q257_signals_table",
      // q260/q261: the 1-row sufficient-statistics / trained-β model
      // broadcast (normal-equations train is a single aggregate row)
      "q260_probe_train", "q261_probe_confusion",
      // q262: bounded query-set broadcast vs one corpus pass (the
      // q92/q116/q131 eval shape; MaxSim fan-out is a constant m²)
      "q262_maxsim",
      // q263: 1-row mean-vector and (Σd², n) totals broadcasts (the
      // q84/q87 corpus-stats shape)
      "q263_coreset",
      // q264: the documented exact all-pairs kNN baseline (q41/q247
      // contract; scale path = LSH/IVF candidate lists)
      "q264_hubness",
      // q265: kNN-graph construction is the same all-pairs baseline
      "q265_onion_layers",
      // q268: pageRank's 1-row node-count broadcast (the q145 shape,
      // already allowlisted there) over the bounded 150-edge word graph
      "q268_textrank",
      // q269: k-row center-set broadcast vs one corpus pass (the
      // q61/q82 centroid-broadcast shape)
      "q269_kcenter_coverage",
      // q271: 1-row total-edge-count broadcast onto the per-label rows
      "q271_source_mixing",
      // q275: three 1-row (summary × edge-count) broadcasts, one per
      // swept threshold — metadata scale by construction
      "q275_percolation",
      // q276: composes q257's chain (inherits its 1-row broadcasts);
      // the yield matrix itself assembles from ONE aggregate row
      "q276_filter_yield",
      // q277: Kneser–Ney's 1-row bigram-type-count (B) broadcast —
      // the q200 totals shape
      "q277_kneser_ney",
      // q280/q286/q291: 1-row corpus-totals broadcast onto term rows
      // (the q81/q130 shape)
      "q280_term_keyness", "q286_term_dispersion", "q291_burstiness",
      // q284/q294: 1-row (N / corpus-stats) broadcast + the |q|-row
      // query-term grid (the q68/q230 retrieval shape)
      "q284_dirichlet_ql", "q294_prf_retrieve",
      // q285: four 1-row count aggregates crossJoined into the single
      // summary row — metadata by construction
      "q285_blocking_quality",
      // q378/q379/q382/q384/q387: the dedupPolicyAudit single decision
      // row assembles from 1-row aggregate broadcasts plus a
      // metadata-scale size HISTOGRAM (≤ max_bucket rows) — the q285
      // shape (q387 audits the WIDENED census: still ≤ space rows)
      "q378_policy_audit_skew", "q379_policy_audit_dense",
      "q382_policy_audit_pile", "q384_policy_audit_emb",
      "q387_policy_reaudit_widened",
      // q288: the D-row depth grid broadcast onto two top-k lists
      "q288_rbo_agreement",
      // q289: DBSCAN's ε-graph uses the documented exact all-pairs
      // cosine baseline (q41/q264 contract; scale path = bucketed LSH)
      "q289_dbscan",
      // q292: m-row top-word and m-row stats broadcasts onto the
      // |strata| grid — metadata scale
      "q292_burrows_delta",
      // q295: pageRank's 1-row seed-count broadcast (the q268 shape)
      "q295_seed_pagerank",
      // q296: 1-row (n_cal, k, q̂) threshold broadcast onto the test
      // aggregate — metadata by construction
      "q296_conformal",
      // q301: two 1-row aggregates (D_o stats × D_e stats) crossJoined
      // into the single alpha summary row — the q285 shape
      "q301_krippendorff",
      // q304: the 0-or-1-row τ-threshold broadcast left-joined onto the
      // ≤k-row sample — metadata by construction (the q296 shape)
      "q304_priority_sample",
      // q306: centroidScores' |labels|-row (≤64) candidate-grid
      // broadcast — the q233 classifier shape
      "q306_confident_joint",
      // q316: ksTwoSample's 1-row (n_a, n_b) totals broadcast onto the
      // metadata-scale distinct-value table (the q285/q296 shape)
      "q316_ks_drift",
      // q318: the |strata|×|splits| spine crossJoin — both sides
      // metadata-scale by construction (the q111/q249 grid shape)
      "q318_split_audit",
      // q319: two 1-row broadcasts (max weight, weight total) onto the
      // |strata|-row moment table (the q120 allocation shape)
      "q319_neyman_alloc",
      // q327: the 1-row pair-class aggregate crossJoined onto the 1-row
      // n_items count (the q285/q296 shape); the C(n,2) self-join is
      // item-scale by the operator's documented contract
      "q327_kendall_tau",
      // q328: two 1-row aggregates (edge count, triangle counts)
      // crossJoined onto the 1-row item count — metadata by construction
      "q328_cyclic_triads",
      // q348: kendallTauA's item-contract C(n,2) self-join (the q327
      // shape) over the two fitted |items|-row rating tables, plus its
      // 1-row pair-class × n_items crossJoin
      "q348_rating_agreement",
      // q340: fleissKappa's two 1-row aggregates (unit stats × category
      // stats) crossJoined into the single kappa row — the q301
      // krippendorff shape
      "q340_fleiss_kappa",
      // q343: four 1-row aggregates (items, pair count, component agg,
      // boundary counts) crossJoined into the one audit row — the q328
      // shape
      "q343_graph_audit",
      // q344: the 1-row item-count broadcast onto the |items|-row score
      // table (the q145/q268 node-count shape)
      "q344_schulze",
      // q351: the 1-row total-doc-count broadcast crossJoined onto the
      // 3-row per-split aggregate for share_ppm — metadata by
      // construction (the q296/q319 shape)
      "q351_cluster_aware_split",
      // q354: gwetAC1's two 1-row aggregates (unit stats × category
      // stats) crossJoined into the single AC1 row — the q340
      // fleissKappa shape exactly
      "q354_gwet_ac1",
      // q355: the C-row marginal inequality self-join broadcast
      // EXPLICITLY (the kendallTauA q327 lesson) + the 1-row summary
      // crossJoins — all metadata by the rating-scale contract
      "q355_alpha_interval",
      // q352/q357/q359/q360: the 1-row n_units_excluded ledger
      // broadcast-crossJoined onto the output (the q339
      // exclusion-is-never-silent convention; metadata by construction)
      "q352_dawid_skene", "q357_ds_posteriors",
      "q359_ds_ragged", "q360_ds_ragged_post",
      // q369/q370: the same 1-row exclusion ledger on the ragged
      // truncate=true path — identical shape to q359/q360
      "q369_ds_ragged_trunc", "q370_ds_ragged_post_trunc",
      // q361: q351's 1-row total-doc-count crossJoin, identical shape
      "q361_cluster_split_capped")
    val violations = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.sparkPlan.toString
        val bad =
          (if (plan.contains("BroadcastNestedLoopJoin") && !allowedBnl(name))
            Seq(s"$name:BNL") else Nil) ++
          (if (plan.contains("CartesianProduct")) Seq(s"$name:CARTESIAN")
           else Nil)
        bad
    }
    assert(violations.isEmpty, violations.mkString(", "))
  }

  test("whole-surface audit: no gate output column wider than DECIMAL(18)") {
    // The r11 root cause of the three-round red-row saga: the driver's
    // comparator diverges on DECIMAL(precision > 18) OUTPUT columns even
    // when the values are bit-identical (6/6 red rows had a wide-decimal
    // output; 0/303 green ones did). Internals may use DECIMAL(38,x)
    // freely — but every REPORTED column of every registered gate query
    // must fit int64 / DECIMAL(18). PORTABILITY.md rule: a new gate
    // registers only after this audit and the perturbation audit pass.
    import org.apache.spark.sql.types.{ArrayType, DataType, DecimalType,
      StructType}
    def wideIn(path: String, dt: DataType): Seq[String] = dt match {
      case d: DecimalType if d.precision > 18 => Seq(s"$path:$d")
      case s: StructType =>
        s.fields.toSeq.flatMap(f => wideIn(s"$path.${f.name}", f.dataType))
      case a: ArrayType => wideIn(s"$path[]", a.elementType)
      case _ => Nil
    }
    val wide = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        fn(spark, sf).schema.fields.toSeq.flatMap(f =>
          wideIn(s"$name.${f.name}", f.dataType))
    }
    assert(wide.isEmpty,
      s"wide-decimal gate outputs (driver-comparator hazard): " +
        wide.mkString(", "))
  }

  test("prefix filter's df-attach: hot shingles broadcast, cold join skew-free") {
    // q142's one skewable stage: attaching global document frequencies
    // shuffles the shingle slice BY SHINGLE, so a boilerplate shingle
    // shared by 30% of the corpus concentrates one partition. AQE's
    // OptimizeSkewedJoin measurably does NOT rescue this shape — the
    // build side evaluates the df aggregate in-stage above its shuffle
    // (Join(stage, HashAgg(stage))), which the rule's bare
    // Join(stage, stage) pattern never matches, at any threshold (a
    // control join of the bare shape under identical confs does print
    // ShuffledHashJoin(skew=true)). prefixCandidates therefore splits
    // the attach DETERMINISTICALLY: df rows of heavy keys (df ≥ docs/64,
    // a count bounded by 64·avg-shingles-per-doc regardless of corpus
    // size) go through a broadcast join, and the residual shuffle join
    // only carries keys with df < docs/64 — no partition can inherit a
    // hot key's mass, no runtime re-planning needed. This pins both
    // halves of that plan and the fixture's exact output.
    import graft.operators.TextDedup
    val hot = "aaa bbb ccc" // one shingle in 30% of docs
    val base = (1 to 40000).map { i =>
      (i.toLong,
        if (i % 10 < 3) s"$hot u${i}x" else s"u${i}a u${i}b u${i}c")
    }
    // real near-dup pairs so the end-to-end result is non-empty (an
    // all-empty result lets AQE collapse the tree to EmptyRelation)
    val dups = (1 to 20).map(i =>
      (100000L + i, s"d${i}a d${i}b d${i}c d${i}d d${i}e")) ++
      (1 to 20).map(i =>
        (200000L + i, s"d${i}a d${i}b d${i}c d${i}d d${i}e"))
    val docs = (base ++ dups).toDF("doc_id", "text")
    val cand = TextDedup.prefixCandidates(
      TextDedup.shingles(docs, "doc_id", "text", 3), "doc_id", 3, 5)
    val got = cand.orderBy("d1", "d2").as[(Long, Long)].collect().toSeq
    // candidates are EXACTLY the planted pairs: the hot shingle never
    // enters a prefix (highest df sorts last) and unique shingles can't
    // collide — boilerplate pruned with zero false candidates
    assert(got == (1 to 20).map(i => (100000L + i, 200000L + i)),
      s"unexpected candidate set: $got")
    // r21: prefixCandidates eagerly checkpoints the prefix slice (the
    // prefix×prefix join reads it from both sides), which hides the
    // df-attach subtree from cand's executed plan — assert the attach
    // join shapes on the pre-checkpoint frame instead
    val pre = TextDedup.prefixRows(
      TextDedup.shingles(docs, "doc_id", "text", 3), "doc_id", 3, 5)
    pre.write.format("noop").mode("overwrite").save()
    val plan = pre.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"hot-df attach must be a broadcast join:\n$plan")
    assert(plan.contains("ShuffledHashJoin"),
      s"cold-df attach must stay a shuffled hash join:\n$plan")
  }

  // exchanges are inserted by EnsureRequirements, so they only exist in
  // the executed plan — unwrap the AQE node to traverse them typed
  private def withExchanges(df: DataFrame)
      : org.apache.spark.sql.execution.SparkPlan =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }

  test("minHashLshPairs: bands off the scan by the compiled kernel, no lambdas") {
    import org.apache.spark.sql.catalyst.expressions.{
      HigherOrderFunction, LambdaFunction}
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.exchange.{
      ReusedExchangeExec, ShuffleExchangeExec}
    import graft.functions.MinHashBands
    val pairs = graft.operators.TextDedup.minHashLshPairs(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text",
      k = 16, r = 4, w = 3, threshold = 0.5)
    pairs.collect()
    val plan = pairs.queryExecution.executedPlan
    val nodes = planNodes(plan)
    val lambdas = nodes.flatMap(_.expressions.flatMap(_.collect {
      case f: HigherOrderFunction => f.prettyName
      case _: LambdaFunction => "lambda"
    }))
    assert(lambdas.isEmpty, s"interpreted lambdas left in the plan: $lambdas\n$plan")
    def isExchange(p: org.apache.spark.sql.execution.SparkPlan) = p match {
      case _: ShuffleExchangeExec | _: ReusedExchangeExec => true
      case _ => false
    }
    val bands = nodes.collect {
      case g: GenerateExec if g.generator.exists(_.isInstanceOf[MinHashBands]) => g
    }
    assert(bands.nonEmpty && bands.forall(g => !planNodes(g.child).exists(isExchange)),
      s"the band rows must come straight off the scan:\n$plan")
    // 11 exchanges on sf0.001 (7 shuffles + 4 reused); 12 (7 + 5) with
    // the transform/zip_with bands, whose branch read the shingle rows'
    // doc-id exchange before its signature aggregate
    val exchanges = nodes.count(isExchange)
    assert(exchanges <= 11, s"$exchanges exchanges:\n$plan")
  }

  test("phash near-dup drops the media payload before any shuffle (q207)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.BinaryType
    // at 100 TB the payload column IS the corpus — if it crosses even one
    // Exchange the whole job ships the media bytes through the shuffle
    // instead of the (id, phash) longs the banding needs
    val df = graft.queries.QualityQueries.q207PhashPairs(spark, sf)
    val exchanges = withExchanges(df).collect {
      case e: ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty, "expected shuffles in the banded join")
    exchanges.foreach { e =>
      assert(!e.output.exists(_.dataType == BinaryType),
        s"binary payload crossed a shuffle:\n${e.treeString}")
    }
  }

  test("ICT / FIM / CDC data-gen transforms are zero-shuffle (q283/q290/q293)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // these per-row projections claim "the corpus is never exploded or
    // joined" — at 100 TB a stray shuffle would dominate the transform
    val docs = graft.sources.Sources.documents(spark, sf)
    val plans = Seq(
      "ictPairs" -> graft.operators.Chunking.ictPairs(
        docs, "doc_id", "text"),
      "fimSplitPlan" -> graft.operators.Chunking.fimSplitPlan(
        docs, "doc_id", "text"),
      "contentDefinedChunks" -> graft.operators.Chunking
        .contentDefinedChunks(docs, "doc_id", "text"))
    plans.foreach { case (name, df) =>
      val shuffles = withExchanges(df).collect {
        case e: ShuffleExchangeExec => e
      }
      assert(shuffles.isEmpty,
        s"$name claims zero-shuffle but the plan exchanges:\n" +
          shuffles.map(_.treeString).mkString)
    }
  }

  test("Dirichlet QL top-k compiles to TakeOrderedAndProject (q284)") {
    // the cut must be per-partition heaps + driver merge, not a global
    // sort of every candidate document
    val df = graft.operators.Relevance.dirichletQueryLikelihood(
      graft.sources.Sources.documents(spark, sf), "doc_id", "text",
      Seq("batch", "scan", "data"), mu = 2000L, k = 15)
    val plan = physicalPlan(df)
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject in:\n$plan")
  }

  test("length batching: one range shuffle, no single-partition window (q205)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    // the total order comes from GlobalRank's ONE range shuffle; a
    // window-based row_number over the whole corpus would funnel every
    // row through a single partition
    val df = graft.operators.Packing.lengthGroupedBatches(
      graft.sources.Sources.documents(spark, sf), "doc_id",
      size(split(col("text"), " ")), batchSize = 32)
    val plan = withExchanges(df)
    val rangeShuffles = plan.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    // GlobalRank's lineage references the ranged input from three places
    // (main side, counts, counts self-join); all three MUST canonicalize
    // to the same exchange so AQE materializes the corpus shuffle once
    // and the other two branches read it as ReusedExchange
    assert(rangeShuffles.nonEmpty, s"expected the GlobalRank range shuffle")
    assert(rangeShuffles.map(_.canonicalized).distinct.size == 1,
      s"range shuffles are not reuse-identical:\n$plan")
    df.queryExecution.sparkPlan.collect { case w: WindowExec => w }.foreach(w =>
      assert(w.partitionSpec.nonEmpty,
        s"partition-less window over data rows:\n$plan"))
    df.collect() // materialize THIS df's plan so AQE finalizes its stages
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("ReusedExchange"),
      s"corpus range shuffle was executed more than once:\n$finalPlan")
  }

  test("CCNet tiers: boundary broadcast, corpus never range-shuffles (q246)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    // the tier CASE runs on the (lang, score) distribution and comes
    // back via a broadcast hash join — a per-document ntile would show
    // up here as a RangePartitioning exchange of the corpus (the gate
    // query's presentation orderBy is elided: IT legitimately ranges)
    val docs = graft.sources.Sources.documents(spark, sf)
    val scored = graft.operators.Relevance.interpolatedPerplexity(
        docs, "doc_id", "text", lambda = 0.75)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    val df = graft.operators.Relevance.perplexityTiers(scored, "doc_id", "lang")
    val plan = withExchanges(df)
    val rangeShuffles = plan.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    assert(rangeShuffles.isEmpty,
      s"corpus range shuffle in the boundary-broadcast design:\n$plan")
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"expected the broadcast tier-assignment join:\n$plan")
  }

  test("PQ-ADC recall: no vector column ever crosses a shuffle (q215)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    // the point of PQ: queries/codebook ride broadcasts, codes are m
    // longs per vector, and every aggregation/top-k shuffles only
    // (qid, id, distance) rows — if an embedding array crosses an
    // Exchange the compression bought nothing
    val df = graft.queries.QualityQueries.q215PqRecall(spark, sf)
    val exchanges = withExchanges(df).collect {
      case e: ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty, "expected shuffles in the ADC/top-k path")
    exchanges.foreach { e =>
      assert(!e.output.exists(_.dataType.isInstanceOf[ArrayType]),
        s"vector array crossed a shuffle:\n${e.treeString}")
    }
  }

  test("domain caps ride the range-shuffled quota scan (q211)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    // the per-domain budget cut must use underBudgetPerStratum's
    // construction: a (domain, order) range shuffle + per-(partition,
    // domain) windows — a bare Window.partitionBy(domain) would funnel
    // the dominant domain (the case this stage exists for) into one task
    val df = graft.queries.QualityQueries.q211DomainCaps(spark, sf)
    val rangeShuffles = withExchanges(df).collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    assert(rangeShuffles.nonEmpty, "expected the quota range shuffle")
    df.queryExecution.sparkPlan.collect { case w: WindowExec => w }
      .foreach { w =>
        assert(w.partitionSpec.size >= 2,
          s"quota window not keyed by (partition, domain):\n$w")
      }
  }

  test("paragraph dedup: owner election is a map-side-combinable hash agg, text off its exchange (q218)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // the owner election must shuffle (graft_ph, partial-min) rows only —
    // at 100 TB the paragraph text column IS the corpus, and a window- or
    // sort-based election would ship it; the only exchange allowed to
    // carry text is the kept-occurrence side feeding doc reassembly
    val df = graft.queries.RefineQueries.q218ParagraphDedup(spark, sf)
    val plan = withExchanges(df)
    assert(plan.toString.contains("partial_min"),
      s"owner election lost its map-side combine:\n$plan")
    val electionExchanges = plan.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("graft_ph") &&
            !e.output.exists(_.name.contains("graft_pt")) => e
    }
    assert(electionExchanges.nonEmpty,
      s"no text-free md5-keyed election exchange found:\n$plan")
  }

  test("incremental CC: the remap join back over the label table broadcasts (q221)") {
    // the remap side is bounded by components TOUCHED by the delta —
    // broadcasting it means label maintenance never shuffles the full
    // label table on the component key
    val prior = Seq((1L, 1L), (2L, 1L), (3L, 3L)).toDF("node", "component")
    val delta = Seq((2L, 3L)).toDF("d1", "d2")
    val plan = physicalPlan(graft.operators.Graph.incrementalComponents(
      prior, "node", "component", delta, "d1", "d2"))
    assert(plan.contains("BroadcastHashJoin"),
      s"remap join must broadcast:\n$plan")
  }

  test("incremental CC: one q221 collect runs its components on the driver; job receipt") {
    // both connectedComponents calls see a few near-duplicate edges: one
    // probe each instead of per-round label-sum probes and cuts
    val (jobs, rows) = countJobs("q221-receipt")(
      graft.queries.RefineQueries.q221IncrementalCC(spark, sf).collect())
    info(s"q221 ran $jobs jobs for ${rows.length} rows")
    assert(rows.nonEmpty)
    // 27 or 28 on sf0.001 (one AQE stage job of the contracted-edge
    // pipeline comes and goes from run to run in one JVM), 47 or 48 when
    // both ran the distributed rounds
    assert(jobs <= 28, s"q221 ran $jobs jobs")
  }

  test("residual IVFADC: no vector column crosses a shuffle (q222)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    // residual encoding adds a centroid join and per-cell LUTs, but the
    // PQ contract is unchanged: raw vectors and residual arrays ride
    // broadcasts and narrow projections only
    val df = graft.queries.RefineQueries.q222IvfResidualRecall(spark, sf)
    val exchanges = withExchanges(df).collect {
      case e: ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty, "expected shuffles in the ADC/top-k path")
    exchanges.foreach { e =>
      assert(!e.output.exists(_.dataType.isInstanceOf[ArrayType]),
        s"vector array crossed a shuffle:\n${e.treeString}")
    }
  }

  test("boilerplate audit df-filters the heavy side before the join (q208)") {
    import org.apache.spark.sql.execution.FilterExec
    // the df >= minDf cut must run UNDER the attach join (build-side
    // prefilter): the corpus then streams against a table bounded by the
    // number of genuinely heavy shingles, not the full shingle universe
    val df = graft.queries.QualityQueries.q208Boilerplate(spark, sf)
    val plan = df.queryExecution.sparkPlan
    val joins = plan.collect { case j if j.children.size == 2 => j }
    assert(joins.nonEmpty, "expected the heavy-shingle attach join")
    val underJoin = joins.exists(_.children.exists(c =>
      c.collect {
        case f: FilterExec if f.condition.toString.contains("graft_df") => f
      }.nonEmpty))
    assert(underJoin, s"df filter did not stay below the join:\n$plan")
    val s = plan.toString
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"),
      s"boilerplate audit planned a quadratic join:\n$plan")
  }

  test("whole-surface audit: every unpartitioned window is metadata-scale") {
    // An unpartitioned WindowExec funnels its whole input through ONE
    // task — fatal at 100 TB when the input is data-scale. The surface
    // allows it ONLY where the windowed input is metadata by
    // construction (cumulative sums over k top rows / |strata| rows /
    // |batches| rows). Anything new flagged here is a single-task
    // funnel regression.
    val allowedGlobalWindow = Set(
      // q120: remainder-allocation row_number + slots sum over the
      // |strata|-row quota table (proportionalQuota — metadata)
      "q120_proportional_sample",
      // q129: rank windows over the ALREADY-CUT top-50 retrieval lists
      // (documented at the call site — metadata)
      "q129_rrf_fusion",
      // q135: KMV estimate ranks over k·|strata| sketch rows (metadata
      // BY the sketch bound)
      "q135_kmv_distinct",
      // q137: Otsu threshold sweep over the |bins|-row histogram
      "q137_otsu",
      // q158: MI terms over the |cells|-row contingency table
      "q158_mutual_info",
      // q202/q215: codebook / LUT construction ranks over the
      // limit(k)-cut seed frame (k rows — metadata)
      "q202_pq_encode", "q215_pq_recall",
      // q210: cumulative share over the k-row top-keys list (top-k cut
      // happens BEFORE the window — documented in keySkewAudit)
      "q210_skew_audit",
      // q214: closed-form water-filling — cumulative sums over the
      // |strata|-row token table (metadata by construction)
      "q214_epoch_allocation",
      // q228: per-partition offsets aggregate to n_partitions rows; the
      // offsets' own cumulative runs on that metadata table
      "q228_compaction_plan",
      // q263: GLOBAL top-t A-ES cut — WindowGroupLimit pre-prunes every
      // partition to ≤ t rows map-side, so the final single-partition
      // pass sees t·n_partitions rows (metadata), like TakeOrdered
      "q263_coreset",
      // q251: cumulative vocabulary over the |buckets|-row tranche table
      // (10 rows — the corpus collapsed via ntileExact + word-keyed agg)
      "q251_vocab_growth",
      // q288: rank windows over the two ALREADY-CUT top-20 lists plus
      // the D-row RBO running sum (the q129 retrieval-list shape)
      "q288_rbo_agreement",
      // q315/q316: cumulative counts over the |distinct metric values|-
      // row two-sample value table — metadata by the operators'
      // bounded-integer-metric contract (twoSampleValueTable)
      "q315_mann_whitney", "q316_ks_drift",
      // q378/q379/q382/q384/q387: exact rank picks run as cumulative
      // windows over the bucket-size HISTOGRAM — ≤ max_bucket rows,
      // metadata by the census→histogram hash-agg collapse (documented
      // in dedupPolicyAudit's scale-shape note; q387's widened census
      // still collapses to the same ≤ max_bucket-row histogram)
      "q378_policy_audit_skew", "q379_policy_audit_dense",
      "q382_policy_audit_pile", "q384_policy_audit_emb",
      "q387_policy_reaudit_widened",
      // q319: largest-remainder rank + slot sum over the |strata|-row
      // weight table (the q120 proportionalQuota allocation shape)
      "q319_neyman_alloc")
    val violations = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.sparkPlan
        val bad = plan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
          case w: org.apache.spark.sql.execution.window
              .WindowGroupLimitExec if w.partitionSpec.isEmpty => w
        }
        if (bad.nonEmpty && !allowedGlobalWindow(name)) Seq(name) else Nil
    }
    assert(violations.isEmpty,
      s"unpartitioned windows outside the metadata allowlist: $violations")

    // Empirical boundedness receipt (r21, VERDICT r20 item 8): the
    // allowlist above documents WHY each global window is metadata-scale;
    // this half EXECUTES each allowlisted query and reads the actual row
    // count that flowed through every unpartitioned window. At sf0.001
    // the corpus tables are 500–6000 rows (documents 500, lineitem 6000),
    // so a corpus-scale funnel shows >= 500 rows; genuine metadata frames
    // (quota tables, histograms, top-k lists, sketch rows) stay far
    // below. Bound 400 < |documents| keeps the two regimes separated.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    // WindowExec itself carries only a spill metric, so the input row
    // count is read from the nearest row-count-preserving descendant
    // that has one: the global window's SinglePartition Exchange
    // (shuffle records written) or any numOutputRows-bearing node.
    // Descent crosses ONLY nodes that cannot change the row count
    // (sort, project, exchange, AQE wrappers) so the reading can never
    // overstate the window's input.
    def inputRows(p: SparkPlan): Option[Long] = {
      val rows = p.metrics.get("numOutputRows")
        .orElse(p.metrics.get("shuffleRecordsWritten"))
        .map(_.value)
      if (rows.isDefined) rows
      else p match {
        case a: AdaptiveSparkPlanExec => inputRows(a.executedPlan)
        case s: QueryStageExec => inputRows(s.plan)
        case _: org.apache.spark.sql.execution.SortExec |
             _: org.apache.spark.sql.execution.ProjectExec |
             _: org.apache.spark.sql.execution.exchange.Exchange |
             _: org.apache.spark.sql.execution.adaptive
               .AQEShuffleReadExec |
             _: org.apache.spark.sql.execution.WholeStageCodegenExec |
             _: org.apache.spark.sql.execution.InputAdapter
          if p.children.size == 1 => inputRows(p.children.head)
        case _ => None
      }
    }
    val windowRows = allowedGlobalWindow.toSeq.sorted.flatMap { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.write.format("noop").mode("overwrite").save()
      planNodes(df.queryExecution.executedPlan).flatMap {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty =>
          Seq((name, inputRows(w.child)))
        case w: org.apache.spark.sql.execution.window
            .WindowGroupLimitExec if w.partitionSpec.isEmpty =>
          Seq((name, inputRows(w.child)))
        case _ => Nil
      }
    }
    // every allowlisted query must still HAVE its global window (else the
    // allowlist is stale) and at least one reading must resolve (else the
    // receipt is vacuous)
    assert(windowRows.nonEmpty && windowRows.exists(_._2.isDefined),
      s"no measurable global windows found — stale allowlist? $windowRows")
    val oversized = windowRows.collect {
      case (name, Some(rows)) if rows > 400 => (name, rows)
    }
    assert(oversized.isEmpty,
      "allowlisted global windows that processed corpus-scale row " +
        s"counts (name, rows): $oversized")
  }

  test("silver→gold snapshot: WindowGroupLimit before its hash exchange, then one partition") {
    import org.apache.spark.sql.catalyst.plans.physical.{
      HashPartitioning, SinglePartition}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    val warehouse = tmpDir("plan_snapshot")
    PipelineSpec.silverFromTwoPolls(spark, tmpDir("plan_snapshot_in"), warehouse)
    val latest = graft.analytics.GoldAnalytics.latestSnapshot(
      spark.read.parquet(s"$warehouse/silver/assats_list"))
    val plan = latest.queryExecution.executedPlan
    val exchanges = planNodes(plan).collect { case e: ShuffleExchangeExec => e }
    val (hash, single) = exchanges.partition(
      _.outputPartitioning.isInstanceOf[HashPartitioning])
    assert(hash.size == 1 && single.size == 1 &&
      single.head.outputPartitioning == SinglePartition,
      s"want one hash exchange under one single-partition exchange:\n$plan")
    assert(planNodes(single.head.child).contains(hash.head),
      s"the single-partition move must come after the window:\n$plan")
    assert(planNodes(hash.head.child).exists(_.isInstanceOf[WindowGroupLimitExec]),
      s"the window lost its map-side group limit:\n$plan")
  }

  /** Runs `body` under a job tag and returns the number of Spark jobs it
    * started, with its result. The listener bus is asynchronous: it waits
    * for every counted job to end and then for 300 ms of quiet. */
  private def countJobs[T](tag: String)(body: => T): (Int, T) = {
    import org.apache.spark.scheduler.{
      SparkListener, SparkListenerEvent, SparkListenerJobEnd,
      SparkListenerJobStart}
    @volatile var lastEventMs = System.currentTimeMillis()
    val jobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val tags = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.tags"))).getOrElse("")
        if (tags.split(",").contains(tag)) jobs.add(e.jobId)
        lastEventMs = System.currentTimeMillis()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        ended.add(e.jobId)
        lastEventMs = System.currentTimeMillis()
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit =
        lastEventMs = System.currentTimeMillis()
    }
    spark.sparkContext.addSparkListener(jobListener)
    spark.sparkContext.addJobTag(tag)
    try {
      val result = body
      val deadline = System.currentTimeMillis() + 10000
      while ((!ended.containsAll(jobs) ||
              System.currentTimeMillis() - lastEventMs < 300) &&
             System.currentTimeMillis() < deadline) Thread.sleep(20)
      (jobs.size, result)
    } finally {
      spark.sparkContext.removeJobTag(tag)
      spark.sparkContext.removeSparkListener(jobListener)
    }
  }

  /** Runs one `silverToGold` on the PipelineSpec fixture and records the
    * number of jobs it ran and, in completion order, each Gold write's
    * table name and executed plan (under the write command). */
  private def recordSilverToGold(prefix: String)
      : (Int, Seq[(String, org.apache.spark.sql.execution.SparkPlan)]) = {
    import java.util.concurrent.ConcurrentLinkedQueue
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    val warehouse = tmpDir(prefix)
    val pipeline =
      PipelineSpec.silverFromTwoPolls(spark, tmpDir(s"${prefix}_in"), warehouse)
    val writes = new ConcurrentLinkedQueue[(String, SparkPlan)]()
    val writeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        planNodes(qe.executedPlan).foreach {
          case w: DataWritingCommandExec => w.cmd match {
            // the listener bus is asynchronous: the fixture's Silver
            // append can still be queued when this listener registers
            case c: InsertIntoHadoopFsRelationCommand
                if c.outputPath.getParent.getName == "gold" =>
              writes.add((c.outputPath.getName, w.child))
            case _ =>
          }
          case _ =>
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(writeListener)
    val (jobs, _) = try {
      countJobs(s"$prefix-receipt")(pipeline.silverToGold("2025-05-24 05:00:00"))
    } finally spark.listenerManager.unregister(writeListener)
    (jobs, writes.toArray(Array.empty[(String, SparkPlan)]).toSeq)
  }

  test("silver→gold: Gold writes over the cached snapshot plan no exchange; job receipt") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val (jobs, byTable) = recordSilverToGold("plan_gold")
    info(s"silverToGold ran $jobs jobs")
    // the history appends copy files: the Spark writes are the four
    // current tables, one each
    assert(byTable.map(_._1).sorted == Seq("daily_overview",
      "market_dominance", "supply_dynamics", "top_gainers_losers"),
      s"unexpected write targets: ${byTable.map(_._1)}")
    byTable.foreach { case (table, plan) =>
      assert(!planNodes(plan).exists(_.isInstanceOf[ShuffleExchangeExec]),
        s"$table write shuffles:\n$plan")
    }
    // 7 measured on this fixture: 12 while each history append was a
    // Spark write and the dominance total a job of its own, 31 before
    // the single-partition snapshot
    assert(jobs <= 7, s"silverToGold ran $jobs jobs")
  }

  test("silver→gold: a history append starts no job and no SQL execution") {
    import java.util.concurrent.ConcurrentHashMap
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import graft.sources.Sinks
    val executions = new ConcurrentHashMap[String, Integer]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          x.jobTags.foreach(t => executions.merge(t, 1, Integer.sum(_, _)))
        case _ =>
      }
    }
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val dir = tmpDir("plan_append")
    // (jobs, SQL executions) of `body`; countJobs waits out the bus
    def measured(tag: String)(body: => Unit): (Int, Int) = {
      val (jobs, _) = countJobs(tag)(body)
      (jobs, executions.getOrDefault(tag, 0).intValue)
    }
    spark.sparkContext.addSparkListener(listener)
    val (current, both) = try {
      (measured("plan-append-current")(
         Sinks.overwriteCurrent(df, s"$dir/current", "plan_append", spark)),
       measured("plan-append-both")(Sinks.writeAnalysis(df,
         s"$dir/history", s"$dir/current", "plan_append", spark)))
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(current._1 >= 1 && current._2 >= 1, s"nothing measured: $current")
    assert(both == current,
      s"(jobs, SQL executions): current write $current, with history $both")
    assert(spark.read.parquet(s"$dir/history").count() == 2)
  }

  test("silver→gold: the top_gainers_losers write scans Silver once") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val (_, byTable) = recordSilverToGold("plan_movers")
    // the cached snapshot is a leaf here: only the losers branch's
    // full-history read counts
    val scans = byTable.filter(_._1.startsWith("top_gainers_losers"))
      .map { case (table, plan) => table -> planNodes(plan).count {
        case s: FileSourceScanExec =>
          s.relation.location.rootPaths.exists(_.toString.contains("/silver/"))
        case _ => false
      } }
    assert(scans.map(_._1) == Seq("top_gainers_losers"),
      s"writes: ${byTable.map(_._1)}")
    assert(scans.head._2 == 1, s"Silver scans: $scans")
  }

  test("dashboard: no shuffle, three broadcast joins, at most four jobs") {
    import org.apache.spark.sql.execution.exchange.{
      BroadcastExchangeExec, ShuffleExchangeExec}
    val warehouse = tmpDir("plan_dash")
    PipelineSpec.silverFromTwoPolls(spark, tmpDir("plan_dash_in"), warehouse)
      .silverToGold("2025-05-24 05:00:00")
    val dash = graft.analytics.GoldAnalytics.dashboard(spark)
    val (jobs, rows) = countJobs("plan-dash")(dash.collect())
    assert(rows.length == PipelineSpec.DashboardRows.size)
    val plan = dash.queryExecution.executedPlan
    val nodes = planNodes(plan)
    assert(!nodes.exists(_.isInstanceOf[ShuffleExchangeExec]),
      s"the dashboard shuffles:\n$plan")
    assert(nodes.count(_.isInstanceOf[BroadcastExchangeExec]) == 3,
      s"want one broadcast per LEFT JOIN side:\n$plan")
    // 8 while the latest date came from a joined one-row MAX: its
    // shuffle, its broadcast and the range sort's sample and map jobs
    info(s"dashboard ran $jobs jobs")
    assert(jobs <= 4, s"the dashboard ran $jobs jobs")
  }

  test("stable_literal: plans that differ only in the value share generated code") {
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import graft.functions.CodegenFunctions.stableLiteral
    def run(c: org.apache.spark.sql.Column) = {
      val df = spark.range(3).select((col("id") + c).as("v"))
      val rows = df.collect().map(_.getLong(0)).toSeq
      val code = planNodes(df.queryExecution.executedPlan).collect {
        case w: WholeStageCodegenExec => w.doCodeGen()._2.body
      }
      assert(code.nonEmpty, s"no codegen stage:\n${df.queryExecution.executedPlan}")
      (rows, code)
    }
    val (r1, c1) = run(stableLiteral(lit(10L)))
    val (r2, c2) = run(stableLiteral(lit(20L)))
    assert(r1 == Seq(10L, 11L, 12L) && r2 == Seq(20L, 21L, 22L))
    assert(c1 == c2, "stable_literal spelled its value out in generated code")
    // the control: a plain literal is compiled into the code
    assert(run(lit(10L))._2 != run(lit(20L))._2)
    val ts = spark.range(1).select(
      stableLiteral(lit("2025-05-24 05:00:00").cast("timestamp")).cast("string"))
    assert(ts.head().getString(0) == "2025-05-24 05:00:00")
  }

  test("silver→gold + dashboard: a later cycle compiles no new classes") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import PipelineSpec.{asset, poll, t1}
    val landing = tmpDir("plan_cycles_in")
    val warehouse = tmpDir("plan_cycles")
    val pipeline = PipelineSpec.silverFromTwoPolls(spark, landing, warehouse)
    pipeline.silverToGold("2025-05-24 05:00:00")
    graft.analytics.GoldAnalytics.dashboard(spark).collect()
    // the next cycle: a new poll (new prices, market caps and timestamp,
    // so a new dominance total and dashboard date) and a new audit stamp
    val t2 = t1 + 3600000L
    Landing.injectPoll(landing, poll(t2, Seq(
      asset("bitcoin", 1, "BTC", "Bitcoin", "\"19868975.0\"", "\"21000000.0\"",
        "\"2160000000000.0\"", "\"19301351533.2\"", "\"108700.0\"", "\"0.5\"",
        "\"108240.5\""),
      asset("ethereum", 2, "ETH", "Ethereum", "\"120716917.5\"", "null",
        "\"301000000000.0\"", "\"9014715590.5\"", "\"2500.0\"", "\"-1.6\"",
        "\"2539.8\""))), t2)
    pipeline.bronzeToSilver(landing, "2025-05-24 06:00:00")
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    pipeline.silverToGold("2025-05-24 06:00:00")
    val dash = graft.analytics.GoldAnalytics.dashboard(spark).collect()
    val fresh = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(dash.map(_.getAs[java.sql.Timestamp]("data_referencia").getTime)
      .distinct.toSeq == Seq(t2 / 1000 * 1000), "dashboard is not on the new poll")
    // per-cycle values (audit stamp, dominance total, latest date) must
    // not be compiled into code: each would be a fresh class every cycle
    assert(fresh == 0, s"the second cycle compiled $fresh new classes")
  }

  test("local writes start no chmod or readlink process: Gold write, Silver append, stream batch") {
    import java.util.concurrent.atomic.AtomicLong
    import org.apache.spark.api.java.function.VoidFunction2
    import org.apache.spark.sql.Dataset
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.Sinks
    import graft.streaming.Streaming
    import LocalFileSystemSpec.{processStarts, program}
    val landing = tmpDir("plan_spawn_in")
    val warehouse = tmpDir("plan_spawn")
    val stream = tmpDir("plan_spawn_stream")
    Landing.injectPoll(landing, PipelineSpec.poll0, PipelineSpec.t0)
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(20)
    docs.write.parquet(s"$stream/docs")
    val emitted = new AtomicLong()
    val sink = new VoidFunction2[Dataset[Streaming.BucketClaim], java.lang.Long] {
      def call(ds: Dataset[Streaming.BucketClaim], id: java.lang.Long): Unit =
        emitted.addAndGet(ds.count())
    }
    val (commands, _) = processStarts {
      Sinks.writeAnalysis(Seq((1, "a")).toDF("k", "v"),
        s"$warehouse/gold/spawn_history", s"$warehouse/gold/spawn", "spawn", spark)
      new graft.Pipeline(spark, warehouse).bronzeToSilver(landing, "2025-05-24 05:00:00")
      Streaming.lshBucketClaimStream(
          spark.readStream.schema(docs.schema).parquet(s"$stream/docs"),
          "doc_id", "text")
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", s"$stream/checkpoint")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    assert(spark.read.parquet(s"$warehouse/gold/spawn_history").count() == 1)
    assert(spark.read.parquet(s"$warehouse/silver/assats_list").count() == 4)
    assert(emitted.get > 0, "the stream ran no batch")
    val forks = commands.map(program).filter(Set("chmod", "readlink"))
    info(s"processes started: ${commands.groupBy(program).map { case (k, v) => s"$k ${v.size}" }}")
    // the stock local file system started 70 chmod and 112 readlink here
    assert(forks.size == 0, commands.take(5).mkString("\n"))
  }
}
