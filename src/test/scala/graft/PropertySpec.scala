package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.{GlobalRank, IntervalJoin, Sampling, TextDedup}

/** Property-based invariants (ScalaCheck). Iteration counts are small —
  * each case spins Spark jobs — but generators cover the nasty shapes:
  * malformed numerics, null-heavy payloads, duplicate/empty texts. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic mini-forAll: 5 samples per property off a fixed seed
    * (the scalatest-scalacheck bridge isn't in the offline cache). */
  private def forAll[A](gen: Gen[A])(body: A => Unit): Unit =
    (0 until 5).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(42L + i)))
    }

  private val numericish: Gen[String] = Gen.oneOf(
    Gen.choose(-1e12, 1e12).map(_.toString),
    Gen.const("19868975.0000000000000000"),
    Gen.const(""), Gen.const("not-a-number"), Gen.const("1e999"),
    Gen.const("NaN"), Gen.const("null"))

  test("ANSI-off cast parity: string→double never throws, malformed → null") {
    forAll(Gen.listOfN(20, numericish)) { xs =>
      val out = xs.toDF("s").select($"s".cast("double").as("d")).collect()
      assert(out.length === xs.length) // no exception = reference semantics
      out.zip(xs).foreach { case (r, s) =>
        val expectNull = scala.util.Try(s.trim.toDouble).isFailure
        if (!expectNull) assert(!r.isNullAt(0), s"'$s' should cast")
      }
    }
  }

  private val word: Gen[String] = Gen.oneOf(
    "the", "spark", "scan", "join", "sort", "hash", "window", "batch")
  private val text: Gen[String] =
    Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))

  test("shingle count is max(0, words - w + 1) capped by distinctness") {
    forAll(Gen.listOfN(8, text)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val counts = TextDedup.shingles(docs, "doc_id", "text")
        .groupBy("doc_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        val n = t.split(" ").length
        val expectedMax = math.max(0, n - 2)
        val got = counts.getOrElse(i.toLong, 0L)
        assert(got <= expectedMax)
        if (n >= 3) assert(got >= 1)
      }
    }
  }

  test("jaccard is in (0,1], symmetric-canonical (d1<d2), and 1 for exact dups") {
    forAll(Gen.listOfN(6, text.suchThat(_.split(" ").length >= 3))) { texts =>
      val withDup = texts :+ texts.head // force one exact duplicate
      val docs = withDup.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val pairs = TextDedup.ngramJaccardPairs(docs, "doc_id", "text",
        threshold = 0.0).collect()
      pairs.foreach { r =>
        assert(r.getLong(0) < r.getLong(1))
        val j = r.getDouble(2)
        assert(j > 0 && j <= 1.0)
      }
      val dupPair = pairs.find(r =>
        r.getLong(0) == 0L && r.getLong(1) == withDup.length - 1L)
      assert(dupPair.exists(_.getDouble(2) === 1.0))
    }
  }

  test("simhash is deterministic and equal for equal texts") {
    forAll(text.suchThat(_.nonEmpty)) { t =>
      val docs = Seq((1L, t), (2L, t)).toDF("doc_id", "text")
      val sigs = TextDedup.simHash(docs, "doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(sigs(1L) === sigs(2L))
    }
  }

  test("ntileExact equals window ntile for arbitrary sizes/buckets/dupes") {
    val gen = for {
      n <- Gen.choose(1, 400)
      b <- Gen.choose(1, 12)
      vs <- Gen.listOfN(n, Gen.choose(0, 50)) // heavy duplicate keys
    } yield (b, vs)
    forAll(gen) { case (b, vs) =>
      val df = vs.zipWithIndex.map { case (v, i) => (v, i) }.toDF("v", "id")
        .repartition(7)
      val viaOp = GlobalRank.ntileExact(df,
          Seq($"v".asc, $"id".asc), b, "bkt")
        .select("id", "bkt").collect()
        .map(r => r.getInt(0) -> r.getInt(1)).toMap
      val viaWindow = df.withColumn("bkt",
          ntile(b).over(Window.orderBy($"v".asc, $"id".asc)))
        .select("id", "bkt").collect()
        .map(r => r.getInt(0) -> r.getInt(1)).toMap
      assert(viaOp === viaWindow)
    }
  }

  test("deterministicSplit is exhaustive and exactly partitioned by bucket") {
    val gen = for {
      n <- Gen.choose(1, 300)
      c1 <- Gen.choose(1, 254)
      c2 <- Gen.choose(2, 255).suchThat(_ > 1)
    } yield (n, c1 min c2, (c1 max c2) + 1)
    forAll(gen) { case (n, c1, c2) =>
      val df = (1 to n).map(_.toLong).toDF("id")
      val out = Sampling.deterministicSplit(df, "id", "p",
          Seq(("a", c1), ("b", c2), ("c", 256)))
        .withColumn("bucket", Sampling.bucket("p", $"id"))
        .select("split", "bucket").collect()
      assert(out.length === n)
      out.foreach { r =>
        val (s, bkt) = (r.getString(0), r.getInt(1))
        val expect = if (bkt < c1) "a" else if (bkt < c2) "b" else "c"
        assert(s === expect, s"bucket $bkt cuts ($c1,$c2)")
      }
    }
  }

  test("temperatureMix: kept ⊆ input, smallest stratum whole, monotone rates") {
    val strata: Gen[List[(Long, String)]] = for {
      sizes <- Gen.listOfN(3, Gen.choose(5, 120))
    } yield sizes.zipWithIndex.flatMap { case (n, s) =>
      (1 to n).map(i => ((s * 1000 + i).toLong, s"s$s"))
    }
    forAll(strata) { rows =>
      val df = rows.toDF("id", "s")
      val kept = graft.operators.Sampling
        .temperatureMix(df, "id", "s", "prop")
        .select("id", "s").collect().map(r => r.getLong(0) -> r.getString(1))
      // kept is a subset of the input
      val input = rows.toSet
      assert(kept.forall(input.contains))
      // the smallest stratum is kept whole (its keep rate is 1)
      val bySize = rows.groupBy(_._2).view.mapValues(_.size).toMap
      val minStratum = bySize.minBy { case (s, n) => (n, s) }._1
      val keptBy = kept.groupBy(_._2).view.mapValues(_.length).toMap
      assert(keptBy.getOrElse(minStratum, 0) == bySize(minStratum),
        s"smallest stratum $minStratum must be kept whole")
    }
  }

  test("slidingChunks tile each document: stride-spaced, full coverage") {
    forAll(Gen.listOfN(6, text.suchThat(_.nonEmpty))) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val (len, stride) = (4, 3)
      val chunks = graft.operators.Chunking
        .slidingChunks(docs, "doc_id", "text", len, stride)
        .select("doc_id", "chunk_idx", "start_tok", "n_chunk_tokens")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .groupBy(_._1)
      texts.zipWithIndex.foreach { case (t, i) =>
        val n = t.split(" ").length
        val cs = chunks(i.toLong).sortBy(_._2)
        // starts advance by exactly `stride`; first chunk starts at 0
        assert(cs.head._3 == 0)
        cs.sliding(2).foreach {
          case Array(a, b) => assert(b._3 - a._3 == stride)
          case _ =>
        }
        // the last chunk reaches the end of the document exactly
        val last = cs.last
        assert(last._3 + last._4 == n,
          s"doc $i: coverage ends at ${last._3 + last._4}, n=$n")
        // every chunk is nonempty and at most `len` tokens
        assert(cs.forall(c => c._4 >= 1 && c._4 <= len))
      }
    }
  }

  test("funnel completions are a subset under step-prefix monotonicity") {
    import graft.operators.Funnel
    val ev: Gen[List[(Long, String, Int)]] = Gen.listOfN(40, for {
      u <- Gen.choose(1L, 6L)
      t <- Gen.oneOf("A", "B", "C")
      s <- Gen.choose(0, 1000)
    } yield (u, t, s))
    forAll(ev) { rows =>
      val df = rows.toDF("user_id", "event_type", "off")
        .withColumn("ts", expr("timestamp_micros(cast(off as long) * 1000000)"))
      def users(steps: Seq[String]) = Funnel
        .earliestCompletion(df, "user_id", "event_type", "ts", steps)
        .select("user_id").as[Long].collect().toSet
      val a = users(Seq("A")); val ab = users(Seq("A", "B"))
      val abc = users(Seq("A", "B", "C"))
      assert(ab.subsetOf(a) && abc.subsetOf(ab),
        s"funnel must shrink: |A|=${a.size} |AB|=${ab.size} |ABC|=${abc.size}")
    }
  }

  test("interval join equals the naive inequality join") {
    val ts0 = 1700000000000000L // epoch micros
    val evGen = Gen.listOfN(25, for {
      u <- Gen.choose(1, 3)
      dt <- Gen.choose(0L, 300000000L) // 0–300 s spread
    } yield (u.toLong, ts0 + dt))
    forAll(evGen) { evs =>
      val df = evs.zipWithIndex
        .map { case ((u, t), i) => (i.toLong, u, t) }
        .toDF("event_id", "user_id", "us")
        .withColumn("ts", timestamp_micros($"us")).drop("us")
      val fast = IntervalJoin(df, df, Seq("user_id"), "ts", 60000000L)
        .filter($"l_event_id" =!= $"r_event_id")
        .select($"l_event_id", $"r_event_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val naive = (for {
        ((u1, t1), i1) <- evs.zipWithIndex
        ((u2, t2), i2) <- evs.zipWithIndex
        if u1 == u2 && i1 != i2 && t1 - t2 >= 0 && t1 - t2 <= 60000000L
      } yield (i1.toLong, i2.toLong)).toSet
      assert(fast === naive)
    }
  }

  test("paragraph dedup conserves content: Σ n_kept = distinct paragraphs, n_kept ≤ n_paras") {
    forAll(Gen.listOfN(8, text)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val out = TextDedup.paragraphDedup(docs, "doc_id", "text", pWords = 2)
        .select("doc_id", "n_paras", "n_kept").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(out.length == texts.length)
      out.foreach { case (_, np, nk) => assert(nk >= 0 && nk <= np) }
      // every distinct paragraph survives exactly once, corpus-wide
      val distinctParas = texts.zipWithIndex.flatMap { case (t, _) =>
        t.split(" ").grouped(2).map(_.mkString(" "))
      }.toSet.size
      assert(out.map(_._3).sum == distinctParas)
    }
  }

  private val edges: Gen[List[(Long, Long)]] =
    Gen.listOfN(12, for {
      a <- Gen.choose(0L, 9L); b0 <- Gen.choose(0L, 8L)
    } yield (a, if (b0 >= a) b0 + 1 else b0))  // a != b by construction

  test("incremental CC ≡ full recompute on random graphs and random deltas") {
    forAll(Gen.zip(edges, edges)) { case (oldE, newE) =>
      if (oldE.nonEmpty && newE.nonEmpty) {
        val oldDf = oldE.toDF("d1", "d2")
        val newDf = newE.toDF("d1", "d2")
        val prior = graft.operators.Graph
          .connectedComponents(oldDf, "d1", "d2")
        val inc = graft.operators.Graph.incrementalComponents(
            prior, "node", "component", newDf, "d1", "d2")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val full = graft.operators.Graph
          .connectedComponents(oldDf.union(newDf), "d1", "d2")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(inc === full)
      }
    }
  }

  /** Union-find components of the non-null edges (the root of each set is
    * its least id), plus the HashMin rule for a null id: it only receives
    * labels, so it takes the least component among its non-null
    * neighbors, or stays null without one. */
  private def unionFindComponents(es: Seq[(Option[Long], Option[Long])])
      : Map[Option[Long], Option[Long]] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    es.foreach { case (a, b) =>
      a.foreach(find); b.foreach(find)
      for (x <- a; y <- b) {
        val (rx, ry) = (find(x), find(y))
        if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
      }
    }
    val comps = parent.keys.map(x => Option(x) -> Option(find(x))).toMap
    if (es.forall { case (a, b) => a.nonEmpty && b.nonEmpty }) comps
    else comps + (None -> es.collect {
      case (Some(x), None) => find(x)
      case (None, Some(y)) => find(y)
    }.minOption)
  }

  /** Random dedup-shaped graphs: random edges over 30 ids, a path with
    * random orientations, isolated pair islands, a self-loop and a
    * self-loop-only node, duplicate and reversed copies, and sometimes an
    * edge with a null endpoint. */
  private val ccGraph: Gen[Seq[(Option[Long], Option[Long])]] = for {
    rnd <- Gen.listOfN(10, Gen.zip(Gen.choose(0L, 29L), Gen.choose(0L, 29L)))
    len <- Gen.choose(2, 12)
    flips <- Gen.listOfN(len, Gen.prob(0.5))
    islands <- Gen.choose(0, 3)
    dups <- Gen.choose(0, 4)
    loop <- Gen.choose(0L, 29L)
    nullNbr <- Gen.option(Gen.choose(0L, 52L))
  } yield {
    val path = (0 until len).zip(flips).map { case (i, f) =>
      if (f) (41L + i, 40L + i) else (40L + i, 41L + i) }
    val base = rnd ++ path ++
      (0 until islands).map(i => (100L + 2 * i, 101L + 2 * i)) ++
      Seq((loop, loop), (90L, 90L))
    val all = base ++ base.take(dups) ++ base.take(dups).map(_.swap)
    all.map { case (a, b) => (Option(a), Option(b)) } ++
      nullNbr.map(x => (Option(x), Option.empty[Long]))
  }

  test("HashMin CC ≡ two-phase CC ≡ union-find on random graphs, both HashMin paths") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import graft.operators.Graph
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => Option(r.get(0)).map(_.toString.toLong) ->
        Option(r.get(1)).map(_.toString.toLong)).toMap
    def check(es: Seq[(Option[Long], Option[Long])], onDriver: Boolean,
              reliable: Boolean = false): Unit = {
      val ref = unionFindComponents(es)
      // the differing nodes only: the large graphs hold 65540 labels
      def same(what: String, got: Map[Option[Long], Option[Long]],
               want: Map[Option[Long], Option[Long]]): Unit = {
        val bad = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k))
        assert(bad.isEmpty, s"$what differs from union-find at " +
          s"${bad.take(8).map(k => k -> (got.get(k), want.get(k)))} on " +
          s"${es.size} edges ${es.take(64)}")
      }
      val df = es.toDF("d1", "d2")
      val (hm, rounds) = Graph.connectedComponentsWithRounds(df, "d1", "d2",
        reliable = reliable, checkpointInterval = 1)
      assert(hm.queryExecution.analyzed.isInstanceOf[LocalRelation] ==
        onDriver, s"driver path expected: $onDriver")
      assert(rounds >= 1 && rounds <= 25)
      same("HashMin", labels(hm), ref)
      // two-phase labels a null id null: its rounds drop null edges
      val tp = Graph.connectedComponents(df, "d1", "d2",
        reliable = reliable, checkpointInterval = 1, algorithm = "two-phase")
      same("two-phase", labels(tp), ref.map { case (n, c) => n -> n.flatMap(_ => c) })
      if (onDriver) { // any integral id type, narrowed back on output
        val ints = df.select(col("d1").cast("int"), col("d2").cast("int"))
        val hmInt = Graph.connectedComponents(ints, "d1", "d2")
        assert(hmInt.schema.map(_.dataType.typeName) == Seq("integer", "integer"))
        same("HashMin on int ids", labels(hmInt), ref)
      }
    }
    forAll(ccGraph)(check(_, onDriver = true))
    check(Seq.empty, onDriver = true)
    // a label rising from null on the null node can cancel the decreases
    // elsewhere in a convergence sum (+5 against -4 and -1), stopping
    // the loop after round 1 with node 10 still labeled 9; here on the
    // driver path, below on the distributed one
    check(Seq((Some(5L), None), (Some(5L), Some(9L)), (Some(9L), Some(10L))),
      onDriver = true)
    check(Seq((None, None), (Some(3L), Some(4L))), onDriver = true)
    // above the driver bound: 12000 4-node paths (72000 symmetric rows)
    // with the same extras run the distributed loop
    val big = (0L until 12000L).flatMap { c =>
        Seq((4 * c, 4 * c + 1), (4 * c + 2, 4 * c + 1), (4 * c + 2, 4 * c + 3))
      }.map { case (a, b) => (Option(a), Option(b)) } ++
      Seq((Some(7L), Some(7L)), (Some(3L), Some(2L)), (Some(5L), None))
    check(big, onDriver = false)
    // the same case on the distributed loop: 65537 self-loops (converged
    // at the seed, so round 1 moves none of their labels) lift it above
    // the driver bound
    check((100L until 65637L).map(i => (Option(i), Option(i))) ++
      Seq((Some(5L), None), (Some(5L), Some(9L)), (Some(9L), Some(10L))),
      onDriver = false)
    // reliable mode: every round of both distributed loops is a reliable
    // checkpoint() into the checkpoint dir
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    try {
      spark.sparkContext.setCheckpointDir(dir.toString)
      check(big, onDriver = false, reliable = true)
      val written = java.nio.file.Files.walk(dir)
      try assert(written.anyMatch(_.getFileName.toString.startsWith("part-")),
        "reliable rounds wrote no checkpoint files")
      finally written.close()
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("HashMin CC above the driver bound still throws when maxIters runs out") {
    // a 40000-node path (79998 symmetric rows) takes the distributed loop
    val path = (1L until 40000L).map(i => (i, i + 1)).toDF("d1", "d2")
    val e = intercept[IllegalStateException] {
      graft.operators.Graph.connectedComponents(path, "d1", "d2", maxIters = 3)
    }
    assert(e.getMessage.startsWith("connectedComponents did not converge in 3 rounds"))
  }

  test("salt-split LSH equals the uncapped pair set for ANY corpus and cap") {
    // the q350 losslessness LAW, not just its three fixtures: over random
    // vector corpora (clustered near-dup families + noise, so buckets of
    // every size appear) and random caps — including caps of 1 and 2
    // that force maximal splitting — the salt-split candidate
    // decomposition must reproduce the uncapped verified pair set
    // exactly (ids AND 6-dp cosines)
    val vec: Gen[(Long, Seq[Float])] = for {
      id <- Gen.choose(0L, 10000L)
      family <- Gen.choose(0, 2)
      jitter <- Gen.choose(0, 9)
    } yield (id, (0 until 8).map(d =>
      (if (family == 0) 1.0f else if (family == 1) -1.0f
       else if (d % 2 == 0) 1.0f else -1.0f) *
        (1.0f + 0.003f * ((id + jitter + d) % 7))))
    val corpus: Gen[(List[(Long, Seq[Float])], Long)] = for {
      n <- Gen.choose(8, 28)
      vs <- Gen.listOfN(n, vec)
      cap <- Gen.choose(1L, 6L)
    } yield (vs, cap)
    forAll(corpus) { case (vs, cap) =>
      // dedup ids: the generators may collide, and duplicate ids would
      // make the pair sets ill-defined on both sides identically anyway
      val emb = vs.toMap.toSeq.toDF("vec_id", "embedding")
      val uncapped = graft.operators.Similarity
        .cosineNearDupPairsBucketed(emb, "vec_id", "embedding", 0.8,
          nTables = 2, planesPerTable = 2, dims = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val split = graft.operators.Similarity
        .cosineNearDupPairsBucketedSaltSplit(emb, "vec_id", "embedding",
          0.8, maxBucket = cap, nTables = 2, planesPerTable = 2, dims = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(split == uncapped,
        s"cap=$cap n=${vs.size}: split ${split.size} vs uncapped " +
          s"${uncapped.size}")
    }
  }

  test("text salt-split LSH equals the uncapped pair set for ANY corpus and cap") {
    // the q358 losslessness LAW (the q350 law's text twin): over random
    // duplicate-heavy corpora — documents drawn from a few base
    // sentences, so identical texts share EVERY band bucket and hot
    // buckets of every size appear — and random caps including 1 and 2
    // (maximal splitting), minHashLshPairs with the salt-split policy
    // must reproduce the uncapped verified pair set exactly (ids AND
    // jaccard values)
    val base = Vector(
      "the quick brown fox jumps over the lazy dog",
      "spark shuffles hash joins across the cluster tonight",
      "window sort batch scan join hash spark the")
    val doc: Gen[String] = for {
      fam <- Gen.choose(0, 2)
      extra <- Gen.choose(0, 3)
    } yield if (extra == 0) base(fam) else base(fam) + " tail" + extra
    val corpus: Gen[(List[String], Long)] = for {
      n <- Gen.choose(6, 16)
      ds <- Gen.listOfN(n, doc)
      cap <- Gen.choose(1L, 4L)
    } yield (ds, cap)
    forAll(corpus) { case (ds, cap) =>
      val docs = ds.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val uncapped = TextDedup.minHashLshPairs(docs, "doc_id", "text",
          k = 8, r = 2, w = 2, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val split = TextDedup.minHashLshPairs(docs, "doc_id", "text",
          k = 8, r = 2, w = 2, threshold = 0.5, maxBucket = Some(cap))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(split == uncapped,
        s"cap=$cap n=${ds.size}: split ${split.size} vs uncapped " +
          s"${uncapped.size}")
    }
  }

  test("hamming salt-split equals the uncapped pair set for ANY hashes and cap") {
    // the q363 losslessness LAW: random 16-bit signatures drawn from a
    // few dup-heavy centers (so pigeonhole buckets of every size
    // appear) and random caps — the block decomposition must reproduce
    // the uncapped verified pair set exactly (ids AND distances)
    val center = Vector(0x0F0FL, 0xF0F0L, 0x3C3CL)
    val hash: Gen[Long] = for {
      c <- Gen.choose(0, 2)
      flip <- Gen.choose(0, 16)
    } yield if (flip > 15) center(c) else center(c) ^ (1L << flip)
    val fixture: Gen[(List[Long], Long)] = for {
      n <- Gen.choose(6, 18)
      hs <- Gen.listOfN(n, hash)
      cap <- Gen.choose(1L, 5L)
    } yield (hs, cap)
    forAll(fixture) { case (hs, cap) =>
      val df = hs.zipWithIndex.map { case (h, i) => (i.toLong, h) }
        .toDF("doc_id", "h")
      val uncapped = TextDedup.hammingPairs(df, "doc_id", "h",
          bits = 16, bands = 4, maxDist = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSet
      val capped = TextDedup.hammingPairs(df, "doc_id", "h",
          bits = 16, bands = 4, maxDist = 3, maxBucket = Some(cap))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSet
      assert(capped == uncapped, s"cap=$cap n=${hs.size}")
    }
  }

  test("cap-split index dedup equals the uncapped index for ANY corpus and cap") {
    // the q362 losslessness LAW: random duplicate-heavy corpora split
    // into an indexed half and an incoming half, random caps — the
    // build-time block decomposition must reproduce the uncapped
    // index's verified (new, old) pair set exactly
    val base = Vector(
      "the quick brown fox jumps over the lazy dog",
      "spark shuffles hash joins across the cluster tonight")
    val doc: Gen[String] = for {
      fam <- Gen.choose(0, 1)
      extra <- Gen.choose(0, 2)
    } yield if (extra == 0) base(fam) else base(fam) + " tail" + extra
    val fixture: Gen[(List[String], Long)] = for {
      n <- Gen.choose(6, 14)
      ds <- Gen.listOfN(n, doc)
      cap <- Gen.choose(1L, 3L)
    } yield (ds, cap)
    forAll(fixture) { case (ds, cap) =>
      val docs = ds.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val indexed = docs.filter(col("doc_id") % 2 === 0)
      val batch = docs.filter(col("doc_id") % 2 === 1)
      val (b0, s0) = TextDedup.lshIndex(indexed, "doc_id", "text",
        k = 8, r = 2, w = 2)
      val uncapped = TextDedup.dedupAgainstIndex(batch, "doc_id", "text",
          b0, s0, k = 8, r = 2, w = 2, threshold = 0.5)
        .select("d_new", "d_old").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val (b1, s1) = TextDedup.lshIndex(indexed, "doc_id", "text",
        k = 8, r = 2, w = 2, maxBucket = Some(cap))
      val capped = TextDedup.dedupAgainstIndex(batch, "doc_id", "text",
          b1, s1, k = 8, r = 2, w = 2, threshold = 0.5)
        .select("d_new", "d_old").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(capped == uncapped, s"cap=$cap n=${ds.size}")
    }
  }

  test("cap-split ANN index dedup equals the uncapped index for ANY corpus and cap") {
    // the q375 losslessness LAW — the q362 law on the embedding side:
    // random clustered corpora split into an indexed half and an
    // arriving half, random caps (1 forces maximal splitting) — the
    // build-time block decomposition must reproduce the uncapped
    // index's verified (new, old, cosine) set exactly
    val vec: Gen[(Long, Seq[Float])] = for {
      id <- Gen.choose(0L, 10000L)
      family <- Gen.choose(0, 2)
      jitter <- Gen.choose(0, 9)
    } yield (id, (0 until 8).map(d =>
      (if (family == 0) 1.0f else if (family == 1) -1.0f
       else if (d % 2 == 0) 1.0f else -1.0f) *
        (1.0f + 0.003f * ((id + jitter + d) % 7))))
    val corpus: Gen[(List[(Long, Seq[Float])], Long)] = for {
      n <- Gen.choose(8, 24)
      vs <- Gen.listOfN(n, vec)
      cap <- Gen.choose(1L, 4L)
    } yield (vs, cap)
    forAll(corpus) { case (vs, cap) =>
      val emb = vs.toMap.toSeq.toDF("vec_id", "embedding")
      val indexed = emb.filter(col("vec_id") % 2 === 0)
      val batch = emb.filter(col("vec_id") % 2 === 1)
      def run(mb: Option[Long]): Set[(Long, Long, Double)] = {
        val idx = graft.operators.Similarity.annIndex(indexed, "vec_id",
          "embedding", nTables = 2, planesPerTable = 2, dims = 8,
          maxBucket = mb)
        graft.operators.Similarity.dedupAgainstAnnIndex(batch, "vec_id",
            "embedding", idx, indexed, threshold = 0.8,
            nTables = 2, planesPerTable = 2, dims = 8)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      }
      val uncapped = run(None)
      val capped = run(Some(cap))
      assert(capped == uncapped,
        s"cap=$cap n=${vs.size}: capped ${capped.size} vs uncapped " +
          s"${uncapped.size}")
    }
  }

  test("cap-split Hamming index dedup equals the uncapped index for ANY corpus and cap") {
    // the q383 losslessness LAW — the q362/q375 law on the Hamming
    // side: random hashes with forced near-dup piles, random caps;
    // the build-time slice-bucket split must reproduce the uncapped
    // index's verified (new, old, hamming) set exactly
    val hash: Gen[(Long, Long)] = for {
      id <- Gen.choose(0L, 10000L)
      base <- Gen.oneOf(0x0F0F0F0FL, 0x35353535L, 0x7A7A7A7AL)
      flip <- Gen.choose(0, 31)
      near <- Gen.prob(0.7)
    } yield (id, if (near) base ^ (1L << flip) else base ^ (0xFFL << (flip % 24)))
    val corpus: Gen[(List[(Long, Long)], Long)] = for {
      n <- Gen.choose(8, 24)
      hs <- Gen.listOfN(n, hash)
      cap <- Gen.choose(1L, 4L)
    } yield (hs, cap)
    forAll(corpus) { case (hs, cap) =>
      val df = hs.toMap.toSeq.toDF("doc_id", "h")
      val indexed = df.filter(col("doc_id") % 2 === 0)
      val batch = df.filter(col("doc_id") % 2 === 1)
      def run(mb: Option[Long]): Set[(Long, Long, Int)] = {
        val idx = graft.operators.TextDedup.hammingIndex(indexed,
          "doc_id", "h", bits = 32, bands = 4, maxBucket = mb)
        graft.operators.TextDedup.dedupAgainstHammingIndex(batch,
            "doc_id", "h", idx, bits = 32, bands = 4, maxDist = 3)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      }
      val uncapped = run(None)
      val capped = run(Some(cap))
      assert(capped == uncapped,
        s"cap=$cap n=${hs.size}: capped ${capped.size} vs uncapped " +
          s"${uncapped.size}")
    }
  }

  test("drop-cap pairs and bucket censuses match the uncapped join for ANY corpus and cap") {
    // the drop-cap contract (q338/q346/q372) as a law, for both families
    // that drop: a capped run emits exactly the uncapped verified pairs
    // that share at least one UNDER-cap bucket; the excluded-bucket
    // report is exactly the census rows above the cap; and Σ bucket_size
    // is the bucket-row count. The census is recomputed here on the
    // driver from the collected bucket rows.
    def law(rows: Seq[(Long, (Long, Long))], cap: Long,
            uncapped: Set[(Long, Long, Any)], capped: Set[(Long, Long, Any)],
            excluded: Set[((Long, Long), Long)],
            census: Seq[Long]): Unit = {
      val sizes = rows.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
      val kept = rows.filter(r => sizes(r._2) <= cap).groupBy(_._1)
        .map { case (id, v) => id -> v.map(_._2).toSet }
      def sharesKept(a: Long, b: Long): Boolean =
        kept.getOrElse(a, Set.empty).exists(kept.getOrElse(b, Set.empty))
      val expected = uncapped.filter { case (a, b, _) => sharesKept(a, b) }
      assert(capped == expected, s"cap=$cap: capped ${capped.size} vs " +
        s"${expected.size} uncapped pairs sharing an under-cap bucket")
      assert(excluded == sizes.filter(_._2 > cap).toSet, s"cap=$cap")
      assert(census.sum == rows.size && census.size == sizes.size)
    }
    val vec: Gen[(Long, Seq[Float])] = for {
      id <- Gen.choose(0L, 10000L)
      family <- Gen.choose(0, 2)
      jitter <- Gen.choose(0, 9)
    } yield (id, (0 until 8).map(d =>
      (if (family == 0) 1.0f else if (family == 1) -1.0f
       else if (d % 2 == 0) 1.0f else -1.0f) *
        (1.0f + 0.003f * ((id + jitter + d) % 7))))
    val vectors: Gen[(List[(Long, Seq[Float])], Long)] = for {
      n <- Gen.choose(8, 28)
      vs <- Gen.listOfN(n, vec)
      cap <- Gen.choose(1L, 6L)
    } yield (vs, cap)
    import graft.operators.Similarity
    forAll(vectors) { case (vs, cap) =>
      val emb = vs.toMap.toSeq.toDF("vec_id", "embedding")
      def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Any)] =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.get(2): Any)).toSet
      law(
        Similarity.lshSignaturesMulti(emb, "vec_id", "embedding", 2, 2, 8)
          .collect().map(r => (r.getLong(0), (r.getInt(1).toLong, r.getLong(2)))),
        cap,
        pairs(Similarity.cosineNearDupPairsBucketed(emb, "vec_id",
          "embedding", 0.8, nTables = 2, planesPerTable = 2, dims = 8)),
        pairs(Similarity.cosineNearDupPairsBucketedCapped(emb, "vec_id",
          "embedding", 0.8, maxBucket = cap, nTables = 2,
          planesPerTable = 2, dims = 8)),
        Similarity.lshExcludedBuckets(emb, "vec_id", "embedding", cap,
            nTables = 2, planesPerTable = 2, dims = 8)
          .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
          .toSet,
        Similarity.lshBucketSizes(emb, "vec_id", "embedding",
            nTables = 2, planesPerTable = 2, dims = 8)
          .collect().map(_.getLong(2)).toSeq)
    }
    val center = Vector(0x0F0FL, 0xF0F0L, 0x3C3CL)
    val hash: Gen[Long] = for {
      c <- Gen.choose(0, 2)
      flip <- Gen.choose(0, 16)
    } yield if (flip > 15) center(c) else center(c) ^ (1L << flip)
    val hashes: Gen[(List[Long], Long)] = for {
      n <- Gen.choose(6, 18)
      hs <- Gen.listOfN(n, hash)
      cap <- Gen.choose(1L, 5L)
    } yield (hs, cap)
    forAll(hashes) { case (hs, cap) =>
      val df = hs.zipWithIndex.map { case (h, i) => (i.toLong, h) }
        .toDF("doc_id", "h")
      def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Any)] =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.get(2): Any)).toSet
      law(
        TextDedup.hammingSliceRows(df, "doc_id", "h", 16, 4).collect()
          .map(r => (r.getLong(0), (r.getInt(2).toLong, r.getLong(3)))),
        cap,
        pairs(TextDedup.hammingPairs(df, "doc_id", "h",
          bits = 16, bands = 4, maxDist = 3)),
        pairs(TextDedup.hammingPairsDropCap(df, "doc_id", "h",
          bits = 16, bands = 4, maxDist = 3, maxBucket = cap)),
        TextDedup.hammingExcludedBuckets(df, "doc_id", "h", 16, 4, cap)
          .collect().map(r =>
            ((r.getInt(0).toLong, r.getLong(1)), r.getLong(2))).toSet,
        TextDedup.hammingBucketSizes(df, "doc_id", "h", 16, 4)
          .collect().map(_.getLong(2)).toSeq)
    }
    // the text census has no drop-cap twin; its sum law still holds
    val docs = Seq("the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy dog",
        "spark shuffles hash joins across the cluster tonight", "short")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val textCensus = TextDedup.lshBandBucketSizes(docs, "doc_id", "text")
      .collect().map(_.getLong(2))
    assert(textCensus.sum ==
      TextDedup.bandsPerRow(docs, "doc_id", "text").count())
    assert(textCensus.max == 2L, "the two identical docs share every band")
  }

  test("cluster-keyed split admits zero crossing near-dup pairs for ANY corpus") {
    // q351's structural guarantee as a law: whatever the near-dup pair
    // graph looks like, a hash split keyed on the connected-component
    // id cannot put two paired docs in different splits
    val pair: Gen[(Long, Long)] = for {
      a <- Gen.choose(0L, 30L); b <- Gen.choose(0L, 30L) if a != b
    } yield (math.min(a, b), math.max(a, b))
    forAll(Gen.listOfN(25, pair)) { ps =>
      val pairs = ps.distinct.toDF("d1", "d2")
      val docs = (0L to 30L).toDF("doc_id")
      val comp = graft.operators.Graph.connectedComponents(pairs, "d1", "d2")
      val keyed = docs
        .join(comp.select(col("node").as("doc_id"), col("component")),
          Seq("doc_id"), "left")
        .withColumn("graft_key", coalesce(col("component"), col("doc_id")))
      val split = Sampling.deterministicSplit(keyed, "graft_key", "split",
          Seq(("train", 204), ("val", 230), ("test", 256)))
        .select("doc_id", "split").as[(Long, String)].collect().toMap
      ps.foreach { case (a, b) =>
        assert(split(a) == split(b),
          s"pair ($a, $b) straddles ${split(a)}/${split(b)}")
      }
    }
  }

  test("online cluster split: ascending replay ≡ batch; any order never leaks") {
    // two laws over random pair graphs and random batchings:
    // (1) ascending-id replay (delta pair revealed when its later
    //     endpoint arrives) folds to EXACTLY the batch assignment —
    //     components from full CC, splits from deterministicSplit on
    //     the component key;
    // (2) for ANY arrival order, the final state has exactly one split
    //     per component and components equal to the full CC — i.e. a
    //     near-dup pair can never straddle a split boundary, by
    //     construction, online
    val cuts = Seq(("train", 128), ("test", 256))
    val pair: Gen[(Long, Long)] = for {
      a <- Gen.choose(0L, 19L); b0 <- Gen.choose(0L, 18L)
    } yield {
      val b = if (b0 >= a) b0 + 1 else b0
      (math.min(a, b), math.max(a, b))
    }
    val fixture: Gen[(List[(Long, Long)], Int, Boolean)] = for {
      ps <- Gen.listOfN(10, pair)
      nBatches <- Gen.choose(2, 4)
      shuffledOrder <- Gen.oneOf(false, true)
    } yield (ps.distinct, nBatches, shuffledOrder)
    forAll(fixture) { case (ps, nBatches, shuffled) =>
      val allIds = (0L to 19L).toSeq
      val order = if (shuffled) allIds.reverse else allIds
      val batches = order.grouped(
        math.max(1, (order.size + nBatches - 1) / nBatches)).toSeq
      var state = Seq.empty[(Long, Long, String, Boolean)]
        .toDF("doc_id", "component", "split", "split_conflict")
      var seen = Set.empty[Long]
      batches.foreach { ids =>
        seen ++= ids
        val delta = ps.filter { case (a, b) =>
          seen.contains(a) && seen.contains(b) &&
            (ids.contains(a) || ids.contains(b))
        }
        state = graft.streaming.Streaming.clusterSplitAdvance(
          state, ids.toDF("doc_id"),
          delta.toDF("d1", "d2"), "split", cuts).localCheckpoint()
      }
      val got = state.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
      // law 2 (any order): components ≡ full CC, one split per component
      val comp = graft.operators.Graph
        .connectedComponents(ps.toDF("d1", "d2"), "d1", "d2")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got.foreach { case (d, c, _) =>
        assert(c == comp.getOrElse(d, d), s"doc $d component")
      }
      assert(got.groupBy(_._2).forall(_._2.map(_._3).distinct.size == 1),
        "one split per component")
      if (!shuffled) {
        // law 1 (ascending): bit-identical to the batch assignment
        val expected = graft.operators.Sampling.deterministicSplit(
            allIds.toDF("doc_id")
              .join(ps.toDF("d1", "d2")
                .select(col("d1").as("doc_id")).union(ps.toDF("d1", "d2")
                  .select(col("d2").as("doc_id"))).distinct()
                .join(graft.operators.Graph.connectedComponents(
                  ps.toDF("d1", "d2"), "d1", "d2")
                  .select(col("node").as("doc_id"), col("component")),
                  Seq("doc_id")),
                Seq("doc_id"), "left")
              .withColumn("component",
                coalesce(col("component"), col("doc_id"))),
            "component", "split", cuts)
          .select("doc_id", "component", "split").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
        assert(got.toSet == expected)
      }
    }
  }

  test("Dawid-Skene invariants: rows sum to ~10^6, bounds, one MAP per unit") {
    // structural laws over random complete rating tables: every
    // (judge, class) confusion row and every unit's posterior sums to
    // 10^6 up to per-cell rounding, all cells in [1, 10^6] (posteriors
    // in [0, 10^6]), and exactly one MAP row per unit
    val rating: Gen[String] = Gen.oneOf("A", "B", "C")
    val table: Gen[List[((Int, Int), String)]] = for {
      nU <- Gen.choose(2, 6)
      cells <- Gen.listOfN(nU * 2, rating)
    } yield cells.zipWithIndex.map { case (l, i) => ((i / 2, i % 2), l) }
    forAll(table) { cells =>
      val df = cells.map { case ((u, j), l) => (s"u$u", s"J$j", l) }
        .toDF("unit", "judge", "label")
      val conf = graft.operators.Preference
        .dawidSkeneConfusion(df, "unit", "judge", "label", r = 2, iters = 1)
        .select("judge", "true_class", "pi_micro")
        .as[(String, String, Long)].collect().toSeq
      conf.groupBy(x => (x._1, x._2)).foreach { case (k, rows) =>
        val s = rows.map(_._3).sum
        assert(math.abs(s - 1000000L) <= rows.size, s"pi row $k sums $s")
        rows.foreach(x => assert(x._3 >= 1L && x._3 <= 1000000L))
      }
      val post = graft.operators.Preference
        .dawidSkenePosteriors(df, "unit", "judge", "label", r = 2,
          iters = 1)
        .select("unit", "t_micro", "is_map")
        .as[(String, Long, Boolean)].collect().toSeq
      post.groupBy(_._1).foreach { case (u, rows) =>
        val s = rows.map(_._2).sum
        assert(math.abs(s - 1000000L) <= rows.size, s"posterior $u sums $s")
        assert(rows.count(_._3) == 1, s"$u MAP count != 1")
        rows.foreach(x => assert(x._2 >= 0L && x._2 <= 1000000L))
      }
    }
  }

  test("distributed pareto frontier equals the brute-force skyline") {
    // guards the range-partitioned staircase rewrite: the undominated
    // set must match the O(n²) definition on arbitrary (x, y) multisets,
    // including duplicate levels and anti-sorted (all-frontier) shapes
    val pt: Gen[(Long, Long)] = for {
      x <- Gen.choose(0L, 12L); y <- Gen.choose(0L, 12L)
    } yield (x, y)
    forAll(Gen.listOfN(40, pt)) { pts =>
      val df = pts.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
        .toDF("id", "x", "y")
        .repartition(7) // force the staircase across several partitions
      val got = graft.operators.Selection.paretoFrontier(df, "x", "y")
        .select("id").as[Long].collect().toSet
      val brute = pts.zipWithIndex.collect {
        case ((x, y), i) if !pts.exists { case (x2, y2) =>
          (x2 >= x && y2 >= y) && (x2 > x || y2 > y) } => i.toLong
      }.toSet
      assert(got == brute, s"pts=$pts")
    }
  }
}
