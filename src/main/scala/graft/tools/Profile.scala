package graft.tools

import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.operators.TextDedup
import graft.sources.Sources

/** Dev profiling entry point (not library surface). One parameterized main:
  *
  * {{{
  * runMain graft.tools.Profile <mode> [sfDir] [queryName]
  *   query <dir> <name>  time a SparkEntry query (twice) + Exchange census
  *   audit <dir>         flag plans with BNL/cartesian/single-partition
  *   dedup <dir>         stage-by-stage timing of the MinHash/LSH path
  *   explain <dir> <outDir> <suffix> <names,...>
  *                       write each query's explain("formatted") to
  *                       <outDir>/<name>_<suffix>.txt (r20 plan evidence)
  * }}}
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("audit")
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[profile] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    mode match {
      case "query" =>
        val name = args.lift(2).getOrElse(sys.error("query mode needs a name"))
        val fn = graft.SparkEntry.queries(name)
        val df = fn(spark, dir)
        t(s"$name run 1")(df.count())
        t(s"$name run 2")(fn(spark, dir).count())
        val plan = df.queryExecution.executedPlan.toString
        for (tok <- Seq("Exchange", "ReusedExchange", "BroadcastNestedLoopJoin"))
          println(s"[plan] $name $tok: ${tok.r.findAllIn(plan).size}")
        println(plan.take(6000))
      case "audit" =>
        graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
          try {
            val plan = fn(spark, dir).queryExecution.sparkPlan.toString
            val flags = Seq(
              "BNL" -> plan.contains("BroadcastNestedLoopJoin"),
              "CART" -> plan.contains("CartesianProduct"),
              "SINGLEPART" -> plan.contains("SinglePartition"))
              .collect { case (f, true) => f }
            if (flags.nonEmpty) println(s"[audit] $name: ${flags.mkString(",")}")
          } catch {
            case e: Throwable => println(s"[audit] $name ERR ${e.getMessage}")
          }
        }
      case "dedup" =>
        val docs = Sources.documents(spark, dir)
        t("docs.count")(docs.count())
        val sh = TextDedup.shingles(docs, "doc_id", "text")
        t("shingles.count")(sh.count())
        val bands = TextDedup.bandsPerRow(docs, "doc_id", "text", 16, 4, 3)
        t("bands.count")(bands.count())
        val cand = TextDedup.lshCandidates(bands, "doc_id")
        t("candidates.count")(cand.count())
        t("jaccard-verify.count")(
          TextDedup.jaccard(sh, "doc_id", cand)
            .filter(col("jaccard") >= 0.5).count())
        t("q19 full")(
          TextDedup.minHashLshPairs(docs, "doc_id", "text", 16, 4, 3, 0.5).count())
      case "jobs" =>
        // per-job wall/stage breakdown of one query: which of an
        // iterative pipeline's actions the time actually goes to
        val name = args.lift(2).getOrElse(sys.error("jobs mode needs a name"))
        val fn = graft.SparkEntry.queries(name)
        fn(spark, dir).count() // warm: JIT + codegen out of the numbers
        val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        val listener = new org.apache.spark.scheduler.SparkListener {
          private val starts =
            new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
          override def onJobStart(
              js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            starts.put(js.jobId, (js.time,
              Option(js.properties)
                .flatMap(p => Option(p.getProperty("callSite.short")))
                .getOrElse("?")))
          override def onJobEnd(
              je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val (t0, site) = starts.getOrDefault(je.jobId, (je.time, "?"))
            jobs.add(f"[job] ${je.jobId}%4d ${(je.time - t0) / 1e3}%8.3f s  $site")
          }
        }
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500) // let the async listener bus drain
        spark.sparkContext.removeSparkListener(listener)
        jobs.forEach(println(_))
        println(f"[jobs] $name total ${wall}%.3f s, ${jobs.size} jobs")
      case "explain" =>
        val outDir = args.lift(2).getOrElse(sys.error("explain needs outDir"))
        val suffix = args.lift(3).getOrElse(sys.error("explain needs suffix"))
        val names = args.lift(4).getOrElse(sys.error("explain needs names"))
          .split(",").map(_.trim).filter(_.nonEmpty)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        names.foreach { name =>
          val df = graft.SparkEntry.queries(name)(spark, dir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
            txt.getBytes("UTF-8"))
          println(s"[explain] wrote $name ($suffix)")
        }
      case other => sys.error(s"unknown mode: $other (query|audit|dedup|explain)")
    }
    spark.stop()
  }
}
