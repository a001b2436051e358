package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Per-layer counters from public hooks only: a SparkListener for jobs,
 * stages and task metrics, and a QueryExecutionListener for Catalyst phase
 * times and the executed plan's shape. Events count only while a timed op
 * runs; around each op the tracer waits until the listener bus has gone
 * quiet, so no event leaks between ops.
 */
final class Tracer(spark: SparkSession) {
  @volatile private var recording = false
  @volatile private var lastEventMs = 0L
  private val totals = mutable.LinkedHashMap.empty[String, Double]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private var openJobs = 0
  private var opStartMs = 0L

  private def add(k: String, v: Double): Unit = totals(k) = totals.getOrElse(k, 0.0) + v

  /** Adds a value the workload measured itself for a traced op. */
  def record(k: String, v: Double): Unit = synchronized(add(k, v))

  def snapshot: Map[String, Double] = synchronized(totals.toMap)

  /** Handles one listener event; the time spent here is the tracing
    * overhead, reported as `trace.hooks_s`. */
  private def event(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    synchronized {
      lastEventMs = System.currentTimeMillis()
      if (recording) {
        f
        add("trace.hooks_s", (System.nanoTime() - t0) / 1e9)
      }
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = event {
      openJobs += 1
      jobStart(e.jobId) = e.time
      add("scheduler.jobs", 1)
      // the result stage is named after the job's call site
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      if (site.toLowerCase.contains("checkpoint")) add("lineage.cut_jobs", 1)
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      if (tags.exists(_.contains("broadcast exchange"))) add("broadcast.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = event {
      jobStart.remove(e.jobId).foreach { s => openJobs -= 1; jobSpans += ((s, e.time)) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      event(add("scheduler.stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = event {
      add("scheduler.tasks", 1)
      Option(e.taskMetrics).foreach { m =>
        add("executor.cpu_s", m.executorCpuTime / 1e9)
        add("executor.run_s", m.executorRunTime / 1e3)
        add("executor.gc_s", m.jvmGCTime / 1e3)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("memory.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("io.input_bytes", m.inputMetrics.bytesRead)
        add("io.input_rows", m.inputMetrics.recordsRead)
        add("io.output_bytes", m.outputMetrics.bytesWritten)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      event {
        val nodes = Tracer.nodes(qe.executedPlan).toSeq
        qe.tracker.phases.foreach { case (phase, s) =>
          add(s"catalyst.${phase}_s", (s.endTimeMs - s.startTimeMs) / 1e3)
        }
        add("plan.nodes", nodes.size)
        nodes.foreach {
          case b: BroadcastExchangeExec =>
            add("plan.exchanges", 1)
            b.metrics.get("dataSize").foreach(m => add("broadcast.bytes", m.value))
          case _: ReusedExchangeExec => add("plan.reused_exchanges", 1)
          case _: Exchange => add("plan.exchanges", 1)
          case _ =>
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)

  def begin(traced: Boolean): Unit = {
    quiesce()
    synchronized {
      recording = traced
      jobSpans.clear()
      opStartMs = System.currentTimeMillis()
    }
  }

  /** Closes an op that started at `t0` (its call returned at `t1`, its last
    * job ended by `t2`; all three on the [[Jvm.now]] clock). */
  def end(t0: Double, t1: Double, t2: Double): Unit = {
    quiesce()
    synchronized {
      if (recording) {
        val callEndMs = opStartMs + ((t1 - t0) * 1e3).toLong
        val busy = Tracer.unionMs(jobSpans.toSeq, opStartMs, callEndMs) / 1e3
        add("scheduler.job_busy_s", busy)
        add("scheduler.driver_gap_s", math.max(0.0, t1 - t0 - busy))
        add("scheduler.drain_s", t2 - t1)
      }
      recording = false
    }
  }

  /** Wait until every started job has ended and no listener event arrived
    * for 50 ms (bounded at 5 s): the listener bus is asynchronous. */
  private def quiesce(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    def quiet = synchronized(openJobs <= 0 && System.currentTimeMillis() - lastEventMs > 50)
    while (!quiet && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Tracer {
  /** Every node of an executed plan, through adaptive wrappers, query
    * stages and subqueries. */
  def nodes(p: SparkPlan): Iterator[SparkPlan] = {
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _ => p.children ++ p.subqueries
    }
    Iterator.single(p) ++ kids.iterator.flatMap(nodes)
  }

  /** Length of the union of `spans` clipped to [lo, hi], in ms. */
  def unionMs(spans: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = spans.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var (total, curS, curE) = (0L, Long.MinValue, Long.MinValue)
    clipped.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
