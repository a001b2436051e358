package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One timed op: its call's wall time, the process CPU and JIT/GC time of
  * the window that closes once no Spark job is active, and the per-stage
  * spans the workload recorded around its calls into the program. */
final case class Sample(wall: Double, cpu: Double, jit: Double, gc: Double,
                        traced: Boolean, spans: Map[String, Double])

object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def now(): Double = System.nanoTime() / 1e9
  def cpuS(): Double = os.getProcessCpuTime / 1e9
  def jitS(): Double = jit.getTotalCompilationTime / 1e3
  def gcS(): Double = gcs.map(_.getCollectionTime).sum / 1e3

  /** Heap in use after a full collection, in MB: the least of three
    * collections 0.25 s apart, so that Spark's asynchronous ContextCleaner
    * can drop the broadcasts and shuffles the first one orphaned. */
  def liveHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(250)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  /** Seconds from JVM start to now. */
  def sinceStartS(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}

/** Times ops; with a tracer, every timed op also records per-layer numbers. */
final class Meter(spark: SparkSession, tracer: Option[Tracer]) {
  val samples = mutable.ArrayBuffer.empty[Sample]
  /** Wall time of each warm-up op, until its last job ended. */
  val warmup = mutable.ArrayBuffer.empty[Double]
  private val spans = mutable.LinkedHashMap.empty[String, Double]

  /** Time one call into the program; the span names a layer. */
  def span[T](name: String)(body: => T): T = {
    val t0 = Jvm.now()
    try body finally spans(name) = spans.getOrElse(name, 0.0) + Jvm.now() - t0
  }

  private def awaitJobs(): Unit =
    while (spark.sparkContext.statusTracker.getActiveJobIds.nonEmpty) Thread.sleep(1)

  /** Run one op; `timed` ops are kept as samples. */
  def op[T](timed: Boolean)(body: => T): (T, Sample) = {
    val traced = timed && tracer.isDefined
    tracer.foreach(_.begin(traced))
    spans.clear()
    val (c0, j0, g0, t0) = (Jvm.cpuS(), Jvm.jitS(), Jvm.gcS(), Jvm.now())
    val out = body
    val t1 = Jvm.now()
    awaitJobs()
    val (t2, c1, j1, g1) = (Jvm.now(), Jvm.cpuS(), Jvm.jitS(), Jvm.gcS())
    tracer.foreach(_.end(t0, t1, t2))
    val s = Sample(t1 - t0, c1 - c0, j1 - j0, g1 - g0, traced, spans.toMap)
    if (timed) samples += s else warmup += t2 - t0
    (out, s)
  }
}
