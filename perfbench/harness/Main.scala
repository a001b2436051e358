package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.GraftSession

/**
 * The benchmark's JVM side: `Main <workload> <workDir> <trace 0|1> <cores>`.
 * Reads the seeded inputs and `plan.properties` under `<workDir>/inputs`,
 * starts a pinned session whose scratch, warehouse and checkpoints all live
 * under `<workDir>`, runs the workload's fixed op sequence and writes the
 * raw measurements to `<workDir>/result.json` for `run.py` to summarize.
 */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, work, trace, cores) = args
    val props = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(s"$work/inputs/plan.properties"))
    try props.load(in) finally in.close()
    val plan = props.asScala.toMap

    val spark = GraftSession.builder(cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = Jvm.sinceStartS()
    val tracer = if (trace == "1") Some(new Tracer(spark)) else None
    val meter = new Meter(spark, tracer)
    val wl = Workload(workload, spark, work, plan)
    val t0 = Jvm.now()
    wl.setup()
    val seedS = Jvm.now() - t0
    val setupS = Jvm.sinceStartS()

    val checks = wl.run(meter, tracer)
    val liveHeap = Jvm.liveHeapMb()
    tracer.foreach(_.close())
    val (ops, passes) = wl match {
      case s: StreamDedup => (s.batches.toSeq, s.passWalls.toSeq)
      case _ => (meter.samples.toSeq, Seq.empty)
    }
    val result = Map(
      "session_s" -> sessionS, "seed_s" -> seedS, "setup_s" -> setupS,
      "warmup_walls" -> meter.warmup, "live_heap_mb" -> liveHeap,
      "cores" -> cores.toInt, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "ops" -> ops.map(s => Map("wall" -> s.wall, "cpu" -> s.cpu, "jit" -> s.jit,
        "gc" -> s.gc, "traced" -> s.traced, "spans" -> s.spans)),
      "pass_walls" -> passes,
      "traced_passes" -> meter.samples.count(_.traced),
      "layers" -> tracer.map(_.snapshot).getOrElse(Map.empty),
      "checks" -> checks)
    Files.writeString(Paths.get(s"$work/result.json"), Json(result))
    spark.stop()
  }
}

/** Minimal JSON writer for the result record. */
object Json {
  private def str(s: String) =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
  }
}
