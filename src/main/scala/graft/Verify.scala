package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names (dev iteration aid)
    val only = args.lift(2).map(_.split(",").toSet)
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    var failed = List.empty[String]
    def selected(name: String): Boolean = only.forall(_.contains(name))
    SparkEntry.queries
      .filter { case (name, _) => selected(name) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // Write instants as TIMESTAMP_NTZ (session TZ is UTC, so values are
        // unchanged): DuckDB reads Spark's UTC-adjusted TIMESTAMP as
        // timestamptz, which string-compares with a +00:00 suffix the naive
        // oracle timestamps lack.
        val out = df.schema.fields.collect {
          case f if f.dataType == org.apache.spark.sql.types.TimestampType => f.name
        }.foldLeft(df)((d, c) => d.withColumn(c,
          org.apache.spark.sql.functions.col(c).cast("timestamp_ntz")))
        out.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        failed ::= name
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // only the oracles of the queries run, so a filtered run's compare
    // reads no missing output; the manifest still lists every query
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Manifest: every registered query + which ones threw, so a broken
    // query is an explicit red row in the gate, not a silent omission.
    val manifest = s"""{"registered": ${
      SparkEntry.queries.keys.toSeq.sorted.map(q).mkString("[", ",", "]")
    }, "failed": ${failed.sorted.map(q).mkString("[", ",", "]")}}"""
    Files.writeString(Paths.get(s"$outDir/manifest.json"), manifest)
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} FAILED: " +
        failed.sorted.mkString(", "))
    spark.stop()
  }
}
