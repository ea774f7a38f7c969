package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Failures are
  * NOT swallowed: every broken query lands in `_errors.json` so a crash
  * is visible in the round artifacts, not just stderr.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = graft.util.Sessions.harnessCores
    val spark = graft.util.Sessions.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.util.Sessions.quietKnownWarnings()
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Local-iteration filter (comma-separated names); unset = all queries.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // operators may persist() intermediates (caller-owned lifetime —
        // see graft.ext.MinHash): release between queries
        spark.catalog.clearCache()
      }
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(500)}"
        errors(name) = msg
        System.err.println(s"[verify] $name failed: $msg")
        // a stale dump from an earlier run must not pass as this run's output
        org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path(s"$outDir/$name"), true)
        ()
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
    def jsonOf(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), jsonOf(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/_errors.json"), jsonOf(errors))
    if (errors.nonEmpty) {
      System.err.println(s"[verify] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
    }
    spark.stop()
  }
}
