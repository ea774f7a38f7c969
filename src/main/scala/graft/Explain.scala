package graft

/** Perf-iteration harness (optimization rounds): for each named query,
  * build the DataFrame (timing the build — store-building fixtures do
  * real work there), dump `.explain("formatted")` to a file, and time
  * `reps` executions through the noop sink (guide §1.4: computes every
  * column of every row, no sink cost, full plan in the SQL tab). The
  * bench proper ([[Bench]]) stays on `.count()` for cross-round
  * comparability; this tool is for isolating and attributing the time.
  *
  * Usage: runMain graft.Explain <name[,name...]> [sfDir] [outDir]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 2) args(2) else "/root/repo/plans/r21"
    val cpus = graft.util.Sessions.harnessCores
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "")
    val spark = graft.util.Sessions.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.util.Sessions.quietKnownWarnings()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    // Optional per-stage attribution (SPARK_GRAFT_STAGES=1): stage wall /
    // summed task time / task count — the §7.1 "which stage is slow"
    // answer without a UI in this sandbox.
    if (sys.env.get("SPARK_GRAFT_STAGES").contains("1"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val s = e.stageInfo
            val wall = (for {a <- s.completionTime; b <- s.submissionTime}
              yield (a - b) / 1000.0).getOrElse(-1.0)
            val run = s.taskMetrics.executorRunTime / 1000.0
            if (wall > 0.05 || run > 0.05)
              println(f"STAGE ${s.stageId}%5d tasks=${s.numTasks}%4d " +
                f"wall=$wall%6.2f run=$run%7.2f ${s.name.take(90)}")
          }
        })
    names.foreach { n =>
      spark.sparkContext.setJobDescription(s"explain:$n")
      val tb0 = System.nanoTime()
      val df = SparkEntry.queries(n)(spark, sfDir)
      val buildSec = (System.nanoTime() - tb0) / 1e9
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"$n$suffix.txt"),
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
          .getBytes("UTF-8"))
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache(); t
      }
      println(f"EXPLAIN $n%-38s build=$buildSec%7.2f noop=[${ts.map(t => f"$t%.2f").mkString(", ")}]")
      spark.sparkContext.setJobDescription(null)
    }
    spark.stop()
  }
}
