package graft

import java.nio.file.{Files, Paths}

import graft.util.Staging

/** The staging helper cleans up the scratch directory it writes through. */
class StagingSpec extends SparkSpec {
  test("stageWave leaves no graft-stage-* directory behind") {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def stageDirs(): Long = {
      val ls = Files.list(tmp)
      try ls.filter(_.getFileName.toString.startsWith("graft-stage-")).count()
      finally ls.close()
    }
    val dest = Staging.exitScopedRoot("graft-staging-spec-")
    val before = stageDirs()
    Staging.stageWave(spark.range(3).toDF("id"), dest, "wave1.parquet",
      1704067200000L)
    assert(spark.read.parquet(dest.resolve("wave1.parquet").toString).count() == 3)
    assert(Files.getLastModifiedTime(dest.resolve("wave1.parquet")).toMillis ==
      1704067200000L)
    assert(stageDirs() <= before)
  }
}
