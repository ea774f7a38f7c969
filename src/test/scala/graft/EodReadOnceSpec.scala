package graft

import graft.streaming.EodStream

/** The cascade reads each bronze CSV record once — the batch entry
  * point's skip count included — and leaves nothing cached behind. */
class EodReadOnceSpec extends SparkSpec {
  private val ts = java.sql.Timestamp.valueOf("2026-08-10 21:05:00")

  /** CSV records scanned while `body` runs. */
  private def csvRecordsRead(body: => Unit): Long = {
    // other suites in this JVM may leave frames cached; the run must add none
    spark.catalog.clearCache()
    val l = new Listening.ScanRecords(_.nodeName.toLowerCase.contains("scan csv"))
    Listening.during(spark, l)(body)
    l.records
  }

  private val recordsPerFile = Fixtures.goodRows("2026-08-10").size +
    Fixtures.badRows("2026-08-10").size

  test("one batch run scans every bronze CSV record once, skip count included") {
    val bronze = Fixtures.tempDir("bronze-once").toString
    val wh = Fixtures.tempDir("wh-once").toString
    val csv = Fixtures.writeStandard(bronze, "2026-08-10")
    val read = csvRecordsRead {
      new EodPipeline(spark, wh).run(csv, java.sql.Date.valueOf("2026-08-10"), Some(ts))
    }
    assert(read == recordsPerFile)
    assert(spark.sharedState.cacheManager.isEmpty, "the run left cached data behind")
  }

  test("one stream trigger over two dates scans every bronze CSV record once") {
    val bronze = Fixtures.tempDir("bronze-once-s").toString
    val wh = Fixtures.tempDir("wh-once-s").toString
    val ckpt = Fixtures.tempDir("ckpt-once-s").toString
    Fixtures.writeStandard(bronze, "2026-08-10")
    Fixtures.writeStandard(bronze, "2026-08-11")
    val read = csvRecordsRead {
      val q = EodStream.start(spark, s"$bronze/eod/*/*/*/*.csv", wh, ckpt, Some(ts))
      q.awaitTermination()
      assert(q.recentProgress.count(_.numInputRows > 0) == 1,
        "both files must land in one trigger")
    }
    assert(read == 2 * recordsPerFile)
    assert(spark.sharedState.cacheManager.isEmpty, "the trigger left cached data behind")
  }
}
