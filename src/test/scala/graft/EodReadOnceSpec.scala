package graft

import graft.streaming.EodStream
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable

/** The cascade reads each bronze CSV record once — the batch entry
  * point's skip count included — and leaves nothing cached behind. */
class EodReadOnceSpec extends SparkSpec {
  private val ts = java.sql.Timestamp.valueOf("2026-08-10 21:05:00")
  private val MarkerKey = "graft.test.csvRecordsMarker"

  /** Sums the "number of output rows" of every CSV scan node in the
    * plans Spark posts (a cached plan is posted as the child of its
    * in-memory scan), over every task that updates it — so a scan that
    * runs again counts again. */
  private final class CsvRecords extends SparkListener {
    private val scans = mutable.Set.empty[Long]
    private var markerJob = -1
    val drained = new CountDownLatch(1)
    @volatile var records = 0L

    private def collect(p: SparkPlanInfo): Unit = {
      if (p.nodeName.toLowerCase.contains("scan csv"))
        p.metrics.filter(_.name == "number of output rows").foreach(scans += _.accumulatorId)
      p.children.foreach(collect)
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => collect(s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => collect(u.sparkPlanInfo)
      case _ =>
    }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      t.taskInfo.accumulables.filter(a => scans(a.id))
        .foreach(_.update.foreach(v => records += v.toString.toLong))

    override def onJobStart(j: SparkListenerJobStart): Unit =
      if (Option(j.properties).exists(_.getProperty(MarkerKey) != null)) markerJob = j.jobId

    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      if (j.jobId == markerJob) drained.countDown()
  }

  /** CSV records scanned while `body` runs. Listener events arrive
    * asynchronously but in order, so the end of a marker job run after
    * `body` means every event of `body` has arrived. */
  private def csvRecordsRead(body: => Unit): Long = {
    // other suites in this JVM may leave frames cached; the run must add none
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val l = new CsvRecords
    sc.addSparkListener(l)
    try {
      body
      sc.setLocalProperty(MarkerKey, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(MarkerKey, null)
      assert(l.drained.await(60, TimeUnit.SECONDS), "listener events never drained")
      l.records
    } finally sc.removeSparkListener(l)
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
