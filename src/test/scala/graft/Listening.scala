package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable

/** Listener plumbing for the specs that count what Spark ran. */
object Listening {
  private val MarkerKey = "graft.test.drainMarker"

  /** Whether `j` is the marker job [[during]] runs after its body. */
  def isMarker(j: SparkListenerJobStart): Boolean =
    Option(j.properties).exists(_.getProperty(MarkerKey) != null)

  /** Run `body` with `listener` registered and return its result once
    * `listener` has received every event `body` caused. Listener events
    * arrive asynchronously but in order within a queue, so the end of a
    * marker job run after `body` means every earlier event has arrived. */
  def during[T](spark: SparkSession, listener: SparkListener)(body: => T): T = {
    val sc = spark.sparkContext
    val drained = new CountDownLatch(1)
    val marker = new SparkListener {
      @volatile private var job = -1
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (isMarker(j)) job = j.jobId
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (j.jobId == job) drained.countDown()
    }
    sc.addSparkListener(listener)
    sc.addSparkListener(marker)
    try {
      val out = body
      sc.setLocalProperty(MarkerKey, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(MarkerKey, null)
      assert(drained.await(60, TimeUnit.SECONDS), "listener events never drained")
      out
    } finally {
      sc.removeSparkListener(marker)
      sc.removeSparkListener(listener)
    }
  }

  /** Sums the "number of output rows" of every scan node `scans` picks
    * in the plans Spark posts (a cached plan is posted as the child of
    * its in-memory scan), over every task that updates it — so a scan
    * that runs again counts again. */
  final class ScanRecords(scans: SparkPlanInfo => Boolean) extends SparkListener {
    private val ids = mutable.Set.empty[Long]
    @volatile var records = 0L

    private def collect(p: SparkPlanInfo): Unit = {
      if (scans(p))
        p.metrics.filter(_.name == "number of output rows").foreach(ids += _.accumulatorId)
      p.children.foreach(collect)
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => collect(s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => collect(u.sparkPlanInfo)
      case _ =>
    }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      t.taskInfo.accumulables.filter(a => ids(a.id))
        .foreach(_.update.foreach(v => records += v.toString.toLong))
  }
}
