package eodbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.SparkPlanInfo

import scala.collection.mutable

/** Per-layer tracing from outside the program: a SparkListener that keeps
  * one record per SQL execution (its interval, the first `graft.` frame of
  * its call site, the path it writes, and the task metrics of its jobs),
  * plus running Spark counters. Nothing here changes what the program
  * runs; it only observes the events Spark already posts. */
final class Trace extends SparkListener {

  final class Exec(val id: Long, val start: Long, val frames: Seq[String],
                   val writes: Option[String]) {
    var end: Long = -1L
    var recordsWritten = 0L
    var jobs = 0
  }

  private val lock = new Object
  val execs = mutable.LinkedHashMap.empty[Long, Exec]
  // counters since the last `reset`
  var jobs = 0L
  var tasks = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var bytesWritten = 0L
  var csvRecords = 0L
  private val csvScanAccums = mutable.Set.empty[Long]
  private val jobExec = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]

  def reset(): Unit = lock.synchronized {
    jobs = 0; tasks = 0; shuffleBytes = 0; spillBytes = 0
    bytesWritten = 0; csvRecords = 0
    execs.clear()
  }

  private def graftFrames(details: String): Seq[String] =
    details.split("\n").iterator.map(_.trim)
      .filter(_.startsWith("graft.")).map(f => f.takeWhile(_ != '(')).toSeq

  // a write plan's node details carry `Arguments: file:/…/table, …`
  private val WritePath =
    """(?s)\(\d+\) Execute InsertIntoHadoopFsRelationCommand\n.*?Arguments: ([^,\s]+)""".r

  private def collectCsvScans(p: SparkPlanInfo): Unit = {
    if (p.nodeName.toLowerCase.contains("scan csv") ||
        p.simpleString.toLowerCase.contains("format: csv"))
      p.metrics.filter(_.name == "number of output rows")
        .foreach(m => csvScanAccums += m.accumulatorId)
    p.children.foreach(collectCsvScans)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = lock.synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        val w = WritePath.findFirstMatchIn(s.physicalPlanDescription).map(_.group(1))
        execs(s.executionId) = new Exec(s.executionId, s.time,
          graftFrames(s.details), w)
        collectCsvScans(s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        collectCsvScans(u.sparkPlanInfo)
      case end: SparkListenerSQLExecutionEnd =>
        execs.get(end.executionId).foreach(_.end = end.time)
      case _ =>
    }
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = lock.synchronized {
    jobs += 1
    val ex = Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      // a job outside any SQL execution (an RDD action such as the
      // zipWithIndex offsets pass) is kept as an execution of its own,
      // keyed below every real execution id
      .getOrElse {
        val id = -1L - j.jobId
        execs(id) = new Exec(id, j.time,
          graftFrames(j.stageInfos.headOption.map(_.details).getOrElse("")), None)
        id
      }
    jobExec(j.jobId) = ex
    execs.get(ex).foreach(_.jobs += 1)
    j.stageIds.foreach(s => stageJob(s) = j.jobId)
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = lock.synchronized {
    val id = -1L - j.jobId
    execs.get(id).foreach(_.end = j.time)
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = lock.synchronized {
    tasks += 1
    val m = t.taskMetrics
    if (m != null) {
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      bytesWritten += m.outputMetrics.bytesWritten
      for (job <- stageJob.get(t.stageId); ex <- jobExec.get(job);
           rec <- execs.get(ex))
        rec.recordsWritten += m.outputMetrics.recordsWritten
    }
    t.taskInfo.accumulables.foreach { a =>
      if (csvScanAccums.contains(a.id)) a.update match {
        case Some(v: Long) => csvRecords += v
        case Some(v) => csvRecords += v.toString.toLong
        case None =>
      }
    }
  }

  /** Completed executions inside [t0, t1] that enclose no other one. A
    * streaming micro-batch is itself an execution that encloses every
    * execution its `foreachBatch` body runs; the enclosed ones carry the
    * call sites and written paths, so the enclosing one is dropped. */
  def leaves(t0: Long, t1: Long): Seq[Exec] = lock.synchronized {
    val in = execs.values.filter(e => e.start >= t0 && e.end > 0 && e.end <= t1).toSeq
    in.filterNot(p => in.exists(c => (c ne p) && c.start >= p.start && c.end <= p.end &&
      c.start < p.end && (c.start > p.start || c.end < p.end || c.id > p.id))).sortBy(_.start)
  }
}

/** A stack sampler over the driver's threads: every `intervalMs` it looks
  * at each live thread once and counts, per label, whether any thread was
  * inside a frame that `classify` maps to that label. Gives driver-side
  * time for work that runs no SQL execution of its own (ledger markers,
  * file listing) and for stages whose jobs run on helper threads. */
final class Sampler(intervalMs: Long,
                    classify: (Thread, Array[StackTraceElement]) => Seq[String])
    extends Thread("eodbench-sampler") {
  setDaemon(true)
  private val counts = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private var samples = 0L
  private var since = System.nanoTime()
  @volatile private var running = true

  override def run(): Unit = while (running) {
    val labels = mutable.Set.empty[String]
    val it = Thread.getAllStackTraces.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); labels ++= classify(e.getKey, e.getValue) }
    counts.synchronized {
      labels.foreach(l => counts(l) += 1)
      samples += 1
    }
    Thread.sleep(intervalMs)
  }

  /** Seconds attributed to each label since the last call (the share of
    * samples that saw the label, times the wall time), then reset. */
  def drain(): Map[String, Double] = counts.synchronized {
    val now = System.nanoTime()
    val wall = (now - since) / 1e9
    val n = samples.max(1L)
    val out = counts.map { case (k, v) => k -> v.toDouble / n * wall }.toMap
    counts.clear(); samples = 0; since = now
    out
  }

  def shutdown(): Unit = { running = false; join() }
}
