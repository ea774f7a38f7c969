package eodbench

import eodbench.Main._
import graft.EodPipeline
import graft.dim.DimSecurity
import graft.sa.Analytics
import graft.streaming.EodStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import scala.collection.mutable

/** The two EOD workloads: `eod_daily` (new dates through
  * `EodPipeline.run`) and `eod_restate_stream` (new dates plus corrected
  * re-deliveries through `EodStream.start`), each followed by the
  * dashboard read set. */
object Eod {

  val Stages: Seq[String] = Seq("copy", "check", "premerge", "merge_core",
    "dim_security", "dim_date", "fact", "postmerge")
  /** Trailing dates the dashboard reads. */
  val ServeDates = 3

  final case class Date(date: String, file: String, rows: Long, correction: Option[String])

  def dates(m: Manifest, kind: String): Seq[Date] = m.all(kind).map { a =>
    Date(a(0), a(1), a(2).toLong, a.lift(3))
  }

  def ingestTs(d: String): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(s"$d 18:00:00")

  // ------------------------------------------------------------ read set

  /** The dashboard read set over FACT ⋈ dims for the trailing dates from
    * `from` on: daily returns, rolling liquidity, volatility, top-N by
    * traded value per sector and date, and share of traded value by
    * sector. */
  def readSet(spark: SparkSession, wh: String, from: String): Seq[(String, DataFrame)] = {
    val fact = spark.read.parquet(s"$wh/${EodPipeline.FactTable}")
      .filter(col("trade_date") >= lit(java.sql.Date.valueOf(from)))
    val dim = DimSecurity.enrich(spark.read.parquet(s"$wh/${EodPipeline.DimSecurityTable}"))
    val j = fact.join(dim, "security_id")
      .withColumn("traded_value", col("close") * col("volume"))
    val byDate = Seq(col("trade_date"))
    val returns = Analytics.lagReturn(j, "security_id", byDate, "close")
    Seq(
      "returns" -> returns,
      "liquidity" -> Analytics.rollingRows(j, "security_id", byDate, "traded_value", 5, "liq"),
      "volatility" -> Analytics.volatility(returns, "security_id", "ret"),
      "topn" -> Analytics.topNPerGroup(j, Seq("sector", "trade_date"),
        Seq(col("traded_value").desc, col("security_id")), 10),
      "share" -> Analytics.shareOfTotal(j, "sector",
        Analytics.cents2(col("close")) * col("volume"), 100.0))
  }

  /** One pass over the read set; per-measure seconds. */
  def servePass(spark: SparkSession, wh: String, from: String): Seq[(String, Double)] =
    readSet(spark, wh, from).map { case (n, df) => n -> timed(drain(df)) }

  /** The outputs the checks recompute: daily return and traded value. */
  def writeServeArtifacts(ctx: Ctx, wh: String, from: String): Unit = {
    val sets = readSet(ctx.spark, wh, from).toMap
    sets("returns").select("security_id", "trade_date", "close", "ret")
      .write.mode("overwrite").parquet(ctx.dir("out/serve_returns"))
    sets("returns").select("security_id", "trade_date", "traded_value")
      .write.mode("overwrite").parquet(ctx.dir("out/serve_traded_value"))
    ctx.out.str("serve_from", from)
  }

  // ------------------------------------------------------------ tracing

  /** The table an execution writes, if any. */
  private def tableOf(e: Trace#Exec): Option[String] =
    e.writes.map(_.stripSuffix("/").split('/').last.stripSuffix("__tmp"))

  private val WriteStage = Map(EodPipeline.RawTable -> "copy",
    EodPipeline.CoreTable -> "merge_core", EodPipeline.RejectTable -> "merge_core",
    EodPipeline.DimSecurityTable -> "dim_security", EodPipeline.DimDateTable -> "dim_date",
    EodPipeline.FactTable -> "fact")

  /** The stage of an execution that writes nothing, from the first
    * `graft.` frame of its call site. */
  private def frameStage(e: Trace#Exec): Option[String] = {
    def from(frame: String) = e.frames.headOption.exists(_.startsWith(frame))
    if (from("graft.metrics.Audit$.preMerge")) Some("premerge")
    else if (from("graft.metrics.Audit$.postMerge")) Some("postmerge")
    else if (from("graft.quality.Gates$.requireNonEmpty")) Some("check")
    else if (from("graft.dim.DimSecurity")) Some("dim_security")
    // the skip count of `run`
    else if (from("graft.EodPipeline.run")) Some("copy")
    else None
  }

  /** Inside a streaming query every execution carries the call site of
    * the query's start, so a non-writing execution is placed by the last
    * table written before it (the cascade writes its tables in a fixed
    * order). */
  private val AfterWrite = Map(EodPipeline.RawTable -> "premerge",
    EodPipeline.RejectTable -> "merge_core", EodPipeline.CoreTable -> "dim_security",
    EodPipeline.DimSecurityTable -> "dim_date", EodPipeline.DimDateTable -> "fact",
    EodPipeline.FactTable -> "postmerge")

  /** The cascade stage of each execution, in start order. */
  def stages(execs: Seq[Trace#Exec]): Seq[(Trace#Exec, String)] = {
    var last: Option[String] = None
    execs.map { e =>
      val s = tableOf(e) match {
        case Some(t) => last = Some(t); WriteStage.getOrElse(t, "other")
        case None => frameStage(e).getOrElse(last.map(AfterWrite).getOrElse("copy"))
      }
      e -> s
    }
  }

  private def isAuditJob(e: Trace#Exec, stage: String): Boolean =
    stage == "premerge" || stage == "postmerge" ||
      (stage == "copy" && e.writes.isEmpty && e.frames.headOption.exists(_.startsWith("graft.EodPipeline.run")))

  /** Per-unit trace record over the wall interval [t0, t1] (epoch ms). */
  final class UnitTrace(val wall: Double, val stages: Map[String, Double],
                        val driver: Double, val auditJobs: Int,
                        val dimRowsWritten: Long)

  def unitTrace(ctx: Ctx, t0: Long, t1: Long): UnitTrace = {
    val staged = stages(ctx.trace.leaves(t0, t1))
    val byStage = staged.groupBy(_._2).map { case (s, es) =>
      s -> es.map { case (e, _) => (e.end - e.start) / 1000.0 }.sum }
    val wall = (t1 - t0) / 1000.0
    new UnitTrace(wall, byStage, wall - byStage.values.sum,
      staged.collect { case (e, s) if isAuditJob(e, s) => e.jobs }.sum,
      staged.collect { case (e, s) if s == "dim_security" || s == "dim_date" =>
        e.recordsWritten }.sum)
  }

  /** Per-layer metrics shared by both EOD workloads. */
  def reportUnits(ctx: Ctx, units: Seq[UnitTrace], counters: Seq[Map[String, Double]]): Unit = {
    val L = ctx.out.layer
    Stages.foreach(s => L(s"pipeline.stage.${s}_s") = median(units.map(_.stages.getOrElse(s, 0.0))))
    L("pipeline.driver_s") = median(units.map(_.driver))
    // stage times plus driver_s are the unit's wall time: the placed
    // executions must not overlap (driver_s would go negative) and every
    // execution must have found a stage
    units.foreach { u =>
      require(u.driver > -0.01 * u.wall, s"stage times exceed the unit's ${u.wall} s")
      require(!u.stages.contains("other"), s"executions left unplaced: ${u.stages}")
    }
    L("metrics.audit_jobs") = median(units.map(_.auditJobs.toDouble))
    L("dim.rows_rewritten") = median(units.map(_.dimRowsWritten.toDouble))
    Seq("spark.sql_execs", "spark.jobs", "spark.tasks", "spark.shuffle_bytes",
      "spark.spill_bytes", "dim.new_security_ids").foreach { k =>
      L(k) = median(counters.map(_(k)))
    }
  }

  /** Spark counters since the last `reset`, read at once. */
  def counters(ctx: Ctx, t0: Long, t1: Long): Map[String, Double] = {
    val t = ctx.trace
    Map("spark.sql_execs" -> t.execs.values.count(e => e.id >= 0 && e.start >= t0 && e.start <= t1).toDouble,
      "spark.jobs" -> t.jobs.toDouble, "spark.tasks" -> t.tasks.toDouble,
      "spark.shuffle_bytes" -> t.shuffleBytes.toDouble,
      "spark.spill_bytes" -> t.spillBytes.toDouble)
  }

  def dimRows(spark: SparkSession, wh: String): Long = {
    val p = java.nio.file.Paths.get(wh, EodPipeline.DimSecurityTable)
    if (Files.exists(p)) spark.read.parquet(p.toString).count() else 0L
  }

  // ------------------------------------------------------------ eod_daily

  def daily(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val pool = dates(ctx.manifest, "date")
    val wh = ctx.dir("wh")
    val pipe = new EodPipeline(spark, wh)
    val audit = new StringBuilder
    def runDate(d: Date): Unit = {
      val r = pipe.run(d.file, java.sql.Date.valueOf(d.date), Some(ingestTs(d.date)))
      audit ++= Seq(d.date, r.pre.rawCnt, r.pre.rejectCnt, r.pre.estInserts,
        r.pre.estUpdates, r.pre.skippedCnt, r.post.coreRows, r.post.factRows)
        .mkString("", "\t", "\n")
    }
    // set-up and warm-up: the first date and a re-run of it (which must
    // change no table)
    val first = pool.head
    ctx.out.num("once_s", timed {
      runDate(first)
      copyTree(java.nio.file.Paths.get(wh), ctx.runDir.resolve("wh_before_rerun"))
      pipe.run(first.file, java.sql.Date.valueOf(first.date), Some(ingestTs(first.date)))
      copyTree(java.nio.file.Paths.get(wh), ctx.runDir.resolve("wh_after_rerun"))
    })
    log("set-up done")

    // the timed pass: every further date, one after the other
    val timedDates = pool.tail
    val unitS = mutable.ArrayBuffer.empty[Double]
    val traces = mutable.ArrayBuffer.empty[UnitTrace]
    val counts = mutable.ArrayBuffer.empty[Map[String, Double]]
    var csvRead = 0L; var written = 0L
    val whBytes0 = dirBytes(java.nio.file.Paths.get(wh))
    val t0 = System.nanoTime()
    timedDates.foreach { d =>
      // the benchmark's own dim_security counts run outside the traced span
      val dimBefore = if (ctx.traced) dimRows(spark, wh) else 0L
      if (ctx.traced) { ctx.settle(); ctx.trace.reset() }
      val w0 = System.currentTimeMillis()
      unitS += timed(runDate(d))
      val w1 = System.currentTimeMillis()
      log(f"date ${d.date} ${unitS.last}%.3f s")
      if (ctx.traced) {
        ctx.settle()
        traces += unitTrace(ctx, w0, w1)
        val c = counters(ctx, w0, w1)
        csvRead += ctx.trace.csvRecords; written += ctx.trace.bytesWritten
        counts += c + ("dim.new_security_ids" -> (dimRows(spark, wh) - dimBefore).toDouble)
      }
    }
    val ingestS = secs(t0)
    val rows = timedDates.map(_.rows).sum
    val whBytes = dirBytes(java.nio.file.Paths.get(wh))
    ctx.out.nums("unit_s", unitS.toSeq)
    ctx.out.num("batch_p50_s", median(unitS.toSeq))
    ctx.out.num("rows_per_s", rows / ingestS)
    ctx.out.num("stored_bytes_per_input_byte", whBytes.toDouble /
      pool.map(d => Files.size(java.nio.file.Paths.get(d.file))).sum)
    if (ctx.traced) {
      reportUnits(ctx, traces.toSeq, counts.toSeq)
      ctx.out.layer("ingest.scan_amplification") = csvRead.toDouble / rows
      ctx.out.layer("pipeline.write_amplification") = written.toDouble / (whBytes - whBytes0)
    }

    val from = pool(pool.size - ServeDates).date
    serve(ctx, "sa.", warmUp = true)(servePass(spark, wh, from))

    // untimed artifacts for the checks
    Files.writeString(ctx.runDir.resolve("out/audit.tsv"), audit.toString)
    Files.writeString(ctx.runDir.resolve("out/ingested.tsv"),
      pool.map(d => s"${d.date}\t${d.file}").mkString("", "\n", "\n"))
    writeServeArtifacts(ctx, wh, from)
  }

  // ------------------------------------------------------------ eod_restate_stream

  /** Files per trigger, and dates loaded in the set-up (one trigger). */
  val FilesPerTrigger = 2
  val Warm = 1

  /** Move `files` into the bronze directory in the given order, with
    * strictly increasing modification times (the file source picks files
    * in that order). */
  def stage(bronze: Path, files: Seq[String], clock: Array[Long]): Unit = files.foreach { f =>
    val src = java.nio.file.Paths.get(f)
    val dst = bronze.resolve(src.getFileName.toString)
    Files.copy(src, dst)
    clock(0) += 1000L
    Files.setLastModifiedTime(dst, FileTime.fromMillis(clock(0)))
  }

  /** Pairs of (new date, correction of the date loaded one trigger
    * earlier). */
  def restatePlan(ds: Seq[Date], triggers: Int): Seq[(Date, Date)] =
    (0 until triggers).map(k => (ds(Warm + k), ds(Warm - 1 + k)))

  final case class Progress(startMs: Long, triggerMs: Long, addBatchMs: Long)

  def drainStream(ctx: Ctx, bronze: Path, wh: String, ckpt: String): Seq[Progress] = {
    val got = mutable.ArrayBuffer.empty[Progress]
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) got.synchronized {
          got += Progress(java.time.Instant.parse(p.timestamp).toEpochMilli,
            p.durationMs.get("triggerExecution"), p.durationMs.getOrDefault("addBatch", 0L))
        }
      }
    }
    ctx.spark.streams.addListener(l)
    try {
      val q = EodStream.start(ctx.spark, bronze.toString, wh, ckpt,
        maxFilesPerTrigger = Some(FilesPerTrigger))
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      ctx.settle()
    } finally ctx.spark.streams.removeListener(l)
    got.synchronized(got.toSeq)
  }

  def restateStream(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val pool = dates(ctx.manifest, "date")
    val clock = Array(System.currentTimeMillis())
    val bronze = Files.createDirectories(ctx.runDir.resolve("bronze"))
    val wh = ctx.dir("wh")
    val ckpt = ctx.dir("ckpt")
    // set-up and warm-up: the first `Warm` dates in one trigger
    ctx.out.num("once_s", timed {
      stage(bronze, pool.take(Warm).map(_.file), clock)
      require(drainStream(ctx, bronze, wh, ckpt).size == 1, "the set-up is one trigger")
    })
    val triggers = pool.size - Warm
    val plan = restatePlan(pool, triggers)
    stage(bronze, plan.flatMap { case (n, c) => Seq(n.file, c.correction.get) }, clock)
    val whBytes0 = dirBytes(java.nio.file.Paths.get(wh))
    val dimBefore = if (ctx.traced) dimRows(spark, wh) else 0L
    if (ctx.traced) { ctx.settle(); ctx.trace.reset() }
    val t0 = System.nanoTime()
    val progress = drainStream(ctx, bronze, wh, ckpt)
    val ingestS = secs(t0)
    require(progress.size == triggers,
      s"expected $triggers triggers of $FilesPerTrigger files, saw ${progress.size}")
    val rows = plan.map { case (n, c) => n.rows + c.rows }.sum
    val inBytes = plan.map { case (n, c) =>
      Files.size(java.nio.file.Paths.get(n.file)) + Files.size(java.nio.file.Paths.get(c.correction.get)) }.sum
    ctx.out.nums("unit_s", progress.map(_.triggerMs / 1000.0))
    ctx.out.num("batch_p50_s", median(progress.map(_.triggerMs / 1000.0)))
    ctx.out.num("rows_per_s", rows / ingestS)
    val whBytes = dirBytes(java.nio.file.Paths.get(wh))
    ctx.out.num("stored_bytes_per_input_byte", whBytes.toDouble /
      (inBytes + pool.take(Warm).map(d => Files.size(java.nio.file.Paths.get(d.file))).sum))
    if (ctx.traced) {
      val units = progress.map(p => unitTrace(ctx, p.startMs, p.startMs + p.triggerMs))
      // read every counter before the benchmark's own dim_security count
      val perTrigger = counters(ctx, Long.MinValue, Long.MaxValue).map { case (k, v) => k -> v / triggers }
      val csvRead = ctx.trace.csvRecords; val written = ctx.trace.bytesWritten
      reportUnits(ctx, units, Seq(perTrigger +
        ("dim.new_security_ids" -> (dimRows(spark, wh) - dimBefore).toDouble / triggers)))
      ctx.out.layer("ingest.scan_amplification") = csvRead.toDouble / rows
      ctx.out.layer("pipeline.write_amplification") = written.toDouble / (whBytes - whBytes0).max(1L)
      ctx.out.layer("streaming.trigger_overhead_s") =
        median(progress.map(p => (p.triggerMs - p.addBatchMs) / 1000.0))
    }

    val from = pool(pool.size - ServeDates).date
    serve(ctx, "sa.", warmUp = true)(servePass(spark, wh, from))
    // every delivery in arrival order
    Files.writeString(ctx.runDir.resolve("out/ingested.tsv"),
      (pool.take(Warm).map(d => s"${d.date}\t${d.file}") ++
        plan.flatMap { case (n, c) => Seq(s"${n.date}\t${n.file}", s"${c.date}\t${c.correction.get}") })
        .mkString("", "\n", "\n"))
    writeServeArtifacts(ctx, wh, from)
  }
}
