package graft

import graft.core.{Dedup, Upsert}
import graft.dim.{DimDate, DimSecurity}
import graft.fact.FactDailyPrice
import graft.ingest.EodCsvSource
import graft.metrics.{Audit, PostMergeMetrics, PreMergeMetrics}
import graft.quality.Gates
import graft.schema.Schemas
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The end-to-end EOD cascade (SURVEY.md §3.1) — the whole reference DAG
  * (`dags/get_securities_data.py:170-171`:
  * `copy → check → premerge → merge_core → [dim_security, dim_date] →
  * fact → postmerge`) collapsed into one driver call. The reference runs
  * one DAG per `TRADE_DATE`; here one call takes a whole set of trade
  * dates (a streaming micro-batch's, say) through the cascade in one pass,
  * with the result of running the dates one after the other in date
  * order: every read and write is scoped to the dates' partitions, the
  * counts are grouped by date, and new `dim_security` ids follow (first
  * date of the symbol, symbol) order. A cascade pass costs a near-fixed
  * driver overhead of a few dozen small Spark jobs whatever its size, so
  * one pass for the set costs about what one date did.
  *
  * Layer tables are parquet directories under `warehouseDir`, partitioned
  * by `trade_date` where date-scoped (RAW/CORE/REJECT/FACT). Each layer
  * gets only the write its semantics need:
  *   - RAW, REJECT, `dim_security` and `dim_date` are insert-only (COPY
  *     appends, `WHEN NOT MATCHED THEN INSERT` merges): their new rows
  *     are appended as one file (per date partition), never rewriting
  *     what is there;
  *   - CORE, the one layer that rewrites what it reads, goes through a
  *     scratch copy and a dynamic overwrite of its date partitions (the
  *     MERGE of SURVEY.md §2.5);
  *   - FACT overwrites its date partitions directly: its plan never reads
  *     FACT.
  * The post-merge counts are observed on the CORE and FACT writes, one
  * count per date in each write's `Observation`.
  *
  * Storage goes through the Hadoop `FileSystem` API, so the warehouse can
  * live on any supported filesystem (file:/, hdfs:/, s3a:/ ...).
  */
final case class RunResult(tradeDate: java.sql.Date,
                           pre: PreMergeMetrics, post: PostMergeMetrics)

class EodPipeline(spark: SparkSession, warehouseDir: String) {
  import EodPipeline._

  private def path(t: String) = s"$warehouseDir/$t"
  private val fs: FileSystem =
    new Path(warehouseDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readOrEmpty(t: String, schema: StructType): DataFrame = {
    val p = path(t)
    if (fs.exists(new Path(p))) spark.read.schema(schema).parquet(p)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Run the full cascade for one trading date over a bronze CSV path.
    *
    * `forceReload = false` (default) gives COPY's load-history semantics
    * (SURVEY.md §2.1 S7): bronze files whose name is already present in
    * the RAW partition are skipped, so reruns are no-ops at the RAW layer
    * too. `forceReload = true` reproduces the reference's literal
    * `FORCE=TRUE` (`dags/sql/1. copy_to_raw.sql:39`): blind re-append —
    * RAW then duplicates on rerun exactly as the reference's would, and
    * downstream stays correct through the latest-wins dedup.
    *
    * The parsed bronze rows are persisted for the run, so the CSV is
    * scanned once, skip count included. */
  def run(bronzeCsvPath: String, runDate: java.sql.Date,
          ingestTs: Option[java.sql.Timestamp] = None,
          forceReload: Boolean = false): RunResult = {
    // t04.1 copy_to_raw (S5/S6). The skip count is measured at READ
    // grain (before date scoping — a skipped row has no parseable
    // trade_date to scope by): rows_parsed − rows_loaded, the COPY
    // load-history number (`1. copy_to_raw.sql:38` ON_ERROR=CONTINUE).
    val parsed = EodCsvSource.readParsed(spark, bronzeCsvPath, ingestTs).persist()
    try {
      val skipped = parsed.filter(EodCsvSource.keyFieldsMissing).count()
      val batch = EodCsvSource.forDate(
        parsed.filter(!EodCsvSource.keyFieldsMissing), runDate)
      runBatch(batch, runDate, ingestTs, forceReload, skippedCnt = skipped)
    } finally { parsed.unpersist(); () }
  }

  /** [[run]] under the reference's task-retry policy
    * (`dags/get_securities_data.py:30-33`: retries 3×, 5 min apart —
    * [[graft.util.Retry]]): transient failures (a source outage, an
    * object-store blip) retry whole-stage like the reference's Airflow
    * tasks; deterministic failures exhaust the budget and rethrow.
    * Safe to re-enter mid-cascade: every append is whole or absent and
    * its anti-join skips what already landed, and the CORE and FACT
    * overwrites are rerun-idempotent (EodPipelineSpec and EodRecoverySpec
    * pin both). */
  def runWithRetry(bronzeCsvPath: String, runDate: java.sql.Date,
                   ingestTs: Option[java.sql.Timestamp] = None,
                   forceReload: Boolean = false,
                   retries: Int = graft.util.Retry.DefaultRetries,
                   delayMs: Long = graft.util.Retry.DefaultDelayMs,
                   sleep: Long => Unit = Thread.sleep): RunResult =
    graft.util.Retry.retry(retries, delayMs, sleep)(() =>
      run(bronzeCsvPath, runDate, ingestTs, forceReload))

  /** The cascade from an already-read RAW-shaped batch of one run date:
    * [[runDates]] over that one date, with the loader's skip count
    * (measured by the caller at read grain) on its pre-merge counts. */
  def runBatch(batch: DataFrame, runDate: java.sql.Date,
               ingestTs: Option[java.sql.Timestamp] = None,
               forceReload: Boolean = false,
               skippedCnt: Long = 0L): RunResult = {
    val r = runDates(batch, Seq(runDate), ingestTs, forceReload).head
    r.copy(pre = r.pre.copy(skippedCnt = skippedCnt))
  }

  /** The cascade from an already-read RAW-shaped batch holding the rows of
    * `dates`, all dates in ONE pass: each stage, t04.2..t04.7, runs once
    * over the batch and each table is written once, with every read and
    * write scoped to the date partitions of `dates`. This is the entry
    * point the streaming variant calls once per micro-batch (SURVEY.md
    * §2.9) — stages t04.2..t04.7 are identical in batch and streaming.
    * The result equals running the dates one after the other in date
    * order (the reference's one-run-per-`TRADE_DATE`, `max_active_runs=1`),
    * `dim_security` ids included; it returns one [[RunResult]] per date,
    * in the order of `dates`. The batch is persisted for the cascade, so
    * its source is read once, and unpersisted when the cascade ends. The
    * tables are written in a fixed order: RAW, REJECT, CORE,
    * `dim_security`, `dim_date`, FACT. */
  def runDates(batch: DataFrame, dates: Seq[java.sql.Date],
               ingestTs: Option[java.sql.Timestamp] = None,
               forceReload: Boolean = false): Seq[RunResult] = {
    require(dates.nonEmpty, "runDates needs at least one trade date")
    val inDates = col("trade_date").isin(dates: _*)
    def slices(t: String, schema: StructType) = readOrEmpty(t, schema).filter(inDates)
    val raw = batch.persist()
    try {
      // t04.2 check (A2): every run date has rows
      Gates.requireNonEmpty(raw, "trade_date", dates, "raw batch")

      // RAW is append-only per date: a file already loaded for a date is
      // skipped (COPY load history) unless reloading by force
      val loadKeys = Seq("trade_date", "_src_file")
      val rawNew =
        if (forceReload) raw
        else raw.join(slices(RawTable, Schemas.raw).select(loadKeys.map(col): _*).distinct(),
          loadKeys, "left_anti")
      append(rawNew, RawTable)

      // t04.3 premerge metrics (Q1) — against CORE as it stands
      val core0 = readOrEmpty(CoreTable, Schemas.core)
      val pre = Audit.preMergeByDate(raw, core0).toMap

      // t04.4 merge_core: reject quarantine (M1) + dedup (W1) + upsert (M2).
      // Symbols are normalized BEFORE the dedup window (the reference's
      // src_raw CTE, `4. merge_core.sql:58`) so case/whitespace variants of
      // one ticker collapse into one dedup group; same for the reject rows
      // (`4. merge_core.sql:28`). Null-volume rows land in neither branch
      // (reference three-valued `>= 0` / `< 0` — see Gates.referenceSplit).
      val normalized = raw.withColumn("symbol", upper(trim(col("symbol"))))
      val (valid, rejects) = Gates.referenceSplit(normalized)
      append(Upsert.newRows(slices(RejectTable, Schemas.reject),
        Gates.annotateReject(rejects, "NEGATIVE_VOLUME"), Seq("symbol", "trade_date")),
        RejectTable)

      // the deduped batch feeds CORE and both dims: persisted, so the
      // dedup window runs once
      val loadTs = ingestTs.map(t => lit(t)).getOrElse(current_timestamp())
      val deduped = Dedup.latestIngestWins(valid)
        .select(col("trade_date"), col("symbol"),
          col("open"), col("high"), col("low"), col("close"), col("volume"))
        .withColumn("load_ts", loadTs)
        .persist()
      val coreRows = try {
        val rows = writeDatePartitions(Upsert.merge(core0.filter(inDates), deduped,
          Seq("symbol", "trade_date")), CoreTable, dates)

        // t04.5 dims (M3/M4) — insert-only, not date-partitioned
        append(DimSecurity.newRows(readOrEmpty(DimSecurityTable, Schemas.dimSecurity),
          deduped.select("symbol", "trade_date"), dateCol = Some("trade_date")),
          DimSecurityTable)
        append(Upsert.newRows(readOrEmpty(DimDateTable, Schemas.dimDate),
          DimDate.derive(deduped.select("trade_date"), "trade_date"), Seq("date_sk")),
          DimDateTable)
        rows
      } finally { deduped.unpersist(); () }

      // t04.6 fact (J3/M5); t04.7 postmerge metrics (Q2) are observed on
      // the CORE and FACT writes
      val fact = FactDailyPrice.build(slices(CoreTable, Schemas.core),
        readOrEmpty(DimSecurityTable, Schemas.dimSecurity),
        readOrEmpty(DimDateTable, Schemas.dimDate))
      val factRows = countWritten(fact, dates)(
        Upsert.overwriteDatePartition(spark, _, path(FactTable)))
      // the gate leaves no date without rows, so `pre` holds every date
      dates.indices.map(i =>
        RunResult(dates(i), pre(dates(i)), PostMergeMetrics(coreRows(i), factRows(i))))
    } finally { raw.unpersist(); () }
  }

  /** Run `write` over `df` and return the rows it wrote of each date,
    * counted by one `Observation` in the same pass. */
  private def countWritten(df: DataFrame, dates: Seq[java.sql.Date])(
      write: DataFrame => Unit): Seq[Long] = {
    val rows = Observation()
    val perDate = dates.indices.map(i =>
      count(when(col("trade_date") === lit(dates(i)), 1)).as(s"n$i"))
    write(df.observe(rows, perDate.head, perDate.tail: _*))
    dates.indices.map(i => rows.get(s"n$i").asInstanceOf[Long])
  }

  /** Append `rows` to an insert-only table as one file (one per date
    * partition of a date-partitioned table; a date's new rows are at most
    * one bronze file's). With one writer task each file commits by a
    * single rename, so after a crash each date's append is whole or
    * absent, and a re-run's anti-join skips exactly what landed. A dim
    * with no new rows is not written: an empty write would still leave an
    * empty file. Its new rows are persisted for the emptiness check, so
    * their plan runs once. */
  private def append(rows: DataFrame, table: String): Unit =
    if (table == RawTable || table == RejectTable)
      rows.coalesce(1).write.mode("append").partitionBy("trade_date").parquet(path(table))
    else {
      val kept = rows.persist()
      try if (!kept.isEmpty) kept.coalesce(1).write.mode("append").parquet(path(table))
      finally { kept.unpersist(); () }
    }

  /** Overwrite the date partitions of `dates` with a result that was
    * (lazily) derived from the SAME table. Writing a path that the plan
    * also reads is a correctness hazard ("Cannot overwrite a path that is
    * also being read from" at best, partial-read data loss at worst), so
    * the result is first materialized to a scratch dir, re-read, and only
    * then swapped into the target partitions. Two writes of the dates'
    * slices — bounded, partition-pruned IO, safe on any filesystem.
    * Returns the rows written of each date. */
  private def writeDatePartitions(df: DataFrame, table: String,
                                  dates: Seq[java.sql.Date]): Seq[Long] = {
    val scratch = s"$warehouseDir/_tmp/$table"
    val rows = countWritten(df.filter(col("trade_date").isin(dates: _*)), dates)(
      _.write.mode("overwrite").parquet(scratch))
    Upsert.overwriteDatePartition(spark, spark.read.parquet(scratch), path(table))
    fs.delete(new Path(scratch), true)
    rows
  }
}

object EodPipeline {
  val RawTable = "raw_eod_prices"
  val CoreTable = "core_eod_prices"
  val RejectTable = "core_eod_prices_reject"
  val DimSecurityTable = "dim_security"
  val DimDateTable = "dim_date"
  val FactTable = "fact_daily_price"
  val AllTables: Seq[String] =
    Seq(RawTable, CoreTable, RejectTable, DimSecurityTable, DimDateTable, FactTable)
}
