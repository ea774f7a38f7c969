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
  * fact → postmerge`) collapsed into one driver call per trading date.
  *
  * Layer tables are parquet directories under `warehouseDir`, partitioned
  * by `trade_date` where date-scoped (RAW/CORE/REJECT/FACT). Each layer
  * gets only the write its semantics need:
  *   - RAW, REJECT, `dim_security` and `dim_date` are insert-only (COPY
  *     appends, `WHEN NOT MATCHED THEN INSERT` merges): their new rows
  *     are appended as one file (per date partition), never rewriting
  *     what is there;
  *   - CORE, the one layer that rewrites what it reads, goes through a
  *     scratch copy and a dynamic overwrite of its date partition (the
  *     MERGE of SURVEY.md §2.5);
  *   - FACT overwrites its date partition directly: its plan never reads
  *     FACT.
  * The post-merge counts are observed on the CORE and FACT writes.
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

  /** The cascade from an already-read RAW-shaped batch (one run date).
    * This is the entry point the streaming variant reuses per micro-batch
    * (SURVEY.md §2.9) — stages t04.2..t04.7 are identical in batch and
    * streaming. The batch is persisted for the cascade, so its source is
    * read once, and unpersisted when the cascade ends. The tables are
    * written in a fixed order: RAW, REJECT, CORE, `dim_security`,
    * `dim_date`, FACT. */
  def runBatch(batch: DataFrame, runDate: java.sql.Date,
               ingestTs: Option[java.sql.Timestamp] = None,
               forceReload: Boolean = false,
               skippedCnt: Long = 0L): RunResult = {
    val raw = batch.persist()
    try {
      // t04.2 check (A2)
      Gates.requireNonEmpty(raw, s"raw batch $runDate")

      // RAW is append-only per date: a file already loaded for the date
      // is skipped (COPY load history) unless reloading by force
      val rawNew =
        if (forceReload) raw
        else raw.join(dateSlice(RawTable, Schemas.raw, runDate).select("_src_file").distinct(),
          Seq("_src_file"), "left_anti")
      append(rawNew, RawTable)

      // t04.3 premerge metrics (Q1) — against CORE as it stands
      val core0 = readOrEmpty(CoreTable, Schemas.core)
      val pre = Audit.preMerge(raw, core0, skippedCnt)

      // t04.4 merge_core: reject quarantine (M1) + dedup (W1) + upsert (M2).
      // Symbols are normalized BEFORE the dedup window (the reference's
      // src_raw CTE, `4. merge_core.sql:58`) so case/whitespace variants of
      // one ticker collapse into one dedup group; same for the reject rows
      // (`4. merge_core.sql:28`). Null-volume rows land in neither branch
      // (reference three-valued `>= 0` / `< 0` — see Gates.referenceSplit).
      val normalized = raw.withColumn("symbol", upper(trim(col("symbol"))))
      val (valid, rejects) = Gates.referenceSplit(normalized)
      append(Upsert.newRows(dateSlice(RejectTable, Schemas.reject, runDate),
        Gates.annotateReject(rejects, "NEGATIVE_VOLUME"), Seq("symbol", "trade_date")),
        RejectTable)

      val loadTs = ingestTs.map(t => lit(t)).getOrElse(current_timestamp())
      val deduped = Dedup.latestIngestWins(valid)
        .select(col("trade_date"), col("symbol"),
          col("open"), col("high"), col("low"), col("close"), col("volume"))
        .withColumn("load_ts", loadTs)
      val coreRows = writeDatePartition(Upsert.merge(
        core0.filter(col("trade_date") === lit(runDate)), deduped,
        Seq("symbol", "trade_date")), CoreTable, runDate)

      // t04.5 dims (M3/M4) — insert-only, not date-partitioned
      append(DimSecurity.newRows(readOrEmpty(DimSecurityTable, Schemas.dimSecurity),
        deduped.select("symbol")), DimSecurityTable)
      append(Upsert.newRows(readOrEmpty(DimDateTable, Schemas.dimDate),
        DimDate.derive(deduped.select("trade_date"), "trade_date"), Seq("date_sk")),
        DimDateTable)

      // t04.6 fact (J3/M5); t04.7 postmerge metrics (Q2) are observed on
      // the CORE and FACT writes
      val fact = FactDailyPrice.build(dateSlice(CoreTable, Schemas.core, runDate),
        readOrEmpty(DimSecurityTable, Schemas.dimSecurity),
        readOrEmpty(DimDateTable, Schemas.dimDate))
      val factRows = countWritten(fact)(
        Upsert.overwriteDatePartition(spark, _, path(FactTable)))
      RunResult(runDate, pre, PostMergeMetrics(coreRows, factRows))
    } finally { raw.unpersist(); () }
  }

  private def dateSlice(t: String, schema: StructType, d: java.sql.Date): DataFrame =
    readOrEmpty(t, schema).filter(col("trade_date") === lit(d))

  /** Run `write` over `df` and return the rows it wrote, counted by an
    * `Observation` in the same pass. */
  private def countWritten(df: DataFrame)(write: DataFrame => Unit): Long = {
    val rows = Observation()
    write(df.observe(rows, count(lit(1)).as("n")))
    rows.get("n").asInstanceOf[Long]
  }

  /** Append `rows` to an insert-only table as one file (one per date
    * partition of a date-partitioned table; a date's new rows are at most
    * one bronze file's). With one writer task the commit is a single
    * rename, so after a crash the append is whole or absent, and a
    * re-run's anti-join skips exactly what landed. A dim with no new rows
    * is not written: an empty write would still leave an empty file. */
  private def append(rows: DataFrame, table: String): Unit = {
    val w = rows.coalesce(1).write.mode("append")
    if (table == RawTable || table == RejectTable) w.partitionBy("trade_date").parquet(path(table))
    else if (!rows.isEmpty) w.parquet(path(table))
  }

  /** Overwrite one date partition with a result that was (lazily) derived
    * from the SAME table. Writing a path that the plan also reads is a
    * correctness hazard ("Cannot overwrite a path that is also being read
    * from" at best, partial-read data loss at worst), so the result is
    * first materialized to a scratch dir, re-read, and only then swapped
    * into the target partition. Two writes of ONE date's slice — bounded,
    * partition-pruned IO, safe on any filesystem. Returns the rows
    * written. */
  private def writeDatePartition(df: DataFrame, table: String, d: java.sql.Date): Long = {
    val scratch = s"$warehouseDir/_tmp/$table"
    val rows = countWritten(df.filter(col("trade_date") === lit(d)))(
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
