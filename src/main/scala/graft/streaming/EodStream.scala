package graft.streaming

import graft.EodPipeline
import graft.ingest.EodCsvSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming variant of the EOD cascade (SURVEY.md §2.9).
  *
  * The reference's capability — "as dated CSVs land in the bronze path,
  * upsert them downstream exactly once per key"
  * (`dags/get_securities_data.py:40`, one scheduled run per trading day) —
  * maps to a file-source stream over the bronze directory feeding the
  * UNCHANGED batch cascade through `foreachBatch`:
  *
  *   - the file source's checkpoint tracks processed files → each bronze
  *     file is processed exactly once across restarts (the reference's
  *     `max_active_runs=1` + COPY load history, for free);
  *   - `Trigger.AvailableNow` drains everything pending then stops —
  *     batch-like scheduled runs with streaming bookkeeping;
  *   - a micro-batch runs ONE cascade over all of its trade dates
  *     ([[graft.EodPipeline.runDates]]), which equals running its dates
  *     one after the other in date order through the batch entry point —
  *     `dim_security` ids included, assigned in (first date, symbol)
  *     order — so batch and streaming produce identical warehouse state,
  *     while a trigger carrying a new date and a correction of the
  *     previous one pays the cascade's fixed cost once, not per date.
  *
  * Scale: the stream itself is a narrow file scan; all wide work happens
  * in the cascade, which is partition-pruned to the micro-batch's dates
  * exactly as a batch run is to its date. `maxFilesPerTrigger` bounds
  * micro-batch size when draining a large backlog.
  */
object EodStream {

  /** Start the bronze-directory stream into a warehouse. Returns the
    * running query; callers use `awaitTermination()` (AvailableNow stops
    * by itself once the backlog is drained). */
  def start(spark: SparkSession, bronzeGlob: String, warehouseDir: String,
            checkpointDir: String,
            ingestTs: Option[java.sql.Timestamp] = None,
            maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    EodCsvSource.readStream(spark, bronzeGlob, ingestTs, maxFilesPerTrigger)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // persisted, so the micro-batch's files are scanned once
        val b = batch.persist()
        try {
          // the handful of distinct dates of the micro-batch — bounded by
          // the lookback window, reference `eod_data_downloader.py:29`
          val dates = b.select("trade_date").distinct().collect()
            .map(_.getDate(0)).sortBy(_.getTime).toSeq
          if (dates.nonEmpty) new EodPipeline(spark, warehouseDir).runDates(b, dates, ingestTs)
          ()
        } finally { b.unpersist(); () }
      }
      .start()
}
