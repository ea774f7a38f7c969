package graft.streaming

import graft.EodPipeline
import graft.ingest.EodCsvSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
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
  *   - inside a micro-batch, rows are split per trade_date and each date
  *     runs the same per-date merge cascade as the batch entry point, so
  *     batch and streaming produce identical warehouse state.
  *
  * Scale: the stream itself is a narrow file scan; all wide work happens
  * in the per-date cascade, which is partition-pruned to the run date
  * exactly as in batch. `maxFilesPerTrigger` bounds micro-batch size when
  * draining a large backlog.
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
        val pipe = new EodPipeline(spark, warehouseDir)
        // persisted, so the micro-batch's files are scanned once
        val b = batch.persist()
        try {
          // one cascade per trade date in the micro-batch (driver-side
          // loop over the handful of distinct dates — bounded by the
          // lookback window, reference `eod_data_downloader.py:29`)
          val dates = b.select("trade_date").distinct().collect()
            .map(_.getDate(0)).sortBy(_.getTime)
          dates.foreach { d =>
            pipe.runBatch(b.filter(col("trade_date") === lit(d)), d, ingestTs)
            ()
          }
        } finally { b.unpersist(); () }
      }
      .start()
}
