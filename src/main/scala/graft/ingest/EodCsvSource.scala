package graft.ingest

import graft.schema.Schemas
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Typed CSV scan into the RAW layer (SURVEY.md §2.1 S5/S6).
  *
  * Reproduces the reference's `COPY INTO RAW.RAW_EOD_PRICES`
  * (reference `dags/sql/1. copy_to_raw.sql:15-39`):
  *   - positional typed reads (DATE / STRING / DECIMAL(18,6) / NUMBER(38,0)),
  *   - `SKIP_HEADER=1`            → `option("header", true)`,
  *   - `NULL_IF=('','NULL')`      → `option("nullValue", "NULL")` (empty
  *     string is already null for non-string types in PERMISSIVE mode),
  *   - `ON_ERROR='CONTINUE'`      → PERMISSIVE casts-to-null + post-filter
  *     of rows whose *required* fields failed to parse (Snowflake skips the
  *     row; Spark nulls the cell — dropping null-required-field rows makes
  *     the two behaviors equal),
  *   - `METADATA$FILENAME`        → `input_file_name()` as `_src_file`,
  *   - `CURRENT_TIMESTAMP()`      → `current_timestamp()` as `_ingest_ts`.
  *
  * Scale: this is a narrow, shuffle-free scan; at 100 TB the bronze path is
  * date-partitioned (`.../eod/yyyy/MM/dd/`), so a per-date run lists and
  * reads only one partition directory.
  */
object EodCsvSource {

  /** The ON_ERROR=CONTINUE skip predicate: a row whose KEY fields did
    * not parse is skipped, not loaded (OHLC nulls survive — they are
    * data, not keys). Exposed so callers can COUNT the skipped rows —
    * Snowflake's load history reports rows_parsed vs rows_loaded per
    * file (`1. copy_to_raw.sql:38`), and [[graft.metrics.Audit.preMerge]]
    * surfaces the difference in the Q1 metrics row. */
  val keyFieldsMissing: org.apache.spark.sql.Column =
    col("trade_date").isNull || col("symbol").isNull

  // The COPY file format, shared by the batch and the streaming reader
  private val Format = Map("header" -> "true", "nullValue" -> "NULL", "mode" -> "PERMISSIVE")

  private def withLineage(csv: DataFrame, ingestTs: Option[java.sql.Timestamp]): DataFrame =
    csv.withColumn("_src_file", input_file_name())
      .withColumn("_ingest_ts", ingestTs.map(t => lit(t)).getOrElse(current_timestamp()))

  /** PERMISSIVE parse of one or more bronze CSV files (glob OK) into
    * RAW shape WITHOUT the skip filter — unparseable-key rows are
    * present with null keys, exactly `rows_parsed` grain. Use [[read]]
    * for the loaded rows; the difference is the skipped count. */
  def readParsed(spark: SparkSession, path: String,
                 ingestTs: Option[java.sql.Timestamp] = None): DataFrame =
    withLineage(spark.read.schema(Schemas.bronzeCsv).options(Format).csv(path), ingestTs)

  /** The streaming twin of [[read]]: a file-source stream of the loaded
    * rows of every bronze CSV file that lands under `path` (glob OK).
    * `maxFilesPerTrigger` bounds a micro-batch. */
  def readStream(spark: SparkSession, path: String,
                 ingestTs: Option[java.sql.Timestamp] = None,
                 maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(Schemas.bronzeCsv).options(Format)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    withLineage(reader.csv(path), ingestTs).filter(!keyFieldsMissing)
  }

  /** Read one or more bronze CSV files (glob OK) into RAW shape.
    * `ingestTs` is injectable so tests and checked queries stay
    * deterministic (SURVEY.md §2.5 note: lineage timestamps are
    * nondeterministic by design and excluded from correctness diffs).
    */
  def read(spark: SparkSession, path: String,
           ingestTs: Option[java.sql.Timestamp] = None): DataFrame =
    // ON_ERROR=CONTINUE parity: drop rows matching [[keyFieldsMissing]]
    // (Snowflake skips the row; Spark nulls the cell — dropping
    // null-required-field rows makes the two behaviors equal)
    readParsed(spark, path, ingestTs).filter(!keyFieldsMissing)

  /** Restrict a RAW batch to one run date — the universal incremental
    * scoping predicate (SURVEY.md §2.2 P1; 10 sites in the reference). */
  def forDate(raw: DataFrame, runDate: java.sql.Date): DataFrame =
    raw.filter(col("trade_date") === lit(runDate))
}
