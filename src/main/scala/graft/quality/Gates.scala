package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality gates (SURVEY.md §2.2 P2, §2.3 A1/A2).
  *
  * The reference's quality story is: a row-count assertion after load
  * (reference `dags/sql/2. check_loaded.sql:6-8`) and a negative-volume
  * reject split before merge (reference `dags/sql/4. merge_core.sql:24-45`).
  */
final case class GateFailed(message: String) extends RuntimeException(message)

object Gates {

  /** A2: `COUNT(*) > 0` load gate — fails the pipeline when the filtered
    * batch is empty. Uses `isEmpty` (limit-1 scan), not `count()`, so the
    * gate is O(first-row) at any scale. */
  def requireNonEmpty(df: DataFrame, what: String): Unit =
    if (df.isEmpty) throw GateFailed(s"load gate: no rows for $what")

  /** A2 over a batch of several dates: fails on the first of `dates`
    * with no rows in `df`. One distinct pass over the date column finds
    * every date present, instead of one gate per date. */
  def requireNonEmpty(df: DataFrame, dateCol: String, dates: Seq[java.sql.Date],
                      what: String): Unit = {
    val present = df.filter(col(dateCol).isin(dates: _*)).select(dateCol).distinct()
      .collect().map(_.getDate(0)).toSet
    dates.find(d => !present(d)).foreach(d => throw GateFailed(s"load gate: no rows for $what $d"))
  }

  /** P2 reject split: partition a batch into (valid, reject) on a
    * predicate. One scan shape, two filters — Catalyst pushes both to the
    * source; `valid ∪ reject ≡ input` by construction. */
  def split(df: DataFrame, rejectWhen: Column): (DataFrame, DataFrame) =
    (df.filter(!coalesce(rejectWhen, lit(false))),
     df.filter(coalesce(rejectWhen, lit(false))))

  /** The reference's single quality rule: negative volume
    * (reference `dags/sql/4. merge_core.sql:35`). */
  val negativeVolume: Column = col("volume") < 0

  /** The reference's valid-row rule (`4. merge_core.sql:65`,
    * `3. premerge_metrics.sql:30`): `VOLUME >= 0`. NOTE this is NOT the
    * complement of [[negativeVolume]] under SQL three-valued logic — a
    * null volume satisfies neither, so the reference silently drops
    * null-volume rows from BOTH core and reject. [[referenceSplit]]
    * reproduces that exactly; [[split]] is the generic two-way partition. */
  val validVolume: Column = col("volume") >= 0

  /** The reference's exact (valid, reject) pair: `VOLUME >= 0` /
    * `VOLUME < 0` — null-volume rows appear in neither. */
  def referenceSplit(df: DataFrame): (DataFrame, DataFrame) =
    (df.filter(validVolume), df.filter(negativeVolume))

  /** Reject rows annotated with the constant reason column
    * (reference `dags/sql/4. merge_core.sql:30`). */
  def annotateReject(rejects: DataFrame, reason: String): DataFrame =
    rejects.withColumn("reject_reason", lit(reason))

  /** S9 file-existence gate (reference `dags/get_securities_data.py:74-96`):
    * the staged file must exist before load; returns its size in bytes
    * (the reference logs it) or fails the pipeline. */
  def requireFileExists(spark: org.apache.spark.sql.SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) throw GateFailed(s"file gate: $path does not exist")
    fs.getFileStatus(p).getLen
  }

  /** Connectivity smoke probe — the engine analog of the reference's
    * manual-trigger connection-test DAGs: `test_aws_conn.py:28-32` lists
    * the staging bucket, `test_snowflake_conn.py:13-25` runs a trivial
    * session query; here both boundaries are Hadoop-FS paths, so the
    * probe is "the root exists, is a directory, and is listable".
    * Returns the entry count (the S3ListOperator analog); fails typed
    * when unreachable. (The Slack smoke — `test_slack_conn.py:14-20` —
    * is `SlackSink.post` of a test line over the injected transport.) */
  def warehouseReachable(spark: org.apache.spark.sql.SparkSession, rootPath: String): Int = {
    val p = new org.apache.hadoop.fs.Path(rootPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) throw GateFailed(s"connectivity: $rootPath does not exist")
    if (!fs.getFileStatus(p).isDirectory)
      throw GateFailed(s"connectivity: $rootPath is not a directory")
    fs.listStatus(p).length
  }
}
