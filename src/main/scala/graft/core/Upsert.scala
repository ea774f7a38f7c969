package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MERGE/upsert planner (SURVEY.md §2.5 M1-M5) — library-level, not
  * Catalyst: vanilla Spark has no mutable MERGE, and the reference scopes
  * every MERGE to a single `TRADE_DATE`, which makes
  * overwrite-affected-partition semantically exact.
  *
  * Shapes implemented:
  *   - insert-only merge (`WHEN NOT MATCHED THEN INSERT`, reference
  *     `dags/sql/4. merge_core.sql:24-45`, `5. merge_dim_security.sql:22-37`,
  *     `6. dm_dim_date.sql:17-37`): source LEFT ANTI target, then union.
  *   - full upsert (`matched → update, not matched → insert`, reference
  *     `4. merge_core.sql:83-96`, `7. merge_fact_daily_price.sql:38-52`):
  *     source wins over target on the key; target rows not matched
  *     survive. Equivalent to target LEFT ANTI source ∪ source.
  *
  * Scale notes (100 TB): the anti join shuffles on the merge key unless
  * one side broadcasts — dims always broadcast. An insert-only table
  * (RAW, REJECT, the dims) is never rewritten: only its [[newRows]] are
  * appended, so a day's write is O(new rows), not O(table). The full
  * upsert (CORE) reads ONLY the affected `trade_date=` partition of the
  * target (partition pruning), anti-joins that slice, and rewrites it
  * with `partitionOverwriteMode=dynamic` so untouched dates are never
  * re-written.
  */
object Upsert {

  /** The rows an insert-only merge adds: rows of `source` whose key is
    * absent in `target` (J5 anti-join). An append of exactly these rows
    * is the physical insert-only merge. */
  def newRows(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame =
    source.join(target.select(keys.map(col): _*).distinct(), keys, "left_anti")

  /** Insert-only merge: [[newRows]] appended to `target`. Column sets
    * must match. */
  def insertOnly(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame =
    target.unionByName(newRows(target, source, keys))

  /** Full upsert: every key present in `source` takes the source row
    * (unconditional update, matching the reference's real behavior — its
    * header comment claims guarded update but the code updates whenever
    * matched, SURVEY.md §2.5 note); keys only in `target` keep the target
    * row. `source` must be deduped on `keys` first (see [[Dedup]]). */
  def merge(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame =
    target.join(source.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .unionByName(source)

  /** [[merge]] over BUCKETED target/source tables (both bucketed and
    * sorted on `keys`, same bucket count — see [[Bucketing]]): the
    * sort-merge strategy is pinned via the join hint so the anti join
    * reads co-partitioned buckets in place — no Exchange on either side
    * (an unhinted plan may broadcast the distinct key set instead, which
    * also avoids a shuffle but proves nothing about the storage layout
    * at a scale where the key set outgrows the broadcast threshold).
    * This is the zero-shuffle daily CORE merge at 100 TB: the only data
    * movement is the narrow in-bucket read. q33 checks it end-to-end;
    * PlanSpec pins the shuffle-free plan. */
  def mergeBucketed(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame =
    target.join(source.select(keys.map(col): _*).distinct().hint("merge"),
      keys, "left_anti")
      .unionByName(source)

  /** Write one date's slice of a date-partitioned parquet table with
    * dynamic partition overwrite — the physical realization of a
    * date-scoped MERGE. Idempotent under reruns. The overwrite mode is
    * scoped to THIS writer via `.option(...)`, never the shared session
    * conf (a session-conf mutation would leak into every other query). */
  def overwriteDatePartition(spark: SparkSession, df: DataFrame,
                             tablePath: String, partitionCol: String = "trade_date"): Unit = {
    df.write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .mode("overwrite")
      .parquet(tablePath)
  }
}
