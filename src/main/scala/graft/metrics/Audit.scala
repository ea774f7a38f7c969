package graft.metrics

import graft.quality.Gates
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pre/post-merge audit metrics (SURVEY.md §2.7 Q1/Q2; reference
  * `dags/sql/3. premerge_metrics.sql`, `8. postmerge_metrics.sql`). The
  * post-merge counts are observed on the CORE and FACT writes themselves
  * ([[graft.EodPipeline]]), so they cost no job of their own.
  *
  * The reference stitches four scalar counts into one row via cross joins
  * of 1-row aggregates (`3. premerge_metrics.sql:50-53`) and ships it over
  * XCom; here the row is a plain case class returned by the stage — the
  * driver program IS the orchestration (SURVEY.md §3.1).
  */
final case class PreMergeMetrics(rawCnt: Long, rejectCnt: Long,
                                 estInserts: Long, estUpdates: Long,
                                 skippedCnt: Long = 0L)
final case class PostMergeMetrics(coreRows: Long, factRows: Long)

object Audit {

  /** Q1: given a raw batch and the current CORE table, compute
    * (raw_cnt, reject_cnt, est_inserts, est_updates) over the whole
    * batch: the sum of [[preMergeByDate]]'s per-date counts (each count
    * is over keys that include the trade_date, so the dates add up).
    *
    * `skippedCnt` is the loader's ON_ERROR=CONTINUE skip count
    * (rows_parsed − rows_loaded — Snowflake surfaces it in COPY load
    * history, `1. copy_to_raw.sql:38`; the engine's loader counts
    * [[graft.ingest.EodCsvSource.keyFieldsMissing]] rows). It is
    * measured at READ grain, before any date scoping — a skipped row
    * has no parseable trade_date to scope by — so the caller that ran
    * the load passes it through. */
  def preMerge(raw: DataFrame, core: DataFrame,
               skippedCnt: Long = 0L): PreMergeMetrics =
    preMergeByDate(raw, core).map(_._2)
      .foldLeft(PreMergeMetrics(0, 0, 0, 0, skippedCnt)) { (a, m) =>
        a.copy(rawCnt = a.rawCnt + m.rawCnt, rejectCnt = a.rejectCnt + m.rejectCnt,
          estInserts = a.estInserts + m.estInserts, estUpdates = a.estUpdates + m.estUpdates)
      }

  /** Q1 per trade date of the batch: one aggregate pass over the batch
    * grouped by `trade_date`, plus one semi-join count of its valid keys
    * already in CORE, grouped the same way. A date with no rows in the
    * batch has no entry.
    * est_updates = |distinct valid keys ∩ core keys|; est_inserts =
    * |distinct valid keys| − est_updates — the invariant est_inserts +
    * est_updates = |distinct valid keys| holds by construction
    * (reference `3. premerge_metrics.sql:45-49`). Valid/reject use the
    * reference's exact predicates (`VOLUME >= 0` / `VOLUME < 0`), under
    * which null-volume rows count in neither. */
  def preMergeByDate(raw: DataFrame, core: DataFrame): Seq[(java.sql.Date, PreMergeMetrics)] = {
    val key = Seq(upper(trim(col("symbol"))).as("symbol"), col("trade_date"))
    val counts = raw.groupBy("trade_date").agg(count(lit(1)),
      count(when(Gates.negativeVolume, 1)),
      count_distinct(when(Gates.validVolume, struct(key: _*)))).collect()
    val existing = raw.filter(Gates.validVolume).select(key: _*).distinct()
      .join(core.select("symbol", "trade_date"), Seq("symbol", "trade_date"), "left_semi")
      .groupBy("trade_date").count().collect()
      .map(r => r.getDate(0) -> r.getLong(1)).toMap
    counts.toSeq.map { r =>
      val updates = existing.getOrElse(r.getDate(0), 0L)
      r.getDate(0) -> PreMergeMetrics(r.getLong(1), r.getLong(2),
        estInserts = r.getLong(3) - updates, estUpdates = updates)
    }
  }

  /** Q3 summary formatting (reference `dags/get_securities_data.py:186-206`)
    * — the run-summary text the reference posts to Slack, produced from
    * the metrics case classes (the webhook itself is out of engine scope,
    * SURVEY.md §2.1 S11). The reference has a latent NameError when the
    * premerge row is missing (`reject_cnt` never initialized,
    * `get_securities_data.py:186-194`); here absent metrics format as 0 —
    * implement the intent, not the bug (SURVEY.md §2.7 Q3 note). */
  def formatSummary(tradingDate: java.sql.Date,
                    pre: Option[PreMergeMetrics],
                    post: Option[PostMergeMetrics]): String = {
    def fmt(n: Long): String = "%,d".formatLocal(java.util.Locale.US, n)
    val p = pre.getOrElse(PreMergeMetrics(0, 0, 0, 0))
    val q = post.getOrElse(PostMergeMetrics(0, 0))
    s""":white_check_mark: *EOD Summary*
       |• Trading Date: `$tradingDate`
       |• RAW rows: `${fmt(p.rawCnt)}`
       |• Skipped (unparseable) rows: `${fmt(p.skippedCnt)}`
       |• Reject rows: `${fmt(p.rejectCnt)}`
       |• Estimated CORE inserts: `${fmt(p.estInserts)}`
       |• Estimated CORE updates: `${fmt(p.estUpdates)}`
       |• CORE rows after merge: `${fmt(q.coreRows)}`
       |• FACT rows after merge: `${fmt(q.factRows)}`""".stripMargin
  }
}
