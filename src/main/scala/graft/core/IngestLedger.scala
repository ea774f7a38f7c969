package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Applied-batch ledger of a persisted store — the marker half of
  * [[StoreLifecycle]]'s exactly-once ingest.
  *
  * `foreachBatch` is AT-LEAST-ONCE: a crash between a micro-batch's
  * side effects and the checkpoint commit replays the whole batch. A
  * verdict sink is idempotent (dynamic partition overwrite on
  * `batch_id`), but a store append is not — a replayed append would
  * duplicate rows AND double-merge count deltas. The ledger is
  * TWO-PHASE, so there is no residual window: an INTENT marker is
  * written before a batch's store append begins, and the COMMIT marker
  * LAST, after every side effect has committed. A replayed batch with a
  * commit marker is skipped outright; one with only an intent marker
  * crashed inside its append and takes its family's resume path
  * ([[StoreLifecycle.Replay]]); one with neither never started its
  * append and re-runs.
  *
  * Implementation: empty MARKER FILES (`batch-<id>.intent`,
  * `batch-<id>`) under `<warehouse>/<table>_applied/` — the shape of
  * Spark's own file-sink `_spark_metadata`. A lookup is a filesystem
  * `exists`, a record an atomic empty-file create: ZERO Spark jobs, no
  * catalog entries, the same storage and durability as the store's data
  * files, and no lookup ever lists the directory. Unpruned, the
  * directory would grow two files per batch forever; [[prune]] (run at
  * compaction, the amortized-maintenance moment) collapses all markers
  * at or below the highest CONTIGUOUS applied id into one WATERMARK
  * file, and [[applied]] answers ids at or below it from the watermark,
  * so replay-skip works on both sides of a prune. Ledger size after a
  * prune is O(gap): the watermark plus markers above the first hole.
  *
  * Batch ids must be unique per logical shard and APPLIED IN
  * INCREASING ORDER; `foreachBatch` guarantees both for streaming
  * callers, and loop-driving callers own the contract. The order half
  * lets [[prune]] seed its watermark from the lowest marker id when
  * none exists: a caller-driven loop that applies ids out of order
  * (none of the engine's loops do) must not interleave [[prune]], or a
  * lower id applied later would silently skip.
  *
  * Upgrade note (pre-two-phase ledgers): a loop that crashed mid-append
  * under the OLD single-marker protocol left no intent marker, so its
  * replay re-runs the dedup against a store already holding its own
  * appended rows — the sibling kept→dropped flip the two-phase protocol
  * prevents, exposed ONCE, at upgrade time. Before resuming such a
  * loop, run the store's `compactStore`: its distinct collapses the old
  * crash's duplicate rows and the recount restores exact counts.
  */
object IngestLedger {

  /** Directory of marker files kept alongside a store `table`. */
  def ledgerDir(spark: SparkSession, table: String): Path =
    new Path(spark.conf.get("spark.sql.warehouse.dir"), s"${table}_applied")

  private def marker(spark: SparkSession, table: String, batchId: Long): Path =
    new Path(ledgerDir(spark, table), s"batch-$batchId")

  private def intentMarker(spark: SparkSession, table: String,
                           batchId: Long): Path =
    new Path(ledgerDir(spark, table), s"batch-$batchId.intent")

  private def touch(spark: SparkSession, m: Path): Unit = {
    val fs = m.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(m.getParent)
    fs.create(m, true).close()
  }

  private def exists(spark: SparkSession, m: Path): Boolean =
    m.getFileSystem(spark.sessionState.newHadoopConf()).exists(m)

  private def watermarkFile(spark: SparkSession, table: String): Path =
    new Path(ledgerDir(spark, table), "applied-through")

  /** Highest batch id covered by the pruned-marker watermark — every id
    * at or below it is committed. −1 when no prune has happened. One
    * read of a fixed-name file, no listing. */
  def watermark(spark: SparkSession, table: String): Long = {
    val f = watermarkFile(spark, table)
    val fs = f.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(f)) -1L
    else {
      val in = fs.open(f)
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        "UTF-8").trim.toLong
      finally in.close()
    }
  }

  /** Has `batchId` been fully committed against `table`? One
    * filesystem `exists` (plus one watermark read for ids whose marker
    * was pruned) — no job, no listing. */
  def applied(spark: SparkSession, table: String, batchId: Long): Boolean =
    exists(spark, marker(spark, table, batchId)) ||
      batchId <= watermark(spark, table)

  /** Did a prior attempt of `batchId` BEGIN its store append (commit
    * its verdicts and write the intent marker)? True on the replay of
    * a batch that crashed mid-append — the caller must take the
    * reconcile path instead of re-running the dedup. */
  def intended(spark: SparkSession, table: String, batchId: Long): Boolean =
    exists(spark, intentMarker(spark, table, batchId))

  /** Batch ids whose append BEGAN (intent marker present) but never
    * committed (no commit marker) — the batches a delete-by-batch-id
    * crash repair still needs to find TAGGED in the store. Stores
    * whose repair works that way (the LM-model and card count-delta
    * stores) must exclude these rows from any compaction fold: folding
    * them into the −1 sentinel would strand a partial append where the
    * repair's `batch_id` filter can no longer see it, double-counting
    * the batch after the re-append. One directory listing — a
    * compaction-time cost, never on the per-batch path. (A dangling
    * intent below the watermark cannot exist: the watermark only
    * advances over committed ids, [[prune]]'s no-watermark seed
    * minimizes over intent markers too, and prune deletes both markers
    * together.) */
  def danglingIntents(spark: SparkSession, table: String): Seq[Long] = {
    val dir = ledgerDir(spark, table)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dir)) Seq.empty
    else {
      val names = fs.listStatus(dir).map(_.getPath.getName).toSet
      names.filter(_.endsWith(".intent"))
        .map(_.stripSuffix(".intent").stripPrefix("batch-").toLong)
        .filter(id => !names.contains(s"batch-$id"))
        .toSeq.sorted
    }
  }

  /** Declare that `batchId`'s store append is ABOUT to start — call
    * after the batch's verdicts have committed, immediately before the
    * first store side effect. An atomic empty-file create. */
  def intent(spark: SparkSession, table: String, batchId: Long): Unit =
    touch(spark, intentMarker(spark, table, batchId))

  /** Record `batchId` as fully committed — call LAST, after every side
    * effect of the batch has committed. An atomic empty-file create.
    * The intent marker is kept: two empty files per batch, and
    * [[applied]] (checked first) makes the intent unreachable. */
  def record(spark: SparkSession, table: String, batchId: Long): Unit =
    touch(spark, marker(spark, table, batchId))

  /** Collapse commit markers into the watermark: find the highest batch
    * id `w` such that every id in `(current watermark, w]` has a commit
    * marker, write `w` to the watermark file, then delete all markers
    * (commit AND intent) at or below `w`. The one directory LISTING the
    * ledger ever performs — a compaction-time cost, amortized over many
    * appends, never on the per-batch path.
    *
    * Crash-ordering: the new watermark lands via write-to-temp +
    * overwrite-RENAME (`FileContext`, atomic on HDFS/local), and
    * markers are deleted only AFTER the watermark is in place — at
    * every intermediate point [[applied]] stays correct (marker and
    * watermark agree wherever both exist), and a re-run just finishes
    * the deletes. Contiguity matters: a hole (a batch id that never
    * committed) bounds the watermark, so an uncommitted batch can never
    * be masked as applied. */
  def prune(spark: SparkSession, table: String): Unit = {
    val dir = ledgerDir(spark, table)
    val conf = spark.sessionState.newHadoopConf()
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return
    val names = fs.listStatus(dir).map(_.getPath.getName)
    val committed = names.iterator
      .filter(n => n.startsWith("batch-") && !n.endsWith(".intent"))
      .flatMap(n => scala.util.Try(n.stripPrefix("batch-").toLong).toOption)
      .toSet
    val intents = names.iterator
      .filter(_.endsWith(".intent"))
      .flatMap(n => scala.util.Try(
        n.stripSuffix(".intent").stripPrefix("batch-").toLong).toOption)
      .toSet
    val w0 = watermark(spark, table)
    // With no watermark yet, seed from (min marker id − 1) rather than
    // −1: a loop whose ids start above 0 (a stream resuming a retained
    // checkpoint against a rewritten store) would otherwise never
    // advance the watermark and the marker files would accumulate
    // forever. The seed minimizes over ALL marker ids — committed AND
    // dangling intents — so an intent-without-commit (a crash
    // mid-append awaiting replay) below the lowest committed id bounds
    // the watermark BELOW itself: the sweep can never delete a dangling
    // intent, and [[applied]] never answers true for its batch. Safe
    // under the ledger's application-order contract (ids are applied in
    // increasing order): with no watermark, every applied id has a
    // marker, so nothing below min(markers) was ever applied — or ever
    // will be.
    val markerMin = (committed ++ intents).reduceOption(_ min _)
    var w =
      if (w0 < 0 && markerMin.isDefined) {
        // surface the seed loudly: from here on, [[applied]] answers
        // true for EVERY id below min(markers) — correct under the
        // increasing-order contract, silently wrong for a caller-driven
        // loop applying ids out of order (which must not interleave
        // prune; see the object doc)
        if (markerMin.get > 0)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"IngestLedger.prune('$table'): seeding watermark at " +
              s"${markerMin.get - 1} from the lowest marker id — ids " +
              "below it will answer applied=true; valid only if batches " +
              "are applied in increasing order")
        markerMin.get - 1
      } else w0
    while (committed.contains(w + 1)) w += 1
    if (w > w0) {
      val tmp = new Path(dir, "applied-through.tmp")
      val out = fs.create(tmp, true)
      try out.write(w.toString.getBytes("UTF-8")) finally out.close()
      org.apache.hadoop.fs.FileContext.getFileContext(dir.toUri, conf)
        .rename(tmp, watermarkFile(spark, table),
          org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
    // the delete sweep runs UNCONDITIONALLY against the current
    // watermark (not only when it advanced): a re-run after a crash
    // between the watermark rename and the deletes actually finishes
    // the deletes instead of deferring them to the next commit
    val cur = math.max(w, w0)
    if (cur >= 0) names.foreach { n =>
      val id = scala.util.Try(
        n.stripPrefix("batch-").stripSuffix(".intent").toLong).toOption
      if (n.startsWith("batch-") && id.exists(_ <= cur))
        fs.delete(new Path(dir, n), false)
    }
  }

  /** Drop the ledger. Called when a store is freshly (re)written: a new
    * store restarts its batch-id space, and a stale ledger would make
    * the new loop's batches look already-applied and silently skip. */
  def reset(spark: SparkSession, table: String): Unit = {
    val d = ledgerDir(spark, table)
    d.getFileSystem(spark.sessionState.newHadoopConf()).delete(d, true)
  }
}
