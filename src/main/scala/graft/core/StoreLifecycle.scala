package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one lifecycle every persisted store family runs — write, append,
  * compact, compact-if-decayed, ledgered ingest, streamed ingest — on
  * top of [[Bucketing]] (layout, staging swap, decay trigger) and
  * [[IngestLedger]] (two-phase applied-batch markers). A family object
  * keeps only what makes it a family: its bucket keys, how it derives
  * store rows from a batch, its compaction fold, and how a batch that
  * crashed mid-append replays ([[Replay]]); its readers, meta contracts
  * and special maintenance passes (vector recluster, bloom retrain) stay
  * with it. One reuse layer maintains every incremental structure — the
  * "Incremental Based Framework for Efficient Top-K Similarity Search"
  * (EDBT 2020) shape.
  *
  * Exactly-once ingest (the ledger shell, [[IngestLedger]]'s protocol):
  * heal any stranded staging swap → a committed batch id skips
  * outright → a batch with only an intent marker crashed inside its
  * append and RESUMES through its replay kind → otherwise the batch
  * runs fresh: pre-append work (a dedup family's verdict partition),
  * intent marker, append (overlapped with the caller's next stage when
  * it hands one in — [[ingestVerdicts]]), and the commit marker LAST,
  * after both have settled. Compaction and
  * the in-loop maintenance cadence run outside that contract: both are
  * idempotent, and a crash inside a staging swap self-heals at the next
  * entry ([[Bucketing.recoverSwap]]).
  */
object StoreLifecycle {

  /** How a batch that crashed inside its append converges on replay. */
  sealed trait Replay

  /** Re-landing the batch converges on its own: duplicate rows collapse
    * at every read and at compaction (or the append anti-joins what
    * already landed). The fold is applied to every row. */
  case object IdempotentSet extends Replay

  /** Count deltas, NOT idempotent: every row carries its `batch_id`
    * (build and compacted rows the −1 sentinel); a resumed batch drops
    * its tagged rows — a partial append's stragglers included — and
    * re-appends (an O(store) rewrite, only on the rare repair path).
    * Compaction leaves rows of dangling-intent batches
    * ([[IngestLedger.danglingIntents]]) unfolded and still tagged, or
    * the repair's `batch_id` filter could no longer see them and the
    * batch would count twice after its re-append. */
  case object CountDelta extends Replay

  /** A per-key row-count side table kept next to a store as
    * APPEND-ONLY delta rows `(keys..., column)` named
    * `<table><suffix>` — bucketed like the store, advanced by every
    * append, summed at read time, collapsed by compaction. */
  final case class Counts(suffix: String, column: String)

  /** One store of a family: the table and its bucket count (the
    * caller's) plus the family's constants — bucket keys, compaction
    * fold (for [[CountDelta]] the aggregation alone; the sentinel and
    * the dangling-intent exclusion are added here), replay kind, count
    * side table, and a maintenance-entry repair run after the swap
    * heals (the vector store's crashed-recluster completion). */
  final case class Store(table: String, keys: Seq[String], buckets: Int,
                         fold: DataFrame => DataFrame,
                         replay: Replay = IdempotentSet,
                         counts: Option[Counts] = None,
                         recover: SparkSession => Unit = _ => ()) {
    private[core] def countsTable: Option[String] = counts.map(table + _.suffix)
    private[core] def tables: Seq[String] = table +: countsTable.toSeq
  }

  /** Name of the 1-row meta table a family keeps next to `table` as its
    * build's COMMIT MARKER ([[writeCommitted]]). */
  def metaTable(table: String): String = s"${table}_meta"

  /** The committed meta row of a `kind` store built by `build`,
    * refusing loudly when the build never committed (no meta) or, with
    * `qScale`, when it was built under another quantizer scale (sums
    * are only additive — and scores comparable — under ONE scale). */
  def committedMeta(spark: SparkSession, table: String, kind: String,
                    build: String, qScale: Option[Long] = None): Row = {
    require(spark.catalog.tableExists(metaTable(table)),
      s"$kind store '$table' has no meta table — a (re)build crashed " +
        s"before committing; re-run $build before serving")
    val meta = spark.table(metaTable(table)).head()
    qScale.foreach(q => require(meta.getAs[Long]("q_scale") == q,
      s"$kind store '$table' was built with quantizer scale " +
        s"${meta.getAs[Long]("q_scale")}, this engine serves at $q — " +
        "rebuild the store or match the scale"))
    meta
  }

  /** Per-key row counts of `rows` — the count side table's grain. */
  def keyCounts(s: Store, rows: DataFrame): DataFrame =
    rows.groupBy(s.keys.map(col): _*)
      .agg(count(lit(1)).as(s.counts.get.column))

  /** Build (or rebuild) the store from `rows`, one file per bucket; the
    * count side table is the in-bucket rollup of the written store. A
    * fresh store restarts its batch-id space, so the ledger is reset. */
  def write(rows: DataFrame, s: Store): Unit = {
    val spark = rows.sparkSession
    Bucketing.writeBucketed(rows, s.table, s.keys, s.buckets)
    s.countsTable.foreach(ct => Bucketing.writeBucketed(
      keyCounts(s, spark.table(s.table)), ct, s.keys, s.buckets))
    IngestLedger.reset(spark, s.table)
  }

  /** [[write]] for a family whose meta table is the build's commit
    * marker: the meta is dropped FIRST and `commit` writes it LAST,
    * after the ledger reset — a crash anywhere inside leaves a meta-less
    * store that refuses to serve (and a reset ledger the marker covers)
    * rather than a half-written one. */
  def writeCommitted(rows: DataFrame, s: Store)(commit: => Unit): Unit = {
    rows.sparkSession.sql(s"DROP TABLE IF EXISTS `${metaTable(s.table)}`")
    write(rows, s)
    commit
  }

  /** Save a small frame (a meta row, a codebook) as a plain catalog
    * table, replacing any previous one. */
  def saveTable(df: DataFrame, table: String): Unit =
    df.write.mode("overwrite").format("parquet").saveAsTable(table)

  /** Append `rows` (store layout) at O(rows) cost — never a rewrite —
    * and land their per-key count DELTAS in the side table. The two
    * appends are independent writes with an order-free crash contract
    * ([[reconcile]] recounts the touched keys from whatever subset
    * committed), so they overlap ([[Bucketing.inParallel]]). A
    * store written before its side table existed gets it backfilled
    * once with an in-bucket rollup. `rows` is consumed twice when there
    * is a side table: hand in a persisted frame or one derived from a
    * persisted frame. */
  def append(rows: DataFrame, s: Store): Unit = s.countsTable match {
    case Some(ct) if rows.sparkSession.catalog.tableExists(ct) =>
      Bucketing.inParallel(
        Bucketing.appendBucketed(rows, s.table, s.keys, s.buckets),
        Bucketing.appendBucketed(keyCounts(s, rows), ct, s.keys, s.buckets))
    case Some(ct) =>
      Bucketing.appendBucketed(rows, s.table, s.keys, s.buckets)
      Bucketing.writeBucketed(keyCounts(s, rows.sparkSession.table(s.table)),
        ct, s.keys, s.buckets)
    case None => Bucketing.appendBucketed(rows, s.table, s.keys, s.buckets)
  }

  /** Periodic maintenance: rewrite the store to one file per bucket
    * through the fold ([[Bucketing.compact]]'s staging swap), rebuild
    * the count side table from a fresh in-bucket recount (a staged swap
    * too — a bare overwrite would strand capped readers on a missing
    * side table if it crashed), and collapse the ledger's markers below
    * the contiguous-commit watermark ([[IngestLedger.prune]] — the
    * amortized moment for it). The full-relation work is paid once per
    * MANY appends. */
  def compact(spark: SparkSession, s: Store): Unit = {
    val fold = s.replay match {
      case IdempotentSet => s.fold
      case CountDelta => foldDeltas(s, IngestLedger.danglingIntents(spark, s.table))
    }
    Bucketing.compact(spark, s.table, s.keys, s.buckets, prepare = fold)
    s.countsTable.foreach(ct => Bucketing.replaceBucketed(
      keyCounts(s, spark.table(s.table)), ct, s.keys, s.buckets))
    IngestLedger.prune(spark, s.table)
  }

  /** The [[CountDelta]] compaction fold: fold every generation to the
    * −1 sentinel except the dangling batches' rows, which pass through
    * still tagged. */
  private def foldDeltas(s: Store, dangling: Seq[Long]): DataFrame => DataFrame =
    df => {
      val cols = df.columns.toSeq.map(col)
      val folded = s.fold(
          if (dangling.isEmpty) df else df.filter(!col("batch_id").isin(dangling: _*)))
        .withColumn("batch_id", lit(-1L))
        .select(cols: _*)
      if (dangling.isEmpty) folded
      else folded.unionByName(
        df.filter(col("batch_id").isin(dangling: _*)).select(cols: _*))
    }

  /** [[compact]] behind the FILES-PER-BUCKET trigger
    * ([[Bucketing.needsCompaction]]) — the production cadence: pay the
    * O(store) rewrite exactly when the scan-side decay has accrued,
    * independent of shard sizing. Entry heals every table's swap window
    * (a stranded counts swap would otherwise persist until the store
    * itself came due) and runs the family's repair. Returns whether a
    * compaction ran. */
  def compactIfNeeded(spark: SparkSession, s: Store,
                      maxFilesPerBucket: Int): Boolean = {
    s.tables.foreach(Bucketing.recoverSwap(spark, _))
    s.recover(spark)
    val due = Bucketing.needsCompaction(spark, s.table, s.buckets,
      maxFilesPerBucket)
    if (due) compact(spark, s)
    due
  }

  /** The ledger shell. A committed batch skips its work and hands
    * `done` (its committed result) to `next`. Otherwise `fresh` does the
    * batch's pre-append work and returns its result with its append,
    * which runs after the intent marker — or, for a batch with only an
    * intent marker, `resume` returns the committed result with its
    * repair. The append (or repair) then runs CONCURRENTLY with `next`
    * on the result ([[Bucketing.inParallel]]: a failing side cancels
    * the other's jobs, and both settle before anything is rethrown), and
    * the commit marker is written only after both have succeeded — so a
    * failure in `next` leaves this batch to resume, never half-committed.
    * `next` must not depend on this batch's store rows. */
  private def ledgered[V](spark: SparkSession, s: Store, batchId: Long,
                          next: V => Unit)(done: => V)(
      resume: => (V, () => Unit))(fresh: => (V, () => Unit)): V = {
    s.tables.foreach(Bucketing.recoverSwap(spark, _))
    if (IngestLedger.applied(spark, s.table, batchId)) {
      val v = done
      next(v)
      return v
    }
    val (v, land) =
      if (IngestLedger.intended(spark, s.table, batchId)) resume
      else {
        val r = fresh
        IngestLedger.intent(spark, s.table, batchId)
        r
      }
    Bucketing.inParallel(land(), next(v))
    IngestLedger.record(spark, s.table, batchId)
    v
  }

  /** [[ledgered]] for a batch with no result to hand forward. */
  private def ledgeredAppend(spark: SparkSession, s: Store, batchId: Long)(
      resume: => Unit)(land: => Unit): Unit =
    ledgered[Unit](spark, s, batchId, _ => ())(())(((), () => resume))(
      ((), () => land))

  /** Exactly-once ingest of an [[IdempotentSet]] batch: `land` appends
    * it, and a resumed batch simply lands again. */
  def ingestSet(spark: SparkSession, s: Store, batchId: Long)(
      land: => Unit): Unit =
    ledgeredAppend(spark, s, batchId)(land)(land)

  /** Exactly-once ingest of a [[CountDelta]] batch: `delta` is the
    * batch's count rows tagged with `batchId` (evaluated after the
    * intent marker — or after the resumed batch's tagged rows are
    * dropped). */
  def ingestDeltas(spark: SparkSession, s: Store, batchId: Long)(
      delta: => DataFrame): Unit = {
    require(batchId >= 0,
      s"batchId must be >= 0 (got $batchId) — negative ids are the " +
        "base-build/compacted sentinel and a repair keyed on one would " +
        "delete the folded rows")
    def land(): Unit =
      Bucketing.appendBucketed(delta, s.table, s.keys, s.buckets)
    ledgeredAppend(spark, s, batchId) {
      Bucketing.replaceBucketed(
        spark.table(s.table).filter(col("batch_id") =!= batchId),
        s.table, s.keys, s.buckets)
      land()
    }(land())
  }

  /** Exactly-once ingest of a DEDUP batch (the first-wins families):
    * the per-doc `verdicts`, a lazy plan over the store, are eagerly
    * materialized BEFORE the append (or they would see the shard's own
    * rows) and written as the batch's `outPath` partition (dynamic
    * overwrite on `batch_id`); then the SURVIVORS' store rows,
    * `rows(keptIds)`, land. A resumed batch reuses its committed
    * verdicts — a re-run would flip surviving near-dup siblings from
    * kept to dropped — and lands only what is missing ([[reconcile]]).
    * `rows` must be materialization-safe; it is unpersisted once landed.
    *
    * Returns the batch's verdicts: the materialized frame just written
    * on a fresh batch, the committed partition (without its `batch_id`
    * column) on a skipped or resumed one — the same rows on every path.
    * Once the partition and the intent marker are written, the append
    * (or the resume's reconcile) runs concurrently with `next` on those
    * verdicts — a cascade's next stage, which needs this stage's
    * verdicts but never its store — and the commit marker is written
    * after both settle ([[ledgered]]); the call returns only then. With
    * the default no-op `next` the ingest is simply synchronous. A
    * skipped batch still reads its committed partition for the result
    * (a listing of `outPath` and a schema-inference job), also for a
    * caller that ignores it, and so fails if `outPath` has been removed. */
  def ingestVerdicts(spark: SparkSession, s: Store, batchId: Long,
                     idCol: String, outPath: String,
                     next: DataFrame => Unit = _ => ())(
      verdicts: => DataFrame)(rows: DataFrame => DataFrame): DataFrame = {
    def landing(v: DataFrame)(land: DataFrame => Unit): () => Unit = () => {
      val r = rows(v.filter(col("kept")).select(col(idCol)))
      try land(r) finally r.unpersist()
    }
    def committed = spark.read.parquet(outPath)
      .filter(col("batch_id") === batchId).drop("batch_id")
    ledgered(spark, s, batchId, next)(committed) {
      val v = committed
      (v, landing(v)(reconcile(_, idCol, s)))
    } {
      val v = verdicts.localCheckpoint(true)
      v.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(outPath)
      (v, landing(v)(append(_, s)))
    }
  }

  /** Converge the store (and its count side table) to the exact state
    * of appending `rows` once, however much of a prior attempt
    * committed, at shard-proportional cost. Without a side table: append
    * the rows whose keys the store lacks. With one: (1) anti-join on
    * `keys :+ idCol` against the store semi-filtered to the shard's
    * TOUCHED keys and append what is missing; (2) recount the touched
    * keys in-bucket against their summed deltas and append the per-key
    * DIFFERENCE (negative rows compose — readers sum deltas). Both steps
    * are idempotent, so a crash during recovery just reconciles again.
    * A store without its side table gets the one-time full backfill. */
  private def reconcile(rows: DataFrame, idCol: String, s: Store): Unit = {
    val spark = rows.sparkSession
    val keys = s.keys.map(col)
    s.counts match {
      case None => Bucketing.appendBucketed(
        rows.join(spark.table(s.table), s.keys, "left_anti"),
        s.table, s.keys, s.buckets)
      case Some(c) =>
        val ct = s.table + c.suffix
        val touched = rows.select(keys: _*).distinct()
        val joinCols = s.keys :+ idCol
        Bucketing.appendBucketed(rows.join(
            spark.table(s.table).select(joinCols.map(col): _*)
              .join(touched, s.keys, "left_semi"),
            joinCols, "left_anti"),
          s.table, s.keys, s.buckets)
        if (!spark.catalog.tableExists(ct))
          Bucketing.writeBucketed(keyCounts(s, spark.table(s.table)), ct,
            s.keys, s.buckets)
        else {
          // every touched key has this shard's rows in the store after
          // the append above, so a left join from the recount covers all
          val trueCnt = spark.table(s.table).join(touched, s.keys, "left_semi")
            .groupBy(keys: _*).agg(count(lit(1)).as("__true"))
          val have = spark.table(ct).join(touched, s.keys, "left_semi")
            .groupBy(keys: _*).agg(sum(col(c.column)).as("__have"))
          Bucketing.appendBucketed(
            trueCnt.join(have, s.keys, "left")
              .select(keys :+ (col("__true") -
                coalesce(col("__have"), lit(0L))).as(c.column): _*)
              .filter(col(c.column) =!= 0L),
            ct, s.keys, s.buckets)
        }
    }
  }

  /** The continuous form: `Trigger.AvailableNow` over `source` (with
    * `maxFilesPerTrigger = 1`, one landed file is one batch), each
    * micro-batch through `ingest` — whose ledger makes the
    * at-least-once `foreachBatch` exactly-once — then the in-loop
    * maintenance of `stores` ([[Bucketing.maintainInLoop]]), after the
    * commit marker, where a replay at worst re-compacts. A compaction
    * rewrites the whole store, so `compactEvery = 1` is a coverage
    * setting; production loops use the decay trigger. Other sessions
    * refresh the tables the loop's session clone mutated before reading. */
  def stream(source: DataFrame, checkpoint: String, compactEvery: Int,
             maxFilesPerBucket: Int, stores: Store*)(
      ingest: (DataFrame, Long) => Unit): StreamingQuery =
    source.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingest(batch, batchId)
        val spark = batch.sparkSession
        Bucketing.maintainInLoop(batchId, compactEvery, maxFilesPerBucket)(
          stores.foreach(compact(spark, _)))(
          m => stores.foreach(compactIfNeeded(spark, _, m)))
      }
      .start()
}
