package graft.ext

import graft.core.StoreLifecycle
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental corpus deduplication — the production shape of the
  * near-dup suite: a continuously-ingested corpus keeps a PERSISTED
  * MinHash signature store, and each new shard (a day's crawl, a new
  * source dump) is deduplicated against everything already ingested by
  * joining the shard's freshly-computed signatures to the store —
  * WITHOUT recomputing a single old signature. First-wins over the
  * union: store documents were ingested earlier, so a new document
  * matching any store document is the duplicate and drops; the store
  * never changes retroactively.
  *
  * Storage layout: one row per (band, doc) — `(band, band_key, id,
  * __sig)` — written as a catalog table bucketed AND sorted by
  * `(band, band_key)` ([[graft.core.Bucketing.writeBucketed]]). The
  * denormalized signature (numHashes longs, ~128 B × nBands per doc)
  * rides along so the confirm step needs no second store access. The
  * dedup join on `(band, band_key)` then reads the store's buckets IN
  * PLACE: the only Exchange in the join is the new shard's — zero
  * shuffle, zero recompute on the store side, exactly the q33 bucketed-
  * merge story applied to dedup (PlanSpec pins the store-side subtree
  * Exchange-free). At 100 TB the store is appended shard-by-shard
  * (surviving rows' bands land in the same bucket layout), so the cost
  * of deduplicating a shard is proportional to the SHARD, never to the
  * corpus.
  *
  * Intra-shard duplicates are the batch operators' job ([[MinHash]] /
  * [[ExactDedup]] / [[DupClusters]] within the shard); this operator is
  * the cross-shard piece those operators cannot express without
  * re-signing the whole corpus.
  *
  * Same integer arithmetic as [[MinHash]] end to end, so the whole
  * incremental path is oracle-checkable bit-for-bit (x34).
  *
  * Hot band keys (boilerplate collapsing many docs onto one key) grow
  * the store's per-key candidate work across appends. The batch
  * operators cap them per run (`maxBandDocs` — see
  * `MinHash.candidatePairs`); the incremental analogue implemented here
  * is a per-`(band, band_key)` doc-count SIDE TABLE
  * ([[countsTable]]) semi-filtering BOTH join sides of
  * [[dedupAgainstStore]] against keys at-or-under the cap. The side
  * table is APPEND-ONLY ([[graft.core.StoreLifecycle.Counts]]): each
  * append lands the shard's per-key count DELTAS — recomputing or
  * rewriting the counts per append would be O(corpus-keys) per shard,
  * quadratic over the ingest loop — and the totals are summed at dedup
  * time in-bucket by [[keyCountTotals]], so the cap costs one narrow
  * aggregate + filter + two bucket-aligned semi-joins over the compact
  * count relation (no signatures, no text). As in the batch
  * family, a capped key means a bounded, observable recall loss on
  * exactly the docs upstream exact dedup ([[ExactDedup]]) already
  * collapses.
  */
object IncrementalDedup {

  /** Banded signature rows `(band, band_key, id, __sig)` for a corpus —
    * the persistable store layout (and the shape a new shard computes
    * for itself before joining). Docs with no signature (fewer than
    * `shingleN` words) have nothing to collide on and are absent. */
  def bandedSignatures(docs: DataFrame, idCol: String, textCol: String,
                       shingleN: Int, numHashes: Int, nBands: Int): DataFrame = {
    val rowsPerBand = numHashes / nBands
    // No explicit null filter: `bandKeys` propagates a null signature
    // to a null array (guarded in [[MinHash.bandKeys]]) and posexplode
    // of a null array emits no rows, so signatureless docs drop for
    // free. [[MinHash.signatures]]' `filter(isNotNull)` would instead
    // be pushed below the projection and re-evaluate the signature
    // expression a second time per doc inside the Filter (the
    // pushdown-unstaging trap — PlanSpec pins one minhash_sig per side
    // here).
    MinHash.shingleHashArrays(docs, idCol, textCol, shingleN)
      .select(col(idCol),
        graft.functions.MinHashSig(col("__hh"), numHashes).as("__sig"))
      .select(col(idCol), col("__sig"),
        posexplode(MinHash.bandKeys(col("__sig"), nBands, rowsPerBand))
          .as(Seq("band", "band_key")))
      .select(col("band"), col("band_key"), col(idCol), col("__sig"))
  }

  /** Name of the per-key doc-count side table of a signature store
    * `table` — delta rows `(band, band_key, n_docs)` summed to totals at
    * read time by [[keyCountTotals]], bucket-aligned with the store, so
    * the rollup and the hot-key semi-filters run Exchange-free. */
  def countsTable(table: String): String = s"${table}_keycounts"

  /** Total per-key store doc counts from the delta side table: sum the
    * deltas per key. The deltas are bucketed by the groupBy keys, so
    * the rollup is in-bucket — no Exchange ahead of the cap's semi
    * filters, and the work is proportional to the count relation (two
    * key columns and a long), never the store. */
  def keyCountTotals(deltas: DataFrame): DataFrame =
    deltas.groupBy("band", "band_key").agg(sum("n_docs").as("n_docs"))

  /** The signature store family: bucketed by `(band, band_key)` with
    * the per-key doc-count side table ([[countsTable]]); compaction is
    * a full-row distinct — the banded layout is fully determined by the
    * doc, so it is id-exact and collapses any drift introduced OUTSIDE
    * the ledgered loop (a shard appended twice by hand). */
  private[ext] def store(table: String, buckets: Int) =
    StoreLifecycle.Store(table, Seq("band", "band_key"), buckets,
      fold = _.dropDuplicates(),
      counts = Some(StoreLifecycle.Counts("_keycounts", "n_docs")))

  /** Compute and persist the signature store for `docs` as the bucketed
    * catalog table `table` (bucketed+sorted by `(band, band_key)`),
    * plus its per-key doc-count side table ([[countsTable]]), read back
    * from the just-written store in-bucket. */
  def writeSignatureStore(docs: DataFrame, idCol: String, textCol: String,
                          shingleN: Int, numHashes: Int, nBands: Int,
                          table: String, buckets: Int): Unit =
    StoreLifecycle.write(
      bandedSignatures(docs, idCol, textCol, shingleN, numHashes, nBands),
      store(table, buckets))

  /** Append a shard's signatures into an existing store (same layout —
    * see [[graft.core.Bucketing.appendBucketed]]) and land its per-key
    * count deltas ([[graft.core.StoreLifecycle.append]]). The ingest
    * loop is write store → per new shard: [[dedupAgainstStore]] →
    * append the SURVIVORS' signatures → next shard dedups against
    * everything ingested so far. Dropped duplicates are not appended:
    * their store representative already carries the signature a future
    * match needs. */
  def appendSignatures(docs: DataFrame, idCol: String, textCol: String,
                       shingleN: Int, numHashes: Int, nBands: Int,
                       table: String, buckets: Int): Unit = {
    val banded = bandedSignatures(docs, idCol, textCol, shingleN, numHashes,
        nBands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try StoreLifecycle.append(banded, store(table, buckets))
    finally banded.unpersist()
  }

  /** Periodic store maintenance ([[graft.core.StoreLifecycle.compact]]):
    * the store back to one file per bucket (restoring the dedup join's
    * in-bucket Sort elision), full-row distinct, the count side table
    * rebuilt from a fresh in-bucket recount (the accumulated delta rows
    * collapse to one per key), ledger markers pruned. */
  def compactStore(spark: SparkSession, table: String, buckets: Int): Unit =
    StoreLifecycle.compact(spark, store(table, buckets))

  /** [[compactStore]] behind the files-per-bucket decay trigger
    * ([[graft.core.StoreLifecycle.compactIfNeeded]]). Returns whether a
    * compaction ran. */
  def compactStoreIfNeeded(spark: SparkSession, table: String, buckets: Int,
                           maxFilesPerBucket: Int): Boolean =
    StoreLifecycle.compactIfNeeded(spark, store(table, buckets),
      maxFilesPerBucket)

  /** The continuous-ingest form of the ingest loop: each micro-batch is
    * a shard through [[ingestBatch]] — dedup it against the signature
    * store, write its verdicts, append the SURVIVORS' signatures, so the
    * next micro-batch dedups against everything ingested so far — with
    * in-loop maintenance per [[graft.core.StoreLifecycle.stream]].
    *
    * Upgrade note (pre-two-phase ledgers): before resuming a loop whose
    * previous run predates the ledger's INTENT markers and crashed
    * mid-append, run [[compactStore]] once — its full-row distinct and
    * recount collapse the old crash's duplicate rows, after which the
    * replay is safe ([[graft.core.IngestLedger]]'s upgrade note). */
  def streamIngest(newDocs: DataFrame, idCol: String, textCol: String,
                   shingleN: Int, numHashes: Int, nBands: Int,
                   table: String, buckets: Int, minJaccard: Double,
                   outPath: String, checkpoint: String,
                   maxBandDocs: Int = 0, compactEvery: Int = 0,
                   maxFilesPerBucket: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StoreLifecycle.stream(newDocs, checkpoint, compactEvery,
        maxFilesPerBucket, store(table, buckets))(
      ingestBatch(_, _, idCol, textCol, shingleN, numHashes, nBands, table,
        buckets, minJaccard, outPath, maxBandDocs))

  /** One micro-batch of [[streamIngest]] — also the non-streaming entry
    * point for callers driving the ingest loop themselves (one call per
    * shard with a caller-chosen batch id): dedup the batch against the
    * store, write its verdict partition, append the survivors'
    * signatures, exactly-once under the store's ledger
    * ([[graft.core.StoreLifecycle.ingestVerdicts]] — a batch that
    * crashed mid-append reconciles store and counts exactly;
    * IngestRecoverySpec drives every crash point). The shard is signed ONCE: the persisted banded
    * rows feed both the dedup join and the survivors' append (re-signing
    * the survivors would double the loop's only corpus-proportional
    * compute). Returns the batch's verdicts; `next` runs on them while
    * the signatures append. */
  def ingestBatch(batch: DataFrame, batchId: Long,
                  idCol: String, textCol: String,
                  shingleN: Int, numHashes: Int, nBands: Int,
                  table: String, buckets: Int,
                  minJaccard: Double, outPath: String,
                  maxBandDocs: Int = 0,
                  next: DataFrame => Unit = _ => ()): DataFrame = {
    val spark = batch.sparkSession
    val banded = bandedSignatures(batch, idCol, textCol,
        shingleN, numHashes, nBands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try StoreLifecycle.ingestVerdicts(spark, store(table, buckets), batchId,
        idCol, outPath, next)(
      dedupBanded(batch.select(col(idCol)), banded, idCol, numHashes,
        spark.table(table), minJaccard, maxBandDocs,
        if (maxBandDocs > 0) Some(spark.table(countsTable(table))) else None))(
      kept => banded.join(kept, Seq(idCol)))
    finally banded.unpersist()
  }

  /** Deduplicate a NEW shard against a persisted signature `store`
    * (written with the SAME `shingleN`/`numHashes`/`nBands`): candidate
    * pairs come from the `(band, band_key)` equi-join (store side read
    * bucketed, merge-hinted so a test-scale shard cannot broadcast
    * around the layout); a pair is a duplicate when
    * `n_match/numHashes ≥ minJaccard`, compared in exact integers.
    * Returns `(id, kept, n_store_matches, dup_of)` per shard doc,
    * `dup_of` the smallest matching store id (null when kept).
    *
    * `maxBandDocs > 0` engages the hot-key cap: band keys carrying MORE
    * than that many STORE docs (per `keyCounts` — the [[countsTable]]
    * side table, required when the cap is on) are excluded from
    * candidate generation on BOTH join sides. A hot key (boilerplate)
    * otherwise contributes store-side candidate work quadratic in its
    * ever-growing count on every future shard — see [[MinHash.candidatePairs]]
    * for the batch-side rationale. Both semi-joins are bucket-aligned
    * (counts and store share the bucket layout), so the store side
    * stays Exchange-free with the cap engaged (PlanSpec pins this).
    * 0 (the default) disables the cap. */
  def dedupAgainstStore(newDocs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int, numHashes: Int, nBands: Int,
                        store: DataFrame, minJaccard: Double,
                        maxBandDocs: Int = 0,
                        keyCounts: Option[DataFrame] = None): DataFrame =
    dedupBanded(newDocs.select(col(idCol)),
      bandedSignatures(newDocs, idCol, textCol, shingleN, numHashes, nBands),
      idCol, numHashes, store, minJaccard, maxBandDocs, keyCounts)

  /** [[dedupAgainstStore]] over ALREADY-BANDED shard rows — the shared
    * core that lets [[ingestBatch]] sign a shard ONCE and feed the same
    * banded relation to both the dedup join and the survivors' append.
    * `newIds` is the shard's full id set (one column, `idCol`): docs
    * with no signature have no banded rows but still need a verdict
    * row (kept, 0 matches). */
  private def dedupBanded(newIds: DataFrame, shard0: DataFrame,
                          idCol: String, numHashes: Int,
                          store: DataFrame, minJaccard: Double,
                          maxBandDocs: Int,
                          keyCounts: Option[DataFrame]): DataFrame = {
    require(maxBandDocs == 0 || keyCounts.nonEmpty,
      "maxBandDocs > 0 requires keyCounts (the store's countsTable)")
    val minMatches = math.ceil(minJaccard * numHashes).toInt
    val keys = Seq("band", "band_key")
    val (shard, storeSide) =
      if (maxBandDocs > 0) {
        // totals from the append-only delta rows, summed in-bucket
        val ok = keyCountTotals(keyCounts.get)
          .filter(col("n_docs") <= maxBandDocs)
          .select("band", "band_key")
        (shard0.join(ok.hint("merge"), keys, "left_semi"),
          store.join(ok.hint("merge"), keys, "left_semi"))
      } else (shard0, store)
    // several bands can agree for one (new, store) pair: collapse to the
    // pair grain first (n_match is pair-constant, max() just picks it),
    // then roll up per new doc — two doc-keyed aggregates over the
    // candidate set, which is collision-sized, not corpus-sized
    val pairs = shard.as("n")
      .join(storeSide.as("s").hint("merge"), Seq("band", "band_key"))
      .filter(col(s"n.$idCol") =!= col(s"s.$idCol"))
      .select(col(s"n.$idCol").as("new_id"), col(s"s.$idCol").as("store_id"),
        MinHash.sigAgreement(col("n.__sig"), col("s.__sig")).as("n_match"))
      .groupBy("new_id", "store_id")
      .agg(max("n_match").as("n_match"))
      .filter(col("n_match") >= minMatches)
    val perDoc = pairs.groupBy(col("new_id").as(idCol))
      .agg(count(lit(1)).as("n_store_matches"), min("store_id").as("dup_of"))
    newIds
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        col("dup_of").isNull.as("kept"),
        coalesce(col("n_store_matches"), lit(0L)).as("n_store_matches"),
        col("dup_of"))
  }
}
