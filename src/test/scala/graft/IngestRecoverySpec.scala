package graft

import graft.core.{Bucketing, IngestLedger}
import graft.ext.{IncrementalDedup, VectorStore}
import org.apache.spark.sql.functions._

/** Crash-recovery semantics of the two-phase ingest ledger
  * ([[graft.core.IngestLedger]] + [[graft.core.StoreLifecycle]]): every
  * crash point of `ingestBatch`'s append phase is simulated and the
  * replay must converge verdicts, store, and counts to the EXACT
  * single-append state. The simulations drive the same public surface
  * the ingest loops use; the one white-box touch is deleting a commit
  * marker file to model "crashed after the append, before the record".
  */
class IngestRecoverySpec extends SparkSpec {

  private val store = df(Seq(
    (1L, "a calm baseline document with entirely unrelated words inside"),
    (2L, "completely different content about spark engines and parquet files")))
    .toDF("doc_id", "text")

  // 30/31 are near-dups OF EACH OTHER (15/16 signature match) but of
  // nothing in the store: both survive attempt 1, both append — the
  // sibling pair that makes a naive replay flip
  private val shard = df(Seq(
    (30L, "the quick brown fox jumps over the lazy dog"),
    (31L, "the quick brown fox jumps over the lazy dog again"),
    (32L, "fresh material sharing nothing with the ingested corpus")))
    .toDF("doc_id", "text")

  /** Delete batch `id`'s COMMIT marker, leaving its intent marker: the
    * on-disk state of a crash after the append, before the record. */
  private def crashBeforeCommit(table: String, id: Long): Unit = {
    val m = new org.apache.hadoop.fs.Path(
      IngestLedger.ledgerDir(spark, table), s"batch-$id")
    assert(m.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(m, false), s"no commit marker to delete for batch $id")
  }

  private def sigTotals(table: String): Map[(Int, String), Long] =
    IncrementalDedup.keyCountTotals(
        spark.table(IncrementalDedup.countsTable(table)))
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap

  private def sigRecount(table: String): Map[(Int, String), Long] =
    spark.table(table).groupBy("band", "band_key").count()
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap

  private def verdicts(out: String): Set[(Long, Boolean, Long, Long)] =
    spark.read.parquet(out)
      .select("doc_id", "kept", "n_store_matches", "dup_of").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet

  test("replay after crash-before-commit: verdicts preserved, store and counts exact (signature store)") {
    val root = graft.util.Staging.exitScopedRoot("graft-rec-sig-")
    IncrementalDedup.writeSignatureStore(store, "doc_id", "text", 3, 16, 4,
      "rec_sig_store", 4)
    IncrementalDedup.ingestBatch(shard, 0L, "doc_id", "text", 3, 16, 4,
      "rec_sig_store", 4, 0.5, s"$root/out")
    val v1 = verdicts(s"$root/out")
    // the sibling pair survived attempt 1 (no store match)
    assert(v1.contains((30L, true, 0L, -1L)) && v1.contains((31L, true, 0L, -1L)))
    val rows1 = spark.table("rec_sig_store")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    // the hazard is real: a naive re-run of the dedup against the
    // post-append store WOULD flip the siblings (each matches the
    // other's appended row) — the reconcile path must not take it
    val naive = IncrementalDedup.dedupAgainstStore(shard, "doc_id", "text",
        3, 16, 4, spark.table("rec_sig_store"), 0.5)
      .filter(col("doc_id").isin(30L, 31L) && !col("kept")).count()
    assert(naive == 2L, "fixture must make the naive replay flip both siblings")
    crashBeforeCommit("rec_sig_store", 0L)
    IncrementalDedup.ingestBatch(shard, 0L, "doc_id", "text", 3, 16, 4,
      "rec_sig_store", 4, 0.5, s"$root/out")
    // verdicts DID NOT FLIP: a naive replay would re-run the dedup
    // against a store already holding 30/31's rows, and each sibling
    // would match the other's store row and drop
    assert(verdicts(s"$root/out") == v1)
    // store content identical — the reconcile appended nothing
    assert(spark.table("rec_sig_store")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq == rows1)
    // count totals exactly match a fresh recount of the store
    assert(sigTotals("rec_sig_store") == sigRecount("rec_sig_store"))
    assert(IngestLedger.applied(spark, "rec_sig_store", 0L))
  }

  test("replay after crash between store append and count-delta append repairs counts exactly") {
    val root = graft.util.Staging.exitScopedRoot("graft-rec-mid-")
    IncrementalDedup.writeSignatureStore(store, "doc_id", "text", 3, 16, 4,
      "rec_mid_store", 4)
    // attempt 1 by hand, stopping INSIDE the append: verdicts committed,
    // intent recorded, store rows appended — count deltas never landed
    val v = IncrementalDedup.dedupAgainstStore(shard, "doc_id", "text",
        3, 16, 4, spark.table("rec_mid_store"), 0.5)
      .localCheckpoint(true)
    v.withColumn("batch_id", lit(0L))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(s"$root/out")
    IngestLedger.intent(spark, "rec_mid_store", 0L)
    val survivors = shard.join(v.filter(col("kept")).select("doc_id"), "doc_id")
    Bucketing.appendBucketed(
      IncrementalDedup.bandedSignatures(survivors, "doc_id", "text", 3, 16, 4),
      "rec_mid_store", Seq("band", "band_key"), 4)
    val v1 = verdicts(s"$root/out")
    assert(sigTotals("rec_mid_store") != sigRecount("rec_mid_store"),
      "fixture must model a genuine count/store divergence")
    // the replay reconciles: corrective deltas close the gap exactly,
    // no store row duplicates, verdicts untouched
    IncrementalDedup.ingestBatch(shard, 0L, "doc_id", "text", 3, 16, 4,
      "rec_mid_store", 4, 0.5, s"$root/out")
    assert(sigTotals("rec_mid_store") == sigRecount("rec_mid_store"))
    assert(spark.table("rec_mid_store")
      .groupBy("band", "band_key", "doc_id").count()
      .filter(col("count") > 1).count() == 0)
    assert(verdicts(s"$root/out") == v1)
    assert(IngestLedger.applied(spark, "rec_mid_store", 0L))
  }

  test("a second crash during recovery reconciles again (idempotent replay-of-replay)") {
    val root = graft.util.Staging.exitScopedRoot("graft-rec-twice-")
    IncrementalDedup.writeSignatureStore(store, "doc_id", "text", 3, 16, 4,
      "rec_twice_store", 4)
    IncrementalDedup.ingestBatch(shard, 0L, "doc_id", "text", 3, 16, 4,
      "rec_twice_store", 4, 0.5, s"$root/out")
    val v1 = verdicts(s"$root/out")
    crashBeforeCommit("rec_twice_store", 0L)
    IncrementalDedup.ingestBatch(shard, 0L, "doc_id", "text", 3, 16, 4,
      "rec_twice_store", 4, 0.5, s"$root/out")
    crashBeforeCommit("rec_twice_store", 0L)
    IncrementalDedup.ingestBatch(shard, 0L, "doc_id", "text", 3, 16, 4,
      "rec_twice_store", 4, 0.5, s"$root/out")
    assert(verdicts(s"$root/out") == v1)
    assert(sigTotals("rec_twice_store") == sigRecount("rec_twice_store"))
    assert(spark.table("rec_twice_store")
      .groupBy("band", "band_key", "doc_id").count()
      .filter(col("count") > 1).count() == 0)
  }

  test("vector store: replay after crash-before-commit preserves sibling-twin verdicts and converges counts") {
    val root = graft.util.Staging.exitScopedRoot("graft-rec-vec-")
    def vdf(rows: Seq[(Long, Seq[Float])]) = {
      val s = spark; import s.implicits._
      rows.toDF("vec_id", "embedding")
    }
    val a = Seq(1f, 0f, 0f, 0f)
    val c = Seq(0f, 0f, 1f, 0f)
    VectorStore.writeVectorStore(vdf(Seq((1L, a))), "vec_id", "embedding",
      nCentroids = 4, dim = 4, seedOffset = 7L,
      table = "rec_vec_store", buckets = 4)
    // 10 and 11 are twins of each other with no store match: both keep
    // on attempt 1 — the naive replay would flip both
    VectorStore.ingestBatch(vdf(Seq((10L, c), (11L, c))), 0L,
      "vec_id", "embedding", "rec_vec_store", 4, minCosine = 0.9,
      nCentroids = 4, nProbe = 4, dim = 4, seedOffset = 7L,
      outPath = s"$root/out")
    def vVerdicts = spark.read.parquet(s"$root/out")
      .select("vec_id", "kept").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(vVerdicts == Map(10L -> true, 11L -> true))
    val rows1 = spark.table("rec_vec_store")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    crashBeforeCommit("rec_vec_store", 0L)
    VectorStore.ingestBatch(vdf(Seq((10L, c), (11L, c))), 0L,
      "vec_id", "embedding", "rec_vec_store", 4, minCosine = 0.9,
      nCentroids = 4, nProbe = 4, dim = 4, seedOffset = 7L,
      outPath = s"$root/out")
    assert(vVerdicts == Map(10L -> true, 11L -> true))
    assert(spark.table("rec_vec_store")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq == rows1)
    val totals = VectorStore.cellCountTotals(
        spark.table(VectorStore.countsTable("rec_vec_store")))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val recount = spark.table("rec_vec_store").groupBy("cell").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(totals == recount)
    assert(IngestLedger.applied(spark, "rec_vec_store", 0L))
  }

  test("crash after intent but before ANY append: the reconcile performs the full append") {
    val root = graft.util.Staging.exitScopedRoot("graft-rec-early-")
    IncrementalDedup.writeSignatureStore(store, "doc_id", "text", 3, 16, 4,
      "rec_early_store", 4)
    // attempt 1 crashed immediately after writing the intent marker:
    // verdicts committed, nothing appended
    val v = IncrementalDedup.dedupAgainstStore(shard, "doc_id", "text",
        3, 16, 4, spark.table("rec_early_store"), 0.5)
      .localCheckpoint(true)
    v.withColumn("batch_id", lit(0L))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(s"$root/out")
    IngestLedger.intent(spark, "rec_early_store", 0L)
    val v1 = verdicts(s"$root/out")
    val preStore = spark.table("rec_early_store").count()
    // replay: the reconcile path must append the FULL survivor set and
    // land its count deltas from a recount that sees those fresh rows
    IncrementalDedup.ingestBatch(shard, 0L, "doc_id", "text", 3, 16, 4,
      "rec_early_store", 4, 0.5, s"$root/out")
    assert(spark.table("rec_early_store").count() > preStore,
      "reconcile appended nothing — survivors lost")
    // store state identical to a normal-path run on a twin store
    IncrementalDedup.writeSignatureStore(store, "doc_id", "text", 3, 16, 4,
      "rec_early_twin", 4)
    IncrementalDedup.ingestBatch(shard, 0L, "doc_id", "text", 3, 16, 4,
      "rec_early_twin", 4, 0.5, s"$root/outT")
    assert(spark.table("rec_early_store").orderBy("band", "band_key", "doc_id")
        .collect().map(_.toSeq).toSeq ==
      spark.table("rec_early_twin").orderBy("band", "band_key", "doc_id")
        .collect().map(_.toSeq).toSeq)
    assert(verdicts(s"$root/out") == v1)
    assert(sigTotals("rec_early_store") == sigRecount("rec_early_store"))
    assert(IngestLedger.applied(spark, "rec_early_store", 0L))
  }

  test("reconcile backfills a legacy store that predates the counts side table") {
    val root = graft.util.Staging.exitScopedRoot("graft-rec-legacy-")
    IncrementalDedup.writeSignatureStore(store, "doc_id", "text", 3, 16, 4,
      "rec_legacy_store", 4)
    // a store written before the side table existed
    spark.sql(s"DROP TABLE `${IncrementalDedup.countsTable("rec_legacy_store")}`")
    // attempt 1 by hand up to a mid-append crash (store rows landed)
    val v = IncrementalDedup.dedupAgainstStore(shard, "doc_id", "text",
        3, 16, 4, spark.table("rec_legacy_store"), 0.5)
      .localCheckpoint(true)
    v.withColumn("batch_id", lit(0L))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(s"$root/out")
    IngestLedger.intent(spark, "rec_legacy_store", 0L)
    Bucketing.appendBucketed(
      IncrementalDedup.bandedSignatures(
        shard.join(v.filter(col("kept")).select("doc_id"), "doc_id"),
        "doc_id", "text", 3, 16, 4),
      "rec_legacy_store", Seq("band", "band_key"), 4)
    IncrementalDedup.ingestBatch(shard, 0L, "doc_id", "text", 3, 16, 4,
      "rec_legacy_store", 4, 0.5, s"$root/out")
    // the side table exists now and matches a fresh recount exactly
    assert(spark.catalog.tableExists(
      IncrementalDedup.countsTable("rec_legacy_store")))
    assert(sigTotals("rec_legacy_store") == sigRecount("rec_legacy_store"))
    assert(IngestLedger.applied(spark, "rec_legacy_store", 0L))
  }

  test("compaction swap stranded between DROP and RENAME: the next ingest entry heals it and the loop converges") {
    val root = graft.util.Staging.exitScopedRoot("graft-rec-swap-")
    IncrementalDedup.writeSignatureStore(store, "doc_id", "text", 3, 16, 4,
      "rec_swap_store", 4)
    IncrementalDedup.ingestBatch(shard, 0L, "doc_id", "text", 3, 16, 4,
      "rec_swap_store", 4, 0.5, s"$root/out")
    val v1 = verdicts(s"$root/out")
    // strand a compaction mid-swap by hand: staging written, original
    // dropped, rename never ran
    Bucketing.writeBucketed(
      spark.table("rec_swap_store")
        .repartition(4, col("band"), col("band_key")),
      "rec_swap_store__compact", Seq("band", "band_key"), 4)
    spark.sql("DROP TABLE `rec_swap_store`")
    assert(!spark.catalog.tableExists("rec_swap_store"))
    // the loop's next batch re-enters: entry recovery completes the
    // rename, then the batch ingests normally against the intact store
    val shardB = df(Seq(
      (40L, "the quick brown fox jumps over the lazy dog"), // dup of 30
      (41L, "entirely novel material appearing for the first time here")))
      .toDF("doc_id", "text")
    IncrementalDedup.ingestBatch(shardB, 1L, "doc_id", "text", 3, 16, 4,
      "rec_swap_store", 4, 0.5, s"$root/out")
    assert(spark.catalog.tableExists("rec_swap_store"))
    assert(!spark.catalog.tableExists("rec_swap_store__compact"))
    val v2 = verdicts(s"$root/out")
    assert(v2.filter(_._1 < 40L) == v1, "batch-0 verdicts must be untouched")
    assert(v2.contains((40L, false, 2L, 30L)), // matches both siblings 30/31
      s"40 must match 30 via the recovered store: $v2")
    assert(v2.contains((41L, true, 0L, -1L)))
    // and a full compact afterwards leaves counts exactly consistent
    IncrementalDedup.compactStore(spark, "rec_swap_store", 4)
    assert(sigTotals("rec_swap_store") == sigRecount("rec_swap_store"))
  }

  test("counts-table swap stranded mid-compaction: the capped dedup path heals it at entry") {
    val root = graft.util.Staging.exitScopedRoot("graft-rec-cswap-")
    IncrementalDedup.writeSignatureStore(store, "doc_id", "text", 3, 16, 4,
      "rec_cswap_store", 4)
    val ct = IncrementalDedup.countsTable("rec_cswap_store")
    // strand the COUNTS rewrite mid-swap (the compactStore counts leg)
    Bucketing.writeBucketed(
      spark.table(ct).repartition(4, col("band"), col("band_key")),
      s"${ct}__compact", Seq("band", "band_key"), 4)
    spark.sql(s"DROP TABLE `$ct`")
    assert(!spark.catalog.tableExists(ct))
    // a capped batch reads the counts table at entry — recovery must
    // complete the swap before the read, not fail on a missing table
    IncrementalDedup.ingestBatch(shard, 0L, "doc_id", "text", 3, 16, 4,
      "rec_cswap_store", 4, 0.5, s"$root/out", maxBandDocs = 100)
    assert(spark.catalog.tableExists(ct))
    assert(verdicts(s"$root/out").contains((32L, true, 0L, -1L)))
    assert(sigTotals("rec_cswap_store") == sigRecount("rec_cswap_store"))
  }

  test("reconcile composes NEGATIVE corrective deltas for an over-counted touched key") {
    val root = graft.util.Staging.exitScopedRoot("graft-rec-neg-")
    IncrementalDedup.writeSignatureStore(store, "doc_id", "text", 3, 16, 4,
      "rec_neg_store", 4)
    // attempt 1 ran to completion EXCEPT the commit marker (crash after
    // both appends) — store and counts are fully consistent
    IncrementalDedup.ingestBatch(shard, 0L, "doc_id", "text", 3, 16, 4,
      "rec_neg_store", 4, 0.5, s"$root/out")
    val v1 = verdicts(s"$root/out")
    crashBeforeCommit("rec_neg_store", 0L)
    // and some earlier drift OVER-counted one of the shard's touched
    // keys (a hand-doubled delta row — the over-count shape the ledger
    // itself can no longer produce, but Reconcile guarantees against)
    val touched = IncrementalDedup.bandedSignatures(shard, "doc_id", "text",
        3, 16, 4)
      .select("band", "band_key").limit(1).collect().head
    val bogus = df(Seq((touched.getInt(0), touched.getString(1), 5L)))
      .toDF("band", "band_key", "n_docs")
    Bucketing.appendBucketed(bogus,
      IncrementalDedup.countsTable("rec_neg_store"), Seq("band", "band_key"), 4)
    assert(sigTotals("rec_neg_store") != sigRecount("rec_neg_store"))
    // the replay's reconcile must land a NEGATIVE corrective delta for
    // exactly that key and converge totals to the true recount
    IncrementalDedup.ingestBatch(shard, 0L, "doc_id", "text", 3, 16, 4,
      "rec_neg_store", 4, 0.5, s"$root/out")
    assert(sigTotals("rec_neg_store") == sigRecount("rec_neg_store"))
    val negatives = spark.table(IncrementalDedup.countsTable("rec_neg_store"))
      .filter(col("n_docs") < 0)
      .select("band", "band_key", "n_docs").collect()
    assert(negatives.map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((touched.getInt(0), touched.getString(1), -5L)),
      s"expected one -5 corrective row for the inflated key, got ${negatives.toSeq}")
    assert(verdicts(s"$root/out") == v1)
  }

  test("ledger prune collapses contiguous markers into the watermark; replay-skip works on both sides") {
    val t = "rec_prune_probe"
    IngestLedger.reset(spark, t)
    for (id <- 0L to 2L) {
      IngestLedger.intent(spark, t, id); IngestLedger.record(spark, t, id)
    }
    val dir = IngestLedger.ledgerDir(spark, t)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.listStatus(dir).length == 6) // 3 intents + 3 commits
    IngestLedger.prune(spark, t)
    assert(fs.listStatus(dir).length == 1, "expected only the watermark file")
    assert(IngestLedger.watermark(spark, t) == 2L)
    assert((0L to 2L).forall(IngestLedger.applied(spark, t, _))) // pre-watermark skip
    assert(!IngestLedger.applied(spark, t, 3L))
    // a HOLE at 3: batch 4 commits first — prune must NOT advance past 3
    IngestLedger.intent(spark, t, 4L); IngestLedger.record(spark, t, 4L)
    IngestLedger.prune(spark, t)
    assert(IngestLedger.watermark(spark, t) == 2L)
    assert(IngestLedger.applied(spark, t, 4L)) // post-watermark skip via marker
    assert(!IngestLedger.applied(spark, t, 3L),
      "an uncommitted batch must never be masked as applied")
    // the hole commits → the next prune absorbs both into the watermark
    IngestLedger.intent(spark, t, 3L); IngestLedger.record(spark, t, 3L)
    IngestLedger.prune(spark, t)
    assert(IngestLedger.watermark(spark, t) == 4L)
    assert(fs.listStatus(dir).length == 1)
    assert((0L to 4L).forall(IngestLedger.applied(spark, t, _)))
    IngestLedger.reset(spark, t)
    assert(!IngestLedger.applied(spark, t, 0L)) // reset clears the watermark too
  }

  test("trained store: replay after crash-before-commit preserves twin verdicts via the persisted codebook") {
    val root = graft.util.Staging.exitScopedRoot("graft-rec-vtr-")
    def vdf(rows: Seq[(Long, Seq[Float])]) = {
      val s = spark; import s.implicits._
      rows.toDF("vec_id", "embedding")
    }
    val a = Seq(1f, 0f, 0f, 0f)
    val b = Seq(0f, 1f, 0f, 0f)
    val c = Seq(0f, 0f, 1f, 0f)
    val seed = vdf(Seq((1L, a), (2L, c)))
    val codebook = graft.ext.KMeans.fit(seed, "vec_id", "embedding",
      k = 2, rounds = 2)
    VectorStore.writeVectorStoreTrained(seed, "vec_id", "embedding",
      codebook, table = "rec_vtr_store", buckets = 4)
    // 10/11 are twins of each other (vector b, absent from the store):
    // both keep on attempt 1 — the replay must not let them flip
    VectorStore.ingestBatchTrained(vdf(Seq((10L, b), (11L, b))), 0L,
      "vec_id", "embedding", "rec_vtr_store", 4, minCosine = 0.9,
      nProbe = 2, outPath = s"$root/out")
    def vVerdicts = spark.read.parquet(s"$root/out")
      .select("vec_id", "kept").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(vVerdicts == Map(10L -> true, 11L -> true))
    val rows1 = spark.table("rec_vtr_store")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    crashBeforeCommit("rec_vtr_store", 0L)
    VectorStore.ingestBatchTrained(vdf(Seq((10L, b), (11L, b))), 0L,
      "vec_id", "embedding", "rec_vtr_store", 4, minCosine = 0.9,
      nProbe = 2, outPath = s"$root/out")
    assert(vVerdicts == Map(10L -> true, 11L -> true))
    assert(spark.table("rec_vtr_store")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq == rows1)
    val totals = VectorStore.cellCountTotals(
        spark.table(VectorStore.countsTable("rec_vtr_store")))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val recount = spark.table("rec_vtr_store").groupBy("cell").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(totals == recount)
    assert(IngestLedger.applied(spark, "rec_vtr_store", 0L))
  }

  test("exact-fingerprint store: replay after crash-before-commit preserves twin verdicts, store converges") {
    val root = graft.util.Staging.exitScopedRoot("graft-rec-exd-")
    val tbl = "rec_exd_store"
    graft.ext.ExactDedup.writeFingerprintStore(store, "doc_id", "text", tbl, 4)
    // 40/41 are exact twins OF EACH OTHER, absent from the store: both
    // keep on attempt 1 (verdicts are vs the store only) and their fp
    // appends ONCE (min id 40). A naive replay that re-ran the dedup
    // would see that appended fp and flip both to dropped.
    val shard = df(Seq(
      (40L, "twin payload arriving twice in one exact shard"),
      (41L, "twin payload arriving twice in one exact shard"),
      (42L, "a calm baseline document with entirely unrelated words inside")))
      .toDF("doc_id", "text")
    graft.ext.ExactDedup.ingestBatch(shard, 0L, "doc_id", "text", tbl, 4,
      s"$root/out")
    def vx = spark.read.parquet(s"$root/out")
      .select("doc_id", "kept", "dup_of").collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    val expected = Set((40L, true, -1L), (41L, true, -1L), (42L, false, 1L))
    assert(vx == expected)
    val rows1 = spark.table(tbl).collect().map(_.toSeq).sortBy(_.toString).toSeq
    crashBeforeCommit(tbl, 0L)
    graft.ext.ExactDedup.ingestBatch(shard, 0L, "doc_id", "text", tbl, 4,
      s"$root/out")
    assert(vx == expected, "twin verdicts must not flip on replay")
    assert(spark.table(tbl).collect().map(_.toSeq).sortBy(_.toString).toSeq
      == rows1, "replayed append must not duplicate fingerprint rows")
    assert(IngestLedger.applied(spark, tbl, 0L))
    // and a fully-committed batch replays as a no-op skip
    graft.ext.ExactDedup.ingestBatch(shard, 0L, "doc_id", "text", tbl, 4,
      s"$root/out")
    assert(vx == expected)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("each dedup family's ingestBatch returns its committed verdict partition: fresh, skipped and resumed") {
    val root = graft.util.Staging.exitScopedRoot("graft-rec-ret-")
    def rows(v: org.apache.spark.sql.DataFrame) =
      (v.columns.toSeq, v.collect().map(_.toSeq).sortBy(_.toString).toSeq)
    // the three ledger paths of one batch: fresh, a committed skip, and
    // a resume after a crash before the commit marker
    def everyPath(table: String, out: String)(
        ingest: => org.apache.spark.sql.DataFrame): Unit = {
      def committed = rows(spark.read.parquet(out)
        .filter(col("batch_id") === 0L).drop("batch_id"))
      assert(rows(ingest) == committed, s"$table fresh")
      assert(rows(ingest) == committed, s"$table skipped")
      crashBeforeCommit(table, 0L)
      assert(rows(ingest) == committed, s"$table resumed")
      assert(IngestLedger.applied(spark, table, 0L))
    }
    try {
      graft.ext.ExactDedup.writeFingerprintStore(store, "doc_id", "text",
        "rec_ret_fp", 4)
      everyPath("rec_ret_fp", s"$root/fp")(graft.ext.ExactDedup.ingestBatch(
        shard, 0L, "doc_id", "text", "rec_ret_fp", 4, s"$root/fp"))
      IncrementalDedup.writeSignatureStore(store, "doc_id", "text", 3, 16, 4,
        "rec_ret_sig", 4)
      everyPath("rec_ret_sig", s"$root/sig")(IncrementalDedup.ingestBatch(
        shard, 0L, "doc_id", "text", 3, 16, 4, "rec_ret_sig", 4, 0.5,
        s"$root/sig"))
      val s = spark; import s.implicits._
      VectorStore.writeVectorStore(Seq((1L, Seq(1f, 0f, 0f, 0f))).toDF("vec_id",
          "embedding"), "vec_id", "embedding", nCentroids = 4, dim = 4,
        seedOffset = 7L, table = "rec_ret_vec", buckets = 4)
      val vecs = Seq((10L, Seq(0f, 0f, 1f, 0f)), (11L, Seq(0.99f, 0.1f, 0f, 0f)))
        .toDF("vec_id", "embedding")
      everyPath("rec_ret_vec", s"$root/vec")(VectorStore.ingestBatch(vecs, 0L,
        "vec_id", "embedding", "rec_ret_vec", 4, minCosine = 0.9,
        nCentroids = 4, nProbe = 4, dim = 4, seedOffset = 7L,
        outPath = s"$root/vec"))
    } finally Seq("rec_ret_fp", "rec_ret_sig", "rec_ret_vec").foreach { t =>
      Seq(t, IncrementalDedup.countsTable(t), VectorStore.countsTable(t))
        .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
      IngestLedger.reset(spark, t)
    }
  }

  test("recluster crash between codebook write and assignment rewrite: the resumed trained loop repairs first") {
    val root = graft.util.Staging.exitScopedRoot("graft-rec-recl-")
    def vdf(rows: Seq[(Long, Seq[Float])]) = {
      val s = spark; import s.implicits._
      rows.toDF("vec_id", "embedding")
    }
    val seed = vdf(Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(0f, 0f, 1f, 0f)),
      (3L, Seq(0f, 1f, 0f, 0f))))
    val tbl = "rec_recl_store"
    VectorStore.writeVectorStore(seed, "vec_id", "embedding",
      nCentroids = 8, dim = 4, seedOffset = 100000L, table = tbl, buckets = 4)
    // replay the crashed recluster PREFIX by hand: intent marker written,
    // new codebook persisted — killed before the assignment rewrite. The
    // store's rows still carry LCG cells; the codebook describes k-means
    // cells they were never assigned with.
    val marker = new org.apache.hadoop.fs.Path(
      IngestLedger.ledgerDir(spark, tbl), "recluster.intent")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(marker.getParent)
    val out = fs.create(marker, true)
    try out.write("4\tvec_id\tembedding\t2\t2".getBytes("UTF-8"))
    finally out.close()
    graft.ext.KMeans.fit(spark.table(tbl).select("vec_id", "embedding"),
        "vec_id", "embedding", k = 2, rounds = 2)
      .write.mode("overwrite").format("parquet")
      .saveAsTable(VectorStore.codebookTable(tbl))
    assert(VectorStore.reclusterPending(spark, tbl))
    // the LCG entry point must REFUSE while the pass is pending — an
    // LCG-probing batch against a store mid-conversion to trained cells
    // would silently miss duplicates
    val refused = intercept[IllegalArgumentException] {
      VectorStore.ingestBatch(vdf(Seq((99L, Seq(0f, 1f, 0f, 0f)))), 99L,
        "vec_id", "embedding", tbl, 4, minCosine = 0.9,
        nCentroids = 8, nProbe = 1, dim = 4, seedOffset = 100000L,
        outPath = s"$root/refused")
    }
    assert(refused.getMessage.contains("recluster"))
    assert(VectorStore.reclusterPending(spark, tbl)) // refusal repairs nothing
    // resume the trained loop with a twin of store vector 3: batch entry
    // must complete the recluster (deterministic re-run) BEFORE probing,
    // so the duplicate is found instead of silently kept
    VectorStore.ingestBatchTrained(vdf(Seq((10L, Seq(0f, 1f, 0f, 0f)))), 0L,
      "vec_id", "embedding", tbl, 4, minCosine = 0.9,
      nProbe = 1, outPath = s"$root/out")
    assert(!VectorStore.reclusterPending(spark, tbl))
    val v = spark.read.parquet(s"$root/out")
      .select("vec_id", "kept", "dup_of").collect().head
    assert(v.getLong(0) == 10L && !v.getBoolean(1) && v.getLong(2) == 3L,
      s"twin of store vector 3 must be dropped after the repair, got $v")
    // the repaired store's assignments are consistent with the persisted
    // codebook — the invariant the crash had broken
    val scorer = VectorStore.trainedScorer(spark, tbl)
    val stored = spark.table(tbl).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    val expected = VectorStore.assignedWith(
        spark.table(tbl).select("vec_id", "embedding"),
        "vec_id", "embedding", scorer)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(stored == expected)
    // and recoverRecluster with no marker is a no-op
    assert(!VectorStore.recoverRecluster(spark, tbl))
    // an unreadable marker (crash inside the marker write itself) must
    // fail LOUDLY — never proceed as if no recluster were pending
    val out2 = fs.create(marker, true)
    try out2.write("garbage".getBytes("UTF-8")) finally out2.close()
    val bad = intercept[IllegalStateException] {
      VectorStore.recoverRecluster(spark, tbl)
    }
    assert(bad.getMessage.contains("unreadable"))
    fs.delete(marker, false)
  }

  test("prune seeds the watermark from the lowest committed id when a loop starts above 0") {
    val t = "rec_prune_seed"
    IngestLedger.reset(spark, t)
    // a stream resuming a retained checkpoint against a rewritten store:
    // first applied ids are 5..7, no watermark exists yet
    for (id <- 5L to 7L) {
      IngestLedger.intent(spark, t, id); IngestLedger.record(spark, t, id)
    }
    IngestLedger.prune(spark, t)
    val dir = IngestLedger.ledgerDir(spark, t)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(IngestLedger.watermark(spark, t) == 7L,
      "watermark must seed from min(committed) - 1, not -1")
    assert(fs.listStatus(dir).length == 1, "markers must collapse")
    assert((5L to 7L).forall(IngestLedger.applied(spark, t, _)))
    assert(!IngestLedger.applied(spark, t, 8L))
    IngestLedger.reset(spark, t)
  }

  test("prune's watermark seed stops below a dangling intent, preserving its marker for repair") {
    val t = "rec_prune_dangle"
    IngestLedger.reset(spark, t)
    // an out-of-order (contract-violating, but repairable) state: batch 2
    // crashed mid-append (intent, no commit) while 5..6 committed. The
    // seed must minimize over ALL marker ids, or the sweep would delete
    // batch-2.intent and strand the partial append where danglingIntents
    // (and the batch-tagged crash repair) can no longer see it.
    IngestLedger.intent(spark, t, 2L)
    for (id <- 5L to 6L) {
      IngestLedger.intent(spark, t, id); IngestLedger.record(spark, t, id)
    }
    IngestLedger.prune(spark, t)
    assert(IngestLedger.watermark(spark, t) == 1L,
      "seed must stop below the dangling intent, not at min(committed) - 1")
    assert(!IngestLedger.applied(spark, t, 2L),
      "the dangling batch must not answer applied=true")
    assert(IngestLedger.intended(spark, t, 2L),
      "the dangling intent marker must survive the sweep")
    assert(IngestLedger.danglingIntents(spark, t) == Seq(2L))
    // commit markers above the hole stay as markers (watermark can't
    // advance over the uncommitted 2..4 range) but still answer applied
    assert((5L to 6L).forall(IngestLedger.applied(spark, t, _)))
    IngestLedger.reset(spark, t)
  }

  test("a prune re-run after a crash between watermark rename and deletes finishes the deletes") {
    val t = "rec_prune_crash"
    IngestLedger.reset(spark, t)
    for (id <- 0L to 2L) {
      IngestLedger.intent(spark, t, id); IngestLedger.record(spark, t, id)
    }
    IngestLedger.prune(spark, t)
    val dir = IngestLedger.ledgerDir(spark, t)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.listStatus(dir).length == 1)
    // crash window: watermark landed but the delete sweep didn't — put a
    // stale pair back under the watermark by hand
    IngestLedger.intent(spark, t, 1L); IngestLedger.record(spark, t, 1L)
    assert(fs.listStatus(dir).length == 3)
    // a re-run with NO new commits must still finish the deletes
    IngestLedger.prune(spark, t)
    assert(fs.listStatus(dir).length == 1,
      "stale markers at/below the watermark must be swept unconditionally")
    assert(IngestLedger.watermark(spark, t) == 2L)
    IngestLedger.reset(spark, t)
  }

  test("ledger markers: intent precedes commit; applied wins; reset clears both") {
    val t = "rec_ledger_probe"
    IngestLedger.reset(spark, t)
    assert(!IngestLedger.applied(spark, t, 5L))
    assert(!IngestLedger.intended(spark, t, 5L))
    IngestLedger.intent(spark, t, 5L)
    assert(IngestLedger.intended(spark, t, 5L))
    assert(!IngestLedger.applied(spark, t, 5L))
    IngestLedger.record(spark, t, 5L)
    assert(IngestLedger.applied(spark, t, 5L))
    assert(IngestLedger.intended(spark, t, 5L)) // kept; unreachable behind applied
    assert(!IngestLedger.applied(spark, t, 6L)) // ids are independent
    IngestLedger.reset(spark, t)
    assert(!IngestLedger.applied(spark, t, 5L))
    assert(!IngestLedger.intended(spark, t, 5L))
  }
}

/** The composed curation cascade ([[graft.ext.CurationLoop]]): every
  * stage drops its designed doc, the funnel matches a recount, and a
  * crash BETWEEN stage commits resumes to exactly the clean run's
  * verdicts (each stage's own ledger carries the composition — no new
  * crash window is introduced by composing them). */
class CurationLoopRecoverySpec extends SparkSpec {
  import graft.ext.{CurationLoop, Decontaminate, ExactDedup, IncrementalDedup, LmScore, VectorStore}

  // seed corpus (already ingested): ids 1-2 with orthogonal embeddings
  private val seedRows = Seq(
    (1L, "a calm baseline document with entirely unrelated words inside",
      Seq(1f, 0f, 0f, 0f)),
    (2L, "the quick brown fox jumps over the lazy dog",
      Seq(0f, 1f, 0f, 0f)))
  // one shard, one doc per stage outcome
  private val shardRows = Seq(
    (40L, "a calm baseline document with entirely unrelated words inside",
      Seq(0f, 0f, 1f, 0f)),                                  // exact copy of 1
    (41L, "the quick brown fox jumps over the lazy dog again",
      Seq(0f, 0f, 0f, 1f)),                                  // near-dup of 2
    (42L, "nothing textual in common with anything stored before",
      Seq(1f, 0f, 0f, 0f)),                                  // vector twin of 1
    (43L, "alpha beta gamma delta something else entirely new content",
      Seq(0f, 0f, -1f, 0f)),                                 // contaminated
    (44L, "zz yy xx ww vv",
      Seq(0f, 0f, 0f, -1f)),                                 // junk: LM drop
    (45L, "crisp reference prose describes the engine pipeline",
      Seq(0f, -1f, 0f, 0f)))                                 // clean: kept
  private val benchRows = Seq(
    (100L, "alpha beta gamma delta epsilon"))
  private val refRows = Seq(
    (900L, "crisp reference prose describes the engine pipeline"),
    (901L, "the engine pipeline handles documents quickly"))

  private def corpus(rows: Seq[(Long, String, Seq[Float])]) =
    df(rows).toDF("doc_id", "text", "embedding")

  private val params = CurationLoop.Params(shingleN = 3, numHashes = 16,
    nBands = 4, minJaccard = 0.5, minCosine = 0.9, nCentroids = 4,
    nProbe = 4, dim = 4, seedOffset = 7L, maxContamination = 0.2,
    minLmScore = 0.1)

  private def seedStores(p: String): CurationLoop.Stores = {
    val seed = corpus(seedRows)
    ExactDedup.writeFingerprintStore(seed, "doc_id", "text",
      table = s"${p}_fp", buckets = 4)
    IncrementalDedup.writeSignatureStore(seed, "doc_id", "text",
      shingleN = 3, numHashes = 16, nBands = 4, table = s"${p}_sig",
      buckets = 4)
    VectorStore.writeVectorStore(seed.select(col("doc_id"), col("embedding")),
      "doc_id", "embedding", nCentroids = 4, dim = 4, seedOffset = 7L,
      table = s"${p}_vec", buckets = 4)
    Decontaminate.writeBenchmarkStore(df(benchRows).toDF("doc_id", "text"),
      "text", n = 3, table = s"${p}_bench", buckets = 4)
    LmScore.writeModelStore(df(refRows).toDF("doc_id", "text"), "text",
      table = s"${p}_model", buckets = 4)
    CurationLoop.Stores(s"${p}_fp", s"${p}_sig", s"${p}_vec",
      s"${p}_bench", s"${p}_model", buckets = 4)
  }

  private def dropStores(p: String): Unit = {
    Seq("_fp", "_sig", "_sig_keycounts", "_vec", "_vec_cellcounts",
      "_bench", "_bench_meta", "_model", "_model_meta").foreach { s =>
      spark.sql(s"DROP TABLE IF EXISTS $p$s")
    }
    Seq("_fp", "_sig", "_vec", "_model").foreach(s =>
      graft.core.IngestLedger.reset(spark, s"$p$s"))
    spark.catalog.clearCache()
  }

  private def verdictRows(root: String) =
    spark.read.parquet(s"$root/verdicts")
      .select(col("doc_id"), col("kept"), col("dropped_at"), col("dup_of"))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq

  test("composed cascade: each stage drops its doc, funnel matches the verdict recount") {
    val stores = seedStores("cl_a")
    val root = graft.util.Staging.exitScopedRoot("graft-cl-a-").toString
    try {
      CurationLoop.ingestShard(corpus(shardRows), 0L, "doc_id", "text",
        "embedding", stores, params, root)
      val got = spark.read.parquet(s"$root/verdicts")
        .collect().map(r => r.getLong(0) ->
          (r.getBoolean(1), Option(r.getAs[String]("dropped_at")),
            if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
      assert(got(40L) == ((false, Some("exact"), 1L)))
      assert(got(41L) == ((false, Some("neardup"), 2L)))
      assert(got(42L) == ((false, Some("vector"), 1L)))
      assert(got(43L) == ((false, Some("decontam"), -1L)))
      assert(got(44L) == ((false, Some("lm"), -1L)))
      assert(got(45L) == ((true, None, -1L)))
      // gate metrics recorded exactly where the doc reached the gate
      val metrics = spark.read.parquet(s"$root/verdicts")
        .select(col("doc_id"), col("contamination"), col("lm_score"))
        .collect().map(r => r.getLong(0) ->
          (Option(r.get(1)), Option(r.get(2)))).toMap
      assert(metrics(40L) == ((None, None)))
      assert(metrics(43L)._1.exists(c =>
        math.abs(c.asInstanceOf[Double] - 2.0 / 7.0) < 1e-12))
      assert(metrics(43L)._2.isEmpty)
      assert(metrics(44L)._2.contains(0.0))
      assert(metrics(45L) == ((Some(0.0), Some(1.0))))
      // funnel row equals the verdict recount
      val funnel = spark.read.parquet(s"$root/funnel").collect().head
      assert(funnel.getAs[Long]("n_docs") == 6L)
      assert(funnel.getAs[Long]("n_after_exact") == 5L)
      assert(funnel.getAs[Long]("n_after_neardup") == 4L)
      assert(funnel.getAs[Long]("n_after_vector") == 3L)
      assert(funnel.getAs[Long]("n_after_decontam") == 2L)
      assert(funnel.getAs[Long]("n_kept") == 1L)
    } finally dropStores("cl_a")
  }

  test("ingestShard releases only its own stage cache: a caller-persisted frame survives") {
    val stores = seedStores("cl_g")
    val root = graft.util.Staging.exitScopedRoot("graft-cl-g-").toString
    val callerFrame = corpus(seedRows).select(col("doc_id")).persist()
    try {
      callerFrame.count() // materialize the caller's cache entry
      assert(callerFrame.storageLevel.useMemory)
      CurationLoop.ingestShard(corpus(shardRows), 0L, "doc_id", "text",
        "embedding", stores, params, root)
      assert(callerFrame.storageLevel.useMemory,
        "a frame the CALLER persisted across ingestShard calls must stay " +
          "cached — the loop may release only its own stage-owned frames")
      // the cache-manager entry itself is intact (not merely a stale
      // storage-level answer): a re-read of the frame hits the cache
      assert(callerFrame.count() == seedRows.size)
    } finally {
      callerFrame.unpersist()
      dropStores("cl_g")
    }
  }

  test("crash between stage commits: the resumed shard matches a clean run; replay is idempotent") {
    val cleanStores = seedStores("cl_c")
    val cleanRoot = graft.util.Staging.exitScopedRoot("graft-cl-c-").toString
    val crashStores = seedStores("cl_d")
    val crashRoot = graft.util.Staging.exitScopedRoot("graft-cl-d-").toString
    try {
      CurationLoop.ingestShard(corpus(shardRows), 0L, "doc_id", "text",
        "embedding", cleanStores, params, cleanRoot)
      // simulate "crashed between stores": stage 1 committed (its own
      // ledger records it), stages 2-5 never ran — exactly the state a
      // driver death after the exact stage leaves behind
      ExactDedup.ingestBatch(corpus(shardRows).select(col("doc_id"),
        col("text")), 0L, "doc_id", "text", crashStores.fpTable,
        crashStores.buckets, s"$crashRoot/exact")
      assert(graft.core.IngestLedger.applied(spark, crashStores.fpTable, 0L))
      // the resumed shard: stage 1 skips via its ledger, the rest run
      CurationLoop.ingestShard(corpus(shardRows), 0L, "doc_id", "text",
        "embedding", crashStores, params, crashRoot)
      assert(verdictRows(crashRoot) == verdictRows(cleanRoot))
      // full replay of the committed shard: verdicts and stores unchanged
      val storeCounts = Seq(crashStores.fpTable, crashStores.sigTable,
        crashStores.vecTable).map(t => t -> spark.table(t).count()).toMap
      CurationLoop.ingestShard(corpus(shardRows), 0L, "doc_id", "text",
        "embedding", crashStores, params, crashRoot)
      assert(verdictRows(crashRoot) == verdictRows(cleanRoot))
      storeCounts.foreach { case (t, c) =>
        assert(spark.table(t).count() == c,
          s"replay must not grow store $t")
      }
    } finally { dropStores("cl_c"); dropStores("cl_d") }
  }

  private def storeCounts(s: CurationLoop.Stores): Seq[Long] =
    Seq(s.fpTable, s.sigTable, s.vecTable).map(spark.table(_).count())

  test("a failing next stage while an append is in flight: every job settles before the throw; a re-run matches a clean run") {
    val clean = seedStores("cl_j")
    val cleanRoot = graft.util.Staging.exitScopedRoot("graft-cl-j-").toString
    val stores = seedStores("cl_h")
    val root = graft.util.Staging.exitScopedRoot("graft-cl-h-").toString
    try {
      CurationLoop.ingestShard(corpus(shardRows), 0L, "doc_id", "text",
        "embedding", clean, params, cleanRoot)
      // stage 3's vector append is held in flight, and stage 4's first
      // read of its benchmark store fails once it is held
      val fault = new StageFault(append = stores.vecTable, failOn = stores.benchTable)
      spark.experimental.extraOptimizations = Seq(fault)
      val jobs = new StageFault.Jobs
      val (failure, thrownAt) = try Listening.during(spark, jobs) {
        val e = intercept[Exception](CurationLoop.ingestShard(corpus(shardRows),
          0L, "doc_id", "text", "embedding", stores, params, root))
        (e, System.currentTimeMillis())
      } finally spark.experimental.extraOptimizations = Nil
      assert(Iterator.iterate[Throwable](failure)(_.getCause).takeWhile(_ != null)
        .exists(_.getMessage.contains(StageFault.Message)), failure.toString)
      assert(fault.sawAppend,
        "the stage-4 failure must fire while stage 3's append is running")
      // no job of the call starts after the call has thrown, and each has
      // ended before the drain marker (submitted after the throw) starts:
      // the scheduler posts a cancelled job's end before it takes the
      // next submission, so a job still running at the throw would end
      // after the marker's start
      assert(jobs.started.nonEmpty)
      jobs.started.foreach { case (id, t) =>
        assert(t <= thrownAt, s"job $id started after the throw")
        assert(jobs.endedBeforeMarker(id),
          s"job $id had not ended when the drain marker started")
      }
      // and the status tracker, fed by its own listener queue, reports
      // no active job once that queue catches up
      val tracker = spark.sparkContext.statusTracker
      val deadline = System.nanoTime() + 10e9.toLong
      while (tracker.getActiveJobIds().nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(tracker.getActiveJobIds().isEmpty,
        s"jobs still active: ${tracker.getActiveJobIds().mkString(",")}")
      // commit after both: no stage recorded the batch, each can resume
      Seq(stores.fpTable, stores.sigTable, stores.vecTable).foreach { t =>
        assert(!graft.core.IngestLedger.applied(spark, t, 0L), t)
        assert(graft.core.IngestLedger.intended(spark, t, 0L), t)
      }
      // the re-run resumes every stage to the clean run's state
      CurationLoop.ingestShard(corpus(shardRows), 0L, "doc_id", "text",
        "embedding", stores, params, root)
      assert(verdictRows(root) == verdictRows(cleanRoot))
      assert(storeCounts(stores) == storeCounts(clean))
      // and a replay of the committed shard changes nothing
      CurationLoop.ingestShard(corpus(shardRows), 0L, "doc_id", "text",
        "embedding", stores, params, root)
      assert(verdictRows(root) == verdictRows(cleanRoot))
      assert(storeCounts(stores) == storeCounts(clean))
    } finally { dropStores("cl_h"); dropStores("cl_j") }
  }

  test("one ingestShard scans each shard parquet record once and leaves no cache entry of its own") {
    val stores = seedStores("cl_k")
    val root = graft.util.Staging.exitScopedRoot("graft-cl-k-").toString
    val in = graft.util.Staging.exitScopedRoot("graft-cl-kin-")
      .resolve("shard").toString
    try {
      corpus(shardRows).write.parquet(in)
      // other suites in this JVM may leave frames cached; the call must add none
      spark.catalog.clearCache()
      val shardScans = new Listening.ScanRecords(p =>
        p.nodeName.toLowerCase.contains("scan parquet") &&
          p.metadata.get("Location").exists(_.contains(in)))
      Listening.during(spark, shardScans) {
        CurationLoop.ingestShard(spark.read.parquet(in), 0L, "doc_id", "text",
          "embedding", stores, params, root)
      }
      assert(shardScans.records == shardRows.size)
      assert(spark.sharedState.cacheManager.isEmpty,
        "ingestShard left a cache entry of its own behind")
    } finally dropStores("cl_k")
  }

  // batch 1: a cross-batch twin (50 copies batch 0's kept doc 45 —
  // provable only through the stores grown by batch 0's appends) plus
  // a fresh doc drawn from the LM reference corpus
  private val shard2Rows = Seq(
    (50L, "crisp reference prose describes the engine pipeline",
      Seq(0.5f, 0.5f, 0f, 0f)),
    (51L, "the engine pipeline handles documents quickly",
      Seq(0.5f, 0.5f, -0.5f, 0.5f)))

  test("streamIngest drives the cascade per micro-batch and matches the caller-driven loop") {
    val streamStores = seedStores("cl_e")
    val loopStores = seedStores("cl_f")
    val streamRoot = graft.util.Staging.exitScopedRoot("graft-cl-e-").toString
    val loopRoot = graft.util.Staging.exitScopedRoot("graft-cl-f-").toString
    try {
      // the reference run: caller-driven, two batches
      CurationLoop.ingestShard(corpus(shardRows), 0L, "doc_id", "text",
        "embedding", loopStores, params, loopRoot)
      CurationLoop.ingestShard(corpus(shard2Rows), 1L, "doc_id", "text",
        "embedding", loopStores, params, loopRoot)
      // the streamed run: same shards as one staged file each
      val in = graft.util.Staging.exitScopedRoot("graft-cl-in-")
      def stage(rows: Seq[(Long, String, Seq[Float])], name: String,
                ts: Long): Unit =
        graft.util.Staging.stageWave(corpus(rows), in, name, ts)
      stage(shardRows, "shard1.parquet", 1704067200000L)
      stage(shard2Rows, "shard2.parquet", 1704067260000L)
      val stream = spark.readStream.schema(corpus(shardRows).schema)
        .option("maxFilesPerTrigger", 1).parquet(in.toString)
      CurationLoop.streamIngest(stream, "doc_id", "text", "embedding",
          streamStores, params, streamRoot,
          checkpoint = s"$streamRoot/chk", maxFilesPerBucket = 1)
        .awaitTermination()
      def all(root: String) = spark.read.parquet(s"$root/verdicts")
        .select(col("doc_id"), col("kept"), col("dropped_at"), col("dup_of"),
          col("batch_id").cast("long").as("batch_id"))
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(all(streamRoot) == all(loopRoot))
      // the cross-batch twin is caught through batch 0's store growth
      val v50 = spark.read.parquet(s"$streamRoot/verdicts")
        .filter(col("doc_id") === 50L).collect().head
      assert(!v50.getAs[Boolean]("kept")
        && v50.getAs[String]("dropped_at") == "exact"
        && v50.getAs[Long]("dup_of") == 45L)
    } finally { dropStores("cl_e"); dropStores("cl_f") }
  }
}

/** The injected failure of the failing-next-stage drill: an optimizer
  * rule that holds the first append into store `append` at planning
  * until the next stage has failed, and fails that stage's first read of
  * store `failOn` once the append is held (each wait at most 30 s). Both
  * waits sit on driver threads, so neither side can starve the other of
  * task slots. Each instance fires once. */
private final class StageFault(append: String, failOn: String)
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import java.util.concurrent.CountDownLatch
  import java.util.concurrent.TimeUnit.SECONDS
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  import org.apache.spark.sql.execution.command.CreateDataSourceTableAsSelectCommand
  import org.apache.spark.sql.execution.datasources.LogicalRelation

  private val held = new CountDownLatch(1)
  private val fired = new CountDownLatch(1)
  @volatile private var holding = false
  @volatile var sawAppend = false

  def apply(plan: LogicalPlan): LogicalPlan = {
    val appends = plan.exists {
      case c: CreateDataSourceTableAsSelectCommand => c.table.identifier.table == append
      case _ => false
    }
    val reads = plan.exists {
      case r: LogicalRelation => r.catalogTable.exists(_.identifier.table == failOn)
      case _ => false
    }
    if (appends && held.getCount > 0) {
      holding = true
      held.countDown()
      try fired.await(30, SECONDS) finally holding = false
    }
    if (reads && fired.getCount > 0) {
      sawAppend = held.await(30, SECONDS) && holding
      fired.countDown()
      throw new IllegalStateException(StageFault.Message)
    }
    plan
  }
}

private object StageFault {
  val Message = "injected stage failure"

  /** Submission times of every job but the drain marker, and the jobs
    * whose end had arrived when the marker started. */
  final class Jobs extends org.apache.spark.scheduler.SparkListener {
    import org.apache.spark.scheduler._
    val started = scala.collection.concurrent.TrieMap.empty[Int, Long]
    private val ended = scala.collection.mutable.Set.empty[Int]
    @volatile var endedBeforeMarker = Set.empty[Int]
    override def onJobStart(j: SparkListenerJobStart): Unit =
      if (Listening.isMarker(j)) endedBeforeMarker = ended.toSet
      else started(j.jobId) = j.time
    override def onJobEnd(j: SparkListenerJobEnd): Unit = ended += j.jobId
  }
}
