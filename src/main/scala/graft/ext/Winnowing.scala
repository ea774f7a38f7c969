package graft.ext

import graft.core.StoreLifecycle
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Winnowing fingerprint selection — the MOSS document-fingerprinting
  * algorithm (Schleimer, Wilkerson, Aiken, SIGMOD 2003: "Winnowing:
  * Local Algorithms for Document Fingerprinting"): hash every k-gram,
  * slide a window of `w` consecutive hashes over the sequence, and in
  * each window select the MINIMUM hash, breaking ties by the RIGHTMOST
  * position; record each selected (position, hash) once. The selected
  * set is a position-stable ~2/(w+1) subsample of the gram stream with
  * the winnowing guarantee: any shared run of at least w+k−1 tokens
  * between two documents surfaces as at least one shared selected
  * fingerprint — the sparse index plagiarism/overlap detectors build
  * when indexing EVERY gram (x19/x52's grain) is too large, which at
  * 100 TB it is (the benchmark side stays exhaustive; the CORPUS side
  * is what winnowing compresses ~w/2-fold).
  *
  * Window convention: one window ends at every gram index, with the
  * frame clipped at the sequence start — i.e. the leading partial
  * windows are included. For docs with ≥ w grams this selects exactly
  * the standard full-window set PLUS the prefix selections (a superset
  * — the guarantee only strengthens); docs with FEWER than w grams
  * still fingerprint (one whole-doc minimum) instead of vanishing from
  * the index, the same no-silent-drop policy as the null-spine rows in
  * [[Decontaminate.contaminationSeverity]].
  *
  * Determinism: the (min hash, rightmost position) argmin is computed
  * as ONE `min()` window aggregate over an order-encoding string key —
  * `lpad(fp, 19) ⧺ lpad(10⁹−1−pos, 9)` sorts by (fp asc, pos desc), so
  * the frame minimum IS the MOSS selection, with no reliance on a
  * `min_by` tie policy (engine-undefined on ties in both Spark and
  * DuckDB). Both digits-only encodings compare identically as strings
  * in both engines.
  *
  * Scale shape: narrow projection → position-aligned [[graft.functions.ShingleMd5]]
  * posexplode (the fused native gram hasher, no shingle strings
  * materialized) → ONE hash exchange on the doc id + one in-partition
  * sort shared by the window → per-doc distinct + rollup, all keyed by
  * the id. No join, no driver state, output is Θ(grams/w) per doc.
  */
object Winnowing {

  private val PosCeil = 999999999L

  /** Internal: (id, __pos, __fp) position-aligned gram stream; docs
    * with fewer than k tokens keep a null spine row. */
  private def grams(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame =
    docs.select(col(idCol), Ngrams.normTokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        posexplode_outer(graft.functions.ShingleMd5(col("__toks"), k))
          .as(Seq("__pos", "__fp")))

  /** The selected fingerprints: one row per doc per selected
    * (sel_pos, sel_fp), the winnowed sparse index of the corpus.
    * Gram-less docs select nothing (absent here; [[stats]] still
    * reports them). */
  def selectFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int, w: Int): DataFrame = {
    require(k >= 1, s"gram size k must be >= 1, got $k")
    require(w >= 1, s"window size w must be >= 1, got $w")
    val g = grams(docs, idCol, textCol, k).filter(col("__fp").isNotNull)
      .withColumn("__key", concat(
        lpad(col("__fp").cast("string"), 19, "0"),
        lpad((lit(PosCeil) - col("__pos")).cast("string"), 9, "0")))
    val frame = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
      .rowsBetween(-(w - 1).toLong, Window.currentRow)
    g.withColumn("__sel", min(col("__key")).over(frame))
      .select(col(idCol), col("__sel")).distinct()
      .select(col(idCol),
        (lit(PosCeil) - substring(col("__sel"), 20, 9).cast("long"))
          .as("sel_pos"),
        substring(col("__sel"), 1, 19).cast("long").as("sel_fp"))
  }

  /** Document-overlap candidate pairs over the WINNOWED index — the
    * MOSS use case: two documents sharing any token run of ≥ w+k−1
    * provably share a selected fingerprint, so an fp-keyed equi-join
    * on the ~2/(w+1)-sparse index finds every such pair at a fraction
    * of the exhaustive gram-index cost (x11's full n-gram Jaccard
    * grain). One row per unordered (id_a < id_b) pair with the count
    * of distinct shared selected fingerprints, kept when ≥ `minShared`.
    *
    * `maxDocsPerFp` drops fingerprints selected in more than that many
    * documents BEFORE the join — boilerplate grams (headers, license
    * blocks) are exactly the hot keys that would quadratically blow a
    * fp bucket (a fp in g docs yields g(g−1)/2 pairs), and MOSS itself
    * prescribes dropping over-frequent fingerprints as noise. The cut
    * is reported honestly by [[stats]]' density audit, not silent: it
    * is a DOCUMENTED index policy, the x36 capped-bucket convention.
    *
    * Scale shape: selection is the one windowed pass ([[selectFingerprints]]);
    * the frequency cut is a map-side-combined fp count + in-place
    * semi-join shape; the pair join is fp-keyed equi with per-key
    * fan-out bounded by `maxDocsPerFp`; the pair rollup keys on the
    * pair. No all-pairs stage anywhere. */
  def overlapPairs(docs: DataFrame, idCol: String, textCol: String,
                   k: Int, w: Int, minShared: Long,
                   maxDocsPerFp: Long = 64L): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxDocsPerFp >= 2,
      s"maxDocsPerFp must be >= 2 (a pair needs two docs), got $maxDocsPerFp")
    // materialized ONCE: the winnowed index feeds THREE consumers (the
    // frequency count, and both sides of the pair self-join) and
    // physical exchange reuse does not dedup the window+distinct
    // subtree across them — measured (r21 bench, sf0.1): the gram
    // window stage ran twice concurrently at ~4.4 CPU-s each; the
    // checkpoint halves that (guide §1.2: remove repeated passes). The
    // index is Θ(grams/w) rows of (id, fp) — output-sized, cheap to pin.
    val sel = selectFingerprints(docs, idCol, textCol, k, w)
      .select(col(idCol), col("sel_fp")).distinct()
      .localCheckpoint(true)
    val rare = sel.groupBy("sel_fp").agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxDocsPerFp).select(col("sel_fp"))
    val kept = sel.join(rare, Seq("sel_fp"), "left_semi")
    val a = kept.select(col(idCol).as("id_a"), col("sel_fp"))
    val b = kept.select(col(idCol).as("id_b"), col("sel_fp"))
    a.join(b, Seq("sel_fp")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared_fps"))
      .filter(col("n_shared_fps") >= minShared)
  }

  // ---------------------------------------------------------------------
  // Persisted winnowed index — the MOSS deployment shape: the reference
  // corpus is winnowed ONCE into a bucketed (sel_fp, doc_id) store (the
  // ~2/(w+1)-sparse index), and every new shard is winnowed and joined
  // against it in place. The seventh store family, in the x50 idiom:
  // fp-bucketed catalog table, 1-row meta as the COMMIT MARKER carrying
  // the selection parameters (k, w) — fingerprints from different
  // parameters are incomparable, so serve/append refuse a mismatch the
  // way the card store refuses a foreign quantizer scale.
  // ---------------------------------------------------------------------

  /** Name of the 1-row meta table next to a winnow store: `(k, w)`.
    * Dropped first, written last — a crashed (re)build serves nothing
    * rather than a half-written index. */
  def winnowMeta(table: String): String = StoreLifecycle.metaTable(table)

  /** The winnow store family: bucketed by `sel_fp`, folded to distinct
    * (fp, doc) pairs — the pair grain makes a replayed append
    * IDEMPOTENT (duplicates collapse at every read and at compaction),
    * so a resumed batch simply re-appends. */
  private def store(table: String, buckets: Int) =
    StoreLifecycle.Store(table, Seq("sel_fp"), buckets, fold = _.distinct())

  private def readMeta(spark: SparkSession, table: String): (Int, Int) = {
    val m = StoreLifecycle.committedMeta(spark, table, "winnow",
      "writeWinnowStore")
    (m.getAs[Int]("k"), m.getAs[Int]("w"))
  }

  private def storeRows(docs: DataFrame, idCol: String, textCol: String,
                        k: Int, w: Int): DataFrame = {
    val idType = docs.schema(idCol).dataType
    require(idType == org.apache.spark.sql.types.LongType ||
        idType == org.apache.spark.sql.types.IntegerType,
      s"winnow store ids must be integral (got $idType for '$idCol') — " +
        "a silent cast would turn non-numeric ids into NULLs and corrupt " +
        "the index")
    selectFingerprints(docs, idCol, textCol, k, w)
      .select(col("sel_fp"), col(idCol).cast("long").as("doc_id")).distinct()
  }

  /** Build the winnowed index for `docs` as the bucketed catalog table
    * `table` (bucketed+sorted by `sel_fp`); commits the (k, w) meta
    * LAST. A fresh store restarts its batch-id space. */
  def writeWinnowStore(docs: DataFrame, idCol: String, textCol: String,
                       k: Int, w: Int, table: String, buckets: Int): Unit =
    StoreLifecycle.writeCommitted(storeRows(docs, idCol, textCol, k, w),
        store(table, buckets)) {
      StoreLifecycle.saveTable(
        docs.sparkSession.range(1).select(lit(k).as("k"), lit(w).as("w")),
        winnowMeta(table))
    }

  /** Append a shard's winnowed fingerprints (selection parameters come
    * FROM the committed meta — a caller cannot mix incomparable
    * fingerprints into the index). Caller-driven appends own their
    * atomicity; [[ingestWinnowBatch]] adds exactly-once. Duplicate
    * (fp, doc) rows from a replayed append are harmless: every reader
    * collapses to distinct pairs (the dedup stores' defensive read
    * grain), and [[compactWinnowStore]] makes the collapse durable. */
  def appendWinnowShard(docs: DataFrame, idCol: String, textCol: String,
                        table: String, buckets: Int): Unit = {
    val (k, w) = readMeta(docs.sparkSession, table)
    StoreLifecycle.append(storeRows(docs, idCol, textCol, k, w),
      store(table, buckets))
  }

  /** Overlap a NEW shard against the persisted index: winnow the shard
    * under the STORE's own (k, w) and count distinct shared selected
    * fingerprints per (shard doc, indexed doc) pair — the
    * [[overlapPairs]] verdict with the reference side read in place.
    * The over-frequent-fingerprint cut (`maxDocsPerFp`) is computed on
    * the STORE side per fingerprint — an in-bucket aggregation (the
    * store is bucketed by `sel_fp`), never a corpus recount. The merge
    * hint pins the sort-merge strategy so a test-scale shard cannot
    * broadcast around the bucketed layout being proven.
    *
    * @return (id, store_doc_id, n_shared_fps) with n ≥ `minShared`. */
  def overlapAgainstStore(newDocs: DataFrame, idCol: String, textCol: String,
                          table: String, minShared: Long,
                          maxDocsPerFp: Long = 64L): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxDocsPerFp >= 1, s"maxDocsPerFp must be >= 1, got $maxDocsPerFp")
    val spark = newDocs.sparkSession
    val (k, w) = readMeta(spark, table)
    val store = spark.table(table).select(col("sel_fp"), col("doc_id"))
      .distinct()
    // the frequency cut joins two in-bucket derivations of the SAME
    // bucketed table — merge-hinted so a test-scale `rare` cannot
    // broadcast: at corpus scale it is fp-cardinality, and the SMJ is
    // Exchange-free on both sides by co-partitioning
    val rare = store.groupBy("sel_fp").agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxDocsPerFp).select(col("sel_fp"))
      .hint("merge")
    val q = selectFingerprints(newDocs, idCol, textCol, k, w)
      .select(col(idCol), col("sel_fp")).distinct()
    q.join(store.join(rare, Seq("sel_fp"), "left_semi")
        .withColumnRenamed("doc_id", "store_doc_id").hint("merge"),
        Seq("sel_fp"))
      .groupBy(col(idCol), col("store_doc_id"))
      .agg(count(lit(1)).as("n_shared_fps"))
      .filter(col("n_shared_fps") >= minShared)
  }

  /** Periodic maintenance: one file per bucket, duplicate (fp, doc)
    * pairs collapsed (idempotent — safe next to a dangling append),
    * ledger pruned below the contiguous-commit watermark. */
  def compactWinnowStore(spark: SparkSession, table: String,
                         buckets: Int): Unit =
    StoreLifecycle.compact(spark, store(table, buckets))

  /** One exactly-once ingest micro-batch
    * ([[graft.core.StoreLifecycle.ingestSet]]): a committed batch skips;
    * a batch that crashed mid-append re-appends — no partial-append
    * repair pass is needed at the pair grain, and the intent marker
    * still brackets the append so
    * [[graft.core.IngestLedger.danglingIntents]] can
    * name unfinished batches for the maintenance audit. */
  def ingestWinnowBatch(batch: DataFrame, batchId: Long,
                        idCol: String, textCol: String,
                        table: String, buckets: Int): Unit =
    StoreLifecycle.ingestSet(batch.sparkSession, store(table, buckets),
      batchId)(appendWinnowShard(batch, idCol, textCol, table, buckets))

  /** The CONTINUOUS form: every shard's winnowed fingerprints land
    * exactly-once; in-loop maintenance per
    * [[graft.core.StoreLifecycle.stream]]. */
  def streamIngestWinnow(shards: DataFrame, idCol: String, textCol: String,
                         table: String, buckets: Int, checkpoint: String,
                         compactEvery: Int = 0, maxFilesPerBucket: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StoreLifecycle.stream(shards, checkpoint, compactEvery,
        maxFilesPerBucket, store(table, buckets))(
      ingestWinnowBatch(_, _, idCol, textCol, table, buckets))

  /** WINNOW-CLUSTER DEDUP — the MOSS pipeline's keep/drop resolution:
    * [[overlapPairs]]' candidate graph contracted to connected
    * components ([[DupClusters.connectedComponentsStars]] — the
    * planet-scale large-star/small-star form, because boilerplate-
    * heavy crawls produce long overlap CHAINS a propagation round
    * count can't bound), then one representative kept per component
    * (min id canonical — the [[ExactDedup]] convention). One row per
    * INPUT document: `(id, canonical_id, keep)` — docs with no
    * qualifying overlap are their own canonical and keep.
    *
    * Scale shape: the pair graph is overlap-sized (the winnowed
    * ~2/(w+1)-sparse index bounds it), star contraction shuffles
    * pair-graph rows only, and the corpus touches ONE left equi-join
    * docs ⋈ clusters on the id — the [[Sampling.clusterSafeSplit]]
    * join shape, never corpus × corpus. */
  def dedupByOverlap(docs: DataFrame, idCol: String, textCol: String,
                     k: Int, w: Int, minShared: Long,
                     maxDocsPerFp: Long = 64L): DataFrame = {
    val pairs = overlapPairs(docs, idCol, textCol, k, w, minShared,
      maxDocsPerFp)
    val clusters = DupClusters.connectedComponentsStars(pairs,
      "id_a", "id_b")
    docs.select(col(idCol))
      .join(clusters.select(col("doc_id").as(idCol), col("canonical_id")),
        Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("canonical_id"), col(idCol)).as("canonical_id"))
      .withColumn("keep", col("canonical_id") === col(idCol))
  }

  /** The INCREMENTAL form — dedup a new shard against the persisted
    * winnowed index ([[overlapAgainstStore]] serving the x114 store in
    * place): a shard doc overlapping ANY indexed doc (≥ `minShared`
    * shared selected fingerprints) drops with `dup_of` = its
    * best-matching store doc (most shared fingerprints, smallest store
    * id on ties — a total, engine-replayable choice); the rest keep.
    * First-wins against the store, the [[ExactDedup]] incremental
    * convention — within-shard duplicates are [[dedupByOverlap]]'s
    * job, run on the shard before or after this gate.
    *
    * @return one row per shard doc:
    *         `(id, keep, dup_of, n_shared_fps)` — null dup_of/0 shared
    *         on keepers. */
  def dedupAgainstStore(newDocs: DataFrame, idCol: String, textCol: String,
                        table: String, minShared: Long,
                        maxDocsPerFp: Long = 64L): DataFrame = {
    val best = overlapAgainstStore(newDocs, idCol, textCol, table,
        minShared, maxDocsPerFp)
      .groupBy(idCol)
      .agg(min(struct((-col("n_shared_fps")).as("ns"),
        col("store_doc_id").as("sid"))).as("__b"))
      .select(col(idCol), col("__b.sid").as("dup_of"),
        (-col("__b.ns")).as("n_shared_fps"))
    newDocs.select(col(idCol))
      .join(best, Seq(idCol), "left")
      .select(col(idCol), col("dup_of").isNull.as("keep"), col("dup_of"),
        coalesce(col("n_shared_fps"), lit(0L)).as("n_shared_fps"))
  }

  /** Per-doc selection stats: gram count, selected-fingerprint count,
    * and the realized sampling density (expected ≈ 2/(w+1) for random
    * hashes — the MOSS paper's bound; the audit column a deploy reads
    * to confirm the index compressed). Docs with no grams report
    * (0, 0, 0.0). */
  def stats(docs: DataFrame, idCol: String, textCol: String,
            k: Int, w: Int): DataFrame = {
    val totals = grams(docs, idCol, textCol, k)
      .groupBy(idCol).agg(count(col("__fp")).as("n_grams"))
    val sel = selectFingerprints(docs, idCol, textCol, k, w)
      .groupBy(idCol).agg(count(lit(1)).as("n_selected"))
    totals.join(sel, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_selected"), lit(0L)).as("n_selected"),
        when(col("n_grams") === 0, 0.0)
          .otherwise(coalesce(col("n_selected"), lit(0L)).cast("double") /
            col("n_grams").cast("double")).as("density"))
  }
}
