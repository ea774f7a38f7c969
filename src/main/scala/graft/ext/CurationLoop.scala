package graft.ext

import graft.core.StoreLifecycle
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The PRODUCTION curation topology composed end to end — one ingest
  * call per shard driving every persisted-store stage in the order a
  * real pre-training pipeline runs them (cheapest / highest-yield
  * first):
  *
  *   1. exact dedup against the fingerprint store   ([[ExactDedup]], x50)
  *   2. near-dup against the MinHash signature store ([[IncrementalDedup]], x34)
  *   3. embedding dedup against the IVF vector store ([[VectorStore]], x45)
  *   4. decontamination against the benchmark store  ([[Decontaminate]], x52)
  *   5. quality gate against the LM model store      ([[LmScore]], x54)
  *
  * This loop and the one-shot [[Curation.batchRecipe]] share ONE stage
  * inventory: the recipe runs these same five stages in this order over
  * a static corpus (prefixed by the batch-only rule-gate/boilerplate
  * cleanup, which needs corpus-wide frequencies no single shard has),
  * differing only in gate POLICY where batch can see the corpus
  * distribution (per-source quantile vs per-shard absolute LM
  * threshold — documented there).
  *
  * Stages 1–3 MUTATE their stores (each shard's stage-local survivors
  * append, so the next shard dedups against everything ingested so
  * far); stages 4–5 are read-only gates. Each mutating stage keeps its
  * own applied-batch ledger under its own table — the composition adds
  * NO new crash window: a replayed shard re-enters each stage's
  * `ingestBatch`, which skips if committed, reconciles if it crashed
  * mid-append, and re-runs if it never started; every stage's input is
  * derived from the verdicts the previous stage committed, handed
  * forward in memory (the partition just written on a fresh batch, the
  * committed partition on a skipped or resumed one — never recomputed
  * against a mutated store), so the cascade is deterministic under any
  * crash/resume interleaving. The combined verdict and funnel writes
  * are dynamic-partition overwrites — idempotent, so they need no
  * ledger of their own.
  *
  * Overlap: stage k+1 needs stage k's verdicts, never its store, so
  * each mutating stage's store append runs concurrently with the rest
  * of the cascade ([[graft.core.StoreLifecycle.ingestVerdicts]]'s
  * `next`). A stage writes its commit marker only after BOTH its append
  * and everything after it have succeeded; a failure on either side
  * cancels the other's jobs, waits for both to settle, and leaves the
  * stage's intent marker for a replay to resume from. Each stage mutates
  * only its own store, so the overlap opens no new crash window.
  *
  * Store-admission semantics (deliberate, documented): a store admits
  * its OWN stage's survivors — a doc dropped later (vector twin,
  * contaminated, low quality) keeps its fingerprint/signature rows. A
  * future twin of such a doc therefore drops at the cheap dedup stage
  * instead of re-running the expensive gates; the final outcome is
  * identical (identical content gates identically), the work is not.
  * Same jurisdiction split as the stage operators themselves:
  * intra-shard twins pass the cross-shard stores and are the batch
  * operators' business ([[ExactDedup.dedupExactAgainstStore]]).
  *
  * Scale shape: the shard is read once and flows through as id-keyed
  * joins against the stages' verdicts (ids + 16-byte fps/longs on the
  * wire — document text is only scanned by each stage's own tokenize,
  * embeddings only by the vector stage); every store side reads its
  * buckets in place (the per-stage PlanSpec pins carry over verbatim —
  * this file composes the pinned operators, it does not re-plan them).
  */
object CurationLoop {

  /** The five store tables one curation corpus maintains (stages 1–3
    * mutate theirs; 4–5 serve read-only) plus the shared bucket count. */
  final case class Stores(fpTable: String, sigTable: String,
                          vecTable: String, benchTable: String,
                          modelTable: String, buckets: Int)

  /** Stage parameters: near-dup MinHash recipe, vector-store IVF
    * recipe, and the two gate thresholds. A doc whose contamination
    * (shared benchmark grams / own grams) exceeds `maxContamination`
    * drops at stage 4; a doc whose LM score falls below `minLmScore`
    * drops at stage 5 — unless it has no bigram transitions to judge
    * (`n_bigrams = 0`), in which case it PASSES: the quality gate drops
    * on evidence of junk, not on absence of evidence (the
    * fingerprint-less-doc convention of the dedup stages). */
  final case class Params(shingleN: Int, numHashes: Int, nBands: Int,
                          minJaccard: Double, minCosine: Double,
                          nCentroids: Int, nProbe: Int, dim: Int,
                          seedOffset: Long, maxContamination: Double,
                          minLmScore: Double)

  private def stageOut(outRoot: String, stage: String) = s"$outRoot/$stage"

  /** Ingest ONE shard through the full cascade. Writes, under
    * `outRoot`: each stage's own verdicts (`exact/`, `neardup/`,
    * `vector/` — the stage operators' formats), the combined per-doc
    * verdicts (`verdicts/`, partitioned by `batch_id`:
    * `(id, kept, dropped_at, dup_of, contamination, lm_score)` — one
    * row per shard doc; `dropped_at` names the dropping stage, null
    * when kept; `contamination`/`lm_score` are null for docs that never
    * reached that gate), and the per-batch funnel counts (`funnel/`:
    * docs surviving after each stage — the numbers a curation run
    * publishes, observed on the verdict write itself).
    *
    * `batch` must carry `idCol`, `textCol`, and `embCol` (join the
    * embedding relation before calling — at 100 TB that join is the
    * caller's bucketed id-keyed join, not this loop's business).
    *
    * One pass per shard: `(id, text, emb)` is read once and persisted
    * (unless the caller already cached that exact plan, in which case
    * the caller keeps it), so the caller's upstream — typically the
    * embedding join — runs once, not again at every stage that joins
    * the shard; each mutating stage's append overlaps the
    * stage after it, and the call returns only after every append has
    * settled — a failure anywhere leaves no job of the call running.
    *
    * Cache lifetime: the call persists the shard, the stage-3
    * survivors and the contamination frame, and the decontamination
    * stage persists the shard's gram rows (and broadcasts the stripe map
    * for a multi-stripe benchmark — the [[Decontaminate]] contract);
    * once the combined verdicts are written this call releases exactly
    * those resources ([[Decontaminate.contaminatedAgainstStoreOwned]]'s
    * release handle), so a long-running loop cannot accumulate one gram
    * cache + one broadcast per batch. Caller-persisted frames held
    * across ingestShard calls are NOT touched (CurationLoopRecoverySpec
    * pins it). */
  def ingestShard(batch: DataFrame, batchId: Long,
                  idCol: String, textCol: String, embCol: String,
                  stores: Stores, params: Params, outRoot: String): Unit = {
    val shard = batch.select(col(idCol), col(textCol), col(embCol))
    val owned = shard.storageLevel == StorageLevel.NONE
    if (owned) shard.persist(StorageLevel.MEMORY_AND_DISK)
    def survivors(in: DataFrame, verdicts: DataFrame) =
      in.join(verdicts.filter(col("kept")).select(col(idCol)), Seq(idCol))
    try {
      // each mutating stage hands its verdicts to `next` — the rest of
      // the cascade — which runs while the stage's own store appends
      // ---- stage 1: exact dedup (mutates fpTable, own ledger) ----
      ExactDedup.ingestBatch(shard.select(col(idCol), col(textCol)), batchId,
          idCol, textCol, stores.fpTable, stores.buckets,
          stageOut(outRoot, "exact"), next = { e =>
        val s1 = survivors(shard, e)
        // ---- stage 2: near-dup (mutates sigTable, own ledger) ----
        IncrementalDedup.ingestBatch(s1.select(col(idCol), col(textCol)),
            batchId, idCol, textCol, params.shingleN, params.numHashes,
            params.nBands, stores.sigTable, stores.buckets, params.minJaccard,
            stageOut(outRoot, "neardup"), next = { n =>
          val s2 = survivors(s1, n)
          // ---- stage 3: vector dedup (mutates vecTable, own ledger) ----
          VectorStore.ingestBatch(s2.select(col(idCol), col(embCol)),
              batchId, idCol, embCol, stores.vecTable, stores.buckets,
              params.minCosine, params.nCentroids, params.nProbe, params.dim,
              params.seedOffset, stageOut(outRoot, "vector"), next = { v =>
            gates(shard.select(col(idCol)),
              survivors(s2, v).select(col(idCol), col(textCol)),
              e, n, v, batchId, idCol, textCol, stores, params, outRoot)
          })
        })
      })
    } finally if (owned) shard.unpersist()
  }

  /** Stages 4–5 (read-only gates) over the stage-3 survivors `s3`, then
    * the combined verdicts of the shard's `ids` from the three dedup
    * stages' verdicts `e`/`n`/`v`, with the funnel counts observed on
    * that write. */
  private def gates(ids: DataFrame, s3: DataFrame, e: DataFrame,
                    n: DataFrame, v: DataFrame, batchId: Long,
                    idCol: String, textCol: String, stores: Stores,
                    params: Params, outRoot: String): Unit = {
    // the decontamination join and the LM gate's input both read the
    // survivors, and the LM gate's input and the verdict join both read
    // the contamination: persisted, each is computed once
    val survivors = s3.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // ---- stage 4: decontamination gate (read-only) ----
      // contaminatedAgainstStore returns only docs with >= 1 shared gram;
      // absent docs carry contamination 0 and pass. The OWNED variant
      // hands back a release handle for the stage's own resources (gram
      // cache + any stripe-map broadcast) so this loop releases exactly
      // its own allocations — never the caller's, and also when the
      // verdict write fails, or a retried loop would accumulate one gram
      // cache + broadcast per failed batch.
      val (contamRaw, contamRelease) = Decontaminate
        .contaminatedAgainstStoreOwned(survivors, idCol, textCol,
          stores.benchTable)
      val contam = contamRaw
        .select(col(idCol), col("contamination").as("__cont"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val s4 = survivors.join(contam, Seq(idCol), "left")
          .filter(coalesce(col("__cont"), lit(0.0)) <= params.maxContamination)
          .select(col(idCol), col(textCol))

        // ---- stage 5: LM quality gate (read-only) ----
        val lm = LmScore.scoreAgainstStore(s4, idCol, textCol, stores.modelTable)
          .select(col(idCol), col("n_bigrams").as("__lm_nb"),
            col("lm_score").as("__lm"))

        // ---- combined verdicts: one row per shard doc ----
        def stage(verdicts: DataFrame, tag: String) =
          verdicts.select(col(idCol), col("kept").as(s"__${tag}_kept"),
            col("dup_of").as(s"__${tag}_dup"))
        val droppedAt =
          when(!col("__e_kept"), "exact")
            .when(col("__n_kept").isNotNull && !col("__n_kept"), "neardup")
            .when(col("__v_kept").isNotNull && !col("__v_kept"), "vector")
            .when(col("__reached4") &&
              coalesce(col("__cont"), lit(0.0)) > params.maxContamination,
              "decontam")
            .when(col("__reached5") && col("__lm_nb") > 0 &&
              col("__lm") < params.minLmScore, "lm")
            .otherwise(lit(null).cast("string"))
        val verdicts = ids
          .join(stage(e, "e"), Seq(idCol), "left")
          .join(stage(n, "n"), Seq(idCol), "left")
          .join(stage(v, "v"), Seq(idCol), "left")
          .join(contam, Seq(idCol), "left")
          .join(lm, Seq(idCol), "left")
          .withColumn("__reached4",
            col("__e_kept") && coalesce(col("__n_kept"), lit(false)) &&
              coalesce(col("__v_kept"), lit(false)))
          .withColumn("__reached5", col("__reached4") &&
            coalesce(col("__cont"), lit(0.0)) <= params.maxContamination)
          .withColumn("dropped_at", droppedAt)
          .select(col(idCol),
            col("dropped_at").isNull.as("kept"),
            col("dropped_at"),
            coalesce(col("__e_dup"), col("__n_dup"), col("__v_dup")).as("dup_of"),
            when(col("__reached4"), coalesce(col("__cont"), lit(0.0)))
              .as("contamination"),
            when(col("__reached5"), col("__lm")).as("lm_score"))

        // ---- funnel counts: the per-batch numbers a curation run reports,
        // observed on the verdict write (no second pass over the verdicts) ----
        def after(dropStages: String*) =
          count(when(col("dropped_at").isNull ||
            !col("dropped_at").isin(dropStages: _*), 1))
        val counts = Seq("n_docs" -> count(lit(1)),
          "n_after_exact" -> after("exact"),
          "n_after_neardup" -> after("exact", "neardup"),
          "n_after_vector" -> after("exact", "neardup", "vector"),
          "n_after_decontam" -> after("exact", "neardup", "vector", "decontam"),
          "n_kept" -> count(when(col("kept"), 1)))
        val observe = counts.map { case (name, c) => c.as(name) }
        val funnel = Observation()
        writeBatch(verdicts.observe(funnel, observe.head, observe.tail: _*),
          batchId, stageOut(outRoot, "verdicts"))
        val observed = funnel.get
        writeBatch(ids.sparkSession.range(0, 1, 1, 1).select(
            counts.map { case (name, _) => lit(observed(name)).as(name) }: _*),
          batchId, stageOut(outRoot, "funnel"))
      } finally { contam.unpersist(); contamRelease() }
    } finally survivors.unpersist()
  }

  /** Overwrite `batchId`'s partition of `path` with `df` — idempotent,
    * so the combined verdict and funnel writes need no ledger. */
  private def writeBatch(df: DataFrame, batchId: Long, path: String): Unit =
    df.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(path)

  /** The funnel partitions served as the curation run's TIME SERIES —
    * per-stage drop-rate drift across batches is THE production
    * early-warning signal (a near-dup rate jumping between shards means
    * the crawl started re-fetching; an LM drop-rate drift means the
    * corpus mix shifted under the model): one row per (batch, stage)
    * with the counts entering/surviving the stage, the stage's drop
    * rate, and the rate's delta against the PREVIOUS batch (null on the
    * run's first batch — no baseline yet). A stage nothing entered has
    * a null rate (0/0 — abstain, the [[Curation.topFractionPerGroup]]
    * null-policy convention) and null deltas on both sides.
    *
    * Determinism: counts are exact int64; each rate is one
    * correctly-rounded int64→double division; each delta one double
    * subtraction — the oracle replays the identical sequence.
    *
    * Scale shape: the funnel table holds one ROW per ingested batch
    * (years of hourly shards ≈ 10⁴ rows), so the unpivot + the
    * per-stage lag window are dashboard-sized work over an already-
    * aggregated artifact — never a corpus touch. */
  def funnelHistory(spark: SparkSession, outRoot: String): DataFrame = {
    val f = spark.read.parquet(stageOut(outRoot, "funnel"))
    val stages = Seq(
      (1, "exact", "n_docs", "n_after_exact"),
      (2, "neardup", "n_after_exact", "n_after_neardup"),
      (3, "vector", "n_after_neardup", "n_after_vector"),
      (4, "decontam", "n_after_vector", "n_after_decontam"),
      (5, "lm", "n_after_decontam", "n_kept"))
    val long = f.select(col("batch_id").cast("long").as("batch_id"),
      explode(array(stages.map { case (no, name, inC, outC) =>
        struct(lit(no).as("stage_no"), lit(name).as("stage"),
          col(inC).as("n_in"), col(outC).as("n_out"))
      }: _*)).as("s"))
      .select(col("batch_id"), col("s.stage_no").as("stage_no"),
        col("s.stage").as("stage"), col("s.n_in").as("n_in"),
        col("s.n_out").as("n_out"))
      .withColumn("drop_rate",
        when(col("n_in") > 0,
          (col("n_in") - col("n_out")).cast("double") / col("n_in")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("stage_no").orderBy("batch_id")
    long.withColumn("drop_rate_delta",
      col("drop_rate") - lag(col("drop_rate"), 1).over(w))
  }

  /** The CONTINUOUS form: shards stream through [[ingestShard]], with
    * in-loop maintenance of each MUTATED store on the shared cadence
    * ([[graft.core.StoreLifecycle.stream]] — the read-only
    * benchmark/model stores need none). */
  def streamIngest(shards: DataFrame, idCol: String, textCol: String,
                   embCol: String, stores: Stores, params: Params,
                   outRoot: String, checkpoint: String,
                   compactEvery: Int = 0, maxFilesPerBucket: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StoreLifecycle.stream(shards, checkpoint, compactEvery, maxFilesPerBucket,
        ExactDedup.store(stores.fpTable, stores.buckets),
        IncrementalDedup.store(stores.sigTable, stores.buckets),
        VectorStore.store(stores.vecTable, stores.buckets))(
      ingestShard(_, _, idCol, textCol, embCol, stores, params, outRoot))
}
