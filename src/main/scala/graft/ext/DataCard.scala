package graft.ext

import graft.core.StoreLifecycle
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-source corpus data card: the one-table summary every published
  * corpus release ships (The Pile's datasheet, FineWeb's per-dump
  * stats) — for each source: document and token counts, language
  * spread, the dominant language and its share, the exact-duplicate
  * rate against the WHOLE corpus, and the mean heuristic quality
  * score.
  *
  * Determinism: the mean quality is the only cross-row float reduction
  * — per-row scores quantize to `floor(score·2²⁰)` int64 BEFORE the
  * sum (order-free integer arithmetic, the x53 LM-score pattern), and
  * only the final mean divides back to double. Everything else is
  * exact counts and single divisions.
  *
  * Shape at 100 TB: one narrow feature projection over the scan; the
  * duplicate rate needs the corpus-wide fingerprint counts, so the fp
  * groupBy + count join is the one corpus-keyed shuffle pair (16-byte
  * fps + ids on the wire, never text); the language distribution and
  * final rollup group on (source[, lang]) — source-cardinality
  * outputs, map-side combined; the top-language table joins back
  * BROADCAST. */
object DataCard {

  /** Quantizer scale for the mean-quality sum (2²⁰ — scores live in
    * [0, 1], so a petabyte-scale source's sum stays far from int64
    * overflow: 2⁶³/2²⁰ ≈ 8.8e12 documents). */
  val QualityScale = 1048576L

  /** Per-doc card features in one projection: token count, quantized
    * quality score (the shared [[TextAnalysis.qualityScore]] x03
    * formula — ONE definition, so the card's mean can never drift from
    * the score every gate uses), corpus-dedup fingerprint — shared by
    * the batch card and the persisted count store. A null text yields
    * null token count / score (it contributes nothing to those sums)
    * and a null fingerprint (it can never be a duplicate) — but the
    * DOCUMENT still counts, on both the batch and incremental paths. */
  private def qualityFeats(docs: DataFrame, idCol: String, textCol: String,
                           langCol: String, sourceCol: String): DataFrame = {
    val t = col(textCol)
    docs.select(col(idCol), col(langCol), col(sourceCol),
      TextAnalysis.fingerprintMd5(t).as("fp"),
      size(TextAnalysis.wsTokens(t)).cast("long").as("__nt"),
      floor(TextAnalysis.qualityScore(t) * lit(QualityScale.toDouble))
        .cast("long").as("__score_q"))
  }

  /** @return one row per source:
    *         (source, n_docs, n_tokens, n_langs, top_lang,
    *         top_lang_share, dup_rate, mean_quality), ordered by
    *         nothing (callers order). */
  def perSource(docs: DataFrame, idCol: String, textCol: String,
                langCol: String, sourceCol: String): DataFrame = {
    val feats = qualityFeats(docs, idCol, textCol, langCol, sourceCol)
    // corpus-wide duplicate flag: fp occurrence counts joined back.
    // LEFT join + null-safe flag: a null fingerprint (null text) never
    // equi-matches, and the doc must still count in every other column
    // (dropping it would also break serveCard's append≡batch parity)
    val fpCounts = feats.filter(col("fp").isNotNull)
      .groupBy("fp").agg(count(lit(1)).as("__fp_n"))
    val flagged = feats.join(fpCounts, Seq("fp"), "left")
      .withColumn("__is_dup",
        (coalesce(col("__fp_n"), lit(0L)) > 1).cast("long"))
    val rollup = flagged.groupBy(sourceCol).agg(
      count(lit(1)).as("n_docs"),
      sum("__nt").as("n_tokens"),
      countDistinct(col(langCol)).as("n_langs"),
      sum("__is_dup").as("__n_dup"),
      sum("__score_q").as("__score_sum_q"))
    // dominant language per source: count desc, language asc tie-break.
    // Derived from feats, NOT flagged: this leg needs (source, lang)
    // only — routing it through the fp-count join would re-run the
    // card's one corpus-keyed shuffle pair in a leg that never reads it
    val langRank = Window.partitionBy(sourceCol)
      .orderBy(col("__ln").desc, col(langCol).asc)
    val topLang = feats.groupBy(sourceCol, langCol)
      .agg(count(lit(1)).as("__ln"))
      .withColumn("__rk", row_number().over(langRank))
      .filter(col("__rk") === 1)
      .select(col(sourceCol), col(langCol).as("top_lang"),
        col("__ln").as("__top_n"))
    rollup.join(broadcast(topLang), Seq(sourceCol))
      .select(col(sourceCol), col("n_docs"), col("n_tokens"),
        col("n_langs"), col("top_lang"),
        (col("__top_n").cast("double") / col("n_docs")).as("top_lang_share"),
        (col("__n_dup").cast("double") / col("n_docs")).as("dup_rate"),
        (col("__score_sum_q").cast("double") / lit(QualityScale.toDouble)
          / col("n_docs")).as("mean_quality"))
  }

  // ---------------------------------------------------------------------
  // Persisted card store — the corpus datasheet maintained INCREMENTALLY:
  // a 100 TB pipeline cannot re-scan the corpus per shard to refresh its
  // data card, so the ADDITIVE counters (doc/token counts, quantized
  // quality sums) live as per-(source, lang) delta rows in a tiny
  // bucketed store, grown at O(shard-strata) per shard and rolled up at
  // serve time. The corpus-wide duplicate rate is deliberately NOT in
  // the store: it is not additive (a later twin retroactively flips its
  // first copy's flag), so it stays a batch audit ([[perSource]]) /
  // funnel metric — the store serves every OTHER card column exactly.
  // ---------------------------------------------------------------------

  /** Per-group DUPLICATE-RATE audit — the data-card section the
    * incremental card ([[perSource]]/[[serveCard]]) deliberately
    * omits: distinct-content counts are NOT additive across deltas, so
    * the counter store cannot maintain them, but every published data
    * sheet reports them, as a BATCH audit over a release snapshot —
    * which is exactly this operator. Per `groupCol`: document count,
    * distinct normalized-content fingerprints (the x01
    * [[TextAnalysis.fingerprintMd5]] — ONE normalization, so this rate
    * and exact dedup can never disagree about what "a duplicate" is),
    * and `dup_rate = 1 − distinct/docs` over fingerprinted docs.
    * Null-text docs carry no fingerprint: counted in `n_docs`, never
    * dup-able (the [[qualityFeats]] convention).
    *
    * Scale shape: one projection + one map-side-combined groupBy with
    * an exact count-distinct per group (one extra partial-aggregate
    * exchange keyed (group, fp) — dedup-cardinality data, not corpus
    * rows); output is group-cardinality. */
  def dupRates(docs: DataFrame, textCol: String,
               groupCol: String): DataFrame =
    docs.select(col(groupCol),
        TextAnalysis.fingerprintMd5(col(textCol)).as("__fp"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"),
        count(col("__fp")).as("n_fingerprinted"),
        countDistinct(col("__fp")).as("n_distinct"))
      .select(col(groupCol), col("n_docs"), col("n_fingerprinted"),
        col("n_distinct"),
        when(col("n_fingerprinted") === 0, 0.0)
          .otherwise(lit(1.0) - col("n_distinct").cast("double") /
            col("n_fingerprinted").cast("double")).as("dup_rate"))

  /** CROSS-SOURCE OVERLAP matrix — the inter-source section of a data
    * card: for every pair of groups (sources, dumps, releases) that
    * share at least one document, the count of distinct normalized
    * contents present in BOTH and the content-set Jaccard. Published
    * releases report exactly this grain (FineWeb's dump-vs-dump
    * overlap, The Pile's inter-set dedup accounting) because a high
    * pairwise overlap means one source is a re-crawl / mirror of the
    * other and the mixture weights double-count it. Shares
    * [[TextAnalysis.fingerprintMd5]] with exact dedup ([[dupRates]]'s
    * ONE-normalization argument), so "overlap" here and "duplicate"
    * in x01 can never disagree.
    *
    * Pair convention: unordered, emitted once with `source_a <
    * source_b` (string order); pairs sharing nothing are absent (at
    * #groups² grain an all-zero matrix row is noise, and the inner
    * fp-join never manufactures it).
    *
    * Scale shape: text collapses to (group, fp) ONCE and is
    * de-duplicated map-side-combined (dedup-cardinality, 16-byte fps —
    * never text on the wire); the pair generation is a fp-keyed
    * equi self-join whose per-fp fan-out is bounded by #groups (a
    * content shared by g groups yields g·(g−1)/2 pairs — #groups is
    * mixture-weight cardinality, tens not millions); per-side distinct
    * counts are group-cardinality and join back BROADCAST. No all-pairs
    * doc comparison anywhere. */
  def crossSourceOverlap(docs: DataFrame, textCol: String,
                         groupCol: String): DataFrame = {
    val fps = docs.select(col(groupCol).as("__g"),
        TextAnalysis.fingerprintMd5(col(textCol)).as("__fp"))
      .filter(col("__fp").isNotNull && col("__g").isNotNull)
      .distinct()
    val perGroup = fps.groupBy("__g").agg(count(lit(1)).as("__n"))
    val a = fps.select(col("__g").as("source_a"), col("__fp"))
    val b = fps.select(col("__g").as("source_b"), col("__fp"))
    a.join(b, Seq("__fp")).filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(perGroup.select(col("__g").as("source_a"),
        col("__n").as("n_a"))), Seq("source_a"))
      .join(broadcast(perGroup.select(col("__g").as("source_b"),
        col("__n").as("n_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_shared"),
        (col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")).cast("double"))
          .as("jaccard"))
  }

  /** Name of the 1-row meta table kept next to a card store `table`:
    * `(q_scale)` — the quantizer contract ([[serveCard]] refuses a
    * mismatch: quality sums are only additive under ONE scale). As
    * everywhere in the store family, the meta is the build's COMMIT
    * MARKER: dropped first, written last, so a crashed (re)build
    * serves nothing rather than a half-written card. */
  def cardMeta(table: String): String = StoreLifecycle.metaTable(table)

  /** The card store family: bucketed by the source column, counter
    * deltas folded by (source, lang)
    * ([[graft.core.StoreLifecycle.CountDelta]] — count folds, unlike
    * the dedup stores' min-id folds, are not idempotent). */
  private def store(table: String, buckets: Int, langCol: String,
                    sourceCol: String) =
    StoreLifecycle.Store(table, Seq(sourceCol), buckets,
      fold = _.groupBy(sourceCol, langCol)
        .agg(sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens"),
          sum("score_sum_q").as("score_sum_q")),
      replay = StoreLifecycle.CountDelta)

  /** Store grain: one `(source, lang, n_docs, n_tokens, score_sum_q,
    * batch_id)` delta row per shard stratum — generations stay
    * distinguishable, which makes the ledgered loop's crash repair
    * exact (drop one batch's rows by id, re-append). */
  private def cardRows(docs: DataFrame, idCol: String, textCol: String,
                       langCol: String, sourceCol: String,
                       batchId: Long): DataFrame =
    qualityFeats(docs, idCol, textCol, langCol, sourceCol)
      .groupBy(sourceCol, langCol)
      .agg(count(lit(1)).as("n_docs"), sum("__nt").as("n_tokens"),
        sum("__score_q").as("score_sum_q"))
      .withColumn("batch_id", lit(batchId))

  /** Build the card store from an initial corpus slice (bucketed by
    * `sourceCol`; base rows carry the −1 sentinel so no batch repair
    * can touch them). A fresh store restarts its batch-id space. */
  def writeCardStore(docs: DataFrame, idCol: String, textCol: String,
                     langCol: String, sourceCol: String,
                     table: String, buckets: Int): Unit =
    StoreLifecycle.writeCommitted(
        cardRows(docs, idCol, textCol, langCol, sourceCol, batchId = -1L),
        store(table, buckets, langCol, sourceCol)) {
      StoreLifecycle.saveTable(
        docs.sparkSession.range(1).select(lit(QualityScale).as("q_scale")),
        cardMeta(table))
    }

  /** Grow the card with a shard's counter deltas at O(shard-strata)
    * cost — never a recount of anything already ingested. Caller-driven
    * appends own their atomicity; the ledgered loop
    * ([[ingestCardBatch]]/[[streamIngestCard]]) adds exactly-once. */
  def appendCardDeltas(docs: DataFrame, idCol: String, textCol: String,
                       langCol: String, sourceCol: String,
                       table: String, buckets: Int,
                       batchId: Long = -1L): Unit =
    StoreLifecycle.append(
      cardRows(docs, idCol, textCol, langCol, sourceCol, batchId),
      store(table, buckets, langCol, sourceCol))

  /** The card served FROM the store: delta generations summed by
    * (source, lang) — an in-bucket aggregation (the store is bucketed
    * by source, a subset of the grouping key) — then the [[perSource]]
    * rollup arithmetic minus the non-additive duplicate rate.
    * Append-then-serve ≡ batch card on the union (integer counter
    * addition is associative; CardStoreSpec pins it). Refuses a store
    * whose build never committed or whose quantizer scale differs. */
  def serveCard(spark: SparkSession, table: String,
                langCol: String = "lang",
                sourceCol: String = "source"): DataFrame = {
    StoreLifecycle.committedMeta(spark, table, "card", "writeCardStore",
      Some(QualityScale))
    val counts = spark.table(table)
      .groupBy(sourceCol, langCol)
      .agg(sum("n_docs").as("__ln"), sum("n_tokens").as("__lt"),
        sum("score_sum_q").as("__lq"))
    // n_langs counts NON-NULL language strata only — [[perSource]] uses
    // countDistinct(lang), which ignores NULLs, and the append-then-serve
    // ≡ batch-card parity must hold for corpora containing null-lang
    // docs too (their doc/token/quality counters still roll up; only the
    // language-spread count skips the null stratum, on both paths)
    val rollup = counts.groupBy(sourceCol)
      .agg(sum("__ln").as("n_docs"), sum("__lt").as("n_tokens"),
        count(when(col(langCol).isNotNull, lit(1))).as("n_langs"),
        sum("__lq").as("__score_sum_q"))
    val langRank = Window.partitionBy(sourceCol)
      .orderBy(col("__ln").desc, col(langCol).asc)
    val topLang = counts
      .withColumn("__rk", row_number().over(langRank))
      .filter(col("__rk") === 1)
      .select(col(sourceCol), col(langCol).as("top_lang"),
        col("__ln").as("__top_n"))
    rollup.join(broadcast(topLang), Seq(sourceCol))
      .select(col(sourceCol), col("n_docs"), col("n_tokens"),
        col("n_langs"), col("top_lang"),
        (col("__top_n").cast("double") / col("n_docs")).as("top_lang_share"),
        (col("__score_sum_q").cast("double") / lit(QualityScale.toDouble)
          / col("n_docs")).as("mean_quality"))
  }

  /** Collapse accumulated delta generations to one (source, lang) row
    * and one file per bucket; folded rows carry the −1 sentinel, rows of
    * a dangling-intent batch pass through unfolded, still tagged. */
  def compactCardStore(spark: SparkSession, table: String, buckets: Int,
                       langCol: String = "lang",
                       sourceCol: String = "source"): Unit =
    StoreLifecycle.compact(spark, store(table, buckets, langCol, sourceCol))

  /** One exactly-once micro-batch
    * ([[graft.core.StoreLifecycle.ingestDeltas]]): committed batches
    * skip; a batch that crashed mid-append repairs exactly by dropping
    * its tagged delta rows and re-appending deterministically. */
  def ingestCardBatch(batch: DataFrame, batchId: Long,
                      idCol: String, textCol: String,
                      langCol: String, sourceCol: String,
                      table: String, buckets: Int): Unit =
    StoreLifecycle.ingestDeltas(batch.sparkSession,
        store(table, buckets, langCol, sourceCol), batchId)(
      cardRows(batch, idCol, textCol, langCol, sourceCol, batchId))

  /** The CONTINUOUS form: every micro-batch's counters land
    * exactly-once; in-loop maintenance per
    * [[graft.core.StoreLifecycle.stream]]. */
  def streamIngestCard(shards: DataFrame, idCol: String, textCol: String,
                       langCol: String, sourceCol: String,
                       table: String, buckets: Int, checkpoint: String,
                       compactEvery: Int = 0, maxFilesPerBucket: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StoreLifecycle.stream(shards, checkpoint, compactEvery, maxFilesPerBucket,
        store(table, buckets, langCol, sourceCol))(
      ingestCardBatch(_, _, idCol, textCol, langCol, sourceCol, table,
        buckets))
}
