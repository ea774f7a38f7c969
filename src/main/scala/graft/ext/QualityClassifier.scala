package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.StoreLifecycle

/** TRAINED discriminative quality classifier — the fastText-style
  * binary positive-corpus-vs-background scorer every published
  * pretraining recipe runs alongside perplexity filtering (GPT-3
  * appendix A trains logistic regression on WebText-vs-CommonCrawl
  * features; LLaMA / RedPajama score CommonCrawl against a
  * Wikipedia-references classifier; Dolma ships a fastText quality
  * model). Reference pipeline tie: the quality-filter family the
  * engine's generative side (x53/x68 perplexity, x58 DSIR margins,
  * x61 rule gates) was still missing — this completes it with the
  * published pipelines' DISCRIMINATIVE member.
  *
  * Model form: hashed bag-of-words Naive Bayes over the engine's
  * shared 60-bit md5 token fingerprints ([[graft.functions.ShingleMd5]]
  * at gram order 1 — the exact tokenization every other text operator
  * uses, so one tokenize feeds rule gate, LM, DSIR, and this scorer).
  * Each token fingerprint carries a POSITIVE-AFFINITY weight
  *
  *   w(fp) = P(fp | pos) / (P(fp | pos) + P(fp | neg))
  *
  * under add-one (Laplace) smoothing over the joint vocabulary — the
  * Bernoulli-odds form of the NB log-likelihood ratio, chosen over the
  * log form DELIBERATELY (the [[LmScore.dsirMargin]] substitution
  * argument): `w` is a monotone function of the per-token LLR, but it
  * stays inside the engine's quantized-integer discipline — every
  * arithmetic step (long→double casts, two divisions, one sum, one
  * division, one exact power-of-two multiply, floor) is a correctly
  * rounded IEEE operation, so the quantized weights and every doc
  * score hash bit-exact across engines; a `ln` would not.
  * A doc's score is the MEAN quantized affinity of its token
  * occurrences: `cls_score = (w_sum_q / 2²⁰) / n_tokens` ∈ [0, 1],
  * >0.5 ⇒ leans positive. Docs with no tokens score null (no
  * evidence — abstain, the [[LmScore.score]] spine convention).
  *
  * Scale shape: fitting is ONE map-side-combined count per corpus
  * side (the [[LmScore.fit]] shape); weights are a groupBy over model
  * FPS (vocabulary-sized, not corpus-sized); scoring is one
  * tokenization of the candidate shard + one fp-keyed LEFT join +
  * one per-doc rollup. The three corpus totals (token mass per side,
  * joint vocabulary) are driver scalars — the stratum-cardinality
  * precedent, O(1) rows collected. Persisted, the model is an
  * fp-bucketed catalog table read in place (the x54 model-store
  * pattern: delta-generation appends, meta commit marker, serve ≡
  * refit-on-union).
  */
object QualityClassifier {

  /** Weight quantizer: 2^20 — weights live in [0, 1], so 20 fractional
    * bits keep per-token sums far from int64 range at any corpus size
    * (10¹² tokens × 2²⁰ < 2⁶³). */
  private val QScale = 1048576.0

  private def toks(textCol: String) =
    Ngrams.normTokens(col(textCol)).as("__toks")

  private def tokenFps(df: DataFrame, textCol: String): DataFrame =
    df.select(toks(textCol))
      .select(explode(graft.functions.ShingleMd5(col("__toks"), 1)).as("fp"))

  /** Fit the two hashed bag-of-words count relations in one
    * map-side-combined shuffle per side: `(side, fp, c)` with side 1 =
    * positive (curated) corpus, side 0 = background. The relation is
    * the store grain ([[writeClassifierStore]]) and [[score]]'s model
    * input — the [[LmScore.fit]] convention with the gram-order tag
    * replaced by the corpus-side tag. */
  def fit(pos: DataFrame, neg: DataFrame, textCol: String): DataFrame =
    tokenFps(pos, textCol).select(lit(1).as("side"), col("fp"))
      .unionByName(tokenFps(neg, textCol).select(lit(0).as("side"), col("fp")))
      .groupBy("side", "fp")
      .agg(count(lit(1)).as("c"))

  /** [[fit]] over ONE labeled frame — the grain labeled training data
    * actually arrives in (a stream cannot deliver two frames): side =
    * `labelCol` ∈ {1 = positive, 0 = background}. Refuses other label
    * values loudly — a silently coerced label would credit a document's
    * tokens to the wrong corpus side in a way no downstream check can
    * see. */
  def fitLabeled(docs: DataFrame, labelCol: String,
                 textCol: String): DataFrame = {
    // a BooleanType label is a legitimate 0/1 encoding: normalize it
    // up front (true → 1) — without this the isin(0, 1) validity check
    // fails ANALYSIS on boolean columns instead of accepting them
    // (review finding, round 18)
    val raw = docs.schema(labelCol).dataType match {
      case org.apache.spark.sql.types.BooleanType =>
        col(labelCol).cast("int")
      case _ => col(labelCol)
    }
    docs.select(raw.as("__lbl"), toks(textCol))
      .select(
        // validate the ORIGINAL value, cast only after: casting first
        // would truncate a fractional label (0.9 → 0) into validity and
        // mis-credit the doc's tokens — the exact silent failure this
        // check exists to refuse (review finding, round 18). A null
        // label refuses too (isin is null on null → otherwise), with
        // the coalesce keeping the crafted message intact.
        when(col("__lbl").isin(0, 1), col("__lbl").cast("int"))
          .otherwise(raise_error(concat(
            lit(s"fitLabeled: label column '$labelCol' must be 0 or 1, got "),
            coalesce(col("__lbl").cast("string"), lit("null"))))).as("side"),
        explode(graft.functions.ShingleMd5(col("__toks"), 1)).as("fp"))
      .groupBy("side", "fp")
      .agg(count(lit(1)).as("c"))
  }

  /** The three smoothing scalars of a fitted model: positive token
    * mass, background token mass, joint vocabulary size. Driver
    * scalars by design (ONE row collected — the
    * [[Mixing.materializeMixture]] stratum-cardinality precedent): they
    * parameterize every weight, so shipping them as literals keeps the
    * weight expression codegen-able with zero extra joins. */
  private def totals(model: DataFrame): (Long, Long, Long) = {
    val r = model.agg(
      sum(when(col("side") === 1, col("c"))).as("np"),
      sum(when(col("side") === 0, col("c"))).as("nn"),
      countDistinct(col("fp")).as("v")).head()
    def g(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    (g(0), g(1), g(2))
  }

  /** The quantized affinity of a token with `cp` positive and `cn`
    * background occurrences — the ONE definition both the per-fp
    * weight relation and the unseen-token default evaluate, so they
    * cannot diverge. All six steps correctly rounded IEEE ops (see
    * object doc), hence engine-bit-exact. */
  private def affinityQ(cp: Column, cn: Column,
                        npv: Long, nnv: Long): Column = {
    val p = (cp + lit(1L)).cast("double") / lit(npv.toDouble)
    val q = (cn + lit(1L)).cast("double") / lit(nnv.toDouble)
    floor(p / (p + q) * lit(QScale))
  }

  /** Score `docs` against a fitted model: one row per doc —
    * `(id, n_tokens, w_sum_q, cls_score)` with `w_sum_q` the exact
    * int64 sum of quantized token affinities (unseen tokens take the
    * smoothed default — they still carry the priors' evidence) and
    * `cls_score = (w_sum_q / 2²⁰) / n_tokens` ∈ [0, 1]; null for
    * token-less docs (an OUTER explode keeps their spine row — the
    * per-doc rollup is the full id frame, no verdict join back into
    * `docs`' upstream).
    *
    * Hand this a MATERIALIZED model (checkpointed frame or the
    * persisted store): the totals collect and the weight groupBy both
    * consume it. */
  def score(docs: DataFrame, idCol: String, textCol: String,
            model: DataFrame): DataFrame = {
    val (np, nn, v) = totals(model)
    val (npv, nnv) = (np + v, nn + v)
    require(npv > 0 && nnv > 0,
      "classifier model is empty — fit on at least one non-empty corpus " +
        "before scoring")
    val weights = model.groupBy("fp")
      .agg(sum(when(col("side") === 1, col("c"))).as("__cp"),
        sum(when(col("side") === 0, col("c"))).as("__cn"))
      .select(col("fp"),
        affinityQ(coalesce(col("__cp"), lit(0L)),
          coalesce(col("__cn"), lit(0L)), npv, nnv).as("__w"))
    // the unseen-token default: cp = cn = 0 through the same six ops
    val wDefault = {
      val p = 1.0 / npv.toDouble
      val q = 1.0 / nnv.toDouble
      math.floor(p / (p + q) * QScale).toLong
    }
    docs.select(col(idCol), toks(textCol))
      .select(col(idCol),
        explode_outer(graft.functions.ShingleMd5(col("__toks"), 1)).as("fp"))
      .join(weights, Seq("fp"), "left")
      .select(col(idCol), col("fp"),
        coalesce(col("__w"), lit(wDefault)).cast("long").as("__wq"))
      .groupBy(idCol)
      .agg(count(col("fp")).as("n_tokens"), // the null spine row doesn't count
        sum(when(col("fp").isNotNull, col("__wq"))).as("w_sum_q"))
      .select(col(idCol), col("n_tokens"), col("w_sum_q"),
        (col("w_sum_q").cast("double") / lit(QScale) /
          col("n_tokens").cast("double")).as("cls_score"))
  }

  // ---------------- persisted model store (the x54 pattern) ----------------

  def classifierMeta(table: String): String = StoreLifecycle.metaTable(table)

  /** The classifier store family: bucketed by `fp`, count deltas folded
    * by `(side, fp)` ([[graft.core.StoreLifecycle.CountDelta]] — the
    * [[LmScore]] model-store shape with the classifier's grain). */
  private def store(table: String, buckets: Int) =
    StoreLifecycle.Store(table, Seq("fp"), buckets,
      fold = _.groupBy("side", "fp").agg(sum(col("c")).as("c")),
      replay = StoreLifecycle.CountDelta)

  private def modelRows(pos: DataFrame, neg: DataFrame, textCol: String,
                        batchId: Long): DataFrame =
    fit(pos, neg, textCol).withColumn("batch_id", lit(batchId))

  /** Fit on the two labeled corpora and persist as the fp-bucketed
    * catalog table `table` (the [[LmScore.writeModelStore]] shape:
    * build rows carry the −1 batch sentinel; the meta — quantizer
    * scale — is the commit marker, written last). */
  def writeClassifierStore(pos: DataFrame, neg: DataFrame, textCol: String,
                           table: String, buckets: Int): Unit =
    StoreLifecycle.writeCommitted(modelRows(pos, neg, textCol, batchId = -1L),
        store(table, buckets)) {
      StoreLifecycle.saveTable(
        pos.sparkSession.range(1).select(lit(QScale.toLong).as("q_scale")),
        classifierMeta(table))
    }

  /** Grow the model with NEW labeled slices at O(shard) cost: delta
    * count rows in the same bucket layout, summed at serve time —
    * append-then-serve ≡ refit-on-union exactly (integer count
    * addition; QualityClassifierSpec pins it). Either side may be
    * empty (a wave of only-background docs is normal). Refuses a store
    * whose build never committed. */
  def appendToClassifier(pos: DataFrame, neg: DataFrame, textCol: String,
                         table: String, buckets: Int,
                         batchId: Long = -1L): Unit = {
    requireClassifierContract(pos.sparkSession, table)
    StoreLifecycle.append(modelRows(pos, neg, textCol, batchId),
      store(table, buckets))
  }

  /** One exactly-once micro-batch of labeled training data — the
    * [[LmScore.ingestModelBatch]] count-delta protocol
    * ([[graft.core.StoreLifecycle.ingestDeltas]]). The store's contract
    * is checked only when the batch's deltas are built, so a committed
    * replay skips without reading the store. */
  def ingestClassifierBatch(batch: DataFrame, batchId: Long,
                            labelCol: String, textCol: String,
                            table: String, buckets: Int): Unit =
    StoreLifecycle.ingestDeltas(batch.sparkSession, store(table, buckets),
        batchId) {
      requireClassifierContract(batch.sparkSession, table)
      fitLabeled(batch, labelCol, textCol).withColumn("batch_id", lit(batchId))
    }

  /** Collapse the store's delta generations to one row per (side, fp)
    * and prune the ledger — dangling-intent batches carried through
    * unfolded so their crash repair stays exact. */
  def compactClassifierStore(spark: SparkSession, table: String,
                             buckets: Int): Unit =
    StoreLifecycle.compact(spark, store(table, buckets))

  /** The CONTINUOUS form — labeled training waves arrive as a stream
    * (a new curated source lands, a new crawl snapshot lands as
    * background) and the model grows under the exactly-once ledger,
    * with in-loop maintenance per [[graft.core.StoreLifecycle.stream]]. */
  def streamIngestClassifier(labeled: DataFrame, labelCol: String,
                             textCol: String, table: String, buckets: Int,
                             checkpoint: String, compactEvery: Int = 0,
                             maxFilesPerBucket: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StoreLifecycle.stream(labeled, checkpoint, compactEvery,
        maxFilesPerBucket, store(table, buckets))(
      ingestClassifierBatch(_, _, labelCol, textCol, table, buckets))

  /** The model relation served FROM the store: delta generations
    * summed in-bucket (fp is the bucket key; the merge hint pins the
    * score join to the bucketed layout — the [[LmScore.modelFromStore]]
    * convention). */
  def classifierFromStore(spark: SparkSession, table: String): DataFrame =
    spark.table(table)
      .groupBy("side", "fp").agg(sum(col("c")).as("c"))
      .hint("merge")

  /** [[score]] served from a persisted classifier store — identical
    * results to scoring against the in-memory [[fit]] relation of the
    * same corpora (the x54 adjudication pattern), nothing refit.
    * Refuses an uncommitted build or a quantizer-scale mismatch. */
  def scoreAgainstStore(docs: DataFrame, idCol: String, textCol: String,
                        table: String): DataFrame = {
    val spark = docs.sparkSession
    requireClassifierContract(spark, table)
    score(docs, idCol, textCol, classifierFromStore(spark, table))
  }

  /** Gate a corpus at a classifier threshold — the published
    * composition (GPT-3's "documents scored by the classifier were
    * kept if score > threshold"): keep docs with
    * `cls_score ≥ minScore`; token-less docs ABSTAIN and keep (no
    * evidence is not low quality — the [[Curation.topFractionPerGroup]]
    * null policy). Returns `docs`' columns plus the score that judged
    * each row. */
  def gateAgainstStore(docs: DataFrame, idCol: String, textCol: String,
                       table: String, minScore: Double): DataFrame =
    docs.join(
        scoreAgainstStore(docs, idCol, textCol, table)
          .select(col(idCol), col("cls_score")),
        Seq(idCol), "left")
      .filter(col("cls_score").isNull || col("cls_score") >= minScore)

  private def requireClassifierContract(spark: SparkSession,
                                        table: String): Unit =
    StoreLifecycle.committedMeta(spark, table, "classifier",
      "writeClassifierStore", Some(QScale.toLong))
}
