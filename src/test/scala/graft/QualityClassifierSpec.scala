package graft

import org.apache.spark.sql.functions._
import graft.ext.QualityClassifier

class QualityClassifierSpec extends SparkSpec {

  private def pos = df(Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "a curated article about careful prose and clear writing"),
    (3L, "clear writing with the careful prose of a good editor")))
    .toDF("doc_id", "text")
  private def neg = df(Seq(
    (11L, "click here buy now cheap cheap cheap deals"),
    (12L, "buy now click here free free offer expires"),
    (13L, "cheap deals free offer click now")))
    .toDF("doc_id", "text")

  private def cand = df(Seq(
    (21L, "careful prose and clear writing from a good editor"), // pos-ish
    (22L, "cheap deals click here buy now"),                     // neg-ish
    (23L, ""),                                                   // abstain
    (24L, "entirely novel vocabulary zxqv wvut")))               // unseen
    .toDF("doc_id", "text")

  private def collectScores(out: org.apache.spark.sql.DataFrame) =
    out.orderBy("doc_id").collect().map(r =>
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2),
        if (r.isNullAt(3)) null else r.getDouble(3)))

  test("scores separate positive-leaning from background-leaning docs; empty text abstains") {
    val model = QualityClassifier.fit(pos, neg, "text")
      .localCheckpoint(true)
    val out = QualityClassifier.score(cand, "doc_id", "text", model)
      .orderBy("doc_id").collect()
    val byId = out.map(r => r.getLong(0) -> r).toMap
    assert(byId(21L).getDouble(3) > 0.5, "curated-vocab doc must lean positive")
    assert(byId(22L).getDouble(3) < 0.5, "spam-vocab doc must lean negative")
    // empty doc: spine row kept, zero tokens, null score (abstain)
    assert(byId(23L).getLong(1) == 0L && byId(23L).isNullAt(3))
    // all-unseen doc: every token takes the smoothed default — a finite
    // score strictly between 0 and 1, not a crash and not an abstain
    val unseen = byId(24L).getDouble(3)
    assert(unseen > 0.0 && unseen < 1.0)
  }

  test("store-served scoring is bit-identical to the in-memory fit; append == refit-on-union") {
    val p = pos; val n = neg
    val model = QualityClassifier.fit(p, n, "text").localCheckpoint(true)
    val direct = collectScores(
      QualityClassifier.score(cand, "doc_id", "text", model))
    QualityClassifier.writeClassifierStore(
      p.filter(col("doc_id") % 2 === 0), n.filter(col("doc_id") % 2 === 0),
      "text", "qc_store", buckets = 2)
    QualityClassifier.appendToClassifier(
      p.filter(col("doc_id") % 2 =!= 0), n.filter(col("doc_id") % 2 =!= 0),
      "text", "qc_store", buckets = 2, batchId = 0L)
    val served = collectScores(
      QualityClassifier.scoreAgainstStore(cand, "doc_id", "text", "qc_store"))
    assert(served.toSeq == direct.toSeq)
  }

  test("gate keeps high scorers and abstainers, drops low scorers") {
    QualityClassifier.writeClassifierStore(pos, neg,
      "text", "qc_gate", buckets = 2)
    val kept = QualityClassifier.gateAgainstStore(cand, "doc_id", "text",
        "qc_gate", minScore = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.contains(21L) && !kept.contains(22L))
    assert(kept.contains(23L), "token-less doc must abstain and keep")
  }

  test("serving or appending to a store whose build never committed refuses loudly") {
    val s = spark
    s.sql("DROP TABLE IF EXISTS qc_broken_meta")
    // simulate a crashed build: gram table present, no meta
    graft.core.Bucketing.writeBucketed(
      QualityClassifier.fit(pos, neg, "text")
        .withColumn("batch_id", lit(-1L)),
      "qc_broken", Seq("fp"), 2)
    val e1 = intercept[IllegalArgumentException] {
      QualityClassifier.scoreAgainstStore(cand, "doc_id", "text", "qc_broken")
    }
    assert(e1.getMessage.contains("no meta"))
    val e2 = intercept[IllegalArgumentException] {
      QualityClassifier.appendToClassifier(pos, neg,
        "text", "qc_broken", buckets = 2)
    }
    assert(e2.getMessage.contains("no meta"))
  }

  test("ingestClassifierBatch is exactly-once: committed batches skip, a crashed labeled append repairs exactly") {
    val s = spark
    import s.implicits._
    val p = pos; val n = neg
    val seedP = p.filter(col("doc_id") <= 2L)
    val seedN = n.filter(col("doc_id") <= 12L)
    val waveP = p.filter(col("doc_id") > 2L)
    val waveN = n.filter(col("doc_id") > 12L)
    val wave = waveP.withColumn("label", lit(1))
      .unionByName(waveN.withColumn("label", lit(0)))
    val union = collectScores(QualityClassifier.score(cand, "doc_id", "text",
      QualityClassifier.fit(p, n, "text").localCheckpoint(true))).toSeq
    QualityClassifier.writeClassifierStore(seedP, seedN, "text",
      "qc_ledger", buckets = 2)
    try {
      QualityClassifier.ingestClassifierBatch(wave, 0L, "label", "text",
        "qc_ledger", buckets = 2)
      def served = collectScores(QualityClassifier.scoreAgainstStore(
        cand, "doc_id", "text", "qc_ledger")).toSeq
      assert(served == union)
      // replay of a COMMITTED batch is a no-op (counts would double)
      QualityClassifier.ingestClassifierBatch(wave, 0L, "label", "text",
        "qc_ledger", buckets = 2)
      assert(served == union)
      // crash window: intent written, the append landed FULLY (the
      // worst case the repair must survive), no commit record — the
      // replay must converge to exactly one copy of the wave's deltas
      graft.core.IngestLedger.intent(spark, "qc_ledger", 1L)
      QualityClassifier.appendToClassifier(waveP, waveN, "text",
        "qc_ledger", buckets = 2, batchId = 1L)
      QualityClassifier.ingestClassifierBatch(wave, 1L, "label", "text",
        "qc_ledger", buckets = 2)
      assert(graft.core.IngestLedger.applied(spark, "qc_ledger", 1L))
      val unionWW = collectScores(QualityClassifier.score(cand, "doc_id",
        "text", QualityClassifier.fit(p.unionByName(waveP),
          n.unionByName(waveN), "text").localCheckpoint(true))).toSeq
      assert(served == unionWW)
      // compaction folds the generations without changing a score
      QualityClassifier.compactClassifierStore(spark, "qc_ledger",
        buckets = 2)
      assert(spark.table("qc_ledger")
        .groupBy("side", "fp").count().filter(col("count") > 1).isEmpty,
        "compaction must leave one row per (side, fp)")
      assert(served == unionWW)
      // negative ids are the base-build sentinel: refused
      val e = intercept[IllegalArgumentException] {
        QualityClassifier.ingestClassifierBatch(wave, -1L, "label", "text",
          "qc_ledger", buckets = 2)
      }
      assert(e.getMessage.contains("sentinel"))
      // a label outside {0, 1} refuses loudly instead of mis-crediting
      val bad = Seq((99L, "oops text", 2)).toDF("doc_id", "text", "label")
      val e2 = intercept[Exception] {
        QualityClassifier.fitLabeled(bad, "label", "text").collect()
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e2).exists(_.contains("must be 0 or 1")))
      // a FRACTIONAL label must refuse too, not truncate into validity
      // (0.9 cast-first became side 0 and silently mis-credited the
      // doc's tokens to the background corpus — review finding, r18)
      val frac = Seq((98L, "oops text", 0.9)).toDF("doc_id", "text", "label")
      val e3 = intercept[Exception] {
        QualityClassifier.fitLabeled(frac, "label", "text").collect()
      }
      assert(messages(e3).exists(_.contains("must be 0 or 1")))
      // a BOOLEAN label column is a legitimate 0/1 encoding and must
      // fit normally (the validity check used to fail analysis on it)
      val boolLbl = Seq((1L, "good words here", true),
        (2L, "bad words here", false)).toDF("doc_id", "text", "label")
      val fitted = QualityClassifier.fitLabeled(boolLbl, "label", "text")
        .collect()
      assert(fitted.map(_.getInt(0)).toSet == Set(0, 1))
    } finally {
      Seq("qc_ledger", "qc_ledger_meta").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
      graft.core.IngestLedger.reset(spark, "qc_ledger")
    }
  }

  test("a committed replay skips without the store's meta; a new batch still refuses") {
    val wave = pos.withColumn("label", lit(1))
      .unionByName(neg.withColumn("label", lit(0)))
    QualityClassifier.writeClassifierStore(pos, neg, "text",
      "qc_replay", buckets = 2)
    try {
      QualityClassifier.ingestClassifierBatch(wave, 0L, "label", "text",
        "qc_replay", buckets = 2)
      spark.sql("DROP TABLE qc_replay_meta")
      // batch 0 is committed: the replay is a no-op and reads no meta
      QualityClassifier.ingestClassifierBatch(wave, 0L, "label", "text",
        "qc_replay", buckets = 2)
      val e = intercept[IllegalArgumentException] {
        QualityClassifier.ingestClassifierBatch(wave, 1L, "label", "text",
          "qc_replay", buckets = 2)
      }
      assert(e.getMessage.contains("re-run writeClassifierStore"))
    } finally {
      Seq("qc_replay", "qc_replay_meta").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
      graft.core.IngestLedger.reset(spark, "qc_replay")
    }
  }

  test("an empty positive corpus still scores: background vocab leans negative, novel vocab positive") {
    val s = spark
    import s.implicits._
    val emptyPos = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val model = QualityClassifier.fit(emptyPos, neg, "text")
      .localCheckpoint(true)
    val byId = QualityClassifier.score(cand, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r).toMap
    // a doc of background-seen vocabulary leans negative...
    assert(byId(22L).getDouble(3) < 0.5)
    // ...but NOVEL vocabulary correctly leans positive: the empty
    // positive side smooths to the uniform model, under which an
    // unseen token is MORE probable than under the trained background
    // (1/v > 1/(nn+v)) — Laplace-NB semantics, not a bug
    assert(byId(24L).getDouble(3) > 0.5)
  }
}
