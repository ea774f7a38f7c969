package graft

import graft.ext.{MinHash, SimHash, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MinHash/LSH near-dup operator semantics + plan shape. */
class MinHashSpec extends SparkSpec {
  private val docs = df(Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    // near dup of 1: one appended word → 15/16 signature match, 3 shared
    // bands (deterministic given the fixed MinHash seed — verified)
    (3L, "the quick brown fox jumps over the lazy dog again"),
    (4L, "completely different content about spark engines and parquet files"),
    (5L, "too short"),                                     // < 3 words → dropped
    (6L, "")))                                             // empty → dropped
    .toDF("doc_id", "text")

  test("exact duplicates share all bands and estimate jaccard 1.0") {
    val pairs = MinHash.nearDupPairs(docs, "doc_id", "text", 3, 16, 4, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(pairs.exists { case (a, b, j) => a == 1L && b == 2L && j == 1.0 })
  }

  test("near-duplicates are found; unrelated docs are not paired") {
    val pairs = MinHash.nearDupPairs(docs, "doc_id", "text", 3, 16, 4, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(pairs.exists { case (a, b, j) => a == 1L && b == 3L && j == 15.0 / 16 })
    assert(!pairs.exists { case (a, b, _) => b == 4L || a == 4L })
  }

  test("docs with <3 words produce no signature and never pair") {
    val pairs = MinHash.nearDupPairs(docs, "doc_id", "text", 3, 16, 4, 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(!pairs.exists { case (a, b) => a >= 5L || b >= 5L })
  }

  test("signature is invariant under input row order") {
    def sigs(d: DataFrame) = d.select(col("doc_id"),
        MinHash.signature(
          transform(MinHash.shingles(col("text"), 3), MinHash.shingleHash(_)), 16)
          .as("sig"))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(sigs(docs) == sigs(df(Seq(
      (4L, "completely different content about spark engines and parquet files"),
      (3L, "the quick brown fox jumps over the lazy dog again"),
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (6L, ""), (5L, "too short")))
      .toDF("doc_id", "text")))
  }

  test("plan has no cartesian product or nested-loop join") {
    val plan = MinHash.nearDupPairs(docs, "doc_id", "text", 3, 16, 4, 0.5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("maxBandDocs skips hot boilerplate buckets but keeps small-bucket pairs") {
    // 10 identical boilerplate docs (every band key a 10-doc hot bucket,
    // 45 quadratic pairs) + one isolated near-dup pair whose buckets
    // hold ≤ 2 docs
    val boiler = (10L until 20L).map(i => (i, "this website uses cookies to improve your experience"))
    val corpus = df(boiler ++ Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog again")))
      .toDF("doc_id", "text")
    def pairsAt(cap: Int) =
      MinHash.nearDupPairs(corpus, "doc_id", "text", 3, 16, 4, 0.5, maxBandDocs = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pairsAt(0)
    val capped = pairsAt(5)
    assert(uncapped.size == 45 + 1)              // full quadratic blowup + the pair
    assert(capped == Set((1L, 2L)))              // hot buckets skipped, pair survives
    assert(capped.subsetOf(uncapped))
    // same contract on the find-then-confirm path
    val cappedExact = MinHash.exactJaccardPairs(corpus, "doc_id", "text",
        3, 16, 4, 0.3, maxBandDocs = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cappedExact == Set((1L, 2L)))
  }

  test("native ShingleMd5 expression is bit-identical to the HOF shingle chain") {
    val data = df(Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "too short"),
      (3L, ""),
      (4L, "  Padded   WHITESPACE\ttabs and\nnewlines here  "),
      (5L, "中文 文本 带有 非 ASCII 字符 混合 tokens here"),
      (6L, "exactly three tokens")))
      .toDF("doc_id", "text")
    val toks = regexp_extract_all(lower(trim(col("text"))), lit("\\S+"), lit(0))
    val both = data.select(col("doc_id"),
        graft.functions.ShingleMd5(toks, 3).as("native"),
        transform(MinHash.shingles(col("text"), 3), MinHash.shingleHash(_)).as("hof"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"shingle hashes mismatch for doc ${r.getLong(0)}")
    }
    assert(both.count(_.getSeq[Long](1).nonEmpty) == 4) // docs 2,3 too short
  }

  test("native MinHashSig expression is bit-identical to the HOF formulation") {
    val both = MinHash.shingleHashArrays(docs, "doc_id", "text", 3)
      .select(col("doc_id"),
        graft.functions.MinHashSig(col("__hh"), 16).as("native"),
        MinHash.signature(col("__hh"), 16).as("hof"))
      .collect()
    assert(both.length == docs.count())
    both.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2), s"null mismatch for doc ${r.getLong(0)}")
      if (!r.isNullAt(1))
        assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"sig mismatch for doc ${r.getLong(0)}")
    }
  }

  test("exact jaccard confirms candidates: exact dup = 1.0, near dup in (0.8, 1)") {
    val pairs = MinHash.exactJaccardPairs(docs, "doc_id", "text", 3, 16, 4, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 2L)) == 1.0)
    val nd = pairs((1L, 3L)) // one appended word: 7 of 8 shingles shared
    assert(nd == 7.0 / 8)
    assert(!pairs.keys.exists(p => p._1 == 4L || p._2 == 4L))
  }
}

/** SimHash fingerprint + banded Hamming near-dup semantics. */
class SimHashSpec extends SparkSpec {
  private val docs = df(Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup → hamming 0
    (3L, "the quick brown fox jumps over the lazy dog again"),
    (4L, "completely different content about spark engines and parquet files"),
    (5L, "too short")))
    .toDF("doc_id", "text")

  test("exact duplicates have hamming 0 and always pair") {
    val rows = SimHash.nearDupPairs(docs, "doc_id", "text", 3, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(rows.contains((1L, 2L, 0)))
    assert(!rows.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("fingerprint is a 60-bit value, stable across row order") {
    def fps(d: org.apache.spark.sql.DataFrame) =
      SimHash.fingerprints(d, "doc_id", "text", 3)
        .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val a = fps(docs)
    assert(a.forall { case (_, f) => f >= 0L && f < (1L << 60) })
    assert(a == fps(df(docs.collect().reverse.map(r => (r.getLong(0), r.getString(1))).toSeq)
      .toDF("doc_id", "text")))
  }

  test("native SimHash60 expression is bit-identical to the HOF formulation") {
    val both = MinHash.shingleHashArrays(docs, "doc_id", "text", 3)
      .select(col("doc_id"),
        graft.functions.SimHash60(col("__hh")).as("native"),
        SimHash.simhash(col("__hh")).as("hof"))
      .collect()
    assert(both.length == docs.count())
    both.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2), s"null mismatch for doc ${r.getLong(0)}")
      if (!r.isNullAt(1))
        assert(r.getLong(1) == r.getLong(2), s"fingerprint mismatch for doc ${r.getLong(0)}")
    }
  }

  test("maxBandDocs skips hot fingerprint buckets, keeps small-bucket pairs") {
    // identical boilerplate docs share an identical fingerprint: all 4
    // band buckets hold 10 docs; the isolated exact-dup pair's buckets
    // hold 2
    val boiler = (10L until 20L).map(i => (i, "this website uses cookies to improve your experience"))
    val corpus = df(boiler ++ Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog")))
      .toDF("doc_id", "text")
    val capped = SimHash.nearDupPairs(corpus, "doc_id", "text", 3,
        maxHamming = 3, maxBandDocs = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L)))
  }

  test("banding is exhaustive for hamming <= 3: flipping 3 bits still pairs") {
    // doc pair (1,2) is identical; a 3-bit perturbation of one fingerprint
    // must still share at least one of the 4 bands (pigeonhole)
    val f = SimHash.fingerprints(docs.filter(col("doc_id") === 1), "doc_id", "text", 3)
      .collect().head.getLong(1)
    val perturbed = f ^ ((1L << 2) | (1L << 20) | (1L << 45)) // bits in 3 different bands
    val bandsOf = (x: Long) => (0 until 4).map(b => (b, (x >> (15 * b)) & 0x7FFF)).toSet
    assert(bandsOf(f).intersect(bandsOf(perturbed)).nonEmpty)
  }
}

/** Similarity-search operator semantics + plan shape. */
class SimilaritySpec extends SparkSpec {
  private val vecs = df(Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),   // identical to 0
    (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),   // orthogonal to 0
    (3L, Seq(-1.0f, 0.0f, 0.0f, 0.0f)),  // opposite of 0
    (4L, Seq(0.6f, 0.8f, 0.0f, 0.0f))))
    .toDF("vec_id", "embedding")

  test("cosine: identical → 1, orthogonal → 0, opposite → −1") {
    val sims = vecs.filter(col("vec_id") > 0).crossJoin(
        vecs.filter(col("vec_id") === 0).select(col("embedding").as("q")))
      .select(col("vec_id"), Similarity.cosine(col("q"), col("embedding")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(sims(1L) == 1.0 && sims(2L) == 0.0 && sims(3L) == -1.0)
    // float32 inputs: 0.6f/0.8f are not exact, so only ~1e-7 from 0.6
    assert(math.abs(sims(4L) - 0.6) < 1e-6)
  }

  test("brute-force top-k ranks by sim desc with id tie-break, excludes self") {
    val out = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0),
        "vec_id", "embedding", 2)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id"))).toSeq
    assert(out == Seq((1, 1L), (2, 4L))) // identical first, then 0.6; no self
  }

  test("lsh top-k plan is hash-join shaped: no cartesian product") {
    val plan = Similarity.lshTopK(vecs, vecs.filter(col("vec_id") === 0),
        "vec_id", "embedding", 2, 4, 4, 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("embedding near-dup pairs identical vectors at cosine 1, no cartesian") {
    val out = Similarity.nearDupPairs(vecs, "vec_id", "embedding",
      minCosine = 0.99, nBands = 4, bandBits = 4, dim = 4)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows.contains((0L, 1L, 1.0)))    // identical pair found via shared buckets
    assert(!rows.exists(p => p._1 == 3L || p._2 == 3L)) // opposite vector never pairs
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("maxBandDocs skips hot embedding buckets, keeps small-bucket pairs") {
    // 10 identical vectors: identical signatures, every band bucket holds
    // 10; the isolated identical pair (100, 101) sits in 2-doc buckets
    val hot = (10L until 20L).map(i => (i, Seq(1.0f, 0.0f, 0.0f, 0.0f)))
    val corpus = df(hot ++ Seq(
      (100L, Seq(0.0f, 0.0f, 1.0f, 0.0f)),
      (101L, Seq(0.0f, 0.0f, 1.0f, 0.0f))))
      .toDF("vec_id", "embedding")
    val capped = Similarity.nearDupPairs(corpus, "vec_id", "embedding",
        minCosine = 0.99, nBands = 4, bandBits = 4, dim = 4, maxBandDocs = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((100L, 101L)))
  }

  test("ivf top-k: identical vector lands in the same cell and ranks first; no cartesian") {
    val out = Similarity.ivfTopK(vecs, vecs.filter(col("vec_id") === 0),
      "vec_id", "embedding", k = 3, nCentroids = 8, nProbe = 8, dim = 4)
    // probing ALL cells makes IVF exhaustive → must equal brute force
    val brute = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0),
      "vec_id", "embedding", 3)
    assert(out.orderBy("rank").collect().map(_.toSeq).toSeq ==
      brute.orderBy("rank").collect().map(_.toSeq).toSeq)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
  }

  test("identical vectors always share every lsh bucket") {
    val bands = Similarity.bandedSignatures(vecs, "vec_id", "embedding", 4, 4, 4)
    val b0 = bands.filter(col("vec_id") === 0).select("band", "band_key")
    val b1 = bands.filter(col("vec_id") === 1).select("band", "band_key")
    assert(b0.exceptAll(b1).count() == 0)
  }

  test("topCells selection is bit-identical to ranking cellScores by (probeRank, cell) — both codebooks") {
    import org.apache.spark.sql.expressions.Window
    val real = graft.util.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def windowed(scorer: graft.ext.CellScorer, nProbe: Int): Seq[(Long, Int, Int)] = {
      val w = Window.partitionBy("vec_id")
        .orderBy(col("__rank").asc, col("cell").asc)
      real.select(col("vec_id"),
          posexplode(scorer.cellScores(col("embedding"))).as(Seq("cell", "__score")))
        .withColumn("__rank", scorer.probeRank(col("__score")))
        .withColumn("pr", row_number().over(w))
        .filter(col("pr") <= nProbe)
        .select(col("vec_id"), (col("pr") - 1).cast("int"), col("cell"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq.sorted
    }
    def fused(scorer: graft.ext.CellScorer, nProbe: Int): Seq[(Long, Int, Int)] =
      real.select(col("vec_id"),
          posexplode(scorer.topCells(col("embedding"), nProbe)).as(Seq("pos", "cell")))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq.sorted
    val lcg = graft.ext.LcgCellScorer(16, 64, 100000L)
    assert(fused(lcg, 4) == windowed(lcg, 4))
    val codebook = graft.ext.KMeans.fit(real.filter(col("vec_id") % 3 === 0),
      "vec_id", "embedding", k = 8, rounds = 2)
    val trained = graft.ext.TrainedCellScorer.fromCodebook(codebook)
    assert(fused(trained, 3) == windowed(trained, 3))
    // nProbe past the cell count returns every cell, best-first
    assert(fused(trained, 99).groupBy(_._1).forall(_._2.size == trained.nCells))
  }

  test("topCells tie-break: duplicated centroids resolve to the LOWEST cell id, matching the windowed rule") {
    import org.apache.spark.sql.expressions.Window
    // codebook with deliberate duplicates: cells 0/2 and 1/4 are
    // identical, so every embedding ties on them — the selection must
    // prefer the lower id, exactly as `ORDER BY rank, cell` does
    val q = graft.functions.TrainedCells.quantize _
    val c0 = Array(1.0, 0.0).map(q)
    val c1 = Array(0.0, 1.0).map(q)
    val c2 = Array(-1.0, 0.5).map(q)
    val cents = (c0 ++ c1 ++ c0 ++ c2 ++ c1).map(identity)
    val scorer = graft.ext.TrainedCellScorer(cents, dim = 2)
    val vecs = df(Seq(
      (0L, Seq(0.9f, 0.1f)), (1L, Seq(0.1f, 0.9f)),
      (2L, Seq(-0.7f, 0.6f)), (3L, Seq(0.5f, 0.5f))))
      .toDF("vec_id", "embedding")
    val w = Window.partitionBy("vec_id").orderBy(col("__rank").asc, col("cell").asc)
    def windowed(nProbe: Int) = vecs.select(col("vec_id"),
        posexplode(scorer.cellScores(col("embedding"))).as(Seq("cell", "__score")))
      .withColumn("__rank", scorer.probeRank(col("__score")))
      .withColumn("pr", row_number().over(w))
      .filter(col("pr") <= nProbe)
      .select(col("vec_id"), (col("pr") - 1).cast("int"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq.sorted
    def fused(nProbe: Int) = vecs.select(col("vec_id"),
        posexplode(scorer.topCells(col("embedding"), nProbe)).as(Seq("pos", "cell")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq.sorted
    (1 to 5).foreach { nProbe =>
      assert(fused(nProbe) == windowed(nProbe), s"diverged at nProbe=$nProbe")
    }
    // the duplicated cells' lower ids must win: cell 2 (== cell 0) and
    // cell 4 (== cell 1) can never be selected while their twin fits
    val all = fused(5)
    Seq(0L, 1L, 2L, 3L).foreach { v =>
      val order = all.filter(_._1 == v).sortBy(_._2).map(_._3)
      assert(order.indexOf(0) < order.indexOf(2), s"vec $v: $order")
      assert(order.indexOf(1) < order.indexOf(4), s"vec $v: $order")
    }
  }

  test("topCells rejects a zero probe budget at construction instead of failing per row") {
    def rootMessages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
    val lcg = intercept[Throwable] {
      df(Seq((0L, Seq(1f, 0f, 0f, 0f)))).toDF("vec_id", "embedding")
        .select(graft.ext.LcgCellScorer(8, 4, 100000L)
          .topCells(col("embedding"), 0))
        .collect()
    }
    assert(rootMessages(lcg).contains("nProbe"))
    val trained = intercept[Throwable] {
      graft.functions.TrainedTopCells(col("embedding"),
        Array(1L, 2L, 3L, 4L), dim = 2, nProbe = 0)
    }
    assert(rootMessages(trained).contains("nProbe"))
  }

  test("topCells on a NaN embedding is deterministic: all-NaN scores select the lowest cell ids") {
    // a NaN component poisons every LCG cell score, so selection falls
    // back to the stable id order — pinned so degenerate inputs (out of
    // contract upstream) stay deterministic rather than crashing
    val bad = df(Seq((0L, Seq(Float.NaN, 1.0f, 0.0f, 0.0f))))
      .toDF("vec_id", "embedding")
    val cells = bad.select(
        graft.ext.LcgCellScorer(8, 4, 100000L).topCells(col("embedding"), 3).as("c"))
      .collect().head.getSeq[Int](0)
    assert(cells == Seq(0, 1, 2))
  }

  test("native hyperplane signature is bit-identical to the HOF formulation (float + double)") {
    val real = graft.util.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def both(df: org.apache.spark.sql.DataFrame, embCol: String) = {
      val out = df.select(col("vec_id"),
          Similarity.hyperplaneSignature(col(embCol), 16, 64).as("nat"),
          Similarity.hyperplaneSignatureHof(col(embCol), 16, 64).as("hof"))
        .collect()
      out.foreach(r => assert(r.getSeq[Int](1) == r.getSeq[Int](2),
        s"signature mismatch for vec ${r.getLong(0)}"))
    }
    both(real, "embedding")
    both(real.withColumn("emb_d",
      expr("transform(embedding, x -> cast(x as double))")), "emb_d")
  }
}

/** Text fingerprinting: the native rolling hash must equal the exact
  * mathematical fold, stay linear, and survive ANSI on long inputs. */
class TextAnalysisSpec extends SparkSpec {
  test("rollingHash equals the BigInt fold, incl. unicode and long inputs") {
    val s = spark; import s.implicits._
    val texts = Seq(
      "",
      "a",
      "The Quick  Brown fox",      // normalization lowers + collapses ws
      "中文 text with UNICODE ±",
      "x" * 5000)                  // the old HOF fold overflowed here (ANSI)
    val out = texts.toDF("text")
      .select(graft.ext.TextAnalysis.rollingHash(col("text")).as("h"))
      .collect().map(_.getLong(0))
    val P = BigInt("2305843009213693951")
    def ref(t: String): Long = {
      val norm = t.trim.toLowerCase.replaceAll("\\s+", " ")
      var acc = BigInt(0)
      norm.codePoints().toArray.foreach { cp => acc = (acc * 257 + cp) % P }
      acc.toLong
    }
    texts.zip(out).foreach { case (t, h) =>
      assert(h == ref(t), s"rolling-hash mismatch for '${t.take(20)}'")
    }
    assert(out.distinct.length == out.length - 0) // all sample hashes distinct
  }
}

/** Dup-cluster resolution: pairs → connected components, min-id canon. */
class DupClustersSpec extends SparkSpec {
  import graft.ext.DupClusters

  test("chains and separate clusters resolve to min-id canonicals") {
    val s = spark; import s.implicits._
    // chain 1-2-3-4-5 (tests multi-round propagation) + island {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val out = DupClusters.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("empty pair set yields empty clusters") {
    val s = spark; import s.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(DupClusters.connectedComponents(empty).count() == 0)
  }

  test("quality canonicals pick the best member per cluster; ties to min id; missing quality sorts LAST") {
    val s = spark; import s.implicits._
    // clusters: {1,2,3} canonical 1, {10,11} canonical 10
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "canonical_id")
    // doc 2 is the longest of its cluster; 10/11 tie -> min id 10;
    // doc 3 has NO quality row (left join null) and must never win
    val quality = Seq((1L, 5L), (2L, 9L), (10L, 4L), (11L, 4L))
      .toDF("doc_id", "q")
    val out = DupClusters.canonicalByQuality(clusters, quality, "doc_id", "q")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 10L -> 10L, 11L -> 10L))
    // Long.MinValue is a hostile sentinel, not a winner: a min(-q)
    // argmax would overflow (-MinValue == MinValue) and crown it
    val sentinel = Seq((1L, Long.MinValue), (2L, 9L), (3L, 7L),
        (10L, 4L), (11L, 4L))
      .toDF("doc_id", "q")
    val out2 = DupClusters.canonicalByQuality(clusters, sentinel, "doc_id", "q")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out2(1L) == 2L && out2(3L) == 2L,
      s"the MinValue member must not win its cluster, got $out2")
  }

  test("a chain converging EXACTLY at the round budget succeeds; one link more throws") {
    val s = spark; import s.implicits._
    // 5-link chain: the min label reaches node 6 in round 5, so round 5
    // reports changes and only the verification round observes the
    // confirming zero-change pass — maxIters = 5 must still succeed
    val chain5 = (1L until 6L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val out = DupClusters.connectedComponents(chain5, maxIters = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == (1L to 6L).map(i => (i, 1L)).toSet)
    // diameter 6 > budget 5: genuinely unconverged, must fail loudly
    val chain6 = (1L until 7L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    assertThrows[IllegalStateException] {
      DupClusters.connectedComponents(chain6, maxIters = 5).collect()
    }
  }
}

/** Deterministic sampling: reproducibility, rate accuracy, stratum rates. */
class SamplingSpec extends SparkSpec {
  import graft.ext.Sampling

  test("bernoulli sample is deterministic and near the nominal rate") {
    val s = spark; import s.implicits._
    val df = (1L to 10000L).toDF("id")
    val a = Sampling.bernoulli(df, "id", 0.3).collect().map(_.getLong(0)).toSet
    val b = Sampling.bernoulli(df, "id", 0.3).collect().map(_.getLong(0)).toSet
    assert(a == b)                              // reproducible
    assert(math.abs(a.size - 3000) < 200, s"got ${a.size}")  // ~rate
    // monotone: a lower rate selects a subset of a higher rate
    val lower = Sampling.bernoulli(df, "id", 0.1).collect().map(_.getLong(0)).toSet
    assert(lower.subsetOf(a))
  }

  test("exactKPerStratum: exactly k per full stratum, everything from small ones, seed-pinned") {
    val s = spark; import s.implicits._
    val df = ((1L to 30L).map(i => (i, "big")) ++ Seq((100L, "small"),
      (101L, "small"))).toDF("id", "grp")
    def draw(seed: String) = Sampling.exactKPerStratum(df, "grp", "id", 5, seed)
      .collect().map(r => (r.getString(1), r.getLong(0)))
    val a = draw("s1")
    assert(a.count(_._1 == "big") == 5, "a 30-doc stratum yields exactly k")
    assert(a.count(_._1 == "small") == 2, "a below-k stratum keeps everything")
    assert(draw("s1").toSet == a.toSet, "same seed reproduces the draw")
    assert(draw("s2").filter(_._1 == "big").toSet !=
      a.filter(_._1 == "big").toSet, "a new seed draws differently")
  }

  test("stratified rates apply per stratum with the default as fallback") {
    val s = spark; import s.implicits._
    val df = (1L to 9000L).map(i =>
      (i, Seq("en", "zh", "other")((i % 3).toInt))).toDF("id", "lang")
    val out = Sampling.stratified(df, "lang", "id",
      Map("en" -> 0.9, "zh" -> 0.1), defaultRate = 0.5)
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(out("en") - 2700) < 150, out.toString)    // 3000 * .9
    assert(math.abs(out("zh") - 300) < 150, out.toString)     // 3000 * .1
    assert(math.abs(out("other") - 1500) < 150, out.toString) // 3000 * .5
  }

  test("split leakage audits a straddling pair; a cluster-safe split audits to zero cross rows") {
    val s = spark; import s.implicits._
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    // 1/2 straddle, 3/4 co-located
    val split = Seq((1L, "train"), (2L, "valid"), (3L, "train"),
        (4L, "train"))
      .toDF("doc_id", "split")
    val out = Sampling.splitLeakage(pairs, split, "doc_id", "split")
      .orderBy("split_a", "split_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(out == Seq(("train", "train", 1L), ("train", "valid", 1L)))
    // a split keyed on the pair's shared cluster can never straddle
    val safe = Seq((1L, "valid"), (2L, "valid"), (3L, "train"),
        (4L, "train"))
      .toDF("doc_id", "split")
    val out2 = Sampling.splitLeakage(pairs, safe, "doc_id", "split")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(out2 == Set(("valid", "valid"), ("train", "train")))
  }

  test("cluster-safe split keeps near-dup clusters on one side; singletons draw on their own id") {
    val s = spark; import s.implicits._
    val docs = (1L to 40L).map { i =>
      // four near-identical variants per base text → clusters of size 4
      val base = (1 to 30).map(t => s"w${(i - 1) / 4}t$t")
      (i, (base :+ s"tail$i").mkString(" "))
    }.toDF("doc_id", "text")
    val out = Sampling.clusterSafeSplit(docs, "doc_id", "text",
        shingleN = 3, numHashes = 16, nBands = 8, minJaccard = 0.5,
        validRate = 0.5)
      .select("doc_id", "split_key", "split")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.length == 40)
    // every 4-doc cluster agrees on its key and side
    out.groupBy(t => (t._1 - 1) / 4).values.foreach { cluster =>
      assert(cluster.map(_._2).distinct.length == 1, cluster.toString)
      assert(cluster.map(_._3).distinct.length == 1, cluster.toString)
      assert(cluster.map(_._2).head == cluster.map(_._1).min)
    }
    // with 10 clusters at rate .5, both sides are hit
    assert(out.map(_._3).distinct.sorted.toSeq == Seq("train", "valid"))
    // a singleton doc with no dup pair draws on its own id
    val solo = df(Seq((99L, (1 to 30).map(t => s"solo$t").mkString(" "))))
      .toDF("doc_id", "text")
    val soloOut = Sampling.clusterSafeSplit(docs.unionByName(solo), "doc_id",
        "text", 3, 16, 8, 0.5, 0.5)
      .filter($"doc_id" === 99L).select("split_key").head().getLong(0)
    assert(soloOut == 99L)
  }
}

/** Incremental dedup of a new shard against a persisted bucketed
  * signature store ([[graft.ext.IncrementalDedup]]). */
class IncrementalDedupSpec extends SparkSpec {
  import graft.ext.IncrementalDedup

  private val store = df(Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "completely different content about spark engines and parquet files"),
    (3L, "a third document with some unique words entirely")))
    .toDF("doc_id", "text")
  private val shard = df(Seq(
    (10L, "the quick brown fox jumps over the lazy dog"),       // exact dup of 1
    (11L, "the quick brown fox jumps over the lazy dog again"), // 15/16 near dup of 1
    (12L, "fresh material sharing nothing with the ingested corpus"),
    (13L, "too short")))                                        // < 3 words: no signature
    .toDF("doc_id", "text")

  test("files-per-bucket trigger: compactStoreIfNeeded fires only past the decay threshold") {
    IncrementalDedup.writeSignatureStore(store, "doc_id", "text", 3, 16, 4,
      "inc_fpb_store", 4)
    val before = spark.table("inc_fpb_store")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    // freshly written: exactly one generation — nothing to do
    assert(!IncrementalDedup.compactStoreIfNeeded(spark, "inc_fpb_store", 4,
      maxFilesPerBucket = 1))
    // two appended generations push past maxFilesPerBucket = 1
    IncrementalDedup.appendSignatures(
      df(Seq((20L, "novel words for the first appended generation here")))
        .toDF("doc_id", "text"),
      "doc_id", "text", 3, 16, 4, "inc_fpb_store", 4)
    IncrementalDedup.appendSignatures(
      df(Seq((21L, "and different novel words for the second generation")))
        .toDF("doc_id", "text"),
      "doc_id", "text", 3, 16, 4, "inc_fpb_store", 4)
    assert(graft.core.Bucketing.dataFileCount(spark, "inc_fpb_store") > 4)
    assert(IncrementalDedup.compactStoreIfNeeded(spark, "inc_fpb_store", 4,
      maxFilesPerBucket = 1), "decayed store must trigger a compaction")
    // compacted back to <= one file per bucket, contents preserved
    assert(graft.core.Bucketing.dataFileCount(spark, "inc_fpb_store") <= 4)
    val after = spark.table("inc_fpb_store")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(after.size == before.size + 8) // 2 appended docs x 4 bands
    // and the trigger is quiescent again right after the compaction
    assert(!IncrementalDedup.compactStoreIfNeeded(spark, "inc_fpb_store", 4,
      maxFilesPerBucket = 1))
  }

  test("store matches drop the new doc; fresh and signatureless docs keep") {
    IncrementalDedup.writeSignatureStore(store, "doc_id", "text", 3, 16, 4,
      "inc_dedup_store_spec", 4)
    val out = IncrementalDedup.dedupAgainstStore(shard, "doc_id", "text", 3, 16, 4,
        spark.table("inc_dedup_store_spec"), 0.5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq
    assert(out == Seq((10L, false, 1L, 1L), (11L, false, 1L, 1L),
      (12L, true, 0L, -1L), (13L, true, 0L, -1L)))
  }

  test("the ingest loop: dedup shard, append survivors' signatures, next shard sees both") {
    val F = org.apache.spark.sql.functions
    IncrementalDedup.writeSignatureStore(store, "doc_id", "text", 3, 16, 4,
      "inc_dedup_loop_store", 4)
    // shard A: 10 duplicates store doc 1 and drops; 12 is fresh and keeps
    val shardA = shard.filter(F.col("doc_id").isin(10L, 12L))
    val resA = IncrementalDedup.dedupAgainstStore(shardA, "doc_id", "text",
      3, 16, 4, spark.table("inc_dedup_loop_store"), 0.5)
    val keptA = resA.filter(F.col("kept")).select("doc_id")
    assert(keptA.collect().map(_.getLong(0)).toSeq == Seq(12L))
    IncrementalDedup.appendSignatures(shardA.join(keptA, "doc_id"),
      "doc_id", "text", 3, 16, 4, "inc_dedup_loop_store", 4)
    // shard B: 20 duplicates original store doc 2; 21 duplicates doc 12,
    // which entered the store only via the append — both must drop
    val shardB = df(Seq(
      (20L, "completely different content about spark engines and parquet files"),
      (21L, "fresh material sharing nothing with the ingested corpus"),
      (22L, "and now for something else entirely unrelated to every shard")))
      .toDF("doc_id", "text")
    val resB = IncrementalDedup.dedupAgainstStore(shardB, "doc_id", "text",
        3, 16, 4, spark.table("inc_dedup_loop_store"), 0.5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq
    assert(resB == Seq((20L, false, 2L), (21L, false, 12L), (22L, true, -1L)))
  }

  test("signatureless docs emit NO store rows (no band_key \"\" hot key)") {
    // a null signature must band to a null array, not nBands empty-string
    // keys — otherwise every short doc on both sides piles onto the same
    // nBands hot keys and the candidate set grows quadratically with the
    // accumulated store
    IncrementalDedup.writeSignatureStore(
      store.unionByName(df(Seq((99L, "too short"))).toDF("doc_id", "text")),
      "doc_id", "text", 3, 16, 4, "inc_dedup_short_store", 4)
    val t = spark.table("inc_dedup_short_store")
    assert(t.filter(org.apache.spark.sql.functions.col("doc_id") === 99L).count() == 0)
    assert(t.filter(org.apache.spark.sql.functions.col("band_key") === "").count() == 0)
  }

  test("streamIngest equals the batch ingest loop shard by shard") {
    val F = org.apache.spark.sql.functions
    val root = graft.util.Staging.exitScopedRoot("graft-inc-stream-")
    val in = root.resolve("in"); java.nio.file.Files.createDirectories(in)
    // twin stores: one consumed by the stream, one by the batch loop
    IncrementalDedup.writeSignatureStore(store, "doc_id", "text", 3, 16, 4,
      "inc_stream_store", 4)
    IncrementalDedup.writeSignatureStore(store, "doc_id", "text", 3, 16, 4,
      "inc_stream_batch_store", 4)
    val shardA = shard                                  // dups, fresh, signatureless
    val shardB = df(Seq(
      (20L, "completely different content about spark engines and parquet files"),
      (21L, "fresh material sharing nothing with the ingested corpus"), // dup of 12 — in store only via shard A's append
      (22L, "and now for something else entirely unrelated to every shard")))
      .toDF("doc_id", "text")
    def stage(d: org.apache.spark.sql.DataFrame, name: String, ts: Long): Unit =
      graft.util.Staging.stageWave(d, in, name, ts)
    stage(shardA, "a.parquet", 1704067200000L)
    stage(shardB, "b.parquet", 1704067260000L)
    val stream = spark.readStream.schema(shardA.schema)
      .option("maxFilesPerTrigger", 1).parquet(in.toString)
    val job = IncrementalDedup.streamIngest(stream, "doc_id", "text", 3, 16, 4,
      "inc_stream_store", 4, 0.5, s"$root/out", s"$root/chk")
    job.awaitTermination()
    val sink = spark.read.parquet(s"$root/out")
    // one micro-batch per landed file, in mod-time order
    val batches = sink.select("doc_id", "batch_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val aIds = shardA.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(aIds.forall(batches(_) == 0))
    assert(shardB.select("doc_id").collect().map(_.getLong(0))
      .forall(batches(_) == 1))
    val got = sink.select("doc_id", "kept", "n_store_matches", "dup_of")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    def loop(sh: org.apache.spark.sql.DataFrame) = {
      val v = IncrementalDedup.dedupAgainstStore(sh, "doc_id", "text", 3, 16, 4,
        spark.table("inc_stream_batch_store"), 0.5).localCheckpoint(true)
      IncrementalDedup.appendSignatures(
        sh.join(v.filter(F.col("kept")).select("doc_id"), "doc_id"),
        "doc_id", "text", 3, 16, 4, "inc_stream_batch_store", 4)
      v
    }
    val expected = loop(shardA).unionByName(loop(shardB))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(got == expected)
    // the cross-shard dependency actually exercised: 21 dropped against a
    // store doc that arrived only via shard A's append
    assert(got.exists(r => r.head == 21L && r(1) == false && r(3) == 12L))
  }

  test("a replayed micro-batch is idempotent: verdicts, store, and counts all unchanged") {
    val F = org.apache.spark.sql.functions
    val root = graft.util.Staging.exitScopedRoot("graft-inc-replay-")
    IncrementalDedup.writeSignatureStore(store, "doc_id", "text", 3, 16, 4,
      "inc_replay_store", 4)
    IncrementalDedup.ingestBatch(shard, 0L, "doc_id", "text", 3, 16, 4,
      "inc_replay_store", 4, 0.5, s"$root/out")
    val storeRows = spark.table("inc_replay_store").count()
    val countRows = spark.table(
      IncrementalDedup.countsTable("inc_replay_store")).count()
    // foreachBatch at-least-once: the same batch id runs again — the
    // applied-batch ledger (IngestLedger) skips it outright
    IncrementalDedup.ingestBatch(shard, 0L, "doc_id", "text", 3, 16, 4,
      "inc_replay_store", 4, 0.5, s"$root/out")
    val sink = spark.read.parquet(s"$root/out")
    // exactly one verdict row per doc — the replay replaced, not appended
    assert(sink.count() == shard.count())
    assert(sink.groupBy("doc_id").count()
      .filter(F.col("count") > 1).count() == 0)
    // no duplicated store rows, no double-merged count deltas
    assert(spark.table("inc_replay_store").count() == storeRows)
    assert(spark.table(
      IncrementalDedup.countsTable("inc_replay_store")).count() == countRows)
    // a FRESH batch id still processes (the ledger skips only replays)
    IncrementalDedup.ingestBatch(
      df(Seq((60L, "a genuinely new document for the follow-up batch here")))
        .toDF("doc_id", "text"),
      1L, "doc_id", "text", 3, 16, 4, "inc_replay_store", 4, 0.5, s"$root/out")
    assert(spark.read.parquet(s"$root/out").count() == shard.count() + 1)
    assert(spark.table("inc_replay_store").count() > storeRows)
  }

  test("dedupAgainstStore agrees with batch nearDupPairs over the union on randomized corpora") {
    // composition check, not a mirrored formula: the incremental path
    // (shard bands vs persisted store) must produce exactly the
    // cross-pair subset of the BATCH near-dup operator run over
    // store ∪ shard — same banding, same agreement threshold
    // (est_jaccard ≥ j  ⟺  n_match ≥ ceil(j·numHashes) for integers).
    // Deterministic LCG so failures reproduce.
    val F = org.apache.spark.sql.functions
    var seed = 0xC0FFEEL
    def nxt(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      math.floorMod(seed >>> 16, bound).toInt
    }
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "fox",
      "golf", "hotel", "india", "julia", "kilo", "lima", "mike", "november")
    def doc(): String = Seq.fill(3 + nxt(8))(vocab(nxt(vocab.size))).mkString(" ")
    def perturb(t: String): String = {   // swap one word ~half the time
      val w = t.split(' ')
      if (nxt(2) == 0) t else w.updated(nxt(w.length), vocab(nxt(vocab.size))).mkString(" ")
    }
    (1 to 3).foreach { trial =>
      val storeDocs = (0L until 30L).map(i => (i, doc()))
      // shard: fresh docs, perturbed copies of store docs, and short docs
      val shardDocs = (100L until 110L).map(i => (i, doc())) ++
        (110L until 125L).map(i => (i, perturb(storeDocs(nxt(30))._2))) ++
        Seq((125L, "too short"))
      val store = df(storeDocs).toDF("doc_id", "text")
      val shard = df(shardDocs).toDF("doc_id", "text")
      val tbl = s"inc_dedup_prop_store_$trial"
      IncrementalDedup.writeSignatureStore(store, "doc_id", "text", 3, 16, 4, tbl, 4)
      val got = IncrementalDedup.dedupAgainstStore(shard, "doc_id", "text",
          3, 16, 4, spark.table(tbl), 0.5)
        .collect().map(r => r.getLong(0) ->
          ((r.getBoolean(1), r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
      // batch reference: store ids (< 100) sort before shard ids, so the
      // cross pairs are exactly nearDupPairs rows with doc_a in the store
      val cross = graft.ext.MinHash.nearDupPairs(store.unionByName(shard),
          "doc_id", "text", 3, 16, 4, 0.5)
        .filter(F.col("doc_a") < 100L && F.col("doc_b") >= 100L)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val byShard = cross.groupBy(_._2)
      val expected = shardDocs.map { case (id, _) =>
        val ms = byShard.getOrElse(id, Array.empty).map(_._1)
        id -> ((ms.isEmpty, ms.length.toLong, if (ms.isEmpty) -1L else ms.min))
      }.toMap
      assert(got == expected, s"incremental vs batch divergence on trial $trial")
    }
  }

  test("hot-key cap: keys over the cap are excluded on both sides; sub-cap matches still drop") {
    val F = org.apache.spark.sql.functions
    val boiler = "standard cookie banner please accept all cookies now"
    val hotStore = df(Seq(
      (1L, boiler), (2L, boiler), (3L, boiler), // one hot key per band (3 docs)
      (4L, "completely different content about spark engines and parquet files")))
      .toDF("doc_id", "text")
    IncrementalDedup.writeSignatureStore(hotStore, "doc_id", "text", 3, 16, 4,
      "inc_cap_store", 4)
    val ct = spark.table(IncrementalDedup.countsTable("inc_cap_store"))
    // identical docs share every band key: 4 keys at count 3
    assert(ct.filter(F.col("n_docs") === 3L).count() == 4)
    val newShard = df(Seq(
      (10L, boiler), // matches the store ONLY through hot keys
      (11L, "completely different content about spark engines and parquet files")))
      .toDF("doc_id", "text")
    val capped = IncrementalDedup.dedupAgainstStore(newShard, "doc_id", "text",
        3, 16, 4, spark.table("inc_cap_store"), 0.5,
        maxBandDocs = 2, keyCounts = Some(ct))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2))).toSeq
    // the hot-key-only dup is KEPT (the documented bounded recall loss —
    // identical docs are exact-dedup's job upstream); the sub-cap dup drops
    assert(capped == Seq((10L, true, 0L), (11L, false, 1L)))
    // uncapped, the boilerplate doc drops — the cap actually bit above
    val uncapped = IncrementalDedup.dedupAgainstStore(newShard, "doc_id", "text",
        3, 16, 4, spark.table("inc_cap_store"), 0.5)
      .filter(F.col("doc_id") === 10L).collect().head
    assert(!uncapped.getBoolean(1))
  }

  test("appendSignatures lands count DELTAS; read-time totals equal a full recompute") {
    val F = org.apache.spark.sql.functions
    IncrementalDedup.writeSignatureStore(store, "doc_id", "text", 3, 16, 4,
      "inc_cnt_store", 4)
    // one doc merging into existing keys (exact dup of store doc 1), one
    // contributing fresh keys
    IncrementalDedup.appendSignatures(df(Seq(
        (50L, "the quick brown fox jumps over the lazy dog"),
        (51L, "brand new content that shares nothing at all")))
      .toDF("doc_id", "text"),
      "doc_id", "text", 3, 16, 4, "inc_cnt_store", 4)
    def keyed(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => ((r.getInt(0), r.getString(1)), r.getLong(2))).toMap
    val ct = spark.table(IncrementalDedup.countsTable("inc_cnt_store"))
    val maintained = keyed(IncrementalDedup.keyCountTotals(ct))
    val recomputed = keyed(spark.table("inc_cnt_store")
      .groupBy("band", "band_key")
      .agg(F.count(F.lit(1)).as("n_docs")))
    assert(maintained == recomputed)
    assert(maintained.values.exists(_ == 2L)) // the merged key actually summed
    // append-only delta layout: the merged key carries TWO delta rows
    // (initial rollup + the shard's delta) until compaction collapses them
    assert(ct.groupBy("band", "band_key").count()
      .filter(F.col("count") === 2L).count() == 4) // doc 50 = doc 1: 4 shared keys
  }

  test("count maintenance is O(shard): appends add delta files, never rewrite the side table") {
    val F = org.apache.spark.sql.functions
    IncrementalDedup.writeSignatureStore(store, "doc_id", "text", 3, 16, 4,
      "inc_delta_store", 4)
    val ct = IncrementalDedup.countsTable("inc_delta_store")
    def files(tbl: String): Set[String] = {
      val loc = java.nio.file.Paths.get(new java.net.URI(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(tbl)).location.toString))
      val s = java.nio.file.Files.list(loc)
      try s.toArray.map(_.toString.split('/').last)
        .filter(_.endsWith(".parquet")).toSet
      finally s.close()
    }
    var seen = files(ct)
    (1 to 3).foreach { i =>
      IncrementalDedup.appendSignatures(
        df(Seq((100L + i, s"shard $i unique content never repeated elsewhere at all")))
          .toDF("doc_id", "text"),
        "doc_id", "text", 3, 16, 4, "inc_delta_store", 4)
      val now = files(ct)
      // every pre-append file survives (a full rewrite would replace them)
      // and the shard's deltas landed as NEW files
      assert(seen.subsetOf(now),
        s"append $i rewrote the counts table: lost ${seen -- now}")
      assert(now.size > seen.size, s"append $i added no delta files")
      seen = now
    }
    // totals still exact after three delta generations
    val totals = IncrementalDedup.keyCountTotals(spark.table(ct))
    val recomputed = spark.table("inc_delta_store")
      .groupBy("band", "band_key").agg(F.count(F.lit(1)).as("n_docs"))
    assert(totals.exceptAll(recomputed).isEmpty &&
      recomputed.exceptAll(totals).isEmpty)
  }

  test("compactStore restores one file per bucket and collapses the count deltas; results unchanged") {
    val F = org.apache.spark.sql.functions
    val tbl = "inc_compact_store"
    IncrementalDedup.writeSignatureStore(store, "doc_id", "text", 3, 16, 4, tbl, 4)
    (1 to 3).foreach { i =>
      IncrementalDedup.appendSignatures(
        df(Seq((200L + i, s"compaction shard $i with its own distinct wording throughout")))
          .toDF("doc_id", "text"),
        "doc_id", "text", 3, 16, 4, tbl, 4)
    }
    val before = IncrementalDedup.dedupAgainstStore(shard, "doc_id", "text",
      3, 16, 4, spark.table(tbl), 0.5).orderBy("doc_id").collect().map(_.toSeq).toSeq
    val beforeStore = spark.table(tbl).orderBy("band", "band_key", "doc_id")
      .collect().map(_.toSeq).toSeq
    IncrementalDedup.compactStore(spark, tbl, 4)
    // one file per bucket on both relations (repartition(buckets, keys)
    // aligns tasks with bucket ids)
    def nFiles(t: String): Long = {
      val loc = java.nio.file.Paths.get(new java.net.URI(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(t)).location.toString))
      val s = java.nio.file.Files.list(loc)
      try s.toArray.count(_.toString.endsWith(".parquet"))
      finally s.close()
    }
    assert(nFiles(tbl) <= 4, s"store not compacted: ${nFiles(tbl)} files")
    val ct = IncrementalDedup.countsTable(tbl)
    assert(nFiles(ct) <= 4, s"counts not compacted: ${nFiles(ct)} files")
    // deltas collapsed to one row per key
    assert(spark.table(ct).groupBy("band", "band_key").count()
      .filter(F.col("count") > 1L).count() == 0)
    // store contents and dedup verdicts unchanged
    assert(spark.table(tbl).orderBy("band", "band_key", "doc_id")
      .collect().map(_.toSeq).toSeq == beforeStore)
    val after = IncrementalDedup.dedupAgainstStore(shard, "doc_id", "text",
      3, 16, 4, spark.table(tbl), 0.5).orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(after == before)
  }

  test("ingestBatch honors the cap through the persisted counts table") {
    val F = org.apache.spark.sql.functions
    val boiler = "standard cookie banner please accept all cookies now"
    val root = graft.util.Staging.exitScopedRoot("graft-inc-cap-")
    IncrementalDedup.writeSignatureStore(
      df(Seq((1L, boiler), (2L, boiler), (3L, boiler))).toDF("doc_id", "text"),
      "doc_id", "text", 3, 16, 4, "inc_cap_ingest_store", 4)
    IncrementalDedup.ingestBatch(
      df(Seq((10L, boiler))).toDF("doc_id", "text"), 0L, "doc_id", "text",
      3, 16, 4, "inc_cap_ingest_store", 4, 0.5, s"$root/out", maxBandDocs = 2)
    val v = spark.read.parquet(s"$root/out").collect().head
    assert(v.getAs[Boolean]("kept")) // hot keys excluded → survivor
    // the survivor's signatures were appended and the counts table
    // advanced with them (hot key now 4 docs deep in delta totals)
    assert(IncrementalDedup.keyCountTotals(
        spark.table(IncrementalDedup.countsTable("inc_cap_ingest_store")))
      .filter(F.col("n_docs") === 4L).count() == 4)
  }

  test("cap decisions track the counts table as the store evolves") {
    val F = org.apache.spark.sql.functions
    val boiler = "standard cookie banner please accept all cookies now"
    val tbl = "inc_evolve_store"
    def verdict(id: Long): Boolean =
      IncrementalDedup.dedupAgainstStore(
          df(Seq((id, boiler))).toDF("doc_id", "text"), "doc_id", "text",
          3, 16, 4, spark.table(tbl), 0.5, maxBandDocs = 2,
          keyCounts = Some(spark.table(IncrementalDedup.countsTable(tbl))))
        .collect().head.getBoolean(1) // kept?
    // two boiler docs: the shared key sits exactly AT the cap → usable
    IncrementalDedup.writeSignatureStore(
      df(Seq((1L, boiler), (2L, boiler))).toDF("doc_id", "text"),
      "doc_id", "text", 3, 16, 4, tbl, 4)
    assert(!verdict(10L)) // matches through the at-cap key → dropped
    // store maintenance appends a third boiler doc → key goes over cap
    IncrementalDedup.appendSignatures(
      df(Seq((3L, boiler))).toDF("doc_id", "text"),
      "doc_id", "text", 3, 16, 4, tbl, 4)
    assert(verdict(11L)) // same probe now KEPT: counts table advanced
  }

  test("the store is never re-signed: dedup keeps working when the shard text differs from ingest time") {
    // the store table is the source of truth — dedupAgainstStore must
    // read it as-is (a rebuild-from-docs implementation would need the
    // original store docs, which this call does not receive)
    IncrementalDedup.writeSignatureStore(store, "doc_id", "text", 3, 16, 4,
      "inc_dedup_store_spec2", 4)
    val onlyShard = IncrementalDedup.dedupAgainstStore(
      shard.filter(org.apache.spark.sql.functions.col("doc_id") === 10L),
      "doc_id", "text", 3, 16, 4, spark.table("inc_dedup_store_spec2"), 0.5)
    assert(onlyShard.collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
      == Seq((10L, false)))
  }

  test("streamIngest compactEvery: in-loop compaction keeps one file per bucket; verdicts unchanged") {
    val F = org.apache.spark.sql.functions
    val root = graft.util.Staging.exitScopedRoot("graft-inc-autocompact-")
    val in = root.resolve("in"); java.nio.file.Files.createDirectories(in)
    IncrementalDedup.writeSignatureStore(store, "doc_id", "text", 3, 16, 4,
      "inc_autocompact_store", 4)
    IncrementalDedup.writeSignatureStore(store, "doc_id", "text", 3, 16, 4,
      "inc_autocompact_twin", 4)
    val shardA = shard
    val shardB = df(Seq(
      (20L, "completely different content about spark engines and parquet files"),
      (21L, "fresh material sharing nothing with the ingested corpus"),
      (22L, "and now for something else entirely unrelated to every shard")))
      .toDF("doc_id", "text")
    def stage(d: org.apache.spark.sql.DataFrame, name: String, ts: Long): Unit =
      graft.util.Staging.stageWave(d, in, name, ts)
    stage(shardA, "a.parquet", 1704067200000L)
    stage(shardB, "b.parquet", 1704067260000L)
    val stream = spark.readStream.schema(shardA.schema)
      .option("maxFilesPerTrigger", 1).parquet(in.toString)
    // compact after EVERY micro-batch — the tightest cadence, so the
    // cross-batch dependency (shard B dedups against shard A's append)
    // must survive a compaction in between
    val job = IncrementalDedup.streamIngest(stream, "doc_id", "text", 3, 16, 4,
      "inc_autocompact_store", 4, 0.5, s"$root/out", s"$root/chk",
      maxBandDocs = 0, compactEvery = 1)
    job.awaitTermination()
    // twin loop without compaction: identical verdicts
    val jobT = IncrementalDedup.streamIngest(
      spark.readStream.schema(shardA.schema)
        .option("maxFilesPerTrigger", 1).parquet(in.toString),
      "doc_id", "text", 3, 16, 4,
      "inc_autocompact_twin", 4, 0.5, s"$root/outT", s"$root/chkT")
    jobT.awaitTermination()
    def sink(p: String) = spark.read.parquet(p)
      .select("doc_id", "kept", "n_store_matches", "dup_of", "batch_id")
      .collect().map(_.toSeq).toSet
    assert(sink(s"$root/out") == sink(s"$root/outT"))
    // the compaction ran in the STREAM's cloned session: this (batch)
    // session must refresh before reading, the standard Spark contract
    // for a table modified by another session
    spark.catalog.refreshTable("inc_autocompact_store")
    spark.catalog.refreshTable(IncrementalDedup.countsTable("inc_autocompact_store"))
    // store and counts are one file per bucket, deltas collapsed
    def nFiles(t: String): Long = {
      val loc = java.nio.file.Paths.get(new java.net.URI(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(t)).location.toString))
      val s = java.nio.file.Files.list(loc)
      try s.toArray.count(_.toString.endsWith(".parquet"))
      finally s.close()
    }
    val ct = IncrementalDedup.countsTable("inc_autocompact_store")
    assert(nFiles("inc_autocompact_store") <= 4)
    assert(nFiles(ct) <= 4)
    assert(spark.table(ct).groupBy("band", "band_key").count()
      .filter(F.col("count") > 1L).count() == 0)
    // totals still exact
    val totals = IncrementalDedup.keyCountTotals(spark.table(ct))
    val recount = spark.table("inc_autocompact_store")
      .groupBy("band", "band_key").agg(F.count(F.lit(1)).as("n_docs"))
    assert(totals.exceptAll(recount).isEmpty && recount.exceptAll(totals).isEmpty)
  }

  test("streamIngest maxFilesPerBucket: in-loop compaction fires on measured decay, not on schedule") {
    val root = graft.util.Staging.exitScopedRoot("graft-inc-fpbloop-")
    val in = root.resolve("in"); java.nio.file.Files.createDirectories(in)
    IncrementalDedup.writeSignatureStore(store, "doc_id", "text", 3, 16, 4,
      "inc_fpbloop_store", 4)
    IncrementalDedup.writeSignatureStore(store, "doc_id", "text", 3, 16, 4,
      "inc_fpbloop_twin", 4)
    val shards = Seq(
      df(Seq(
        (20L, "completely different content about spark engines and parquet files"),
        (21L, "fresh material sharing nothing with the ingested corpus")))
        .toDF("doc_id", "text"),
      df(Seq(
        (22L, "and now for something else entirely unrelated to every shard"),
        (23L, "more novel words arriving with the second generation")))
        .toDF("doc_id", "text"),
      df(Seq(
        (24L, "a final batch of previously unseen vocabulary closes the loop")))
        .toDF("doc_id", "text"))
    shards.zipWithIndex.foreach { case (d, i) =>
      graft.util.Staging.stageWave(d, in, s"$i.parquet",
        1704067200000L + i * 60000L)
    }
    def src = spark.readStream.schema(shards.head.schema)
      .option("maxFilesPerTrigger", 1).parquet(in.toString)
    // decay-triggered loop: compactEvery stays 0 — maintenance is driven
    // purely by the measured files-per-bucket decay
    IncrementalDedup.streamIngest(src, "doc_id", "text", 3, 16, 4,
        "inc_fpbloop_store", 4, 0.5, s"$root/out", s"$root/chk",
        maxFilesPerBucket = 1)
      .awaitTermination()
    // twin loop with NO maintenance at all: identical verdicts
    IncrementalDedup.streamIngest(src, "doc_id", "text", 3, 16, 4,
        "inc_fpbloop_twin", 4, 0.5, s"$root/outT", s"$root/chkT")
      .awaitTermination()
    def sink(p: String) = spark.read.parquet(p)
      .select("doc_id", "kept", "n_store_matches", "dup_of", "batch_id")
      .collect().map(_.toSeq).toSet
    assert(sink(s"$root/out") == sink(s"$root/outT"))
    spark.catalog.refreshTable("inc_fpbloop_store")
    spark.catalog.refreshTable("inc_fpbloop_twin")
    // the trigger held the store at <= 1 file per bucket through the
    // loop (every post-batch check that saw decay compacted; the bound
    // is an invariant of the trigger, not of the batch count) — while
    // the untriggered twin visibly decayed past it
    val triggered = graft.core.Bucketing.dataFileCount(spark, "inc_fpbloop_store")
    val decayed = graft.core.Bucketing.dataFileCount(spark, "inc_fpbloop_twin")
    assert(triggered <= 4, s"decay trigger must hold <= 1 file/bucket, got $triggered")
    assert(decayed > 4, s"twin without maintenance should have decayed, got $decayed")
  }
}

/** Incremental embedding dedup against a persisted IVF-bucketed vector
  * store ([[graft.ext.VectorStore]] — the vector-space twin of the
  * signature store). */
class VectorStoreSpec extends SparkSpec {
  import graft.ext.VectorStore

  private def vdf(rows: Seq[(Long, Seq[Float])]) = {
    val s = spark; import s.implicits._
    rows.toDF("vec_id", "embedding")
  }
  private val a = Seq(1f, 0f, 0f, 0f)
  private val b = Seq(0f, 1f, 0f, 0f)
  private val c = Seq(0f, 0f, 1f, 0f)

  test("store twins drop, fresh vectors keep, appended survivors extend the store") {
    // nProbe = nCentroids probes every cell, so the tiny fixture is exact
    VectorStore.writeVectorStore(vdf(Seq((1L, a), (2L, b))), "vec_id",
      "embedding", nCentroids = 4, dim = 4, seedOffset = 7L,
      table = "vec_store_spec", buckets = 4)
    def dedup(rows: Seq[(Long, Seq[Float])]) =
      VectorStore.dedupAgainstStore(vdf(rows), "vec_id", "embedding",
          spark.table("vec_store_spec"), minCosine = 0.9,
          nCentroids = 4, nProbe = 4, dim = 4, seedOffset = 7L)
        .orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getBoolean(1),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq
    assert(dedup(Seq((10L, a), (11L, c))) ==
      Seq((10L, false, 1L), (11L, true, -1L)))
    // the ingest loop: survivor 11 (vector c) appends; a later twin of c
    // must drop against a store vector that arrived only via the append
    VectorStore.appendVectors(vdf(Seq((11L, c))), "vec_id", "embedding",
      4, 4, 7L, "vec_store_spec", 4)
    assert(dedup(Seq((20L, c))) == Seq((20L, false, 11L)))
  }

  test("vector ingest loop: survivors visible to the next batch, replayed batches exactly-once") {
    val F = org.apache.spark.sql.functions
    val root = graft.util.Staging.exitScopedRoot("graft-vec-ingest-")
    VectorStore.writeVectorStore(vdf(Seq((1L, a))), "vec_id", "embedding",
      nCentroids = 4, dim = 4, seedOffset = 7L,
      table = "vec_ingest_store", buckets = 4)
    def ingest(rows: Seq[(Long, Seq[Float])], id: Long): Unit =
      VectorStore.ingestBatch(vdf(rows), id, "vec_id", "embedding",
        "vec_ingest_store", 4, minCosine = 0.9, nCentroids = 4, nProbe = 4,
        dim = 4, seedOffset = 7L, outPath = s"$root/out")
    ingest(Seq((10L, c)), 0L)  // unique → kept, appended
    ingest(Seq((20L, c)), 1L)  // twin of 10's vector, in store only via append
    val sink = spark.read.parquet(s"$root/out")
    val got = sink.select("vec_id", "kept", "dup_of").collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(got == Set((10L, true, -1L), (20L, false, 10L)))
    // foreachBatch at-least-once: a replayed batch id is skipped by the
    // ledger — verdicts exactly-once, store and counts unchanged
    val storeRows = spark.table("vec_ingest_store").count()
    val countRows = spark.table(VectorStore.countsTable("vec_ingest_store")).count()
    ingest(Seq((20L, c)), 1L)
    assert(spark.read.parquet(s"$root/out")
      .groupBy("vec_id").count().filter(F.col("count") > 1).count() == 0)
    assert(spark.table("vec_ingest_store").count() == storeRows)
    assert(spark.table(VectorStore.countsTable("vec_ingest_store")).count() == countRows)
  }

  test("hot-cell cap: over-cap cells excluded on both sides; sub-cap matches still drop") {
    val F = org.apache.spark.sql.functions
    // 3 twins of `a` make a's cell hot; `b` sits alone in its own cell
    // (seedOffset 27 separates the unit vectors into distinct cells)
    val cells = VectorStore.assigned(vdf(Seq((1L, a), (2L, b))), "vec_id",
        "embedding", nCentroids = 4, dim = 4, seedOffset = 27L)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(cells(1L) != cells(2L), s"fixture needs distinct cells, got $cells")
    VectorStore.writeVectorStore(
      vdf(Seq((1L, a), (2L, a), (3L, a), (4L, b))), "vec_id", "embedding",
      nCentroids = 4, dim = 4, seedOffset = 27L,
      table = "vec_cap_store", buckets = 4)
    val ct = spark.table(VectorStore.countsTable("vec_cap_store"))
    assert(VectorStore.cellCountTotals(ct)
      .filter(F.col("n_vecs") === 3L).count() == 1) // the hot cell
    def dedup(cap: Long) =
      VectorStore.dedupAgainstStore(vdf(Seq((10L, a), (11L, b))), "vec_id",
          "embedding", spark.table("vec_cap_store"), minCosine = 0.9,
          nCentroids = 4, nProbe = 1, dim = 4, seedOffset = 27L,
          maxCellVecs = cap,
          cellCounts = if (cap > 0) Some(ct) else None)
        .orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2))).toSeq
    // capped: the hot-cell-only twin is KEPT (the documented bounded
    // recall loss — exact dedup's job upstream); the sub-cap twin drops
    assert(dedup(2L) == Seq((10L, true, 0L), (11L, false, 1L)))
    // uncapped, the hot-cell twin drops — the cap actually bit above
    assert(dedup(0L).head == ((10L, false, 3L)))
  }

  test("appendVectors lands count DELTAS as new files; totals equal a full recompute") {
    val F = org.apache.spark.sql.functions
    VectorStore.writeVectorStore(vdf(Seq((1L, a), (2L, b))), "vec_id",
      "embedding", nCentroids = 4, dim = 4, seedOffset = 7L,
      table = "vec_cnt_store", buckets = 4)
    val ctName = VectorStore.countsTable("vec_cnt_store")
    def files(tbl: String): Set[String] = {
      val loc = java.nio.file.Paths.get(new java.net.URI(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(tbl)).location.toString))
      val s = java.nio.file.Files.list(loc)
      try s.toArray.map(_.toString.split('/').last)
        .filter(_.endsWith(".parquet")).toSet
      finally s.close()
    }
    var seen = files(ctName)
    (1 to 3).foreach { i =>
      VectorStore.appendVectors(vdf(Seq((10L + i, a), (20L + i, c))), "vec_id",
        "embedding", 4, 4, 7L, "vec_cnt_store", 4)
      val now = files(ctName)
      assert(seen.subsetOf(now), s"append $i rewrote the counts: ${seen -- now}")
      assert(now.size > seen.size, s"append $i added no delta files")
      seen = now
    }
    val totals = VectorStore.cellCountTotals(spark.table(ctName))
    val recomputed = spark.table("vec_cnt_store")
      .groupBy("cell").agg(F.count(F.lit(1)).as("n_vecs"))
    assert(totals.exceptAll(recomputed).isEmpty &&
      recomputed.exceptAll(totals).isEmpty)
  }

  test("duplicated store rows (replay half-window) never inflate verdicts; compactStore repairs the store") {
    val F = org.apache.spark.sql.functions
    VectorStore.writeVectorStore(vdf(Seq((1L, a), (2L, b))), "vec_id",
      "embedding", nCentroids = 4, dim = 4, seedOffset = 7L,
      table = "vec_dup_store", buckets = 4)
    // simulate the residual replay window: the same append lands twice
    VectorStore.appendVectors(vdf(Seq((3L, c))), "vec_id", "embedding",
      4, 4, 7L, "vec_dup_store", 4)
    VectorStore.appendVectors(vdf(Seq((3L, c))), "vec_id", "embedding",
      4, 4, 7L, "vec_dup_store", 4)
    assert(spark.table("vec_dup_store").filter(F.col("vec_id") === 3L).count() == 2)
    // the (new, store) pair-grain collapse keeps n_store_matches exact
    val v = VectorStore.dedupAgainstStore(vdf(Seq((30L, c))), "vec_id",
        "embedding", spark.table("vec_dup_store"), minCosine = 0.9,
        nCentroids = 4, nProbe = 4, dim = 4, seedOffset = 7L)
      .collect().head
    assert(!v.getBoolean(1) && v.getLong(2) == 1L && v.getLong(3) == 3L)
    // compaction collapses the duplicated row and recounts exactly
    VectorStore.compactStore(spark, "vec_dup_store", 4)
    assert(spark.table("vec_dup_store").filter(F.col("vec_id") === 3L).count() == 1)
    assert(VectorStore.cellCountTotals(
        spark.table(VectorStore.countsTable("vec_dup_store")))
      .agg(F.sum("n_vecs")).collect().head.getLong(0) == 3L)
    assert(spark.table(VectorStore.countsTable("vec_dup_store"))
      .groupBy("cell").count().filter(F.col("count") > 1L).count() == 0)
  }

  test("full probing equals brute-force cross-shard near-dup on randomized vectors") {
    var seed = 0x5EEDL
    def nxt(): Float = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      ((seed >>> 20) % 1000L).toFloat / 1000f - 0.5f
    }
    val store = (0L until 20L).map(i => (i, Seq.fill(8)(nxt())))
    val fresh = (100L until 115L).map(i => (i, Seq.fill(8)(nxt()))) ++
      store.take(5).map { case (i, v) => (i + 200L, v) } // 5 exact twins
    VectorStore.writeVectorStore(vdf(store), "vec_id", "embedding",
      nCentroids = 4, dim = 8, seedOffset = 31L,
      table = "vec_store_prop", buckets = 4)
    val got = VectorStore.dedupAgainstStore(vdf(fresh), "vec_id", "embedding",
        spark.table("vec_store_prop"), minCosine = 0.95,
        nCentroids = 4, nProbe = 4, dim = 8, seedOffset = 31L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // local reference: exact cosine against every store vector
    def cos(x: Seq[Float], y: Seq[Float]): Double = {
      val d = x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
      d / (math.sqrt(x.map(p => p.toDouble * p.toDouble).sum) *
        math.sqrt(y.map(q => q.toDouble * q.toDouble).sum))
    }
    fresh.foreach { case (id, v) =>
      val expectKept = !store.exists { case (_, sv) => cos(v, sv) >= 0.95 }
      assert(got(id) == expectKept, s"vec $id kept=${got(id)} expected=$expectKept")
    }
  }

  test("recluster converts an LCG store to a trained store in place: ledger kept, loop continues trained") {
    val F = org.apache.spark.sql.functions
    val root = graft.util.Staging.exitScopedRoot("graft-vec-recl-")
    val d = Seq(0f, 0f, 0f, 1f)
    VectorStore.writeVectorStore(vdf(Seq((1L, a), (2L, b), (3L, c))), "vec_id",
      "embedding", nCentroids = 4, dim = 4, seedOffset = 7L,
      table = "vec_recl_store", buckets = 4)
    VectorStore.ingestBatch(vdf(Seq((10L, d))), 0L, "vec_id", "embedding",
      "vec_recl_store", 4, minCosine = 0.9, nCentroids = 4, nProbe = 4,
      dim = 4, seedOffset = 7L, outPath = s"$root/out")
    VectorStore.recluster(spark, "vec_recl_store", 4, "vec_id", "embedding",
      k = 2, rounds = 2)
    // the codebook is persisted, and the rewritten store cells are
    // exactly what the persisted scorer assigns — no drift between the
    // stored assignments and what future appends/probes compute
    assert(spark.catalog.tableExists(VectorStore.codebookTable("vec_recl_store")))
    val scorer = VectorStore.trainedScorer(spark, "vec_recl_store")
    val stored = spark.table("vec_recl_store")
      .select(F.col("vec_id"), F.col("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val fresh = VectorStore.assignedWith(
        spark.table("vec_recl_store").select("vec_id", "embedding"),
        "vec_id", "embedding", scorer)
      .select(F.col("vec_id"), F.col("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(stored == fresh, s"stored cells $stored != recomputed $fresh")
    // counts rebuilt consistently under the NEW cells
    val totals = VectorStore.cellCountTotals(
        spark.table(VectorStore.countsTable("vec_recl_store")))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val recount = spark.table("vec_recl_store").groupBy("cell").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(totals == recount)
    // the applied-batch ledger survives (same vectors, same batch space)
    assert(graft.core.IngestLedger.applied(spark, "vec_recl_store", 0L))
    // the loop continues TRAINED: a twin of the batch-0 survivor drops
    // against a store row whose cell the recluster just rewrote
    VectorStore.ingestBatchTrained(vdf(Seq((20L, d))), 1L, "vec_id",
      "embedding", "vec_recl_store", 4, minCosine = 0.9, nProbe = 2,
      outPath = s"$root/out")
    val got = spark.read.parquet(s"$root/out")
      .filter(F.col("vec_id") === 20L).select("kept", "dup_of")
      .collect().head
    assert(!got.getBoolean(0) && got.getLong(1) == 10L,
      s"post-recluster twin must drop against 10, got $got")
  }

  test("recluster rejects column names that would corrupt the intent marker") {
    // the crash-recovery marker serializes idCol/embCol tab-separated:
    // a tab or newline must be rejected AT ENTRY, before any state is
    // touched, not discovered as an unreadable marker during repair
    Seq("id\tcol" -> "embedding", "vec_id" -> "emb\ncol").foreach {
      case (idc, embc) =>
        val e = intercept[IllegalArgumentException] {
          VectorStore.recluster(spark, "no_such_store", 4, idc, embc,
            k = 2, rounds = 1)
        }
        assert(e.getMessage.contains("tab/newline"))
    }
  }

  test("streamIngest compactEvery: vector store compacts in-loop; cross-batch dedup survives") {
    val F = org.apache.spark.sql.functions
    val root = graft.util.Staging.exitScopedRoot("graft-vec-autocompact-")
    val in = root.resolve("in"); java.nio.file.Files.createDirectories(in)
    val a = Seq(1f, 0f, 0f, 0f)
    val c = Seq(0f, 0f, 1f, 0f)
    VectorStore.writeVectorStore(vdf(Seq((1L, a))), "vec_id", "embedding",
      nCentroids = 4, dim = 4, seedOffset = 7L,
      table = "vec_autocompact_store", buckets = 4)
    def stage(d: org.apache.spark.sql.DataFrame, name: String, ts: Long): Unit =
      graft.util.Staging.stageWave(d, in, name, ts)
    stage(vdf(Seq((10L, c))), "a.parquet", 1704067200000L)
    stage(vdf(Seq((20L, c))), "b.parquet", 1704067260000L)
    val stream = spark.readStream.schema(vdf(Seq((0L, a))).schema)
      .option("maxFilesPerTrigger", 1).parquet(in.toString)
    val job = VectorStore.streamIngest(stream, "vec_id", "embedding",
      "vec_autocompact_store", 4, minCosine = 0.9,
      nCentroids = 4, nProbe = 4, dim = 4, seedOffset = 7L,
      outPath = s"$root/out", checkpoint = s"$root/chk",
      maxCellVecs = 0L, compactEvery = 1)
    job.awaitTermination()
    // 10 kept (fresh); 20 dropped against 10's append — across a
    // compaction boundary
    val got = spark.read.parquet(s"$root/out")
      .select("vec_id", "kept", "dup_of").collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(got == Set((10L, true, -1L), (20L, false, 10L)))
    // compaction ran in the stream's cloned session — refresh before
    // reading from this one (standard cross-session table contract)
    spark.catalog.refreshTable("vec_autocompact_store")
    spark.catalog.refreshTable(VectorStore.countsTable("vec_autocompact_store"))
    def nFiles(t: String): Long = {
      val loc = java.nio.file.Paths.get(new java.net.URI(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(t)).location.toString))
      val s = java.nio.file.Files.list(loc)
      try s.toArray.count(_.toString.endsWith(".parquet"))
      finally s.close()
    }
    val ct = VectorStore.countsTable("vec_autocompact_store")
    assert(nFiles("vec_autocompact_store") <= 4)
    assert(nFiles(ct) <= 4)
    assert(spark.table(ct).groupBy("cell").count()
      .filter(F.col("count") > 1L).count() == 0)
    val totals = VectorStore.cellCountTotals(spark.table(ct))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val recount = spark.table("vec_autocompact_store").groupBy("cell").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(totals == recount)
  }

  test("streamIngest maxFilesPerBucket: vector loop compacts on measured decay; verdicts unchanged") {
    val root = graft.util.Staging.exitScopedRoot("graft-vec-fpbloop-")
    val in = root.resolve("in"); java.nio.file.Files.createDirectories(in)
    val e0 = Seq(1f, 0f, 0f, 0f)
    val e1 = Seq(0f, 1f, 0f, 0f)
    val e2 = Seq(0f, 0f, 1f, 0f)
    val e3 = Seq(0f, 0f, 0f, 1f)
    val diag = Seq(0.70710678f, 0.70710678f, 0f, 0f) // cos 0.707 to e0/e1
    Seq("vec_fpbloop_store", "vec_fpbloop_twin").foreach { t =>
      VectorStore.writeVectorStore(vdf(Seq((1L, Seq(-1f, 0f, 0f, 0f)))),
        "vec_id", "embedding", nCentroids = 4, dim = 4, seedOffset = 7L,
        table = t, buckets = 4)
    }
    def stage(d: org.apache.spark.sql.DataFrame, name: String, ts: Long): Unit =
      graft.util.Staging.stageWave(d, in, name, ts)
    // five all-novel single-vector batches (each appends >= 1 file —
    // the untriggered twin is GUARANTEED past 4 files after them), then
    // a twin of batch 0's vector to prove cross-batch dedup survives
    // the triggered compactions
    Seq(e0, e1, e2, e3, diag, e0).zipWithIndex.foreach { case (v, i) =>
      stage(vdf(Seq(((i + 1) * 10L, v))), s"b$i.parquet",
        1704067200000L + i * 60000L)
    }
    def src = spark.readStream.schema(vdf(Seq((0L, e0))).schema)
      .option("maxFilesPerTrigger", 1).parquet(in.toString)
    // decay-driven maintenance only: compactEvery stays 0
    VectorStore.streamIngest(src, "vec_id", "embedding",
        "vec_fpbloop_store", 4, minCosine = 0.9,
        nCentroids = 4, nProbe = 4, dim = 4, seedOffset = 7L,
        outPath = s"$root/out", checkpoint = s"$root/chk",
        maxFilesPerBucket = 1)
      .awaitTermination()
    VectorStore.streamIngest(src, "vec_id", "embedding",
        "vec_fpbloop_twin", 4, minCosine = 0.9,
        nCentroids = 4, nProbe = 4, dim = 4, seedOffset = 7L,
        outPath = s"$root/outT", checkpoint = s"$root/chkT")
      .awaitTermination()
    def sink(p: String) = spark.read.parquet(p)
      .select("vec_id", "kept", "dup_of", "batch_id").collect()
      .map(_.toSeq).toSet
    assert(sink(s"$root/out") == sink(s"$root/outT"))
    // batch 5's vector is batch 0's survivor re-arriving: dropped, even
    // though triggered compactions rewrote the store in between
    val last = spark.read.parquet(s"$root/out")
      .filter(col("vec_id") === 60L).select("kept", "dup_of").collect().head
    assert(!last.getBoolean(0) && last.getLong(1) == 10L)
    spark.catalog.refreshTable("vec_fpbloop_store")
    spark.catalog.refreshTable("vec_fpbloop_twin")
    val triggered = graft.core.Bucketing.dataFileCount(spark, "vec_fpbloop_store")
    val decayed = graft.core.Bucketing.dataFileCount(spark, "vec_fpbloop_twin")
    assert(triggered <= 4, s"decay trigger must hold <= 1 file/bucket, got $triggered")
    assert(decayed > 4, s"twin without maintenance should have decayed, got $decayed")
  }
}

/** Large-star/small-star connected components agree with label
  * propagation on every graph shape that distinguishes them. */
class StarCcSpec extends SparkSpec {
  import graft.ext.DupClusters

  private def labels(pairs: Seq[(Long, Long)],
                     fn: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
    fn(df(pairs).toDF("doc_a", "doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def both(pairs: Seq[(Long, Long)]): Unit = {
    val lp = labels(pairs, DupClusters.connectedComponents(_))
    val st = labels(pairs, DupClusters.connectedComponentsStars(_))
    assert(st == lp, s"star CC diverged from label propagation on $pairs")
  }

  test("long chain (diameter = rounds worst case for propagation)") {
    both((1L until 20L).map(i => (i, i + 1)))
  }

  test("two disjoint clusters and a reversed-order chain") {
    both(Seq((5L, 4L), (4L, 3L), (10L, 11L), (11L, 12L), (3L, 2L)))
  }

  test("star, triangle, and duplicate/self-noise pairs") {
    both(Seq((1L, 7L), (1L, 9L), (1L, 3L),          // star around 1
      (20L, 21L), (21L, 22L), (22L, 20L),           // triangle
      (30L, 30L), (7L, 1L), (1L, 7L)))              // self-loop + dups
  }

  test("converges on a binary-tree component in few rounds and labels every node") {
    val tree = (2L until 32L).map(i => (i / 2, i))
    val st = labels(tree, DupClusters.connectedComponentsStars(_))
    assert(st == (1L until 32L).map(i => (i, 1L)).toSet)
  }

  test("propagation fails loudly past its round budget; stars resolve the same chain in polylog rounds") {
    // a 200-link duplicate chain: diameter 199, so propagation needs 199
    // rounds — at its default budget (25) it must THROW, never return
    // silently split clusters
    val chain = (1L until 200L).map(i => (i, i + 1))
    assertThrows[IllegalStateException] {
      DupClusters.connectedComponents(df(chain).toDF("doc_a", "doc_b")).collect()
    }
    // the star form resolves the same chain well inside 12 rounds
    // (polylog in component size — the documented planet-scale claim,
    // here measured, not asserted from the paper)
    val st = labels(chain, DupClusters.connectedComponentsStars(_, maxIters = 12))
    assert(st == (1L to 200L).map(i => (i, 1L)).toSet)
  }

  test("both implementations match a union-find ground truth on seeded random graphs") {
    // deterministic LCG so the graphs are reproducible; union-find is an
    // independent third implementation, so a shared bug in the two Spark
    // forms cannot self-confirm
    var seed = 0x5DEECE66DL
    def nextLong(bound: Long): Long = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      math.floorMod(seed >>> 16, bound)
    }
    def groundTruth(pairs: Seq[(Long, Long)]): Set[(Long, Long)] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      // canonical = min of component = the union-by-min root
      nodes.map(n => n -> find(n)).toSet
    }
    (1 to 5).foreach { trial =>
      val nEdges = 3 + nextLong(12).toInt
      val pairs = Seq.fill(nEdges)((nextLong(16), nextLong(16)))
      val expected = groundTruth(pairs)
      assert(labels(pairs, DupClusters.connectedComponents(_)) == expected,
        s"label propagation diverged on trial $trial: $pairs")
      assert(labels(pairs, DupClusters.connectedComponentsStars(_)) == expected,
        s"star CC diverged on trial $trial: $pairs")
    }
  }
}

/** Incremental EXACT dedup against a persisted fingerprint store
  * ([[graft.ext.ExactDedup]]'s store surface — the first-stage dedup
  * that precedes the near-dup passes in a production loop). */
class IncrementalExactDedupSpec extends SparkSpec {
  import graft.ext.ExactDedup

  test("priority dedup keeps the preferred source's copy; ids break ties; null prio sorts LAST; null texts keep") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, Some("shared content"), Some(1L)),  // web copy, ingested first
      (2L, Some("shared content"), Some(0L)),  // curated copy WINS despite larger id
      (3L, Some("shared content"), Some(1L)),  // second web copy: drops to 2
      (4L, Some("tied content"), Some(1L)),    // equal priority: min id wins
      (5L, Some("tied content"), Some(1L)),
      (6L, Some("unique content"), Some(2L)),  // singleton keeps
      (7L, Option.empty[String], Some(0L)),    // null text always keeps
      (8L, Some("unranked vs ranked"), Option.empty[Long]), // unranked source...
      (9L, Some("unranked vs ranked"), Some(5L)))  // ...must LOSE to any rank
      .toDF("doc_id", "text", "prio")
    val out = ExactDedup.dedupWithPriority(docs, "doc_id", "text", "prio")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (1L, false, 2L), (2L, true, 2L), (3L, false, 2L),
      (4L, true, 4L), (5L, false, 4L), (6L, true, 6L), (7L, true, 7L),
      (8L, false, 9L), (9L, true, 9L)))
  }

  test("store fingerprints drop re-arrivals; survivors append; next shard sees them") {
    val store = df(Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different content about spark engines")))
      .toDF("doc_id", "text")
    ExactDedup.writeFingerprintStore(store, "doc_id", "text",
      "exd_store_spec", 4)
    try {
      // shard 1: a re-crawl of doc 1 (whitespace/case noise — the
      // normalized fingerprint is identity under it), a novel doc, and
      // an intra-shard twin pair of another novel doc
      val shard1 = df(Seq(
        (10L, "  The quick  brown fox jumps over the LAZY dog "),
        (11L, "fresh material sharing nothing with the corpus"),
        (12L, "twin content arriving twice within one shard"),
        (13L, "twin content arriving twice within one shard")))
        .toDF("doc_id", "text")
      val v1 = ExactDedup.dedupExactAgainstStore(shard1, "doc_id", "text",
          spark.table("exd_store_spec"))
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getBoolean(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
      // verdicts are vs the STORE only: both intra-shard twins keep
      // (collapsing them is the batch operator's job — ExactDedup.dedup)
      assert(v1 == Seq((10L, false, 1L), (11L, true, -1L),
        (12L, true, -1L), (13L, true, -1L)))
      // append survivors; the twins collapse to one (fp, min id) row
      val kept1 = shard1.filter(col("doc_id") =!= 10L)
      ExactDedup.appendFingerprints(kept1, "doc_id", "text",
        "exd_store_spec", 4)
      assert(spark.table("exd_store_spec").groupBy("fp").count()
        .filter(col("count") > 1).count() == 0, "one row per fp")
      // shard 2: re-arrivals of shard-1 survivors drop against the
      // evolved store with the MIN surviving id as canonical
      val v2 = ExactDedup.dedupExactAgainstStore(
          df(Seq((20L, "twin content arriving twice within one shard"),
            (21L, "fresh material sharing nothing with the corpus")))
            .toDF("doc_id", "text"),
          "doc_id", "text", spark.table("exd_store_spec"))
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2))).toSeq
      assert(v2 == Seq((20L, false, 12L), (21L, false, 11L)))
    } finally spark.sql("DROP TABLE IF EXISTS exd_store_spec")
  }

  test("null-text docs have no fingerprint: never stored, always kept") {
    val s = spark; import s.implicits._
    val store = Seq((1L, Some("some real content here")), (2L, None))
      .toDF("doc_id", "text")
    ExactDedup.writeFingerprintStore(store, "doc_id", "text",
      "exd_null_spec", 4)
    try {
      assert(spark.table("exd_null_spec").count() == 1) // null fp filtered
      val v = ExactDedup.dedupExactAgainstStore(
          Seq((10L, Option.empty[String])).toDF("doc_id", "text"),
          "doc_id", "text", spark.table("exd_null_spec"))
        .collect().head
      assert(v.getBoolean(1) && v.isNullAt(2))
    } finally spark.sql("DROP TABLE IF EXISTS exd_null_spec")
  }

  test("release diff classifies added/removed/retained with counts and both canonical ids") {
    val release1 = df(Seq(
      (1L, "kept across both releases"),
      (2L, "dropped in the second release")))
      .toDF("doc_id", "text")
    ExactDedup.writeFingerprintStore(release1, "doc_id", "text",
      "exd_diff_spec", 4)
    try {
      val current = df(Seq(
        (10L, "kept across both releases"),
        (11L, "brand new in the second release"),
        (12L, "brand new in the second release"))) // dup of 11 within r2
        .toDF("doc_id", "text")
      val out = ExactDedup.diffAgainstStore(current, "doc_id", "text",
          spark.table("exd_diff_spec"))
        .orderBy("status", "n_docs").collect()
        .map(r => (r.getString(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3),
          if (r.isNullAt(4)) -1L else r.getLong(4))).toSeq
      assert(out == Seq(
        ("added", 2L, -1L, 11L),      // new content, 2 copies, min id 11
        ("removed", 0L, 2L, -1L),     // only in the store
        ("retained", 1L, 1L, 10L)))   // prev canonical 1, current min 10
    } finally spark.sql("DROP TABLE IF EXISTS exd_diff_spec")
  }
}

/** The persisted incremental card store ([[graft.ext.DataCard]]'s
  * store surface — x67). */
class CardStoreSpec extends SparkSpec {
  import graft.ext.DataCard

  private def corpus = df(Seq(
    (1L, "en", "a", "the quick brown fox jumps high"),
    (2L, "de", "a", "der hund ist nicht mit der katze"),
    (3L, "en", "b", "spark engines process the data"),
    (4L, "fr", "b", "le chat est pour la table"),
    (5L, "en", "b", "a tiny doc for the test")))
    .toDF("doc_id", "lang", "source", "text")

  private def card(dfr: org.apache.spark.sql.DataFrame) =
    dfr.orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getDouble(5), r.getAs[Double]("mean_quality"))).toSeq

  test("append-then-serve equals the batch card on the union (minus the non-additive dup rate)") {
    val base = corpus.filter(col("doc_id") <= 2)
    val s1 = corpus.filter(col("doc_id") === 3 || col("doc_id") === 4)
    val s2 = corpus.filter(col("doc_id") === 5)
    DataCard.writeCardStore(base, "doc_id", "text", "lang", "source",
      "card_spec", 2)
    try {
      DataCard.ingestCardBatch(s1, 0L, "doc_id", "text", "lang", "source",
        "card_spec", 2)
      DataCard.ingestCardBatch(s2, 1L, "doc_id", "text", "lang", "source",
        "card_spec", 2)
      val served = card(DataCard.serveCard(spark, "card_spec"))
      val batch = card(DataCard.perSource(corpus, "doc_id", "text",
          "lang", "source")
        .drop("dup_rate"))
      assert(served == batch, s"served=$served\nbatch=$batch")
      // replaying a committed batch is a no-op
      DataCard.ingestCardBatch(s2, 1L, "doc_id", "text", "lang", "source",
        "card_spec", 2)
      assert(card(DataCard.serveCard(spark, "card_spec")) == batch)
    } finally {
      spark.sql("DROP TABLE IF EXISTS card_spec")
      spark.sql("DROP TABLE IF EXISTS card_spec_meta")
      graft.core.IngestLedger.reset(spark, "card_spec")
    }
  }

  test("compaction interleaved before a crashed append's replay never folds the partial delta") {
    val base = corpus.filter(col("doc_id") <= 2)
    val s1 = corpus.filter(col("doc_id") >= 3)
    DataCard.writeCardStore(base, "doc_id", "text", "lang", "source",
      "card_fold_spec", 2)
    try {
      // crash mid-append: intent + a PARTIAL batch-0 delta landed
      graft.core.IngestLedger.intent(spark, "card_fold_spec", 0L)
      DataCard.appendCardDeltas(s1.filter(col("doc_id") === 3),
        "doc_id", "text", "lang", "source", "card_fold_spec", 2,
        batchId = 0L)
      // maintenance runs BEFORE the replay: the dangling batch's rows
      // must pass through the fold still tagged, or the repair below
      // cannot remove them and the batch double-counts
      DataCard.compactCardStore(spark, "card_fold_spec", 2)
      assert(spark.table("card_fold_spec")
        .filter(col("batch_id") === 0L).count() > 0,
        "dangling delta rows must survive compaction untagged-free")
      DataCard.ingestCardBatch(s1, 0L, "doc_id", "text", "lang", "source",
        "card_fold_spec", 2)
      val served = card(DataCard.serveCard(spark, "card_fold_spec"))
      val batch = card(DataCard.perSource(corpus, "doc_id", "text",
          "lang", "source")
        .drop("dup_rate"))
      assert(served == batch, s"served=$served\nbatch=$batch")
    } finally {
      spark.sql("DROP TABLE IF EXISTS card_fold_spec")
      spark.sql("DROP TABLE IF EXISTS card_fold_spec_meta")
      graft.core.IngestLedger.reset(spark, "card_fold_spec")
    }
  }

  test("a null-text document still counts on both the batch and incremental paths") {
    val s = spark; import s.implicits._
    val withNull = Seq(
      (1L, "en", "a", Some("the quick brown fox")),
      (2L, "en", "a", Option.empty[String]),
      (3L, "de", "b", Some("der hund ist gross")))
      .toDF("doc_id", "lang", "source", "text")
    val batch = DataCard.perSource(withNull, "doc_id", "text",
        "lang", "source")
      .orderBy("source").collect()
    assert(batch.map(_.getAs[Long]("n_docs")).toSeq == Seq(2L, 1L),
      "the null-text doc must count in n_docs")
    assert(batch.head.getAs[Double]("dup_rate") == 0.0)
    DataCard.writeCardStore(withNull, "doc_id", "text", "lang", "source",
      "card_null_spec", 2)
    try {
      val served = card(DataCard.serveCard(spark, "card_null_spec"))
      val expect = card(DataCard.perSource(withNull, "doc_id", "text",
          "lang", "source")
        .drop("dup_rate"))
      assert(served == expect, s"served=$served\nexpect=$expect")
    } finally {
      spark.sql("DROP TABLE IF EXISTS card_null_spec")
      spark.sql("DROP TABLE IF EXISTS card_null_spec_meta")
      graft.core.IngestLedger.reset(spark, "card_null_spec")
    }
  }

  test("a null-LANG document keeps append-then-serve ≡ batch-card parity (n_langs skips the null stratum)") {
    val s = spark; import s.implicits._
    val withNullLang = Seq(
      (1L, Some("en"), "a", "the quick brown fox"),
      (2L, Option.empty[String], "a", "lang detection abstained here"),
      (3L, Some("de"), "a", "der hund ist gross"),
      (4L, Some("en"), "b", "spark engines process data"))
      .toDF("doc_id", "lang", "source", "text")
    val batch = DataCard.perSource(withNullLang, "doc_id", "text",
        "lang", "source")
      .orderBy("source").collect()
    // countDistinct ignores NULLs: source a has langs {en, de, null} → 2
    assert(batch.map(r => r.getAs[Long]("n_docs") ->
        r.getAs[Long]("n_langs")).toSeq == Seq(3L -> 2L, 1L -> 1L),
      "the null-lang doc counts in n_docs but not in n_langs")
    DataCard.writeCardStore(
      withNullLang.filter(col("doc_id") <= 2), "doc_id", "text", "lang",
      "source", "card_nlang_spec", 2)
    try {
      DataCard.ingestCardBatch(withNullLang.filter(col("doc_id") >= 3), 0L,
        "doc_id", "text", "lang", "source", "card_nlang_spec", 2)
      val served = card(DataCard.serveCard(spark, "card_nlang_spec"))
      val expect = card(DataCard.perSource(withNullLang, "doc_id", "text",
          "lang", "source")
        .drop("dup_rate"))
      assert(served == expect,
        s"null-lang stratum broke serve/batch parity:\nserved=$served\nexpect=$expect")
    } finally {
      spark.sql("DROP TABLE IF EXISTS card_nlang_spec")
      spark.sql("DROP TABLE IF EXISTS card_nlang_spec_meta")
      graft.core.IngestLedger.reset(spark, "card_nlang_spec")
    }
  }

  test("a crashed append repairs exactly; a store without its meta refuses to serve") {
    val base = corpus.filter(col("doc_id") <= 2)
    val s1 = corpus.filter(col("doc_id") >= 3)
    DataCard.writeCardStore(base, "doc_id", "text", "lang", "source",
      "card_crash_spec", 2)
    try {
      // simulate a crash mid-append: intent recorded, a PARTIAL delta
      // landed (only doc 3's stratum), no commit record
      graft.core.IngestLedger.intent(spark, "card_crash_spec", 0L)
      DataCard.appendCardDeltas(s1.filter(col("doc_id") === 3),
        "doc_id", "text", "lang", "source", "card_crash_spec", 2,
        batchId = 0L)
      // replay converges to the clean result (partial rows dropped,
      // full batch re-appended)
      DataCard.ingestCardBatch(s1, 0L, "doc_id", "text", "lang", "source",
        "card_crash_spec", 2)
      val served = card(DataCard.serveCard(spark, "card_crash_spec"))
      val batch = card(DataCard.perSource(corpus, "doc_id", "text",
          "lang", "source")
        .drop("dup_rate"))
      assert(served == batch, s"served=$served\nbatch=$batch")
      // the meta is the commit marker: without it, serving refuses
      spark.sql("DROP TABLE IF EXISTS card_crash_spec_meta")
      val e = intercept[IllegalArgumentException] {
        DataCard.serveCard(spark, "card_crash_spec")
      }
      assert(e.getMessage.contains("no meta table"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS card_crash_spec")
      spark.sql("DROP TABLE IF EXISTS card_crash_spec_meta")
      graft.core.IngestLedger.reset(spark, "card_crash_spec")
    }
  }
}

/** The continuous card-ingest loop ([[graft.ext.DataCard.streamIngestCard]]). */
class CardStreamSpec extends SparkSpec {
  import graft.ext.DataCard

  test("streamIngestCard: shard counters land exactly-once; in-loop compaction keeps the card exact") {
    val corpus = df(Seq(
      (1L, "en", "a", "the quick brown fox jumps high"),
      (2L, "de", "a", "der hund ist nicht mit der katze"),
      (3L, "en", "b", "spark engines process the data"),
      (4L, "fr", "b", "le chat est pour la table")))
      .toDF("doc_id", "lang", "source", "text")
    val root = graft.util.Staging.exitScopedRoot("graft-card-stream-")
    val in = root.resolve("in"); java.nio.file.Files.createDirectories(in)
    def stage(shard: org.apache.spark.sql.DataFrame, name: String, ts: Long): Unit =
      graft.util.Staging.stageWave(shard, in, name, ts)
    stage(corpus.filter(col("doc_id") <= 2), "s0.parquet", 1704067200000L)
    stage(corpus.filter(col("doc_id") > 2), "s1.parquet", 1704067260000L)
    DataCard.writeCardStore(corpus.filter(col("doc_id") < 0), "doc_id",
      "text", "lang", "source", "card_stream_spec", 2) // empty base
    try {
      val stream = spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1).parquet(in.toString)
      DataCard.streamIngestCard(stream, "doc_id", "text", "lang", "source",
          "card_stream_spec", 2, checkpoint = s"$root/chk", compactEvery = 1)
        .awaitTermination()
      assert(graft.core.IngestLedger.applied(spark, "card_stream_spec", 1L))
      spark.catalog.refreshTable("card_stream_spec")
      val served = DataCard.serveCard(spark, "card_stream_spec")
        .orderBy("source").collect().map(_.toSeq).toSeq
      val batch = DataCard.perSource(corpus, "doc_id", "text", "lang",
          "source").drop("dup_rate")
        .orderBy("source").collect().map(_.toSeq).toSeq
      assert(served == batch, s"served=$served\nbatch=$batch")
    } finally {
      spark.sql("DROP TABLE IF EXISTS card_stream_spec")
      spark.sql("DROP TABLE IF EXISTS card_stream_spec_meta")
      graft.core.IngestLedger.reset(spark, "card_stream_spec")
    }
  }
}

/** Per-source corpus data card ([[graft.ext.DataCard]]). */
class DataCardSpec extends SparkSpec {
  test("dupRates: per-group rate over fingerprinted docs; null text never dups") {
    val docs = df(Seq(
      (1L, "a", "same text"), (2L, "a", "same  text"),  // normalized twins
      (3L, "a", "other"), (4L, "b", "x"), (5L, "b", "y")))
      .toDF("doc_id", "source", "text")
      .unionByName(df(Seq((6L, "b"))).toDF("doc_id", "source")
        .withColumn("text", org.apache.spark.sql.functions.lit(null)
          .cast("string")))
    val out = graft.ext.DataCard.dupRates(docs, "text", "source")
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    // source a: 3 docs, 3 fingerprinted, 2 distinct -> rate 1/3
    // source b: 3 docs, 2 fingerprinted (null text uncounted), 2 distinct -> 0
    assert(out == Seq(("a", 3L, 3L, 2L, 1.0 - 2.0 / 3), ("b", 3L, 2L, 2L, 0.0)))
  }

  test("crossSourceOverlap: unordered pairs, shared distinct contents, " +
      "jaccard; null text never overlaps; zero-pairs absent") {
    val docs = df(Seq(
      (1L, "a", "shared one"), (2L, "a", "shared two"), (3L, "a", "only a"),
      (4L, "b", "shared  one"),              // normalized twin of doc 1
      (5L, "b", "shared two"), (6L, "b", "only b"),
      (7L, "c", "shared one"),               // c ∩ a, c ∩ b via doc 1/4
      (8L, "c", "shared one")))              // in-source dup: distinct once
      .toDF("doc_id", "source", "text")
      .unionByName(df(Seq((9L, "d"))).toDF("doc_id", "source")
        .withColumn("text", org.apache.spark.sql.functions.lit(null)
          .cast("string")))
    val out = graft.ext.DataCard.crossSourceOverlap(docs, "text", "source")
      .orderBy("source_a", "source_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSeq
    // a: {s1, s2, onlyA}=3  b: {s1, s2, onlyB}=3  c: {s1}=1  d: {}=0
    assert(out == Seq(
      ("a", "b", 3L, 3L, 2L, 2.0 / 4),
      ("a", "c", 3L, 1L, 1L, 1.0 / 3),
      ("b", "c", 3L, 1L, 1L, 1.0 / 3)))
    // d shares nothing (null text) -> absent, not a zero row
    assert(!out.exists(p => p._1 == "d" || p._2 == "d"))
  }

  test("counts, dominant language with asc tie-break, corpus-wide dup rate") {
    val docs = df(Seq(
      (1L, "en", "a", "same text twice"),
      (2L, "de", "a", "unique text one"),
      (3L, "en", "b", "same text twice"),   // dup of doc 1, OTHER source
      (4L, "fr", "b", "unique text two"),
      (5L, "de", "b", "unique text three")))
      .toDF("doc_id", "lang", "source", "text")
    val out = graft.ext.DataCard.perSource(docs, "doc_id", "text",
        "lang", "source")
      .orderBy("source").collect()
    val a = out(0)
    assert(a.getAs[Long]("n_docs") == 2L && a.getAs[Long]("n_langs") == 2L)
    // one doc per lang in source a: tie broken to the ascending lang
    assert(a.getAs[String]("top_lang") == "de")
    assert(a.getAs[Double]("top_lang_share") == 0.5)
    // doc 1 is a duplicate via doc 3 in ANOTHER source: corpus-wide rate
    assert(a.getAs[Double]("dup_rate") == 0.5)
    val b = out(1)
    assert(b.getAs[Long]("n_docs") == 3L && b.getAs[Long]("n_langs") == 3L)
    assert(b.getAs[Double]("dup_rate") == 1.0 / 3)
    val mq = b.getAs[Double]("mean_quality")
    assert(mq > 0.0 && mq < 1.0, s"quality mean out of band: $mq")
  }
}
