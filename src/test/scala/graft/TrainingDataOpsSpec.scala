package graft

import graft.dim.Scd2
import graft.ext.{Decontaminate, KMeans, Ngrams, PassageDedup, Repetition, TopTerms}
import org.apache.spark.sql.functions._

/** Semantics of the round-6 training-data operators: n-gram/passage
  * generation, decontamination, repetition signals, passage dedup,
  * top-terms ranking, quantized k-means, and SCD2 history. */
class NgramsSpec extends SparkSpec {
  private def grams(text: String, n: Int): Seq[String] = {
    val s = spark
    import s.implicits._
    Seq(text).toDF("t")
      .select(Ngrams.ngrams(Ngrams.normTokens(col("t")), n).as("g"))
      .collect().head.getSeq[String](0)
  }

  test("ngrams slide over normalized tokens") {
    assert(grams("A  b c D", 2) == Seq("a b", "b c", "c d"))
    assert(grams("a b c", 3) == Seq("a b c"))
  }

  test("docs shorter than n yield no grams, not nulls") {
    assert(grams("a b", 3) == Seq())
    assert(grams("", 2) == Seq())
  }

  test("passages chunk with a short tail and survive empty docs") {
    val s = spark
    import s.implicits._
    def p(text: String) = Seq(text).toDF("t")
      .select(Ngrams.passages(Ngrams.normTokens(col("t")), 2).as("p"))
      .collect().head.getSeq[String](0)
    assert(p("a b c d e") == Seq("a b", "c d", "e"))
    assert(p("") == Seq(""))
  }
}

class DecontaminateSpec extends SparkSpec {
  // doc 0 is "eval" (id % 2 == 0 over {0,1,3} → just 0); doc 1 shares a
  // 3-gram with it; doc 3 shares nothing.
  private val docs = df(Seq(
    (0L, "alpha beta gamma delta"),
    (1L, "x y alpha beta gamma z"),
    (3L, "totally unrelated words here"))).toDF("doc_id", "text")

  test("train docs sharing an n-gram with eval are flagged with counts") {
    val out = Decontaminate.contaminated(docs, "doc_id", "text",
        col("doc_id") % 2 === 0, n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // doc 1 has 4 distinct 3-grams, one of them ("alpha beta gamma") eval's
    assert(out == Seq((1L, 4L, 1L)))
  }

  test("an uncontaminated corpus yields no rows") {
    val clean = df(Seq((0L, "a b c"), (1L, "d e f"))).toDF("doc_id", "text")
    assert(Decontaminate.contaminated(clean, "doc_id", "text",
      col("doc_id") % 2 === 0, n = 3).count() == 0)
  }

  test("bloom-prefiltered variant matches the exact join, including on empty eval splits") {
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(rows(Decontaminate.contaminatedBloom(docs, "doc_id", "text",
        col("doc_id") % 2 === 0, n = 3))
      == rows(Decontaminate.contaminated(docs, "doc_id", "text",
        col("doc_id") % 2 === 0, n = 3)))
    // empty eval split (no doc matches the predicate): no rows, no crash
    assert(Decontaminate.contaminatedBloom(docs, "doc_id", "text",
      col("doc_id") < 0, n = 3).count() == 0)
  }

  test("persisted benchmark store serves identical results; gram size comes from the meta table") {
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("doc_id").collect().map(_.toSeq).toSeq
    // store built at n = 3; the shard check takes NO n — it must read
    // the store's, so a mismatched gram size cannot be silently used
    Decontaminate.writeBenchmarkStore(docs.filter(col("doc_id") % 2 === 0),
      "text", n = 3, table = "deco_bench_spec", buckets = 4)
    try {
      val meta = spark.table(Decontaminate.benchmarkMeta("deco_bench_spec"))
        .collect().head
      assert(meta.getAs[Int]("n") == 3 && meta.getAs[Long]("n_grams") == 2L)
      assert(rows(Decontaminate.contaminatedAgainstStore(
          docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text",
          "deco_bench_spec"))
        == rows(Decontaminate.contaminated(docs, "doc_id", "text",
          col("doc_id") % 2 === 0, n = 3)))
      // an EMPTY benchmark persists a null bloom and flags nothing
      Decontaminate.writeBenchmarkStore(docs.filter(col("doc_id") < 0),
        "text", n = 3, table = "deco_bench_empty", buckets = 4)
      assert(Decontaminate.contaminatedAgainstStore(docs, "doc_id", "text",
        "deco_bench_empty").count() == 0)
      // the meta table is the rebuild's COMMIT marker: without it (a
      // crash mid-rebuild) shard checks must fail loudly, not silently
      // run a stale bloom over fresh grams
      spark.sql(s"DROP TABLE ${Decontaminate.benchmarkMeta("deco_bench_spec")}")
      val crashed = intercept[IllegalArgumentException] {
        Decontaminate.contaminatedAgainstStore(docs, "doc_id", "text",
          "deco_bench_spec")
      }
      assert(crashed.getMessage.contains("re-run writeBenchmarkStore"))
    } finally {
      Seq("deco_bench_spec", "deco_bench_empty").foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        spark.sql(s"DROP TABLE IF EXISTS ${Decontaminate.benchmarkMeta(t)}")
      }
      spark.catalog.clearCache()
    }
  }

  test("contamination severity: scattered islands vs one contiguous run; clean and null docs zero") {
    val evalDoc = df(Seq((100L,
      "e1 e2 e3 e4 e5 e6 e7 e8 e9 e10 f1 f2 f3 f4 f5 f6 f7 f8 f9 f10")))
      .toDF("doc_id", "text")
    // gram size 8 over the 20-token eval doc -> 13 benchmark grams
    graft.ext.Decontaminate.writeBenchmarkStore(evalDoc, "text", n = 8,
      table = "sev_bench", buckets = 2)
    try {
      val train = df(Seq(
        // two SEPARATED 8-token blocks: two islands of 1 shared gram
        // each -> n_shared = 2, max_run = 1
        (1L, "e1 e2 e3 e4 e5 e6 e7 e8 zz zz zz zz f1 f2 f3 f4 f5 f6 f7 f8"),
        // one contiguous 12-token block -> one island of 5 consecutive
        // grams -> n_shared = 5, max_run = 5, tokens = 12
        (2L, "xx e1 e2 e3 e4 e5 e6 e7 e8 e9 e10 f1 f2 yy"),
        // no overlap
        (3L, "a b c d e f g h i j k l m n o p")))
        .toDF("doc_id", "text")
        .unionByName(df(Seq(Tuple1(4L))).toDF("doc_id")
          .withColumn("text", lit(null).cast("string")))
      val out = graft.ext.Decontaminate.contaminationSeverity(train,
          "doc_id", "text", "sev_bench")
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSeq
      assert(out == Seq(
        (1L, 13L, 2L, 1L, 8L),
        (2L, 7L, 5L, 5L, 12L),
        (3L, 9L, 0L, 0L, 0L),
        (4L, 0L, 0L, 0L, 0L)))
    } finally {
      Seq("sev_bench", "sev_bench_meta").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
      graft.core.IngestLedger.reset(spark, "sev_bench")
    }
  }

  test("benchmark append ≡ rebuild on the union; crashed append self-repairs; committed batch skips") {
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val evalA = df(Seq((0L, "alpha beta gamma delta"))).toDF("doc_id", "text")
    val evalB = df(Seq((2L, "x y alpha zz ww"))).toDF("doc_id", "text")
    val evalC = df(Seq((4L, "pp qq rr ss tt"))).toDF("doc_id", "text")
    val train = df(Seq(
      (1L, "x y alpha beta gamma z"),
      (3L, "zz ww qq rr pp qq rr uu"))).toDF("doc_id", "text")
    Decontaminate.writeBenchmarkStore(
      evalA.unionByName(evalB).unionByName(evalC), "text", n = 3,
      table = "deco_app_ref", buckets = 4)
    Decontaminate.writeBenchmarkStore(evalA, "text", n = 3,
      table = "deco_app", buckets = 4)
    try {
      Decontaminate.ingestBenchmarkBatch(evalB, 0L, "text", "deco_app", 4)
      // replay of the committed batch: the ledger skips, nothing grows
      val cnt = spark.table("deco_app").count()
      Decontaminate.ingestBenchmarkBatch(evalB, 0L, "text", "deco_app", 4)
      assert(spark.table("deco_app").count() == cnt,
        "a committed batch's replay must not touch the store")
      // crash window of batch 1: pending marker landed, meta dropped —
      // the state appendToBenchmark leaves between its first two steps
      val marker = new org.apache.hadoop.fs.Path(
        graft.core.IngestLedger.ledgerDir(spark, "deco_app"),
        "bench-append-pending")
      val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
      val out = fs.create(marker, true)
      try out.write("3 0.01".getBytes("UTF-8")) finally out.close()
      spark.sql(s"DROP TABLE ${Decontaminate.benchmarkMeta("deco_app")}")
      // while crashed, the store refuses to serve (meta = commit marker)
      // AND names the RIGHT repair: replay the append — re-running
      // writeBenchmarkStore would overwrite the appended suites' grams
      val crashed = intercept[IllegalArgumentException] {
        Decontaminate.contaminatedAgainstStore(train, "doc_id", "text",
          "deco_app")
      }
      assert(crashed.getMessage.contains("replay appendToBenchmark"),
        s"crashed-append refusal must prescribe the append replay, got: ${crashed.getMessage}")
      // the replayed append recovers the contract from the marker
      Decontaminate.ingestBenchmarkBatch(evalC, 1L, "text", "deco_app", 4)
      assert(!fs.exists(marker), "the pending marker must clear on commit")
      assert(rows(Decontaminate.contaminatedAgainstStore(train, "doc_id",
          "text", "deco_app"))
        == rows(Decontaminate.contaminatedAgainstStore(train, "doc_id",
          "text", "deco_app_ref")),
        "append-grown store must serve exactly the rebuilt-on-union answer")
      // with no meta AND no marker, append refuses loudly (crashed REBUILD)
      spark.sql(s"DROP TABLE ${Decontaminate.benchmarkMeta("deco_app")}")
      val e = intercept[IllegalArgumentException] {
        Decontaminate.appendToBenchmark(evalC, "text", "deco_app", 4)
      }
      assert(e.getMessage.contains("re-run writeBenchmarkStore"))
      // a CORRUPT marker (external damage — the resume path itself no
      // longer rewrites the only durable contract copy) refuses loudly
      // with the rebuild repair named, instead of dying in toInt
      val out2 = fs.create(marker, true)
      try out2.write("garbage".getBytes("UTF-8")) finally out2.close()
      val e2 = intercept[IllegalStateException] {
        Decontaminate.appendToBenchmark(evalC, "text", "deco_app", 4)
      }
      assert(e2.getMessage.contains("corrupt append marker") &&
        e2.getMessage.contains("writeBenchmarkStore"),
        s"corrupt-marker refusal must name the repair, got: ${e2.getMessage}")
      fs.delete(marker, false)
      // a rebuild's commit marker also covers the LEDGER: after a fresh
      // writeBenchmarkStore, previously-applied batch ids are forgotten
      // (a resumed stream's ids restart at 0 and must not silently skip)
      Decontaminate.writeBenchmarkStore(evalA, "text", n = 3,
        table = "deco_app", buckets = 4)
      assert(!graft.core.IngestLedger.applied(spark, "deco_app", 0L),
        "a rebuilt store must restart its batch-id space")
    } finally {
      Seq("deco_app", "deco_app_ref").foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        spark.sql(s"DROP TABLE IF EXISTS ${Decontaminate.benchmarkMeta(t)}")
        graft.core.IngestLedger.reset(spark, t)
      }
      spark.catalog.clearCache()
    }
  }

  test("streamed benchmark ingest ≡ rebuild on the union; in-loop decay compaction; checkpoint replay is a no-op") {
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val evalA = df(Seq((0L, "alpha beta gamma delta"))).toDF("doc_id", "text")
    val evalB = df(Seq((2L, "x y alpha zz ww"))).toDF("doc_id", "text")
    val evalC = df(Seq((4L, "pp qq rr ss tt"))).toDF("doc_id", "text")
    val train = df(Seq(
      (1L, "x y alpha beta gamma z"),
      (3L, "zz ww qq rr pp qq rr uu"))).toDF("doc_id", "text")
    Decontaminate.writeBenchmarkStore(
      evalA.unionByName(evalB).unionByName(evalC), "text", n = 3,
      table = "deco_stream_ref", buckets = 4)
    Decontaminate.writeBenchmarkStore(evalA, "text", n = 3,
      table = "deco_stream", buckets = 4)
    val root = graft.util.Staging.exitScopedRoot("graft-deco-stream-")
    val in = root.resolve("in"); java.nio.file.Files.createDirectories(in)
    def stage(d: org.apache.spark.sql.DataFrame, name: String, ts: Long): Unit =
      graft.util.Staging.stageWave(d, in, name, ts)
    stage(evalB, "b.parquet", 1704067200000L)
    stage(evalC, "c.parquet", 1704067260000L)
    try {
      def source = spark.readStream.schema(evalA.schema)
        .option("maxFilesPerTrigger", 1).parquet(in.toString)
      Decontaminate.streamIngestBenchmark(source, "text", "deco_stream",
          buckets = 4, checkpoint = s"$root/chk", maxFilesPerBucket = 1)
        .awaitTermination()
      // the loop mutated the tables in its foreachBatch session clone —
      // the caller refreshes before reading (the staging-swap convention)
      spark.catalog.refreshTable("deco_stream")
      spark.catalog.refreshTable(Decontaminate.benchmarkMeta("deco_stream"))
      // decay compaction fired in-loop: back to one file per bucket
      assert(graft.core.Bucketing.dataFileCount(spark, "deco_stream") == 4,
        "in-loop compaction must fold append generations back to one file per bucket")
      assert(rows(Decontaminate.contaminatedAgainstStore(train, "doc_id",
          "text", "deco_stream"))
        == rows(Decontaminate.contaminatedAgainstStore(train, "doc_id",
          "text", "deco_stream_ref")),
        "stream-grown store must serve exactly the rebuilt-on-union answer")
      // restart on the same checkpoint: nothing new to read, store untouched
      val cnt = spark.table("deco_stream").count()
      Decontaminate.streamIngestBenchmark(source, "text", "deco_stream",
          buckets = 4, checkpoint = s"$root/chk", maxFilesPerBucket = 1)
        .awaitTermination()
      spark.catalog.refreshTable("deco_stream")
      assert(spark.table("deco_stream").count() == cnt,
        "a checkpoint-replayed stream must not touch the store")
    } finally {
      Seq("deco_stream", "deco_stream_ref").foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        spark.sql(s"DROP TABLE IF EXISTS ${Decontaminate.benchmarkMeta(t)}")
        graft.core.IngestLedger.reset(spark, t)
      }
      spark.catalog.clearCache()
    }
  }

  test("span removal cuts exactly the leaked benchmark windows; clean, verbatim and null docs behave") {
    val s = spark; import s.implicits._
    val bench = (1 to 30).map(i => s"t$i")
    val train = Seq(
      // 12-token run copied from the benchmark at offset 5: with n=8,
      // dup windows start at 5..9 and cover exactly tokens 5..16
      (1L, Some(((1 to 5).map(i => s"u$i") ++ bench.slice(9, 21) ++
        (1 to 5).map(i => s"v$i")).mkString(" "))),
      (2L, Some((1 to 20).map(i => s"clean$i").mkString(" "))),
      (3L, Option.empty[String]),
      (4L, Some(bench.mkString(" "))))   // verbatim copy: fully cut
      .toDF("doc_id", "text")
    Decontaminate.writeBenchmarkStore(
      df(Seq((100L, bench.mkString(" ")))).toDF("doc_id", "text"),
      "text", n = 8, table = "deco_span_bench", buckets = 4)
    try {
      val out = Decontaminate.removeContaminatedSpans(train, "doc_id",
          "text", "deco_span_bench")
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      assert(out(0) == ((1L, 22L, 12L,
        ((1 to 5).map(i => s"u$i") ++ (1 to 5).map(i => s"v$i")).mkString(" "))))
      assert(out(1) == ((2L, 20L, 0L, (1 to 20).map(i => s"clean$i").mkString(" "))))
      assert(out(2) == ((3L, 0L, 0L, "")))
      assert(out(3) == ((4L, 30L, 30L, "")))
    } finally {
      spark.sql("DROP TABLE IF EXISTS deco_span_bench")
      spark.sql(s"DROP TABLE IF EXISTS ${Decontaminate.benchmarkMeta("deco_span_bench")}")
    }
  }

  test("fuzzy decontamination flags a paraphrase the exact n-gram sweep misses") {
    // bench doc 100 = 60 tokens; train doc 1 = the same with a token
    // swapped every 12 positions, so its longest untouched run is 12
    // tokens — NO shared 13-gram (the GPT-3 exact sweep's n), yet
    // 3-shingle Jaccard ≈ 0.66. Train doc 2 is a verbatim copy (both
    // sweeps catch it); train doc 3 shares nothing.
    val base = (1 to 60).map(i => s"t$i")
    val para = base.zipWithIndex
      .map { case (t, i) => if ((i + 1) % 12 == 0) s"x$t" else t }
    val docs = df(Seq(
      (100L, base.mkString(" ")),
      (1L, para.mkString(" ")),
      (2L, base.mkString(" ")),
      (3L, (1 to 60).map(i => s"z$i").mkString(" "))))
      .toDF("doc_id", "text")
    val exact = Decontaminate.contaminated(docs, "doc_id", "text",
        col("doc_id") >= 100L, n = 13)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(exact == Set(2L),
      s"the exact 13-gram sweep must catch only the verbatim copy, got $exact")
    // 8 bands of 2 rows: at this fixture's signature agreement (10/16
    // hashes) the 4-row banding has no identical band — LSH recall is a
    // banding choice, and the narrower band is the right one for a
    // paraphrase-similarity floor of 0.5
    graft.ext.IncrementalDedup.writeSignatureStore(
      docs.filter(col("doc_id") >= 100L), "doc_id", "text",
      shingleN = 3, numHashes = 16, nBands = 8, table = "deco_fuzzy_sig",
      buckets = 4)
    try {
      val fuzzy = Decontaminate.fuzzyContaminatedAgainstStore(
          docs.filter(col("doc_id") < 100L), "doc_id", "text",
          shingleN = 3, numHashes = 16, nBands = 8,
          table = "deco_fuzzy_sig", minJaccard = 0.5)
        .collect().map(r => r.getLong(0) ->
          (r.getBoolean(1), r.getLong(2), Option(r.get(3)))).toMap
      assert(fuzzy(1L) == ((true, 1L, Some(100L))),
        s"the paraphrase must be flagged against its bench source, got ${fuzzy(1L)}")
      assert(fuzzy(2L) == ((true, 1L, Some(100L))))
      assert(fuzzy(3L) == ((false, 0L, None)))
    } finally {
      Seq("deco_fuzzy_sig",
          graft.ext.IncrementalDedup.countsTable("deco_fuzzy_sig")).foreach {
        t => spark.sql(s"DROP TABLE IF EXISTS $t")
      }
    }
  }

  test("a store persisted under the pre-stripe meta format refuses with a versioned message") {
    Decontaminate.writeBenchmarkStore(docs.filter(col("doc_id") % 2 === 0),
      "text", n = 3, table = "deco_bench_legacy", buckets = 4)
    try {
      // rewrite the meta in the OLD 1-row shape (n, fpp, n_grams, bloom —
      // no stripe layout columns), exactly what a store persisted before
      // the striping upgrade carries
      val legacy = spark.table(Decontaminate.benchmarkMeta("deco_bench_legacy"))
        .select(col("n"), col("fpp"), col("n_grams"), col("bloom"))
        .collect()
      spark.sql(s"DROP TABLE ${Decontaminate.benchmarkMeta("deco_bench_legacy")}")
      spark.createDataFrame(
          spark.sparkContext.parallelize(legacy.toIndexedSeq),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("n",
              org.apache.spark.sql.types.IntegerType),
            org.apache.spark.sql.types.StructField("fpp",
              org.apache.spark.sql.types.DoubleType),
            org.apache.spark.sql.types.StructField("n_grams",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("bloom",
              org.apache.spark.sql.types.BinaryType))))
        .write.mode("overwrite").format("parquet")
        .saveAsTable(Decontaminate.benchmarkMeta("deco_bench_legacy"))
      val e = intercept[IllegalArgumentException] {
        Decontaminate.contaminatedAgainstStore(docs, "doc_id", "text",
          "deco_bench_legacy")
      }
      assert(e.getMessage.contains("older meta format"),
        s"expected the versioned upgrade message, got: ${e.getMessage}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS deco_bench_legacy")
      spark.sql(
        s"DROP TABLE IF EXISTS ${Decontaminate.benchmarkMeta("deco_bench_legacy")}")
      spark.catalog.clearCache()
    }
  }

  test("a non-positive per-bloom capacity refuses at entry, like the sibling knobs") {
    Seq(0L, -4L).foreach { bad =>
      val e = intercept[IllegalArgumentException] {
        Decontaminate.contaminatedBloom(docs, "doc_id", "text",
          col("doc_id") % 2 === 0, n = 3, maxItemsPerBloom = bad)
      }
      assert(e.getMessage.contains("maxItemsPerBloom"))
    }
  }

  test("striped blooms past the per-filter cap: identical results, stripe layout persisted") {
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val exact = rows(Decontaminate.contaminated(docs, "doc_id", "text",
      col("doc_id") % 2 === 0, n = 3))
    // per-bloom capacity 1 forces one stripe per gram (eval doc 0 has
    // two distinct 3-grams → 2 stripes); the striped CASE-chain probe
    // must agree with the exact join bit for bit
    assert(rows(Decontaminate.contaminatedBloom(docs, "doc_id", "text",
      col("doc_id") % 2 === 0, n = 3, maxItemsPerBloom = 1)) == exact)
    Decontaminate.writeBenchmarkStore(docs.filter(col("doc_id") % 2 === 0),
      "text", n = 3, table = "deco_bench_striped", buckets = 4,
      maxItemsPerBloom = 1)
    try {
      val meta = spark.table(Decontaminate.benchmarkMeta("deco_bench_striped"))
        .collect()
      assert(meta.head.getAs[Int]("n_stripes") == 2)
      assert(!meta.head.getAs[Boolean]("clamped"))
      // ≤ 1 row per stripe, every persisted bloom non-null
      assert(meta.length <= 2 &&
        meta.forall(_.getAs[Array[Byte]]("bloom") != null))
      assert(rows(Decontaminate.contaminatedAgainstStore(
        docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text",
        "deco_bench_striped")) == exact)
    } finally {
      spark.sql("DROP TABLE IF EXISTS deco_bench_striped")
      spark.sql(
        s"DROP TABLE IF EXISTS ${Decontaminate.benchmarkMeta("deco_bench_striped")}")
      spark.catalog.clearCache()
    }
  }

  test("past MaxBloomStripes the sizing clamps LOUDLY: flag persisted, results still exact") {
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("doc_id").collect().map(_.toSeq).toSeq
    // one eval doc of 72 distinct words → 70 distinct 3-grams; at
    // capacity 1/bloom that wants 70 stripes > MaxBloomStripes = 64
    val evalText = (0 until 72).map(i => s"w$i").mkString(" ")
    val d = df(Seq((0L, evalText),
      (1L, "w10 w11 w12 w13"), // shares 3-grams with eval
      (3L, "zz yy xx ww"))).toDF("doc_id", "text")
    Decontaminate.writeBenchmarkStore(d.filter(col("doc_id") % 2 === 0),
      "text", n = 3, table = "deco_bench_clamped", buckets = 4,
      maxItemsPerBloom = 1)
    try {
      val meta = spark.table(Decontaminate.benchmarkMeta("deco_bench_clamped"))
        .collect()
      assert(meta.head.getAs[Int]("n_stripes") == Decontaminate.MaxBloomStripes)
      assert(meta.head.getAs[Boolean]("clamped"),
        "over-capacity build must persist the clamped advisory")
      assert(rows(Decontaminate.contaminatedAgainstStore(
          d.filter(col("doc_id") % 2 =!= 0), "doc_id", "text",
          "deco_bench_clamped"))
        == rows(Decontaminate.contaminated(d, "doc_id", "text",
          col("doc_id") % 2 === 0, n = 3)))
    } finally {
      spark.sql("DROP TABLE IF EXISTS deco_bench_clamped")
      spark.sql(
        s"DROP TABLE IF EXISTS ${Decontaminate.benchmarkMeta("deco_bench_clamped")}")
      spark.catalog.clearCache()
    }
  }

  test("bloom variant agrees with exact on randomized corpora (false positives confirmed away)") {
    var seed = 0xB100FL
    def nxt(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      math.floorMod(seed >>> 16, bound).toInt
    }
    val vocab = Vector("ant", "bee", "cat", "dog", "eel", "fox", "gnu", "hen")
    (1 to 3).foreach { trial =>
      val corpus = (0L until 40L).map(i =>
        (i, Seq.fill(4 + nxt(10))(vocab(nxt(vocab.size))).mkString(" ")))
      val d = df(corpus).toDF("doc_id", "text")
      // a deliberately tiny/over-full bloom (fpp 0.5) maximizes false
      // positives — the exact confirm must still remove every one
      def rows(out: org.apache.spark.sql.DataFrame) =
        out.orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(rows(Decontaminate.contaminatedBloom(d, "doc_id", "text",
          col("doc_id") % 5 === 0, n = 3, fpp = 0.5))
        == rows(Decontaminate.contaminated(d, "doc_id", "text",
          col("doc_id") % 5 === 0, n = 3)),
        s"bloom/exact divergence on trial $trial")
    }
  }
}

class RepetitionSpec extends SparkSpec {
  test("duplicate and top n-gram fractions match hand counts") {
    val docs = df(Seq((1L, "a b a b"), (2L, "p q r s"))).toDF("doc_id", "text")
    val out = Repetition.ngramStats(docs, "doc_id", "text", 2)
      .orderBy("doc_id").collect()
    // doc 1 2-grams: "a b","b a","a b" → total 3, dup 2, top 2
    assert(out(0).getLong(1) == 3L)
    assert(out(0).getDouble(2) == 2.0 / 3)
    assert(out(0).getDouble(3) == 2.0 / 3)
    // doc 2: all distinct
    assert(out(1).getDouble(2) == 0.0)
  }

  test("docs shorter than n get zero grams and 0.0 fractions") {
    val docs = df(Seq((1L, "single"))).toDF("doc_id", "text")
    val r = Repetition.ngramStats(docs, "doc_id", "text", 2).collect().head
    assert(r.getLong(1) == 0L && r.getDouble(2) == 0.0 && r.getDouble(3) == 0.0)
  }
}

class PassageDedupSpec extends SparkSpec {
  test("globally repeated passages keep only the first occurrence") {
    // chunk=2: doc 1 = ["a b","c d"]; doc 2 = ["a b","x y"] → doc 2
    // drops "a b" (doc 1 idx 0 wins), keeps "x y"
    val docs = df(Seq((1L, "a b c d"), (2L, "a b x y"))).toDF("doc_id", "text")
    val out = PassageDedup.dedup(docs, "doc_id", "text", 2)
      .orderBy("doc_id").collect()
    assert(out(0).getString(3) == "a b c d" && out(0).getLong(2) == 0L)
    assert(out(1).getString(3) == "x y" && out(1).getLong(2) == 1L)
  }

  test("a fully duplicated doc reassembles to the empty string") {
    val docs = df(Seq((1L, "a b"), (2L, "a b"))).toDF("doc_id", "text")
    val out = PassageDedup.dedup(docs, "doc_id", "text", 2)
      .orderBy("doc_id").collect()
    assert(out(1).getString(3) == "" && out(1).getLong(2) == 1L)
  }

  test("in-doc dedup collapses repeats inside a page but never across pages") {
    // chunk=2: doc 1 repeats "a b" internally (first occurrence kept,
    // order preserved); doc 2 repeats doc 1's passage — untouched,
    // no other document is ever consulted
    val docs = df(Seq((1L, "a b x y a b"), (2L, "a b c d")))
      .toDF("doc_id", "text")
    val out = PassageDedup.dedupWithinDoc(docs, "doc_id", "text", 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out(0) == ((1L, 3L, 1L, "a b x y")))
    assert(out(1) == ((2L, 2L, 0L, "a b c d")))
  }

  test("boilerplate removal keeps a null-text doc's row (0 passages, empty reassembly)") {
    val s = spark; import s.implicits._
    val docs = Seq((1L, Some("a b c d")), (2L, Option.empty[String]),
        (3L, Some("a b e f")))
      .toDF("doc_id", "text")
    val out = PassageDedup.removeBoilerplate(docs, "doc_id", "text",
        chunkTokens = 2, minDocFreq = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L),
      "every input doc must keep an output row")
    assert(out(1) == ((2L, 0L, 0L, "")))
    assert(out(0) == ((1L, 2L, 1L, "c d"))) // "a b" df=2 still drops
  }

  test("span removal cuts a copied run at any alignment, keeps the first occurrence and sub-window overlaps") {
    val a = (1 to 30).map(i => s"a$i")
    // doc 2 embeds a 16-token run copied from doc 1 mid-document; with
    // W=8 every token of the run sits inside a full duplicate window,
    // so exactly the run is cut. doc 3 shares only a 7-token run — one
    // token short of a window — and must keep everything.
    val doc2 = (1 to 10).map(i => s"u$i") ++ a.slice(4, 20) ++
      (1 to 5).map(i => s"v$i")
    val doc3 = (1 to 10).map(i => s"w$i") ++ a.slice(4, 11) ++
      (1 to 5).map(i => s"x$i")
    val docs = df(Seq((1L, a.mkString(" ")), (2L, doc2.mkString(" ")),
        (3L, doc3.mkString(" "))))
      .toDF("doc_id", "text")
    val out = PassageDedup.removeDuplicateSpans(docs, "doc_id", "text",
        windowTokens = 8)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out(0) == ((1L, 30L, 0L, a.mkString(" "))),
      "the first occurrence must survive verbatim")
    assert(out(1) == ((2L, 31L, 16L,
      ((1 to 10).map(i => s"u$i") ++ (1 to 5).map(i => s"v$i")).mkString(" "))))
    assert(out(2) == ((3L, 22L, 0L, doc3.mkString(" ").toLowerCase)))
  }

  test("span removal collapses in-document repeats to the first occurrence; null texts keep their row") {
    val s = spark; import s.implicits._
    val c = (1 to 10).map(i => s"c$i")
    val docs = Seq((1L, Some((c ++ c ++ c).mkString(" "))),
        (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    val out = PassageDedup.removeDuplicateSpans(docs, "doc_id", "text",
        windowTokens = 8)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // windows starting at 10..22 all duplicate earlier ones, covering
    // tokens 10..29: only the first copy survives
    assert(out(0) == ((1L, 30L, 20L, c.mkString(" "))))
    assert(out(1) == ((2L, 0L, 0L, "")))
  }

  test("boilerplate removal drops EVERY occurrence past the doc-frequency threshold") {
    // "a b" appears in all three docs (df=3 >= 2): every copy drops,
    // including the first — unlike first-wins dedup. "x y" repeats
    // only WITHIN doc 3 (df=1): all its occurrences survive.
    val docs = df(Seq(
      (1L, "a b c d"), (2L, "a b e f"), (3L, "a b x y x y")))
      .toDF("doc_id", "text")
    val out = PassageDedup.removeBoilerplate(docs, "doc_id", "text",
        chunkTokens = 2, minDocFreq = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out(0) == ((1L, 2L, 1L, "c d")))
    assert(out(1) == ((2L, 2L, 1L, "e f")))
    assert(out(2) == ((3L, 3L, 1L, "x y x y")))
  }
}

class TopTermsSpec extends SparkSpec {
  test("rank is tf desc, then rarer-in-corpus (df asc), then term asc") {
    val docs = df(Seq(
      (1L, "zz zz aa bb"),   // zz tf=2; aa/bb tf=1 — aa in 2 docs, bb only here
      (2L, "aa cc"))).toDF("doc_id", "text")
    val out = TopTerms.topTerms(docs, "doc_id", "text", 3)
      .filter(col("doc_id") === 1).orderBy("rank")
      .collect().map(r => (r.getInt(1), r.getString(2))).toSeq
    // bb (df=1) outranks aa (df=2) at equal tf
    assert(out == Seq((1, "zz"), (2, "bb"), (3, "aa")))
  }
}

class KMeansSpec extends SparkSpec {
  // two tight groups in 2-d; ids 0 and 1 (the k lowest) seed one group each
  private val vecs = df(Seq(
    (0L, Seq(0.0f, 0.0f)), (1L, Seq(1.0f, 1.0f)),
    (2L, Seq(0.01f, 0.0f)), (3L, Seq(0.0f, 0.01f)),
    (4L, Seq(0.99f, 1.0f)), (5L, Seq(1.0f, 0.99f)))).toDF("vec_id", "embedding")

  test("lloyd separates the two groups with exact integer distances") {
    val out = KMeans.lloyd(vecs, "vec_id", "embedding", k = 2, rounds = 2)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(out == Seq((0L, 0), (1L, 1), (2L, 0), (3L, 0), (4L, 1), (5L, 1)))
  }

  test("result is invariant under input partitioning") {
    def run(parts: Int) =
      KMeans.lloyd(vecs.repartition(parts), "vec_id", "embedding", 2, 2)
        .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(run(1) == run(7))
  }

  test("assignTo over the fitted codebook reproduces lloyd bit-for-bit") {
    // the fit/assignTo split is the trained-codebook contract: training
    // once and re-scoring new vectors must agree with having trained on
    // the same data — same quantization, same integer L2, same tie rule
    val viaLloyd = KMeans.lloyd(vecs, "vec_id", "embedding", 2, 2)
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    val codebook = KMeans.fit(vecs, "vec_id", "embedding", 2, 2)
    val viaAssign = KMeans.assignTo(vecs, "vec_id", "embedding", codebook)
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(viaAssign == viaLloyd)
  }
}

class SemDedupSpec extends SparkSpec {
  import graft.ext.SemDedup
  // two spatial clusters (k-means is L2 on positions); semantic dups are
  // DIRECTIONS, so a doc can be a cosine-dup of another yet land in a
  // different cluster — the paper's recall trade-off, pinned below.
  private val vecs = df(Seq(
    (0L, Seq(1.0f, 1.0f)),      // cluster A seed
    (1L, Seq(10.0f, 0.0f)),     // cluster B seed
    (2L, Seq(1.01f, 1.0f)),     // A; cos≈1 with 0 → dup_of 0
    (3L, Seq(1.0f, 1.01f)),     // A; cos≈1 with 0 → dup_of 0
    (4L, Seq(10.1f, 0.01f)),    // B; cos≈1 with 1 → dup_of 1
    (5L, Seq(-10.0f, 0.0f)),    // lands in A (L2), anti-aligned → kept
    (6L, Seq(2.0f, 2.0f)),      // A; same direction as 0 → dup_of 0
    (7L, Seq(20.0f, 20.0f))))   // B (L2) but direction of 0 → KEPT:
    .toDF("vec_id", "embedding") //   cross-cluster pairs are never scored

  test("greedy-by-id first-wins within clusters; cross-cluster dups survive") {
    val out = SemDedup.verdicts(vecs, "vec_id", "embedding",
        k = 2, rounds = 2, minCosine = 0.9)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq
    assert(out == Seq(
      (0L, true, -1L), (1L, true, -1L), (2L, false, 0L), (3L, false, 0L),
      (4L, false, 1L), (5L, true, -1L), (6L, false, 0L), (7L, true, -1L)))
  }

  test("verdicts are invariant under input partitioning") {
    def run(parts: Int) =
      SemDedup.verdicts(vecs.repartition(parts), "vec_id", "embedding", 2, 2, 0.9)
        .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(run(1) == run(7))
  }

  test("maxClusterDocs keeps every member of an oversized cluster, others unaffected") {
    // cluster A = {0,2,3,5,6} (5 docs, over the cap of 4) → all kept;
    // cluster B = {1,4,7} still deduped → 4 dropped against 1
    val out = SemDedup.verdicts(vecs, "vec_id", "embedding",
        k = 2, rounds = 2, minCosine = 0.9, maxClusterDocs = 4)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(2))).toSeq
    assert(out == Seq((0L, true), (1L, true), (2L, true), (3L, true),
      (4L, false), (5L, true), (6L, true), (7L, true)))
  }

  test("the candidate join is cluster-keyed, never a cartesian") {
    val plan = SemDedup.verdicts(vecs, "vec_id", "embedding", 2, 2, 0.9)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    // k-means assignment broadcasts the k centroid rows (two intended
    // nested loops, pinned for x23); the PAIR join must be an equi-join
    // keyed on the cluster id, not another nested loop
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[ca#".r
      .findFirstIn(plan).isDefined, plan.take(1500))
  }

  test("verdicts agree with a local single-machine reference on randomized vectors") {
    // independent implementation path (plain Scala collections, no
    // Spark), same arithmetic contract: quantized int64 k-means,
    // sequential-fold IEEE cosine, greedy-by-id first-wins
    var seed = 0xBEEFL
    def nxt(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      math.floorMod(seed >>> 16, bound).toInt
    }
    def vec(): Seq[Float] =
      ((nxt(1000) + 1) / 1000f) +: Seq.fill(5)((nxt(2001) - 1000) / 1000f)
    (1 to 3).foreach { trial =>
      val base = (0L until 30L).map(i => (i, vec()))
      // plant same-cluster near-dups: one component nudged by 1e-3
      val dups = (30L until 40L).map { i =>
        val src = base(nxt(30))._2
        (i, src.updated(1 + nxt(5), src(1 + nxt(5)) + 0.001f))
      }
      val all = base ++ dups
      val (k, rounds, tau) = (4, 2, 0.8)
      val got = SemDedup.verdicts(df(all).toDF("vec_id", "embedding"),
          "vec_id", "embedding", k, rounds, tau)
        .collect().map(r => r.getLong(0) ->
          ((r.getInt(1), r.getBoolean(2), if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
      // --- local reference ---
      val q = all.map { case (id, e) =>
        id -> e.map(v => math.floor(v.toDouble * 1048576d + 0.5d).toLong + 2097152L) }
      var cent: Seq[(Int, Seq[Long])] = q.sortBy(_._1).take(k).zipWithIndex
        .map { case ((_, u), i) => (i, u) }
      def assign(): Map[Long, Int] = q.map { case (id, u) =>
        id -> cent.map { case (cid, c) =>
          (u.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, cid) }.min._2
      }.toMap
      var asg = assign()
      for (_ <- 2 to rounds) {
        cent = q.groupBy(p => asg(p._1)).toSeq.map { case (cid, members) =>
          (cid, members.head._2.indices.map { p =>
            val s = members.map(_._2(p)).sum
            val n = members.size.toLong
            (2 * s + n) / (2 * n)
          })
        }
        asg = assign()
      }
      def cos(a: Seq[Float], b: Seq[Float]): Double = {
        val dot = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) =>
          acc + x.toDouble * y.toDouble }
        def nrm(v: Seq[Float]) = math.sqrt(
          v.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble))
        dot / (nrm(a) * nrm(b))
      }
      val emb = all.toMap
      val expected = all.map { case (id, _) =>
        val smaller = all.collect { case (oid, _)
          if oid < id && asg(oid) == asg(id) && cos(emb(oid), emb(id)) >= tau => oid }
        id -> ((asg(id), smaller.isEmpty,
          if (smaller.isEmpty) -1L else smaller.min))
      }.toMap
      assert(got == expected, s"semdedup divergence on trial $trial")
    }
  }
}

class RetrievalSpec extends SparkSpec {
  import graft.ext.Retrieval

  test("integer tf-idf ranks rarer matching terms higher, ties to low id") {
    // N=4; df: cat=2, dog=1, fish=4 → idf = 2000, 4000, 1000
    val docs = df(Seq(
      (1L, "cat fish"),
      (2L, "dog fish fish"),
      (3L, "cat cat fish"),
      (4L, "fish"))).toDF("doc_id", "text")
    val qs = df(Seq((0L, Seq("cat", "dog")))).toDF("query_id", "terms")
    val out = Retrieval.topK(docs, "doc_id", "text", qs, k = 10)
      .orderBy("rank").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    // doc3: 2·2000=4000, doc2: 1·4000=4000 (tie → lower id first), doc1: 2000
    assert(out == Seq((1, 2L, 4000L), (2, 3L, 4000L), (3, 1L, 2000L)))
  }

  test("docs sharing no query term never appear; k truncates") {
    val docs = df(Seq(
      (1L, "alpha beta"), (2L, "beta gamma"), (3L, "delta"))).toDF("doc_id", "text")
    val qs = df(Seq((0L, Seq("beta")), (1L, Seq("zzz")))).toDF("query_id", "terms")
    val out = Retrieval.topK(docs, "doc_id", "text", qs, k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(out == Seq((0L, 1L))) // only query 0 matches; k=1 keeps doc 1
  }

  test("query terms are normalized like doc terms (case/whitespace-insensitive)") {
    val docs = df(Seq(
      (1L, "cat fish"),
      (2L, "dog fish fish"),
      (3L, "cat cat fish"),
      (4L, "fish"))).toDF("doc_id", "text")
    // same query as the baseline test, but capitalized / padded /
    // multi-word — must produce identical rankings
    val qs = df(Seq((0L, Seq("  Cat ", "DOG")), (1L, Seq("cat dog"))))
      .toDF("query_id", "terms")
    val out = Retrieval.topK(docs, "doc_id", "text", qs, k = 10)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    val expected = Seq((1, 2L, 4000L), (2, 3L, 4000L), (3, 1L, 2000L))
    assert(out == expected.map { case (r, d, s) => (0L, r, d, s) }
      ++ expected.map { case (r, d, s) => (1L, r, d, s) })
  }

  test("the query side broadcasts; the corpus is never nested-looped") {
    val docs = df(Seq((1L, "a b"), (2L, "b c"))).toDF("doc_id", "text")
    val qs = df(Seq((0L, Seq("b")))).toDF("query_id", "terms")
    val plan = Retrieval.topK(docs, "doc_id", "text", qs, 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("topK agrees with a local single-machine reference on randomized corpora") {
    var seed = 0xD15EA5EL
    def nxt(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      math.floorMod(seed >>> 16, bound).toInt
    }
    val vocab = Vector("ant", "bee", "cat", "dog", "eel", "fox", "gnu", "hen")
    (1 to 3).foreach { trial =>
      val docs = (0L until 40L).map(i =>
        (i, Seq.fill(2 + nxt(10))(vocab(nxt(vocab.size))).mkString(" ")))
      val queries = Seq(
        (0L, Seq(vocab(nxt(vocab.size)), vocab(nxt(vocab.size)))),
        (1L, Seq(vocab(nxt(vocab.size)))))
      val k = 5
      val got = Retrieval.topK(df(docs).toDF("doc_id", "text"),
          "doc_id", "text", df(queries).toDF("query_id", "terms"), k)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .toSet
      // --- local reference ---
      val toks = docs.map { case (id, t) =>
        id -> t.trim.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty) }
      val n = docs.size.toLong
      val dfc = toks.flatMap(_._2.distinct).groupBy(identity).map {
        case (t, xs) => t -> xs.size.toLong }
      val expected = queries.flatMap { case (qid, terms) =>
        val scores = toks.map { case (id, ws) =>
          id -> terms.distinct.map { t =>
            val tf = ws.count(_ == t).toLong
            if (tf == 0) 0L else tf * (n * 1000L / dfc(t))
          }.sum
        }.filter(_._2 > 0)
        scores.sortBy { case (id, s) => (-s, id) }.take(k).zipWithIndex.map {
          case ((id, s), i) => (qid, i + 1, id, s) }
      }.toSet
      assert(got == expected, s"retrieval divergence on trial $trial")
    }
  }
}

class CurationSpec extends SparkSpec {
  test("funnel stages are monotone non-increasing and start at the corpus size") {
    val docs = df(Seq(
      (1L, "the cat is on the mat for a while"),
      (2L, "the cat is on the mat for a while"),   // exact dup of 1
      (3L, "der hund ist nicht mit der katze"),    // german
      (4L, "1234 5678 90123 456"))).toDF("doc_id", "text") // digit junk
    val out = graft.ext.Curation.funnel(docs, "doc_id", "text",
        qualityMin = 0.1, sampleRate = 1.0)
      .orderBy("stage_no").collect().map(r => (r.getString(1), r.getLong(2))).toSeq
    assert(out.head == ("raw", 4L))
    assert(out.map(_._2) == out.map(_._2).sorted.reverse, s"not monotone: $out")
    // the german doc fails the language gate; the dup dies in dedup
    assert(out(1)._2 <= 3L && out(3)._2 < out(1)._2)
  }

  test("scoreBuckets: standard ntile dealing on the (score desc, id) total order; nulls abstain") {
    val s = spark; import s.implicits._
    val rows = Seq(
      (1L, "a", Some(0.9)), (2L, "a", Some(0.9)), (3L, "a", Some(0.5)),
      (4L, "a", Some(0.3)), (5L, "a", Option.empty[Double]),
      (6L, "b", Some(0.1)))
      .toDF("doc_id", "source", "score")
    val got = graft.ext.Curation.scoreBuckets(rows, "source", "score",
        "doc_id", 3)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(r.fieldIndex("bucket"))) -1L
         else r.getAs[Long]("bucket"))).toMap
    // group a: 4 scored rows into 3 buckets → sizes 2,1,1; the 0.9 tie
    // deals deterministically by doc_id
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 2L && got(4L) == 3L)
    assert(got(5L) == -1L, "null score must abstain with a null bucket")
    assert(got(6L) == 1L, "a singleton group lands in the head bucket")
  }

  test("batch recipe invariants: copy counts consistent, weighted langs only, rule-gate survivors") {
    val docs = graft.util.Tables.documents(spark, "/root/testdata/sf0.001")
    val emb = graft.util.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val weights = Map("en" -> 0.7, "fr" -> 0.3)
    graft.ext.Decontaminate.writeBenchmarkStore(
      docs.filter(col("doc_id") % 10 === 0), "text", n = 8,
      table = "recipe_spec_bench", buckets = 4)
    graft.ext.LmScore.writeModelStore(docs.filter(col("doc_id") % 10 =!= 0),
      "text", table = "recipe_spec_model", buckets = 4)
    try {
      // start from an empty cache so the no-leak assertion below is exact
      spark.catalog.clearCache()
      val out = graft.ext.Curation.batchRecipe(docs, "doc_id", "text",
          "lang", "source", emb, "embedding",
          "recipe_spec_bench", "recipe_spec_model",
          graft.ext.Curation.RecipeParams(graft.ext.RuleGate.Rules(),
            chunkTokens = 10, minDocFreq = 2,
            shingleN = 3, numHashes = 16, nBands = 4, minJaccard = 0.5,
            nCentroids = 16, dim = 64, seedOffset = 100000L,
            minCosine = 0.4, maxContamination = 0.3, keepFraction = 0.5,
            weights = weights, budgetTokens = 5000L))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(4)))
      assert(out.nonEmpty, "the recipe must keep something at sf0.001")
      // the recipe releases its OWN allocations (signature cache, gram
      // cache) after the gate output materializes — a session running
      // one recipe per corpus snapshot must not accumulate caches
      assert(spark.sharedState.cacheManager.isEmpty,
        "batchRecipe must leave no recipe-owned cache entries behind")
      // per doc: copy_idx runs 0..n_copies-1 and every row agrees on n_copies
      out.groupBy(_._1).foreach { case (id, rows) =>
        val n = rows.head._4
        assert(rows.length == n && rows.map(_._3).sorted.toSeq == (0L until n),
          s"doc $id: inconsistent copies ${rows.toSeq}")
      }
      // only weighted strata can materialize
      assert(out.map(_._2).toSet.subsetOf(weights.keySet))
      // every surviving doc passed the rule gate (stage 1 is a filter)
      val ruleKept = graft.ext.RuleGate.flags(docs, "doc_id", "text")
        .filter(col("keep")).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(out.map(_._1).toSet.subsetOf(ruleKept))
    } finally {
      Seq("recipe_spec_bench", "recipe_spec_bench_meta", "recipe_spec_model",
        "recipe_spec_model_meta").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
      graft.core.IngestLedger.reset(spark, "recipe_spec_model")
      spark.catalog.clearCache()
    }
  }

  test("rankAgreement: +1 on agreeing ranks, -1 on reversed, abstainers excluded, singleton groups null") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      // group a: b-signal = a-signal -> identical ranks, rho = 1
      ("a", 1L, 0.1, 0.1), ("a", 2L, 0.2, 0.2), ("a", 3L, 0.3, 0.3),
      // group b: b-signal reversed -> rho = -1
      ("b", 4L, 0.1, 0.9), ("b", 5L, 0.2, 0.5), ("b", 6L, 0.3, 0.1),
      // group c: one scored doc -> no pair evidence, rho null
      ("c", 7L, 0.5, 0.5))
      .toDF("src", "doc_id", "sa", "sb")
      // group a also carries an abstainer (null b-signal): excluded, so
      // rho stays exactly 1 instead of being dragged by a null rank
      .unionByName(Seq(("a", 9L, 0.4)).toDF("src", "doc_id", "sa")
        .withColumn("sb", lit(null).cast("double")))
    val agreed = graft.ext.Curation.rankAgreement(rows, "src", "sa", "sb",
        "doc_id")
    // output typing pin (the r18 x94 driver-red lesson): the EMITTED
    // sum_d2 must be bigint — a decimal-typed output column stringifies
    // differently across engines and fails the driver's compare
    assert(agreed.schema("sum_d2").dataType ==
      org.apache.spark.sql.types.LongType)
    val out = agreed
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toMap
    assert(out("a") == ((3L, 0L, Some(1.0))))
    assert(out("b") == ((3L, 8L, Some(-1.0))))
    assert(out("c") == ((1L, 0L, None)))
  }

  test("gateAgreement: kappa 1 on identical gates, 0 at independence, " +
      "null gates excluded, constant gates abstain") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      // group a: identical decisions -> po 1, kappa 1
      ("a", true, true), ("a", false, false), ("a", true, true),
      // group b: independent 2x2 (each cell once) -> po 0.5 = pe, kappa 0
      ("b", true, true), ("b", true, false), ("b", false, true),
      ("b", false, false),
      // group c: gate A constant-true -> pe 1, kappa abstains
      ("c", true, true), ("c", true, false))
      .toDF("src", "ga", "gb")
      // group a also carries an abstainer (null gate B): excluded from
      // the table, counted unrated — kappa stays exactly 1
      .unionByName(Seq(("a", true)).toDF("src", "ga")
        .withColumn("gb", lit(null).cast("boolean")))
    val out = graft.ext.Curation.gateAgreement(rows, "src", "ga", "gb")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6)),
          (if (r.isNullAt(7)) None else Some(r.getDouble(7)),
            if (r.isNullAt(8)) None else Some(r.getDouble(8)),
            if (r.isNullAt(9)) None else Some(r.getDouble(9)))))
      .toMap
    assert(out("a") == (((3L, 1L, 2L, 0L, 0L, 1L),
      (Some(1.0), Some(5.0 / 9), Some(1.0)))))
    assert(out("b") == (((4L, 0L, 1L, 1L, 1L, 1L),
      (Some(0.5), Some(0.5), Some(0.0)))))
    // c: pe = (2*1 + 0*1)/4 = 0.5? no: marginals a1=2,b1=1,a0=0,b0=1 ->
    // pe = (2*1 + 1*0)/4 = 0.5, po = 0.5, kappa = 0 — NOT degenerate.
    // Constant gate A alone doesn't force pe=1; check computed values.
    assert(out("c")._1 == ((2L, 0L, 1L, 1L, 0L, 0L)))
    assert(out("c")._2 == ((Some(0.5), Some(0.5), Some(0.0))))
  }

  test("gateAttribution: unique drops need exactly one dropping gate; abstainers neither drop nor block") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      // (tokens, ga, gb): kept by both; dropped by A only (unique);
      // dropped by both (not unique); B abstains while A drops (unique)
      (10L, Some(true), Some(true)),
      (20L, Some(false), Some(true)),
      (40L, Some(false), Some(false)),
      (80L, Some(false), None))
      .toDF("tok", "ga", "gb")
    val out = graft.ext.Curation.gateAttribution(rows, "tok", Seq("ga", "gb"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getDouble(7)))).toMap
    // A: 4 eval, 3 drops, unique = rows where ONLY A drops (20, 80)
    assert(out("ga") == ((4L, 4L, 3L, 2L, 140L, 100L, 0.75)))
    // B: 3 eval (one abstain), 1 drop, not unique (A drops it too)
    assert(out("gb") == ((4L, 3L, 1L, 0L, 40L, 0L, 1.0 / 3)))
  }

  test("gateAgreement: both gates constant -> pe 1 -> kappa abstains") {
    val s = spark
    import s.implicits._
    val rows = Seq(("d", true, true), ("d", true, true))
      .toDF("src", "ga", "gb")
    val r = graft.ext.Curation.gateAgreement(rows, "src", "ga", "gb")
      .collect()(0)
    assert(r.getDouble(7) == 1.0 && r.getDouble(8) == 1.0)
    assert(r.isNullAt(9))
  }

  test("language routing: confident docs route by argmax, low-confidence and null-score docs abstain") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      // dense stopwords -> confident en / de routes
      (1L, "the cat of the house is in the garden for the day", 0.9),
      (2L, "der hund und die katze ist nicht mit den andern", 0.8),
      // real words, no stopword hits -> confidence 0 -> abstain
      (3L, "quartz obelisk granite pylon marble", 0.7),
      // confident route but a NULL score -> bucket must still be null
      (4L, "the dog of the yard is in the shade for now", Double.NaN))
      .toDF("doc_id", "text", "s")
      .withColumn("score", when(col("doc_id") === 4L,
        lit(null).cast("double")).otherwise(col("s")))
    val out = graft.ext.Curation.languageRoutedBuckets(
        docs.select("doc_id", "text", "score"),
        "doc_id", "text", "score", minConfidence = 0.05, nBuckets = 2)
      .collect().map(r => r.getLong(0) ->
        (Option(r.getAs[String]("route")),
          if (r.isNullAt(r.fieldIndex("bucket"))) None
          else Some(r.getAs[Long]("bucket")))).toMap
    assert(out(1L)._1.contains("en") && out(1L)._2.nonEmpty)
    assert(out(2L)._1.contains("de") && out(2L)._2.nonEmpty)
    assert(out(3L) == ((None, None)), "no stopword evidence must abstain")
    assert(out(4L)._1.contains("en") && out(4L)._2.isEmpty,
      "a confident route with no score must not receive a bucket")
  }

  test("reliabilityTable: rank-dealt buckets, exact counts, quantized means, abstainers excluded") {
    val s = spark
    import s.implicits._
    // 6 scored rows -> k=3 buckets of 2 by the (score, id) rank; labels
    // arranged so pos_rate climbs 0, 0.5, 1 — plus one null-score
    // abstainer that must not shift any bucket boundary
    val rows = Seq(
      (1L, 0.10, false), (2L, 0.20, false),
      (3L, 0.40, true), (4L, 0.50, false),
      (5L, 0.80, true), (6L, 0.90, true))
      .toDF("doc_id", "score", "is_pos")
      .unionByName(Seq((9L, true)).toDF("doc_id", "is_pos")
        .withColumn("score", lit(null).cast("double"))
        .select("doc_id", "score", "is_pos"))
    val out = graft.ext.Curation.reliabilityTable(rows, "doc_id", "score",
        "is_pos", nBuckets = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    def q(x: Double): Long = math.floor(x * 1048576.0).toLong
    def mean(xs: Double*): Double =
      xs.map(q).sum.toDouble / 1048576.0 / xs.size.toDouble
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L) == ((2L, 0L, 0.0, mean(0.10, 0.20))))
    assert(out(2L) == ((2L, 1L, 0.5, mean(0.40, 0.50))))
    assert(out(3L) == ((2L, 2L, 1.0, mean(0.80, 0.90))))
  }

  test("reliabilityTable: a scored row with a null label refuses loud, not an executor NPE") {
    val s = spark
    import s.implicits._
    val rows = Seq((1L, 0.5, true)).toDF("doc_id", "score", "is_pos")
      .unionByName(Seq((2L, 0.7)).toDF("doc_id", "score")
        .withColumn("is_pos", lit(null).cast("boolean"))
        .select("doc_id", "score", "is_pos"))
    val e = intercept[Exception] {
      graft.ext.Curation.reliabilityTable(rows, "doc_id", "score",
        "is_pos", nBuckets = 2).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("null label")),
      s"expected the crafted null-label message, got: $e")
  }

  test("reliabilityTable: invariant under input row order and partitioning") {
    val s = spark
    import s.implicits._
    // 97 rows, ties in score included — the (score, id) total order and
    // the two-pass distributed rank must yield the same table no matter
    // how the input is laid out (the Packing/Vocab determinism promise)
    val rows = (1L to 97L).map(i =>
      (i, (i * 37 % 10).toDouble / 10.0, i % 3 == 0))
      .toDF("doc_id", "score", "is_pos")
    def table(df: org.apache.spark.sql.DataFrame) =
      graft.ext.Curation.reliabilityTable(df, "doc_id", "score", "is_pos",
        nBuckets = 7).orderBy("bucket").collect().map(_.toSeq).toSeq
    assert(table(rows) == table(rows.orderBy(col("doc_id").desc).repartition(13)))
    assert(table(rows) == table(rows.repartition(1)))
  }

  test("reliabilityTable: no scored rows yields an empty table, not a crash") {
    val s = spark
    import s.implicits._
    val rows = Seq((1L, true)).toDF("doc_id", "is_pos")
      .withColumn("score", lit(null).cast("double"))
    assert(graft.ext.Curation.reliabilityTable(rows, "doc_id", "score",
      "is_pos", nBuckets = 4).count() == 0L)
  }

  test("language routing: zero-evidence docs abstain even at minConfidence = 0") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the cat of the house is in the garden for the day", 0.9),
      // no stopword/charset hit on ANY language -> confidence 0.0; at
      // threshold 0 it must NOT route to the argmax tie-break ('de')
      (2L, "quartz obelisk granite pylon marble", 0.7))
      .toDF("doc_id", "text", "score")
    val out = graft.ext.Curation.languageRoutedBuckets(
        docs, "doc_id", "text", "score", minConfidence = 0.0, nBuckets = 2)
      .collect().map(r => r.getLong(0) -> Option(r.getAs[String]("route")))
      .toMap
    assert(out(1L).contains("en"))
    assert(out(2L).isEmpty, "zero evidence must abstain, not tie-break route")
  }

  test("quality seam: the classifier gate swaps into stage 7, relabels the funnel, and cuts differently") {
    val docs = graft.util.Tables.documents(spark, "/root/testdata/sf0.001")
    val emb = graft.util.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    graft.ext.Decontaminate.writeBenchmarkStore(
      docs.filter(col("doc_id") % 10 === 0), "text", n = 8,
      table = "seam_bench", buckets = 4)
    graft.ext.LmScore.writeModelStore(docs.filter(col("doc_id") % 10 =!= 0),
      "text", table = "seam_model", buckets = 4)
    graft.ext.QualityClassifier.writeClassifierStore(
      docs.filter(col("doc_id") % 3 === 0),
      docs.filter(col("doc_id") % 3 =!= 0), "text",
      table = "seam_cls", buckets = 4)
    val p = graft.ext.Curation.RecipeParams(graft.ext.RuleGate.Rules(),
      chunkTokens = 10, minDocFreq = 2,
      shingleN = 3, numHashes = 16, nBands = 4, minJaccard = 0.5,
      nCentroids = 16, dim = 64, seedOffset = 100000L,
      minCosine = 0.4, maxContamination = 0.3, keepFraction = 0.5,
      weights = Map("en" -> 0.7, "fr" -> 0.3), budgetTokens = 5000L)
    try {
      def funnel(q: Option[graft.ext.Curation.QualityStage]) =
        graft.ext.Curation.batchRecipeFunnel(docs, "doc_id", "text",
            "lang", "source", emb, "embedding", "seam_bench", "seam_model",
            p, q)
          .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
          .sortBy(_._1)
      val lm = funnel(None)
      val cls = funnel(Some(
        graft.ext.Curation.ClassifierGate("seam_cls", minScore = 0.5)))
      // stages 1-6 are seam-independent; stage 7 relabels and (with a
      // threshold gate trained on a %3-vs-rest split) cuts differently
      assert(lm.take(6).toSeq == cls.take(6).toSeq)
      assert(lm(6)._2 == "lm" && cls(6)._2 == "classifier")
      assert(cls(6)._3 <= cls(5)._3, "stage 7 must not grow the corpus")
    } finally {
      Seq("seam_bench", "seam_bench_meta", "seam_model", "seam_model_meta",
        "seam_cls", "seam_cls_meta").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
      graft.core.IngestLedger.reset(spark, "seam_model")
      graft.core.IngestLedger.reset(spark, "seam_cls")
      spark.catalog.clearCache()
    }
  }
}

/** MOSS winnowing fingerprint selection ([[graft.ext.Winnowing]]). */
class WinnowingSpec extends SparkSpec {
  import org.apache.spark.sql.functions.{col, expr}

  /** Reference winnowing over a doc's gram-hash sequence: every window
    * end (frame clipped at start), min hash, rightmost tie-break. */
  private def reference(hashes: Seq[Long], w: Int): Set[(Int, Long)] =
    hashes.indices.map { e =>
      val lo = math.max(0, e - w + 1)
      val window = (lo to e).map(p => (hashes(p), -p))
      val (h, negP) = window.min
      (-negP, h)
    }.toSet

  private def gramHashes(text: String, k: Int): Seq[Long] = {
    val s = spark
    import s.implicits._
    Seq(text).toDF("text")
      .select(org.apache.spark.sql.functions.posexplode(
        graft.functions.ShingleMd5(
          graft.ext.Ngrams.normTokens(col("text")), k)))
      .orderBy("pos")
      .collect().map(_.getLong(1)).toSeq
  }

  test("selection equals the reference algorithm (min hash, rightmost tie, clipped leading windows)") {
    val text = "the quick brown fox jumps over the lazy dog and then " +
      "the quick brown fox jumps again over the very lazy dog"
    val docs = df(Seq((1L, text))).toDF("doc_id", "text")
    val k = 3; val w = 4
    val got = graft.ext.Winnowing
      .selectFingerprints(docs, "doc_id", "text", k, w)
      .collect().map(r => (r.getLong(1).toInt, r.getLong(2))).toSet
    assert(got == reference(gramHashes(text, k), w))
  }

  test("winnowing guarantee: docs sharing a run of >= w+k-1 tokens share a selected fingerprint") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = df(Seq(
      (1L, s"one two three $shared four five six"),
      (2L, s"seven eight $shared nine ten eleven twelve"))).toDF("doc_id", "text")
    val k = 3; val w = 4 // shared run = 10 tokens >= w+k-1 = 6
    val sel = graft.ext.Winnowing
      .selectFingerprints(docs, "doc_id", "text", k, w)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    assert((sel(1L) intersect sel(2L)).nonEmpty)
  }

  test("stats: density ~ 2/(w+1) band, short docs still fingerprint, gram-less docs report zeros") {
    val long = (1 to 200).map(i => s"w${i * 7919 % 997}").mkString(" ")
    val docs = df(Seq(
      (1L, long),
      (2L, "just two"),          // 2 tokens < k: zero grams
      (3L, "tiny doc here now")  // 4 tokens, 2 grams < w: whole-doc window
    )).toDF("doc_id", "text")
    val out = graft.ext.Winnowing.stats(docs, "doc_id", "text", k = 3, w = 9)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val (_, n1, s1, d1) = out(0)
    assert(n1 == 198L && s1 >= 1L)
    assert(d1 > 0.1 && d1 < 0.4, s"density $d1 outside the 2/(w+1)=0.2 band")
    assert(out(1) == ((2L, 0L, 0L, 0.0)))
    val (_, n3, s3, _) = out(2)
    assert(n3 == 2L && s3 >= 1L && s3 <= 2L)
  }

  test("overlapPairs: shared-run docs pair, disjoint docs don't, hot fingerprints capped") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val boiler = "common header line every doc carries verbatim today"
    val docs = df(Seq(
      (1L, s"one two three $shared four five six"),
      (2L, s"seven eight $shared nine ten eleven"),
      (3L, "totally different words nothing shared at all here friend"),
      // 40 docs sharing ONLY the boilerplate line: with the cap at 8,
      // its fingerprints are dropped and none of these pair
      ) ++ (10L to 49L).map(i => (i, s"$boiler unique$i marker$i")))
      .toDF("doc_id", "text")
    val out = graft.ext.Winnowing.overlapPairs(docs, "doc_id", "text",
        k = 3, w = 4, minShared = 1, maxDocsPerFp = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((1L, 2L)))
    assert(!out.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!out.exists(p => p._1 >= 10L), s"boilerplate pairs leaked: $out")
  }

  test("selection is invariant under input partitioning") {
    val docs = (1L to 20L).map(i =>
      (i, (1 to 30).map(j => s"t${(i * 31 + j * 17) % 23}").mkString(" ")))
    val a = graft.ext.Winnowing.selectFingerprints(
        df(docs).toDF("doc_id", "text").repartition(1), "doc_id", "text", 2, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = graft.ext.Winnowing.selectFingerprints(
        df(docs).toDF("doc_id", "text").repartition(7, col("doc_id") % 3),
        "doc_id", "text", 2, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a == b)
  }
}

/** Fill-in-the-middle construction ([[graft.ext.Fim]]). */
class FimSpec extends SparkSpec {
  import org.apache.spark.sql.functions.col

  private val docs = df(
    (1L to 60L).map(i => (i, (0 until 20).map(j => s"w${(i + j) % 13}")
      .mkString(" "))) ++ Seq((100L, "two tokens"), (101L, ""))
  ).toDF("doc_id", "text")

  test("PSM rendering reconstructs the document; cuts are interior and ordered") {
    val out = graft.ext.Fim.transform(docs, "doc_id", "text",
        fimRate = 0.5, seed = "fim-spec")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4), r.getString(5)))
    val texts = docs.collect().map(r => r.getLong(0) ->
      r.getString(1).toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq).toMap
    var fimSeen = 0
    out.foreach { case (id, n, fim, c1, c2, psm) =>
      assert(n == texts(id).length)
      if (!fim) assert(psm == texts(id).mkString(" ") && c1 == -1L)
      else {
        fimSeen += 1
        assert(c1 >= 1 && c1 <= c2 && c2 <= n - 1, s"doc $id cuts $c1 $c2")
        val t = texts(id)
        val (p, m, s2) = (t.take(c1.toInt), t.slice(c1.toInt, c2.toInt),
          t.drop(c2.toInt))
        assert(psm == s"<fim_prefix> ${p.mkString(" ")} <fim_suffix> " +
          s"${s2.mkString(" ")} <fim_middle> ${m.mkString(" ")}", s"doc $id")
        // reconstruction: P ++ M ++ S == doc
        assert((p ++ m ++ s2) == t)
      }
    }
    assert(fimSeen > 10 && fimSeen < 50, s"realized fim count $fimSeen")
    // short and empty docs never transform
    assert(!out.find(_._1 == 100L).get._3 && !out.find(_._1 == 101L).get._3)
  }

  test("transform is deterministic and seed-sensitive; audit rates are consistent") {
    def run(seed: String) = graft.ext.Fim.transform(docs, "doc_id", "text",
        0.5, seed).collect().map(r => (r.getLong(0), r.getString(5))).toSet
    assert(run("a") == run("a"))
    assert(run("a") != run("b"))
    val audit = graft.ext.Fim.audit(
        docs.withColumn("src", col("doc_id") % 2), "doc_id", "text",
        "src", 0.5, "fim-spec")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    val (nd, ne, nf) = audit.map(a => (a._1, a._2, a._3))
      .reduce((x, y) => (x._1 + y._1, x._2 + y._2, x._3 + y._3))
    // 62 docs, but only the 60 long ones are eligible (the apply draw
    // never runs on <3-token docs) — the realized rate divides by them
    assert(nd == 62L && ne == 60L && nf > 10L && nf < 50L)
    audit.foreach { case (_, e, f, r) =>
      assert(math.abs(r - f.toDouble / e) < 1e-12)
    }
  }

  test("cut draws use the full-width hash (not the rate bucket) and null text passes through empty") {
    val s = spark
    import s.implicits._
    val nulled = Seq((1L, null: String), (2L, "a b c d")).toDF("doc_id", "text")
    val out = graft.ext.Fim.transform(nulled, "doc_id", "text", 1.0, "fs2")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getBoolean(2), r.getString(5))).toMap
    assert(out(1L) == ((0L, false, "")))
    assert(out(2L)._2) // 4 tokens, rate 1.0: transforms
    // full-width draw: replay conv(substr(md5,1,15),16,10) % (n-1) + 1
    def wide(tag: String) = java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils.md5Hex(s"fs2:$tag:2")
        .take(15), 16)
    val (a, b) = (wide("c1") % 3 + 1, wide("c2") % 3 + 1)
    val row = graft.ext.Fim.transform(nulled, "doc_id", "text", 1.0, "fs2")
      .filter(col("doc_id") === 2L).head()
    assert(row.getLong(3) == math.min(a, b) && row.getLong(4) == math.max(a, b))
  }
}

/** Soft score-proportional sampling ([[graft.ext.Sampling.softSample]]). */
class SoftSampleSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private def docs(rates: Seq[java.lang.Double]) = {
    val s = spark
    import s.implicits._
    rates.zipWithIndex.map { case (r, i) => (i.toLong, r) }
      .toDF("doc_id", "rate")
  }

  test("rate 1 keeps all, rate 0 and null keep none, rates clamp") {
    val d = docs(Seq(1.0, 0.0, null, 7.5, -3.0))
    val kept = graft.ext.Sampling.softSample(d, "doc_id", "rate", "s1")
      .collect().map(_.getLong(0)).toSet
    assert(kept.contains(0L) && kept.contains(3L)) // 1.0 and clamped 7.5
    assert(!kept.contains(1L) && !kept.contains(2L) && !kept.contains(4L))
  }

  test("draw is deterministic, partitioning-invariant, seed-sensitive, realized rate in band") {
    val d = docs(Seq.fill(2000)(java.lang.Double.valueOf(0.3)))
    def run(seed: String, parts: Int) =
      graft.ext.Sampling.softSample(d.repartition(parts), "doc_id", "rate",
        seed).collect().map(_.getLong(0)).toSet
    val a = run("s1", 1)
    assert(a == run("s1", 7))
    assert(a != run("s2", 1))
    val rate = a.size / 2000.0
    assert(rate > 0.25 && rate < 0.35, s"realized $rate far from 0.3")
  }
}

/** Unigram-LM tokenizer ([[graft.ext.Unigram]] — hard-EM Viterbi). */
class UnigramSpec extends SparkSpec {
  import org.apache.spark.sql.functions.col

  private val L = 4

  private def refQ(cnt: Long, total: Long): Double =
    math.max(1L, cnt * 1048576L / total).toDouble / 1048576.0

  private case class St(negs: Double, k: Int, b: Int)

  /** Reference Viterbi: max product, fewest pieces, longest last piece
    * — plain Scala, no Spark machinery. */
  private def refViterbi(word: String, probs: Map[String, Double])
      : Option[List[String]] = {
    val st = Array.fill[Option[St]](word.length + 1)(None)
    st(0) = Some(St(-1.0, 0, -1))
    for (i <- 1 to word.length) {
      val cands = for {
        jj <- math.max(1, i - L + 1) to i
        prev <- st(jj - 1)
        p <- probs.get(word.substring(jj - 1, i))
      } yield St(prev.negs * p, prev.k + 1, jj - 1)
      if (cands.nonEmpty)
        st(i) = Some(cands.minBy(c => (c.negs, c.k, c.b)))
    }
    st(word.length).map { _ =>
      var pos = word.length
      var ps = List.empty[String]
      while (pos > 0) {
        val s = st(pos).get
        ps = word.substring(s.b, pos) :: ps
        pos = s.b
      }
      ps
    }
  }

  /** Reference trainer: seed substring counts -> top-V multi + all
    * chars -> rounds x (viterbi + recount) -> quantized probs. */
  private def refFit(words: Map[String, Long], v: Int, rounds: Int)
      : Map[String, (Long, Double)] = {
    val seed = words.toSeq.flatMap { case (w, c) =>
      for (i <- 0 until w.length; l <- 1 to math.min(L, w.length - i))
        yield (w.substring(i, i + l), c)
    }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
    val chars = seed.filter(_._1.length == 1)
    val multi = seed.filter(_._1.length > 1).toSeq
      .sortBy { case (p, c) => (-c, p) }.take(v)
    var vocab: Map[String, Long] = chars ++ multi
    for (_ <- 1 to rounds) {
      val total = vocab.values.sum
      val probs = vocab.map { case (p, c) => p -> refQ(c, total) }
      vocab = words.toSeq.flatMap { case (w, c) =>
        refViterbi(w, probs).get.map(_ -> c)
      }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
    }
    val total = vocab.values.sum
    vocab.map { case (p, c) => p -> (c, refQ(c, total)) }
  }

  private val corpus = df(Seq(
    (1L, "the cat and the catnip and the cast"),
    (2L, "a cat sat on the mat with another cat"),
    (3L, "casting the catnip net can net the cat"))).toDF("doc_id", "text")

  private def wordFreqs: Map[String, Long] = corpus.collect()
    .flatMap(_.getString(1).split(" ")).groupBy(identity)
    .map { case (w, xs) => w -> xs.length.toLong }

  test("fit matches the reference trainer exactly (counts and quantized probs)") {
    val got = graft.ext.Unigram
      .fit(corpus, "text", vocabSize = 12, maxPieceLen = L, rounds = 2)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    val ref = refFit(wordFreqs, v = 12, rounds = 2)
    assert(got == ref, s"got=${got.toSeq.sorted}\nref=${ref.toSeq.sorted}")
  }

  test("viterbiSegments returns pieces in forward order, equal to the reference") {
    val words = graft.ext.Unigram.wordTypes(corpus, "text")
    val probs = graft.ext.Unigram
      .fit(corpus, "text", vocabSize = 12, maxPieceLen = L, rounds = 1)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val got = graft.ext.Unigram.viterbiSegments(words, probs, L)
      .collect().map(r => r.getString(0) -> r.getSeq[String](3).toList).toMap
    got.foreach { case (w, ps) =>
      assert(ps.mkString("") == w, s"pieces must concatenate to the word: $w -> $ps")
      assert(ps == refViterbi(w, probs).get, w)
    }
  }

  test("extendUnigram reports the word types a domain continuation cannot segment") {
    val t = "unigram_extend_spec"
    def cleanup(): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_meta")
    }
    cleanup()
    try {
      graft.ext.Unigram.writeUnigramStore(corpus, "text", vocabSize = 12,
        maxPieceLen = L, rounds = 1, table = t)
      val foreign = df(Seq((9L, "the cat zzz qqzz sat"))).toDF("doc_id", "text")
      val dropped = graft.ext.Unigram.extendUnigram(foreign, "text", 1, t)
      assert(dropped == 2L, s"zzz and qqzz are uncovered, got $dropped")
    } finally cleanup()
  }

  test("every training word segments; richer vocab never raises the piece count") {
    val words = graft.ext.Unigram.wordTypes(corpus, "text")
    val probsSmall = graft.ext.Unigram
      .fit(corpus, "text", vocabSize = 2, maxPieceLen = L, rounds = 1)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val probsBig = graft.ext.Unigram
      .fit(corpus, "text", vocabSize = 40, maxPieceLen = L, rounds = 1)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val kSmall = graft.ext.Unigram.viterbiSegments(words, probsSmall, L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val kBig = graft.ext.Unigram.viterbiSegments(words, probsBig, L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(kSmall.keySet == kBig.keySet)           // all words segment
    kBig.foreach { case (w, k) => assert(k <= kSmall(w), w) }
  }

  test("pieceCounts prices in trained units and reports foreign words unpriced") {
    val probs = graft.ext.Unigram
      .fit(corpus, "text", vocabSize = 12, maxPieceLen = L, rounds = 1)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val scored = df(Seq(
      (10L, "the cat sat"),
      (11L, "zz zq"),          // 'z'/'q' unseen chars: unpriced
      (12L, ""))).toDF("doc_id", "text")
    val out = graft.ext.Unigram
      .pieceCounts(scored, "doc_id", "text", probs, L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out(0)._2 == 3L && out(0)._3 >= 3L && out(0)._4 == 0L)
    assert(out(1) == ((11L, 2L, 0L, 2L)))
    assert(out(2) == ((12L, 0L, 0L, 0L)))
  }

  test("char fallback prices DP-failures per character inside the floor; outside stays unpriced; packing reconciles on total_tokens") {
    val probs = graft.ext.Unigram
      .fit(corpus, "text", vocabSize = 12, maxPieceLen = L, rounds = 1)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val scored = df(Seq(
      (10L, "the cat sat"),
      (11L, "zz zebra"), // z out of corpus: DP fails for both words
      (12L, ""))).toDF("doc_id", "text")
    // full Latin floor: everything DP-unsegmentable falls back per char
    val full = graft.ext.Unigram
      .pieceCountsWithFallback(scored, "doc_id", "text", probs, L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    // (id, n_words, n_pieces, fb_words, fb_tokens, unpriced, total)
    assert(full(0)._6 == 0L && full(0)._4 == 0L &&
      full(0)._7 == full(0)._3)
    assert(full(1) == ((11L, 2L, 0L, 2L, 7L, 0L, 7L))) // 'zz'(2)+'zebra'(5)
    assert(full(2) == ((12L, 0L, 0L, 0L, 0L, 0L, 0L)))
    // narrower floor (no 'z'): z-words stay honestly unpriced
    val noZ = ('a' to 'y').map(_.toString).toSet
    val nz = graft.ext.Unigram
      .pieceCountsWithFallback(scored, "doc_id", "text", probs, L, noZ)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(nz(1) == ((11L, 0L, 2L, 0L)))
    // budget reconciliation: a layout packed on total_tokens carries
    // exactly the column's mass (last offset + n_tokens = sum)
    val priced = graft.ext.Unigram
      .pieceCountsWithFallback(scored, "doc_id", "text", probs, L)
    val packed = graft.ext.Packing.packCountedSequences(
        priced.select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("total_tokens")),
        "doc_id", "total_tokens", windowTokens = 4)
      .orderBy("doc_id").collect()
    spark.catalog.clearCache()
    val mass = full.map(_._7).sum
    assert(packed.last.getAs[Long]("offset")
      + packed.last.getAs[Long]("n_tokens") == mass)
  }

  test("fit is invariant under input partitioning") {
    def run(parts: Int) = graft.ext.Unigram
      .fit(corpus.repartition(parts), "text", vocabSize = 12,
        maxPieceLen = L, rounds = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(run(1) == run(7))
  }

  test("store: serve == fit, extend(fit(1), 1) == fit(2), meta-less store refuses") {
    val t = "unigram_store_spec"
    def cleanup(): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_meta")
    }
    cleanup()
    try {
      graft.ext.Unigram.writeUnigramStore(corpus, "text", vocabSize = 12,
        maxPieceLen = L, rounds = 1, table = t)
      val served1 = graft.ext.Unigram.serveVocab(spark, t)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      val fit1 = graft.ext.Unigram.fit(corpus, "text", 12, L, 1)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(served1 == fit1)
      graft.ext.Unigram.extendUnigram(corpus, "text", extraRounds = 1, t)
      val served2 = graft.ext.Unigram.serveVocab(spark, t)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      val fit2 = graft.ext.Unigram.fit(corpus, "text", 12, L, 2)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(served2 == fit2, "continuation must equal the deeper one-shot fit")
      // store-served pricing == in-memory pricing
      val probs = fit2.map(x => x._1 -> x._3).toMap
      val a = graft.ext.Unigram.pieceCountsAgainstStore(corpus, "doc_id",
          "text", t)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      val b = graft.ext.Unigram.pieceCounts(corpus, "doc_id", "text", probs, L)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      assert(a == b)
      // the meta is the commit marker: without it, serving refuses loud
      spark.sql(s"DROP TABLE IF EXISTS ${t}_meta")
      val e = intercept[IllegalArgumentException] {
        graft.ext.Unigram.serveVocab(spark, t)
      }
      assert(e.getMessage.contains("no meta table"))
    } finally cleanup()
  }

  test("tie-break: equal-probability segmentations prefer fewer, then longer-last pieces") {
    // probs hand-set so 'abab' splits tie: ab|ab (k=2) beats a|b|ab etc.
    val words = df(Seq(("abab", 1L))).toDF("word", "cnt")
    val probs = Map("a" -> 0.25, "b" -> 0.25, "ab" -> 0.0625, "abab" -> 0.00390625)
    // products: abab=0.00390625 (k=1), ab|ab=0.00390625 (k=2),
    // a|b|ab=0.00390625 (k=3) ... all tie -> fewest pieces wins: [abab]
    val out = graft.ext.Unigram.viterbiSegments(words, probs, 4)
      .collect()(0).getSeq[String](3)
    assert(out == Seq("abab"), out)
  }
}

/** T5-style span-corruption construction ([[graft.ext.SpanCorruption]]). */
class SpanCorruptionSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private val docs = {
    val long = (1 to 400).map(i => s"tk${(i * 37) % 101}").mkString(" ")
    df(Seq((1L, long), (2L, "short doc of seven little words here"),
      (3L, ""))).toDF("doc_id", "text")
  }

  /** Reference: corrupted set = union of [p, p+L-1] over hash-marked
    * starts, clipped to doc length — computed with the engine's own
    * hash but WITHOUT the window/islands machinery under test. */
  private def referenceSpans(L: Int, seed: String): Map[Long, Set[Long]] = {
    val thr = math.round(0.15 / L * graft.ext.Sampling.Denom)
    val starts = docs
      .select(col("doc_id"),
        posexplode(graft.ext.Ngrams.normTokens(col("text")))
          .as(Seq("pos", "tok")))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
      .filter(graft.ext.Sampling.hashBucket(
        concat_ws(":", lit(seed), col("doc_id"), col("pos"))) < lit(thr))
      .select("doc_id", "pos", "n").collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2)))
    starts.groupBy(_._1).map { case (id, ss) =>
      id -> ss.flatMap { case (_, p, n) =>
        p to math.min(p + L - 1, n - 1) }.toSet
    }
  }

  test("spans are the maximal islands of the reference corrupted set") {
    val L = 3; val seed = "t5-spec"
    val got = graft.ext.SpanCorruption
      .spans(docs, "doc_id", "text", 0.15, L, seed)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val ref = referenceSpans(L, seed)
    // positions covered match exactly
    val covered = got.groupBy(_._1).map { case (id, ss) =>
      id -> ss.flatMap(s => s._3 to s._4).toSet }
    assert(covered == ref, s"covered=$covered\nref=$ref")
    // spans are maximal: consecutive spans leave a gap; idx is 0..n-1
    got.groupBy(_._1).foreach { case (_, ss) =>
      val sorted = ss.sortBy(_._3)
      assert(sorted.map(_._2).toSeq == sorted.indices.map(_.toLong))
      sorted.toSeq.sliding(2).foreach {
        case Seq(a, b) => assert(b._3 > a._4 + 1, s"adjacent spans $a $b")
        case _ =>
      }
      sorted.foreach(s => assert(s._5 == s._4 - s._3 + 1))
    }
  }

  test("audit: realized rate in band on a long doc, zeros for empty docs, sum matches spans") {
    val out = graft.ext.SpanCorruption
      .audit(docs, "doc_id", "text", 0.15, 3, "t5-spec")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    val (_, n1, s1, c1, r1) = out(0)
    assert(n1 == 400L && s1 > 0L && c1 > 0L)
    assert(r1 > 0.05 && r1 < 0.3, s"realized rate $r1 far from 0.15")
    assert(out(2) == ((3L, 0L, 0L, 0L, 0.0)))
  }

  test("materialize: input has sentinels replacing spans, target replays them; reconstruction round-trips") {
    val L = 3; val seed = "t5-spec"
    val sp = graft.ext.SpanCorruption
      .spans(docs, "doc_id", "text", 0.15, L, seed)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).groupBy(_._1)
    val out = graft.ext.SpanCorruption
      .materialize(docs, "doc_id", "text", 0.15, L, seed)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getLong(3)))).toMap
    val toks = docs.collect().map(r => r.getLong(0) ->
      r.getString(1).toLowerCase.trim.split("\\s+").filter(_.nonEmpty).toSeq
    ).toMap
    out.foreach { case (id, (input, target, nSpans)) =>
      val spans = sp.getOrElse(id, Array.empty).sortBy(_._3)
      assert(nSpans == spans.length)
      if (toks(id).isEmpty) assert(input == "" && target == "")
      else {
        // reference render from the spans table
        val corrupted = spans.flatMap(s => s._3 to s._4).toSet
        val refInput = toks(id).zipWithIndex.flatMap { case (t, p) =>
          spans.find(_._3 == p) match {
            case Some(s) => Some(s"<extra_id_${s._2}>")
            case None => if (corrupted(p.toLong)) None else Some(t)
          }
        }.mkString(" ")
        val refTarget = spans.flatMap(s =>
          s"<extra_id_${s._2}>" +: (s._3 to s._4).map(p => toks(id)(p.toInt))
        ).mkString(" ")
        assert(input == refInput, s"doc $id input\n got $input\n ref $refInput")
        assert(target == refTarget, s"doc $id target")
        // round-trip: substituting each sentinel's span back restores the doc
        val restored = spans.foldLeft(input) { (acc, s) =>
          acc.replace(s"<extra_id_${s._2}>",
            (s._3 to s._4).map(p => toks(id)(p.toInt)).mkString(" "))
        }
        assert(restored == toks(id).mkString(" "), s"doc $id round-trip")
      }
    }
  }

  test("selection is seed-sensitive and partitioning-invariant") {
    def run(seed: String, parts: Int) = graft.ext.SpanCorruption
      .spans(docs.repartition(parts), "doc_id", "text", 0.15, 3, seed)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    assert(run("a", 1) == run("a", 5))
    assert(run("a", 1) != run("b", 1))
  }
}

/** Persisted winnowed index ([[graft.ext.Winnowing]] store family). */
class WinnowStoreSpec extends SparkSpec {
  import org.apache.spark.sql.functions.col

  private val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"

  private def cleanup(t: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}_meta")
    graft.core.IngestLedger.reset(spark, t)
  }

  test("store build + append + overlap serve; store-side frequency cap; meta-less store refuses") {
    val t = "winnow_store_spec"
    cleanup(t)
    try {
      val base = df(Seq(
        (1L, s"one two three $shared four five six"),
        (2L, "completely unrelated reference text goes right here friend")))
        .toDF("doc_id", "text")
      graft.ext.Winnowing.writeWinnowStore(base, "doc_id", "text",
        k = 3, w = 4, table = t, buckets = 2)
      // append a second shard holding the same shared run
      graft.ext.Winnowing.appendWinnowShard(
        df(Seq((3L, s"seven eight $shared nine ten"))).toDF("doc_id", "text"),
        "doc_id", "text", t, buckets = 2)
      val q = df(Seq(
        (100L, s"query doc carrying $shared and trailing words"),
        (101L, "nothing in common with anything indexed at all")))
        .toDF("doc_id", "text")
      val out = graft.ext.Winnowing.overlapAgainstStore(q, "doc_id", "text",
          t, minShared = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(out.contains((100L, 1L)) && out.contains((100L, 3L)),
        s"query must hit both indexed holders of the run: $out")
      assert(!out.exists(_._1 == 101L))
      assert(!out.exists(_._2 == 2L))

      // meta is the commit marker: without it, serving refuses loud
      spark.sql(s"DROP TABLE IF EXISTS ${t}_meta")
      val e = intercept[IllegalArgumentException] {
        graft.ext.Winnowing.overlapAgainstStore(q, "doc_id", "text", t,
          minShared = 1)
      }
      assert(e.getMessage.contains("no meta table"))
    } finally cleanup(t)
  }

  test("non-integral ids refuse loud instead of silently corrupting the index") {
    val t = "winnow_idtype_spec"
    cleanup(t)
    try {
      val e = intercept[IllegalArgumentException] {
        graft.ext.Winnowing.writeWinnowStore(
          df(Seq(("doc-1", "some text here for the index"))).toDF("doc_id", "text"),
          "doc_id", "text", k = 3, w = 4, table = t, buckets = 2)
      }
      assert(e.getMessage.contains("integral"))
    } finally cleanup(t)
  }

  test("replayed ingest batch is exactly-once-equivalent: duplicates collapse at read and compaction") {
    val t = "winnow_ingest_spec"
    cleanup(t)
    try {
      graft.ext.Winnowing.writeWinnowStore(
        df(Seq((1L, s"base doc with $shared inside it"))).toDF("doc_id", "text"),
        "doc_id", "text", k = 3, w = 4, table = t, buckets = 2)
      val shard = df(Seq((2L, s"shard doc also holding $shared verbatim")))
        .toDF("doc_id", "text")
      graft.ext.Winnowing.ingestWinnowBatch(shard, 7L, "doc_id", "text", t, 2)
      // a crashed-and-replayed batch: simulate by a raw double append
      // (the idempotence the pair grain must absorb), then the ledgered
      // replay of the SAME id, which must skip
      graft.ext.Winnowing.appendWinnowShard(shard, "doc_id", "text", t, 2)
      graft.ext.Winnowing.ingestWinnowBatch(shard, 7L, "doc_id", "text", t, 2)
      val q = df(Seq((200L, s"query with $shared too"))).toDF("doc_id", "text")
      val before = graft.ext.Winnowing.overlapAgainstStore(q, "doc_id",
          "text", t, minShared = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      graft.ext.Winnowing.compactWinnowStore(spark, t, 2)
      val after = graft.ext.Winnowing.overlapAgainstStore(q, "doc_id",
          "text", t, minShared = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(before == after)
      assert(before.exists(_._2 == 2L))
      // the compacted store holds each (fp, doc) pair exactly once
      val dups = spark.table(t).groupBy("sel_fp", "doc_id")
        .count().filter(col("count") > 1).count()
      assert(dups == 0L)
    } finally cleanup(t)
  }
}

class PackingSpec extends SparkSpec {
  private val docs = df(Seq(
    (1L, "a b c"), (2L, ""), (3L, "d e f g"), (4L, "h"))).toDF("doc_id", "text")

  test("offsets are the exclusive prefix sum in doc order; bins split on the window") {
    val out = graft.ext.Packing.packSequences(docs, "doc_id", "text", 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(out == Seq(
      (1L, 3L, 0L, 0L, 0L),    // tokens 0-2 in bin 0
      (2L, 0L, 3L, 0L, 0L),    // empty doc anchors at its offset's bin
      (3L, 4L, 3L, 0L, 1L),    // tokens 3-6 straddle bins 0 and 1
      (4L, 1L, 7L, 1L, 1L)))
  }

  test("layout is invariant under input partitioning") {
    def run(parts: Int) = graft.ext.Packing
      .packSequences(docs.repartition(parts), "doc_id", "text", 4)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(run(1) == run(5))
  }
}

/** Packed-window manifest ([[graft.ext.Packing.windowManifest]]). */
class WindowManifestSpec extends SparkSpec {
  import org.apache.spark.sql.functions.col

  test("segments tile every window exactly; head/tail flags mark document boundaries") {
    val counts = df(Seq((1L, 3L), (2L, 5L), (3L, 0L), (4L, 9L), (5L, 2L)))
      .toDF("doc_id", "n")
    val packed = graft.ext.Packing.packCountedSequences(counts, "doc_id",
      "n", windowTokens = 4)
    val out = graft.ext.Packing.windowManifest(packed, "doc_id", 4)
      .orderBy("bin", "bin_offset").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getBoolean(5)))
    spark.catalog.clearCache()
    // layout: doc1 [0,3) doc2 [3,8) doc4 [8,17) doc5 [17,19); windows of 4
    assert(out.toSeq == Seq(
      (0L, 1L, 0L, 3L, true, true),   // doc1 whole in window 0
      (0L, 2L, 3L, 1L, true, false),  // doc2 head
      (1L, 2L, 0L, 4L, false, true),  // doc2 tail
      (2L, 4L, 0L, 4L, true, false),  // doc4 head
      (3L, 4L, 0L, 4L, false, false), // doc4 middle
      (4L, 4L, 0L, 1L, false, true),  // doc4 tail
      (4L, 5L, 1L, 2L, true, true)))  // doc5 whole
    // zero-token doc3 contributes no segment
    assert(!out.exists(_._2 == 3L))
    // tiling: per window, segments are contiguous from their offsets
    out.groupBy(_._1).foreach { case (_, segs) =>
      val sorted = segs.sortBy(_._3)
      sorted.toSeq.sliding(2).foreach {
        case Seq(a, b) => assert(b._3 == a._3 + a._4, s"gap in window: $a $b")
        case _ =>
      }
    }
  }

  test("layoutCard: token mass conserved, padding only on the stream's last window, crossings = continuations") {
    val counts = df(Seq((1L, 3L), (2L, 5L), (3L, 0L), (4L, 9L), (5L, 2L)))
      .toDF("doc_id", "n")
    val packed = graft.ext.Packing.packCountedSequences(counts, "doc_id",
      "n", windowTokens = 4)
    val manifest = graft.ext.Packing.windowManifest(packed, "doc_id", 4)
    val card = graft.ext.Packing.layoutCard(manifest, 4)
      .orderBy("segs_per_window").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    spark.catalog.clearCache()
    // layout above: 5 windows; window 0 has 2 segs, window 4 has 2 segs,
    // windows 1-3 one seg each; total tokens 19, capacity 20 -> 1 pad
    assert(card.toSeq == Seq(
      (1L, 3L, 12L, 0L, 1L, 2L),
      (2L, 2L, 7L, 1L, 3L, 1L)))
    // properties: sum(window_tokens) == sum(n_tokens); padding ==
    // capacity - tokens and it sits ONLY on the stream's last window
    assert(card.map(_._3).sum == 19L && card.map(_._4).sum == 1L)
    val perWin = manifest.collect()
      .map(r => (r.getLong(0), r.getLong(3)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    spark.catalog.clearCache()
    val last = perWin.keys.max
    perWin.foreach { case (b, t) =>
      if (b != last) assert(t == 4L, s"interior window $b padded: $t")
    }
  }

  test("a windowTokens that disagrees with the packed layout fails loud, not garbage") {
    val counts = df(Seq((1L, 3L), (2L, 5L), (3L, 9L))).toDF("doc_id", "n")
    val packed = graft.ext.Packing.packCountedSequences(counts, "doc_id",
      "n", windowTokens = 4)
    val e = intercept[Exception] {
      graft.ext.Packing.windowManifest(packed, "doc_id", 8).collect()
    }
    spark.catalog.clearCache()
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("disagrees with the packed layout")),
      s"unexpected failure: $e")
  }
}

/** Token-id training stream ([[graft.ext.TokenIds]]). */
class TokenIdsSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private val docs = df(Seq(
    (1L, "the cat sat on the mat"), (2L, ""), (3L, "a cat and a dog"),
    (4L, "the the the the the the the the"), (5L, "zebra"))
  ).toDF("doc_id", "text")

  test("segment ids round-trip: concat(segments in bin order) == doc ids == x103 encoding through the id table") {
    graft.ext.Bpe.writeTokenizerStore(docs, "text", numMerges = 4,
      table = "tis_tok", minPairCount = 2L)
    val encoded = graft.ext.Bpe.encodeAgainstStore(docs, "text", "tis_tok")
    val ids = graft.ext.TokenIds.pieceIds(encoded)
    // dense, 0-based, contiguous, piece-sorted
    assert(ids.values.toSeq.sorted == (0L until ids.size).toSeq)
    assert(ids.toSeq.sortBy(_._1).map(_._2) == (0L until ids.size).toSeq)

    // the reference stream: per doc, words in order -> that word's
    // pieces from the encoded table -> ids
    val wordPieces = encoded.collect()
      .map(r => r.getString(0) -> r.getSeq[String](2)).toMap
    val expect = docs.collect().map { r =>
      val ws = "[a-z]+".r.findAllIn(r.getString(1).toLowerCase).toSeq
      r.getLong(0) -> ws.flatMap(w => wordPieces(w).map(ids))
    }.toMap

    val doc = graft.ext.TokenIds.docTokenIds(docs, "doc_id", "text",
        encoded, ids).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Long](2))).toMap
    expect.foreach { case (id, ref) =>
      assert(doc(id)._2 == ref, s"doc $id ids")
      assert(doc(id)._1 == ref.length.toLong)
    }
    assert(doc(2L) == ((0L, Seq.empty[Long]))) // wordless doc: empty stream

    val stream = graft.ext.TokenIds.windowTokenIds(docs, "doc_id", "text",
        "tis_tok", windowTokens = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4), r.getBoolean(5), r.getSeq[Long](6)))
    spark.catalog.clearCache()
    // per doc: concat of segments in bin order == the doc's id stream
    stream.groupBy(_._2).foreach { case (id, segs) =>
      val cat = segs.sortBy(_._1).flatMap(_._7).toSeq
      assert(cat == expect(id), s"doc $id segment concat")
      segs.foreach(s => assert(s._7.length == s._4.toInt, s"seg_len vs ids: $s"))
    }
    // every id the stream ships came from the dense table
    val all = stream.flatMap(_._7)
    assert(all.nonEmpty && all.forall(i => i >= 0 && i < ids.size))
    // windows tile: interior windows are exactly full
    val byBin = stream.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    val lastBin = byBin.keys.max
    byBin.foreach { case (b, t) =>
      if (b < lastBin) assert(t == 5L, s"window $b not full: $t")
    }
  }

  test("window-shard release conserves the token-id mass and covers every window exactly once") {
    graft.ext.Bpe.writeTokenizerStore(docs, "text", numMerges = 4,
      table = "tis_tok2", minPairCount = 2L)
    val stream = graft.ext.TokenIds.windowTokenIds(docs, "doc_id", "text",
      "tis_tok2", windowTokens = 5)
    val windows = stream.groupBy(col("bin").as("win_id"))
      .agg(org.apache.spark.sql.functions.array_join(
        org.apache.spark.sql.functions.flatten(
          org.apache.spark.sql.functions.transform(
            org.apache.spark.sql.functions.array_sort(
              org.apache.spark.sql.functions.collect_list(
                org.apache.spark.sql.functions.struct(col("bin_offset"),
                  col("ids")))), e => e("ids")))
          .cast("array<string>"), " ").as("content"))
      .localCheckpoint(true)
    val ordered = graft.ext.CorpusShuffle.order(windows, "win_id",
      seed = "tis-release", shardSize = 3L)
    val manifest = graft.ext.CorpusShuffle.shardManifest(ordered, windows,
        "win_id", "content")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(4), r.getLong(5)))
    spark.catalog.clearCache()
    val totalIds = stream.collect().map(_.getLong(3)).sum
    val nWindows = windows.count()
    // token-id mass conserved through shuffle + shard; every window
    // lands in exactly one shard; positions tile [0, nWindows)
    assert(manifest.map(_._3).sum == totalIds)
    assert(manifest.map(_._2).sum == nWindows)
    assert(manifest.map(_._4).min == 0L &&
      manifest.map(_._5).max == nWindows - 1)
    manifest.foreach { case (_, n, _, lo, hi) => assert(hi - lo + 1 == n) }
  }

  test("unigram stream: DP pieces, char fallback inside the floor, one visible <unk> outside it") {
    val t = "tis_ug_store"
    def cleanup(): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_meta")
    }
    cleanup()
    try {
      val corpus = df(Seq(
        (1L, "the cat sat on the mat"), (2L, "a cat and a dog"),
        (3L, "the dog sat"))).toDF("doc_id", "text")
      graft.ext.Unigram.writeUnigramStore(corpus, "text", vocabSize = 12,
        maxPieceLen = 4, rounds = 1, table = t)
      // scored adds: 'taco' (unseen word, chars in floor -> DP or char
      // fallback) and 'zebra' ('z' outside the a-y floor -> <unk>)
      val scored = df(Seq(
        (1L, "the cat sat"), (2L, "zebra taco"))).toDF("doc_id", "text")
      val floor = ('a' to 'y').map(_.toString).toSet
      val wp = graft.ext.TokenIds.unigramWordPieces(scored, "text", t,
          floor).collect()
        .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
      assert(wp("zebra") == Seq(graft.ext.TokenIds.Unk))
      assert(wp("taco").mkString == "taco") // concat(pieces) = word
      assert(wp("the").mkString == "the")
      // the stream concatenates to exactly the per-word pieces' ids
      val ids = graft.ext.TokenIds.pieceIds(
        graft.ext.TokenIds.unigramWordPieces(scored, "text", t, floor))
      val stream = graft.ext.TokenIds.windowTokenIdsUnigram(scored,
          "doc_id", "text", t, windowTokens = 4, fallbackChars = floor)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](6)))
      spark.catalog.clearCache()
      val byDoc = stream.groupBy(_._2).view
        .mapValues(_.sortBy(_._1).flatMap(_._3).toSeq).toMap
      val words = Map(
        1L -> Seq("the", "cat", "sat"), 2L -> Seq("zebra", "taco"))
      words.foreach { case (id, ws) =>
        assert(byDoc(id) == ws.flatMap(w => wp(w).map(ids)), s"doc $id")
      }
      // the <unk> id is a real, dense vocabulary member
      assert(byDoc(2L).head == ids(graft.ext.TokenIds.Unk))
    } finally cleanup()
  }
}

class VocabSpec extends SparkSpec {
  test("topK cuts on count desc then term asc; oov counts occurrences") {
    val docs = df(Seq(
      (1L, "aa aa bb cc"), (2L, "aa bb zz"))).toDF("doc_id", "text")
    // counts: aa=3, bb=2, cc=1, zz=1 → k=2 vocab = {aa, bb}
    val v = graft.ext.Vocab.topK(docs, "text", 2)
      .collect().map(_.getString(0)).toSeq
    assert(v == Seq("aa", "bb"))
    val rates = graft.ext.Vocab.oovRates(docs, "doc_id", "text", 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(rates == Seq((1L, 4L, 1L, 0.25), (2L, 3L, 1L, 1.0 / 3)))
  }

  test("coverageCurve: exact cumulative shares, k>|vocab| clamps, partition-invariant") {
    val docs = df(Seq(
      (1L, "aa aa aa bb bb cc"), (2L, "aa bb dd"))).toDF("doc_id", "text")
    // counts: aa=4, bb=3, cc=1, dd=1 (total 9); rank order aa,bb,cc,dd
    def curve(d: org.apache.spark.sql.DataFrame) =
      graft.ext.Vocab.coverageCurve(d, "text", Seq(1, 2, 3, 99))
        .orderBy("k").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).toSeq
    val expected = Seq(
      (1, 1L, 4L, 9L, 4.0 / 9), (2, 2L, 7L, 9L, 7.0 / 9),
      (3, 3L, 8L, 9L, 8.0 / 9), (99, 4L, 9L, 9L, 1.0))
    assert(curve(docs) == expected)
    // the distributed prefix sum must not depend on input partitioning
    assert(curve(docs.repartition(7)) == expected)
    // empty corpus: zero terms, zero mass, coverage 0 by convention
    val empty = curve(df(Seq((1L, ""))).toDF("doc_id", "text"))
    assert(empty.forall(r => r._2 == 0L && r._3 == 0L && r._5 == 0.0))
  }
}

class EdgeCaseSpec extends SparkSpec {
  private def vdf(rows: Seq[(Long, Seq[Float])]) = {
    val s = spark; import s.implicits._
    rows.toDF("vec_id", "embedding")
  }

  test("vector dedup of an EMPTY shard returns zero verdicts without touching the store") {
    graft.ext.VectorStore.writeVectorStore(
      vdf(Seq((1L, Seq(1f, 0f)))), "vec_id", "embedding",
      nCentroids = 2, dim = 2, seedOffset = 7L,
      table = "edge_vec_store", buckets = 2)
    val out = graft.ext.VectorStore.dedupAgainstStore(
      vdf(Seq.empty), "vec_id", "embedding",
      spark.table("edge_vec_store"), minCosine = 0.9,
      nCentroids = 2, nProbe = 2, dim = 2, seedOffset = 7L)
    assert(out.count() == 0)
  }

  test("a cap that excludes EVERY cell keeps every new vector (total recall loss, no crash)") {
    // two twins per cell so every cell count (2) sits over cap 1
    graft.ext.VectorStore.writeVectorStore(
      vdf(Seq((1L, Seq(1f, 0f)), (2L, Seq(1f, 0f)),
        (3L, Seq(0f, 1f)), (4L, Seq(0f, 1f)))), "vec_id", "embedding",
      nCentroids = 2, dim = 2, seedOffset = 7L,
      table = "edge_cap_store", buckets = 2)
    def dedup(cap: Long) = graft.ext.VectorStore.dedupAgainstStore(
        vdf(Seq((10L, Seq(1f, 0f)))), "vec_id", "embedding",
        spark.table("edge_cap_store"), minCosine = 0.9,
        nCentroids = 2, nProbe = 2, dim = 2, seedOffset = 7L,
        maxCellVecs = cap,
        cellCounts = if (cap > 0)
          Some(spark.table(graft.ext.VectorStore.countsTable("edge_cap_store")))
        else None)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2))).toSeq
    assert(dedup(0L) == Seq((10L, false, 2L))) // uncapped: twin drops
    assert(dedup(1L) == Seq((10L, true, 0L)))  // every cell capped: kept
  }

  test("compact of an empty bucketed table leaves a working empty table") {
    val s = spark; import s.implicits._
    val empty = Seq.empty[(String, Long)].toDF("symbol", "v")
    graft.core.Bucketing.writeBucketed(empty, "edge_empty_bkt", Seq("symbol"), 2)
    graft.core.Bucketing.compact(spark, "edge_empty_bkt", Seq("symbol"), 2)
    assert(spark.table("edge_empty_bkt").count() == 0)
    // and the table still accepts appends after the swap
    graft.core.Bucketing.appendBucketed(
      Seq(("A", 1L)).toDF("symbol", "v"), "edge_empty_bkt", Seq("symbol"), 2)
    assert(spark.table("edge_empty_bkt").count() == 1)
  }

  test("ivfTopKTrained works when training collapsed to a single surviving cluster") {
    // all vectors identical → every vector lands in the seed-0 cluster
    // and the round-2 codebook may contain a dead centroid; the trained
    // path must still assign, probe, and rank without error
    val vecs = vdf(Seq((0L, Seq(1f, 1f)), (1L, Seq(1f, 1f)), (2L, Seq(1f, 1f))))
    val codebook = graft.ext.KMeans.fit(vecs, "vec_id", "embedding", 2, 2)
    val out = graft.ext.Similarity.ivfTopKTrained(vecs,
        vecs.filter(org.apache.spark.sql.functions.col("vec_id") === 0L),
        "vec_id", "embedding", k = 2, centroids = codebook, nProbe = 2)
      .orderBy("rank").collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
    assert(out == Seq((1, 1L), (2, 2L))) // both twins retrieved, sim = 1
  }

  test("vocab k larger than the vocabulary yields zero OOV everywhere") {
    val docs = df(Seq((1L, "aa bb"), (2L, "aa"))).toDF("doc_id", "text")
    val out = graft.ext.Vocab.oovRates(docs, "doc_id", "text", 100)
      .collect().map(_.getLong(2)).toSeq
    assert(out.forall(_ == 0L))
  }

  test("k-means with rounds=1 assigns against the seed centroids only") {
    val vecs = df(Seq((0L, Seq(0.0f)), (1L, Seq(1.0f)), (2L, Seq(0.9f))))
      .toDF("vec_id", "embedding")
    val out = graft.ext.KMeans.lloyd(vecs, "vec_id", "embedding", 2, 1)
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(out == Seq((0L, 0), (1L, 1), (2L, 1)))
  }

  test("packing with a 1-token window makes bin_start the offset itself") {
    val docs = df(Seq((1L, "a b"), (2L, "c"))).toDF("doc_id", "text")
    val out = graft.ext.Packing.packSequences(docs, "doc_id", "text", 1)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(out == Seq((0L, 0L, 1L), (2L, 2L, 2L)))
  }

  test("k-means seeds from the k lowest ids even when ids are not zero-based") {
    val vecs = df(Seq((100L, Seq(0.0f)), (101L, Seq(1.0f)), (102L, Seq(0.9f))))
      .toDF("vec_id", "embedding")
    val out = graft.ext.KMeans.lloyd(vecs, "vec_id", "embedding", 2, 1)
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(out == Seq((100L, 0), (101L, 1), (102L, 1)))
  }

  test("packing tolerates NULL text as zero tokens") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, Some("a b")), (2L, None: Option[String]), (3L, Some("c")))
      .toDF("doc_id", "text")
    val out = graft.ext.Packing.packSequences(docs, "doc_id", "text", 2)
      .orderBy("doc_id").collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((2L, 0L), (0L, 2L), (1L, 2L)))
  }

  test("funnel reports 0 (never NULL) at every stage on an empty corpus") {
    val empty = df(Seq((1L, "x"))).toDF("doc_id", "text").filter(col("doc_id") < 0)
    val out = graft.ext.Curation.funnel(empty, "doc_id", "text", 0.5, 1.0)
      .collect().map(r => r.isNullAt(2) -> r.getLong(2)).toSeq
    assert(out == Seq.fill(5)(false -> 0L))
  }

  test("topFractionPerGroup: top half per group, singleton kept, tie groups whole, nulls abstain") {
    val rows = df(Seq(
      ("g1", 10L, Some(1.0)), ("g1", 11L, Some(2.0)),
      ("g1", 12L, Some(3.0)), ("g1", 13L, Some(4.0)),
      ("g2", 20L, Some(7.0)),                    // singleton: must keep
      ("g3", 30L, Some(5.0)), ("g3", 31L, Some(5.0)), // all tied: whole group
      ("g1", 14L, None)))                        // unscored: abstain
      .toDF("source", "doc_id", "lm_score")
    val out = graft.ext.Curation.topFractionPerGroup(rows, "source",
        "lm_score", fraction = 0.5)
      .collect().map(r => r.getLong(1) ->
        (if (r.isNullAt(4)) None else Some(r.getBoolean(4)))).toMap
    assert(out(10L) == Some(false) && out(11L) == Some(false))
    assert(out(12L) == Some(true) && out(13L) == Some(true))
    assert(out(20L) == Some(true), "singleton group must keep its row")
    assert(out(30L) == Some(true) && out(31L) == Some(true),
      "a tie group is kept or dropped whole")
    assert(out(14L).isEmpty, "unscored rows must abstain, not rank")
  }

  test("a zero-token stratum neither zeroes others' budgets nor goes NULL") {
    val docs = df(Seq((1L, "en", "a b"), (2L, "zz", ""))).toDF("doc_id", "lang", "text")
    val out = graft.ext.Mixing.uniformRates(docs, "lang", "text")
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getDouble(3))).toSeq
    assert(out == Seq(("en", 1.0), ("zz", 1.0)))
  }

  test("one-liner predictedLang/qualityScore equal the staged x02/x03 formulations") {
    val TA = graft.ext.TextAnalysis
    val docs = graft.util.Tables.documents(spark, "/root/testdata/sf0.001")
    val t = col("text")
    val staged = docs.select(
        col("doc_id") +: TA.langScores(t).map { case (l, c) => c.as(s"s_$l") }: _*)
      .select(col("doc_id"),
        TA.argmaxLang(Seq("de", "en", "es", "fr", "zh").map(l => l -> col(s"s_$l")))
          .as("staged"))
    val inline = docs.select(col("doc_id"), TA.predictedLang(t).as("inline"))
    staged.join(inline, "doc_id").collect().foreach(r =>
      assert(r.getString(1) == r.getString(2)))
    // qualityScore equals the x03 column-staged score
    val x03 = graft.queries.Registry.queries("x03_quality_score")(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("score"))
    val one = docs.select(col("doc_id"), TA.qualityScore(t).as("q"))
    x03.join(one, "doc_id").collect().foreach(r =>
      assert(r.getDouble(1) == r.getDouble(2)))
  }

  test("native stopword counter is bit-identical to the HOF formulation over real docs") {
    val docs = graft.util.Tables.documents(spark, "/root/testdata/sf0.001")
    val TA = graft.ext.TextAnalysis
    Seq(TA.stopEn, TA.stopDe, TA.stopEs, TA.stopFr).foreach { words =>
      val out = docs.select(col("doc_id"),
          TA.stopwordRatio(col("text"), words).as("nat"),
          TA.stopwordRatioHof(col("text"), words).as("hof"))
        .collect()
      out.foreach(r => assert(r.getDouble(1) == r.getDouble(2),
        s"ratio mismatch for doc ${r.getLong(0)}"))
    }
  }

  test("control characters in plain ASCII text do not count as non-ASCII") {
    val s = spark
    import s.implicits._
    val r = Seq("12\n34\t56").toDF("t")
      .select(graft.ext.TextAnalysis.nonAsciiRatio(col("t"))).collect().head.getDouble(0)
    assert(r == 0.0)
  }

  test("SCD2 supports composite keys") {
    val s1 = df(Seq((1L, "us", "A"), (1L, "eu", "B"))).toDF("k", "region", "seg")
    val s2 = df(Seq((1L, "us", "A2"), (1L, "eu", "B"))).toDF("k", "region", "seg")
    val out = graft.dim.Scd2.apply(graft.dim.Scd2.init(s1, "2024-01-01"), s2,
        Seq("k", "region"), Seq("seg"), "2024-06-01")
      .orderBy("region", "effective_from").collect()
      .map(r => (r.getString(1), r.getString(2), r.getDate(4).toString)).toSeq
    // eu carried open; us closed + reopened as A2
    assert(out == Seq(
      ("eu", "B", "9999-12-31"),
      ("us", "A", "2024-06-01"),
      ("us", "A2", "9999-12-31")))
  }
}

class MixingSpec extends SparkSpec {

  /** 100-token and 100-token strata via 50 two-token docs each. */
  private def twoStrata = {
    val rows = (1L to 50L).map(i => (i, "a", "tok tok")) ++
      (51L to 100L).map(i => (i, "b", "tok tok"))
    df(rows).toDF("doc_id", "src", "text")
  }

  private def plan(budget: Long, e: Int, w: Map[String, Long]) =
    graft.ext.Mixing.budgetPlan(twoStrata, "src", "text", w, budget, e)
      .orderBy("src").collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5), r.getLong(6), r.getDouble(7)))
      .toSeq

  test("budgetPlan: nothing caps -> proportional-by-weight water level") {
    // caps 200/200, t: b 22.2 < a 200; B=150: valid at row b
    // (150*9 <= 200*10) -> lambda 15 -> b 135, a 15
    assert(plan(150L, 2, Map("a" -> 1L, "b" -> 9L)) == Seq(
      ("a", 100L, 1L, 200L, false, 15L, 0.15),
      ("b", 100L, 9L, 200L, false, 135L, 1.35)))
  }

  test("budgetPlan: tight stratum caps, overflow re-waters the rest") {
    // B=250: b invalid (250*9 > 200*10) -> b capped at 200;
    // a valid ((250-200)*1 <= 200*1) -> lambda 50 -> a gets 50
    assert(plan(250L, 2, Map("a" -> 1L, "b" -> 9L)) == Seq(
      ("a", 100L, 1L, 200L, false, 50L, 0.5),
      ("b", 100L, 9L, 200L, true, 200L, 2.0)))
  }

  test("budgetPlan: infeasible budget caps everything at maxEpochs") {
    assert(plan(1000L, 2, Map("a" -> 1L, "b" -> 9L)) == Seq(
      ("a", 100L, 1L, 200L, true, 200L, 2.0),
      ("b", 100L, 9L, 200L, true, 200L, 2.0)))
  }

  test("budgetPlan: zero-weight strata allocate nothing and absorb no budget") {
    // b weight 0: excluded from the walk; a takes the whole budget
    // up to its cap
    assert(plan(150L, 2, Map("a" -> 1L, "b" -> 0L)) == Seq(
      ("a", 100L, 1L, 200L, false, 150L, 1.5),
      ("b", 100L, 0L, 200L, false, 0L, 0.0)))
  }

  test("budgetPlan: conservation and cap invariants on an uneven three-way split") {
    val rows = (1L to 30L).map(i => (i, "a", "t t t")) ++   // 90 tokens
      (31L to 40L).map(i => (i, "b", "t t")) ++             // 20 tokens
      (41L to 45L).map(i => (i, "c", "t"))                  // 5 tokens
    val docs = df(rows).toDF("doc_id", "src", "text")
    val out = graft.ext.Mixing.budgetPlan(docs, "src", "text",
        Map("a" -> 2L, "b" -> 3L, "c" -> 5L), budgetTokens = 120L,
        maxEpochs = 3)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(4),
        r.getBoolean(5), r.getLong(6))).toSeq
    val total = out.map(_._5).sum
    // caps: a 270, b 60, c 15; t: c 3 < b 20 < a 135.
    // c caps (120*5 > 15*10), b caps ((120-15)*3 > 60*5),
    // a valid ((105-60)*2 <= 270*2) -> lambda 45/2 -> a floor(45)=45
    assert(out.toSet == Set(("a", 90L, 270L, false, 45L),
      ("b", 20L, 60L, true, 60L), ("c", 5L, 15L, true, 15L)))
    assert(total == 120L)
    out.foreach { case (_, _, cap, _, alloc) => assert(alloc <= cap) }
  }

  test("uniform rates hit the smallest stratum exactly and never upsample") {
    val docs = df(Seq(
      (1L, "en", "a b c d"), (2L, "en", "e f"),     // en: 6 tokens
      (3L, "de", "x y z"))).toDF("doc_id", "lang", "text") // de: 3 tokens
    val out = graft.ext.Mixing.uniformRates(docs, "lang", "text")
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(out == Seq(("de", 1L, 3L, 1.0), ("en", 2L, 6L, 0.5)))
  }

  test("an integer repeat factor materializes exactly that many copies; weight-0 strata drop") {
    val docs = df(Seq(
      (1L, "en", "a b c d"), (2L, "en", "e f"),     // en: 6 tokens
      (3L, "de", "x y z"))).toDF("doc_id", "lang", "text") // de: weight 0
    // budget 12 x weight 1.0 over 6 en tokens -> factor exactly 2.0:
    // the fractional threshold is 0, so every en doc gets 2 full copies
    val out = graft.ext.Mixing.materializeMixture(docs, "lang", "doc_id",
        "text", Map("en" -> 1.0), budgetTokens = 12L)
      .select("doc_id", "copy_idx", "n_copies")
      .orderBy("doc_id", "copy_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((1L, 0L, 2L), (1L, 1L, 2L), (2L, 0L, 2L), (2L, 1L, 2L)))
  }

  test("a fractional factor draws the extra copy from the stable key hash, deterministically") {
    val docs = df((1L to 40L).map(i => (i, "en", "a b c")))
      .toDF("doc_id", "lang", "text") // 40 docs x 3 tokens = 120
    // budget 180 -> factor 1.5: every doc gets 1 or 2 copies and the
    // extra-copy draw is a pure function of doc_id (~half draw it)
    def run() = graft.ext.Mixing.materializeMixture(docs, "lang", "doc_id",
        "text", Map("en" -> 1.0), budgetTokens = 180L)
      .groupBy("doc_id").count()
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val first = run()
    assert(first.map(_._2).forall(c => c == 1L || c == 2L))
    val extras = first.count(_._2 == 2L)
    assert(extras > 5 && extras < 35,
      s"~half the docs should draw the fractional copy, got $extras/40")
    assert(run() == first, "the draw must be deterministic across runs")
  }

  test("mixture audit: integer factors attain exactly 1.0; zero-target strata report null") {
    val docs = df(Seq(
      (1L, "en", "a b c d"), (2L, "en", "e f"),     // en: 6 tokens
      (3L, "de", "x y z"))).toDF("doc_id", "lang", "text") // de: weight 0
    val factors = graft.ext.Mixing.repeatFactors(docs, "lang", "text",
      Map("en" -> 1.0), budgetTokens = 12L) // en factor exactly 2.0
    val out = graft.ext.Mixing.mixtureAudit(
        graft.ext.Mixing.materializeMixture(docs, "lang", "doc_id", factors),
        "lang", "text", factors)
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        if (r.isNullAt(4)) Double.NaN else r.getDouble(4)))
    assert(out(0)._1 == "de" && out(0)._2 == 0L && out(0)._3 == 0L
      && out(0)._4 == 0.0 && out(0)._5.isNaN)
    assert(out(1) == (("en", 4L, 12L, 12.0, 1.0)))
    // the mis-joined-table case the audit exists to flag: mixture mass
    // under a stratum the factor table lacks must SURFACE (null target),
    // not vanish off a factors-driven left join
    val partial = factors.filter(org.apache.spark.sql.functions
      .col("lang") =!= "en")
    val out2 = graft.ext.Mixing.mixtureAudit(
        graft.ext.Mixing.materializeMixture(docs, "lang", "doc_id", factors),
        "lang", "text", partial)
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.isNullAt(3), r.isNullAt(4)))
    assert(out2.toSeq == Seq(("de", 0L, 0L, false, true),
      ("en", 4L, 12L, true, true)),
      s"unmatched mixture strata must report with null targets, got ${out2.toSeq}")
  }

  test("temperature alpha=1 (q=4) reproduces natural proportions bit-exactly") {
    val docs = df(Seq(
      (1L, "en", "a b c d e f"),                    // en: 6 tokens
      (2L, "de", "x y z"))).toDF("doc_id", "lang", "text") // de: 3 tokens
    val out = graft.ext.Mixing.temperatureFactors(docs, "lang", "text",
        alphaQuarters = 4, budgetTokens = 18L)
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getDouble(3), r.getDouble(4))).toSeq
    // q=4 uses the raw int64 masses: the expected values are the SAME
    // IEEE op sequence evaluated here
    val (wDe, wEn) = (3.0 / 9.0, 6.0 / 9.0)
    assert(out == Seq(("de", wDe, 18.0 * wDe / 3L), ("en", wEn, 18.0 * wEn / 6L)))
  }

  test("temperature flattening is monotone in alpha; token-less strata zero out") {
    val docs = df(
      (1L to 100L).map(i => (i, "en", (1 to 100).map(t => s"e$t").mkString(" "))) ++
        Seq((200L, "de", "x y z w"), (300L, "zz", "")))
      .toDF("doc_id", "lang", "text") // en: 10000 tokens, de: 4, zz: 0
    def weights(q: Int) = graft.ext.Mixing.temperatureFactors(docs, "lang",
        "text", q, budgetTokens = 1000L)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    val natural = 4.0 / 10004.0
    val w = (1 to 4).map(q => q -> weights(q)).toMap
    // q=2 replays floor(sqrt(x)*16) quantization exactly
    val (qDe, qEn) = (math.floor(math.sqrt(4.0) * 16.0).toLong,
      math.floor(math.sqrt(10000.0) * 16.0).toLong)
    assert(w(2)("de") == qDe.toDouble / (qDe + qEn).toDouble)
    // smaller alpha boosts the low-resource stratum, never inverts it
    assert(w(4)("de") < w(3)("de") && w(3)("de") < w(2)("de")
      && w(2)("de") < w(1)("de"))
    (1 to 3).foreach(q => assert(w(q)("de") > natural && w(q)("de") < w(q)("en")))
    (1 to 4).foreach(q => assert(w(q)("zz") == 0.0))
  }

  test("repeatFactors: token-less strata get factor 0.0, listed weights echo back") {
    val docs = df(Seq((1L, "en", "a b"), (2L, "zz", "")))
      .toDF("doc_id", "lang", "text")
    val out = graft.ext.Mixing.repeatFactors(docs, "lang", "text",
        Map("en" -> 0.5, "zz" -> 0.5), budgetTokens = 100L)
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getDouble(3), r.getDouble(4))).toSeq
    assert(out == Seq(("en", 0.5, 25.0), ("zz", 0.5, 0.0)))
  }
}

class RuleGateSpec extends SparkSpec {
  private def gate(rows: Seq[(Long, String)]) =
    graft.ext.RuleGate.flags(df(rows).toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("doc_id").collect()

  test("an empty document reports zero ratios and fails the word-count rule") {
    val r = gate(Seq((1L, ""))).head
    assert(r.getAs[Long]("n_words") == 0L)
    assert(r.getAs[Double]("mean_word_len") == 0.0)
    assert(r.getAs[Double]("top_word_share") == 0.0)
    assert(!r.getAs[Boolean]("ok_words") && !r.getAs[Boolean]("keep"))
  }

  test("word soup fails the top-word-share rule; a crafted clean doc passes every rule") {
    val soup = (1 to 30).map(_ => "spam").mkString(" ")
    val clean = ("the able baker cable dance eagle fable gable haste ideal " +
      "joker kneel label mango noble ocean pedal queen rider the " +
      "sugar tiger ultra vocal") // 24 words, mean len 116/24, 2x 'the'
    val out = gate(Seq((1L, soup), (2L, clean)))
    val s = out(0)
    assert(s.getAs[Double]("top_word_share") == 1.0)
    assert(!s.getAs[Boolean]("ok_top_word") && !s.getAs[Boolean]("ok_stop"))
    assert(!s.getAs[Boolean]("keep"))
    val c = out(1)
    assert(c.getAs[Long]("n_words") == 24L)
    assert(c.getAs[Long]("stop_hits") == 2L)
    assert(c.getAs[Boolean]("keep"),
      s"clean doc must pass every rule: $c")
  }

  test("symbol and non-alphabetic tokens fail their rules") {
    val r = gate(Seq((1L, "word ... word ..."))).head
    // 4 tokens, 2 of them '...': symbol ratio 0.5 > 0.1, alpha 0.5 < 0.8
    assert(r.getAs[Double]("symbol_ratio") == 0.5)
    assert(r.getAs[Double]("alpha_word_ratio") == 0.5)
    assert(!r.getAs[Boolean]("ok_symbols") && !r.getAs[Boolean]("ok_alpha"))
  }

  test("keep is exactly the conjunction of the per-rule flags (corpus sweep)") {
    val docs = graft.util.Tables.documents(spark, "/root/testdata/sf0.001")
    val bad = graft.ext.RuleGate.flags(docs, "doc_id", "text")
      .filter(col("keep") =!= (col("ok_words") && col("ok_word_len") &&
        col("ok_stop") && col("ok_top_word") && col("ok_symbols") &&
        col("ok_alpha")))
      .count()
    assert(bad == 0L)
  }
}

class ZOrderSpec extends SparkSpec {
  test("zkey2 interleaves bits (x even positions, y odd)") {
    val out = df(Seq((3L, 0L), (0L, 3L), (1L, 1L), (2L, 1L)))
      .toDF("x", "y")
      .select(graft.core.ZOrder.zkey2(col("x"), col("y"), 4).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // x=3,y=0 → 0b0101=5; x=0,y=3 → 0b1010=10; x=1,y=1 → 0b11=3;
    // x=2,y=1 → x bit1→pos2, y bit0→pos1 → 0b110=6
    assert(out == Seq(5L, 10L, 3L, 6L))
  }

  test("sorting by zkey bounds both dimensions within contiguous runs") {
    val s = spark
    import s.implicits._
    val pts = for (x <- 0L until 16L; y <- 0L until 16L) yield (x, y)
    val sorted = spark.createDataset(pts).toDF("x", "y")
      .orderBy(graft.core.ZOrder.zkey2(col("x"), col("y"), 4))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // every aligned run of 64 keys is one 8x8 tile: both dims bounded
    sorted.grouped(64).foreach { tile =>
      assert(tile.map(_._1).max - tile.map(_._1).min <= 7)
      assert(tile.map(_._2).max - tile.map(_._2).min <= 7)
    }
  }
}

class Scd2Spec extends SparkSpec {
  private val snap1 = df(Seq(
    (1L, "A", 10.0), (2L, "B", 20.0), (3L, "C", 30.0))).toDF("k", "seg", "bal")
  // key 1 unchanged, key 2 changed, key 3 missing (no delete), key 4 new
  private val snap2 = df(Seq(
    (1L, "A", 10.0), (2L, "B2", 21.0), (4L, "D", 40.0))).toDF("k", "seg", "bal")

  test("apply produces carried, closed, reopened, and new versions") {
    val h1 = Scd2.init(snap1, "2024-01-01")
    val out = Scd2.apply(h1, snap2, Seq("k"), Seq("seg", "bal"), "2024-06-01")
      .orderBy("k", "effective_from").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getDate(3).toString, r.getDate(4).toString)).toSeq
    assert(out == Seq(
      (1L, "A", "2024-01-01", "9999-12-31"),    // carried
      (2L, "B", "2024-01-01", "2024-06-01"),    // closed out
      (2L, "B2", "2024-06-01", "9999-12-31"),   // reopened version
      (3L, "C", "2024-01-01", "9999-12-31"),    // unmatched: carried
      (4L, "D", "2024-06-01", "9999-12-31")))   // brand new
  }

  test("closed history passes through untouched on a second apply") {
    val h1 = Scd2.init(snap1, "2024-01-01")
    val h2 = Scd2.apply(h1, snap2, Seq("k"), Seq("seg", "bal"), "2024-06-01")
    val h3 = Scd2.apply(h2, snap2, Seq("k"), Seq("seg", "bal"), "2024-12-01")
    // idempotent: re-applying the same snapshot changes nothing
    assert(h3.orderBy("k", "effective_from").collect().map(_.toSeq).toSeq
      == h2.orderBy("k", "effective_from").collect().map(_.toSeq).toSeq)
  }
}

/** Bigram-LM quality scoring ([[graft.ext.LmScore]]): mean transition
  * probability against a reference corpus, quantized-integer exact. */
class LmScoreSpec extends SparkSpec {
  import graft.ext.LmScore

  test("passage quality cut drops junk blocks inside good docs; short/empty/null passages abstain") {
    val s = spark; import s.implicits._
    val ref = df(Seq((1L, "a b a b a b a b"))).toDF("doc_id", "text")
    LmScore.writeModelStore(ref, "text", table = "lm_pcut_model", buckets = 4)
    try {
      val cand = Seq(
        // chunk=4: ["a b a b" (score ~0.92), "z z z z" (wholly unseen: 0.0)]
        (10L, Some("a b a b z z z z")),
        (11L, Some("a")),             // 1-token passage: null score, KEEPS
        (12L, Option.empty[String]),  // null text: (0, 0, "")
        (13L, Some("")))              // empty text: one "" passage, keeps
        .toDF("doc_id", "text")
      val out = LmScore.removeLowQualityPassages(cand, "doc_id", "text",
          chunkTokens = 4, table = "lm_pcut_model", minScore = 0.5)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      assert(out(0) == ((10L, 2L, 1L, "a b a b")),
        "the unseen-junk passage must drop, the familiar one keep")
      assert(out(1) == ((11L, 1L, 0L, "a")))
      assert(out(2) == ((12L, 0L, 0L, "")))
      assert(out(3) == ((13L, 1L, 0L, "")))
    } finally {
      Seq("lm_pcut_model", LmScore.modelMeta("lm_pcut_model")).foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
      }
    }
  }

  test("scores are mean transition probabilities; unseen transitions back off to zero") {
    val ref = df(Seq((1L, "a b a b"), (2L, "a c"))).toDF("doc_id", "text")
    // reference stats: c(a)=3, c(b)=2, c(c)=1; c(a b)=2, c(b a)=1, c(a c)=1
    val cand = df(Seq(
      (3L, "a b c"),   // p(b|a)=2/3, p(c|b)=0 (unseen bigram)
      (4L, "z z"),     // wholly unseen: 0.0 exactly
      (5L, "a")))      // no transitions: null score
      .toDF("doc_id", "text")
    val out = LmScore.score(cand, "doc_id", "text",
        LmScore.fit(ref, "text").localCheckpoint(true))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))
    val q23 = math.floor(2.0 / 3.0 * 1073741824.0).toLong
    assert(out(0) == ((3L, 2L, q23,
      q23.toDouble / 1073741824.0 / 2.0)))
    assert(out(1) == ((4L, 1L, 0L, 0.0)))
    assert(out(2)._1 == 5L && out(2)._2 == 0L && out(2)._3 == -1L
      && out(2)._4.isNaN)
  }

  test("trigram stupid backoff: seen trigram exact, unseen backs off at half weight, dead end zero") {
    val ref = df(Seq((1L, "a b c"), (2L, "a b d"))).toDF("doc_id", "text")
    // c(a b)=2, c(b)=2, c(b c)=1; c(a b c)=1
    val cand = df(Seq(
      (3L, "a b c"),   // seen trigram: q = floor(1/2 * 2^30) = 2^29
      (4L, "x b c"),   // unseen trigram, backoff p(c|b)=1/2 halved: 2^28
      (5L, "x y z"),   // dead end everywhere: 0
      (6L, "a b")))    // no trigram: null score
      .toDF("doc_id", "text")
    val out = LmScore.score3(cand, "doc_id", "text",
        LmScore.fit3(ref, "text").localCheckpoint(true))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))
    val S = 1073741824.0
    assert(out(0) == ((3L, 1L, 536870912L, 536870912L / S / 1.0)))
    assert(out(1) == ((4L, 1L, 268435456L, 268435456L / S / 1.0)))
    assert(out(2) == ((5L, 1L, 0L, 0.0)))
    assert(out(3)._1 == 6L && out(3)._2 == 0L && out(3)._3 == -1L
      && out(3)._4.isNaN)
  }

  test("a fluent in-domain doc outscores shuffled junk under the same model") {
    val ref = df(Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox runs over the lazy cat")))
      .toDF("doc_id", "text")
    val cand = df(Seq(
      (10L, "the quick brown fox"),    // transitions all seen
      (11L, "fox the brown quick")))   // same words, junk order
      .toDF("doc_id", "text")
    val scores = LmScore.score(cand, "doc_id", "text",
        LmScore.fit(ref, "text").localCheckpoint(true))
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(scores(10L) > scores(11L))
    // (p(quick|the)=2/4 + p(brown|quick)=1 + p(fox|brown)=1) / 3
    assert(math.abs(scores(10L) - 2.5 / 3) < 1e-9)
  }

  private val refA = Seq((1L, "a b a b"), (2L, "a c"))
  private val refB = Seq((6L, "b c a"), (7L, "a b c c"))
  private val cand = Seq((3L, "a b c"), (4L, "z z"), (5L, "a"))

  private def rows(d: org.apache.spark.sql.DataFrame) =
    d.orderBy("doc_id").collect().map(_.toSeq).toSeq

  private def dropStore(t: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${graft.ext.LmScore.modelMeta(t)}")
    graft.core.IngestLedger.reset(spark, t)
  }

  test("store-served scoring equals the in-memory model; contract lives in the meta") {
    val ref = df(refA).toDF("doc_id", "text")
    val c = df(cand).toDF("doc_id", "text")
    val expected = rows(LmScore.score(c, "doc_id", "text",
      LmScore.fit(ref, "text").localCheckpoint(true)))
    LmScore.writeModelStore(ref, "text", "lm_store_spec", buckets = 4)
    try {
      assert(rows(LmScore.scoreAgainstStore(c, "doc_id", "text",
        "lm_store_spec")) == expected)
      val meta = spark.table(LmScore.modelMeta("lm_store_spec")).head()
      // refA: unigrams a,b,c (3 fps, 6 tokens); bigrams ab,ba,ac (3 fps, 4 tokens)
      assert(meta.getAs[Int]("max_n") == 2)
      assert(meta.getAs[Long]("q_scale") == 1073741824L)
      assert(meta.getAs[Long]("n_unigram_fps") == 3L)
      assert(meta.getAs[Long]("n_bigram_fps") == 3L)
      assert(meta.getAs[Long]("unigram_tokens") == 6L)
      assert(meta.getAs[Long]("bigram_tokens") == 4L)
      // a (re)build that never committed (no meta) must refuse loudly
      spark.sql(s"DROP TABLE ${LmScore.modelMeta("lm_store_spec")}")
      val e = intercept[IllegalArgumentException] {
        LmScore.scoreAgainstStore(c, "doc_id", "text", "lm_store_spec")
      }
      assert(e.getMessage.contains("re-run writeModelStore"))
    } finally dropStore("lm_store_spec")
  }

  test("trigram store serves score3 exactly; a bigram store refuses; appends inherit the depth") {
    val a = df(refA).toDF("doc_id", "text")
    val b = df(refB).toDF("doc_id", "text")
    val c = df(cand).toDF("doc_id", "text")
    LmScore.writeModelStore(a, "text", "lm3_store_spec", buckets = 4,
      maxN = 3)
    try {
      // store-served == in-memory fit3 on the same reference
      assert(rows(LmScore.score3AgainstStore(c, "doc_id", "text",
          "lm3_store_spec")) ==
        rows(LmScore.score3(c, "doc_id", "text",
          LmScore.fit3(a, "text").localCheckpoint(true))))
      assert(spark.table(LmScore.modelMeta("lm3_store_spec"))
        .head().getAs[Int]("max_n") == 3)
      // appends read the depth from the meta: append-then-score3 ==
      // refit3 on the union (the delta carried trigram rows)
      LmScore.appendToModel(b, "text", "lm3_store_spec", buckets = 4)
      assert(rows(LmScore.score3AgainstStore(c, "doc_id", "text",
          "lm3_store_spec")) ==
        rows(LmScore.score3(c, "doc_id", "text",
          LmScore.fit3(a.unionByName(b), "text").localCheckpoint(true))))
      // the bigram legs of a depth-3 store serve plain score() too
      assert(rows(LmScore.scoreAgainstStore(c, "doc_id", "text",
          "lm3_store_spec")) ==
        rows(LmScore.score(c, "doc_id", "text",
          LmScore.fit(a.unionByName(b), "text").localCheckpoint(true))))
    } finally dropStore("lm3_store_spec")
    // a BIGRAM store must refuse trigram scoring (its trigram leg
    // would be silently empty — every seen trigram would back off)
    LmScore.writeModelStore(a, "text", "lm2_depth_spec", buckets = 4)
    try {
      val e = intercept[IllegalArgumentException] {
        LmScore.score3AgainstStore(c, "doc_id", "text", "lm2_depth_spec")
      }
      assert(e.getMessage.contains("gram depth"))
    } finally dropStore("lm2_depth_spec")
  }

  test("appendToModel grows the model at O(shard): append-then-score == refit-on-union") {
    val a = df(refA).toDF("doc_id", "text")
    val b = df(refB).toDF("doc_id", "text")
    val c = df(cand).toDF("doc_id", "text")
    val union = rows(LmScore.score(c, "doc_id", "text",
      LmScore.fit(a.unionByName(b), "text").localCheckpoint(true)))
    LmScore.writeModelStore(a, "text", "lm_append_spec", buckets = 4)
    try {
      LmScore.appendToModel(b, "text", "lm_append_spec", buckets = 4)
      assert(rows(LmScore.scoreAgainstStore(c, "doc_id", "text",
        "lm_append_spec")) == union)
      // compaction collapses the delta generations without changing a score
      LmScore.compactModelStore(spark, "lm_append_spec", buckets = 4)
      assert(spark.table("lm_append_spec")
        .groupBy("n", "fp").count().filter(col("count") > 1).isEmpty,
        "compaction must leave one row per (n, fp)")
      assert(rows(LmScore.scoreAgainstStore(c, "doc_id", "text",
        "lm_append_spec")) == union)
    } finally dropStore("lm_append_spec")
  }

  test("ingestModelBatch is exactly-once: committed batches skip, a crashed append repairs exactly") {
    val a = df(refA).toDF("doc_id", "text")
    val b = df(refB).toDF("doc_id", "text")
    val c = df(cand).toDF("doc_id", "text")
    val union = rows(LmScore.score(c, "doc_id", "text",
      LmScore.fit(a.unionByName(b), "text").localCheckpoint(true)))
    LmScore.writeModelStore(a, "text", "lm_ledger_spec", buckets = 4)
    try {
      LmScore.ingestModelBatch(b, 0L, "text", "lm_ledger_spec", buckets = 4)
      val after = rows(LmScore.scoreAgainstStore(c, "doc_id", "text",
        "lm_ledger_spec"))
      assert(after == union)
      // replay of a COMMITTED batch is a no-op (counts would double otherwise)
      LmScore.ingestModelBatch(b, 0L, "text", "lm_ledger_spec", buckets = 4)
      assert(rows(LmScore.scoreAgainstStore(c, "doc_id", "text",
        "lm_ledger_spec")) == union)
      // crash window: intent written, append landed (fully here — the
      // worst case the repair must also survive), no commit record.
      // The replay must converge to exactly one copy of the deltas.
      graft.core.IngestLedger.intent(spark, "lm_ledger_spec", 1L)
      LmScore.appendToModel(b, "text", "lm_ledger_spec", buckets = 4,
        batchId = 1L)
      LmScore.ingestModelBatch(b, 1L, "text", "lm_ledger_spec", buckets = 4)
      assert(graft.core.IngestLedger.applied(spark, "lm_ledger_spec", 1L))
      // the repair must have deleted the stranded batch-1 copy before
      // re-appending: the store holds exactly a + b(batch 0) +
      // b(batch 1) — i.e. fit(a ∪ b ∪ b), never b a third time
      val unionBB = rows(LmScore.score(c, "doc_id", "text",
        LmScore.fit(a.unionByName(b).unionByName(b), "text")
          .localCheckpoint(true)))
      assert(rows(LmScore.scoreAgainstStore(c, "doc_id", "text",
        "lm_ledger_spec")) == unionBB)
      // negative ids are the base-build sentinel: refused
      val e = intercept[IllegalArgumentException] {
        LmScore.ingestModelBatch(b, -1L, "text", "lm_ledger_spec", buckets = 4)
      }
      assert(e.getMessage.contains("sentinel"))
    } finally dropStore("lm_ledger_spec")
  }

  test("model compaction before a crashed append's replay never folds the partial delta") {
    val a = df(refA).toDF("doc_id", "text")
    val b = df(refB).toDF("doc_id", "text")
    val c = df(cand).toDF("doc_id", "text")
    LmScore.writeModelStore(a, "text", "lm_fold_spec", buckets = 4)
    try {
      // crash mid-append: intent written, a PARTIAL batch-0 delta
      // landed (doc 6 only), no commit record
      graft.core.IngestLedger.intent(spark, "lm_fold_spec", 0L)
      LmScore.appendToModel(b.filter(col("doc_id") === 6L), "text",
        "lm_fold_spec", buckets = 4, batchId = 0L)
      // maintenance interleaves BEFORE the replay: folding the
      // dangling rows into the -1 sentinel would make the repair's
      // batch_id filter a no-op and double-count the batch
      LmScore.compactModelStore(spark, "lm_fold_spec", buckets = 4)
      assert(spark.table("lm_fold_spec")
        .filter(col("batch_id") === 0L).count() > 0,
        "dangling delta rows must survive compaction still tagged")
      LmScore.ingestModelBatch(b, 0L, "text", "lm_fold_spec", buckets = 4)
      assert(rows(LmScore.scoreAgainstStore(c, "doc_id", "text",
          "lm_fold_spec")) ==
        rows(LmScore.score(c, "doc_id", "text",
          LmScore.fit(a.unionByName(b), "text").localCheckpoint(true))))
    } finally dropStore("lm_fold_spec")
  }

  test("streamIngestModel: reference slices stream into the store; in-loop compaction keeps scores exact") {
    val root = graft.util.Staging.exitScopedRoot("graft-lm-stream-")
    val in = root.resolve("in"); java.nio.file.Files.createDirectories(in)
    val a = df(refA).toDF("doc_id", "text")
    val b = df(refB).toDF("doc_id", "text")
    val c = df(cand).toDF("doc_id", "text")
    val union = rows(LmScore.score(c, "doc_id", "text",
      LmScore.fit(a.unionByName(b), "text").localCheckpoint(true)))
    LmScore.writeModelStore(a.filter(col("doc_id") < 0), "text",
      "lm_stream_spec", buckets = 4) // empty base: the loop builds it all
    def stage(shard: org.apache.spark.sql.DataFrame, name: String, ts: Long): Unit =
      graft.util.Staging.stageWave(shard, in, name, ts)
    stage(a, "sliceA.parquet", 1704067200000L)
    stage(b, "sliceB.parquet", 1704067260000L)
    try {
      val stream = spark.readStream.schema(a.schema)
        .option("maxFilesPerTrigger", 1).parquet(in.toString)
      LmScore.streamIngestModel(stream, "text", "lm_stream_spec",
          buckets = 4, checkpoint = s"$root/chk", compactEvery = 1)
        .awaitTermination()
      assert(graft.core.IngestLedger.applied(spark, "lm_stream_spec", 1L))
      // the loop's writes ran in the micro-batch's cloned session: this
      // session must refresh before its next read (the documented
      // cross-session contract of Bucketing.replaceBucketed)
      spark.catalog.refreshTable("lm_stream_spec")
      assert(rows(LmScore.scoreAgainstStore(c, "doc_id", "text",
        "lm_stream_spec")) == union)
    } finally dropStore("lm_stream_spec")
  }

  test("dsirMargin: target-leaning selects, source-leaning rejects, no-transition abstains") {
    val target = df(Seq((1L, "a b a b"))).toDF("doc_id", "text")
    val source = df(Seq((2L, "a c a c"))).toDF("doc_id", "text")
    val cand = df(Seq(
      (3L, "a b"),   // p_t(b|a)=1, p_s(b|a)=0 → margin +1, selected
      (4L, "a c"),   // p_t=0, p_s=1 → margin −1, rejected
      (5L, "a")))    // no transitions: abstain (null verdict)
      .toDF("doc_id", "text")
    val inMem = LmScore.dsirMargin(cand, "doc_id", "text",
        LmScore.fit(target, "text").localCheckpoint(true),
        LmScore.fit(source, "text").localCheckpoint(true))
      .orderBy("doc_id").collect()
    val q = 1073741824L
    assert(inMem(0).toSeq == Seq(3L, 1L, q, 0L, 1.0, true))
    assert(inMem(1).toSeq == Seq(4L, 1L, 0L, q, -1.0, false))
    assert(inMem(2).getLong(1) == 0L && inMem(2).isNullAt(4)
      && inMem(2).isNullAt(5))
    // store-served form: identical rows, contract enforced per store
    LmScore.writeModelStore(target, "text", "dsir_t_spec", buckets = 4)
    LmScore.writeModelStore(source, "text", "dsir_s_spec", buckets = 4)
    try {
      assert(LmScore.dsirAgainstStores(cand, "doc_id", "text",
          "dsir_t_spec", "dsir_s_spec")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
        == inMem.map(_.toSeq).toSeq)
      spark.sql(s"DROP TABLE ${LmScore.modelMeta("dsir_s_spec")}")
      val e = intercept[IllegalArgumentException] {
        LmScore.dsirAgainstStores(cand, "doc_id", "text",
          "dsir_t_spec", "dsir_s_spec")
      }
      assert(e.getMessage.contains("re-run writeModelStore"))
    } finally { dropStore("dsir_t_spec"); dropStore("dsir_s_spec") }
  }
}

/** Winnow-cluster dedup ([[graft.ext.Winnowing.dedupByOverlap]] /
  * [[graft.ext.Winnowing.dedupAgainstStore]]). */
class WinnowDedupSpec extends SparkSpec {
  import org.apache.spark.sql.functions.col

  private val shared = "alpha beta gamma delta epsilon zeta eta theta"
  private val docs = df(Seq(
    (1L, shared),
    (2L, s"xx yy $shared"),                    // prefix-mutated twin of 1
    (3L, s"$shared zz qq"),                    // suffix-mutated twin of 1
    (4L, "one two three four five six seven eight nine"),
    (5L, "red green blue cyan magenta yellow black white")
  )).toDF("doc_id", "text")

  test("overlapping docs cluster to the min-id canonical; the kept set is exactly the canonicals") {
    val out = graft.ext.Winnowing.dedupByOverlap(docs, "doc_id", "text",
        k = 3, w = 4, minShared = 1L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    // {1,2,3} share the 8-token run >= w+k-1 = 6: one cluster, canon 1
    assert(out.toSeq == Seq(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (4L, 4L, true), (5L, 5L, true)))
  }

  test("store-served dedup drops shard docs overlapping the index, keeps fresh ones") {
    val t = "winnow_dedup_spec_store"
    def cleanup(): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_meta")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_ledger")
    }
    cleanup()
    try {
      graft.ext.Winnowing.writeWinnowStore(
        docs.filter(col("doc_id").isin(1L, 4L, 5L)), "doc_id", "text",
        k = 3, w = 4, table = t, buckets = 4)
      val shard = df(Seq(
        (2L, s"xx yy $shared"), // twin of stored 1: drops
        (6L, "purple orange pink brown silver gold copper lead")
      )).toDF("doc_id", "text")
      val out = graft.ext.Winnowing.dedupAgainstStore(shard, "doc_id",
          "text", t, minShared = 1L)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getBoolean(1),
          if (r.isNullAt(2)) -1L else r.getLong(2), r.getLong(3)))
      assert(out.length == 2)
      assert(out(0)._1 == 2L && !out(0)._2 && out(0)._3 == 1L &&
        out(0)._4 >= 1L)
      assert(out(1) == ((6L, true, -1L, 0L)))
    } finally cleanup()
  }
}

/** Objective-mixture construction ([[graft.ext.Objectives]]). */
class ObjectivesSpec extends SparkSpec {
  import org.apache.spark.sql.functions.col

  private val docs = df(
    (1L to 80L).map(i => (i, (0 until 12).map(j => s"w${(i * 3 + j) % 17}")
      .mkString(" "), s"src${i % 2}")) ++
      Seq((100L, "two tokens", "src0"), (101L, "", "src1"))
  ).toDF("doc_id", "text", "source")

  test("every doc renders exactly once under its assigned objective; legs match their own transforms") {
    val mix = graft.ext.Objectives.materializeMix(docs, "doc_id", "text",
        "obj-spec", spanShare = 0.3, fimShare = 0.3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3)))
    assert(mix.length == 82 && mix.map(_._1).distinct.length == 82)
    val byObj = mix.groupBy(_._2)
    assert(byObj.keySet == Set("span", "fim", "ar"))
    // assignment replay: seeded bucket over cumulative shares
    val asg = graft.ext.Objectives.assign(docs, "doc_id", "obj-spec",
        0.3, 0.3)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    mix.foreach { case (id, obj, _, _) => assert(asg(id) == obj, s"doc $id") }
    // span leg == SpanCorruption.materialize over the span subset
    val spanIds = asg.filter(_._2 == "span").keySet
    val ref = graft.ext.SpanCorruption.materialize(
        docs.filter(col("doc_id").isin(spanIds.toSeq: _*)), "doc_id",
        "text", 0.15, 3, "obj-spec:span")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2)))
      .toMap
    mix.filter(_._2 == "span").foreach { case (id, _, in, tgt) =>
      assert((in, tgt) == ref(id), s"span doc $id") }
    // fim leg: decoder-only ('' input), PSM or passthrough target
    mix.filter(_._2 == "fim").foreach { case (id, _, in, tgt) =>
      assert(in == "")
      val toks = docs.collect().find(_.getLong(0) == id).get.getString(1)
        .toLowerCase.split("\\s+").filter(_.nonEmpty)
      if (toks.length >= 3) assert(tgt.startsWith("<fim_prefix> "))
      else assert(tgt == toks.mkString(" "))
    }
    // ar leg: plain normalized stream
    mix.filter(_._2 == "ar").foreach { case (id, _, in, tgt) =>
      assert(in == "")
      val toks = docs.collect().find(_.getLong(0) == id).get.getString(1)
        .toLowerCase.split("\\s+").filter(_.nonEmpty)
      assert(tgt == toks.mkString(" "))
    }
  }

  test("mix audit: per-group rates sum to 1, doc counts conserved, char masses match the mix") {
    val audit = graft.ext.Objectives.mixAudit(docs, "doc_id", "text",
        "source", "obj-spec", 0.3, 0.3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getLong(5), r.getLong(6)))
    assert(audit.map(_._3).sum == 82L)
    audit.groupBy(_._1).foreach { case (src, rows) =>
      assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-12, src)
    }
    // the ar share is the IEEE residual 1.0 - 0.3 - 0.3 (not 0.4)
    assert(audit.forall(a => (a._2 == "ar" && a._5 == 1.0 - 0.3 - 0.3) ||
      (a._2 != "ar" && a._5 == 0.3)))
    // char masses reconcile against the mix itself
    val mix = graft.ext.Objectives.materializeMix(docs, "doc_id", "text",
        "obj-spec", 0.3, 0.3)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .collect().map(r => ((r.getString(4), r.getString(1)),
        (r.getString(2).length.toLong, r.getString(3).length.toLong)))
      .groupBy(_._1).view
      .mapValues(v => (v.map(_._2._1).sum, v.map(_._2._2).sum)).toMap
    audit.foreach { case (src, obj, _, _, _, ic, tc) =>
      assert(mix((src, obj)) == ((ic, tc)), s"($src, $obj)")
    }
  }
}

/** Vocabulary-lookup reference-object expressions
  * ([[graft.functions.VocabProbLookup]] / [[graft.functions.PieceIdLookup]]):
  * the CODEGEN path pin. Inside the Viterbi DP and the id-assembly
  * lambdas these evaluate interpreted (HOF lambda bodies are), so a
  * plain whole-stage-codegen projection is the path a different caller
  * would hit first — it must agree with the interpreted contract:
  * stored value on hit, NULL on miss, NULL on null key. */
class VocabLookupSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("codegen projection agrees with the lookup contract (hit, miss, null key)") {
    val s = spark
    import s.implicits._
    val df = Seq(Some("ab"), Some("zz"), None, Some("c"))
      .toDF("k").repartition(2)
    val probs = Map("ab" -> 0.25, "c" -> 0.0625)
    val ids = Map("ab" -> 7L, "c" -> 3L)
    val out = df.select(col("k"),
        graft.functions.VocabProbLookup(col("k"), probs).as("p"),
        graft.functions.PieceIdLookup(col("k"), ids).as("i"))
      .collect()
      .map(r => (if (r.isNullAt(0)) null else r.getString(0),
        if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1)),
        if (r.isNullAt(2)) null else java.lang.Long.valueOf(r.getLong(2))))
      .toSet
    assert(out == Set(
      ("ab", java.lang.Double.valueOf(0.25), java.lang.Long.valueOf(7L)),
      ("zz", null, null),
      (null, null, null),
      ("c", java.lang.Double.valueOf(0.0625), java.lang.Long.valueOf(3L))))
    // the projection really is codegen'd: AQE's final plan abbreviates
    // the WholeStageCodegen wrapping to the `*(n)` node prefix, and it
    // only appears after execution
    val q = df.select(graft.functions.VocabProbLookup(col("k"), probs))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") && plan.contains("vocab_prob"),
      plan.take(500))
  }

  test("distinct vocabularies never collide in the per-session registry (content-addressed names)") {
    val s = spark
    import s.implicits._
    val df = Seq("x").toDF("k")
    val a = df.select(graft.functions.PieceIdLookup(col("k"),
      Map("x" -> 1L))).head().getLong(0)
    val b = df.select(graft.functions.PieceIdLookup(col("k"),
      Map("x" -> 2L))).head().getLong(0)
    assert(a == 1L && b == 2L)
  }
}
