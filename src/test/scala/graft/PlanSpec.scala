package graft

import graft.queries.Registry

/** Physical-plan regression pins for the scale-critical queries: these
  * assert the plan SHAPE the 100 TB design depends on (broadcast dims,
  * pushed filters, top-k as TakeOrdered, no accidental cartesians), so a
  * refactor that silently degrades a plan fails CI, not the cluster.
  * Runs against sf0.001 — plan shape, not data volume, is under test. */
class PlanSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private def plan(name: String): String =
    Registry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q13 star join broadcasts the dimension sides") {
    val p = plan("q13_star_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q38 sector share broadcasts the enriched dim (no cartesian, no dim shuffle)") {
    val p = plan("q38_sector_share")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q14 semi join stays a semi join") {
    assert(plan("q14_semi_join").contains("LeftSemi"))
  }

  test("q03 scan is column-pruned to the single grouping column") {
    // q03's only row filter is post-aggregate (HAVING) — nothing is
    // pushable; the scan contract is column pruning instead
    assert(plan("q03_count_gate").contains("ReadSchema: struct<l_shipdate"))
  }

  test("x07 query-side predicate is pushed down to the parquet scan") {
    assert(plan("x07_knn_exact").contains("LessThan(vec_id,8)"))
  }

  test("q19 global top-n compiles to TakeOrderedAndProject, not a global sort") {
    assert(plan("q19_top_n_global").contains("TakeOrderedAndProject"))
  }

  test("x08/x09 LSH paths have no cartesian product") {
    Seq("x08_neardup_minhash", "x09_knn_lsh").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join")
    }
  }

  test("x07 brute force is exactly one broadcast nested loop (the intended shape)") {
    val p = plan("x07_knn_exact")
    assert(p.contains("BroadcastNestedLoopJoin")) // small query side × corpus
    assert(!p.contains("CartesianProduct"))
  }

  test("x01 exact dedup shuffles fingerprints, not document bodies") {
    // the pre-shuffle projection must not carry the text column
    val exchanges = shuffles(Registry.queries("x01_dedup_exact")(spark, sf))
    assert(exchanges.nonEmpty)
    exchanges.foreach(e =>
      assert(!e.child.output.map(_.name).contains("text")))
  }

  // ---- scale-path pins: the round-3 rewrites must never silently
  // regress to a single-partition Exchange ----

  /** The INGEST-LAYER fan-out ([[graft.util.Tables]], round 22): an
    * explicit `repartition` sitting DIRECTLY on a file scan (no exchange
    * below it, REPARTITION_BY_NUM origin) — the guide-§2.5 "repartition
    * immediately after the read" accommodation for the test corpora's
    * degenerate single-row-group layouts, gated to be a no-op whenever
    * the scan already has ≥ cores partitions (i.e. always at scale).
    * The operator-shape pins in this spec exclude it: they pin what the
    * OPERATORS force onto the wire, and a regression that adds an
    * operator shuffle still fails — operator-induced exchanges are
    * ENSURE_REQUIREMENTS (or sit above other exchanges), never a
    * scan-rooted REPARTITION_BY_NUM. */
  private def isIngestFanOut(
      e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec): Boolean =
    e.shuffleOrigin ==
      org.apache.spark.sql.execution.exchange.REPARTITION_BY_NUM &&
      e.child.collect {
        case x: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => x
      }.isEmpty &&
      e.child.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.nonEmpty

  private def shuffles(df: org.apache.spark.sql.DataFrame) = {
    val executed = df.queryExecution.executedPlan
    val root = executed match { // unwrap AQE so collect() sees the exchanges
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if !isIngestFanOut(e) => e
    }
  }
  private def noSinglePartition(
      es: Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec],
      what: String): Unit =
    es.foreach { e =>
      assert(!e.outputPartitioning.toString.contains("SinglePartition"),
        s"$what collapsed to a single partition: ${e.outputPartitioning}")
    }

  test("q12 scale path: assignDenseIds sorts by RANGE partitioning, no single-partition collapse") {
    val keys = Registry.queries("q04_distinct_keys")(spark, sf).select("segment")
    val staged = graft.dim.DimSecurity.rangeSorted(keys, "segment")
    val es = shuffles(staged)
    assert(es.exists(_.outputPartitioning.toString.toLowerCase.contains("range")),
      "assignDenseIds must range-partition the keys")
    noSinglePartition(es, "assignDenseIds")
  }

  test("q24 scale path: scalableRank's distinct-count sort is range-partitioned, no single-partition collapse") {
    val grouped = graft.util.Tables.events(spark, sf)
      .groupBy("user_id").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_events"))
    val staged = graft.sa.Analytics.orderedCounts(grouped, "n_events", ascending = false)
    val es = shuffles(staged)
    assert(es.exists(_.outputPartitioning.toString.toLowerCase.contains("range")),
      "scalableRank must range-partition the distinct values")
    noSinglePartition(es, "scalableRank")
  }

  test("x41 corpus shuffle sorts by RANGE partitioning, no single-partition collapse") {
    val docs = graft.util.Tables.documents(spark, sf)
    val staged = graft.ext.CorpusShuffle.rangeSorted(docs, "doc_id", "pin-seed")
    val es = shuffles(staged)
    assert(es.exists(_.outputPartitioning.toString.toLowerCase.contains("range")),
      "corpus shuffle must range-partition on the seeded key")
    noSinglePartition(es, "corpus shuffle")
  }

  test("q20 salted top-N keeps two window stages and no single-partition exchange") {
    val df = Registry.queries("q20_top_n_per_group")(spark, sf)
    val executed = df.queryExecution.executedPlan
    val root = executed match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val windows = root.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size == 2,
      s"expected the salted (phase-1) + re-rank (phase-2) windows, got ${windows.size}")
    noSinglePartition(shuffles(df), "q20 salted top-N")
  }

  test("q34 salted skew join actually joins on the salt (hot key spreads over tasks)") {
    val p = plan("q34_skew_join")
    assert(p.contains("__salt"), "salt column must reach the join keys")
    assert(!p.contains("CartesianProduct"))
  }

  test("x19 decontamination meets in hash joins on gram fingerprints — no cartesian, no text on the wire") {
    val df = Registry.queries("x19_decontaminate")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"))
    // every exchange carries at most (id, 32-char fp) — never document text
    shuffles(df).foreach(e =>
      assert(!e.child.output.map(_.name).contains("text"),
        "a decontamination shuffle carries document text"))
  }

  test("x22 top-terms window is partitioned by doc id (no global window, no cartesian)") {
    val p = plan("x22_top_terms")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("x23 k-means assignment broadcasts the centroids (the one intended nested loop)") {
    val p = plan("x23_kmeans")
    assert(p.contains("BroadcastNestedLoopJoin"), "centroids must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q36 SCD2: Catalyst specializes the full-outer per branch into one-sided hash joins") {
    // the three branch filters push into the logical full outer join and
    // degrade it to LeftOuter / Inner / RightOuter hash joins — cheaper
    // than any full-outer shuffle; pin that this specialization holds
    val p = plan("q36_scd2_dim")
    assert(p.contains("LeftOuter") && p.contains("RightOuter"), p.take(1200))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("partitioned-parquet reads prune to the filtered partition (the 100 TB date-slice path)") {
    // the layout EodPipeline/Curation write at scale: partition directories
    // keyed by the slice column; a filtered read must list ONLY matching
    // directories (PartitionFilters), never scan-and-discard
    val dir = graft.util.Staging.exitScopedRoot("graft-prune-").toString
    graft.util.Tables.documents(spark, sf)
      .write.partitionBy("lang").mode("overwrite").parquet(dir)
    val read = spark.read.parquet(dir).filter(org.apache.spark.sql.functions.col("lang") === "en")
    val p = read.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") &&
      p.replaceAll("\\s+", " ").matches(".*PartitionFilters: \\[[^\\]]*lang[^\\]]*\\].*"),
      s"lang filter must prune partitions, plan:\n${p.take(1200)}")
    // and the pruned scan returns exactly the en slice
    assert(read.count() ==
      graft.util.Tables.documents(spark, sf)
        .filter(org.apache.spark.sql.functions.col("lang") === "en").count())
  }

  test("x26 packing prefix-sum stage is range-partitioned, no single-partition collapse") {
    val staged = graft.ext.Packing.orderedTokenCounts(
      graft.util.Tables.documents(spark, sf), "doc_id", "text")
    val es = shuffles(staged)
    assert(es.exists(_.outputPartitioning.toString.toLowerCase.contains("range")),
      "packing must range-partition by the document order")
    noSinglePartition(es, "packing prefix sum")
  }

  test("x28 vocab cut is a TakeOrdered and the membership test broadcasts") {
    val p = plan("x28_vocab_oov")
    assert(p.contains("TakeOrderedAndProject"), "top-K vocab must not global-sort")
    assert(p.contains("BroadcastHashJoin"), "vocab membership must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("x20 repetition signals tokenize the corpus exactly once for both n-gram sizes") {
    // signals() derives the 2-gram and 3-gram stats from ONE projected
    // token array; a regression to the join-of-two-ngramStats form would
    // re-run the regex tokenization per n (the corpus-proportional cost)
    val p = plan("x20_repetition_quality")
    val tokenizes = "regexp_extract_all".r.findAllIn(p).length
    assert(tokenizes == 1,
      s"expected exactly one tokenization in the x20 plan, found $tokenizes")
  }

  test("x53 LM scoring: one-pass fit (single tokenization), fp-keyed joins, no text on the wire") {
    val df = Registry.queries("x53_lm_quality_score")(spark, sf)
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }
    val p = root.toString
    // the model was checkpointed from a ONE-pass fit; the remaining
    // tokenization is the candidate side's — exactly one in this plan
    val tokenizes = "regexp_extract_all".r.findAllIn(p).length
    assert(tokenizes == 1,
      s"expected exactly one tokenization in the scoring plan, found $tokenizes")
    // count joins move 60-bit fps + counts only — never document text
    root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if !isIngestFanOut(e) => e
    }.foreach { e =>
      assert(!e.output.exists(_.name == "text"),
        s"document text must not cross a scoring shuffle: ${e.output}")
    }
  }

  test("x40 PII scrub is pure map-side work: the only exchange is the ORDER BY range sort") {
    val df = Registry.queries("x40_pii_scrub")(spark, sf)
    shuffles(df).foreach { e =>
      assert(e.outputPartitioning.toString.toLowerCase.contains("range"),
        s"PII scrubbing must not hash-shuffle: ${e.outputPartitioning}")
    }
    // each class is counted once and redacted once — n_pii must reuse the
    // staged count columns, not re-run the matchers
    val p = df.queryExecution.executedPlan.toString
    val extracts = "regexp_extract_all".r.findAllIn(p).length
    val replaces = "regexp_replace".r.findAllIn(p).length
    assert(extracts <= 3, s"expected at most 3 match passes, found $extracts")
    assert(replaces <= 3, s"expected at most 3 redact passes, found $replaces")
  }

  test("x42 chunking tokenizes once and its only exchange is the ORDER BY range sort") {
    val df = Registry.queries("x42_chunk_windows")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    val tokenizes = "regexp_extract_all".r.findAllIn(p).length
    assert(tokenizes == 1,
      s"expected exactly one tokenization in the x42 plan, found $tokenizes")
    shuffles(df).foreach { e =>
      assert(e.outputPartitioning.toString.toLowerCase.contains("range"),
        s"chunking must not hash-shuffle: ${e.outputPartitioning}")
    }
  }

  test("x39 retrieval tokenizes the corpus once and broadcasts the query terms") {
    // tf feeds both the idf rollup and the scoring join; both consumers
    // must read the PERSISTED (id, term, count) rows — a regression
    // drops the persist and the corpus tokenize+shuffle runs twice
    // (the cached relation prints its lineage under each scan, so count
    // cache scans, not regex occurrences)
    val p = plan("x39_targeted_retrieval")
    val cacheScans = "InMemoryTableScan".r.findAllIn(p).length
    assert(cacheScans >= 2,
      s"expected both tf consumers to read the cache, found $cacheScans scans")
    assert(p.contains("BroadcastHashJoin"), "query terms must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("x38 semantic dedup scores pairs through a cluster-keyed equi-join") {
    val p = plan("x38_semantic_dedup")
    assert(!p.contains("CartesianProduct"))
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[ca#\\d+".r
      .findFirstIn(p).isDefined, p.take(1200))
  }

  test("x34 incremental dedup reads the signature store bucketed, with no Exchange on the store side") {
    val df = Registry.queries("x34_incremental_dedup")(spark, sf)
    val executed = df.queryExecution.executedPlan
    val root = executed match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    def bucketedScans(p: org.apache.spark.sql.execution.SparkPlan) = p.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec if f.bucketedScan => f
    }
    val smjs = root.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    // the band join's store side is the subtree reading the bucketed
    // catalog table; it must be Exchange-free (buckets read in place),
    // while the new shard's side is the join's only shuffle. Restrict to
    // join sides with no NESTED join so the outer doc-id join (whose
    // subtree transitively contains the store scan plus legitimate
    // aggregation exchanges) does not match.
    val storeSides = smjs.flatMap(j => Seq(j.left, j.right))
      .filter(s => bucketedScans(s).nonEmpty &&
        s.collect {
          case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
        }.isEmpty)
    assert(storeSides.nonEmpty,
      s"no sort-merge join reads the bucketed store:\n${root.toString.take(1500)}")
    storeSides.foreach { side =>
      val es = side.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if !isIngestFanOut(e) => e
      }
      assert(es.isEmpty,
        s"store side must read its buckets in place, found shuffles: $es")
    }
    // the shard signs each doc exactly once (an isNotNull filter on the
    // signature column would be pushed below the projection and double
    // the signature computation)
    val sigEvals = "minhash_sig".r.findAllIn(root.toString).length
    assert(sigEvals == 1,
      s"expected exactly one minhash_sig evaluation in the x34 plan, found $sigEvals")
  }

  test("x43 capped incremental dedup keeps the store side Exchange-free through the semi filter") {
    val df = Registry.queries("x43_incremental_capped")(spark, sf)
    val executed = df.queryExecution.executedPlan
    val root = executed match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    def storeScans(p: org.apache.spark.sql.execution.SparkPlan) = p.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.bucketedScan && f.tableIdentifier.exists(_.table == "x43_sig_store") => f
    }
    val smjs = root.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    // the band join's store side now CONTAINS the hot-key semi filter
    // (store ⋉ counts, both bucketed on the same keys): select join
    // sides that scan the bucketed store table and whose only nested
    // joins are LeftSemi — i.e. the semi-filtered store subtree but not
    // the outer doc-id join (which nests the inner band join itself)
    val storeSides = smjs.flatMap(j => Seq(j.left, j.right))
      .filter { s =>
        storeScans(s).nonEmpty &&
          s.collect {
            case j: org.apache.spark.sql.execution.joins.BaseJoinExec
              if j.joinType != org.apache.spark.sql.catalyst.plans.LeftSemi => j
          }.isEmpty
      }
    assert(storeSides.nonEmpty,
      s"no sort-merge join reads the semi-filtered bucketed store:\n${root.toString.take(1500)}")
    storeSides.foreach { side =>
      val es = side.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if !isIngestFanOut(e) => e
      }
      assert(es.isEmpty,
        s"store+counts subtree must read its buckets in place, found shuffles: $es")
    }
    // cap engaged via the side table, and the store side must include a
    // semi-filtered subtree (at least one LeftSemi SMJ over bucketed scans)
    assert(smjs.exists(_.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi),
      "expected the hot-key semi filter to compile as a sort-merge semi join")
  }

  test("x44 bloom decontamination probes the filter map-side before the exact confirm join") {
    val p = plan("x44_decontaminate_bloom")
    // the bloom probe must appear as a row-level filter (map-side, before
    // any gram-keyed exchange), and the confirm stays an equi join
    assert(p.contains("might_contain"), p.take(1000))
    assert(!p.contains("CartesianProduct"))
  }

  test("striped bloom probe shape: single stripe stays a codegen'd constant probe, multi-stripe is the broadcast mapPartitions form") {
    import graft.ext.Decontaminate
    import org.apache.spark.sql.functions.col
    val docs = df(Seq(
      (0L, "alpha beta gamma delta"),
      (1L, "x y alpha beta gamma z"))).toDF("doc_id", "text")
    try {
      // single stripe: the plain constant-literal probe, inside codegen
      Decontaminate.writeBenchmarkStore(docs.filter(col("doc_id") === 0),
        "text", n = 3, table = "plan_bloom_1", buckets = 2)
      val p1 = Decontaminate.contaminatedAgainstStore(
        docs.filter(col("doc_id") === 1), "doc_id", "text", "plan_bloom_1")
        .queryExecution.executedPlan.toString
      assert(p1.contains("might_contain"),
        s"single-stripe store must keep the constant bloom probe:\n${p1.take(800)}")
      assert(!p1.toLowerCase.contains("mappartitions"),
        "single-stripe store must not pay the mapPartitions probe")
      // multi-stripe (capacity 1 forces 2 stripes): the broadcast form —
      // no bloom literals in the plan, a mapPartitions probe instead (the
      // measured 4x/27x/52x decision, Decontaminate's PROBE-FORM DECISION)
      Decontaminate.writeBenchmarkStore(docs.filter(col("doc_id") === 0),
        "text", n = 3, table = "plan_bloom_2", buckets = 2,
        maxItemsPerBloom = 1)
      val p2 = Decontaminate.contaminatedAgainstStore(
        docs.filter(col("doc_id") === 1), "doc_id", "text", "plan_bloom_2")
        .queryExecution.executedPlan.toString
      assert(p2.toLowerCase.contains("mappartitions"),
        s"multi-stripe store must probe via the broadcast mapPartitions form:\n${p2.take(800)}")
      assert(!p2.contains("might_contain"),
        "multi-stripe store must not embed per-stripe bloom literals in the plan")
    } finally {
      Seq("plan_bloom_1", "plan_bloom_2").foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        spark.sql(s"DROP TABLE IF EXISTS ${graft.ext.Decontaminate.benchmarkMeta(t)}")
      }
      spark.catalog.clearCache()
    }
  }

  test("x45 incremental vector dedup reads the IVF store bucketed, no Exchange on the store side") {
    val df = Registry.queries("x45_incremental_vec_dedup")(spark, sf)
    val executed = df.queryExecution.executedPlan
    val root = executed match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    def storeScans(p: org.apache.spark.sql.execution.SparkPlan) = p.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.bucketedScan && f.tableIdentifier.exists(_.table == "x45_vec_store") => f
    }
    val smjs = root.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    val storeSides = smjs.flatMap(j => Seq(j.left, j.right))
      .filter(s => storeScans(s).nonEmpty &&
        s.collect {
          case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
        }.isEmpty)
    assert(storeSides.nonEmpty,
      s"no sort-merge join reads the bucketed vector store:\n${root.toString.take(1500)}")
    storeSides.foreach { side =>
      val es = side.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if !isIngestFanOut(e) => e
      }
      assert(es.isEmpty,
        s"vector store side must read its buckets in place, found shuffles: $es")
    }
  }

  test("x47 capped vector dedup keeps the store side Exchange-free through the cell semi filter") {
    val df = Registry.queries("x47_incremental_vec_capped")(spark, sf)
    val executed = df.queryExecution.executedPlan
    val root = executed match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    def storeScans(p: org.apache.spark.sql.execution.SparkPlan) = p.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.bucketedScan && f.tableIdentifier.exists(_.table == "x47_vec_store") => f
    }
    val smjs = root.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    // the probe join's store side now CONTAINS the hot-cell semi filter
    // (store ⋉ counts-rollup, both bucketed on cell): select join sides
    // that scan the bucketed store table and whose only nested joins
    // are LeftSemi — the x43 selection rule applied to the vector twin
    val storeSides = smjs.flatMap(j => Seq(j.left, j.right))
      .filter { s =>
        storeScans(s).nonEmpty &&
          s.collect {
            case j: org.apache.spark.sql.execution.joins.BaseJoinExec
              if j.joinType != org.apache.spark.sql.catalyst.plans.LeftSemi => j
          }.isEmpty
      }
    assert(storeSides.nonEmpty,
      s"no sort-merge join reads the semi-filtered bucketed vector store:\n${root.toString.take(1500)}")
    storeSides.foreach { side =>
      val es = side.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if !isIngestFanOut(e) => e
      }
      assert(es.isEmpty,
        s"store+counts subtree must read its buckets in place, found shuffles: $es")
    }
    assert(smjs.exists(_.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi),
      "expected the hot-cell semi filter to compile as a sort-merge semi join")
  }

  test("trained-store dedup reads the store bucketed, no Exchange on the store side (x49's probe join)") {
    val F = org.apache.spark.sql.functions
    val emb = graft.util.Tables.embeddings(spark, sf)
    val shard0 = emb.filter(F.col("vec_id") % 3 === 0)
    val codebook = graft.ext.KMeans.fit(shard0, "vec_id", "embedding",
      k = 16, rounds = 2)
    graft.ext.VectorStore.writeVectorStoreTrained(shard0, "vec_id",
      "embedding", codebook, table = "plan_vec_tr", buckets = 8)
    val df = graft.ext.VectorStore.dedupAgainstStoreWith(
      emb.filter(F.col("vec_id") % 3 === 1), "vec_id", "embedding",
      spark.table("plan_vec_tr"), minCosine = 0.4,
      graft.ext.VectorStore.trainedScorer(spark, "plan_vec_tr"), nProbe = 4)
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    def storeScans(p: org.apache.spark.sql.execution.SparkPlan) = p.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.bucketedScan && f.tableIdentifier.exists(_.table == "plan_vec_tr") => f
    }
    val smjs = root.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    val storeSides = smjs.flatMap(j => Seq(j.left, j.right))
      .filter(s => storeScans(s).nonEmpty &&
        s.collect {
          case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
        }.isEmpty)
    assert(storeSides.nonEmpty,
      s"no sort-merge join reads the bucketed trained store:\n${root.toString.take(1500)}")
    storeSides.foreach { side =>
      val es = side.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if !isIngestFanOut(e) => e
      }
      assert(es.isEmpty,
        s"trained store side must read its buckets in place, found shuffles: $es")
    }
  }

  /** Shared pin for a benchmark-store probe plan: the persisted bloom
    * prefilters per row (before any join), and a LeftSemi SMJ reads the
    * bucketed gram store in place (Exchange-free on the store side). */
  private def assertBloomStorePin(queryName: String, storeTable: String): Unit = {
    val df = Registry.queries(queryName)(spark, sf)
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }
    assert(root.toString.contains("might_contain"),
      s"expected the persisted bloom prefilter in the plan:\n${root.toString.take(1000)}")
    val smjs = root.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
        if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
    }
    val storeSides = smjs.flatMap(j => Seq(j.left, j.right)).filter(_.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.bucketedScan && f.tableIdentifier.exists(_.table == storeTable) => f
    }.nonEmpty)
    assert(storeSides.nonEmpty,
      s"no semi join reads the bucketed benchmark gram store:\n${root.toString.take(1200)}")
    storeSides.foreach { side =>
      val es = side.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if !isIngestFanOut(e) => e
      }
      assert(es.isEmpty,
        s"benchmark store side must read its buckets in place, found: $es")
    }
  }

  test("x52 benchmark-store decontamination: bloom prefilter map-side, store confirm side Exchange-free") {
    assertBloomStorePin("x52_decontaminate_store", "x52_bench_store")
    spark.catalog.clearCache() // the store path persists the train grams
  }

  test("x81 span decontamination: bloom prefilter before the shuffle, store confirm side Exchange-free") {
    assertBloomStorePin("x81_span_decontaminate", "x81_bench_store")
  }

  test("x50 exact-dedup store side reads bucketed, Exchange-free; no text on the wire") {
    val df = Registry.queries("x50_incremental_exact_dedup")(spark, sf)
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }
    val smjs = root.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    val storeSides = smjs.flatMap(j => Seq(j.left, j.right)).filter(_.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.bucketedScan && f.tableIdentifier.exists(_.table == "x50_fp_store") => f
    }.nonEmpty)
    assert(storeSides.nonEmpty,
      s"no sort-merge join reads the bucketed fingerprint store:\n${root.toString.take(1200)}")
    storeSides.foreach { side =>
      val es = side.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if !isIngestFanOut(e) => e
      }
      assert(es.isEmpty,
        s"fingerprint store side must read its buckets in place, found: $es")
    }
    // the dedup join moves fingerprints and ids only — never text
    root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if !isIngestFanOut(e) => e
    }.foreach { e =>
      assert(!e.output.exists(_.name == "text"),
        s"document text must not cross the dedup shuffle: ${e.output}")
    }
  }

  test("x114 winnow store side reads bucketed, Exchange-free; no text on the wire") {
    val df = Registry.queries("x114_winnow_store_overlap")(spark, sf)
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }
    val smjs = root.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    val storeSides = smjs.flatMap(j => Seq(j.left, j.right)).filter(_.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.bucketedScan &&
          f.tableIdentifier.exists(_.table == "x114_winnow_store") => f
    }.nonEmpty)
    assert(storeSides.nonEmpty,
      s"no sort-merge join reads the bucketed winnow store:\n${root.toString.take(1200)}")
    // the PURE store subtrees (no nested join — the query side's
    // exchanges live under the other child) must read buckets in place
    storeSides.filter(_.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.isEmpty).foreach { side =>
      val es = side.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if !isIngestFanOut(e) => e
      }
      assert(es.isEmpty,
        s"winnow store side must read its buckets in place, found: $es")
    }
    root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if !isIngestFanOut(e) => e
    }.foreach { e =>
      assert(!e.output.exists(_.name == "text"),
        s"document text must not cross the overlap shuffle: ${e.output}")
    }
  }

  test("x116 span corruption: no join anywhere; document text never crosses an exchange") {
    val df = Registry.queries("x116_span_corruption")(spark, sf)
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }
    val joins = root.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }
    assert(joins.isEmpty, s"span selection must be join-free: $joins")
    root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if !isIngestFanOut(e) => e
    }.foreach { e =>
      assert(!e.output.exists(_.name == "text"),
        s"document text must not cross the span-corruption shuffle: ${e.output}")
    }
  }

  test("x120 unigram pricing: word types join back BROADCAST; no sort-merge join, no text on the wire") {
    val df = Registry.queries("x120_unigram_price")(spark, sf)
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }
    val bhj = root.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bhj.nonEmpty, "the priced word-type table must broadcast")
    val smj = root.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.isEmpty, s"pricing must not shuffle-join the corpus: $smj")
    root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if !isIngestFanOut(e) => e
    }.foreach { e =>
      assert(!e.output.exists(_.name == "text"),
        s"document text must not cross the pricing shuffle: ${e.output}")
    }
  }

  test("x54 model-store scoring: count sides read buckets Exchange-free, one tokenize, no bloom") {
    val df = Registry.queries("x54_lm_score_store")(spark, sf)
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }
    val p = root.toString
    // the model is persisted — the only tokenization left is the
    // candidate side's single pass
    val tokenizes = "regexp_extract_all".r.findAllIn(p).length
    assert(tokenizes == 1,
      s"expected exactly one tokenization in the store-served plan, found $tokenizes")
    // counts need the exact join — a bloom prefilter would be wrong here
    assert(!p.contains("might_contain"),
      "model-count joins must be exact, no bloom prefilter")
    // BOTH count joins (unigram + bigram) read the store's buckets in
    // place: every SMJ side containing the store scan must be shuffle-free
    val smjs = root.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    // the PURE store subtrees (one per count join): contain the bucketed
    // model scan and no nested join — the candidate side's exchanges
    // live under the other child
    val storeSides = smjs.flatMap(j => Seq(j.left, j.right))
      .filter(s => s.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.bucketedScan && f.tableIdentifier.exists(_.table == "x54_lm_model") => f
      }.nonEmpty && s.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }.isEmpty)
    assert(storeSides.size >= 2,
      s"expected both count joins to read the bucketed model store:\n${p.take(1500)}")
    storeSides.foreach { side =>
      val es = side.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if !isIngestFanOut(e) => e
      }
      assert(es.isEmpty,
        s"model store side must read its buckets in place, found: $es")
    }
    // fp-keyed count joins move fps + counts only — never document text
    root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if !isIngestFanOut(e) => e
    }.foreach { e =>
      assert(!e.output.exists(_.name == "text"),
        s"document text must not cross a scoring shuffle: ${e.output}")
    }
  }

  test("shard probe generation is a narrow expression: no Window, doc-keyed exchanges only, O(nProbe) rows") {
    // the scale guard for probe GENERATION (VectorStore.probeCells):
    // selection is one codegen'd topCells expression + a narrow explode
    // of nProbe cells — never a k-wide score explode ranked through a
    // row_number Window (k×|shard| rows through an Exchange at
    // IVF-realistic k). The whole dedup plan must contain NO Window at
    // all, and the shard side exactly ONE exchange (the candidate
    // join's partition-by-cell) — for both codebook families.
    val F = org.apache.spark.sql.functions
    val emb = graft.util.Tables.embeddings(spark, sf)
    val shard0 = emb.filter(F.col("vec_id") % 3 === 0)
    val codebook = graft.ext.KMeans.fit(shard0, "vec_id", "embedding",
      k = 16, rounds = 2)
    graft.ext.VectorStore.writeVectorStoreTrained(shard0, "vec_id",
      "embedding", codebook, table = "plan_vec_probe", buckets = 8)
    val scorers = Seq(
      graft.ext.VectorStore.trainedScorer(spark, "plan_vec_probe"),
      graft.ext.LcgCellScorer(16, 64, 100000L))
    scorers.foreach { scorer =>
      val df = graft.ext.VectorStore.dedupAgainstStoreWith(
        emb.filter(F.col("vec_id") % 3 === 1), "vec_id", "embedding",
        spark.table("plan_vec_probe"), minCosine = 0.4, scorer, nProbe = 4)
      val root = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.initialPlan
        case p => p
      }
      val windows = root.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.isEmpty,
        s"probe generation must not rank through a Window:\n${root.toString.take(1200)}")
      val exchanges = root.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if !isIngestFanOut(e) => e
      }
      // every exchange in the plan is doc-keyed (candidate join on cell,
      // pair/per-doc rollups, final verdict join) — O(shard) rows each,
      // never O(k·shard); the k-wide probe-rank exchange the Window
      // formulation needed is gone. Count pinned so it cannot creep back.
      assert(exchanges.size <= 4,
        s"expected at most 4 doc-keyed exchanges, got " +
          s"${exchanges.size}:\n${root.toString.take(1200)}")
      exchanges.foreach { e =>
        assert(!e.output.exists(a => a.name == "__score" || a.name == "__pr"),
          s"a probe-rank exchange crept back: ${e.output}")
      }
      assert(root.toString.contains("top_cells"),
        s"probe side must select cells via the fused topCells expression:\n${root.toString.take(800)}")
    }
  }

  test("x48 trained-codebook IVF broadcasts the probes; assignment is per-row (no cartesian, no extra join)") {
    val p = plan("x48_knn_ivf_trained")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "trained IVF must probe via an equi join, not a nested loop")
    // the candidate join builds on the broadcast probe side; the corpus
    // side assigns per-row through the codegen'd reference-object
    // expression (no centroid join, no corpus groupBy for assignment)
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(p.contains("trained_nearest_cell"), p.take(800))
  }

  test("trained assignment plan size is O(1) in the codebook size (reference object, not literals)") {
    // the scale guard for IVF-realistic k (thousands of cells): the
    // codebook rides in ONE codegen reference object per expression, so
    // the analyzed plan must not grow with k — a literal embedding
    // (k·dim array literals + a k-wide aggregate chain) would
    val emb = graft.util.Tables.embeddings(spark, sf)
    def planLen(k: Int): Int = {
      val codebook = graft.ext.KMeans.fit(emb, "vec_id", "embedding",
        k = k, rounds = 1)
      graft.ext.Similarity.ivfTopKTrained(emb,
          emb.filter(org.apache.spark.sql.functions.col("vec_id") < 4),
          "vec_id", "embedding", 3, codebook, nProbe = 2)
        .queryExecution.optimizedPlan.treeString.length
    }
    val small = planLen(8)
    val large = planLen(48)
    assert(large < small + 200,
      s"plan grew with codebook size: k=8 → $small chars, k=48 → $large chars")
  }

  test("unigram DP plan size is O(1) in the vocabulary size (reference object, not map literals)") {
    // the scale guard for production vocabularies (32k-256k pieces):
    // the probability table rides in ONE reference object per lookup
    // site, so the analyzed plan must not grow with |V| — the typedlit
    // map literal it replaced embedded 2·|V| nodes per site
    val s = spark
    import s.implicits._
    val words = Seq(("abc", 3L), ("cab", 1L)).toDF("word", "cnt")
    def planLen(v: Int): Int = {
      val probs = (1 to v).map(i => f"p$i%06d" -> 1.0 / 1048576).toMap ++
        Map("a" -> 0.25, "b" -> 0.25, "c" -> 0.25)
      graft.ext.Unigram.viterbiSegments(words, probs, 3)
        .queryExecution.analyzed.treeString.length
    }
    val small = planLen(4)
    val large = planLen(2048)
    assert(large < small + 200,
      s"plan grew with vocabulary size: |V|=4 → $small chars, |V|=2048 → $large chars")
  }

  test("x130 token stream joins the id streams ONCE (manifest carries its own offset); no cartesian") {
    val df = Registry.queries("x130_token_id_stream")(spark, sf)
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }
    val s = root.toString
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"))
    val joins = root.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    // the id-assembly broadcast join sits behind the localCheckpoint;
    // the visible plan must hold exactly the one manifest-vs-ids equi
    // join — a second join here means the manifest re-joined `packed`
    // just to recover the offset it already had
    assert(joins.size == 1, s"expected 1 join, found ${joins.size}:\n${s.take(1500)}")
  }

  test("store-served winnow dedup reads the bucketed index in place (Exchange-free store side)") {
    val t = "plan_winnow_dedup_store"
    def cleanup(): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_meta")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_ledger")
    }
    cleanup()
    try {
      val docs = graft.util.Tables.documents(spark, sf)
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text"))
      graft.ext.Winnowing.writeWinnowStore(docs, "doc_id", "text",
        k = 3, w = 4, table = t, buckets = 4)
      val df = graft.ext.Winnowing.dedupAgainstStore(
        docs.limit(5), "doc_id", "text", t, minShared = 2L)
      val root = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.initialPlan
        case p => p
      }
      val smjs = root.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      val storeSides = smjs.flatMap(j => Seq(j.left, j.right)).filter(_.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.bucketedScan && f.tableIdentifier.exists(_.table == t) => f
      }.nonEmpty)
      assert(storeSides.nonEmpty,
        s"no sort-merge join reads the bucketed winnow store:\n${root.toString.take(1200)}")
      storeSides.filter(_.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }.isEmpty).foreach { side =>
        val es = side.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if !isIngestFanOut(e) => e
        }
        assert(es.isEmpty,
          s"winnow store side must read its buckets in place, found: $es")
      }
    } finally cleanup()
  }

  test("q33 bucketed merge joins without any hash shuffle (range exchange for ORDER BY only)") {
    val df = Registry.queries("q33_bucketed_merge")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p.take(800))
    assert(p.contains("Bucketed: true"), p.take(1200))
    val es = shuffles(df)
    es.foreach { e =>
      assert(e.outputPartitioning.toString.toLowerCase.contains("range"),
        s"bucketed merge must not shuffle for the join: ${e.outputPartitioning}")
    }
  }

  test("x60 mixture factors broadcast; the corpus is never hash-shuffled") {
    val df = Registry.queries("x60_mixture_materialize")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"the stratum-cardinality factor table must broadcast:\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    // the only exchanges are the tiny stats aggregation (broadcast
    // side) and the final ORDER BY range partitioning — never a hash
    // exchange of the document rows on the probe side
    shuffles(df).foreach { e =>
      val part = e.outputPartitioning.toString
      assert(!part.contains("doc_id") || part.toLowerCase.contains("range"),
        s"corpus must not hash-shuffle: $part")
    }
  }

  test("x69 trigram-store scoring: all four count joins read buckets Exchange-free, one tokenize") {
    val df = Registry.queries("x69_lm3_score_store")(spark, sf)
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }
    val p = root.toString
    val tokenizes = "regexp_extract_all".r.findAllIn(p).length
    assert(tokenizes == 1,
      s"expected exactly one tokenization in the store-served plan, found $tokenizes")
    val smjs = root.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    val storeSides = smjs.flatMap(j => Seq(j.left, j.right))
      .filter(s => s.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.bucketedScan && f.tableIdentifier.exists(_.table == "x69_lm3_model") => f
      }.nonEmpty && s.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }.isEmpty)
    assert(storeSides.size >= 4,
      s"expected all four count joins to read the bucketed model store:\n${p.take(1500)}")
    storeSides.foreach { side =>
      val es = side.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if !isIngestFanOut(e) => e
      }
      assert(es.isEmpty,
        s"model store side must read its buckets in place, found: $es")
    }
    root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if !isIngestFanOut(e) => e
    }.foreach { e =>
      assert(!e.output.exists(_.name == "text"),
        s"document text must not cross a scoring shuffle: ${e.output}")
    }
  }

  test("x63 release diff: store side reads bucketed Exchange-free; no text on any exchange") {
    val df = Registry.queries("x63_release_diff")(spark, sf)
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }
    val smjs = root.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    val storeSides = smjs.flatMap(j => Seq(j.left, j.right)).filter(_.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.bucketedScan && f.tableIdentifier.exists(_.table == "x63_fp_store") => f
    }.nonEmpty)
    assert(storeSides.nonEmpty,
      s"no sort-merge join reads the bucketed fingerprint store:\n${root.toString.take(1200)}")
    storeSides.foreach { side =>
      val es = side.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if !isIngestFanOut(e) => e
      }
      assert(es.isEmpty,
        s"fingerprint store side must read its buckets in place, found: $es")
    }
    root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if !isIngestFanOut(e) => e
    }.foreach { e =>
      assert(!e.output.map(_.name).contains("text"),
        s"diff must move fps and ids only, never text: ${e.output}")
    }
  }

  test("x64 in-doc repetition removal is pure map-side: no join, only the ORDER BY exchange") {
    val df = Registry.queries("x64_indoc_repetition")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"in-doc dedup must be join-free:\n${p.take(800)}")
    shuffles(df).foreach { e =>
      assert(e.outputPartitioning.toString.toLowerCase.contains("range"),
        s"in-doc dedup must not hash-shuffle: ${e.outputPartitioning}")
    }
  }

  test("x65 boilerplate df-count leg is pruned to fp + doc id (no passage text)") {
    val df = Registry.queries("x65_boilerplate_removal")(spark, sf)
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }
    // the aggregate under the frequency count must not carry the
    // passage column through its exchange — only fp and the doc id
    val aggExchanges = root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.child.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec] ||
           e.child.isInstanceOf[org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec] => e
    }
    assert(aggExchanges.nonEmpty, s"expected a map-side-combined df count:\n${root.toString.take(1200)}")
    aggExchanges.foreach { e =>
      assert(!e.output.map(_.name).contains("passage"),
        s"df-count exchange must not carry passage text: ${e.output}")
    }
  }

  test("x67 card store serves from bucketed counters: in-bucket aggs, broadcast top-lang, range exchange only") {
    // the store build/ingest side effects run once; the served plan is
    // what the pin is about
    val df = Registry.queries("x67_card_store")(spark, sf)
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }
    val scans = root.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.tableIdentifier.exists(_.table == "x67_card") => f
    }
    assert(scans.nonEmpty && scans.forall(_.bucketedScan),
      s"card store must read its buckets:\n${root.toString.take(1200)}")
    assert(root.toString.contains("BroadcastHashJoin"),
      "the source-cardinality top-lang table must broadcast")
    root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if !isIngestFanOut(e) => e
    }.foreach { e =>
      assert(e.outputPartitioning.toString.toLowerCase.contains("range"),
        s"card serving must aggregate in-bucket, found hash exchange: ${e.outputPartitioning}")
    }
  }

  test("x61 rule gate is one scan, no join, no aggregate exchange") {
    val df = Registry.queries("x61_gopher_rule_gate")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"rule gate must be join-free:\n${p.take(800)}")
    // a single narrow projection over the scan: the only exchange is
    // the final ORDER BY range partitioning
    shuffles(df).foreach { e =>
      assert(e.outputPartitioning.toString.toLowerCase.contains("range"),
        s"rule gate must not hash-shuffle: ${e.outputPartitioning}")
    }
  }

  test("x89 classifier-store serving: weights fold in-bucket Exchange-free, one tokenize, no text on shuffles") {
    val df = Registry.queries("x89_classifier_store_gate")(spark, sf)
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }
    val p = root.toString
    // the model is persisted: the only tokenization is the candidate
    // side's single pass (the gate's spine join adds none)
    val tokenizes = "regexp_extract_all".r.findAllIn(p).length
    assert(tokenizes == 1,
      s"expected exactly one tokenization in the store-served plan, found $tokenizes:\n${p.take(1200)}")
    // weight derivation must be exact fp joins, no bloom
    assert(!p.contains("might_contain"),
      "classifier weight joins must be exact, no bloom prefilter")
    // the store subtree — bucketed scan through BOTH in-bucket folds
    // (generation sum per (side, fp), then the per-fp weight rollup) —
    // reaches its join with zero exchanges: fp ⊆ both grouping keys,
    // so the bucket layout satisfies every required distribution
    val joins = root.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    val storeSides = joins.flatMap(j => Seq(j.left, j.right))
      .filter(s => s.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.bucketedScan && f.tableIdentifier.exists(_.table == "x89_cls") => f
      }.nonEmpty && s.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }.isEmpty)
    assert(storeSides.nonEmpty,
      s"no join side reads the bucketed classifier store:\n${p.take(1500)}")
    storeSides.foreach { side =>
      val es = side.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if !isIngestFanOut(e) => e
      }
      assert(es.isEmpty,
        s"classifier store side must read its buckets in place, found: $es")
    }
    // fp-keyed scoring moves (id, fp, weight) rows; the gate's spine
    // join moves ids — document text never crosses a shuffle
    root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if !isIngestFanOut(e) => e
    }.foreach { e =>
      assert(!e.output.exists(_.name == "text"),
        s"document text must not cross a scoring shuffle: ${e.output}")
    }
  }

  test("x104 BPE corpus pricing: encoded word-type table broadcasts; corpus text never shuffles") {
    val df = Registry.queries("x104_bpe_piece_counts")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"the encoded vocabulary must broadcast against the corpus:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"))
    shuffles(df).foreach { e =>
      assert(!e.output.exists(_.name == "text"),
        s"document text must not cross a pricing shuffle: ${e.output}")
    }
  }

  test("x101 multimodal near-dup: banded candidates, never a cartesian over embeddings") {
    val p = plan("x101_multimodal_neardup")
    assert(!p.contains("CartesianProduct"),
      s"near-dup candidates must come from the banded equi-join:\n${p.take(1200)}")
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }
}
