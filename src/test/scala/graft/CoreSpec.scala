package graft

import graft.core.{Dedup, Upsert}
import graft.dim.DimDate
import graft.metrics.Audit
import graft.quality.{GateFailed, Gates}
import org.apache.spark.sql.functions._
import java.sql.Date

final case class RawRow(symbol: String, trade_date: Date, close: Double,
                        volume: Long, _ingest_ts: Long, _src_file: String)

/** W1 latest-wins dedup: reference `4. merge_core.sql:72-81`. */
class DedupSpec extends SparkSpec {
  private def d(s: String) = Date.valueOf(s)
  private val rows = Seq(
    RawRow("AAPL", d("2024-01-02"), 100.0, 10L, 2L, "f1"), // newest ts wins
    RawRow("AAPL", d("2024-01-02"), 101.0, 11L, 1L, "f9"),
    RawRow("MSFT", d("2024-01-02"), 200.0, 20L, 5L, "a"),  // ts tie → file desc
    RawRow("MSFT", d("2024-01-02"), 201.0, 21L, 5L, "b"),
    RawRow("GOOG", d("2024-01-03"), 300.0, 30L, 1L, "x"))  // singleton

  test("latest ingest wins per (symbol, trade_date)") {
    val out = Dedup.latestIngestWins(df(rows)).collect()
    assert(out.length == 3)
    val bySym = out.map(r => r.getAs[String]("symbol") -> r.getAs[Double]("close")).toMap
    assert(bySym("AAPL") == 100.0) // _ingest_ts 2 beats 1
    assert(bySym("MSFT") == 201.0) // ts tie, _src_file "b" > "a"
    assert(bySym("GOOG") == 300.0)
  }

  test("dedup is deterministic under input row permutation") {
    val a = Dedup.latestIngestWins(df(rows)).orderBy("symbol").collect().toSeq
    val b = Dedup.latestIngestWins(df(rows.reverse)).orderBy("symbol").collect().toSeq
    assert(a == b)
  }
}

/** §2.8 dialect traps: DOW off-by-one, 3-letter names, weekend flag. */
class DimDateSpec extends SparkSpec {
  private def calRow(s: String) = {
    val out = DimDate.derive(
      df(Seq(Tuple1(Date.valueOf(s)))).toDF("d"), "d").collect()
    assert(out.length == 1); out.head
  }

  test("day_of_week uses Snowflake 0=Sunday..6=Saturday convention") {
    assert(calRow("2024-01-07").getAs[Int]("day_of_week") == 0) // Sunday
    assert(calRow("2024-01-08").getAs[Int]("day_of_week") == 1) // Monday
    assert(calRow("2024-01-13").getAs[Int]("day_of_week") == 6) // Saturday
  }

  test("is_weekend matches the reference's IN (0,6) test") {
    assert(calRow("2024-01-06").getAs[Boolean]("is_weekend"))   // Sat
    assert(calRow("2024-01-07").getAs[Boolean]("is_weekend"))   // Sun
    assert(!calRow("2024-01-08").getAs[Boolean]("is_weekend"))  // Mon
  }

  test("names are 3-letter abbreviations (Snowflake MONTHNAME/DAYNAME)") {
    val r = calRow("2024-02-05")
    assert(r.getAs[String]("month_name") == "Feb")
    assert(r.getAs[String]("day_name") == "Mon")
  }

  test("date_sk is the yyyyMMdd integer") {
    assert(calRow("2024-02-05").getAs[Int]("date_sk") == 20240205)
    assert(DimDate.derive(df(Seq(Tuple1(Date.valueOf("1999-12-31")))).toDF("d"), "d")
      .collect().head.getAs[Int]("date_sk") == 19991231)
  }

  test("duplicate input dates collapse to one calendar row") {
    val dups = df(Seq.fill(5)(Tuple1(Date.valueOf("2024-03-01")))).toDF("d")
    assert(DimDate.derive(dups, "d").count() == 1)
  }
}

/** P2/A2 quality gates: reject-split completeness and the load gate. */
class GatesSpec extends SparkSpec {
  private val batch = df(Seq(
    ("A", 10L), ("B", -1L), ("C", 0L), ("D", -999L), ("E", 5L)))
    .toDF("symbol", "volume")

  test("split is a partition: valid ∪ reject ≡ input, valid ∩ reject = ∅") {
    val (valid, reject) = Gates.split(batch, Gates.negativeVolume)
    assert(valid.count() + reject.count() == batch.count())
    assert(valid.intersect(reject).count() == 0)
    assert(valid.unionByName(reject).exceptAll(batch).count() == 0)
    assert(batch.exceptAll(valid.unionByName(reject)).count() == 0)
  }

  test("generic split: null predicate rows land in valid (reject only on true)") {
    val withNull = df(Seq(("A", Some(1L)), ("B", None), ("C", Some(-1L))))
      .toDF("symbol", "volume")
    val (valid, reject) = Gates.split(withNull, Gates.negativeVolume)
    assert(valid.count() == 2 && reject.count() == 1)
  }

  test("referenceSplit: null-volume rows land in NEITHER branch (>= 0 / < 0)") {
    val withNull = df(Seq(("A", Some(1L)), ("B", None), ("C", Some(-1L)), ("D", Some(0L))))
      .toDF("symbol", "volume")
    val (valid, reject) = Gates.referenceSplit(withNull)
    assert(valid.collect().map(_.getString(0)).sorted.toSeq == Seq("A", "D"))
    assert(reject.collect().map(_.getString(0)).toSeq == Seq("C"))
  }

  test("requireNonEmpty passes on data, fails typed on empty") {
    Gates.requireNonEmpty(batch, "batch")
    intercept[GateFailed] {
      Gates.requireNonEmpty(batch.filter(lit(false)), "empty")
    }
  }
}

/** M1-M5 merge planner semantics + rerun idempotency. */
class UpsertSpec extends SparkSpec {
  private val target = df(Seq(("A", 1, "old"), ("B", 2, "old"))).toDF("k", "n", "v")
  private val source = df(Seq(("B", 2, "new"), ("C", 3, "new"))).toDF("k", "n", "v")

  test("insertOnly appends only absent keys") {
    val out = Upsert.insertOnly(target, source, Seq("k")).orderBy("k").collect()
    assert(out.map(r => (r.getString(0), r.getString(2))).toSeq ==
      Seq(("A", "old"), ("B", "old"), ("C", "new")))
  }

  test("merge: source wins on matched keys, target survives unmatched") {
    val out = Upsert.merge(target, source, Seq("k")).orderBy("k").collect()
    assert(out.map(r => (r.getString(0), r.getString(2))).toSeq ==
      Seq(("A", "old"), ("B", "new"), ("C", "new")))
  }

  test("merge is idempotent: applying the same source twice = once") {
    val once = Upsert.merge(target, source, Seq("k"))
    val twice = Upsert.merge(once, source, Seq("k"))
    assert(twice.exceptAll(once).count() == 0 && once.exceptAll(twice).count() == 0)
  }

  test("insertOnly is idempotent") {
    val once = Upsert.insertOnly(target, source, Seq("k"))
    val twice = Upsert.insertOnly(once, source, Seq("k"))
    assert(twice.exceptAll(once).count() == 0 && once.exceptAll(twice).count() == 0)
  }
}

/** Salted skew join ≡ plain join, with the hot key spread over salts. */
class SkewJoinSpec extends SparkSpec {
  import graft.core.SkewJoin
  private val large = df((1 to 200).map(i =>
    (if (i <= 150) "HOT" else s"K$i", i.toLong))).toDF("k", "v")   // 75% one key
  private val small = df(Seq(("HOT", "a"), ("K151", "b"), ("K160", "c"), ("MISS", "d")))
    .toDF("k", "w")

  test("salted inner join returns exactly the plain join's rows") {
    val plain = large.join(small, Seq("k")).orderBy("k", "v").collect().map(_.toSeq).toSeq
    val salted = SkewJoin.saltedInnerJoin(large, small, Seq("k"), saltFactor = 8)
      .select(large.columns.map(col).toIndexedSeq :+ col("w"): _*)
      .orderBy("k", "v").collect().map(_.toSeq).toSeq
    assert(salted == plain && plain.nonEmpty)
  }

  test("the hot key actually spreads across salts") {
    val salts = large.withColumn("__salt",
        pmod(xxhash64(large.columns.map(col).toIndexedSeq: _*), lit(8)).cast("int"))
      .filter(col("k") === "HOT").select("__salt").distinct().count()
    assert(salts > 4) // 150 distinct rows of one key → nearly all 8 salts hit
  }
}

/** §1.2 richer dim: deterministic enrichment to the dashboard's columns. */
/** W2 scale path: the two-pass zipWithIndex-shaped assigner must produce
  * exactly the window formulation's ids at a cardinality where the
  * single-partition sort would be the bottleneck. */
class DimSecurityAssignSpec extends SparkSpec {
  test("assignDenseIds matches window row_number bit-for-bit at 100k keys") {
    import org.apache.spark.sql.expressions.Window
    val n = 100000L
    val keys = spark.range(n)
      .select(concat(lit("SYM"), md5(col("id").cast("string"))).as("symbol"))
    val a = graft.dim.DimSecurity.assignDenseIds(keys, 1L)
    val w = keys.select(
      row_number().over(Window.orderBy("symbol")).cast("long").as("security_id"),
      col("symbol"))
    assert(a.exceptAll(w).isEmpty && w.exceptAll(a).isEmpty)
    val stats = a.agg(min("security_id"), max("security_id"),
      countDistinct("security_id")).collect().head
    assert(stats.getLong(0) == 1L && stats.getLong(1) == n && stats.getLong(2) == n)
  }
}

class DimSecurityEnrichSpec extends SparkSpec {
  import graft.dim.DimSecurity
  test("enrich adds the dashboard columns, deterministically and idempotently") {
    val dim = df(Seq((1L, "AAPL"), (2L, "MSFT"), (3L, "SPY"))).toDF("security_id", "symbol")
    val rich = DimSecurity.enrich(dim)
    assert(rich.schema.fieldNames.toSeq ==
      graft.schema.Schemas.dimSecurityRich.fieldNames.toSeq)
    val a = rich.orderBy("security_id").collect().map(_.toSeq).toSeq
    val b = DimSecurity.enrich(dim).orderBy("security_id").collect().map(_.toSeq).toSeq
    assert(a == b) // pure function of symbol
    assert(rich.filter(col("sector").isNull || col("security_type").isNull).count() == 0)
    assert(a.head(2) == "Aapl") // initcap name
  }
}

/** A7 scale path: HLL++ approximate distinct counts within the rsd bound. */
class ApproxDistinctSpec extends SparkSpec {
  test("approx distinct is within the requested relative error of exact") {
    val sf = "/root/testdata/sf0.001"
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val exact = li.select(
        countDistinct(col("l_partkey")), countDistinct(col("l_orderkey")))
      .collect().head
    val approx = graft.sa.Analytics.approxDistinct(li, Seq("l_partkey", "l_orderkey"), 0.05)
      .collect().head
    Seq(0, 1).foreach { i =>
      val (e, a) = (exact.getLong(i).toDouble, approx.getLong(i).toDouble)
      assert(math.abs(a - e) / e < 0.15, s"col $i: approx $a vs exact $e") // 3× rsd
    }
  }
}

/** Q1 premerge invariant: est_inserts + est_updates = |distinct valid keys|
  * (reference `3. premerge_metrics.sql:45-49`). */
class AuditSpec extends SparkSpec {
  private def d(s: String) = Date.valueOf(s)

  test("premerge estimates partition the distinct valid key set") {
    val raw = df(Seq(
      ("aapl ", d("2024-01-02"), Some(10L)), (" AAPL", d("2024-01-02"), Some(20L)), // same key normalized
      ("MSFT", d("2024-01-02"), Some(-5L)),                                         // reject
      ("GOOG", d("2024-01-02"), Some(30L)),
      ("NVDA", d("2024-01-02"), Some(40L)),
      ("TSLA", d("2024-01-02"), None)))                                             // null: neither
      .toDF("symbol", "trade_date", "volume")
    val core = df(Seq(("AAPL", d("2024-01-02")), ("TSLA", d("2024-01-01"))))
      .toDF("symbol", "trade_date")
    val m = Audit.preMerge(raw, core)
    assert(m.rawCnt == 6 && m.rejectCnt == 1)
    assert(m.estUpdates == 1)               // AAPL exists in core
    assert(m.estInserts == 2)               // GOOG, NVDA (TSLA null-volume excluded)
    assert(m.estInserts + m.estUpdates == 3) // |distinct valid keys|
  }
}

/** Pins the q25 oracle's numeric precondition: the DuckDB-side hi/lo
  * int128→double split (hi·2⁴⁰ + lo) is correctly rounded only while the
  * hi limb is exactly representable, i.e. num = n·Σm² − (Σm)² < 2⁹³.
  * Asserted against the real sf0.1 events data (the largest gate SF). */
class VolatilityBoundSpec extends SparkSpec {
  test("variance numerator stays below 2^93 on sf0.1 events") {
    val dir = "/root/testdata/sf0.1"
    assume(new java.io.File(dir + "/events.parquet").exists)
    import org.apache.spark.sql.types.DecimalType
    val rets = graft.sa.Analytics.lagReturn(graft.util.Tables.events(spark, dir),
      "user_id", Seq(col("ts"), col("event_id")), "value")
    val m = floor(col("ret") * lit(1000000.0)).cast(DecimalType(13, 0))
    val g = rets.filter(col("ret").isNotNull)
      .select(col("user_id"), m.as("m"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(col("m")).cast(DecimalType(18, 0)).as("sx"),
        sum((col("m") * col("m")).cast(DecimalType(33, 0))).cast(DecimalType(33, 0)).as("sx2"))
      .collect()
    assert(g.nonEmpty)
    val bound = BigInt(2).pow(93)
    val maxNum = g.map { r =>
      BigInt(r.getLong(1)) * BigInt(r.getDecimal(3).toBigInteger) -
        BigInt(r.getDecimal(2).toBigInteger).pow(2)
    }.max
    assert(maxNum >= 0 && maxNum < bound,
      s"num=$maxNum breaches 2^93: the q25 oracle's hi/lo split would double-round")
  }
}

/** W6 scale path: the salted two-phase top-N must equal the naive
  * one-phase window for any total ordering, including heavy skew. */
class TopNPerGroupSpec extends SparkSpec {
  import org.apache.spark.sql.expressions.Window

  test("two-phase top-N equals the one-phase window under 90% skew") {
    val s = spark; import s.implicits._
    // 900 rows in group HOT, ~100 spread over 10 groups; values collide
    // across groups and within (ties broken by id — total ordering)
    val rows = (1 to 1000).map { i =>
      val g = if (i <= 900) "HOT" else s"G${i % 10}"
      (g, (i * 37) % 97, i.toLong)
    }
    val df = rows.toDF("g", "v", "id")
    val ordering = Seq(col("v").desc, col("id"))
    val fast = graft.sa.Analytics.topNPerGroup(df, Seq("g"), ordering, 5)
      .select("g", "rnk", "v", "id")
    val w = Window.partitionBy("g").orderBy(ordering: _*)
    val naive = df.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
      .select("g", "rnk", "v", "id")
    assert(fast.exceptAll(naive).isEmpty && naive.exceptAll(fast).isEmpty)
    assert(fast.count() == naive.count() && fast.count() > 0)
  }

  test("n larger than the group keeps every row, ranked") {
    val s = spark; import s.implicits._
    val df = Seq(("A", 1L), ("A", 2L), ("B", 3L)).toDF("g", "id")
    val out = graft.sa.Analytics.topNPerGroup(df, Seq("g"), Seq(col("id")), 10)
    assert(out.count() == 3)
    assert(out.filter(col("g") === "A").select("rnk").collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
  }
}

/** W4 scale path: distinct-value prefix-sum rank ≡ the rank() window
  * (ties share a rank, gaps follow), both directions. */
class RankSpec extends SparkSpec {
  import org.apache.spark.sql.expressions.Window

  test("scalableRank equals rank() over an unpartitioned window, with ties") {
    val s = spark; import s.implicits._
    val df = (1 to 500).map(i => (s"u$i", (i * 13) % 29L)).toDF("id", "v")
    for (asc <- Seq(true, false)) {
      val fast = graft.sa.Analytics.scalableRank(df, "v", ascending = asc)
        .select(col("id"), col("v"), col("rnk").cast("int").as("rnk"))
      val w = Window.orderBy(if (asc) col("v").asc else col("v").desc)
      val naive = df.withColumn("rnk", rank().over(w)).select("id", "v", "rnk")
      assert(fast.exceptAll(naive).isEmpty && naive.exceptAll(fast).isEmpty,
        s"rank mismatch (ascending=$asc)")
    }
  }
}

/** §4 bucketing: tables bucketed+sorted on the join key must join with
  * NO Exchange and NO Sort — the storage-side shuffle eliminator the
  * CORE/fact maintenance path relies on at scale. */
class BucketingSpec extends SparkSpec {
  test("bucketed-by-symbol tables sort-merge join without Exchange or Sort") {
    val s = spark; import s.implicits._
    val rows = (1 to 1000).map(i => (s"S${i % 50}", i.toLong)).toDF("symbol", "v")
    graft.core.Bucketing.writeBucketed(rows, "bkt_a", Seq("symbol"), 8)
    graft.core.Bucketing.writeBucketed(rows.withColumnRenamed("v", "w"),
      "bkt_b", Seq("symbol"), 8)
    try {
      // force SMJ (a broadcast would also skip the shuffle, proving nothing)
      val j = spark.table("bkt_a").join(spark.table("bkt_b").hint("merge"), "symbol")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(500))
      assert(plan.contains("Bucketed: true"), plan.take(800))
      // the Exchange elimination is the scale win (no data movement); a
      // narrow in-bucket Sort may remain — Spark only honors sortBy
      // metadata when each bucket is a single file
      assert(!plan.contains("Exchange"), "bucketed join must not shuffle:\n" + plan.take(800))
      assert(j.count() == 1000L * 20) // 50 keys x 20 rows each side
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_a")
      spark.sql("DROP TABLE IF EXISTS bkt_b")
    }
  }

  test("fresh writes land one file per bucket; appends one per bucket per generation; Sort elision from birth") {
    val s = spark; import s.implicits._
    // adversarial task layout: without the write path's own repartition
    // onto the bucket layout, 13 tasks x 8 buckets would emit ~104 files
    val rows = (1 to 1000).map(i => (s"S${i % 50}", i.toLong))
      .toDF("symbol", "v").repartition(13)
    graft.core.Bucketing.writeBucketed(rows, "bkt_fresh_a", Seq("symbol"), 8)
    graft.core.Bucketing.writeBucketed(rows.withColumnRenamed("v", "w"),
      "bkt_fresh_b", Seq("symbol"), 8)
    try {
      assert(graft.core.Bucketing.dataFileCount(spark, "bkt_fresh_a") <= 8)
      // FRESH stores (no compaction ever ran) already qualify for the
      // in-bucket Sort elision: single-file buckets, sorted at write
      val conf = "spark.sql.legacy.bucketedTableScan.outputOrdering"
      val prev = spark.conf.get(conf)
      spark.conf.set(conf, "true")
      try {
        val j = spark.table("bkt_fresh_a")
          .join(spark.table("bkt_fresh_b").hint("merge"), "symbol")
        val root = j.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.initialPlan
          case p => p
        }
        assert(root.toString.contains("SortMergeJoin"))
        assert(!root.toString.contains("ShuffleExchange"),
          "bucketed join must not shuffle:\n" + root.toString.take(800))
        val sorts = root.collect {
          case se: org.apache.spark.sql.execution.SortExec => se }
        assert(sorts.isEmpty,
          "fresh single-generation stores must elide the in-bucket Sort")
      } finally spark.conf.set(conf, prev)
      // each append generation adds at most one file per bucket, so
      // dataFileCount measures appended generations exactly
      graft.core.Bucketing.appendBucketed(rows, "bkt_fresh_a", Seq("symbol"), 8)
      val n1 = graft.core.Bucketing.dataFileCount(spark, "bkt_fresh_a")
      assert(n1 > 8 && n1 <= 16, s"expected 2 generations x <= 8 files, got $n1")
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_fresh_a")
      spark.sql("DROP TABLE IF EXISTS bkt_fresh_b")
    }
  }

  test("appendBucketed refuses to create a store on a nonexistent table name") {
    val s = spark; import s.implicits._
    val rows = (1 to 10).map(i => (s"S$i", i.toLong)).toDF("symbol", "v")
    val ex = intercept[IllegalArgumentException] {
      graft.core.Bucketing.appendBucketed(rows, "bkt_typo_never_created",
        Seq("symbol"), 8)
    }
    assert(ex.getMessage.contains("does not exist"))
    // and the refusal must not have created the table as a side effect
    assert(!spark.catalog.tableExists("bkt_typo_never_created"))
  }

  test("appendBucketed appends to an existing store") {
    val s = spark; import s.implicits._
    val rows = (1 to 100).map(i => (s"S${i % 10}", i.toLong)).toDF("symbol", "v")
    graft.core.Bucketing.writeBucketed(rows, "bkt_app", Seq("symbol"), 4)
    try {
      graft.core.Bucketing.appendBucketed(rows, "bkt_app", Seq("symbol"), 4)
      assert(spark.table("bkt_app").count() == 200)
    } finally spark.sql("DROP TABLE IF EXISTS bkt_app")
  }

  test("compact restores one file per bucket; the join then elides the in-bucket Sort") {
    val s = spark; import s.implicits._
    val rows = (1 to 100).map(i => (s"S${i % 10}", i.toLong)).toDF("symbol", "v")
    // an x37-style much-appended store: 3 generations of per-bucket files
    graft.core.Bucketing.writeBucketed(rows, "bkt_cmp_a", Seq("symbol"), 8)
    graft.core.Bucketing.appendBucketed(rows, "bkt_cmp_a", Seq("symbol"), 8)
    graft.core.Bucketing.appendBucketed(rows, "bkt_cmp_a", Seq("symbol"), 8)
    graft.core.Bucketing.writeBucketed(rows.withColumnRenamed("v", "w"),
      "bkt_cmp_b", Seq("symbol"), 8)
    try {
      def joined = spark.table("bkt_cmp_a")
        .join(spark.table("bkt_cmp_b").hint("merge"), "symbol")
      def sorts(df: org.apache.spark.sql.DataFrame) = {
        val root = df.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.initialPlan
          case p => p
        }
        assert(root.toString.contains("SortMergeJoin"))
        assert(!root.toString.contains("ShuffleExchange"),
          "bucketed join must not shuffle:\n" + root.toString.take(800))
        root.collect { case se: org.apache.spark.sql.execution.SortExec => se }
      }
      // pre-compaction: multi-file buckets → the scan cannot claim
      // per-bucket sortedness → SMJ inserts narrow in-bucket Sorts
      assert(sorts(joined).nonEmpty, "expected in-bucket Sorts before compaction")
      val expected = joined.count()
      graft.core.Bucketing.compact(spark, "bkt_cmp_a", Seq("symbol"), 8)
      graft.core.Bucketing.compact(spark, "bkt_cmp_b", Seq("symbol"), 8)
      // one file per bucket on the compacted store
      val loc = java.nio.file.Paths.get(new java.net.URI(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier("bkt_cmp_a")).location.toString))
      val ls = java.nio.file.Files.list(loc)
      val nf = try ls.toArray.count(_.toString.endsWith(".parquet")) finally ls.close()
      assert(nf <= 8, s"expected <= 8 files (one per bucket), got $nf")
      // post-compaction: with the scan allowed to derive per-bucket
      // sortedness (a planning-time file listing, off by default since
      // Spark 3 — worth it exactly on compacted stores, where it is
      // guaranteed to succeed), the in-bucket Sort is elided entirely
      val conf = "spark.sql.legacy.bucketedTableScan.outputOrdering"
      val prev = spark.conf.get(conf)
      spark.conf.set(conf, "true")
      try assert(sorts(joined).isEmpty,
        "in-bucket Sort should be elided after compaction")
      finally spark.conf.set(conf, prev)
      assert(joined.count() == expected) // contents unchanged (300 x 10 per key)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_cmp_a")
      spark.sql("DROP TABLE IF EXISTS bkt_cmp_b")
    }
  }

  test("a swap stranded between DROP and RENAME self-heals at the next compact entry") {
    val s = spark; import s.implicits._
    val rows = (1 to 100).map(i => (s"S${i % 10}", i.toLong)).toDF("symbol", "v")
    graft.core.Bucketing.writeBucketed(rows, "bkt_swp", Seq("symbol"), 4)
    try {
      // strand the crash window by hand: staging written, original
      // dropped, rename never ran — the on-disk state of a kill between
      // replaceBucketed's two catalog statements
      graft.core.Bucketing.writeBucketed(spark.table("bkt_swp"),
        "bkt_swp__compact", Seq("symbol"), 4)
      spark.sql("DROP TABLE `bkt_swp`")
      assert(!spark.catalog.tableExists("bkt_swp"))
      // re-entering compact completes the rename, then compacts normally
      graft.core.Bucketing.compact(spark, "bkt_swp", Seq("symbol"), 4)
      assert(spark.catalog.tableExists("bkt_swp"))
      assert(!spark.catalog.tableExists("bkt_swp__compact"))
      assert(spark.table("bkt_swp").as[(String, Long)].collect().sorted.toSeq ==
        rows.as[(String, Long)].collect().sorted.toSeq)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_swp")
      spark.sql("DROP TABLE IF EXISTS bkt_swp__compact")
    }
  }

  test("a stale staging table next to a live store is inert and gets overwritten by the next rewrite") {
    val s = spark; import s.implicits._
    val rows = (1 to 40).map(i => (s"S${i % 4}", i.toLong)).toDF("symbol", "v")
    graft.core.Bucketing.writeBucketed(rows, "bkt_stale", Seq("symbol"), 4)
    try {
      // crash AFTER the staging write, BEFORE the DROP: both tables live
      graft.core.Bucketing.writeBucketed(rows.limit(5), "bkt_stale__compact",
        Seq("symbol"), 4)
      // recoverSwap must NOT touch anything (the original is intact)
      assert(!graft.core.Bucketing.recoverSwap(spark, "bkt_stale"))
      assert(spark.table("bkt_stale").count() == 40)
      // the next rewrite overwrites the stale staging and swaps cleanly
      graft.core.Bucketing.compact(spark, "bkt_stale", Seq("symbol"), 4)
      assert(spark.table("bkt_stale").count() == 40)
      assert(!spark.catalog.tableExists("bkt_stale__compact"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_stale")
      spark.sql("DROP TABLE IF EXISTS bkt_stale__compact")
    }
  }

  test("inParallel: when both sides fail, the rethrown failure carries the other as suppressed") {
    spark // the session whose jobs inParallel tags
    val e = intercept[RuntimeException] {
      graft.core.Bucketing.inParallel(throw new IllegalStateException("left"),
        throw new IllegalArgumentException("right"))
    }
    assert(Set("left", "right")(e.getMessage))
    val other = if (e.getMessage == "left") "right" else "left"
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq(other),
      "the second failure must ride along, not be swallowed")
    assert(graft.core.Bucketing.inParallel(1 + 1, "b") == ((2, "b")))
  }

  test("inParallel: a failing side cancels its sibling's running job; both settle first") {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    def secs = (System.nanoTime() - t0) / 1e9
    val e = intercept[IllegalStateException] {
      graft.core.Bucketing.inParallel(
        {
          while (sc.statusTracker.getActiveJobIds().isEmpty && secs < 30)
            Thread.sleep(10)
          throw new IllegalStateException("left failed")
        },
        sc.parallelize(Seq(1), 1).foreach { _ =>
          val start = System.nanoTime()
          while (!org.apache.spark.TaskContext.get().isInterrupted() &&
              System.nanoTime() - start < 60e9) Thread.sleep(20)
        })
    }
    assert(e.getMessage == "left failed")
    assert(e.getSuppressed.length == 1,
      "the cancelled sibling settles and its failure rides along")
    assert(secs < 30, s"the sibling's job must be cancelled, not awaited ($secs s)")
  }
}

/** A-family percentiles: the approx sketch (the 100 TB path) must land
  * within its accuracy bound of the exact rank-formula percentile. */
class PercentileSpec extends SparkSpec {
  test("approx_percentile is within the KLL accuracy bound of exact p50/p90") {
    val s = spark; import s.implicits._
    val df = (1 to 20000).map(i => ((i * 7919) % 20011).toDouble).toDF("v")
    val Seq(a50, a90) = df.select(
      expr("approx_percentile(v, array(0.5, 0.9), 10000)")).collect()
      .head.getSeq[Double](0).toSeq
    val sorted = df.collect().map(_.getDouble(0)).sorted
    def exact(p: Double) = sorted(math.ceil(p * sorted.length).toInt - 1)
    // accuracy 10000 → rank error <= n/10000 = 2; allow the value delta
    // of a few ranks around a dense uniform domain
    assert(math.abs(a50 - exact(0.5)) <= 10.0, s"p50 $a50 vs ${exact(0.5)}")
    assert(math.abs(a90 - exact(0.9)) <= 10.0, s"p90 $a90 vs ${exact(0.9)}")
  }
}
