package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.sql.{Date, Timestamp}

/** End-to-end cascade test (SURVEY.md §3.1 / VERDICT item 7): the FIXTURES
  * §A bronze CSVs through `EodPipeline.run`, twice, asserting layer counts
  * and rerun idempotency on non-timestamp columns. */
class EodPipelineSpec extends SparkSpec {
  private val ts1 = Timestamp.valueOf("2026-08-10 21:05:00")
  private val ts2 = Timestamp.valueOf("2026-08-11 21:05:00")
  private val d1 = Date.valueOf("2026-08-10")
  private val d2 = Date.valueOf("2026-08-11")

  private def snapshot(wh: String, table: String, dropCols: Seq[String]): Seq[Seq[Any]] = {
    val df = spark.read.parquet(s"$wh/$table")
    val cols = df.columns.filterNot(dropCols.contains).sorted
    df.select(cols.map(col).toIndexedSeq: _*).collect()
      .map(_.toSeq).toSeq.sortBy(_.mkString("|"))
  }

  test("unparseable-key rows surface as the Q1 skipped count and never load") {
    val bronze = Fixtures.tempDir("bronze-skip")
    val wh = Fixtures.tempDir("wh-skip").toString
    val csv = bronze.resolve("eod.csv")
    java.nio.file.Files.writeString(csv,
      """trade_date,symbol,open,high,low,close,volume
        |2026-08-10,AAPL,1.00,2.00,0.50,1.50,100
        |not-a-date,MSFT,1.00,2.00,0.50,1.50,100
        |2026-08-10,,1.00,2.00,0.50,1.50,100
        |""".stripMargin)
    val r = new EodPipeline(spark, wh).run(csv.toString, d1, Some(ts1))
    assert(r.pre.skippedCnt == 2)  // bad date + empty symbol
    assert(r.pre.rawCnt == 1)      // only AAPL loads
    assert(spark.read.parquet(s"$wh/${EodPipeline.RawTable}").count() == 1)
  }

  test("two dates through the cascade: layer counts, rejects, dims, fact") {
    val bronze = Fixtures.tempDir("bronze").toString
    val wh = Fixtures.tempDir("wh").toString
    val pipe = new EodPipeline(spark, wh)

    val r1 = pipe.run(Fixtures.writeStandard(bronze, "2026-08-10"), d1, Some(ts1))
    // 8 good rows (1 null-volume still valid) + 10 bad = 18 raw
    assert(r1.pre.rawCnt == 18 && r1.pre.rejectCnt == 10)
    // the standard fixture has no unparseable-key rows: loader skip = 0
    assert(r1.pre.skippedCnt == 0)
    // distinct valid keys: AAPL(+dup), MSFT(+" msft "), GOOG, NVDA, IBM → 5
    // (TSLA has null volume → satisfies neither >= 0 nor < 0 → dropped,
    // exactly the reference's three-valued-logic behavior)
    assert(r1.pre.estInserts == 5 && r1.pre.estUpdates == 0)
    assert(r1.post.coreRows == 5 && r1.post.factRows == 5)

    val raw = spark.read.parquet(s"$wh/${EodPipeline.RawTable}")
    assert(raw.count() == 18)
    val rejects = spark.read.parquet(s"$wh/${EodPipeline.RejectTable}")
    assert(rejects.count() == 10)
    assert(rejects.select("reject_reason").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("NEGATIVE_VOLUME"))

    // latest-wins dedup: AAPL keeps one row; normalization: MSFT merged
    val core = spark.read.parquet(s"$wh/${EodPipeline.CoreTable}")
    assert(core.filter(col("symbol") === "AAPL").count() == 1)
    assert(core.filter(col("symbol") === "MSFT").count() == 1)

    // dim_security: dense gap-free ids 1..5, normalized symbols only
    val dim = spark.read.parquet(s"$wh/${EodPipeline.DimSecurityTable}")
    val ids = dim.orderBy("security_id").collect().map(_.getLong(0)).toSeq
    assert(ids == (1L to 5L))
    assert(!dim.collect().map(_.getString(1)).exists(s => s != s.trim || s != s.toUpperCase))

    // second date: dims grow insert-only, ids stay dense
    val r2 = pipe.run(Fixtures.writeStandard(bronze, "2026-08-11"), d2, Some(ts2))
    assert(r2.pre.estInserts == 5 && r2.pre.estUpdates == 0) // new date = new keys
    val dim2 = spark.read.parquet(s"$wh/${EodPipeline.DimSecurityTable}")
    assert(dim2.count() == 5) // same 5 symbols, no growth
    val dimDate = spark.read.parquet(s"$wh/${EodPipeline.DimDateTable}")
    assert(dimDate.count() == 2)
    assert(spark.read.parquet(s"$wh/${EodPipeline.FactTable}").count() == 10)
    // first date's partitions untouched by the second run
    assert(spark.read.parquet(s"$wh/${EodPipeline.CoreTable}")
      .filter(col("trade_date") === lit(d1)).count() == 5)
  }

  test("rerun of the same date is idempotent on every layer (non-ts columns)") {
    val bronze = Fixtures.tempDir("bronze").toString
    val wh = Fixtures.tempDir("wh").toString
    val pipe = new EodPipeline(spark, wh)
    val csv = Fixtures.writeStandard(bronze, "2026-08-10")

    pipe.run(csv, d1, Some(ts1))
    val before = EodPipeline.AllTables.map(t =>
      t -> snapshot(wh, t, Seq("load_ts", "_ingest_ts"))).toMap

    val r2 = pipe.run(csv, d1, Some(ts2)) // same file, later ingest ts
    assert(r2.pre.estInserts == 0 && r2.pre.estUpdates == 5)
    EodPipeline.AllTables.foreach { t =>
      assert(snapshot(wh, t, Seq("load_ts", "_ingest_ts")) == before(t),
        s"table $t changed on rerun")
    }
  }

  test("a second bronze file for the same date appends to RAW and upserts CORE") {
    val bronze = Fixtures.tempDir("bronze").toString
    val wh = Fixtures.tempDir("wh").toString
    val pipe = new EodPipeline(spark, wh)

    pipe.run(Fixtures.writeStandard(bronze, "2026-08-10"), d1, Some(ts1))
    // late correction file: revised AAPL close + one new symbol
    val late = Fixtures.writeBronze(bronze, "2026-08-10", Seq(
      "2026-08-10,AAPL,231.15,233.90,230.40,240.00,51234567",
      "2026-08-10,AMD,160.00,162.00,158.00,161.00,9999999"),
      "eod_prices_2026-08-10_corr.csv")
    val r2 = pipe.run(late, d1, Some(ts2))
    assert(r2.pre.estInserts == 1 && r2.pre.estUpdates == 1)

    // RAW keeps BOTH files' rows for the date (append-only lineage)
    val raw = spark.read.parquet(s"$wh/${EodPipeline.RawTable}")
    assert(raw.count() == 20)
    assert(raw.select("_src_file").distinct().count() == 2)

    // CORE: AAPL updated to the correction, AMD inserted
    val core = spark.read.parquet(s"$wh/${EodPipeline.CoreTable}")
    assert(core.count() == 6)
    assert(core.filter(col("symbol") === "AAPL").select("close")
      .collect().head.getDecimal(0).doubleValue() == 240.0)
    assert(spark.read.parquet(s"$wh/${EodPipeline.FactTable}").count() == 6)
  }

  test("forceReload=true reproduces the reference's FORCE=TRUE blind append") {
    val bronze = Fixtures.tempDir("bronze").toString
    val wh = Fixtures.tempDir("wh").toString
    val pipe = new EodPipeline(spark, wh)
    val csv = Fixtures.writeStandard(bronze, "2026-08-10")

    pipe.run(csv, d1, Some(ts1), forceReload = true)
    pipe.run(csv, d1, Some(ts2), forceReload = true)
    // RAW duplicates (reference semantics)...
    assert(spark.read.parquet(s"$wh/${EodPipeline.RawTable}").count() == 36)
    // ...while CORE stays deduped/idempotent downstream
    assert(spark.read.parquet(s"$wh/${EodPipeline.CoreTable}").count() == 5)
  }

  test("one runDates pass over two dates equals runBatch of each date in date order") {
    val bronze = Fixtures.tempDir("bronze-dates").toString
    val first = Fixtures.writeStandard(bronze, "2026-08-10")
    // a correction of d1 bringing ZZZ, and the first delivery of d2
    // bringing AMD, which sorts before ZZZ: ids follow the dates, so ZZZ
    // must take id 6 and AMD id 7
    val corr = Fixtures.writeBronze(bronze, "2026-08-10", Seq(
      "2026-08-10,AAPL,231.15,233.90,230.40,240.00,51234567",
      "2026-08-10,ZZZ,10.00,11.00,9.50,10.50,1000",
      "2026-08-10,BAD_Y,1.00,1.00,1.00,1.00,-5"), "eod_prices_2026-08-10_corr.csv")
    val next = Fixtures.writeBronze(bronze, "2026-08-11", Fixtures.goodRows("2026-08-11") ++
      Fixtures.badRows("2026-08-11") :+ "2026-08-11,AMD,160.00,162.00,158.00,161.00,9999999")
    def read(csv: String) = graft.ingest.EodCsvSource.read(spark, csv, Some(ts2))

    val whSeq = Fixtures.tempDir("wh-seq").toString
    val seq = new EodPipeline(spark, whSeq)
    seq.run(first, d1, Some(ts1))
    val one = Seq(seq.runBatch(read(corr), d1, Some(ts2)), seq.runBatch(read(next), d2, Some(ts2)))

    val whSet = Fixtures.tempDir("wh-set").toString
    val set = new EodPipeline(spark, whSet)
    set.run(first, d1, Some(ts1))
    val all = set.runDates(read(corr).unionByName(read(next)), Seq(d1, d2), Some(ts2))

    assert(all == one)
    EodPipeline.AllTables.foreach { t =>
      assert(snapshot(whSet, t, Seq("load_ts", "_ingest_ts")) ==
        snapshot(whSeq, t, Seq("load_ts", "_ingest_ts")), s"table $t differs")
    }
    val ids = spark.read.parquet(s"$whSet/${EodPipeline.DimSecurityTable}")
      .filter(col("symbol").isin("ZZZ", "AMD")).orderBy("security_id")
      .collect().map(r => r.getString(1) -> r.getLong(0)).toSeq
    assert(ids == Seq("ZZZ" -> 6L, "AMD" -> 7L))
  }

  test("empty batch for the run date fails the load gate") {
    val bronze = Fixtures.tempDir("bronze").toString
    val wh = Fixtures.tempDir("wh").toString
    val pipe = new EodPipeline(spark, wh)
    val csv = Fixtures.writeStandard(bronze, "2026-08-10")
    intercept[graft.quality.GateFailed] {
      pipe.run(csv, Date.valueOf("2026-08-12"), Some(ts1)) // no rows for date
    }
  }
}
