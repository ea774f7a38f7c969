package graft

import graft.streaming.EodStream
import org.apache.spark.sql.functions._
import java.sql.{Date, Timestamp}

/** SURVEY.md §2.9 / VERDICT item 10: the streaming variant must produce
  * the same warehouse state as batch runs, and the checkpoint must make
  * file processing exactly-once across restarts. */
class EodStreamSpec extends SparkSpec {
  private val ts1 = Timestamp.valueOf("2026-08-10 21:05:00")
  private val ts2 = Timestamp.valueOf("2026-08-11 21:05:00")
  private val d1 = Date.valueOf("2026-08-10")
  private val d2 = Date.valueOf("2026-08-11")

  private def snapshot(wh: String, table: String): Seq[Seq[Any]] = {
    val df = spark.read.parquet(s"$wh/$table")
    val cols = df.columns.filterNot(Seq("load_ts", "_ingest_ts").contains).sorted
    df.select(cols.map(col).toIndexedSeq: _*).collect()
      .map(_.toSeq).toSeq.sortBy(_.mkString("|"))
  }

  test("two micro-batches produce the same warehouse state as two batch runs") {
    val bronze = Fixtures.tempDir("bronze").toString
    val whStream = Fixtures.tempDir("whs").toString
    val whBatch = Fixtures.tempDir("whb").toString
    val ckpt = Fixtures.tempDir("ckpt").toString

    // batch reference: two dates through the batch entry point
    val f1 = Fixtures.writeStandard(bronze, "2026-08-10")
    val batchPipe = new EodPipeline(spark, whBatch)
    batchPipe.run(f1, d1, Some(ts1))

    // micro-batch 1: only the first file exists
    EodStream.start(spark, s"$bronze/eod/*/*/*/*.csv", whStream, ckpt, Some(ts1))
      .awaitTermination()

    // micro-batch 2: second date lands; same checkpoint → only new file
    val f2 = Fixtures.writeStandard(bronze, "2026-08-11")
    batchPipe.run(f2, d2, Some(ts2))
    EodStream.start(spark, s"$bronze/eod/*/*/*/*.csv", whStream, ckpt, Some(ts2))
      .awaitTermination()

    EodPipeline.AllTables.foreach { t =>
      assert(snapshot(whStream, t) == snapshot(whBatch, t),
        s"table $t differs between streaming and batch")
    }
  }

  test("restarting the stream with no new files is a no-op (exactly-once per file)") {
    val bronze = Fixtures.tempDir("bronze").toString
    val wh = Fixtures.tempDir("wh").toString
    val ckpt = Fixtures.tempDir("ckpt").toString
    Fixtures.writeStandard(bronze, "2026-08-10")

    EodStream.start(spark, s"$bronze/eod/*/*/*/*.csv", wh, ckpt, Some(ts1))
      .awaitTermination()
    val before = EodPipeline.AllTables.map(t => t -> snapshot(wh, t)).toMap

    EodStream.start(spark, s"$bronze/eod/*/*/*/*.csv", wh, ckpt, Some(ts2))
      .awaitTermination()
    EodPipeline.AllTables.foreach { t =>
      assert(snapshot(wh, t) == before(t), s"table $t changed on restart")
    }
  }

  test("maxFilesPerTrigger drains a backlog over several micro-batches to the same state") {
    val bronze = Fixtures.tempDir("bronze").toString
    val wh = Fixtures.tempDir("wh").toString
    val ckpt = Fixtures.tempDir("ckpt").toString
    Fixtures.writeStandard(bronze, "2026-08-10")
    Fixtures.writeStandard(bronze, "2026-08-11")

    // bound each micro-batch to one file → two cascades, two batches
    EodStream.start(spark, s"$bronze/eod/*/*/*/*.csv", wh, ckpt, Some(ts1),
        maxFilesPerTrigger = Some(1))
      .awaitTermination()
    val core = spark.read.parquet(s"$wh/${EodPipeline.CoreTable}")
    assert(core.count() == 10)
    assert(spark.read.parquet(s"$wh/${EodPipeline.FactTable}").count() == 10)
  }

  test("one micro-batch spanning two dates runs one cascade over both dates") {
    val bronze = Fixtures.tempDir("bronze").toString
    val wh = Fixtures.tempDir("wh").toString
    val ckpt = Fixtures.tempDir("ckpt").toString
    Fixtures.writeStandard(bronze, "2026-08-10")
    Fixtures.writeStandard(bronze, "2026-08-11")

    EodStream.start(spark, s"$bronze/eod/*/*/*/*.csv", wh, ckpt, Some(ts1))
      .awaitTermination()
    val core = spark.read.parquet(s"$wh/${EodPipeline.CoreTable}")
    assert(core.filter(col("trade_date") === lit(d1)).count() == 5)
    assert(core.filter(col("trade_date") === lit(d2)).count() == 5)
    assert(spark.read.parquet(s"$wh/${EodPipeline.DimDateTable}").count() == 2)
    // dim ids stay dense across the two dates of the one cascade
    val ids = spark.read.parquet(s"$wh/${EodPipeline.DimSecurityTable}")
      .orderBy("security_id").collect().map(_.getLong(0)).toSeq
    assert(ids == (1L to 5L))
  }
}
