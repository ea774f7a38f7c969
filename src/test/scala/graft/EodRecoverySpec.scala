package graft

import graft.EodPipeline._
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Path}
import java.sql.{Date, Timestamp}

/** Crash drills at each commit point of the EOD cascade. `runBatch`
  * commits its tables one at a time, in a fixed order; a crash between
  * two commits leaves the tables up to the last commit from the new run
  * and the others as they were before it. Each drill builds that
  * on-disk state from the tables of a finished run and of the warehouse
  * before it, re-runs the same delivery, and requires every table to
  * equal one clean run's (rows compared whole, lineage and load
  * timestamps left out). */
class EodRecoverySpec extends SparkSpec {
  private val d0 = Date.valueOf("2026-08-10")
  private val d1 = Date.valueOf("2026-08-11")
  private def ts(h: Int) = Some(Timestamp.valueOf(s"2026-08-11 $h:00:00"))

  /** The tables in the order the cascade commits them. */
  private val CommitOrder = Seq(RawTable, RejectTable, CoreTable,
    DimSecurityTable, DimDateTable, FactTable)

  private def snapshot(wh: Path, table: String): Seq[String] = {
    val df = spark.read.parquet(wh.resolve(table).toString)
    val cols = df.columns.filterNot(Seq("load_ts", "_ingest_ts").contains).sorted
    df.select(cols.map(col).toIndexedSeq: _*).collect().map(_.mkString("|")).toSeq.sorted
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    } finally walk.close()
  }

  /** Crash `delivery` (csv, ingest ts) of `d1` after each commit but the
    * last, over a warehouse that `setUp` fills, and re-run it. */
  private def drill(setUp: EodPipeline => Unit, delivery: (String, Option[Timestamp])): Unit = {
    val (csv, ingestTs) = delivery
    val clean = Fixtures.tempDir("eod-drill-clean")
    val pipe = new EodPipeline(spark, clean.toString)
    setUp(pipe)
    val before = Fixtures.tempDir("eod-drill-before")
    CommitOrder.foreach(t => copyTree(clean.resolve(t), before.resolve(t)))
    pipe.run(csv, d1, ingestTs)
    val want = CommitOrder.map(t => t -> snapshot(clean, t)).toMap

    CommitOrder.init.indices.foreach { k =>
      val wh = Fixtures.tempDir("eod-drill-crash")
      CommitOrder.zipWithIndex.foreach { case (t, i) =>
        copyTree((if (i <= k) clean else before).resolve(t), wh.resolve(t))
      }
      new EodPipeline(spark, wh.toString).run(csv, d1, ingestTs)
      CommitOrder.foreach { t =>
        assert(snapshot(wh, t) == want(t),
          s"crash after the ${CommitOrder(k)} commit: $t differs from a clean run")
      }
    }
  }

  private def firstDelivery(bronze: String): String =
    Fixtures.writeBronze(bronze, "2026-08-11",
      Fixtures.goodRows("2026-08-11") ++ Fixtures.badRows("2026-08-11") :+
        "2026-08-11,AMD,160.00,162.00,158.00,161.00,9999999")

  test("a first delivery of a date re-run after a crash at any commit equals one clean run") {
    val bronze = Fixtures.tempDir("eod-drill-bronze").toString
    val prior = Fixtures.writeStandard(bronze, "2026-08-10")
    // the date brings a new ticker (AMD), so every table gains rows
    drill(_.run(prior, d0, ts(9)), (firstDelivery(bronze), ts(10)))
  }

  test("a correcting delivery of a date re-run after a crash at any commit equals one clean run") {
    val bronze = Fixtures.tempDir("eod-drill-bronze-c").toString
    val prior = Fixtures.writeStandard(bronze, "2026-08-10")
    val first = firstDelivery(bronze)
    // revised AAPL close, a new ticker, a new reject key, and a repeated
    // reject key that the insert-only REJECT must not take again
    val correction = Fixtures.writeBronze(bronze, "2026-08-11", Seq(
      "2026-08-11,AAPL,231.15,233.90,230.40,240.00,51234567",
      "2026-08-11,ZZZ,10.00,11.00,9.50,10.50,1000",
      "2026-08-11,BAD_Y,1.00,1.00,1.00,1.00,-5",
      "2026-08-11,AAPL_X,1.00,1.00,1.00,1.00,-7"), "eod_prices_2026-08-11_corr.csv")
    drill({ p => p.run(prior, d0, ts(9)); p.run(first, d1, ts(10)) }, (correction, ts(11)))
  }
}
