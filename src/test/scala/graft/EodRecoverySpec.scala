package graft

import graft.EodPipeline._
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Path}
import java.sql.{Date, Timestamp}

/** Crash drills at each commit point of the EOD cascade. `runDates`
  * commits its tables one at a time, in a fixed order; a crash between
  * two commits leaves the tables up to the last commit from the new run
  * and the others as they were before it. Over several dates a
  * date-partitioned table commits one rename per date partition, so a
  * crash inside its commit can leave some dates' partitions new and the
  * others as before. Each drill builds such an on-disk state from the
  * tables of a finished run and of the warehouse before it, re-runs the
  * same delivery, and requires every table to equal one clean run's
  * (rows compared whole, lineage and load timestamps left out). */
class EodRecoverySpec extends SparkSpec {
  private val d0 = Date.valueOf("2026-08-10")
  private val d1 = Date.valueOf("2026-08-11")
  private val d2 = Date.valueOf("2026-08-12")
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

  private def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val walk = Files.walk(root)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    finally walk.close()
  }

  /** The crash state of a run: each table from the finished run
    * (`clean`) or from the warehouse before it (`before`). */
  private type CrashState = (Path, Path, Path) => Unit

  /** Crashed after the commit of `CommitOrder(k)`. */
  private def afterCommit(k: Int): CrashState = (clean, before, wh) =>
    CommitOrder.zipWithIndex.foreach { case (t, i) =>
      copyTree((if (i <= k) clean else before).resolve(t), wh.resolve(t))
    }

  /** Crashed inside the commit of date-partitioned `table`, when only the
    * partition of `d` had landed. */
  private def insideCommit(table: String, d: Date): CrashState = (clean, before, wh) => {
    afterCommit(CommitOrder.indexOf(table) - 1)(clean, before, wh)
    val part = s"trade_date=$d"
    deleteTree(wh.resolve(table).resolve(part))
    copyTree(clean.resolve(table).resolve(part), wh.resolve(table).resolve(part))
  }

  /** Run `delivery` over a warehouse that `setUp` fills, then, for each
    * named crash state, build that state and re-run `delivery` over it. */
  private def drillStates(setUp: EodPipeline => Unit, delivery: EodPipeline => Unit,
                          crashes: Seq[(String, CrashState)]): Unit = {
    val clean = Fixtures.tempDir("eod-drill-clean")
    val pipe = new EodPipeline(spark, clean.toString)
    setUp(pipe)
    val before = Fixtures.tempDir("eod-drill-before")
    CommitOrder.foreach(t => copyTree(clean.resolve(t), before.resolve(t)))
    delivery(pipe)
    val want = CommitOrder.map(t => t -> snapshot(clean, t)).toMap

    crashes.foreach { case (name, state) =>
      val wh = Fixtures.tempDir("eod-drill-crash")
      state(clean, before, wh)
      delivery(new EodPipeline(spark, wh.toString))
      CommitOrder.foreach { t =>
        assert(snapshot(wh, t) == want(t), s"crash $name: $t differs from a clean run")
      }
    }
  }

  /** Crash `delivery` (csv, ingest ts) of `d1` after each commit but the
    * last, over a warehouse that `setUp` fills, and re-run it. */
  private def drill(setUp: EodPipeline => Unit, delivery: (String, Option[Timestamp])): Unit = {
    val (csv, ingestTs) = delivery
    drillStates(setUp, _.run(csv, d1, ingestTs), CommitOrder.init.indices.map(k =>
      s"after the ${CommitOrder(k)} commit" -> afterCommit(k)))
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

  test("a two-date batch re-run after a crash at any commit, or inside a date-partitioned one, equals one clean run") {
    val bronze = Fixtures.tempDir("eod-drill-bronze-2").toString
    val prior = Fixtures.writeStandard(bronze, "2026-08-10")
    val first = firstDelivery(bronze)
    // a correction of d1 (revised AAPL, new ticker ZZZ, a new and a
    // repeated reject key) and the first delivery of d2, whose new ticker
    // ABC sorts before ZZZ
    val correction = Fixtures.writeBronze(bronze, "2026-08-11", Seq(
      "2026-08-11,AAPL,231.15,233.90,230.40,240.00,51234567",
      "2026-08-11,ZZZ,10.00,11.00,9.50,10.50,1000",
      "2026-08-11,BAD_Y,1.00,1.00,1.00,1.00,-5",
      "2026-08-11,AAPL_X,1.00,1.00,1.00,1.00,-7"), "eod_prices_2026-08-11_corr.csv")
    val next = Fixtures.writeBronze(bronze, "2026-08-12", Fixtures.goodRows("2026-08-12") ++
      Fixtures.badRows("2026-08-12") :+ "2026-08-12,ABC,20.00,21.00,19.50,20.50,5000")
    def batch = Seq(correction, next)
      .map(graft.ingest.EodCsvSource.read(spark, _, ts(11))).reduce(_ unionByName _)
    val inside = for (t <- Seq(RawTable, RejectTable, CoreTable); d <- Seq(d1, d2))
      yield s"inside the $t commit with only $d landed" -> insideCommit(t, d)
    drillStates({ p => p.run(prior, d0, ts(9)); p.run(first, d1, ts(10)) },
      _.runDates(batch, Seq(d1, d2), ts(11)),
      CommitOrder.init.indices.map(k => s"after the ${CommitOrder(k)} commit" -> afterCommit(k)) ++ inside)
  }
}
