package graft

import java.nio.file.{Files, Path, Paths}

/** FIXTURES.md §A generator: bronze CSVs in the exact layout written by
  * the reference's extract (`dags/lib/eod_data_downloader.py:52-61`),
  * including its 10 mandatory negative-volume fault rows verbatim
  * (`eod_data_downloader.py:65-76`), duplicate-key rows, mixed-case /
  * padded symbols, an empty-field row, and a second trading date. */
object Fixtures {

  val header = "trade_date,symbol,open,high,low,close,volume"

  /** The reference's 10 injected bad rows (negative volumes), verbatim. */
  def badRows(date: String): Seq[String] = Seq(
    s"$date,AAPL_X,192.3,195.6,191.8,194.1,-1500000",
    s"$date,GOOGL_X,138.2,140.5,137.6,139.8,-980000",
    s"$date,MSFT_X,410.5,415.2,409.1,412.4,-760000",
    s"$date,AMZN_X,171.8,175.0,170.4,174.2,-620000",
    s"$date,TSLA_X,252.9,258.3,251.7,257.5,-840000",
    s"$date,META_X,465.7,472.2,463.8,471.0,-540000",
    s"$date,NFLX_X,600.1,610.8,598.5,609.2,-430000",
    s"$date,NVDA_X,1135.6,1150.3,1130.1,1147.9,-890000",
    s"$date,INTC_X,43.2,44.0,42.9,43.8,-350000",
    s"$date,IBM_TEST,185.7,188.9,184.8,187.3,-270000")

  /** Good rows for a date: 5 clean symbols, a duplicate (symbol, date)
    * pair with different prices (latest-wins fodder), mixed-case and
    * whitespace-padded variants of the same symbol (normalization
    * fodder), and one row with an empty (null) close. */
  def goodRows(date: String): Seq[String] = Seq(
    s"$date,AAPL,231.15,233.90,230.40,233.10,51234567",
    s"$date,MSFT,410.00,412.50,408.20,411.80,23456789",
    s"$date,GOOG,138.50,139.90,137.80,139.20,18765432",
    s"$date,NVDA,1140.00,1152.00,1133.00,1149.50,34567890",
    s"$date,IBM,186.00,188.00,185.00,187.50,7654321",
    s"$date,AAPL,230.00,232.00,229.00,231.00,50000000", // dup key, same file
    s"$date, msft ,409.00,411.00,407.00,410.00,23000000", // normalizes to MSFT
    s"$date,TSLA,252.00,258.00,251.00,257.00,")           // null volume

  /** Write one bronze CSV under the reference's date-partitioned layout
    * `.../eod/yyyy/MM/dd/eod_prices_<date>.csv`; returns the file path. */
  def writeBronze(baseDir: String, date: String,
                  rows: Seq[String], fileName: String = ""): String = {
    val Array(y, m, d) = date.split("-")
    val dir = Paths.get(baseDir, "eod", y, m, d)
    Files.createDirectories(dir)
    val name = if (fileName.nonEmpty) fileName else s"eod_prices_$date.csv"
    val f = dir.resolve(name)
    Files.writeString(f, (header +: rows).mkString("\n"))
    f.toString
  }

  /** Full standard fixture for a date: good + the 10 mandatory bad rows. */
  def writeStandard(baseDir: String, date: String): String =
    writeBronze(baseDir, date, goodRows(date) ++ badRows(date))

  /** A fresh temp directory, deleted when the test JVM exits. */
  def tempDir(prefix: String): Path = graft.util.Staging.exitScopedRoot(prefix)
}
