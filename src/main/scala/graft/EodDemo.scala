package graft

import graft.ingest.RestEodSource
import graft.metrics.{Audit, SlackSink}
import graft.quality.Gates
import java.nio.file.Files
import java.sql.{Date, Timestamp}
import java.time.LocalDate

/** Runnable end-to-end demo of the complete reference flow: REST extract
  * (injected canned fetch — S1) with trading-day walk-back, JSON → typed
  * rows → staged bronze CSV, connectivity probe, the cascade run twice
  * (showing rerun idempotency), and the run summary posted through the
  * Slack sink seam (S11, recorder transport printing the POST).
  *
  *   sbt "runMain graft.EodDemo [workDir]"
  */
object EodDemo {
  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse(
      Files.createTempDirectory("graft-demo").toString)
    val cpus = graft.util.Sessions.harnessCores
    val spark = graft.util.Sessions.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val today = LocalDate.of(2026, 8, 10)
    val tradingDay = today.minusDays(1) // the walk-back target

    // S1: canned grouped-daily responses — "today" is dry (holiday shape),
    // the prior day carries rows incl. the reference's fault rows
    val rows = Seq(
      ("AAPL", "231.15", "233.90", "230.40", "233.10", "51234567"),
      ("MSFT", "410.00", "412.50", "408.20", "411.80", "23456789"),
      ("GOOG", "138.50", "139.90", "137.80", "139.20", "18765432"),
      ("NVDA", "1140.00", "1152.00", "1133.00", "1149.50", "34567890"),
      ("AAPL_X", "192.3", "195.6", "191.8", "194.1", "-1500000"),
      ("MSFT_X", "410.5", "415.2", "409.1", "412.4", "-760000"))
    val results = rows.map { case (t, o, h, l, c, v) =>
      s"""{"T": "$t", "o": $o, "h": $h, "l": $l, "c": $c, "v": $v}"""
    }.mkString(", ")
    val fetch: LocalDate => Option[String] = d =>
      if (d == tradingDay)
        Some(s"""{"resultsCount": ${rows.size}, "results": [$results], "status": "OK"}""")
      else Some("""{"resultsCount": 0, "results": [], "status": "OK"}""")

    val bronze = s"$work/bronze"
    val Some((resolved, csv)) = RestEodSource.extract(spark, bronze, today, 10)(fetch)
    println(s"[demo] resolved trading day $resolved (walked back from $today); staged: $csv")

    // connectivity probes (test_{aws,snowflake}_conn analogs) + file gate
    println(s"[demo] bronze root listable: ${Gates.warehouseReachable(spark, bronze)} entries")
    println(s"[demo] staged file size: ${Gates.requireFileExists(spark, csv)} bytes")

    val date = Date.valueOf(resolved)
    val ts = Timestamp.valueOf(resolved.atTime(21, 5))
    val pipe = new EodPipeline(spark, s"$work/warehouse")
    val r1 = pipe.run(csv, date, Some(ts))
    val r2 = pipe.run(csv, date, Some(ts))
    println("[demo] rerun (idempotent):\n" +
      Audit.formatSummary(date, Some(r2.pre), Some(r2.post)))

    // S11: the summary through the Slack sink seam (recorder transport)
    val sink = SlackSink.viaTransport(
      Some(SlackSink.webhookUrl("https", "hooks.slack.com/services", "T00/B00/demo")),
      (u, b) => println(s"[demo] slack POST $u\n[demo]   $b"))
    SlackSink.postSummary(sink, date, Some(r1.pre), Some(r1.post))

    println(s"[demo] warehouse at $work/warehouse:")
    EodPipeline.AllTables.foreach { t =>
      println(f"[demo]   $t%-24s ${spark.read.parquet(s"$work/warehouse/$t").count()}%6d rows")
    }
    spark.stop()
  }
}
