package graft.queries

import java.nio.file.Files

import graft.EodPipeline
import graft.core.{Bucketing, Dedup, Upsert}
import graft.dim.Scd2
import graft.util.Staging
import graft.util.Tables._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end cascade check (SURVEY.md §3.1; M2/M5 through the PIPELINE
  * code path, not the operator proxies): two bronze files with
  * overlapping keys for one trading date run through the REAL
  * `EodPipeline` cascade (typed scan → load history → reject split →
  * normalize → latest-wins dedup → CORE upsert → dim merges → fact
  * build), and the resulting fact partition is compared against a DuckDB
  * oracle that replicates the whole composition from the same literal
  * rows (reference `4. merge_core.sql` + `5. merge_dim_security.sql` +
  * `7. merge_fact_daily_price.sql`).
  *
  * The fixture is self-contained (the query writes its two bronze CSVs
  * to a fresh temp dir and runs the pipeline against a temp warehouse —
  * driver-side setup IO, one date's slice, exactly the per-day envelope
  * the reference runs at). Rows exercise: duplicate key in one file
  * (dedup tie broken by the rest-columns ordering), case/whitespace
  * symbol variants (normalization), a null-volume row (three-valued
  * split: neither CORE nor reject), negative volumes (reject), an
  * overlapping-key second file (upsert source-wins), and a brand-new
  * symbol in file 2 (dim id continues from MAX). `load_ts` is excluded
  * from the checked columns (lineage, nondeterministic by design —
  * SURVEY.md §2.5 note).
  */
object PipelineQueries {

  private val D = "1997-06-15"
  private val header = "trade_date,symbol,open,high,low,close,volume"

  /** File 1: clean rows + dup key + case variants + null volume + two of
    * the reference's verbatim fault rows (`eod_data_downloader.py:65-76`). */
  private val file1Rows = Seq(
    s"$D,AAPL,231.15,233.90,230.40,233.10,51234567",
    s"$D,MSFT,410.00,412.50,408.20,411.80,23456789",
    s"$D,GOOG,138.50,139.90,137.80,139.20,18765432",
    s"$D,NVDA,1140.00,1152.00,1133.00,1149.50,34567890",
    s"$D,IBM,186.00,188.00,185.00,187.50,7654321",
    s"$D,AAPL,230.00,232.00,229.00,231.00,50000000", // dup key, same file
    s"$D, msft ,409.00,411.00,407.00,410.00,23000000", // normalizes to MSFT
    s"$D,TSLA,252.00,258.00,251.00,257.00,",            // null volume: neither branch
    s"$D,AAPL_X,192.3,195.6,191.8,194.1,-1500000",      // reject
    s"$D,GOOGL_X,138.2,140.5,137.6,139.8,-980000")      // reject

  /** File 2, same date: updates for AAPL/MSFT, a new symbol, a reject. */
  private val file2Rows = Seq(
    s"$D,AAPL,232.00,234.50,231.00,234.00,52000000",
    s"$D,MSFT,411.00,413.00,409.00,412.00,24000000",
    s"$D,ORCL,55.10,56.20,54.80,56.00,9876543",
    s"$D,BAD_X,10.00,11.00,9.00,10.50,-1000")           // reject

  /** Write the two fixture files into `dir`, returning their paths
    * (file1 first — its mtime is set older so the streaming file source
    * also picks it up first). */
  private def writeFixtureFiles(dir: java.nio.file.Path): (String, String) = {
    def write(name: String, rows: Seq[String], mtimeMs: Long): String = {
      val f = dir.resolve(name)
      Files.writeString(f, (header +: rows).mkString("\n"))
      Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
      f.toString
    }
    (write(s"eod_prices_$D.csv", file1Rows, 1000000000000L),
      write(s"eod_prices_${D}_v2.csv", file2Rows, 1000000060000L))
  }

  /** The checked view of the cascade's warehouse output: fact ⋈ dim.
    * Warehouse columns are DECIMAL (exact storage); the CHECKED view
    * casts to DOUBLE/BIGINT — oracle-visible decimals stringify
    * differently across engines (see Q's determinism contract). The
    * decimal→double conversion is correctly rounded in both engines
    * (scaled ints ≪ 2⁵³ here). */
  private def checkedFact(s: org.apache.spark.sql.SparkSession,
                          wh: java.nio.file.Path): DataFrame = {
    val fact = s.read.parquet(wh.resolve(EodPipeline.FactTable).toString)
    val dim = s.read.parquet(wh.resolve(EodPipeline.DimSecurityTable).toString)
    fact.join(broadcast(dim), "security_id")
      .select(col("security_id"), col("symbol"), col("date_sk"),
        col("trade_date"), col("open").cast("double").as("open"),
        col("high").cast("double").as("high"),
        col("low").cast("double").as("low"),
        col("close").cast("double").as("close"),
        col("volume").cast("long").as("volume"))
      .orderBy("symbol")
  }

  private val q28 = Q("q28_pipeline_cascade",
    (s, _) => {
      val tmp = Staging.exitScopedRoot("graft_q28_")
      val (f1, f2) = writeFixtureFiles(tmp)
      val p = new EodPipeline(s, tmp.resolve("wh").toString)
      val date = java.sql.Date.valueOf(D)
      p.run(f1, date, Some(java.sql.Timestamp.valueOf(s"$D 21:00:00")))
      p.run(f2, date, Some(java.sql.Timestamp.valueOf(s"$D 22:00:00")))
      checkedFact(s, tmp.resolve("wh"))
    },
    Some(cascadeOracle))

  /** §2.9: the STREAMING cascade twin of q28 — the same two bronze files
    * arrive through [[graft.streaming.EodStream]]'s file source
    * (`maxFilesPerTrigger=1`, so each file is its own micro-batch in
    * mtime order, exactly the reference's one-scheduled-run-per-file
    * cadence) and run the UNCHANGED per-date merge cascade via
    * `foreachBatch`. Checked against the SAME oracle as q28: batch and
    * streaming execution must land the identical warehouse state —
    * upserted exactly once per key, dim ids continuing from MAX across
    * micro-batches. Like q28 this is a correctness fixture (dozens of
    * tiny jobs), so it is excluded from the bench. */
  private val q35 = Q("q35_stream_cascade",
    (s, _) => {
      val tmp = Staging.exitScopedRoot("graft_q35_")
      val bronze = Files.createDirectories(tmp.resolve("bronze"))
      writeFixtureFiles(bronze)
      val job = graft.streaming.EodStream.start(s,
        bronze.toString + "/*.csv",
        tmp.resolve("wh").toString, tmp.resolve("chk").toString,
        ingestTs = Some(java.sql.Timestamp.valueOf(s"$D 21:00:00")),
        maxFilesPerTrigger = Some(1))
      job.awaitTermination()
      checkedFact(s, tmp.resolve("wh"))
    },
    Some(cascadeOracle))

  // The same cascade in DuckDB SQL from the same literal rows (shared by
  // q28 and its streaming twin q35 — both must land the identical
  // warehouse state). The within-file dedup ordering is
  // Dedup.latestIngestWins's total order: (_ingest_ts, _src_file) are
  // constant within a file, so the effective tie-break is the remaining
  // columns descending in name order: close, high, low, open, volume.
  private lazy val cascadeOracle =
    s"""WITH f1(symbol, open, high, low, close, volume) AS (VALUES
              ('AAPL','231.15','233.90','230.40','233.10','51234567'),
              ('MSFT','410.00','412.50','408.20','411.80','23456789'),
              ('GOOG','138.50','139.90','137.80','139.20','18765432'),
              ('NVDA','1140.00','1152.00','1133.00','1149.50','34567890'),
              ('IBM','186.00','188.00','185.00','187.50','7654321'),
              ('AAPL','230.00','232.00','229.00','231.00','50000000'),
              (' msft ','409.00','411.00','407.00','410.00','23000000'),
              ('TSLA','252.00','258.00','251.00','257.00',NULL),
              ('AAPL_X','192.3','195.6','191.8','194.1','-1500000'),
              ('GOOGL_X','138.2','140.5','137.6','139.8','-980000')),
            f2(symbol, open, high, low, close, volume) AS (VALUES
              ('AAPL','232.00','234.50','231.00','234.00','52000000'),
              ('MSFT','411.00','413.00','409.00','412.00','24000000'),
              ('ORCL','55.10','56.20','54.80','56.00','9876543'),
              ('BAD_X','10.00','11.00','9.00','10.50','-1000')),
            t1 AS (SELECT upper(trim(symbol)) AS symbol,
                          CAST(open AS DECIMAL(18,6)) AS open,
                          CAST(high AS DECIMAL(18,6)) AS high,
                          CAST(low AS DECIMAL(18,6)) AS low,
                          CAST(close AS DECIMAL(18,6)) AS close,
                          CAST(volume AS DECIMAL(38,0)) AS volume
                   FROM f1 WHERE CAST(volume AS DECIMAL(38,0)) >= 0),
            t2 AS (SELECT upper(trim(symbol)) AS symbol,
                          CAST(open AS DECIMAL(18,6)) AS open,
                          CAST(high AS DECIMAL(18,6)) AS high,
                          CAST(low AS DECIMAL(18,6)) AS low,
                          CAST(close AS DECIMAL(18,6)) AS close,
                          CAST(volume AS DECIMAL(38,0)) AS volume
                   FROM f2 WHERE CAST(volume AS DECIMAL(38,0)) >= 0),
            d1 AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY symbol
                     ORDER BY close DESC, high DESC, low DESC, open DESC, volume DESC) AS rn
                   FROM t1) WHERE rn = 1),
            d2 AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY symbol
                     ORDER BY close DESC, high DESC, low DESC, open DESC, volume DESC) AS rn
                   FROM t2) WHERE rn = 1),
            core AS (SELECT symbol, open, high, low, close, volume FROM d2
                     UNION ALL
                     SELECT symbol, open, high, low, close, volume FROM d1
                     WHERE symbol NOT IN (SELECT symbol FROM d2)),
            dim1 AS (SELECT CAST(row_number() OVER (ORDER BY symbol) AS BIGINT) AS security_id,
                            symbol
                     FROM (SELECT DISTINCT symbol FROM d1)),
            dim2 AS (SELECT security_id, symbol FROM dim1
                     UNION ALL
                     SELECT CAST(row_number() OVER (ORDER BY symbol)
                              + (SELECT max(security_id) FROM dim1) AS BIGINT), symbol
                     FROM (SELECT DISTINCT symbol FROM d2
                           WHERE symbol NOT IN (SELECT symbol FROM dim1)))
            SELECT dim2.security_id, core.symbol,
                   CAST(19970615 AS INT) AS date_sk,
                   DATE '$D' AS trade_date,
                   CAST(core.open AS DOUBLE) AS open,
                   CAST(core.high AS DOUBLE) AS high,
                   CAST(core.low AS DOUBLE) AS low,
                   CAST(core.close AS DOUBLE) AS close,
                   CAST(core.volume AS BIGINT) AS volume
            FROM core JOIN dim2 ON core.symbol = dim2.symbol
            ORDER BY core.symbol"""

  private def qdbl2(c: Column): Column = graft.sa.Analytics.qdbl2(c)
  private val cutoff = java.sql.Date.valueOf("1998-01-01")

  /** M2 at data scale, bench-tracked: the full-table upsert MERGE
    * (reference `4. merge_core.sql:53-96`) as ONE data-proportional
    * query — target = the whole orders table, source = a restated slice
    * (every order from the cutoff on, with a price adjustment), merged
    * on the unique order key via [[Upsert.merge]] (anti-join + union,
    * exactly the M2 shape q10 checks on the latest-per-customer
    * embodiment). q28 checks the same operation through the full
    * pipeline cascade but is scheduler-bound (~25 tiny jobs) and so
    * excluded from the bench; THIS query gives the reference's
    * signature operation a timing series proportional to table size.
    * Scale: the anti join shuffles both sides on the merge key once —
    * at 100 TB the same merge reads only the affected date partitions
    * (partition pruning) or runs shuffle-free on bucketed storage
    * (q33). */
  private val q32 = Q("q32_merge_bench",
    (s, d) => {
      val o = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        qdbl2(col("o_totalprice")).as("totalprice"),
        col("o_orderdate").cast("date").as("order_date"))
      // the restatement: +1.00 is one IEEE add on both engines
      val source = o.filter(col("order_date") >= lit(cutoff))
        .withColumn("totalprice", col("totalprice") + lit(1.0))
      Upsert.merge(o, source, Seq("o_orderkey")).orderBy("o_orderkey")
    },
    Some(s"""WITH o AS (SELECT o_orderkey, o_custkey,
                  ${Sql.qdbl2("o_totalprice")} AS totalprice,
                  CAST(o_orderdate AS DATE) AS order_date FROM orders),
            s AS (SELECT o_orderkey, o_custkey, totalprice + 1.0 AS totalprice,
                         order_date
                  FROM o WHERE order_date >= DATE '1998-01-01')
            SELECT * FROM (
              SELECT * FROM o WHERE o_orderkey NOT IN (SELECT o_orderkey FROM s)
              UNION ALL SELECT * FROM s)
            ORDER BY o_orderkey"""))

  /** M2 on BUCKETED storage — q10's latest-per-customer merge computed
    * over catalog tables bucketed+sorted on the merge key
    * ([[Bucketing.writeBucketed]] → [[Upsert.mergeBucketed]]), so the
    * anti join runs with NO shuffle Exchange on either side (PlanSpec
    * pins it: the only Exchange in the merge plan is the final ORDER BY's
    * range partition). Same oracle as q10 — the storage layout must not
    * change the answer. This is the demonstrated (not just documented)
    * form of the 100 TB daily-merge story: recurring merges against a
    * symbol-bucketed CORE pay zero data movement for the join. */
  private val q33 = Q("q33_bucketed_merge",
    (s, d) => {
      val o = orders(s, d).select(col("o_custkey"), col("o_orderkey"),
        qdbl2(col("o_totalprice")).as("totalprice"),
        col("o_orderdate").cast("date").as("order_date"))
      def latest(df: DataFrame) = Dedup.latestWins(df, Seq("o_custkey"),
        Seq(col("order_date").desc, col("o_orderkey").desc))
      val target = latest(o.filter(col("order_date") < lit(cutoff)))
      val source = latest(o.filter(col("order_date") >= lit(cutoff)))
      Bucketing.writeBucketed(target, "q33_core_target", Seq("o_custkey"), 8)
      Bucketing.writeBucketed(source, "q33_core_source", Seq("o_custkey"), 8)
      Upsert.mergeBucketed(s.table("q33_core_target"),
          s.table("q33_core_source"), Seq("o_custkey"))
        .orderBy("o_custkey")
    },
    Some(s"""WITH o AS (SELECT o_custkey, o_orderkey,
                  ${Sql.qdbl2("o_totalprice")} AS totalprice,
                  CAST(o_orderdate AS DATE) AS order_date FROM orders),
            t AS (SELECT o_custkey, o_orderkey, totalprice, order_date FROM
                   (SELECT *, row_number() OVER (PARTITION BY o_custkey
                      ORDER BY order_date DESC, o_orderkey DESC) AS rn
                    FROM o WHERE order_date < DATE '1998-01-01') WHERE rn = 1),
            s AS (SELECT o_custkey, o_orderkey, totalprice, order_date FROM
                   (SELECT *, row_number() OVER (PARTITION BY o_custkey
                      ORDER BY order_date DESC, o_orderkey DESC) AS rn
                    FROM o WHERE order_date >= DATE '1998-01-01') WHERE rn = 1)
            SELECT * FROM (
              SELECT * FROM t WHERE o_custkey NOT IN (SELECT o_custkey FROM s)
              UNION ALL SELECT * FROM s)
            ORDER BY o_custkey"""))

  /** SCD2 dimension history ([[graft.dim.Scd2]] — the full-history
    * extension of the reference's insert-only dim maintenance,
    * `5. merge_dim_security.sql:17-36`): snapshot 1 = the customer
    * dimension as-is; snapshot 2 = a deterministic restatement (every
    * custkey % 7 == 0 changes segment and balance) plus brand-new keys
    * (custkey % 11 == 0 re-registered at key −(custkey+1) — the negated
    * space can never collide with an organic non-negative key at ANY
    * scale factor). The checked
    * result is the complete history — carried open rows, closed-out
    * versions, and newly opened versions — so all four SCD2 branches
    * are under the oracle at once. */
  private val q36 = Q("q36_scd2_dim",
    (s, d) => {
      val snap1 = customer(s, d).select(col("c_custkey"), col("c_nationkey"),
        col("c_mktsegment").as("segment"), qdbl2(col("c_acctbal")).as("acctbal"))
      val changed = snap1.withColumn("segment",
          when(col("c_custkey") % 7 === 0,
            concat(lit("SEG"), (col("c_custkey") % 5).cast("string")))
            .otherwise(col("segment")))
        .withColumn("acctbal",
          when(col("c_custkey") % 7 === 0, col("acctbal") + lit(10.0))
            .otherwise(col("acctbal")))
      val newKeys = snap1.filter(col("c_custkey") % 11 === 0)
        .select((-(col("c_custkey") + 1L)).as("c_custkey"), col("c_nationkey"),
          lit("NEW").as("segment"), col("acctbal"))
      val snap2 = changed.unionByName(newKeys)
      val history = Scd2.init(snap1, "2024-01-01")
      Scd2.apply(history, snap2, Seq("c_custkey"),
          Seq("c_nationkey", "segment", "acctbal"), "2024-06-01")
        .orderBy("c_custkey", "effective_from")
    },
    Some(s"""WITH s1 AS (SELECT c_custkey, c_nationkey, c_mktsegment AS segment,
                    ${Sql.qdbl2("c_acctbal")} AS acctbal FROM customer),
            s2 AS (SELECT c_custkey, c_nationkey,
                     CASE WHEN c_custkey % 7 = 0
                          THEN 'SEG' || CAST(c_custkey % 5 AS VARCHAR)
                          ELSE segment END AS segment,
                     CASE WHEN c_custkey % 7 = 0 THEN acctbal + 10.0
                          ELSE acctbal END AS acctbal
                   FROM s1
                   UNION ALL
                   SELECT -(c_custkey + 1), c_nationkey, 'NEW', acctbal
                   FROM s1 WHERE c_custkey % 11 = 0),
            chg AS (SELECT o.c_custkey FROM s1 o JOIN s2 n USING (c_custkey)
                    WHERE o.segment IS DISTINCT FROM n.segment
                       OR o.acctbal IS DISTINCT FROM n.acctbal
                       OR o.c_nationkey IS DISTINCT FROM n.c_nationkey)
            SELECT * FROM (
              SELECT *, DATE '2024-01-01' AS effective_from,
                     DATE '9999-12-31' AS effective_to
              FROM s1 WHERE c_custkey NOT IN (SELECT c_custkey FROM chg)
              UNION ALL
              SELECT *, DATE '2024-01-01', DATE '2024-06-01'
              FROM s1 WHERE c_custkey IN (SELECT c_custkey FROM chg)
              UNION ALL
              SELECT *, DATE '2024-06-01', DATE '9999-12-31'
              FROM s2 WHERE c_custkey IN (SELECT c_custkey FROM chg)
                 OR c_custkey NOT IN (SELECT c_custkey FROM s1))
            ORDER BY c_custkey, effective_from"""))

  val qs: Seq[Q] = Seq(q28, q32, q33, q35, q36)
}
