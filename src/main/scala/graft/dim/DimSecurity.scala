package graft.dim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Surrogate-key security dimension maintenance (SURVEY.md §2.3 A4,
  * §2.6 W2, §2.5 M3; reference `dags/sql/5. merge_dim_security.sql`).
  *
  * Semantics (exactly the reference's):
  *   1. next_id = COALESCE(MAX(security_id), 0) + 1 over the current dim
  *      (`5. merge_dim_security.sql:16`),
  *   2. new symbols = distinct normalized incoming symbols LEFT ANTI dim
  *      (`:22-33`),
  *   3. ids = ROW_NUMBER() OVER (ORDER BY symbol) + next_id − 1 — dense,
  *      ordered, gap-free (`:27`). NOT `monotonically_increasing_id` (that
  *      is non-dense and would violate the reference's id semantics).
  *      The reference merges one date at a time; a batch of several dates
  *      orders by (first date the symbol appears on, symbol), which gives
  *      exactly the ids of its dates merged one after the other.
  *
  * Scale: id assignment runs through [[assignDenseIds]] — a two-pass
  * per-partition-count + offset (zipWithIndex-shaped) assigner over
  * range-partitioned sorted keys, so no single-partition global sort even
  * when the daily delta of new keys approaches RAW scale. It produces
  * EXACTLY the values of `ROW_NUMBER() OVER (ORDER BY symbol) + base − 1`
  * (property-pinned in DimSecuritySpec, incl. at 10⁵ keys); the window
  * formulation remains the W2 semantic reference (q08).
  */
object DimSecurity {

  /** Dense ordered id assignment at scale: ids `base, base+1, …` in
    * (`leading`, `keyCol`) order. Two passes, no global single-partition
    * sort:
    *   1. `repartitionByRange(keyCol).sortWithinPartitions(keyCol)` — a
    *      range shuffle, so partition p's keys all precede partition
    *      p+1's and each partition is internally sorted (Spark's binary
    *      UTF8String ordering, identical to the window formulation's);
    *   2. `zipWithIndex` — one job counting rows per partition, then a
    *      narrow map adding each partition's cumulative offset.
    * Equivalent to `row_number() OVER (ORDER BY leading…, keyCol) + base − 1`
    * for distinct keys, but parallel: the sort is distributed and the only
    * driver-side state is one count per partition. */
  def assignDenseIds(keys: DataFrame, base: Long, keyCol: String = "symbol",
                     leading: Seq[String] = Nil): DataFrame = {
    val spark = keys.sparkSession
    val sorted = rangeSorted(keys, keyCol, leading)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("security_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField(keyCol,
        org.apache.spark.sql.types.StringType)))
    val rows = sorted.rdd.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row(base + i, r.getString(leading.size))
    }
    spark.createDataFrame(rows, schema)
  }

  /** The distributed-sort stage of [[assignDenseIds]], exposed so
    * PlanSpec can pin its physical shape: the Exchange must be a RANGE
    * partitioning over `keyCol` (every partition works), never a
    * SinglePartition collapse — the property the scale path exists for. */
  private[graft] def rangeSorted(keys: DataFrame, keyCol: String,
                                 leading: Seq[String] = Nil): DataFrame = {
    val order = (leading :+ keyCol).map(col)
    keys.select(order: _*).repartitionByRange(order: _*).sortWithinPartitions(order: _*)
  }

  /** The rows a [[merge]] adds: normalized incoming symbols absent from
    * `dim`, with dense ids continuing from its max. Appending exactly
    * these rows is the physical insert-only merge. Ids follow symbol
    * order; with a `dateCol`, (first date of the symbol, symbol) order,
    * so one call over several dates assigns the ids that merging the
    * dates one by one, in date order, would. */
  def newRows(dim: DataFrame, incomingSymbols: DataFrame, symbolCol: String = "symbol",
              dateCol: Option[String] = None): DataFrame = {
    val nextId: Long = dim.agg(coalesce(max(col("security_id")), lit(0L)))
      .first().getLong(0) + 1L
    val normalized = incomingSymbols
      .select(upper(trim(col(symbolCol))).as("symbol") +: dateCol.map(col).toSeq: _*)
      .filter(col("symbol").isNotNull && col("symbol") =!= "")
    val keys = dateCol.fold(normalized.distinct())(d =>
      normalized.groupBy("symbol").agg(min(col(d)).as(d)))
    val newSymbols = keys.join(dim.select("symbol"), Seq("symbol"), "left_anti")
    assignDenseIds(newSymbols, nextId, "symbol", dateCol.toSeq)
  }

  /** Merge new symbols into an existing (security_id, symbol) dim. */
  def merge(dim: DataFrame, incomingSymbols: DataFrame, symbolCol: String = "symbol"): DataFrame =
    dim.unionByName(newRows(dim, incomingSymbols, symbolCol))

  /** An empty dim with the right schema, to bootstrap a warehouse. */
  def empty(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      graft.schema.Schemas.dimSecurity)

  // Deterministic synthetic attribute vocabularies for [[enrich]] — in a
  // live deployment these come from a reference-data feed; the dashboards
  // only need the COLUMNS to exist with stable values.
  private val Sectors = Seq("Technology", "Financials", "Health Care",
    "Energy", "Industrials", "Consumer", "Utilities", "Materials")
  private val Industries = Seq("Software", "Banks", "Pharma", "Oil & Gas",
    "Machinery", "Retail", "Electric", "Chemicals", "Semiconductors",
    "Insurance", "Biotech", "Mining")
  private val Types = Seq("Equity", "ETF", "Unit")

  /** Derive the dashboard's richer dimension columns
    * ([[graft.schema.Schemas.dimSecurityRich]]) from the maintained
    * (security_id, symbol) rows: pure deterministic expressions — the
    * 60-bit md5-prefix integer of `symbol || salt` (the engine's shared
    * oracle-portable hash primitive, [[graft.ext.MinHash.shingleHash]])
    * picks stable vocabulary entries — so enrichment is idempotent,
    * engine-reproducible, free to recompute, and CHECKABLE by the
    * DuckDB oracle (q38 composes it with the A9 share-of-total; crc32,
    * the previous pick hash, has no DuckDB twin). */
  def enrich(dim: DataFrame): DataFrame = {
    def md5int(salt: String): org.apache.spark.sql.Column =
      conv(substring(md5(concat(col("symbol"), lit(salt))), 1, 15), 16, 10)
        .cast("long")
    def pick(vocab: Seq[String], salt: String): org.apache.spark.sql.Column =
      element_at(typedLit(vocab), (md5int(salt) % vocab.size + 1).cast("int"))
    dim
      .withColumn("security_name", initcap(lower(col("symbol"))))
      .withColumn("sector", pick(Sectors, "|sector"))
      .withColumn("industry", pick(Industries, "|industry"))
      .withColumn("security_type", pick(Types, "|type"))
      .withColumn("is_watchlist", md5int("|wl") % 5 === 0)
  }
}
