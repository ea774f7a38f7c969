package graft.util

import org.apache.spark.sql.SparkSession

/** Canonical SparkSession configuration for this engine — the one place
  * the scale-relevant settings live (SURVEY.md §4). Used by the Verify
  * and Bench harnesses; a cluster deployment uses the same builder with
  * its own master/partition settings.
  */
object Sessions {

  /** @param shufflePartitions match the cluster's total cores locally;
    *        on a real cluster size so a shuffle partition stays in the
    *        low hundreds of MB (or rely on AQE coalescing from a high
    *        initial number). */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      // catalog tables (the bucketed CORE/band tables, q33) land in a
      // fresh temp dir, never the harness cwd, deleted at JVM exit
      .config("spark.sql.warehouse.dir", Staging.exitScopedRoot("graft-wh").toString)
      // deterministic wall-clock-independent semantics
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet is TIMESTAMP(NANOS); Spark 4 rejects it without this
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // MERGE-as-partition-overwrite must only rewrite touched partitions
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      // AQE (default-on in Spark 4, pinned here): runtime coalescing,
      // skew-join splitting, and join-strategy re-planning
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalescing floor deliberately left at the 1m default: an
      // r21 A/B at sf0.1 (64k vs 1m, same subset, same session shape)
      // measured the 64k floor HURTING the many-stage pipelines (x135
      // 3.99 vs 3.43 s, x136 4.62 vs 3.71, x86 3.58 vs 2.60 — 32 tiny
      // tasks per stage × dozens of stages is pure scheduler overhead)
      // while the compute-dense stages it was meant to parallelize were
      // flat (x105 2.46 vs 2.44, x111 1.62 vs 1.47). Serialized narrow
      // phases are fixed at the operator (e.g. Multimodal.fanOut), not
      // with a global partition floor.
      // Streaming state lives in RocksDB, not on the executor heap. The
      // default HDFS-backed provider keeps every key in JVM memory —
      // fine for windowed aggregates whose watermark bounds state, fatal
      // for the continuous-ingest dedup state math
      // ([[graft.streaming.StreamDedup]]: ~1.6 TB of fingerprint state
      // per 10¹¹ docs): at that size state must be out-of-heap and
      // disk-backed. RocksDB bounds executor memory (changelog
      // checkpointing to the store dir), and every streaming query here
      // runs under it — the six real `Trigger.AvailableNow` executions
      // in the Verify gate are the proof it carries the same answers.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // incremental (changelog) checkpoints: without this the provider
      // uploads a FULL RocksDB snapshot per store per micro-batch —
      // measured 14.1 s → 8.6 s on the stream-stream interval join's
      // four stores × 32 partitions at sf0.1 (the in-heap HDFS provider
      // ran it in 5.7 s: the residue is the fixed native-store cost,
      // which toy state sizes never amortize — at 100 TB state the
      // ordering inverts, and a full-state upload per batch would be
      // hours of commit time)
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      .config("spark.ui.enabled", "false")

  /** Local core count of the harness sessions (Bench, Verify, Explain,
    * Plans, EodDemo): `SPARK_GRAFT_CPUS` when set, else every core the
    * JVM sees. Used as both the `local[n]` master and the shuffle
    * partition count. */
  private[graft] def harnessCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Shuffle-partition count for the locally-run streaming queries
    * (see [[withShufflePartitions]]). Each stateful streaming operator
    * instantiates one state store PER (operator × shuffle partition)
    * per micro-batch — under RocksDB that is a native store open +
    * changelog commit each, a FIXED cost paid regardless of state
    * size. Partition count must therefore track STATE VOLUME (size so
    * a store holds ~100–500 MB), not core count: at sf0.1 the seven
    * streaming queries hold kilobytes of state, so 4 partitions
    * amortize the native-store setup that 32 never could (round-7
    * bench: 32 partitions × 4 stores = 128 RocksDB instances per
    * micro-batch on the interval join — 11.8 s for KB of state). At
    * 100 TB the same sizing rule yields thousands of partitions, and
    * the fixed cost is noise against state I/O. */
  val streamingShufflePartitions = 4

  /** Run `body` with `spark.sql.shuffle.partitions` temporarily
    * overridden, restoring the previous value afterwards. A streaming
    * query captures the session's shuffle-partition count at its first
    * checkpoint, so wrapping the `start()`/`awaitTermination()` block
    * is sufficient — and because the override is scoped, the batch
    * queries before/after keep the session default. */
  def withShufflePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n)
    try body finally spark.conf.set(key, prev)
  }

  /** Route the known-benign `WindowExec: No Partition Defined` WARN to
    * ERROR in harness (Bench/Verify) sessions. The warning fires for the
    * deliberately-unpartitioned dim-cardinality windows — q08's
    * 25-symbol surrogate-id window, q27's 150-group rank, q17's
    * grand-total over grouped rows — each of which is the SEMANTIC
    * reference form with a checked scale twin that avoids the
    * single-partition sort (q12's [[graft.dim.DimSecurity.assignDenseIds]],
    * q24's [[graft.sa.Analytics.scalableRank]]; PlanSpec pins those
    * plans). At dim cardinality the single partition is correct and
    * cheap; the per-execution WARN only made artifact tails look
    * alarming. Scoped to the window package so every other warning
    * still surfaces. */
  def quietKnownWarnings(): Unit = {
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
    // x17's streaming run logs "Disabling AQE … not supported in stateful
    // workloads" twice per micro-batch (MicroBatchExecution +
    // ResolveWriteToStream) — expected Spark behavior for
    // dropDuplicatesWithinWatermark, not a harness problem
    Seq("org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution",
      "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream")
      .foreach(org.apache.logging.log4j.core.config.Configurator.setLevel(
        _, org.apache.logging.log4j.Level.ERROR))
  }
}
