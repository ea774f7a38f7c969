package eodbench

import eodbench.Main._
import graft.core.Bucketing
import graft.ext.{CurationLoop, Decontaminate, ExactDedup, IncrementalDedup, LmScore, VectorStore}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `store_ingest`: document shards through `CurationLoop.ingestShard`
  * against its five persisted stores, compacting the three mutated stores
  * after every shard, then a held-out probe set read against each store. */
object Store {

  val Buckets = 4
  /** The loop's recipe. The LM gate sits near the generated text's median
    * score (uniform words from a 64-word vocabulary score ~1/64), so about
    * half of what reaches it is kept. */
  val Params: CurationLoop.Params = CurationLoop.Params(shingleN = 3,
    numHashes = 16, nBands = 4, minJaccard = 0.5, minCosine = 0.4,
    nCentroids = 16, nProbe = 4, dim = 64, seedOffset = 100000L,
    maxContamination = 0.5, minLmScore = 0.016)
  val ExtStages: Seq[String] = Seq("exact", "neardup", "vector", "decontam", "lm", "verdicts")

  def stores(prefix: String): CurationLoop.Stores = CurationLoop.Stores(
    s"${prefix}_fp", s"${prefix}_sig", s"${prefix}_vec", s"${prefix}_bench",
    s"${prefix}_model", Buckets)

  def docs(spark: SparkSession, path: String): DataFrame = spark.read.parquet(path)

  /** Build the five stores from a seed corpus and a benchmark set. */
  def seedStores(spark: SparkSession, s: CurationLoop.Stores, seed: String, bench: String): Unit = {
    val d = docs(spark, seed)
    ExactDedup.writeFingerprintStore(d, "doc_id", "text", s.fpTable, Buckets)
    IncrementalDedup.writeSignatureStore(d, "doc_id", "text", Params.shingleN,
      Params.numHashes, Params.nBands, s.sigTable, Buckets)
    VectorStore.writeVectorStore(d.select("doc_id", "embedding"), "doc_id", "embedding",
      Params.nCentroids, Params.dim, Params.seedOffset, s.vecTable, Buckets)
    Decontaminate.writeBenchmarkStore(docs(spark, bench), "text", n = 8, s.benchTable, Buckets)
    LmScore.writeModelStore(d, "text", s.modelTable, Buckets)
  }

  /** One ingest unit: the shard through the loop, then the in-loop
    * maintenance (compaction of the three mutated stores, every shard). */
  def ingestUnit(spark: SparkSession, s: CurationLoop.Stores, shard: String,
                 batchId: Long, outRoot: String): Unit = {
    CurationLoop.ingestShard(docs(spark, shard), batchId, "doc_id", "text",
      "embedding", s, Params, outRoot)
    Bucketing.maintainInLoop(batchId, compactEvery = 1, maxFilesPerBucket = 0)({
      ExactDedup.compactStore(spark, s.fpTable, Buckets)
      IncrementalDedup.compactStore(spark, s.sigTable, Buckets)
      VectorStore.compactStore(spark, s.vecTable, Buckets)
    })(_ => ())
  }

  /** The probe read set: the held-out documents against each store. */
  def probes(spark: SparkSession, s: CurationLoop.Stores, probe: String): Seq[(String, () => Unit)] = {
    val p = docs(spark, probe)
    Seq(
      "exact" -> (() => drain(ExactDedup.dedupExactAgainstStore(p, "doc_id", "text",
        spark.table(s.fpTable)))),
      "neardup" -> (() => drain(IncrementalDedup.dedupAgainstStore(p, "doc_id", "text",
        Params.shingleN, Params.numHashes, Params.nBands, spark.table(s.sigTable),
        Params.minJaccard))),
      "vector" -> (() => drain(VectorStore.dedupAgainstStore(p.select("doc_id", "embedding"),
        "doc_id", "embedding", spark.table(s.vecTable), Params.minCosine,
        Params.nCentroids, Params.nProbe, Params.dim, Params.seedOffset))),
      "decontam" -> (() => {
        val (df, release) = Decontaminate.contaminatedAgainstStoreOwned(p, "doc_id", "text",
          s.benchTable)
        try drain(df) finally release()
      }),
      "lm" -> (() => drain(LmScore.scoreAgainstStore(p, "doc_id", "text", s.modelTable))))
  }

  def probePass(spark: SparkSession, s: CurationLoop.Stores, probe: String): Seq[(String, Double)] =
    probes(spark, s, probe).map { case (n, f) => n -> timed(f()) }

  // ------------------------------------------------------------ tracing

  private val StageClass = Map(
    "graft.ext.ExactDedup" -> "exact", "graft.ext.IncrementalDedup" -> "neardup",
    "graft.ext.VectorStore" -> "vector", "graft.ext.Decontaminate" -> "decontam",
    "graft.ext.LmScore" -> "lm")

  private def cls(f: StackTraceElement): String = f.getClassName.stripSuffix("$")

  /** Labels for one thread's stack: the loop stage the main thread is in
    * (the outermost store operator under `ingestShard`, else the loop's own
    * verdict and funnel work), and the core layer any thread is in. */
  def classify(main: Thread)(t: Thread, st: Array[StackTraceElement]): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    if (t eq main) {
      val outerFirst = st.reverseIterator.toSeq
      val loop = outerFirst.indexWhere(f => cls(f) == "graft.ext.CurationLoop" &&
        f.getMethodName.startsWith("ingestShard"))
      if (loop >= 0) out += outerFirst.drop(loop + 1).map(cls).collectFirst(StageClass)
        .map(s => s"ext.stage.${s}_s").getOrElse("ext.stage.verdicts_s")
    }
    if (st.exists(f => cls(f) == "graft.core.IngestLedger")) out += "core.ledger_s"
    else if (st.exists(f => cls(f) == "graft.core.Bucketing" && f.getMethodName == "appendBucketed"))
      out += "core.append_s"
    else if (st.exists(f => f.getClassName.startsWith("graft.") && f.getMethodName.startsWith("compact")))
      out += "core.compact_s"
    out.toSeq
  }

  // ------------------------------------------------------------ workload

  def ingest(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val m = ctx.manifest
    def doc(kind: String) = m.one(kind)(0)
    // set-up: the five stores seeded from the seed corpus and the
    // benchmark set
    val s = stores("main")
    val pool = m.all("shard").map(a => (a(0).toLong, a(1), a(2).toLong))
    val loop = ctx.dir("loop")
    ctx.out.num("once_s", timed(seedStores(spark, s, doc("seed"), doc("bench"))))
    log("set-up done")
    val sampler = if (ctx.traced) {
      val smp = new Sampler(20, classify(Thread.currentThread()))
      smp.start(); Some(smp)
    } else None
    val unitS = mutable.ArrayBuffer.empty[Double]
    val layerUnits = mutable.ArrayBuffer.empty[Map[String, Double]]
    val t0 = System.nanoTime()
    pool.foreach { case (id, file, _) =>
      if (ctx.traced) { ctx.settle(); ctx.trace.reset(); sampler.get.drain() }
      unitS += timed(ingestUnit(spark, s, file, id, loop))
      log(f"shard $id ${unitS.last}%.3f s")
      if (ctx.traced) {
        val smp = sampler.get.drain()
        ctx.settle()
        val t = ctx.trace
        layerUnits += smp ++ Map("spark.sql_execs" -> t.execs.keys.count(_ >= 0).toDouble,
          "spark.jobs" -> t.jobs.toDouble, "spark.tasks" -> t.tasks.toDouble,
          "spark.shuffle_bytes" -> t.shuffleBytes.toDouble,
          "spark.spill_bytes" -> t.spillBytes.toDouble)
      }
    }
    val ingestS = secs(t0)
    sampler.foreach(_.shutdown())
    ctx.out.nums("unit_s", unitS.toSeq)
    ctx.out.num("batch_p50_s", median(unitS.toSeq))
    ctx.out.num("rows_per_s", pool.map(_._3).sum / ingestS)
    // every table and ledger of the five stores, and the loop's outputs
    val storeDirs = {
      val ls = Files.list(ctx.runDir.resolve("catalog"))
      try ls.iterator().asScala.filter(_.getFileName.toString.startsWith("main_")).toSeq.sorted
      finally ls.close()
    } :+ Paths.get(loop)
    // the input is every document the stores hold: the seed corpus, the
    // benchmark set and every shard
    val inBytes = (Seq(doc("seed"), doc("bench")) ++ pool.map(_._2)).map(f => Files.size(Paths.get(f))).sum
    ctx.out.num("stored_bytes_per_input_byte", storeDirs.map(dirBytes).sum.toDouble / inBytes)
    if (ctx.traced) {
      val keys = (ExtStages.map(x => s"ext.stage.${x}_s") ++
        Seq("core.ledger_s", "core.append_s", "core.compact_s", "spark.sql_execs",
          "spark.jobs", "spark.tasks", "spark.shuffle_bytes", "spark.spill_bytes"))
      keys.foreach(k => ctx.out.layer(k) = median(layerUnits.map(_.getOrElse(k, 0.0)).toSeq))
      ctx.out.layer("core.files_per_bucket") =
        Seq(s.fpTable, s.sigTable, s.vecTable).map(t =>
          Bucketing.dataFileCount(spark, t).toDouble / Buckets).sum / 3
    }

    serve(ctx, "ext.probe.")(probePass(spark, s, doc("probe")))

    // untimed: the applied batches, then a re-ingest of the last one,
    // which must leave every store unchanged
    Files.writeString(ctx.runDir.resolve("out/ingested.tsv"),
      pool.map { case (id, f, _) => s"$id\t$f" }.mkString("", "\n", "\n"))
    val snap = ctx.runDir.resolve("stores_before_reingest")
    storeDirs.foreach(d => copyTree(d, snap.resolve(d.getFileName.toString)))
    ctx.out.str("store_tables", storeDirs.map(_.getFileName.toString).mkString(","))
    val (lastId, lastFile, _) = pool.last
    CurationLoop.ingestShard(docs(spark, lastFile), lastId, "doc_id", "text", "embedding",
      s, Params, loop)
  }
}
