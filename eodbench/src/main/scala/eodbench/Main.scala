package eodbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM: set up, warm up, time one workload, write
  * the artifacts the correctness checks read, and write `result.json`.
  *
  * Usage (run.py builds the classpath and the manifest):
  *   java … eodbench.Main <workload> <seconds> <trace 0|1> <runDir> <manifest>
  */
object Main {

  final case class Ctx(spark: SparkSession, seconds: Int, traced: Boolean,
                       runDir: Path, manifest: Manifest, out: Result) {
    def dir(name: String): String = runDir.resolve(name).toString
    /** Listener over the whole run; registered only for traced runs. */
    lazy val trace: Trace = {
      val t = new Trace
      spark.sparkContext.addSparkListener(t)
      t
    }
    def settle(): Unit = org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seconds, trace, runDir, manifest) = args
    val out = new Result
    val spark = session(Paths.get(runDir))
    out.num("session_s", (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0)
    val ctx = Ctx(spark, seconds.toInt, trace == "1", Paths.get(runDir),
      Manifest.read(Paths.get(manifest)), out)
    if (ctx.traced) ctx.trace
    workload match {
      case "eod_daily" => Eod.daily(ctx)
      case "eod_restate_stream" => Eod.restateStream(ctx)
      case "store_ingest" => Store.ingest(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    out.num("peak_rss_mb", peakRssMb())
    spark.stop()
    out.write(Paths.get(runDir, "out", "result.json"))
  }

  /** The engine's canonical session, with every scratch directory inside
    * the run directory and as many local threads as cores, capped at 4. */
  def session(runDir: Path): SparkSession = {
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = graft.util.Sessions.builder(s"local[$cpus]", cpus)
      .config("spark.sql.warehouse.dir", runDir.resolve("catalog").toString)
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.util.Sessions.quietKnownWarnings()
    spark
  }

  // ------------------------------------------------------------ helpers

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** A progress line in the run's log. */
  def log(msg: String): Unit =
    println(f"[eodbench ${java.time.LocalTime.now()}] $msg")

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; secs(t0)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The read phase: `pass` (one timed read of each measure) once per
    * second of the run's `seconds`, at least 3 times; report the median
    * pass as `serve_s` and, traced, each measure's median as
    * `<prefix><measure>_s`. A fixed count, not a time budget: later passes
    * run warmer code, so a pass count that varied with the host's speed
    * would move the median. With `warmUp`, one untimed pass first (its
    * time is `serve_warmup_s`, part of the set-up): the first pass after
    * the ingest runs new plans over more data and reads 60–90% slower. */
  def serve(ctx: Ctx, prefix: String, warmUp: Boolean = false)(pass: => Seq[(String, Double)]): Unit = {
    ctx.out.num("serve_warmup_s", if (warmUp) timed(pass) else 0.0)
    val passes = Seq.fill(math.max(3, ctx.seconds))(pass)
    ctx.out.num("serve_s", median(passes.map(_.map(_._2).sum)))
    ctx.out.num("serve_passes", passes.size)
    ctx.out.nums("serve_pass_s", passes.map(_.map(_._2).sum))
    if (ctx.traced) passes.head.map(_._1).foreach { n =>
      ctx.out.layer(s"$prefix${n}_s") = median(passes.map(_.toMap.apply(n)))
    }
  }

  /** Run a query to completion without collecting it: the noop sink
    * executes the whole plan as written (no column pruning to a count). */
  def drain(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  def peakRssMb(): Double = {
    val hwm = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
    hwm.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }
}

/** The generated inputs, as run.py lists them: one tab-separated record a
  * line, `<kind> <fields…>`. */
final case class Manifest(rows: Seq[Array[String]]) {
  def all(kind: String): Seq[Array[String]] = rows.filter(_.head == kind).map(_.tail)
  def one(kind: String): Array[String] = all(kind).head
}

object Manifest {
  def read(p: Path): Manifest =
    Manifest(Files.readAllLines(p).asScala.filter(_.nonEmpty).map(_.split("\t")).toSeq)
}

/** The JVM's result: numbers, lists and nested per-layer metrics, written
  * as one JSON object. */
final class Result {
  private val fields = mutable.LinkedHashMap.empty[String, String]
  val layer = mutable.LinkedHashMap.empty[String, Double]

  def num(k: String, v: Double): Unit = fields(k) = fmt(v)
  def str(k: String, v: String): Unit = fields(k) = quote(v)
  def nums(k: String, vs: Seq[Double]): Unit = fields(k) = vs.map(fmt).mkString("[", ",", "]")

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def write(p: Path): Unit = {
    val all = fields.toSeq :+ ("layer" -> layer.map { case (k, v) =>
      s"${quote(k)}:${fmt(v)}" }.mkString("{", ",", "}"))
    Files.createDirectories(p.getParent)
    Files.writeString(p, all.map { case (k, v) => s"${quote(k)}:$v" }
      .mkString("{", ",\n", "}\n"))
  }
}
