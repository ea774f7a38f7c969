package graft.util

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.DataFrame

import graft.core.Bucketing

/** Fixture plumbing for the streamed-ingest checked queries and specs:
  * stage a DataFrame as ONE parquet file with a pinned modification
  * time under a file-stream input directory. The file source orders
  * micro-batches by mtime, so pinning it makes the wave order — and
  * therefore every ledger batch id downstream — deterministic.
  *
  * One shared implementation (review finding, round 17): the inline
  * copies this replaces each leaked the `Files.list` directory stream
  * they opened; this one closes it.
  */
object Staging {

  /** Write `wave` as a single parquet part file at `destDir/name` with
    * mtime `ts` (epoch millis). */
  def stageWave(wave: DataFrame, destDir: Path, name: String,
                ts: Long): Unit = {
    val tmp = Files.createTempDirectory("graft-stage-")
    wave.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val ls = Files.list(tmp)
    val part =
      try ls.filter(_.toString.endsWith(".parquet")).findFirst().get()
      finally ls.close()
    val dest = destDir.resolve(name)
    Files.copy(part, dest)
    Files.setLastModifiedTime(dest, FileTime.fromMillis(ts))
  }

  /** Build a store and stage `waves` under `dir` concurrently —
    * independent side effects into disjoint locations (guide §2.6) —
    * then open the file stream that replays the waves one micro-batch
    * each (`maxFilesPerTrigger = 1`). Wave ORDER is carried by pinned
    * modification times one minute apart, not by staging order. */
  def stagedStream(dir: Path, waves: Seq[DataFrame])(build: => Unit): DataFrame = {
    Files.createDirectories(dir)
    Bucketing.inParallel(build,
      waves.zipWithIndex.foreach { case (w, i) =>
        stageWave(w, dir, s"wave${i + 1}.parquet", 1704067200000L + 60000L * i)
      })
    waves.head.sparkSession.readStream.schema(waves.head.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
  }
}
