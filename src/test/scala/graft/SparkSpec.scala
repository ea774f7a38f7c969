package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — specs
  * run in a forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", 2)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // catalog tables (BucketingSpec) land in a temp dir, not the repo,
    // deleted when the test JVM exits
    .config("spark.sql.warehouse.dir",
      graft.util.Staging.exitScopedRoot("graft-test-wh").toString)
    // same state-store provider as graft.util.Sessions.builder: the
    // streaming specs exercise the store the engine actually ships with
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import scala.reflect.runtime.universe.TypeTag
  def df[T <: Product : TypeTag](rows: Seq[T]) = {
    val s = spark
    import s.implicits._
    spark.createDataset(rows).toDF()
  }
}
