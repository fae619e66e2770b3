package graftbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** The Spark session as the server main configures it, with every
  * scratch directory under the run's private work dir. */
object Session {
  def nproc: Int = Runtime.getRuntime.availableProcessors

  def build(work: Path): SparkSession = SparkSession.builder()
    .master(s"local[$nproc]")
    .appName("graft-e2ebench")
    .config("spark.sql.shuffle.partitions", nproc.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .getOrCreate()
}
