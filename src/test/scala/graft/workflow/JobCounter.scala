package graft.workflow

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Spark jobs per job group, with a barrier: a marker job's start is
  * delivered after every event posted before it. */
final class JobCounter(spark: SparkSession) extends SparkListener {
  private val groups = new ConcurrentLinkedQueue[String]()

  override def onJobStart(j: SparkListenerJobStart): Unit =
    groups.add(Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(""))

  /** Jobs started so far whose group matches. */
  def jobsIn(group: String => Boolean): Int = {
    val marker = s"marker-${System.nanoTime}"
    val sc = spark.sparkContext
    sc.setJobGroup(marker, marker)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.currentTimeMillis + 30000
    while (!groups.contains(marker) && System.currentTimeMillis < deadline)
      Thread.sleep(10)
    assert(groups.contains(marker), "listener barrier timed out")
    groups.asScala.count(group)
  }
}

object JobCounter {
  /** Runs `body` with a counter registered on the session's context. */
  def around[T](spark: SparkSession)(body: JobCounter => T): T = {
    val jobs = new JobCounter(spark)
    spark.sparkContext.addSparkListener(jobs)
    try body(jobs) finally spark.sparkContext.removeSparkListener(jobs)
  }
}
