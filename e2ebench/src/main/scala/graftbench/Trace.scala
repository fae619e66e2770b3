package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one timed call into a layer, in ns of System.nanoTime. */
final case class Span(name: String, start: Long, end: Long, parent: String,
    request: String) {
  def durNs: Long = end - start
}

/** In-memory span store, written out once at the end of the run. */
final class Spans {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  def add(s: Span): Unit = buf.add(s)
  def all: Seq[Span] = buf.asScala.toSeq

  /** Time `body` as span `name`, a top-level span of `request`. */
  def timed[T](name: String, request: String)(body: => T): T = {
    val t0 = System.nanoTime
    try body finally add(Span(name, t0, System.nanoTime, "request", request))
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.start).foreach { s =>
      w.write(Js.obj(Seq("name" -> Js.str(s.name), "start_ns" -> s.start.toString,
        "end_ns" -> s.end.toString, "parent" -> Js.str(s.parent),
        "request" -> Js.str(s.request))))
      w.newLine()
    } finally w.close()
  }
}

/** Per-request Spark counters, keyed by the job description the engine
  * sets for each run (the workflow name, unique per request here). */
final class SparkTrace(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {

  final class Counters {
    val jobs = new AtomicLong; val stages = new AtomicLong
    val tasks = new AtomicLong; val taskFailures = new AtomicLong
    val taskRunMs = new AtomicLong; val taskCpuNs = new AtomicLong
    val taskWaitMs = new AtomicLong
    val inputBytes = new AtomicLong; val inputRecords = new AtomicLong
    val shuffleRead = new AtomicLong; val shuffleWrite = new AtomicLong
    val spill = new AtomicLong
    val queries = new AtomicLong
    val analysisMs = new AtomicLong; val optimizationMs = new AtomicLong
    val planningMs = new AtomicLong
    /** Job wall intervals, epoch ms. */
    val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  }

  /** Work whose description names no traced request lands here. */
  val Unattributed = "<unattributed>"

  private val byDesc = new ConcurrentHashMap[String, Counters]()
  private val jobDesc = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageDesc = new ConcurrentHashMap[Int, String]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  private val execDesc = new ConcurrentHashMap[Long, String]()
  private val pendingQe = new java.util.concurrent.ConcurrentLinkedQueue[
    (QueryExecution, Map[String, Long])]()
  /** The execution each QueryExecution ran as (matched by identity). */
  private val execOfQe = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[QueryExecution, java.lang.Long]())

  def counters(desc: String): Counters =
    byDesc.computeIfAbsent(desc, _ => new Counters)

  private def descOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse(Unattributed)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val d = descOf(e.properties)
    jobDesc.put(e.jobId, d)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageDesc.put(s, d))
    counters(d).jobs.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobDesc.get(e.jobId)).foreach { d =>
      counters(d).jobIntervals.add((jobStart.getOrDefault(e.jobId, e.time), e.time))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val d = Option(stageDesc.get(e.stageInfo.stageId))
      .getOrElse(descOf(e.properties))
    stageDesc.put(e.stageInfo.stageId, d)
    stageSubmit.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis))
    counters(d).stages.incrementAndGet()
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val d = stageDesc.getOrDefault(e.stageId, Unattributed)
    val c = counters(d)
    c.tasks.incrementAndGet()
    Option(stageSubmit.get(e.stageId)).foreach(s =>
      c.taskWaitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - s)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(stageDesc.getOrDefault(e.stageId, Unattributed))
    if (e.reason != org.apache.spark.Success) c.taskFailures.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      c.taskRunMs.addAndGet(m.executorRunTime)
      c.taskCpuNs.addAndGet(m.executorCpuTime)
      c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      c.inputRecords.addAndGet(m.inputMetrics.recordsRead)
      c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execDesc.put(s.executionId, Option(s.description).getOrElse(Unattributed))
    case e: SparkListenerSQLExecutionEnd =>
      org.apache.spark.sql.e2ebench.SqlEvents.queryExecution(e)
        .foreach(qe => execOfQe.put(qe, e.executionId))
    case _ =>
  }

  private def recordQe(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
    pendingQe.add((qe, ph))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
    recordQe(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    recordQe(qe)

  /** Fold the planning phases into their requests. Call after the
    * listener bus has drained (see [[drain]]). */
  private def foldQueries(): Unit = {
    var next = pendingQe.poll()
    while (next != null) {
      val (qe, ph) = next
      val id = Option(execOfQe.get(qe)).map(_.longValue).getOrElse(qe.id)
      val c = counters(execDesc.getOrDefault(id, Unattributed))
      c.queries.incrementAndGet()
      c.analysisMs.addAndGet(ph.getOrElse("analysis", 0L))
      c.optimizationMs.addAndGet(ph.getOrElse("optimization", 0L))
      c.planningMs.addAndGet(ph.getOrElse("planning", 0L))
      next = pendingQe.poll()
    }
  }

  /** Wait until no new events arrive for 300 ms, then fold. */
  def drain(): Unit = {
    def stamp = byDesc.values.asScala.map(c => c.tasks.get + c.jobs.get).sum +
      pendingQe.size + execDesc.size
    var last = -1L
    var cur = stamp
    while (cur != last) { Thread.sleep(300); last = cur; cur = stamp }
    foldQueries()
  }

  def install(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}
