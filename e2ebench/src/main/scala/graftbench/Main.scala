package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

/** End-to-end benchmark entry point.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <private dir> --out <results dir>
  * Main --train <private dir>
  * }}}
  * The last stdout line is the result object; the lines before it
  * carry the detail (tail percentile and its sample count, measured
  * input shares, per-layer self times in traced runs). */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, out: Path)

  /** Set-ups per measured run; setup_s takes their median. */
  val SetupReps = 3

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Path.of(need("work")), Path.of(need("out")))
  }

  /** The fixed class-loading pass the JVM class-data archive is dumped
    * from: set up and warm every workload once on seed 0, measure
    * nothing. */
  private def train(work: Path): Unit = {
    SelfTest.run().foreach(err => sys.error(s"oracle self-test failed: $err"))
    val spark = Session.build(work)
    spark.sparkContext.setLogLevel("ERROR")
    try Workloads.names.foreach { n =>
      val live = Workloads.setup(n, Ctx(spark, 0L, Files.createDirectories(work.resolve(n))))
      live.warmup()
      live.close()
    } finally spark.stop()
  }

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--train")) return train(Path.of(argv(1)))
    val a = parse(argv)
    require(Workloads.names.contains(a.workload), s"unknown workload ${a.workload}")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    // the oracle must be live in every run: corrupted outputs must count
    SelfTest.run().foreach { err =>
      System.err.println(s"oracle self-test failed: $err"); sys.exit(3)
    }
    val spark = Session.build(a.work)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis - jvmStartMs) / 1000.0
    try {
      val reps = if (a.trace) 1 else SetupReps
      val durations = ArrayBuffer[Double]()
      var live: Live = null
      (0 until reps).foreach { i =>
        val dir = Files.createDirectories(a.work.resolve(s"setup$i"))
        val t0 = System.nanoTime
        val l = Workloads.setup(a.workload, Ctx(spark, a.seed, dir))
        durations += (System.nanoTime - t0) / 1e9
        if (i < reps - 1) { l.close(); Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.delete(p)) }
        else live = l
      }
      val tw = System.nanoTime
      live.warmup()
      val warmS = (System.nanoTime - tw) / 1e9
      // process start to first measured op, with the repeated set-up
      // part taken as the median of its repetitions
      val setupS = sessionS + Stats.median(durations.toSeq) + warmS
      live match {
        case c: CorpusDedup => c.verified.left.foreach(e =>
          System.err.println(s"[e2ebench] reference pass failed the oracle: $e"))
        case _ =>
      }
      val line =
        if (a.trace) Traced.run(a, spark, live)
        else measured(a, live, setupS, sessionS, durations.toSeq, warmS)
      live.close()
      println(line)
    } finally spark.stop()
  }

  /** Closed loop: each client issues ops back to back until `seconds`.
    * Returns the ops (checks a workload defers are still open, see
    * `Live.settle`), the phase wall time, and per client the time to its
    * last reply. */
  def closedLoop(live: Live, seconds: Double, tag: String): (Seq[OpRec], Double, Seq[(Int, Double)]) = {
    val t0 = System.nanoTime
    val deadline = t0 + (seconds * 1e9).toLong
    val recs = new java.util.concurrent.ConcurrentLinkedQueue[OpRec]()
    val windows = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double)]()
    Workloads.inParallel(live.clients) { c =>
      var k = 0
      while (System.nanoTime < deadline) {
        recs.add(safeOp(live, c, k, tag)); k += 1
      }
      windows.add(c -> (System.nanoTime - t0) / 1e9)
    }
    import scala.jdk.CollectionConverters._
    (recs.asScala.toSeq, (System.nanoTime - t0) / 1e9, windows.asScala.toSeq)
  }

  /** The checked-correct rate: the sum over clients of ops correct /
    * time to their last reply (a client is never idle before that, so
    * the last op's overrun of the deadline does not dilute the rate). */
  def rate(ops: Seq[OpRec], windows: Seq[(Int, Double)]): Double =
    windows.map { case (c, s) => ops.count(o => o.client == c && o.ok) / s }.sum

  /** Replay exactly the ops `done` lists, per client in order, then
    * settle their deferred checks. */
  def replay(live: Live, done: Seq[OpRec], tag: String): Seq[OpRec] = {
    val recs = new java.util.concurrent.ConcurrentLinkedQueue[OpRec]()
    val byClient = done.groupBy(_.client).toSeq
    Workloads.inParallel(byClient.size) { i =>
      val (c, ops) = byClient(i)
      ops.map(_.k).sorted.foreach(k => recs.add(safeOp(live, c, k, tag)))
    }
    import scala.jdk.CollectionConverters._
    live.settle(recs.asScala.toSeq)
  }

  def safeOp(live: Live, c: Int, k: Int, tag: String): OpRec = {
    val t0 = System.nanoTime
    try live.op(c, k, tag)
    catch { case e: Exception =>
      OpRec(c, k, tag, s"op-$tag-$c-$k", System.nanoTime - t0, ok = false,
        s"exception: $e")
    }
  }

  final case class Summary(attempted: Int, failed: Int, p50Ms: Double,
      tailMs: Double, tailPct: Double, tailBeyond: Int, throughput: Double)

  def summarize(ops: Seq[OpRec], rate: Double): Summary = {
    val okLat = ops.filter(_.ok).map(_.latNs / 1e6)
    val (tail, pct, beyond) =
      if (okLat.isEmpty) (0.0, 0.0, 0) else Stats.tail(okLat)
    Summary(ops.size, ops.count(!_.ok),
      if (okLat.isEmpty) 0.0 else Stats.median(okLat), tail, pct, beyond, rate)
  }

  def metric(name: String, v: Double, unit: String): (String, String) =
    name -> Js.obj(Seq("value" -> Js.num(v), "unit" -> Js.str(unit)))

  def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, String)]): String =
    Js.obj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> Js.obj(metrics)))

  private def measured(a: Args, live: Live, setupS: Double, sessionS: Double,
      setups: Seq[Double], warmS: Double): String = {
    val cpu0 = Jvm.processCpuNs
    val heap = new Jvm.HeapPeak
    val (raw, wall, windows) = closedLoop(live, a.seconds, "m")
    val cpuMs = (Jvm.processCpuNs - cpu0) / 1e6
    heap.close()
    // deferred checks run outside the measured time, CPU and heap
    val ops = live.settle(raw)
    val s = summarize(ops, rate(ops, windows))
    ops.filterNot(_.ok).take(5).foreach(o =>
      System.err.println(s"[e2ebench] failed op ${o.req}: ${o.why}"))
    println(Js.obj(Seq("workload" -> Js.str(a.workload), "seed" -> a.seed.toString,
      "clients" -> live.clients.toString, "loop" -> Js.str("closed"),
      "wall_s" -> Js.num(wall), "ops" -> s.attempted.toString,
      "error_rate" -> Js.num(s.failed.toDouble / math.max(1, s.attempted)),
      "tail_percentile" -> Js.num(s.tailPct), "tail_samples_beyond" -> s.tailBeyond.toString,
      "latency_samples" -> (s.attempted - s.failed).toString,
      "session_s" -> Js.num(sessionS),
      "setup_reps_s" -> setups.map(Js.num).mkString("[", ",", "]"),
      "warmup_s" -> Js.num(warmS),
      "shares" -> Js.obj(live.shares(ops).map { case (k, v) => k -> Js.num(v) }))))
    val correct = s.failed == 0 && s.attempted > 0 && (live match {
      case c: CorpusDedup => c.verified.isRight
      case _ => true
    })
    result(correct, s.attempted, s.failed, Seq(
      metric("latency_p50_ms", s.p50Ms, "ms"),
      metric("latency_tail_ms", s.tailMs, "ms"),
      metric("throughput_ops_s", s.throughput, "1/s"),
      metric("cpu_ms_per_op", cpuMs / math.max(1, s.attempted), "ms"),
      metric("success_rate", (s.attempted - s.failed).toDouble / math.max(1, s.attempted), "ratio"),
      metric("heap_peak_mb", heap.peakBytes / 1048576.0, "MB"),
      metric("setup_s", setupS, "s")))
  }
}
