package graftbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** The traced run. A closed-loop phase first fixes the op stream and
  * warms the process; the stream is then replayed untraced over HTTP,
  * and, with the Spark listener installed, over HTTP again and through
  * direct calls to the functions the HTTP handler calls, each call a
  * span. Per-layer numbers come from the traced replays; the tracing
  * overhead is the traced HTTP median minus the untraced replay's
  * (for corpus_dedup, traced passes against untraced ones). */
object Traced {

  /** Every per-layer metric, with its unit. */
  val layerMetrics: Seq[(String, String)] = Seq(
    "server.overhead_ms" -> "ms", "server.auth_ms" -> "ms",
    "server.state_bytes_per_op" -> "bytes", "server.status_polls_per_op" -> "count",
    "server.refused" -> "count",
    "workflow.parse_ms" -> "ms", "workflow.validate_ms" -> "ms",
    "workflow.run_ms" -> "ms", "workflow.driver_ms" -> "ms",
    "workflow.tasks_per_op" -> "count",
    "core.expand_ms" -> "ms", "core.expand_scanned_per_match" -> "count",
    "core.cubes_live" -> "count", "core.catalog_entries" -> "count",
    "spark.analysis_ms" -> "ms", "spark.optimization_ms" -> "ms",
    "spark.planning_ms" -> "ms", "spark.queries_per_op" -> "count",
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.task_wait_ms" -> "ms",
    "spark.job_wall_ms" -> "ms", "spark.task_run_ms" -> "ms",
    "spark.task_cpu_ms" -> "ms", "spark.input_bytes" -> "bytes",
    "spark.input_records" -> "count", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.task_failures" -> "count",
    "sources.nc_bytes_written_per_op" -> "bytes",
    "render.ms" -> "ms", "render.bytes_per_op" -> "bytes",
    "pipeline.score_ms" -> "ms", "pipeline.minhash_ms" -> "ms",
    "pipeline.cc_ms" -> "ms", "pipeline.candidate_pairs" -> "count",
    "pipeline.pair_precision" -> "ratio", "pipeline.cc_max_component" -> "count",
    "jvm.gc_ms_per_op" -> "ms",
    "trace.overhead_ms" -> "ms", "trace.unattributed_ms" -> "ms",
    "trace.unattributed_jobs" -> "count")

  def run(a: Main.Args, spark: SparkSession, live: Live): String = {
    val opsM = live.settle(Main.closedLoop(live, a.seconds / 2, "m")._1)
    val spans = new Spans
    live.enableDirect(spans)
    val isCorpus = live.isInstanceOf[CorpusDedup]
    val base = if (isCorpus && opsM.size < 2)
      opsM ++ (opsM.size until 2).map(k => OpRec(0, k, "m", "", 0L, ok = true, "")) else opsM
    val opsU = Main.replay(live, base, "u")
    val st = new SparkTrace(spark).install()
    val epoch0 = System.currentTimeMillis
    val nano0 = System.nanoTime
    def toNs(epochMs: Long): Long = nano0 + (epochMs - epoch0) * 1000000L
    val gc0 = Jvm.gcMs
    val opsH = if (isCorpus) Seq.empty else Main.replay(live, base, "h")
    val opsD = Main.replay(live, base, "d")
    val gcMs = Jvm.gcMs - gc0
    live match {
      case c: CorpusDedup => c.countCandidates()
      case _ =>
    }
    st.drain()
    st.uninstall()

    val all = spans.all
    val byReq = all.groupBy(_.request)
    def mean(xs: Iterable[Double]) = Stats.mean(xs.toSeq)
    def spanMs(req: String, name: String) =
      byReq.getOrElse(req, Nil).filter(_.name == name).map(_.durNs).sum / 1e6
    def jobsIn(req: String, s: Span): Seq[(Long, Long)] = {
      import scala.jdk.CollectionConverters._
      st.counters(req).jobIntervals.asScala.toSeq.map { case (b, e) =>
        (math.max(toNs(b), s.start), math.min(toNs(e), s.end)) }
    }
    // job spans into the span store, under the layer span they ran in
    opsD.foreach { o =>
      import scala.jdk.CollectionConverters._
      st.counters(o.req).jobIntervals.asScala.foreach { case (b, e) =>
        val parent = byReq.getOrElse(o.req, Nil)
          .find(s => s.start <= toNs(b) && toNs(b) <= s.end).map(_.name).getOrElse("request")
        spans.add(Span("spark.job", toNs(b), toNs(e), parent, o.req))
      }
    }
    /** Per direct op: layer -> self ms. Spark job time inside a layer's
      * span is that span's child, reported as "spark". */
    val selfTimes: Seq[Map[String, Double]] = opsD.map { o =>
      val top = byReq.getOrElse(o.req, Nil)
      val perLayer = top.map { s =>
        val jobs = Stats.unionLength(jobsIn(o.req, s))
        (s.name, (s.durNs - jobs) / 1e6, jobs / 1e6)
      }
      val m = perLayer.groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).sum } +
        ("spark" -> perLayer.map(_._3).sum)
      m + ("unattributed" -> (o.latNs / 1e6 - top.map(_.durNs).sum / 1e6))
    }
    val layerNames = selfTimes.flatMap(_.keys).distinct.sorted
    val selfMean = layerNames.map(n => n -> mean(selfTimes.map(_.getOrElse(n, 0.0))))

    def sparkPerOp(f: st.Counters => Double): Double =
      mean(opsD.map(o => f(st.counters(o.req))))
    val tasks = opsD.map(o => st.counters(o.req).tasks.get).sum
    val pipe = live match { case c: CorpusDedup => c.pipelineTrace case _ => None }
    val direct = live match { case s: ServerLive => s.directPort case _ => None }
    val okMs = (ops: Seq[OpRec]) => ops.filter(_.ok).map(_.latNs / 1e6)
    val medU = Stats.median(okMs(opsU).padTo(1, 0.0))
    val medH = Stats.median(okMs(opsH).padTo(1, 0.0))
    val medD = Stats.median(okMs(opsD).padTo(1, 0.0))
    val cores = opsD.flatMap(_.core)
    val values: Map[String, Double] = Map(
      "server.overhead_ms" -> (if (isCorpus) 0.0 else medH - medD),
      "server.auth_ms" -> mean(opsD.map(o => spanMs(o.req, "server.auth"))),
      "server.state_bytes_per_op" -> mean(opsH.map(_.stateBytes.toDouble)),
      "server.status_polls_per_op" -> mean(opsH.map(_.polls.toDouble)),
      "server.refused" -> (opsM ++ opsU ++ opsH).count(_.refused).toDouble,
      "workflow.parse_ms" -> mean(opsD.map(o => spanMs(o.req, "workflow.parse"))),
      "workflow.validate_ms" -> mean(opsD.map(o => spanMs(o.req, "workflow.validate"))),
      "workflow.run_ms" -> mean(opsD.map(o => spanMs(o.req, "workflow.run"))),
      "workflow.driver_ms" -> mean(selfTimes.map(_.getOrElse("workflow.run", 0.0))),
      "workflow.tasks_per_op" -> mean(opsD.map(o =>
        direct.flatMap(d => Option(d.tasksOf.get(o.req))).map(_.toDouble).getOrElse(0.0))),
      "core.expand_ms" -> mean(cores.map(_.expandNs / 1e6)),
      "core.expand_scanned_per_match" -> mean(cores.map(c => c.scanned.toDouble / math.max(1L, c.matched))),
      "core.cubes_live" -> mean(cores.map(_.cubesLive.toDouble)),
      "core.catalog_entries" -> mean(cores.map(_.catalogEntries.toDouble)),
      "spark.analysis_ms" -> sparkPerOp(_.analysisMs.get.toDouble),
      "spark.optimization_ms" -> sparkPerOp(_.optimizationMs.get.toDouble),
      "spark.planning_ms" -> sparkPerOp(_.planningMs.get.toDouble),
      "spark.queries_per_op" -> sparkPerOp(_.queries.get.toDouble),
      "spark.jobs_per_op" -> sparkPerOp(_.jobs.get.toDouble),
      "spark.stages_per_op" -> sparkPerOp(_.stages.get.toDouble),
      "spark.tasks_per_op" -> sparkPerOp(_.tasks.get.toDouble),
      "spark.task_wait_ms" -> opsD.map(o => st.counters(o.req).taskWaitMs.get).sum.toDouble /
        math.max(1L, tasks),
      "spark.job_wall_ms" -> sparkPerOp(c => {
        import scala.jdk.CollectionConverters._
        Stats.unionLength(c.jobIntervals.asScala.toSeq).toDouble
      }),
      "spark.task_run_ms" -> sparkPerOp(_.taskRunMs.get.toDouble),
      "spark.task_cpu_ms" -> sparkPerOp(_.taskCpuNs.get / 1e6),
      "spark.input_bytes" -> sparkPerOp(_.inputBytes.get.toDouble),
      "spark.input_records" -> sparkPerOp(_.inputRecords.get.toDouble),
      "spark.shuffle_read_bytes" -> sparkPerOp(_.shuffleRead.get.toDouble),
      "spark.shuffle_write_bytes" -> sparkPerOp(_.shuffleWrite.get.toDouble),
      "spark.spill_bytes" -> sparkPerOp(_.spill.get.toDouble),
      "spark.task_failures" -> sparkPerOp(_.taskFailures.get.toDouble),
      "sources.nc_bytes_written_per_op" -> mean(opsD.map(_.ncBytes.toDouble)),
      "render.ms" -> mean(opsD.map(o => spanMs(o.req, "render"))),
      "render.bytes_per_op" -> mean(opsD.map(o =>
        direct.flatMap(d => Option(d.renderBytesOf.get(o.req))).map(_.toDouble).getOrElse(0.0))),
      "pipeline.score_ms" -> mean(opsD.map(o => spanMs(o.req, "pipeline.score"))),
      "pipeline.minhash_ms" -> mean(opsD.map(o => spanMs(o.req, "pipeline.minhash"))),
      "pipeline.cc_ms" -> mean(opsD.map(o => spanMs(o.req, "pipeline.cc"))),
      "pipeline.candidate_pairs" -> pipe.map(_.candidates.toDouble).getOrElse(0.0),
      "pipeline.pair_precision" -> pipe.map(p => p.pairs.toDouble / math.max(1L, p.candidates)).getOrElse(0.0),
      "pipeline.cc_max_component" -> pipe.map(_.maxComponent.toDouble).getOrElse(0.0),
      "jvm.gc_ms_per_op" -> gcMs.toDouble / math.max(1, opsH.size + opsD.size),
      "trace.overhead_ms" -> ((if (isCorpus) medD else medH) - medU),
      "trace.unattributed_ms" -> mean(selfTimes.map(_.getOrElse("unattributed", 0.0))),
      "trace.unattributed_jobs" -> st.counters(st.Unattributed).jobs.get.toDouble)

    val all3 = opsM ++ opsU ++ opsH ++ opsD
    all3.filterNot(_.ok).take(5).foreach(o =>
      System.err.println(s"[e2ebench] failed op ${o.req}: ${o.why}"))
    Files.createDirectories(a.out)
    val stem = s"trace-${a.workload}-seed${a.seed}"
    spans.writeJsonl(a.out.resolve(s"$stem-spans.jsonl"))
    val detail = Js.obj(Seq(
      "workload" -> Js.str(a.workload), "seed" -> a.seed.toString,
      "ops" -> Js.obj(Seq("closed_loop" -> opsM.size.toString,
        "untraced_replay" -> opsU.size.toString,
        "traced_http" -> opsH.size.toString, "traced_direct" -> opsD.size.toString)),
      "latency_p50_ms" -> Js.obj(Seq("untraced_replay" -> Js.num(medU),
        "traced_http" -> Js.num(medH), "traced_direct" -> Js.num(medD))),
      "tracing_overhead_ms" -> Js.num(values("trace.overhead_ms")),
      "self_ms_per_op" -> Js.obj(selfMean.map { case (n, v) => n -> Js.num(v) }),
      "per_layer" -> Js.obj(layerMetrics.map { case (n, _) => n -> Js.num(values(n)) })))
    Files.writeString(a.out.resolve(s"$stem.json"), detail + "\n")
    println(detail)
    Main.result(all3.forall(_.ok) && all3.nonEmpty, all3.size, all3.count(!_.ok),
      layerMetrics.map { case (n, u) => Main.metric(n, values(n), u) })
  }
}
