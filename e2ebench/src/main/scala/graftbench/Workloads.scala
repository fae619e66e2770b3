package graftbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{Catalog, MassiveFilter}
import graft.workflow.Engine

/** One finished op, as a client saw it. `tag` names the phase and path:
  * m = measured over HTTP, h = traced over HTTP, d = traced direct. */
final case class OpRec(client: Int, k: Int, tag: String, req: String,
    latNs: Long, ok: Boolean, why: String, polls: Int = 0,
    refused: Boolean = false, write: Boolean = false, ncBytes: Long = 0L,
    stateBytes: Long = 0L, core: Option[CoreProbe] = None)

/** Catalog probe after a massive op: MassiveFilter.expand timed on the
  * op's own filters against the live catalog. */
final case class CoreProbe(expandNs: Long, scanned: Long, matched: Long,
    cubesLive: Int, catalogEntries: Int)

final case class Ctx(spark: SparkSession, seed: Long, dir: Path) {
  def rng(parts: Long*): SplittableRandom =
    new SplittableRandom(parts.foldLeft(seed * 0x9E3779B97F4A7C15L)((h, p) =>
      (h ^ p) * 0xBF58476D1CE4E5B9L))
}

/** A workload after set-up: closed-loop clients issue `op`s. */
trait Live {
  def clients: Int
  def op(c: Int, k: Int, tag: String): OpRec
  /** Unmeasured ops that warm the JIT, codegen and caches (once per run). */
  def warmup(): Unit
  /** Run the checks `op` deferred past the measured phase and return
    * the ops with their outcome. By default every check ran in `op`. */
  def settle(ops: Seq[OpRec]): Seq[OpRec] = ops
  /** Build the direct-call path (trace runs only). */
  def enableDirect(spans: Spans): Unit
  /** Measured input-property shares, for the record. */
  def shares(ops: Seq[OpRec]): Seq[(String, Double)]
  def close(): Unit
  protected def timed[T](body: => T): (Long, T) = {
    val t0 = System.nanoTime
    val v = body
    (System.nanoTime - t0, v)
  }
}

object Workloads {
  val names: Seq[String] = Seq("wf_interactive", "wf_batch", "wf_massive",
    "corpus_dedup")

  /** One set-up of `name`: generated inputs, server start, logins and
    * imports (everything but the warm-up). */
  def setup(name: String, ctx: Ctx): Live = name match {
    case "wf_interactive" => new Interactive(ctx)
    case "wf_batch" => new Batch(ctx)
    case "wf_massive" => new Massive(ctx)
    case "corpus_dedup" => new CorpusDedup(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def check(cond: Boolean, why: => String): Option[String] =
    if (cond) None else Some(why)

  /** Run `body(i)` for i in 0 until n on n threads and wait for all. */
  def inParallel(n: Int)(body: Int => Unit): Unit =
    (0 until n).map(i => new Thread(() => body(i))).map { t => t.start(); t }
      .foreach(_.join())
}

import Workloads.check

/** Shared parts of the server workloads. */
abstract class ServerLive(ctx: Ctx, users: Seq[(String, String, Boolean)])
    extends Live {
  val server = new Server(ctx.spark, ctx.dir, users)
  protected val tokens: Map[String, String] =
    users.map(u => u._1 -> server.login(u._1)).toMap
  protected val pollMs = 10
  private val httpPorts = Array.fill[Port](4)(null)
  @volatile protected var direct: DirectPort = _
  def directPort: Option[DirectPort] = Option(direct)
  protected val directDir: Path = ctx.dir.resolve("direct")

  protected def port(c: Int, tag: String): Port =
    if (tag == "d") direct
    else synchronized {
      if (httpPorts(c) == null) httpPorts(c) = new HttpPort(server.base, pollMs)
      httpPorts(c)
    }

  protected def directEngine(code: String, owner: String): Engine = {
    Files.createDirectories(directDir)
    new Engine(ctx.spark, new Catalog(code), owner,
      sessionStateFile = Some(directDir.resolve(s"session-$code.json")),
      runStateFile = Some(directDir.resolve(s"runs-$code.json")))
  }

  protected def rec(c: Int, k: Int, tag: String, req: String, lat: Long,
      reply: Reply, why: Option[String], polls: Int = 0,
      write: Boolean = false, ncBytes: Long = 0L,
      core: Option[CoreProbe] = None): OpRec = {
    val refused = reply.status == 429 || reply.status == 503
    val w = if (reply.status != 200) Some(s"HTTP ${reply.status}: ${reply.body.take(200)}")
      else why
    OpRec(c, k, tag, req, lat, w.isEmpty, w.getOrElse(""), polls, refused,
      write, ncBytes, if (tag == "d") 0L else server.stateBytes, core)
  }

  def close(): Unit = server.close()
}

/** Per-session client state the oracle needs (cubes in the session's
  * catalog, last saved request). */
final class SessState(var cubes: Int, var lastBody: String)

// ------------------------------------------------------------------------

/** 4 clients, each in its own session, sync 2-4-task workflows against
  * a cube imported from scale-factor-0.1 lineitem. */
final class Interactive(ctx: Ctx) extends ServerLive(ctx,
    ("graft", "graft", true) +: (0 until 4).map(i => (s"u$i", s"pw$i", false))) {
  val clients = 4
  private val li = Data.Lineitem(0.1, ctx.seed)
  private val pq = ctx.dir.resolve("lineitem.parquet").toString
  Data.writeLineitemParquet(ctx.spark, li, pq)
  private val qty: Array[Array[Double]] = {
    val a = Array.fill(li.nOrders + 1)(Array.empty[Double])
    li.lines.groupBy(_.orderkey).foreach { case (ok, ls) =>
      a(ok.toInt) = ls.sortBy(_.linenumber).map(_.quantity) }
    a
  }
  private val nLines = li.lines.length
  private val span = li.nOrders / 200

  private def importBody(c: Int) = s"""{"name":"imp$c","sessionid":"s$c",
    "tasks":[{"name":"imp","operator":"oph_importnc","arguments":[
    "src_path=$pq","measure=l_quantity","exp_dim=l_orderkey",
    "imp_dim=l_linenumber","container=base"]}]}"""

  /** Session state per (path, client); the base cube pid per path. */
  private val state = scala.collection.concurrent.TrieMap[(String, Int), SessState]()
  private val basePid = scala.collection.concurrent.TrieMap[(String, Int), String]()

  private def doImport(path: String, c: Int, p: Port, tag: String): Unit = {
    val r = p.execute(importBody(c), tokens(s"u$c"), s"imp-$tag-$c")
    require(r.ok, s"import failed: ${r.body.take(300)}")
    val pid = Resp.text(r.obj("imp").get).get.split("cube=")(1).trim
    basePid((path, c)) = pid
    state((path, c)) = new SessState(1, importBody(c))
  }

  (0 until clients).foreach(c => doImport("http", c, port(c, "m"), "m"))
  // every op type once per client, clients in parallel
  def warmup(): Unit = Workloads.inParallel(clients)(c =>
    (0 until 4).foreach(k => op(c, -1 - k, "m")))

  def enableDirect(spans: Spans): Unit = {
    val engines = (0 until clients).map(c => s"s$c" -> directEngine(s"s$c", s"u$c")).toMap
    direct = new DirectPort(engines, server.auth, spans)
    (0 until clients).foreach(c => doImport("direct", c, direct, "d"))
  }

  def op(c: Int, k: Int, tag: String): OpRec = {
    val path = if (tag == "d") "direct" else "http"
    val st = state((path, c))
    val base = basePid((path, c))
    val p = port(c, tag)
    val auth = tokens(s"u$c")
    val r = ctx.rng(1, c, k)
    val name = s"wi-$tag-$c-$k"
    // a fixed cycle per client, so every run has the same mix: explore
    // ops are 6 of 9 (the median is one of them); warm-up ops (k < 0)
    // take each type once
    val kind = if (k < 0) (-1 - k) % 4 else Interactive.cycle((k + 2 * c) % 9)
    kind match {
      case 0 =>
        val lo = 1 + r.nextInt(li.nOrders - span)
        val hi = lo + span - 1
        val limit = 10 + r.nextInt(91)
        val useApply = r.nextBoolean()
        val m = 2 + r.nextInt(4)
        val redOp = if (r.nextBoolean()) "sum" else "max"
        val step =
          if (useApply) s"""{"name":"op","operator":"oph_apply","arguments":["query=oph_mul_scalar(measure,$m)"],"dependencies":[{"task":"sub"}]}"""
          else s"""{"name":"op","operator":"oph_reduce","arguments":["operation=$redOp"],"dependencies":[{"task":"sub"}]}"""
        val body = s"""{"name":"$name","sessionid":"s$c","tasks":[
          {"name":"sub","operator":"oph_subset","arguments":["cube=$base","subset_dims=l_orderkey","subset_filter=$lo:$hi"]},
          $step,
          {"name":"peek","operator":"oph_explorecube","arguments":["limit_filter=$limit","level=2"],"dependencies":[{"task":"op"}]}]}"""
        val (lat, reply) = timed(p.execute(body, auth, name))
        if (reply.status == 200) { st.cubes += 2; st.lastBody = body }
        def expect(ok: Long): Option[Seq[Double]] =
          if (ok < lo || ok > hi) None
          else {
            val q = qty(ok.toInt)
            Some(if (useApply) q.map(_ * m).toSeq
              else Seq(if (redOp == "sum") q.sum else q.max))
          }
        val shown = math.min(limit, span)
        val why = check(reply.ok, s"error in ${reply.body.take(300)}")
          .orElse(reply.obj("peek").flatMap(Resp.grid) match {
            case None => Some("no peek grid")
            case Some(g) => Oracle.keyedGrid(g, "l_orderkey", "l_quantity",
              shown, expect)
          })
          .orElse(Oracle.summary(reply.obj("explorecube_summary")
            .flatMap(Resp.text).getOrElse(""), span, shown))
        rec(c, k, tag, name, lat, reply, why)
      case 1 =>
        val body = s"""{"name":"$name","sessionid":"s$c","tasks":[
          {"name":"sz","operator":"oph_cubesize","arguments":["cube=$base"]},
          {"name":"sc","operator":"oph_cubeschema","arguments":["cube=$base"]}]}"""
        val (lat, reply) = timed(p.execute(body, auth, name))
        if (reply.status == 200) st.lastBody = body
        val why = check(reply.ok, s"error in ${reply.body.take(300)}")
          .orElse(reply.obj("sz").flatMap(Resp.grid) match {
            case Some(g) if g.rows.size == 1 &&
                Oracle.numbers(g.rows.head(g.col("n_rows"))) == Seq(li.nOrders.toDouble) &&
                Oracle.numbers(g.rows.head(g.col("n_elements"))) == Seq(nLines.toDouble) => None
            case other => Some(s"cubesize $other")
          })
          .orElse(reply.obj("sc").flatMap(Resp.grid) match {
            case Some(g) if g.rows.map(_.take(2)) == Seq(Seq("l_orderkey", "explicit"),
                Seq("l_linenumber", "implicit"), Seq("l_quantity", "measure")) => None
            case other => Some(s"cubeschema $other")
          })
        rec(c, k, tag, name, lat, reply, why)
      case 2 =>
        val body = s"""{"name":"$name","sessionid":"s$c","tasks":[
          {"name":"ls","operator":"oph_list","arguments":["level=2"]},
          {"name":"se","operator":"oph_search","arguments":["path=/"]}]}"""
        val (lat, reply) = timed(p.execute(body, auth, name))
        val want = st.cubes
        if (reply.status == 200) st.lastBody = body
        def count(key: String) = reply.obj(key).flatMap(Resp.text)
          .map(_.stripPrefix("Completed").trim.split('|').count(_.startsWith("http")))
        val why = check(reply.ok, s"error in ${reply.body.take(300)}")
          .orElse(check(count("ls").contains(want), s"oph_list saw ${count("ls")} cubes, want $want"))
          .orElse(check(count("se").contains(want), s"oph_search saw ${count("se")} cubes, want $want"))
        rec(c, k, tag, name, lat, reply, why)
      case _ =>
        val (lat, reply) = timed(p.resumeLastRequest(s"s$c", auth, name))
        val doc = if (reply.status == 200) reply.json.path("document").asText else ""
        val why = check(doc == st.lastBody, "resume returned another request")
        rec(c, k, tag, name, lat, reply, why)
    }
  }

  def shares(ops: Seq[OpRec]): Seq[(String, Double)] = Seq(
    "write_ops_share" -> 0.0,
    "rows_requested_per_op_share" -> span.toDouble / li.nOrders,
    "cubes_in_session_over_cap" -> state.filter(_._1._1 == "http").values
      .map(_.cubes).maxOption.getOrElse(0) / 4096.0)
}

// ------------------------------------------------------------------------

object Interactive {
  val cycle: Array[Int] = Array(0, 0, 1, 0, 0, 2, 0, 0, 3)
}

/** 1 client: import lineitem (parquet or NetCDF-3, by seed), then
  * subset, apply, reduce, aggregate, and end in a read or a write. */
final class Batch(ctx: Ctx) extends ServerLive(ctx, Seq(("graft", "graft", true))) {
  val clients = 1
  private val li = Data.Lineitem(0.1, ctx.seed)
  private val pq = ctx.dir.resolve("lineitem.parquet").toString
  private val nc = ctx.dir.resolve("lineitem.nc").toString
  private val exports = Files.createDirectories(ctx.dir.resolve("exports"))
  Data.writeLineitemParquet(ctx.spark, li, pq)
  Data.writeLineitemNc(li, nc)
  /** Per-supplier line counts and sums of each measure: an op's oracle
    * is a range of these, so checking costs next to nothing. */
  private val suppLines = new Array[Int](li.nSupp + 1)
  private val suppSum = Map("l_quantity" -> new Array[Double](li.nSupp + 1),
    "l_extendedprice" -> new Array[Double](li.nSupp + 1))
  li.lines.foreach { l =>
    suppLines(l.suppkey) += 1
    suppSum("l_quantity")(l.suppkey) += l.quantity
    suppSum("l_extendedprice")(l.suppkey) += l.extendedprice
  }
  def warmup(): Unit = (1 to 4).foreach(k => op(0, -k, "m"))

  def enableDirect(spans: Spans): Unit = {
    val eng = directEngine("sess0001", "graft")
    direct = new DirectPort(_ => eng, server.auth, spans)
  }

  def op(c: Int, k: Int, tag: String): OpRec = {
    val r = ctx.rng(2, k)
    val name = s"wb-$tag-$k"
    // the seed picks where the cycle starts
    val (fromNc, write) = Batch.cycle(Math.floorMod(k + ctx.seed, Batch.cycle.length.toLong).toInt)
    val src = if (fromNc) nc else pq
    val measure = if (r.nextBoolean()) "l_quantity" else "l_extendedprice"
    val a = 1 + r.nextInt(li.nSupp / 2)
    val b = a + li.nSupp / 2 - 1
    val m = 2 + r.nextInt(3)
    val out = exports.resolve(s"$name.nc")
    val last =
      if (write) s"""{"name":"exp","operator":"oph_exportnc","arguments":["output_path=$out"],"dependencies":[{"task":"agg"}]}"""
      else """{"name":"peek","operator":"oph_explorecube","arguments":["limit_filter=100","level=2"],"dependencies":[{"task":"agg"}]}"""
    val body = s"""{"name":"$name","tasks":[
      {"name":"imp","operator":"oph_importnc","arguments":["src_path=$src","measure=$measure","exp_dim=l_suppkey|l_orderkey","imp_dim=l_linenumber","container=batch"]},
      {"name":"sub","operator":"oph_subset","arguments":["subset_dims=l_suppkey","subset_filter=$a:$b"],"dependencies":[{"task":"imp"}]},
      {"name":"app","operator":"oph_apply","arguments":["query=oph_mul_scalar(measure,$m)"],"dependencies":[{"task":"sub"}]},
      {"name":"red","operator":"oph_reduce","arguments":["operation=sum"],"dependencies":[{"task":"app"}]},
      {"name":"agg","operator":"oph_aggregate","arguments":["operation=sum","group_by=l_suppkey"],"dependencies":[{"task":"red"}]},
      $last]}"""
    val (lat, reply) = timed(port(c, tag).execute(body, tokens("graft"), name))
    val want = (a to b).filter(suppLines(_) > 0)
      .map(sk => sk.toLong -> suppSum(measure)(sk) * m).toMap
    val why = check(reply.ok, s"error in ${reply.body.take(300)}").orElse {
      if (!write) {
        val shown = math.min(100, want.size)
        reply.obj("peek").flatMap(Resp.grid) match {
          case None => Some("no peek grid")
          case Some(g) =>
            Oracle.summary(reply.obj("explorecube_summary").flatMap(Resp.text)
              .getOrElse(""), want.size, shown).orElse {
              val ki = g.col("l_suppkey"); val vi = g.col(measure)
              check(ki >= 0 && vi >= 0 && g.rows.size == shown &&
                g.rows.forall { row =>
                  val key = Oracle.numbers(row(ki)).head.toLong
                  want.get(key).exists(w => Oracle.approx(Oracle.numbers(row(vi)).head, w))
                }, s"grid differs from the oracle (${g.rows.take(3)})")
            }
        }
      } else Oracle.export(reply.obj("exp").flatMap(Resp.text).getOrElse(""),
        if (Files.exists(out)) Oracle.readNc(out) else Map.empty, measure, want)
    }
    val bytes = if (Files.exists(out)) Files.size(out) else 0L
    Files.deleteIfExists(out)
    rec(c, k, tag, name, lat, reply, why, write = write, ncBytes = bytes)
  }

  def shares(ops: Seq[OpRec]): Seq[(String, Double)] = Seq(
    "write_ops_share" -> (if (ops.isEmpty) 0.0 else ops.count(_.write).toDouble / ops.size),
    "subset_rows_share" -> 0.5)
}

// ------------------------------------------------------------------------

object Batch {
  /** (read the NetCDF copy, end in a write) for each step of the cycle:
    * per cycle each source ends twice in a read and once in a write. A
    * third of the ops write, so the median lies among the reads; with
    * half writing it would sit on the boundary between the read and the
    * write latencies and flip with the count of each in a run. */
  val cycle: Array[(Boolean, Boolean)] = Array((false, false), (true, true),
    (true, false), (false, false), (false, true), (true, false))
}

/** 2 clients in one shared session, async submit + status polling:
  * import, a 24-branch parallel oph_for of subsets with a counting
  * explorecube each, then massive apply and reduce over the container,
  * all with the cube store held at its cap (LRU eviction on every op). */
final class Massive(ctx: Ctx) extends ServerLive(ctx,
    Seq(("graft", "graft", true), ("u1", "pw1", false))) {
  val clients = 2
  val branches = 24
  val storeCap = 4096
  private val li = Data.Lineitem(0.01, ctx.seed)
  private val pq = ctx.dir.resolve("lineitem.parquet").toString
  Data.writeLineitemParquet(ctx.spark, li, pq)
  private val qtySum: Array[Double] = {
    val a = new Array[Double](li.nOrders + 1)
    li.lines.foreach(l => a(l.orderkey.toInt) += l.quantity)
    a
  }
  private val width = li.nOrders / branches
  private val userOf = Array("graft", "u1")

  /** Grant the second user the execute role, then fill the store to its
    * cap with cheap duplicates so every measured op evicts. */
  private def prepare(p: Port, tag: String): Unit = {
    def run(name: String, tasks: String): Unit = {
      val r = p.execute(s"""{"name":"$name","sessionid":"msv","save":"no",
        "output_format":"compact","tasks":[$tasks]}""", tokens("graft"), name)
      require(r.ok, s"$name failed: ${r.body.take(300)}")
    }
    run(s"grant-$tag", """{"name":"g","operator":"oph_manage_session","arguments":["action=grant","grantee=u1","role=execute"]}""")
    run(s"fill-$tag", """{"name":"mk","operator":"oph_randcube","arguments":["nrows=1","array_length=1","container=fill"]}""")
    (1 to 12).foreach(i => run(s"fill-$tag-$i",
      """{"name":"dup","operator":"oph_duplicate","arguments":["cube=[container=fill]"]}"""))
  }

  prepare(port(0, "m"), "m")
  def warmup(): Unit = {
    Workloads.inParallel(clients)(c => op(c, -1, "m"))
    settle(Nil)
  }

  /** Value checks deferred past the measured phase, oldest first, by
    * request. Each is an extra explorecube request to the server: inside
    * the loop it would add its time and CPU to the measured phase and
    * contend with the other client's op. */
  private val pending =
    new java.util.concurrent.ConcurrentLinkedDeque[(String, () => Option[String])]()
  private val settled = scala.collection.concurrent.TrieMap[String, Option[String]]()
  /** An op registers 1 + 3 * branches cubes; a check must run before LRU
    * eviction drops the cube it reads, so past this many open checks
    * (half the store) the oldest one runs inside the loop. */
  private val maxPending = storeCap / 2 / (1 + 3 * branches)
  private val verifyNs = new java.util.concurrent.atomic.AtomicLong(0L)
  private val checksInLoop = new java.util.concurrent.atomic.AtomicInteger(0)
  private def runOldest(): Unit = Option(pending.pollFirst()).foreach { case (req, chk) =>
    settled(req) = scala.util.Try(chk()).fold(e => Some(s"check failed: $e"), identity)
  }

  override def settle(ops: Seq[OpRec]): Seq[OpRec] = {
    val t0 = System.nanoTime
    while (!pending.isEmpty) runOldest()
    verifyNs.addAndGet(System.nanoTime - t0)
    ops.map(o => settled.remove(o.req) match {
      case Some(Some(err)) if o.ok => o.copy(ok = false, why = err)
      case _ => o
    })
  }

  private var directEng: Engine = _

  def enableDirect(spans: Spans): Unit = {
    directEng = directEngine("msv", "graft")
    direct = new DirectPort(_ => directEng, server.auth, spans)
    prepare(direct, "d")
  }

  def op(c: Int, k: Int, tag: String): OpRec = {
    val r = ctx.rng(3, c, k)
    val name = s"wm-$tag-$c-$k"
    val container = s"m$tag$c${if (k < 0) s"w${-k}" else k.toString}"
    val m = 2 + r.nextInt(3)
    val ranges = (1 to branches).map(i => s"${(i - 1) * width + 1}:${i * width}")
    val body = s"""{"name":"$name","sessionid":"msv","exec_mode":"async","tasks":[
      {"name":"imp","operator":"oph_importnc","arguments":["src_path=$pq","measure=l_quantity","exp_dim=l_orderkey","imp_dim=l_linenumber","container=$container"]},
      {"name":"loop","operator":"oph_for","arguments":["key=r","values=${ranges.mkString("|")}","parallel=yes"]},
      {"name":"sub","operator":"oph_subset","arguments":["subset_dims=l_orderkey","subset_filter=@r"],"dependencies":[{"task":"imp"}]},
      {"name":"peek","operator":"oph_explorecube","arguments":["limit_filter=3","level=2"],"dependencies":[{"task":"sub"}]},
      {"name":"end","operator":"oph_endfor"},
      {"name":"app","operator":"oph_apply","arguments":["cube=[container=$container;level=1]","query=oph_mul_scalar(measure,$m)"]},
      {"name":"red","operator":"oph_reduce","arguments":["cube=[container=$container;level=2]","operation=sum"]}]}"""
    val p = port(c, tag)
    val auth = tokens(userOf(c))
    val (lat, done) = timed(p.submitAsync(body, name, "msv", auth, name))
    val core = if (tag != "d") None else Some {
      val filters = Seq(1, 2).map(l => s"[container=$container;level=$l]")
      val (ns, hits) = timed(filters.map(f => MassiveFilter.expand(f, directEng.catalog).size))
      val entries = directEng.catalog.allCubes.size
      CoreProbe(ns, entries.toLong * filters.size, hits.sum, directEng.cubeCount, entries)
    }
    val reply = Reply(done.status, "")
    if (done.status != 200)
      return rec(c, k, tag, name, lat, reply, Some(s"submit ${done.state}"), done.polls, core = core)
    val tasks = done.tasks()
    val expected = Seq("imp", "app", "red") ++
      (1 to branches).flatMap(i => Seq(s"sub_$i", s"peek_$i"))
    val why = check(done.state == "completed", s"status ${done.state}")
      .orElse(expected.find(t => !tasks.get(t).exists(_._1 == "Completed"))
        .map(t => s"task $t: ${tasks.get(t)}"))
    // value check on the last reduced cube, deferred (see `pending`)
    if (why.isEmpty) {
      val pid = tasks("red")._2.getOrElse("")
      pending.addLast(name -> (() => {
        val chk = p.execute(s"""{"name":"chk-$name","sessionid":"msv","save":"no","tasks":[
          {"name":"peek","operator":"oph_explorecube","arguments":["cube=$pid","limit_filter=100","level=2"]}]}""",
          auth, s"chk-$name")
        val g = chk.obj("peek").flatMap(Resp.grid)
        val keys = g.toSeq.flatMap(g => g.rows.map(row =>
          Oracle.numbers(row(g.col("l_orderkey"))).head.toLong))
        val branch = keys.headOption.map(x => ((x - 1) / width).toInt)
        check(chk.ok && g.isDefined, s"check request failed: ${chk.body.take(200)}")
          .orElse(check(branch.isDefined, "empty reduced cube"))
          .orElse {
            val lo = branch.get * width + 1L
            val hi = lo + width - 1
            Oracle.keyedGrid(g.get, "l_orderkey", "l_quantity", math.min(100, width),
              ok => if (ok < lo || ok > hi) None else Some(Seq(qtySum(ok.toInt) * m)))
              .orElse(Oracle.summary(chk.obj("explorecube_summary").flatMap(Resp.text)
                .getOrElse(""), width, math.min(100, width)))
          }
      }))
      if (pending.size > maxPending) { checksInLoop.incrementAndGet(); runOldest() }
    }
    rec(c, k, tag, name, lat, reply, why, done.polls, core = core)
  }

  /** Cubes registered in the shared session (fill, warm-up and measured
    * ops) over the store cap: above 1, every registration evicts. */
  def shares(ops: Seq[OpRec]): Seq[(String, Double)] = Seq(
    "write_ops_share" -> 0.0,
    "cubes_registered_over_cap" ->
      (storeCap + (1 + 3.0 * branches) * (ops.size + clients)) / storeCap,
    "cubes_per_op_over_cap" -> (1 + 3.0 * branches) / storeCap,
    "value_checks_outside_phase_s" -> verifyNs.get / 1e9,
    "value_checks_in_loop" -> checksInLoop.get.toDouble)
}

// ------------------------------------------------------------------------

/** No server: the graft.pipeline dedup pass over a generated corpus. */
final class CorpusDedup(ctx: Ctx) extends Live {
  val clients = 1
  val docs = 4000
  val k = 5
  val tau = 0.8
  private val spark = ctx.spark
  private val corpus = Data.corpus(ctx.seed, docs)
  private val path = ctx.dir.resolve("corpus.parquet").toString
  locally {
    import spark.implicits._
    corpus.texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toSeq
      .toDF("id", "text").repartition(spark.sparkContext.defaultParallelism)
      .write.parquet(path)
  }
  @volatile private var spans: Spans = _
  @volatile private var trace: Option[PipelineTrace] = None

  /** The verified reference output (full oracle on the warm-up pass). */
  @volatile private var reference: Either[String, Oracle.DedupOut] =
    Left("no warm-up pass")
  def warmup(): Unit = {
    val out = pass("cd-warm", None)
    reference = Oracle.dedup(corpus, out, k, tau).toLeft(out)
  }
  def verified: Either[String, Oracle.DedupOut] = reference

  def enableDirect(s: Spans): Unit = { spans = s; trace = Some(PipelineTrace()) }

  private def release(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** One dedup pass. Traced passes force each stage on its own. */
  private def pass(name: String, t: Option[PipelineTrace]): Oracle.DedupOut = {
    import graft.pipeline.{Dedup, TextAnalysis}
    spark.sparkContext.setJobDescription(name)
    try {
      val scored = TextAnalysis.scoreDocuments(spark.read.parquet(path), "id", "text")
      val kept = scored.filter(col("lang") === "en").select("id", "text")
      t.foreach { _ =>
        kept.persist()
        spans.timed("pipeline.score", name)(kept.count())
      }
      val pairs = Dedup.minhashLsh(kept, "id", "text", k = k, tau = tau)
        .select("id_a", "id_b").persist()
      val pairList = t match {
        case Some(_) => spans.timed("pipeline.minhash", name)(
          pairs.collect())
        case None => pairs.collect()
      }
      val cc = Dedup.connectedComponents(kept.select("id"),
        pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
      val labelRows = t match {
        case Some(_) => spans.timed("pipeline.cc", name)(cc.collect())
        case None => cc.collect()
      }
      // one representative per cluster: the smallest id
      val reps = cc.groupBy("cluster_id").agg(min("vertex_id")).collect()
        .map(_.getLong(1)).toSet
      val raw = labelRows.map(r => r.getLong(0) -> r.getLong(1)).toMap
      // normalise each cluster's label to its smallest member
      val minOf = raw.groupBy(_._2).map { case (l, vs) => l -> vs.keys.min }
      val out = Oracle.DedupOut(pairList.map(r => (r.getLong(0), r.getLong(1))).toSeq,
        raw.map { case (v, l) => v -> minOf(l) })
      require(reps == out.representatives, "representatives disagree with labels")
      t.foreach { tr =>
        tr.pairs = pairList.length
        tr.maxComponent = out.labels.groupBy(_._2).values.map(_.size).maxOption.getOrElse(0)
      }
      out
    } finally {
      spark.sparkContext.setJobDescription(null)
      release()
    }
  }

  def op(c: Int, kk: Int, tag: String): OpRec = {
    val name = s"cd-$tag-$kk"
    val (lat, res) = timed(scala.util.Try(pass(name, if (tag == "d") trace else None)))
    val why = res match {
      case scala.util.Failure(e) => Some(s"pass failed: $e")
      case scala.util.Success(out) => reference match {
        case Left(err) => Some(s"reference pass failed the oracle: $err")
        case Right(ref) =>
          // pairs as a set: join and partition order may change freely
          check(out.pairs.toSet == ref.pairs.toSet && out.labels == ref.labels,
            "pass output differs from the verified reference")
      }
    }
    OpRec(c, kk, tag, name, lat, why.isEmpty, why.getOrElse(""))
  }

  def pipelineTrace: Option[PipelineTrace] = trace

  /** LSH candidate pairs before the Jaccard check (tau = 0 keeps them
    * all): the base of pipeline.pair_precision. Traced runs only. */
  def countCandidates(): Unit = trace.foreach { tr =>
    import graft.pipeline.{Dedup, TextAnalysis}
    val kept = TextAnalysis.scoreDocuments(spark.read.parquet(path), "id", "text")
      .filter(col("lang") === "en").select("id", "text")
    tr.candidates = spans.timed("pipeline.candidates", "cd-candidates")(
      Dedup.minhashLsh(kept, "id", "text", k = k, tau = 0.0).count())
    release()
  }

  def shares(ops: Seq[OpRec]): Seq[(String, Double)] = Seq(
    "write_ops_share" -> 0.0,
    "docs_in_planted_clusters_share" -> corpus.clusteredShare,
    "exact_duplicate_share" -> corpus.exactDups.toDouble / docs,
    "largest_cluster_share" -> corpus.largestCluster.toDouble / docs,
    "gated_out_share" -> corpus.english.count(!_).toDouble / docs,
    "corpus_docs" -> docs.toDouble)

  def close(): Unit = release()
}

/** Counts from traced dedup passes. */
final case class PipelineTrace() {
  @volatile var candidates: Long = 0L
  @volatile var pairs: Long = 0L
  @volatile var maxComponent: Int = 0
}
