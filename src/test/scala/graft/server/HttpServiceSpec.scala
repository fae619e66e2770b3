package graft.server

import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets
import java.util.Base64

import com.fasterxml.jackson.databind.ObjectMapper

import graft.SparkSpec
import graft.core.Catalog
import graft.workflow.Engine

/**
 * End-to-end service-layer checks: POST the reference-shaped workflow
 * request JSON over real HTTP, get the rendered Response envelope back;
 * 401/403 paths; async + status; resume route.
 */
class HttpServiceSpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  private def withService(test: (HttpService, String, Engine) => Unit): Unit = {
    val engine = new Engine(spark, new Catalog("sess"))
    val auth = new AuthService
    auth.addUser("graft", "secret")      // the engine session owner
    auth.addUser("intruder", "pw")       // authenticated, zero roles
    val svc = new HttpService(engine, auth).start()
    try test(svc, s"http://127.0.0.1:${svc.boundPort}", engine)
    finally svc.stop()
  }

  private def http(url: String, method: String = "GET",
      body: Option[String] = None,
      authHeader: Option[String] = None): (Int, String) = {
    val c = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    authHeader.foreach(c.setRequestProperty("Authorization", _))
    body.foreach { b =>
      c.setDoOutput(true)
      val os = c.getOutputStream
      try os.write(b.getBytes(StandardCharsets.UTF_8)) finally os.close()
    }
    val code = c.getResponseCode
    val is = if (code < 400) c.getInputStream else c.getErrorStream
    val text =
      if (is == null) ""
      else try new String(is.readAllBytes, StandardCharsets.UTF_8)
      finally is.close()
    (code, text)
  }

  private def basic(user: String, pw: String): String =
    "Basic " + Base64.getEncoder.encodeToString(
      s"$user:$pw".getBytes(StandardCharsets.UTF_8))

  private def workflowAggRequest: String = s"""{
    "name": "wf_http", "exec_mode": "sync", "tasks": [
      {"name": "imp", "operator": "oph_importnc",
       "arguments": ["src_path=${sf("lineitem")}",
         "measure=l_quantity", "exp_dim=l_orderkey|l_linenumber",
         "container=li"]},
      {"name": "sub", "operator": "oph_subset",
       "arguments": ["subset_dims=l_linenumber", "subset_filter=1:3"],
       "dependencies": [{"task": "imp"}]},
      {"name": "agg", "operator": "oph_aggregate",
       "arguments": ["operation=sum", "group_by=l_orderkey"],
       "dependencies": [{"task": "sub"}]},
      {"name": "peek", "operator": "oph_explorecube",
       "arguments": ["limit_filter=1000"],
       "dependencies": [{"task": "agg"}]}
    ]}"""

  test("unauthenticated requests get 401 with WWW-Authenticate") {
    withService { (_, base, _) =>
      val (code, body) = http(s"$base/services/execute", "POST",
        Some(workflowAggRequest))
      assert(code == 401)
      assert(mapper.readTree(body).get("error").asInt == HttpService.ErrAuth)
      val (badCode, _) = http(s"$base/services/execute", "POST",
        Some(workflowAggRequest), Some(basic("graft", "WRONG")))
      assert(badCode == 401)
    }
  }

  test("authenticated user without the execute role gets 403") {
    withService { (_, base, _) =>
      val (code, body) = http(s"$base/services/execute", "POST",
        Some(workflowAggRequest), Some(basic("intruder", "pw")))
      assert(code == 403)
      assert(mapper.readTree(body).get("error").asInt == HttpService.ErrAuth)
    }
  }

  test("the workflow_agg request over HTTP matches the engine run") {
    withService { (_, base, e) =>
      val (code, body) = http(s"$base/services/execute", "POST",
        Some(workflowAggRequest), Some(basic("graft", "secret")))
      assert(code == 200)
      val n = mapper.readTree(body)
      assert(n.get("error").asInt == HttpService.Ok)
      assert(n.get("jobid").asInt >= 1)
      val response = n.get("response")
      assert(response.get("source").get("srckey").asText == "sess")
      // find the explorecube grid among the response objects
      val objs = response.get("response")
      val grids = (0 until objs.size).map(objs.get)
        .filter(_.get("objclass").asText == "grid")
      assert(grids.nonEmpty)
      val grid = grids.head.get("objcontent").get(0)
      val rows = grid.get("rowvalues")
      // oracle check against a direct Spark computation on the same
      // parquet: sum(l_quantity) for l_linenumber 1..3 per order
      import org.apache.spark.sql.functions._
      val expected = spark.read.parquet(sf("lineitem"))
        .filter(col("l_linenumber").between(1, 3))
        .groupBy("l_orderkey").agg(sum("l_quantity").as("s"))
        .collect().map(r => r.getLong(0).toString ->
          r.getDouble(1)).toMap
      val keyIdx = (0 until grid.get("rowkeys").size)
        .find(i => grid.get("rowkeys").get(i).asText == "l_orderkey").get
      val mIdx = (0 until grid.get("rowkeys").size)
        .find(i => grid.get("rowkeys").get(i).asText == "l_quantity").get
      assert(rows.size > 0)
      (0 until rows.size).foreach { i =>
        val k = rows.get(i).get(keyIdx).asText
        val v = rows.get(i).get(mIdx).asText.toDouble
        assert(math.abs(expected(k) - v) < 1e-6,
          s"order $k: grid=$v oracle=${expected(k)}")
      }
    }
  }

  test("a task failing under on_error=skip answers 200 with error 3") {
    // a bad substitution is a failed task, not a failed request
    withService { (_, base, _) =>
      val (code, body) = http(s"$base/services/execute", "POST", Some("""{
        "name": "wf_skip", "exec_mode": "sync", "tasks": [
          {"name": "X", "operator": "oph_createcontainer",
           "on_error": "skip", "arguments": ["container=@{x"]},
          {"name": "NEXT", "operator": "oph_set", "arguments": ["key=c"]}
        ]}"""), Some(basic("graft", "secret")))
      assert(code == 200, body)
      val n = mapper.readTree(body)
      assert(n.get("error").asInt == HttpService.ErrGeneric, body)
      assert(!n.get("response").isNull, body)
      val (_, s) = http(s"$base/services/status?jobid=${n.get("jobid").asInt}",
        authHeader = Some(basic("graft", "secret")))
      assert(mapper.readTree(s).get("status").asText == "error", s)
    }
  }

  test("bearer tokens authenticate; revoked tokens do not") {
    withService { (svc, base, _) =>
      val token = svc.auth.login("graft", "secret").get
      val (code, _) = http(s"$base/services/info",
        authHeader = Some(s"Bearer $token"))
      assert(code == 200)
      // the reference's token-as-password form
      val (code2, _) = http(s"$base/services/info",
        authHeader = Some(basic(AuthService.TokenUser, token)))
      assert(code2 == 200)
      svc.auth.revokeToken(token)
      val (code3, _) = http(s"$base/services/info",
        authHeader = Some(s"Bearer $token"))
      assert(code3 == 401)
    }
  }

  test("async execution returns a jobid; status tracks completion") {
    withService { (_, base, _) =>
      val async = workflowAggRequest.replace("\"exec_mode\": \"sync\"",
        "\"exec_mode\": \"async\"")
      val (code, body) = http(s"$base/services/execute", "POST",
        Some(async), Some(basic("graft", "secret")))
      assert(code == 200)
      val jobid = mapper.readTree(body).get("jobid").asInt
      assert(mapper.readTree(body).get("response").isNull)
      val deadline = System.currentTimeMillis + 60000
      var status = "running"
      while (status == "running" && System.currentTimeMillis < deadline) {
        val (_, s) = http(s"$base/services/status?jobid=$jobid",
          authHeader = Some(basic("graft", "secret")))
        status = mapper.readTree(s).get("status").asText
        if (status == "running") Thread.sleep(100)
      }
      assert(status == "completed")
    }
  }

  test("bad requests get 400 with the reference error codes") {
    withService { (_, base, _) =>
      val (c1, b1) = http(s"$base/services/execute", "POST", Some(""),
        Some(basic("graft", "secret")))
      assert(c1 == 400)
      assert(mapper.readTree(b1).get("error").asInt ==
        HttpService.ErrNullPointer)
      val cyclic = """{"name": "w", "tasks": [
        {"name": "a", "operator": "oph_randcube",
         "dependencies": [{"task": "b"}]},
        {"name": "b", "operator": "oph_reduce",
         "dependencies": [{"task": "a"}]}
      ]}"""
      val (c2, b2) = http(s"$base/services/execute", "POST", Some(cyclic),
        Some(basic("graft", "secret")))
      assert(c2 == 400)
      assert(mapper.readTree(b2).get("error").asInt ==
        HttpService.ErrWrongParameter)
    }
  }

  test("resume serves the saved request and response documents") {
    withService { (_, base, _) =>
      http(s"$base/services/execute", "POST", Some(workflowAggRequest),
        Some(basic("graft", "secret")))
      val (code, body) = http(
        s"$base/services/resume?id=1&document_type=request",
        authHeader = Some(basic("graft", "secret")))
      assert(code == 200)
      val doc = mapper.readTree(body).get("document").asText
      assert(doc.contains("wf_http"))
      val (c2, b2) = http(s"$base/services/resume?id=99",
        authHeader = Some(basic("graft", "secret")))
      assert(c2 == 404)
      assert(b2.nonEmpty)
      // id absent = the reference's session job LISTING (columns+rows)
      val (c3, b3) = http(s"$base/services/resume",
        authHeader = Some(basic("graft", "secret")))
      assert(c3 == 200)
      val listing = mapper.readTree(b3)
      val cols = (0 until listing.get("columns").size)
        .map(listing.get("columns").get(_).asText)
      assert(cols.contains("WORKFLOW ID") && cols.contains("EXIT STATUS"))
      assert(listing.get("rows").size == 1)
      // marker granularity: list markers, then fetch one document
      val (c4, b4) = http(s"$base/services/resume?id_type=marker" +
        "&level=3&document_type=request",
        authHeader = Some(basic("graft", "secret")))
      assert(c4 == 200)
      val mrows = mapper.readTree(b4).get("rows")
      assert(mrows.size >= 1)
      val markerCol = {
        val cj = mapper.readTree(b4).get("columns")
        (0 until cj.size).map(cj.get(_).asText).indexOf("MARKER ID")
      }
      val marker = mrows.get(0).get(markerCol).asText
      val (c5, b5) = http(s"$base/services/resume?id=$marker" +
        "&id_type=marker&document_type=request",
        authHeader = Some(basic("graft", "secret")))
      assert(c5 == 200)
      assert(mapper.readTree(b5).get("document").asText.nonEmpty)
      // id=last keeps serving the newest document
      val (c6, b6) = http(s"$base/services/resume?id=last" +
        "&document_type=request",
        authHeader = Some(basic("graft", "secret")))
      assert(c6 == 200)
      assert(mapper.readTree(b6).get("document").asText.contains("wf_http"))
      // an out-of-range marker is a 400, not a 500
      val (c7, _) = http(s"$base/services/resume?id=9999&id_type=marker",
        authHeader = Some(basic("graft", "secret")))
      assert(c7 == 400)
      // invalid enum values are wrong parameters, not silent defaults —
      // the HTTP surface must agree with the oph_resume operator
      val (c8, _) = http(s"$base/services/resume?id_type=garbage",
        authHeader = Some(basic("graft", "secret")))
      assert(c8 == 400, "id_type=garbage must be a wrong parameter")
      val (c9, _) = http(s"$base/services/resume?document_type=garbage",
        authHeader = Some(basic("graft", "secret")))
      assert(c9 == 400, "document_type=garbage must be a wrong parameter")
    }
  }

  test("per-user quotas: enabled gate, core cap, session cap with reaping") {
    withService { (svc, base, _) =>
      val cred = Some(basic("intruder", "pw"))
      def tiny(sess: String = "", auto: Boolean = false) = s"""{
        "name": "q", ${if (sess.nonEmpty) s""""sessionid": "$sess",""" else ""}
        "exec_mode": "sync", "ncores": 4, "tasks": [
          {"name": "s", "operator": "oph_set",
           "arguments": ["key=a", "value=1"]}]}"""
      // core cap: ncores above the user maximum is a 400
      svc.auth.setUserProps("intruder",
        AuthService.UserProps(maxCores = 2))
      val (c1, b1) = http(s"$base/services/execute", "POST",
        Some(tiny(sess = "qa")), cred)
      assert(c1 == 400 && b1.contains("ncores"), s"$c1 $b1")
      // within the cap the run proceeds (new session owned by intruder)
      svc.auth.setUserProps("intruder",
        AuthService.UserProps(maxCores = 8, maxSessions = 2))
      assert(http(s"$base/services/execute", "POST",
        Some(tiny(sess = "qa")), cred)._1 == 200)
      assert(http(s"$base/services/execute", "POST",
        Some(tiny(sess = "qb")), cred)._1 == 200)
      // the THIRD distinct session hits max_sessions
      val (c3, b3) = http(s"$base/services/execute", "POST",
        Some(tiny(sess = "qc")), cred)
      assert(c3 == 429 && b3.contains("too many open sessions"), s"$c3 $b3")
      // resubmitting into an EXISTING session is not session minting
      assert(http(s"$base/services/execute", "POST",
        Some(tiny(sess = "qa")), cred)._1 == 200)
      // disabled user: service unavailable regardless of the request
      // (copy-update: the gate must not reset the other quotas)
      svc.auth.setUserProps("intruder",
        svc.auth.userProps("intruder").copy(enabled = false))
      val (c4, b4) = http(s"$base/services/execute", "POST",
        Some(tiny()), cred)
      assert(c4 == 503 && b4.contains("not available"), s"$c4 $b4")
      // manage_user update writes the same fields (admin-gated)
      svc.auth.addUser("root", "pw", admin = true)
      svc.auth.manageUser("root", "update", Map(
        "username" -> "intruder", "enabled" -> "yes",
        "max_cores" -> "16", "cdd" -> "/data"))
      val p = svc.auth.userProps("intruder")
      assert(p.enabled && p.maxCores == 16 && p.cdd == "/data" &&
        p.maxSessions == 2)
      assert(http(s"$base/services/execute", "POST",
        Some(tiny(sess = "qa")), cred)._1 == 200)
    }
  }

  test("racing submissions to the SAME new session never 429 at the " +
      "session cap (ADVICE r15: preexisting evaluated inside mintLock)") {
    withService { (svc, base, _) =>
      // maxSessions=1: the race window is widest — a request that
      // snapshots preexisting=false before a sibling mints the session
      // would count that now-existing session against its own cap and
      // refuse a submission it should simply route
      val cred = Some(basic("intruder", "pw"))
      svc.auth.setUserProps("intruder",
        AuthService.UserProps(maxSessions = 1))
      val wf = """{"name": "q", "sessionid": "race1",
        "exec_mode": "sync", "tasks": [
          {"name": "s", "operator": "oph_set",
           "arguments": ["key=a", "value=1"]}]}"""
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      val codes = try {
        import scala.concurrent.{Await, Future, ExecutionContext}
        implicit val ec: ExecutionContext =
          ExecutionContext.fromExecutor(pool)
        Await.result(
          Future.sequence((1 to 8).toList.map(_ => Future(
            http(s"$base/services/execute", "POST", Some(wf), cred)._1))),
          scala.concurrent.duration.Duration(120, "s"))
      } finally pool.shutdown()
      assert(codes.forall(_ == 200),
        s"racing mints of one session were refused: $codes")
    }
  }

  test("session-cap reaping: expired autoremove sessions free quota slots") {
    // injectable clock: the service sees time jump past the timeout
    var now = 1000000000000L
    val engine = new Engine(spark, new Catalog("sess"))
    val auth = new AuthService
    auth.addUser("graft", "secret")
    auth.addUser("carol", "pw")
    val svc = new HttpService(engine, auth, nowMillis = () => now).start()
    try {
      val base = s"http://127.0.0.1:${svc.boundPort}"
      val cred = Some(basic("carol", "pw"))
      auth.setUserProps("carol",
        AuthService.UserProps(maxSessions = 1, timeoutSessionDays = 1))
      def wf(sess: String) = s"""{
        "name": "q", "sessionid": "$sess", "exec_mode": "sync",
        "tasks": [{"name": "s", "operator": "oph_set",
          "arguments": ["key=a", "value=1"]}]}"""
      assert(http(s"$base/services/execute", "POST",
        Some(wf("r1")), cred)._1 == 200)
      // mark r1 autoremove so the quota reaper may claim it (via the
      // management operator inside the session; carol owns r1)
      assert(http(s"$base/services/execute", "POST", Some("""{
        "name": "mk_auto", "sessionid": "r1", "exec_mode": "sync",
        "tasks": [{"name": "m", "operator": "oph_manage_session",
          "arguments": ["action=setenv", "key=autoremove",
            "value=yes"]}]}"""), cred)._1 == 200)
      // at the cap and NOT expired: refused
      assert(http(s"$base/services/execute", "POST",
        Some(wf("r2")), cred)._1 == 429)
      // a day and a bit later the expired autoremove session reaps and
      // the new one mints
      now += 2L * 86400000L
      assert(http(s"$base/services/execute", "POST",
        Some(wf("r2")), cred)._1 == 200)
    } finally svc.stop()
  }

  test("a restarted service counts an unrouted persisted session against " +
      "max_sessions and reaps it on disk once expired") {
    val dir = java.nio.file.Files.createTempDirectory("graft_quota_state")
    var now = System.currentTimeMillis()
    def serve(): HttpService = {
      val auth = new AuthService
      auth.addUser("graft", "secret")
      auth.addUser("carol", "pw")
      auth.setUserProps("carol",
        AuthService.UserProps(maxSessions = 1, timeoutSessionDays = 1))
      new HttpService(new Engine(spark, new Catalog("sess")), auth,
        nowMillis = () => now, stateDir = Some(dir)).start()
    }
    val cred = Some(basic("carol", "pw"))
    def execute(svc: HttpService, body: String): Int =
      http(s"http://127.0.0.1:${svc.boundPort}/services/execute", "POST",
        Some(body), cred)._1
    def wf(sess: String) = s"""{
      "name": "q", "sessionid": "$sess", "exec_mode": "sync",
      "tasks": [{"name": "s", "operator": "oph_set",
        "arguments": ["key=a", "value=1"]}]}"""
    val svc1 = serve()
    try {
      assert(execute(svc1, wf("d1")) == 200)
      assert(execute(svc1, """{
        "name": "mk_auto", "sessionid": "d1", "exec_mode": "sync",
        "tasks": [{"name": "m", "operator": "oph_manage_session",
          "arguments": ["action=setenv", "key=autoremove",
            "value=yes"]}]}""") == 200)
    } finally svc1.stop()
    val file = dir.resolve("session-d1.json")
    assert(java.nio.file.Files.isRegularFile(file))

    // a new lifetime: d1 has no engine here, yet it fills carol's quota
    val svc2 = serve()
    try {
      assert(execute(svc2, wf("d2")) == 429)
      // past timeout_session the expired autoremove file is reaped
      now += 2L * 86400000L
      assert(execute(svc2, wf("d2")) == 200)
      assert(!java.nio.file.Files.exists(file))
    } finally svc2.stop()
  }

  test("sessionid routes requests to per-session engines with ownership") {
    withService { (_, base, defaultEngine) =>
      val inSession = workflowAggRequest.replace("\"name\": \"wf_http\",",
        "\"name\": \"wf_http\", \"sessionid\": \"sess_b\",")
      // 'intruder' names a NEW session: they become its owner and run
      val (c1, b1) = http(s"$base/services/execute", "POST", Some(inSession),
        Some(basic("intruder", "pw")))
      assert(c1 == 200, b1)
      assert(mapper.readTree(b1).get("error").asInt == HttpService.Ok)
      // the default session stays isolated: no cubes appeared in it
      assert(defaultEngine.catalog.allCubes.isEmpty)
      // another user has NO role on that session -> 403 there...
      val (c2, _) = http(s"$base/services/execute", "POST", Some(inSession),
        Some(basic("graft", "secret")))
      assert(c2 == 403)
      // ...while still owning the default session
      val (c3, _) = http(s"$base/services/execute", "POST",
        Some(workflowAggRequest), Some(basic("graft", "secret")))
      assert(c3 == 200)
      // resume serves the routed session's documents to its owner
      val (c4, b4) = http(s"$base/services/resume?session=sess_b&id=1" +
        "&document_type=request", authHeader = Some(basic("intruder", "pw")))
      assert(c4 == 200)
      assert(mapper.readTree(b4).get("document").asText.contains("sess_b"))
      // unknown sessions 404 on resume instead of being minted
      val (c5, _) = http(s"$base/services/resume?session=nope",
        authHeader = Some(basic("graft", "secret")))
      assert(c5 == 404)
    }
  }

  test("login mints a token usable as Bearer auth") {
    withService { (_, base, _) =>
      val (code, body) = http(s"$base/services/login", "POST",
        authHeader = Some(basic("graft", "secret")))
      assert(code == 200)
      val token = mapper.readTree(body).get("access_token").asText
      assert(token.nonEmpty)
      val (c2, _) = http(s"$base/services/info",
        authHeader = Some(s"Bearer $token"))
      assert(c2 == 200)
    }
  }

  test("concurrent requests get distinct jobids and consistent state") {
    withService { (_, base, e) =>
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val req = (i: Int) => s"""{
        "name": "par_$i", "tasks": [
          {"name": "mk", "operator": "oph_randcube",
           "arguments": ["nrows=5", "array_length=2", "container=c$i",
             "seed=$i"]}
        ]}"""
      val futs = (1 to 8).map(i => Future(
        http(s"$base/services/execute", "POST", Some(req(i)),
          Some(basic("graft", "secret")))))
      val results = Await.result(Future.sequence(futs), Duration(120, "s"))
      assert(results.forall(_._1 == 200), results.map(_._1))
      val jobids = results.map(r => mapper.readTree(r._2).get("jobid").asInt)
      assert(jobids.distinct.size == 8, s"jobids collided: $jobids")
      // every workflow minted its own cube under its own container
      assert(e.catalog.allCubes.size == 8)
    }
  }

  test("repeated failures throttle an account") {
    val auth = new AuthService
    auth.addUser("u", "right")
    (1 to AuthService.MaxAttempts).foreach { _ =>
      assert(auth.login("u", "wrong").isEmpty)
    }
    // correct password no longer helps: the HOST is blocked
    assert(auth.login("u", "right").isEmpty)
  }

  test("lockout is per host, not per account — and the window expires") {
    var clock = 0L
    val auth = new AuthService(() => clock)
    auth.addUser("u", "right")
    // attacker on host A burns the attempts against the account name
    (1 to AuthService.MaxAttempts).foreach { _ =>
      assert(auth.login("u", "wrong", host = "10.0.0.66").isEmpty)
    }
    assert(auth.login("u", "right", host = "10.0.0.66").isEmpty,
      "attacking host must be blocked")
    // the legitimate user on host B is unaffected
    assert(auth.login("u", "right", host = "10.0.0.1").nonEmpty,
      "a lockout keyed per account would DoS the real user")
    // the same applies to the Basic-auth path used by guard()
    val hdr = Some("Basic " + java.util.Base64.getEncoder.encodeToString(
      "u:right".getBytes("UTF-8")))
    assert(auth.authenticate(hdr, host = "10.0.0.66").isEmpty)
    assert(auth.authenticate(hdr, host = "10.0.0.2").contains("u"))
    // and the attacker's block decays once the window passes
    clock = AuthService.BlockWindowMs + 1
    assert(auth.login("u", "right", host = "10.0.0.66").nonEmpty,
      "block window must expire")
  }

  // ------------------------------------------- cancel + farm sizing

  test("/services/cancel kills a running async workflow") {
    withService { (_, base, _) =>
      val cred = Some(basic("graft", "secret"))
      val outDir = java.nio.file.Files
        .createTempDirectory("graft_cancel").toString + "/out"
      // a long-enough Spark job (~100M cells) — small enough that a
      // killed task that ignores the interrupt frees its slot in
      // seconds, not minutes (it would otherwise starve later tests)
      val req = s"""{
        "name": "wf_cancel", "exec_mode": "async", "tasks": [
          {"name": "mk", "operator": "oph_randcube",
           "arguments": ["nrows=2000000", "array_length=50",
             "container=c"]},
          {"name": "exp", "operator": "oph_exportcsv",
           "arguments": ["output_path=$outDir"],
           "dependencies": [{"task": "mk"}]}
        ]}"""
      val (code, body) = http(s"$base/services/execute", "POST",
        Some(req), cred)
      assert(code == 200)
      val jobid = mapper.readTree(body).get("jobid").asInt
      Thread.sleep(1000) // let the export job start
      // an authenticated user WITHOUT a role on the session cannot
      // kill someone else's job (jobids are guessable integers)
      assert(http(s"$base/services/cancel?jobid=$jobid",
        authHeader = Some(basic("intruder", "pw")))._1 == 403)
      val (cc, cb) = http(s"$base/services/cancel?jobid=$jobid",
        authHeader = cred)
      assert(cc == 200)
      assert(mapper.readTree(cb).get("message").asText == "cancel sent")
      // the run must settle as error well before the job could finish
      var status = "running"
      val deadline = System.nanoTime + 120L * 1000 * 1000 * 1000
      while (status == "running" && System.nanoTime < deadline) {
        Thread.sleep(250)
        val (_, sb) = http(s"$base/services/status?jobid=$jobid",
          authHeader = cred)
        status = mapper.readTree(sb).get("status").asText
      }
      assert(status == "error", "a cancelled workflow must settle as error")
      // unknown jobid is a 404
      assert(http(s"$base/services/cancel?jobid=99999",
        authHeader = cred)._1 == 404)
    }
  }

  test("32 in-flight sync requests don't head-of-line block the service") {
    // the reference provisions a 128-thread farm (SERVER_FARM_SIZE) so
    // slow sync workflows can't starve the listener: while 32 waits
    // occupy workers, /services/info must still answer immediately
    val engine = new Engine(spark, new Catalog("sess"))
    val auth = new AuthService
    auth.addUser("graft", "secret")
    val svc = new HttpService(engine, auth).start()
    try {
      val base = s"http://127.0.0.1:${svc.boundPort}"
      val cred = Some(basic("graft", "secret"))
      def waitWf(i: Int) = s"""{
        "name": "wf_wait$i", "tasks": [
          {"name": "w", "operator": "oph_wait",
           "arguments": ["type=clock", "timeout=3"]}
        ]}"""
      val threads = (1 to 32).map { i =>
        new Thread(() => http(s"$base/services/execute", "POST",
          Some(waitWf(i)), cred))
      }
      threads.foreach(_.start())
      Thread.sleep(500) // let the waits occupy their workers
      val t0 = System.nanoTime
      val (code, _) = http(s"$base/services/info", authHeader = cred)
      val ms = (System.nanoTime - t0) / 1000000
      assert(code == 200)
      assert(ms < 2000,
        s"info took ${ms}ms behind 32 in-flight syncs — head-of-line blocked")
      threads.foreach(_.join())
    } finally svc.stop()
  }

  // ------------------------------------------------ notify callbacks

  test("callback_url receives the completion push before any status poll") {
    withService { (_, base, _) =>
      // a one-shot listener standing in for the caller's callback server
      val received = scala.concurrent.Promise[String]()
      val listener = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress(0), 0)
      listener.createContext("/cb", (ex: com.sun.net.httpserver.HttpExchange) => {
        received.trySuccess(Option(ex.getRequestURI.getQuery).getOrElse(""))
        ex.sendResponseHeaders(200, -1)
        ex.close()
      })
      listener.start()
      try {
        val cbUrl = s"http://127.0.0.1:${listener.getAddress.getPort}/cb?tag=t1"
        val req = workflowAggRequest.replaceFirst(
          """"exec_mode": "sync"""",
          s""""exec_mode": "async", "callback_url": "$cbUrl"""")
        val (code, body) = http(s"$base/services/execute", "POST",
          Some(req), Some(basic("graft", "secret")))
        assert(code == 200)
        val jobid = mapper.readTree(body).get("jobid").asInt
        // the push arrives WITHOUT polling /services/status (generous
        // bound: the full suite runs concurrently in this JVM and the
        // async Spark job queues behind every other suite's stages —
        // 120s has flaked under that contention)
        val q = scala.concurrent.Await.result(
          received.future, scala.concurrent.duration.Duration("300s"))
        assert(q.contains("tag=t1"))
        assert(q.contains(s"jobid=$jobid"))
        assert(q.contains("status=completed"))
      } finally listener.stop(0)
    }
  }

  test("the notify receiver counts authenticated notifications") {
    withService { (_, base, _) =>
      val cred = Some(basic("graft", "secret"))
      assert(http(s"$base/services/notify", "POST",
        Some("jobid=7;status=OPH_STATUS_COMPLETED"))._1 == 401,
        "unauthenticated notify must be rejected")
      val (c1, b1) = http(s"$base/services/notify", "POST",
        Some("jobid=7;status=OPH_STATUS_COMPLETED"), cred)
      assert(c1 == 200)
      assert(mapper.readTree(b1).get("response").asInt == 0)
      val (_, info) = http(s"$base/services/info", authHeader = cred)
      assert(mapper.readTree(info).get("notifications").asLong >= 1)
    }
  }

  // ------------------------------------------------ persisted state

  test("tokens, users and sessions survive a server restart") {
    val dir = java.nio.file.Files.createTempDirectory("graft_state")
    val authFile = dir.resolve("auth.tsv")

    // ---- first server lifetime: mint a token, run in a routed session
    val auth1 = new AuthService(stateFile = Some(authFile))
    auth1.addUser("graft", "secret")
    val engine1 = new Engine(spark, new Catalog("sess"))
    val svc1 = new HttpService(engine1, auth1, stateDir = Some(dir)).start()
    val token =
      try {
        val base = s"http://127.0.0.1:${svc1.boundPort}"
        val cred = Some(basic("graft", "secret"))
        val (lc, lb) = http(s"$base/services/login", authHeader = cred)
        assert(lc == 200)
        val tok = mapper.readTree(lb).get("access_token").asText
        // a routed session with a grant and a saved document
        val (ec, _) = http(s"$base/services/execute", "POST",
          Some(manageSessionRequest("durable1",
            "grant" -> Map("grantee" -> "colleague", "role" -> "read"))),
          cred)
        assert(ec == 200)
        tok
      } finally svc1.stop()

    // ---- second lifetime: fresh objects, same state files
    val auth2 = new AuthService(stateFile = Some(authFile))
    val engine2 = new Engine(spark, new Catalog("sess"))
    val svc2 = new HttpService(engine2, auth2, stateDir = Some(dir)).start()
    try {
      val base = s"http://127.0.0.1:${svc2.boundPort}"
      // the pre-restart token authenticates without re-login
      val (ic, _) = http(s"$base/services/info",
        authHeader = Some(s"Bearer $token"))
      assert(ic == 200, "a pre-restart token must survive the restart")
      // the user's password still works (user table persisted)
      assert(http(s"$base/services/info",
        authHeader = Some(basic("graft", "secret")))._1 == 200)
      // the routed session restores: owner intact, grant intact,
      // saved response resumable
      val (rc, rb) = http(s"$base/services/resume?session=durable1&id=1",
        authHeader = Some(s"Bearer $token"))
      assert(rc == 200, "a persisted session must restore after restart")
      assert(mapper.readTree(rb).get("document").asText.nonEmpty)
      // ownership survived: an intruder cannot squat the restored code
      val auth2b = auth2
      auth2b.addUser("intruder", "pw")
      val (sc, _) = http(s"$base/services/execute", "POST",
        Some(manageSessionRequest("durable1", "env" -> Map.empty)),
        Some(basic("intruder", "pw")))
      assert(sc == 403, "restored ownership must still gate execution")
    } finally svc2.stop()
  }

  // --------------------------------------------- session engine GC

  private def manageSessionRequest(code: String,
      actions: (String, Map[String, String])*): String = {
    val tasks = actions.zipWithIndex.map { case ((action, extra), i) =>
      val args = (Map("action" -> action, "session" -> code) ++ extra)
        .map { case (k, v) => s""""$k=$v"""" }.mkString(",")
      val deps = if (i == 0) ""
      else s""", "dependencies": [{"task": "t${i - 1}"}]"""
      s"""{"name": "t$i", "operator": "oph_manage_session",
          "arguments": [$args]$deps}"""
    }.mkString(",")
    s"""{"name": "wf_mgmt", "sessionid": "$code", "exec_mode": "sync",
        "tasks": [$tasks]}"""
  }

  test("an idle autoremove session is reaped; a plain session is not") {
    val engine = new Engine(spark, new Catalog("sess"))
    val auth = new AuthService
    auth.addUser("graft", "secret")
    var now = 0L
    val svc = new HttpService(engine, auth,
      idleTtlMillis = 1000, nowMillis = () => now).start()
    try {
      val base = s"http://127.0.0.1:${svc.boundPort}"
      val cred = Some(basic("graft", "secret"))
      // mint two routed sessions; only auto1 opts into autoremove
      val (c1, _) = http(s"$base/services/execute", "POST",
        Some(manageSessionRequest("auto1",
          "setenv" -> Map("key" -> "autoremove", "value" -> "yes"))), cred)
      assert(c1 == 200)
      val (c2, _) = http(s"$base/services/execute", "POST",
        Some(manageSessionRequest("keep1", "env" -> Map.empty)), cred)
      assert(c2 == 200)
      // both engines answer while fresh
      assert(http(s"$base/services/resume?session=auto1&id=1",
        authHeader = cred)._1 == 200)
      now = 500
      assert(http(s"$base/services/resume?session=keep1&id=1",
        authHeader = cred)._1 == 200) // touches keep1, not auto1
      // past the TTL the autoremove engine is gone, the plain one stays
      now = 1600
      assert(http(s"$base/services/resume?session=auto1&id=1",
        authHeader = cred)._1 == 404, "idle autoremove session must be reaped")
      assert(http(s"$base/services/resume?session=keep1&id=1",
        authHeader = cred)._1 == 200,
        "a session without autoremove must survive idling")
    } finally svc.stop()
  }

  test("removing a session via oph_manage_session releases its engine") {
    val engine = new Engine(spark, new Catalog("sess"))
    val auth = new AuthService
    auth.addUser("graft", "secret")
    val svc = new HttpService(engine, auth).start()
    try {
      val base = s"http://127.0.0.1:${svc.boundPort}"
      val cred = Some(basic("graft", "secret"))
      val (c1, _) = http(s"$base/services/execute", "POST",
        Some(manageSessionRequest("rm1",
          "disable" -> Map.empty, "remove" -> Map.empty)), cred)
      assert(c1 == 200)
      // the next route resolution notices the removal and releases
      assert(http(s"$base/services/resume?session=rm1&id=1",
        authHeader = cred)._1 == 404,
        "a removed session's engine must be released")
      // and the code can be re-minted afterwards (no squat ghost)
      val (c2, _) = http(s"$base/services/execute", "POST",
        Some(manageSessionRequest("rm1", "env" -> Map.empty)), cred)
      assert(c2 == 200)
    } finally svc.stop()
  }

  test("session report lists a completed workflow with document links") {
    withService { (svc, base, _) =>
      val cred = Some(basic("graft", "secret"))
      val (c1, _) = http(s"$base/services/execute", "POST",
        Some(workflowAggRequest), cred)
      assert(c1 == 200)
      val (rc, html) = http(s"$base/services/report", authHeader = cred)
      assert(rc == 200, html)
      // the report names the workflow and links both saved documents
      assert(html.contains("<html"), "report must be browsable HTML")
      assert(html.contains("wf_http"), html.take(400))
      assert(html.contains("id=1&document_type=request"), html.take(800))
      assert(html.contains("id=1&document_type=response"), html.take(800))
      // the linked document actually resolves in the resume store
      val (dc, doc) = http(
        s"$base/services/resume?id=1&document_type=request",
        authHeader = cred)
      assert(dc == 200 && doc.contains("wf_http"))
      // no Read role on the session -> 403, like resume
      val (fc, _) = http(s"$base/services/report",
        authHeader = Some(basic("intruder", "pw")))
      assert(fc == 403)
    }
  }

  test("manage_user: admin CRUD; removed user's token dies") {
    val engine = new Engine(spark, new Catalog("sess"))
    val auth = new AuthService
    auth.addUser("root", "rootpw", admin = true)
    auth.addUser("graft", "secret")
    val svc = new HttpService(engine, auth).start()
    try {
      val b = s"http://127.0.0.1:${svc.boundPort}"
      val admin = Some(basic("root", "rootpw"))
      // non-admins cannot touch the surface
      val (nc, _) = http(s"$b/services/manage_user?action=list",
        authHeader = Some(basic("graft", "secret")))
      assert(nc == 403)
      // add: the new user can log in immediately
      val (ac, _) = http(
        s"$b/services/manage_user?action=add&username=alice&password=apw",
        "POST", authHeader = admin)
      assert(ac == 200)
      val tok = auth.login("alice", "apw")
      assert(tok.nonEmpty, "added user must be able to log in")
      // list shows both, with admin bits
      val (lc, lbody) = http(s"$b/services/manage_user?action=list",
        authHeader = admin)
      assert(lc == 200 && lbody.contains("alice") &&
        lbody.contains(""""username":"root","is_admin":true"""), lbody)
      // update password: old one dies, live tokens are revoked
      val (uc, _) = http(
        s"$b/services/manage_user?action=update&username=alice&password=new",
        "POST", authHeader = admin)
      assert(uc == 200)
      assert(auth.login("alice", "apw").isEmpty, "old password must die")
      assert(auth.checkToken(tok.get).isEmpty,
        "password reset must revoke live tokens")
      val tok2 = auth.login("alice", "new").get
      // remove: account and its tokens die together
      val (dc, _) = http(
        s"$b/services/manage_user?action=del&username=alice",
        "POST", authHeader = admin)
      assert(dc == 200)
      assert(auth.login("alice", "new").isEmpty)
      assert(auth.checkToken(tok2).isEmpty, "removed user's token must die")
      // duplicate add + unknown del fail loudly
      assert(http(s"$b/services/manage_user?action=add&username=root&password=x",
        "POST", authHeader = admin)._1 == 400)
      assert(http(s"$b/services/manage_user?action=del&username=ghost",
        "POST", authHeader = admin)._1 == 400)
    } finally svc.stop()
  }

  test("TLS: the full request flow works over https, plaintext refused") {
    val engine = new Engine(spark, new Catalog("sess"))
    val auth = new AuthService
    auth.addUser("graft", "secret")
    val tls = Tls.devSelfSigned()
    val svc = new HttpService(engine, auth, tls = Some(tls)).start()
    try {
      val base = s"https://127.0.0.1:${svc.boundPort}"
      val sf = tls.clientContext().getSocketFactory
      def https(url: String, method: String = "GET",
          body: Option[String] = None,
          authHeader: Option[String] = None): (Int, String) = {
        val c = new URL(url).openConnection()
          .asInstanceOf[javax.net.ssl.HttpsURLConnection]
        c.setSSLSocketFactory(sf)
        c.setRequestMethod(method)
        authHeader.foreach(c.setRequestProperty("Authorization", _))
        body.foreach { b =>
          c.setDoOutput(true)
          val os = c.getOutputStream
          try os.write(b.getBytes(StandardCharsets.UTF_8)) finally os.close()
        }
        val code = c.getResponseCode
        val is = if (code < 400) c.getInputStream else c.getErrorStream
        val text = if (is == null) "" else
          try new String(is.readAllBytes, StandardCharsets.UTF_8)
          finally is.close()
        (code, text)
      }
      val cred = Some(basic("graft", "secret"))
      // unauthenticated still 401 over TLS
      assert(https(s"$base/services/info")._1 == 401)
      // token login + execute: the bearer flow, now encrypted in transit
      val (lc, lbody) = https(s"$base/services/login", authHeader = cred)
      assert(lc == 200, lbody)
      val token = mapper.readTree(lbody).get("access_token").asText
      val (ec, ebody) = https(s"$base/services/execute", "POST",
        Some(workflowAggRequest), Some(s"Bearer $token"))
      assert(ec == 200, ebody)
      assert(mapper.readTree(ebody).get("error").asInt == 0, ebody)
      // a PLAINTEXT client must be refused at the handshake — tokens
      // cannot be replayed onto the same port in the clear
      intercept[java.io.IOException] {
        http(s"http://127.0.0.1:${svc.boundPort}/services/info",
          authHeader = cred)
      }
      // and a client that does NOT trust the self-signed cert fails
      // the handshake (no silent trust-anything client in the repo)
      intercept[javax.net.ssl.SSLException] {
        val c = new URL(s"$base/services/info").openConnection()
          .asInstanceOf[javax.net.ssl.HttpsURLConnection]
        c.getResponseCode
      }
    } finally svc.stop()
  }
}
