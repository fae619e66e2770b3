package graft.workflow

import graft.SparkSpec
import graft.core.{Catalog, JobStatus}
import org.apache.spark.sql.functions._

/**
 * oph_explorenc advanced modes (`oph_json_objkeys.h:85-91`:
 * explorenc_stats / explorenc_fit / explorenc_wavelet_coeff) and
 * dependency `filter` values beyond "all"
 * (`oph_workflow_structs.h:90`).
 */
class ExplorencModesSpec extends SparkSpec {

  private def engine() = new Engine(spark, new Catalog("sess"),
    sleeper = _ => ())

  test("show_stats computes the masked statistics distributed") {
    val e = engine()
    val r = e.runDataOperator("oph_explorenc", Map(
      "src_path" -> sf("lineitem"), "measure" -> "l_quantity",
      "show_stats" -> "101000011")) // mean, std, max, range
    assert(r.status == JobStatus.Completed)
    val row = r.grid.get.values.head.map(_.toDouble)
    assert(r.grid.get.keys == Seq("mean", "std", "max", "range"))
    val direct = spark.read.parquet(sf("lineitem"))
      .agg(avg(col("l_quantity")), stddev_samp(col("l_quantity")),
        max(col("l_quantity")).cast("double"),
        (max(col("l_quantity")) - min(col("l_quantity"))).cast("double"))
      .head()
    assert(math.abs(row(0) - direct.getDouble(0)) < 1e-9)
    assert(math.abs(row(1) - direct.getDouble(1)) < 1e-9)
    assert(row(2) == direct.getDouble(2))
    assert(row(3) == direct.getDouble(3))
  }

  test("show_fit returns the least-squares line of measure over dim") {
    // y = 3x + 2 exactly: the fit must recover slope/intercept
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_fit")
    val p = dir.resolve("series.parquet").toString
    (1 to 100).map(i => (i.toDouble, 3.0 * i + 2.0))
      .toDF("t", "y").write.mode("overwrite").parquet(p)
    val e = engine()
    val r = e.runDataOperator("oph_explorenc", Map(
      "src_path" -> p, "measure" -> "y", "dim" -> "t",
      "show_fit" -> "yes"))
    assert(r.status == JobStatus.Completed)
    val row = r.grid.get.values.head
    assert(math.abs(row(2).toDouble - 3.0) < 1e-9, "slope")
    assert(math.abs(row(3).toDouble - 2.0) < 1e-9, "intercept")
  }

  test("wavelet=only emits the Haar coefficients of the ordered series") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_wav")
    val p = dir.resolve("series.parquet").toString
    // series [1,2,3,4] ordered by t: Haar coeffs are known exactly
    Seq((1.0, 1.0), (2.0, 2.0), (3.0, 3.0), (4.0, 4.0))
      .toDF("t", "y").write.mode("overwrite").parquet(p)
    val e = engine()
    val r = e.runDataOperator("oph_explorenc", Map(
      "src_path" -> p, "measure" -> "y", "dim" -> "t",
      "wavelet" -> "only", "wavelet_coeff" -> "4"))
    assert(r.status == JobStatus.Completed)
    val got = r.grid.get.values
      .map(x => (x(0).toInt, x(1).toInt, x(2).toDouble)).toSet
    // level0 details -0.5,-0.5; level1 detail -1.0; final average 2.5
    assert(got == Set((0, 0, -0.5), (0, 1, -0.5), (1, 0, -1.0), (2, 0, 2.5)))

    // wavelet=yes: ALL coefficients kept reconstructs the series
    // exactly; only-the-average kept denoises to the flat mean
    val full = e.runDataOperator("oph_explorenc", Map(
      "src_path" -> p, "measure" -> "y", "dim" -> "t",
      "wavelet" -> "yes", "wavelet_coeff" -> "4"))
    val rows = full.grid.get.values.sortBy(_(0).toInt)
      .map(x => (x(0).toInt, x(1).toDouble, x(2).toDouble))
    assert(rows.map(_._3).toSeq == Seq(1.0, 2.0, 3.0, 4.0),
      "full coefficient set must reconstruct the series")
    assert(full.aux.exists(_.objkey == "explorenc_wavelet_coeff"))
    val flat = e.runDataOperator("oph_explorenc", Map(
      "src_path" -> p, "measure" -> "y", "dim" -> "t",
      "wavelet" -> "yes", "wavelet_coeff" -> "1"))
    assert(flat.grid.get.values.sortBy(_(0).toInt)
      .map(_(2).toDouble) == Seq(2.5, 2.5, 2.5, 2.5),
      "keeping only the average must denoise to the mean")
  }

  test("oph_for src_path expands a folder to one iteration per file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_forfile").toFile
    val src = spark.read.parquet(sf("orders")).limit(30)
    Seq("a", "b", "c").zipWithIndex.foreach { case (n, i) =>
      src.limit(10 * (i + 1)).write.mode("overwrite")
        .parquet(new java.io.File(dir, s"$n.parquet").getPath)
    }
    val e = engine()
    val res = e.run(Workflow.parse(s"""{
      "name": "wf", "tasks": [
        {"name": "loop", "operator": "oph_for",
         "arguments": ["key=file", "src_path=${dir.getPath}"]},
        {"name": "imp", "operator": "oph_importnc",
         "arguments": ["src_path=@{file}", "measure=o_totalprice",
           "exp_dim=o_orderdate", "container=ff"]},
        {"name": "done", "operator": "oph_endfor"}
      ]}"""))
    // three files -> three loop instances, each importing ITS file
    val instances = res.keys.filter(_.startsWith("imp_")).toSeq.sorted
    assert(instances == Seq("imp_1", "imp_2", "imp_3"))
    assert(instances.forall(k => res(k).status == JobStatus.Completed))
    val counts = instances.map(k =>
      e.cube(res(k).cubePid.get).get.df.count()).sorted
    assert(counts == Seq(10L, 20L, 30L))

    // the arg is multi: '|'-joined folders concatenate their files
    val dir2 = java.nio.file.Files.createTempDirectory("graft_forfile2").toFile
    src.limit(5).write.mode("overwrite")
      .parquet(new java.io.File(dir2, "d.parquet").getPath)
    val res2 = e.run(Workflow.parse(s"""{
      "name": "wf2", "tasks": [
        {"name": "loop", "operator": "oph_for",
         "arguments": ["key=file",
           "src_path=${dir.getPath}|${dir2.getPath}"]},
        {"name": "imp", "operator": "oph_importnc",
         "arguments": ["src_path=@{file}", "measure=o_totalprice",
           "exp_dim=o_orderdate", "container=ff2"]},
        {"name": "done", "operator": "oph_endfor"}
      ]}"""))
    assert(res2.keys.count(_.startsWith("imp_")) == 4)
  }

  test("oph_b2drop speaks WebDAV verbs with netrc credentials") {
    // a local stand-in WebDAV share: PUT stores, GET serves, DELETE
    // removes — Basic auth required, credentials read from a netrc file
    val store = scala.collection.concurrent.TrieMap[String, Array[Byte]]()
    val expected = "Basic " + java.util.Base64.getEncoder.encodeToString(
      "alice:s3cret".getBytes("UTF-8"))
    val dav = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    dav.createContext("/webdav", (ex: com.sun.net.httpserver.HttpExchange) => {
      val name = ex.getRequestURI.getPath.stripPrefix("/webdav/")
      if (Option(ex.getRequestHeaders.getFirst("Authorization"))
          .forall(_ != expected)) {
        ex.sendResponseHeaders(401, -1); ex.close()
      } else ex.getRequestMethod match {
        case "PUT" =>
          store(name) = ex.getRequestBody.readAllBytes()
          ex.sendResponseHeaders(201, -1); ex.close()
        case "GET" => store.get(name) match {
          case Some(b) =>
            ex.sendResponseHeaders(200, b.length)
            ex.getResponseBody.write(b); ex.close()
          case None => ex.sendResponseHeaders(404, -1); ex.close()
        }
        case "DELETE" =>
          store.remove(name)
          ex.sendResponseHeaders(204, -1); ex.close()
        case _ => ex.sendResponseHeaders(405, -1); ex.close()
      }
    })
    dav.start()
    try {
      val base = s"http://127.0.0.1:${dav.getAddress.getPort}/webdav"
      val dir = java.nio.file.Files.createTempDirectory("graft_b2")
      val netrc = dir.resolve("netrc")
      java.nio.file.Files.writeString(netrc,
        "machine 127.0.0.1 login alice password s3cret\n")
      val src = dir.resolve("payload.nc")
      java.nio.file.Files.write(src, Array.tabulate(256)(_.toByte))
      val e = engine()
      // put
      val up = e.runDataOperator("oph_b2drop", Map(
        "action" -> "put", "src_path" -> src.toString,
        "dest_path" -> "exported.nc", "server" -> base,
        "auth_path" -> netrc.toString))
      assert(up.status == JobStatus.Completed)
      assert(store("exported.nc").toSeq ==
        java.nio.file.Files.readAllBytes(src).toSeq)
      // get it back to a new local file
      val back = dir.resolve("back.nc")
      e.runDataOperator("oph_b2drop", Map(
        "action" -> "get", "src_path" -> back.toString,
        "dest_path" -> "exported.nc", "server" -> base,
        "auth_path" -> netrc.toString))
      assert(java.nio.file.Files.readAllBytes(back).toSeq ==
        java.nio.file.Files.readAllBytes(src).toSeq)
      // delete
      e.runDataOperator("oph_b2drop", Map(
        "action" -> "delete", "dest_path" -> "exported.nc",
        "server" -> base, "auth_path" -> netrc.toString))
      assert(!store.contains("exported.nc"))
      // get over an EXISTING LONGER file must fully replace it (no
      // stale tail bytes) — the download lands via temp+move
      java.nio.file.Files.write(back,
        Array.fill[Byte](10000)(0x55)) // 10 KB of junk
      store("exported.nc") = java.nio.file.Files.readAllBytes(src)
      e.runDataOperator("oph_b2drop", Map(
        "action" -> "get", "src_path" -> back.toString,
        "dest_path" -> "exported.nc", "server" -> base,
        "auth_path" -> netrc.toString))
      assert(java.nio.file.Files.size(back) == 256,
        "a shorter download must not leave the old file's tail")
      store.remove("exported.nc")
      // a dest name with a space is percent-encoded, not a URI error
      e.runDataOperator("oph_b2drop", Map(
        "action" -> "put", "src_path" -> src.toString,
        "dest_path" -> "with space.nc", "server" -> base,
        "auth_path" -> netrc.toString))
      assert(store.contains("with space.nc"))
      // wrong credentials are a loud failure, not a silent no-op
      val badrc = dir.resolve("badrc")
      java.nio.file.Files.writeString(badrc,
        "machine 127.0.0.1 login alice password WRONG\n")
      val err = intercept[Engine.EngineError](
        e.runDataOperator("oph_b2drop", Map(
          "action" -> "put", "src_path" -> src.toString,
          "dest_path" -> "x.nc", "server" -> base,
          "auth_path" -> badrc.toString)))
      assert(err.getMessage.contains("HTTP 401"))
      // a netrc stanza for ANOTHER host must never leak here: with no
      // matching stanza (and no default) the request goes out
      // unauthenticated and the share rejects it
      val otherrc = dir.resolve("otherrc")
      java.nio.file.Files.writeString(otherrc,
        "machine b2drop.example.org login alice password s3cret\n")
      val err2 = intercept[Engine.EngineError](
        e.runDataOperator("oph_b2drop", Map(
          "action" -> "put", "src_path" -> src.toString,
          "dest_path" -> "y.nc", "server" -> base,
          "auth_path" -> otherrc.toString)))
      assert(err2.getMessage.contains("HTTP 401"),
        "credentials scoped to another host must not be sent here")
      // the local drop-directory transport
      val drop = dir.resolve("dropdir").toString
      e.runDataOperator("oph_b2drop", Map(
        "action" -> "put", "src_path" -> src.toString,
        "dest_path" -> "local.nc", "server" -> drop))
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(drop, "local.nc")))
      // a traversal or absolute dest_path must not escape the drop dir
      for (bad <- Seq("../escape.nc", "/tmp/abs_escape.nc")) {
        val e3 = intercept[Engine.EngineError](
          e.runDataOperator("oph_b2drop", Map(
            "action" -> "put", "src_path" -> src.toString,
            "dest_path" -> bad, "server" -> drop)))
        assert(e3.getMessage.contains("escapes drop directory"))
      }
      assert(!java.nio.file.Files.exists(dir.resolve("escape.nc")))
    } finally dav.stop(0)
  }

  test("dependency filter selects a subset of fan-out outputs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_df").toFile
    val src = spark.read.parquet(sf("orders")).limit(40)
    src.limit(10).write.mode("overwrite")
      .parquet(new java.io.File(dir, "a.parquet").getPath)
    src.limit(20).write.mode("overwrite")
      .parquet(new java.io.File(dir, "b.parquet").getPath)
    src.limit(40).write.mode("overwrite")
      .parquet(new java.io.File(dir, "c.parquet").getPath)
    val e = engine()
    val res = e.run(Workflow.parse(s"""{
      "name": "wf", "tasks": [
        {"name": "fan", "operator": "oph_importnc",
         "arguments": ["src_path=[path=${dir.getPath};file=*.parquet]",
           "measure=o_totalprice", "exp_dim=o_orderdate", "container=f"]},
        {"name": "pick", "operator": "oph_cubeelements",
         "arguments": [],
         "dependencies": [{"task": "fan", "argument": "cube",
           "filter": "2:3", "output_order": "1"}]}
      ]}"""))
    assert(res("pick").status == JobStatus.Completed)
    // filter 2:3 keeps (b, c); output_order 1 = c -> 40 elements
    val n = res("pick").grid.get.values.head.head.toLong
    assert(n == 40L, s"filter+output_order must index the FILTERED list, got $n")

    // a filter selecting nothing errors loudly
    val res2 = e.run(Workflow.parse(s"""{
      "name": "wf2", "tasks": [
        {"name": "fan", "operator": "oph_importnc",
         "arguments": ["src_path=[path=${dir.getPath};file=*.parquet]",
           "measure=o_totalprice", "exp_dim=o_orderdate", "container=f2"]},
        {"name": "pick", "operator": "oph_cubeelements", "on_error": "skip",
         "arguments": [],
         "dependencies": [{"task": "fan", "argument": "cube",
           "filter": "9:12"}]}
      ]}"""))
    assert(res2("pick").status == JobStatus.Error)
    assert(res2("pick").message.contains("selects no outputs") ||
      res2("pick").message.contains("bad filter"))
  }
}
