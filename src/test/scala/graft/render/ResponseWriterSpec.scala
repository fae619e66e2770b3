package graft.render

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkSpec
import graft.core._

class ResponseWriterSpec extends SparkSpec {
  import spark.implicits._

  private val mapper = new ObjectMapper()

  test("text object wraps content in an objcontent array (reference format)") {
    val json = ResponseWriter.render(TextObj("summary", "Status", "ok \"quoted\""))
    val n = mapper.readTree(json)
    assert(n.get("objclass").asText == "text")
    assert(n.get("objkey").asText == "summary")
    // title/message live INSIDE objcontent, not beside objkey
    // (`oph_json_common.c:387-440`)
    assert(n.get("message") == null)
    val c = n.get("objcontent").get(0)
    assert(c.get("title").asText == "Status")
    assert(c.get("message").asText == "ok \"quoted\"")
  }

  test("grid from DataFrame caps rows and carries field types") {
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5))
      .toDF("id", "name", "v")
    val grid = ResponseWriter.gridOf("explorecube", "Peek", df, limit = 2)
    assert(grid.keys == Seq("id", "name", "v"))
    assert(grid.fieldTypes == Seq("long", "string", "double"))
    assert(grid.values.size == 2)
    val c = mapper.readTree(ResponseWriter.render(grid)).get("objcontent").get(0)
    assert(c.get("rowvalues").size == 2)
    assert(c.get("rowkeys").get(0).asText == "id")
    assert(c.get("rowfieldtypes").get(0).asText == "long")
  }

  test("full response envelope carries the fixed source keys") {
    val r = Response(
      source = Map("srckey" -> "sess01", "producer" -> "graft",
        "workflow" -> "wf1", "marker" -> "7"),
      consumers = Seq("user1"),
      objects = Seq(TextObj("status", "t", "m"),
        Grid("grid", "g", Seq("k"), Seq("string"), Seq(Seq("v")))))
    val n = mapper.readTree(ResponseWriter.render(r))
    assert(n.get("response").size == 2)
    assert(n.get("consumers").get(0).asText == "user1")
    val src = n.get("source")
    assert(src.get("srckey").asText == "sess01")
    assert(src.get("srcname").asText == "wf1")
    assert(src.get("producer").asText == "graft")
    // free pairs land in the parallel keys/values arrays
    assert(src.get("keys").get(0).asText == "marker")
    assert(src.get("values").get(0).asText == "7")
    // every response element follows {objkey, objclass, objcontent}
    (0 until 2).foreach { i =>
      val el = n.get("response").get(i)
      assert(el.has("objkey") && el.has("objclass") && el.has("objcontent"))
    }
  }

  test("multigrid renders a pivoted array cube") {
    val raw = Seq(
      (1L, 1, 10.0), (1L, 2, 20.0), (2L, 1, 5.0), (2L, 2, 7.0)
    ).toDF("k", "i", "v")
    val cube = graft.cube.CubeOps.build(raw, "v", Seq("k"), Some("i"), "c", "mem")
    val mg = ResponseWriter.multigridOf("explorecube_dimvalues", "Slice", cube)
    assert(mg.rowKeys == Seq("k"))
    assert(mg.colKeys == Seq("i"))
    assert(mg.colValues == Seq(Seq("1"), Seq("2")))
    assert(mg.rowValues.map(_.head).toSet == Set("1", "2"))
    assert(mg.measureValues.forall(_.length == 2)) // 2 measure cells/row
    val n = mapper.readTree(ResponseWriter.render(mg))
    assert(n.get("objclass").asText == "multidimgrid")
    assert(n.get("objcontent").get(0).get("measurename").asText == "v")
  }

  test("provenance digraph from the catalog") {
    val cat = new Catalog("sess")
    val c = cat.createContainer("c", "/")
    cat.addCube(c.id, "m")                       // 1
    cat.addCube(c.id, "m", parents = Seq(1L))    // 2
    cat.addCube(c.id, "m", parents = Seq(2L))    // 3
    val g = ResponseWriter.cubeioDigraph(cat, 2L)
    assert(g.directed)
    assert(g.nodes.size == 3)
    assert(g.links.size == 2)
    val n = mapper.readTree(ResponseWriter.render(g))
    // reference wire shape: nodelinks[k] = node k's outgoing links
    val nl = n.get("objcontent").get(0).get("nodelinks")
    assert(nl.size == 3)
    assert(nl.get(0).get(0).get("node").asText == "1")
    assert(nl.get(1).get(0).get("node").asText == "2")
    assert(nl.get(2).size == 0)
  }

  test("read inverts render for every task answer object") {
    val objs = Seq(
      TextObj("explorecube_summary", "Summary", "rows: 3; \"q\"\n\u0001"),
      Grid("peek", "peek", Seq("k", "v"), Seq("long", "string"),
        Seq(Seq("1", "null"), Seq("2", "a|b"))),
      Grid("empty", "empty", Seq("k"), Seq("long"), Seq.empty),
      TreeObj("fs", "Folder Tree", None, 0, Seq("path"),
        Seq(GraphNode(Seq("/")), GraphNode(Seq("/a")), GraphNode(Seq("/a/b"))),
        Seq(GraphLink(0, 1, ""), GraphLink(1, 2, ""))),
      TreeObj("t", "T", Some("d"), 1, Seq("n"),
        Seq(GraphNode(Seq("x")), GraphNode(Seq("y"))),
        Seq(GraphLink(1, 0, "up"))))
    objs.foreach { o =>
      val back = ResponseWriter.read(mapper.readTree(ResponseWriter.render(o)))
      assert(back == o)
    }
    val graph = GraphObj("g", "G", directed = true, Seq("n"),
      Seq(GraphNode(Seq("x"))), Seq.empty)
    intercept[IllegalArgumentException](
      ResponseWriter.read(mapper.readTree(ResponseWriter.render(graph))))
  }
}
