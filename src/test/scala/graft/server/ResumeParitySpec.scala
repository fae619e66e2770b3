package graft.server

import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets
import java.util.Base64

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec
import graft.core.Catalog
import graft.workflow.{Engine, Workflow}

/** The `oph_resume` operator and `GET /services/resume` answer every
  * query alike: the same outcome class (document, listing, wrong
  * parameter, not found) and the same document text or listing rows.
  * Each table row is one query string, sent to both surfaces over one
  * engine that holds two saved workflows. */
class ResumeParitySpec extends SparkSpec with BeforeAndAfterAll {

  private sealed trait Outcome
  private case class Doc(text: String) extends Outcome
  private case class Listing(columns: Seq[String],
      rows: Seq[Seq[String]]) extends Outcome
  private case object WrongParameter extends Outcome
  private case object NotFound extends Outcome

  // wf1 carries every status class the listings filter on: a completed
  // task, a run=no skip, an on_error=skip failure and light loop tasks
  private lazy val eng = {
    val e = new Engine(spark, new Catalog("sess"))
    e.run(Workflow.parse("""{
      "name": "hist", "tasks": [
        {"name": "make", "operator": "oph_randcube",
         "arguments": ["nrows=4", "array_length=4", "container=c"]},
        {"name": "skipme", "operator": "oph_randcube",
         "arguments": ["nrows=4", "array_length=4", "container=c"],
         "run": "no"},
        {"name": "boom", "operator": "oph_apply",
         "arguments": ["query=oph_no_such_primitive(measure)"],
         "on_error": "skip",
         "dependencies": [{"task": "make", "type": "single"}]},
        {"name": "loop", "operator": "oph_for",
         "arguments": ["key=i", "counter=1:2"]},
        {"name": "lite", "operator": "oph_apply",
         "arguments": ["query=oph_mul_scalar(measure, @i)"],
         "dependencies": [{"task": "make", "type": "single"}]},
        {"name": "loop_end", "operator": "oph_endfor"}
      ]}"""))
    e.run(Workflow.parse("""{
      "name": "second", "tasks": [
        {"name": "only", "operator": "oph_randcube",
         "arguments": ["nrows=4", "array_length=4", "container=c"]}
      ]}"""))
    e
  }

  private lazy val svc = {
    val auth = new AuthService
    auth.addUser("graft", "secret") // the engine session owner
    new HttpService(eng, auth).start()
  }

  override def afterAll(): Unit = try svc.stop() finally super.afterAll()

  private val mapper = new ObjectMapper()

  private def viaOperator(query: String): Outcome = {
    val args = query.split('&').filter(_.nonEmpty).map { kv =>
      val Array(k, v) = kv.split("=", 2); k -> v
    }.toMap
    try {
      val r = eng.runDataOperator("oph_resume", args)
      r.grid match {
        case Some(g) => Listing(g.keys, g.values)
        case None => Doc(r.message)
      }
    } catch {
      case _: Engine.EngineError | _: IllegalArgumentException =>
        WrongParameter
      case _: NoSuchElementException => NotFound
    }
  }

  private def viaHttp(query: String): Outcome = {
    val c = new URL(s"http://127.0.0.1:${svc.boundPort}" +
      s"/services/resume?$query").openConnection()
      .asInstanceOf[HttpURLConnection]
    c.setRequestProperty("Authorization", "Basic " + Base64.getEncoder
      .encodeToString("graft:secret".getBytes(StandardCharsets.UTF_8)))
    val code = c.getResponseCode
    val is = if (code < 400) c.getInputStream else c.getErrorStream
    val body = try new String(is.readAllBytes, StandardCharsets.UTF_8)
      finally is.close()
    code match {
      case 200 =>
        val js = mapper.readTree(body)
        def strings(n: com.fasterxml.jackson.databind.JsonNode) =
          (0 until n.size).map(n.get(_).asText)
        if (js.has("document")) Doc(js.get("document").asText)
        else Listing(strings(js.get("columns")),
          (0 until js.get("rows").size).map(i => strings(js.get("rows").get(i))))
      case 400 => WrongParameter
      case 404 => NotFound
      case other => fail(s"$query: HTTP $other $body")
    }
  }

  // query -> expected outcome class; the first four rows disagreed
  // between the two surfaces before they shared one implementation
  private val table: Seq[(String, String)] = Seq(
    "id=1&document_type=REQUEST" -> "wrong",
    "id=-1&document_type=request" -> "wrong",
    "id_type=MARKER&level=3" -> "wrong",
    "id=last&level=5&document_type=request" -> "doc",
    "id=last&document_type=request" -> "doc",
    "id=1" -> "doc",
    "id=2&document_type=request" -> "doc",
    "id=99" -> "missing",
    "" -> "list",
    "id=0" -> "list",
    "id=all" -> "list",
    "id_type=marker&level=3" -> "list",
    "id_type=marker&level=3&status_filter=00001" -> "list",
    "level=0" -> "list",
    "level=4&id=1" -> "list",
    "level=5" -> "list",
    "level=6" -> "wrong",
    "level=4&id_type=marker" -> "wrong",
    "id=9999&id_type=marker" -> "wrong")

  for ((query, expected) <- table)
    test(s"resume '$query' answers alike on both surfaces") {
      val op = viaOperator(query)
      val kind = op match {
        case _: Doc => "doc"
        case Listing(_, rows) => assert(rows.nonEmpty, query); "list"
        case WrongParameter => "wrong"
        case NotFound => "missing"
      }
      assert(kind == expected, s"operator answered $op")
      assert(viaHttp(query) == op)
    }
}
