package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** One closed-loop client connection to the server on loopback. */
final class Client(base: String) {
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()

  private def send(b: HttpRequest.Builder, auth: String): (Int, String) = {
    val r = http.send(b.header("Authorization", auth)
      .timeout(Duration.ofSeconds(120)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode, r.body)
  }

  def post(path: String, body: String, auth: String): (Int, String) =
    send(HttpRequest.newBuilder(URI.create(base + path))
      .POST(HttpRequest.BodyPublishers.ofString(body)), auth)

  def get(path: String, auth: String): (Int, String) =
    send(HttpRequest.newBuilder(URI.create(base + path)).GET(), auth)
}

object Client {
  def basic(user: String, pw: String): String =
    "Basic " + java.util.Base64.getEncoder.encodeToString(
      s"$user:$pw".getBytes("UTF-8"))
  def bearer(token: String): String = "Bearer " + token
}

/** Reading the reference JSON response envelope. */
object Resp {
  val mapper = new ObjectMapper()

  def tree(s: String): JsonNode = mapper.readTree(s)

  /** Response objects of a rendered Response document, by objkey. A
    * key that repeats (one grid per loop branch) keeps every copy. */
  def objects(doc: JsonNode): Seq[(String, JsonNode)] =
    Option(doc.get("response")).toSeq.flatMap(_.elements.asScala)
      .map(o => o.get("objkey").asText -> o)

  final case class Grid(keys: Seq[String], rows: Seq[Seq[String]]) {
    def col(name: String): Int = keys.indexOf(name)
  }

  def grid(obj: JsonNode): Option[Grid] =
    Option(obj.get("objcontent")).flatMap(_.elements.asScala.toSeq.headOption)
      .filter(_.has("rowkeys")).map { c =>
        Grid(c.get("rowkeys").elements.asScala.map(_.asText).toSeq,
          c.get("rowvalues").elements.asScala.map(
            _.elements.asScala.map(_.asText).toSeq).toSeq)
      }

  def text(obj: JsonNode): Option[String] =
    Option(obj.get("objcontent")).flatMap(_.elements.asScala.toSeq.headOption)
      .flatMap(c => Option(c.get("message"))).map(_.asText)
}
