package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** One reply, with the client-side send and receive times. */
final case class Reply(code: Int, body: String, startNs: Long, endNs: Long) {
  def ok: Boolean = code / 100 == 2
  def ms: Double = (endNs - startNs) / 1e6
}

/** HTTP/1.1 client for the daemon. One instance per load-generating thread:
  * requests from one thread reuse one keep-alive connection. */
final class Http(port: Int) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()

  def post(path: String, body: Array[Byte]): Reply = send(
    HttpRequest.newBuilder(uri(path)).header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build())

  def postJson(path: String, body: String): Reply = post(path, body.getBytes(UTF_8))

  def get(path: String): Reply = send(HttpRequest.newBuilder(uri(path)).GET().build())

  private def uri(path: String) = URI.create(s"http://127.0.0.1:$port$path")

  private def send(req: HttpRequest): Reply = {
    val t0 = System.nanoTime()
    try {
      val r = client.send(req, HttpResponse.BodyHandlers.ofString())
      Reply(r.statusCode(), r.body(), t0, System.nanoTime())
    } catch {
      case e: java.io.IOException => Reply(-1, String.valueOf(e), t0, System.nanoTime())
    }
  }
}

object Http {
  val mapper = new ObjectMapper
  def json(s: String): JsonNode = mapper.readTree(s)
  def quote(s: String): String = mapper.writeValueAsString(s)
}
