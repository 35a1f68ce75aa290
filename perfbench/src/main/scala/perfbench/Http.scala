package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

/** Blocking HTTP/1.1 client, one per load-generating thread (one
  * connection each). */
final class Http(port: Int, timeoutMs: Long) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofMillis(timeoutMs)).build()

  /** (status, body); status -1 on a transport error or timeout. */
  def get(path: String): (Int, String) =
    send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .timeout(Duration.ofMillis(timeoutMs)).GET().build())

  def postGzip(path: String, gz: Array[Byte]): (Int, String) =
    send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .timeout(Duration.ofMillis(timeoutMs))
      .header("Content-Encoding", "gzip").header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofByteArray(gz)).build())

  private def send(r: HttpRequest): (Int, String) =
    try {
      val resp = client.send(r, HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    } catch { case _: java.io.IOException | _: InterruptedException => (-1, "") }
}

object Http {
  def query(q: String): String =
    "/khronus/db/influx/series?q=" + java.net.URLEncoder.encode(q, "UTF-8")
}
