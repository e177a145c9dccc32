package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** A reply: status, body, and the ETag header when present. */
final case class Reply(status: Int, body: String, etag: Option[String])

/** One keep-alive HTTP/1.1 client, as an SDK caller holds one. Any status
  * outside 2xx throws, so the op counts as failed. */
final class Http(port: Int) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()
  private val base = s"http://127.0.0.1:$port"

  def send(method: String, path: String, body: String = null): Reply = {
    val pub =
      if (body == null) HttpRequest.BodyPublishers.noBody()
      else HttpRequest.BodyPublishers.ofString(body)
    val req = HttpRequest.newBuilder(URI.create(base + path))
      .header("Content-Type", "application/json")
      .method(method, pub).build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    val r = Reply(resp.statusCode(), resp.body(),
      Option(resp.headers().firstValue("ETag").orElse(null)))
    if (r.status < 200 || r.status >= 300)
      throw new IllegalStateException(
        s"$method $path -> HTTP ${r.status}: ${r.body.take(200)}")
    r
  }

  def query(q: String, token: Option[String] = None): Reply = {
    val o = graft.json.Json.obj()
    o.put("query", q)
    o.put("maxItemsPerPage", Serve.PageSize)
    token.foreach(t => o.put("continuationToken", t))
    send("POST", "/query", graft.json.Json.render(o))
  }
}
