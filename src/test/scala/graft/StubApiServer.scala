package graft

import java.net.InetSocketAddress
import java.net.URLDecoder
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Local stand-in for the MediaWiki action API (the environment has no
  * egress): serves the two endpoints the reference hits —
  * `list=users&ususers=...&usprop=editcount` (`scanner.py:199-218`) and
  * `action=parse&oldid=...&prop=wikitext` (`scanner.py:178-196`) — from
  * in-memory maps, with the same response shapes including the
  * missing-key bodies that make the real API raise QueryRaceCondition.
  * JDK-builtin HttpServer, no dependencies; used by EnrichmentSpec.
  * `editCounts` is settable: a user's count moves
  * with every edit, and the next lookup must see the new one.
  */
final class StubApiServer(
    @volatile var editCounts: Map[String, Long],
    texts: Map[Long, String]) extends AutoCloseable {

  val requests = new AtomicLong(0L)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)

  server.createContext("/w/api.php", (x: HttpExchange) => {
    requests.incrementAndGet()
    val params = Option(x.getRequestURI.getRawQuery).getOrElse("").split("&")
      .filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> URLDecoder.decode(v, StandardCharsets.UTF_8)
      }.toMap
    def js(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val body = params.get("action") match {
      case Some("query") =>
        val users = params.getOrElse("ususers", "").split("\\|").filter(_.nonEmpty)
        val entries = users.map { u =>
          editCounts.get(u) match {
            case Some(n) => s"""{"userid":1,"name":"${js(u)}","editcount":$n}"""
            // the real API marks unknown users; no editcount key -> race
            case None => s"""{"name":"${js(u)}","missing":""}"""
          }
        }
        s"""{"batchcomplete":"","query":{"users":[${entries.mkString(",")}]}}"""
      case Some("parse") =>
        val oldid = params.get("oldid").map(_.toLong)
        oldid.flatMap(texts.get) match {
          case Some(t) =>
            val esc = t.replace("\\", "\\\\").replace("\"", "\\\"")
            s"""{"parse":{"title":"T","wikitext":{"*":"$esc"}}}"""
          // deleted-page shape: error body, no parse key -> race
          case None => s"""{"error":{"code":"nosuchrevid","info":"missing"}}"""
        }
      case _ => """{"error":{"code":"unknown_action"}}"""
    }
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    x.getResponseHeaders.set("Content-Type", "application/json")
    x.sendResponseHeaders(200, bytes.length)
    x.getResponseBody.write(bytes)
    x.close()
  })
  server.setExecutor(null)
  server.start()

  /** The API URL to hand to LiveEnrichment. */
  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/w/api.php"

  override def close(): Unit = server.stop(0)
}
