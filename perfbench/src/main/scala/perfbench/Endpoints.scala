package perfbench

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** JDK HttpServer on a fixed worker pool. TCP_NODELAY comes from the
  * `sun.net.httpserver.nodelay` property, which Main sets before the
  * first server exists: without it a response written as headers + body
  * waits on the client's delayed ACK (about 45 ms a request instead of
  * about 1.6 ms on loopback).
  */
abstract class PooledServer(workers: Int) extends AutoCloseable {
  protected val server: HttpServer = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  private val pool: ExecutorService = Executors.newFixedThreadPool(workers)
  server.setExecutor(pool)

  protected def port: Int = server.getAddress.getPort

  override def close(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

/** MediaWiki action-API stand-in with the response shapes the program's
  * `LiveEnrichment` parses: `list=users` (editcount, or `missing` for an
  * unknown user) and `action=parse` (wikitext, or a `nosuchrevid` error).
  * Every request sleeps a fixed service time, standing in for the real
  * API's round trip. Counts requests, keys, re-fetched keys, in-flight
  * requests and busy time.
  */
final class ApiStandIn(editCounts: Map[String, Long], texts: Map[Long, String],
    serviceMs: Int, workers: Int) extends PooledServer(workers) {
  val requests = new AtomicLong(0L)
  val keys = new AtomicLong(0L)
  val refetches = new AtomicLong(0L)
  val busyNs = new AtomicLong(0L)
  val maxInFlight = new AtomicInteger(0)
  private val inFlight = new AtomicInteger(0)
  private val seen = ConcurrentHashMap.newKeySet[String]()

  private def esc(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")

  server.createContext("/w/api.php", (x: HttpExchange) => {
    val t0 = System.nanoTime()
    maxInFlight.accumulateAndGet(inFlight.incrementAndGet(), (a, b) => math.max(a, b))
    try {
      requests.incrementAndGet()
      val params = Option(x.getRequestURI.getRawQuery).getOrElse("").split("&")
        .filter(_.contains("=")).map { kv =>
          val Array(k, v) = kv.split("=", 2)
          k -> URLDecoder.decode(v, StandardCharsets.UTF_8)
        }.toMap
      val (keyIds, body) = params.get("action") match {
        case Some("query") =>
          val users = params.getOrElse("ususers", "").split("\\|").filter(_.nonEmpty).toSeq
          val entries = users.map { u =>
            editCounts.get(u) match {
              case Some(n) => s"""{"userid":1,"name":"${esc(u)}","editcount":$n}"""
              case None => s"""{"name":"${esc(u)}","missing":""}"""
            }
          }
          (users.map("u:" + _),
            s"""{"batchcomplete":"","query":{"users":[${entries.mkString(",")}]}}""")
        case Some("parse") =>
          val oldid = params.get("oldid").flatMap(_.toLongOption)
          (oldid.map("r:" + _).toSeq, oldid.flatMap(texts.get) match {
            case Some(t) => s"""{"parse":{"title":"T","wikitext":{"*":"${esc(t)}"}}}"""
            case None => """{"error":{"code":"nosuchrevid","info":"missing"}}"""
          })
        case _ => (Nil, """{"error":{"code":"unknown_action"}}""")
      }
      keys.addAndGet(keyIds.size.toLong)
      refetches.addAndGet(keyIds.count(k => !seen.add(k)).toLong)
      Thread.sleep(serviceMs.toLong)
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      x.getResponseHeaders.set("Content-Type", "application/json")
      x.sendResponseHeaders(200, bytes.length.toLong)
      x.getResponseBody.write(bytes)
    } finally {
      x.close()
      inFlight.decrementAndGet()
      busyNs.addAndGet(System.nanoTime() - t0)
    }
  })
  server.start()

  def url: String = s"http://127.0.0.1:$port/w/api.php"
}

/** SSE endpoint: streams every published payload as an `id:`/`data:`
  * frame, resuming after `Last-Event-ID`, to each connected client.
  */
final class SseEndpoint(workers: Int) extends PooledServer(workers) {
  private val frames = new java.util.ArrayList[String]()
  @volatile private var running = true

  def publish(payload: String): Unit = frames.synchronized {
    frames.add(payload)
    frames.notifyAll()
  }

  server.createContext("/v2/stream", (x: HttpExchange) => {
    var next = Option(x.getRequestHeaders.getFirst("Last-Event-ID"))
      .flatMap(_.toLongOption).map(_ + 1).getOrElse(0L).toInt
    x.getResponseHeaders.set("Content-Type", "text/event-stream")
    x.sendResponseHeaders(200, 0)
    val out = x.getResponseBody
    try {
      while (running) {
        val batch = frames.synchronized {
          while (next >= frames.size && running) frames.wait(100)
          (next until frames.size).map(i => i -> frames.get(i))
        }
        if (batch.nonEmpty) {
          val sb = new StringBuilder
          batch.foreach { case (i, p) => sb.append("id: ").append(i).append("\ndata: ")
            .append(p).append("\n\n") }
          out.write(sb.toString.getBytes(StandardCharsets.UTF_8))
          out.flush()
          next = batch.last._1 + 1
        }
      }
    } catch { case _: Exception => () } finally x.close()
  })
  server.start()

  def url: String = s"http://127.0.0.1:$port/v2/stream"

  override def close(): Unit = {
    running = false
    frames.synchronized(frames.notifyAll())
    super.close()
  }
}
