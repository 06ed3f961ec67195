package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-memory SSE endpoint for the relay specs (zero egress): serves
  * `id:`/`data:` frames over chunked HTTP, honors `Last-Event-ID`
  * resume, and can be told to drop the connection every N events to
  * exercise the relay's reconnect path.
  */
final class StubSseServer(disconnectEvery: Int = Int.MaxValue) extends AutoCloseable {
  private val frames = new java.util.ArrayList[(Long, String)]() // (id, data json)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  val connections = new AtomicLong(0L)
  @volatile private var running = true

  def publish(data: String): Unit = frames.synchronized {
    frames.add((frames.size.toLong, data))
    frames.notifyAll()
  }

  server.createContext("/v2/stream", (x: HttpExchange) => {
    connections.incrementAndGet()
    val after = Option(x.getRequestHeaders.getFirst("Last-Event-ID"))
      .map(_.toLong).getOrElse(-1L)
    x.getResponseHeaders.set("Content-Type", "text/event-stream")
    x.sendResponseHeaders(200, 0) // chunked stream
    val out = x.getResponseBody
    try {
      var next = after + 1
      var sent = 0
      while (sent < disconnectEvery && running) {
        val frame = frames.synchronized {
          while (next >= frames.size && running) frames.wait(200)
          if (next < frames.size) Some(frames.get(next.toInt)) else None
        }
        frame.foreach { f =>
          out.write(s"id: ${f._1}\ndata: ${f._2}\n\n"
            .getBytes(StandardCharsets.UTF_8))
          out.flush()
          next += 1; sent += 1
        }
      }
    } catch { case _: Exception => () } finally x.close()
  })
  server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/v2/stream"
  override def close(): Unit = {
    running = false
    frames.synchronized(frames.notifyAll())
    server.stop(0)
  }
}
