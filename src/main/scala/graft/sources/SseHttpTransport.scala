package graft.sources

import java.io.{FileOutputStream, OutputStreamWriter}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong

/** Live HTTP transport for the SSE source (reference `filter_.py:104-108`
  * builds an `EventStreams` HTTP SSE client): a relay that streams an
  * SSE endpoint and appends complete frames to the local buffer file the
  * V2 source tails incrementally. This is exactly the pluggable-client
  * upgrade the source documents — the micro-batch/offset/checkpoint
  * contract is untouched; only where bytes come from changes.
  *
  * Resume: the relay tracks the last `id:` line it persisted and sends
  * it as `Last-Event-ID` on every (re)connect — the EventStreams resume
  * protocol (`utils.py:8,10` carries the Kafka partition/offset in the
  * event id). Connection loss therefore replays nothing and drops
  * nothing end-to-end: the server resumes after the last persisted
  * event, and Spark's own checkpoint resumes after the last committed
  * offset (reference E2, `scanner.py:82-88`, without the y/n prompt).
  * The same holds across a relay PROCESS restart: construction seeds
  * `lastEventId` from the last complete frame already in the buffer
  * file, so the first connect resumes instead of replaying the stream
  * from the beginning (which would append duplicate frames that the
  * byte-counting source would commit as new offsets).
  *
  * Frames are written line-aligned and flushed per frame, honoring the
  * buffer's writer contract.
  */
final class SseHttpRelay(endpoint: String, bufferPath: String,
    reconnectMs: Long = 100L) extends AutoCloseable {

  // A crashed predecessor can leave an unterminated partial line at the
  // buffer tail. It must be CUT before the first resumed append: the
  // source never counted it (FrameIterator requires the newline), but
  // appending a resumed frame directly after it would merge the partial
  // line and the frame's first line into one newline-terminated record
  // that the source WOULD count — a corrupt event plus a double-counted
  // offset.
  SseHttpRelay.truncatePartialTail(bufferPath)
  @volatile private var running = true
  @volatile private var lastEventId: String = SseHttpRelay.lastPersistedId(bufferPath)
  val reconnects = new AtomicLong(0L)

  private val thread = new Thread(() => {
    val http = HttpClient.newHttpClient()
    var first = true
    while (running) {
      if (!first) reconnects.incrementAndGet()
      first = false
      try {
        val req = {
          val b = HttpRequest.newBuilder(URI.create(endpoint)).GET()
          if (lastEventId != null) b.header("Last-Event-ID", lastEventId)
          b.build()
        }
        val resp = http.send(req, HttpResponse.BodyHandlers.ofLines())
        val out = new OutputStreamWriter(
          new FileOutputStream(bufferPath, true), StandardCharsets.UTF_8)
        try {
          val it = resp.body().iterator()
          var pendingId: String = null
          val frame = new StringBuilder
          while (running && it.hasNext) {
            val line = it.next()
            frame.append(line).append('\n')
            if (line.startsWith("id: ")) pendingId = line.substring(4)
            if (line.isEmpty) { // blank line terminates an SSE frame
              out.write(frame.toString); out.flush()
              frame.clear()
              if (pendingId != null) lastEventId = pendingId
            }
          }
        } finally out.close()
      } catch { case _: Exception => () }
      if (running) Thread.sleep(reconnectMs)
    }
  }, s"sse-relay($endpoint)")
  thread.setDaemon(true)
  thread.start()

  override def close(): Unit = { running = false; thread.interrupt() }
}

object SseHttpRelay {

  /** Truncate an unterminated tail line (an in-flight write from a
    * crashed relay process) back to the last '\n'. The cut bytes were
    * invisible to the source — FrameIterator treats an unterminated
    * line as an in-flight write and never counts it — so truncation
    * loses nothing; the resumed relay re-fetches the cut frame via
    * Last-Event-ID. A file with no newline at all is all partial and
    * truncates to empty.
    */
  def truncatePartialTail(bufferPath: String): Unit = {
    val p = java.nio.file.Paths.get(bufferPath)
    if (!java.nio.file.Files.exists(p) || java.nio.file.Files.size(p) == 0L) return
    val ch = java.nio.channels.FileChannel.open(p,
      java.nio.file.StandardOpenOption.READ, java.nio.file.StandardOpenOption.WRITE)
    try {
      val size = ch.size()
      val chunk = 1 << 16
      var end = size
      var cut = -1L
      while (cut < 0 && end > 0) {
        val from = math.max(0L, end - chunk)
        val bb = java.nio.ByteBuffer.allocate((end - from).toInt)
        ch.position(from)
        while (bb.hasRemaining && ch.read(bb) >= 0) {}
        var i = bb.position() - 1
        while (i >= 0 && cut < 0) {
          if (bb.get(i) == '\n'.toByte) cut = from + i + 1
          i -= 1
        }
        end = from
      }
      val keep = math.max(cut, 0L)
      if (keep < size) ch.truncate(keep)
    } finally ch.close()
  }

  /** The `id:` value of the last frame whose `data:` line is
    * newline-terminated in the buffer file's tail, or null if none.
    * The commit condition MUST match `SseSource.FrameIterator`, which
    * counts an event as soon as its `data:` line's newline lands (the
    * frame-terminating blank line is not required): if this required the
    * blank line too, a crash that persisted `...data: X\n` would leave an
    * event the source already counted, and the restarted relay would
    * resume from the PRIOR frame's id — re-fetching X and appending a
    * duplicate frame that the byte-counting source commits as a new
    * offset. Conversely an id whose `data:` line never landed was never
    * counted, so its id must NOT commit. Reads at most the final
    * `tailBytes` of the file — event ids recur every frame, so a bounded
    * tail always contains the latest one in any non-degenerate buffer.
    */
  def lastPersistedId(bufferPath: String, tailBytes: Int = 1 << 20): String = {
    val p = java.nio.file.Paths.get(bufferPath)
    if (!java.nio.file.Files.exists(p) || java.nio.file.Files.size(p) == 0L) return null
    val size = java.nio.file.Files.size(p)
    val from = math.max(0L, size - tailBytes)
    val ch = java.nio.channels.FileChannel.open(p, java.nio.file.StandardOpenOption.READ)
    try {
      ch.position(from)
      val bb = java.nio.ByteBuffer.allocate((size - from).toInt)
      while (bb.hasRemaining && ch.read(bb) >= 0) {}
      val text = new String(bb.array(), 0, bb.position(), StandardCharsets.UTF_8)
      var pending: String = null
      var last: String = null
      val parts = text.split("\n", -1)
      // parts(parts.length - 1) is the bytes after the final '\n' — an
      // in-flight write the FrameIterator also ignores; every earlier
      // element was newline-terminated and therefore visible to the source.
      var i = 0
      while (i < parts.length - 1) {
        val line = parts(i)
        if (line.startsWith("id: ")) pending = line.substring(4)
        else if (line.startsWith("data: ") && pending != null) { last = pending; pending = null }
        i += 1
      }
      last
    } finally ch.close()
  }
}
