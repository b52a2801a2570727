package graft.streaming

import java.net.{StandardProtocolFamily, UnixDomainSocketAddress}
import java.nio.ByteBuffer
import java.nio.channels.{ServerSocketChannel, SocketChannel}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.TimerTask
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}

import graft.Graft
import graft.functions.ProtoLogCodec

/** The reference's docker log-driver plugin wire protocol — HTTP/1.1 over
  * a unix socket (logsqlite `src/main.rs:97-110`) — served on top of the
  * [[graft.Graft]] facade, so a docker daemon pointed at this socket gets
  * the same five endpoints the reference registers:
  *
  *  - `POST /Plugin.Activate`          → `{"Implements": ["LogDriver"]}`
  *  - `POST /LogDriver.Capabilities`   → `{"Cap": {"ReadLogs": true}}`
  *  - `POST /LogDriver.StartLogging`   → [[graft.Graft.startLogging]]
  *    for `Info.ContainerID` with the per-container options in
  *    `Info.Config` (`src/docker.rs:59-84`), then a pump from `File`
  *    into the container's staging dir; a ContainerID that is not a
  *    single path segment or bad options → `{"Err": msg}`.
  *  - `POST /LogDriver.StopLogging`    → resolved by FIFO path, the
  *    reference's keying (`src/docker.rs:86-109`; the fifo→container map
  *    is the adapter's, as it is the StateHandler's there): the pump
  *    flushes the FIFO's tail, then [[graft.Graft.stopLogging]] keeps or
  *    deletes the data per the container's `delete_when_stopped`.
  *  - `POST /LogDriver.ReadLogs`       → a stream of big-endian
  *    u32-length-prefixed protobuf LogEntry frames (`src/logger.rs:126`),
  *    honoring Since/Until (zero-time sentinels), Tail (<1 = all,
  *    ignored under Follow) and Follow ([[graft.Graft.follow]]: one
  *    read of the range, then the lines of each of the container's commits,
  *    read once by the commit for all its followers; the stream ends with the chunk terminator once the container stops, at
  *    once when it was not logging, or after an hour with no line).
  *
  * Transport notes: one request per connection (`Connection: close`),
  * which every docker plugin client tolerates; responses stream chunked,
  * and ReadLogs iterates `toLocalIterator` so a large log range never
  * materializes on the adapter's heap. Requests missing a content-type
  * are treated as JSON, mirroring `normalize_dockerjson`
  * (`src/main.rs:17-29`); bodies are parsed by Jackson, and trailing
  * content or nesting past its default depth cap is a 400. A request not
  * read in full within `RequestDeadlineMs` has its connection closed; a
  * response, a follow stream included, has no deadline.
  */
final class LogDriverServer(graft: Graft, socketPath: Path) {

  // fifo path → the container logging through it, exactly the reference
  // StateHandler's keying (it also resolves StopLogging by fifo path)
  private val fifoToContainer = TrieMap.empty[String, LogDriverServer.Logging]
  @volatile private var channel: ServerSocketChannel = _
  @volatile private var running = false
  // cap on a request's headers and on its body: plugin bodies are < 1 KiB
  private val maxRequestBytes = 1 << 20

  def start(): Unit = synchronized {
    require(!running, "server already running")
    Files.deleteIfExists(socketPath)
    channel = ServerSocketChannel.open(StandardProtocolFamily.UNIX)
    channel.bind(UnixDomainSocketAddress.of(socketPath))
    running = true
    val t = new Thread(() => acceptLoop(), s"logdriver-$socketPath")
    t.setDaemon(true)
    t.start()
  }

  def stop(): Unit = synchronized {
    running = false
    if (channel != null) try channel.close() catch { case NonFatal(_) => }
    Files.deleteIfExists(socketPath)
  }

  private def acceptLoop(): Unit =
    while (running) {
      try {
        val conn = channel.accept()
        val t = new Thread(() => { try handle(conn) finally conn.close() })
        t.setDaemon(true)
        t.start()
      } catch {
        case NonFatal(_) if !running => // closed during shutdown
        case NonFatal(e) => if (running) Console.err.println(s"[logdriver] accept: $e")
      }
    }

  // ---- HTTP/1.1 over the socket -------------------------------------------

  private def handle(conn: SocketChannel): Unit = {
    // a client that stalls mid-request must not hold this thread: closing
    // the channel ends the blocked read. Whichever of the deadline and the
    // parsed request comes first owns the connection.
    val owned = new AtomicBoolean()
    val deadline = new TimerTask {
      def run(): Unit =
        if (owned.compareAndSet(false, true)) try conn.close() catch { case NonFatal(_) => }
    }
    LogDriverServer.deadlines.schedule(deadline, LogDriverServer.RequestDeadlineMs)
    val req =
      try Right(readRequest(conn))
      catch { case NonFatal(e) => Left(e) }
    deadline.cancel()
    if (!owned.compareAndSet(false, true)) return // past the deadline: closed
    val (path, body) = req match {
      // a malformed request gets a 400 and the connection closes; the
      // handler thread must not die without a reply
      case Left(e) =>
        respond(conn, "400 Bad Request", "text/plain; charset=utf-8",
          s"bad request: ${e.getMessage}".getBytes(UTF_8))
        return
      case Right(null) => return
      case Right(r) => r
    }
    path match {
      case "/Plugin.Activate" =>
        respondJson(conn, """{"Implements":["LogDriver"]}""")
      case "/LogDriver.Capabilities" =>
        respondJson(conn, """{"Cap":{"ReadLogs":true}}""")
      case "/LogDriver.StartLogging" => startLogging(conn, body)
      case "/LogDriver.StopLogging" => stopLogging(conn, body)
      case "/LogDriver.ReadLogs" => readLogs(conn, body)
      case _ =>
        // the reference's fallback returns plain "not found" (docker.rs:198)
        respond(conn, "200 OK", "text/plain; charset=utf-8",
          "not found".getBytes(UTF_8))
    }
  }

  /** Read one request; returns (path, parsed JSON body), or null on EOF
    * before the headers end. Throws on a malformed request line,
    * Content-Length or JSON body, and on headers or a body over
    * `maxRequestBytes`.
    */
  private def readRequest(conn: SocketChannel): (String, JsonNode) = {
    val head = new java.io.ByteArrayOutputStream()
    val one = ByteBuffer.allocate(1)
    // read byte-wise until CRLFCRLF (headers are tiny; body read in bulk)
    var seen = 0
    while (seen < 4) {
      require(head.size() < maxRequestBytes, "headers too large")
      one.clear()
      if (conn.read(one) < 0) return null
      val b = one.get(0)
      head.write(b.toInt)
      seen = (seen, b) match {
        case (0, '\r') => 1
        case (1, '\n') => 2
        case (2, '\r') => 3
        case (3, '\n') => 4
        case (_, '\r') => 1
        case _ => 0
      }
    }
    val lines = head.toString("ISO-8859-1").split("\r\n")
    val target = lines(0).split(" ")
    require(target.length >= 2, "malformed request line")
    val len = lines.drop(1).collectFirst {
      case l if l.toLowerCase.startsWith("content-length:") =>
        l.substring(15).trim.toIntOption.getOrElse(-1)
    }.getOrElse(0)
    require(len >= 0 && len <= maxRequestBytes, "bad Content-Length")
    val body = ByteBuffer.allocate(len)
    while (body.hasRemaining)
      if (conn.read(body) < 0)
        throw new java.io.EOFException("truncated body")
    (target(1), LogDriverServer.json.readTree(new String(body.array(), UTF_8)))
  }

  private def respond(conn: SocketChannel, status: String, ctype: String,
      body: Array[Byte]): Unit = {
    val head = s"HTTP/1.1 $status\r\nContent-Type: $ctype\r\n" +
      s"Content-Length: ${body.length}\r\nConnection: close\r\n\r\n"
    writeFully(conn, head.getBytes(UTF_8))
    writeFully(conn, body)
  }

  private def respondJson(conn: SocketChannel, json: String): Unit =
    respond(conn, "200 OK", "application/json", json.getBytes(UTF_8))

  private def writeFully(conn: SocketChannel, bytes: Array[Byte]): Unit = {
    val buf = ByteBuffer.wrap(bytes)
    while (buf.hasRemaining) conn.write(buf)
  }

  // ---- endpoints ----------------------------------------------------------

  /** A string field's value; "" when absent or not a string. */
  private def str(v: JsonNode): String = Option(v.textValue).getOrElse("")

  private def respondErr(conn: SocketChannel, msg: String): Unit =
    respondJson(conn, LogDriverServer.json.writeValueAsString(java.util.Map.of("Err", msg)))

  private def startLogging(conn: SocketChannel, body: JsonNode): Unit = {
    val fifo = str(body.path("File"))
    val info = body.path("Info")
    val containerId = str(info.path("ContainerID"))
    val options = info.path("Config").properties.asScala
      .map(e => e.getKey -> str(e.getValue)).toMap
    graft.startLogging(containerId, options) match {
      case Left(err) => respondErr(conn, err)
      case Right(_) =>
        val pump = new FifoPump(java.nio.file.Paths.get(fifo),
          java.nio.file.Paths.get(graft.stagingDir(containerId)))
        pump.start()
        fifoToContainer.put(fifo, LogDriverServer.Logging(containerId, pump))
        respondErr(conn, "")
    }
  }

  private def stopLogging(conn: SocketChannel, body: JsonNode): Unit = {
    fifoToContainer.remove(str(body.path("File"))) match {
      case Some(l) =>
        l.pump.close() // drain + flush the fifo's tail before the last batch
        graft.stopLogging(l.containerId)
      case None => // unknown fifo: the reference also answers Err:"" (no-op)
    }
    respondErr(conn, "")
  }

  private def readLogs(conn: SocketChannel, body: JsonNode): Unit = {
    val cfg = body.path("Config")
    val containerId = str(body.path("Info").path("ContainerID"))
    val since = Some(str(cfg.path("Since"))).filter(_.nonEmpty)
    val until = Some(str(cfg.path("Until"))).filter(_.nonEmpty)
    val tail = cfg.path("Tail").asLong(0L)
    val follow = cfg.path("Follow").booleanValue

    // resolve the range BEFORE streaming: an unreadable table (e.g. no
    // batch committed yet) answers the reference's pre-stream error shape
    // (docker.rs:168-175) instead of a truncated body
    val initial =
      try Right(graft.readLogs(Some(containerId), since, until, tail, follow))
      catch { case NonFatal(e) => Left(Option(e.getMessage).getOrElse(e.toString)) }
    val df = initial match {
      case Left(msg) =>
        respondErr(conn, s"[graft] Could not read logs: $msg")
        return
      case Right(d) => d
    }

    // chunked stream of [u32 BE length][protobuf LogEntry] frames — the
    // body a docker daemon deframes back into log lines
    val head = "HTTP/1.1 200 OK\r\nContent-Type: application/octet-stream\r\n" +
      "Transfer-Encoding: chunked\r\nConnection: close\r\n\r\n"
    writeFully(conn, head.getBytes(UTF_8))
    def writeFrame(message: Array[Byte]): Unit =
      writeChunk(conn, ProtoLogCodec.frame(message))
    try {
      // under Follow, tail is ignored, so follow's own first read (made
      // once it is attached, so no commit falls between) is the whole range
      if (follow) graft.follow(containerId, since, until)((_, message) => writeFrame(message))
      else graft.frames(df).foreach { case (_, message) => writeFrame(message) }
      writeFully(conn, "0\r\n\r\n".getBytes(UTF_8))
    } catch {
      case NonFatal(_) => // client hung up mid-stream: stop following
    }
  }

  private def writeChunk(conn: SocketChannel, bytes: Array[Byte]): Unit = {
    writeFully(conn, f"${bytes.length}%x\r\n".getBytes(UTF_8))
    writeFully(conn, bytes)
    writeFully(conn, "\r\n".getBytes(UTF_8))
  }
}

object LogDriverServer {
  /** One StartLogging: the container and its FIFO's pump. */
  private final case class Logging(containerId: String, pump: FifoPump)

  // plugin request bodies; `{"a":1} x` is malformed, not `{"a":1}`
  private val json = new ObjectMapper().enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** How long a client has to send its whole request. Plugin requests are
    * under 1 KiB and the daemon sends each at once.
    */
  val RequestDeadlineMs = 5000L

  /** One daemon thread closes the connections that miss the deadline. */
  private val deadlines = new java.util.Timer("logdriver-request-deadline", true)
}

/** Reads the docker FIFO the daemon hands StartLogging and lands its
  * framed protobuf stream as burst files in the container's staging
  * directory — the hand-off point where the reference's in-process reader
  * (`src/logger.rs:76-133`) becomes this engine's micro-batch ingest.
  * Only COMPLETE frames are ever flushed (a partial tail stays buffered),
  * so every staged burst deframes cleanly; bursts cut at ~100 ms or
  * 1 MiB, whichever first — the reference's batch cadence — and a FIFO
  * that goes quiet still has its complete frames landed by the deadline.
  * Burst files are named `pump-<lifetime>-<burst>.pblog`: a pump started
  * on a container whose ingest checkpoint survived (a StartLogging after
  * a StopLogging that kept the data, or a replay) must not reuse a path
  * the checkpointed file source has already seen, or it would skip it.
  */
private[streaming] final class FifoPump(fifo: java.nio.file.Path, stagingDir: java.nio.file.Path)
    extends Thread(s"fifo-pump-$fifo") {
  setDaemon(true)

  @volatile private var closing = false
  @volatile private var in: java.io.InputStream = _
  private val flushNanos = 100L * 1000 * 1000
  private val maxBuf = 1 << 20

  // burst state, shared by the read loop and the idle flusher
  private val lock = new Object
  private val lifetime = FifoPump.nextLifetime()
  // pending bytes: acc(0 until len); grows by doubling, never copied per read
  private var acc = new Array[Byte](64 * 1024)
  private var len = 0
  private var burst = 0
  private var lastFlush = System.nanoTime()
  private var fresh = false // acc holds bytes read since the last flush
  private var done = false

  override def run(): Unit = {
    // the read below blocks while the FIFO is quiet; this thread lands what
    // it leaves pending by the deadline (under load the read loop cuts)
    val idle = new Thread(() => flushWhenIdle(), s"fifo-idle-flush-$fifo")
    idle.setDaemon(true)
    try {
      in = Files.newInputStream(fifo)
      Files.createDirectories(stagingDir)
      idle.start()
      val buf = new Array[Byte](64 * 1024)
      var n = 0
      while (!closing && { n = in.read(buf); n >= 0 }) lock.synchronized {
        if (n > 0) {
          if (len + n > acc.length)
            acc = java.util.Arrays.copyOf(acc, math.max(acc.length * 2, len + n))
          System.arraycopy(buf, 0, acc, len, n)
          len += n
          fresh = true
        }
        if (len >= maxBuf || System.nanoTime() - lastFlush >= flushNanos) flush()
      }
    } catch {
      case NonFatal(_) => // stream closed under us (close()) or fifo vanished
    }
    lock.synchronized { done = true; lock.notifyAll() }
    if (idle.isAlive) idle.join()
    try lock.synchronized(flush()) catch { case NonFatal(_) => }
  }

  /** Until the read loop ends, flush fresh bytes once `flushNanos` have
    * passed since the last flush.
    */
  private def flushWhenIdle(): Unit =
    try lock.synchronized {
      while (!done) {
        val wait = lastFlush + flushNanos - System.nanoTime()
        if (wait > 0) lock.wait(wait / 1000000 + 1)
        else if (fresh) flush()
        else lock.wait(flushNanos / 1000000)
      }
    } catch {
      case NonFatal(_) => // staging dir gone: the read loop's next flush fails alike
    }

  /** Write the longest complete-frame prefix of the pending bytes as one
    * burst file and keep the rest pending; call holding `lock`.
    */
  private def flush(): Unit = {
    var end = 0
    var more = true
    while (more && len - end >= 4) {
      val frameLen = ByteBuffer.wrap(acc, end, 4).getInt
      if (frameLen < 0 || len - end - 4 < frameLen) more = false
      else end += 4 + frameLen
    }
    if (end > 0) {
      val tmp = stagingDir.resolve(s"pump-$lifetime-$burst.tmp")
      val out = Files.newOutputStream(tmp)
      try out.write(acc, 0, end) finally out.close()
      // rename so the binaryFile source never sees a half-written burst
      Files.move(tmp, stagingDir.resolve(f"pump-$lifetime-$burst%06d.pblog"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      burst += 1
      System.arraycopy(acc, end, acc, 0, len - end)
      len -= end
    }
    lastFlush = System.nanoTime()
    fresh = false
  }

  def close(): Unit = {
    closing = true
    val s = in
    if (s != null) try s.close() catch { case NonFatal(_) => }
    join(5000)
  }
}

private[streaming] object FifoPump {
  private val lastLifetime = new java.util.concurrent.atomic.AtomicLong()

  /** A token no earlier pump has used: the start time in ms, bumped past
    * the last token this process handed out (two pumps in one ms).
    */
  private def nextLifetime(): Long =
    lastLifetime.updateAndGet(last => math.max(last + 1, System.currentTimeMillis()))
}
