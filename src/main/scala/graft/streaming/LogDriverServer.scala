package graft.streaming

import java.net.{StandardProtocolFamily, UnixDomainSocketAddress}
import java.nio.ByteBuffer
import java.nio.channels.{ServerSocketChannel, SocketChannel}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import graft.Graft
import graft.functions.ProtoLogCodec

/** The reference's docker log-driver plugin wire protocol — HTTP/1.1 over
  * a unix socket (logsqlite `src/main.rs:97-110`) — served on top of the
  * [[graft.Graft]] facade, so a docker daemon pointed at this socket gets
  * the same five endpoints the reference registers:
  *
  *  - `POST /Plugin.Activate`          → `{"Implements": ["LogDriver"]}`
  *  - `POST /LogDriver.Capabilities`   → `{"Cap": {"ReadLogs": true}}`
  *  - `POST /LogDriver.StartLogging`   → start ingest for
  *    `Info.ContainerID`, per-container options from `Info.Config`
  *    (`src/docker.rs:59-84`); bad options → `{"Err": msg}`.
  *  - `POST /LogDriver.StopLogging`    → resolved by FIFO path, the
  *    reference's keying (`src/docker.rs:86-109`; the fifo→container map
  *    is the adapter's, as it is the StateHandler's there).
  *  - `POST /LogDriver.ReadLogs`       → a stream of big-endian
  *    u32-length-prefixed protobuf LogEntry frames (`src/logger.rs:126`),
  *    honoring Since/Until (zero-time sentinels), Tail (<1 = all,
  *    ignored under Follow) and Follow ([[graft.Graft.follow]]'s cursor
  *    poll every `followPollMs`, idle give-up after `followIdlePolls`
  *    empty polls — `src/logger.rs:287-288`).
  *
  * Transport notes: one request per connection (`Connection: close`),
  * which every docker plugin client tolerates; responses stream chunked,
  * and ReadLogs iterates `toLocalIterator` so a large log range never
  * materializes on the adapter's heap. Requests missing a content-type
  * are treated as JSON, mirroring `normalize_dockerjson`
  * (`src/main.rs:17-29`).
  */
final class LogDriverServer(
    graft: Graft,
    socketPath: Path,
    followPollMs: Long = 1000L,
    followIdlePolls: Int = 3600) {

  // fifo path → (container id, pump), exactly the reference StateHandler's
  // keying (it also resolves StopLogging by fifo path)
  private val fifoToContainer = TrieMap.empty[String, (String, FifoPump)]
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
    // a malformed request gets a 400 and the connection closes; the
    // handler thread must not die without a reply
    val req =
      try readRequest(conn)
      catch {
        // StackOverflowError: deeply nested JSON in MiniJson's recursive parse
        case e @ (NonFatal(_) | _: StackOverflowError) =>
          respond(conn, "400 Bad Request", "text/plain; charset=utf-8",
            s"bad request: ${e.getMessage}".getBytes(UTF_8))
          return
      }
    if (req == null) return
    val (path, body) = req
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
  private def readRequest(conn: SocketChannel): (String, Any) = {
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
    val text = new String(body.array(), UTF_8)
    (target(1), if (text.trim.isEmpty) Map.empty[String, Any] else MiniJson.parse(text))
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

  private def obj(v: Any): Map[String, Any] = v match {
    case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
    case _ => Map.empty
  }

  private def str(v: Any): String = v match {
    case s: String => s
    case _ => ""
  }

  private def startLogging(conn: SocketChannel, body: Any): Unit = {
    val conf = obj(body)
    val fifo = str(conf.getOrElse("File", ""))
    val info = obj(conf.getOrElse("Info", Map.empty))
    val containerId = str(info.getOrElse("ContainerID", ""))
    val options = obj(info.getOrElse("Config", Map.empty))
      .map { case (k, v) => k -> str(v) }
    if (containerId.isEmpty) {
      respondJson(conn, """{"Err":"missing ContainerID"}""")
      return
    }
    // the ingest query lists this dir at analysis time — it must exist
    // before the (asynchronous) pump first flushes into it
    Files.createDirectories(java.nio.file.Paths.get(graft.stagingDir(containerId)))
    graft.startLoggingWithOptions(containerId, options) match {
      case Left(err) =>
        respondJson(conn, s"""{"Err":${MiniJson.quote(err)}}""")
      case Right(_) =>
        val pump = new FifoPump(java.nio.file.Paths.get(fifo),
          java.nio.file.Paths.get(graft.stagingDir(containerId)))
        pump.start()
        fifoToContainer.put(fifo, (containerId, pump))
        respondJson(conn, """{"Err":""}""")
    }
  }

  private def stopLogging(conn: SocketChannel, body: Any): Unit = {
    val fifo = str(obj(body).getOrElse("File", ""))
    fifoToContainer.remove(fifo) match {
      case Some((containerId, pump)) =>
        pump.close() // drain + flush the fifo's tail before the last batch
        graft.stopLogging(containerId)
      case None => // unknown fifo: the reference also answers Err:"" (no-op)
    }
    respondJson(conn, """{"Err":""}""")
  }

  private def readLogs(conn: SocketChannel, body: Any): Unit = {
    val root = obj(body)
    val cfg = obj(root.getOrElse("Config", Map.empty))
    val info = obj(root.getOrElse("Info", Map.empty))
    val containerId = str(info.getOrElse("ContainerID", ""))
    val since = cfg.get("Since").map(str).filter(_.nonEmpty)
    val until = cfg.get("Until").map(str).filter(_.nonEmpty)
    val tail = cfg.get("Tail") match {
      case Some(d: Double) => d.toLong
      case _ => 0L
    }
    val follow = cfg.get("Follow").contains(true)

    // resolve the range BEFORE streaming: an unreadable table (e.g. no
    // batch committed yet) answers the reference's pre-stream error shape
    // (docker.rs:168-175) instead of a truncated body
    val initial =
      try Right(graft.readLogs(Some(containerId), since, until, tail, follow))
      catch { case NonFatal(e) => Left(Option(e.getMessage).getOrElse(e.toString)) }
    val df = initial match {
      case Left(msg) =>
        respondJson(conn,
          s"""{"Err":${MiniJson.quote(s"[graft] Could not read logs: $msg")}}""")
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
      var last = Long.MinValue
      graft.frames(df).foreach { case (seq, message) => writeFrame(message); last = seq }
      if (follow)
        graft.follow(Some(containerId), since, until, last, followPollMs, followIdlePolls)(
          (_, message) => writeFrame(message))
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

/** Reads the docker FIFO the daemon hands StartLogging and lands its
  * framed protobuf stream as burst files in the container's staging
  * directory — the hand-off point where the reference's in-process reader
  * (`src/logger.rs:76-133`) becomes this engine's micro-batch ingest.
  * Only COMPLETE frames are ever flushed (a partial tail stays buffered),
  * so every staged burst deframes cleanly; bursts cut at ~100 ms or
  * 1 MiB, whichever first — the reference's batch cadence — and a FIFO
  * that goes quiet still has its complete frames landed by the deadline.
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
  private var acc = Array.emptyByteArray
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
        if (n > 0) { acc = acc ++ java.util.Arrays.copyOf(buf, n); fresh = true }
        if (acc.length >= maxBuf || System.nanoTime() - lastFlush >= flushNanos) flush()
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

  /** Cut a burst from `acc`; call holding `lock`. */
  private def flush(): Unit = {
    acc = flushComplete(acc, burst) match {
      case (rest, wrote) => if (wrote) burst += 1; rest
    }
    lastFlush = System.nanoTime()
    fresh = false
  }

  /** Write the longest complete-frame prefix of `acc` as one burst file;
    * return (unflushed remainder, wrote-a-file).
    */
  private def flushComplete(acc: Array[Byte], burst: Int): (Array[Byte], Boolean) = {
    var end = 0
    while (acc.length - end >= 4) {
      val len = ByteBuffer.wrap(acc, end, 4).getInt
      if (len < 0 || acc.length - end - 4 < len) return writeOut(acc, end, burst)
      end += 4 + len
    }
    writeOut(acc, end, burst)
  }

  private def writeOut(acc: Array[Byte], end: Int, burst: Int): (Array[Byte], Boolean) = {
    if (end == 0) (acc, false)
    else {
      val tmp = stagingDir.resolve(s"pump-$burst.tmp")
      Files.write(tmp, java.util.Arrays.copyOf(acc, end))
      // rename so the binaryFile source never sees a half-written burst
      Files.move(tmp, stagingDir.resolve(f"pump-$burst%06d.pblog"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      (java.util.Arrays.copyOfRange(acc, end, acc.length), true)
    }
  }

  def close(): Unit = {
    closing = true
    val s = in
    if (s != null) try s.close() catch { case NonFatal(_) => }
    join(5000)
  }
}

/** Minimal JSON reader for the plugin protocol's small request bodies
  * (objects/arrays/strings/numbers/bools/null; numbers as Double).
  */
private[streaming] object MiniJson {

  def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def parse(text: String): Any = {
    val p = new P(text)
    val v = p.value()
    p.ws()
    require(p.eof, s"trailing JSON content at ${p.pos}")
    v
  }

  private final class P(s: String) {
    var pos = 0
    def eof: Boolean = pos >= s.length
    def ws(): Unit = while (!eof && s.charAt(pos).isWhitespace) pos += 1
    private def expect(c: Char): Unit = {
      require(!eof && s.charAt(pos) == c, s"expected '$c' at $pos")
      pos += 1
    }
    def value(): Any = {
      ws()
      require(!eof, "unexpected end of JSON")
      s.charAt(pos) match {
        case '{' => objValue()
        case '[' => arrValue()
        case '"' => strValue()
        case 't' => lit("true", true)
        case 'f' => lit("false", false)
        case 'n' => lit("null", null)
        case _ => numValue()
      }
    }
    private def lit(word: String, v: Any): Any = {
      require(s.startsWith(word, pos), s"bad literal at $pos")
      pos += word.length
      v
    }
    private def objValue(): Map[String, Any] = {
      expect('{'); ws()
      val b = Map.newBuilder[String, Any]
      if (!eof && s.charAt(pos) == '}') { pos += 1; return b.result() }
      var more = true
      while (more) {
        ws()
        val k = strValue()
        ws(); expect(':')
        b += k -> value()
        ws()
        if (!eof && s.charAt(pos) == ',') pos += 1 else more = false
      }
      expect('}')
      b.result()
    }
    private def arrValue(): List[Any] = {
      expect('['); ws()
      val b = List.newBuilder[Any]
      if (!eof && s.charAt(pos) == ']') { pos += 1; return b.result() }
      var more = true
      while (more) {
        b += value()
        ws()
        if (!eof && s.charAt(pos) == ',') pos += 1 else more = false
      }
      expect(']')
      b.result()
    }
    private def strValue(): String = {
      expect('"')
      val sb = new StringBuilder
      while (s.charAt(pos) != '"') {
        val c = s.charAt(pos)
        if (c == '\\') {
          pos += 1
          s.charAt(pos) match {
            case '"' => sb += '"'
            case '\\' => sb += '\\'
            case '/' => sb += '/'
            case 'b' => sb += '\b'
            case 'f' => sb += '\f'
            case 'n' => sb += '\n'
            case 'r' => sb += '\r'
            case 't' => sb += '\t'
            case 'u' =>
              sb += Integer.parseInt(s.substring(pos + 1, pos + 5), 16).toChar
              pos += 4
            case c2 => throw new IllegalArgumentException(s"bad escape \\$c2")
          }
        } else sb += c
        pos += 1
      }
      pos += 1
      sb.toString
    }
    private def numValue(): Double = {
      val start = pos
      if (!eof && (s.charAt(pos) == '-' || s.charAt(pos) == '+')) pos += 1
      while (!eof && (s.charAt(pos).isDigit || "eE+-.".indexOf(s.charAt(pos)) >= 0))
        pos += 1
      s.substring(start, pos).toDouble
    }
  }
}
