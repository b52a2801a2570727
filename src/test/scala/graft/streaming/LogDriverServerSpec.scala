package graft.streaming

import java.net.{StandardProtocolFamily, UnixDomainSocketAddress}
import java.nio.ByteBuffer
import java.nio.channels.SocketChannel
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.{Graft, SparkSpec}
import graft.functions.ProtoLogCodec
import graft.functions.ProtoLogCodec.LogEntry

/** The plugin wire protocol end-to-end over a real unix socket: recorded
  * docker-daemon request shapes (docker.rs:59-187's serde structs) round-
  * tripped through StartLogging → ReadLogs (plain and follow) →
  * StopLogging, with the framed-protobuf response body deframed and
  * decoded back to lines.
  */
class LogDriverServerSpec extends SparkSpec {

  private val t0 = 1700000000000000000L

  private def entryBytes(i: Int): Array[Byte] =
    ProtoLogCodec.frame(ProtoLogCodec.encode(LogEntry(
      "stdout", t0 + i * 1000000000L, s"wire $i".getBytes(UTF_8),
      partial = false, None)))

  /** One-shot HTTP POST over the unix socket; returns the raw response. */
  private def post(sock: java.nio.file.Path, path: String, body: String): Array[Byte] = {
    val payload = body.getBytes(UTF_8)
    // docker's plugin client often omits content-type; the adapter must
    // treat the body as JSON anyway (normalize_dockerjson, main.rs:17)
    val head = s"POST $path HTTP/1.1\r\nHost: d\r\n" +
      s"Content-Length: ${payload.length}\r\n\r\n"
    raw(sock, head.getBytes(UTF_8) ++ payload)
  }

  /** Send `request` bytes as-is over the unix socket; returns the raw response. */
  private def raw(sock: java.nio.file.Path, request: Array[Byte]): Array[Byte] = {
    val ch = SocketChannel.open(StandardProtocolFamily.UNIX)
    try {
      ch.connect(UnixDomainSocketAddress.of(sock))
      val req = ByteBuffer.wrap(request)
      while (req.hasRemaining) ch.write(req)
      val out = new java.io.ByteArrayOutputStream()
      val buf = ByteBuffer.allocate(64 * 1024)
      while (ch.read(buf) >= 0) {
        buf.flip()
        val arr = new Array[Byte](buf.remaining())
        buf.get(arr)
        out.write(arr)
        buf.clear()
      }
      out.toByteArray
    } finally ch.close()
  }

  private def bodyOf(response: Array[Byte]): Array[Byte] = {
    val s = response
    var i = 0
    while (!(s(i) == '\r' && s(i + 1) == '\n' && s(i + 2) == '\r' && s(i + 3) == '\n')) i += 1
    val headers = new String(s, 0, i, UTF_8)
    val rest = java.util.Arrays.copyOfRange(s, i + 4, s.length)
    if (headers.toLowerCase.contains("transfer-encoding: chunked")) dechunk(rest)
    else rest
  }

  private def dechunk(b: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < b.length) {
      val lineEnd = {
        var j = i
        while (!(b(j) == '\r' && b(j + 1) == '\n')) j += 1
        j
      }
      val size = Integer.parseInt(new String(b, i, lineEnd - i, UTF_8).trim, 16)
      if (size == 0) return out.toByteArray
      out.write(b, lineEnd + 2, size)
      i = lineEnd + 2 + size + 2
    }
    out.toByteArray
  }

  private def decodedLines(framedBody: Array[Byte]): Seq[String] =
    ProtoLogCodec.deframe(framedBody).map(m =>
      new String(ProtoLogCodec.decode(m).line, UTF_8)).toSeq

  private def jsonStr(response: Array[Byte]): String =
    new String(bodyOf(response), UTF_8)

  private def isStream(response: Array[Byte]): Boolean =
    new String(response, UTF_8).toLowerCase.contains("transfer-encoding: chunked")

  private def burst(range: Range): Array[Byte] =
    range.map(entryBytes).foldLeft(Array.emptyByteArray)(_ ++ _)

  /** A recorded ReadLogsConf body (docker's zero-time sentinels = unset). */
  private def readReq(follow: Boolean, since: String = "0001-01-01T00:00:00Z",
      until: String = "0001-01-01T00:00:00Z", tail: Int = -1): String =
    s"""{"Config": {"Follow": $follow, "Since": "$since",
       |  "Tail": $tail, "Until": "$until"},
       | "Info": {"Config": {}, "ContainerID": "c1"}}""".stripMargin

  private def at(second: Int): String =
    java.time.Instant.ofEpochSecond(0, t0 + second * 1000000000L).toString

  /** StartLogging for c1 over `fifo` (recorded StartLoggingConf shape,
    * docker.rs:52-57).
    */
  private def startC1(sock: java.nio.file.Path, fifo: java.nio.file.Path): Unit = {
    val startReq =
      s"""{"File": "$fifo", "Info": {"Config": {},
         |  "ContainerID": "c1", "ContainerName": "/wire_test",
         |  "DaemonName": "docker", "LogPath": ""}}""".stripMargin
    assert(jsonStr(post(sock, "/LogDriver.StartLogging", startReq)) === """{"Err":""}""")
  }

  /** Wait (up to 30 s) until `n` lines of c1 are committed. */
  private def awaitCommitted(root: String, g: Graft, n: Long): Unit = {
    def committed(): Long =
      if (!Files.exists(Paths.get(root, "logs"))) 0L else g.countLogs("c1")
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (committed() < n && System.nanoTime() < deadline)
      Thread.sleep(200)
    assert(committed() === n)
  }

  /** A follow ReadLogs in its own thread; the result holds its lines once
    * the stream ends.
    */
  private def followInBackground(sock: java.nio.file.Path, req: String)
      : (Thread, java.util.concurrent.atomic.AtomicReference[Seq[String]]) = {
    val collector = new java.util.concurrent.atomic.AtomicReference[Seq[String]](Nil)
    val reader = new Thread(() => collector.set(
      decodedLines(bodyOf(post(sock, "/LogDriver.ReadLogs", req)))))
    reader.start()
    (reader, collector)
  }

  test("Activate / Capabilities / fallback speak the recorded shapes") {
    val root = Files.createTempDirectory("graft-wire0").toString
    val sock = Paths.get(root, "graft.sock")
    val server = new LogDriverServer(Graft(spark, root), sock)
    server.start()
    try {
      assert(jsonStr(post(sock, "/Plugin.Activate", "")) ===
        """{"Implements":["LogDriver"]}""")
      assert(jsonStr(post(sock, "/LogDriver.Capabilities", "{}")) ===
        """{"Cap":{"ReadLogs":true}}""")
      assert(jsonStr(post(sock, "/NoSuch.Endpoint", "{}")) === "not found")
    } finally server.stop()
  }

  test("StartLogging → ReadLogs → follow picks up late bursts → StopLogging") {
    val root = Files.createTempDirectory("graft-wire1").toString
    val sock = Paths.get(root, "graft.sock")
    val g = Graft(spark, root)
    val server = new LogDriverServer(g, sock,
      followPollMs = 200L, followIdlePolls = 4)
    server.start()
    try {
      // the "fifo" docker hands the driver — a framed protobuf stream
      val fifo = Paths.get(root, "c1.fifo")
      Files.write(fifo, burst(0 until 5))
      startC1(sock, fifo)
      // pump lands the fifo into staging; the 100 ms ingest commits it
      awaitCommitted(root, g, 5)

      val lines = decodedLines(bodyOf(post(sock, "/LogDriver.ReadLogs", readReq(false))))
      assert(lines === (0 until 5).map(i => s"wire $i\n"))

      // tail applies when not following
      assert(decodedLines(bodyOf(post(sock, "/LogDriver.ReadLogs", readReq(false, tail = 2))))
        === Seq("wire 3\n", "wire 4\n"))

      // follow: a late burst staged while the stream is open must be
      // emitted before the idle give-up closes it
      val (reader, collector) = followInBackground(sock, readReq(true))
      Thread.sleep(400) // initial batch emitted, stream idling
      Files.write(Paths.get(g.stagingDir("c1")).resolve("late.pblog"), burst(5 until 8))
      reader.join(30000)
      assert(!reader.isAlive, "follow stream must give up after idle polls")
      assert(collector.get() === (0 until 8).map(i => s"wire $i\n"))

      // StopLogging resolves by fifo path (docker.rs:88-91)
      assert(jsonStr(post(sock, "/LogDriver.StopLogging",
        s"""{"File": "$fifo"}""")) === """{"Err":""}""")
      assert(g.activeContainers.isEmpty)
    } finally {
      server.stop()
      g.stopAll()
    }
  }

  test("follow honours Since/Until: only late lines inside the range stream") {
    val root = Files.createTempDirectory("graft-wire3").toString
    val sock = Paths.get(root, "graft.sock")
    val g = Graft(spark, root)
    val server = new LogDriverServer(g, sock, followPollMs = 200L, followIdlePolls = 15)
    server.start()
    try {
      val fifo = Paths.get(root, "c1.fifo")
      Files.write(fifo, burst(0 until 5))
      startC1(sock, fifo)
      awaitCommitted(root, g, 5)
      // Since lies past every committed line, so the initial read is empty;
      // the polls must still apply Since and Until, not replay history
      val (reader, collector) =
        followInBackground(sock, readReq(true, since = at(10), until = at(21)))
      Thread.sleep(300)
      Files.write(Paths.get(g.stagingDir("c1")).resolve("late.pblog"), burst(20 until 23))
      reader.join(30000)
      assert(!reader.isAlive, "follow stream must give up after idle polls")
      assert(collector.get() === Seq("wire 20\n", "wire 21\n"))
    } finally {
      server.stop()
      g.stopAll()
    }
  }

  test("ReadLogs before the first commit answers Err, never a partial stream") {
    val root = Files.createTempDirectory("graft-wire4").toString
    val sock = Paths.get(root, "graft.sock")
    val g = Graft(spark, root)
    val server = new LogDriverServer(g, sock, followPollMs = 200L, followIdlePolls = 4)
    server.start()
    try {
      val fifo = Paths.get(root, "c1.fifo")
      Files.write(fifo, Array.emptyByteArray) // the container has logged nothing
      startC1(sock, fifo)
      for (follow <- Seq(false, true)) {
        val response = post(sock, "/LogDriver.ReadLogs", readReq(follow))
        assert(!isStream(response), s"follow=$follow")
        assert(jsonStr(response).startsWith("""{"Err":"[graft] Could not read logs: """),
          s"follow=$follow")
      }
    } finally {
      server.stop()
      g.stopAll()
    }
  }

  test("an idle FIFO's complete frames commit while the writer stays open") {
    val root = Files.createTempDirectory("graft-wire5").toString
    val sock = Paths.get(root, "graft.sock")
    val g = Graft(spark, root)
    val server = new LogDriverServer(g, sock)
    server.start()
    val fifo = Paths.get(root, "c1.fifo")
    assert(new ProcessBuilder("mkfifo", fifo.toString).start().waitFor() === 0)
    try {
      startC1(sock, fifo)
      val writer = new java.io.FileOutputStream(fifo.toFile) // opens once the pump reads
      try {
        writer.write(burst(0 until 5))
        writer.flush()
        val deadline = System.nanoTime() + 2L * 1000 * 1000 * 1000
        def read(): Seq[String] = {
          val response = post(sock, "/LogDriver.ReadLogs", readReq(false))
          if (isStream(response)) decodedLines(bodyOf(response)) else Nil
        }
        var lines = read()
        while (lines.size < 5 && System.nanoTime() < deadline) {
          Thread.sleep(100)
          lines = read()
        }
        assert(lines === (0 until 5).map(i => s"wire $i\n"))
      } finally writer.close()
    } finally {
      server.stop()
      g.stopAll()
    }
  }

  test("malformed requests get 400 and the server keeps serving") {
    val root = Files.createTempDirectory("graft-wire6").toString
    val sock = Paths.get(root, "graft.sock")
    val server = new LogDriverServer(Graft(spark, root), sock)
    server.start()
    try {
      val requests = Seq(
        "NOSPACE\r\n\r\n",
        "POST /Plugin.Activate HTTP/1.1\r\nContent-Length: abc\r\n\r\n",
        "POST /LogDriver.ReadLogs HTTP/1.1\r\nContent-Length: -5\r\n\r\n",
        "POST /LogDriver.ReadLogs HTTP/1.1\r\nContent-Length: 2147483647\r\n\r\n",
        "POST /LogDriver.StartLogging HTTP/1.1\r\nContent-Length: 9\r\n\r\n{\"File\": ")
      for (r <- requests) {
        val response = new String(raw(sock, r.getBytes(UTF_8)), UTF_8)
        assert(response.startsWith("HTTP/1.1 400 Bad Request\r\n"), r)
      }
      assert(jsonStr(post(sock, "/Plugin.Activate", "")) ===
        """{"Implements":["LogDriver"]}""")
    } finally server.stop()
  }

  test("StartLogging with an invalid option map returns the parse error") {
    val root = Files.createTempDirectory("graft-wire2").toString
    val sock = Paths.get(root, "graft.sock")
    val server = new LogDriverServer(Graft(spark, root), sock)
    server.start()
    try {
      val req =
        s"""{"File": "$root/x.fifo", "Info": {
           |  "Config": {"cleanup_age": "10 parsecs"},
           |  "ContainerID": "bad"}}""".stripMargin
      val err = jsonStr(post(sock, "/LogDriver.StartLogging", req))
      assert(err.startsWith("""{"Err":""""))
      assert(err !== """{"Err":""}""")
    } finally server.stop()
  }
}
