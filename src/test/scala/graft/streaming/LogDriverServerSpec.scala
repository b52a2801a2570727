package graft.streaming

import java.net.{StandardProtocolFamily, UnixDomainSocketAddress}
import java.nio.ByteBuffer
import java.nio.channels.SocketChannel
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

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
    * docker.rs:52-57) with the per-container option map `config`.
    */
  private def startC1(sock: java.nio.file.Path, fifo: java.nio.file.Path,
      config: String = "{}"): Unit = {
    val startReq =
      s"""{"File": "$fifo", "Info": {"Config": $config,
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

  /** A follow ReadLogs in its own thread; the result holds the raw
    * response once the stream ends.
    */
  private def followInBackground(sock: java.nio.file.Path, req: String)
      : (Thread, java.util.concurrent.atomic.AtomicReference[Array[Byte]]) = {
    val response = new java.util.concurrent.atomic.AtomicReference[Array[Byte]]()
    val reader = new Thread(() => response.set(post(sock, "/LogDriver.ReadLogs", req)))
    reader.start()
    (reader, response)
  }

  private val keep = """{"delete_when_stopped": "false"}"""

  private def stopC1(sock: java.nio.file.Path, fifo: java.nio.file.Path): Unit =
    assert(jsonStr(post(sock, "/LogDriver.StopLogging",
      s"""{"File": "$fifo"}""")) === """{"Err":""}""")

  /** StopLogging ends the follow stream: it must close with the chunk
    * terminator, having streamed `lines` once each, in order.
    */
  private def stopEndsFollow(sock: java.nio.file.Path, fifo: java.nio.file.Path,
      reader: Thread, response: java.util.concurrent.atomic.AtomicReference[Array[Byte]],
      lines: Seq[String]): Unit = {
    assert(reader.isAlive, "follow stream must stay open while the container logs")
    stopC1(sock, fifo)
    reader.join(30000)
    assert(!reader.isAlive, "follow stream must end at StopLogging")
    assert(new String(response.get(), UTF_8).endsWith("\r\n0\r\n\r\n"),
      "follow stream must end with the chunk terminator")
    assert(decodedLines(bodyOf(response.get())) === lines)
  }

  /** Stage `bytes` as one burst of c1, renamed into place so the running
    * ingest query never sees half of it.
    */
  private def stage(g: Graft, name: String, bytes: Array[Byte]): Unit = {
    val dir = Paths.get(g.stagingDir("c1"))
    val tmp = Files.write(dir.resolve(s"$name.tmp"), bytes)
    Files.move(tmp, dir.resolve(s"$name.pblog"), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Bytes staged for c1 so far (staged bursts are kept after their commit). */
  private def stagedBytes(g: Graft): Long = {
    val files = Files.list(Paths.get(g.stagingDir("c1")))
    try files.iterator().asScala.filter(_.toString.endsWith(".pblog")).map(Files.size).sum
    finally files.close()
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
    val server = new LogDriverServer(g, sock)
    server.start()
    // the FIFO docker hands the driver: a framed protobuf stream whose
    // writer stays open until the container exits
    val fifo = Paths.get(root, "c1.fifo")
    assert(new ProcessBuilder("mkfifo", fifo.toString).start().waitFor() === 0)
    try {
      startC1(sock, fifo, keep)
      val writer = new java.io.FileOutputStream(fifo.toFile) // opens once the pump reads
      val (reader, response) = try {
        writer.write(burst(0 until 5))
        writer.flush()
        // pump lands the fifo into staging; the 100 ms ingest commits it
        awaitCommitted(root, g, 5)

        val lines = decodedLines(bodyOf(post(sock, "/LogDriver.ReadLogs", readReq(false))))
        assert(lines === (0 until 5).map(i => s"wire $i\n"))

        // tail applies when not following
        assert(decodedLines(bodyOf(post(sock, "/LogDriver.ReadLogs", readReq(false, tail = 2))))
          === Seq("wire 3\n", "wire 4\n"))

        // follow: a late burst committed while the stream is open is emitted
        val follower = followInBackground(sock, readReq(true))
        Thread.sleep(400) // initial batch emitted, stream waiting
        writer.write(burst(5 until 8))
        writer.flush()
        awaitCommitted(root, g, 8)
        // the container's last lines, then it exits: the pump lands the
        // FIFO's tail at EOF
        writer.write(burst(8 until 10))
        follower
      } finally writer.close()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (stagedBytes(g) < burst(0 until 10).length && System.nanoTime() < deadline)
        Thread.sleep(20)

      // StopLogging resolves by fifo path (docker.rs:88-91), commits the
      // tail, and the follower's last read delivers it
      stopEndsFollow(sock, fifo, reader, response, (0 until 10).map(i => s"wire $i\n"))
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
    val server = new LogDriverServer(g, sock)
    server.start()
    try {
      val fifo = Paths.get(root, "c1.fifo")
      Files.write(fifo, burst(0 until 5))
      startC1(sock, fifo, keep)
      awaitCommitted(root, g, 5)
      // Since lies past every committed line, so the initial read is empty;
      // the later reads must still apply Since and Until, not replay history
      val (reader, response) =
        followInBackground(sock, readReq(true, since = at(10), until = at(21)))
      Thread.sleep(300)
      stage(g, "late", burst(20 until 23))
      awaitCommitted(root, g, 8)
      stopEndsFollow(sock, fifo, reader, response, Seq("wire 20\n", "wire 21\n"))
    } finally {
      server.stop()
      g.stopAll()
    }
  }

  test("a Follow ReadLogs on a quiet container reads the table once") {
    val root = Files.createTempDirectory("graft-wire3b").toString
    val sock = Paths.get(root, "graft.sock")
    val g = Graft(spark, root)
    val server = new LogDriverServer(g, sock)
    server.start()
    try {
      val fifo = Paths.get(root, "c1.fifo")
      Files.write(fifo, burst(0 until 5))
      startC1(sock, fifo, keep)
      awaitCommitted(root, g, 5)
      // SQL executions over the table, and those with follow's `seq >` predicate
      val table = Paths.get(root, "logs").toString
      val (reads, seqReads) = (new AtomicInteger, new AtomicInteger)
      val listener = new SparkListener {
        override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
          case x: SparkListenerSQLExecutionStart if x.physicalPlanDescription.contains(table) =>
            reads.incrementAndGet()
            if (x.physicalPlanDescription.contains("GreaterThan(seq,")) seqReads.incrementAndGet()
          case _ =>
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val (reader, response) = followInBackground(sock, readReq(true))
        Thread.sleep(2000) // the range streamed; no commit follows
        stopEndsFollow(sock, fifo, reader, response, (0 until 5).map(i => s"wire $i\n"))
        Thread.sleep(1000) // the listener bus delivers the executions' starts
        assert((reads.get, seqReads.get) === ((1, 1)))
      } finally spark.sparkContext.removeSparkListener(listener)
    } finally {
      server.stop()
      g.stopAll()
    }
  }

  test("ReadLogs before the first commit answers Err, never a partial stream") {
    val root = Files.createTempDirectory("graft-wire4").toString
    val sock = Paths.get(root, "graft.sock")
    val g = Graft(spark, root)
    val server = new LogDriverServer(g, sock)
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
        assert(jsonStr(response).contains("no lines committed yet"), s"follow=$follow")
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

  test("frames over 64 KiB straddle reads and a stream over 1 MiB lands once, in order") {
    val root = Files.createTempDirectory("graft-wire9").toString
    val sock = Paths.get(root, "graft.sock")
    val g = Graft(spark, root)
    val server = new LogDriverServer(g, sock)
    server.start()
    // every 10th line is ~100 KiB, so its frame spans two or more 64 KiB
    // reads; ~3 MiB in all, so the pump cuts several 1 MiB bursts
    val lines = (0 until 300).map(i =>
      if (i % 10 == 3) s"big $i " + ("abcdefghijklmnopqrstuvwxyz".charAt(i % 26).toString * 100000)
      else s"wire $i")
    val bytes = Array.concat(lines.zipWithIndex.map { case (l, i) =>
      ProtoLogCodec.frame(ProtoLogCodec.encode(LogEntry(
        "stdout", t0 + i * 1000000000L, l.getBytes(UTF_8), partial = false, None)))
    }: _*)
    assert(bytes.length > (3 << 20) - (200 << 10))
    try {
      // a regular file stands in for the FIFO: the pump reads it to EOF
      val fifo = Paths.get(root, "c1.fifo")
      Files.write(fifo, bytes)
      startC1(sock, fifo)
      awaitCommitted(root, g, lines.size)
      assert(decodedLines(bodyOf(post(sock, "/LogDriver.ReadLogs", readReq(false)))) ===
        lines.map(_ + "\n"))
    } finally {
      server.stop()
      g.stopAll()
    }
  }

  private def withBody(path: String, body: String): String =
    s"POST $path HTTP/1.1\r\nContent-Length: ${body.getBytes(UTF_8).length}\r\n\r\n$body"

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
        "POST /LogDriver.StartLogging HTTP/1.1\r\nContent-Length: 9\r\n\r\n{\"File\": ",
        // nested past the JSON parser's depth cap
        withBody("/LogDriver.ReadLogs", "[" * 100000),
        // a complete object followed by trailing content
        withBody("/LogDriver.StopLogging", """{"File": "f"} x"""))
      for (r <- requests) {
        val response = new String(raw(sock, r.getBytes(UTF_8)), UTF_8)
        assert(response.startsWith("HTTP/1.1 400 Bad Request\r\n"), r)
      }
      assert(jsonStr(post(sock, "/Plugin.Activate", "")) ===
        """{"Implements":["LogDriver"]}""")

      // 15 of 17 declared body bytes, the connection held open: the server
      // closes it at the read deadline and serves other clients meanwhile
      val held = SocketChannel.open(StandardProtocolFamily.UNIX)
      try {
        held.connect(UnixDomainSocketAddress.of(sock))
        val short = """{"File": "abcde"""
        assert(short.length === 15)
        val req = ByteBuffer.wrap(
          s"POST /LogDriver.StopLogging HTTP/1.1\r\nContent-Length: 17\r\n\r\n$short".getBytes(UTF_8))
        while (req.hasRemaining) held.write(req)
        val sent = System.nanoTime()
        val answered = new java.util.concurrent.atomic.AtomicLong(-1)
        val closedAfter = new java.util.concurrent.atomic.AtomicLong(-1)
        val watcher = new Thread(() =>
          try {
            val buf = ByteBuffer.allocate(1024)
            var n, total = 0
            while ({ n = held.read(buf); n >= 0 }) { total += n; buf.clear() }
            answered.set(total)
            closedAfter.set((System.nanoTime() - sent) / 1000000)
          } catch { case _: java.io.IOException => }) // closed by this test
        watcher.start()
        assert(jsonStr(post(sock, "/Plugin.Activate", "")) ===
          """{"Implements":["LogDriver"]}""")
        assert(watcher.isAlive, "the stalled request is held until its deadline")
        watcher.join(LogDriverServer.RequestDeadlineMs + 10000)
        assert(!watcher.isAlive, "the stalled request's connection must be closed")
        assert(answered.get === 0) // closed, not answered
        assert(closedAfter.get >= LogDriverServer.RequestDeadlineMs - 100)
      } finally held.close()
      assert(jsonStr(post(sock, "/Plugin.Activate", "")) ===
        """{"Implements":["LogDriver"]}""")
    } finally server.stop()
  }

  test("a FIFO closed mid-frame lands each complete frame once and skips nothing") {
    val root = Files.createTempDirectory("graft-wire11").toString
    val sock = Paths.get(root, "graft.sock")
    val g = Graft(spark, root)
    val server = new LogDriverServer(g, sock)
    server.start()
    val skippedBefore = IngestMetrics.skippedFrames(spark).value
    try {
      // a regular file stands in for the FIFO: frames 0-4, then the first
      // half of frame 5, then EOF
      val fifo = Paths.get(root, "c1.fifo")
      val torn = entryBytes(5)
      Files.write(fifo, burst(0 until 5) ++ torn.take(torn.length / 2))
      startC1(sock, fifo, keep)
      awaitCommitted(root, g, 5)
      stopC1(sock, fifo) // the pump has hit EOF; the stop commits all it staged
      assert(stagedBytes(g) === burst(0 until 5).length) // the torn frame is never staged
      assert(g.countLogs("c1") === 5)
      assert(decodedLines(bodyOf(post(sock, "/LogDriver.ReadLogs", readReq(false)))) ===
        (0 until 5).map(i => s"wire $i\n"))
      assert(IngestMetrics.skippedFrames(spark).value - skippedBefore === 0)
    } finally {
      server.stop()
      g.stopAll()
    }
  }

  test("a pump restarted on a kept checkpoint lands every line once, in order") {
    val root = Files.createTempDirectory("graft-wire7").toString
    val g = Graft(spark, root)
    val staging = Paths.get(g.stagingDir("c1"))
    Files.createDirectories(staging)
    // a regular file stands in for the FIFO: the pump reads it to EOF,
    // stages it as one burst and ends
    def pump(name: String, lines: Range): Unit = {
      val fifo = Paths.get(root, name)
      Files.write(fifo, burst(lines))
      val p = new FifoPump(fifo, staging)
      p.start()
      p.join(30000)
      assert(!p.isAlive)
    }
    val keep = Map("delete_when_stopped" -> "false")
    try {
      assert(g.startLogging("c1", keep).isRight)
      pump("a.fifo", 0 until 5)
      awaitCommitted(root, g, 5)
      g.stopLogging("c1") // data + checkpoint stay
      assert(g.startLogging("c1", keep).isRight)
      // the new pump's first burst must not reuse a staged path the
      // checkpointed source has already seen
      pump("b.fifo", 5 until 10)
      awaitCommitted(root, g, 10)
      val lines = g.frames(g.readLogs(Some("c1")))
        .map(f => new String(ProtoLogCodec.decode(f._2).line, UTF_8)).toSeq
      assert(lines === (0 until 10).map(i => s"wire $i\n"))
    } finally g.stopAll()
  }

  test("delete_when_stopped=false keeps the container's lines across StopLogging") {
    val root = Files.createTempDirectory("graft-wire8").toString
    val sock = Paths.get(root, "graft.sock")
    val g = Graft(spark, root)
    val server = new LogDriverServer(g, sock)
    server.start()
    def readAll(): Seq[String] = decodedLines(bodyOf(post(sock, "/LogDriver.ReadLogs",
      readReq(false))))
    def awaitStaged(): Unit = {
      def staged(): Boolean = {
        val files = Files.list(Paths.get(g.stagingDir("c1")))
        try files.anyMatch(_.toString.endsWith(".pblog")) finally files.close()
      }
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!staged() && System.nanoTime() < deadline) Thread.sleep(20)
    }
    try {
      val fifo1 = Paths.get(root, "c1-1.fifo")
      Files.write(fifo1, burst(0 until 5))
      startC1(sock, fifo1, keep)
      awaitStaged() // the pump has read the FIFO; the ingest may not have run
      stopC1(sock, fifo1) // commits what is staged, then stops; keeps everything
      assert(g.activeContainers.isEmpty)
      assert(readAll() === (0 until 5).map(i => s"wire $i\n"))

      val fifo2 = Paths.get(root, "c1-2.fifo")
      Files.write(fifo2, burst(5 until 10))
      startC1(sock, fifo2, keep)
      awaitCommitted(root, g, 10)
      stopC1(sock, fifo2)
      assert(readAll() === (0 until 10).map(i => s"wire $i\n"))
    } finally {
      server.stop()
      g.stopAll()
    }
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

  test("a ContainerID that is not one path segment gets Err and touches nothing") {
    val outer = Files.createTempDirectory("graft-wire10")
    val root = outer.resolve("root").toString
    val sock = outer.resolve("graft.sock")
    val g = Graft(spark, root)
    val server = new LogDriverServer(g, sock)
    server.start()
    try {
      for (id <- Seq("../../escaped", "a/../../../escaped", "..", ".", "a/b", "")) {
        val fifo = outer.resolve("x.fifo")
        Files.write(fifo, burst(0 until 1))
        val req = s"""{"File": "$fifo", "Info": {"Config": {}, "ContainerID": "$id"}}"""
        val err = jsonStr(post(sock, "/LogDriver.StartLogging", req))
        assert(err.startsWith("""{"Err":""""), id)
        assert(err !== """{"Err":""}""", id)
        // the fifo was never registered: StopLogging is the no-op
        assert(jsonStr(post(sock, "/LogDriver.StopLogging", s"""{"File": "$fifo"}""")) ===
          """{"Err":""}""", id)
        g.stopLogging(id) // nothing was started under this id: nothing to delete
      }
      assert(g.activeContainers.isEmpty)
      // without the check, "../../escaped" would resolve to outer/escaped
      val outside = Files.list(outer)
      try assert(outside.iterator().asScala.map(_.getFileName.toString).toSet --
        Set("root", "graft.sock", "x.fifo") === Set.empty) finally outside.close()
    } finally {
      server.stop()
      g.stopAll()
    }
  }
}
