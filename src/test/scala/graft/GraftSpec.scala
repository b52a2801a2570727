package graft

import java.nio.file.{Files, Paths}

import graft.functions.ProtoLogCodec
import graft.functions.ProtoLogCodec.LogEntry

/** The facade end-to-end: the reference user's whole workflow through one
  * object.
  */
class GraftSpec extends SparkSpec {

  private val t0 = 1700000000000000000L

  private def stage(root: String, container: String, n: Int, offset: Int = 0): Unit = {
    val dir = Paths.get(root, "staging", container)
    Files.createDirectories(dir)
    val bytes = (offset until offset + n).map { i =>
      ProtoLogCodec.frame(ProtoLogCodec.encode(LogEntry(
        "stdout", t0 + i * 1000000000L, s"msg $i".getBytes, partial = false, None)))
    }.foldLeft(Array.emptyByteArray)(_ ++ _)
    Files.write(dir.resolve(s"b$offset.pblog"), bytes)
  }

  /** StartLogging `container` with `options` and wait until everything
    * staged for it so far is committed.
    */
  private def ingest(g: Graft, container: String,
      options: Map[String, String] = Map.empty): Unit = {
    val q = g.startLogging(container, options)
    assert(q.isRight, q)
    q.foreach(_.processAllAvailable())
  }

  test("start → read (since/tail) → cleanup → stop lifecycle") {
    val root = Files.createTempDirectory("graft-facade").toString
    val g = Graft(spark, root)

    stage(root, "web", 30)

    ingest(g, "web")
    assert(g.activeContainers === Set("web"))
    assert(g.countLogs("web") === 30)

    val since = java.time.Instant.ofEpochSecond(0, t0 + 10 * 1000000000L).toString
    val got = g.readLogs(Some("web"), since = Some(since), tail = 5)
      .select("line").collect().map(_.getString(0))
    assert(got.toSeq === (25 until 30).map(i => s"msg $i\n"))

    // zero-time sentinel = unset (docker sends it for "no bound")
    assert(g.readLogs(Some("web"), since = Some(operators.LogOps.ZeroTime)).count() === 30)

    assert(g.cleanup(age = None, maxLines = Some(10L)).total === 1)
    assert(g.countLogs("web") === 10)

    g.stopLogging("web") // delete_when_stopped defaults to true
    assert(g.activeContainers.isEmpty)
    assert(!Files.exists(Paths.get(root, "logs", "container_id=web")))
    // table remains readable after the partition delete (listing cache
    // invalidated) and the deleted container stays gone on replay
    assert(g.logs.count() === 0)
    assert(g.replayState() === Nil)
  }

  test("two containers ingest independently — no cross-container double-ingest") {
    val root = Files.createTempDirectory("graft-facade2").toString
    val g = Graft(spark, root)
    stage(root, "a", 10)
    stage(root, "b", 20)
    ingest(g, "a")
    ingest(g, "b")
    assert(g.countLogs("a") === 10)
    assert(g.countLogs("b") === 20)
    assert(g.logs.count() === 30)
    g.stopAll()
  }

  test("json-file backfill lands in the same table as protobuf ingest") {
    val root = Files.createTempDirectory("graft-facade3").toString
    val g = Graft(spark, root)
    stage(root, "web", 5)
    ingest(g, "web")
    // migrated history from the json-file era of a second container
    val jdir = Paths.get(root, "jsonfile", "old")
    Files.createDirectories(jdir)
    Files.write(jdir.resolve("hist.log"),
      (0 until 7).map(i =>
        s"""{"log":"old $i\\n","stream":"stdout","time":"2023-11-14T22:13:2$i.5Z"}""")
        .mkString("\n").getBytes("UTF-8"))
    g.backfillJsonFile(s"$root/jsonfile").awaitTermination(60000)
    assert(g.countLogs("old") === 7)
    assert(g.logs.count() === 12)
    // unified semantics: tail works across both wire formats
    assert(g.readLogs(Some("old"), tail = 2).select("line")
      .collect().map(_.getString(0)).toSeq === Seq("old 5\n", "old 6\n"))
    g.stopAll()
  }

  test("logfmt backfill lands in the shared table; templates mine it") {
    val root = Files.createTempDirectory("graft-facade-lf").toString
    val g = Graft(spark, root)
    val dir = Paths.get(root, "logfmt", "svc")
    Files.createDirectories(dir)
    Files.write(dir.resolve("b0.log"),
      (0 until 6).map(i =>
        s"""ts=2024-02-01T08:00:0${i}Z level=info msg="served request ${i * 17}ms"""")
        .mkString("\n").getBytes("UTF-8"))
    g.backfillLogfmt(s"$root/logfmt").awaitTermination(60000)
    assert(g.countLogs("svc") === 6)
    // template mining over the live table collapses the 6 lines to 1 shape
    val t = g.templates().collect()
    assert(t.length === 1)
    assert(t(0).getAs[Long]("n") === 6L)
    assert(t(0).getAs[String]("template").contains("served request <N>ms"))
    g.stopAll()
  }

  test("all five wire formats land in ONE queryable table with unified semantics") {
    val root = Files.createTempDirectory("graft-fiveway").toString
    val g = Graft(spark, root)
    // 1. framed protobuf (the reference's plugin stream)
    stage(root, "proto", 4)
    ingest(g, "proto")
    // 2. docker json-file
    val jdir = Paths.get(root, "jsonfile", "jf")
    Files.createDirectories(jdir)
    Files.write(jdir.resolve("h.log"), (0 until 3).map(i =>
      s"""{"log":"jf $i\\n","stream":"stdout","time":"2024-04-01T10:00:0$i.1Z"}""")
      .mkString("\n").getBytes("UTF-8"))
    g.backfillJsonFile(s"$root/jsonfile").awaitTermination(60000)
    // 3. RFC 5424 syslog
    val sdir = Paths.get(root, "syslog", "sys")
    Files.createDirectories(sdir)
    Files.write(sdir.resolve("s.log"), (0 until 2).map(i =>
      s"<134>1 2024-04-01T11:00:0${i}Z h app $i M$i - sys $i")
      .mkString("\n").getBytes("UTF-8"))
    g.backfillSyslog(s"$root/syslog").awaitTermination(60000)
    // 4. logfmt
    val ldir = Paths.get(root, "logfmt", "lf")
    Files.createDirectories(ldir)
    Files.write(ldir.resolve("l.log"), (0 until 2).map(i =>
      s"""ts=2024-04-01T12:00:0${i}Z level=info msg="lf $i"""")
      .mkString("\n").getBytes("UTF-8"))
    g.backfillLogfmt(s"$root/logfmt").awaitTermination(60000)
    // 5. Apache combined access log
    val adir = Paths.get(root, "access", "web")
    Files.createDirectories(adir)
    Files.write(adir.resolve("a.log"), (0 until 2).map(i =>
      s"""10.0.0.$i - - [01/Apr/2024:13:00:0$i +0000] "GET /p$i HTTP/1.1" 200 1$i "-" "curl/8"""")
      .mkString("\n").getBytes("UTF-8"))
    g.backfillAccessLog(s"$root/access").awaitTermination(60000)

    assert(g.logs.select("container_id").distinct().count() === 5)
    assert(g.logs.count() === 13)
    // unified read semantics across formats: tail-k per container
    for ((c, n) <- Seq(("proto", 4L), ("jf", 3L), ("sys", 2L), ("lf", 2L),
                       ("web", 2L))) {
      assert(g.countLogs(c) === n, s"container $c")
      assert(g.readLogs(Some(c), tail = 1).count() === 1)
    }
    g.stopAll()
  }

  test("cleanup/compact on a never-ingested root are clean no-ops") {
    val g = Graft(spark, Files.createTempDirectory("graft-empty").toString)
    assert(g.cleanup(Some(java.time.Duration.ofDays(1)), Some(10L)).total === 0)
    assert(g.compact() === 0)
  }

  test("replay restarts the kept containers with their options, never a backfill") {
    val root = Files.createTempDirectory("graft-replay").toString
    val g = Graft(spark, root)
    ingest(g, "c1", Map("delete_when_stopped" -> "false",
      "max_size_per_tx" -> "1k", "message_read_timeout" -> "50"))
    g.stopLogging("c1") // kept: data, checkpoint, options
    val jdir = Paths.get(root, "jsonfile", "old")
    Files.createDirectories(jdir)
    Files.write(jdir.resolve("hist.log"),
      """{"log":"old 0\n","stream":"stdout","time":"2023-11-14T22:13:20.5Z"}""".getBytes("UTF-8"))
    g.backfillJsonFile(s"$root/jsonfile").awaitTermination(60000)
    // six ~2 KiB bursts staged while c1 is down: under its 1 KiB budget the
    // replayed query takes one per batch; without it, all six in one
    (0 until 6).foreach(b => stage(root, "c1", 60, b * 60))

    val g2 = Graft(spark, root) // a fresh process over the same root
    try {
      assert(g2.replayState() === Seq("c1"))
      assert(g2.activeContainers === Set("c1"))
      val q = g2.startLogging("c1").toOption.get // the replayed, running query
      q.processAllAvailable()
      assert(g2.countLogs("c1") === 360)
      assert(q.recentProgress.count(_.numInputRows > 0) >= 6)
    } finally g2.stopAll()
  }
}
