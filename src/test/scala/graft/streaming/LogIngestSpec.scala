package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.functions.ProtoLogCodec
import graft.functions.ProtoLogCodec.{LogEntry, PartialMeta}

/** End-to-end ingest → query → follow → retention over a temp log table. */
class LogIngestSpec extends SparkSpec {

  private val t0 = 1700000000000000000L // ns

  private def entry(i: Int, container: String): LogEntry =
    LogEntry(
      source = if (i % 2 == 0) "stdout" else "stderr",
      timeNano = t0 + i * 1000000000L,
      line = s"line-$i-of-$container".getBytes("UTF-8"),
      partial = i % 10 == 0,
      partialMeta = if (i % 10 == 0) Some(PartialMeta(last = true, s"p$i", i)) else None)

  private def writeBurst(staging: String, container: String, burst: String,
      entries: Seq[LogEntry]): Unit = {
    val dir = Paths.get(staging, container)
    Files.createDirectories(dir)
    val bytes = entries.map(e => ProtoLogCodec.frame(ProtoLogCodec.encode(e)))
      .foldLeft(Array.emptyByteArray)(_ ++ _)
    Files.write(dir.resolve(s"$burst.pblog"), bytes)
  }

  private def tmp(): String = Files.createTempDirectory("graft-ingest").toString

  test("ingest end-to-end: frames → partitioned parquet with reference semantics") {
    val (staging, table, ckpt) = (tmp(), tmp() + "/logs", tmp() + "/ckpt")
    writeBurst(staging, "c1", "b0", (0 until 50).map(entry(_, "c1")))
    writeBurst(staging, "c2", "b0", (0 until 30).map(entry(_, "c2")))

    val q = LogIngest.start(spark, staging, table, ckpt, Trigger.AvailableNow())
    q.awaitTermination(60000)

    val df = LogIngest.table(spark, table)
    assert(df.count() === 80)
    // partition layout = per-container pruning (the reference's DB-per-container)
    assert(Files.isDirectory(Paths.get(table, "container_id=c1")))

    val c1 = df.where(col("container_id") === "c1").orderBy("seq")
      .collect()
    assert(c1.length === 50)
    // newline appended to every stored line (src/logger.rs:123)
    assert(c1.map(_.getAs[String]("line")).forall(_.endsWith("\n")))
    assert(c1.head.getAs[String]("line") === "line-0-of-c1\n")
    // seq monotone and aligned with event time
    val seqs = c1.map(_.getAs[Long]("seq"))
    assert(seqs.sorted.toSeq === seqs.toSeq)
    // ns fidelity via ts_nano; µs-truncated ts for SQL ergonomics
    assert(c1.head.getAs[Long]("ts_nano") === t0)
    // message = verbatim re-encoded frame: decodes back to the same line
    val m = ProtoLogCodec.decode(c1(1).getAs[Array[Byte]]("message"))
    assert(new String(m.line, "UTF-8") === "line-1-of-c1\n")
    assert(m.source === "stderr")

    // restart with the same checkpoint ingests nothing new (exactly-once)
    val q2 = LogIngest.start(spark, staging, table, ckpt, Trigger.AvailableNow())
    q2.awaitTermination(60000)
    assert(LogIngest.table(spark, table).count() === 80)
  }

  /** [[graft.Graft.follow]] over the spec's staging/table/checkpoint dirs,
    * run in its own thread (it blocks until the idle give-up); collects
    * every emitted seq.
    */
  private def following(staging: String, table: String, ckpt: String,
      since: Option[String], pollMs: Long, idlePolls: Int)
      : (Thread, java.util.concurrent.ConcurrentLinkedQueue[Long]) = {
    val g = new graft.Graft(spark, staging, table, ckpt)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val t = new Thread(() => g.follow(Some("c1"), since, None,
      pollMs = pollMs, idlePolls = idlePolls)((seq, _) => seen.add(seq)))
    t.start()
    (t, seen)
  }

  test("follow mode keeps emitting as new bursts land (src/logger.rs:287,442-451)") {
    val (staging, table, ckpt) = (tmp(), tmp() + "/logs", tmp() + "/ckpt")
    writeBurst(staging, "c1", "b0", (0 until 10).map(entry(_, "c1")))
    LogIngest.start(spark, staging, table, ckpt, Trigger.AvailableNow())
      .awaitTermination(60000)

    val since = java.time.Instant.ofEpochSecond(0, t0 + 5 * 1000000000L).toString
    val (t, seen) = following(staging, table, ckpt, Some(since), 200L, 25)
    try {
      eventually(10000)(assert(seen.size() === 5)) // rows 5..9 pass the since filter
      // new burst arrives while following → emitted incrementally
      writeBurst(staging, "c1", "b1", (10 until 15).map(entry(_, "c1")))
      LogIngest.start(spark, staging, table, ckpt, Trigger.AvailableNow())
        .awaitTermination(60000)
      eventually(15000)(assert(seen.size() === 10))
      val seqs = seen.asScala.toSeq
      assert(seqs === seqs.sorted && seqs.distinct === seqs) // in order, once each
    } finally t.join(30000)
    assert(!t.isAlive)
  }

  test("retention sweep rewrites partitions atomically; survivors match the pure query") {
    val (staging, table, ckpt) = (tmp(), tmp() + "/logs", tmp() + "/ckpt")
    writeBurst(staging, "c1", "b0", (0 until 40).map(entry(_, "c1")))
    writeBurst(staging, "c2", "b0", (0 until 20).map(entry(_, "c2")))
    LogIngest.start(spark, staging, table, ckpt, Trigger.AvailableNow())
      .awaitTermination(60000)

    // age cutoff at i=25's timestamp, max 10 lines → c1 keeps 30..39 (one
    // boundary rewrite); every c2 row is older → its whole date partition
    // is dropped without a rewrite job
    val cutoff = java.time.Instant.ofEpochSecond(0, t0 + 25 * 1000000000L)
    val n = Retention.sweep(spark, table, Some(cutoff), Some(10L))
    assert(n === Retention.SweepStats(dropped = 1, rewritten = 1))
    val after = LogIngest.table(spark, table)
    val c1 = after.where(col("container_id") === "c1")
      .select("seq").collect().map(_.getLong(0)).sorted
    assert(c1.length === 10)
    assert(after.where(col("container_id") === "c2").count() === 0)
    // idempotent: a second sweep rewrites nothing
    assert(Retention.sweep(spark, table, Some(cutoff), Some(10L)).total === 0)
  }

  test("age retention drops whole date partitions; only the boundary date is rewritten") {
    val (staging, table, ckpt) = (tmp(), tmp() + "/logs", tmp() + "/ckpt")
    val day = 86400000000000L
    // 10 rows on each of 3 consecutive UTC days
    val entries = for (d <- 0 until 3; i <- 0 until 10) yield
      entry(0, "c1").copy(timeNano = t0 + d * day + i * 1000000000L,
        line = s"d$d-i$i".getBytes("UTF-8"))
    writeBurst(staging, "c1", "b0", entries)
    LogIngest.start(spark, staging, table, ckpt, Trigger.AvailableNow())
      .awaitTermination(60000)

    def dateDirName(nanos: Long) = "date=" + java.time.LocalDate.ofEpochDay(
      Math.floorDiv(nanos, day))
    val d0 = dateDirName(t0)
    val d1 = dateDirName(t0 + day)
    val d2 = dateDirName(t0 + 2 * day)
    val cDir = Paths.get(table, "container_id=c1")
    assert(Seq(d0, d1, d2).forall(d => Files.isDirectory(cDir.resolve(d))))
    def filesIn(d: String): Set[String] = {
      val it = Files.list(cDir.resolve(d)).iterator()
      val b = Set.newBuilder[String]
      while (it.hasNext) { val f = it.next().getFileName.toString
        if (f.endsWith(".parquet")) b += f }
      b.result()
    }
    val d2FilesBefore = filesIn(d2)

    // cutoff mid day-1: day-0 fully past (drop, no rewrite job), day-1 is
    // the boundary (rewrite keeps i=5..9), day-2 untouched
    val cutoff = java.time.Instant.ofEpochSecond(0, t0 + day + 5 * 1000000000L)
    val stats = Retention.sweep(spark, table, Some(cutoff), None)
    assert(stats === Retention.SweepStats(dropped = 1, rewritten = 1))
    assert(!Files.exists(cDir.resolve(d0)))
    // untouched partition = byte-identical file set, proof there was no job
    assert(filesIn(d2) === d2FilesBefore)
    val after = LogIngest.table(spark, table)
    assert(after.count() === 15)
    assert(after.where(col("date") === java.sql.Date.valueOf(
      java.time.LocalDate.ofEpochDay(Math.floorDiv(t0 + day, day)))).count() === 5)
    assert(Retention.sweep(spark, table, Some(cutoff), None).total === 0)
  }

  test("retention sweeps run concurrently with live ingest: exact survivors, no torn state") {
    // the reference's cleaner task runs WHILE the logger appends, arbitrated
    // by SQLite locking (src/cleaner.rs:134-158 ‖ src/logger.rs); the
    // parquet analog must hold the same contract: a sweep's drop/swap never
    // loses a concurrently-committed batch, never tears the table for the
    // sweep's own stats read, and repeated sweeps converge to the exact
    // survivor set (VERDICT r11 #6)
    val (staging, table, ckpt) = (tmp(), tmp() + "/logs", tmp() + "/ckpt")
    val day = 86400000000000L
    def at(ns: Long, i: Int): LogEntry =
      LogEntry("stdout", ns, s"r$i".getBytes("UTF-8"), partial = false,
        partialMeta = None)
    // seed: one fully-expired day + one boundary day
    writeBurst(staging, "c1", "seed",
      (0 until 40).map(i => at(t0 + i * 1000000000L, i)) ++
        (0 until 40).map(i => at(t0 + day + i * 1000000000L, 100 + i)))
    val q = LogIngest.start(spark, staging, table, ckpt,
      Trigger.ProcessingTime("50 milliseconds"))
    try {
      q.processAllAvailable()
      assert(LogIngest.table(spark, table).count() === 80)
      // the cleaner thread: 10 sweeps with an ADVANCING mid-boundary
      // cutoff, so every sweep re-rewrites the boundary partition while
      // the logger keeps committing fresh batches
      def cutoffAt(k: Int) = {
        val ns = t0 + day + (20L + k) * 1000000000L
        java.time.Instant.ofEpochSecond(ns / 1000000000L, ns % 1000000000L)
      }
      val sweepError = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val sweeper = new Thread(() =>
        try (0 until 10).foreach { k =>
          Retention.sweep(spark, table, Some(cutoffAt(k)), None)
        } catch { case e: Throwable => sweepError.set(e) })
      sweeper.start()
      // live appends (a NEWER day) land while the cleaner loops
      for (k <- 1 to 6) {
        writeBurst(staging, "c1", s"live$k", (0 until 25).map(i =>
          at(t0 + 2 * day + (k * 100 + i) * 1000000000L, 1000 + k * 100 + i)))
        Thread.sleep(100)
      }
      sweeper.join(120000)
      assert(!sweeper.isAlive, "sweeper did not finish")
      assert(sweepError.get() == null,
        s"sweep threw under live ingest: ${sweepError.get()}")
      q.processAllAvailable()
      // converge: one more sweep at the final cutoff after quiescing
      assert(Retention.sweep(spark, table, Some(cutoffAt(9)), None).total === 0)
      val finalCut = t0 + day + 29L * 1000000000L
      val rows = LogIngest.table(spark, table).collect()
      // exact survivors: boundary rows i=29..39 (11) + all 150 live rows —
      // nothing lost to a concurrent swap, nothing duplicated by a replay
      assert(rows.length === 11 + 150,
        s"expected 161 survivors, got ${rows.length}")
      assert(rows.map(_.getAs[Long]("ts_nano")).forall(_ >= finalCut))
      assert(rows.map(_.getAs[String]("line")).distinct.length === rows.length)
      // the expired day's partition is gone entirely
      assert(!Files.exists(Paths.get(table, "container_id=c1",
        "date=" + java.time.LocalDate.ofEpochDay(Math.floorDiv(t0, day)))))
    } finally q.stop()
  }

  test("manifest commit: replays are no-ops, torn attempts are cleaned up") {
    val (staging, table, ckpt) = (tmp(), tmp() + "/logs", tmp() + "/ckpt")
    writeBurst(staging, "cr", "b0", (0 until 40).map(entry(_, "cr")))
    LogIngest.start(spark, staging, table, ckpt, Trigger.AvailableNow())
      .awaitTermination(60000)
    val n0 = LogIngest.table(spark, table).count()
    assert(n0 === 40)
    val ns = LogIngest.commitNamespace(ckpt)
    assert(Files.exists(Paths.get(table, "_commits", s"$ns-0")), "batch 0 marker")

    // 1. replay of a committed batch (same query + batchId) must be a
    // no-op even with different data attached — the marker is the truth
    val replayDf = LogIngest.table(spark, table).limit(10)
    LogIngest.commitBatch(replayDf, 0L, table, namespace = ns)
    assert(LogIngest.table(spark, table).count() === n0)

    // 2. torn attempt: a manifest from a dead attempt lists a partially
    // moved file (garbage bytes — it must never reach readers); the redo
    // deletes it, re-stages, and commits exactly the batch rows.
    // Batch rows are materialized BEFORE the garbage lands (a real replay
    // reads from the stream source, never from the polluted table).
    val batch7Rows = LogIngest.table(spark, table)
      .where(col("seq") % 10 === 0)
      .select(LogIngest.logSchema.fieldNames.map(col).toSeq: _*)
      .collect().toSeq
    val batch7 = spark.createDataFrame(
      new java.util.ArrayList(batch7Rows.asJava), LogIngest.logSchema)
    val dateDir = Files.list(Paths.get(table, "container_id=cr")).iterator()
      .asScala.filter(p => p.getFileName.toString.startsWith("date=")).next()
    val stale = dateDir.resolve(s"b$ns-7-stale.parquet")
    Files.write(stale, Array[Byte](1, 2, 3))
    Files.createDirectories(Paths.get(table, "_commits"))
    Files.write(Paths.get(table, "_commits", s"$ns-7.manifest"),
      stale.toString.getBytes("UTF-8"))
    LogIngest.commitBatch(batch7, 7L, table, namespace = ns)
    assert(!Files.exists(stale), "partial file of the dead attempt removed")
    assert(Files.exists(Paths.get(table, "_commits", s"$ns-7")))
    assert(LogIngest.table(spark, table).count() === n0 + batch7Rows.size)
    // the table stays fully readable (the garbage never poisons a scan)
    assert(LogIngest.table(spark, table).agg(max(col("ts_nano"))).collect()
      .head.getLong(0) > 0)
  }

  test("a corrupt frame is skipped, not fatal — and the skip is counted") {
    val (staging, table, ckpt) = (tmp(), tmp() + "/logs", tmp() + "/ckpt")
    val good = (0 until 3).map(entry(_, "c1"))
    val dir = Paths.get(staging, "c1"); Files.createDirectories(dir)
    val garbage = ProtoLogCodec.frame(Array[Byte](7, 7, 7, 7)) // bad wire type
    val bytes = ProtoLogCodec.frame(ProtoLogCodec.encode(good(0))) ++ garbage ++
      ProtoLogCodec.frame(ProtoLogCodec.encode(good(1))) ++
      ProtoLogCodec.frame(ProtoLogCodec.encode(good(2)))
    Files.write(dir.resolve("b0.pblog"), bytes)
    val skippedBefore = IngestMetrics.skippedFrames(spark).value
    LogIngest.start(spark, staging, table, ckpt, Trigger.AvailableNow())
      .awaitTermination(60000)
    assert(LogIngest.table(spark, table).count() === 3)
    // the dropped frame is observable, not silent loss (logger.rs telemetry)
    assert(IngestMetrics.skippedFrames(spark).value - skippedBefore === 1)
  }

  test("follow gives up after the idle cap (logger.rs:287-288)") {
    val (staging, table, ckpt) = (tmp(), tmp() + "/logs", tmp() + "/ckpt")
    writeBurst(staging, "c1", "b0", (0 until 5).map(entry(_, "c1")))
    LogIngest.start(spark, staging, table, ckpt, Trigger.AvailableNow())
      .awaitTermination(60000)
    val (t, seen) = following(staging, table, ckpt, None, 100L, 15)
    eventually(10000)(assert(seen.size() === 5)) // initial data emitted
    // then nothing arrives → 15 empty polls end the follow on its own
    t.join(15000)
    assert(!t.isAlive)
    assert(seen.size() === 5) // nothing emitted after the initial data
  }

  test("rate listener records per-batch and lifetime lines/s (logger.rs:187-196)") {
    val (staging, table, ckpt) = (tmp(), tmp() + "/logs", tmp() + "/ckpt")
    val listener = IngestMetrics.rates(spark)
    writeBurst(staging, "c1", "b0", (0 until 50).map(entry(_, "c1")))
    val q = LogIngest.start(spark, staging, table, ckpt, Trigger.AvailableNow())
    q.awaitTermination(60000)
    eventually(10000) { // listener events are delivered asynchronously
      val last = listener.last(q.id)
      assert(last.exists(_.rows === 50))
      assert(last.exists(_.linesPerSec > 0.0))
      val life = listener.lifetime(q.id)
      assert(life.exists(_._1 === 50))
    }
  }

  test("compaction bin-packs many burst files into few, preserving rows") {
    val (staging, table, ckpt) = (tmp(), tmp() + "/logs", tmp() + "/ckpt")
    // 6 bursts → 6 ingest batches → >= 6 files for c1
    (0 until 6).foreach { b =>
      writeBurst(staging, "c1", s"b$b", (b * 10 until (b + 1) * 10).map(entry(_, "c1")))
      LogIngest.start(spark, staging, table, ckpt, Trigger.AvailableNow())
        .awaitTermination(60000)
    }
    // all bursts share one UTC day → a single date leaf under the container
    val dir = {
      val l = Files.list(Paths.get(table, "container_id=c1")).iterator()
      var d: java.nio.file.Path = null
      while (l.hasNext) { val p = l.next()
        if (p.getFileName.toString.startsWith("date=")) d = p }
      d
    }
    def nFiles = {
      val l = Files.list(dir).iterator(); var n = 0
      while (l.hasNext) { if (l.next().toString.endsWith(".parquet")) n += 1 }; n
    }
    assert(nFiles >= 6)
    val before = LogIngest.table(spark, table).orderBy("seq").collect()
    assert(Retention.compact(spark, table) === 1)
    assert(nFiles === 1) // tiny data → one target file
    val after = LogIngest.table(spark, table).orderBy("seq").collect()
    assert(after.map(_.getAs[Long]("seq")).toSeq === before.map(_.getAs[Long]("seq")).toSeq)
    assert(Retention.compact(spark, table) === 0) // idempotent
  }

  test("salted write spreads a hot container over several files, same rows") {
    val (staging, table, ckpt) = (tmp(), tmp() + "/logs", tmp() + "/ckpt")
    writeBurst(staging, "c1", "b0", (0 until 40).map(entry(_, "c1")))
    LogIngest.start(spark, staging, table, ckpt, Trigger.AvailableNow(),
      writeSaltBuckets = 8).awaitTermination(60000)
    val df = LogIngest.table(spark, table)
    assert(df.count() === 40)
    val seqs = df.select("seq").collect().map(_.getLong(0)).toSet
    assert(seqs.size === 40) // no duplication, no loss across salt buckets
    // the one date leaf now holds multiple files (one per salt bucket task)
    val cDir = Files.list(Paths.get(table, "container_id=c1")).iterator().next()
    val files = Files.list(cDir).iterator()
    var n = 0
    while (files.hasNext) { if (files.next().toString.endsWith(".parquet")) n += 1 }
    assert(n > 1, s"expected salted write to produce several files, got $n")
  }

  test("per-container options drive the ingest query (config -> engine)") {
    val (staging, table, ckpt) = (tmp(), tmp() + "/logs", tmp() + "/ckpt")
    writeBurst(staging, "c5", "b0", (0 until 8).map(entry(_, "c5")))
    val reg = new LogRegistry(spark, staging, table, ckpt)
    // valid options: tiny byte budget still ingests everything (over more batches)
    val q = reg.startLoggingWithOptions("c5", Map(
      "max_size_per_tx" -> "1k", "message_read_timeout" -> "50"))
    assert(q.isRight)
    eventually(30000)(assert(LogIngest.table(spark, table).count() === 8))
    reg.stopAll()
    // invalid options are rejected with the reference's error, not started
    val bad = reg.startLoggingWithOptions("c6", Map("cleanup_age" -> "oops"))
    assert(bad.isLeft)
    assert(reg.activeContainers === Set.empty)
  }

  test("registry: start/stop/replay lifecycle with delete-when-stopped") {
    val (staging, table, ckpt) = (tmp(), tmp() + "/logs", tmp() + "/ckpt")
    writeBurst(staging, "c9", "b0", (0 until 5).map(entry(_, "c9")))
    val reg = new LogRegistry(spark, staging, table, ckpt)
    val q = reg.startLogging("c9", Trigger.AvailableNow())
    q.awaitTermination(60000)
    assert(reg.activeContainers === Set("c9"))
    assert(LogIngest.table(spark, table).count() === 5)

    // stop WITHOUT delete keeps data + recovery state: a crashed process's
    // replacement resumes every container from checkpoints alone
    reg.stopLogging("c9", deleteWhenStopped = false)
    assert(reg.activeContainers === Set.empty)
    val reg2 = new LogRegistry(spark, staging, table, ckpt)
    assert(reg2.replayState() === Seq("c9"))
    reg2.stopAll()

    // stop WITH delete drops data AND recovery state (statehandler.rs:167-183)
    reg2.stopLogging("c9", deleteWhenStopped = true)
    assert(!Files.exists(Paths.get(table, "container_id=c9")))
    val reg3 = new LogRegistry(spark, staging, table, ckpt)
    assert(reg3.replayState() === Nil)
  }

  private def eventually(timeoutMs: Long)(check: => Unit): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last: Throwable = null
    while (System.currentTimeMillis() < deadline) {
      try { check; return } catch { case t: Throwable => last = t; Thread.sleep(200) }
    }
    throw last
  }
}
