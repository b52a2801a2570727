package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.{Graft, SparkSpec}
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

  /** `entries` as one burst of the FIFO's framed protobuf. */
  private def framed(entries: Seq[LogEntry]): Array[Byte] =
    entries.map(e => ProtoLogCodec.frame(ProtoLogCodec.encode(e)))
      .foldLeft(Array.emptyByteArray)(_ ++ _)

  private def writeBurst(staging: String, container: String, burst: String,
      entries: Seq[LogEntry]): Unit = {
    val dir = Paths.get(staging, container)
    Files.createDirectories(dir)
    // renamed into place, so a running ingest query never sees half a burst
    val tmp = Files.write(dir.resolve(s"$burst.tmp"), framed(entries))
    Files.move(tmp, dir.resolve(s"$burst.pblog"), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
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

  private val keep = Map("delete_when_stopped" -> "false")

  private def seqOf(i: Int): Long = t0 + i * 1000000000L

  /** A Graft over fresh dirs with `lines` staged for c1 and committed by
    * c1's running ingest query (under delete_when_stopped=false).
    */
  private def logging(lines: Range): (Graft, String, String) = {
    val (staging, table, ckpt) = (tmp(), tmp() + "/logs", tmp() + "/ckpt")
    writeBurst(staging, "c1", "b0", lines.map(entry(_, "c1")))
    val g = new Graft(spark, staging, table, ckpt)
    assert(g.startLogging("c1", keep).isRight)
    eventually(30000)(assert(g.countLogs("c1") === lines.size))
    (g, staging, table)
  }

  private type Seen = java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Byte])]

  /** [[graft.Graft.follow]] of c1 in its own thread (it blocks until c1
    * stops); collects every emitted seq and frame, after `before` runs.
    */
  private def following(g: Graft, since: Option[String] = None, until: Option[String] = None,
      before: Long => Unit = _ => ()): (Thread, Seen) = {
    val seen: Seen = new java.util.concurrent.ConcurrentLinkedQueue()
    val t = new Thread(() => g.follow("c1", since, until) { (seq, frame) =>
      before(seq); seen.add((seq, frame.toSeq))
    })
    t.start()
    (t, seen)
  }

  /** StopLogging ends the follow; it must have emitted `lines`, once each, in order. */
  private def stopAndCheck(g: Graft, t: Thread, seen: Seen, lines: Seq[Int]): Unit = {
    g.stopLogging("c1")
    t.join(30000)
    assert(!t.isAlive, "follow must end at StopLogging")
    assert(seen.asScala.toSeq.map(_._1) === lines.map(seqOf))
  }

  /** Counts the follow reads over `table` while `f` runs: SQL executions
    * planned with a `seq > cursor` predicate.
    */
  private def countingReads[T](table: String)(f: java.util.concurrent.atomic.AtomicInteger => T)
      : T = {
    val reads = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart
            if x.physicalPlanDescription.contains("GreaterThan(seq,") &&
              x.physicalPlanDescription.contains(table) => reads.incrementAndGet()
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try f(reads) finally spark.sparkContext.removeSparkListener(listener)
  }

  test("follow mode keeps emitting as new bursts land (src/logger.rs:287,442-451)") {
    val (g, staging, _) = logging(0 until 10)
    try {
      val since = java.time.Instant.ofEpochSecond(0, seqOf(5)).toString
      val (t, seen) = following(g, Some(since))
      eventually(10000)(assert(seen.size() === 5)) // rows 5..9 pass the since filter
      // new burst arrives while following → emitted incrementally
      writeBurst(staging, "c1", "b1", (10 until 15).map(entry(_, "c1")))
      eventually(15000)(assert(seen.size() === 10))
      stopAndCheck(g, t, seen, 5 until 15)
    } finally g.stopAll()
  }

  test("a follower reads once at start and never again while commits feed it") {
    val (g, staging, table) = logging(0 until 10)
    try countingReads(table) { reads =>
      val (t, seen) = following(g)
      eventually(10000)(assert(seen.size() === 10))
      Thread.sleep(500) // the listener bus delivers the first read's start
      assert(reads.get === 1)
      // no writes for 3 s: no reads (a 1 s poll would have made three)
      Thread.sleep(3000)
      assert(reads.get === 1)
      // three separate bursts, each its own commit: fed, never read
      for (b <- 1 to 3) {
        writeBurst(staging, "c1", s"b$b", (b * 5 + 5 until b * 5 + 10).map(entry(_, "c1")))
        eventually(15000)(assert(seen.size() === b * 5 + 10))
      }
      Thread.sleep(1500)
      assert(reads.get === 1, s"${reads.get - 1} reads after the first")
      stopAndCheck(g, t, seen, 0 until 25)
    } finally g.stopAll()
  }

  test("followers are fed the frames readLogs serves, inside their Since/Until") {
    val (g, staging, table) = logging(0 until 10)
    try countingReads(table) { reads =>
      val at = (i: Int) => java.time.Instant.ofEpochSecond(0, seqOf(i)).toString
      val (all, allSeen) = following(g)
      val (ranged, rangedSeen) = following(g, Some(at(13)), Some(at(22)))
      eventually(10000)(assert(allSeen.size() === 10))
      // a line that is not valid UTF-8 (its stored frame is served) and
      // partial metadata at ordinals 0 and 3, over two commits
      val odd = Seq(
        LogEntry("stdout", seqOf(10), Array[Byte](0x61, -61, 0x28, 0x62), partial = false, None),
        LogEntry("stdout", seqOf(11), "part a".getBytes("UTF-8"), partial = true,
          Some(PartialMeta(last = false, "p1", 0))),
        LogEntry("stderr", seqOf(12), "part b".getBytes("UTF-8"), partial = true,
          Some(PartialMeta(last = true, "p1", 3))))
      writeBurst(staging, "c1", "b1", odd ++ (13 until 17).map(entry(_, "c1")))
      eventually(15000)(assert(allSeen.size() === 17))
      writeBurst(staging, "c1", "b2", (17 until 25).map(entry(_, "c1")))
      eventually(15000)(assert(allSeen.size() === 25))
      eventually(15000)(assert(rangedSeen.size() === 10))
      Thread.sleep(500)
      assert(reads.get === 2, "each follower's catch-up read, then only fed lines")
      def served(since: Option[String], until: Option[String]): Seq[(Long, Seq[Byte])] =
        g.frames(g.readLogs(Some("c1"), since, until)).map(l => (l._1, l._2.toSeq)).toSeq
      assert(allSeen.asScala.toSeq === served(None, None))
      assert(rangedSeen.asScala.toSeq === served(Some(at(13)), Some(at(22))))
      assert(rangedSeen.asScala.map(_._1).toSeq === (13 to 22).map(seqOf))
      stopAndCheck(g, all, allSeen, 0 until 25)
      ranged.join(30000)
      assert(!ranged.isAlive, "follow must end at StopLogging")
    } finally g.stopAll()
  }

  test("a follower behind the kept batches reads once and gets every line once, in order") {
    val (g, staging, table) = logging(0 until 4)
    // 16 lines of 256 KiB per burst: a 4 MiB batch, so the first batches of
    // six are no longer kept when the follower wakes
    val lineBytes = 256 * 1024
    assert(6L * 16 * lineBytes >= Graft.CaptureBytes + 2L * 16 * lineBytes)
    def big(i: Int): LogEntry =
      entry(i, "c1").copy(line = (s"big-$i-" + "x" * lineBytes).getBytes("UTF-8"))
    try countingReads(table) { reads =>
      val held = new java.util.concurrent.CountDownLatch(1)
      val (t, seen) = following(g, before = _ => held.await())
      for (b <- 0 until 6) {
        val lines = 4 + b * 16 until 4 + (b + 1) * 16
        writeBurst(staging, "c1", s"big$b", lines.map(big))
        eventually(30000)(assert(g.countLogs("c1") === lines.end))
      }
      assert(seen.isEmpty, "emit is held on the catch-up read's first line")
      held.countDown()
      eventually(30000)(assert(seen.size() === 100))
      Thread.sleep(500)
      assert(reads.get === 2, "the catch-up read, then one read for the batches not kept")
      stopAndCheck(g, t, seen, 0 until 100)
    } finally g.stopAll()
  }

  test("a line reaches its follower before the container's next batch commits") {
    val (staging, table, ckpt) = (tmp(), tmp() + "/logs", tmp() + "/ckpt")
    writeBurst(staging, "c1", "b0", (0 until 5).map(entry(_, "c1")))
    val g = new Graft(spark, staging, table, ckpt)
    assert(g.startLogging("c1", keep + ("message_read_timeout" -> "1000")).isRight)
    try {
      eventually(30000)(assert(g.countLogs("c1") === 5))
      // the newest batch committed when each line is emitted, from the
      // table's commit markers (`_commits/<namespace>-<batchId>`)
      val commitMarker = "[0-9a-f]+-([0-9]+)".r
      def newestCommit(): Long = Files.list(Paths.get(table, "_commits")).iterator().asScala
        .map(_.getFileName.toString).collect { case commitMarker(id) => id.toLong }.max
      val newestAtEmit = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
      val (t, seen) = following(g, before = seq => newestAtEmit.put(seq, newestCommit()))
      eventually(10000)(assert(seen.size() === 5))
      // a burst every 250 ms for 6 s: one batch per 1 s trigger, never idle
      for (b <- 1 to 24) {
        writeBurst(staging, "c1", s"b$b", (b * 5 until b * 5 + 5).map(entry(_, "c1")))
        Thread.sleep(250)
      }
      stopAndCheck(g, t, seen, 0 until 125)
      val batchOf = g.logs.select(col("seq"), input_file_name()).collect().map { r =>
        r.getLong(0) -> "/b[0-9a-f]+-([0-9]+)-".r.findFirstMatchIn(r.getString(1)).get.group(1).toLong
      }.toMap
      assert(batchOf.values.toSet.size >= 4, "the bursts span several batches")
      val late = (25 until 125).map(seqOf).filter(s => newestAtEmit.get(s) > batchOf(s))
      assert(late.isEmpty, s"${late.size} lines emitted after a later batch committed")
    } finally g.stopAll()
  }

  test("a retention sweep during a follow leaves the stream open") {
    val (g, staging, _) = logging(0 until 10)
    try {
      val (t, seen) = following(g)
      eventually(10000)(assert(seen.size() === 10))
      // c1's ingest query keeps running through the sweep
      assert(g.cleanup(None, Some(100L)).total === 0)
      assert(t.isAlive, "a sweep must not end the follow")
      writeBurst(staging, "c1", "b1", (10 until 15).map(entry(_, "c1")))
      eventually(15000)(assert(seen.size() === 15))
      stopAndCheck(g, t, seen, 0 until 15)
    } finally g.stopAll()
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

    // 3. a commit prunes this namespace's markers older than the replay
    // horizon (64 batches) and no other marker; the other namespace is as
    // long as this one, so only the namespace check keeps its marker
    val commits = Paths.get(table, "_commits")
    val other = "x" * ns.length + "-3"
    ((0 until 100).map(i => s"$ns-$i") :+ other :+ "retention")
      .foreach(m => Files.write(commits.resolve(m), Array.emptyByteArray))
    LogIngest.commitBatch(batch7, 100L, table, namespace = ns)
    val left = Files.list(commits).iterator().asScala.map(_.getFileName.toString).toSet
    assert(left.filter(_.startsWith(s"$ns-")).map(_.drop(ns.length + 1).toInt) ===
      (36 to 100).toSet)
    assert(left(other) && left("retention"), "other namespaces' markers untouched")
  }

  test("a sweep never loses a batch committed into the leaf it rewrites") {
    // as above, but every live burst lands on the boundary day itself, the
    // leaf each sweep rewrites, while the ingest query keeps committing
    val (staging, table, ckpt) = (tmp(), tmp() + "/logs", tmp() + "/ckpt")
    val day = 86400000000000L
    val sec = 1000000000L
    def at(ns: Long, i: Int): LogEntry =
      LogEntry("stdout", ns, s"r$i".getBytes("UTF-8"), partial = false, partialMeta = None)
    writeBurst(staging, "c1", "seed",
      (0 until 40).map(i => at(t0 + i * sec, i)) ++
        (0 until 40).map(i => at(t0 + day + i * sec, 100 + i)))
    val q = LogIngest.start(spark, staging, table, ckpt,
      Trigger.ProcessingTime("50 milliseconds"))
    try {
      q.processAllAvailable()
      def cutoffAt(k: Int) = java.time.Instant.ofEpochSecond(0, t0 + day + (20L + k) * sec)
      val sweepError = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val sweeper = new Thread(() =>
        try (0 until 10).foreach(k => Retention.sweep(spark, table, Some(cutoffAt(k)), None))
        catch { case e: Throwable => sweepError.set(e) })
      sweeper.start()
      // one burst of 25 boundary-day lines, newer than every cutoff, every
      // 100 ms for as long as the sweeps run
      var bursts = 0
      while (sweeper.isAlive && bursts < 60) {
        bursts += 1
        writeBurst(staging, "c1", s"live$bursts", (0 until 25).map(i =>
          at(t0 + day + (1000L * bursts + i) * sec, 1000 * bursts + i)))
        Thread.sleep(100)
      }
      sweeper.join(120000)
      assert(!sweeper.isAlive, "sweeper did not finish")
      assert(sweepError.get() == null, s"sweep threw under live ingest: ${sweepError.get()}")
      q.processAllAvailable()
      assert(Retention.sweep(spark, table, Some(cutoffAt(9)), None).total === 0)
      // the survivor rule keeps seed rows 29..39 of the boundary day and
      // every live line: each exactly once
      val want = (29 until 40).map(i => s"r${100 + i}\n") ++
        (1 to bursts).flatMap(b => (0 until 25).map(i => s"r${1000 * b + i}\n"))
      val got = LogIngest.table(spark, table).select("line").collect().map(_.getString(0)).toSeq
      val (lost, extra) = (want.diff(got), got.diff(want))
      assert((lost.size, extra.size) === ((0, 0)),
        s"(lines lost, extra) over $bursts live bursts; first lost: ${lost.take(3).map(_.trim)}")
    } finally q.stop()
  }

  test("a retention commit cut between its moves and its deletes is finished by the next sweep") {
    val (staging, table, ckpt) = (tmp(), tmp() + "/logs", tmp() + "/ckpt")
    writeBurst(staging, "c1", "b0", (0 until 40).map(entry(_, "c1")))
    LogIngest.start(spark, staging, table, ckpt, Trigger.AvailableNow())
      .awaitTermination(60000)
    val leaf = Files.list(Paths.get(table, "container_id=c1")).iterator().asScala
      .find(_.getFileName.toString.startsWith("date=")).get
    def parquetIn(dir: java.nio.file.Path) = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toList
    val listed = parquetIn(leaf)

    // the dead pass kept the newest 10 of 40 lines: its rewritten file is
    // moved into the leaf and its marker written, and the listed files its
    // manifest deletes are all still there
    val kept = tmp() + "/kept"
    LogIngest.storedTable(spark, table).orderBy(desc("seq")).limit(10)
      .drop("container_id", "date").coalesce(1).write.parquet(kept)
    val moved = leaf.resolve("r-rewritten.parquet")
    Files.copy(parquetIn(Paths.get(kept)).head, moved)
    Files.write(Paths.get(table, "_commits", "retention"), Array.emptyByteArray)
    Files.write(Paths.get(table, "_commits", "retention.manifest"),
      (moved.toString +: "" +: listed.map(_.toString)).mkString("\n").getBytes("UTF-8"))
    assert(LogIngest.table(spark, table).count() === 50, "the kept lines are there twice")

    // the next sweep finishes the deletes before it lists: the quota then
    // holds, so it has nothing left to do
    assert(Retention.sweep(spark, table, None, Some(10L)).total === 0)
    val seqs = LogIngest.table(spark, table).select("seq").collect().map(_.getLong(0))
    assert(seqs.sorted.toSeq === (30 until 40).map(seqOf))
    assert(listed.forall(f => !Files.exists(f)))
    assert(parquetIn(leaf) === List(moved))
    assert(!Files.exists(Paths.get(table, "_commits", "retention.manifest")))
    assert(!Files.exists(Paths.get(table, "_commits", "retention")))
  }

  test("commitNamespace hashes every UTF-8 byte of the checkpoint path") {
    // the ASCII value existing checkpoints resume under
    assert(LogIngest.commitNamespace("/data/logs/checkpoints/c1") === "5fdf2ad9")
    // a multi-byte character must not push the trailing bytes out of the hash
    assert(LogIngest.commitNamespace("/data/josé/checkpoints/c1") !==
      LogIngest.commitNamespace("/data/josé/checkpoints/c2"))
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

  test("follow ends at StopLogging, after the lines the stop commits") {
    val (g, staging, _) = logging(0 until 5)
    try {
      val (t, seen) = following(g)
      eventually(10000)(assert(seen.size() === 5)) // initial data emitted
      // a quiet container keeps its follower, and nothing more is emitted
      Thread.sleep(2000)
      assert(t.isAlive, "follow must not end while the container logs")
      assert(seen.size() === 5)
      // staged just before the stop: StopLogging commits it, the
      // follower's last read delivers it
      writeBurst(staging, "c1", "b1", (5 until 8).map(entry(_, "c1")))
      stopAndCheck(g, t, seen, 0 until 8)
      // a container that is not logging: the follow reads the whole range
      // once, in order, and ends
      val once = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      g.follow("c1")((seq, _) => once.add(seq))
      assert(once.asScala.toSeq === (0 until 8).map(seqOf))
    } finally g.stopAll()
  }

  test("a read before the first commit fails short, with no Spark WARN") {
    val (staging, table, ckpt) = (tmp(), tmp() + "/logs", tmp() + "/ckpt")
    val g = new Graft(spark, staging, table, ckpt)
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "graft-spec-warnings", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        warnings.add(s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    appender.start()
    ctx.getConfiguration.getRootLogger.addAppender(
      appender, org.apache.logging.log4j.Level.WARN, null)
    ctx.updateLoggers()
    try {
      org.apache.logging.log4j.LogManager.getLogger("graft.spec").warn("probe")
      for (read <- Seq(() => g.readLogs(Some("c1")), () => g.countLogs("c1"))) {
        val e = intercept[java.io.FileNotFoundException](read())
        assert(e.getMessage.startsWith("no lines committed yet"))
      }
    } finally {
      ctx.getConfiguration.getRootLogger.removeAppender(appender.getName)
      ctx.updateLoggers()
    }
    assert(warnings.contains("graft.spec: probe"), "the appender records WARNs")
    assert(!warnings.asScala.exists(_.contains("metadata directory")), warnings)
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

  /** How one column chunk of a parquet file is stored. */
  private final case class Chunk(
      column: String, codec: String, encodings: Set[String], dictionary: Boolean)

  /** The parquet files of `table` (none under `_` dirs) by leaf dir, each
    * as its column chunks, one per column and row group.
    */
  private def columnChunks(table: String): Map[java.nio.file.Path, Seq[Seq[Chunk]]] = {
    val root = Paths.get(table)
    Files.walk(root).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.endsWith(".parquet") &&
        !root.relativize(p).toString.startsWith("_"))
      .groupBy(_.getParent)
      .map { case (leaf, files) => leaf -> files.map { f =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toString), new org.apache.hadoop.conf.Configuration()))
        try reader.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala).map(c =>
          Chunk(c.getPath.toDotString, c.getCodec.name, c.getEncodings.asScala.map(_.name).toSet,
            c.hasDictionaryPage))
        finally reader.close()
      } }
  }

  /** Every chunk of every file of `leaves` is zstd-compressed; `seq` and
    * `ts_nano` are delta-encoded, and they and `ts` have no dictionary
    * page, while `source` keeps one.
    */
  private def assertLogEncodings(leaves: Map[java.nio.file.Path, Seq[Seq[Chunk]]]): Unit =
    leaves.values.flatten.foreach { chunks =>
      assert(chunks.map(_.codec).toSet === Set("ZSTD"), chunks)
      val byColumn = chunks.groupBy(_.column)
      for (c <- Seq("seq", "ts_nano"))
        assert(byColumn(c).forall(_.encodings.contains("DELTA_BINARY_PACKED")), byColumn(c))
      for (c <- Seq("seq", "ts_nano", "ts"))
        assert(!byColumn(c).exists(_.dictionary), byColumn(c))
      assert(byColumn("source").forall(_.dictionary), byColumn("source"))
    }

  /** `f`'s result, and per streaming query id the stages of the jobs that
    * query ran while `f` ran, each true when it wrote shuffle data.
    */
  private def queryStages[T](f: => T): (T, String => Seq[Boolean]) = {
    val queryOf = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
          .foreach(id => e.stageIds.foreach(queryOf.put(_, id)))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Option(queryOf.get(e.stageInfo.stageId)).foreach(id => stages.add(id ->
          (e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten > 0)))
    }
    spark.sparkContext.addSparkListener(listener)
    val out =
      try f
      finally {
        Thread.sleep(500) // listener events are delivered asynchronously
        spark.sparkContext.removeSparkListener(listener)
      }
    (out, id => stages.asScala.toSeq.filter(_._1 == id).map(_._2))
  }

  // ten lines per timestamp, as a coarse clock stamps them: ts_nano and ts
  // repeat, so only the writer's setting keeps their dictionary off
  private def coarse(i: Int, container: String, step: Long): LogEntry =
    entry(i, container).copy(timeNano = t0 + (i / 10) * step)

  test("a per-container batch is written by one task: one file per leaf, no shuffle") {
    val (staging, table, ckpt) = (tmp(), tmp() + "/logs", tmp() + "/ckpt")
    val quarterDay = 21600000000000L
    // two bursts over three UTC days; c2's burst is not this query's
    writeBurst(staging, "c1", "b0", (0 until 30).map(coarse(_, "c1", quarterDay)))
    writeBurst(staging, "c1", "b1", (30 until 60).map(coarse(_, "c1", quarterDay)))
    writeBurst(staging, "c2", "b0", (0 until 10).map(entry(_, "c2")))
    val (q, stages) = queryStages {
      val q = LogIngest.start(spark, staging, table, ckpt, Trigger.AvailableNow(),
        containerId = Some("c1"))
      q.awaitTermination(60000)
      q
    }
    assert(q.recentProgress.count(_.numInputRows > 0) === 1, "both bursts in one batch")
    assert(stages(q.id.toString).nonEmpty, "the batch ran a job")
    assert(!stages(q.id.toString).contains(true), "a per-container batch runs no shuffle stage")
    val leaves = columnChunks(table)
    assert(leaves.keySet.map(_.getParent.getFileName.toString) === Set("container_id=c1"))
    assert(leaves.size === 3)
    assert(leaves.values.forall(_.size == 1), leaves)
    assertLogEncodings(leaves)
    assert(LogIngest.table(spark, table).count() === 60)
  }

  test("a backfill batch over two containers writes one file per container leaf") {
    val root = tmp()
    val g = new Graft(spark, s"$root/staging", s"$root/logs", s"$root/ckpt")
    // two files per container, each over two UTC days, ten lines a second
    for (c <- Seq("old1", "old2"); (f, day) <- Seq("a" -> 14, "b" -> 15)) {
      val dir = Paths.get(root, "jsonfile", c)
      Files.createDirectories(dir)
      Files.write(dir.resolve(s"$f.log"), (0 until 40).map(i =>
        s"""{"log":"$c $f $i\\n","stream":"stdout","time":"2023-11-${day + i / 20}T22:13:0${i / 10 % 2}.5Z"}""")
        .mkString("\n").getBytes("UTF-8"))
    }
    val (q, stages) = queryStages {
      val q = g.backfillJsonFile(s"$root/jsonfile")
      q.awaitTermination(60000)
      q
    }
    try {
      assert(q.recentProgress.count(_.numInputRows > 0) === 1, "every file in one batch")
      assert(stages(q.id.toString).contains(true), "the batch is shuffled by container")
      val leaves = columnChunks(s"$root/logs")
      assert(leaves.keySet.map(_.getParent.getFileName.toString) ===
        Set("container_id=old1", "container_id=old2"))
      assert(leaves.size === 6)
      assert(leaves.values.forall(_.size == 1), leaves)
      assertLogEncodings(leaves)
      assert(g.countLogs("old1") === 80 && g.countLogs("old2") === 80)
    } finally g.stopAll()
  }

  test("a max-lines sweep and a compaction rewrite with the ingest writer's encodings") {
    val (staging, table, ckpt) = (tmp(), tmp() + "/logs", tmp() + "/ckpt")
    def ingest(bursts: Range): Unit = bursts.foreach { b =>
      writeBurst(staging, "c1", s"b$b", (b * 20 until (b + 1) * 20).map(coarse(_, "c1", 1000L)))
      LogIngest.start(spark, staging, table, ckpt, Trigger.AvailableNow(), containerId = Some("c1"))
        .awaitTermination(60000)
    }
    def rewritten(): Map[java.nio.file.Path, Seq[Seq[Chunk]]] = {
      val leaves = columnChunks(table)
      val files = Files.walk(Paths.get(table, "container_id=c1")).iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq
      assert(leaves.size === 1 && files.size === 1 && files.head.startsWith("r-"), files)
      leaves
    }
    ingest(0 until 4)
    assert(Retention.compact(spark, table) === 1)
    assertLogEncodings(rewritten())
    ingest(4 until 6)
    assert(Retention.sweep(spark, table, None, Some(30L)) ===
      Retention.SweepStats(dropped = 0, rewritten = 1))
    assertLogEncodings(rewritten())
    // the newest 30 of 120 lines; seq bumps by one within a timestamp
    val seqs = LogIngest.table(spark, table).select("seq").collect().map(_.getLong(0)).sorted
    assert(seqs.toSeq === (90 until 120).map(i => t0 + (i / 10) * 1000L + i % 10))
  }

  test("a table written under Spark's default codec and page version keeps serving") {
    val (staging, table, ckpt) = (tmp(), tmp() + "/logs", tmp() + "/ckpt")
    val entries = (0 until 40).map(entry(_, "c1"))
    // every line's seq as decode numbers it, with the frame decode stores
    // it for: its entry with '\n' appended
    val decoded = LogIngest.decodeBurst("c1", framed(entries)).map(_.seq).toSeq
      .zip(entries.map(e => ProtoLogCodec.encode(e.copy(line = e.line :+ '\n'.toByte)).toSeq))
    // lines 0..19 in one leaf written with Spark's defaults: snappy, v1 pages
    val session = spark
    import session.implicits._
    LogIngest.decodeBurst("c1", framed(entries.take(20))).toSeq.toDS()
      .withColumn("ts", timestamp_micros(expr("ts_nano div 1000")))
      .withColumn("date", expr("date_from_unix_date(cast((ts_nano div 86400000000000) as int))"))
      .select(LogIngest.logSchema.fieldNames.map(col).toSeq: _*)
      .coalesce(1).write.partitionBy("container_id", "date").parquet(table)
    assert(columnChunks(table).values.flatten.flatten.map(_.codec).toSet === Set("SNAPPY"))
    writeBurst(staging, "c1", "b0", entries.slice(20, 30))
    val g = new Graft(spark, staging, table, ckpt)
    try {
      assert(g.startLogging("c1", keep).isRight)
      eventually(30000)(assert(g.countLogs("c1") === 30))
      val (t, seen) = following(g)
      eventually(10000)(assert(seen.size() === 30))
      writeBurst(staging, "c1", "b1", entries.slice(30, 40))
      eventually(15000)(assert(seen.size() === 40))
      stopAndCheck(g, t, seen, 0 until 40)
      assert(seen.asScala.toSeq === decoded)
      val at = (i: Int) => java.time.Instant.ofEpochSecond(0, seqOf(i)).toString
      def assertServed(): Unit = {
        def served(since: Option[String], until: Option[String], tail: Long) =
          g.frames(g.readLogs(Some("c1"), since, until, tail)).map(l => (l._1, l._2.toSeq)).toSeq
        assert(served(None, None, 0) === decoded)
        assert(served(None, None, 25) === decoded.drop(15))
        assert(served(Some(at(5)), Some(at(34)), 0) === decoded.slice(5, 35))
      }
      assertServed()
      // a compaction rewrites the old file with the new ones, in the new form
      assert(g.compact() === 1)
      val leaves = columnChunks(table)
      assert(leaves.values.map(_.size).sum === 1, leaves)
      assertLogEncodings(leaves)
      assertServed()
      val once = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Byte])]()
      g.follow("c1")((seq, frame) => once.add((seq, frame.toSeq)))
      assert(once.asScala.toSeq === decoded)
    } finally g.stopAll()
  }

  test("a batch cut between its parquet write and its manifest commit is redone once on replay") {
    val (staging, table, ckpt) = (tmp(), tmp() + "/logs", tmp() + "/ckpt")
    writeBurst(staging, "c1", "b0", (0 until 30).map(entry(_, "c1")))
    // a directory where batch 0's manifest is written: the write of the
    // batch's files succeeds, and the commit fails before its manifest
    val name = s"${LogIngest.commitNamespace(s"$ckpt/c1")}-0"
    val blocker = Paths.get(table, "_commits", s"$name.manifest.tmp")
    Files.createDirectories(blocker)
    val g = new Graft(spark, staging, table, ckpt)
    try {
      val q = g.startLogging("c1", keep).toOption.get
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.awaitTermination(60000))
      assert(Files.list(Paths.get(table, "_staging", name)).iterator().asScala
        .exists(_.getFileName.toString.startsWith("container_id=")), "the batch was staged")
      assert(!Files.exists(Paths.get(table, "_commits", name)), "and never committed")
    } finally g.stopAll()
    Files.delete(blocker)
    val replayed = new Graft(spark, staging, table, ckpt)
    try {
      assert(replayed.replayState() === Seq("c1"))
      eventually(30000)(assert(replayed.countLogs("c1") === 30))
      val seqs = replayed.logs.select("seq").collect().map(_.getLong(0)).sorted
      assert(seqs.toSeq === (0 until 30).map(seqOf), "every line exactly once")
      assert(Files.list(Paths.get(table, "_staging")).count() === 0, "staging left empty")
    } finally replayed.stopAll()
  }

  test("per-container options drive the ingest query (config -> engine)") {
    val (staging, table, ckpt) = (tmp(), tmp() + "/logs", tmp() + "/ckpt")
    writeBurst(staging, "c5", "b0", (0 until 8).map(entry(_, "c5")))
    val reg = new Graft(spark, staging, table, ckpt)
    // valid options: tiny byte budget still ingests everything (over more batches)
    val q = reg.startLogging("c5", Map(
      "max_size_per_tx" -> "1k", "message_read_timeout" -> "50"))
    assert(q.isRight)
    eventually(30000)(assert(LogIngest.table(spark, table).count() === 8))
    reg.stopAll()
    // invalid options are rejected with the reference's error, not started
    val bad = reg.startLogging("c6", Map("cleanup_age" -> "oops"))
    assert(bad.isLeft)
    assert(reg.activeContainers === Set.empty)
  }

  test("cleanup stops no ingest query") {
    val (staging, table, ckpt) = (tmp(), tmp() + "/logs", tmp() + "/ckpt")
    writeBurst(staging, "c1", "b0", (0 until 40).map(entry(_, "c1")))
    writeBurst(staging, "cq", "b0", (0 until 40).map(entry(_, "cq")))
    val reg = new Graft(spark, staging, table, ckpt)
    val fast = Map("message_read_timeout" -> "50")
    val queries = Seq("c1" -> fast, "cq" -> (fast + ("max_size_per_tx" -> "1k")))
      .map { case (id, options) => id -> reg.startLogging(id, options).toOption.get }
    val terminated = new java.util.concurrent.ConcurrentLinkedQueue[java.util.UUID]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        terminated.add(e.runId)
    }
    spark.streams.addListener(listener)
    try {
      eventually(30000)(assert(reg.countLogs("c1") === 40 && reg.countLogs("cq") === 40))
      assert(reg.cleanup(None, Some(10L)) === Retention.SweepStats(dropped = 0, rewritten = 2))
      val swept = queries.toMap.apply("cq").lastProgress.batchId
      // six bursts of ~1.6 KiB staged after the sweep: under the 1 KiB
      // budget the running query takes one per batch; without it, all six
      // in one
      (1 to 6).foreach { b =>
        writeBurst(staging, "cq", s"b$b", (b * 40 until (b + 1) * 40).map(entry(_, "cq")))
      }
      writeBurst(staging, "c1", "b1", (40 until 50).map(entry(_, "c1")))
      eventually(30000) {
        assert(reg.countLogs("c1") === 20)
        assert(reg.countLogs("cq") === 250)
        assert(queries.toMap.apply("cq").recentProgress
          .count(p => p.batchId > swept && p.numInputRows > 0) >= 6)
      }
      for ((id, q) <- queries) {
        assert(q.isActive, s"$id's ingest query was stopped")
        assert(reg.startLogging(id).map(_.runId) === Right(q.runId), s"$id's query was replaced")
        val batches = q.recentProgress.map(_.batchId).distinct.sorted.toSeq
        assert(batches === (batches.head to batches.last), s"$id's batch ids skip")
      }
      Thread.sleep(500) // listener events are delivered asynchronously
      assert(terminated.isEmpty, "an ingest query terminated")
    } finally {
      spark.streams.removeListener(listener)
      reg.stopAll()
    }
  }

  test("StopLogging's delete during a cleanup leaves the container deleted") {
    val (staging, table, ckpt) = (tmp(), tmp() + "/logs", tmp() + "/ckpt")
    writeBurst(staging, "c1", "b0", (0 until 40).map(entry(_, "c1")))
    val reg = new Graft(spark, staging, table, ckpt)
    reg.startLogging("c1").foreach(_.processAllAvailable()) // delete_when_stopped
    // StopLogging comes once the sweep's first job has started
    val sweepJob = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.spec") == "sweep"))
          sweepJob.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    val replayed = new Graft(spark, staging, table, ckpt)
    try {
      val sweepError = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val sweeper = new Thread(() =>
        try {
          spark.sparkContext.setLocalProperty("graft.spec", "sweep")
          reg.cleanup(None, Some(10L))
        } catch { case e: Throwable => sweepError.set(e) })
      sweeper.start()
      assert(sweepJob.await(60, java.util.concurrent.TimeUnit.SECONDS))
      reg.stopLogging("c1")
      sweeper.join(60000)
      assert(!sweeper.isAlive, "sweeper did not finish")
      assert(!reg.activeContainers.contains("c1"))
      assert(!Files.exists(Paths.get(table, "container_id=c1")))
      assert(replayed.replayState() === Nil)
      assert(sweepError.get() == null, s"cleanup threw: ${sweepError.get()}")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      reg.stopAll()
      replayed.stopAll()
    }
  }

  test("registry: start/stop/replay lifecycle with delete-when-stopped") {
    val (staging, table, ckpt) = (tmp(), tmp() + "/logs", tmp() + "/ckpt")
    writeBurst(staging, "c9", "b0", (0 until 5).map(entry(_, "c9")))
    val reg = new Graft(spark, staging, table, ckpt)
    val q = reg.startLogging("c9", Map("delete_when_stopped" -> "false"))
    q.foreach(_.processAllAvailable())
    assert(reg.activeContainers === Set("c9"))
    assert(LogIngest.table(spark, table).count() === 5)

    // stop WITHOUT delete keeps data + recovery state: a crashed process's
    // replacement resumes every container from checkpoints alone
    reg.stopLogging("c9")
    assert(reg.activeContainers === Set.empty)
    val reg2 = new Graft(spark, staging, table, ckpt)
    assert(reg2.replayState() === Seq("c9"))
    reg2.stopAll()
    // a stopped container's StopLogging still follows its kept options
    reg2.stopLogging("c9")
    assert(Files.exists(Paths.get(table, "container_id=c9")))

    // stop WITH delete drops data AND recovery state (statehandler.rs:167-183)
    assert(reg2.startLogging("c9", Map("delete_when_stopped" -> "true")).isRight)
    reg2.stopLogging("c9")
    assert(!Files.exists(Paths.get(table, "container_id=c9")))
    val reg3 = new Graft(spark, staging, table, ckpt)
    assert(reg3.replayState() === Nil)
  }

  test("a replay leaves a container's kept options file untouched") {
    val (staging, table, ckpt) = (tmp(), tmp() + "/logs", tmp() + "/ckpt")
    writeBurst(staging, "c1", "b0", (0 until 5).map(entry(_, "c1")))
    val g = new Graft(spark, staging, table, ckpt)
    g.startLogging("c1", keep).foreach(_.processAllAvailable())
    g.stopAll()
    val file = Paths.get(ckpt, "c1", "options.json")
    def state() = {
      val attrs = Files.readAttributes(file, classOf[java.nio.file.attribute.BasicFileAttributes])
      (attrs.fileKey, attrs.lastModifiedTime, Files.readAllBytes(file).toSeq)
    }
    val before = state()
    Thread.sleep(50)
    // a rewrite deletes the file before it renames the new one in: a
    // crash between the two would restart c1 under the defaults, and its
    // next StopLogging would delete what it keeps
    val replayed = new Graft(spark, staging, table, ckpt)
    try {
      assert(replayed.replayState() === Seq("c1"))
      assert(state() === before)
    } finally replayed.stopAll()
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
