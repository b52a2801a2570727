package graft

import java.time.Instant
import java.util.concurrent.TimeUnit

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}

import graft.functions.LogConf
import graft.operators.LogOps
import graft.sources.{AccessLog, JsonFileLog, LogfmtLog, SyslogLog}
import graft.streaming.{FsUtil, LogIngest, Retention}

/** Public facade: the reference's full capability surface in one place.
  * A daschr/logsqlite user maps their operations 1:1:
  *
  * | logsqlite (docker log driver)     | graft |
  * |---|---|
  * | StartLogging (FIFO → SQLite)      | `Graft(spark, dirs).startLogging(id, options)` |
  * | StopLogging (+ delete db)         | `stopLogging(id)`, deleting per the container's `delete_when_stopped` |
  * | ReadLogs since/until/tail         | `readLogs(id, since, until, tail)` |
  * | ReadLogs follow=true              | `follow(id, since, until)(emit)` |
  * | cleanup_age / cleanup_max_lines   | `cleanup(age, maxLines)` |
  * | crash recovery (active_fetches)   | `replayState()` |
  *
  * plus the analytics surface (`SparkEntry.queries`) the reference never
  * had. Directory roots play the role of the reference's
  * `databases_dir` (logsqlite `src/config.rs:141-145`).
  *
  * A container's record is the reference's `active_fetches` row
  * (`src/statehandler.rs:84,193-219`): its running ingest query and the
  * option map it was started with, kept in memory and, as
  * `<checkpoint>/options.json`, beside the query's checkpoint, so a
  * restart recovers the query from its definition plus its checkpoint.
  */
final class Graft(
    spark: SparkSession,
    stagingRoot: String,
    tableRoot: String,
    checkpointRoot: String) {

  /** A running container: its ingest query and the options it started with. */
  private final class Logging(val q: StreamingQuery, val options: Map[String, String])

  private val active = TrieMap.empty[String, Logging]

  /** Each logging container's commits, which its followers wait on and
    * are fed from, from StartLogging to its stop.
    */
  private val followed = TrieMap.empty[String, Graft.Commits]

  /** Held by [[cleanup]], [[compact]] and [[stopLogging]]'s delete of a
    * container: a pass must not move rows back under a container dir the
    * delete removed, and two passes must not rewrite the same files.
    */
  private val maintenance = new Object

  // ---- lifecycle (SURVEY §2.1 O1-O3, O14-O16) -----------------------------

  /** StartLogging with the reference's per-container option map
    * (`src/config.rs:186-231`): a ContainerID that is not a single path
    * segment or a bad option → Left(error string), the plugin protocol's
    * `{"Err": msg}` contract. Creates the container's staging dir (the
    * query lists it at analysis time) and keeps the options for
    * [[stopLogging]] and [[replayState]]. A container
    * already running keeps its query and options.
    */
  def startLogging(
      containerId: String,
      options: Map[String, String] = Map.empty): Either[String, StreamingQuery] =
    for {
      _ <- Either.cond(Graft.ContainerId.matches(containerId), (),
        s"invalid ContainerID \"$containerId\": not a single path segment")
      s <- settings(options)
    } yield active.get(containerId).filter(_.q.isActive) match {
      // a crashed/terminated query must not shadow a restart
      case Some(l) => l.q
      case None =>
        FsUtil.mkdirs(spark, stagingDir(containerId))
        // only a new map is written: a rewrite deletes the kept file before
        // its rename, so a crash there would restart the container with
        // the defaults on the next replay
        if (!FsUtil.exists(spark, optionsFile(containerId)) ||
            storedOptions(containerId) != options)
          FsUtil.writeString(spark, optionsFile(containerId),
            Graft.json.writeValueAsString(options.asJava))
        val commits = followed.getOrElseUpdate(containerId, new Graft.Commits)
        val q = LogIngest.start(spark, stagingRoot, tableRoot,
          s"$checkpointRoot/$containerId", s.trigger, Some(containerId), s.maxBytesPerTrigger,
          onCommit = files => {
            var lines: Option[Array[Graft.Line]] = None
            // counted even if the read is interrupted: followers read what is not kept
            try if (files.nonEmpty && commits.isFollowed) lines = capture(files)
            finally commits.committed(lines)
          })
        active.put(containerId, new Logging(q, options))
        q
    }

  /** Staging directory a log shipper (or the wire-protocol adapter's FIFO
    * pump) writes framed bursts into for `containerId`.
    */
  def stagingDir(containerId: String): String = s"$stagingRoot/$containerId"

  /** StopLogging under the container's `delete_when_stopped` (its running
    * options, else the kept ones, else the default true). Kept data
    * includes what is already staged, e.g. the FIFO tail the pump flushes
    * on StopLogging; deleting drops the container's rows, staging and
    * checkpoint with its options (`src/statehandler.rs:167-183`). Its
    * followers then end, after the batches committed before the stop. An
    * id that [[startLogging]] refuses was never started: nothing to stop.
    */
  def stopLogging(containerId: String): Unit = {
    if (!Graft.ContainerId.matches(containerId)) return
    val running = active.remove(containerId)
    val options = running.map(_.options).getOrElse(storedOptions(containerId))
    val delete = settings(options).forall(_.deleteWhenStopped)
    running.map(_.q).foreach { q =>
      // a failed query keeps what is staged and checkpointed for the next start
      if (!delete)
        try q.processAllAvailable() catch { case _: StreamingQueryException => }
      q.stop()
    }
    if (delete) maintenance.synchronized {
      // keeping the checkpoint would let replayState() resurrect a deleted
      // container, and keeping the staging bursts would re-ingest the
      // "deleted" data on a fresh start. Hadoop FileSystem, not java.nio:
      // these roots live on object storage/HDFS at deployment scale.
      FsUtil.deleteRecursively(spark, s"$tableRoot/container_id=$containerId")
      FsUtil.deleteRecursively(spark, s"$checkpointRoot/$containerId")
      FsUtil.deleteRecursively(spark, stagingDir(containerId))
      // deleted files may still be in the shared listing cache
      Retention.invalidate(spark, tableRoot)
    }
    followed.remove(containerId).foreach(_.stop())
  }

  /** Crash recovery: restart every container that has both a checkpoint
    * and a staging dir (a backfill's checkpoint has no staging dir), with
    * its kept options, or the defaults for a checkpoint kept without them.
    * Returns the containers restarted.
    */
  def replayState(): Seq[String] =
    FsUtil.listDirs(spark, checkpointRoot).map(_.getName)
      .filter(id => FsUtil.isDirectory(spark, stagingDir(id)))
      .flatMap(id => startLogging(id, storedOptions(id)).toOption.map(_ => id))

  def activeContainers: Set[String] = active.keySet.toSet

  /** Stop every ingest query, keeping data, checkpoints and options;
    * bursts staged but not yet committed are ingested by the next start.
    * Every follower ends, after the batches committed before the stop.
    */
  def stopAll(): Unit = {
    active.keys.foreach(id => active.remove(id).foreach(_.q.stop()))
    followed.keys.foreach(id => followed.remove(id).foreach(_.stop()))
  }

  /** What a container's option map sets (merged over the reference's
    * defaults): the micro-batch trigger (`message_read_timeout`), the
    * batch byte budget (only when `max_size_per_tx` is given, see
    * [[LogIngest.start]]) and whether StopLogging deletes its data.
    */
  private def settings(options: Map[String, String]): Either[String, Graft.Settings] =
    LogConf.fromOptions(options).map(c => Graft.Settings(
      Trigger.ProcessingTime(s"${c.messageReadTimeout.toMillis} milliseconds"),
      if (options.contains("max_size_per_tx")) Some(c.maxSizePerTx) else None,
      c.deleteWhenStopped))

  private def optionsFile(containerId: String): String =
    s"$checkpointRoot/$containerId/options.json"

  /** The options `containerId` was last started with; none kept (a
    * checkpoint written before options were kept) reads as the defaults.
    */
  private def storedOptions(containerId: String): Map[String, String] =
    if (!FsUtil.exists(spark, optionsFile(containerId))) Map.empty
    else Graft.json.readTree(FsUtil.readLines(spark, optionsFile(containerId)).mkString("\n"))
      .properties.asScala.map(e => e.getKey -> e.getValue.asText).toMap

  // ---- reads (O4-O8) ------------------------------------------------------

  /** The log table as a DataFrame (full analytics surface applies), with
    * every row's `message` frame served ([[LogIngest.table]]).
    */
  def logs: DataFrame = LogIngest.table(spark, tableRoot)

  /** `docker logs --since --until --tail` semantics, including the zero-time
    * sentinel, tail<1, and follow-ignores-tail rules. Frames are rebuilt
    * after the range and tail are applied, so only returned rows pay.
    */
  def readLogs(
      containerId: Option[String],
      since: Option[String] = None,
      until: Option[String] = None,
      tail: Long = 0,
      follow: Boolean = false): DataFrame = {
    val req = LogOps.normalize(containerId, since, until, tail, follow)
    // The facade KNOWS the ingest layout (LogIngest partitions by
    // container_id/date), so it opts in to derived date-partition pruning.
    LogIngest.withMessages(
      LogOps.readRange(LogIngest.storedTable(spark, tableRoot),
        "container_id", "seq", "ts_nano", req, datePartCol = Some("date")))
  }

  def countLogs(containerId: String): Long =
    logs.where(col("container_id") === containerId).count()

  // ---- follow mode (O9) ---------------------------------------------------

  /** `docker logs --follow`: hands each line of the request's own
    * [[readLogs]] range (container, `since`, `until`; follow ignores tail),
    * its seq and encoded LogEntry, to `emit` once and in seq order, and
    * advances a cursor to the last seq emitted.
    *
    * One read of the whole range runs at once, after the follower is
    * attached, so no commit can fall between the read and the feed. Later
    * lines come from the
    * container's commits: while a container has a follower, each commit
    * reads its own batch once and hands it to every follower (the
    * committed batch is the increment, as in Structured Streaming), so a
    * follower on a quiet container does nothing. A follower that falls
    * behind the batches kept (the latest [[Graft.CaptureBytes]] of frames
    * per container), or meets a batch that was not read, reads
    * `seq > cursor` once instead.
    *
    * Blocks until the container stops (after the batches committed before
    * the stop), at once if it was not logging, after 3600 s with no line
    * emitted (the reference's 3600 empty 1 s polls), or when `emit`
    * throws. A retention sweep or compaction does not end it: neither
    * stops an ingest query.
    */
  def follow(
      containerId: String,
      since: Option[String] = None,
      until: Option[String] = None)(
      emit: (Long, Array[Byte]) => Unit): Unit = {
    val commits = followed.getOrElse(containerId, new Graft.Commits(stopped = true))
    val req = LogOps.normalize(Some(containerId), since, until, 0, follow = true)
    val from = req.since.fold(Long.MinValue)(LogOps.nanos)
    val to = req.until.fold(Long.MaxValue)(LogOps.nanos)
    var cursor = Long.MinValue
    var lastLine = System.nanoTime()
    def emitAll(lines: Iterator[(Long, Array[Byte])]): Unit = lines.foreach { case (seq, message) =>
      emit(seq, message); cursor = seq; lastLine = System.nanoTime()
    }
    def read(): Unit = emitAll(frames(
      readLogs(Some(containerId), since, until, follow = true).where(col("seq") > cursor)))
    commits.attach()
    try {
      // count first: a batch committed after it is in the read or fed below
      var (seen, last) = commits.state
      read()
      while (!last) {
        val (count, stopped) = commits.await(seen, lastLine + Graft.FollowIdleNanos)
        if (count == seen && !stopped) return // idle
        commits.captured(seen, count) match {
          case Some(lines) =>
            val c = cursor
            emitAll(lines.iterator.filter(l => l.seq > c && l.tsNano >= from && l.tsNano <= to)
              .map(l => (l.seq, l.frame)))
          case None => read()
        }
        seen = count
        last = stopped
      }
    } finally commits.detach()
  }

  /** The lines of committed `files`, read once for every follower. */
  private def capture(files: Seq[String]): Option[Array[Graft.Line]] =
    try Some(LogIngest.filesTable(spark, tableRoot, files).select("seq", "ts_nano", "message")
      .collect().map(r => Graft.Line(r.getLong(0), r.getLong(1), r.getAs[Array[Byte]](2))))
    catch { case NonFatal(_) => None } // not captured: its followers read instead

  /** (seq, encoded LogEntry) of each row of a [[readLogs]] result, in
    * order, through `toLocalIterator` so a large range never materializes
    * on the driver.
    */
  private[graft] def frames(df: DataFrame): Iterator[(Long, Array[Byte])] =
    df.select(col("seq"), col("message")).toLocalIterator().asScala
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))

  // ---- migration ----------------------------------------------------------

  /** Backfill docker json-file logs (the driver the reference replaces)
    * into the same table: point at a dir of per-container `.log` files
    * laid out like `/var/lib/docker/containers`, run to completion with
    * `Trigger.AvailableNow()`, or leave the default trigger to tail it.
    */
  def backfillJsonFile(
      jsonStagingDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    backfill(jsonStagingDir, "jsonfile-backfill", JsonFileLog.decodeBurst, trigger)

  /** Backfill/tail RFC 5424 syslog captures into the same table (third
    * wire format; see [[graft.sources.SyslogLog]]). */
  def backfillSyslog(
      syslogStagingDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    backfill(syslogStagingDir, "syslog-backfill", SyslogLog.decodeBurst, trigger)

  /** Backfill/tail logfmt captures into the same table (fourth wire
    * format; see [[graft.sources.LogfmtLog]]). */
  def backfillLogfmt(
      logfmtStagingDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    backfill(logfmtStagingDir, "logfmt-backfill", LogfmtLog.decodeBurst, trigger)

  /** Backfill/tail Apache CLF/Combined access logs into the same table
    * (fifth wire format; see [[graft.sources.AccessLog]]). */
  def backfillAccessLog(
      accessStagingDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    backfill(accessStagingDir, "accesslog-backfill", AccessLog.decodeBurst, trigger)

  /** The `.log` files under `dir/<container_id>/`, decoded by `decode`,
    * through the one ingest query into the table; `name` is the
    * checkpoint dir a rerun resumes from.
    */
  private def backfill(dir: String, name: String, decode: LogIngest.Decoder,
      trigger: Trigger): StreamingQuery =
    LogIngest.start(spark, dir, tableRoot, s"$checkpointRoot/$name", trigger,
      glob = "*.log", decode = decode)

  // ---- log analytics over the live table ----------------------------------

  /** Template mining over the engine's own log table (the Drain-family
    * rollup of [[graft.operators.LogOps.templates]]). */
  def templates(): DataFrame =
    LogOps.templates(logs, "container_id", "seq", "ts_nano", col("line"))

  /** HTTP traffic rollup over CLF lines in the log table (lines from
    * other wire formats drop out; see [[graft.operators.LogOps
    * .accessStats]]). */
  def accessStats(): DataFrame = LogOps.accessStats(logs, col("line"))

  // ---- retention / maintenance (O10-O13) ----------------------------------

  /** One [[Retention.sweep]] of the table; every container keeps ingesting. */
  def cleanup(age: Option[java.time.Duration], maxLines: Option[Long]): Retention.SweepStats =
    maintenance.synchronized {
      Retention.sweep(spark, tableRoot, age.map(a => Instant.now().minus(a)), maxLines)
    }

  /** One [[Retention.compact]] of the table; every container keeps ingesting. */
  def compact(): Int = maintenance.synchronized(Retention.compact(spark, tableRoot))
}

object Graft {
  /** A ContainerID usable as one path segment (docker's are 64 hex chars):
    * ids are pasted into the staging, checkpoint and table paths.
    */
  private val ContainerId = "[A-Za-z0-9][A-Za-z0-9_.-]*".r

  private val json = new ObjectMapper()

  private final case class Settings(
      trigger: Trigger, maxBytesPerTrigger: Option[Long], deleteWhenStopped: Boolean)

  // the reference's follow gives up after 3600 empty 1 s wakes
  // (FOLLOW_COUNTER_MAX × FOLLOW_WAKETIME, logger.rs:287-288)
  private val FollowIdleNanos = TimeUnit.SECONDS.toNanos(3600)

  /** Frame bytes of the latest batches a followed container keeps for its
    * followers; a bigger batch is not kept.
    */
  private[graft] val CaptureBytes: Long = 16L << 20

  /** One committed line as a follower is fed it. */
  private final case class Line(seq: Long, tsNano: Long, frame: Array[Byte])

  /** A logging container's committed batches: their count, the stopped
    * flag, the followers attached and, while any is, the lines of the
    * latest [[CaptureBytes]] of batches, keyed by the count each commit
    * reached.
    */
  private final class Commits(stopped: Boolean = false) {
    private var count = 0L
    private var isStopped = stopped
    private var followers = 0
    // commit count → the batch's lines and frame bytes, oldest first
    private val batches = mutable.LinkedHashMap.empty[Long, (Array[Line], Long)]
    private var bytes = 0L

    def isFollowed: Boolean = synchronized(followers > 0)

    def attach(): Unit = synchronized { followers += 1 }

    def detach(): Unit = synchronized {
      followers -= 1
      if (followers == 0) { batches.clear(); bytes = 0 }
    }

    /** A batch committed, with its lines when they were read. */
    def committed(lines: Option[Array[Line]]): Unit = synchronized {
      count += 1
      for (ls <- lines if followers > 0) {
        val size = ls.iterator.map(_.frame.length.toLong).sum
        if (size <= CaptureBytes) {
          batches(count) = (ls, size)
          bytes += size
          while (bytes > CaptureBytes) bytes -= batches.remove(batches.head._1).get._2
        }
      }
      notifyAll()
    }

    def stop(): Unit = synchronized { isStopped = true; notifyAll() }

    /** The count and the stopped flag. */
    def state: (Long, Boolean) = synchronized((count, isStopped))

    /** [[state]] once the count passes `seen` or the container stops, or at
      * `deadline` (a `System.nanoTime`).
      */
    def await(seen: Long, deadline: Long): (Long, Boolean) = synchronized {
      while (count == seen && !isStopped && deadline - System.nanoTime() > 0)
        TimeUnit.NANOSECONDS.timedWait(this, deadline - System.nanoTime())
      (count, isStopped)
    }

    /** The lines of the batches past `seen` up to `upTo`, in seq order;
      * None when one of them is not kept.
      */
    def captured(seen: Long, upTo: Long): Option[Seq[Line]] = synchronized {
      val range = seen + 1 to upTo
      if (range.forall(batches.contains)) Some(range.flatMap(batches(_)._1).sortBy(_.seq))
      else None
    }
  }

  def apply(spark: SparkSession, root: String): Graft =
    new Graft(spark, s"$root/staging", s"$root/logs", s"$root/checkpoints")
}
