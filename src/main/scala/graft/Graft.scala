package graft

import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.LogOps
import graft.sources.{AccessLog, JsonFileLog, LogfmtLog, SyslogLog}
import graft.streaming.{LogIngest, LogRegistry, Retention}

/** Public facade: the reference's full capability surface in one place.
  * A daschr/logsqlite user maps their operations 1:1:
  *
  * | logsqlite (docker log driver)     | graft |
  * |---|---|
  * | StartLogging (FIFO → SQLite)      | `Graft(spark, dirs).startLogging(id)` |
  * | StopLogging (+ delete db)         | `stopLogging(id, deleteWhenStopped)` |
  * | ReadLogs since/until/tail         | `readLogs(id, since, until, tail)` |
  * | ReadLogs follow=true              | `follow(id, since, until, after)(emit)` |
  * | cleanup_age / cleanup_max_lines   | `cleanup(age, maxLines)` |
  * | crash recovery (active_fetches)   | `replayState()` |
  *
  * plus the analytics surface (`SparkEntry.queries`) the reference never
  * had. Directory roots play the role of the reference's
  * `databases_dir` (logsqlite `src/config.rs:141-145`).
  */
final class Graft(
    spark: SparkSession,
    stagingRoot: String,
    tableRoot: String,
    checkpointRoot: String) {

  private val registry = new LogRegistry(spark, stagingRoot, tableRoot, checkpointRoot)

  // ---- lifecycle (SURVEY §2.1 O1-O3, O14-O16) -----------------------------

  def startLogging(
      containerId: String,
      trigger: Trigger = Trigger.ProcessingTime("100 milliseconds")): StreamingQuery =
    registry.startLogging(containerId, trigger)

  /** StartLogging with the reference's per-container option map
    * (`src/config.rs:186-231`): bad options → Left(error string), the
    * plugin protocol's `{"Err": msg}` contract.
    */
  def startLoggingWithOptions(
      containerId: String,
      options: Map[String, String]): Either[String, StreamingQuery] =
    registry.startLoggingWithOptions(containerId, options)

  /** Staging directory a log shipper (or the wire-protocol adapter's FIFO
    * pump) writes framed bursts into for `containerId`.
    */
  def stagingDir(containerId: String): String = s"$stagingRoot/$containerId"

  def stopLogging(containerId: String, deleteWhenStopped: Boolean = true): Unit =
    registry.stopLogging(containerId, deleteWhenStopped)

  def replayState(): Seq[String] = registry.replayState()

  def activeContainers: Set[String] = registry.activeContainers

  def stopAll(): Unit = registry.stopAll()

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

  /** `docker logs --follow` past the lines a caller already has: the
    * reference's cursor poll (`src/logger.rs:287-288,398-453`). Every
    * `pollMs` it re-issues the request's own [[readLogs]] range (container,
    * `since`, `until`; follow ignores tail) with `seq > cursor` added,
    * hands each new line's seq and encoded LogEntry to `emit` in seq order,
    * and advances the cursor to the last seq emitted. Blocks the calling
    * thread until `idlePolls` polls in a row find nothing (the reference
    * gives up after 3600 empty 1 s polls) or `emit` throws.
    *
    * `after` is the cursor's start: the seq of the last line the caller
    * has already emitted, e.g. from its initial [[readLogs]].
    */
  def follow(
      containerId: Option[String],
      since: Option[String] = None,
      until: Option[String] = None,
      after: Long = Long.MinValue,
      pollMs: Long = 1000L,
      idlePolls: Int = 3600)(
      emit: (Long, Array[Byte]) => Unit): Unit = {
    var cursor = after
    var idle = 0
    while (idle < idlePolls) {
      Thread.sleep(pollMs)
      val before = cursor
      frames(readLogs(containerId, since, until, follow = true).where(col("seq") > cursor))
        .foreach { case (seq, message) => emit(seq, message); cursor = seq }
      idle = if (cursor == before) idle + 1 else 0
    }
  }

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

  def cleanup(age: Option[java.time.Duration], maxLines: Option[Long]): Retention.SweepStats =
    registry.quiesced {
      Retention.sweep(spark, tableRoot, age.map(a => Instant.now().minus(a)), maxLines)
    }

  def compact(targetBytes: Long = 128L << 20): Int =
    registry.quiesced(Retention.compact(spark, tableRoot, targetBytes))
}

object Graft {
  def apply(spark: SparkSession, root: String): Graft =
    new Graft(spark, s"$root/staging", s"$root/logs", s"$root/checkpoints")
}
