package graft.streaming

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}

/** Active-stream registry (SURVEY.md §2.1 O14–O16): the Spark analog of the
  * reference's worker pool + `active_fetches` crash-recovery table
  * (logsqlite `src/logger.rs:229-281`, `src/statehandler.rs:84-219`).
  *
  * StartLogging ≈ start an ingest StreamingQuery; StopLogging ≈ stop it
  * (optionally deleting the container's data, the reference's
  * `delete_when_stopped`, `src/statehandler.rs:167-183`); crash recovery ≈
  * restart with the same checkpointLocation — Structured Streaming's
  * checkpoint subsumes the state table entirely, so `replayState` is just
  * "start every container found under the checkpoint root".
  */
final class LogRegistry(
    spark: SparkSession,
    stagingRoot: String,
    tableRoot: String,
    checkpointRoot: String) {

  /** A running ingest query and the arguments it was started with. */
  private final class Started(val q: StreamingQuery, val trigger: Trigger,
      val maxBytesPerTrigger: Option[Long])

  private val active = TrieMap.empty[String, Started]

  def startLogging(
      containerId: String,
      trigger: Trigger = Trigger.ProcessingTime("100 milliseconds"),
      maxBytesPerTrigger: Option[Long] = None): StreamingQuery = {
    // a crashed/terminated query must not shadow a restart
    active.get(containerId).filter(_.q.isActive) match {
      case Some(s) => s.q
      case None =>
        val q = LogIngest.start(spark, stagingRoot, tableRoot,
          s"$checkpointRoot/$containerId", trigger, Some(containerId), maxBytesPerTrigger)
        active.put(containerId, new Started(q, trigger, maxBytesPerTrigger))
        q
    }
  }

  /** Per-container options → running query, the reference's
    * StartLogging(Config) contract (src/config.rs:186-231 merged over
    * defaults; the read-timeout becomes the micro-batch trigger).
    */
  def startLoggingWithOptions(
      containerId: String,
      options: Map[String, String]): Either[String, StreamingQuery] =
    graft.functions.LogConf.fromOptions(options).map { c =>
      startLogging(containerId,
        Trigger.ProcessingTime(s"${c.messageReadTimeout.toMillis} milliseconds"),
        // batch byte budget only when the user asked for one (see LogIngest)
        if (options.contains("max_size_per_tx")) Some(c.maxSizePerTx) else None)
    }

  def stopLogging(containerId: String, deleteWhenStopped: Boolean = true): Unit = {
    active.remove(containerId).map(_.q).foreach { q =>
      // kept data includes what is already staged, e.g. the FIFO tail the
      // pump flushes on StopLogging; a failed query keeps it staged and
      // checkpointed for the next start instead
      if (!deleteWhenStopped)
        try q.processAllAvailable() catch { case _: StreamingQueryException => }
      q.stop()
    }
    if (deleteWhenStopped) {
      // reference semantics: drop the container's data AND its recovery
      // state (src/statehandler.rs:167-183) — keeping the checkpoint would
      // let replayState() resurrect a deleted container, and keeping the
      // staging bursts would re-ingest the "deleted" data on a fresh start.
      // Hadoop FileSystem, not java.nio: these roots live on object
      // storage/HDFS at deployment scale (see FsUtil).
      FsUtil.deleteRecursively(spark, s"$tableRoot/container_id=$containerId")
      FsUtil.deleteRecursively(spark, s"$checkpointRoot/$containerId")
      FsUtil.deleteRecursively(spark, s"$stagingRoot/$containerId")
      // deleted files may still be in the shared listing cache
      org.apache.spark.sql.graft.ColumnBridge.invalidateFileListing(spark)
      if (FsUtil.isDirectory(spark, tableRoot))
        spark.catalog.refreshByPath(tableRoot)
    }
  }

  /** Restart every container that has a checkpoint — crash recovery. */
  def replayState(): Seq[String] =
    FsUtil.listDirs(spark, checkpointRoot).map { p =>
      val id = p.getName
      startLogging(id)
      id
    }

  def activeContainers: Set[String] = active.keySet.toSet

  /** Stop every ingest query, keeping data and checkpoints; bursts staged
    * but not yet committed are ingested by the next start.
    */
  def stopAll(): Unit = active.keys.foreach(id => active.remove(id).foreach(_.q.stop()))

  /** Stop every active ingest query, run `f`, restart each with the
    * trigger and byte budget it was started with. Retention's
    * rewrite-and-swap must not race a concurrent appender: a file landing
    * between the survivor snapshot and the directory swap would be deleted
    * (its offsets are already checkpointed, so it would never be
    * re-ingested).
    */
  def quiesced[T](f: => T): T = {
    val snapshot = active.toMap
    snapshot.foreach { case (id, s) => s.q.stop(); active.remove(id) }
    try f
    finally snapshot.foreach { case (id, s) => startLogging(id, s.trigger, s.maxBytesPerTrigger) }
  }

}
