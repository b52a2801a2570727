package graft.streaming

import java.time.LocalDate
import java.util.concurrent.Executors

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.LogOps

/** Retention sweep + compaction (SURVEY.md §2.1 O10–O13): the mutating
  * counterpart of [[LogOps.retentionSurvivors]].
  *
  * The reference DELETEs in place per container
  * (`DELETE FROM logs WHERE ts < ?1 OR ROWID < ?2`, logsqlite
  * `src/cleaner.rs:82-129`) on a periodic sweep (`src/cleaner.rs:134-158`).
  * Parquet is immutable, so deletion works at partition granularity over
  * the `container_id=/date=` layout [[LogIngest.start]] writes:
  *
  *  - a date partition whose every row is past retention is DROPPED — one
  *    filesystem delete, no Spark job, the analog of the reference's cheap
  *    `DELETE WHERE ts < ?` riding its ts index. At 100 TB this is how an
  *    age policy stays O(boundary), not O(table).
  *  - only the BOUNDARY date (where the cutoff falls mid-partition) is
  *    rewritten: survivors to a shadow dir, then an atomic swap.
  *
  * Both read and rewrite the table as stored ([[LogIngest.storedTable]]):
  * a row written without `message` stays without it.
  *
  * One Spark job computes per-(container, date) stats (count, min/max
  * ts_nano) for the entire sweep; every drop/rewrite decision is made
  * driver-side from that table. Rewrites then run CONCURRENTLY (they are
  * independent Spark jobs), and all swaps happen after every shadow is
  * fully written, so no rewrite ever reads a directory another rewrite is
  * concurrently swapping. Atomicity of the swap itself: see [[FsUtil]]'s
  * per-store commit protocol notes.
  *
  * The max-lines policy ranks rows from newest by `seq`, which is
  * monotone in ts_nano per container by construction
  * ([[LogIngest.decodeBurst]]), so whole date partitions beyond the kept
  * count are likewise dropped, and only the partition where the count
  * boundary falls is rewritten with the residual quota.
  */
object Retention {

  private val NanosPerDay = 86400000000000L

  /** Outcome of one sweep: date partitions dropped without a rewrite job
    * vs. boundary partitions rewritten.
    */
  final case class SweepStats(dropped: Int, rewritten: Int) {
    def total: Int = dropped + rewritten
  }

  private sealed trait Action
  private case object Drop extends Action
  /** Partial partition: rewrite survivors. `lineQuota` = how many newest
    * rows of THIS partition the max-lines policy still allows (the global
    * budget minus rows in newer partitions); `ageFilter` = whether the age
    * cutoff bites inside this partition.
    */
  private final case class Rewrite(lineQuota: Option[Long], ageFilter: Boolean) extends Action

  private final case class PartStats(
      container: String, date: LocalDate, cnt: Long, minTs: Long, maxTs: Long)

  /** One sweep over the `container_id=/date=` partitions of `tableDir`. */
  def sweep(
      spark: SparkSession,
      tableDir: String,
      ageCutoff: Option[java.time.Instant],
      maxLines: Option[Long]): SweepStats = {
    if (ageCutoff.isEmpty && maxLines.isEmpty) return SweepStats(0, 0)
    if (!FsUtil.isDirectory(spark, tableDir)) return SweepStats(0, 0)

    val cutoffNano = ageCutoff.map(LogOps.nanos)

    // ONE action for the whole sweep: per-(container, date) row count and
    // ts bounds. Small result (containers × retained dates), collected to
    // the driver where every drop/rewrite decision is pure arithmetic.
    val stats = LogIngest.storedTable(spark, tableDir)
      .groupBy(col("container_id"), col("date"))
      .agg(count(lit(1)).as("cnt"), min(col("ts_nano")).as("min_ts"),
           max(col("ts_nano")).as("max_ts"))
      .collect()
      .map(r => PartStats(r.getString(0), r.getDate(1).toLocalDate,
        r.getLong(2), r.getLong(3), r.getLong(4)))

    val work = mutable.ArrayBuffer.empty[(PartStats, Action)]
    stats.groupBy(_.container).foreach { case (_, parts) =>
      // newest first; rank-from-newest is taken over ALL rows before the
      // age filter (reference OR-semantics, src/cleaner.rs:82-102), so the
      // line budget is consumed by every newer partition regardless of its
      // own fate
      var newerCum = 0L
      parts.sortBy(_.date.toEpochDay).reverse.foreach { p =>
        val allByAge   = cutoffNano.exists(c => p.maxTs < c)
        val someByAge  = cutoffNano.exists(c => p.minTs < c)
        val allByLines = maxLines.exists(k => newerCum >= k)
        val someByLines = maxLines.exists(k => newerCum + p.cnt > k)
        if (allByAge || allByLines) work += ((p, Drop))
        else if (someByAge || someByLines)
          work += ((p, Rewrite(
            lineQuota = maxLines.map(_ - newerCum).filter(_ => someByLines),
            ageFilter = someByAge)))
        newerCum += p.cnt
      }
    }
    if (work.isEmpty) return SweepStats(0, 0)

    // Phase 1 — write every boundary shadow while the live table is still
    // untouched (concurrent rewrites must not observe each other's swaps).
    val rewrites = work.collect { case (p, r: Rewrite) => (p, r) }.toSeq
    inParallel(rewrites) { case (p, r) =>
      val slice = datePartition(spark, tableDir, p.container, p.date)
      var survivors = slice
      r.lineQuota.foreach { quota =>
        val w = Window.partitionBy(col("container_id")).orderBy(col("seq").desc)
        survivors = survivors
          .withColumn("__rank_from_newest", row_number().over(w))
          .where(col("__rank_from_newest") <= quota)
          .drop("__rank_from_newest")
      }
      if (r.ageFilter)
        survivors = survivors.where(col("ts_nano") >= cutoffNano.get)
      survivors.drop("container_id", "date")
        .sortWithinPartitions(col("ts_nano"))
        .write.mode("overwrite").parquet(shadowDir(tableDir, p).toString)
    }

    // Phase 2 — pure filesystem metadata ops: drops + swaps, then ONE
    // listing-cache invalidation for the whole sweep.
    var dropped = 0
    var rewritten = 0
    work.foreach {
      case (p, Drop) =>
        FsUtil.deleteRecursively(spark, dateDir(tableDir, p).toString)
        dropped += 1
      case (p, _: Rewrite) =>
        swapDir(spark, dateDir(tableDir, p), shadowDir(tableDir, p))
        rewritten += 1
    }
    // a container whose every date partition was dropped leaves an empty
    // container dir — remove it so the registry/table listing stays clean
    work.map(_._1.container).distinct.foreach { c =>
      val cDir = s"$tableDir/container_id=$c"
      if (FsUtil.listDirs(spark, cDir, "date=").isEmpty &&
          FsUtil.listFiles(spark, cDir, ".parquet").isEmpty)
        FsUtil.deleteRecursively(spark, cDir)
    }
    invalidate(spark, tableDir)
    SweepStats(dropped, rewritten)
  }

  /** Small-file compaction: the 100 ms micro-batch cadence produces one
    * file per container per burst; compaction bin-packs each (container,
    * date) leaf partition back to ~`targetBytes` files with rows re-sorted
    * on ts_nano (restoring tight row-group stats), using the same
    * shadow-write + atomic-swap as retention. Returns partitions compacted.
    */
  def compact(spark: SparkSession, tableDir: String, targetBytes: Long = 128L << 20): Int = {
    if (!FsUtil.isDirectory(spark, tableDir)) return 0
    val leaves = for {
      cDir <- FsUtil.listDirs(spark, tableDir, "container_id=")
      dDir <- FsUtil.listDirs(spark, cDir.toString, "date=")
    } yield (cDir.getName.stripPrefix("container_id="),
             LocalDate.parse(dDir.getName.stripPrefix("date=")),
             FsUtil.listFiles(spark, dDir.toString, ".parquet"))
    val todo = leaves.flatMap { case (c, d, files) =>
      val bytes = files.map(_._2).sum
      val want = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
      if (files.size > want)
        Some((PartStats(c, d, 0, 0, 0), want))
      else None
    }
    if (todo.isEmpty) return 0
    inParallel(todo) { case (p, want) =>
      datePartition(spark, tableDir, p.container, p.date)
        .drop("container_id", "date")
        .repartitionByRange(want, col("ts_nano"))
        .sortWithinPartitions(col("ts_nano"))
        .write.mode("overwrite").parquet(shadowDir(tableDir, p).toString)
    }
    todo.foreach { case (p, _) => swapDir(spark, dateDir(tableDir, p), shadowDir(tableDir, p)) }
    invalidate(spark, tableDir)
    todo.size
  }

  // ---- plumbing ------------------------------------------------------------

  private def datePartition(
      spark: SparkSession, tableDir: String, container: String, date: LocalDate): DataFrame =
    LogIngest.storedTable(spark, tableDir)
      .where(col("container_id") === container &&
             col("date") === lit(java.sql.Date.valueOf(date)))

  private def dateDir(tableDir: String, p: PartStats): Path =
    new Path(s"$tableDir/container_id=${p.container}/date=${p.date}")

  private def shadowDir(tableDir: String, p: PartStats): Path =
    new Path(s"$tableDir.rewrite-${p.container}-${p.date}")

  /** Run independent partition rewrites concurrently: each is its own Spark
    * job, and local[32]/a cluster schedules them side by side instead of
    * serializing scan-write latencies on the driver thread.
    */
  private def inParallel[T](items: Seq[T])(f: T => Unit): Unit = {
    if (items.isEmpty) return
    if (items.size == 1) { f(items.head); return }
    val pool = Executors.newFixedThreadPool(math.min(items.size, 8))
    try {
      val futures = items.map(i => pool.submit(new Runnable { def run(): Unit = f(i) }))
      futures.foreach(_.get())
    } finally pool.shutdown()
  }

  /** Replace a live partition directory with its rewritten shadow. On HDFS/
    * local FS the renames are atomic (see [[FsUtil]] for the object-store
    * caveat). Also drops the batch writer's _SUCCESS marker.
    */
  private def swapDir(spark: SparkSession, live: Path, shadow: Path): Unit = {
    val fs = FsUtil.fs(spark, live.toString)
    val tmp = new Path(live.getParent, live.getName + ".old")
    FsUtil.rename(spark, live, tmp)
    FsUtil.rename(spark, shadow, live)
    fs.delete(tmp, true)
    fs.delete(new Path(live, "_SUCCESS"), false)
    ()
  }

  /** The shared FileStatusCache may still hold files a swap or delete removed; drop it. */
  private[graft] def invalidate(spark: SparkSession, tableDir: String): Unit = {
    org.apache.spark.sql.graft.ColumnBridge.invalidateFileListing(spark)
    if (FsUtil.isDirectory(spark, tableDir)) spark.catalog.refreshByPath(tableDir)
  }
}
