package graft.streaming

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
  * `src/cleaner.rs:82-129`) on a periodic sweep (`src/cleaner.rs:134-158`)
  * while the logger keeps appending. Parquet is immutable, so deletion
  * works on the `container_id=/date=` leaves [[LogIngest.start]] writes:
  *
  *  - a leaf whose every row is past retention is DROPPED — its files are
  *    deleted, no Spark job, the analog of the reference's cheap
  *    `DELETE WHERE ts < ?` riding its ts index. At 100 TB this is how an
  *    age policy stays O(boundary), not O(table).
  *  - only the BOUNDARY leaf (where the cutoff falls mid-leaf) is
  *    rewritten: its survivors into new files, its old files deleted.
  *
  * A pass (sweep or compaction) lists each leaf's parquet files once and
  * reads, rewrites and deletes exactly those, as stored (a row written
  * without `message` stays without it). It commits the files it moves in
  * and the listed files it deletes as one [[LogIngest.manifestCommit]],
  * the commit of every ingest batch, so ingest never stops: a file a batch
  * commits after the listing is neither read nor deleted, and rows
  * appended after a pass lists its files count toward the next sweep's
  * line quota. The next pass settles one cut short ([[LogIngest.recover]]).
  * Passes must not overlap each other or StopLogging's delete;
  * [[graft.Graft]] runs them under one lock. A reader listing a leaf
  * between a commit's moves and its deletes sees rewritten rows twice.
  *
  * One Spark job computes per-leaf stats (count, min/max ts_nano) for the
  * whole sweep; every drop/rewrite decision is made driver-side from them.
  * The max-lines policy ranks rows from newest by `seq`, which is
  * monotone in ts_nano per container by construction
  * ([[LogIngest.decodeBurst]]), so whole leaves beyond the kept count are
  * likewise dropped, and only the leaf where the count boundary falls is
  * rewritten with the residual quota.
  */
object Retention {

  /** The file size a rewrite packs a leaf's rows back into. */
  private val TargetBytes = 128L << 20

  /** The name every pass commits under: passes never overlap. */
  private val CommitName = "retention"

  /** Outcome of one sweep: date leaves dropped without a rewrite job
    * vs. boundary leaves rewritten.
    */
  final case class SweepStats(dropped: Int, rewritten: Int) {
    def total: Int = dropped + rewritten
  }

  /** A `container_id=/date=` leaf with the parquet files a pass listed. */
  private final case class Leaf(container: String, date: String, files: Seq[(Path, Long)]) {
    /** The most files a rewrite of this leaf writes. */
    def want: Int = math.max(1, math.ceil(files.map(_._2).sum.toDouble / TargetBytes).toInt)
  }

  /** One sweep over the `container_id=/date=` leaves of `tableDir`. */
  def sweep(
      spark: SparkSession,
      tableDir: String,
      ageCutoff: Option[java.time.Instant],
      maxLines: Option[Long]): SweepStats = {
    if (ageCutoff.isEmpty && maxLines.isEmpty) return SweepStats(0, 0)
    val listed = settle(spark, tableDir)
    if (listed.isEmpty) return SweepStats(0, 0)

    val cutoffNano = ageCutoff.map(LogOps.nanos)

    // ONE action for the whole sweep: per-leaf row count and ts bounds.
    // Small result (containers × retained dates), collected to the driver
    // where every drop/rewrite decision is pure arithmetic.
    val stats = storedRows(spark, tableDir, listed)
      .groupBy(col("container_id"), col("date"))
      .agg(count(lit(1)), min(col("ts_nano")), max(col("ts_nano")))
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate.toString) ->
        (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap

    // per leaf, newest first: None drops it, Some(survivors) rewrites it
    val work = listed.groupBy(_.container).values.toSeq.flatMap { leaves =>
      // rank-from-newest is taken over ALL rows before the age filter
      // (reference OR-semantics, src/cleaner.rs:82-102), so the line budget
      // is consumed by every newer leaf regardless of its own fate
      var newerCum = 0L
      leaves.sortBy(_.date)(Ordering[String].reverse).flatMap { leaf =>
        stats.get((leaf.container, leaf.date)).flatMap { case (cnt, minTs, maxTs) =>
          // how many newest rows of THIS leaf the line budget still allows
          val quota = maxLines.map(_ - newerCum)
          newerCum += cnt
          if (cutoffNano.exists(maxTs < _) || quota.exists(_ <= 0)) Some(leaf -> None)
          else if (cutoffNano.exists(minTs < _) || quota.exists(_ < cnt)) {
            var survivors = storedRows(spark, tableDir, Seq(leaf))
            quota.filter(_ < cnt).foreach { q =>
              val w = Window.partitionBy(col("container_id")).orderBy(col("seq").desc)
              survivors = survivors
                .withColumn("__rank_from_newest", row_number().over(w))
                .where(col("__rank_from_newest") <= q)
                .drop("__rank_from_newest")
            }
            cutoffNano.filter(minTs < _)
              .foreach(c => survivors = survivors.where(col("ts_nano") >= c))
            Some(leaf -> Some(survivors))
          } else None
        }
      }
    }
    val dropped = work.collect { case (leaf, None) => leaf }
    val rewritten = work.collect { case (leaf, Some(survivors)) => (leaf, survivors) }
    if (work.nonEmpty) commit(spark, tableDir, dropped, rewritten)
    SweepStats(dropped.size, rewritten.size)
  }

  /** Small-file compaction: the 100 ms micro-batch cadence produces one
    * file per container per burst; compaction packs each leaf that holds
    * more files than its bytes need back into files of ~[[TargetBytes]],
    * with rows re-sorted on ts_nano (restoring tight row-group stats),
    * through the same rewrite and commit as the sweep. Returns leaves
    * compacted.
    */
  def compact(spark: SparkSession, tableDir: String): Int = {
    val todo = settle(spark, tableDir).filter(l => l.files.size > l.want)
    if (todo.nonEmpty)
      commit(spark, tableDir, Nil, todo.map(l => (l, storedRows(spark, tableDir, Seq(l)))))
    todo.size
  }

  // ---- plumbing ------------------------------------------------------------

  /** Settles a pass that was cut short, then lists every leaf of
    * `tableDir` that holds parquet files; none when there is no table.
    */
  private def settle(spark: SparkSession, tableDir: String): Seq[Leaf] = {
    if (!FsUtil.isDirectory(spark, tableDir)) return Nil
    val marker = s"$tableDir/_commits/$CommitName"
    if (LogIngest.recover(spark, tableDir, CommitName, FsUtil.exists(spark, marker)))
      invalidate(spark, tableDir)
    // the manifest goes before the marker: a marker left without its
    // manifest settles nothing, a manifest left with a stale marker would
    // finish the next pass before its moves
    Seq(s"$marker.manifest", marker, s"$tableDir/_staging/$CommitName")
      .foreach(FsUtil.deleteRecursively(spark, _))
    for {
      cDir <- FsUtil.listDirs(spark, tableDir, "container_id=")
      dDir <- FsUtil.listDirs(spark, cDir.toString, "date=")
      files = FsUtil.listFiles(spark, dDir.toString, ".parquet")
      if files.nonEmpty
    } yield Leaf(cDir.getName.stripPrefix("container_id="), dDir.getName.stripPrefix("date="),
      files)
  }

  /** Exactly the rows of `leaves`' listed files, as stored. */
  private def storedRows(spark: SparkSession, tableDir: String, leaves: Seq[Leaf]): DataFrame =
    LogIngest.storedFiles(spark, tableDir, leaves.flatMap(_.files.map(_._1.toString)))

  /** The step sweep and compaction share: one Spark job writes every
    * rewritten leaf's rows under the pass's staging dir, as at most
    * [[Leaf.want]] files per leaf, through the writer ingest batches use
    * ([[LogIngest.writeLeaves]]: each file sorted on ts_nano, the same
    * codec, page version and encodings, so a rewrite also converts a file
    * an older writer left). The moves of those files into their leaves and the
    * deletion of every listed file of the dropped and rewritten leaves
    * then go in one manifest commit.
    */
  private def commit(
      spark: SparkSession,
      tableDir: String,
      dropped: Seq[Leaf],
      rewritten: Seq[(Leaf, DataFrame)]): Unit = {
    val staging = s"$tableDir/_staging/$CommitName"
    if (rewritten.nonEmpty)
      LogIngest.writeLeaves(
        rewritten.map { case (leaf, rows) => rows.coalesce(leaf.want) }.reduce(_ union _), staging)
    LogIngest.manifestCommit(spark, tableDir, CommitName,
      LogIngest.leafMoves(spark, staging, tableDir, "r-"),
      (dropped ++ rewritten.map(_._1)).flatMap(_.files.map(_._1)))
    FsUtil.deleteRecursively(spark, s"$tableDir/_commits/$CommitName")
    invalidate(spark, tableDir)
  }

  /** The shared FileStatusCache may still hold files a commit or delete removed; drop it. */
  private[graft] def invalidate(spark: SparkSession, tableDir: String): Unit = {
    org.apache.spark.sql.graft.ColumnBridge.invalidateFileListing(spark)
    if (FsUtil.isDirectory(spark, tableDir)) spark.catalog.refreshByPath(tableDir)
  }
}
