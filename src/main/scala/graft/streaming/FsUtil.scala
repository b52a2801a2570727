package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Filesystem plumbing for the maintenance paths (retention, compaction,
  * StopLogging's delete), routed through Hadoop [[FileSystem]] — never
  * `java.nio` — so the same code runs on local disk, HDFS, and object
  * stores. The 100 TB deployment target is object storage; `java.nio`
  * only ever sees the driver's local disk.
  *
  * Commit protocol per store (for [[LogIngest.manifestCommit]], the one
  * commit of every ingest batch, retention sweep and compaction):
  *  - HDFS / local FS: each file rename is an atomic metadata op; a
  *    reader lists a change's files before or after each one.
  *  - Object stores (S3A and friends): rename is copy+delete, so each
  *    move costs a copy. The commit stays correct (the staged files are
  *    fully written before the manifest names them) but slower. Runs
  *    there should put an ACID table format under the log table; the
  *    manifest commit is the one place that substitution replaces.
  */
private[graft] object FsUtil {

  /** Each session's Hadoop conf, built on its first [[fs]] call. */
  private val confs =
    java.util.Collections.synchronizedMap(new java.util.WeakHashMap[SparkSession, Configuration]())

  /** The FileSystem owning `path`, resolved from the session's Hadoop conf
    * (picks up s3a/abfs/hdfs credentials and endpoints the deployment set).
    * The conf is built once per session, a full copy of the Hadoop conf
    * plus every SQL conf; `FileSystem.get` caches each instance by scheme
    * and authority, so only a store's first use reads it anyway.
    */
  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(confs.computeIfAbsent(spark, _.sessionState.newHadoopConf()))

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    fs(spark, path).exists(p)
  }

  def isDirectory(spark: SparkSession, path: String): Boolean = {
    val f = fs(spark, path)
    val p = new Path(path)
    f.exists(p) && f.getFileStatus(p).isDirectory
  }

  /** Child directories whose name starts with `prefix` (e.g. all
    * `container_id=` partition dirs), by name.
    */
  def listDirs(spark: SparkSession, path: String, prefix: String = ""): Seq[Path] = {
    val f = fs(spark, path)
    val p = new Path(path)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .map(_.getPath)
      .sortBy(_.getName)
  }

  /** Data files directly under `path` with their sizes. */
  def listFiles(spark: SparkSession, path: String, suffix: String): Seq[(Path, Long)] = {
    val f = fs(spark, path)
    val p = new Path(path)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(suffix))
      .map(st => (st.getPath, st.getLen))
  }

  def deleteRecursively(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    fs(spark, path).delete(p, true)
    ()
  }

  /** Delete `dir` if it is empty (not recursive: a file landing in it keeps it). */
  def deleteIfEmpty(spark: SparkSession, dir: Path): Boolean =
    try fs(spark, dir.toString).delete(dir, false)
    catch { case _: java.io.IOException => false }

  def rename(spark: SparkSession, from: Path, to: Path): Unit = {
    val f = fs(spark, from.toString)
    if (!f.rename(from, to))
      throw new java.io.IOException(s"rename failed: $from -> $to")
  }

  def mkdirs(spark: SparkSession, path: String): Unit = {
    fs(spark, path).mkdirs(new Path(path))
    ()
  }

  /** Write `content` to `path` via tmp-file + rename, so a reader never
    * observes a torn file (rename is atomic on HDFS/local; on object
    * stores the tmp simply becomes visible last).
    */
  def writeString(spark: SparkSession, path: String, content: String): Unit = {
    val f = fs(spark, path)
    val tmp = new Path(path + ".tmp")
    val out = f.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    f.delete(new Path(path), false)
    if (!f.rename(tmp, new Path(path)))
      throw new java.io.IOException(s"rename failed: $tmp -> $path")
  }

  def readLines(spark: SparkSession, path: String): Seq[String] = {
    val f = fs(spark, path)
    val in = f.open(new Path(path))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
    finally in.close()
  }
}
