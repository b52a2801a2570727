package graft.plans

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{SessionCache, Tables}

/** Session-scoped bucketed layout for the fact-fact join family.
  *
  * The TPC-H-shaped fact-fact queries (q21/q18/q3/q10/revenue_by_nation: a
  * lineitem rollup keyed by orderkey joined back to orders) each paid a
  * full lineitem exchange on `l_orderkey` per run — the one residual
  * >2×-twin query family in VERDICT r10. This is the storage-level answer:
  * write lineitem and orders ONCE per session as bucketed+sorted tables on
  * their orderkey (`Bucketing.writeBucketed` semantics, proven
  * shuffle-free by PlansSpec), and every downstream rollup/join runs on
  * the scan's `HashPartitioning(key, buckets)` with NO Exchange — the
  * per-order rollup, the orders join, and the per-order verdict all
  * inherit it.
  *
  * 100 TB stance: at cluster scale this layout is maintained at INGEST
  * time (the shuffle is paid once when data lands, amortized over every
  * recurring query), which is why the lazy per-session build here is the
  * honest analog — `graft.Bench`'s min-of-interleaved-passes measures the
  * steady state against a maintained layout, and the first pass that
  * builds it is visibly slower, not hidden. Bucket count: 32 locally
  * (= local shuffle width); at scale set `spark.graft.factBuckets` to
  * O(executor cores) so each bucket is one task.
  *
  * The input is repartitioned to exactly `buckets` partitions ON the
  * bucket column before the write — bucketBy hashes rows to bucket files
  * per WRITE TASK, so an unpartitioned input of T tasks would emit up to
  * T files per bucket (and lose the sortBy guarantee one-file-per-bucket
  * reads rely on). Repartition and bucketing share the Murmur3 column
  * hash, so each task holds exactly one whole bucket.
  *
  * Failure fallback (VERDICT r11 #1): if the managed write is impossible
  * (read-only temp dir, exotic catalog), [[bucketedOpt]] returns None and
  * callers MUST route to a plan that is good over plain parquet — r11's
  * q21 kept its forced merge hint on the fallback scan and paid full
  * exchanges+sorts every run, a plan WORSE than the one the layout
  * replaced. The outcome of every build attempt (built / reused /
  * fallback + seconds) is recorded and dumped by `graft.Bench` into its
  * sidecar, so a bench artifact self-reports which path each run took.
  */
object FactLayout {

  private val cache = new SessionCache[Option[DataFrame]]

  /** Build-attempt record for the bench sidecar: `"built:0.92"`,
    * `"reused:0.04"`, or `"fallback:<first error words>"`.
    */
  private val outcomes =
    scala.collection.mutable.LinkedHashMap[(SparkSession, String), String]()

  def lineitemByOrderOpt(s: SparkSession, d: String): Option[DataFrame] =
    bucketedOpt(s, d, "lineitem", "l_orderkey")

  def ordersByKeyOpt(s: SparkSession, d: String): Option[DataFrame] =
    bucketedOpt(s, d, "orders", "o_orderkey")

  /** Second lineitem projection, bucketed on PARTKEY — the part-rollup
    * family (q2 cheapest-supplier, q11 important-parts, q20 dominant-
    * suppliers) groups on l_partkey and paid that exchange per run. At
    * cluster scale this is the classic secondary sort projection
    * maintained at ingest beside the orderkey copy.
    */
  def lineitemByPartOpt(s: SparkSession, d: String): Option[DataFrame] =
    bucketedOpt(s, d, "lineitem", "l_partkey")

  /** `table` bucketed+sorted on `key`, built at most once per (session,
    * dir, table): later calls resolve from the session catalog. None when
    * the managed write failed in this environment (recorded once; the
    * failure is cached too, so a broken environment pays the attempt
    * once per session, not per query).
    */
  def bucketedOpt(s: SparkSession, d: String,
      table: String, key: String): Option[DataFrame] =
    cache.getOrElseUpdate(s, s"bucketed:$d/$table/$key")((s, _) => {
      val t0 = System.nanoTime()
      def secs = (System.nanoTime() - t0) / 1e9
      try {
        val (df, how) = build(s, d, table, key)
        record(s, d, table, key, f"$how:$secs%.2f")
        Some(df)
      } catch {
        case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          record(s, d, table, key, s"fallback:${msg.take(60)}")
          System.err.println(
            s"[graft] bucketed layout for $table unavailable ($msg); " +
              "callers fall back to plain-parquet plans")
          None
      }
    })

  private def record(s: SparkSession, d: String, table: String, key: String,
      outcome: String): Unit = outcomes.synchronized {
    outcomes.filterInPlace { case ((sess, _), _) => !sess.sparkContext.isStopped }
    // keyed by dataset dir TOO (ADVICE r12): a session touching two
    // dataset dirs must not overwrite one record with the other
    outcomes((s, s"$table:$key@$d")) = outcome
  }

  /** Layout build report for `s`, for the bench sidecar:
    * `"lineitem:l_orderkey@/data/sf1" -> "built:0.92"` — one record per
    * (dataset dir, table, key); `built` wrote fresh files, `reused`
    * registered files already on disk, `adopted` lost the cross-JVM write
    * race and registered the winner's files. Empty if no query touched
    * the layout in this session.
    */
  def report(s: SparkSession): Map[String, String] = outcomes.synchronized {
    outcomes.collect { case ((sess, k), v) if sess eq s => k -> v }.toMap
  }

  /** Strong layout fingerprint (ADVICE r12): SHA-256 over the FULL key —
    * dataset dir, table, bucket key+count — plus a source-content stamp:
    * for every data file under the source, its relative name, length,
    * mtime, and the first+last 64 KiB of bytes. Catches both the 32-bit
    * collision vector and in-place regeneration that preserves mtime+size
    * (cp -p, tar): parquet footers live in the digested tail, and two
    * different datasets virtually never share byte-identical head+tail.
    * Cost: 128 KiB of I/O per file, metadata otherwise.
    */
  private[graft] def fingerprintOf(d: String, table: String, key: String,
      buckets: Int, src: java.io.File): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def feed(s: String): Unit = { md.update(s.getBytes("UTF-8")); md.update(0.toByte) }
    feed(d); feed(table); feed(key); feed(buckets.toString)
    def feedFile(f: java.io.File, rel: String): Unit = {
      feed(rel); feed(f.length.toString); feed(f.lastModified.toString)
      val raf = new java.io.RandomAccessFile(f, "r")
      try {
        val take = math.min(f.length, 65536L).toInt
        val head = new Array[Byte](take)
        raf.readFully(head); md.update(head)
        if (f.length > 65536L) {
          raf.seek(math.max(65536L, f.length - 65536L))
          val tail = new Array[Byte](
            (f.length - math.max(65536L, f.length - 65536L)).toInt)
          raf.readFully(tail); md.update(tail)
        }
      } finally raf.close()
    }
    // RECURSIVE walk (ADVICE r13): a partitioned/nested source dir (the
    // engine's own container_id=/date= layout, any real multi-file table)
    // must be content-stamped, not metadata-stamped — digesting only direct
    // children let an in-place regeneration of nested files keep the old
    // fingerprint and silently serve a stale layout. Relative paths feed
    // the digest so a rename is a content change too; children sorted by
    // name for determinism.
    def walk(dir: java.io.File, prefix: String): Unit =
      Option(dir.listFiles()).toSeq.flatten.sortBy(_.getName).foreach { f =>
        if (f.isFile) feedFile(f, prefix + f.getName)
        else walk(f, prefix + f.getName + "/")
      }
    if (src.isFile) feedFile(src, src.getName)
    else walk(src, "")
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** Short digest of the dataset dir identity, embedded in the layout
    * dir-name STEM (ADVICE r13): the sweep strips only the trailing
    * fingerprint, so two live datasets (sf0.1 and sf1 on the same machine,
    * this repo's own bench workflow) each keep their own layout dir —
    * without this, building one dataset's layout deleted the other's
    * still-valid dir and alternating benches re-paid the ~0.5 GB write
    * (or worse, deleted files under a concurrent session mid-run).
    * Canonical path, so relative/symlinked spellings of one dir agree.
    */
  private[graft] def dirHashOf(d: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val canon =
      try new java.io.File(d).getCanonicalPath
      catch { case _: java.io.IOException => new java.io.File(d).getAbsolutePath }
    md.update(canon.getBytes("UTF-8"))
    md.digest().take(4).map("%02x".format(_)).mkString
  }

  /** Delete completed layout dirs for the same (table, key, buckets,
    * DATASET DIR) with a DIFFERENT fingerprint — superseded by the layout
    * at `current`. The source they were built from has changed; nothing
    * will ever adopt them again, and without the sweep the layout tmpdir
    * grows without bound across fixture regenerations (ADVICE r12).
    * In-flight `.tmp<pid>` build dirs are left alone, and — ADVICE r13 —
    * so are layouts of OTHER datasets: the stem includes [[dirHashOf]], so
    * building the sf1 layout no longer deletes the still-valid sf0.1 one
    * (same machine, alternating benches, possibly a concurrent session).
    */
  private[graft] def sweepSuperseded(current: java.io.File): Unit = {
    // name shape: <table>_<key>_<buckets>_<dirHash>_<fingerprint> — strip
    // the fingerprint, keep the trailing underscore
    val stem = current.getName.lastIndexOf('_') match {
      case i if i > 0 => current.getName.substring(0, i + 1)
      case _ => return
    }
    Option(current.getParentFile.listFiles()).toSeq.flatten.foreach { f =>
      if (f.isDirectory && f.getName != current.getName &&
          f.getName.startsWith(stem) && !f.getName.contains(".tmp"))
        org.apache.hadoop.fs.FileUtil.fullyDelete(f)
    }
  }

  /** Adoption gate (ADVICE r12): files found on disk (or a lost write
    * race) are only registered after their schema and row count match the
    * source — a stale or colliding layout dir fails loudly here instead
    * of silently answering queries with other data. Both checks are
    * footer-metadata reads, not data scans.
    */
  private[graft] def validateAdoption(s: SparkSession, d: String, table: String,
      stable: java.io.File): Unit = {
    val got = s.read.parquet(stable.toString)
    val want = Tables(s, d, table)
    // names + types, not nullability: parquet round-trips may widen flags
    def shape(df: DataFrame) = df.schema.fields.toSeq.map(f => (f.name, f.dataType))
    require(shape(got) == shape(want),
      s"layout dir $stable schema ${got.schema.toDDL} does not match " +
        s"source $table ${want.schema.toDDL} — stale or colliding layout")
    val (gn, wn) = (got.count(), want.count())
    require(gn == wn,
      s"layout dir $stable holds $gn rows but source $table has $wn — " +
        "stale or colliding layout")
  }

  private def build(s: SparkSession, d: String,
      table: String, key: String): (DataFrame, String) = {
    val buckets = s.conf.getOption("spark.graft.factBuckets")
      .map(_.toInt).getOrElse(32)
    // layout files live at a STABLE per-machine path keyed by a strong
    // digest of (dir, table, key, buckets, source content stamp): the
    // first session ever pays the bucketed write, every later session
    // re-REGISTERS the same files (measured: per-JVM rebuilds at sf1
    // wrote ~0.5 GB per bench run, and that sustained write traffic
    // dragged every interleaved sample in the window — the steady state
    // the bench should measure is the maintained-at-ingest layout, which
    // this reuse is the local analog of). A regenerated fixture changes
    // the stamp → new digest → fresh build + sweep of the superseded dir.
    val src = new java.io.File(s"$d/$table.parquet")
    val fingerprint = fingerprintOf(d, table, key, buckets, src)
    val name = s"graft_bk_${table}_${key}_$fingerprint"
    val inCatalog = s.catalog.tableExists(name)
    var how = "reused"
    if (!inCatalog) {
      val stable = new java.io.File(
        sys.props.getOrElse("java.io.tmpdir", "/tmp"),
        s"graft_layout/${table}_${key}_${buckets}_${dirHashOf(d)}_$fingerprint")
      def register(): Unit = {
        val schema = s.read.parquet(stable.toString).schema.toDDL
        s.sql(s"CREATE TABLE $name ($schema) USING parquet " +
          s"CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS " +
          s"LOCATION '${stable.toString}'")
      }
      if (new java.io.File(stable, "_SUCCESS").isFile) {
        // files already on disk from an earlier session — validate, then
        // register an external bucketed table over them (bucket ids ride
        // the file names Spark's own bucketed writer produced)
        validateAdoption(s, d, table, stable)
        register()
      } else {
        // lost-race losers write to a unique tmp sibling and move in
        // atomically; if another JVM won, adopt its files
        val tmp = new java.io.File(stable.getParent,
          stable.getName + s".tmp${ProcessHandle.current.pid}")
        val tmpName = name + "_build"
        Tables(s, d, table)
          .repartition(buckets, col(key))
          .write.mode(SaveMode.Overwrite)
          .option("path", tmp.toString)
          .bucketBy(buckets, key)
          .sortBy(key)
          .format("parquet")
          .saveAsTable(tmpName)
        s.sql(s"DROP TABLE $tmpName") // external: files stay
        stable.getParentFile.mkdirs()
        val moved =
          try {
            java.nio.file.Files.move(tmp.toPath, stable.toPath,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            true
          } catch {
            case _: java.nio.file.FileAlreadyExistsException |
                _: java.nio.file.DirectoryNotEmptyException =>
              org.apache.hadoop.fs.FileUtil
                .fullyDelete(tmp) // another JVM won the race
              false
          }
        if (!moved && !new java.io.File(stable, "_SUCCESS").isFile)
          throw new IllegalStateException(
            s"layout dir $stable exists without a _SUCCESS marker")
        if (moved) how = "built"
        else {
          // report what actually happened: this JVM's files were thrown
          // away and the winner's were registered (ADVICE r12)
          how = "adopted"
          validateAdoption(s, d, table, stable)
        }
        register()
        sweepSuperseded(stable)
      }
    }
    (s.table(name), how)
  }
}
