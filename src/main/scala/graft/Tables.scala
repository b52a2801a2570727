package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Scale notes (100 TB design stance):
  *  - Reads go through `spark.read.parquet` so the vectorized columnar
  *    reader, predicate pushdown, and column pruning apply. Every operator
  *    in this library is written so its filters/projections reach the scan
  *    (verify with `.explain("formatted")` → `PushedFilters` / `ReadSchema`).
  *  - At cluster scale the log table would be laid out as
  *    `.../logs/container_id=<id>/date=<yyyy-mm-dd>/part-*.parquet`, sorted
  *    within files on `ts_nano` so row-group min/max stats replace the
  *    reference's SQLite `idx_ts` index (logsqlite `src/logger.rs:147`).
  *    The flat per-table files here are the driver fixture layout.
  */
object Tables {
  // Memoized per (session, path): re-resolving the same parquet relation
  // re-lists files and re-reads footers on every query — a real per-query
  // tax in a 40-query run and the session-catalog behavior users expect.
  // (Only the resolved relation is cached, never data.)
  private val cache = new SessionCache[DataFrame]

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // events.parquet carries TIMESTAMP(NANOS), which Spark 4 refuses by
    // default; read it as raw Long nanos (set per-session, idempotent).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    cache.getOrElseUpdate(spark, s"$sfDir/$name.parquet")((s, p) => s.read.parquet(p))
  }

  /** How many row groups, the smallest scan splits, a table's parquet
    * footers show: a metadata read (no Spark job), memoized per
    * (session, path).
    */
  private val rowGroupCounts = new SessionCache[java.lang.Integer]

  private[graft] def rowGroups(s: SparkSession, d: String, name: String): Int =
    rowGroupCounts.getOrElseUpdate(s, s"$d/$name.parquet") { (ss, p) =>
      val conf = ss.sparkContext.hadoopConfiguration
      val root = new org.apache.hadoop.fs.Path(p)
      val fs = root.getFileSystem(conf)
      val files =
        if (fs.getFileStatus(root).isDirectory)
          fs.listStatus(root).map(_.getPath).filter(_.getName.endsWith(".parquet")).toSeq
        else Seq(root)
      Integer.valueOf(files.map { f =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
        try rd.getRowGroups.size finally rd.close()
      }.sum)
    }.intValue()

  /** Spread `df`, a frame over table `name`, across every core before a
    * CPU-heavy per-row stage. A table with fewer row groups than cores
    * scans on fewer tasks than cores, and a kernel fused above the scan
    * runs that narrow, so `df` is repartitioned to `defaultParallelism`
    * exactly then. A wider scan is already spread and is left alone.
    */
  private[graft] def widen(s: SparkSession, d: String, name: String, df: DataFrame): DataFrame = {
    val cores = s.sparkContext.defaultParallelism
    if (rowGroups(s, d, name) < cores) df.repartition(cores) else df
  }

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  /** The log-table analog. Exposes the dual-column design (SURVEY.md §1.3):
    * the authoritative epoch-nanos Long `ts_nano` (order/filter on the exact
    * value) plus a TimestampType `ts` of the same instant (SQL ergonomics).
    *
    * The driver fixture's physical `ts` type has changed across rounds
    * (int64 TIMESTAMP(NANOS) through r6; TIMESTAMP_NTZ µs from r7), so we
    * branch on the *scanned* schema rather than assume either:
    *  - LongType (nanosAsLong path): file nanos are authoritative;
    *    `ts div 1000` (integer div — ns epoch exceeds double's 2^53) → µs.
    *  - TIMESTAMP_NTZ: the naive wall-clock is UTC by convention (matches
    *    DuckDB's naive-TIMESTAMP oracle reads); cast to TimestampType is
    *    exact because every graft entry point pins
    *    `spark.sql.session.timeZone=UTC`, then `unix_micros`.
    *  - TimestampType: already instant-typed; `unix_micros` directly.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => // file nanos are authoritative — keep them exactly.
        // ts_nano IS the raw file column here, so long range predicates on
        // it reach the parquet scan natively (no metadata needed).
        raw.withColumn("ts_nano", col("ts"))
           .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // The naive wall-clock is UTC by convention (matches the DuckDB
        // oracle's naive-TIMESTAMP reads); every graft entry point pins
        // spark.sql.session.timeZone=UTC, which makes the LTZ cast exact.
        //
        // ts_nano is now DERIVED, so a predicate on it can never reach the
        // scan. Keep the raw file column as a passthrough (`ts_file`) and
        // tag ts_nano with metadata naming it — LogOps translates nano
        // bounds into exact, pushable predicates on the raw column
        // (LogOps.tsNanoGeq/Leq). At 100 TB that pushed range IS the index.
        val ltz = col("ts").cast(TimestampType)
        val md = new org.apache.spark.sql.types.MetadataBuilder()
          .putString(Tables.PhysColKey, "ts_file")
          .putString(Tables.PhysUnitKey, Tables.UnitNtzMicros)
          .build()
        raw.withColumn("ts_file", col("ts"))
           .withColumn("ts_nano",
             (unix_micros(ltz) * lit(1000L)).cast(LongType).as("ts_nano", md))
           .withColumn("ts", ltz)
      case TimestampType =>
        val md = new org.apache.spark.sql.types.MetadataBuilder()
          .putString(Tables.PhysColKey, "ts")
          .putString(Tables.PhysUnitKey, Tables.UnitLtzMicros)
          .build()
        raw.withColumn("ts_nano",
          (unix_micros(col("ts")) * lit(1000L)).cast(LongType).as("ts_nano", md))
      case other => throw new IllegalStateException(
        s"events.ts: unsupported physical type $other (expected int64 nanos, " +
        "TIMESTAMP_NTZ, or TIMESTAMP) — fixture schema drifted; update Tables.events")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Column-metadata keys marking a DERIVED `ts_nano` whose range predicates
    * should instead be expressed on the named raw file column (see
    * LogOps.tsNanoGeq/tsNanoLeq for the translation).
    */
  val PhysColKey = "graft.physCol"
  val PhysUnitKey = "graft.physUnit"
  val UnitNtzMicros = "ntz_micros"
  val UnitLtzMicros = "ltz_micros"
}
