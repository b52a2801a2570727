package perfbench

import java.io.{BufferedReader, InputStreamReader, PrintStream}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions.{expr, timestamp_micros}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{Graft, SparkEntry}
import graft.functions.ProtoLogCodec
import graft.streaming.{IngestMetrics, LogDriverServer, LogIngest}

/** The process under test. Hosts one Spark session, a [[Graft]] over a
  * work directory and a [[LogDriverServer]] on a unix socket, exactly as a
  * deployed log driver runs; the load generator (perfbench/run.py) is a
  * separate process that talks to the socket and writes the FIFOs.
  *
  * Besides the socket, the harness reads one JSON command per line on
  * stdin and answers one JSON line on stdout. The commands only call the
  * engine's public functions (Graft, LogIngest, ProtoLogCodec,
  * SparkEntry) and read Spark's public listener and progress APIs; no
  * timer lives inside the engine.
  *
  * Usage: perfbench.Harness <workDir> <cores>
  */
object Harness {

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  private val TagKey = "perfbench.tag"

  def main(args: Array[String]): Unit = {
    val workDir = Paths.get(args(0)).toAbsolutePath
    val cores = args(1).toInt
    val out = new PrintStream(new java.io.FileOutputStream(java.io.FileDescriptor.out), true, "UTF-8")
    // Spark and log4j print to stdout in places; the protocol owns it
    System.setOut(System.err)

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    spark.streams.addListener(probe.streaming)
    val sessionMs = ms(t0)

    val t1 = System.nanoTime()
    val root = workDir.resolve("driver").toString
    val graft = Graft(spark, root)
    val socket = workDir.resolve("driver.sock")
    val server = new LogDriverServer(graft, socket)
    server.start()
    val serverMs = ms(t1)

    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.shuffle") || k.startsWith("spark.master") ||
        k.startsWith("spark.sql.adaptive") || k == "spark.sql.extensions" ||
        k == "spark.driver.memory" || k == "spark.sql.session.timeZone"
    }
    reply(out, Map("event" -> "ready", "session_ms" -> sessionMs,
      "server_ms" -> serverMs, "socket" -> socket.toString,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "cores" -> cores, "spark_conf" -> conf))

    val in = new BufferedReader(new InputStreamReader(System.in, "UTF-8"))
    var line = in.readLine()
    var running = true
    while (running && line != null) {
      val cmd = toScala(json.readTree(line)).asInstanceOf[Map[String, Any]]
      val name = cmd("cmd").toString
      val res: Map[String, Any] =
        try name match {
          case "cleanup" => cleanup(spark, graft, probe, root, num(cmd("max_lines")).toLong)
          case "stats" => probe.snapshot(num(cmd.getOrElse("since_ms", 0)).toLong)
          case "committed" => Map("batches" -> probe.streaming.progress(0L))
          case "slice" => slice(spark, probe, cmd)
          case "warmup" => warmup(spark, cmd("dir").toString)
          case "reads" => reads(graft, spark, probe, root, cmd)
          case "codec" => codec(cmd("path").toString)
          case "ingest_layers" => ingestLayers(spark, root, workDir, cmd("container").toString)
          case "table_bytes" => Map("bytes" -> dirBytes(Paths.get(root, "logs"), ".parquet"),
            "files" -> dirFiles(Paths.get(root, "logs"), ".parquet"))
          case "staging" => staging(Paths.get(root, "staging"))
          case "skipped" => Map("skipped" -> IngestMetrics.skippedFrames(spark).value.longValue)
          case "gauges" => gauges()
          case "quit" =>
            running = false
            server.stop()
            graft.stopAll()
            Map("ok" -> true)
          case other => Map("error" -> s"unknown command $other")
        } catch {
          case NonFatal(e) => Map("error" -> s"${e.getClass.getName}: ${e.getMessage}")
        }
      reply(out, res)
      if (running) line = in.readLine()
    }
    spark.stop()
  }

  private def reply(out: PrintStream, m: Map[String, Any]): Unit =
    out.println(json.writeValueAsString(m))

  private def toScala(n: com.fasterxml.jackson.databind.JsonNode): Any =
    if (n.isObject) n.properties.asScala.map(e => e.getKey -> toScala(e.getValue)).toMap
    else if (n.isArray) n.elements.asScala.map(toScala).toSeq
    else if (n.isNumber) n.doubleValue
    else if (n.isBoolean) n.booleanValue
    else if (n.isNull) null
    else n.asText

  private def ms(fromNanos: Long): Double = (System.nanoTime() - fromNanos) / 1e6

  private def num(v: Any): Double = v match {
    case n: Number => n.doubleValue
    case s: String => s.toDouble
    case other => throw new IllegalArgumentException(s"not a number: $other")
  }

  private def tagged[T](spark: SparkSession, tag: String)(f: => T): T = {
    spark.sparkContext.setLocalProperty(TagKey, tag)
    try f finally spark.sparkContext.setLocalProperty(TagKey, null)
  }

  private def walk(dir: Path, suffix: String): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator.asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(suffix) &&
        !p.toString.contains("/_")).toList
      finally s.close()
    }

  private def dirBytes(dir: Path, suffix: String): Long = walk(dir, suffix).map(Files.size).sum
  private def dirFiles(dir: Path, suffix: String): Int = walk(dir, suffix).size

  // ---- retention ----------------------------------------------------------

  /** One max-lines sweep through the facade (quiesce, sweep, restart). The
    * split between the quiesce and the sweep comes from the streaming
    * listener: every ingest query stops before the sweep and starts after.
    */
  private def cleanup(spark: SparkSession, graft: Graft, probe: Probe, root: String,
      maxLines: Long): Map[String, Any] = {
    val table = Paths.get(root, "logs")
    val before = walk(table, ".parquet").toSet
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val stats = tagged(spark, "retention")(graft.cleanup(None, Some(maxLines)))
    val totalMs = ms(t0)
    val endMs = System.currentTimeMillis()
    val created = walk(table, ".parquet").filterNot(before.contains)
    val (lastStop, firstStart) = probe.streaming.quiesceWindow(startMs, endMs)
    val sweepMs = (for (a <- lastStop; b <- firstStart) yield (b - a).toDouble).getOrElse(totalMs)
    Map("ms" -> totalMs, "sweep_ms" -> sweepMs, "quiesce_ms" -> math.max(0.0, totalMs - sweepMs),
      "dropped" -> stats.dropped, "rewritten" -> stats.rewritten,
      "bytes_rewritten" -> created.map(Files.size).sum, "start_ms" -> startMs, "end_ms" -> endMs)
  }

  // ---- analytics slice ----------------------------------------------------

  /** One pass over the named SparkEntry queries on `dir`, each timed as
    * build → plan → execute. Execution writes the result to `out/<name>`
    * as parquet, where the oracle check reads it after the pass, next to
    * the twins' SQL; scan file counts come from the SQL metrics.
    */
  private def slice(spark: SparkSession, probe: Probe, cmd: Map[String, Any]): Map[String, Any] = {
    val dir = cmd("dir").toString
    val out = cmd("out").toString
    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val errors = mutable.LinkedHashMap.empty[String, String]
    for (name <- cmd("names").asInstanceOf[Seq[Any]].map(_.toString)) {
      val tag = s"query:$name"
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try tagged(spark, tag) {
        val df = SparkEntry.queries(name)(spark, dir)
        val buildMs = ms(t0)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val planMs = ms(t1)
        val t2 = System.nanoTime()
        df.write.mode("overwrite").parquet(s"$out/$name")
        samples += Map("name" -> name, "tag" -> tag, "build_ms" -> buildMs,
          "plan_ms" -> planMs, "exec_ms" -> ms(t2), "total_ms" -> ms(t0),
          "start_ms" -> startMs, "end_ms" -> System.currentTimeMillis())
      } catch {
        case NonFatal(e) => errors(name) = s"${e.getClass.getName}: ${e.getMessage}"
      }
    }
    Files.writeString(Paths.get(out, "oracle_sql.json"), graft.Verify.oracleJson)
    probe.drain()
    Map("samples" -> samples.toSeq, "errors" -> errors.toMap,
      "scan_files" -> probe.scanFilesByTag(spark))
  }

  /** Session warm-up, as graft.Bench does before its passes: the first
    * Spark job of a process pays for class loading and JIT of the core
    * paths; a plain range job and a parquet scan of the smallest fixture
    * table take that cost out of the first timed query.
    */
  private def warmup(spark: SparkSession, dir: String): Map[String, Any] = {
    val t0 = System.nanoTime()
    spark.range(100000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$dir/nation.parquet").write.format("noop").mode("overwrite").save()
    Map("ms" -> ms(t0))
  }

  // ---- in-process reads (traced runs) -------------------------------------

  /** The socket's read mix replayed in-process through Graft.readLogs, each
    * call split into plan, first row and full scan, with the scan's file
    * and row counts from the SQL metrics of the same execution.
    */
  private def reads(graft: Graft, spark: SparkSession, probe: Probe, root: String,
      cmd: Map[String, Any]): Map[String, Any] = {
    val reqs = cmd("requests").asInstanceOf[Seq[Map[String, Any]]]
    val filesTotal = dirFiles(Paths.get(root, "logs"), ".parquet")
    val rows = reqs.zipWithIndex.map { case (r, i) =>
      val tag = s"read:$i"
      val startMs = System.currentTimeMillis()
      tagged(spark, tag) {
        val t0 = System.nanoTime()
        val df = graft.readLogs(Some(r("container").toString),
          r.get("since").map(_.toString), r.get("until").map(_.toString),
          num(r.getOrElse("tail", 0)).toLong)
          .select("seq", "message")
        df.queryExecution.executedPlan
        val planMs = ms(t0)
        val t1 = System.nanoTime()
        val it = df.toLocalIterator()
        var n = 0L
        var firstMs = -1.0
        while (it.hasNext) {
          it.next()
          if (n == 0) firstMs = ms(t1)
          n += 1
        }
        Map("tag" -> tag, "kind" -> r.getOrElse("kind", ""), "plan_ms" -> planMs,
          "first_row_ms" -> firstMs, "scan_ms" -> ms(t1), "rows" -> n,
          "start_ms" -> startMs, "end_ms" -> System.currentTimeMillis())
      }
    }
    probe.drain()
    val scans = probe.scanStatsByTag(spark)
    Map("reads" -> rows.map(r => r ++ scans.getOrElse(r("tag").toString, Map.empty)),
      "files_total" -> filesTotal)
  }

  // ---- codec microbenchmarks ----------------------------------------------

  /** ns per frame of ProtoLogCodec: deframe+decode over the generated
    * framed stream (the ingest side) and frame() over the decoded messages
    * (the ReadLogs side). Median of five rounds after one warm round.
    */
  private def codec(path: String): Map[String, Any] = {
    val bytes = Files.readAllBytes(Paths.get(path))
    val msgs = ProtoLogCodec.deframe(bytes).toArray
    var sink = 0L
    def round(f: () => Unit): Double = { val t = System.nanoTime(); f(); (System.nanoTime() - t).toDouble / msgs.length }
    val decode = () => ProtoLogCodec.deframe(bytes).foreach(m => sink += ProtoLogCodec.decode(m).timeNano)
    val frame = () => msgs.foreach(m => sink += ProtoLogCodec.frame(m).length)
    round(decode); round(frame)
    val d = Seq.fill(5)(round(decode)).sorted
    val f = Seq.fill(5)(round(frame)).sorted
    Map("frames" -> msgs.length, "decode_ns_per_frame" -> d(2),
      "frame_ns_per_frame" -> f(2), "sink" -> (sink & 1))
  }

  // ---- ingest layers over the staged bursts --------------------------------

  /** Re-run the two ingest layers over the bursts the FIFO pump staged for
    * `container`: LogIngest.decodeBurst per burst, then LogIngest.commitBatch
    * of the decoded burst into a scratch table (same projection as the
    * streaming sink). Times are per burst.
    */
  private def ingestLayers(spark: SparkSession, root: String, workDir: Path,
      container: String): Map[String, Any] = {
    import spark.implicits._
    val bursts = walk(Paths.get(root, "staging", container), ".pblog").sortBy(_.toString)
    val scratch = workDir.resolve("layer-table").toString
    val decodeMs = mutable.ArrayBuffer.empty[Double]
    val commitMs = mutable.ArrayBuffer.empty[Double]
    var lines = 0L
    tagged(spark, "ingest_layers") {
      bursts.zipWithIndex.foreach { case (p, i) =>
        val content = Files.readAllBytes(p)
        val t0 = System.nanoTime()
        val rows = LogIngest.decodeBurst(container, content).toVector
        decodeMs += ms(t0)
        lines += rows.size
        val batch = rows.toDS()
          .withColumn("ts", timestamp_micros(expr("ts_nano div 1000")))
          .withColumn("date", expr("date_from_unix_date(cast((ts_nano div 86400000000000) as int))"))
          .select("container_id", "seq", "ts", "ts_nano", "source", "line", "partial",
            "partial_id", "partial_last", "partial_ordinal", "message", "date")
        val t1 = System.nanoTime()
        LogIngest.commitBatch(batch, i.toLong, scratch, namespace = "perfbench")
        commitMs += ms(t1)
      }
    }
    Map("bursts" -> bursts.size, "lines" -> lines,
      "decode_burst_ms" -> decodeMs.toSeq, "commit_batch_ms" -> commitMs.toSeq)
  }

  private def staging(dir: Path): Map[String, Any] = {
    val files = walk(dir, ".pblog")
    Map("bursts" -> files.size, "bytes" -> files.map(Files.size))
  }

  // ---- process gauges -----------------------------------------------------

  private def gauges(): Map[String, Any] = {
    val gcMs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    val codeMb = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap")).map(_.getUsage.getUsed).sum / 1e6
    // graft.Bench's spin gauge: fixed single-thread work, a host-speed probe
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 50000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= (x >>> 33); i += 1
    }
    val spin = (System.nanoTime() - t0) / 1e9
    Map("gc_ms" -> gcMs, "codecache_mb" -> codeMb, "spin_s" -> spin, "sink" -> (x & 1))
  }
}

/** Spark listener: jobs, stages and SQL executions, keyed by the
  * harness's tag (a local property) where the harness set one, plus the
  * ingest queries' StreamingQueryProgress.
  */
final class Probe extends SparkListener {
  final case class Job(id: Int, tag: String, start: Long, stages: Seq[Int]) {
    @volatile var end: Long = -1L
  }
  final case class Stage(id: Int, attempt: Int, job: Int, name: String, details: String,
      tasks: Int, start: Long, end: Long, runMs: Long, cpuMs: Long, shuffleRead: Long,
      shuffleWrite: Long, spill: Long)
  final case class Exec(id: Long, start: Long, details: String, plan: String) {
    @volatile var end: Long = -1L
  }

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val execs = new java.util.concurrent.ConcurrentHashMap[Long, Exec]()
  private val execTag = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  @volatile private var lastEvent = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.tag"))).getOrElse("")
    jobs.put(e.jobId, Job(e.jobId, tag, e.time, e.stageIds))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => if (tag.nonEmpty) execTag.put(id.toLong, tag))
    lastEvent = System.nanoTime()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    lastEvent = System.nanoTime()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = Option(s.taskMetrics)
    stages.add(Stage(s.stageId, s.attemptNumber(), stageJob.getOrDefault(s.stageId, -1), s.name,
      s.details, s.numTasks, s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L),
      m.map(_.executorRunTime).getOrElse(0L), m.map(_.executorCpuTime / 1000000L).getOrElse(0L),
      m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(t => t.memoryBytesSpilled + t.diskBytesSpilled).getOrElse(0L)))
    lastEvent = System.nanoTime()
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execs.put(s.executionId, Exec(s.executionId, s.time, s.details, s.physicalPlanDescription))
      case s: SparkListenerSQLExecutionEnd =>
        Option(execs.get(s.executionId)).foreach(_.end = s.time)
      case _ =>
    }
    lastEvent = System.nanoTime()
  }

  /** Wait until the (asynchronous) listener bus has been quiet for 300 ms. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() - lastEvent < 300000000L && System.nanoTime() < deadline)
      Thread.sleep(50)
  }

  /** The follow loop's poll is the only query the server plans with a
    * `seq > lastSeq` predicate; its SQL execution brackets the poll's
    * planning, listing and shuffle stages.
    */
  private def isFollowPoll(x: Exec): Boolean =
    x.details.contains("LogDriverServer") && x.plan.contains("GreaterThan(seq,")

  /** Sums of SQL scan metrics per tag: files read and rows output by the
    * file scans of every execution the tag's jobs ran under.
    */
  private def scanMetric(spark: SparkSession, execIds: Iterable[Long], metric: String): Long = {
    val store = spark.sharedState.statusStore
    execIds.iterator.map { id =>
      try {
        val values = store.executionMetrics(id)
        store.planGraph(id).allNodes.filter(_.name.startsWith("Scan"))
          .flatMap(_.metrics).filter(_.name == metric)
          .flatMap(m => values.get(m.accumulatorId))
          .map(v => v.replaceAll("[^0-9]", "")).filter(_.nonEmpty).map(_.toLong).sum
      } catch { case NonFatal(_) => 0L }
    }.sum
  }

  private def execsByTag: Map[String, Iterable[Long]] =
    execTag.asScala.toSeq.groupBy(_._2).map { case (t, xs) => t -> xs.map(_._1) }

  def scanFilesByTag(spark: SparkSession): Map[String, Long] =
    execsByTag.map { case (t, ids) => t -> scanMetric(spark, ids, "number of files read") }

  def scanStatsByTag(spark: SparkSession): Map[String, Map[String, Any]] =
    execsByTag.map { case (t, ids) =>
      t -> Map[String, Any]("files_read" -> scanMetric(spark, ids, "number of files read"),
        "rows_scanned" -> scanMetric(spark, ids, "number of output rows"))
    }

  /** Everything recorded with an event time at or after `sinceMs`. */
  def snapshot(sinceMs: Long): Map[String, Any] = {
    drain()
    val js = jobs.values.asScala.filter(_.start >= sinceMs).toSeq.sortBy(_.id)
    val ss = stages.asScala.filter(s => s.start >= sinceMs || s.end >= sinceMs).toSeq
    val polls = execs.values.asScala.filter(x => x.start >= sinceMs && isFollowPoll(x)).toSeq
    Map(
      "jobs" -> js.map(j => Map("id" -> j.id, "tag" -> j.tag, "start" -> j.start,
        "end" -> j.end, "stages" -> j.stages)),
      "stages" -> ss.map(s => Map("id" -> s.id, "attempt" -> s.attempt, "job" -> s.job,
        "name" -> s.name, "memo" -> (s.details.contains("graft.SessionCache") ||
          s.details.contains("graft.plans.FactLayout")),
        "tasks" -> s.tasks, "start" -> s.start, "end" -> s.end, "run_ms" -> s.runMs,
        "cpu_ms" -> s.cpuMs, "shuffle_read" -> s.shuffleRead, "shuffle_write" -> s.shuffleWrite,
        "spill" -> s.spill)),
      "follow_polls" -> polls.map(p => Map("start" -> p.start, "end" -> p.end)),
      "progress" -> streaming.progress(sinceMs))
  }

  /** Ingest StreamingQueryProgress and query start/stop times. */
  object streaming extends StreamingQueryListener {
    private val batches = new ConcurrentLinkedQueue[Map[String, Any]]()
    private val stops = new ConcurrentLinkedQueue[Long]()
    private val starts = new ConcurrentLinkedQueue[Long]()

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      starts.add(System.currentTimeMillis())
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      stops.add(System.currentTimeMillis())
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val lines = Option(p.observedMetrics.get("graft_ingest"))
        .map(_.getAs[Long]("lines")).getOrElse(0L)
      if (lines > 0) {
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val ts = java.time.Instant.parse(p.timestamp).toEpochMilli
        batches.add(Map("ts" -> ts, "end" -> (ts + d.getOrElse("triggerExecution", 0L)),
          "lines" -> lines, "durations" -> d,
          "source" -> p.sources.headOption.map(_.description).getOrElse("")))
      }
    }

    def progress(sinceMs: Long): Seq[Map[String, Any]] =
      batches.asScala.filter(_("ts").asInstanceOf[Long] >= sinceMs).toSeq

    /** (last ingest stop, first ingest restart) inside [from, to]. */
    def quiesceWindow(from: Long, to: Long): (Option[Long], Option[Long]) = {
      Thread.sleep(200) // terminations are delivered asynchronously
      val lastStop = stops.asScala.filter(t => t >= from && t <= to).maxOption
      val firstStart = starts.asScala.filter(t => t >= lastStop.getOrElse(from) && t <= to).minOption
      (lastStop, firstStart)
    }
  }
}
