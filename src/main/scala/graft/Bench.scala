package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Benchmark main (driver contract): one JSON line of per-query seconds.
  *
  * Each query is timed `SPARK_GRAFT_RUNS` times (default 6) and reports the
  * MIN — the local[32] host shows 20–40s run-to-run noise on the full
  * suite, so a single sample conflates operator cost with host jitter.
  * Passes are INTERLEAVED (suite × runs) and the default is SIX of them
  * (VERDICT r12 #2): min-of-3 was measurably poisonable — one multi-second
  * contention window swallowed all three samples of a query (q14 read
  * 3.14 s min-of-3 inside one window, 0.94 s alone minutes later), and two
  * consecutive rounds re-litigated "regressions" that were host spikes.
  * The sidecar also carries the raw per-pass `samples` for every query and
  * the per-pass `floor_passes` gauges, so an outlier min is adjudicable
  * from the artifact alone: a query whose every sample landed in passes
  * with elevated bare/spin floors is a host spike, not a regression. The
  * first run of the first query also absorbs JVM/codegen warmup; the JSON
  * carries the run count for honesty.
  *
  * The sidecar's `layers` split every sample, index-aligned with
  * `samples`: build (`fn(spark, sfDir)`) and exec (the noop write)
  * seconds, and the jobs, stages, tasks, executor run and CPU ms, shuffle
  * bytes and spill of the pass's Spark jobs. Each pass runs under a local
  * property naming it, which its jobs (broadcasts, subqueries and memo
  * builds included) carry to one listener; the listener bus drains once,
  * at `spark.stop()`, so the timed loop waits on nothing.
  *
  * Fail-loud (VERDICT r4 #3): a throwing query is reported under "errors"
  * with its message and EXCLUDED from the per-query map and the total —
  * r4's swallow-and-time-zero let a broken query *improve* the bench.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", LocalSession.cores.toString)
    val aqe = sys.env.getOrElse("SPARK_GRAFT_AQE", "true")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "6").toInt
    val spark = LocalSession(
      "spark.sql.shuffle.partitions" -> shuffle, "spark.sql.adaptive.enabled" -> aqe)
    val work = new QueryWork
    spark.sparkContext.addSparkListener(work)
    // warm the JVM + parquet reader once so timings measure queries, not
    // class-loading (same treatment for every query; tiny sf0.001 input).
    // Inside try/catch: r7's fixture-schema drift crashed this line and
    // zeroed the whole round's bench artifact (rc=1, no sidecar, no compact
    // line). A broken flagship costs warmup accuracy, never the artifact.
    try SparkEntry.entry(spark).count()
    catch { case e: Throwable => System.err.println(s"warmup failed (continuing): $e") }
    // INTERLEAVED passes (suite × runs, not query × runs): the host shows
    // spiky multi-second contention windows; three back-to-back samples of
    // one query all land in the same window and the min is still poisoned.
    // Spreading a query's samples across full-suite passes decorrelates
    // them from any single noise burst — same work, better estimator.
    // optional comma-separated filter (scale studies time a subset; the
    // driver leaves it unset and times everything)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.toSeq
      .filter(n => only.forall(_.contains(n)))
    val best = scala.collection.mutable.Map[String, Double]()
    val errors = scala.collection.mutable.Map[String, String]()
    // raw per-pass samples (sidecar only): the self-adjudication data —
    // outlier mins are checked against the floor gauges of their own passes
    val samples = scala.collection.mutable.Map[String, Vector[Double]]()
    // (build, exec) seconds per pass, index-aligned with samples
    val splits = scala.collection.mutable.Map[String, Vector[(Double, Double)]]()
    val floorPasses = scala.collection.mutable.Map[String, Vector[Double]]()
    // Per-query fixed-cost floor, measured INSIDE this window (VERDICT r10
    // #7: the driver window showed a ~0.5 s/query floor vs the builder's
    // 0.08–0.12 s, and the delta was unattributable after the fact). Two
    // probes, min over the same interleaved passes as the queries:
    //   bare — plan+launch one 32-task stage into the noop sink;
    //   scan — the same plus the smallest parquet scan of the fixture set.
    // Subtracting these turns cross-window per-query comparisons into
    // like-for-like operator costs.
    val floor = scala.collection.mutable.Map[String, Double]()
    def probeFloor(): Unit = {
      for ((key, mk) <- Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "bare" -> (() => spark.range(1000).toDF("i")),
        "scan" -> (() => spark.read.parquet(s"$sfDir/nation.parquet")))) {
        val t0 = System.nanoTime()
        try {
          mk().write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          if (dt < floor.getOrElse(key, Double.MaxValue)) floor(key) = dt
          floorPasses(key) = floorPasses.getOrElse(key, Vector()) :+ dt
        } catch { case _: Throwable => () } // floor is advisory, never fatal
      }
      // `spin` — fixed single-thread CPU work (50M LCG steps): a pure
      // host-speed gauge. Cross-window bench totals are only comparable
      // when spins match (this session measured the SAME suite 84 s vs
      // 145 s across windows whose spin-equivalent differed ~1.6× — VM
      // throttling, not regressions; PERF_r11 §10).
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L; var i = 0
      while (i < 50000000) {
        x = x * 6364136223846793005L + 1442695040888963407L
        x ^= (x >>> 33); i += 1
      }
      if (x == 42L) System.err.print("") // defeat dead-code elimination
      val dt = (System.nanoTime() - t0) / 1e9
      if (dt < floor.getOrElse("spin", Double.MaxValue)) floor("spin") = dt
      floorPasses("spin") = floorPasses.getOrElse("spin", Vector()) :+ dt
    }
    // Wall-clock budget: 6 passes is the default estimator, but a badly
    // throttled window must degrade to fewer passes, never to a killed
    // process and a lost artifact. Passes beyond the second stop starting
    // once the budget is spent; `floor_passes`/`samples` lengths and the
    // `passes_done` gauge record what actually ran.
    val maxSecs = sys.env.getOrElse("SPARK_GRAFT_MAX_SECS", "2400").toDouble
    val bench0 = System.nanoTime()
    var passesDone = 0
    for (pass <- 0 until runs
         if pass < 2 || (System.nanoTime() - bench0) / 1e9 < maxSecs) {
      passesDone += 1
      for (name <- "__floor__" +: names) {
      if (name == "__floor__") { probeFloor() } else {
      val fn = SparkEntry.queries(name)
      spark.sparkContext.setLocalProperty(QueryWork.Key, s"$pass $name")
      val t0 = System.nanoTime()
      var t1 = -1L
      try {
        // noop write, not count(): under count() column pruning deletes the
        // entire projection of a map-only query (regex redaction, chunk
        // fingerprints, ...), so its timing measured parquet row-count
        // metadata instead of the operator — flat at x10 data in the
        // weak-scaling study while the DuckDB twin (fetchall) paid full
        // price. The noop sink executes every column of every row and
        // keeps the final sort, matching what the twin measures.
        val df = fn(spark, sfDir)
        t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        val dt = (t2 - t0) / 1e9
        if (dt < best.getOrElse(name, Double.MaxValue)) best(name) = dt
        samples(name) = samples.getOrElse(name, Vector()) :+ dt
        splits(name) = splits.getOrElse(name, Vector()) :+ (((t1 - t0) / 1e9, (t2 - t1) / 1e9))
      } catch {
        case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
          // placeholder keeps samples index-aligned with floor_passes for
          // intermittently-erroring queries (ADVICE r13): the adjudication
          // rule "same pass index = same window" breaks if errored passes
          // silently compact the vector. -1 is unambiguous (real samples
          // are positive) and stays valid JSON, unlike NaN.
          samples(name) = samples.getOrElse(name, Vector()) :+ -1.0
          splits(name) = splits.getOrElse(name, Vector()) :+
            ((if (t1 < 0) -1.0 else (t1 - t0) / 1e9, -1.0))
      } finally spark.sparkContext.setLocalProperty(QueryWork.Key, null)
      }
      }
    }
    // passes_done rides its own top-level field (ADVICE r13): stuffing the
    // counter into the floor map mixed a count with seconds-valued gauges
    // and poisoned any min/ratio tooling iterating floor entries as timings.
    // JIT code-cache occupancy at end of run (MB): the 236-query suite
    // generates enough codegen classes to exhaust the JVM's default
    // 240 MB reserved cache, after which stages run INTERPRETED at
    // uniform 10–20× (PERF_r11 §10 — the r10 driver-window floor
    // suspect). build.sbt reserves 1g; this gauge proves headroom in
    // whatever window the bench ran.
    try {
      import scala.jdk.CollectionConverters._
      val used = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
        .asScala.filter(_.getName.startsWith("CodeHeap"))
        .map(_.getUsage.getUsed).sum
      floor("ccache_used_mb") = math.round(used / 1e4) / 100.0
    } catch { case _: Throwable => () }
    // bucketed-layout build report (VERDICT r11 #1): which path the
    // fact-fact family ran in THIS window — built/reused/fell-back, with
    // build seconds — so a slow q21 is attributable from the artifact
    // alone instead of re-litigated across rounds.
    val layout =
      try graft.plans.FactLayout.report(spark)
      catch { case _: Throwable => Map.empty[String, String] }
    spark.stop() // drains the listener bus: `work` is complete from here
    val layers = splits.map { case (name, ps) =>
      name -> ps.zipWithIndex.map { case ((b, e), pass) =>
        BenchFormat.Pass(b, e, work(s"$pass $name")) }
    }.toMap
    // The harness keeps only the last ~2000 chars of stdout and parses the
    // JSON line out of that window. At 148 queries the full per-query map is
    // ~4.5 KB — it can never fit, which is why every BENCH_r0N through r4
    // came back parsed:null. Split contract (formatting + bounds live in
    // BenchFormat, locked by BenchFormatSpec): the FULL map goes to a
    // sidecar file (BENCH_local.json in the cwd — committed per round as
    // BENCH_r0N_local.json), stdout carries a compact line that always fits.
    val bestMap = best.toMap
    val errMap = errors.toMap
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_local.json")
    // "full" points at the sidecar only if this run actually wrote it —
    // otherwise a stale file from a previous run could be read as this
    // round's results (ADVICE r7)
    val fullField =
      try {
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outPath),
          (BenchFormat.fullLine(bestMap, errMap, sfDir, runs, floor.toMap, layout,
            samples.toMap, floorPasses.toMap, passesDone, layers) + "\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        BenchFormat.jstrFull(outPath)
      } catch {
        case e: Throwable =>
          System.err.println(s"bench sidecar write failed: $e"); "null"
      }
    // rc stays 0 — the driver still needs to parse the JSON line; the
    // "errors" object (non-empty = red) is the loud part
    println(BenchFormat.compactLine(bestMap, errMap, sfDir, runs, fullField,
      floor.toMap, layout, passesDone))
  }
}

/** The Spark work of each timed pass: jobs, and the stages, tasks,
  * executor run and CPU ms, shuffle read and write bytes and spill of
  * their completed stages, summed per value of the [[QueryWork.Key]] local
  * property the jobs were submitted under (in [[BenchFormat.WorkNames]]
  * order). Listener events arrive on the bus thread; read after the bus
  * has drained.
  */
private final class QueryWork extends SparkListener {
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val sums = new ConcurrentHashMap[String, Array[Long]]()

  private def add(key: String, values: Long*): Unit = {
    val a = sums.computeIfAbsent(key, _ => new Array[Long](BenchFormat.WorkNames.size))
    values.indices.foreach(i => a(i) += values(i))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(QueryWork.Key))).foreach { key =>
      add(key, 1)
      e.stageIds.foreach(stageKey.put(_, key))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    for (key <- Option(stageKey.get(s.stageId)); m <- Option(s.taskMetrics))
      add(key, 0, 1, s.numTasks, m.executorRunTime, m.executorCpuTime / 1000000L,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  /** The sums for `key`, zeros when none of its jobs ran. */
  def apply(key: String): Seq[Long] =
    Option(sums.get(key)).fold(Seq.fill(BenchFormat.WorkNames.size)(0L))(_.toSeq)
}

private object QueryWork {
  /** The local property naming a timed pass: `"<pass> <query>"`. */
  val Key = "graft.bench.pass"
}
