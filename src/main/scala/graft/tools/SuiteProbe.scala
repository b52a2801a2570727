package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev probe: decompose every registered query's WARM wall time into its
  * fixed-cost components, suite-wide, under the exact `graft.Bench`
  * session settings. The bench says a floor-class query costs 0.8 s where
  * DuckDB pays 0.05; this tells WHERE the 0.8 s sits:
  *
  *   build   — DataFrame construction (operator code, memo lookups)
  *   plan    — analysis/optimization up to executedPlan string (driver)
  *   exec    — the noop-write action wall time, further split into
  *   jobs / stages / tasks — scheduling units launched (AQE: one job per
  *             materialized exchange; every job boundary is a driver
  *             round-trip that local[32] pays serially)
  *   taskSum — total task wall time (work actually distributed)
  *
  * exec − taskSum/cores ≈ scheduling + AQE re-planning + sample jobs —
  * the per-query overhead the floor class is made of.
  *
  * Usage: runMain graft.tools.SuiteProbe [sfDir] [outPath] [onlyCsv]
  * One warm pass (pass 1 untimed), pass 2 recorded. JSON lines to outPath.
  */
object SuiteProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outPath = if (args.length > 1) args(1) else "/tmp/suiteprobe.jsonl"
    val only = if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = graft.LocalSession()
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskNs = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        taskNs.addAndGet(te.taskInfo.duration * 1000000L)
      }
    })
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val out = new java.io.PrintWriter(outPath)
    try SparkEntryWarm.warm(spark, sfDir) catch { case _: Throwable => () }
    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      try {
        // pass 1: warm (builds memos, fills codegen cache)
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        // pass 2: recorded
        Thread.sleep(50)
        jobs.set(0); stages.set(0); tasks.set(0); taskNs.set(0L)
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan // force planning
        val t2 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t3 = System.nanoTime()
        Thread.sleep(100) // let listener events drain
        val line = f"""{"q":"$name","build":${(t1 - t0) / 1e9}%.3f,""" +
          f""""plan":${(t2 - t1) / 1e9}%.3f,"exec":${(t3 - t2) / 1e9}%.3f,""" +
          f""""jobs":${jobs.get},"stages":${stages.get},"tasks":${tasks.get},""" +
          f""""task_sum":${taskNs.get / 1e9}%.3f}"""
        out.println(line); out.flush()
        System.err.println(s"[suiteprobe] $line")
      } catch {
        case e: Throwable =>
          out.println(s"""{"q":"$name","err":"${e.getClass.getName}"}""")
          out.flush()
      }
    }
    out.close()
    spark.stop()
  }
}

/** Warmup shim kept out of the loop so a fixture drift can't kill the run. */
private object SparkEntryWarm {
  def warm(spark: SparkSession, sfDir: String): Unit =
    graft.SparkEntry.entry(spark).count()
}
