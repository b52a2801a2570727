package graft.tools


/** Dev probe: print a registered query's AQE-final executed plan and
  * per-run wall times under the exact `graft.Bench` session settings.
  *
  * Usage: runMain graft.tools.PlanProbe <queryName> [sfDir] [runs]
  *
  * This is the measurement half of the plan-audit loop ("explain, then
  * iterate until it's the plan you'd want"): `graft.Bench` gives the
  * number, this gives the WHY — which exchanges/sorts survived AQE, what
  * the scans pushed, whether a layout (bucketed table, IVF index) was
  * actually picked up.
  */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 3
    val spark = graft.LocalSession()
    val fn = graft.SparkEntry.queries(name)
    for (i <- 1 to runs) {
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val tPlan = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val tExec = System.nanoTime()
      println(f"[probe] $name run $i: build=${(tPlan - t0) / 1e9}%.3f s " +
        f"exec=${(tExec - tPlan) / 1e9}%.3f s")
      if (i == runs) println(df.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
