package graft.tools


/** Dump `.explain("formatted")` for selected queries to files — the
  * committed before/after plan evidence for optimization rounds
  * (plans/rNN/<query>_<tag>.txt). Uses the `graft.Bench` session
  * settings, and executes each query through the frame's own
  * QueryExecution first, so the file shows AQE's final plan
  * (`AdaptiveSparkPlan isFinalPlan=true`) above its initial one; a
  * `df.write` would plan again under its own QueryExecution and leave the
  * frame's plan initial. Per-query timings and Spark work are
  * `graft.Bench`'s sidecar (`samples`, `layers`).
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <tag> <q1,q2,...> [sfDir]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "PlanDump <outDir> <tag> <q1,q2,...> [sfDir]")
    val outDir = args(0)
    val tag = args(1)
    val names = args(2).split(",").toSeq
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = graft.LocalSession()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names) {
      val qe = graft.SparkEntry.queries(name)(spark, sfDir).queryExecution
      qe.toRdd.count()
      val txt = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[plandump] wrote $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
