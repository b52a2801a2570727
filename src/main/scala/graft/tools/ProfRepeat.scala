package graft.tools


/** Noise-robust profiling: run each selected query N times warm, report
  * min/median. Usage: sbt "runMain graft.tools.ProfRepeat <sfDir> <n> <prefix...>"
  */
object ProfRepeat {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val n = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val prefixes = args.drop(2)
    val spark = graft.LocalSession()
    graft.SparkEntry.entry(spark).count() // warm
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (prefixes.isEmpty || prefixes.exists(name.startsWith)) {
        // Partial fixtures (e.g. the documents-only weak-scaling corpora)
        // make some queries unresolvable — report and continue rather than
        // abort the sweep.
        try {
          val times = (0 until n).map { _ =>
            val t0 = System.nanoTime()
            // noop write = full evaluation of every column (see Bench)
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }.sorted
          println(f"$name%-28s min=${times.head}%6.2f med=${times(n / 2)}%6.2f")
        } catch {
          case e: Exception =>
            println(f"$name%-28s ERR ${e.getClass.getSimpleName}")
        }
      }
    }
    spark.stop()
  }
}
