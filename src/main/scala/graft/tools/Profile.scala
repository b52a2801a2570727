package graft.tools


/** Dev harness: time individual queries / sub-stages at a given SF.
  * Usage: sbt "runMain graft.tools.Profile [sfDir] [namePrefix...]"
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val prefixes = args.drop(1)
    val spark = graft.LocalSession()
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (prefixes.isEmpty || prefixes.exists(name.startsWith)) {
        val t0 = System.nanoTime()
        val n = try fn(spark, sfDir).count() catch { case e: Throwable =>
          println(s"$name FAILED: ${e.getMessage.take(120)}"); -1L }
        println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
      }
    }
    spark.stop()
  }
}
