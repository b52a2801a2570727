package graft.tools


/** Print formatted physical plans for selected queries (plan audit:
  * PushedFilters / ReadSchema / broadcast / WholeStageCodegen spans).
  * Usage: sbt "runMain graft.tools.Explain q_log_range q_rel_revenue_by_nation"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq else Seq("q_log_range")
    val spark = graft.LocalSession()
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      graft.SparkEntry.queries(n)(spark, d).explain("formatted")
    }
    spark.stop()
  }
}
