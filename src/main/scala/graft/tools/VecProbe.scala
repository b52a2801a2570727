package graft.tools

import org.apache.spark.sql.functions._

/** One-off probe: stage-level timing of labelOutliers' pieces (r10). */
object VecProbe {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.LocalSession()
    def time[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"$tag%-28s ${(System.nanoTime() - t0) / 1e9}%6.3f s"); r
    }
    // warm
    graft.Tables.embeddings(spark, d).count()
    for (_ <- 0 until 3) {
      time("bare scan count") { graft.Tables.embeddings(spark, d).count() }
      time("bare scan noop") {
        graft.Tables.embeddings(spark, d)
          .write.format("noop").mode("overwrite").save()
      }
      val emb = graft.Tables.embeddings(spark, d)
      val dim = 64
      val cents = emb.groupBy(col("label")).agg(
        round(avg(element_at(col("embedding"), 1).cast("double")), 6).as("c0"),
        (1 until dim).map(i =>
          round(avg(element_at(col("embedding"), i + 1).cast("double")), 6)
            .as(s"c$i")): _*)
      time("centroid agg collect") { cents.collect() }
      time("full labelOutliers") {
        graft.operators.VectorOps.labelOutliers(spark, d)
          .write.format("noop").mode("overwrite").save()
      }
      time("full ivfProbeCurve") {
        graft.operators.VectorOps.ivfProbeCurve(spark, d)
          .write.format("noop").mode("overwrite").save()
      }
    }
    spark.stop()
  }
}
