package graft.tools

import org.apache.spark.sql.functions._

/** What does one action cost? range-noop vs scan-noop vs real aggregates. */
object FloorProbe {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.LocalSession()
    def time(tag: String)(f: => Unit): Unit = {
      val ts = (0 until 5).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      println(f"$tag%-34s min=${ts.min}%6.3f med=${ts.sorted.apply(2)}%6.3f")
    }
    graft.SparkEntry.entry(spark).count() // warm
    time("range(1) noop") {
      spark.range(1).write.format("noop").mode("overwrite").save()
    }
    time("range(1e6) noop") {
      spark.range(1000000).write.format("noop").mode("overwrite").save()
    }
    time("orders scan noop") {
      graft.Tables.orders(spark, d).write.format("noop").mode("overwrite").save()
    }
    time("orders groupBy count noop") {
      graft.Tables.orders(spark, d).groupBy(col("o_orderpriority"))
        .agg(count(lit(1))).write.format("noop").mode("overwrite").save()
    }
    time("orders percentile x2 noop") {
      graft.Tables.orders(spark, d).groupBy(col("o_orderpriority"))
        .agg(expr("percentile(o_totalprice, 0.5)"),
          expr("percentile(o_totalprice, 0.95)"))
        .write.format("noop").mode("overwrite").save()
    }
    time("orders approx_percentile x2 noop") {
      graft.Tables.orders(spark, d).groupBy(col("o_orderpriority"))
        .agg(expr("approx_percentile(o_totalprice, 0.5, 1000)"),
          expr("approx_percentile(o_totalprice, 0.95, 1000)"))
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
