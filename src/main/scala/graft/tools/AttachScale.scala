package graft.tools

import org.apache.spark.sql.functions._

/** Fixed-batch incremental-attach scaling: time
  * `DedupOps.incrementalClusters` with the SAME 200-doc batch against
  * corpora of different sizes (args = corpus dirs). First call per
  * corpus pays the snapshot build (capped index + pair stats + cluster
  * closure — reported separately); the claim under test is that the
  * WARM attach cost tracks the batch, not the corpus.
  */
object AttachScale {
  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSession()
    // fixed batch: 200 docs from sf0.1, ids shifted clear of any corpus
    val batch = spark.read
      .parquet("/root/testdata/sf0.1/documents.parquet")
      .where(col("doc_id") < 200)
      .select((col("doc_id") + 900000000L).as("doc_id"), col("text"))
      .cache()
    batch.count()
    args.foreach { dir =>
      def run(): Double = {
        val t0 = System.nanoTime()
        graft.operators.DedupOps.incrementalClusters(spark, dir, batch)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val cold = run() // includes the snapshot memo build
      val warm = Seq(run(), run()).min
      println(f"[attach] $dir cold=$cold%7.2f warm=$warm%6.2f")
    }
    spark.stop()
  }
}
