package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.functions._

/** Direct coverage of the parquet-footer row count and the width pin it
  * gates, over generated tables of 20k rows.
  */
class TablesSpec extends SparkSpec {

  private val rows = 20000L

  /** A dataset dir holding `one.parquet`, a single file, and
    * `parts.parquet`, a directory of part files, each `rows` rows.
    */
  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft-tables").toString
    val gen = spark.range(rows).select(col("id"), (col("id") % 37).as("k"))
    gen.repartition(5).write.parquet(s"$d/parts.parquet")
    gen.coalesce(1).write.parquet(s"$d/one")
    val part = Files.list(Paths.get(d, "one")).iterator().asScala
      .find(_.toString.endsWith(".parquet")).get
    Files.move(part, Paths.get(d, "one.parquet"))
    d
  }

  private def parquetFiles(path: String): Int =
    Files.list(Paths.get(path)).iterator().asScala.count(_.toString.endsWith(".parquet"))

  test("tableRows is the exact footer count of a single file and of a part-file dir") {
    assert(Files.isRegularFile(Paths.get(dir, "one.parquet")))
    assert(parquetFiles(s"$dir/parts.parquet") > 1)
    assert(Tables.tableRows(spark, dir, "one") === rows)
    assert(Tables.tableRows(spark, dir, "parts") === rows)
  }

  test("widenSmallRows pins a round-robin width from minRows = count, never above; rows unchanged") {
    val df = spark.read.parquet(s"$dir/parts.parquet")
    def widened(minRows: Long): DataFrame = Tables.widenSmallRows(spark, dir, "parts", df, minRows)
    def roundRobins(d: DataFrame): Seq[Int] =
      d.queryExecution.logical.collect { case r: Repartition if r.shuffle => r.numPartitions }
    assert(roundRobins(widened(rows)) === Seq(spark.sparkContext.defaultParallelism))
    assert(roundRobins(widened(rows + 1)).isEmpty)
    def agg(d: DataFrame) =
      d.groupBy("k").agg(count(lit(1)), sum("id")).orderBy("k").collect().toSeq
    assert(agg(widened(rows)) === agg(df))
  }
}
