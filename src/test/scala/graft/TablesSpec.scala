package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.functions._

/** The footer fact [[Tables.widen]] reads, and the rule it applies, over
  * generated tables of 20k rows: `one`, a single file of one row group,
  * and `parts`, a directory of part files with more row groups than cores.
  */
class TablesSpec extends SparkSpec {

  private val rows = 20000L
  private val parts = 5
  private def cores: Int = spark.sparkContext.defaultParallelism

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft-tables").toString
    val gen = spark.range(rows).select(col("id"), (col("id") % 37).as("k"),
      lpad(col("id").cast("string"), 64, "x").as("payload"))
    gen.repartition(parts).write.parquet(s"$d/parts.parquet")
    gen.coalesce(1).write.parquet(s"$d/one")
    val part = Files.list(Paths.get(d, "one")).iterator().asScala
      .find(_.toString.endsWith(".parquet")).get
    Files.move(part, Paths.get(d, "one.parquet"))
    d
  }

  /** Row groups of every file under `path`, read one footer at a time. */
  private def footerRowGroups(path: String): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = Paths.get(path)
    val files =
      if (Files.isDirectory(p)) Files.list(p).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
      else Seq(p)
    files.map { f =>
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toString), conf))
      try rd.getFooter.getBlocks.size finally rd.close()
    }.sum
  }

  private def roundRobins(d: DataFrame): Seq[Int] =
    d.queryExecution.logical.collect { case r: Repartition if r.shuffle => r.numPartitions }

  test("rowGroups: the exact footer count of a single file and of a part-file dir") {
    assert(Tables.rowGroups(spark, dir, "one") === 1)
    assert(Tables.rowGroups(spark, dir, "parts") === parts)
    assert(Tables.rowGroups(spark, dir, "parts") === footerRowGroups(s"$dir/parts.parquet"))
    assert(spark.read.parquet(s"$dir/parts.parquet").count() === rows)
  }

  test("widen: round-robin exactly when the table has fewer row groups than cores") {
    assert(parts >= cores, "the part-file table must scan at least as wide as the cores")
    val one = spark.read.parquet(s"$dir/one.parquet")
    val many = spark.read.parquet(s"$dir/parts.parquet")
    // one row group: widened, whatever columns the frame keeps
    assert(roundRobins(Tables.widen(spark, dir, "one", one)) === Seq(cores))
    assert(roundRobins(Tables.widen(spark, dir, "one", one.select("k"))) === Seq(cores))
    // as many row groups as cores: already wide, left alone
    assert(roundRobins(Tables.widen(spark, dir, "parts", many)).isEmpty)
  }

  test("widen: rows are unchanged") {
    val one = spark.read.parquet(s"$dir/one.parquet")
    val widened = Tables.widen(spark, dir, "one", one)
    assert(roundRobins(widened).nonEmpty)
    assert(widened.orderBy("id").collect().toSeq === one.orderBy("id").collect().toSeq)
  }
}
