package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.streaming.Trigger

import graft.functions.ProtoLogCodec
import graft.functions.ProtoLogCodec.LogEntry
import graft.streaming.LogIngest

/** Ingest throughput: N framed LogEntry lines across C containers →
  * partitioned parquet via the streaming path. Prints lines/s (the
  * reference's self-metric, logsqlite src/logger.rs:187-196) and the
  * table's parquet bytes per staged framed byte. Runs on
  * [[graft.LocalSession]] (host-sized).
  * Usage: sbt "runMain graft.tools.IngestBench [lines] [containers]"
  */
object IngestBench {
  def main(args: Array[String]): Unit = {
    val totalLines = args.headOption.map(_.toInt).getOrElse(1000000)
    val containers = args.drop(1).headOption.map(_.toInt).getOrElse(8)
    val spark = graft.LocalSession()

    val base = Files.createTempDirectory("graft-ibench").toString
    val (staging, table, ckpt) = (s"$base/staging", s"$base/logs", s"$base/ckpt")
    val t0nano = 1700000000000000000L
    val perC = totalLines / containers
    val burstsPerC = 8
    val perBurst = perC / burstsPerC
    println(s"[ingest-bench] generating $totalLines lines / $containers containers ...")
    val genStart = System.nanoTime()
    (0 until containers).foreach { c =>
      val dir = Paths.get(staging, s"c$c"); Files.createDirectories(dir)
      (0 until burstsPerC).foreach { b =>
        val out = new java.io.ByteArrayOutputStream(perBurst * 64)
        (0 until perBurst).foreach { i =>
          val idx = b * perBurst + i
          out.write(ProtoLogCodec.frame(ProtoLogCodec.encode(LogEntry(
            if (idx % 2 == 0) "stdout" else "stderr",
            t0nano + idx * 1000000L,
            s"2024-01-01T00:00:00Z level=info msg=request-completed id=$idx latency=${idx % 97}ms".getBytes("UTF-8"),
            partial = false, None))))
        }
        Files.write(dir.resolve(f"b$b%03d.pblog"), out.toByteArray)
      }
    }
    println(f"[ingest-bench] staged in ${(System.nanoTime() - genStart) / 1e9}%.1f s")

    val t0 = System.nanoTime()
    LogIngest.start(spark, staging, table, ckpt, Trigger.AvailableNow())
      .awaitTermination(600000)
    val dt = (System.nanoTime() - t0) / 1e9
    val n = LogIngest.table(spark, table).count()
    def bytes(dir: String, suffix: String): Long = {
      val files = Files.walk(Paths.get(dir))
      try files.filter(_.toString.endsWith(suffix)).mapToLong(Files.size(_)).sum
      finally files.close()
    }
    val ratio = bytes(table, ".parquet").toDouble / bytes(staging, ".pblog")
    println(f"[ingest-bench] ingested $n lines in $dt%.2f s = ${n / dt}%.0f lines/s, " +
      f"$ratio%.4f parquet bytes per staged framed byte")
    spark.stop()
  }
}
