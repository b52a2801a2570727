package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.Graft
import graft.functions.ProtoLogCodec
import graft.functions.ProtoLogCodec.LogEntry
import graft.operators.LogOps
import graft.streaming.LogIngest

/** Runnable demo of the full reference lifecycle: framed-protobuf bursts →
  * streaming ingest → range/tail read → retention sweep.
  * Usage: sbt "runMain graft.tools.IngestDemo"
  */
object IngestDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSession()

    val base = Files.createTempDirectory("graft-demo").toString
    val (staging, table) = (s"$base/staging", s"$base/logs")
    val t0 = 1700000000000000000L

    // two containers' bursts land in staging (what a FIFO shipper produces)
    for ((c, n) <- Seq("web-1" -> 120, "db-1" -> 40)) {
      val dir = Paths.get(staging, c); Files.createDirectories(dir)
      val bytes = (0 until n).map { i =>
        ProtoLogCodec.frame(ProtoLogCodec.encode(LogEntry(
          if (i % 2 == 0) "stdout" else "stderr", t0 + i * 1000000000L,
          s"[$c] event $i".getBytes("UTF-8"), partial = false, None)))
      }.foldLeft(Array.emptyByteArray)(_ ++ _)
      Files.write(dir.resolve("burst0.pblog"), bytes)
    }

    val g = Graft(spark, base)
    Seq("web-1", "db-1").foreach(c => g.startLogging(c).foreach(_.processAllAvailable()))
    val df = LogIngest.table(spark, table)
    println(s"[demo] ingested rows = ${df.count()} (expect 160)")
    df.groupBy("container_id").count().show()

    // docker logs --since ... --tail 5 on web-1
    val req = LogOps.normalize(None, Some(
      java.time.Instant.ofEpochSecond(0, t0 + 60 * 1000000000L).toString),
      None, tail = 5, follow = false)
    val read = LogOps.readRange(
      df.where(col("container_id") === "web-1"), "container_id", "seq", "ts_nano", req,
      datePartCol = Some("date"))
    println("[demo] tail 5 since t0+60s of web-1:")
    read.select("seq", "source", "line").show(truncate = false)

    // retention: keep 20 newest lines per container
    val stats = g.cleanup(age = None, maxLines = Some(20L))
    val after = LogIngest.table(spark, table)
    println(s"[demo] retention dropped ${stats.dropped} / rewrote ${stats.rewritten} " +
      s"partitions; rows now = ${after.count()} (expect 40)")

    g.stopAll()
    spark.stop()
  }
}
