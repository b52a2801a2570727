package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.streaming.{IngestMetrics, LogIngest}

/** RFC 5424 syslog backfill source: third wire format into the shared log
  * table — parse fidelity (PRI split, ns timestamps, structured-data
  * skipping), severity-as-source mapping, corrupt-line counting, shared
  * sink e2e.
  */
class SyslogLogSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft-syslog").toString

  test("RFC 5424 lines parse with PRI split, ns fidelity, SD skipping") {
    // facility 20 (local4), severity 3 (err): PRI = 20*8+3 = 163
    val rows = SyslogLog.decodeBurst("c1", Seq(
      """<163>1 2024-01-02T03:04:05.123456789Z host1 myapp 4242 ID47 - disk failing""",
      // structured data with a space and escaped ] inside a value
      """<165>1 2024-01-02T03:04:05.123456999Z host1 myapp 4242 ID48 [ex@123 k="v w" q="a\]b"] after sd""",
      """<14>1 2024-01-02T03:04:06Z host2 cron 7 MID9 - - job done""")
      .mkString("\n").getBytes("UTF-8")).toSeq

    assert(rows.length === 3)
    val ts0 = java.time.Instant.parse("2024-01-02T03:04:05.123456789Z")
    assert(rows(0).ts_nano === ts0.getEpochSecond * 1000000000L + 123456789L)
    assert(rows(1).ts_nano - rows(0).ts_nano === 210L) // ns precision kept
    assert(rows(0).source === "err")     // severity 163 % 8 = 3
    assert(rows(1).source === "notice")  // 165 % 8 = 5
    assert(rows(2).source === "info")    // 14 % 8 = 6
    assert(rows(0).line === "myapp[4242]: disk failing\n")
    assert(rows(1).line === "myapp[4242]: after sd\n")
    // a msg that itself begins with '-' survives the SD-nilvalue strip
    assert(rows(2).line === "cron[7]: - job done\n")
    // seq strictly monotone when the µs clock doesn't advance
    assert(rows.map(_.seq) === rows.map(_.seq).sorted)
    assert(rows.map(_.seq).distinct.length === 3)
  }

  test("corrupt lines are rejected structurally, not crashed on") {
    val bad = Seq(
      "no pri at all",
      "<9999>1 2024-01-02T03:04:05Z h a p m - x",      // PRI too long
      "<163>0 2024-01-02T03:04:05Z h a p m - x",       // bad version
      "<163>1 not-a-timestamp h a p m - x",
      "<163>1 2024-01-02T03:04:05Z h a p m [unclosed x", // SD never closes
      "<163>1 2024-01-02T03:04:05Z h a p m §garbage x")  // SD neither - nor [
    assert(SyslogLog.decodeBurst("c1", bad.mkString("\n").getBytes("UTF-8")).isEmpty)
  }

  test("backfill end-to-end into the shared table with severity slicing") {
    val (staging, table, ckpt) = (tmp(), tmp() + "/logs", tmp() + "/ckpt")
    val dir = Paths.get(staging, "cs")
    Files.createDirectories(dir)
    val lines = (0 until 12).map { i =>
      val sev = if (i % 4 == 0) 3 else 6 // every 4th is err
      s"<${8 * 16 + sev}>1 2024-03-02T11:00:${"%02d".format(i)}Z host app $i MID$i - msg $i"
    } :+ "corrupt line"
    Files.write(dir.resolve("b0.log"), lines.mkString("\n").getBytes("UTF-8"))

    val skippedBefore = IngestMetrics.skippedFrames(spark).value
    val q = LogIngest.start(spark, staging, table, ckpt, Trigger.AvailableNow(),
      glob = "*.log", decode = SyslogLog.decodeBurst)
    q.awaitTermination(60000)

    val df = LogIngest.table(spark, table)
    assert(df.where(col("container_id") === "cs").count() === 12)
    assert(df.where(col("container_id") === "cs" && col("source") === "err")
      .count() === 3)
    assert(IngestMetrics.skippedFrames(spark).value - skippedBefore === 1)
    assert(Files.isDirectory(Paths.get(table, "container_id=cs")))
  }
}
