package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.streaming.{IngestMetrics, LogIngest}

/** CLF/Combined access-log backfill source: fifth wire format into the
  * shared log table — field parse fidelity (quoted escapes, bracketed
  * timestamp with offset, '-' size), status-class-as-source mapping,
  * structural corrupt rejection, shared sink e2e.
  */
class AccessLogSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft-access").toString

  test("CLF and Combined lines parse; status class maps to source") {
    val rows = AccessLog.decodeBurst("web", Seq(
      // Combined with referer/UA; non-UTC offset; escaped quote in UA
      """203.0.113.7 - alice [10/Oct/2024:13:55:36 -0700] "GET /index.html HTTP/1.1" 200 2326 "http://r.example/" "Mozilla \"X11\""""",
      // Common (no referer/UA); '-' size; 404
      """198.51.100.2 - - [10/Oct/2024:20:55:36 +0000] "HEAD /gone HTTP/1.0" 404 -""",
      // 503 in the same second as the previous line → monotone seq
      """198.51.100.2 - - [10/Oct/2024:20:55:36 +0000] "GET /x HTTP/1.0" 503 17""")
      .mkString("\n").getBytes("UTF-8")).toSeq

    assert(rows.length === 3)
    // -0700 offset: 13:55:36-07:00 == 20:55:36Z
    val utc = java.time.Instant.parse("2024-10-10T20:55:36Z")
    assert(rows(0).ts_nano === utc.getEpochSecond * 1000000000L)
    assert(rows(1).ts_nano === rows(0).ts_nano)
    assert(rows.map(_.source) === Seq("ok", "client_error", "server_error"))
    // raw line survives verbatim (+ newline) for downstream extraction
    assert(rows(0).line.contains("\"GET /index.html HTTP/1.1\""))
    assert(rows(0).line.endsWith("\n"))
    // same-second lines stay strictly ordered
    assert(rows.map(_.seq) === rows.map(_.seq).sorted)
    assert(rows.map(_.seq).distinct.length === 3)

    val rec = AccessLog.parseLine(
      """203.0.113.7 - alice [10/Oct/2024:13:55:36 -0700] "GET /i.html HTTP/1.1" 200 2326 "http://r/" "UA \"q\"""""").get
    assert(rec.host === "203.0.113.7" && rec.user === "alice")
    assert(rec.request === "GET /i.html HTTP/1.1")
    assert(rec.status === 200 && rec.bytes === Some(2326L))
    assert(rec.referer === Some("http://r/") && rec.userAgent === Some("UA \"q\""))
    val common = AccessLog.parseLine(
      """1.2.3.4 - - [10/Oct/2024:00:00:00 +0000] "GET / HTTP/1.0" 301 -""").get
    assert(common.bytes === None && common.referer === None)
    assert(AccessLog.statusClass(301) === "redirect")
  }

  test("corrupt lines are rejected structurally, not crashed on") {
    val bad = Seq(
      "just some text",                                                   // no bracket
      """1.2.3.4 - - [not/a/date:x] "GET / HTTP/1.0" 200 1""",            // bad ts
      """1.2.3.4 - - [10/Oct/2024:00:00:00 +0000] "GET / HTTP/1.0" OK 1""", // status NaN
      """1.2.3.4 - - [10/Oct/2024:00:00:00 +0000] "unclosed 200 1""",     // quote
      """1.2.3.4 - - [10/Oct/2024:00:00:00 "GET / HTTP/1.0" 200 1""",     // bracket
      """1.2.3.4 - - [10/Oct/2024:00:00:00 +0000] "GET / HTTP/1.0" 200 xy""") // size junk
    assert(AccessLog.decodeBurst("web", bad.mkString("\n").getBytes("UTF-8")).isEmpty)
  }

  test("backfill end-to-end into the shared table with status-class slicing") {
    val (staging, table, ckpt) = (tmp(), tmp() + "/logs", tmp() + "/ckpt")
    val dir = Paths.get(staging, "web")
    Files.createDirectories(dir)
    val lines = (0 until 12).map { i =>
      val status = if (i % 4 == 0) 500 else 200
      f"""10.0.0.$i%d - - [02/Mar/2024:12:00:$i%02d +0000] "GET /p$i HTTP/1.1" $status 1024"""
    } :+ "corrupt line"
    Files.write(dir.resolve("b0.log"), lines.mkString("\n").getBytes("UTF-8"))

    val skippedBefore = IngestMetrics.skippedFrames(spark).value
    val q = LogIngest.start(spark, staging, table, ckpt, Trigger.AvailableNow(),
      glob = "*.log", decode = AccessLog.decodeBurst)
    q.awaitTermination(60000)

    val df = LogIngest.table(spark, table)
    assert(df.where(col("container_id") === "web").count() === 12)
    assert(df.where(col("container_id") === "web" &&
      col("source") === "server_error").count() === 3)
    assert(IngestMetrics.skippedFrames(spark).value - skippedBefore === 1)
    assert(Files.isDirectory(Paths.get(table, "container_id=web")))

    // traffic rollup over the stored raw lines (method × status)
    val stats = graft.operators.LogOps.accessStats(df, col("line")).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(stats(("GET", 200)) === ((9L, 9L * 1024L, 9L)))
    assert(stats(("GET", 500)) === ((3L, 3L * 1024L, 3L)))
  }
}
