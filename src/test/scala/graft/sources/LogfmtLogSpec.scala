package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.streaming.{IngestMetrics, LogIngest}

/** logfmt backfill source: fourth wire format into the shared log table —
  * key=value parse fidelity (quoted values, escapes, ns timestamps),
  * level-as-source mapping, corrupt-line counting, shared sink e2e.
  */
class LogfmtLogSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft-logfmt").toString

  test("logfmt lines parse with quoting, escapes, ns fidelity, level default") {
    val rows = LogfmtLog.decodeBurst("c1", Seq(
      """ts=2024-01-02T03:04:05.123456789Z level=error msg="disk failing" disk=sda1""",
      // quoted value with spaces and an escaped quote; `time` as ts key
      """time=2024-01-02T03:04:05.123456999Z level=WARN msg="say \"hi\" now"""",
      // no level → info; bare values only
      """ts=2024-01-02T03:04:06Z msg=ok n=42""")
      .mkString("\n").getBytes("UTF-8")).toSeq

    assert(rows.length === 3)
    val ts0 = java.time.Instant.parse("2024-01-02T03:04:05.123456789Z")
    assert(rows(0).ts_nano === ts0.getEpochSecond * 1000000000L + 123456789L)
    assert(rows(1).ts_nano - rows(0).ts_nano === 210L) // ns precision kept
    assert(rows(0).source === "error")
    assert(rows(1).source === "warn") // lowercased
    assert(rows(2).source === "info") // default
    // raw line stored verbatim + newline (payload keys survive)
    assert(rows(0).line.endsWith("disk=sda1\n"))
    assert(rows(1).line.contains("""msg="say \"hi\" now""""))
    // kv parse itself: quoted value decoded with escapes applied
    val kvs = LogfmtLog.parseKvs("""a=1 b="x y" c="q\"z" d=""").get.toMap
    assert(kvs === Map("a" -> "1", "b" -> "x y", "c" -> "q\"z", "d" -> ""))
    // seq strictly monotone when the µs clock doesn't advance
    assert(rows.map(_.seq) === rows.map(_.seq).sorted)
    assert(rows.map(_.seq).distinct.length === 3)
  }

  test("corrupt lines are rejected structurally, not crashed on") {
    val bad = Seq(
      "no equals anywhere",                          // bare token
      "=v ts=2024-01-02T03:04:05Z",                  // empty key
      """ts=2024-01-02T03:04:05Z msg="unclosed""",   // unterminated quote
      "level=info msg=ok",                           // no timestamp key
      "ts=not-a-time msg=ok")                        // unparseable timestamp
    assert(LogfmtLog.decodeBurst("c1", bad.mkString("\n").getBytes("UTF-8")).isEmpty)
  }

  test("backfill end-to-end into the shared table with level slicing") {
    val (staging, table, ckpt) = (tmp(), tmp() + "/logs", tmp() + "/ckpt")
    val dir = Paths.get(staging, "cf")
    Files.createDirectories(dir)
    val lines = (0 until 12).map { i =>
      val lvl = if (i % 4 == 0) "error" else "info"
      f"ts=2024-03-02T12:00:$i%02dZ level=$lvl msg=\"step $i\" n=$i"
    } :+ "corrupt line"
    Files.write(dir.resolve("b0.log"), lines.mkString("\n").getBytes("UTF-8"))

    val skippedBefore = IngestMetrics.skippedFrames(spark).value
    val q = LogIngest.start(spark, staging, table, ckpt, Trigger.AvailableNow(),
      glob = "*.log", decode = LogfmtLog.decodeBurst)
    q.awaitTermination(60000)

    val df = LogIngest.table(spark, table)
    assert(df.where(col("container_id") === "cf").count() === 12)
    assert(df.where(col("container_id") === "cf" && col("source") === "error")
      .count() === 3)
    assert(IngestMetrics.skippedFrames(spark).value - skippedBefore === 1)
    assert(Files.isDirectory(Paths.get(table, "container_id=cf")))
  }
}
