package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.functions.ProtoLogCodec
import graft.functions.ProtoLogCodec.LogEntry
import graft.streaming.{IngestMetrics, LogIngest}

/** Docker json-file backfill source: same table, same invariants as the
  * framed-protobuf path — ns timestamp fidelity, newline normalization,
  * partial detection, monotone seq, corrupt-line counting.
  */
class JsonFileLogSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft-jsonfile").toString

  private def writeLog(staging: String, container: String, name: String,
      lines: Seq[String]): Unit = {
    val dir = Paths.get(staging, container)
    Files.createDirectories(dir)
    Files.write(dir.resolve(s"$name.log"), lines.mkString("\n").getBytes("UTF-8"))
  }

  test("json-file burst decodes with ns fidelity and storage invariants") {
    val rows = JsonFileLog.decodeBurst("c1", Seq(
      """{"log":"hello\n","stream":"stdout","time":"2024-01-02T03:04:05.123456789Z"}""",
      // same µs, later ns → distinct ts_nano, seq must still advance
      """{"log":"world\n","stream":"stderr","time":"2024-01-02T03:04:05.123456999Z"}""",
      // unterminated chunk = partial line
      """{"log":"chunk","stream":"stdout","time":"2024-01-02T03:04:06Z"}""")
      .mkString("\n").getBytes("UTF-8")).toSeq

    assert(rows.length == 3)
    val ts0 = java.time.Instant.parse("2024-01-02T03:04:05.123456789Z")
    assert(rows(0).ts_nano == ts0.getEpochSecond * 1000000000L + 123456789L)
    assert(rows(1).ts_nano - rows(0).ts_nano == 210L) // full ns precision kept
    assert(rows(0).source == "stdout" && rows(1).source == "stderr")
    assert(rows.forall(_.line.endsWith("\n")))
    assert(!rows(0).partial && !rows(1).partial && rows(2).partial)
    assert(rows(2).line == "chunk\n")
    // seq strictly monotone even when µs clock doesn't advance
    assert(rows.map(_.seq) == rows.map(_.seq).sorted &&
      rows.map(_.seq).distinct.length == 3)
    // no row stores a frame: the columns rebuild the normalized entry's
    assert(rows.forall(_.message == null))
    val frames = rows.map(r =>
      LogIngest.frameOf(r.source, r.ts_nano, r.line.getBytes("UTF-8"), r.partial, null, null, null))
    val d = ProtoLogCodec.decode(frames(0))
    assert(new String(d.line, "UTF-8") == "hello\n" && d.timeNano == rows(0).ts_nano)
    assert(frames(2).toSeq == ProtoLogCodec.encode(LogEntry("stdout", rows(2).ts_nano,
      "chunk\n".getBytes("UTF-8"), partial = true, None)).toSeq)
  }

  test("backfill end-to-end into the shared table; corrupt lines counted") {
    val (staging, table, ckpt) = (tmp(), tmp() + "/logs", tmp() + "/ckpt")
    val ts = (0 until 20).map(i => f"2024-03-01T10:00:$i%02dZ")
    writeLog(staging, "cj", "b0",
      ts.take(10).zipWithIndex.map { case (t, i) =>
        s"""{"log":"m$i\\n","stream":"stdout","time":"$t"}"""
      } :+ """not json at all""")
    writeLog(staging, "ck", "b0",
      ts.drop(10).zipWithIndex.map { case (t, i) =>
        s"""{"log":"k$i\\n","stream":"stdout","time":"$t"}"""
      })

    val skippedBefore = IngestMetrics.skippedFrames(spark).value
    val q = LogIngest.start(spark, staging, table, ckpt, Trigger.AvailableNow(),
      glob = "*.log", decode = JsonFileLog.decodeBurst)
    q.awaitTermination(60000)

    val df = LogIngest.table(spark, table)
    assert(df.count() == 20)
    assert(Files.isDirectory(Paths.get(table, "container_id=cj")))
    val cj = df.where(col("container_id") === "cj").orderBy("seq").collect()
    assert(cj.length == 10)
    assert(cj.head.getAs[String]("line") == "m0\n")
    // served frame = the normalized entry's, byte-for-byte; none is stored
    assert(cj.head.getAs[Array[Byte]]("message").toSeq == ProtoLogCodec.encode(LogEntry(
      "stdout", cj.head.getAs[Long]("ts_nano"), "m0\n".getBytes("UTF-8"),
      partial = false, None)).toSeq)
    assert(LogIngest.storedTable(spark, table).where(col("message").isNotNull).count() == 0)
    assert(IngestMetrics.skippedFrames(spark).value - skippedBefore == 1)
    // date partition column derives from ts_nano (retention-droppable)
    assert(df.select("date").distinct().collect()
      .map(_.getDate(0).toString).toSet == Set("2024-03-01"))
  }
}
