package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ProtoLogCodec
import graft.functions.ProtoLogCodec.LogEntry
import graft.sources.{AccessLog, JsonFileLog, LogfmtLog, SyslogLog}

/** The seq rule every wire format shares ([[LogIngest.BurstRows]]): µs
  * event time × 1000, bumped to prev+1 when the clock does not advance.
  */
class BurstRowsSpec extends AnyFunSuite {

  private val n = 2000
  // 2024-01-02T03:04:05.123456Z, the µs every line below is stamped with
  private val tsNano = 1704164645123456000L

  private val LineNo = "\\bl(\\d+)\\b".r

  private def text(lines: Seq[String]): Array[Byte] = lines.mkString("\n").getBytes(UTF_8)

  test("every wire format gives 2,000 same-µs lines strictly increasing seqs") {
    val bursts: Seq[(String, Iterator[LogIngest.LogRow])] = Seq(
      "protobuf" -> LogIngest.decodeBurst("c1", Array.concat((0 until n).map(i =>
        ProtoLogCodec.frame(ProtoLogCodec.encode(LogEntry("stdout", tsNano,
          s"l$i".getBytes(UTF_8), partial = false, None)))): _*)),
      "json-file" -> JsonFileLog.decodeBurst("c1", text((0 until n).map(i =>
        s"""{"log":"l$i\\n","stream":"stdout","time":"2024-01-02T03:04:05.123456Z"}"""))),
      "syslog" -> SyslogLog.decodeBurst("c1", text((0 until n).map(i =>
        s"<14>1 2024-01-02T03:04:05.123456Z host app 1 MID - l$i"))),
      "logfmt" -> LogfmtLog.decodeBurst("c1", text((0 until n).map(i =>
        s"ts=2024-01-02T03:04:05.123456Z level=info msg=l$i"))),
      // CLF stamps whole seconds: every line shares the µs of 03:04:05
      "access-log" -> AccessLog.decodeBurst("c1", text((0 until n).map(i =>
        s"""10.0.0.1 - - [02/Jan/2024:03:04:05 +0000] "GET /l$i HTTP/1.1" 200 5"""))))
    bursts.foreach { case (format, it) =>
      val rows = it.toSeq
      assert(rows.size === n, format)
      assert(rows.map(_.ts_nano).distinct.size === 1, format)
      // arrival order kept, and seq = base + arrival index: strictly
      // increasing, no collision or wrap past 1,000 lines
      assert(rows.map(r => LineNo.findFirstMatchIn(r.line).get.group(1).toInt) === (0 until n),
        format)
      val base = rows.head.ts_nano / 1000L * 1000L
      assert(rows.map(_.seq) === (0 until n).map(base + _), format)
    }
  }
}
