package graft.sources

import org.apache.spark.util.LongAccumulator

import graft.streaming.LogIngest
import graft.streaming.LogIngest.LogRow

/** Ingest source for logfmt capture files — the fourth wire format into
  * the engine's one log table (framed protobuf = the reference's plugin
  * stream, json-file = docker's default driver, syslog = RFC 5424
  * shippers, logfmt = the `key=value` convention of Heroku and the Go/
  * Grafana logging stacks).
  *
  * Line grammar: space-separated `key=value` pairs; a value is either a
  * bare token (no spaces) or double-quoted with `\"`/`\\` escapes. The
  * event time comes from the first of `ts`/`time`/`timestamp` (ISO-8601,
  * parsed via `java.time.Instant` — full nanosecond fidelity, same stance
  * as [[JsonFileLog]]); `level` maps to the `source` column (lowercased;
  * absent → `info`) so severity-sliced scans stay pushdown-friendly
  * predicates on a low-cardinality string, mirroring [[SyslogLog]].
  *
  * The stored line is the RAW logfmt line (newline-appended, SURVEY §1.3
  * invariant): logfmt is self-describing, so keeping it verbatim preserves
  * the full key-value payload for downstream extraction and
  * `LogOps.templates` mining. Structurally corrupt lines (token without
  * `=`, unterminated quote, missing/unparseable timestamp) are skipped and
  * counted via [[graft.streaming.IngestMetrics]] — the shared
  * permissive-decode policy.
  */
object LogfmtLog {

  private val TsKeys = Seq("ts", "time", "timestamp")

  /** Parse one logfmt line into ordered key-value pairs; None when the
    * line is structurally corrupt (bare token, empty key, unclosed quote).
    */
  def parseKvs(line: String): Option[Vector[(String, String)]] = {
    val out = Vector.newBuilder[(String, String)]
    val n = line.length
    var i = 0
    while (i < n) {
      while (i < n && line.charAt(i) == ' ') i += 1
      if (i < n) {
        val ks = i
        while (i < n && line.charAt(i) != '=' && line.charAt(i) != ' ') i += 1
        if (i >= n || line.charAt(i) != '=' || i == ks) return None
        val key = line.substring(ks, i)
        i += 1
        if (i < n && line.charAt(i) == '"') {
          i += 1
          val sb = new StringBuilder
          var closed = false
          while (i < n && !closed) {
            val c = line.charAt(i)
            if (c == '\\' && i + 1 < n) { sb.append(line.charAt(i + 1)); i += 2 }
            else if (c == '"') { closed = true; i += 1 }
            else { sb.append(c); i += 1 }
          }
          if (!closed) return None
          out += key -> sb.toString
        } else {
          val vs = i
          while (i < n && line.charAt(i) != ' ') i += 1
          out += key -> line.substring(vs, i)
        }
      }
    }
    Some(out.result())
  }

  /** Parse one line to (ts_nano, source, raw line); None when corrupt. */
  def parseLine(line: String): Option[(Long, String)] =
    parseKvs(line).flatMap { kvs =>
      val m = kvs.toMap
      TsKeys.collectFirst { case k if m.contains(k) => m(k) }.flatMap { tsStr =>
        try {
          val inst = java.time.Instant.parse(tsStr)
          val tsNano = Math.addExact(
            Math.multiplyExact(inst.getEpochSecond, 1000000000L), inst.getNano.toLong)
          Some((tsNano, m.get("level").map(_.toLowerCase).getOrElse("info")))
        } catch {
          case _: java.time.format.DateTimeParseException => None
          case _: ArithmeticException => None
        }
      }
    }

  /** Decode one logfmt capture burst into log rows. */
  def decodeBurst(
      containerId: String,
      bytes: Array[Byte],
      skipCounter: Option[LongAccumulator] = None): Iterator[LogRow] =
    LogIngest.decodeLines(containerId, bytes, skipCounter) { (rows, raw) =>
      parseLine(raw).map { case (tsNano, source) => rows(tsNano, source, raw + "\n") }
    }
}
