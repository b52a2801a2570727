package graft.sources

import org.apache.spark.util.LongAccumulator

import graft.streaming.LogIngest
import graft.streaming.LogIngest.LogRow

/** Ingest source for RFC 5424 syslog capture files — the third wire format
  * into the engine's one log table (framed protobuf = the reference's
  * plugin stream, json-file = docker's default driver, syslog = everything
  * else that ships logs). Docker's own `syslog` log-driver emits exactly
  * this framing, so a fleet mixing drivers still lands in one queryable
  * table.
  *
  * Line grammar (RFC 5424):
  *   <PRI>VERSION TIMESTAMP HOSTNAME APP-NAME PROCID MSGID SD MSG
  * PRI encodes facility*8+severity; TIMESTAMP is ISO-8601 with up to
  * nanosecond fractions (parsed via `java.time.Instant` — full ns kept,
  * same stance as [[JsonFileLog]]); SD is `-` or one-or-more
  * `[id k="v"…]` blocks (skipped structurally — bracket-matched, not
  * regex-split, so values containing spaces or `]` escapes survive).
  *
  * Normalization to the storage invariants (SURVEY §1.3): the stored line
  * is `app[procid]: msg\n` — the same rendering docker's syslog receiver
  * writes — with `source` carrying the severity keyword (`err`, `warning`,
  * …) so severity-sliced scans stay pushdown-friendly predicates on a
  * low-cardinality string column. Corrupt lines are skipped and counted
  * via [[graft.streaming.IngestMetrics]], the shared permissive-decode
  * policy.
  */
object SyslogLog {

  private val Severities = Array(
    "emerg", "alert", "crit", "err", "warning", "notice", "info", "debug")

  /** Parse one RFC 5424 line; None for structurally corrupt input. */
  def parseLine(line: String): Option[(Long, Int, Int, String, String, String, String)] = {
    // returns (ts_nano, facility, severity, host, app, procid, msg)
    if (!line.startsWith("<")) return None
    val priEnd = line.indexOf('>')
    if (priEnd < 1 || priEnd > 4) return None
    val pri = line.substring(1, priEnd).toIntOption.getOrElse(return None)
    val rest = line.substring(priEnd + 1)
    val parts = rest.split(" ", 7)
    if (parts.length < 7 || parts(0) != "1") return None
    val ts = try java.time.Instant.parse(parts(1)) catch {
      case _: java.time.format.DateTimeParseException => return None
    }
    val tsNano = Math.addExact(
      Math.multiplyExact(ts.getEpochSecond, 1000000000L), ts.getNano.toLong)
    // parts(6) = "SD MSG": skip `-` or bracket-matched SD blocks
    val sdAndMsg = parts(6)
    val msg =
      if (sdAndMsg.startsWith("-")) sdAndMsg.stripPrefix("-").stripPrefix(" ")
      else if (!sdAndMsg.startsWith("[")) return None
      else {
        var i = 0
        var depth = 0
        var escaped = false
        while (i < sdAndMsg.length &&
            (depth > 0 || sdAndMsg.charAt(i) == '[')) {
          val c = sdAndMsg.charAt(i)
          if (escaped) escaped = false
          else if (c == '\\') escaped = true
          else if (c == '[') depth += 1
          else if (c == ']') depth -= 1
          i += 1
        }
        if (depth != 0) return None
        sdAndMsg.substring(i).stripPrefix(" ")
      }
    Some((tsNano, pri / 8, pri % 8, parts(2), parts(3), parts(4), msg))
  }

  /** Decode one syslog capture burst into log rows. */
  def decodeBurst(
      containerId: String,
      bytes: Array[Byte],
      skipCounter: Option[LongAccumulator] = None): Iterator[LogRow] =
    LogIngest.decodeLines(containerId, bytes, skipCounter) { (rows, raw) =>
      parseLine(raw).map { case (tsNano, _, severity, _, app, procid, msg) =>
        rows(tsNano, Severities(severity), s"$app[$procid]: $msg\n")
      }
    }
}
