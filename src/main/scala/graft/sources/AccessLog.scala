package graft.sources

import org.apache.spark.util.LongAccumulator

import graft.streaming.LogIngest
import graft.streaming.LogIngest.LogRow

/** Ingest source for HTTP access logs in Apache Common/Combined Log
  * Format — the fifth wire format into the engine's one log table
  * (protobuf = the reference's plugin stream, json-file = docker's
  * default driver, syslog = RFC 5424 shippers, logfmt = key=value
  * convention, CLF = every web server and reverse proxy).
  *
  * Line grammar (Combined; Common is the prefix without referer/UA):
  * `host ident authuser [dd/MMM/yyyy:HH:mm:ss Z] "request" status bytes
  * "referer" "user-agent"`. Quoted fields honor backslash escapes (the
  * `\"` Apache emits for embedded quotes). Timestamps are second-
  * precision by format; ts_nano = epochSecond·10⁹ and the shared
  * monotone-seq rule keeps same-second lines ordered.
  *
  * The `source` column carries the STATUS CLASS (`ok` / `redirect` /
  * `client_error` / `server_error` / `other`): the slice an operator
  * actually scans for ("all 5xx last hour") becomes a pushdown-friendly
  * equality on a 5-value string, the same stance as syslog's
  * severity→source mapping. The stored line is the raw CLF line
  * (newline-appended, SURVEY §1.3 invariant) so request/referer/UA stay
  * available to downstream extraction and `LogOps.templates`.
  * Structurally corrupt lines (unclosed bracket/quote, unparseable
  * timestamp, non-numeric status) are skipped and counted via
  * [[graft.streaming.IngestMetrics]] — the shared permissive-decode policy.
  */
object AccessLog {

  private val TsFormat = java.time.format.DateTimeFormatter
    .ofPattern("dd/MMM/yyyy:HH:mm:ss Z", java.util.Locale.ENGLISH)

  /** Parsed access-log record (the typed view downstream extraction
    * rebuilds from the stored raw line).
    */
  final case class Record(
      host: String, ident: String, user: String, tsNano: Long,
      request: String, status: Int, bytes: Option[Long],
      referer: Option[String], userAgent: Option[String])

  /** Parse one CLF/Combined line; None when structurally corrupt. */
  def parseLine(line: String): Option[Record] = {
    val n = line.length
    var i = 0
    def skipSpaces(): Unit = { while (i < n && line.charAt(i) == ' ') i += 1 }
    def token(): Option[String] = {
      skipSpaces()
      val s = i
      while (i < n && line.charAt(i) != ' ') i += 1
      if (i > s) Some(line.substring(s, i)) else None
    }
    def bracketed(): Option[String] = {
      skipSpaces()
      if (i >= n || line.charAt(i) != '[') return None
      i += 1
      val s = i
      while (i < n && line.charAt(i) != ']') i += 1
      if (i >= n) return None
      val out = line.substring(s, i); i += 1; Some(out)
    }
    def quoted(): Option[String] = {
      skipSpaces()
      if (i >= n || line.charAt(i) != '"') return None
      i += 1
      val sb = new StringBuilder
      while (i < n) {
        val c = line.charAt(i)
        if (c == '\\' && i + 1 < n) { sb.append(line.charAt(i + 1)); i += 2 }
        else if (c == '"') { i += 1; return Some(sb.toString) }
        else { sb.append(c); i += 1 }
      }
      None // unterminated
    }
    for {
      host <- token()
      ident <- token()
      user <- token()
      ts <- bracketed()
      tsNano <- try {
        val odt = java.time.OffsetDateTime.parse(ts, TsFormat)
        Some(Math.multiplyExact(odt.toEpochSecond, 1000000000L))
      } catch { case _: Exception => None }
      request <- quoted()
      status <- token().flatMap(t => t.toIntOption)
      bytesTok <- token()
      bytes <- if (bytesTok == "-") Some(None)
               else bytesTok.toLongOption match {
                 case Some(b) => Some(Some(b))
                 case None => None // junk where a size belongs → corrupt
               }
    } yield {
      val referer = quoted()
      val ua = if (referer.isDefined) quoted() else None
      Record(host, ident, user, tsNano, request, status, bytes, referer, ua)
    }
  }

  /** Status class → `source` value (the pushdown slice key). */
  def statusClass(status: Int): String = status / 100 match {
    case 2 => "ok"
    case 3 => "redirect"
    case 4 => "client_error"
    case 5 => "server_error"
    case _ => "other"
  }

  /** Decode one access-log capture burst into log rows. */
  def decodeBurst(
      containerId: String,
      bytes: Array[Byte],
      skipCounter: Option[LongAccumulator] = None): Iterator[LogRow] =
    LogIngest.decodeLines(containerId, bytes, skipCounter) { (rows, raw) =>
      parseLine(raw).map(rec => rows(rec.tsNano, statusClass(rec.status), raw + "\n"))
    }
}
