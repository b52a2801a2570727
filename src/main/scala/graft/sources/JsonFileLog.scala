package graft.sources

import org.apache.spark.util.LongAccumulator

import graft.streaming.LogIngest
import graft.streaming.LogIngest.LogRow

/** Ingest source for docker's `json-file` logging driver — the format the
  * reference plugin REPLACES (`/root/reference/plugin/config.json` installs
  * logsqlite as the log driver). Real deployments migrate: containers that
  * logged to json-file before the switch have history on disk in
  *
  *   {"log":"message\n","stream":"stdout","time":"2024-01-02T03:04:05.123456789Z"}
  *
  * one JSON object per line. This source backfills (or tails) those files
  * into the SAME partitioned log table as the framed-protobuf path, through
  * the one ingest query of [[LogIngest.start]] (`*.log`, [[decodeBurst]];
  * `graft.Graft.backfillJsonFile`) — one table, two wire formats.
  *
  * Decode is per-file `flatMap` like the protobuf path: embarrassingly
  * parallel, no shuffle, stateful seq derivation per burst. Jackson (on
  * Spark's own classpath) parses each line; `java.time.Instant.parse`
  * keeps full NANOSECOND precision (docker stamps ns; `to_timestamp` would
  * truncate to µs and collapse distinct ts_nano values).
  *
  * Normalization to the storage invariants (SURVEY §1.3):
  *  - every stored line ends with '\n'. json-file's `log` field already
  *    carries the newline for complete lines; a missing one marks a
  *    PARTIAL line (docker 17.06+ writes unterminated chunks verbatim),
  *    so: partial = !log.endsWith("\n"), newline appended either way.
  *  - rows are built by [[LogIngest.BurstRows]]: the shared seq rule, and
  *    no stored `message` — the read path serves the protobuf frame of the
  *    normalized entry, byte-compatible with the framed-protobuf path.
  *  - corrupt lines are skipped and counted via
  *    [[graft.streaming.IngestMetrics]], same permissive-decode policy as
  *    the protobuf path.
  */
object JsonFileLog {

  /** Decode one json-file burst (a whole staged file) into log rows. */
  def decodeBurst(
      containerId: String,
      bytes: Array[Byte],
      skipCounter: Option[LongAccumulator] = None): Iterator[LogRow] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    LogIngest.decodeLines(containerId, bytes, skipCounter) { (rows, lineJson) =>
      try {
        val node = mapper.readTree(lineJson)
        val log = node.get("log").asText()
        val stream = Option(node.get("stream")).map(_.asText()).getOrElse("stdout")
        val inst = java.time.Instant.parse(node.get("time").asText())
        val tsNano = Math.addExact(
          Math.multiplyExact(inst.getEpochSecond, 1000000000L), inst.getNano.toLong)
        val partial = !log.endsWith("\n")
        Some(rows(tsNano, stream, if (partial) log + "\n" else log, partial))
      } catch {
        case _: RuntimeException | _: java.io.IOException => None
      }
    }
  }
}
