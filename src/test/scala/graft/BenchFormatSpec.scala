package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Locks the bench artifact contract (BenchFormat): the compact stdout line
  * must stay parseable and inside the harness's ~2000-char window at ANY
  * query/error count — the failure mode that cost rounds 5–7 their bench
  * artifact (oversized line → parsed:null; crash → no line at all).
  */
class BenchFormatSpec extends AnyFunSuite {

  private val om = new ObjectMapper

  private def mkBest(n: Int): Map[String, Double] =
    (1 to n).map(i => f"q_pack${i % 10}%d_query$i%03d" -> i * 0.017).toMap

  test("compact line fits the window and parses at 148 queries") {
    val line = BenchFormat.compactLine(mkBest(148), Map.empty, "/sf", 3, "\"BENCH_local.json\"")
    assert(line.length <= 2000, s"line is ${line.length} chars")
    val node = om.readTree(line)
    assert(node.get("metric").asText == "total")
    assert(node.get("n_queries").asInt == 148)
    assert(node.get("errors_truncated").asInt == 0)
    assert(node.get("full").asText == "BENCH_local.json")
    // the slowest query always makes the cut
    assert(node.get("queries").has("q_pack8_query148"))
  }

  test("passes_done is a top-level field, never a floor gauge (ADVICE r13)") {
    val best = mkBest(5)
    val floor = Map("bare" -> 0.08, "spin" -> 0.11)
    val line = BenchFormat.compactLine(best, Map.empty, "/sf", 6,
      "null", floor, Map.empty, 6)
    val node = om.readTree(line)
    assert(node.get("passes_done").asInt === 6)
    assert(!node.get("floor").has("passes_done"),
      "a pass COUNT among seconds-valued gauges poisons floor min/ratio tooling")
    val full = om.readTree(BenchFormat.fullLine(best, Map.empty, "/sf", 6,
      floor, Map.empty, Map.empty, Map.empty, 6))
    assert(full.get("passes_done").asInt === 6)
    assert(!full.get("floor").has("passes_done"))
    // unrecorded (-1) → field absent, line still parses
    assert(!om.readTree(BenchFormat.compactLine(best, Map.empty, "/sf", 6, "null"))
      .has("passes_done"))
  }

  test("a heavy-failure round stays inside the window: errors capped, counted") {
    val manyErrors = (1 to 60).map(i =>
      f"q_pack${i % 10}%d_broken$i%03d" ->
        ("org.apache.spark.sql.AnalysisException: [DATATYPE_MISMATCH] " + "x" * 200)).toMap
    val line = BenchFormat.compactLine(mkBest(88), manyErrors, "/sf", 3, "null")
    assert(line.length <= 2000, s"line is ${line.length} chars")
    val node = om.readTree(line)
    assert(node.get("errors").size == BenchFormat.ErrCap)
    assert(node.get("errors_truncated").asInt == 60 - BenchFormat.ErrCap)
    assert(node.get("full").isNull) // sidecar write failed → no stale pointer
    // but the sidecar body, when writable, carries EVERYTHING
    val full = om.readTree(BenchFormat.fullLine(mkBest(88), manyErrors, "/sf", 3))
    assert(full.get("errors").size == 60 && full.get("queries").size == 88)
  }

  test("error strings truncate on code-point boundaries and escape cleanly") {
    // 59 chars then an astral code point (surrogate pair straddling the cut)
    val msg = "e" * 59 + new String(Character.toChars(0x1F600)) + " trailing \"quoted\\path\"\n"
    val parsed = om.readTree(BenchFormat.jstr(msg))
    assert(parsed.isTextual)
    val t = parsed.asText
    assert(!t.exists(c => Character.isHighSurrogate(c) || Character.isLowSurrogate(c)) ||
      t.codePoints.toArray.forall(Character.isValidCodePoint),
      s"unpaired surrogate survived: $t")
    assert(t.length <= 60 && t.startsWith("e" * 59))
    // control chars never reach the JSON
    assert(om.readTree(BenchFormat.jstr("a\nb\tc")).asText == "a b c")
  }

  test("sfDir and sidecar path with quotes/backslashes still parse (ADVICE r8)") {
    val evil = """/tmp/we"ird\dir with "quotes""""
    val line = BenchFormat.compactLine(mkBest(10), Map.empty, evil, 3,
      BenchFormat.jstrFull(evil + "/BENCH.json"))
    val node = om.readTree(line)
    assert(node.get("sf").asText == evil)
    assert(node.get("full").asText == evil + "/BENCH.json")
    val full = om.readTree(BenchFormat.fullLine(mkBest(10), Map.empty, evil, 3))
    assert(full.get("sf").asText == evil)
  }

  test("pathological pack naming cannot blow the prefix: packs cap + _rest") {
    // 120 distinct 40-char pack prefixes -> an uncapped packs object alone
    // would be ~5600 chars
    val best = (1 to 120).map(i => s"q_${"p" * 36}${i}_x" -> i * 0.01).toMap
    val manyErrors = (1 to 40).map(i => s"q_${"e" * 36}${i}_y" -> ("boom " * 50)).toMap
    val line = BenchFormat.compactLine(best, manyErrors, "/sf", 3, "null")
    assert(line.length <= BenchFormat.Budget, s"line is ${line.length} chars")
    val node = om.readTree(line)
    // every query's time is still represented: packs (incl _rest) sum to total
    var s = 0.0
    node.get("packs").forEach(v => s += v.asDouble)
    assert(math.abs(s - best.values.sum) < 1e-6)
    assert(node.get("packs").has("_rest"))
    // inline errors may shed below ErrCap to fit; the count stays honest
    assert(node.get("errors").size + node.get("errors_truncated").asInt == 40)
  }

  test("floor probe rides both lines when measured, is absent when not") {
    val best = mkBest(148)
    val floor = Map("bare" -> 0.081, "scan" -> 0.124)
    val line = BenchFormat.compactLine(best, Map.empty, "/sf", 3,
      "\"BENCH_local.json\"", floor)
    assert(line.length <= BenchFormat.Budget, s"line is ${line.length} chars")
    val node = om.readTree(line)
    assert(math.abs(node.get("floor").get("bare").asDouble - 0.081) < 1e-9)
    assert(math.abs(node.get("floor").get("scan").asDouble - 0.124) < 1e-9)
    val full = om.readTree(BenchFormat.fullLine(best, Map.empty, "/sf", 3, floor))
    assert(full.get("floor").get("scan").asDouble > 0)
    // absent floor → no field (old artifacts keep their shape)
    assert(!om.readTree(BenchFormat.compactLine(best, Map.empty, "/sf", 3, "null"))
      .has("floor"))
  }

  test("layout report rides both lines when present, is absent when not") {
    val best = mkBest(148)
    val layout = Map(
      "lineitem:l_orderkey" -> "built:0.92",
      "orders:o_orderkey" -> ("fallback:Can't create managed table " + "x" * 80))
    val line = BenchFormat.compactLine(best, Map.empty, "/sf", 3,
      "\"BENCH_local.json\"", Map("bare" -> 0.08), layout)
    assert(line.length <= BenchFormat.Budget, s"line is ${line.length} chars")
    val node = om.readTree(line)
    assert(node.get("layout").get("lineitem:l_orderkey").asText == "built:0.92")
    // fallback messages truncate (jstr) but keep the outcome prefix
    assert(node.get("layout").get("orders:o_orderkey").asText.startsWith("fallback:"))
    val full = om.readTree(BenchFormat.fullLine(best, Map.empty, "/sf", 3,
      Map.empty, layout))
    assert(full.get("layout").get("lineitem:l_orderkey").asText == "built:0.92")
    assert(!om.readTree(BenchFormat.compactLine(best, Map.empty, "/sf", 3, "null"))
      .has("layout"))
  }

  test("oversized layout report degrades off the compact line, stays in the sidecar") {
    // r13 layout keys embed the dataset dir — an arbitrarily long path
    // must shed the layout fragment (after inline errors), never push the
    // line past the harness window
    val best = mkBest(148)
    val hugeDir = "/very/" + ("deep/" * 200) + "sf"
    val layout = Map(
      s"lineitem:l_orderkey@$hugeDir" -> "built:0.92",
      s"orders:o_orderkey@$hugeDir" -> "reused:0.04")
    val line = BenchFormat.compactLine(best, Map("q_x" -> "boom"), "/sf", 3,
      "\"BENCH_local.json\"", Map("bare" -> 0.08), layout)
    assert(line.length <= BenchFormat.Budget, s"line is ${line.length} chars")
    val node = om.readTree(line)
    assert(!node.has("layout"), "oversized layout must be shed from the compact line")
    assert(node.get("value").asDouble > 0) // line still parses + carries the total
    val full = om.readTree(BenchFormat.fullLine(best, Map.empty, "/sf", 3,
      Map.empty, layout))
    assert(full.get("layout").get(s"lineitem:l_orderkey@$hugeDir")
      .asText == "built:0.92", "sidecar keeps the full layout report")
    // short layouts still ride the compact line untouched
    val ok = BenchFormat.compactLine(best, Map.empty, "/sf", 3, "null",
      Map.empty, Map("lineitem:l_orderkey@/sf" -> "built:0.92"))
    assert(om.readTree(ok).get("layout").get("lineitem:l_orderkey@/sf")
      .asText == "built:0.92")
  }

  test("per-pass samples + floor gauges ride the sidecar only (VERDICT r12 #2)") {
    val best = mkBest(148)
    val samples = best.map { case (n, v) => n -> Seq(v, v * 3.1, v * 1.05) }
    val fps = Map("bare" -> Seq(0.08, 0.31, 0.09), "spin" -> Seq(0.11, 0.42, 0.12))
    val full = om.readTree(BenchFormat.fullLine(best, Map.empty, "/sf", 3,
      Map("bare" -> 0.08), Map.empty, samples, fps))
    val q = samples.keys.head
    assert(full.get("samples").get(q).size === 3)
    assert(math.abs(full.get("samples").get(q).get(1).asDouble - best(q) * 3.1) < 1e-2)
    assert(full.get("floor_passes").get("spin").size === 3)
    assert(math.abs(full.get("floor_passes").get("spin").get(1).asDouble - 0.42) < 1e-9)
    // absent → no fields (old artifacts keep their shape); compact line
    // never carries them (its budget is the harness stdout window)
    assert(!om.readTree(BenchFormat.fullLine(best, Map.empty, "/sf", 3)).has("samples"))
    val line = BenchFormat.compactLine(best, Map.empty, "/sf", 3, "null")
    assert(!om.readTree(line).has("samples") && !om.readTree(line).has("floor_passes"))
    assert(line.length <= BenchFormat.Budget)
  }

  test("per-pass layers ride the sidecar only, index-aligned with samples") {
    val best = mkBest(148)
    val samples = best.map { case (n, v) => n -> Seq(v, -1.0, v * 1.05) }
    val layers = best.map { case (n, v) =>
      n -> Seq(BenchFormat.Pass(v / 4, v * 3 / 4, Seq(3L, 4, 32, 120, 90, 4096, 4096, 0)),
        BenchFormat.Pass(0.002, -1.0, Seq(1L, 1, 4, 5, 5, 0, 0, 0)),
        BenchFormat.Pass(v / 4, v * 0.8, Seq(3L, 4, 32, 121, 91, 4096, 4096, 1L << 40)))
    }
    val full = om.readTree(BenchFormat.fullLine(best, Map.empty, "/sf", 3,
      samples = samples, layers = layers))
    val q = best.keys.toSeq.sorted.head
    val l = full.get("layers").get(q)
    val cols = Seq("build_s", "exec_s") ++ BenchFormat.WorkNames
    assert(l.fieldNames.asScala.toSeq === cols)
    cols.foreach(c => assert(l.get(c).size === full.get("samples").get(q).size, c))
    assert(l.get("exec_s").get(1).asDouble === -1.0) // the errored pass keeps its slot
    assert(l.get("tasks").get(0).asLong === 32L)
    assert(l.get("spill_bytes").get(2).asLong === (1L << 40))
    assert(math.abs(l.get("build_s").get(0).asDouble - best(q) / 4) < 1e-3)
    // absent → no field; the compact line never carries it
    assert(!om.readTree(BenchFormat.fullLine(best, Map.empty, "/sf", 3)).has("layers"))
    val line = BenchFormat.compactLine(best, Map.empty, "/sf", 3, "null")
    assert(!om.readTree(line).has("layers"))
  }

  test("totals and pack rollups are consistent with the per-query map") {
    val best = Map("q_rel_a" -> 1.0, "q_rel_b" -> 2.0, "q_ts_c" -> 0.5)
    val node = om.readTree(BenchFormat.compactLine(best, Map.empty, "/sf", 1, "null"))
    assert(math.abs(node.get("value").asDouble - 3.5) < 1e-9)
    assert(math.abs(node.get("packs").get("rel").asDouble - 3.0) < 1e-9)
    assert(math.abs(node.get("packs").get("ts").asDouble - 0.5) < 1e-9)
  }
}
