package graft

/** Pure formatting layer of the bench artifact contract, extracted from
  * `Bench.main` so the contract that failed three rounds in a row (r5/r6
  * `parsed:null` from an oversized line; r7 `rc:1` with no line at all) is
  * locked by a unit spec instead of discovered per-round from the driver's
  * artifact.
  *
  * Contract (see Bench's scaladoc for the why):
  *  - the FULL per-query map + full errors go to a sidecar file;
  *  - stdout carries ONE compact JSON line that must fit the harness's
  *    ~2000-char tail window at ANY query/error count AND any sfDir/path
  *    content: total, pack rollups (top packs by time + `_rest` remainder),
  *    slowest queries up to the character budget, at most `ErrCap` inline
  *    error entries (+ `errors_truncated` count), `"full"` naming the
  *    sidecar only if it was actually written (else null). The whole-line
  *    budget applies to the PREFIX too (ADVICE r8): packs and inline errors
  *    degrade before the line can overflow, never just the trailing map.
  */
object BenchFormat {

  /** Inline error entries on the compact line; the rest live in the sidecar. */
  val ErrCap = 8

  /** Whole-line character budget; the harness window is ~2000. */
  val Budget = 1500

  /** Character sub-budget for the packs rollup object. */
  val PackBudget = 300

  def sec(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  /** JSON string literal, escaped but NOT truncated — for values that must
    * stay exact (paths, directories, query names). Raw interpolation of
    * sfDir/paths was the one remaining unescaped route to an unparseable
    * artifact line (ADVICE r8).
    */
  def jstrFull(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""

  /** JSON string literal, truncated to ~60 chars on a code-point boundary
    * (a plain .take can split a surrogate pair — ADVICE r7).
    */
  def jstr(s: String): String = {
    val cut0 = s.take(60)
    val cut =
      if (cut0.nonEmpty && Character.isHighSurrogate(cut0.last)) cut0.dropRight(1) else cut0
    jstrFull(cut)
  }

  private def errObj(errors: Seq[(String, String)]): String =
    errors.map { case (n, m) => jstrFull(n) + ":" + jstr(m) }.mkString("{", ",", "}")

  /** `"floor":{...},` fragment (or "" when not measured) — the per-query
    * fixed cost measured INSIDE the same bench window (VERDICT r10 #7):
    * `bare` = stage-launch + noop-sink floor, `scan` = the same plus a
    * minimal parquet scan. Future rounds separate floor drift from real
    * per-query regressions by subtracting these instead of re-litigating
    * host noise across windows.
    */
  private def floorFrag(floor: Map[String, Double]): String =
    if (floor.isEmpty) ""
    else floor.toSeq.sortBy(_._1)
      .map { case (k, v) => jstrFull(k) + ":" + sec(v) }
      .mkString("\"floor\":{", ",", "},")

  /** `"layout":{...},` fragment (or "" when no query touched the bucketed
    * fact layout) — per-table build outcome from
    * [[graft.plans.FactLayout.report]] (`"built:0.92"` / `"reused:0.04"` /
    * `"fallback:<msg>"`). VERDICT r11 #1: the artifact itself must
    * adjudicate which join plan q21 ran — a layout fallback in the
    * driver's environment was the prime suspect for an unexplained 4.4×,
    * and nothing in the r11 artifact could prove or refute it.
    */
  private def layoutFrag(layout: Map[String, String]): String =
    if (layout.isEmpty) ""
    else layout.toSeq.sortBy(_._1)
      .map { case (k, v) => jstrFull(k) + ":" + jstr(v) }
      .mkString("\"layout\":{", ",", "},")

  /** `"samples":{...},` / `"floor_passes":{...},` fragments (sidecar
    * only): the raw per-pass measurements behind each reported min, in
    * pass order (VERDICT r12 #2). A query whose min looks anomalous is
    * adjudicated from the artifact itself — its samples are read against
    * `floor_passes` (same pass index = same window), so "every slow sample
    * sits in a pass whose bare/spin gauges were elevated" proves a host
    * spike without a re-run.
    */
  private def seriesFrag(name: String, m: Map[String, Seq[Double]]): String =
    if (m.isEmpty) ""
    else m.toSeq.sortBy(_._1)
      .map { case (k, vs) => jstrFull(k) + ":" + vs.map(sec).mkString("[", ",", "]") }
      .mkString("\"" + name + "\":{", ",", "},")

  /** One timed pass of one query split by layer (sidecar only): build
    * (`fn(spark, sfDir)`) and exec (the noop write) seconds, -1 for a step
    * that did not finish, and the Spark work its jobs ran, in
    * [[WorkNames]] order.
    */
  final case class Pass(buildS: Double, execS: Double, work: Seq[Long])

  val WorkNames = Seq("jobs", "stages", "tasks", "run_ms", "cpu_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")

  /** `"layers":{...},` fragment (or "" when not recorded): per query, one
    * vector per layer, index-aligned with its `samples`.
    */
  private def layersFrag(layers: Map[String, Seq[Pass]]): String =
    if (layers.isEmpty) ""
    else layers.toSeq.sortBy(_._1).map { case (q, ps) =>
      val cols = Seq("build_s" -> ps.map(p => sec(p.buildS)), "exec_s" -> ps.map(p => sec(p.execS))) ++
        WorkNames.indices.map(i => WorkNames(i) -> ps.map(_.work(i).toString))
      jstrFull(q) + cols.map { case (k, vs) => jstrFull(k) + ":" + vs.mkString("[", ",", "]") }
        .mkString(":{", ",", "}")
    }.mkString("\"layers\":{", ",", "},")

  /** The sidecar body: complete per-query map, complete errors, raw
    * per-pass samples and layers, and per-pass floor gauges.
    */
  def fullLine(
      best: Map[String, Double],
      errors: Map[String, String],
      sfDir: String,
      runs: Int,
      floor: Map[String, Double] = Map.empty,
      layout: Map[String, String] = Map.empty,
      samples: Map[String, Seq[Double]] = Map.empty,
      floorPasses: Map[String, Seq[Double]] = Map.empty,
      passesDone: Int = -1,
      layers: Map[String, Seq[Pass]] = Map.empty): String = {
    val ok = best.keys.toSeq.sorted
    val fullQs = ok.map(n => jstrFull(n) + ":" + sec(best(n))).mkString("{", ",", "}")
    s"""{"metric":"total","value":${sec(ok.map(best).sum)},"unit":"sec","queries":$fullQs,"errors":${errObj(errors.toSeq.sortBy(_._1))},${floorFrag(floor)}${layoutFrag(layout)}${seriesFrag("samples", samples)}${layersFrag(layers)}${seriesFrag("floor_passes", floorPasses)}${passesFrag(passesDone)}"sf":${jstrFull(sfDir)},"runs":$runs}"""
  }

  /** `"passes_done":N,` fragment (or "" when not recorded) — its OWN
    * top-level field (ADVICE r13): it previously rode the floor map, where
    * a pass COUNT sat among seconds-valued gauges and any tooling folding
    * floor entries as timings ingested a bogus 6.0-second "floor".
    */
  private def passesFrag(passesDone: Int): String =
    if (passesDone < 0) "" else s""""passes_done":$passesDone,"""

  /** Packs rollup capped to `PackBudget` chars: heaviest packs inline, the
    * remainder summed into `_rest` so every query's time stays represented
    * (pack-count growth can no longer blow the prefix — ADVICE r8).
    */
  private def packsObj(best: Map[String, Double], ok: Seq[String]): String = {
    val totals = ok.groupBy(n => n.split("_").lift(1).getOrElse("other"))
      .view.mapValues(ns => ns.map(best).sum).toSeq
      .sortBy { case (p, t) => (-t, p) }
    val sb = new StringBuilder("{")
    var rest = 0.0
    var restCount = 0
    // reserve room for a worst-case `,"_rest":12345.678` suffix
    val reserve = 22
    for ((p, t) <- totals) {
      val item = (if (sb.length > 1) "," else "") + jstrFull(p) + ":" + sec(t)
      if (sb.length + item.length + reserve <= PackBudget) sb ++= item
      else { rest += t; restCount += 1 }
    }
    if (restCount > 0)
      sb ++= (if (sb.length > 1) "," else "") + "\"_rest\":" + sec(rest)
    sb += '}'
    sb.toString
  }

  /** The compact stdout line. `fullField` is a JSON value: the quoted
    * sidecar path if it was written, or `null`.
    */
  def compactLine(
      best: Map[String, Double],
      errors: Map[String, String],
      sfDir: String,
      runs: Int,
      fullField: String,
      floor: Map[String, Double] = Map.empty,
      layout: Map[String, String] = Map.empty,
      passesDone: Int = -1): String = {
    val ok = best.keys.toSeq.sorted
    val total = ok.map(best).sum
    val errSorted = errors.toSeq.sortBy(_._1)
    val packs = packsObj(best, ok)

    def prefix(errCount: Int, lay: Map[String, String]): String = {
      val errTruncated = errSorted.size - errCount
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","sf":${jstrFull(sfDir)},"runs":$runs,${passesFrag(passesDone)}"n_queries":${ok.size},"full":$fullField,${floorFrag(floor)}${layoutFrag(lay)}"packs":$packs,"errors":${errObj(errSorted.take(errCount))},"errors_truncated":$errTruncated,"queries":{"""
    }

    // Whole-line budget: shed inline errors first, then the layout report
    // (the sidecar keeps both in full — layout keys embed the dataset dir
    // since r13, so arbitrarily long paths must degrade the prefix, never
    // overflow the line), until room remains to close the line; the
    // trailing per-query map then fills whatever is left.
    var errCount = math.min(ErrCap, errSorted.size)
    var lay = layout
    var head = new StringBuilder(prefix(errCount, lay))
    while (head.length + 2 > Budget && (errCount > 0 || lay.nonEmpty)) {
      if (errCount > 0) errCount -= 1 else lay = Map.empty
      head = new StringBuilder(prefix(errCount, lay))
    }
    var first = true
    for (n <- ok.sortBy(n => (-best(n), n))) {
      val item = (if (first) "" else ",") + jstrFull(n) + ":" + sec(best(n))
      if (head.length + item.length + 2 <= Budget) { head ++= item; first = false }
    }
    head ++= "}}"
    head.toString
  }
}
