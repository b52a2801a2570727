package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Event-stream / time-series pack over `events` (SURVEY.md §2.3).
  *
  * The reference only orders by event time; these operators add the
  * windowed-aggregation surface a log-analytics engine needs. All are
  * single-shuffle partial-agg plans; the sessionization window partitions
  * on user_id (high cardinality → distributed sort).
  *
  * Timestamps: `events.ts` is nanosecond-precision in the files; Spark
  * reads it truncated to µs. Outputs expose epoch-milliseconds BIGINT so
  * results are precision-stable across engines.
  */
object TimeSeriesOps {

  private def tsMs(c: Column): Column = unix_millis(c)

  /** Tumbling 1-hour windows per event type: count + sum(value).
    * date_trunc keeps the expression inside whole-stage codegen; one
    * shuffle on (hour, type) after map-side partial aggregation.
    */
  def hourlyByType(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(
        date_trunc("hour", col("ts")).as("bucket"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(tsMs(col("bucket")).as("bucket_ms"), col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("bucket_ms"), col("event_type"))

  /** Gap-filled hourly resample with forward fill: every (hour, type) cell
    * of the dense grid spanning the corpus, zero-filled counts/sums for
    * hours with no events, and the last observed hourly mean carried
    * forward (LVCF) across gaps — the regularization step everything
    * downstream of irregular event streams needs (rolling joins, model
    * features, dashboards expecting one row per bucket).
    *
    * Scale design: the corpus collapses to hourly partials FIRST (one
    * (hour, type) rollup — the only corpus-sized shuffle); the dense grid
    * is sequence(min, max) × distinct types, grid-sized by construction,
    * and the left join + LVCF window run over grid rows only. The fill
    * window partitions by type (|types| concurrent sorts over grid rows);
    * a deployment with a years-long grid and few types re-chunks the
    * partition key to (type, month) and seeds each chunk with its
    * predecessor's closing value.
    */
  def hourlyDense(s: SparkSession, d: String): DataFrame =
    hourlyDenseOf(Tables.events(s, d))

  /** [[hourlyDense]] over an arbitrary `(ts, event_type, value)` frame. */
  def hourlyDenseOf(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"),
        avg(col("value")).as("av"))
    val span = hourly.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val types = hourly.select(col("event_type")).distinct()
    val grid = span
      .select(explode(sequence(col("h0"), col("h1"),
        expr("INTERVAL '1' HOUR"))).as("h"))
      .crossJoin(types)
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("h", "event_type"), "left")
      .withColumn("ff_avg",
        round(last(col("av"), ignoreNulls = true).over(w), 4))
      .select(
        tsMs(col("h")).as("bucket_ms"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"),
        round(coalesce(col("sv"), lit(0.0)), 2).as("sum_value"),
        col("ff_avg"))
      .orderBy(col("bucket_ms"), col("event_type"))
  }

  /** Incremental rollup maintenance: merge a late-arriving event batch
    * into an existing hourly rollup WITHOUT rescanning the corpus — the
    * materialized-view refresh path every warehouse needs once rollups
    * outlive their inputs (count/sum are algebraic, so partials combine
    * exactly; avg and friends derive from them). Each output row reports
    * whether its bucket was `unchanged`, `merged`, or `new`.
    *
    * Plan: the late batch collapses to its own hourly partials (batch-
    * sized), then a full-outer join on the bucket key combines them with
    * the existing rollup — the only thing shuffled is the ROLLUP table
    * (hours × types rows, not events) and the delta. The corpus behind
    * the base rollup is never touched; that's the whole point.
    */
  def hourlyIncrementOf(base: DataFrame, late: DataFrame): DataFrame = {
    val delta = late
      .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("dn"), sum(col("value")).as("dsv"))
    base.join(delta, Seq("bucket", "event_type"), "full_outer")
      .select(
        col("bucket"), col("event_type"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("sv"), lit(0.0)) + coalesce(col("dsv"), lit(0.0))).as("sv"),
        when(col("dn").isNull, "unchanged")
          .when(col("n").isNull, "new")
          .otherwise("merged").as("status"))
  }

  /** Fixture demo of [[hourlyIncrementOf]]: every 10th event plays the
    * late batch, the rest are the standing rollup. The DuckDB twin
    * recomputes the rollup from ALL events directly — so the hash check
    * asserts the semantic contract (incremental ≡ full recompute), not a
    * mirror of the incremental plan.
    */
  def hourlyIncrement(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val base = ev.where(pmod(col("event_id"), lit(10)) =!= 0)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
    hourlyIncrementOf(base, ev.where(pmod(col("event_id"), lit(10)) === 0))
      .select(
        tsMs(col("bucket")).as("bucket_ms"), col("event_type"),
        col("n"), round(col("sv"), 2).as("sum_value"), col("status"))
      .orderBy(col("bucket_ms"), col("event_type"))
  }

  /** Sliding windows: 2-hour windows advancing every hour. Because the
    * slide divides the window, each window is the union of whole slide
    * quanta — so aggregate per hour FIRST (map-side partial agg collapses
    * the event table to one row per hour before the shuffle) and then
    * combine each hour into the two windows that contain it. The naive
    * `window(ts, "2 hours", "1 hour")` form expands every event row by
    * the overlap factor before aggregating; at 100 TB that's duplicating
    * the corpus ×(window/slide) through an Expand when ~thousands of
    * hourly partials carry the same information.
    */
  def slidingActivity(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
    hourly
      .select(
        explode(array(col("h"), col("h") - expr("INTERVAL '1' HOUR"))).as("ws"),
        col("n"), col("sv"))
      .groupBy(col("ws"))
      .agg(sum(col("n")).as("n"), round(sum(col("sv")), 2).as("sum_value"))
      .select(tsMs(col("ws")).as("window_start_ms"), col("n"), col("sum_value"))
      .orderBy(col("window_start_ms"))
  }

  /** Sessionization by inactivity gap (30 min) per user, via Spark's
    * native `session_window` aggregation: one shuffle on user_id, one
    * merge pass that fuses session assignment WITH the per-session
    * aggregate. (The classic gaps-and-islands form — lag + running sum +
    * groupBy — makes two window-function passes over the full event table
    * before it can aggregate; the native operator does the same work in
    * the aggregation itself.) Session numbering then runs over the
    * already-aggregated output — one small row per session, not per
    * event — reusing the user_id partitioning, so no extra shuffle.
    *
    * Boundary semantics: events ≤ 30 min apart (in epoch-ms) share a
    * session. `session_window` merges on gap < duration over the raw
    * timestamp, so feed it ms-truncated timestamps with a gap of
    * 30 min + 1 ms: diff_ms < 1800001 ⟺ diff_ms ≤ 1800000 exactly.
    */
  def sessions(s: SparkSession, d: String): DataFrame = {
    val tsMsTrunc = timestamp_millis(unix_millis(col("ts")))
    val perSession = Tables.events(s, d)
      .groupBy(
        col("user_id"),
        session_window(tsMsTrunc, "30 minutes 1 millisecond").as("sw"))
      .agg(
        min(tsMs(col("ts"))).as("session_start_ms"),
        max(tsMs(col("ts"))).as("session_end_ms"),
        count(lit(1)).as("n_events"))
    perSession
      .withColumn("session_id",
        row_number().over(
          Window.partitionBy(col("user_id")).orderBy(col("session_start_ms")))
          .cast("long"))
      .select(col("user_id"), col("session_id"),
        col("session_start_ms"), col("session_end_ms"), col("n_events"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** Rolling z-score anomaly detection over per-(type, hour) event counts —
    * the "error-rate spike" alert a log-analytics deployment runs on every
    * stream (the reference stores the lines; this is the monitor reading
    * them). Each hourly bucket is scored against the mean/stddev of the
    * `lookback` preceding buckets of the same type; |z| ≥ 3 flags it.
    *
    * Determinism across engines: the rolling mean and variance are derived
    * from WINDOW SUMS OF INTEGERS (Σn, Σn², frame count) — exact in both
    * engines — and then combined with one fixed double expression
    * (var = (Σn² − (Σn)²/c)/(c−1)), so Spark and the DuckDB twin compute
    * bit-identical doubles; a windowed `stddev_samp` would compare two
    * engines' different accumulation algorithms at the last ulp.
    *
    * Scale: one (type, hour) rollup with map-side partial aggregation —
    * the shuffle carries one row per bucket, not per event. The z-window
    * partitions by event_type; a series is bounded by the time range
    * (8,760 buckets/year), and a production deployment keys the series by
    * (container, metric) — high cardinality, naturally parallel.
    */
  def anomalies(s: SparkSession, d: String, lookback: Int = 24): DataFrame =
    anomaliesOf(Tables.events(s, d), lookback)

  /** [[anomalies]] over an arbitrary `(event_type, ts)` frame. */
  def anomaliesOf(events: DataFrame, lookback: Int = 24): DataFrame = {
    val hourly = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(-lookback, -1)
    val zRaw = (col("n") - col("mean")) / sqrt(col("vr"))
    val z = when(col("vr") > 0d, round(zRaw, 4))
    hourly
      .withColumn("s", sum(col("n")).over(w))
      .withColumn("sq", sum(col("n") * col("n")).over(w))
      .withColumn("c", count(col("n")).over(w))
      .where(col("c") === lookback) // score only full-history buckets
      .withColumn("mean", col("s").cast("double") / col("c"))
      .withColumn("vr",
        (col("sq").cast("double") - col("s").cast("double") * col("s") / col("c")) /
          (col("c") - 1))
      .select(
        col("event_type"), tsMs(col("h")).as("bucket_ms"), col("n"),
        round(col("mean"), 4).as("mean_n"),
        z.as("z"),
        coalesce(abs(z) >= 3d, lit(false)).as("is_anomaly"))
      .orderBy(col("event_type"), col("bucket_ms"))
  }

  /** JSON extraction from the `props` payload column (get_json_object is a
    * codegen'd built-in; no UDF). Aggregates the extracted field so the
    * query also exercises group-by over a derived column.
    */
  def propsKeyStats(s: SparkSession, d: String): DataFrame =
    // no width pin: forced on, it paid on 4 cores at neither sf0.1 nor ×10
    Tables.events(s, d).select(col("event_type"), col("props"))
      .select(
        col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        round(avg(col("k")), 4).as("avg_k"))
      .orderBy(col("event_type"))

  /** Bucketized range join: for each error, how many events the same user
    * produced within ±5 minutes. A naive `|a.ts − b.ts| <= Δ` join is a
    * cross product per user; bucketizing both sides to Δ-sized time cells
    * and joining each error to its {cell−1, cell, cell+1} neighborhood
    * bounds candidate fanout to the rows actually within ~2Δ, then the
    * exact predicate filters — the standard distributed range-join shape
    * (Spark's own range-join hints implement the same idea).
    */
  def eventsNearErrors(s: SparkSession, d: String, deltaMin: Int = 5): DataFrame = {
    val deltaMs = deltaMin * 60L * 1000
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        tsMs(col("ts")).as("ms"))
    val errors = ev.where(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id"),
        col("ms").as("err_ms"), (col("ms") / deltaMs).cast("long").as("cell"))
    val neighbors = errors.select(col("err_id"), col("user_id"), col("err_ms"),
      explode(array(col("cell") - 1, col("cell"), col("cell") + 1)).as("cell"))
    val others = ev
      .select(col("event_id"), col("user_id"), col("ms"),
        (col("ms") / deltaMs).cast("long").as("cell"))
    neighbors.join(others, Seq("user_id", "cell"))
      .where(abs(col("ms") - col("err_ms")) <= deltaMs && col("event_id") =!= col("err_id"))
      .groupBy(col("err_id"))
      .agg(count(lit(1)).as("n_nearby"), min(col("ms")).as("first_ms"), max(col("ms")).as("last_ms"))
      .orderBy(col("err_id"))
  }

  /** Pivot: per-user event counts reshaped into one column per event
    * type. Explicit value list → single-pass partial aggregation (without
    * it Spark first runs a distinct scan to discover columns).
    */
  def eventTypePivot(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .where(col("user_id") < 50)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("user_id"))

  /** Raw JSON field extraction for a slice of events (row-level check). */
  def purchaseProps(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .where(col("event_type") === "purchase" && col("user_id") < 10)
      .select(
        col("event_id"),
        col("user_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"),
        col("value"))
      .orderBy(col("event_id"))

  /** Weekly seasonality profile: event volume per (ISO weekday, hour of
    * day) with each cell's share of its day — the traffic-shape fingerprint
    * capacity planning and anomaly baselining read first ([[anomalies]]
    * flags deviations from history; this IS the history's shape).
    *
    * Plan: the corpus collapses to the 7×24 contingency grid in ONE
    * rollup (map-side partials; the key space is 168 cells at any scale);
    * day totals are a 7-row rollup OF THE GRID, broadcast back. Counts
    * are exact integers, the share is one double division rounded — no
    * order-dependent float accumulation anywhere.
    */
  def seasonality(s: SparkSession, d: String): DataFrame = {
    val grid = Tables.events(s, d)
      .select((weekday(col("ts")) + lit(1)).as("iso_dow"), hour(col("ts")).as("hr"))
      .groupBy(col("iso_dow"), col("hr"))
      .agg(count(lit(1)).as("n"))
    val dayTotals = grid.groupBy(col("iso_dow")).agg(sum(col("n")).as("day_n"))
    grid.join(broadcast(dayTotals), Seq("iso_dow"))
      .select(col("iso_dow"), col("hr"), col("n"),
        round(col("n").cast("double") / col("day_n"), 6).as("day_share"))
      .orderBy(col("iso_dow"), col("hr"))
  }

  /** Rolling-mean-shift changepoint detection: for every day with a full
    * `w`-day window on each side, the absolute shift between the trailing
    * and leading mean daily count; the top `k` shift days per event type.
    *
    * Plan: the corpus collapses to the |days|×|types| daily series in ONE
    * rollup; every window (trailing/leading sums, the per-type rank) runs
    * over that aggregated series — hundreds of rows at any corpus size —
    * so the bounded-cardinality-partition trap doesn't arise. Means are
    * exact long sums divided by the constant w; the shift compares two
    * identically-derived doubles, so ordering is engine-stable.
    */
  def changepoints(s: SparkSession, d: String,
      w: Int = 7, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val series = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val before = series.rowsBetween(-w, -1)
    val after = series.rowsBetween(0, w - 1)
    val shifted = daily
      .withColumn("nb", count(col("n")).over(before))
      .withColumn("na_", count(col("n")).over(after))
      .withColumn("before_avg",
        round(sum(col("n")).over(before).cast("double") / w, 4))
      .withColumn("after_avg",
        round(sum(col("n")).over(after).cast("double") / w, 4))
      .where(col("nb") === w && col("na_") === w)
      .select(col("event_type"), tsMs(col("day")).as("day_ms"),
        col("before_avg"), col("after_avg"),
        round(abs(col("after_avg") - col("before_avg")), 4).as("shift"))
    val rank = Window.partitionBy(col("event_type"))
      .orderBy(col("shift").desc, col("day_ms"))
    shifted.withColumn("rank", row_number().over(rank))
      .where(col("rank") <= k)
      .orderBy(col("event_type"), col("rank"))
  }

  /** Per-type linear trend fit: ordinary least squares of daily event
    * counts against the day index on the DENSE day grid (missing days
    * count 0 — sparse-only fitting biases every growing series), with R²
    * as fit quality — the "is this event type growing, and is the trend
    * real" dashboard number next to [[changepoints]]' discrete shifts.
    *
    * Exactness: slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) is RATIONAL in the
    * integer day-index/count sums, so it micro-quantizes through
    * [[graft.operators.Num.halfUpDiv]]; R² is the one double expression
    * (num²/(den₁·den₂)), written with identical parenthesization in the
    * twin. Degenerate series (one day, constant counts) pin to 0 by
    * definition rather than dividing by zero.
    *
    * Plan: ONE corpus rollup to |types|×|days| cells; the dense grid is
    * |types| × a 1-row bounds broadcast, and the fit is a |types|-key
    * rollup of constant-width long rows.
    */
  def trendFit(s: SparkSession, d: String): DataFrame =
    trendFitOf(Tables.events(s, d))

  /** [[trendFit]] over an arbitrary `(event_type, ts)` frame. */
  def trendFitOf(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val bounds = broadcast(
      daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1")))
    val grid = daily.select(col("event_type")).distinct()
      .crossJoin(bounds)
      .select(col("event_type"), col("d0"),
        explode(sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY")))
          .as("day"))
    val fit = grid.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"),
        call_function("div", tsMs(col("day")) - tsMs(col("d0")),
          lit(86400000L)).as("x"),
        coalesce(col("c"), lit(0L)).as("y"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val den1 = col("n") * col("sxx") - col("sx") * col("sx")
    val den2 = col("n") * col("syy") - col("sy") * col("sy")
    fit.select(col("event_type"), col("n").as("n_days"),
      col("sy").as("n_events"),
      when(den1 === 0L, lit(0.0)).otherwise(
        graft.operators.Num.halfUpDiv(num * 1000000L, den1)
          .cast("double") / 1e6).as("slope_per_day"),
      when(den1 === 0L || den2 === 0L, lit(0.0)).otherwise(
        round(num.cast("double") * num.cast("double") /
          (den1.cast("double") * den2.cast("double")), 6)).as("r2"))
      .orderBy(col("event_type"))
  }

  /** SLO error-budget burn-rate monitor (the SRE multi-window alert): per
    * hour on the DENSE hourly grid, the error share of all events over
    * the trailing 1 h and `longWin` h windows, expressed as a multiple of
    * the error budget (`budgetPpm`, default 1%) — and the alert bit that
    * fires only when BOTH windows burn ≥ `alertMult`× budget, the
    * two-window conjunction that makes burn alerts page on real
    * sustained burn instead of one bad minute (short window = still
    * happening, long window = material budget spend). The dense grid
    * matters for the trailing window: quiet hours are part of the
    * 6-hour span, not skipped.
    *
    * Determinism: burn ratios are ppm longs end to end —
    * burn_ppm = ⌊1e12·err ÷ (tot·budget)⌉ half-up in long arithmetic
    * ([[graft.operators.Num.halfUpDiv]]); a zero-traffic window burns 0.
    * The EMITTED columns stay quantized longs (`burn_short_ppm`,
    * `burn_long_ppm`; 1 000 000 = exactly on budget) and the alert bit
    * compares the longs — no double ever reaches the hashed output, so
    * the oracle twin is portable across SQL engines and float-formatting
    * conventions.
    *
    * Plan: one (hour)-key corpus rollup computing total + error counts
    * in the same pass (conditional agg, no second scan), the dense grid
    * from a broadcast bounds row, and ONE unpartitioned rows-window over
    * the AGGREGATED hourly series — thousands of rows at any corpus
    * size, never raw events (same stance as [[hourlyDenseOf]]).
    */
  def sloBurnRate(s: SparkSession, d: String, budgetPpm: Long = 10000L,
      longWin: Int = 6, alertMult: Long = 2L): DataFrame = {
    require(budgetPpm >= 1, s"need budgetPpm >= 1, got $budgetPpm")
    val hourly = Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("tot"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("err"))
    val span = broadcast(
      hourly.agg(min(col("h")).as("h0"), max(col("h")).as("h1")))
    val grid = span.select(
      explode(sequence(col("h0"), col("h1"), expr("INTERVAL '1' HOUR")))
        .as("h"))
    val wl = Window.orderBy(col("h")).rowsBetween(-(longWin - 1), 0)
    def burn(e: Column, t: Column): Column =
      Num.halfUpDiv(lit(1000000000000L) * e,
        greatest(t, lit(1L)) * budgetPpm)
    grid.join(hourly, Seq("h"), "left")
      .select(col("h"), coalesce(col("tot"), lit(0L)).as("tot"),
        coalesce(col("err"), lit(0L)).as("err"))
      .withColumn("errL", sum(col("err")).over(wl))
      .withColumn("totL", sum(col("tot")).over(wl))
      .select(tsMs(col("h")).as("bucket_ms"),
        col("tot").as("n_events"), col("err").as("n_errors"),
        burn(col("err"), col("tot")).as("burn_short_ppm"),
        burn(col("errL"), col("totL")).as("burn_long_ppm"))
      .withColumn("is_alert",
        col("burn_short_ppm") >= alertMult * 1000000L &&
          col("burn_long_ppm") >= alertMult * 1000000L)
      .orderBy(col("bucket_ms"))
  }

  /** Daily autocorrelation audit: lag-1 and lag-7 Pearson autocorrelation
    * of each type's daily count series on the DENSE day grid — the two
    * numbers that justify everything else in the pack: high r(7) says
    * "weekly seasonality is real, trust [[seasonalityProfile]] /
    * [[forecastBacktest]]'s weekday model", high r(1) says "days carry
    * over, a naive last-value forecast has signal", both ≈ 0 says the
    * series is noise and any fitted trend is overreach. The grid matters:
    * computing lags over OBSERVED days silently compares Friday to Monday
    * across a quiet weekend — zero-filled missing days are part of the
    * series ([[trendFitOf]]'s stance).
    *
    * Determinism: counts are integers, so every Pearson sum (Σy·y₊,
    * Σy, Σy², pair count) is an exact long; the only float ops are two
    * IEEE-exact sqrt over exact longs, one multiply, one divide, then
    * round 6 — spelled identically in the twin.
    *
    * Plan: one (type, day) rollup of the corpus, the dense grid via a
    * broadcast bounds row + `sequence`, lead() windows over the
    * |types|·|days| AGGREGATED series (thousands of rows at any corpus
    * size — the window never sees raw events), one |types|-key rollup.
    */
  /** Burstiness audit: the index of dispersion (Fano factor — variance
    * over mean) of each event type's hourly count series across the
    * corpus-wide DENSE hour span. Dispersion ≈ 1 is Poisson arrivals;
    * ≫ 1 flags bursty/campaign traffic whose z-score anomaly thresholds
    * ([[anomalies]]) and burn windows (sloBurnRate) need wider margins —
    * the one-number companion to [[dailyAutocorr]]'s "is there weekly
    * structure" and [[seasonality]]'s "where is it".
    *
    * The dense grid costs NOTHING here: empty hours contribute 0 to both
    * Σc and Σc², so the span length n comes from the corpus hour bounds
    * arithmetically — no grid materialization, no explode. Variance is
    * the exact population form n·Σc² − (Σc)² over n², so dispersion is
    * (n·Σc² − S²)/(n·S): non-negative by Cauchy–Schwarz, accumulated in
    * DECIMAL(38,0) (c² sums overflow a long at ~4×10⁹ events/hour), and
    * published as one half-up ppm division.
    *
    * Plan: one corpus rollup to (type, hour) cells, a |types|-key rollup
    * of the cells, and a 1-row broadcast of the hour bounds.
    */
  def hourlyDispersion(s: SparkSession, d: String): DataFrame =
    hourlyDispersionOf(Tables.events(s, d))

  /** [[hourlyDispersion]] over a `(ts, event_type)` frame. */
  def hourlyDispersionOf(events: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val hourly = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("c"))
    val bounds = broadcast(
      hourly.agg(min(col("h")).as("h0"), max(col("h")).as("h1")))
    val n = call_function("div",
      unix_millis(col("h1")) - unix_millis(col("h0")), lit(3600000L)) + 1L
    hourly
      .groupBy(col("event_type"))
      .agg(sum(col("c")).as("s"),
        sum(col("c").cast(dec) * col("c").cast(dec)).as("q"),
        count(lit(1)).as("nonzero_hours"))
      .crossJoin(bounds)
      .select(col("event_type"), n.as("n_hours"), col("nonzero_hours"),
        col("s").as("n_events"),
        (Num.halfUpDiv(lit(1000000L) * col("s"), n).cast("double") / 1e6)
          .as("mean_per_hour"),
        (call_function("div",
          lit(2L).cast(dec) * lit(1000000L) *
            (n.cast(dec) * col("q") - col("s").cast(dec) * col("s")) +
            n.cast(dec) * col("s"),
          lit(2L).cast(dec) * n * col("s"))
          .cast("double") / 1e6).as("dispersion"))
      .orderBy(col("event_type"))
  }

  def dailyAutocorr(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val bounds = broadcast(
      daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1")))
    val grid = daily.select(col("event_type")).distinct()
      .crossJoin(bounds)
      .select(col("event_type"),
        explode(sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY")))
          .as("day"))
    val dense = grid.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("c"), lit(0L)).as("y"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val ld = dense.select(col("event_type"), col("y"),
      lead(col("y"), 1).over(w).as("y1"),
      lead(col("y"), 7).over(w).as("y7"))
    def lagAgg(yl: String, tag: String) = Seq(
      count(col(yl)).as(s"n$tag"),
      sum(when(col(yl).isNotNull, col("y"))).as(s"sa$tag"),
      sum(col(yl)).as(s"sb$tag"),
      sum(when(col(yl).isNotNull, col("y") * col("y"))).as(s"saa$tag"),
      sum(col(yl) * col(yl)).as(s"sbb$tag"),
      sum(col("y") * col(yl)).as(s"sab$tag"))
    val aggs = (count(lit(1)).as("n_days") +: lagAgg("y1", "1")) ++
      lagAgg("y7", "7")
    def r(tag: String): Column = {
      val da = col(s"n$tag") * col(s"saa$tag") - col(s"sa$tag") * col(s"sa$tag")
      val db = col(s"n$tag") * col(s"sbb$tag") - col(s"sb$tag") * col(s"sb$tag")
      val num = col(s"n$tag") * col(s"sab$tag") - col(s"sa$tag") * col(s"sb$tag")
      when(da <= 0L || db <= 0L, lit(0.0)).otherwise(
        round(num.cast("double") /
          (sqrt(da.cast("double")) * sqrt(db.cast("double"))), 6))
    }
    ld.groupBy(col("event_type")).agg(aggs.head, aggs.tail: _*)
      .select(col("event_type"), col("n_days"),
        r("1").as("r_lag1"), r("7").as("r_lag7"))
      .orderBy(col("event_type"))
  }

  /** Seasonal-naive forecast backtest: hold out the last `horizonDays`
    * days, predict each held-out hour's event count per type as the mean
    * hourly count of the SAME (ISO weekday, hour) cell in the training
    * span, and report per-type MAE + bias over the observed test hours
    * (hours with zero events have no row on either side — the comparison
    * is over hours that occurred, which both engines define identically).
    *
    * Plan: ONE corpus rollup to (type, hour) cells; the 168·|types|-cell
    * weekday-hour model is a conditional-avg WINDOW over that aggregated
    * grid (grid-sized rows, never raw events), so train and test branches
    * share the single rollup instead of re-running the corpus scan under
    * a model-broadcast job (the r9 spelling paid 3 corpus passes across 3
    * actions — memory: ReusedExchange does not fire across a broadcast
    * boundary). Errors quantize to integer 10⁻⁴-units before the final
    * |types|-key rollup, so MAE/bias are exact long ratios on both
    * engines. The split point is a 1-row collect inlined as a literal
    * (model-sized driver state; a "no driver round-trip" broadcast still
    * costs the same corpus aggregate plus an exchange).
    */
  def forecastBacktest(s: SparkSession, d: String,
      horizonDays: Int = 7): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_type"), col("ts"),
      (weekday(col("ts")) + lit(1)).as("iso_dow"), hour(col("ts")).as("hr"),
      date_trunc("hour", col("ts")).as("hour_ts"))
    val splitTs = ev
      .agg((date_trunc("day", max(col("ts"))) -
        expr(s"INTERVAL $horizonDays DAYS")).as("split_ts"))
      .collect()(0).get(0)
    val hourly = ev
      .groupBy(col("event_type"), col("hour_ts"), col("iso_dow"), col("hr"))
      .agg(count(lit(1)).as("n"))
      .withColumn("is_test", col("hour_ts") >= lit(splitTs))
    val w = Window.partitionBy(col("event_type"), col("iso_dow"), col("hr"))
    hourly
      .withColumn("pred",
        round(avg(when(!col("is_test"), col("n"))).over(w), 4))
      .where(col("is_test") && col("pred").isNotNull)
      .select(col("event_type"),
        round(abs(col("n") - col("pred")) * 1e4, 0).cast("long").as("ae_q"),
        round((col("n") - col("pred")) * 1e4, 0).cast("long").as("e_q"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_test_hours"),
        // half-up in longs, not round(double): Num.quantMean stance
        // (bias can be negative — halfUpDiv rounds away from zero)
        Num.quantMean(sum(col("ae_q")), count(lit(1)), 1e4).as("mae"),
        Num.quantMean(sum(col("e_q")), count(lit(1)), 1e4).as("bias"))
      .orderBy(col("event_type"))
  }
}
