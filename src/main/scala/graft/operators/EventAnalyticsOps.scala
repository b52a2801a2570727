package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Product-analytics pack over `events`: ordered funnels, cohort
  * retention, and transition matrices — the query shapes a log-analytics
  * user reaches for once the reference's raw scans (SURVEY.md §2.1 O4/O6)
  * have answered "what happened" and the question becomes "in what order".
  *
  * Ordering contract: within a user, `event_id` is unique and ascends with
  * event time in the fixture, so sequence logic keys on `event_id` — an
  * integer total order with no equal-timestamp ambiguity (ms truncation
  * can collide; ids cannot).
  */
object EventAnalyticsOps {

  /** The funnel step sequence: signup → view → click → purchase. */
  private val FunnelSteps = Seq("signup", "view", "click", "purchase")

  /** Ordered funnel: for each step k, how many users produced the first k
    * step types as an ordered subsequence of their event stream. Greedy
    * earliest-match is exact here: if ANY ordered chain exists, the chain
    * taking the earliest valid event at each step exists.
    *
    * Plan: ONE shuffle on user_id after filtering to funnel event types
    * only (per-user state is the user's funnel events, not their whole
    * stream); the greedy walk over each user's sorted (event_id, type)
    * list is a codegen'd `aggregate` HOF — no second pass, no join chain.
    * The per-step rollup then reduces ≤ |steps| rows per user. The
    * stepwise min-join alternative — step k's table joined to step
    * k−1's — scans the event table once per step and shuffles k times.
    */
  def funnel(s: SparkSession, d: String): DataFrame =
    funnelOf(Tables.events(s, d))

  /** [[funnel]] over an arbitrary `(user_id, event_id, event_type)` frame. */
  def funnelOf(events: DataFrame): DataFrame = {
    val walk = (acc: org.apache.spark.sql.Column, x: org.apache.spark.sql.Column) => {
      val t = x.getField("event_type")
      FunnelSteps.zipWithIndex.foldLeft(acc) { case (e, (step, i)) =>
        when(acc === i && t === step, i + 1).otherwise(e)
      }
    }
    events
      .where(col("event_type").isin(FunnelSteps: _*))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("event_id"), col("event_type")))).as("evs"))
      .select(aggregate(col("evs"), lit(0), walk).as("furthest"))
      .where(col("furthest") >= 1)
      // a user at step k counts toward every step ≤ k: explode the ≤ 4
      // reached indices so absent intermediate histogram bins can't drop
      // a step row, then roll up
      .select(explode(sequence(lit(1), col("furthest"))).as("step_idx"))
      .groupBy(col("step_idx"))
      .agg(count(lit(1)).as("n_users"))
      .select(
        col("step_idx").cast("int").as("step_idx"),
        element_at(array(FunnelSteps.map(lit): _*), col("step_idx").cast("int")).as("step"),
        col("n_users"))
      .orderBy(col("step_idx"))
  }

  /** Daily cohort retention: users grouped by first-seen day; for each
    * (cohort day, day offset) the distinct users active that day. The
    * classic triangle matrix behind every retention curve.
    *
    * Plan: the cohort day is a window min over user_id — one shuffle —
    * and the per-(cohort, offset) distinct count shuffles constant-width
    * rows; no user-dimension join materializes (at 100 TB the user dim is
    * itself large — deriving the cohort from the fact table keeps this a
    * window + one distinct-aggregate plan).
    */
  def cohortRetention(s: SparkSession, d: String): DataFrame =
    cohortRetentionOf(Tables.events(s, d))

  /** [[cohortRetention]] over an arbitrary `(user_id, ts)` frame. */
  def cohortRetentionOf(events: DataFrame): DataFrame = {
    val day = date_trunc("day", col("ts"))
    events
      .select(col("user_id"), day.as("d"))
      .withColumn("cohort", min(col("d")).over(Window.partitionBy(col("user_id"))))
      .groupBy(
        unix_millis(col("cohort")).as("cohort_ms"),
        datediff(col("d"), col("cohort")).cast("int").as("offset_days"))
      .agg(count_distinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_ms"), col("offset_days"))
  }

  /** Daily actives + rolling 7-day actives (the DAU/WAU "stickiness"
    * pair). Exact rolling distinct is not window-composable from daily
    * distincts (users overlap across days), so each active (user, day)
    * fact CONTRIBUTES ITSELF to the 7 window-end days it falls into and
    * the rolling count is a plain distinct-aggregate per window day.
    *
    * Plan: events first collapse to distinct (user, day) — the only
    * corpus-sized rollup; the ×7 explode then runs over active-user-days
    * (bounded, far smaller than events) and both distinct counts are
    * standard two-phase partial aggregates. Window days with no activity
    * in their trailing week don't appear (same stance as the anomaly
    * ring: observed buckets only).
    */
  def rollingActives(s: SparkSession, d: String, windowDays: Int = 7): DataFrame =
    rollingActivesOf(Tables.events(s, d), windowDays)

  /** [[rollingActives]] over an arbitrary `(user_id, ts)` frame. */
  def rollingActivesOf(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val userDays = events
      .select(col("user_id"), date_trunc("day", col("ts")).as("d"))
      .distinct()
    val daily = userDays
      .groupBy(col("d"))
      .agg(count(lit(1)).as("dau"))
      .select(unix_millis(col("d")).as("day_ms"), col("dau"))
    // NOT width-pinned (r14, measured): AQE coalesces the distinct's
    // exchange to ~2 partitions at fixture scale and the ×windowDays
    // explode runs narrow, but a round-robin repartition of user-days
    // measured a b2b REGRESSION (min 1.678 → 1.866 s at the ×10
    // fixture, every warm sample higher) — the extra exchange costs more
    // than the widened fanout saves on this bounded rollup.
    val rolling = userDays
      .select(col("user_id"),
        explode(sequence(col("d"),
          col("d") + expr(s"INTERVAL '${windowDays - 1}' DAY"),
          expr("INTERVAL '1' DAY"))).as("w"))
      .groupBy(col("w"))
      .agg(count_distinct(col("user_id")).as(s"active_${windowDays}d"))
      .select(unix_millis(col("w")).as("day_ms"), col(s"active_${windowDays}d"))
    daily.join(rolling, Seq("day_ms"))
      .withColumn("stickiness",
        round(col("dau").cast("double") / col(s"active_${windowDays}d"), 6))
      .orderBy(col("day_ms"))
  }

  /** Funnel conversion timing: among users completing the whole funnel
    * (greedy earliest-match chain, exactly [[funnel]]'s walk), the
    * distribution of signup→purchase duration — the "how long does
    * conversion take" companion to the step counts.
    *
    * Plan: the same single user_id shuffle as [[funnel]]; the walk
    * additionally carries the chain's first/last timestamps in its
    * aggregate state (a 3-field struct instead of an int — still one
    * codegen'd HOF pass, no join); converted users reduce to ONE summary
    * row with exact percentiles inside the aggregate.
    */
  def funnelTiming(s: SparkSession, d: String): DataFrame =
    funnelTimingOf(Tables.events(s, d))

  /** [[funnelTiming]] over an arbitrary `(user_id, event_id, event_type, ts)` frame. */
  def funnelTimingOf(events: DataFrame): DataFrame = {
    val zero = struct(
      lit(0).as("stage"), lit(0L).as("start_ms"), lit(0L).as("end_ms"))
    val walk = (acc: org.apache.spark.sql.Column, x: org.apache.spark.sql.Column) => {
      val t = x.getField("event_type")
      val ms = x.getField("ts_ms")
      val stage = acc.getField("stage")
      val start = acc.getField("start_ms")
      when(stage === 0 && t === FunnelSteps(0),
          struct(lit(1).as("stage"), ms.as("start_ms"), lit(0L).as("end_ms")))
        .when(stage === 1 && t === FunnelSteps(1),
          struct(lit(2).as("stage"), start.as("start_ms"), lit(0L).as("end_ms")))
        .when(stage === 2 && t === FunnelSteps(2),
          struct(lit(3).as("stage"), start.as("start_ms"), lit(0L).as("end_ms")))
        .when(stage === 3 && t === FunnelSteps(3),
          struct(lit(4).as("stage"), start.as("start_ms"), ms.as("end_ms")))
        .otherwise(acc)
    }
    events
      .where(col("event_type").isin(FunnelSteps: _*))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(
        col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("ts_ms")))).as("evs"))
      .select(aggregate(col("evs"), zero, walk).as("w"))
      .where(col("w.stage") === 4)
      .select((col("w.end_ms") - col("w.start_ms")).as("dur_ms"))
      .agg(
        count(lit(1)).as("n_converted"),
        min(col("dur_ms")).as("min_ms"),
        graft.functions.QuantilesAgg
          .quantiles(col("dur_ms").cast("double"), Seq(0.5, 0.9)).as("dqs"),
        max(col("dur_ms")).as("max_ms"))
      .select(col("n_converted"), col("min_ms"),
        round(element_at(col("dqs"), 1), 2).as("p50_ms"),
        round(element_at(col("dqs"), 2), 2).as("p90_ms"),
        col("max_ms"))
  }

  /** Top event-type trigram paths: the most frequent length-3 consecutive
    * sequences across users — [[transitionMatrix]]'s order-2 sibling and
    * the "common user journeys" query behind path-analysis UIs.
    *
    * Plan: two leads over the SAME (user_id, event_id) window — one
    * shuffle, the sessionization shape — then a rollup bounded by
    * |types|³, never the event count; top-k ties break on the full path.
    */
  def topPaths(s: SparkSession, d: String, k: Int = 15): DataFrame =
    topPathsOf(Tables.events(s, d), k)

  /** [[topPaths]] over an arbitrary `(user_id, event_id, event_type)` frame. */
  def topPathsOf(events: DataFrame, k: Int = 15): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    events
      .select(col("user_id"), col("event_id"), col("event_type"))
      .withColumn("s2", lead(col("event_type"), 1).over(w))
      .withColumn("s3", lead(col("event_type"), 2).over(w))
      .where(col("s2").isNotNull && col("s3").isNotNull)
      .groupBy(col("event_type").as("s1"), col("s2"), col("s3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("s1"), col("s2"), col("s3"))
      .limit(k)
  }

  /** Inter-arrival time distribution: per-user consecutive-event gaps,
    * rolled up to one distribution row per event-count band — the
    * "how bursty is traffic" summary behind ingest sizing (the reference's
    * tx thresholds — 10k lines / 100 ms burst timeout — are tuned against
    * exactly this distribution).
    *
    * Plan: one lag window on the sessionization shuffle shape; per-user
    * gap percentiles reduce inside a user_id aggregate, then the band
    * rollup is |bands|-sized. Band = power-of-two bucket of the user's
    * event count (the zipf-profile idiom: exact integer semantics on both
    * engines).
    */
  def interArrival(s: SparkSession, d: String): DataFrame =
    interArrivalOf(Tables.events(s, d))

  /** [[interArrival]] over an arbitrary `(user_id, event_id, ts)` frame. */
  def interArrivalOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    events
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"))
      .withColumn("gap_ms", col("ms") - lag(col("ms"), 1).over(w))
      .where(col("gap_ms").isNotNull)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_gaps"),
        element_at(graft.functions.QuantilesAgg
          .quantiles(col("gap_ms").cast("double"), Seq(0.5)), 1).as("p50"),
        max(col("gap_ms")).as("max_gap"))
      .groupBy((length(bin(col("n_gaps"))) - 1).cast("int").as("gap_band"))
      .agg(
        count(lit(1)).as("n_users"),
        round(avg(col("p50")), 2).as("avg_p50_ms"),
        max(col("max_gap")).as("max_gap_ms"))
      .orderBy(col("gap_band"))
  }

  /** Session-basket association: support / confidence / lift for pairs of
    * event types co-occurring in the same user session — market-basket
    * analysis with the 30-minute session as the basket. Session boundary
    * semantics are [[TimeSeriesOps.sessions]]': events ≤ 30 min apart (in
    * epoch-ms, ts order) share a session.
    *
    * Plan (r6 rework, measured in tools/BasketsAB): the native
    * `session_window` aggregation builds each session's DISTINCT type-set
    * in ONE shuffle — 0.26 s vs 0.64 s for the lag-window sessionization
    * at sf0.1, because no explicit per-user sort pass materializes — then
    * one in-row explode emits a session marker, each member type, and
    * each ordered pair, and one tiny aggregation counts them all. The
    * counts table is bounded by |event types|² (+|types|+1), i.e.
    * model-sized, so the support/confidence/lift assembly is driver
    * arithmetic (the k-means-model stance), not three more joins against
    * re-read shuffle output.
    *
    * Measured at sf0.1 (min of 3): four-consumer join form 0.93 s,
    * emit+tiny-joins 1.06 s, session_window+emit+driver 0.86 s; the
    * residual over the 0.37 s basket build is one extra stage barrier —
    * fixed cost, not data-proportional.
    */
  def sessionBaskets(s: SparkSession, d: String, gapMin: Int = 30): DataFrame =
    sessionBasketsOf(Tables.events(s, d), gapMin)

  /** [[sessionBaskets]] over an arbitrary `(user_id, event_type, ts)` frame. */
  def sessionBasketsOf(events: DataFrame, gapMin: Int = 30): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val sep = ""
    // ms-truncated ts + 1 ms widening ⇒ merge on diff_ms <= gap exactly
    // (the q_ts_sessions boundary trick)
    val tsMsTrunc = timestamp_millis(unix_millis(col("ts")))
    val types = col("types")
    val counts = events
      .groupBy(col("user_id"),
        session_window(tsMsTrunc, s"$gapMin minutes 1 millisecond"))
      .agg(sort_array(collect_set(col("event_type"))).as("types"))
      .select(explode(concat(
        array(lit("")),
        types,
        flatten(transform(types, (t, i) =>
          transform(slice(types, i + 2, size(types)),
            u => concat_ws(sep, t, u))))))
        .as("key"))
      .groupBy(col("key")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val nSessions = counts.find(_._1.isEmpty).map(_._2).getOrElse(0L)
    val nType = counts.filter(r => r._1.nonEmpty && !r._1.contains(sep)).toMap
    // Spark's round() on double goes through BigDecimal.valueOf (decimal
    // string repr) — mirror it exactly, since the oracle rounds with the
    // engine round() both sides
    def r6(v: Double): Double = java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    counts.filter(_._1.contains(sep)).toSeq
      .map { case (k, nBoth) =>
        val Array(ta, tb) = k.split(sep)
        (ta, tb, nBoth,
          r6(nBoth.toDouble / nSessions),
          r6(nBoth.toDouble / nType(ta)),
          r6(nBoth.toDouble * nSessions / (nType(ta) * nType(tb))))
      }
      .sortBy(r => (r._1, r._2))
      .toDF("ta", "tb", "n_both", "support", "confidence", "lift")
  }

  /** Event-type transition matrix: counts and row-normalized probabilities
    * of consecutive (prev → next) event pairs per user — the first-order
    * Markov summary of user behavior.
    *
    * Plan: one lag window over (user_id, event_id) — the same shuffle
    * shape as sessionization — then a partial-agg rollup to the
    * |types|² matrix; the row normalization runs over that ≤ 25-row
    * result, not the event table.
    */
  def transitionMatrix(s: SparkSession, d: String): DataFrame =
    transitionMatrixOf(Tables.events(s, d))

  /** [[transitionMatrix]] over an arbitrary `(user_id, event_id, event_type)` frame. */
  def transitionMatrixOf(events: DataFrame): DataFrame = {
    val wUser = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val wFrom = Window.partitionBy(col("from_type"))
    events
      .select(col("user_id"), col("event_id"), col("event_type"))
      .withColumn("from_type", lag(col("event_type"), 1).over(wUser))
      .where(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round(col("n") / sum(col("n")).over(wFrom), 6))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Markov top-1 predictability per event type: for each `from_type`,
    * the most likely next event and the accuracy a predict-the-argmax
    * model achieves — the "how deterministic is the product flow" audit
    * that tells you whether [[transitionMatrixOf]]'s chain is worth
    * modeling at all (top1_acc ≈ 1/|types| says the stream is noise;
    * high accuracy flags scripted/bot-like traffic).
    *
    * Plan: the same single user-window pass as the transition matrix,
    * collapsed to |types|² cells; the per-from arg-max is max(struct)
    * over cells (no rank window) and the accuracy is a [[Num.halfUpDiv]]
    * ppm. Adding this audit to a pipeline already computing transitions
    * costs one |types|-key rollup of the cell grid.
    */
  def transitionPredictability(s: SparkSession, d: String): DataFrame =
    transitionPredictabilityOf(Tables.events(s, d))

  /** [[transitionPredictability]] over a `(user_id, event_id, event_type)` frame. */
  def transitionPredictabilityOf(events: DataFrame): DataFrame = {
    val wUser = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val cells = events
      .select(col("user_id"), col("event_id"), col("event_type"))
      .withColumn("from_type", lag(col("event_type"), 1).over(wUser))
      .where(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    cells
      .groupBy(col("from_type"))
      .agg(
        sum(col("n")).as("n_transitions"),
        count(lit(1)).as("n_next_types"),
        max(struct(col("n").as("n"), col("to_type").as("to_type"))).as("top"))
      .select(col("from_type"), col("n_transitions"), col("n_next_types"),
        col("top.to_type").as("top_next"), col("top.n").as("top_n"),
        (Num.halfUpDiv(lit(1000000L) * col("top.n"), col("n_transitions"))
          .cast("double") / 1e6).as("top1_acc"))
      .orderBy(col("from_type"))
  }

  /** Chi-squared independence audit: is the event-type mix independent of
    * the day of week? Pearson χ² over the type × weekday contingency
    * table plus Cramér's V — the drift/seasonality screen run before
    * trusting any per-day aggregate comparison, and the categorical
    * sibling of [[graft.operators.TextOps.signalCorr]].
    *
    * Plan: the corpus collapses to the contingency table in one rollup
    * (|types|·7 cells); the zero-observed cells a χ² must still count are
    * restored by a dense types×days grid (tiny by construction). Marginals
    * are windows over cells. Everything is integer counts; per-cell
    * contributions quantize to integer nano-units (the sourceDivergence
    * stance) so the one-row result hash-matches exactly.
    */
  def typeDayIndependence(s: SparkSession, d: String): DataFrame =
    typeDayIndependenceOf(Tables.events(s, d))

  /** [[typeDayIndependence]] over a `(ts, event_type)` frame. */
  def typeDayIndependenceOf(events: DataFrame): DataFrame = {
    val obs = events
      .select(col("event_type").as("t"), dayofweek(col("ts")).as("d"))
      .groupBy(col("t"), col("d")).agg(count(lit(1)).as("o"))
    val grid = obs.select(col("t")).distinct()
      .crossJoin(broadcast(obs.select(col("d")).distinct())) // <= 7 rows
    val cells = grid.join(obs, Seq("t", "d"), "left")
      .select(col("t"), col("d"), coalesce(col("o"), lit(0L)).as("o"))
    val tot = cells.agg(
      sum(col("o")).as("n"),
      countDistinct(col("t")).as("r"), countDistinct(col("d")).as("c"))
    cells
      .withColumn("rt", sum(col("o")).over(Window.partitionBy(col("t"))))
      .withColumn("ct", sum(col("o")).over(Window.partitionBy(col("d"))))
      .crossJoin(broadcast(tot)) // 1 row
      .withColumn("e", col("rt").cast("double") * col("ct") / col("n"))
      .withColumn("cq",
        round((col("o") - col("e")) * (col("o") - col("e")) / col("e") * 1e9)
          .cast("long"))
      .agg(
        first(col("n")).as("n_events"), first(col("r")).as("n_types"),
        first(col("c")).as("n_days"), sum(col("cq")).as("sumq"))
      .select(
        col("n_events"), col("n_types"), col("n_days"),
        ((col("n_types") - 1) * (col("n_days") - 1)).as("dof"),
        round(col("sumq").cast("double") / 1e9, 4).as("chi2"),
        round(sqrt(col("sumq").cast("double") / 1e9 /
          (col("n_events") * least(col("n_types") - 1, col("n_days") - 1))), 6)
          .as("cramers_v"))
  }

  /** Last-touch attribution: every purchase is credited to the last
    * preceding NON-purchase event type on that user's timeline (the
    * channel), `direct` when nothing precedes — the marketing-attribution
    * shape, and the same carry-forward machinery as
    * [[graft.operators.RelationalOps.lastClickBeforeError]]'s as-of join.
    *
    * Plan: ONE user_id window (the sessionization shuffle shape) with a
    * conditional last(ignoreNulls) over the strict past; the channel
    * rollup is |types|-bounded and the share normalizer rides a 1-row
    * broadcast.
    */
  def lastTouchAttribution(s: SparkSession, d: String): DataFrame =
    lastTouchAttributionOf(Tables.events(s, d))

  /** [[lastTouchAttribution]] over a `(user_id, event_id, event_type,
    * value)` frame. */
  def lastTouchAttributionOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val attributed = events
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
      .withColumn("channel", coalesce(
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w),
        lit("direct")))
      .where(col("event_type") === "purchase")
    val tot = attributed.agg(count(lit(1)).as("total_purchases"))
    attributed
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        round(sum(col("value")), 2).as("attributed_value"))
      .crossJoin(broadcast(tot)) // 1 row
      .select(
        col("channel"), col("n_purchases"),
        round(col("n_purchases").cast("double") / col("total_purchases"), 6)
          .as("share"),
        col("attributed_value"))
      .orderBy(col("channel"))
  }

  /** Activity-concentration audit: the Gini coefficient of events-per-user
    * plus top-1% / top-10% / single-heaviest shares — the "is our traffic
    * (or crawl, or label effort) dominated by a few actors?" question, and
    * the quantitative input to skew decisions (salting thresholds, per-key
    * caps) that [[graft.plans.SkewOps.keySkewAudit]] answers per join key.
    *
    * Scale design — NO per-user global sort. The naive Gini needs ranks
    * over all users (a one-partition window at corpus scale). Instead,
    * users with equal counts are interchangeable, so everything reduces to
    * the per-COUNT histogram (c, m): a rank range [start+1, start+m] per
    * group gives Σ rank·cᵢ = Σ_c c·(m·start + m(m+1)/2) exactly, and the
    * top-k slice always cuts inside one group, so top-k events =
    * min(cum_e − (cum_u − k)·c) over groups with cum_u ≥ k. Two corpus
    * shuffles (user rollup, count rollup); every window runs over the
    * histogram — |distinct activity levels| rows (≤ max per-user count,
    * thousands in practice at any corpus size). All sums are integer-exact;
    * the only double math is the final share/Gini expressions, identical
    * IEEE on both engines. m(m+1) is always even → shiftright(·,1) stays
    * in exact integer space where /2 would detour through doubles.
    */
  /** User behavioral-diversity audit: per-user Gini impurity of the
    * event-type distribution (1 − Σpᵢ²), bucketed into deciles — the
    * bot/automation screen ([[activityConcentration]] finds users with
    * too MANY events; this finds users doing only ONE thing, however
    * much of it). Gini is rational in the counts, so the whole audit is
    * exact long arithmetic end to end (the `TextOps.charDiversity`
    * stance on behavioral data).
    *
    * Plan: (user, type) rollup → per-user fold (both user-keyed,
    * high-cardinality — partial aggregation does the heavy lifting) →
    * ≤ 11-key decile rollup of constant-width rows.
    */
  def userDiversity(s: SparkSession, d: String): DataFrame =
    userDiversityOf(Tables.events(s, d))

  /** [[userDiversity]] over an arbitrary `(user_id, event_type)` frame. */
  def userDiversityOf(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("user_id"))
      .agg(sum(col("c")).as("n"), sum(col("c") * col("c")).as("ssq"))
      .select(col("n"),
        graft.operators.Num.halfUpDiv(
          lit(1000000L) * (col("n") * col("n") - col("ssq")),
          col("n") * col("n")).as("gini_ppm"))
      .groupBy(call_function("div", col("gini_ppm"), lit(100000L))
        .cast("int").as("decile"))
      .agg(count(lit(1)).as("n_users"),
        (graft.operators.Num.halfUpDiv(sum(col("gini_ppm")), count(lit(1)))
          .cast("double") / 1e6).as("mean_gini"),
        (graft.operators.Num.halfUpDiv(sum(col("n")), count(lit(1)))
          .cast("double")).as("mean_events"),
        sum(when(col("gini_ppm") === 0L, 1L).otherwise(0L))
          .as("n_single_type"))
      .orderBy(col("decile"))

  def activityConcentration(s: SparkSession, d: String): DataFrame =
    activityConcentrationOf(Tables.events(s, d))

  /** [[activityConcentration]] over an arbitrary `(user_id)` frame. */
  def activityConcentrationOf(events: DataFrame): DataFrame = {
    val hist = events
      .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      .groupBy(col("c")).agg(count(lit(1)).as("m"))
    val wAsc = Window.orderBy(col("c")).rowsBetween(Window.unboundedPreceding, -1)
    val totals = hist
      .withColumn("start", coalesce(sum(col("m")).over(wAsc), lit(0L)))
      .agg(
        sum(col("m")).as("n_users"),
        sum(col("c") * col("m")).as("n_events"),
        sum(col("c") * (col("m") * col("start") +
          shiftright(col("m") * (col("m") + 1), 1))).as("t"))
    val wDesc = Window.orderBy(col("c").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val k1 = expr("(n_users + 99) DIV 100")
    val k10 = expr("(n_users + 9) DIV 10")
    hist
      .withColumn("cum_u", sum(col("m")).over(wDesc))
      .withColumn("cum_e", sum(col("c") * col("m")).over(wDesc))
      .crossJoin(broadcast(totals)) // 1 row
      .agg(
        first(col("n_users")).as("n_users"),
        first(col("n_events")).as("n_events"),
        first(col("t")).as("t"),
        min(when(col("cum_u") >= k1,
          col("cum_e") - (col("cum_u") - k1) * col("c"))).as("e1"),
        min(when(col("cum_u") >= k10,
          col("cum_e") - (col("cum_u") - k10) * col("c"))).as("e10"),
        max(col("c")).as("max_c"))
      .select(
        col("n_users"), col("n_events"),
        round(lit(2.0) * col("t") /
            (col("n_users").cast("double") * col("n_events"))
          - (col("n_users") + lit(1.0)) / col("n_users"), 6).as("gini"),
        round(col("e1").cast("double") / col("n_events"), 6).as("top1_share"),
        round(col("e10").cast("double") / col("n_events"), 6).as("top10_share"),
        round(col("max_c").cast("double") / col("n_events"), 6).as("max_user_share"))
  }
}
