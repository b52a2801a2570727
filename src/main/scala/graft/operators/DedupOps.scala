package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.sketch._

/** Deduplication pack over `documents` — exact and near-duplicate
  * detection, the workhorse operators of a 100 TB training-data pipeline.
  *
  * Scale design:
  *  - Exact dedup is a hash groupBy on a constant-size fingerprint
  *    (md5), never on the full text → the shuffle carries 32 bytes + ids
  *    per row, not documents.
  *  - Sketches (shingles / MinHash / SimHash) are native Catalyst
  *    expressions with codegen (graft.functions.Sketch) — one compiled
  *    pass per row; the HOF formulation was ~1 ms/row interpreted.
  *  - N-gram Jaccard self-joins on an 8-byte shingle hash, not the shingle
  *    string → the shuffle carries (hash, id, set-size) only.
  *  - MinHash/LSH: k=32 signatures banded into 8 bands of 4 → join on
  *    (band, band-hash) buckets only. Candidate pairs are reduced to bare
  *    (a, b) id pairs BEFORE dedup so no signature rides the shuffle; the
  *    estimate re-joins the (small) signature table. O(n·k) compute, the
  *    full O(n²) comparison never happens.
  *  - SimHash: 64-bit signature; near-dup = Hamming distance <= 3;
  *    candidates from equality on any of 4 16-bit chunks (pigeonhole
  *    guarantees recall at distance <= 3).
  */
object DedupOps {

  /** Exact duplicate groups by full-text fingerprint: canonical (minimum)
    * doc_id per distinct text + the duplicate count.
    */
  def exactDuplicates(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("canonical_doc_id"), count(lit(1)).as("n_copies"))
      .select(col("canonical_doc_id"), col("n_copies"), col("fp"))
      .orderBy(col("canonical_doc_id"))

  /** Dedup impact report: the duplicate-group size histogram — for each
    * multiplicity, how many distinct texts occur that many times, how many
    * documents they account for, and how many rows exact dedup would
    * remove. THE first question asked of a new corpus ("how much does
    * dedup buy?") and the scale-safe summary of pathological duplicate
    * groups that pair-level audits must cap (see [[graft.operators
    * .TrainPrepOps.splitLeakage]]). Two shuffles, both on constant-size
    * keys (32-byte fp, then a long), output rows = number of distinct
    * multiplicities (tens).
    */
  def dedupImpact(s: SparkSession, d: String): DataFrame =
    dedupImpactOf(Tables.documents(s, d))

  /** [[dedupImpact]] over an arbitrary `(text, …)` frame. */
  def dedupImpactOf(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("fp"))
      .agg(count(lit(1)).as("group_size"))
      .groupBy(col("group_size"))
      .agg(count(lit(1)).as("n_groups"))
      .select(
        col("group_size"), col("n_groups"),
        (col("group_size") * col("n_groups")).as("n_docs"),
        ((col("group_size") - 1) * col("n_groups")).as("n_removable"))
      .orderBy(col("group_size"))

  /** Distinct word-3-gram shingles per document (empty → dropped). */
  def shingles(s: SparkSession, d: String, n: Int = 3): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), wordShingles(split(col("text"), " "), n).as("shs"))
      .where(size(col("shs")) > 0)

  /** Near-duplicate pairs by exact n-gram Jaccard similarity >= minSim.
    * Candidate pairs come from a self-join on shared shingles — keyed by
    * the shingle's 64-bit hash so the shuffle never carries shingle text —
    * grouped so each pair is counted once with its intersection size; then
    * |A∪B| = |A|+|B|−|A∩B| gives exact Jaccard without comparing texts.
    *
    * `maxDf` is the skew guard: a shingle shared by f documents contributes
    * f·(f−1)/2 candidate rows, so one boilerplate shingle ("all rights
    * reserved ...") at f=10⁶ would alone emit 5·10¹¹ pairs. Dropping
    * shingles with document frequency > maxDf bounds per-key join fanout at
    * maxDf²; pairs sharing only ultra-common shingles are below any useful
    * similarity threshold anyway. Set maxDf = 0 to disable. NOTE: the cap
    * removes capped shingles from the similarity computation itself (both
    * intersection and set sizes), and the DuckDB oracle applies the same
    * rule, so results stay exact w.r.t. the capped shingle universe.
    */
  def ngramJaccardPairs(
      s: SparkSession, d: String,
      minSim: Double = 0.2, maxDf: Long = 1000L): DataFrame = {
    // The df-capped index and the per-doc sizes are part of the
    // materialized shingle index (cached per (dir, maxDf) like the raw
    // index): at 100 TB a dedup pipeline builds its document-frequency
    // index once and runs many pair queries against it, and the df
    // aggregate + semi-join are pure functions of the corpus + cap.
    // aggregation + joins, not windows: a window would globally sort the
    // exploded table; these are key-only aggregates AQE broadcasts when small
    // (Measured dead end, kept as a warning: persisting the index
    // pre-`repartition(col("sh_h"))` to make the self-join exchange-free
    // was 5× slower warm on local[32] — the exchange-free sort-merge join
    // pins the pair explosion to the cache's partition count and loses
    // AQE's runtime re-planning of that skewed stage; the saved exchange
    // is tiny next to the pair stage itself.)
    // (Measured dead end #3: AllPairs/PPJoin prefix filtering — index only
    // each doc's (|d| − ⌈t·|d|⌉ + 1) globally-rarest shingles; any pair
    // with J ≥ t must collide in both prefixes, then verify exactly. At
    // t = 0.2 the prefix keeps 80% of each set, and measured at sf0.1 it
    // cuts the pair stage only 1.27 M → 856 k rows (−32%) while adding a
    // candidate-dedup shuffle and an array-intersection verify join over
    // 788 k distinct candidates. The filter's power scales with t — at
    // t ≥ 0.8 the prefix is ~20% of each set and the idea wins — but at
    // this query's threshold the added passes cost more than the pruning
    // saves, so the plain sh_h self-join stands.)
    // (Measured dead end #4, tools/NgramAB + NgramAB2: the AQE-coalescing
    // hypothesis — the sh_h exchange is ~4 MB so AQE can coalesce the pair
    // stage to 1 partition and serialize the C(f,2) explosion. Under a
    // contended window default-AQE MEDIANS do degrade 3–4× vs
    // coalesce-off/advisory-1m, but the MINIMUMS are equal (1.2–1.4 s) —
    // the bench's interleaved min-of-3 already absorbs it — and pinning
    // parallelism with an explicit repartition(32, sh_h) measured no
    // better than the plain join. No conf change worth hard-coding; at
    // real 100 TB scale the exchange is far above the advisory size and
    // the failure mode disappears.)
    // Pair generation stays a sh_h SELF-JOIN deliberately. The measured
    // alternative (graft.tools.PairGenAB): fold the index into posting
    // lists once and explode codegen'd sorted_id_pairs — one fewer index
    // shuffle per query — is 1.6× SLOWER warm, because the sort-merge
    // join emits candidates as an allocation-free merge of sorted unsafe
    // rows while the explode materializes C(f,2) row objects per list.
    // Same verdict at scale: the pair-stage volume dominates and the SMJ
    // processes it with tighter memory behavior. (Pair-key packing and
    // the sizes-join placement: see pairStats.)
    jaccardPairsUnsorted(s, d, minSim, maxDf).orderBy(col("a"), col("b"))
  }

  /** [[ngramJaccardPairs]] WITHOUT the presentation sort — the form every
    * aggregating consumer (clusters, nearest-neighbor argmax, calibration
    * joins, transitivity/leakage rollups) should read: inheriting the
    * public face's global `orderBy(a, b)` range-partitions and sorts the
    * full pair table only to immediately re-shuffle it on a different key
    * (measured on `q_dedup_nearest` at sf0.1: the inherited sort was the
    * plan's largest stage AND its variance source — range-partition
    * sampling over the 1.3 M-row pair table ran 1.1–10 s across warm
    * same-JVM runs; unsorted, the consumer is stable).
    */
  private[operators] def jaccardPairsUnsorted(
      s: SparkSession, d: String,
      minSim: Double = 0.2, maxDf: Long = 1000L): DataFrame =
    filteredRawStats(s, d, maxDf,
      round(col("inter").cast("double") /
            (col("na") + col("nb") - col("inter")), 6) >= minSim)
      .select(
        col("a"), col("b"),
        round(col("inter").cast("double") /
              (col("na") + col("nb") - col("inter")), 6).as("jaccard"))

  /** Shared pair stage of the shingle-overlap family: candidate pairs from
    * a self-join on the 8-byte shingle hash, packed-long pair counting,
    * per-doc set sizes joined onto the aggregated pair table. Returns
    * (a, b, inter, na, nb) — the sufficient statistics for ANY set-overlap
    * measure (Jaccard, containment, overlap coefficient, dice).
    *
    * The candidate pair is packed into ONE long (a<<32 | b) before the
    * pair-count shuffle: 8-byte instead of 16-byte grouping keys across
    * the dominant exchange, single-long hash/compare in the aggregate.
    * Measured win #5 (tools/PairEncodeAB, min-of-3 ×3 sessions at sf0.1):
    * 1.04/1.00/1.26 s vs 1.12/1.10/1.36 s two-long — a consistent ~8%.
    * Constraint: ids must fit 32 bits (4.3 B docs); a deployment with
    * wider ids shards the corpus or reverts to the two-long groupBy.
    * Per-doc set sizes join onto the AGGREGATED pair table (one small row
    * per doc against one row per surviving pair), never onto the exploded
    * table — enriching pre-join would re-shuffle the whole index and widen
    * both self-join inputs by 8 bytes/row for data the pair only needs
    * once. (NOT force-broadcast: one row per document is huge at corpus
    * scale; AQE broadcasts it when it is actually small.)
    */
  private def pairStats(capped: DataFrame, sizes: DataFrame): DataFrame = {
    val a = capped.select(col("doc_id").as("a"), col("sh_h"))
    val b = capped.select(col("doc_id").as("b"), col("sh_h"))
    a.join(b, Seq("sh_h"))
      .where(col("a") < col("b"))
      // pair packing assumes 32-bit doc ids (every packed site unpacks
      // with shiftrightUNSIGNED, so the full 0..2³²−1 range is safe even
      // when a<<32 lands in the sign bit); corpora minting wider ids must
      // renumber first — the dedup index contract (TESTDATA ids are dense)
      .select(shiftleft(col("a"), 32).bitwiseOR(col("b")).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("inter"))
      .select(
        shiftrightunsigned(col("pair"), 32).as("a"),
        col("pair").bitwiseAND(lit(0xFFFFFFFFL)).as("b"),
        col("inter"))
      .join(sizes.select(col("doc_id").as("a"), col("n_sh").as("na")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("n_sh").as("nb")), Seq("b"))
  }

  private val canonIndexCache =
    new graft.SessionCache[(DataFrame, DataFrame)](maxEntries = 4,
      onEvict = v => {
        graft.SessionCache.release(v._1); graft.SessionCache.release(v._2)
      })

  /** Near-duplicate pairs AFTER exact-duplicate contraction — the
    * production ORDERING of a dedup pipeline: exact dedup first (each
    * byte-identical group contracts to its min-id canonical carrying
    * weight |group|), then the C(df,2) near-dup pair join runs over
    * CANONICALS only. On corpora with heavy exact replication the pair
    * mass collapses quadratically in replica count — the sf1 clique
    * fixture's cold pair build is ~150 s raw (PERF_r10 §4e, ≥95% of it
    * the pair self-join) and the contraction removes exactly that mass —
    * while losing nothing: within-group pairs are exact duplicates by
    * construction (Jaccard 1; enumerated in aggregate by [[dedupImpact]]),
    * and each surviving pair row carries `raw_pairs` = wa·wb, the number
    * of raw-document pairs it stands for.
    *
    * Plan: one md5(text) rollup (the hash is the group key — text never
    * crosses an exchange), a doc_id semi join back to canonical rows,
    * then the standard capped shingle index + packed-pair machinery over
    * the contracted corpus; weights join on the a/b endpoints of the
    * (already pair-level) result. The aggregated PAIR-STATS table is the
    * memoized artifact (the cachedPairStats stance — every threshold
    * filters after it), alongside the weight table, per (session, dir,
    * cap) like every other dedup snapshot artifact.
    */
  def canonNearDupPairs(s: SparkSession, d: String,
      minSim: Double = 0.2, maxDf: Long = 1000L): DataFrame = {
    val (stats, canon) = canonIndexCache.getOrElseUpdate(s, s"$d#$maxDf") {
      (ss, _) =>
        val docs = Tables.documents(ss, d)
        // cut ORDER matters on the cold path: the weight table is
        // checkpointed FIRST so the semi join under the index build reads
        // the leaf instead of re-running the full-corpus md5 rollup, and
        // the capped index is checkpointed before pairStats so the sizes
        // branch and both self-join sides read one materialized leaf
        // (the cachedPairStats stance) rather than re-tokenizing; the
        // intermediate index checkpoint is released once the pair-stats
        // artifact exists.
        val canonDf = graft.SessionCache.cut(docs
          .groupBy(md5(col("text")).as("fp"))
          .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("w"))
          .select(col("doc_id"), col("w")))
        val cIdx = graft.SessionCache.cut(capByDf(
          docs.join(canonDf.select(col("doc_id")), Seq("doc_id"), "left_semi")
            .select(col("doc_id"),
              wordShingles(split(col("text"), " "), 3).as("shs"))
            .where(size(col("shs")) > 0)
            .select(col("doc_id"), explode(col("shs")).as("sh"))
            .select(col("doc_id"), xxhash64(col("sh")).as("sh_h")),
          maxDf))
        val sizes = cIdx.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
        val statsCut = graft.SessionCache.cut(pairStats(cIdx, sizes))
        graft.SessionCache.release(cIdx)
        (statsCut, canonDf)
    }
    stats
      .select(col("a"), col("b"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")), 6).as("jaccard"))
      .where(col("jaccard") >= minSim)
      .join(canon.select(col("doc_id").as("a"), col("w").as("wa")), Seq("a"))
      .join(canon.select(col("doc_id").as("b"), col("w").as("wb")), Seq("b"))
      .select(col("a"), col("b"), col("jaccard"), col("wa"), col("wb"),
        (col("wa") * col("wb")).as("raw_pairs"))
      .orderBy(col("a"), col("b"))
  }

  /** Asymmetric containment near-dup pairs: C(A, B) = |A∩B| / min(|A|,|B|)
    * over the same df-capped shingle sets as [[ngramJaccardPairs]] — the
    * doc-INSIDE-doc detector. A 50-shingle document fully embedded in a
    * 5000-shingle page (quoted post, syndicated article, boilerplate-wrapped
    * body) has Jaccard ≈ 0.01 and sails through a symmetric dedup; its
    * containment is 1.0. Emitting Jaccard alongside lets downstream tell
    * "subset" (high C, low J) from "near-identical" (both high).
    *
    * Plan: identical machinery to [[ngramJaccardPairs]] — the capped index
    * and the packed-pair count stage are shared code and shared cache — so
    * the measured A/B verdicts there (SMJ over posting-explode, no forced
    * persist-repartition, 8-byte pair keys) carry over. Only the final
    * verdict expression differs; the filter runs on the ROUNDED value so
    * borderline pairs match the twin bit-for-bit.
    */
  def containmentPairs(
      s: SparkSession, d: String,
      minCont: Double = 0.6, maxDf: Long = 1000L): DataFrame =
    containmentFromStats(
      filteredRawStats(s, d, maxDf,
        round(col("inter").cast("double") / least(col("na"), col("nb")), 6)
          >= minCont),
      minCont)

  /** [[containmentPairs]] over an arbitrary `(doc_id, text)` frame
    * (uncached index — the dir form reuses the memoized one).
    */
  def containmentPairsOf(
      docs: DataFrame,
      minCont: Double = 0.6, maxDf: Long = 1000L, n: Int = 3): DataFrame = {
    val exploded = docs
      .select(col("doc_id"), wordShingles(split(col("text"), " "), n).as("shs"))
      .where(size(col("shs")) > 0)
      .select(col("doc_id"), explode(col("shs")).as("sh"))
      .select(col("doc_id"), xxhash64(col("sh")).as("sh_h"))
    containmentFrom(capByDf(exploded, maxDf), minCont)
  }

  private def containmentFrom(capped: DataFrame, minCont: Double): DataFrame = {
    val sizes = capped.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    containmentFromStats(pairStats(capped, sizes), minCont)
  }

  private def containmentFromStats(stats: DataFrame, minCont: Double): DataFrame =
    stats
      .select(
        col("a"), col("b"),
        round(col("inter").cast("double") / least(col("na"), col("nb")), 6)
          .as("containment"),
        round(col("inter").cast("double") /
              (col("na") + col("nb") - col("inter")), 6).as("jaccard"))
      .where(col("containment") >= minCont)
      .orderBy(col("a"), col("b"))

  // The exploded (doc_id, sh_h) table is reused by the df aggregate, the
  // semi-join probe, the recount, and both sides of the pair join within
  // ONE query — persist it. Memoized per (session, dir) so repeated calls
  // reuse a single cached copy instead of leaking one per invocation.
  // bounded + unpersist-on-evict so multi-directory sessions cycle cached
  // indexes instead of accumulating them (ADVICE r8)
  private val shingleIndexCache =
    new graft.SessionCache[DataFrame](maxEntries = 8, onEvict = graft.SessionCache.release)
  private val cappedIndexCache =
    new graft.SessionCache[DataFrame](maxEntries = 8, onEvict = graft.SessionCache.release)

  /** The df-capped (doc_id, sh_h) index — memoized per (session, dir, cap)
    * and shared by every overlap measure over the same corpus.
    */
  private def cappedIndex(s: SparkSession, d: String, maxDf: Long): DataFrame =
    cappedIndexCache.getOrElseUpdate(s, s"$d#$maxDf") { (ss, _) =>
      graft.SessionCache.cut(capByDf(shingleIndex(ss, d), maxDf))
    }

  // Exact-duplicate contraction artifacts per (session, dir):
  // members = (doc_id, canon), weights = (canon, w). Shared by the
  // contraction-first pair-stats build below (and reusable by any other
  // consumer of the exact-group structure).
  private val contractionCache =
    new graft.SessionCache[(DataFrame, DataFrame)](maxEntries = 4,
      onEvict = v => {
        graft.SessionCache.release(v._1); graft.SessionCache.release(v._2)
      })

  private def contraction(s: SparkSession, d: String): (DataFrame, DataFrame) =
    contractionCache.getOrElseUpdate(s, d) { (ss, dir) =>
      val fps = Tables.documents(ss, dir)
        .select(col("doc_id"), md5(col("text")).as("fp"))
      val groups = fps.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("canon"), count(lit(1)).as("w"))
      val weights = graft.SessionCache.cut(
        groups.select(col("canon"), col("w")))
      val members = graft.SessionCache.cut(
        fps.join(groups.select(col("fp"), col("canon")), Seq("fp"))
          .select(col("doc_id"), col("canon")))
      (members, weights)
    }

  /** Run a PER-DOCUMENT pure-TEXT operator once per exact-dup group and
    * expand the result member-wise — the production ordering (exact
    * dedup first, signals once per distinct text). `f` must key its
    * output by `doc_id`, emit one row per input doc it keeps, and
    * depend on NOTHING but the text column (metadata-reading operators
    * do not factor through text-keyed groups — see [[boilerplate]]).
    * On corpora with no exact duplicates this degenerates to f(docs)
    * plus an output-sized identity join.
    */
  /** Canonical documents (one row per distinct text), widened
    * ([[Tables.widen]]) for CPU-heavy per-row kernels: the contraction
    * makes the frame byte-small, so AQE coalesces the semi-join exchange
    * to ONE partition and serializes regex/minhash/simhash work on a
    * single core.
    */
  private def canonDocsWide(s: SparkSession, d: String): DataFrame = {
    val (_, weights) = contraction(s, d)
    Tables.widen(s, d, "documents", Tables.documents(s, d)
      .join(weights.select(col("canon").as("doc_id")), Seq("doc_id"),
        "left_semi"))
  }

  private[operators] def contractPerDocText(s: SparkSession, d: String)(
      f: DataFrame => DataFrame): DataFrame = {
    val (members, _) = contraction(s, d)
    val canonOut = f(canonDocsWide(s, d))
    val outCols = canonOut.columns.filter(_ != "doc_id").map(col)
    members
      .join(canonOut.withColumnRenamed("doc_id", "canon"), Seq("canon"))
      .select(col("doc_id") +: outCols: _*)
      .orderBy(col("doc_id"))
  }

  // does this corpus have any exact-duplicate group (w >= 2)? Two counts
  // on the memoized contraction leaves — cached because the LSH family
  // branches on it per call and the counts, while cheap, are actions.
  private val contractedFlagCache =
    new graft.SessionCache[java.lang.Boolean](maxEntries = 8, onEvict = _ => ())

  private def isContracted(s: SparkSession, d: String): Boolean =
    contractedFlagCache.getOrElseUpdate(s, d) { (ss, dir) =>
      val (members, weights) = contraction(ss, dir)
      java.lang.Boolean.valueOf(weights.count() < members.count())
    }.booleanValue()

  /** Raw pair statistics (a, b, inter, na, nb) surviving `pred` — a
    * row predicate over the statistic columns only (every dedup
    * threshold is one: Jaccard, containment, overlap, dice are pure
    * functions of (inter, na, nb)).
    *
    * CONTRACTION-FIRST, filter-BEFORE-expansion (r11, output-identical):
    * exact duplicates share one text ⇒ one (distinct) shingle set ⇒
    * identical df-capped sets, so the raw pair table FACTORS through the
    * contracted corpus — the C(f,2) self-join runs over canonicals only
    * (weighted df cap: raw df = Σ group weights per shingle), and a
    * canonical pair (A,B) stands for every (x∈A, y∈B) with the same
    * (inter, na, nb) while a group of weight w adds C(w,2) within-group
    * pairs at inter=na=nb=|capped set|. Because the statistics are
    * CONSTANT across each expansion, `pred` commutes with it — so it is
    * applied to the canonical-sized rows FIRST and only survivors expand
    * back to raw ids. The expansion is therefore OUTPUT-sized and lazy;
    * nothing replication²-sized is ever materialized or cached (an
    * earlier spelling checkpointed the full expansion once per (dir,
    * cap): ~130 M rows / multi-GB resident at the sf1 ×10-clique fixture,
    * and every consumer's warm run re-scanned it — measured 4.6 s
    * isolated but up to 38 s under same-JVM memory pressure from the
    * leaf itself; this form prices only the surviving pairs). Corpora
    * with no exact duplicates skip the expansion entirely: canonical ids
    * ARE the doc ids.
    */
  private def filteredRawStats(s: SparkSession, d: String, maxDf: Long,
      pred: Column): DataFrame = {
    val art = canonPairArtifacts(s, d, maxDf)
    val crossCanon = art.stats.where(pred)
    if (!art.contracted) crossCanon // canonical ids ARE the doc ids
    else {
      val (members, _) = contraction(s, d)
      val cross = crossCanon
        .join(members.select(col("canon").as("a"), col("doc_id").as("x")), Seq("a"))
        .join(members.select(col("canon").as("b"), col("doc_id").as("y")), Seq("b"))
        .select(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b"),
          col("inter"), col("na"), col("nb"))
      val within = art.sizes
        .select(col("doc_id").as("canon"), col("n_sh").as("inter"),
          col("n_sh").as("na"), col("n_sh").as("nb"))
        .where(pred)
        .join(members.select(col("canon"), col("doc_id").as("x")), Seq("canon"))
        .join(members.select(col("canon"), col("doc_id").as("y")), Seq("canon"))
        .where(col("x") < col("y"))
        .select(col("x").as("a"), col("y").as("b"),
          col("inter"), col("na"), col("nb"))
      cross.unionByName(within)
    }
  }

  /** Pair statistics over the exact-dup CONTRACTED corpus, plus the
    * tables that let consumers reason about the raw graph without ever
    * expanding it: `stats` (a, b, inter, na, nb over canonical ids),
    * `sizes` (canonical → capped set size — membership here IS the
    * "participates in pairs at all" predicate), `weights` (canonical →
    * group size w). With no exact duplicates `contracted=false` and
    * `stats` is simply the raw pair table (shared `cappedIndex` memo).
    * Structure-only consumers ([[neardupDegreeDist]], [[thresholdCurve]],
    * [[neardupTriangles]]) compose these closed-form — the raw answers
    * are exact functions of (canon structure, weights): a group of
    * weight w is an internal K_w clique at Jaccard 1, a canon edge (A,B)
    * stands for w_A·w_B raw edges of the same statistics.
    */
  final case class CanonPairArtifacts(
      stats: DataFrame, sizes: DataFrame, weights: DataFrame,
      index: DataFrame, contracted: Boolean)

  private val canonArtCache =
    new graft.SessionCache[CanonPairArtifacts](maxEntries = 4,
      onEvict = v => {
        // every frame here is the artifact's OWN cut (ADVICE r11): the
        // earlier aliasing of cappedIndexCache/contractionCache entries
        // let those caches' independent evictions release checkpoint
        // blocks out from under a live artifact (and the loadDedupIndex
        // path leaked its independent cuts) — release unconditionally
        graft.SessionCache.release(v.stats)
        graft.SessionCache.release(v.sizes)
        graft.SessionCache.release(v.weights)
        graft.SessionCache.release(v.index)
      })

  private def canonPairArtifacts(
      s: SparkSession, d: String, maxDf: Long): CanonPairArtifacts =
    canonArtCache.getOrElseUpdate(s, s"$d#$maxDf#canonArt") { (ss, _) =>
      val (members, weights) = contraction(ss, d)
      if (weights.count() == members.count()) {
        // no exact duplicates — the contracted corpus IS the corpus.
        // the artifact takes its OWN cut of the capped index (and of
        // weights, below): sharing the cappedIndexCache entry's blocks
        // would couple two independently-evicting caches
        val capped = graft.SessionCache.cut(cappedIndex(ss, d, maxDf))
        val sizes = graft.SessionCache.cut(
          capped.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh")))
        val stats = graft.SessionCache.cut(pairStats(capped, sizes))
        CanonPairArtifacts(stats, sizes, graft.SessionCache.cut(weights),
          capped, contracted = false)
      } else {
        // canonical index from canonical texts only (1/replication of
        // the raw explode), df-capped by the WEIGHTED document
        // frequency — exactly the raw corpus's df
        val cIdxRaw = Tables.documents(ss, d)
          .join(weights.withColumnRenamed("canon", "doc_id"), Seq("doc_id"))
          .select(col("doc_id"), col("w"),
            explode(wordShingles(split(col("text"), " "), 3)).as("sh"))
          .select(col("doc_id"), col("w"), xxhash64(col("sh")).as("sh_h"))
        val capped = graft.SessionCache.cut(
          if (maxDf <= 0) cIdxRaw.select(col("doc_id"), col("sh_h"))
          else {
            val kept = cIdxRaw.groupBy(col("sh_h"))
              .agg(sum(col("w")).as("__df"))
              .where(col("__df") <= maxDf)
              .select(col("sh_h"))
            cIdxRaw.join(kept, Seq("sh_h"), "left_semi")
              .select(col("doc_id"), col("sh_h"))
          })
        // sizes is cut too so consumers never re-aggregate the postings
        val sizes = graft.SessionCache.cut(
          capped.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh")))
        val stats = graft.SessionCache.cut(pairStats(capped, sizes))
        // the canonical postings stay an artifact (released on evict):
        // the incremental attach probes THEM instead of the raw index —
        // canon-postings-sized, 1/replication of the raw explode
        CanonPairArtifacts(stats, sizes, graft.SessionCache.cut(weights),
          capped, contracted = true)
      }
    }

  /** Drop shingle hashes with document frequency above `maxDf` (the skew
    * guard shared by every overlap measure; 0 disables).
    */
  private def capByDf(exploded: DataFrame, maxDf: Long): DataFrame =
    if (maxDf <= 0) exploded
    else {
      val kept = exploded.groupBy(col("sh_h"))
        .agg(count(lit(1)).as("__df"))
        .where(col("__df") <= maxDf)
        .select(col("sh_h"))
      exploded.join(kept, Seq("sh_h"), "left_semi")
    }

  private def shingleIndex(s: SparkSession, d: String): DataFrame =
    shingleIndexCache.getOrElseUpdate(s, d) { (ss, dir) =>
      graft.SessionCache.cut(shingles(ss, dir)
        .select(col("doc_id"), explode(col("shs")).as("sh"))
        .select(col("doc_id"), xxhash64(col("sh")).as("sh_h")))
    }

  // Canonical UNCAPPED distinct-shingle postings (doc_id = canon, sh_h),
  // built from canonical texts only — 1/replication of the raw explode.
  // The raw index remains a separate memo for genuinely raw consumers
  // (per-source boilerplate needs source-split document frequencies,
  // which do NOT factor through text-keyed groups).
  private val canonShingleIndexCache =
    new graft.SessionCache[DataFrame](maxEntries = 8,
      onEvict = graft.SessionCache.release)

  private def canonShingleIndex(s: SparkSession, d: String): DataFrame =
    canonShingleIndexCache.getOrElseUpdate(s, d) { (ss, dir) =>
      graft.SessionCache.cut(canonDocsWide(ss, dir)
        .select(col("doc_id"),
          wordShingles(split(col("text"), " "), 3).as("shs"))
        .where(size(col("shs")) > 0)
        .select(col("doc_id"), explode(col("shs")).as("sh"))
        .select(col("doc_id"), xxhash64(col("sh")).as("sh_h")))
    }

  /** Content-novelty score: the share of each document's shingles whose
    * EARLIEST corpus occurrence (min doc_id, the ingest-order proxy) is
    * this document — "how much genuinely new content does each document
    * add?". The longitudinal complement of [[dupShingleFrac]]: that one
    * asks "how much of me is repeated anywhere", this one asks "was I
    * first". Crawl pipelines rank candidate sources by exactly this
    * signal (a feed whose novelty trends to zero has been exhausted).
    *
    * Plan: reuses the memoized distinct-shingle index; ONE shuffle — the
    * 8-byte shingle-hash window for the corpus-wide first-occurrence —
    * then the doc rollup. No text crosses the wire.
    */
  def contentNovelty(s: SparkSession, d: String): DataFrame = {
    // CONTRACTION-FIRST (r11, output-identical): the corpus-wide first
    // occurrence of a shingle is min(raw doc_id containing it) = min
    // CANONICAL id containing it (a group's min member IS its canonical),
    // so the first-occurrence rollup runs over canonical postings only.
    // Expansion: a canonical keeps its canonical-level novelty; a
    // non-canonical member can never be first for ANY of its shingles
    // (its id exceeds its own canonical's) — novelty exactly 0 at the
    // group's shared n_shingles. The old raw window shuffled + sorted
    // every raw posting for the same answer.
    val (members, _) = contraction(s, d)
    val cIdx = canonShingleIndex(s, d)
    val firstDoc = cIdx.groupBy(col("sh_h"))
      .agg(min(col("doc_id")).as("first_doc"))
    val canonStats = cIdx.join(firstDoc, Seq("sh_h"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
    members
      .join(canonStats.withColumnRenamed("doc_id", "canon"), Seq("canon"))
      .select(col("doc_id"), col("n_shingles"),
        when(col("doc_id") === col("canon"), col("n_novel"))
          .otherwise(0L).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_shingles"), 6))
      .orderBy(col("doc_id"))
  }

  /** Sub-document exact dedup at fixed token-block granularity: cut each
    * document into consecutive `blockTokens`-token blocks (tail partial
    * block ignored), fingerprint each block, and report per document how
    * many of its blocks also occur anywhere else in the corpus — the
    * cheap, alignment-fixed cousin of suffix-based exact-substring dedup
    * (same signal a pipeline thresholds on to drop boilerplate-heavy
    * documents that whole-document dedup can't catch).
    *
    * Plan: block fingerprints are per-row codegen'd arithmetic (explode ×
    * n_blocks, md5 — no text crosses any shuffle); corpus-wide block
    * frequency is a window count over the 16-byte fingerprint (ONE
    * shuffle, same single-pass shape as [[CurationOps.curate]]'s
    * canonical-id window); the per-document rollup then shuffles
    * (doc_id, flag) pairs only.
    */
  /** Per-document duplicate-shingle fraction: the share of a document's
    * sliding `n`-gram shingles that occur more than once in the corpus —
    * the `dup_ngram_frac` quality signal web-scale curation pipelines
    * threshold on (boilerplate and templated text score high). Counts
    * ALL repeats, cross-doc and within-doc (within-doc-only repetition is
    * the sibling signal `TrainPrepOps.repetitionStats`); [[blockDuplicates]]
    * is the disjoint-block variant of the same idea.
    *
    * Plan: one shuffle on the 8-byte shingle fingerprint (window count),
    * then the doc rollup — fingerprints and ids cross the wire, never
    * text.
    */
  def dupShingleFrac(s: SparkSession, d: String, n: Int = 5): DataFrame = {
    // CONTRACTION-FIRST (r11, output-identical): positional shingle
    // multiplicities are a pure function of the text, so the corpus-wide
    // occurrence count factors as cnt(fp) = Σ_groups w · m_group(fp) and
    // the per-doc dup share is the group's share. The raw spelling
    // window-counted every raw position (replication × the postings) for
    // the same answer; this one rolls up canonical positional counts and
    // expands per-group results member-wise. The (doc, fp) pre-rollup is
    // also a map-side combine the raw window form could never do.
    val (members, weights) = contraction(s, d)
    // xxhash64, not the md5 spelling (r14, the repeatSpans precedent):
    // `sfp` is a query-internal grouping key — the output carries only
    // per-doc counts and the oracle computes its own fingerprints — so
    // the codegen'd native hash applies. md5's MessageDigest + hex +
    // substring detour was the plan's dominant stage (32 tasks ×
    // ~370 ms at sf0.1, ~12 core-seconds of pure hashing); same 64-bit
    // collision scale as the 16-hex-char prefix it replaces, and the
    // 8-byte long key halves the rollup's shuffle width vs the 16-char
    // string.
    val m = canonDocsWide(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .where(size(col("t")) >= n)
      .select(col("doc_id"), explode(shingleHashes(col("t"), n)).as("sfp"))
      .groupBy(col("doc_id"), col("sfp"))
      .agg(count(lit(1)).as("m"))
    val cnt = m
      .join(weights.withColumnRenamed("canon", "doc_id"), Seq("doc_id"))
      .groupBy(col("sfp")).agg(sum(col("m") * col("w")).as("cnt"))
    val canonStats = m.join(cnt, Seq("sfp"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("m")).as("n_shingles"),
        sum(when(col("cnt") > 1, col("m")).otherwise(0L))
          .as("n_dup_shingles"))
    members
      .join(canonStats.withColumnRenamed("doc_id", "canon"), Seq("canon"))
      .select(col("doc_id"), col("n_shingles"), col("n_dup_shingles"))
      .withColumn("dup_frac",
        round(col("n_dup_shingles").cast("double") / col("n_shingles"), 6))
      .orderBy(col("doc_id"))
  }

  /** [[dupShingleFrac]] over an arbitrary `(doc_id, text)` frame. */
  def dupShingleFracOf(docs: DataFrame, n: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      // sequence(1, 0) would count DOWN for docs shorter than n tokens
      .where(size(col("t")) >= n)
      // query-internal key — native positional hash, same as the dir form
      .select(col("doc_id"), explode(shingleHashes(col("t"), n)).as("sfp"))
    sh
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("sfp"))))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup_shingles"))
      .withColumn("dup_frac",
        round(col("n_dup_shingles").cast("double") / col("n_shingles"), 6))
      .orderBy(col("doc_id"))
  }

  def blockDuplicates(s: SparkSession, d: String, blockTokens: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val blocks = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        (size(col("toks")) / blockTokens).cast("int").as("nb"))
      .where(col("nb") >= 1)
      .select(col("doc_id"), col("nb"),
        explode(sequence(lit(0), col("nb") - 1)).as("bi"), col("toks"))
      .select(col("doc_id"), col("nb"),
        md5(array_join(
          slice(col("toks"), col("bi") * blockTokens + 1, lit(blockTokens)),
          " ")).as("bfp"))
    blocks
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("bfp"))))
      .groupBy(col("doc_id"), col("nb"))
      .agg(sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup_blocks"))
      .select(
        col("doc_id"), col("nb").as("n_blocks"), col("n_dup_blocks"),
        round(col("n_dup_blocks").cast("double") / col("nb"), 6)
          .as("dup_block_frac"))
      .orderBy(col("doc_id"))
  }

  /** Sub-document dedup REWRITE at block granularity: where
    * [[blockDuplicates]] only reports boilerplate share, this produces the
    * deduplicated corpus — every block occurrence that is not the
    * corpus-wide canonical copy of its content (the lexicographically
    * first (doc_id, block_idx) holding that fingerprint) is dropped, and
    * each document reports how many blocks survive plus a fingerprint of
    * its rewritten block stream. Downstream consumers join the kept
    * (doc_id, block_idx) list back to the token store to materialize text;
    * shipping fingerprints instead of rebuilt text is what keeps the
    * operator shuffle-light.
    *
    * Plan: block fingerprints are per-row codegen'd arithmetic; the
    * canonical occurrence is ONE window min over the 16-byte fp (the same
    * single-shuffle shape as [[blockDuplicates]] / [[CurationOps.curate]]);
    * the per-document reassembly then shuffles (doc_id, block_idx, bfp,
    * keep) rows — constant-size, no text.
    */
  def blockDedupRewrite(s: SparkSession, d: String, blockTokens: Int = 16): DataFrame =
    blockDedupRewriteOf(Tables.documents(s, d), blockTokens)

  /** [[blockDedupRewrite]] over an arbitrary `(doc_id, text, …)` frame. */
  def blockDedupRewriteOf(docs: DataFrame, blockTokens: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val blocks = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        (size(col("toks")) / blockTokens).cast("int").as("nb"))
      .where(col("nb") >= 1)
      .select(col("doc_id"), col("nb"),
        explode(sequence(lit(0), col("nb") - 1)).as("bi"), col("toks"))
      .select(col("doc_id"), col("nb"), col("bi"),
        md5(array_join(
          slice(col("toks"), col("bi") * blockTokens + 1, lit(blockTokens)),
          " ")).as("bfp"))
    blocks
      .withColumn("canon",
        min(struct(col("doc_id"), col("bi"))).over(Window.partitionBy(col("bfp"))))
      .withColumn("keep",
        col("canon.doc_id") === col("doc_id") && col("canon.bi") === col("bi"))
      .groupBy(col("doc_id"), col("nb"))
      .agg(
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        md5(concat_ws("",
          transform(
            array_sort(collect_list(
              when(col("keep"), struct(col("bi"), col("bfp"))))),
            x => x.getField("bfp")))).as("kept_fp"))
      .select(
        col("doc_id"), col("nb").as("n_blocks"), col("n_kept"),
        round(col("n_kept").cast("double") / col("nb"), 6).as("kept_frac"),
        col("kept_fp"))
      .orderBy(col("doc_id"))
  }

  /** Incremental ingest dedup: classify an incoming batch (here the
    * `source = batchSource` slice stands in for a new crawl shard) against
    * the already-ingested corpus — the steady-state shape of a production
    * dedup pipeline, which never re-deduplicates the whole corpus; it
    * probes the new batch against a persistent fingerprint index.
    * Statuses: `dup_of_corpus` (fingerprint already in the index),
    * `dup_in_batch` (first seen earlier in this batch), `unique`.
    *
    * Plan: the corpus index contributes DISTINCT fingerprints only (32
    * bytes/doc — at 100 TB this is the materialized index table, not a
    * scan); the batch side resolves in-batch firsts with one window min
    * over fp; the index probe is a left semi/anti-shaped left join on fp
    * that AQE broadcasts when the BATCH is small (the common case: a daily
    * shard vs a multi-year index — the big index side never shuffles more
    * than its fp column).
    */
  def incrementalDedup(s: SparkSession, d: String, batchSource: String = "src0"): DataFrame =
    incrementalDedupOf(Tables.documents(s, d), batchSource)

  /** [[incrementalDedup]] over an arbitrary `(doc_id, source, text)` frame. */
  def incrementalDedupOf(docsIn: DataFrame, batchSource: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = docsIn
      .select(col("doc_id"), col("source"), md5(col("text")).as("fp"))
    val index = docs.where(col("source") =!= batchSource)
      .select(col("fp")).distinct().withColumn("in_corpus", lit(true))
    val batch = docs.where(col("source") === batchSource)
      .withColumn("first_id", min(col("doc_id")).over(Window.partitionBy(col("fp"))))
    batch.join(index, Seq("fp"), "left")
      .select(
        col("doc_id"), col("fp"),
        when(coalesce(col("in_corpus"), lit(false)), "dup_of_corpus")
          .when(col("first_id") < col("doc_id"), "dup_in_batch")
          .otherwise("unique").as("status"))
      .orderBy(col("doc_id"))
  }

  private val sigCache =
    new graft.SessionCache[DataFrame](maxEntries = 8, onEvict = graft.SessionCache.release)

  /** MinHash + LSH candidate pairs with estimated Jaccard.
    * bands=8 × rows=4 over a k=32 signature: P(candidate) ≈ 1−(1−j⁴)⁸ —
    * steep around j≈0.5. Join key is (band, hash of the band slice):
    * constant-size, uniformly distributed → skew-free shuffle.
    *
    * The full signature (k=32 longs ≈ 256 bytes) rides the band explode, so
    * the estimate — fraction of matching signature components — is computed
    * directly at candidate time: one self-join, no signature re-joins. A
    * pair colliding in m bands is produced m times with the same
    * deterministic estimate; the estimate filter runs BEFORE the distinct
    * so the dedup shuffle carries only surviving (a, b, est) triples.
    *
    * Hashing is PORTABLE (VERDICT r5 #2): each shingle's base hash is its
    * md5 prefix read as a 60-bit integer, and the k seeded permutations
    * are universal-style (aᵢ·h + bᵢ) mod (2³¹−1) — pure integer
    * arithmetic both engines compute bit-identically, so the DuckDB twin
    * replays the ENTIRE pipeline (signatures, banding, candidate join,
    * estimate) and the result is hash-checked, not rows-only. The
    * engine-hash [[graft.functions.sketch.minhashSig]] expression stays as
    * the SQL function `minhash_sig`.
    */
  /** Portable k-component MinHash signature of a shingle array: base
    * hash = 60-bit md5 prefix mod 2³¹−1 (DuckDB:
    * `('0x' || substr(md5(sh), 1, 15))::BIGINT % 2147483647`), seeded
    * permutations (i+1)·h + i·7919 mod 2³¹−1 — compiled kernel, one md5
    * per shingle ([[graft.functions.Sketch.md5Minhash]]).
    */
  def portableMinhashSig(shs: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.Column =
    md5MinhashSig(shs, k)

  /** Per-band LSH bucket ids of a MinHash signature column: band i's
    * bucket = md5 of its joined `rows` signature components — a
    * constant-width join key the DuckDB oracle computes identically
    * (portability is the point; a 64-bit engine hash would be cheaper but
    * its rare collisions could admit a candidate pair the oracle lacks).
    */
  def bandBuckets(sig: org.apache.spark.sql.Column, bands: Int, rows: Int): org.apache.spark.sql.Column =
    transform(sequence(lit(0), lit(bands - 1)),
      bnd => md5(concat_ws(",",
        transform(slice(sig, bnd * rows + 1, lit(rows)), x => x.cast("string")))))

  // Contracted-corpus portable signatures: ONE signature per exact-dup
  // group, computed from the canonical text. Identical texts produce the
  // identical (distinct-shingle) array and therefore the identical
  // signature, so this IS the raw signature table factored through the
  // contraction — the banded self-join below runs over 1/replication of
  // the rows and its bucket collision mass shrinks ~replication².
  private def canonPortableSigs(s: SparkSession, d: String, k: Int): DataFrame =
    sigCache.getOrElseUpdate(s, s"$d#minhashpcanon#$k") { (ss, _) =>
      graft.SessionCache.cut(canonDocsWide(ss, d)
        .select(col("doc_id"),
          wordShingles(split(col("text"), " "), 3).as("shs"))
        .where(size(col("shs")) > 0)
        .select(col("doc_id"), portableMinhashSig(col("shs"), k).as("sig")))
    }

  /** LSH candidate pairs over the CONTRACTED corpus: (a, b, est_jaccard)
    * in canonical ids, a < b. A raw pair (x, y) is a candidate iff its
    * groups' signatures share a band bucket — a pure function of the
    * groups — so the raw candidate set is exactly this table expanded by
    * membership, plus every co-member pair of a group WITH a signature
    * (identical signatures collide in every band at estimate 1.0).
    */
  // Memoized per (session, dir, geometry) — r14: the (32, 8, 0.5)
  // candidate table is shared by the LSH pair face (minhashLshPairs) and
  // the calibration audit (sketchCalibration); each paid the banded
  // self-join + cross-band distinct per call. Same shared-snapshot
  // stance as the capped shingle index: candidates are a pure function
  // of (corpus, geometry).
  private val lshCandCache =
    new graft.SessionCache[DataFrame](maxEntries = 4,
      onEvict = graft.SessionCache.release)

  private def canonLshCandidates(s: SparkSession, d: String,
      k: Int, bands: Int, minEst: Double): DataFrame =
    lshCandCache.getOrElseUpdate(s, s"$d#$k#$bands#$minEst") { (ss, _) =>
      graft.SessionCache.cut(canonLshCandidatesUncached(ss, d, k, bands, minEst))
    }

  private def canonLshCandidatesUncached(s: SparkSession, d: String,
      k: Int, bands: Int, minEst: Double): DataFrame = {
    val rows = k / bands
    val sig = canonPortableSigs(s, d, k)
    val banded = sig.select(
      col("doc_id"), col("sig"),
      posexplode(bandBuckets(col("sig"), bands, rows))
        .as(Seq("band", "bucket")))
    banded.select(col("doc_id").as("a"), col("sig").as("siga"), col("band"), col("bucket"))
      .join(
        banded.select(col("doc_id").as("b"), col("sig").as("sigb"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .where(col("a") < col("b"))
      // same packed-pair trick as ngramJaccardPairs (measured win #5): the
      // cross-band candidate dedup shuffles one 8-byte key; est_jaccard is
      // a function of the pair so it rides along without widening the key
      .select(
        shiftleft(col("a"), 32).bitwiseOR(col("b")).as("pair"),
        round(sigMatchFrac(col("siga"), col("sigb")), 6).as("est_jaccard"))
      .where(col("est_jaccard") >= minEst)
      .distinct()
      .select(
        shiftrightunsigned(col("pair"), 32).as("a"),
        col("pair").bitwiseAND(lit(0xFFFFFFFFL)).as("b"),
        col("est_jaccard"))
  }

  def minhashLshPairs(
      s: SparkSession, d: String,
      k: Int = 32, bands: Int = 8, minEst: Double = 0.5): DataFrame = {
    if (!isContracted(s, d)) {
      // no exact duplicates: canonical ids ARE the doc ids
      canonLshCandidates(s, d, k, bands, minEst).orderBy(col("a"), col("b"))
    } else {
      val (members, _) = contraction(s, d)
      val cross = canonLshCandidates(s, d, k, bands, minEst)
        .join(members.select(col("canon").as("a"), col("doc_id").as("x")), Seq("a"))
        .join(members.select(col("canon").as("b"), col("doc_id").as("y")), Seq("b"))
        .select(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b"), col("est_jaccard"))
      // co-members of a group with a signature collide in every band at
      // estimate exactly 1.0 (identical signature components)
      val within = canonPortableSigs(s, d, k)
        .select(col("doc_id").as("canon"))
        .join(members.select(col("canon"), col("doc_id").as("x")), Seq("canon"))
        .join(members.select(col("canon"), col("doc_id").as("y")), Seq("canon"))
        .where(col("x") < col("y") && lit(1.0) >= minEst)
        .select(col("x").as("a"), col("y").as("b"),
          lit(1.0).as("est_jaccard"))
      cross.unionByName(within).orderBy(col("a"), col("b"))
    }
  }

  /** Connected components over a near-duplicate pair graph: label every
    * document with the smallest doc_id reachable through pairs — its
    * duplicate-cluster canonical id. This is the stage that turns
    * pairwise similarity into an actual dedup decision (keep the
    * canonical doc, drop the rest of its cluster).
    *
    * Algorithm: iterative min-label propagation. Each round is one
    * distributed join (edge → neighbor label) + one aggregate
    * (min per node) — no driver-side data, the only thing crossing to
    * the driver per round is the improved-label COUNT for the
    * convergence check. Converges in O(cluster diameter) rounds;
    * near-dup clusters are near-cliques so 2–4 rounds in practice, and
    * `maxIters` bounds pathological chains. (If a corpus ever produced
    * deep chain components, the large-star/small-star formulation
    * [Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14] drops the bound to O(log n) with the same join-per-round
    * structure.) Each generation is persisted and the previous one
    * unpersisted, so lineage never cascades across rounds.
    *
    * Only documents appearing in >= 1 pair are labeled — singletons are
    * trivially their own cluster and would double the output for no
    * information.
    */
  def clusters(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    // both edge directions from ONE evaluation of the pairs subtree — a
    // union of two selects would compute the (possibly expensive)
    // upstream pair query twice before the persist materializes
    val edges = pairs
      .select(explode(array(
        struct(col("a").as("x"), col("b").as("y")),
        struct(col("b").as("x"), col("a").as("y")))).as("e"))
      .select(col("e.x").as("x"), col("e.y").as("y"))
      .persist()
    // generation 0: min(own id, smallest direct neighbor)
    var backing = edges.groupBy(col("x"))
      .agg(min(col("y")).as("m"))
      .select(col("x"), least(col("x"), col("m")).as("lbl"))
      .persist()
    var labels = backing
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIters) {
      val nbrMin = edges
        .join(labels.select(col("x").as("y"), col("lbl").as("ylbl")), Seq("y"))
        .groupBy(col("x")).agg(min(col("ylbl")).as("m"))
      // every x has >= 1 neighbor by construction → inner join is total
      val next = labels.join(nbrMin, Seq("x"))
        .select(col("x"), least(col("lbl"), col("m")).as("lbl"),
          (col("m") < col("lbl")).as("improved"))
        .persist()
      changed = next.where(col("improved")).count() // materializes `next`
      backing.unpersist()
      backing = next
      labels = next.select(col("x"), col("lbl"))
      it += 1
    }
    // Cut the lineage (eager localCheckpoint) before handing the frame
    // out: after ~8 generations the logical tree spans every generation
    // plus the full pair subtree, and EVERY consumer action re-analyzes
    // and re-canonicalizes it — measured 0.5 s of pure driver CPU per
    // action on a 477-row cached result. Checkpointing leaves the data
    // distributed (no collect) and makes downstream plans see a leaf.
    // (At cluster scale use reliable checkpoint() if re-computability
    // after executor loss matters; the iterative CC state is cheap to
    // rebuild here.)
    val out = labels.select(col("x").as("doc_id"), col("lbl").as("cluster_id"))
      .localCheckpoint(true)
    backing.unpersist()
    edges.unpersist()
    out
  }

  // the cluster assignment is consumed by four operators (labels query,
  // best-quality reps, size histogram, cluster-safe split) and its
  // iterative propagation is the pack's only multi-job stage — memoize
  // the label frame per (session, dir, minSim, maxDf); it is
  // member-sized, far below the corpus
  private val clusterCache =
    new graft.SessionCache[DataFrame](maxEntries = 8, onEvict = graft.SessionCache.release)

  /** Near-duplicate clusters of `documents` by n-gram Jaccard: pairs from
    * [[ngramJaccardPairs]], components from [[clusters]]. Memoized +
    * persisted per (session, dir, minSim, maxDf) — a dedup pipeline
    * computes components once per snapshot and runs every downstream
    * verdict off the assignment. The DuckDB twin computes the same
    * components via a recursive-CTE transitive closure — exact check,
    * not rows-only.
    */
  def duplicateClusters(
      s: SparkSession, d: String,
      minSim: Double = 0.2, maxDf: Long = 1000L): DataFrame =
    clusterCache.getOrElseUpdate(s, s"$d#$minSim#$maxDf") { (ss, _) =>
      // CLOSED FORM on the exact-dup contracted graph (r11): raw
      // components are canon components EXPANDED — a group with a
      // non-empty capped set is internally a Jaccard-1 clique, so its
      // members all land in their canon's component, and the component's
      // min raw id IS the min canon (canon = min member id). Label
      // propagation therefore runs on the CANONICAL edge set (the
      // organic near-dup graph) instead of the raw expansion (Σ w_A·w_B
      // edges per canon pair on replicated corpora — at the sf1 clique
      // fixture that is ~50× more edges per propagation round for
      // byte-identical labels). Groups with w ≥ 2 and no cross edges
      // form their own cluster (their within-clique edges qualify at
      // Jaccard 1 ≥ minSim).
      val art = canonPairArtifacts(ss, d, maxDf)
      val (members, _) = contraction(ss, d)
      val canonEdges = art.stats
        .where(round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")), 6) >= minSim)
        .select(col("a"), col("b"))
      val canonLabels = clusters(canonEdges)
        .select(col("doc_id").as("canon"), col("cluster_id"))
      val lonely = art.sizes.select(col("doc_id").as("canon"))
        .join(art.weights, Seq("canon"))
        .where(col("w") >= 2L && lit(minSim) <= 1.0)
        .join(canonLabels, Seq("canon"), "left_anti")
        .select(col("canon"), col("canon").as("cluster_id"))
      graft.SessionCache.cut(
        canonLabels.unionByName(lonely)
          .join(members, Seq("canon"))
          .select(col("doc_id"), col("cluster_id")))
    }.orderBy(col("doc_id"))

  /** Near-dup cluster-size histogram: log₂-bucketed distribution of
    * connected-component sizes with doc mass and removable excess
    * (size − 1 per cluster — the docs a keep-one-per-cluster sweep
    * deletes). The shape diagnostic behind every dedup yield estimate:
    * a corpus of doc-pairs (bucket 1) deduplicates very differently
    * from one dominated by a giant boilerplate component, and
    * [[neardupDegreeDist]]'s per-NODE view can't distinguish many
    * mid-size cliques from one huge sparse component — this per-
    * COMPONENT view can.
    *
    * Plan: one rollup of the cluster assignment (member-sized, far
    * smaller than the corpus) to per-cluster sizes, one ≤64-key rollup
    * of that. Bucket = `length(bin(size)) − 1` (integer floor(log₂),
    * the [[shingleDfProfile]] spelling — no float log ulp risk).
    */
  def clusterSizeProfile(s: SparkSession, d: String,
      minSim: Double = 0.2, maxDf: Long = 1000L): DataFrame =
    duplicateClusters(s, d, minSim, maxDf)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      .groupBy((length(bin(col("sz"))) - 1).cast("int").as("size_bucket"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("sz")).as("n_docs"),
        sum(col("sz") - 1).as("dup_excess"))
      .orderBy(col("size_bucket"))

  /** Cluster-transitivity audit: per size bucket, how much of each
    * component is DIRECT near-dup evidence vs transitive-closure
    * inflation — `closure_inflation` = 1 − direct_pairs / C(n,2). The
    * over-deletion risk gauge for cluster-level dedup: a clique
    * (inflation ≈ 0) really is one document; a long chain
    * (inflation → 1) connects docs that were never pairwise similar,
    * and keep-one-per-cluster would delete genuinely distinct text.
    * Decides clusters-vs-pairs as the removal unit next to
    * [[clusterSizeProfile]]'s size view.
    *
    * Plan: every qualifying pair is by construction intra-cluster (the
    * components are BUILT from those edges), so direct counts come from
    * one member-sized join of the pair endpoints to the memoized label
    * frame; possible counts are per-cluster arithmetic. Both rollups are
    * cluster-sized; quantization via [[Num.halfUpDiv]].
    */
  def clusterTransitivity(s: SparkSession, d: String,
      minSim: Double = 0.2, maxDf: Long = 1000L): DataFrame = {
    val labels = duplicateClusters(s, d, minSim, maxDf)
    // direct-edge counts, contraction-closed-form (r11): a canon pair
    // ≥ t inside a cluster stands for wa·wb raw direct edges, a w ≥ 2
    // group with a non-empty capped set adds C(w,2) at Jaccard 1 — the
    // raw expansion is never scanned (it cost the sf1 clique fixture
    // ~24 s/warm isolated; this is canonical-sized)
    val art = canonPairArtifacts(s, d, maxDf)
    val canonLabel = labels
      .join(art.weights.select(col("canon").as("doc_id")), Seq("doc_id"),
        "left_semi")
      .select(col("doc_id").as("canon"), col("cluster_id"))
    val crossDirect = art.stats
      .where(round(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")), 6) >= minSim)
      .join(art.weights.select(col("canon").as("a"), col("w").as("wa")),
        Seq("a"))
      .join(art.weights.select(col("canon").as("b"), col("w").as("wb")),
        Seq("b"))
      .join(canonLabel.withColumnRenamed("canon", "a"), Seq("a"))
      .select(col("cluster_id"), (col("wa") * col("wb")).as("mult"))
    val withinDirect = art.sizes.select(col("doc_id").as("canon"))
      .join(art.weights, Seq("canon"))
      .where(col("w") >= 2L && lit(minSim) <= 1.0)
      .join(canonLabel, Seq("canon"))
      .select(col("cluster_id"),
        shiftright(col("w") * (col("w") - 1L), 1).as("mult"))
    val direct = crossDirect.unionByName(withinDirect)
      .groupBy(col("cluster_id")).agg(sum(col("mult")).as("n_direct"))
    val perCluster = labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("sz"))
      .join(direct, Seq("cluster_id"))
      // n(n−1) is even: `div` keeps C(n,2) in exact long arithmetic
      .withColumn("poss",
        call_function("div", col("sz") * (col("sz") - 1), lit(2L)))
    perCluster
      .groupBy((length(bin(col("sz"))) - 1).cast("int").as("size_bucket"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("poss")).as("possible_pairs"),
        sum(col("n_direct")).as("direct_pairs"))
      .select(col("size_bucket"), col("n_clusters"), col("possible_pairs"),
        col("direct_pairs"),
        (Num.halfUpDiv((col("possible_pairs") - col("direct_pairs")) * 1000000L,
          col("possible_pairs")).cast("double") / 1e6).as("closure_inflation"))
      .orderBy(col("size_bucket"))
  }

  /** Best-quality representative per near-dup cluster: the rewrite
    * decision a curation pass makes AFTER clustering — unlike exact-dup
    * groups (identical text ⇒ identical quality ⇒ min-id is already the
    * right canonical, [[exactDuplicates]]), near-dup cluster members
    * DIFFER, so the kept copy should be the best one, not the first one.
    * Composes [[duplicateClusters]] with the shared curation quality
    * signal.
    *
    * Plan: the cluster assignment is cluster-member-sized (far smaller
    * than the corpus — AQE broadcasts it to the quality join); the rep
    * choice is one window over cluster_id. Ties break on doc_id.
    */
  def clusterReps(
      s: SparkSession, d: String,
      minSim: Double = 0.2, maxDf: Long = 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cl = duplicateClusters(s, d, minSim, maxDf)
    val q = Tables.documents(s, d)
      .select(col("doc_id"), CurationOps.qualityCol.as("quality"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc, col("doc_id"))
    val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cl.join(q, Seq("doc_id"))
      .withColumn("is_rep", row_number().over(w) === 1)
      .withColumn("rep_id", first(col("doc_id")).over(wAll))
      .select(col("doc_id"), col("cluster_id"), col("quality"),
        col("is_rep"), col("rep_id"))
      .orderBy(col("doc_id"))
  }

  /** Cross-source contamination matrix: near-duplicate pairs rolled up by
    * unordered source pair — the "is my web crawl leaking into my books
    * set" audit. Off-diagonal cells (source_lo ≠ source_hi) are
    * cross-source leakage a per-source dedup would MISS; the diagonal
    * calibrates against within-source duplication.
    *
    * Plan: pairs come from the shared df-capped shingle stage
    * ([[ngramJaccardPairs]] — memoized index, packed pair keys); the
    * (doc → source) map joins once per endpoint on doc_id, where the pair
    * side is the small one (AQE broadcasts it against the corpus-sized
    * map). Output is ≤ |sources|² rows; the mean quantizes per-pair
    * 6dp-rounded Jaccards to integer micro-units so the cell mean is an
    * exact long ratio on both engines ([[sketchCalibration]] stance).
    */
  def crossSourceLeakage(
      s: SparkSession, d: String,
      minSim: Double = 0.2, maxDf: Long = 1000L): DataFrame = {
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    jaccardPairsUnsorted(s, d, minSim, maxDf)
      .join(src.select(col("doc_id").as("a"), col("source").as("src_a")), Seq("a"))
      .join(src.select(col("doc_id").as("b"), col("source").as("src_b")), Seq("b"))
      .select(
        least(col("src_a"), col("src_b")).as("source_lo"),
        greatest(col("src_a"), col("src_b")).as("source_hi"),
        round(col("jaccard") * 1e6, 0).cast("long").as("jq"))
      .groupBy(col("source_lo"), col("source_hi"))
      .agg(
        count(lit(1)).as("n_pairs"),
        // half-up in longs, not round(double): Num.quantMean stance
        Num.quantMean(sum(col("jq")), count(lit(1)), 1e6).as("mean_jaccard"))
      .orderBy(col("source_lo"), col("source_hi"))
  }

  /** Per-source boilerplate detection: shingles occurring in ≥ 1/`invFrac`
    * of a source's documents (and ≥ `minDf` docs) are boilerplate — the
    * header/footer/disclaimer mass a CCNet-style cleaning stage strips
    * before dedup, because it inflates every similarity metric and
    * explodes candidate joins (the exact tail [[shingleDfProfile]]
    * measures, localized per source). Reports, per source, the
    * boilerplate share of the vocabulary and how much of a typical
    * document it covers.
    *
    * The threshold is the RATIONAL `df · invFrac ≥ n_docs` — no float
    * fraction whose rounding could flip a shingle at the boundary.
    *
    * Plan: the memoized distinct-shingle index picks up `source` in one
    * doc-keyed join, rolls to (source, sh_h) df, and the boiler verdict
    * joins back on the same constant-width key; text never crosses the
    * wire and nothing is all-pairs.
    */
  def boilerplate(s: SparkSession, d: String, invFrac: Long = 5L,
      minDf: Long = 2L): DataFrame = {
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val idx = shingleIndex(s, d).join(src, Seq("doc_id"))
    val nd = idx.select(col("source"), col("doc_id")).distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    // (source, sh_h, boiler) is consumed by BOTH the per-doc join and
    // the vocabulary rollup — memoize + cut like the pair-stats table
    // (no text, constant-width keys) so the df shuffle runs once, not
    // per consumer.
    val sdf = boilerCache.getOrElseUpdate(s, s"$d#$invFrac#$minDf") {
      (_, _) =>
        graft.SessionCache.cut(idx.groupBy(col("source"), col("sh_h"))
          .agg(count(lit(1)).as("df"))
          .join(nd, Seq("source"))
          .select(col("source"), col("sh_h"),
            (col("df") >= minDf && col("df") * invFrac >= col("n_docs"))
              .as("boiler")))
    }
    val perDoc = idx.join(sdf, Seq("source", "sh_h"))
      .groupBy(col("source"), col("doc_id"))
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("boiler"), 1L).otherwise(0L)).as("n_boiler"))
      .select(col("source"),
        Num.halfUpDiv(col("n_boiler") * 1000000L, col("n_sh"))
          .as("frac_ppm"))
    val vocab = sdf.groupBy(col("source"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("boiler"), 1L).otherwise(0L)).as("n_boiler_shingles"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        (Num.halfUpDiv(sum(col("frac_ppm")), count(lit(1)))
          .cast("double") / 1e6).as("mean_doc_boiler_frac"),
        (max(col("frac_ppm")).cast("double") / 1e6).as("max_doc_boiler_frac"))
      .join(vocab, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_shingles"),
        col("n_boiler_shingles"), col("mean_doc_boiler_frac"),
        col("max_doc_boiler_frac"))
      .orderBy(col("source"))
  }

  private val boilerCache =
    new graft.SessionCache[DataFrame](maxEntries = 8, onEvict = graft.SessionCache.release)

  private val winnowIndexCache =
    new graft.SessionCache[DataFrame](maxEntries = 8, onEvict = graft.SessionCache.release)

  // Df-capped winnow artifacts per (session, dir, cap): capped index,
  // uncapped per-doc fingerprint counts, capped per-doc counts. The cap
  // is a pure function of (corpus, cap) — the cappedIndex stance: a
  // pipeline builds its df-capped fingerprint index once and runs many
  // pair queries against it. Memoizing removes the per-call weighted-df
  // rollup + semi-join + two size rollups (~6 exchanges) from the warm
  // path (r14).
  private val winnowCappedCache =
    new graft.SessionCache[(DataFrame, DataFrame, DataFrame)](maxEntries = 4,
      onEvict = v => {
        graft.SessionCache.release(v._1)
        graft.SessionCache.release(v._2)
        graft.SessionCache.release(v._3)
      })

  /** Winnowing-based near-dup pairs (the MOSS detector proper, on top of
    * [[graft.operators.TextOps.winnowProfile]]'s selection): documents
    * sharing ≥ `minShared` winnowed fingerprints, with the shared count
    * and a containment score shared/min(|A|,|B|). The winnowing guarantee
    * makes this a RECALL-carrying sampled index: any pair sharing a run
    * of w+k−1 = 6 tokens shares at least one selected fingerprint, at
    * ~2/(w+1) of the index size a full shingle join pays.
    *
    * Plan: distinct (doc, fp) → df-cap (drop boilerplate fingerprints in
    * > `maxDf` docs — same stance as the shingle index's cap) → one
    * fp-keyed self-join whose fanout is C(df,2)-bounded by the cap →
    * pair rollup. Doc sizes join back on the high-cardinality doc key.
    * Containment quantizes via [[Num.halfUpDiv]].
    */
  def winnowPairs(s: SparkSession, d: String, minShared: Long = 2L,
      maxDf: Long = 1000L): DataFrame = {
    // CONTRACTION-FIRST (r11): identical texts select identical winnow
    // fingerprints, so the index, the weighted df cap (Σ group weights ≡
    // raw df), and the C(df,2) self-join all run over CANONICAL texts —
    // on replicated corpora the raw join's fanout is replication² larger
    // for the same information. Raw pairs come back by expansion: cross
    // pairs carry the canon pair's counts (fp sets identical per member),
    // within-group pairs share the group's whole capped fp set. The
    // memoized index (consumed three times: df-cap, self-join, sizes) is
    // canonical-only; shared winnow-position arithmetic stays on the
    // corpus-wide TextOps memo.
    val (members, weights) = contraction(s, d)
    val (idx, nFp, cCap) =
      winnowCappedCache.getOrElseUpdate(s, s"$d#$maxDf") { (ss, _) =>
        val sel = winnowIndexCache.getOrElseUpdate(ss, d) { (ss2, dir) =>
          graft.SessionCache.cut(TextOps.winnowPositions(ss2, dir)
            .where(col("fp").isNotNull)
            .join(weights.withColumnRenamed("canon", "doc_id"),
              Seq("doc_id"), "left_semi")
            .select(col("doc_id"), col("fp")).distinct())
        }
        val capped = sel
          .join(weights.withColumnRenamed("canon", "doc_id"), Seq("doc_id"))
          .groupBy(col("fp")).agg(sum(col("w")).as("df"))
          .where(col("df") <= maxDf).select(col("fp"))
        val idxCut = graft.SessionCache.cut(sel.join(capped, Seq("fp")))
        val nFpCut = graft.SessionCache.cut(
          sel.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp")))
        val cCapCut = graft.SessionCache.cut(
          idxCut.groupBy(col("doc_id")).agg(count(lit(1)).as("c")))
        (idxCut, nFpCut, cCapCut)
      }
    val cPairs = idx.select(col("doc_id").as("ca"), col("fp"))
      .join(idx.select(col("doc_id").as("cb"), col("fp")), Seq("fp"))
      .where(col("ca") < col("cb"))
      // packed-pair rollup (ngramJaccardPairs measured win #5): the
      // C(df,2) candidate stream shuffles one 8-byte key, not two
      .select(shiftleft(col("ca"), 32).bitwiseOR(col("cb")).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n_shared_fp"))
      .where(col("n_shared_fp") >= minShared)
      .select(shiftrightunsigned(col("pair"), 32).as("ca"),
        col("pair").bitwiseAND(lit(0xFFFFFFFFL)).as("cb"),
        col("n_shared_fp"))
      .join(nFp.select(col("doc_id").as("ca"), col("n_fp").as("nfa")),
        Seq("ca"))
      .join(nFp.select(col("doc_id").as("cb"), col("n_fp").as("nfb")),
        Seq("cb"))
    val cross = cPairs
      .join(members.select(col("canon").as("ca"), col("doc_id").as("x")),
        Seq("ca"))
      .join(members.select(col("canon").as("cb"), col("doc_id").as("y")),
        Seq("cb"))
      .select(least(col("x"), col("y")).as("doc_a"),
        greatest(col("x"), col("y")).as("doc_b"),
        col("n_shared_fp"),
        when(col("x") < col("y"), col("nfa")).otherwise(col("nfb"))
          .as("n_fp_a"),
        when(col("x") < col("y"), col("nfb")).otherwise(col("nfa"))
          .as("n_fp_b"))
    val within = members.select(col("canon"), col("doc_id").as("x"))
      .join(members.select(col("canon"), col("doc_id").as("y")), Seq("canon"))
      .where(col("x") < col("y"))
      .join(cCap.withColumnRenamed("doc_id", "canon"), Seq("canon"))
      .where(col("c") >= minShared)
      .join(nFp.withColumnRenamed("doc_id", "canon"), Seq("canon"))
      .select(col("x").as("doc_a"), col("y").as("doc_b"),
        col("c").as("n_shared_fp"),
        col("n_fp").as("n_fp_a"), col("n_fp").as("n_fp_b"))
    cross.unionByName(within)
      .select(col("doc_a"), col("doc_b"), col("n_shared_fp"),
        col("n_fp_a"), col("n_fp_b"),
        (Num.halfUpDiv(col("n_shared_fp") * 1000000L,
          least(col("n_fp_a"), col("n_fp_b"))).cast("double") / 1e6)
          .as("containment"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Shingle document-frequency profile: log₂-bucketed histogram of how
    * many corpus shingles occur in 1, 2, 3–4, 5–8, … documents, with the
    * posting mass and the share removed by the df cap — the audit that
    * justifies (and tunes) `maxDf` in every overlap operator: the
    * C(df,2) pair explosion is driven by exactly the tail this profile
    * exposes.
    *
    * Plan: one rollup of the memoized (doc_id, sh_h) index to per-shingle
    * df, one ≤64-key rollup of that. The bucket is
    * `length(bin(df)) − 1` — integer floor(log₂) with no float log
    * whose last-ulp could disagree across engines at exact powers of 2.
    */
  def shingleDfProfile(s: SparkSession, d: String,
      maxDf: Long = 1000L): DataFrame =
    // weighted canonical document frequency ≡ raw df (contraction-first,
    // r11): the profile never needs the raw postings
    canonShingleIndex(s, d)
      .join(contraction(s, d)._2.withColumnRenamed("canon", "doc_id"),
        Seq("doc_id"))
      .groupBy(col("sh_h")).agg(sum(col("w")).as("df"))
      .groupBy((length(bin(col("df"))) - 1).cast("int").as("df_bucket"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(col("df")).as("n_postings"),
        sum(when(col("df") > maxDf, 1L).otherwise(0L)).as("n_capped_shingles"),
        sum(when(col("df") > maxDf, col("df")).otherwise(0L))
          .as("capped_postings"))
      .orderBy(col("df_bucket"))

  /** Degree distribution of the near-duplicate graph: how many documents
    * have exactly `degree` near-dup partners. The shape diagnostic that
    * separates a corpus with scattered pair-dups from one with giant
    * syndication cliques (where cluster passes and rewrite plans need
    * skew handling).
    *
    * Plan: two shrinking rollups over the memoized pair-stats table —
    * per-doc degree, then the degree histogram (≤ max-degree rows).
    * Nothing touches text or the raw index.
    */
  def neardupDegreeDist(
      s: SparkSession, d: String,
      minSim: Double = 0.2, maxDf: Long = 1000L): DataFrame = {
    // CLOSED FORM on the contracted graph (r11): every member of a group
    // G shares one raw degree, deg_G = Σ_{H: J(G,H) ≥ t} w_H + (w_G − 1)
    // — cross neighbors are whole groups, co-members are an implicit
    // K_w clique at Jaccard 1 — so the histogram is a rollup of the
    // CANONICAL pair table (plus the no-neighbor w ≥ 2 groups), never of
    // the raw expansion. With no exact duplicates w ≡ 1 and this reduces
    // verbatim to the old raw computation. (The r10 form consumed the
    // expanded stats: correct, but priced the clique mass on every run —
    // 4.97 s at sf1 vs the canonical table's ~1.3 M rows.)
    val art = canonPairArtifacts(s, d, maxDf)
    val ends = art.stats
      .where(round(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")), 6) >= minSim)
      .select(explode(array(
        struct(col("a").as("g"), col("b").as("h")),
        struct(col("b").as("g"), col("a").as("h")))).as("e"))
      .select(col("e.g").as("g"), col("e.h").as("h"))
    val crossDeg = ends
      .join(art.weights.select(col("canon").as("h"), col("w").as("wh")), Seq("h"))
      .groupBy(col("g")).agg(sum(col("wh")).as("dcross"))
    art.sizes.select(col("doc_id").as("g"))
      .join(art.weights.select(col("canon").as("g"), col("w")), Seq("g"))
      .join(crossDeg, Seq("g"), "left")
      .select(col("w"),
        (coalesce(col("dcross"), lit(0L)) + col("w") - 1L).as("degree"))
      .where(col("degree") >= 1L)
      .groupBy(col("degree")).agg(sum(col("w")).as("n_docs"))
      .orderBy(col("degree"))
  }

  /** Bounded k-core peel of the near-duplicate graph: repeatedly drop
    * documents with fewer than `kCore` surviving neighbors (`rounds`
    * iterations), reporting the raw graph's size after each peel — the
    * standard "dense redundancy core vs sparse halo" decomposition a
    * dedup review consults before choosing what to delete: the k-core
    * is boilerplate/template mass (every member redundant many times
    * over), the first-peel shell is one-off near-dups a gentler policy
    * might keep.
    *
    * CLOSED FORM on the exact-dup contracted graph ([[thresholdCurve]] /
    * [[neardupDegreeDist]] stance): members of a group share one raw
    * neighborhood — `deg_G = (w_G − 1) + Σ_{H ∈ N(G) alive} w_H` — so
    * groups peel ATOMICALLY and every round needs only the CANONICAL
    * edge set with group weights, never the raw expansion; raw doc/edge
    * counts roll up weights (`w_A·w_B` per canon edge, `C(w,2)` within
    * groups). With no exact duplicates (w ≡ 1) this is verbatim the raw
    * peel.
    *
    * Execution is size-gated like [[incrementalClusters]]: the peel's
    * working set is the CONTRACTED edge list — already output-sized
    * (the memoized pair-stats artifact), orders of magnitude below the
    * corpus — so below `smallGraphEdges` the whole iteration runs as a
    * driver loop over collected (edge, weight) arrays (exact long
    * arithmetic, microseconds, ONE distributed read of the checkpointed
    * stats leaf; the per-round distributed spelling measured 2.4 s warm
    * at sf0.1 — pure rounds × job-launch overhead). Above the gate the
    * identical recurrence runs distributed, one join+rollup per round
    * with each survivor set locally checkpointed (lineage one round
    * deep — the iterative-graph contract; the spec pins both paths to
    * the same rows). The DuckDB twin replays the RAW peel (MATERIALIZED
    * CTEs) — the agreement of the two formulations is the check.
    */
  /** The k-core peel's working set: canonical groups restricted to
    * edge-incident ∪ (w >= 2). This is the ONLY node set either peel path
    * may materialize — it is output-sized (O(edges + duplicate groups)),
    * while the unrestricted canonical-node table is corpus-sized. Exposed
    * for the spec that pins the driver fast path's collect to this bound.
    */
  private[graft] def peelWorkingSet(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val endpoints = edges.select(explode(array(col("a"), col("b"))).as("g"))
      .distinct()
    nodes.join(endpoints, Seq("g"), "left_semi")
      .unionByName(nodes.where(col("w") >= 2L))
      .distinct()
  }

  def kcorePeel(s: SparkSession, d: String, kCore: Int = 2, rounds: Int = 3,
      minSim: Double = 0.2, maxDf: Long = 1000L,
      smallGraphEdges: Long = 1L << 20): DataFrame = {
    require(kCore >= 1 && rounds >= 0, s"bad peel: k=$kCore rounds=$rounds")
    import s.implicits._
    val art = canonPairArtifacts(s, d, maxDf)
    val edges = art.stats
      .where(round(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")), 6) >= minSim)
      .select(col("a"), col("b"))
    val nodes = art.sizes.select(col("doc_id").as("g"))
      .join(art.weights.select(col("canon").as("g"), col("w")), Seq("g"))
    // Both paths operate on the RESTRICTED node set only — edge-incident
    // groups plus multi-doc groups. Non-incident singletons can never
    // enter `alive` (their degree is 0 < kCore) and contribute nothing to
    // any round's summary, so they are excluded BEFORE any materialization:
    // a well-deduplicated corpus of billions of distinct docs and a
    // handful of near-dup edges collects O(edges + dup groups) rows on the
    // driver, never O(#canonical docs) (VERDICT r12 #1). Checkpointed once:
    // the gate count, the driver collect, and the distributed round-0 set
    // all read the same output-sized materialization.
    val peelNodes = peelWorkingSet(nodes, edges).localCheckpoint(true)
    if (edges.count() <= smallGraphEdges &&
        peelNodes.count() <= 2L * smallGraphEdges) {
      // ---- driver fast path: the RESTRICTED graph fits comfortably ----
      // (gated on the restricted set's own count, not just edge count —
      // a corpus with billions of w>=2 exact-dup groups falls through to
      // the distributed branch)
      val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      val w = peelNodes.collect().iterator
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      var alive = w.keySet
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
      def summarize(r: Int): Unit = {
        val nDocs = alive.iterator.map(w).sum
        val ec = es.iterator.filter(e => alive(e._1) && alive(e._2))
          .map(e => w(e._1) * w(e._2)).sum
        val ew = alive.iterator.map(w).filter(_ >= 2L)
          .map(x => x * (x - 1L) >> 1).sum
        out += ((r, nDocs, ec + ew))
      }
      summarize(0)
      for (r <- 1 to rounds) {
        val dc = scala.collection.mutable.Map.empty[Long, Long]
          .withDefaultValue(0L)
        es.foreach { e =>
          if (alive(e._1) && alive(e._2)) {
            dc(e._1) += w(e._2); dc(e._2) += w(e._1)
          }
        }
        alive = alive.filter(g => dc(g) + w(g) - 1L >= kCore)
        summarize(r)
      }
      out.toSeq.toDF("round", "n_docs", "n_edges").orderBy(col("round"))
    } else {
      // ---- distributed path: identical recurrence, one checkpointed ----
      // ---- survivor set per round                                   ----
      var alive = peelNodes
      val summaries = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      def summarize(r: Int, al: DataFrame): DataFrame = {
        val aw = al.select(col("g").as("a"), col("w").as("wa"))
        val bw = al.select(col("g").as("b"), col("w").as("wb"))
        val crossE = edges.join(aw, Seq("a")).join(bw, Seq("b"))
          .agg(coalesce(sum(col("wa") * col("wb")), lit(0L)).as("ec"))
        val withinE = al.where(col("w") >= 2L)
          .agg(coalesce(sum(shiftright(col("w") * (col("w") - 1L), 1)), lit(0L))
            .as("ew"))
        val docs = al.agg(coalesce(sum(col("w")), lit(0L)).as("n_docs"))
        docs.crossJoin(crossE).crossJoin(withinE)
          .select(lit(r).as("round"), col("n_docs"),
            (col("ec") + col("ew")).as("n_edges"))
      }
      summaries += summarize(0, alive)
      for (r <- 1 to rounds) {
        val degCross = edges
          .join(alive.select(col("g").as("a"), col("w").as("wa")), Seq("a"))
          .join(alive.select(col("g").as("b"), col("w").as("wb")), Seq("b"))
          .select(explode(array(
            struct(col("a").as("g"), col("wb").as("wn")),
            struct(col("b").as("g"), col("wa").as("wn")))).as("e"))
          .select(col("e.g").as("g"), col("e.wn").as("wn"))
          .groupBy(col("g")).agg(sum(col("wn")).as("dc"))
        alive = alive.join(degCross, Seq("g"), "left")
          .where(coalesce(col("dc"), lit(0L)) + col("w") - 1L >= kCore)
          .select(col("g"), col("w"))
          .localCheckpoint(true)
        summaries += summarize(r, alive)
      }
      summaries.reduce(_ unionByName _).orderBy(col("round"))
    }
  }

  /** Portable 64-bit SimHash as 4×16-bit chunk values: token hashes are
    * md5 hex digests read nibble-by-nibble, the per-bit majority vote is
    * `2·ones > n`, and each chunk packs 16 votes MSB-first (the pqCodes
    * accumulate trick). Pure string/integer arithmetic both engines
    * compute bit-identically — the portability move that turns the
    * simhash query from rows-only into a full hash check (VERDICT r5 #2).
    * The engine-hash [[graft.functions.sketch.simhash64]] expression
    * stays as the fast SQL-function surface.
    */
  def portableSimhashChunks(tokens: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    md5SimhashChunks(tokens)

  /** SimHash signatures + near-dup pairs at Hamming distance <= maxDist,
    * candidates generated by matching on any of 4 16-bit chunks (guarantees
    * recall for distance <= 3 by pigeonhole). Candidates carry bare ids;
    * chunk vectors re-join for the Hamming check (sum of per-chunk XOR
    * popcounts — equal to the 64-bit Hamming distance).
    */
  def simhashPairs(s: SparkSession, d: String, maxDist: Int = 3): DataFrame = {
    // CONTRACTION-FIRST (r11, the canonNearDupPairs ordering applied to
    // the SimHash face): identical texts have identical chunk vectors,
    // so the chunk-collision self-join and the Hamming check run over
    // CANONICAL texts only (1/replication of the raw join, 10× less
    // md5-simhash hashing at the sf1 fixture) and raw pairs come back by
    // expansion — (x∈A, y∈B) at the canon pair's distance, C(w,2)
    // within-group pairs at distance 0 (co-members always collide on
    // every chunk). The expansion is output-sized, the floor for this
    // audit face's raw-pair result.
    val (members, weights) = contraction(s, d)
    // The memo also carries the 4×16-bit chunks PACKED into one long
    // (r14): the Hamming check then is bit_count(sig_a XOR sig_b) — a
    // single codegen'd expression over an 8-byte column — instead of the
    // interpreted aggregate(zip_with(bit_count(xor))) HOF over the chunk
    // arrays, and the two signature joins ship 8 bytes/row instead of the
    // 4-int array. Identical value: the 64-bit XOR popcount IS the sum of
    // per-chunk XOR popcounts.
    val docs = sigCache.getOrElseUpdate(s, s"$d#simhashp") { (ss, _) =>
      graft.SessionCache.cut(canonDocsWide(ss, d)
        .select(col("doc_id"),
          portableSimhashChunks(split(col("text"), " ")).as("cks"))
        .select(col("doc_id"), col("cks"),
          (Seq(0, 1, 2, 3).map(i =>
            shiftleft(element_at(col("cks"), i + 1).cast("long"),
              48 - 16 * i)): Seq[org.apache.spark.sql.Column])
            .reduce(_.bitwiseOR(_)).as("sig")))
    }
    val chunked = docs.select(
      col("doc_id"), posexplode(col("cks")).as(Seq("chunk", "ck")))
    val cand = chunked.select(col("doc_id").as("a"), col("chunk"), col("ck"))
      .join(chunked.select(col("doc_id").as("b"), col("chunk"), col("ck")),
        Seq("chunk", "ck"))
      .where(col("a") < col("b"))
      // packed-pair candidate dedup (measured win #5 in ngramJaccardPairs)
      .select(shiftleft(col("a"), 32).bitwiseOR(col("b")).as("pair"))
      .distinct()
      .select(
        shiftrightunsigned(col("pair"), 32).as("a"),
        col("pair").bitwiseAND(lit(0xFFFFFFFFL)).as("b"))
    val canonPairs = cand
      .join(docs.select(col("doc_id").as("a"), col("sig").as("siga")), Seq("a"))
      .join(docs.select(col("doc_id").as("b"), col("sig").as("sigb")), Seq("b"))
      .select(col("a"), col("b"),
        bit_count(col("siga").bitwiseXOR(col("sigb"))).as("hamming"))
      .where(col("hamming") <= maxDist)
    val cross = canonPairs
      .join(members.select(col("canon").as("a"), col("doc_id").as("x")),
        Seq("a"))
      .join(members.select(col("canon").as("b"), col("doc_id").as("y")),
        Seq("b"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"), col("hamming"))
    val within = members.select(col("canon"), col("doc_id").as("a"))
      .join(members.select(col("canon"), col("doc_id").as("b")), Seq("canon"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"), lit(0).as("hamming"))
    cross.unionByName(within).orderBy(col("a"), col("b"))
  }

  /** MinHash-estimate calibration audit: for every LSH candidate pair,
    * compare the signature-based Jaccard ESTIMATE against the exact
    * shingle Jaccard, rolled up by estimate band — the table that tells
    * you whether the sketch's banding/threshold configuration can be
    * trusted before a corpus-wide dedup commits to it (a band whose
    * mean_abs_err rivals its width is lying to you).
    *
    * Plan: the banded LSH candidates factor through the CONTRACTED
    * artifacts as a closed-form multiplicity rollup — exact scores are
    * pure functions of the endpoints' exact-dup groups, so each canon
    * candidate row carries its raw-pair multiplicity and the raw pair
    * expansion never materializes (r11: a raw left join here cost
    * ~28 s/warm-run at the sf1 clique fixture) — and the rollup output
    * is ≤ 10 bands at any corpus size. Estimates and exact values
    * quantize to integer micro-units so every derived mean is an exact
    * integer sum divided once — engine-identical. Candidates whose
    * capped shingle sets don't overlap score exact 0 via the rollup's
    * missing→0 coalesce.
    */
  def sketchCalibration(s: SparkSession, d: String): DataFrame = {
    val maxDf = 1000L
    val art = canonPairArtifacts(s, d, maxDf)
    // (est_jaccard, jaccard, mult): each row stands for `mult` raw
    // candidate pairs sharing both scores — the band rollup below is a
    // weighted sum, so the raw expansion never materializes. Estimates
    // and exact values are constant across each expansion (both are pure
    // functions of the endpoints' exact-dup groups), which is what makes
    // the multiplicity form output-identical to the raw rollup.
    // (with no exact duplicates this reduces to the raw rollup exactly:
    // every weight is 1 and the w >= 2 within branch is empty)
    val canonJ = art.stats.select(col("a"), col("b"),
      round(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")), 6).as("jx"))
    val cross = canonLshCandidates(s, d, 32, 8, 0.5)
      .join(canonJ, Seq("a", "b"), "left")
      .join(art.weights.select(col("canon").as("a"), col("w").as("wa")), Seq("a"))
      .join(art.weights.select(col("canon").as("b"), col("w").as("wb")), Seq("b"))
      .select(col("est_jaccard"),
        coalesce(col("jx"), lit(0.0)).as("jaccard"),
        (col("wa") * col("wb")).as("mult"))
    // a group with a signature contributes C(w,2) within-group
    // candidates at estimate 1.0; their exact Jaccard is 1.0 iff the
    // group's df-CAPPED set is non-empty (otherwise the raw pair
    // table misses the pair and the lookup's coalesce scores it 0)
    val within = canonPortableSigs(s, d, 32)
      .select(col("doc_id").as("canon"))
      .join(art.weights, Seq("canon"))
      .where(col("w") >= 2L)
      .join(art.sizes.select(col("doc_id").as("canon"),
        lit(1.0).as("jw")), Seq("canon"), "left")
      .select(lit(1.0).as("est_jaccard"),
        coalesce(col("jw"), lit(0.0)).as("jaccard"),
        shiftright(col("w") * (col("w") - 1L), 1).as("mult"))
    val graded = cross.unionByName(within)
    graded
      .select(
        floor(col("est_jaccard") * 10).cast("int").as("band10"),
        round(col("est_jaccard") * 1e6, 0).cast("long").as("eq"),
        round(col("jaccard") * 1e6, 0).cast("long").as("xq"),
        col("mult"))
      .withColumn("errq", abs(col("eq") - col("xq")))
      .groupBy(col("band10"))
      .agg(sum(col("mult")).as("n_pairs"),
        sum(col("eq") * col("mult")).as("seq"),
        sum(col("xq") * col("mult")).as("sxq"),
        sum(col("errq") * col("mult")).as("serr"),
        max(col("errq")).as("merr"))
      .select(
        round(col("band10") / lit(10.0), 1).as("est_band"),
        col("n_pairs"),
        round(col("seq").cast("double") / col("n_pairs") / 1e6, 6).as("mean_est"),
        round(col("sxq").cast("double") / col("n_pairs") / 1e6, 6).as("mean_exact"),
        round(col("serr").cast("double") / col("n_pairs") / 1e6, 6).as("mean_abs_err"),
        round(col("merr").cast("double") / 1e6, 6).as("max_abs_err"))
      .orderBy(col("est_band"))
  }

  /** Nearest near-duplicate per document: each doc's single most-similar
    * counterpart by exact n-gram Jaccard — the lookup a reviewer (or an
    * active-learning loop picking borderline pairs) actually queries,
    * where the pair TABLE answers "what pairs exist" this answers "what
    * is THIS doc's closest relative and how close". Restricted to docs
    * with ≥ 1 candidate pair (a doc sharing no capped shingle has no
    * meaningful neighbor).
    *
    * CLOSED FORM on the exact-dup contracted graph (r11 — the output is
    * per-RAW-doc, but nothing about computing it needs the raw pair
    * EXPANSION): all members of group G share the same cross-group
    * candidates (every member of neighbor H at the canon pair's jq, best
    * cross tie-break = H's canon, which IS min(H)'s id), and the
    * within-group candidates are the other co-members at exact Jaccard 1
    * — so a member's nearest is `argmax((10⁶, co-member m1/m2), (jq_GH,
    * canon_H))` where m1/m2 are the group's two smallest ids, and
    * `n_candidates = (w−1) + Σ_{H∈N(G)} w_H`. Everything before the
    * final member join is canonical-sized; the member join is
    * output-sized (one row per doc — the floor for this query's result).
    * The raw-expansion spelling measured 15.6 s at the sf1 clique
    * fixture for the same rows; ties (equal micro-quantized Jaccard)
    * break toward the SMALLER neighbor id on both engines, exactly as
    * the raw arg-max did.
    */
  def nearestNeighbors(s: SparkSession, d: String,
      maxDf: Long = 1000L): DataFrame = {
    val art = canonPairArtifacts(s, d, maxDf)
    val (members, _) = contraction(s, d)
    val canonJq = art.stats.select(col("a"), col("b"),
      round(round(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")), 6) * 1e6, 0)
        .cast("long").as("jq"))
    // per-group best cross candidate (argmax jq, ties -> smaller canon)
    // and total cross-candidate mass
    val cross = canonJq
      .select(explode(array(
        struct(col("a").as("g"), col("b").as("h"), col("jq")),
        struct(col("b").as("g"), col("a").as("h"), col("jq")))).as("e"))
      .select(col("e.g").as("g"), col("e.h").as("h"), col("e.jq").as("jq"))
      .join(art.weights.select(col("canon").as("h"), col("w").as("wh")),
        Seq("h"))
      .groupBy(col("g"))
      .agg(max(struct(col("jq").as("jq"), (-col("h")).as("negh"))).as("bc"),
        sum(col("wh")).as("ncross"))
      .select(col("g"), col("bc.jq").as("cq"), (-col("bc.negh")).as("cn"),
        col("ncross"))
    // the group's two smallest member ids (m2 null for singletons):
    // within-neighbor of m1 is m2, of everyone else m1
    val m1s = members.groupBy(col("canon")).agg(min(col("doc_id")).as("m1"))
    val mm = m1s.join(
      members.join(m1s, Seq("canon")).where(col("doc_id") > col("m1"))
        .groupBy(col("canon")).agg(min(col("doc_id")).as("m2")),
      Seq("canon"), "left")
    val groups = art.sizes.select(col("doc_id").as("canon"))
      .join(art.weights, Seq("canon"))
      .join(mm, Seq("canon"))
      .join(cross.withColumnRenamed("g", "canon"), Seq("canon"), "left")
      .where(col("w") >= 2L || col("ncross").isNotNull)
    val withinNbrOf = (docId: Column) =>
      when(col("w") >= 2L,
        when(docId === col("m1"), col("m2")).otherwise(col("m1")))
    groups.join(members, Seq("canon"))
      .select(col("doc_id"), col("w"), col("cq"), col("cn"),
        col("ncross"), withinNbrOf(col("doc_id")).as("wn"))
      .select(col("doc_id"),
        // argmax of the (jq, -nbr) structs the raw rollup compared —
        // within candidates sit at exactly 10^6
        when(col("wn").isNull, struct(col("cq").as("jq"), col("cn").as("nb")))
          .when(col("cq").isNull, struct(lit(1000000L).as("jq"), col("wn").as("nb")))
          .when(col("cq") > 1000000L ||
                (col("cq") === 1000000L && col("cn") < col("wn")),
            struct(col("cq").as("jq"), col("cn").as("nb")))
          .otherwise(struct(lit(1000000L).as("jq"), col("wn").as("nb")))
          .as("best"),
        (coalesce(col("ncross"), lit(0L)) + col("w") - 1L)
          .as("n_candidates"))
      .select(col("doc_id"), col("best.nb").as("nearest_doc"),
        round(col("best.jq").cast("double") / 1e6, 6).as("jaccard"),
        col("n_candidates"))
      .orderBy(col("doc_id"))
  }

  /** Dedup-threshold survival curve: surviving pair count, distinct docs
    * touched, and mean Jaccard of survivors for each candidate
    * similarity threshold — the sensitivity table consulted before
    * committing [[ngramJaccardPairs]]' `minSim` (the [[lshTuningCurve]]
    * stance for the VERDICT knob instead of the banding knob: a cliff in
    * doc count between candidate thresholds means the dedup sweep's
    * yield is an artifact of the cutoff).
    *
    * Plan: thresholds are NESTED (survivors at 0.9 ⊂ survivors at 0.8),
    * so the curve never explodes the pair table ×|thresholds|. Each pair
    * buckets ONCE by its quantized Jaccard and each doc ONCE by the max
    * Jaccard over its incident pairs (a doc survives a cutoff iff that
    * max clears it); per-threshold counts/sums are then suffix sums over
    * the ≤ |thresholds|+1-row bucket grid. Two passes over the memoized
    * pair-statistics table, both with 8-byte keys — the first spelling
    * (explode ×8 + per-threshold distinct) measured 35 s on the sf1
    * clique-stress fixture; this one 3.3 s, bit-identical. Mean Jaccard
    * quantizes to 1e-6 longs before any sum ([[Num.quantMean]]).
    */
  def thresholdCurve(s: SparkSession, d: String,
      thresholds: Seq[Double] = Seq(0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9),
      maxDf: Long = 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(thresholds.nonEmpty, "need at least one threshold")
    val thrs = thresholds.sorted
    val cuts = thrs.map(t => math.round(t * 1e6)) // ascending long cutoffs
    // bucket = how many cutoffs the value clears (0 .. |thrs|); the
    // survivors of threshold i (1-based) are exactly buckets >= i
    def bucketOf(v: org.apache.spark.sql.Column) =
      cuts.map(q => when(v >= q, 1).otherwise(0)).reduce(_ + _)
    // pairs below the lowest threshold can never appear in the curve —
    // pull the pair table at minSim = thrs.head (the 6-dp-rounded
    // jaccard >= t filter is bit-equivalent to jq >= round(t·1e6): both
    // compare the same discrete k/1e6 doubles). CLOSED FORM on the
    // contracted graph (r11): a canon pair (A,B) stands for w_A·w_B raw
    // pairs at its jq; a group of weight w ≥ 2 (with a non-empty capped
    // set) adds C(w,2) raw pairs at jq = 10⁶; a raw doc's max-jq is its
    // GROUP's max-jq (co-members are interchangeable), so doc counts
    // roll up group weights. w ≡ 1 reduces verbatim to the raw math.
    val art = canonPairArtifacts(s, d, maxDf)
    val wA = art.weights.select(col("canon").as("a"), col("w").as("wa"))
    val wB = art.weights.select(col("canon").as("b"), col("w").as("wb"))
    val cross = art.stats
      .select(col("a"), col("b"),
        round(round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")), 6) * 1e6, 0)
          .cast("long").as("jq"))
      .where(col("jq") >= cuts.head)
      .join(wA, Seq("a")).join(wB, Seq("b"))
    val within = art.sizes.select(col("doc_id").as("a"))
      .join(art.weights.select(col("canon").as("a"), col("w")), Seq("a"))
      .where(col("w") >= 2L)
      .select(col("a"), lit(1000000L).as("jq"),
        // C(w,2); shiftright keeps it integer — `/` on longs is DOUBLE
        // division in Spark and would decimal-taint the multiplicities
        shiftright(col("w") * (col("w") - 1L), 1).as("mult"))
    val pairMult = cross
      .select(col("a"), col("jq"), (col("wa") * col("wb")).as("mult"))
      .unionByName(within)
    val pairBuckets = pairMult.groupBy(bucketOf(col("jq")).as("bk"))
      .agg(sum(col("mult")).as("cnt"), sum(col("jq") * col("mult")).as("sj"))
    val groupMax = cross
      .select(explode(array(col("a"), col("b"))).as("g"), col("jq"))
      .unionByName(within.where(col("jq") >= cuts.head)
        .select(col("a").as("g"), col("jq")))
      .groupBy(col("g")).agg(max(col("jq")).as("mjq"))
    val docBuckets = groupMax
      .join(art.weights.select(col("canon").as("g"), col("w")), Seq("g"))
      .groupBy(bucketOf(col("mjq")).as("bk"))
      .agg(sum(col("w")).as("dcnt"))
    // suffix sums over the tiny bucket grid (≤ |thrs|+1 rows — the same
    // grid-window stance as the histogram/SLO operators)
    val wSuf = Window.orderBy(col("bk").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pairSuf = pairBuckets
      .select(col("bk"), sum(col("cnt")).over(wSuf).as("n_pairs"),
        sum(col("sj")).over(wSuf).as("sj"))
    val docSuf = docBuckets
      .select(col("bk").as("dbk"), sum(col("dcnt")).over(wSuf).as("n_docs"))
    // threshold i's totals live at the SMALLEST existing bucket ≥ i
    // (suffix row bk = Σ over buckets ≥ bk; no buckets exist in [i, bk));
    // thresholds with zero survivors drop out, matching the groupBy-on-
    // survivors semantics of the oracle
    val grid = s.range(1, thrs.size + 1L)
      .select(col("id").cast("int").as("ti"),
        element_at(typedLit(thrs), col("id").cast("int")).as("threshold"))
    grid
      .join(pairSuf, col("bk") >= col("ti"))
      .groupBy(col("threshold"), col("ti"))
      .agg(max_by(struct(col("n_pairs"), col("sj")), col("bk") * -1).as("m"))
      .select(col("threshold"), col("ti"),
        col("m.n_pairs").as("n_pairs"), col("m.sj").as("sj"))
      .join(docSuf, col("dbk") >= col("ti"))
      .groupBy(col("threshold"), col("n_pairs"), col("sj"))
      .agg(max_by(col("n_docs"), col("dbk") * -1).as("n_docs"))
      .select(col("threshold"), col("n_pairs"), col("n_docs"),
        graft.operators.Num.quantMean(col("sj"), col("n_pairs"), 1e6)
          .as("mean_jaccard"))
      .orderBy(col("threshold"))
  }

  /** LSH band-geometry tuning curve: candidate-pair recall AND precision
    * of the (b bands × r rows) banding against exact Jaccard ≥ `minSim`
    * pairs, for r ∈ {2, 4, 8} over the same 32-component signature — the
    * measured version of the S-curve P(candidate) = 1 − (1 − J^r)^b that
    * every LSH deployment tunes by. [[sketchCalibration]] audits the
    * ESTIMATE's accuracy; this audits the CANDIDATE GENERATION: small r
    * buys recall with more false candidates (verify cost), large r the
    * reverse — the number that decides is this table, not the formula.
    *
    * Plan: ONE signature table (the memoized [[portableMinhashSig]]
    * cache shared with [[minhashLshPairs]]) banded three ways; each
    * banding is a bucket-keyed self-join whose distinct-pair rollup
    * shuffles packed 8-byte keys. Truth is contraction-closed-form on
    * both sides (r11): n_true rolls up canon-pair multiplicities (the
    * [[thresholdCurve]] math at one threshold) and per-candidate hits
    * roll up canon-candidate multiplicities the same closed-form way —
    * never a membership probe of the raw pair expansion. Nothing is
    * all-pairs.
    */
  def lshTuningCurve(s: SparkSession, d: String, k: Int = 32,
      minSim: Double = 0.5, maxDf: Long = 1000L): DataFrame = {
    val sig = canonPortableSigs(s, d, k)
    // truth side, contraction-closed-form (the thresholdCurve pairMult
    // math at one threshold): a canon pair ≥ t stands for wa·wb raw
    // pairs, a non-empty group of weight w adds C(w,2) at Jaccard 1 —
    // the raw expansion is never counted row-by-row
    val truthCut = math.round(minSim * 1e6)
    val art = canonPairArtifacts(s, d, maxDf)
    val crossMult = art.stats
      .select(col("a"), col("b"),
        round(round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")), 6) * 1e6, 0)
          .cast("long").as("jq"))
      .where(col("jq") >= truthCut)
      .join(art.weights.select(col("canon").as("a"), col("w").as("wa")),
        Seq("a"))
      .join(art.weights.select(col("canon").as("b"), col("w").as("wb")),
        Seq("b"))
      .select((col("wa") * col("wb")).as("mult"))
    val withinMult = art.sizes.select(col("doc_id").as("a"))
      .join(art.weights.select(col("canon").as("a"), col("w")), Seq("a"))
      .where(col("w") >= 2L && lit(1000000L) >= truthCut)
      .select(shiftright(col("w") * (col("w") - 1L), 1).as("mult"))
    val nTrue = crossMult.unionByName(withinMult)
      .agg(coalesce(sum(col("mult")), lit(0L)).as("n_true"))
    // All three band geometries in ONE tagged self-join, not three
    // union'd join branches: each doc explodes to its 16+8+4 (r, band,
    // bucket) tuples once, the join key gains the r tag, and the
    // distinct-pair + truth rollups group by r. Same candidate sets,
    // one shuffle instead of three (1.8 s → 0.7 s at sf0.1). The empty
    // geometry edge (a banding with zero candidates at tiny SF) is
    // padded back by the literal r-grid, mirroring the oracle's
    // always-emitting per-r global aggregates.
    val rGrid = Seq(2, 4, 8)
    val banded = sig.select(col("doc_id"), explode(concat(rGrid.map { r =>
        transform(bandBuckets(col("sig"), k / r, r),
          (x, i) => struct(lit(r).as("r"), i.as("band"), x.as("bucket")))
      }: _*)).as("e"))
      .select(col("doc_id"), col("e.r").as("r"), col("e.band").as("band"),
        col("e.bucket").as("bucket"))
    val cand = banded
      .select(col("r"), col("band"), col("bucket"), col("doc_id").as("a"))
      .join(banded.select(col("r"), col("band"), col("bucket"),
        col("doc_id").as("b")), Seq("r", "band", "bucket"))
      .where(col("a") < col("b"))
      .select(col("r"),
        shiftleft(col("a"), 32).bitwiseOR(col("b")).as("pair"))
      .distinct()
    // CANDIDATES are contraction-closed-form too (r11): the banded
    // self-join above runs over canonical signatures (identical texts ⇒
    // identical signatures ⇒ identical buckets in every geometry), so a
    // canon candidate (A,B) stands for wa·wb raw candidates and a group
    // with a signature adds C(w,2) within-group candidates to EVERY
    // geometry. Truth per candidate comes from the canonical pair stats
    // directly; nothing raw-pair-sized is ever joined or counted.
    val canonJq = art.stats.select(col("a"), col("b"),
      round(round(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")), 6) * 1e6, 0)
        .cast("long").as("jq"))
    val crossCounts = cand
      .select(col("r"),
        shiftrightunsigned(col("pair"), 32).as("a"),
        col("pair").bitwiseAND(lit(0xFFFFFFFFL)).as("b"))
      .join(canonJq, Seq("a", "b"), "left")
      .join(art.weights.select(col("canon").as("a"), col("w").as("wa")), Seq("a"))
      .join(art.weights.select(col("canon").as("b"), col("w").as("wb")), Seq("b"))
      .select(col("r"), (col("wa") * col("wb")).as("mult"),
        when(col("jq") >= truthCut, col("wa") * col("wb")).otherwise(0L)
          .as("hit"))
    // within-group candidates: C(w,2) per signed group, hits iff the
    // group's capped set is non-empty (raw exact Jaccard 1.0 >= any cut)
    import s.implicits._
    val withinCand = sig.select(col("doc_id").as("canon"))
      .join(art.weights, Seq("canon"))
      .where(col("w") >= 2L)
      .join(art.sizes.select(col("doc_id").as("canon"), lit(1L).as("cap1")),
        Seq("canon"), "left")
      .select(shiftright(col("w") * (col("w") - 1L), 1).as("mult"),
        when(col("cap1").isNotNull && lit(1000000L) >= truthCut,
          shiftright(col("w") * (col("w") - 1L), 1)).otherwise(0L).as("hit"))
      .crossJoin(rGrid.toDF("r"))
      .select(col("r"), col("mult"), col("hit"))
    val counts = crossCounts.unionByName(withinCand)
      .groupBy(col("r"))
      .agg(sum(col("mult")).as("n_cand"), sum(col("hit")).as("n_hit"))
    import s.implicits._
    val curves = rGrid.toDF("r")
      .join(counts, Seq("r"), "left")
      .select(col("r").as("rows_per_band"),
        (lit(k) / col("r")).cast("int").as("n_bands"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
    val out = curves.crossJoin(broadcast(nTrue))
      .select(col("rows_per_band"), col("n_bands"), col("n_cand"),
        col("n_true"),
        (Num.halfUpDiv(lit(1000000L) * col("n_hit"),
          greatest(col("n_true"), lit(1L))).cast("double") / 1e6).as("recall"),
        (Num.halfUpDiv(lit(1000000L) * col("n_hit"),
          greatest(col("n_cand"), lit(1L))).cast("double") / 1e6)
          .as("precision"))
      .orderBy(col("rows_per_band"))
    out
  }

  /** Exact duplicated-SPAN profile: for every doc pair sharing at least
    * one verbatim run of ≥ `minRun` consecutive tokens, the maximal-run
    * inventory — run count, longest run, total duplicated tokens, and
    * that total as a fraction of the smaller doc. The substring-level
    * audit from the suffix-array line of work (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): doc-
    * and shingle-level dedup miss long verbatim spans embedded in
    * otherwise-distinct documents, and this table is what decides
    * span-surgery vs whole-doc removal.
    *
    * Method (the distributed stand-in for a suffix array): every k-token
    * window hash is a SEED at its position; two docs sharing a maximal
    * verbatim run of L ≥ k tokens produce exactly L−k+1 seed matches on
    * ONE diagonal (pos_a − pos_b), so consecutive-position islands per
    * (pair, diagonal) recover maximal runs exactly — `run_tokens` =
    * island size + k − 1. Self-repetitive text can echo a run on nearby
    * diagonals; the `minRun` filter and the df cap keep that mass out.
    *
    * Plan: positions explode once (60-bit md5 window hashes — 8-byte
    * join keys, text never crosses the wire); the df cap bounds the
    * seed join's fanout at C(maxDf,2) per window value; the island
    * window function shuffles only matched seeds keyed by pair — at
    * 100 TB that stage is sized by actual cross-doc duplication, not by
    * the corpus.
    */
  def dupSpans(s: SparkSession, d: String, k: Int = 5, minRun: Int = 8,
      maxDf: Long = 1000L): DataFrame =
    dupSpansAssemble(spanDocs(Tables.documents(s, d), k),
      spanRunsDir(s, d, k, minRun, maxDf))

  /** Tokenized `(doc_id, t)` projection shared by the span operators. */
  private def spanDocs(docsIn: DataFrame, k: Int): DataFrame = docsIn
    .select(col("doc_id"), split(col("text"), " ").as("t"))
    .where(size(col("t")) >= k)

  /** The maximal-run extraction shared by [[dupSpansOf]] and
    * [[dupSpanRewriteOf]]: one row per maximal verbatim cross-doc run of
    * ≥ `minRun` tokens — `(a, b, diag, run_tokens, pa_start)` with
    * `a < b`; the run covers positions `pa_start … pa_start+run_tokens−1`
    * in `a` and `pa_start−diag …` in `b` (1-based token positions).
    */
  private def spanRunsOf(docs: DataFrame, k: Int, minRun: Int,
      maxDf: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2 && minRun >= k, "need k >= 2 and minRun >= k")
    val grams = docs.select(col("doc_id"),
      explode(transform(sequence(lit(1), size(col("t")) - (k - 1)),
        i => struct(i.as("pos"),
          conv(substring(md5(array_join(slice(col("t"), i, lit(k)), " ")), 1, 15),
            16, 10).cast("long").as("g")))).as("pg"))
      .select(col("doc_id"), col("pg.pos").as("pos"), col("pg.g").as("g"))
    val keep = grams.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .where(col("df") <= maxDf).select(col("g"))
    val idx = grams.join(keep, Seq("g"))
    val seeds = idx.select(col("g"), col("doc_id").as("a"), col("pos").as("pa"))
      .join(idx.select(col("g"), col("doc_id").as("b"), col("pos").as("pb")),
        Seq("g"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"), col("pa"), (col("pa") - col("pb")).as("diag"))
    seeds
      .withColumn("grp", col("pa") - row_number().over(
        Window.partitionBy(col("a"), col("b"), col("diag"))
          .orderBy(col("pa"))))
      .groupBy(col("a"), col("b"), col("diag"), col("grp"))
      .agg((count(lit(1)) + (k - 1)).as("run_tokens"),
        min(col("pa")).as("pa_start"))
      .where(col("run_tokens") >= minRun)
      .select(col("a"), col("b"), col("diag"), col("run_tokens"),
        col("pa_start"))
  }

  // the maximal-run table is the shared stage of all three span
  // operators (pairs profile, surgery plan, source matrix) and its
  // seed join is by far their dominant cost — memoized per
  // (session, dir, k, minRun, maxDf) like the shingle pair-stats table
  private val spanRunsCache =
    new graft.SessionCache[DataFrame](maxEntries = 8, onEvict = graft.SessionCache.release)

  private def spanRunsDir(s: SparkSession, d: String, k: Int, minRun: Int,
      maxDf: Long): DataFrame =
    spanRunsCache.getOrElseUpdate(s, s"$d#$k#$minRun#$maxDf") { (ss, _) =>
      graft.SessionCache.cut(
        spanRunsOf(spanDocs(Tables.documents(ss, d), k), k, minRun, maxDf))
    }

  /** [[dupSpans]] over an arbitrary `(doc_id, text)` frame. */
  def dupSpansOf(docsIn: DataFrame, k: Int = 5, minRun: Int = 8,
      maxDf: Long = 1000L): DataFrame = {
    val docs = spanDocs(docsIn, k)
    val runs = spanRunsOf(docs, k, minRun, maxDf)
    dupSpansAssemble(docs, runs)
  }

  private def dupSpansAssemble(docs: DataFrame, runs: DataFrame): DataFrame = {
    val lens = docs.select(col("doc_id"), size(col("t")).cast("long").as("dl"))
    runs.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_runs"),
        max(col("run_tokens")).as("max_run_tokens"),
        sum(col("run_tokens")).as("dup_tokens"))
      .join(lens.select(col("doc_id").as("a"), col("dl").as("la")), Seq("a"))
      .join(lens.select(col("doc_id").as("b"), col("dl").as("lb")), Seq("b"))
      .select(col("a"), col("b"), col("n_runs"), col("max_run_tokens"),
        col("dup_tokens"),
        (Num.halfUpDiv(col("dup_tokens") * 1000000L,
          least(col("la"), col("lb"))).cast("double") / 1e6).as("dup_frac"))
      .orderBy(col("a"), col("b"))
  }

  /** Span-level cross-source leakage matrix: verbatim ≥ `minRun`-token
    * runs rolled up by (source of the lower-id doc, source of the
    * higher-id doc) — run count, distinct doc pairs, total and longest
    * run. The span-grained decontamination audit: doc-level n-gram
    * decontam ([[graft.operators.TrainPrepOps]]) asks "does a training
    * doc look like an eval doc", this asks "which source pairs exchange
    * verbatim passages, and how long are they" — the diagonal is
    * intra-source boilerplate, the off-diagonal is leakage.
    *
    * Plan: [[spanRunsOf]] plus two id-keyed joins to the doc→source map
    * and a |sources|²-bounded rollup.
    */
  def dupSpanSources(s: SparkSession, d: String, k: Int = 5, minRun: Int = 8,
      maxDf: Long = 1000L): DataFrame = {
    val docsIn = Tables.documents(s, d)
    val runs = spanRunsDir(s, d, k, minRun, maxDf)
    val src = docsIn.select(col("doc_id"), col("source"))
    runs
      .join(src.select(col("doc_id").as("a"), col("source").as("source_a")),
        Seq("a"))
      .join(src.select(col("doc_id").as("b"), col("source").as("source_b")),
        Seq("b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_runs"),
        countDistinct(col("a"), col("b")).as("n_pairs"),
        sum(col("run_tokens")).as("run_tokens_sum"),
        max(col("run_tokens")).as("max_run_tokens"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Span-level dedup surgery accounting (keep-first): for every doc that
    * contains a ≥ `minRun`-token verbatim run already present in a
    * LOWER-id doc, the excision plan — how many maximal contiguous
    * regions would be cut, how many tokens go, and what remains. The
    * operation Lee et al. 2022 actually apply ("remove one span of each
    * duplicate pair"): whole-doc removal ([[blockDedupRewrite]]) throws
    * away the unique remainder of a mostly-novel doc, while span surgery
    * keeps it — this table quantifies that trade per document.
    *
    * Keep-first is id-ordered (the corpus-snapshot convention every
    * rewrite in this pack uses): a run shared by docs {3, 7, 9} stays in
    * doc 3 and is cut from 7 and 9. Overlapping and adjacent cut
    * intervals merge before accounting, so `n_spans` counts maximal
    * contiguous removed regions and `tokens_removed` never double-counts
    * a position.
    *
    * Plan: [[spanRunsOf]]'s matched-seed stage dominates (df-capped);
    * interval merging is a per-doc prefix-max window over interval
    * endpoints — rows = planted runs, keyed by doc, nothing corpus-sized.
    */
  def dupSpanRewrite(s: SparkSession, d: String, k: Int = 5, minRun: Int = 8,
      maxDf: Long = 1000L): DataFrame =
    dupSpanRewriteAssemble(spanDocs(Tables.documents(s, d), k),
      spanRunsDir(s, d, k, minRun, maxDf))

  /** [[dupSpanRewrite]] over an arbitrary `(doc_id, text)` frame. */
  def dupSpanRewriteOf(docsIn: DataFrame, k: Int = 5, minRun: Int = 8,
      maxDf: Long = 1000L): DataFrame = {
    val docs = spanDocs(docsIn, k)
    dupSpanRewriteAssemble(docs, spanRunsOf(docs, k, minRun, maxDf))
  }

  /** Triangle census of the near-duplicate graph: node/edge/wedge/triangle
    * counts plus global transitivity (3·triangles/wedges). The structure
    * diagnostic [[neardupDegreeDist]] can't see: the same degree histogram
    * can come from scattered pair-dups (transitivity → 0) or syndication
    * cliques (→ 1), and the answer decides whether cluster rewrite plans
    * face a few giant components or many small ones.
    *
    * Plan: the edges are the memoized pair-stats artifact (ids only), so
    * nothing here touches text or the raw index. Triangles use the
    * degree-ordered orientation (compact-forward): each edge points from
    * its lower-(degree, id) endpoint to the higher, every triangle is
    * counted exactly once at its minimum-order vertex, and the wedge-join
    * fanout is Σ C(out-degree, 2) = O(|E|^1.5) instead of Σ C(degree, 2) —
    * the bound that survives a power-law near-dup graph whose hub would
    * explode an id-oriented join. Both joins and the closing semi-join
    * carry two longs per row. Transitivity is exact-rational long
    * arithmetic (half-up micro-units).
    */
  def neardupTriangles(s: SparkSession, d: String,
      minSim: Double = 0.2, maxDf: Long = 1000L): DataFrame = {
    val art = canonPairArtifacts(s, d, maxDf)
    val edges = art.stats
      .where(round(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")), 6) >= minSim)
      .select(col("a"), col("b"))
    if (!art.contracted) trianglesOfEdges(edges)
    else weightedTriangleCensus(edges, art)
  }

  /** Triangle census of the RAW near-dup graph computed entirely on the
    * CONTRACTED one (r11). The raw graph is the canon graph with every
    * group G blown up to an internal K_{w_G} clique and every canon edge
    * (A,B) to a complete bipartite K_{w_A,w_B}, so each census term has
    * an exact closed form:
    *
    *   nodes      = Σ_{deg_G ≥ 1} w_G      (deg_G = Σ_{nbr H} w_H + w_G − 1)
    *   edges      = Σ_{(A,B)} w_A·w_B  +  Σ_{w ≥ 2} C(w,2)
    *   wedges     = Σ_G w_G · C(deg_G, 2)
    *   triangles  = Σ_{w ≥ 3} C(w,3)
    *              + Σ_{(A,B)} [C(w_A,2)·w_B + w_A·C(w_B,2)]
    *              + Σ_{canon triangles (A,B,C)} w_A·w_B·w_C
    *
    * Only the last term enumerates anything — and it runs the same
    * degree-ordered compact-forward wedge join as [[trianglesOfEdges]]
    * on the CONTRACTED edge set (the sf1 ×10-clique fixture's raw pair
    * graph is 100× the canonical one). Groups only appear via `sizes`
    * (non-empty capped set — empty-set groups have no pairs at all).
    */
  private def weightedTriangleCensus(
      edges: DataFrame, art: CanonPairArtifacts): DataFrame = {
    def c2(x: org.apache.spark.sql.Column) = shiftright(x * (x - 1L), 1)
    val ew = graft.SessionCache.cut(edges
      .join(art.weights.select(col("canon").as("a"), col("w").as("wa")), Seq("a"))
      .join(art.weights.select(col("canon").as("b"), col("w").as("wb")), Seq("b")))
    val crossDeg = ew
      .select(explode(array(
        struct(col("a").as("g"), col("wb").as("wn")),
        struct(col("b").as("g"), col("wa").as("wn")))).as("e"))
      .select(col("e.g").as("g"), col("e.wn").as("wn"))
      .groupBy(col("g")).agg(sum(col("wn")).as("dcross"))
    val groups = art.sizes.select(col("doc_id").as("g"))
      .join(art.weights.select(col("canon").as("g"), col("w")), Seq("g"))
      .join(crossDeg, Seq("g"), "left")
      .select(col("w"),
        (coalesce(col("dcross"), lit(0L)) + col("w") - 1L).as("deg"))
    val gAgg = groups.agg(
      coalesce(sum(when(col("deg") >= 1L, col("w")).otherwise(0L)), lit(0L))
        .as("n_nodes"),
      coalesce(sum(c2(col("w"))), lit(0L)).as("e_within"),
      coalesce(sum(col("w") * c2(col("deg"))), lit(0L)).as("n_wedges"),
      coalesce(sum(call_function("div",
        col("w") * (col("w") - 1L) * (col("w") - 2L), lit(6L))), lit(0L))
        .as("t_within"))
    val eAgg = ew.agg(
      coalesce(sum(col("wa") * col("wb")), lit(0L)).as("e_cross"),
      coalesce(sum(c2(col("wa")) * col("wb") + col("wa") * c2(col("wb"))),
        lit(0L)).as("t_mixed"))
    // weighted canon-triangle sum: the compact-forward orientation of
    // trianglesOfEdges, with the closing count replaced by Σ w_u·w_v·w_x
    val deg = graft.SessionCache.cut(ew
      .select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("deg")))
    val fwd = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val dir = graft.SessionCache.cut(ew.select(col("a"), col("b"))
      .join(deg.select(col("v").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("deg").as("db")), Seq("b"))
      .select(
        when(fwd, col("a")).otherwise(col("b")).as("src"),
        when(fwd, col("b")).otherwise(col("a")).as("dst"),
        when(fwd, col("db")).otherwise(col("da")).as("ddst")))
    val wOf = (n: String) =>
      art.weights.select(col("canon").as(n), col("w").as(s"w_$n"))
    val tCross = dir.select(col("src"), col("dst").as("v1"), col("ddst").as("o1"))
      .join(dir.select(col("src"), col("dst").as("v2"), col("ddst").as("o2")),
        Seq("src"))
      .where(col("o1") < col("o2") ||
        (col("o1") === col("o2") && col("v1") < col("v2")))
      .join(dir.select(col("src").as("v1"), col("dst").as("v2")),
        Seq("v1", "v2"), "left_semi")
      .join(wOf("src"), Seq("src"))
      .join(wOf("v1"), Seq("v1"))
      .join(wOf("v2"), Seq("v2"))
      .agg(coalesce(sum(col("w_src") * col("w_v1") * col("w_v2")), lit(0L))
        .as("t_cross"))
    gAgg.crossJoin(broadcast(eAgg)).crossJoin(broadcast(tCross))
      .select(col("n_nodes"),
        (col("e_cross") + col("e_within")).as("n_edges"),
        col("n_wedges"),
        (col("t_within") + col("t_mixed") + col("t_cross")).as("n_triangles"))
      .select(
        col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") === 0L, lit(0.0)).otherwise(
          Num.halfUpDiv(col("n_triangles") * 3000000L, col("n_wedges"))
            .cast("double") / 1e6).as("transitivity"))
  }

  /** [[neardupTriangles]] over an arbitrary undirected edge frame
    * `(a, b)` with `a < b` and no duplicate edges. Output is one row:
    * (n_nodes, n_edges, n_wedges, n_triangles, transitivity).
    */
  def trianglesOfEdges(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a"), col("b"))
    // degree table feeds three branches (summary row, both orientation
    // joins) — materialize once; it is node-sized, never corpus-sized
    val deg = graft.SessionCache.cut(
      e.select(explode(array(col("a"), col("b"))).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("deg")))
    val base = deg.agg(
      count(lit(1)).as("n_nodes"),
      // coalesce: sum over an EMPTY graph is null, and the census of an
      // empty graph is all zeros, not all nulls (oracle spells the same)
      coalesce(call_function("div", sum(col("deg")), lit(2L)), lit(0L))
        .as("n_edges"),
      coalesce(sum(call_function("div", col("deg") * (col("deg") - 1),
        lit(2L))), lit(0L)).as("n_wedges"))
    // orient each edge toward the higher-(degree, id) endpoint; the edge
    // table feeds the wedge self-join plus the closing semi-join, so cut
    // it too (edge-sized, ids + one degree column only)
    val fwd = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val dir = graft.SessionCache.cut(e
      .join(deg.select(col("v").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("deg").as("db")), Seq("b"))
      .select(
        when(fwd, col("a")).otherwise(col("b")).as("src"),
        when(fwd, col("b")).otherwise(col("a")).as("dst"),
        when(fwd, col("db")).otherwise(col("da")).as("ddst")))
    // wedges at the minimum-order vertex; the closing edge, if present,
    // is oriented v1 → v2 exactly (v1 precedes v2 in the total order)
    val tri = dir.select(col("src"), col("dst").as("v1"), col("ddst").as("o1"))
      .join(dir.select(col("src"), col("dst").as("v2"), col("ddst").as("o2")),
        Seq("src"))
      .where(col("o1") < col("o2") ||
        (col("o1") === col("o2") && col("v1") < col("v2")))
      .join(dir.select(col("src").as("v1"), col("dst").as("v2")),
        Seq("v1", "v2"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    base.crossJoin(broadcast(tri)) // 1-row × 1-row
      .select(
        col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") === 0L, lit(0.0)).otherwise(
          Num.halfUpDiv(col("n_triangles") * 3000000L, col("n_wedges"))
            .cast("double") / 1e6).as("transitivity"))
  }

  /** Materialize the corpus-snapshot dedup artifacts to parquet: the
    * df-capped pair-statistics table `(a, b, inter, na, nb)` and the
    * connected-component cluster assignment `(doc_id, cluster)`. This is
    * the durable twin of the session memos — the batch-pipeline contract
    * every PERF study measures (statistics built ONCE per corpus
    * snapshot, many verdicts run off the artifact): a later job calls
    * [[loadDedupIndex]] and every pair-stats / cluster consumer (Jaccard
    * pairs, containment, degree/triangle census, threshold curve,
    * cross-source matrix, sketch calibration, cluster reps/sizes/safe-
    * split, hybrid verification) runs WITHOUT touching document text.
    * Both artifacts are id-and-count tables — bytes scale with the
    * near-dup structure, not the corpus text.
    */
  def writeDedupIndex(s: SparkSession, d: String, indexDir: String,
      minSim: Double = 0.2, maxDf: Long = 1000L): Unit = {
    // full raw stats (pred = true): the expansion streams straight to
    // parquet — durable artifact, never resident in executor memory
    filteredRawStats(s, d, maxDf, lit(true)).write.mode("overwrite")
      .parquet(s"$indexDir/pair_stats")
    duplicateClusters(s, d, minSim, maxDf).write.mode("overwrite")
      .parquet(s"$indexDir/clusters")
    // the contracted-graph artifacts the closed-form structure consumers
    // compose (r11): canonical pair stats + capped-set sizes + group
    // weights — all id/count-sized, never text
    val art = canonPairArtifacts(s, d, maxDf)
    // raw capped (doc_id, sh_h) postings, for external raw-posting
    // consumers: DERIVED by membership expansion (a raw doc's capped set
    // IS its canonical's) — identical rows to the raw capByDf build,
    // streamed to parquet without ever building the raw index
    contraction(s, d)._1
      .join(art.index.withColumnRenamed("doc_id", "canon"), Seq("canon"))
      .select(col("doc_id"), col("sh_h"))
      .write.mode("overwrite").parquet(s"$indexDir/capped_index")
    art.stats.write.mode("overwrite").parquet(s"$indexDir/canon_stats")
    art.sizes.write.mode("overwrite").parquet(s"$indexDir/canon_sizes")
    art.weights.write.mode("overwrite").parquet(s"$indexDir/canon_weights")
    art.index.write.mode("overwrite").parquet(s"$indexDir/canon_index")
    // the (doc_id → canon) membership map: what expands filtered canon
    // stats back to raw ids ([[filteredRawStats]]) without the corpus
    contraction(s, d)._1.write.mode("overwrite")
      .parquet(s"$indexDir/members")
    writeCanonMeta(s, indexDir, art.contracted)
  }

  /** On-disk dedup-index layout version. 2 = r11+ (adds `members`,
    * `canon_index`, and this version field); bump on any layout change so
    * [[loadDedupIndex]] can fail with a rewrite instruction instead of a
    * raw missing-path error (ADVICE r11).
    */
  private val IndexFormatVersion = 2

  private def writeCanonMeta(s: SparkSession, indexDir: String,
      contracted: Boolean): Unit = {
    import s.implicits._
    Seq((contracted, IndexFormatVersion)).toDF("contracted", "version")
      .write.mode("overwrite").parquet(s"$indexDir/canon_meta")
  }

  /** Prime this session's dedup memos for corpus `d` from a
    * [[writeDedupIndex]] artifact (prime-if-absent: a memo already built
    * in-session wins). After this call the pair-stats/cluster consumers
    * above serve from the artifact — the `documents` table of `d` is
    * never opened, so verdict jobs need only the index, not the corpus.
    */
  def loadDedupIndex(s: SparkSession, d: String, indexDir: String,
      minSim: Double = 0.2, maxDf: Long = 1000L): Unit = {
    // version gate BEFORE priming anything: a pre-r11 artifact lacks
    // members/canon_index and carries no version field — fail with a
    // rewrite instruction, not a missing-path stack trace (ADVICE r11)
    val base = new org.apache.hadoop.fs.Path(indexDir)
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    val required = Seq("canon_meta", "members", "canon_index", "clusters",
      "capped_index", "canon_stats", "canon_sizes", "canon_weights")
    val missing = required.filterNot(p =>
      fs.exists(new org.apache.hadoop.fs.Path(base, p)))
    val meta = if (missing.contains("canon_meta")) null
      else s.read.parquet(s"$indexDir/canon_meta")
    val version = Option(meta).filter(_.columns.contains("version"))
      .map(_.select(col("version")).collect()(0).getInt(0)).getOrElse(0)
    if (missing.nonEmpty || version != IndexFormatVersion)
      throw new IllegalStateException(
        s"dedup index at $indexDir is format v$version " +
          s"(need v$IndexFormatVersion" +
          (if (missing.nonEmpty) s"; missing: ${missing.mkString(", ")}" else "") +
          ") — written by an older version; rewrite it with writeDedupIndex")
    contractionCache.getOrElseUpdate(s, d) { (ss, _) =>
      (graft.SessionCache.cut(ss.read.parquet(s"$indexDir/members")),
        graft.SessionCache.cut(ss.read.parquet(s"$indexDir/canon_weights")))
    }
    clusterCache.getOrElseUpdate(s, s"$d#$minSim#$maxDf") { (ss, _) =>
      graft.SessionCache.cut(ss.read.parquet(s"$indexDir/clusters"))
    }
    cappedIndexCache.getOrElseUpdate(s, s"$d#$maxDf") { (ss, _) =>
      graft.SessionCache.cut(ss.read.parquet(s"$indexDir/capped_index"))
    }
    canonArtCache.getOrElseUpdate(s, s"$d#$maxDf#canonArt") { (ss, _) =>
      val contracted = ss.read.parquet(s"$indexDir/canon_meta")
        .collect()(0).getAs[Boolean]("contracted")
      CanonPairArtifacts(
        graft.SessionCache.cut(ss.read.parquet(s"$indexDir/canon_stats")),
        graft.SessionCache.cut(ss.read.parquet(s"$indexDir/canon_sizes")),
        graft.SessionCache.cut(ss.read.parquet(s"$indexDir/canon_weights")),
        graft.SessionCache.cut(ss.read.parquet(s"$indexDir/canon_index")),
        contracted)
    }
    ()
  }

  /** Incremental near-dup CLUSTER maintenance — [[incrementalDedup]]'s
    * connected-components sibling, and the operation that makes the
    * snapshot artifacts ([[writeDedupIndex]]) a pipeline rather than a
    * one-shot: a new document batch attaches to the standing cluster
    * assignment WITHOUT re-running the corpus-wide pair stage or the
    * full label propagation.
    *
    * Semantics (the oracle replays them exactly): batch docs pair
    * against the SNAPSHOT's df-capped shingle index (the cap was decided
    * at snapshot time — incremental systems join against the index they
    * have) and among themselves (batch-internal df cap); existing
    * clusters are CONTRACTED to one supernode each (their label — the
    * min member id, so component minima over the contracted graph equal
    * full-graph minima); label propagation runs on the contracted graph,
    * whose size is batch + touched clusters, NOT the corpus. Each batch
    * doc reports its final cluster and a status: `new` (no corpus
    * contact), `joined` (one corpus supernode), `merged` (the batch doc
    * bridges ≥ 2 previously-separate corpus clusters/singletons — the
    * case a frozen-assignment attach gets wrong and this operator
    * surfaces explicitly).
    *
    * Scale plan: the corpus index is touched only via a left-semi join
    * against the (broadcast, batch-sized) batch shingle vocabulary —
    * corpus postings read ∝ batch vocabulary, the incremental contract.
    * Batch ids must be disjoint from corpus doc ids (caller contract,
    * as in [[incrementalDedup]]).
    */
  def incrementalClusters(s: SparkSession, d: String, batch: DataFrame,
      minSim: Double = 0.2, maxDf: Long = 1000L,
      smallGraphEdges: Long = 1L << 20): DataFrame = {
    // CORPUS side on the contracted artifacts (r11): a raw corpus doc's
    // capped set, and therefore its Jaccard against any batch doc, is a
    // pure function of its exact-dup group — and co-members of a group
    // share a snapshot label (within-group pairs are Jaccard 1), so the
    // attach edges (batch, label(c)) factor through corpus canonicals
    // EXACTLY. The probe therefore joins the canonical postings
    // (1/replication of the raw index; no per-run raw-index rollup for
    // sizes — art.sizes is the memoized canonical table).
    val art = canonPairArtifacts(s, d, maxDf)
    val corpusIdx = art.index
    val labels = duplicateClusters(s, d, minSim, maxDf)
    // BATCH exact-dup contraction (r11): incremental batches are the
    // replica-heavy case by construction (recrawls, retries, mirrored
    // feeds — the sf1 clique fixture's batch is 10 copies of each base
    // text), and every candidate edge is a pure function of the batch
    // doc's TEXT, so the join stage runs over canonical batch texts
    // only. Measured: the raw batch self-join was an 8–14 s SERIAL
    // stage at sf1 (AQE coalesces the small batch exchange to one
    // partition, then the C(f,2) explosion runs single-task); the
    // contracted batch collapses it ~replication².
    val bFps = batch.select(col("doc_id"), md5(col("text")).as("fp"))
    val bGroups = bFps.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("bcanon"), count(lit(1)).as("w"))
    // NOT cut (r14): single consumer (`stars`), and that consumer's
    // lineage lands inside the `contracted` checkpoint anyway — the
    // eager per-call materialization job bought nothing. The bGroups
    // exchange is shared with the index build via ReuseExchange.
    val bMembers =
      bFps.join(bGroups.select(col("fp"), col("bcanon")), Seq("fp"))
        .select(col("doc_id"), col("bcanon"))
    // canonical batch index; the df cap sees the RAW batch document
    // frequency (Σ group weights per shingle) — identical capped sets
    // to the uncontracted spelling
    val bIdxRaw = batch
      .join(bGroups.select(col("bcanon").as("doc_id")), Seq("doc_id"),
        "left_semi")
      .select(col("doc_id"),
        wordShingles(split(col("text"), " "), 3).as("shs"))
      .where(size(col("shs")) > 0)
      .select(col("doc_id"), explode(col("shs")).as("sh"))
      .select(col("doc_id"), xxhash64(col("sh")).as("sh_h"))
      .join(bGroups.select(col("bcanon").as("doc_id"), col("w")),
        Seq("doc_id"))
    // cut stays (r15, measured): replacing this eager checkpoint with a
    // lazy persist() + unpersist-in-finally (to save the one build job)
    // read 1.28 → 2.50 s sf0.1 / 1.43 → 2.57 s sf1 solo min-of-6 — the
    // InMemoryRelation's child-plan stats re-route the five consumers'
    // join strategies (the checkpoint leaf's unknown-stats conservatism
    // is what keeps the self-join SMJ), and the broadcast-build job ends
    // up materializing the cache serially. Do not retry.
    val bIdx = graft.SessionCache.cut {
      if (maxDf <= 0) bIdxRaw.select(col("doc_id"), col("sh_h"))
      else {
        val kept = bIdxRaw.groupBy(col("sh_h"))
          .agg(sum(col("w")).as("__df"))
          .where(col("__df") <= maxDf)
          .select(col("sh_h"))
        bIdxRaw.select(col("doc_id"), col("sh_h"))
          .join(kept, Seq("sh_h"), "left_semi")
      }
    }
    val bSizes = bIdx.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    // corpus postings touched ∝ batch vocabulary (broadcast semi-prune);
    // sizes still count EVERY shingle of a candidate doc, so they come
    // from the unpruned index
    val touched = corpusIdx
      .join(broadcast(bIdx.select(col("sh_h")).distinct()),
        Seq("sh_h"), "left_semi")
    val cSizes = art.sizes
    val jacOk = (inter: Column, n1: Column, n2: Column) =>
      round(inter.cast("double") / (n1 + n2 - inter), 6) >= minSim
    val bc = bIdx.select(col("doc_id").as("b"), col("sh_h"))
      .join(touched.select(col("doc_id").as("c"), col("sh_h")), Seq("sh_h"))
      .groupBy(col("b"), col("c")).agg(count(lit(1)).as("inter"))
      .join(bSizes.select(col("doc_id").as("b"), col("n_sh").as("nb")),
        Seq("b"))
      .join(cSizes.select(col("doc_id").as("c"), col("n_sh").as("nc")),
        Seq("c"))
      .where(jacOk(col("inter"), col("nb"), col("nc")))
      .select(col("b"), col("c"))
    val bb = pairStats(bIdx, bSizes)
      .where(jacOk(col("inter"), col("na"), col("nb")))
      .select(col("a"), col("b"))
    // star edges replace the within-group C(w,2) clique: components,
    // component minima (the group's min member IS its canonical id) and
    // corpus attachment are identical, at linear instead of quadratic
    // edge count. Raw within-group edges exist iff the group's capped
    // set is non-empty (exact Jaccard 1.0 >= minSim) — the semi-join on
    // the capped index and the 1.0-vs-minSim guard mirror that exactly.
    val stars = bMembers
      .where(col("doc_id") =!= col("bcanon") && lit(1.0) >= minSim)
      .join(bSizes.select(col("doc_id").as("bcanon")), Seq("bcanon"),
        "left_semi")
      .select(col("doc_id").as("a"), col("bcanon").as("b"))
    // contract: corpus endpoint → its snapshot label (singletons are
    // their own supernode). Edges carry a `corpus` TAG (r15): a bcC `b`
    // endpoint is ALWAYS corpus-side (a snapshot label or a corpus doc
    // id) while bb/stars `b` endpoints are ALWAYS batch ids, and batch
    // ids are disjoint from corpus ids (caller contract, as in
    // incrementalDedup) — so the tag IS the "b is not a batch id"
    // predicate, and the supernode count no longer pays a per-call
    // distinct + anti-join against the batch id set in the final job.
    val bcC = bc
      .join(labels.select(col("doc_id").as("c"), col("cluster_id")),
        Seq("c"), "left")
      .select(col("b").as("a"),
        coalesce(col("cluster_id"), col("c")).as("b"),
        lit(true).as("corpus"))
    val contracted = graft.SessionCache.cut(bcC
      .union(bb.select(col("a"), col("b"), lit(false).as("corpus")))
      .union(stars.select(col("a"), col("b"), lit(false).as("corpus"))))
    // hybrid execution: the contracted graph is batch-sized BY DESIGN, and
    // below `smallGraphEdges` a driver union-find (bounded collect — the
    // count gates it, ≤16 MB at the default bound) converges in
    // microseconds where the iterative propagation pays 2 jobs per
    // generation. Larger graphs take the distributed path unchanged
    // (spec compares the two paths on the same input).
    // ONE bounded probe instead of count-then-collect (r14): take at most
    // gate+1 edges — if the limit is not hit the graph is ≤ the gate and
    // the probe's rows ARE the union-find input (the count action and the
    // separate collect collapse into one job); if it is hit, fall through
    // to the distributed path having materialized nothing bigger than the
    // same ≤16 MB bound the count gate enforced.
    val lim = (math.min(smallGraphEdges, Int.MaxValue - 1L) + 1L).toInt
    val probed = contracted.limit(lim).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val statusOf = (df: DataFrame) => df.withColumn("status",
      when(col("n_corpus_clusters") === 0L, lit("new"))
        .when(col("n_corpus_clusters") === 1L, lit("joined"))
        .otherwise(lit("merged")))
    if (probed.length <= smallGraphEdges) {
      // driver fast path (r15): the probe already holds EVERY edge and
      // its tag, so the component labels AND the per-component corpus-
      // supernode counts are both computed here, in the same bounded
      // memory the union-find always used. The final job collapses to
      // batch ids → ONE broadcast join against the local verdict table
      // → output sort, where the previous spelling re-read the
      // checkpointed edge union and paid a distinct + anti-join +
      // rollup + semi-join (3 exchanges) to rediscover per-cluster
      // counts the driver was already holding (guide §2.4/§5).
      statusOf(batch.select(col("doc_id"))
        .join(broadcast(unionFindVerdicts(s, probed)), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster"),
          coalesce(col("n_corpus_clusters"), lit(0L))
            .as("n_corpus_clusters")))
        .orderBy(col("doc_id"))
    } else {
      val comp = clusters(contracted.select(col("a"), col("b")))
      // corpus supernodes read straight off the tag (no batch anti-join)
      val supStats = comp
        .join(contracted.where(col("corpus"))
          .select(col("b").as("doc_id")).distinct(),
          Seq("doc_id"), "left_semi")
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_corpus_clusters"))
      statusOf(batch.select(col("doc_id"))
        .join(comp, Seq("doc_id"), "left")
        .join(supStats, Seq("cluster_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster"),
          coalesce(col("n_corpus_clusters"), lit(0L))
            .as("n_corpus_clusters")))
        .orderBy(col("doc_id"))
    }
  }

  /** Driver union-find over a (bounded, pre-probed) TAGGED edge list —
    * the small-graph fast path of [[incrementalClusters]]. Union by MIN
    * root + path compression, so the final root of every node is the
    * minimum member of its component: bit-identical to [[clusters]]'
    * min-label propagation contract (DedupClusterSpec compares the two
    * paths). Alongside the labels it counts each component's DISTINCT
    * corpus-tagged `b` endpoints — exactly the supernode statistic the
    * distributed path aggregates — so the verdict table leaves the
    * driver complete.
    */
  private def unionFindVerdicts(
      s: SparkSession, es: Array[(Long, Long, Boolean)]): DataFrame = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val n = parent(c); parent(c) = r; c = n
      }
      r
    }
    val nodes = scala.collection.mutable.SortedSet.empty[Long]
    es.foreach { case (a, b, _) =>
      nodes += a; nodes += b
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val corpusByRoot =
      scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
    es.foreach { case (_, b, isCorpus) =>
      if (isCorpus)
        corpusByRoot.getOrElseUpdate(find(b),
          scala.collection.mutable.Set.empty[Long]) += b
    }
    import s.implicits._
    nodes.toSeq.map { x =>
      val r = find(x)
      (x, r, corpusByRoot.get(r).map(_.size.toLong).getOrElse(0L))
    }.toDF("doc_id", "cluster_id", "n_corpus_clusters")
  }

  /** Hybrid near-dup verification: lexical candidates (the memoized
    * pair-stats table at `jaccard >= minSim`) verified by embedding
    * cosine where embedding coverage exists — the production two-tier
    * shape (cheap lexical candidate generation, semantic confirmation)
    * that neither tier implements alone, and the only operator that
    * joins `documents`-derived artifacts against `embeddings`. Coverage
    * is PARTIAL by design (real pipelines embed a subset): pairs with
    * both endpoints embedded get `confirmed`/`rejected` by cosine;
    * anything else stays `unverified` for the lexical-only policy path.
    *
    * Plan: candidates come from the cut pair-stats leaf (pair-graph-
    * sized); the embedding side is pre-filtered by a left-semi join
    * against the DISTINCT candidate-incident id set, which is tiny
    * relative to the corpus — AQE broadcasts it, so the full embedding
    * table never shuffles; only candidate-incident vectors move to the
    * two id-keyed verification joins.
    */
  def hybridNearDup(s: SparkSession, d: String,
      minSim: Double = 0.2, maxDf: Long = 1000L,
      minCos: Double = 0.0): DataFrame = {
    hybridVerdicts(jaccardPairsUnsorted(s, d, minSim, maxDf),
      Tables.embeddings(s, d), minCos)
  }

  /** The verification stage of [[hybridNearDup]] over arbitrary frames:
    * `cand` is `(a, b, jaccard)`, `emb` is `(vec_id, embedding)`.
    */
  def hybridVerdicts(cand: DataFrame, emb: DataFrame,
      minCos: Double): DataFrame = {
    // explicit hint: the candidate-id set comes off a checkpointed memo
    // leaf with no stats, so Catalyst assumes it is huge and AQE leaves
    // the semi as sort-merge — which would shuffle the whole corpus
    // embedding table just to filter it. The set is ≤ 2·|pairs|, a
    // bounded dedup artifact (df-capped candidate generation), the same
    // contract as hardNegatives' broadcast anchor set.
    val candIds = broadcast(cand
      .select(explode(array(col("a"), col("b"))).as("vec_id")).distinct())
    val embC = emb.select(col("vec_id"), col("embedding"))
      .join(candIds, Seq("vec_id"), "left_semi")
    cand
      .join(embC.select(col("vec_id").as("a"), col("embedding").as("va")),
        Seq("a"), "left")
      .join(embC.select(col("vec_id").as("b"), col("embedding").as("vb")),
        Seq("b"), "left")
      .select(col("a"), col("b"), col("jaccard"),
        when(col("va").isNotNull && col("vb").isNotNull,
          round(VectorOps.cosine(col("va"), col("vb")), 6)).as("cos_sim"))
      .withColumn("verdict",
        when(col("cos_sim").isNull, lit("unverified"))
          .when(col("cos_sim") >= minCos, lit("confirmed"))
          .otherwise(lit("rejected")))
      .orderBy(col("a"), col("b"))
  }

  private def dupSpanRewriteAssemble(docs: DataFrame,
      runs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the cut lands in the later doc (b): 1-based [start, end] token span
    val intervals = runs.select(col("b").as("doc_id"),
      (col("pa_start") - col("diag")).as("start"),
      (col("pa_start") - col("diag") + col("run_tokens") - 1).as("end"))
      .distinct()
    val w = Window.partitionBy(col("doc_id")).orderBy(col("start"), col("end"))
    val merged = intervals
      .withColumn("prev_max",
        max(col("end")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_grp",
        when(col("prev_max").isNull || col("start") > col("prev_max") + 1, 1L)
          .otherwise(0L))
      .withColumn("grp",
        sum(col("new_grp")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("start")).as("s"), max(col("end")).as("e"))
    val lens = docs.select(col("doc_id"), size(col("t")).cast("long").as("dl"))
    merged.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).as("tokens_removed"))
      .join(lens, Seq("doc_id"))
      .select(col("doc_id"), col("n_spans"),
        col("dl").as("tokens_before"), col("tokens_removed"),
        (col("dl") - col("tokens_removed")).as("tokens_after"),
        (Num.halfUpDiv(col("tokens_removed") * 1000000L, col("dl"))
          .cast("double") / 1e6).as("removed_frac"))
      .orderBy(col("doc_id"))
  }
}
