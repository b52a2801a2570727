package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Text-retrieval pack over `documents`: BM25 ranking, inverted-index
  * construction, and a corpus unigram-LM log-probability score — the
  * retrieval/quality trio a training-data pipeline runs next to the
  * dedup and curation passes (TF-IDF's siblings in `TextOps.tfIdf`).
  */
object RetrievalOps {

  /** Demo query for [[bm25TopK]]: terms present in the fixture vocab. */
  private val QueryTerms = Seq("spark", "hash", "join")

  private def toks: Column = split(col("text"), " ")

  /** BM25 ranking of the corpus against a (small, fixed) term query.
    *
    * Okapi BM25 (Robertson/Spärck Jones; the Lucene-default variant):
    * score(D,Q) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·|D|/avgdl)),
    * idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)).
    *
    * Plan: corpus statistics (N, avgdl, per-term df) reduce in ONE scan to
    * a single row that rides a broadcast; scoring is then per-row
    * codegen'd arithmetic on a second scan (per-term tf via
    * `filter(toks, _ = t)` — no explode, no shuffle) feeding
    * TakeOrderedAndProject. Nothing but the k result rows crosses an
    * exchange, at any corpus size. Determinism: scores are rounded to
    * 6 dp and tie-broken by doc_id before the limit.
    */
  def bm25TopK(s: SparkSession, d: String, k: Int = 15,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25Scored(prunedDocs(s, d, QueryTerms), QueryTerms, k, k1, b)._1

  /** [[bm25TopK]] over an arbitrary `(doc_id, text)` frame and term set. */
  def bm25TopKOf(docsIn: DataFrame, terms: Seq[String], k: Int = 15,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25TopKAndStats(docsIn, terms, k, k1, b)._1

  /** [[bm25TopKOf]] plus its corpus-stats row (n_docs, avgdl) — the
    * per-term dfs are consumed as literals inside the scoring expression
    * and are not re-exported. Composition hook so stats-consuming callers
    * reuse the aggregate instead of scanning the corpus again.
    */
  private[operators] def bm25TopKAndStats(
      docsIn: DataFrame, terms: Seq[String], k: Int = 15,
      k1: Double = 1.2, b: Double = 0.75): (DataFrame, DataFrame) =
    bm25Scored(pruneToTerms(docsIn, terms), terms, k, k1, b)

  /** The query-term-pruned corpus projection `(doc_id, dl0, tq)` — ONE
    * full-array traversal: keep only query-term tokens (`tq`); every
    * per-term statistic then runs on that tiny array instead of
    * re-walking the document. The first spelling paid 5 array_contains +
    * 5 filter() full walks per row — 2× the whole suite's per-pass scan
    * cost at sf1. tq/dl sit outside lambda bodies, so codegen CSE
    * evaluates them once per row.
    */
  private def pruneToTerms(docsIn: DataFrame, terms: Seq[String]): DataFrame = {
    val qArr = array(terms.map(lit): _*)
    docsIn.select(col("doc_id"), size(toks).as("dl0"),
      filter(toks, x => array_contains(qArr, x)).as("tq"))
  }

  private val prunedDocsCache =
    new graft.SessionCache[DataFrame](maxEntries = 8,
      onEvict = graft.SessionCache.release)

  /** [[pruneToTerms]] over a corpus directory, memoized per
    * (session, dir, terms) — the lexical siblings (BM25, hybrid RRF,
    * ranker-agreement RBO, PRF round 1) all score the SAME query against
    * the same corpus, and each pays two passes over the raw text
    * (tokenize for stats, tokenize for scoring) when built from the
    * parquet scan. The pruned projection is a few ints + ≤|q| short
    * tokens per row — the no-text-in-memory shape the dedup index memos
    * established — so one materialized copy serves every consumer's
    * stats AND scoring passes. (Contrast the measured dead end at
    * [[prfTopK]]: an exploded postings memo is |tokens|-sized and LOSES
    * to re-tokenizing; this one is |docs|-sized and narrow.)
    */
  private[operators] def prunedDocs(
      s: SparkSession, d: String, terms: Seq[String]): DataFrame =
    prunedDocsCache.getOrElseUpdate(s, s"$d#${terms.mkString(",")}") {
      (ss, _) =>
        graft.SessionCache.cut(pruneToTerms(Tables.documents(ss, d), terms))
    }

  /** BM25 scoring over an already-pruned `(doc_id, dl0, tq)` frame.
    * The corpus-stats row is ONE row — collected and inlined as
    * LITERALS (prfTopK's contract): a broadcast stats subtree re-runs
    * its corpus aggregate under every consumer's action, which billed
    * each bm25-derived query (hybrid, RBO, PRF) one extra corpus pass.
    */
  private def bm25Scored(
      docs: DataFrame, terms: Seq[String], k: Int,
      k1: Double, b: Double): (DataFrame, DataFrame) = {
    val QueryTerms = terms
    val statCols =
      count(lit(1)).cast("double").as("n_docs") ::
        avg(col("dl0")).as("avgdl") ::
        QueryTerms.zipWithIndex.map { case (t, i) =>
          sum(when(array_contains(col("tq"), t), 1d).otherwise(0d)).as(s"df$i")
        }.toList
    val st = docs.agg(statCols.head, statCols.tail: _*).collect()(0)
    if (st.isNullAt(1)) {
      // empty corpus: avgdl is null and the literal-inlined score would
      // NPE at construction; return the contract-shaped empty result the
      // pre-literal (broadcast) spelling produced
      val ss = docs.sparkSession
      import ss.implicits._
      return (docs.select(col("doc_id"), lit(0d).as("bm25"))
        .where(lit(false)),
        Seq.empty[(Double, Double)].toDF("n_docs", "avgdl"))
    }
    val (nDocs, avgdl) = (st.getDouble(0), st.getDouble(1))
    val dl = col("dl0").cast("double")
    val score = QueryTerms.zipWithIndex.map { case (t, i) =>
      val tf = size(filter(col("tq"), x => x === t)).cast("double")
      val df = st.getDouble(2 + i)
      val idf = math.log(1d + (nDocs - df + 0.5d) / (df + 0.5d))
      lit(idf) * tf * lit(k1 + 1d) /
        (tf + lit(k1) * (lit(1d - b) + lit(b) * dl / lit(avgdl)))
    }.reduce(_ + _)
    val topk = docs
      .select(col("doc_id"), round(score, 6).as("bm25"))
      .where(col("bm25") > 0d)
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(k)
    val statsDf = {
      val ss = docs.sparkSession
      import ss.implicits._
      Seq((nDocs, avgdl)).toDF("n_docs", "avgdl")
    }
    (topk, statsDf)
  }

  /** Inverted-index build: term → document frequency, total term
    * frequency, and an order-independent signature of the postings SET.
    * The signature stands in for the postings payload so the result (and
    * its oracle hash) stays vocabulary-sized however large the corpus —
    * the same ship-fingerprints-not-payload stance as the dedup rewrite.
    *
    * The signature is the first two moments of the HASHED id multiset
    * mod a prime (Σh and Σh² in Z_p, p = 1e9+7, h = the portable
    * md5Base31 hash of the id — `SketchExpressions` kernel contract,
    * replayable in DuckDB as `('0x'||substr(md5(id),1,15))::BIGINT %
    * 2147483647`) — a MERGEABLE summary, so the per-term aggregate
    * buffer is two numbers however many documents a term touches.
    * Hashing first makes the moments collision-resistant (raw-id moments
    * collide on constructed sets — {0,1,2} vs {1,2} share Σ and Σ²); two
    * independent 31-bit-pseudorandom moments collide at ~p⁻². The
    * previous md5-of-sorted-id-list materialized the full postings array
    * inside one agg buffer: for a stopword term at corpus scale that is
    * a corpus-sized Vector on one reducer — the collect_list analog of
    * the rank-window funnel. (Moment sums ride DECIMAL(38) so a
    * 1e10-posting term cannot overflow before the final mod; both
    * engines spell the arithmetic identically.)
    *
    * Plan: explode → (term, doc_id) partial-agg rollup → per-term rollup;
    * both shuffles carry (term, id, count) — never text.
    */
  def invertedIndex(s: SparkSession, d: String): DataFrame =
    // no width pin: forced on, it paid on 4 cores at neither sf0.1 nor ×10
    invertedIndexOf(Tables.documents(s, d))

  /** [[invertedIndex]] over an arbitrary `(doc_id, text)` frame. */
  def invertedIndexOf(docs: DataFrame): DataFrame = {
    val p = 1000000007L
    // md5Base31 of the id rendered as a string — identical spelling to
    // the SketchExpressions kernel contract, exact in both engines
    val idh = (conv(substring(md5(col("doc_id").cast("string")), 1, 15),
      16, 10).cast("long") % 2147483647L)
    docs
      .select(col("doc_id"), explode(toks).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .groupBy(col("term"))
      .agg(
        count(lit(1)).as("df"),
        sum(col("tf")).as("total_tf"),
        (sum(idh.cast("decimal(38,0)")) % p).cast("long").as("postings_sig1"),
        (sum((idh * idh % p).cast("decimal(38,0)")) % p).cast("long")
          .as("postings_sig2"))
      .orderBy(col("term"))
  }

  /** Corpus unigram-LM score: each document's mean log-probability of its
    * tokens under the corpus unigram distribution — the cheap
    * perplexity-style quality signal (a fluency proxy: documents made of
    * globally rare tokens score low; CCNet-style pipelines threshold on
    * exactly this family of statistic).
    *
    * Plan: the vocabulary table (term → count) is corpus-derived but
    * vocabulary-sized, so it broadcasts to the scoring join; the exploded
    * token stream never shuffles — the only exchange is the per-doc
    * average's doc_id rollup. Mean is rounded to 4 dp (double summation
    * order differs across engines at ~1e-13).
    */
  def unigramLogProb(s: SparkSession, d: String): DataFrame =
    unigramLogProbOf(Tables.documents(s, d))

  /** [[unigramLogProb]] over an arbitrary `(doc_id, text)` frame. */
  def unigramLogProbOf(docsIn: DataFrame): DataFrame = {
    val tok = docsIn.select(col("doc_id"), explode(toks).as("term"))
    val vocab = tok.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("total"))
    val lookup = broadcast(vocab.crossJoin(broadcast(total))
      .select(col("term"), log(col("cnt").cast("double") / col("total").cast("double")).as("logp")))
    tok.join(lookup, Seq("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), round(avg(col("logp")), 4).as("avg_logp"))
      .orderBy(col("doc_id"))
  }

  /** Hybrid retrieval: reciprocal-rank fusion (RRF, the Cormack et al.
    * formula `Σ 1/(k₀ + rank)`) of the lexical ranking ([[bm25TopK]]) and
    * the dense ranking (`VectorOps.cosineTopK` over the embedding of the
    * same corpus) — the standard two-tower merge every retrieval stack
    * runs. Rank arithmetic on exact integer ranks keeps the fused score
    * bit-identical across engines.
    *
    * Plan: both inputs are already top-`kEach` results (constant-size
    * frames); the rank windows and the full-outer fusion join run on ≤
    * 2·kEach rows — nothing corpus-sized moves. The fixture's `vec_id` is
    * the embedding of the like-numbered `doc_id` (TESTDATA contract).
    */
  def hybridTopK(s: SparkSession, d: String, k: Int = 10, kEach: Int = 20,
      rrfK: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bm = bm25TopK(s, d, kEach)
      .withColumn("r_bm",
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))).cast("int"))
      .select(col("doc_id"), col("r_bm"))
    val cs = VectorOps.cosineTopK(s, d, queryId = 0L, k = kEach)
      .withColumn("r_cos",
        row_number().over(Window.orderBy(col("cos_sim").desc, col("vec_id"))).cast("int"))
      .select(col("vec_id").as("doc_id"), col("r_cos"))
    bm.join(cs, Seq("doc_id"), "full_outer")
      .select(
        col("doc_id"),
        round(
          coalesce(lit(1.0) / (lit(rrfK) + col("r_bm")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(rrfK) + col("r_cos")), lit(0.0)), 6).as("rrf"),
        col("r_bm"), col("r_cos"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(k)
  }

  /** Pseudo-relevance-feedback retrieval (Rocchio/RM-style PRF): run the
    * base BM25 query, mine expansion terms from the top `fbDocs` results
    * (weight = feedback-tf × ln(N/df), the Rocchio centroid term), and
    * rescore the corpus with the expanded query — original terms at
    * weight 1, expansion terms at ½. The classic recall-boosting second
    * pass every retrieval stack ships.
    *
    * Determinism: expansion selection ranks an integer weight
    * (tf_fb × micro-quantized idf, ties by term), and round-2 scoring
    * quantizes each per-(doc, term) BM25 contribution to micro-unit
    * longs BEFORE the per-doc sum — a float sum over rows would depend
    * on partial-aggregation order; long addition doesn't.
    *
    * Plan: three sequential actions. The feedback-docs collect carries
    * the corpus-stats row on each returned row (stats ride a 1-row
    * broadcast INSIDE that single action); the expanded-term table is
    * the second collect; the rescore is the third. Every intermediate is
    * model-sized driver state (the trainKmeans contract), COLLECTED into
    * literals — a broadcast subtree re-runs its corpus lineage under
    * every consumer action.
    * Round 2 scores the pruned corpus against the ≤ |q|+`fbTerms` local
    * term grid in-row; per-term dfs come from that same matched set (a
    * term's matched set IS its posting set) via a ≤|qterms|-row rollup
    * broadcast back onto it.
    */
  // (Measured dead end: memoizing an exploded (doc_id, dl, term) postings
  // view per (session, dir) for PRF's two corpus-wide stages made the
  // WARM query slower, 1.89 → 2.14 s min-of-5 at sf0.1 — the persisted
  // exploded table is ~|tokens| rows wide and its InMemory scan loses to
  // whole-stage-codegen'd explode straight off the parquet arrays. The
  // per-query explodes stand; the corpus-snapshot artifact worth caching
  // is the AGGREGATED shingle/pair index (DedupOps), not raw postings.)
  def prfTopK(s: SparkSession, d: String, k: Int = 10, fbDocs: Int = 3,
      fbTerms: Int = 3, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import s.implicits._
    // THREE sequential actions (r9: 8, early r10: 4): every intermediate
    // here (stats row, fbDocs ids, fbTerms expansion) is model-sized
    // driver state under the trainKmeans contract, COLLECTED into
    // literals rather than living as a broadcast subtree re-materialized
    // (and whose lineage re-runs the corpus scan) in every consumer.
    // At 100 TB the passes themselves are the floor: 4 pruned corpus
    // scans, no corpus-sized shuffle anywhere — see per-stage notes.
    // NOT width-pinned (r14, measured): `docs` is consumed by THREE
    // sequential ACTIONS, and each action re-plans the frame — a
    // round-robin repartition re-executes its text-sized exchange under
    // every action instead of being reused (b2b min-of-8 at the ×10
    // fixture: 2.77 → 9.2 s, samples to 67 s). The single-core tokenize
    // passes over the fixture's one-row-group scan are the cheaper evil.
    val docs = Tables.documents(s, d).select(col("doc_id"), toks.as("t"))
    // round-1 state runs over the memoized pruned projection shared with
    // bm25TopK/hybrid/RBO — same (dir, terms) key, so in a session that
    // already ran any lexical sibling action 1 never touches the raw text
    val base = prunedDocs(s, d, QueryTerms)
    val statCols =
      count(lit(1)).cast("double").as("n_docs") ::
        avg(col("dl0")).as("avgdl") ::
        QueryTerms.zipWithIndex.map { case (t, i) =>
          sum(when(array_contains(col("tq"), t), 1d).otherwise(0d)).as(s"df$i")
        }.toList
    val statsRow = base.agg(statCols.head, statCols.tail: _*)
    // action 1 — feedback docs WITH the stats attached: round-1 BM25
    // scores against the 1-row stats broadcast (both subtrees
    // materialize under this single action — the fused form of the old
    // stats-collect + scoring-collect pair), and each returned feedback
    // row carries (n_docs, avgdl, df0..n), so ONE collect yields the
    // stats literals AND the feedback ids. The arithmetic tree matches
    // the literal form op-for-op (Catalyst's log IS Math.log), so scores
    // are bit-identical to the two-action spelling.
    def bm25ScoreCols(dl: Column, tq: Column): Column =
      QueryTerms.zipWithIndex.map { case (t, i) =>
        val tf = size(filter(tq, x => x === t)).cast("double")
        val dfc = col(s"df$i")
        val idf = log(lit(1d) + (col("n_docs") - dfc + 0.5d) / (dfc + 0.5d))
        idf * tf * lit(k1 + 1d) /
          (tf + lit(k1) * (lit(1d - b) + lit(b) * dl / col("avgdl")))
      }.reduce(_ + _)
    val fb = base.crossJoin(broadcast(statsRow))
      .select(col("doc_id") +:
        round(bm25ScoreCols(col("dl0").cast("double"), col("tq")), 6)
          .as("bm25") +:
        col("n_docs") +: col("avgdl") +:
        QueryTerms.indices.map(i => col(s"df$i")): _*)
      .where(col("bm25") > 0d)
      .orderBy(col("bm25").desc, col("doc_id").asc).limit(fbDocs)
      .collect()
    val (nDocs, avgdl, qDfs, fbIds) =
      if (fb.nonEmpty) {
        val r = fb(0)
        (r.getDouble(r.fieldIndex("n_docs")),
          r.getDouble(r.fieldIndex("avgdl")),
          QueryTerms.indices.map(i => r.getDouble(r.fieldIndex(s"df$i"))),
          fb.map(_.getLong(0)).toSeq)
      } else {
        // no positive round-1 score (or an empty corpus): the fused
        // action returned no stats carrier — collect the 1-row stats
        // separately for round 2 (rare path; the extra job is one
        // aggregate over the memoized projection)
        val st = statsRow.collect()(0)
        if (st.isNullAt(1)) {
          // empty corpus (see bm25Scored): contract-shaped empty result
          return docs.select(col("doc_id"), lit(0d).as("prf_score"))
            .where(lit(false))
        }
        (st.getDouble(0), st.getDouble(1),
          QueryTerms.indices.map(i => st.getDouble(2 + i)), Seq.empty[Long])
      }
    // action 2 — expansion terms: feedback-tf (from the fbDocs docs) ×
    // idf over the corpus dfs of exactly those candidate terms. The
    // candidate list is bounded by the feedback docs' vocabulary, so it
    // broadcasts into the df pass (pre-shuffle semi prune — the exploded
    // corpus stream drops non-candidates in the scan stage); both
    // subtrees materialize under this one action. array_distinct BEFORE
    // the explode keeps the (doc, term) distinct in-row — no corpus-wide
    // distinct shuffle.
    val fbCounts = docs.where(col("doc_id").isInCollection(fbIds))
      .select(explode(col("t")).as("term"))
      .where(!col("term").isInCollection(QueryTerms))
      .groupBy(col("term")).agg(count(lit(1)).as("tf_fb"))
    val dfs = docs.select(explode(array_distinct(col("t"))).as("term"))
      .join(broadcast(fbCounts), Seq("term"), "left_semi")
      .groupBy(col("term")).agg(count(lit(1)).as("df_fb"))
    val expanded = broadcast(fbCounts).join(dfs, Seq("term"))
      .select(col("term"), col("df_fb"),
        (col("tf_fb") *
          round(log(lit(nDocs) / col("df_fb")) * 1e6, 0).cast("long"))
          .as("wq"))
      .orderBy(col("wq").desc, col("term")).limit(fbTerms)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // every round-2 per-term df is ALREADY driver state by now — the
    // original terms' dfs came back on the action-1 feedback rows and
    // each expansion term's corpus df rode the action-2 collect — so the term
    // grid carries (term, w, df) and round 2 needs no df recomputation at
    // all: no per-term count window (a ≤11-key WindowExec funnels the
    // corpus-sized matched stream through ≤11 reducers), no rollup +
    // broadcast join (a second corpus pass). A term's matched set IS its
    // posting set, so grid df == round-2 df by construction.
    val allTerms = QueryTerms.zipWithIndex.map { case (t, i) =>
      (t, 1.0, qDfs(i)) } ++
      expanded.map { case (t, dfv) => (t, 0.5, dfv.toDouble) }
    val qterms = allTerms.toDF("term", "w", "df") // LocalRelation — no job
    // action 3 — rescore: per-(doc, term) tf via the local term grid +
    // in-row array filter (the bm25TopKOf stance): ≤|qterms| narrow rows
    // per doc, NO token explode; df rides the grid (see allTerms above),
    // so round 2 is ONE pruned corpus pass straight into the doc rollup.
    val tqArr = lit(allTerms.map(_._1).toArray)
    val pruned = docs
      .select(col("doc_id"), size(col("t")).as("dl"),
        filter(col("t"), x => array_contains(tqArr, x)).as("tq"))
    val withDf = pruned
      .crossJoin(qterms)
      .select(col("doc_id"), col("dl"), col("term"), col("w"), col("df"),
        size(filter(col("tq"), x => x === col("term"))).as("tf"))
      .where(col("tf") > 0)
    val tfD = col("tf").cast("double")
    val contrib = col("w") *
      log(lit(1d) + (lit(nDocs) - col("df") + 0.5d) / (col("df") + 0.5d)) *
      tfD * lit(k1 + 1d) /
      (tfD + lit(k1) * (lit(1d - b) + lit(b) * col("dl").cast("double") / lit(avgdl)))
    withDf
      .select(col("doc_id"),
        round(contrib * 1e6, 0).cast("long").as("cq"))
      .groupBy(col("doc_id")).agg(sum(col("cq")).as("sq"))
      .select(col("doc_id"), (col("sq").cast("double") / 1e6).as("prf_score"))
      .orderBy(col("prf_score").desc, col("doc_id")).limit(k)
  }

  /** Ranker-agreement audit: rank-biased overlap (RBO, Webber et al.,
    * TOIS 2010) between the lexical (BM25) and dense (cosine) top-k lists
    * for the same query — the evaluation metric behind "do our two
    * retrieval modes even agree?", and the quantitative basis for
    * choosing [[hybridTopK]]'s fusion over either ranker alone (RBO near
    * 1 → hybrid adds nothing; near 0 → the modes see different corpora).
    * Top-weighted: agreement at depth d earns weight p^(d−1)/d.
    *
    * Plan: both rankings are already ≤ k constant-size rows; the depth
    * grid × rank join and the RBO sum run on k² rows. Nothing corpus-
    * sized moves beyond what the two rankers themselves do. Per-depth
    * contributions quantize to integer nano-units, and the (1−p) weight
    * is written as the SAME subtraction on both engines — two different
    * literals for "0.1" are two different doubles.
    */
  def rankerAgreement(
      s: SparkSession, d: String, k: Int = 20, p: Double = 0.9): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bm = bm25TopK(s, d, k)
      .withColumn("r_bm",
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id")))
          .cast("int"))
      .select(col("doc_id"), col("r_bm"))
    val cs = VectorOps.cosineTopK(s, d, queryId = 0L, k = k)
      .withColumn("r_cos",
        row_number().over(Window.orderBy(col("cos_sim").desc, col("vec_id")))
          .cast("int"))
      .select(col("vec_id").as("doc_id"), col("r_cos"))
    rboOf(s, bm, cs, k, p)
  }

  /** Truncated RBO of two rank frames `(doc_id, r_bm)` / `(doc_id, r_cos)`
    * with 1-based ranks (the [[rankerAgreement]] core, separated so specs
    * can feed planted rankings; identical lists score 1−pᵏ, disjoint 0).
    */
  def rboOf(s: SparkSession, ranksA: DataFrame, ranksB: DataFrame,
      k: Int, p: Double): DataFrame = {
    val agree = ranksA.join(ranksB, Seq("doc_id"))
    val grid = s.range(1, k + 1L).select(col("id").cast("int").as("dpt"))
    grid
      .join(agree, col("r_bm") <= col("dpt") && col("r_cos") <= col("dpt"),
        "left")
      .groupBy(col("dpt")).agg(count(col("doc_id")).as("ov"))
      .select(col("dpt"), col("ov"),
        round(pow(lit(p), col("dpt") - 1) * col("ov") / col("dpt") * 1e9)
          .cast("long").as("cq"))
      .agg(
        max(when(col("dpt") === k, col("ov"))).as("overlap_at_k"),
        sum(col("cq")).as("sumq"))
      .select(
        lit(k).as("k"), col("overlap_at_k"),
        round((lit(1.0) - lit(p)) * col("sumq") / 1e9, 6).as("rbo"))
  }

  /** Per-document bigram-LM score: mean log P(w₂|w₁) of each document's
    * token bigrams under the corpus bigram MLE — the order-2 upgrade of
    * [[unigramLogProb]] and the statistic CCNet-family quality filters
    * threshold (a KenLM perplexity with the model trained on the corpus
    * itself; repetitive or formulaic text scores high, incoherent text
    * low).
    *
    * Plan: bigrams form in-row (1-offset self-zip — no join, no explode
    * until the pair is a constant-size (w1, w2) key). The LM table is
    * vocabulary²-bounded — sublinear in the corpus (Heaps' law), unlike a
    * corpus-linear key set — so it broadcasts to the scoring join and the
    * exploded bigram stream never shuffles; the only exchange is the
    * per-doc average's doc_id rollup. At larger vocabularies, prune the
    * model with `minCount` (standard KenLM pruning); scoring then averages
    * over the bigrams the pruned model retains.
    *
    * Measured alternative (tools/BigramAB, sf0.1): a single-explode plan
    * that pre-counts (doc_id, w1, w2) and scores count-weighted is a WASH
    * locally (0.759 s vs 0.749 s shipped) while shuffling the per-doc
    * bigram table — nearly corpus-sized, pre-aggregation barely collapses
    * it. Recompute-over-materialize wins at scale; kept.
    */
  def bigramLogProb(s: SparkSession, d: String): DataFrame =
    bigramLogProbOf(Tables.documents(s, d))

  /** [[bigramLogProb]] over an arbitrary `(doc_id, text)` frame. */
  def bigramLogProbOf(docs: DataFrame, minCount: Long = 1L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // bigram generation is the native kernel (one compiled pass, strings by
    // reference): the HOF form (`zip_with(t, slice(concat(t, array('')), 2,
    // size(t)), ...)`) materializes three arrays and copies every token —
    // measured 29.96 s → 7.71 s for this query at sf10 (~100 M bigrams,
    // min-of-2), with the remainder split between the LM broadcast-probe
    // and rollups. (It also matches the oracle more exactly: the HOF form
    // dropped pairs whose right token was the genuine empty string.)
    val bg = docs
      .select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"),
        explode(graft.functions.sketch.bigramPairs(col("t"))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val lm = bg
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n"))
      .withColumn("logp",
        log(col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("w1")))))
      .where(col("n") >= minCount)
      .select(col("w1"), col("w2"), col("logp"))
    bg.join(broadcast(lm), Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), round(avg(col("logp")), 4).as("avg_logp"))
      .orderBy(col("doc_id"))
  }

  /** Adjacent-symbol pair counts over in-token character sequences — the
    * inner-loop statistic of BPE tokenizer training (each merge round of
    * the Sennrich/Gage algorithm picks argmax of exactly this table and
    * re-counts). One round is emitted — at corpus scale the driver loop
    * ships each round's winning pair back as a literal and re-runs this
    * count; the corpus-side work per round is one explode + rollup,
    * constant-size (2-char key) shuffle rows.
    */
  def bpePairCounts(s: SparkSession, d: String, k: Int = 30): DataFrame =
    // the double explode + substr projection fuses above the scan
    bpePairCountsOf(Tables.widen(s, d, "documents", Tables.documents(s, d)), k)

  /** [[bpePairCounts]] over an arbitrary `(text)` frame. */
  def bpePairCountsOf(docs: DataFrame, k: Int = 30): DataFrame =
    docs
      .select(explode(toks).as("w"))
      // guard: Spark's sequence(1, 0) counts DOWN, so a 1-char token would
      // fabricate pair indices instead of none
      .where(length(col("w")) >= 2)
      .select(explode(sequence(lit(1), length(col("w")) - 1)).as("i"), col("w"))
      .select(
        expr("substr(w, i, 1)").as("left_sym"),
        expr("substr(w, i + 1, 1)").as("right_sym"))
      .groupBy(col("left_sym"), col("right_sym"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("left_sym"), col("right_sym"))
      .limit(k)

  /** Bigram conditional-probability table: P(next | current) over token
    * bigrams, top `k` continuations per current token — the corpus-level
    * n-gram LM statistic (the model behind perplexity filters and
    * contamination heuristics; [[unigramLogProb]] is its order-1 sibling).
    *
    * Plan: explode to bigrams via a 1-offset self-zip inside the row (no
    * join), one (w1, w2) rollup, then the conditional normalizer is a
    * window over w1 groups — vocabulary², not corpus, sized.
    */
  def bigramLm(s: SparkSession, d: String, k: Int = 3): DataFrame =
    bigramLmOf(Tables.documents(s, d), k)

  /** [[bigramLm]] over an arbitrary `(text)` frame. */
  def bigramLmOf(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bigrams = docs
      .select(toks.as("t"))
      .select(explode(graft.functions.sketch.bigramPairs(col("t"))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val wNorm = Window.partitionBy(col("w1"))
    val wRank = Window.partitionBy(col("w1"))
      .orderBy(col("n").desc, col("w2"))
    bigrams
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round(col("n") / sum(col("n")).over(wNorm), 6))
      .withColumn("rank", row_number().over(wRank))
      .where(col("rank") <= k)
      .select(col("w1"), col("w2"), col("n"), col("p"), col("rank"))
      .orderBy(col("w1"), col("rank"))
  }

  /** Sparse TF-IDF document-similarity pairs: cosine over each document's
    * tf-idf term vector, candidates from a postings self-join — the LEXICAL
    * similarity search next to the embedding-space one
    * ([[graft.operators.VectorOps]]), and the "related documents" /
    * topical-near-dup operator for corpora without embeddings.
    *
    * Scale design:
    *  - The postings self-join is keyed by the term's 64-bit hash (the
    *    shingle-index stance of [[DedupOps.ngramJaccardPairs]]) — strings
    *    never cross the pair shuffle.
    *  - The df cut is TWO rules, semantic and operational. The FRACTION
    *    rule (df·denom ≤ N as pure integer math — bit-identical on both
    *    engines) is an idf floor: terms dropped have idf < ln(denom),
    *    exactly the ones whose cosine contribution vanishes. But a
    *    fraction alone leaves per-term join fanout at (N/denom)² —
    *    quadratic in corpus size. The ×10 weak-scaling study measured
    *    the consequence: 0.55 s → 197 s per 10× data (DuckDB twin at
    *    parity, 178 s — the pair MASS is intrinsic, not a plan defect),
    *    because tenfold N admits tenfold-df terms. `maxDf` is the
    *    absolute skew guard on top (the [[DedupOps.ngramJaccardPairs]]
    *    precedent): per-term fanout ≤ C(maxDf, 2) at ANY corpus size.
    *    Defaults make it inactive below N = denom·maxDf docs, so small-
    *    fixture results are unchanged. Similarity is defined over the
    *    capped vocabulary; the twin applies both rules.
    *  - Cross-engine exactness: weights quantize to integer micro-units
    *    (round(w·10⁶) as BIGINT), so dot products and norms are ORDER-
    *    INDEPENDENT integer sums — a float Σ over shuffled rows would hash-
    *    diverge at the last ulp. The only double math is one final
    *    dot/(√na·√nb) expression of exact integers, identical on both
    *    engines (same trick as TimeSeriesOps.anomalies' Σn/Σn² formula).
    *  - The pair dot-product stage groups on the packed (a<<32|b) long
    *    (measured win #5 in DedupOps) with the weight product as the value.
    */
  // weighted-postings memo per (session, dir, dfDenom, maxDf): the pair
  // join reads `w` TWICE (a/b sides) and the norm rollup a third time —
  // without a cut each consumer re-derived the full
  // explode→rollup→df-join pipeline from the scan (VERDICT r12 #3: the
  // one persistent substantive >2×; width-pinning made it WORSE because
  // the pin multiplied exactly this re-read). One eager checkpoint turns
  // three derivations into three reads of an output-sized leaf — the
  // same lifecycle every dedup memo uses (release-on-evict).
  private val tfidfWCache = new graft.SessionCache[(DataFrame, DataFrame)](
    maxEntries = 4,
    onEvict = v => {
      graft.SessionCache.release(v._1); graft.SessionCache.release(v._2)
    })

  def tfidfSimilarPairs(
      s: SparkSession, d: String,
      minSim: Double = 0.5, dfDenom: Int = 10,
      maxDf: Long = 1000L): DataFrame = {
    // NOT width-pinned: `docs` feeds THREE subtrees
    // (postings, token counts, corpus size), so a repartition here is
    // re-read per subtree and measured 2.3× WORSE than the single-split
    // scan at sf0.1 — the postings rollup right above the scan is where
    // the pipeline widens instead. minSim is NOT in the memo key: it cuts
    // pairs after the dot product, so every threshold shares one leaf.
    val (w, norms) = tfidfWCache.getOrElseUpdate(s, s"$d#$dfDenom#$maxDf#tfidfW") {
      (ss, _) =>
        val w0 = graft.SessionCache.cut(
          tfidfWeightsOf(Tables.documents(ss, d), dfDenom, maxDf))
        val n0 = graft.SessionCache.cut(normsOf(w0))
        (w0, n0)
    }
    pairsFromWeights(w, norms, minSim)
  }

  /** [[tfidfSimilarPairs]] over an arbitrary `(doc_id, text)` frame —
    * un-memoized (no stable key for an arbitrary plan); the fixture-sized
    * spec path.
    */
  def tfidfSimilarPairsOf(
      docs: DataFrame, minSim: Double = 0.5, dfDenom: Int = 10,
      maxDf: Long = 1000L): DataFrame = {
    val w = tfidfWeightsOf(docs, dfDenom, maxDf)
    pairsFromWeights(w, normsOf(w), minSim)
  }

  /** Integer-microunit tf-idf weights `(doc_id, term_h, wq)` over the
    * df-capped vocabulary — the shared leaf of the pair family.
    */
  private def tfidfWeightsOf(
      docs: DataFrame, dfDenom: Int, maxDf: Long): DataFrame = {
    val n = docs.agg(count(lit(1)).as("n_docs"))
    // n_tok joins on AFTER the count rollup instead of riding the explode:
    // carrying size(split(text)) through the Generate makes collapsed
    // projections re-split the full text once per exploded TOKEN (measured
    // 5× on the dominant stage, tools/TfidfAB: 1.46 s → 0.40 s); the
    // per-doc token-count table is one row per document and joins on the
    // rollup output, which AQE broadcasts when small
    val cnts = docs
      .select(col("doc_id"), explode(toks).as("term"))
      .groupBy(col("doc_id"), xxhash64(col("term")).as("term_h"))
      .agg(count(lit(1)).as("cnt"))
    val ntok = docs.select(col("doc_id"), size(toks).as("n_tok"))
    val tf = cnts.join(ntok, Seq("doc_id"))
    val df = tf.groupBy(col("term_h")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n)) // 1 row — the corpus size
      .where(col("df") * dfDenom <= col("n_docs") && col("df") <= maxDf)
    tf.join(df, Seq("term_h"))
      .select(col("doc_id"), col("term_h"),
        round((col("cnt").cast("double") / col("n_tok")) *
          log(col("n_docs").cast("double") / col("df")) * 1e6)
          .cast("long").as("wq"))
  }

  private def normsOf(w: DataFrame): DataFrame =
    w.groupBy(col("doc_id")).agg(sum(col("wq") * col("wq")).as("nq"))

  /** Cosine pairs ≥ minSim from weighted postings + per-doc norms. */
  private def pairsFromWeights(
      w: DataFrame, norms: DataFrame, minSim: Double): DataFrame = {
    val a = w.select(col("doc_id").as("a"), col("term_h"), col("wq").as("wa"))
    val b = w.select(col("doc_id").as("b"), col("term_h"), col("wq").as("wb"))
    a.join(b, Seq("term_h"))
      .where(col("a") < col("b"))
      .select(
        shiftleft(col("a"), 32).bitwiseOR(col("b")).as("pair"),
        (col("wa") * col("wb")).as("p"))
      .groupBy(col("pair"))
      .agg(sum(col("p")).as("dot"))
      .select(
        shiftrightunsigned(col("pair"), 32).as("a"),
        col("pair").bitwiseAND(lit(0xFFFFFFFFL)).as("b"),
        col("dot"))
      .join(norms.select(col("doc_id").as("a"), col("nq").as("na")), Seq("a"))
      .join(norms.select(col("doc_id").as("b"), col("nq").as("nb")), Seq("b"))
      .select(col("a"), col("b"),
        round(col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))), 6)
          .as("cosine"))
      .where(col("cosine") >= minSim)
      .orderBy(col("a"), col("b"))
  }

  // ---- full BPE induction (the driver loop bpePairCounts documents) ----

  private val bpeCache = new graft.SessionCache[
    (Seq[(Int, String, String, String, Long)], DataFrame)](
    maxEntries = 8, onEvict = v => graft.SessionCache.release(v._2))

  /** Learn `rounds` BPE merges on the corpus VOCABULARY (the Sennrich
    * form: pair counts weighted by word frequency — vocabulary-sized
    * state, never the token stream) and return (merge list, final
    * segmented vocab). Each round is one Spark job that collects exactly
    * ONE row (the argmax pair — model-sized driver state, the
    * trainKmeans contract) and applies the merge as a pure column
    * transformation.
    *
    * Symbol sequences are strings with `~~` separators (also at both
    * ends); a merge (l, r) is `replace(seq, "~l~~r~", "~lr~")` — the
    * pattern consumes the RIGHT half of the left separator and the LEFT
    * half of the right one, so chained occurrences (`a b a b`, `a a a`)
    * each retain the boundary the next leftmost match needs (greedy BPE
    * semantics), while symbol-interior text can never match (a symbol
    * edge inside the pattern is always flanked by `~`). Plain
    * non-overlapping leftmost `replace` has identical semantics on both
    * engines, which is what makes the whole induction oracle-replayable
    * as unrolled SQL.
    */
  private def bpeLearn(s: SparkSession, d: String, rounds: Int)
      : (Seq[(Int, String, String, String, Long)], DataFrame) =
    bpeCache.getOrElseUpdate(s, s"$d#bpe#$rounds") { (ss, _) =>
      bpeLearnOf(Tables.documents(ss, d), rounds)
    }

  /** [[bpeLearn]] over an arbitrary `(text)` frame (uncached). */
  def bpeLearnOf(docs: DataFrame, rounds: Int)
      : (Seq[(Int, String, String, String, Long)], DataFrame) = {
      val cur0 = graft.SessionCache.cut(
        docs
          .select(explode(toks).as("w"))
          .where(col("w").rlike("^[a-z]+$"))
          .groupBy(col("w")).agg(count(lit(1)).as("freq"))
          .select(col("w"), col("freq"),
            concat(lit("~~"), regexp_replace(col("w"), "(.)", "$1~~"))
              .as("seq")))
      var cur = cur0
      val merges = Seq.newBuilder[(Int, String, String, String, Long)]
      for (r <- 1 to rounds) {
        val syms = regexp_extract_all(col("seq"), lit("[^~]+"), lit(0))
        val best = cur
          .select(col("freq"), syms.as("sy"))
          .where(size(col("sy")) >= 2)
          .select(col("freq"), explode(
            expr("transform(sequence(0, size(sy) - 2)," +
              " i -> struct(sy[i] AS l, sy[i + 1] AS r))")).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("freq")).as("n"))
          .orderBy(col("n").desc, col("l"), col("r"))
          .limit(1).collect()
        if (best.nonEmpty) {
          val (l, rr, n) = (best(0).getString(0), best(0).getString(1),
            best(0).getLong(2))
          merges += ((r, l, rr, l + rr, n))
          cur = cur.select(col("w"), col("freq"),
            call_function("replace", col("seq"),
              lit(s"~$l~~$rr~"), lit(s"~$l$rr~")).as("seq"))
        }
      }
      if (cur eq cur0) (merges.result(), cur0) // zero merges: already a leaf
      else {
        val fin = graft.SessionCache.cut(cur)
        // the pre-loop checkpoint is superseded by `fin`; without an
        // explicit release its blocks strand until ContextCleaner GC
        graft.SessionCache.release(cur0)
        (merges.result(), fin)
      }
  }

  /** The learned merge table: one row per round — the tokenizer model
    * artifact (rank-ordered merges ARE a BPE tokenizer).
    */
  def bpeMerges(s: SparkSession, d: String, rounds: Int = 6): DataFrame = {
    import s.implicits._
    bpeLearn(s, d, rounds)._1
      .toDF("round", "left_sym", "right_sym", "merged", "n")
  }

  /** Per-source encoding statistics under the learned merges: fertility
    * (BPE tokens per word) and compression (chars per BPE token) — the
    * numbers that decide whether a tokenizer fits a corpus. The
    * vocabulary (with per-word segment counts) broadcasts to the
    * corpus-word join; the token stream's only shuffle is the per-source
    * rollup.
    */
  def bpeFertility(s: SparkSession, d: String, rounds: Int = 6): DataFrame =
    fertilityFrom(Tables.documents(s, d), bpeLearn(s, d, rounds)._2)

  /** [[bpeFertility]] over an arbitrary `(source?, text)` frame
    * (uncached; a missing `source` column is filled with a constant).
    */
  def bpeFertilityOf(docs: DataFrame, rounds: Int = 6): DataFrame = {
    val withSrc =
      if (docs.columns.contains("source")) docs
      else docs.withColumn("source", lit("all"))
    fertilityFrom(withSrc, bpeLearnOf(withSrc, rounds)._2)
  }

  private def fertilityFrom(docs: DataFrame, vocab: DataFrame): DataFrame = {
    val enc = vocab
      .select(col("w"),
        size(regexp_extract_all(col("seq"), lit("[^~]+"), lit(0)))
          .as("n_syms"))
    docs
      .select(col("source"), explode(toks).as("w"))
      .join(broadcast(enc), Seq("w"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_words"),
        sum(col("n_syms").cast("long")).as("n_bpe_tokens"),
        sum(length(col("w")).cast("long")).as("n_chars"))
      .select(col("source"), col("n_words"), col("n_bpe_tokens"),
        col("n_chars"),
        (Num.halfUpDiv(col("n_bpe_tokens") * 1000000L, col("n_words"))
          .cast("double") / 1e6).as("fertility"),
        (Num.halfUpDiv(col("n_chars") * 1000000L, col("n_bpe_tokens"))
          .cast("double") / 1e6).as("chars_per_token"))
      .orderBy(col("source"))
  }
}
