package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** End-to-end training-data curation — the pipeline a pretraining corpus
  * actually runs, composed into ONE auditable query:
  * language-ID → quality gates → exact dedup → keep/drop decision, with
  * the per-document audit record (signal values + the first rule that
  * fired) as output.
  *
  * Plan shape (the point at 100 TB):
  *  - every per-document signal — token counts, quality composite,
  *    language scores, fingerprint — comes out of ONE scan as pure
  *    codegen'd column arithmetic: no UDF, no shuffle, no second pass
  *    over the text;
  *  - the only shuffle in the whole pipeline is exact-dup canonical
  *    resolution, and it carries (16-byte md5, doc_id) — never text;
  *  - the decision is a CASE over already-computed columns, so adding a
  *    rule costs zero extra passes.
  */
object CurationOps {

  /** Whitespace token count over a `text` column, shared by the curation
    * pipeline and [[TrainPrepOps]]' budget operators so all count alike.
    */
  def nTokensCol: org.apache.spark.sql.Column = size(TextOps.tokens(col("text")))

  /** Composite quality in [0,1]: length saturation × lexical diversity
    * (same definition as the q_text_quality signal).
    */
  def qualityCol: org.apache.spark.sql.Column = {
    val toks = TextOps.tokens(col("text"))
    val nTok = size(toks)
    round(least(nTok.cast("double") / 50.0, lit(1.0)) *
      (size(array_distinct(toks)).cast("double") / nTok), 4)
  }

  /** Per-document curation verdict. Rule order (first match wins) is part
    * of the contract: too_short → low_quality → duplicate → kept.
    */
  def curate(
      s: SparkSession, d: String,
      minTokens: Int = 20, minQuality: Double = 0.5): DataFrame = {
    val nTok = nTokensCol
    val quality = qualityCol
    // language ID is the native best_lang kernel (r14): the greatest-of-
    // structs HOF spelling evaluated 5 interpreted filter lambdas per
    // row (the dominant cost of the signal stage — a single-task 2.8 s
    // stage at the ×10 fixture); one compiled pass is value-identical
    // (BestLang's scaladoc carries the equivalence argument) and cheap
    // enough that no width-pin is needed at any scale (a round-robin
    // repartition here measured 0.45 → 0.67 s b2b at sf0.1 — reverted).
    val profs = TextOps.langProfiles.toSeq.sortBy(_._1)
    val best = graft.functions.sketch.bestLang(
      TextOps.tokens(lower(col("text"))),
      profs.map(_._1).toArray, profs.map(_._2.toArray).toArray)
    val sig = Tables.documents(s, d).select(
      col("doc_id"),
      md5(col("text")).as("fp"),
      nTok.as("n_tokens"),
      quality.as("quality"),
      best.as("best"))
    // fingerprint → smallest doc_id holding that text, as a window min:
    // ONE shuffle on fp at any corpus size. The aggregate+join-back form
    // costs the same shuffle plus a join whose build side (one row per
    // distinct text) stops being broadcastable long before 100 TB, at
    // which point it re-shuffles the signal table a second time.
    sig.withColumn("canonical_doc_id",
        min(col("doc_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
      .select(
        col("doc_id"),
        col("best.lang").as("lang_predicted"),
        col("best.score").as("confidence"),
        col("quality"),
        col("n_tokens"),
        (col("doc_id") =!= col("canonical_doc_id")).as("is_dup_copy"),
        when(col("n_tokens") < minTokens, "too_short")
          .when(col("quality") < minQuality, "low_quality")
          .when(col("doc_id") =!= col("canonical_doc_id"), "duplicate")
          .otherwise("kept").as("decision"))
      .orderBy(col("doc_id"))
  }

  /** Quality-score calibration: per quality-DECILE duplicate rate and
    * length stats — the audit that tells you whether the quality signal
    * driving [[curate]]'s low_quality rule actually separates junk
    * (boilerplate and templated text should concentrate duplicates in the
    * low deciles; a flat dup_rate across deciles means the score is a
    * length proxy, cf. TextOps.signalCorr).
    *
    * Plan: decile BOUNDARIES reduce to a 1-row broadcast (exact
    * percentiles inside one aggregate — the RFM stance, no ntile global
    * sort); documents score by comparison, a codegen'd per-row CASE. The
    * dup flag is the same single fp-window shuffle as [[curate]]. Output
    * is ≤ 10 rows at any corpus size.
    */
  def qualityCalibration(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // NOT width-pinned (r14, measured): `sig` feeds TWO consumers (the
    // fp window and the quantile bounds), so a round-robin repartition
    // makes both re-read a text-sized exchange and recompute the signal
    // block above it — b2b min-of-6 at the ×10 fixture: 1.21 → 2.27 s,
    // the r12 multi-subtree caveat in action; it stays on the bare scan.
    val sig = Tables.documents(s, d).select(
      col("doc_id"), md5(col("text")).as("fp"),
      qualityCol.as("quality"), nTokensCol.as("n_tokens"))
    val flagged = sig.withColumn("is_dup",
      count(lit(1)).over(Window.partitionBy(col("fp"))) > 1)
    val bounds = sig
      .agg(graft.functions.QuantilesAgg
        .quantiles(col("quality"), (1 to 9).map(_ / 10.0)).as("bqs"))
      .select((1 to 9).map(i =>
        round(element_at(col("bqs"), i), 4).as(s"q$i")): _*)
    val decile = (1 to 9)
      .map(i => (col("quality") > col(s"q$i")).cast("int"))
      .reduce(_ + _) + lit(1)
    flagged.crossJoin(broadcast(bounds)) // 1 row — the boundary vector
      .groupBy(decile.as("decile"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dups"),
        round(avg(col("quality")), 4).as("avg_quality"),
        round(avg(col("n_tokens")), 2).as("avg_tokens"))
      .select(
        col("decile"), col("n_docs"), col("n_dups"),
        round(col("n_dups").cast("double") / col("n_docs"), 6).as("dup_rate"),
        col("avg_quality"), col("avg_tokens"))
      .orderBy(col("decile"))
  }

  /** Corpus-level curation funnel: documents and tokens per decision —
    * the report a data team reads after a curation run. One extra
    * aggregate over [[curate]]'s output.
    */
  def curationFunnel(
      s: SparkSession, d: String,
      minTokens: Int = 20, minQuality: Double = 0.5): DataFrame =
    curate(s, d, minTokens, minQuality)
      .groupBy(col("decision"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("n_tokens"),
        round(avg(col("quality")), 4).as("avg_quality"))
      .orderBy(col("decision"))
}
