package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.sketch.{cosineSim, maxCosineSim, nearestCentroid}

/** Vector-similarity pack over `embeddings` (array<float>, 64-dim).
  *
  * Scale design:
  *  - Math is pure higher-order-function column arithmetic in DOUBLE
  *    (sequential left-to-right accumulation → bit-identical across
  *    engines, oracle-safe) — no UDF, stays codegen-compatible.
  *  - Brute-force top-k against ONE query vector is a broadcast of a
  *    single row + a TakeOrderedAndProject: linear scan, O(k) memory —
  *    the right baseline even at 100 TB (it's one pass, no shuffle).
  *  - All-pairs near-duplicate is never materialized at scale: the
  *    LSH variant buckets by random-hyperplane sign bits (SimHash for
  *    vectors) so candidate pairs come from equal buckets only.
  *  - IVF-style search: a deterministic coarse quantizer (sign bits of
  *    the first 8 dims ≈ 256 cells) restricts the scan to the query's
  *    cell — the classic inverted-file ANN layout; at scale the cell id
  *    becomes the partition key of the stored table so a probe prunes
  *    partitions instead of scanning.
  */
object VectorOps {

  /** Cosine similarity — native codegen'd expression (graft.functions.
    * CosineSim): one compiled f64 pass per pair, accumulation order
    * identical to the DuckDB oracle's list_sum(list_transform(...)).
    */
  def cosine(a: Column, b: Column): Column = cosineSim(a, b)

  /** Elementwise cast to double (used by the coarse quantizer only). */
  private def asD(v: Column): Column = transform(v, x => x.cast("double"))

  /** Brute-force cosine top-k vs the embedding of `queryId`. The query
    * vector is a 1-row broadcast cross join; the scan then computes one
    * fused expression per row and TakeOrderedAndProject keeps k.
    */
  def cosineTopK(s: SparkSession, d: String, queryId: Long = 0L, k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = broadcast(
      emb.where(col("vec_id") === queryId).select(col("embedding").as("qv")))
    emb.crossJoin(q)
      .where(col("vec_id") =!= queryId)
      .select(
        col("vec_id"), col("label"),
        round(cosine(col("embedding"), col("qv")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Deterministic coarse quantizer: sign bits of the first `bits` dims →
    * cell id in [0, 2^bits). Plain arithmetic → expressible in the oracle.
    * (4 bits = 16 cells keeps cells populated at fixture scale; at 100 TB
    * you'd raise this so cells ≈ file-partition granularity.)
    */
  def cell(v: Column, bits: Int = 4): Column =
    // native codegen'd kernel (r14): value-identical to the former HOF
    // chain `aggregate(zip_with(slice(...), pow(2,i), when(x>0,p)))` —
    // exact powers of two, nan-safe comparison — one compiled pass per
    // row instead of interpreted sequence/transform/pow allocations
    // (measured on the ×10 fixture: the 0.9 s cell-assignment stages of
    // q_vec_neardup_lsh). Still plain arithmetic the oracle replays.
    graft.functions.sketch.signCell(v, lit(bits))

  /** Corpus-adaptive bit count for [[cell]]: the smallest `b` in
    * [minBits, maxBits] with `n ≤ targetCell·2^b`, i.e. mean cell
    * occupancy stays ≤ targetCell as the corpus grows — the FAISS
    * `nlist ∝ n` index-sizing rule. A CONSTANT bit count makes every
    * within-cell candidate join O(n²/2^bits), which is still quadratic;
    * the ×100 weak-scaling study measured exactly that (PERF_r09).
    * Spelled as exact integer threshold comparisons (never
    * ceil(log2(double)) — a half-ulp of log noise at a power-of-two
    * boundary would disagree across engines); the oracle replays the
    * same CASE chain.
    */
  def adaptiveBits(n: Column, targetCell: Long = 256L,
      minBits: Int = 4, maxBits: Int = 20): Column =
    (minBits until maxBits).reverse.foldLeft(lit(maxBits): Column) {
      case (els, b) => when(n <= targetCell * (1L << b), lit(b)).otherwise(els)
    }

  /** [[cell]] with a per-row dynamic bit count (an int Column). */
  def cellDyn(v: Column, bits: Column): Column =
    graft.functions.sketch.signCell(v, bits)

  /** IVF-style ANN: scan only vectors in the query's cell, cosine-rank
    * them. Approximate (recall < 1 vs brute force) but the scan cost drops
    * by the cell count; with the table partitioned by cell id the probe
    * reads one partition.
    */
  def ivfTopK(s: SparkSession, d: String, queryId: Long = 0L, k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(s, d).withColumn("cell", cell(col("embedding")))
    val q = broadcast(
      emb.where(col("vec_id") === queryId)
        .select(col("embedding").as("qv"), col("cell").as("qcell")))
    emb.join(q, col("cell") === col("qcell"))
      .where(col("vec_id") =!= queryId)
      .select(
        col("vec_id"), col("cell"),
        round(cosine(col("embedding"), col("qv")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Embedding near-duplicate pairs: cosine >= minSim. Candidates are
    * generated within coarse cells (vectors this similar share sign
    * patterns with high probability), keeping the join bounded; exact
    * cosine then filters. At fixture scale recall loss is acceptable for
    * the rows-only variant; the oracle-checked query below uses the exact
    * all-pairs form at a restricted slice instead.
    */
  def nearDupPairsExact(s: SparkSession, d: String, minSim: Double, maxId: Long): DataFrame = {
    val emb = Tables.embeddings(s, d).where(col("vec_id") <= maxId)
    val a = emb.select(col("vec_id").as("a"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("b"), col("embedding").as("vb"))
    a.join(b, col("a") < col("b"))
      .select(col("a"), col("b"), round(cosine(col("va"), col("vb")), 6).as("cos_sim"))
      .where(col("cos_sim") >= minSim)
      .orderBy(col("a"), col("b"))
  }

  /** Embedding near-duplicates at full-table scale: candidates share a
    * coarse cell (sign-bit LSH bucket), exact cosine filters. The bit
    * count is [[adaptiveBits]] of the corpus count, so mean cell
    * occupancy — and with it the per-cell join fanout — stays bounded
    * as the corpus grows; with the pre-fix CONSTANT 4 bits the ×100
    * weak-scaling study measured the O(n²/16) consequence, 0.24 → 131 s
    * per 100× data. Under the defaults bits stays 4 below 4096 vectors,
    * so fixture results are unchanged. The selectivity/recall trade
    * moving to more bits is the standard LSH scaling story (a more
    * selective hash at larger n); the cell id stays deterministic
    * arithmetic, so the whole query (candidate generation included)
    * hash-matches a DuckDB twin.
    */
  def nearDupPairsLsh(s: SparkSession, d: String, minSim: Double = 0.4,
      targetCell: Long = 256L): DataFrame = {
    val emb = cellEmb(s, d, targetCell)
    val a = emb.select(col("vec_id").as("a"), col("embedding").as("va"), col("cell"))
    val b = emb.select(col("vec_id").as("b"), col("embedding").as("vb"), col("cell"))
    a.join(b, Seq("cell"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"), round(cosine(col("va"), col("vb")), 6).as("cos_sim"))
      .where(col("cos_sim") >= minSim)
      .orderBy(col("a"), col("b"))
  }

  /** Cell-assigned embedding leaf, hash-partitioned on `cell` and memoized
    * per (session, dir, targetCell). The sign-bit cell is a pure function
    * of (corpus, targetCell), and THREE registered queries consume the
    * same candidates-share-a-cell geometry over it — [[nearDupPairsLsh]]
    * (q_vec_neardup_lsh), its edge set under q_vec_sim_pagerank, and
    * [[semanticDedup]] (q_vec_semdedup) — the multi-consumer condition
    * every memo in this repo requires. Checkpointing the
    * `repartition(cell)` output hands each consumer's self-join BOTH
    * sides already partitioned on the join key, so the warm path runs the
    * within-cell join with ZERO Exchange (guide §2.4 "two operations
    * keyed the same way share one exchange") — previously each call
    * re-counted the corpus (adaptiveBits), re-assigned cells per join
    * side, and shuffled the full embedding payload twice.
    */
  private val cellEmbCache = new graft.SessionCache[DataFrame](
    maxEntries = 4, onEvict = graft.SessionCache.release)

  private def cellEmb(s: SparkSession, d: String, targetCell: Long): DataFrame =
    cellEmbCache.getOrElseUpdate(s, s"$d#$targetCell") { (ss, _) =>
      val n = Tables.embeddings(ss, d).agg(count(lit(1)).as("n_vec"))
      // the leaf carries the hash-partitioning and the within-partition
      // order, so no consumer re-exchanges or re-sorts on cell (PlansSpec
      // locks the self-join)
      graft.SessionCache.cutPartitioned(
        Tables.embeddings(ss, d)
          .crossJoin(broadcast(n)) // 1 row — the corpus size
          .select(col("vec_id"), col("embedding"),
            cellDyn(col("embedding"),
              adaptiveBits(col("n_vec"), targetCell)).as("cell"))
          .repartition(ss.conf.get("spark.sql.shuffle.partitions").toInt, col("cell"))
          .sortWithinPartitions(col("cell")))
    }

  /** Materialized IVF layout: embeddings written partitioned by cell id.
    * A probe then reads ONE partition directory (partition pruning), which
    * is how the coarse quantizer turns into storage-level skipping at
    * 100 TB — the scan cost of a query drops by the cell count.
    */
  def writeIvfIndex(s: SparkSession, d: String, indexDir: String, bits: Int = 4): Unit =
    Tables.embeddings(s, d)
      .withColumn("cell", cell(col("embedding"), bits))
      .write.mode("overwrite").partitionBy("cell").parquet(indexDir)

  /** Incrementally add a vector batch to a materialized IVF layout —
    * [[writeIvfIndex]]'s update path (the vector-side sibling of
    * `DedupOps.incrementalClusters`): new vectors are assigned their
    * cell by the SAME coarse quantizer and appended as new files under
    * their cell partitions. Nothing existing is rewritten, untouched
    * cells gain no files, and partition pruning on probes is unchanged —
    * the append cost is batch-sized at any index size.
    */
  def appendIvfIndex(s: SparkSession, indexDir: String,
      batch: DataFrame, bits: Int = 4): Unit =
    batch
      .withColumn("cell", cell(col("embedding"), bits))
      .write.mode("append").partitionBy("cell").parquet(indexDir)

  /** Materialized LEARNED-quantizer IVF layout ([[writeIvfIndex]]'s
    * k-means sibling): embeddings partitioned by their trained cell,
    * with the centroid model persisted alongside (`model/`, k rows) so
    * [[appendIvfKmeansIndex]] and [[ivfKmeansProbe]] assign and prune
    * with the SAME quantizer the layout was built with — the property
    * that makes a materialized ANN index updatable at all (re-deriving
    * the model from a grown corpus would silently reshuffle cells).
    */
  def writeIvfKmeansIndex(s: SparkSession, d: String, indexDir: String,
      k: Int = 16, iters: Int = 5): Unit = {
    val cents = trainKmeans(s, d, k, iters)
    import s.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .write.mode("overwrite").parquet(s"$indexDir/model")
    Tables.embeddings(s, d)
      .withColumn("cell", nearestCentroid(col("embedding"), cents))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$indexDir/data")
  }

  private def loadKmeansModel(s: SparkSession,
      indexDir: String): Array[Array[Double]] =
    s.read.parquet(s"$indexDir/model").orderBy(col("cell"))
      .collect().map(_.getSeq[Double](1).toArray) // k rows — model-sized

  /** Batch-sized update of the learned-quantizer layout: assign with the
    * PERSISTED model, append new files under touched cells only.
    */
  def appendIvfKmeansIndex(s: SparkSession, indexDir: String,
      batch: DataFrame): Unit = {
    val cents = loadKmeansModel(s, indexDir)
    batch
      .withColumn("cell", nearestCentroid(col("embedding"), cents))
      .write.mode("append").partitionBy("cell").parquet(s"$indexDir/data")
  }

  /** Probe the learned-quantizer layout: nProbe nearest cells by the
    * persisted model (driver-side k×dim arithmetic), partition-pruned
    * scan, exact cosine re-rank.
    */
  def ivfKmeansProbe(s: SparkSession, indexDir: String,
      queryVec: Array[Float], topK: Int = 10, nProbe: Int = 2): DataFrame = {
    val cents = loadKmeansModel(s, indexDir)
    val qv = queryVec.map(_.toDouble)
    def d2(c: Array[Double]): Double = {
      var dist = 0.0; var i = 0
      val n = math.min(c.length, qv.length)
      while (i < n) { val x = c(i) - qv(i); dist += x * x; i += 1 }
      dist
    }
    val probeCells = cents.zipWithIndex
      .sortBy { case (c, i) => (d2(c), i) }.take(nProbe).map(_._2)
    s.read.parquet(s"$indexDir/data")
      .where(col("cell").isin(probeCells.map(c => c: Any): _*))
      .select(col("vec_id"), col("cell"),
        round(cosine(col("embedding"), lit(queryVec)), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(topK)
  }

  /** Probe the materialized index: rank the query's cell by cosine. The
    * cell predicate is a partition filter — check the scan's
    * PartitionFilters in explain. */
  def ivfProbe(
      s: SparkSession, indexDir: String,
      queryVec: Array[Float], k: Int = 10, bits: Int = 4): DataFrame = {
    val qCell = {
      var c = 0L
      (0 until bits).foreach(i => if (queryVec(i) > 0) c |= (1L << i))
      c
    }
    val q = lit(queryVec)
    s.read.parquet(indexDir)
      .where(col("cell") === qCell)
      .select(col("vec_id"), col("cell"),
        round(cosine(col("embedding"), q), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  // ---- learned (k-means) IVF ------------------------------------------

  /** Lloyd's k-means over the embedding column — the LEARNED coarse
    * quantizer that replaces [[cell]]'s sign-bit heuristic when cell
    * balance matters (real IVF indexes train their centroids).
    *
    * Scale shape: each iteration is ONE distributed pass — a codegen'd
    * [[graft.functions.NearestCentroid]] assignment (the centroid matrix
    * rides the serialized expression, no join) feeding the partial-agg
    * shaped VectorSum UDAF. The only driver-side data is the model
    * itself: k × dim doubles per iteration (the per-iteration collect is
    * k rows, not corpus data). Deterministic AND portable: seeds are the
    * k lowest-vec_id embeddings, ties break to the lowest cell index, and
    * centroid updates use the quantized mean
    * ([[graft.functions.VectorAgg.centroidQ]]) — per-element nano-unit
    * longs summed exactly, so the model is bit-identical across
    * partitionings and engines, which is what lets the DuckDB oracle
    * replay the whole training loop as unrolled SQL (VERDICT r5 #2).
    * Memoized per (session, dir, k, iters) like the sketch indexes — at
    * scale the quantizer is trained once per corpus and reused by every
    * probe.
    */
  def trainKmeans(
      s: SparkSession, d: String, k: Int = 16, iters: Int = 5): Array[Array[Double]] =
    kmeansCache.getOrElseUpdate(s, s"$d#$k#$iters") { (ss, _) =>
      val emb = Tables.embeddings(ss, d).select(col("vec_id"), col("embedding"))
      var cents: Array[Array[Double]] = emb.orderBy(col("vec_id")).limit(k)
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val dim = cents.headOption.map(_.length).getOrElse(0)
      var it = 0
      while (it < iters) {
        val updated = emb
          .groupBy(nearestCentroid(col("embedding"), cents).as("cell"))
          .agg(graft.functions.VectorAgg.centroidQ(col("embedding"), dim).as("c"))
          .collect()
          .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
        // empty cells keep their previous centroid (standard Lloyd's)
        cents = cents.indices.map(i => updated.getOrElse(i, cents(i))).toArray
        it += 1
      }
      cents
    }

  private val kmeansCache = new graft.SessionCache[Array[Array[Double]]]

  /** ANN top-k through the learned quantizer: assign every vector its
    * nearest trained centroid, scan only the `nProbe` cells nearest the
    * query. Assignment and filter are one codegen'd map pass (no join,
    * no shuffle); picking the probe cells is driver arithmetic on the
    * k×dim model. With the table stored partitioned by cell
    * ([[writeIvfIndex]] layout), the isin() filter becomes partition
    * pruning and a probe reads nProbe/k of the corpus.
    */
  def ivfKmeansTopK(
      s: SparkSession, d: String, queryId: Long = 0L, topK: Int = 10,
      k: Int = 16, iters: Int = 5, nProbe: Int = 2): DataFrame = {
    val cents = trainKmeans(s, d, k, iters)
    val emb = Tables.embeddings(s, d)
    val qv = emb.where(col("vec_id") === queryId)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toArray
    def d2(c: Array[Double]): Double = {
      var dist = 0.0; var i = 0
      val n = math.min(c.length, qv.length)
      while (i < n) { val x = c(i) - qv(i); dist += x * x; i += 1 }
      dist
    }
    val probeCells = cents.zipWithIndex.sortBy { case (c, i) => (d2(c), i) }
      .take(nProbe).map(_._2)
    emb
      .select(col("vec_id"),
        nearestCentroid(col("embedding"), cents).as("cell"),
        round(cosineSim(col("embedding"), lit(qv)), 6).as("cos_sim"))
      .where(col("cell").isin(probeCells.map(c => c: Any): _*) &&
        col("vec_id") =!= queryId)
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(topK)
  }

  /** Cell histogram of the learned quantizer — the balance diagnostic an
    * IVF deployment watches (empty / overfull cells mean bad recall or
    * bad pruning). One map pass + one k-row aggregate.
    */
  def kmeansCellStats(
      s: SparkSession, d: String, k: Int = 16, iters: Int = 5): DataFrame = {
    val cents = trainKmeans(s, d, k, iters)
    Tables.embeddings(s, d)
      .groupBy(nearestCentroid(col("embedding"), cents).as("cell"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("cell"))
  }

  /** Per-label mean embedding via the typed Aggregator UDAF
    * (graft.functions.VectorAgg): the buffer is one double[64] per group —
    * partial-agg shaped, nothing row-proportional crosses the shuffle.
    * First 4 dims exposed for the oracle.
    */
  /** Label-affinity matrix: pairwise cosine similarity between label
    * centroids — the cluster-separation map read before trusting labels
    * as training strata (two labels with ~1.0 affinity are one concept;
    * [[labelOutliers]] finds bad members, this finds bad LABELS).
    *
    * Plan: centroids reduce via per-dimension partial-aggregated sums
    * (one shuffle of |labels| × dim doubles); the pairwise stage is a
    * |labels|² cross of the tiny centroid table. Both engines build
    * components as Σxᵢ/n from the same integer-count / double-sum inputs
    * and fold the dot product left-to-right, so the rounded similarity
    * hash-matches.
    */
  def labelAffinity(s: SparkSession, d: String): DataFrame = {
    val dim = 64
    val sums = (0 until dim).map(i =>
      sum(element_at(col("embedding"), i + 1).cast("double")).as(s"s$i"))
    // |labels|-row result, but its aggregation scans the corpus — cut the
    // plan here so the self-cross below reads the 10-row leaf twice
    // instead of running the 65-expression aggregate scan per branch
    // (ReusedExchange does not fire across broadcast-NLJ branches).
    // Memoized per (session, dir): an unmemoized eager checkpoint would
    // re-run the corpus scan AND register a fresh never-freed RDD on
    // every call.
    val cents = smallAggCache.getOrElseUpdate(s, s"$d#labelcents") { (ss, _) =>
      graft.SessionCache.cut(Tables.embeddings(ss, d)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"), sums: _*))
    }
    def comps(tag: String) = cents.select(
      col("label").as(s"l$tag") +:
        (0 until dim).map(i => (col(s"s$i") / col("n")).as(s"$tag$i")): _*)
    val a = comps("a")
    val b = comps("b")
    val dot = (0 until dim).map(i => col(s"a$i") * col(s"b$i")).reduce(_ + _)
    val na = sqrt((0 until dim).map(i => col(s"a$i") * col(s"a$i")).reduce(_ + _))
    val nb = sqrt((0 until dim).map(i => col(s"b$i") * col(s"b$i")).reduce(_ + _))
    a.crossJoin(b)
      .where(col("la") < col("lb"))
      .select(col("la"), col("lb"), round(dot / (na * nb), 6).as("cos_sim"))
      .orderBy(col("la"), col("lb"))
  }

  def labelCentroids(s: SparkSession, d: String): DataFrame = {
    val c = graft.functions.VectorAgg.centroid(col("embedding"), 64)
    Tables.embeddings(s, d)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), c.as("c"))
      .select(
        col("label"), col("n"),
        round(element_at(col("c"), 1), 6).as("c0"),
        round(element_at(col("c"), 2), 6).as("c1"),
        round(element_at(col("c"), 3), 6).as("c2"),
        round(element_at(col("c"), 4), 6).as("c3"))
      .orderBy(col("label"))
  }

  /** Symmetric int8 quantization per embedding: q[i] = round(127 · x[i] /
    * max|x|) — the standard compression step before shipping vectors to an
    * ANN index or a training shard (4× smaller than f32, 8× than f64).
    * Pure higher-order-function DOUBLE arithmetic per row (scale factor,
    * elementwise round, reduction checksum): no shuffle, codegen'd, and
    * byte-exact across engines so the quantized values themselves are
    * oracle-checked (first 4 dims + the full-vector checksum). The
    * `greatest(…, 1e-12)` guard makes the zero vector quantize to zeros
    * instead of NaN.
    */
  def quantizeInt8(s: SparkSession, d: String): DataFrame =
    // Staged projections (the TextOps.repeatSpansOf landmine): the one-val
    // spelling spliced maxAbs — itself a full array pass — into the
    // quantize lambda (per-ELEMENT re-eval) and the q tree five times
    // into one projection: O(dim²)+ per row, 2.3 s at sf0.1 for 2 k×64
    // floats. Staged: 0.1 s, each pass once per row.
    // the staged HOF passes fuse above the scan
    Tables.widen(s, d, "embeddings", Tables.embeddings(s, d))
      .select(col("vec_id"), col("label"), asD(col("embedding")).as("e"))
      .select(col("vec_id"), col("label"), col("e"),
        greatest(array_max(transform(col("e"), x => abs(x))), lit(1e-12))
          .as("ma"))
      .select(col("vec_id"), col("label"), col("ma"),
        transform(col("e"), x => round(x * lit(127.0) / col("ma")).cast("int"))
          .as("q"))
      .select(
        col("vec_id"), col("label"),
        round(col("ma"), 6).as("max_abs"),
        element_at(col("q"), 1).as("q0"),
        element_at(col("q"), 2).as("q1"),
        element_at(col("q"), 3).as("q2"),
        element_at(col("q"), 4).as("q3"),
        aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("q_sum"))
      .orderBy(col("vec_id"))

  /** Quantization-error audit: per label, the reconstruction error of the
    * int8 roundtrip ([[quantizeInt8]]'s dequantized vector vs the
    * original) — the quality-cost side of the 4× compression decision,
    * read next to [[labelAffinity]]/[[dimStats]] when choosing an index
    * format. Reports relative squared error (‖x−x̂‖²/‖x‖²) and MSE.
    *
    * Plan: the whole roundtrip and both error folds are per-row HOF
    * arithmetic (zero shuffle); the only exchange is the |labels|-row
    * rollup. Per-vector errors quantize to integer nano-units before the
    * label sum (the order-independence stance); max is order-free.
    */
  def quantError(s: SparkSession, d: String): DataFrame = {
    // Staged like quantizeInt8 (maxAbs appeared TWICE inside the
    // dequantize lambda — two full array passes per element).
    val errSq = aggregate(
      zip_with(col("e"), col("dq"), (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x)
    val normSq = aggregate(transform(col("e"), x => x * x),
      lit(0.0), (acc, x) => acc + x)
    Tables.embeddings(s, d)
      .select(col("label"), asD(col("embedding")).as("e"))
      .select(col("label"), col("e"),
        greatest(array_max(transform(col("e"), x => abs(x))), lit(1e-12))
          .as("ma"))
      .select(col("label"), col("e"),
        transform(col("e"),
          x => round(x * lit(127.0) / col("ma")) * col("ma") / lit(127.0))
          .as("dq"))
      .select(col("label"),
        round(errSq / greatest(normSq, lit(1e-12)) * 1e9).cast("long").as("rq"),
        round(errSq / size(col("e")).cast("double") * 1e9)
          .cast("long").as("mq"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("rq")).as("srq"), max(col("rq")).as("xrq"),
        sum(col("mq")).as("smq"))
      .select(
        col("label"), col("n_vecs"),
        round(col("srq").cast("double") / col("n_vecs") / 1e9, 6)
          .as("avg_rel_err"),
        round(col("xrq").cast("double") / 1e9, 6).as("max_rel_err"),
        round(col("smq").cast("double") / col("n_vecs") / 1e9, 6).as("avg_mse"))
      .orderBy(col("label"))
  }

  /** Binary product-quantization codes: the 64-dim vector is split into 8
    * subspaces of 8 dims and each subvector is encoded by its sign
    * pattern — an 8-bit code per subspace, 8 bytes per vector (32×
    * smaller than f32). This is PQ with the deterministic ±-orthant
    * codebook (the learned-codebook variant would train per-subspace
    * k-means exactly like [[trainKmeans]]); deterministic codes are what
    * make the encode oracle-checkable end to end.
    *
    * Per-row codegen'd integer arithmetic (the code accumulates
    * high-bit-first: acc·2 + sign), zero shuffle.
    */
  def pqCodes(v: Column, subspaces: Int = 8, subDim: Int = 8): Column =
    transform(sequence(lit(0), lit(subspaces - 1)), i =>
      aggregate(sequence(lit(subDim - 1), lit(0), lit(-1)), lit(0),
        (acc, j) =>
          acc * 2 + when(
            element_at(v, (i * subDim + j + 1).cast("int"))
              .cast("double") > 0.0, 1)
            .otherwise(0)))

  /** Published encode table: the 8 code bytes packed as one 16-char hex
    * string (high subspace first) — a scalar column every engine (and the
    * driver's pandas compare, which can't hash array cells) handles; the
    * array form stays internal to [[pqTopK]]/[[ivfPqTopK]].
    */
  def pqEncode(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        array_join(
          transform(pqCodes(col("embedding")), c => lpad(hex(c), 2, "0")), "")
          .as("codes_hex"))
      .orderBy(col("vec_id"))

  /** ANN by symmetric PQ distance: rank the corpus by summed per-subspace
    * Hamming distance between code words, cheapest-first tie-broken by
    * vec_id. The query's codes ride a 1-row broadcast; the scan computes
    * 8 XOR+popcounts per row against codes it would read from the (32×
    * smaller) code table — the standard memory-bound ANN trade: scan
    * compressed codes, re-rank survivors with true vectors
    * ([[cosineTopK]] / [[ivfTopK]] are those exact re-rankers).
    */
  def pqTopK(s: SparkSession, d: String, queryId: Long = 0L, k: Int = 10): DataFrame = {
    val codes = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), pqCodes(col("embedding")).as("codes"))
    val q = broadcast(
      codes.where(col("vec_id") === queryId).select(col("codes").as("qcodes")))
    codes.crossJoin(q)
      .where(col("vec_id") =!= queryId)
      .select(
        col("vec_id"), col("label"),
        aggregate(
          zip_with(col("codes"), col("qcodes"),
            (a, b) => bit_count(a.bitwiseXOR(b))),
          lit(0), (acc, x) => acc + x).as("pq_dist"))
      .orderBy(col("pq_dist").asc, col("vec_id").asc)
      .limit(k)
  }

  /** IVF + PQ composed probe — the two index layers an ANN deployment
    * actually stacks: the coarse quantizer ([[cell]]) prunes the scan to
    * the query's cell, then ranking runs on 8-byte PQ codes instead of
    * 256-byte float vectors ([[pqCodes]]), with the true cosine carried as
    * the re-rank signal for survivors. Everything is deterministic integer
    * /f64 arithmetic, so unlike most ANN stacks the whole pipeline —
    * pruning, code distance, re-rank — hash-matches a SQL twin.
    *
    * Scale shape: with the code table stored partitioned by cell
    * ([[writeIvfIndex]] layout), the probe reads nProbe/2^bits of a table
    * that is itself 32× smaller than the vectors; the query's cell + codes
    * ride a 1-row broadcast and the scan stays one codegen'd pass feeding
    * TakeOrderedAndProject.
    */
  def ivfPqTopK(s: SparkSession, d: String, queryId: Long = 0L, k: Int = 10,
      bits: Int = 4): DataFrame = {
    val pqDist = (a: Column, b: Column) =>
      aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y))),
        lit(0), (acc, x) => acc + x)
    val emb = Tables.embeddings(s, d).select(
      col("vec_id"), col("embedding"),
      cell(col("embedding"), bits).as("cell"),
      pqCodes(col("embedding")).as("codes"))
    val q = broadcast(
      emb.where(col("vec_id") === queryId).select(
        col("cell").as("qcell"), col("codes").as("qcodes"),
        col("embedding").as("qv")))
    emb.join(q, col("cell") === col("qcell"))
      .where(col("vec_id") =!= queryId)
      .select(
        col("vec_id"), col("cell"),
        pqDist(col("codes"), col("qcodes")).as("pq_dist"),
        round(cosine(col("embedding"), col("qv")), 6).as("cos_sim"))
      .orderBy(col("pq_dist").asc, col("vec_id").asc)
      .limit(k)
  }

  /** Hard-negative mining for contrastive training: for each anchor
    * vector, the k most cosine-similar vectors carrying a DIFFERENT label —
    * the near-miss examples a contrastive or reranker objective learns the
    * most from. Anchors are a designed (small) sample by contract, so the
    * plan is a broadcast nested-loop of the anchor set against one corpus
    * scan — the corpus side never shuffles; ranking is a per-anchor window
    * (anchor cardinality = partition count). Ranking happens on the
    * ROUNDED similarity with vec_id tie-break, so the result is
    * deterministic and engine-portable.
    */
  def hardNegatives(s: SparkSession, d: String, nAnchors: Int = 4, k: Int = 5): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val anchors = broadcast(
      emb.where(col("vec_id") < nAnchors).select(
        col("vec_id").as("anchor_id"), col("label").as("anchor_label"),
        col("embedding").as("av")))
    // per-anchor top-k via the bounded two-phase aggregate, NOT a rank
    // window: nAnchors is a handful, so partitionBy(anchor_id) would sort
    // each anchor's corpus-sized candidate slice on one reducer (the
    // labelOutliers stance). Winners are nAnchors×k rows; their labels
    // come back from a broadcast join against the pruned id→label
    // projection rather than riding the shuffle.
    // anchor_label is functionally dependent on anchor_id, so grouping on
    // the pair carries it through the aggregate for free — no rejoin
    val winners = emb.join(anchors, col("label") =!= col("anchor_label"))
      .select(col("anchor_id"), col("anchor_label"),
        round(cosine(col("embedding"), col("av")), 6).as("cs"),
        col("vec_id"))
      .groupBy(col("anchor_id"), col("anchor_label"))
      .agg(graft.functions.TopKAgg
        .topK(lit(""), -col("cs"), col("vec_id"), col("cs"), k).as("top"))
      .select(col("anchor_id"), col("anchor_label"),
        posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("anchor_id"), col("anchor_label"),
        col("e.id").as("vec_id"), col("e.p").as("cos_sim"),
        (col("pos") + 1).cast("int").as("neg_rank"))
    emb.select(col("vec_id"), col("label"))
      .join(broadcast(winners), Seq("vec_id"))
      .select(col("anchor_id"), col("anchor_label"), col("vec_id"),
        col("label"), col("cos_sim"), col("neg_rank"))
      .orderBy(col("anchor_id"), col("neg_rank"))
  }

  /** Embedding outlier audit: each vector's L2 distance to its label's
    * centroid, surfacing the top `k` farthest per label — the scrub that
    * catches corrupt or mislabeled embeddings before they poison a
    * training mix. Centroid components are ROUNDED (6 dp) before the
    * distance so the result is independent of aggregation order — the
    * property that lets an iterative-float statistic hash-match across
    * engines.
    *
    * Plan: a NARROW (label, dim) rollup — posexplode ahead of partial
    * aggregation, so the shuffle carries ≤ |labels|·dim partial rows per
    * task — is COLLECTED as the centroid model (labels ≪ corpus by
    * contract, the k-means model stance) and bound into ONE codegen'd
    * distance kernel ([[graft.functions.DistToLabelCentroid]]); the
    * scoring pass is a pure map feeding two-phase partial-agg top-k
    * ([[graft.functions.TopKAgg]]) — NOT a per-label rank window, which
    * would sort each label's entire corpus slice on one reducer
    * (VERDICT r5 "What's wrong #3": ~10 labels over 100 TB = 10 TB
    * through one task; this was the 10.8×-vs-twin symptom at sf0.1).
    * The r9 spelling built the model as 64 per-dim avg COLUMNS and
    * broadcast-joined it back: per-action analysis of the ~400-node tree
    * plus the broadcast job cost ~0.6 s of the query's 1.1 s at sf0.1 —
    * plan-tree width is a driver cost the kernel form doesn't pay
    * (PERF_r10 §3). Descending distance rides as an ascending −dist key;
    * the distance itself rides the payload slot, so winners need no
    * join-back.
    */
  def labelOutliers(s: SparkSession, d: String, k: Int = 3): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val centRows = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(round(avg(col("x").cast("double")), 6).as("c"))
      .collect()
    val byLabel = centRows.groupBy(_.getInt(0))
    if (byLabel.isEmpty) {
      // empty embeddings dir: distToLabelCentroid requires ≥1 bound
      // centroid; return the contract-shaped empty result instead
      return emb.select(col("label"), col("vec_id"), lit(0d).as("dist"),
        lit(0).as("outlier_rank")).where(lit(false))
    }
    val labels = byLabel.keys.toArray.sorted
    val cents = labels.map { l =>
      val rows = byLabel(l)
      val arr = new Array[Double](rows.map(_.getInt(1)).max + 1)
      rows.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
      arr
    }
    emb
      .select(col("label"), col("vec_id"),
        round(graft.functions.sketch.distToLabelCentroid(
          col("embedding"), col("label"), labels, cents), 6).as("dist"))
      .groupBy(col("label"))
      .agg(graft.functions.TopKAgg
        .topK(lit(""), -col("dist"), col("vec_id"), col("dist"), k).as("top"))
      .select(col("label"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("label"), col("e.id").as("vec_id"), col("e.p").as("dist"),
        (col("pos") + 1).cast("int").as("outlier_rank"))
      .orderBy(col("label"), col("outlier_rank"))
  }

  /** Per-label centroid lengths — aggregate over the vector column using
    * elementwise array aggregation (zip_with under an agg via summing each
    * dimension): demonstrates vector reductions without exploding rows.
    */
  /** Per-dimension embedding statistics (mean/std/min/max for each of the
    * 64 components) — the feature-drift audit run before/after retraining
    * an embedding model (a shifted dimension distribution flags a skewed
    * batch or a silently changed encoder).
    *
    * Plan: posexplode runs IN-PIPELINE ahead of a partial aggregation, so
    * despite the ×dim row expansion the shuffle carries at most
    * dim × partitions partial rows (map-side combine collapses each task
    * to ≤ dim rows) — a vector-accumulating UDAF would shuffle the same
    * bytes with more code. Std is derived from Σx/Σx² in one shared
    * formula; floats cast to double BEFORE summation on both engines.
    */
  def dimStats(s: SparkSession, d: String): DataFrame = {
    val n = count(lit(1))
    val sx = sum(col("x"))
    val sxx = sum(col("x") * col("x"))
    Tables.embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim"), col("x").cast("double").as("x"))
      .groupBy(col("dim"))
      .agg(
        n.as("n"),
        round(sx / n, 6).as("mean"),
        round(sqrt((sxx - sx * sx / n) / (n - 1)), 4).as("std"),
        min(col("x")).as("min_x"),
        max(col("x")).as("max_x"))
      .orderBy(col("dim"))
  }

  def labelCentroidNorms(s: SparkSession, d: String): DataFrame = {
    val dim = 64
    val emb = Tables.embeddings(s, d)
    val sums = (0 until dim).map(i =>
      sum(element_at(col("embedding"), i + 1).cast("double")).as(s"s$i"))
    val cnt = count(lit(1))
    val centroidNorm = sqrt(
      (0 until dim).map(i => (col(s"s$i") / col("n")) * (col(s"s$i") / col("n")))
        .reduce(_ + _))
    emb.groupBy(col("label"))
      .agg(cnt.as("n"), sums: _*)
      .select(col("label"), col("n"), round(centroidNorm, 6).as("centroid_norm"))
      .orderBy(col("label"))
  }

  /** Batched ANN: cosine top-k for a SET of query vectors in one pass —
    * the serving/training shape (a retrieval batch, a hard-negative miner's
    * anchor set) where per-query scans would rescan the corpus |Q| times.
    *
    * Plan: the query batch is small by contract and rides ONE broadcast;
    * candidates are corpus rows sharing each query's coarse cell (the same
    * IVF pruning as [[ivfTopK]] — with the table partitioned by cell the
    * scan touches only the batch's cell set); ranking is a per-query
    * BOUNDED top-k aggregate ([[graft.functions.TopKAgg]], map-side
    * partials) — a rank window partitioned by the |Q| query ids would
    * sort each query's whole cell population on one reducer. The corpus
    * is scanned once for the whole batch, and nothing but ≤ k×partitions
    * candidate entries per query shuffles.
    */
  def batchTopK(s: SparkSession, d: String, nQueries: Int = 8, k: Int = 5,
      bits: Int = 4): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), cell(col("embedding"), bits).as("cell"))
    val queries = broadcast(
      emb.where(col("vec_id") < nQueries).select(
        col("vec_id").as("query_id"), col("cell").as("qcell"),
        col("embedding").as("qv")))
    emb.join(queries, col("cell") === col("qcell"))
      .where(col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id"),
        round(cosine(col("embedding"), col("qv")), 6).as("cs"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg
        .topK(lit(""), -col("cs"), col("vec_id"), col("cs"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rk"),
        col("e.id").as("vec_id"), col("e.p").as("cos_sim"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Semantic dedup (the SemDeDup recipe): within each coarse cell, drop
    * every vector that is ≥ `minSim` cosine-similar to a LOWER-id vector
    * in the same cell; the surviving lowest id is each ε-ball's canonical.
    * Reported as a per-vector verdict (`kept` / `dropped` + the anchoring
    * id) so downstream filters join on it.
    *
    * Plan: the candidate join fans out only within cells (sign-bit cells
    * here — deterministic arithmetic, so the whole query hash-matches its
    * twin; swap in the learned k-means cells of [[ivfKmeansTopK]] at
    * scale), and the per-vector verdict is a min-rollup on vec_id. The
    * bit count is [[adaptiveBits]] of the corpus size — the honest-
    * harness ×100 sweep caught the CONSTANT-4-bit original at 277 s
    * (O(n²/16) within-cell fanout, the exact defect [[nearDupPairsLsh]]
    * fixed earlier; the pruned `.count()` harness had hidden this one
    * because the verdict aggregate collapsed the join). Bits stay 4
    * below 4096 vectors, so fixture results are bit-unchanged.
    */
  def semanticDedup(s: SparkSession, d: String, minSim: Double = 0.4,
      targetCell: Long = 256L): DataFrame =
    // dir form rides the memoized cell-partitioned leaf (see [[cellEmb]]):
    // the within-cell candidate join runs exchange-free on the warm path
    semanticDedupCells(cellEmb(s, d, targetCell), minSim)

  /** [[semanticDedup]] over an arbitrary `(vec_id, embedding)` frame
    * (uncached cell assignment — the dir form reuses the memoized leaf).
    */
  def semanticDedupOf(embIn: DataFrame, minSim: Double = 0.4,
      targetCell: Long = 256L): DataFrame = {
    val n = embIn.agg(count(lit(1)).as("n_vec"))
    val emb = embIn
      .crossJoin(broadcast(n)) // 1 row — the corpus size
      .select(col("vec_id"), col("embedding"),
        cellDyn(col("embedding"),
          adaptiveBits(col("n_vec"), targetCell)).as("cell"))
    semanticDedupCells(emb, minSim)
  }

  /** [[semanticDedup]]'s verdict body over a cell-assigned
    * `(vec_id, embedding, cell)` frame.
    */
  private def semanticDedupCells(emb: DataFrame, minSim: Double): DataFrame = {
    val y = emb.select(col("vec_id"), col("cell"), col("embedding").as("vy"))
    val x = emb.select(col("vec_id").as("anchor_id"), col("cell").as("xcell"),
      col("embedding").as("vx"))
    y.join(x,
        col("cell") === col("xcell") && col("anchor_id") < col("vec_id") &&
          round(cosine(col("vx"), col("vy")), 6) >= minSim,
        "left")
      .groupBy(col("vec_id"), col("cell"))
      .agg(min(col("anchor_id")).as("dropped_by"))
      .select(
        col("vec_id"), col("cell"),
        when(col("dropped_by").isNull, "kept").otherwise("dropped").as("status"),
        col("dropped_by"))
      .orderBy(col("vec_id"))
  }

  /** Semantic benchmark decontamination: screen the training split for
    * vectors embedding-close to the held-out/eval split — the
    * embedding-space companion of [[graft.operators.TrainPrepOps]]'
    * shingle-based `decontaminate` (surface-form overlap misses
    * paraphrases; cosine proximity catches them). Split rule mirrors the
    * deterministic hash-split convention: `vec_id % evalMod == 0` is eval.
    *
    * Per-label audit row: train size, how many train vectors exceed
    * `tau` max-cosine vs ANY eval vector, and the max/mean of that
    * per-vector max-similarity — the columns a contamination dashboard
    * plots per data source.
    *
    * Plan shape (r14): the eval side is MODEL STATE — sample-sized by
    * construction (`evalCap`), collected once and carried by the
    * codegen'd [[graft.functions.MaxCosineSim]] expression (the
    * k-means-centroid stance) — so the screen is ONE map-side pass over
    * train computing each row's max-similarity in a compiled loop, and
    * the only shuffle is the label rollup's partial-agg exchange
    * (≤ |labels|×partitions rows). The previous spelling broadcast eval
    * as rows and fanned every train row out |eval|× through a
    * BroadcastNestedLoopJoin into a (vec_id,label) partial max: same
    * arithmetic, but |train|·|eval| materialized rows and a full
    * |train|-row exchange — measured 7.9 s on 2 tasks at the ×10 fixture
    * (the scan's 2 row groups bound the stage width).
    * The per-pair cosine is [[graft.functions.Sketch.cosine]]'s loop
    * verbatim and quantization is monotone, so max-then-quantize ≡
    * quantize-then-max: bit-identical output. For 100 TB×large-eval,
    * swap the model literal for the cell-bucketed candidate join of
    * [[semanticDedupOf]] — kept brute here because exactness is the
    * point of a decontamination gate. The mean is
    * [[graft.operators.Num.halfUpDiv]] over micro-unit longs —
    * hash-identical across engines and partitionings.
    *
    * `evalCap` keeps the fixture's modulus-selected stand-in eval set
    * CONSTANT-SIZED (the first `evalCap` hits, a deterministic id
    * cutoff): real benchmark suites don't grow with the training
    * corpus, but `vec_id % evalMod == 0` alone does — |eval| = n/20
    * made the "broadcast" side O(n) and the screen O(n²/20), measured
    * 0.12 → 13.6 s per 100× data in the ×100 weak-scaling study.
    * Inactive below evalMod·evalCap ids (all fixtures), linear above.
    */
  def semanticDecontam(s: SparkSession, d: String, evalMod: Long = 20L,
      tau: Double = 0.35, evalCap: Long = 500L): DataFrame = {
    val emb = Tables.embeddings(s, d)
    // eval set → driver model state: ≤ evalCap × dim doubles by
    // construction (the same bound that justified broadcasting it).
    // Floats widen via .toDouble — the identical conversion the codegen'd
    // cosine applied to the broadcast row's getFloat(i).
    val evalVecs: Array[Array[Double]] = emb
      .where(col("vec_id") % evalMod === 0 &&
        col("vec_id") < evalMod * evalCap)
      .select(col("embedding"))
      // a NULL embedding row contributed nothing in the crossJoin spelling
      // (cosine → null → ignored by max); skip it instead of NPE-ing the
      // model-state collect (ADVICE r14)
      .where(col("embedding").isNotNull)
      .collect()
      .map(_.getSeq[Any](0).iterator.map {
        case f: java.lang.Float => f.toDouble
        case x: java.lang.Double => x.doubleValue
        // a null element read 0.0 through the broadcast row's
        // UnsafeArrayData.getFloat in the crossJoin spelling — mirror it
        case null => 0.0
      }.toArray)
    val tauQ = math.round(tau * 1e6)
    val train = emb.where(col("vec_id") % evalMod =!= 0)
    if (evalVecs.isEmpty) {
      // empty eval split: the crossJoin spelling yields ZERO rows (no
      // pairs → no groups); preserve that contract without the kernel,
      // which has no defined max over an empty set
      return train.where(lit(false))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_train"), lit(0L).as("n_flagged"),
          lit(0.0).as("max_maxsim"), lit(0.0).as("mean_maxsim"))
        .orderBy(col("label"))
    }
    // no width pin: forced on, it paid on 4 cores at neither sf0.1 nor ×10
    train
      .select(col("label"),
        round(maxCosineSim(col("embedding"), evalVecs) * 1e6, 0)
          .cast("long").as("msimq"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_train"),
        sum(when(col("msimq") >= tauQ, 1L).otherwise(0L)).as("n_flagged"),
        (max(col("msimq")).cast("double") / 1e6).as("max_maxsim"),
        (graft.operators.Num.halfUpDiv(sum(col("msimq")), count(lit(1)))
          .cast("double") / 1e6).as("mean_maxsim"))
      .orderBy(col("label"))
  }

  // ---- PCA (power iteration) ------------------------------------------

  private val pcaCache = new graft.SessionCache[(Array[Double], Array[Double])]

  /** Top principal component of the embedding corpus by power iteration —
    * the one-vector PCA behind drift dashboards, whitening checks, and
    * "is one axis eating all the variance" audits ([[dimStats]] finds
    * per-dimension anomalies; this finds the dominant LINEAR combination).
    *
    * Scale shape (the [[trainKmeans]] stance): each iteration is ONE
    * distributed pass — the centered dot product and per-dimension
    * contributions are codegen'd array HOFs per row (the mean and current
    * direction ride the plan as model-sized literals, no join), and the
    * only shuffle is the dimension rollup of quantized partials
    * (≤ dim × partitions rows, the [[dimStats]] shape). Driver state is
    * the 2×dim model. Deterministic AND portable: every per-row
    * contribution quantizes to integer micro-units BEFORE summation
    * (order-independent long addition), the mean uses the nano-quantized
    * [[graft.functions.VectorAgg.centroidQ]], and normalization folds
    * left-to-right — so the trained direction is bit-identical across
    * partitionings and engines, letting the DuckDB oracle replay the
    * whole loop as unrolled CTEs (the k-means twin's trick, VERDICT r5
    * #2). Returns (mean, component).
    */
  def trainPca(s: SparkSession, d: String, iters: Int = 3): (Array[Double], Array[Double]) =
    pcaCache.getOrElseUpdate(s, s"$d#$iters") { (ss, _) =>
      val dim = 64
      val emb = Tables.embeddings(ss, d)
      val m = emb.agg(graft.functions.VectorAgg.centroidQ(col("embedding"), dim).as("m"))
        .head().getSeq[Double](0).toArray
      // deterministic unit start: 64 × 0.125² = 1
      var v = Array.fill(dim)(0.125)
      var it = 0
      while (it < iters) {
        val sh = zip_with(asD(col("embedding")), typedLit(m.toSeq), (x, mm) => x - mm)
        val dt = aggregate(zip_with(col("sh"), typedLit(v.toSeq), (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x)
        val sums = emb.select(sh.as("sh"))
          .select(col("sh"), dt.as("dt"))
          .select(posexplode(transform(col("sh"),
            e => round((e * col("dt")) * lit(1e6), 0).cast("long"))))
          .toDF("dim", "c")
          .groupBy(col("dim")).agg(sum(col("c")).as("sc"))
          .collect()
        val w = new Array[Double](dim)
        sums.foreach(r => w(r.getInt(0)) = r.getLong(1).toDouble / 1e6)
        val norm = math.sqrt(w.foldLeft(0.0)((a, x) => a + x * x))
        v = w.map(_ / norm)
        it += 1
      }
      (m, v)
    }

  /** The trained component as a table: (dim, mean_d, loading) — the model
    * dump an embedding-drift monitor diffs between corpus snapshots. The
    * oracle twin re-derives every value by replaying the training loop in
    * SQL, so a hash match certifies the full iteration, not just the
    * output shape.
    */
  def pcaComponent(s: SparkSession, d: String, iters: Int = 3): DataFrame = {
    val (m, v) = trainPca(s, d, iters)
    s.range(0, 64)
      .select(col("id").cast("int").as("dim"))
      .select(col("dim"),
        round(element_at(typedLit(m.toSeq), col("dim") + 1), 6).as("mean_d"),
        round(element_at(typedLit(v.toSeq), col("dim") + 1), 6).as("loading"))
      .orderBy(col("dim"))
  }

  /** Per-label distribution of the PC1 projection score — "does the top
    * variance axis separate the labels" (if label means differ strongly
    * along PC1, the corpus's dominant variation IS the label structure;
    * if not, the axis is nuisance variance to whiten away).
    *
    * One scan: the centered dot against the trained direction is a
    * per-row codegen'd HOF; scores quantize to micro-unit longs so the
    * per-label sum/min/max rollup (|labels| rows through the shuffle) is
    * exact-integer and the derived doubles are engine-identical.
    */
  def pcaLabelScores(s: SparkSession, d: String, iters: Int = 3): DataFrame = {
    val (m, v) = trainPca(s, d, iters)
    val sh = zip_with(asD(col("embedding")), typedLit(m.toSeq), (x, mm) => x - mm)
    val score = aggregate(zip_with(sh, typedLit(v.toSeq), (a, b) => a * b),
      lit(0.0), (acc, x) => acc + x)
    Tables.embeddings(s, d)
      .select(col("label"), round(score * lit(1e6), 0).cast("long").as("sq"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), sum(col("sq")).as("ssum"),
        min(col("sq")).as("smin"), max(col("sq")).as("smax"))
      .select(col("label"), col("n"),
        round((col("ssum").cast("double") / col("n")) / lit(1e6), 6).as("mean_score"),
        round(col("smin").cast("double") / lit(1e6), 6).as("min_score"),
        round(col("smax").cast("double") / lit(1e6), 6).as("max_score"))
      .orderBy(col("label"))
  }

  /** PageRank over the embedding near-duplicate graph: centrality of each
    * vector in the cosine-similarity graph of [[nearDupPairsLsh]] — the
    * "which documents sit at the center of a duplication/template
    * neighborhood" signal a curation pipeline uses to pick canonical
    * representatives and to down-weight viral boilerplate (a high-rank
    * node is near-duplicated BY many well-connected nodes, which plain
    * degree can't see).
    *
    * Scale shape: per iteration ONE edge-sized shuffle — the
    * contribution join fans each edge out once and the rank rollup
    * groups by destination; rank state stays DISTRIBUTED (a nodes-sized
    * frame, never collected — unlike the model-sized [[trainPca]] state,
    * per-node state must live in the cluster). Degrees join once before
    * the loop and ride along. Deterministic AND portable: ranks live as
    * integer nano-unit longs, per-edge contributions are integral
    * division pq div deg (exact on both engines), and the damping update
    * base + round(0.85·Σ) re-quantizes each iteration — so every
    * iteration is bit-identical and the DuckDB oracle replays the loop
    * as unrolled CTEs. No dangling-mass redistribution (isolated nodes
    * hold the teleport base) — same convention both sides.
    */
  def simGraphPageRank(s: SparkSession, d: String, iters: Int = 5,
      minSim: Double = 0.4, targetCell: Long = 256L): DataFrame = {
    // The edge table is read once per iteration plus once for the final
    // degree join — without persistence the whole LSH candidate join
    // re-executes iters+1 times inside one action (measured 3.1 s at
    // sf0.1, ~6× the single-pass cost). Memoized per (dir, params) like
    // every shared table (SessionCache evicts LRU + unpersists).
    val (ed, nodeState) = prCache.getOrElseUpdate(s, s"$d|$minSim|$targetCell") {
      (ss, _) =>
        val pairs =
          nearDupPairsLsh(ss, d, minSim, targetCell).select(col("a"), col("b"))
        val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
          .union(pairs.select(col("b").as("src"), col("a").as("dst")))
        val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        // Persist HASH-PARTITIONED on src: the cached partitioning then
        // satisfies every iteration's contribution join directly — the
        // edge table (the big side at scale) crosses the wire once at
        // build, not once per iteration.
        // Plain cut: a leaf checkpointed with AQE off measured sf0.1
        // 0.73 → 1.59 s (b2b min-of-6), forcing zero-exchange SMJs over
        // joins AQE otherwise broadcasts.
        def cutL(df: org.apache.spark.sql.DataFrame, key: String) =
          graft.SessionCache.cut(df.repartition(col(key)))
        val edCut = cutL(edges.join(deg, "src"), "src")
        // Node state, HASH-PARTITIONED on vec_id (r14): every iteration's
        // damping update left-joins the full node set against the rank
        // rollup — the rollup side arrives partitioned on dst from its own
        // groupBy, so persisting the node side pre-partitioned on the join
        // key removes one nodes-sized exchange PER ITERATION (5 exchanges
        // + 5 AQE barriers here; a nodes-sized shuffle per iteration at
        // corpus scale). base/init ride along as columns — both are pure
        // functions of n, computed once instead of re-deriving the
        // crossJoin(count) subtree each iteration.
        val nodesLocal = Tables.embeddings(ss, d).select(col("vec_id"))
        val nnB = broadcast(nodesLocal.agg(count(lit(1)).as("n")))
        val stateCut = cutL(nodesLocal.crossJoin(nnB)
          .select(col("vec_id"),
            round(lit(0.15) * lit(1e9) / col("n"), 0).cast("long").as("base"),
            round(lit(1e9) / col("n"), 0).cast("long").as("pq0")), "vec_id")
        (edCut, stateCut)
    }
    val deg = ed.groupBy(col("src")).agg(first(col("deg")).as("deg"))
    var pr = nodeState.select(col("vec_id"), col("pq0").as("pq"))
    var it = 0
    while (it < iters) {
      val contribs = ed.join(pr, ed("src") === pr("vec_id"))
        .select(col("dst"), expr("pq div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("sc"))
      pr = nodeState
        .join(contribs, col("vec_id") === col("dst"), "left")
        .select(col("vec_id"),
          (col("base") +
            round(coalesce(col("sc"), lit(0L)) * lit(0.85), 0).cast("long"))
            .as("pq"))
      it += 1
    }
    pr.join(deg, pr("vec_id") === deg("src"), "left")
      .select(col("vec_id"),
        round(col("pq").cast("double") / lit(1e9), 6).as("pagerank"),
        coalesce(col("deg"), lit(0L)).as("n_neighbors"))
      .orderBy(col("vec_id"))
  }

  // ---- Logistic-regression label classifier (full-batch GD) -----------

  private val prCache = new graft.SessionCache[
      (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)](
    maxEntries = 8, onEvict = v => {
      graft.SessionCache.release(v._1); graft.SessionCache.release(v._2)
    })

  // label-sized corpus-aggregate memos (affinity centroids, drift halves)
  private val smallAggCache =
    new graft.SessionCache[org.apache.spark.sql.DataFrame](
      maxEntries = 8, onEvict = graft.SessionCache.release)

  private val logRegCache = new graft.SessionCache[(Array[Double], Double)]

  /** Trained binary classifier over the embedding corpus: full-batch
    * gradient descent on weights + bias for the target `label < 5` (a
    * balanced split of the fixture's 10 labels) — the "learned quality
    * filter" shape of an LLM data pipeline, where a linear probe over
    * frozen embeddings gates documents into the training mix.
    *
    * Scale shape (the [[trainPca]] / [[trainKmeans]] stance): each
    * iteration is ONE distributed pass — the dot against the current
    * weights is a codegen'd HOF per row (the model rides the plan as a
    * dim-sized literal, no join), and the only shuffle is the gradient
    * rollup of quantized partials (≤ (dim+1) × partitions rows). Driver
    * state is the (dim+1)-sized model.
    *
    * Deterministic AND portable: the link is the rational "fast sigmoid"
    * σ̃(z) = 0.5·(1 + z/(1+|z|)) — only +,·,/,| | so every engine computes
    * bit-identical IEEE doubles (exp() carries no cross-engine
    * correct-rounding guarantee, so the classic logistic link would make
    * the twin flaky at rounding boundaries); per-row gradient
    * contributions quantize to integer micro-units BEFORE summation
    * (order-independent long addition), and the weight update
    * w −= lr·(G/1e6)/n is the same literal expression tree on both
    * sides. The DuckDB oracle replays the entire training loop as
    * unrolled CTEs — a hash match on [[logRegModel]] certifies every
    * iteration. Returns (weights, bias).
    */
  def trainLogReg(s: SparkSession, d: String, iters: Int = 3,
      lr: Double = 0.5): (Array[Double], Double) =
    logRegCache.getOrElseUpdate(s, s"$d#$iters#$lr") { (ss, _) =>
      val dim = 64
      val emb = Tables.embeddings(ss, d)
      var w = Array.fill(dim)(0.0)
      var b = 0.0
      var it = 0
      while (it < iters) {
        val z = aggregate(
          zip_with(asD(col("embedding")), typedLit(w.toSeq), (x, ww) => x * ww),
          lit(0.0), (acc, x) => acc + x) + lit(b)
        val y = when(col("label") < 5, lit(1.0)).otherwise(lit(0.0))
        val grads = emb
          .select(asD(col("embedding")).as("v"), y.as("y"), z.as("z"))
          .select(col("v"),
            (lit(0.5) * (lit(1.0) + col("z") / (lit(1.0) + abs(col("z")))) -
              col("y")).as("err"))
          .select(posexplode(concat(
            transform(col("v"),
              e => round((col("err") * e) * lit(1e6), 0).cast("long")),
            array(round(col("err") * lit(1e6), 0).cast("long")))))
          .toDF("dim", "c")
          .groupBy(col("dim"))
          .agg(sum(col("c")).as("g"), count(lit(1)).as("n"))
          .collect()
        val n = grads.head.getLong(2)
        grads.foreach { r =>
          val i = r.getInt(0)
          val upd = lr * ((r.getLong(1).toDouble / 1e6) / n)
          if (i == dim) b -= upd else w(i) -= upd
        }
        it += 1
      }
      (w, b)
    }

  /** The trained classifier as a table: (dim, weight) with dim = 64
    * holding the bias — the model dump a data-curation pipeline versions
    * alongside its corpus snapshots. The oracle twin re-derives every
    * value by replaying the training loop in SQL, so a hash match
    * certifies the full gradient-descent iteration, not just the shape.
    */
  def logRegModel(s: SparkSession, d: String, iters: Int = 3): DataFrame = {
    val (w, b) = trainLogReg(s, d, iters)
    s.range(0, 65)
      .select(col("id").cast("int").as("dim"))
      .select(col("dim"),
        round(when(col("dim") === 64, lit(b))
          .otherwise(element_at(typedLit(w.toSeq), col("dim") + 1)), 6)
          .as("weight"))
      .orderBy(col("dim"))
  }

  /** Per-label eval of the trained classifier: score distribution and
    * positive-prediction counts — "does the probe actually separate the
    * target slice" before anyone trusts it as a corpus gate.
    *
    * One scan: the score is a per-row codegen'd HOF against the trained
    * literal; scores quantize to micro-unit longs so the |labels|-row
    * rollup is exact-integer, and the p ≥ 0.5 decision compares the
    * QUANTIZED long (pq ≥ 500000) — no float threshold ambiguity.
    */
  def logRegEval(s: SparkSession, d: String, iters: Int = 3): DataFrame = {
    val (w, b) = trainLogReg(s, d, iters)
    val z = aggregate(
      zip_with(asD(col("embedding")), typedLit(w.toSeq), (x, ww) => x * ww),
      lit(0.0), (acc, x) => acc + x) + lit(b)
    val p = lit(0.5) * (lit(1.0) + z / (lit(1.0) + abs(z)))
    Tables.embeddings(s, d)
      .select(col("label"), round(p * lit(1e6), 0).cast("long").as("pq"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pq") >= 500000L, 1L).otherwise(0L)).as("n_pred_pos"),
        sum(col("pq")).as("psum"))
      .select(col("label"), col("n"), col("n_pred_pos"),
        round((col("psum").cast("double") / col("n")) / lit(1e6), 6).as("mean_p"))
      .orderBy(col("label"))
  }

  /** IVF index fidelity audit: for each query vector, recall@k of the
    * cell-pruned [[ivfTopK]] candidate set against the brute-force
    * cosine top-k — the measurement that decides how many probes the
    * serving index needs before the exact re-rank stage.
    *
    * Plan: the query batch rides ONE broadcast and the corpus is scanned
    * ONCE; both rankings come from the same (query, vector) similarity
    * rows via two bounded [[graft.functions.TopKAgg]] aggregations (the
    * IVF side pushes out-of-cell rows below any real candidate with a
    * sentinel sort key and drops them in-row afterwards — no second
    * scan, no rank window). The shuffle carries ≤ 2·k×partitions×|queries|
    * constant-size rows; recall is in-row array arithmetic.
    */
  def ivfRecallAudit(s: SparkSession, d: String, nQueries: Int = 5,
      k: Int = 10, bits: Int = 4): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), cell(col("embedding"), bits).as("cell"))
    val q = broadcast(emb.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("cell").as("qcell")))
    val sims = emb.crossJoin(q).where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(cosine(col("embedding"), col("qv")), 6).as("sim"),
        (col("cell") === col("qcell")).as("in_cell"))
    sims.groupBy(col("q_id"))
      .agg(
        sum(when(col("in_cell"), 1L).otherwise(0L)).as("n_cell_cands"),
        graft.functions.TopKAgg
          .topK(lit(""), -col("sim"), col("vec_id"), lit(0.0), k).as("tf"),
        graft.functions.TopKAgg
          .topK(lit(""), when(col("in_cell"), -col("sim")).otherwise(lit(1e9)),
            col("vec_id"), when(col("in_cell"), lit(1.0)).otherwise(lit(0.0)), k)
          .as("ti"))
      .select(col("q_id"), col("n_cell_cands"),
        size(array_intersect(
          transform(col("tf"), e => e("id")),
          transform(filter(col("ti"), e => e("p") === 1.0), e => e("id"))))
          .cast("long").as("n_overlap"))
      .select(col("q_id"), col("n_cell_cands"), col("n_overlap"),
        round(col("n_overlap") / lit(k.toDouble), 4).as("recall_at_k"))
      .orderBy(col("q_id"))
  }

  /** Multi-probe recall curve: recall@k of the IVF candidate set as the
    * number of probed cells grows (probe order = Hamming distance of the
    * sign-bit cell codes, ties by cell id) — the tuning curve that turns
    * [[ivfRecallAudit]]'s single point into the "how many probes buys how
    * much recall" decision every serving deployment actually makes.
    *
    * Plan: one corpus scan computes every (query, vector) similarity;
    * the probe ORDER is a |cells|×|queries| ranked grid (bounded: 2^bits
    * cells) over the cells PRESENT in the corpus. Queries (nQueries
    * vectors) and present cells (≤ 2^bits codes) are both model-sized, so
    * they are COLLECTED and the grid's Hamming ranking runs in plain
    * driver Scala — popcount over the low `bits` of the xor, ties by
    * cell id, identical to the oracle's per-bit shift/mask/abs spelling —
    * then rejoins the scan as LocalRelations (broadcast hash join with
    * no corpus-scanning broadcast-subtree jobs: the r9 spelling paid two
    * such jobs plus a rank window per action, ~0.5 s of its 1.0 s at
    * sf0.1). Every probe budget is evaluated from the SAME rows via
    * bounded [[graft.functions.TopKAgg]] aggregations with out-of-budget
    * rows pushed below any real candidate by a sentinel key — no
    * per-budget rescan, no rank window over the corpus.
    */
  def ivfProbeCurve(s: SparkSession, d: String, nQueries: Int = 8,
      k: Int = 10, bits: Int = 4,
      probes: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        cell(col("embedding"), bits).as("cell"))
    val qRows = emb.where(col("vec_id") < nQueries).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getLong(2)))
      .sortBy(_._1)
    val present = emb.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).sorted
    val mask = (1L << bits) - 1
    val rankedRows = qRows.flatMap { case (qid, _, qcell) =>
      present
        .sortBy(c => (java.lang.Long.bitCount((c ^ qcell) & mask), c))
        .zipWithIndex
        .map { case (c, i) => (qid, c, i + 1) }
    }.toSeq
    val q = qRows.toSeq.toDF("q_id", "qv", "qcell")
      .select(col("q_id"), col("qv").cast("array<float>").as("qv"))
    val ranked = rankedRows.toDF("q_id", "cell", "crank")
    val sims = emb.crossJoin(broadcast(q)).where(col("vec_id") =!= col("q_id"))
      .join(broadcast(ranked), Seq("q_id", "cell"))
      .select(col("q_id"), col("vec_id"), col("crank"),
        round(cosine(col("embedding"), col("qv")), 6).as("sim"))
    val aggs = graft.functions.TopKAgg
      .topK(lit(""), -col("sim"), col("vec_id"), lit(0.0), k).as("tf") +:
      probes.flatMap { p =>
        Seq(
          graft.functions.TopKAgg.topK(lit(""),
            when(col("crank") <= p, -col("sim")).otherwise(lit(1e9)),
            col("vec_id"),
            when(col("crank") <= p, lit(1.0)).otherwise(lit(0.0)), k)
            .as(s"ti_$p"),
          sum(when(col("crank") <= p, 1L).otherwise(0L)).as(s"nc_$p"))
      }
    val perQuery = sims.groupBy(col("q_id")).agg(aggs.head, aggs.tail: _*)
    val gt = transform(col("tf"), e => e("id"))
    val perQP = perQuery.select(col("q_id"), explode(array(probes.map { p =>
      struct(lit(p).as("probes"),
        size(array_intersect(gt,
          transform(filter(col(s"ti_$p"), e => e("p") === 1.0), e => e("id"))))
          .cast("long").as("ov"),
        col(s"nc_$p").as("nc"))
    }: _*)).as("e"))
      .select(col("q_id"), col("e.probes").as("probes"),
        col("e.ov").as("ov"), col("e.nc").as("nc"))
    perQP.groupBy(col("probes"))
      .agg(
        sum(col("nc")).as("total_cands"),
        (Num.halfUpDiv(sum(col("ov")) * 1000000L,
          count(lit(1)) * k).cast("double") / 1e6).as("mean_recall"),
        (min(col("ov")).cast("double") / k).as("min_recall"))
      .orderBy(col("probes"))
  }

  /** Matryoshka-truncation fidelity audit: for each query vector, the
    * overlap between the brute-force cosine top-k at full dimensionality
    * and the top-k computed on only the first `prefixDim` dimensions — the
    * measurement behind "can we serve ANN from truncated (Matryoshka)
    * embeddings and re-rank with full vectors", i.e. how much recall the
    * cheap prefix index gives up before the exact re-rank stage
    * ([[ivfPqTopK]]'s coarse→exact stance, evaluated instead of assumed).
    *
    * Plan: the query batch rides ONE broadcast; the corpus is scanned ONCE
    * computing BOTH similarities per (query, vector) pair in the same
    * codegen'd pass. Per-query top-k selection is the bounded
    * [[graft.functions.TopKAgg]] — NOT a q_id-partitioned rank window,
    * which would sort each query's entire corpus slice on one reducer at
    * scale; the shuffle carries ≤ 2·k×partitions×|queries| constant-size
    * rows and the overlap is in-row array arithmetic on two k-element
    * lists.
    */
  def matryoshkaAudit(s: SparkSession, d: String, nQueries: Int = 5,
      k: Int = 10, prefixDim: Int = 16): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = broadcast(emb.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv")))
    val sims = emb.crossJoin(q).where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(cosine(col("embedding"), col("qv")), 6).as("sim_full"),
        round(cosine(slice(col("embedding"), 1, prefixDim),
          slice(col("qv"), 1, prefixDim)), 6).as("sim_pre"))
    sims.groupBy(col("q_id"))
      .agg(
        graft.functions.TopKAgg
          .topK(lit(""), -col("sim_full"), col("vec_id"), lit(0.0), k).as("tf"),
        graft.functions.TopKAgg
          .topK(lit(""), -col("sim_pre"), col("vec_id"), lit(0.0), k).as("tp"))
      .select(col("q_id"),
        size(array_intersect(
          transform(col("tf"), e => e("id")),
          transform(col("tp"), e => e("id")))).cast("long").as("n_overlap"))
      .select(col("q_id"), col("n_overlap"),
        round(col("n_overlap") / lit(k.toDouble), 4).as("overlap_frac"))
      .orderBy(col("q_id"))
  }

  /** Int8 storage-quantization ANN fidelity audit: overlap between the
    * float-cosine top-k and the top-k computed against the int8-quantized
    * (then dequantized) corpus, queries kept full-precision — "how much
    * recall does 4× cheaper vector storage cost before the exact re-rank".
    * Completes the audit family: [[matryoshkaAudit]] measures dimension
    * truncation, [[ivfRecallAudit]] measures cell pruning, this measures
    * scalar quantization ([[quantError]] gives the geometric error; this
    * gives the end-task effect).
    *
    * Plan: identical machinery to [[matryoshkaAudit]] — ONE corpus scan
    * computes both similarities per (query, vector) with the per-vector
    * dequant inline in the same codegen'd pass; bounded `TopKAgg` per
    * query; in-row overlap.
    */
  def quantRecallAudit(s: SparkSession, d: String, nQueries: Int = 5,
      k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(s, d)
    // Staged like quantizeInt8 (maxAbs-in-lambda landmine).
    val base = emb
      .select(col("vec_id"), col("embedding"), asD(col("embedding")).as("e"))
      .select(col("vec_id"), col("embedding"), col("e"),
        greatest(array_max(transform(col("e"), x => abs(x))), lit(1e-12))
          .as("ma"))
      .select(col("vec_id"), col("embedding"),
        transform(col("e"),
          x => round(x * lit(127.0) / col("ma")) * col("ma") / lit(127.0))
          .as("dqv"))
    val q = broadcast(emb.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv")))
    base.crossJoin(q).where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(cosine(col("embedding"), col("qv")), 6).as("sim_full"),
        round(cosine(col("dqv"), col("qv")), 6).as("sim_q"))
      .groupBy(col("q_id"))
      .agg(
        graft.functions.TopKAgg
          .topK(lit(""), -col("sim_full"), col("vec_id"), lit(0.0), k).as("tf"),
        graft.functions.TopKAgg
          .topK(lit(""), -col("sim_q"), col("vec_id"), lit(0.0), k).as("tq"))
      .select(col("q_id"),
        size(array_intersect(
          transform(col("tf"), e => e("id")),
          transform(col("tq"), e => e("id")))).cast("long").as("n_overlap"))
      .select(col("q_id"), col("n_overlap"),
        round(col("n_overlap") / lit(k.toDouble), 4).as("overlap_frac"))
      .orderBy(col("q_id"))
  }

  /** PQ-code ANN fidelity audit: overlap between the float-cosine top-k
    * and the top-k ranked by symmetric PQ code distance ([[pqTopK]]'s
    * metric) — "how much recall do 32× smaller code scans cost before
    * the exact re-rank". Completes the audit family: [[matryoshkaAudit]]
    * measures dimension truncation, [[ivfRecallAudit]] cell pruning,
    * [[quantRecallAudit]] scalar quantization; this measures the code
    * ranking itself, the piece [[ivfPqTopK]] serves with.
    *
    * Plan: one corpus scan computes both signals per (query, vector) —
    * the cosine and the 8 XOR+popcounts — with the query rows riding a
    * broadcast; bounded `TopKAgg` per query (PQ distance is an integer
    * with heavy ties, so the id tiebreak is what makes the audit
    * deterministic — the twin spells the identical ORDER BY).
    */
  def pqRecallAudit(s: SparkSession, d: String, nQueries: Int = 5,
      k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val base = emb.select(col("vec_id"), col("embedding"),
      pqCodes(col("embedding")).as("codes"))
    val q = broadcast(base.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("codes").as("qcodes")))
    base.crossJoin(q).where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(cosine(col("embedding"), col("qv")), 6).as("sim_full"),
        aggregate(
          zip_with(col("codes"), col("qcodes"),
            (a, b) => bit_count(a.bitwiseXOR(b))),
          lit(0), (acc, x) => acc + x).cast("double").as("pq_dist"))
      .groupBy(col("q_id"))
      .agg(
        graft.functions.TopKAgg
          .topK(lit(""), -col("sim_full"), col("vec_id"), lit(0.0), k).as("tf"),
        graft.functions.TopKAgg
          .topK(lit(""), col("pq_dist"), col("vec_id"), lit(0.0), k).as("tp"))
      .select(col("q_id"),
        size(array_intersect(
          transform(col("tf"), e => e("id")),
          transform(col("tp"), e => e("id")))).cast("long").as("n_overlap"))
      .select(col("q_id"), col("n_overlap"),
        round(col("n_overlap") / lit(k.toDouble), 4).as("overlap_frac"))
      .orderBy(col("q_id"))
  }

  /** k-NN classification eval: for each anchor vector, predict its label
    * by majority vote of its k nearest cosine neighbors (self excluded)
    * and compare to the true label — the standard "are these embeddings
    * good for retrieval-by-meaning" probe, and the non-parametric
    * counterpart of [[logRegEval]]'s trained linear probe (k-NN needs no
    * training, so it isolates embedding quality from classifier
    * capacity). Vote ties break toward the smaller label id, neighbor
    * ties toward the smaller vec_id — both spelled identically in the
    * twin.
    *
    * Plan: anchors ride a broadcast against ONE corpus scan; per-anchor
    * neighbor selection is the bounded `TopKAgg` (labels ride as the
    * payload, so voting needs no join-back); votes explode k·|anchors|
    * rows — nothing downstream of the scan is corpus-sized.
    */
  def knnEval(s: SparkSession, d: String, nQueries: Int = 20,
      k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = broadcast(emb.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("label").as("label_true"),
        col("embedding").as("qv")))
    val votes = emb.crossJoin(q).where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("label_true"), col("vec_id"),
        col("label").cast("double").as("nbr_label"),
        round(cosine(col("embedding"), col("qv")), 6).as("sim"))
      .groupBy(col("q_id"), col("label_true"))
      .agg(graft.functions.TopKAgg
        .topK(lit(""), -col("sim"), col("vec_id"), col("nbr_label"), k)
        .as("top"))
      .select(col("q_id"), col("label_true"),
        explode(col("top")).as("e"))
      .groupBy(col("q_id"), col("label_true"),
        col("e.p").cast("int").as("lbl"))
      .agg(count(lit(1)).as("votes"))
    votes.groupBy(col("q_id"), col("label_true"))
      .agg(max(struct(col("votes").as("v"), (-col("lbl")).as("nl"))).as("best"))
      .select(col("q_id"), col("label_true"),
        (-col("best.nl")).as("label_pred"), col("best.v").as("n_votes"))
      .withColumn("correct", col("label_pred") === col("label_true"))
      .orderBy(col("q_id"))
  }

  /** Hubness audit: the k-occurrence histogram of the sampled exact k-NN
    * graph — for `nQueries` anchor queries, how many corpus vectors
    * appear in exactly `occurrences` of the top-`k` lists. The classic
    * high-dimensional pathology check (Radovanović et al., JMLR 2010):
    * a healthy space puts mass near E[occ] = Q·k/N; a hubby one
    * concentrates it on a few vectors that answer every query (and
    * antihubs that answer none), which silently wrecks k-NN labels,
    * hard-negative mining, and semdedup anchoring. Run next to
    * [[knnEval]]: low k-NN accuracy + high hub mass says the metric, not
    * the labels, is the problem.
    *
    * Plan: anchors ride ONE broadcast; the corpus is scanned once and
    * reduced per query by the bounded [[graft.functions.TopKAgg]] (no
    * rank-window shuffle of Q·N candidate rows); the k-occurrence rollup
    * keys on vec_id (Q·k rows), the histogram on occurrence counts
    * (≤ Q values).
    */
  def hubness(s: SparkSession, d: String, nQueries: Int = 50,
      k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = broadcast(emb.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv")))
    emb.crossJoin(q).where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(cosine(col("embedding"), col("qv")), 6).as("sim"))
      .groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg
        .topK(lit(""), -col("sim"), col("vec_id"), lit(0d), k).as("top"))
      .select(explode(col("top")).as("e"))
      .groupBy(col("e.id").as("nbr_id"))
      .agg(count(lit(1)).as("occ"))
      .groupBy(col("occ").cast("long").as("occurrences"))
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy(col("occurrences"))
  }

  /** Embedding drift audit: per label, the cosine between the centroid of
    * the EARLY half of the corpus (vec_id ≤ id midpoint — ids are the
    * ingest-order proxy) and the LATE half — the "did this class's
    * embedding distribution move between snapshots" check run before
    * trusting a centroid/IVF model trained on the old snapshot
    * ([[dimStats]] watches single dimensions; this watches each class's
    * mean direction). cos ≈ 1 means the old model still fits; a drifting
    * label is the one to re-train on.
    *
    * Determinism: both half-centroids are nano-quantized
    * order-independent means ([[graft.functions.VectorAgg.centroidQ]]);
    * the midpoint derives from min/max ids as exact long arithmetic on a
    * 1-row broadcast. Plan: ONE corpus scan into a (label, half) rollup
    * (2·|labels| constant-width rows), self-join on label.
    */
  def centroidDrift(s: SparkSession, d: String): DataFrame = {
    val dim = 64
    val emb = Tables.embeddings(s, d)
    val bounds = broadcast(
      emb.agg(min(col("vec_id")).as("mn"), max(col("vec_id")).as("mx")))
    val halves = emb.crossJoin(bounds)
      .select(col("label"), col("embedding"),
        (col("vec_id") <=
          call_function("div", col("mn") + col("mx"), lit(2L))).as("early"))
      .groupBy(col("label"), col("early"))
      .agg(count(lit(1)).as("n"),
        graft.functions.VectorAgg.centroidQ(col("embedding"), dim).as("c"))
    // 2·|labels| rows, corpus-sized aggregation: memoize + cut so the
    // early/late branches read the leaf instead of re-running the scan
    val halvesCut = smallAggCache.getOrElseUpdate(s, s"$d#drifthalves") {
      (_, _) => graft.SessionCache.cut(halves)
    }
    val a = halvesCut.where(col("early"))
      .select(col("label"), col("n").as("n_early"), col("c").as("ca"))
    val b = halvesCut.where(!col("early"))
      .select(col("label"), col("n").as("n_late"), col("c").as("cb"))
    a.join(b, Seq("label"))
      .select(col("label"), col("n_early"), col("n_late"),
        round(cosine(col("ca"), col("cb")), 6).as("cos_halves"))
      .orderBy(col("label"))
  }

  /** Label cluster-quality audit: per label, cohesion (mean cosine of
    * members to their own label centroid) and separation (cosine of the
    * label centroid to the global corpus centroid) — the "are my labels
    * actually clusters" diagnostic behind every centroid-based decision
    * in the pack ([[labelAffinity]] gives pairwise geometry; this gives
    * each cluster's internal tightness vs its pull toward the corpus
    * mean). High cohesion + low separation = a real, distinct cluster.
    *
    * Determinism: centroids use the nano-quantized order-independent
    * mean ([[graft.functions.VectorAgg.centroidQ]], the k-means
    * trainer's stance) and per-member cosines are rounded then
    * micro-quantized to longs before the rollup ([[Num.quantMean]]) —
    * every float the oracle sees is the result of exact integer
    * arithmetic plus one IEEE division.
    *
    * Plan: two |labels|-row aggregates (one grouped, one global 1-row)
    * broadcast back onto ONE corpus scan; the final rollup groups on
    * `label` — shuffle rows are constant-width, nothing proportional to
    * the corpus crosses after the first map-side partial agg.
    */
  def clusterQualityAudit(s: SparkSession, d: String): DataFrame = {
    val dim = 64
    val emb = Tables.embeddings(s, d)
    val cents = emb.groupBy(col("label"))
      .agg(graft.functions.VectorAgg.centroidQ(col("embedding"), dim).as("c"))
    val global = emb.groupBy()
      .agg(graft.functions.VectorAgg.centroidQ(col("embedding"), dim).as("g"))
    val simQ = round(round(cosine(col("embedding"), col("c")), 6) * 1e6)
      .cast("long")
    emb.join(broadcast(cents), "label")
      .select(col("label"), col("c"), simQ.as("sq"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("sq")).as("ssq"),
        first(col("c")).as("c"))
      .crossJoin(broadcast(global))
      .select(col("label"), col("n_vecs"),
        (Num.halfUpDiv(col("ssq"), col("n_vecs")).cast("double") / 1e6)
          .as("cohesion"),
        round(cosine(col("c"), col("g")), 6).as("sep_global"))
      .orderBy(col("label"))
  }

  /** Maximal-Marginal-Relevance diversified top-k (Carbonell & Goldstein
    * 1998): greedily pick `k` results from the `poolSize` most-relevant
    * candidates, each step maximizing
    * `λ·rel(c, q) − (1−λ)·max_{s∈selected} sim(c, s)` — the standard
    * redundancy-suppressing re-rank between a retriever and a consumer
    * (RAG context windows, dedup'd search pages, eval-set selection).
    * The plain top-k faces ([[cosineTopK]] etc.) return near-duplicate
    * neighbors as separate hits; this returns one representative per
    * redundancy cluster plus the diversity tail.
    *
    * Plan: ONE distributed action — the candidate pool (a TakeOrdered
    * subtree, `poolSize` rows) cross-joins itself so a single collect
    * returns every candidate with its relevance AND the full pool×pool
    * similarity matrix, all micro-quantized via the native [[cosine]]
    * kernel. The greedy selection then runs on driver state of
    * `poolSize²` longs (model-sized — the trainKmeans contract) in EXACT
    * integer arithmetic: λ = `lambdaNum`/`lambdaDen` rationalizes the
    * MMR objective to `lambdaNum·relq − (lambdaDen−lambdaNum)·msq`
    * micro-units, ties to the smaller vec_id, so the selection is
    * engine-independent and the DuckDB twin (k unrolled argmax CTEs)
    * hash-matches. At 100 TB the corpus-sized work is exactly the two
    * pool scans inside the one action; everything after is O(pool²)
    * driver arithmetic.
    */
  def mmrTopK(s: SparkSession, d: String, queryId: Long = 0L, k: Int = 5,
      poolSize: Int = 20, lambdaNum: Long = 7L, lambdaDen: Long = 10L)
      : DataFrame = {
    require(k >= 1 && poolSize >= k && lambdaNum >= 0 && lambdaDen > lambdaNum,
      s"bad MMR parameters: k=$k pool=$poolSize λ=$lambdaNum/$lambdaDen")
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val q = broadcast(emb.where(col("vec_id") === queryId)
      .select(col("embedding").as("qv")))
    val pool = emb.crossJoin(q).where(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("label"),
        round(cosine(col("embedding"), col("qv")), 6).as("rel"),
        col("embedding"))
      .orderBy(col("rel").desc, col("vec_id").asc).limit(poolSize)
    // diagonal rows kept so singleton pools still surface candidates;
    // the greedy loop skips va == vb when reading the sim matrix
    val rows = pool.select(col("vec_id").as("va"), col("label").as("la"),
        round(col("rel") * 1e6, 0).cast("long").as("relq"),
        col("embedding").as("ea"))
      .crossJoin(pool.select(col("vec_id").as("vb"), col("embedding").as("eb")))
      .select(col("va"), col("la"), col("relq"), col("vb"),
        round(round(cosine(col("ea"), col("eb")), 6) * 1e6, 0)
          .cast("long").as("sq"))
      .collect()
    final case class Cand(id: Long, label: Int, relq: Long)
    val cands = rows.map(r => Cand(r.getLong(0), r.getInt(1), r.getLong(2)))
      .distinct.sortBy(_.id)
    val sim = rows.iterator
      .map(r => ((r.getLong(0), r.getLong(3)), r.getLong(4))).toMap
    val muNum = (lambdaDen - lambdaNum)
    val picked = scala.collection.mutable.ArrayBuffer.empty[
      (Int, Long, Int, Long, Long, Long)] // rank, id, label, relq, msq, num
    val remaining = scala.collection.mutable.ArrayBuffer(cands: _*)
    while (picked.size < k && remaining.nonEmpty) {
      val scored = remaining.map { c =>
        val msq =
          if (picked.isEmpty) 0L
          else picked.map(p => sim((c.id, p._2))).max
        (c, msq, lambdaNum * c.relq - (if (picked.isEmpty) 0L else muNum * msq))
      }
      val best = scored.minBy { case (c, _, num) => (-num, c.id) }
      picked += ((picked.size + 1, best._1.id, best._1.label, best._1.relq,
        best._2, best._3))
      remaining -= best._1
    }
    val denom = 1e6 * lambdaDen
    picked.toSeq.map { case (rank, id, label, relq, msq, num) =>
      (rank, id, label, relq.toDouble / 1e6,
        if (rank == 1) 0.0 else msq.toDouble / 1e6, num.toDouble / denom)
    }.toDF("rank", "vec_id", "label", "rel", "max_sim_prior", "mmr_score")
  }
}
