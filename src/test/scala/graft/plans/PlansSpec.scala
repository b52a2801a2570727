package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Physical-plan-level utilities: salting equivalence and shuffle-free
  * bucketed joins.
  */
class PlansSpec extends SparkSpec {

  test("saltedEquiJoin equals the plain join on a skewed key") {
    import spark.implicits._
    // 90% of big rows hit key 1 — the classic hot key
    val big = (1 to 2000).map(i => (if (i % 10 == 0) i % 5 else 1L, i.toLong))
      .toDF("k", "id")
    val small = Seq((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d"), (4L, "e"))
      .toDF("k", "v")
    val plain = big.join(small, Seq("k")).select("k", "id", "v")
      .collect().map(_.toSeq).toSet
    val salted = SkewOps.saltedEquiJoin(big, small, "k", "id", buckets = 8)
      .select("k", "id", "v").collect().map(_.toSeq).toSet
    assert(salted === plain)
    assert(plain.size === 2000)
  }

  test("bucketed join plans without a shuffle exchange") {
    import spark.implicits._  // warehouse dir: temp, set at session build
    val orders = (1 to 500).map(i => (i.toLong % 50, i.toLong, i * 1.5))
      .toDF("custkey", "orderkey", "price")
    val cust = (0 until 50).map(i => (i.toLong, s"cust$i")).toDF("custkey", "name")
    Bucketing.writeBucketed(orders, "b_orders", "custkey", 8)
    Bucketing.writeBucketed(cust, "b_cust", "custkey", 8)
    try {
      val joined = Bucketing.bucketedJoin(spark, "b_orders", "b_cust", "custkey")
      assert(!Bucketing.hasShuffle(joined),
        s"expected no shuffle:\n${joined.queryExecution.executedPlan}")
      assert(joined.count() === 500)
      // sanity: the same join over unbucketed parquet DOES shuffle
      val plainDir = Files.createTempDirectory("graft-plain").toString
      // multiple input files → multi-partition scan → the merge join
      // must hash-repartition (single-partition inputs satisfy any
      // clustering trivially and would hide the exchange)
      orders.repartition(4).write.mode("overwrite").parquet(plainDir)
      val right = cust.repartition(4)
      val plainJoin = spark.read.parquet(plainDir)
        .join(right.hint("merge"), Seq("custkey"))
      assert(Bucketing.hasShuffle(plainJoin))
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_cust")
    }
  }

  test("soleLateSuppliers (q21): bucketed fact layout, lineitem never re-shuffled") {
    val df = graft.operators.RelationalOps.soleLateSuppliers(spark, sf0001)
    df.collect() // materialize so AQE finalizes its runtime plan
    val plan = df.queryExecution.executedPlan
    // the scans must come from the session's bucketed layout ...
    assert(plan.toString.contains("graft_bk_lineitem"),
      s"q21 is not reading the bucketed lineitem:\n$plan")
    // ... and the only shuffle left is the final ≤|suppliers| rollup —
    // the pair rollup, orders join, and per-order verdict all ride the
    // bucket partitioning (r10 paid a full lineitem exchange here).
    assert(countShuffles(plan) <= 1,
      s"expected ≤1 shuffle (final supplier rollup), got:\n$plan")
  }

  test("fact-fact family rides the bucketed layout: q18/q3 zero-exchange, q10/q5 fact-side") {
    import graft.operators.RelationalOps
    for ((name, df, maxShuffles) <- Seq(
      // q18: per-order rollup + orders join, both on the bucket partitioning
      ("q18", RelationalOps.largeVolumeCustomers(spark, sf0001), 0),
      // q3: broadcast cust→orders keeps the bucket partitioning; li join +
      // per-order rollup inherit it
      ("q3", RelationalOps.shippingPriority(spark, sf0001), 0),
      // q10: co-bucketed fact join; the only shuffle is the per-customer
      // rollup of the filtered+joined slice
      ("q10", RelationalOps.topReturnedCustomers(spark, sf0001), 1),
      // q5 shape: co-bucketed fact join; customer join + nation rollup may
      // each exchange the post-join slice
      ("rbn", RelationalOps.revenueByNation(spark, sf0001), 2),
      // q7: co-bucketed fact join; custkey join + nation-pair rollup remain
      ("q7", RelationalOps.nationTradeVolume(spark, sf0001), 2),
      // q2/q11/q20 ride the PARTKEY-bucketed lineitem: the part rollup is
      // exchange-free; what remains is output ordering (q2) / the 1-row
      // total broadcast + ordering (q11) / supplier rollup + ordering (q20)
      ("q2", RelationalOps.minCostSupplier(spark, sf0001), 1),
      ("q11", RelationalOps.importantParts(spark, sf0001), 2),
      ("q20", RelationalOps.dominantSuppliers(spark, sf0001), 2))) {
      df.collect()
      val plan = df.queryExecution.executedPlan
      assert(plan.toString.contains("graft_bk_lineitem"),
        s"$name is not reading the bucketed lineitem:\n$plan")
      assert(countShuffles(plan) <= maxShuffles,
        s"$name expected ≤$maxShuffles shuffles:\n$plan")
    }
  }

  test("layout fallback is plan-neutral: q21 drops the merge hint, matches bucketed rows") {
    // a distinct dir key (symlink) isolates the cached failure from the
    // bucketed entries other tests rely on; the bad bucket conf makes the
    // layout build throw before touching any data
    val link = java.nio.file.Files.createSymbolicLink(
      Files.createTempDirectory("graft-fb").resolve("sf"),
      java.nio.file.Paths.get(sf0001))
    // bucketed-path truth FIRST (also pre-populates the sf0001 cache so the
    // bad conf below can never poison it for later suites)
    val good = graft.operators.RelationalOps.soleLateSuppliers(spark, sf0001)
      .collect()
    spark.conf.set("spark.graft.factBuckets", "not-a-number")
    try {
      val fb = graft.operators.RelationalOps.soleLateSuppliers(spark, link.toString)
      val rows = fb.collect()
      val plan = fb.queryExecution.executedPlan.toString
      // r11's bug: the fallback scan kept the forced merge hint and paid
      // full exchanges+sorts every run — the plan must not read the
      // layout, and must match the bucketed path row-for-row
      assert(!plan.contains("graft_bk"), s"fallback still reads the layout:\n$plan")
      assert(rows.map(_.toSeq).toSeq === good.map(_.toSeq).toSeq)
      // and the attempt is attributable from the report (bench sidecar) —
      // keyed by dataset dir too, so the sf0001 record is NOT overwritten
      // by the symlinked dir's failure (ADVICE r12 attribution fix)
      val rep = FactLayout.report(spark)
      assert(rep.get(s"lineitem:l_orderkey@$link").exists(_.startsWith("fallback:")),
        s"fallback not recorded: $rep")
      assert(rep.get(s"lineitem:l_orderkey@$sf0001")
          .exists(v => v.startsWith("built:") || v.startsWith("reused:")),
        s"the good dir's record must survive the other dir's fallback: $rep")
    } finally spark.conf.unset("spark.graft.factBuckets")
  }

  test("layout fingerprint digests content; adoption validates; superseded dirs swept (ADVICE r12)") {
    // fingerprint: deterministic, and sensitive to a content change that
    // PRESERVES mtime+size (cp -p / in-place regeneration — the r12
    // silent-stale-adoption vector)
    val tmp = Files.createTempDirectory("graft-fp")
    val f = tmp.resolve("lineitem.parquet").toFile
    val bytes = Array.tabulate[Byte](200000)(i => (i % 251).toByte)
    java.nio.file.Files.write(f.toPath, bytes)
    val mt = f.lastModified
    val fp1 = FactLayout.fingerprintOf(tmp.toString, "lineitem", "l_orderkey", 32, f)
    assert(fp1 === FactLayout.fingerprintOf(tmp.toString, "lineitem", "l_orderkey", 32, f))
    bytes(bytes.length - 1) = (bytes(bytes.length - 1) ^ 1).toByte
    java.nio.file.Files.write(f.toPath, bytes)
    assert(f.setLastModified(mt))
    val fp2 = FactLayout.fingerprintOf(tmp.toString, "lineitem", "l_orderkey", 32, f)
    assert(fp2 !== fp1,
      "content change with preserved mtime+size must change the fingerprint")
    // the FULL key is digested — dir, bucket key, bucket count all separate
    assert(FactLayout.fingerprintOf(tmp.toString + "x", "lineitem", "l_orderkey", 32, f) !== fp2)
    assert(FactLayout.fingerprintOf(tmp.toString, "lineitem", "l_partkey", 32, f) !== fp2)
    assert(FactLayout.fingerprintOf(tmp.toString, "lineitem", "l_orderkey", 64, f) !== fp2)

    // NESTED sources are content-stamped (ADVICE r13): regenerating a file
    // inside a partition subdirectory — same size, same mtime — must flip
    // the fingerprint of the DIRECTORY source
    val part = Files.createTempDirectory("graft-fp-nested")
    val sub = part.resolve("date=2024-01-01"); Files.createDirectories(sub)
    val nestedF = sub.resolve("part-0.parquet").toFile
    val nb = Array.tabulate[Byte](1000)(i => (i % 127).toByte)
    java.nio.file.Files.write(nestedF.toPath, nb)
    val nmt = nestedF.lastModified
    val nfp1 = FactLayout.fingerprintOf(part.toString, "lineitem", "l_orderkey", 32, part.toFile)
    nb(0) = (nb(0) ^ 1).toByte
    java.nio.file.Files.write(nestedF.toPath, nb)
    assert(nestedF.setLastModified(nmt))
    val nfp2 = FactLayout.fingerprintOf(part.toString, "lineitem", "l_orderkey", 32, part.toFile)
    assert(nfp2 !== nfp1,
      "nested-file content change (size+mtime preserved) must change the fingerprint")

    // sweep: superseded completed dirs for the same (table,key,buckets,
    // dataset dir) are deleted; the current dir, in-flight .tmp builds,
    // other projections' dirs, AND other datasets' dirs (ADVICE r13: the
    // dirHash segment scopes the sweep — sf1's build must not delete the
    // still-valid sf0.1 layout) survive
    val lay = Files.createTempDirectory("graft-sweep").toFile
    def mk(n: String) = { val x = new java.io.File(lay, n); assert(x.mkdirs()); x }
    val dh = FactLayout.dirHashOf(tmp.toString)
    val dhOther = FactLayout.dirHashOf(tmp.toString + "x")
    assert(dh !== dhOther, "distinct dataset dirs must hash distinctly")
    val cur = mk(s"lineitem_l_orderkey_32_${dh}_aaaa")
    val old1 = mk(s"lineitem_l_orderkey_32_${dh}_bbbb")
    val inflight = mk(s"lineitem_l_orderkey_32_${dh}_cccc.tmp123")
    val other = mk(s"lineitem_l_partkey_32_${dh}_dddd")
    val otherDataset = mk(s"lineitem_l_orderkey_32_${dhOther}_eeee")
    FactLayout.sweepSuperseded(cur)
    assert(cur.isDirectory && inflight.isDirectory && other.isDirectory)
    assert(otherDataset.isDirectory,
      "another dataset's layout dir must survive this dataset's sweep")
    assert(!old1.exists, "superseded layout dir must be deleted")

    // adoption gate: wrong row count and wrong schema both fail loudly
    val short = Files.createTempDirectory("graft-adopt-short").toString
    graft.Tables(spark, sf0001, "lineitem").limit(5)
      .write.mode("overwrite").parquet(short)
    val re = intercept[IllegalArgumentException] {
      FactLayout.validateAdoption(spark, sf0001, "lineitem",
        new java.io.File(short))
    }
    assert(re.getMessage.contains("rows"), re.getMessage)
    val wrong = Files.createTempDirectory("graft-adopt-schema").toString
    graft.Tables(spark, sf0001, "orders")
      .write.mode("overwrite").parquet(wrong)
    val se = intercept[IllegalArgumentException] {
      FactLayout.validateAdoption(spark, sf0001, "lineitem",
        new java.io.File(wrong))
    }
    assert(se.getMessage.contains("schema"), se.getMessage)
    // and a faithful copy passes
    val ok = Files.createTempDirectory("graft-adopt-ok").toString
    graft.Tables(spark, sf0001, "lineitem")
      .write.mode("overwrite").parquet(ok)
    FactLayout.validateAdoption(spark, sf0001, "lineitem", new java.io.File(ok))
  }

  // ---- plan-regression locks: the good plans of r1/r2 must stay good ------

  private def countShuffles(p: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    p match {
      case a: AdaptiveSparkPlanExec => countShuffles(a.executedPlan)
      case q: QueryStageExec => countShuffles(q.plan)
      case s: ShuffleExchangeLike => 1 + s.children.map(countShuffles).sum
      case o => o.children.map(countShuffles).sum
    }
  }

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.count() // materialize so AQE finalizes its runtime plan
    df.queryExecution.executedPlan.toString
  }

  test("revenueByNation: dims broadcast, no cartesian product in the plan") {
    val plan = executedPlan(
      graft.operators.RelationalOps.revenueByNation(spark, sf0001))
    assert(!plan.contains("CartesianProduct"), s"cartesian appeared:\n$plan")
    // nation and region ride broadcast joins (explicitly hinted); AQE may
    // also broadcast customer/orders at this SF, so assert at least the 2
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"expected nation+region broadcast joins:\n$plan")
  }

  test("readRange pushes the ts_nano range predicate into the parquet scan") {
    import graft.operators.LogOps
    val df = LogOps.readRange(graft.Tables.events(spark, sf0001),
      "user_id", "event_id", "ts_nano",
      LogOps.normalize(Some(7L), Some("2024-01-05T00:00:00Z"),
        Some("2024-01-25T00:00:00Z"), tail = 0, follow = false))
    // inspect the formatted plan (AQE wraps the scan node, so matching the
    // rendered PushedFilters is the stable way to see what reached parquet)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the fixture stores the nano column as raw `ts` (Tables aliases it to
    // ts_nano), so the pushed filter names the file column
    assert(plan.contains("GreaterThanOrEqual(ts,") &&
           plan.contains("LessThanOrEqual(ts,") &&
           plan.contains("EqualTo(user_id,7)"),
      s"ts_nano range / container key not pushed:\n$plan")
  }

  test("buyerCohorts plans exactly one hash-partitioning exchange") {
    val plan = executedPlan(
      graft.operators.RelationalOps.buyerCohorts(spark, sf0001))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges === 1,
      s"expected 1 aggregation shuffle, got $hashExchanges:\n$plan")
  }

  test("curate: single scan, one fingerprint shuffle, no cartesian") {
    val plan = executedPlan(graft.operators.CurationOps.curate(spark, sf0001))
    assert(!plan.contains("CartesianProduct"), s"cartesian appeared:\n$plan")
    // all signals come out of one pass over documents; since r5 the
    // canonical id is a window min over fp, so the ONLY hash shuffle is the
    // fp partitioning (the final orderBy is a range exchange, not hash)
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges === 1,
      s"curation is ONE fingerprint shuffle, got $hashExchanges:\n$plan")
  }

  test("ivfKmeansTopK probe: no join, no shuffle before the top-k") {
    val df = graft.operators.VectorOps.ivfKmeansTopK(spark, sf0001)
    val plan = executedPlan(df)
    // assignment + cell filter are a codegen'd map pass over one scan; the
    // centroid matrix rides the expression, so nothing joins or shuffles —
    // TakeOrderedAndProject handles the top-k without a global sort
    assert(!plan.contains("Join"), s"probe must not join:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"probe must not hash-shuffle:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrderedAndProject:\n$plan")
  }

  test("cosineTopK stays a broadcast + TakeOrderedAndProject plan") {
    val plan = executedPlan(graft.operators.VectorOps.cosineTopK(spark, sf0001))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"1-row query vector must broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrderedAndProject:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian appeared:\n$plan")
  }

  // ---- r5 locks: the per-row prep operators must never re-grow a shuffle --

  test("repetitionStats: zero hash exchanges (per-row statistic stays per-row)") {
    val plan = executedPlan(
      graft.operators.TrainPrepOps.repetitionStats(spark, sf0001))
    // the r4 defect: explode → groupBy(doc,bigram) → groupBy(doc) shuffled
    // the tokenized corpus for row-local scalars. bigram_stats keeps the
    // whole computation in the scan stage; the only exchange allowed is the
    // rangepartitioning for the oracle's deterministic ORDER BY
    assert(!plan.contains("Exchange hashpartitioning"),
      s"per-document stats must not hash-shuffle:\n$plan")
    assert(!plan.contains("Generate"), s"no explode allowed:\n$plan")
  }

  test("piiRedact: regex passes run once per distinct text (contracted)") {
    // r11: the dir form runs the redaction on CANONICAL texts and expands
    // member-wise, so the (expensive) regexes must appear exactly once in
    // the plan — under the canonical branch, not replicated per member —
    // while the raw Of form stays the zero-shuffle map-only kernel.
    val plan = executedPlan(graft.operators.TrainPrepOps.piiRedact(spark, sf0001))
    assert("regexp_replace".r.findAllIn(plan).size ===
      "regexp_replace".r.findAllIn(
        executedPlan(graft.operators.TrainPrepOps.piiRedactOf(
          graft.Tables.documents(spark, sf0001)))).size,
      s"regex work multiplied by the expansion:\n$plan")
    val ofPlan = executedPlan(graft.operators.TrainPrepOps.piiRedactOf(
      graft.Tables.documents(spark, sf0001)))
    assert(!ofPlan.contains("Exchange hashpartitioning"),
      s"per-row redaction kernel must not hash-shuffle:\n$ofPlan")
    assert(!ofPlan.contains("Join"), s"redaction kernel reads one table:\n$ofPlan")
  }

  test("sessions: native session aggregation, one hash exchange, no per-event window pass") {
    val plan = executedPlan(
      graft.operators.TimeSeriesOps.sessions(spark, sf0001))
    // session assignment must be fused into the aggregation (MergingSessions /
    // UpdatingSessions), not a lag+running-sum double window over raw events
    assert(plan.contains("Sessions"), s"native session agg vanished:\n$plan")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges === 1,
      s"sessionization is ONE user_id shuffle, got $hashExchanges:\n$plan")
    // the session-numbering window must ride the aggregated output (it
    // reuses the user_id partitioning — an extra exchange means it slipped
    // back to per-event data)
  }

  test("slidingActivity: aggregates per slide quantum BEFORE any row expansion") {
    val df = graft.operators.TimeSeriesOps.slidingActivity(spark, sf0001)
    val plan = executedPlan(df)
    assert(!plan.contains("Expand"), s"event-table expansion reappeared:\n$plan")
    // the explode must sit ABOVE the first aggregate: scan → partial agg →
    // exchange → Generate(2 rows per hourly partial) → final agg
    val generateIdx = plan.indexOf("Generate")
    val firstAggIdx = plan.lastIndexOf("HashAggregate")
    assert(generateIdx >= 0 && firstAggIdx > generateIdx,
      s"explode must consume hourly partials, not raw events:\n$plan")
  }

  test("packSequences: size gate picks one window small, (source, bk) prefix sum big") {
    // small input (default gate): the single shard-key window, no join
    val small = executedPlan(
      graft.operators.TrainPrepOps.packSequences(spark, sf0001))
    assert(!small.contains("Join"),
      s"small inputs must take the one-window form:\n$small")
    // forced big path: corpus shuffles keyed by (source, bk) — the
    // bare-source window streamed each shard through ONE reducer (5
    // sources = 5 tasks at any cluster size) — with grid-sized bucket
    // bases broadcast back
    val big = executedPlan(graft.operators.TrainPrepOps
      .packSequences(spark, sf0001, twoPhaseMinBytes = 0L))
    assert("hashpartitioning\\(source[^)]*, bk".r.findFirstIn(big).nonEmpty,
      s"corpus shuffles must be keyed by (source, bk):\n$big")
    assert(big.contains("BroadcastHashJoin"),
      s"bucket bases must ride a broadcast:\n$big")
  }

  test("pqEncode: pure per-row arithmetic — zero hash exchanges, no join") {
    val plan = executedPlan(graft.operators.VectorOps.pqEncode(spark, sf0001))
    assert(!plan.contains("Exchange hashpartitioning"),
      s"PQ encode must not shuffle:\n$plan")
    assert(!plan.contains("Join"), s"PQ encode reads one table:\n$plan")
  }

  test("pqTopK stays a broadcast + TakeOrderedAndProject plan") {
    val plan = executedPlan(graft.operators.VectorOps.pqTopK(spark, sf0001))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"1-row query codes must broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrderedAndProject:\n$plan")
  }

  test("blockDuplicates: fingerprint window + doc rollup, no join, no text in shuffle") {
    val plan = executedPlan(
      graft.operators.DedupOps.blockDuplicates(spark, sf0001))
    assert(!plan.contains("Join"), s"block dedup must not join:\n$plan")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges <= 2,
      s"block dedup is fp-window + doc-rollup, got $hashExchanges:\n$plan")
  }

  test("decontaminate: marker join on eval keys, no cartesian, un-hinted") {
    // r14 shape: the semi-join + separate totals rollup fused into ONE
    // LEFT OUTER marker join against the DISTINCT eval key set (no
    // fanout), so both counts come from one aggregate. The lock keeps the
    // two load-bearing properties: no cartesian, and AQE still picks a
    // hash join for the benchmark-sized key set without a hint.
    // (decontaminate's warm path reads the session-memoized taint leaf;
    // lock the un-memoized builder so the REAL join shape is asserted.)
    val plan = executedPlan(
      graft.operators.TrainPrepOps.taintTableOf(spark, sf0001))
    assert(!plan.contains("CartesianProduct"), s"cartesian appeared:\n$plan")
    assert(plan.contains("LeftOuter") && plan.contains("HashJoin"),
      s"eval-key marker join vanished:\n$plan")
  }

  // ---- corpus-audit pack locks --------------------------------------------

  test("splitLeakage joins on the fingerprint only — no text, no cartesian") {
    val plan = executedPlan(
      graft.operators.TrainPrepOps.splitLeakage(spark, sf0001))
    assert(!plan.contains("CartesianProduct"), s"cartesian appeared:\n$plan")
    // the self-join key is the 32-byte fp; document text must never be a
    // join/shuffle attribute (it is consumed by md5 inside the scan stage)
    assert("Exchange hashpartitioning\\(text".r.findFirstIn(plan).isEmpty &&
      !plan.contains("SortMergeJoin [text"),
      s"text crossed an exchange:\n$plan")
  }

  test("dedupImpact: two constant-size-key rollups, no join") {
    val plan = executedPlan(graft.operators.DedupOps.dedupImpact(spark, sf0001))
    assert(!plan.contains("Join"), s"histogram must not join:\n$plan")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges <= 2,
      s"fp rollup + size rollup, got $hashExchanges:\n$plan")
  }

  test("mixtureWeights: source rollup + 1-row broadcast, no shuffle of docs") {
    val plan = executedPlan(
      graft.operators.TrainPrepOps.mixtureWeights(spark, sf0001))
    assert(!plan.contains("CartesianProduct"), s"cartesian appeared:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"totals must ride a broadcast:\n$plan")
  }

  test("tokenBudget: one shard-key window shuffle, nothing else") {
    val plan = executedPlan(
      graft.operators.TrainPrepOps.tokenBudget(spark, sf0001))
    assert(!plan.contains("Join"), s"selection reads one table:\n$plan")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges === 1,
      s"expected only the source-window shuffle, got $hashExchanges:\n$plan")
  }

  test("lengthProfile: single source rollup, percentiles inside the aggregate") {
    val plan = executedPlan(graft.operators.TextOps.lengthProfile(spark, sf0001))
    assert(!plan.contains("Join"), s"profile reads one table:\n$plan")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges === 1,
      s"expected one source rollup shuffle, got $hashExchanges:\n$plan")
  }

  test("bm25TopK: stats inlined as literals, scoring scan is join- and shuffle-free") {
    val plan = executedPlan(graft.operators.RetrievalOps.bm25TopK(spark, sf0001))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrderedAndProject:\n$plan")
    // r10: the 1-row stats aggregate is collected and inlined as literals
    // (the prfTopK contract) — the scoring plan must carry NO join at all
    // (the old broadcast form re-ran the stats corpus pass per consumer)
    assert(!plan.contains("Join"), s"stats must be literals, not a join:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"scoring scan must not hash-shuffle:\n$plan")
    assert(!plan.contains("Generate"), s"tf must not explode tokens:\n$plan")
  }

  test("prfTopK round 2: df rides the literal term grid — no window, one doc rollup") {
    val plan = executedPlan(graft.operators.RetrievalOps.prfTopK(spark, sf0001))
    // a per-term count() window would funnel the matched stream through
    // ≤|qterms| reducers; a df rollup + join would re-run the corpus pass
    assert(!plan.contains("Window"), s"no per-term window allowed:\n$plan")
    val hashExchanges =
      "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges <= 1,
      s"round 2 must shuffle only the per-doc rollup, got $hashExchanges:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrderedAndProject:\n$plan")
  }

  test("funnel: one user_id shuffle; the walk adds no join") {
    val plan = executedPlan(graft.operators.EventAnalyticsOps.funnel(spark, sf0001))
    assert(!plan.contains("Join"), s"greedy walk must not join:\n$plan")
    val userExchanges = "Exchange hashpartitioning\\(user_id".r.findAllIn(plan).size
    assert(userExchanges === 1,
      s"expected exactly one user_id shuffle, got $userExchanges:\n$plan")
  }

  test("semanticDedup: candidates join inside cells, never a cartesian") {
    val plan = executedPlan(graft.operators.VectorOps.semanticDedup(spark, sf0001))
    assert(!plan.contains("CartesianProduct"), s"cartesian appeared:\n$plan")
    assert(plan.contains("cell"), s"cell key vanished from the plan:\n$plan")
  }

  test("nearDupPairsLsh: the within-cell self-join reuses the cellEmb leaf's partitioning") {
    // broadcast off: a sort-merge join is the one that needs the layout
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val threshold0 = spark.conf.get(threshold)
    spark.conf.set(threshold, "-1")
    try {
      val plan = executedPlan(graft.operators.VectorOps.nearDupPairsLsh(spark, sf0001))
      assert("SortMergeJoin \\[cell".r.findFirstIn(plan).isDefined,
        s"expected the within-cell sort-merge join:\n$plan")
      assert(plan.contains("Scan ExistingRDD"), s"expected the checkpointed cellEmb leaf:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning(cell"),
        s"the leaf's cell partitioning must satisfy the join:\n$plan")
    } finally spark.conf.set(threshold, threshold0)
  }

  test("weightedSample: two-phase top-k agg — no window, no full-slice sort") {
    val plan = executedPlan(graft.operators.TrainPrepOps.weightedSample(spark, sf0001))
    assert(!plan.contains("Join"), s"sampling reads one table:\n$plan")
    // the r5 skew-killer: a rank window partitioned by bounded-cardinality
    // `source` sorts each shard's whole slice on one reducer; the TopKAgg
    // form must show a partial/final aggregate pair and NO Window exec
    assert(!plan.contains("Window"), s"rank window is the skew shape:\n$plan")
    assert(plan.contains("partial_topk") || plan.contains("ObjectHashAggregate")
      || plan.contains("SortAggregate"),
      s"expected an aggregate-based top-k:\n$plan")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges === 1,
      s"expected one source-keyed agg shuffle, got $hashExchanges:\n$plan")
  }

  test("stratifiedSample + labelOutliers: no rank window over a bounded-cardinality key") {
    for ((name, df) <- Seq(
        "stratifiedSample" -> graft.operators.TrainPrepOps.stratifiedSample(spark, sf0001),
        "labelOutliers" -> graft.operators.VectorOps.labelOutliers(spark, sf0001))) {
      val plan = executedPlan(df)
      assert(!plan.contains("Window"),
        s"$name: rank window over a bounded key is the r5 skew shape:\n$plan")
    }
  }

  test("qualityTiers: no ntile window; ranks come from range buckets + offsets") {
    val plan = executedPlan(graft.operators.TrainPrepOps.qualityTiers(spark, sf0001))
    assert(!plan.contains("ntile"),
      s"ntile over Window.partitionBy(source) is the r5 skew shape:\n$plan")
    // the remaining windows run over (source, bkt) — bucketed slices — or
    // over the tiny counts table; the raw corpus never sorts per-source
    assert(plan.contains("bkt"), s"range-bucket key vanished:\n$plan")
  }

  test("mergeChanges: union + one keyed window, no broadcast requirement") {
    val plan = executedPlan(graft.operators.TrainPrepOps.mergeChanges(spark, sf0001))
    assert(plan.contains("Union"), s"the MERGE shape is a union:\n$plan")
    assert(!plan.contains("Join"), s"the union form must not join:\n$plan")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges === 1,
      s"expected one doc_id window shuffle, got $hashExchanges:\n$plan")
  }

  test("bigramLm: in-row bigram generation, no join") {
    val plan = executedPlan(graft.operators.RetrievalOps.bigramLm(spark, sf0001))
    assert(!plan.contains("Join"), s"bigrams zip in-row, no join:\n$plan")
  }

  test("bigramLogProb: LM broadcasts; the scoring token stream never hash-shuffles") {
    val df = graft.operators.RetrievalOps.bigramLogProb(spark, sf0001)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"LM must broadcast:\n$plan")
    // exchanges belong to the LM build (w1 window + its rollup) and the
    // per-doc rollup — the scoring side's exploded bigrams must meet the
    // join without repartitioning, i.e. no SortMergeJoin anywhere
    assert(!plan.contains("SortMergeJoin"),
      s"scoring stream must not shuffle into the join:\n$plan")
  }

  test("profile: two scans (stats + distinct), no Expand, broadcast-only join") {
    val plan = executedPlan(graft.operators.RelationalOps.profileOrders(spark, sf0001))
    // the countDistinct-in-one-agg spelling planned an Expand ×(cols+1)
    // whose first phase SORTED 7× the table on 7-column keys — the plan
    // must stay Expand-free, with n_distinct from the unpivot+hash-
    // distinct pass and the |cols|-row rollup joined by broadcast only
    assert(!plan.contains("Expand"), s"no multi-distinct Expand:\n$plan")
    assert(!plan.contains("Window"), s"profiler is pure aggregation:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"only the broadcast rollup join is allowed:\n$plan")
    assert("Scan parquet".r.findAllIn(plan).size === 2,
      s"profiler must scan orders exactly twice (stats + distinct):\n$plan")
  }

  test("rfmSegments: boundaries are literals over the cut rollup; no window, no join") {
    val plan = executedPlan(graft.operators.RelationalOps.rfmSegments(spark, sf0001))
    // the ntile formulation would put every customer in one partition via
    // Exchange SinglePartition + Window; the boundary form must not
    assert(!plan.contains("Window"), s"no ntile window allowed:\n$plan")
    // r10: ref date + 12 quantile fences are COLLECTED into literals (the
    // broadcast form re-ran the orders rollup subtree per broadcast); the
    // scoring pass is a join-free scan of the checkpointed rollup
    assert(!plan.contains("Join"), s"fences must be literals, not joins:\n$plan")
    assert(plan.contains("Scan ExistingRDD"),
      s"scoring must read the cut per-customer rollup leaf:\n$plan")
  }

  test("largeVolumeCustomers: fact rolls up before any join; top-k not a sort") {
    val plan = executedPlan(
      graft.operators.RelationalOps.largeVolumeCustomers(spark, sf0001))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-100 must be a value-ordered limit:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
    // r12: the lineitem rollup now rides the bucketed orderkey layout —
    // ZERO hash exchanges (the rollup was the plan's one shuffle in r10)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 0,
      s"the bucketed layout should leave no hash exchange:\n$plan")
  }

  test("lastTouchAttribution: the user window is the only corpus shuffle") {
    val plan = executedPlan(
      graft.operators.EventAnalyticsOps.lastTouchAttribution(spark, sf0001))
    // user_id window + |types|-bounded channel rollup — nothing else
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2,
      s"expected window + channel rollup only:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"normalizer must broadcast:\n$plan")
  }

  test("activityConcentration: totals reuse the histogram stage at runtime") {
    // the totals branch and the cumulative branch share the hist subtree;
    // AQE must REUSE the materialized histogram exchange, not re-derive it
    // from a second corpus scan — assert on the final adaptive plan
    // (collect() executes THIS df's plan; count() would plan a new one)
    val df = graft.operators.EventAnalyticsOps.activityConcentration(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"), s"plan not finalized:\n$plan")
    assert(plan.contains("ReusedExchange"),
      s"histogram must be computed once and reused:\n$plan")
  }

  test("tfidfSimilarPairs: hash-keyed postings join, no cartesian") {
    val plan = executedPlan(
      graft.operators.RetrievalOps.tfidfSimilarPairs(spark, sf0001))
    // the 1-row corpus-size broadcast is a BroadcastNestedLoopJoin — fine;
    // a non-broadcast CartesianProduct would mean the pair stage lost its key
    assert(!plan.contains("CartesianProduct"),
      s"pair stage must join on term_h:\n$plan")
  }

  test("q5 regionalSupplierVolume: region prune rides broadcasts, no cartesian") {
    val plan = executedPlan(
      graft.operators.RelationalOps.regionalSupplierVolume(spark, sf0001))
    assert(!plan.contains("CartesianProduct"), s"cartesian appeared:\n$plan")
    // supplier+nation+region collapse to one broadcast onto lineitem; AQE
    // may broadcast more — assert at least that one exists
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 1,
      s"expected the pre-filtered supplier broadcast:\n$plan")
  }

  test("q9 productFamilyProfit: broadcasts only — exactly one rollup exchange") {
    val plan = executedPlan(
      graft.operators.RelationalOps.productFamilyProfit(spark, sf0001))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges === 1,
      s"fact table must cross only the (nation, year) rollup, got $hashExchanges:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"dims must broadcast, not shuffle:\n$plan")
  }

  test("q15 topSupplierByRevenue: global max via broadcast, no window pass") {
    val df = graft.operators.RelationalOps.topSupplierByRevenue(spark, sf0001)
    val plan = executedPlan(df)
    assert(!plan.contains("Window"),
      s"the max must not be a single-partition window:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian appeared:\n$plan")
  }

  test("q4 latePriorityOrders: lineitem max-rollup before the join, no semi") {
    // r10 rewrite: EXISTS(l_shipdate > bound) ⟺ per-order max(l_shipdate)
    // clears the bound — the fact side must be AGGREGATED before any join
    // (the one relational ratio that did not shrink sf1→sf10 under the
    // semi-join spelling, PERF_r10 §4)
    val plan = executedPlan(
      graft.operators.RelationalOps.latePriorityOrders(spark, sf0001))
    assert(!plan.contains("LeftSemi") && !plan.contains("CartesianProduct"),
      s"expected pre-aggregated inner join, not a semi/cartesian:\n$plan")
    assert(plan.contains("max(l_shipdate"),
      s"lineitem must roll up to per-order max(l_shipdate) pre-join:\n$plan")
    // partial+final max rollup, partial+final priority rollup = 4 aggregates
    assert("HashAggregate".r.findAllIn(plan).size <= 4,
      s"unexpected extra aggregates (post-join dedup?):\n$plan")
  }

  test("sourceBudgetCurve: windows run over the aggregated grid, not the corpus") {
    val df = graft.operators.TrainPrepOps.sourceBudgetCurve(spark, sf0001)
    val plan = executedPlan(df)
    // exchange 1: the (source, qbucket) rollup; exchange 2: repartition of
    // the ≤|sources|×10 grid for the per-source windows — nothing else
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges === 2,
      s"expected rollup + grid-window exchanges only, got $hashExchanges:\n$plan")
  }

  test("knnEval: anchors ride a broadcast, no cartesian, no rank window") {
    val plan = executedPlan(graft.operators.VectorOps.knnEval(spark, sf0001))
    assert(!plan.contains("CartesianProduct"), s"cartesian appeared:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"anchor set should broadcast:\n$plan")
    assert(!plan.contains("Window"),
      s"neighbor selection must be the bounded TopKAgg, not a window:\n$plan")
  }

  test("nearestNeighbors: arg-max rollup — no rank window, no cartesian") {
    val plan = executedPlan(
      graft.operators.DedupOps.nearestNeighbors(spark, sf0001))
    assert(!plan.contains("CartesianProduct"), s"cartesian appeared:\n$plan")
    assert(!plan.contains("Window"),
      s"per-doc best must be max(struct), not a rank window:\n$plan")
  }

  test("datasetCard: two corpus scans, totals ride the grid window") {
    val plan = executedPlan(
      graft.operators.TrainPrepOps.datasetCard(spark, sf0001))
    assert(!plan.contains("CartesianProduct"), s"cartesian appeared:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).size
    // pass 1: cell-grid rollup (+ per-source re-agg + grid window);
    // pass 2: distinct-fingerprint count. A third scan means the corpus
    // totals forked the tree again (the bug this shape exists to avoid).
    assert(scans === 2, s"expected exactly 2 corpus scans, got $scans:\n$plan")
    val windows = "Window".r.findAllIn(plan).size
    assert(windows === 1,
      s"corpus totals must be ONE unpartitioned grid window, got $windows:\n$plan")
  }

  test("packingCurve: one corpus scan into the length histogram, no window") {
    val plan = executedPlan(
      graft.operators.TrainPrepOps.packingCurve(spark, sf0001))
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans === 1, s"expected one corpus scan, got $scans:\n$plan")
    assert(!plan.contains("Window"), s"curve must be histogram math:\n$plan")
    // len-histogram rollup + ctx rollup; the explode sits between them
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges === 2,
      s"expected len + ctx rollup exchanges only, got $hashExchanges:\n$plan")
  }

  test("vocabGrowth: two text passes + pruned fence scans, grid-only window") {
    val df = graft.operators.TextOps.vocabGrowth(spark, sf0001)
    val plan = executedPlan(df)
    assert(!plan.contains("CartesianProduct"), s"cartesian appeared:\n$plan")
    // 2 corpus (text) passes + 2 fence branches pruned to doc_id only; a
    // 5th scan means a consumer forked a text pass
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans === 4, s"expected 4 scans (2 text + 2 doc_id-only), got $scans:\n$plan")
    val windows = "Window".r.findAllIn(plan).size
    assert(windows === 1,
      s"cumulatives must be ONE grid window, got $windows:\n$plan")
    // fence branches must prune to doc_id — no text column in their scans
    val fenceScans = "ReadSchema: struct<doc_id:bigint>".r.findAllIn(plan).size
    assert(fenceScans === 2,
      s"fence scans must read ONLY doc_id, got $fenceScans:\n$plan")
  }

  test("qualityDrift: one corpus scan, conditional sums — no half self-join") {
    val plan = executedPlan(
      graft.operators.TrainPrepOps.qualityDrift(spark, sf0001))
    assert(!plan.contains("CartesianProduct"), s"cartesian appeared:\n$plan")
    // 1 corpus scan + 1 doc_id-pruned bounds scan; a third means the
    // halves were joined instead of conditionally summed
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans === 2, s"expected corpus + bounds scans, got $scans:\n$plan")
    val sorts = "SortMergeJoin".r.findAllIn(plan).size
    assert(sorts === 0, s"no shuffled join belongs in this plan:\n$plan")
  }

  test("sloBurnRate: trailing window runs over the aggregated hourly grid") {
    val df = graft.operators.TimeSeriesOps.sloBurnRate(spark, sf0001)
    val plan = executedPlan(df)
    // one corpus rollup (hour key); the trailing-window sort sees only the
    // dense grid rows — assert the rollup count stays at 1 so a regression
    // that windows raw events (a second corpus exchange) fails here
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges === 1,
      s"expected the single hourly rollup exchange, got $hashExchanges:\n$plan")
  }

  test("dupSpans: hash-keyed seed join, df-cap applied, no cartesian, no text in the join") {
    // dupSpansOf bypasses the span-run memo: the cached table is a
    // checkpointed leaf, so the seed join is only visible uncached
    val df = graft.operators.DedupOps.dupSpansOf(
      graft.Tables.documents(spark, sf0001))
    val plan = executedPlan(df)
    assert(!plan.contains("CartesianProduct"), s"cartesian appeared:\n$plan")
    // the self-join must key on the 8-byte window hash `g`, never the
    // gram string — a `text`/`gram` attribute inside a join key means the
    // corpus is riding the shuffle
    val joinKeyed = "SortMergeJoin \\[g".r.findAllIn(plan).size +
      "BroadcastHashJoin \\[g".r.findAllIn(plan).size +
      "ShuffledHashJoin \\[g".r.findAllIn(plan).size
    assert(joinKeyed >= 1, s"seed join must be keyed on g:\n$plan")
    assert(!plan.contains("SortMergeJoin [text"),
      s"text must never be a join key:\n$plan")
  }

  test("dupSpanRewrite: interval merge windows only matched runs, not the corpus") {
    val df = graft.operators.DedupOps.dupSpanRewrite(spark, sf0001)
    val plan = executedPlan(df)
    assert(!plan.contains("CartesianProduct"), s"cartesian appeared:\n$plan")
    // the two Window passes (island grouping, interval merge) must sit
    // above the seed join — i.e. partitioned by pair/doc keys, never an
    // unpartitioned global window (the single-partition collapse WARN)
    assert(!plan.contains("Window [")
      || !"Window \\[[^\\]]*\\], \\[\\]".r.findFirstIn(plan).isDefined,
      s"unpartitioned window appeared:\n$plan")
  }

  test("termBurstiness: two aggregation shuffles, top-N stays TakeOrdered") {
    val plan = executedPlan(
      graft.operators.TextOps.termBurstiness(spark, sf0001))
    // (doc, term) tf rollup + term stats rollup — nothing else shuffles;
    // a third exchange would mean the token stream crossed the wire raw
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges === 2,
      s"expected 2 aggregation shuffles, got $hashExchanges:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-N must not be a global sort:\n$plan")
  }

  test("hybridNearDup: candidate-id semi join broadcasts (corpus embeddings never sort-merge)") {
    val plan = executedPlan(
      graft.operators.DedupOps.hybridNearDup(spark, sf0001))
    assert(!plan.contains("CartesianProduct"), s"cartesian appeared:\n$plan")
    // the left-semi prune of the embedding table must ride a broadcast of
    // the (tiny) candidate-id set; a sort-merge semi means the whole
    // corpus embedding table shuffled just to be filtered
    assert(!"SortMergeJoin [^\n]*LeftSemi".r.findFirstIn(plan).isDefined,
      s"embedding semi-prune fell back to sort-merge:\n$plan")
    assert("BroadcastHashJoin [^\n]*LeftSemi".r.findFirstIn(plan).isDefined,
      s"expected broadcast left-semi prune:\n$plan")
  }

  test("neardupTriangles: single summary row, no cartesian in the census") {
    val df = graft.operators.DedupOps.neardupTriangles(spark, sf0001)
    val plan = executedPlan(df)
    assert(!plan.contains("CartesianProduct"), s"cartesian appeared:\n$plan")
    assert(df.count() === 1L)
  }

  // --- sf1 clique-tail watch list (VERDICT r9 #8) -------------------------
  //
  // The four dedup queries dominating the sf1 bench tail are explained as a
  // FIXTURE property (gen_sf1's verbatim replication puts every doc in a
  // 10-clique, inflating pair mass superlinearly) — the constant-density
  // weak-scaling corpora show the same operators sublinear at ×100. These
  // locks pin the plan shapes that make that explanation valid, so a future
  // fixture regeneration that removes the clique stress cannot silently
  // mask a real plan regression (cartesian, text-keyed join, unbanded
  // candidate generation) behind the "fixture property" story.

  test("simhashPairs: chunk-banded candidate join, no cartesian, no text keys") {
    val plan = executedPlan(
      graft.operators.DedupOps.simhashPairs(spark, sf0001))
    assert(!plan.contains("CartesianProduct"), s"cartesian appeared:\n$plan")
    // candidate generation must key on the (chunk, ck) band columns — a
    // text/cks attribute in a join key means signatures or corpus text
    // ride the shuffle unbanded
    assert(
      "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[chunk".r
        .findFirstIn(plan).isDefined,
      s"candidate join must be banded on (chunk, ck):\n$plan")
    assert(!"Join \\[text".r.findFirstIn(plan).isDefined &&
      !plan.contains("SortMergeJoin [text"),
      s"text must never be a join key:\n$plan")
  }

  test("lshTuningCurve: ONE tagged band self-join covers all geometries") {
    val plan = executedPlan(
      graft.operators.DedupOps.lshTuningCurve(spark, sf0001))
    assert(!plan.contains("CartesianProduct"), s"cartesian appeared:\n$plan")
    // the three band geometries ride one (r, band, bucket)-keyed self-join;
    // three join branches (the r8 spelling) tripled the candidate shuffle.
    // Keyed-on-band identifies the candidate join (the curve's final
    // left join also keys on r alone — that one is |geometries|-sized)
    val bandJoins =
      "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[[^\\]\\n]*band".r
        .findAllIn(plan).size
    assert(bandJoins === 1,
      s"expected exactly 1 (r, band, bucket)-keyed join, got $bandJoins:\n$plan")
  }

  test("sketchCalibration: pair-table join on 8-byte ids, no cartesian, no text") {
    val plan = executedPlan(
      graft.operators.DedupOps.sketchCalibration(spark, sf0001))
    assert(!plan.contains("CartesianProduct"), s"cartesian appeared:\n$plan")
    assert(!plan.contains("SortMergeJoin [text") &&
      !"Join \\[text".r.findFirstIn(plan).isDefined,
      s"text must never be a join key:\n$plan")
    // est-vs-exact comparison joins the two PAIR tables on (a, b) — the
    // corpus itself must not appear on either side of that join
    assert(
      "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[a#".r
        .findFirstIn(plan).isDefined,
      s"calibration join must key on the (a, b) pair ids:\n$plan")
  }
}
