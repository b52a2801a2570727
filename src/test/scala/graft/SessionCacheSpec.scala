package graft

/** Bound + eviction contract of the shared memo (ADVICE r8: the unbounded
  * per-(session, dir) DataFrame caches would accumulate persisted partitions
  * forever in a long-lived many-directory session).
  */
class SessionCacheSpec extends SparkSpec {

  test("LRU bound: beyond maxEntries the least-recently-used entry is evicted") {
    val evicted = scala.collection.mutable.ListBuffer.empty[String]
    val c = new SessionCache[String](maxEntries = 2, onEvict = evicted += _)
    c.getOrElseUpdate(spark, "a")((_, _) => "va")
    c.getOrElseUpdate(spark, "b")((_, _) => "vb")
    // touch a so b becomes the LRU entry
    assert(c.getOrElseUpdate(spark, "a")((_, _) => fail("a must be cached")) == "va")
    c.getOrElseUpdate(spark, "c")((_, _) => "vc")
    assert(evicted.toList == List("vb"))
    assert(c.size == 2)
    // b rebuilds after eviction; a and c are still memoized
    var rebuilt = false
    c.getOrElseUpdate(spark, "b") { (_, _) => rebuilt = true; "vb2" }
    assert(rebuilt)
  }

  test("onEvict failures do not break the cache") {
    val c = new SessionCache[String](maxEntries = 1,
      onEvict = _ => throw new RuntimeException("boom"))
    c.getOrElseUpdate(spark, "a")((_, _) => "va")
    assert(c.getOrElseUpdate(spark, "b")((_, _) => "vb") == "vb")
    assert(c.size == 1)
  }

  test("cut: rows preserved, lineage truncated to a leaf plan") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val deep = (1 to 100).toDF("x")
      .groupBy((col("x") % 7).as("k")).agg(sum(col("x")).as("s"))
      .where(col("s") > 0)
    val cut = SessionCache.cut(deep)
    // same result...
    assert(cut.collect().map(r => (r.getInt(0), r.getLong(1))).toSet ===
      deep.collect().map(r => (r.getInt(0), r.getLong(1))).toSet)
    // ...but the plan is a leaf: no aggregate/scan lineage survives for
    // consumers to re-analyze (the round-9 per-action canonicalization tax)
    val plan = cut.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Aggregate"), s"lineage must be cut:\n$plan")
    assert(plan.contains("LogicalRDD") || plan.contains("ExistingRDD"),
      s"expected a checkpointed leaf:\n$plan")
  }

  test("cutPartitioned: a leaf joined on its key plans no Exchange, AQE on or off") {
    import org.apache.spark.sql.functions._
    val aqe = "spark.sql.adaptive.enabled"
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val (aqe0, threshold0) = (spark.conf.get(aqe), spark.conf.get(threshold))
    spark.conf.set(threshold, "-1") // a sort-merge join, which needs the layout
    try {
      val df = spark.range(20000).select((col("id") % 2000).as("k"), col("id").as("v"))
        .repartition(4, col("k")).sortWithinPartitions(col("k"))
      def selfJoin(leaf: org.apache.spark.sql.DataFrame) = leaf.as("a").join(leaf.as("b"), "k")
      for (flag <- Seq("true", "false")) {
        spark.conf.set(aqe, flag)
        val joined = selfJoin(SessionCache.cutPartitioned(df))
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"), s"AQE $flag:\n$plan")
        assert(joined.count() === 2000L * 10 * 10)
      }
    } finally {
      spark.conf.set(aqe, aqe0)
      spark.conf.set(threshold, threshold0)
    }
  }
}
