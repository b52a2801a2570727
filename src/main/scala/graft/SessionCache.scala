package graft

import org.apache.spark.sql.SparkSession

/** Small per-(session, key) memo for resolved DataFrames/plans/models.
  *
  * Two eviction paths keep the cache from retaining state it shouldn't
  * (ADVICE r8 — a long-lived session scanning many directories must not
  * accumulate unbounded persisted partitions):
  *
  *  - entries of STOPPED sessions are dropped on access (their executor
  *    state is already gone, so `onEvict` is NOT called for them — an
  *    `unpersist` against a stopped context would throw);
  *  - beyond `maxEntries`, the least-recently-used LIVE entry is evicted
  *    and `onEvict` runs (callers caching frames pass
  *    [[SessionCache.release]] so the executor blocks are actually freed —
  *    both plan-cache entries and checkpoint RDD blocks).
  *
  * The bound is per-cache, and every cached value here is model-sized or a
  * narrow no-text projection, so `maxEntries` copies is the deliberate
  * steady-state working set, not a leak.
  *
  * Builds run OUTSIDE the lock: since [[SessionCache.cut]] made memo
  * builders eager (a full Spark job materializes the frame), holding the
  * JVM-wide cache lock across the build would serialize unrelated
  * sessions/threads — and nested builds (pair stats → capped index →
  * shingle index) would hold several locks across jobs. A lost race means
  * two builds of the same value; the loser is released via `onEvict`.
  */
private[graft] final class SessionCache[V](
    maxEntries: Int = 64,
    onEvict: V => Unit = (_: V) => ()) {

  // access-order LinkedHashMap = LRU
  private val cache =
    new java.util.LinkedHashMap[(SparkSession, String), V](16, 0.75f, true)

  def getOrElseUpdate(spark: SparkSession, key: String)(build: (SparkSession, String) => V): V = {
    val k = (spark, key)
    val hit = cache.synchronized {
      val it = cache.entrySet().iterator()
      while (it.hasNext) if (it.next().getKey._1.sparkContext.isStopped) it.remove()
      Option(cache.get(k))
    }
    hit.getOrElse {
      val v = build(spark, key) // eager materialization — never under the lock
      val (winner, evicted) = cache.synchronized {
        val raced = cache.get(k)
        if (raced != null) (raced, List(v)) // lost the race: release ours
        else {
          cache.put(k, v)
          val out = scala.collection.mutable.ListBuffer.empty[V]
          while (cache.size > maxEntries) {
            val eldest = cache.entrySet().iterator().next()
            cache.remove(eldest.getKey)
            out += eldest.getValue
          }
          (v, out.toList)
        }
      }
      evicted.foreach(e =>
        try onEvict(e) catch { case scala.util.control.NonFatal(_) => () })
      winner
    }
  }

  /** Visible for tests. */
  private[graft] def size: Int = cache.synchronized(cache.size)
}

private[graft] object SessionCache {
  /** Materialize a memoized frame AND cut its lineage (eager
    * localCheckpoint): a plain `.persist()` keeps the full logical tree,
    * and every downstream ACTION re-analyzes + re-canonicalizes it to
    * find the cache hit — measured 0.5 s of driver CPU per action on a
    * 477-row cached cluster assignment whose lineage spanned 8 label-
    * propagation generations. Checkpointing keeps the data distributed
    * (no collect) and hands consumers a leaf plan. The data is cached by
    * the checkpoint itself (MEMORY_AND_DISK); evict with [[release]] —
    * `Dataset.unpersist` alone only consults the SQL CacheManager and
    * would strand the checkpoint's RDD blocks until a JVM GC.
    */
  def cut(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.localCheckpoint(true)

  /** [[cut]] for a `repartition(n, key)[.sortWithinPartitions(key)]` leaf
    * feeding key-equal self-joins: the leaf keeps the partitioning and
    * order its rows were computed in, so consumers join it with no
    * Exchange. Under AQE a checkpoint's leaf reads the partitioning of the
    * root AdaptiveSparkPlanExec, `UnknownPartitioning(0)`, and every
    * consumer re-shuffles rows that already sit partitioned on the key;
    * once the checkpoint has run, the final plan states the real layout.
    * The partition count must be explicit, or AQE coalesces the exchange
    * to fewer partitions than cores.
    */
  def cutPartitioned(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.LogicalRDD
    val leaf = cut(df)
    (df.queryExecution.executedPlan, leaf.queryExecution.logical) match {
      case (a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec, r: LogicalRDD) =>
        val done = a.executedPlan
        org.apache.spark.sql.graft.ColumnBridge.ofPlan(df.sparkSession,
          LogicalRDD(r.output, r.rdd, done.outputPartitioning, done.outputOrdering)(
            df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
            Some(r.stats)))
      case _ => leaf
    }
  }

  /** Free a memoized frame's storage on eviction: the plan-cache entry
    * (persisted frames) AND, for [[cut]] frames, the checkpointed RDD's
    * blocks — the LogicalRDD leaf holds the only reference, and waiting
    * for ContextCleaner GC (30 min periodic default) is the unbounded-
    * storage window ADVICE r8 flagged. A consumer holding a frame past
    * its eviction would now fail loudly (checkpoint block lost) instead
    * of silently recomputing — acceptable: every operator re-fetches
    * from the memo per call, so only a use-after-evict bug can hit it.
    */
  def release(df: org.apache.spark.sql.DataFrame): Unit = {
    df.unpersist(false)
    df.queryExecution.logical.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(false)
      case _ => ()
    }
  }
}
