package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Registry for the cache BARRIERS operators plant against Catalyst
  * re-computation (CollapseProject re-tokenizing a corpus, a self-join
  * re-deriving signatures). The barrier must outlive the operator call —
  * the returned plan is lazy, so an in-operator `unpersist` would defeat
  * it — but on a shared cluster a barrier that nobody releases pins
  * executor storage until LRU eviction. The contract:
  *
  *   - operators route every barrier through [[barrier]];
  *   - operators with an EAGER materialization step (e.g.
  *     `DedupOps.nearDupKeepers`, whose connected-components rounds
  *     run before it returns) release their own
  *     barriers inline the moment the barrier's consumer has run;
  *   - for lazily-returned queries the CONSUMER calls [[release]] after
  *     its action — `Verify` does per query, `Bench` per rep; a library
  *     user on a long-lived cluster session does the same (or relies on
  *     LRU eviction, which is safe but noisy under memory pressure).
  *
  * `release` unpersists with blocking=false: eviction proceeds in the
  * background, nothing waits on it. */
object CacheGuard {
  private val live =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[Dataset[_], java.lang.Boolean]())

  /** Cache `ds` and register it for a later [[release]].
    *
    * MEMORY_AND_DISK, not the `.cache()` default MEMORY_ONLY: a barrier
    * exists to stop Catalyst re-computing a subtree, and under storage
    * pressure a MEMORY_ONLY barrier is LRU-evicted and every consumer
    * silently recomputes it — the round-6 full-suite bench inflated
    * barriered queries up to 9× this way. Spilled-to-disk blocks keep the
    * barrier's guarantee at the cost of local I/O (the same reason
    * MEMORY_AND_DISK is the Dataset default recommendation on shared
    * clusters). */
  def barrier[T](ds: Dataset[T]): Dataset[T] = {
    ds.persist(StorageLevel.MEMORY_AND_DISK)
    live.add(ds)
    ds
  }

  /** Drop one barrier immediately (for operators that release inline). */
  def drop(ds: Dataset[_]): Unit = {
    ds.unpersist(false)
    live.remove(ds)
  }

  /** Free the storage blocks behind a `localCheckpoint()`ed Dataset —
    * they live OUTSIDE the CacheManager, so `Dataset.unpersist` never
    * releases them (the Components-iteration lesson, shared since round
    * 18 by the dedup chain's checkpointed signature leaves). Safe to
    * call twice; NOT safe before the checkpoint's consumers have run
    * (the data cannot be recomputed). */
  def dropCheckpoint(ds: Dataset[_]): Unit =
    ds.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** [[barrier]] + EAGER materialization: builds the cache with one job
    * so the first consumer's CONCURRENT query stages scan it instead of
    * racing to rebuild it partition-by-partition — a cold barrier whose
    * first consumer fans out into N independent stages (AQE materializes
    * leaf stages in parallel) pays the full build CPU up to N times
    * ("Block already exists" churn; the round-18 job probe measured the
    * keeper-election barrier built by 8 concurrent stages). One extra
    * scheduled job, same total work, N× less build CPU. */
  def eagerBarrier[T](ds: Dataset[T]): Dataset[T] = {
    val b = barrier(ds)
    b.count()
    b
  }

  /** EAGER `localCheckpoint` leaf + registered block release — the
    * multi-reference alternative to a lazy [[barrier]] for relations
    * whose first consumers are CONCURRENT AQE leaf stages: a lazy cache
    * is raced partition-by-partition by every stage (the round-18 job
    * probe measured a 16-way cold rebuild of one un-barriered pair
    * chain), while a checkpoint leaf is materialized exactly once, is
    * planned as a 1-line scan per reference (no per-reference subtree
    * re-planning), and is freed by [[release]] through the registered
    * hook. Only for relations every consumer of which runs before the
    * caller's `release()` — checkpoint blocks cannot be recomputed. */
  def checkpointLeaf[T](ds: Dataset[T]): Dataset[T] = {
    val cp = ds.localCheckpoint()
    onRelease(() => dropCheckpoint(cp))
    cp
  }

  /** Pinned state that is NOT a re-cacheable plan — a `localCheckpoint`'s
    * blocks, for instance, which re-caching would double-store and whose
    * unpersist makes the data unrecomputable (so it may only happen once
    * the consumer is done). Operators register a custom release hook. */
  private val hooks =
    new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()
  def onRelease(f: () => Unit): Unit = hooks.add(f)

  /** Release every registered barrier and fire every release hook. Safe
    * to call between queries even while other plans are running for
    * PLAIN barriers (unpersist just invalidates the cache entry and jobs
    * recompute); checkpoint-backed state registered via [[onRelease]] is
    * gone for good — callers release only after their action. */
  def release(): Unit = {
    live.forEach(_.unpersist(false))
    live.clear()
    var h = hooks.poll()
    while (h != null) { h(); h = hooks.poll() }
  }

  /** Number of currently-registered (unreleased) barriers/hooks. */
  def pending: Int = live.size() + hooks.size()

  private[graft] def sessionStorageEmpty(spark: SparkSession): Boolean =
    spark.sparkContext.getPersistentRDDs.isEmpty
}
