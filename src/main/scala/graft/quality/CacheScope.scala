package graft.quality

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** Action-scoped cache lifetime for operator-internal intermediates.
  *
  * Operators like BM25 or the MinHash family cache a multi-consumer
  * intermediate (postings, hashed shingles) that several branches of
  * ONE returned plan share. A bare `.cache()` there leaks: the method
  * returns a lazy frame, so it can never unpersist, and in a
  * long-lived session every call accumulates an InMemoryRelation
  * until someone remembers `clearCache()`.
  *
  * [[cachedUntilAction]] pins the lifetime to what these operators
  * actually need — the materialize-once window of the query the
  * caller is about to run: the cache is dropped (async, non-blocking)
  * as soon as a query execution that actually CONSUMED this cache
  * completes (matched by the cached relation's builder inside the
  * consumer's substituted plan — an unrelated query on the session,
  * e.g. a concurrently-verifying sibling, never releases it), success
  * or failure. Re-running the returned frame afterwards recomputes
  * instead of reading the cache — correct, just unscoped — so this is
  * for single-materialization operator internals, not for frames a
  * caller iterates over. A frame the caller never materializes is
  * reclaimed too: after [[MaxUnconsumedCompletions]] unrelated query
  * completions the listener gives up waiting, unpersists the (unfilled)
  * entry and unregisters itself — an abandoned frame costs a bounded
  * number of plan scans, never a session-lifetime listener.
  *
  * [[shared]] extends the lifetime across a multi-action COMPOSITION:
  * inside the block, scoped caches skip the per-action release, so a
  * caller that materializes two branches separately (lexical top-k,
  * then a fusion reusing it) hits the cache on the second action
  * instead of recomputing the shared prefix. At block end each cache
  * is released by whichever edge applies: already materialized →
  * unpersisted immediately; still lazy (the block only CONSTRUCTED
  * plans, the driver runs them later) → handed the normal
  * until-action listener.
  *
  * If the frame's plan is already cached (an enclosing pipeline such
  * as the curation compositions holds the same prefix), it is
  * returned untouched: no double-cache (silences Spark's "Asked to
  * cache already cached data" warning) and no release — the outer
  * owner keeps its lifetime. */
object CacheScope {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Unrelated query completions an unconsumed scoped cache survives
    * before the listener reclaims it anyway. Large enough that a
    * construct-then-run flow (even with concurrent sibling queries
    * completing in between) never loses its cache early; small enough
    * that an abandoned frame's listener dies the same session. */
  val MaxUnconsumedCompletions = 64

  /** Cache unless the plan is already cached; `owned` tells the caller
    * whether the unpersist duty is theirs. For the eager
    * cache → act → unpersist methods: re-caching an already-cached
    * plan warns and double-counts ownership (the classic case is
    * atomicAppend receiving the frame appendNew already cached for its
    * count). */
  def acquire(df: DataFrame): (DataFrame, Boolean) =
    if (df.storageLevel != StorageLevel.NONE) (df, false)
    else (df.cache(), true)

  /** One open [[shared]] block per thread; scoped caches defer their
    * release to block end instead of the next consuming action. */
  private final class SharedScope {
    val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  }
  private val currentScope = new ThreadLocal[SharedScope]

  /** Run `body` with cache lifetimes extended to the block: every
    * [[cachedUntilAction]] frame created inside survives across the
    * block's actions (a fusion materializing its retriever branches
    * separately reuses, not recomputes, the shared prefix). On exit,
    * caches the block already materialized are unpersisted on the
    * spot; caches the block only constructed (consumed later, by the
    * driver) get the standard consumed-or-expired listener. Nested
    * blocks join the outermost scope. */
  def shared[T](body: => T): T = {
    val outer = currentScope.get()
    val scope = if (outer != null) outer else new SharedScope
    if (outer == null) currentScope.set(scope)
    try body
    finally if (outer == null) {
      currentScope.remove()
      scope.frames.foreach { cached =>
        val loaded =
          try cached.queryExecution.withCachedData.collectFirst {
            case r: InMemoryRelation => r.cacheBuilder.isCachedColumnBuffersLoaded
          }.getOrElse(false)
          catch { case _: Exception => true } // fail toward release-now
        if (loaded) cached.unpersist(blocking = false)
        else releaseAfterConsumption(cached)
      }
      scope.frames.clear()
    }
  }

  /** True while the calling thread is inside a [[shared]] block —
    * lets an operator pick scope-managed caching only when a scope
    * exists to manage it (e.g. a split whose branches must BOTH stay
    * queryable keeps a caller-owned cache standalone). */
  def inShared: Boolean = currentScope.get() != null

  /** The gate-count pattern: an operator is ABOUT to run one action of
    * its own over the cached frame (a count that picks the plan shape,
    * e.g. LineDedup's broadcast gate) and then returns a LAZY plan
    * embedding the same frame — the cache must survive the operator's
    * own action and release after the CALLER's. [[cachedUntilAction]]
    * would release on the operator's count, and registering a plain
    * release listener after the count races the async listener bus
    * (the count's completion event can be DELIVERED after
    * registration and release the cache early). So this is called
    * BEFORE the operator's action and the listener SKIPS the first
    * consuming completion — events arrive in submission order, and
    * nothing else can consume an operator-internal cache between
    * acquire and the gate count, so the first matching event is
    * always the operator's own. The abandoned-frame reclaim
    * ([[MaxUnconsumedCompletions]]) still applies. Inside a [[shared]]
    * block the release defers to block end like every scoped cache.
    * No-op for an uncached frame. */
  def retainAcrossOwnAction(df: DataFrame): Unit =
    if (df.storageLevel != StorageLevel.NONE) {
      val scope = currentScope.get()
      if (scope != null) scope.frames += df
      else releaseAfterConsumption(df, skipConsumptions = 1)
    }

  def cachedUntilAction(df: DataFrame): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df
    else {
      val cached = df.cache()
      val scope = currentScope.get()
      if (scope != null) scope.frames += cached
      else releaseAfterConsumption(cached)
      cached
    }

  /** `skipConsumptions`: consuming completions to IGNORE before the
    * release fires — the [[retainAcrossOwnAction]] gate-count pattern
    * (the operator's own action is a consumption the release must
    * outlive). Skipped consumptions still reset nothing; the
    * unconsumed-completions reclaim counts every event as usual. */
  private def releaseAfterConsumption(
      cached: DataFrame,
      skipConsumptions: Int = 0): Unit = {
    val spark = cached.sparkSession
    // The cache's identity inside any consuming query's plan: after
    // substitution the consumer carries an InMemoryRelation sharing
    // this builder instance (reference equality — canonicalization
    // games can't confuse two caches).
    val builder = cached.queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation => r.cacheBuilder
    }
    // Spark swaps the builder when it rebuilds the entry: releasing a
    // cache this plan reads (non-cascading unpersist) re-caches the
    // dependent, still-unloaded entry under a NEW builder, and
    // consumers planned afterwards carry that one. Matching only the
    // builder captured above then misses every later consumption and
    // the entry outlives its action. So a consumer matches either the
    // original builder or the one the cache manager holds for this
    // plan now.
    def currentBuilder: Option[AnyRef] = cached match {
      case d: ClassicDataset[_] =>
        try d.sparkSession.sharedState.cacheManager.lookupCachedData(d)
          .map(_.cachedRepresentation.cacheBuilder)
        catch { case _: Exception => None }
      case _ => None
    }
    val toSkip = new AtomicInteger(skipConsumptions)
    val released = new AtomicBoolean(false)
    val misses = new AtomicInteger(0)
    val listener: QueryExecutionListener = new QueryExecutionListener {
      private def release(): Unit =
        if (released.compareAndSet(false, true)) {
          cached.unpersist(blocking = false)
          spark.listenerManager.unregister(this)
        }
      private def maybeRelease(qe: QueryExecution): Unit = {
        // fail open on both edges (no builder found / plan access
        // throws): release rather than leak — loudly, because a
        // premature release turns the next consumer into a recompute.
        val consumed = builder match {
          case None =>
            log.debug("scoped cache has no InMemoryRelation builder; " +
              "fail-open releasing on the next completed query")
            true
          case Some(b) =>
            try {
              val used = qe.withCachedData.collect { case r: InMemoryRelation => r.cacheBuilder }
              used.exists(_ eq b) ||
                (used.nonEmpty && currentBuilder.exists(cur => used.exists(_ eq cur)))
            } catch { case _: Exception => true }
        }
        if (consumed && toSkip.getAndDecrement() <= 0) release()
        else if (!consumed && misses.incrementAndGet() >= MaxUnconsumedCompletions) {
          log.debug(s"scoped cache never consumed after $MaxUnconsumedCompletions " +
            "query completions; reclaiming the abandoned entry")
          release()
        }
      }
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        maybeRelease(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        maybeRelease(qe)
    }
    spark.listenerManager.register(listener)
  }
}
