package graft.quality

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel
import graft.SparkSpec
import graft.text.TextDedup

class CacheScopeSpec extends SparkSpec {
  import spark.implicits._

  /** The release listener fires asynchronously after an action. */
  private def eventually(timeoutMs: Long = 15000)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var ok = cond
    while (!ok && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      ok = cond
    }
    ok
  }

  private def cacheEmpty: Boolean = spark.sharedState.cacheManager.isEmpty

  test("cachedUntilAction: cache exists for the query, is gone after it completes") {
    spark.catalog.clearCache()
    val df = CacheScope.cachedUntilAction((1 to 100).toDF("n"))
    assert(df.storageLevel != StorageLevel.NONE)
    assert(df.count() == 100)
    assert(eventually()(cacheEmpty),
      "InMemoryRelation survived a completed query — the scoped release did not fire")
  }

  /** Records the session's completed queries. Registered AFTER the
    * scoped caches' release listeners, it is called after them for
    * every completion (one session's listeners run in registration
    * order), so once it has seen a query complete, every release that
    * completion triggers has already run. */
  private final class CompletionProbe extends QueryExecutionListener {
    private val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[QueryExecution]()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      seen.add(qe): Unit
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      seen.add(qe): Unit
    /** `df`'s row count as one action, returned once the session's
      * listeners have handled its completion. */
    def countSettled(df: DataFrame): Long = {
      val q = df.groupBy().count()
      val n = q.collect().head.getLong(0)
      assert(eventually()(seen.contains(q.queryExecution)),
        "a completed query never reached the session's listeners")
      n
    }
  }

  private def withProbe[T](body: CompletionProbe => T): T = {
    val probe = new CompletionProbe
    spark.listenerManager.register(probe)
    try body(probe) finally spark.listenerManager.unregister(probe)
  }

  /** The session cache holds an entry for `df`'s plan. */
  private def cached(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  test("retainAcrossOwnAction: the cache survives the operator's own action, releases after the caller's") {
    spark.catalog.clearCache()
    val (df, owned) = CacheScope.acquire((1 to 100).toDF("n"))
    assert(owned)
    CacheScope.retainAcrossOwnAction(df)
    withProbe { probe =>
      // the operator's own gate count — the FIRST consumption, skipped
      assert(probe.countSettled(df) == 100)
      assert(cached(df),
        "the gate count released the cache the returned plan was about to reuse")
      // the caller's action — the SECOND consumption releases
      assert(probe.countSettled(df) == 100)
      assert(!cached(df), "InMemoryRelation survived the caller's completed query")
    }
  }

  test("a dependent scoped cache that Spark rebuilds still releases after its consuming action") {
    // Releasing `parent` (a non-cascading unpersist) makes Spark rebuild
    // the still-unloaded `child` entry under a new cache builder; the
    // child's release must still recognize the query that reads it.
    spark.catalog.clearCache()
    val parent = CacheScope.cachedUntilAction((1 to 1000).toDF("n"))
    val child = CacheScope.cachedUntilAction(parent.filter($"n" % 2 === 0))
    withProbe { probe =>
      assert(probe.countSettled(parent) == 1000) // reads parent only
      assert(!cached(parent), "parent survived its consuming query")
      assert(cached(child), "child was dropped with its parent")
      assert(probe.countSettled(child) == 500)
      assert(!cached(child), "the rebuilt child entry survived its consuming query")
    }
  }

  test("retainAcrossOwnAction: concurrent unrelated actions in the window never release early") {
    // The r13 verdict flagged the protocol's standing assumption:
    // nothing else consumes an operator-internal cache between acquire
    // and the gate count — but refreshForSources already submits
    // CONCURRENT jobs in the same session, so unrelated completions can
    // land anywhere in the acquire → gate-count → caller-action window.
    // Pin the semantics: non-consuming completions (whatever thread,
    // whatever order the async bus delivers them) must neither eat the
    // skip nor release the retained cache, as long as they stay below
    // the MaxUnconsumedCompletions reclaim bound.
    spark.catalog.clearCache()
    val (df, owned) = CacheScope.acquire((1 to 1000).toDF("n"))
    assert(owned)
    CacheScope.retainAcrossOwnAction(df)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    // 48 unrelated completions across 6 threads — racing the gate
    // count AND the post-count idle window, under the reclaim bound
    val noise = Future.sequence((1 to 6).map(_ => Future {
      (1 to 8).foreach(_ => spark.range(50).count(): Unit)
    }))
    assert(df.count() == 1000) // the gate count, amid the noise — skipped
    Await.result(noise, Duration.Inf)
    Thread.sleep(700) // let the async bus drain every noise completion
    assert(df.storageLevel != StorageLevel.NONE && !cacheEmpty,
      "a concurrent unrelated completion released (or reclaimed) the retained cache")
    assert(df.count() == 1000) // the caller's action — releases
    assert(eventually()(cacheEmpty),
      "InMemoryRelation survived the caller's completed query")
  }

  test("cachedUntilAction: an already-cached plan is passed through, not double-cached or released") {
    spark.catalog.clearCache()
    val outer = (1 to 50).toDF("n").cache()
    try {
      outer.count()
      // same plan → storageLevel is already non-NONE → passthrough
      val inner: DataFrame = CacheScope.cachedUntilAction(outer)
      inner.count()
      // the outer owner's cache must survive inner's completed action
      Thread.sleep(500)
      assert(outer.storageLevel != StorageLevel.NONE,
        "passthrough released a cache it does not own")
    } finally {
      outer.unpersist()
    }
  }

  /** listListeners() is private[sql]; bytecode-public, so reflect. */
  private def listenerCount: Int =
    spark.listenerManager.getClass.getMethod("listListeners")
      .invoke(spark.listenerManager).asInstanceOf[Array[_]].length

  test("abandoned frames are reclaimed: never-materialized scoped caches leave no listener or entry") {
    spark.catalog.clearCache()
    val before = listenerCount
    // three frames the caller builds and then walks away from
    (1 to 3).foreach { i =>
      CacheScope.cachedUntilAction((1 to 10 * i).toDF("n"))
      ()
    }
    // unrelated queries only — none consumes the abandoned caches
    (1 to CacheScope.MaxUnconsumedCompletions + 2).foreach { _ =>
      spark.range(2).count(): Unit
    }
    assert(eventually()(cacheEmpty),
      "abandoned scoped caches were never reclaimed")
    assert(eventually()(listenerCount <= before),
      "abandoned scoped caches leaked their QueryExecutionListeners")
  }

  test("shared scope: cache survives across the block's actions, is released at block end") {
    spark.catalog.clearCache()
    CacheScope.shared {
      val df = CacheScope.cachedUntilAction((1 to 100).toDF("n"))
      assert(df.count() == 100)
      // first action completed; outside a shared block the listener
      // would release here — inside, the cache must survive
      Thread.sleep(500)
      assert(df.storageLevel != StorageLevel.NONE,
        "shared-scoped cache released after the first action, before block end")
      assert(df.filter($"n" > 50).count() == 50)
    }
    assert(eventually()(cacheEmpty),
      "shared-scoped cache survived the end of its block")
  }

  test("shared scope: a plan only constructed in the block is released after its later action") {
    spark.catalog.clearCache()
    var df: DataFrame = null
    CacheScope.shared {
      df = CacheScope.cachedUntilAction((1 to 64).toDF("n"))
    }
    // never materialized inside the block → handed the until-action
    // listener; the driver-run action consumes and releases it
    assert(df.count() == 64)
    assert(eventually()(cacheEmpty),
      "construct-only shared cache survived its consuming action")
  }

  test("operator caches are action-scoped: no InMemoryRelation survives a completed minhash/bm25 query") {
    spark.catalog.clearCache()
    val docs = (0 until 50)
      .map(i => (i.toLong, s"alpha beta gamma delta epsilon token$i"))
      .toDF("doc_id", "text")
    TextDedup.minhashDedup(docs, "doc_id", "text", threshold = 0.8).count()
    assert(eventually()(cacheEmpty), "minhashDedup leaked its hashed-shingle cache")
    val queries = Seq((900L, "alpha beta")).toDF("qid", "qtext")
    graft.text.Bm25.bm25TopK(docs, "doc_id", "text", queries, "qid", "qtext", k = 5).count()
    assert(eventually()(cacheEmpty), "bm25TopK leaked its postings cache")
  }
}
