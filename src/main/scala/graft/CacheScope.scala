package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped ownership for the engine's internal `persist`s.
  *
  * A handful of operators (the dedup LSH family, Quality.coverageGaps)
  * must persist a multi-consumer subframe — Spark re-executes a shared
  * subplan once per plan reference, and for those operators the recompute
  * is the dominant cost (SURVEY §4). But `persist` outlives the query: the
  * frame sits in the session's CacheManager until someone unpersists it.
  * Through r13 that someone was prose — "harnesses call `clearCache()`
  * between queries" — which a library caller composing many dedup plans in
  * one session had to know to imitate (r12/r13 ADVICE flagged exactly
  * this).
  *
  * This object makes the contract enforceable instead of documented:
  * every internal persist routes through [[pin]], which registers the
  * frame in a per-session ledger, and
  *
  *  - [[scoped]] — `CacheScope.scoped(spark) { runQueries() }` —
  *    releases everything pinned in the session when the block exits,
  *    however it exits. The intended library API: build plans AND run
  *    their actions inside the scope (the pins are consumed at action
  *    time, so the scope must cover the action, not just plan
  *    construction).
  *  - [[release]] — the imperative spelling, for harnesses with their own
  *    lifecycle (Bench/Verify call it between queries, alongside the
  *    `clearCache()` they already did — unpersist on an already-cleared
  *    frame is a no-op, so the two compose).
  *  - [[livePinned]] — observability for specs: DedupArtifactSpec asserts
  *    the ledger AND the session CacheManager are empty after a scoped
  *    run, so a new leaked persist fails a test instead of a review.
  *
  * The ledger must not itself become a leak (r14 ADVICE): the entries
  * have to be strong while the session lives (by release time an
  * internal pin is often reachable *only* through the ledger — a weak
  * ref would be GC-cleared before `release` could unpersist it), so
  * instead the ledger is emptied when the session dies. The first pin
  * against a CONTEXT installs a `SparkListener` whose `onApplicationEnd`
  * drops every session of that context (a stopped context's cached
  * blocks are already gone; only the references need freeing), and every
  * [[pin]] additionally purges entries whose context has stopped, so an
  * abandoned, never-released session cannot stay reachable through this
  * object once its context is down.
  *
  * The install-once guard is keyed on the SparkContext in a SEPARATE
  * set, deliberately NOT on ledger-entry presence (r15 ADVICE): release
  * removes the session's ledger key, so a presence-keyed guard would
  * re-register one listener per pin/release cycle — unbounded listener
  * growth on the shared bus under Bench/Verify, which release between
  * every query. [[listenerInstalls]] counts registrations so
  * CacheScopeSpec can pin "many cycles, one listener".
  *
  * Unpersist is non-blocking: entries leave the CacheManager
  * synchronously; block eviction proceeds async, which is the right
  * trade for a between-queries release.
  */
object CacheScope {

  private val ledger =
    new ConcurrentHashMap[SparkSession, ConcurrentLinkedQueue[DataFrame]]()

  /** Contexts that already carry this object's cleanup listener. Guarded
    * separately from the ledger so release()'s key removal can never
    * make the next pin re-install (r15 ADVICE). */
  private val installed =
    ConcurrentHashMap.newKeySet[org.apache.spark.SparkContext]()

  /** Total listener registrations ever made — observability for
    * CacheScopeSpec's "N pin/release cycles install exactly 1" pin. */
  private val installs = new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] def listenerInstalls: Int = installs.get

  /** Persist `df` (MEMORY_AND_DISK) and register it for session-scoped
    * release. Internal operators use this instead of raw `.persist`.
    *
    * A plan the CacheManager already holds — pinned by an earlier,
    * unreleased query, or cached by the caller — is returned as is: a
    * second persist adds no cached data (Spark only warns "Asked to cache
    * already cached data"), and registering it here would let this
    * session's release unpersist an entry it does not own. */
  private[graft] def pin(df: DataFrame): DataFrame = {
    purgeStopped()
    if (df.storageLevel != StorageLevel.NONE) return df
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    ledger.computeIfAbsent(p.sparkSession,
      _ => new ConcurrentLinkedQueue[DataFrame]()).add(p)
    val sc = p.sparkSession.sparkContext
    if (installed.add(sc)) {
      // First pin against this context: make sure every one of its
      // sessions' entries dies with it. The listener fires at context
      // stop, after which the cached blocks no longer exist — dropping
      // the references is all that's left (idempotent with purgeStopped).
      installs.incrementAndGet()
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(
            end: SparkListenerApplicationEnd): Unit = {
          ledger.keySet.forEach { s =>
            if (s.sparkContext eq sc) { ledger.remove(s); () }
          }
          installed.remove(sc); ()
        }
      })
    }
    p
  }

  /** Drop ledger entries whose SparkContext has stopped — their blocks
    * are gone; holding the frames would pin dead sessions' plans. Also
    * frees the install-guard slot so a future context can re-install. */
  private def purgeStopped(): Unit = {
    ledger.keySet.forEach { s =>
      if (s.sparkContext.isStopped) { ledger.remove(s); () }
    }
    installed.forEach { sc =>
      if (sc.isStopped) { installed.remove(sc); () }
    }
  }

  /** Unpersist every frame pinned in `spark` since the last release;
    * returns how many were released. */
  def release(spark: SparkSession): Int = {
    val q = ledger.remove(spark)
    if (q == null) 0
    else {
      var n = 0
      q.forEach { df => df.unpersist(blocking = false); n += 1 }
      n
    }
  }

  /** Number of currently pinned (unreleased) frames in `spark`. */
  def livePinned(spark: SparkSession): Int = {
    val q = ledger.get(spark)
    if (q == null) 0 else q.size()
  }

  /** Run `body`, then release every frame it pinned — the safe way to
    * compose multiple cache-pinning operators in one session. */
  def scoped[T](spark: SparkSession)(body: => T): T =
    try body finally release(spark)
}
