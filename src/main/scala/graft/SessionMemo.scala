package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Session-scoped memo of expensive per-corpus artifacts (fitted ANN
  * indexes, broadcast Bloom sketches) — the in-session analogue of the
  * reference's CREATE-once-probe-many index provisioning (reference
  * README.md:71-79).
  *
  * Entries are keyed by the owning context's `applicationId` (not
  * object identity, which the JVM may reuse after GC): a fitted model,
  * cached plan, or broadcast is only valid inside the SparkContext
  * that built it. Eviction is wired to the context's lifecycle — the
  * first memo computed for a context registers ONE
  * [[SparkListenerApplicationEnd]] hook that drops every memo entry of
  * that application when the context stops, so a long-lived JVM that
  * creates several SparkContexts (test suites, notebook restarts)
  * never pins dead contexts' models/plans for its own life.
  */
final class SessionMemo[K, V] extends SessionMemo.Evictable {

  private val entries = new ConcurrentHashMap[(String, K), V]

  /** Compute-once per (live context, key). */
  def getOrCompute(s: SparkSession, key: K)(build: => V): V = {
    val appId = s.sparkContext.applicationId
    SessionMemo.hookEviction(s, this)
    entries.computeIfAbsent((appId, key), _ => build)
  }

  private[graft] def evict(appId: String): Unit =
    entries.keySet.removeIf(_._1 == appId)

  private[graft] def contains(appId: String): Boolean = {
    val it = entries.keySet.iterator()
    var found = false
    while (!found && it.hasNext) found = it.next()._1 == appId
    found
  }
}

/** [[SessionMemo]] for values that are pure functions of a store's
  * CHANGING segment listing, keyed by the store's STABLE directory:
  * `getOrCompute` returns the cached value while the listing string
  * matches and REPLACES the entry when it doesn't — so an
  * indefinitely-running serve/ingest maintenance loop holds exactly
  * ONE entry per store, not one per mutation (keying the memo by the
  * full listing, the round-17 pattern, grew an entry holding every
  * segment path string on every append/fold and never evicted until
  * application end — unbounded driver memory on a long-running
  * session). Same application-lifecycle eviction as
  * [[SessionMemo]].
  *
  * `release(old, next)` runs when `next` REPLACES `old` under a new
  * listing and frees what of `old` that `next` does not carry over
  * (e.g. unpersisting the frames of a serving snapshot the new
  * listing no longer names), so the resources a store's superseded
  * listing held go with it. */
final class ListingMemo[V](release: (V, V) => Unit = (_: V, _: V) => ())
    extends SessionMemo.Evictable {

  private val entries =
    new ConcurrentHashMap[(String, String), (String, V)]

  /** The cached value while `listing` matches the entry's recorded
    * listing; otherwise compute and replace. Concurrent recomputes of
    * one store race benignly — builds here are pure functions of
    * immutable segments, so last-put-wins is any of the same value. */
  def getOrCompute(s: SparkSession, storeDir: String, listing: String)
                  (build: => V): V =
    getOrReplace(s, storeDir, listing)(_ => build)

  /** [[getOrCompute]] whose build sees the value being replaced (None
    * on a store's first listing) — so a build can carry over whatever
    * of the old value the new listing still names. The replaced value
    * is released against its replacement unless a racing build of the
    * SAME listing put it there (same listing, same value by purity:
    * releasing it would drop what the winner shares). */
  def getOrReplace(s: SparkSession, storeDir: String, listing: String)
                  (build: Option[V] => V): V = {
    val appId = s.sparkContext.applicationId
    SessionMemo.hookEviction(s, this)
    val key = (appId, storeDir)
    val cur = entries.get(key)
    if (cur != null && cur._1 == listing) cur._2
    else {
      val v = build(Option(cur).map(_._2))
      val prev = entries.put(key, (listing, v))
      if (prev != null && prev._1 != listing) release(prev._2, v)
      v
    }
  }

  /** The value `storeDir` currently holds in application `appId`. */
  private[graft] def current(appId: String, storeDir: String): Option[V] =
    Option(entries.get((appId, storeDir))).map(_._2)

  private[graft] def evict(appId: String): Unit =
    entries.keySet.removeIf(_._1 == appId)

  private[graft] def entryCount(appId: String): Int = {
    val it = entries.keySet.iterator()
    var n = 0
    while (it.hasNext) if (it.next()._1 == appId) n += 1
    n
  }
}

object SessionMemo {

  /** The eviction seam [[SessionMemo]] and [[ListingMemo]] share. */
  private[graft] trait Evictable { private[graft] def evict(appId: String): Unit }

  /** Every memo instance ever hooked — module-scoped singletons, so
    * this set is small and append-only by construction. */
  private val memos = ConcurrentHashMap.newKeySet[Evictable]

  /** applicationIds that already carry the end-of-life listener. */
  private val hooked = ConcurrentHashMap.newKeySet[String]

  private[graft] def hookEviction(s: SparkSession, memo: Evictable): Unit = {
    memos.add(memo)
    val appId = s.sparkContext.applicationId
    if (hooked.add(appId))
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          evictApplication(appId)
      })
  }

  /** Drop every memo entry belonging to `appId` (the listener body;
    * package-visible so the spec can drive it directly — the listener
    * itself only fires on a real context stop, which a shared-session
    * test suite must not do). */
  private[graft] def evictApplication(appId: String): Unit = {
    memos.forEach(m => m.evict(appId))
    hooked.remove(appId)
  }
}
