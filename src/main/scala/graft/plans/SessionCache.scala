package graft.plans

import org.apache.spark.sql.SparkSession

/** Session-keyed shared-frame cache — the one implementation of the
  * lifecycle discipline every shared frame needs (KgPipeline's triples,
  * edges, enriched, metrics, spans and co-occurrence; Dedup's LSH prologue
  * and pair leaves; Similarity's s01/s02 results):
  *
  *  - keys are (SparkSession REFERENCE, sf dir): a cached frame is bound to
  *    the session that built it, so a restarted session rebuilds instead of
  *    receiving stale frames that fail at execution (SparkSession does not
  *    override equals, so case-class equality is reference equality);
  *  - `computeIfAbsent`, not TrieMap.getOrElseUpdate: the latter can run the
  *    builder twice under concurrent first calls and leak the losing
  *    builder's materialized blocks;
  *  - entries of stopped sessions are purged (and freed) on access so a dead
  *    session's object graph isn't pinned for the life of the JVM — but
  *    NEVER from a thread that is inside THIS map's own computeIfAbsent;
  *  - release: each cache takes the function that frees one of its values
  *    (`Caches.free` for a leaf) and registers itself at construction, so
  *    [[SessionCache.releaseAll]] frees every cache in the JVM. No owner
  *    keeps a list of its caches, and a new cache cannot be left off one.
  *
  * The purge point is the reason this class exists: ConcurrentHashMap
  * forbids a mapping function from modifying its own map (even other keys —
  * the in-flight bin is locked, and a same-thread remove() can detach the
  * bin the pending insert lands in, silently losing the fresh entry and
  * stranding its blocks). Builder chains make that easy to hit by accident:
  * the edges builder calls triples(), and when every accessor purged every
  * cache, the nested call purged the map whose computeIfAbsent was in-flight
  * on the same thread. Here each cache purges only ITSELF, and a ThreadLocal
  * guard skips the purge while this thread is inside this map's builder.
  * Concurrent purges from OTHER threads are fine — that is ordinary CHM
  * concurrency.
  */
final class SessionCache[V](name: String, free: V => Unit) {
  import SessionCache.Key

  private val map = new java.util.concurrent.ConcurrentHashMap[Key, V]()
  private val inBuild: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)
  SessionCache.registry.add(this)

  /** The cached value for (session, dir), building it under the map's bin
    * lock if absent. `build` runs at most once per key across threads.
    */
  def get(session: SparkSession, dir: String)(build: => V): V = {
    if (!inBuild.get()) purge()
    map.computeIfAbsent(Key(session, dir), _ => {
      val prev = inBuild.get()
      inBuild.set(java.lang.Boolean.TRUE)
      try build finally inBuild.set(prev)
    })
  }

  private def purge(): Unit = {
    val it = map.keySet().iterator()
    while (it.hasNext) {
      val k = it.next()
      if (k.session.sparkContext.isStopped) remove(k)
    }
  }

  // remove-then-free per key: a concurrent get either sees the old value
  // before the removal or builds a fresh one, never a freed one
  private def remove(k: Key): Unit = Option(map.remove(k)).foreach { v =>
    try free(v) catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Frees and drops every entry. */
  private[graft] def freeAll(): Unit = map.keySet().forEach(k => remove(k))

  override def toString: String = s"SessionCache($name, ${map.size()} entries)"
}

object SessionCache {
  private final case class Key(session: SparkSession, dir: String)

  private val registry = new java.util.concurrent.ConcurrentLinkedQueue[SessionCache[_]]()

  /** Frees every registered cache's values and empties them; then deletes
    * the files under the live context's checkpoint directory
    * ([[Caches.clearCheckpoints]]), so reliable mode's query-local leaves
    * and loop rounds do not pile up from one build/release cycle to the
    * next. Call only when no query is running.
    */
  def releaseAll(): Unit = {
    registry.forEach(_.freeAll())
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext).filterNot(_.isStopped).foreach(Caches.clearCheckpoints)
  }
}
