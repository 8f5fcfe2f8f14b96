package graft.server

import java.util.concurrent.{CompletableFuture, ExecutionException, TimeUnit, TimeoutException}

import scala.util.chaining._

/**
 * The server's one bounded store: a map from key to `CompletableFuture[V]`
 * — the role the reference gives its Redis datastore with TTL expiry
 * (frocket/datastore/redis_store.py). An INCOMPLETE future is a
 * single-flight latch: the caller that claimed it computes, everyone else
 * who claims the key awaits the same future. A COMPLETED future is the
 * stored value. A failure reaches every waiter and frees the key, so the
 * next claim recomputes.
 *
 * Bounds, all applied to completed values only (an in-flight entry is never
 * evicted):
 *   - `maxEntries` — entry count, least recently used dropped first;
 *   - `maxValueBytes` — a value heavier than this still reaches its waiters
 *     but is not kept (one giant result must not pin the driver);
 *   - `maxTotalBytes` — total weight; past it the OLDEST completions are
 *     dropped, never the newest, so the bound is max(budget, largest
 *     single value) — a completed value nobody has read yet is never lost
 *     to its own arrival;
 *   - `ttlSec` — completions older than this are dropped (0 = no TTL), with
 *     no newest-kept carve-out: an age bound is absolute, as a Redis TTL.
 *     Expiry is lazy — claims, reads, completions and the `size`/`bytes`
 *     gauges sweep first — so no timer thread exists and an idle store's
 *     gauges fall to 0 on the next observation.
 *
 * A value is kept only if its key still maps to the future it completed:
 * a `remove` that lands while the value is being computed wins, and the
 * late completion answers its waiters without re-inserting anything.
 *
 * One lock guards the map and the weight counters; no caller's computation
 * ever runs under it (values are weighed before the lock is taken).
 */
private[server] final class FutureStore[K, V](maxEntries: Int = Int.MaxValue,
    maxValueBytes: Long = Long.MaxValue, maxTotalBytes: Long = Long.MaxValue,
    ttlSec: Long = 0L, weigh: V => Long = (_: V) => 0L) {

  /** `bytes` is -1 until the value is kept, at monotonic time `keptAt`
    * (ns) — the age the TTL and the byte budget's oldest-first order read. */
  private final class Entry(val key: K, val future: CompletableFuture[V],
                            var bytes: Long = -1L, var keptAt: Long = 0L)

  // Access order: a claim or read refreshes the entry's LRU position.
  private val map = new java.util.LinkedHashMap[K, Entry](16, 0.75f, true)
  private var kept, totalBytes = 0L

  /** The future for `key`, and whether the caller owns it. An absent or
    * failed entry is replaced by a fresh incomplete future that the caller
    * must settle with `complete` or `fail`; otherwise the caller reads or
    * awaits a future someone else settles. */
  def claim(key: K): (CompletableFuture[V], Boolean) = synchronized {
    expire()
    val e = map.get(key)
    if (e != null && !e.future.isCompletedExceptionally) (e.future, false)
    else (insert(key).future, true)
  }

  /** Complete `f` with `v` (a no-op if `f` already completed) and keep `v`
    * if `key` still maps to `f` and `v` fits under `maxValueBytes`. Any
    * caller holding `f` may settle it — for a deterministic computation, a
    * waiter that gave up and computed the value itself answers the rest. */
  def complete(key: K, f: CompletableFuture[V], v: V): Unit = {
    val w = weigh(v)
    if (f.complete(v)) synchronized {
      val e = map.get(key)
      if (e != null && (e.future eq f)) {
        if (w > maxValueBytes) map.remove(key)
        else {
          e.bytes = w
          e.keptAt = System.nanoTime()
          kept += 1; totalBytes += w
          evict(e)
        }
      }
    }
  }

  /** Fail `f` (a no-op if it already completed) and free `key` if it still
    * maps to `f`, so the next claim recomputes. */
  def fail(key: K, f: CompletableFuture[V], error: Throwable): Unit = {
    f.completeExceptionally(error)
    if (f.isCompletedExceptionally) synchronized {
      if (Option(map.get(key)).exists(_.future eq f)) map.remove(key)
    }
  }

  /** Store a computed value under `key`, replacing any entry there. */
  def put(key: K, v: V): Unit = complete(key, synchronized(insert(key)).future, v)

  /** The value under `key`. A kept value is returned as is; a miss is
    * computed by this caller and kept. While another caller computes it,
    * this one awaits that future — calling `onWait` first — for up to
    * `waitSec`: that computation's failure is rethrown here too, and past
    * the wait the caller re-reads the store, then computes the value itself
    * and settles the future it waited on. A failure is never kept. */
  def getOrCompute(key: K, waitSec: Long = Long.MaxValue, onWait: () => Unit = () => ())(
      compute: => V): V = {
    val (f, mine) = claim(key)
    val shared = if (mine) None else done(f).orElse {
      onWait()
      try Some(f.get(waitSec, TimeUnit.SECONDS))
      catch {
        case e: ExecutionException => throw e.getCause
        case _: TimeoutException => get(key)
      }
    }
    shared.getOrElse {
      try compute.tap(complete(key, f, _))
      catch { case e: Throwable => if (mine) fail(key, f, e); throw e }
    }
  }

  /** The completed value under `key`, if any. */
  def get(key: K): Option[V] = synchronized {
    expire()
    Option(map.get(key)).flatMap(e => done(e.future))
  }

  def remove(key: K): Unit = synchronized(removeLocked(key))

  /** Drop every entry whose key matches, in flight or completed. */
  def removeIf(p: K => Boolean): Unit = synchronized(dropWhere(e => p(e.key)))

  /** Kept values. */
  def size: Int = synchronized { expire(); kept.toInt }
  /** Total weight of the kept values. */
  def bytes: Long = synchronized { expire(); totalBytes }
  /** Entries without a kept value: computations in flight. */
  def pending: Int = synchronized(map.size - kept.toInt)

  private def done(f: CompletableFuture[V]): Option[V] =
    if (f.isDone && !f.isCompletedExceptionally) Some(f.join()) else None

  private def insert(key: K): Entry = {
    removeLocked(key)
    new Entry(key, new CompletableFuture[V]()).tap(map.put(key, _))
  }

  private def removeLocked(key: K): Unit = Option(map.remove(key)).foreach(release)

  private def release(e: Entry): Unit =
    if (e.bytes >= 0) { kept -= 1; totalBytes -= e.bytes; e.bytes = -1 }

  /** Remove every entry matching `p`, visiting them in LRU order. */
  private def dropWhere(p: Entry => Boolean): Unit =
    map.values.removeIf { e => val drop = p(e); if (drop) release(e); drop }

  private def expire(): Unit = if (ttlSec > 0) {
    val cutoff = System.nanoTime() - ttlSec * 1000000000L
    dropWhere(e => e.bytes >= 0 && e.keptAt - cutoff <= 0)
  }

  /** Enforce the TTL, the count cap (least recently used first) and the
    * byte budget (oldest completion first). `newest` — just kept and most
    * recently used — always stays. */
  private def evict(newest: Entry): Unit = {
    expire()
    if (kept > maxEntries) dropWhere(e => kept > maxEntries && e.bytes >= 0 && (e ne newest))
    if (totalBytes > maxTotalBytes) {
      import scala.jdk.CollectionConverters._
      map.values.asScala.filter(e => e.bytes >= 0 && (e ne newest)).toSeq.sortBy(_.keptAt)
        .iterator.takeWhile(_ => totalBytes > maxTotalBytes).foreach(e => removeLocked(e.key))
    }
  }
}

private[server] object FutureStore {
  /** Exact UTF-8 length without allocating the encoded copy (a result can
    * be megabytes). Surrogates count 2 each, so a pair sums to its 4 bytes. */
  def utf8Length(s: String): Long = {
    var i = 0; var n = 0L
    while (i < s.length) {
      val c = s.charAt(i)
      n += (if (c < 0x80) 1 else if (c < 0x800) 2 else if (Character.isSurrogate(c)) 2 else 3)
      i += 1
    }
    n
  }
}
