package graft.server

import java.util.concurrent.ExecutionException
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** [[FutureStore]] on its own, no Spark: the latch, keep and eviction rules
  * the server's result cache, DataFrame handles and async payloads share. */
class FutureStoreSpec extends AnyFunSuite {

  private def strings(maxEntries: Int = Int.MaxValue, maxValueBytes: Long = Long.MaxValue,
                      maxTotalBytes: Long = Long.MaxValue, ttlSec: Long = 0L) =
    new FutureStore[String, String](maxEntries, maxValueBytes, maxTotalBytes, ttlSec,
      FutureStore.utf8Length)

  /** Block until `t` parks (awaiting a future), so the test orders it. */
  private def awaitParked(t: Thread): Unit = {
    def parked = Set(Thread.State.WAITING, Thread.State.TIMED_WAITING)(t.getState)
    val deadline = System.currentTimeMillis() + 10000
    while (!parked && System.currentTimeMillis() < deadline) Thread.sleep(5)
    assert(parked, s"thread never parked: ${t.getState}")
  }

  test("utf8Length counts the encoded bytes without encoding") {
    for (s <- Seq("", "abc", "é", "€", "😀", "a€😀\n"))
      assert(FutureStore.utf8Length(s) == s.getBytes("UTF-8").length.toLong, s)
  }

  test("a failure reaches every waiter and frees the key for a recompute") {
    val s = strings()
    val (f, mine) = s.claim("k")
    val (w1, mine1) = s.claim("k")
    val (w2, mine2) = s.claim("k")
    assert(mine && !mine1 && !mine2 && (w1 eq f) && (w2 eq f))
    // A waiter blocked inside getOrCompute gets the owner's failure too,
    // without computing anything itself.
    val computed = new AtomicInteger
    @volatile var seen: Throwable = null
    val t = new Thread(() =>
      try s.getOrCompute("k") { computed.incrementAndGet(); "waiter" }
      catch { case e: Throwable => seen = e })
    t.start()
    awaitParked(t)
    val boom = new IllegalStateException("boom")
    s.fail("k", f, boom)
    t.join(10000)
    assert(seen eq boom)
    assert(computed.get == 0)
    Seq(w1, w2).foreach(w => assert(intercept[ExecutionException](w.get()).getCause eq boom))
    assert(s.pending == 0 && s.size == 0 && s.get("k").isEmpty)
    // Freed: the next claim owns a fresh latch and its value is kept.
    assert(s.getOrCompute("k") { computed.incrementAndGet(); "v" } == "v")
    assert(computed.get == 1 && s.get("k").contains("v"))
  }

  test("a value over the per-value ceiling reaches its waiters but is not kept") {
    val s = strings(maxValueBytes = 4)
    val (f, _) = s.claim("big")
    val (w, _) = s.claim("big")
    s.complete("big", f, "12345")
    assert(w.get() == "12345")
    assert(s.get("big").isEmpty && s.size == 0 && s.pending == 0 && s.bytes == 0)
    assert(s.claim("big")._2, "an unkept value must leave the key free")
    // At the ceiling is kept; the weight is UTF-8 bytes, not chars.
    s.put("fits", "1234")
    s.put("accents", "ééé")
    assert(s.get("fits").contains("1234") && s.get("accents").isEmpty)
    assert(s.bytes == 4)
  }

  test("the byte budget drops the oldest completion first and keeps the newest") {
    val s = strings(maxTotalBytes = 10)
    s.put("a", "aaaa")
    s.put("b", "bbbb")
    assert(s.get("a").isDefined) // a is now the most recently USED
    s.put("c", "cccc")           // 12 > 10: a is the oldest COMPLETION
    assert(s.get("a").isEmpty && s.get("b").isDefined && s.get("c").isDefined)
    assert(s.bytes == 8)
    // A value over the whole budget drops every older one but stays itself.
    s.put("d", "d" * 20)
    assert(s.get("b").isEmpty && s.get("c").isEmpty)
    assert(s.get("d").contains("d" * 20) && s.size == 1 && s.bytes == 20)
  }

  test("values expire past the TTL on the next observation") {
    val s = strings(ttlSec = 1)
    s.put("k", "payload")
    assert(s.get("k").contains("payload") && s.bytes == 7)
    Thread.sleep(1200)
    assert(s.bytes == 0 && s.size == 0)
    assert(s.get("k").isEmpty)
  }

  test("the count cap evicts least recently used values, never an in-flight entry") {
    val s = strings(maxEntries = 2)
    val (x, _) = s.claim("x")
    Seq("a", "b", "c").foreach(k => s.put(k, k))
    assert(s.get("a").isEmpty && s.size == 2 && s.pending == 1)
    assert(!x.isDone && !s.claim("x")._2, "the in-flight latch was evicted")
    assert(s.get("b").isDefined) // c becomes the least recently used
    s.complete("x", x, "x")
    assert(s.get("x").contains("x") && s.get("b").isDefined && s.get("c").isEmpty)
    assert(s.size == 2 && s.pending == 0)
  }

  test("a key removed mid-flight leaves nothing behind once its future completes") {
    val s = strings()
    val (f, _) = s.claim("ds1/q")
    val (w, _) = s.claim("ds1/q")
    s.removeIf(_.startsWith("ds1/"))
    assert(s.pending == 0)
    // A claim after the sweep starts over; the late completion answers the
    // old waiters and re-inserts nothing over the new claim.
    val (g, mine) = s.claim("ds1/q")
    assert(mine && (g ne f))
    s.complete("ds1/q", f, "stale")
    assert(w.get() == "stale")
    assert(s.get("ds1/q").isEmpty && s.size == 0 && s.bytes == 0 && s.pending == 1)
    s.removeIf(_ => true)
    s.complete("ds1/q", g, "late")
    assert(s.size == 0 && s.pending == 0 && s.bytes == 0)
  }

  test("a waiter past its wait computes the value itself and settles the latch") {
    val s = strings()
    val (f, _) = s.claim("k") // a wedged owner
    val waits = new AtomicInteger
    def read(v: => String) = s.getOrCompute("k", waitSec = 0, () => waits.incrementAndGet())(v)
    assert(read("from-waiter") == "from-waiter" && waits.get == 1)
    assert(f.get() == "from-waiter" && s.get("k").contains("from-waiter"))
    // Later arrivals hit: no wait, no computation.
    assert(read(fail("recomputed")) == "from-waiter" && waits.get == 1)
    // The owner's late completion, or failure, changes nothing.
    s.complete("k", f, "from-owner")
    s.fail("k", f, new IllegalStateException("late"))
    assert(s.get("k").contains("from-waiter") && s.size == 1)
  }

  test("a failed handle load is not cached") {
    val s = new FutureStore[(String, Long), AnyRef](maxEntries = 16)
    val loads = new AtomicInteger
    val key = ("events", 1L)
    intercept[IllegalStateException] {
      s.getOrCompute(key) { loads.incrementAndGet(); throw new IllegalStateException("footer read") }
    }
    assert(s.size == 0 && s.pending == 0)
    val handle = new Object
    assert(s.getOrCompute(key) { loads.incrementAndGet(); handle } eq handle)
    assert(s.getOrCompute(key) { loads.incrementAndGet(); new Object } eq handle)
    assert(loads.get == 2 && s.size == 1)
  }
}
