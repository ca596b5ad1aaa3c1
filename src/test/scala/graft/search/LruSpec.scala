package graft.search

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The contract of [[Lru]], the fetch-through cache every serving cache on
  * the handle uses. No Spark. */
class LruSpec extends AnyFunSuite with Matchers {

  private implicit val ec: ExecutionContext = ExecutionContext.global

  /** entry-capped: every value weighs 1 */
  private def capped(n: Long) = new Lru[String, String](n, _ => 1L)
  /** weight = the value's length */
  private def weighted(budget: Long) = new Lru[String, String](budget, _.length.toLong)

  private def noFetch(ks: Seq[String]): Map[String, String] =
    fail(s"unexpected fetch of $ks")

  test("a hit refreshes recency") {
    val lru = capped(2)
    lru.put("a", "A"); lru.put("b", "B")
    lru.get("a") shouldBe Some("A") // a is now the youngest
    lru.put("c", "C")
    lru.get("b") shouldBe None
    lru.get("a") shouldBe Some("A")
    lru.get("c") shouldBe Some("C")
    // getAll's hits refresh recency too
    lru.getAll(Seq("a"))(noFetch)
    lru.put("d", "D")
    lru.get("c") shouldBe None
    lru.get("a") shouldBe Some("A")
  }

  test("eviction goes eldest-first, down to the budget by weight") {
    val lru = weighted(10)
    lru.put("a", "aaaaa"); lru.put("b", "bbb") // 8
    lru.put("c", "cccc")                        // 12 → drop a → 7
    lru.get("a") shouldBe None
    lru.get("b") shouldBe Some("bbb")
    lru.get("c") shouldBe Some("cccc")
    // b is eldest again once c was read after it
    lru.getAll(Seq("d"))(_ => Map("d" -> "ddddddddd")) // 16 → drop b, c → 9
    lru.get("b") shouldBe None
    lru.get("c") shouldBe None
    lru.get("d") shouldBe Some("ddddddddd")
  }

  test("fetchMissing runs once, with only the missing keys") {
    val lru = capped(100)
    lru.put("a", "A")
    var calls = Vector.empty[Seq[String]]
    val got = lru.getAll(Seq("a", "b", "c", "b")) { ks =>
      calls :+= ks
      ks.map(k => k -> k.toUpperCase).toMap
    }
    got shouldBe Map("a" -> "A", "b" -> "B", "c" -> "C")
    calls shouldBe Vector(Seq("b", "c"))
    // all cached now: no fetch at all
    lru.getAll(Seq("a", "b", "c"))(noFetch) shouldBe got
    calls.size shouldBe 1
  }

  test("a fetch must return a value for every missing key") {
    val lru = capped(100)
    a[NoSuchElementException] should be thrownBy
      lru.getAll(Seq("a", "b"))(_ => Map("a" -> "A"))
  }

  test("a fetch blocked on one thread does not block a hit on another") {
    val lru = capped(100)
    lru.put("hot", "H")
    val inFetch = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val cold = Future(lru.getAll(Seq("cold")) { ks =>
      inFetch.countDown()
      release.await(30, TimeUnit.SECONDS)
      ks.map(_ -> "C").toMap
    })
    try {
      inFetch.await(30, TimeUnit.SECONDS) shouldBe true
      // the cold fetch is still blocked; both lookups must answer now
      Await.result(Future(lru.get("hot")), 10.seconds) shouldBe Some("H")
      Await.result(Future(lru.getAll(Seq("hot"))(noFetch)), 10.seconds) shouldBe
        Map("hot" -> "H")
      cold.isCompleted shouldBe false
    } finally release.countDown()
    Await.result(cold, 30.seconds) shouldBe Map("cold" -> "C")
    lru.get("cold") shouldBe Some("C")
  }

  test("when two threads race to install one key, the first install is kept") {
    val lru = capped(100)
    val bothFetching = new CountDownLatch(2)
    val firstDone = new CountDownLatch(1)
    def racer(value: String, waitForFirst: Boolean) = Future(lru.getAll(Seq("k")) { ks =>
      bothFetching.countDown()
      bothFetching.await(30, TimeUnit.SECONDS)
      if (waitForFirst) firstDone.await(30, TimeUnit.SECONDS)
      ks.map(_ -> value).toMap
    })
    val first = racer("first", waitForFirst = false)
    val second = racer("second", waitForFirst = true)
    Await.result(first, 30.seconds) shouldBe Map("k" -> "first")
    firstDone.countDown()
    // each caller sees its own fetch; the cache keeps the first install
    Await.result(second, 30.seconds) shouldBe Map("k" -> "second")
    lru.get("k") shouldBe Some("first")
    lru.put("k", "third")
    lru.get("k") shouldBe Some("first")
  }

  test("a value heavier than the whole budget is returned but not kept") {
    val lru = weighted(5)
    lru.put("a", "aa")
    lru.getAll(Seq("big"))(_ => Map("big" -> "bbbbbbbbbb")) shouldBe
      Map("big" -> "bbbbbbbbbb")
    lru.get("big") shouldBe None
    lru.get("a") shouldBe Some("aa") // and it flushed nothing
    lru.put("big", "bbbbbbbbbb")
    lru.get("big") shouldBe None
  }

  test("a call's own installs may evict its hits; the call still returns them") {
    // the cap is reached mid-call: installing the misses evicts the hits
    // captured a moment before, and their values must still come back
    val lru = new Lru[(String, String), Long](2, _ => 1L)
    lru.put(("a", "b"), 7L)
    lru.put(("c", "d"), 9L)
    val got = lru.getAll(Seq(("a", "b"), ("c", "d"), ("e", "f"), ("g", "h"))) { ks =>
      ks.map(_ -> 0L).toMap
    }
    got shouldBe Map(("a", "b") -> 7L, ("c", "d") -> 9L, ("e", "f") -> 0L,
      ("g", "h") -> 0L)
    lru.get(("a", "b")) shouldBe None
    lru.get(("c", "d")) shouldBe None
  }

  test("hits and misses count keys over every lookup") {
    val lru = capped(100)
    lru.hits shouldBe 0L
    lru.misses shouldBe 0L
    lru.get("a") shouldBe None                    // 1 miss
    lru.put("a", "A")
    lru.get("a") shouldBe Some("A")               // 1 hit
    lru.getAll(Seq("a", "b", "c", "a")) { ks =>   // 1 hit, 2 misses
      ks.map(_ -> "x").toMap
    }
    lru.getAll(Seq("b", "c"))(noFetch)            // 2 hits
    lru.hits shouldBe 4L
    lru.misses shouldBe 3L
    lru.clear()
    lru.get("a") shouldBe None                    // cleared: 1 miss
    lru.misses shouldBe 4L
  }
}
