package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** [[Memo]]: one build per key under concurrent first calls, no kept
  * failures, and builds that look up other memos. */
class MemoSuite extends AnyFunSuite {

  test("four threads making a concurrent first call run the build once") {
    val memo = new Memo[String, Int]
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val calls = (1 to 4).map { _ =>
        pool.submit(() => {
          start.await()
          memo("k") { builds.incrementAndGet(); Thread.sleep(200); 42 }
        })
      }
      start.countDown()
      assert(calls.map(_.get(30, TimeUnit.SECONDS)) == Seq.fill(4)(42))
      assert(builds.get == 1)
    } finally pool.shutdownNow()
  }

  test("a build that throws is not kept: the next call builds again") {
    val memo = new Memo[String, Int]
    val builds = new AtomicInteger
    intercept[IllegalStateException] {
      memo("k") { builds.incrementAndGet(); throw new IllegalStateException("boom") }
    }
    assert(memo("k") { builds.incrementAndGet(); 7 } == 7)
    assert(memo("k") { builds.incrementAndGet(); 8 } == 7)
    assert(builds.get == 2)
  }

  test("a build may look up a second memo, and another key of its own") {
    val pairs = new Memo[String, Int]
    val labels = new Memo[String, Int]
    // labels -> pairs, as Shared.ccLabels builds over Shared.wordPairs
    assert(labels("d") { pairs("d")(10) + 1 } == 11)
    assert(pairs("d")(0) == 10)
    assert(labels("e") { labels("f")(1) + 1 } == 2)
  }
}
