package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The per-key run-once memo behind the per-dir seeds and staged stream
  * sources: concurrent first calls for one key share ONE run of the
  * thunk (a second run would seed or copy into a fresh temp dir and
  * leak it), while distinct keys each get their own.
  */
class RunOnceSpec extends AnyFunSuite {

  /** `callers` threads released together, each asking `once` for its key. */
  private def race(once: RunOnce[String, String], keys: Seq[String],
      runs: AtomicInteger): Seq[String] = {
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(keys.size)
    try {
      val futures = keys.map { k =>
        pool.submit(new Callable[String] {
          def call(): String = {
            start.await()
            once(k)({
              val n = runs.incrementAndGet()
              Thread.sleep(200) // hold the race window open
              s"$k-run$n"
            })
          }
        })
      }
      start.countDown()
      futures.map(_.get(60, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }

  test("8 concurrent first calls for one key run the thunk exactly once") {
    val runs = new AtomicInteger(0)
    val got = race(new RunOnce[String, String], Seq.fill(8)("dir"), runs)
    assert(runs.get == 1, s"thunk ran ${runs.get} times")
    assert(got.toSet.size == 1, s"callers saw different values: $got")
  }

  test("distinct keys each run their own thunk, once") {
    val runs = new AtomicInteger(0)
    val once = new RunOnce[String, String]
    val got = race(once, Seq("a", "b", "a", "b"), runs)
    assert(runs.get == 2, s"thunk ran ${runs.get} times for two keys")
    assert(got.groupBy(_.takeWhile(_ != '-')).values.forall(_.toSet.size == 1))
    assert(once("a")("never") == got.find(_.startsWith("a-")).get)
  }
}
