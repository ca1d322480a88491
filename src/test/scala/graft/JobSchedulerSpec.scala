package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, CyclicBarrier, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.JobRunner

/** [[JobRunner.execute]], the dependency-driven scheduler under
  * `JobRunner.run`, driven with plain closures: no Spark, no artifacts.
  */
class JobSchedulerSpec extends AnyFunSuite {

  private def graph(edges: (String, String)*): String => Seq[String] = {
    val ups = edges.groupMap(_._2)(_._1)
    k => ups.getOrElse(k, Nil)
  }

  test("a node never starts before every one of its upstreams has ended") {
    // each join waits on one slow and one instant upstream, the slow one
    // on either side, so a scheduler that drops any one upstream starts
    // some join ~300 ms early
    val order = Seq("a1", "a2", "b1", "b2", "c1", "c2", "d")
    val ups = graph("a1" -> "c1", "b1" -> "c1", "a2" -> "c2", "b2" -> "c2",
      "c1" -> "d", "c2" -> "d")
    val slow = Set("a1", "b2")
    val runs = JobRunner.execute(order, ups, threads = 4) { k =>
      if (slow(k)) Thread.sleep(300)
    }
    assert(runs.map(_.key) === order)
    val at = runs.map(r => r.key -> r).toMap
    for (k <- order; u <- ups(k))
      assert(at(u).endNs <= at(k).startNs, s"$k started before its upstream $u ended")
  }

  test("independent nodes run concurrently") {
    // both sources must be inside their bodies at the same time to pass
    // the barrier; run one after the other, the first times out and fails
    val barrier = new CyclicBarrier(2)
    val runs = JobRunner.execute(Seq("a", "b", "c"), graph("a" -> "c", "b" -> "c"),
        threads = 2) {
      case "c" => ()
      case _ => barrier.await(10, TimeUnit.SECONDS)
    }
    val at = runs.map(r => r.key -> r).toMap
    assert(at("a").startNs < at("b").endNs && at("b").startNs < at("a").endNs)
  }

  test("a failure blocks its dependents, lets started nodes finish, and is rethrown") {
    val started = ConcurrentHashMap.newKeySet[String]()
    val ended = ConcurrentHashMap.newKeySet[String]()
    val failing = new CountDownLatch(1)
    // x fails while its sibling s is still running; y and z sit below x,
    // w below s only
    val order = Seq("s", "x", "w", "y", "z")
    val ups = graph("x" -> "y", "y" -> "z", "s" -> "w")
    val boom = new IllegalStateException("x failed")
    val thrown = intercept[IllegalStateException] {
      JobRunner.execute(order, ups, threads = 2) { k =>
        started.add(k)
        k match {
          case "x" => failing.countDown(); throw boom
          case "s" => assert(failing.await(10, TimeUnit.SECONDS)); Thread.sleep(200)
          case _ => ()
        }
        ended.add(k)
      }
    }
    assert(thrown eq boom)
    assert(ended.contains("s"), "run threw before an in-flight node finished")
    assert(!started.contains("y") && !started.contains("z"),
      s"a dependent of the failed node started: $started")
    assert(ended.contains("w"), "a node off the failed branch did not run")
  }

  test("the first failure in schedule order is rethrown, later ones suppressed") {
    // b fails first in time, a first in schedule order
    val bFailed = new CountDownLatch(1)
    val thrown = intercept[RuntimeException] {
      JobRunner.execute(Seq("a", "b"), graph(), threads = 2) {
        case "a" => bFailed.await(10, TimeUnit.SECONDS); throw new RuntimeException("a")
        case _ => bFailed.countDown(); throw new RuntimeException("b")
      }
    }
    assert(thrown.getMessage === "a")
    assert(thrown.getSuppressed.map(_.getMessage).toSeq === Seq("b"))
  }

  test("an upstream outside the graph is rejected before anything runs") {
    val started = ConcurrentHashMap.newKeySet[String]()
    intercept[IllegalArgumentException] {
      JobRunner.execute(Seq("a"), graph("ghost" -> "a"), threads = 1)(started.add(_))
    }
    assert(started.isEmpty)
  }
}
