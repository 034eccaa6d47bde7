package graft.operators

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec

/** The shared-derivation registry: nested keys, one build under a race,
  * no caching of a failed build, and application-id isolation. */
class DerivedSpec extends SparkSpec {

  private def fresh(tag: String): String = s"derived-spec#$tag#${java.util.UUID.randomUUID()}"

  test("a build that calls another key completes") {
    val outer = fresh("outer")
    val inner = fresh("inner")
    val v = Derived(spark, outer) { Derived(spark, inner)(20) + 1 }
    assert(v == 21)
    assert(Derived(spark, inner)(-1) == 20)
    assert(Derived(spark, outer)(-1) == 21)
  }

  test("three threads touching one key concurrently trigger exactly one build") {
    val key = fresh("race")
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(3)
    try {
      val futs = (1 to 3).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          override def call(): Int = {
            start.await()
            Derived(spark, key) { builds.incrementAndGet(); Thread.sleep(300); 42 }
          }
        })
      }
      start.countDown()
      assert(futs.map(_.get(30, TimeUnit.SECONDS)) == Seq(42, 42, 42))
      assert(builds.get == 1)
    } finally pool.shutdown()
  }

  test("a build that throws is retried on the next call") {
    val key = fresh("throws")
    val builds = new AtomicInteger()
    intercept[IllegalStateException] {
      Derived(spark, key) { builds.incrementAndGet(); throw new IllegalStateException("boom") }
    }
    assert(Derived(spark, key) { builds.incrementAndGet(); "ok" } == "ok")
    assert(Derived(spark, key) { builds.incrementAndGet(); "again" } == "ok")
    assert(builds.get == 2)
  }

  test("keys of different application ids do not collide") {
    val name = fresh("apps")
    assert(Derived.inApp("app-a", name)("a") == "a")
    assert(Derived.inApp("app-b", name)("b") == "b")
    assert(Derived.inApp("app-a", name)("x") == "a")
    assert(Derived(spark, name)("live") == "live")
  }
}
