package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class QueryCachesSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark

  // memo scopes every key on the active SparkContext
  override def beforeAll(): Unit = spark.sparkContext

  test("concurrent callers of one key wait for a single build") {
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val call: Callable[AnyRef] = () => {
        start.await()
        QueryCaches.memo("qcspec.once") {
          builds.incrementAndGet()
          Thread.sleep(300)
          new Object
        }
      }
      val results = (1 to 4).map(_ => pool.submit(call))
      start.countDown()
      val values = results.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get == 1, s"the build ran ${builds.get} times")
      assert(values.distinct.size == 1, "callers got different values")
    } finally pool.shutdownNow()
  }

  test("a build may memoize a nested key") {
    val outer = QueryCaches.memo("qcspec.outer") {
      QueryCaches.memo("qcspec.inner")("inner") + "+outer"
    }
    assert(outer == "inner+outer")
    assert(QueryCaches.memo[String]("qcspec.inner")(fail("inner was not kept")) == "inner")
  }

  test("a build that throws caches nothing and the next call retries") {
    val builds = new AtomicInteger()
    intercept[IllegalStateException] {
      QueryCaches.memo[String]("qcspec.retry") {
        builds.incrementAndGet()
        throw new IllegalStateException("first build fails")
      }
    }
    assert(!QueryCaches.has("qcspec.retry"))
    val v = QueryCaches.memo("qcspec.retry") { builds.incrementAndGet(); "built" }
    assert(v == "built" && builds.get == 2)
    assert(QueryCaches.memo[String]("qcspec.retry")(fail("rebuilt a kept value")) == "built")
  }

  test("an entry is scoped to the SparkContext that built it") {
    QueryCaches.memo("qcspec.scoped")("v")
    assert(QueryCaches.has("qcspec.scoped"))
    assert(QueryCaches.has("qcspec.scoped", appId = spark.sparkContext.applicationId))
    assert(!QueryCaches.has("qcspec.scoped", appId = "a-later-context"))
  }
}
