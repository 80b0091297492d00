package graft

import org.scalatest.funsuite.AnyFunSuite

class QueryCachesSpec extends AnyFunSuite {
  import TestSpark._

  test("scanParallelism: a session with another split conf reads its own width") {
    val narrow = spark.newSession()
    // documents is one ~64 KB file: 16 KB splits cut it into several
    // partitions where the default conf reads one
    narrow.conf.set("spark.sql.files.maxPartitionBytes", "16k")
    def planned(s: org.apache.spark.sql.SparkSession): Int =
      Tables.load(s, sf, "documents").rdd.getNumPartitions
    assert(planned(narrow) > planned(spark))
    assert(QueryCaches.scanParallelism(spark, sf, "documents") == planned(spark))
    assert(QueryCaches.scanParallelism(narrow, sf, "documents") == planned(narrow))
    assert(QueryCaches.scanParallelism(spark, sf, "documents") == planned(spark))
  }

  private def freshKey(tag: String): String =
    s"spec:$tag:${java.util.UUID.randomUUID()}"

  test("once: a build may call once for another key") {
    val inner = freshKey("inner")
    val outer = QueryCaches.once(freshKey("outer")) {
      QueryCaches.once(inner)(1) + 1
    }
    assert(outer == 2)
    assert(QueryCaches.once(inner)(99) == 1)
  }

  test("once: threads racing one key run its build exactly once") {
    val key = freshKey("race")
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          override def call(): Int = {
            start.await()
            QueryCaches.once(key) { Thread.sleep(50); builds.incrementAndGet() }
          }
        })
      }
      start.countDown()
      assert(results.map(_.get(10, java.util.concurrent.TimeUnit.SECONDS)).toSet == Set(1))
      assert(builds.get() == 1)
    } finally pool.shutdownNow()
  }

  test("once: a build that throws is not cached") {
    val key = freshKey("throw")
    var builds = 0
    intercept[IllegalStateException] {
      QueryCaches.once[Int](key) { builds += 1; throw new IllegalStateException("boom") }
    }
    assert(QueryCaches.once(key) { builds += 1; 7 } == 7)
    assert(QueryCaches.once(key) { builds += 1; 8 } == 7)
    assert(builds == 2)
  }
}
