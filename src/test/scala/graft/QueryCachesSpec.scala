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
}
