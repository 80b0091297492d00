package graft.kv

import graft.TestSpark
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Paths

/** The driver-side millisecond Get (Catalog.driverPointGet /
  * driverMultiGet, DriverRead): serves the committed snapshot with NO
  * Spark job, through manifest/footer file pruning and a pushed
  * parquet key predicate. */
class DriverGetSpec extends AnyFunSuite {
  import TestSpark._

  private def freshCat(tag: String): Catalog =
    new Catalog(spark, graft.TempWarehouses.scoped(s"dget_$tag", sf))

  private def loadOrders(cat: Catalog, name: String): Unit = {
    if (cat.tableExists(name)) cat.dropTable(name)
    cat.createTable(name, StructType(Seq(
      StructField("o_orderkey", LongType, false),
      StructField("o_custkey", LongType, true),
      StructField("o_orderstatus", StringType, true),
      StructField("o_totalprice", DoubleType, true))), Seq("o_orderkey"))
    cat.bulkLoad(name, graft.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice")), partitions = 4)
  }

  test("driver get agrees with the Spark read across bulk-load and CDC merge") {
    val cat = freshCat("agree")
    loadOrders(cat, "ords")
    // CDC merge: rewrite two keys, insert a new one — the snapshot now
    // mixes carried-over files with rewritten ones
    val upd = graft.Tables.orders(spark, sf)
      .filter(col("o_orderkey").isin(10L, 20L))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        lit(42.5).as("o_totalprice"))
    val ins = spark.createDataFrame(Seq((8000000001L, 5L, "X", 7.25)))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    cat.incrementalMerge("ords", upd.unionByName(ins))

    val keys = Seq(10L, 20L, 100L, 8000000001L, 987654321L)
    val got = cat.driverMultiGet("ords", keys.map(Seq(_)))
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
    val viaSpark = cat.table("ords").df
      .filter(col("o_orderkey").isin(keys: _*)).collect()
      .map(r => (r.getAs[Long]("o_orderkey"), r.getAs[Long]("o_custkey"),
        r.getAs[String]("o_orderstatus"), r.getAs[Double]("o_totalprice"))).toSet
    assert(got == viaSpark)
    assert(got.size == 4) // the miss key contributes nothing
    assert(got.filter(t => t._1 == 10L || t._1 == 20L).forall(_._4 == 42.5))
    assert(got.exists(_._1 == 8000000001L))
  }

  test("composite keys bind the FULL primary key") {
    val cat = freshCat("comp")
    if (cat.tableExists("li")) cat.dropTable("li")
    cat.createTable("li", StructType(Seq(
      StructField("l_orderkey", LongType, false),
      StructField("l_linenumber", IntegerType, false),
      StructField("l_quantity", DoubleType, true))),
      Seq("l_orderkey", "l_linenumber"))
    cat.bulkLoad("li", graft.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
      partitions = 4)
    val rows = cat.driverPointGet("li", 3L, 2)
    assert(rows.nonEmpty && rows.forall(r =>
      r.getLong(0) == 3L && r.getInt(1) == 2))
    // the same orderkey carries other linenumbers — head-only matching
    // would have leaked them
    val allFor3 = cat.table("li").df.filter(col("l_orderkey") === 3L).count()
    assert(allFor3 > rows.length)
    // a key binding only the head must be rejected loudly
    intercept[IllegalArgumentException](
      cat.driverMultiGet("li", Seq(Seq(3L))))
  }

  test("warm driver get schedules ZERO Spark jobs") {
    val cat = freshCat("nojob")
    loadOrders(cat, "ords")
    cat.driverPointGet("ords", 42L) // warm footer cache + meta
    @volatile var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      (1 to 10).foreach { i =>
        assert(cat.driverPointGet("ords", 42L + i).nonEmpty)
      }
      val perGetMs = (System.nanoTime() - t0) / 1e6 / 10
      // serving-path envelope: far under any Spark job's scheduling
      // cost (a local job alone is ~50-200 ms)
      assert(perGetMs < 200.0, s"driver get took $perGetMs ms")
      Thread.sleep(800) // listener bus is async — let events drain
      assert(jobs == 0, s"driver get scheduled $jobs Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("manifest file pruning is exercised and stale manifests fall back") {
    val cat = freshCat("manif")
    loadOrders(cat, "ords")
    val dir = Paths.get(cat.warehouse, "ords", s"data_v${cat.dataVersionOf("ords")}")
    val schema = cat.schemaOf("ords")
    val parts = {
      val s = java.nio.file.Files.list(dir)
      try {
        import scala.collection.JavaConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("part-")).toSeq
      } finally s.close()
    }
    assert(parts.size > 1)
    // a manifest that excludes key 42 from EVERY file must hide the
    // row — proof the file-level pruning actually consumes the ranges
    val excluding = parts.map(f => FileRange(f, 1000000L, 2000000L))
    assert(DriverRead.get(dir, schema, Seq("o_orderkey"),
      Seq(Seq(42L)), excluding).isEmpty)
    // a STALE manifest (wrong file set) must be ignored, not trusted:
    // the row comes back via footer statistics
    val stale = Seq(FileRange("part-nonexistent.parquet", 1000000L, 2000000L))
    assert(DriverRead.get(dir, schema, Seq("o_orderkey"),
      Seq(Seq(42L)), stale).nonEmpty)
    // covering manifest with true ranges also finds it
    val wide = parts.map(f => FileRange(f, 0L, java.lang.Long.MAX_VALUE))
    assert(DriverRead.get(dir, schema, Seq("o_orderkey"),
      Seq(Seq(42L)), wide).nonEmpty)
  }

  test("driver range scan agrees with the Spark slice and enforces its row cap") {
    val cat = freshCat("range")
    loadOrders(cat, "ords")
    val got = cat.driverRangeScan("ords", 100L, 140L)
      .map(_.getLong(0)).sorted
    val viaSpark = cat.table("ords").df
      .filter(col("o_orderkey").between(100L, 140L))
      .collect().map(_.getAs[Long]("o_orderkey")).sorted
    assert(got.sameElements(viaSpark) && got.nonEmpty)
    // inclusive bounds, empty range rejected, cap enforced
    assert(cat.driverRangeScan("ords", 100L, 100L).map(_.getLong(0)) == Seq(100L))
    intercept[IllegalArgumentException](cat.driverRangeScan("ords", 5L, 1L))
    intercept[IllegalArgumentException](
      cat.driverRangeScan("ords", 0L, Long.MaxValue, maxRows = 10))
    // zero Spark jobs on the warm path
    @volatile var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(cat.driverRangeScan("ords", 200L, 210L).nonEmpty)
      Thread.sleep(800)
      assert(jobs == 0, s"driver range scan scheduled $jobs Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("string-key gets and range scans serve byte-ordered bounds") {
    val cat = freshCat("strkey")
    if (cat.tableExists("skv")) cat.dropTable("skv")
    cat.createTable("skv", StructType(Seq(
      StructField("k", StringType, false),
      StructField("v", LongType, true))), Seq("k"))
    // includes a supplementary-plane key and a U+E000-block key — the
    // pair whose relative order flips between UTF-16 compareTo and
    // the unsigned UTF-8 byte order the stats/manifest use
    val rows = Seq(("alpha", 1L), ("beta", 2L), ("gamma", 3L),
      ("😀grin", 4L), ("\uE000private", 5L))
    cat.bulkLoad("skv", spark.createDataFrame(rows).toDF("k", "v"))
    assert(cat.driverPointGet("skv", "beta").head.getLong(1) == 2L)
    assert(cat.driverPointGet("skv", "😀grin").head.getLong(1) == 4L)
    assert(cat.driverPointGet("skv", "\uE000private").head.getLong(1) == 5L)
    // byte-ordered range: alpha..gamma covers the three ASCII keys and
    // neither of the high-codepoint ones
    val got = cat.driverRangeScan("skv", "alpha", "gamma")
      .map(_.getString(0)).sorted
    assert(got == Seq("alpha", "beta", "gamma"))
    // the two high-codepoint keys (U+1F600-led and U+E000-led) sort
    // ABOVE "private" in unsigned UTF-8 byte order — the order
    // parquet's UTF8 comparator, the footer stats and utf8Cmp all
    // share — so the ASCII-bounded range excludes them
    val mid = cat.driverRangeScan("skv", "alpha", "private")
      .map(_.getLong(1)).sorted
    assert(mid == Seq(1L, 2L, 3L))
    // and a NON-ASCII range serves the same rows the Spark path does:
    // [U+E000, U+10FFFF] catches both high keys (the supplementary-
    // plane key sorts above U+E000 in UTF-8 bytes; a UTF-16
    // comparator would have dropped it below)
    val high = cat.driverRangeScan("skv", "\uE000", "\uDBFF\uDFFF")
      .map(_.getLong(1)).sorted
    assert(high == Seq(4L, 5L))
    val viaSpark = cat.table("skv").df
      .filter(col("k") >= "\uE000" && col("k") <= "\uDBFF\uDFFF")
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(high == viaSpark)
  }

  test("index-served driver get matches the base state and stays fresh through writes") {
    val cat = freshCat("idx")
    if (cat.tableExists("cust")) cat.dropTable("cust")
    cat.createTable("cust", StructType(Seq(
      StructField("c_custkey", LongType, false),
      StructField("c_name", StringType, true),
      StructField("c_acctbal", DoubleType, true))), Seq("c_custkey"))
    cat.bulkLoad("cust", graft.Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal")),
      partitions = 4)
    cat.createIndex("cust", "byname", "kv", Seq("c_name"))
    // equality seek on the unique name → exactly the keyed base row
    val r = cat.driverIndexGet("cust", "byname", Seq("Customer#000000042"))
    assert(r.map(_.getLong(0)) == Seq(42L))
    // freshness: a CDC merge renames key 7 — the index get must serve
    // the new name and MUST NOT serve the stale one
    val patch = spark.createDataFrame(Seq((7L, "graft renamed", 1.25)))
      .toDF("c_custkey", "c_name", "c_acctbal")
    cat.incrementalMerge("cust", patch)
    assert(cat.driverIndexGet("cust", "byname", Seq("graft renamed"))
      .map(_.getLong(0)) == Seq(7L))
    assert(cat.driverIndexGet("cust", "byname", Seq("Customer#000000007")).isEmpty)
    // a miss value returns empty, and unknown index names fail loudly
    assert(cat.driverIndexGet("cust", "byname", Seq("no such name")).isEmpty)
    intercept[IllegalArgumentException](
      cat.driverIndexGet("cust", "nope", Seq("x")))
    // warm index-get path also schedules no Spark jobs
    cat.driverIndexGet("cust", "byname", Seq("Customer#000000001"))
    @volatile var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(cat.driverIndexGet("cust", "byname",
        Seq("Customer#000000003")).nonEmpty)
      Thread.sleep(800)
      assert(jobs == 0, s"index driver get scheduled $jobs Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a corrupt range manifest degrades to footer stats and heals on merge") {
    val cat = freshCat("corrupt")
    loadOrders(cat, "ords")
    val dir = Paths.get(cat.warehouse, "ords", s"data_v${cat.dataVersionOf("ords")}")
    // a crashed writer (or a reader racing a non-atomic write) leaves
    // a truncated byte stream — the get must fall back, not throw
    java.nio.file.Files.writeString(dir.resolve("_graft_ranges.json"),
      "[{\"file\": \"part-trunc")
    assert(cat.driverPointGet("ords", 42L).nonEmpty)
    // and the merge path must recompute + rewrite instead of wedging
    val patch = spark.createDataFrame(Seq((42L, 1L, "Z", 3.75)))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    cat.incrementalMerge("ords", patch)
    val r = cat.driverPointGet("ords", 42L).head
    assert(r.getString(2) == "Z" && r.getDouble(3) == 3.75)
  }

  test("timestamp/date/boolean/int columns round-trip the Group decode") {
    val cat = freshCat("types")
    if (cat.tableExists("typed")) cat.dropTable("typed")
    val schema = StructType(Seq(
      StructField("k", LongType, false),
      StructField("i", IntegerType, true),
      StructField("s", StringType, true),
      StructField("d", DoubleType, true),
      StructField("b", BooleanType, true),
      StructField("ts", TimestampType, true),
      StructField("dt", DateType, true)))
    cat.createTable("typed", schema, Seq("k"))
    val rows = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, 7, "alpha", 2.5, true,
          java.sql.Timestamp.valueOf("2024-03-01 12:34:56.789"),
          java.sql.Date.valueOf("2024-03-01")),
        org.apache.spark.sql.Row(2L, null, null, null, null, null, null)),
      schema)
    cat.bulkLoad("typed", rows)
    val r1 = cat.driverPointGet("typed", 1L).head
    assert(r1.getLong(0) == 1L && r1.getInt(1) == 7 &&
      r1.getString(2) == "alpha" && r1.getDouble(3) == 2.5 &&
      r1.getBoolean(4))
    assert(r1.get(5) == java.sql.Timestamp.valueOf("2024-03-01 12:34:56.789"))
    assert(r1.get(6) == java.sql.Date.valueOf("2024-03-01"))
    val r2 = cat.driverPointGet("typed", 2L).head
    assert(r2.getLong(0) == 2L && (1 to 6).forall(r2.isNullAt))
    // expected miss
    assert(cat.driverPointGet("typed", 3L).isEmpty)
  }

  test("driver get sees a committed transaction's overlay version") {
    val cat = freshCat("txn")
    if (cat.tableExists("acct")) cat.dropTable("acct")
    cat.createTable("acct", StructType(Seq(
      StructField("k", LongType, false),
      StructField("bal", DoubleType, true))), Seq("k"))
    cat.bulkLoad("acct", spark.createDataFrame(
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0))).toDF("k", "bal"))
    cat.transaction { txn =>
      txn.updateWhere("acct", col("k") === 2L, "bal", lit(99.0))
    }
    val r = cat.driverPointGet("acct", 2L).head
    assert(r.getDouble(1) == 99.0)
  }

  test("ANSI interval columns round-trip through the catalog and the driver get") {
    val cat = freshCat("ivl")
    if (cat.tableExists("ivl")) cat.dropTable("ivl")
    cat.createTable("ivl", StructType(Seq(
      StructField("k", LongType, false),
      StructField("retention", YearMonthIntervalType(), true),
      StructField("ttl", DayTimeIntervalType(), true))), Seq("k"))
    import TestSpark.spark.implicits._
    cat.bulkLoad("ivl", Seq(
      (1L, java.time.Period.ofMonths(14), java.time.Duration.ofSeconds(3725)),
      (2L, java.time.Period.ofYears(2), java.time.Duration.ofMillis(1500)),
      (3L, null, null))
      .toDF("k", "retention", "ttl"))
    // Spark path round-trip
    val viaSpark = cat.table("ivl").df.orderBy(col("k")).collect()
    assert(viaSpark(0).get(1) == java.time.Period.of(1, 2, 0))
    assert(viaSpark(0).get(2) == java.time.Duration.ofSeconds(3725))
    assert(viaSpark(1).get(1) == java.time.Period.ofYears(2))
    assert(viaSpark(2).isNullAt(1) && viaSpark(2).isNullAt(2))
    // driver serving path decodes the same java.time values
    val r1 = cat.driverPointGet("ivl", 1L).head
    assert(r1.get(1) == java.time.Period.of(1, 2, 0))
    assert(r1.get(2) == java.time.Duration.ofSeconds(3725))
    val r3 = cat.driverPointGet("ivl", 3L).head
    assert(r3.isNullAt(1) && r3.isNullAt(2))
    // CDC merge keeps interval columns intact through the COW rewrite
    cat.incrementalMerge("ivl", Seq(
      (2L, java.time.Period.ofMonths(7), java.time.Duration.ofMinutes(5)))
      .toDF("k", "retention", "ttl"))
    val r2 = cat.driverPointGet("ivl", 2L).head
    assert(r2.get(1) == java.time.Period.ofMonths(7))
    assert(r2.get(2) == java.time.Duration.ofMinutes(5))
  }

  test("TIME columns round-trip through the catalog and the driver get") {
    // the last enumerated reference codec (HBaseTable.kt:274 TIME);
    // feature-flagged in Spark 4.1 behind a runtime SQL conf
    TestSpark.spark.conf.set("spark.sql.timeType.enabled", "true")
    val cat = freshCat("tim")
    if (cat.tableExists("tim")) cat.dropTable("tim")
    cat.createTable("tim", StructType(Seq(
      StructField("k", LongType, false),
      StructField("at", TimeType(), true))), Seq("k"))
    def lt(s: String) = java.time.LocalTime.parse(s)
    // Row-based load: tuple Encoders have no LocalTime member
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, lt("06:30:15.123456")), // sub-second micros
      org.apache.spark.sql.Row(2L, lt("23:59:59.999999")), // day-edge
      org.apache.spark.sql.Row(3L, null))
    cat.bulkLoad("tim",
      TestSpark.spark.createDataFrame(rows, cat.schemaOf("tim")))
    // Spark path round-trip (micros precision preserved)
    val viaSpark = cat.table("tim").df.orderBy(col("k")).collect()
    assert(viaSpark(0).get(1) == lt("06:30:15.123456"))
    assert(viaSpark(1).get(1) == lt("23:59:59.999999"))
    assert(viaSpark(2).isNullAt(1))
    // driver serving path decodes the same java.time.LocalTime values
    assert(cat.driverPointGet("tim", 1L).head.get(1) == lt("06:30:15.123456"))
    assert(cat.driverPointGet("tim", 2L).head.get(1) == lt("23:59:59.999999"))
    assert(cat.driverPointGet("tim", 3L).head.isNullAt(1))
    // CDC merge keeps TIME columns intact through the COW rewrite
    val patch = java.util.Arrays.asList(
      org.apache.spark.sql.Row(2L, lt("00:00:00.000001")))
    cat.incrementalMerge("tim",
      TestSpark.spark.createDataFrame(patch, cat.schemaOf("tim")))
    assert(cat.driverPointGet("tim", 2L).head.get(1) == lt("00:00:00.000001"))
  }

  test("driver range scan serves BOTH keys of a z-ordered table; others fail typed") {
    import TestSpark.spark.implicits._
    val cat = freshCat("zscan")
    if (cat.tableExists("zt")) cat.dropTable("zt")
    cat.createTable("zt", StructType(Seq(
      StructField("a", LongType, false),
      StructField("b", LongType, false),
      StructField("v", DoubleType, true))),
      Seq("a", "b"), layout = "zorder")
    val rnd = new scala.util.Random(11)
    cat.bulkLoad("zt",
      (0 until 20000).map(_ => (rnd.nextInt(1000).toLong,
        rnd.nextInt(1000).toLong, rnd.nextDouble()))
        .toDF("a", "b", "v"), partitions = 8)

    def viaSpark(c: String, lo: Long, hi: Long): Set[(Long, Long)] =
      cat.table("zt").df.filter(col(c) >= lo && col(c) <= hi)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def viaDriver(c: Option[String], lo: Long, hi: Long): Set[(Long, Long)] =
      cat.driverRangeScan("zt", lo, hi, maxRows = 10000, keyCol = c)
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    // leading key (manifest path) and the z-second key (footer-stats
    // path) both agree exactly with the Spark slice
    assert(viaDriver(None, 100L, 120L) == viaSpark("a", 100L, 120L))
    assert(viaDriver(Some("a"), 100L, 120L) == viaSpark("a", 100L, 120L))
    assert(viaDriver(Some("b"), 400L, 420L) == viaSpark("b", 400L, 420L))
    // ...and through a CDC merge (the rewritten snapshot keeps serving)
    cat.incrementalMerge("zt",
      Seq((5000L, 410L, 9.9)).toDF("a", "b", "v"))
    assert(viaDriver(Some("b"), 400L, 420L) == viaSpark("b", 400L, 420L))
    assert(viaDriver(Some("b"), 400L, 420L).contains((5000L, 410L)))

    // non-key columns fail with the typed onto-Spark message
    val e1 = intercept[IllegalArgumentException] {
      cat.driverRangeScan("zt", 0L, 1L, keyCol = Some("v"))
    }
    assert(e1.getMessage.contains("Spark scan path"))
    // on a SORTED layout the second pk column is not servable either
    val cat2 = freshCat("zscan_sorted")
    if (cat2.tableExists("st")) cat2.dropTable("st")
    cat2.createTable("st", StructType(Seq(
      StructField("a", LongType, false),
      StructField("b", LongType, false))), Seq("a", "b"))
    cat2.bulkLoad("st", Seq((1L, 2L)).toDF("a", "b"))
    val e2 = intercept[IllegalArgumentException] {
      cat2.driverRangeScan("st", 0L, 1L, keyCol = Some("b"))
    }
    assert(e2.getMessage.contains("leading rowkey column 'a'"))
  }

  test("z-second range scan prunes from the manifest, not O(files) footer reads") {
    import TestSpark.spark.implicits._
    val cat = freshCat("zmanif")
    if (cat.tableExists("zm")) cat.dropTable("zm")
    cat.createTable("zm", StructType(Seq(
      StructField("a", LongType, false),
      StructField("b", LongType, false),
      StructField("v", DoubleType, true))),
      Seq("a", "b"), layout = "zorder")
    val rnd = new scala.util.Random(13)
    cat.bulkLoad("zm",
      (0 until 20000).map(_ => (rnd.nextInt(1000).toLong,
        rnd.nextInt(1000).toLong, rnd.nextDouble())).toDF("a", "b", "v"),
      partitions = 8)
    // the merge writes the manifest, now with BOTH keys' bounds
    cat.incrementalMerge("zm", Seq((5000L, 410L, 9.9)).toDF("a", "b", "v"))
    val dir = Paths.get(cat.warehouse, "zm", s"data_v${cat.dataVersionOf("zm")}")
    val json = java.nio.file.Files.readString(dir.resolve("_graft_ranges.json"))
    assert(json.contains("\"lo2\""), "manifest lacks second-key bounds")
    // a second-key range beyond every file's recorded bounds must be
    // answered from the manifest alone: zero rows, ZERO cold footer
    // opens — at 100 TB scale that is one JSON read vs ~800k footer
    // reads on a cold serving process
    val before = graft.kv.DriverRead.footerReadCount.get()
    assert(cat.driverRangeScan("zm", 5000L, 6000L, keyCol = Some("b")).isEmpty)
    assert(graft.kv.DriverRead.footerReadCount.get() == before,
      "z-second scan opened parquet footers despite a covering manifest")
    // an in-range scan still agrees exactly with the Spark slice
    val got = cat.driverRangeScan("zm", 400L, 420L, keyCol = Some("b"))
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exp = cat.table("zm").df
      .filter(col("b") >= 400L && col("b") <= 420L)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exp)
    assert(got.contains((5000L, 410L)))
  }

  test("non-integral keys on integral columns fail loudly, never truncate") {
    val cat = freshCat("frac")
    loadOrders(cat, "ords")
    // 5.5 truncated to 5 would silently MATCH a row the equivalent
    // Spark filter (o_orderkey === 5.5) excludes
    intercept[IllegalArgumentException](
      cat.driverPointGet("ords", java.lang.Double.valueOf(5.5)))
    intercept[IllegalArgumentException](
      cat.driverRangeScan("ords", java.lang.Double.valueOf(5.5), 10L))
    // integral-valued Numbers of a wider runtime class still serve
    assert(cat.driverPointGet("ords",
      java.lang.Double.valueOf(5.0)).map(_.getLong(0)) == Seq(5L))
  }

  test("float-key range bounds never widen past the requested double range") {
    val cat = freshCat("flt")
    if (cat.tableExists("fkv")) cat.dropTable("fkv")
    cat.createTable("fkv", StructType(Seq(
      StructField("k", FloatType, false),
      StructField("v", LongType, true))), Seq("k"))
    cat.bulkLoad("fkv", spark.createDataFrame(
      Seq((0.1f, 1L), (0.2f, 2L), (0.3f, 3L), (0.5f, 5L)))
      .toDF("k", "v"))
    // 0.1f as a double is 0.10000000149…; a lo bound just above the
    // float (but below the next float up) must exclude the 0.1f row —
    // round-to-nearest floatValue() would round back DOWN to 0.1f and
    // admit it
    val loAbove = 0.1f.toDouble + 1e-9
    val got = cat.driverRangeScan("fkv", loAbove, 0.4)
      .map(_.getLong(1)).sorted
    val viaSpark = cat.table("fkv").df
      .filter(col("k") >= loAbove && col("k") <= 0.4)
      .collect().map(_.getAs[Long]("v")).sorted.toSeq
    assert(got == viaSpark)
    assert(!got.contains(1L))
    // and a hi bound just below a stored float excludes it the same way
    val hiBelow = 0.5f.toDouble - 1e-9
    val got2 = cat.driverRangeScan("fkv", 0.0, hiBelow).map(_.getLong(1)).sorted
    assert(got2 == Seq(1L, 2L, 3L) && !got2.contains(5L))
  }

  test("driver full-text search matches the Spark segmented view with zero jobs") {
    import spark.implicits._
    val cat = freshCat("ftsearch")
    if (cat.tableExists("ftd")) cat.dropTable("ftd")
    cat.createTable("ftd", StructType(Seq(
      StructField("k", LongType, false),
      StructField("body", StringType, true))), Seq("k"))
    cat.bulkLoad("ftd", graft.Tables.documents(spark, sf)
      .filter(col("doc_id") < 200)
      .select(col("doc_id").as("k"), col("text").as("body")), partitions = 4)
    cat.createIndex("ftd", "ft", "fulltext", Seq("body"))
    // CDC freshness: doc 5 rewritten (old terms must be masked by the
    // tombstone), one doc inserted — the driver path reads THROUGH
    // the base+segment−tombstone stack, not just the base
    cat.incrementalMerge("ftd", Seq(
      (5L, "graft tomb probe body"),
      (900001L, "graft fresh body")).toDF("k", "body"))
    val pre5Terms = graft.Tables.documents(spark, sf)
      .filter(col("doc_id") === 5).select(col("text")).head().getString(0)
      .toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
    def sparkPath(terms: Seq[String]): Seq[Long] = {
      val view = cat.indexData("ftd", "ft", "fulltext")
      graft.index.FullText.searchAll(cat.table("ftd").df, "k", view, terms)
        .select(col("k")).collect().map(_.getLong(0)).toSeq.sorted
    }
    def driverPath(terms: Seq[String]): Seq[Long] =
      cat.driverFtSearch("ftd", "ft", terms).map(_.asInstanceOf[Long]).sorted
    // merge-only term, corpus terms, and an AND — hash-for-hash vs
    // the Spark segmented view
    for (probe <- Seq(Seq("graft"), Seq("spark"), Seq("spark", "join"),
        Seq("tomb"), Seq(pre5Terms.head))) {
      assert(driverPath(probe) == sparkPath(probe),
        s"driver/Spark divergence for $probe")
    }
    // freshness pinned directly: doc 5 serves its NEW terms only
    assert(driverPath(Seq("tomb")).contains(5L))
    val firstUnique = pre5Terms.distinct
    // every pre-merge doc-5-only posting is masked: doc 5 appears for
    // a pre-merge term ONLY if other docs carry it (spot-check via
    // the Spark path equality above); the tombstone itself is pinned
    // by the 'graft' AND 'fresh' insert arriving whole
    assert(driverPath(Seq("graft")).toSet == Set(5L, 900001L))
    assert(firstUnique.nonEmpty) // guard the plant stays meaningful
    // zero Spark jobs on the warm driver path
    @volatile var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(cat.driverFtSearch("ftd", "ft", Seq("graft")).nonEmpty)
      Thread.sleep(800)
      assert(jobs == 0, s"driver ft search scheduled $jobs Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
    // analyzed index: the english analyzer's stem/stopword chain runs
    // on the QUERY terms too, and all-stopword queries fail loudly
    cat.createIndex("ftd", "aft", "fulltext", Seq("body"), analyzer = "english")
    val viaStem = cat.driverFtSearch("ftd", "aft", Seq("sparks", "the"))
      .map(_.asInstanceOf[Long]).sorted
    val sparkStem = {
      val view = cat.indexData("ftd", "aft", "fulltext")
      graft.index.FullText.searchAllAnalyzed(cat.table("ftd").df, "k",
          view, Seq("sparks", "the"), "english")
        .select(col("k")).collect().map(_.getLong(0)).toSeq.sorted
    }
    assert(viaStem == sparkStem && viaStem.nonEmpty)
    intercept[IllegalArgumentException](
      cat.driverFtSearch("ftd", "aft", Seq("the", "of")))
    // phrase path: adjacency through the positional stack agrees with
    // the Spark positional view, with zero jobs on the warm path
    def sparkPhrase(index: String, ph: String): Seq[Long] =
      graft.index.FullText.searchPhrase(cat.table("ftd").df, "k",
          cat.indexPositional("ftd", index, "fulltext"), ph)
        .select(col("k")).collect().map(_.getLong(0)).toSeq.sorted
    for (ph <- Seq("graft tomb", "tomb probe", "spark join", "graft fresh")) {
      val viaDriver = cat.driverFtPhrase("ftd", "ft", ph)
        .map(_.asInstanceOf[Long]).sorted
      assert(viaDriver == sparkPhrase("ft", ph),
        s"driver/Spark phrase divergence for '$ph'")
    }
    assert(cat.driverFtPhrase("ftd", "ft", "graft tomb")
      .map(_.asInstanceOf[Long]) == Seq(5L))
    val listener2 = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = jobs += 1
    }
    val before = jobs
    spark.sparkContext.addSparkListener(listener2)
    try {
      assert(cat.driverFtPhrase("ftd", "ft", "graft fresh").nonEmpty)
      Thread.sleep(800)
      assert(jobs == before, "driver phrase search scheduled Spark jobs")
    } finally spark.sparkContext.removeSparkListener(listener2)
    // PREFIX serving: one term-range seek per artifact — agrees with
    // the Spark prefix search through the same segmented view, and a
    // merge-only prefix proves the segment arm; zero jobs on the warm
    // path like its siblings
    def sparkPrefix(pre: String): Seq[Long] =
      graft.index.FullText.searchPrefix(cat.table("ftd").df, "k",
          cat.indexData("ftd", "ft", "fulltext"), pre)
        .select(col("k")).collect().map(_.getLong(0)).toSeq.sorted
    for (pre <- Seq("graf", "tom", "spar", "z")) {
      assert(cat.driverFtPrefix("ftd", "ft", pre)
        .map(_.asInstanceOf[Long]).sorted == sparkPrefix(pre),
        s"driver/Spark prefix divergence for '$pre'")
    }
    assert(cat.driverFtPrefix("ftd", "ft", "graf")
      .map(_.asInstanceOf[Long]).toSet == Set(5L, 900001L))
    val listener3 = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = jobs += 1
    }
    val before3 = jobs
    spark.sparkContext.addSparkListener(listener3)
    try {
      assert(cat.driverFtPrefix("ftd", "ft", "graf").nonEmpty)
      Thread.sleep(800)
      assert(jobs == before3, "driver prefix search scheduled Spark jobs")
    } finally spark.sparkContext.removeSparkListener(listener3)
  }

  test("manifest rowkey blooms veto point-get misses before any footer read") {
    import TestSpark.spark.implicits._
    val cat = freshCat("bloomveto")
    if (cat.tableExists("bv")) cat.dropTable("bv")
    cat.createTable("bv", StructType(Seq(
      StructField("k", LongType, false),
      StructField("v", StringType, true))), Seq("k"))
    // sparse keys (evens only): an ODD probe key sits INSIDE every
    // range bound, so range pruning cannot exclude a single file —
    // only the bloom can
    cat.bulkLoad("bv",
      (0L until 4000L by 2).map(k => (k, s"v$k")).toDF("k", "v"),
      partitions = 4)
    // one merge materializes the bloom-bearing manifest on the live
    // snapshot (the z-manifest test's recipe)
    cat.incrementalMerge("bv", Seq((0L, "v0b")).toDF("k", "v"))
    val dir = Paths.get(cat.warehouse, "bv",
      s"data_v${cat.dataVersionOf("bv")}")
    val json = java.nio.file.Files.readString(dir.resolve("_graft_ranges.json"))
    assert(json.contains("\"bloom\""), "manifest lacks per-file blooms")
    // warm the footer cache with a PRESENT key first, so the absent
    // probe's footer count isolates the bloom veto
    assert(cat.driverPointGet("bv", 2000L).nonEmpty)
    val beforeFooter = DriverRead.footerReadCount.get()
    val beforeSkip = DriverRead.bloomSkipCount.get()
    assert(cat.driverPointGet("bv", 2001L).isEmpty)
    assert(DriverRead.bloomSkipCount.get() > beforeSkip,
      "the bloom never vetoed a file for an absent in-range key")
    assert(DriverRead.footerReadCount.get() == beforeFooter,
      "an absent-key get opened parquet footers despite the blooms")
    // mixed multi-get still serves the present keys exactly
    val got = cat.driverMultiGet("bv", Seq(Seq(10L), Seq(11L), Seq(3998L)))
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((10L, "v10"), (3998L, "v3998")))
    // and the rewritten key serves its merged value through the fresh
    // manifest
    assert(cat.driverPointGet("bv", 0L).head.getString(1) == "v0b")
  }

  test("bloom sidecar: past the threshold the bitsets spill beside the manifest, veto intact") {
    import TestSpark.spark.implicits._
    val cat = freshCat("bloomsc")
    if (cat.tableExists("bsc")) cat.dropTable("bsc")
    cat.createTable("bsc", StructType(Seq(
      StructField("k", LongType, false),
      StructField("v", StringType, true))), Seq("k"))
    cat.bulkLoad("bsc",
      (0L until 4000L by 2).map(k => (k, s"v$k")).toDF("k", "v"),
      partitions = 4)
    // force the sidecar arm: ANY bloom bytes exceed a 1-byte threshold
    spark.conf.set("spark.graft.manifest.bloomSidecarBytes", "1")
    try {
      cat.incrementalMerge("bsc", Seq((0L, "v0b")).toDF("k", "v"))
      val dir = Paths.get(cat.warehouse, "bsc",
        s"data_v${cat.dataVersionOf("bsc")}")
      val json = java.nio.file.Files.readString(dir.resolve("_graft_ranges.json"))
      assert(!json.contains("\"bloom\""),
        "manifest still inlines base64 bitsets past the sidecar threshold")
      assert(json.contains("\"bloomref\""), "manifest lacks a sidecar reference")
      val sidecars = java.nio.file.Files.list(dir).iterator()
      val scNames = scala.collection.mutable.ArrayBuffer[String]()
      while (sidecars.hasNext) {
        val n = sidecars.next().getFileName.toString
        if (n.startsWith("_graft_blooms_")) scNames += n
      }
      assert(scNames.size == 1, s"expected one sidecar, found $scNames")
      assert(json.contains(scNames.head),
        "manifest does not reference the sidecar it was written with")
      // the veto still works from the sidecar bitsets: absent in-range
      // key → files skipped BEFORE any footer read
      assert(cat.driverPointGet("bsc", 2000L).nonEmpty) // warm footers
      val beforeFooter = DriverRead.footerReadCount.get()
      val beforeSkip = DriverRead.bloomSkipCount.get()
      assert(cat.driverPointGet("bsc", 2001L).isEmpty)
      assert(DriverRead.bloomSkipCount.get() > beforeSkip,
        "sidecar blooms never vetoed a file for an absent in-range key")
      assert(DriverRead.footerReadCount.get() == beforeFooter,
        "an absent-key get opened parquet footers despite sidecar blooms")
      // served values are unaffected by where the bitsets live
      assert(cat.driverPointGet("bsc", 0L).head.getString(1) == "v0b")
      assert(cat.driverPointGet("bsc", 10L).head.getString(1) == "v10")
      // a second merge re-addresses the sidecar and reaps the old one
      cat.incrementalMerge("bsc", Seq((2L, "v2b")).toDF("k", "v"))
      val dir2 = Paths.get(cat.warehouse, "bsc",
        s"data_v${cat.dataVersionOf("bsc")}")
      val sc2 = java.nio.file.Files.list(dir2).iterator()
      var n2 = 0
      while (sc2.hasNext) {
        if (sc2.next().getFileName.toString.startsWith("_graft_blooms_")) n2 += 1
      }
      assert(n2 == 1, s"superseded sidecars not reaped (found $n2)")
      assert(cat.driverPointGet("bsc", 2L).head.getString(1) == "v2b")
    } finally spark.conf.unset("spark.graft.manifest.bloomSidecarBytes")
  }

  test("driver ranked BM25 top-k: WAND-equal, CDC-fresh, zero jobs, blocks really pruned") {
    import spark.implicits._
    val cat = freshCat("fttopk")
    if (cat.tableExists("ftr")) cat.dropTable("ftr")
    cat.createTable("ftr", StructType(Seq(
      StructField("k", LongType, false),
      StructField("body", StringType, true))), Seq("k"))
    // 500 docs => 8 doc-id blocks of 64 — enough block space for the
    // pruning observable to mean something
    cat.bulkLoad("ftr", graft.Tables.documents(spark, sf)
      .filter(col("doc_id") < 500)
      .select(col("doc_id").as("k"), col("text").as("body")), partitions = 4)
    cat.createIndex("ftr", "ft", "fulltext", Seq("body"))
    // CDC: doc 5 rewritten, plus a PLANTED heavy hitter whose exact
    // score towers over every base block's upper bound — it arrives
    // through a SEGMENT (outside the block summary), so finding it
    // ranked first proves the segment arm, and the θ it sets is what
    // makes base blocks prunable
    val heavy = ("spark join " * 40).trim
    cat.incrementalMerge("ftr", Seq(
      (5L, "graft tomb probe body"),
      (900001L, heavy)).toDF("k", "body"))
    // Spark-path ground truth over the SAME segmented view, scalars
    // derived the way the norms artifact defines them (docs with >= 1
    // token)
    val view = cat.indexData("ftr", "ft", "fulltext").cache()
    try {
      val dict = cat.indexDictionary("ftr", "ft", "fulltext")
      val doclens = graft.index.FullText.buildDocLens(view).cache()
      val agg = doclens.agg(count(lit(1)), sum(col("dl"))).head()
      val nDocs = agg.getLong(0)
      val avgdl = agg.getLong(1).toDouble / nDocs
      val blockmax = graft.index.FullText.buildBlockMax(
        view, doclens, dict, nDocs, avgdl)
      def sparkTop(terms: Seq[String], k: Int): Seq[(Long, Double)] =
        graft.index.FullText.bm25WandTopK(view, dict, doclens, blockmax,
            nDocs, avgdl, terms, k)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      def driverTop(terms: Seq[String], k: Int): Seq[(Long, Double)] =
        cat.driverFtTopK("ftr", "ft", terms, k)
          .map { case (id, s) => (id.asInstanceOf[Long], s) }
      // hash-for-hash with the Spark WAND path: common terms, a
      // merge-only term, a single rare term
      for ((terms, k) <- Seq(
          (Seq("spark", "join"), 10),
          (Seq("graft"), 5),
          (Seq("tomb"), 5),
          (Seq("spark"), 20))) {
        assert(driverTop(terms, k) == sparkTop(terms, k),
          s"driver/Spark ranked divergence for $terms@$k")
      }
      // CDC freshness: the planted segment doc ranks FIRST (its tf
      // dwarfs the corpus), and rewritten doc 5 serves its new term
      assert(driverTop(Seq("spark", "join"), 10).head._1 == 900001L)
      assert(driverTop(Seq("tomb"), 5).map(_._1).contains(5L))
      // pruning is REAL: with θ set by the planted doc, base blocks
      // below it are never read (seed + survivors < all blocks)
      val (rows, blocksTotal, blocksRead) = cat.driverFtTopKStats(
        "ftr", "ft", Seq("spark", "join"), 1, 1.2, 0.75, 2, 100000)
      assert(rows.head._1 == 900001L)
      assert(blocksTotal >= 5, s"corpus spans only $blocksTotal blocks")
      assert(blocksRead < blocksTotal,
        s"no block pruned: read $blocksRead of $blocksTotal")
      // zero Spark jobs on the warm ranked path
      @volatile var jobs = 0
      val listener = new SparkListener {
        override def onJobStart(s: SparkListenerJobStart): Unit = jobs += 1
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        assert(cat.driverFtTopK("ftr", "ft", Seq("spark", "join"), 10).nonEmpty)
        Thread.sleep(800)
        assert(jobs == 0, s"driver ranked top-k scheduled $jobs Spark job(s)")
      } finally spark.sparkContext.removeSparkListener(listener)
    } finally { view.unpersist(); () }
  }

  test("driver fuzzy serving: Spark-equal, CDC-fresh, zero jobs, band-seek bounded") {
    import spark.implicits._
    val cat = freshCat("ftfuzzy")
    if (cat.tableExists("ftz")) cat.dropTable("ftz")
    cat.createTable("ftz", StructType(Seq(
      StructField("k", LongType, false),
      StructField("body", StringType, true))), Seq("k"))
    cat.bulkLoad("ftz", graft.Tables.documents(spark, sf)
      .filter(col("doc_id") < 200)
      .select(col("doc_id").as("k"), col("text").as("body")), partitions = 4)
    cat.createIndex("ftz", "ft", "fulltext", Seq("body"))
    // CDC: doc 7 first carries a unique marker term, then a SECOND
    // merge rewrites it away — its df goes 1 → 0 through the delta
    // stack, so a fuzzy probe must stop matching it (deletion arm);
    // doc 900001's 'zzyqx' exists ONLY via the dictdelta (birth arm)
    cat.incrementalMerge("ftz", Seq(
      (7L, "qwxzt marker body"),
      (900001L, "zzyqx fresh body")).toDF("k", "body"))
    cat.incrementalMerge("ftz", Seq(
      (7L, "plain replacement body")).toDF("k", "body"))
    def sparkFuzzy(t: String, e: Int): Seq[Long] =
      graft.index.FullText.searchFuzzy(cat.table("ftz").df, "k",
          cat.indexData("ftz", "ft", "fulltext"),
          cat.indexDictionary("ftz", "ft", "fulltext"), t, e)
        .select(col("k")).collect().map(_.getLong(0)).toSeq.sorted
    def driverFuzzy(t: String, e: Int): Seq[Long] =
      cat.driverFtFuzzy("ftz", "ft", t, e).map(_.asInstanceOf[Long]).sorted
    // hash-for-hash with the Spark path through the same segmented
    // view: corpus terms at 1 and 2 edits, the delta-born term, and
    // the deleted term
    for ((t, e) <- Seq(("spark", 1), ("part", 2), ("zzyqy", 1),
        ("qwxzs", 1), ("join", 1))) {
      assert(driverFuzzy(t, e) == sparkFuzzy(t, e),
        s"driver/Spark fuzzy divergence for '$t'@$e")
    }
    // the delta-BORN term matches (df folds +1 from the dictdelta)...
    assert(driverFuzzy("zzyqy", 1) == Seq(900001L))
    // ...and the delta-DELETED term does not (df folded back to 0);
    // guard that nothing else accidentally matches the probe
    assert(!driverFuzzy("qwxzs", 1).contains(7L))
    // banded seek is REAL: a long probe term reads only its [len−1,
    // len+1] sidecar bands, a small fraction of the vocabulary. The
    // probe's band must hold rows ('customer', 8 letters), or a band
    // that reads nothing would pass the bound vacuously
    val vocab = cat.indexDictionary("ftz", "ft", "fulltext").count()
    val (bandHits, bandRows) = cat.driverFtFuzzyStats("ftz", "ft",
      "customers", 1, 100000)
    assert(bandRows > 0 && bandHits.nonEmpty,
      s"the probe's band read $bandRows rows and matched $bandHits")
    assert(bandRows.toLong * 3 < vocab,
      s"band seek read $bandRows of $vocab dictionary rows")
    // zero Spark jobs on the warm fuzzy path
    @volatile var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(cat.driverFtFuzzy("ftz", "ft", "spark", 1).nonEmpty)
      Thread.sleep(800)
      assert(jobs == 0, s"driver fuzzy search scheduled $jobs Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
    // contracts: Lucene's maxEdits bound, one-token probes only
    intercept[IllegalArgumentException](
      cat.driverFtFuzzy("ftz", "ft", "spark", 3))
    intercept[IllegalArgumentException](
      cat.driverFtFuzzy("ftz", "ft", "two words"))
    // FOLD the stack (compact_index): the fz sidecar rebuilds at the
    // folded dict version, the delta fold restarts from it — served
    // answers must not move
    cat.compactIndex("ftz", "ft", "fulltext")
    for ((t, e) <- Seq(("spark", 1), ("zzyqy", 1), ("qwxzs", 1))) {
      assert(driverFuzzy(t, e) == sparkFuzzy(t, e),
        s"post-fold driver/Spark fuzzy divergence for '$t'")
    }
    assert(driverFuzzy("zzyqy", 1) == Seq(900001L))
    // a delta ABOVE the folded fz base folds on top of it
    cat.incrementalMerge("ftz", Seq(
      (8L, "vvqpt newterm body")).toDF("k", "body"))
    assert(driverFuzzy("vvqps", 1) == Seq(8L),
      "a post-fold dictdelta-born term did not match")
    assert(driverFuzzy("vvqps", 1) == sparkFuzzy("vvqps", 1))
    // an index that lost its fz sidecar fails loudly
    // and refresh_index heals it
    val fzDir = Paths.get(cat.warehouse, "ftz.fulltext.ft")
    val fzDirs = java.nio.file.Files.list(fzDir).iterator()
    val toKill = new scala.collection.mutable.ListBuffer[java.nio.file.Path]()
    while (fzDirs.hasNext) {
      val p = fzDirs.next()
      if (p.getFileName.toString.startsWith("fz")) toKill += p
    }
    assert(toKill.nonEmpty, "no fz sidecar was ever written")
    toKill.foreach { p =>
      import scala.collection.JavaConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    val err = intercept[IllegalArgumentException](
      cat.driverFtFuzzy("ftz", "ft", "spark", 1))
    assert(err.getMessage.contains("refresh_index"))
    cat.refreshIndex("ftz", "ft", "fulltext")
    assert(driverFuzzy("spark", 1) == sparkFuzzy("spark", 1))
    // an ENGLISH index's dictionary holds stemmed terms — fuzzy (not
    // analyzed, the FuzzyQuery contract) expands against those
    // indexed forms on both paths identically
    cat.createIndex("ftz", "aft", "fulltext", Seq("body"),
      analyzer = "english")
    def sparkFuzzyEn(t: String, e: Int): Seq[Long] =
      graft.index.FullText.searchFuzzy(cat.table("ftz").df, "k",
          cat.indexData("ftz", "aft", "fulltext"),
          cat.indexDictionary("ftz", "aft", "fulltext"), t, e)
        .select(col("k")).collect().map(_.getLong(0)).toSeq.sorted
    for ((t, e) <- Seq(("spark", 1), ("join", 1), ("part", 2))) {
      assert(cat.driverFtFuzzy("ftz", "aft", t, e)
        .map(_.asInstanceOf[Long]).sorted == sparkFuzzyEn(t, e),
        s"driver/Spark english-fuzzy divergence for '$t'@$e")
    }
    assert(sparkFuzzyEn("spark", 1).nonEmpty)
  }

  test("ranked + OR-mode serving survive negative rowkeys (signed block ranges)") {
    import spark.implicits._
    val cat = freshCat("ftneg")
    if (cat.tableExists("ftn")) cat.dropTable("ftn")
    cat.createTable("ftn", StructType(Seq(
      StructField("k", LongType, false),
      StructField("body", StringType, true))), Seq("k"))
    // keys span −250..249: the negative half's doc-id blocks come back
    // from bmx as huge UNSIGNED ids whose reconstructed lo wraps
    // negative — pre-fix, merging block-id-sorted ranges silently
    // absorbed the negative-lo ranges and never read their postings
    cat.bulkLoad("ftn", graft.Tables.documents(spark, sf)
      .filter(col("doc_id") < 500)
      .select((col("doc_id") - 250L).as("k"), col("text").as("body")),
      partitions = 4)
    cat.createIndex("ftn", "ft", "fulltext", Seq("body"))
    cat.incrementalMerge("ftn", Seq(
      (-5L, "graft tomb probe body")).toDF("k", "body"))
    val view = cat.indexData("ftn", "ft", "fulltext").cache()
    try {
      val dict = cat.indexDictionary("ftn", "ft", "fulltext")
      val doclens = graft.index.FullText.buildDocLens(view)
      val agg = doclens.agg(count(lit(1)), sum(col("dl"))).head()
      val nDocs = agg.getLong(0)
      val avgdl = agg.getLong(1).toDouble / nDocs
      val blockmax = graft.index.FullText.buildBlockMax(
        view, doclens, dict, nDocs, avgdl)
      def sparkTop(terms: Seq[String], k: Int): Seq[(Long, Double)] =
        graft.index.FullText.bm25WandTopK(view, dict, doclens, blockmax,
            nDocs, avgdl, terms, k)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      for ((terms, k) <- Seq(
          (Seq("spark", "join"), 20),
          (Seq("spark"), 50),
          (Seq("tomb"), 5))) {
        val driver = cat.driverFtTopK("ftn", "ft", terms, k)
          .map { case (id, s) => (id.asInstanceOf[Long], s) }
        assert(driver == sparkTop(terms, k),
          s"driver/Spark ranked divergence on mixed-sign keys for $terms")
        // the result must genuinely span both sign halves or the
        // regression guard guards nothing
        if (k >= 20) {
          assert(driver.exists(_._1 < 0L) && driver.exists(_._1 >= 0L),
            s"top-$k never crossed the sign boundary for $terms")
        }
      }
      // the rewritten negative key serves its new term (norms +
      // tombstone masking in negative key space)
      assert(cat.driverFtTopK("ftn", "ft", Seq("tomb"), 5)
        .map(_._1.asInstanceOf[Long]).contains(-5L))
    } finally { view.unpersist(); () }
  }

  test("OR-mode ranked serving scores SHOULD-clause matches (skewed term pair)") {
    import spark.implicits._
    val cat = freshCat("ftortopk")
    if (cat.tableExists("fto")) cat.dropTable("fto")
    cat.createTable("fto", StructType(Seq(
      StructField("k", LongType, false),
      StructField("body", StringType, true))), Seq("k"))
    cat.bulkLoad("fto", graft.Tables.documents(spark, sf)
      .filter(col("doc_id") < 500)
      .select(col("doc_id").as("k"), col("text").as("body")), partitions = 4)
    cat.createIndex("fto", "ft", "fulltext", Seq("body"))
    // the rare term lives ONLY in the CDC segment — a doc matching
    // ONLY it must still rank (BooleanQuery SHOULD, not MUST)
    cat.incrementalMerge("fto", Seq(
      (900001L, "graftonly graftonly graftonly body")).toDF("k", "body"))
    val top = cat.driverFtTopK("fto", "ft", Seq("spark", "graftonly"), 15)
      .map { case (id, s) => (id.asInstanceOf[Long], s) }
    // the single-term segment doc ranks (its tf·idf dwarfs common
    // 'spark' matches), and common-term-only docs rank beside it:
    // genuinely disjunctive scoring
    assert(top.map(_._1).contains(900001L),
      "a SHOULD-only match was dropped from the ranking")
    assert(top.map(_._1).exists(_ != 900001L))
    // pruning observable on the skewed corpus, zero jobs
    val (rows, blocksTotal, blocksRead) = cat.driverFtTopKStats(
      "fto", "ft", Seq("spark", "graftonly"), 1, 1.2, 0.75, 2, 100000)
    assert(rows.head._1 == 900001L)
    assert(blocksTotal >= 5 && blocksRead < blocksTotal,
      s"no block pruned under the skewed pair: $blocksRead of $blocksTotal")
    @volatile var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(cat.driverFtTopK("fto", "ft", Seq("spark", "graftonly"), 10).nonEmpty)
      Thread.sleep(800)
      assert(jobs == 0, s"OR-mode ranked serving scheduled $jobs Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("driver snippet serving: Spark-equal, CDC-fresh, zero jobs") {
    import spark.implicits._
    val cat = freshCat("ftsnip")
    if (cat.tableExists("fts")) cat.dropTable("fts")
    cat.createTable("fts", StructType(Seq(
      StructField("k", LongType, false),
      StructField("body", StringType, true))), Seq("k"))
    cat.bulkLoad("fts", graft.Tables.documents(spark, sf)
      .filter(col("doc_id") < 200)
      .select(col("doc_id").as("k"), col("text").as("body")), partitions = 4)
    cat.createIndex("fts", "ft", "fulltext", Seq("body"))
    cat.incrementalMerge("fts", Seq(
      (5L, "graft tomb probe body tomb"),
      (900001L, "graft fresh tomb body")).toDF("k", "body"))
    def sparkSnip(term: String): Seq[(Long, Int, Long, String)] =
      graft.index.FullText.snippets(cat.table("fts").df, "k", "body",
          cat.indexPositional("fts", "ft", "fulltext"), term)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getString(3))).toSeq.sortBy(_._1)
    def driverSnip(term: String): Seq[(Long, Int, Long, String)] =
      cat.driverFtSnippet("fts", "ft", term)
        .map { case (id, f, c, s) => (id.asInstanceOf[Long], f, c, s) }
        .sortBy(_._1)
    for (term <- Seq("tomb", "graft", "spark", "stream")) {
      assert(driverSnip(term) == sparkSnip(term),
        s"driver/Spark snippet divergence for '$term'")
    }
    // CDC freshness: doc 5's snippet comes from its REWRITTEN text
    // (two 'tomb' hits, first at position 2), never the pre-merge body
    val d5 = driverSnip("tomb").find(_._1 == 5L).get
    assert(d5 == ((5L, 2, 2L, "graft tomb probe body tomb")))
    @volatile var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(cat.driverFtSnippet("fts", "ft", "graft").nonEmpty)
      Thread.sleep(800)
      assert(jobs == 0, s"driver snippet serving scheduled $jobs Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
    // FOLD the stack: positions fold into pos_v(upTo) and the served
    // snippets must not move
    cat.compactIndex("fts", "ft", "fulltext")
    for (term <- Seq("tomb", "graft", "spark")) {
      assert(driverSnip(term) == sparkSnip(term),
        s"post-fold driver/Spark snippet divergence for '$term'")
    }
    assert(driverSnip("tomb").find(_._1 == 5L).get ==
      ((5L, 2, 2L, "graft tomb probe body tomb")))
  }

  test("driver bitmap serving folds base+segment-tombstone, zero jobs") {
    import spark.implicits._
    val cat = freshCat("msbm")
    if (cat.tableExists("bmo")) cat.dropTable("bmo")
    val slice = graft.Tables.orders(spark, sf)
      .filter(col("o_orderkey") < 3000)
      .select(col("o_orderkey"), col("o_orderstatus"))
    cat.createTable("bmo", slice.schema, Seq("o_orderkey"))
    cat.bulkLoad("bmo", slice, partitions = 2)
    cat.createIndex("bmo", "bst", "bitmap", Seq("o_orderstatus"))
    val minKey = slice.agg(min(col("o_orderkey"))).head().getLong(0)
    cat.incrementalMerge("bmo", Seq(
      (minKey, "G"), (9000001L, "G")).toDF("o_orderkey", "o_orderstatus"))
    def sparkIds(v: String): Seq[Long] =
      graft.index.BitmapIndex.lookupIds(
          cat.indexData("bmo", "bst", "bitmap"), v)
        .collect().map(_.getLong(0)).toSeq.sorted
    for (v <- Seq("F", "O", "P", "G")) {
      assert(cat.driverBitmapIds("bmo", "bst", v) == sparkIds(v),
        s"driver/Spark bitmap divergence for '$v'")
    }
    // segment arm: 'G' holds exactly the rewritten min key + the
    // merge-inserted key; tombstone arm: the min key's OLD status no
    // longer serves it
    assert(cat.driverBitmapIds("bmo", "bst", "G") == Seq(minKey, 9000001L))
    val oldStatus = slice.filter(col("o_orderkey") === minKey)
      .head().getString(1)
    assert(!cat.driverBitmapIds("bmo", "bst", oldStatus).contains(minKey),
      "the rewritten row's old bit was not tombstone-masked")
    @volatile var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(cat.driverBitmapIds("bmo", "bst", "G").nonEmpty)
      Thread.sleep(800)
      assert(jobs == 0, s"driver bitmap serving scheduled $jobs Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
    // serving contract: an over-hot value fails loudly onto Spark
    intercept[IllegalArgumentException](
      cat.driverBitmapIds("bmo", "bst", "F", maxIds = 1))
    // RANGE serving: ['F','O'] spans base values AND the segment's
    // 'G'; equality with the Spark segmented range composition, and
    // the segment keys provably inside
    def sparkRange(lo: String, hi: String): Seq[Long] =
      graft.index.BitmapIndex.rangeIds(
          cat.indexData("bmo", "bst", "bitmap"), lo, hi)
        .collect().map(_.getLong(0)).toSeq.sorted
    assert(cat.driverBitmapRangeIds("bmo", "bst", "F", "O") ==
      sparkRange("F", "O"))
    assert(cat.driverBitmapRangeIds("bmo", "bst", "F", "O")
      .contains(9000001L))
    assert(cat.driverBitmapRangeIds("bmo", "bst", "P", "P") ==
      sparkIds("P"))
    intercept[IllegalArgumentException](
      cat.driverBitmapRangeIds("bmo", "bst", "F", "P", maxIds = 3))
    // FOLD the stack: the folded base must serve the identical sets
    // with the segments and tombstones gone
    cat.compactIndex("bmo", "bst", "bitmap")
    for (v <- Seq("F", "O", "P", "G")) {
      assert(cat.driverBitmapIds("bmo", "bst", v) == sparkIds(v),
        s"post-fold driver/Spark bitmap divergence for '$v'")
    }
    assert(cat.driverBitmapIds("bmo", "bst", "G") == Seq(minKey, 9000001L))
    assert(cat.driverBitmapRangeIds("bmo", "bst", "F", "O") ==
      sparkRange("F", "O"))
  }

  test("driver vector serving: ivfSearch-equal, CDC-fresh, zero jobs, probe-bounded") {
    import spark.implicits._
    val cat = freshCat("msann")
    if (cat.tableExists("emb")) cat.dropTable("emb")
    val e = graft.Tables.embeddings(spark, sf)
    cat.createTable("emb", e.schema, Seq("vec_id"))
    cat.bulkLoad("emb", e, partitions = 2)
    cat.createIndex("emb", "ann", "vector", Seq("embedding"))
    // CDC: exact copies of vec_id<5 planted at +1e6, AND vec_id 7
    // REWRITTEN to vec_id 3's embedding — the rewrite tombstones 7's
    // old entry and appends a fresh encoding in the segment
    val v3 = e.filter($"vec_id" === 3L).head().getSeq[Float](1)
    cat.incrementalMerge("emb",
      e.filter($"vec_id" < 5)
        .withColumn("vec_id", $"vec_id" + graft.Tables.PlantedIdBase)
        .unionByName(e.filter($"vec_id" === 7L)
          .withColumn("embedding", typedLit(v3))))
    val (view, cent, _) = cat.vectorIndexView("emb", "ann")
    val idx = graft.similarity.VectorIndex.ivfOf(cent, view)
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val qdf = e.filter($"vec_id" < 5).select($"vec_id", $"embedding")
    // rank parity with ivfSearch over the segmented view, per query
    val viaSpark = graft.similarity.Ann
      .ivfSearch(idx, qdf, "vec_id", "embedding", k = 5, nprobe = 4)
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getLong(2),
        r.getDouble(3)))).groupBy(_._1).view.mapValues(
        _.map(_._2).sortBy(_._1).toSeq).toMap
    val qvecs = qdf.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    qids.foreach { qid =>
      val got = cat.driverAnnTopK("emb", "ann", qvecs(qid), k = 5,
          nprobe = 4, exclude = Some(qid))
        .zipWithIndex.map { case ((nn, s), i) =>
          (i + 1, nn.asInstanceOf[Long], s) }
      assert(got == viaSpark(qid),
        s"driver/ivfSearch divergence for query $qid")
      // CDC freshness: the merge-inserted exact copy surfaces at 1.0
      // (rank 1 for every query but 3, whose rewritten twin 7 — also
      // at 1.0 — wins the rowkey tie-break)
      assert(got.exists { case (_, nn, s) =>
        nn == qid + graft.Tables.PlantedIdBase && s == 1.0 },
        s"query $qid's planted copy did not surface at score 1.0")
      if (qid != 3L)
        assert(got.head._2 == qid + graft.Tables.PlantedIdBase &&
          got.head._3 == 1.0,
          s"query $qid's planted copy did not surface at rank 1")
    }
    // BATCH face: one shared artifact pass (union of probed lists),
    // per-query results identical to the per-query calls above — the
    // two faces share driverAnnTopKBatchCore, and this pins that the
    // union-read + per-query cut cannot diverge from a solo probe
    val viaBatch = cat.driverAnnTopKBatch("emb", "ann",
      qids.map(q => (qvecs(q), Some(q: Any))), k = 5, nprobe = 4)
    qids.zip(viaBatch).foreach { case (qid, got) =>
      assert(got == cat.driverAnnTopK("emb", "ann", qvecs(qid), k = 5,
        nprobe = 4, exclude = Some(qid)),
        s"batch/single serving divergence for query $qid")
    }
    // tombstone mask: 7's OLD encoding must no longer serve — its old
    // vector's search cannot return 7 at score 1.0 (the rewrite gave 7
    // vec_id 3's embedding), while 3's vector finds the REWRITTEN 7
    val old7 = e.filter($"vec_id" === 7L).head()
      .getSeq[Float](1).map(_.toDouble)
    val hits7 = cat.driverAnnTopK("emb", "ann", old7, k = 5, nprobe = 4)
    assert(!hits7.exists { case (nn, s) => nn == 7L && s == 1.0 },
      "the rewritten row's old encoding still serves (tombstone unmasked)")
    assert(cat.driverAnnTopK("emb", "ann", qvecs(3L), k = 5, nprobe = 4,
        exclude = Some(3L))
      .exists { case (nn, s) => nn == 7L && s == 1.0 },
      "the rewritten row's fresh encoding is not served")
    // probe-bounded: rows read ≪ corpus (the cluster-sorted seeks)
    val corpus = e.count()
    val (_, entriesRead) = cat.driverAnnTopKStats("emb", "ann", qvecs(0L),
      k = 5, nprobe = 4, exclude = Some(0L), maxEntries = 100000)
    assert(entriesRead > 0 && entriesRead < corpus * 0.6,
      s"probed-list read $entriesRead is not << corpus $corpus")
    // zero Spark jobs on the serving path
    @volatile var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(cat.driverAnnTopK("emb", "ann", qvecs(2L), k = 3,
        nprobe = 4, exclude = Some(2L)).nonEmpty)
      Thread.sleep(800)
      assert(jobs == 0, s"driver vector serving scheduled $jobs Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
    // serving contract: an over-wide probe fails loudly onto Spark
    intercept[IllegalArgumentException](
      cat.driverAnnTopK("emb", "ann", qvecs(0L), k = 3, maxEntries = 2))
    // FOLD the stack: the folded base serves identical ranks with the
    // segments and tombstones gone (fresh view — the fold re-trains)
    cat.compactIndex("emb", "ann", "vector")
    val (view2, cent2, _) = cat.vectorIndexView("emb", "ann")
    val idx2 = graft.similarity.VectorIndex.ivfOf(cent2, view2)
    val viaSpark2 = graft.similarity.Ann
      .ivfSearch(idx2, qdf, "vec_id", "embedding", k = 5, nprobe = 4)
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getLong(2),
        r.getDouble(3)))).groupBy(_._1).view.mapValues(
        _.map(_._2).sortBy(_._1).toSeq).toMap
    qids.foreach { qid =>
      val got = cat.driverAnnTopK("emb", "ann", qvecs(qid), k = 5,
          nprobe = 4, exclude = Some(qid))
        .zipWithIndex.map { case ((nn, s), i) =>
          (i + 1, nn.asInstanceOf[Long], s) }
      assert(got == viaSpark2(qid),
        s"post-fold driver/ivfSearch divergence for query $qid")
    }
  }

  test("SQL front door: CALL system.ms_* serves driver paths with zero jobs") {
    import spark.implicits._
    val cat = freshCat("sqlms")
    // fulltext arm: planted segmented corpus (rewritten 5, inserted
    // 900001) — the ftMsCatalog recipe, spec-local
    if (cat.tableExists("docs")) cat.dropTable("docs")
    cat.createTable("docs", StructType(Seq(
      StructField("k", LongType, false),
      StructField("body", StringType, true))), Seq("k"))
    cat.bulkLoad("docs", graft.Tables.documents(spark, sf)
      .filter(col("doc_id") < 120)
      .select(col("doc_id").as("k"), col("text").as("body")), partitions = 2)
    cat.createIndex("docs", "ft", "fulltext", Seq("body"))
    cat.incrementalMerge("docs", Seq(
      (5L, "graft segment merge engine"),
      (900001L, "graft posting engine")).toDF("k", "body"))
    // vector arm
    val e = graft.Tables.embeddings(spark, sf)
    if (cat.tableExists("emb")) cat.dropTable("emb")
    cat.createTable("emb", e.schema, Seq("vec_id"))
    cat.bulkLoad("emb", e, partitions = 2)
    cat.createIndex("emb", "ann", "vector", Seq("embedding"))
    val q0 = e.filter(col("vec_id") === 0L).head().getSeq[Float](1)
      .map(_.toDouble)
    val cname = "sqlms_" + java.lang.Integer.toHexString(cat.warehouse.hashCode)
    spark.conf.set(s"spark.sql.catalog.$cname",
      classOf[graft.kv.connector.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cname.warehouse", cat.warehouse)
    def call(sql: String) = spark.sql(s"CALL $cname.system.$sql").collect()
    // parity with the direct driver calls, every serving procedure
    assert(call("ms_get('docs', '5')").map(r => (r.getLong(0), r.getString(1)))
      .toSeq == Seq((5L, "graft segment merge engine")))
    assert(call("ms_get('docs', '900001')").map(_.getLong(0)).toSeq ==
      Seq(900001L))
    assert(call("ms_get('docs', '424242')").isEmpty)
    assert(call("ms_scan('docs', '3', '8')").map(_.getLong(0)).toSeq ==
      cat.driverRangeScan("docs", 3L, 8L).map(_.getLong(0)))
    assert(call("ms_search('docs', 'ft', 'graft engine')")
      .map(_.getLong(0)).toSeq ==
      cat.driverFtSearch("docs", "ft", Seq("graft", "engine"))
        .map(_.asInstanceOf[Long]))
    assert(call("ms_search('docs', 'ft', 'graft posting', 'any')")
      .map(_.getLong(0)).toSeq ==
      cat.driverFtSearchAny("docs", "ft", Seq("graft", "posting"))
        .map(_.asInstanceOf[Long]))
    assert(call("ms_topk('docs', 'ft', 'graft engine', 3)")
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      cat.driverFtTopK("docs", "ft", Seq("graft", "engine"), 3))
    val qcsv = q0.mkString(",")
    assert(call(s"ms_ann('emb', 'ann', '$qcsv', 4, 4)")
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      cat.driverAnnTopK("emb", "ann", q0, k = 4, nprobe = 4))
    // the whole CALL — parse, procedure body, LocalScan collect —
    // schedules ZERO Spark jobs
    @volatile var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(call("ms_get('docs', '5')").nonEmpty)
      assert(call("ms_search('docs', 'ft', 'graft')").nonEmpty)
      assert(call(s"ms_ann('emb', 'ann', '$qcsv', 3)").nonEmpty)
      Thread.sleep(800)
      assert(jobs == 0, s"SQL serving CALL scheduled $jobs Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
    // loud errors: bad mode, unknown procedure
    intercept[Exception](call("ms_search('docs', 'ft', 'x', 'fuzzy')"))
    intercept[Exception](call("ms_frobnicate('docs')"))
  }

  test("manifest blooms size from per-file row counts (bits-per-key knob)") {
    import TestSpark.spark.implicits._
    val prevBpk = spark.conf.getOption("spark.graft.manifest.bloomBitsPerKey")
    spark.conf.set("spark.graft.manifest.bloomBitsPerKey", "12")
    try {
      val cat = freshCat("bloomsize")
      if (cat.tableExists("bs")) cat.dropTable("bs")
      cat.createTable("bs", StructType(Seq(
        StructField("k", LongType, false),
        StructField("v", StringType, true))), Seq("k"))
      // sparse keys (evens): absent odd probes sit inside every range
      cat.bulkLoad("bs",
        (0L until 6000L by 2).map(k => (k, s"v$k")).toDF("k", "v"),
        partitions = 4)
      cat.incrementalMerge("bs", Seq((0L, "v0b")).toDF("k", "v"))
      val dir = Paths.get(cat.warehouse, "bs",
        s"data_v${cat.dataVersionOf("bs")}")
      // per-file sizing law: bloom bytes == nextPow2(rows × 12) / 8,
      // floored at 1024 bits — NOT the old flat 2^17 constant
      val rowsPerFile = spark.read.parquet(dir.toString)
        .groupBy(input_file_name()).count().collect()
        .map(r => (r.getString(0).split("/").last, r.getLong(1))).toMap
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.readTree(
        java.nio.file.Files.readString(dir.resolve("_graft_ranges.json")))
      var checked = 0
      root.elements().forEachRemaining { e =>
        if (e.has("bloom")) {
          val bits = java.util.Base64.getDecoder
            .decode(e.path("bloom").asText()).length * 8
          val rows = rowsPerFile(e.path("file").asText())
          val expected = math.max(1L << 10,
            BloomBits.nextPow2(rows * 12L)).toInt
          assert(bits == expected,
            s"file with $rows rows carries $bits bloom bits, expected $expected")
          checked += 1
        }
      }
      assert(checked >= 2, "no bloom-bearing manifest entries to check")
      // FPR-shaped gate: with ~12 bits/key the absent-key probes must
      // overwhelmingly veto before any footer read
      assert(cat.driverPointGet("bs", 2000L).nonEmpty) // warm footers
      val beforeFooter = DriverRead.footerReadCount.get()
      val beforeSkip = DriverRead.bloomSkipCount.get()
      val probes = (1L to 399L by 2).toSeq
      probes.foreach(k => assert(cat.driverPointGet("bs", k).isEmpty))
      val footerDelta = DriverRead.footerReadCount.get() - beforeFooter
      assert(DriverRead.bloomSkipCount.get() - beforeSkip >= probes.size * 9 / 10,
        "per-key-sized blooms vetoed fewer than 90% of absent probes")
      assert(footerDelta <= probes.size / 10,
        s"absent probes opened $footerDelta footers — FPR far above the sizing target")
    } finally {
      prevBpk match {
        case Some(v) => spark.conf.set("spark.graft.manifest.bloomBitsPerKey", v)
        case None => spark.conf.unset("spark.graft.manifest.bloomBitsPerKey")
      }
    }
  }
}
