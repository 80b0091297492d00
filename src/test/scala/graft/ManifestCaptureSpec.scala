package graft.kv

import graft.TestSpark
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes
import scala.jdk.CollectionConverters._

/** Write-time range manifests (ManifestCapture): every publish path
  * writes each snapshot's and kv-index version's `_graft_ranges.json`
  * from statistics folded inside its own write job, identical to what
  * a scan of the written files derives, so no merge re-scans a
  * snapshot. */
class ManifestCaptureSpec extends AnyFunSuite {
  import TestSpark._

  private def freshCat(tag: String): Catalog =
    new Catalog(spark, graft.TempWarehouses.scoped(s"mcap_$tag", sf))

  private def liveDir(cat: Catalog, t: String): Path =
    Paths.get(cat.warehouse, t, s"data_v${cat.dataVersionOf(t)}")

  private def kvIndexDir(cat: Catalog, t: String, idx: String): Path = {
    val dir = Paths.get(cat.warehouse, s"$t.kv.$idx")
    val v = cat.dataVersionOf(t)
    val versioned = (0 to v).reverse.map(i => dir.resolve(s"data_v$i")).find(Files.exists(_))
    versioned.getOrElse(dir.resolve("data"))
  }

  /** file → (lo, hi, second, bloom bytes) — arrays compared by content. */
  private def view(es: Seq[FileRange]): Map[String, (Any, Any, Option[(Any, Any)], Option[Seq[Byte]])] =
    es.map(e => e.file -> ((e.lo, e.hi, e.second, e.bloom.map(_.toSeq)))).toMap

  private def withConf[A](kv: (String, String)*)(f: => A): A = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The published manifest of `dir` equals a scan of the same files,
    * and (independently of the fold code) per-file min/max agree with
    * Spark's own aggregates. Returns the manifest. */
  private def assertMatchesScan(cat: Catalog, dir: Path, keyCol: String,
                                second: Option[String]): Seq[FileRange] = {
    val written = Manifest.read(dir).getOrElse(fail(s"no manifest in $dir"))
    val scanned = Manifest.scanRanges(spark, dir, keyCol, second)
    assert(view(written) == view(scanned), s"write-time manifest of $dir != scan")
    assert(written.map(_.file).toSet == ManifestCapture.partFiles(dir).toSet)
    val agg = spark.read.parquet(dir.toString)
      .groupBy(input_file_name().as("f"))
      .agg(min(col(keyCol)).as("lo"), max(col(keyCol)).as("hi"))
      .collect().map(r => r.getString(0).split("/").last ->
        ((ManifestCapture.canonKey(r.get(1)), ManifestCapture.canonKey(r.get(2))))).toMap
    written.filter(_.lo != null).foreach { e =>
      assert(agg(e.file) == ((e.lo, e.hi)), s"bounds of ${e.file}")
    }
    written
  }

  private def keyed(dt: DataType, n: Int): DataFrame = {
    val rows = (0 until n).map { i =>
      val k: Any = dt match {
        case LongType => 3L * i - 1000L
        case IntegerType => 7 * i
        case StringType => f"k$i%06dé"
        case DoubleType => i * 0.5 - 3.25
      }
      Row(k, s"v$i")
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("k", dt, false), StructField("v", StringType, true))))
  }

  test("write-time manifest equals a scan: sorted/z layouts, key types, zero-row file, sizing knobs, sidecar") {
    val cat = freshCat("equiv")
    Seq(LongType, IntegerType, StringType, DoubleType).foreach { dt =>
      val t = s"eq_${dt.typeName}"
      cat.createTable(t, keyed(dt, 1).schema, Seq("k"))
      // the empty v0 snapshot: one zero-row part file, null bounds
      val v0 = assertMatchesScan(cat, liveDir(cat, t), "k", None)
      assert(v0.nonEmpty && v0.forall(e => e.lo == null && e.bloom.isEmpty))
      cat.bulkLoad(t, keyed(dt, 3000), partitions = 4)
      val m = assertMatchesScan(cat, liveDir(cat, t), "k", None)
      assert(m.count(_.lo != null) > 1)
      assert(m.exists(_.bloom.isDefined) == (dt != DoubleType))
    }
    // z layout: second-key bounds folded by the same write
    cat.createTable("eq_z", StructType(Seq(
      StructField("a", LongType, false), StructField("b", LongType, false),
      StructField("v", DoubleType, true))), Seq("a", "b"), layout = "zorder")
    val rnd = new scala.util.Random(5)
    import spark.implicits._
    cat.bulkLoad("eq_z", (0 until 4000).map(_ => (rnd.nextInt(500).toLong,
      rnd.nextInt(500).toLong, rnd.nextDouble())).toDF("a", "b", "v"), partitions = 4)
    val z = assertMatchesScan(cat, liveDir(cat, "eq_z"), "a", Some("b"))
    assert(z.filter(_.lo != null).forall(_.second.isDefined))
    // bloom sizing knobs: byte-identical at a per-key size and at a cap
    // small enough to bind, and through the sidecar
    withConf("spark.graft.manifest.bloomBitsPerKey" -> "12",
             "spark.graft.manifest.bloomMaxBits" -> "4096",
             "spark.graft.manifest.bloomSidecarBytes" -> "1") {
      cat.bulkLoad("eq_long", keyed(LongType, 3000), partitions = 4)
      val dir = liveDir(cat, "eq_long")
      assert(Files.readString(dir.resolve("_graft_ranges.json")).contains("\"bloomref\""))
      val m = assertMatchesScan(cat, dir, "k", None)
      assert(m.flatMap(_.bloom).forall(_.length == 4096 / 8), "the cap did not bind")
      // independent reference: the driver rebuilds each file's filter
      // from Spark's xxhash64 of its rows
      val hashes = spark.read.parquet(dir.toString)
        .select(input_file_name().as("f"), xxhash64(col("k")).as("h")).collect()
        .groupBy(_.getString(0).split("/").last)
      m.filter(_.bloom.isDefined).foreach { e =>
        val bits = new Array[Byte](4096 / 8)
        hashes(e.file).foreach(r => BloomBits.set(bits, r.getLong(1)))
        assert(e.bloom.get.toSeq == BloomSizing(4096, 12).finish(hashes(e.file).length, bits).toSeq)
      }
    }
    // a write the capture cannot attribute (several files per task)
    // falls back to the scan and still publishes a covering manifest
    withConf("spark.sql.files.maxRecordsPerFile" -> "500") {
      cat.bulkLoad("eq_integer", keyed(IntegerType, 3000), partitions = 2)
      val dir = liveDir(cat, "eq_integer")
      assert(ManifestCapture.partFiles(dir).size > 2)
      assertMatchesScan(cat, dir, "k", None)
    }
  }

  test("bulk load, SQL MERGE, a transaction and the merges after them schedule no range-scan job") {
    val wh = graft.TempWarehouses.scoped("mcap_pin", sf)
    val cat = new Catalog(spark, wh)
    cat.createTable("pin", StructType(Seq(
      StructField("k", LongType, false), StructField("c", LongType, true),
      StructField("v", StringType, true))), Seq("k"))
    cat.createIndex("pin", "byc", "kv", Seq("c"))
    import spark.implicits._
    // jobs per phase (a job group per phase), and the range scans
    // among them: jobs of a SQL execution whose call site is scanRanges
    // (the execution-start event carries the caller's stack; a job's
    // own call site may be an adaptive-execution worker thread). The
    // bus is drained before counting and every phase's jobs must have
    // ended, so no count misses a late event.
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (String, String)]()
    val open = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val scanExecs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = {
        jobs.put(s.jobId, (String.valueOf(s.properties.getProperty("spark.jobGroup.id")),
          String.valueOf(s.properties.getProperty("spark.sql.execution.id"))))
        open.add(s.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = open.remove(e.jobId)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart if x.details.contains("scanRanges") =>
          scanExecs.add(x.executionId.toString)
        case _ =>
      }
    }
    def phase(name: String)(f: => Unit): Unit = {
      spark.sparkContext.setJobGroup(name, name)
      try f finally spark.sparkContext.clearJobGroup()
    }
    def merge(k: Long): Unit =
      cat.incrementalMerge("pin", Seq((k, 5L, s"m$k")).toDF("k", "c", "v"))
    spark.sparkContext.addSparkListener(listener)
    try {
      phase("bulk")(cat.bulkLoad("pin",
        (0L until 2000L).map(k => (k, k % 97, s"v$k")).toDF("k", "c", "v"), partitions = 4))
      phase("afterBulk")(merge(10L))
      spark.conf.set("spark.sql.catalog.gpin", classOf[graft.kv.connector.GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.gpin.warehouse", wh)
      phase("sqlMerge")(spark.sql("""MERGE INTO gpin.pin t USING (SELECT * FROM VALUES
          |  (CAST(20 AS BIGINT), CAST(3 AS BIGINT), 'q') s(k, c, v)) s
          |ON t.k = s.k WHEN MATCHED THEN UPDATE SET t.c = s.c, t.v = s.v
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
      phase("afterSqlMerge")(merge(30L))
      phase("txn")(cat.transaction(_.upsert("pin", Seq((40L, 8L, "t")).toDF("k", "c", "v"))))
      phase("afterTxn")(merge(50L))
      // the detector sees a real heal: a snapshot and an index version
      // whose manifest is missing are scanned once each, then healed
      Files.delete(liveDir(cat, "pin").resolve("_graft_ranges.json"))
      Files.delete(kvIndexDir(cat, "pin", "byc").resolve("_graft_ranges.json"))
      phase("heal")(merge(60L))
      phase("afterHeal")(merge(70L))
      org.apache.spark.TestListenerDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    val phases = Seq("bulk", "afterBulk", "sqlMerge", "afterSqlMerge", "txn", "afterTxn",
      "heal", "afterHeal")
    val byPhase = jobs.asScala.values.groupBy(_._1)
    assert(phases.forall(byPhase.contains), s"a phase ran no observed job: $byPhase")
    assert(open.asScala.forall(j => !phases.contains(jobs.get(j)._1)), s"jobs still open: $open")
    def scans(p: String): Int = byPhase(p).map(_._2).count(scanExecs.contains)
    phases.filter(_ != "heal").foreach { p =>
      assert(scans(p) == 0, s"phase $p scheduled ${scans(p)} range-scan job(s)")
    }
    // a table snapshot and an index version without manifests: two scans
    assert(byPhase("heal").map(_._2).toSet.count(scanExecs.contains) >= 2,
      s"the range-scan detector saw no heal: $scanExecs")
    // every published snapshot and index version carries its manifest
    assertMatchesScan(cat, liveDir(cat, "pin"), "k", None)
    assertMatchesScan(cat, kvIndexDir(cat, "pin", "byc"), "ik", None)
    val got = cat.table("pin").df.filter(col("k").isin(10L, 20L, 40L, 70L))
      .select("k", "v").as[(Long, String)].collect().toMap
    assert(got == Map(10L -> "m10", 20L -> "q", 40L -> "t", 70L -> "m70"))
    assert(cat.driverIndexGet("pin", "byc", Seq(3L)).map(_.getLong(0)).contains(20L))
  }

  test("a one-key merge rewrites only the touched kv-index files; the rest are hard links") {
    val cat = freshCat("idxlinks")
    cat.createTable("il", StructType(Seq(
      StructField("k", LongType, false), StructField("c", LongType, true),
      StructField("v", StringType, true))), Seq("k"))
    cat.createIndex("il", "byc", "kv", Seq("c"))
    import spark.implicits._
    withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      cat.bulkLoad("il", (0L until 4000L).map(k => (k, k % 400, s"v$k")).toDF("k", "c", "v"),
        partitions = 4)
    }
    val before = kvIndexDir(cat, "il", "byc")
    val beforeFiles = ManifestCapture.partFiles(before)
    assert(beforeFiles.size >= 4, s"need several index files, got $beforeFiles")
    cat.incrementalMerge("il", Seq((7L, 123L, "x")).toDF("k", "c", "v"))
    val after = kvIndexDir(cat, "il", "byc")
    assert(after != before)
    def fileKey(p: Path): AnyRef =
      Files.readAttributes(p, classOf[BasicFileAttributes]).fileKey()
    val linked = ManifestCapture.partFiles(after).count { f =>
      beforeFiles.contains(f) && fileKey(after.resolve(f)) == fileKey(before.resolve(f))
    }
    // the old entry (c = 7) and the new one (c = 123) touch at most two
    // index files
    assert(linked >= beforeFiles.size - 2,
      s"only $linked of ${beforeFiles.size} index files carried over as links")
    assert(cat.driverIndexGet("il", "byc", Seq(123L)).map(_.getLong(0)).contains(7L))
    assert(!cat.driverIndexGet("il", "byc", Seq(7L)).map(_.getLong(0)).contains(7L))
    assertMatchesScan(cat, after, "ik", None)
  }

  test("composite key: a merge keeps the kv entry a sibling row shares with the patched row") {
    val cat = freshCat("cpk")
    cat.createTable("cp", StructType(Seq(
      StructField("a", LongType, false), StructField("b", LongType, false),
      StructField("c", LongType, true))), Seq("a", "b"), layout = "zorder")
    cat.createIndex("cp", "byc", "kv", Seq("c"))
    import spark.implicits._
    // (1,1) and (1,2) both index as (ik = 5, rk = 1)
    cat.bulkLoad("cp", ((1L, 1L, 5L) +: (1L, 2L, 5L) +:
      (2L until 200L).map(a => (a, a % 7, a % 11))).toDF("a", "b", "c"))
    cat.incrementalMerge("cp", Seq((1L, 1L, 9L)).toDF("a", "b", "c"))
    def entries(df: DataFrame): Seq[(Option[Long], Long)] =
      df.collect().map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getLong(1)))
        .toSeq.sortBy(e => (e._1.getOrElse(Long.MinValue), e._2))
    val idx = cat.indexData("cp", "byc", "kv")
    // the index holds exactly one entry per table row
    assert(entries(idx.select("ik", "rk")) ==
      entries(cat.table("cp").df.select(col("c"), col("a"))))
    val found = graft.index.KvIndex.lookup(cat.table("cp").df, "a", idx, 5L)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(found.contains((1L, 2L)), s"the sibling row dropped out of the index: $found")
  }

  test("an over-bound merge patch carrying a null key is refused; the version stays") {
    val cat = freshCat("nullpk")
    val schema = StructType(Seq(
      StructField("k", LongType, true), StructField("v", StringType, true)))
    cat.createTable("np", schema, Seq("k"))
    import spark.implicits._
    cat.bulkLoad("np", (0L until 100L).map(k => (k, s"v$k")).toDF("k", "v"))
    val v = cat.dataVersionOf("np")
    def patch(n: Int): DataFrame = spark.createDataFrame(
      ((1000L until 1000L + n).map(k => Row(k, "p")) :+ Row(null, "bad")).asJava, schema)
    Seq(5, 40).foreach { n =>
      val e = intercept[IllegalArgumentException](
        cat.incrementalMergeIfNonEmpty("np", patch(n), maxIncrementalKeys = 16))
      assert(e.getMessage.contains("may not be null"), e.getMessage)
      assert(cat.dataVersionOf("np") == v, s"a refused $n-key patch moved the version")
    }
    assert(cat.table("np").df.count() == 100L)
  }

  test("a merge batch with a null on a later primary-key column is refused; the version stays") {
    // KvTable.upsert's equi-join never matches a null second key: an
    // accepted (1, null) merged twice would leave two rows with one key
    val cat = freshCat("nullpk2")
    val schema = StructType(Seq(
      StructField("a", LongType, true), StructField("b", StringType, true),
      StructField("v", StringType, true)))
    cat.createTable("np2", schema, Seq("a", "b"))
    def rows(rs: Seq[Row]): DataFrame = spark.createDataFrame(rs.asJava, schema)
    cat.bulkLoad("np2", rows((0L until 50L).map(a => Row(a, s"b$a", "x"))))
    val v = cat.dataVersionOf("np2")
    def refused(what: String)(merge: => Any): Unit = {
      val e = intercept[IllegalArgumentException](merge)
      assert(e.getMessage.contains("may not be null"), s"$what: ${e.getMessage}")
      assert(cat.dataVersionOf("np2") == v, s"a refused $what moved the version")
    }
    refused("incrementalMerge")(cat.incrementalMerge("np2", rows(Seq(Row(1L, null, "a")))))
    refused("incrementalMergeRows")(
      cat.incrementalMergeRows("np2", Array(Row(2L, "b2", "y"), Row(1L, null, "b"))))
    refused("under-bound merge")(cat.incrementalMergeIfNonEmpty("np2",
      rows(Seq(Row(2L, "b2", "y"), Row(1L, null, "a")))))
    refused("over-bound merge")(cat.incrementalMergeIfNonEmpty("np2",
      rows((100L until 120L).map(a => Row(a, "k", "p")) :+ Row(1L, null, "b")),
      maxIncrementalKeys = 8))
    assert(cat.table("np2").df.count() == 50L)
  }

  test("a driver multi-get of 20k keys serves without overflowing the filter tree") {
    val cat = freshCat("bigget")
    cat.createTable("bg", keyed(LongType, 1).schema, Seq("k"))
    cat.bulkLoad("bg", keyed(LongType, 3000), partitions = 4)
    val keys = (0 until 20000).map(i => Seq[Any](3L * i - 1000L + (i % 2)))
    val got = cat.driverMultiGet("bg", keys).map(_.getLong(0)).toSet
    val exp = cat.table("bg").df.select("k").collect().map(_.getLong(0))
      .filter(k => (k + 1000L) % 3 == 0 && ((k + 1000L) / 3) % 2 == 0).toSet
    assert(got == exp && got.nonEmpty)
  }

  test("a manifest rewritten with the same size and mtime is never served stale") {
    val dir = Files.createTempDirectory("graft_mcache")
    val f = dir.resolve("_graft_ranges.json")
    val a = Seq(FileRange("part-0", 1L, 5L))
    val b = Seq(FileRange("part-0", 2L, 6L))
    Manifest.write(spark, dir, a)
    val (size, mtime) = (Files.size(f), Files.getLastModifiedTime(f))
    assert(Manifest.read(dir).map(view) == Some(view(a))) // now cached
    Manifest.write(spark, dir, b)
    Files.setLastModifiedTime(f, mtime)
    assert(Files.size(f) == size && Files.getLastModifiedTime(f) == mtime)
    assert(Manifest.read(dir).map(view) == Some(view(b)),
      "a same-identity rewrite served the cached parse of the old manifest")
  }

  test("the driver file cache evicts at its cap and reloads correct rows; a None load is not cached") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_fcache")
    val dirs = (0 until 3).map { i =>
      val d = root.resolve(s"d$i")
      Seq(10L * i, 10L * i + 1).toDF("k").coalesce(1).write.parquet(d.toString)
      d
    }
    def part(d: Path): Path = d.resolve(ManifestCapture.partFiles(d).head)
    var loads = 0
    // weighted by rows, capped at two files' worth
    val cache = new FileCache[Unit, Seq[Row]](4, _.length.toLong)
    def read(d: Path): Seq[Row] = cache.get(part(d), ()) {
      loads += 1
      spark.read.parquet(d.toString).collect().toSeq
    }
    val first = dirs.map(read)
    assert(loads == 3 && cache.size == 2) // d0 evicted by d2's insert
    assert(read(dirs(1)) == first(1) && loads == 3) // a hit
    assert(read(dirs(0)) == first(0) && loads == 4) // reloaded after eviction
    assert(first(0).map(_.getLong(0)) == Seq(0L, 1L))
    val f = part(dirs(2))
    assert(cache.getOpt(f, ())(None).isEmpty)
    assert(cache.getOpt(f, ())(Some(Seq.empty[Row])).contains(Seq.empty[Row]))
  }
}
