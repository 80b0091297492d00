package graft.kv

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property test for the driver-side serving path: on prebuilt
  * long-, int- and string-keyed tables, ARBITRARY multi-gets and
  * range scans (including extreme, out-of-range and non-ASCII
  * bounds) must return exactly the rows the Spark path returns.
  * The tables are built once; each trial only queries. On a table
  * with a fulltext and a bitmap index, drawn incremental merges
  * re-update the same docs, and after each one the driver's term,
  * prefix, phrase and bitmap reads must equal the Spark reads over
  * the segmented views and an in-memory model. */
class ServingPropertySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private lazy val cat = {
    val c = new Catalog(spark, graft.TempWarehouses.scoped("servprop", sf))
    def fresh(n: String): Unit = if (c.tableExists(n)) c.dropTable(n)
    fresh("lt"); fresh("it"); fresh("st")
    c.createTable("lt", StructType(Seq(
      StructField("k", LongType, false), StructField("v", LongType, true))), Seq("k"))
    c.bulkLoad("lt", (0 until 200).map(i => (i * 7L - 300L, i.toLong))
      .toDF("k", "v"), partitions = 4)
    c.createTable("it", StructType(Seq(
      StructField("k", IntegerType, false), StructField("v", LongType, true))), Seq("k"))
    c.bulkLoad("it", (0 until 200).map(i => (i * 11 - 500, i.toLong))
      .toDF("k", "v"), partitions = 4)
    c.createTable("st", StructType(Seq(
      StructField("k", StringType, false), StructField("v", LongType, true))), Seq("k"))
    val strKeys = (0 until 100).map(i => s"k${i}x") ++
      Seq("pua", "😀emoji", "ümlaut", "中文", "")
    c.bulkLoad("st", strKeys.distinct.filter(_.nonEmpty).zipWithIndex
      .map { case (k, i) => (k, i.toLong) }.toDF("k", "v"), partitions = 4)
    c
  }

  private def check(p: Prop, name: String, trials: Int = 40): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(trials), p)
    assert(r.passed, s"$name: $r")
  }

  test("long-key gets and ranges match the Spark path for arbitrary bounds") {
    val keyGen = Gen.chooseNum(-1000L, 2000L)
    check(Prop.forAll(Gen.listOfN(4, keyGen), keyGen, keyGen) { (ks, a, b) =>
      val gotGet = cat.driverMultiGet("lt", ks.distinct.map(Seq(_)))
        .map(_.getLong(1)).sorted
      val wantGet = cat.table("lt").df.filter(col("k").isin(ks.distinct: _*))
        .collect().map(_.getAs[Long]("v")).sorted.toSeq
      val (lo, hi) = (math.min(a, b), math.max(a, b))
      val gotRange = cat.driverRangeScan("lt", lo, hi).map(_.getLong(1)).sorted
      val wantRange = cat.table("lt").df
        .filter(col("k") >= lo && col("k") <= hi)
        .collect().map(_.getAs[Long]("v")).sorted.toSeq
      gotGet == wantGet && gotRange == wantRange
    }, "long keys")
  }

  test("int-key gets and ranges match incl. bounds far outside int space") {
    // bounds drawn from the FULL long range: exercises the clamp
    // (a wrapped intValue() once turned 0..Long.MaxValue into k <= -1)
    // and the unrepresentable-key drop (4294967297L aliasing int 1)
    val keyGen = Gen.oneOf(Gen.chooseNum(-600L, 2000L),
      Gen.oneOf(4294967297L, Long.MaxValue, Long.MinValue, Int.MaxValue + 1L))
    check(Prop.forAll(Gen.listOfN(4, keyGen), keyGen, keyGen) { (ks, a, b) =>
      val gotGet = cat.driverMultiGet("it", ks.distinct.map(Seq(_)))
        .map(_.getLong(1)).sorted
      val inRange = ks.distinct.filter(k => k >= Int.MinValue && k <= Int.MaxValue)
      val wantGet =
        if (inRange.isEmpty) Seq.empty[Long]
        else cat.table("it").df.filter(col("k").isin(inRange.map(_.toInt): _*))
          .collect().map(_.getAs[Long]("v")).sorted.toSeq
      val (lo, hi) = (math.min(a, b), math.max(a, b))
      val gotRange = cat.driverRangeScan("it", lo, hi).map(_.getLong(1)).sorted
      val wantRange = cat.table("it").df
        .filter(col("k").cast("long") >= lo && col("k").cast("long") <= hi)
        .collect().map(_.getAs[Long]("v")).sorted.toSeq
      gotGet == wantGet && gotRange == wantRange
    }, "int keys")
  }

  test("string-key gets and ranges match incl. non-ASCII bounds") {
    val keyGen = Gen.oneOf(
      Gen.chooseNum(0, 120).map(i => s"k${i}x"),
      Gen.oneOf("pua", "😀emoji", "ümlaut", "中文", "zzz", "A"))
    check(Prop.forAll(Gen.listOfN(3, keyGen), keyGen, keyGen) { (ks, a, b) =>
      val gotGet = cat.driverMultiGet("st", ks.distinct.map(Seq(_)))
        .map(_.getLong(1)).sorted
      val wantGet = cat.table("st").df.filter(col("k").isin(ks.distinct: _*))
        .collect().map(_.getAs[Long]("v")).sorted.toSeq
      // Spark's string ordering is UTF8String binary order — the same
      // unsigned byte order the driver path uses, so >=/<= agree
      val (lo, hi) = if (utf8Le(a, b)) (a, b) else (b, a)
      val gotRange = cat.driverRangeScan("st", lo, hi).map(_.getLong(1)).sorted
      val wantRange = cat.table("st").df
        .filter(col("k") >= lo && col("k") <= hi)
        .collect().map(_.getAs[Long]("v")).sorted.toSeq
      gotGet == wantGet && gotRange == wantRange
    }, "string keys", trials = 30)
  }

  test("fulltext and bitmap serving match the Spark views as tombstones stack up") {
    import graft.index.{BitmapIndex, FullText}
    val words = Seq("alpha", "beta", "gamma", "delta", "omega", "sigma")
    val wordGen = Gen.oneOf(words)
    val rowGen = for {
      k <- Gen.chooseNum(0L, 13L) // 12 and 13 are not in the base
      n <- Gen.chooseNum(2, 5)
      ws <- Gen.listOfN(n, wordGen)
      c <- Gen.chooseNum(0, 3)
    } yield (k, ws.mkString(" "), c)
    val patchGen = Gen.chooseNum(1, 4).flatMap(n => Gen.listOfN(n, rowGen))
      .map(_.groupBy(_._1).values.map(_.head).toList)
    val queryGen = for {
      a <- wordGen; b <- wordGen
      pre <- Gen.oneOf("al", "ga", "s", "om", "d")
      v <- Gen.chooseNum(0, 3); lo <- Gen.chooseNum(0, 3); hi <- Gen.chooseNum(0, 3)
    } yield (a, b, pre, v, math.min(lo, hi), math.max(lo, hi))
    // the table is built once; every trial's merges pile onto it, and
    // the re-drawn keys re-update the same docs merge after merge
    val model = scala.collection.mutable.Map[Long, (String, Int)]()
    val ftc = {
      if (cat.tableExists("ftb")) cat.dropTable("ftb")
      cat.createTable("ftb", StructType(Seq(
        StructField("k", LongType, false), StructField("body", StringType, true),
        StructField("c", IntegerType, true))), Seq("k"))
      val base = (0L until 12L).map(k =>
        (k, Seq(words((k % 6).toInt), words(((k + 1) % 6).toInt),
          words(((k * 5) % 6).toInt)).mkString(" "), (k % 4).toInt))
      base.foreach { case (k, b, c) => model(k) = (b, c) }
      cat.bulkLoad("ftb", base.toDF("k", "body", "c"), partitions = 2)
      cat.createIndex("ftb", "ft", "fulltext", Seq("body"))
      cat.createIndex("ftb", "bc", "bitmap", Seq("c"))
      cat
    }
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.collect().map(_.getLong(0)).toSeq.sorted
    def longs(xs: Seq[Any]): Seq[Long] = xs.map(_.asInstanceOf[Long]).sorted
    def docsWith(p: Seq[String] => Boolean): Seq[Long] =
      model.collect { case (k, (b, _)) if p(FullText.normTokens(b)) => k }.toSeq.sorted
    def agrees(q: (String, String, String, Int, Int, Int)): Boolean = {
      val (a, b, pre, v, lo, hi) = q
      val docs = ftc.table("ftb").df
      val post = ftc.indexData("ftb", "ft", "fulltext")
      val bm = ftc.indexData("ftb", "bc", "bitmap")
      def viaSpark(df: org.apache.spark.sql.DataFrame) = ids(df.select(col("k")))
      val checks = Seq(
        ("and", longs(ftc.driverFtSearch("ftb", "ft", Seq(a, b))),
          viaSpark(FullText.searchAll(docs, "k", post, Seq(a, b))),
          docsWith(t => t.contains(a) && t.contains(b))),
        ("or", longs(ftc.driverFtSearchAny("ftb", "ft", Seq(a, b))),
          viaSpark(FullText.searchAny(docs, "k", post, Seq(a, b))),
          docsWith(t => t.contains(a) || t.contains(b))),
        ("prefix", longs(ftc.driverFtPrefix("ftb", "ft", pre)),
          viaSpark(FullText.searchPrefix(docs, "k", post, pre)),
          docsWith(_.exists(_.startsWith(pre)))),
        ("phrase", longs(ftc.driverFtPhrase("ftb", "ft", s"$a $b")),
          viaSpark(FullText.searchPhrase(docs, "k",
            ftc.indexPositional("ftb", "ft", "fulltext"), s"$a $b")),
          docsWith(t => t.sliding(2).exists(_ == Seq(a, b)))),
        ("bitmap", ftc.driverBitmapIds("ftb", "bc", v).sorted,
          ids(BitmapIndex.lookupIds(bm, v)),
          model.collect { case (k, (_, c)) if c == v => k }.toSeq.sorted),
        ("bitmap_range", ftc.driverBitmapRangeIds("ftb", "bc", lo, hi).sorted,
          ids(BitmapIndex.rangeIds(bm, lo, hi)),
          model.collect { case (k, (_, c)) if c >= lo && c <= hi => k }.toSeq.sorted))
      checks.forall { case (name, driver, sparkIds, want) =>
        val ok = driver == sparkIds && driver == want
        if (!ok) println(s"$name $q: driver=$driver spark=$sparkIds model=$want")
        ok
      }
    }
    check(Prop.forAllNoShrink(Gen.chooseNum(3, 5).flatMap(n =>
        Gen.listOfN(n, Gen.zip(patchGen, queryGen)))) { merges =>
      merges.forall { case (patch, q) =>
        ftc.incrementalMerge("ftb", patch.toDF("k", "body", "c"))
        patch.foreach { case (k, b, c) => model(k) = (b, c) }
        agrees(q)
      }
    }, "segmented serving", trials = 3)
  }

  private def utf8Le(a: String, b: String): Boolean = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    while (i < math.min(x.length, y.length)) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    x.length <= y.length
  }
}
