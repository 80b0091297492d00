package graft

import graft.kv.{Catalog, KvTable}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class KvSpec extends AnyFunSuite {
  import TestSpark._

  private def customers = KvTable(Tables.customer(spark, sf), Seq("c_custkey"))

  test("pointGet returns exactly the keyed row") {
    val rows = customers.pointGet(7L).collect()
    assert(rows.length == 1 && rows.head.getAs[Long]("c_custkey") == 7L)
  }

  test("multiGet returns one row per existing key") {
    assert(customers.multiGet(Seq(1L, 2L, 3L, 999999L)).count() == 3)
  }

  test("rangeScan is [start, stop) like HBase") {
    val keys = customers.rangeScan(10L, 15L).select("c_custkey")
      .collect().map(_.getLong(0)).sorted
    assert(keys.sameElements(Array(10L, 11L, 12L, 13L, 14L)))
  }

  private def lines = KvTable(Tables.lineitem(spark, sf),
    Seq("l_orderkey", "l_linenumber"))

  test("composite pointGet matches on the FULL key, not just the head") {
    val rows = lines.pointGet(3L, 2).collect()
    assert(rows.nonEmpty && rows.forall(r => r.getAs[Long]("l_orderkey") == 3L &&
      r.getAs[Int]("l_linenumber") == 2))
    // the same orderkey has other linenumbers — a head-only key would
    // have returned them too
    assert(lines.df.filter(col("l_orderkey") === 3L).count() > rows.length)
    intercept[IllegalArgumentException](lines.pointGet(3L))
  }

  test("composite rangeScan is lexicographic [start, stop) incl. prefixes") {
    val got = lines.rangeScanComposite(Seq(100L, 3), Seq(105L, 2))
      .select("l_orderkey", "l_linenumber").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val expect = lines.df.select("l_orderkey", "l_linenumber").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
      .filter { case (o, l) =>
        (o > 100L || (o == 100L && l >= 3)) && (o < 105L || (o == 105L && l < 2))
      }.toSet
    assert(got == expect && got.nonEmpty)
    // prefix stop row excludes the full prefix-equal keyspace
    val pre = lines.rangeScanComposite(Seq(100L), Seq(102L))
      .select("l_orderkey").distinct().collect().map(_.getLong(0)).toSet
    assert(pre == Set(100L, 101L))
    // empty tuples are unbounded on BOTH ends, like HBase's empty
    // start/stop rows — an empty stop must scan to end of table, not
    // silently return nothing
    assert(lines.rangeScanComposite(Seq(), Seq()).count() == lines.df.count())
    val tail = lines.rangeScanComposite(Seq(103L), Seq())
      .select("l_orderkey").distinct().collect().map(_.getLong(0)).toSet
    val expectTail = lines.df.select("l_orderkey").distinct().collect()
      .map(_.getLong(0)).filter(_ >= 103L).toSet
    assert(tail == expectTail && tail.nonEmpty)
  }

  test("composite multiGet returns exactly the requested key tuples") {
    val got = lines.multiGetComposite(Seq(Seq(1L, 1), Seq(3L, 2), Seq(1L, 2)))
      .select("l_orderkey", "l_linenumber").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got.subsetOf(Set((1L, 1), (3L, 2), (1L, 2))) && got.nonEmpty)
  }

  test("upsert overlays existing keys and appends new ones") {
    import spark.implicits._
    val pre = customers.df.count()
    val patch = Seq((1L, "Customer#000000001", 99, 0.0, "PATCHED"),
                    (9000000L, "NewCustomer", 1, 1.0, "NEW"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .withColumn("c_nationkey", col("c_nationkey").cast("int"))
    val post = customers.upsert(patch)
    assert(post.df.count() == pre + 1)
    assert(post.pointGet(1L).select("c_mktsegment").head().getString(0) == "PATCHED")
  }

  test("delete removes exactly the keyed rows") {
    val post = customers.delete(Seq(1L, 2L))
    assert(post.df.count() == customers.df.count() - 2)
    assert(post.pointGet(1L).count() == 0)
  }

  test("filter pushdown reaches the parquet scan") {
    val plan = customers.filterScan(col("c_acctbal") > 100.0, col("c_nationkey") === 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThan(c_acctbal"), s"no pushdown in plan:\n$plan")
  }

  test("catalog: create/load/describe/list/drop round-trip") {
    val wh = java.nio.file.Files.createTempDirectory("graft_test_wh").toString
    val cat = new Catalog(spark, wh)
    val schema = StructType(Seq(
      StructField("k", LongType, false),
      StructField("v", StringType, true)))
    cat.createTable("t1", schema, primaryKey = Seq("k"))
    assert(cat.listTables() == Seq("t1"))
    intercept[IllegalArgumentException](cat.createTable("t1", schema, Seq("k")))
    intercept[IllegalArgumentException](
      cat.createTable("bad", StructType(Seq(StructField("id", LongType))), Seq("id")))
    intercept[IllegalArgumentException](
      cat.createTable("bad2", schema, primaryKey = Seq()))
    import spark.implicits._
    cat.bulkLoad("t1", Seq((1L, "x"), (2L, "y")).toDF("k", "v"))
    assert(cat.table("t1").pointGet(2L).count() == 1)
    val desc = cat.describeTable("t1").collect()
    assert(desc.length == 2 && desc.exists(r =>
      r.getAs[String]("column_name") == "k" && r.getAs[Boolean]("is_primary")))
    // table.sys dump: create time recorded at createTable and stable
    // across writes; version/lock/charset attributes surface
    val info = cat.tableInfo("t1").collect().head
    assert(info.getAs[String]("primary_key") == "k")
    assert(info.getAs[String]("lock_status") == "UNLOCK")
    assert(info.getAs[String]("charset") == "UTF-8")
    val created = info.getAs[Long]("created_ms")
    assert(created > 0L && created <= System.currentTimeMillis())
    assert(info.getAs[Int]("data_version") >= 1) // bulkLoad published v1
    val again = cat.tableInfo("t1").collect().head
    assert(again.getAs[Long]("created_ms") == created)
    cat.dropTable("t1")
    assert(cat.listTables().isEmpty)
  }

  test("a table meta missing a field createTable always writes fails loudly") {
    val wh = java.nio.file.Files.createTempDirectory("graft_strict_meta_wh").toString
    val cat = new Catalog(spark, wh)
    cat.createTable("m", StructType(Seq(StructField("k", LongType, false))), Seq("k"))
    val mf = java.nio.file.Paths.get(wh, "m", "_graft_meta.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta = mapper.readTree(java.nio.file.Files.readString(mf))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    meta.remove("layout")
    java.nio.file.Files.writeString(mf, mapper.writeValueAsString(meta))
    val e = intercept[IllegalStateException](cat.layoutOf("m"))
    assert(e.getMessage.contains("layout"))
    intercept[IllegalStateException](cat.tableInfo("m"))
  }

  test("primary key declared in a different case than the schema works end-to-end") {
    val wh = java.nio.file.Files.createTempDirectory("graft_pkcase_wh").toString
    val cat = new Catalog(spark, wh)
    val schema = StructType(Seq(
      StructField("k", LongType, false),
      StructField("v", StringType, true)))
    // Spark resolution is case-insensitive, so this must work — and
    // the stored key must canonicalize to the schema's case, or the
    // exact-match consumers (manifestPersistable's StructType.apply,
    // upsertStaged's filterNot) wedge every CDC merge and INSERT
    cat.createTable("tc", schema, primaryKey = Seq("K"))
    assert(cat.primaryKeyOf("tc") == Seq("k"))
    import spark.implicits._
    cat.bulkLoad("tc", Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    // incrementalMerge exercises ensureRangeManifest -> StructType.apply
    cat.incrementalMerge("tc", Seq((2L, "b2"), (3L, "c")).toDF("k", "v"))
    assert(cat.table("tc").df.orderBy("k").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b2"), (3L, "c")))
    cat.dropTable("tc")
  }

  test("table names with dots or separators are rejected up front") {
    val wh = java.nio.file.Files.createTempDirectory("graft_name_wh").toString
    val cat = new Catalog(spark, wh)
    val schema = StructType(Seq(StructField("k", LongType, false)))
    // a dotted name would be deleted by dropTable("orders")'s index
    // sweep; a separator would resolve outside the warehouse root
    intercept[IllegalArgumentException](
      cat.createTable("orders.backup", schema, Seq("k")))
    intercept[IllegalArgumentException](
      cat.createTable("../escape", schema, Seq("k")))
    assert(cat.listTables().isEmpty)
  }

  test("createTable with a bad primary-key column fails clean and retries") {
    val wh = java.nio.file.Files.createTempDirectory("graft_badpk_wh").toString
    val cat = new Catalog(spark, wh)
    val schema = StructType(Seq(
      StructField("k", LongType, false),
      StructField("v", StringType, true)))
    val e = intercept[IllegalArgumentException] {
      cat.createTable("t", schema, primaryKey = Seq("nope"))
    }
    assert(e.getMessage.contains("nope"))
    // no half-created table: not listed, and the corrected call works
    assert(!cat.tableExists("t"))
    cat.createTable("t", schema, primaryKey = Seq("K")) // case-insensitive
    assert(cat.tableExists("t"))
    // column.sys must agree with the resolution everywhere else
    val desc = cat.describeTable("t").collect()
    assert(desc.exists(r =>
      r.getAs[String]("column_name") == "k" && r.getAs[Boolean]("is_primary")))
  }

  test("delete-by-key on a composite-key table fails instead of over-deleting") {
    import spark.implicits._
    val t = KvTable(
      Seq((1L, 1L, "a"), (1L, 2L, "b")).toDF("k1", "k2", "v"), Seq("k1", "k2"))
    val e = intercept[IllegalArgumentException] { t.delete(Seq(1L)) }
    assert(e.getMessage.contains("deleteWhere"))
    // the composite path: full-key predicate deletes exactly one row
    val left = t.deleteWhere(col("k1") === 1L && col("k2") === 2L).df.collect()
    assert(left.length == 1 && left.head.getLong(1) == 1L)
  }
}

/** SQL front door: DDL + DML as spark.sql text through the graft V2
  * TableCatalog — the reference's Calcite-server surface
  * (HBaseSchema.kt:107-259, HBaseModifiableTable.kt:126-240). */
class SqlCatalogSpec extends org.scalatest.funsuite.AnyFunSuite {
  import TestSpark._

  test("CREATE/INSERT/SELECT/DELETE/SHOW/DROP round-trip via spark.sql") {
    val wh = java.nio.file.Files.createTempDirectory("graft_sqlcat_wh").toString
    spark.conf.set("spark.sql.catalog.gtest",
      classOf[graft.kv.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtest.warehouse", wh)
    spark.sql("CREATE TABLE gtest.kvdemo (k BIGINT NOT NULL, v STRING, score DOUBLE) " +
      "TBLPROPERTIES ('primaryKey'='k')")
    spark.sql("INSERT INTO gtest.kvdemo VALUES (1,'a',0.5),(2,'b',1.5),(3,'c',2.5)")
    assert(spark.sql("SELECT * FROM gtest.kvdemo").count() == 3)
    // INSERT upserts by primary key (HBase Put model: a Put on an
    // existing rowkey overwrites the cells — it never duplicates the
    // row); deletes rewrite COW
    spark.sql("INSERT INTO gtest.kvdemo VALUES (4,'d',9.0)")
    spark.sql("INSERT INTO gtest.kvdemo VALUES (3,'c2',7.5)")
    assert(spark.sql("SELECT * FROM gtest.kvdemo").count() == 4) // k=3 overwritten, not doubled
    spark.sql("DELETE FROM gtest.kvdemo WHERE k = 2 OR v = 'd'")
    val rows = spark.sql("SELECT k, v FROM gtest.kvdemo ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "a"), (3L, "c2")))
    // filters on the SQL-served table still push to the parquet scan
    val plan = spark.sql("SELECT v FROM gtest.kvdemo WHERE k = 3")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("k"), plan)
    assert(spark.sql("SHOW TABLES IN gtest").collect()
      .map(_.getAs[String]("tableName")).contains("kvdemo"))
    // the DSv2 read path supports parquet AGGREGATE pushdown: MIN/MAX/
    // COUNT answer from footer statistics without scanning rows — the
    // 100 TB stats-query path
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try {
      val aggDf = spark.sql("SELECT count(*) AS n, min(k) AS lo, max(k) AS hi FROM gtest.kvdemo")
      assert(aggDf.queryExecution.executedPlan.toString.contains("PushedAggregation"),
        aggDf.queryExecution.executedPlan.toString)
      val r0 = aggDf.head()
      assert(r0.getLong(0) == 2 && r0.getLong(1) == 1L && r0.getLong(2) == 3L)
    } finally spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")
    // the SQL catalog and the Scala catalog see the same metadata
    val scalaCat = new graft.kv.Catalog(spark, wh)
    assert(scalaCat.primaryKeyOf("kvdemo") == Seq("k"))
    spark.sql("DROP TABLE gtest.kvdemo")
    assert(!scalaCat.tableExists("kvdemo"))
  }

  test("concurrent SQL INSERTs both survive via staged publish") {
    import TestSpark.spark
    val wh = java.nio.file.Files.createTempDirectory("graft_race_wh").toString
    spark.conf.set("spark.sql.catalog.grace",
      classOf[graft.kv.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.grace.warehouse", wh)
    spark.sql("CREATE TABLE grace.r (k BIGINT NOT NULL, v STRING) " +
      "TBLPROPERTIES ('primaryKey'='k')")
    val cat = new graft.kv.Catalog(spark, wh)
    val v0 = cat.dataVersionOf("r")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val inserts = (1 to 3).map { i =>
      Future(spark.sql(s"INSERT INTO grace.r VALUES ($i, 'w$i')"))
    }
    Await.result(Future.sequence(inserts), 120.seconds)
    // every INSERT published its own snapshot; none lost, none doubled
    assert(cat.dataVersionOf("r") == v0 + 3)
    val rows = spark.sql("SELECT k, v FROM grace.r ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "w1"), (2L, "w2"), (3L, "w3")))
    spark.sql("DROP TABLE grace.r")
  }

  test("SQL UPDATE and MERGE INTO via row-level operations") {
    import TestSpark.spark
    val wh = java.nio.file.Files.createTempDirectory("graft_rlo_wh").toString
    spark.conf.set("spark.sql.catalog.grlo",
      classOf[graft.kv.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.grlo.warehouse", wh)
    spark.sql("CREATE TABLE grlo.acct (k BIGINT NOT NULL, v STRING, bal DOUBLE) " +
      "TBLPROPERTIES ('primaryKey'='k')")
    spark.sql("INSERT INTO grlo.acct VALUES (1,'a',10.0),(2,'b',20.0),(3,'c',30.0)")
    val cat = new graft.kv.Catalog(spark, wh)
    val vBefore = cat.dataVersionOf("acct")

    spark.sql("UPDATE grlo.acct SET bal = bal + 5.0, v = upper(v) WHERE k <= 2")
    val afterUpdate = spark.sql("SELECT k, v, bal FROM grlo.acct ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(afterUpdate == Seq((1L, "A", 15.0), (2L, "B", 25.0), (3L, "c", 30.0)))
    // the update staged a NEW snapshot and flipped the pointer (COW)
    assert(cat.dataVersionOf("acct") == vBefore + 1)
    assert(cat.tableAt("acct", vBefore).df.count() == 3)

    spark.sql("""MERGE INTO grlo.acct t USING (
        |  SELECT * FROM VALUES (CAST(2 AS BIGINT), 'merged', 99.0),
        |                       (CAST(9 AS BIGINT), 'new', 1.0) s(k, v, bal)) s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET t.v = s.v, t.bal = s.bal
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val afterMerge = spark.sql("SELECT k, v, bal FROM grlo.acct ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(afterMerge == Seq(
      (1L, "A", 15.0), (2L, "merged", 99.0), (3L, "c", 30.0), (9L, "new", 1.0)))

    // DELETE with a subquery predicate can't translate to V1 filters —
    // it falls through SupportsDelete to the row-level rewrite path
    spark.sql("DELETE FROM grlo.acct WHERE k IN " +
      "(SELECT k FROM grlo.acct WHERE bal > 50.0)")
    val afterSubqueryDelete = spark.sql("SELECT k FROM grlo.acct ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(afterSubqueryDelete == Seq(1L, 3L, 9L))
    spark.sql("DROP TABLE grlo.acct")
  }
}

/** Full type-system round-trip through the catalog — the reference's
  * byte-codec surface (HBaseTable.kt:253-296) re-expressed as Spark
  * DataTypes persisting faithfully through the rowkey layout. */
class TypeSystemSpec extends org.scalatest.funsuite.AnyFunSuite {
  import TestSpark._
  import org.apache.spark.sql.types._
  import org.apache.spark.sql.Row

  test("all reference types round-trip create/load/get") {
    // TIME is feature-gated in Spark 4.1
    spark.conf.set("spark.sql.timeType.enabled", "true")
    val wh = java.nio.file.Files.createTempDirectory("graft_types_wh").toString
    val cat = new graft.kv.Catalog(spark, wh)
    val schema = StructType(Seq(
      StructField("k", LongType, false),
      StructField("c_int", IntegerType, true),
      StructField("c_small", ShortType, true),
      StructField("c_tiny", ByteType, true),
      StructField("c_bool", BooleanType, true),
      StructField("c_dec", DecimalType(12, 2), true),
      StructField("c_double", DoubleType, true),
      StructField("c_float", FloatType, true),
      StructField("c_str", StringType, true),
      StructField("c_bin", BinaryType, true),
      StructField("c_date", DateType, true),
      StructField("c_ts", TimestampType, true),
      // reference TIME + INTERVAL family (HBaseTable.kt:253-296):
      // TIME → TimeType (Spark 4.1), INTERVAL YEAR TO MONTH /
      // DAY TO SECOND → the ANSI interval types
      StructField("c_time", TimeType(6), true),
      StructField("c_iym", YearMonthIntervalType(), true),
      StructField("c_idt", DayTimeIntervalType(), true)))
    cat.createTable("t_types", schema, primaryKey = Seq("k"))
    val row = Row(1L, 42, 7.toShort, 3.toByte, true,
      new java.math.BigDecimal("1234567890.12"), 2.5d, 1.25f, "héllo",
      Array[Byte](1, 2, 3), java.sql.Date.valueOf("2024-02-29"),
      java.sql.Timestamp.valueOf("2024-02-29 12:34:56.789"),
      java.time.LocalTime.of(12, 34, 56, 789000000),
      java.time.Period.ofMonths(14), java.time.Duration.ofSeconds(3661, 500000000))
    cat.bulkLoad("t_types",
      spark.createDataFrame(spark.sparkContext.parallelize(Seq(row), 1), schema))
    val got = cat.table("t_types").pointGet(1L).head()
    assert(got.getInt(1) == 42 && got.getShort(2) == 7 && got.getByte(3) == 3)
    assert(got.getBoolean(4))
    assert(got.getDecimal(5) == new java.math.BigDecimal("1234567890.12"))
    assert(got.getDouble(6) == 2.5 && got.getFloat(7) == 1.25f)
    assert(got.getString(8) == "héllo")
    assert(got.getAs[Array[Byte]](9).sameElements(Array[Byte](1, 2, 3)))
    assert(got.getDate(10) == java.sql.Date.valueOf("2024-02-29"))
    assert(got.getTimestamp(11) == java.sql.Timestamp.valueOf("2024-02-29 12:34:56.789"))
    assert(got.getAs[java.time.LocalTime](12) ==
      java.time.LocalTime.of(12, 34, 56, 789000000))
    assert(got.getAs[java.time.Period](13).toTotalMonths == 14)
    assert(got.getAs[java.time.Duration](14) ==
      java.time.Duration.ofSeconds(3661, 500000000))
    val desc = cat.describeTable("t_types").collect()
    assert(desc.length == 15)
    // vacuum keeps only the live snapshot
    cat.bulkLoad("t_types", cat.table("t_types").df)
    cat.vacuum("t_types")
    assert(cat.table("t_types").pointGet(1L).count() == 1)
    cat.dropTable("t_types")
  }
}
