package graft.kv

import graft.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SparkEntry wiring for the KV-store surface (SURVEY.md §2 "KV-store
  * semantics"). Each query exercises KvTable/Catalog against the
  * TPC-H-ish tables with a DuckDB oracle where SQL can express it.
  */
object KvQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kv_point_get" -> { (s, d) =>
      KvTable(Tables.customer(s, d), Seq("c_custkey")).pointGet(42L)
    },

    "kv_multi_get" -> { (s, d) =>
      import s.implicits._
      KvTable(Tables.part(s, d), Seq("p_partkey"))
        .multiGet(Seq(1L, 5L, 10L, 99L, 123L))
        .orderBy($"p_partkey")
    },

    "kv_prefix_scan" -> { (s, d) =>
      import s.implicits._
      KvTable(Tables.customer(s, d), Seq("c_custkey"))
        .prefixScan("c_name", "Customer#00000012")
        .select($"c_custkey", $"c_name")
        .orderBy($"c_custkey")
    },

    "kv_range_scan" -> { (s, d) =>
      import s.implicits._
      KvTable(Tables.orders(s, d), Seq("o_orderkey"))
        .rangeScan(500L, 600L)
        .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
        .orderBy($"o_orderkey")
    },

    "kv_scan_reverse" -> { (s, d) =>
      import s.implicits._
      // HBase Scan.setReversed + setLimit (the reference's Scan
      // surface supports reversed iteration): newest-first bounded
      // read of a key range — the "latest N in range" serving shape a
      // time-keyed table answers constantly. Bounded heap, never a
      // corpus sort.
      KvTable(Tables.orders(s, d), Seq("o_orderkey"))
        .reverseScan(500L, 900L, limit = 50)
        .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
    },

    "kv_composite_get" -> { (s, d) =>
      import s.implicits._
      // full two-column rowkey point get (reference rowkey = the whole
      // concatenated primary key, HBaseModifiableTable.kt:283-352)
      KvTable(Tables.lineitem(s, d), Seq("l_orderkey", "l_linenumber"))
        .pointGet(3L, 2)
        .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_quantity")
    },

    "kv_composite_multiget" -> { (s, d) =>
      import s.implicits._
      KvTable(Tables.lineitem(s, d), Seq("l_orderkey", "l_linenumber"))
        .multiGetComposite(Seq(Seq(1L, 1), Seq(3L, 2), Seq(5L, 1), Seq(7L, 4)))
        .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_returnflag")
        .orderBy($"l_orderkey", $"l_linenumber")
    },

    "kv_composite_range" -> { (s, d) =>
      import s.implicits._
      // lexicographic [(100,3), (105,2)) over the concatenated key;
      // decomposed into pushable per-column predicates
      KvTable(Tables.lineitem(s, d), Seq("l_orderkey", "l_linenumber"))
        .rangeScanComposite(Seq(100L, 3), Seq(105L, 2))
        .select($"l_orderkey", $"l_linenumber", $"l_quantity")
        .orderBy($"l_orderkey", $"l_linenumber")
    },

    "kv_filter_scan" -> { (s, d) =>
      import s.implicits._
      // =, >=, < conjunction — the reference's FilterList(MUST_PASS_ALL)
      // of Row/SingleColumnValue filters; here Catalyst pushes all three
      // into the parquet scan (PushedFilters).
      KvTable(Tables.lineitem(s, d), Seq("l_orderkey", "l_linenumber"))
        .filterScan($"l_returnflag" === "R", $"l_quantity" >= 30.0, $"l_discount" < 0.05)
        .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_discount")
        .orderBy($"l_orderkey", $"l_linenumber")
    },

    "kv_insert" -> { (s, d) =>
      import s.implicits._
      val newRows = s.createDataFrame(Seq(
        (900001L, "graft widget", "Brand#99", "ECONOMY", 7, 101.25),
        (900002L, "graft bolt", "Brand#99", "PROMO", 21, 55.5)
      )).toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      KvTable(Tables.part(s, d), Seq("p_partkey"))
        .insert(newRows)
        .df.select($"p_partkey", $"p_name", $"p_brand", $"p_retailprice")
        .orderBy($"p_partkey")
    },

    "kv_update" -> { (s, d) =>
      import s.implicits._
      KvTable(Tables.customer(s, d), Seq("c_custkey"))
        .updateWhere($"c_custkey" <= 10L, "c_acctbal", lit(9999.25))
        .df.filter($"c_custkey" <= 30L)
        .select($"c_custkey", $"c_name", $"c_acctbal")
        .orderBy($"c_custkey")
    },

    "kv_delete" -> { (s, d) =>
      import s.implicits._
      KvTable(Tables.orders(s, d), Seq("o_orderkey"))
        .delete(Seq(10L, 11L, 12L, 13L, 14L))
        .df.filter($"o_orderkey" < 30L)
        .select($"o_orderkey", $"o_custkey", $"o_orderstatus")
        .orderBy($"o_orderkey")
    },

    "sql_ddl_dml" -> { (s, d) =>
      // the reference's Calcite-server role: DDL + DML arriving as SQL
      // text (HBaseSchema.kt:107-259, HBaseModifiableTable.kt:126-240),
      // served here by the graft V2 TableCatalog
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.kv.connector.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.warehouse", graft.TempWarehouses.scoped("sql", d))
      s.sql("DROP TABLE IF EXISTS graft.sqldemo")
      s.sql("CREATE TABLE graft.sqldemo (k BIGINT NOT NULL, v STRING, score DOUBLE) " +
        "TBLPROPERTIES ('primaryKey'='k')")
      s.sql("INSERT INTO graft.sqldemo VALUES " +
        "(1,'a',0.5),(2,'b',1.5),(3,'c',2.5),(4,'d',3.5),(5,'e',4.5)")
      s.sql("DELETE FROM graft.sqldemo WHERE k = 2 OR v = 'd'")
      s.sql("UPDATE graft.sqldemo SET score = score * 2.0 WHERE k = 3")
      s.sql("""MERGE INTO graft.sqldemo t
        |USING (SELECT * FROM VALUES (CAST(5 AS BIGINT), 'm', 9.0),
        |                            (CAST(7 AS BIGINT), 'g', 7.0) s(k, v, score)) s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET t.v = s.v, t.score = s.score
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      s.sql("SELECT k, v, score FROM graft.sqldemo ORDER BY k")
    },

    "kv_zorder_scan" -> { (s, d) =>
      import s.implicits._
      // z-order layout end-to-end: a two-key table declared
      // layout=zorder, bulk-loaded, then filtered on the SECOND key
      // column — the access pattern a lexicographic rowkey can't
      // prune (HBase-world answer: a second salted-rowkey table; here
      // the one z-clustered layout serves both key columns)
      zorderedLineitem(s, d)
        .filter($"l_linenumber" === 5)
        .orderBy($"l_orderkey")
    },

    "kv_zorder_both" -> { (s, d) =>
      import s.implicits._
      // BOTH dimensions of the z-layout filtered at once: the z-curve
      // keeps per-file min/max tight on both keys, so the scan prunes
      // on the orderkey range AND the linenumber predicate together —
      // a lexicographic (orderkey, linenumber) rowkey serves only the
      // leading column of that conjunction
      zorderedLineitem(s, d)
        .filter($"l_orderkey".between(500L, 700L) && $"l_linenumber" >= 4)
        .orderBy($"l_orderkey", $"l_linenumber")
    },

    "kv_txn_multi" -> { (s, d) =>
      import s.implicits._
      // multi-statement transaction (reference
      // KVTransactionalIndexTable.kt): debit accounts AND write the
      // matching ledger entries as ONE atomic unit — both tables flip
      // to their post-image together, or neither does. The read after
      // the transaction sees the committed joint state.
      val cat = new Catalog(s, graft.TempWarehouses.scoped("txn", d))
      if (cat.tableExists("acct")) cat.dropTable("acct")
      if (cat.tableExists("ledger")) cat.dropTable("ledger")
      cat.createTable("acct", StructType(Seq(
        StructField("k", LongType, false),
        StructField("bal", DoubleType, true))), Seq("k"))
      cat.createTable("ledger", StructType(Seq(
        StructField("k", LongType, false),
        StructField("delta", DoubleType, true))), Seq("k"))
      cat.bulkLoad("acct", Tables.customer(s, d).filter($"c_custkey" <= 100L)
        .select($"c_custkey".as("k"), $"c_acctbal".as("bal")))
      cat.transaction { txn =>
        txn.updateWhere("acct", $"k" <= 10L, "bal", $"bal" - 100.0)
        txn.insert("ledger", txn.table("acct").df.filter($"k" <= 10L)
          .select($"k", lit(-100.0).as("delta")))
      }
      cat.table("acct").df
        .join(cat.table("ledger").df, Seq("k"), "left")
        .select($"k", $"bal", coalesce($"delta", lit(0.0)).as("delta"))
        .orderBy($"k")
    },

    "kv_ms_get" -> { (s, d) =>
      import s.implicits._
      // Millisecond serving-path Get: the lookups run on the DRIVER
      // thread with no Spark job (Catalog.driverMultiGet — manifest +
      // parquet-footer pruning + pushed key predicate; the reference's
      // HBase Get/multi-Get, HBaseEnumerator.kt). The table is built
      // once per (JVM, sf-dir) — DDL, like the z-order layout — and
      // carries a CDC merge so the get reads a multi-file snapshot
      // with both carried-over and rewritten files. Keys cover an
      // updated row, untouched rows, a merge-inserted row, and a miss.
      val cat = msGetCatalog(s, d)
      val rows = cat.driverMultiGet("ords", Seq(
        Seq(10L), Seq(20L), Seq(100L), Seq(500L),
        Seq(9000000001L), Seq(123456789L)))
      rowsToDf(s, rows)
    },

    "kv_ms_scan" -> { (s, d) =>
      import s.implicits._
      // Bounded driver-side range scan (the HBase Scan serving
      // primitive): [500, 520] on the rowkey, no Spark job. The range
      // includes neither rewritten key nor the merge-inserted one, so
      // the oracle is the plain base slice — the interesting part is
      // that the scan reads the POST-merge snapshot (carried-over
      // links + rewritten files) through the same pruning layers the
      // point Get uses.
      val cat = msGetCatalog(s, d)
      val rows = cat.driverRangeScan("ords", 500L, 520L)
      rowsToDf(s, rows)
    },

    "kv_time_travel" -> { (s, d) =>
      import s.implicits._
      // Snapshot time travel (the COW analog of HBase cell versions /
      // Tephra snapshot reads): read the version BEFORE the CDC merge
      // — the rewritten keys show their ORIGINAL totalprice and the
      // merge-inserted key does not exist yet, while the live table
      // (kv_ms_get) serves the post-image. Both views are served from
      // immutable snapshot dirs; no flashback reconstruction.
      val (cat, preMerge) = msGetState(s, d)
      cat.tableAt("ords", preMerge).df
        .filter($"o_orderkey".isin(10L, 20L, 100L, 9000000001L))
        .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
        .orderBy($"o_orderkey")
    },

    "idx_ms_lookup" -> { (s, d) =>
      import s.implicits._
      // Driver-side Get-by-secondary-index (the reference's getByIndex,
      // KVIndexTable.kt:64-84): an equality seek on the value-sorted kv
      // index resolves base rowkeys, then the base multi-Get serves the
      // rows — both reads on the driver thread, no Spark job. Custkey
      // 777 exists only via the merge-inserted row (proving the index
      // was maintained THROUGH the CDC merge); custkey 100 exercises a
      // natural multi-row hit.
      val cat = msGetCatalog(s, d)
      val rows = cat.driverIndexGet("ords", "bycust", Seq(777L)) ++
        cat.driverIndexGet("ords", "bycust", Seq(100L))
      rowsToDf(s, rows)
    },

    "ddl_catalog" -> { (s, d) =>
      import s.implicits._
      val cat = new Catalog(s, graft.TempWarehouses.scoped("ddl", d))
      if (cat.tableExists("kv_demo")) cat.dropTable("kv_demo")
      // TIME is feature-flagged in Spark 4.1 and the flag is a
      // runtime SQL conf — set it here so the query works under any
      // caller-built session (driver, Verify, tests alike)
      s.conf.set("spark.sql.timeType.enabled", "true")
      // schema exercises the ANSI interval family (reference
      // HBaseTable.kt:253-296 declares INTERVAL codecs: YearMonth
      // rides parquet as INT32 months, DayTime as INT64 micros) AND
      // the TIME codec (HBaseTable.kt:274; INT64 TIME(MICROS),
      // java.time.LocalTime rows) — full reference codec parity
      cat.createTable("kv_demo",
        StructType(Seq(
          StructField("k", LongType, false),
          StructField("v", StringType, true),
          StructField("score", DoubleType, true),
          StructField("retention", YearMonthIntervalType(), true),
          StructField("ttl", DayTimeIntervalType(), true),
          StructField("daily_at", TimeType(), true))),
        primaryKey = Seq("k"))
      // Row-based load: the tuple Encoder derivation has no LocalTime
      // member, so TIME columns load through an explicit schema
      val demoRows = java.util.Arrays.asList(
        Row(1L, "a", 0.5, java.time.Period.ofMonths(14),
          java.time.Duration.ofSeconds(30), java.time.LocalTime.of(6, 30)),
        Row(2L, "b", 1.5, java.time.Period.ofYears(1),
          java.time.Duration.ofHours(2), java.time.LocalTime.of(23, 59, 59)),
        Row(3L, "c", 2.5, java.time.Period.ofMonths(3),
          java.time.Duration.ofMillis(1500), java.time.LocalTime.NOON))
      cat.bulkLoad("kv_demo",
        s.createDataFrame(demoRows, cat.schemaOf("kv_demo")))
      val loaded = cat.table("kv_demo").pointGet(2L)
        .select($"k".cast("string").as("column_name"), lit("POINT_GET").as("datatype"))
      // dump column.sys + table.sys metadata + prove the round-trip read
      val described = cat.describeTable("kv_demo")
        .select($"column_name", $"datatype")
      val tables = cat.listTables().toDF("column_name")
        .withColumn("datatype", lit("TABLE"))
      val tinfo = cat.tableInfo("kv_demo")
        .select(concat_ws("|", $"table_name", $"primary_key", $"lock_status",
          $"charset", $"layout").as("column_name"),
          lit("TABLE_INFO").as("datatype"))
      described.unionByName(loaded).unionByName(tables).unionByName(tinfo)
        .orderBy($"datatype", $"column_name")
    },
  )

  /** Bench warmup hook: build (or reuse) the driver-get table so the
    * timed reps measure the serving-path Get, not the DDL. */
  def warmMsGet(s: SparkSession, d: String): Unit = {
    msGetCatalog(s, d): Unit
  }

  private val msGetSchema = StructType(Seq(
    StructField("o_orderkey", LongType, false),
    StructField("o_custkey", LongType, true),
    StructField("o_orderstatus", StringType, true),
    StructField("o_totalprice", DoubleType, true)))

  /** Driver-side result rows → ordered DataFrame in the ms-get schema
    * (shared by every serving-path gate query). */
  private def rowsToDf(s: SparkSession,
                       rows: Seq[org.apache.spark.sql.Row]): DataFrame =
    s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.collection.JavaConverters.seqAsJavaList(rows)),
        msGetSchema)
      .orderBy(col("o_orderkey"))

  /** The driver-get demo table, built ONCE per (JVM, sf-dir) like the
    * z-order layout: orders bulk-loaded across 8 part files, a kv
    * secondary index on o_custkey, then one CDC incrementalMerge that
    * rewrites two keys and inserts one (the index is maintained
    * through the merge) — so the timed queries serve point Gets and
    * index lookups against a realistic multi-file snapshot
    * (carried-over links + rewritten files) while the build cost is
    * DDL, paid once. */
  private def msGetCatalog(s: SparkSession, d: String): Catalog =
    msGetState(s, d)._1

  /** (catalog, pre-merge snapshot version). The pre-merge version is
    * recorded AT THE MERGE — deriving it later as live−1 would
    * silently re-encode the build sequence and break the time-travel
    * gate the day this builder gains a second version bump. */
  private def msGetState(s: SparkSession, d: String): (Catalog, Int) = {
    import s.implicits._
    graft.QueryCaches.fixture(s, d, "ords") { cat =>
      cat.createTable("ords", msGetSchema, primaryKey = Seq("o_orderkey"))
      cat.bulkLoad("ords", Tables.orders(s, d)
        .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice"),
        partitions = 8)
      cat.createIndex("ords", "bycust", "kv", Seq("o_custkey"))
      val upd = Tables.orders(s, d)
        .filter($"o_orderkey".isin(10L, 20L))
        .select($"o_orderkey", $"o_custkey", $"o_orderstatus",
          lit(99999.0).as("o_totalprice"))
      val ins = s.createDataFrame(Seq((9000000001L, 777L, "N", 1234.5)))
        .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val pre = cat.dataVersionOf("ords")
      cat.incrementalMerge("ords", upd.unionByName(ins))
      (cat, pre)
    }
  }

  /** The z-clustered two-key lineitem slice, built ONCE per (JVM,
    * sf-dir) and shared by both z-order gate queries — the same
    * persisted-index contract as the full-text postings and bitmap
    * indexes: the table layout is DDL done once, the timed queries
    * measure the SCAN against it. Returns a fresh parquet-backed
    * frame each call (never a Spark-cached one) so the measured scan
    * exercises real file pruning on the z-layout, not an
    * InMemoryRelation. First toucher builds, so every query stays
    * self-contained under Verify. */
  private def zorderedLineitem(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.QueryCaches.fixture(s, d, "zli") { cat =>
      cat.createTable("zli",
        StructType(Seq(
          StructField("l_orderkey", LongType, false),
          StructField("l_linenumber", IntegerType, false),
          StructField("l_quantity", DoubleType, true))),
        primaryKey = Seq("l_orderkey", "l_linenumber"), layout = "zorder")
      cat.bulkLoad("zli", Tables.lineitem(s, d)
        .filter($"l_orderkey" < 2000)
        .select($"l_orderkey", $"l_linenumber", $"l_quantity"), partitions = 8)
      cat
    }.table("zli").df
  }

  def oracles: Map[String, String] = Map(
    "kv_point_get" ->
      "SELECT * FROM customer WHERE c_custkey = 42",

    "kv_zorder_scan" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_orderkey < 2000 AND l_linenumber = 5
        |ORDER BY l_orderkey""".stripMargin,

    "kv_zorder_both" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_orderkey BETWEEN 500 AND 700 AND l_linenumber >= 4
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "kv_multi_get" ->
      """SELECT * FROM part WHERE p_partkey IN (1,5,10,99,123)
        |ORDER BY p_partkey""".stripMargin,

    "kv_prefix_scan" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_name LIKE 'Customer#00000012%' ORDER BY c_custkey""".stripMargin,

    "kv_range_scan" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderkey >= 500 AND o_orderkey < 600 ORDER BY o_orderkey""".stripMargin,

    "kv_scan_reverse" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderkey >= 500 AND o_orderkey < 900
        |ORDER BY o_orderkey DESC LIMIT 50""".stripMargin,

    "kv_composite_get" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM lineitem
        |WHERE l_orderkey = 3 AND l_linenumber = 2""".stripMargin,

    "kv_composite_multiget" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem
        |WHERE (l_orderkey, l_linenumber) IN ((1,1), (3,2), (5,1), (7,4))
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "kv_composite_range" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE (l_orderkey > 100 OR (l_orderkey = 100 AND l_linenumber >= 3))
        |  AND (l_orderkey < 105 OR (l_orderkey = 105 AND l_linenumber < 2))
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "kv_filter_scan" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem
        |WHERE l_returnflag = 'R' AND l_quantity >= 30.0 AND l_discount < 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "kv_insert" ->
      """SELECT p_partkey, p_name, p_brand, p_retailprice FROM (
        |  SELECT p_partkey, p_name, p_brand, p_retailprice FROM part
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |      (CAST(900001 AS BIGINT), 'graft widget', 'Brand#99', CAST(101.25 AS DOUBLE)),
        |      (CAST(900002 AS BIGINT), 'graft bolt', 'Brand#99', CAST(55.5 AS DOUBLE)))
        |    t(p_partkey, p_name, p_brand, p_retailprice))
        |ORDER BY p_partkey""".stripMargin,

    "kv_update" ->
      """SELECT c_custkey, c_name,
        |  CASE WHEN c_custkey <= 10 THEN CAST(9999.25 AS DOUBLE) ELSE c_acctbal END AS c_acctbal
        |FROM customer WHERE c_custkey <= 30 ORDER BY c_custkey""".stripMargin,

    "kv_delete" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
        |WHERE o_orderkey NOT IN (10,11,12,13,14) AND o_orderkey < 30
        |ORDER BY o_orderkey""".stripMargin,

    // the driver-side Get must agree row-for-row with plain SQL over
    // the same logical table state: base orders, two keys rewritten by
    // the merge, one merge-inserted key, misses absent
    "kv_ms_get" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CASE WHEN o_orderkey IN (10, 20) THEN CAST(99999.0 AS DOUBLE)
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey IN (10, 20, 100, 500)
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |      (CAST(9000000001 AS BIGINT), CAST(777 AS BIGINT), 'N',
        |       CAST(1234.5 AS DOUBLE)))
        |    t(o_orderkey, o_custkey, o_orderstatus, o_totalprice))
        |ORDER BY o_orderkey""".stripMargin,

    // the driver-side range scan must agree with the plain SQL slice
    // (neither the rewritten keys nor the inserted key fall in range)
    "kv_ms_scan" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey BETWEEN 500 AND 520
        |ORDER BY o_orderkey""".stripMargin,

    // the pre-merge snapshot: original prices, no inserted key — a
    // time-travel read that leaked any post-merge state hash-mismatches
    "kv_time_travel" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey IN (10, 20, 100)
        |ORDER BY o_orderkey""".stripMargin,

    // index-served driver get over the same logical table state: every
    // order of the two looked-up customers (incl. the merge-inserted
    // row — custkey 777's only guaranteed hit — and the CASE'd rewrite
    // if either rewritten order happens to belong to them)
    "idx_ms_lookup" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CASE WHEN o_orderkey IN (10, 20) THEN CAST(99999.0 AS DOUBLE)
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_custkey IN (777, 100)
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |      (CAST(9000000001 AS BIGINT), CAST(777 AS BIGINT), 'N',
        |       CAST(1234.5 AS DOUBLE)))
        |    t(o_orderkey, o_custkey, o_orderstatus, o_totalprice))
        |ORDER BY o_orderkey""".stripMargin,
    "sql_ddl_dml" ->
      """SELECT k, v, score FROM (VALUES
        |    (CAST(1 AS BIGINT), 'a', CAST(0.5 AS DOUBLE)),
        |    (CAST(3 AS BIGINT), 'c', CAST(5.0 AS DOUBLE)),
        |    (CAST(5 AS BIGINT), 'm', CAST(9.0 AS DOUBLE)),
        |    (CAST(7 AS BIGINT), 'g', CAST(7.0 AS DOUBLE)))
        |  t(k, v, score)
        |ORDER BY k""".stripMargin,
    "kv_txn_multi" ->
      """SELECT c_custkey AS k,
        |  c_acctbal - CASE WHEN c_custkey <= 10 THEN CAST(100.0 AS DOUBLE)
        |                   ELSE CAST(0.0 AS DOUBLE) END AS bal,
        |  CASE WHEN c_custkey <= 10 THEN CAST(-100.0 AS DOUBLE)
        |       ELSE CAST(0.0 AS DOUBLE) END AS delta
        |FROM customer WHERE c_custkey <= 100 ORDER BY k""".stripMargin,
    // ddl_catalog: rows-only (filesystem catalog side effects aren't SQL)
  )
}
