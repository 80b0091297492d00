package graft

import graft.kv.Catalog
import graft.operators.Skew
import graft.streaming.Streams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class IngestSpec extends AnyFunSuite {
  import TestSpark._

  /** A mutation stream merged into `table` by the streaming-upsert
    * sink: each micro-batch goes through [[Streams.upsertLatestBatch]]
    * (last writer wins on (tsCol, seqCol), file-granular merge). */
  private def upsertStream(stream: DataFrame, cat: Catalog, table: String,
                           keyCol: String, tsCol: String, seqCol: String): StreamingQuery =
    stream.writeStream.outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Streams.upsertLatestBatch(cat, table, batch, keyCol, tsCol, seqCol)
      }
      .start()

  /** The events table as a file-source stream, `ts` as a timestamp. */
  private def eventsStream(prefix: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val raw = spark.readStream
      .schema(Tables.load(spark, sf, "events").schema)
      .parquet(dir.toString)
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }

  /** The mutable state a user-keyed upsert keeps, ordering columns
    * included (the sink compares a batch's rows against them). */
  private val stateCols = Seq("user_id", "event_type", "value", "ts", "event_id")

  test("streaming mutation ingest merges last-writer-wins into the catalog table") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_ingest_wh").toString
    val cat = new Catalog(spark, wh)
    // mutations = the events table streamed in; key user_id,
    // order by ts (tie event_id)
    val stream = eventsStream("graft_ingest_src")
    cat.createTable("user_state", stream.select(stateCols.map(col): _*).schema,
      primaryKey = Seq("user_id"))

    val q = upsertStream(stream, cat, "user_state", "user_id", "ts", "event_id")
    try q.processAllAvailable() finally q.stop()

    // expected: latest event per user from the batch table
    val expected = Tables.events(spark, sf).groupBy("user_id")
      .agg(max_by(struct($"event_type", $"value"), struct($"ts", $"event_id")).as("w"))
      .select($"user_id", $"w.event_type", $"w.value")
      .collect().map(_.toSeq).toSet
    val got = cat.table("user_state").df
      .select("user_id", "event_type", "value")
      .collect().map(_.toSeq).toSet
    assert(got == expected)
    // snapshots: v0 empty, current non-empty
    assert(cat.dataVersionOf("user_state") >= 1)
    assert(cat.tableAt("user_state", 0).df.count() == 0)
  }

  test("incremental merge rewrites only touched key ranges; untouched files carry over byte-identical") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_incr_wh").toString
    val cat = new Catalog(spark, wh)
    cat.createTable("incr",
      StructType(Seq(
        StructField("k", LongType, false),
        StructField("v", StringType, true))),
      primaryKey = Seq("k"))
    // 4 explicit range partitions over 1..4000 → 4 files with disjoint
    // ranges (explicit count so AQE doesn't coalesce the tiny table)
    cat.bulkLoad("incr",
      spark.range(1, 4001).select(col("id").as("k"),
        concat(lit("v"), col("id")).as("v")), partitions = 4)
    val v1Dir = java.nio.file.Paths.get(wh, "incr", s"data_v${cat.dataVersionOf("incr")}")
    // patch touches ONLY low keys (one file's range) + brand-new keys
    cat.incrementalMerge("incr",
      Seq((5L, "patched5"), (9000L, "new9000")).toDF("k", "v"))
    val v2Dir = java.nio.file.Paths.get(wh, "incr", s"data_v${cat.dataVersionOf("incr")}")
    assert(v2Dir != v1Dir)
    // correctness: patched + new + everything else intact
    val t = cat.table("incr")
    assert(t.pointGet(5L).head().getString(1) == "patched5")
    assert(t.pointGet(9000L).head().getString(1) == "new9000")
    assert(t.df.count() == 4001)
    assert(t.pointGet(3999L).head().getString(1) == "v3999")
    // files for untouched key ranges are the SAME bytes (hard links),
    // proving the merge never rewrote them
    def parts(d: java.nio.file.Path) = {
      val s = java.nio.file.Files.list(d)
      try {
        import scala.collection.JavaConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("part-")).toSet
      } finally s.close()
    }
    val shared = parts(v1Dir) intersect parts(v2Dir)
    assert(shared.nonEmpty, "no untouched file carried over")
    shared.foreach { f =>
      val a = java.nio.file.Files.readAllBytes(v1Dir.resolve(f))
      val b = java.nio.file.Files.readAllBytes(v2Dir.resolve(f))
      assert(java.util.Arrays.equals(a, b), s"$f changed across merge")
    }
    // at least one old file was NOT carried over (it was rewritten)
    assert((parts(v1Dir) -- parts(v2Dir)).nonEmpty)
    cat.dropTable("incr")
  }

  test("incremental merge sees files appended via SQL INSERT (stale manifest detected)") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_stale_wh").toString
    val cat = new Catalog(spark, wh)
    cat.createTable("stale",
      StructType(Seq(
        StructField("k", LongType, false),
        StructField("v", StringType, true))),
      primaryKey = Seq("k"))
    cat.bulkLoad("stale",
      spark.range(1, 101).select(col("id").as("k"),
        concat(lit("v"), col("id")).as("v")), partitions = 2)
    // merge once → manifest written for this snapshot
    cat.incrementalMerge("stale", Seq((1L, "patched1")).toDF("k", "v"))
    // SQL INSERT appends a new file into the LIVE snapshot dir,
    // behind the manifest's back
    spark.conf.set("spark.sql.catalog.gstale",
      classOf[graft.kv.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gstale.warehouse", wh)
    spark.sql("INSERT INTO gstale.stale VALUES (500, 'appended')")
    assert(cat.table("stale").pointGet(500L).count() == 1)
    // the next merge must notice the manifest is stale and keep the
    // appended row
    cat.incrementalMerge("stale", Seq((2L, "patched2")).toDF("k", "v"))
    val t = cat.table("stale")
    assert(t.pointGet(500L).head().getString(1) == "appended")
    assert(t.pointGet(2L).head().getString(1) == "patched2")
    assert(t.pointGet(1L).head().getString(1) == "patched1")
    assert(t.df.count() == 101)
    cat.dropTable("stale")
  }

  test("concurrent bulk writers serialize on the COW pointer") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_lock_wh").toString
    val cat = new Catalog(spark, wh)
    cat.createTable("locked",
      StructType(Seq(
        StructField("k", LongType, false),
        StructField("v", StringType, true))),
      primaryKey = Seq("k"))
    val v0 = cat.dataVersionOf("locked")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writes = (1 to 4).map { i =>
      Future(cat.bulkLoad("locked",
        Seq.tabulate(50)(j => (j.toLong, s"w$i")).toDF("k", "v")))
    }
    Await.result(Future.sequence(writes), 120.seconds)
    // every writer's bump landed (none lost to a race), each snapshot
    // is one writer's complete dataset, and the lock was released
    assert(cat.dataVersionOf("locked") == v0 + 4)
    ((v0 + 1) to (v0 + 4)).foreach { v =>
      val snap = cat.tableAt("locked", v).df
      assert(snap.count() == 50)
      assert(snap.select("v").distinct().count() == 1)
    }
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(wh, "locked", "_graft_write.lock")))
    cat.dropTable("locked")
  }

  test("salted aggregation equals plain aggregation") {
    val li = Tables.lineitem(spark, sf)
    val salted = Skew.saltedSumCount(li, Seq("l_returnflag"), "l_quantity", 8)
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val plain = li.groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("s"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(salted.keySet == plain.keySet)
    salted.foreach { case (k, (s, n)) =>
      assert(math.abs(s - plain(k)._1) < 1e-6 && n == plain(k)._2)
    }
  }

  test("salted join equals plain join") {
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_custkey")
    val l = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
    val plain = l.join(o, Seq("o_orderkey")).count()
    val salted = Skew.saltedJoin(l, o, "o_orderkey", 4).count()
    assert(salted == plain)
  }

  test("streaming CDC keeps a registered kv index fresh per micro-batch") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_cdcidx_wh").toString
    val cat = new Catalog(spark, wh)
    val stream = eventsStream("graft_cdcidx_src")
    val schema = stream.select(stateCols.map(col): _*).schema
    cat.createTable("st", schema, primaryKey = Seq("user_id"))
    // a seed row older than every event
    cat.bulkLoad("st", Seq((1L, "seed", 0.0)).toDF("user_id", "event_type", "value")
      .withColumn("ts", to_timestamp(lit("1970-01-01 00:00:00")).cast(schema("ts").dataType))
      .withColumn("event_id", lit(0L)))
    cat.createIndex("st", "by_type", "kv", Seq("event_type"))

    val q = upsertStream(stream, cat, "st", "user_id", "ts", "event_id")
    try q.processAllAvailable() finally q.stop()

    // index followed the micro-batch merges: FRESH, one entry per row,
    // and a lookup through it matches a direct scan
    assert(cat.indexStatus("st", "by_type", "kv") == "FRESH")
    val idx = cat.indexData("st", "by_type", "kv")
    val base = cat.table("st").df
    assert(idx.count() == base.count())
    val viaIndex = graft.index.KvIndex.lookup(base, "user_id", idx, "purchase")
      .select("user_id").collect().map(_.getLong(0)).toSet
    val direct = base.filter(col("event_type") === "purchase")
      .select("user_id").collect().map(_.getLong(0)).toSet
    assert(viaIndex == direct && direct.nonEmpty)
  }

  test("streaming CDC keeps a vector index fresh; streamed-in copies searchable") {
    import spark.implicits._
    // the full composition: continuous mutation ingest → per-micro-
    // batch incrementalMerge → encoded vector segments — an exact
    // copy that arrives ONLY through the stream must be FRESH in (and
    // found through) the persisted index without any re-train
    val wh = java.nio.file.Files.createTempDirectory("graft_cdcvec_wh").toString
    val cat = new Catalog(spark, wh)
    val embs = Tables.embeddings(spark, sf)
    cat.createTable("vec", embs.schema, primaryKey = Seq("vec_id"))
    cat.bulkLoad("vec", embs)
    cat.createIndex("vec", "ann", "vector", Seq("embedding"))

    // two staged drops = two micro-batches: fresh vectors, then exact
    // copies of vec_id 3 and 7 under new ids
    val dir = java.nio.file.Files.createTempDirectory("graft_cdcvec_src")
    def stageDrop(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      // tmp lives OUTSIDE the watched dir so the file source never
      // lists the staging writes
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_cdcvec_tmp")
        .resolve("out")
      df.coalesce(1).write.parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
      try part.filter(p => p.getFileName.toString.startsWith("part-"))
        .forEach(p => { java.nio.file.Files.move(p, dir.resolve(name)); () })
      finally part.close()
    }
    stageDrop(embs.filter($"vec_id".between(0, 9))
      .withColumn("vec_id", $"vec_id" + 2000000L), "d0.parquet")
    stageDrop(embs.filter($"vec_id".isin(3L, 7L))
      .withColumn("vec_id", $"vec_id" + 1000000L), "d1.parquet")
    val stream = spark.readStream.schema(embs.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val q = upsertStream(stream, cat, "vec", "vec_id", "label", "vec_id")
    try q.processAllAvailable() finally q.stop()

    assert(cat.indexStatus("vec", "ann", "vector") == "FRESH")
    val (entries, cent, _) = cat.vectorIndexView("vec", "ann")
    assert(entries.count() == cat.table("vec").df.count())
    // the streamed-in exact copies are found via the segmented view,
    // each ranking its original first with cosine 1
    val idx = graft.similarity.VectorIndex.ivfOf(cent, entries)
    val hits = graft.similarity.Ann.ivfSearch(idx,
        cat.table("vec").df.filter($"vec_id".isin(1000003L, 1000007L)),
        "vec_id", "embedding", k = 1)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nn"),
        r.getAs[Double]("score"))).toSet
    assert(hits == Set((1000003L, 3L, 1.0), (1000007L, 7L, 1.0)),
      s"streamed copies not recalled through the index: $hits")
  }
}
