package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.util.concurrent.ConcurrentHashMap

/** Per-directory memoization of the query surface's fixtures: derived
  * index frames shared by several queries (full-text postings, dedup
  * pair sets), persisted index tables, staged stream landing zones and
  * corpus scalars. An index is built once and consulted many times —
  * rebuilding it per query would misrepresent both the design and the
  * benchmark. The memo is per-JVM and keyed by (kind, dir).
  *
  * Every build-once fixture TABLE lives in one catalog per (JVM, dir)
  * ([[fixture]]) — a pid+dir-scoped warehouse whose tables carry real
  * `fulltext`/`bitmap`/`kv`/`vector` indexes built through the
  * production DDL path (the reference persists every index as its own
  * table). The memo then Spark-caches the frames read from them, so
  * repeated searches read memory while the artifact of record lives on
  * disk.
  *
  * The memo holds handles, not bytes: Spark's block manager bounds,
  * spills and evicts the `.cache()`d frames, and the decoded bytes the
  * driver serving path reads go through the bounded `kv.FileCache`.
  */
object QueryCaches {
  /** A build-once holder. The lazy val's lock is the holder's own, so a
    * build runs outside the map's `computeIfAbsent` and may itself call
    * [[once]] for other keys; a build that throws leaves it unset. */
  private final class Once(build: () => Any) { lazy val value: Any = build() }

  private val memo = new ConcurrentHashMap[String, Once]()

  /** The value of `build`, run at most once per key and JVM while it
    * succeeds: concurrent callers of one key wait for the one build,
    * and a build that throws is dropped so the next call rebuilds. */
  def once[T](key: String)(build: => T): T = {
    val h = memo.computeIfAbsent(key, (_: String) => new Once(() => build))
    try h.value.asInstanceOf[T]
    catch { case e: Throwable => memo.remove(key, h); throw e }
  }

  /** Memoize a derived frame, Spark-cached (public: query modules share
    * pair sets / index frames through this). */
  def frame(key: String)(build: => DataFrame): DataFrame = once(key)(build.cache())

  /** Build the fixture `table` once per (JVM, dir) in the one
    * fixture warehouse of that dir, where every build-once fixture
    * table lives under its own name: `build` creates and fills it (a
    * copy left by a failed earlier build is dropped first) and returns
    * what its callers share. */
  def fixture[T](s: SparkSession, d: String, table: String)
                (build: graft.kv.Catalog => T): T =
    once(s"fixture:$table:$d") {
      val cat = once(s"fixtures:$d")(
        new graft.kv.Catalog(s, TempWarehouses.scoped("fixtures", d)))
      if (cat.tableExists(table)) cat.dropTable(table)
      build(cat)
    }

  /** One persisted full-text index build over the documents table —
    * build is DDL (once per JVM+dir+analyzer); searches serve from
    * its frames. Two instances below: the "standard" index every
    * ft_* search uses, and its english-analyzed sibling (stopword
    * position holes + stems, the Lucene EnglishAnalyzer contract)
    * the analyzed-phrase gate serves from. */
  private def ftIndexFor(s: SparkSession, d: String, table: String,
                         analyzer: String): graft.kv.Catalog =
    fixture(s, d, table) { cat =>
      val docs = Tables.documents(s, d)
      cat.createTable(table, docs.schema, Seq("doc_id"))
      cat.bulkLoad(table, docs, partitions = 2)
      cat.createIndex(table, "ft", "fulltext", Seq("text"), analyzer = analyzer)
      cat
    }

  private def ftIndex(s: SparkSession, d: String): graft.kv.Catalog =
    ftIndexFor(s, d, "docs", "standard")

  def positionalEnglish(s: SparkSession, d: String): DataFrame =
    frame(s"positional_en:$d")(
      ftIndexFor(s, d, "docs_en", "english").indexPositional("docs_en", "ft", "fulltext"))

  def postings(s: SparkSession, d: String): DataFrame =
    frame(s"postings:$d")(ftIndex(s, d).indexData("docs", "ft", "fulltext"))

  def positional(s: SparkSession, d: String): DataFrame =
    frame(s"positional:$d")(ftIndex(s, d).indexPositional("docs", "ft", "fulltext"))

  def dictionary(s: SparkSession, d: String): DataFrame =
    frame(s"dictionary:$d")(ftIndex(s, d).indexDictionary("docs", "ft", "fulltext"))

  /** Per-document token counts (BM25 norms), derived from the postings. */
  def doclens(s: SparkSession, d: String): DataFrame =
    frame(s"doclens:$d")(index.FullText.buildDocLens(postings(s, d)))

  /** The block-max summary for WAND-pruned ranked top-k, derived once
    * from the persisted postings/norms/dictionary frames (the Lucene
    * 8+ impact structure beside each postings list; a production
    * index persists it next to the doclens norms, same as
    * buildDocLens's contract). */
  def blockmax(s: SparkSession, d: String): DataFrame =
    frame(s"blockmax:$d")(index.FullText.buildBlockMax(postings(s, d),
      doclens(s, d), dictionary(s, d), corpusSize(s, d), avgDocLen(s, d)))

  /** Average document length for BM25, computed as exact-integer
    * totalTokens / N so every engine derives the identical double
    * (a floating AVG would be summation-order-dependent). */
  def avgDocLen(s: SparkSession, d: String): Double = {
    val total = once(s"toktotal:$d") {
      val r = doclens(s, d).agg(org.apache.spark.sql.functions.sum("dl")).head
      // sum over zero rows is NULL — fail with the real cause, not
      // an opaque NPE inside the cache builder
      require(!r.isNullAt(0),
        s"avgDocLen: no tokenized documents under $d — BM25 needs a non-empty corpus")
      r.getLong(0)
    }
    total.toDouble / corpusSize(s, d)
  }

  /** Bitmap index over an orders column — a catalog-persisted `bitmap`
    * index on the fixture warehouse's orders table, built once per
    * (column, dir) and consulted by every bitmap query. */
  def ordersBitmap(s: SparkSession, d: String, valueCol: String): DataFrame =
    frame(s"bitmap:$valueCol:$d") {
      val cat = fixture(s, d, "orders") { cat =>
        val orders = Tables.orders(s, d)
        cat.createTable("orders", orders.schema, Seq("o_orderkey"))
        cat.bulkLoad("orders", orders, partitions = 2)
        cat
      }
      cat.createIndex("orders", s"bm_$valueCol", "bitmap", Seq(valueCol))
      cat.indexData("orders", s"bm_$valueCol", "bitmap")
    }

  /** Corpus document count, computed once per directory and stored with
    * the index frames — tf-idf needs N on every query, and a real
    * deployment persists N alongside the dictionary rather than
    * re-scanning the corpus per search. */
  def corpusSize(s: SparkSession, d: String): Long =
    once(s"ndocs:$d")(Tables.documents(s, d).count())

  /** A base table's scan split count — the cheap proxy the
    * conditional map fan-outs compare against mapFanout
    * (StreamQueries.fanned). Planning the BARE scan once costs
    * microseconds; planning every derived consumer frame per call
    * (df.rdd on the union/filter lineage) measured as a 10-25% tax on
    * the fanned dedup keys. The count is a function of the dir's file
    * layout and of the split conf (maxPartitionBytes, openCostInBytes,
    * the default parallelism), so it is memoized per (table, dir,
    * split conf): a session with another split conf reads its own
    * width. No job runs — partition enumeration is driver-side. */
  def scanParallelism(s: SparkSession, d: String, table: String): Int =
    once(Seq("scanparts", table, d,
        s.conf.get("spark.sql.files.maxPartitionBytes"),
        s.conf.get("spark.sql.files.openCostInBytes"),
        s.sparkContext.defaultParallelism).mkString(":"))(
      Tables.load(s, d, table).rdd.getNumPartitions)
}

/** Shutdown-hook reclamation for temp warehouse and staging dirs (one
  * hook per JVM reclaiming EVERY registered path). */
object TempWarehouses {
  private val paths = ConcurrentHashMap.newKeySet[String]()
  private val registered = new java.util.concurrent.atomic.AtomicBoolean(false)
  /** A pid+dir-scoped warehouse path, registered for shutdown
    * reclamation. The dir token is sanitized text PLUS the hash hex:
    * lossy sanitization alone could alias distinct dirs, and the
    * 32-bit hash alone has constructible collisions — aliasing needs
    * BOTH to collide. */
  def scoped(prefix: String, d: String): String = {
    // cap the readable segment: a deep dataset path must not push the
    // dir NAME past the filesystem's 255-byte component limit — the
    // hash keeps capped tags distinct where truncation aliases them
    val tag = d.replaceAll("[^A-Za-z0-9]", "_").takeRight(40) +
      "_" + java.lang.Integer.toHexString(d.hashCode)
    val wh = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"graft_warehouse_${prefix}_${ProcessHandle.current().pid()}_$tag").toString
    register(wh)
    wh
  }

  def register(wh: String): Unit = {
    paths.add(wh)
    if (registered.compareAndSet(false, true))
      Runtime.getRuntime.addShutdownHook(new Thread(new Runnable {
        override def run(): Unit = paths.forEach { wh =>
          try {
            val root = java.nio.file.Paths.get(wh)
            if (java.nio.file.Files.exists(root)) {
              val w = java.nio.file.Files.walk(root)
              try w.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
                .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
              finally w.close()
            }
          } catch { case _: Throwable => }
        }
      }))
  }
}
