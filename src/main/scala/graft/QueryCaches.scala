package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.util.concurrent.ConcurrentHashMap
import java.util.function.Function

/** Per-directory memoization of derived index frames shared by several
  * queries (full-text postings, dedup pair sets). An index is built
  * once and consulted many times — rebuilding it per query would
  * misrepresent both the design and the benchmark. Entries are
  * Spark-cached; the cache is per-JVM and keyed by (kind, dir).
  *
  * The full-text and bitmap frames are not ad-hoc builds: they come
  * out of a CATALOG-PERSISTED index (a pid+dir-scoped warehouse whose
  * `docs`/`orders` tables carry real `fulltext`/`bitmap` indexes —
  * the reference persists every index as its own table, and the
  * standalone search queries here consume the same on-disk artifacts
  * the CDC-maintained path serves). The memo layer then Spark-caches
  * the persisted frames, so repeated searches read memory while the
  * artifact of record lives on disk through the production DDL path.
  */
object QueryCaches {
  private val cache = new ConcurrentHashMap[String, DataFrame]()

  /** Memoize an arbitrary derived frame (public: query modules share
    * pair sets / index frames through this). */
  def frame(key: String)(build: => DataFrame): DataFrame = memo(key)(build)

  private def memo(key: String)(build: => DataFrame): DataFrame =
    cache.computeIfAbsent(key, new Function[String, DataFrame] {
      override def apply(k: String): DataFrame = build.cache()
    })

  // Memoization layers each get their OWN map, and every builder
  // resolves its dependencies BEFORE entering computeIfAbsent:
  // ConcurrentHashMap forbids re-entrant updates of the map a mapping
  // function is running under ("Recursive update"), and the violation
  // is bin-collision-dependent — it must be impossible by structure,
  // not by luck of the key hashes.
  private val cats = new ConcurrentHashMap[String, graft.kv.Catalog]()
  private val builtKinds = new ConcurrentHashMap[String, java.lang.Boolean]()

  /** The pid+dir-scoped warehouse catalog backing the persisted index
    * artifacts below. Tables/indexes are created lazily per kind. */
  private def warehouse(s: SparkSession, d: String): graft.kv.Catalog =
    cats.computeIfAbsent(d, new Function[String, graft.kv.Catalog] {
      override def apply(k: String): graft.kv.Catalog =
        new graft.kv.Catalog(s, TempWarehouses.scoped("qc", d))
    })

  /** One persisted full-text index build over the documents table —
    * build is DDL (once per JVM+dir+analyzer); searches serve from
    * its frames. Two instances below: the "standard" index every
    * ft_* search uses, and its english-analyzed sibling (stopword
    * position holes + stems, the Lucene EnglishAnalyzer contract)
    * the analyzed-phrase gate serves from. */
  private def ftIndexFor(s: SparkSession, d: String, table: String,
                         analyzer: String): graft.kv.Catalog = {
    val cat = warehouse(s, d)
    builtKinds.computeIfAbsent(s"ft:$analyzer:$d",
      new Function[String, java.lang.Boolean] {
        override def apply(k: String): java.lang.Boolean = {
          val docs = Tables.documents(s, d)
          if (cat.tableExists(table)) cat.dropTable(table)
          cat.createTable(table, docs.schema, Seq("doc_id"))
          cat.bulkLoad(table, docs, partitions = 2)
          cat.createIndex(table, "ft", "fulltext", Seq("text"),
            analyzer = analyzer)
          true
        }
      })
    cat
  }

  private def ftIndex(s: SparkSession, d: String): graft.kv.Catalog =
    ftIndexFor(s, d, "docs", "standard")

  private def ftIndexEn(s: SparkSession, d: String): graft.kv.Catalog =
    ftIndexFor(s, d, "docs_en", "english")

  def positionalEnglish(s: SparkSession, d: String): DataFrame = {
    val cat = ftIndexEn(s, d)
    memo(s"positional_en:$d")(cat.indexPositional("docs_en", "ft", "fulltext"))
  }

  def postings(s: SparkSession, d: String): DataFrame = {
    val cat = ftIndex(s, d)
    memo(s"postings:$d")(cat.indexData("docs", "ft", "fulltext"))
  }

  def positional(s: SparkSession, d: String): DataFrame = {
    val cat = ftIndex(s, d)
    memo(s"positional:$d")(cat.indexPositional("docs", "ft", "fulltext"))
  }

  def dictionary(s: SparkSession, d: String): DataFrame = {
    val cat = ftIndex(s, d)
    memo(s"dictionary:$d")(cat.indexDictionary("docs", "ft", "fulltext"))
  }

  /** Per-document token counts (BM25 norms), derived from the postings. */
  def doclens(s: SparkSession, d: String): DataFrame = {
    val p = postings(s, d)
    memo(s"doclens:$d")(index.FullText.buildDocLens(p))
  }

  /** The block-max summary for WAND-pruned ranked top-k, derived once
    * from the persisted postings/norms/dictionary frames (the Lucene
    * 8+ impact structure beside each postings list; a production
    * index persists it next to the doclens norms, same as
    * buildDocLens's contract). */
  def blockmax(s: SparkSession, d: String): DataFrame = {
    val p = postings(s, d); val dl = doclens(s, d)
    val dict = dictionary(s, d)
    val n = corpusSize(s, d); val ad = avgDocLen(s, d)
    memo(s"blockmax:$d")(
      index.FullText.buildBlockMax(p, dl, dict, n, ad))
  }

  /** Average document length for BM25, computed as exact-integer
    * totalTokens / N so every engine derives the identical double
    * (a floating AVG would be summation-order-dependent). */
  def avgDocLen(s: SparkSession, d: String): Double = {
    val total = counts.computeIfAbsent(s"toktotal:$d",
      new Function[String, java.lang.Long] {
        override def apply(k: String): java.lang.Long = {
          val r = doclens(s, d).agg(org.apache.spark.sql.functions.sum("dl")).head
          // sum over zero rows is NULL — fail with the real cause, not
          // an opaque NPE inside the cache builder
          require(!r.isNullAt(0),
            s"avgDocLen: no tokenized documents under $d — BM25 needs a non-empty corpus")
          r.getLong(0)
        }
      })
    total.toDouble / corpusSize(s, d)
  }

  /** Bitmap index over an orders column — a catalog-persisted `bitmap`
    * index on the warehouse's orders table, built once per (column,
    * dir) and consulted by every bitmap query. */
  def ordersBitmap(s: SparkSession, d: String, valueCol: String): DataFrame = {
    val cat = warehouse(s, d)
    builtKinds.computeIfAbsent(s"orders:$d", new Function[String, java.lang.Boolean] {
      override def apply(k: String): java.lang.Boolean = {
        val orders = Tables.orders(s, d)
        if (cat.tableExists("orders")) cat.dropTable("orders")
        cat.createTable("orders", orders.schema, Seq("o_orderkey"))
        cat.bulkLoad("orders", orders, partitions = 2)
        true
      }
    })
    builtKinds.computeIfAbsent(s"bm:$valueCol:$d", new Function[String, java.lang.Boolean] {
      override def apply(k: String): java.lang.Boolean = {
        cat.createIndex("orders", s"bm_$valueCol", "bitmap", Seq(valueCol))
        true
      }
    })
    memo(s"bitmap:$valueCol:$d")(
      cat.indexData("orders", s"bm_$valueCol", "bitmap"))
  }

  private val objs = new ConcurrentHashMap[String, AnyRef]()

  /** Memoize an arbitrary derived index artifact that isn't a single
    * DataFrame (e.g. an IVF index = assigned lists + centroids). The
    * builder is responsible for caching its member frames. */
  def obj[T <: AnyRef](key: String)(build: => T): T =
    objs.computeIfAbsent(key, new Function[String, AnyRef] {
      override def apply(k: String): AnyRef = build
    }).asInstanceOf[T]

  private val counts = new ConcurrentHashMap[String, java.lang.Long]()

  /** Corpus document count, computed once per directory and stored with
    * the index frames — tf-idf needs N on every query, and a real
    * deployment persists N alongside the dictionary rather than
    * re-scanning the corpus per search. */
  def corpusSize(s: SparkSession, d: String): Long =
    counts.computeIfAbsent(s"ndocs:$d", new Function[String, java.lang.Long] {
      override def apply(k: String): java.lang.Long = Tables.documents(s, d).count()
    })

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
    counts.computeIfAbsent(Seq("scanparts", table, d,
        s.conf.get("spark.sql.files.maxPartitionBytes"),
        s.conf.get("spark.sql.files.openCostInBytes"),
        s.sparkContext.defaultParallelism).mkString(":"),
      new Function[String, java.lang.Long] {
        override def apply(k: String): java.lang.Long =
          Tables.load(s, d, table).rdd.getNumPartitions.toLong
      }).toInt
}

/** Shutdown-hook reclamation for pid-scoped warehouse dirs (one hook
  * per JVM reclaiming EVERY registered path). */
object TempWarehouses {
  private val paths =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val registered = new java.util.concurrent.atomic.AtomicBoolean(false)
  /** A pid+dir-scoped warehouse path, registered for shutdown
    * reclamation. The dir token is sanitized text PLUS the hash hex:
    * lossy sanitization alone could alias distinct dirs, and the
    * 32-bit hash alone has constructible collisions — aliasing needs
    * BOTH to collide (the scheme KvQueries' z-order warehouse
    * established). */
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
