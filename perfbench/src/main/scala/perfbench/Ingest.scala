package perfbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.BasicFileAttributes

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.Tables
import graft.index.FullText
import graft.kv.Catalog

/** `ingest`: one writer mixing SQL DML through the `graft` catalog,
  * `Catalog.incrementalMergeIfNonEmpty` under and over its key bound,
  * `Catalog.transaction` and null-key patches that must be refused, on
  * an `orders` table (kv + bitmap indexes) and a `documents` table
  * (fulltext index). Every write is followed by read-your-writes reads
  * on the driver serving path and through `CALL graft.system.ms_*`;
  * maintenance runs at fixed op counts. All results are checked against
  * an in-memory model built from the source parquet, and the run ends
  * with a full Spark scan that must equal the model. */
final class Ingest(ctx: Ctx) extends Workload {
  import ctx._
  import Ingest._

  private val wh = tmpDir.resolve("ingest_wh")
  private var cat: Catalog = _

  // ---- the model ------------------------------------------------------
  private val orders = new java.util.TreeMap[Long, O]()
  private val nullKeyRows = mutable.ArrayBuffer[O]()
  private val byCust = mutable.HashMap[Long, mutable.Set[Long]]()
  private val docs = mutable.HashMap[Long, (String, String)]()
  // what the analytic (bitmap, fulltext) indexes answer from is kept in
  // persistent maps, so the state at every table version stays at hand:
  // those indexes serve their as-of version until refreshed
  private type Postings = Map[String, Set[Long]]
  private var byPrio: Postings = Map.empty
  private var postings: Postings = Map.empty
  private var docTokens = Map[Long, IndexedSeq[String]]()
  private val prioAt = mutable.HashMap[Int, Postings]()
  private val docsAt = mutable.HashMap[Int, (Postings, Map[Long, IndexedSeq[String]])]()

  private def add(m: Postings, k: String, v: Long): Postings = m.updated(k, m.getOrElse(k, Set.empty) + v)
  private def del(m: Postings, k: String, v: Long): Postings = m.updated(k, m.getOrElse(k, Set.empty) - v)

  /** Record the model state at the tables' current versions. */
  private def snapshot(): Unit = {
    prioAt(cat.dataVersionOf("orders")) = byPrio
    docsAt(cat.dataVersionOf("documents")) = (postings, docTokens)
  }
  /** The table version an analytic index answers from. */
  private def asOf(table: String, index: String, kind: String): Int =
    cat.indexStatus(table, index, kind) match {
      case "FRESH" => cat.dataVersionOf(table)
      case s => s.stripPrefix("STALE@v").toInt
    }
  private def prioAsOf(): Postings = prioAt(asOf("orders", "byprio", "bitmap"))
  private def docsAsOf(): (Postings, Map[Long, IndexedSeq[String]]) =
    docsAt(asOf("documents", "ft", "fulltext"))

  private def putOrder(k: Long, o: O): Unit = {
    removeOrder(k)
    orders.put(k, o)
    byCust.getOrElseUpdate(o.cust, mutable.Set()) += k
    byPrio = add(byPrio, o.prio, k)
  }
  private def removeOrder(k: Long): Unit = Option(orders.remove(k)).foreach { o =>
    byCust(o.cust) -= k
    byPrio = del(byPrio, o.prio, k)
  }
  private def putDoc(id: Long, text: String, lang: String): Unit = {
    removeDoc(id)
    docs(id) = (text, lang)
    val toks = FullText.normTokens(text).toIndexedSeq
    docTokens = docTokens.updated(id, toks)
    toks.foreach(t => postings = add(postings, t, id))
  }
  private def removeDoc(id: Long): Unit = docTokens.get(id).foreach { toks =>
    docs.remove(id)
    docTokens -= id
    toks.foreach(t => postings = del(postings, t, id))
  }

  // ---- seeded draws -----------------------------------------------------
  private var hotKeys: Array[Long] = _
  private var zipfCdf: Array[Double] = _
  private var nextKey = 0L
  private var nextDoc = 0L
  private var vocab: IndexedSeq[String] = _
  private var vocabCdf: Array[Double] = _

  private def zipfKey(): Long = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rng.nextDouble())
    hotKeys(math.min(hotKeys.length - 1, if (i >= 0) i else -i - 1))
  }
  /** A term drawn by document frequency. */
  private def term(): String = {
    val i = java.util.Arrays.binarySearch(vocabCdf, rng.nextDouble())
    vocab(math.min(vocab.length - 1, if (i >= 0) i else -i - 1))
  }
  private def newOrder(): O = O(1L + rng.nextInt(15000), Statuses(rng.nextInt(3)),
    math.round(rng.nextDouble() * 1e7) / 100.0, Prios(rng.nextInt(Prios.length)))
  private def newText(): String =
    Seq.fill(10 + rng.nextInt(40))(vocab(rng.nextInt(vocab.length))).mkString(" ")

  // ---- warehouse accounting (walked from outside the program) ----------
  private val seenInodes = mutable.HashSet[AnyRef]()
  /** (files, bytes) that appeared in the warehouse since the last walk;
    * a hard link to a file already seen is not new. */
  private def walkNew(): (Int, Long) = {
    var files = 0
    var bytes = 0L
    walk { (id, size) => if (seenInodes.add(id)) { files += 1; bytes += size } }
    (files, bytes)
  }
  private def walk(f: (AnyRef, Long) => Unit): Unit =
    Files.walkFileTree(wh, new java.nio.file.SimpleFileVisitor[Path] {
      override def visitFile(p: Path, a: BasicFileAttributes): java.nio.file.FileVisitResult = {
        if (a.isRegularFile) f(a.fileKey(), a.size())
        java.nio.file.FileVisitResult.CONTINUE
      }
      override def visitFileFailed(p: Path, e: java.io.IOException): java.nio.file.FileVisitResult =
        java.nio.file.FileVisitResult.CONTINUE
    })

  private var userBytes = 0L
  private var whBytesWritten = 0L

  // ---- setup ------------------------------------------------------------
  def setup(): Unit = {
    val s = spark
    s.conf.set("spark.sql.catalog.graft", classOf[graft.kv.connector.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.warehouse", wh.toString)
    Files.createDirectories(wh)
    cat = new Catalog(s, wh.toString)
    // a quarter of each table keeps one block of writes within a run's
    // budget (every SQL statement rewrites its table copy-on-write)
    val ordersSrc = Tables.orders(s, dataDir).filter(s"o_orderkey < $OrderKeyBound")
      .select(OrderCols.map(org.apache.spark.sql.functions.col): _*)
    val docsSrc = Tables.documents(s, dataDir).filter(s"doc_id < $DocIdBound")
      .select("doc_id", "text", "lang")
    rec.phase("build.table") {
      cat.createTable("orders", OrderSchema, Seq("o_orderkey"))
      cat.bulkLoad("orders", ordersSrc, partitions = 8)
      cat.createTable("documents", DocSchema, Seq("doc_id"))
      cat.bulkLoad("documents", docsSrc, partitions = 2)
    }
    rec.phase("build.kv") { cat.createIndex("orders", "bycust", "kv", Seq("o_custkey")) }
    rec.phase("build.bitmap") { cat.createIndex("orders", "byprio", "bitmap", Seq("o_orderpriority")) }
    rec.phase("build.fulltext") { cat.createIndex("documents", "ft", "fulltext", Seq("text")) }

    // the model, from the same source parquet (benchmark work, untimed)
    ordersSrc.collect().foreach(r => putOrder(r.getLong(0),
      O(r.getLong(1), r.getString(2), r.getDouble(3), r.getString(4))))
    docsSrc.collect().foreach(r => putDoc(r.getLong(0), r.getString(1), r.getString(2)))
    val keys = orders.keySet.asScala.toArray
    hotKeys = new scala.util.Random(seed).shuffle(keys.toSeq).toArray
    zipfCdf = Ingest.zipfCdf(hotKeys.length, 0.99)
    nextKey = keys.max + 1
    nextDoc = docs.keys.max + 1
    val df = postings.toSeq.map { case (t, ds) => t -> ds.size.toDouble }.sortBy(_._1)
    vocab = df.map(_._1).toIndexedSeq
    vocabCdf = df.map(_._2).scanLeft(0.0)(_ + _).tail.map(_ / df.map(_._2).sum).toArray
    snapshot()

    rec.phase("warmup") {
      // first SQL statement, first driver reads, first CALL: pays class
      // loading and codegen so the first timed op of each kind is not special
      s.sql("DELETE FROM graft.orders WHERE o_orderkey = -1")
      cat.driverPointGet("orders", hotKeys(0))
      cat.driverFtSearch("documents", "ft", Seq(vocab(0)))
      s.sql(s"CALL graft.system.ms_get('orders', '${hotKeys(0)}')").collect()
    }
    walkNew()
    snapshot()
  }

  // ---- the loop -----------------------------------------------------------
  /** The writes of a block, in a fixed order: which writes precede
    * maintenance decides how much it has to do (a transaction leaves a
    * fulltext segment for compact_index to fold, a document merge
    * refreshes the index whole), so the order is part of the mix and the
    * seed draws only the patches, the keys and the reads. The document
    * merge comes last: folding the transaction's segment took 5-7 s,
    * more than a run can spend on one op. */
  private val writeKinds = Seq("sql_delete", "sql_merge", "incremental_merge",
    "bulk_fallback", "refused_small", "refused_large", "txn", "doc_merge")
  /** The read kinds. A block draws from them plus `afterMaint` (one more
    * read of each index kind): two reads follow each write, in seeded
    * order, and those left over follow the last write. */
  private val readKinds = Seq("get", "multi_get", "range", "index_get", "bitmap_eq",
    "bitmap_range", "ft_and", "ft_or", "ft_phrase", "ft_prefix", "ft_topk",
    "ms_get", "ms_scan", "ms_search", "ms_topk")
  private val afterMaint = Seq("get", "bitmap_eq", "ft_and")
  /** Maintenance ends a block, after all its writes; the reads in
    * `afterMaint` follow it. */
  private val maintKinds = Seq("compact_index", "compact", "vacuum")

  def loop(): Unit = {
    var blocks = 0
    while (blocks == 0 || timeLeft) {
      val reads = rng.shuffle(readKinds ++ afterMaint).grouped(2)
      writeKinds.foreach { w =>
        val touched = write(w)
        reads.next().foreach(read(_, touched))
      }
      reads.flatten.foreach(read(_, Nil))
      maintKinds.foreach(maint)
      afterMaint.foreach(read(_, Nil))
      blocks += 1
    }
    stats("blocks") = blocks
    stats("user_bytes") = userBytes
    stats("warehouse_bytes_written") = whBytesWritten
  }

  private def account(r: OpRecord, submitted: Long): Unit = {
    val (files, bytes) = walkNew()
    r.extra("files_written") = files
    r.extra("bytes_written") = bytes
    r.extra("user_bytes") = submitted
    userBytes += submitted
    whBytesWritten += bytes
    snapshot()
  }

  private def rowsDf(rows: Seq[(java.lang.Long, O)]): DataFrame =
    spark.createDataFrame(rows.map { case (k, o) =>
      Row(k, o.cust, o.status, o.price, o.prio) }.asJava, OrderSchema)

  private def sqlRows(rows: Seq[(Long, O)]): String = rows.map { case (k, o) =>
    s"(CAST($k AS BIGINT), CAST(${o.cust} AS BIGINT), '${o.status}', " +
      s"CAST(${o.price} AS DOUBLE), '${o.prio}')" }.mkString(", ")

  /** Patch rows: appends at new keys mixed with Zipf updates. */
  private def patch(n: Int): Seq[(Long, O)] = {
    val m = mutable.LinkedHashMap[Long, O]()
    while (m.size < n) {
      val k = if (rng.nextDouble() < 0.5) { nextKey += 1; nextKey } else zipfKey()
      m(k) = newOrder()
    }
    m.toSeq
  }

  /** Runs one write; returns keys it touched, for the reads after it. */
  private def write(kind: String): Seq[Long] = kind match {
    case "sql_delete" =>
      val keys = Seq.fill(1 + rng.nextInt(3))(zipfKey()).distinct
      val r = timed("write", kind, "commit") {
        rec.span("commit")(spark.sql(s"DELETE FROM graft.orders WHERE o_orderkey IN (${keys.mkString(", ")})"))
        () => Ok
      }
      if (r.check == Ok) keys.foreach(removeOrder)
      account(r, 8L * keys.size)
      keys
    case "sql_merge" =>
      val rows = patch(2 + rng.nextInt(5))
      val r = timed("write", kind, "commit") {
        rec.span("commit")(spark.sql(
          s"""MERGE INTO graft.orders t USING (SELECT * FROM VALUES ${sqlRows(rows)}
             |  AS s(o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority)) s
             |ON t.o_orderkey = s.o_orderkey
             |WHEN MATCHED THEN UPDATE SET t.o_custkey = s.o_custkey,
             |  t.o_orderstatus = s.o_orderstatus, t.o_totalprice = s.o_totalprice,
             |  t.o_orderpriority = s.o_orderpriority
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
        () => Ok
      }
      if (r.check == Ok) rows.foreach { case (k, o) => putOrder(k, o) }
      account(r, rows.map(x => rowBytes(x._2)).sum)
      rows.map(_._1)
    case "incremental_merge" | "bulk_fallback" =>
      val n = if (kind == "bulk_fallback") MergeKeyBound + 1 + rng.nextInt(32)
        else 4 + rng.nextInt(MergeKeyBound / 2)
      val rows = patch(n)
      val df = rowsDf(rows.map { case (k, o) => (java.lang.Long.valueOf(k), o) })
      val r = timed("write", kind, "commit") {
        rec.span("commit")(cat.incrementalMergeIfNonEmpty("orders", df, MergeKeyBound))
        () => Ok
      }
      if (r.check == Ok) rows.foreach { case (k, o) => putOrder(k, o) }
      account(r, rows.map(x => rowBytes(x._2)).sum)
      rows.map(_._1)
    case "txn" =>
      val rows = patch(2 + rng.nextInt(3))
      val ds = Seq.fill(1 + rng.nextInt(2)) {
        val id = if (rng.nextBoolean()) { nextDoc += 1; nextDoc } else docs.keys.toSeq(rng.nextInt(docs.size))
        (id, newText(), Langs(rng.nextInt(Langs.length)))
      }.distinctBy(_._1)
      val odf = rowsDf(rows.map { case (k, o) => (java.lang.Long.valueOf(k), o) })
      val ddf = docsDf(ds)
      val r = timed("write", kind, "commit") {
        rec.span("commit")(cat.transaction { t =>
          t.upsert("orders", odf); t.upsert("documents", ddf) })
        () => Ok
      }
      if (r.check == Ok) {
        rows.foreach { case (k, o) => putOrder(k, o) }
        ds.foreach { case (id, t, l) => putDoc(id, t, l) }
      }
      account(r, rows.map(x => rowBytes(x._2)).sum + ds.map(d => 8L + d._2.length + d._3.length).sum)
      rows.map(_._1)
    case "doc_merge" =>
      val ds = Seq.fill(1 + rng.nextInt(6)) {
        val id = if (rng.nextBoolean()) { nextDoc += 1; nextDoc } else docs.keys.toSeq(rng.nextInt(docs.size))
        (id, newText(), Langs(rng.nextInt(Langs.length)))
      }.distinctBy(_._1)
      val df = docsDf(ds)
      val r = timed("write", kind, "commit") {
        rec.span("commit")(cat.incrementalMergeIfNonEmpty("documents", df, MergeKeyBound))
        () => Ok
      }
      if (r.check == Ok) ds.foreach { case (id, t, l) => putDoc(id, t, l) }
      account(r, ds.map(d => 8L + d._2.length + d._3.length).sum)
      Nil
    case "refused_small" | "refused_large" =>
      // a patch carrying one null primary key must be refused whole;
      // over the key bound the bulk fallback accepts it (open defect)
      val n = if (kind == "refused_large") MergeKeyBound + 1 + rng.nextInt(16)
        else 2 + rng.nextInt(6)
      val rows = patch(n - 1)
      val bad = newOrder()
      val df = rowsDf(rows.map { case (k, o) => (java.lang.Long.valueOf(k), o) } :+ ((null, bad)))
      val r = timed("write", kind, "commit", onError = {
        case e: IllegalArgumentException if String.valueOf(e.getMessage).contains("may not be null") => Ok
        case t => Wrong(rec.describe(t))
      }) {
        rec.span("commit")(cat.incrementalMergeIfNonEmpty("orders", df, MergeKeyBound))
        () => if (kind == "refused_large")
            Defect("null_pk_accepted", "over-bound merge fallback accepted a null primary key")
          else Wrong("null primary key accepted")
      }
      if (r.check != Ok) {
        // the write went through: mirror what the table now holds
        rows.foreach { case (k, o) => putOrder(k, o) }
        nullKeyRows += bad
      }
      account(r, rows.map(x => rowBytes(x._2)).sum + rowBytes(bad) - 8)
      rows.map(_._1)
  }

  private def docsDf(ds: Seq[(Long, String, String)]): DataFrame =
    spark.createDataFrame(ds.map { case (id, t, l) => Row(id, t, l) }.asJava, DocSchema)

  private def maint(kind: String): Unit = {
    val r = timed("maint", kind, "maint") {
      rec.span("maint")(kind match {
        // the fulltext index gathers a segment per document merge
        case "compact_index" => cat.compactIndex("documents", "ft", "fulltext")
        case "compact" => cat.compact("orders", targetFileBytes = 2L * 1024 * 1024)
        case "vacuum" => cat.vacuum("orders", graceMs = 0); cat.vacuum("documents", graceMs = 0)
      })
      () => Ok
    }
    val (files, bytes) = walkNew()
    r.extra("files_written") = files
    r.extra("bytes_written") = bytes
    whBytesWritten += bytes
    snapshot()
  }

  // ---- reads ------------------------------------------------------------------
  private def orderRow(k: Long, o: O): Seq[Any] = Seq(k, o.cust, o.status, o.price, o.prio)
  private def rowSet(rows: Seq[Row]): Set[Seq[Any]] = rows.map(_.toSeq).toSet
  private def modelRows(keys: Iterable[Long]): Set[Seq[Any]] =
    keys.flatMap(k => Option(orders.get(k)).map(orderRow(k, _))).toSet
  private def same[A](got: A, want: A, what: String): Check =
    if (got == want) Ok
    else (got, want) match {
      case (g: Iterable[_], w: Iterable[_]) =>
        val (gs, ws) = (g.toSet[Any], w.toSet[Any])
        Wrong(s"$what differs from the model: ${g.size} rows, model ${w.size}; " +
          s"extra ${(gs -- ws).take(3).mkString(" ")}; missing ${(ws -- gs).take(3).mkString(" ")}")
      case _ => Wrong(s"$what differs from the model")
    }

  private def docsWithAll(post: Postings, ts: Seq[String]): Seq[Long] =
    ts.map(t => post.getOrElse(t, Set.empty[Long])).reduce(_ intersect _).toSeq.sorted
  private def docsWithAny(post: Postings, ts: Seq[String]): Set[Long] =
    ts.flatMap(t => post.getOrElse(t, Set.empty[Long])).toSet

  /** A top-k answer must hold min(k, matches) distinct matching docs
    * in non-increasing score order. */
  private def topkCheck(got: Seq[(Any, Double)], ts: Seq[String], k: Int): Check = {
    val any = docsWithAny(docsAsOf()._1, ts)
    if (got.size != math.min(k, any.size)) Wrong(s"top-k returned ${got.size} rows")
    else if (!got.forall(g => any.contains(g._1.asInstanceOf[Long]))) Wrong("top-k returned a non-matching doc")
    else if (got.map(_._1).distinct.size != got.size) Wrong("top-k repeated a doc")
    else if (got.zip(got.drop(1)).exists { case (a, b) => a._2 < b._2 }) Wrong("top-k scores out of order")
    else Ok
  }

  private def overflow(what: String): Throwable => Check = {
    case t if Recorder.isStackOverflow(t) =>
      Defect("left_deep_or_overflow", s"$what: StackOverflowError in a left-deep FilterApi.or chain")
    case t => Wrong(rec.describe(t))
  }

  private def sql(q: String): Seq[Row] = spark.sql(q).collect().toSeq

  private def read(kind: String, touched: Seq[Long]): Unit = {
    def key(): Long = if (touched.nonEmpty && rng.nextBoolean()) touched(rng.nextInt(touched.size)) else zipfKey()
    val name = kind
    var rows = 0
    def serve[A <: Iterable[_]](call: => A): A = { val a = rec.span("serve")(call); rows = a.size; a }
    val r = kind match {
      case "get" | "ms_get" =>
        val k = key()
        timed("read", name, if (kind == "get") "serve" else "call") {
          val got = serve(
            if (kind == "get") cat.driverPointGet("orders", k)
            else sql(s"CALL graft.system.ms_get('orders', '$k')"))
          () => same(rowSet(got), modelRows(Seq(k)), s"get($k)")
        }
      case "multi_get" =>
        val ks = Seq.fill(1 + rng.nextInt(MultiGetMax))(key()).distinct
        timed("read", name, "serve", overflow(s"multi_get of ${ks.size} keys")) {
          val got = serve(cat.driverMultiGet("orders", ks.map(Seq(_))))
          () => same(rowSet(got), modelRows(ks), s"multi_get(${ks.size})")
        }
      case "range" | "ms_scan" =>
        val lo = key()
        val hi = lo + 200
        timed("read", name, if (kind == "range") "serve" else "call") {
          val got = serve(
            if (kind == "range") cat.driverRangeScan("orders", lo, hi)
            else sql(s"CALL graft.system.ms_scan('orders', '$lo', '$hi')"))
          () => same(rowSet(got), modelRows(orders.subMap(lo, true, hi, true).keySet.asScala), s"range($lo,$hi)")
        }
      case "index_get" =>
        val c = Option(orders.get(key())).map(_.cust).getOrElse(1L + rng.nextInt(15000))
        timed("read", name, "serve", overflow("index_get")) {
          val got = serve(cat.driverIndexGet("orders", "bycust", Seq(c)))
          () => same(rowSet(got), modelRows(byCust.getOrElse(c, Nil)), s"index_get($c)")
        }
      case "bitmap_eq" =>
        val p = Prios(rng.nextInt(Prios.length))
        timed("read", name, "serve") {
          val got = serve(cat.driverBitmapIds("orders", "byprio", p, maxIds = 1000000))
          () => same(got.toSet, prioAsOf().getOrElse(p, Set.empty), s"bitmap_eq($p)")
        }
      case "bitmap_range" =>
        val i = rng.nextInt(Prios.length - 1)
        val (lo, hi) = (Prios(i), Prios(i + 1))
        timed("read", name, "serve") {
          val got = serve(cat.driverBitmapRangeIds("orders", "byprio", lo, hi, maxIds = 1000000))
          () => same(got.toSet, prioAsOf().getOrElse(lo, Set.empty) ++ prioAsOf().getOrElse(hi, Set.empty),
            s"bitmap_range($lo,$hi)")
        }
      case "ft_and" | "ft_or" | "ms_search" =>
        val ts = Seq(term(), term()).distinct
        timed("read", name, if (kind == "ms_search") "call" else "serve") {
          val got: Seq[Any] = serve(kind match {
            case "ft_and" => cat.driverFtSearch("documents", "ft", ts)
            case "ft_or" => cat.driverFtSearchAny("documents", "ft", ts)
            case _ => sql(s"CALL graft.system.ms_search('documents', 'ft', '${ts.mkString(" ")}', 'all')").map(_.get(0))
          })
          () => {
            val post = docsAsOf()._1
            if (kind == "ft_or") same(got.toSet, docsWithAny(post, ts).toSet[Any], s"ft_or($ts)")
            else same(got.map(_.asInstanceOf[Long]).sorted, docsWithAll(post, ts), s"$kind($ts)")
          }
        }
      case "ft_phrase" =>
        val toks = docTokens.values.iterator.drop(rng.nextInt(docTokens.size)).next()
        val i = rng.nextInt(toks.size - 1)
        val phrase = Seq(toks(i), toks(i + 1))
        timed("read", name, "serve") {
          val got = serve(cat.driverFtPhrase("documents", "ft", phrase.mkString(" ")))
          () => {
            val (post, toks) = docsAsOf()
            same(got.map(_.asInstanceOf[Long]).sorted,
              docsWithAll(post, phrase).filter(d => toks(d).sliding(2).exists(_ == phrase)),
              s"ft_phrase($phrase)")
          }
        }
      case "ft_prefix" =>
        val p = term().take(2)
        timed("read", name, "serve") {
          val got = serve(cat.driverFtPrefix("documents", "ft", p))
          () => same(got.map(_.asInstanceOf[Long]).toSet,
            docsAsOf()._1.collect { case (t, ds) if t.startsWith(p) => ds }.flatten.toSet, s"ft_prefix($p)")
        }
      case "ft_topk" | "ms_topk" =>
        val ts = Seq(term(), term()).distinct
        timed("read", name, if (kind == "ft_topk") "serve" else "call", overflow(s"$kind(${ts.mkString(" ")})")) {
          val got = serve(
            if (kind == "ft_topk") cat.driverFtTopK("documents", "ft", ts, TopK)
            else sql(s"CALL graft.system.ms_topk('documents', 'ft', '${ts.mkString(" ")}', $TopK)")
              .map(r => (r.get(0), r.getDouble(1))))
          () => topkCheck(got, ts, TopK)
        }
    }
    r.extra("rows") = rows
  }

  // ---- end of run ---------------------------------------------------------------
  override def finish(): Unit = {
    // the full Spark scan must equal the model
    val scanned = cat.table("orders").df.collect().map(r => r.toSeq).toSeq
    val want = orders.asScala.toSeq.map { case (k, o) => orderRow(k, o) } ++
      nullKeyRows.map(o => Seq(null, o.cust, o.status, o.price, o.prio))
    val dscan = cat.table("documents").df.select("doc_id", "text", "lang").collect().map(_.toSeq).toSeq
    val dwant = docs.toSeq.map { case (id, (t, l)) => Seq(id, t, l) }
    val ok = scanned.groupBy(identity).map(x => x._1 -> x._2.size) ==
      want.groupBy(identity).map(x => x._1 -> x._2.size) && dscan.toSet == dwant.toSet && dscan.size == dwant.size
    stats("final_scan_ok") = ok
    if (!ok) stats("final_scan") = s"scan has ${scanned.size} orders/${dscan.size} docs, " +
      s"model ${want.size}/${dwant.size}"

    // live footprint: warehouse bytes now, and (for the traced run's
    // space_amp only) the live rows written once as parquet
    var whBytes = 0L
    var files = 0
    val inodes = mutable.HashSet[AnyRef]()
    walk { (id, size) => if (inodes.add(id)) { whBytes += size; files += 1 } }
    var liveBytes = 0L
    if (tracer.isDefined) {
      val live = tmpDir.resolve("live_once")
      rowsDf(orders.asScala.toSeq.map { case (k, o) => (java.lang.Long.valueOf(k), o) } ++
        nullKeyRows.map(o => (null.asInstanceOf[java.lang.Long], o)))
        .coalesce(1).write.parquet(live.resolve("orders").toString)
      docsDf(docs.toSeq.map { case (id, (t, l)) => (id, t, l) })
        .coalesce(1).write.parquet(live.resolve("documents").toString)
      Files.walk(live).iterator().asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet")).foreach(p => liveBytes += Files.size(p))
    }
    val snapshots = Seq("orders", "documents").map { t =>
      Option(wh.resolve(t).toFile.list()).map(_.count(_.startsWith("data_v"))).getOrElse(0)
    }.sum
    stats("warehouse_bytes") = whBytes
    stats("warehouse_files") = files
    stats("live_parquet_bytes") = liveBytes
    stats("snapshots_live") = snapshots
  }
}

object Ingest {
  final case class O(cust: Long, status: String, price: Double, prio: String)

  val OrderCols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
  val OrderSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderpriority", StringType)))
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType), StructField("lang", StringType)))

  val Prios = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Statuses = IndexedSeq("F", "O", "P")
  val Langs = IndexedSeq("de", "en", "es", "fr", "zh")
  /** `incrementalMergeIfNonEmpty`'s key bound in this workload: small
    * patches merge incrementally, the over-bound share takes the bulk
    * fallback. */
  val MergeKeyBound = 64
  val OrderKeyBound = 37500L
  val DocIdBound = 1250L
  val MultiGetMax = 256
  val TopK = 10

  /** Logical bytes of one orders row as submitted. */
  def rowBytes(o: O): Long = 8 + 8 + o.status.length + 8 + o.prio.length + 8

  /** Cumulative Zipf(s) distribution over ranks 1..n. */
  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
}
