package graft

import graft.kv.{Catalog, InMemoryLockProvider, LockProvider}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** A provider whose handles throw on the `n`-th fence call —
  * `ensureValid`, `fencedPublish` or `commitSwap`, counted together
  * across every handle it grants — and otherwise behave as
  * [[InMemoryLockProvider]]'s. Sweeping `n` = 1, 2, … crashes a write at
  * each fence it passes, with no hook in the write path itself. */
final class FaultingLockProvider(n: Int) extends LockProvider {
  private val inner = new InMemoryLockProvider
  private val calls = new java.util.concurrent.atomic.AtomicInteger(0)

  private def tick(): Unit =
    if (calls.incrementAndGet() == n)
      throw new IllegalStateException(s"injected fault at fence call $n")

  override def acquire(resource: String, timeoutMs: Long): LockProvider.Handle = {
    val h = inner.acquire(resource, timeoutMs)
    new LockProvider.Handle {
      override def release(): Unit = h.release()
      override def ensureValid(): Unit = { tick(); h.ensureValid() }
      override def fencedPublish(): Boolean = { tick(); h.fencedPublish() }
      override def commitSwap(next: Long): LockProvider.SwapResult = {
        tick(); h.commitSwap(next)
      }
    }
  }
}

/** The one commit point under interruption: every write that stops at
  * any fence leaves the pre-image readable on every path (version, rows,
  * index status, kv lookup, fulltext serving) — or, for a transaction
  * stopped past its journal, the post-image on every table once
  * recovered — and a clean retry lands the post-image; a journal
  * carrying as-of bumps rolls forward with them. */
class CommitSpec extends AnyFunSuite {
  import TestSpark._

  private val schema = StructType(Seq(
    StructField("k", LongType, false),
    StructField("tag", StringType, true),
    StructField("body", StringType, true)))

  private type Model = Map[Long, (String, String)]

  private val words = Seq("alpha", "bravo", "charlie", "delta", "echo")
  private val seed: Model = (1L to 40L).map { k =>
    k -> (s"g${k % 4}", s"${words((k % 5).toInt)} ${Seq("kilo", "lima", "mike")((k % 3).toInt)}")
  }.toMap
  private val patchT: Model = Map(
    3L -> ("g9", "zulu alpha"), 17L -> ("g1", "zulu yankee"), 41L -> ("g9", "yankee"))
  private val patchU: Model = Map(2L -> ("g7", "xray"), 50L -> ("g7", "xray"))
  private val tagProbes = Seq("g0", "g1", "g3", "g7", "g9")
  private val termProbes = Seq("alpha", "kilo", "zulu", "yankee")

  private def df(m: Model) = {
    import spark.implicits._
    m.toSeq.map { case (k, (t, b)) => (k, t, b) }.toDF("k", "tag", "body")
  }

  /** One warehouse, built once: `t` (4 files; kv index on tag,
    * fulltext on body) and `u` (kv index on tag). */
  private lazy val pristine: Path = {
    val wh = Files.createTempDirectory("graft_commit_wh")
    val cat = new Catalog(spark, wh.toString)
    Seq("t", "u").foreach { n =>
      cat.createTable(n, schema, Seq("k"))
      cat.bulkLoad(n, df(seed), partitions = 4)
      cat.createIndex(n, "by_tag", "kv", Seq("tag"))
    }
    cat.createIndex("t", "ft", "fulltext", Seq("body"))
    wh
  }

  private def copyTree(src: Path): Path = {
    val dst = Files.createTempDirectory("graft_commit_run")
    val s = Files.walk(src)
    try s.forEach { p =>
      val d = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(d)
      else Files.copy(p, d, StandardCopyOption.REPLACE_EXISTING)
      ()
    } finally s.close()
    dst
  }

  /** What every read path serves for one table. Fulltext serving is
    * compared only while the index is FRESH (a bulk write leaves it
    * stale by design). */
  private case class Obs(version: Int, rows: Model, status: Seq[String],
                         kv: Map[String, Set[Long]], ft: Map[String, Set[Long]])

  private def observe(cat: Catalog, t: String): Obs = {
    val idx = cat.indexesOf(t)
    val status = idx.map { case (n, ty, _) => cat.indexStatus(t, n, ty) }
    val ftFresh = idx.exists(_._1 == "ft") && cat.indexStatus(t, "ft", "fulltext") == "FRESH"
    Obs(cat.dataVersionOf(t),
      cat.table(t).df.collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap,
      status,
      tagProbes.map(g => g -> cat.driverIndexGet(t, "by_tag", Seq(g)).map(_.getLong(0)).toSet).toMap,
      if (!ftFresh) Map.empty
      else termProbes.map(w => w -> cat.driverFtSearch(t, "ft", Seq(w)).map(_.asInstanceOf[Long]).toSet).toMap)
  }

  /** The observation a model implies at `version` with `status`. */
  private def expected(m: Model, version: Int, status: Seq[String], ftFresh: Boolean): Obs =
    Obs(version, m, status,
      tagProbes.map(g => g -> m.collect { case (k, (tg, _)) if tg == g => k }.toSet).toMap,
      if (!ftFresh) Map.empty
      else termProbes.map(w => w -> m.collect {
        case (k, (_, b)) if b.split(" ").contains(w) => k }.toSet).toMap)

  /** Crash `write` at its n-th fence call for n = 1, 2, … until it
    * completes, on one warehouse copy, so each attempt retries over
    * every earlier attempt's residue. After each crash plus recovery
    * the tables read either all their pre-images or — a multi-table
    * commit that crashed past its journal is committed, and recovery
    * rolls it forward — all their post-images; the sweep then goes on
    * from a fresh copy. The attempt that completes must land `post`.
    * Returns the crash points swept and those recovery committed. */
  private def sweep(write: Catalog => Unit, post: Map[String, Obs]): (Int, Seq[Int]) = {
    var wh = copyTree(pristine).toString
    val pre = post.keys.map(t => t -> observe(new Catalog(spark, wh), t)).toMap
    val committed = Seq.newBuilder[Int]
    var n = 0
    var completed = false
    while (!completed) {
      n += 1
      completed =
        try { write(new Catalog(spark, wh, Some(new FaultingLockProvider(n)))); true }
        catch { case e: IllegalStateException if e.getMessage.contains("injected") => false }
      if (!completed) {
        val cat = new Catalog(spark, wh)
        cat.recoverTransactions()
        val now = post.keys.map(t => t -> observe(cat, t)).toMap
        if (now == post) { committed += n; wh = copyTree(pristine).toString }
        else pre.foreach { case (t, o) => assert(now(t) == o, s"$t after a crash at fence call $n") }
      }
    }
    val cat = new Catalog(spark, wh)
    post.foreach { case (t, o) => assert(observe(cat, t) == o, s"$t after ${n - 1} crashes") }
    (n - 1, committed.result())
  }

  private val fresh2 = Seq("FRESH", "FRESH")

  test("an incremental merge interrupted at any fence leaves the pre-image on every read path") {
    val v = new Catalog(spark, pristine.toString).dataVersionOf("t")
    val (crashes, committed) = sweep(_.incrementalMerge("t", df(patchT)),
      Map("t" -> expected(seed ++ patchT, v + 1, fresh2, ftFresh = true)))
    assert(crashes >= 4, s"only $crashes crash points")
    assert(committed.isEmpty, s"an interrupted single-table commit published at $committed")
  }

  test("a compact interrupted at any fence leaves the pre-image on every read path") {
    val v = new Catalog(spark, pristine.toString).dataVersionOf("t")
    val (crashes, committed) = sweep(_.compact("t"),
      Map("t" -> expected(seed, v + 1, fresh2, ftFresh = true)))
    assert(crashes >= 3, s"only $crashes crash points")
    assert(committed.isEmpty, s"an interrupted single-table commit published at $committed")
  }

  test("a two-table transaction interrupted at any fence publishes both tables or neither") {
    val v = new Catalog(spark, pristine.toString).dataVersionOf("t")
    val (crashes, committed) = sweep(cat => cat.transaction { txn =>
        txn.upsert("t", df(patchT))
        txn.upsert("u", df(patchU))
      },
      Map("t" -> expected(seed ++ patchT, v + 1, Seq("FRESH", s"STALE@v$v"), ftFresh = false),
        "u" -> expected(seed ++ patchU, v + 1, Seq("FRESH"), ftFresh = false)))
    assert(crashes >= 4, s"only $crashes crash points")
    // past the journal each table's meta write is fenced again; a crash
    // there leaves the journal, which recovery rolls forward
    assert(committed.nonEmpty, "no crash point fell past the journal")
  }

  test("a journal carrying as-of bumps rolls forward to FRESH indexes") {
    val cat = new Catalog(spark, copyTree(pristine).toString)
    val wh = Paths.get(cat.warehouse)
    val (vt, vu) = (cat.dataVersionOf("t"), cat.dataVersionOf("u"))
    // a two-table commit that crashed after its journal: both staged
    // snapshots and u's kv index at `next` are in place, no pointer moved
    def copyDir(src: Path, dst: Path): Unit = {
      Files.createDirectories(dst)
      val s = Files.list(src)
      try s.forEach(f => Files.copy(f, dst.resolve(f.getFileName.toString)): Unit)
      finally s.close()
    }
    copyDir(Paths.get(cat.dataPathAt("t", vt)), wh.resolve("t").resolve(s"data_v${vt + 1}"))
    copyDir(Paths.get(cat.dataPathAt("u", vu)), wh.resolve("u").resolve(s"data_v${vu + 1}"))
    copyDir(wh.resolve("u.kv.by_tag").resolve("data"), wh.resolve("u.kv.by_tag").resolve(s"data_v${vu + 1}"))
    Files.createDirectories(wh.resolve("_graft_txn"))
    Files.writeString(wh.resolve("_graft_txn").resolve("_graft_txn_asof.json"),
      s"""{"publishes":[{"table":"t","next":${vt + 1}},""" +
      s"""{"table":"u","next":${vu + 1},"asOf":[{"name":"by_tag","type":"KV"}]}]}""")
    // readers see the commit through the journal; the as-of moves with
    // the pointer, so until recovery the index reads one version behind
    assert(cat.dataVersionOf("u") == vu + 1)
    assert(cat.indexStatus("u", "by_tag", "kv") == s"STALE@v$vu")
    cat.recoverTransactions()
    assert(!Files.exists(wh.resolve("_graft_txn").resolve("_graft_txn_asof.json")))
    assert(observe(cat, "u") == expected(seed, vu + 1, Seq("FRESH"), ftFresh = false))
    // no as-of entry for t: its indexes stay at the pre-commit version
    assert(cat.dataVersionOf("t") == vt + 1)
    assert(cat.indexStatus("t", "by_tag", "kv") == s"STALE@v$vt")
  }
}
