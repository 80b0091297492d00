package graft

import graft.kv.{Catalog, InMemoryLockProvider}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Writer-vs-writer safety of the COW catalog: optimistic CAS on the
  * version pointer, stale-lock recovery, staging-dir reclamation, and
  * DDL races. (Reference analog: Redis DDL locks + Tephra transactions
  * — index/lucene/RedisLockFactory.kt, KVTransactionalIndexTable.kt.) */
/** Task-side gates for the fencing-token test: static so the local-
  * mode executor threads share them with the driver. */
object FenceGate {
  @volatile var started = new java.util.concurrent.CountDownLatch(1)
  @volatile var proceed = new java.util.concurrent.CountDownLatch(1)
  def reset(): Unit = {
    started = new java.util.concurrent.CountDownLatch(1)
    proceed = new java.util.concurrent.CountDownLatch(1)
  }
}

class ConcurrencySpec extends AnyFunSuite {
  import TestSpark._

  private def freshCat(tag: String): Catalog =
    new Catalog(spark, Files.createTempDirectory(s"graft_${tag}_wh").toString)

  private val kv = StructType(Seq(
    StructField("k", LongType, false),
    StructField("v", StringType, true)))

  private def load(cat: Catalog, name: String, rows: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    cat.bulkLoad(name, rows.toDF("k", "v"))
  }

  test("publishStaged CAS rejects a post-image pinned to a stale version") {
    import spark.implicits._
    val cat = freshCat("cas")
    cat.createTable("t", kv, Seq("k"))
    load(cat, "t", Seq(1L -> "a"))
    val pinned = cat.dataVersionOf("t")
    // a concurrent writer publishes first
    load(cat, "t", Seq(1L -> "a", 2L -> "concurrent"))
    // the stale writer's full post-image (no k=2) must NOT publish
    val staged = cat.stagingPath("t")
    Seq(1L -> "a_rewritten").toDF("k", "v").write.parquet(staged)
    intercept[java.util.ConcurrentModificationException] {
      cat.publishStaged("t", staged, expectedVersion = Some(pinned))
    }
    // the concurrent row survived and the doomed staging dir is gone
    assert(cat.table("t").pointGet(2L).count() == 1)
    assert(!Files.exists(Paths.get(staged)))
  }

  test("SQL DELETE fails instead of erasing a write that landed after its snapshot") {
    val cat = freshCat("delcas")
    cat.createTable("t", kv, Seq("k"))
    load(cat, "t", Seq(1L -> "a", 2L -> "b"))
    // pin the snapshot the way a SQL statement's loadTable does
    val sqlTable = new graft.kv.connector.GraftSqlTable(cat, "t")
    // a concurrent INSERT commits between the scan pin and the rewrite
    load(cat, "t", Seq(1L -> "a", 2L -> "b", 3L -> "landed"))
    intercept[java.util.ConcurrentModificationException] {
      sqlTable.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.EqualTo("k", 2L)))
    }
    assert(cat.table("t").pointGet(3L).count() == 1) // not swept away
  }

  test("a write lock left by a dead owner is broken, not spun on") {
    val cat = freshCat("stale")
    cat.createTable("t", kv, Seq("k"))
    // simulate a crashed writer: lock file tagged with a reaped pid
    val p = new ProcessBuilder("true").start()
    p.waitFor()
    val lock = Paths.get(cat.warehouse, "t", "_graft_write.lock")
    Files.writeString(lock, s"${p.pid()} ${System.currentTimeMillis()}")
    // a live writer must get through well before the 10-minute timeout
    val t0 = System.nanoTime()
    load(cat, "t", Seq(1L -> "a"))
    assert((System.nanoTime() - t0) / 1e9 < 60)
    assert(cat.table("t").pointGet(1L).count() == 1)
  }

  test("a lock owned by another HOST is never pid-stale-broken") {
    val cat = freshCat("remote")
    cat.createTable("t", kv, Seq("k"))
    // simulate a lock held by a (possibly live) writer on another
    // machine: the pid is meaningless in THIS host's process table, so
    // liveness is unanswerable and the waiter must time out, not evict
    val p = new ProcessBuilder("true").start()
    p.waitFor()
    val lock = Paths.get(cat.warehouse, "t", "_graft_write.lock")
    Files.writeString(lock,
      s"${p.pid()} ${System.currentTimeMillis()} abcd1234 some-other-host")
    val provider = new graft.kv.FsLockProvider(
      r => Paths.get(cat.warehouse, r))
    intercept[IllegalStateException](provider.acquire("t", timeoutMs = 700))
    // the lock file must still be there, untouched
    assert(Files.readString(lock).endsWith("some-other-host"))
  }

  test("vacuum spares recent staging dirs and reclaims idle ones") {
    val cat = freshCat("vac")
    cat.createTable("t", kv, Seq("k"))
    val fresh = Paths.get(cat.stagingPath("t"))
    val idle = Paths.get(cat.stagingPath("t"))
    Files.createDirectories(fresh)
    Files.createDirectories(idle)
    Files.setLastModifiedTime(idle, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2 * 3600 * 1000L))
    cat.vacuum("t")
    assert(Files.exists(fresh), "in-flight staging dir must survive vacuum")
    assert(!Files.exists(idle), "idle staging dir must be reclaimed")
  }

  test("concurrent createIndex for the same index: exactly one wins") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val cat = freshCat("idxrace")
    cat.createTable("t", kv, Seq("k"))
    load(cat, "t", Seq(1L -> "a", 2L -> "b"))
    val attempts = Future.sequence((1 to 2).map { _ =>
      Future(scala.util.Try(cat.createIndex("t", "byv", "kv", Seq("v"))))
    })
    val results = Await.result(attempts, 120.seconds)
    assert(results.count(_.isSuccess) == 1, results.toString)
    assert(cat.indexesOf("t").count(_._1 == "byv") == 1)
  }

  test("compaction between a writer's pin and publish fails the CAS, loses nothing") {
    import spark.implicits._
    val cat = freshCat("compcas")
    cat.createTable("t", kv, Seq("k"))
    load(cat, "t", Seq(1L -> "a"))
    // two trickle merges leave small files for the compactor
    cat.incrementalMerge("t", Seq(2L -> "b").toDF("k", "v"))
    cat.incrementalMerge("t", Seq(3L -> "c").toDF("k", "v"))
    val pinned = cat.dataVersionOf("t")
    val staged = cat.stagingPath("t")
    Seq(1L -> "rewritten").toDF("k", "v").write.parquet(staged)
    // the maintenance job wins the race: version advances
    cat.compact("t", targetFileBytes = 128L * 1024 * 1024)
    assert(cat.dataVersionOf("t") == pinned + 1)
    // the pinned writer must fail its CAS rather than clobber the
    // compacted snapshot with a stale post-image
    intercept[java.util.ConcurrentModificationException] {
      cat.publishStaged("t", staged, expectedVersion = Some(pinned))
    }
    // all rows survive, compacted layout intact
    assert(cat.table("t").df.count() == 3)
  }

  test("every write path resolves its locks through the LockProvider seam") {
    import org.apache.spark.sql.functions.{col, lit}
    // a second provider (in-memory) behind the same trait: if any
    // write path still reached for the lock file directly, this run
    // would bypass the counter — and two providers proves the seam is
    // real, not a rename of the FS code
    val locks = new InMemoryLockProvider
    val cat = new Catalog(spark,
      Files.createTempDirectory("graft_seam_wh").toString, Some(locks))
    cat.createTable("a", kv, Seq("k"))
    cat.createTable("b", kv, Seq("k"))
    load(cat, "a", Seq(1L -> "x"))
    load(cat, "b", Seq(1L -> "x"))
    val afterLoads = locks.acquireCount.get()
    assert(afterLoads > 0, "bulk writes must acquire through the provider")
    // multi-table commit takes BOTH locks through the provider
    cat.transaction { txn =>
      txn.updateWhere("a", col("k") === 1L, "v", lit("y"))
      txn.updateWhere("b", col("k") === 1L, "v", lit("y"))
    }
    assert(locks.acquireCount.get() >= afterLoads + 2,
      "txn commit must acquire one lock per written table")
    assert(cat.table("a").pointGet(1L).head().getAs[String]("v") == "y")
    // no FS lock file was ever created under this provider
    assert(!Files.exists(Paths.get(cat.warehouse, "a", "_graft_write.lock")))
  }

  test("a reader never sees a multi-table transaction half-visible") {
    import org.apache.spark.sql.functions.{col, lit}
    val cat = freshCat("txnvis")
    cat.createTable("a", kv, Seq("k"))
    cat.createTable("b", kv, Seq("k"))
    load(cat, "a", Seq(1L -> "pre"))
    load(cat, "b", Seq(1L -> "pre"))
    cat.transaction { txn =>
      txn.updateWhere("a", col("k") === 1L, "v", lit("post"))
      txn.updateWhere("b", col("k") === 1L, "v", lit("post"))
    }
    val va = cat.dataVersionOf("a")
    assert(cat.dataVersionOf("b") == va)
    // Reconstruct the exact state of a committer that died BETWEEN its
    // two pointer bumps: commit record (journal) published, table a's
    // pointer bumped, table b's pointer still at the pre-image. The
    // snapshots of both versions are already on disk from the real
    // commit above.
    val metaB = Paths.get(cat.warehouse, "b", "_graft_meta.json")
    Files.writeString(metaB, Files.readString(metaB)
      .replace(s""""dataVersion":$va""", s""""dataVersion":${va - 1}"""))
    val journal = Paths.get(cat.warehouse, "_graft_txn", "_graft_txn_testvis.json")
    Files.createDirectories(journal.getParent)
    Files.writeString(journal,
      s"""{"publishes":[{"table":"a","next":$va},{"table":"b","next":$va}]}""")
    // a lock-free reader resolves BOTH tables at the post-image — the
    // commit record, not the per-table pointer, is the visibility point
    val reader = new Catalog(spark, cat.warehouse)
    assert(reader.dataVersionOf("b") == va)
    assert(reader.table("b").pointGet(1L).head().getAs[String]("v") == "post")
    assert(reader.table("a").pointGet(1L).head().getAs[String]("v") == "post")
    // recovery rolls the pointer forward and drains the journal; the
    // reader's view must not change across it
    reader.recoverTransactions()
    assert(!Files.exists(journal))
    assert(reader.dataVersionOf("b") == va)
    assert(reader.table("b").pointGet(1L).head().getAs[String]("v") == "post")
    // NEITHER side: without a published commit record, a staged
    // post-image snapshot (the dir exists on disk) stays invisible
    Files.writeString(metaB, Files.readString(metaB)
      .replace(s""""dataVersion":$va""", s""""dataVersion":${va - 1}"""))
    assert(reader.dataVersionOf("b") == va - 1)
    assert(reader.table("b").pointGet(1L).head().getAs[String]("v") == "pre")
  }

  test("a live reader never observes the second table behind the first during commits") {
    import org.apache.spark.sql.functions.{col, lit}
    val cat = freshCat("txnlive")
    cat.createTable("a", kv, Seq("k"))
    cat.createTable("b", kv, Seq("k"))
    load(cat, "a", Seq(1L -> "x"))
    load(cat, "b", Seq(1L -> "x"))
    // Both tables advance in lockstep (every transaction writes both),
    // and the commit publishes pointers in sorted order — a BEFORE b.
    // If visibility were per-pointer, a reader sampling a-then-b could
    // catch b one commit behind a; through the commit-record overlay
    // that interleaving must be impossible, no crash simulation — this
    // races a real reader against real commits.
    val violation = new java.util.concurrent.atomic.AtomicReference[String](null)
    @volatile var stop = false
    val reader = new Thread(() => {
      // a reader CRASH is as much a violation as a mixed read: the
      // first run of this test caught readMeta racing an in-place
      // meta write (truncate-then-write) and dying on empty JSON
      try {
        val rcat = new Catalog(spark, cat.warehouse)
        while (!stop && violation.get == null) {
          val va = rcat.dataVersionOf("a")
          val vb = rcat.dataVersionOf("b")
          if (vb < va)
            violation.set(s"read a@v$va then b@v$vb — b ${va - vb} commit(s) behind")
        }
      } catch {
        case t: Throwable => violation.set(s"reader crashed: $t")
      }
    })
    reader.start()
    try {
      (1 to 6).foreach { i =>
        cat.transaction { txn =>
          txn.updateWhere("a", col("k") === 1L, "v", lit(s"v$i"))
          txn.updateWhere("b", col("k") === 1L, "v", lit(s"v$i"))
        }
      }
    } finally {
      stop = true
      reader.join(30000)
    }
    assert(violation.get == null, String.valueOf(violation.get))
    assert(cat.dataVersionOf("a") == cat.dataVersionOf("b"))
  }

  // ---- cross-process: a REAL second JVM against the same warehouse ----

  /** Spawn ChildLockProc in a separate JVM (same classpath as this
    * forked test JVM) and wait for its ACQUIRED handshake. */
  private def spawnChild(args: String*): Process =
    spawnChildWithLines(args: _*)._1

  /** As [[spawnChild]], also handing back the line queue so a test can
    * read the child's post-handshake verdict lines (the queue's pump
    * keeps draining; "<<EOF>>" marks stream end). */
  private def spawnChildWithLines(args: String*):
      (Process, java.util.concurrent.LinkedBlockingQueue[String]) = {
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val cmd = (Seq(javaBin, "-cp", System.getProperty("java.class.path"),
      "graft.ChildLockProc") ++ args)
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    // Read via a daemon thread + bounded polls: a bare readLine() only
    // re-checks the deadline between lines, so a silent-but-live child
    // would hang the whole suite instead of failing after 60s.
    val eof = "<<EOF>>"
    val lines = new java.util.concurrent.LinkedBlockingQueue[String]()
    val pump = new Thread(new Runnable {
      override def run(): Unit = {
        val r = new java.io.BufferedReader(
          new java.io.InputStreamReader(p.getInputStream))
        try {
          var l = r.readLine()
          while (l != null) { lines.put(l); l = r.readLine() }
        } finally lines.put(eof)
      }
    })
    pump.setDaemon(true)
    pump.start()
    val deadline = System.currentTimeMillis() + 60000
    var line: String = null
    while (line != "ACQUIRED" && line != eof &&
        System.currentTimeMillis() < deadline) {
      line = lines.poll(math.max(deadline - System.currentTimeMillis(), 1L),
        java.util.concurrent.TimeUnit.MILLISECONDS)
    }
    if (line != "ACQUIRED") p.destroyForcibly()
    assert(line == "ACQUIRED", s"child never acquired (last: $line)")
    (p, lines)
  }

  test("cross-process: a live holder excludes this JVM; its release unblocks us") {
    val cat = freshCat("xproc_hold")
    cat.createTable("t", kv, Seq("k"))
    val provider = new graft.kv.FsLockProvider(
      r => Paths.get(cat.warehouse, r))
    val child = spawnChild("acquire-hold", cat.warehouse, "t")
    try {
      // the child's pid is ALIVE, so the lock must NOT be stale-broken:
      // this JVM's acquire has to time out
      intercept[IllegalStateException] { provider.acquire("t", 1500) }
      // closing stdin tells the child to release cleanly
      child.getOutputStream.close()
      assert(child.waitFor(30, java.util.concurrent.TimeUnit.SECONDS))
      provider.acquire("t", 10000).release()
    } finally { child.destroyForcibly(); () }
  }

  test("cross-process: a dead owner's lock is broken by pid-liveness, write proceeds") {
    val cat = freshCat("xproc_die")
    cat.createTable("t", kv, Seq("k"))
    val child = spawnChild("acquire-die", cat.warehouse, "t")
    assert(child.waitFor(30, java.util.concurrent.TimeUnit.SECONDS))
    // the lock file on disk carries a genuinely reaped pid from another
    // process — the next writer must break it well under the timeout
    val t0 = System.nanoTime()
    load(cat, "t", Seq(1L -> "a"))
    assert((System.nanoTime() - t0) / 1e9 < 60)
    assert(cat.table("t").pointGet(1L).count() == 1)
  }

  test("cross-process: a committer that crashed mid-commit is healed by the next writer") {
    import org.apache.spark.sql.functions.{col, lit}
    val cat = freshCat("xproc_crash")
    cat.createTable("a", kv, Seq("k"))
    cat.createTable("b", kv, Seq("k"))
    load(cat, "a", Seq(1L -> "pre"))
    load(cat, "b", Seq(1L -> "pre"))
    // a real transaction produces the committed post-image snapshots
    cat.transaction { txn =>
      txn.updateWhere("a", col("k") === 1L, "v", lit("post"))
      txn.updateWhere("b", col("k") === 1L, "v", lit("post"))
    }
    val v = cat.dataVersionOf("a")
    assert(cat.dataVersionOf("b") == v)
    // the child reconstructs the crash (journal present, a bumped, b
    // rolled back) and dies HOLDING b's write lock — so recovery here
    // needs pid-liveness stale-break AND the in-lock journal heal
    val child = spawnChild("crash-commit", cat.warehouse, "b", "a", v.toString)
    assert(child.waitFor(30, java.util.concurrent.TimeUnit.SECONDS))
    // lock-free reader in THIS process already sees both at post-image
    val reader = new Catalog(spark, cat.warehouse)
    assert(reader.dataVersionOf("b") == v)
    assert(reader.table("b").pointGet(1L).head().getAs[String]("v") == "post")
    // the next writer on b: breaks the dead child's lock, heals the
    // journaled bump (b -> v) under the lock, then lands ON TOP of the
    // committed post-image — never clobbering it
    import spark.implicits._
    cat.incrementalMerge("b", Seq(9L -> "merged").toDF("k", "v"))
    assert(cat.dataVersionOf("b") == v + 1)
    assert(cat.table("b").pointGet(1L).head().getAs[String]("v") == "post",
      "the crashed transaction's committed write was lost")
    assert(cat.table("b").pointGet(9L).count() == 1)
    // full recovery drains the child's journal; nothing regresses
    cat.recoverTransactions()
    assert(!Files.exists(
      Paths.get(cat.warehouse, "_graft_txn", "_graft_txn_childcrash.json")))
    assert(cat.dataVersionOf("b") == v + 1)
    assert(cat.dataVersionOf("a") == v)
  }

  // ---- Lease-based coordination-service locking ---------------------
  // The reference's Redis DDL lock (RedisLockFactory.kt:16-30): a
  // central lease service instead of lock files — the provider that
  // makes multi-process writers safe on object stores without atomic
  // create, with crash recovery by LEASE EXPIRY instead of
  // pid-liveness. Same two-JVM harness as the FsLockProvider tests.

  test("lease: a live holder in another JVM excludes this one; release unblocks") {
    val server = new graft.kv.LeaseLockServer().start()
    try {
      val cat = freshCat("lease_hold")
      cat.createTable("t", kv, Seq("k"))
      val provider = new graft.kv.LeaseLockProvider(
        "127.0.0.1", server.boundPort, leaseMs = 5000)
      val child = spawnChild("acquire-hold", cat.warehouse, "t",
        s"--lease=${server.boundPort}:5000")
      try {
        // the child heartbeats its lease — this JVM must time out, the
        // lease must NOT expire out from under a live holder
        intercept[IllegalStateException] { provider.acquire("t", 2000) }
        child.getOutputStream.close()
        assert(child.waitFor(30, java.util.concurrent.TimeUnit.SECONDS))
        provider.acquire("t", 10000).release()
      } finally { child.destroyForcibly(); () }
    } finally server.stop()
  }

  test("lease: a dead owner's lease expires; the next writer proceeds") {
    val server = new graft.kv.LeaseLockServer().start()
    try {
      val cat = freshCat("lease_die")
      cat.createTable("t", kv, Seq("k"))
      val provider = new graft.kv.LeaseLockProvider(
        "127.0.0.1", server.boundPort, leaseMs = 1500)
      // child takes the lease then halts WITHOUT releasing — no
      // heartbeats follow, so the lease expires on its own; no process
      // table consulted (works across hosts, unlike pid-liveness)
      val child = spawnChild("acquire-die", cat.warehouse, "t",
        s"--lease=${server.boundPort}:1500")
      assert(child.waitFor(30, java.util.concurrent.TimeUnit.SECONDS))
      val t0 = System.nanoTime()
      provider.acquire("t", 15000).release()
      val waited = (System.nanoTime() - t0) / 1e9
      assert(waited < 15, s"lease never expired (waited ${waited}s)")
    } finally server.stop()
  }

  test("lease: a committer that crashed mid-commit is healed under the lease lock") {
    import org.apache.spark.sql.functions.{col, lit}
    val server = new graft.kv.LeaseLockServer().start()
    try {
      val provider = new graft.kv.LeaseLockProvider(
        "127.0.0.1", server.boundPort, leaseMs = 1500)
      val wh = Files.createTempDirectory("graft_lease_crash_wh").toString
      // EVERY lock of this catalog resolves through the lease service
      val cat = new Catalog(spark, wh, Some(provider))
      cat.createTable("a", kv, Seq("k"))
      cat.createTable("b", kv, Seq("k"))
      load(cat, "a", Seq(1L -> "pre"))
      load(cat, "b", Seq(1L -> "pre"))
      cat.transaction { txn =>
        txn.updateWhere("a", col("k") === 1L, "v", lit("post"))
        txn.updateWhere("b", col("k") === 1L, "v", lit("post"))
      }
      val v = cat.dataVersionOf("a")
      // child reconstructs the mid-commit crash HOLDING b's lease,
      // then halts: recovery needs lease expiry + the in-lock heal
      val child = spawnChild("crash-commit", wh, "b", "a", v.toString,
        s"--lease=${server.boundPort}:1500",
        // hold the CATALOG's (warehouse-qualified) lease resource so
        // the parent's next write genuinely waits out the dead
        // holder's lease before healing
        s"--lockres=${cat.lockResource("b")}")
      assert(child.waitFor(30, java.util.concurrent.TimeUnit.SECONDS))
      import spark.implicits._
      cat.incrementalMerge("b", Seq(9L -> "merged").toDF("k", "v"))
      assert(cat.dataVersionOf("b") == v + 1)
      assert(cat.table("b").pointGet(1L).head().getAs[String]("v") == "post",
        "the crashed transaction's committed write was lost")
      assert(cat.table("b").pointGet(9L).count() == 1)
    } finally server.stop()
  }

  test("lease: a lapsed holder fails ensureValid loudly instead of double-writing") {
    val server = new graft.kv.LeaseLockServer().start()
    try {
      val provider = new graft.kv.LeaseLockProvider(
        "127.0.0.1", server.boundPort, leaseMs = 1500)
      val h = provider.acquire("t", 5000)
      h.ensureValid() // live lease: silent
      // the holder "pauses" past its lease: the service expires it and
      // the next writer takes over (the scenario publishVersion fences)
      server.expireNow("t")
      val h2 = provider.acquire("t", 5000)
      h2.ensureValid() // the NEW owner is valid
      // the lapsed holder's next heartbeat sees GONE; within a beat
      // ensureValid must throw rather than let a commit proceed
      val deadline = System.currentTimeMillis() + 5000
      var lostSeen = false
      while (!lostSeen && System.currentTimeMillis() < deadline) {
        try { h.ensureValid(); Thread.sleep(50) }
        catch { case _: IllegalStateException => lostSeen = true }
      }
      assert(lostSeen, "lapsed holder's ensureValid never threw")
      h.release() // idempotent and silent even when lost
      h2.release()
      // a released handle can't vouch for a commit either
      intercept[IllegalStateException] { h2.ensureValid() }
    } finally server.stop()
  }

  test("lease: fencing token blocks a lapsed holder's publish even past ensureValid") {
    // ensureValid is check-then-act — a lease can lapse between the
    // check and the meta write. The fencing epoch closes that window
    // at the write itself: here the lapsed holder's handles NEVER
    // self-check (ensureValid bypassed), the new owner commits first,
    // and the stale publish must still fail on the epoch compare.
    import spark.implicits._
    val server = new graft.kv.LeaseLockServer().start()
    try {
      val real = new graft.kv.LeaseLockProvider(
        "127.0.0.1", server.boundPort, leaseMs = 60000)
      val blind = new graft.kv.LockProvider {
        override def acquire(r: String, t: Long): graft.kv.LockProvider.Handle = {
          val h = real.acquire(r, t)
          new graft.kv.LockProvider.Handle {
            override def release(): Unit = h.release()
            override def fencingToken: Long = h.fencingToken
            override def ensureValid(): Unit = () // deliberately bypassed
          }
        }
      }
      val wh = Files.createTempDirectory("graft_fence_wh").toString
      val catA = new Catalog(spark, wh, lockProviderOpt = Some(blind))
      val catB = new Catalog(spark, wh, lockProviderOpt = Some(real))
      catA.createTable("t", kv, Seq("k"))
      load(catA, "t", Seq(1L -> "base"))
      val rows = Seq(1L -> "next")
      // holder A stalls INSIDE its staging write (under the lock),
      // pauses past its lease, and B commits the same version in the
      // meantime — then A's publish replays into B's published epoch
      FenceGate.reset()
      val slow = spark.range(1).repartition(1).mapPartitions { it =>
        FenceGate.started.countDown()
        FenceGate.proceed.await(60, java.util.concurrent.TimeUnit.SECONDS)
        it
      }.flatMap(_ => rows).toDF("k", "v")
      var failure: Option[Throwable] = None
      val t1 = new Thread(() => {
        try catA.bulkLoad("t", slow)
        catch { case e: Throwable => failure = Some(e) }
      })
      t1.start()
      assert(FenceGate.started.await(60, java.util.concurrent.TimeUnit.SECONDS))
      server.expireNow("t")
      catB.bulkLoad("t", rows.toDF("k", "v")) // new grant, higher epoch
      FenceGate.proceed.countDown()
      t1.join(60000)
      assert(failure.exists(_.isInstanceOf[IllegalStateException]) &&
        failure.exists(_.getMessage.contains("fencing")),
        s"lapsed holder's publish was not fenced: $failure")
      // the table still reads, at the NEW owner's committed version
      assert(new Catalog(spark, wh).table("t")
        .pointGet(1L).head().getAs[String]("v") == "next")
    } finally server.stop()
  }

  test("fencing: a holder lapsing MID-STAGE never touches the new owner's snapshot bytes") {
    // End-to-end staged-write fencing (publishVersion residual (b)):
    // holder A stalls INSIDE its staging write, lapses, and the new
    // owner B commits a DIFFERENT post-image at the same version
    // number. A then resumes blind (ensureValid bypassed), completes
    // its staging, and must fail at publish — with every byte of B's
    // published snapshot exactly as B wrote it. Before grant-scoped
    // staging dirs, A's resumed write targeted data_v2 directly and
    // silently replaced B's published files with its own.
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val server = new graft.kv.LeaseLockServer().start()
    try {
      val real = new graft.kv.LeaseLockProvider(
        "127.0.0.1", server.boundPort, leaseMs = 60000)
      val blind = new graft.kv.LockProvider {
        override def acquire(r: String, t: Long): graft.kv.LockProvider.Handle = {
          val h = real.acquire(r, t)
          new graft.kv.LockProvider.Handle {
            override def release(): Unit = h.release()
            override def fencingToken: Long = h.fencingToken
            override def ensureValid(): Unit = () // deliberately bypassed
          }
        }
      }
      val wh = Files.createTempDirectory("graft_stagefence_wh").toString
      val catA = new Catalog(spark, wh, lockProviderOpt = Some(blind))
      val catB = new Catalog(spark, wh, lockProviderOpt = Some(real))
      catA.createTable("t", kv, Seq("k"))
      load(catA, "t", Seq(1L -> "base"))
      FenceGate.reset()
      val slow = spark.range(1).repartition(1).mapPartitions { it =>
        FenceGate.started.countDown()
        FenceGate.proceed.await(60, java.util.concurrent.TimeUnit.SECONDS)
        it
      }.flatMap(_ => Seq(1L -> "lapsed")).toDF("k", "v")
      var failure: Option[Throwable] = None
      val t1 = new Thread(() => {
        try catA.bulkLoad("t", slow)
        catch { case e: Throwable => failure = Some(e) }
      })
      t1.start()
      assert(FenceGate.started.await(60, java.util.concurrent.TimeUnit.SECONDS))
      server.expireNow("t")
      catB.bulkLoad("t", Seq(1L -> "owner").toDF("k", "v"))
      // fingerprint every byte of B's published snapshot
      def fingerprint(): Map[String, String] = {
        val d = Paths.get(wh, "t", "data_v2")
        val s = Files.walk(d)
        try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
          val md = java.security.MessageDigest.getInstance("MD5")
          p.toString ->
            md.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
        }.toMap
        finally s.close()
      }
      val before = fingerprint()
      assert(before.nonEmpty)
      // A resumes: its write lands inside its own grant-scoped dir,
      // then A loses at the fence without having renamed a thing
      FenceGate.proceed.countDown()
      t1.join(60000)
      assert(failure.exists(_.isInstanceOf[IllegalStateException]) &&
        failure.exists(_.getMessage.contains("fencing")),
        s"lapsed holder's publish was not fenced: $failure")
      assert(fingerprint() == before,
        "the lapsed holder cross-wrote the new owner's published snapshot")
      assert(new Catalog(spark, wh).table("t")
        .pointGet(1L).head().getAs[String]("v") == "owner")
      // the lapsed holder's bytes stay quarantined in its own staging
      // dir until vacuum's sweep reclaims them
      val strays = withListNames(Paths.get(wh, "t"))
        .filter(_.startsWith(".staging_grant"))
      assert(strays.nonEmpty,
        "expected the lapsed holder's staged dir to remain for vacuum")
    } finally server.stop()
  }

  private def withListNames(dir: java.nio.file.Path): List[String] = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toList
    finally s.close()
  }

  test("fencing: a lapsed CDC merge never touches the new owner's live index segments") {
    // The segment-append protocol (maintainAnalyticIndexes): a holder
    // lapsing MID-STAGE must die at the early fence — BEFORE the
    // healing preamble's version-`next` deletes, which would otherwise
    // destroy the new owner's PUBLISHED live segments, and BEFORE its
    // own staged segment dirs take version-numbered names.
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val server = new graft.kv.LeaseLockServer().start()
    try {
      val real = new graft.kv.LeaseLockProvider(
        "127.0.0.1", server.boundPort, leaseMs = 60000)
      val blind = new graft.kv.LockProvider {
        override def acquire(r: String, t: Long): graft.kv.LockProvider.Handle = {
          val h = real.acquire(r, t)
          new graft.kv.LockProvider.Handle {
            override def release(): Unit = h.release()
            override def fencingToken: Long = h.fencingToken
            override def ensureValid(): Unit = () // deliberately bypassed
            override def fencedPublish(): Boolean = h.fencedPublish()
          }
        }
      }
      val wh = Files.createTempDirectory("graft_segfence_wh").toString
      val catA = new Catalog(spark, wh, lockProviderOpt = Some(blind))
      val catB = new Catalog(spark, wh, lockProviderOpt = Some(real))
      catA.createTable("t", StructType(Seq(
        StructField("k", LongType, false),
        StructField("body", StringType, true))), Seq("k"))
      catA.bulkLoad("t", graft.Tables.documents(spark, sf)
        .filter(org.apache.spark.sql.functions.col("doc_id") < 100)
        .select(org.apache.spark.sql.functions.col("doc_id").as("k"),
          org.apache.spark.sql.functions.col("text").as("body")),
        partitions = 2)
      catA.createIndex("t", "ft", "fulltext", Seq("body"))
      FenceGate.reset()
      val slow = spark.range(1).repartition(1).mapPartitions { it =>
        FenceGate.started.countDown()
        FenceGate.proceed.await(60, java.util.concurrent.TimeUnit.SECONDS)
        it
      }.flatMap(_ => Seq(5L -> "graft lapsed body")).toDF("k", "body")
      var failure: Option[Throwable] = None
      val t1 = new Thread(() => {
        try catA.incrementalMerge("t", slow)
        catch { case e: Throwable => failure = Some(e) }
      })
      t1.start()
      assert(FenceGate.started.await(60, java.util.concurrent.TimeUnit.SECONDS))
      server.expireNow("t")
      catB.incrementalMerge("t",
        Seq(7L -> "graft owner body").toDF("k", "body")) // publishes v2 + seg_v2
      def idxFp(): Map[String, String] = {
        val d = Paths.get(wh, "t.fulltext.ft")
        val s = Files.walk(d)
        try s.iterator().asScala
          .filter(p => Files.isRegularFile(p) &&
            !p.toString.contains(".staging_"))
          .map { p =>
            val md = java.security.MessageDigest.getInstance("MD5")
            p.toString ->
              md.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
          }.toMap
        finally s.close()
      }
      val before = idxFp()
      assert(before.keys.exists(_.contains("seg_v2")),
        "the new owner's segment should be live before the race resolves")
      FenceGate.proceed.countDown()
      t1.join(60000)
      assert(failure.exists(_.isInstanceOf[IllegalStateException]),
        s"lapsed merge was not fenced: $failure")
      assert(idxFp() == before,
        "the lapsed holder touched the new owner's live index artifacts")
      // the live view serves B's patch, not A's
      val cat = new Catalog(spark, wh)
      val view = cat.indexData("t", "ft", "fulltext")
      val base = cat.table("t").df
      def hits(term: String): Seq[Long] =
        graft.index.FullText.searchAll(base, "k", view, Seq(term))
          .select(org.apache.spark.sql.functions.col("k"))
          .collect().map(_.getLong(0)).toSeq.sorted
      assert(hits("owner") == Seq(7L))
      assert(hits("lapsed").isEmpty)
    } finally server.stop()
  }

  test("fencing: a lapsed refresh never touches the new owner's live index artifacts") {
    // refreshIndex rebuilds AT the live version, whose dirs readers
    // resolve the moment they appear: a holder whose lease lapsed
    // while a new owner committed must die at the fence, before any
    // staged artifact takes its final name and before the as-of reset.
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val server = new graft.kv.LeaseLockServer().start()
    try {
      val real = new graft.kv.LeaseLockProvider(
        "127.0.0.1", server.boundPort, leaseMs = 60000)
      // A pauses right after its grant (a GC pause past the lease)
      val pausing = new graft.kv.LockProvider {
        override def acquire(r: String, t: Long): graft.kv.LockProvider.Handle = {
          val h = real.acquire(r, t)
          FenceGate.started.countDown()
          FenceGate.proceed.await(60, java.util.concurrent.TimeUnit.SECONDS)
          h
        }
      }
      val wh = Files.createTempDirectory("graft_refreshfence_wh").toString
      val catA = new Catalog(spark, wh, lockProviderOpt = Some(pausing))
      val catB = new Catalog(spark, wh, lockProviderOpt = Some(real))
      catB.createTable("t", StructType(Seq(
        StructField("k", LongType, false),
        StructField("body", StringType, true))), Seq("k"))
      catB.bulkLoad("t", graft.Tables.documents(spark, sf)
        .filter(org.apache.spark.sql.functions.col("doc_id") < 100)
        .select(org.apache.spark.sql.functions.col("doc_id").as("k"),
          org.apache.spark.sql.functions.col("text").as("body")),
        partitions = 2)
      catB.createIndex("t", "ft", "fulltext", Seq("body"))
      FenceGate.reset()
      var failure: Option[Throwable] = None
      val t1 = new Thread(() => {
        try catA.refreshIndex("t", "ft", "fulltext")
        catch { case e: Throwable => failure = Some(e) }
      })
      t1.start()
      assert(FenceGate.started.await(60, java.util.concurrent.TimeUnit.SECONDS))
      server.expireNow("t")
      catB.incrementalMerge("t",
        Seq(7L -> "graft owner body").toDF("k", "body")) // publishes v2 + seg_v2
      def idxFp(): Map[String, String] = {
        val d = Paths.get(wh, "t.fulltext.ft")
        val s = Files.walk(d)
        try s.iterator().asScala
          .filter(p => Files.isRegularFile(p) &&
            !p.toString.contains(".staging_"))
          .map { p =>
            val md = java.security.MessageDigest.getInstance("MD5")
            p.toString ->
              md.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
          }.toMap
        finally s.close()
      }
      val before = idxFp()
      assert(catB.indexStatus("t", "ft", "fulltext") == "FRESH")
      FenceGate.proceed.countDown()
      t1.join(120000)
      assert(failure.exists(_.isInstanceOf[IllegalStateException]),
        s"lapsed refresh was not fenced: $failure")
      assert(idxFp() == before,
        "the lapsed refresh touched the new owner's live index artifacts")
      assert(new Catalog(spark, wh).indexStatus("t", "ft", "fulltext") == "FRESH")
    } finally server.stop()
  }

  test("lease: authority-side compare-and-publish fences a lapsed holder BEFORE the new owner commits") {
    // The meta-stamp fence is read→compare→write: it only rejects a
    // lapsed holder once the new owner HAS published a higher epoch.
    // The PUBLISH verb closes that window at the authority itself —
    // here the lapsed holder's handle never self-checks (ensureValid
    // bypassed), the on-disk fenceEpoch is still the OLD grant's (the
    // new owner has acquired but published NOTHING), and the stale
    // publish must still lose, deterministically, on the server-side
    // compare against the newer grant.
    import spark.implicits._
    val server = new graft.kv.LeaseLockServer().start()
    try {
      val real = new graft.kv.LeaseLockProvider(
        "127.0.0.1", server.boundPort, leaseMs = 60000)
      val blind = new graft.kv.LockProvider {
        override def acquire(r: String, t: Long): graft.kv.LockProvider.Handle = {
          val h = real.acquire(r, t)
          new graft.kv.LockProvider.Handle {
            override def release(): Unit = h.release()
            override def fencingToken: Long = h.fencingToken
            override def ensureValid(): Unit = () // deliberately bypassed
            // forwarded: the point under test is the AUTHORITY's
            // compare, not the handle's local state
            override def fencedPublish(): Boolean = h.fencedPublish()
            override def commitSwap(next: Long): graft.kv.LockProvider.SwapResult =
              h.commitSwap(next)
          }
        }
      }
      val wh = Files.createTempDirectory("graft_authfence_wh").toString
      val catA = new Catalog(spark, wh, lockProviderOpt = Some(blind))
      catA.createTable("t", kv, Seq("k"))
      load(catA, "t", Seq(1L -> "base"))
      val rows = Seq(1L -> "stale")
      FenceGate.reset()
      val slow = spark.range(1).repartition(1).mapPartitions { it =>
        FenceGate.started.countDown()
        FenceGate.proceed.await(60, java.util.concurrent.TimeUnit.SECONDS)
        it
      }.flatMap(_ => rows).toDF("k", "v")
      var failure: Option[Throwable] = None
      val t1 = new Thread(() => {
        try catA.bulkLoad("t", slow)
        catch { case e: Throwable => failure = Some(e) }
      })
      t1.start()
      assert(FenceGate.started.await(60, java.util.concurrent.TimeUnit.SECONDS))
      server.expireNow("t")
      // the new owner ACQUIRES (minting a higher-epoch grant) but
      // does NOT publish — the meta compare alone would let the stale
      // publish through. The catalog's resource is warehouse-qualified,
      // so contend on exactly that name.
      val newOwner = real.acquire(catA.lockResource("t"), 5000)
      FenceGate.proceed.countDown()
      t1.join(60000)
      // the deterministic path is the authority's FENCED response
      // ("fencing: …"); on a host slow enough that a 20 s heartbeat
      // fires between expireNow and the publish, the handle marks
      // itself lost first and fails with "lease taken over" — both
      // prove the lapsed holder cannot publish, so accept either
      // rather than flake on timing
      assert(failure.exists(_.isInstanceOf[IllegalStateException]) &&
        failure.exists(e => e.getMessage.contains("fencing") ||
          e.getMessage.contains("taken over")),
        s"lapsed holder's publish was not fenced by the authority: $failure")
      // the table still reads the pre-race snapshot, and the new
      // owner's own write path works end-to-end afterwards
      newOwner.release()
      val catB = new Catalog(spark, wh, lockProviderOpt = Some(real))
      assert(catB.table("t").pointGet(1L).head().getAs[String]("v") == "base")
      load(catB, "t", Seq(1L -> "next"))
      assert(new Catalog(spark, wh).table("t")
        .pointGet(1L).head().getAs[String]("v") == "next")
    } finally server.stop()
  }

  test("lease: durable epochs survive an authority restart inside a same-ms grant burst") {
    // Stateless epochs re-anchor on the wall clock at restart; a
    // same-ms burst of ownership changes climbs the counter ABOVE the
    // clock, so a restart inside that overhang would mint epochs
    // BELOW ones already persisted in table meta, fencing legitimate
    // writers. With a persistDir the authority pre-allocates epoch
    // blocks durably and a restart re-anchors at the persisted
    // ceiling — above every epoch that could ever have been granted.
    val dir = Files.createTempDirectory("graft_lease_epochs")
    val s1 = new graft.kv.LeaseLockServer(persistDir = Some(dir)).start()
    var maxEpoch = 0L
    try {
      // alternate owners so every ACQUIRE mints a fresh epoch; driven
      // through the direct hook — TCP round-trips would let the wall
      // clock keep pace with the counter. Loop UNTIL the counter
      // outruns the clock (capped): on a slow/preempted host a fixed
      // iteration count can lose the race without anything being
      // broken (r15 ADVICE) — that case cancels, not fails.
      var i = 0
      while (maxEpoch <= System.currentTimeMillis() && i < 200000) {
        i += 1
        val resp = s1.handleLineForTest(s"ACQUIRE t o$i 10000")
        assert(resp.startsWith("OK "), resp)
        maxEpoch = resp.drop(3).trim.toLong
        assert(s1.handleLineForTest(s"RELEASE t o$i") == "OK")
      }
    } finally s1.stop()
    assume(maxEpoch > System.currentTimeMillis(),
      s"burst never outran the wall clock ($maxEpoch) — inconclusive host")
    // restart INSIDE the overhang: grants must resume above every
    // persisted epoch, not at the (smaller) wall clock
    val s2 = new graft.kv.LeaseLockServer(persistDir = Some(dir)).start()
    try {
      val resp = s2.handleLineForTest("ACQUIRE t restarted 10000")
      assert(resp.startsWith("OK "), resp)
      val first = resp.drop(3).trim.toLong
      assert(first > maxEpoch,
        s"restarted authority minted epoch $first <= pre-restart $maxEpoch")
    } finally s2.stop()
  }

  test("lease: two-JVM publish race — the lapsed holder's process loses at the authority") {
    // the compare-and-publish race across a TRUE process boundary:
    // the child JVM holds the lease, the parent expires it and
    // acquires a newer grant (publishing NOTHING), then signals the
    // child to publish — the authority must fence the child's stale
    // grant, and the parent's own publish must succeed after.
    val server = new graft.kv.LeaseLockServer().start()
    try {
      val (child, lines) = spawnChildWithLines("acquire-publish",
        Files.createTempDirectory("graft_xpub_wh").toString, "t",
        s"--lease=${server.boundPort}:60000")
      try {
        server.expireNow("t")
        val parent = new graft.kv.LeaseLockProvider(
          "127.0.0.1", server.boundPort, leaseMs = 60000)
        val h2 = parent.acquire("t", 5000)
        // go-signal: one stdin line
        child.getOutputStream.write('\n'); child.getOutputStream.flush()
        val deadline = System.currentTimeMillis() + 30000
        var verdict: String = null
        while (verdict == null && System.currentTimeMillis() < deadline) {
          val l = lines.poll(1000, java.util.concurrent.TimeUnit.MILLISECONDS)
          if (l != null && l.startsWith("PUBLISH-")) verdict = l
        }
        assert(verdict == "PUBLISH-FENCED",
          s"lapsed child process was not fenced at the authority: $verdict")
        h2.fencedPublish() // the live owner's publish goes through
        h2.release()
        assert(child.waitFor(30, java.util.concurrent.TimeUnit.SECONDS))
      } finally { child.destroyForcibly(); () }
    } finally server.stop()
  }

  test("fencing: a replayed publish persists its advanced epoch before skipping") {
    // the monotonic-skip path returns without swapping the pointer —
    // but a highest-epoch holder REPLAYING a published version must
    // still persist its advanced fence epoch, or a lapsed holder with
    // an intermediate epoch later passes the compare against the
    // stale on-disk value
    val wh = Files.createTempDirectory("graft_fence_persist_wh").toString
    val cat = new Catalog(spark, wh)
    cat.createTable("t", kv, Seq("k"))
    load(cat, "t", Seq(1L -> "base"))
    def handle(epoch: Long) = new graft.kv.LockProvider.Handle {
      override def release(): Unit = ()
      override def fencingToken: Long = epoch
      override def ensureValid(): Unit = ()
    }
    cat.publishVersion("t", 0, Some(handle(1000L))) // version 0 <= current: pure replay
    val meta = new String(Files.readAllBytes(Paths.get(wh, "t", "_graft_meta.json")))
    assert(meta.contains("\"fenceEpoch\":1000"),
      s"advanced epoch not persisted by the skip path: $meta")
    // an intermediate-epoch holder now fails the fence from a FRESH
    // catalog — proving the compare reads the PERSISTED value
    val e = intercept[IllegalStateException] {
      new Catalog(spark, wh).publishVersion("t", 99, Some(handle(500L)))
    }
    assert(e.getMessage.contains("fencing"), e.getMessage)
  }

  test("lease: acquire retries through connection failures until its deadline") {
    // no server listening: every ACQUIRE attempt fails to connect —
    // that must read as BUSY-until-deadline (service restarting), not
    // an instant ConnectException
    val dead = new java.net.ServerSocket(0)
    val port = dead.getLocalPort
    dead.close()
    val provider = new graft.kv.LeaseLockProvider("127.0.0.1", port, leaseMs = 1500)
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] { provider.acquire("t", 700) }
    assert(e.getMessage.contains("held past"),
      s"expected the deadline path, got: ${e.getMessage}")
    assert((System.nanoTime() - t0) / 1e6 >= 700, "gave up before the deadline")
  }

  test("row-level delete of every row publishes an empty snapshot through each path") {
    val wh = Files.createTempDirectory("graft_delall_wh").toString
    spark.conf.set("spark.sql.catalog.gdel",
      classOf[graft.kv.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdel.warehouse", wh)
    spark.sql("CREATE TABLE gdel.t (k BIGINT NOT NULL, v STRING) " +
      "TBLPROPERTIES ('primaryKey'='k')")
    spark.sql("INSERT INTO gdel.t VALUES (1,'a'), (2,'b'), (3,'c')")
    // MERGE ... THEN DELETE takes the ROW-LEVEL replace path: the
    // staged post-image has ZERO rows and publishStaged must still
    // republish it through the layout and flip the pointer (a plain
    // filter DELETE would take the metadata-delete shortcut instead)
    spark.sql("""MERGE INTO gdel.t t
      |USING (SELECT * FROM VALUES (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT)),
      |                            (CAST(3 AS BIGINT)) s(k)) s
      |ON t.k = s.k
      |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(spark.sql("SELECT * FROM gdel.t").count() == 0)
    // the metadata-delete path on the now-empty table is a no-op too
    spark.sql("DELETE FROM gdel.t WHERE k >= 0")
    assert(spark.sql("SELECT * FROM gdel.t").count() == 0)
    // and the table stays writable afterwards
    spark.sql("INSERT INTO gdel.t VALUES (9,'z')")
    assert(spark.sql("SELECT v FROM gdel.t WHERE k = 9").head().getString(0) == "z")
  }

  test("lease: SWAP verb — conditional pointer swap semantics at the authority") {
    // Protocol-level pin of the CommitStore seam: fresh claim,
    // idempotent re-affirm, STALE below the pointer, FENCED for a
    // superseded grant, takeover of a dead claimant's number by the
    // new current grant, GONE with no grant.
    val server = new graft.kv.LeaseLockServer()
    def line(s: String): String = server.handleLineForTest(s)
    val e1 = line("ACQUIRE r o1 60000").split(" ")(1).toLong
    assert(line(s"SWAP r o1 $e1 2") == "OK 0", "fresh claim")
    assert(line(s"SWAP r o1 $e1 2") == "OK 2", "same-grant re-affirm")
    assert(line(s"SWAP r o1 $e1 1") == "STALE 2", "below the pointer")
    assert(line(s"SWAP r o1 $e1 3") == "OK 2", "advance")
    server.expireNow("r")
    val e2 = line("ACQUIRE r o2 60000").split(" ")(1).toLong
    assert(e2 > e1)
    assert(line(s"SWAP r o1 $e1 4").startsWith("FENCED"),
      "superseded grant must be rejected no matter the version")
    assert(line(s"SWAP r o2 $e2 3") == "OK 3",
      "new current grant takes over the dead claimant's number")
    assert(line(s"SWAP r o2 $e2 5") == "OK 3")
    line("RELEASE r o2")
    assert(line(s"SWAP r o2 $e2 6") == "GONE", "no grant to validate against")
  }

  test("lease: a holder lapsing BETWEEN its commit swap and the rename still loses, pointer intact") {
    // The round-16 residual (fence→rename lapse, conditional-write-
    // only class), closed by the CommitStore seam: holder A passes
    // the authority fence — its commitSwap CLAIMS version 2 at the
    // authority-held pointer — then pauses before materializing a
    // single final name. Its lease lapses, B acquires, takes the
    // number over at the authority (A's claim is provably dead: B's
    // grant could only exist because A's lease expired) and commits
    // its own content at 2. A then resumes and must fail LOUDLY —
    // before this round, A's publish replayed into the graceful skip
    // and reported silent success over a write that was dropped.
    import spark.implicits._
    val server = new graft.kv.LeaseLockServer().start()
    try {
      val real = new graft.kv.LeaseLockProvider(
        "127.0.0.1", server.boundPort, leaseMs = 60000)
      // pause INSIDE the commit point: the first commitSwap performs
      // the real authority swap (the claim), then blocks until the
      // race has played out — exactly "strictly between the fence and
      // the rename"
      val firstSwapGate = new java.util.concurrent.atomic.AtomicBoolean(true)
      val pausing = new graft.kv.LockProvider {
        override def acquire(r: String, t: Long): graft.kv.LockProvider.Handle = {
          val h = real.acquire(r, t)
          new graft.kv.LockProvider.Handle {
            override def release(): Unit = h.release()
            override def fencingToken: Long = h.fencingToken
            override def ensureValid(): Unit = h.ensureValid()
            override def fencedPublish(): Boolean = h.fencedPublish()
            override def commitSwap(next: Long): graft.kv.LockProvider.SwapResult = {
              val res = h.commitSwap(next)
              if (firstSwapGate.compareAndSet(true, false)) {
                FenceGate.started.countDown()
                FenceGate.proceed.await(60, java.util.concurrent.TimeUnit.SECONDS): Unit
              }
              res
            }
          }
        }
      }
      val wh = Files.createTempDirectory("graft_swapfence_wh").toString
      val catA = new Catalog(spark, wh, lockProviderOpt = Some(pausing))
      val catB = new Catalog(spark, wh, lockProviderOpt = Some(real))
      catA.createTable("t", kv, Seq("k"))
      // seed through the REAL provider: the pausing one gates the
      // first swap it ever sees
      load(catB, "t", Seq(1L -> "base"))
      FenceGate.reset()
      var failure: Option[Throwable] = None
      val t1 = new Thread(() => {
        try load(catA, "t", Seq(1L -> "stale"))
        catch { case e: Throwable => failure = Some(e) }
      })
      t1.start()
      // A has claimed version 2 at the authority and is paused with
      // ZERO final names touched
      assert(FenceGate.started.await(60, java.util.concurrent.TimeUnit.SECONDS))
      server.expireNow("t")
      load(catB, "t", Seq(1L -> "next")) // B takes the number over and commits
      FenceGate.proceed.countDown()
      t1.join(60000)
      // A must lose LOUDLY (epoch compare, the claimed-first guard, or
      // its handle marking itself lost — all fencing failures), never
      // report success for a dropped write
      assert(failure.exists(_.isInstanceOf[IllegalStateException]) &&
        failure.exists(e => e.getMessage.contains("fencing") ||
          e.getMessage.contains("taken over") ||
          e.getMessage.contains("lease")),
        s"lapsed post-claim holder did not fail loudly: $failure")
      // pointer intact at B's commit, serving B's bytes
      val catR = new Catalog(spark, wh)
      assert(catR.dataVersionOf("t") == 2)
      assert(catR.table("t").pointGet(1L).head().getAs[String]("v") == "next")
    } finally server.stop()
  }

  test("lease: a txn committer lapsing between its commit swaps and the journal loses both-or-neither") {
    // The JOURNAL-swap window (the multi-table analog of the
    // fence→rename race): transaction A claims both tables' next
    // version numbers at the authority, then pauses BEFORE touching a
    // final name or the journal. Its lease lapses, B acquires table
    // "a", takes the number over at the authority and commits its own
    // content there. A resumes and must lose LOUDLY before the journal
    // takes its final name — with NEITHER of A's tables showing its
    // writes (both-or-neither), B's commit intact, and no journal left
    // for recovery to roll A's dead transaction forward over B's work.
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val server = new graft.kv.LeaseLockServer().start()
    try {
      val real = new graft.kv.LeaseLockProvider(
        "127.0.0.1", server.boundPort, leaseMs = 60000)
      // pause after the SECOND commit swap this provider performs —
      // i.e. after BOTH tables' numbers are claimed, strictly inside
      // the swaps→journal window
      val swapCount = new java.util.concurrent.atomic.AtomicInteger(0)
      val pausing = new graft.kv.LockProvider {
        override def acquire(r: String, t: Long): graft.kv.LockProvider.Handle = {
          val h = real.acquire(r, t)
          new graft.kv.LockProvider.Handle {
            override def release(): Unit = h.release()
            override def fencingToken: Long = h.fencingToken
            override def ensureValid(): Unit = h.ensureValid()
            override def fencedPublish(): Boolean = h.fencedPublish()
            override def commitSwap(next: Long): graft.kv.LockProvider.SwapResult = {
              val res = h.commitSwap(next)
              if (swapCount.incrementAndGet() == 2) {
                FenceGate.started.countDown()
                FenceGate.proceed.await(60, java.util.concurrent.TimeUnit.SECONDS): Unit
              }
              res
            }
          }
        }
      }
      val wh = Files.createTempDirectory("graft_txnjournal_wh").toString
      val catA = new Catalog(spark, wh, lockProviderOpt = Some(pausing))
      val catB = new Catalog(spark, wh, lockProviderOpt = Some(real))
      catA.createTable("a", kv, Seq("k"))
      catA.createTable("b", kv, Seq("k"))
      load(catB, "a", Seq(1L -> "pre"))
      load(catB, "b", Seq(1L -> "pre"))
      FenceGate.reset()
      var failure: Option[Throwable] = None
      val t1 = new Thread(() => {
        try catA.transaction { txn =>
          txn.updateWhere("a", col("k") === 1L, "v", lit("txn"))
          txn.updateWhere("b", col("k") === 1L, "v", lit("txn"))
        } catch { case e: Throwable => failure = Some(e) }
      })
      t1.start()
      // A holds both claims and is paused with zero final names and no
      // journal written
      assert(FenceGate.started.await(60, java.util.concurrent.TimeUnit.SECONDS))
      server.expireNow("a")
      server.expireNow("b")
      load(catB, "a", Seq(1L -> "owner")) // B takes a's number over and commits
      FenceGate.proceed.countDown()
      t1.join(60000)
      assert(failure.exists(_.isInstanceOf[IllegalStateException]) &&
        failure.exists(e => e.getMessage.contains("fencing") ||
          e.getMessage.contains("taken over") ||
          e.getMessage.contains("lease")),
        s"lapsed txn committer did not fail loudly: $failure")
      // both-or-neither: NEITHER table shows A's write; B's commit and
      // version stand; and no journal exists for recovery to replay
      val catR = new Catalog(spark, wh)
      catR.recoverTransactions() // must be a no-op
      assert(catR.dataVersionOf("a") == 2, "B's committed version moved")
      assert(catR.table("a").pointGet(1L).head().getAs[String]("v") == "owner",
        "B's committed content was overwritten by the dead transaction")
      assert(catR.dataVersionOf("b") == 1, "the dead txn half-published b")
      assert(catR.table("b").pointGet(1L).head().getAs[String]("v") == "pre",
        "the dead transaction's write surfaced on b")
    } finally server.stop()
  }
}
