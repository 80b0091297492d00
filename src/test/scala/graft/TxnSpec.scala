package graft

import graft.kv.Catalog
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.JavaConverters._

/** Multi-statement transactions (reference
  * KVTransactionalIndexTable.kt: several statements + their base/index
  * writes commit or abort as one unit): optimistic snapshot isolation
  * over the COW catalog — pinned reads, buffered read-your-writes,
  * all-or-nothing multi-table commit, write-write conflict abort, and
  * crash recovery rolling an intent journal forward. */
class TxnSpec extends AnyFunSuite {
  import TestSpark._

  private val acctSchema = StructType(Seq(
    StructField("k", LongType, false),
    StructField("bal", DoubleType, true)))
  private val logSchema = StructType(Seq(
    StructField("k", LongType, false),
    StructField("delta", DoubleType, true)))

  private def freshCat(tag: String): Catalog =
    new Catalog(spark, Files.createTempDirectory(s"graft_${tag}_wh").toString)

  /** Where commits write their journals: `_graft_txn/` under the
    * warehouse. */
  private def txnDir(wh: String) = Paths.get(wh, "_graft_txn")

  private def writeJournal(wh: String, name: String, body: String): Unit = {
    Files.createDirectories(txnDir(wh))
    Files.writeString(txnDir(wh).resolve(name), body): Unit
  }

  private def journalDirNames(wh: String): Set[String] = {
    val s = Files.list(txnDir(wh))
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  private def setup(cat: Catalog): Unit = {
    import spark.implicits._
    cat.createTable("acct", acctSchema, Seq("k"))
    cat.createTable("log", logSchema, Seq("k"))
    cat.bulkLoad("acct", (1L to 10L).map(i => (i, 1000.0)).toDF("k", "bal"))
  }

  test("multi-table commit is atomic and reads-your-writes inside the txn") {
    import spark.implicits._
    val cat = freshCat("txn1")
    setup(cat)
    val (vA, vL) = (cat.dataVersionOf("acct"), cat.dataVersionOf("log"))
    cat.transaction { txn =>
      txn.updateWhere("acct", col("k") <= 2L, "bal", col("bal") - 100.0)
      txn.insert("log", Seq((1L, -100.0), (2L, -100.0)).toDF("k", "delta"))
      // read-your-writes: the txn sees its own debit...
      assert(txn.table("acct").pointGet(1L).head().getDouble(1) == 900.0)
      // ...while the outside world still sees the pinned pre-image
      assert(cat.table("acct").pointGet(1L).head().getDouble(1) == 1000.0)
      assert(cat.table("log").df.count() == 0)
    }
    // committed: exactly one version bump per written table
    assert(cat.dataVersionOf("acct") == vA + 1)
    assert(cat.dataVersionOf("log") == vL + 1)
    assert(cat.table("acct").pointGet(2L).head().getDouble(1) == 900.0)
    assert(cat.table("acct").pointGet(3L).head().getDouble(1) == 1000.0)
    assert(cat.table("log").df.count() == 2)
    // the two-table commit journaled, and left no journal behind
    assert(Files.isDirectory(txnDir(cat.warehouse)))
    assert(!journalDirNames(cat.warehouse).exists(_.startsWith("_graft_txn_")))
  }

  test("an exception in the body rolls back: nothing published") {
    import spark.implicits._
    val cat = freshCat("txn2")
    setup(cat)
    val (vA, vL) = (cat.dataVersionOf("acct"), cat.dataVersionOf("log"))
    intercept[RuntimeException](cat.transaction { txn =>
      txn.updateWhere("acct", col("k") <= 2L, "bal", col("bal") - 100.0)
      txn.insert("log", Seq((1L, -100.0)).toDF("k", "delta"))
      throw new RuntimeException("abort")
    })
    assert(cat.dataVersionOf("acct") == vA && cat.dataVersionOf("log") == vL)
    assert(cat.table("acct").pointGet(1L).head().getDouble(1) == 1000.0)
    assert(cat.table("log").df.count() == 0)
  }

  test("write-write conflict with a concurrent writer aborts the whole txn") {
    import spark.implicits._
    val cat = freshCat("txn3")
    setup(cat)
    val e = intercept[java.util.ConcurrentModificationException](
      cat.transaction { txn =>
        // first touch pins acct at its current version...
        assert(txn.table("acct").df.count() == 10)
        txn.insert("log", Seq((1L, 5.0)).toDF("k", "delta"))
        // ...then a concurrent writer publishes to acct
        cat.bulkLoad("acct", (1L to 10L).map(i => (i, 7.0)).toDF("k", "bal"))
        txn.updateWhere("acct", col("k") <= 2L, "bal", col("bal") - 100.0)
      })
    assert(e.getMessage.contains("acct"))
    // NOTHING from the txn landed — not even the non-conflicting log
    // insert (all-or-nothing), and the concurrent write survived
    assert(cat.table("log").df.count() == 0)
    assert(cat.table("acct").pointGet(1L).head().getDouble(1) == 7.0)
  }

  test("registered kv indexes are maintained through a txn commit") {
    import spark.implicits._
    val cat = freshCat("txn4")
    setup(cat)
    cat.createIndex("acct", "by_bal", "kv", Seq("bal"))
    cat.transaction { txn =>
      txn.upsert("acct", Seq((3L, 42.0), (11L, 42.0)).toDF("k", "bal"))
    }
    assert(cat.indexStatus("acct", "by_bal", "kv") == "FRESH")
    val idx = cat.indexData("acct", "by_bal", "kv")
    val hit = graft.index.KvIndex.lookup(cat.table("acct").df, "k", idx, 42.0)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(hit == Set(3L, 11L))
    assert(idx.count() == cat.table("acct").df.count())
  }

  /** Copy the live snapshot into data_v(next) — a crashed commit's
    * staged-but-unpublished snapshot. */
  private def stageCopy(cat: Catalog, t: String, next: Int): Unit = {
    val src = Paths.get(cat.dataPathAt(t, cat.dataVersionOf(t)))
    val dst = Paths.get(cat.warehouse, t, s"data_v$next")
    Files.createDirectories(dst)
    Files.list(src).forEach(f => Files.copy(f,
      dst.resolve(f.getFileName.toString),
      StandardCopyOption.REPLACE_EXISTING): Unit)
  }

  test("recovery rolls a crashed commit forward from the intent journal") {
    import spark.implicits._
    val cat = freshCat("txn5")
    setup(cat)
    cat.bulkLoad("log", Seq((99L, 0.5)).toDF("k", "delta"))
    val (vA, vL) = (cat.dataVersionOf("acct"), cat.dataVersionOf("log"))
    // simulate a commit that crashed AFTER writing its journal and
    // staged snapshots but BEFORE any pointer bump: stage data_v(next)
    // as a copy of the live snapshot for both tables + write the journal
    stageCopy(cat, "acct", vA + 1)
    stageCopy(cat, "log", vL + 1)
    writeJournal(cat.warehouse, "_graft_txn_test1.json",
      s"""{"publishes":[{"table":"acct","next":${vA + 1}},{"table":"log","next":${vL + 1}}]}""")
    // a second journal whose staged dir is missing must be skipped, not
    // blow up or mis-bump
    writeJournal(cat.warehouse, "_graft_txn_test2.json",
      """{"publishes":[{"table":"acct","next":9}]}""")

    val cat2 = new Catalog(spark, cat.warehouse)
    cat2.recoverTransactions()
    assert(cat2.dataVersionOf("acct") == vA + 1)
    assert(cat2.dataVersionOf("log") == vL + 1)
    // both journals consumed; re-running recovery is a no-op
    assert(journalDirNames(cat.warehouse).isEmpty)
    cat2.recoverTransactions()
    assert(cat2.dataVersionOf("acct") == vA + 1)
    // rolled-forward snapshots read correctly
    assert(cat2.table("acct").df.count() == 10)
    assert(cat2.table("log").pointGet(99L).head().getDouble(1) == 0.5)
  }

  test("CALL system.recover_txns rolls a pending journal forward from SQL") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_txnp_wh").toString
    spark.conf.set("spark.sql.catalog.gtxnp",
      classOf[graft.kv.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtxnp.warehouse", wh)
    val cat = new Catalog(spark, wh)
    cat.createTable("acct", acctSchema, Seq("k"))
    cat.bulkLoad("acct", (1L to 3L).map(i => (i, 1.0)).toDF("k", "bal"))
    val vA = cat.dataVersionOf("acct")
    stageCopy(cat, "acct", vA + 1)
    writeJournal(wh, "_graft_txn_sql.json",
      s"""{"publishes":[{"table":"acct","next":${vA + 1}}]}""")
    spark.sql("CALL gtxnp.system.recover_txns()")
    assert(cat.dataVersionOf("acct") == vA + 1)
  }

  test("vacuum heals a pending txn journal instead of reclaiming its staged dirs") {
    import spark.implicits._
    val cat = freshCat("txn7")
    setup(cat)
    val vA = cat.dataVersionOf("acct")
    // staged post-image + journal from a commit that crashed pre-bump
    stageCopy(cat, "acct", vA + 1)
    writeJournal(cat.warehouse, "_graft_txn_vac.json",
      s"""{"publishes":[{"table":"acct","next":${vA + 1}}]}""")
    // zero grace would reclaim data_v(next) as an orphan if vacuum ran
    // before recovery — instead the journal must roll forward first
    cat.vacuum("acct", graceMs = 0L)
    assert(cat.dataVersionOf("acct") == vA + 1)
    assert(cat.table("acct").df.count() == 10)
  }

  test("vacuum prunes publishTimes entries of reclaimed snapshots") {
    import spark.implicits._
    val cat = freshCat("txn8")
    setup(cat)
    cat.bulkLoad("acct", (1L to 10L).map(i => (i, 2.0)).toDF("k", "bal"))
    cat.bulkLoad("acct", (1L to 10L).map(i => (i, 3.0)).toDF("k", "bal"))
    val live = cat.dataVersionOf("acct")
    cat.vacuum("acct", graceMs = 0L)
    val meta = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      Files.readString(Paths.get(cat.warehouse, "acct", "_graft_meta.json")))
    val keys = meta.path("publishTimes").fieldNames()
    val remaining = Iterator.continually(keys).takeWhile(_.hasNext).map(_.next()).toSet
    assert(remaining == Set(live.toString), s"publishTimes keys: $remaining")
    // time travel at the live version still resolves
    assert(cat.snapshotAtOrBefore("acct",
      System.currentTimeMillis() + 60000L).contains(live))
  }

  test("pre-journal abort unwinds staged index snapshots and as-of bumps") {
    import spark.implicits._
    val cat = freshCat("txn9")
    setup(cat)
    cat.createIndex("acct", "by_bal", "kv", Seq("bal"))
    val vA = cat.dataVersionOf("acct")
    // 'acct' < 'log' in the sorted staging order, so acct's snapshot
    // AND its index maintenance complete before log's write throws —
    // the abort must unwind both, or a later compact() publishing
    // version vA+1 would serve index content from this aborted txn.
    // The poison is an executor-side throw, so the failure happens at
    // STAGING (inside commitTxn, after acct staged), not at buffer time.
    val boom = udf((k: Long) =>
      if (k > 0) throw new RuntimeException("boom") else 0.0)
    val e = intercept[Exception](cat.transaction { txn =>
      txn.upsert("acct", Seq((1L, 5.0)).toDF("k", "bal"))
      txn.insert("log", Seq((1L, 0.0)).toDF("k", "delta")
        .withColumn("delta", boom(col("k"))))
    })
    // the failure must be the STAGING-time poison (proving acct was
    // already staged when it hit), not a body-time error that would
    // make the rollback assertions below vacuous
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("boom")), msgs(e).mkString("|"))
    assert(cat.dataVersionOf("acct") == vA)
    // as-of restored — the index is FRESH at the PRE-txn version, and
    // the staged index snapshot for the never-published version is gone
    assert(cat.indexStatus("acct", "by_bal", "kv") == "FRESH")
    assert(!Files.exists(Paths.get(cat.warehouse,
      "acct.kv.by_bal", s"data_v${vA + 1}")))
    // the poisoned version number stays fully usable afterwards
    cat.transaction { txn =>
      txn.upsert("acct", Seq((1L, 77.0)).toDF("k", "bal"))
    }
    assert(cat.dataVersionOf("acct") == vA + 1)
    val idx = cat.indexData("acct", "by_bal", "kv")
    val hit = graft.index.KvIndex.lookup(cat.table("acct").df, "k", idx, 77.0)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(hit == Set(1L))
  }

  test("a corrupt journal is quarantined, not re-parsed forever") {
    val cat = freshCat("txn10")
    setup(cat)
    writeJournal(cat.warehouse, "_graft_txn_bad.json", "{not json at all")
    cat.recoverTransactions() // must not throw
    val names = journalDirNames(cat.warehouse)
    assert(!names.contains("_graft_txn_bad.json"))
    assert(names.contains("_graft_txn_bad.json.corrupt"))
    // and the quarantined file is not picked up again
    cat.recoverTransactions()
    assert(journalDirNames(cat.warehouse).contains("_graft_txn_bad.json.corrupt"))
  }

  test("concurrent transactions: no deadlock under opposite statement order, " +
       "conflicts abort cleanly, retry loop converges") {
    import spark.implicits._
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val cat = freshCat("txn11")
    setup(cat)
    val pool = Executors.newFixedThreadPool(2)
    try {
      // both transactions write BOTH tables, declared in OPPOSITE
      // order — commit acquires locks in sorted table order, so this
      // must never deadlock no matter how the threads interleave
      val start = new CountDownLatch(1)
      val results = (0 until 2).map { i =>
        pool.submit(new java.util.concurrent.Callable[String] {
          override def call(): String = {
            start.await()
            try {
              cat.transaction { txn =>
                if (i == 0) {
                  txn.updateWhere("acct", col("k") <= 2L, "bal", col("bal") + 1.0)
                  txn.insert("log", Seq((100L + i, 1.0)).toDF("k", "delta"))
                } else {
                  txn.insert("log", Seq((100L + i, 1.0)).toDF("k", "delta"))
                  txn.updateWhere("acct", col("k") <= 2L, "bal", col("bal") + 1.0)
                }
              }
              "ok"
            } catch {
              case _: java.util.ConcurrentModificationException => "conflict"
            }
          }
        })
      }
      start.countDown()
      // a deadlock would hang past the lock timeout; 120s bounds the test
      val outcomes = results.map(_.get(120, TimeUnit.SECONDS))
      assert(outcomes.forall(o => o == "ok" || o == "conflict"), outcomes)
      val wins = outcomes.count(_ == "ok")
      assert(wins >= 1, s"at least one txn must commit: $outcomes")
      // state is exactly the serial application of the winners
      assert(cat.table("log").df.count() == wins.toLong)
      assert(cat.table("acct").pointGet(1L).head().getDouble(1) == 1000.0 + wins)

      // the retry loop absorbs conflicts: run both again with retries —
      // both must land (serialized), no exception escapes
      val start2 = new CountDownLatch(1)
      val r2 = (0 until 2).map { i =>
        pool.submit(new java.util.concurrent.Callable[String] {
          override def call(): String = {
            start2.await()
            cat.transactionWithRetry(maxRetries = 5) { txn =>
              txn.updateWhere("acct", col("k") === 1L, "bal", col("bal") + 10.0)
            }
            "ok"
          }
        })
      }
      start2.countDown()
      assert(r2.map(_.get(120, TimeUnit.SECONDS)).forall(_ == "ok"))
      assert(cat.table("acct").pointGet(1L).head().getDouble(1) ==
        1000.0 + wins + 20.0)
    } finally pool.shutdownNow()
  }

  test("a read-only transaction publishes nothing") {
    val cat = freshCat("txn6")
    setup(cat)
    val vA = cat.dataVersionOf("acct")
    val n = cat.transaction { txn => txn.table("acct").df.count() }
    assert(n == 10L && cat.dataVersionOf("acct") == vA)
  }
}
