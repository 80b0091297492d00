package graft.kv

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.JavaConverters._

/** The one commit point: how a table version becomes visible, beside
  * [[IndexStack]] (how readers resolve it) and [[ArtifactStage]] (how
  * index artifacts are staged). Every write path — full rewrites,
  * incremental merges, compaction, multi-table transactions — stages
  * its snapshot and index artifacts under grant-scoped roots, then
  * publishes N >= 1 [[Commit.Publish]]es through [[run]]; journal
  * roll-forward ([[heal]], [[recover]]) publishes through the same
  * [[run]]. The caller holds every table's write lock, taken in sorted
  * order after recovery and healed under the lock (step 1, the
  * catalog's lock scope). Then:
  *
  *   2. One fence pass. First every table's grant is claimed: the
  *      lock still holds (`ensureValid`) and the authority swaps its
  *      commit pointer to `next` (`commitSwap`, one serialized action
  *      that fences the grant and claims the number). Then every
  *      table's durable meta is checked: the fencing-epoch
  *      compare and the replay rules ([[check]]). Claims come before
  *      checks, so a holder that pauses anywhere inside the claims is
  *      caught by a check: a newer grant that committed during the
  *      pause stamped its higher epoch into that table's meta.
  *   3. The staged artifacts take their final names
  *      ([[ArtifactStage.moveIntoPlace]]), then each claim is
  *      re-affirmed at the authority: a holder that lapsed mid-rename
  *      throws with every meta untouched.
  *   4. A journal, only when more than one table publishes: the
  *      cross-table visibility point that readers overlay and recovery
  *      rolls forward. Its entries carry each table's as-of bumps.
  *   5. One meta write per table sets the pointer, the publish time,
  *      the fencing epoch and the as-of bumps together. Past a journal
  *      each table publishes as its own roll-forward (a one-table
  *      [[run]] with nothing left to rename): a fresh claim, a fresh
  *      meta read, the epoch compare and the monotonic skip. A holder
  *      that lapsed after its journal — whose journal a new owner may
  *      have rolled forward and then published past — must not write
  *      the meta it read before the journal over the newer version;
  *      if it throws there, the journal stays for recovery.
  *
  * No index as-of is ever persisted ahead of its table's pointer, so
  * a commit that fails leaves nothing to undo: its staged roots stay
  * quarantined for vacuum, and anything it renamed sits at the
  * unpublished version `next`, which the next writer of `next`
  * replaces. The residual is a lapse strictly between the re-affirm
  * and the meta write (or the journal), a pure write with no
  * read→compare gap, closable only by a store whose writes are
  * conditional. */
private[kv] final class Commit(warehouse: Path,
                               snapshotDir: (String, Int) => Path,
                               readMeta: String => ObjectNode,
                               writeMeta: (String, ObjectNode) => Unit) {
  import Commit.{Checked, Publish}

  private val mapper = new ObjectMapper()

  /** Steps 2 to 5 for the tables of one commit, each under the held
    * lock `handle(table)`. */
  def run(ps: Seq[Publish], handle: String => Option[LockProvider.Handle]): Unit = {
    val claims = ps.map { p =>
      val h = handle(p.table)
      h.foreach(_.ensureValid())
      (p, h, h.map(_.commitSwap(p.next.toLong)))
    }
    val (replays, live) = claims.map { case (p, h, swap) => check(p, h, swap) }
      .partition(_.replay)
    // a replay's content is live already (a heal or a breaker's
    // roll-forward published it): the highest-epoch replayer still
    // persists its epoch, and its staged copies are duplicates
    replays.foreach { c =>
      if (c.epochAdvanced) writeMeta(c.p.table, c.meta)
      c.p.renames.foreach { case (src, _) => ArtifactStage.deleteRecursively(src) }
    }
    live.foreach(_.p.renames.foreach { case (src, dst) =>
      ArtifactStage.moveIntoPlace(src, dst) })
    live.foreach { c =>
      c.h.foreach(_.commitSwap(c.p.next.toLong) match {
        case LockProvider.Superseded(cur) =>
          throw new IllegalStateException(
            s"fencing: authority commit pointer for ${c.p.table} advanced to " +
            s"$cur during materialization of ${c.p.next} — a newer grant " +
            "committed; aborting before the pointer write")
        case _ => ()
      })
    }
    if (live.size == 1) live.foreach(c => writeMeta(c.p.table, published(c)))
    else if (live.nonEmpty) {
      val journal = writeJournal(live.map(_.p))
      live.foreach(c => run(Seq(c.p.copy(renames = Nil)), _ => c.h))
      // best-effort: once every pointer moved the commit is done; an
      // orphan journal only makes recovery re-check and drop it
      try Files.deleteIfExists(journal): Unit
      catch { case _: java.io.IOException => () }
    }
  }

  /** The durable-meta half of the fence pass for one claimed table.
    *   - Fencing epoch: the meta records the highest grant epoch that
    *     ever published; an older grant has provably lost the lock and
    *     aborts, even when its validity check was bypassed or raced.
    *     Token-less grants (epoch 0: locks that cannot lapse while the
    *     process lives) skip the compare, so a warehouse can move
    *     between providers. Checked before the replay rule: a lapsed
    *     holder replaying a version the new owner published must fail.
    *   - Replay: the pointer already at or past `next` (a roll-forward
    *     the in-lock heal or a lock breaker already applied) is skipped,
    *     never regressed — unless the authority says this grant claimed
    *     `next` first, which means a newer grant took the number over
    *     while this holder paused after its claim: its write was
    *     superseded, and reporting success would drop it.
    *   - Superseded: the authority pointer past `next` while the meta
    *     is behind means a newer grant's commit is in flight; abort
    *     before touching a final name. */
  private def check(p: Publish, h: Option[LockProvider.Handle],
                    swap: Option[LockProvider.SwapResult]): Checked = {
    val meta = readMeta(p.table)
    val tok = h.map(_.fencingToken).getOrElse(0L)
    val seen = meta.path("fenceEpoch").asLong(0L)
    if (tok > 0L && tok < seen)
      throw new IllegalStateException(
        s"fencing: grant epoch $tok for ${p.table} is behind published epoch " +
        s"$seen — this holder's lease lapsed and a newer writer has " +
        "committed; aborting instead of swapping the pointer over its work")
    val epochAdvanced = tok > seen
    if (epochAdvanced) meta.put("fenceEpoch", tok): Unit
    val replay = meta.path("dataVersion").asInt() >= p.next
    swap match {
      case Some(LockProvider.Committed(prev)) if replay && prev < p.next =>
        throw new IllegalStateException(
          s"fencing: this grant claimed version ${p.next} of ${p.table} first " +
          "at the authority, but a newer grant has published it while " +
          "this holder paused — the staged write was superseded, not " +
          "replayed; aborting instead of reporting success")
      case Some(LockProvider.Superseded(_)) if !replay =>
        throw new IllegalStateException(
          s"fencing: authority commit pointer for ${p.table} has advanced " +
          s"past ${p.next} while the durable meta is behind — a newer " +
          "grant's commit is in flight; aborting instead of materializing over it")
      case _ => ()
    }
    Checked(p, h, meta, epochAdvanced, replay)
  }

  /** Step 5's meta: pointer, publish time (what `TIMESTAMP AS OF`
    * resolves), and the as-of bumps, on the meta the check read. */
  private def published(c: Checked): ObjectNode = {
    val m = c.meta
    val v = c.p.next
    m.put("dataVersion", v)
    (m.get("publishTimes") match {
      case o: ObjectNode => o
      case _ => m.putObject("publishTimes")
    }).put(v.toString, System.currentTimeMillis())
    m.path("indexes").elements().asScala.foreach { e =>
      if (c.p.asOf.exists { case (n, ty) =>
            e.path("name").asText() == n && e.path("type").asText().equalsIgnoreCase(ty) })
        e.asInstanceOf[ObjectNode].put("asOfVersion", v): Unit
    }
    m
  }

  // ------------------------------------------------------------------
  // The transaction journal and its roll-forward.
  // ------------------------------------------------------------------

  /** Journals live in a dedicated subdirectory so the read overlay
    * ([[liveVersion]], on every lock-free version resolution) costs
    * one probe of a directory that is absent or empty except while a
    * commit is in flight or after a committer crashed. Journals
    * written at the warehouse ROOT by pre-subdir builds are still
    * healed and recovered; the overlay reads them only while any
    * remain ([[legacyRootJournals]]). */
  private val txnDir: Path = warehouse.resolve("_graft_txn")

  /** `{"publishes":[{"table":t,"next":n,"asOf":[{"name":i,"type":ty}]}]}`
    * written whole by an atomic rename. `asOf` is absent in journals of
    * builds that persisted as-of bumps before the journal; those roll
    * forward without bumps. */
  private def writeJournal(ps: Seq[Publish]): Path = {
    val node = mapper.createObjectNode()
    val arr = node.putArray("publishes")
    ps.foreach { p =>
      val e = arr.addObject()
      e.put("table", p.table)
      e.put("next", p.next)
      val a = e.putArray("asOf")
      p.asOf.foreach { case (n, ty) => a.addObject().put("name", n).put("type", ty) }
    }
    val id = java.util.UUID.randomUUID().toString.replace("-", "").take(16)
    Files.createDirectories(txnDir)
    val tmp = txnDir.resolve(s".txn_$id.tmp")
    val fin = txnDir.resolve(s"_graft_txn_$id.json")
    Files.writeString(tmp, mapper.writeValueAsString(node))
    Files.move(tmp, fin, StandardCopyOption.ATOMIC_MOVE)
    fin
  }

  /** Live version of `table` as READERS must see it: the meta pointer
    * overlaid with a committed transaction's journal entry that is
    * still pending ([[pendingEntry]]). The journal is the transaction's
    * visibility point, so every table of a multi-table commit becomes
    * visible at the instant its journal appears — a lock-free reader
    * never sees one table at the post-image and another at the
    * pre-image because it caught the committer between two meta
    * writes (reference: KVTransactionalIndexTable.kt's Tephra
    * transactions make base, index and multi-table writes visible
    * together).
    *
    * Journals are scanned BEFORE the meta read: a commit deletes its
    * journal only after every meta write, so "no journal" seen first
    * guarantees the meta read that follows sees the new pointer; the
    * reverse order could read one table's meta before its write and
    * then miss the just-deleted journal. */
  def liveVersion(table: String): Int = {
    val journaled = (pending(txnDir) ++ legacyRootJournals()).flatMap {
      case (_, Some(ps)) => ps.filter(_.table == table)
      case _ => Nil // corrupt: recover quarantines
    }
    val base = readMeta(table).path("dataVersion").asInt(0)
    if (journaled.exists(pendingEntry(_, base))) base + 1 else base
  }

  /** The one rule for when a journaled entry still counts: the RAW
    * meta pointer `base` (never the overlay, which would show it
    * applied) exactly one behind, and the staged snapshot present.
    * Anything else — already applied, or a writer that broke a dead
    * owner's lock moved past — is done with. */
  private def pendingEntry(p: Publish, base: Int): Boolean =
    base == p.next - 1 && Files.exists(snapshotDir(p.table, p.next))

  /** Pre-subdir builds wrote journals at the warehouse ROOT. The root
    * is scanned on the first overlay resolution and stays in the scan
    * set only while parseable legacy journals remain (a corrupt one
    * contributes nothing and only [[recover]], which scans the root
    * itself, quarantines it). New journals are only ever written under
    * [[txnDir]]. */
  @volatile private var legacyRootMayHaveJournals = true
  private def legacyRootJournals(): Seq[(Path, Option[Seq[Publish]])] =
    if (!legacyRootMayHaveJournals) Nil
    else {
      val js = pending(warehouse)
      if (js.forall(_._2.isEmpty)) { legacyRootMayHaveJournals = false; Nil }
      else js
    }

  /** Pending journals under `dir`, as (path, entries or None if
    * corrupt). One error policy for the overlay, the heal and recovery:
    *   - absent dir → no journals;
    *   - NoSuchFileException on read → drained between the listing and
    *     the read, so its pointers already moved — treated as absent;
    *   - any OTHER IOException is retried briefly and then THROWN: a
    *     caller that went on as if no journal existed would overwrite
    *     a committed transaction's staged snapshot (writers) or un-see
    *     a committed transaction (readers);
    *   - content read but unparseable → None; [[recover]] quarantines
    *     it, every other caller skips it. */
  private def pending(dir: Path): Seq[(Path, Option[Seq[Publish]])] = {
    if (!Files.exists(dir)) return Nil
    // .json suffix required: quarantined journals end in .json.corrupt
    val journals = list(dir).filter { p =>
      val n = p.getFileName.toString
      n.startsWith("_graft_txn_") && n.endsWith(".json")
    }
    journals.flatMap { j =>
      def read(attempt: Int): Option[String] =
        try Some(Files.readString(j))
        catch {
          case _: java.nio.file.NoSuchFileException => None
          case e: java.io.IOException =>
            if (attempt >= 3)
              throw new IllegalStateException(
                s"transaction journal $j unreadable after ${attempt + 1} " +
                "attempts — refusing to proceed as if the committed " +
                "transaction did not exist", e)
            Thread.sleep(10L << attempt)
            read(attempt + 1)
        }
      read(0).map { text =>
        val node = try mapper.readTree(text) catch { case _: Exception => null }
        if (node == null) (j, None)
        else (j, Some(node.path("publishes").elements().asScala.map { e =>
          Publish(e.path("table").asText(), e.path("next").asInt(),
            asOf = e.path("asOf").elements().asScala
              .map(a => (a.path("name").asText(), a.path("type").asText())).toList)
        }.toList))
      }
    }
  }

  /** Publish a journaled entry that is still pending
    * ([[pendingEntry]]); skip it otherwise. The caller holds the
    * table's lock `h`. */
  def rollForward(p: Publish, h: Option[LockProvider.Handle]): Unit =
    if (pendingEntry(p, readMeta(p.table).path("dataVersion").asInt(0)))
      run(Seq(p), _ => h)

  /** In-lock heal of one table whose lock `h` the caller holds: a
    * writer recovers, then waits on the lock; a transaction that
    * journals and dies in the meantime owns data_v(next), which the
    * writer would otherwise overwrite. Journals stay (other tables may
    * still be pending); [[recover]] drops them. */
  def heal(table: String, h: Option[LockProvider.Handle]): Unit =
    (pending(txnDir) ++ pending(warehouse)).foreach {
      case (_, Some(ps)) => ps.filter(_.table == table).foreach(rollForward(_, h))
      case _ => ()
    }

  /** Roll every pending journal forward — `locked(p)` runs
    * [[rollForward]] under `p.table`'s write lock — then drop it;
    * quarantine corrupt journals; and age out residue nothing reads
    * again: `.tmp` files of a crash before the journal's rename (after
    * an hour) and quarantined journals (kept a week as evidence). */
  def recover(locked: Publish => Unit): Unit = {
    if (!Files.exists(warehouse)) return
    (pending(txnDir) ++ pending(warehouse)).foreach {
      case (j, None) =>
        try Files.move(j, j.resolveSibling(j.getFileName.toString + ".corrupt"),
          StandardCopyOption.REPLACE_EXISTING): Unit
        catch { case _: java.io.IOException => () }
      case (j, Some(ps)) =>
        ps.foreach(locked)
        Files.deleteIfExists(j): Unit
    }
    val now = System.currentTimeMillis()
    Seq(txnDir, warehouse).filter(Files.exists(_)).flatMap(list).filter { p =>
      val n = p.getFileName.toString
      val age = now - (try Files.getLastModifiedTime(p).toMillis
        catch { case _: java.io.IOException => now })
      (n.startsWith(".txn_") && n.endsWith(".tmp") && age > 3600000L) ||
        (n.startsWith("_graft_txn_") && n.endsWith(".corrupt") &&
          age > 7L * 24 * 3600000L)
    }.foreach(p => Files.deleteIfExists(p): Unit)
  }

  private def list(dir: Path): List[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toList finally s.close()
  }
}

private[kv] object Commit {

  /** One table's share of a commit: publish version `next` of `table`
    * once each staged artifact took its final name (`renames`, in
    * order), and move the as-of of each listed index — (name, type) —
    * to `next` in the same meta write as the pointer. */
  final case class Publish(table: String, next: Int,
                           renames: Seq[(Path, Path)] = Nil,
                           asOf: Seq[(String, String)] = Nil)

  /** A claimed table after the durable-meta check: the meta to write,
    * whether this grant's epoch advanced it, and whether the publish is
    * a replay of a version already live. */
  private final case class Checked(p: Publish, h: Option[LockProvider.Handle],
                                   meta: ObjectNode, epochAdvanced: Boolean,
                                   replay: Boolean)
}
