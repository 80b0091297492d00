package graft.kv

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.Comparator
import scala.collection.JavaConverters._

/** How index artifacts become visible: the write-side twin of
  * [[IndexStack]]. Every writer of a version-numbered index artifact
  * (refresh, fold, CDC segment appends, graph builds) stages and
  * publishes through here; kv-index maintenance and table snapshots
  * stage under the same roots and are renamed by the commit point
  * ([[Catalog.publishVersion]], `commitTxn`) with [[moveIntoPlace]].
  *
  * The contract:
  *   - Grant-scoped staging. Artifacts are written under a fresh
  *     `.staging_grant<token>_<uuid>` root inside the index dir (same
  *     volume, so every rename is atomic), never at their final names:
  *     a holder whose lease lapses mid-build writes only into its own
  *     root and can never cross-write the files a new owner staged or
  *     published under the same version number. The token is operator
  *     forensics; the UUID makes the root unique.
  *   - One fence before the first rename. [[run]] proves the grant
  *     still holds (`ensureValid`) and is still the current one at the
  *     authority (`fencedPublish`) once, after the last write and
  *     before any artifact takes its final name. A lapsed holder throws
  *     there with every byte still quarantined in its root. The
  *     residual is a lapse strictly between the fence and the renames,
  *     the same microsecond class as the commit point's.
  *   - Ordered renames. Artifacts take their final names in the order
  *     they were staged. Builders stage base siblings (pos, norms,
  *     bmx, cent, vmeta, graph) before the data base: readers pair
  *     siblings at the data base's version, so an interruption between
  *     two renames leaves the old base live with its old siblings, and
  *     the renamed ones are orphans the next build replaces. dict and
  *     fz pair by their own version (the deltas above it), so they are
  *     consistent at any position in the sequence.
  *   - Move-aside replace. A destination that already exists (a
  *     same-version rebuild, or a crashed attempt's orphan) is renamed
  *     aside, replaced, then deleted: a lock-free reader sees the old
  *     dir or the new one, never partial bytes, and one listing in the
  *     instant between the two renames sees neither, which IndexStack
  *     re-lists past.
  *   - Cleanup. A failed build or a failed fence deletes its root. A
  *     crash leaves `.staging_` dirs (roots, moved-aside dirs) that
  *     vacuum's sweep reclaims once they have been idle for its grace
  *     window. */
private[kv] final class ArtifactStage private (val dir: Path,
                                              handle: Option[LockProvider.Handle]) {
  val root: Path = ArtifactStage.stagingRoot(dir, handle)
  Files.createDirectories(root)
  private val order = scala.collection.mutable.ListBuffer[String]()

  /** Write one artifact under the root; it takes `finalName` in `dir`
    * at publish, after every artifact staged before it. */
  def stage(finalName: String)(write: String => Unit): Unit = {
    write(root.resolve(finalName).toString)
    order += finalName: Unit
  }

  private def publish(): Unit = {
    ArtifactStage.fence(handle)
    order.foreach(n => ArtifactStage.moveIntoPlace(root.resolve(n), dir.resolve(n)))
    ArtifactStage.deleteRecursively(root)
  }
}

private[kv] object ArtifactStage {

  /** Stage the artifacts `build` writes under a fresh root in `dir`,
    * then fence once and rename them into place in staged order. The
    * root is deleted when `build`, the fence or a rename throws. */
  def run[A](dir: Path, handle: Option[LockProvider.Handle])
            (build: ArtifactStage => A): A = {
    val s = new ArtifactStage(dir, handle)
    try {
      val out = build(s)
      s.publish()
      out
    } catch {
      case e: Throwable =>
        try deleteRecursively(s.root) catch { case _: Exception => () }
        throw e
    }
  }

  /** A fresh grant-scoped staging root under `dir` (not created). */
  def stagingRoot(dir: Path, handle: Option[LockProvider.Handle]): Path =
    dir.resolve(s".staging_grant${handle.map(_.fencingToken).getOrElse(0L)}_" +
      uuid())

  /** The write-side fence: the grant still holds and is still the
    * current one at the authority. A no-op for providers whose locks
    * cannot lapse. */
  def fence(handle: Option[LockProvider.Handle]): Unit =
    handle.foreach { h => h.ensureValid(); h.fencedPublish(): Unit }

  /** Rename `src` onto `dst`, moving an existing `dst` aside first and
    * deleting it after: the one rename every staged artifact and
    * snapshot takes into place. */
  def moveIntoPlace(src: Path, dst: Path): Unit =
    if (!Files.exists(dst)) Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE): Unit
    else {
      val aside = dst.resolveSibling(s".staging_old_${uuid()}")
      Files.move(dst, aside, StandardCopyOption.ATOMIC_MOVE)
      Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
      deleteRecursively(aside)
    }

  /** Delete a file or dir tree; an absent path is a no-op. */
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(Files.delete)
      finally s.close()
    }

  private def uuid(): String =
    java.util.UUID.randomUUID().toString.replace("-", "")
}
