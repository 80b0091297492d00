package graft.kv

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

import java.nio.file.{Files, Path}

/** One index dir resolved at a table version: the single owner of the
  * stack layout that every segmented index read consumes (the Spark
  * views, the fold, the driver serving paths and vacuum's retention).
  *
  * An index dir holds a versioned stack of artifacts:
  *   - the BASE `data_v<b>` written by create/refresh/fold (or the
  *     unversioned backfill dir `data`, version −1 — every segment
  *     applies on top of it);
  *   - base siblings written by the same build: `pos` (positions),
  *     `norms`, `bmx` (block stats), `cent`, `vmeta`, `graph`;
  *   - the dictionary `dict` and its fuzzy layout `fz`;
  *   - one CDC layer per incremental merge at v: `seg_v<v>` (postings,
  *     bitmap parts or vector entries), `posseg_v<v>`, `normseg_v<v>`,
  *     the df delta `dictdelta_v<v>` and the tombstones `tomb_v<v>`
  *     (the rowkeys the merge rewrote).
  *
  * The contract:
  *   - Publish bound. Every artifact resolves at or below `upTo`, the
  *     PUBLISHED table version (or, under the write lock, the version
  *     about to be published). An artifact written mid-merge, or
  *     orphaned by a crashed one, is invisible until the table pointer
  *     reaches its version, so a lock-free reader never pairs a
  *     post-image index with a pre-image table.
  *   - Pairing. pos/norms/bmx/cent/vmeta/graph pair at the data base's
  *     version, never at the bound: a fold writes them before its data
  *     base, so resolving them on their own could pair a new sibling
  *     with an old base after a crash mid-fold. dict and fz resolve at
  *     the bound and fold the `dictdelta_v` above their OWN version —
  *     that number alone says which deltas remain to apply.
  *   - Mask. A `tomb_v` at tv hides a row of a layer at v < tv; a doc
  *     re-added after its tombstone lives in a layer at v ≥ tv, which
  *     the tombstone does not touch. Tombstones are patch-sized by the
  *     CDC contract: the Spark form broadcasts them into a left_anti,
  *     the driver form reads them whole.
  *   - Crash safety. Everything resolves from ONE directory listing,
  *     so the layers are mutually consistent. A same-version rebuild
  *     swaps a dir with two renames, and a reader listing in that
  *     instant sees neither; a miss with evidence of a swap in flight
  *     (a versioned candidate was listed, or a `.staging_` dir) re-lists
  *     briefly before it is reported. */
private[kv] final class IndexStack private (val dir: Path, val upTo: Int) {
  private var names: Seq[String] = IndexStack.list(dir)

  lazy val base: Path = latest("data", upTo)
  lazy val baseVer: Int = IndexStack.versionOf("data", base.getFileName.toString)

  /** A base sibling (pos, norms, bmx, cent, vmeta, graph) at the data
    * base's version; may not exist (bmx on string rowkeys, graph on a
    * vector index built without one). */
  def paired(prefix: String): Path = latest(prefix, baseVer)

  /** `<prefix><v>` layers with baseVer < v ≤ upTo, ascending. */
  def segments(prefix: String): Seq[(Int, Path)] = above(prefix, baseVer)

  lazy val tombs: Seq[(Int, Path)] = segments("tomb_v")

  /** The base and the `seg_v` layers above it. */
  def layers: Seq[(Int, Path)] = (baseVer, base) +: segments("seg_v")

  /** The positional base and the `posseg_v` layers above it. */
  def posLayers: Seq[(Int, Path)] = {
    val pos = paired("pos")
    require(Files.exists(pos),
      s"no positional postings under $dir — the index is damaged; " +
        "CALL system.refresh_index to rebuild")
    (baseVer, pos) +: segments("posseg_v")
  }

  /** True when segments or tombstones sit above the base. */
  def hasDelta: Boolean = segments("seg_v").nonEmpty || tombs.nonEmpty

  /** dict or fz at the bound, with the df deltas above its own version. */
  def folded(prefix: String): (Path, Seq[(Int, Path)]) = {
    val b = latest(prefix, upTo)
    (b, above("dictdelta_v", IndexStack.versionOf(prefix, b.getFileName.toString)))
  }

  /** The Spark form of the mask: `cols` of every layer unioned, minus
    * the rows whose `key` a later tombstone names. */
  def masked(spark: SparkSession, layers: Seq[(Int, Path)], cols: Seq[String],
             key: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val parts = layers.map { case (v, p) =>
      spark.read.parquet(p.toString).select(cols.map(col): _*)
        .withColumn("__v", lit(v))
    }.reduce(_ unionByName _)
    if (tombs.isEmpty) parts.drop("__v")
    else {
      val t = tombs.map { case (v, p) =>
        spark.read.parquet(p.toString)
          .select(col("rk").as("__trk"), lit(v).as("__tv"))
      }.reduce(_ unionByName _)
      parts.join(broadcast(t),
          parts(key) === t("__trk") && t("__tv") > parts("__v"), "left_anti")
        .drop("__v")
    }
  }

  /** The driver form of the mask, from the rowkey tombstones read
    * whole; more than `maxRows` rows in one fails loudly. */
  def driverMask(rkType: DataType, maxRows: Int): IndexStack.Mask = {
    val schema = StructType(Seq(StructField("rk", rkType, nullable = true)))
    new IndexStack.Mask(tombs.map { case (v, p) =>
      (v, DriverRead.readAll(p, schema, maxRows).map(_.get(0)).toSet)
    })
  }

  private def above(prefix: String, loExcl: Int): Seq[(Int, Path)] =
    names.flatMap { n =>
      if (!n.startsWith(prefix)) None
      else scala.util.Try(n.stripPrefix(prefix).toInt).toOption
        .filter(v => v > loExcl && v <= upTo).map(v => (v, dir.resolve(n)))
    }.sortBy(_._1)

  /** The newest `<prefix>_v<n>` with n ≤ bound, else the unversioned
    * `<prefix>` dir; either may not exist. */
  private[kv] def latest(prefix: String, bound: Int): Path = {
    // second element: evidence a rebuild could be racing this
    // resolution. Without it a miss is a genuine absence (the artifact
    // was never built) and returns at once.
    def pick(): (Path, Boolean) = {
      // not versionOf: a dir named at the backfill base's version −1
      // (`graph_v-1`) is a real artifact, not an unparsable name
      val vs = names.filter(_.startsWith(s"${prefix}_v"))
        .flatMap(n => scala.util.Try(n.stripPrefix(s"${prefix}_v").toInt).toOption)
        .filter(_ <= bound)
      val p = if (vs.isEmpty) dir.resolve(prefix) else dir.resolve(s"${prefix}_v${vs.max}")
      (p, vs.nonEmpty || names.exists(_.startsWith(".staging_")))
    }
    var (resolved, racing) = pick()
    var attempts = 0
    while (!Files.exists(resolved) && racing && attempts < 3) {
      Thread.sleep(5L << attempts)
      names = IndexStack.list(dir)
      val r = pick()
      resolved = r._1
      racing = r._2
      attempts += 1
    }
    resolved
  }
}

private[kv] object IndexStack {
  def at(dir: Path, upTo: Int): IndexStack = new IndexStack(dir, upTo)

  /** The version of a `<prefix>_v<n>` artifact dir name, −1 for the
    * unversioned creation artifact (plain `<prefix>`) or anything
    * unparsable. ONE parser for every artifact family: the fold keys
    * delta application on these numbers, and two hand-rolled parsers
    * only have to drift once for a fold to silently re-apply or skip
    * a delta. */
  def versionOf(prefix: String, dirName: String): Int =
    if (dirName.startsWith(s"${prefix}_v"))
      scala.util.Try(dirName.stripPrefix(s"${prefix}_v").toInt).getOrElse(-1)
    else -1

  /** Whether the row with rowkey `rk` from a layer at `v` is hidden. */
  final class Mask(sets: Seq[(Int, Set[Any])]) extends ((Int, Any) => Boolean) {
    def apply(v: Int, rk: Any): Boolean =
      sets.exists { case (tv, s) => tv > v && s.contains(rk) }

    /** Every tombstoned rowkey, once. */
    def rowkeys: Seq[Any] = sets.flatMap(_._2).distinct
  }

  private def list(dir: Path): Seq[String] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.list(dir)
      try {
        val b = Seq.newBuilder[String]
        s.forEach(p => { b += p.getFileName.toString; () })
        b.result()
      } finally s.close()
    }
}
