package graft

import graft.index.Bitmap
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Algebraic laws for the two-level bitmap encoding, including the
  * sparse/dense container boundary (≤4096 ids per 64Ki chunk → sorted
  * uint16 array; above → 1024-word bitset): serialize/deserialize
  * round-trips any id set, set ops agree with Set semantics, and the
  * sparse form actually shrinks low-cardinality chunks. */
class BitmapPropertySpec extends AnyFunSuite {

  private def check(p: Prop, name: String): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(100), p)
    assert(r.passed, s"$name: $r")
  }

  private def bitmapOf(ids: Seq[Long]): Array[Byte] = {
    val c = new Bitmap.Chunks()
    ids.foreach(Bitmap.set(c, _))
    Bitmap.serialize(c)
  }

  /** Id pools spanning several chunks, with clustered runs so single
    * chunks cross the 4096 sparse/dense boundary. */
  private val idSet: Gen[Set[Long]] = Gen.oneOf(
    // sparse everywhere
    Gen.listOf(Gen.choose(0L, 1L << 20)).map(_.toSet),
    // one dense chunk (well past 4096 in chunk 0) + scattered others
    Gen.choose(4100, 9000).flatMap(n =>
      Gen.listOf(Gen.choose(1L << 17, 1L << 21)).map(rest =>
        (0L until n.toLong).toSet ++ rest)),
    // exactly at the boundary
    Gen.const((0L until 4096L).toSet),
    Gen.const((0L until 4097L).toSet))

  test("serialize/deserialize round-trips any id set (both container forms)") {
    check(Prop.forAll(idSet) { ids =>
      Bitmap.ids(bitmapOf(ids.toSeq)).toSet == ids &&
        Bitmap.cardinality(bitmapOf(ids.toSeq)) == ids.size.toLong
    }, "roundtrip")
    // negative rowkeys produce negative chunk keys, which sort first
    val neg = Seq(-70000L, -1L, 5L, 70000L)
    assert(Bitmap.ids(bitmapOf(neg)).toSet == neg.toSet)
    // a stream without the 8-byte format header is rejected, never
    // decoded by guessing its layout
    intercept[IllegalArgumentException](Bitmap.ids(bitmapOf(neg).drop(8)))
  }

  test("and/or/andNot agree with Set intersect/union/diff") {
    check(Prop.forAll(Gen.zip(idSet, idSet)) { case (a, b) =>
      val (ba, bb) = (bitmapOf(a.toSeq), bitmapOf(b.toSeq))
      Bitmap.ids(Bitmap.and(ba, bb)).toSet == (a intersect b) &&
        Bitmap.ids(Bitmap.or(ba, bb)).toSet == (a union b) &&
        Bitmap.ids(Bitmap.andNot(ba, bb)).toSet == (a diff b)
    }, "setops")
  }

  test("foldVersions == last-writer-wins replay of versioned parts/tombstones") {
    // model: part at version v contributes its ids minus ids tombstoned
    // at any strictly later version
    val gen = for {
      nParts <- Gen.choose(1, 4)
      parts <- Gen.listOfN(nParts, Gen.zip(Gen.choose(0, 10),
        Gen.listOf(Gen.choose(0L, 5000L)).map(_.toSet)))
      nTombs <- Gen.choose(0, 4)
      tombs <- Gen.listOfN(nTombs, Gen.zip(Gen.choose(0, 10),
        Gen.listOf(Gen.choose(0L, 5000L)).map(_.toSet)))
    } yield (parts, tombs)
    check(Prop.forAll(gen) { case (parts, tombs) =>
      val got = Bitmap.ids(Bitmap.foldVersions(
        parts.map { case (v, ids) => (v, bitmapOf(ids.toSeq)) },
        tombs.map { case (v, ids) => (v, bitmapOf(ids.toSeq)) })).toSet
      val expect = parts.flatMap { case (v, ids) =>
        val masked = tombs.filter(_._1 > v).flatMap(_._2).toSet
        ids diff masked
      }.toSet
      got == expect
    }, "foldVersions")
  }

  test("row ids beyond the 2^47 id space fail loudly instead of aliasing") {
    val c = new Bitmap.Chunks()
    val e = intercept[IllegalArgumentException] { Bitmap.set(c, 1L << 48) }
    assert(e.getMessage.contains("id space"))
    intercept[IllegalArgumentException] { Bitmap.set(c, -(1L << 48)) }
    Bitmap.set(c, (1L << 47) - 1) // boundary id is fine
  }

  test("sparse container shrinks a low-cardinality chunk ~100x vs dense") {
    // 40 ids scattered across one 64Ki chunk: dense form would be
    // 8 KiB; sparse is 4+4+4 + 2*40 = 92 B
    val ids = (0 until 40).map(i => i.toLong * 1600L)
    val bytes = bitmapOf(ids)
    assert(bytes.length < 120, s"sparse container not small: ${bytes.length} B")
    assert(8192.0 / bytes.length > 68.0) // ~89x here
    // and a genuinely dense chunk still costs the flat 8 KiB + header
    val dense = bitmapOf(0L until 60000L)
    assert(dense.length >= 8 * 1024 && dense.length < 9 * 1024)
  }

  test("rangeIds == the union of per-value lookups for any value interval") {
    // the range scan's HOF OR-fold (aggregate over collect_list) must
    // agree with folding value-by-value through lookupIds — pins the
    // new fold wiring, incl. shards present for only SOME in-range
    // values and ids crossing the shard boundary
    import TestSpark._
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (0 until 4000).map { i =>
      // ids straddle the 16Mi shard boundary; values 0..9
      val id = if (i % 3 == 0) i.toLong else (1L << 24) * (i % 5) + i
      (id, rnd.nextInt(10))
    }
    val idx = graft.index.BitmapIndex.build(
      rows.toDF("k", "v"), "k", "v")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().map(_.getLong(0)).toSet
    for ((lo, hi) <- Seq((2, 5), (0, 9), (7, 7), (8, 20))) {
      val ranged = ids(graft.index.BitmapIndex.rangeIds(idx, lo, hi))
      val unioned = (lo to math.min(hi, 9))
        .map(v => ids(graft.index.BitmapIndex.lookupIds(idx, v)))
        .foldLeft(Set.empty[Long])(_ ++ _)
      assert(ranged == unioned, s"range [$lo,$hi] diverged from the union")
      val expect = rows.filter { case (_, v) => v >= lo && v <= hi }
        .map(_._1).toSet
      assert(ranged == expect, s"range [$lo,$hi] diverged from ground truth")
    }
  }
}
