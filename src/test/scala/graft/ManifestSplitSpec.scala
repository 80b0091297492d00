package graft

import graft.kv.Manifest
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Randomized equivalence proof for the manifest pruning kernel:
  * `Manifest.splitByKeyIntersect` (sorted keys + one binary search per
  * file range, O((F+K)·log K)) must agree EXACTLY with the naive
  * nested scan (O(F×K)) it replaced on the CDC hot path — for any
  * manifest, any key set, any key type, including boundary hits at
  * lo/hi and null-bounded zero-row entries. */
class ManifestSplitSpec extends AnyFunSuite {
  private def check(p: Prop, name: String): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(r.passed, s"$name: $r")
  }

  /** The spec being tested against: does any key fall in [lo,hi]?
    * (null-bounded entries are always touched). Same keyCmp as the
    * kernel — the property under test is the SEARCH, not the
    * comparator. */
  private def naiveSplit(entries: Seq[kv.FileRange], keys: Array[Any])
      : (Seq[kv.FileRange], Seq[kv.FileRange]) =
    entries.partition(e => e.lo == null || e.hi == null ||
      keys.exists(k => Manifest.keyCmp(k, e.lo) >= 0 && Manifest.keyCmp(k, e.hi) <= 0))

  /** Entries from a bounded value pool so lo/hi boundary collisions
    * with keys are common, not vanishing-probability. */
  private def cases[A](pool: Gen[A]): Gen[(List[kv.FileRange], Array[Any])] =
    for {
      nFiles <- Gen.choose(0, 40)
      bounds <- Gen.listOfN(nFiles, Gen.zip(pool, pool))
      nullEvery <- Gen.choose(0, 5) // sprinkle zero-row (null-bounded) files
      nKeys <- Gen.choose(0, 60)
      keys <- Gen.listOfN(nKeys, pool)
    } yield {
      val entries = bounds.zipWithIndex.map { case ((a, b), i) =>
        if (nullEvery > 0 && i % (nullEvery + 2) == nullEvery)
          kv.FileRange(s"part-$i", null, null)
        else {
          val (lo, hi) = if (Manifest.keyCmp(a, b) <= 0) (a, b) else (b, a)
          kv.FileRange(s"part-$i", lo, hi)
        }
      }
      (entries, keys.map(_.asInstanceOf[Any]).toArray)
    }

  private def prop[A](pool: Gen[A], name: String): Unit =
    check(Prop.forAll(cases(pool)) { case (entries, keys) =>
      val fast = Manifest.splitByKeyIntersect(entries, keys)
      val slow = naiveSplit(entries, keys)
      fast._1.map(_.file) == slow._1.map(_.file) &&
        fast._2.map(_.file) == slow._2.map(_.file)
    }, name)

  test("binary-search split == naive scan: Long keys (narrow pool, boundary hits)") {
    prop(Gen.choose(-20L, 20L).map(java.lang.Long.valueOf), "long-narrow")
  }

  test("binary-search split == naive scan: Long keys (wide pool)") {
    prop(Gen.choose(Long.MinValue / 2, Long.MaxValue / 2).map(java.lang.Long.valueOf),
      "long-wide")
  }

  test("binary-search split == naive scan: Double keys") {
    prop(Gen.oneOf(Gen.choose(-5.0, 5.0), Gen.choose(-1e9, 1e9))
      .map(java.lang.Double.valueOf), "double")
  }

  test("binary-search split == naive scan: String keys incl. supplementary chars") {
    // 𐍈 (U+10348) sorts differently in UTF-8 byte order vs UTF-16
    // code-unit order against ￿-range chars — the comparator case
    // the docstring on keyCmp calls out
    val pool = Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar.map(_.toString), Gen.const("𐍈"), Gen.const("�")))
      .map(_.mkString).map(s => s.take(8))
    prop(pool, "string")
  }

  test("empty key set leaves only null-bounded entries touched") {
    val entries = Seq(kv.FileRange("a", 1L, 5L), kv.FileRange("b", null, null))
    val (t, u) = Manifest.splitByKeyIntersect(entries, Array.empty[Any])
    assert(t.map(_.file) == Seq("b") && u.map(_.file) == Seq("a"))
  }

  test("single key at exact lo and exact hi boundaries is touched") {
    val entries = Seq(
      kv.FileRange("lo-hit", 10L, 20L),
      kv.FileRange("hi-hit", 0L, 10L),
      kv.FileRange("miss-below", 11L, 20L),
      kv.FileRange("miss-above", 0L, 9L))
    val (t, u) = Manifest.splitByKeyIntersect(entries, Array[Any](java.lang.Long.valueOf(10L)))
    assert(t.map(_.file).toSet == Set("lo-hit", "hi-hit"))
    assert(u.map(_.file).toSet == Set("miss-below", "miss-above"))
  }
}
