package graft

import graft.dedup.Dedup
import graft.similarity.Ann
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Ground-truth checks for the signature-based operators that have no
  * SQL oracle: plant known duplicates, assert they are found. */
class DedupSpec extends AnyFunSuite {
  import TestSpark._

  private def docs = Tables.documents(spark, sf)

  /** docs ∪ exact copies (ids+1e6) of doc_id<5 ∪ near copies
    * (appended token, ids+2e6) of doc_id<5. */
  private def planted = {
    val exact = docs.filter(col("doc_id") < 5)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val near = docs.filter(col("doc_id") < 5)
      .withColumn("doc_id", col("doc_id") + 2000000L)
      .withColumn("text", concat(col("text"), lit(" graftdup")))
    docs.unionByName(exact).unionByName(near)
  }

  private val expectedExactPairs =
    (0L until 5L).map(i => (i, i + 1000000L)).toSet

  test("minhash LSH finds every planted exact and near duplicate") {
    val pairs = Dedup.minhashLsh(planted, "doc_id", "text", threshold = 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expectedNear = (0L until 5L).map(i => (i, i + 2000000L)).toSet
    val missing = (expectedExactPairs ++ expectedNear) -- pairs
    assert(missing.isEmpty, s"planted pairs not found: $missing")
  }

  test("null-content docs never form duplicate groups; token-less docs fingerprint to NULL") {
    import TestSpark.spark.implicits._
    val df = Seq((1L, Option("same text")), (2L, Option("same text")),
        (3L, Option.empty[String]), (4L, Option.empty[String]))
      .toDF("doc_id", "text")
    val groups = Dedup.exact(df, "doc_id", "text").collect()
    assert(groups.length == 1 && groups.head.getAs[Long]("keeper") == 1L)
    // zero-token docs: fingerprint is NULL (matches the oracle's empty
    // list_sum), never an element_at(_, 0) crash
    val fp = Seq((1L, ""), (2L, "!!! ???"), (3L, "a b"))
      .toDF("doc_id", "text")
      .orderBy($"doc_id")
      .select(graft.functions.TextFunctions.fingerprint($"text").as("fp"))
      .collect()
    assert(fp(0).isNullAt(0) && fp(1).isNullAt(0) && !fp(2).isNullAt(0))
    // banding misconfiguration fails fast, never an O(n^2) degenerate join
    intercept[IllegalArgumentException] {
      Dedup.minhashLsh(df, "doc_id", "text", sigLen = 2, rowsPerBand = 4)
    }
  }

  test("minhash est_jaccard is 1.0 for exact copies") {
    val est = Dedup.minhashLsh(planted, "doc_id", "text", threshold = 0.5)
      .filter(col("doc_b") === 1000000L && col("doc_a") === 0L)
      .select("est_jaccard").collect()
    assert(est.length == 1 && est.head.getDouble(0) == 1.0)
  }

  test("simhash finds planted exact duplicates with hamming 0") {
    val pairs = Dedup.simhashPairs(planted, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val exactFound = pairs.filter { case (a, b, _) => expectedExactPairs.contains((a, b)) }
    assert(exactFound.length == 5, s"found: ${exactFound.toSeq}")
    assert(exactFound.forall(_._3 == 0))
  }

  test("cluster drop-list keeps each original and drops its copies") {
    val pairs = Dedup.minhashLsh(planted, "doc_id", "text", threshold = 0.5)
    val drops = Dedup.dropList(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // every planted copy must be dropped in favor of its original
    (0L until 5L).foreach { i =>
      assert(drops.get(i + 1000000L).contains(i), s"exact copy of $i")
      assert(drops.get(i + 2000000L).contains(i), s"near copy of $i")
    }
    // no original may be dropped
    assert((0L until 5L).forall(i => !drops.contains(i)))
  }

  test("hash-gated mixture sampling is deterministic and rate-accurate") {
    import graft.dedup.Mixture
    val rates = Map("src0" -> 0.2, "src1" -> 0.8)
    val once = Mixture.sampleByHash(docs, "doc_id", "source", rates, defaultRate = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val again = Mixture.sampleByHash(docs, "doc_id", "source", rates, defaultRate = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(once == again, "sampling must be a pure function of (id, rate)")
    // rate accuracy per source (binomial tolerance on a small corpus)
    val bySrc = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val keptBySrc = Mixture.sampleByHash(docs, "doc_id", "source", rates, 0.5)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Seq("src0" -> 0.2, "src1" -> 0.8).foreach { case (src, r) =>
      val frac = keptBySrc.getOrElse(src, 0L).toDouble / bySrc(src)
      assert(math.abs(frac - r) < 0.25, s"$src kept $frac, wanted ~$r")
    }
    // rate 0 and 1 are exact
    val extremes = Mixture.sampleByHash(docs, "doc_id", "source",
      Map("src0" -> 0.0), defaultRate = 1.0)
    assert(extremes.filter(col("source") === "src0").count() == 0)
    assert(extremes.count() == docs.filter(col("source") =!= "src0").count())
  }

  test("greedy packing respects the token budget and covers every doc") {
    import graft.dedup.Mixture
    import graft.functions.TextFunctions
    val withTokens = docs.select(col("doc_id"),
      org.apache.spark.sql.functions.size(TextFunctions.tokens(col("text"))).as("n_tokens"))
    val packed = Mixture.packGreedy(withTokens, "doc_id", "n_tokens",
      budget = 512, partitions = 4)
    val rows = packed.collect()
    assert(rows.length == withTokens.count(), "every doc must be packed")
    val perPack = rows.groupBy(_.getAs[Long]("pack_id"))
      .view.mapValues(_.map(_.getAs[Int]("n_tokens").toLong).sum).toMap
    perPack.foreach { case (pack, total) =>
      assert(total <= 512 || rows.count(_.getAs[Long]("pack_id") == pack) == 1,
        s"pack $pack holds $total tokens")
    }
    // packs are dense enough to be useful (greedy, not one-per-doc)
    assert(perPack.size < rows.length / 2)
    // deterministic across runs
    val again = Mixture.packGreedy(withTokens, "doc_id", "n_tokens", 512, 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(again == rows.map(r => (r.getLong(0), r.getLong(2))).toSet)
  }

  test("greedy packing is a function of the rows past the range-sampling size") {
    import graft.dedup.Mixture
    // 5,000 rows in ONE input split: more than the ~1,200 rows a range
    // partitioner samples per split for 4 partitions, so sampled bounds
    // would move with the RDD id from one execution to the next
    val big = spark.range(0, 5000, 1, 1).select(col("id").as("doc_id"),
      (col("id") % 97 + 1).cast("int").as("n_tokens"))
    def packs(): Set[(Long, Long)] =
      Mixture.packGreedy(big, "doc_id", "n_tokens", budget = 512, partitions = 4)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val first = packs()
    assert(first.size == 5000)
    assert(packs() == first)
  }

  test("greedy packing under a REAL BPE subword budget") {
    import graft.dedup.Mixture
    import graft.functions.TextFunctions
    // the budget column trainers denominate in: BPE subword counts,
    // not whitespace/regex words — same packing contract must hold
    val withBpe = docs.select(col("doc_id"),
      TextFunctions.bpeTokenCount(col("text")).as("n_bpe"))
    val packed = Mixture.packGreedy(withBpe, "doc_id", "n_bpe",
      budget = 768, partitions = 4)
    val rows = packed.collect()
    assert(rows.length == withBpe.count(), "every doc must be packed")
    // packGreedy normalizes the budget column name to n_tokens
    val perPack = rows.groupBy(_.getAs[Long]("pack_id"))
      .view.mapValues(_.map(_.getAs[Int]("n_tokens").toLong).sum).toMap
    perPack.foreach { case (pack, total) =>
      assert(total <= 768 || rows.count(_.getAs[Long]("pack_id") == pack) == 1,
        s"pack $pack holds $total BPE tokens")
    }
    // subword counts exceed word counts (merges never cross words),
    // so the BPE packing is strictly tighter than the word packing
    val words = docs.select(col("doc_id"),
      org.apache.spark.sql.functions.size(
        TextFunctions.tokens(col("text"))).as("n_words"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { r =>
      assert(r.getAs[Int]("n_tokens") >= words(r.getAs[Long]("doc_id")))
    }
  }

  test("lsh ANN ranks a planted identical vector first with score 1.0") {
    val e = Tables.embeddings(spark, sf)
    val withCopy = e.unionByName(
      e.filter(col("vec_id") === 3L).withColumn("vec_id", lit(1000003L)))
    val top = Ann.lshTopK(withCopy, "vec_id", "embedding",
        withCopy.filter(col("vec_id") === 3L), k = 1)
      .collect()
    assert(top.length == 1)
    assert(top.head.getAs[Long]("nn") == 1000003L)
    assert(top.head.getAs[Double]("score") == 1.0)
  }

  test("ivf ANN ranks a planted identical vector first and recalls well") {
    val e = Tables.embeddings(spark, sf)
    val withCopy = e.unionByName(
      e.filter(col("vec_id") === 3L).withColumn("vec_id", lit(1000003L)))
    val top = Ann.ivfTopK(withCopy, "vec_id", "embedding",
        withCopy.filter(col("vec_id") === 3L), k = 1)
      .collect()
    assert(top.length == 1 && top.head.getAs[Long]("nn") == 1000003L)
    assert(top.head.getAs[Double]("score") == 1.0)
    // recall vs brute force over a probe sample (nprobe=8 of ~22 lists)
    val q = e.filter(col("vec_id") < 10)
    val brute = Ann.bruteTopK(e, "vec_id", "embedding", q, k = 1)
      .select("qid", "nn").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Ann.ivfTopK(e, "vec_id", "embedding", q, k = 1, nprobe = 8)
      .select("qid", "nn").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((brute intersect ivf).size >= 5,
      s"ivf recall too low: ${(brute intersect ivf).size}/10")
  }

  test("lsh ANN agrees with brute force on bucket-colliding neighbors") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 10)
    val brute = Ann.bruteTopK(e, "vec_id", "embedding", q, k = 50)
      .select("qid", "nn").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Ann.lshTopK(e, "vec_id", "embedding", q, k = 5)
      .select("qid", "nn").collect().map(r => (r.getLong(0), r.getLong(1)))
    // every LSH hit must be a genuine neighbor pair (precision check);
    // recall is probabilistic so only sanity-checked as non-trivial
    assert(lsh.nonEmpty)
  }

  test("decontamination flags every planted eval-set leak") {
    val rows = SparkEntry.queries("dd_decontam")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the five planted leaks (eval docs 100-104 prefixed with one
    // token, ids +2e6) must all surface with ≥1 shared 8-gram
    (2000100L to 2000104L).foreach { id =>
      assert(rows.contains(id) && rows(id) >= 1, s"leak $id not flagged: $rows")
    }
    // and an eval doc with m tokens shares exactly m-7 complete
    // windows with its leaked copy unless another doc also overlaps
    assert(rows.values.forall(_ >= 1))
  }

  /** substringSpans (ExactSubstr, Lee et al. 2021) ground truth:
    * planted shared runs with known positions → exact span shapes. */
  test("exact-substring spans: planted shared runs merge to the right spans") {
    import spark.implicits._
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => f"$prefix$i%03d").mkString(" ")
    val shared20 = words("sh", 20)   // 20-token run shared by a & b
    val chunkA = words("ca", 16)     // two separated shared chunks c & d
    val chunkB = words("cb", 16)
    val corpus = Seq(
      // a: shared run at positions 11..30 of a 40-token doc
      (1L, words("ua", 10) + " " + shared20 + " " + words("va", 10)),
      // b: the same run at positions 1..20 of a 30-token doc
      (2L, shared20 + " " + words("vb", 10)),
      // c/d: chunkA then 20 unique tokens then chunkB — two islands
      (3L, chunkA + " " + words("uc", 20) + " " + chunkB),
      (4L, chunkA + " " + words("ud", 20) + " " + chunkB),
      // e: INTRA-doc repetition only (the 16-gram repeats inside one
      // doc, no other doc has it) — must NOT count (minDocs=2 docs)
      (5L, words("ee", 16) + " " + words("ee", 16)),
      // f: unique — absent from the output
      (6L, words("ff", 40))
    ).toDF("doc_id", "text")
    val out = Dedup.substringSpans(corpus, "doc_id", "text",
        w = 16, minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // a: dup windows start 11..15 (w=16 inside the 20 shared tokens)
    //    → one span covering tokens 11..30 = 20 tokens of 40
    assert(out(1L) == ((1L, 20L, 40L)), s"a: ${out.get(1L)}")
    // b: starts 1..5 → span tokens 1..20 = 20 of 30
    assert(out(2L) == ((1L, 20L, 30L)), s"b: ${out.get(2L)}")
    // c,d: two 16-token islands separated by 20 unique tokens
    assert(out(3L) == ((2L, 32L, 52L)), s"c: ${out.get(3L)}")
    assert(out(4L) == ((2L, 32L, 52L)), s"d: ${out.get(4L)}")
    // e (intra-doc only) and f (unique) never appear
    assert(!out.contains(5L) && !out.contains(6L))
  }

  test("entity match: prefix filtering recovers every planted typo exactly once") {
    import spark.implicits._
    // the q-gram prefix scheme's recall guarantee: one substitution
    // destroys ≤ 3 grams, so each 1-edit pair shares ≥ 1 of the
    // master's 4 rarest — every planted dirty record must resolve to
    // its own clean key at dist 1 (an arbitrary df-cut measured 6/21)
    val out = SparkEntry.queries("dd_entity_match")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.length == 21, s"expected 21 planted matches, got ${out.length}")
    out.foreach { case (dk, ck, dist) =>
      assert(dk == ck + 1000000L && dist == 1, s"bad match ($dk, $ck, $dist)")
    }
  }

  test("pagerank: mass conservation, symmetry, and centrality order") {
    import spark.implicits._
    // star 1-{2,3,4} plus disjoint clique {10,11,12}
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L),
      (10L, 11L), (10L, 12L), (11L, 12L))
      .toDF("doc_a", "doc_b")
    val r = graft.dedup.Dedup.pagerank(pairs, iters = 3)
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(r.size == 7)
    // stochastic + teleport: total rank mass stays ~1 (9-dp rounding
    // slack per node per round)
    val mass = r.values.sum
    assert(math.abs(mass - 1.0) < 1e-6 * r.size * 3,
      s"rank mass drifted: $mass")
    // symmetric positions get identical ranks
    assert(r(2L) == r(3L) && r(3L) == r(4L), s"star leaves differ: $r")
    assert(r(10L) == r(11L) && r(11L) == r(12L), s"clique members differ: $r")
    // the hub out-ranks its leaves
    assert(r(1L) > r(2L), s"star center ${r(1L)} !> leaf ${r(2L)}")
  }

  test("pagerank: deep iteration runs on truncated lineage, same invariants") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L),
      (10L, 11L), (10L, 12L), (11L, 12L))
      .toDF("doc_a", "doc_b")
    // past the shallow-loop cutoff each round rebuilds from its
    // materialized RDD: the final pre-checkpoint frame must be a leaf,
    // not a 10-deep join chain (which planned in seconds per round at
    // sf0.1 in the clusters() measurement)
    var nodes = -1
    val r = graft.dedup.Dedup.pagerankImpl(pairs, iters = 10,
        Some(n => nodes = n))
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(nodes >= 1 && nodes <= 5,
      s"deep-loop plan not truncated: $nodes optimized nodes")
    assert(r.size == 7)
    val mass = r.values.sum
    assert(math.abs(mass - 1.0) < 1e-6 * r.size * 10,
      s"rank mass drifted at iters=10: $mass")
    assert(r(1L) > r(2L), "centrality order lost at deep iteration")
    // shallow loops keep the direct chain: the probe sees a DEEP plan
    var shallowNodes = -1
    graft.dedup.Dedup.pagerankImpl(pairs, iters = 3,
      Some(n => shallowNodes = n)).collect()
    assert(shallowNodes > 5,
      s"3-round plan unexpectedly truncated ($shallowNodes nodes) — " +
        "the gate's lineage shape changed")
  }

  test("semdedup: every planted paraphrase drops to its original; no original drops") {
    import TestSpark.sf
    val b = Tables.PlantedIdBase
    val out = SparkEntry.queries("dd_semdedup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected =
      (0L until 5L).flatMap(v => Seq((v + b, v), (v + 2 * b, v))).toSet ++
        (5L until 10L).map(v => (v + 3 * b, v)).toSet
    assert(out == expected,
      s"drop list diverged: extra=${out.diff(expected)} missing=${expected.diff(out)}")
    // keeper invariants: keepers are originals, never themselves dropped
    assert(out.forall { case (dropped, keeper) =>
      dropped >= b && keeper < b && !out.exists(_._1 == keeper) })
  }

  test("pagerank: empty pair graph returns the empty frame, no Infinity seed") {
    import spark.implicits._
    val r = graft.dedup.Dedup.pagerank(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))
    assert(r.columns.toSeq == Seq("doc_id", "degree", "rank"))
    assert(r.count() == 0)
  }
}
