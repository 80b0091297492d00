package graft

import graft.kv.Catalog
import graft.index.FullText
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Segment+tombstone incremental maintenance of analytic indexes —
  * the Lucene segment model (reference index/lucene/LuceneIndexTable.kt,
  * HBaseDirectory.kt: the writer appends segments per commit; readers
  * see base+segments): a one-file CDC merge appends a patch-sized
  * postings/bitmap segment instead of rebuilding from the corpus, the
  * read view folds base+segments−tombstones, compact_index folds the
  * stack back into one base, and vacuum reclaims dead segments. */
class SegmentedIndexSpec extends AnyFunSuite {
  import TestSpark._

  private val schema = StructType(Seq(
    StructField("k", LongType, false),
    StructField("seg", StringType, true),
    StructField("body", StringType, true)))

  private def freshCat(tag: String): (Catalog, String) = {
    val wh = Files.createTempDirectory(s"graft_${tag}_wh").toString
    (new Catalog(spark, wh), wh)
  }

  private def rebuildPostings(cat: Catalog, table: String): DataFrame =
    FullText.buildPostings(cat.table(table).df, "k", "body")

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Recursive dir copy (crash-simulation fixtures). */
  private def copyDir(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    Files.createDirectories(dst)
    val s = Files.list(src)
    try {
      val it = s.iterator()
      while (it.hasNext) {
        val p = it.next()
        if (Files.isDirectory(p)) copyDir(p, dst.resolve(p.getFileName.toString))
        else Files.copy(p, dst.resolve(p.getFileName.toString)): Unit
      }
    } finally s.close()
  }

  test("fulltext stays FRESH through merges via patch-sized segments; base untouched") {
    import spark.implicits._
    val (cat, wh) = freshCat("segft")
    cat.createTable("t", schema, Seq("k"))
    cat.bulkLoad("t",
      (0L until 2000L).map(i => (i, s"s${i % 3}", s"alpha bravo doc$i"))
        .toDF("k", "seg", "body"), partitions = 4)
    cat.createIndex("t", "ft", "fulltext", Seq("body"))
    val baseDir = Paths.get(wh, "t.fulltext.ft", "data")
    val baseFiles = {
      val s = java.nio.file.Files.list(baseDir)
      try {
        val it = s.iterator(); var out = Map.empty[String, Long]
        while (it.hasNext) { val p = it.next()
          out += (p.getFileName.toString ->
            java.nio.file.Files.getLastModifiedTime(p).toMillis) }
        out
      } finally s.close()
    }

    // CDC trickle: doc 5 rewritten, doc 9001 new
    cat.incrementalMerge("t",
      Seq((5L, "sX", "charlie delta"), (9001L, "sX", "echo charlie"))
        .toDF("k", "seg", "body"))

    // fresh WITHOUT a rebuild: segment + tombstone dirs appeared,
    // the base postings dir is byte-untouched
    assert(cat.indexStatus("t", "ft", "fulltext") == "FRESH")
    val v = cat.dataVersionOf("t")
    assert(Files.exists(Paths.get(wh, "t.fulltext.ft", s"seg_v$v")))
    assert(Files.exists(Paths.get(wh, "t.fulltext.ft", s"tomb_v$v")))
    assert(Files.exists(Paths.get(wh, "t.fulltext.ft", s"dictdelta_v$v")))
    val afterFiles = {
      val s = java.nio.file.Files.list(baseDir)
      try {
        val it = s.iterator(); var out = Map.empty[String, Long]
        while (it.hasNext) { val p = it.next()
          out += (p.getFileName.toString ->
            java.nio.file.Files.getLastModifiedTime(p).toMillis) }
        out
      } finally s.close()
    }
    assert(afterFiles == baseFiles, "base index dir was rewritten by a CDC merge")

    // the segmented view == a from-scratch rebuild of the live table
    val view = cat.indexData("t", "ft", "fulltext")
    assert(sortedRows(view) == sortedRows(rebuildPostings(cat, "t")))
    // doc 5's OLD terms are masked, new terms visible
    assert(view.filter($"term" === "doc5").count() == 0)
    assert(view.filter($"term" === "charlie").select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(5L, 9001L))
    // dictionary view folds the df deltas exactly
    val dictView = cat.indexDictionary("t", "ft", "fulltext")
      .select($"term", $"df".cast("long"))
    val dictRebuild = FullText.buildDictionary(rebuildPostings(cat, "t"))
      .select($"term", $"df".cast("long"))
    assert(sortedRows(dictView) == sortedRows(dictRebuild))
  }

  test("a fulltext index named like a kv index keeps its own analyzer") {
    import spark.implicits._
    val (cat, _) = freshCat("samename")
    cat.createTable("t", schema, Seq("k"))
    cat.bulkLoad("t",
      (0L until 50L).map(i => (i, s"s${i % 3}", s"the readers joined group$i"))
        .toDF("k", "seg", "body"), partitions = 2)
    // one name under two types: the kv entry comes first in the registry
    cat.createIndex("t", "x", "kv", Seq("seg"))
    cat.createIndex("t", "x", "fulltext", Seq("body"), analyzer = "english")
    assert(cat.indexAnalyzer("t", "x", "fulltext") == "english")
    // the CDC segment and the driver query both take the english chain,
    // so a stemmed variant finds the merged doc
    cat.incrementalMerge("t", Seq((9001L, "sX", "sparks fly")).toDF("k", "seg", "body"))
    assert(cat.indexStatus("t", "x", "fulltext") == "FRESH")
    assert(cat.driverFtSearch("t", "x", Seq("sparking")) == Seq(9001L))
    cat.refreshIndex("t", "x", "fulltext")
    assert(cat.driverFtSearch("t", "x", Seq("sparking")) == Seq(9001L))
    // dropping one type leaves the other's entry
    cat.dropIndex("t", "x", "kv")
    assert(cat.indexesOf("t").map(i => (i._1, i._2)) == Seq(("x", "FULLTEXT")))
    assert(cat.driverFtSearch("t", "x", Seq("sparking")) == Seq(9001L))
  }

  test("english-analyzed fulltext stays CDC-fresh: segments use the index's analyzer") {
    import spark.implicits._
    val (cat, _) = freshCat("anseg")
    cat.createTable("t", schema, Seq("k"))
    cat.bulkLoad("t",
      (0L until 500L).map(i => (i, s"s${i % 3}", s"the readers joined group$i"))
        .toDF("k", "seg", "body"), partitions = 4)
    cat.createIndex("t", "aft", "fulltext", Seq("body"), analyzer = "english")
    assert(cat.indexAnalyzer("t", "aft", "fulltext") == "english")

    // base build: stopwords absent, suffixes stemmed
    val view0 = cat.indexData("t", "aft", "fulltext")
    assert(view0.filter($"term" === "the").count() == 0)
    assert(view0.filter($"term" === "readers").count() == 0)
    assert(view0.filter($"term" === "reader").count() == 500)
    assert(view0.filter($"term" === "join").count() == 500)

    // CDC merge: the segment must be built with the SAME analyzer —
    // "sparking" arrives only via stemming, "the" must not appear
    cat.incrementalMerge("t",
      Seq((5L, "sX", "the sparking engines"), (9001L, "sX", "sparks fly"))
        .toDF("k", "seg", "body"))
    assert(cat.indexStatus("t", "aft", "fulltext") == "FRESH")
    val view = cat.indexData("t", "aft", "fulltext")
    assert(view.filter($"term" === "the").count() == 0)
    assert(view.filter($"term" === "spark").select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(5L, 9001L))
    // doc 5's pre-merge analyzed terms are masked
    assert(view.filter($"term" === "reader" && $"doc_id" === 5L).count() == 0)

    // segmented view == analyzed rebuild of the live table (postings
    // AND the delta-folded dictionary)
    val rebuilt = FullText.buildPostings(cat.table("t").df, "k", "body",
      analyzer = "english")
    assert(sortedRows(view) == sortedRows(rebuilt))
    val dictView = cat.indexDictionary("t", "aft", "fulltext")
      .select($"term", $"df".cast("long"))
    val dictRebuild = FullText.buildDictionary(rebuilt)
      .select($"term", $"df".cast("long"))
    assert(sortedRows(dictView) == sortedRows(dictRebuild))

    // analyzed search end-to-end: morphological variants match, a
    // stopword query term imposes no constraint
    val hits = FullText.searchAllAnalyzed(cat.table("t").df, "k", view,
        Seq("the", "sparks"), "english")
      .select($"k").collect().map(_.getLong(0)).toSet
    assert(hits == Set(5L, 9001L))
    // refresh_index rebuilds with the analyzer too
    cat.refreshIndex("t", "aft", "fulltext")
    assert(sortedRows(cat.indexData("t", "aft", "fulltext")) ==
      sortedRows(rebuilt))
  }

  test("analyzed phrase search: stems match, stopword holes keep their position") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick fox jumped over the dog today"), // stopword holes
      (2L, "quick foxes jumping over lazy dogs"),      // jumping→jump, dogs→dog;
                                                       // "lazy" fills the hole
      (3L, "quick fox over jumped lazy dog"),          // right terms, wrong order
      (4L, "jumped over dog"),                         // missing the stopword GAP:
                                                       // dog would sit at +2 not +3
      (5L, "completely unrelated text")
    ).toDF("doc_id", "body")
    val pos = FullText.buildPositional(docs, "doc_id", "body", analyzer = "english")

    // "jumped over the dog" analyzes to jump@0 over@1 _the_ dog@3: doc 1
    // has jump/over/dog at exactly those relative offsets (hole where
    // "the" was), doc 2 matches via stemming, doc 4 fails because its
    // dog sits one position too early (no stopword hole)
    val hits = FullText.searchPhraseAnalyzed(docs, "doc_id", pos,
        "jumped over the dog", "english")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(hits == Set(1L, 2L))

    // leading stopword: surviving offsets are RELATIVE to the first
    // survivor, so "the quick fox" == "quick fox"
    // (doc 2 is out: the bounded stemmer maps "foxes"→"foxe" ≠ "fox")
    val lead = FullText.searchPhraseAnalyzed(docs, "doc_id", pos,
        "the quick fox", "english")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(lead == Set(1L, 3L))

    // standard analyzer delegates to the exact positional match
    val stdPos = FullText.buildPositional(docs, "doc_id", "body")
    val std = FullText.searchPhraseAnalyzed(docs, "doc_id", stdPos,
        "quick fox", "standard")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(std == Set(1L, 3L))

    // an all-stopword phrase can't constrain anything — fail loudly
    intercept[IllegalArgumentException] {
      FullText.searchPhraseAnalyzed(docs, "doc_id", pos, "the and of", "english")
    }
  }

  test("driver-built segments are row-identical to Spark-built ones") {
    import spark.implicits._
    // same table + same merge through both build paths: the driver
    // fast path (bounded patch, default) and the Spark path (forced
    // via driverSegmentMaxRows=0) must produce identical postings,
    // positional, dictionary and search views
    def run(tag: String, forceSpark: Boolean): (Seq[String], Seq[String], Seq[String]) = {
      val (cat, _) = freshCat(tag)
      cat.createTable("t", schema, Seq("k"))
      cat.bulkLoad("t",
        (0L until 300L).map(i => (i, s"s${i % 3}", s"the readers joined group$i"))
          .toDF("k", "seg", "body"), partitions = 2)
      cat.createIndex("t", "ft", "fulltext", Seq("body"), analyzer = "english")
      val old = spark.conf.getOption("spark.graft.index.driverSegmentMaxRows")
      if (forceSpark) spark.conf.set("spark.graft.index.driverSegmentMaxRows", "0")
      try
        cat.incrementalMerge("t",
          Seq((5L, "sX", "the sparking engines"), (9001L, "sX", "sparks fly"))
            .toDF("k", "seg", "body"))
      finally {
        if (forceSpark) old match {
          case Some(v) => spark.conf.set("spark.graft.index.driverSegmentMaxRows", v)
          case None => spark.conf.unset("spark.graft.index.driverSegmentMaxRows")
        }
      }
      (sortedRows(cat.indexData("t", "ft", "fulltext")),
        sortedRows(cat.indexPositional("t", "ft", "fulltext")),
        sortedRows(cat.indexDictionary("t", "ft", "fulltext")
          .select($"term", $"df".cast("long"))))
    }
    val (p1, pos1, d1) = run("drvseg", forceSpark = false)
    val (p2, pos2, d2) = run("spkseg", forceSpark = true)
    assert(p1 == p2, "postings views diverge between build paths")
    assert(pos1 == pos2, "positional views diverge between build paths")
    assert(d1 == d2, "dictionary views diverge between build paths")
  }

  test("multi-segment stack: re-updating a doc across merges keeps last-writer-wins") {
    import spark.implicits._
    val (cat, _) = freshCat("segstack")
    cat.createTable("t", schema, Seq("k"))
    cat.bulkLoad("t",
      (0L until 500L).map(i => (i, "s", s"alpha doc$i")).toDF("k", "seg", "body"))
    cat.createIndex("t", "ft", "fulltext", Seq("body"))
    cat.incrementalMerge("t", Seq((5L, "s", "bravo bravo")).toDF("k", "seg", "body"))
    cat.incrementalMerge("t", Seq((5L, "s", "charlie"), (6L, "s", "bravo"))
      .toDF("k", "seg", "body"))

    val view = cat.indexData("t", "ft", "fulltext")
    // doc 5: only its LAST image's terms survive (seg_v1's bravo is
    // tombstoned by v2; base's alpha/doc5 tombstoned by v1 and v2)
    assert(view.filter($"doc_id" === 5L).select("term")
      .collect().map(_.getString(0)).toSet == Set("charlie"))
    assert(view.filter($"term" === "bravo").select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(6L))
    assert(sortedRows(view) == sortedRows(rebuildPostings(cat, "t")))
    // fulltext search green against the segmented index
    val hits = FullText.searchAll(cat.table("t").df, "k", view, Seq("charlie"))
    assert(hits.select("k").collect().map(_.getLong(0)).toSet == Set(5L))
    val dict = cat.indexDictionary("t", "ft", "fulltext")
    val ranked = FullText.tfidfTopK(view, dict, cat.table("t").df.count(),
      Seq("bravo", "charlie"), 5)
    assert(ranked.select("doc_id").collect().map(_.getLong(0)).toSet == Set(5L, 6L))
  }

  test("bitmap stays FRESH through merges; folded view == rebuild; compact+vacuum fold the stack") {
    import spark.implicits._
    val (cat, wh) = freshCat("segbm")
    cat.createTable("t", schema, Seq("k"))
    cat.bulkLoad("t",
      (0L until 2000L).map(i => (i, s"s${i % 3}", "b")).toDF("k", "seg", "body"))
    cat.createIndex("t", "bm", "bitmap", Seq("seg"))

    // k=5 moves s2->sX; k=9001 arrives with sX
    cat.incrementalMerge("t",
      Seq((5L, "sX", "b"), (9001L, "sX", "b")).toDF("k", "seg", "body"))
    assert(cat.indexStatus("t", "bm", "bitmap") == "FRESH")

    def ids(df: DataFrame, v: String): Set[Long] =
      graft.index.BitmapIndex.lookupIds(df, v)
        .collect().map(_.getLong(0)).toSet
    val view = cat.indexData("t", "bm", "bitmap")
    assert(ids(view, "sX") == Set(5L, 9001L))
    assert(!ids(view, "s2").contains(5L) && ids(view, "s2").contains(2L))
    // folded view == a from-scratch rebuild, value by value
    val rebuilt = graft.index.BitmapIndex.build(cat.table("t").df, "k", "seg")
    Seq("s0", "s1", "s2", "sX").foreach { v =>
      assert(ids(view, v) == ids(rebuilt, v), s"value $v differs from rebuild")
    }

    // compact_index folds segments into a new base; vacuum reclaims them
    cat.compactIndex("t", "bm", "bitmap")
    val live = cat.dataVersionOf("t")
    assert(Files.exists(Paths.get(wh, "t.bitmap.bm", s"data_v$live")))
    cat.vacuum("t", graceMs = 0L)
    assert(!Files.exists(Paths.get(wh, "t.bitmap.bm", s"seg_v$live")),
      "dead segment survived vacuum after compact_index")
    val afterCompact = cat.indexData("t", "bm", "bitmap")
    Seq("s0", "s1", "s2", "sX").foreach { v =>
      assert(ids(afterCompact, v) == ids(rebuilt, v), s"post-compact $v differs")
    }
  }

  test("segment stacks auto-fold past the threshold: reads stay bounded under sustained CDC") {
    import spark.implicits._
    val (cat, wh) = freshCat("segauto")
    spark.conf.set("spark.graft.index.autoFoldSegments", "3")
    try {
      cat.createTable("t", schema, Seq("k"))
      cat.bulkLoad("t",
        (0L until 300L).map(i => (i, "s", s"alpha doc$i")).toDF("k", "seg", "body"))
      cat.createIndex("t", "ft", "fulltext", Seq("body"))
      // 5 CDC merges at threshold 3: the stack must fold at least once
      (1 to 5).foreach { i =>
        cat.incrementalMerge("t",
          Seq((i.toLong, "s", s"update$i round")).toDF("k", "seg", "body"))
      }
      val idxDir = java.nio.file.Paths.get(wh, "t.fulltext.ft")
      val names = {
        val s = java.nio.file.Files.list(idxDir)
        try {
          val it = s.iterator(); var out = List.empty[String]
          while (it.hasNext) out ::= it.next().getFileName.toString
          out
        } finally s.close()
      }
      // a folded base exists and the LIVE stack depth is < threshold
      assert(names.exists(_.startsWith("data_v")), s"no folded base in $names")
      val baseVer = names.filter(_.startsWith("data_v"))
        .map(_.stripPrefix("data_v").toInt).max
      val liveSegs = names.filter(_.startsWith("seg_v"))
        .map(_.stripPrefix("seg_v").toInt)
        .count(v => v > baseVer && v <= cat.dataVersionOf("t"))
      assert(liveSegs < 3, s"stack not folded: $liveSegs live segments")
      // and the view still equals a from-scratch rebuild
      assert(sortedRows(cat.indexData("t", "ft", "fulltext")) ==
        sortedRows(rebuildPostings(cat, "t")))
      assert(cat.indexData("t", "ft", "fulltext")
        .filter($"term" === "update5").select("doc_id")
        .collect().map(_.getLong(0)).toSet == Set(5L))
    } finally spark.conf.unset("spark.graft.index.autoFoldSegments")
  }

  test("unorderable (map-typed) non-key columns fall back to a single arbitrary winner") {
    import spark.implicits._
    val (cat, _) = freshCat("segmap")
    val mapSchema = StructType(Seq(
      StructField("k", LongType, false),
      StructField("attrs", MapType(StringType, StringType), true)))
    cat.createTable("m", mapSchema, Seq("k"))
    val staged = cat.stagingPath("m")
    Seq((1L, Map("a" -> "1")), (1L, Map("a" -> "2")), (2L, Map("b" -> "3")))
      .toDF("k", "attrs").write.parquet(staged)
    // max(struct(map)) would analysis-fail; the fallback must both
    // dedup (one row per key) and succeed
    cat.upsertStaged("m", staged)
    val rows = cat.table("m").df.orderBy("k").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("term filters push into BOTH base and segment scans of the segmented view") {
    import spark.implicits._
    val (cat, _) = freshCat("segpush")
    cat.createTable("t", schema, Seq("k"))
    cat.bulkLoad("t",
      (0L until 500L).map(i => (i, "s", s"alpha doc$i")).toDF("k", "seg", "body"))
    cat.createIndex("t", "ft", "fulltext", Seq("body"))
    cat.incrementalMerge("t", Seq((5L, "s", "bravo")).toDF("k", "seg", "body"))
    // the view is union(base, seg) ⟕̸ tombstones; a term predicate must
    // still reach every parquet postings scan (term-sorted files →
    // row-group pruning, the FST-seek analog) — if the anti-join or
    // union blocked pushdown, every search would scan full postings
    val plan = cat.indexData("t", "ft", "fulltext")
      .filter($"term" === "alpha").queryExecution.executedPlan.toString
    val pushed = "EqualTo\\(term,alpha\\)".r.findAllIn(plan).size
    assert(pushed >= 2, s"term filter not pushed to both scans:\n$plan")
  }

  test("compact_index on a STALE stack folds to the as-of version and stays stale") {
    import spark.implicits._
    val (cat, wh) = freshCat("segstale")
    cat.createTable("t", schema, Seq("k"))
    cat.bulkLoad("t",
      (0L until 300L).map(i => (i, "s", s"alpha doc$i")).toDF("k", "seg", "body"))
    cat.createIndex("t", "ft", "fulltext", Seq("body"))
    cat.incrementalMerge("t", Seq((5L, "s", "bravo")).toDF("k", "seg", "body"))
    val asOf = cat.dataVersionOf("t")
    val asOfView = sortedRows(cat.indexData("t", "ft", "fulltext"))
    // bulk write AFTER the segment stack: index goes stale at asOf
    cat.bulkLoad("t",
      (0L until 300L).map(i => (i, "s", s"charlie doc$i")).toDF("k", "seg", "body"))
    assert(cat.indexStatus("t", "ft", "fulltext") == s"STALE@v$asOf")

    // the fold must NOT relabel the v-asOf content as live-fresh
    cat.compactIndex("t", "ft", "fulltext")
    assert(cat.indexStatus("t", "ft", "fulltext") == s"STALE@v$asOf",
      "compact_index wrongly freshened a stale index")
    assert(Files.exists(Paths.get(wh, "t.fulltext.ft", s"data_v$asOf")))
    assert(!Files.exists(Paths.get(wh, "t.fulltext.ft",
      s"data_v${cat.dataVersionOf("t")}")))
    // folded view == the pre-fold segmented view (same content version)
    assert(sortedRows(cat.indexData("t", "ft", "fulltext")) == asOfView)
    // refresh then brings it truly fresh
    cat.refreshIndex("t", "ft", "fulltext")
    assert(cat.indexStatus("t", "ft", "fulltext") == "FRESH")
    assert(cat.indexData("t", "ft", "fulltext")
      .filter($"term" === "charlie").count() > 0)
  }

  test("segments beyond the published version are invisible and vacuum-reclaimed") {
    import spark.implicits._
    val (cat, wh) = freshCat("segorphan")
    cat.createTable("t", schema, Seq("k"))
    cat.bulkLoad("t",
      (0L until 300L).map(i => (i, "s", s"alpha doc$i")).toDF("k", "seg", "body"))
    cat.createIndex("t", "ft", "fulltext", Seq("body"))
    cat.incrementalMerge("t", Seq((5L, "s", "bravo")).toDF("k", "seg", "body"))
    // simulate a writer that crashed mid-merge AFTER writing its
    // segment but BEFORE the pointer bump: an orphan seg_v99/tomb_v99
    val idxDir = Paths.get(wh, "t.fulltext.ft")
    Seq(1L).toDF("rk").write.parquet(idxDir.resolve("tomb_v99").toString)
    Seq(("zombie", 1L, 1L)).toDF("term", "doc_id", "tf")
      .write.parquet(idxDir.resolve("seg_v99").toString)
    // lock-free readers resolve bounded by the PUBLISHED version: the
    // orphan is invisible (no zombie term, doc 1's postings intact)
    val view = cat.indexData("t", "ft", "fulltext")
    assert(view.filter($"term" === "zombie").count() == 0)
    assert(view.filter($"doc_id" === 1L).count() > 0)
    // and vacuum reclaims the orphan (version outside (base, live])
    cat.vacuum("t", graceMs = 0L)
    assert(!Files.exists(idxDir.resolve("seg_v99")))
    assert(!Files.exists(idxDir.resolve("tomb_v99")))
    // the LIVE segment survives the same vacuum
    assert(Files.exists(idxDir.resolve(s"seg_v${cat.dataVersionOf("t")}")))
  }

  test("compact_index folds fulltext via CALL; view unchanged; segments reclaimed") {
    import spark.implicits._
    val (cat, wh) = freshCat("segcall")
    spark.conf.set("spark.sql.catalog.gseg",
      classOf[graft.kv.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gseg.warehouse", wh)
    cat.createTable("t", schema, Seq("k"))
    cat.bulkLoad("t",
      (0L until 500L).map(i => (i, "s", s"alpha doc$i")).toDF("k", "seg", "body"))
    cat.createIndex("t", "ft", "fulltext", Seq("body"))
    cat.incrementalMerge("t", Seq((5L, "s", "bravo")).toDF("k", "seg", "body"))
    val before = sortedRows(cat.indexData("t", "ft", "fulltext"))

    spark.sql("CALL gseg.system.compact_index('t', 'ft', 'fulltext')")
    val live = cat.dataVersionOf("t")
    assert(Files.exists(Paths.get(wh, "t.fulltext.ft", s"data_v$live")))
    assert(Files.exists(Paths.get(wh, "t.fulltext.ft", s"dict_v$live")))
    cat.vacuum("t", graceMs = 0L)
    assert(!Files.exists(Paths.get(wh, "t.fulltext.ft", s"seg_v$live")))
    assert(!Files.exists(Paths.get(wh, "t.fulltext.ft", s"tomb_v$live")))
    assert(!Files.exists(Paths.get(wh, "t.fulltext.ft", s"dictdelta_v$live")))
    assert(sortedRows(cat.indexData("t", "ft", "fulltext")) == before)
    assert(sortedRows(cat.indexDictionary("t", "ft", "fulltext")
        .select($"term", $"df".cast("long"))) ==
      sortedRows(FullText.buildDictionary(rebuildPostings(cat, "t"))
        .select($"term", $"df".cast("long"))))
  }

  test("a crashed fold's orphan dict does not wedge the next fold") {
    import spark.implicits._
    val (cat, wh) = freshCat("foldcrash")
    cat.createTable("t", schema, Seq("k"))
    cat.bulkLoad("t",
      (0L until 300L).map(i => (i, "s0", s"alpha beta doc$i")).toDF("k", "seg", "body"),
      partitions = 2)
    cat.createIndex("t", "ft", "fulltext", Seq("body"))
    cat.incrementalMerge("t", Seq((7L, "sX", "gamma delta")).toDF("k", "seg", "body"))
    val live = cat.dataVersionOf("t")
    val idxDir = Paths.get(wh, "t.fulltext.ft")
    assert(Files.exists(idxDir.resolve(s"seg_v$live")))
    // simulate: a prior fold wrote dict_v(live) — folding the deltas —
    // then died before data_v(live). Without healing, the next fold's
    // dictSegView resolves this orphan as its own base and the dict
    // write reads from its own output path, failing every retry.
    copyDir(idxDir.resolve("dict"), idxDir.resolve(s"dict_v$live"))
    cat.compactIndex("t", "ft", "fulltext")
    assert(Files.exists(idxDir.resolve(s"data_v$live")))
    assert(sortedRows(cat.indexData("t", "ft", "fulltext")) ==
      sortedRows(rebuildPostings(cat, "t")))
    assert(sortedRows(cat.indexDictionary("t", "ft", "fulltext")
        .select($"term", $"df".cast("long"))) ==
      sortedRows(FullText.buildDictionary(rebuildPostings(cat, "t"))
        .select($"term", $"df".cast("long"))))
  }

  test("a fold interrupted between its dict and data renames leaves the old triple live") {
    // The fold's crash-ordering CONTRACT (now that the auto-fold and
    // compact_index both ride stage→fence→rename): dict and pos take
    // their final names strictly BEFORE data, so an interruption
    // between any two renames leaves the OLD data base live with a
    // consistent view — the dict/pos families self-pair (each folds
    // its own deltas above its own base), the data family still folds
    // base+segments, and the next fold's healing preamble deletes the
    // orphaned siblings before converging.
    import spark.implicits._
    val (cat, wh) = freshCat("midfold")
    cat.createTable("t", schema, Seq("k"))
    cat.bulkLoad("t",
      (0L until 300L).map(i => (i, "s0", s"alpha beta doc$i")).toDF("k", "seg", "body"),
      partitions = 2)
    cat.createIndex("t", "ft", "fulltext", Seq("body"))
    cat.incrementalMerge("t", Seq((7L, "sX", "gamma delta")).toDF("k", "seg", "body"))
    val live = cat.dataVersionOf("t")
    val idxDir = Paths.get(wh, "t.fulltext.ft")
    assert(Files.exists(idxDir.resolve(s"seg_v$live")), "no segment to fold")
    // run the fold for real, then reproduce the crash point by
    // removing the LAST artifact it renamed: dict_v/pos_v live, data
    // base old, segments still present — exactly the state a crash
    // between the dict/pos renames and the data rename leaves
    cat.compactIndex("t", "ft", "fulltext")
    assert(Files.exists(idxDir.resolve(s"dict_v$live")))
    assert(Files.exists(idxDir.resolve(s"data_v$live")))
    deleteRecursively(idxDir.resolve(s"data_v$live"))
    // the old triple is live: postings fold old base + segments, the
    // dictionary serves the already-folded dict_v (its delta range is
    // empty above its own version) — both equal the rebuild
    assert(sortedRows(cat.indexData("t", "ft", "fulltext")) ==
      sortedRows(rebuildPostings(cat, "t")),
      "mid-fold crash state broke the postings view")
    assert(sortedRows(cat.indexDictionary("t", "ft", "fulltext")
        .select($"term", $"df".cast("long"))) ==
      sortedRows(FullText.buildDictionary(rebuildPostings(cat, "t"))
        .select($"term", $"df".cast("long"))),
      "mid-fold crash state broke the dictionary view")
    assert(cat.indexStatus("t", "ft", "fulltext") == "FRESH")
    // the next fold heals the orphaned siblings and completes
    cat.compactIndex("t", "ft", "fulltext")
    assert(Files.exists(idxDir.resolve(s"data_v$live")),
      "re-fold did not materialize the data base")
    assert(sortedRows(cat.indexData("t", "ft", "fulltext")) ==
      sortedRows(rebuildPostings(cat, "t")))
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try {
        val it = s.iterator()
        while (it.hasNext) deleteRecursively(it.next())
      } finally s.close()
    }
    Files.deleteIfExists(p): Unit
  }

  test("a crashed merge attempt's segments are healed, never served as FRESH") {
    import spark.implicits._
    val (cat, wh) = freshCat("mergecrash")
    cat.createTable("t", schema, Seq("k"))
    cat.bulkLoad("t",
      (0L until 300L).map(i => (i, "s0", s"alpha beta doc$i")).toDF("k", "seg", "body"),
      partitions = 2)
    cat.createIndex("t", "ft", "fulltext", Seq("body"))
    cat.incrementalMerge("t", Seq((7L, "sX", "gamma delta")).toDF("k", "seg", "body"))
    val live = cat.dataVersionOf("t")
    val next = live + 1
    val idxDir = Paths.get(wh, "t.fulltext.ft")
    // simulate a merge attempt toward `next` that appended its segment
    // dirs (content of a DIFFERENT, never-published patch) and bumped
    // the index as-of, then died before the table pointer bump
    Seq("seg_v", "tomb_v", "dictdelta_v").foreach { p =>
      copyDir(idxDir.resolve(s"$p$live"), idxDir.resolve(s"$p$next"))
    }
    val mf = Paths.get(wh, "t", "_graft_meta.json")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(Files.readString(mf))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val idxArr = node.get("indexes")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
    (0 until idxArr.size()).foreach { i =>
      idxArr.get(i).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        .put("asOfVersion", next): Unit
    }
    Files.writeString(mf, om.writeValueAsString(node))
    // the REAL merge toward `next`: without healing, the freshness gate
    // sees as-of == next, skips maintenance, and publishes the dead
    // attempt's segments as FRESH index content
    cat.incrementalMerge("t",
      Seq((9L, "sY", "epsilon zeta")).toDF("k", "seg", "body"))
    assert(cat.dataVersionOf("t") == next)
    assert(cat.indexStatus("t", "ft", "fulltext") == "FRESH")
    val view = cat.indexData("t", "ft", "fulltext")
    assert(sortedRows(view) == sortedRows(rebuildPostings(cat, "t")))
    assert(view.filter($"term" === "epsilon").select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(9L))
  }

  test("positional postings ride segments: phrase search stays fresh; fold collapses the stack") {
    import spark.implicits._
    val (cat, wh) = freshCat("segpos")
    cat.createTable("t", schema, Seq("k"))
    cat.bulkLoad("t",
      (0L until 400L).map(i => (i, "s", s"alpha bravo doc$i")).toDF("k", "seg", "body"))
    cat.createIndex("t", "ft", "fulltext", Seq("body"))
    val idxDir = Paths.get(wh, "t.fulltext.ft")
    assert(Files.exists(idxDir.resolve("pos")),
      "backfill did not persist positional postings")

    // CDC: doc 5 rewritten with a NEW phrase; doc 9001 carries the
    // phrase's words NON-adjacently (must not match)
    cat.incrementalMerge("t",
      Seq((5L, "s", "golf hotel india"), (9001L, "s", "golf x hotel"))
        .toDF("k", "seg", "body"))
    val v = cat.dataVersionOf("t")
    assert(Files.exists(idxDir.resolve(s"posseg_v$v")),
      "merge did not append a positional segment")

    def phraseHits(): Set[Long] = FullText.searchPhrase(cat.table("t").df, "k",
        cat.indexPositional("t", "ft", "fulltext"), "golf hotel")
      .select("k").collect().map(_.getLong(0)).toSet
    // adjacency honored through the segmented view; doc 5's OLD
    // positions are tombstone-masked (no stale "alpha bravo" match)
    assert(phraseHits() == Set(5L))
    assert(FullText.searchPhrase(cat.table("t").df, "k",
        cat.indexPositional("t", "ft", "fulltext"), "alpha bravo")
      .filter($"k" === 5L).count() == 0)
    // segmented positional view == from-scratch rebuild
    assert(sortedRows(cat.indexPositional("t", "ft", "fulltext")) ==
      sortedRows(FullText.buildPositional(cat.table("t").df, "k", "body")))

    // fold collapses postings AND positions; vacuum reclaims segments
    cat.compactIndex("t", "ft", "fulltext")
    cat.vacuum("t", graceMs = 0L)
    assert(Files.exists(idxDir.resolve(s"pos_v$v")))
    assert(!Files.exists(idxDir.resolve(s"posseg_v$v")),
      "vacuum left a folded positional segment behind")
    assert(!Files.exists(idxDir.resolve("pos")),
      "vacuum left the superseded positional base behind")
    assert(phraseHits() == Set(5L))
    assert(sortedRows(cat.indexPositional("t", "ft", "fulltext")) ==
      sortedRows(FullText.buildPositional(cat.table("t").df, "k", "body")))
  }

  test("createIndex on a typo'd column fails clean; the corrected retry succeeds") {
    import spark.implicits._
    val (cat, wh) = freshCat("idxretry")
    cat.createTable("t", schema, Seq("k"))
    cat.bulkLoad("t", Seq((1L, "s0", "alpha")).toDF("k", "seg", "body"))
    val e = intercept[IllegalArgumentException] {
      cat.createIndex("t", "ft", "fulltext", Seq("bodyy"))
    }
    assert(e.getMessage.contains("bodyy"))
    assert(!Files.exists(Paths.get(wh, "t.fulltext.ft")))
    cat.createIndex("t", "ft", "fulltext", Seq("body")) // must not trip exists-guard
    assert(cat.indexData("t", "ft", "fulltext").count() > 0)
  }
}
