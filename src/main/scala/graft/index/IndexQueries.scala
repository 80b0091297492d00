package graft.index

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SparkEntry wiring for SURVEY.md §2 "Secondary indexes". */
object IndexQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "idx_kv_lookup" -> { (s, d) =>
      import s.implicits._
      val cust = Tables.customer(s, d)
      val idx = KvIndex.build(cust, "c_custkey", "c_mktsegment")
      KvIndex.lookup(cust, "c_custkey", idx, "BUILDING")
        .select($"c_custkey", $"c_name", $"c_mktsegment")
        .orderBy($"c_custkey")
    },

    "idx_kv_range" -> { (s, d) =>
      import s.implicits._
      val o = Tables.orders(s, d)
      val idx = KvIndex.build(o, "o_orderkey", "o_totalprice")
      KvIndex.rangeLookup(o, "o_orderkey", idx, 100000.0, 150000.0)
        .select($"o_orderkey", $"o_totalprice")
        .orderBy($"o_orderkey")
    },

    "idx_kv_composite" -> { (s, d) =>
      import s.implicits._
      // multi-column index (reference index rowkey = concatenation of
      // the indexed columns): equality on the full tuple via the
      // composite index, then semi-join back to base
      val o = Tables.orders(s, d)
      val idx = KvIndex.buildComposite(o, "o_orderkey",
        Seq("o_orderstatus", "o_orderpriority"))
      KvIndex.lookupComposite(o, "o_orderkey", idx, Seq("F", "1-URGENT"))
        .select($"o_orderkey", $"o_orderstatus", $"o_orderpriority")
        .orderBy($"o_orderkey")
    },

    "idx_bitmap_eq" -> { (s, d) =>
      import s.implicits._
      val idx = graft.QueryCaches.ordersBitmap(s, d, "o_orderpriority")
      BitmapIndex.lookupIds(idx, "1-URGENT")
        .select($"rk".as("o_orderkey"))
        .orderBy($"o_orderkey")
    },

    "idx_bitmap_range" -> { (s, d) =>
      import s.implicits._
      // bitmap RANGE retrieval (the Pinot/Druid time-range scan): a
      // quarter of order dates served by OR-folding the in-range
      // values' bitmaps per id-shard — an index-row predicate plus
      // codegen bitmap folds, never a base-table scan. Served from
      // the catalog-persisted index's segmented view like the other
      // bitmap gates.
      val dateIdx = graft.QueryCaches.ordersBitmap(s, d, "o_orderdate")
      BitmapIndex.rangeIds(dateIdx,
          java.sql.Timestamp.valueOf("1996-01-01 00:00:00"),
          java.sql.Timestamp.valueOf("1996-03-31 00:00:00"))
        .select($"rk".as("o_orderkey"))
        .orderBy($"o_orderkey")
    },

    "idx_bitmap_not" -> { (s, d) =>
      import s.implicits._
      // NEGATION retrieval (`o_orderstatus <> 'P'`) — the complement
      // op closing the bitmap predicate algebra: per shard the
      // existence bitmap (OR-fold of every value's bitmap, one
      // index-row pass) ANDNOTs the target value's bitmap out with
      // the codegen kernel; 'P' is the rare status, so this is the
      // realistic "everything except the open orders" scan served
      // without touching the base table.
      val idx = graft.QueryCaches.ordersBitmap(s, d, "o_orderstatus")
      BitmapIndex.notIds(idx, "P")
        .select($"rk".as("o_orderkey"))
        .orderBy($"o_orderkey")
    },

    "idx_bitmap_and_or" -> { (s, d) =>
      import s.implicits._
      val statusIdx = graft.QueryCaches.ordersBitmap(s, d, "o_orderstatus")
      val prioIdx = graft.QueryCaches.ordersBitmap(s, d, "o_orderpriority")
      val andIds = BitmapIndex.combineIds(statusIdx, "F", prioIdx, "5-LOW", "and")
        .withColumn("op", lit("and"))
      val orIds = BitmapIndex.combineIds(statusIdx, "F", prioIdx, "5-LOW", "or")
        .withColumn("op", lit("or"))
      andIds.unionByName(orIds)
        .select($"op", $"rk".as("o_orderkey"))
        .orderBy($"op", $"o_orderkey")
    },

    "idx_txn_upsert" -> { (s, d) =>
      import s.implicits._
      val cust = Tables.customer(s, d)
      val idx = KvIndex.build(cust, "c_custkey", "c_mktsegment")
      val patch = cust.filter($"c_custkey" <= 5)
        .withColumn("c_mktsegment", lit("GRAFT"))
        .unionByName(s.createDataFrame(Seq(
          (9000001L, "Customer#GRAFT", 0, 0.0, "GRAFT")))
          .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
          .withColumn("c_nationkey", $"c_nationkey".cast("int")))
      val (newBase, newIndex) = KvIndex.upsertWithIndex(
        cust, "c_custkey", "c_mktsegment", idx, patch)
      KvIndex.lookup(newBase, "c_custkey", newIndex, "GRAFT")
        .select($"c_custkey", $"c_name", $"c_mktsegment")
        .orderBy($"c_custkey")
    },

    "idx_segment_ft" -> { (s, d) =>
      import s.implicits._
      // segmented fulltext maintenance end-to-end: backfill an index,
      // CDC-merge a patch (one doc rewritten, one new), then search
      // through the base+segment−tombstone read view — doc 5's OLD
      // postings must be masked, the new docs' terms visible, with NO
      // index rebuild (Catalog.maintainAnalyticIndexes appends
      // patch-sized seg_v/tomb_v/dictdelta_v dirs)
      val cat = new graft.kv.Catalog(s, graft.TempWarehouses.scoped("segft", d))
      ftSegmented(s, d, cat, "segdocs", "ft", "standard", segPatch)
      val view = cat.indexData("segdocs", "ft", "fulltext")
      val base = cat.table("segdocs").df
      Seq("graft", "spark").map { t =>
        FullText.searchAll(base, "k", view, Seq(t))
          .select(lit(t).as("probe"), $"k")
      }.reduce(_ unionByName _).orderBy($"probe", $"k")
    },

    "ft_search_stem" -> { (s, d) =>
      import s.implicits._
      // Analyzed fulltext (the Lucene EnglishAnalyzer analog): a
      // catalog index created WITH analyzer='english' (stopword
      // removal + the bounded suffix stemmer), kept CDC-fresh through
      // an incrementalMerge whose segment is built with the SAME
      // analyzer, then searched with morphological-variant query
      // terms ("sparks","joins") that the standard index would miss.
      // Stopword query terms ("the") impose no constraint. The
      // stemmer is a bounded ordered rule set, so the DuckDB oracle
      // replicates the whole chain term-for-term in SQL.
      val cat = new graft.kv.Catalog(s, graft.TempWarehouses.scoped("ftstem", d))
      ftSegmented(s, d, cat, "adocs", "aft", "english", Seq(
        (5L, "the sparks joined the engines"),
        (900002L, "sparking joins for the reader")))
      val view = cat.indexData("adocs", "aft", "fulltext")
      val base = cat.table("adocs").df
      FullText.searchAllAnalyzed(base, "k", view,
          Seq("the", "sparks", "joins"), "english")
        .select($"k").orderBy($"k")
    },

    "ft_search_and" -> { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      val postings = graft.QueryCaches.postings(s, d)
      FullText.searchAll(docs, "doc_id", postings, Seq("spark", "join"))
        .select($"doc_id", $"lang", $"source")
        .orderBy($"doc_id")
    },

    "ft_search_or" -> { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      val postings = graft.QueryCaches.postings(s, d)
      FullText.searchAny(docs, "doc_id", postings, Seq("vector", "stream"))
        .select($"doc_id", $"lang", $"source")
        .orderBy($"doc_id")
    },

    "ft_phrase" -> { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      val positional = graft.QueryCaches.positional(s, d)
      FullText.searchPhrase(docs, "doc_id", positional, "spark join")
        .select($"doc_id", $"source")
        .orderBy($"doc_id")
    },

    "ft_phrase_analyzed" -> { (s, d) =>
      import s.implicits._
      // phrase through the english analyzer, served from the
      // PERSISTED analyzed positional index: "joins" stems to the
      // indexed "join", the stopword "a" is dropped but keeps its
      // position increment (Lucene's StopFilter contract), so the
      // match requires join@p and vector@p+2 with a hole at p+1 —
      // any token may sit there. searchPhrase on the same index
      // would return nothing (unstemmed query terms never match).
      val docs = Tables.documents(s, d)
      val positional = graft.QueryCaches.positionalEnglish(s, d)
      FullText.searchPhraseAnalyzed(docs, "doc_id", positional,
          "joins a vector", "english")
        .select($"doc_id", $"source")
        .orderBy($"doc_id")
    },

    "ft_snippet" -> { (s, d) =>
      import s.implicits._
      // hit highlighting from the persisted positional index: first
      // occurrence + count are an index SEEK; only matched docs'
      // text is tokenized for the +-window snippet
      val docs = Tables.documents(s, d)
      val positional = graft.QueryCaches.positional(s, d)
      FullText.snippets(docs, "doc_id", "text", positional, "stream")
        .orderBy($"doc_id")
    },

    "ft_prefix" -> { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      val postings = graft.QueryCaches.postings(s, d)
      FullText.searchPrefix(docs, "doc_id", postings, "vect")
        .select($"doc_id", $"lang")
        .orderBy($"doc_id")
    },

    "ft_fuzzy" -> { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      val postings = graft.QueryCaches.postings(s, d)
      val dict = graft.QueryCaches.dictionary(s, d)
      FullText.searchFuzzy(docs, "doc_id", postings, dict, "part", maxEdits = 2)
        .select($"doc_id", $"source")
        .orderBy($"doc_id")
    },

    "ft_tfidf_topk" -> { (s, d) =>
      val postings = graft.QueryCaches.postings(s, d)
      val dict = graft.QueryCaches.dictionary(s, d)
      FullText.tfidfTopK(postings, dict, graft.QueryCaches.corpusSize(s, d),
        Seq("spark", "join"), 20)
    },

    "ft_bm25_topk" -> { (s, d) =>
      val postings = graft.QueryCaches.postings(s, d)
      val dict = graft.QueryCaches.dictionary(s, d)
      val doclens = graft.QueryCaches.doclens(s, d)
      FullText.bm25TopK(postings, dict, doclens,
        graft.QueryCaches.corpusSize(s, d), graft.QueryCaches.avgDocLen(s, d),
        Seq("spark", "join"), 20)
    },

    "ft_bm25_wand" -> { (s, d) =>
      // Block-max-WAND-pruned BM25 top-k (FullText.bm25WandPlan):
      // hash-identical to the exhaustive scorer — the oracle IS the
      // exhaustive SQL — but only surviving blocks' postings are
      // scored (WandSpec pins scored < matched on a skewed corpus).
      // The per-term max-impact summary rides QueryCaches beside the
      // postings/norms frames, the Lucene 8 block-max structure.
      val postings = graft.QueryCaches.postings(s, d)
      val dict = graft.QueryCaches.dictionary(s, d)
      val doclens = graft.QueryCaches.doclens(s, d)
      FullText.bm25WandTopK(postings, dict, doclens,
        graft.QueryCaches.blockmax(s, d),
        graft.QueryCaches.corpusSize(s, d), graft.QueryCaches.avgDocLen(s, d),
        Seq("merge", "window", "batch"), 20)
    },

    "ft_hybrid_rrf" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // Hybrid retrieval (the RAG shape): lexical tf-idf ranking and
      // vector-cosine ranking fused by reciprocal-rank fusion,
      // rrf = Σ 1/(60 + rank). Both windows run over ALREADY-REDUCED
      // top-50 lists (one partition of ≤50 rows). The vector arm is
      // EXACT by contract (it is what the DuckDB oracle can express),
      // and its plan is the one exact top-k wants at any scale:
      // a column-pruned scan + per-partition bounded heap merged on
      // the driver (TakeOrderedAndProject — PlanSpec pins that no
      // corpus-wide sort or window materializes). Serving it from
      // the persisted IVF index CANNOT keep the exact oracle on this
      // corpus — measured at sf0.01 (31 lists): probing 4/8/12/16/24
      // lists recovers only 18/25/33/37/45 of the true top-50; full
      // recall arrives exactly when nprobe reaches the list count,
      // i.e. a disguised full scan. (Unit-norm synthetic embeddings:
      // the query's true top-50 spreads across all 10 label clusters,
      // so no coarse cell subset contains it.) The index-served
      // approximate hybrid ships as its own gated query —
      // ft_hybrid_ann below — with the honest sublinear nprobe.
      val lex = hybridLex(s, d)
      val e = Tables.embeddings(s, d)
      val qv = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
      val vec = e.crossJoin(broadcast(qv))
        .filter($"vec_id" =!= 0)
        .withColumn("score",
          round(graft.plans.HashExpressions.cosineSim($"qv", $"embedding"), 3))
        .orderBy($"score".desc, $"vec_id").limit(50)
        .withColumn("r_vec", row_number().over(
          Window.orderBy($"score".desc, $"vec_id")))
        .select($"vec_id".as("doc_id"), $"r_vec")
      hybridFuse(lex, vec)
    },

    "ft_hybrid_ann" -> { (s, d) =>
      import s.implicits._
      // The index-served hybrid: same lexical arm and RRF fusion as
      // ft_hybrid_rrf, vector arm probed from the catalog's PERSISTED
      // `vector` index (the segmented, CDC-fresh artifact sim_ivf_ann
      // serves from). nprobe=8 of √N lists — the scanned fraction
      // SHRINKS as the corpus grows (8/√N), which is the 100 TB plan;
      // the price is approximate vector ranks, so this query is
      // rows-only (k-means cells aren't SQL-expressible) and
      // HybridAnnSpec holds the ground truth: lex-arm parity with the
      // exact hybrid, a fused-overlap floor, determinism, and a plan
      // pin that the corpus reaches the cosine kernel only through
      // the coarse-quantizer list join — never a corpus-wide cross
      // join.
      val lex = hybridLex(s, d)
      val e = Tables.embeddings(s, d)
      val (view, cent, _) = graft.dedup.DedupQueries.vecIndex(s, d)
      // the shared index also carries the sim_* planted copies
      // (rk >= 1e6) — scope the hybrid search to the real corpus
      val idx = graft.similarity.VectorIndex.ivfOf(
        cent, view.filter($"rk" < Tables.PlantedIdBase))
      val vec = graft.similarity.Ann.ivfSearch(idx,
          e.filter($"vec_id" === 0), "vec_id", "embedding",
          k = 50, nprobe = 8)
        .select($"nn".as("doc_id"), $"rn".as("r_vec"))
      hybridFuse(lex, vec)
    },

    "sql_ms_call" -> { (s, d) =>
      import s.implicits._
      // The millisecond serving family through the SQL FRONT DOOR
      // (GraftProcedures.ms_get/ms_search): the reference's serving
      // surface is Calcite SQL, so a SQL-only client must reach the
      // driver paths — `CALL <cat>.system.ms_get('t','5')` runs
      // Catalog.driverPointGet on the calling thread and returns the
      // rows as a LocalScan → LocalRelation (zero Spark jobs for the
      // whole CALL; DriverGetSpec pins the job count and the
      // direct-call parity for all four serving procedures). Same
      // planted segmented corpus as ft_ms_search, so the CDC arms
      // (rewritten doc 5, merge-inserted 900001) gate through SQL.
      val cat = ftMsCatalog(s, d)
      val cname = "graftms_" +
        java.lang.Integer.toHexString(cat.warehouse.hashCode)
      s.conf.set(s"spark.sql.catalog.$cname",
        classOf[graft.kv.connector.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cname.warehouse", cat.warehouse)
      s.sql(s"CALL $cname.system.ms_get('ftdocs', '5')")
        .select(lit("get5").as("probe"), $"k", $"body")
        .unionByName(s.sql(s"CALL $cname.system.ms_get('ftdocs', '900001')")
          .select(lit("get900001").as("probe"), $"k", $"body"))
        .unionByName(
          s.sql(s"CALL $cname.system.ms_search('ftdocs', 'ft', 'graft engine')")
            .select(lit("search").as("probe"), $"rk".as("k"),
              lit(null).cast("string").as("body")))
        .orderBy($"probe", $"k")
    },

    "ft_ms_search" -> { (s, d) =>
      import s.implicits._
      // Driver-side full-text serving (the Lucene QUERY-path analog
      // completing kv_ms_get / idx_ms_lookup): dictionary-seek-style
      // term lookups on the CALLING thread — DriverRead's pruning
      // over the term-sorted postings, THROUGH the segmented view
      // (base + CDC segment − tombstones; doc 5's pre-merge terms
      // must be masked, the merge-inserted doc visible) — no Spark
      // job (DriverGetSpec pins zero-jobs and Spark-path equality).
      // Probes: a merge-only term, a corpus term, and a two-term AND.
      val cat = ftMsCatalog(s, d)
      val rows = Seq(
        "graft" -> Seq("graft"),
        "spark" -> Seq("spark"),
        "spark+join" -> Seq("spark", "join")).flatMap { case (probe, ts) =>
        cat.driverFtSearch("ftdocs", "ft", ts)
          .map(k => (probe, k.asInstanceOf[Long]))
      }
      rows.toDF("probe", "k").orderBy($"probe", $"k")
    },

    "ft_ms_or" -> { (s, d) =>
      import s.implicits._
      // Driver-side DISJUNCTIVE serving (the Lucene BooleanQuery
      // SHOULD-clause analog beside ft_ms_search's MUST): docs
      // containing ANY query term, the same zero-Spark-jobs segmented
      // seeks — only the in-memory intersection flips to a union.
      // Probes: a merge-only term OR a corpus term (the union must
      // span both the segment and the base), and two corpus terms.
      val cat = ftMsCatalog(s, d)
      val rows = Seq(
        "graft|vector" -> Seq("graft", "vector"),
        "posting|stream" -> Seq("posting", "stream")).flatMap { case (probe, ts) =>
        cat.driverFtSearchAny("ftdocs", "ft", ts)
          .map(k => (probe, k.asInstanceOf[Long]))
      }
      rows.toDF("probe", "k").orderBy($"probe", $"k")
    },

    "ft_ms_prefix" -> { (s, d) =>
      import s.implicits._
      // Driver-side PREFIX serving (the Lucene PrefixQuery analog —
      // one [prefix, prefix⁺) range seek per artifact over the
      // term-sorted postings, the FST prefix-seek shape, zero Spark
      // jobs; DriverGetSpec pins equality + zero jobs). Probes: a
      // corpus prefix ('vect' → vector...) and a merge-only prefix
      // ('graf' → graft), so the union provably crosses the
      // base/segment boundary.
      val cat = ftMsCatalog(s, d)
      val rows = Seq(
        "graf" -> "graf",
        "vect" -> "vect").flatMap { case (probe, pre) =>
        cat.driverFtPrefix("ftdocs", "ft", pre)
          .map(k => (probe, k.asInstanceOf[Long]))
      }
      rows.toDF("probe", "k").orderBy($"probe", $"k")
    },

    "ft_ms_topk" -> { (s, d) =>
      import s.implicits._
      // Driver-side RANKED BM25 serving (Catalog.driverFtTopK — the
      // Lucene TopScoreDocCollector analog, completing the serving
      // family: ft_ms_search serves boolean AND, ft_ms_phrase phrases,
      // this the default read pattern of a search path). Block-max
      // pruned seeks through the segmented postings + norms + block
      // summary stack, (N, avgdl, df) derived live from scalar metas
      // and the dictionary fold — ZERO Spark jobs (DriverGetSpec pins
      // jobs, hash-equality with bm25WandTopK, pruning, freshness).
      // Terms span corpus docs AND both CDC-merged docs, so the
      // ranking genuinely reads base + segment − tombstone.
      val cat = ftMsCatalog(s, d)
      cat.driverFtTopK("ftdocs", "ft", Seq("engine", "merge"), 10)
        .map { case (id, score) => (id.asInstanceOf[Long], score) }
        .toDF("k", "score")
        .orderBy($"score".desc, $"k")
    },

    "ft_ms_fuzzy" -> { (s, d) =>
      import s.implicits._
      // Driver-side FUZZY serving (the Lucene FuzzyQuery analog — the
      // LAST member of the query family to serve driver-side): the
      // edit-distance-1 expansion runs as ONE range seek of the
      // (tlen, term)-sorted fuzzy sidecar's [|q|−1, |q|+1] bands
      // (levenshtein ≥ length difference makes the band lossless),
      // candidates verify with the shared edit-distance kernel,
      // dictdelta patches fold on top, and matched terms union doc-ids
      // through the segmented postings stack — zero Spark jobs
      // (DriverGetSpec pins jobs, Spark-path hash-equality, CDC
      // freshness, and rows-read ≪ vocabulary). Probes: 'graff' (one
      // edit from the MERGE-ONLY 'graft' — the match exists only via
      // the delta fold) and 'vectr' (one edit from corpus terms).
      val cat = ftMsCatalog(s, d)
      val rows = Seq(
        "graff" -> "graff",
        "vectr" -> "vectr").flatMap { case (probe, t) =>
        cat.driverFtFuzzy("ftdocs", "ft", t, maxEdits = 1)
          .map(k => (probe, k.asInstanceOf[Long]))
      }
      rows.toDF("probe", "k").orderBy($"probe", $"k")
    },

    "ft_ms_or_topk" -> { (s, d) =>
      import s.implicits._
      // Driver-side RANKED DISJUNCTIVE serving — the Lucene
      // BooleanQuery-SHOULD scored form of ft_ms_or (which returns the
      // match SET): BM25 top-k over docs containing ANY query term.
      // The set-based block-max WAND (Catalog.driverFtTopK) is
      // disjunctive by construction — per-block upper bound = Σ over
      // query terms present in the block, seeds = best blocks by that
      // sum — so this key makes the OR-mode scoring contract an
      // explicit gate on a SKEWED term pair: 'spark' (common corpus
      // term) + 'graft' (merge-only, lives ONLY in the CDC segment),
      // so the ranking provably fuses base + segment − tombstone and
      // the oracle is the exhaustive OR-mode scorer, hash-for-hash.
      // DriverGetSpec pins zero jobs + blocksRead < blocksTotal on a
      // skewed corpus.
      val cat = ftMsCatalog(s, d)
      cat.driverFtTopK("ftdocs", "ft", Seq("spark", "graft"), 10)
        .map { case (id, score) => (id.asInstanceOf[Long], score) }
        .toDF("k", "score")
        .orderBy($"score".desc, $"k")
    },

    "ft_ms_snippet" -> { (s, d) =>
      import s.implicits._
      // Driver-side SNIPPET serving (the Lucene highlighter analog —
      // completing the serving family's presentation layer): first
      // occurrence + count from a pruned POSITIONAL-stack seek, doc
      // text fetched through the driver multi-get path for exactly
      // the matched docs, window sliced with the index tokenizer —
      // zero Spark jobs (DriverGetSpec pins jobs + Spark-path
      // equality + CDC freshness: doc 5's snippet must come from its
      // REWRITTEN text, the merge-inserted doc highlights too).
      // probes: 'engine' lives ONLY in the two CDC-merged docs (the
      // segment/tombstone arm), 'stream' across the base corpus
      val cat = ftMsCatalog(s, d)
      val rows = Seq("engine", "stream").flatMap { t =>
        cat.driverFtSnippet("ftdocs", "ft", t).map {
          case (id, first, hits, snip) =>
            (t, id.asInstanceOf[Long], first, hits, snip)
        }
      }
      rows.toDF("probe", "k", "first_pos", "n_hits", "snippet")
        .orderBy($"probe", $"k")
    },

    "idx_ms_bitmap" -> { (s, d) =>
      import s.implicits._
      // Driver-side BITMAP equality serving — the LAST index flavor
      // to join the millisecond serving family (kv_ms_get serves the
      // primary key, idx_ms_lookup the kv secondary index, ft_ms_*
      // the fulltext index): rowkeys for a value decoded from the
      // persisted bitmap index's segmented stack (iv-seek per
      // artifact + patch-sized tombstone bitmaps + the SAME
      // Bitmap.foldVersions kernel the Spark view evaluates), zero
      // Spark jobs. Probes cover every status so the CDC-rewritten
      // row's OLD bit is provably tombstone-masked whatever its
      // pre-image status was, and 'G' (segment-only) proves the
      // segment arm.
      val cat = msBmCatalog(s, d)
      val rows = Seq("F", "O", "P", "G").flatMap { v =>
        cat.driverBitmapIds("bmords", "bst", v).map(k => (v, k))
      }
      rows.toDF("probe", "rk").orderBy($"probe", $"rk")
    },

    "idx_ms_bitmap_range" -> { (s, d) =>
      import s.implicits._
      // Driver-side bitmap RANGE serving (driverBitmapRangeIds — the
      // Pinot/Druid range scan idx_bitmap_range runs on Spark, served
      // from the calling thread): one iv-range seek per artifact
      // selects the in-range values' shard rows, each (value, shard)
      // stack folds under the versioned tombstone masks, per-value
      // results OR together — the BitmapIndex.rangeIds composition
      // over the same segmented stack, zero Spark jobs. The probed
      // range ['F','O'] INCLUDES the CDC segment's 'G' — the range
      // must pick up segment bits and drop the rewritten row's old
      // status bit whatever it was ('F'/'O' in range, masked; 'P'
      // out of range either way).
      val cat = msBmCatalog(s, d)
      cat.driverBitmapRangeIds("bmords", "bst", "F", "O")
        .toDF("rk").orderBy($"rk")
    },

    "ft_ms_phrase" -> { (s, d) =>
      import s.implicits._
      // Driver-side PHRASE serving (the Lucene PhraseQuery analog,
      // ft_ms_search's positional counterpart): adjacency verified
      // against the positional postings stack (pos base + posseg_v −
      // tombstones) entirely on the calling thread. Probes: a phrase
      // only the CDC segment contains (doc 5's pre-merge positions
      // must be tombstone-masked), the merge-inserted doc's phrase,
      // and a natural corpus bigram.
      val cat = ftMsCatalog(s, d)
      val rows = Seq(
        "segment merge" -> "segment merge",
        "posting engine" -> "posting engine",
        "spark join" -> "spark join").flatMap { case (probe, ph) =>
        cat.driverFtPhrase("ftdocs", "ft", ph)
          .map(k => (probe, k.asInstanceOf[Long]))
      }
      rows.toDF("probe", "k").orderBy($"probe", $"k")
    },
  )

  /** The segmented-fulltext recipe: docs < 300 as (k, body)
    * bulk-loaded into `table` across 4 files, a fulltext index `index`
    * backfilled with `analyzer`, then one CDC merge of `patch` (one doc
    * rewritten, one new) — so reads go through a REAL
    * base+segment−tombstone stack. */
  private def ftSegmented(s: SparkSession, d: String, cat: graft.kv.Catalog,
                          table: String, index: String, analyzer: String,
                          patch: Seq[(Long, String)]): Unit = {
    import s.implicits._
    import org.apache.spark.sql.types._
    if (cat.tableExists(table)) cat.dropTable(table)
    cat.createTable(table, StructType(Seq(
      StructField("k", LongType, false),
      StructField("body", StringType, true))), Seq("k"))
    cat.bulkLoad(table,
      Tables.documents(s, d).filter($"doc_id" < 300)
        .select($"doc_id".as("k"), $"text".as("body")), partitions = 4)
    cat.createIndex(table, index, "fulltext", Seq("body"), analyzer = analyzer)
    cat.incrementalMerge(table, patch.toDF("k", "body"))
  }

  /** The standard-analyzer patch: doc 5 rewritten, 900001 inserted. */
  private val segPatch = Seq(
    (5L, "graft segment merge engine"),
    (900001L, "graft posting engine"))

  /** The driver-side full-text serving table, built ONCE per (JVM,
    * sf-dir) by the idx_segment_ft recipe, so the timed query serves
    * lookups through the same segmented stack. */
  private def ftMsCatalog(s: SparkSession, d: String): graft.kv.Catalog =
    graft.QueryCaches.fixture(s, d, "ftdocs") { cat =>
      ftSegmented(s, d, cat, "ftdocs", "ft", "standard", segPatch)
      cat
    }

  /** The driver-side bitmap serving table, built ONCE per (JVM,
    * sf-dir): an orders slice with a bitmap index on o_orderstatus,
    * then one CDC merge rewriting the slice's MIN orderkey to status
    * 'G' and inserting a new 'G' order — so serving must fold base +
    * segment bitmaps under the tombstone mask. */
  private def msBmCatalog(s: SparkSession, d: String): graft.kv.Catalog = {
    import s.implicits._
    graft.QueryCaches.fixture(s, d, "bmords") { cat =>
      val slice = Tables.orders(s, d).filter(col("o_orderkey") < 3000)
        .select(col("o_orderkey"), col("o_orderstatus"))
      cat.createTable("bmords", slice.schema, Seq("o_orderkey"))
      cat.bulkLoad("bmords", slice, partitions = 2)
      cat.createIndex("bmords", "bst", "bitmap", Seq("o_orderstatus"))
      val minKey = slice.agg(min(col("o_orderkey"))).head().getLong(0)
      cat.incrementalMerge("bmords", Seq(
        (minKey, "G"),
        (9000001L, "G")).toDF("o_orderkey", "o_orderstatus"))
      cat
    }
  }

  /** The shared lexical arm of the hybrid queries: tf-idf top-50 with
    * a dense rank (one window over ≤50 rows). */
  private def hybridLex(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val postings = graft.QueryCaches.postings(s, d)
    val dict = graft.QueryCaches.dictionary(s, d)
    FullText.tfidfTopK(postings, dict,
        graft.QueryCaches.corpusSize(s, d), Seq("spark", "join"), 50)
      .withColumn("r_lex", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id"), col("r_lex"))
  }

  /** Reciprocal-rank fusion of the two arms — identical for the exact
    * and index-served hybrids so the spec's arm-level comparisons
    * isolate the vector shortlist as the only difference. */
  private def hybridFuse(lex: DataFrame, vec: DataFrame): DataFrame =
    lex.join(vec, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(60) + col("r_vec")), lit(0.0)), 6))
      .orderBy(col("rrf").desc, col("doc_id")).limit(20)
      .select(col("doc_id"), col("rrf"))

  def oracles: Map[String, String] = Map(
    "idx_kv_lookup" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_mktsegment = 'BUILDING' ORDER BY c_custkey""".stripMargin,

    "idx_kv_range" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice >= 100000.0 AND o_totalprice < 150000.0
        |ORDER BY o_orderkey""".stripMargin,

    "idx_kv_composite" ->
      """SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders
        |WHERE o_orderstatus = 'F' AND o_orderpriority = '1-URGENT'
        |ORDER BY o_orderkey""".stripMargin,

    "idx_bitmap_eq" ->
      """SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |ORDER BY o_orderkey""".stripMargin,

    "idx_bitmap_range" ->
      """SELECT o_orderkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <= TIMESTAMP '1996-03-31 00:00:00'
        |ORDER BY o_orderkey""".stripMargin,

    "idx_bitmap_not" ->
      """SELECT o_orderkey FROM orders WHERE o_orderstatus <> 'P'
        |ORDER BY o_orderkey""".stripMargin,

    "idx_bitmap_and_or" ->
      """SELECT op, o_orderkey FROM (
        |  SELECT 'and' AS op, o_orderkey FROM orders
        |  WHERE o_orderstatus = 'F' AND o_orderpriority = '5-LOW'
        |  UNION ALL
        |  SELECT 'or' AS op, o_orderkey FROM orders
        |  WHERE o_orderstatus = 'F' OR o_orderpriority = '5-LOW')
        |ORDER BY op, o_orderkey""".stripMargin,

    "idx_txn_upsert" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM (
        |  SELECT c_custkey, c_name,
        |    CASE WHEN c_custkey <= 5 THEN 'GRAFT' ELSE c_mktsegment END AS c_mktsegment
        |  FROM customer
        |  UNION ALL
        |  SELECT CAST(9000001 AS BIGINT), 'Customer#GRAFT', 'GRAFT')
        |WHERE c_mktsegment = 'GRAFT' ORDER BY c_custkey""".stripMargin,

    "idx_segment_ft" ->
      """WITH t AS (
        |  SELECT doc_id AS k,
        |    CASE WHEN doc_id = 5 THEN 'graft segment merge engine' ELSE text END AS body
        |  FROM documents WHERE doc_id < 300
        |  UNION ALL SELECT CAST(900001 AS BIGINT), 'graft posting engine'),
        |m AS (SELECT k, string_split_regex(lower(body), '[^a-z0-9]+') AS toks FROM t)
        |SELECT probe, k FROM (
        |  SELECT 'graft' AS probe, k FROM m WHERE list_contains(toks, 'graft')
        |  UNION ALL
        |  SELECT 'spark' AS probe, k FROM m WHERE list_contains(toks, 'spark'))
        |ORDER BY probe, k""".stripMargin,

    "sql_ms_call" ->
      // the SQL-front-door serving calls replay exactly: point gets
      // against the planted segmented corpus, AND-search on its
      // token sets
      """WITH t AS (
        |  SELECT doc_id AS k,
        |    CASE WHEN doc_id = 5 THEN 'graft segment merge engine' ELSE text END AS body
        |  FROM documents WHERE doc_id < 300
        |  UNION ALL SELECT CAST(900001 AS BIGINT), 'graft posting engine'),
        |m AS (SELECT k, string_split_regex(lower(body), '[^a-z0-9]+') AS toks FROM t)
        |SELECT probe, k, body FROM (
        |  SELECT 'get5' AS probe, k, body FROM t WHERE k = 5
        |  UNION ALL
        |  SELECT 'get900001' AS probe, k, body FROM t WHERE k = 900001
        |  UNION ALL
        |  SELECT 'search' AS probe, k, CAST(NULL AS VARCHAR) AS body FROM m
        |  WHERE list_contains(toks, 'graft') AND list_contains(toks, 'engine'))
        |ORDER BY probe, k""".stripMargin,

    "ft_ms_search" ->
      // same planted corpus as idx_segment_ft (the driver path must
      // serve exactly what the Spark segmented view serves), plus the
      // two-term AND arm
      """WITH t AS (
        |  SELECT doc_id AS k,
        |    CASE WHEN doc_id = 5 THEN 'graft segment merge engine' ELSE text END AS body
        |  FROM documents WHERE doc_id < 300
        |  UNION ALL SELECT CAST(900001 AS BIGINT), 'graft posting engine'),
        |m AS (SELECT k, string_split_regex(lower(body), '[^a-z0-9]+') AS toks FROM t)
        |SELECT probe, k FROM (
        |  SELECT 'graft' AS probe, k FROM m WHERE list_contains(toks, 'graft')
        |  UNION ALL
        |  SELECT 'spark' AS probe, k FROM m WHERE list_contains(toks, 'spark')
        |  UNION ALL
        |  SELECT 'spark+join' AS probe, k FROM m
        |  WHERE list_contains(toks, 'spark') AND list_contains(toks, 'join'))
        |ORDER BY probe, k""".stripMargin,

    "ft_ms_or" ->
      // any-term membership over the same planted segmented corpus
      """WITH t AS (
        |  SELECT doc_id AS k,
        |    CASE WHEN doc_id = 5 THEN 'graft segment merge engine' ELSE text END AS body
        |  FROM documents WHERE doc_id < 300
        |  UNION ALL SELECT CAST(900001 AS BIGINT), 'graft posting engine'),
        |m AS (SELECT k, string_split_regex(lower(body), '[^a-z0-9]+') AS toks FROM t)
        |SELECT probe, k FROM (
        |  SELECT 'graft|vector' AS probe, k FROM m
        |  WHERE list_contains(toks, 'graft') OR list_contains(toks, 'vector')
        |  UNION ALL
        |  SELECT 'posting|stream' AS probe, k FROM m
        |  WHERE list_contains(toks, 'posting') OR list_contains(toks, 'stream'))
        |ORDER BY probe, k""".stripMargin,

    "ft_ms_prefix" ->
      // token-prefix membership over the same planted segmented corpus
      """WITH t AS (
        |  SELECT doc_id AS k,
        |    CASE WHEN doc_id = 5 THEN 'graft segment merge engine' ELSE text END AS body
        |  FROM documents WHERE doc_id < 300
        |  UNION ALL SELECT CAST(900001 AS BIGINT), 'graft posting engine'),
        |m AS (SELECT k, list_filter(
        |    string_split_regex(lower(body), '[^a-z0-9]+'),
        |    x -> length(x) > 0) AS toks FROM t)
        |SELECT probe, k FROM (
        |  SELECT 'graf' AS probe, k FROM m
        |  WHERE len(list_filter(toks, x -> x LIKE 'graf%')) > 0
        |  UNION ALL
        |  SELECT 'vect' AS probe, k FROM m
        |  WHERE len(list_filter(toks, x -> x LIKE 'vect%')) > 0)
        |ORDER BY probe, k""".stripMargin,

    "ft_ms_topk" ->
      // exhaustive BM25 over the same planted segmented corpus — the
      // driver's block-max pruning must be invisible in the result,
      // hash-for-hash (the ft_bm25_wand oracle convention). N and
      // avgdl are over docs with >= 1 token (the Lucene per-field
      // docCount the norms artifact counts); every planted doc
      // tokenizes non-empty, so this equals the corpus count.
      """WITH t AS (
        |  SELECT doc_id AS k,
        |    CASE WHEN doc_id = 5 THEN 'graft segment merge engine' ELSE text END AS body
        |  FROM documents WHERE doc_id < 300
        |  UNION ALL SELECT CAST(900001 AS BIGINT), 'graft posting engine'),
        |toks AS (
        |  SELECT k, unnest(list_filter(
        |    string_split_regex(lower(body), '[^a-z0-9]+'),
        |    x -> length(x) > 0)) AS term
        |  FROM t),
        |dl AS (SELECT k, COUNT(*) AS dl FROM toks GROUP BY k),
        |tf AS (
        |  SELECT k, term, COUNT(*) AS tf FROM toks
        |  WHERE term IN ('engine','merge') GROUP BY k, term),
        |df AS (
        |  SELECT term, COUNT(DISTINCT k) AS df FROM toks
        |  WHERE term IN ('engine','merge') GROUP BY term),
        |n AS (SELECT COUNT(*) AS n FROM dl),
        |ad AS (SELECT CAST(SUM(dl) AS DOUBLE) / (SELECT COUNT(*) FROM dl) AS avgdl FROM dl)
        |SELECT tf.k,
        |  ROUND(SUM(
        |    ln(1 + (CAST(n.n AS DOUBLE) - df.df + 0.5) / (df.df + 0.5)) *
        |    (tf.tf * 2.2) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / ad.avgdl))
        |  ), 4) AS score
        |FROM tf JOIN df USING (term) JOIN dl ON tf.k = dl.k
        |CROSS JOIN n CROSS JOIN ad
        |GROUP BY tf.k
        |ORDER BY score DESC, tf.k LIMIT 10""".stripMargin,

    "ft_ms_snippet" ->
      // the ft_snippet oracle shape replayed over the planted
      // segmented corpus — first-occurrence window, 1-based position
      """WITH t AS (
        |  SELECT doc_id AS k,
        |    CASE WHEN doc_id = 5 THEN 'graft segment merge engine' ELSE text END AS body
        |  FROM documents WHERE doc_id < 300
        |  UNION ALL SELECT CAST(900001 AS BIGINT), 'graft posting engine'),
        |m AS (SELECT k, list_filter(
        |    string_split_regex(lower(body), '[^a-z0-9]+'),
        |    x -> length(x) > 0) AS toks FROM t),
        |h AS (SELECT probe, k, toks, list_position(toks, probe) AS p,
        |    len(list_filter(toks, x -> x = probe)) AS n_hits
        |  FROM m CROSS JOIN (VALUES ('engine'), ('stream')) v(probe)
        |  WHERE list_contains(toks, probe))
        |SELECT probe, k, CAST(p AS INT) AS first_pos, n_hits,
        |  array_to_string(toks[CAST(greatest(p - 3, 1) AS INT):
        |    CAST(least(p + 4, len(toks)) AS INT)], ' ') AS snippet
        |FROM h ORDER BY probe, k""".stripMargin,

    "idx_ms_bitmap" ->
      // post-image membership per status over the merged slice — the
      // driver's segment/tombstone fold must be invisible in the set
      """WITH t AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey = (SELECT MIN(o_orderkey) FROM orders
        |                            WHERE o_orderkey < 3000)
        |      THEN 'G' ELSE o_orderstatus END AS st
        |  FROM orders WHERE o_orderkey < 3000
        |  UNION ALL SELECT CAST(9000001 AS BIGINT), 'G')
        |SELECT v.probe, t.o_orderkey AS rk
        |FROM t JOIN (VALUES ('F'),('O'),('P'),('G')) v(probe) ON t.st = v.probe
        |ORDER BY probe, rk""".stripMargin,

    "idx_ms_bitmap_range" ->
      // post-image value-range membership over the merged slice —
      // ['F','O'] catches the segment's 'G' and excludes 'P'
      """WITH t AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey = (SELECT MIN(o_orderkey) FROM orders
        |                            WHERE o_orderkey < 3000)
        |      THEN 'G' ELSE o_orderstatus END AS st
        |  FROM orders WHERE o_orderkey < 3000
        |  UNION ALL SELECT CAST(9000001 AS BIGINT), 'G')
        |SELECT o_orderkey AS rk FROM t
        |WHERE st >= 'F' AND st <= 'O'
        |ORDER BY rk""".stripMargin,

    "ft_ms_fuzzy" ->
      // exact Levenshtein over the token arrays of the same planted
      // segmented corpus — the driver's length-band seek and delta
      // fold must be invisible in the result
      """WITH t AS (
        |  SELECT doc_id AS k,
        |    CASE WHEN doc_id = 5 THEN 'graft segment merge engine' ELSE text END AS body
        |  FROM documents WHERE doc_id < 300
        |  UNION ALL SELECT CAST(900001 AS BIGINT), 'graft posting engine'),
        |m AS (SELECT k, list_filter(
        |    string_split_regex(lower(body), '[^a-z0-9]+'),
        |    x -> length(x) > 0) AS toks FROM t)
        |SELECT probe, k FROM (
        |  SELECT 'graff' AS probe, k FROM m
        |  WHERE len(list_filter(toks, x -> levenshtein(x, 'graff') <= 1)) > 0
        |  UNION ALL
        |  SELECT 'vectr' AS probe, k FROM m
        |  WHERE len(list_filter(toks, x -> levenshtein(x, 'vectr') <= 1)) > 0)
        |ORDER BY probe, k""".stripMargin,

    "ft_ms_or_topk" ->
      // exhaustive OR-mode BM25 over the same planted segmented corpus
      // (the ft_ms_topk oracle shape with the skewed term pair) — the
      // driver's disjunctive WAND pruning must be invisible in the
      // result, hash-for-hash
      """WITH t AS (
        |  SELECT doc_id AS k,
        |    CASE WHEN doc_id = 5 THEN 'graft segment merge engine' ELSE text END AS body
        |  FROM documents WHERE doc_id < 300
        |  UNION ALL SELECT CAST(900001 AS BIGINT), 'graft posting engine'),
        |toks AS (
        |  SELECT k, unnest(list_filter(
        |    string_split_regex(lower(body), '[^a-z0-9]+'),
        |    x -> length(x) > 0)) AS term
        |  FROM t),
        |dl AS (SELECT k, COUNT(*) AS dl FROM toks GROUP BY k),
        |tf AS (
        |  SELECT k, term, COUNT(*) AS tf FROM toks
        |  WHERE term IN ('spark','graft') GROUP BY k, term),
        |df AS (
        |  SELECT term, COUNT(DISTINCT k) AS df FROM toks
        |  WHERE term IN ('spark','graft') GROUP BY term),
        |n AS (SELECT COUNT(*) AS n FROM dl),
        |ad AS (SELECT CAST(SUM(dl) AS DOUBLE) / (SELECT COUNT(*) FROM dl) AS avgdl FROM dl)
        |SELECT tf.k,
        |  ROUND(SUM(
        |    ln(1 + (CAST(n.n AS DOUBLE) - df.df + 0.5) / (df.df + 0.5)) *
        |    (tf.tf * 2.2) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / ad.avgdl))
        |  ), 4) AS score
        |FROM tf JOIN df USING (term) JOIN dl ON tf.k = dl.k
        |CROSS JOIN n CROSS JOIN ad
        |GROUP BY tf.k
        |ORDER BY score DESC, tf.k LIMIT 10""".stripMargin,

    "ft_ms_phrase" ->
      // adjacency replayed over the token arrays of the same planted
      // corpus (i ranges over 1-based positions with a next token)
      """WITH t AS (
        |  SELECT doc_id AS k,
        |    CASE WHEN doc_id = 5 THEN 'graft segment merge engine' ELSE text END AS body
        |  FROM documents WHERE doc_id < 300
        |  UNION ALL SELECT CAST(900001 AS BIGINT), 'graft posting engine'),
        |m AS (SELECT k,
        |  list_filter(string_split_regex(lower(body), '[^a-z0-9]+'),
        |    x -> length(x) > 0) AS toks FROM t),
        |ph AS (SELECT * FROM (VALUES
        |  ('segment merge', 'segment', 'merge'),
        |  ('posting engine', 'posting', 'engine'),
        |  ('spark join', 'spark', 'join')) AS v(probe, w1, w2))
        |SELECT probe, k FROM m CROSS JOIN ph
        |WHERE len(list_filter(range(1, len(toks)),
        |  i -> toks[CAST(i AS INT)] = w1 AND toks[CAST(i + 1 AS INT)] = w2)) > 0
        |ORDER BY probe, k""".stripMargin,

    "ft_search_stem" ->
      """WITH t AS (
        |  SELECT doc_id AS k,
        |    CASE WHEN doc_id = 5 THEN 'the sparks joined the engines' ELSE text END AS body
        |  FROM documents WHERE doc_id < 300
        |  UNION ALL SELECT CAST(900002 AS BIGINT), 'sparking joins for the reader'),
        |m AS (SELECT k, list_transform(
        |    list_filter(string_split_regex(lower(body), '[^a-z0-9]+'),
        |      x -> length(x) > 0 AND x NOT IN
        |        ('a','an','and','are','as','at','be','but','by','for',
        |         'if','in','into','is','it','no','not','of','on','or',
        |         'such','that','the','their','then','there','these',
        |         'they','this','to','was','will','with')),
        |    x -> CASE
        |      WHEN length(x) >= 5 AND x LIKE '%ies'
        |        THEN substr(x, 1, length(x)-3) || 'y'
        |      WHEN x LIKE '%sses' THEN substr(x, 1, length(x)-2)
        |      WHEN length(x) >= 6 AND x LIKE '%ing'
        |        THEN substr(x, 1, length(x)-3)
        |      WHEN length(x) >= 5 AND x LIKE '%ed'
        |        THEN substr(x, 1, length(x)-2)
        |      WHEN length(x) >= 4 AND x LIKE '%s' AND x NOT LIKE '%ss'
        |        AND x NOT LIKE '%us' AND x NOT LIKE '%is'
        |        THEN substr(x, 1, length(x)-1)
        |      ELSE x END) AS toks FROM t)
        |SELECT k FROM m
        |WHERE list_contains(toks, 'spark') AND list_contains(toks, 'join')
        |ORDER BY k""".stripMargin,

    "ft_search_and" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE list_contains(string_split_regex(lower(text), '[^a-z0-9]+'), 'spark')
        |  AND list_contains(string_split_regex(lower(text), '[^a-z0-9]+'), 'join')
        |ORDER BY doc_id""".stripMargin,

    "ft_search_or" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE list_contains(string_split_regex(lower(text), '[^a-z0-9]+'), 'vector')
        |  OR list_contains(string_split_regex(lower(text), '[^a-z0-9]+'), 'stream')
        |ORDER BY doc_id""".stripMargin,

    "ft_phrase" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      x -> length(x) > 0) AS toks
        |  FROM documents)
        |SELECT doc_id, source FROM t
        |WHERE list_contains(list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
        |  i -> array_to_string(toks[CAST(i AS INT):CAST(i + 1 AS INT)], ' ')),
        |  'spark join')
        |ORDER BY doc_id""".stripMargin,

    // the same window around the first occurrence, re-derived from the
    // text — gating that the index's positions agree with the corpus
    "ft_snippet" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      x -> length(x) > 0) AS toks
        |  FROM documents),
        |h AS (SELECT doc_id, toks, list_position(toks, 'stream') AS p,
        |    len(list_filter(toks, x -> x = 'stream')) AS n_hits
        |  FROM t WHERE list_contains(toks, 'stream'))
        |SELECT doc_id, CAST(p AS INT) AS first_pos, n_hits,
        |  array_to_string(toks[CAST(greatest(p - 3, 1) AS INT):
        |    CAST(least(p + 4, len(toks)) AS INT)], ' ') AS snippet
        |FROM h ORDER BY doc_id""".stripMargin,

    "ft_phrase_analyzed" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      x -> length(x) > 0) AS toks
        |  FROM documents),
        |a AS (
        |  SELECT doc_id, source, list_transform(toks, x -> CASE
        |    WHEN x IN ('a','an','and','are','as','at','be','but','by','for',
        |       'if','in','into','is','it','no','not','of','on','or',
        |       'such','that','the','their','then','there','these',
        |       'they','this','to','was','will','with') THEN ''
        |    WHEN length(x) >= 5 AND x LIKE '%ies'
        |      THEN substr(x, 1, length(x)-3) || 'y'
        |    WHEN x LIKE '%sses' THEN substr(x, 1, length(x)-2)
        |    WHEN length(x) >= 6 AND x LIKE '%ing'
        |      THEN substr(x, 1, length(x)-3)
        |    WHEN length(x) >= 5 AND x LIKE '%ed'
        |      THEN substr(x, 1, length(x)-2)
        |    WHEN length(x) >= 4 AND x LIKE '%s' AND x NOT LIKE '%ss'
        |      AND x NOT LIKE '%us' AND x NOT LIKE '%is'
        |      THEN substr(x, 1, length(x)-1)
        |    ELSE x END) AS ix
        |  FROM t)
        |SELECT doc_id, source FROM a
        |WHERE len(list_filter(range(1, greatest(len(ix) - 2, 0) + 1),
        |  p -> ix[CAST(p AS INT)] = 'join'
        |    AND ix[CAST(p + 2 AS INT)] = 'vector')) > 0
        |ORDER BY doc_id""".stripMargin,

    "ft_prefix" ->
      """SELECT doc_id, lang FROM documents
        |WHERE len(list_filter(
        |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> length(x) > 0),
        |  t -> t LIKE 'vect%')) > 0
        |ORDER BY doc_id""".stripMargin,

    "ft_fuzzy" ->
      """SELECT doc_id, source FROM documents
        |WHERE len(list_filter(
        |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> length(x) > 0),
        |  t -> levenshtein(t, 'part') <= 2)) > 0
        |ORDER BY doc_id""".stripMargin,

    "ft_tfidf_topk" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM toks
        |  WHERE term IN ('spark','join') GROUP BY doc_id, term),
        |df AS (
        |  SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks
        |  WHERE term IN ('spark','join') GROUP BY term),
        |n AS (SELECT COUNT(*) AS n FROM documents)
        |SELECT doc_id,
        |  ROUND(SUM(tf * ln(CAST(n.n AS DOUBLE) / df.df)), 4) AS score
        |FROM tf JOIN df USING(term) CROSS JOIN n
        |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "ft_bm25_topk" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'),
        |    x -> length(x) > 0)) AS term
        |  FROM documents),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
        |tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM toks
        |  WHERE term IN ('spark','join') GROUP BY doc_id, term),
        |df AS (
        |  SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks
        |  WHERE term IN ('spark','join') GROUP BY term),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |ad AS (SELECT CAST(SUM(dl) AS DOUBLE) / (SELECT COUNT(*) FROM documents) AS avgdl FROM dl)
        |SELECT tf.doc_id,
        |  ROUND(SUM(
        |    ln(1 + (CAST(n.n AS DOUBLE) - df.df + 0.5) / (df.df + 0.5)) *
        |    (tf.tf * 2.2) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / ad.avgdl))
        |  ), 4) AS score
        |FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id
        |CROSS JOIN n CROSS JOIN ad
        |GROUP BY tf.doc_id
        |ORDER BY score DESC, tf.doc_id LIMIT 20""".stripMargin,

    // the WAND gate's oracle is deliberately the EXHAUSTIVE scorer:
    // pruning must be invisible in the result, hash-for-hash
    "ft_bm25_wand" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'),
        |    x -> length(x) > 0)) AS term
        |  FROM documents),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
        |tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM toks
        |  WHERE term IN ('merge','window','batch') GROUP BY doc_id, term),
        |df AS (
        |  SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks
        |  WHERE term IN ('merge','window','batch') GROUP BY term),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |ad AS (SELECT CAST(SUM(dl) AS DOUBLE) / (SELECT COUNT(*) FROM documents) AS avgdl FROM dl)
        |SELECT tf.doc_id,
        |  ROUND(SUM(
        |    ln(1 + (CAST(n.n AS DOUBLE) - df.df + 0.5) / (df.df + 0.5)) *
        |    (tf.tf * 2.2) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / ad.avgdl))
        |  ), 4) AS score
        |FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id
        |CROSS JOIN n CROSS JOIN ad
        |GROUP BY tf.doc_id
        |ORDER BY score DESC, tf.doc_id LIMIT 20""".stripMargin,

    "ft_hybrid_rrf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM toks
        |  WHERE term IN ('spark','join') GROUP BY doc_id, term),
        |df AS (
        |  SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks
        |  WHERE term IN ('spark','join') GROUP BY term),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |lexs AS (
        |  SELECT doc_id, ROUND(SUM(tf * ln(CAST(n.n AS DOUBLE) / df.df)), 4) AS score
        |  FROM tf JOIN df USING(term) CROSS JOIN n
        |  GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 50),
        |lex AS (
        |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r_lex
        |  FROM lexs),
        |vecs AS (
        |  SELECT e.vec_id AS doc_id,
        |    ROUND(list_cosine_similarity(e.embedding, q.embedding), 3) AS score
        |  FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |  WHERE e.vec_id <> 0
        |  ORDER BY score DESC, e.vec_id LIMIT 50),
        |vec AS (
        |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r_vec
        |  FROM vecs)
        |SELECT doc_id,
        |  ROUND(COALESCE(CAST(1.0 AS DOUBLE) / (60 + r_lex), 0) +
        |        COALESCE(CAST(1.0 AS DOUBLE) / (60 + r_vec), 0), 6) AS rrf
        |FROM lex FULL OUTER JOIN vec USING (doc_id)
        |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin,
  )
}

