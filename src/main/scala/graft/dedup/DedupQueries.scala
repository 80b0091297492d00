package graft.dedup

import graft.Tables
import graft.similarity.Ann
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SparkEntry wiring for SURVEY.md §2 "dedup" + "similarity search".
  *
  * The driver's corpus has no duplicate documents, so dup-finding
  * queries run against the corpus plus a deterministic planted-dup
  * overlay (copies of low-id docs, id+Tables.PlantedIdBase, some with a trailing
  * token appended). The DuckDB oracle replicates the same overlay, so
  * the expected answer is exactly the planted pairs — a real
  * ground-truth check of recall AND precision.
  */
object DedupQueries {

  /** documents ∪ exact copies of doc_id<10 ∪ near copies (one
    * appended token) of 10≤doc_id<20, with ids offset by 1e6. */
  private def plantedDocs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val exactCopies = docs.filter(col("doc_id") < 10)
      .withColumn("doc_id", col("doc_id") + Tables.PlantedIdBase)
    val nearCopies = docs.filter(col("doc_id") >= 10 && col("doc_id") < 20)
      .withColumn("doc_id", col("doc_id") + Tables.PlantedIdBase)
      .withColumn("text", concat(col("text"), lit(" graftdup")))
    docs.unionByName(exactCopies).unionByName(nearCopies)
  }

  /** [[plantedDocs]] fanned across cores BEFORE a heavy narrow text
    * chain (tokenize → shingle → hash) — the st_stream_urldedup /
    * mm_audio_fp rule: a small corpus arrives as ONE scan split, and
    * per-row shingling at one-task parallelism IS those queries' cost
    * (profiled: 1-2 s exec with <30 tasks at sf0.1). Conf-derived
    * fan-out, never a literal; the exchange moves the text bytes
    // once, noise next to the shingling it parallelizes. Used ONLY by
    * the shingle-heavy consumers — for light consumers (exact hash,
    * embedding math) the extra text shuffle measured as a net LOSS,
    * so they stay on the un-fanned source. */
  private def plantedDocsFanned(s: SparkSession, d: String): DataFrame =
    graft.streaming.StreamQueries.fanned(s, plantedDocs(s, d),
      graft.QueryCaches.scanParallelism(s, d, "documents"))

  /** The n-gram-Jaccard candidate pair graph (n=3, threshold 0.8),
    * memoized per (JVM, dir) like [[minhashPairs]]: dd_ngram_jaccard,
    * dd_cc_labels and dd_pagerank all iterate over this SAME pair set
    * — rebuilding the posting self-join per query misrepresents both
    * the design (one candidate graph, several consumers) and the
    * benchmark, exactly the shared-index rule QueryCaches documents.
    * The first consumer pays the build; the oracle replays the
    * identical pipeline per query, so values are unchanged. */
  private def ngramPairs(s: SparkSession, d: String): DataFrame =
    graft.QueryCaches.frame(s"ngram_pairs:$d")(
      Dedup.ngramJaccard(plantedDocsFanned(s, d), "doc_id", "text",
        n = 3, threshold = 0.8))

  private val plantedDocsSql =
    s"""SELECT * FROM documents
      |  UNION ALL
      |  SELECT doc_id + ${Tables.PlantedIdBase} AS doc_id, text, lang, source, n_chars
      |  FROM documents WHERE doc_id < 10
      |  UNION ALL
      |  SELECT doc_id + ${Tables.PlantedIdBase} AS doc_id, text || ' graftdup' AS text, lang, source, n_chars
      |  FROM documents WHERE doc_id >= 10 AND doc_id < 20""".stripMargin

  /** corpus → tokens → distinct 3-gram shingles (`sh`) — the shared
    * tokenization prefix of every shingle-based oracle (the SQL mirror
    * of Dedup.shingles / HashExpressions.wordShingles). */
  private def shingleCtesFor(corpusSql: String) =
    s"""corpus AS ($corpusSql),
       |t AS (SELECT doc_id,
       |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> length(x) > 0) AS toks
       |  FROM corpus),
       |sh AS (SELECT doc_id,
       |  CASE WHEN len(toks) = 0 THEN [] ELSE
       |    list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
       |      i -> array_to_string(toks[CAST(i AS INT):CAST(i + 2 AS INT)], ' '))) END AS s
       |  FROM t)""".stripMargin

  /** The n-gram-Jaccard pair pipeline as a reusable CTE chain
    * (corpus → shingles → df-cut postings → shared counts → `jpairs`
    * with the unrounded ratio `j`) — the oracle side of
    * Dedup.ngramJaccard, shared by dd_ngram_jaccard and the
    * connected-components gate built on its pair graph. */
  private def jaccardCtesFor(corpusSql: String) =
    s"""${shingleCtesFor(corpusSql)},
       |sizes AS (SELECT doc_id, len(s) AS sz FROM sh),
       |posting AS (SELECT doc_id, unnest(s) AS sgl FROM sh),
       |rare AS (SELECT sgl FROM posting GROUP BY sgl
       |         HAVING COUNT(*) >= 2 AND COUNT(*) <=
       |           (SELECT greatest(100, CAST(ceil(COUNT(*) * 0.02) AS BIGINT))
       |            FROM corpus)),
       |p AS (SELECT posting.doc_id, posting.sgl FROM posting JOIN rare USING (sgl)),
       |shared AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
       |  FROM p a JOIN p b ON a.sgl = b.sgl AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |jpairs AS (
       |  SELECT doc_a, doc_b,
       |    CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) AS j
       |  FROM shared
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b
       |  WHERE CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) >= 0.8)""".stripMargin

  private val jaccardCtes = jaccardCtesFor(plantedDocsSql)

  /** plantedDocs plus a SECOND exact copy of doc_id<10 (ids
    * +2·PlantedIdBase): turns each planted pair into a mutually-
    * similar triple, the ground truth triangle enumeration needs. */
  private def triDocs(s: SparkSession, d: String): DataFrame =
    plantedDocs(s, d).unionByName(
      Tables.documents(s, d).filter(col("doc_id") < 10)
        .withColumn("doc_id", col("doc_id") + 2 * Tables.PlantedIdBase))

  private val triDocsSql =
    s"""$plantedDocsSql
      |  UNION ALL
      |  SELECT doc_id + ${2 * Tables.PlantedIdBase} AS doc_id,
      |    text, lang, source, n_chars
      |  FROM documents WHERE doc_id < 10""".stripMargin

  /** embeddings ∪ exact vector copies of vec_id<5 (ids +1e6). */
  private def plantedEmbs(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    e.unionByName(e.filter(col("vec_id") < 5)
      .withColumn("vec_id", col("vec_id") + Tables.PlantedIdBase))
  }

  private val plantedEmbsSql =
    s"""SELECT * FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + ${Tables.PlantedIdBase} AS vec_id, embedding, label
      |  FROM embeddings WHERE vec_id < 5""".stripMargin

  /** The LSH candidate-pair set is an index-like artifact (built once,
    * consulted by pair listing AND clustering) — memoized per dir like
    * the full-text postings. */
  private def minhashPairs(s: SparkSession, d: String): DataFrame =
    graft.QueryCaches.frame(s"minhash_pairs:$d")(
      Dedup.minhashLsh(plantedDocsFanned(s, d), "doc_id", "text", threshold = 0.5))

  /** The gate-facing LSH pair set on the md5-hex hash family
    * (Dedup.minhashLshHex) — same banding pipeline, every hash
    * replayable in DuckDB, so dd_minhash_lsh and the keep-list built
    * on its pair graph run under the FULL oracle. Production callers
    * stay on [[minhashPairs]]' native xxhash64 signatures. */
  private def minhashPairsHex(s: SparkSession, d: String): DataFrame =
    graft.QueryCaches.frame(s"minhash_pairs_hex:$d")(
      Dedup.minhashLshHex(plantedDocsFanned(s, d), "doc_id", "text",
        sigLen = 16, rowsPerBand = 4, threshold = 0.5))

  /** DuckDB replay of [[Dedup.minhashLshHex]] (sigLen 16, 4 rows per
    * band): per-row signature mins, per-band md5 over the '|'-joined
    * rows, banded candidate pairs, agreement-fraction estimate cut —
    * ending in `lshpairs(doc_a, doc_b, ej)` with the unrounded
    * estimate. */
  private def minhashHexCtesFor(corpusSql: String) =
    s"""${shingleCtesFor(corpusSql)},
       |shp AS (SELECT doc_id, unnest(s) AS sgl FROM sh WHERE len(s) > 0),
       |sigrow AS (SELECT doc_id, i, min(md5(CAST(i AS VARCHAR) || ':' || sgl)) AS m
       |           FROM shp CROSS JOIN (SELECT unnest(range(0, 16)) AS i)
       |           GROUP BY doc_id, i),
       |sig AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM sigrow GROUP BY doc_id),
       |banded AS (SELECT doc_id, band,
       |    md5(array_to_string(sig[CAST(band*4+1 AS INT):CAST(band*4+4 AS INT)], '|')) AS bh
       |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS band)),
       |cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |lshpairs AS (SELECT doc_a, doc_b,
       |    CAST(len(list_filter(range(1, 17),
       |      i -> sa.sig[CAST(i AS INT)] = sb.sig[CAST(i AS INT)])) AS DOUBLE) / 16 AS ej
       |  FROM cands
       |  JOIN sig sa ON sa.doc_id = cands.doc_a
       |  JOIN sig sb ON sb.doc_id = cands.doc_b
       |  WHERE CAST(len(list_filter(range(1, 17),
       |      i -> sa.sig[CAST(i AS INT)] = sb.sig[CAST(i AS INT)])) AS DOUBLE) / 16 >= 0.5)""".stripMargin

  /** The PERSISTED vector index serving every ANN search: an `emb`
    * fixture table backfilled from the real embeddings corpus, indexed
    * with the catalog's `vector` flavor (Catalog.createIndex —
    * centroids + codebooks + cluster-sorted encoded entries on disk,
    * the reference's persisted-index contract), its navigable graph
    * built at the PRE-merge base, then CDC-merged with the planted
    * exact copies. The merge keeps the index FRESH by appending an
    * encoded segment (Catalog.maintainAnalyticIndexes) and leaves the
    * graph alone, so the planted-pair recall gates below run THROUGH
    * the segmented read view and the merged rows are exactly the
    * graph's fresh delta — the production maintenance path, not a
    * per-process rebuild. Built once per (JVM, dir): build is DDL, the
    * timed queries measure SEARCH. Returns (catalog, view, centroids,
    * meta), the frames Spark-cached. */
  private def vecFixture(s: SparkSession, d: String): (graft.kv.Catalog,
      DataFrame, DataFrame, graft.similarity.VectorIndex.VMeta) =
    graft.QueryCaches.fixture(s, d, "emb") { cat =>
      val e = Tables.embeddings(s, d)
      cat.createTable("emb", e.schema, Seq("vec_id"))
      cat.bulkLoad("emb", e, partitions = 2)
      cat.createIndex("emb", "ann", "vector", Seq("embedding"))
      cat.buildVectorGraph("emb", "ann")
      cat.incrementalMerge("emb", e.filter(col("vec_id") < 5)
        .withColumn("vec_id", col("vec_id") + Tables.PlantedIdBase))
      val (view, cent, meta) = cat.vectorIndexView("emb", "ann")
      (cat, view.cache(), cent.cache(), meta)
    }

  /** The vector fixture's (view, centroids, meta). */
  private[graft] def vecIndex(s: SparkSession, d: String):
      (DataFrame, DataFrame, graft.similarity.VectorIndex.VMeta) = {
    val (_, view, cent, meta) = vecFixture(s, d)
    (view, cent, meta)
  }

  /** The sharded navigable-graph index (graph, centroids, delta) over
    * the SAME persisted vector index every other ANN flavor serves
    * from — through the CATALOG-PERSISTED `graph_v` artifact
    * (Catalog.buildVectorGraph / vectorGraphView): the CDC-merged
    * segment rows surface through the structural DELTA BUFFER
    * (view ∖ graph, the DiskANN fresh-buffer recipe), and
    * `CALL system.compact_index` folds the delta into only the TOUCHED
    * per-list graphs (Catalog.foldIndexStack's graph-era branch) so the
    * buffer stays patch-sized under continuous CDC. The recall gates
    * genuinely run through the CDC merge. */
  private def hnswParts(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val (cat, _, cent, _) = vecFixture(s, d)
    val (graph, delta) = cat.vectorGraphView("emb", "ann")
    (graft.QueryCaches.frame(s"hnsw_graph:$d")(graph),
      cent,
      delta.select(col("rk"), col("v")))
  }

  private def ivfIdx(s: SparkSession, d: String): Ann.IvfIndex = {
    val (view, cent, _) = vecIndex(s, d)
    val idx = graft.similarity.VectorIndex.ivfOf(cent, view)
    // the range-search pruning statistic is a SNAPSHOT property:
    // memoized per index (production path: persisted with the index,
    // CDC-folded by max), never recomputed per query batch
    idx.copy(listRadii = Some(graft.QueryCaches.frame(s"ivfradii:$d")(
      Ann.listRadiiOf(idx.assigned, idx.centroids))))
  }

  private def pqIdx(s: SparkSession, d: String): graft.similarity.Pq.PqIndex = {
    val (view, _, meta) = vecIndex(s, d)
    graft.similarity.VectorIndex.pqOf(meta, view)
  }

  private def ivfPqIdx(s: SparkSession, d: String): graft.similarity.Pq.IvfPqIndex = {
    val (view, cent, meta) = vecIndex(s, d)
    graft.similarity.VectorIndex.ivfPqOf(meta, cent, view)
  }

  /** The near-dup cluster assignment (Ann.clusterAssign) — the same
    * persisted-index contract as the IVF/PQ indexes: the k-means fit
    * and corpus bucketing are the BUILD, the pair join is the query. */
  private def dupAssign(s: SparkSession, d: String): DataFrame =
    graft.QueryCaches.frame(s"dupassign:$d")(
      graft.similarity.Ann.clusterAssign(plantedEmbs(s, d), "vec_id", "embedding",
        targetListSize = 64, nprobe = 2))

  /** SemDeDup corpus: plantedEmbs plus SECOND exact copies of
    * vec_id<5 (+2·PlantedIdBase — each planted pair becomes a
    * 3-member semantic CLUSTER, so keep-one-per-cluster is actually
    * exercised) plus 1.001-SCALED copies of 5≤vec_id<10
    * (+3·PlantedIdBase — genuinely different float vectors with
    * cosine exactly 1.0 after 3-dp rounding, the paraphrase stand-in
    * that stays bit-stable across engines; the per-element float
    * product of two float32s is exact in double, so both engines
    * quantize to the same float32 vector). */
  private def semEmbs(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val b = Tables.PlantedIdBase
    plantedEmbs(s, d)
      .unionByName(e.filter(col("vec_id") < 5)
        .withColumn("vec_id", col("vec_id") + 2 * b))
      .unionByName(e.filter(col("vec_id") >= 5 && col("vec_id") < 10)
        .withColumn("vec_id", col("vec_id") + 3 * b)
        .withColumn("embedding",
          transform(col("embedding"), x => x * lit(1.001f))))
  }

  private val semEmbsSql =
    s"""$plantedEmbsSql
      |  UNION ALL
      |  SELECT vec_id + ${2 * Tables.PlantedIdBase} AS vec_id, embedding, label
      |  FROM embeddings WHERE vec_id < 5
      |  UNION ALL
      |  SELECT vec_id + ${3 * Tables.PlantedIdBase} AS vec_id,
      |    list_transform(embedding,
      |      x -> CAST(x * CAST(1.001 AS FLOAT) AS FLOAT)) AS embedding,
      |    label
      |  FROM embeddings WHERE vec_id >= 5 AND vec_id < 10""".stripMargin

  /** The SemDeDup assignment over the semantic-cluster corpus — built
    * once like dupAssign (the k-means fit + bucketing is the index). */
  private def semAssign(s: SparkSession, d: String): DataFrame =
    graft.QueryCaches.frame(s"semassign:$d")(
      graft.similarity.Ann.clusterAssign(semEmbs(s, d), "vec_id", "embedding",
        targetListSize = 64, nprobe = 2))

  /** Decontamination inputs shared by the exact and bloom-prefiltered
    * sweeps: (corpus with planted leaks, distinct eval 8-gram set). */
  private def decontamFrames(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d)
    val leaked = docs.filter(col("doc_id").between(100, 104))
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(lit("leak "), col("text")).as("text"))
    val corpus = docs.filter(!col("doc_id").between(100, 119))
      .select(col("doc_id"), col("text")).unionByName(leaked)
    val evalGrams = Dedup.shingles(
        docs.filter(col("doc_id").between(100, 119)), "doc_id", "text", 8)
      .select(explode(col("sh")).as("g")).distinct()
    (corpus, evalGrams)
  }

  /** Exact-substring corpus: documents plus two SQL-reproducible
    * plants — (a) mirror copies of docs 200-204 behind a 3-token
    * prefix (ids +3e6): the shared suffix duplicates, the prefix
    * does not; (b) "chimera" docs (ids +4e6) splicing tokens 1-24
    * and 30-53 of docs 210-219 around 20 PER-DOC-UNIQUE filler
    * tokens ("xsf<doc_id>n<i>"): two separated duplicated chunks per
    * source doc AND per chimera, so the span merge must produce
    * MULTIPLE islands on both sides of each pair. (A filler shared
    * across chimeras would itself duplicate, bridging the chunks
    * into one chimera-side island — the first cut had exactly that
    * flaw.) */
  private def substrCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val mirrors = docs.filter(col("doc_id").between(200, 204))
      .select((col("doc_id") + 3000000L).as("doc_id"),
        concat(lit("exactsub mirror prefix "), col("text")).as("text"))
    val filler = transform(sequence(lit(1), lit(20)),
      i => concat(lit("xsf"), col("doc_id"), lit("n"), i))
    val chimeras = docs
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("toks"))
      .filter(col("doc_id").between(210, 219) && size(col("toks")) >= 54)
      .select((col("doc_id") + 4000000L).as("doc_id"),
        concat(array_join(slice(col("toks"), 1, 24), " "),
          lit(" "), array_join(filler, " "), lit(" "),
          array_join(slice(col("toks"), 30, 24), " ")).as("text"))
    docs.unionByName(mirrors).unionByName(chimeras)
  }

  /** Index warmup for Bench: build the shared pair set + IVF/PQ
    * indexes the way the full-text postings/dictionary/bitmaps are
    * prebuilt — index BUILD is DDL; the timed queries measure SEARCH. */
  def warmIndexes(s: SparkSession, d: String): Unit = {
    minhashPairs(s, d).count()
    minhashPairsHex(s, d).count()
    val (view, cent, _) = vecIndex(s, d)
    view.count(); cent.count()
    dupAssign(s, d).count()
    semAssign(s, d).count()
    // the graph-ANN catalog (table + vector index + graph build + CDC
    // merge) is DDL — the timed sim_hnsw_* queries measure SEARCH
    val (g, _, dl) = hnswParts(s, d)
    g.count(); dl.count()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dd_exact" -> { (s, d) =>
      import s.implicits._
      Dedup.exact(plantedDocs(s, d), "doc_id", "text")
        .orderBy($"keeper")
    },

    "dd_ngram_jaccard" -> { (s, d) =>
      import s.implicits._
      ngramPairs(s, d).orderBy($"doc_a", $"doc_b")
    },

    "dd_minhash_lsh" -> { (s, d) =>
      import s.implicits._
      // the md5-hex family so the WHOLE banding pipeline replays in
      // DuckDB (full oracle); production signatures stay xxhash64
      // (minhashPairs — exercised by DedupSpec and the bench floor)
      minhashPairsHex(s, d).orderBy($"doc_a", $"doc_b")
    },

    "dd_simhash" -> { (s, d) =>
      import s.implicits._
      Dedup.simhashPairs(plantedDocsFanned(s, d), "doc_id", "text", maxHamming = 3)
        .orderBy($"doc_a", $"doc_b")
    },

    "dd_embedding" -> { (s, d) =>
      import s.implicits._
      Dedup.embeddingDupsFromAssign(dupAssign(s, d), threshold = 0.95)
        .orderBy($"id_a", $"id_b")
    },

    "dd_keep_list" -> { (s, d) =>
      import s.implicits._
      // drop-list over the hex LSH pair graph: the min-id fixpoint
      // composes with the oracle's recursive transitive closure, so
      // this graduates to the full oracle alongside dd_minhash_lsh
      Dedup.dropList(minhashPairsHex(s, d)).orderBy($"doc_id")
    },

    "dd_dedup_pipeline" -> { (s, d) =>
      import s.implicits._
      // the END-TO-END fuzzy-dedup pipeline a corpus curator runs
      // (the SlimPajama/RefinedWeb recipe, every stage already §2-
      // gated alone, composed here under ONE oracle): LSH candidate
      // generation (the hex family) → EXACT n-gram-Jaccard
      // verification of just the candidate pairs (per-pair shingle
      // intersect — candidate-bounded, never corpus²; kills LSH
      // false positives the estimate lets through) → connected
      // components → min-id drop list.
      val cands = minhashPairsHex(s, d)
      val sh = Dedup.shingles(plantedDocsFanned(s, d), "doc_id", "text", n = 3)
      val verified = cands
        .join(sh.select($"doc_id".as("doc_a"), $"sh".as("sha")), Seq("doc_a"))
        .join(sh.select($"doc_id".as("doc_b"), $"sh".as("shb")), Seq("doc_b"))
        .withColumn("jaccard",
          size(array_intersect($"sha", $"shb")).cast("double") /
            size(array_union($"sha", $"shb")))
        .filter($"jaccard" >= 0.8)
        .select($"doc_a", $"doc_b", $"jaccard")
      Dedup.dropList(verified).orderBy($"doc_id")
    },

    "dd_cc_labels" -> { (s, d) =>
      import s.implicits._
      // The iterative connected-components operator under a FULL
      // oracle: min-label propagation over the (SQL-replicable)
      // n-gram-Jaccard pair graph, gated against DuckDB's recursive
      // transitive closure. dd_keep_list exercises the same operator
      // over MinHash pairs (rows-only — xxhash64 signatures); this
      // key proves the fixpoint itself, label for label.
      Dedup.clusters(ngramPairs(s, d)).orderBy($"doc_id")
    },

    "dd_pagerank" -> { (s, d) =>
      import s.implicits._
      // WEIGHTED iterative graph computation under a full oracle —
      // the centrality companion to dd_cc_labels' label fixpoint:
      // 3-round damped PageRank over the same SQL-replicable
      // n-gram-Jaccard pair graph, ranking each dup cluster's members
      // by representativeness (the keeper a trainer would keep,
      // instead of dd_keep_list's min-id rule). Decimal contribution
      // sums + per-round 9-dp re-quantization make the power
      // iteration bit-identical across engines; the oracle unrolls
      // the same three rounds as CTEs.
      Dedup.pagerank(ngramPairs(s, d), iters = 3).orderBy($"doc_id")
    },

    "dd_minhash_cc" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // Representative-ranked keeper selection composed END-TO-END
      // over the hex-LSH candidate graph (each stage already §2-gated
      // alone; the composition runs under ONE oracle): MinHash-LSH
      // banding → connected components (min-label fixpoint) →
      // weighted PageRank centrality on the SAME pair graph →
      // per-cluster keeper = the HIGHEST-RANK member (doc_id
      // tie-break) — the medoid-ish doc a trainer keeps, where
      // dd_keep_list keeps the arbitrary min id. The keeper window
      // runs per dup CLUSTER (bounded at any corpus size — near-dup
      // clusters are small by construction; no corpus-wide window).
      val pairs = minhashPairsHex(s, d)
      val cc = Dedup.clusters(pairs)
      val pr = Dedup.pagerank(pairs)
      val w = Window.partitionBy($"cluster").orderBy($"rank".desc, $"doc_id")
      cc.join(pr.select($"doc_id", $"rank"), Seq("doc_id"))
        .withColumn("keeper", first($"doc_id").over(w))
        .select($"doc_id", $"cluster", $"rank", $"keeper")
        .orderBy($"doc_id")
    },

    "dd_source_overlap" -> { (s, d) =>
      import s.implicits._
      // Cross-SOURCE contamination matrix — "which sources duplicate
      // each other" at corpus scale: per-source KMV sketches over the
      // 3-gram shingle sets, intersected pairwise with the theta
      // algebra (Sketches.kmvIntersectHex — the production sketch-only
      // path this round factored out, exercised here on its md5-keyed
      // variant for set elements wider than 31 bits). One corpus
      // shingle pass builds ALL the sketches; every pairwise estimate
      // runs on ≤ k·L sketch rows — the exact pairwise overlap (a
      // corpus shingle self-join) rides along as the GATE-ONLY error
      // witness, the evt_kmv_intersect contract.
      val k = 64
      val tu = Tables.documents(s, d)
        .select($"source",
          explode(graft.plans.HashExpressions.wordShingles($"text", 3)).as("sg"))
        .select($"source", md5($"sg").as("h"))
        .distinct()
      val bottom = graft.plans.TopK.perGroup(
          tu, Seq("source"), Seq(("h", false)), k)
        .localCheckpoint(true)
      val sk = graft.streaming.Sketches.kmvIntersectHex(bottom, "source", k)
        .withColumnRenamed("g_a", "source_a")
        .withColumnRenamed("g_b", "source_b")
      val exact = tu.select($"source".as("source_a"), $"h")
        .join(tu.select($"source".as("source_b"), $"h"), Seq("h"))
        .filter($"source_a" < $"source_b")
        .groupBy($"source_a", $"source_b")
        .agg(count(lit(1)).as("n_exact"))
      sk.join(exact, Seq("source_a", "source_b"), "left_outer")
        .select($"source_a", $"source_b", $"n_match", $"n_est",
          coalesce($"n_exact", lit(0L)).as("n_exact"))
        .orderBy($"source_a", $"source_b")
    },

    "sim_label_centroids" -> { (s, d) =>
      import s.implicits._
      // Vector AGGREGATION (the complement of the search family):
      // per-label centroids + intra-label cohesion (mean cosine of
      // members to their centroid) — the corpus-diagnostics view a
      // pipeline runs before trusting labels for filtered search or
      // stratified sampling. Plan shape: one map-side-combining
      // groupBy on (label, pos) builds the centroid sums (the
      // exchange carries k·dim partials, not n·dim rows), the tiny
      // k·dim centroid frame BROADCASTS back onto the exploded
      // members, per-member sums reduce on the member key. Cosine is
      // scale-invariant, so the centroid SUM vector serves as the
      // centroid direction — no mean division anywhere.
      //
      // Cross-engine exactness: components quantize to fixed-point
      // floor(x·2^20) — float→double is exact, ×2^20 is exact, floor
      // is IEEE-identical — so every sum is INTEGER arithmetic; the
      // only doubles are one sqrt/mul/div chain per member over
      // exact integers (IEEE-identical), rounded to 6 dp, then
      // decimal-summed for the order-independent cohesion mean.
      // Centroid-side products go through WIDE integers (Spark
      // DECIMAL(37,0), oracle HUGEINT): sq grows as group-size·2^20,
      // so sq·sq summed over 64 dims exceeds Long near group size
      // ~2100 already — Spark would wrap silently (non-ANSI) while
      // DuckDB widens (r15 ADVICE). Exact up to group size ~9e11.
      val ex = Tables.embeddings(s, d)
        .select($"vec_id", $"label", posexplode($"embedding"))
        .select($"vec_id", $"label", ($"pos" + 1).as("i"),
          floor($"col".cast("double") * 1048576L).as("q"))
      val cent = ex.groupBy($"label", $"i").agg(sum($"q").as("sq"))
      val sqd = $"sq".cast("decimal(18,0)")
      val snorm = cent.groupBy($"label")
        .agg(sqrt(sum(sqd * sqd).cast("double")).as("sn"))
      val scored = ex
        .join(broadcast(cent), Seq("label", "i"))
        .groupBy($"vec_id", $"label")
        .agg(sum($"q".cast("decimal(18,0)") * sqd).cast("double").as("num"),
          sqrt(sum($"q" * $"q").cast("double")).as("vn"))
        .join(broadcast(snorm), "label")
        .withColumn("cos6",
          expr("CAST(ROUND(num / (vn * sn), 6) AS DECIMAL(18,6))"))
      scored.groupBy($"label")
        .agg(count(lit(1)).as("n_vecs"),
          round(sum($"cos6").cast("double") / count(lit(1)), 4).as("cohesion"))
        .orderBy($"label")
    },

    "dd_semdedup" -> { (s, d) =>
      import s.implicits._
      // SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — CLUSTER-level
      // semantic dedup, the keep-one-per-cluster complement of
      // dd_embedding's pair listing: k-means buckets the embeddings
      // (semAssign — the build artifact), within-list pairwise cosine
      // at 0.95 yields the semantic-duplicate graph, connected
      // components group paraphrase clusters (the planted 3-member
      // exact clusters and the scaled near-copies), and each cluster
      // keeps its min-id representative — everything else lands on
      // the drop list with its keeper. Candidate enumeration stays
      // O(n·listSize); the fixpoint is the dd_cc_labels operator; the
      // oracle replays pairs brute-force + recursive closure, so
      // recall AND precision of the whole composition are
      // ground-truth-checked.
      val pairs = Dedup.embeddingDupsFromAssign(semAssign(s, d), threshold = 0.95)
        .select($"id_a".as("doc_a"), $"id_b".as("doc_b"))
      Dedup.dropList(pairs)
        .select($"doc_id".as("vec_id"), $"keeper")
        .orderBy($"vec_id")
    },

    "dd_entity_match" -> { (s, d) =>
      import s.implicits._
      // ENTITY RESOLUTION by approximate string join — q-gram PREFIX
      // FILTERING + verify (Gravano et al. 2001 / Chaudhuri et al.
      // 2006): match an incoming DIRTY batch (planted one-char typos
      // of custkeys ≤ 20, ids +1e6) against the clean master without
      // an all-pairs edit-distance scan. The master indexes each
      // record's 4 RAREST distinct 3-grams (rank by global df, ties
      // by gram): one substitution destroys at most q = 3 grams, so
      // a 1-edit pair must share at least one of the 4 — recall is
      // GUARANTEED by construction, not tuned (an arbitrary df-cut
      // measured 6/21 planted recall here; the prefix scheme finds
      // all 21). The probe joins with ALL its grams; a codegen'd
      // levenshtein ≤ 1 verify rejects the numeric-neighbor
      // candidates blocking lets through. Index side: 4 postings per
      // record (linear); the rank windows over ~16 grams per record,
      // never the corpus.
      import org.apache.spark.sql.expressions.Window
      val clean = Tables.customer(s, d)
        .select($"c_custkey".as("key"), lower($"c_name").as("name"))
      val dirty = clean.filter($"key" <= 20)
        .select(($"key" + 1000000L).as("key"),
          expr("concat(substr(name, 1, 4), 'q', substr(name, 6))").as("name"))
      // names shorter than a gram yield NO grams on either side: the
      // oracle's range(1, length-1) is empty for start > stop, but
      // Spark's sequence(1, length-2) DESCENDS ([1,0]) and would emit
      // bogus grams — pre-filter so both engines agree (and a gramless
      // record is un-blockable anyway; c_name is fixed-width today,
      // this guards the general-name caller)
      def grams(df: DataFrame) = df.filter(length($"name") >= 3)
        .select($"key", $"name",
          explode(expr(
            "transform(sequence(1, length(name) - 2), i -> substring(name, i, 3))"))
            .as("g"))
      val cg = grams(clean).dropDuplicates("key", "g")
      val dfs = cg.groupBy($"g").agg(count(lit(1)).as("df"))
      val cp = cg.join(dfs, Seq("g"))
        .withColumn("rk", row_number().over(
          Window.partitionBy($"key").orderBy($"df", $"g")))
        .filter($"rk" <= 4)
        .select($"key".as("clean_key"), $"name".as("cname"), $"g")
      grams(dirty).select($"key".as("dirty_key"), $"name".as("dname"), $"g")
        .join(cp, Seq("g"))
        .select($"dirty_key", $"dname", $"clean_key", $"cname").distinct()
        .withColumn("dist", levenshtein($"dname", $"cname"))
        .filter($"dist" <= 1)
        .select($"dirty_key", $"clean_key", $"dist")
        .orderBy($"dirty_key", $"clean_key")
    },

    "dd_containment" -> { (s, d) =>
      import s.implicits._
      // ASYMMETRIC containment dedup (Broder 1997's containment
      // coefficient |S_A ∩ S_B| / |S_A|): flags docs mostly INSIDE a
      // larger doc — quote inclusion, excerpt pages, subset crawls —
      // which symmetric Jaccard structurally misses (a small doc in
      // a big one has tiny Jaccard but containment ≈ 1). Planted
      // ground truth: half-length prefix excerpts of docs 20–29 at
      // +3·PlantedIdBase. Same posting/df-cut machinery as
      // ngramJaccard (hashed shingle keys, never all-pairs); the
      // denominator counts a doc's COUNTABLE (df ≥ 2, ≤ cut)
      // shingles, so an excerpt's truncation-boundary shingles
      // (df = 1) drop from both sides and true containment reads 1.0.
      // Containment is directional but shared counts are symmetric:
      // one ordered-pair join, two directional projections.
      val docs = Tables.documents(s, d)
      val excerpts = docs.filter($"doc_id" >= 20 && $"doc_id" < 30)
        .withColumn("doc_id", $"doc_id" + 3 * Tables.PlantedIdBase)
        .withColumn("text", expr("substr(text, 1, length(text) div 2)"))
      val corpus = docs.unionByName(excerpts)
      // same conf-derived fanout as plantedDocsFanned: the shingle
      // chain is the heavy narrow work and the scan arrives as one
      // split at bench scale; corpus stays un-fanned for the tiny
      // `cut` count below
      val posting = Dedup.shingles(
          graft.streaming.StreamQueries.fanned(s, corpus,
            graft.QueryCaches.scanParallelism(s, d, "documents")),
          "doc_id", "text", 3)
        .select($"doc_id", explode($"sh").as("s0"))
        .select($"doc_id", xxhash64($"s0").as("s"))
      val byDf = posting.groupBy("s").agg(count(lit(1)).as("df"))
        .filter($"df" >= 2)
      val cut = corpus.agg(
        greatest(lit(100L), ceil(count(lit(1)) * 0.02).cast("long"))
          .as("maxdf_eff"))
      val rare = byDf.crossJoin(broadcast(cut))
        .filter($"df" <= $"maxdf_eff").select("s")
      val p = posting.join(rare, Seq("s"))
      val sizes = p.groupBy($"doc_id").agg(count(lit(1)).as("sz"))
      val shared = p.as("a").join(p.as("b"),
          $"a.s" === $"b.s" && $"a.doc_id" < $"b.doc_id")
        .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
        .agg(count(lit(1)).as("shared"))
        .join(sizes.select($"doc_id".as("doc_a"), $"sz".as("sza")), "doc_a")
        .join(sizes.select($"doc_id".as("doc_b"), $"sz".as("szb")), "doc_b")
      val dir = shared.select($"doc_a".as("doc_sub"),
          $"doc_b".as("doc_sup"), $"shared", $"sza".as("szsub"))
        .unionByName(shared.select($"doc_b".as("doc_sub"),
          $"doc_a".as("doc_sup"), $"shared", $"szb".as("szsub")))
      dir.withColumn("c", $"shared".cast("double") / $"szsub")
        .filter($"c" >= 0.9)
        .select($"doc_sub", $"doc_sup", round($"c", 4).as("containment"))
        .orderBy($"doc_sub", $"doc_sup")
    },

    "dd_triangles" -> { (s, d) =>
      import s.implicits._
      // Triangle enumeration (the motif-counting graph family beside
      // dd_cc_labels' components and dd_pagerank's centrality): fully
      // mutually-similar doc triples in the Jaccard pair graph — the
      // signal that separates a tight dup CLUSTER from a chain of
      // borderline pairs. The canonical a<b edge orientation makes
      // the wedge join count each triangle exactly once (x<y<z by
      // construction): two shuffles on the join keys, no all-pairs.
      // Near-dup graphs have bounded cluster-sized degrees, so the
      // Σdeg² wedge bound stays linear-ish; a heavy-tailed graph
      // would swap id-order for degree-order (same plan shape).
      // Corpus plants a second exact copy so real triples exist.
      // The edge list feeds THREE join arms — materialize the pair
      // pipeline (posting self-join + df-cut) once, not per arm; the
      // pair set is candidate-sized (near-linear in the corpus, the
      // LshDiagSpec bound), so the checkpoint is cheap at any scale
      val e = Dedup.ngramJaccard(
          graft.streaming.StreamQueries.fanned(s, triDocs(s, d),
            graft.QueryCaches.scanParallelism(s, d, "documents")),
        "doc_id", "text",
          n = 3, threshold = 0.8)
        .select($"doc_a".as("a"), $"doc_b".as("b"))
        .localCheckpoint(true)
      e.as("e1").join(e.as("e2"), $"e1.b" === $"e2.a")
        .select($"e1.a".as("x"), $"e1.b".as("y"), $"e2.b".as("z"))
        .join(e.select($"a".as("x"), $"b".as("z")), Seq("x", "z"))
        .select($"x", $"y", $"z")
        .orderBy($"x", $"y", $"z")
    },

    "dd_mixture_pack" -> { (s, d) =>
      import s.implicits._
      // mixing + packing composed: reweight sources by hash-gated
      // sampling, count tokens, pack greedily under a 512-token
      // budget, report per-pack fill. Fully deterministic (hash
      // membership + range-partitioned id-ordered packing) but the
      // salted xxhash64 gate isn't reproducible in SQL → rows-only;
      // DedupSpec holds the ground-truth checks.
      val mixed = Mixture.sampleByHash(Tables.documents(s, d),
        "doc_id", "source", Map("src0" -> 0.5, "src1" -> 0.25), defaultRate = 1.0)
      val withTokens = mixed.select($"doc_id",
        size(graft.functions.TextFunctions.tokens($"text")).as("n_tokens"))
      Mixture.packGreedy(withTokens, "doc_id", "n_tokens",
          budget = 512, partitions = 4)
        .groupBy($"pack_id")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("pack_tokens"))
        .orderBy($"pack_id")
    },

    "dd_substring" -> { (s, d) =>
      import s.implicits._
      // ExactSubstr dedup (Lee et al. 2021): per-doc maximal spans of
      // >= 16 consecutive tokens duplicated across >= 2 distinct docs
      // (Dedup.substringSpans — gram-window shuffle + per-doc
      // gaps-and-islands, the distributed stand-in for the paper's
      // single-machine suffix array). Corpus carries planted mirrors
      // AND two-chunk chimeras so single- and multi-island merges are
      // both exercised under the oracle.
      Dedup.substringSpans(
          graft.streaming.StreamQueries.fanned(s, substrCorpus(s, d),
            graft.QueryCaches.scanParallelism(s, d, "documents")),
        "doc_id", "text",
          w = 16, minDocs = 2)
        .orderBy($"doc_id")
    },

    "dd_decontam" -> { (s, d) =>
      import s.implicits._
      // Benchmark decontamination: flag training docs sharing any word
      // 8-gram with the "eval set" (docs 100-119). Corpus = everything
      // else plus planted leaks — eval docs 100-104 with a one-token
      // prefix (ids +2e6) — so the sweep must recover exactly the
      // contaminated docs. Shape: the eval-gram set is tiny and
      // broadcast; the corpus side is a map-side shingle explode +
      // semi-join-style aggregation — no O(n²), 100 TB-safe.
      val (corpus, evalGrams) = decontamFrames(s, d)
      // conf-derived fanout ahead of the 8-gram shingle chain (the
      // plantedDocsFanned rule; the corpus scan is one split here)
      Dedup.shingles(graft.streaming.StreamQueries.fanned(s, corpus,
            graft.QueryCaches.scanParallelism(s, d, "documents")),
          "doc_id", "text", 8)
        .select($"doc_id", explode($"sh").as("g"))
        .join(evalGrams, Seq("g"))
        .groupBy($"doc_id").agg(count(lit(1)).as("n_shared"))
        .orderBy($"doc_id")
    },

    "dd_decontam_bloom" -> { (s, d) =>
      import s.implicits._
      // Same contract as dd_decontam (identical oracle), different
      // scale regime: when the eval-gram set is too big to broadcast
      // as an exact hash relation (a full eval-suite union is easily
      // 10^8+ grams), sketch it into a Bloom filter — built by a
      // distributed aggregation, riding the filter expression as a
      // codegen reference object (plans.BloomContainsExpr) — and
      // prune the corpus gram stream BEFORE the join. The exact join
      // then runs only on the sketch's survivors (true hits + fpp
      // noise), so the result is still EXACT: the bloom trades
      // broadcast memory for a re-verify join whose left side is
      // ~|hits|, not ~|corpus grams|. This is the runtime-filter /
      // semi-join-pushdown pattern every 100 TB decontamination run
      // actually uses.
      val (corpus, evalGrams) = decontamFrames(s, d)
      val bloom = Dedup.bloomOf(
        evalGrams.select(xxhash64($"g").as("h")), "h", fpp = 0.01)
      Dedup.shingles(graft.streaming.StreamQueries.fanned(s, corpus,
            graft.QueryCaches.scanParallelism(s, d, "documents")),
          "doc_id", "text", 8)
        .select($"doc_id", explode($"sh").as("g"))
        .filter(graft.plans.HashExpressions.bloomContains(xxhash64($"g"), bloom))
        .join(evalGrams, Seq("g"))
        .groupBy($"doc_id").agg(count(lit(1)).as("n_shared"))
        .orderBy($"doc_id")
    },

    "sim_brute_topk" -> { (s, d) =>
      import s.implicits._
      val e = Tables.embeddings(s, d)
      Ann.bruteTopK(e, "vec_id", "embedding", e.filter($"vec_id" < 20), k = 3)
        .orderBy($"qid", $"rn")
    },

    "sim_filtered_topk" -> { (s, d) =>
      import s.implicits._
      // metadata-constrained vector search: neighbors must share the
      // query's label — the constraint is the join key, so only
      // matching rows reach the cosine kernel (Ann.filteredTopK)
      val e = Tables.embeddings(s, d)
      Ann.filteredTopK(e, "vec_id", "embedding", "label",
          e.filter($"vec_id" < 20), k = 3)
        .orderBy($"qid", $"rn")
    },

    "sim_ivf_ann" -> { (s, d) =>
      import s.implicits._
      Ann.ivfSearch(ivfIdx(s, d), plantedEmbs(s, d).filter($"vec_id" < 20),
          "vec_id", "embedding", k = 3)
        .orderBy($"qid", $"rn")
    },

    "sim_hnsw_filtered" -> { (s, d) =>
      import s.implicits._
      // label-FILTERED graph ANN (the filtered-HNSW recipe,
      // completing the filtered axis across the flavor families):
      // only label matches enter the shortlist, the beam traverses
      // through non-matches (filtering the graph itself would
      // disconnect it for rare labels); labels join rk-keyed AFTER
      // the probe join — probe-bounded, the filteredIvfSearch
      // join-order contract. rows-only; HnswSpec pins the
      // all-rows-match invariant and a recall floor vs the exact
      // filtered scan.
      val (graph, cent, delta) = hnswParts(s, d)
      graft.similarity.Hnsw.filteredSearch(graph, cent, delta,
          plantedEmbs(s, d).select($"vec_id", $"label"),
          Tables.embeddings(s, d).filter($"vec_id" < 6),
          "vec_id", "embedding", "label", k = 10, nprobe = 8,
          ef = 24, maxVisits = 96)
        .orderBy($"qid", $"rn")
    },

    "sim_hnsw_ann" -> { (s, d) =>
      import s.implicits._
      // Graph-based ANN (the HNSW/DiskANN family — the last major
      // axis beside LSH/IVF/PQ): bounded beam descent over per-shard
      // navigable graphs persisted beside the vector index, the CDC
      // segment served from the fresh-delta buffer, shortlist union
      // re-ranked exactly. rows-only (graph edges derive from the
      // seeded k-means shards); RecallGateSpec gates recall@10 ≥ 0.9
      // through the CDC merge and HnswSpec pins the sublinear kernel
      // budget on a clustered corpus.
      val (graph, cent, delta) = hnswParts(s, d)
      graft.similarity.Hnsw.search(graph, cent, delta,
          Tables.embeddings(s, d).filter($"vec_id" < 6),
          "vec_id", "embedding", k = 10, nprobe = 4, ef = 16, maxVisits = 64)
        .orderBy($"qid", $"rn")
    },

    "sim_radius_brute" -> { (s, d) =>
      import s.implicits._
      // radius (range) retrieval: EVERY neighbor with cosine ≥ τ —
      // the mode top-k can't express; exact scan over the planted
      // corpus (exact copies surface at score 1.0), full oracle
      Ann.bruteRadius(plantedEmbs(s, d), "vec_id", "embedding",
          plantedEmbs(s, d).filter($"vec_id" < 20), tau = 0.3)
        .orderBy($"qid", $"nn")
    },

    "sim_radius_indexed" -> { (s, d) =>
      import s.implicits._
      // the same τ-ball served from the persisted IVF index with the
      // triangle-inequality probe bound (Ann.ivfRadius): recall 1.0
      // by construction, so the index-served plan shares the brute
      // scan's FULL oracle — the k-means lists only decide the
      // pruning, never the answer
      Ann.ivfRadius(ivfIdx(s, d),
          Tables.embeddings(s, d).filter($"vec_id" < 20),
          "vec_id", "embedding", tau = 0.3)
        .orderBy($"qid", $"nn")
    },

    "sim_mmr" -> { (s, d) =>
      import s.implicits._
      // MMR-diversified retrieval: exact top-20 relevance shortlist,
      // then the greedy λ=0.7 marginal-relevance selection of 5 —
      // the full iterative algorithm is replicated in the oracle as
      // five unrolled argmax steps, so selection (not just scoring)
      // is hash-gated.
      val e = Tables.embeddings(s, d)
      Ann.mmrTopK(e, "vec_id", "embedding", e.filter($"vec_id" < 20),
          shortlist = 20, k = 5, lambda = 0.7)
        .orderBy($"qid", $"rn")
    },

    "sim_mmr_ann" -> { (s, d) =>
      import s.implicits._
      // the same diversified selection with the shortlist served by
      // the PERSISTED IVF index's coarse probe instead of the exact
      // scan — sublinear candidates, identical greedy fold. k-means
      // lists → rows-only; MmrSpec pins rank-1 agreement with
      // ivfSearch and shortlist containment.
      Ann.mmrAnnTopK(ivfIdx(s, d), plantedEmbs(s, d).filter($"vec_id" < 20),
          "vec_id", "embedding", shortlist = 20, k = 5, lambda = 0.7)
        .orderBy($"qid", $"rn")
    },

    "sim_filtered_ann" -> { (s, d) =>
      import s.implicits._
      // sim_filtered_topk's label constraint served from the catalog's
      // PERSISTED vector index: the label composes INSIDE the IVF
      // probe (pre-rank — top-k among label matches within the probed
      // lists), labels joined rk-keyed from the base table so only
      // probed candidates reach the label test and the cosine kernel.
      // k-means lists → rows-only; FilteredAnnSpec pins the pre-rank
      // contract and a recall floor through this exact path.
      val e = Tables.embeddings(s, d)
      val (view, cent, _) = vecIndex(s, d)
      // the shared index carries the planted sim_* copies — scope to
      // the real corpus like the exact variant's input
      val idx = graft.similarity.VectorIndex.ivfOf(
        cent, view.filter($"rk" < Tables.PlantedIdBase))
      // per-label probe budget from measured label frequencies (one
      // L-row agg, broadcast): a label covering fraction f of the
      // corpus probes ceil(4/f) lists — the uniform 4-label corpus
      // reproduces the constant-16 rule, a skewed one holds candidate
      // mass per label. Still a shrinking fraction of the corpus as N
      // grows (nprobe/√N)
      Ann.filteredIvfSearchAdaptive(idx, e.filter($"vec_id" < 20),
          "vec_id", "embedding", "label", e, k = 3, baseNprobe = 4)
        .orderBy($"qid", $"rn")
    },

    "sim_lsh_ann" -> { (s, d) =>
      import s.implicits._
      val e = plantedEmbs(s, d)
      Ann.lshTopK(e, "vec_id", "embedding", e.filter($"vec_id" < 20), k = 3)
        .orderBy($"qid", $"rn")
    },

    "sim_quant_topk" -> { (s, d) =>
      import s.implicits._
      val e = Tables.embeddings(s, d)
      Ann.quantizedTopK(e, "vec_id", "embedding", e.filter($"vec_id" < 20), k = 3)
        .orderBy($"qid", $"rn")
    },

    "sim_pq_topk" -> { (s, d) =>
      import s.implicits._
      // PQ ADC shortlist + exact cosine re-rank over the planted
      // corpus. Codebook comes from distributed k-means → not SQL-
      // reproducible → rows-only; PqSpec holds the planted-pair
      // recall/score ground truth.
      val e = plantedEmbs(s, d)
      graft.similarity.Pq.pqSearch(pqIdx(s, d), e, e.filter($"vec_id" < 20),
          "vec_id", "embedding", topK = 3)
        .orderBy($"qid", $"rn")
    },

    "dd_stratified_take" -> { (s, d) =>
      import s.implicits._
      // exact-n-per-stratum sampling ("take 20 docs per source"):
      // deterministic hash order (md5 of the id — uniform across the
      // stratum, reproducible, and portable to the SQL oracle) with a
      // bounded-heap TopKPerGroup reduction — at 100 TB this is one
      // map-side-combining shuffle keeping 20 rows per stratum, never
      // a per-group window sort of the corpus.
      val keyed = Tables.documents(s, d)
        .select($"source", $"doc_id", md5($"doc_id".cast("string")).as("h"))
      graft.plans.TopK.perGroup(keyed, Seq("source"),
          Seq(("h", false), ("doc_id", false)), 20)
        .orderBy($"source", $"h")
    },

    "dd_curriculum" -> { (s, d) =>
      import s.implicits._
      // Curriculum scheduling (Bengio et al. 2009 curriculum
      // learning, the data-ordering pass of a training pipeline):
      // rank documents by a difficulty signal (exact token count —
      // the standard short-to-long curriculum), decile them, and
      // interleave the deciles so every training round sees one doc
      // from each difficulty band, easiest band first within the
      // round. A naive NTILE over the corpus would be a
      // SINGLE-PARTITION global window; instead the global rank
      // decomposes as (cumulative count of shorter docs) + (rank
      // within my length), so the only unpartitioned window runs
      // over the LENGTH HISTOGRAM (bounded by max doc length, never
      // corpus-sized) and the per-length window distributes on the
      // length key. NTILE's first-buckets-get-the-remainder contract
      // is reproduced arithmetically from the 0-based global rank —
      // exact integers end to end, so the oracle's real NTILE gates
      // the decomposition.
      import org.apache.spark.sql.expressions.Window
      val scored = Tables.documents(s, d)
        .select($"doc_id",
          size(graft.functions.TextFunctions.tokens($"text"))
            .cast("long").as("n_words"))
      val hist = scored.groupBy($"n_words").agg(count(lit(1)).as("cnt"))
      val offs = hist
        .withColumn("start0",
          sum($"cnt").over(Window.orderBy($"n_words")) - $"cnt")
        .select($"n_words", $"start0")
      val total = hist.agg(sum($"cnt").as("n"))
      val k = 10L
      val ranked = scored
        .withColumn("lrn", row_number().over(
          Window.partitionBy($"n_words").orderBy($"doc_id")))
        .join(broadcast(offs), Seq("n_words"))
        .crossJoin(broadcast(total))
        .withColumn("r0", $"start0" + $"lrn" - 1L)
        // Column./ is DOUBLE division — every quotient below must be
        // integral, hence the `div` operator
        .withColumn("sz", expr(s"n div $k"))
        .withColumn("rem", $"n" % k)
      ranked
        .withColumn("bucket",
          when($"r0" < $"rem" * ($"sz" + 1L),
            expr("r0 div (sz + 1) + 1"))
            .otherwise(expr("rem + (r0 - rem * (sz + 1)) div sz + 1")))
        .withColumn("rnk",
          when($"r0" < $"rem" * ($"sz" + 1L), $"r0" % ($"sz" + 1L) + 1L)
            .otherwise(($"r0" - $"rem" * ($"sz" + 1L)) % $"sz" + 1L))
        .select(
          (($"rnk" - 1L) * k + $"bucket").cast("int").as("pos"),
          $"bucket".cast("int").as("bucket"), $"rnk".cast("int").as("rnk"),
          $"doc_id", $"n_words".cast("int").as("n_words"))
        .orderBy($"pos")
    },

    "dd_temperature_sample" -> { (s, d) =>
      import s.implicits._
      // Temperature-scaled mixture resampling (the XLM-R multilingual
      // recipe, Conneau et al. 2019, arXiv:1911.02116 §3.1: sample
      // languages with probability proportional to frequency^alpha so
      // low-resource slices are up-weighted). alpha = 0.5 makes the
      // per-language keep rate sqrt(n_min/n_l) — every step (integer
      // counts, one division, one sqrt) is IEEE correctly-rounded, so
      // the rate is bit-identical across engines; the Bernoulli gate
      // compares an md5-derived 8-hex-digit uniform against the
      // rate's hex threshold as STRINGS, so no numeric parse happens
      // on the oracle side. The rarest language keeps every document
      // by the exact n_l = n_min test (a hex threshold for rate 1.0
      // would be 9 digits and lpad would truncate it).
      // Shape at 100 TB: two tiny language aggregations broadcast
      // onto one corpus scan with a map-side gate — no shuffle of the
      // corpus at all, the same class as a pushed filter.
      val docs = Tables.documents(s, d)
      val stats = docs.groupBy($"lang").agg(count(lit(1)).as("n_l"))
      val rates = stats
        .crossJoin(broadcast(stats.agg(min($"n_l").as("n_min"))))
        .withColumn("rate",
          sqrt($"n_min".cast("double") / $"n_l".cast("double")))
        .withColumn("thr",
          lpad(lower(hex(floor($"rate" * lit(4294967296.0)).cast("long"))),
            8, "0"))
      docs.join(broadcast(rates), Seq("lang"))
        .where($"n_l" === $"n_min" ||
          substring(md5($"doc_id".cast("string")), 1, 8) < $"thr")
        .select($"lang", $"doc_id", round($"rate", 6).as("rate"))
        .orderBy($"lang", $"doc_id")
    },

    "sim_ivfpq_ann" -> { (s, d) =>
      import s.implicits._
      // the composed two-level stack: IVF prunes the scanned lists,
      // PQ compresses each scanned entry. k-means on both levels →
      // rows-only; PqSpec holds the recall ground truth.
      val e = plantedEmbs(s, d)
      graft.similarity.Pq.ivfPqSearch(ivfPqIdx(s, d), e, e.filter($"vec_id" < 20),
          "vec_id", "embedding", topK = 3, nprobe = 4)
        .orderBy($"qid", $"rn")
    },

    "sim_ms_ann" -> { (s, d) =>
      import s.implicits._
      // Driver-side VECTOR serving (Catalog.driverAnnTopK) — the last
      // index flavor to join the millisecond family: centroids read
      // whole (~√N rows), nprobe coarse probe by the shared negL2
      // metric, ONE cluster-keyed seek per probed list against the
      // cluster-sorted entries base, CDC segments read whole
      // (patch-sized) and tombstone-masked like vectorSegView, exact
      // cosine re-rank on the calling thread — zero Spark jobs,
      // rank-identical to Ann.ivfSearch over the segmented view
      // (DriverGetSpec pins zero jobs, ivfSearch parity, CDC
      // freshness — each query's merge-inserted exact copy surfaces
      // at score 1.0 — and entries-rows-read << corpus). k-means
      // lists → rows-only, like every IVF-served key.
      val cat = vecFixture(s, d)._1
      val qs = Tables.embeddings(s, d).filter($"vec_id" < 5)
        .select($"vec_id", $"embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble)))
        .sortBy(_._1)
      // the BATCH serving face (driverAnnTopKBatch): one artifact
      // resolution + centroid read + union-of-lists base seek + one
      // patch-sized segment/tombstone read serve all five queries —
      // per-query results identical to five driverAnnTopK calls
      // (same core, DriverGetSpec pins the parity)
      val res = cat.driverAnnTopKBatch("emb", "ann",
        qs.toSeq.map { case (qid, qv) => (qv, Some(qid: Any)) },
        k = 3, nprobe = 4)
      qs.zip(res).flatMap { case ((qid, _), topk) =>
        topk.zipWithIndex.map { case ((nn, score), i) =>
          (qid, i + 1, nn.asInstanceOf[Long], score) }
      }.toSeq.toDF("qid", "rn", "nn", "score")
        .orderBy($"qid", $"rn")
    },

    "sim_recall" -> { (s, d) =>
      import s.implicits._
      // Driver-visible ANN quality gate: each planted exact-copy
      // vector (vec_id = original + 1e6) queries every approximate
      // flavor, and a hit means its counterpart appears in the top-10.
      // One row per flavor with recall@10 over the full planted set —
      // a recall collapse now shows up in CORRECTNESS, not only in
      // `sbt test`. rows-only: the k-means fits and LSH hyperplanes
      // are seed-dependent, so no SQL oracle; RecallGateSpec pins
      // recall >= 0.9 per flavor on the same frames.
      val e = plantedEmbs(s, d)
      val probes = e.filter($"vec_id" >= Tables.PlantedIdBase)
      // denominator is the PLANTED set, not the rows a flavor returned
      // — a flavor that drops a query entirely must lose recall for it
      def recallRow(flavor: String, res: DataFrame): DataFrame = {
        val hits = res.filter($"nn" === $"qid" - Tables.PlantedIdBase)
          .select($"qid").distinct().withColumn("hit", lit(1))
        probes.select($"vec_id".as("qid"))
          .join(hits, Seq("qid"), "left")
          .agg(count(lit(1)).as("n_queries"),
            sum(coalesce($"hit", lit(0))).cast("long").as("n_hits"))
          .select(lit(flavor).as("flavor"), $"n_queries", $"n_hits",
            round($"n_hits".cast("double") / $"n_queries", 4).as("recall_at_10"))
      }
      recallRow("ivf",
          Ann.ivfSearch(ivfIdx(s, d), probes, "vec_id", "embedding", k = 10))
        .unionByName(recallRow("ivfpq",
          graft.similarity.Pq.ivfPqSearch(ivfPqIdx(s, d), e, probes,
            "vec_id", "embedding", topK = 10, nprobe = 4)))
        .unionByName(recallRow("lsh",
          Ann.lshTopK(e, "vec_id", "embedding", probes, k = 10)))
        .unionByName(recallRow("pq",
          graft.similarity.Pq.pqSearch(pqIdx(s, d), e, probes,
            "vec_id", "embedding", topK = 10)))
        .unionByName(recallRow("hnsw", {
          // the planted probes are CDC-segment rows the pre-merge
          // graph never saw — this arm gates the delta-buffer path
          val (graph, cent, delta) = hnswParts(s, d)
          graft.similarity.Hnsw.search(graph, cent, delta, probes,
            "vec_id", "embedding", k = 10, nprobe = 4,
            ef = 16, maxVisits = 64)
        }))
        .orderBy($"flavor")
    },
  )

  /** One unrolled PageRank round in oracle SQL — the 9-dp DECIMAL
    * contribution-sum discipline Dedup.pagerank mirrors. Expects CTEs
    * `edges(src,dst)`, `deg(doc_id,degree)`, `nn(n)` and the previous
    * round `prev(doc_id,degree,rank)` in scope. Shared by dd_pagerank
    * and the host-authority oracle (TextQueries). */
  private[graft] def pagerankStepSql(prev: String, out: String): String =
    s"""$out AS (
       |  SELECT g.doc_id, g.degree,
       |    ROUND(CAST(0.15 AS DOUBLE) / nn.n + CAST(0.85 AS DOUBLE) *
       |      CAST(COALESCE(s.s, 0) AS DOUBLE), 9) AS rank
       |  FROM deg g
       |  LEFT JOIN (
       |    SELECT e.dst AS doc_id,
       |      SUM(CAST(ROUND(r.rank / r.degree, 9) AS DECIMAL(24,9))) AS s
       |    FROM edges e JOIN $prev r ON r.doc_id = e.src
       |    GROUP BY e.dst) s USING (doc_id),
       |  nn)""".stripMargin

  def oracles: Map[String, String] = Map(
    "dd_exact" ->
      s"""WITH corpus AS ($plantedDocsSql)
         |SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h,
         |  MIN(doc_id) AS keeper, COUNT(*) AS n_copies
         |FROM corpus WHERE text IS NOT NULL
         |GROUP BY h HAVING COUNT(*) > 1 ORDER BY keeper""".stripMargin,

    "dd_ngram_jaccard" ->
      s"""WITH $jaccardCtes
         |SELECT doc_a, doc_b, ROUND(j, 4) AS jaccard
         |FROM jpairs ORDER BY doc_a, doc_b""".stripMargin,

    "dd_cc_labels" ->
      // the iterative min-label fixpoint replicated as DuckDB's
      // recursive transitive closure over the same Jaccard pair
      // graph: reach(s, d) covers every node's component (including
      // s itself via any back-edge), so the component label is
      // LEAST(MIN(reachable), self)
      s"""WITH RECURSIVE $jaccardCtes,
         |edges AS (SELECT doc_a AS s, doc_b AS d FROM jpairs
         |          UNION ALL SELECT doc_b AS s, doc_a AS d FROM jpairs),
         |reach AS (SELECT s, d FROM edges
         |          UNION
         |          SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
         |SELECT s AS doc_id, LEAST(MIN(d), s) AS cluster
         |FROM reach GROUP BY s ORDER BY doc_id""".stripMargin,

    "dd_pagerank" -> {
      // the same three damped power-iteration rounds, unrolled: each
      // round's contributions ROUND to 9 dp and SUM as DECIMAL(24,9)
      // (order-independent), the 0.15/n + 0.85*s mix runs in DOUBLE
      // (single mul + add — IEEE-identical), and the result
      // re-quantizes to 9 dp before feeding the next round
      def step(prev: String, out: String) = pagerankStepSql(prev, out)
      s"""WITH $jaccardCtes,
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM jpairs
         |          UNION ALL SELECT doc_b AS src, doc_a AS dst FROM jpairs),
         |deg AS (SELECT src AS doc_id, COUNT(*) AS degree
         |        FROM edges GROUP BY src),
         |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
         |r0 AS (SELECT doc_id, degree, ROUND(CAST(1 AS DOUBLE) / nn.n, 9) AS rank
         |       FROM deg, nn),
         |${step("r0", "r1")},
         |${step("r1", "r2")},
         |${step("r2", "r3")}
         |SELECT doc_id, degree, rank FROM r3 ORDER BY doc_id""".stripMargin
    },

    "dd_entity_match" ->
      """WITH clean AS (SELECT c_custkey AS key, lower(c_name) AS name
        |  FROM customer),
        |dirty AS (SELECT key + 1000000 AS key,
        |    substr(name, 1, 4) || 'q' || substr(name, 6) AS name
        |  FROM clean WHERE key <= 20),
        |cg AS (SELECT DISTINCT key, name, g FROM (
        |    SELECT key, name,
        |      unnest(list_transform(range(1, length(name) - 1),
        |        i -> substr(name, CAST(i AS INT), 3))) AS g
        |    FROM clean)),
        |dfs AS (SELECT g, COUNT(*) AS df FROM cg GROUP BY g),
        |cp AS (SELECT clean_key, cname, g FROM (
        |    SELECT cg.key AS clean_key, cg.name AS cname, cg.g,
        |      ROW_NUMBER() OVER (PARTITION BY cg.key
        |        ORDER BY dfs.df, cg.g) AS rk
        |    FROM cg JOIN dfs USING (g)) WHERE rk <= 4),
        |dg AS (SELECT key, name,
        |    unnest(list_transform(range(1, length(name) - 1),
        |      i -> substr(name, CAST(i AS INT), 3))) AS g
        |  FROM dirty),
        |cand AS (SELECT DISTINCT dg.key AS dirty_key, dg.name AS dname,
        |    cp.clean_key, cp.cname
        |  FROM dg JOIN cp USING (g))
        |SELECT dirty_key, clean_key,
        |  CAST(levenshtein(dname, cname) AS INT) AS dist
        |FROM cand WHERE levenshtein(dname, cname) <= 1
        |ORDER BY dirty_key, clean_key""".stripMargin,

    "dd_containment" ->
      s"""WITH corpus AS (SELECT * FROM documents
         |  UNION ALL
         |  SELECT doc_id + ${3 * Tables.PlantedIdBase} AS doc_id,
         |    substr(text, 1, length(text) // 2) AS text, lang, source, n_chars
         |  FROM documents WHERE doc_id >= 20 AND doc_id < 30),
         |t AS (SELECT doc_id,
         |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> length(x) > 0) AS toks
         |  FROM corpus),
         |sh AS (SELECT doc_id,
         |  CASE WHEN len(toks) = 0 THEN [] ELSE
         |    list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
         |      i -> array_to_string(toks[CAST(i AS INT):CAST(i + 2 AS INT)], ' '))) END AS s
         |  FROM t),
         |posting AS (SELECT doc_id, unnest(s) AS sgl FROM sh),
         |rare AS (SELECT sgl FROM posting GROUP BY sgl
         |         HAVING COUNT(*) >= 2 AND COUNT(*) <=
         |           (SELECT greatest(100, CAST(ceil(COUNT(*) * 0.02) AS BIGINT))
         |            FROM corpus)),
         |p AS (SELECT posting.doc_id, posting.sgl FROM posting JOIN rare USING (sgl)),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM p GROUP BY doc_id),
         |shared AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared,
         |    sa.sz AS sza, sb.sz AS szb
         |  FROM p a JOIN p b ON a.sgl = b.sgl AND a.doc_id < b.doc_id
         |  JOIN sizes sa ON sa.doc_id = a.doc_id
         |  JOIN sizes sb ON sb.doc_id = b.doc_id
         |  GROUP BY a.doc_id, b.doc_id, sa.sz, sb.sz),
         |dir AS (
         |  SELECT doc_a AS doc_sub, doc_b AS doc_sup, shared, sza AS szsub
         |  FROM shared
         |  UNION ALL
         |  SELECT doc_b AS doc_sub, doc_a AS doc_sup, shared, szb AS szsub
         |  FROM shared)
         |SELECT doc_sub, doc_sup,
         |  ROUND(CAST(shared AS DOUBLE) / szsub, 4) AS containment
         |FROM dir WHERE CAST(shared AS DOUBLE) / szsub >= 0.9
         |ORDER BY doc_sub, doc_sup""".stripMargin,

    "dd_triangles" ->
      s"""WITH ${jaccardCtesFor(triDocsSql)}
         |SELECT e1.doc_a AS x, e1.doc_b AS y, e2.doc_b AS z
         |FROM jpairs e1
         |JOIN jpairs e2 ON e2.doc_a = e1.doc_b
         |JOIN jpairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
         |ORDER BY x, y, z""".stripMargin,

    "dd_embedding" ->
      // Search space restricted to pairs whose b side is a planted
      // copy: random-pair cosine >= 0.95 is a ~7.6 sigma event, and a
      // spurious Spark-side pair would still fail the two-sided
      // compare as an extra row. Cuts the oracle from O(n^2) pairs to
      // O(n_planted * n).
      s"""WITH corpus AS ($plantedEmbsSql)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ROUND(list_cosine_similarity(a.embedding, b.embedding), 3) AS sim
         |FROM corpus a JOIN corpus b
         |  ON a.vec_id < b.vec_id AND b.vec_id >= ${Tables.PlantedIdBase}
         |WHERE ROUND(list_cosine_similarity(a.embedding, b.embedding), 3) >= 0.95
         |ORDER BY id_a, id_b""".stripMargin,

    "dd_source_overlap" -> {
      // the sketch replayed term for term: per-source shingle md5s,
      // ROW_NUMBER bottom-64, theta as string with the 12-hex-digit
      // numeric parse (lexicographic == numeric on fixed-width hex),
      // plus the exact pairwise witness
      val hex12 = (1 to 12).map(i =>
        s"(strpos('0123456789abcdef', substr(MAX(h), $i, 1)) - 1) * " +
          s"${1L << (4 * (12 - i))}").mkString("(", " + ", ")")
      s"""WITH t AS (SELECT source,
         |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |      x -> length(x) > 0) AS toks
         |  FROM documents),
         |sh AS (SELECT source,
         |    CASE WHEN len(toks) = 0 THEN [] ELSE
         |      list_distinct(list_transform(
         |        range(1, greatest(len(toks) - 2, 1) + 1),
         |        i -> array_to_string(toks[CAST(i AS INT):CAST(i + 2 AS INT)], ' ')))
         |    END AS s
         |  FROM t),
         |tu AS (SELECT DISTINCT source, md5(unnest(s)) AS h FROM sh),
         |bottom AS (SELECT source, h FROM (
         |    SELECT source, h,
         |      ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
         |    FROM tu) WHERE rn <= 64),
         |theta AS (SELECT source,
         |    CASE WHEN COUNT(*) < 64 THEN 'g' ELSE MAX(h) END AS theta,
         |    CASE WHEN COUNT(*) < 64 THEN ${1L << 48} ELSE $hex12 END
         |      AS theta_num
         |  FROM bottom GROUP BY source),
         |pairs AS (SELECT a.source AS source_a, b.source AS source_b,
         |    least(a.theta, b.theta) AS theta,
         |    least(a.theta_num, b.theta_num) AS theta_num
         |  FROM theta a JOIN theta b ON a.source < b.source),
         |m AS (SELECT a.source AS source_a, b.source AS source_b,
         |    COUNT(*) AS n_match
         |  FROM bottom a JOIN bottom b ON a.h = b.h AND a.source < b.source
         |  JOIN pairs p ON p.source_a = a.source AND p.source_b = b.source
         |  WHERE a.h < p.theta
         |  GROUP BY a.source, b.source),
         |x AS (SELECT a.source AS source_a, b.source AS source_b,
         |    COUNT(*) AS n_exact
         |  FROM tu a JOIN tu b ON a.h = b.h AND a.source < b.source
         |  GROUP BY a.source, b.source)
         |SELECT p.source_a, p.source_b,
         |  COALESCE(m.n_match, 0) AS n_match,
         |  (COALESCE(m.n_match, 0) * ${1L << 48}) // p.theta_num AS n_est,
         |  COALESCE(x.n_exact, 0) AS n_exact
         |FROM pairs p
         |LEFT JOIN m USING (source_a, source_b)
         |LEFT JOIN x USING (source_a, source_b)
         |ORDER BY source_a, source_b""".stripMargin
    },

    "sim_label_centroids" ->
      // identical fixed-point arithmetic: floor(x·2^20) quantization,
      // integer sums throughout, one double sqrt/mul/div chain per
      // member, 6-dp round, decimal cohesion mean
      """WITH exi AS (SELECT vec_id, label, embedding,
        |    unnest(range(1, len(embedding) + 1)) AS i
        |  FROM embeddings),
        |ex AS (SELECT vec_id, label, CAST(i AS INT) AS i,
        |    CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1048576)
        |      AS BIGINT) AS q
        |  FROM exi),
        |cent AS (SELECT label, i, CAST(SUM(q) AS BIGINT) AS sq
        |  FROM ex GROUP BY label, i),
        |snorm AS (SELECT label,
        |    sqrt(CAST(SUM(CAST(sq AS HUGEINT) * sq) AS DOUBLE)) AS sn
        |  FROM cent GROUP BY label),
        |scored AS (SELECT ex.vec_id, ex.label,
        |    CAST(SUM(CAST(ex.q AS HUGEINT) * cent.sq) AS DOUBLE) AS num,
        |    sqrt(CAST(SUM(ex.q * ex.q) AS DOUBLE)) AS vn
        |  FROM ex JOIN cent ON ex.label = cent.label AND ex.i = cent.i
        |  GROUP BY ex.vec_id, ex.label),
        |c6 AS (SELECT scored.label,
        |    CAST(ROUND(num / (vn * sn), 6) AS DECIMAL(18,6)) AS cos6
        |  FROM scored JOIN snorm ON scored.label = snorm.label)
        |SELECT label, COUNT(*) AS n_vecs,
        |  ROUND(CAST(SUM(cos6) AS DOUBLE) / COUNT(*), 4) AS cohesion
        |FROM c6 GROUP BY label ORDER BY label""".stripMargin,

    "dd_semdedup" ->
      // brute-force pairs (the dd_embedding pruning: cosine >= 0.95
      // between two ORGANIC vectors is a ~7.6 sigma event, so only
      // pairs with a planted b side are searched; a spurious Spark
      // pair still fails as an extra drop row) + the dd_cc_labels
      // recursive closure + keep-min-per-component
      s"""WITH RECURSIVE corpus AS ($semEmbsSql),
         |spairs AS (
         |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
         |  FROM corpus a JOIN corpus b
         |    ON a.vec_id < b.vec_id AND b.vec_id >= ${Tables.PlantedIdBase}
         |  WHERE ROUND(CAST(list_cosine_similarity(a.embedding, b.embedding)
         |    AS DOUBLE), 3) >= 0.95),
         |edges AS (SELECT doc_a AS s, doc_b AS d FROM spairs
         |          UNION ALL SELECT doc_b AS s, doc_a AS d FROM spairs),
         |reach AS (SELECT s, d FROM edges
         |          UNION
         |          SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
         |SELECT s AS vec_id, LEAST(MIN(d), s) AS keeper
         |FROM reach GROUP BY s
         |HAVING s != LEAST(MIN(d), s)
         |ORDER BY vec_id""".stripMargin,

    // the same ExactSubstr computation term for term: planted corpus,
    // 16-token windows with 1-based starts, cross-doc duplicated-gram
    // set, per-doc gaps-and-islands merge (new island when the next
    // duplicated start is more than w tokens after the previous)
    "dd_substring" -> {
      val cleanTok =
        "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> length(x) > 0)"
      val filler = // per-doc-unique filler tokens, same as substrCorpus
        "array_to_string(list_transform(range(1, 21), i -> 'xsf' || doc_id || 'n' || i), ' ')"
      s"""WITH base AS (SELECT doc_id, text FROM documents),
         |mirrors AS (
         |  SELECT doc_id + 3000000 AS doc_id,
         |    'exactsub mirror prefix ' || text AS text
         |  FROM base WHERE doc_id BETWEEN 200 AND 204),
         |ct0 AS (SELECT doc_id, $cleanTok AS toks FROM base),
         |chimeras AS (
         |  SELECT doc_id + 4000000 AS doc_id,
         |    array_to_string(toks[1:24], ' ') || ' ' || $filler || ' ' ||
         |      array_to_string(toks[30:53], ' ') AS text
         |  FROM ct0 WHERE doc_id BETWEEN 210 AND 219 AND len(toks) >= 54),
         |corpus AS (SELECT * FROM base UNION ALL
         |           SELECT * FROM mirrors UNION ALL
         |           SELECT * FROM chimeras),
         |ct AS (SELECT doc_id, $cleanTok AS toks FROM corpus),
         |docs16 AS (SELECT doc_id, len(toks) AS n_tokens, toks
         |           FROM ct WHERE len(toks) >= 16),
         |ws AS (SELECT doc_id, n_tokens, toks,
         |         unnest(range(1, n_tokens - 14)) AS pos FROM docs16),
         |grams AS (SELECT doc_id, n_tokens, CAST(pos AS BIGINT) AS pos,
         |    array_to_string(toks[CAST(pos AS INT):CAST(pos + 15 AS INT)], ' ') AS g
         |  FROM ws),
         |dup AS (SELECT g FROM (SELECT DISTINCT g, doc_id FROM grams)
         |        GROUP BY g HAVING COUNT(*) >= 2),
         |hits AS (SELECT doc_id, n_tokens, pos FROM grams JOIN dup USING (g)),
         |lagd AS (SELECT doc_id, n_tokens, pos,
         |    LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS lp FROM hits),
         |isl AS (SELECT doc_id, n_tokens, pos,
         |    SUM(CASE WHEN lp IS NULL OR pos - lp <= 16 THEN 0 ELSE 1 END)
         |      OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM lagd),
         |spans AS (SELECT doc_id, grp, MAX(n_tokens) AS n_tokens,
         |    MIN(pos) AS s, MAX(pos) + 15 AS e
         |  FROM isl GROUP BY doc_id, grp)
         |SELECT doc_id, COUNT(*) AS n_spans,
         |  CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens,
         |  MAX(n_tokens) AS n_tokens,
         |  ROUND(CAST(SUM(e - s + 1) AS DOUBLE) / MAX(n_tokens), 4) AS dup_frac
         |FROM spans GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "dd_decontam" -> {
      val cleanTok =
        "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> length(x) > 0)"
      val sh8 = // distinct word 8-grams; <8 tokens → single full shingle
        """CASE WHEN len(toks) = 0 THEN [] ELSE
          |  list_distinct(list_transform(range(1, greatest(len(toks) - 7, 1) + 1),
          |    i -> array_to_string(toks[CAST(i AS INT):CAST(i + 7 AS INT)], ' '))) END""".stripMargin
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id NOT BETWEEN 100 AND 119
         |  UNION ALL
         |  SELECT doc_id + 2000000 AS doc_id, 'leak ' || text AS text
         |  FROM documents WHERE doc_id BETWEEN 100 AND 104),
         |ct AS (SELECT doc_id, $cleanTok AS toks FROM corpus),
         |cp AS (SELECT doc_id, unnest($sh8) AS g FROM ct),
         |et AS (SELECT $cleanTok AS toks FROM documents WHERE doc_id BETWEEN 100 AND 119),
         |esh AS (SELECT DISTINCT unnest($sh8) AS g FROM et)
         |SELECT doc_id, COUNT(*) AS n_shared
         |FROM cp JOIN esh USING (g)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // the bloom prefilter is EXACT after the verify join, so the
    // oracle is the same contamination sweep — a single false
    // negative (impossible for a bloom) or an unverified false
    // positive would hash-mismatch
    "dd_decontam_bloom" -> {
      val cleanTok =
        "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> length(x) > 0)"
      val sh8 =
        """CASE WHEN len(toks) = 0 THEN [] ELSE
          |  list_distinct(list_transform(range(1, greatest(len(toks) - 7, 1) + 1),
          |    i -> array_to_string(toks[CAST(i AS INT):CAST(i + 7 AS INT)], ' '))) END""".stripMargin
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id NOT BETWEEN 100 AND 119
         |  UNION ALL
         |  SELECT doc_id + 2000000 AS doc_id, 'leak ' || text AS text
         |  FROM documents WHERE doc_id BETWEEN 100 AND 104),
         |ct AS (SELECT doc_id, $cleanTok AS toks FROM corpus),
         |cp AS (SELECT doc_id, unnest($sh8) AS g FROM ct),
         |et AS (SELECT $cleanTok AS toks FROM documents WHERE doc_id BETWEEN 100 AND 119),
         |esh AS (SELECT DISTINCT unnest($sh8) AS g FROM et)
         |SELECT doc_id, COUNT(*) AS n_shared
         |FROM cp JOIN esh USING (g)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "sim_brute_topk" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 20),
        |scored AS (
        |  SELECT q.qid, e.vec_id AS nn,
        |    ROUND(list_cosine_similarity(q.qv, e.embedding), 3) AS score
        |  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.qid),
        |ranked AS (
        |  SELECT qid, nn, score,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, nn) AS rn
        |  FROM scored)
        |SELECT qid, CAST(rn AS INT) AS rn, nn, score FROM ranked
        |WHERE rn <= 3 ORDER BY qid, rn""".stripMargin,
    "sim_radius_brute" ->
      s"""WITH corpus AS ($plantedEmbsSql),
         |q AS (SELECT vec_id AS qid, embedding AS qv FROM corpus
         |      WHERE vec_id < 20)
         |SELECT q.qid, e.vec_id AS nn,
         |  ROUND(list_cosine_similarity(q.qv, e.embedding), 3) AS score
         |FROM q CROSS JOIN corpus e
         |WHERE e.vec_id <> q.qid
         |  AND ROUND(list_cosine_similarity(q.qv, e.embedding), 3) >= 0.3
         |ORDER BY qid, nn""".stripMargin,

    // the triangle-bound probe provably returns the brute answer, so
    // the index-served plan is gated by the IDENTICAL full oracle
    "sim_radius_indexed" ->
      s"""WITH corpus AS ($plantedEmbsSql),
         |q AS (SELECT vec_id AS qid, embedding AS qv FROM corpus
         |      WHERE vec_id < 20)
         |SELECT q.qid, e.vec_id AS nn,
         |  ROUND(list_cosine_similarity(q.qv, e.embedding), 3) AS score
         |FROM q CROSS JOIN corpus e
         |WHERE e.vec_id <> q.qid
         |  AND ROUND(list_cosine_similarity(q.qv, e.embedding), 3) >= 0.3
         |ORDER BY qid, nn""".stripMargin,

    // filtered search: the same exact ranking restricted to the
    // query's own label — a filtered result that leaked another label
    // (or post-filtered the global top-k) hash-mismatches
    "sim_filtered_topk" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv, label
        |  FROM embeddings WHERE vec_id < 20),
        |scored AS (
        |  SELECT q.qid, e.vec_id AS nn,
        |    ROUND(list_cosine_similarity(q.qv, e.embedding), 3) AS score
        |  FROM q JOIN embeddings e ON e.label = q.label AND e.vec_id <> q.qid),
        |ranked AS (
        |  SELECT qid, nn, score,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, nn) AS rn
        |  FROM scored)
        |SELECT qid, CAST(rn AS INT) AS rn, nn, score FROM ranked
        |WHERE rn <= 3 ORDER BY qid, rn""".stripMargin,
    // int8 symmetric quantization + exact integer-dot ranking: every
    // double step is IEEE correctly-rounded, so codes and scores are
    // bit-identical across engines
    "sim_quant_topk" ->
      """WITH m AS (SELECT vec_id, embedding,
        |    greatest(list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))), 1e-30) AS mx
        |  FROM embeddings),
        |qz AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 127.0 / mx) AS INT)) AS q8
        |  FROM m),
        |q AS (SELECT vec_id AS qid, q8 AS qq FROM qz WHERE vec_id < 20),
        |scored AS (
        |  SELECT q.qid, e.vec_id AS nn,
        |    CAST(list_sum(list_transform(range(1, len(e.q8) + 1),
        |      i -> CAST(q.qq[CAST(i AS INT)] AS BIGINT) * e.q8[CAST(i AS INT)])) AS BIGINT) AS score
        |  FROM q CROSS JOIN qz e WHERE e.vec_id <> q.qid),
        |ranked AS (SELECT qid, nn, score,
        |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, nn) AS rn FROM scored)
        |SELECT qid, CAST(rn AS INT) AS rn, nn, score FROM ranked
        |WHERE rn <= 3 ORDER BY qid, rn""".stripMargin,
    "dd_stratified_take" ->
      """SELECT source, doc_id, h FROM (
        |  SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 20 ORDER BY source, h""".stripMargin,

    // the same greedy MMR selection, unrolled: five argmax steps over
    // the 3-dp-rounded relevance/pairwise-sim tables — the ITERATIVE
    // algorithm itself is replicated, not just its scores. Every mmr
    // rounds to 4 dp BEFORE its argmax (see Ann.mmrTopK: exact 4-dp
    // ties are common and sub-ulp 1−λ folding differs across engines)
    "sim_mmr" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv
        |  FROM embeddings WHERE vec_id < 20),
        |sc AS (SELECT q.qid, e.vec_id AS nn,
        |    ROUND(CAST(list_cosine_similarity(q.qv, e.embedding) AS DOUBLE),
        |      3) AS score,
        |    e.embedding AS v
        |  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.qid),
        |sh AS (SELECT qid, nn, score, v FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY score DESC, nn) AS srn FROM sc) WHERE srn <= 20),
        |pr AS (SELECT a.qid, a.nn AS x, b.nn AS y,
        |    ROUND(CAST(list_cosine_similarity(a.v, b.v) AS DOUBLE), 3) AS sim
        |  FROM sh a JOIN sh b ON a.qid = b.qid AND a.nn <> b.nn),
        |s1 AS (SELECT qid, nn, score, ROUND(0.7 * score, 4) AS mmr FROM (
        |    SELECT qid, nn, score, ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY score DESC, nn) AS r FROM sh) WHERE r = 1),
        |m2 AS (SELECT sh.qid, sh.nn, sh.score,
        |    ROUND(0.7 * sh.score - (1.0 - 0.7) * pr.sim, 4) AS mmr
        |  FROM sh JOIN s1 ON sh.qid = s1.qid AND sh.nn <> s1.nn
        |  JOIN pr ON pr.qid = sh.qid AND pr.x = sh.nn AND pr.y = s1.nn),
        |s2 AS (SELECT qid, nn, score, mmr FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY mmr DESC, nn) AS r FROM m2) WHERE r = 1),
        |m3 AS (SELECT sh.qid, sh.nn, sh.score,
        |    ROUND(0.7 * sh.score - (1.0 - 0.7) * GREATEST(p1.sim, p2.sim), 4) AS mmr
        |  FROM sh JOIN s1 ON sh.qid = s1.qid AND sh.nn <> s1.nn
        |  JOIN s2 ON sh.qid = s2.qid AND sh.nn <> s2.nn
        |  JOIN pr p1 ON p1.qid = sh.qid AND p1.x = sh.nn AND p1.y = s1.nn
        |  JOIN pr p2 ON p2.qid = sh.qid AND p2.x = sh.nn AND p2.y = s2.nn),
        |s3 AS (SELECT qid, nn, score, mmr FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY mmr DESC, nn) AS r FROM m3) WHERE r = 1),
        |m4 AS (SELECT sh.qid, sh.nn, sh.score,
        |    ROUND(0.7 * sh.score
        |      - (1.0 - 0.7) * GREATEST(p1.sim, p2.sim, p3.sim), 4) AS mmr
        |  FROM sh JOIN s1 ON sh.qid = s1.qid AND sh.nn <> s1.nn
        |  JOIN s2 ON sh.qid = s2.qid AND sh.nn <> s2.nn
        |  JOIN s3 ON sh.qid = s3.qid AND sh.nn <> s3.nn
        |  JOIN pr p1 ON p1.qid = sh.qid AND p1.x = sh.nn AND p1.y = s1.nn
        |  JOIN pr p2 ON p2.qid = sh.qid AND p2.x = sh.nn AND p2.y = s2.nn
        |  JOIN pr p3 ON p3.qid = sh.qid AND p3.x = sh.nn AND p3.y = s3.nn),
        |s4 AS (SELECT qid, nn, score, mmr FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY mmr DESC, nn) AS r FROM m4) WHERE r = 1),
        |m5 AS (SELECT sh.qid, sh.nn, sh.score,
        |    ROUND(0.7 * sh.score
        |      - (1.0 - 0.7) * GREATEST(p1.sim, p2.sim, p3.sim, p4.sim), 4) AS mmr
        |  FROM sh JOIN s1 ON sh.qid = s1.qid AND sh.nn <> s1.nn
        |  JOIN s2 ON sh.qid = s2.qid AND sh.nn <> s2.nn
        |  JOIN s3 ON sh.qid = s3.qid AND sh.nn <> s3.nn
        |  JOIN s4 ON sh.qid = s4.qid AND sh.nn <> s4.nn
        |  JOIN pr p1 ON p1.qid = sh.qid AND p1.x = sh.nn AND p1.y = s1.nn
        |  JOIN pr p2 ON p2.qid = sh.qid AND p2.x = sh.nn AND p2.y = s2.nn
        |  JOIN pr p3 ON p3.qid = sh.qid AND p3.x = sh.nn AND p3.y = s3.nn
        |  JOIN pr p4 ON p4.qid = sh.qid AND p4.x = sh.nn AND p4.y = s4.nn),
        |s5 AS (SELECT qid, nn, score, mmr FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY mmr DESC, nn) AS r FROM m5) WHERE r = 1)
        |SELECT qid, CAST(rn AS INT) AS rn, nn, score, mmr
        |FROM (
        |  SELECT qid, 1 AS rn, nn, score, mmr FROM s1 UNION ALL
        |  SELECT qid, 2, nn, score, mmr FROM s2 UNION ALL
        |  SELECT qid, 3, nn, score, mmr FROM s3 UNION ALL
        |  SELECT qid, 4, nn, score, mmr FROM s4 UNION ALL
        |  SELECT qid, 5, nn, score, mmr FROM s5)
        |ORDER BY qid, rn""".stripMargin,

    // the same decile interleave: identical NTILE/ROW_NUMBER tie
    // orders (n_words, doc_id — total), identical position arithmetic
    "dd_curriculum" ->
      """WITH t AS (SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      x -> length(x) > 0)) AS n_words
        |  FROM documents),
        |b AS (SELECT doc_id, n_words,
        |    NTILE(10) OVER (ORDER BY n_words, doc_id) AS bucket FROM t),
        |r AS (SELECT doc_id, n_words, bucket,
        |    ROW_NUMBER() OVER (PARTITION BY bucket
        |      ORDER BY n_words, doc_id) AS rnk FROM b)
        |SELECT CAST((rnk - 1) * 10 + bucket AS INT) AS pos,
        |  CAST(bucket AS INT) AS bucket, CAST(rnk AS INT) AS rnk,
        |  doc_id, CAST(n_words AS INT) AS n_words
        |FROM r ORDER BY pos""".stripMargin,

    // the same alpha=0.5 temperature gate: correctly-rounded
    // sqrt-of-ratio rate, hex-string threshold against the md5 prefix
    "dd_temperature_sample" ->
      """WITH s AS (SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY lang),
        |m AS (SELECT MIN(n_l) AS n_min FROM s),
        |r AS (SELECT lang, n_l, n_min,
        |    sqrt(CAST(n_min AS DOUBLE) / CAST(n_l AS DOUBLE)) AS rate,
        |    lpad(lower(to_hex(CAST(floor(
        |        sqrt(CAST(n_min AS DOUBLE) / CAST(n_l AS DOUBLE))
        |          * 4294967296.0) AS BIGINT))), 8, '0') AS thr
        |  FROM s CROSS JOIN m)
        |SELECT d.lang, d.doc_id, ROUND(r.rate, 6) AS rate
        |FROM documents d JOIN r USING (lang)
        |WHERE r.n_l = r.n_min
        |   OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < r.thr
        |ORDER BY d.lang, d.doc_id""".stripMargin,

    "dd_minhash_lsh" ->
      s"""WITH ${minhashHexCtesFor(plantedDocsSql)}
         |SELECT doc_a, doc_b, ROUND(ej, 4) AS est_jaccard
         |FROM lshpairs ORDER BY doc_a, doc_b""".stripMargin,

    "dd_keep_list" ->
      // min-id keeper fixpoint over the hex LSH pair graph, replayed
      // as the recursive transitive closure (the dd_cc_labels
      // construction): non-keepers are the nodes whose component
      // label is smaller than themselves
      s"""WITH RECURSIVE ${minhashHexCtesFor(plantedDocsSql)},
         |edges AS (SELECT doc_a AS s, doc_b AS d FROM lshpairs
         |          UNION ALL SELECT doc_b AS s, doc_a AS d FROM lshpairs),
         |reach AS (SELECT s, d FROM edges
         |          UNION
         |          SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
         |SELECT s AS doc_id, LEAST(MIN(d), s) AS keeper
         |FROM reach GROUP BY s HAVING LEAST(MIN(d), s) < s
         |ORDER BY doc_id""".stripMargin,

    "dd_minhash_cc" ->
      // the composed keeper pipeline replayed whole: hex-LSH banding,
      // recursive-closure components, three unrolled 9-dp decimal
      // PageRank rounds over the same edges, and the per-cluster
      // highest-rank keeper via FIRST_VALUE (both engines' default
      // ordered-window frame is unbounded-preceding..current, so the
      // first value IS the partition head by (rank desc, doc_id))
      s"""WITH RECURSIVE ${minhashHexCtesFor(plantedDocsSql)},
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM lshpairs
         |          UNION ALL SELECT doc_b AS src, doc_a AS dst FROM lshpairs),
         |reach AS (SELECT src AS s, dst AS d FROM edges
         |          UNION
         |          SELECT r.s, e.dst AS d FROM reach r JOIN edges e ON r.d = e.src),
         |cc AS (SELECT s AS doc_id, LEAST(MIN(d), s) AS cluster
         |       FROM reach GROUP BY s),
         |deg AS (SELECT src AS doc_id, COUNT(*) AS degree
         |        FROM edges GROUP BY src),
         |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
         |r0 AS (SELECT doc_id, degree, ROUND(CAST(1 AS DOUBLE) / nn.n, 9) AS rank
         |       FROM deg, nn),
         |${pagerankStepSql("r0", "r1")},
         |${pagerankStepSql("r1", "r2")},
         |${pagerankStepSql("r2", "r3")}
         |SELECT c.doc_id, c.cluster, r.rank,
         |  FIRST_VALUE(c.doc_id) OVER (
         |    PARTITION BY c.cluster ORDER BY r.rank DESC, c.doc_id) AS keeper
         |FROM cc c JOIN r3 r ON r.doc_id = c.doc_id
         |ORDER BY c.doc_id""".stripMargin,

    "dd_dedup_pipeline" ->
      // the whole pipeline replayed: hex LSH candidates → exact
      // shingle-set Jaccard verify on just those pairs → recursive
      // closure → min-id drop list
      s"""WITH RECURSIVE ${minhashHexCtesFor(plantedDocsSql)},
         |ver AS (
         |  SELECT doc_a, doc_b FROM lshpairs
         |  JOIN sh sa ON sa.doc_id = lshpairs.doc_a
         |  JOIN sh sb ON sb.doc_id = lshpairs.doc_b
         |  WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
         |        len(list_distinct(list_concat(sa.s, sb.s))) >= 0.8),
         |edges AS (SELECT doc_a AS s, doc_b AS d FROM ver
         |          UNION ALL SELECT doc_b AS s, doc_a AS d FROM ver),
         |reach AS (SELECT s, d FROM edges
         |          UNION
         |          SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
         |SELECT s AS doc_id, LEAST(MIN(d), s) AS keeper
         |FROM reach GROUP BY s HAVING LEAST(MIN(d), s) < s
         |ORDER BY doc_id""".stripMargin,

    // dd_simhash, sim_lsh_ann: hash-seeded signatures aren't
    // reproducible in SQL → rows-only + ground-truth ScalaTest.
    // (dd_minhash_lsh/dd_keep_list graduated to the full oracle via
    // the md5-hex hash family above.)
  )
}

