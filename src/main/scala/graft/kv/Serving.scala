package graft.kv

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path}

/** The driver serving paths of a [[Catalog]]: every `driver*` read
  * runs on the calling thread with NO Spark job — the reference's
  * HBase Get/Scan and Lucene query paths. Each read resolves the
  * published table version once, takes the registered index's
  * [[IndexStack]] at it, and seeks the artifacts through
  * [[DriverRead]]'s pruning layers (the dirs' range manifests,
  * footers, pushed predicates). Reached through the one-line forwards
  * on [[Catalog]]; nothing here writes. */
private[kv] final class Serving(cat: Catalog) {
  import cat.{dataVersionOf, indexAnalyzer, indexCols, indexDir, indexesOf, layoutOf,
    liveStack, primaryKeyOf, rowkeyType, schemaOf, snapshotDir}

  /** The (nullable) columns a driver read decodes an artifact into. */
  private def fields(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (n, t) => StructField(n, t) })

  /** The one column a fulltext, bitmap or vector index covers. */
  private def indexedColumn(table: String, indexName: String,
                            indexType: String): String =
    indexCols(table, indexName, indexType).head

  /** Millisecond point read served on the calling thread — NO Spark
    * job (the reference's HBase `Get` path: HBaseEnumerator.kt reads
    * one region block client-side; KVIndexTable.kt:75-84 builds the
    * Get from the rowkey). Resolves the SAME committed snapshot a
    * lock-free Spark read would (dataVersionOf, including the
    * transaction overlay), prunes files by the snapshot's range
    * manifest when present (else per-file parquet footer statistics,
    * cached in-process), and pushes the key predicate into
    * parquet-hadoop for row-group/dictionary/column-index pruning —
    * see [[DriverRead]]. `key` binds the full (possibly composite)
    * primary key. Complement of the Spark scan path, not a
    * replacement: bounded key sets only. Batched (reference multi-Get:
    * KVIndexTable.kt:75-84): one OR-of-keys predicate per surviving
    * file, so a batch costs one pass regardless of key count. */
  def driverMultiGet(name: String, keys: Seq[Seq[Any]]): Seq[Row] =
    driverMultiGetAt(name, keys, dataVersionOf(name))

  /** Multi-Get pinned to an explicit snapshot version — the building
    * block that lets a caller holding an index snapshot at version v
    * read the base table at the SAME v (a CDC merge committing
    * between two independent dataVersionOf calls would otherwise pair
    * a pre-merge index with a post-merge base). */
  private def driverMultiGetAt(name: String, keys: Seq[Seq[Any]],
                               version: Int): Seq[Row] = {
    val dir = snapshotDir(name, version)
    DriverRead.get(dir, schemaOf(name), primaryKeyOf(name), keys,
      Manifest.read(dir).getOrElse(Nil))
  }

  /** Bounded driver-side range scan — the HBase `Scan(startRow,
    * stopRow)` serving primitive (HBaseSchema.kt:236 range scans),
    * with NO Spark job: manifest/footer pruning to the overlapping
    * files, the [lo,hi] predicate pushed into parquet-hadoop. Bounds
    * inclusive, on the LEADING primary-key column (rowkey order).
    * `maxRows` is the serving contract — a wider range belongs on
    * the Spark path, so exceeding it throws rather than truncating.
    * Rows come back in file order; callers sort. */
  def driverRangeScan(name: String, lo: Any, hi: Any,
                      maxRows: Int,
                      keyCol: Option[String]): Seq[Row] = {
    val pk = primaryKeyOf(name)
    val layout = layoutOf(name)
    val c = keyCol.getOrElse(pk.head)
    // which columns the millisecond path can serve is a property of
    // the LAYOUT: a sorted snapshot clusters only the leading rowkey
    // column; a z-ordered one clusters BOTH key dimensions (that is
    // its purpose), so a range on either is servable. Anything else
    // would degrade to an unpruned every-file driver read — fail
    // loudly onto the Spark scan path instead.
    val zSecond = layout == "zorder" && pk.size == 2 && c == pk(1)
    require(c == pk.head || zSecond,
      s"driver range scan on '$name' (layout '$layout') serves the " +
        s"leading rowkey column '${pk.head}'" +
        (if (layout == "zorder" && pk.size == 2)
          s" or the z-ordered second key '${pk(1)}'" else "") +
        s" — not '$c'; use the Spark scan path (table(\"$name\").df)")
    val dir = snapshotDir(name, dataVersionOf(name))
    // both z dimensions serve from the ONE manifest read: leading
    // bounds for pk.head, the recorded second-key bounds for the
    // z-second column (written by the merge path at no extra pass).
    // A table whose second key type keeps no manifest bounds
    // ([[Catalog.manifestKeys]]) passes null bounds — never pruned, parquet
    // footer stats stand in for each file, which the z layout keeps
    // narrow in both dimensions (ZOrderSpec pins the claim). No manifest at all →
    // footer path for every file, as before.
    val entries = Manifest.read(dir).getOrElse(Nil)
    DriverRead.range(dir, schemaOf(name), c, lo, hi, maxRows,
      if (c == pk.head) entries
      else entries.map(r =>
        FileRange(r.file, r.second.map(_._1).orNull, r.second.map(_._2).orNull)))
  }

  /** Driver-side Get-by-secondary-index — the reference's getByIndex
    * (KVIndexTable.kt:64-84: prefix-seek the index table, then
    * multi-Get the base rowkeys), served like [[Catalog.driverPointGet]] with
    * NO Spark job. Two driver-side reads: an equality seek on the kv
    * index's sorted (ik..., rk) parquet (value-sorted layout ⇒
    * row-group statistics prune like the reference's index-region
    * seek; `values` may bind a PREFIX of a composite index), then the
    * base multi-Get for the matched rowkeys. The index snapshot is
    * resolved at the published table version ([[IndexStack]]),
    * so the pair is consistent: kv indexes are maintained
    * synchronously on every write path. Bounded-selectivity lookups
    * only — a value matching a large slice of the base table belongs
    * on the Spark lookup path (KvIndex.lookup), which AQE-joins. */
  def driverIndexGet(table: String, indexName: String,
                     values: Seq[Any]): Seq[Row] = {
    val cols = indexCols(table, indexName, "kv")
    require(values.nonEmpty && values.length <= cols.length,
      s"lookup binds 1..${cols.length} leading columns of ${cols.mkString(",")}")
    val pk = primaryKeyOf(table)
    require(pk.length == 1,
      "driver index get serves single-column-rowkey tables (the " +
        "reference's index rowkey points at one base rowkey); " +
        "composite-pk tables use the Spark lookup path")
    val ts = schemaOf(table)
    val ikNames = IndexBuild.ikColsOf(cols.length)
    val idxSchema = fields(ikNames.zip(cols).map { case (ik, c) => ik -> ts(c).dataType } :+
      ("rk" -> ts(pk.head).dataType): _*)
    // resolve the published version ONCE and pin both reads to it:
    // resolving again for the base multi-Get could observe a CDC
    // merge that committed in between, pairing a pre-merge index with
    // a post-merge base table (a lookup by an old indexed value would
    // return the row with its new value)
    val v = dataVersionOf(table)
    val idxData = IndexStack.at(indexDir(table, indexName, "kv"), v).base
    // index snapshots carry the same range manifest the base table
    // does (maintenance reuses the manifest machinery) — consume it
    // like driverMultiGet does; an absent/corrupt one degrades to
    // footer statistics
    val hits = DriverRead.get(idxData, idxSchema,
      ikNames.take(values.length), Seq(values),
      Manifest.read(idxData).getOrElse(Nil))
    val rkIdx = idxSchema.fieldNames.indexOf("rk")
    val rks = hits.map(_.get(rkIdx)).distinct.filter(_ != null)
    if (rks.isEmpty) Nil
    else driverMultiGetAt(table, rks.map(Seq(_)), v)
  }

  /** Driver-side full-text AND search — the Lucene QUERY-path analog
    * completing the serving family (kv_ms_get / driverIndexGet): a
    * term lookup runs ENTIRELY on the calling thread, no Spark job.
    * Query terms go through the index's OWN analyzer (stopword terms
    * impose no constraint — the Spark path's searchAllAnalyzed
    * contract), then each term seeks the term-sorted postings of the
    * SEGMENTED view: the resolved base at or below the published
    * version plus every seg_v appended since, with tomb_v rk sets
    * masking older artifacts' rows (the [[IndexStack]] mask, the
    * same one the Spark view plans). Postings reads go
    * through DriverRead's three pruning layers (manifest / footer
    * stats / pushed term predicate); tombstones and dictionary
    * deltas are PATCH-SIZED by the CDC contract, so reading them
    * whole on the driver is bounded. Returns the matching rowkeys
    * ascending in their NATIVE order ([[Catalog.rowkeyOrd]] — numeric
    * keys numerically, strings lexicographically).
    * `maxPostings` is the serving contract: a broader query belongs
    * on the Spark path (FullText.searchAll over indexData).
    *
    * `requireAll` false is the OR (disjunctive) search — the Lucene
    * BooleanQuery SHOULD-clause analog beside the AND's MUST: docs
    * containing ANY query term, through the same seeks; only the
    * in-memory intersection flips to a union. */
  def driverFtBoolean(table: String, indexName: String,
                              terms: Seq[String], requireAll: Boolean,
                              maxPostings: Int): Seq[Any] = {
    val st = liveStack(table, indexName, "fulltext")
    val analyzed = graft.index.FullText
      .analyzeTerms(terms, indexAnalyzer(table, indexName, "fulltext")).distinct
    require(analyzed.nonEmpty,
      "every query term is a stopword under this analyzer")
    val perDoc = driverFtPerDoc(table, st, analyzed, maxPostings)
    perDoc.collect { case (id, ts)
      if (if (requireAll) ts.size == analyzed.size else ts.nonEmpty) => id }
      .toSeq.sorted(Catalog.rowkeyOrd)
  }

  /** The shared boolean-serving core: per-doc matched-term sets for a
    * list of ALREADY-ANALYZED terms, seeked from the segmented
    * postings stack on the calling thread — [[driverFtBoolean]] and
    * [[driverFtFuzzyStats]] differ only in how they combine these sets. */
  private def driverFtPerDoc(table: String, st: IndexStack, terms: Seq[String],
                             maxPostings: Int)
      : scala.collection.Map[Any, scala.collection.Set[String]] = {
    val rkType = rowkeyType(table)
    val perDoc = scala.collection.mutable.Map[Any, scala.collection.mutable.Set[String]]()
    seekTerms(st.layers, postingsSchema(rkType), terms,
        st.driverMask(rkType, maxPostings), maxPostings, "query", "postings") { r =>
      perDoc.getOrElseUpdate(r.get(1),
        scala.collection.mutable.Set[String]()) += r.getString(0): Unit
    }
    perDoc
  }

  /** Seek `terms` in every layer of a driver-served stack (term-sorted
    * artifacts), counting each row read against `maxPostings`, and hand
    * `live` every row the stack's mask leaves visible. */
  private def seekTerms(layers: Seq[(Int, Path)], schema: StructType,
                        terms: Seq[String], mask: IndexStack.Mask,
                        maxPostings: Int, what: String, unit: String)
                       (live: Row => Unit): Unit = {
    val keys = terms.map(t => Seq(t: Any))
    var n = 0
    layers.foreach { case (v, p) =>
      DriverRead.get(p, schema, Seq("term"), keys,
          Manifest.read(p).getOrElse(Nil)).foreach { r =>
        n += 1
        require(n <= maxPostings,
          s"$what matched more than $maxPostings $unit — " +
            "use the Spark search path")
        if (!mask(v, r.get(1))) live(r)
      }
    }
  }

  /** (term, doc_id, tf) postings and (term, doc_id, pos) positions, as
    * the driver reads them. */
  private def postingsSchema(rkType: DataType): StructType =
    fields("term" -> StringType, "doc_id" -> rkType, "tf" -> LongType)

  private def positionsSchema(rkType: DataType): StructType =
    fields("term" -> StringType, "doc_id" -> rkType, "pos" -> IntegerType)

  /** Driver-side PREFIX serving — the Lucene PrefixQuery analog
    * beside [[Catalog.driverFtSearch]]'s TermQuery: docs containing ANY term
    * with the given prefix, served as ONE range seek per artifact
    * over the term-sorted postings ([prefix, prefix⁺) in byte order —
    * the FST prefix-seek shape, here parquet row-group pruning on the
    * term column), tombstone-masked like every segmented read, zero
    * Spark jobs. Lucene's PrefixQuery is NOT analyzed — the prefix is
    * only normalized — and matching runs against the INDEXED terms
    * (stemmed, for an `english` index), the same contract. The range
    * row cap is the serving contract: a prefix matching more postings
    * belongs on the Spark path (FullText.searchPrefix). */
  def driverFtPrefix(table: String, indexName: String, prefix: String,
                     maxPostings: Int): Seq[Any] = {
    val st = liveStack(table, indexName, "fulltext")
    val toks = graft.index.FullText.normTokens(prefix)
    require(toks.length == 1,
      s"prefix search takes ONE non-empty alnum prefix, got '$prefix'")
    val q = toks.head
    // exclusive upper bound: the prefix with its last byte bumped —
    // exact for the tokenizer's [a-z0-9] term charset; the final
    // startsWith keeps the boundary term out of an inclusive range
    val hi = q.init + (q.last + 1).toChar
    val rkType = rowkeyType(table)
    val schema = postingsSchema(rkType)
    val mask = st.driverMask(rkType, maxPostings)
    val out = scala.collection.mutable.Set[Any]()
    st.layers.foreach { case (v, p) =>
      DriverRead.range(p, schema, "term", q, hi, maxPostings,
          Manifest.read(p).getOrElse(Nil))
        .foreach { r =>
          if (r.getString(0).startsWith(q) && !mask(v, r.get(1))) out += r.get(1): Unit
        }
    }
    out.toSeq.sorted(Catalog.rowkeyOrd)
  }

  /** Driver-side FUZZY serving — the Lucene FuzzyQuery analog, the
    * last member of the query family (term/AND/OR/prefix/phrase/
    * ranked all serve driver-side): docs containing any term within
    * `maxEdits` Levenshtein distance of the query term, zero Spark
    * jobs. Expansion runs against the FUZZY SIDECAR (`fz`, the
    * dictionary laid out sorted by (tlen, term) — [[IndexBuild.writeFtFuzzy]]):
    * levenshtein(a,b) ≥ |len(a)−len(b)|, so ONE range seek of the
    * tlen ∈ [|q|−k, |q|+k] bands is lossless and reads a few length
    * bands instead of the vocabulary (the Lucene term-automaton
    * length constraint as a physical layout; the term-sorted dict
    * could only serve this as a full scan). Candidates verify with
    * the shared edit-distance kernel (FullText.editDistance — the
    * same distance Spark's `levenshtein` and the oracle compute);
    * dictdelta_v patches fold on top by version number, so
    * merge-born terms match and fully-deleted terms (live df ≤ 0)
    * never do. Matched terms then union doc-ids through the
    * segmented postings stack exactly like [[Catalog.driverFtSearchAny]].
    * Like Lucene's FuzzyQuery (and the Spark path's searchFuzzy),
    * the query term is normalized but NOT analyzed. Returns the ids
    * with the banded-seek observable DriverGetSpec pins: the number of
    * sidecar rows the band seek actually read (≪ vocabulary size — the
    * point of the layout). */
  def driverFtFuzzyStats(table: String, indexName: String, term: String,
                         maxEdits: Int, maxPostings: Int)
      : (Seq[Any], Int) = {
    val st = liveStack(table, indexName, "fulltext")
    val toks = graft.index.FullText.normTokens(term)
    require(toks.length == 1,
      s"fuzzy search takes ONE non-empty alnum term, got '$term'")
    require(maxEdits >= 0 && maxEdits <= 2,
      s"maxEdits must be 0..2 (the Lucene FuzzyQuery bound), got $maxEdits")
    val q = toks.head
    val (fzBase, deltas) = st.folded("fz")
    require(Files.exists(fzBase),
      s"no fuzzy dictionary sidecar under ${st.dir} — the index is " +
        "damaged; CALL system.refresh_index to rebuild")
    val fzSchema = fields("tlen" -> IntegerType, "term" -> StringType, "df" -> LongType)
    val band = DriverRead.range(fzBase, fzSchema, "tlen",
      math.max(1, q.length - maxEdits), q.length + maxEdits,
      maxPostings, Nil)
    val dfAcc = scala.collection.mutable.Map[String, Long]()
    band.foreach { r =>
      val t = r.getString(1)
      if (graft.index.FullText.editDistance(t, q) <= maxEdits)
        dfAcc(t) = dfAcc.getOrElse(t, 0L) + r.getLong(2)
    }
    // patch-sized delta fold: terms born since the fz base (positive
    // ddf — merge-inserted docs' new vocabulary) and terms dying
    // (negative ddf — a term's every doc rewritten away reads as
    // live df ≤ 0 and must not match)
    deltas.foreach { case (_, p) =>
      DriverRead.readAll(p, DeltaSchema, maxPostings).foreach { r =>
        val t = r.getString(0)
        if (math.abs(t.length - q.length) <= maxEdits &&
            graft.index.FullText.editDistance(t, q) <= maxEdits)
          dfAcc(t) = dfAcc.getOrElse(t, 0L) + r.getLong(1)
      }
    }
    val matched = dfAcc.collect { case (t, d) if d > 0 => t }.toSeq
    val ids =
      if (matched.isEmpty) Nil
      else driverFtPerDoc(table, st, matched, maxPostings)
        .collect { case (id, ts) if ts.nonEmpty => id }
        .toSeq.sorted(Catalog.rowkeyOrd)
    (ids, band.size)
  }

  /** A `dictdelta_v` row: (term, df change). */
  private val DeltaSchema = fields("term" -> StringType, "ddf" -> LongType)

  /** Driver-side PHRASE search — [[Catalog.driverFtSearch]]'s positional
    * counterpart (the Lucene PhraseQuery serving path): query terms
    * through the index's analyzer with Lucene's position-increment
    * contract (stopwords drop but keep their offsets, the
    * searchPhraseAnalyzed rule), each surviving term a pruned seek of
    * the POSITIONAL stack, adjacency verified in memory per candidate
    * doc. Zero Spark jobs. */
  def driverFtPhrase(table: String, indexName: String, phrase: String,
                     maxPostings: Int): Seq[Any] = {
    val st = liveStack(table, indexName, "fulltext")
    val an = indexAnalyzer(table, indexName, "fulltext")
    val raw = graft.index.FullText.normTokens(phrase)
    require(raw.nonEmpty, "empty phrase")
    val terms: Seq[(String, Int)] =
      if (an == "standard") raw.zipWithIndex
      else {
        val t = raw.zipWithIndex
          .filterNot { case (w, _) => graft.index.FullText.StopWordsEn.contains(w) }
          .map { case (w, off) => (graft.plans.HashOps.stemWord(w), off) }
        require(t.nonEmpty,
          "every phrase term is a stopword under this analyzer")
        t
      }
    val rkType = rowkeyType(table)
    // per-doc, per-term position sets across the whole artifact stack
    val perDoc = scala.collection.mutable.Map[Any,
      scala.collection.mutable.Map[String, scala.collection.mutable.Set[Int]]]()
    seekTerms(st.posLayers, positionsSchema(rkType), terms.map(_._1).distinct,
        st.driverMask(rkType, maxPostings), maxPostings, "phrase",
        "positional postings") { r =>
      perDoc.getOrElseUpdate(r.get(1), scala.collection.mutable.Map())
        .getOrElseUpdate(r.getString(0), scala.collection.mutable.Set[Int]())
        .add(r.getInt(2)): Unit
    }
    val (t0, o0) = terms.head
    perDoc.collect { case (id, byTerm)
      if byTerm.get(t0).exists(_.exists(p0 =>
        terms.forall { case (t, off) =>
          byTerm.get(t).exists(_.contains(p0 + (off - o0))) })) => id
    }.toSeq.sorted(Catalog.rowkeyOrd)
  }

  /** Driver-side SNIPPET (hit-highlighting) serving — the Lucene
    * highlighter analog beside the query family: for every live doc
    * containing `term`, the first occurrence position (1-based), the
    * occurrence count, and a ±-token window around the first hit,
    * entirely on the calling thread. First position and count come
    * from a pruned seek of the POSITIONAL stack (never a corpus
    * scan); only the MATCHED docs' text is then fetched, through the
    * driver multi-get path (bounded by the hit set), and tokenized
    * with the index tokenizer for the window slice — the
    * FullText.snippets contract, served without a Spark job. Results
    * sort ascending by doc id. */
  def driverFtSnippet(table: String, indexName: String, term: String,
                      before: Int, after: Int,
                      maxPostings: Int): Seq[(Any, Int, Long, String)] = {
    val st = liveStack(table, indexName, "fulltext")
    val toks = graft.index.FullText.normTokens(term)
    require(toks.length == 1, s"snippets take ONE term, got '$term'")
    val rkType = rowkeyType(table)
    // per live doc: (min position, occurrence count) across the stack
    val perDoc = scala.collection.mutable.Map[Any, (Int, Long)]()
    seekTerms(st.posLayers, positionsSchema(rkType), toks.take(1),
        st.driverMask(rkType, maxPostings), maxPostings, "term",
        "positional postings") { r =>
      val (mn, c) = perDoc.getOrElse(r.get(1), (Int.MaxValue, 0L))
      perDoc(r.get(1)) = (math.min(mn, r.getInt(2)), c + 1)
    }
    if (perDoc.isEmpty) return Nil
    // only matched docs' text is fetched — the driver get path prunes
    // by manifest/bloom/footer like every serving read
    val schema = schemaOf(table)
    val pkIdx = schema.fieldNames.indexOf(primaryKeyOf(table).head)
    val textIdx = schema.fieldNames.indexOf(indexedColumn(table, indexName, "fulltext"))
    // at the stack's version: text from a later snapshot would slice
    // its window at positions counted in an older one
    driverMultiGetAt(table, perDoc.keys.toSeq.map(Seq(_)), st.upTo).flatMap { row =>
      val id = row.get(pkIdx)
      perDoc.get(id).map { case (mn, c) =>
        val body = Option(row.getString(textIdx)).getOrElse("")
        val arr = graft.index.FullText.normTokens(body)
        val first = mn + 1 // 1-based, the positional frame is 0-based
        val s = math.max(first - before, 1)
        val e = math.min(first + after, arr.length)
        (id, first, c, arr.slice(s - 1, e).mkString(" "))
      }
    }.sortBy(_._1)(Catalog.rowkeyOrd)
  }

  /** Driver-side BITMAP equality serving — the last index flavor to
    * join the serving family (kv_ms_get serves the kv index,
    * idx_ms_lookup the secondary kv index, ft_ms_* the fulltext
    * index): all rowkeys where the indexed column equals `value`,
    * decoded from the persisted bitmap index's SEGMENTED stack on the
    * calling thread — an iv-seek of the value's (shard, bitmap) rows
    * per artifact (the per-value rows are shard-count-bounded however
    * hot the value), patch-sized tombstone bitmaps read whole, and
    * the per-shard versioned fold runs the SAME Bitmap.foldVersions
    * kernel the Spark segmented view evaluates — driver path and
    * Spark path cannot disagree on masking semantics. Zero Spark
    * jobs; `maxIds` is the serving contract (a hotter value belongs
    * on the Spark path, BitmapIndex.lookupIds). */
  def driverBitmapIds(table: String, indexName: String, value: Any,
                      maxIds: Int): Seq[Long] =
    driverBitmapCore(table, indexName, maxIds, "value") { (p, schema) =>
      DriverRead.get(p, schema, Seq("iv"), Seq(Seq(value)), Nil)
    }

  /** Driver-side BITMAP RANGE serving — [[Catalog.driverBitmapIds]]'s range
    * form (the Pinot/Druid-style range scan idx_bitmap_range serves
    * on Spark): all rowkeys whose indexed value falls in [lo, hi],
    * decoded from the segmented bitmap stack on the calling thread.
    * One iv-range seek per artifact selects the in-range values'
    * (shard, bitmap) rows (an index-row predicate — tiny next to the
    * base table); each (value, shard) stack folds under the
    * versioned tombstone masks exactly like the equality path, and
    * the per-value results OR together — the same composition
    * BitmapIndex.rangeIds runs over the Spark segmented view, so the
    * two paths cannot disagree. Zero Spark jobs; `maxIds` fails
    * over-wide ranges loudly onto the Spark path. */
  def driverBitmapRangeIds(table: String, indexName: String,
                           lo: Any, hi: Any,
                           maxIds: Int): Seq[Long] =
    driverBitmapCore(table, indexName, maxIds, "range") { (p, schema) =>
      DriverRead.range(p, schema, "iv", lo, hi, maxIds, Nil)
    }

  /** The bitmap serving core: `seek` selects (iv, shard, bm) rows from
    * one layer of the stack; each (value, shard) part stack folds under
    * the versioned tombstone bitmaps of its shard (Bitmap.foldVersions
    * masks part by part, so any grouping of the parts gives the same
    * ids), and the ids of every fold OR together. */
  private def driverBitmapCore(table: String, indexName: String, maxIds: Int,
                               what: String)
                              (seek: (Path, StructType) => Seq[Row]): Seq[Long] = {
    val st = liveStack(table, indexName, "bitmap")
    val ivType = schemaOf(table)(indexedColumn(table, indexName, "bitmap")).dataType
    val rowSchema = fields("iv" -> ivType, "shard" -> LongType, "bm" -> BinaryType)
    // per (value, shard): the versioned part stack — tombstones mask
    // per version whatever the value, so the fold keys on the pair
    val parts = scala.collection.mutable.Map[(Any, Long),
      scala.collection.mutable.ListBuffer[(Int, Array[Byte])]]()
    st.layers.foreach { case (v, p) =>
      seek(p, rowSchema).foreach { r =>
        parts.getOrElseUpdate((r.get(0), r.getLong(1)),
          scala.collection.mutable.ListBuffer()) += ((v, r.getAs[Array[Byte]](2)))
      }
    }
    val tombSchema = fields("shard" -> LongType, "bm" -> BinaryType)
    val tombsByShard = scala.collection.mutable.Map[Long,
      scala.collection.mutable.ListBuffer[(Int, Array[Byte])]]()
    st.tombs.foreach { case (v, p) =>
      DriverRead.readAll(p, tombSchema, maxIds).foreach { r =>
        tombsByShard.getOrElseUpdate(r.getLong(0),
          scala.collection.mutable.ListBuffer()) += ((v, r.getAs[Array[Byte]](1)))
      }
    }
    val ids = Array.newBuilder[Long]
    parts.foreach { case ((_, shard), ps) =>
      ids ++= graft.index.Bitmap.ids(graft.index.Bitmap.foldVersions(ps.toSeq,
        tombsByShard.get(shard).map(_.toSeq).getOrElse(Nil)))
    }
    val out = ids.result().distinct.sorted
    require(out.length <= maxIds,
      s"$what matched more than $maxIds rowkeys — use the Spark path")
    out.toSeq
  }

  /** Driver-side VECTOR top-k serving — the LAST index flavor to join
    * the millisecond family (kv, secondary-kv, bitmap and fulltext all
    * serve on the calling thread; this closes the vector gap, so
    * serving parity holds across EVERY persisted index flavor — the
    * reference's contract that the index IS the serving surface,
    * index/lucene/LuceneIndexTable.kt: query-path reads never scan the
    * base table). The FAISS IVF serving recipe on the persisted
    * artifacts, zero Spark jobs:
    *
    *   1. centroids: the `cent` artifact read whole (~√N rows —
    *      kilobytes);
    *   2. coarse probe: the SAME negL2 metric every Spark-side search
    *      uses (Ann.coarseProbes), ties on the lower cluster id → the
    *      `nprobe` nearest lists;
    *   3. entries: ONE cluster-keyed seek per probed list against the
    *      cluster-sorted base (row-group stats prune — the read is
    *      probed-lists-sized, ≪ corpus: the stats variant returns the
    *      rows actually read so DriverGetSpec can pin it); CDC
    *      segments read WHOLE (patch-sized by the merge contract) and
    *      filtered to the probed lists; the stack's tombstones mask
    *      them (last-writer-wins per rk);
    *   4. exact cosine re-rank on the calling thread — the codegen'd
    *      expression's own kernel (HashOps.cosine), 3-dp HALF_UP,
    *      ties on the rowkey ascending — rank-identical to
    *      `Ann.ivfSearch` over the segmented view with the same
    *      query/nprobe.
    *
    * `query` is the query vector (float/double values); `exclude`
    * drops a rowkey from the shortlist (the nn =!= qid self-exclusion
    * of the Spark path). `maxEntries` is the serving contract: a
    * probe set wider than it belongs on the Spark path — fail loudly,
    * never truncate. Returns (rowkey, score) ordered
    * (score desc, rowkey asc — native key order).
    *
    * Served as a batch — the serving-path multi-get (the kv_multi_get
    * shape applied to vectors): one artifact resolution, ONE centroid
    * read, ONE cluster-keyed base seek over the UNION of every query's
    * probed lists and one patch-sized CDC segment/tombstone read serve
    * the whole query batch; the per-query candidate set, masking,
    * exclusion and exact re-rank are computed per query from the
    * shared reads, so each query's result is IDENTICAL to its own
    * single-query call (a batch of one — the per-query candidates are
    * exactly the rows of its probed lists). A serving loop issuing Q
    * queries otherwise pays Q full artifact read passes for artifacts
    * that cannot change under it (COW snapshots). Queries are (vector,
    * exclude) pairs; returns per query, order-aligned, its (rowkey,
    * score) list and the sublinearity observable DriverGetSpec pins:
    * the entry rows read for its probed lists (base seeks + CDC
    * segments, before tombstone masking — ≪ corpus by the
    * cluster-sorted layout). */
  def driverAnnTopKBatch(table: String, indexName: String,
                         queries: Seq[(Seq[Double], Option[Any])],
                         k: Int, nprobe: Int, maxEntries: Int)
      : Seq[(Seq[(Any, Double)], Int)] = {
    require(k > 0, "k must be positive")
    require(nprobe > 0, "nprobe must be positive")
    require(queries.nonEmpty, "empty query batch")
    val st = liveStack(table, indexName, "vector")
    val vecCol = indexedColumn(table, indexName, "vector")
    val rkType = rowkeyType(table)
    val qvs = queries.map(q => vectorData(q._1))
    // 1+2: ONE centroid read + per-query coarse probe, with the
    // codegen'd kernels' own metric (HashOps)
    val centSchema = fields("cluster" -> IntegerType, "centroid" -> ArrayType(DoubleType))
    val cents = DriverRead.readAll(st.paired("cent"), centSchema, maxEntries)
    require(cents.nonEmpty, s"$table $indexName vector has no centroids")
    val centVecs = cents.map(r => (r.getInt(0), vectorData(r.getSeq[Any](1))))
    val probedPer: Seq[Seq[Int]] = qvs.map { qv =>
      centVecs.iterator
        .map { case (c, cv) => (graft.plans.HashOps.negL2(qv, cv, false, false), c) }
        .toSeq.sortBy { case (d, c) => (-d, c) }.take(nprobe).map(_._2)
    }
    val union: Seq[Int] = probedPer.flatten.distinct.sorted
    // 3: ONE cluster-keyed base seek over the union of probed lists +
    // patch-sized CDC overlays, cluster kept per candidate so each
    // query filters down to exactly its own probed lists
    val entrySchema = fields("rk" -> rkType, "cluster" -> IntegerType,
      "v" -> ArrayType(schemaOf(table)(vecCol).dataType match {
        case ArrayType(et, _) => et
        case other => other
      }))
    val cand = scala.collection.mutable.ArrayBuffer.empty[(Int, Any, Int, ArrayData)]
    val probeKeys = union.map(c => Seq(c: Any))
    st.layers.foreach { case (v, p) =>
      val rows =
        if (v == st.baseVer)
          DriverRead.get(p, entrySchema, Seq("cluster"), probeKeys, Nil)
        else
          // a segment is patch-sized: read whole, then keep only the
          // probed lists — identical candidate set to the Spark
          // view's cluster join
          DriverRead.readAll(p, entrySchema, maxEntries)
            .filter(r => union.contains(r.getInt(1)))
      rows.foreach { r =>
        cand += ((v, r.get(0), r.getInt(1), vectorData(r.getSeq[Any](2))))
      }
    }
    // last-writer-wins per rk: a later tombstone kills an earlier entry
    val mask = st.driverMask(rkType, maxEntries)
    implicit val rkOrd: Ordering[Any] = Catalog.rowkeyOrd
    // 4: per-query candidate cut + exact re-rank (identical to the
    // single-query path over its own probed lists)
    queries.zipWithIndex.map { case ((_, exclude), qi) =>
      val qv = qvs(qi)
      val probed = probedPer(qi).toSet
      val mine = cand.iterator.filter { case (_, _, c, _) => probed.contains(c) }.toSeq
      require(mine.size <= maxEntries,
        s"probed lists hold more than $maxEntries entries — use the Spark path")
      val scored = mine.iterator
        .filter { case (v, rk, _, _) => !mask(v, rk) && !exclude.contains(rk) }
        .map { case (_, rk, _, vec) =>
          (rk, round3(graft.plans.HashOps.cosine(qv, vec, false, false))) }
        .toSeq
      (scored.sortBy { case (rk, s) => (-s, rk) }.take(k), mine.size)
    }
  }

  /** Spark Round's HALF_UP at 3 dp — the score rounding every ANN
    * search applies before ranking. */
  private def round3(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(3, java.math.RoundingMode.HALF_UP).doubleValue()

  /** A vector value (float/double elements; a null element reads as
    * 0.0) as the double ArrayData the HashOps kernels take — float
    * widening is exact, the coercion the codegen'd kernels apply. */
  private def vectorData(xs: Seq[Any]): ArrayData =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
      xs.iterator.map {
        case null => 0.0
        case n: java.lang.Number => n.doubleValue()
        case other => throw new IllegalArgumentException(
          s"non-numeric vector element $other")
      }.toArray)

  /** Driver-side RANKED BM25 top-k — the Lucene TopScoreDocCollector
    * analog completing the serving family (driverFtSearch serves
    * boolean AND, driverFtPhrase phrases; this serves the DEFAULT read
    * pattern of a search path: scored, ranked, k-bounded), entirely on
    * the calling thread with block-max pruning. Result rows are
    * (doc_id, round4 BM25 score) ordered (score desc, doc_id asc) —
    * hash-identical to the Spark path's bm25TopK/bm25WandTopK over the
    * segmented view with (N, avgdl) derived from the live norms
    * (DriverGetSpec pins zero jobs, equality and CDC freshness).
    *
    * Reads, all through DriverRead's pruning layers:
    *   1. dictionary stack (term seeks on the dict base + patch-sized
    *      dictdelta reads) → exact LIVE df per query term;
    *   2. norms scalar metas (base + normseg) minus tombstone-masked
    *      rows → live (N, avgdl) with NO corpus aggregate — the masked
    *      rows' (count, Σdl) come from norms seeks of just the
    *      tombstoned rowkeys, patch-sized by the CDC contract;
    *   3. the scalar-free block summary (bmx: per (term, block)
    *      (max_tf, min_dl); FullText.buildBlockStats documents why
    *      stored impacts would NOT survive CDC scalar drift but these
    *      monotone inputs do) → live per-block upper bounds;
    *   4. postings: CDC segments' query-term lists read whole
    *      (patch-sized, never in the summary); the BASE read only for
    *      SURVIVING blocks — the `seedBlocks` best blocks by summed
    *      upper bound score exactly, the k-th exact score so far is θ,
    *      and every block with ubsum < θ − 1e-4 is dropped WITHOUT
    *      reading a posting or seeking a norm (safety: score(d) ≤
    *      ubsum(B), and round4(score) ≤ score + 5e-5 < θ strictly, so
    *      no pruned doc can reach or tie the k-th exact score; ties at
    *      θ reorder on doc_id only among docs actually scored). The
    *      surviving blocks reach parquet as (term IN q AND doc_id
    *      range) predicates over the (term, doc_id)-sorted base —
    *      pruned blocks are never assembled;
    *   5. norms seeks for exactly the scored docs' dl.
    * `maxPostings` is the serving contract, as everywhere: a broader
    * query belongs on the Spark path (FullText.bm25WandTopK). Returns
    * the rows with the pruning observables DriverGetSpec pins: base
    * blocks carrying query-term postings, and base blocks actually
    * read. */
  def driverFtTopKStats(table: String, indexName: String,
                        terms: Seq[String], k: Int, k1: Double, b: Double,
                        seedBlocks: Int, maxPostings: Int)
      : (Seq[(Any, Double)], Int, Int) = {
    require(k > 0, "k must be positive")
    val st = liveStack(table, indexName, "fulltext")
    val analyzed = graft.index.FullText
      .analyzeTerms(terms, indexAnalyzer(table, indexName, "fulltext")).distinct
    require(analyzed.nonEmpty,
      "every query term is a stopword under this analyzer")
    val (base, baseVer) = (st.base, st.baseVer)
    val normBase = st.paired("norms")
    require(Files.exists(normBase),
      s"no norms artifact under ${st.dir} — the index is damaged; " +
        "CALL system.refresh_index to rebuild")
    val normStack: Seq[(Int, Path)] = (baseVer, normBase) +: st.segments("normseg_v")
    val rkType = rowkeyType(table)
    val mask = st.driverMask(rkType, maxPostings)

    // 1. live df per query term (the dictSegView fold, driver-side)
    val (dictBase, deltas) = st.folded("dict")
    val dictSchema = fields("term" -> StringType, "df" -> LongType)
    val dfAcc = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    DriverRead.get(dictBase, dictSchema, Seq("term"),
        analyzed.map(t => Seq(t: Any)), Manifest.read(dictBase).getOrElse(Nil))
      .foreach(r => dfAcc(r.getString(0)) += r.getLong(1))
    deltas.foreach { case (_, p) =>
      DriverRead.readAll(p, DeltaSchema, maxPostings).foreach { r =>
        val t = r.getString(0)
        if (analyzed.contains(t)) dfAcc(t) += r.getLong(1)
      }
    }

    // 2. live (N, avgdl): Σ metas − tombstone-masked norms rows
    var nLive = 0L
    var dlLive = 0L
    normStack.foreach { case (_, p) =>
      val (n, t) = IndexBuild.readNormMeta(p); nLive += n; dlLive += t
    }
    val normSchema = fields("doc_id" -> rkType, "dl" -> LongType)
    val allTombRks: Seq[Any] = mask.rowkeys
    if (allTombRks.nonEmpty) normStack.foreach { case (v, p) =>
      DriverRead.get(p, normSchema, Seq("doc_id"),
          allTombRks.map(x => Seq(x)), Manifest.read(p).getOrElse(Nil))
        .foreach { r =>
          if (mask(v, r.get(0))) { nLive -= 1; dlLive -= r.getLong(1) }
        }
    }
    require(nLive > 0, "BM25 needs a non-empty corpus")
    val avgdl = dlLive.toDouble / nLive
    def idf(t: String): Double = {
      val d = dfAcc(t).toDouble
      math.log(1.0 + (nLive.toDouble - d + 0.5) / (d + 0.5))
    }
    def impact(tf: Double, dl: Double): Double =
      tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))

    // per-doc dl, seeked lazily for exactly the scored docs
    val dlCache = scala.collection.mutable.Map[Any, Long]()
    def seekDl(docIds: Seq[Any]): Unit = {
      val need = docIds.filterNot(dlCache.contains).distinct
      if (need.nonEmpty) normStack.foreach { case (v, p) =>
        DriverRead.get(p, normSchema, Seq("doc_id"),
            need.map(x => Seq(x)), Manifest.read(p).getOrElse(Nil))
          .foreach { r =>
            val id = r.get(0)
            if (!mask(v, id)) dlCache(id) = r.getLong(1)
          }
      }
    }

    // 3.+4. postings: segments whole, base by surviving blocks
    val postSchema = postingsSchema(rkType)
    var nRead = 0
    val acc = scala.collection.mutable.Map[Any,
      scala.collection.mutable.Map[String, Long]]()
    // budget charges each (doc, term) ONCE: the degrade-to-plain-seek
    // branch below re-reads postings the seed pass already ingested
    // (acc assignment is idempotent), and double-charging them could
    // spuriously trip the contract error on a query near maxPostings
    val charged = scala.collection.mutable.Set[(Any, String)]()
    def ingest(v: Int, rows: Seq[Row]): Unit = rows.foreach { r =>
      val id = r.get(1)
      val t = r.getString(0)
      if (charged.add((id, t))) {
        nRead += 1
        require(nRead <= maxPostings,
          s"query matched more than $maxPostings postings — " +
            "use the Spark search path")
      }
      if (!mask(v, id))
        acc.getOrElseUpdate(id,
          scala.collection.mutable.Map[String, Long]())(t) = r.getLong(2)
    }
    def round4(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    def scoreAll(): Seq[(Any, Double)] = {
      seekDl(acc.keys.toSeq)
      acc.iterator.map { case (id, tfs) =>
        // an unmasked posting without a norms row can only mean a
        // damaged segment — fail loudly (silently unranking the doc
        // would be a wrong answer)
        val dl = dlCache.getOrElse(id, throw new IllegalStateException(
          s"doc $id has postings but no norms row — the index is " +
            "damaged; CALL system.refresh_index to rebuild"))
        id -> round4(tfs.iterator.map { case (t, tf) =>
          idf(t) * impact(tf.toDouble, dl.toDouble) }.sum)
      }.toSeq
    }
    st.segments("seg_v").foreach { case (v, p) =>
      ingest(v, DriverRead.get(p, postSchema, Seq("term"),
        analyzed.map(t => Seq(t: Any)), Manifest.read(p).getOrElse(Nil)))
    }
    // ONE shared constant with the summary builders — a build/read
    // divergence would reconstruct wrong doc ranges and mis-prune
    val blockBits = graft.index.FullText.BlockBits
    val bmxPath = st.paired("bmx")
    val integral = rkType == LongType || rkType == IntegerType
    var blocksTotal = 0
    var blocksRead = 0
    if (!integral) {
      // no block space (string rowkeys): exact scoring of every
      // matching base posting — correct, unpruned
      ingest(baseVer, DriverRead.get(base, postSchema, Seq("term"),
        analyzed.map(t => Seq(t: Any)), Manifest.read(base).getOrElse(Nil)))
    } else {
      val bmxSchema = fields("term" -> StringType, "block" -> LongType,
        "max_tf" -> LongType, "min_dl" -> LongType)
      val ub = scala.collection.mutable.Map[Long, Double]().withDefaultValue(0.0)
      DriverRead.get(bmxPath, bmxSchema, Seq("term"),
          analyzed.map(t => Seq(t: Any)), Manifest.read(bmxPath).getOrElse(Nil))
        .foreach { r =>
          ub(r.getLong(1)) +=
            idf(r.getString(0)) *
              impact(r.getLong(2).toDouble, r.getLong(3).toDouble)
        }
      blocksTotal = ub.size
      def mergeRanges(rs: Seq[(Long, Long)]): Seq[(Long, Long)] =
        rs.foldLeft(List.empty[(Long, Long)]) {
          case ((plo, phi) :: rest, (lo, hi)) if lo <= phi + 1 =>
            (plo, math.max(phi, hi)) :: rest
          case (acc0, r) => r :: acc0
        }.reverse
      def readBlocks(bks: Seq[Long]): Seq[Row] =
        if (bks.isEmpty) Nil
        else {
          // sort by the RECONSTRUCTED lo (signed), not the block id:
          // negative doc_ids (legal rowkeys) hash to huge unsigned
          // block ids whose lo (bk << blockBits) wraps back negative —
          // block-id order would hand mergeRanges an lo-unsorted list
          // and its fold would silently absorb (= never read) the
          // negative-lo ranges' postings
          val merged = mergeRanges(bks.map(bk =>
            (bk << blockBits, (bk << blockBits) + ((1L << blockBits) - 1)))
            .sortBy(_._1))
          // a predicate of hundreds of ranges costs more than it saves
          // — degrade to the plain multi-term seek past a bound
          val ranges = if (merged.size > 32) Nil else merged
          DriverRead.getTermsInDocRanges(base, postSchema, analyzed,
            ranges, Manifest.read(base).getOrElse(Nil))
        }
      val seeds = ub.toSeq.sortBy { case (bk, u) => (-u, bk) }
        .take(math.max(seedBlocks, 1)).map(_._1)
      ingest(baseVer, readBlocks(seeds))
      blocksRead += seeds.size
      val seedScores = scoreAll().map(_._2).sorted(Ordering[Double].reverse)
      val theta =
        if (seedScores.size < k) Double.NegativeInfinity
        else seedScores(k - 1)
      val seedSet = seeds.toSet
      val survivors = ub.iterator.collect {
        case (bk, u) if !seedSet.contains(bk) && u >= theta - 1e-4 => bk
      }.toSeq
      ingest(baseVer, readBlocks(survivors))
      blocksRead += survivors.size
    }
    val top = scoreAll()
      .sortWith { case ((ida, sa), (idb, sb)) =>
        if (sa != sb) sa > sb else Catalog.rowkeyOrd.lt(ida, idb) }
      .take(k)
    (top, blocksTotal, blocksRead)
  }
}
