package graft.kv

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths, Path}
import scala.jdk.CollectionConverters._

/** Index build and maintenance for a [[Catalog]]'s tables: index DDL
  * (create, refresh, drop, compact/fold, graph builds), the per-flavor
  * artifact builders, the segmented Spark views of an [[IndexStack]],
  * and the per-write maintenance every write path stages with its
  * snapshot — kv indexes rewritten file-granularly, analytic flavors
  * extended by CDC segments. Each index is its own table, as in the
  * reference (HBaseSchema.kt:262-319: `{table}.{type}.{index}`).
  * Reached through the one-line forwards on [[Catalog]]. */
private[kv] final class IndexBuild(cat: Catalog) {
  import ArtifactStage.deleteRecursively
  import ManifestCapture.canonKey
  import IndexBuild.{ikColsOf, readNormMeta, writeNormMetaJson}
  import cat.{dataVersionOf, held, indexAnalyzer, indexAsOfVersion, indexDir,
    indexesOf, liveStack, mapper, mergeTargetRowsPerFile, primaryKeyOf, readMeta, rowkeyType,
    schemaOf, setMetaAttr, snapshotDir, spark, tableExists, withList, withWriteLock,
    writeMeta}

  /** Target bytes per output file when a merge rewrites kv-index files
    * — the same 128 MB as [[Catalog.compact]]'s default. */
  private val mergeTargetFileBytes: Long = 128L * 1024 * 1024

  /** Carry a whole (flat) index-artifact dir forward by per-file
    * [[Manifest.linkOrCopy]] — the graph-era fold's cent/vmeta carry, where
    * the bytes are version-identical and only the name advances. */
  private def copyArtifactDir(src: Path, dstRoot: String): Unit = {
    val dst = Paths.get(dstRoot)
    Files.createDirectories(dst)
    withList(src)(_.toList).foreach { f =>
      if (!Files.isDirectory(f))
        Manifest.linkOrCopy(f, dst.resolve(f.getFileName.toString))
    }
  }

  /** The segment-maintenance dir prefixes, and the full set of
    * versioned index-artifact prefixes (base + dictionary + segments).
    * Single source of truth: the orphan cleanup, vacuum's sweep and
    * segmentVersion all reason over the same families — a new
    * artifact flavor added here is covered everywhere at once. */
  private final val SegmentDirPrefixes =
    Seq("seg_v", "tomb_v", "dictdelta_v", "posseg_v", "normseg_v")
  private final val IndexDirPrefixes =
    Seq("data_v", "dict_v", "pos_v", "cent_v", "vmeta_v", "graph_v",
      "norms_v", "bmx_v", "fz_v") ++ SegmentDirPrefixes

  /** Fence, then delete every artifact dir at version `v` of `indexes`
    * (base, siblings, dictionary, segments): what a crashed writer left
    * for a version it never published. The fence comes first because
    * "`v` is unpublished" holds only for the current grant — for a
    * lapsed holder, `v` may be the new owner's published version and
    * these its live artifacts. */
  private[kv] def clearIndexArtifactsAt(name: String,
                                        indexes: Seq[(String, String, Seq[String])],
                                        v: Int): Unit = {
    ArtifactStage.fence(held(name))
    for ((iname, ty, _) <- indexes; p <- IndexDirPrefixes)
      deleteRecursively(indexDir(name, iname, ty).resolve(s"$p$v"))
  }

  /** Version carried by a segment/tombstone/dict-delta dir name, if any. */
  private def segmentVersion(dirName: String): Option[Int] =
    SegmentDirPrefixes.collectFirst {
      case p if dirName.startsWith(p) =>
        scala.util.Try(dirName.stripPrefix(p).toInt).toOption
    }.flatten

  /** Vacuum's share of the index dirs of `name`: every artifact dir of
    * the families above (unversioned creation artifacts included) and
    * every fold/refresh staging dir stranded by a crash mid-build is
    * deleted once `idle`, unless a reader at the live version resolves
    * it — each index's LIVE base (resolved against the published table
    * pointer: an orphan data_v(next) from a crashed maintenance job is
    * garbage, not the keeper), its paired siblings and dictionary
    * counterparts, and every segment still contributing to the live
    * view. */
  private[kv] def vacuumIndexes(name: String, liveV: Int, idle: Path => Boolean): Unit =
    indexesOf(name).foreach { case (iname, ty, _) =>
      val dir = indexDir(name, iname, ty)
      if (Files.exists(dir)) {
        // exactly what a reader at the live version resolves (the
        // IndexStack pairing rules)
        val st = IndexStack.at(dir, liveV)
        val keep = (Seq(st.base, st.folded("dict")._1, st.folded("fz")._1) ++
          Seq("cent", "vmeta", "pos", "graph", "norms", "bmx").map(st.paired))
          .map(_.getFileName.toString).toSet
        withList(dir) { it =>
          it.filter { p =>
            val n = p.getFileName.toString
            (IndexDirPrefixes.exists(f => n.startsWith(f.stripSuffix("_v"))) ||
              n.startsWith(".staging_")) &&
              !keep.contains(n) && idle(p) &&
              !segmentVersion(n).exists(v => v > st.baseVer && v <= liveV)
          }.toList
        }.foreach(deleteRecursively)
      }
    }

  // ------------------------------------------------------------------
  // Segment + tombstone incremental maintenance for analytic indexes
  // (fulltext, bitmap, vector) — the Lucene segment model, Spark-first:
  // every incrementalMerge appends a PATCH-SIZED postings/bitmap
  // segment (seg_vN), a rowkey tombstone set (tomb_vN) and, for
  // fulltext, a document-frequency delta (dictdelta_vN). The read
  // path unions base + live segments and masks any posting whose doc
  // was tombstoned at a LATER version (a doc re-added after its
  // tombstone lives in a later segment, which the tombstone doesn't
  // touch). compactIndex folds the stack back into a single base.
  // At 100 TB a one-file CDC merge thus costs index I/O proportional
  // to the patch, never a corpus-sized rebuild.
  // ------------------------------------------------------------------

  /** Append analytic-index segments for a bounded merge patch.
    * `patchRows` is the post-image of the patched keys (upsert
    * semantics: the patch row IS the new row); `preRows` the
    * pre-image of those keys from the touched files (already being
    * read by the merge — no extra corpus I/O). Returns the indexes
    * whose as-of the commit moves to `next`. */
  private[kv] def maintainAnalyticIndexes(name: String, next: Int,
                                          patchRows: DataFrame,
                                          preRows: DataFrame): Seq[(String, String)] = {
    import org.apache.spark.sql.functions._
    val analytic = indexesOf(name).filter(i =>
      i._2.equalsIgnoreCase("fulltext") || i._2.equalsIgnoreCase("bitmap") ||
        i._2.equalsIgnoreCase("vector"))
    if (analytic.isEmpty) return Nil
    val rk = primaryKeyOf(name).head
    // crashed-attempt healing: a prior merge toward this SAME `next`
    // may have appended its segments (or an auto-fold's base), then
    // died before the commit. Those artifacts describe a patch that
    // never published — kept, the publish would serve the dead
    // attempt's segments beside this one's. They go unconditionally
    // (this attempt has written nothing yet).
    clearIndexArtifactsAt(name, analytic, next)
    // a segment only extends an index that was CURRENT before this
    // merge: an index already stale (it missed a bulk write, which
    // has no bounded patch) must stay stale at its old as-of —
    // appending this patch and freshening would silently hide the
    // missed content until someone noticed wrong search results. An
    // as-of above next-1 is a dead attempt's bump from a build that
    // persisted it ahead of the pointer: current at next-1 as well.
    analytic.filter { case (iname, ty, _) =>
      indexAsOfVersion(name, iname, ty) >= next - 1
    }.map { case (iname, ty, cols) =>
      val dir = indexDir(name, iname, ty)
      // the segments take their names here, not at the commit: the
      // auto-fold below must see this batch's segments to fold them.
      // Version-`next` layers stay invisible to readers until the table
      // pointer reaches `next`, so their rename order is free.
      ArtifactStage.run(dir, held(name)) { stage =>
        val c = cols.head
        // the patched rowkeys, masking every older layer's rows
        def rkTombs(): Unit = stage.stage(s"tomb_v$next") { p =>
          patchRows.select(col(rk).as("rk")).distinct().coalesce(1)
            .write.mode("overwrite").parquet(p)
        }
        ty.toUpperCase match {
          case "FULLTEXT" =>
            // one tokenize pass over the patch: positions are the source
            // of truth, the postings segment derives from them. The
            // positional segment rides beside the postings segment; the
            // shared tombstones mask both families' older rows. The
            // segment MUST use the index's own analyzer or it would mix
            // stemmed and unstemmed terms into one view.
            val an = indexAnalyzer(name, iname)
            val ts = schemaOf(name)
            val rkType = ts(rk).dataType
            // bounded patches (the CDC contract — unbounded writes take
            // the bulk path) build all the artifacts ON THE DRIVER with
            // the same static kernels the Spark expressions call
            // (DriverSegment — the reference's synchronous per-Put
            // maintenance shape): tiny Spark write actions would cost
            // ~10 scheduler round-trips for microseconds of CPU.
            val maxDriver = spark.conf
              .getOption("spark.graft.index.driverSegmentMaxRows")
              .map(_.toInt).getOrElse(10000)
            val probe: Array[Row] =
              if (DriverSegment.supports(rkType, ts(c).dataType))
                patchRows.select(col(rk), col(c)).limit(maxDriver + 1).collect()
              else Array.empty
            if (probe.nonEmpty && probe.length <= maxDriver) {
              val pre = preRows.select(col(rk), col(c)).collect()
              DriverSegment.writeFulltext(stage, next, probe, pre, an, rkType)
            } else {
            val segPos =
              graft.index.FullText.buildPositional(patchRows, rk, c, an).cache()
            val segPost = graft.index.FullText.postingsFromPositional(segPos)
            try {
              // patch-sized frames, ONE sorted file per segment (the
              // Lucene segment shape): an explicit single partition
              // skips repartitionByRange's range-sampling job per write
              stage.stage(s"posseg_v$next") { p =>
                KvLayout.writeSorted(segPos, Seq("term"), p, partitions = 1)
              }
              stage.stage(s"seg_v$next") { p =>
                KvLayout.writeSorted(segPost, Seq("term"), p, partitions = 1)
              }
              // norms delta: token count per patched doc (+ scalar meta)
              // — the ranked serving path's per-artifact dl source
              stage.stage(s"normseg_v$next") { p =>
                val segDl = graft.index.FullText.buildDocLens(segPost)
                KvLayout.writeSorted(segDl, Seq("doc_id"), p, partitions = 1)
                writeNormMeta(Paths.get(p), segDl)
              }
              rkTombs()
              // df delta: +1 per term newly in a patched doc, -1 per term
              // that was in its pre-image — the dictionary view folds
              // these without re-counting the corpus
              stage.stage(s"dictdelta_v$next") { p =>
                val add = graft.index.FullText.buildDictionary(segPost)
                  .select(col("term"), col("df").cast("long").as("ddf"))
                val remove = graft.index.FullText.buildDictionary(
                    graft.index.FullText.buildPostings(preRows, rk, c, an))
                  .select(col("term"), (-col("df")).cast("long").as("ddf"))
                add.unionByName(remove).groupBy("term").agg(sum("ddf").as("ddf"))
                  .filter(col("ddf") =!= 0L).coalesce(1)
                  .write.mode("overwrite").parquet(p)
              }
            } finally { segPos.unpersist(); () }
            }
          case "BITMAP" =>
            stage.stage(s"seg_v$next") { p =>
              graft.index.BitmapIndex.build(patchRows, rk, c)
                .write.mode("overwrite").parquet(p)
            }
            // one tombstone bitmap per id-shard: clears the patched rows'
            // bits from EVERY value's older bitmaps (their old value is
            // whatever it was; the new value's bits live in this segment)
            stage.stage(s"tomb_v$next") { p =>
              val agg = udaf(new graft.index.BitmapAgg(),
                org.apache.spark.sql.Encoders.scalaLong)
              patchRows.select(col(rk).cast("long").as("__rk"))
                .groupBy(shiftrightunsigned(col("__rk"),
                  graft.index.BitmapIndex.ShardBits).as("shard"))
                .agg(agg(col("__rk")).as("bm"))
                .write.mode("overwrite").parquet(p)
            }
          case "VECTOR" =>
            // patch vectors assign to the nearest EXISTING centroid and
            // encode against the EXISTING codebooks (cheap write-path
            // maintenance; compact_index re-trains) — cost ∝ patch ×
            // (|centroids| + m·k), never a corpus re-fit
            val (cent, vmeta) = vectorArtifacts(IndexStack.at(dir, next))
            // one file per patch segment, same bounded-patch reasoning
            // as the fulltext branch
            stage.stage(s"seg_v$next") { p =>
              KvLayout.writeSorted(
                graft.similarity.VectorIndex.encodeEntries(
                  patchRows, rk, c, cent, vmeta),
                Seq("cluster"), p, partitions = 1)
            }
            rkTombs()
          case _ => ()
        }
      }
      // tiered-merge analog (Lucene merges segments automatically):
      // past `autoFold` live segments the stack folds into a fresh
      // base right here, still under the table write lock — read
      // amplification stays bounded at any CDC cadence without an
      // operator having to CALL compact_index. Cost ∝ index frames,
      // amortized over autoFold merges.
      val autoFold = spark.conf.getOption("spark.graft.index.autoFoldSegments")
        .map(_.toInt).getOrElse(8)
      if (IndexStack.at(dir, next).segments("seg_v").size >= autoFold)
        foldIndexStack(name, iname, ty, next): Unit
      (iname, ty)
    }
  }

  /** Fold an index's segment stack into a single base
    * (`CALL system.compact_index`) — reads ONLY index frames
    * (base + segments), never the corpus, unlike refreshIndex's full
    * rebuild. The fold targets the index's AS-OF version, not the
    * table's live version: a stack gone stale under a later bulk
    * write folds to a base carrying its as-of content and STAYS
    * stale — folding it to the live version would relabel old
    * content as fresh. After the fold, vacuum reclaims the dead
    * segments. */
  def compactIndex(table: String, indexName: String, indexType: String): Unit =
    withWriteLock(table) {
      val asOf = indexAsOfVersion(table, indexName, indexType)
      // under the write lock asOf <= live always; the min is belt and
      // braces against a hand-edited registry
      val upTo = math.min(asOf, dataVersionOf(table))
      foldIndexStack(table, indexName, indexType, upTo): Unit
      // asOf unchanged: the fold moves bytes, not content version
    }

  /** The fold body, callable under an already-held write lock with an
    * explicit version bound (`upTo` may be the version being
    * published, which the table pointer hasn't reached yet). Folds
    * the segmented view into data_v(upTo) (+ dict/fz/pos/norms/bmx for
    * fulltext, cent/vmeta/graph for vector) through one
    * [[ArtifactStage]], data last. The folded DATA base is the
    * effective publish point: vacuum's segment/delta retention keys
    * off the resolved data base version, so an interruption before its
    * rename leaves the old base live with every delta/posseg it needs
    * still retained. IndexSpec pins the mid-fold-crash state. Returns
    * false when there is no stack to fold. */
  private def foldIndexStack(table: String, indexName: String,
                             indexType: String, upTo: Int): Boolean = {
    val dir = indexDir(table, indexName, indexType)
    if (!IndexStack.at(dir, upTo).hasDelta) return false
    // crashed-fold healing: artifacts at upTo beside an older data
    // base are a fold that died before its data rename. dict/fz
    // resolve at the bound, so the views below would read them as
    // their own base and the writes would read from their own output
    // paths (Spark refuses, so every retry would fail and wedge CDC on
    // this table). They go, behind the fence (the orphan premise holds
    // only for the current grant), before the stack is listed.
    val orphans = indexType.toUpperCase match {
      case "FULLTEXT" => Seq("dict", "pos", "norms", "bmx", "fz")
      case "BITMAP" => Nil
      case _ => Seq("cent", "vmeta", "graph") // vector (kv never has a delta)
    }
    ArtifactStage.fence(held(table))
    orphans.foreach(n => deleteRecursively(dir.resolve(s"${n}_v$upTo")))
    val st = IndexStack.at(dir, upTo)
    ArtifactStage.run(dir, held(table)) { stage =>
      indexType.toUpperCase match {
        case "FULLTEXT" =>
          val foldedDict = dictSegView(st)
          stage.stage(s"dict_v$upTo") { p =>
            KvLayout.writeSorted(foldedDict, Seq("term"), p)
          }
          // the fuzzy sidecar folds WITH the dict (same rows, (tlen,
          // term) layout); its version number alone pairs it with the
          // deltas still to apply (driverFtFuzzy folds deltas above the
          // fz base's OWN version)
          stage.stage(s"fz_v$upTo") { p =>
            writeFtFuzzy(foldedDict, p, partitions = 0)
          }
          stage.stage(s"pos_v$upTo") { p =>
            KvLayout.writeSorted(positionsView(st), Seq("term"), p)
          }
          // the folded postings feed data + norms + block stats — cache
          // across the three writes (the metas derive from the folded
          // frame, complete).
          val foldedPost = postingsView(st).cache()
          try {
            val doclens = graft.index.FullText.buildDocLens(foldedPost).cache()
            try {
              val (nd, td) = aggDoclens(doclens)
              val parts = ftRankedParts(nd)
              stage.stage(s"norms_v$upTo") { p =>
                KvLayout.writeSorted(doclens, Seq("doc_id"), p,
                  partitions = parts)
                writeNormMetaJson(Paths.get(p), nd, td)
              }
              rowkeyType(table) match {
                case LongType | IntegerType =>
                  stage.stage(s"bmx_v$upTo") { p =>
                    KvLayout.writeSorted(
                      graft.index.FullText.buildBlockStats(foldedPost, doclens),
                      Seq("term"), p, partitions = parts)
                  }
                case _ => ()
              }
            } finally { doclens.unpersist(); () }
            stage.stage(s"data_v$upTo") { p =>
              KvLayout.writeSorted(foldedPost, Seq("term", "doc_id"), p)
            }
          } finally { foldedPost.unpersist(); () }
        case "BITMAP" =>
          stage.stage(s"data_v$upTo") { p =>
            bitmapSegView(st).write.mode("overwrite").parquet(p)
          }
        case _ =>
          val graphBase = st.paired("graph")
          if (Files.exists(graphBase)) {
            // GRAPH-ERA fold: the coarse structure is FIXED between
            // refreshes (the DiskANN trade — re-fitting the quantizer
            // would re-key every list and force a FULL graph rebuild;
            // refresh_index owns the re-train), so the fold is
            // list-bounded end to end: cent/vmeta carry forward as
            // links, the segmented entries fold at their existing
            // encodings, and the fresh-delta rows fold into only the
            // TOUCHED per-list graphs (Hnsw.foldDelta — untouched lists
            // carry over row-identical, HnswSpec pins it).
            val folded = vectorView(st).cache()
            try {
              import org.apache.spark.sql.functions.col
              val entries = folded.select(col("cluster"), col("rk"), col("v"))
              // fold at the degree the graph was BUILT with (persisted
              // beside it) — the default would mix degrees after the
              // first fold of a non-default-m graph
              val graphM = readGraphM(graphBase)
              stage.stage(s"vmeta_v$upTo") { p =>
                copyArtifactDir(st.paired("vmeta"), p)
              }
              stage.stage(s"cent_v$upTo") { p =>
                copyArtifactDir(st.paired("cent"), p)
              }
              stage.stage(s"graph_v$upTo") { p =>
                writeGraph(graft.similarity.Hnsw.foldDelta(
                  spark.read.parquet(graphBase.toString), entries, graphM), graphM, p)
              }
              stage.stage(s"data_v$upTo") { p =>
                KvLayout.writeSorted(folded, Seq("cluster"), p)
              }
            } finally folded.unpersist()
          } else {
          // compact RE-TRAINS: centroids drift as CDC patches accumulate
          // (every patch assigned to backfill-time centroids), so the
          // fold refits coarse quantizer + codebooks from the folded
          // entries — reading ONLY index frames (the vectors live in the
          // index), never the corpus.
          val folded = vectorView(st).select("rk", "v").cache()
          try withVectorArtifacts(folded, "rk", "v", graphM = None)(stageAll(stage, upTo))
          finally folded.unpersist()
          }
      }
    }
    true
  }

  /** Centroids + codebook meta of a vector stack, paired at its data
    * base's version. */
  private def vectorArtifacts(st: IndexStack): (DataFrame,
      graft.similarity.VectorIndex.VMeta) =
    (spark.read.parquet(st.paired("cent").toString),
      graft.similarity.VectorIndex.metaOf(
        spark.read.parquet(st.paired("vmeta").toString)))

  /** The masked Spark views of a stack's postings, positions and
    * vector entries. */
  private def postingsView(st: IndexStack): DataFrame =
    st.masked(spark, st.layers, Seq("term", "doc_id", "tf"), "doc_id")

  private def positionsView(st: IndexStack): DataFrame =
    st.masked(spark, st.posLayers, Seq("doc_id", "term", "pos"), "doc_id")

  private def vectorView(st: IndexStack): DataFrame =
    st.masked(spark, st.layers, Seq("rk", "cluster", "v", "codes", "rcodes"), "rk")

  /** Index DDL (reference: HBaseSchema.kt:262-319 createIndex — build
    * index table `{table}.{type}.{index}`, backfill from a scan, and
    * register it in the table's metadata; dropIndex reverses). The
    * registry is a LIST — a table carries any number of named indexes,
    * like the reference's index tables (HBaseSchema.kt:262-319).
    * Index flavors: "kv" (graft.index.KvIndex layout, single- or
    * multi-column), "bitmap", "fulltext" and "vector" (single-column;
    * the vector flavor persists the IVF centroid table, PQ codebooks
    * and cluster-sorted encoded entries — the ANN analog of the
    * reference's persisted Lucene directory). */
  def createIndex(table: String, indexName: String, indexType: String,
                  cols: Seq[String], analyzer: String,
                  graph: Boolean, graphM: Int): Unit = {
    require(tableExists(table), s"table $table does not exist")
    require(cols.nonEmpty, "index needs at least one column")
    // the analyzer option belongs to the fulltext flavor (the Lucene
    // Standard/EnglishAnalyzer analog); "standard" is the no-op chain
    require(graft.index.FullText.Analyzers.contains(analyzer),
      s"unknown analyzer $analyzer")
    require(analyzer == "standard" || indexType.equalsIgnoreCase("fulltext"),
      s"analyzer option applies to fulltext indexes, not $indexType")
    // graph=>true builds the navigable-graph artifact IN the backfill
    // (`CALL system.create_index(..., options => 'graph=true')`), so a
    // vector index serves graph-ANN with an EMPTY delta buffer from
    // version 1 — without it, the index serves only after a separate
    // buildVectorGraph DDL, a window where sim_hnsw_ann has no graph
    require(!graph || indexType.equalsIgnoreCase("vector"),
      s"graph option applies to vector indexes, not $indexType")
    require(graphM > 0, s"graph degree m must be positive, got $graphM")
    val dir = indexDir(table, indexName, indexType)
    withWriteLock(table) {
    // existence checks INSIDE the lock: two concurrent createIndex
    // calls for the same index must not both pass the guard and both
    // backfill / double-register (TOCTOU)
    require(!Files.exists(dir),
      s"$table $indexName $indexType exists when create index") // IndexExistsException
    require(!indexesOf(table).exists { case (n, ty, _) =>
      n == indexName && ty.equalsIgnoreCase(indexType) },
      s"$table $indexName $indexType already registered")
    // validate index columns BEFORE the dir exists: a typo'd column
    // failing mid-backfill would strand a half-built dir that makes
    // every corrected retry trip the exists-guard above
    locally {
      val ts = schemaOf(table)
      cols.foreach { c =>
        require(ts.fields.exists(_.name.equalsIgnoreCase(c)),
          s"index column '$c' not in table $table")
      }
    }
    // reference locks the table during DDL (table.sys lockStatus,
    // HBaseSchema.kt README: DDL修改时会锁定); the write lock makes the
    // meta read-modify-write atomic vs concurrent bulk writers, and
    // the attribute flip lets readers see DDL-in-progress
    setMetaAttr(table, "lockStatus", "LOCKED")
    try {
      Files.createDirectories(dir)
      // nothing here is visible until the registration below (a failed
      // backfill deletes the dir), so the artifacts need no stage and
      // no order: they are independent frames over the builder's
      // cached pass and write CONCURRENTLY — each is scheduler overhead
      // + a small job, and sequencing them was most of the backfill's
      // wall time. The unversioned names resolve as the base (−1).
      withIndexArtifacts(table, indexType, cols, cat.table(table).df,
          analyzer, if (graph) Some(graphM) else None) { arts =>
        runAllBlocking(arts.map { case (n, w) => () => w(dir.resolve(n).toString) })
      }
      val meta = readMeta(table)
      val reg = meta.withArray[ArrayNode]("indexes")
      val entry = mapper.createObjectNode()
      entry.put("name", indexName)
      entry.put("type", indexType.toUpperCase)
      entry.put("cols", cols.mkString(","))
      if (analyzer != "standard") entry.put("analyzer", analyzer): Unit
      entry.put("asOfVersion", dataVersionOf(table))
      reg.add(entry): Unit
      writeMeta(table, meta)
    } catch {
      case e: Throwable =>
        // failed backfill: drop the half-built dir so a retry doesn't
        // trip the exists-guard (registration is last, so the registry
        // cannot reference this index yet)
        try deleteRecursively(dir) catch { case _: Exception => () }
        throw e
    } finally setMetaAttr(table, "lockStatus", "UNLOCK")
    }
  }

  /** Run independent Spark write actions concurrently and wait for
    * ALL of them (success or failure) before returning — a failure
    * rethrows only after every sibling finished, so a caller's
    * cleanup (e.g. createIndex deleting the half-built dir) never
    * races a still-running write. Used where artifact writes have no
    * ordering contract (unregistered backfill dirs). */
  private def runAllBlocking(writes: Seq[() => Unit]): Unit = {
    import scala.concurrent.{Await, Future, blocking}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // `blocking`: each body waits on a Spark job, so the pool must not
    // cap the writes at its core-count parallelism
    val done = writes.map(w => Future(blocking(w())))
      .map(f => scala.util.Try(Await.result(f, Duration.Inf)))
    val failures = done.collect { case scala.util.Failure(e) => e }
    failures.headOption.foreach { first =>
      // sibling failures ride along as suppressed — a multi-write
      // backfill failure must not lose the other artifacts' causes
      failures.tail.filter(_ ne first).foreach(first.addSuppressed)
      throw first
    }
  }

  /** An index artifact: its name prefix (unversioned for createIndex's
    * backfill, `<prefix>_v<version>` for a refresh) and its writer,
    * given the artifact dir's path. */
  private type Artifact = (String, String => Unit)

  /** Stage a builder's artifacts at `<prefix>_v<version>`, in order. */
  private def stageAll(stage: ArtifactStage, version: Int)(arts: Seq[Artifact]): Unit =
    arts.foreach { case (n, w) => stage.stage(s"${n}_v$version")(w) }

  /** THE full build of one index flavor over `rows`, shared by
    * createIndex (writes the artifacts concurrently into the
    * unregistered dir) and refreshIndex (stages them, publishes them
    * at the live version). The artifacts come in rename order —
    * siblings before the data base, the [[ArtifactStage]] contract —
    * and the builder's cached intermediates live until `use` returns.
    * `graphM` adds a vector index's navigable graph at that degree. */
  private def withIndexArtifacts[A](table: String, indexType: String,
                                    cols: Seq[String], rows: DataFrame,
                                    analyzer: String, graphM: Option[Int])
                                   (use: Seq[Artifact] => A): A = {
    val pk = primaryKeyOf(table).head
    indexType.toLowerCase match {
      case "kv" =>
        use(Seq("data" -> (p =>
          writeKvIndex(kvEntriesOf(table, rows, cols), cols, Paths.get(p)))))
      case "bitmap" =>
        require(cols.size == 1, "bitmap indexes are single-column")
        use(Seq("data" -> (p =>
          graft.index.BitmapIndex.build(rows, pk, cols.head)
            .write.mode("overwrite").parquet(p))))
      case "fulltext" =>
        require(cols.size == 1, "fulltext indexes are single-column")
        withFulltextArtifacts(rows, pk, cols.head, analyzer, rowkeyType(table))(use)
      case "vector" =>
        require(cols.size == 1, "vector indexes are single-column")
        withVectorArtifacts(rows, pk, cols.head, graphM)(use)
      case other => throw new IllegalArgumentException(s"index type $other")
    }
  }

  /** The fulltext artifact set — the reference's Lucene flavor:
    * persisted inverted index (postings term-sorted ⇒ term filters
    * prune row groups) plus positional postings, the frame phrase
    * queries need. ONE tokenize pass carrying the per-doc token count:
    * positions are the source of truth, and postings, dictionary
    * (+ its fuzzy layout), norms and block stats (long/int rowkeys)
    * all derive from them with no join back. ONE action (the norms
    * meta agg) sizes every write up front: Σdl IS the positional row
    * count and bounds the postings rows, so no write pays
    * repartitionByRange's range-sampling execution of its input. */
  private def withFulltextArtifacts[A](rows: DataFrame, pk: String, c: String,
                                       analyzer: String, rkType: DataType)
                                      (use: Seq[Artifact] => A): A = {
    val ft = graft.index.FullText
    val posDl = ft.buildPositionalWithDl(rows, pk, c, analyzer).cache()
    try {
      val postingsDl = ft.postingsWithDl(posDl).cache()
      try {
        val doclens = ft.doclensFromPostings(postingsDl).cache()
        try {
          val (nd, td) = aggDoclens(doclens)
          val partsDoc = ftRankedParts(nd)
          val partsTok = ftRankedParts(td)
          val postings = postingsDl.select("term", "doc_id", "tf")
          val dict = ft.buildDictionary(postings)
          val blockStats: Seq[Artifact] = rkType match {
            case LongType | IntegerType => Seq("bmx" -> (p =>
              KvLayout.writeSorted(ft.buildBlockStatsWithDl(postingsDl),
                Seq("term"), p, partitions = partsDoc)))
            case _ => Nil
          }
          use(Seq[Artifact](
            "pos" -> (p => KvLayout.writeSorted(posDl.select("doc_id", "term", "pos"),
              Seq("term"), p, partitions = partsTok)),
            "dict" -> (p => KvLayout.writeSorted(dict, Seq("term"), p,
              partitions = partsDoc)),
            "fz" -> (p => writeFtFuzzy(dict, p, partsDoc)),
            "norms" -> { p =>
              KvLayout.writeSorted(doclens, Seq("doc_id"), p, partitions = partsDoc)
              writeNormMetaJson(Paths.get(p), nd, td)
            }) ++ blockStats :+
            // (term, doc_id) sort: within one term the postings stay
            // doc-id ordered (the Lucene postings-list order), so the
            // ranked driver path's surviving-block doc ranges prune
            // pages through the parquet column index
            ("data" -> (p => KvLayout.writeSorted(postings, Seq("term", "doc_id"), p,
              partitions = partsTok))))
        } finally { doclens.unpersist(); () }
      } finally { postingsDl.unpersist(); () }
    } finally { posDl.unpersist(); () }
  }

  /** The vector artifact set: codebook meta, IVF centroids, the
    * optional navigable graph at degree `graphM`, and the
    * cluster-sorted encoded entries (an IVF probe's per-list scan
    * prunes row groups on the cluster column instead of reading the
    * whole encoded corpus). */
  private def withVectorArtifacts[A](rows: DataFrame, pk: String, c: String,
                                     graphM: Option[Int])
                                    (use: Seq[Artifact] => A): A = {
    import org.apache.spark.sql.functions.col
    val built = graft.similarity.VectorIndex.build(rows, pk, c)
    try use(Seq[Artifact](
        "vmeta" -> (p => graft.similarity.VectorIndex.metaFrame(spark, built.meta)
          .write.mode("overwrite").parquet(p)),
        "cent" -> (p => built.centroids.write.mode("overwrite").parquet(p))) ++
      graphM.map(m => "graph" -> ((p: String) => writeGraph(
        graft.similarity.Hnsw.buildGraph(
          built.entries.select(col("cluster"), col("rk"), col("v")), m), m, p))) :+
      ("data" -> (p => KvLayout.writeSorted(built.entries, Seq("cluster"), p))))
    finally built.release()
  }

  /** The FUZZY-serving dictionary sidecar: the same rows as the term
    * dictionary, laid out sorted by (tlen, term) so a driver-side
    * edit-distance-k expansion ([[Catalog.driverFtFuzzy]]) reads ONLY the
    * [len−k, len+k] length bands as range seeks — the Lucene
    * FuzzyQuery automaton's length constraint turned into a physical
    * layout (the term-sorted dict can only serve that band as a full
    * scan). Vocab-sized (tiny next to the postings); versioned with
    * and derived from the dict stack, so dictdelta_v patches fold on
    * top of it by version number exactly like the dictionary view. */
  private def writeFtFuzzy(dict: DataFrame, path: String,
                           partitions: Int): Unit = {
    import org.apache.spark.sql.functions.{col, length}
    val withLen =
      if (dict.columns.contains("tlen")) dict
      else dict.withColumn("tlen", length(col("term")))
    KvLayout.writeSorted(
      withLen.select(col("tlen").cast("int").as("tlen"), col("term"),
        col("df").cast("long").as("df")),
      Seq("tlen", "term"), path, partitions = partitions)
  }

  /** Output files for the ranked artifacts, sized from the doc count
    * already known to the meta agg (norms: one row per doc; the block
    * summary is the same order — ≤ one row per (query-able term,
    * 64-doc block) and empirically postings-shaped ÷ blocks). */
  private def ftRankedParts(nDocs: Long): Int =
    math.max(1L, (nDocs + mergeTargetRowsPerFile - 1) /
      mergeTargetRowsPerFile).toInt

  private def aggDoclens(doclens: DataFrame): (Long, Long) = {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum}
    val r = doclens.agg(count(lit(1)).as("n"),
      coalesce(sum(col("dl")), lit(0L)).as("total")).head()
    (r.getLong(0), r.getLong(1))
  }

  private def writeNormMeta(dir: Path, doclens: DataFrame): Unit = {
    val (n, total) = aggDoclens(doclens)
    writeNormMetaJson(dir, n, total)
  }

  /** Live dictionary view: the base dictionary (paired with the base
    * postings — both written by the same backfill/refresh/compact)
    * plus any df deltas appended by segment maintenance since. The
    * fold aggregates |vocab| + |deltas| rows — never the corpus. */
  def indexDictionary(table: String, indexName: String, indexType: String): DataFrame =
    dictSegView(liveStack(table, indexName, indexType))

  private def dictSegView(st: IndexStack): DataFrame = {
    import org.apache.spark.sql.functions._
    val (baseDict, deltas) = st.folded("dict")
    val base = spark.read.parquet(baseDict.toString)
    if (deltas.isEmpty) base
    else base.select(col("term"), col("df").cast("long").as("df"))
      .unionByName(deltas.map { case (_, p) =>
        spark.read.parquet(p.toString).select(col("term"), col("ddf").as("df"))
      }.reduce(_ unionByName _))
      .groupBy("term").agg(sum("df").as("df")).filter(col("df") > 0L)
  }

  def dropIndex(table: String, indexName: String, indexType: String): Unit = withWriteLock(table) {
    val dir = indexDir(table, indexName, indexType)
    require(Files.exists(dir),
      s"$table $indexName $indexType not exists when drop index")
    deleteRecursively(dir)
    val meta = readMeta(table)
    val reg = meta.withArray[ArrayNode]("indexes")
    val keep = reg.elements().asScala.filterNot(e =>
      e.path("name").asText() == indexName &&
        e.path("type").asText().equalsIgnoreCase(indexType)).toList
    reg.removeAll()
    keep.foreach(reg.add)
    writeMeta(table, meta)
  }

  /** Live index data: the index's [[IndexStack]] at the published
    * table version as one segmented read view. A base with no
    * segments reads as the plain base. */
  def indexData(table: String, indexName: String, indexType: String): DataFrame =
    segmentedView(liveStack(table, indexName, indexType), indexType)

  private def segmentedView(st: IndexStack, indexType: String): DataFrame =
    if (!st.hasDelta) spark.read.parquet(st.base.toString)
    else indexType.toUpperCase match {
      case "FULLTEXT" => postingsView(st)
      case "BITMAP"   => bitmapSegView(st)
      case "VECTOR"   => vectorView(st)
      case _          => spark.read.parquet(st.base.toString) // kv maintains in place
    }

  /** The live vector-index triple: (entries view, centroids, meta) —
    * what every ANN search consumes. Entries come through the
    * segmented read view (base + CDC segments − tombstones); centroids
    * and codebooks pair at the data base's version (vectorArtifacts).
    * Assemble search-shaped indexes with
    * [[graft.similarity.VectorIndex.ivfOf]]/pqOf/ivfPqOf. */
  def vectorIndexView(table: String, indexName: String): (DataFrame,
      DataFrame, graft.similarity.VectorIndex.VMeta) = {
    val st = liveStack(table, indexName, "vector")
    val (cent, meta) = vectorArtifacts(st)
    (segmentedView(st, "vector"), cent, meta)
  }

  /** Build (or same-version rebuild) the NAVIGABLE-GRAPH artifact of a
    * `vector` index — the graph-ANN serving layer (Hnsw.buildGraph:
    * per-coarse-list m-NN graphs) persisted as `graph_v` beside
    * cent/vmeta/data, paired like them at the data base's version.
    * Build is DDL (O(|list|²) kernels per list, the SemDeDup cost
    * class, amortized over every search); after it, CDC rows appended
    * as segments surface through [[vectorGraphView]]'s structural
    * fresh-delta buffer until `CALL system.compact_index` folds them
    * into only the TOUCHED per-list graphs (foldIndexStack). */
  def buildVectorGraph(table: String, indexName: String, m: Int): Unit =
    withWriteLock(table) {
      val dir = indexDir(table, indexName, "vector")
      require(Files.exists(dir), s"$table $indexName vector not exists")
      import org.apache.spark.sql.functions.col
      val bv = IndexStack.at(dir, dataVersionOf(table)).baseVer
      val view = indexData(table, indexName, "vector")
      ArtifactStage.run(dir, held(table)) {
        _.stage(s"graph_v$bv") { p =>
          writeGraph(graft.similarity.Hnsw.buildGraph(
            view.select(col("cluster"), col("rk"), col("v")), m), m, p)
        }
      }
    }

  /** Write a graph artifact with its build degree `m` (Hnsw.buildGraph's
    * parameter) persisted beside the graph rows: compact-folds rebuild
    * TOUCHED lists and refresh_index re-builds the whole graph, and
    * both must do so at the degree the graph was BUILT with — folding
    * a non-default-m graph at the default would silently mix degrees
    * (touched lists at 8, untouched at the original m). Underscore
    * name keeps the file invisible to the parquet read. */
  private def writeGraph(graph: DataFrame, m: Int, graphDir: String): Unit = {
    graph.write.mode("overwrite").parquet(graphDir)
    Files.writeString(Paths.get(graphDir).resolve("_graft_graph_m"),
      m.toString): Unit
  }

  private def readGraphM(graphDir: Path): Int =
    Files.readString(graphDir.resolve("_graft_graph_m")).trim.toInt

  /** The graph-ANN serving pair: (graph, delta). The graph is the
    * persisted `graph_v` base; the DELTA BUFFER is derived
    * STRUCTURALLY as view ∖ graph (left_anti on CONTENT keys
    * (rk, cluster, v) — the DiskANN fresh-buffer recipe): exactly the
    * CDC rows merged since the last graph build/fold, patch-sized
    * between compactions. Content keys, not rk alone: an upsert that
    * re-encoded an EXISTING rk (same key, fresh v/cluster) must
    * surface in the buffer — rk-only derivation classified it as
    * already-served and graph searches kept scoring the pre-update
    * vector forever (Hnsw.searchStats masks the superseded graph row
    * out of the shortlist; foldDelta's content keys fold it away). */
  def vectorGraphView(table: String, indexName: String): (DataFrame, DataFrame) = {
    // paired at the DATA BASE's version like cent/vmeta: a graph_v
    // orphaned above the data base by a crashed fold/refresh must not
    // resolve — its lists key by a coarse structure the live artifacts
    // don't carry
    val g = liveStack(table, indexName, "vector").paired("graph")
    require(Files.exists(g),
      s"$table $indexName vector has no graph artifact — " +
        "call buildVectorGraph first")
    import org.apache.spark.sql.functions.col
    val graph = spark.read.parquet(g.toString)
    val delta = indexData(table, indexName, "vector")
      .select(col("cluster"), col("rk"), col("v"))
      .join(graph.select(col("rk"), col("cluster"), col("v")),
        Seq("rk", "cluster", "v"), "left_anti")
    (graph, delta)
  }

  /** Live positional postings (doc_id, term, pos) — the frame phrase
    * search consumes: the positional base and `posseg_v` layers under
    * the tombstones the postings share. */
  def indexPositional(table: String, indexName: String,
                      indexType: String): DataFrame =
    positionsView(liveStack(table, indexName, indexType))

  /** Bitmap rows folded per (value, shard): each part's bitmap loses
    * ids tombstoned at a later version, survivors OR together
    * (Bitmap.foldVersions — property-tested last-writer-wins replay,
    * run through the codegen'd BitmapFoldExpr kernel: the fold stays
    * inside the projection's codegen span, no UDF boxing). Work
    * spreads across (value, shard) rows like every other bitmap op;
    * tombstone lists are patch-sized and broadcast. */
  private def bitmapSegView(st: IndexStack): DataFrame = {
    import org.apache.spark.sql.functions._
    val emptyVersioned =
      array().cast("array<struct<__tv:int,bm:binary>>")
    val parts = st.layers.map { case (v, p) =>
      spark.read.parquet(p.toString)
        .select(col("iv"), col("shard"), col("bm")).withColumn("__v", lit(v))
    }.reduce(_ unionByName _)
    val partAgg = parts.groupBy("iv", "shard")
      .agg(collect_list(struct(col("__v"), col("bm"))).as("pbs"))
    val withTombs =
      if (st.tombs.isEmpty) partAgg.withColumn("tbs", emptyVersioned)
      else partAgg.join(
        broadcast(st.tombs.map { case (v, p) =>
          spark.read.parquet(p.toString)
            .select(col("shard"), struct(lit(v).as("__tv"), col("bm")).as("tb"))
        }.reduce(_ unionByName _).groupBy("shard")
          .agg(collect_list(col("tb")).as("tbs"))),
        Seq("shard"), "left")
        // left join: shards with no tombstones carry a null list —
        // normalize to empty so the fold kernel sees two real arrays
        .withColumn("tbs", coalesce(col("tbs"), emptyVersioned))
    withTombs.withColumn("bm",
        graft.plans.BitmapExpressions.fold(col("pbs"), col("tbs")))
      .withColumn("card", graft.index.BitmapIndex.Ops.bitmapCard(col("bm")))
      .filter(col("card") > 0L)
      .select(col("iv"), col("shard"), col("bm"), col("card"))
  }

  // ------------------------------------------------------------------
  // Per-write index maintenance.
  //
  // Reference semantics: KV index tables are maintained synchronously
  // on every base-table Put/Delete (KVIndexTable.kt:95-125 — read old
  // value, delete stale index row, put new one); the Lucene full-text
  // index is maintained by its own writer and committed out of band.
  // Here: "kv" indexes update on every write path — file-granularly
  // when the touched entry set is bounded. The analytic flavors
  // (fulltext, bitmap, vector) stay FRESH through every incremental
  // merge via patch-sized CDC segments (maintainAnalyticIndexes
  // above); a full-snapshot rewrite (bulk load, over-bound merge, SQL
  // row-level rewrite, transaction) has no bounded patch, so they keep
  // their as-of version, report STALE, and rebuild via refreshIndex /
  // CALL system.refresh_index. Index data is versioned like table data (data_vN alongside the
  // original backfill dir) so a maintenance write never clobbers the
  // snapshot a concurrent reader resolved.
  // ------------------------------------------------------------------

  /** Index entry frame for a kv index over `cols`: (ik..., rk). */
  private def kvEntriesOf(table: String, rows: DataFrame, cols: Seq[String]): DataFrame = {
    val rk = primaryKeyOf(table).head
    if (cols.size == 1) graft.index.KvIndex.build(rows, rk, cols.head)
    else graft.index.KvIndex.buildComposite(rows, rk, cols)
  }

  /** Write kv-index entries over `cols` into `dir`, sorted by their
    * index key, and return the range-manifest entries of the lead index
    * column that the same write job folded — None when the indexed
    * column's type keeps no manifest. */
  private def writeKvEntries(entries: DataFrame, cols: Seq[String], dir: Path,
                             partitions: Int = 0): Option[Seq[FileRange]] = {
    val ikCols = ikColsOf(cols.size)
    if (!Manifest.persistable(entries.schema(ikCols.head).dataType)) {
      KvLayout.writeSorted(entries, ikCols, dir.toString, partitions)
      None
    } else Some(Manifest.captured(spark, dir, entries.schema, ikCols.head, None)(c =>
      KvLayout.writeSorted(entries, ikCols, dir.toString, partitions, Some(c))))
  }

  /** A full kv-index build into `dir`, with its manifest. */
  private def writeKvIndex(entries: DataFrame, cols: Seq[String], dir: Path): Unit =
    writeKvEntries(entries, cols, dir).foreach(Manifest.write(spark, dir, _))

  private def setIndexAsOf(table: String, indexName: String, indexType: String,
                           version: Int): Unit = {
    val meta = readMeta(table)
    meta.withArray[ArrayNode]("indexes").elements().asScala
      .find(e => e.path("name").asText() == indexName &&
        e.path("type").asText().equalsIgnoreCase(indexType))
      .foreach(_.asInstanceOf[ObjectNode].put("asOfVersion", version))
    writeMeta(table, meta)
  }

  /** The publish of the staged snapshot `nextDataDir` as `next`, with
    * every registered kv index brought to it: the snapshot's and each
    * index's rename, and the kv as-of bumps. With a bounded
    * pre/post image of the touched rows the index patch is itself
    * file-granular (stale entries anti-joined out of intersecting
    * index files by exact (ik..., rk) tuple, untouched index files
    * hard-linked across); otherwise — full-snapshot writes, unbounded
    * or null-keyed entry sets — the index rebuilds from the complete
    * next snapshot, a write proportional to a write that was already
    * table-sized. Analytic flavors are not touched here: a merge
    * extends them through [[maintainAnalyticIndexes]], a full rewrite
    * leaves them stale. */
  private[kv] def maintainIndexes(name: String, next: Int, nextDataDir: Path,
                                  pre: Option[DataFrame], post: Option[DataFrame],
                                  maxEntryKeys: Int = 100000): Commit.Publish = {
    val kvIndexes = indexesOf(name).filter(_._2.equalsIgnoreCase("kv"))
    lazy val fullPost = spark.read.schema(schemaOf(name)).parquet(nextDataDir.toString)
    val renames = kvIndexes.map { case (iname, ty, cols) =>
      val dir = indexDir(name, iname, ty)
      val ikCols = ikColsOf(cols.size)
      // staged like an index artifact ([[ArtifactStage]]), renamed by
      // the commit point with the table snapshot
      val nextIdxDir = ArtifactStage.stagingRoot(dir, held(name))
      val finalIdxDir = dir.resolve(s"data_v$next")
      val incremental = (pre, post) match {
        case (Some(p), Some(q)) =>
          val remove = kvEntriesOf(name, p, cols)
          val add = kvEntriesOf(name, q, cols)
          val lead = ikCols.head
          val keys = remove.select(lead).unionByName(add.select(lead))
            .distinct().limit(maxEntryKeys + 1).collect().map(r => canonKey(r.get(0)))
          if (keys.length > maxEntryKeys || keys.contains(null)) false
          else {
            val curIdx = IndexStack.at(dir, dataVersionOf(name)).base
            // the index range map goes through the SAME persisted
            // manifest machinery as the table's: written with every
            // index version, carried forward incrementally below —
            // without it every CDC trigger paid a full index
            // lead-column scan just to find the touched files,
            // index-wide I/O the manifest exists to avoid.
            // Persistability follows the indexed column's type (ik1 =
            // first indexed column). The entry frame's own schema IS
            // the index files' schema — no footer read to learn it.
            val idxSchema = remove.schema
            val ranges = Manifest.ensure(spark, curIdx, lead,
              Manifest.persistable(schemaOf(name).apply(cols.head).dataType),
              schema = Some(idxSchema))
            val (touched, untouched) = Manifest.splitByKeyIntersect(ranges, keys)
            val touchedIdx = Manifest.readFiles(spark, curIdx, idxSchema, touched)
            // exact-tuple removal, null-safe on ik (an indexed column
            // may be null); adds are the post-image entries
            val entryCols = ikCols :+ "rk"
            val cond = entryCols.map(c =>
              touchedIdx(c) <=> remove(c)).reduce(_ && _)
            val patched = touchedIdx.join(remove, cond, "left_anti")
              .unionByName(add)
            // output files = touched files (file granularity kept, no
            // range-sampling job for the usual single touched file), and
            // enough more that none exceeds the target size: merges that
            // keep adding entries inside one file's range (a
            // low-cardinality indexed column) split it instead of
            // growing it without bound
            val touchedBytes = touched.map(e => Files.size(curIdx.resolve(e.file))).sum
            Manifest.rewrite(spark, curIdx, nextIdxDir, untouched) {
              writeKvEntries(patched, cols, nextIdxDir,
                partitions = math.max(math.max(1, touched.size),
                  math.ceil(touchedBytes.toDouble / mergeTargetFileBytes).toInt))
            }
            true
          }
        case _ => false
      }
      if (!incremental)
        writeKvIndex(kvEntriesOf(name, fullPost, cols), cols, nextIdxDir)
      nextIdxDir -> finalIdxDir
    }
    Commit.Publish(name, next,
      (nextDataDir -> snapshotDir(name, next)) +: renames,
      kvIndexes.map { case (iname, ty, _) => (iname, ty) })
  }

  /** Rebuild one index at the live version (any flavor) — the SQL
    * surface is `CALL <cat>.system.refresh_index(...)`. The analytic
    * flavors' explicit-refresh model is the bulk analog of the
    * reference's out-of-band Lucene writer commit. */
  def refreshIndex(table: String, indexName: String, indexType: String): Unit =
    withWriteLock(table) {
      val (_, ty, cols) = indexesOf(table)
        .find(i => i._1 == indexName && i._2.equalsIgnoreCase(indexType))
        .getOrElse(throw new IllegalArgumentException(
          s"$table $indexName $indexType not registered"))
      val dir = indexDir(table, indexName, indexType)
      val cur = dataVersionOf(table)
      // an index serving graph-ANN rebuilds its graph with the NEW
      // coarse structure (a stale graph would key its lists by the
      // pre-refresh cluster ids), at the degree it was built with
      val oldGraph = IndexStack.at(dir, cur).latest("graph", cur)
      val graphM =
        if (ty.equalsIgnoreCase("vector") && Files.exists(oldGraph))
          Some(readGraphM(oldGraph))
        else None
      // the rebuild lands AT the live version, which readers resolve
      // the moment a dir appears: the whole set stages, then publishes
      // behind the fence with the data base last. Rebuilt with the
      // index's own analyzer.
      ArtifactStage.run(dir, held(table)) { stage =>
        withIndexArtifacts(table, ty, cols, cat.table(table).df,
          indexAnalyzer(table, indexName), graphM)(stageAll(stage, cur))
      }
      setIndexAsOf(table, indexName, indexType, cur)
    }
}

private[kv] object IndexBuild {
  private val mapper = new ObjectMapper()

  /** Scalar meta beside a norms artifact: the frame's (row count,
    * Σ dl), so the live corpus scalars (N, avgdl) derive at query time
    * from metas + patch-sized tombstone adjustments — never a
    * corpus-sized aggregate on the serving thread. Underscore name
    * keeps the file invisible to parquet reads. */
  def writeNormMetaJson(dir: Path, n: Long, total: Long): Unit = {
    val node = mapper.createObjectNode()
    node.put("n", n)
    node.put("total", total): Unit
    Files.writeString(dir.resolve("_graft_norm_meta.json"),
      mapper.writeValueAsString(node)): Unit
  }

  def readNormMeta(dir: Path): (Long, Long) = {
    val f = dir.resolve("_graft_norm_meta.json")
    require(Files.exists(f),
      s"norms artifact $dir has no scalar meta — CALL system.refresh_index")
    val n = mapper.readTree(Files.readString(f))
    (n.path("n").asLong(), n.path("total").asLong())
  }

  /** The index-key column names of a kv index over `n` columns. */
  def ikColsOf(n: Int): Seq[String] =
    if (n == 1) Seq("ik") else (0 until n).map(i => s"ik$i")
}
