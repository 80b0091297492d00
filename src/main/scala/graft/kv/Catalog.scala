package graft.kv

import com.fasterxml.jackson.databind.{ObjectMapper, JsonNode}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths, Path}
import scala.collection.JavaConverters._

/** DDL + metadata catalog, the Spark-native re-expression of the
  * reference's system tables (reference: HBaseSchema.kt:107-259
  * createTable/dropTable/createIndex/dropIndex; HBaseTable.kt:197-216
  * SystemAttribute/ColumnAttribute stored in `table.sys`/`column.sys`).
  *
  * Here the warehouse is a directory tree:
  *   warehouse/<table>/_graft_meta.json   — table.sys row equivalent
  *   warehouse/<table>/data_vN/ (parquet) — rowkey-sorted data snapshots
  *   warehouse/<table>.<type>.<index>/    — index tables, same naming
  *     scheme as the reference (README.md "{表名}.{系统功能}.{扩展描述}",
  *     HBaseSchema.kt:306 indexTableRowkey).
  *
  * Metadata the reference stores per table: primary key, transactional
  * flag, index registry, charset, comment (HBaseSchema.kt:118-137); per
  * column: datatype, precision, position, nullable, default
  * (HBaseSchema.kt:141-160). We persist the same fields. Metadata is
  * real JSON (Jackson, bundled with Spark) — arbitrary comments/column
  * names round-trip safely. At cluster scale this JSON-per-table
  * catalog would be swapped for a metastore, but the API surface is
  * what matters here.
  */
final class Catalog(val spark: SparkSession, val warehouse: String,
                    lockProviderOpt: Option[LockProvider] = None) {

  private val mapper = new ObjectMapper()

  import ArtifactStage.deleteRecursively
  import ManifestCapture.canonKey

  /** Every write lock (bulk writers, transaction commits, DDL)
    * resolves through this seam — see [[LockProvider]] for the
    * multi-process / object-store story. Default: file locks under
    * each table dir. */
  private val lockProvider: LockProvider =
    lockProviderOpt.getOrElse(
      new FsLockProvider(res => tableDir(res.takeWhile(_ != '@'))))

  /** Stable warehouse identity baked into every lock/lease resource
    * name ([[lockResource]]). Lease resources used to be keyed by the
    * BARE table name, so two catalogs over DIFFERENT warehouses
    * sharing one lease authority and a same-named table shared one
    * lease AND one authority-held commit pointer — the lower-versioned
    * warehouse's commitSwap then returned STALE with its durable meta
    * behind, which the commit point read as "a newer grant's
    * commit in flight" and aborted permanently. Qualifying the
    * resource with the canonical warehouse path's digest gives each
    * warehouse its own lease + pointer namespace at any shared
    * authority. */
  private val warehouseId: String = {
    val canon = Paths.get(warehouse).toAbsolutePath.normalize.toString
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.take(6).map(b => f"$b%02x").mkString
  }

  /** The authority-side resource name for a table's write lock: the
    * table name (valid chars [A-Za-z0-9_], so '@' is unambiguous)
    * qualified by [[warehouseId]]. Test-visible so the concurrency
    * specs can contend with the exact resource this catalog holds. */
  private[graft] def lockResource(name: String): String =
    s"$name@$warehouseId"

  private def tableDir(name: String): Path = Paths.get(warehouse, name)
  private def metaFile(name: String): Path = tableDir(name).resolve("_graft_meta.json")
  /** Data lives in versioned snapshot dirs (data_v0, data_v1, ...) with
    * the live version recorded in the metadata — copy-on-write pointer
    * swap, so a bulk merge can read snapshot N while writing N+1
    * (never overwriting its own input), and old snapshots remain
    * readable until vacuumed. */
  private def dataDir(name: String): String =
    snapshotDir(name, dataVersionOf(name)).toString

  private def snapshotDir(name: String, version: Int): Path =
    tableDir(name).resolve(s"data_v$version")

  private def readMeta(name: String): ObjectNode =
    mapper.readTree(Files.readString(metaFile(name))).asInstanceOf[ObjectNode]

  /** Meta writes are stage-then-rename: `Files.writeString` in place
    * truncates before it writes, and the meta file is read LOCK-FREE
    * on every version resolution — a reader racing an in-place write
    * sees an empty or partial JSON and crashes (observed: Jackson
    * MissingNode on an empty read). The rename publishes the complete
    * document atomically; a racing reader sees the old meta or the
    * new, never bytes in between. */
  private def writeMeta(name: String, meta: ObjectNode): Unit = {
    val tmp = tableDir(name).resolve(
      s".meta_tmp_${java.util.UUID.randomUUID().toString.replace("-", "")}")
    Files.writeString(tmp, mapper.writeValueAsString(meta))
    Files.move(tmp, metaFile(name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
  }

  /** Iterate a directory stream with a guaranteed close (long-lived
    * driver JVMs leak handles otherwise). */
  private def withList[A](dir: Path)(f: Iterator[Path] => A): A = {
    val s = Files.list(dir)
    try f(s.iterator().asScala) finally s.close()
  }

  /** Live version as READERS must see it: the meta pointer overlaid
    * with a committed transaction's pending journal entry
    * ([[Commit.liveVersion]]). */
  def dataVersionOf(name: String): Int = commits.liveVersion(name)

  /** The commit point and the transaction journal ([[Commit]]); the
    * meta I/O stays here. */
  private val commits =
    new Commit(Paths.get(warehouse), snapshotDir, readMeta, writeMeta)

  /** Reference: column names may not be `id` (reserved for the
    * implicit uuid primary key) — HBaseSchema.kt:112-117. */
  /** `layout`: "sorted" (default — lexicographic rowkey sort, the
    * HBase-region analog) or "zorder" (two-column primary keys only:
    * interleaved-bit clustering so range reads on EITHER key column
    * prune files; the HBase-world alternative is a second
    * salted-rowkey table). */
  def createTable(name: String,
                  schema: StructType,
                  primaryKey: Seq[String],
                  isTransactional: Boolean = true,
                  comment: String = "",
                  layout: String = "sorted",
                  charset: String = "UTF-8"): Unit = {
    require(primaryKey.nonEmpty, "no primary key") // PrimaryKeyMissedException
    require(layout == "sorted" || layout == "zorder",
      s"unknown layout '$layout' — use 'sorted' or 'zorder'")
    // the transaction-journal directory shares the warehouse root with
    // table dirs — a table of that name would collide with it
    require(name != "_graft_txn", "table name '_graft_txn' is reserved")
    // Name charset: a "." collides with the {table}.{type}.{index}
    // index-dir scheme (dropTable("a") would recursively delete a
    // table named "a.b"), and a path separator ("../x") would resolve
    // tableDir OUTSIDE the warehouse root — create/drop would then
    // read and recursively delete foreign paths. Reject both up front.
    require(name.matches("[A-Za-z0-9_]+"),
      s"invalid table name '$name' — use [A-Za-z0-9_]+ " +
        "(dots collide with index directories, separators escape the warehouse)")
    // validate BEFORE any metadata lands: a bad key column must not be
    // discovered by the v0 snapshot write below, which would leave a
    // meta file without data — tableExists forever true, every read
    // and re-create failing (case-insensitive, like Spark resolution)
    primaryKey.foreach { k =>
      require(schema.fields.exists(_.name.equalsIgnoreCase(k)),
        s"primary key column '$k' not in schema")
    }
    if (layout == "zorder") {
      require(primaryKey.size == 2,
        s"layout 'zorder' requires a two-column primary key (got ${primaryKey.size})")
      // z-values come from min/max-scaled doubles: non-numeric keys
      // would silently cast to null and lose all clustering.
      // Case-insensitive field lookup, like Spark's default resolution.
      primaryKey.foreach { k =>
        val f = schema.fields.find(_.name.equalsIgnoreCase(k))
          .getOrElse(throw new IllegalArgumentException(
            s"primary key column '$k' not in schema"))
        require(f.dataType.isInstanceOf[NumericType],
          s"layout 'zorder' needs numeric key columns; '$k' is ${f.dataType.sql}")
      }
    }
    require(!schema.fieldNames.exists(_.equalsIgnoreCase("id")),
      "column name should not be id") // IllegalColumnNameException
    // Canonicalize the key to the SCHEMA's field case before it lands
    // anywhere: validation above is case-insensitive (Spark
    // resolution), but exact-match consumers downstream
    // (StructType.apply in manifestPersistable, fields.filterNot in
    // upsertStaged) would otherwise wedge every CDC merge and INSERT
    // on a table created with primaryKey=Seq("K") over field "k".
    val canonicalPk = primaryKey.map(k =>
      schema.fields.find(_.name.equalsIgnoreCase(k)).get.name)
    // The existence check runs INSIDE the write lock: two concurrent
    // creators both passing a bare check would write v0 into the same
    // dir mode-overwrite, and the loser's failure-unwind would then
    // deleteRecursively the winner's just-created table. The lock file
    // needs the dir to exist first; createDirectories is idempotent
    // and an empty dir without meta is not an existing table.
    Files.createDirectories(tableDir(name))
    withWriteLock(name) {
    require(!tableExists(name), s"table $name exists")
    val meta = mapper.createObjectNode()
    meta.put("table", name)
    meta.put("primary", canonicalPk.mkString(","))
    meta.put("isTransactional", isTransactional)
    meta.put("dataVersion", 0)
    meta.put("lockStatus", "UNLOCK")
    // per-table charset, like the reference's table.sys attribute
    // (HBaseTable.kt:197-216). Data at rest is parquet (UTF-8 by
    // format); the attribute is the declared interchange charset for
    // external writers, round-tripped through DDL.
    meta.put("charset", charset)
    meta.put("comment", comment)
    meta.put("layout", layout)
    // table.sys create-time attribute (reference HBaseTable.kt:197-216)
    meta.put("createdAt", System.currentTimeMillis())
    meta.set[JsonNode]("indexes", mapper.createArrayNode()): Unit
    // v0 (the empty snapshot below) publishes now — seeds the
    // TIMESTAMP AS OF map, so version 0 resolves from a recorded
    // publish time like every later version
    val publishTimes = mapper.createObjectNode()
    publishTimes.put("0", System.currentTimeMillis()): Unit
    meta.set[JsonNode]("publishTimes", publishTimes): Unit
    val cols = mapper.createArrayNode()
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      val c = mapper.createObjectNode()
      c.put("name", f.name)
      c.put("datatype", f.dataType.sql)
      c.put("position", i)
      c.put("nullable", f.nullable)
      // case-insensitive, matching Spark resolution and the zorder
      // validation above — createTable(primaryKey=Seq("K")) on field
      // "k" works everywhere else, so column.sys must agree
      c.put("isPrimary", primaryKey.exists(_.equalsIgnoreCase(f.name)))
      // field metadata carries the column DEFAULT (Spark's
      // CURRENT_DEFAULT/EXISTS_DEFAULT keys — the column.sys default
      // attribute of the reference, HBaseSchema.kt:141-160); persisted
      // verbatim so INSERTs resolve defaults after a catalog restart
      if (f.metadata != Metadata.empty) c.put("metadata", f.metadata.json)
      cols.add(c): Unit
    }
    meta.set[JsonNode]("columns", cols): Unit
    writeMeta(name, meta)
    // materialize an empty rowkey-sorted layout; if this write fails
    // (disk, interrupted job), unwind the meta file too — a table that
    // "exists" without a v0 snapshot can neither be read nor recreated
    try {
      val v0 = Paths.get(dataDir(name))
      KvLayout.writeSorted(
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema),
        canonicalPk, v0.toString)
      // every part file of an empty snapshot is a zero-row file: its
      // manifest needs no statistics
      if (manifestPersistable(schema(canonicalPk.head).dataType))
        writeRangeManifest(v0,
          ManifestCapture.partFiles(v0).map(FileRange(_, null, null)))
    } catch {
      case e: Throwable =>
        try deleteRecursively(tableDir(name))
        catch { case _: Exception => () }
        throw e
    }
    }: Unit
  }

  def tableExists(name: String): Boolean = Files.exists(metaFile(name))

  def layoutOf(name: String): String =
    readMeta(name).path("layout").asText("sorted")

  /** Layout-dispatching snapshot writer: every write path persists
    * through the table's declared layout. Returns the new files' range
    * manifest entries, folded by the write job itself
    * ([[ManifestCapture]]); None when the key type keeps no persisted
    * manifest ([[manifestKeys]]). */
  private def writeData(name: String, df: DataFrame, path: String,
                        partitions: Int = 0): Option[Seq[FileRange]] = {
    val pk = primaryKeyOf(name)
    def write(capture: Option[ManifestCapture]): Unit =
      if (layoutOf(name) == "zorder" && pk.size == 2)
        KvLayout.writeZOrdered(df, pk.head, pk(1), path, partitions, capture)
      else KvLayout.writeSorted(df, pk, path, partitions, capture)
    manifestKeys(name) match {
      case None => write(None); None
      case Some((keyCol, secondCol)) =>
        Some(writeCaptured(Paths.get(path), df.schema, keyCol, secondCol)(
          c => write(Some(c))))
    }
  }

  /** Write a snapshot into its staging dir together with its range
    * manifest: a snapshot is published complete and never annotated
    * after publish (only [[ensureRangeManifest]]'s heal writes into a
    * published dir). */
  private def stageSnapshot(name: String, df: DataFrame, stage: Path,
                            partitions: Int = 0): Unit =
    writeData(name, df, stage.toString, partitions)
      .foreach(writeRangeManifest(stage, _))

  /** The columns a table's range manifest records: the leading key,
    * plus the second key on z tables (so a driver range scan on that
    * dimension serves from the manifest instead of opening every
    * footer cold). None when the leading key's type has no persisted
    * manifest — merges of such tables scan instead. */
  private def manifestKeys(name: String): Option[(String, Option[String])] = {
    val pk = primaryKeyOf(name)
    val schema = schemaOf(name)
    if (!manifestPersistable(schema(pk.head).dataType)) None
    else Some((pk.head,
      if (layoutOf(name) == "zorder" && pk.size == 2 &&
          manifestPersistable(schema(pk(1)).dataType)) Some(pk(1))
      else None))
  }

  /** Run `write` with a fresh [[ManifestCapture]] over `keyCol` (and
    * `secondCol`) of a frame of `schema`, and return the manifest
    * entries of the files it left in `dir`. Scans the dir only when
    * the capture cannot attribute a task's statistics to its file. */
  private def writeCaptured(dir: Path, schema: StructType, keyCol: String,
                            secondCol: Option[String])
                           (write: ManifestCapture => Unit): Seq[FileRange] = {
    val capture = new ManifestCapture(spark, schema, keyCol, secondCol)
    write(capture)
    capture.entries(dir).getOrElse(scanRanges(dir, keyCol, secondCol, Some(schema)))
  }

  /** Bulk load rows (the "Bulk read/write" path) as the next snapshot
    * ([[commitFullRewrite]]). `rows` may derive from the table's
    * current snapshot (COW merge) — the write targets a new directory,
    * so that lineage stays valid. */
  def bulkLoad(name: String, rows: DataFrame, partitions: Int = 0,
               expectedVersion: Option[Int] = None): Unit =
    commitFullRewrite(name, partitions) { cur =>
      checkExpected(name, cur, expectedVersion)
      rows
    }

  /** THE full-rewrite commit: under the recovered write lock, stage
    * `post(current version)` as the next snapshot with its manifest,
    * rebuild the kv indexes from it, and publish both through the
    * commit point. `post` runs under the lock, so a post-image derived
    * from the live snapshot (an upsert) reads the version it replaces;
    * analytic indexes go stale by the documented rule. */
  private def commitFullRewrite(name: String, partitions: Int = 0)
                               (post: Int => DataFrame): Unit =
    withRecoveredWriteLocks(name) {
      val cur = dataVersionOf(name)
      commit(stageRewrite(name, cur + 1, post(cur), partitions))
    }

  /** Stage `rows` as version `next` of `name` with its range manifest
    * and its kv indexes rebuilt from it: one table's share of a full
    * rewrite or of a transaction. */
  private def stageRewrite(name: String, next: Int, rows: DataFrame,
                           partitions: Int = 0): Commit.Publish = {
    val stage = newSnapshotStaging(name)
    stageSnapshot(name, rows, stage, partitions)
    maintainIndexes(name, next, stage, pre = None, post = None)
  }

  /** Grant-scoped unique staging dir for a table-snapshot write
    * ([[ArtifactStage]]'s root naming): every write path stages its
    * heavy data write here and lets the commit point ([[Commit]])
    * rename it onto the version-numbered dir after the fence passes.
    * Reads that target a staged dir (index rebuild's post-image scan, a
    * manifest capture's fallback scanRanges) work — Spark's hidden-path
    * filter applies to directory children during listing, not to an
    * explicitly given root. */
  private def newSnapshotStaging(name: String): Path =
    ArtifactStage.stagingRoot(tableDir(name), held(name))

  /** Publish staged tables through the commit point, each under the
    * write lock this thread holds for it. */
  private def commit(ps: Commit.Publish*): Unit = commits.run(ps, held)

  /** Optimistic CAS for writers whose post-image derives from a pinned
    * snapshot: if another writer published in between, committing the
    * derived post-image would silently erase that writer's rows, so the
    * statement must fail instead (the live snapshot stays untouched —
    * the caller re-runs against the new version). */
  private def checkExpected(name: String, current: Int,
                            expected: Option[Int]): Unit =
    expected.filter(_ != current).foreach { e =>
      throw new java.util.ConcurrentModificationException(
        s"table $name advanced to data_v$current while this statement was " +
        s"pinned to data_v$e — a concurrent write would be lost; retry")
    }

  /** Writer mutual exclusion for the COW version pointer — the
    * single-warehouse analog of the reference's distributed DDL lock
    * (index/lucene/RedisLockFactory.kt, Tephra transactions in
    * KVTransactionalIndexTable.kt). Resolved through [[lockProvider]]
    * (default: atomic lock-file create under the table dir), so two
    * concurrent bulk writers serialize: each reads the version, writes
    * its snapshot and swaps the pointer under the lock, and neither
    * can clobber the other's data_vN directory or lose the other's
    * bump. Readers never take the lock (snapshots are immutable once
    * published). */
  private def withWriteLock[A](name: String)(f: => A): A = {
    val lock = lockProvider.acquire(lockResource(name), 600000L)
    try heldWriteLocks.withValue(heldWriteLocks.value + (name -> lock))(f)
    finally lock.release()
  }

  /** The write locks the current thread's write path holds, by table,
    * so the commit point and every artifact stage fence on the handle
    * of the table they write ([[held]]) — a lease lost to a pause (a
    * new owner writing concurrently) must fail the write loudly, not
    * publish over the new owner's work — and stage under that grant's
    * roots. Thread-bound like the locks themselves. */
  private val heldWriteLocks =
    new scala.util.DynamicVariable[Map[String, LockProvider.Handle]](Map.empty)

  private def held(name: String): Option[LockProvider.Handle] =
    heldWriteLocks.value.get(name)

  /** THE write-path lock scope, for one table or a transaction's
    * several: heal pending txn journals before taking any lock (a
    * crashed post-journal commit is committed-by-design, and writing
    * data_v(cur+1) would overwrite its staged snapshot and consume its
    * version number), take the locks in sorted table order (two
    * transactions can never deadlock), then RE-heal each table under
    * its lock (a journal written while we waited owns data_v(cur+1) —
    * without the re-heal, breaking a dead committer's lock would
    * overwrite its committed staged snapshot, and a transaction's own
    * journal could coexist with a pending one, which the one-step read
    * overlay cannot bridge). Every write path that publishes a version
    * runs `f` in here, and `f` ends in the commit point. */
  private def withRecoveredWriteLocks[A](names: String*)(f: => A): A = {
    recoverTransactions()
    def lockAll(rest: List[String]): A = rest match {
      case n :: tail => withWriteLock(n)(lockAll(tail))
      case Nil =>
        names.foreach(n => commits.heal(n, held(n)))
        f
    }
    lockAll(names.distinct.sorted.toList)
  }

  /** Target rows per output file for the incremental-merge rewrite's
    * patch-size partition floor. ~1M PK-unique rows lands in the
    * ballpark of the 128 MB parquet file the rest of the pruning
    * design assumes (FileRange manifests, splitByKeyIntersect's
    * 800k-entry example). */
  private val mergeTargetRowsPerFile: Int = 1000000

  /** Target bytes per output file when a merge rewrites kv-index files
    * — the same 128 MB as [[compact]]'s default. */
  private val mergeTargetFileBytes: Long = 128L * 1024 * 1024

  /** Streaming-sink merge entry: ONE bounded job collects the patch's
    * distinct keys, decides emptiness (an empty patch commits NOTHING
    * — the replay-idempotence contract a foreachBatch sink needs) and
    * feeds the merge's file pruning, so the merge never re-collects
    * and the caller never runs a separate emptiness probe — two
    * Spark actions saved per micro-batch (the upsertStaged recipe,
    * exposed for sinks). Returns whether a merge was committed. */
  def incrementalMergeIfNonEmpty(name: String, patch: DataFrame,
                                 maxIncrementalKeys: Int = 100000): Boolean = {
    val pk = primaryKeyOf(name)
    // BOUNDED collect: a misconfigured trigger
    // or a backfill replay can hand a sink a patch with millions of
    // keys, and an unbounded collect would blow up driver memory and
    // merge pruning. Past the bound the statement falls back to the
    // full snapshot rewrite (same final content: the merge is a PK
    // upsert either way; analytic indexes go stale under a bulk write
    // by the documented staleness rule).
    val keys = patch.select(pk.head).distinct()
      .limit(maxIncrementalKeys + 1).collect().map(r => canonKey(r.get(0)))
    if (keys.isEmpty) return false
    // null keys are refused before any manifest, data or lock work: the
    // collected keys decide a single-column key under the bound; a
    // composite key, or any key over it (a null may sit past the
    // limit), runs the bounded all-PK probe (one limit-1 job)
    if (keys.contains(null) ||
        ((pk.size > 1 || keys.length > maxIncrementalKeys) && hasNullKey(patch, pk)))
      refuseNullKey(name, pk)
    if (keys.length <= maxIncrementalKeys)
      incrementalMerge(name, patch, precollectedKeys = Some(keys))
    else commitFullRewrite(name)(_ => table(name).upsert(patch).df)
    true
  }

  /** Rowkeys are non-null on every primary-key column (HBase rowkey
    * semantics): a null lead key would poison the merge's ordered key
    * search, and a null on a later column never matches
    * [[KvTable.upsert]]'s equi-join, so merging the same key twice
    * would leave two rows with one primary key. */
  private def refuseNullKey(name: String, pk: Seq[String]): Nothing =
    throw new IllegalArgumentException(
      s"primary key (${pk.mkString(",")}) of $name may not be null in a merge batch")

  /** Whether any row of `rows` has a null primary-key column (one
    * limit-1 job). */
  private def hasNullKey(rows: DataFrame, pk: Seq[String]): Boolean = {
    import org.apache.spark.sql.functions.col
    !rows.select(pk.map(col): _*).where(pk.map(col(_).isNull).reduce(_ || _)).isEmpty
  }

  /** Driver-resident merge entry for PATCH-SIZED batches a sink has
    * already collected (micro-batch-bounded by the trigger contract):
    * the patch becomes a LocalRelation, so the merge's key pruning and
    * the rewrite's anti-join build side need NO re-execution of the
    * batch lineage and no extra collect — the whole per-batch commit
    * schedules only the rewrite write. Same semantics as
    * [[incrementalMerge]] on the equivalent distributed frame (the
    * rows ARE the patch); returns false for an empty batch, committing
    * nothing — the replay-idempotence contract a foreachBatch sink
    * needs. */
  def incrementalMergeRows(name: String, rows: Array[Row]): Boolean = {
    if (rows.isEmpty) return false
    val schema = schemaOf(name)
    val pk = primaryKeyOf(name)
    val pkIdx = pk.map(schema.fieldIndex)
    if (rows.exists(r => pkIdx.exists(r.isNullAt))) refuseNullKey(name, pk)
    val keys = rows.map(r => canonKey(r.get(pkIdx.head))).distinct
    val local = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
    incrementalMerge(name, local, precollectedKeys = Some(keys))
    true
  }

  /** File-granular incremental COW merge — the CDC-ingest path. A
    * whole-table rewrite per micro-batch would rewrite 100 TB for a
    * trickle of mutations; instead only the files whose rowkey range
    * intersects the patch are decoded, merged and rewritten, and every
    * untouched file carries over into the next snapshot as a hard link
    * (byte-identical, no data I/O — on an object store this would be a
    * manifest reference, same idea).
    *
    * File→keyrange pruning reads the current snapshot's range manifest
    * on the LEADING primary-key column — a conservative superset of the
    * touched files, exactly how parquet row-group min/max pruning
    * reasons. Every snapshot is published WITH its manifest: the
    * rewrite job folds the new files' entries as it writes them
    * ([[ManifestCapture]]) and the untouched files' entries carry over
    * unchanged, so a merge reads one JSON and schedules no key scan
    * (a manifest that is corrupt or no longer covers the snapshot's
    * files — a SQL INSERT appends one — is rebuilt by
    * [[ensureRangeManifest]]). Patch keys are collected to the driver:
    * micro-batches are bounded by the trigger, so this is a small set
    * by construction. `precollectedKeys` are the patch's distinct lead
    * keys from a caller that has already refused null keys on every
    * primary-key column. */
  def incrementalMerge(name: String, patch: DataFrame,
                       precollectedKeys: Option[Array[Any]] = None): Unit = {
    withRecoveredWriteLocks(name) {
    import org.apache.spark.sql.functions.col
    val pk = primaryKeyOf(name)
    val keyCol = pk.head
    val patchKeys = precollectedKeys.getOrElse(
      patch.select(keyCol).distinct().collect().map(r => canonKey(r.get(0))))
    if (patchKeys.contains(null) ||
        (precollectedKeys.isEmpty && pk.size > 1 && hasNullKey(patch, pk)))
      refuseNullKey(name, pk)
    val cur = dataVersionOf(name)
    val curDir = snapshotDir(name, cur)
    val tableSchema = schemaOf(name)
    val keys = manifestKeys(name)
    val manifest = ensureRangeManifest(curDir, keyCol, keys.isDefined,
      keys.flatMap(_._2), schema = Some(tableSchema))
    val (touched, untouched) = splitByKeyIntersect(manifest, patchKeys)
    val stage = newSnapshotStaging(name)
    val tableCols = tableSchema.fieldNames.toSeq
    val touchedDf =
      if (touched.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], tableSchema)
      else spark.read.schema(tableSchema)
        .parquet(touched.map(e => curDir.resolve(e.file).toString): _*)
    val post = patch.select(tableCols.map(col): _*)
    // upsert keeps new keys too: patch rows outside every file range
    // simply don't anti-join away anything
    val merged = KvTable(touchedDf, pk).upsert(post)
    // explicit partition count = touched-file count: the rewrite
    // replaces exactly those files, so sizing output files to match
    // preserves file granularity at any scale AND skips
    // repartitionByRange's sampling pass — which would execute the
    // whole upsert plan (touched-file scan + anti-join + union) a
    // second time just to pick ranges. Floor on the patch size too:
    // a patch dominated by brand-new keys touches few/no files
    // (touched ≈ 0) yet still writes every patch row, and one
    // monolithic output file would degrade granularity for every
    // later merge; distinct patch keys ≈ merged new rows (PK
    // semantics), so they stand in for the row estimate.
    val patchParts =
      ((patchKeys.length + mergeTargetRowsPerFile - 1) / mergeTargetRowsPerFile).toInt
    val newEntries = writeData(name, merged.df, stage.toString,
      partitions = math.max(math.max(1, touched.size), patchParts))
    // carry untouched files into the new snapshot without touching data
    untouched.foreach(e => linkOrCopy(curDir.resolve(e.file), stage.resolve(e.file)))
    newEntries.foreach(e => writeRangeManifest(stage, e ++ untouched))
    // the pre-image of exactly the patched keys, read from the touched
    // files the rewrite reads anyway: with the patch as post-image,
    // index maintenance is patch-sized, never touched-file-sized
    val pre = touchedDf.join(patch.select(pk.map(col): _*).distinct(), pk, "left_semi")
    // a kv-index entry is (ik..., rk = LEADING key): on a composite key,
    // rows sharing the lead key and the indexed value share one entry
    // tuple, and removing a patched row's entry removes its siblings'
    // too — so the kv images there are every row at the patched lead
    // keys, before and after the merge
    val (kvPre, kvPost) =
      if (pk.size == 1) (pre, post)
      else {
        val leads = patch.select(keyCol).distinct()
        (touchedDf.join(leads, Seq(keyCol), "left_semi"),
          merged.df.join(leads, Seq(keyCol), "left_semi"))
      }
    // synchronous KV-index maintenance (reference KVIndexTable.kt:
    // every base Put deletes the stale index row and writes the new
    // one): incremental when the touched entry set is bounded, else a
    // rebuild from the complete next snapshot
    val kv = maintainIndexes(name, cur + 1, stage, pre = Some(kvPre), post = Some(kvPost))
    // analytic flavors (fulltext/bitmap) stay fresh through CDC via
    // patch-sized segments + tombstones — the Lucene segment model
    // (reference index/lucene/LuceneIndexTable.kt: the Lucene writer
    // appends segments per commit; HBaseDirectory.kt persists them) —
    // never re-reading untouched corpus files
    val analytic = maintainAnalyticIndexes(name, cur + 1, post, pre)
    commit(kv.copy(asOf = kv.asOf ++ analytic))
  }
  }

  /** Strings compare in UTF-8 BYTE order, matching how Spark computed
    * file min/max (UTF8String binary order) — java.lang.String
    * compareTo is UTF-16 code-unit order and disagrees for
    * supplementary characters, which would misclassify a file as
    * untouched and duplicate its rows. */
  private[graft] def keyCmp(a: Any, b: Any): Int = (a, b) match {
    case (x: String, y: String) =>
      val xb = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val yb = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(xb.length, yb.length)
      while (i < n) {
        val c = (xb(i) & 0xFF) - (yb(i) & 0xFF)
        if (c != 0) return c
        i += 1
      }
      xb.length - yb.length
    case _ => a.asInstanceOf[Comparable[Any]].compareTo(b)
  }

  /** (touched, untouched) split of file ranges against a patch-key
    * set: the keys are sorted once and each file's [lo,hi] does ONE
    * binary search — O((F+K)·log K) driver CPU. The naive nested scan
    * is O(F×K): a 100 TB table at 128 MB/file is ~800k manifest
    * entries, and with 100k patch keys that is ~10¹¹ comparisons on
    * the driver per micro-batch. Null-bounded entries (zero-row part
    * files) are always "touched" — they contribute no rows. Keys must
    * be non-null (callers enforce). */
  private[graft] def splitByKeyIntersect(entries: Seq[FileRange],
                                         keys: Array[Any]): (Seq[FileRange], Seq[FileRange]) = {
    val sorted = keys.sortWith(keyCmp(_, _) < 0)
    // first key >= lo exists and is <= hi  ⇔  some key falls in [lo,hi]
    def hasKeyIn(lo: Any, hi: Any): Boolean = {
      var l = 0; var r = sorted.length
      while (l < r) {
        val m = (l + r) >>> 1
        if (keyCmp(sorted(m), lo) < 0) l = m + 1 else r = m
      }
      l < sorted.length && keyCmp(sorted(l), hi) <= 0
    }
    entries.partition(e => e.lo == null || e.hi == null || hasKeyIn(e.lo, e.hi))
  }

  /** Per-file (min,max) of the leading key column — and of the second
    * key when asked (z tables) — plus the rowkey bloom
    * ([[BloomBits]], long/int/string keys), folded over one read of
    * ONLY those columns of the given dir: the heal path for a dir
    * without a usable manifest ([[ManifestCapture.scan]]; the same fold
    * the write path runs inside its write job). Zero-row files yield no
    * fold and are recorded with null bounds (always "touched",
    * contribute nothing), so the result covers exactly the part files
    * present. */
  private[kv] def scanRanges(dir: Path, keyCol: String,
                             secondCol: Option[String] = None,
                             schema: Option[StructType] = None): Seq[FileRange] = {
    // callers that know the files' schema (table meta, a just-written
    // index layout) pass it: schema inference re-reads every footer
    val scanned = ManifestCapture.scan(spark,
      schema.map(spark.read.schema(_)).getOrElse(spark.read).parquet(dir.toString),
      keyCol, secondCol)
    scanned ++ (ManifestCapture.partFiles(dir).toSet -- scanned.map(_.file)).toSeq.sorted
      .map(f => FileRange(f, null, null))
  }

  private def manifestFile(dir: Path): Path = dir.resolve("_graft_ranges.json")

  /** JSON-persistable key types: every snapshot of such a table is
    * published with its manifest; anything else recomputes per merge
    * (correct, one extra key-column scan). */
  private def manifestPersistable(dt: DataType): Boolean =
    dt match {
      case LongType | IntegerType | ShortType | ByteType |
           DoubleType | FloatType | StringType => true
      case _ => false
    }

  /** Parse a snapshot's persisted range manifest, if present. Bounds
    * come back canonicalized (Long/Double/String) like canonKey's
    * output. Shared by the merge path and the driver-side get — pure
    * JSON, no Spark.
    *
    * A corrupt manifest reads as ABSENT, never as an error: a damaged
    * or truncated file (disk trouble) makes both consumers fall back
    * to re-deriving ranges (scanRanges here, footer statistics on the
    * driver-get path) and the next merge heals the file. Failing instead would
    * wedge every subsequent merge of the table on a scrap of
    * bookkeeping. */
  private[kv] def readManifestJson(dir: Path): Option[Seq[FileRange]] =
    try {
      if (!Files.exists(manifestFile(dir))) None
      else ManifestCache.cached(manifestFile(dir)) {
        parseManifestJson(manifestFile(dir))
      }
    } catch {
      // the file can vanish between the existence check and the
      // cache's size/mtime stat (vacuumed snapshot) — absent, not fatal
      case _: java.io.IOException => None
    }

  private def parseManifestJson(f: Path): Option[Seq[FileRange]] =
    try {
      val root = mapper.readTree(Files.readString(f))
      if (root == null || !root.isArray) return None
      // sidecar-referenced bitsets load once per referenced sidecar
      // (content-addressed beside the manifest); a missing/corrupt
      // sidecar degrades the blooms to ABSENT, never the bounds
      val sidecars = scala.collection.mutable.Map[String,
        Option[Map[String, Array[Byte]]]]()
      Some(root.elements().asScala.map { e =>
        def v(n: JsonNode): Any =
          if (n.isNull) null
          else if (n.isIntegralNumber) java.lang.Long.valueOf(n.asLong())
          else if (n.isFloatingPointNumber) java.lang.Double.valueOf(n.asDouble())
          else n.asText()
        val second =
          if (e.has("lo2")) Some((v(e.path("lo2")), v(e.path("hi2"))))
          else None
        val fname = e.path("file").asText()
        // a bloom that fails to decode reads as ABSENT (no veto) —
        // the same fail-open stance as the whole manifest
        val bloom =
          if (e.has("bloomref")) {
            val ref = e.path("bloomref").asText()
            // reject path separators: the ref is a sibling file name,
            // never a path
            if (ref.contains('/') || ref.contains('\\')) None
            else sidecars.getOrElseUpdate(ref,
              readBloomSidecar(f.getParent.resolve(ref))).flatMap(_.get(fname))
          } else if (e.has("bloom"))
            scala.util.Try(
              java.util.Base64.getDecoder.decode(e.path("bloom").asText()))
              .toOption.filter(_.nonEmpty)
          else None
        FileRange(fname, v(e.path("lo")), v(e.path("hi")),
          second, bloom)
      }.toSeq)
    } catch {
      case _: com.fasterxml.jackson.core.JacksonException => None
      case _: java.io.IOException => None
    }

  /** The range manifest of a PUBLISHED dir. Every write path publishes
    * a snapshot (and a kv-index version) together with its manifest, so
    * this is a JSON read; the scan below is the HEAL path only — a
    * corrupt or missing file, or a manifest that no longer covers the
    * dir's files (a SQL INSERT appends a file without an entry) — and
    * the one place that writes into an already-published dir. Key
    * types that keep no manifest (`persistable` false) always scan. */
  private def ensureRangeManifest(dir: Path, keyCol: String,
                                  persistable: Boolean,
                                  secondCol: Option[String] = None,
                                  schema: Option[StructType] = None): Seq[FileRange] = {
    if (!persistable) return scanRanges(dir, keyCol, secondCol, schema)
    val cached: Option[Seq[FileRange]] = readManifestJson(dir)
    // a manifest is only trustworthy if it covers exactly the part
    // files present: pruning against a stale manifest would silently
    // DROP the uncovered files from the next snapshot
    val present = ManifestCapture.partFiles(dir).toSet
    cached match {
      case Some(entries) if entries.map(_.file).toSet == present => entries
      case _ =>
        val entries = scanRanges(dir, keyCol, secondCol, schema)
        writeRangeManifest(dir, entries)
        entries
    }
  }

  private def writeRangeManifest(dir: Path, entries: Seq[FileRange]): Unit = {
    // sidecar graduation (HFile's bloom blocks — see BloomBits'
    // scaladoc): past the threshold of total filter bytes the bitsets
    // spill to a CONTENT-ADDRESSED binary sidecar the manifest
    // references by exact name — the JSON stays small for range-scan
    // readers that never probe blooms, and the atomic manifest rename
    // always pairs with the sidecar it was written against (the
    // sidecar lands BEFORE the manifest move publishes its name)
    val bloomBytes = entries.iterator.flatMap(_.bloom)
      .map(_.length.toLong).sum
    val threshold = spark.conf
      .getOption("spark.graft.manifest.bloomSidecarBytes")
      .map(_.toLong).getOrElse(256L * 1024)
    val sidecar: Option[String] =
      if (bloomBytes > threshold) Some(writeBloomSidecar(dir, entries))
      else None
    val arr = mapper.createArrayNode()
    entries.foreach { e =>
      val n = mapper.createObjectNode()
      n.put("file", e.file)
      n.set[JsonNode]("lo", mapper.valueToTree[JsonNode](e.lo))
      n.set[JsonNode]("hi", mapper.valueToTree[JsonNode](e.hi))
      e.second.foreach { case (lo2, hi2) =>
        n.set[JsonNode]("lo2", mapper.valueToTree[JsonNode](lo2))
        n.set[JsonNode]("hi2", mapper.valueToTree[JsonNode](hi2)): Unit
      }
      e.bloom.foreach { b =>
        sidecar match {
          case Some(name) => n.put("bloomref", name): Unit
          case None =>
            n.put("bloom", java.util.Base64.getEncoder.encodeToString(b)): Unit
        }
      }
      arr.add(n): Unit
    }
    // atomic publish: lock-free readers (the driver-get path) may
    // observe the manifest mid-write; a rename makes every read see
    // either the old complete file or the new one, never a prefix
    val tmp = dir.resolve("_graft_ranges.json.tmp")
    Files.writeString(tmp, mapper.writeValueAsString(arr))
    Files.move(tmp, manifestFile(dir),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
    // the rewrite is a new content even when size+mtime tie on a
    // coarse-clock filesystem — drop any cached parse of this path
    ManifestCache.invalidate(manifestFile(dir))
    // reap superseded sidecars only AFTER the manifest stopped
    // referencing them; a racing lock-free reader of the OLD manifest
    // degrades fail-open (bloom → None, the standing stance)
    withList(dir) { it =>
      it.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("_graft_blooms_") && !sidecar.contains(n)
      }.toList
    }.foreach(p => scala.util.Try(Files.deleteIfExists(p)): Unit)
  }

  /** Serialize the per-file bitsets to `_graft_blooms_<crc32>.bin`
    * (magic + count + [nameLen name bitsLen bits]*), written via tmp +
    * atomic move; returns the content-addressed file name. */
  private def writeBloomSidecar(dir: Path, entries: Seq[FileRange]): String = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(0x4746424c) // "GFBL"
    val withBloom = entries.filter(_.bloom.isDefined)
    out.writeInt(withBloom.size)
    withBloom.foreach { e =>
      val nb = e.file.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeShort(nb.length)
      out.write(nb)
      val bits = e.bloom.get
      out.writeInt(bits.length)
      out.write(bits)
    }
    out.flush()
    val payload = bos.toByteArray
    val crc = new java.util.zip.CRC32()
    crc.update(payload)
    val name = f"_graft_blooms_${crc.getValue}%08x.bin"
    val tmp = dir.resolve(s"$name.tmp")
    Files.write(tmp, payload)
    Files.move(tmp, dir.resolve(name),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
    name
  }

  /** Parse a bloom sidecar → file name → bitset. Any structural
    * problem reads as ABSENT (fail-open, like the manifest itself). */
  private def readBloomSidecar(f: Path): Option[Map[String, Array[Byte]]] =
    try {
      if (!Files.exists(f)) return None
      val in = new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(Files.readAllBytes(f)))
      if (in.readInt() != 0x4746424c) return None
      val n = in.readInt()
      require(n >= 0 && n <= 10000000)
      val out = Map.newBuilder[String, Array[Byte]]
      var i = 0
      while (i < n) {
        val nameLen = in.readUnsignedShort()
        val nb = new Array[Byte](nameLen)
        in.readFully(nb)
        val bitsLen = in.readInt()
        require(bitsLen >= 0)
        val bits = new Array[Byte](bitsLen)
        in.readFully(bits)
        out += new String(nb, java.nio.charset.StandardCharsets.UTF_8) -> bits
        i += 1
      }
      Some(out.result())
    } catch {
      case _: java.io.IOException => None
      case _: IllegalArgumentException => None
    }

  /** Compaction — the HBase minor/major-compaction analog (HBase
    * compacts a region's accumulated HFiles into fewer larger ones;
    * the reference rides on that server-side). File-granular CDC
    * merges and SQL append batches leave a residue of small part
    * files, and at scale the small-file problem dominates scan setup.
    * Every file below `targetFileBytes` is read once and rewritten as
    * ~target-sized rowkey-sorted files; files already at/above target
    * carry into the next COW snapshot as hard links (no data I/O).
    * Row set and per-file sort order are unchanged — only layout.
    * No-op when fewer than two small files exist. */
  def compact(name: String, targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    withRecoveredWriteLocks(name) {
      val cur = dataVersionOf(name)
      val curDir = snapshotDir(name, cur)
      val files = withList(curDir) { it =>
        it.filter(_.getFileName.toString.startsWith("part-")).toList
      }
      val (big, small) = files.partition(f => Files.size(f) >= targetFileBytes)
      if (small.size > 1) {
        val nextDir = snapshotDir(name, cur + 1)
        val stage = newSnapshotStaging(name)
        val totalBytes = small.map(Files.size(_)).sum
        val parts = math.max(1,
          math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
        // the big files' manifest entries carry over with their links
        val bigNames = big.map(_.getFileName.toString).toSet
        val carried =
          if (big.isEmpty) Nil
          else manifestKeys(name).toSeq.flatMap { case (keyCol, secondCol) =>
            ensureRangeManifest(curDir, keyCol, persistable = true, secondCol,
              Some(schemaOf(name))).filter(e => bigNames(e.file))
          }
        val written = writeData(name,
          spark.read.schema(schemaOf(name)).parquet(small.map(_.toString): _*),
          stage.toString, parts)
        big.foreach(src => linkOrCopy(src, stage.resolve(src.getFileName.toString)))
        written.foreach(w => writeRangeManifest(stage, w ++ carried))
        // compaction changes layout, not content: every index that was
        // fresh at cur stays valid — its as-of moves with the pointer,
        // after clearing the version-(cur+1) artifacts a crashed earlier
        // writer left (publishing cur+1 over them would make every
        // reader resolve never-committed content)
        val indexes = indexesOf(name)
        clearIndexArtifactsAt(name, indexes, cur + 1)
        commit(Commit.Publish(name, cur + 1, Seq(stage -> nextDir),
          indexes.collect { case (iname, ty, _)
            if indexStatus(name, iname, ty) == "FRESH" => (iname, ty) }))
      }
    }
  }

  /** Drop dead snapshots and any staging directories orphaned by
    * aborted writers. Readers are lock-free and pin a version at load
    * time (GraftSqlTable), so nothing non-live is reclaimed until it
    * has been dead for `graceMs` — a statement pinned just before a
    * concurrent publish keeps its snapshot files for the whole grace
    * window (the same reasoning covers in-flight staging dirs: an
    * active writer keeps touching its dir as tasks commit files).
    * `graceMs = 0` reclaims immediately (tests, offline maintenance). */
  def vacuum(name: String, graceMs: Long = 3600000L): Unit = {
    // Heal pending transaction journals FIRST: a commit that crashed
    // after its intent journal leaves staged data_v(next) dirs that are
    // not yet live — rolling them forward makes them live; skipping
    // this would let the sweep below reclaim dirs a journal still
    // needs, turning a recoverable transaction into a partial one
    // (withRecoveredWriteLocks' recover step does exactly that).
    withRecoveredWriteLocks(name) {
    val liveV = dataVersionOf(name) // one meta read for the whole sweep
    val live = s"data_v$liveV"
    val now = System.currentTimeMillis()
    def idle(p: Path): Boolean =
      now - Files.getLastModifiedTime(p).toMillis >= graceMs
    withList(tableDir(name)) { it =>
      it.filter { p =>
        val n = p.getFileName.toString
        ((n.startsWith("data_v") && n != live) || n.startsWith(".staging_") ||
          n.startsWith(".meta_tmp_")) &&
          idle(p)
      }.toList
    }.foreach(deleteRecursively)
    // prune publishTimes entries whose snapshot dir is gone — with CDC
    // merges every few seconds the map would otherwise grow one entry
    // per version forever, and the meta JSON is re-read per statement
    val meta = readMeta(name)
    meta.get("publishTimes") match {
      case times: ObjectNode =>
        val dead = times.fieldNames().asScala.filter { v =>
          v != liveV.toString &&
            !Files.exists(tableDir(name).resolve(s"data_v$v"))
        }.toList
        if (dead.nonEmpty) { dead.foreach(times.remove); writeMeta(name, meta) }
      case _ => ()
    }
    // index snapshots: keep each index's LIVE version (resolved
    // against the published table pointer — an orphan data_v(next)
    // from a crashed maintenance job is garbage, not the keeper), its
    // dictionary counterpart, and any incremental segments/tombstones
    // still contributing to the live view; everything else ages out
    // under the same grace window
    indexesOf(name).foreach { case (iname, ty, _) =>
      val dir = indexDir(name, iname, ty)
      if (Files.exists(dir)) {
        // exactly what a reader at the live version resolves (the
        // IndexStack pairing rules)
        val st = IndexStack.at(dir, liveV)
        val baseVer = st.baseVer
        val keep = (Seq(st.base, st.folded("dict")._1, st.folded("fz")._1) ++
          Seq("cent", "vmeta", "pos", "graph", "norms", "bmx").map(st.paired))
          .map(_.getFileName.toString).toSet
        withList(dir) { it =>
          it.filter { p =>
            val n = p.getFileName.toString
            val liveSegment = segmentVersion(n).exists(v =>
              v > baseVer && v <= liveV)
            (n.startsWith("data") || n.startsWith("dict") ||
              n.startsWith("cent") || n.startsWith("vmeta") ||
              n.startsWith("pos") || n.startsWith("graph") ||
              n.startsWith("norm") || n.startsWith("bmx") ||
              n.startsWith("fz") ||
              n.startsWith("seg_v") || n.startsWith("tomb_v") ||
              n.startsWith("dictdelta_v") ||
              // fold/refresh staging dirs stranded by a crash mid-build
              n.startsWith(".staging_")) &&
              !keep.contains(n) && !liveSegment && idle(p)
          }.toList
        }.foreach(deleteRecursively)
      }
    }
    }
  }

  /** Carry a file into a new snapshot dir without touching data: hard
    * link where the FS supports it, copy otherwise. ONE implementation
    * — the table-merge, compaction and index-merge carry paths must
    * never diverge (an object-store backend would swap this for
    * manifest references in one place). */
  private def linkOrCopy(src: Path, dst: Path): Unit =
    try Files.createLink(dst, src): Unit
    catch { case _: UnsupportedOperationException | _: java.io.IOException =>
      Files.copy(src, dst): Unit }

  /** Carry a whole (flat) index-artifact dir forward by per-file
    * [[linkOrCopy]] — the graph-era fold's cent/vmeta carry, where
    * the bytes are version-identical and only the name advances. */
  private def copyArtifactDir(src: Path, dstRoot: String): Unit = {
    val dst = Paths.get(dstRoot)
    Files.createDirectories(dst)
    withList(src)(_.toList).foreach { f =>
      if (!Files.isDirectory(f))
        linkOrCopy(f, dst.resolve(f.getFileName.toString))
    }
  }

  /** The segment-maintenance dir prefixes, and the full set of
    * versioned index-artifact prefixes (base + dictionary + segments).
    * Single source of truth: compact's orphan cleanup, vacuum's sweep
    * and segmentVersion all reason over the same families — a new
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
  private def clearIndexArtifactsAt(name: String,
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

  // ------------------------------------------------------------------
  // Segment + tombstone incremental maintenance for analytic indexes
  // (fulltext, bitmap) — the Lucene segment model, Spark-first:
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
  private def maintainAnalyticIndexes(name: String, next: Int,
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
              stage.stage(s"tomb_v$next") { p =>
                patchRows.select(col(rk).as("rk")).distinct().coalesce(1)
                  .write.mode("overwrite").parquet(p)
              }
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
            stage.stage(s"tomb_v$next") { p =>
              patchRows.select(col(rk).as("rk")).distinct().coalesce(1)
                .write.mode("overwrite").parquet(p)
            }
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

  private def indexAsOfVersion(table: String, indexName: String,
                               indexType: String): Int =
    readMeta(table).withArray[ArrayNode]("indexes").elements().asScala
      .find(e => e.path("name").asText() == indexName &&
        e.path("type").asText().equalsIgnoreCase(indexType))
      .map(_.path("asOfVersion").asInt(-1)).getOrElse(
        throw new IllegalArgumentException(
          s"$table $indexName $indexType not registered"))

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
          try {
            val b = graft.similarity.VectorIndex.build(folded, "rk", "v")
            try {
              stage.stage(s"vmeta_v$upTo") { p =>
                graft.similarity.VectorIndex.metaFrame(spark, b.meta)
                  .write.mode("overwrite").parquet(p)
              }
              stage.stage(s"cent_v$upTo") { p =>
                b.centroids.write.mode("overwrite").parquet(p)
              }
              stage.stage(s"data_v$upTo") { p =>
                KvLayout.writeSorted(b.entries, Seq("cluster"), p)
              }
            } finally b.release()
          } finally folded.unpersist()
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

  /** Read a specific historical snapshot (time travel). */
  def tableAt(name: String, version: Int): KvTable =
    KvTable(spark.read.parquet(snapshotDir(name, version).toString),
      primaryKeyOf(name))

  def table(name: String): KvTable =
    // explicit schema from the table meta (the incrementalMerge
    // precedent): schema INFERENCE re-reads parquet footers on every
    // call, and the commit paths call table() once or twice per
    // micro-batch — stack sampling measured the repeated footer reads
    // at ~0.4 s per st_stream_upsert rep. The meta JSON is the schema
    // of record (createTable wrote it; every write path selects the
    // declared columns), so inference adds I/O, not information.
    KvTable(spark.read.schema(schemaOf(name)).parquet(dataDir(name)),
      primaryKeyOf(name))

  /** The published stack of a registered index, for the driver
    * serving paths. */
  private def servingStack(table: String, indexName: String,
                           indexType: String): IndexStack = {
    val dir = indexDir(table, indexName, indexType)
    require(Files.exists(dir), s"$table $indexName $indexType not exists")
    IndexStack.at(dir, dataVersionOf(table))
  }

  /** The one column a fulltext, bitmap or vector index covers. */
  private def indexedColumn(table: String, indexName: String,
                            indexType: String): String =
    indexesOf(table)
      .find(i => i._1 == indexName && i._2.equalsIgnoreCase(indexType))
      .getOrElse(throw new IllegalArgumentException(
        s"$table $indexName $indexType not registered"))._3.head

  private def rowkeyType(table: String): DataType =
    schemaOf(table)(primaryKeyOf(table).head).dataType

  /** (file, lo, hi) per file of a dir's range manifest, Nil without
    * one — the pruning input of a DriverRead seek. */
  private def manifestRanges(dir: Path): Seq[(String, Any, Any)] =
    readManifestJson(dir).getOrElse(Nil).map(r => (r.file, r.lo, r.hi))

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
    * replacement: bounded key sets only. */
  def driverPointGet(name: String, key: Any*): Seq[Row] =
    driverMultiGet(name, Seq(key.toSeq))

  /** Batched driver-side multi-Get (reference multi-Get:
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
    val mf = readManifestJson(dir).getOrElse(Nil)
    val ranges = mf.map(r => (r.file, r.lo, r.hi))
    // per-file rowkey blooms (when the manifest carries them): a miss
    // vetoes the file before its footer is ever opened
    val blooms = mf.flatMap(r => r.bloom.map(r.file -> _)).toMap
    DriverRead.get(dir, schemaOf(name), primaryKeyOf(name), keys, ranges,
      blooms)
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
                      maxRows: Int = 10000,
                      keyCol: Option[String] = None): Seq[Row] = {
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
    // ([[manifestKeys]]) passes null bounds — never pruned, parquet
    // footer stats stand in for each file, which the z layout keeps
    // narrow in both dimensions (ZOrderSpec pins the claim). No manifest at all →
    // footer path for every file, as before.
    val ranges =
      if (c == pk.head) manifestRanges(dir)
      else
        readManifestJson(dir).getOrElse(Nil).map(r =>
          (r.file, r.second.map(_._1).orNull, r.second.map(_._2).orNull))
    DriverRead.range(dir, schemaOf(name), c, lo, hi, maxRows, ranges)
  }

  /** Driver-side Get-by-secondary-index — the reference's getByIndex
    * (KVIndexTable.kt:64-84: prefix-seek the index table, then
    * multi-Get the base rowkeys), served like [[driverPointGet]] with
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
    val cols = indexesOf(table)
      .collectFirst { case (n, ty, cs)
        if n == indexName && ty.equalsIgnoreCase("kv") => cs }
      .getOrElse(throw new IllegalArgumentException(
        s"no kv index '$indexName' on $table"))
    require(values.nonEmpty && values.length <= cols.length,
      s"lookup binds 1..${cols.length} leading columns of ${cols.mkString(",")}")
    val pk = primaryKeyOf(table)
    require(pk.length == 1,
      "driver index get serves single-column-rowkey tables (the " +
        "reference's index rowkey points at one base rowkey); " +
        "composite-pk tables use the Spark lookup path")
    val ts = schemaOf(table)
    val ikNames = ikColsOf(cols.length)
    val idxSchema = StructType(
      ikNames.zip(cols).map { case (ik, c) =>
        StructField(ik, ts(c).dataType, nullable = true) } :+
        StructField("rk", ts(pk.head).dataType, nullable = true))
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
      ikNames.take(values.length), Seq(values), manifestRanges(idxData))
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
    * on the Spark path (FullText.searchAll over indexData). */
  def driverFtSearch(table: String, indexName: String, terms: Seq[String],
                     maxPostings: Int = 100000): Seq[Any] =
    driverFtBoolean(table, indexName, terms, requireAll = true, maxPostings)

  /** Driver-side OR (disjunctive) search — the Lucene BooleanQuery
    * SHOULD-clause analog beside [[driverFtSearch]]'s MUST: docs
    * containing ANY query term, same segmented-stack seeks, same
    * zero-Spark-jobs serving contract. The seeks are identical to the
    * AND path (each term is one pruned postings seek either way); only
    * the in-memory intersection flips to a union. */
  def driverFtSearchAny(table: String, indexName: String, terms: Seq[String],
                        maxPostings: Int = 100000): Seq[Any] =
    driverFtBoolean(table, indexName, terms, requireAll = false, maxPostings)

  private def driverFtBoolean(table: String, indexName: String,
                              terms: Seq[String], requireAll: Boolean,
                              maxPostings: Int): Seq[Any] = {
    val st = servingStack(table, indexName, "fulltext")
    val analyzed = graft.index.FullText
      .analyzeTerms(terms, indexAnalyzer(table, indexName)).distinct
    require(analyzed.nonEmpty,
      "every query term is a stopword under this analyzer")
    val perDoc = driverFtPerDoc(table, st, analyzed, maxPostings)
    perDoc.collect { case (id, ts)
      if (if (requireAll) ts.size == analyzed.size else ts.nonEmpty) => id }
      .toSeq.sorted(Catalog.rowkeyOrd)
  }

  /** The shared boolean-serving core: per-doc matched-term sets for a
    * list of ALREADY-ANALYZED terms, seeked from the segmented
    * postings stack on the calling thread —
    * [[driverFtSearch]]/[[driverFtSearchAny]]/[[driverFtFuzzy]]
    * differ only in how they combine these sets. */
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
      DriverRead.get(p, schema, Seq("term"), keys, manifestRanges(p)).foreach { r =>
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
  private def postingsSchema(rkType: DataType): StructType = StructType(Seq(
    StructField("term", StringType, nullable = true),
    StructField("doc_id", rkType, nullable = true),
    StructField("tf", LongType, nullable = true)))

  private def positionsSchema(rkType: DataType): StructType = StructType(Seq(
    StructField("term", StringType, nullable = true),
    StructField("doc_id", rkType, nullable = true),
    StructField("pos", IntegerType, nullable = true)))

  /** Driver-side PREFIX serving — the Lucene PrefixQuery analog
    * beside [[driverFtSearch]]'s TermQuery: docs containing ANY term
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
                     maxPostings: Int = 100000): Seq[Any] = {
    val st = servingStack(table, indexName, "fulltext")
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
      DriverRead.range(p, schema, "term", q, hi, maxPostings, manifestRanges(p))
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
    * dictionary laid out sorted by (tlen, term) — [[writeFtFuzzy]]):
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
    * segmented postings stack exactly like [[driverFtSearchAny]].
    * Like Lucene's FuzzyQuery (and the Spark path's searchFuzzy),
    * the query term is normalized but NOT analyzed. */
  def driverFtFuzzy(table: String, indexName: String, term: String,
                    maxEdits: Int = 1, maxPostings: Int = 100000): Seq[Any] =
    driverFtFuzzyStats(table, indexName, term, maxEdits, maxPostings)._1

  /** [[driverFtFuzzy]] plus the banded-seek observable DriverGetSpec
    * pins: the number of sidecar rows the band seek actually read
    * (≪ vocabulary size — the point of the layout). */
  private[graft] def driverFtFuzzyStats(table: String, indexName: String,
                                        term: String, maxEdits: Int,
                                        maxPostings: Int)
      : (Seq[Any], Int) = {
    val st = servingStack(table, indexName, "fulltext")
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
    val fzSchema = StructType(Seq(
      StructField("tlen", IntegerType, nullable = true),
      StructField("term", StringType, nullable = true),
      StructField("df", LongType, nullable = true)))
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
  private val DeltaSchema = StructType(Seq(
    StructField("term", StringType, nullable = true),
    StructField("ddf", LongType, nullable = true)))

  /** Driver-side PHRASE search — [[driverFtSearch]]'s positional
    * counterpart (the Lucene PhraseQuery serving path): query terms
    * through the index's analyzer with Lucene's position-increment
    * contract (stopwords drop but keep their offsets, the
    * searchPhraseAnalyzed rule), each surviving term a pruned seek of
    * the POSITIONAL stack, adjacency verified in memory per candidate
    * doc. Zero Spark jobs. */
  def driverFtPhrase(table: String, indexName: String, phrase: String,
                     maxPostings: Int = 100000): Seq[Any] = {
    val st = servingStack(table, indexName, "fulltext")
    val an = indexAnalyzer(table, indexName)
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
                      before: Int = 3, after: Int = 4,
                      maxPostings: Int = 100000): Seq[(Any, Int, Long, String)] = {
    val st = servingStack(table, indexName, "fulltext")
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
                      maxIds: Int = 100000): Seq[Long] =
    driverBitmapCore(table, indexName, maxIds, "value") { (p, schema) =>
      DriverRead.get(p, schema, Seq("iv"), Seq(Seq(value)), Nil)
    }

  /** Driver-side BITMAP RANGE serving — [[driverBitmapIds]]'s range
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
                           maxIds: Int = 100000): Seq[Long] =
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
    val st = servingStack(table, indexName, "bitmap")
    val ivType = schemaOf(table)(indexedColumn(table, indexName, "bitmap")).dataType
    val rowSchema = StructType(Seq(
      StructField("iv", ivType, nullable = true),
      StructField("shard", LongType, nullable = true),
      StructField("bm", BinaryType, nullable = true)))
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
    val tombSchema = StructType(Seq(
      StructField("shard", LongType, nullable = true),
      StructField("bm", BinaryType, nullable = true)))
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
    * (score desc, rowkey asc — native key order). */
  def driverAnnTopK(table: String, indexName: String, query: Seq[Double],
                    k: Int, nprobe: Int = 4, exclude: Option[Any] = None,
                    maxEntries: Int = 100000): Seq[(Any, Double)] =
    driverAnnTopKStats(table, indexName, query, k, nprobe, exclude,
      maxEntries)._1

  /** Multi-query form of [[driverAnnTopK]] — the serving-path
    * multi-get (the kv_multi_get shape applied to vectors): one
    * artifact resolution, ONE centroid read, ONE cluster-keyed base
    * seek over the UNION of every query's probed lists and one
    * patch-sized CDC segment/tombstone read serve the whole query
    * batch; the per-query candidate set, masking, exclusion and exact
    * re-rank are computed per query from the shared reads, so each
    * query's result is IDENTICAL to its own driverAnnTopK call (the
    * per-query candidates are exactly the rows of its probed lists).
    * A serving loop issuing Q queries otherwise pays Q full artifact
    * read passes for artifacts that cannot change under it (COW
    * snapshots). Queries are (vector, exclude) pairs; returns one
    * (rowkey, score) list per query, order-aligned. */
  def driverAnnTopKBatch(table: String, indexName: String,
                         queries: Seq[(Seq[Double], Option[Any])],
                         k: Int, nprobe: Int = 4,
                         maxEntries: Int = 100000): Seq[Seq[(Any, Double)]] =
    driverAnnTopKBatchCore(table, indexName, queries, k, nprobe,
      maxEntries).map(_._1)

  /** [[driverAnnTopK]] plus the sublinearity observable DriverGetSpec
    * pins: the number of entry rows actually read (base seeks + CDC
    * segments, before tombstone masking) — ≪ corpus by the
    * cluster-sorted layout. */
  private[graft] def driverAnnTopKStats(table: String, indexName: String,
                                        query: Seq[Double], k: Int,
                                        nprobe: Int, exclude: Option[Any],
                                        maxEntries: Int)
      : (Seq[(Any, Double)], Int) =
    driverAnnTopKBatchCore(table, indexName, Seq((query, exclude)), k,
      nprobe, maxEntries).head

  /** Shared core: per query, (top-k results, entry rows read for its
    * probed lists). Single-query calls are a batch of one, so the two
    * public faces cannot diverge. */
  private def driverAnnTopKBatchCore(table: String, indexName: String,
                                     queries: Seq[(Seq[Double], Option[Any])],
                                     k: Int, nprobe: Int, maxEntries: Int)
      : Seq[(Seq[(Any, Double)], Int)] = {
    require(k > 0, "k must be positive")
    require(nprobe > 0, "nprobe must be positive")
    require(queries.nonEmpty, "empty query batch")
    val st = servingStack(table, indexName, "vector")
    val vecCol = indexedColumn(table, indexName, "vector")
    val rkType = rowkeyType(table)
    val qvs = queries.map(q => vectorData(q._1))
    // 1+2: ONE centroid read + per-query coarse probe, with the
    // codegen'd kernels' own metric (HashOps)
    val centSchema = StructType(Seq(
      StructField("cluster", IntegerType, nullable = true),
      StructField("centroid", ArrayType(DoubleType), nullable = true)))
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
    val entrySchema = StructType(Seq(
      StructField("rk", rkType, nullable = true),
      StructField("cluster", IntegerType, nullable = true),
      StructField("v", ArrayType(schemaOf(table)(vecCol).dataType match {
        case ArrayType(et, _) => et
        case other => other
      }), nullable = true)))
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
    * query belongs on the Spark path (FullText.bm25WandTopK). */
  def driverFtTopK(table: String, indexName: String, terms: Seq[String],
                   k: Int, k1: Double = 1.2, b: Double = 0.75,
                   seedBlocks: Int = 4,
                   maxPostings: Int = 100000): Seq[(Any, Double)] =
    driverFtTopKStats(table, indexName, terms, k, k1, b, seedBlocks,
      maxPostings)._1

  /** [[driverFtTopK]] plus the pruning observables DriverGetSpec pins:
    * (rows, base blocks carrying query-term postings, base blocks
    * actually read). */
  private[graft] def driverFtTopKStats(table: String, indexName: String,
                                       terms: Seq[String], k: Int,
                                       k1: Double, b: Double,
                                       seedBlocks: Int, maxPostings: Int)
      : (Seq[(Any, Double)], Int, Int) = {
    require(k > 0, "k must be positive")
    val st = servingStack(table, indexName, "fulltext")
    val analyzed = graft.index.FullText
      .analyzeTerms(terms, indexAnalyzer(table, indexName)).distinct
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
    val dictSchema = StructType(Seq(
      StructField("term", StringType, nullable = true),
      StructField("df", LongType, nullable = true)))
    val dfAcc = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    DriverRead.get(dictBase, dictSchema, Seq("term"),
        analyzed.map(t => Seq(t: Any)), manifestRanges(dictBase))
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
      val (n, t) = readNormMeta(p); nLive += n; dlLive += t
    }
    val normSchema = StructType(Seq(
      StructField("doc_id", rkType, nullable = true),
      StructField("dl", LongType, nullable = true)))
    val allTombRks: Seq[Any] = mask.rowkeys
    if (allTombRks.nonEmpty) normStack.foreach { case (v, p) =>
      DriverRead.get(p, normSchema, Seq("doc_id"),
          allTombRks.map(x => Seq(x)), manifestRanges(p))
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
            need.map(x => Seq(x)), manifestRanges(p))
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
        analyzed.map(t => Seq(t: Any)), manifestRanges(p)))
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
        analyzed.map(t => Seq(t: Any)), manifestRanges(base)))
    } else {
      val bmxSchema = StructType(Seq(
        StructField("term", StringType, nullable = true),
        StructField("block", LongType, nullable = true),
        StructField("max_tf", LongType, nullable = true),
        StructField("min_dl", LongType, nullable = true)))
      val ub = scala.collection.mutable.Map[Long, Double]().withDefaultValue(0.0)
      DriverRead.get(bmxPath, bmxSchema, Seq("term"),
          analyzed.map(t => Seq(t: Any)), manifestRanges(bmxPath))
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
            ranges, manifestRanges(base))
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

  /** Live snapshot path — the V2 catalog (GraftCatalog) reads/writes
    * this directory directly. */
  def liveDataPath(name: String): String = dataDir(name)

  /** Path of a specific snapshot version (the V2 table pins the
    * version it was loaded at, so one SQL statement reads one
    * consistent snapshot even while writers publish new ones). */
  def dataPathAt(name: String, version: Int): String =
    snapshotDir(name, version).toString

  /** Newest still-present snapshot version whose recorded publish time
    * is at or before `cutoffMs`, capped at the published pointer — the
    * `TIMESTAMP AS OF` resolution. Publish times come from the meta's
    * `publishTimes` map (`createTable` records v0, and every commit
    * records its version in the same meta write as the pointer); a
    * snapshot dir with no recorded time was never published. */
  def snapshotAtOrBefore(name: String, cutoffMs: Long): Option[Int] = {
    val live = dataVersionOf(name)
    val times = readMeta(name).path("publishTimes")
    withList(tableDir(name)) { it =>
      it.flatMap { p =>
        val n = p.getFileName.toString
        if (!n.startsWith("data_v")) None
        else scala.util.Try(n.stripPrefix("data_v").toInt).toOption
          .filter { v =>
            val rec = times.path(v.toString)
            v <= live && rec.isNumber && rec.asLong() <= cutoffMs
          }
      }.toList
    }.sorted.lastOption
  }

  /** Best-effort cleanup of an aborted writer's staging directory
    * (vacuum's grace window is the backstop). */
  def discardStaged(stagedDir: String): Unit = {
    val p = Paths.get(stagedDir)
    if (Files.exists(p)) try deleteRecursively(p)
    catch { case _: java.io.IOException => () }
  }

  /** SQL `INSERT INTO` commit: merge a staged batch into the table with
    * primary-key last-writer-wins semantics — the HBase Put model
    * (reference HBaseModifiableTable.kt:126-156: a Put on an existing
    * rowkey overwrites its cells, it never duplicates the row). Small
    * batches take the file-granular [[incrementalMerge]] path (only
    * files whose key range intersects the batch are rewritten; the
    * rest carry over as hard links); a bulk insert whose key set is too
    * large to reason about on the driver falls back to one full
    * shuffled upsert merge — both through [[incrementalMergeIfNonEmpty]]
    * under the table write lock, so the merge always runs against the
    * CURRENT live snapshot, concurrent inserts serialize instead of
    * losing each other, and an empty batch publishes no version. */
  def upsertStaged(name: String, stagedDir: String,
                   maxIncrementalKeys: Int = 100000): Unit =
    try {
      import org.apache.spark.sql.functions.{col, struct, max}
      val schema = schemaOf(name)
      val fields = schema.fieldNames.toSeq
      val cols = fields.map(col)
      val pk = primaryKeyOf(name)
      val raw = spark.read.schema(schema).parquet(stagedDir)
      // within-statement duplicate PKs collapse to one row (HBase batch
      // Puts on one rowkey leave a single cell version visible). A DSv2
      // batch has no meaningful row order after parallel write, so the
      // winner is made DETERMINISTIC instead: the greatest tuple of the
      // non-key columns (struct ordering, nulls first) — identical
      // batches always publish identical post-images, which is what
      // makes streaming-batch replay idempotent.
      val others = fields.filterNot(pk.contains)
      // max(struct(...)) needs an ordering on every non-key column; a
      // map-typed column has none (Spark: map types are unorderable).
      // Fall back to an arbitrary-but-single winner there — replay
      // idempotence for such schemas is only guaranteed when batches
      // don't carry intra-batch duplicate PKs (documented trade; every
      // current schema is orderable and keeps the deterministic path).
      val orderable = others.forall(o =>
        org.apache.spark.sql.catalyst.expressions.RowOrdering
          .isOrderable(schema(o).dataType))
      val batch =
        if (others.isEmpty) raw.dropDuplicates(pk) // rows are identical
        else if (!orderable) raw.dropDuplicates(pk)
        else raw.groupBy(pk.map(col): _*)
          .agg(max(struct(others.map(col): _*)).as("__w"))
          .select(pk.map(col) ++ others.map(o => col(s"__w.$o").as(o)): _*)
          .select(cols: _*)
      // null keys, the bound and an empty batch (no version) are
      // decided there
      incrementalMergeIfNonEmpty(name, batch, maxIncrementalKeys): Unit
    } finally discardStaged(stagedDir)

  /** Stage-then-commit protocol for external (DSv2) writers: every
    * writer stages into its OWN uniquely-named directory (never a
    * shared data_vN — two racing writers must not be able to pollute
    * one directory), then [[publishStaged]] renames it to the next
    * snapshot and flips the pointer under the write lock. */
  def stagingPath(name: String): String =
    tableDir(name).resolve(
      s".staging_${java.util.UUID.randomUUID().toString.replace("-", "")}").toString

  /** Publish a staged snapshot as the next version: persist the
    * staged post-image through the table's declared LAYOUT into
    * data_v(next) and bump the pointer under the write lock. The
    * staged dir is raw DSv2 writer output — republishing it through
    * writeData is what keeps the layout invariant (rowkey sort or
    * z-clustering, hence file min/max pruning) across SQL row-level
    * rewrites, the same way HBase flushes AND compactions both emit
    * sorted HFiles. One extra pass over the post-image; row-level ops
    * are bulk rewrites already. The staged content is published as the
    * COMPLETE post-image (replace semantics — appends go through
    * [[upsertStaged]]'s PK merge instead). */
  def publishStaged(name: String, stagedDir: String,
                    expectedVersion: Option[Int] = None): Unit =
    // a staged post-image derived from a stale snapshot can never be
    // published — it is reclaimed whether the commit lands or fails
    try commitFullRewrite(name) { cur =>
      checkExpected(name, cur, expectedVersion)
      spark.read.schema(schemaOf(name)).parquet(stagedDir)
    } finally discardStaged(stagedDir)

  // ------------------------------------------------------------------
  // Multi-statement transactions — the Spark-bulk analog of the
  // reference's Tephra-backed transactional tables
  // (KVTransactionalIndexTable.kt: one transaction spans several
  // statements and the base+index writes of each). Semantics here are
  // optimistic snapshot isolation, per table:
  //   - every table READ inside the transaction pins that table's
  //     snapshot at first touch (repeatable reads, no locks held);
  //   - writes buffer as derived post-images (read-your-writes within
  //     the transaction, nothing visible outside it);
  //   - COMMIT takes the write locks of all written tables in the one
  //     lock scope every write path uses (sorted, healed), CAS-checks
  //     every written table is still at its pinned version (write-write
  //     conflict → the whole transaction fails, nothing published),
  //     stages every post-image snapshot + its kv-index maintenance,
  //     and publishes all of them in ONE commit ([[Commit]]).
  // With more than one table the commit writes a journal after the
  // fence pass and the renames, then moves each pointer (with its
  // as-of bumps) through a freshly fenced one-table publish. Readers overlay the journal ([[dataVersionOf]]), so
  // every table turns visible at the instant it appears; everything
  // heavy happens before it (a crash there leaves only unpublished
  // garbage that vacuum reclaims), and a crash after it is rolled
  // FORWARD by [[recoverTransactions]] and the in-lock heal.
  // ------------------------------------------------------------------

  /** Run `f` as one multi-statement transaction and commit its writes
    * atomically (all-or-nothing across every written table). Throws
    * `ConcurrentModificationException` if a concurrent writer published
    * to any written table since the transaction first touched it — the
    * caller re-runs the whole transaction. An exception from `f` rolls
    * back (nothing was published). */
  def transaction[A](f: Txn => A): A = {
    recoverTransactions()
    val txn = new Txn(this)
    val result =
      try f(txn)
      catch { case e: Throwable => txn.invalidate(); throw e }
    txn.commit()
    result
  }

  /** [[transaction]] with automatic re-run on write-write conflict —
    * the standard optimistic-concurrency client loop (Tephra clients
    * retry aborted transactions the same way). The body runs against a
    * FRESH set of pinned snapshots each attempt, so it must be a pure
    * function of what it reads through the Txn. */
  def transactionWithRetry[A](maxRetries: Int = 3)(f: Txn => A): A = {
    var attempt = 0
    while (true) {
      try return transaction(f)
      catch {
        case e: java.util.ConcurrentModificationException =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Commit body: lock scope → CAS all → stage all → one commit.
    * Post-heal, dataVersionOf has no overlay left to apply for these
    * tables, so the CAS runs against the converged on-disk version, and
    * it runs for EVERY table before ANY write is staged. Package-private
    * for [[Txn]]. */
  private[kv] def commitTxn(writes: Seq[(String, DataFrame, Int)]): Unit =
    if (writes.nonEmpty) withRecoveredWriteLocks(writes.map(_._1): _*) {
      writes.foreach { case (t, _, pinned) =>
        checkExpected(t, dataVersionOf(t), Some(pinned)) }
      commit(writes.sortBy(_._1).map { case (t, post, pinned) =>
        stageRewrite(t, pinned + 1, post) }: _*)
    }

  /** Roll any transaction that crashed between its journal and its
    * last pointer move forward ([[Commit.recover]]). Idempotent and
    * concurrent-safe: each entry re-checks under its table's write
    * lock that it is still pending. Runs at the start of every write
    * path and [[transaction]]. */
  def recoverTransactions(): Unit =
    commits.recover(p =>
      if (tableExists(p.table)) withWriteLock(p.table) {
        commits.rollForward(p, held(p.table))
      })

  def schemaOf(name: String): StructType = {
    val cols = readMeta(name).path("columns").asInstanceOf[ArrayNode]
    StructType(cols.elements().asScala.map { c =>
      val md =
        if (c.hasNonNull("metadata")) Metadata.fromJson(c.path("metadata").asText())
        else Metadata.empty
      StructField(c.path("name").asText(),
        DataType.fromDDL(c.path("datatype").asText()),
        c.path("nullable").asBoolean(true), md)
    }.toSeq)
  }

  def charsetOf(name: String): String =
    readMeta(name).path("charset").asText("UTF-8")

  /** The primary key in the SCHEMA's field case. createTable stores it
    * canonicalized; the case-insensitive mapping here also repairs
    * metas written before canonicalization, so exact-match consumers
    * (StructType.apply, fields.filterNot) stay safe either way. */
  def primaryKeyOf(name: String): Seq[String] = {
    val fields = schemaOf(name).fieldNames
    readMeta(name).path("primary").asText().split(",").toSeq
      .map(k => fields.find(_.equalsIgnoreCase(k)).getOrElse(k))
  }

  def commentOf(name: String): String = readMeta(name).path("comment").asText("")

  /** Reference dropTable: disable + delete + purge sys rows
    * (HBaseSchema.kt:225-259). Here: recursive delete of the dir. */
  def dropTable(name: String): Unit = {
    require(tableExists(name), s"table $name does not exist")
    withWriteLock(name) {
      // purge the table AND its index tables (reference dropTable clears
      // the sys rows and index tables too, HBaseSchema.kt:225-259)
      val doomed = tableDir(name) +: withList(Paths.get(warehouse)) { it =>
        it.filter(_.getFileName.toString.startsWith(s"$name.")).toList
      }
      doomed.foreach(deleteRecursively)
    }
  }

  def listTables(): Seq[String] =
    if (!Files.exists(Paths.get(warehouse))) Seq.empty
    else withList(Paths.get(warehouse)) { it =>
      it.filter(p => Files.exists(p.resolve("_graft_meta.json")))
        .map(_.getFileName.toString).toList
    }.sorted

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
                  cols: Seq[String], analyzer: String = "standard",
                  graph: Boolean = false, graphM: Int = 8): Unit = {
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
      withIndexArtifacts(table, indexType, cols, this.table(table).df,
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
    * edit-distance-k expansion ([[driverFtFuzzy]]) reads ONLY the
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

  /** Scalar meta beside a norms artifact: the frame's (row count,
    * Σ dl), so the live corpus scalars (N, avgdl) derive at query time
    * from metas + patch-sized tombstone adjustments — never a
    * corpus-sized aggregate on the serving thread. Underscore name
    * keeps the file invisible to parquet reads. */
  private def writeNormMetaJson(dir: Path, n: Long, total: Long): Unit = {
    val node = mapper.createObjectNode()
    node.put("n", n)
    node.put("total", total): Unit
    Files.writeString(dir.resolve("_graft_norm_meta.json"),
      mapper.writeValueAsString(node)): Unit
  }

  private def writeNormMeta(dir: Path, doclens: DataFrame): Unit = {
    val (n, total) = aggDoclens(doclens)
    writeNormMetaJson(dir, n, total)
  }

  private def readNormMeta(dir: Path): (Long, Long) = {
    val f = dir.resolve("_graft_norm_meta.json")
    require(Files.exists(f),
      s"norms artifact $dir has no scalar meta — CALL system.refresh_index")
    val n = mapper.readTree(Files.readString(f))
    (n.path("n").asLong(), n.path("total").asLong())
  }

  def lockStatusOf(table: String): String =
    readMeta(table).path("lockStatus").asText()

  /** Live dictionary view: the base dictionary (paired with the base
    * postings — both written by the same backfill/refresh/compact)
    * plus any df deltas appended by segment maintenance since. The
    * fold aggregates |vocab| + |deltas| rows — never the corpus. */
  def indexDictionary(table: String, indexName: String, indexType: String): DataFrame =
    dictSegView(IndexStack.at(indexDir(table, indexName, indexType),
      dataVersionOf(table)))

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
    segmentedView(IndexStack.at(indexDir(table, indexName, indexType),
      dataVersionOf(table)), indexType)

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
    val st = IndexStack.at(indexDir(table, indexName, "vector"),
      dataVersionOf(table))
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
  def buildVectorGraph(table: String, indexName: String, m: Int = 8): Unit =
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
    val dir = indexDir(table, indexName, "vector")
    // paired at the DATA BASE's version like cent/vmeta: a graph_v
    // orphaned above the data base by a crashed fold/refresh must not
    // resolve — its lists key by a coarse structure the live artifacts
    // don't carry
    val g = IndexStack.at(dir, dataVersionOf(table)).paired("graph")
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
    positionsView(IndexStack.at(indexDir(table, indexName, indexType),
      dataVersionOf(table)))

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

  /** Index registry from the table's metadata: (name, type, cols). */
  def indexesOf(table: String): Seq[(String, String, Seq[String])] =
    readMeta(table).withArray[ArrayNode]("indexes").elements().asScala.map { e =>
      (e.path("name").asText(), e.path("type").asText(),
        e.path("cols").asText().split(",").toSeq)
    }.toSeq

  /** The analyzer a fulltext index was created with ("standard" when
    * unset — incl. every pre-option index). EVERY build path (create,
    * CDC segment, refresh) must consult this, or a segment built with
    * the wrong chain would silently mix stemmed and unstemmed terms
    * in one postings view. */
  def indexAnalyzer(table: String, indexName: String): String =
    readMeta(table).withArray[ArrayNode]("indexes").elements().asScala
      .find(e => e.path("name").asText() == indexName)
      .map(_.path("analyzer").asText("standard"))
      .getOrElse("standard")

  // ------------------------------------------------------------------
  // Per-write index maintenance.
  //
  // Reference semantics: KV index tables are maintained synchronously
  // on every base-table Put/Delete (KVIndexTable.kt:95-125 — read old
  // value, delete stale index row, put new one); the Lucene full-text
  // index is maintained by its own writer and committed out of band.
  // Here: "kv" indexes update on every write path — file-granularly
  // when the touched entry set is bounded — while the analytic flavors
  // (bitmap, fulltext) carry an as-of version, report STALE after
  // writes, and rebuild via refreshIndex / CALL system.refresh_index.
  // Index data is versioned like table data (data_vN alongside the
  // original backfill dir) so a maintenance write never clobbers the
  // snapshot a concurrent reader resolved.
  // ------------------------------------------------------------------

  /** Index entry frame for a kv index over `cols`: (ik..., rk). */
  private def kvEntriesOf(table: String, rows: DataFrame, cols: Seq[String]): DataFrame = {
    val rk = primaryKeyOf(table).head
    if (cols.size == 1) graft.index.KvIndex.build(rows, rk, cols.head)
    else graft.index.KvIndex.buildComposite(rows, rk, cols)
  }

  private def ikColsOf(n: Int): Seq[String] =
    if (n == 1) Seq("ik") else (0 until n).map(i => s"ik$i")

  /** Persist kv-index entries over `cols` at `dir`, sorted by their
    * index key, with the range manifest of the lead index column folded
    * by the same write job plus the `carried` entries of files linked
    * in beside them — no manifest when the indexed column's type keeps
    * none. */
  private def writeKvIndex(entries: DataFrame, cols: Seq[String], dir: Path,
                           partitions: Int = 0,
                           carried: Seq[FileRange] = Nil): Unit = {
    val ikCols = ikColsOf(cols.size)
    if (!manifestPersistable(entries.schema(ikCols.head).dataType))
      KvLayout.writeSorted(entries, ikCols, dir.toString, partitions)
    else writeRangeManifest(dir,
      writeCaptured(dir, entries.schema, ikCols.head, None)(c =>
        KvLayout.writeSorted(entries, ikCols, dir.toString, partitions, Some(c))) ++
        carried)
  }

  /** FRESH iff the index content matches the live table version. */
  def indexStatus(table: String, indexName: String, indexType: String): String = {
    val asOf = try indexAsOfVersion(table, indexName, indexType)
      catch { case _: IllegalArgumentException => -1 }
    if (asOf == dataVersionOf(table)) "FRESH" else s"STALE@v$asOf"
  }

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
    * table-sized. Analytic flavors are left stale on purpose. */
  private def maintainIndexes(name: String, next: Int, nextDataDir: Path,
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
            val leadPersistable = manifestPersistable(
              schemaOf(name).apply(cols.head).dataType)
            val idxSchema = remove.schema
            val ranges = ensureRangeManifest(curIdx, lead, leadPersistable,
              schema = Some(idxSchema))
            val (touched, untouched) = splitByKeyIntersect(ranges, keys)
            val touchedIdx =
              if (touched.isEmpty)
                spark.createDataFrame(spark.sparkContext.emptyRDD[Row], idxSchema)
              else spark.read.schema(idxSchema)
                .parquet(touched.map(e => curIdx.resolve(e.file).toString): _*)
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
            // new + carried entries — the table merge's carry-forward
            // pattern (links after the write, which owns the dir)
            writeKvIndex(patched, cols, nextIdxDir,
              partitions = math.max(math.max(1, touched.size),
                math.ceil(touchedBytes.toDouble / mergeTargetFileBytes).toInt),
              carried = untouched)
            untouched.foreach(e =>
              linkOrCopy(curIdx.resolve(e.file), nextIdxDir.resolve(e.file)))
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
        withIndexArtifacts(table, ty, cols, this.table(table).df,
            indexAnalyzer(table, indexName), graphM) {
          _.foreach { case (n, w) => stage.stage(s"${n}_v$cur")(w) }
        }
      }
      setIndexAsOf(table, indexName, indexType, cur)
    }

  def listIndexes(table: String): Seq[String] =
    if (!Files.exists(Paths.get(warehouse))) Seq.empty
    else withList(Paths.get(warehouse)) { it =>
      it.map(_.getFileName.toString)
        .filter(_.startsWith(s"$table.")).toList
    }.sorted

  /** Reference naming: {table}.{type}.{index} (HBaseSchema.kt:306,
    * README.md metadata scheme). */
  private def indexDir(table: String, indexName: String, indexType: String): Path =
    Paths.get(warehouse, s"$table.${indexType.toLowerCase}.$indexName")

  /** Publish `version` of `table` with nothing staged: the
    * single-table roll-forward entry into the commit point
    * ([[Commit.run]]), under `handle` or the write lock this thread
    * holds. A version at or below the pointer is a replay. */
  private[graft] def publishVersion(table: String, version: Int,
                                    handle: Option[LockProvider.Handle] = None): Unit =
    commits.run(Seq(Commit.Publish(table, version)), _ => handle.orElse(held(table)))

  private def setMetaAttr(table: String, attr: String, value: Any): Unit = {
    val meta = readMeta(table)
    value match {
      case i: Int    => meta.put(attr, i): Unit
      case b: Boolean => meta.put(attr, b): Unit
      case s         => meta.put(attr, s.toString): Unit
    }
    writeMeta(table, meta)
  }

  /** table.sys dump: one row with the reference's TableAttribute
    * fields (primary key, isTransactional, lock status, charset,
    * create time — HBaseTable.kt:197-216) plus graft's own layout/
    * version attributes. Metadata-only — no data scan. */
  def tableInfo(name: String): DataFrame = {
    val m = readMeta(name)
    val row = Row(name,
      m.path("primary").asText(),
      m.path("isTransactional").asBoolean(false),
      m.path("lockStatus").asText("UNLOCK"),
      m.path("charset").asText("UTF-8"),
      m.path("layout").asText("sorted"),
      m.path("comment").asText(""),
      m.path("createdAt").asLong(),
      m.path("dataVersion").asInt(),
      m.withArray[ArrayNode]("indexes").size())
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(row), 1),
      StructType(Seq(
        StructField("table_name", StringType, false),
        StructField("primary_key", StringType, false),
        StructField("is_transactional", BooleanType, false),
        StructField("lock_status", StringType, false),
        StructField("charset", StringType, false),
        StructField("layout", StringType, false),
        StructField("comment", StringType, false),
        StructField("created_ms", LongType, false),
        StructField("data_version", IntegerType, false),
        StructField("n_indexes", IntegerType, false))))
  }

  /** column.sys dump: one row per column with the reference's
    * ColumnAttribute fields (datatype, position, nullable, primary,
    * default — HBaseSchema.kt:141-160) plus the table charset
    * (table.sys, HBaseTable.kt:197-216). */
  def describeTable(name: String): DataFrame = {
    val cs = charsetOf(name)
    val cols = readMeta(name).withArray[ArrayNode]("columns")
    val rows = cols.elements().asScala.map { c =>
      val default =
        if (!c.hasNonNull("metadata")) null
        else {
          val md = Metadata.fromJson(c.path("metadata").asText())
          if (md.contains("CURRENT_DEFAULT")) md.getString("CURRENT_DEFAULT")
          else null
        }
      Row(name, c.path("name").asText(), c.path("datatype").asText(),
        c.path("position").asInt(), c.path("nullable").asBoolean(),
        c.path("isPrimary").asBoolean(), default, cs)
    }.toSeq
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("table_name", StringType, false),
        StructField("column_name", StringType, false),
        StructField("datatype", StringType, false),
        StructField("position", IntegerType, false),
        StructField("nullable", BooleanType, false),
        StructField("is_primary", BooleanType, false),
        StructField("column_default", StringType, true),
        StructField("charset", StringType, false))))
  }
}

object Catalog {
  /** Deterministic NATIVE ordering for driver-serving rowkeys:
    * numeric keys compare numerically (integral in long space,
    * fractional in double space), strings/booleans/date-times by
    * their own Comparable — matching the Spark path's ORDER BY on the
    * same column, where the old `_.toString` sort put rowkey 10 before
    * 9. Cross-family comparisons (a long vs a string — impossible for
    * one table's single-typed rowkey column) fall back to the
    * toString tie-break rather than throwing. */
  private[graft] val rowkeyOrd: Ordering[Any] = new Ordering[Any] {
    override def compare(a: Any, b: Any): Int = (a, b) match {
      case (null, null) => 0
      case (null, _) => -1
      case (_, null) => 1
      case (x: java.lang.Float, y: java.lang.Number) =>
        java.lang.Double.compare(x.doubleValue(), y.doubleValue())
      case (x: java.lang.Double, y: java.lang.Number) =>
        java.lang.Double.compare(x.doubleValue(), y.doubleValue())
      case (x: java.lang.Number, y: java.lang.Float) =>
        java.lang.Double.compare(x.doubleValue(), y.doubleValue())
      case (x: java.lang.Number, y: java.lang.Double) =>
        java.lang.Double.compare(x.doubleValue(), y.doubleValue())
      case (x: java.lang.Number, y: java.lang.Number) =>
        java.lang.Long.compare(x.longValue(), y.longValue())
      case (x: String, y: String) => x.compareTo(y)
      case (x: java.lang.Boolean, y: java.lang.Boolean) => x.compareTo(y)
      case (x: java.sql.Timestamp, y: java.sql.Timestamp) => x.compareTo(y)
      case (x: java.sql.Date, y: java.sql.Date) => x.compareTo(y)
      case (x, y) => x.toString.compareTo(y.toString)
    }
  }
}

/** One manifest entry: per-file bounds of the LEADING key, plus —
  * for z-ordered tables — the SECOND key's bounds (`second`), so a
  * driver range scan on either z dimension prunes from the one
  * manifest read instead of opening O(files) footers cold. None = not
  * a z table, or a second key whose type keeps no bounds; such an
  * entry is never pruned on the second key (footers stand in).
  * `bloom` is the per-file rowkey Bloom bitset (the HBase StoreFile
  * BloomFilter ROW analog — see [[BloomBits]]): a driver point Get
  * whose keys all miss it skips the file BEFORE any footer read.
  * None (unsupported key types, an unreadable bloom) never vetoes. */
private[graft] case class FileRange(file: String, lo: Any, hi: Any,
                                    second: Option[(Any, Any)] = None,
                                    bloom: Option[Array[Byte]] = None)

/** Process-wide parsed-manifest cache for the driver serving paths:
  * a manifest is parsed once per CONTENT (path, size, mtime) — the
  * same identity recipe as DriverRead's footer cache — instead of
  * once per get (driverMultiGetAt re-reads the manifest JSON on every
  * call, and with per-key-sized blooms the parse is no longer
  * trivial). Manifests publish via atomic rename, so a rewrite
  * normally changes the key; the writer ALSO invalidates the path
  * explicitly (same-length rewrite inside one mtime tick on a
  * coarse-clock filesystem would otherwise serve the stale parse).
  * Eviction is LRU at the cap — at production file counts the
  * hottest tables' manifests stay parsed instead of the whole cache
  * periodically cold-starting. A None parse (corrupt/mid-write
  * observation) is returned but never cached: the next read
  * re-parses — absence must not be pinned until the key changes. */
private[kv] object ManifestCache {
  private val cap = 4096
  private val cache =
    new java.util.LinkedHashMap[(String, Long, Long), Option[Seq[FileRange]]](
        64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long), Option[Seq[FileRange]]])
          : Boolean = size() > cap
    }

  def cached(f: Path)(parse: => Option[Seq[FileRange]]): Option[Seq[FileRange]] = {
    val key = (f.toAbsolutePath.toString, Files.size(f),
      Files.getLastModifiedTime(f).toMillis)
    val hit = cache.synchronized(cache.get(key))
    if (hit != null) hit
    else {
      // parse OUTSIDE the lock: a slow sidecar read must not block
      // every other table's cache hit
      val v = parse
      if (v.isDefined) cache.synchronized(cache.put(key, v)): Unit
      v
    }
  }

  /** Drop every cached parse of this path — the manifest writer's
    * explicit publish hook. */
  def invalidate(f: Path): Unit = {
    val p = f.toAbsolutePath.toString
    cache.synchronized {
      cache.keySet.removeIf(_._1 == p): Unit
    }
  }
}
