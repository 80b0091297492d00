package graft.kv

import com.fasterxml.jackson.databind.{ObjectMapper, JsonNode}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
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

  private[kv] val mapper = new ObjectMapper()

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

  private[kv] def snapshotDir(name: String, version: Int): Path =
    tableDir(name).resolve(s"data_v$version")

  private[kv] def readMeta(name: String): ObjectNode =
    mapper.readTree(Files.readString(metaFile(name))).asInstanceOf[ObjectNode]

  /** Meta writes are stage-then-rename: `Files.writeString` in place
    * truncates before it writes, and the meta file is read LOCK-FREE
    * on every version resolution — a reader racing an in-place write
    * sees an empty or partial JSON and crashes (observed: Jackson
    * MissingNode on an empty read). The rename publishes the complete
    * document atomically; a racing reader sees the old meta or the
    * new, never bytes in between. */
  private[kv] def writeMeta(name: String, meta: ObjectNode): Unit = {
    val tmp = tableDir(name).resolve(
      s".meta_tmp_${java.util.UUID.randomUUID().toString.replace("-", "")}")
    Files.writeString(tmp, mapper.writeValueAsString(meta))
    Files.move(tmp, metaFile(name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
  }

  /** Iterate a directory stream with a guaranteed close (long-lived
    * driver JVMs leak handles otherwise). */
  private[kv] def withList[A](dir: Path)(f: Iterator[Path] => A): A = {
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
    // resolution), but primaryKeyOf returns the key as stored, and
    // exact-match consumers downstream (StructType.apply in
    // manifestKeys, fields.filterNot in upsertStaged) would otherwise
    // wedge every CDC merge and INSERT on a table created with
    // primaryKey=Seq("K") over field "k".
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
      if (Manifest.persistable(schema(canonicalPk.head).dataType))
        Manifest.write(spark, v0,
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

  def layoutOf(name: String): String = metaField(readMeta(name), name, "layout").asText()

  /** A table-meta field [[createTable]] always writes, read strictly: a
    * meta without it is damaged, and a default would hide that. */
  private def metaField(meta: ObjectNode, name: String, field: String): JsonNode = {
    val v = meta.get(field)
    if (v == null || v.isNull)
      throw new IllegalStateException(s"table $name meta has no '$field' — the meta is damaged")
    v
  }

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
        Some(Manifest.captured(spark, Paths.get(path), df.schema, keyCol, secondCol)(
          c => write(Some(c))))
    }
  }

  /** Write a snapshot into its staging dir together with its range
    * manifest: a snapshot is published complete and never annotated
    * after publish (only [[Manifest.ensure]]'s heal writes into a
    * published dir). */
  private def stageSnapshot(name: String, df: DataFrame, stage: Path,
                            partitions: Int = 0): Unit =
    writeData(name, df, stage.toString, partitions)
      .foreach(Manifest.write(spark, stage, _))

  /** The columns a table's range manifest records: the leading key,
    * plus the second key on z tables (so a driver range scan on that
    * dimension serves from the manifest instead of opening every
    * footer cold). None when the leading key's type has no persisted
    * manifest — merges of such tables scan instead. */
  private def manifestKeys(name: String): Option[(String, Option[String])] = {
    val pk = primaryKeyOf(name)
    val schema = schemaOf(name)
    if (!Manifest.persistable(schema(pk.head).dataType)) None
    else Some((pk.head,
      if (layoutOf(name) == "zorder" && pk.size == 2 &&
          Manifest.persistable(schema(pk(1)).dataType)) Some(pk(1))
      else None))
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
    indexBuild.maintainIndexes(name, next, stage, pre = None, post = None)
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
  private[kv] def withWriteLock[A](name: String)(f: => A): A = {
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

  private[kv] def held(name: String): Option[LockProvider.Handle] =
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
  private[kv] val mergeTargetRowsPerFile: Int = 1000000

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
    val keys = leadKeys(patch, pk.head, maxIncrementalKeys + 1)
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

  /** Up to `limit` distinct values of `patch`'s column `keyCol`. A
    * patch built from driver rows (a LocalRelation once optimized) is
    * read without a Spark job and deduplicated here; any other patch
    * runs one bounded distinct job. */
  private def leadKeys(patch: DataFrame, keyCol: String, limit: Int): Array[Any] = {
    val keyRows = patch.select(keyCol)
    keyRows.queryExecution.optimizedPlan match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        keyRows.collect().iterator.map(r => canonKey(r.get(0))).distinct.take(limit).toArray
      case _ =>
        keyRows.distinct().limit(limit).collect().map(r => canonKey(r.get(0)))
    }
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
    * [[Manifest.ensure]]). Patch keys are collected to the driver:
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
    val manifest = Manifest.ensure(spark, curDir, keyCol, keys.isDefined,
      keys.flatMap(_._2), schema = Some(tableSchema))
    val (touched, untouched) = Manifest.splitByKeyIntersect(manifest, patchKeys)
    val stage = newSnapshotStaging(name)
    val touchedDf = Manifest.readFiles(spark, curDir, tableSchema, touched)
    val post = patch.select(tableSchema.fieldNames.toSeq.map(col): _*)
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
    Manifest.rewrite(spark, curDir, stage, untouched) {
      writeData(name, merged.df, stage.toString,
        partitions = math.max(math.max(1, touched.size), patchParts))
    }
    // the pre-image of exactly the patched keys, read from the touched
    // files the rewrite reads anyway: with the patch as post-image,
    // index maintenance is patch-sized, never touched-file-sized. A
    // single integral or string key filters by the collected key set
    // (pushed into the scan, no join against the patch's lineage)
    val pre = tableSchema(keyCol).dataType match {
      case LongType | IntegerType | ShortType | ByteType | StringType if pk.size == 1 =>
        touchedDf.where(col(keyCol).isInCollection(patchKeys))
      case _ => touchedDf.join(patch.select(pk.map(col): _*).distinct(), pk, "left_semi")
    }
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
    val kv = indexBuild.maintainIndexes(name, cur + 1, stage,
      pre = Some(kvPre), post = Some(kvPost))
    // analytic flavors (fulltext/bitmap) stay fresh through CDC via
    // patch-sized segments + tombstones — the Lucene segment model
    // (reference index/lucene/LuceneIndexTable.kt: the Lucene writer
    // appends segments per commit; HBaseDirectory.kt persists them) —
    // never re-reading untouched corpus files
    val analytic = indexBuild.maintainAnalyticIndexes(name, cur + 1, post, pre)
    commit(kv.copy(asOf = kv.asOf ++ analytic))
  }
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
      val files = ManifestCapture.partFiles(curDir).map(FileRange(_, null, null))
      val (small, big) =
        files.partition(e => Files.size(curDir.resolve(e.file)) < targetFileBytes)
      if (small.size > 1) {
        val nextDir = snapshotDir(name, cur + 1)
        val stage = newSnapshotStaging(name)
        val tableSchema = schemaOf(name)
        val totalBytes = small.map(e => Files.size(curDir.resolve(e.file))).sum
        val parts = math.max(1,
          math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
        // the big files' manifest entries carry over with their links
        val bigNames = big.map(_.file).toSet
        val carry = manifestKeys(name) match {
          case Some((keyCol, secondCol)) if big.nonEmpty =>
            Manifest.ensure(spark, curDir, keyCol, persistable = true, secondCol,
              Some(tableSchema)).filter(e => bigNames(e.file))
          case _ => big
        }
        Manifest.rewrite(spark, curDir, stage, carry) {
          writeData(name, Manifest.readFiles(spark, curDir, tableSchema, small),
            stage.toString, parts)
        }
        // compaction changes layout, not content: every index that was
        // fresh at cur stays valid — its as-of moves with the pointer,
        // after clearing the version-(cur+1) artifacts a crashed earlier
        // writer left (publishing cur+1 over them would make every
        // reader resolve never-committed content)
        val indexes = indexesOf(name)
        indexBuild.clearIndexArtifactsAt(name, indexes, cur + 1)
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
    indexBuild.vacuumIndexes(name, liveV, idle)
    }
  }

  /** The registry entry of index `indexName` of type `indexType` in a
    * table meta. One name may be registered under several types
    * (createIndex's guard checks both), so every lookup matches both. */
  private[kv] def indexEntry(meta: ObjectNode, indexName: String,
                             indexType: String): Option[ObjectNode] =
    meta.withArray[ArrayNode]("indexes").elements().asScala.collectFirst {
      case e: ObjectNode if e.path("name").asText() == indexName &&
        e.path("type").asText().equalsIgnoreCase(indexType) => e
    }

  /** [[indexEntry]] in the table's current meta, which must hold it. */
  private[kv] def registeredIndex(table: String, indexName: String,
                                  indexType: String): ObjectNode =
    indexEntry(readMeta(table), indexName, indexType).getOrElse(
      throw new IllegalArgumentException(
        s"$table $indexName $indexType not registered"))

  private[kv] def indexCols(table: String, indexName: String,
                            indexType: String): Seq[String] =
    registeredIndex(table, indexName, indexType).path("cols").asText().split(",").toSeq

  private[kv] def indexAsOfVersion(table: String, indexName: String,
                                   indexType: String): Int =
    registeredIndex(table, indexName, indexType).path("asOfVersion").asInt(-1)

  /** Read a specific historical snapshot (time travel), with the
    * meta's schema like [[table]]: a table's schema never changes
    * (the catalog refuses ALTER TABLE), and inferring it runs a Spark
    * job per read. */
  def tableAt(name: String, version: Int): KvTable =
    KvTable(spark.read.schema(schemaOf(name)).parquet(snapshotDir(name, version).toString),
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

  def charsetOf(name: String): String = metaField(readMeta(name), name, "charset").asText()

  /** The primary key, in the schema's field case ([[createTable]]
    * stores it canonicalized). */
  def primaryKeyOf(name: String): Seq[String] =
    metaField(readMeta(name), name, "primary").asText().split(",").toSeq

  def commentOf(name: String): String = metaField(readMeta(name), name, "comment").asText()

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

  def lockStatusOf(table: String): String =
    readMeta(table).path("lockStatus").asText()

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
  def indexAnalyzer(table: String, indexName: String, indexType: String): String =
    indexEntry(readMeta(table), indexName, indexType)
      .map(_.path("analyzer").asText("standard"))
      .getOrElse("standard")

  /** FRESH iff the index content matches the live table version. */
  def indexStatus(table: String, indexName: String, indexType: String): String = {
    val asOf = try indexAsOfVersion(table, indexName, indexType)
      catch { case _: IllegalArgumentException => -1 }
    if (asOf == dataVersionOf(table)) "FRESH" else s"STALE@v$asOf"
  }

  def listIndexes(table: String): Seq[String] =
    if (!Files.exists(Paths.get(warehouse))) Seq.empty
    else withList(Paths.get(warehouse)) { it =>
      it.map(_.getFileName.toString)
        .filter(_.startsWith(s"$table.")).toList
    }.sorted

  /** Reference naming: {table}.{type}.{index} (HBaseSchema.kt:306,
    * README.md metadata scheme). */
  private[kv] def indexDir(table: String, indexName: String, indexType: String): Path =
    Paths.get(warehouse, s"$table.${indexType.toLowerCase}.$indexName")

  /** Publish `version` of `table` with nothing staged: the
    * single-table roll-forward entry into the commit point
    * ([[Commit.run]]), under `handle` or the write lock this thread
    * holds. A version at or below the pointer is a replay. */
  private[graft] def publishVersion(table: String, version: Int,
                                    handle: Option[LockProvider.Handle] = None): Unit =
    commits.run(Seq(Commit.Publish(table, version)), _ => handle.orElse(held(table)))

  private[kv] def setMetaAttr(table: String, attr: String, value: Any): Unit = {
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
    def f(field: String): JsonNode = metaField(m, name, field)
    val row = Row(name, f("primary").asText(), f("isTransactional").asBoolean(),
      f("lockStatus").asText(), f("charset").asText(), f("layout").asText(),
      f("comment").asText(), f("createdAt").asLong(), f("dataVersion").asInt(),
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
  // ------------------------------------------------------------------
  // Index build and maintenance ([[IndexBuild]]) and the driver serving
  // paths ([[Serving]]), reached through these forwards.
  // ------------------------------------------------------------------

  private[kv] lazy val indexBuild = new IndexBuild(this)
  private lazy val serving = new Serving(this)

  private[kv] def rowkeyType(table: String): DataType =
    schemaOf(table)(primaryKeyOf(table).head).dataType

  /** A registered index's [[IndexStack]] at the published table
    * version — what every index view and serving read resolves. */
  private[kv] def liveStack(table: String, indexName: String,
                            indexType: String): IndexStack = {
    val dir = indexDir(table, indexName, indexType)
    require(Files.exists(dir), s"$table $indexName $indexType not exists")
    IndexStack.at(dir, dataVersionOf(table))
  }

  def createIndex(table: String, indexName: String, indexType: String,
                  cols: Seq[String], analyzer: String = "standard",
                  graph: Boolean = false, graphM: Int = 8): Unit =
    indexBuild.createIndex(table, indexName, indexType, cols, analyzer, graph, graphM)
  def refreshIndex(table: String, indexName: String, indexType: String): Unit =
    indexBuild.refreshIndex(table, indexName, indexType)
  def dropIndex(table: String, indexName: String, indexType: String): Unit =
    indexBuild.dropIndex(table, indexName, indexType)
  def compactIndex(table: String, indexName: String, indexType: String): Unit =
    indexBuild.compactIndex(table, indexName, indexType)
  def buildVectorGraph(table: String, indexName: String, m: Int = 8): Unit =
    indexBuild.buildVectorGraph(table, indexName, m)
  def indexData(table: String, indexName: String, indexType: String): DataFrame =
    indexBuild.indexData(table, indexName, indexType)
  def indexDictionary(table: String, indexName: String, indexType: String): DataFrame =
    indexBuild.indexDictionary(table, indexName, indexType)
  def indexPositional(table: String, indexName: String, indexType: String): DataFrame =
    indexBuild.indexPositional(table, indexName, indexType)
  def vectorIndexView(table: String, indexName: String)
      : (DataFrame, DataFrame, graft.similarity.VectorIndex.VMeta) =
    indexBuild.vectorIndexView(table, indexName)
  def vectorGraphView(table: String, indexName: String): (DataFrame, DataFrame) =
    indexBuild.vectorGraphView(table, indexName)

  def driverPointGet(name: String, key: Any*): Seq[Row] = driverMultiGet(name, Seq(key.toSeq))
  def driverMultiGet(name: String, keys: Seq[Seq[Any]]): Seq[Row] =
    serving.driverMultiGet(name, keys)
  def driverRangeScan(name: String, lo: Any, hi: Any, maxRows: Int = 10000,
                      keyCol: Option[String] = None): Seq[Row] =
    serving.driverRangeScan(name, lo, hi, maxRows, keyCol)
  def driverIndexGet(table: String, indexName: String, values: Seq[Any]): Seq[Row] =
    serving.driverIndexGet(table, indexName, values)
  def driverFtSearch(table: String, indexName: String, terms: Seq[String],
                     maxPostings: Int = 100000): Seq[Any] =
    serving.driverFtBoolean(table, indexName, terms, requireAll = true, maxPostings)
  def driverFtSearchAny(table: String, indexName: String, terms: Seq[String],
                        maxPostings: Int = 100000): Seq[Any] =
    serving.driverFtBoolean(table, indexName, terms, requireAll = false, maxPostings)
  def driverFtPrefix(table: String, indexName: String, prefix: String,
                     maxPostings: Int = 100000): Seq[Any] =
    serving.driverFtPrefix(table, indexName, prefix, maxPostings)
  def driverFtFuzzy(table: String, indexName: String, term: String,
                    maxEdits: Int = 1, maxPostings: Int = 100000): Seq[Any] =
    driverFtFuzzyStats(table, indexName, term, maxEdits, maxPostings)._1
  private[graft] def driverFtFuzzyStats(table: String, indexName: String, term: String,
                                        maxEdits: Int, maxPostings: Int): (Seq[Any], Int) =
    serving.driverFtFuzzyStats(table, indexName, term, maxEdits, maxPostings)
  def driverFtPhrase(table: String, indexName: String, phrase: String,
                     maxPostings: Int = 100000): Seq[Any] =
    serving.driverFtPhrase(table, indexName, phrase, maxPostings)
  def driverFtSnippet(table: String, indexName: String, term: String,
                      before: Int = 3, after: Int = 4,
                      maxPostings: Int = 100000): Seq[(Any, Int, Long, String)] =
    serving.driverFtSnippet(table, indexName, term, before, after, maxPostings)
  def driverBitmapIds(table: String, indexName: String, value: Any,
                      maxIds: Int = 100000): Seq[Long] =
    serving.driverBitmapIds(table, indexName, value, maxIds)
  def driverBitmapRangeIds(table: String, indexName: String, lo: Any, hi: Any,
                           maxIds: Int = 100000): Seq[Long] =
    serving.driverBitmapRangeIds(table, indexName, lo, hi, maxIds)
  def driverAnnTopK(table: String, indexName: String, query: Seq[Double], k: Int,
                    nprobe: Int = 4, exclude: Option[Any] = None,
                    maxEntries: Int = 100000): Seq[(Any, Double)] =
    driverAnnTopKStats(table, indexName, query, k, nprobe, exclude, maxEntries)._1
  def driverAnnTopKBatch(table: String, indexName: String,
                         queries: Seq[(Seq[Double], Option[Any])], k: Int,
                         nprobe: Int = 4, maxEntries: Int = 100000): Seq[Seq[(Any, Double)]] =
    serving.driverAnnTopKBatch(table, indexName, queries, k, nprobe, maxEntries).map(_._1)
  private[graft] def driverAnnTopKStats(table: String, indexName: String,
                                        query: Seq[Double], k: Int, nprobe: Int,
                                        exclude: Option[Any], maxEntries: Int)
      : (Seq[(Any, Double)], Int) =
    serving.driverAnnTopKBatch(table, indexName, Seq((query, exclude)), k, nprobe,
      maxEntries).head
  def driverFtTopK(table: String, indexName: String, terms: Seq[String], k: Int,
                   k1: Double = 1.2, b: Double = 0.75, seedBlocks: Int = 4,
                   maxPostings: Int = 100000): Seq[(Any, Double)] =
    driverFtTopKStats(table, indexName, terms, k, k1, b, seedBlocks, maxPostings)._1
  private[graft] def driverFtTopKStats(table: String, indexName: String,
                                       terms: Seq[String], k: Int, k1: Double,
                                       b: Double, seedBlocks: Int, maxPostings: Int)
      : (Seq[(Any, Double)], Int, Int) =
    serving.driverFtTopKStats(table, indexName, terms, k, k1, b, seedBlocks, maxPostings)
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
