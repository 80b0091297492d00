package graft.kv

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** Rowkey-addressed table semantics, Spark-native.
  *
  * The reference models every table as an HBase rowkey space and
  * pushes Get/Scan/Filter to region servers (reference:
  * HBaseTable.kt:24-52, HBaseFilterableTable.kt:31,
  * HBaseModifiableTable.kt:283 `translateMatch2` — `=, <, <=, >, >=`
  * on the rowkey → `RowFilter`, on columns → `SingleColumnValueFilter`,
  * conjunctions via `FilterList(MUST_PASS_ALL)`).
  *
  * Spark-first equivalent: the table is parquet laid out sorted by its
  * primary key; every access below is a declarative filter, so Catalyst
  * pushes it into the scan (`PushedFilters`) and parquet row-group
  * min/max stats prune I/O the way region pruning does in HBase. At
  * 100 TB the layout contract (sorted/bucketed by rowkey) is what makes
  * pointGet/rangeScan touch O(1) of the files instead of all of them —
  * see `KvLayout.writeSorted`.
  *
  * DML follows the bulk copy-on-write model (BASELINE.json
  * `spark_approach`: "Bulk read/write via HBase connector"): each
  * mutation returns the post-image DataFrame; persisting it is a bulk
  * parquet write. There is no row-at-a-time OLTP path, by design.
  */
final case class KvTable(df: DataFrame, keyCols: Seq[String]) {
  private def key: Column = col(keyCols.head)

  /** Composite-rowkey equality: the rowkey is the FULL concatenated
    * primary key (reference HBaseModifiableTable.kt:283-352 rowkey
    * filters on the concatenated key), so a point get on an n-column
    * key is a conjunction of n equalities — every one pushed to the
    * parquet scan. */
  private def eqKey(ks: Seq[Any]): Column = {
    require(ks.length == keyCols.length,
      s"composite key needs ${keyCols.length} values (got ${ks.length})")
    keyCols.zip(ks).map { case (c, v) => col(c) === lit(v) }.reduce(_ && _)
  }

  /** Lexicographic `rowkey >= vals` over a (possibly prefix) tuple,
    * decomposed into per-column AND/OR predicates so parquet row-group
    * min/max stats on the leading key columns still prune — the analog
    * of an HBase region seek on a concatenated-byte start row. An empty
    * suffix compares true (prefix rows are >= their own prefix). */
  private def lexGe(cols: Seq[String], vals: Seq[Any]): Column = vals match {
    case Seq() => lit(true)
    case v +: rest =>
      val c = col(cols.head)
      if (rest.isEmpty) c >= lit(v)
      else (c > lit(v)) || (c === lit(v) && lexGe(cols.tail, rest))
  }

  /** Lexicographic `rowkey < vals` (exclusive stop row, HBase scan
    * semantics). An empty suffix compares false: a row equal to the
    * stop prefix is excluded, exactly like a byte-concatenated stop
    * row. */
  private def lexLt(cols: Seq[String], vals: Seq[Any]): Column = vals match {
    case Seq() => lit(false)
    case v +: rest =>
      val c = col(cols.head)
      if (rest.isEmpty) c < lit(v)
      else (c < lit(v)) || (c === lit(v) && lexLt(cols.tail, rest))
  }

  /** HBase Get: primary-key point lookup over the full (possibly
    * composite) rowkey. */
  def pointGet(ks: Any*): DataFrame = df.filter(eqKey(ks))

  /** HBase multi-Get (reference KVIndexTable.kt:75-84 gets a batch). */
  def multiGet(ks: Seq[Any]): DataFrame = {
    require(keyCols.length == 1,
      "multiGet takes single-column keys; use multiGetComposite")
    df.filter(key.isin(ks: _*))
  }

  /** Batched composite-key multi-Get: OR of full-key conjunctions —
    * still a pushable predicate, never a join. */
  def multiGetComposite(keys: Seq[Seq[Any]]): DataFrame = {
    require(keys.nonEmpty, "multiGetComposite needs at least one key tuple")
    df.filter(keys.map(eqKey).reduce(_ || _))
  }

  /** HBase Scan.setRowPrefixFilter on a string rowkey. */
  def prefixScan(keyCol: String, prefix: String): DataFrame =
    df.filter(col(keyCol).startsWith(prefix))

  /** HBase Scan(startRow, stopRow): [start, stop) like HBase. */
  def rangeScan(start: Any, stopExclusive: Any): DataFrame =
    df.filter(key >= lit(start) && key < lit(stopExclusive))

  /** Composite-rowkey Scan(startRow, stopRow): lexicographic
    * [start, stop) over the concatenated key; start/stop may be key
    * PREFIXES (shorter tuples), matching HBase's byte-prefix start/stop
    * rows — including the EMPTY tuple, which HBase treats as unbounded
    * on both ends (empty start = from table start, empty stop = to
    * table end). The lexLt recursion's empty base is lit(false) — the
    * right answer for an EXHAUSTED prefix (a key equal to the stop
    * prefix is not < it) but the opposite of the empty-stop contract,
    * so unboundedness is decided here at the top level. */
  def rangeScanComposite(start: Seq[Any], stopExclusive: Seq[Any]): DataFrame = {
    require(start.length <= keyCols.length && stopExclusive.length <= keyCols.length,
      s"range tuple longer than the ${keyCols.length}-column key")
    val upper =
      if (stopExclusive.isEmpty) lit(true) else lexLt(keyCols, stopExclusive)
    df.filter(lexGe(keyCols, start) && upper)
  }

  /** HBase Scan.setReversed(true) + setLimit: the newest-first bounded
    * read (the tail of a time- or sequence-keyed table — "latest N
    * orders in the range"), [start, stop) in DESCENDING key order
    * capped at `limit`. Declarative filter + orderBy + limit compiles
    * to a bounded-heap TakeOrderedAndProject over the pruned scan —
    * per-partition heaps of `limit` rows merged on the driver, never
    * a corpus sort (PlanSpec pins the shape). */
  def reverseScan(start: Any, stopExclusive: Any, limit: Int): DataFrame = {
    require(limit > 0, s"limit must be positive, got $limit")
    rangeScan(start, stopExclusive).orderBy(key.desc).limit(limit)
  }

  /** FilterList(MUST_PASS_ALL): conjunction of pushed predicates. */
  def filterScan(preds: Column*): DataFrame =
    preds.foldLeft(df)((acc, p) => acc.filter(p))

  /** INSERT → post-image (duplicate keys allowed, like raw HBase Put
    * with distinct rowkeys is the caller's contract). */
  def insert(rows: DataFrame): KvTable =
    copy(df = df.unionByName(rows))

  /** UPDATE/UPSERT by key → post-image: new rows overlay old ones
    * (HBase Put on an existing rowkey overwrites the cells). */
  def upsert(rows: DataFrame): KvTable = {
    val overlaid = df.join(rows.select(keyCols.map(col): _*), keyCols, "left_anti")
    copy(df = overlaid.unionByName(rows))
  }

  /** Column-wise UPDATE: set `valueCol` = `value` where `pred`. */
  def updateWhere(pred: Column, valueCol: String, value: Column): KvTable =
    copy(df = df.withColumn(valueCol, when(pred, value).otherwise(col(valueCol))))

  /** Batched DELETE by rowkey (reference HBaseModifiableTable.kt:219
    * `removeAll` builds a Delete list). Single-column keys only: on a
    * composite-key table a leading-column filter would silently delete
    * EVERY row sharing that leading value — use [[deleteWhere]] with
    * the full key predicate instead. */
  def delete(ks: Seq[Any]): KvTable = {
    require(keyCols.size == 1,
      s"delete-by-key needs a single-column primary key (got ${keyCols.mkString(",")}); " +
        "use deleteWhere with a full composite-key predicate")
    copy(df = df.filter(!key.isin(ks: _*)))
  }

  /** Deletes only rows where the predicate is TRUE (SQL DELETE
    * semantics — NULL predicate keeps the row). */
  def deleteWhere(pred: Column): KvTable =
    copy(df = df.filter(!(pred <=> lit(true))))
}

object KvLayout {
  /** Persist a table bucketed+sorted by its key into the session
    * catalog. Two tables bucketed the same way join WITHOUT a
    * shuffle (no Exchange in the plan) — at 100 TB this is how
    * repeated fact⋈fact joins on the rowkey amortize their shuffle
    * to zero (asserted in BucketSpec). */
  def writeBucketed(df: org.apache.spark.sql.DataFrame, keyCols: Seq[String],
                    table: String, buckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, keyCols.head, keyCols.tail: _*)
      .sortBy(keyCols.head, keyCols.tail: _*)
      .saveAsTable(table)

  /** Persist a table in rowkey layout: range-partitioned and sorted by
    * key so parquet min/max stats give HBase-region-like pruning for
    * pointGet/rangeScan at scale. Partition count scales with input
    * (AQE coalesces small ones); at 100 TB this is the bulk-load path.
    * A `capture` folds each output file's range-manifest entry inside
    * this same write job (see [[ManifestCapture]]).
    */
  def writeSorted(df: DataFrame, keyCols: Seq[String], path: String, partitions: Int = 0,
                  capture: Option[ManifestCapture] = None): Unit = {
    val cols = keyCols.map(col)
    val sorted = ranged(df, partitions, cols).sortWithinPartitions(cols: _*)
    capture.fold(sorted)(_.instrument(sorted))
      .write.mode("overwrite").parquet(path)
  }

  /** `df` split into `partitions` key ranges (0: as many as AQE
    * coalesces the session's shuffle partitions into). A frame bound
    * for one file is written straight from a single task: a range
    * exchange would add a shuffle stage and, unless one partition was
    * asked for, a sampling pass that re-runs the whole input plan to
    * pick bounds one file does not need.
    * One file is bound when asked for, or when AQE would coalesce the
    * frame into one partition anyway: Catalyst's size estimate (an
    * upper bound without CBO, as filters and joins keep their inputs'
    * sizes) is within the partition size AQE coalesces to. A larger
    * frame keeps the exchange, so its input is still read in
    * parallel. */
  private def ranged(df: DataFrame, partitions: Int, cols: Seq[Column]): DataFrame = {
    val conf = df.sparkSession.sessionState.conf
    lazy val coalescedSize = BigInt(
      if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
        conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
      else conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    val oneFile = partitions <= 1 && conf.adaptiveExecutionEnabled &&
      conf.getConf(SQLConf.COALESCE_PARTITIONS_ENABLED) &&
      df.queryExecution.optimizedPlan.stats.sizeInBytes <= coalescedSize
    if (oneFile) df.coalesce(1)
    else if (partitions > 0) df.repartitionByRange(partitions, cols: _*)
    else df.repartitionByRange(cols: _*)
  }

  /** Z-order layout over TWO numeric key columns: rows cluster by the
    * interleaved-bit value of both keys, so every file's parquet
    * min/max footprint is narrow in BOTH dimensions — a range filter
    * on EITHER column prunes most files, where a lexicographic sort
    * prunes only on the leading column. This is the access-path answer
    * when a table serves point/range reads on two independent keys
    * (the HBase-world equivalent is maintaining a second salted/
    * reversed rowkey table; one z-ordered layout replaces it).
    *
    * Each column is min/max-scaled to 16 bits in one aggregate pass
    * (linear scaling: sufficient for clustering, no rank shuffle), the
    * z-value is a codegen'd 32-term shift/or chain, and the write is
    * the same range-partition + sort-within-partitions as writeSorted,
    * keyed by z. */
  def writeZOrdered(df: DataFrame, colA: String, colB: String,
                    path: String, partitions: Int = 0,
                    capture: Option[ManifestCapture] = None): Unit = {
    import org.apache.spark.sql.functions.{min => fmin, max => fmax}
    // the bounds pass re-runs the input plan but over ONLY the two key
    // columns (column-pruned down to the scan) — cheaper than caching
    // the full post-image just to save a pruned second pass
    val b = df.select(col(colA), col(colB)).agg(
      fmin(col(colA).cast("double")), fmax(col(colA).cast("double")),
      fmin(col(colB).cast("double")), fmax(col(colB).cast("double"))).head()
    if (b.isNullAt(0) || b.isNullAt(2)) {
      // empty (or all-null-key) input: no bounds to scale by — degrade
      // to the plain sorted layout instead of NPEing on the null aggs
      writeSorted(df, Seq(colA, colB), path, partitions, capture)
      return
    }
    def scaled(c: String, lo: Double, hi: Double) = {
      val span = if (hi > lo) hi - lo else 1.0
      least(lit(65535L),
        floor((col(c).cast("double") - lit(lo)) / lit(span) * 65536.0)).cast("long")
    }
    val a16 = scaled(colA, b.getDouble(0), b.getDouble(1))
    val b16 = scaled(colB, b.getDouble(2), b.getDouble(3))
    val z = (0 until 16).map { i =>
      shiftleft(shiftright(a16, i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(b16, i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_.bitwiseOR(_))
    val withZ = df.withColumn("__graft_z", z)
    val sorted = ranged(withZ, partitions, Seq(col("__graft_z")))
      .sortWithinPartitions(col("__graft_z")).drop("__graft_z")
    capture.fold(sorted)(_.instrument(sorted))
      .write.mode("overwrite").parquet(path)
  }
}
