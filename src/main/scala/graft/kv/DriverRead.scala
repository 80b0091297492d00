package graft.kv

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation, DecimalLogicalTypeAnnotation, TimeLogicalTypeAnnotation, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path}
import scala.collection.JavaConverters._

/** Millisecond point reads WITHOUT a Spark job — the analog of the
  * reference's HBase `Get` path (HBaseEnumerator.kt: a point read is
  * a client-side cursor over one region block, never a cluster scan;
  * KVIndexTable.kt:75-84 builds the Get/multi-Get from the rowkey).
  *
  * Every other read in this engine is a Spark job: right for scans
  * and analytics, but a single-key lookup pays ~100 ms of task
  * scheduling for microseconds of work. This path serves the lookup
  * entirely on the calling thread from the SAME snapshot files a
  * Spark read would use, in three pruning layers, exactly the layers
  * an HBase Get descends (region → block index → block):
  *
  *   1. file-level: the snapshot's range manifest (`_graft_ranges
  *      .json`, written with every snapshot) keyed on the
  *      leading primary-key column — zero data I/O. When the
  *      manifest is missing or stale, per-file parquet FOOTER
  *      min/max statistics stand in (one footer read per file,
  *      cached per (path, size, mtime) for the process lifetime —
  *      the client-side analog of HBase's block-index cache).
  *   2. row-group / page-level: the key predicate is handed to
  *      parquet-hadoop as a FilterPredicate, so row-group
  *      statistics, dictionary pages and column indexes prune
  *      before any record assembly.
  *   3. record-level: the same predicate filters the few surviving
  *      records; composite keys AND their column predicates, a
  *      multi-get ORs the per-key predicates into one pass.
  *
  * This object never touches a SparkSession — a caller that only
  * ever does point reads schedules no job at all. At 100 TB the
  * manifest is ~800k entries (one JSON read), the footer cache only
  * ever fills for files the manifest could not exclude, and each Get
  * touches one or two row groups — the same I/O an HBase Get does.
  *
  * Scope: the serving-path complement of the analytic engine, not a
  * replacement for scans — anything that reads more than a bounded
  * key set belongs on the Spark path where 1000 executors help.
  */
private[kv] object DriverRead {

  /** Per-row-group (min,max) of a key column, by the file's identity
    * and the column ([[FileCache]]): COW snapshots never rewrite a file
    * in place, but the same part-file NAME can recur across snapshots.
    * Entries are tiny (~100 B), so the cap is generous; COW churn
    * strands entries for vacuumed snapshots, which age out of the LRU
    * in a serving process that lives for weeks. */
  private val footerRanges = new FileCache[String, Seq[(Any, Any)]](65536)

  /** Cold footer opens, counted for the scale pin (DriverGetSpec):
    * a manifest-served range scan must not fall back to O(files)
    * footer metadata I/O on a cold process. Cache hits don't count —
    * the pin is about physical reads. */
  private[graft] val footerReadCount = new java.util.concurrent.atomic.AtomicLong(0)

  /** Files vetoed by the manifest's per-file rowkey Bloom BEFORE any
    * footer read (the HBase StoreFile-bloom miss path) — the pruning
    * observable DriverGetSpec pins. */
  private[graft] val bloomSkipCount = new java.util.concurrent.atomic.AtomicLong(0)

  /** The driver-side replica of the bloom build's base hash — Spark's
    * `xxhash64(keyCol)` (seed 42), evaluated through the same Catalyst
    * function object the expression uses, on the value coerced to the
    * DECLARED column type. */
  private def bloomBaseHash(dt: DataType, v: Any): Long = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    dt match {
      case LongType => XxHash64Function.hash(
        java.lang.Long.valueOf(v.asInstanceOf[Number].longValue()), dt, 42L)
      case IntegerType => XxHash64Function.hash(
        java.lang.Integer.valueOf(v.asInstanceOf[Number].intValue()), dt, 42L)
      case StringType => XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          v.asInstanceOf[String]), dt, 42L)
      case other => throw new IllegalArgumentException(
        s"no manifest bloom for key type $other")
    }
  }

  /** Leading-key (min,max) per row group from the file footer,
    * canonicalized to Long/Double/String like the manifest's bounds.
    * Null bounds (no stats / all-null pages) mean "cannot exclude". */
  private def rowGroupRanges(file: Path, keyCol: String): Seq[(Any, Any)] = {
    footerRanges.get(file, keyCol) {
      footerReadCount.incrementAndGet()
      val in = HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toUri), new Configuration())
      val reader = ParquetFileReader.open(in)
      try {
        reader.getFooter.getBlocks.asScala.toSeq.map { block =>
          block.getColumns.asScala
            .find(_.getPath.toDotString == keyCol)
            .map { cc =>
              val st = cc.getStatistics
              if (st == null || !st.hasNonNullValue) (null, null)
              else (canonStat(st.genericGetMin), canonStat(st.genericGetMax))
            }.getOrElse((null, null))
        }
      } finally reader.close()
    }
  }

  private def canonStat(x: Any): Any = x match {
    case null => null
    case b: Binary => b.toStringUsingUTF8
    case n: java.lang.Integer => java.lang.Long.valueOf(n.longValue())
    case n: java.lang.Long => n
    case n: java.lang.Float => java.lang.Double.valueOf(n.doubleValue())
    case n: java.lang.Double => n
    case other => other
  }

  /** Canonical comparable form, driven by the DECLARED column type so
    * a key whose runtime class merely widens (Long literal against a
    * DoubleType column) lands in the same class as the manifest/footer
    * bounds (Long/Double/String — the same canonical set
    * ManifestCapture.canonKey emits when writing the manifest; the manifest's
    * JSON round-trip preserves integral-vs-floating, so both sides
    * stay aligned per column type). Mismatched kinds fail loudly
    * instead of class-cast-crashing inside a comparison. */
  private def canon(dt: DataType, x: Any): Any = (dt, x) match {
    case (_, null) => null
    case (LongType | IntegerType | ShortType | ByteType, n: Number) =>
      // a fractional value silently truncated here (5.5 → 5) would
      // MATCH rows the equivalent Spark filter (col === 5.5) excludes
      // — fail loudly like any other type mismatch instead
      if (n.doubleValue() != n.longValue())
        throw new IllegalArgumentException(
          s"non-integral key value $n does not match column type $dt")
      else java.lang.Long.valueOf(n.longValue())
    case (DoubleType | FloatType, n: Number) =>
      java.lang.Double.valueOf(n.doubleValue())
    case (StringType, s: String) => s
    case (t, other) => throw new IllegalArgumentException(
      s"key value $other (${other.getClass.getSimpleName}) does not match column type $t")
  }

  /** Whether a (non-null) key value can exist at all in a column of
    * the declared type — int-family columns cannot hold values
    * outside their range, so such keys match nothing by definition. */
  private def representable(dt: DataType, v: Any): Boolean = dt match {
    case IntegerType =>
      val l = v.asInstanceOf[Number].longValue()
      l >= Int.MinValue && l <= Int.MaxValue
    case ShortType =>
      val l = v.asInstanceOf[Number].longValue()
      l >= Short.MinValue && l <= Short.MaxValue
    case ByteType =>
      val l = v.asInstanceOf[Number].longValue()
      l >= Byte.MinValue && l <= Byte.MaxValue
    case _ => true
  }

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: java.lang.Long, y: java.lang.Long) => x.compareTo(y)
    case (x: java.lang.Double, y: java.lang.Double) => x.compareTo(y)
    // unsigned UTF-8 byte order — the order parquet stats, Spark's
    // UTF8String and the manifest's min/max all use. Java's UTF-16
    // compareTo disagrees for supplementary chars vs U+E000..U+FFFF
    // and would falsely prune files there (silent missing rows).
    case (x: String, y: String) => utf8Cmp(x, y)
    case _ => a.asInstanceOf[Comparable[Any]].compareTo(b)
  }

  private def utf8Cmp(a: String, b: String): Int =
    byteCmp(a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def byteCmp(xb: Array[Byte], yb: Array[Byte]): Int = {
    var i = 0
    val n = math.min(xb.length, yb.length)
    while (i < n) {
      val d = (xb(i) & 0xff) - (yb(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    xb.length - yb.length
  }

  /** Pre-encode a fixed-side comparison value: string keys/bounds are
    * compared against EVERY manifest entry and row group (~800k
    * entries at the documented scale), so their UTF-8 encoding is
    * done once here instead of once per comparison. The varying side
    * (a file's bound) is still encoded per comparison — inherent
    * while the manifest stores text. */
  private def prepare(v: Any): Any = v match {
    case s: String => s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    case other => other
  }

  /** cmp where the LEFT side may be a pre-encoded string. */
  private def cmpPrep(prepped: Any, other: Any): Int = (prepped, other) match {
    case (a: Array[Byte], b: String) =>
      byteCmp(a, b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    case _ => cmp(prepped, other)
  }

  /** True iff some canonicalized key falls in [lo,hi]; null bounds
    * never exclude. `keys` are [[prepare]]d (string keys pre-encoded). */
  private def anyKeyIn(lo: Any, hi: Any, keys: Seq[Any]): Boolean =
    lo == null || hi == null ||
      keys.exists(k => cmpPrep(k, lo) >= 0 && cmpPrep(k, hi) <= 0)

  /** OR of `ps` as a BALANCED tree, depth ⌈log2 n⌉: parquet-hadoop
    * visits and rewrites filter trees recursively, and a left-deep
    * fold of a few thousand keys or doc ranges overflows the stack. */
  private def orAll(ps: IndexedSeq[FilterPredicate]): FilterPredicate =
    if (ps.length == 1) ps.head
    else {
      val (l, r) = ps.splitAt(ps.length / 2)
      FilterApi.or(orAll(l), orAll(r))
    }

  /** The filter handed to parquet-hadoop: OR over keys of AND over
    * the key columns — row-group stats, dictionaries and column
    * indexes all evaluate it before record assembly. */
  private def keyPredicate(schema: StructType, pk: Seq[String],
                           keys: Seq[Seq[Any]]): FilterPredicate = {
    def eqPred(colName: String, v: Any): FilterPredicate = {
      require(v != null, s"primary key $colName may not be null in a get")
      schema(colName).dataType match {
        case LongType => FilterApi.eq(FilterApi.longColumn(colName),
          java.lang.Long.valueOf(v.asInstanceOf[Number].longValue()))
        case IntegerType | ShortType | ByteType =>
          FilterApi.eq(FilterApi.intColumn(colName),
            java.lang.Integer.valueOf(v.asInstanceOf[Number].intValue()))
        case StringType => FilterApi.eq(FilterApi.binaryColumn(colName),
          Binary.fromString(v.asInstanceOf[String]))
        case DoubleType => FilterApi.eq(FilterApi.doubleColumn(colName),
          java.lang.Double.valueOf(v.asInstanceOf[Number].doubleValue()))
        case FloatType => FilterApi.eq(FilterApi.floatColumn(colName),
          java.lang.Float.valueOf(v.asInstanceOf[Number].floatValue()))
        case other => throw new IllegalArgumentException(
          s"driver get supports long/int/string/double/float keys; $colName is $other")
      }
    }
    orAll(keys.toIndexedSeq.map { k =>
      pk.zip(k).map { case (c, v) => eqPred(c, v) }
        .reduce(FilterApi.and)
    })
  }

  /** Bounded range scan over one snapshot directory — the HBase
    * `Scan(startRow, stopRow)` serving primitive, driver-side. Both
    * bounds inclusive, on the LEADING key column (the rowkey-order
    * dimension; HBase scans bound the same way). `maxRows` is the
    * serving contract: a range that matches more rows than a client
    * would page through belongs on the Spark path, so exceeding it
    * throws rather than silently truncating. */
  def range(snapshotDir: Path, schema: StructType, keyCol: String,
            lo: Any, hi: Any, maxRows: Int,
            fileRanges: Seq[FileRange]): Seq[Row] = {
    require(lo != null && hi != null, "range bounds may not be null")
    val dt = schema(keyCol).dataType
    val (cLo, cHi) = (canon(dt, lo), canon(dt, hi))
    require(cmp(cLo, cHi) <= 0, s"empty range: $lo > $hi")
    val (pLo, pHi) = (prepare(cLo), prepare(cHi))
    def overlaps(flo: Any, fhi: Any): Boolean =
      flo == null || fhi == null ||
        (cmpPrep(pLo, fhi) <= 0 && cmpPrep(pHi, flo) >= 0)
    val files = pruned(snapshotDir, fileRanges)(r => overlaps(r.lo, r.hi))
    val filter = FilterCompat.get(rangePredicate(schema, keyCol, lo, hi))
    val out = Seq.newBuilder[Row]
    var n = 0
    files.foreach { file =>
      if (rowGroupRanges(file, keyCol).exists(r => overlaps(r._1, r._2))) {
        val rows = readMatching(file, schema, filter)
        n += rows.length
        require(n <= maxRows,
          s"range matched more than $maxRows rows — use the Spark scan path")
        out ++= rows
      }
    }
    out.result()
  }

  /** lo <= col <= hi as a parquet FilterPredicate (row-group stats +
    * column indexes evaluate it before record assembly). */
  private def rangePredicate(schema: StructType, colName: String,
                             lo: Any, hi: Any): FilterPredicate = {
    schema(colName).dataType match {
      case LongType =>
        val c = FilterApi.longColumn(colName)
        FilterApi.and(
          FilterApi.gtEq(c, java.lang.Long.valueOf(lo.asInstanceOf[Number].longValue())),
          FilterApi.ltEq(c, java.lang.Long.valueOf(hi.asInstanceOf[Number].longValue())))
      case IntegerType | ShortType | ByteType =>
        // CLAMP, never truncate: intValue() on a Long bound past the
        // int range wraps (0..Long.MaxValue would become k <= -1 and
        // silently drop every row); the clamped predicate is
        // semantics-preserving because no int column value lies
        // outside [Int.MinValue, Int.MaxValue]
        val c = FilterApi.intColumn(colName)
        val loI = math.max(lo.asInstanceOf[Number].longValue(),
          Int.MinValue.toLong).toInt
        val hiI = math.min(hi.asInstanceOf[Number].longValue(),
          Int.MaxValue.toLong).toInt
        if (loI > hiI) // entire range outside int space: match nothing
          FilterApi.and(
            FilterApi.gtEq(c, java.lang.Integer.valueOf(Int.MaxValue)),
            FilterApi.ltEq(c, java.lang.Integer.valueOf(Int.MinValue)))
        else FilterApi.and(
          FilterApi.gtEq(c, java.lang.Integer.valueOf(loI)),
          FilterApi.ltEq(c, java.lang.Integer.valueOf(hiI)))
      case StringType =>
        // parquet-hadoop evaluates Binary range filters with the
        // column's logical-type comparator — UNSIGNED lexicographic
        // for UTF8 — the same order as the footer statistics, the
        // manifest bounds and utf8Cmp, so arbitrary (incl. non-ASCII)
        // string bounds are served exactly
        val c = FilterApi.binaryColumn(colName)
        FilterApi.and(
          FilterApi.gtEq(c, Binary.fromString(lo.asInstanceOf[String])),
          FilterApi.ltEq(c, Binary.fromString(hi.asInstanceOf[String])))
      case FloatType =>
        // floatValue() rounds to NEAREST: a double bound strictly
        // between two floats can round down (lo) or up (hi), widening
        // the float predicate beyond the requested double range —
        // file/row-group pruning compares in double space, so only
        // this record-level filter would diverge from the Spark
        // path's double-promoted comparison. Nudge outward-rounded
        // bounds back inside the requested range.
        val loD = lo.asInstanceOf[Number].doubleValue()
        val hiD = hi.asInstanceOf[Number].doubleValue()
        val loF0 = loD.toFloat
        val loF = if (loF0.toDouble < loD) Math.nextUp(loF0) else loF0
        val hiF0 = hiD.toFloat
        val hiF = if (hiF0.toDouble > hiD) Math.nextDown(hiF0) else hiF0
        val c = FilterApi.floatColumn(colName)
        FilterApi.and(
          FilterApi.gtEq(c, java.lang.Float.valueOf(loF)),
          FilterApi.ltEq(c, java.lang.Float.valueOf(hiF)))
      case DoubleType =>
        val c = FilterApi.doubleColumn(colName)
        FilterApi.and(
          FilterApi.gtEq(c, java.lang.Double.valueOf(lo.asInstanceOf[Number].doubleValue())),
          FilterApi.ltEq(c, java.lang.Double.valueOf(hi.asInstanceOf[Number].doubleValue())))
      case other => throw new IllegalArgumentException(
        s"driver range scan supports long/int/string/double/float keys; $colName is $other")
    }
  }

  /** The files of `dir` a read must open: the manifest entries `keep`
    * admits when `fileRanges` covers exactly the dir's part files, else
    * every part file (footer statistics then stand in). */
  private def pruned(dir: Path, fileRanges: Seq[FileRange])
                    (keep: FileRange => Boolean): Seq[Path] = {
    val parts = ManifestCapture.partFiles(dir)
    if (fileRanges.nonEmpty && fileRanges.map(_.file).toSet == parts.toSet)
      fileRanges.filter(keep).map(r => dir.resolve(r.file))
    else parts.map(dir.resolve)
  }

  /** Point/multi-get over one snapshot directory. `fileRanges` is the
    * snapshot's manifest ([[Manifest.read]]: leading-key bounds,
    * canonicalized, and per-file blooms); pass Nil to fall back to
    * footer statistics for every file. Returns rows in table-schema
    * order, unordered across keys (callers sort). */
  def get(snapshotDir: Path, schema: StructType, pk: Seq[String],
          keys: Seq[Seq[Any]],
          fileRanges: Seq[FileRange]): Seq[Row] = {
    require(keys.nonEmpty && keys.forall(_.length == pk.length),
      s"each get key must bind the full primary key ${pk.mkString(",")}")
    // a key value outside its int-family column's range can never
    // match a stored row — drop it up front rather than let
    // intValue()'s wraparound alias it onto a DIFFERENT key
    // (4294967297L would silently match int key 1)
    val usable = keys.filter(k => pk.zip(k).forall { case (c, v) =>
      representable(schema(c).dataType, v) })
    if (usable.isEmpty) return Nil
    val leadKeys = usable.map(k =>
      prepare(canon(schema(pk.head).dataType, k.head)))
    // per-file rowkey blooms and the keys' base hashes for their
    // probe (HBase's StoreFile-bloom miss path): hashed once per get,
    // only when the manifest carries blooms at all
    val blooms = fileRanges.iterator.flatMap(r => r.bloom.map(r.file -> _)).toMap
    val leadHashes: Seq[Long] =
      if (blooms.isEmpty) Nil
      else usable.map(k => bloomBaseHash(schema(pk.head).dataType, k.head))
    val files = pruned(snapshotDir, fileRanges)(r => anyKeyIn(r.lo, r.hi, leadKeys))
    val filter = FilterCompat.get(keyPredicate(schema, pk, usable))
    files.flatMap { file =>
      // per-file bloom veto BEFORE the footer: a key set that misses
      // the file's bloom cannot match any stored row — zero I/O on
      // the file, not even its footer (a false positive only costs
      // the footer read the bloom tried to save)
      val vetoed = leadHashes.nonEmpty &&
        blooms.get(file.getFileName.toString).exists { bits =>
          val possible = leadHashes.exists(BloomBits.mightContain(bits, _))
          if (!possible) bloomSkipCount.incrementAndGet(): Unit
          !possible
        }
      if (vetoed) Nil
      // footer row-group pruning: skip the whole file when no row
      // group's leading-key range can hold any requested key
      else if (!rowGroupRanges(file, pk.head).exists(r => anyKeyIn(r._1, r._2, leadKeys))) Nil
      else readMatching(file, schema, filter)
    }
  }

  /** Term seek RESTRICTED to doc-id ranges — the block-max WAND read
    * shape (Serving.driverFtTopK): `term IN terms AND doc_id ∈ one of
    * ranges`, handed to parquet-hadoop whole. On postings sorted
    * (term, doc_id) the term predicate prunes row groups like [[get]]
    * and the doc ranges prune PAGES through the column index — the
    * I/O-level form of "pruned blocks are never read". Empty `ranges`
    * means no doc restriction (plain multi-term seek). Bounds are
    * inclusive block bounds in LONG space; int-typed doc columns clamp
    * like [[range]]. */
  def getTermsInDocRanges(snapshotDir: Path, schema: StructType,
                          terms: Seq[String], ranges: Seq[(Long, Long)],
                          fileRanges: Seq[FileRange]): Seq[Row] = {
    require(terms.nonEmpty, "empty term list")
    val termPred = orAll(terms.toIndexedSeq.map(t =>
      FilterApi.eq(FilterApi.binaryColumn("term"),
        Binary.fromString(t)): FilterPredicate))
    val pred =
      if (ranges.isEmpty) termPred
      else FilterApi.and(termPred,
        orAll(ranges.toIndexedSeq.map { case (lo, hi) =>
          rangePredicate(schema, "doc_id", lo, hi) }))
    val filter = FilterCompat.get(pred)
    val leadKeys = terms.map(t => prepare(t))
    pruned(snapshotDir, fileRanges)(r => anyKeyIn(r.lo, r.hi, leadKeys)).flatMap { file =>
      if (!rowGroupRanges(file, "term").exists(r => anyKeyIn(r._1, r._2, leadKeys))) Nil
      else readMatching(file, schema, filter)
    }
  }

  /** Decoded rows of WHOLE-FILE artifact reads by the file's identity
    * and read schema ([[FileCache]] — the serving-process analog of
    * HBase's block cache): a serving loop between compactions re-reads
    * the same COW artifact files (CDC segments, tombstone sets,
    * dictionary deltas, centroid tables) on every call, and the decode
    * — parquet-mr Group assembly — is the dominant per-call cost.
    * Bounded by TOTAL CACHED ROWS (entries are patch-sized by the
    * readAll contract, so the row bound is the memory bound); only
    * NOOP-filtered whole-file reads cache — predicate reads
    * ([[get]]/[[range]]) are genuinely selective and stay uncached. */
  private val fileRows =
    new FileCache[StructType, Seq[Row]](2L * 1024 * 1024, _.length.toLong)

  /** Unfiltered read of a PATCH-SIZED artifact dir (tombstone rk
    * sets, dictionary deltas — frames bounded by the CDC trigger, not
    * the corpus) on the calling thread. `maxRows` is the serving
    * contract: exceeding it means the artifact is not patch-sized and
    * the caller belongs on the Spark path — fail loudly. */
  def readAll(snapshotDir: Path, schema: StructType, maxRows: Int): Seq[Row] = {
    val out = Seq.newBuilder[Row]
    var n = 0
    ManifestCapture.partFiles(snapshotDir).map(snapshotDir.resolve).foreach { file =>
      val rows = fileRows.get(file, schema)(readMatching(file, schema, FilterCompat.NOOP))
      n += rows.length
      require(n <= maxRows,
        s"artifact dir $snapshotDir holds more than $maxRows rows — " +
          "not patch-sized; use the Spark path")
      out ++= rows
    }
    out.result()
  }

  private def readMatching(file: Path, schema: StructType,
                           filter: FilterCompat.Filter): Seq[Row] = {
    val reader: ParquetReader[Group] = ParquetReader
      .builder(new GroupReadSupport(),
        new org.apache.hadoop.fs.Path(file.toUri))
      .withConf(new Configuration())
      .withFilter(filter)
      .build()
    try {
      val out = Seq.newBuilder[Row]
      var g = reader.read()
      while (g != null) {
        out += toRow(g, schema)
        g = reader.read()
      }
      out.result()
    } finally reader.close()
  }

  /** Group → external Row per the TABLE schema (the values
    * spark.createDataFrame expects: java.sql types for date/time,
    * java BigDecimal for decimals). */
  private def toRow(g: Group, schema: StructType): Row = {
    val fileType = g.getType
    val vals = schema.fields.map { f =>
      if (!fileType.containsField(f.name)) null
      else {
        val idx = fileType.getFieldIndex(f.name)
        if (g.getFieldRepetitionCount(idx) == 0) null
        else readValue(g, idx, f)
      }
    }
    Row.fromSeq(vals.toSeq)
  }

  private def readValue(g: Group, idx: Int, f: StructField): Any = {
    // arrays (the vector index's centroid/embedding columns) ride
    // parquet's 3-level LIST shape — a group, not a primitive; every
    // scalar type below stays on the primitive path
    f.dataType match {
      case at: ArrayType if !g.getType.getType(idx).isPrimitive =>
        return readArray(g.getGroup(idx, 0), at, f.name)
      case _ => ()
    }
    val pt = g.getType.getType(idx).asPrimitiveType()
    val logical: LogicalTypeAnnotation = pt.getLogicalTypeAnnotation
    (f.dataType, pt.getPrimitiveTypeName) match {
      case (LongType, _) => g.getLong(idx, 0)
      case (IntegerType, _) => g.getInteger(idx, 0)
      case (ShortType, _) => g.getInteger(idx, 0).toShort
      case (ByteType, _) => g.getInteger(idx, 0).toByte
      case (DoubleType, _) => g.getDouble(idx, 0)
      case (FloatType, _) => g.getFloat(idx, 0)
      case (BooleanType, _) => g.getBoolean(idx, 0)
      case (StringType, _) => g.getString(idx, 0)
      case (BinaryType, _) => g.getBinary(idx, 0).getBytes
      case (DateType, _) =>
        logical match {
          case _: DateLogicalTypeAnnotation =>
            java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(g.getInteger(idx, 0).toLong))
          case other => throw new IllegalArgumentException(
            s"${f.name}: date column backed by unexpected parquet type $other")
        }
      // ANSI intervals (reference HBaseTable.kt:253-296 declares
      // INTERVAL-family codecs): Spark stores YearMonthIntervalType
      // as INT32 months and DayTimeIntervalType as INT64 micros with
      // no logical annotation; Row values surface as java.time types
      // exactly like the Spark read path
      case (_: YearMonthIntervalType, PrimitiveTypeName.INT32) =>
        java.time.Period.ofMonths(g.getInteger(idx, 0)).normalized()
      case (_: DayTimeIntervalType, PrimitiveTypeName.INT64) =>
        java.time.Duration.of(g.getLong(idx, 0), java.time.temporal.ChronoUnit.MICROS)
      // TIME (reference HBaseTable.kt:274 declares a TIME codec —
      // the last enumerated reference type): Spark's TimeType rides
      // parquet as INT64 with a TIME(MICROS) annotation; Row values
      // surface as java.time.LocalTime like the Spark read path
      case (_: TimeType, PrimitiveTypeName.INT64) =>
        val nanos = logical match {
          case t: TimeLogicalTypeAnnotation
            if t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS =>
            Math.multiplyExact(g.getLong(idx, 0), 1000L)
          case t: TimeLogicalTypeAnnotation
            if t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS =>
            g.getLong(idx, 0)
          case other => throw new IllegalArgumentException(
            s"${f.name}: TIME column backed by unexpected parquet annotation $other")
        }
        java.time.LocalTime.ofNanoOfDay(nanos)
      case (TimestampType, ptn) =>
        val micros: Long = (logical, ptn) match {
          case (ts: TimestampLogicalTypeAnnotation, PrimitiveTypeName.INT64) =>
            val raw = g.getLong(idx, 0)
            ts.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MILLIS => raw * 1000L
              case LogicalTypeAnnotation.TimeUnit.MICROS => raw
              // floorDiv, not truncating /: pre-epoch nanos must
              // round toward negative infinity the way Spark's
              // DateTimeUtils converts them, or the decode lands one
              // microsecond high of the Spark-path value
              case LogicalTypeAnnotation.TimeUnit.NANOS =>
                Math.floorDiv(raw, 1000L)
            }
          case (_, PrimitiveTypeName.INT96) =>
            // Spark's default on-disk timestamp: 12 bytes little-endian
            // — nanos-of-day (8) + Julian day (4); 2440588 = Julian day
            // of the Unix epoch
            val buf = java.nio.ByteBuffer.wrap(g.getInt96(idx, 0).getBytes)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            val nanosOfDay = buf.getLong
            val julianDay = buf.getInt
            (julianDay - 2440588).toLong * 86400000000L + nanosOfDay / 1000L
          case other => throw new IllegalArgumentException(
            s"${f.name}: timestamp column backed by unexpected parquet type $other")
        }
        val t = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
        t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
        t
      case (dt: DecimalType, ptn) =>
        val scale = logical match {
          case d: DecimalLogicalTypeAnnotation => d.getScale
          case _ => dt.scale
        }
        val unscaled = ptn match {
          case PrimitiveTypeName.INT32 => BigInt(g.getInteger(idx, 0))
          case PrimitiveTypeName.INT64 => BigInt(g.getLong(idx, 0))
          case PrimitiveTypeName.BINARY | PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY =>
            BigInt(g.getBinary(idx, 0).getBytes)
          case other => throw new IllegalArgumentException(
            s"${f.name}: decimal backed by unexpected parquet type $other")
        }
        new java.math.BigDecimal(unscaled.bigInteger, scale)
      case (other, _) => throw new IllegalArgumentException(
        s"driver get does not read ${f.name}: $other columns (use the Spark path)")
    }
  }

  /** Spark's 3-level parquet LIST (`optional group col (LIST) {
    * repeated group list { optional <t> element } }`) → Seq of the
    * element type — what the vector-serving path needs for centroid
    * (array<double>) and embedding (array<float>) columns. Null
    * elements surface as null, like the Spark read. */
  private def readArray(outer: Group, at: ArrayType, name: String): Seq[Any] = {
    val n = outer.getFieldRepetitionCount(0)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val entry = outer.getGroup(0, i)
      out(i) =
        if (entry.getFieldRepetitionCount(0) == 0) null
        else at.elementType match {
          case DoubleType => entry.getDouble(0, 0)
          case FloatType => entry.getFloat(0, 0)
          case LongType => entry.getLong(0, 0)
          case IntegerType => entry.getInteger(0, 0)
          case StringType => entry.getString(0, 0)
          case BooleanType => entry.getBoolean(0, 0)
          case other => throw new IllegalArgumentException(
            s"driver get does not read $name: array<$other> columns " +
              "(use the Spark path)")
        }
      i += 1
    }
    out.toSeq
  }
}

/** THE driver-side cache of values derived from one file's bytes —
  * parsed range manifests ([[Manifest]]), footer row-group ranges and
  * decoded artifact rows ([[DriverRead]]). Keyed by the file's identity
  * (absolute path, size, mtime) plus `D`, what the value was derived
  * under (a key column, a read schema): COW dirs never rewrite a file
  * in place, so a rewrite or a vacuum changes the identity and the old
  * entry is simply never hit again. Access-ordered LRU bounded by the
  * total `weight` of the cached values (one per entry by default); the
  * entry just loaded is never evicted by its own insert. A load runs
  * outside the lock, so a slow read never blocks another file's hit,
  * and a None load is returned but never cached: absence must not be
  * pinned until the identity changes. */
private[kv] final class FileCache[D, V <: AnyRef](cap: Long,
                                                  weight: V => Long = (_: V) => 1L) {
  private case class Key(path: String, size: Long, mtime: Long, derivedUnder: D)
  private val lru = new java.util.LinkedHashMap[Key, V](64, 0.75f, true)
  private var total = 0L

  def get(f: Path, d: D)(load: => V): V = getOpt(f, d)(Some(load)).get

  def getOpt(f: Path, d: D)(load: => Option[V]): Option[V] = {
    val key = Key(f.toAbsolutePath.toString, Files.size(f),
      Files.getLastModifiedTime(f).toMillis, d)
    val hit = synchronized(lru.get(key))
    if (hit != null) Some(hit)
    else {
      val v = load
      v.foreach(put(key, _))
      v
    }
  }

  private def put(key: Key, v: V): Unit = synchronized {
    if (!lru.containsKey(key)) {
      lru.put(key, v)
      total += weight(v)
      val it = lru.entrySet().iterator()
      while (total > cap && it.hasNext) {
        val eldest = it.next()
        if (eldest.getKey != key) {
          total -= weight(eldest.getValue)
          it.remove()
        }
      }
    }
  }

  /** Drop every cached value of this path — a writer's explicit hook
    * for a rewrite that may keep the path's size and mtime. */
  def invalidate(f: Path): Unit = synchronized {
    val p = f.toAbsolutePath.toString
    val it = lru.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey.path == p) { total -= weight(e.getValue); it.remove() }
    }
  }

  /** Cached entries, for the eviction pin. */
  private[kv] def size: Int = synchronized(lru.size)
}
