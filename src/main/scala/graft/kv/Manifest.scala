package graft.kv

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

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

/** Range manifests of published dirs (table snapshots and kv-index
  * versions): the only writer and reader of `_graft_ranges.json` and
  * its `_graft_blooms_*.bin` sidecars, and the one file-granular
  * rewrite ([[rewrite]]) that merges, kv-index maintenance and
  * compaction publish through. The write job folds new files' entries
  * as it writes them ([[ManifestCapture]]); a dir without a usable
  * manifest heals by one key-column scan ([[ensure]]). */
private[graft] object Manifest {
  private val mapper = new ObjectMapper()

  /** Strings compare in UTF-8 BYTE order, matching how Spark computed
    * file min/max (UTF8String binary order) — java.lang.String
    * compareTo is UTF-16 code-unit order and disagrees for
    * supplementary characters, which would misclassify a file as
    * untouched and duplicate its rows. */
  def keyCmp(a: Any, b: Any): Int = (a, b) match {
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
  def splitByKeyIntersect(entries: Seq[FileRange],
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
    * present. Callers that know the files' schema pass it: schema
    * inference re-reads every footer. */
  def scanRanges(spark: SparkSession, dir: Path, keyCol: String,
                 secondCol: Option[String] = None,
                 schema: Option[StructType] = None): Seq[FileRange] = {
    val scanned = ManifestCapture.scan(spark,
      schema.map(spark.read.schema(_)).getOrElse(spark.read).parquet(dir.toString),
      keyCol, secondCol)
    scanned ++ (ManifestCapture.partFiles(dir).toSet -- scanned.map(_.file)).toSeq.sorted
      .map(f => FileRange(f, null, null))
  }

  /** Run `write` with a fresh [[ManifestCapture]] over `keyCol` (and
    * `secondCol`) of a frame of `schema`, and return the manifest
    * entries of the files it left in `dir`. Scans the dir only when
    * the capture cannot attribute a task's statistics to its file. */
  def captured(spark: SparkSession, dir: Path, schema: StructType, keyCol: String,
               secondCol: Option[String])(write: ManifestCapture => Unit): Seq[FileRange] = {
    val capture = new ManifestCapture(spark, schema, keyCol, secondCol)
    write(capture)
    capture.entries(dir).getOrElse(scanRanges(spark, dir, keyCol, secondCol, Some(schema)))
  }

  private def file(dir: Path): Path = dir.resolve("_graft_ranges.json")

  /** JSON-persistable key types: every snapshot of such a table is
    * published with its manifest; anything else recomputes per merge
    * (correct, one extra key-column scan). */
  def persistable(dt: DataType): Boolean =
    dt match {
      case LongType | IntegerType | ShortType | ByteType |
           DoubleType | FloatType | StringType => true
      case _ => false
    }

  /** Parsed manifests by file identity ([[FileCache]]): a manifest is
    * parsed once per content instead of once per driver get, and with
    * per-key-sized blooms the parse is not trivial. [[write]]
    * invalidates the path explicitly — a same-length rewrite inside one
    * mtime tick on a coarse-clock filesystem would otherwise serve the
    * stale parse. */
  private val cache = new FileCache[Unit, Seq[FileRange]](4096)

  /** Parse a dir's persisted range manifest, if present. Bounds come
    * back canonicalized (Long/Double/String) like canonKey's output.
    * Shared by the merge path and the driver-side get — pure JSON, no
    * Spark.
    *
    * A corrupt manifest reads as ABSENT, never as an error: a damaged
    * or truncated file (disk trouble) makes both consumers fall back
    * to re-deriving ranges (scanRanges here, footer statistics on the
    * driver-get path) and the next merge heals the file. Failing
    * instead would wedge every subsequent merge of the table on a
    * scrap of bookkeeping. */
  def read(dir: Path): Option[Seq[FileRange]] =
    try {
      if (!Files.exists(file(dir))) None
      else cache.getOpt(file(dir), ())(parse(file(dir)))
    } catch {
      // the file can vanish between the existence check and the
      // cache's size/mtime stat (vacuumed snapshot) — absent, not fatal
      case _: java.io.IOException => None
    }

  private def parse(f: Path): Option[Seq[FileRange]] =
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
  def ensure(spark: SparkSession, dir: Path, keyCol: String,
             persistable: Boolean,
             secondCol: Option[String] = None,
             schema: Option[StructType] = None): Seq[FileRange] = {
    if (!persistable) return scanRanges(spark, dir, keyCol, secondCol, schema)
    // a manifest is only trustworthy if it covers exactly the part
    // files present: pruning against a stale manifest would silently
    // DROP the uncovered files from the next snapshot
    val present = ManifestCapture.partFiles(dir).toSet
    read(dir) match {
      case Some(entries) if entries.map(_.file).toSet == present => entries
      case _ =>
        val entries = scanRanges(spark, dir, keyCol, secondCol, schema)
        write(spark, dir, entries)
        entries
    }
  }

  def write(spark: SparkSession, dir: Path, entries: Seq[FileRange]): Unit = {
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
    Files.move(tmp, file(dir),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
    // the rewrite is a new content even when size+mtime tie on a
    // coarse-clock filesystem — drop any cached parse of this path
    cache.invalidate(file(dir))
    // reap superseded sidecars only AFTER the manifest stopped
    // referencing them; a racing lock-free reader of the OLD manifest
    // degrades fail-open (bloom → None, the standing stance)
    val s = Files.list(dir)
    val superseded =
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("_graft_blooms_") && !sidecar.contains(n)
      }.toList
      finally s.close()
    superseded.foreach(p => scala.util.Try(Files.deleteIfExists(p)): Unit)
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

  /** The given files of a published dir as one frame of `schema` (an
    * empty frame for none): the input of a file-granular rewrite. */
  def readFiles(spark: SparkSession, dir: Path, schema: StructType,
                files: Seq[FileRange]): DataFrame =
    if (files.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.schema(schema).parquet(files.map(e => dir.resolve(e.file).toString): _*)

  /** THE file-granular rewrite of published dir `cur` into the staging
    * dir `stage` — an incremental merge, kv-index maintenance and
    * compaction all publish through it, each choosing which files to
    * rewrite and sizing its own partitions. `write` writes the
    * replacement of the rewritten files into `stage` and returns the
    * new files' entries (None when the key type keeps no manifest);
    * every `carry` file then joins them as a hard link (byte-identical,
    * no data I/O — the write owns the dir, so links land after it), and
    * the staged manifest is the new entries ++ the carried ones. */
  def rewrite(spark: SparkSession, cur: Path, stage: Path, carry: Seq[FileRange])
             (write: => Option[Seq[FileRange]]): Unit = {
    val written = write
    carry.foreach(e => linkOrCopy(cur.resolve(e.file), stage.resolve(e.file)))
    written.foreach(w => this.write(spark, stage, w ++ carry))
  }

  /** Carry a file into a new dir without touching data: hard link
    * where the FS supports it, copy otherwise. ONE implementation —
    * the rewrite carry and the index fold's artifact carry must never
    * diverge (an object-store backend would swap this for manifest
    * references in one place). */
  def linkOrCopy(src: Path, dst: Path): Unit =
    try Files.createLink(dst, src): Unit
    catch { case _: UnsupportedOperationException | _: java.io.IOException =>
      Files.copy(src, dst): Unit }
}
