package graft.kv

/** Per-file rowkey Bloom filter riding the snapshot range manifest —
  * the HBase StoreFile BloomFilter (BloomType.ROW) analog: an HBase
  * Get consults the HFile's bloom BEFORE touching its block index, so
  * a miss costs zero data I/O; here a driver-side point Get consults
  * the manifest's per-file bloom BEFORE the parquet footer read, so a
  * key that falls inside a file's [lo,hi] range but was never written
  * skips the file entirely (DriverRead.bloomSkipCount pins it).
  *
  * Construction rides the job that WRITES the file
  * ([[ManifestCapture]]): each write task hashes its rows' keys with
  * Spark's own xxhash64 (seed 42, the `xxhash64(keyCol)` value) and
  * sets the k bit positions in its file's filter — no extra scan. The
  * heal path for a missing manifest folds the same way over a read of
  * the snapshot. The DRIVER recomputes the identical
  * base hash through Catalyst's XxHash64Function (the function both
  * sides call), and both sides derive the k positions from
  * one base hash via the Kirsch–Mitzenmacher double-hash recipe with a
  * splitmix64-finalizer second hash — ONE cross-engine hash to keep in
  * agreement, everything after it is shared code in this object.
  *
  * Sizing is PER-KEY, like HBase's io.storefile.bloom sizing: each
  * task builds its file's filter at a power-of-two cap
  * (conf `spark.graft.manifest.bloomMaxBits`, default 2^23) and
  * [[BloomSizing.finish]] folds it down EXECUTOR-SIDE
  * ([[BloomBits.foldTo]] — lossless for the double-hash positions) to
  * the smallest power of two ≥ rows × bits-per-key (conf
  * `spark.graft.manifest.bloomBitsPerKey`, default 10 ⇒ ~1% FPR with
  * k = 7), so the gate corpus and a 100-TB corpus get the same
  * false-positive rate, and the task result shipped to the driver
  * carries only the folded filter — never the 1 MiB cap per file; at
  * the cap (≥ ~800k rows/file) the FPR degrades gracefully instead of
  * the filter growing unboundedly.
  *
  * Persistence: small tables inline the bitsets as base64 in the
  * manifest JSON; past `spark.graft.manifest.bloomSidecarBytes`
  * (default 256 KiB) of total filter bytes they spill to a
  * CONTENT-ADDRESSED binary sidecar beside the manifest
  * (`_graft_blooms_<crc>.bin` — HFile's bloom-block shape), which the
  * manifest references by exact name, so the atomic manifest rename
  * always pairs with the sidecar it was written against; range-scan
  * readers that never probe blooms keep parsing a small JSON. A false
  * positive only costs the footer read the bloom tried to save —
  * never correctness. */
private[graft] object BloomBits {
  val Hashes = 7

  /** splitmix64 finalizer — the second hash of the double-hash scheme,
    * a pure function of the base hash so only ONE cross-engine hash
    * (Spark's xxhash64) must agree between build and probe. */
  private def mix(h: Long): Long = {
    var z = h + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The k bit positions of one pre-hashed key in an m-bit filter. */
  def positions(baseHash: Long, mBits: Int): Array[Int] = {
    val h2 = mix(baseHash)
    val out = new Array[Int](Hashes)
    var i = 0
    while (i < Hashes) {
      val combined = baseHash + i.toLong * h2
      out(i) = ((combined & Long.MaxValue) % mBits).toInt
      i += 1
    }
    out
  }

  def set(bits: Array[Byte], baseHash: Long): Unit = {
    val m = bits.length * 8
    positions(baseHash, m).foreach { p =>
      bits(p >>> 3) = (bits(p >>> 3) | (1 << (p & 7))).toByte
    }
  }

  def mightContain(bits: Array[Byte], baseHash: Long): Boolean = {
    val m = bits.length * 8
    positions(baseHash, m).forall { p =>
      (bits(p >>> 3) & (1 << (p & 7))) != 0
    }
  }

  /** Fold a POWER-OF-TWO-sized filter down to `targetBits` (also a
    * power of two): position p in the large filter maps to
    * p mod targetBits — byte-wise, out[i mod outLen] |= in[i]. The
    * membership law is preserved exactly because the position recipe
    * reduces the (non-negative) combined hash mod m, and
    * (h mod 2^a) mod 2^b = h mod 2^b for b ≤ a — so a probe against
    * the folded filter (whose m comes from its array length) agrees
    * with building at the small size directly. This is what lets ONE
    * pass over a file's rows build its filter at the size cap and
    * size each file's PERSISTED filter from its own row count
    * afterwards (bits-per-key sizing, scale-invariant FPR). */
  def foldTo(bits: Array[Byte], targetBits: Int): Array[Byte] = {
    require(targetBits >= 8 && Integer.bitCount(targetBits) == 1,
      s"target bloom size must be a power of two >= 8 bits: $targetBits")
    val outLen = targetBits / 8
    if (bits.length <= outLen) return bits
    require(bits.length % outLen == 0,
      s"can only fold power-of-two sizes: ${bits.length * 8} -> $targetBits")
    val out = new Array[Byte](outLen)
    var i = 0
    while (i < bits.length) {
      out(i % outLen) = (out(i % outLen) | bits(i)).toByte
      i += 1
    }
    out
  }

  /** Smallest power of two ≥ x (x ≥ 1). */
  def nextPow2(x: Long): Long =
    if (x <= 1L) 1L else java.lang.Long.highestOneBit(x - 1L) << 1
}

/** The per-file bloom sizing policy, read once on the driver and
  * shipped with the fold ([[FileStatsFold]]): every file's filter is
  * built at `maxBits` (a power of two) and [[finish]] folds it down to
  * nextPow2(rows × bitsPerKey), floored at 2^10 and capped at
  * `maxBits` — EXECUTOR-SIDE, before the bitset leaves the task, so
  * the task result and the manifest carry the small folded filter,
  * never the cap. */
private[kv] final case class BloomSizing(maxBits: Int, bitsPerKey: Int) {
  require(maxBits >= 1024 && Integer.bitCount(maxBits) == 1,
    s"spark.graft.manifest.bloomMaxBits must be a power of two >= 1024: $maxBits")

  def finish(rows: Long, bits: Array[Byte]): Array[Byte] =
    BloomBits.foldTo(bits, math.min(maxBits.toLong,
      math.max(1L << 10, BloomBits.nextPow2(rows * bitsPerKey))).toInt)
}

private[kv] object BloomSizing {
  /** Key types that carry a manifest bloom — the ones the driver get
    * can re-hash ([[DriverRead]]'s bloomBaseHash). */
  def bloomable(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | IntegerType | StringType => true
      case _ => false
    }
  }

  /** The sizing for a manifest over keys of `keyType`, None when the
    * type carries no bloom. */
  def forKey(spark: org.apache.spark.sql.SparkSession,
             keyType: org.apache.spark.sql.types.DataType): Option[BloomSizing] =
    if (bloomable(keyType)) Some(fromConf(spark)) else None

  def fromConf(spark: org.apache.spark.sql.SparkSession): BloomSizing = {
    val bitsPerKey = spark.conf
      .getOption("spark.graft.manifest.bloomBitsPerKey")
      .map(_.toInt).getOrElse(10)
    val maxBits = spark.conf.getOption("spark.graft.manifest.bloomMaxBits")
      .map(_.toInt).getOrElse(1 << 23)
    BloomSizing(maxBits, bitsPerKey)
  }
}
