package graft.index

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import java.nio.ByteBuffer
import scala.collection.mutable

/** Bitmap inverted index.
  *
  * The reference declares a RoaringBitmap-backed inverted index
  * (reference: index/bmindex/BitMapIndexTable.kt — stub; README.md
  * names `bitmap` as a first-class index flavor). This is the real
  * implementation, Spark-native: one row per distinct column value
  * holding a compressed bitmap of the rowkeys (as a binary column).
  *
  * Bitmap encoding is two-level, roaring-style: row ids are split into
  * 64Ki-id chunks; each present chunk stores a 1024-word bitset. Dense
  * chunks cost 8 KiB regardless of cardinality; absent chunks cost
  * nothing — so a 1-billion-row table's index row is ~MBs, and
  * predicate AND/OR become word-wise bitmap ops instead of row-set
  * shuffles (the point of a bitmap index at 100 TB: combining
  * predicates touches index rows, never the fact table).
  *
  * Chunks are built distributed via a typed Aggregator with map-side
  * partial aggregation (each partition sets bits locally; merge ORs
  * chunk maps), so build cost is one pass + tiny shuffle.
  */
object Bitmap {
  private final val ChunkBits = 16                 // 65536 ids per chunk
  private final val WordsPerChunk = 1 << (ChunkBits - 6)

  type Chunks = mutable.HashMap[Int, Array[Long]]

  def set(chunks: Chunks, id: Long): Unit = {
    val chunkL = id >> ChunkBits
    val chunk = chunkL.toInt
    // the chunk key is an Int: ids beyond ±2^47 would silently alias
    // onto wrong chunks (truncated key) and reconstruct as DIFFERENT
    // rowkeys — fail loudly at the id-space boundary instead
    require(chunk.toLong == chunkL,
      s"row id $id outside the bitmap id space (|id| < 2^47)")
    val off = (id & ((1L << ChunkBits) - 1)).toInt
    val words = chunks.getOrElseUpdate(chunk, new Array[Long](WordsPerChunk))
    words(off >> 6) |= (1L << (off & 63))
  }

  def orInto(into: Chunks, from: Chunks): Chunks = {
    from.foreach { case (c, w) =>
      into.get(c) match {
        case Some(tw) => var i = 0; while (i < WordsPerChunk) { tw(i) |= w(i); i += 1 }
        case None     => into.update(c, w.clone())
      }
    }
    into
  }

  /** Sparse/dense container boundary, roaring-style: a chunk holding
    * ≤4096 ids serializes as a sorted uint16 offset array (2 B/id, ≤
    * 8 KiB), above that as the full 1024-word bitset (8 KiB flat) —
    * the sparse form is never larger than the dense one. A
    * high-cardinality indexed column (many values, few rows each) thus
    * costs ~2 B/row instead of 8 KiB per touched chunk. In memory both
    * forms expand to dense words, so set/or/and/andNot stay word-wise.
    */
  private final val SparseMax = 4096

  /** Format header: a magic int then the format version. Every stream
    * [[serialize]] writes starts with both; [[deserialize]] rejects a
    * stream without them rather than guessing at its layout. An index
    * written in another layout is rebuilt by `refresh_index`. */
  private final val Magic = 0xB17AC0DE // negative as Int
  private final val FormatVersion = 2

  private def chunkCard(w: Array[Long]): Int = {
    var i = 0; var c = 0
    while (i < WordsPerChunk) { c += java.lang.Long.bitCount(w(i)); i += 1 }
    c
  }

  def serialize(chunks: Chunks): Array[Byte] = {
    val entries = chunks.toSeq.sortBy(_._1).map { case (c, w) => (c, w, chunkCard(w)) }
    val size = 12 + entries.map { case (_, _, card) =>
      8 + (if (card <= SparseMax) 2 * card else 8 * WordsPerChunk)
    }.sum
    val buf = ByteBuffer.allocate(size)
    buf.putInt(Magic); buf.putInt(FormatVersion)
    buf.putInt(entries.size)
    entries.foreach { case (c, w, card) =>
      buf.putInt(c); buf.putInt(card)
      if (card <= SparseMax) {
        var i = 0
        while (i < WordsPerChunk) {
          var word = w(i)
          while (word != 0L) {
            val bit = java.lang.Long.numberOfTrailingZeros(word)
            buf.putShort(((i << 6) | bit).toShort)
            word &= word - 1
          }
          i += 1
        }
      } else w.foreach(buf.putLong)
    }
    buf.array()
  }

  def deserialize(bytes: Array[Byte]): Chunks = {
    val buf = ByteBuffer.wrap(bytes)
    require(bytes.length >= 12 && buf.getInt == Magic,
      "not a graft bitmap: missing format header")
    val ver = buf.getInt
    require(ver == FormatVersion, s"unsupported bitmap format version $ver")
    readSparseDense(buf, buf.getInt)
  }

  private def readSparseDense(buf: ByteBuffer, n: Int): Chunks = {
    val chunks = new Chunks()
    (0 until n).foreach { _ =>
      val c = buf.getInt
      val card = buf.getInt
      val w = new Array[Long](WordsPerChunk)
      if (card <= SparseMax)
        (0 until card).foreach { _ =>
          val off = buf.getShort & 0xFFFF
          w(off >> 6) |= (1L << (off & 63))
        }
      else (0 until WordsPerChunk).foreach(i => w(i) = buf.getLong)
      chunks.update(c, w)
    }
    chunks
  }

  def and(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val ca = deserialize(a); val cb = deserialize(b)
    val out = new Chunks()
    ca.foreach { case (c, wa) =>
      cb.get(c).foreach { wb =>
        val w = new Array[Long](WordsPerChunk)
        var i = 0; var nonEmpty = false
        while (i < WordsPerChunk) {
          w(i) = wa(i) & wb(i); if (w(i) != 0L) nonEmpty = true; i += 1
        }
        if (nonEmpty) out.update(c, w)
      }
    }
    serialize(out)
  }

  def or(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    serialize(orInto(deserialize(a), deserialize(b)))

  /** In-place a AND NOT b over decoded chunk maps (clear every id of
    * `b` from `a`; emptied chunks drop out). The Chunks-space form all
    * masking composes over — byte-level wrappers serialize at most
    * once. */
  private def andNotInto(a: Chunks, b: Chunks): Unit =
    b.foreach { case (c, wb) =>
      a.get(c).foreach { wa =>
        var i = 0; var nonEmpty = false
        while (i < WordsPerChunk) {
          wa(i) &= ~wb(i); if (wa(i) != 0L) nonEmpty = true; i += 1
        }
        if (!nonEmpty) a.remove(c): Unit
      }
    }

  /** a AND NOT b — the tombstone-masking op for segmented index reads
    * (clear every id present in `b` from `a`). Chunks of `a` absent
    * from `b` pass through; emptied chunks are dropped. */
  def andNot(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val ca = deserialize(a)
    andNotInto(ca, deserialize(b))
    serialize(ca)
  }

  /** Fold a versioned stack of bitmap parts under versioned tombstone
    * masks — the segmented-index read semantics: a part written at
    * version v loses every id tombstoned at any LATER version (an id
    * re-added after its tombstone lives in a later part, which the
    * tombstone doesn't touch), and the surviving parts OR together.
    * Runs per (value, shard) row on every segmented read, so each part
    * and tombstone is decoded exactly ONCE and all masking stays in
    * Chunks space — the previous byte-level fold re-serialized per
    * (part × tombstone) pair. */
  def foldVersions(parts: Seq[(Int, Array[Byte])],
                   tombs: Seq[(Int, Array[Byte])]): Array[Byte] = {
    val tombChunks = tombs.map { case (v, b) => (v, deserialize(b)) }
    val acc = new Chunks()
    parts.foreach { case (v, bm) =>
      val cur = deserialize(bm)
      tombChunks.foreach { case (tv, t) => if (tv > v) andNotInto(cur, t) }
      orInto(acc, cur): Unit
    }
    serialize(acc)
  }

  def ids(bytes: Array[Byte]): Array[Long] = {
    val chunks = deserialize(bytes)
    val out = mutable.ArrayBuilder.make[Long]
    chunks.foreach { case (c, w) =>
      var i = 0
      while (i < WordsPerChunk) {
        var word = w(i)
        while (word != 0L) {
          val bit = java.lang.Long.numberOfTrailingZeros(word)
          out += (c.toLong << ChunkBits) | (i.toLong << 6) | bit.toLong
          word &= word - 1
        }
        i += 1
      }
    }
    out.result()
  }

  def cardinality(bytes: Array[Byte]): Long =
    deserialize(bytes).valuesIterator.map(_.map(java.lang.Long.bitCount(_).toLong).sum).sum
}

/** Distributed bitmap build: Aggregator[rowid → chunked bitset]. */
class BitmapAgg extends Aggregator[Long, Bitmap.Chunks, Array[Byte]] {
  override def zero: Bitmap.Chunks = new Bitmap.Chunks()
  override def reduce(b: Bitmap.Chunks, id: Long): Bitmap.Chunks = { Bitmap.set(b, id); b }
  override def merge(a: Bitmap.Chunks, b: Bitmap.Chunks): Bitmap.Chunks = Bitmap.orInto(a, b)
  override def finish(r: Bitmap.Chunks): Array[Byte] = Bitmap.serialize(r)
  override def bufferEncoder: Encoder[Bitmap.Chunks] = Encoders.kryo[Bitmap.Chunks]
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

object BitmapIndex {
  /** Rows are SHARDED by id-range: one (value, shard, bitmap, card) row
    * per distinct value per 16Mi-id shard, so a hot value matching a
    * billion rows becomes ~64 independent ~2 MB rows instead of one
    * ~120 MB cell flowing through a single task. AND/OR then zip
    * per-shard (shard-keyed join) — parallel across shards. */
  final val ShardBits = 24

  /** Build: one (value, shard, bitmap, card) row per distinct value
    * per present id-shard. */
  def build(base: DataFrame, keyCol: String, valueCol: String): DataFrame = {
    val agg = udaf(new BitmapAgg(), Encoders.scalaLong)
    base.groupBy(col(valueCol).as("iv"),
        shiftrightunsigned(col(keyCol).cast("long"), ShardBits).as("shard"))
      .agg(agg(col(keyCol)).as("bm"))
      .withColumn("card", Ops.bitmapCard(col("bm")))
  }

  /** Codegen'd expressions (graft.plans.BitmapExpressions), not UDFs:
    * same kernels, no boxing, no codegen-span break in the projections
    * that combine/expand index rows. */
  object Ops {
    val bitmapAnd: (Column, Column) => Column =
      graft.plans.BitmapExpressions.and(_, _)
    val bitmapOr: (Column, Column) => Column =
      graft.plans.BitmapExpressions.or(_, _)
    val bitmapIds: Column => Column =
      graft.plans.BitmapExpressions.ids(_)
    val bitmapCard: Column => Column =
      graft.plans.BitmapExpressions.cardinality(_)
    val bitmapAndNot: (Column, Column) => Column =
      graft.plans.BitmapExpressions.andNot(_, _)
  }

  /** Equality: fetch the value's shard rows, expand each to rowids
    * (shards expand in parallel). */
  def lookupIds(index: DataFrame, value: Any): DataFrame =
    index.filter(col("iv") === lit(value))
      .select(explode(Ops.bitmapIds(col("bm"))).as("rk"))

  /** Range retrieval over the value-keyed bitmap rows — the
    * Pinot/Druid-style range scan (their classic use: a time-range
    * predicate served from the date column's bitmaps): select the
    * [lo,hi] value rows (an index-row predicate, tiny vs the base),
    * OR-fold each id-shard's bitmaps with the codegen kernels inside
    * one HOF (no UDF boxing), explode ids. Work spreads across
    * shards like every other bitmap op; the fold is
    * |values-in-range| bitmaps per shard. */
  def rangeIds(index: DataFrame, lo: Any, hi: Any): DataFrame =
    index.filter(col("iv") >= lit(lo) && col("iv") <= lit(hi))
      .groupBy(col("shard"))
      .agg(collect_list(col("bm")).as("bms"))
      .select(explode(Ops.bitmapIds(
        aggregate(expr("slice(bms, 2, size(bms))"), col("bms").getItem(0),
          (acc, b) => Ops.bitmapOr(acc, b)))).as("rk"))

  /** NEGATION retrieval (`col <> value`) — the complement op that
    * closes the bitmap predicate algebra (eq/range/and/or/NOT): per
    * id-shard, OR-fold every value's bitmap into the shard's
    * EXISTENCE bitmap (the universe a real engine maintains beside
    * the per-value bitmaps — derived here in one index-row pass with
    * the same HOF fold as [[rangeIds]]), then ANDNOT the target
    * value's bitmap out with the codegen kernel. SQL `<>` semantics
    * require excluding NULL-valued rows — and [[build]]'s groupBy
    * KEEPS a null group (Spark groups null keys), so the universe
    * fold must drop the iv=null bitmap explicitly or nulls would
    * surface in every negation. A shard where the value has no
    * bitmap passes its whole universe through. Work spreads across
    * shards; everything runs on index rows, never the base table. */
  def notIds(index: DataFrame, value: Any): DataFrame = {
    val universe = index
      .filter(col("iv").isNotNull)
      .groupBy(col("shard"))
      .agg(collect_list(col("bm")).as("bms"))
      .select(col("shard"),
        aggregate(expr("slice(bms, 2, size(bms))"), col("bms").getItem(0),
          (acc, b) => Ops.bitmapOr(acc, b)).as("ubm"))
    val v = index.filter(col("iv") === lit(value))
      .select(col("shard"), col("bm"))
    universe.join(v, Seq("shard"), "left_outer")
      .select(when(col("bm").isNull, col("ubm"))
        .otherwise(Ops.bitmapAndNot(col("ubm"), col("bm"))).as("nbm"))
      .select(explode(Ops.bitmapIds(col("nbm"))).as("rk"))
  }

  /** Combine two values' bitmaps (possibly from different indexes)
    * with AND/OR: a shard-keyed zip — each id-shard pair combines
    * independently, so a hot value's work spreads across tasks.
    * AND drops shards present on one side only; OR passes them
    * through. Index rows stay tiny vs the base table. */
  def combineIds(left: DataFrame, lval: Any, right: DataFrame, rval: Any,
                 op: String): DataFrame = {
    val l = left.filter(col("iv") === lit(lval)).select(col("shard"), col("bm").as("lbm"))
    val r = right.filter(col("iv") === lit(rval)).select(col("shard"), col("bm").as("rbm"))
    val combined = op match {
      case "and" => l.join(r, Seq("shard"))
        .select(Ops.bitmapAnd(col("lbm"), col("rbm")).as("bm"))
      case "or" => l.join(r, Seq("shard"), "full_outer")
        .select(when(col("lbm").isNull, col("rbm"))
          .when(col("rbm").isNull, col("lbm"))
          .otherwise(Ops.bitmapOr(col("lbm"), col("rbm"))).as("bm"))
      case other => throw new IllegalArgumentException(s"op $other")
    }
    combined.select(explode(Ops.bitmapIds(col("bm"))).as("rk"))
  }
}
