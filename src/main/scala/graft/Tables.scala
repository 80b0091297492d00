package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All reads go through `spark.read.parquet` so Catalyst handles
  * predicate pushdown / column pruning / partition coalescing — the
  * Spark-native equivalent of the reference's region-server scan
  * pushdown (reference: HBaseProjectableFilterableTable.kt:16).
  */
object Tables {
  /** Planted-row id boundary, defined ONCE for every consumer: the
    * dedup/similarity queries plant deterministic duplicate overlays
    * at id + PlantedIdBase (so ids ≥ this are synthetic copies, ids
    * below it are real corpus), ScaleGen guards that scaled-up real
    * ids never cross it, and index-backed searches scope themselves
    * to the real corpus with `< PlantedIdBase`. Moving it anywhere
    * moves it everywhere — that is the point. */
  val PlantedIdBase: Long = 1000000L

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.ts arrives in one of two physical forms depending on the
    * testdata generation: TIMESTAMP(NANOS) parquet (Spark 4 refuses it
    * as a timestamp; with spark.sql.legacy.parquet.nanosAsLong=true —
    * set by Verify/Bench/tests — it lands as epoch-nanos long, which
    * we truncate to µs with exact integer division, never double math:
    * 1.7e18 doesn't fit a double mantissa), or plain timestamp[us]
    * with isAdjustedToUTC=false, which Spark 4 reads as TIMESTAMP_NTZ.
    * Both are normalized to TimestampType: watermarks REQUIRE it, and
    * every session here runs spark.sql.session.timeZone=UTC, so the
    * NTZ→LTZ cast is value-identical. */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventTs(load(s, d, "events"))

  /** The events table as a genuine file-source STREAM: the same
    * parquet directory read via `readStream`, one file per
    * micro-batch, so watermarked/stateful plans execute through the
    * real incremental engine (StateStore, watermark advancement)
    * instead of the batch planner. The file source is exactly how a
    * 100 TB ingest lands in practice (object-store drops discovered
    * per trigger); schema comes from the batch footer read since
    * streaming sources cannot infer. */
  def eventsStream(s: SparkSession, d: String): DataFrame = {
    // The generated table is a single parquet FILE; the file stream
    // source ingests a DIRECTORY of drops. Stage the events once per
    // (JVM, dir) into a temp landing zone split into several files so
    // the stream genuinely advances state across micro-batches.
    val st = staged(d, "graft_events_stream") { dir =>
      val raw = load(s, d, "events")
      raw.repartition(4).write.mode("overwrite").parquet(dir.toString)
      raw.schema
    }
    normalizeEventTs(
      s.readStream.schema(st.schema).option("maxFilesPerTrigger", 1)
        .parquet(st.dir))
  }

  /** The documents table as a STREAMING ingest drop (doc_id, text,
    * synthetic arrival ts), with exact copies of doc_id<10 planted at
    * id+PlantedIdBase one hour later — the ingest-dedup ground truth:
    * a duplicate arriving in a LATER micro-batch must be suppressed
    * by state, not by intra-batch distinct. Staging enforces that
    * contract structurally (the eventsStreamOrdered pattern):
    * originals land as batch-000..002 with ascending mtimes, the
    * planted copies as batch-999 strictly last in BOTH file-source
    * sort keys — repartition alone could co-locate a copy with its
    * original in one file and make the cross-batch claim vacuous. */
  private[graft] def documentsStream(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val st = staged(d, "graft_docs_stream") { dir =>
      val docs = load(s, d, "documents")
        .select(col("doc_id"), col("text"))
        .withColumn("ts",
          (lit(1700000000L) + col("doc_id")).cast("timestamp"))
      val planted = load(s, d, "documents")
        .filter(col("doc_id") < 10)
        .select((col("doc_id") + PlantedIdBase).as("doc_id"), col("text"))
        .withColumn("ts",
          (lit(1700000000L) + (col("doc_id") % PlantedIdBase) + 3600L)
            .cast("timestamp"))
      val base = System.currentTimeMillis() - 120000L
      land(docs.repartition(3), dir, base)(i => (f"batch-$i%03d.parquet", i * 2000L))
      land(planted.coalesce(1), dir, base)(_ => ("batch-999.parquet", 60000L))
      docs.schema
    }
    s.readStream.schema(st.schema).option("maxFilesPerTrigger", 1)
      .parquet(st.dir)
  }

  /** One event type's slice of the events table as its own file
    * stream. The stream-stream join reads views and purchases as two
    * INDEPENDENT sources; staging each side pre-filtered means every
    * micro-batch scans only that side's rows instead of the full
    * events drop re-filtered per side — at scale the two sides of an
    * attribution join genuinely are separate topics/prefixes, so the
    * pre-split staging is the production shape, not a bench trick. */
  private[graft] def eventsStreamByType(s: SparkSession, d: String,
                                        eventType: String): DataFrame = {
    val st = staged(d, s"graft_events_${eventType}_stream") { dir =>
      val slice = events(s, d)
        .filter(org.apache.spark.sql.functions.col("event_type") === eventType)
      slice.repartition(4).write.mode("overwrite").parquet(dir.toString)
      slice.schema
    }
    // already normalized: the slice was written from the normalized
    // batch frame, so ts is TimestampType in the staged footers
    s.readStream.schema(st.schema).option("maxFilesPerTrigger", 1)
      .parquet(st.dir)
  }

  /** A staged stream landing zone: the dir plus the stream schema
    * captured at staging time — callers on the cached path must not
    * pay a fresh parquet footer read per invocation (bench reps call
    * these several times per query). */
  private[graft] final case class Staged(
      dir: String, schema: org.apache.spark.sql.types.StructType)

  /** Stage into a fresh temp dir once per (JVM, dir, prefix). The
    * build callback fills the dir and returns the schema to stream
    * with. The dir is registered for shutdown reclamation BEFORE the
    * build, so a mid-build crash still reclaims the partial staging
    * and no Verify/Bench process leaks an events copy in /tmp. */
  private def staged(d: String, prefix: String)
                    (build: java.nio.file.Path => org.apache.spark.sql.types.StructType): Staged =
    QueryCaches.once(s"$prefix:$d") {
      val dir = java.nio.file.Files.createTempDirectory(prefix)
      TempWarehouses.register(dir.toString)
      Staged(dir.toString, build(dir))
    }

  /** Land `df` in a staged dir as named drops: write it to `dir/tmp`,
    * move its part files (in name order; the i-th is `slot(i)` =
    * (file name, mtime offset from `base` in ms)) into `dir`, then
    * clear `tmp` so the stream only ever sees the renamed drops. The
    * file source takes oldest-(modTime, path) first, so names and
    * mtimes together fix the micro-batch order. */
  private def land(df: DataFrame, dir: java.nio.file.Path, base: Long)
                  (slot: Int => (String, Long)): Unit = {
    import java.nio.file.Files
    val tmp = dir.resolve("tmp")
    df.write.mode("overwrite").parquet(tmp.toString)
    val parts = {
      val w = Files.list(tmp)
      try w.iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
        .toSeq.sorted
      finally w.close()
    }
    parts.zipWithIndex.foreach { case (p, i) =>
      val (name, offset) = slot(i)
      val dst = dir.resolve(name)
      Files.move(p, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(base + offset))
    }
    val leftovers = Files.list(tmp)
    try leftovers.forEach(p => { Files.deleteIfExists(p); () })
    finally leftovers.close()
    Files.deleteIfExists(tmp): Unit
  }

  /** Events as a file stream whose FILE ORDER IS EVENT-TIME ORDER,
    * plus a trailing per-user sentinel drop ("__flush", 2 h past the
    * last real event) — the contract `Streams.sessionizeStream`
    * documents for its low-latency path: per-user event-time order
    * must hold ACROSS micro-batches (a keyed, roughly-ordered log),
    * and only a gap-exceeding later event closes an open session, so
    * the sentinel is what flushes each user's final session at
    * end-of-input. Four time-range files staged as `batch-00i` with
    * ascending mtimes: the file source takes oldest-(modTime, path)
    * first, so both sort keys agree with event time; one file per
    * trigger ⇒ the state machine genuinely carries open sessions
    * across five micro-batches. */
  private[graft] def eventsStreamOrdered(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val st = staged(d, "graft_events_ordered") { dir =>
      val ev = events(s, d)
      val base = System.currentTimeMillis() - 120000L
      // range partition 0 holds the earliest ts range, ascending
      land(ev.repartitionByRange(4, col("ts"), col("event_id"))
          .sortWithinPartitions(col("ts"), col("event_id")), dir, base)(
        i => (f"batch-$i%03d.parquet", i * 2000L))
      // per-user flush sentinel, STRICTLY after every real file in
      // both sort keys (name "batch-999…" > "batch-004…", mtime
      // base+60 s) and in event time (max ts + 2 h ≫ the 30-min
      // gap), so it reaches every user's state machine last and
      // closes their final real session. An empty events table has no
      // max ts (and nothing to sessionize) — fail with a clear
      // message instead of a NullPointerException mid-staging.
      val mxRow = ev.agg(max(col("ts"))).head
      require(!mxRow.isNullAt(0),
        s"eventsStreamOrdered: events table at $d is empty — nothing to stage")
      val flushTs = new java.sql.Timestamp(mxRow.getTimestamp(0).getTime + 2L * 3600 * 1000)
      land(ev.select(col("user_id")).distinct()
          .select((lit(-1L) - col("user_id")).as("event_id"),
            lit(flushTs).as("ts"), col("user_id"),
            lit("__flush").as("event_type"), lit(0.0).as("value"),
            lit(null).cast("string").as("props"))
          .coalesce(1), dir, base)(_ => ("batch-999.parquet", 60000L))
      // the staged files carry ev's already-normalized TimestampType
      ev.schema
    }
    normalizeEventTs(
      s.readStream.schema(st.schema)
        .option("maxFilesPerTrigger", 1).parquet(st.dir))
  }

  /** Events staged for the BOUNDED-watermark expiry gate
    * (st_stream_expire): drop 0 carries every real event; drop 1 is a
    * SPACER ("__flush" row at max ts); drop 2 replays the first two
    * hours' events as LATE arrivals (ids +1e7, original timestamps);
    * drops 3-4 are flush sentinels ("__flush", max ts + 3 h / + 4 h).
    *
    * The spacer exists because Spark filters late events with the
    * PREVIOUS batch's watermark while evicting with the current one
    * (SPARK-40925's two-value semantics): replays arriving one batch
    * after the full table would still see late-watermark 0 and merge.
    * One spacer batch later the late watermark stands at
    * max(real ts) − delay — days past the replayed rows' window ends
    * — so a bounded-watermark aggregation must DROP every replay
    * deterministically. Two trailing sentinels for the same lag
    * reason: the +4 h drop is the real data batch whose eviction
    * watermark (stats through the +3 h drop) finally passes the last
    * real window end and emits it in append mode — relying on a
    * trailing no-data batch instead would race processAllAvailable. */
  private[graft] def eventsStreamExpiry(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val st = staged(d, "graft_events_expiry") { dir =>
      val ev = events(s, d)
      val base = System.currentTimeMillis() - 120000L
      def stageDrop(df: DataFrame, slot: Int): Unit =
        land(df.coalesce(1), dir, base)(_ => (f"batch-$slot%03d.parquet", slot * 2000L))
      val bounds = ev.agg(min(col("ts")), max(col("ts"))).head
      require(!bounds.isNullAt(0),
        s"eventsStreamExpiry: events table at $d is empty — nothing to stage")
      val minTs = bounds.getTimestamp(0)
      val maxTs = bounds.getTimestamp(1)
      require(maxTs.getTime - minTs.getTime >= 4L * 3600 * 1000,
        "eventsStreamExpiry: the expiry gate needs an event span > 4 h " +
          "so replayed first-hours rows are unambiguously late")
      def sentinel(hoursPast: Long) = {
        val fts = new java.sql.Timestamp(maxTs.getTime + hoursPast * 3600 * 1000)
        ev.limit(1).select(lit(-1L - hoursPast).as("event_id"),
          lit(fts).as("ts"), lit(0L).as("user_id"),
          lit("__flush").as("event_type"), lit(0.0).as("value"),
          lit(null).cast("string").as("props"))
      }
      stageDrop(ev, 0)
      stageDrop(sentinel(0L), 1)
      stageDrop(ev.filter(col("ts") <
          lit(new java.sql.Timestamp(minTs.getTime + 2L * 3600 * 1000)))
        .withColumn("event_id", col("event_id") + 10000000L), 2)
      stageDrop(sentinel(3L), 3)
      stageDrop(sentinel(4L), 4)
      ev.schema
    }
    normalizeEventTs(
      s.readStream.schema(st.schema)
        .option("maxFilesPerTrigger", 1).parquet(st.dir))
  }

  private[graft] def normalizeEventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => raw
    }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
