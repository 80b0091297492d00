package graft

import graft.streaming.Streams
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Genuine Structured Streaming runs (readStream → memory sink),
  * checked against the batch forms of the same transforms. */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  private def events = Tables.events(spark, sf)

  /** readStream needs a directory; stage the single events.parquet
    * file into a temp dir once. */
  private lazy val streamDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  /** readStream over the staged dir, ts normalized to TimestampType
    * (the staged file carries whatever physical form the generator
    * used — epoch-nanos long or timestamp_ntz — and watermarks demand
    * TIMESTAMP; Tables.normalizeEventTs handles every form). */
  private def stagedStream = Tables.normalizeEventTs(
    spark.readStream.schema(Tables.load(spark, sf, "events").schema)
      .parquet(streamDir))


  test("streaming dedup keeps one event per key, state bounded by watermark") {
    val stream = stagedStream
    val key = concat_ws(":", col("user_id"), col("event_type"))
    val q = graft.streaming.Streams.dedupStream(stream, "ts", key)
      .writeStream.format("memory").queryName("dedup_sink")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("dedup_sink").count()
    val batch = events.dropDuplicates("user_id", "event_type").count()
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    // one row per key, each an actual input row
    val keys = spark.table("dedup_sink")
      .select(concat_ws(":", col("user_id"), col("event_type")).as("k"))
      .collect().map(_.getString(0))
    assert(keys.length == keys.distinct.length)
  }

  test("streaming dedup passes NULL-key rows through un-deduped") {
    val stream = stagedStream
    // even user_ids get a NULL key: those events are NOT duplicates of
    // each other and must all survive
    val key = when(col("user_id") % 2 === 0, lit(null).cast("string"))
      .otherwise(concat_ws(":", col("user_id"), col("event_type")))
    val q = graft.streaming.Streams.dedupStream(stream, "ts", key)
      .writeStream.format("memory").queryName("dedup_null_sink")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("dedup_null_sink")
    assert(out.filter(col("user_id") % 2 === 0).count() ==
      events.filter(col("user_id") % 2 === 0).count())
    assert(out.filter(col("user_id") % 2 =!= 0).count() ==
      events.filter(col("user_id") % 2 =!= 0)
        .dropDuplicates("user_id", "event_type").count())
  }

  test("streaming content-fingerprint dedup equals batch first-per-fingerprint") {
    import spark.implicits._
    // the gated query's exact pipeline: staged doc stream with planted
    // copies arriving an hour later, simhash64 dedup key
    val result = SparkEntry.queries("st_stream_neardedup")(spark, sf)
      .collect()
    // batch ground truth over the SAME staged content: docs ∪ copies
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val all = docs.unionByName(docs.filter($"doc_id" < 10)
      .withColumn("doc_id", $"doc_id" + Tables.PlantedIdBase))
    val fps = all.select(graft.plans.HashExpressions.simhash64(
        graft.plans.HashExpressions.tokens($"text")).as("fp"))
      .distinct().as[Long].collect().toSet
    // one emission per distinct fingerprint — a cross-micro-batch
    // duplicate leaking past the state store would show n_emitted = 2
    assert(result.map(_.getLong(0)).toSet == fps,
      "emitted fingerprint set != batch distinct fingerprints")
    assert(result.forall(_.getLong(1) == 1L),
      "a fingerprint was emitted more than once")
    // the planted exact copies genuinely collide with their originals
    // (the suppression is exercised, not vacuous)
    assert(result.length < all.count(),
      "no duplicate fingerprints in the staged corpus — test is vacuous")
  }

  test("stable-bloom dedup: undersaturated == batch first-per-content, state bounded") {
    import spark.implicits._
    // the gated query's exact pipeline: staged doc stream with planted
    // copies arriving a batch later, content-hash key through the
    // bounded-memory rotating-Bloom state
    val result = SparkEntry.queries("st_stream_bloomdedup")(spark, sf)
      .collect()
    // batch ground truth: the distinct content hashes of docs ∪ copies
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val all = docs.unionByName(docs.filter($"doc_id" < 10)
      .withColumn("doc_id", $"doc_id" + Tables.PlantedIdBase))
    val fps = all.select(xxhash64($"text").as("fp"))
      .distinct().as[Long].collect().toSet
    // far under capacity ⇒ no rotation, FPR ~0 ⇒ the emitted set is
    // EXACTLY batch first-per-content and nothing emits twice
    assert(result.map(_.getLong(0)).toSet == fps,
      "emitted hash set != batch distinct content hashes")
    assert(result.forall(_.getLong(1) == 1L),
      "a content hash was emitted more than once")
    // the planted cross-batch copies genuinely collide (non-vacuous)
    assert(result.length < all.count(),
      "no duplicate content in the staged corpus — test is vacuous")
  }

  test("stable-bloom dedup saturation: rotation re-emits, sized state suppresses") {
    import spark.implicits._
    // two micro-batches carrying the SAME 100 documents (a re-crawl):
    // an adequately sized filter suppresses every batch-2 replay
    // (nothing rotated away), while a DELIBERATELY tiny filter
    // (capacity 8, one bucket) has rotated a 100-key generation away
    // by the time the replay arrives and RE-EMITS most keys — the
    // documented bounded-memory trade (a key is remembered for at
    // least `capacity` and at most 2×capacity distinct arrivals),
    // pinned from both sides so neither case is vacuous
    val dir = java.nio.file.Files.createTempDirectory("graft_sbloom")
    val batch = Tables.documents(spark, sf).select($"doc_id", $"text")
      .limit(100).coalesce(1)
    batch.write.mode("overwrite").parquet(dir.resolve("b1").toString)
    batch.write.mode("overwrite").parquet(dir.resolve("b2").toString)
    val schema = spark.read.parquet(dir.resolve("b1").toString).schema
    def run(name: String, mBits: Int, cap: Long): Seq[Long] = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(dir.toString + "/*")
      val emitted = Streams.stableBloomDedupStream(spark, stream,
        $"text", buckets = 1, mBits = mBits, capacity = cap)
      val q = emitted.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      spark.table(name).as[Long].collect().toSeq
    }
    val trueFps = batch.select(xxhash64($"text").as("fp")).as[Long]
      .collect().toSet
    // sized filter: exact-dedup behavior — every replay suppressed
    val sized = run("sbloom_sized", 1 << 16, 6000L)
    assert(sized.toSet == trueFps && sized.length == trueFps.size,
      "sized filter failed to suppress the cross-batch replay")
    // tiny filter: every emission is still a genuine input key, but
    // the replay RE-EMITS keys whose generation rotated away — state
    // stayed at 2 × 256 bits while the trade surfaced as re-emission
    val tiny = run("sbloom_tiny", 256, 8L)
    assert(tiny.forall(trueFps.contains), "emitted a hash not in the input")
    assert(tiny.length > trueFps.size,
      "tiny filter never re-emitted — rotation was not exercised")
    assert(tiny.groupBy(identity).values.map(_.size).max <= 2,
      "a key emitted more than once per rotation epoch pair")
  }

  test("stream-stream attribution join equals the batch time-range join") {
    def staged = stagedStream
    val q = graft.streaming.Streams.attributionJoin(
        staged.filter(col("event_type") === "view"),
        staged.filter(col("event_type") === "purchase"))
      .writeStream.format("memory").queryName("attr_sink")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("attr_sink")
      .select("view_id", "purchase_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.streaming.Streams.attributionJoin(
        events.filter(col("event_type") === "view"),
        events.filter(col("event_type") === "purchase"))
      .select("view_id", "purchase_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch && batch.nonEmpty,
      s"stream ${streamed.size} pairs vs batch ${batch.size}")
  }

  test("asOf join survives payload names that also exist on the left") {
    import spark.implicits._
    val l = Seq((1L, 10L, "L1"), (1L, 20L, "L2"), (2L, 15L, "L3"))
      .toDF("k", "t", "value") // "value" collides with the right payload
    val r = Seq((1L, 10L, "R@10"), (1L, 18L, "R@18"), (2L, 99L, "late"))
      .toDF("k", "ts", "value")
    val out = graft.operators.AsOfJoin.asOf(l, r, Seq("k"), "t", "ts",
        payload = Seq("value" -> "state"), tieCols = Seq("ts"))
      .orderBy("k", "t").collect()
      .map(row => (row.getAs[Long]("k"), row.getAs[String]("value"),
        row.getAs[String]("state")))
    assert(out.toSeq == Seq(
      (1L, "L1", "R@10"),   // inclusive <=
      (1L, "L2", "R@18"),   // latest state wins
      (2L, "L3", null)))    // no state yet
  }

  test("asOfNearest: direction choice, |dt| ties, tolerance edges, no-match") {
    import spark.implicits._
    val l = Seq((1L, 100L, "fwd-nearer"), (1L, 207L, "back-nearer"),
        (1L, 205L, "exact-tie"), (2L, 100L, "only-late"),
        (3L, 100L, "nothing"))
      .toDF("k", "t", "tag")
    // k=1 states at 200 and 210: t=100 -> 200 is 100 fwd (no back
    // within reach); t=207 -> back 200 (7) beats fwd 210 (3)? no:
    // fwd 210 is 3 away, nearer. t=205 -> both 5 away, tie -> BACK.
    // k=2 state only at 2100: outside tolerance 1000 from t=100.
    val r = Seq((1L, 200L, "s200"), (1L, 210L, "s210"), (2L, 2100L, "s2100"))
      .toDF("k", "ts", "state")
    val out = graft.operators.AsOfJoin.asOfNearest(l, r, Seq("k"), "t", "ts",
        payload = Seq("state" -> "state"), tieCols = Seq("ts"),
        tolerance = 1000L, deltaCol = "dt")
      .collect()
      .map(row => row.getAs[String]("tag") ->
        (row.getAs[String]("state"), Option(row.getAs[java.lang.Long]("dt"))))
      .toMap
    assert(out("fwd-nearer") == (("s200", Some(100L))))
    assert(out("back-nearer") == (("s210", Some(3L))))
    assert(out("exact-tie") == (("s200", Some(-5L))), s"tie must prefer backward: $out")
    assert(out("only-late") == ((null, None)), "tolerance must exclude the 2000-away state")
    assert(out("nothing") == ((null, None)))
  }

  test("asOf join: NULL keys and NULL times follow equi-join semantics") {
    import spark.implicits._
    // a right row with NULL time must never match (NULL <= t is not
    // TRUE) — without filtering it would sort nulls-first and act as
    // state at -infinity; NULL keys must not match NULL keys either
    val l = Seq((Some(1L), Some(10L), "L1"), (Some(1L), None, "Lnull"),
        (None, Some(10L), "Lkeyless"))
      .toDF("k", "t", "tag")
    val r = Seq((Some(1L), None, "bad-null-time"),
        (Some(1L), Some(5L), "good"),
        (None, Some(1L), "bad-null-key"))
      .toDF("k", "ts", "state")
    val out = graft.operators.AsOfJoin.asOf(l, r, Seq("k"), "t", "ts",
        payload = Seq("state" -> "state"), tieCols = Seq("ts"))
      .collect().map(row => row.getAs[String]("tag") -> row.getAs[String]("state"))
      .toMap
    assert(out.size == 3) // every left row survives (left-join contract)
    assert(out("L1") == "good")       // real state, not the null-time row
    assert(out("Lnull") == null)      // NULL left time matches nothing
    assert(out("Lkeyless") == null)   // NULL keys don't match NULL keys
  }

  test("streaming windowed agg equals batch hourly agg") {
    val schema = events.schema
    // stream the same parquet through the watermarked plan
    val q = Streams.hourlyTypeAggStream(stagedStream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("hourly_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("hourly_out")
        .select("hour", "event_type", "n", "total_value")
        .collect().map(_.toSeq).toSet
      val batch = Streams.hourlyTypeAgg(events)
        .collect().map(_.toSeq).toSet
      assert(streamed == batch, "streaming result differs from batch")
    } finally q.stop()
  }

  test("bounded watermark provably drops the staged late replays") {
    // the expiry gate end-to-end at test scale: the staged stream
    // carries every real event PLUS first-two-hours replays arriving
    // after the watermark has advanced days past them
    // (Tables.eventsStreamExpiry). The emitted set must equal the
    // batch hourly agg of the REAL events alone — and must DIFFER
    // from the with-replays batch agg, proving the drop is observable
    // (not vacuously true because replays can't change the answer).
    val out = graft.streaming.StreamQueries.queries("st_stream_expire")(spark, sf)
      .select(col("hour"), col("event_type"), col("n"), col("total_value"))
      .collect().map(_.toString).sorted.toSeq
    val real = Streams.hourlyTypeAgg(events)
      .select(col("hour"), col("event_type"), col("n"), col("total_value"))
      .collect().map(_.toString).sorted.toSeq
    assert(out == real, "expiry output != batch agg over real events")
    val bounds = events.agg(min(col("ts"))).head
    val replays = events.filter(col("ts") < lit(new java.sql.Timestamp(
        bounds.getTimestamp(0).getTime + 2L * 3600 * 1000)))
      .withColumn("event_id", col("event_id") + 10000000L)
    assert(replays.count() > 0, "no replay rows staged — the gate is vacuous")
    val withReplays = Streams.hourlyTypeAgg(events.unionByName(replays))
      .select(col("hour"), col("event_type"), col("n"), col("total_value"))
      .collect().map(_.toString).sorted.toSeq
    assert(out != withReplays,
      "replays don't change the aggregate — the drop is unobservable")
  }

  test("flatMapGroupsWithState sessionization matches batch closed sessions") {
    val batch = Streams.sessionize(events)
      .select("user_id", "session_start", "n_events")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    // the streaming form only emits CLOSED sessions (the last session
    // per user stays open in state), so compare on the closed subset
    val lastPerUser = Streams.sessionize(events)
      .groupBy("user_id").agg(max("session_id").as("last_sid"))
    val closedBatch = Streams.sessionize(events)
      .join(lastPerUser, Seq("user_id"))
      .filter(col("session_id") < col("last_sid"))
      .select("user_id", "session_start", "n_events")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet

    val q = Streams.sessionizeStream(spark, stagedStream)
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sessions_out")
        .select("user_id", "session_start", "n_events")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
      // single micro-batch ⇒ closed sessions must match the batch ones
      assert(streamed == closedBatch,
        s"streamed=${streamed.size} closedBatch=${closedBatch.size}")
    } finally q.stop()
  }

  test("multimodal meta extract preserves row count and is deterministic") {
    import graft.multimodal.Multimodal
    val docs = Tables.documents(spark, sf)
    val meta1 = Multimodal.extractMeta(spark, Multimodal.withPayload(docs))
      .collect().map(_.toSeq).toSet
    val meta2 = Multimodal.extractMeta(spark, Multimodal.withPayload(docs))
      .collect().map(_.toSeq).toSet
    assert(meta1 == meta2 && meta1.size == docs.count())
  }

  test("multimodal headers are real: ImageIO/javax parse what we synthesize") {
    import graft.multimodal.Multimodal
    import spark.implicits._
    val docs = Seq((0L, "tiny png body"), (1L, "wav body x"), (2L, "mp4 body"))
      .toDF("doc_id", "text")
    val rows = Multimodal.withPayload(docs)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload")).toMap
    // PNG: the stdlib decoder must read OUR planted dimensions straight
    // from the signature+IHDR (proof the header is real, not header-ish)
    val pngStream = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(rows(0L)))
    val readers = javax.imageio.ImageIO.getImageReaders(pngStream)
    assert(readers.hasNext, "stdlib found no reader for the synthesized PNG")
    val reader = readers.next()
    reader.setInput(pngStream)
    val blen0 = "tiny png body".getBytes("UTF-8").length
    assert(reader.getWidth(0) == 64 + blen0 % 640)
    assert(reader.getHeight(0) == 48 + (blen0 * 7) % 480)
    // WAV: RIFF/WAVE magic and the LE sample-rate field at offset 24
    val wav = rows(1L)
    assert(new String(wav.slice(0, 4), "US-ASCII") == "RIFF")
    assert(new String(wav.slice(8, 12), "US-ASCII") == "WAVE")
    val blen1 = "wav body x".getBytes("UTF-8").length
    val sr = java.nio.ByteBuffer.wrap(wav.slice(24, 28))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    assert(sr == 8000 + (blen1 % 8) * 4000)
    // MP4: ftyp box type at offset 4, moov at 20, tkhd width 16.16
    val mp4 = rows(2L)
    assert(new String(mp4.slice(4, 8), "US-ASCII") == "ftyp")
    assert(new String(mp4.slice(20, 24), "US-ASCII") == "moov")
    val blen2 = "mp4 body".getBytes("UTF-8").length
    val w = java.nio.ByteBuffer.wrap(mp4.slice(116, 120)).getInt
    assert(w == (64 + blen2 % 640) * 65536)
  }

  test("corrupt magic quarantines to the error column; body survives") {
    import graft.multimodal.Multimodal
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, md5, encode}
    val docs = Seq((0L, "corrupt me"), (1L, "clean wav"), (5L, "also clean"))
      .toDF("doc_id", "text")
    val meta = Multimodal.extractMeta(spark,
        Multimodal.withCorruption(Multimodal.withPayload(docs), everyN = 97))
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(2)), Option(r.get(7)))).toMap
    // doc 0 corrupt (0 % 97 == 0): no format, typed error; others clean
    assert(meta(0L) == (None, Some("unknown container magic")))
    assert(meta(1L) == (Some("WAV"), None))
    assert(meta(5L) == (Some("MP4"), None))
    // body() strips exactly the header even on corrupt payloads' clean
    // siblings: md5(body) == md5(text bytes) for every clean row
    val m = Multimodal.withPayload(docs)
      .select(col("doc_id"), md5(Multimodal.body(col("payload"))).as("h"))
      .join(docs.select(col("doc_id"),
        md5(encode(col("text"), "UTF-8")).as("want")), "doc_id")
      .collect()
    assert(m.length == 3 && m.forall(r => r.getString(1) == r.getString(2)))
  }

  test("perceptual dedup finds corrupted cross-container copies exact hashing misses") {
    import graft.multimodal.Multimodal
    import graft.streaming.StreamQueries
    val docs = Tables.documents(spark, sf)
    // the mm_phash plant: doc_id < 10 re-landed at +1,000,000 with
    // three corrupted body bytes (the SAME expression the query and
    // oracle use — package-visible so this spec tracks edits)
    val copies = docs.filter(col("doc_id") < 10)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("text", expr(StreamQueries.PhashPerturbSql))
    // exact body hash misses every planted copy...
    val exactPairs = Multimodal.withPayload(docs).select(
        col("doc_id").as("doc_a"), md5(Multimodal.body(col("payload"))).as("h"))
      .join(Multimodal.withPayload(copies).select(
        col("doc_id").as("doc_b"), md5(Multimodal.body(col("payload"))).as("h")),
        "h")
      .count()
    assert(exactPairs == 0L, "corrupted copies must defeat exact hashing")
    // ...while the banded dHash query recovers all 10 planted pairs
    val found = SparkEntry.queries("mm_phash")(spark, sf)
      .filter(col("doc_b") === col("doc_a") + 1000000L && col("doc_a") < 10)
      .count()
    assert(found == 10L, s"phash recovered $found/10 planted pairs")
  }

  test("scene detector finds exactly the planted two-scene boundary") {
    val rows = SparkEntry.queries("mm_scene_cuts")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_cuts") == 1L &&
        r.getAs[Int]("first_cut") == 4,
        s"doc ${r.getAs[Long]("doc_id")}: expected one cut at frame 4, " +
          s"got ${r.getAs[Long]("n_cuts")} at ${r.getAs[Int]("first_cut")}")
    }
  }

  test("streaming KMV sketch equals the batch sketch bit-for-bit") {
    // the merge law (KmvHistSketchSpec) says per-batch bottom-k's
    // fold to the whole-corpus bottom-k; this pins the streaming
    // query actually delivering it: identical k_eff/h_k/n_est/n_exact
    val st = SparkEntry.queries("st_stream_kmv")(spark, sf).collect().toSeq
    val bt = SparkEntry.queries("evt_kmv_distinct")(spark, sf).collect().toSeq
    assert(st == bt, s"streaming sketch $st differs from batch $bt")
  }

  test("streaming upsert: order-independent final state, replay commits nothing") {
    // the two laws the conditional foreachBatch merge buys
    // (Streams.upsertLatestBatch): however the source splits into
    // batches, the table converges to the global per-key argmax; and
    // a re-delivered batch finds nothing strictly newer, so it
    // publishes NO new version — exactly-once over at-least-once
    import spark.implicits._
    val cols = Seq("user_id", "event_id", "ts", "event_type", "value")
    val ev = events.select(cols.map(col): _*)
    def freshTable(): (graft.kv.Catalog, String) = {
      val wh = java.nio.file.Files
        .createTempDirectory("graft_upsert_law").toString
      val cat = new graft.kv.Catalog(spark, wh)
      cat.createTable("user_state", ev.schema, Seq("user_id"))
      (cat, wh)
    }
    def apply(cat: graft.kv.Catalog, slices: Seq[Int]): Unit =
      slices.foreach(i => Streams.upsertLatestBatch(cat, "user_state",
        ev.filter($"event_id" % 3 === i), "user_id", "ts", "event_id"))
    val (catA, _) = freshTable()
    val (catB, whB) = freshTable()
    apply(catA, Seq(0, 1, 2))
    // reversed batch order, through the over-bound distributed merge:
    // a driver-patch bound of 1 row sends every batch of two or more
    // winners (the first, on an empty table, has one per user) there,
    // so the assertions below also check both branches agree
    val boundKey = "spark.graft.merge.driverPatchMaxRows"
    assert(ev.filter($"event_id" % 3 === 2).select("user_id").distinct().count() > 1)
    val prevBound = spark.conf.getOption(boundKey)
    spark.conf.set(boundKey, "1")
    try apply(catB, Seq(2, 1, 0))
    finally prevBound.fold(spark.conf.unset(boundKey))(spark.conf.set(boundKey, _))
    val a = catA.table("user_state").df
    val b = catB.table("user_state").df
    assert(a.except(b).isEmpty && b.except(a).isEmpty,
      "final state depends on batch arrival order")
    val want = ev.groupBy($"user_id")
      .agg(max(struct($"ts", $"event_id")).as("w"))
      .select($"user_id", $"w.event_id".as("event_id"))
    assert(a.select("user_id", "event_id").except(want).isEmpty,
      "final state is not the global per-key argmax")
    // replay batch 1 against B: no strictly-newer row, no new version
    def versions(wh: String): Long = {
      val s = java.nio.file.Files.list(
        java.nio.file.Paths.get(wh, "user_state"))
      try s.filter(_.getFileName.toString.startsWith("data_v")).count()
      finally s.close()
    }
    val before = versions(whB)
    apply(catB, Seq(1))
    assert(versions(whB) == before,
      "a replayed batch published a new version — replay is not idempotent")
  }

  test("streaming CDC keeps fulltext search correct after EVERY micro-batch") {
    // the streaming ∘ analytic-index composition: a file-streamed CDC
    // feed foreachBatch-merges through incrementalMerge, and after
    // EACH batch's commit the segmented read view (base + seg_v −
    // tomb_v, folded dictionary) must serve exactly what a from-
    // scratch index rebuild of the CURRENT table would — per
    // micro-batch freshness, not just per bulk merge. Probes cover a
    // patch-only term, a corpus term, and a rewritten doc whose OLD
    // terms must be tombstone-masked the moment its batch lands.
    import spark.implicits._
    import org.apache.spark.sql.types._
    val wh = java.nio.file.Files
      .createTempDirectory("graft_stream_ftfresh").toString
    val cat = new graft.kv.Catalog(spark, wh)
    cat.createTable("sdocs", StructType(Seq(
      StructField("k", LongType, false),
      StructField("body", StringType, true))), Seq("k"))
    cat.bulkLoad("sdocs", Tables.documents(spark, sf)
      .filter($"doc_id" < 100)
      .select($"doc_id".as("k"), $"text".as("body")), partitions = 2)
    cat.createIndex("sdocs", "ft", "fulltext", Seq("body"))
    // stage three CDC drops as separate files (one per micro-batch):
    // rewrites (incl. a doc rewritten TWICE across batches) + inserts
    val land = java.nio.file.Files.createTempDirectory("graft_ftfresh_land")
    Seq(
      Seq((1L, "graft alpha body"), (900001L, "graft beta insert")),
      Seq((2L, "graft gamma body"), (1L, "graft alpha second form")),
      Seq((900002L, "graft delta insert"), (3L, "graft epsilon body"))
    ).zipWithIndex.foreach { case (rows, i) =>
      val tmp = land.resolve(s"tmp$i")
      rows.toDF("k", "body").coalesce(1).write.parquet(tmp.toString)
      val s = java.nio.file.Files.list(tmp)
      try s.filter(_.getFileName.toString.startsWith("part-")).forEach { p =>
        java.nio.file.Files.move(p, land.resolve(s"drop$i.parquet")); ()
      } finally s.close()
    }
    val probeTerms = Seq(Seq("graft"), Seq("spark"), Seq("alpha"),
      Seq("graft", "insert"))
    def searchVia(postings: org.apache.spark.sql.DataFrame,
                  terms: Seq[String]): Seq[Long] =
      graft.index.FullText.searchAll(cat.table("sdocs").df, "k",
          postings, terms)
        .select($"k").collect().map(_.getLong(0)).toSeq.sorted
    val failures = new java.util.concurrent.CopyOnWriteArrayList[String]()
    var batches = 0
    val q = spark.readStream
      .schema(StructType(Seq(
        StructField("k", LongType, false),
        StructField("body", StringType, true))))
      .option("maxFilesPerTrigger", 1).parquet(land.toString)
      .writeStream.foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) =>
        if (!batch.isEmpty) {
          cat.incrementalMerge("sdocs", batch)
          batches += 1
          val segView = cat.indexData("sdocs", "ft", "fulltext")
          val rebuilt = graft.index.FullText.buildPostings(
            cat.table("sdocs").df, "k", "body")
          probeTerms.foreach { ts =>
            val (got, want) = (searchVia(segView, ts), searchVia(rebuilt, ts))
            if (got != want)
              failures.add(s"batch $batches terms $ts: $got != $want"): Unit
          }
          // folded dictionary freshness rides the same per-batch gate
          val dictGot = cat.indexDictionary("sdocs", "ft", "fulltext")
            .filter($"term" === "graft").select($"df")
            .collect().map(_.getLong(0)).toSeq
          val dictWant = rebuilt.filter($"term" === "graft")
            .count()
          if (dictGot != Seq(dictWant))
            failures.add(s"batch $batches dict df: $dictGot != $dictWant"): Unit
        }
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(batches >= 3, s"expected >=3 micro-batches, got $batches")
    assert(failures.isEmpty, s"per-batch index staleness: $failures")
    // end state: the twice-rewritten doc serves only its final form
    val finalView = cat.indexData("sdocs", "ft", "fulltext")
    assert(searchVia(finalView, Seq("second")) == Seq(1L))
    assert(!searchVia(finalView, Seq("alpha")).isEmpty &&
      searchVia(finalView, Seq("alpha")) == Seq(1L))
  }
}
