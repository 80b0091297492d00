package graft.streaming

import graft.Tables
import graft.multimodal.Multimodal
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SparkEntry wiring for SURVEY.md §2 "Streaming" + "multimodal".
  * Streaming transforms run here in batch mode (same plan) so the
  * DuckDB oracle can check them; genuine readStream runs live in
  * StreamingSpec. */
object StreamQueries {

  /** Run a streaming frame to a memory sink and hand back the sink's
    * rows as a BATCH frame the driver can write/compare. Sink names
    * carry a run-scoped counter so two CONCURRENT runs of the same
    * key — parallel suites sharing the session — never race one
    * queryName; once the stream drains, the sink's rows are
    * materialized into a local batch frame and the temp view is
    * dropped IMMEDIATELY, inside this run. That keeps driver memory
    * per-run (bench reps release each rep's sink store; the old
    * scheme pinned every uuid-named table for the JVM's lifetime)
    * without the drop-previous-at-next-start window where run B
    * could drop run A's still-executing view. The sink already held
    * the full result on the driver, so the collect adds no memory
    * class — and these are query RESULTS, driver-sized by
    * construction. */
  private val sinkSeq = new java.util.concurrent.atomic.AtomicLong()

  private def runToBatch(s: SparkSession, out: DataFrame,
                         mode: String, key: String): DataFrame = {
    val name = s"graft_sink_${key}_${sinkSeq.incrementAndGet()}"
    // Size state-store/shuffle partitioning to the micro-batch, not the
    // session default: each micro-batch here is one staged file, and at
    // local[32] the 32 state partitions per batch are pure per-batch
    // overhead (~3x wall-clock on these queries). Measured at sf0.1
    // across the four gated streams: 8 partitions 14.0 s, 4 → 11.1 s,
    // 2 → 9.9 s, 1 → 11.5 s (state-store commits per batch fall with
    // the partition count until the loss of parallelism wins) — so 2.
    // A production stream sizes shuffle.partitions to per-batch volume
    // the same way. The partition count is captured by the query at
    // start(), so restoring the session conf afterwards does not
    // affect the running stream.
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    val prevNoData = s.conf.get(
      "spark.sql.streaming.noDataMicroBatches.enabled", "true")
    val q =
      try {
        s.conf.set("spark.sql.shuffle.partitions", "2")
        // No-data micro-batches exist to evict state / emit closed
        // windows eagerly between data arrivals; every gate here emits
        // through DATA batches by construction (append-mode dedup and
        // inner joins emit eagerly; flatMapGroupsWithState runs
        // NoTimeout; the expiry gate stages trailing SENTINEL data
        // batches precisely so its final windows do not depend on a
        // no-data batch — see Tables.eventsStreamExpiry). Leaving them
        // on nearly doubles the micro-batch count (one extra planning
        // + state-commit round per watermark advance) for identical
        // emitted sets, so the gates run with them off — the standard
        // throughput knob for sinks that don't need eager eviction.
        s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
        out.writeStream.format("memory").queryName(name)
          .outputMode(mode).start()
      } finally {
        s.conf.set("spark.sql.shuffle.partitions", prev)
        s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
      }
    try q.processAllAvailable() finally q.stop()
    val sink = s.table(name)
    val rows = sink.collect()
    val schema = sink.schema
    s.catalog.dropTempView(name)
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Fan-out for a heavy NARROW per-row chain ahead of its shuffle
    * (the st_stream_urldedup / mm_audio_fp repartition): derived from
    * the session's own parallelism knobs — the smaller of
    * spark.sql.shuffle.partitions and the cluster's default
    * parallelism — never a hard-coded literal. A constant right for
    * this box (8 or 32) would cap a 1000-executor cluster at that
    * many tasks for exactly the chains whose per-row cost makes the
    * fan-out worth a shuffle; conf-derived, the one knob SURVEY §4
    * promises governs these plans too (PlanSpec pins it). */
  private[graft] def mapFanout(s: SparkSession): Int =
    math.max(1, math.min(
      s.conf.get("spark.sql.shuffle.partitions").toInt,
      s.sparkContext.defaultParallelism))

  /** [[mapFanout]] applied ONLY when the frame's observed scan
    * parallelism is below it (guide §2 — the guard the round-20
    * verdict required): an UNCONDITIONAL repartition ahead of a heavy
    * narrow chain is right when the scan arrives as fewer splits than
    * cores (the local gate corpus is one parquet split), but at real
    * scale the same exchange would (a) shuffle the whole corpus text
    * before any tokenize work and (b) REDUCE map parallelism whenever
    * the scan already has more splits than the fanout. `scanParts` is
    * the caller's measure of the frame's scan width — pass the
    * memoized [[graft.QueryCaches.scanParallelism]] of the base table
    * rather than `df.rdd.getNumPartitions` of the derived frame: the
    * latter physically plans the frame a second time PER CALL, which
    * an A/B measured as a 10-25% tax on every fanned consumer.
    * Batch frames only — a streaming frame cannot expose its
    * partitioning before execution (the per-micro-batch sites keep
    * the unconditional form: a one-file trigger is one split by
    * construction). */
  private[graft] def fanned(s: SparkSession, df: DataFrame,
                            scanParts: Int): DataFrame = {
    val n = mapFanout(s)
    if (scanParts < n) df.repartition(n) else df
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st_stream_agg" -> { (s, d) =>
      import s.implicits._
      // The genuinely-streaming form of st_window_agg: readStream file
      // source (one file per micro-batch) → watermark → tumbling-window
      // stateful aggregation → memory sink. Complete mode emits every
      // window's final state once all input is consumed, which equals
      // the batch aggregation regardless of how the files were split
      // into batches — so the DuckDB batch oracle gates the REAL
      // incremental engine (StateStore updates across batches), not a
      // batch re-plan.
      runToBatch(s, Streams.hourlyTypeAggStream(Tables.eventsStream(s, d)),
          "complete", "st_stream_agg")
        .orderBy($"hour", $"event_type")
    },

    "st_stream_dedup" -> { (s, d) =>
      import s.implicits._
      // Streaming exact dedup through dropDuplicatesWithinWatermark:
      // first occurrence per key is emitted, later duplicates are
      // dropped against the state store across micro-batches. The
      // watermark is set beyond the table's full time span so no dedup
      // state expires mid-run and the emitted set is exactly DISTINCT
      // keys — the SQL-expressible contract the oracle checks (a
      // production ingest would use a bounded watermark and accept
      // re-emission past it). The post-hoc groupBy counts emissions
      // per key: any duplicate that leaks through shows up as n=2, a
      // hash mismatch.
      val key = concat($"event_type", lit("#"),
        ($"user_id" % 100).cast("string"))
      val deduped = Streams.dedupStream(Tables.eventsStream(s, d), "ts",
        key, watermark = "3650 days")
      runToBatch(s, deduped, "append", "st_stream_dedup")
        .groupBy(key.as("k"))
        .agg(count(lit(1)).as("n"))
        .orderBy($"k")
    },

    "st_stream_neardedup" -> { (s, d) =>
      import s.implicits._
      // Streaming ingest dedup by CONTENT fingerprint — the
      // LLM-pipeline intersection of st_stream_dedup (key identity)
      // and dd_simhash (content identity): documents arrive as a
      // file stream, the 64-bit SimHash of the token stream is the
      // dedup key, and a re-ingested copy landing in a LATER
      // micro-batch is suppressed by the state store (the planted
      // copies arrive an hour after their originals — intra-batch
      // distinct cannot catch them). Exact-fingerprint suppression is
      // the production ingest-filter stage; hamming-band near-match
      // would compose the same stream with flatMapGroupsWithState on
      // band keys (the st_stream_sessions machinery). Output is one
      // row per fingerprint with its emission count — any duplicate
      // leaking through shows as n_emitted=2. SimHash isn't
      // SQL-expressible → rows-only; StreamingSpec pins emitted set
      // == batch first-per-fingerprint.
      // fingerprint ONCE as a stream column — it serves as both the
      // dedup key and the post-sink group key (recomputing it after
      // the sink would re-tokenize the whole emitted set)
      val stream = Tables.documentsStream(s, d)
        .withColumn("fp", graft.plans.HashExpressions.simhash64(
          graft.plans.HashExpressions.tokens($"text")))
      val deduped = Streams.dedupStream(stream, "ts", $"fp",
        watermark = "3650 days")
      runToBatch(s, deduped, "append", "st_stream_neardedup")
        .groupBy($"fp").agg(count(lit(1)).as("n_emitted"))
        .orderBy($"fp")
    },

    "st_stream_bloomdedup" -> { (s, d) =>
      import s.implicits._
      // BOUNDED-MEMORY streaming content dedup (Streams.
      // stableBloomDedupStream — the stable-Bloom / rotating-
      // generation filter): the production crawl-frontier shape
      // st_stream_dedup's exact state cannot hold at unbounded ingest
      // — state is buckets × 2 filters CONSTANT however long the
      // stream runs, the explicit trade being a bounded false-positive
      // rate instead of unbounded memory. Same corpus contract as
      // st_stream_neardedup: documents arrive as a file stream, the
      // planted re-ingested copies land in a LATER micro-batch and
      // must be suppressed by filter state (intra-batch distinct
      // can't catch them). At the gate corpus the filters are far
      // undersaturated, so the emitted set equals batch
      // first-per-content exactly (StreamingSpec pins that, plus the
      // saturation/false-positive trade at a deliberately tiny
      // filter). xxhash64 isn't DuckDB-replayable → rows-only.
      val stream = Tables.documentsStream(s, d)
      val emitted = Streams.stableBloomDedupStream(s, stream, $"text")
      runToBatch(s, emitted, "append", "st_stream_bloomdedup")
        .groupBy($"fp").agg(count(lit(1)).as("n_emitted"))
        .orderBy($"fp")
    },

    "st_stream_urldedup" -> { (s, d) =>
      import s.implicits._
      // Streaming URL-level dedup — the crawl-frontier integration of
      // the URL layer (txt_url_canon/txt_host_cap) with the streaming
      // state store: documents arrive as a file stream, each is
      // dressed with its raw URL (the shared deterministic plant; the
      // `source` column rides a broadcast stream-static join), the
      // CANONICAL form is the dedup key, and the planted
      // canon-equivalent re-dressings (doc_id+PlantedIdBase, arriving
      // an hour later in a LATER micro-batch) are suppressed by state
      // — a re-crawled URL variant never re-enters the corpus. The
      // emitted set is exactly the originals, so the full oracle is
      // the batch canonicalization over plain documents.
      // the static dim is CACHED (QueryCaches memo): a stream-static
      // join re-evaluates its static side every micro-batch, and
      // re-reading the parquet per trigger is pure waste — at crawl
      // scale this side is the bounded source/host dim, exactly what
      // you pin in memory
      val src = broadcast(graft.QueryCaches.frame(s"urldedup_src:$d")(
        Tables.documents(s, d).select($"doc_id".as("eff_id"), $"source")))
      // the dressing + canonicalization regex chain is the per-row
      // cost of this stream; a one-file micro-batch arrives as ONE
      // input task, so repartition fans the chain across cores before
      // the dedup shuffle (the standard move before an expensive
      // narrow transform — at crawl scale this is the map-side
      // parallelism knob, the tiny exchange is noise next to the
      // regex work). The fan-out is CONF-DERIVED, not a literal —
      // spark.sql.shuffle.partitions is the one parallelism knob the
      // scale design promises, and a hard-coded 8 right for this box
      // would cap a 1000-executor cluster at 8 tasks.
      // The canonical key is provably non-null (source
      // is a non-null dim column and the dressing is a total string
      // expression), so the dedup skips the null-passthrough branch
      // that would re-run the whole chain a second time per batch.
      val stream = Tables.documentsStream(s, d)
        .withColumn("eff_id", $"doc_id" % Tables.PlantedIdBase)
        .join(src, "eff_id")
        .repartition(mapFanout(s))
        .withColumn("url_raw", expr(graft.functions.TextQueries.UrlRawSql))
        .withColumn("url_canon",
          graft.functions.UrlFunctions.canonicalize($"url_raw"))
      val deduped = Streams.dedupStream(stream, "ts", $"url_canon",
        watermark = "3650 days", keyNonNull = true)
      runToBatch(s, deduped, "append", "st_stream_urldedup")
        .select($"doc_id", $"url_canon")
        .orderBy($"doc_id")
    },

    "st_stream_upsert" -> { (s, d) =>
      import s.implicits._
      // GENUINE streaming ingest into the TRANSACTIONAL catalog — the
      // missing integration between the streaming surface and the COW
      // table store: events arrive as a file stream (one file per
      // micro-batch), and foreachBatch folds each batch into a
      // keyed user_state table through the catalog's real commit path
      // (write lock → incremental merge via the range manifest →
      // version publish). The merge is CONDITIONAL on (ts, event_id)
      // — a row only overwrites a strictly older state — which makes
      // the final table the global argmax per user regardless of how
      // files split into batches AND makes a replayed batch a no-op:
      // the standard idempotent-foreachBatch exactly-once recipe. At
      // 100 TB each micro-batch rewrites only the files its keys
      // touch (patch-sized incremental merge), not the table.
      val cat = new graft.kv.Catalog(s, graft.TempWarehouses.scoped("upsert", d))
      if (cat.tableExists("user_state")) cat.dropTable("user_state")
      val stateCols = Seq("user_id", "event_id", "ts", "event_type", "value")
      val evSchema = Tables.events(s, d).select(stateCols.map(col): _*).schema
      cat.createTable("user_state", evSchema, Seq("user_id"))
      val stream = Tables.eventsStream(s, d)
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      val q =
        try {
          s.conf.set("spark.sql.shuffle.partitions", "2")
          stream.writeStream.foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             _: Long) =>
            Streams.upsertLatestBatch(cat, "user_state",
              batch.select(stateCols.map(col): _*),
              keyCol = "user_id", tsCol = "ts", seqCol = "event_id")
          }.start()
        } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      try q.processAllAvailable() finally q.stop()
      cat.table("user_state").df
        .select(stateCols.map(col): _*).orderBy($"user_id")
    },

    "st_stream_kmv" -> { (s, d) =>
      import s.implicits._
      // Streaming SKETCH maintenance — mergeability IS the streaming
      // story: each micro-batch contributes its own bottom-k of the
      // affine user hashes, the running state folds as bottom-k of
      // the union (the merge law KmvHistSketchSpec pins), so the
      // final sketch is BIT-identical to the batch sketch over the
      // same rows no matter how files split into micro-batches — a
      // genuinely streaming operator under evt_kmv_distinct's full
      // SQL oracle, shared verbatim. Driver state is ≤ k longs: the
      // k-bounded collect is the sketch's whole point (constant
      // memory at any corpus size; a 100 TB ingest keeps the same 64
      // values). The exact count rides along as the error witness,
      // computed batch-side like every sketch gate here.
      val k = 64
      val stream = Tables.eventsStream(s, d)
      var state = scala.collection.immutable.SortedSet.empty[Long]
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      val q =
        try {
          s.conf.set("spark.sql.shuffle.partitions", "2")
          stream.writeStream.foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             _: Long) =>
              val bh = batch
                .select(Sketches.kmvHash(col("user_id")).as("h"))
                .distinct().orderBy(col("h"))
                .limit(k).collect().map(_.getLong(0))
              state = (state ++ bh).take(k)
              ()
          }.start()
        } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      try q.processAllAvailable() finally q.stop()
      val bottom = state.toSeq.toDF("h")
      // sketch-only estimate over the drained state; the exact
      // distinct is the gate-only error witness
      val est = Sketches.kmvEstimate(bottom, Seq.empty, k)
      val exact = Tables.events(s, d)
        .agg(countDistinct($"user_id").as("n_exact"))
      est.crossJoin(exact).select($"k_eff", $"h_k", $"n_est", $"n_exact")
    },

    "st_stream_kll" -> { (s, d) =>
      import s.implicits._
      // Streaming QUANTILE-sketch maintenance — the kllMerge law run
      // as a stream (the st_stream_kmv recipe for the quantile
      // family): each micro-batch contributes its own per-type KLL
      // sketch (the SAME Sketches.kllSketch the batch gate runs), and
      // the driver folds it with the identical integer hash-compaction
      // arithmetic — nested samples make the fold a union + re-filter,
      // so the drained state is BIT-identical to the batch sketch over
      // the same rows no matter how files split into micro-batches,
      // and the gate shares evt_kll_quantiles' full SQL oracle
      // verbatim. Driver state: ≤ cap sampled rows per event type —
      // constant at any corpus size. The exact quantiles ride as the
      // gate-only error witness, batch-side like every sketch gate.
      val cap = 256
      val stream = Tables.eventsStream(s, d)
      // per type: (n, rows of (value, h)) — the folded compactor state
      val state = scala.collection.mutable.Map[
        String, (Long, Vector[(Double, Long)])]()
      def lvlOf(n: Long): Int =
        if (n <= cap) 0
        else 64 - java.lang.Long.numberOfLeadingZeros((n - 1) / cap)
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      val q =
        try {
          s.conf.set("spark.sql.shuffle.partitions", "2")
          stream.writeStream.foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             _: Long) =>
              val bs = Sketches.kllSketch(
                  batch.select($"event_type", $"event_id", $"value"),
                  "value", "event_id", Seq("event_type"), cap)
                .select($"event_type", $"value", $"h", $"n")
                .collect()
              bs.groupBy(_.getString(0)).foreach { case (g, rows) =>
                val nB = rows.head.getLong(3)
                val rowsB = rows.iterator
                  .map(r => (r.getDouble(1), r.getLong(2))).toVector
                val (n0, rows0) = state.getOrElse(g, (0L, Vector.empty))
                val n1 = n0 + nB
                val w1 = 1L << lvlOf(n1)
                state(g) = (n1,
                  (rows0 ++ rowsB).filter { case (_, h) => h % w1 == 0L })
              }
              ()
          }.start()
        } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      try q.processAllAvailable() finally q.stop()
      val drained = state.toSeq.flatMap { case (g, (n, rows)) =>
        val l = lvlOf(n)
        rows.map { case (v, h) => (g, v, h, n, l, 1L << l) }
      }.toDF("event_type", "value", "h", "n", "lvl", "w")
      val est = Sketches.kllQuantiles(drained, Seq("event_type"),
        Seq(25, 50, 75, 95, 99))
      val ev = Tables.events(s, d).select($"event_type", $"event_id", $"value")
      val ranked = ev
        .withColumn("r", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"event_type").orderBy($"value", $"event_id")))
        .withColumn("nn", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"event_type")))
      val pf = Seq(25, 50, 75, 95, 99).toDF("p")
      val exact = ranked.join(broadcast(pf), $"r" * 100 >= $"p" * $"nn")
        .groupBy($"event_type", $"p").agg(min($"value").as("q_exact"))
      est.join(exact, Seq("event_type", "p"))
        .select($"event_type", $"p", $"q_est", $"q_exact")
        .orderBy($"event_type", $"p")
    },

    "st_stream_join" -> { (s, d) =>
      import s.implicits._
      // Stream-stream inner join (watermarked state on BOTH sides):
      // views and purchases arrive as two independent file streams and
      // each view joins the same user's purchases inside a 60-minute
      // attribution window. Inner-join results emit eagerly per
      // micro-batch; the watermark's only job is state expiry, so an
      // over-span watermark (no state expires mid-run) makes the
      // emitted set exactly the batch interval join — the
      // SQL-expressible contract the oracle checks. A production run
      // uses a bounded watermark and state stays (rate × horizon); the
      // time-range join condition is what LETS Spark derive that state
      // bound instead of keeping both streams forever.
      val views = Tables.eventsStreamByType(s, d, "view")
      val purchases = Tables.eventsStreamByType(s, d, "purchase")
      val joined = Streams.attributionJoin(views, purchases,
        horizonMinutes = 60, watermark = "3650 days")
      runToBatch(s, joined, "append", "st_stream_join")
        .select($"user_id", $"view_id", $"purchase_id",
          (unix_micros($"p_ts") - unix_micros($"v_ts")).as("delay_us"), $"value")
        .orderBy($"view_id", $"purchase_id")
    },

    "st_stream_sessions" -> { (s, d) =>
      import s.implicits._
      // CUSTOM-STATE streaming under the gate: flatMapGroupsWithState
      // sessionization (open-session accumulator per user, sessions
      // emitted when a gap-exceeding event closes them) over a
      // time-ordered file stream — the per-key-ordered keyed-log
      // contract the operator documents. A trailing per-user "__flush"
      // sentinel (2 h past the last event, > the 30-min gap) closes
      // every user's final session, so the emitted set is EXACTLY the
      // batch gap-sessionization — sentinel-started sessions stay open
      // in state and are never emitted. State carries genuinely across
      // five micro-batches (four time-range files + the sentinel).
      val sessions = Streams.sessionizeStream(s,
        Tables.eventsStreamOrdered(s, d))
      runToBatch(s, sessions, "append", "st_stream_sessions")
        .select($"user_id", $"session_start", $"n_events")
        .orderBy($"user_id", $"session_start")
    },

    "st_stream_expire" -> { (s, d) =>
      import s.implicits._
      // BOUNDED-watermark gate: unlike st_stream_dedup/join's
      // over-span watermark (state never expires, output == the batch
      // plan), this query runs the PRODUCTION expiry semantics under
      // the oracle. The staged drops replay the first two hours'
      // events as late arrivals AFTER the full table has advanced the
      // watermark to max(ts) − 30 min (Tables.eventsStreamExpiry), so
      // the stateful aggregation must deterministically DROP every
      // replay — their window ends sit days below the watermark — and
      // the emitted append-mode set equals the batch hourly agg over
      // the REAL events alone. A broken expiry (replays accepted, or
      // real windows evicted early) shows up as inflated counts or
      // missing windows — a hash mismatch. Sentinel rows advance the
      // watermark through the watermark node but are filtered before
      // the aggregation.
      val agg = Streams.hourlyTypeAggExpiring(
        Tables.eventsStreamExpiry(s, d), delay = "30 minutes")
      // sentinel groups never pass the final watermark (staged within
      // delay+window of end-of-input); the sink-side filter is the
      // defensive belt — it CANNOT be pushed into the streaming plan
      // (see hourlyTypeAggExpiring's watermark-pushdown note)
      runToBatch(s, agg, "append", "st_stream_expire")
        .filter($"event_type" =!= "__flush")
        .orderBy($"hour", $"event_type")
    },

    "st_window_agg" -> { (s, d) =>
      import s.implicits._
      Streams.hourlyTypeAgg(Tables.events(s, d))
        .orderBy($"hour", $"event_type")
    },

    "st_sessionize" -> { (s, d) =>
      import s.implicits._
      Streams.sessionize(Tables.events(s, d))
        .select($"user_id", $"session_id", $"n_events", $"session_start", $"session_end")
        .orderBy($"user_id", $"session_id")
    },

    "st_asof_join" -> { (s, d) =>
      import s.implicits._
      val ev = Tables.events(s, d)
      val views = ev.filter($"event_type" === "view")
        .select($"event_id", $"user_id", $"ts")
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"ts", $"value", $"event_id".as("p_eid"))
      graft.operators.AsOfJoin.asOf(views, purchases,
          keyCols = Seq("user_id"), leftTime = "ts", rightTime = "ts",
          payload = Seq(("value", "last_purchase_value")),
          tieCols = Seq("p_eid"))
        .orderBy($"event_id")
    },

    "st_asof_nearest" -> { (s, d) =>
      import s.implicits._
      // NEAREST as-of with tolerance (pandas merge_asof
      // direction='nearest' / kdb wj — the attribution rule when
      // cause can land on EITHER side of effect): each view matches
      // the same user's closest purchase within ±30 min, ties to the
      // earlier one. Two union-scan as-of passes (forward = backward
      // over negated epoch micros) — two key shuffles, no inequality
      // join at any scale; the oracle re-derives both directions with
      // ranked range joins and the same tie/tolerance arithmetic.
      val ev = Tables.events(s, d)
      val views = ev.filter($"event_type" === "view")
        .select($"event_id", $"user_id", unix_micros($"ts").as("t"))
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", unix_micros($"ts").as("pt"), $"value",
          $"event_id".as("p_eid"))
      graft.operators.AsOfJoin.asOfNearest(views, purchases,
          keyCols = Seq("user_id"), leftTime = "t", rightTime = "pt",
          payload = Seq(("value", "nearest_purchase_value")),
          tieCols = Seq("p_eid"), tolerance = 1800L * 1000000L,
          deltaCol = "delta_us")
        .filter($"delta_us".isNotNull)
        .select($"event_id", $"user_id", $"nearest_purchase_value", $"delta_us")
        .orderBy($"event_id")
    },

    "sql_pricing" -> { (s, d) =>
      graft.Sql.register(s, d)
      s.sql(
        """SELECT l_returnflag, COUNT(*) AS n,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
          |FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    },

    "sql_lateral" -> { (s, d) =>
      graft.Sql.register(s, d)
      // Correlated LATERAL subquery as SQL TEXT (the front-door form
      // of the q25 groupwise-top-N semantic): per nation, the two
      // richest customers. Exercises Spark's lateral-join
      // decorrelation (DecorrelateInnerQuery turns the per-row LIMIT
      // into a partitioned rank — no per-nation re-execution), which
      // the DataFrame surface can't reach — LATERAL exists only in
      // SQL text. Tie-broken on name for a deterministic total order.
      s.sql(
        """SELECT n.n_name, t.c_name, t.c_acctbal
          |FROM nation n,
          |LATERAL (SELECT c_name, c_acctbal FROM customer
          |         WHERE c_nationkey = n.n_nationkey
          |         ORDER BY c_acctbal DESC, c_name LIMIT 2) t
          |ORDER BY n.n_name, t.c_acctbal DESC, t.c_name""".stripMargin)
    },

    "sql_shingle_stats" -> { (s, d) =>
      graft.Sql.register(s, d)
      s.sql(
        """SELECT size(graft_word_shingles(text, 3)) AS n_shingles,
          |  COUNT(*) AS n_docs
          |FROM documents GROUP BY n_shingles ORDER BY n_shingles""".stripMargin)
    },

    "evt_json_agg" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      Tables.events(s, d)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          sum(get_json_object($"props", "$.k").cast("long")).as("sum_k"),
          sum($"value".cast(DecimalType(18, 4))).cast("double").as("sum_value"))
        .orderBy($"event_type")
    },

    "evt_top_users" -> { (s, d) =>
      import s.implicits._
      val counts = Tables.events(s, d)
        .groupBy($"event_type", $"user_id").agg(count(lit(1)).as("n_events"))
      graft.plans.TopK.perGroup(counts, Seq("event_type"),
          Seq(("n_events", true), ("user_id", false)), 3)
        .orderBy($"event_type", $"n_events".desc, $"user_id")
    },

    "evt_funnel" -> { (s, d) =>
      import s.implicits._
      // view -> purchase funnel: users whose first view precedes their
      // last purchase, with counts of each stage
      val ev = Tables.events(s, d)
      ev.groupBy($"user_id")
        .agg(
          min(when($"event_type" === "view", $"ts")).as("first_view"),
          max(when($"event_type" === "purchase", $"ts")).as("last_purchase"),
          count(when($"event_type" === "view", 1)).as("n_views"),
          count(when($"event_type" === "purchase", 1)).as("n_purchases"))
        .filter($"first_view" < $"last_purchase")
        .select($"user_id", $"n_views", $"n_purchases")
        .orderBy($"user_id")
    },

    "evt_transitions" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // event-type transition matrix (first-order Markov counts): one
      // lag window per user (shuffle on user_id, the natural state
      // key) + one hash agg over the (prev, next) pairs.
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      Tables.events(s, d)
        .select($"user_id", $"event_type", $"ts", $"event_id")
        .withColumn("prev", lag($"event_type", 1).over(w))
        .filter($"prev".isNotNull)
        .withColumnRenamed("event_type", "next")
        .groupBy($"prev", $"next")
        .agg(count(lit(1)).as("n"))
        .orderBy($"prev", $"next")
    },

    "evt_anomaly" -> { (s, d) =>
      import s.implicits._
      // per-user daily-volume anomaly sweep: days whose event count
      // z-scores ≥ 2 against the user's own history. Sufficient stats
      // (n, Σc, Σc²) are exact BIGINTs, so the double z derives from
      // exact integers via an expression tree the oracle mirrors
      // term-for-term — portable bit-for-bit. Two hash shuffles
      // (daily agg, per-user stats); the rejoin is on user_id.
      val daily = Tables.events(s, d)
        .groupBy($"user_id", to_date($"ts").as("day"))
        .agg(count(lit(1)).as("c"))
      val stats = daily.groupBy($"user_id")
        .agg(count(lit(1)).as("n_days"),
          sum($"c").as("sum_c"), sum($"c" * $"c").as("sum_c2"))
        .filter($"n_days" >= 5)
      val variance = ($"sum_c2".cast("double") -
        $"sum_c".cast("double") * $"sum_c".cast("double") / $"n_days") /
        ($"n_days" - 1)
      daily.join(stats, Seq("user_id"))
        .withColumn("variance", variance)
        .filter($"variance" > 0)
        .withColumn("z", round(($"c" - $"sum_c".cast("double") / $"n_days") /
          sqrt($"variance"), 3))
        .filter($"z" >= 2.0)
        .select($"user_id", $"day", $"c".as("n_events"), $"z")
        .orderBy($"user_id", $"day")
    },

    "evt_retention" -> { (s, d) =>
      import s.implicits._
      // weekly cohort retention: users bucketed by first-active week,
      // counted per weeks-since-cohort. Two hash shuffles (user agg,
      // cohort-cell agg); the distinct is per (user, week) so state
      // scales with active users, not events.
      val uw = Tables.events(s, d)
        .select($"user_id", to_date(date_trunc("week", $"ts")).as("wk"))
        .dropDuplicates("user_id", "wk")
      val first = uw.groupBy($"user_id").agg(min($"wk").as("cohort"))
      uw.join(first, "user_id")
        .withColumn("week_n", (datediff($"wk", $"cohort") / 7).cast("int"))
        .groupBy($"cohort", $"week_n")
        .agg(countDistinct($"user_id").as("n_users"))
        .orderBy($"cohort", $"week_n")
    },

    "evt_cms_topk" -> { (s, d) =>
      import s.implicits._
      // Count-Min frequency sketch (Cormode & Muthukrishnan 2005) —
      // the third mergeable sketch family beside the HLL distincts
      // and the Bloom membership filter: d=4 hash rows × w=2048
      // counters, built in ONE corpus scan with map-side combine (the
      // sketch IS a (row, bucket) → count relation, so merging across
      // partitions/streams/days is counter addition for free). The
      // exact top-15 heavy hitters then probe it: estimate = min over
      // rows of the probed counter, with CMS's one-sided guarantee
      // est >= true surfacing as a non-negative overcount column. The
      // row hashes are integer affine maps (mod-2^31 arithmetic) so
      // the DuckDB oracle replays the SKETCH itself exactly — a
      // production key wider than ~31 bits swaps in xxhash64 (same
      // plan, rows-only gate). Build + probe are the production
      // Sketches entry points; the exact top-15 keys/counts are the
      // GATE-ONLY witness (cmsProbeWithWitness).
      cmsProbeWithWitness(s, d,
        Sketches.cmsBuild(Tables.events(s, d), "user_id"))
    },

    "st_stream_cms" -> { (s, d) =>
      import s.implicits._
      // Streaming Count-Min maintenance — the CMS counterpart of
      // st_stream_kmv's merge-law demonstration: each micro-batch
      // builds its own (row, bucket) counter relation, and the
      // running sketch folds by COUNTER ADDITION (the CMS merge
      // operation), so the final counters are bit-identical to the
      // one-scan batch sketch however the files split into batches.
      // State is the d×w counter relation (8,192 rows — CONSTANT at
      // any corpus size), kept distributed and re-materialized per
      // batch; the probe and the full SQL oracle are shared verbatim
      // with evt_cms_topk.
      val stream = Tables.eventsStream(s, d)
      var acc: DataFrame = null
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      val q =
        try {
          s.conf.set("spark.sql.shuffle.partitions", "2")
          stream.writeStream.foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             _: Long) =>
              val counters = Sketches.cmsBuild(batch, "user_id")
              val merged =
                if (acc == null) counters
                else Sketches.cmsMerge(Seq(acc, counters))
              // truncate lineage per batch: the state must stay a
              // bounded leaf, not a growing union tree
              acc = merged.localCheckpoint(true)
              ()
          }.start()
        } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      try q.processAllAvailable() finally q.stop()
      // zero micro-batches (an empty staged source) leaves acc null —
      // probe an EMPTY counter relation instead of NPEing; the probe
      // then correctly reports no estimates
      val counters =
        if (acc != null) acc
        else Seq.empty[(Int, Long, Long)].toDF("r", "bkt", "c")
      cmsProbeWithWitness(s, d, counters)
    },

    "evt_kmv_distinct" -> { (s, d) =>
      import s.implicits._
      // KMV / bottom-k distinct sketch (Bar-Yossef et al. 2002; the
      // DataSketches Theta family's core): keep the k smallest hash
      // values of the key set, estimate distincts from the k-th as
      // (k−1)·M / h_k for hashes uniform on [0, M). The fourth
      // mergeable sketch family (HLL distincts / Bloom membership /
      // CMS frequencies / KMV distincts) — and unlike HLL, exactly
      // oracle-replayable: the same mod-2^31 affine hash as
      // evt_cms_topk, so DuckDB reproduces the sketch hash-for-hash
      // (a production key swaps in xxhash64: same plan, rows-only).
      // Merge = bottom-k of pooled bottom-k's — precisely what the
      // bounded-heap operator's per-partition heaps + final merge
      // compute, so day/stream sketches union for free. The exact
      // count rides along to surface the error, as in evt_cms_topk.
      // production path: Sketches.kmvSketch (one corpus pass) +
      // kmvEstimate (sketch-only — an underfull sketch has seen every
      // value, so its estimate IS the seen count); the exact distinct
      // is the GATE-ONLY error witness
      val k = 64
      val bottom = Sketches.kmvSketch(
        Tables.events(s, d).select(lit(0).as("g"), $"user_id"),
        "user_id", Seq("g"), k)
      val est = Sketches.kmvEstimate(bottom, Seq("g"), k)
      val exact = Tables.events(s, d)
        .agg(countDistinct($"user_id").as("n_exact"))
      est.crossJoin(exact).select($"k_eff", $"h_k", $"n_est", $"n_exact")
    },

    "evt_kmv_intersect" -> { (s, d) =>
      import s.implicits._
      // Theta-sketch SET OPERATIONS over the KMV sketches — the
      // capability that makes bottom-k sketches an algebra, not just
      // a counter (Dasgupta et al. 2016, the DataSketches theta
      // framework): per-event-type bottom-k user sketches intersect
      // pairwise as {h ∈ A∩B : h < θ}, θ = min(θ_A, θ_B), scaled by
      // M/θ — "how many distinct users did BOTH X and Y" for every
      // type pair WITHOUT re-scanning events per pair. The corpus
      // pays one distinct + one bounded-heap pass (the
      // evt_kmv_distinct plan, keyed by type); everything pairwise
      // runs on ≤ k·L sketch rows. Same affine hash ⇒ the oracle
      // replays the sketches hash-for-hash; exact pair counts ride
      // along as the error witness.
      // production path: Sketches.kmvSketch keyed by type (the one
      // corpus pass; the sketch frame feeds θ + both sides of the
      // match join, so it's materialized once — ≤ k·L rows at any
      // corpus size) + Sketches.kmvIntersect (sketch-only: theta
      // frame, L² tiny pairs so zero-overlap pairs still report 0,
      // match join — all on sketch rows). The exact pairwise counts
      // are the GATE-ONLY error witness: the corpus self-join lives
      // here, never in the production entry point (PlanSpec pins the
      // sketch-only plan corpus-free).
      val k = 64
      val bottom = Sketches.kmvSketch(
        Tables.events(s, d).select($"event_type", $"user_id"),
        "user_id", Seq("event_type"), k)
        .localCheckpoint(true)
      val sk = Sketches.kmvIntersect(bottom, "event_type", k)
        .withColumnRenamed("g_a", "type_a").withColumnRenamed("g_b", "type_b")
      val exactTu = Tables.events(s, d)
        .select($"event_type", $"user_id").distinct()
      val exact = exactTu.select($"event_type".as("type_a"), $"user_id")
        .join(exactTu.select($"event_type".as("type_b"), $"user_id"),
          Seq("user_id"))
        .filter($"type_a" < $"type_b")
        .groupBy($"type_a", $"type_b")
        .agg(count(lit(1)).as("n_exact"))
      sk.join(exact, Seq("type_a", "type_b"), "left_outer")
        .select($"type_a", $"type_b", $"n_match", $"n_est",
          coalesce($"n_exact", lit(0L)).as("n_exact"))
        .orderBy($"type_a", $"type_b")
    },

    "evt_kmv_diff" -> { (s, d) =>
      import s.implicits._
      // Theta-sketch A-NOT-B (Sketches.kmvDifference) — the
      // difference operation CLOSING the sketch set algebra
      // (cardinality = evt_kmv_distinct, ∩ = evt_kmv_intersect, ∖ =
      // here, the same completion move idx_bitmap_not made for the
      // bitmap algebra): "how many distinct users did X but never Y"
      // for every DIRECTED type pair, from the same one-corpus-pass
      // bottom-k sketches — every pairwise relation is ≤ k·L sketch
      // rows. Same affine hash ⇒ the oracle replays the sketches
      // hash-for-hash; the exact per-pair difference rides along as
      // the GATE-ONLY error witness (the corpus anti-join lives here,
      // never in the production entry point).
      val k = 64
      val bottom = Sketches.kmvSketch(
        Tables.events(s, d).select($"event_type", $"user_id"),
        "user_id", Seq("event_type"), k)
        .localCheckpoint(true)
      val sk = Sketches.kmvDifference(bottom, "event_type", k)
        .withColumnRenamed("g_a", "type_a").withColumnRenamed("g_b", "type_b")
      // exact witness via inclusion-exclusion: |A∖B| = |A| − |A∩B|
      // (one distinct pass + one self-join — gate-only; the
      // production entry point never touches the corpus pairwise)
      val exactTu = Tables.events(s, d)
        .select($"event_type", $"user_id").distinct()
      val perType = exactTu.groupBy($"event_type")
        .agg(count(lit(1)).as("n_a"))
      val inter = exactTu.select($"event_type".as("type_a"), $"user_id")
        .join(exactTu.select($"event_type".as("type_b"), $"user_id"),
          Seq("user_id"))
        .filter($"type_a" =!= $"type_b")
        .groupBy($"type_a", $"type_b").agg(count(lit(1)).as("n_both"))
      val exactDiff = perType.select($"event_type".as("type_a"), $"n_a")
        .crossJoin(perType.select($"event_type".as("type_b")))
        .filter($"type_a" =!= $"type_b")
        .join(inter, Seq("type_a", "type_b"), "left_outer")
        .select($"type_a", $"type_b",
          ($"n_a" - coalesce($"n_both", lit(0L))).as("n_exact"))
      sk.join(exactDiff, Seq("type_a", "type_b"), "left_outer")
        .select($"type_a", $"type_b", $"n_kept", $"n_est",
          coalesce($"n_exact", lit(0L)).as("n_exact"))
        .orderBy($"type_a", $"type_b")
    },

    "evt_kmv_union" -> { (s, d) =>
      import s.implicits._
      // Theta-sketch UNION (Sketches.kmvUnion) — the operation the
      // theta framework is BUILT around, making the visible algebra
      // complete: cardinality (evt_kmv_distinct), ∩
      // (evt_kmv_intersect), ∖ (evt_kmv_diff), ∪ (here): "how many
      // distinct users did X or Y" for every type pair from the same
      // one-corpus-pass bottom-k sketches — below the common θ each
      // sketch retains its WHOLE sub-θ distinct set, so the pooled
      // distinct count is exact on the sampled region and scales by
      // M/θ; underfull pairs are exact. Every pairwise relation is
      // sketch-bounded; same affine hash ⇒ the oracle replays the
      // sketches hash-for-hash; exact union counts ride along as the
      // GATE-ONLY error witness (inclusion-exclusion over one
      // distinct pass — the corpus never joins pairwise in the
      // production entry point).
      val k = 64
      val bottom = Sketches.kmvSketch(
        Tables.events(s, d).select($"event_type", $"user_id"),
        "user_id", Seq("event_type"), k)
        .localCheckpoint(true)
      val sk = Sketches.kmvUnion(bottom, "event_type", k)
        .withColumnRenamed("g_a", "type_a").withColumnRenamed("g_b", "type_b")
      val exactTu = Tables.events(s, d)
        .select($"event_type", $"user_id").distinct()
      val perType = exactTu.groupBy($"event_type")
        .agg(count(lit(1)).as("n_t"))
      val inter = exactTu.select($"event_type".as("type_a"), $"user_id")
        .join(exactTu.select($"event_type".as("type_b"), $"user_id"),
          Seq("user_id"))
        .filter($"type_a" < $"type_b")
        .groupBy($"type_a", $"type_b").agg(count(lit(1)).as("n_both"))
      val exact = perType.select($"event_type".as("type_a"), $"n_t".as("n_a"))
        .crossJoin(perType.select($"event_type".as("type_b"), $"n_t".as("n_b")))
        .filter($"type_a" < $"type_b")
        .join(inter, Seq("type_a", "type_b"), "left_outer")
        .select($"type_a", $"type_b",
          ($"n_a" + $"n_b" - coalesce($"n_both", lit(0L))).as("n_exact"))
      sk.join(exact, Seq("type_a", "type_b"), "left_outer")
        .select($"type_a", $"type_b", $"n_union", $"n_est",
          coalesce($"n_exact", lit(0L)).as("n_exact"))
        .orderBy($"type_a", $"type_b")
    },

    "evt_quantile_hist" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // Mergeable equi-width histogram quantiles — the sketch answer
      // to "p50/p95/p99 per event type" at 100 TB: the histogram is
      // ONE map-side-combining groupBy on (type, bucket) with bucket
      // = floor(value·4) (width 0.25; ×4 and the quarter-edge are
      // exact in binary and floor is IEEE-identical across engines,
      // so the sketch replays exactly in the oracle — the
      // evt_cms_topk contract for doubles). Merging partitions /
      // days / streams is counter addition. The quantile walk runs
      // over the BOUNDED per-type histogram (the dd_curriculum
      // rule: windows over histograms, never over the event stream)
      // and reports the bucket upper edge — error ≤ the bucket
      // width, the standard fixed-width-histogram bound. Rank
      // arithmetic stays integral (100·cum ≥ p·n) so no engine ever
      // rounds a target.
      val hist = Tables.events(s, d)
        .groupBy($"event_type", floor($"value" * 4).as("bucket"))
        .agg(count(lit(1)).as("c"))
      val cum = hist
        .withColumn("cum", sum($"c").over(
          Window.partitionBy($"event_type").orderBy($"bucket")))
        .withColumn("n", sum($"c").over(Window.partitionBy($"event_type")))
      val ps = Seq(50, 95, 99).toDF("p")
      cum.join(broadcast(ps), $"cum" * 100 >= $"p" * $"n")
        .groupBy($"event_type", $"p", $"n")
        .agg(min($"bucket").as("bucket"))
        .select($"event_type", $"p", $"n", $"bucket",
          (($"bucket" + 1) / lit(4.0)).as("q_est"))
        .orderBy($"event_type", $"p")
    },

    "evt_kll_quantiles" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // KLL-family bounded-rank quantile sketch (Sketches.kllSketch —
      // hash-driven compactor levels, merge = union + re-filter, the
      // mergeable quantile family beside evt_quantile_hist's
      // equi-width histogram): one corpus pass builds a ≤ cap-row
      // sample per event type whose weighted ranks answer any
      // percentile; the affine row-hash makes the whole sketch replay
      // bit-for-bit in the oracle (the evt_kmv recipe). The exact
      // quantiles ride along as the GATE-ONLY error witness (the
      // corpus-wide window lives here, never in the sketch path);
      // KllSpec pins the rank-error envelope and the streaming
      // merge == batch law.
      val ev = Tables.events(s, d).select($"event_type", $"event_id", $"value")
      val sk = Sketches.kllSketch(ev, "value", "event_id",
        Seq("event_type"), cap = 256)
      val est = Sketches.kllQuantiles(sk, Seq("event_type"),
        Seq(25, 50, 75, 95, 99))
      val ranked = ev
        .withColumn("r", row_number().over(
          Window.partitionBy($"event_type").orderBy($"value", $"event_id")))
        .withColumn("nn", count(lit(1)).over(
          Window.partitionBy($"event_type")))
      val pf = Seq(25, 50, 75, 95, 99).toDF("p")
      val exact = ranked.join(broadcast(pf), $"r" * 100 >= $"p" * $"nn")
        .groupBy($"event_type", $"p").agg(min($"value").as("q_exact"))
      est.join(exact, Seq("event_type", "p"))
        .select($"event_type", $"p", $"q_est", $"q_exact")
        .orderBy($"event_type", $"p")
    },

    "evt_hll_users" -> { (s, d) =>
      import s.implicits._
      // mergeable distinct-count sketches (DataSketches HLL, Spark
      // built-ins): per-event-type user sketches, with the global row
      // derived by UNIONING the per-type sketches — never re-scanning
      // the events. At 100 TB this mergeability is the whole point:
      // sketch once at the finest grain, roll up to any coarser cell
      // with sketch unions (exact distincts don't re-aggregate).
      // Estimates are deterministic (fixed hash, no rng) but engine-
      // specific → rows-only; HllMergeSpec pins accuracy vs exact
      // distincts and union-vs-direct consistency.
      val perType = Tables.events(s, d)
        .groupBy($"event_type").agg(hll_sketch_agg($"user_id").as("sk"))
      val global = perType.agg(hll_union_agg($"sk").as("sk"))
        .select(lit("ALL").as("event_type"), $"sk")
      perType.select($"event_type", $"sk").unionByName(global)
        .select($"event_type", hll_sketch_estimate($"sk").as("approx_users"))
        .orderBy($"event_type")
    },

    "mm_grouped_stats" -> { (s, d) =>
      import s.implicits._
      // per-container corpus stats with the corrupt payloads
      // quarantined into their own bucket — the triage view a media
      // pipeline runs before spending decode cycles
      Multimodal.extractMeta(s, Multimodal.withCorruption(
          Multimodal.withPayload(Tables.documents(s, d))))
        .groupBy(coalesce($"format", lit("CORRUPT")).as("format"))
        .agg(count(lit(1)).as("n_docs"),
          sum($"byte_len").cast("long").as("total_bytes"),
          max($"width").as("max_width"),
          max($"sample_rate").as("max_rate"))
        .orderBy($"format")
    },

    "mm_meta_extract" -> { (s, d) =>
      import s.implicits._
      // parse REAL container headers (PNG IHDR / WAV fmt / MP4 tkhd)
      // back out of the payload bytes; corrupt magics land in the
      // typed error column, never a task failure
      Multimodal.extractMeta(s, Multimodal.withCorruption(
          Multimodal.withPayload(Tables.documents(s, d))))
        .orderBy($"doc_id")
    },

    "mm_frame_sample" -> { (s, d) =>
      import s.implicits._
      Multimodal.sampleFrames(s, Multimodal.withPayload(Tables.documents(s, d)))
        .toDF().orderBy($"doc_id", $"frame_idx")
    },

    "mm_dedup" -> { (s, d) =>
      import s.implicits._
      // binary-payload exact dedup — the image-dedup shape: hash the
      // container-stripped BODY bytes, one hash shuffle, keep the
      // smallest id. Hashing the body (not the whole payload) makes
      // the dedup container-invariant: the planted copies land in a
      // different container (doc_id+1e6 flips doc_id mod 3) yet still
      // collapse, the way a re-muxed video or re-wrapped image should.
      val docs = Tables.documents(s, d)
      val planted = docs.unionByName(docs.filter($"doc_id" < 10)
        .withColumn("doc_id", $"doc_id" + 1000000L))
      Multimodal.withPayload(planted)
        .groupBy(md5(Multimodal.body($"payload")).as("h"))
        .agg(min($"doc_id").as("keeper"), count(lit(1)).as("n_copies"))
        .filter($"n_copies" > 1)
        .orderBy($"keeper")
    },

    "mm_scene_cuts" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // VIDEO SHOT-BOUNDARY detection plumbing (the pre-step that
      // decides WHERE mm_frame_sample should sample): per-frame
      // 16-bit gradient signatures, a cut wherever consecutive
      // frames' signatures differ. Ground truth is constructed
      // in-query: each doc becomes an 8-frame "video" of two still
      // scenes (one 64-byte block repeated 4×, then a second block
      // 4×), so the detector must report exactly one cut at frame 4
      // unless the doc's two blocks coincide. The frame DECODE is the
      // deterministic byte-sampling stub (ascii of frame bytes — the
      // mm_phash contract), so the whole detector replays in SQL; a
      // real codec slots into the same per-frame signature seam. One
      // corpus scan, per-doc lag window partitioned on doc_id — no
      // shuffle wider than the frame table.
      val docs = Tables.documents(s, d).filter(length($"text") >= 128)
      val vb = concat((0 until 4).map(_ => substring($"text", 1, 64)) ++
        (0 until 4).map(_ => substring($"text", 65, 64)): _*)
      def sig(f: Column): Column = (0 until 16).map { j =>
        when(ascii(col("vb").substr(f * 64 + j + 1, lit(1))) <
          ascii(col("vb").substr(f * 64 + j + 2, lit(1))),
          lit(1 << j)).otherwise(lit(0))
      }.reduce(_ + _)
      val frames = docs.select($"doc_id", vb.as("vb"))
        .select($"doc_id", explode(sequence(lit(0), lit(7))).as("f"),
          $"vb")
        .select($"doc_id", $"f", sig($"f").as("sig"))
      val w = Window.partitionBy($"doc_id").orderBy($"f")
      frames.withColumn("prev", lag($"sig", 1).over(w))
        .withColumn("cut",
          when($"prev".isNotNull && $"prev" =!= $"sig", 1).otherwise(0))
        .groupBy($"doc_id")
        .agg(sum($"cut").cast("long").as("n_cuts"),
          (sum($"cut") + 1).cast("long").as("n_scenes"),
          min(when($"cut" === 1, $"f")).cast("int").as("first_cut"))
        .orderBy($"doc_id")
    },

    "mm_phash" -> { (s, d) =>
      import s.implicits._
      // PERCEPTUAL near-dup for media — what mm_dedup's exact body
      // hash cannot do: the planted copies here land in a different
      // container AND carry three corrupted body bytes (a re-encoded
      // thumbnail, a bit-flipped frame), so exact hashing misses them
      // while the 64-bit dHash (Multimodal.dhashBands) differs in at
      // most a few gradient bits. Candidates collide on one of four
      // 16-bit bands (the dd_simhash recipe — never all-pairs), kept
      // at hamming ≤ 6. The deterministic byte-sampling decode stub
      // makes the WHOLE pipeline oracle-replayable — a full SQL gate
      // for a perceptual-hash operator.
      // ASCII enforced, not assumed: dhashBands samples payload BYTES
      // while the oracle samples text CHARS via ascii(substr(...)) —
      // they coincide only when every char is one byte. The corpus is
      // pure ASCII today; the filter (same predicate in the oracle)
      // makes that a pinned contract instead of a silent coincidence,
      // so a future multibyte doc drops out of BOTH sides rather than
      // hash-mismatching the gate.
      val docs = Tables.documents(s, d)
        .filter(octet_length($"text") === length($"text"))
      val planted = docs.unionByName(docs.filter($"doc_id" < 10)
        .withColumn("doc_id", $"doc_id" + 1000000L)
        .withColumn("text", expr(PhashPerturbSql)))
      // TWO materialization points (the mm_audio_fp grid/bands split,
      // now on the image arm too): the 72-sample GRID checkpoints
      // first so neither the payload synthesis nor the body-strip
      // when-chain inlines into the 144 byte-sample sites of the
      // unrolled dHash — that inlined tree's per-plan Catalyst
      // analysis (~5k nodes), not row work, was this query's cost at
      // gate sizes — then the small bands frame checkpoints for the
      // two join sides and the hamming arrays (36 bytes/row).
      val grid = Multimodal.withPayload(fanned(s, planted,
          graft.QueryCaches.scanParallelism(s, d, "documents")))
        .select($"doc_id",
          Multimodal.dhashSampleGrid(Multimodal.body($"payload")).as("grid"))
        .localCheckpoint(true)
      val ph = grid
        .select($"doc_id", Multimodal.dhashBandsFromGrid($"grid").as("bands"))
        .localCheckpoint(true)
      val banded = ph.select($"doc_id", $"bands", posexplode($"bands"))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
      // the candidate join shuffles on the band key — the 100 TB plan
      // (both sides are corpus-sized); the hint also stops Catalyst
      // from broadcasting a side whose size ESTIMATE is inflated by
      // the payload-synthesis lineage it would re-execute
      banded.as("a").join(banded.as("b").hint("shuffle_hash"),
          $"a.band" === $"b.band" && $"a.bh" === $"b.bh" &&
            $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
          $"a.bands".as("ba"), $"b.bands".as("bb"))
        .dropDuplicates("doc_a", "doc_b")
        .withColumn("hamming", (0 until 4).map(i =>
            bit_count(element_at($"ba", i + 1)
              .bitwiseXOR(element_at($"bb", i + 1)))).reduce(_ + _)
          .cast("int"))
        .filter($"hamming" <= 6)
        .select($"doc_a", $"doc_b", $"hamming")
        .orderBy($"doc_a", $"doc_b")
    },

    "mm_audio_fp" -> { (s, d) =>
      import s.implicits._
      // AUDIO fingerprint near-dup — the WAV arm of the perceptual
      // family (mm_phash covers images): chromaprint-style banded
      // spectral-gradient fingerprints (Multimodal.audioFpBands) over
      // the CONTAINER-STRIPPED body, candidates from 16-bit band
      // collisions (never all-pairs), hamming ≤ 6 cut. The plants pin
      // exactly what exact body/payload hashing cannot catch:
      // +1000000 re-containers the SAME audio (1e6 ≡ 1 mod 3 shifts
      // the container class, so the payload bytes differ while the
      // stripped body is identical — hamming 0), +2000000 re-encodes
      // with three corrupted body bytes AND a new container (small
      // hamming, must still collide). Deterministic byte-sampling
      // decode stub ⇒ the whole detector replays in SQL (the mm_phash
      // recipe on the audio shard).
      val docs = Tables.documents(s, d)
        .filter(octet_length($"text") === length($"text"))
        .filter($"doc_id" % 3 === 1) // the audio shard of the corpus
      val seed = docs.filter($"doc_id" < 30)
      val planted = docs
        .unionByName(seed.withColumn("doc_id", $"doc_id" + 1000000L))
        .unionByName(seed.withColumn("doc_id", $"doc_id" + 2000000L)
          .withColumn("text", expr(PhashPerturbSql)))
      // TWO materialization points (the mm_phash rule, applied twice):
      // the energy GRID checkpoints first so neither the payload
      // synthesis nor the 240 byte-sample sites inline into the 128
      // gradient-bit references (the fingerprint's cost at gate sizes
      // is Janino compile time per plan — the split halves the
      // unrolled tree), then the bands frame checkpoints for the two
      // join sides
      // repartition BEFORE the heavy per-row chain (the
      // st_stream_urldedup rule): the audio shard arrives as one or
      // two parquet splits, and 240 byte-sample sites × header
      // synthesis per row at one-task parallelism IS the query's cost
      // — fanning the narrow work across cores is the standard move,
      // and the tiny shuffle is noise next to it. Conf-derived fan
      // (the one parallelism knob), never a literal.
      val grid = graft.multimodal.Multimodal.withPayload(fanned(s, planted,
          graft.QueryCaches.scanParallelism(s, d, "documents")))
        .select($"doc_id",
          graft.multimodal.Multimodal.audioEnergyGrid(
            graft.multimodal.Multimodal.body($"payload")).as("grid"))
        .localCheckpoint(true)
      val fp = grid
        .select($"doc_id",
          graft.multimodal.Multimodal.audioFpBandsFromGrid($"grid").as("bands"))
        .localCheckpoint(true)
      val banded = fp.select($"doc_id", $"bands", posexplode($"bands"))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
      banded.as("a").join(banded.as("b").hint("shuffle_hash"),
          $"a.band" === $"b.band" && $"a.bh" === $"b.bh" &&
            $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
          $"a.bands".as("ba"), $"b.bands".as("bb"))
        .dropDuplicates("doc_a", "doc_b")
        .withColumn("hamming", (0 until 4).map(i =>
            bit_count(element_at($"ba", i + 1)
              .bitwiseXOR(element_at($"bb", i + 1)))).reduce(_ + _)
          .cast("int"))
        .filter($"hamming" <= 6)
        .select($"doc_a", $"doc_b", $"hamming")
        .orderBy($"doc_a", $"doc_b")
    },

    "mm_pair_dedup" -> { (s, d) =>
      import s.implicits._
      // CROSS-MODAL pair-level dedup — the (image, caption) training-
      // pair contamination check: a pair is a duplicate ONLY when
      // BOTH modalities near-match (LAION-style pair dedup). Image
      // arm = mm_phash's banded dHash over the container-stripped
      // body (hamming ≤ 6, candidates from band collisions — never
      // all-pairs); caption arm = token-set Jaccard ≥ 0.8 computed
      // ONLY for image-candidate pairs (a per-pair projection, so
      // the composition adds no corpus-sized join). Plants pin both
      // negatives: +2e6 = SAME image with an unrelated caption, +3e6
      // = SAME caption with a reversed-bytes image — neither may
      // dedup — while +1e6 (3 corrupted bytes + one appended caption
      // token) must. Deterministic byte-sampling decode stub ⇒ the
      // whole cross-modal composition replays in SQL.
      val docs = Tables.documents(s, d)
        .filter(octet_length($"text") === length($"text"))
      val base = docs.select($"doc_id", $"text",
        substring($"text", 1, 80).as("caption"))
      val seed = base.filter($"doc_id" < 10)
      val pairs = base
        .unionByName(seed.select(($"doc_id" + 1000000L).as("doc_id"),
          expr(PhashPerturbSql).as("text"),
          concat($"caption", lit(" graftdup")).as("caption")))
        .unionByName(seed.select(($"doc_id" + 2000000L).as("doc_id"), $"text",
          concat(lit("unrelated pair caption number "),
            $"doc_id".cast("string")).as("caption")))
        .unionByName(seed.select(($"doc_id" + 3000000L).as("doc_id"),
          reverse($"text").as("text"), $"caption"))
      // grid → bands split, checkpointed like mm_phash (the payload
      // synthesis and body-strip chain must not inline into every
      // byte-sample site — per-plan analysis cost, see dhashSampleGrid);
      // withPayload projects to the media columns, so the caption
      // rides back on one doc_id equi-join — a single hash shuffle
      // at any scale
      val grid = Multimodal.withPayload(pairs)
        .select($"doc_id",
          Multimodal.dhashSampleGrid(Multimodal.body($"payload")).as("grid"))
        .localCheckpoint(true)
      val ph = grid
        .select($"doc_id", Multimodal.dhashBandsFromGrid($"grid").as("bands"))
        .join(pairs.select($"doc_id", $"caption"), Seq("doc_id"))
        .localCheckpoint(true)
      val banded = ph.select($"doc_id", $"caption", $"bands",
          posexplode($"bands"))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
      def toks(c: Column): Column = array_distinct(
        filter(split(lower(c), "[^a-z0-9]+"), t => length(t) > 0))
      banded.as("a").join(banded.as("b").hint("shuffle_hash"),
          $"a.band" === $"b.band" && $"a.bh" === $"b.bh" &&
            $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
          $"a.bands".as("ba"), $"b.bands".as("bb"),
          $"a.caption".as("ca"), $"b.caption".as("cb"))
        .dropDuplicates("doc_a", "doc_b")
        .withColumn("hamming", (0 until 4).map(i =>
            bit_count(element_at($"ba", i + 1)
              .bitwiseXOR(element_at($"bb", i + 1)))).reduce(_ + _)
          .cast("int"))
        .filter($"hamming" <= 6)
        .withColumn("ta", toks($"ca")).withColumn("tb", toks($"cb"))
        .withColumn("jaccard",
          size(array_intersect($"ta", $"tb")).cast("double") /
            size(array_union($"ta", $"tb")))
        .filter($"jaccard" >= 0.8)
        .select($"doc_a", $"doc_b", $"hamming",
          round($"jaccard", 4).as("jaccard"))
        .orderBy($"doc_a", $"doc_b")
    },
  )

  /** GATE-ONLY witness probe: the exact top-15 heavy hitters (a
    * corpus aggregation) supply both the probe keys and the true
    * counts, so the one-sided overcount (est ≥ true) is visible to
    * the oracle. The probe itself is the production sketch-only
    * [[Sketches.cmsProbe]] — callers with their own keys never pay
    * this corpus pass. */
  private def cmsProbeWithWitness(s: SparkSession, d: String,
                                  counters: DataFrame): DataFrame = {
    import s.implicits._
    val top = Tables.events(s, d).groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"))
      .orderBy($"n_events".desc, $"user_id").limit(15)
    Sketches.cmsProbe(counters, top, "user_id")
      .select($"user_id", $"n_events", $"n_est",
        ($"n_est" - $"n_events").as("overcount"))
      .orderBy($"n_events".desc, $"user_id")
  }

  /** The CMS heavy-hitter contract, shared verbatim by the batch
    * (evt_cms_topk) and streaming (st_stream_cms) flavors — CMS merge
    * is counter addition, so both compute identical counters. */
  private val CmsTopkSql =
    """WITH b AS (SELECT * FROM (VALUES (0, 2654435761, 97),
      |    (1, 2246822519, 1031), (2, 3266489917, 193),
      |    (3, 668265263, 769)) AS t(r, a, bo)),
      |pairs AS (SELECT b.r,
      |    (((e.user_id % 2147483647) * b.a + b.bo) % 2147483647) % 2048
      |      AS bkt
      |  FROM events e CROSS JOIN b),
      |sketch AS (SELECT r, bkt, COUNT(*) AS c FROM pairs GROUP BY r, bkt),
      |top AS (SELECT user_id, n_events FROM (
      |    SELECT user_id, COUNT(*) AS n_events,
      |      ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, user_id) AS rn
      |    FROM events GROUP BY user_id) WHERE rn <= 15),
      |probes AS (SELECT t.user_id, t.n_events, b.r,
      |    (((t.user_id % 2147483647) * b.a + b.bo) % 2147483647) % 2048
      |      AS bkt
      |  FROM top t CROSS JOIN b)
      |SELECT p.user_id, p.n_events, MIN(s.c) AS n_est,
      |  CAST(MIN(s.c) - p.n_events AS BIGINT) AS overcount
      |FROM probes p JOIN sketch s ON s.r = p.r AND s.bkt = p.bkt
      |GROUP BY p.user_id, p.n_events
      |ORDER BY p.n_events DESC, p.user_id""".stripMargin

  /** The KMV distinct-sketch contract, shared verbatim by the batch
    * (evt_kmv_distinct) and streaming (st_stream_kmv) flavors — the
    * sketch's merge law guarantees they compute the same bits. */
  private val KmvDistinctSql =
    """WITH h AS (SELECT DISTINCT
      |    ((user_id % 2147483647) * 2654435761 + 97) % 2147483647 AS h
      |  FROM events),
      |bottom AS (SELECT h FROM h ORDER BY h LIMIT 64),
      |kth AS (SELECT MAX(h) AS h_k, COUNT(*) AS k_eff FROM bottom),
      |exact AS (SELECT COUNT(DISTINCT user_id) AS n_exact FROM events)
      |SELECT k_eff, h_k,
      |  CASE WHEN k_eff < 64 THEN k_eff
      |       ELSE (CAST(63 AS BIGINT) * 2147483647) // greatest(h_k, 1)
      |  END AS n_est,
      |  n_exact
      |FROM kth, exact""".stripMargin

  /** Three in-place byte corruptions (positions 11/23/37), shared
    * verbatim by the Spark plant, the DuckDB oracle, and the spec. */
  private[graft] val PhashPerturbSql =
    "concat(substr(text,1,10),'q',substr(text,12,11),'z'," +
      "substr(text,24,13),'x',substr(text,38))"

  /** The KLL-quantile contract, shared verbatim by the batch gate
    * (evt_kll_quantiles) and the streaming fold (st_stream_kll) —
    * the merge law makes the streamed sketch bit-identical to the
    * batch sketch, so one oracle gates both (the hourlyAggSql
    * contract). */
  private val kllQuantilesSql =
    """WITH n AS (
      |  SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1),
      |lv AS (
      |  SELECT event_type, n,
      |    CASE WHEN n <= 256 THEN 0
      |         ELSE length(bin(CAST(floor((n - 1) / 256) AS BIGINT))) END AS lvl
      |  FROM n),
      |sk AS (
      |  SELECT e.event_type, e.value,
      |    ((e.event_id % 2147483647) * 2654435761 + 97) % 2147483647 AS h,
      |    lv.n, CAST(pow(2, lv.lvl) AS BIGINT) AS w
      |  FROM events e JOIN lv USING (event_type)
      |  WHERE (((e.event_id % 2147483647) * 2654435761 + 97) % 2147483647)
      |        % CAST(pow(2, lv.lvl) AS BIGINT) = 0),
      |cum AS (
      |  SELECT event_type, value, n,
      |    CAST(SUM(w) OVER (PARTITION BY event_type ORDER BY value, h)
      |      AS BIGINT) AS cumw,
      |    CAST(SUM(w) OVER (PARTITION BY event_type) AS BIGINT) AS totw
      |  FROM sk),
      |ps AS (SELECT CAST(unnest([25, 50, 75, 95, 99]) AS INT) AS p),
      |est AS (
      |  SELECT event_type, p, MIN(value) AS q_est
      |  FROM cum, ps WHERE cumw * 100 >= least(p * n, totw * 100)
      |  GROUP BY event_type, p),
      |ranked AS (
      |  SELECT event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id)
      |      AS r,
      |    COUNT(*) OVER (PARTITION BY event_type) AS nn
      |  FROM events),
      |exact AS (
      |  SELECT event_type, p, MIN(value) AS q_exact
      |  FROM ranked, ps WHERE r * 100 >= p * nn
      |  GROUP BY event_type, p)
      |SELECT event_type, p, q_est, q_exact
      |FROM est JOIN exact USING (event_type, p)
      |ORDER BY event_type, p""".stripMargin

  /** The hourly-agg contract, shared verbatim by the batch and
    * streaming variants — they gate against the SAME SQL by
    * construction, so a future edit cannot silently split them. */
  private val hourlyAggSql =
    """SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      |FROM events GROUP BY hour, event_type ORDER BY hour, event_type""".stripMargin

  /** The gap-sessionization CTEs (30-min floor-second gap rule),
    * shared by st_sessionize and st_stream_sessions — the two differ
    * only in the final projection. */
  private val sessionCtes =
    """WITH e AS (
      |  SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts FROM events),
      |w AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(ts) OVER uw IS NULL
      |           OR CAST(floor(epoch(ts)) AS BIGINT)
      |            - CAST(floor(epoch(lag(ts) OVER uw)) AS BIGINT) > 1800
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM e WINDOW uw AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, ts,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM w)""".stripMargin

  def oracles: Map[String, String] = Map(
    "st_asof_nearest" ->
      // both directional candidates ranked the way the union-scan
      // carry resolves them (latest/earliest time, then HIGHEST
      // p_eid at equal time — window carry takes the last row in
      // ascending tie order), then the operator's exact choose rule
      """WITH v AS (SELECT event_id, user_id, epoch_us(ts) AS t
        |  FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id, epoch_us(ts) AS pt, value,
        |    event_id AS p_eid
        |  FROM events WHERE event_type = 'purchase'),
        |b AS (SELECT event_id, pt, value FROM (
        |    SELECT v.event_id, p.pt, p.value,
        |      ROW_NUMBER() OVER (PARTITION BY v.event_id
        |        ORDER BY p.pt DESC, p.p_eid DESC) AS rn
        |    FROM v JOIN p ON p.user_id = v.user_id AND p.pt <= v.t)
        |  WHERE rn = 1),
        |f AS (SELECT event_id, pt, value FROM (
        |    SELECT v.event_id, p.pt, p.value,
        |      ROW_NUMBER() OVER (PARTITION BY v.event_id
        |        ORDER BY p.pt ASC, p.p_eid DESC) AS rn
        |    FROM v JOIN p ON p.user_id = v.user_id AND p.pt >= v.t)
        |  WHERE rn = 1),
        |j AS (SELECT v.event_id, v.user_id, v.t,
        |    b.pt AS bt, b.value AS bv, f.pt AS ft, f.value AS fv,
        |    b.pt IS NOT NULL AND v.t - b.pt <= 1800000000 AS bok,
        |    f.pt IS NOT NULL AND f.pt - v.t <= 1800000000 AS fok
        |  FROM v LEFT JOIN b USING (event_id) LEFT JOIN f USING (event_id)),
        |c AS (SELECT event_id, user_id,
        |    CASE WHEN bok AND (NOT fok OR (t - bt) <= (ft - t)) THEN bv
        |         WHEN fok THEN fv END AS nearest_purchase_value,
        |    CASE WHEN bok AND (NOT fok OR (t - bt) <= (ft - t)) THEN bt - t
        |         WHEN fok THEN ft - t END AS delta_us
        |  FROM j)
        |SELECT event_id, user_id, nearest_purchase_value, delta_us
        |FROM c WHERE delta_us IS NOT NULL ORDER BY event_id""".stripMargin,

    // streaming URL dedup emits exactly the originals: every original
    // doc has a unique canonical URL and every planted re-dressing
    // (later micro-batch) canonicalizes onto an existing key
    "st_stream_urldedup" ->
      s"""WITH ${graft.functions.TextQueries.urlCanonCtes(
             "SELECT doc_id, source, n_chars FROM documents")}
         |SELECT doc_id, url_canon FROM urls ORDER BY doc_id""".stripMargin,

    // the streaming plan's complete-mode output == the batch hourly agg
    "st_stream_agg" -> hourlyAggSql,

    // the expiry gate's oracle MODELS the expiry: the replayed late
    // rows (ids +1e7) and the flush sentinels must NOT contribute —
    // the real events table alone is the expected emitted set
    "st_stream_expire" -> hourlyAggSql,

    // with an over-span watermark, streaming dedup == DISTINCT keys,
    // each emitted exactly once
    "st_stream_dedup" ->
      """SELECT DISTINCT event_type || '#' || CAST(user_id % 100 AS VARCHAR) AS k,
        |  CAST(1 AS BIGINT) AS n
        |FROM events ORDER BY k""".stripMargin,

    // sentinel-flushed custom-state sessionization == batch gap
    // sessionization (same CTEs as st_sessionize, projected to the
    // streaming operator's emitted columns)
    "st_stream_sessions" -> (sessionCtes +
      """
        |SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_start""".stripMargin),

    // with an over-span watermark the streaming attribution join emits
    // exactly the batch interval join
    "st_stream_join" ->
      """SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
        |  epoch_us(p.ts) - epoch_us(v.ts) AS delay_us, p.value
        |FROM events v JOIN events p ON p.user_id = v.user_id
        |  AND v.event_type = 'view' AND p.event_type = 'purchase'
        |  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 60 MINUTE
        |ORDER BY view_id, purchase_id""".stripMargin,

    "st_window_agg" -> hourlyAggSql,

    "st_sessionize" -> (sessionCtes +
      """
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  COUNT(*) AS n_events, MIN(ts) AS session_start, MAX(ts) AS session_end
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin),

    "st_asof_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value,
        |    date_trunc('microseconds', ts) AS ts FROM events),
        |v AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'view'),
        |p AS (SELECT user_id, ts, value FROM e WHERE event_type = 'purchase')
        |SELECT v.event_id, v.user_id, v.ts, p.value AS last_purchase_value
        |FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.ts >= p.ts
        |ORDER BY v.event_id""".stripMargin,

    "sql_pricing" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "sql_lateral" ->
      """SELECT n.n_name, t.c_name, t.c_acctbal
        |FROM nation n,
        |LATERAL (SELECT c_name, c_acctbal FROM customer
        |         WHERE c_nationkey = n.n_nationkey
        |         ORDER BY c_acctbal DESC, c_name LIMIT 2) t
        |ORDER BY n.n_name, t.c_acctbal DESC, t.c_name""".stripMargin,

    "sql_shingle_stats" ->
      """WITH t AS (
        |  SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |    x -> length(x) > 0) AS toks FROM documents)
        |SELECT CAST(CASE WHEN len(toks) = 0 THEN 0 ELSE
        |    len(list_distinct(list_transform(
        |      range(1, greatest(len(toks) - 2, 1) + 1),
        |      i -> array_to_string(toks[CAST(i AS INT):CAST(i + 2 AS INT)], ' ')))) END AS INT)
        |  AS n_shingles,
        |  COUNT(*) AS n_docs
        |FROM t GROUP BY n_shingles ORDER BY n_shingles""".stripMargin,

    "evt_json_agg" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "evt_top_users" ->
      """SELECT event_type, user_id, n_events FROM (
        |  SELECT event_type, user_id, COUNT(*) AS n_events,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY COUNT(*) DESC, user_id) AS rn
        |  FROM events GROUP BY event_type, user_id)
        |WHERE rn <= 3 ORDER BY event_type, n_events DESC, user_id""".stripMargin,

    // the same d=4 × w=2048 Count-Min sketch replayed exactly: the
    // row hashes are integer affine maps, so the ORACLE builds the
    // identical counter relation and probes it with the same min rule
    "evt_cms_topk" -> CmsTopkSql,

    // the SAME oracle verbatim: CMS merge is counter addition, so the
    // per-batch streaming sketch folds to the batch sketch exactly
    "st_stream_cms" -> CmsTopkSql,

    "st_stream_upsert" ->
      """SELECT user_id, event_id, ts, event_type, value FROM (
        |  SELECT user_id, event_id, ts, event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "evt_kmv_distinct" -> KmvDistinctSql,

    // the SAME oracle verbatim: the KMV merge law (bottom-k of pooled
    // per-batch bottom-k's == whole-corpus bottom-k) makes the
    // streaming sketch bit-identical to the batch sketch, so both
    // queries gate against one contract by construction
    "st_stream_kmv" -> KmvDistinctSql,

    // the same sketches hash-for-hash: bottom-64 per type via a
    // ranked window, θ per the saturation rule, pairwise match below
    // min(θ_A, θ_B), scaled by M/θ in integer floor division
    "evt_kmv_intersect" ->
      """WITH tu AS (SELECT DISTINCT event_type,
        |    ((user_id % 2147483647) * 2654435761 + 97) % 2147483647 AS h
        |  FROM events),
        |bottom AS (SELECT event_type, h FROM (
        |    SELECT event_type, h,
        |      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS r
        |    FROM tu) WHERE r <= 64),
        |theta AS (SELECT event_type,
        |    CASE WHEN COUNT(*) < 64 THEN 2147483647 ELSE MAX(h) END AS theta
        |  FROM bottom GROUP BY event_type),
        |pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    LEAST(a.theta, b.theta) AS theta
        |  FROM theta a JOIN theta b ON a.event_type < b.event_type),
        |m AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    COUNT(*) AS n_match
        |  FROM bottom a
        |  JOIN bottom b ON a.h = b.h AND a.event_type < b.event_type
        |  JOIN pairs p ON p.type_a = a.event_type
        |    AND p.type_b = b.event_type AND a.h < p.theta
        |  GROUP BY 1, 2),
        |ex AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    COUNT(*) AS n_exact
        |  FROM (SELECT DISTINCT event_type, user_id FROM events) a
        |  JOIN (SELECT DISTINCT event_type, user_id FROM events) b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b,
        |  COALESCE(m.n_match, 0) AS n_match,
        |  (COALESCE(m.n_match, 0) * 2147483647) // p.theta AS n_est,
        |  COALESCE(ex.n_exact, 0) AS n_exact
        |FROM pairs p
        |LEFT JOIN m ON m.type_a = p.type_a AND m.type_b = p.type_b
        |LEFT JOIN ex ON ex.type_a = p.type_a AND ex.type_b = p.type_b
        |ORDER BY p.type_a, p.type_b""".stripMargin,

    "evt_kmv_diff" ->
      // the A-NOT-B sketches replayed hash-for-hash: bottom-64 per
      // type, θ = min pairwise, kept = A's sub-θ hashes anti-joined
      // against B, scaled by M/θ; exact witness by |A| − |A∩B|
      """WITH tu AS (SELECT DISTINCT event_type,
        |    ((user_id % 2147483647) * 2654435761 + 97) % 2147483647 AS h
        |  FROM events),
        |bottom AS (SELECT event_type, h FROM (
        |    SELECT event_type, h,
        |      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS r
        |    FROM tu) WHERE r <= 64),
        |theta AS (SELECT event_type,
        |    CASE WHEN COUNT(*) < 64 THEN 2147483647 ELSE MAX(h) END AS theta
        |  FROM bottom GROUP BY event_type),
        |pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    LEAST(a.theta, b.theta) AS theta
        |  FROM theta a JOIN theta b ON a.event_type <> b.event_type),
        |kept AS (SELECT p.type_a, p.type_b, COUNT(*) AS n_kept
        |  FROM pairs p
        |  JOIN bottom a ON a.event_type = p.type_a AND a.h < p.theta
        |  WHERE NOT EXISTS (SELECT 1 FROM bottom b
        |    WHERE b.event_type = p.type_b AND b.h = a.h)
        |  GROUP BY 1, 2),
        |na AS (SELECT event_type, COUNT(*) AS n_a
        |  FROM (SELECT DISTINCT event_type, user_id FROM events)
        |  GROUP BY event_type),
        |nboth AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    COUNT(*) AS n_both
        |  FROM (SELECT DISTINCT event_type, user_id FROM events) a
        |  JOIN (SELECT DISTINCT event_type, user_id FROM events) b
        |    ON a.user_id = b.user_id AND a.event_type <> b.event_type
        |  GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b,
        |  COALESCE(k.n_kept, 0) AS n_kept,
        |  (COALESCE(k.n_kept, 0) * 2147483647) // p.theta AS n_est,
        |  na.n_a - COALESCE(nb.n_both, 0) AS n_exact
        |FROM pairs p
        |LEFT JOIN kept k ON k.type_a = p.type_a AND k.type_b = p.type_b
        |JOIN na ON na.event_type = p.type_a
        |LEFT JOIN nboth nb ON nb.type_a = p.type_a AND nb.type_b = p.type_b
        |ORDER BY p.type_a, p.type_b""".stripMargin,

    "evt_kmv_union" ->
      // the union sketches replayed hash-for-hash: bottom-64 per
      // type, θ = min pairwise, pooled distinct sub-θ hashes scaled
      // by M/θ; exact witness by inclusion-exclusion
      """WITH tu AS (SELECT DISTINCT event_type,
        |    ((user_id % 2147483647) * 2654435761 + 97) % 2147483647 AS h
        |  FROM events),
        |bottom AS (SELECT event_type, h FROM (
        |    SELECT event_type, h,
        |      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS r
        |    FROM tu) WHERE r <= 64),
        |theta AS (SELECT event_type,
        |    CASE WHEN COUNT(*) < 64 THEN 2147483647 ELSE MAX(h) END AS theta
        |  FROM bottom GROUP BY event_type),
        |pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    LEAST(a.theta, b.theta) AS theta
        |  FROM theta a JOIN theta b ON a.event_type < b.event_type),
        |pooled AS (SELECT type_a, type_b, COUNT(*) AS n_union FROM (
        |    SELECT DISTINCT p.type_a, p.type_b, x.h
        |    FROM pairs p JOIN bottom x
        |      ON (x.event_type = p.type_a OR x.event_type = p.type_b)
        |     AND x.h < p.theta)
        |  GROUP BY 1, 2),
        |na AS (SELECT event_type, COUNT(*) AS n_t
        |  FROM (SELECT DISTINCT event_type, user_id FROM events)
        |  GROUP BY event_type),
        |nboth AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    COUNT(*) AS n_both
        |  FROM (SELECT DISTINCT event_type, user_id FROM events) a
        |  JOIN (SELECT DISTINCT event_type, user_id FROM events) b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b,
        |  COALESCE(u.n_union, 0) AS n_union,
        |  (COALESCE(u.n_union, 0) * 2147483647) // p.theta AS n_est,
        |  na_a.n_t + na_b.n_t - COALESCE(nb.n_both, 0) AS n_exact
        |FROM pairs p
        |LEFT JOIN pooled u ON u.type_a = p.type_a AND u.type_b = p.type_b
        |JOIN na na_a ON na_a.event_type = p.type_a
        |JOIN na na_b ON na_b.event_type = p.type_b
        |LEFT JOIN nboth nb ON nb.type_a = p.type_a AND nb.type_b = p.type_b
        |ORDER BY p.type_a, p.type_b""".stripMargin,

    "evt_quantile_hist" ->
      """WITH hist AS (
        |  SELECT event_type, CAST(floor(value * 4) AS BIGINT) AS bucket,
        |    COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type, bucket,
        |    CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY bucket)
        |      AS BIGINT) AS cum,
        |    CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM hist),
        |ps AS (SELECT CAST(unnest([50, 95, 99]) AS INT) AS p)
        |SELECT event_type, p, n, MIN(bucket) AS bucket,
        |  CAST(MIN(bucket) + 1 AS DOUBLE) / 4 AS q_est
        |FROM cum, ps WHERE cum * 100 >= p * n
        |GROUP BY event_type, p, n
        |ORDER BY event_type, p""".stripMargin,

    "evt_kll_quantiles" -> kllQuantilesSql,

    // the streaming fold is BIT-identical to the batch sketch (the
    // kllMerge nested-sample law, KllSpec), so the streamed gate
    // shares the batch oracle verbatim — the hourlyAggSql contract
    "st_stream_kll" -> kllQuantilesSql,

    "evt_funnel" ->
      """SELECT user_id,
        |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_views,
        |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases
        |FROM events
        |GROUP BY user_id
        |HAVING MIN(CASE WHEN event_type = 'view' THEN ts END)
        |     < MAX(CASE WHEN event_type = 'purchase' THEN ts END)
        |ORDER BY user_id""".stripMargin,


    // the mm_ oracles model the synthesized container headers with
    // arithmetic: header length 33 (PNG) / 44 (WAV) / 124 (MP4) by
    // doc_id mod 3; the planted dimensions/rates the headers embed are
    // pure functions of the body length; doc_id % 97 = 0 payloads have
    // their magic zeroed and must surface as quarantined rows
    "mm_grouped_stats" ->
      """WITH m AS (
        |  SELECT doc_id, octet_length(encode(text)) AS blen,
        |    CASE WHEN doc_id % 3 = 0 THEN 33
        |         WHEN doc_id % 3 = 1 THEN 44 ELSE 124 END AS hdr,
        |    doc_id % 97 = 0 AS corrupt
        |  FROM documents)
        |SELECT
        |  CASE WHEN corrupt THEN 'CORRUPT'
        |       WHEN doc_id % 3 = 0 THEN 'PNG'
        |       WHEN doc_id % 3 = 1 THEN 'WAV' ELSE 'MP4' END AS format,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(blen + hdr) AS BIGINT) AS total_bytes,
        |  CAST(MAX(CASE WHEN NOT corrupt AND doc_id % 3 <> 1
        |    THEN 64 + blen % 640 END) AS INT) AS max_width,
        |  CAST(MAX(CASE WHEN NOT corrupt AND doc_id % 3 = 1
        |    THEN 8000 + (blen % 8) * 4000 END) AS INT) AS max_rate
        |FROM m GROUP BY format ORDER BY format""".stripMargin,

    "mm_meta_extract" ->
      """WITH m AS (
        |  SELECT doc_id, octet_length(encode(text)) AS blen,
        |    CASE WHEN doc_id % 3 = 0 THEN 33
        |         WHEN doc_id % 3 = 1 THEN 44 ELSE 124 END AS hdr,
        |    doc_id % 97 = 0 AS corrupt
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(blen + hdr AS INT) AS byte_len,
        |  CASE WHEN corrupt THEN NULL
        |       WHEN doc_id % 3 = 0 THEN 'PNG'
        |       WHEN doc_id % 3 = 1 THEN 'WAV' ELSE 'MP4' END AS format,
        |  CAST(CASE WHEN NOT corrupt AND doc_id % 3 <> 1
        |    THEN 64 + blen % 640 END AS INT) AS width,
        |  CAST(CASE WHEN NOT corrupt AND doc_id % 3 <> 1
        |    THEN 48 + (blen * 7) % 480 END AS INT) AS height,
        |  CAST(CASE WHEN NOT corrupt AND doc_id % 3 = 1
        |    THEN 8000 + (blen % 8) * 4000 END AS INT) AS sample_rate,
        |  CAST(CASE WHEN NOT corrupt AND doc_id % 3 = 1
        |    THEN 1 + blen % 2 END AS INT) AS channels,
        |  CASE WHEN corrupt THEN 'unknown container magic' END AS error
        |FROM m ORDER BY doc_id""".stripMargin,

    "mm_frame_sample" ->
      """WITH m AS (SELECT doc_id, octet_length(encode(text)) AS blen FROM documents)
        |SELECT doc_id, CAST(i AS INT) AS frame_idx,
        |  CAST(least(64, blen - i * 64) AS INT) AS frame_len
        |FROM m, LATERAL unnest(range(0, CAST(ceil(blen / 64.0) AS BIGINT))) AS u(i)
        |WHERE i % 4 = 0 ORDER BY doc_id, frame_idx""".stripMargin,

    "evt_transitions" ->
      // micro-truncate ts so tie-breaks match Spark's micros exactly
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    LAG(event_type) OVER (
        |      PARTITION BY user_id
        |      ORDER BY date_trunc('microseconds', ts), event_id) AS prev
        |  FROM events)
        |SELECT prev, event_type AS next, COUNT(*) AS n
        |FROM seq WHERE prev IS NOT NULL
        |GROUP BY prev, event_type ORDER BY prev, next""".stripMargin,

    "evt_anomaly" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS c
        |  FROM events GROUP BY user_id, day),
        |stats AS (
        |  SELECT user_id, COUNT(*) AS n_days, CAST(SUM(c) AS BIGINT) AS sum_c,
        |    CAST(SUM(c * c) AS BIGINT) AS sum_c2
        |  FROM daily GROUP BY user_id HAVING COUNT(*) >= 5),
        |scored AS (
        |  SELECT d.user_id, d.day, d.c,
        |    (CAST(sum_c2 AS DOUBLE) -
        |      CAST(sum_c AS DOUBLE) * CAST(sum_c AS DOUBLE) / n_days) /
        |      (n_days - 1) AS variance,
        |    n_days, sum_c
        |  FROM daily d JOIN stats USING (user_id))
        |SELECT user_id, day, c AS n_events,
        |  ROUND((c - CAST(sum_c AS DOUBLE) / n_days) / sqrt(variance), 3) AS z
        |FROM scored
        |WHERE variance > 0
        |  AND ROUND((c - CAST(sum_c AS DOUBLE) / n_days) / sqrt(variance), 3) >= 2.0
        |ORDER BY user_id, day""".stripMargin,

    "evt_retention" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
        |  FROM events),
        |first AS (SELECT user_id, MIN(wk) AS cohort FROM uw GROUP BY user_id)
        |SELECT cohort, CAST(datediff('day', cohort, wk) // 7 AS INT) AS week_n,
        |  COUNT(DISTINCT uw.user_id) AS n_users
        |FROM uw JOIN first USING (user_id)
        |GROUP BY cohort, week_n ORDER BY cohort, week_n""".stripMargin,

    // payload = UTF-8 bytes of text, so md5(payload) == md5(text)
    "mm_dedup" ->
      """WITH corpus AS (
        |  SELECT * FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
        |  FROM documents WHERE doc_id < 10)
        |SELECT md5(text) AS h, MIN(doc_id) AS keeper, COUNT(*) AS n_copies
        |FROM corpus GROUP BY h HAVING COUNT(*) > 1 ORDER BY keeper""".stripMargin,

    // the same two-scene construction and 16-bit gradient signature,
    // unrolled: a cut wherever LAG(sig) differs within the doc
    "mm_scene_cuts" -> {
      def bit(j: Int) =
        s"CASE WHEN ascii(substr(vb, f * 64 + $j + 1, 1)) < " +
          s"ascii(substr(vb, f * 64 + $j + 2, 1)) THEN ${1 << j} ELSE 0 END"
      val sig = (0 until 16).map(bit).mkString(" + ")
      s"""WITH v AS (SELECT doc_id,
         |    repeat(substr(text, 1, 64), 4) ||
         |    repeat(substr(text, 65, 64), 4) AS vb
         |  FROM documents WHERE length(text) >= 128),
         |fr AS (SELECT doc_id, vb, CAST(unnest(range(0, 8)) AS INT) AS f
         |  FROM v),
         |sg AS (SELECT doc_id, f, $sig AS sig FROM fr),
         |c AS (SELECT doc_id, f, sig,
         |    LAG(sig) OVER (PARTITION BY doc_id ORDER BY f) AS prev
         |  FROM sg),
         |k AS (SELECT doc_id, f,
         |    CASE WHEN prev IS NOT NULL AND prev <> sig THEN 1 ELSE 0 END
         |      AS cut
         |  FROM c)
         |SELECT doc_id, CAST(SUM(cut) AS BIGINT) AS n_cuts,
         |  CAST(SUM(cut) + 1 AS BIGINT) AS n_scenes,
         |  CAST(MIN(CASE WHEN cut = 1 THEN f END) AS INT) AS first_cut
         |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // the dHash decode stub is deterministic byte sampling, so the
    // ENTIRE perceptual pipeline unrolls into SQL: the same 64
    // gradient comparisons (ascii of the sampled byte — the corpus is
    // pure ASCII, so char code == body byte), the same four 16-bit
    // bands, the same band-collision candidate rule and hamming cut
    "mm_phash" -> {
      def px(a: Int) =
        s"ascii(substr(text, CAST(1 + ($a * blen) // 72 AS INT), 1))"
      val bandExprs = (0 until 4).map { b =>
        val bits = (0 until 16).map { j =>
          val k = b * 16 + j
          val a = (k / 8) * 9 + (k % 8)
          s"CASE WHEN ${px(a)} < ${px(a + 1)} THEN ${1L << j} ELSE 0 END"
        }.mkString(" + ")
        s"($bits) AS b$b"
      }.mkString(", ")
      s"""WITH ascii_docs AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE octet_length(encode(text)) = length(text)),
         |corpus AS (
         |  SELECT doc_id, text FROM ascii_docs
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id, $PhashPerturbSql AS text
         |  FROM ascii_docs WHERE doc_id < 10),
         |sized AS (SELECT doc_id, text, octet_length(encode(text)) AS blen
         |          FROM corpus),
         |ph AS (SELECT doc_id, $bandExprs FROM sized),
         |cand AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1)) +
         |    bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) AS hamming
         |  FROM ph a JOIN ph b ON a.doc_id < b.doc_id AND
         |    (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3))
         |SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming FROM cand
         |WHERE hamming <= 6 ORDER BY doc_a, doc_b""".stripMargin
    },

    "mm_audio_fp" -> {
      // the mm_phash replay recipe on the audio shard: the oracle
      // fingerprints the TEXT directly (body bytes == text chars under
      // the pure-ASCII filter; the containers the plants shuffle are
      // stripped by body() on the Spark side, so they never reach the
      // fingerprint on either side)
      def px(idx: Int) =
        s"ascii(substr(text, CAST(1 + ($idx * blen) // 240 AS INT), 1))"
      def energy(t: Int, b: Int) =
        (0 until 3).map(i => px(t * 48 + b * 3 + i)).mkString(" + ")
      val bandExprs = (0 until 4).map { t =>
        val bits = (0 until 16).map { j =>
          s"CASE WHEN (${energy(t + 1, j)}) > (${energy(t, j)}) " +
            s"THEN ${1L << j} ELSE 0 END"
        }.mkString(" + ")
        s"($bits) AS b$t"
      }.mkString(", ")
      s"""WITH audio_docs AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE octet_length(encode(text)) = length(text)
         |    AND doc_id % 3 = 1),
         |corpus AS (
         |  SELECT doc_id, text FROM audio_docs
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id, text
         |  FROM audio_docs WHERE doc_id < 30
         |  UNION ALL
         |  SELECT doc_id + 2000000 AS doc_id, $PhashPerturbSql AS text
         |  FROM audio_docs WHERE doc_id < 30),
         |sized AS (SELECT doc_id, text, octet_length(encode(text)) AS blen
         |          FROM corpus),
         |fp AS (SELECT doc_id, $bandExprs FROM sized),
         |cand AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1)) +
         |    bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) AS hamming
         |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id AND
         |    (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3))
         |SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming FROM cand
         |WHERE hamming <= 6 ORDER BY doc_a, doc_b""".stripMargin
    },

    "mm_pair_dedup" -> {
      // the mm_phash band/hamming replay plus the caption arm:
      // token-set Jaccard on the candidate pairs only
      def px(a: Int) =
        s"ascii(substr(text, CAST(1 + ($a * blen) // 72 AS INT), 1))"
      val bandExprs = (0 until 4).map { b =>
        val bits = (0 until 16).map { j =>
          val k = b * 16 + j
          val a = (k / 8) * 9 + (k % 8)
          s"CASE WHEN ${px(a)} < ${px(a + 1)} THEN ${1L << j} ELSE 0 END"
        }.mkString(" + ")
        s"($bits) AS b$b"
      }.mkString(", ")
      val tok = (c: String) =>
        s"list_distinct(list_filter(string_split_regex(lower($c), " +
          s"'[^a-z0-9]+'), x -> length(x) > 0))"
      s"""WITH ascii_docs AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE octet_length(encode(text)) = length(text)),
         |base AS (SELECT doc_id, text, substr(text, 1, 80) AS caption
         |         FROM ascii_docs),
         |corpus AS (
         |  SELECT doc_id, text, caption FROM base
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id, $PhashPerturbSql AS text,
         |    caption || ' graftdup' AS caption
         |  FROM base WHERE doc_id < 10
         |  UNION ALL
         |  SELECT doc_id + 2000000 AS doc_id, text,
         |    'unrelated pair caption number ' || CAST(doc_id AS STRING) AS caption
         |  FROM base WHERE doc_id < 10
         |  UNION ALL
         |  SELECT doc_id + 3000000 AS doc_id, reverse(text) AS text, caption
         |  FROM base WHERE doc_id < 10),
         |sized AS (SELECT doc_id, text, caption,
         |          octet_length(encode(text)) AS blen FROM corpus),
         |ph AS (SELECT doc_id, caption, $bandExprs FROM sized),
         |cand AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.caption AS ca, b.caption AS cb,
         |    bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1)) +
         |    bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) AS hamming
         |  FROM ph a JOIN ph b ON a.doc_id < b.doc_id AND
         |    (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)),
         |tok AS (
         |  SELECT doc_a, doc_b, hamming,
         |    ${tok("ca")} AS ta, ${tok("cb")} AS tb
         |  FROM cand WHERE hamming <= 6),
         |j AS (
         |  SELECT doc_a, doc_b, hamming,
         |    CAST(len(list_intersect(ta, tb)) AS DOUBLE) /
         |      len(list_distinct(list_concat(ta, tb))) AS jaccard
         |  FROM tok)
         |SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming,
         |  ROUND(jaccard, 4) AS jaccard
         |FROM j WHERE jaccard >= 0.8 ORDER BY doc_a, doc_b""".stripMargin
    },
  )
}
