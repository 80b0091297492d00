package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Streaming-gate measurement harness (guide §1, measurement-only —
  * on no query path): per selected query, one warm rep then a timed
  * rep with a StreamingQueryListener capturing every micro-batch's
  * QueryProgress, so the per-gate cost decomposes into the engine's
  * own duration buckets (triggerExecution = whole batch;
  * queryPlanning = per-batch Catalyst re-planning; addBatch = sink +
  * execution; walCommit/commitOffsets = offset/commit log I/O;
  * latestOffset/getBatch = source admission) plus the state-store
  * update/commit times per stateful operator. This is the profile
  * the round-20 verdict asked for before touching the st_* family:
  * "is the cost genuine micro-batch planning + state commits"
  * becomes a measured table instead of an adjudication.
  *
  * Usage: runMain graft.ProfileStream <sfDir> <comma-names>
  * Env: SPARK_GRAFT_CPUS (default 32). */
object ProfileStream {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.timeType.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val selected = SparkEntry.select(Some(names))

    case class Batch(runId: java.util.UUID, durations: Map[String, Long],
                     stateRows: Long, updateMs: Long, commitMs: Long,
                     removalMs: Long, inputRows: Long)
    // Only the timed rep's runs count. onQueryStarted runs on the
    // thread that starts the query, so the timed runs are all known
    // when the rep returns; a run's QueryTerminatedEvent follows all
    // of its progress events on the listener bus (one FIFO queue).
    @volatile var timing = false
    val timedRuns = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit =
        if (timing) timedRuns.add(e.runId): Unit
      override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        ended.add(e.runId): Unit
      override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val durs = scala.collection.mutable.Map[String, Long]()
        p.durationMs.forEach((k, v) => { durs(k) = v.toLong; () })
        val so = p.stateOperators
        batches.add(Batch(p.runId, durs.toMap,
          so.map(_.numRowsTotal).sum,
          so.map(_.allUpdatesTimeMs).sum,
          so.map(_.commitTimeMs).sum,
          so.map(_.allRemovalsTimeMs).sum,
          p.numInputRows))
        ()
      }
    })

    // same table warmups as Bench
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach(t => Tables.load(spark, sfDir, t).count())

    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      spark.sparkContext.setJobDescription(s"$name warmup")
      fn(spark, sfDir).count()
      batches.clear()
      timedRuns.clear()
      spark.sparkContext.setJobDescription(s"$name timed")
      timing = true
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val timed = (System.nanoTime() - t0) / 1e9
      timing = false
      val deadline = System.nanoTime() + 30000000000L
      while (!ended.containsAll(timedRuns) && System.nanoTime() < deadline)
        Thread.sleep(10)
      if (!ended.containsAll(timedRuns))
        System.err.println(s"$name: a timed run did not end within 30 s — " +
          "its later batches are missing below")
      val bs = new scala.collection.mutable.ArrayBuffer[Batch]()
      batches.forEach(b => { if (timedRuns.contains(b.runId)) bs += b; () })
      val sums = scala.collection.mutable.Map[String, Long]()
        .withDefaultValue(0L)
      bs.foreach(_.durations.foreach { case (k, v) => sums(k) += v })
      val upd = bs.map(_.updateMs).sum
      val com = bs.map(_.commitMs).sum
      val rem = bs.map(_.removalMs).sum
      val dursStr = sums.toSeq.sortBy(-_._2)
        .map { case (k, v) => s"$k=$v" }.mkString(" ")
      println(s"$name timed=${fmt(timed)}s batches=${bs.size} " +
        s"state[upd=${upd}ms commit=${com}ms removal=${rem}ms] $dursStr")
    }
    spark.stop()
  }
}
