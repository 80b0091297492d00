package perfbench

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's listener set: Spark jobs, stages and tasks
  * attributed to the op whose job group issued them, Catalyst phase
  * times per action, and streaming progress attributed by runId.
  * Every op runs under its own job group `pb-op-<id>`; a streaming
  * query's jobs carry its runId as group, which `onQueryStarted`
  * (delivered synchronously inside `start()`) maps to the op. */
final class Tracer(spark: SparkSession, rec: Recorder) {

  final class Agg {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, schedMs = 0L
    var inBytes, shReadBytes, shWriteBytes, spillBytes = 0L
    var actions = 0L
    var analysisMs, optimizationMs, planningMs = 0L
    var openJobs = 0L
    val runs = scala.collection.mutable.Set[UUID]()
    val batches = scala.collection.mutable.ArrayBuffer[Map[String, Long]]()
  }

  private val aggs = new ConcurrentHashMap[Int, Agg]()
  private def agg(op: Int): Agg =
    aggs.computeIfAbsent(op, new java.util.function.Function[Int, Agg] {
      override def apply(k: Int): Agg = new Agg
    })
  private val stageOp = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, (Int, Long)]()
  private val runOp = new ConcurrentHashMap[UUID, Int]()
  private val runsEnded = ConcurrentHashMap.newKeySet[UUID]()

  private def opOfGroup(group: String): Int =
    if (group == null) rec.currentOp
    else if (group.startsWith("pb-op-")) group.stripPrefix("pb-op-").toInt
    else
      try Option(runOp.get(UUID.fromString(group))).map(_.intValue)
        .getOrElse(rec.currentOp)
      catch { case _: IllegalArgumentException => rec.currentOp }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = opOfGroup(Option(e.properties)
        .map(_.getProperty("spark.jobGroup.id")).orNull)
      jobStart.put(e.jobId, (op, e.time))
      e.stageInfos.foreach(s => stageOp.put(s.stageId, op))
      val a = agg(op)
      a.synchronized { a.jobs += 1; a.openJobs += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (op, t0) =>
        val a = agg(op)
        a.synchronized { a.openJobs -= 1 }
        rec.addSpan("spark.job", op, rec.opSpanOf(op), rec.epochToMs(t0),
          rec.epochToMs(e.time))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageOp.get(e.stageInfo.stageId)).foreach { op =>
        val a = agg(op); a.synchronized { a.stages += 1 }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOp.get(e.stageId)).foreach { op =>
        val a = agg(op)
        val m = e.taskMetrics
        a.synchronized {
          a.tasks += 1
          if (m != null) {
            a.runMs += m.executorRunTime
            a.cpuNs += m.executorCpuTime
            a.gcMs += m.jvmGCTime
            a.inBytes += m.inputMetrics.bytesRead
            a.shReadBytes += m.shuffleReadMetrics.totalBytesRead
            a.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
            a.spillBytes += m.diskBytesSpilled
            // the scheduler-delay formula of Spark's stage page
            val info = e.taskInfo
            if (info != null && info.finishTime > 0)
              a.schedMs += math.max(0L, info.duration - m.executorRunTime -
                m.executorDeserializeTime - m.resultSerializationTime -
                (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
          }
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val a = agg(rec.currentOp)
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      a.synchronized {
        a.actions += 1
        a.analysisMs += ms("analysis")
        a.optimizationMs += ms("optimization")
        a.planningMs += ms("planning")
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      val op = rec.currentOp
      runOp.put(e.runId, op)
      val a = agg(op); a.synchronized { a.runs += e.runId }
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val op = Option(runOp.get(p.runId)).map(_.intValue).getOrElse(rec.currentOp)
      val d = scala.collection.mutable.Map[String, Long]()
      p.durationMs.forEach((k, v) => { d(k) = v.longValue; () })
      val so = p.stateOperators
      d("state_rows") = so.map(_.numRowsTotal).sum
      d("state_update_ms") = so.map(_.allUpdatesTimeMs).sum
      d("state_commit_ms") = so.map(_.commitTimeMs).sum
      d("input_rows") = p.numInputRows
      val a = agg(op)
      a.synchronized { a.batches += d.toMap }
      val end = rec.epochToMs(java.time.Instant.parse(p.timestamp).toEpochMilli) +
        d.getOrElse("triggerExecution", 0L)
      rec.addSpan("stream.batch", op, rec.opSpanOf(op),
        end - d.getOrElse("triggerExecution", 0L), end)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      runsEnded.add(e.runId); ()
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Called after an op returns: block until the listener bus has
    * delivered everything the op posted, then confirm that every job
    * of the op's group ended and every query it started terminated.
    * Returns false when the record is incomplete. */
  def drain(op: Int): Boolean = {
    ListenerDrain(spark.sparkContext)
    val a = agg(op)
    a.synchronized { a.openJobs == 0 && a.runs.forall(runsEnded.contains) }
  }

  def opTrace(op: Int): Map[String, Any] = {
    val a = agg(op)
    a.synchronized {
      Map("jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
        "task_run_ms" -> a.runMs, "task_cpu_ns" -> a.cpuNs,
        "task_gc_ms" -> a.gcMs, "sched_delay_ms" -> a.schedMs,
        "input_bytes" -> a.inBytes, "shuffle_read_bytes" -> a.shReadBytes,
        "shuffle_write_bytes" -> a.shWriteBytes, "spill_bytes" -> a.spillBytes,
        "actions" -> a.actions, "analysis_ms" -> a.analysisMs,
        "optimization_ms" -> a.optimizationMs, "planning_ms" -> a.planningMs,
        "batches" -> a.batches.toList)
    }
  }
}
