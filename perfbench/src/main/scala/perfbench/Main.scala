package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the recorder, the tracer
  * (traced runs only) and the run's arguments. */
final class Ctx(val spark: SparkSession, val rec: Recorder,
                val tracer: Option[Tracer], val args: Map[String, String]) {
  val seed: Long = args("seed").toLong
  val seconds: Double = args("seconds").toDouble
  val dataDir: String = args("data")
  val tmpDir: Path = Paths.get(System.getProperty("java.io.tmpdir"))
  /** Seeded draws. java.util.Random's first outputs for nearby seeds are
    * correlated, so the seed is mixed first. */
  val rng = new scala.util.Random(new java.util.SplittableRandom(seed).nextLong())
  /** Extra workload-level figures for the raw record. */
  val stats = scala.collection.mutable.LinkedHashMap[String, Any]()
  private var loopStartMs = 0.0

  def startLoop(): Unit = loopStartMs = rec.nowMs
  def loopElapsedS: Double = (rec.nowMs - loopStartMs) / 1e3
  def timeLeft: Boolean = loopElapsedS < seconds

  /** Run one timed op under its own Spark job group; in a traced run,
    * drain the listener bus afterwards and attach the op's trace. */
  def timed(kind: String, name: String, family: String,
            onError: Throwable => Check = null)
           (call: => (() => Check)): OpRecord = {
    val sc = spark.sparkContext
    val r = rec.op(kind, name, family,
      Option(onError).getOrElse((t: Throwable) => Wrong(rec.describe(t)))) { r =>
      sc.setJobGroup(s"pb-op-${r.id}", s"$kind $name", false)
      call
    }
    sc.clearJobGroup()
    tracer.foreach { t =>
      if (!t.drain(r.id)) r.extra("undrained") = true
      r.extra("trace") = t.opTrace(r.id)
    }
    rec.endOp()
    r
  }
}

object Main {
  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap

  def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.timeType.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def heapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def gcTotals(): (Long, Long) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionCount).filter(_ >= 0).sum,
      gcs.map(_.getCollectionTime).filter(_ >= 0).sum)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = args.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString).toInt
    val traced = args.getOrElse("trace", "0") == "1"
    val rec = new Recorder(traced)
    val spark = session(cpus)
    rec.setup("session") = (System.currentTimeMillis() - jvmStart) / 1e3
    val tracer = if (traced) Some(new Tracer(spark, rec)) else None
    val ctx = new Ctx(spark, rec, tracer, args)
    val out = Paths.get(args("out"))
    try {
      val w: Workload = args("workload") match {
        case "analytics" => new Analytics(ctx)
        case "ingest" => new Ingest(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      w.setup()
      val heapAfterSetup = heapMb()
      val (gc0, gcMs0) = gcTotals()
      ctx.startLoop()
      w.loop()
      val wall = ctx.loopElapsedS
      val (gc1, gcMs1) = gcTotals()
      val heapEnd = heapMb()
      w.finish()
      Json.writeFile(out, Map(
        "workload" -> args("workload"), "seed" -> ctx.seed,
        "trace" -> traced, "cpus" -> cpus,
        "setup" -> rec.setup, "loop_wall_s" -> wall,
        "ops" -> rec.ops.map(_.toMap),
        "jvm" -> Map("heap_mb" -> heapEnd,
          "heap_after_setup_mb" -> heapAfterSetup,
          "gc_count" -> (gc1 - gc0), "gc_ms" -> (gcMs1 - gcMs0)),
        "stats" -> ctx.stats,
        "spans" -> rec.spanMaps))
    } finally spark.stop()
  }
}

/** A workload: untimed setup (recorded as setup phases), a timed
  * closed loop that runs until `--seconds` have passed, and an
  * untimed end-of-run check. */
trait Workload {
  def setup(): Unit
  def loop(): Unit
  def finish(): Unit = ()
}

/** Reads the JSON inputs that ship with the benchmark. */
object Inputs {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def read(p: String): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(Files.readAllBytes(Paths.get(p)))
}
