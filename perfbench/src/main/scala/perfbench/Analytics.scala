package perfbench

import java.math.MathContext

import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

import graft.SparkEntry

/** Order-insensitive result fingerprint: row count plus the wrapping
  * sum of a 64-bit hash of each row's canonical rendering. Doubles are
  * rounded to 8 significant digits so that a different summation order
  * does not change the hash. */
object Fingerprint {
  private val mc = new MathContext(8)

  def render(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else if (d == 0.0) "0"
      else new java.math.BigDecimal(d).round(mc).stripTrailingZeros.toPlainString
    case f: Float => render(f.toDouble)
    case b: java.math.BigDecimal =>
      if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted
        .mkString("{", ",", "}")
    case bytes: Array[Byte] => bytes.map(b => f"$b%02x").mkString("0x", "", "")
    case a: Array[_] => render(a.toSeq)
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }

  def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x9747b28c).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL)

  def of(rows: Array[Row]): (Long, String) =
    (rows.length.toLong, java.lang.Long.toHexString(rows.iterator.map(r => hash64(render(r))).sum))
}

/** `analytics`: one client runs SparkEntry keys; each op is the key's
  * call plus one action (`collect`) that consumes every column, checked
  * against the expected fingerprint. Every run times the same fixed
  * panel of keys (perfbench/data/keys.json); the seed draws the order of
  * each pass. Setup runs the panel once untimed, then timed passes
  * repeat until `--seconds` have passed and at least `MinPasses` ran; a
  * started pass always completes, so every key is timed the same
  * number of times. */
final class Analytics(ctx: Ctx) extends Workload {
  import ctx._

  /** `--calibrate 1` runs every key that keys.json does not exclude,
    * in one pass, and records fingerprints instead of checking them
    * (see perfbench/calibrate.py). */
  private val calibrating = args.getOrElse("calibrate", "0") == "1"

  /** key → (row count, hash); a null count means only a non-empty
    * result is checked, a null hash that only the count is. */
  private val expected: Map[String, (Option[Long], Option[String])] =
    if (calibrating) Map.empty
    else Inputs.read(args("fingerprints")).get("keys").fields().asScala.map { e =>
      def opt(f: String) = Option(e.getValue.get(f)).filterNot(_.isNull)
      e.getKey -> (opt("rows").map(_.asLong), opt("hash").map(_.asText))
    }.toMap

  /** The keys a run times: the fixed panel, or when calibrating every
    * key that is not excluded. */
  private val panel: Seq[String] = {
    val spec = Inputs.read(args("keys"))
    def list(f: String) = spec.get(f).elements().asScala.map(_.asText).toSeq
    if (calibrating) (SparkEntry.queries.keySet -- list("excluded")).toSeq.sorted
    else {
      val keys = list("panel")
      val unknown = keys.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty, s"keys.json names unknown keys: ${unknown.mkString(",")}")
      keys
    }
  }

  def setup(): Unit = {
    // one untimed pass over the panel pays each key's class loading,
    // codegen, table and file staging and shared-frame builds, so the timed
    // passes measure steady-state calls (as Bench's min-of-reps did), not
    // whichever key happens to run first in a fresh JVM. The pass runs in
    // the panel's own order, not a seeded one, so the key that pays for
    // the shared table loads, and with it setup_s, does not follow the seed.
    rec.phase("warmup") {
      stats("warmup_ms") = panel.map { k =>
        val t0 = rec.nowMs
        SparkEntry.queries(k)(spark, dataDir).collect()
        k -> (rec.nowMs - t0)
      }.toMap
    }
  }

  def loop(): Unit = {
    var passes = 0
    val minPasses = if (calibrating) 1 else Analytics.MinPasses
    while (passes < minPasses || timeLeft) {
      rng.shuffle(panel).foreach(runKey)
      passes += 1
    }
    stats("passes") = passes
  }

  private def runKey(key: String): Unit = {
    val fn = SparkEntry.queries(key)
    timed("query", key, Analytics.family(key)) {
      val df = rec.span("call")(fn(spark, dataDir))
      val rows = rec.span("action")(df.collect())
      () => {
        val (n, h) = Fingerprint.of(rows)
        if (calibrating) {
          stats(s"fingerprint.$key") = Map("rows" -> n, "hash" -> h)
          Ok
        } else expected.get(key) match {
          case None => Wrong("no expected fingerprint")
          case Some((None, _)) if n == 0 => Wrong("empty result")
          case Some((Some(en), _)) if en != n => Wrong(s"rows $n, expected $en")
          case Some((_, Some(eh))) if eh != h => Wrong(s"hash $h, expected $eh")
          case _ => Ok
        }
      }
    }
    ()
  }
}

object Analytics {
  /** Timed passes a run makes at least, so each key's fastest call is
    * taken over three or more calls spread across the run. */
  val MinPasses = 3

  /** Family of a key: its prefix, with q1..q32 as `q` and `ddl` under `sql`. */
  def family(key: String): String = {
    val p = key.takeWhile(_ != '_')
    if (p.matches("q\\d+")) "q" else if (p == "ddl") "sql" else p
  }
}
