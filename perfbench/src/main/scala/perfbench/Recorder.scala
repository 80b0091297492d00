package perfbench

import scala.collection.mutable.ArrayBuffer

/** Outcome of one timed op's output check. */
sealed trait Check
case object Ok extends Check
/** The output is wrong, or the op threw where it should not have. */
final case class Wrong(msg: String) extends Check
/** The op hit one of the open defects listed in perfbench/README.md. */
final case class Defect(name: String, msg: String) extends Check

/** One timed op. `ms` covers the call into graft only; checking the
  * output happens after the clock stops. */
final class OpRecord(val id: Int, val kind: String, val name: String,
                     val family: String, val startMs: Double) {
  var ms: Double = 0.0
  var check: Check = Ok
  val extra = scala.collection.mutable.LinkedHashMap[String, Any]()

  def toMap: Map[String, Any] = {
    val (status, detail) = check match {
      case Ok => ("ok", null)
      case Wrong(m) => ("wrong", m)
      case Defect(n, m) => ("defect", s"$n: $m")
    }
    Map("id" -> id, "kind" -> kind, "name" -> name, "family" -> family,
      "start_ms" -> startMs, "ms" -> ms, "status" -> status,
      "detail" -> detail) ++ extra
  }
}

/** Records ops, setup phases and (in a traced run) the span tree
  * workload → op → module call. Times are milliseconds since the
  * recorder's origin; spans stay in memory until the run ends. */
final class Recorder(val traced: Boolean) {
  private val originNs = System.nanoTime()
  /** Wall-clock time of the origin, to place listener events (which
    * carry epoch milliseconds) on the same axis as the spans. */
  val originEpochMs: Double = System.currentTimeMillis().toDouble

  def nowMs: Double = (System.nanoTime() - originNs) / 1e6
  def epochToMs(epochMs: Long): Double = epochMs - originEpochMs

  val ops = ArrayBuffer[OpRecord]()
  val setup = scala.collection.mutable.LinkedHashMap[String, Double]()

  import Recorder.Span
  private val spans = ArrayBuffer[Span]()
  private var nextSpan = 1
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = List(0)
  }
  /** The op currently running (0 between ops): the workloads run one
    * client, so listener events not tagged with a job group belong
    * to it. */
  @volatile var currentOp: Int = 0
  @volatile private var currentOpSpan: Int = 0

  def addSpan(name: String, op: Int, parent: Int, start: Double,
              end: Double): Unit = if (traced) spans.synchronized {
    spans += Span(nextSpan, parent, name, op, start, end); nextSpan += 1
  }

  /** Span for the op's root, so listener threads can hang job and
    * batch spans under it. */
  def opSpanOf(op: Int): Int = if (op == currentOp) currentOpSpan else 0

  def span[A](name: String)(body: => A): A =
    if (!traced) body
    else {
      val id = spans.synchronized { val i = nextSpan; nextSpan += 1; i }
      val parent = stack.get().head
      stack.set(id :: stack.get())
      val t0 = nowMs
      try body
      finally {
        stack.set(stack.get().tail)
        spans.synchronized { spans += Span(id, parent, name, currentOp, t0, nowMs) }
      }
    }

  /** Time one setup phase; the seconds land under `setup.<name>`. */
  def phase[A](name: String)(body: => A): A = {
    val t0 = nowMs
    val r = span(s"setup.$name")(body)
    setup(name) = setup.getOrElse(name, 0.0) + (nowMs - t0) / 1e3
    r
  }

  private var opSeq = 0

  /** Run one timed op. `call` is the timed part and returns a
    * verifier; the verifier runs after the clock stops. A throwable
    * becomes `onError(t)` — Wrong unless the workload knows it as an
    * open defect or as the expected outcome. */
  def op(kind: String, name: String, family: String,
         onError: Throwable => Check = t => Wrong(describe(t)))
        (call: OpRecord => (() => Check)): OpRecord = {
    opSeq += 1
    val rec = new OpRecord(opSeq, kind, name, family, nowMs)
    currentOp = rec.id
    if (traced) {
      val id = spans.synchronized { val i = nextSpan; nextSpan += 1; i }
      currentOpSpan = id
      stack.set(id :: stack.get())
    }
    val t0 = System.nanoTime()
    val verify: Either[Throwable, () => Check] =
      try Right(call(rec)) catch { case t: Throwable => Left(t) }
    rec.ms = (System.nanoTime() - t0) / 1e6
    if (traced) {
      stack.set(stack.get().tail)
      spans.synchronized {
        spans += Span(currentOpSpan, 0, s"op.$kind", rec.id, rec.startMs,
          rec.startMs + rec.ms)
      }
    }
    rec.check = verify match {
      case Left(t) => onError(t)
      case Right(v) => try v() catch { case t: Throwable => Wrong("check threw " + describe(t)) }
    }
    ops += rec
    System.err.println(f"[op ${rec.id}] $kind $name ${rec.ms}%.1f ms ${rec.check}")
    rec
  }

  def endOp(): Unit = { currentOp = 0; currentOpSpan = 0 }

  def spanMaps: Seq[Map[String, Any]] = spans.synchronized {
    spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "op" -> s.op, "start" -> s.start, "end" -> s.end))
  }

  def describe(t: Throwable): String = {
    val root = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last
    val msg = Option(root.getMessage).getOrElse("").take(300)
    s"${root.getClass.getName}: $msg"
  }
}

object Recorder {
  final case class Span(id: Int, parent: Int, name: String, op: Int,
                        start: Double, end: Double)

  /** True when `t` or one of its causes is a StackOverflowError. */
  def isStackOverflow(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[StackOverflowError])
}
