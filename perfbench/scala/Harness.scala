package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.util.control.NonFatal

/** What one workload run hands back to [[Main]]. */
final case class Outcome(
    primaryMs: Seq[Double],          // latencies of the workload's primary operation
    throughputPerS: Double,          // ops completed per second of the loop
    setupRepsS: Seq[Double],         // each repetition of the workload's state build
    attempted: Long,
    failed: Long,                    // ops that threw + ops whose output check failed
    checksRun: Int,
    report: Map[String, Any],        // per-op detail, input sizes
    layers: Map[String, Double])     // per-layer metrics (traced run only)

/** Run context shared by the workloads: session, private work dir, the
  * seed, the measurement window, and the op recorder.
  */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
                val seconds: Double, val trace: Boolean, val tracer: Tracer) {
  def path(name: String): String = new java.io.File(work, name).getAbsolutePath

  /** Latency samples (ms) of successful ops by kind, traced and untraced
    * kept apart: the traced ones only feed the overhead estimate.
    */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val tracedSamples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  var checksRun = 0
  private var tracing = false

  /** Trace the ops of the enclosed block (listener spans per op). */
  def tracedBlock[T](on: Boolean)(f: => T): T = {
    tracing = on && trace
    try f finally tracing = false
  }

  /** Time one operation. A thrown error counts as a failure and yields
    * no latency sample: a failed op never reads as a fast one.
    */
  def op[T](kind: String)(f: => T): Option[T] = {
    attempted += 1
    if (tracing) tracer.begin(kind)
    val t0 = System.nanoTime()
    val r = try Some(f) catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] $kind failed: $e")
        e.printStackTrace()
        None
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (tracing) tracer.end(ms)
    if (r.isDefined)
      (if (tracing) tracedSamples else samples).getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
    r
  }

  /** Record one output check; a false result counts as a failed op. */
  def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    checksRun += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] CHECK FAILED: $what $detail")
    }
  }

  /** Wall seconds of `f` (set-up and probes, outside the op record). */
  def secs(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def lat(kind: String): Seq[Double] = samples.get(kind).map(_.toSeq).getOrElse(Nil)
  def tlat(kind: String): Seq[Double] = tracedSamples.get(kind).map(_.toSeq).getOrElse(Nil)

  /** Closed loop: one client runs the workload's fixed op mix (one char
    * per op) round after round until the window closes. Only whole rounds
    * run, at least one, so every run measures the same mix of op kinds.
    * When tracing, rounds alternate untraced and traced, so both halves
    * see the same state drift. A window of 0 runs no op (the class-data
    * training run only needs set-up and warm-up). `exec` gets the op's
    * char, its round and its position in the round. Returns (ops, seconds).
    */
  def loop(mix: String)(exec: (Char, Int, Int) => Unit): (Long, Double) = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val minOps = if (seconds <= 0) 0 else mix.length * (if (trace) 2 else 1)
    var i = 0L
    def more = i < minOps || i % mix.length != 0 || (minOps > 0 && System.nanoTime() < deadline)
    while (more) {
      val round = (i / mix.length).toInt
      val pos = (i % mix.length).toInt
      tracedBlock(round % 2 == 1)(exec(mix(pos), round, pos))
      i += 1
    }
    (i, (System.nanoTime() - t0) / 1e9)
  }

  /** Overhead of tracing on the primary op: traced over untraced median. */
  def traceOverhead(kind: String): Double = {
    val a = Stats.median(lat(kind)); val b = Stats.median(tlat(kind))
    if (a > 0 && b > 0) b / a - 1.0 else 0.0
  }
}

object Stats {
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (0 for no samples). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def summary(xs: Seq[Double]): Map[String, Any] =
    Map("n" -> xs.size, "p50" -> median(xs), "p90" -> quantile(xs, 0.9),
      "min" -> (if (xs.isEmpty) 0.0 else xs.min), "max" -> (if (xs.isEmpty) 0.0 else xs.max))
}

/** Minimal JSON writer for the result and trace files. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case o: Option[_] => o.map(apply).getOrElse("null")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.result()
  }
}
