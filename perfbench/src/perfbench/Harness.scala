package perfbench

import scala.collection.mutable

/** Minimal JSON writer for the benchmark record (maps keep insertion order). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** Order statistics over latency samples. */
object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest percentile with at least ten samples beyond it,
    * `1 - 10/n`, and its label. It moves smoothly with the sample count, so
    * runs that complete a few statements more or less report nearly the
    * same percentile. Below twenty samples it would fall under the median,
    * so the median is reported and labelled as such. */
  def tail(xs: Seq[Double]): (Double, String) = {
    val q = 1.0 - 10.0 / xs.size
    if (q <= 0.5) (median(xs), "p50")
    else (quantile(xs, q), f"p${q * 100}%.1f")
  }
}

/** One metric of the record: value, unit, sample count and the statistic
  * (percentile, mean, total, ratio or state) it was taken as. */
final case class Metric(value: Double, unit: String, samples: Int, stat: String) {
  def json: Map[String, Any] =
    Map("value" -> value, "unit" -> unit, "samples" -> samples, "stat" -> stat)
}

/** One timed statement of a workload: its latency class (`read`, `write`,
  * `batch`, `window`), its kind, and a body that returns `None` when the
  * answer matched the expected one and `Some(reason)` when it did not. */
final case class Stmt(cls: String, kind: String, body: () => Option[String])

final case class Sample(idx: Int, cls: String, kind: String, seconds: Double,
    ok: Boolean, traced: Boolean, t0Ms: Long, t1Ms: Long)

/** The closed loop: one client issues the next statement only after the
  * previous one returned. Failed or wrong statements are counted and
  * listed, never timed as successes. */
final class Loop(tracer: Tracer) {
  val samples = mutable.ArrayBuffer.empty[Sample]
  val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var next = 0

  /** Run one statement; in a traced run every other statement is traced,
    * or this one when `forceTrace` is set. */
  def run(st: Stmt, forceTrace: Boolean = false): Unit = {
    val idx = next
    next += 1
    val traced = tracer.enabled && (forceTrace || idx % 2 == 1)
    tracer.begin(traced)
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val outcome: Option[String] =
      try st.body()
      catch { case e: Throwable if scala.util.control.NonFatal(e) =>
        Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}") }
    val secs = (System.nanoTime() - t0) / 1e9
    val t1Ms = System.currentTimeMillis()
    tracer.end()
    samples += Sample(idx, st.cls, st.kind, secs, outcome.isEmpty, traced, t0Ms, t1Ms)
    outcome.foreach(r => failures += Map("statement" -> idx, "class" -> st.cls,
      "kind" -> st.kind, "reason" -> r))
  }

  /** Run statements from `deck` until `seconds` of wall time have passed. */
  def runFor(seconds: Double)(deck: Int => Stmt): Double = {
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds) { run(deck(i)); i += 1 }
    (System.nanoTime() - t0) / 1e9
  }

  def ok: Seq[Sample] = samples.filter(_.ok).toSeq
  def attempted: Int = samples.size
  def failed: Int = samples.count(!_.ok)

  /** Latency metrics over successful statements of the given classes. */
  def latency(prefix: String, classes: Set[String]): Map[String, Metric] = {
    val xs = ok.filter(s => classes.contains(s.cls)).map(_.seconds)
    if (xs.isEmpty) Map.empty
    else {
      val (t, label) = Stats.tail(xs)
      Map(s"${prefix}_p50_s" -> Metric(Stats.median(xs), "s", xs.size, "p50"),
        s"${prefix}_tail_s" -> Metric(t, "s", xs.size, label))
    }
  }
}

/** Wall-clock phases of a run (preparation, set-up, timed, checks). */
final class Phases {
  private val t0 = System.nanoTime()
  private var last = t0
  private val marks = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def mark(name: String): Unit = {
    val now = System.nanoTime()
    marks(name) = (now - last) / 1e9
    last = now
  }
  def toMap: Map[String, Double] = marks.toMap + ("total" -> (last - t0) / 1e9)
}

/** Setup repeated `reps` times into fresh directories; setup_s is the median.
  * The state of the last repetition is what the timed phase runs on. */
object Setup {
  def repeated[S](reps: Int, tracer: Tracer)(build: Int => S): (S, Seq[Double], Seq[Boolean]) = {
    var last: Option[S] = None
    val times = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Boolean]
    (0 until reps).foreach { r =>
      val tr = tracer.enabled && r % 2 == 1
      tracer.begin(tr)
      val t0 = System.nanoTime()
      last = Some(build(r))
      times += (System.nanoTime() - t0) / 1e9
      tracer.end()
      traced += tr
    }
    (last.get, times.toSeq, traced.toSeq)
  }
}
