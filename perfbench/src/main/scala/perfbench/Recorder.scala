package perfbench

import scala.collection.mutable

/** Latency samples and failure accounting of one run. Thread-safe:
  * set-up runs its ETL side and its text side concurrently.
  *
  * Every call the workload issues is one attempted operation. A call
  * that throws, or whose correctness check fails, is a failed one; its
  * latency is still recorded, and the run ends with a non-zero status.
  */
final class Recorder {
  val samples: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  /** per call of a kind, its units of work (lines, documents, queries)
    * per second */
  val rates: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  val sums: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  var attempted = 0L
  var failed = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def add(key: String, v: Double): Unit = synchronized(sums(key) = sums.getOrElse(key, 0.0) + v)

  /** Times `f` as one operation of kind `kind` that does `units` of
    * work. `check` returns the list of mismatches against ground truth;
    * any mismatch fails it. */
  def op[A](kind: String, units: Double = 0)(f: => A)(check: A => Seq[String]): Option[A] = {
    synchronized(attempted += 1)
    val t0 = System.nanoTime()
    val r =
      try Right(f)
      catch { case e: Exception => Left(e) }
    val s = (System.nanoTime() - t0) / 1e9
    synchronized {
      samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += s
      if (units > 0) rates.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += units / s
    }
    r match {
      case Left(e) =>
        fail(s"$kind threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
        None
      case Right(v) =>
        val bad =
          try check(v)
          catch { case e: Exception => Seq(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
        if (bad.nonEmpty) fail(s"$kind: ${bad.take(5).mkString("; ")}".take(600))
        Some(v)
    }
  }

  /** A failed check outside a timed operation (the end-of-run gate). */
  def gate(name: String)(bad: => Seq[String]): Unit = {
    synchronized(attempted += 1)
    val b =
      try bad
      catch { case e: Exception => Seq(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    if (b.nonEmpty) fail(s"$name: ${b.take(5).mkString("; ")}".take(600))
  }

  private def fail(msg: String): Unit = synchronized {
    failed += 1
    failures += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }

  def n(kind: String): Int = samples.get(kind).map(_.size).getOrElse(0)
  def all(kind: String): Seq[Double] = samples.get(kind).map(_.toSeq).getOrElse(Nil)
  def allRates(kind: String): Seq[Double] = rates.get(kind).map(_.toSeq).getOrElse(Nil)
}

object Stats {

  /** Linear-interpolated percentile of `xs` (p in [0, 100]); NaN when
    * there are no samples. */
  def percentile(xs: Seq[Double], p: Double): Double = if (xs.isEmpty) Double.NaN else {
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest percentile that still has ten samples beyond it,
    * 100·(1 − 10/n); the median when there are fewer than twenty. */
  def tailPercentile(n: Int): Double =
    if (n < 20) 50.0 else 100.0 * (1.0 - 10.0 / n)

  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = tailPercentile(xs.size)
    (p, percentile(xs, p))
  }
}

/** Minimal JSON writer for the result lines. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
