package graft.perfbench

import scala.collection.mutable

/** Order statistics as the benchmark reports them. */
object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  /** Nearest-rank percentile of a sorted sample. */
  def pct(sorted: IndexedSeq[Double], p: Double): Double =
    sorted(math.min(sorted.size - 1, math.max(0, math.ceil(p / 100 * sorted.size).toInt - 1)))

  val TailCandidates: Seq[Double] = Seq(99.9, 99.5, 99.0, 98.0, 97.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest candidate percentile with at least ten samples beyond
    * it, with the percentile chosen: (value, percentile).
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) (0.0, 0.0)
    else {
      val p = TailCandidates.find(p => s.size - math.ceil(p / 100 * s.size) >= 10)
        .getOrElse(50.0)
      (pct(s, p), p)
    }
  }
}

/** Everything one run measured: metrics (value, unit, sample count, note),
  * attempted and failed operations with the reasons. Serialized as the
  * JSON the runner prints from.
  */
final class Report(val workload: String, val seed: Long, val traced: Boolean) {
  final case class M(value: Double, unit: String, samples: Long, note: String)

  val e2e = mutable.LinkedHashMap.empty[String, M]
  val layer = mutable.LinkedHashMap.empty[String, M]
  /** workload-specific names of the end-to-end figures (report only) */
  val detail = mutable.LinkedHashMap.empty[String, M]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attemptedN = 0L
  private var failedN = 0L

  def attempt(n: Long): Unit = synchronized { attemptedN += n }
  def fail(n: Long, why: String): Unit = synchronized {
    if (n > 0) { failedN += n; failures += s"$n × $why" }
  }
  def attempted: Long = synchronized(attemptedN)
  def failed: Long = synchronized(failedN)

  def end(name: String, v: Double, unit: String, samples: Long, note: String = ""): Unit =
    e2e(name) = M(v, unit, samples, note)
  def per(name: String, v: Double, unit: String, samples: Long, note: String = ""): Unit =
    layer(name) = M(v, unit, samples, note)
  def info(name: String, v: Double, unit: String, samples: Long, note: String = ""): Unit =
    detail(name) = M(v, unit, samples, note)

  private def esc(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString }
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  private def obj(m: mutable.LinkedHashMap[String, M]): String =
    m.map { case (k, x) =>
      s""""$k":{"value":${num(x.value)},"unit":"${x.unit}","samples":${x.samples},"note":"${esc(x.note)}"}"""
    }.mkString("{", ",", "}")

  def toJson: String =
    s"""{"workload":"$workload","seed":$seed,"trace":$traced,"attempted":$attempted,"failed":$failed,""" +
      s""""failures":${failures.map(f => "\"" + esc(f) + "\"").mkString("[", ",", "]")},""" +
      s""""end_to_end":${obj(e2e)},"per_layer":${obj(layer)},"detail":${obj(detail)}}"""
}
