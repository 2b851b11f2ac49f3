package graftbench

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile `p` (0 < p < 1), reported only when at
    * least ten samples lie beyond it; otherwise None, because a tail
    * estimate resting on fewer samples is noise. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    val n = xs.length
    val rank = math.ceil(p * n).toInt // 1-based
    if (n == 0 || n - rank < 10) None else Some(xs.sorted.apply(rank - 1))
  }

  /** The highest of p99/p95/p90/p75 the sample supports, with its
    * percentile and sample count; None below 40 samples. */
  def tail(xs: Seq[Double]): Option[Map[String, Double]] =
    Seq(0.99, 0.95, 0.9, 0.75).iterator.flatMap(p => percentile(xs, p).map(v =>
      Map("percentile" -> p * 100, "value_ms" -> v, "samples" -> xs.length.toDouble))).nextOption()

  /** Tracing overhead (%) from operations run alternately traced and
    * untraced, as (kind, traced, time): per kind, the median traced
    * time over the median untraced time; the geometric mean of these
    * ratios over the kinds that have both, minus one. */
  def overheadPct(ops: Seq[(String, Boolean, Double)]): Double = {
    val ratios = ops.groupBy(_._1).values.toSeq.flatMap { byKind =>
      val (t, u) = byKind.partition(_._2)
      if (t.isEmpty || u.isEmpty) None else Some(median(t.map(_._3)) / median(u.map(_._3)))
    }
    require(ratios.nonEmpty, "no kind ran both traced and untraced")
    (math.exp(ratios.map(math.log).sum / ratios.length) - 1) * 100
  }

  /** Total length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** JSON through the Jackson mapper (with its Scala module) that Spark
  * ships: Scala maps, sequences and options serialise as JSON objects,
  * arrays and values-or-null. */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
  def apply(v: Any): String = mapper.writeValueAsString(v)
  def read(f: java.io.File): JsonNode = mapper.readTree(f)
}
