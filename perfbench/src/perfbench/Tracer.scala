package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

/** One traced call into the program. `parent` is the index of the
  * enclosing span (-1 at top level); spans of one operation share `op`. */
final case class Span(op: Int, name: String, parent: Int, startNs: Long,
    var endNs: Long = 0L, var childNs: Long = 0L) {
  def selfMs: Double = (endNs - startNs - childNs) / 1e6
}

/** Spans around every public program call the workloads make. Untraced,
  * each wrapper only evaluates its body. Traced, it records a span and
  * materializes the layer's (small) DataFrame output at the boundary, so
  * a layer's span holds that layer's engine work instead of leaving it to
  * whichever later action happens to run the lazy plan. Spans stay in
  * memory until the run ends. */
final class Tracer(val on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  var op: Int = -1

  def apply[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val idx = spans.length
      spans += Span(op, name, stack.headOption.getOrElse(-1), System.nanoTime())
      stack.push(idx)
      try body
      finally {
        stack.pop()
        val s = spans(idx)
        s.endNs = System.nanoTime()
        if (s.parent >= 0) spans(s.parent).childNs += s.endNs - s.startNs
      }
    }

  /** A call whose result is a small DataFrame: traced, the rows are
    * collected inside the span and handed on as a local relation. */
  def df(name: String)(body: => DataFrame): DataFrame =
    if (!on) body else apply(name)(materialize(body))

  /** Traced: the rows of `out` as a local relation; untraced: `out`. */
  def materialize(out: DataFrame): DataFrame =
    if (!on) out
    else {
      val rows: java.util.List[Row] = out.collect().toSeq.asJava
      out.sparkSession.createDataFrame(rows, out.schema)
    }

  /** Summed self time by span name over the spans whose op passes `ops`. */
  def selfTotals(ops: Int => Boolean): Map[String, Double] =
    spans.filter(s => ops(s.op)).groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(_.selfMs).sum }

  def toJson: String = spans.map(s =>
    s"""{"op":${s.op},"name":"${s.name}","parent":${s.parent},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ms":${s.selfMs}}""")
    .mkString("[\n", ",\n", "\n]")
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile (numpy's default); NaN when empty. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
