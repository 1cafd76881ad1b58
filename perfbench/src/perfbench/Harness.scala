package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What every workload gives the closed loop. */
trait Workload {
  /** Writes the workload's fixed stored data (see [[Inputs]]) under `dir`. */
  def writeFixtures(dir: String): Unit

  /** Op kinds run and thrown away before the timed window: JIT, codegen
    * caches and the index state settle during these. */
  def warmup: Seq[Boolean]

  /** One full set-up into `dir`: index build, persist, first load. The
    * loop calls it several times and keeps the state of the last call. */
  def setup(dir: String): Unit

  /** Untimed checks after set-up; each failure is a message. */
  def setupChecks(): Seq[String] = Nil

  /** The window runs at least this many blocks, however long they take:
    * a window of a given length that holds one write fewer on a slow run
    * would move a median of few writes by far more than the host moved. */
  def minWindowBlocks: Int

  /** The op kinds of block `b` (false = primary, true = secondary): a
    * fixed mix in a seeded order. The loop runs whole blocks, so every
    * window holds the op kinds in exactly this mix and drift hits all
    * kinds alike. */
  def block(b: Int): Seq[Boolean]

  /** Runs op `i` (timed) and returns its untimed checker, which gets the
    * op's engine cost, records quality and answers whether the output was
    * correct. */
  def op(i: Int, secondary: Boolean): OpCost => Boolean

  /** A failed op: record it as a quality miss. */
  def failed(secondary: Boolean): Unit

  /** Start of the timed window: reset quality and layer counts. */
  def startWindow(firstOp: Int): Unit

  def quality: (Double, Double)

  /** After the window: drops the benchmark's own reference state (oracle,
    * mirrors of the live set), so the live heap read next is the program's. */
  def release(): Unit

  /** Per-layer counts this workload owns (`Ann.*`, `Dedup.*`). */
  def layerMetrics: Map[String, Double] = Map.empty
}

final case class OpRecord(i: Int, secondary: Boolean, ms: Double,
    ok: Boolean, cost: OpCost)

/** Closed loop, one client: the next op starts when the previous one
  * (and its untimed check) has returned. */
final class Harness(spark: SparkSession, counters: Counters, tracer: Tracer) {

  def setupSeconds(wl: Workload, dirOf: Int => String, reps: Int): Seq[Double] =
    (0 until reps).map { r =>
      val t0 = System.nanoTime()
      wl.setup(dirOf(r))
      (System.nanoTime() - t0) / 1e9
    }

  private def runOne(wl: Workload, i: Int, secondary: Boolean): OpRecord = {
    tracer.op = i
    counters.begin()
    val t0 = System.nanoTime()
    val checker =
      try Some(wl.op(i, secondary))
      catch { case e: Exception =>
        System.err.println(s"[perfbench] op $i failed: $e")
        e.printStackTrace()
        None
      }
    val ms = (System.nanoTime() - t0) / 1e6
    val cost = counters.end()
    val ok = checker match {
      case Some(c) => c(cost)
      case None => wl.failed(secondary); false
    }
    System.err.println(f"[perfbench] op $i%d ${if (secondary) "S" else "P"} " +
      f"$ms%.1f ms jobs=${cost.jobs}%d ok=$ok")
    OpRecord(i, secondary, ms, ok, cost)
  }

  /** Warm-up ops, then whole blocks until `seconds` of wall time have
    * passed and at least `minWindowBlocks` blocks ran. Returns the window's
    * ops and the index of its first op. */
  def loop(wl: Workload, seconds: Double): (Seq[OpRecord], Int) = {
    var i = 0
    var b = 0
    def runBlock(): Seq[OpRecord] = {
      val rs = wl.block(b).map { sec => val r = runOne(wl, i, sec); i += 1; r }
      b += 1
      rs
    }
    wl.warmup.foreach { sec => runOne(wl, i, sec); i += 1 }
    wl.startWindow(i)
    val first = i
    val out = mutable.ArrayBuffer.empty[OpRecord]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var blocks = 0
    while (System.nanoTime() < deadline || blocks < wl.minWindowBlocks) {
      out ++= runBlock(); blocks += 1
    }
    (out.toSeq, first)
  }

  /** Heap in use after full collections; the lowest of three readings,
    * with a pause between them for the context cleaner to drop the
    * shuffles and broadcasts the previous collection released. */
  def liveHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 3).map { _ =>
      System.gc(); Thread.sleep(200)
      mx.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }
}
