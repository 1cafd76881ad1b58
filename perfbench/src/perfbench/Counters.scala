package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Engine work of one operation, as seen by the benchmark's listeners. */
final case class OpCost(
    jobs: Long, stages: Long, tasks: Long, planMs: Double, driverGapMs: Double,
    codegenCompiles: Long, pins: Long, execRunMs: Double, gcMs: Double,
    inputRecords: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    spillBytes: Long, outputBytes: Long) {
  def values: Seq[(String, Double, String)] = Seq(
    ("jobs", jobs.toDouble, "count"), ("stages", stages.toDouble, "count"),
    ("tasks", tasks.toDouble, "count"), ("plan_ms", planMs, "ms"),
    ("driver_gap_ms", driverGapMs, "ms"),
    ("codegen_compiles", codegenCompiles.toDouble, "count"),
    ("pins", pins.toDouble, "count"), ("exec_run_ms", execRunMs, "ms"),
    ("gc_ms", gcMs, "ms"), ("input_records", inputRecords.toDouble, "count"),
    ("shuffle_read_bytes", shuffleReadBytes.toDouble, "bytes"),
    ("shuffle_write_bytes", shuffleWriteBytes.toDouble, "bytes"),
    ("spill_bytes", spillBytes.toDouble, "bytes"),
    ("output_bytes", outputBytes.toDouble, "bytes"))
}

object OpCost {
  val names: Seq[(String, String)] =
    OpCost(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0).values.map(v => (v._1, v._3))
}

/** Counts Spark work per operation. The benchmark runs one operation at a
  * time, so everything the engine reports between [[begin]] and [[end]]
  * (after the listener bus has drained) belongs to that operation —
  * including jobs the program starts on its own helper threads. */
final class Counters(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private var jobs, stages, tasks, inputRecords = 0L
  private var shuffleRead, shuffleWrite, spill, output = 0L
  private var execRunMs, gcMs, planMs = 0.0
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val pinned = mutable.Set.empty[Int]
  private var compiles0 = 0L
  private var t0Ms = 0L

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def begin(): Unit = {
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    synchronized {
      jobs = 0; stages = 0; tasks = 0; inputRecords = 0
      shuffleRead = 0; shuffleWrite = 0; spill = 0; output = 0
      execRunMs = 0; gcMs = 0; planMs = 0
      jobStart.clear(); jobSpans.clear(); pinned.clear()
    }
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    t0Ms = System.currentTimeMillis()
  }

  def end(): OpCost = {
    val t1Ms = System.currentTimeMillis()
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    synchronized {
      // wall time of the op that no job covered: planning, driver-side
      // collects and waits between jobs
      val spans = (jobSpans ++ jobStart.values.map(s => (s, t1Ms)))
        .map { case (s, e) => (math.max(s, t0Ms), math.min(e, t1Ms)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var covered = 0L; var hi = t0Ms
      spans.foreach { case (s, e) =>
        if (e > hi) { covered += e - math.max(s, hi); hi = e } }
      OpCost(jobs, stages, tasks, planMs, (t1Ms - t0Ms - covered).toDouble,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0,
        pinned.size, execRunMs, gcMs, inputRecords, shuffleRead,
        shuffleWrite, spill, output)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1; jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      execRunMs += m.executorRunTime
      gcMs += m.jvmGCTime
      inputRecords += m.inputMetrics.recordsRead
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      output += m.outputMetrics.bytesWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    e.blockUpdatedInfo.blockId match {
      case RDDBlockId(rdd, _) if e.blockUpdatedInfo.storageLevel.isValid =>
        synchronized { pinned += rdd }
      case _ =>
    }

  private def addPlan(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    val ms = Seq("analysis", "optimization", "planning")
      .flatMap(ph.get).map(_.durationMs).sum
    synchronized { planMs += ms }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = addPlan(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = addPlan(qe)
}
