package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark entry point (launched by `perfbench/run.py`).
  *
  * Args: `--workload rcmn_request|ingest_serve --seed N
  * --seconds S --trace 0|1 --run-dir D --fixtures-dir F --out-dir O --nproc P
  * --heap-mb H`,
  * or `--fixtures F --run-dir D --nproc P` to write every workload's stored
  * data under F (run by `build.py` when the benchmark's sources change),
  * or `--digest N --seed S` to print the input digest (generator
  * self-test). The last stdout line is the result object. */
object Main {
  val SetupReps = 3

  /** Public calls timed per operation (traced runs). */
  val OpSpans: Seq[String] = Seq(
    "StubLlm.complete", "Embeddings.embedCol", "Knn.topKPerQuery", "Knn.fuse",
    "CampaignRecommend.segments", "Conditions.synthesize",
    "Conditions.threshold", "Conditions.stringConsensus",
    "SweepLine.consensus", "Tables.load", "Audience.count",
    "NlTargeting.parseTriples", "NlTargeting.targetCodes",
    "Ann.searchIvf", "Ann.appendIvf", "Ann.deleteFromIvf",
    "Ann.ivfTombstoneFraction", "Ann.compactIvf", "Ann.saveIvf",
    "Ann.loadIvf", "Dedup.dedupIncremental", "Dedup.appendCorpusIndex",
    "Dedup.saveCorpusIndex", "Dedup.loadCorpusIndex",
    "Dedup.deleteFromCorpusIndex", "Dedup.tombstoneFraction",
    "Dedup.compactCorpusIndex")

  /** Public calls timed during set-up (traced runs). */
  val SetupSpans: Seq[String] = Seq("IndexBuild.campaignIndex",
    "IndexBuild.conditionIndex", "Ann.buildIvfKMeansLloyd", "Ann.saveIvf",
    "Dedup.buildCorpusIndex", "Dedup.saveCorpusIndex")

  val LayerCounts: Seq[String] = Seq("Ann.scored_per_hit", "Ann.write_amp",
    "Ann.space_amp", "Ann.tombstone_frac", "Ann.compactions",
    "Dedup.write_amp", "Dedup.tombstone_frac", "Dedup.compactions",
    "Dedup.drops_per_batch", "Dedup.drop_precision")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    if (args.contains("digest")) {
      println(new Inputs(args("seed").toLong).digest(args("digest").toInt))
      return
    }
    val runDir = args("run-dir")
    val nproc = args("nproc").toInt
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("ERROR")
      if (args.contains("fixtures")) writeFixtures(spark, args("fixtures"))
      else run(spark, args("workload"), args("seed").toLong, args("seconds").toDouble,
        args("trace") == "1", runDir, args("fixtures-dir"), args("out-dir"), nproc,
        args("heap-mb").toLong)
    } finally spark.stop()
  }

  /** The stored data of every workload, each in its own subdirectory of
    * `dir` (it depends only on [[Inputs.FixtureSeed]], not on a run seed). */
  private def writeFixtures(spark: SparkSession, dir: String): Unit = {
    val in = new Inputs(Inputs.FixtureSeed)
    val T = new Tracer(false)
    new RcmnRequest(spark, in, T, "").writeFixtures(s"$dir/rcmn_request")
    new IngestServe(spark, in, T, "", "").writeFixtures(s"$dir/ingest_serve")
    phase("fixtures written")
  }

  private def run(spark: SparkSession, name: String, seed: Long,
      seconds: Double, traced: Boolean, runDir: String, fixtures: String,
      outDir: String, nproc: Int, heapMb: Long): Unit = {
    phase("session up")
    graft.Graft.init(spark)
    val in = new Inputs(seed)
    val T = new Tracer(traced)
    val wl: Workload = name match {
      case "rcmn_request" => new RcmnRequest(spark, in, T, fixtures)
      case "ingest_serve" => new IngestServe(spark, in, T, fixtures, runDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val counters = new Counters(spark)
    val h = new Harness(spark, counters, T)
    val setupS = h.setupSeconds(wl, r => s"$runDir/setup-$r", SetupReps)
    phase("set-up done")
    T.op = -2 // set-up checks: neither set-up nor window
    val setupErrors = wl.setupChecks()
    phase("set-up checked")
    setupErrors.foreach(e => System.err.println(s"[perfbench] set-up check: $e"))

    val (ops, firstOp) = h.loop(wl, seconds)
    phase("window done")
    val (q1, q2) = wl.quality
    wl.release()
    val heapLiveMb = h.liveHeapMb()
    val prim = ops.filterNot(_.secondary)
    val sec = ops.filter(_.secondary)

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", Stats.median(setupS), "s"),
        ("ops_per_s", ops.length / (ops.map(_.ms).sum / 1000.0), "1/s"),
        ("primary.p50_ms", Stats.median(prim.map(_.ms)), "ms"),
        ("primary.p90_ms", Stats.percentile(prim.map(_.ms), 0.9), "ms"),
        ("secondary.p50_ms", Stats.median(sec.map(_.ms)), "ms"),
        ("quality.primary", q1, "ratio"),
        ("quality.secondary", q2, "ratio"),
        ("heap_live_mb", heapLiveMb, "MiB"))
      else {
        // counts: median per op (they repeat exactly); times: mean per op
        val costs = for ((label, rs) <- Seq("primary" -> prim, "secondary" -> sec);
            (metric, unit) <- OpCost.names) yield {
          val vs = rs.map(_.cost.values.find(_._1 == metric).get._2)
          (s"$label.$metric",
            if (vs.isEmpty) 0.0 else if (unit == "ms") vs.sum / vs.length else Stats.median(vs),
            unit)
        }
        // self time as a share of op (or set-up) time: a call a workload
        // never makes reads 0, a ratio rather than a time that never varies
        val opSelf = T.selfTotals(_ >= firstOp)
        val opMs = ops.map(_.ms).sum
        val setupSelf = T.selfTotals(_ == -1)
        val setupMs = setupS.sum * 1000
        val layer = wl.layerMetrics
        costs ++
          OpSpans.map(n => (s"$n.self_share", opSelf.getOrElse(n, 0.0) / opMs, "ratio")) ++
          SetupSpans.map(n =>
            (s"$n.setup_share", setupSelf.getOrElse(n, 0.0) / setupMs, "ratio")) ++
          LayerCounts.map(n => (n, layer.get(n).filterNot(_.isNaN).getOrElse(0.0),
            unitOf(n))) :+
          (("trace.primary.p50_ms", Stats.median(prim.map(_.ms)), "ms"))
      }

    if (traced) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      val opsJson = ops.map(o =>
        s"""{"op":${o.i},"secondary":${o.secondary},"ms":${o.ms},"ok":${o.ok},""" +
          o.cost.values.map { case (k, v, _) => s""""$k":${num(v)}""" }.mkString(",") + "}")
        .mkString("[\n", ",\n", "\n]")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/trace-$name-$seed.json"),
        s"""{"ops":$opsJson,\n"spans":${T.toJson}}\n""".getBytes("UTF-8"))
    }

    val failed = ops.count(!_.ok)
    println(s"""{"perfbench":{"workload":"$name","seed":$seed,"trace":$traced,""" +
      s""""nproc":$nproc,"heap_mb":$heapMb,"spark":"${spark.version}",""" +
      s""""warmup_ops":$firstOp,"ops":${ops.length},"primary_ops":${prim.length},""" +
      s""""secondary_ops":${sec.length},"setup_s":[${setupS.map(num).mkString(",")}],""" +
      s""""setup_errors":${setupErrors.length}}}""")
    val ms = metrics.map { case (k, v, u) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":${failed == 0 && setupErrors.isEmpty},""" +
      s""""attempted":${ops.length},"failed":$failed,"metrics":{$ms}}""")
  }

  private val t0 = System.nanoTime()
  private def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.1f s: $what")

  private def unitOf(layerCount: String): String = layerCount match {
    case n if n.endsWith("_amp") || n.endsWith("_frac") || n.endsWith("_per_hit") ||
        n.endsWith("_precision") => "ratio"
    case _ => "count"
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else v.toString
}

object Gen {
  /** Rows 0 until n, generated in Spark tasks (each row is a pure function
    * of its index, so the partitioning does not change the data). */
  def rows[A: scala.reflect.ClassTag](spark: SparkSession, n: Int)(row: Int => A)
      : org.apache.spark.rdd.RDD[A] = {
    val sc = spark.sparkContext
    sc.parallelize(0 until n, sc.defaultParallelism).map(row)
  }
}

object Files {
  private def walk(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    if (!java.nio.file.Files.exists(p)) Nil
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.toList finally s.close()
    }
  }

  def delete(dir: String): Unit =
    walk(java.nio.file.Paths.get(dir)).reverse.foreach(java.nio.file.Files.delete)

  /** Bytes of the regular files under `dir`. */
  def size(dir: String): Long =
    walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(java.nio.file.Files.size).sum
}
