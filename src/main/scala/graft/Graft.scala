package graft

import org.apache.spark.sql.{Column, GraftSqlBridge, SparkSession}

import graft.functions.{CosineSimilarity, Fingerprint64, Simhash60}

/** Session factory and bootstrap: [[session]] is the one place a graft
  * `SparkSession` is built and sized; [[init]] registers graft's native
  * Catalyst functions so they are usable both as Columns and from
  * `spark.sql`. */
object Graft {

  /** Worker threads for a local session: `SPARK_GRAFT_CPUS` when set,
    * else every processor the JVM sees — defaults follow the host. */
  private def hostThreads: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The local session every graft main (and the test suite) runs on:
    * `local[threads]` with one shuffle partition per thread, then
    * [[init]]. The settings it pins:
    *  - `nanosAsLong`: fixtures have shipped TIMESTAMP(NANOS) columns
    *    (`Tables.load` normalizes them; harmless on micros fixtures);
    *  - UTC session time zone, so results do not follow the host's;
    *  - a 1-min periodic GC: the ContextCleaner that frees shuffle and
    *    broadcast state is GC-triggered and never fires on a large quiet
    *    heap, so a long session's tail queries crawl without it;
    *  - `spark.local.dir` on tmpfs (`SPARK_GRAFT_LOCAL_DIR` overrides):
    *    /tmp disk writeback stalls made the shuffle-heaviest query
    *    bimodal (2 s vs 50 s runs);
    *  - no UI. */
  def session(threads: Int = hostThreads,
      warehouseDir: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local"))
      .config("spark.ui.enabled", "false")
    val spark = warehouseDir
      .fold(b)(b.config("spark.sql.warehouse.dir", _)).getOrCreate()
    init(spark)
    spark
  }

  /** Idempotent and cheap — every public entry point calls it. */
  def init(spark: SparkSession): Unit = {
    GraftSqlBridge.registerFunction(spark, "cosine_sim",
      exprs => CosineSimilarity(exprs(0), exprs(1)))
    GraftSqlBridge.registerFunction(spark, "simhash60",
      exprs => Simhash60(exprs(0)))
    GraftSqlBridge.registerFunction(spark, "fingerprint64",
      exprs => Fingerprint64(exprs(0)))
    // per-session optimizer rule (cluster-wide form: GraftExtensions)
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.ImpossibleCosineFilter))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.ImpossibleCosineFilter
  }

  /** Whole-stage-codegen cosine similarity (see CosineSimilarityExpr.scala). */
  def cosine(a: Column, b: Column): Column =
    GraftSqlBridge.column(CosineSimilarity(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** Engine-agnostic `round(x, scale)` for RATIO-like doubles (ratios of
    * small integers, weighted sums of such): route through a decimal(28,12)
    * cast so both engines round the same decimal value HALF_UP. Plain
    * `round` on a double diverges between engines exactly when the true
    * rational sits on a rounding boundary (e.g. 0.65875: Spark rounds the
    * shortest decimal string → 0.6588, DuckDB rounds the binary value
    * 0.65874999… → 0.6587 — observed at sf0.1 on tx_quality). The oracle
    * twin is `round(CAST(x AS DECIMAL(28,12)), scale)::DOUBLE`. Generic
    * irrational-ish doubles (cosines, fused scores) never present short
    * boundary representations, so plain round stays fine there. */
  def roundExact(c: Column, scale: Int): Column =
    org.apache.spark.sql.functions
      .round(c.cast("decimal(28,12)"), scale).cast("double")

  /** RAM-backed scratch directory for intra-query artifacts (persisted
    * sketches, built indexes, stream sources, bucketed layouts).
    * `java.io.tmpdir` is this VM's /tmp DISK, whose asynchronous
    * writeback stalls for multi-second stretches — measured degrading
    * not the writing query but the queries in the NEXT window (two
    * rounds of q44 bar-misses traced to the write-heavy q39–q43 block
    * flushing during q44's runs; the same pathology that moved
    * spark.local.dir to /dev/shm). Scratch artifacts are short-lived
    * and bounded (≤ tens of MB at bench SF, cleaned in each query's
    * finally), so tmpfs is the right home. Override with
    * SPARK_GRAFT_TMP; falls back to java.io.tmpdir when /dev/shm is
    * absent (non-Linux dev boxes).
    *
    * Leak discipline (r14 advice): tmpfs pages are RAM — dirs that
    * outlive the process (process-lifetime caches, crash-interrupted
    * queries) would accumulate across bench/test runs until /dev/shm
    * pressure degrades UNRELATED runs on the same box (the shuffle
    * dirs live there too). Two backstops close that: a JVM shutdown
    * hook removes every dir this process created, and the first
    * scratchDir call of a process sweeps entries under graft-scratch
    * whose newest mtime is older than [[staleScratchMs]] (2 h —
    * generously past any session; a concurrent live session's dirs
    * are minutes old and untouched). Budget: a full bench session's
    * live scratch peaks ≈ 1 GiB at sf0.1; /dev/shm must hold that
    * plus spark.local.dir's shuffle spill. */
  private val staleScratchMs = 2L * 3600 * 1000
  private val createdScratch =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  private val scratchHooked = new java.util.concurrent.atomic.AtomicBoolean(false)
  private val scratchSwept = new java.util.concurrent.atomic.AtomicBoolean(false)

  private def deleteTree(p: java.nio.file.Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.isDirectory(p,
          java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
        val es = java.nio.file.Files.list(p)
        try es.iterator().asScala.toList.foreach(deleteTree) finally es.close()
      }
      java.nio.file.Files.deleteIfExists(p)
    } catch { case _: java.io.IOException => () } // racing sweeper/writer

  /** Newest mtime anywhere under p; a vanished entry (concurrent
    * cleanup) reads as maximally fresh so the sweep skips it. */
  private def newestMtime(p: java.nio.file.Path): Long =
    try {
      import scala.jdk.CollectionConverters._
      val self = java.nio.file.Files.getLastModifiedTime(p).toMillis
      if (!java.nio.file.Files.isDirectory(p,
          java.nio.file.LinkOption.NOFOLLOW_LINKS)) self
      else {
        val es = java.nio.file.Files.list(p)
        val kids = try es.iterator().asScala.toList finally es.close()
        (self +: kids.map(newestMtime)).max
      }
    } catch { case _: java.io.IOException => Long.MaxValue }

  private def sweepStale(root: java.nio.file.Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      val cutoff = System.currentTimeMillis() - staleScratchMs
      val es = java.nio.file.Files.list(root)
      val kids = try es.iterator().asScala.toList finally es.close()
      kids.filter(newestMtime(_) < cutoff).foreach(deleteTree)
    } catch { case _: java.io.IOException => () }

  def scratchDir(prefix: String): String = {
    val base = sys.env.get("SPARK_GRAFT_TMP")
      .map(java.nio.file.Paths.get(_))
      .orElse(Option(java.nio.file.Paths.get("/dev/shm"))
        .filter(p => java.nio.file.Files.isDirectory(p) &&
          java.nio.file.Files.isWritable(p)))
    if (scratchHooked.compareAndSet(false, true))
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        import scala.jdk.CollectionConverters._
        createdScratch.asScala.toList.foreach(deleteTree)
      }, "graft-scratch-cleanup"))
    val dir = base match {
      case Some(b) =>
        val root = b.resolve("graft-scratch")
        java.nio.file.Files.createDirectories(root)
        if (scratchSwept.compareAndSet(false, true)) sweepStale(root)
        java.nio.file.Files.createTempDirectory(root, prefix)
      case None =>
        java.nio.file.Files.createTempDirectory(prefix)
    }
    createdScratch.add(dir)
    dir.toString
  }

  /** Shared executor for intra-query CONCURRENT SPARK ACTIONS — the
    * replacement for the `scala.concurrent` global-pool + `Await`
    * idiom (r14 verdict #8). Each submitted thunk just drives a Spark
    * job and blocks on it, so the pool is a CACHED daemon pool: thread
    * count tracks the number of live blocked actions and nothing else,
    * which means NESTED use (a corpusReady chain that itself runs a
    * concurrent index build) can never deadlock the way a bounded
    * shared pool can — outer tasks never hold a slot an inner task is
    * queued behind, because there are no slots. Threads are daemons
    * (they must not pin the JVM past the session) and idle ones die
    * after the default 60 s. */
  private lazy val actionPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newCachedThreadPool(
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger(0)
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-action-${n.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      })

  private def await[A](f: java.util.concurrent.Future[A]): A =
    try f.get()
    catch { case e: java.util.concurrent.ExecutionException =>
      throw e.getCause }

  /** Run `a` on the action pool while `b` runs on the CALLER's thread,
    * then join — two concurrent Spark jobs, one extra thread, failures
    * rethrown with their original cause. */
  def inParallel[A, B](a: => A, b: => B): (A, B) = {
    val fa = actionPool.submit(
      new java.util.concurrent.Callable[A] { def call(): A = a })
    val rb = b
    (await(fa), rb)
  }

  /** Submit `a` to the action pool NOW and return a thunk that joins —
    * the start-early/consume-later form of [[inParallel]] for a job
    * whose consumer sits several actions downstream (r21: the
    * dedupIncremental one-shot build overlaps its corpus-side index
    * materializations with the batch chain this way). Failures
    * rethrow at the join with their original cause. */
  def defer[A](a: => A): () => A = {
    val f = actionPool.submit(
      new java.util.concurrent.Callable[A] { def call(): A = a })
    () => await(f)
  }

  /** Remove a scratch dir created by [[scratchDir]] right now — the
    * caller-side `finally`/failed-build form; the shutdown hook above
    * is only the backstop for paths that never reach their cleanup. */
  def dropScratch(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    deleteTree(p)
    createdScratch.remove(p)
  }
}
