package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ann

/** `Ann.searchIvf` ranks the coarse centroids on the driver, scans only
  * the probed buckets and filters pending tombstones out by a literal id
  * set. These specs hold it to the all-Spark form it replaced (centroid
  * probe as a broadcast `orderBy.limit`, bucket scan as a broadcast
  * left-semi join, tombstones as the `liveAssignments` left-anti join),
  * kept here as the reference: equal `(vec_id, simil)` lists, `simil`
  * compared bit for bit, on built, appended, reloaded, tombstoned and
  * compacted indexes, random queries, the ranking's edge cases and the
  * tombstone filter's edge cases. */
class IvfSearchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def reference(ivf: Ann.Ivf, queryVec: DataFrame, nprobe: Int,
      k: Int): DataFrame = {
    val probed = ivf.centroids.crossJoin(broadcast(queryVec))
      .select(col("centroid_id"), Graft.cosine(col("cvec"), col("qvec")).as("cs"))
      .orderBy(col("cs").desc, col("centroid_id"))
      .limit(nprobe)
      .select(col("centroid_id"))
    Ann.liveAssignments(ivf)
      .join(broadcast(probed), Seq("centroid_id"), "left_semi")
      .crossJoin(broadcast(queryVec))
      .select(col("vec_id"), Graft.cosine(col("embedding"), col("qvec")).as("simil"))
      .orderBy(col("simil").desc, col("vec_id"))
      .limit(k)
  }

  private def bits(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0),
      java.lang.Double.doubleToLongBits(r.getDouble(1)))).toSeq

  private def qdf(v: Seq[Float]): DataFrame = Seq(Tuple1(v)).toDF("qvec")

  /** [[bits]] for hit lists that may hold a null `vec_id`. */
  private def nullableBits(df: DataFrame): Seq[(Option[Long], Long)] =
    df.collect().map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
      java.lang.Double.doubleToLongBits(r.getDouble(1)))).toSeq

  private def assertSame(ivf: Ann.Ivf, q: DataFrame, nprobe: Int, k: Int,
      what: String): Seq[(Long, Long)] = {
    val want = bits(reference(ivf, q, nprobe, k))
    val got = bits(Ann.searchIvf(ivf, q, nprobe, k))
    assert(got == want, s"$what (nprobe=$nprobe, k=$k)")
    got
  }

  test("searchIvf takes exactly one non-null qvec row") {
    val ivf = Ann.Ivf(
      Seq((1L, Seq(1f, 0f), 0L), (2L, Seq(0f, 1f), 1L))
        .toDF("vec_id", "embedding", "centroid_id"),
      Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f))).toDF("centroid_id", "cvec"))
    val one = Ann.searchIvf(ivf, qdf(Seq(1f, 0.1f)), nprobe = 1, k = 5)
    assert(one.collect().map(_.getLong(0)).toSeq == Seq(1L))
    for ((rows, n) <- Seq(
        (Seq.empty[Tuple1[Seq[Float]]], "0 row"),
        (Seq(Tuple1(Seq(1f, 0f)), Tuple1(Seq(0f, 1f))), "2 row"),
        (Seq(Tuple1(null: Seq[Float])), "null qvec"))) {
      val err = intercept[IllegalArgumentException] {
        Ann.searchIvf(ivf, rows.toDF("qvec"), nprobe = 2, k = 5)
      }
      assert(err.getMessage.contains(n), err.getMessage)
    }
  }

  test("equals the Spark-probe form on the embeddings index built, " +
      "appended, reloaded, tombstoned and compacted, for corpus and " +
      "seeded random queries") {
    val e = Tables.load(spark, TestSpark.sfDir, "embeddings")
      .localCheckpoint(true)
    val dim = e.select(size(col("embedding"))).head.getInt(0)
    val rnd = new scala.util.Random(11)
    val queries =
      e.filter(col("vec_id") < 2).select(col("embedding")).collect()
        .map(_.getSeq[Float](0)).toSeq ++
      Seq.fill(12)(Seq.fill(dim)(rnd.nextGaussian().toFloat))
    val built = Ann.buildIvf(e.filter(pmod(col("vec_id"), lit(3)) =!= 0))
    val appended = Ann.appendIvf(built,
      e.filter(pmod(col("vec_id"), lit(3)) === 0))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_search")
      .toString
    Ann.saveIvf(appended, dir)
    val loaded = Ann.loadIvf(spark, dir)
    val tombed = Ann.deleteFromIvf(loaded,
      e.filter(pmod(col("vec_id"), lit(4)) === 1).select(col("vec_id")))
    val dir2 = java.nio.file.Files.createTempDirectory("graft_ivf_search")
      .toString
    Ann.saveIvf(tombed, dir2)
    val tombedLoaded = Ann.loadIvf(spark, dir2)
    assert(tombedLoaded.tombs.nonEmpty)
    val compacted = Ann.compactIvf(tombed)
    for ((name, ivf) <- Seq("built" -> built, "appended" -> appended,
        "loaded" -> loaded, "tombstoned" -> tombed,
        "tombstoned, reloaded" -> tombedLoaded, "compacted" -> compacted);
        (v, i) <- queries.zipWithIndex) {
      val got = assertSame(ivf, qdf(v), nprobe = 4, k = 10, s"$name q$i")
      assert(got.size == 10, s"$name q$i")
    }
    // tombstoned ids never surface; the compacted index answers alike
    val q0 = qdf(queries.head)
    assert(bits(Ann.searchIvf(tombed, q0, 32, 50)).forall(_._1 % 4 != 1))
    assert(bits(Ann.searchIvf(tombed, q0, 32, 50)) ==
      bits(Ann.searchIvf(compacted, q0, 32, 50)))
  }

  test("edge cases: a cs tie broken by centroid_id, NaN and null " +
      "centroids, zero-norm query and centroid, nprobe 0 and >= C, " +
      "k beyond the probed rows") {
    // listed so that a ranking that ignores centroid_id would keep the
    // tied ids 2 and 1 in this (wrong) order
    val centroids = Seq[(Long, Seq[Float])](
      (5L, null), (4L, Seq(Float.NaN, 1f)), (3L, Seq(0f, 0f)),
      (2L, Seq(1f, 1f)), (1L, Seq(1f, 1f)), (0L, Seq(-1f, 0.2f)))
      .toDF("centroid_id", "cvec")
    val assignments = (0L until 6L).flatMap(c =>
      (0 until 3).map(j => (c * 10 + j, Seq(1f + j, c.toFloat - j), c)))
      .toDF("vec_id", "embedding", "centroid_id")
    val ivf = Ann.Ivf(assignments, centroids)
    val diag = qdf(Seq(0.5f, 0.5f))
    // NaN ranks first under Spark's double order, then the tie 1 < 2
    assert(assertSame(ivf, diag, nprobe = 2, k = 10, "tie")
      .map(_._1 / 10).toSet == Set(4L, 1L))
    assertSame(ivf, diag, nprobe = 3, k = 10, "tie, both probed")
    for (q <- Seq(diag, qdf(Seq(0f, 0f)), qdf(Seq(-1f, 0f)));
         nprobe <- Seq(0, 1, 3, 6, 9); k <- Seq(1, 4, 100))
      assertSame(ivf, q, nprobe, k, s"q=${q.head.get(0)}")
    assert(bits(Ann.searchIvf(ivf, diag, nprobe = 0, k = 10)).isEmpty)
    // the null centroid ranks last: only nprobe = C reaches its bucket
    assert(!bits(Ann.searchIvf(ivf, diag, 5, 100)).exists(_._1 / 10 == 5))
    assert(bits(Ann.searchIvf(ivf, diag, 6, 100)).size == 18)
  }

  test("tombstone filter edge cases equal the anti-join: duplicate and " +
      "absent ids, a null vec_id, a wholly tombstoned probed bucket, an " +
      "empty tombstone file after reload") {
    val centroids = Seq[(Long, Seq[Float])]((0L, Seq(1f, 0f)),
      (1L, Seq(0f, 1f)), (2L, Seq(-1f, 0f))).toDF("centroid_id", "cvec")
    val rows = (0L until 3L).flatMap(c => (0 until 4).map(j =>
      (Option(c * 10 + j), Seq(1f + j - c, c.toFloat + j), c))) :+
      ((None: Option[Long], Seq(0.9f, 0.1f), 0L))
    val assignments = rows.toDF("vec_id", "embedding", "centroid_id")
    def tombed(ids: Option[Long]*) =
      Ann.Ivf(assignments, centroids, Some(ids.toDF("vec_id")))
    val q = qdf(Seq(1f, 0.2f))
    def same(ivf: Ann.Ivf, nprobe: Int, k: Int,
        what: String): Seq[(Option[Long], Long)] = {
      val want = nullableBits(reference(ivf, q, nprobe, k))
      val got = nullableBits(Ann.searchIvf(ivf, q, nprobe, k))
      assert(got == want, s"$what (nprobe=$nprobe, k=$k)")
      got
    }
    val cases = Seq(
      "duplicate ids" -> tombed(Some(1L), Some(1L), Some(11L), Some(11L)),
      "absent ids" -> tombed(Some(999L), Some(-5L)),
      "a null and a present id" -> tombed(None, Some(2L)),
      "bucket 0 wholly tombstoned" ->
        tombed((0L until 4L).map(Some(_)) :+ None: _*))
    for ((name, ivf) <- cases; nprobe <- Seq(1, 2, 3); k <- Seq(3, 20)) {
      val got = same(ivf, nprobe, k, name)
      // the null vec_id row in bucket 0 survives every tombstone set
      if (k == 20) assert(got.exists(_._1.isEmpty), name)
    }
    // a probed bucket with only its null-id row left: fewer than k hits
    val (_, wiped) = cases.last
    val hits = same(wiped, 2, 10, "wiped bucket")
    assert(hits.size == 1 + 4 && hits.flatMap(_._1).forall(_ >= 10))
    assert(same(tombed(Some(999L)), 1, 20, "absent").size == 5)
    // an index saved with an empty tombstone relation reloads with an
    // empty tombstone file and searches as the untombstoned index does
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_tomb0")
      .toString
    Ann.saveIvf(Ann.Ivf(assignments, centroids,
      Some(Seq.empty[Long].toDF("vec_id"))), dir)
    val reloaded = Ann.loadIvf(spark, dir)
    assert(reloaded.tombs.exists(_.isEmpty))
    val untombed = reloaded.copy(tombs = None)
    for (nprobe <- Seq(1, 3); k <- Seq(3, 20)) {
      val got = same(reloaded, nprobe, k, "empty tombs, reloaded")
      assert(got == same(untombed, nprobe, k, "no tombs, reloaded"))
    }
  }

  test("a loaded tombstoned index searches in one job per search: the " +
      "centroid and tombstone reads do not run again") {
    val e = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_memo")
      .toString
    Ann.saveIvf(Ann.deleteFromIvf(Ann.buildIvf(e, numCentroids = 8),
      e.filter(pmod(col("vec_id"), lit(3)) === 0).select(col("vec_id"))),
      dir)
    val ivf = Ann.loadIvf(spark, dir)
    val qs = e.filter(col("vec_id") < 3).select(col("embedding")).collect()
      .map(r => qdf(r.getSeq[Float](0)))
    val sc = spark.sparkContext
    val group = "ivf-memo"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val jobListener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties != null &&
            j.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    // the output columns of every action the searches run
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]
    val qeListener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        actions.add(qe.analyzed.output.map(_.name))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit =
        actions.add(Seq("failed: " + exception))
    }
    org.apache.spark.graftutil.BusDrain.waitUntilEmpty(sc, 10000)
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    val hits = try {
      sc.setJobGroup(group, "searchIvf")
      try qs.toSeq.map(q => Ann.searchIvf(ivf, q, nprobe = 2, k = 10)
        .collect().map(_.getLong(0)).toSeq)
      finally {
        sc.clearJobGroup()
        org.apache.spark.graftutil.BusDrain.waitUntilEmpty(sc, 10000)
      }
    } finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(qeListener)
    }
    assert(hits.forall(h => h.size == 10 && h.forall(_ % 3 != 0)))
    assert(jobs.get() == 3, s"${jobs.get()} jobs for three searches")
    // per search: the query-row read and the hit scan, nothing else
    import scala.jdk.CollectionConverters._
    val seen = actions.asScala.toSeq
    assert(seen.count(_ == Seq("qvec")) == 3 &&
      seen.count(_ == Seq("vec_id", "simil")) == 3 && seen.size == 6,
      seen.mkString("; "))
  }
}
