package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ann

/** `Ann.searchIvf` ranks the coarse centroids on the driver and scans only
  * the probed buckets. These specs hold it to the all-Spark form it
  * replaced (centroid probe as a broadcast `orderBy.limit`, bucket scan as
  * a broadcast left-semi join), kept here as the reference: equal
  * `(vec_id, simil)` lists, `simil` compared bit for bit, on built,
  * appended, reloaded, tombstoned and compacted indexes, random queries
  * and the ranking's edge cases. */
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
}
