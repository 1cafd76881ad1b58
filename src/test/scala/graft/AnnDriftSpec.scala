package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ann

/** Quantizer drift under sustained appends (r14 verdict #6): appends
  * against frozen centroids are correct per batch, but a shifted
  * distribution decays recall SILENTLY. The fixture engineers the
  * failure: two tight clusters train a k=2 quantizer, then a third
  * cluster arrives ON THE BISECTOR of the two centroids, so its
  * members split between both buckets and an nprobe=1 query from the
  * new cluster can only ever see half its true neighbors. driftStats
  * must detect the shift (mean assigned-centroid similarity collapses),
  * retrainDue must fire, and retraining the quantizer on the live
  * corpus must restore recall. */
class AnnDriftSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def vec(x: Double, y: Double, z: Double) =
    Seq(x.toFloat, y.toFloat, z.toFloat)

  test("driftStats detects a shifted append, retrainDue fires, and a " +
      "live-corpus retrain restores recall@10") {
    // base: cluster A along +x (ids 1-20), cluster B along -x (21-40)
    val base = ((1 to 20).map(i => (i.toLong, vec(10 + 0.01 * i, 0, 0))) ++
      (21 to 40).map(i => (i.toLong, vec(-10 - 0.01 * i, 0, 0))))
      .toDF("vec_id", "embedding")
    val ivf0 = Ann.buildIvfKMeansLloyd(base, numCentroids = 2, maxIter = 10)
    val s0 = Ann.driftStats(ivf0).head
    val baseline = s0.getDouble(1)
    assert(baseline > 0.95, s"tight clusters must quantize well: $s0")
    // shifted batch: cluster C along +y, straddling the A/B bisector —
    // alternating x-sign sends members to alternating frozen buckets
    val shifted = (0 until 12)
      .map(j => (100L + j, vec(if (j % 2 == 0) 0.1 else -0.1, 20, 0)))
      .toDF("vec_id", "embedding")
    val ivf1 = Ann.appendIvf(ivf0, shifted)
    val s1 = Ann.driftStats(ivf1).head
    val current = s1.getDouble(1)
    assert(s1.getLong(0) == 52)
    assert(Ann.retrainDue(baseline, current),
      s"shift must breach the trigger: $baseline -> $current")
    assert(!Ann.retrainDue(baseline, baseline))
    // recall@10 for a query from the new cluster, nprobe=1
    val q = Seq(Tuple1(vec(0.2, 20, 0))).toDF("qvec")
    val live = base.unionByName(shifted).localCheckpoint(true)
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      d / (na * nb)
    }
    val qv = vec(0.2, 20, 0)
    val truth = live.collect()
      .map(r => (r.getLong(0), cos(r.getSeq[Float](1), qv)))
      .sortBy(t => (-t._2, t._1)).take(10).map(_._1).toSet
    def recall(v: Ann.Ivf): Double = {
      val got = Ann.searchIvf(v, q, nprobe = 1, k = 10)
        .collect().map(_.getLong(0)).toSet
      (got & truth).size / 10.0
    }
    val before = recall(ivf1)
    assert(before <= 0.7, s"bisector cluster must split: recall $before")
    // retrain on the live corpus (the documented policy) and re-check
    val retrained = Ann.buildIvfKMeansLloyd(live, numCentroids = 3,
      maxIter = 10)
    val after = recall(retrained)
    assert(after >= 0.9, s"retrain must restore recall: $before -> $after")
    // the retrained quantizer fits the LIVE corpus better than the
    // stale one did; its own driftStats reading becomes the NEW
    // baseline (the policy re-anchors at every (re)build — comparing a
    // shifted corpus against a pristine-corpus baseline forever would
    // retrain in a loop)
    val s2 = Ann.driftStats(retrained).head
    assert(s2.getDouble(1) > current + 0.02,
      s"retrain must improve quantization fit: $current -> $s2")
  }
}
