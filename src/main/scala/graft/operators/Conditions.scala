package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Targeting-condition harvesting + consensus (E1 middle,
  * `/root/reference/camp_vec_rcmn.py:77-137`).
  *
  * The reference fetches each top campaign's targeting conditions
  * (GROUP_CONCAT-encoded), joins them to the fused scores, computes a
  * statistical threshold over the scores, then aggregates *string*
  * conditions by weighted vote and *numeric/date* conditions by sweep-line
  * interval overlap. Our fixtures have no campaign-targeting table, so
  * [[synthesize]] derives deterministic conditions from the campaign id —
  * same shapes (string `in`, integer `between`), arithmetic only, which
  * keeps the whole pipeline DuckDB-oracle-expressible.
  */
object Conditions {

  /** Per top-campaign conditions, weighted by its fused score.
    * @param top5 columns `vec_id, score`
    * @param segments distinct string-attribute values with a dense 0-based
    *                 `seg_idx` (small, broadcast).
    * @return string conds: (camp, name='c_mktsegment', value, w)
    *         int conds:    (camp, name='o_totalprice', lo, hi, w) ×2
    */
  def synthesize(top5: DataFrame, segments: DataFrame)
      : (DataFrame, DataFrame) = {
    val strConds = top5
      .join(broadcast(segments), pmod(col("vec_id"), lit(5)) === col("seg_idx"))
      .select(col("vec_id").as("camp"), lit("c_mktsegment").as("name"),
        col("seg_val").as("value"), col("score").as("w"))
    // Both ranges of a campaign from one read of top5.
    val intConds = top5.select(col("vec_id").as("camp"),
        lit("o_totalprice").as("name"),
        explode(array(
          struct((col("vec_id") * 500L).as("lo"),
            (col("vec_id") * 500L + 200000L).as("hi")),
          struct((col("vec_id") * 300L + 50000L).as("lo"),
            (col("vec_id") * 300L + 250000L).as("hi")))).as("r"),
        col("score").as("w"))
      .select(col("camp"), col("name"), col("r.lo"), col("r.hi"), col("w"))
    (strConds, intConds)
  }

  /** A8/P7: consensus threshold = mean + 0.5·sample-σ of the top scores
    * (`/root/reference/camp_vec_rcmn.py:97`; pandas std is ddof=1 ⇒
    * stddev_samp). Returned as a 1-row DataFrame for broadcast cross-join —
    * no collect. */
  def threshold(top5: DataFrame): DataFrame =
    top5.agg((avg(col("score")) + lit(0.5) * stddev_samp(col("score"))).as("thr"))

  /** Rolling-history outlier detection (the streaming-adjacent form of
    * the P7 statistical threshold): per key, each row's value is tested
    * against `mean + nSigma·sd` of the `lookBack` PRECEDING rows
    * (current row excluded — the history is the model), with a
    * `minN`-row warmup before anything can flag. One key-partitioned
    * window pass; at scale this is the same shuffle class as any
    * keyed window.
    *
    * Determinism: rolling mean/variance come from floor-scaled-long
    * window sums (`floor(v·1e6)`, `floor(v²·1e6)` — the PageRank
    * convention: `floor` has no engine-dependent tie rounding, long
    * sums are exact, and windowed magnitudes stay far under 2^53), so
    * variance = `(ss - s²/n)/(n-1)` reproduces bit-for-bit in the
    * DuckDB oracle where a native `stddev` window would re-associate.
    * Returns only the flagged rows with their rolling stats. */
  def rollingOutliers(events: DataFrame, keyCol: String, ordCols: Seq[String],
      valueCol: String, lookBack: Int = 20, minN: Int = 10,
      nSigma: Double = 3.0): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(ordCols.map(col): _*)
      .rowsBetween(-lookBack, -1)
    val v = col(valueCol)
    val base = events
      .withColumn("__n", count(v).over(w))
      .withColumn("__s", sum(floor(v * lit(1e6))).over(w))
      .withColumn("__ss", sum(floor(v * v * lit(1e6))).over(w))
    base.filter(col("__n") >= minN)
      .withColumn("rmean", col("__s") / lit(1e6) / col("__n"))
      .withColumn("rvar",
        greatest(lit(0.0),
          (col("__ss") / lit(1e6) - col("__s") / lit(1e6) *
            (col("__s") / lit(1e6)) / col("__n")) / (col("__n") - lit(1L))))
      .filter(v > col("rmean") + lit(nSigma) * sqrt(col("rvar")))
      .drop("__n", "__s", "__ss")
  }

  /** A7 + P7: weighted vote per (name, value); keep values whose summed
    * weight exceeds the threshold (`/root/reference/camp_vec_rcmn.py:133-138`). */
  def stringConsensus(strConds: DataFrame, thr: DataFrame): DataFrame =
    strConds
      .groupBy(col("name"), col("value"))
      .agg(sum(col("w")).as("total_w"))
      .crossJoin(broadcast(thr))
      .filter(col("total_w") > col("thr"))
      .select(col("name"), col("value"), round(col("total_w"), 2).as("total_w"))
}
