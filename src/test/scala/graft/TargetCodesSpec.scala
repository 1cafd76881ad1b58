package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.NlTargeting

/** `NlTargeting.targetCodes` is one pass over the condition index. These
  * specs hold it to the two-route form it replaced (kept below as the
  * reference) on edge cases and random triple sets, and hold its executed
  * plan to one index scan, one shuffle and no join but the broadcast
  * cross join. */
class TargetCodesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val condIndex =
    IndexBuild.conditionIndex(spark, TestSpark.sfDir).cache()

  /** The two-route form: one cross join per route, a best score per
    * coded hit, a `distinct` on the value route, a union, one aggregate
    * per (attr, polarity), then a positive ⋈ negative self-join. */
  private def twoRouteTargetCodes(triples: DataFrame, condIndex: DataFrame,
      floor: Double, dim: Int = 64): DataFrame = {
    val qs = triples.select(col("attr"), col("polarity"), col("value"),
      Embeddings.embedCol(concat_ws(":", col("attr"), col("value")), dim).as("qvec"),
      Embeddings.embedCol(col("attr"), dim).as("avec"))
    val hits = condIndex.filter(col("code_nm") =!= "").crossJoin(broadcast(qs))
      .select(col("attr"), col("polarity"), col("cond_nm"), col("code_nm"),
        Graft.cosine(col("cond_vec"), col("qvec")).as("simil"))
      .filter(col("simil") >= floor)
      .groupBy(col("attr"), col("polarity"), col("cond_nm"), col("code_nm"))
      .agg(max(col("simil")).as("best"))
    val valueHits = condIndex.filter(col("code_nm") === "").crossJoin(broadcast(qs))
      .select(col("attr"), col("polarity"), col("value"), col("cond_type"),
        Graft.cosine(col("cond_vec"), col("avec")).as("simil"))
      .filter(col("simil") >= floor)
      .select(col("attr"), col("polarity"),
        NlTargeting.normalizeValue(col("value"), col("cond_type")).as("code_nm"))
      .filter(col("code_nm") =!= "")
      .distinct()
    val grouped = hits.select(col("attr"), col("polarity"), col("code_nm"))
      .union(valueHits)
      .groupBy(col("attr"), col("polarity"))
      .agg(array_sort(collect_set(col("code_nm"))).as("codes"))
    val pos = grouped.filter(col("polarity") === "긍정")
      .select(col("attr"), col("codes").as("pos_codes"))
    val neg = grouped.filter(col("polarity") === "부정")
      .select(col("attr"), col("codes").as("neg_codes"))
    val subtracted = pos.join(neg, Seq("attr"), "left_outer")
      .select(col("attr"), lit("긍정").as("polarity"),
        array_sort(array_except(col("pos_codes"),
          coalesce(col("neg_codes"), array()))).as("codes"))
    subtracted.union(
        neg.select(col("attr"), lit("부정").as("polarity"), col("neg_codes")))
      .filter(size(col("codes")) > 0)
  }

  private def rows(df: DataFrame): Set[(String, String, List[String])] =
    df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getSeq[String](2).toList))
      .toSet

  private def bothForms(triples: Seq[(String, String, String)],
      index: DataFrame, floor: Double)
      : (Set[(String, String, List[String])], Set[(String, String, List[String])]) = {
    val t = triples.toDF("attr", "polarity", "value")
    (rows(NlTargeting.targetCodes(t, index, floor)),
      rows(twoRouteTargetCodes(t, index, floor)))
  }

  /** The index plus a coded `구매금액` row whose code equals a value-route
    * normalization (so one code arrives by both routes), and a row with a
    * null `code_nm` (matched by neither route). */
  private lazy val widened: DataFrame = {
    val vec = Embeddings.embedCol(lit("구매금액:>=1000000"), 64)
    val extra = Seq(("구매금액_x_1", "구매금액", ">=1000000", "string"),
        ("세그먼트_null_1", "세그먼트", null, "string"))
      .toDF("cond_id", "cond_nm", "code_nm", "cond_type")
      .select(col("cond_id"), col("cond_nm"), col("code_nm"), col("cond_type"),
        lit("o_totalprice").as("column_nm"), lit("orders").as("table_nm"),
        lit("").as("cond_desc"),
        when(col("code_nm").isNull, Embeddings.embedCol(lit("세그먼트"), 64))
          .otherwise(vec).as("cond_vec"))
    condIndex.union(extra)
  }

  test("one-pass targetCodes equals the two-route form on the edge cases") {
    val triples = Seq(
      // only negated codes for the attribute
      ("우선순위", "부정", "1-URGENT"),
      ("우선순위", "부정", "5-LOW"),
      // a code both positive and negated, beside one only positive
      ("세그먼트", "긍정", "BUILDING"),
      ("세그먼트", "긍정", "MACHINERY"),
      ("세그먼트", "부정", "BUILDING"),
      // the same code by the coded and the value route, and twice
      ("구매금액", "긍정", ">=1000000"),
      ("구매금액", "긍정", "100만원 이상"),
      ("구매금액", "긍정", "1,000,000 이상"),
      // a polarity outside 긍정/부정
      ("세그먼트", "모름", "FURNITURE"),
      // value-route normalizations that come out empty
      ("구매금액", "부정", "19950101"),
      ("주문일자", "긍정", "다음주"),
      ("주문일자", "부정", "19970615 이후"))
    val (got, want) = bothForms(triples, widened, 0.99)
    assert(got == want)
    assert(got == Set(
      ("우선순위", "부정", List("1-URGENT", "5-LOW")),
      ("세그먼트", "긍정", List("MACHINERY")),
      ("세그먼트", "부정", List("BUILDING")),
      ("구매금액", "긍정", List(">=1000000")),
      ("주문일자", "부정", List(">=19970615"))))
  }

  test("one-pass targetCodes equals the two-route form on random triple sets") {
    val values = Map(
      "세그먼트" -> Seq("BUILDING", "MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
        "FURNITURE", "NOPE"),
      "우선순위" -> Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "5-LOW", "9-NONE"),
      "구매금액" -> Seq("100만원 이상", ">=1000000", "50만 초과", "42만원",
        "30만 부터 100만 까지", "19950101", "대충 많이"),
      "주문일자" -> Seq("19950101", "19950101 이후", "19961231 이전",
        "19950101 ~ 19961231", "다음주"))
    val attrs = values.keys.toIndexedSeq.sorted
    val polarities = IndexedSeq("긍정", "긍정", "부정", "부정", "모름")
    // 0.99 keeps exact matches only; lower floors let every triple reach
    // conditions of other attributes and both routes at once.
    val floors = IndexedSeq(0.99, 0.1, 0.0, -1.0)
    var nonEmpty = 0
    (1 to 12).foreach { seed =>
      val rnd = new Random(seed)
      val triples = Seq.fill(3 + rnd.nextInt(8)) {
        val a = attrs(rnd.nextInt(attrs.size))
        val vs = values(a)
        (a, polarities(rnd.nextInt(polarities.size)), vs(rnd.nextInt(vs.size)))
      }
      val floor = floors(seed % floors.size)
      val (got, want) = bothForms(triples, widened, floor)
      assert(got == want, s"seed $seed floor $floor triples $triples")
      if (got.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty >= 8, s"only $nonEmpty of 12 random sets matched anything")
  }

  /** Every node of an executed plan, through the adaptive wrapper and
    * its query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** (index scans, shuffle exchanges, joins other than the broadcast
    * nested-loop cross join, broadcast nested-loop joins) after running. */
  private def planCounts(df: DataFrame): (Int, Int, Int, Int) = {
    df.collect()
    val ns = nodes(df.queryExecution.executedPlan)
    (ns.count(_.isInstanceOf[InMemoryTableScanExec]),
      ns.count(_.isInstanceOf[ShuffleExchangeExec]),
      ns.count(n => n.isInstanceOf[BaseJoinExec] &&
        !n.isInstanceOf[BroadcastNestedLoopJoinExec]),
      ns.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
  }

  test("targetCodes plan budget: one index scan, one shuffle, " +
      "no join but the broadcast cross join") {
    condIndex.count()
    val triples = Seq(
      ("세그먼트", "긍정", "BUILDING"),
      ("세그먼트", "부정", "BUILDING"),
      ("구매금액", "긍정", "100만원 이상")).toDF("attr", "polarity", "value")
    assert(planCounts(NlTargeting.targetCodes(triples, condIndex, 0.99)) ==
      (1, 1, 0, 1))
    // The budget catches the two-route form: one scan per route and per
    // side of the self-join, more shuffles, and the self-join itself.
    val (scans, shuffles, joins, _) =
      planCounts(twoRouteTargetCodes(triples, condIndex, 0.99))
    assert(scans > 1 && shuffles > 1 && joins >= 1)
  }
}
