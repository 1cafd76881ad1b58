package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Embeddings, IndexBuild, StubLlm, Tables}
import graft.operators.{Audience, CampaignRecommend, Conditions, Knn,
  NlTargeting, SweepLine}

/** E1 + E2 marketer session: primary = campaign recommendation with its
  * audience count, secondary = targeting codes from a Korean request.
  * Tiny data, many jobs per request: driver- and planning-bound. */
final class RcmnRequest(spark: SparkSession, in: Inputs, T: Tracer,
    dataDir: String) extends Workload {
  import RcmnRequest._

  /** No warm-up beyond the set-up checks, which already run both paths. */
  val warmup: Seq[Boolean] = Nil
  val minWindowBlocks = 6
  private val llm = new StubLlm()
  private var campIndex: DataFrame = _
  private var condIndex: DataFrame = _
  private var oracleState: Option[E1Oracle] = None
  private def oracle: E1Oracle = oracleState.getOrElse {
    oracleState = Some(new E1Oracle(spark, dataDir, campIndex)); oracleState.get }

  def release(): Unit = oracleState = None

  def block(b: Int): Seq[Boolean] = Inputs.shuffled(in.rng(40, b), Seq(false, true))

  /** The sf0.1-shaped tables E1, E2 and E3 read (written concurrently:
    * fixture generation is untimed but not free). */
  def writeFixtures(dir: String): Unit = {
    import spark.implicits._
    val g = in
    val writers: Seq[() => Unit] = Seq(
      () => Gen.rows(spark, g.NParts)(g.part).toDF("p_partkey", "p_name",
        "p_brand", "p_type", "p_size", "p_retailprice").write.parquet(s"$dir/part.parquet"),
      () => Gen.rows(spark, g.NSuppliers)(g.supplier).toDF("s_suppkey", "s_name",
        "s_nationkey", "s_acctbal").write.parquet(s"$dir/supplier.parquet"),
      () => Gen.rows(spark, g.NParts * g.LinesPerPart)(g.lineitem)
        .toDF("l_orderkey", "l_partkey", "l_suppkey")
        .write.parquet(s"$dir/lineitem.parquet"),
      () => Gen.rows(spark, g.NCustomers)(g.customer).toDF("c_custkey", "c_name",
        "c_nationkey", "c_acctbal", "c_mktsegment").write.parquet(s"$dir/customer.parquet"),
      () => Gen.rows(spark, g.NOrders)(g.order)
        .toDF("o_orderkey", "o_custkey", "o_totalprice", "day", "o_orderpriority")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          timestamp_seconds(col("day").cast("long") * 86400L).as("o_orderdate"),
          col("o_orderpriority"))
        .write.parquet(s"$dir/orders.parquet"),
      () => Gen.rows(spark, g.NEmbeddings) { k =>
        val (id, v, l) = g.embedding(k); (id, v.toSeq, l) }
        .toDF("vec_id", "embedding", "label").write.parquet(s"$dir/embeddings.parquet"))
    import scala.concurrent.{Await, ExecutionContext, Future}
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.sequence(writers.map(w => Future(w()))),
      scala.concurrent.duration.Duration.Inf)
  }

  def setup(dir: String): Unit = {
    T("IndexBuild.campaignIndex") {
      IndexBuild.campaignIndex(spark, dataDir).write.parquet(s"$dir/campaigns") }
    campIndex = T("Tables.readIndex") {
      spark.read.parquet(s"$dir/campaigns")
        .select(col("camp_id").as("vec_id"), col("camp_vec").as("embedding")) }
    T("IndexBuild.conditionIndex") {
      IndexBuild.conditionIndex(spark, dataDir).write.parquet(s"$dir/conditions") }
    condIndex = T("Tables.readIndex") { spark.read.parquet(s"$dir/conditions") }
  }

  /** The E1 composition over a vector index `(vec_id, embedding)` and
    * query vectors `(qid, qvec)`: top-5 `(vec_id, score)` and the audience.
    * Same stages as [[CampaignRecommend.audienceCount]]. */
  def e1(index: DataFrame, qs: DataFrame): (Seq[(Long, Double)], Long) = {
    val hits = T.df("Knn.topKPerQuery") {
      Knn.topKPerQuery(index, qs, CampaignRecommend.K) }
    val t5 = T.df("Knn.fuse") {
      Knn.fuse(hits, CampaignRecommend.NQueries, CampaignRecommend.TopN)
    }.cache() // read by synthesize, threshold and the caller
    try {
      val segs = T.df("CampaignRecommend.segments") {
        CampaignRecommend.segments(spark, dataDir) }
      val (strConds, intConds) = T("Conditions.synthesize") {
        val (s, i) = Conditions.synthesize(t5, segs)
        (T.materialize(s), T.materialize(i))
      }
      val thr = T.df("Conditions.threshold")(Conditions.threshold(t5))
      val keptSegments = T.df("Conditions.stringConsensus") {
        Conditions.stringConsensus(strConds, thr) }
      val intervals = T.df("SweepLine.consensus") {
        SweepLine.consensus(
          intConds.select(col("name"), col("lo"), col("hi"), col("w"))) }
      val keptIntervals = intervals.crossJoin(broadcast(thr))
        .filter(col("score") >= col("thr"))
        .select(col("name"), col("lo"), col("hi"), col("score"))
      val customers = T("Tables.load")(Tables.load(spark, dataDir, "customer"))
      val orders = T("Tables.load")(Tables.load(spark, dataDir, "orders"))
      val audience = T.df("Audience.count") {
        Audience.count(customers, orders, keptSegments, keptIntervals)
      }.head().getLong(0)
      (t5.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq, audience)
    } finally t5.unpersist()
  }

  /** The E2 composition: L1 extraction, triple parse, code search. */
  def e2(request: String): Set[(String, String, Seq[String])] = {
    val bracket = T("StubLlm.complete")(llm.complete(NlTargeting.L1Prompt, request))
    val raw = spark.createDataFrame(Seq(Tuple1(bracket))).toDF("l1")
    val triples = T.df("NlTargeting.parseTriples") {
      NlTargeting.parseTriples(raw, "l1") }
    T.df("NlTargeting.targetCodes") {
      NlTargeting.targetCodes(triples, condIndex, Floor) }.collect()
      .map(r => (r.getString(0), r.getString(1), r.getSeq[String](2))).toSet
  }

  override def setupChecks(): Seq[String] = {
    val emb = Tables.load(spark, dataDir, "embeddings")
    val qs = emb.filter(col("vec_id") < CampaignRecommend.NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val (_, aud) = e1(emb, qs)
    val ref = CampaignRecommend.audienceCount(spark, dataDir).head().getLong(0)
    val (request, truth) = in.targeting(-1)
    val codes = e2(request)
    Seq(
      if (aud == ref) None
      else Some(s"E1 composition audience $aud != CampaignRecommend.audienceCount $ref"),
      if (codes == truth) None
      else Some(s"E2 composition returned $codes for planted $truth")).flatten
  }

  private var e1Ok, e1N, e2Ok, e2N = 0

  def startWindow(firstOp: Int): Unit = { e1Ok = 0; e1N = 0; e2Ok = 0; e2N = 0 }

  def quality: (Double, Double) =
    (e1Ok.toDouble / math.max(1, e1N), e2Ok.toDouble / math.max(1, e2N))

  def failed(secondary: Boolean): Unit =
    if (secondary) e2N += 1 else e1N += 1

  def op(i: Int, secondary: Boolean): OpCost => Boolean =
    if (!secondary) {
      val expansions = T("StubLlm.complete")(llm.complete("expand", in.brief(i)))
        .split("!!!!").toSeq
      val texts = spark.createDataFrame(expansions.zipWithIndex.map {
        case (q, j) => (j.toLong, q) }).toDF("qid", "qtext")
      val qs = T.df("Embeddings.embedCol") {
        texts.select(col("qid"), Embeddings.embedCol(col("qtext")).as("qvec")) }
      val (top, aud) = e1(campIndex, qs)
      _ => {
        val ok = (top, aud) == oracle.answer(expansions)
        e1N += 1; if (ok) e1Ok += 1
        if (!ok) System.err.println(
          s"[perfbench] E1 op $i: got $top/$aud, expected ${oracle.answer(expansions)}")
        ok
      }
    } else {
      val (request, truth) = in.targeting(i)
      val out = e2(request)
      _ => {
        val ok = out == truth
        e2N += 1; if (ok) e2Ok += 1
        if (!ok) System.err.println(s"[perfbench] E2 op $i: got $out, expected $truth")
        ok
      }
    }
}

object RcmnRequest {
  /** The stub embedder places a matching condition at cosine 1 and every
    * other one near 0, so any floor well inside (0, 1) separates them. */
  val Floor = 0.99
}

/** The benchmark's own E1: brute-force cosine over the collected campaign
  * vectors, fusion, condition consensus and the audience count, computed
  * on the driver without Spark. */
final class E1Oracle(spark: SparkSession, dataDir: String, index: DataFrame) {
  private val camps: Array[(Long, Array[Float])] =
    index.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
  private val custSeg: Array[(Long, String)] =
    Tables.load(spark, dataDir, "customer").select("c_custkey", "c_mktsegment")
      .collect().map(r => (r.getLong(0), r.getString(1)))
  private val orderPrice: Array[(Long, Double)] =
    Tables.load(spark, dataDir, "orders").select("o_custkey", "o_totalprice")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
  private val segs = custSeg.map(_._2).distinct.sorted

  def answer(expansions: Seq[String]): (Seq[(Long, Double)], Long) = {
    val fused = scala.collection.mutable.Map.empty[Long, Double]
    expansions.foreach { text =>
      val q = Oracle.md5Embed(text)
      camps.map { case (id, v) => (id, Oracle.cosine(v, q)) }
        .sortBy { case (id, s) => (-s, id) }.take(CampaignRecommend.K)
        .foreach { case (id, s) => fused(id) = fused.getOrElse(id, 0.0) + s }
    }
    val top = fused.toSeq
      .map { case (id, s) => (id, Oracle.round2(s / CampaignRecommend.NQueries * 100)) }
      .sortBy { case (id, s) => (-s, id) }.take(CampaignRecommend.TopN)
    val scores = top.map(_._2)
    val mean = scores.sum / scores.size
    val sd = math.sqrt(scores.map(s => (s - mean) * (s - mean)).sum / (scores.size - 1))
    val thr = mean + 0.5 * sd
    val keptSegs = top.groupBy { case (id, _) => segs((id % 5).toInt) }
      .collect { case (seg, xs) if xs.map(_._2).sum > thr => seg }.toSet
    val conds = top.flatMap { case (id, w) => Seq(
      (id * 500L, id * 500L + 200000L, w),
      (id * 300L + 50000L, id * 300L + 250000L, w)) }
    val events = (conds.map(c => ((c._1, 0), c._3)) ++ conds.map(c => ((c._2, 1), -c._3)))
      .groupBy(_._1).map { case (k, es) => (k, es.map(_._2).sum) }.toSeq.sortBy(_._1)
    var running = 0.0
    val kept = events.indices.flatMap { j =>
      running += events(j)._2
      if (j + 1 < events.length && events(j + 1)._1._1 > events(j)._1._1 &&
          running > 0 && running >= thr)
        Some((events(j)._1._1, events(j + 1)._1._1))
      else None
    }
    val members = custSeg.collect { case (c, s) if keptSegs(s) => c }.toSet ++
      orderPrice.collect { case (c, p) if kept.exists { case (lo, hi) =>
        p >= lo && p < hi } => c }
    (top, members.size.toLong)
  }
}
