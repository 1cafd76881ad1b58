package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Ann, Dedup}

/** Index upkeep beside queries (E3 refresh while serving). The stored
  * corpus is 5,000 documents, each with a clustered 64-d vector, held in
  * two indexes: a dedup corpus index and an IVF index.
  *
  *  - primary = single-query `Ann.searchIvf` (k = 10) on the loaded IVF;
  *  - secondary = one refresh write: a 500-document batch with planted
  *    near-duplicates goes through `Dedup.dedupIncremental`; the accepted
  *    documents are appended to both indexes; as many live documents are
  *    deleted from both (a GDPR delete), so the live size stays constant;
  *    each index is compacted once its tombstone fraction passes 0.1; both
  *    are persisted to fresh directories and reloaded.
  *
  * Reads and writes share the `Ann` module, and the write is the only
  * place the benchmark reaches `Dedup`. */
final class IngestServe(spark: SparkSession, in: Inputs, T: Tracer,
    dataDir: String, runDir: String) extends Workload {
  import IngestServe._

  /** Searches only: the search path settles slowest, and a warm-up write
    * would cost as much as a whole block of the window. */
  val warmup: Seq[Boolean] = Seq.fill(WarmupSearches)(false)
  val minWindowBlocks = 3
  def block(b: Int): Seq[Boolean] =
    Inputs.shuffled(in.rng(41, b), Seq.fill(SearchesPerWrite)(false) :+ true)

  // the benchmark's own mirror of the live corpus
  private val live = mutable.ArrayBuffer.empty[(Long, String)]
  private val liveVec = mutable.HashMap.empty[Long, Array[Float]]
  private val liveWords = mutable.HashMap.empty[Long, Set[String]]
  private val deleted = mutable.ArrayBuffer.empty[(Long, String)]
  private var dedupPending = 0 // dedup tombstones since its last compaction
  private var nextId = 0L
  private var ivf: Ann.Ivf = _
  private var corpus: Dedup.CorpusIndex = _
  private val dirs = mutable.Map.empty[String, String]
  private var version = 0

  // window-scoped quality and layer counts
  private var recallSum, recallN, plantedLive, droppedPlanted, dropped = 0.0
  private var annCompactions, dedupCompactions = 0
  private val scoredPerHit, annWriteAmp, annSpaceAmp, annTomb, dedupWriteAmp,
    dedupTomb, drops = mutable.ArrayBuffer.empty[Double]

  def writeFixtures(dir: String): Unit = {
    import spark.implicits._
    val g = in
    Gen.rows(spark, g.NDocs)(g.document).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents")
    Gen.rows(spark, g.NDocs)(k => (k.toLong, g.docVector(k.toLong).toSeq))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/vectors")
  }

  /** Persist to a fresh directory, reload, drop the previous directory. */
  private def swap[A](kind: String, save: String => Unit, load: String => A): A = {
    version += 1
    val dir = s"$runDir/$kind-v$version"
    save(dir)
    val loaded = load(dir)
    dirs.put(kind, dir).foreach(Files.delete)
    loaded
  }

  def setup(dir: String): Unit = {
    val docs = spark.read.parquet(s"$dataDir/documents")
    val built = T("Dedup.buildCorpusIndex") {
      Dedup.buildCorpusIndex(docs, "doc_id", "text", K, Bands) }
    corpus = swap("dedup",
      d => T("Dedup.saveCorpusIndex")(Dedup.saveCorpusIndex(built, d)),
      d => T("Dedup.loadCorpusIndex")(Dedup.loadCorpusIndex(spark, d)))
    val vecs = spark.read.parquet(s"$dataDir/vectors")
    val index = T("Ann.buildIvfKMeansLloyd")(Ann.buildIvfKMeansLloyd(vecs, C))
    ivf = swap("ivf", d => T("Ann.saveIvf")(Ann.saveIvf(index, d)),
      d => T("Ann.loadIvf")(Ann.loadIvf(spark, d)))

    live.clear(); liveVec.clear(); liveWords.clear(); deleted.clear()
    (0 until in.NDocs).map(in.document).foreach { d =>
      live += d; liveVec(d._1) = in.docVector(d._1); liveWords(d._1) = Oracle.words(d._2)
    }
    dedupPending = 0; nextId = in.NDocs
  }

  def startWindow(firstOp: Int): Unit = {
    recallSum = 0; recallN = 0; plantedLive = 0; droppedPlanted = 0; dropped = 0
    annCompactions = 0; dedupCompactions = 0
    Seq(scoredPerHit, annWriteAmp, annSpaceAmp, annTomb, dedupWriteAmp, dedupTomb,
      drops).foreach(_.clear())
  }

  /** (recall@10 of the searches, share of planted live near-duplicates the
    * writes dropped) */
  def quality: (Double, Double) =
    (recallSum / math.max(1.0, recallN), droppedPlanted / math.max(1.0, plantedLive))

  def release(): Unit = {
    live.clear(); liveVec.clear(); liveWords.clear(); deleted.clear()
  }

  def failed(secondary: Boolean): Unit =
    if (secondary) plantedLive += in.PlantedLive else recallN += 1

  override def layerMetrics: Map[String, Double] = Map(
    "Ann.scored_per_hit" -> Stats.median(scoredPerHit.toSeq),
    "Ann.write_amp" -> Stats.median(annWriteAmp.toSeq),
    "Ann.space_amp" -> Stats.median(annSpaceAmp.toSeq),
    "Ann.tombstone_frac" -> Stats.median(annTomb.toSeq),
    "Ann.compactions" -> annCompactions.toDouble,
    "Dedup.write_amp" -> Stats.median(dedupWriteAmp.toSeq),
    "Dedup.tombstone_frac" -> Stats.median(dedupTomb.toSeq),
    "Dedup.compactions" -> dedupCompactions.toDouble,
    "Dedup.drops_per_batch" -> Stats.median(drops.toSeq),
    "Dedup.drop_precision" -> droppedPlanted / math.max(1.0, dropped))

  def op(i: Int, secondary: Boolean): OpCost => Boolean =
    if (!secondary) search(i) else write(i)

  private def search(i: Int): OpCost => Boolean = {
    val q = in.query(i)
    val qdf = spark.createDataFrame(Seq(Tuple1(q.toSeq))).toDF("qvec")
    val got = T.df("Ann.searchIvf")(Ann.searchIvf(ivf, qdf, NProbe, KNN))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    _ => {
      val exact = liveVec.toSeq.map { case (id, v) => (id, Oracle.cosine(v, q)) }
        .sortBy { case (id, s) => (-s, id) }.take(KNN)
      recallSum += got.map(_._1).toSet.intersect(exact.map(_._1).toSet).size.toDouble / KNN
      recallN += 1
      if (T.on) scoredPerHit += scored(q).toDouble / math.max(1, got.size)
      // every hit is a live vector with its true score, best first
      val ok = got.size == KNN && got.forall { case (id, s) =>
        liveVec.get(id).exists(v => math.abs(Oracle.cosine(v, q) - s) < 1e-9) } &&
        got.map(_._2).sliding(2).forall(p => p.length < 2 || p(0) >= p(1))
      if (!ok) System.err.println(s"[perfbench] search op $i returned $got")
      ok
    }
  }

  /** Live rows in the probed buckets — what the search had to score. */
  private def scored(q: Array[Float]): Long = {
    val probed = ivf.centroids.collect()
      .map(r => (r.getLong(0), Oracle.cosine(r.getSeq[Float](1).toArray, q)))
      .sortBy { case (c, s) => (-s, c) }.take(NProbe).map(_._1).toSet
    ivf.assignments.select(col("vec_id"), col("centroid_id")).collect()
      .count(r => probed(r.getLong(1)) && liveVec.contains(r.getLong(0)))
  }

  private def write(i: Int): OpCost => Boolean = {
    // the batch: near-dups of live and of deleted documents, fresh ones
    val liveSrc = in.pickPositions(32, i, live.length, in.PlantedLive).map(live(_)._2)
    val delSrc = in.pickPositions(33, i, deleted.length,
      math.min(in.PlantedDeleted, deleted.length)).map(deleted(_)._2)
    val (rows, planted) = in.batch(i, nextId, liveSrc.toSeq, delSrc.toSeq)
    val kept = T.df("Dedup.dedupIncremental") {
      Dedup.dedupIncremental(corpus, spark.createDataFrame(rows).toDF("doc_id", "text"),
        "doc_id", "text", K, Bands, MinJ)
    }.collect().map(_.getLong(0)).toSet
    val accepted = rows.filter(r => kept(r._1))
    val victims = in.pickPositions(34, i, live.length, accepted.length).map(live(_)).toSeq
    val acceptedDf = spark.createDataFrame(accepted).toDF("doc_id", "text")
    val victimDf = spark.createDataFrame(victims).toDF("doc_id", "text")

    var cx = T("Dedup.appendCorpusIndex") {
      Dedup.appendCorpusIndex(corpus, acceptedDf, "doc_id", "text", K, Bands) }
    cx = T("Dedup.deleteFromCorpusIndex") {
      Dedup.deleteFromCorpusIndex(cx, victimDf, "doc_id", "text") }
    val dedupFrac = T("Dedup.tombstoneFraction")(Dedup.tombstoneFraction(cx))
    val dedupCompact = dedupFrac > CompactAt
    if (dedupCompact) cx = T("Dedup.compactCorpusIndex")(Dedup.compactCorpusIndex(cx, "text"))
    val cxNow = cx
    corpus = swap("dedup", d => T("Dedup.saveCorpusIndex")(Dedup.saveCorpusIndex(cxNow, d)),
      d => T("Dedup.loadCorpusIndex")(Dedup.loadCorpusIndex(spark, d)))

    val addVecs = accepted.map(r => (r._1, in.batchVector(r._1)))
    var ix = T("Ann.appendIvf") {
      Ann.appendIvf(ivf, spark.createDataFrame(addVecs.map { case (id, v) => (id, v.toSeq) })
        .toDF("vec_id", "embedding")) }
    ix = T("Ann.deleteFromIvf") {
      Ann.deleteFromIvf(ix, victimDf.select(col("doc_id").as("vec_id"))) }
    val annFrac = T("Ann.ivfTombstoneFraction")(Ann.ivfTombstoneFraction(ix))
    val annCompact = annFrac > CompactAt
    if (annCompact) ix = T("Ann.compactIvf")(Ann.compactIvf(ix))
    val ixNow = ix
    ivf = swap("ivf", d => T("Ann.saveIvf")(Ann.saveIvf(ixNow, d)),
      d => T("Ann.loadIvf")(Ann.loadIvf(spark, d)))
    nextId += rows.length

    _ => {
      val dedupOk = checkBatch(i, rows, planted, kept, liveSrc.toSet, accepted)
      val before = (live.length, dedupPending)
      // the benchmark's mirror moves exactly as the write should have
      accepted.foreach { d =>
        live += d; liveVec(d._1) = in.batchVector(d._1); liveWords(d._1) = Oracle.words(d._2) }
      val gone = victims.map(_._1).toSet
      live.filterInPlace(d => !gone(d._1))
      gone.foreach { id => liveVec.remove(id); liveWords.remove(id) }
      deleted ++= victims
      // indexed docs = live before the write + pending tombstones + accepted
      val expected = (before._2 + victims.length).toDouble /
        (before._1 + before._2 + accepted.length)
      dedupPending = if (dedupCompact) 0 else before._2 + victims.length
      dedupTomb += dedupFrac; annTomb += annFrac
      if (dedupCompact) dedupCompactions += 1
      if (annCompact) annCompactions += 1
      val userBytes = rows.map(r => 8.0 + r._2.getBytes("UTF-8").length).sum +
        victims.length * 8.0
      dedupWriteAmp += Files.size(dirs("dedup")) / userBytes
      val vecBytes = 8.0 + 4.0 * Inputs.Dim
      annWriteAmp += Files.size(dirs("ivf")) / (accepted.length * vecBytes + victims.length * 8.0)
      annSpaceAmp += Files.size(dirs("ivf")) / (live.length * vecBytes)
      // the reloaded IVF serves exactly the benchmark's live set
      val ids = ivf.assignments.select("vec_id")
      val served = ivf.tombs.fold(ids)(t => ids.join(t, Seq("vec_id"), "left_anti"))
        .collect().map(_.getLong(0))
      val ivfOk = served.length == live.length && served.toSet == liveVec.keySet
      val fracOk = dedupFrac == expected
      if (!ivfOk) System.err.println(s"[perfbench] write op $i: IVF serves " +
        s"${served.length} ids, expected ${live.length}")
      if (!fracOk) System.err.println(
        s"[perfbench] write op $i: dedup tombstone fraction $dedupFrac, expected $expected")
      dedupOk && ivfOk && fracOk
    }
  }

  /** Quality of one batch, and whether every drop was justified: by an
    * exact live text or a verified near-duplicate among the live documents
    * or the batch itself. No kept document may repeat a live text. */
  private def checkBatch(i: Int, rows: Seq[(Long, String)], planted: Map[Long, Boolean],
      kept: Set[Long], sources: Set[String], accepted: Seq[(Long, String)]): Boolean = {
    val gone = rows.filterNot(r => kept(r._1))
    val liveTexts = live.iterator.map(_._2).toSet
    val words = rows.map(r => r._1 -> Oracle.words(r._2)).toMap
    def near(w: Set[String], others: Iterator[Set[String]]) =
      others.exists(o => Oracle.jaccard(w, o) >= MinJ)
    val bad = gone.filterNot { case (id, t) =>
      val w = words(id)
      liveTexts(t) ||
        (planted.get(id).contains(true) && near(w, sources.iterator.map(Oracle.words))) ||
        near(w, words.iterator.collect { case (o, ow) if o != id => ow }) ||
        near(w, liveWords.valuesIterator)
    } ++ accepted.filter(r => liveTexts(r._2))
    plantedLive += planted.count(_._2)
    droppedPlanted += gone.count(r => planted.get(r._1).contains(true))
    dropped += gone.length
    drops += gone.length.toDouble
    if (bad.nonEmpty) System.err.println(s"[perfbench] write op $i: " +
      s"${bad.length} unjustified drops or kept live duplicates: ${bad.take(3)}")
    bad.isEmpty
  }
}

object IngestServe {
  val C = 16
  val NProbe = 2
  val KNN = 10
  val SearchesPerWrite = 6
  val WarmupSearches = 6
  val CompactAt = 0.1
  // dedup parameters: MinHash signature length, LSH bands, Jaccard floor
  val K = 12
  val Bands = 4
  val MinJ = 0.6
}
