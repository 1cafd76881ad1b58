package graft.operators

import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Graft
import graft.functions.CosineSimilarity

/** Approximate nearest-neighbor paths for embedding search at scale.
  *
  * Brute force ([[Knn.topK]]) is the correctness oracle and fine up to a
  * few million vectors per query batch; beyond that:
  *
  *  - [[Ivf]] — inverted-file index: pick C centroids, assign every vector
  *    to its nearest centroid (one broadcast map pass + `max_by`, no
  *    window shuffle), then answer queries by probing only the nprobe
  *    nearest centroid buckets. At 100TB the assignment table is
  *    partitioned (and prunable) by centroid_id, so a query touches
  *    nprobe/C of the data.
  *  - [[lshModel]] — MLlib BucketedRandomProjectionLSH for
  *    approxNearestNeighbors / approxSimilarityJoin (euclidean proxy for
  *    cosine on ~unit vectors), the "built-in" alternative.
  */
object Ann {

  /** IVF index: (assignments: vec_id→centroid_id, centroids, pending
    * delete tombstones). `tombs` (one id column, named as the index's
    * id column) is recorded by [[deleteFromIvf]] and applied to every
    * search's candidate scan; [[compactIvf]] folds the debt into the
    * assignments. `None` ⇒ no pending deletes, zero plan overhead
    * (the common case). The quantizer (centroids) is FROZEN across
    * deletes, same as across [[appendIvf]] — FAISS remove_ids
    * semantics: posting lists shrink, the coarse geometry doesn't.
    * `centroids` (C rows) is a driver-local relation after [[loadIvf]]
    * and [[buildIvfKMeansLloyd]].
    *
    * [[searchIvf]] reads its probe state from two driver memos, each
    * computed at most once per value: `centroidRows` (ranked on the
    * driver) and `tombIds` (applied as a literal id filter). Every
    * operation that changes the index returns a new value ([[appendIvf]],
    * [[deleteFromIvf]], [[compactIvf]], `copy`), so a memo never goes
    * stale; [[loadIvf]] forces both. `tombIds` holds the pending ids in
    * driver memory: compaction bounds their number, and a broadcast
    * anti-join would collect the same ids to the driver anyway. */
  case class Ivf(assignments: DataFrame, centroids: DataFrame,
      tombs: Option[DataFrame] = None) {

    /** `(centroid_id, cvec)` on the driver; a null `cvec` stays null. */
    private[operators] lazy val centroidRows: Array[(Any, Array[Float])] =
      centroids.select(col("centroid_id"), col("cvec")).collect()
        .map(r => (r.get(0),
          if (r.isNullAt(1)) null else r.getSeq[Float](1).toArray))

    /** The non-null pending tombstone ids (empty without tombstones):
      * a null id deletes nothing under the anti-join. */
    private[operators] lazy val tombIds: Array[Any] = tombs.fold(
      Array.empty[Any])(t => t.select(col(t.columns.head)).collect()
        .filterNot(_.isNullAt(0)).map(_.get(0)))
  }

  /** Delete vectors from an IVF index by id — work ∝ tombstones (a
    * distinct + union recording the ids; no assignment row moves until
    * [[compactIvf]]). Null ids are dropped: they match no row, and
    * recording them would inflate [[ivfTombstoneFraction]]. Every search
    * tier reading this index ([[searchIvf]]/[[searchIvfBatch]]/
    * [[searchIvfPq]]/[[searchIvfPqBatch]]) removes the tombstoned ids
    * from its candidate scan, so delete-then-search ≡ search of an index
    * whose posting lists never contained those ids (spec-pinned against
    * the frozen-quantizer rebuild). The returned value is lazy: its first
    * [[searchIvf]] reads the tombstones to the driver once. Incremental
    * counterpart of the reference's truncate-and-reload refresh
    * (`camp_vec_save.py:59-79`). */
  def deleteFromIvf(ivf: Ivf, ids: DataFrame,
      idCol: String = "vec_id"): Ivf = {
    val t = ids.select(col(idCol)).filter(col(idCol).isNotNull).distinct()
    // distinct across CALLS too: re-deleting the same ids must not
    // inflate ivfTombstoneFraction and fire spurious compactions
    ivf.copy(tombs =
      Some(ivf.tombs.fold(t)(_.unionByName(t).distinct())))
  }

  /** The live (tombstones-applied) assignments view every search reads. */
  private[graft] def liveAssignments(ivf: Ivf): DataFrame =
    ivf.tombs.fold(ivf.assignments)(t =>
      ivf.assignments.join(t, t.columns.toSeq, "left_anti"))

  /** Apply `ivf`'s tombstones to a sibling per-vector relation (the
    * PQ codes index rides next to the assignments and must shrink with
    * them). */
  private def liveRelation(rel: DataFrame, ivf: Ivf): DataFrame =
    ivf.tombs.fold(rel)(t => rel.join(t, t.columns.toSeq, "left_anti"))

  /** Fold pending tombstones into the assignments — the threshold-
    * triggered maintenance pass (each search filters the pending ids out
    * of its scan until compaction). */
  def compactIvf(ivf: Ivf): Ivf =
    Ivf(liveAssignments(ivf), ivf.centroids, None)

  /** Quantizer-drift monitor (r14 verdict #6): [[appendIvf]] assigns
    * new vectors against FROZEN centroids — correct per batch, but
    * after many batches whose distribution has moved (a new language,
    * a new data source) the centroids no longer tile the data: recall
    * at fixed nprobe decays SILENTLY while every append succeeds. This
    * one-row summary over the live index is the cheap drift signal —
    * one co-partitioned pass, partial-aggregable, no shuffle beyond
    * C rows:
    *   - `n` — live vectors;
    *   - `mean_centroid_sim` — mean cosine of each vector to its
    *     assigned centroid (the quantization quality the build
    *     optimized; drops as appended mass lands far from every
    *     frozen centroid);
    *   - `max_bucket_share` — the largest bucket's fraction of the
    *     index (a shifted distribution crowds few buckets, so probe
    *     cost rises with this even when recall survives).
    *
    * Retrain policy (spec-pinned on a shifted-append fixture): record
    * `mean_centroid_sim` at build time; when a later reading breaches
    * [[retrainDue]]'s drop tolerance, rebuild the quantizer on the
    * live corpus ([[buildIvfKMeansLloyd]] over `liveAssignments`) and
    * re-encode — the FAISS re-train counterpart. Appends stay valid
    * meanwhile (results are exact within probed buckets; only WHICH
    * buckets are probed degrades). */
  def driftStats(ivf: Ivf, vecCol: String = "embedding"): DataFrame = {
    val per = liveAssignments(ivf)
      .join(broadcast(ivf.centroids), Seq("centroid_id"))
      .select(col("centroid_id"),
        Graft.cosine(col(vecCol), col("cvec")).as("cs"))
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("bn"), sum(col("cs")).as("s"))
    per.agg(sum(col("bn")).as("n"),
      (sum(col("s")) / sum(col("bn"))).as("mean_centroid_sim"),
      (max(col("bn")).cast("double") / sum(col("bn")))
        .as("max_bucket_share"))
  }

  /** The documented retrain trigger: true when the current
    * mean-assigned-centroid similarity has dropped more than `maxDrop`
    * below the build-time baseline. 0.05 is a conservative default for
    * unit-ish embeddings — small enough to catch a real distribution
    * shift (the spec's new-cluster fixture drops ~0.2), large enough
    * to ignore append noise. The baseline RE-ANCHORS at every
    * (re)build: record the fresh build's own [[driftStats]] reading as
    * the new baseline — a corpus that has genuinely moved never
    * quantizes back to the old corpus's figure, and comparing against
    * it forever would retrain in a loop. */
  def retrainDue(baselineMeanSim: Double, currentMeanSim: Double,
      maxDrop: Double = 0.05): Boolean =
    currentMeanSim < baselineMeanSim - maxDrop

  /** Pending-tombstone fraction — the compaction trigger (two counts;
    * compact when it crosses the deployment's threshold, ~0.1). */
  def ivfTombstoneFraction(ivf: Ivf): Double = ivf.tombs match {
    case None => 0.0
    case Some(t) =>
      val total = ivf.assignments.count()
      if (total == 0) 1.0 else t.count().toDouble / total
  }

  /** Deterministic FIXED-COUNT centroid pick + nearest-centroid assignment.
    *
    * Centroids are the `numCentroids` vectors with the smallest
    * `md5(vec_id)` — a deterministic pseudo-random sample (md5 also exists
    * in DuckDB, so the whole index is oracle-reproducible;
    * [[buildIvfKMeansLloyd]] is the learned alternative). The count is
    * FIXED, not proportional to N: the assignment pass is O(N·C) with a
    * bounded broadcast, never O(N²), and `orderBy(...).limit(C)` is
    * TakeOrderedAndProject — no global sort.
    * Assignments come back partitioned by centroid_id, so a probe of
    * nprobe buckets touches nprobe/C of the data. */
  def buildIvf(emb: DataFrame, numCentroids: Int = 32,
      idCol: String = "vec_id", vecCol: String = "embedding"): Ivf = {
    val centroids = emb
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .limit(numCentroids)
      .select(col(idCol).as("centroid_id"), col(vecCol).as("cvec"))
    assignToCentroids(emb, centroids, idCol, vecCol)
  }

  /** LEARNED coarse centroids via a DataFrame-native cosine Lloyd
    * instead of [[buildIvf]]'s deterministic row sample. On clustered
    * embeddings random-row centroids land several picks inside one dense
    * cluster and none in sparse ones — unbalanced buckets, degraded
    * recall at fixed nprobe; Lloyd rounds spread the centroids by the
    * data's own density. The md5 sample stays the ORACLE default
    * (DuckDB-reproducible); this is the quality path, gated by the
    * recall/balance spec instead.
    *
    * Execution shape ([[buildPqCodebookLloyd]]'s, applied to the coarse
    * quantizer): each round is ONE pure-map job — the assignment rides
    * the native codegen [[pqEncode]] expression with an m=1, ksub=C
    * codebook of UNIT-NORMALIZED centers (for unit centers,
    * ‖v − u_c‖² = ‖v‖² − 2·v·u_c + 1, so the euclidean argmin IS the
    * cosine argmax — no join, no array-key aggregation; a broadcast-join
    * round form measured ~1 s/round against this form's ~0.15 s) —
    * followed by a bounded per-dim mean (posexplode + hash agg, C·dim
    * groups). Cosine is invariant to positive scaling, so the kept
    * centers stay raw means (only the per-round encode view normalizes);
    * empty clusters keep their previous center; zero-norm rows are
    * excluded from the fit (the cosine guard scores them 0 against
    * everything — no direction to learn) but still assigned. The
    * byte-code assignment caps C at 256 coarse centroids.
    *
    * Init = the salted-md5 deterministic row sample (round 0 equals a
    * [[buildIvf]]-style sample pick; each Lloyd round only improves it).
    * The fit set is coalesced to 4 partitions and checkpointed once, so
    * each round is a handful of tasks. Jobs: checkpoint + init +
    * maxIter, independent of C — measured ~0.45 s warm at sf0.1/C=32.
    * Only the C centers (C·dim floats) reach the driver. */
  def buildIvfKMeansLloyd(emb: DataFrame, numCentroids: Int = 32,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxIter: Int = 5): Ivf = {
    require(numCentroids <= 256, "the coarse fit encodes assignments as " +
      s"byte codes: C=$numCentroids > 256")
    val sqNorm = aggregate(col(vecCol), lit(0.0d),
      (acc, x) => acc + x.cast("double") * x.cast("double"))
    val fit = emb
      .filter(sqNorm > 0.0d)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .coalesce(4)
      .localCheckpoint(true)
    val centroids = try {
      var centers: Array[Array[Float]] = fit
        .orderBy(md5(concat(lit("coarse:"), col("id").cast("string"))),
          col("id"))
        .limit(numCentroids)
        .select(col("v")).collect()
        .map(_.getSeq[Float](0).toArray)
      require(centers.length == numCentroids,
        s"fit set smaller than numCentroids=$numCentroids")
      for (_ <- 1 to maxIter) {
        val unit = centers.map { v =>
          val n = math.sqrt(v.map(x => x.toDouble * x).sum)
          if (n == 0.0) v.toSeq else v.map(x => (x / n).toFloat).toSeq
        }.toSeq
        val means = pqEncode(fit, Seq(unit), "id", "v", keep = Seq("v"))
          .select(pmod(element_at(col("codes"), 1).cast("int"), lit(256))
            .as("cid"), posexplode(col("v")))
          .groupBy(col("cid"), col("pos"))
          .agg(avg(col("col").cast("double")).as("mu"))
          .collect()
        val next = centers.map(_.clone())
        means.foreach { r =>
          next(r.getInt(0))(r.getInt(1)) = r.getDouble(2).toFloat }
        centers = next
      }
      emb.sparkSession.createDataFrame(
        centers.toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) })
        .toDF("centroid_id", "cvec")
      // centers are driver values; free the fit slice's checkpoint
      // blocks eagerly (same contract as buildPqCodebookLloyd)
    } finally org.apache.spark.sql.GraftSqlBridge.freeLocalCheckpoint(fit)
    assignToCentroids(emb, centroids, idCol, vecCol)
  }

  /** Nearest-centroid assignment shared by both builders: one broadcast
    * map pass + `max_by` (no window shuffle), result partitioned by
    * centroid_id so an nprobe probe touches nprobe/C of the data. */
  private def assignToCentroids(emb: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): Ivf = {
    val assignments = emb.crossJoin(broadcast(centroids))
      .select(col(idCol), col(vecCol),
        col("centroid_id"), Graft.cosine(col(vecCol), col("cvec")).as("cscore"))
      .groupBy(col(idCol), col(vecCol))
      .agg(max_by(col("centroid_id"),
        struct(col("cscore"), col("centroid_id"))).as("centroid_id"))
      .repartition(col("centroid_id"))
    Ivf(assignments, centroids)
  }

  /** Incremental vector ingestion — the ANN analog of
    * [[Dedup.appendCorpusIndex]] (and of FAISS add() after train()):
    * assign ONLY the new batch to the EXISTING centroids and union the
    * assignments. The corpus is never re-assigned and the quantizer never
    * refit, so work ∝ |batch|; re-training on quantizer drift is the
    * caller's trigger, exactly as with a FAISS index. Associative by
    * construction (per-row assignment against a fixed centroid set):
    * appending b1 then b2 ≡ appending b1 ∪ b2 — spec-pinned. The union
    * keeps each side's centroid-clustered partitions (union is narrow),
    * and a reload's partition filter still skips whole files. */
  def appendIvf(ivf: Ivf, newEmb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): Ivf = {
    val add = assignToCentroids(newEmb, ivf.centroids, idCol, vecCol)
    Ivf(ivf.assignments.unionByName(add.assignments), ivf.centroids,
      ivf.tombs)
  }

  /** Incremental IVF-PQ ingestion: the batch is assigned to the existing
    * coarse centroids AND residual-encoded with the existing codebook —
    * both map-only over the batch — then each relation unions. Residuals
    * depend only on the FROZEN centroid set, so append stays associative
    * (b1 then b2 ≡ b1 ∪ b2, spec-pinned). */
  def appendIvfPq(ivf: Ivf, index: DataFrame, cb: Seq[Seq[Seq[Float]]],
      newEmb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): (Ivf, DataFrame) = {
    val add = assignToCentroids(newEmb, ivf.centroids, idCol, vecCol)
    val addIdx = encodeIvfPq(add, cb, idCol, vecCol)
    (Ivf(ivf.assignments.unionByName(add.assignments), ivf.centroids,
        ivf.tombs),
      index.unionByName(addIdx))
  }

  /** Residual-encode an [[Ivf]]'s assignments into the IVFADC codes
    * relation `(idCol, codes, centroid_id, vnorm)` — the encode step
    * [[buildIvfPq]] and [[appendIvfPq]] share (public so rebuild-vs-append
    * parity is assertable from outside). */
  def encodeIvfPq(ivf: Ivf, cb: Seq[Seq[Seq[Float]]],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    pqEncode(withResiduals(ivf.assignments, ivf.centroids, idCol, vecCol),
      cb, idCol, "residual", keep = Seq("centroid_id", "vnorm"))

  /** Residual view of an assignments relation: `x − centroid(x)` as
    * `(idCol, residual: array<float>, centroid_id)`. Jégou et al. 2011 §IV
    * (the IVFADC layout FAISS defaults to) PQ-encodes residuals, not raw
    * vectors: within a coarse cell the residual energy is far smaller than
    * the vector energy, so the same m·ksub code budget quantizes finer and
    * ADC ranks better at identical index size. One broadcast join + a
    * map-only zip_with — no extra shuffle (the centroid relation is C
    * rows). */
  private def withResiduals(asg: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    asg.join(broadcast(centroids), Seq("centroid_id"))
      .select(col(idCol),
        zip_with(col(vecCol), col("cvec"),
          (x, c) => (x - c).cast("float")).as("residual"),
        // the raw vector's norm rides into the index (4 B/row next to the
        // m-byte codes): the cosine-metric ADC divides the estimated inner
        // product by it, the piece a pure-residual code cannot reconstruct
        sqrt(aggregate(col(vecCol), lit(0.0d),
          (a, x) => a + x.cast("double") * x.cast("double")))
          .cast("float").as("vnorm"),
        col("centroid_id"))

  /** Persist an [[Ivf]] so build-once/query-many and ingestion loops
    * ([[appendIvf]]) survive process restarts: assignments are written
    * `partitionBy(centroid_id)` — on reload [[searchIvf]]'s literal
    * `centroid_id IN (…)` is a static partition filter that prunes whole
    * FILES, the on-disk form of the nprobe/C scan bound (ScaleSpec runs
    * `searchIvf` on this layout and asserts the prune). */
  def saveIvf(ivf: Ivf, dir: String): Unit = {
    ivf.assignments.write.mode("overwrite")
      .partitionBy("centroid_id").parquet(s"$dir/assignments")
    // C rows, usually a driver-local relation: one file, not one per slice
    ivf.centroids.coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    saveIvfTombstones(ivf, dir)
  }

  /** Persist ONLY the tombstones — the delete path's write (load →
    * deleteFromIvf → this): work ∝ tombstones, the partitioned
    * assignment files on disk are untouched. */
  def saveIvfTombstones(ivf: Ivf, dir: String): Unit = ivf.tombs match {
    case Some(t) => t.write.mode("overwrite").parquet(s"$dir/tombs")
    case None =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/tombs")
      val fs = p.getFileSystem(ivf.centroids.sparkSession
        .sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true): Unit
  }

  /** Reload a [[saveIvf]] directory. Partition-column values come back as
    * the inferred integer type, so centroid_id is re-widened to long. The
    * C centroid rows and the pending tombstones are each collected once
    * here and come back as driver-local relations, and both [[Ivf]]
    * memos are forced, so [[searchIvf]] ranks and filters without a read
    * of its own: one job per search (C ≤ 256 bounds the centroid collect;
    * the compaction threshold bounds the tombstones). */
  def loadIvf(spark: org.apache.spark.sql.SparkSession, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Ivf = {
    val assignments = spark.read.parquet(s"$dir/assignments")
      .select(col(idCol), col(vecCol), col("centroid_id").cast("long"))
    def local(path: String) = {
      val stored = spark.read.parquet(path)
      spark.createDataFrame(
        java.util.Arrays.asList(stored.collect(): _*), stored.schema)
    }
    val tombsPath = new org.apache.hadoop.fs.Path(s"$dir/tombs")
    val fs = tombsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ivf = Ivf(assignments, local(s"$dir/centroids"),
      if (fs.exists(tombsPath)) Some(local(s"$dir/tombs")) else None)
    ivf.centroidRows; ivf.tombIds
    ivf
  }

  /** Persist the full IVF-PQ artifact set: coarse index, 16 B/vector codes
    * relation (also centroid-partitioned on disk), and the codebook as a
    * tiny (subspace, code, entry) relation — m·ksub rows. */
  def saveIvfPq(ivf: Ivf, index: DataFrame, cb: Seq[Seq[Seq[Float]]],
      dir: String, idCol: String = "vec_id"): Unit = {
    saveIvf(ivf, s"$dir/ivf")
    index.write.mode("overwrite")
      .partitionBy("centroid_id").parquet(s"$dir/codes")
    val sp = ivf.centroids.sparkSession
    sp.createDataFrame(cb.zipWithIndex.flatMap { case (entries, j) =>
        entries.zipWithIndex.map { case (e, c) => (j, c, e) } })
      .toDF("subspace", "code", "entry")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebook")
  }

  /** Reload a [[saveIvfPq]] directory. */
  def loadIvfPq(spark: org.apache.spark.sql.SparkSession, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : (Ivf, DataFrame, Seq[Seq[Seq[Float]]]) = {
    val ivf = loadIvf(spark, s"$dir/ivf", idCol, vecCol)
    val index = spark.read.parquet(s"$dir/codes")
      .select(col(idCol), col("codes"),
        col("centroid_id").cast("long"), col("vnorm"))
    val cb = spark.read.parquet(s"$dir/codebook")
      .orderBy(col("subspace"), col("code")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.toSeq.map(_._2.toSeq))
    (ivf, index, cb)
  }

  /** Single-query IVF search: probe the nprobe nearest centroid buckets,
    * brute-force within them, keep the top k as `(vec_id, simil)`.
    *
    * `queryVec` must hold exactly one non-null `qvec` row (no job when it
    * is a local relation). The centroids come from the index's
    * `centroidRows` memo and are ranked on the driver in the plan's own
    * order: [[CosineSimilarity.of]] descending under Spark's double order
    * (NaN largest, a null `cvec` last), then `centroid_id` ascending. The
    * probed ids reach the assignment scan as a literal
    * `centroid_id IN (…)`, which on a [[saveIvf]] layout is a static
    * partition filter. Pending tombstones (the `tombIds` memo) join the
    * same scan as `id IS NULL OR NOT id IN (…)` — a hashed `InSet` in the
    * scan's codegen stage, equal to the left-anti join [[liveAssignments]]
    * plans (a null id survives it). On a [[loadIvf]] index the search is
    * therefore ONE job with no broadcast, deletes pending or not, reading
    * only the probed buckets' files; an in-memory [[deleteFromIvf]] value
    * pays one tombstone read on its first search. ScaleSpec pins the job
    * counts and the prune. */
  def searchIvf(ivf: Ivf, queryVec: DataFrame, nprobe: Int, k: Int): DataFrame = {
    val qs = queryVec.select(col("qvec")).limit(2).collect()
    require(qs.length == 1 && !qs(0).isNullAt(0),
      s"searchIvf takes one non-null qvec row, got ${qs.length} row(s)" +
        (if (qs.length == 1) " with a null qvec" else ""))
    val q = qs(0).getSeq[Float](0).toArray
    val probed = ivf.centroidRows
      .map { case (id, v) =>
        (id, if (v == null) None else Some(CosineSimilarity.of(v, q))) }
      .sorted(probeOrder)
      .take(nprobe).map(_._1)
    val scan = ivf.assignments
      .filter(col("centroid_id").isin(probed.toIndexedSeq: _*))
    val tombIds = ivf.tombIds
    val live = if (tombIds.isEmpty) scan else {
      val id = col(ivf.tombs.get.columns.head)
      scan.filter(id.isNull || !id.isin(tombIds.toIndexedSeq: _*))
    }
    live
      .select(col("vec_id"), Graft.cosine(col("embedding"), typedLit(q)).as("simil"))
      .orderBy(col("simil").desc, col("vec_id"))
      .limit(k)
  }

  /** `ORDER BY cs DESC, centroid_id` on driver `(centroid_id, cs)` pairs:
    * Spark's double order descending (NaN largest, −0.0 = 0.0, a null cs
    * last), then the id ascending (both builders assign non-null ids). */
  private val probeOrder: Ordering[(Any, Option[Double])] = (a, b) => {
    val byCs = (a._2, b._2) match {
      case (Some(x), Some(y)) => SQLOrderingUtil.compareDoubles(y, x)
      case (Some(_), None) => -1
      case (None, Some(_)) => 1
      case _ => 0
    }
    if (byCs != 0) byCs
    else a._1.asInstanceOf[Comparable[Any]].compareTo(b._1)
  }

  /** Batch IVF: one plan answers a whole query SET — the IVF twin of
    * [[lshBatchTopK]] (no driver-side per-query loop). Per-query centroid
    * probe first: queries × broadcast centroids is |Q|·C rows distributed
    * with the queries, ranked within each qid to its nprobe nearest
    * buckets. Candidates then come from ONE join of the assignment table
    * against the probe set on centroid_id — the assignments are already
    * clustered by centroid_id ([[assignToCentroids]]), so the join is
    * co-located and each query scores only its nprobe/C slice. Final
    * top-k per query is a qid-partitioned window (never a global sort).
    *
    * The probe set (|Q|·nprobe rows + one qvec each) is broadcast: the
    * scale contract is C and nprobe bounded and |Q| ≪ corpus (a query
    * BATCH, not a second corpus — for corpus×corpus similarity use
    * [[Dedup.embeddingTopPairs]] / [[lshBatchTopK]]).
    *
    * @param queries (qid: long, qvec: array<float>)
    */
  def searchIvfBatch(ivf: Ivf, queries: DataFrame, nprobe: Int, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val pw = Window.partitionBy(col("qid"))
      .orderBy(col("cs").desc, col("centroid_id"))
    val probed = queries.crossJoin(broadcast(ivf.centroids))
      .select(col("qid"), col("qvec"), col("centroid_id"),
        Graft.cosine(col("cvec"), col("qvec")).as("cs"))
      .withColumn("rn", row_number().over(pw))
      .filter(col("rn") <= nprobe)
      .select(col("qid"), col("qvec"), col("centroid_id"))
    Knn.groupedTopK(
      liveAssignments(ivf)
        .join(broadcast(probed), Seq("centroid_id"))
        .select(col("qid"), col(idCol),
          Graft.cosine(col(vecCol), col("qvec")).as("simil")),
      k, idCol, "simil")
  }

  /** Batch ANN: one `approxSimilarityJoin` for a whole query SET — no
    * driver-side per-query loop, no `.head`. Both sides are hashed once;
    * the join runs bucket-co-located on the LSH keys, then each query
    * keeps its k nearest by euclidean distance. On unit-norm vectors
    * (d² = 2 − 2·cos) euclidean bottom-k IS cosine top-k, so results are
    * directly comparable to [[Knn.topKPerQuery]].
    *
    * @param queries   (qid: long, qvec: array<float>)
    * @param threshold euclidean cut for the join (2.0 = the unit-sphere
    *                  diameter ⇒ no candidate lost; tighten to prune)
    */
  def lshBatchTopK(emb: DataFrame, queries: DataFrame, k: Int,
      threshold: Double = 1.5,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (model, withVec) = lshModel(emb, vecCol)
    val q = queries.withColumn("features", array_to_vector(col("qvec")))
    val flat = model.approxSimilarityJoin(withVec, q, threshold, "dist")
      .select(col("datasetB.qid").as("qid"),
        col(s"datasetA.$idCol").as(idCol), col("dist"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dist"), col(idCol))
    flat.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  /** Recall-at-k of an ANN result against the exact top-k, as one
    * driver-checkable gate row per query: `(qid, exact_top1, recall_ok)`.
    *
    * MLlib's random hyperplanes are engine-specific, so an LSH result can
    * never bit-match a DuckDB oracle; what CAN be checked relationally is
    * (a) the exact-KNN side (top-1 neighbor re-derived independently) and
    * (b) that the ANN result covers ≥ `minRecall` of the true top-k — the
    * quantity that actually certifies an ANN index. A recall dip below the
    * floor flips `recall_ok` to false and fails the row hash.
    *
    * @param exact [[Knn.topKPerQuery]] shape: (qid, idCol, simil)
    * @param ann   ANN candidates: (qid, idCol, …)
    */
  def recallVsExact(exact: DataFrame, ann: DataFrame, k: Int,
      minRecall: Double, idCol: String = "vec_id"): DataFrame = {
    // every relation here is ≤ k × |queries| rows by construction —
    // broadcast explicitly rather than waiting for AQE to notice
    val hits = exact
      .join(broadcast(ann.select(col("qid"), col(idCol))),
        Seq("qid", idCol), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hit"))
    // top-1 via max_by, not a window: one partial-aggregable pass, and the
    // (simil, -id) struct reproduces the ORDER BY simil DESC, id tie-break
    val top1 = exact.groupBy(col("qid"))
      .agg(max_by(col(idCol), struct(col("simil"), -col(idCol)))
        .as("exact_top1"))
    top1.join(broadcast(hits), Seq("qid"), "left_outer")
      .select(col("qid"), col("exact_top1"),
        (coalesce(col("n_hit"), lit(0L)) >=
          math.ceil(minRecall * k).toLong).as("recall_ok"))
  }

  /** Retrieval-quality EVALUATION metrics — the measurement loop every
    * ANN deployment runs against a ground-truth set: per query,
    * `rr` = reciprocal rank of the exact top-1 inside the ANN ranking
    * (0.0 if missed; mean over queries = MRR@k) and `n_hit` = |ANN ∩
    * exact top-k| (recall@k·k). Both inputs carry `(qid, idCol, simil)`;
    * the ANN side is re-ranked by (simil desc, id) — identical to the
    * order its top-k was taken in, so ranks are 1..k.
    *
    * Scale shape: every relation here is ≤ k·|Q| rows (the ANN/exact
    * RESULTS, not the corpus) — window + joins on result-sized frames.
    * Returns `(qid, rr, n_hit)`; rr rounded to 4 (engine-exact — 1/rank
    * has no half-ulp-at-scale-4 ties for k ≤ 100). */
  def retrievalMetrics(exact: DataFrame, ann: DataFrame, k: Int,
      idCol: String = "vec_id"): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("simil").desc, col(idCol))
    val ranked = ann.select(col("qid"), col(idCol), col("simil"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
    val top1 = exact.groupBy(col("qid"))
      .agg(max_by(col(idCol), struct(col("simil"), -col(idCol))).as(idCol))
    // every join side is <= k·|Q| rows by construction — broadcast
    // explicitly rather than letting stats-blind planning pick SMJ
    val rr = top1
      .join(broadcast(ranked.select(col("qid"), col(idCol), col("rank"))),
        Seq("qid", idCol), "left_outer")
      .select(col("qid"),
        round(coalesce(lit(1.0) / col("rank"), lit(0.0)), 4).as("rr"))
    val hits = exact.select(col("qid"), col(idCol))
      .join(broadcast(ranked.select(col("qid"), col(idCol))),
        Seq("qid", idCol), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hit"))
    rr.join(broadcast(hits), Seq("qid"), "left_outer")
      .select(col("qid"), col("rr"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
  }

  /** Symmetric per-vector int8 scalar quantization (the SQ8 scheme public
    * vector engines use for their compressed scan tier): scale each vector
    * by `127 / max|x_i|` and round each component to a byte. 64-dim float
    * embeddings shrink 4× (256 B → 64 B + one float) — at 100 TB the coarse
    * scan tier reads a quarter of the bytes, and that scan is the
    * bottleneck of brute-force ANN, not the arithmetic.
    *
    * Output: `(idCol, q8: array<tinyint>, scale: float)`. Zero vectors
    * quantize to all-zero with scale 1 (no division by zero); everything
    * is built-in HOFs (`transform`/`aggregate`), fully codegen.
    * Reconstruction error per component is ≤ amax/254 (half a quantization
    * step) — spec-pinned.
    *
    * Non-finite components (NaN/±Inf) are excluded from the scale and
    * quantize to code 0 — the same degrade-don't-throw hardening as
    * [[graft.functions.PqEncode]]'s code-0 fallback; without the guard a
    * single bad vector would make the ANSI byte cast fail the whole
    * quantize job. */
  def quantizeSq8(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // native one-pass codegen expression — the HOF twin below is its
    // executable spec (parity spec-checked). The twin's per-element
    // lambda INLINES the amax fold (Catalyst cannot share a
    // subexpression into a lambda), which re-ran the full aggregate
    // ~2·dim times per row interpreted — the SQ8 tier's dominant cost.
    val qz = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.Sq8Quantize(
        org.apache.spark.sql.GraftSqlBridge.expression(col(vecCol))))
    emb.select(col(idCol), qz.as("_qz"))
      .select(col(idCol), col("_qz.q8").as("q8"),
        col("_qz.scale").as("scale"))
  }

  /** Interpreted HOF twin of [[quantizeSq8]] (spec-checked equal) —
    * the executable definition of the quantization arithmetic. */
  private[graft] def quantizeSq8Hof(emb: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    def finite(x: Column): Column = !isnan(x) && abs(x) <= lit(Float.MaxValue)
    val amax = aggregate(col(vecCol), lit(0.0f),
      (acc, x) => greatest(acc, when(finite(x), abs(x)).otherwise(lit(0.0f))))
    val scale = when(amax > 0.0f, amax / 127.0f).otherwise(lit(1.0f))
      .cast("float")
    emb.select(col(idCol),
      transform(col(vecCol),
        x => when(finite(x), round(x / scale)).otherwise(lit(0))
          .cast("byte")).as("q8"),
      scale.as("scale"))
  }

  /** Dequantized float view of a [[quantizeSq8]] row — `q8_i · scale`. */
  def dequantizeSq8(q8: Column, scale: Column): Column =
    transform(q8, q => q.cast("float") * scale)

  /** ANN via the quantized tier + exact rescore: coarse top-`k·overfetch`
    * by cosine on the DEQUANTIZED int8 vectors (reads the 4×-smaller
    * relation only), then join the candidate ids back to the full-precision
    * vectors — k·overfetch rows, a broadcast — and rescore exactly. The
    * candidate set bounds the full-precision I/O, the overfetch absorbs
    * quantization rank noise (spec: recall@10 = 1.0 on the fixture at 4×).
    *
    * @param quantized output of [[quantizeSq8]] (pre-materialized at scale:
    *                  quantize once, write, serve many queries)
    * @param queryVec  single query `(qvec: array<float>)` */
  /** Exact rescore shared by every compressed/pruned ANN tier: the
    * candidate ids (a k·overfetch-bounded relation) semi-join back to the
    * full-precision vectors, exact cosine against the broadcast query,
    * top-k with the standard (simil DESC, id) tie-break. */
  private def rescoreExact(emb: DataFrame, cands: DataFrame,
      queryVec: DataFrame, k: Int, idCol: String,
      vecCol: String): DataFrame =
    emb.join(broadcast(cands), Seq(idCol), "left_semi")
      .crossJoin(broadcast(queryVec))
      .select(col(idCol), Graft.cosine(col(vecCol), col("qvec")).as("simil"))
      .orderBy(col("simil").desc, col(idCol))
      .limit(k)

  /** Fused codegen cosine over (q8, scale, qvec) — see
    * [[graft.functions.Sq8Cosine]]; the composed
    * `Graft.cosine(dequantizeSq8(...), ...)` form is its executable spec. */
  def sq8Cosine(q8: Column, scale: Column, qvec: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.Sq8Cosine(
        org.apache.spark.sql.GraftSqlBridge.expression(q8),
        org.apache.spark.sql.GraftSqlBridge.expression(scale),
        org.apache.spark.sql.GraftSqlBridge.expression(qvec)))

  def searchSq8(emb: DataFrame, quantized: DataFrame, queryVec: DataFrame,
      k: Int, overfetch: Int = 4, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cands = quantized.crossJoin(broadcast(queryVec))
      .select(col(idCol),
        sq8Cosine(col("q8"), col("scale"), col("qvec")).as("qsim"))
      .orderBy(col("qsim").desc, col(idCol))
      .limit(k * overfetch)
      .select(col(idCol))
    rescoreExact(emb, cands, queryVec, k, idCol, vecCol)
  }

  /** Product-quantization codebooks (Jégou et al. 2011, "Product
    * quantization for nearest neighbor search" — the scheme behind FAISS
    * IVFPQ): split the vector into `m` subspaces and learn `ksub` entries
    * per subspace. Entries here are the subvectors of the `ksub`
    * md5-smallest rows — the same deterministic bounded sample as
    * [[buildIvf]] ([[buildPqCodebookLloyd]] is the learned alternative). Only
    * `ksub` rows ever reach the driver; the codebook is `m·ksub·dsub`
    * floats, broadcast as a literal into codegen'd HOF expressions.
    * Returns `[m][ksub][dsub]`. */
  def buildPqCodebook(emb: DataFrame, m: Int, ksub: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      salt: String = ""): Seq[Seq[Seq[Float]]] = {
    require(ksub <= 256, s"ksub=$ksub exceeds what a byte code can index")
    // `salt` decorrelates this sample from OTHER md5-ordered picks over the
    // same ids. The residual IVFADC build needs it: with numCentroids ==
    // ksub the unsalted sample selects exactly the coarse-centroid rows,
    // whose residuals are identically ZERO — every codebook entry collapses
    // to the origin and ADC degenerates to a constant (measured: recall@10
    // fell to 3/10 before the salt, 9/10 after).
    val sample = emb
      .orderBy(md5(concat(lit(salt), col(idCol).cast("string"))), col(idCol))
      .limit(ksub)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toIndexedSeq)
    // fail at BUILD time, not mid-encode: a silently floored dsub would
    // make the native encoder throw per-row while the HOF twin silently
    // dropped the trailing dims
    require(sample.head.length % m == 0,
      s"embedding dim ${sample.head.length} is not divisible by m=$m")
    val dsub = sample.head.length / m
    (0 until m).map(j =>
      sample.toSeq.map(v => v.slice(j * dsub, (j + 1) * dsub).toSeq))
  }

  /** LEARNED PQ codebooks: per-subspace k-means on the subvectors,
    * squared L2 (Jégou 2011 §III trains exactly this), replacing
    * [[buildPqCodebook]]'s md5-sample entries. Sampled entries are real
    * data points, so sparse regions of a subspace get no representative
    * and dense ones get many identical-ish entries; Lloyd iterations
    * spread the `ksub` entries by the subspace's own density, cutting
    * per-subspace quantization error and raising ADC ranking quality at
    * the SAME index size. The md5 sample stays the oracle default; this
    * is the quality path, recall-gated (same split as
    * [[buildIvfKMeansLloyd]] vs [[buildIvf]]).
    *
    * All `m` subspace fits are FUSED into one plan per Lloyd round, whose
    * assignment step IS the production encoder:
    *
    *  - assignment: the native whole-stage-codegen [[pqEncode]] pass
    *    against the current centers (argmin per subspace, first-on-tie —
    *    exactly the cluster assignment Lloyd needs, already proven
    *    against its HOF twin);
    *  - update: `posexplode` the vector, recover `(j = pos / dsub,
    *    p = pos mod dsub, c = codes[j])`, one hash-agg `avg` over the
    *    m·ksub·dsub bounded groups; empty clusters keep their previous
    *    center.
    *
    * Init is the salted-md5 deterministic row sample sliced into every
    * subspace ([[buildPqCodebook]]'s exact convention — so iteration 0
    * equals the sample codebook and each round only improves it).
    * Total jobs: checkpoint + init + maxIter — independent of m (m
    * separate per-subspace fits measured a 1.4 s scheduling floor at
    * sf0.1 for m=16). Learned-center quality is spec-gated (plain-Scala
    * Lloyd reference + reconstruction-MSE vs the sample codebook) and the
    * composed index recall-gated, like every learned tier.
    *
    * Scale shape: the fit set is coalesced to 4 partitions and
    * materialized once; each round scans it with codegen map work and
    * shuffles only the m·ksub·dsub partial means. Only the codebook
    * itself (m·ksub·dsub floats) reaches the driver. */
  def buildPqCodebookLloyd(emb: DataFrame, m: Int, ksub: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxIter: Int = 5): Seq[Seq[Seq[Float]]] = {
    require(ksub <= 256, s"ksub=$ksub exceeds what a byte code can index")
    // materialize the fit set once; init + every round read it.
    // The dim probe reads the CHECKPOINTED set — probing `emb` first
    // would run the upstream plan (a full residual-assignment pass in the
    // IVFADC composition) for a single head() row.
    val fit = emb
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .coalesce(4)
      .localCheckpoint(true)
    try {
      val sample = fit
        .orderBy(md5(concat(lit("lloyd:"), col("id").cast("string"))),
          col("id"))
        .limit(ksub)
        .select(col("v")).collect()
        .map(_.getSeq[Float](0).toIndexedSeq)
      require(sample.length == ksub,
        s"fit set too small: need $ksub rows, got ${sample.length}")
      // the dim reads off the collected init sample — the separate
      // head() probe job this saves was one more sequential driver
      // round trip in a loop that is pure round-trips
      val dim = sample.head.length
      require(dim % m == 0, s"embedding dim $dim is not divisible by m=$m")
      val dsub = dim / m
      var centers: Array[Array[Array[Float]]] = Array.tabulate(m, ksub) {
        (j, c) => sample(c).slice(j * dsub, (j + 1) * dsub).toArray }
      val j = (col("pos") / lit(dsub)).cast("int")
      for (_ <- 1 to maxIter) {
        val cb = centers.map(_.map(_.toSeq).toSeq).toSeq
        val means = pqEncode(fit, cb, "id", "v", keep = Seq("v"))
          .select(col("codes"), posexplode(col("v")))
          .select(j.as("j"), pmod(col("pos"), lit(dsub)).as("p"),
            pmod(element_at(col("codes"), j + 1).cast("int"), lit(256)).as("c"),
            col("col").cast("double").as("x"))
          .groupBy(col("j"), col("c"), col("p"))
          .agg(avg(col("x")).as("mu"))
          .collect()
        val next = centers.map(_.map(_.clone()))
        means.foreach { r =>
          next(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
            r.getDouble(3).toFloat
        }
        centers = next
      }
      centers.map(_.map(_.toSeq).toSeq).toSeq
      // the codebook is a driver-side value now — free the fit slice's
      // checkpoint blocks eagerly instead of waiting out GC + cleaner
      // (r11: the accumulated blocks surfaced as GC churn in LATER
      // queries' covariance stages)
    } finally org.apache.spark.sql.GraftSqlBridge.freeLocalCheckpoint(fit)
  }

  /** PQ-encode every vector: `codes[j] = argmin_c ‖sub_j(v) − cb[j][c]‖²`
    * (ties to the smallest code). One map pass through the native
    * [[graft.functions.PqEncode]] expression — a flat whole-stage-codegen
    * loop, no join, no shuffle, no per-code allocation (the HOF twin
    * [[pqEncodeHof]] is the executable spec). The codes relation is `m`
    * bytes per vector (64-dim float × m=16 → 16 B vs 256 B, 16×) — at
    * 100 TB THIS is the relation the ADC scan reads. */
  def pqEncode(emb: DataFrame, cb: Seq[Seq[Seq[Float]]],
      idCol: String = "vec_id", vecCol: String = "embedding",
      keep: Seq[String] = Nil): DataFrame = {
    val m = cb.length
    val ksub = cb.head.length
    val dsub = cb.head.head.length
    val flat = cb.flatten.flatten.toArray
    val codes = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.PqEncode(
        org.apache.spark.sql.GraftSqlBridge.expression(col(vecCol)),
        flat, m, ksub, dsub))
    emb.select(col(idCol) +: codes.as("codes") +: keep.map(col): _*)
  }

  /** Interpreted higher-order-function twin of [[pqEncode]] (spec-checked
    * equal): `transform` over subspaces, `aggregate` over codes carrying a
    * `(best_dist, best_code)` struct, `zip_with` for the squared
    * distance. Kept as the executable specification of the native
    * expression's arithmetic — including the float-then-widen semantics
    * and the first-on-tie argmin. */
  def pqEncodeHof(emb: DataFrame, cb: Seq[Seq[Seq[Float]]],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val m = cb.length
    val ksub = cb.head.length
    val dsub = cb.head.head.length
    val cbLit = typedlit(cb)
    val codes = transform(sequence(lit(0), lit(m - 1)), j => {
      val sub = slice(col(vecCol), j * dsub + 1, lit(dsub))
      val best = aggregate(sequence(lit(0), lit(ksub - 1)),
        struct(lit(Double.MaxValue).as("d"), lit(-1).as("c")),
        (acc, c) => {
          val cv = element_at(element_at(cbLit, j + 1), c + 1)
          val d = aggregate(
            zip_with(sub, cv, (x, y) => (x - y) * (x - y)),
            lit(0.0d), (a, t) => a + t.cast("double"))
          when(d < acc.getField("d"),
            struct(d.as("d"), c.as("c"))).otherwise(acc)
        })
      // non-finite components leave the argmin at sentinel -1 — fall back
      // to code 0 (a valid entry), matching the native expression
      greatest(best.getField("c"), lit(0)).cast("byte")
    })
    emb.select(col(idCol), codes.as("codes"))
  }

  /** IVF-PQ index — the FAISS IVFADC layout as ONE relation:
    * `(idCol, codes, centroid_id)`, partitioned by centroid_id and 16×
    * smaller than the vectors. At 100 TB this is the only relation a
    * query's coarse phase touches: partition-pruned to nprobe/C of the
    * rows, each row `m` bytes.
    *
    * True IVFADC (Jégou 2011 §IV, the FAISS default): the PQ codebook is
    * trained on and encodes RESIDUALS `x − centroid(x)`, not raw vectors —
    * the residual quantizer sees the small within-cell offsets, so the
    * same code budget carries more ranking information (measured here:
    * recall@10 rose from 6/10 to 9/10 at sf0.1 on the md5 build at
    * identical index bytes). The residual dependency makes coarse → PQ
    * sequential (the overlap the raw-vector form enjoyed is gone) — the
    * recoverable concurrency is codebook-fit ∥ encode-input
    * materialization, which the build below runs as two concurrent jobs. */
  def buildIvfPq(emb: DataFrame, numCentroids: Int = 32, m: Int = 16,
      ksub: Int = 32, idCol: String = "vec_id",
      vecCol: String = "embedding",
      coarse: (DataFrame, Int, String, String) => Ivf = buildIvf(_, _, _, _),
      codebook: (DataFrame, Int, Int, String, String) => Seq[Seq[Seq[Float]]] =
        buildPqCodebook(_, _, _, _, _, salt = "pq:"))
      : (Ivf, DataFrame, Seq[Seq[Seq[Float]]]) = {
    // both quantizers are pluggable: the md5-sample defaults keep the
    // oracle-reproducible build, while passing buildIvfKMeansLloyd /
    // buildPqCodebookLloyd composes the learned quality path into the
    // same IVFADC layout (recall-gated instead of hash-matched). The
    // default codebook sample is SALTED — see buildPqCodebook: unsalted it
    // would sample the coarse-centroid rows themselves, whose residuals
    // are zero.
    val ivf = coarse(emb, numCentroids, idCol, vecCol)
    // the ENCODE pass reads a materialized residual relation (eager
    // localCheckpoint) so it never re-runs the N·C assignment join; the
    // codebook FIT takes its own residual view and runs CONCURRENTLY with
    // that materialization (the fit bounds its input itself — coalesce,
    // checkpoint — so the only duplicated work is one
    // assignment pass, paid in parallel instead of serially; r9 verdict:
    // the fit was serialized behind the checkpoint for no dependency
    // reason). The coarse → residual dependency itself is real (true
    // IVFADC trains on x − centroid(x)) — the overlap is fit ∥ encode-
    // input materialization, not fit ∥ coarse.
    val resView = withResiduals(ivf.assignments, ivf.centroids, idCol, vecCol)
    // shared cached action pool (r14 verdict #8) — safe if a caller
    // ever composes this build inside another concurrent chain
    val (res, cb) = Graft.inParallel(
      resView.localCheckpoint(true),
      codebook(resView, m, ksub, idCol, "residual"))
    // the index keeps the centroid (partition pruning) and the norm (the
    // cosine denominator ADC needs) — same arithmetic as encodeIvfPq,
    // which append/rebuild parity is spec-asserted against
    val index = pqEncode(res, cb, idCol, "residual",
      keep = Seq("centroid_id", "vnorm"))
    (ivf, index, cb)
  }

  /** IVF-PQ search: centroid prune (broadcast join on centroid_id — the
    * partition-prune shape) → cosine-estimating ADC over the surviving
    * codes → exact rescore of the `k·overfetch` candidates from the
    * full-precision vectors.
    *
    * The final metric is COSINE, so the coarse rank must estimate cosine,
    * not euclidean (on non-normalized corpora an L2 ADC ranks by a
    * different order than the rescore and recall collapses — measured
    * 2/10 at sf0.1). Codes are residual codes ([[buildIvfPq]]); inner
    * product is linear, so
    * `⟨q, x⟩ ≈ ⟨q, c⟩ + Σ_j ⟨sub_j(q), cb_j[codes_j]⟩` — the first term
    * is one number per PROBED centroid (computed once, broadcast), the
    * second is the codegen [[adcIp]] kernel over the code rows, and
    * dividing by the stored `vnorm` (‖q‖ is constant per query — dropped)
    * makes the rank a cosine estimate. FAISS METRIC_INNER_PRODUCT IVFPQ
    * is this exact layout. */
  def searchIvfPq(ivf: Ivf, index: DataFrame, cb: Seq[Seq[Seq[Float]]],
      emb: DataFrame, queryVec: DataFrame, nprobe: Int, k: Int,
      overfetch: Int = 6, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val probed = ivf.centroids.crossJoin(broadcast(queryVec))
      .select(col("centroid_id"),
        Graft.cosine(col("cvec"), col("qvec")).as("cs"),
        aggregate(zip_with(col("qvec"), col("cvec"),
            (q, c) => q.cast("double") * c),
          lit(0.0d), (a, v) => a + v).as("qc"))
      .orderBy(col("cs").desc, col("centroid_id"))
      .limit(nprobe)
      .select(col("centroid_id"), col("qc"))
    val cands = liveRelation(index, ivf)
      .join(broadcast(probed), Seq("centroid_id"))
      .crossJoin(broadcast(queryVec))
      .select(col(idCol),
        // zero-norm rows estimate 0 — the Graft.cosine convention
        when(col("vnorm") > 0.0f,
          (col("qc") + adcIp(cb, col("codes"), col("qvec"))) / col("vnorm"))
          .otherwise(lit(0.0d)).as("est"))
      .orderBy(col("est").desc, col(idCol))
      .limit(k * overfetch)
      .select(col(idCol))
    rescoreExact(emb, cands, queryVec, k, idCol, vecCol)
  }

  /** Batch IVF-PQ: one plan answers a whole query SET over the fused
    * index — [[searchIvfPq]]'s per-query probe/ADC/rescore stages
    * re-expressed with qid-partitioned windows (the [[searchIvfBatch]]
    * shape applied to the compressed tier). The candidate join stays
    * co-located on the centroid-clustered codes relation; every
    * per-query relation (probe set, candidate ids) is bounded by
    * |Q|·nprobe / |Q|·k·overfetch rows and broadcast. Same scale
    * contract as [[searchIvfBatch]]: C, nprobe, k bounded and |Q| ≪
    * corpus.
    *
    * @param queries (qid: long, qvec: array<float>)
    */
  def searchIvfPqBatch(ivf: Ivf, index: DataFrame, cb: Seq[Seq[Seq[Float]]],
      emb: DataFrame, queries: DataFrame, nprobe: Int, k: Int,
      overfetch: Int = 6, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val pw = Window.partitionBy(col("qid"))
      .orderBy(col("cs").desc, col("centroid_id"))
    val probed = queries.crossJoin(broadcast(ivf.centroids))
      .select(col("qid"), col("qvec"), col("centroid_id"),
        Graft.cosine(col("cvec"), col("qvec")).as("cs"),
        aggregate(zip_with(col("qvec"), col("cvec"),
            (q, c) => q.cast("double") * c),
          lit(0.0d), (a, v) => a + v).as("qc"))
      .withColumn("rn", row_number().over(pw))
      .filter(col("rn") <= nprobe)
      .select(col("qid"), col("qvec"), col("centroid_id"), col("qc"))
    val cands = Knn.groupedTopK(
      liveRelation(index, ivf)
        .join(broadcast(probed), Seq("centroid_id"))
        .select(col("qid"), col(idCol),
          when(col("vnorm") > 0.0f,
            (col("qc") + adcIp(cb, col("codes"), col("qvec"))) / col("vnorm"))
            .otherwise(lit(0.0d)).as("est")),
      k * overfetch, idCol, "est")
      .select(col("qid"), col(idCol))
    rescoreExactBatch(emb, cands, queries, k, idCol, vecCol)
  }

  /** Per-query exact rescore shared by the batch tiers: candidates
    * `(qid, idCol)` joined back to the full-precision vectors, scored,
    * top-k per qid. Both join sides the big relation sees are bounded
    * (|Q|·k·overfetch candidate ids, |Q| query vectors) and broadcast. */
  private def rescoreExactBatch(emb: DataFrame, cands: DataFrame,
      queries: DataFrame, k: Int, idCol: String, vecCol: String): DataFrame =
    Knn.groupedTopK(
      emb.join(broadcast(cands), Seq(idCol))
        .join(broadcast(queries), Seq("qid"))
        .select(col("qid"), col(idCol),
          Graft.cosine(col(vecCol), col("qvec")).as("simil")),
      k, idCol, "simil")

  /** Batch SQ8: the int8 coarse-scan tier for a whole query SET — one
    * codegen [[sq8Cosine]] pass over the 4×-smaller quantized relation
    * scores |corpus|·|Q| pairs (the scan reads the codes ONCE; the
    * query side is broadcast), a qid-partitioned window keeps each
    * query's k·overfetch, and the shared exact rescore finishes. The
    * batch twin of [[searchSq8]]. */
  def searchSq8Batch(emb: DataFrame, quantized: DataFrame,
      queries: DataFrame, k: Int, overfetch: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cands = Knn.groupedTopK(
      quantized.crossJoin(broadcast(queries))
        .select(col("qid"), col(idCol),
          sq8Cosine(col("q8"), col("scale"), col("qvec")).as("qsim")),
      k * overfetch, idCol, "qsim")
      .select(col("qid"), col(idCol))
    rescoreExactBatch(emb, cands, queries, k, idCol, vecCol)
  }

  /** Native whole-stage-codegen ADC column over (codes, query vector) —
    * see [[graft.functions.PqAdc]]; [[adcHof]] is its executable spec. */
  def adc(cb: Seq[Seq[Seq[Float]]], codes: Column, qvec: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.PqAdc(
        org.apache.spark.sql.GraftSqlBridge.expression(codes),
        org.apache.spark.sql.GraftSqlBridge.expression(qvec),
        cb.flatten.flatten.toArray,
        cb.length, cb.head.length, cb.head.head.length))

  /** Native codegen inner-product ADC — see [[graft.functions.PqAdcIp]];
    * [[adcIpHof]] is its executable spec. */
  def adcIp(cb: Seq[Seq[Seq[Float]]], codes: Column, qvec: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.PqAdcIp(
        org.apache.spark.sql.GraftSqlBridge.expression(codes),
        org.apache.spark.sql.GraftSqlBridge.expression(qvec),
        cb.flatten.flatten.toArray,
        cb.length, cb.head.length, cb.head.head.length))

  /** Interpreted HOF twin of [[adcIp]] (spec-checked equal). */
  def adcIpHof(cb: Seq[Seq[Seq[Float]]], codes: Column,
      qvec: Column): Column = {
    val m = cb.length
    val dsub = cb.head.head.length
    val cbLit = typedlit(cb)
    aggregate(sequence(lit(0), lit(m - 1)), lit(0.0d), (acc, j) => {
      val sub = slice(qvec, j * dsub + 1, lit(dsub))
      val cv = element_at(element_at(cbLit, j + 1),
        pmod(element_at(codes, j + 1).cast("int"), lit(256)) + 1)
      acc + aggregate(zip_with(sub, cv, (x, y) => x * y),
        lit(0.0d), (a, t) => a + t.cast("double"))
    })
  }

  /** Interpreted HOF twin of [[adc]] (spec-checked equal). */
  def adcHof(cb: Seq[Seq[Seq[Float]]], codes: Column,
      qvec: Column): Column = {
    val m = cb.length
    val dsub = cb.head.head.length
    val cbLit = typedlit(cb)
    aggregate(sequence(lit(0), lit(m - 1)), lit(0.0d), (acc, j) => {
      val sub = slice(qvec, j * dsub + 1, lit(dsub))
      // pmod(…, 256) is the column form of the native path's `& 0xff`:
      // codes 128..255 are stored as NEGATIVE bytes, and a plain int cast
      // would turn them into <= 0 element_at indices
      val cv = element_at(element_at(cbLit, j + 1),
        pmod(element_at(codes, j + 1).cast("int"), lit(256)) + 1)
      acc + aggregate(zip_with(sub, cv, (x, y) => (x - y) * (x - y)),
        lit(0.0d), (a, t) => a + t.cast("double"))
    })
  }

  /** ANN via asymmetric distance computation over the PQ codes: score
    * every code row with `Σ_j ‖sub_j(q) − cb[j][codes_j]‖²` (one native
    * codegen map pass — [[graft.functions.PqAdc]] — over the 16×-smaller
    * codes relation), keep the `k·overfetch` smallest
    * (TakeOrderedAndProject), then rescore exactly on the full-precision
    * vectors of the candidates only.
    *
    * @param codes output of [[pqEncode]] (pre-materialized at scale) */
  def searchPq(emb: DataFrame, codes: DataFrame, cb: Seq[Seq[Seq[Float]]],
      queryVec: DataFrame, k: Int, overfetch: Int = 6,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cands = codes.crossJoin(broadcast(queryVec))
      .select(col(idCol), adc(cb, col("codes"), col("qvec")).as("adist"))
      .orderBy(col("adist").asc, col(idCol))
      .limit(k * overfetch)
      .select(col(idCol))
    rescoreExact(emb, cands, queryVec, k, idCol, vecCol)
  }

  /** Batch PQ: one codegen ADC pass over the 16 B/vector codes relation
    * scores the whole query SET (codes scan once, queries broadcast);
    * per-query k·overfetch candidates via the partial-aggregable grouped
    * top-k on the NEGATED distance (the aggregator keeps maxima; the
    * (−adist desc, id) order equals [[searchPq]]'s (adist asc, id)), then
    * the shared exact rescore. The [[searchSq8Batch]] shape on the
    * pure-PQ tier — with it, every quantized tier has a batch form that
    * never funnels a corpus scan into one task. */
  def searchPqBatch(emb: DataFrame, codes: DataFrame,
      cb: Seq[Seq[Seq[Float]]], queries: DataFrame, k: Int,
      overfetch: Int = 6, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cands = Knn.groupedTopK(
      codes.crossJoin(broadcast(queries))
        .select(col("qid"), col(idCol),
          (-adc(cb, col("codes"), col("qvec"))).as("nadist")),
      k * overfetch, idCol, "nadist")
      .select(col("qid"), col(idCol))
    rescoreExactBatch(emb, cands, queries, k, idCol, vecCol)
  }

  /** Degrade-don't-throw guard for float aggregation under ANSI: a
    * non-finite component contributes 0 (the [[graft.functions.PqEncode]]
    * sentinel convention) instead of failing the whole job on the
    * NaN/Inf→DECIMAL cast. Finite corpora — the oracle precondition —
    * are unaffected. */
  private def finiteOrZero(x: Column): Column = {
    val d = x.cast("double")
    when(!isnan(d) && d.between(Double.MinValue, Double.MaxValue), d)
      .otherwise(lit(0.0d))
  }

  /** Per-dimension corpus means of an embedding column, as a bounded
    * Scala array (dim doubles — the PQ-codebook footprint). One
    * posexplode + hash aggregate; each float is cast to DECIMAL(28,12)
    * before summing so the mean is summation-order-independent (the
    * engine-agnostic decimal-sum trick), then divided in double. */
  def dimMeans(emb: DataFrame, vecCol: String = "embedding"): Array[Double] =
    emb.select(posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg((sum(finiteOrZero(col("x")).cast("decimal(28,12)")).cast("double") /
        count(lit(1))).as("mu"))
      .orderBy(col("dim"))
      .collect().map(_.getDouble(1))

  /** PCA rotation with EIGENVALUE ALLOCATION — the non-parametric
    * initialization of Optimized Product Quantization (Ge et al. 2014,
    * "Optimized Product Quantization for Approximate Nearest Neighbor
    * Search", §"eigenvalue allocation"): rotate the space onto its
    * principal axes, then deal the principal dimensions onto the `m` PQ
    * subspaces by GREEDY VARIANCE BALANCING (next-largest eigenvalue
    * goes to the non-full subspace with the smallest log-variance
    * product), so no subspace is starved or overloaded — the
    * independence+balance assumption plain PQ silently makes. The
    * rotation is orthogonal, so cosine is EXACTLY preserved
    * (`cos(Rx, Rq) = cos(x, q)`) and the rotated tier's exact rescore
    * and recall gate need no correction; only the ADC approximation
    * changes (for the better, when the corpus has correlated dims).
    *
    * Scale shape: the covariance is one posexplode self-join on the row
    * id (d² products per row, d=64 → 4096 — a one-time build scan, same
    * order as the PQ encode itself) hash-aggregated with DECIMAL(28,12)
    * sums, so the d×d matrix is summation-order-independent and the
    * whole build is deterministic; only d² doubles reach the driver,
    * where the d×d symmetric eigendecomposition (breeze/LAPACK — ~µs at
    * d=64) and the greedy allocation run. Returns the ROW-MAJOR d×d
    * rotation (row i = the eigenvector assigned to output dim i),
    * applied by the codegen [[graft.functions.MatVecFloat]] kernel.
    *
    * @param m PQ subspace count the allocation balances for (d % m == 0) */
  def buildPcaRotation(emb: DataFrame, m: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): Array[Float] = {
    // the row count rides the dim-means job as an `observe` metric
    // (r21; counted BELOW the posexplode, so it is exactly emb.count()
    // — null-vector rows included) instead of paying its own
    // sequential scan job in a build that is driver-round-trip bound
    val obs = org.apache.spark.sql.Observation()
    val mus = dimMeans(
      emb.observe(obs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n")), vecCol)
    val n = obs.get("n").asInstanceOf[Long].toDouble
    val d = mus.length
    require(d % m == 0, s"embedding dim $d is not divisible by m=$m")
    val dsub = d / m
    val muArr = typedlit(mus.toSeq)
    val np = emb.sparkSession.sparkContext.defaultParallelism
    // d²/2 products per row from chained GENERATORS, not a self-join: a
    // self-join on the row id has a tiny shuffle input and a d²-times
    // larger output — the expansive shape AQE coalesces to one task (the
    // q54 lesson; measured 14 s serial at sf0.1). Generated rows instead
    // expand MAP-SIDE from an explicitly repartitioned scan and the
    // (i, j) hash aggregate combines partially before the only exchange
    // carries ≤ d²·partitions rows. Upper triangle only — the matrix is
    // symmetric, so the mirror happens on the driver for free.
    val centered = emb
      .repartition(np)
      .select(zip_with(col(vecCol), muArr,
        (x, m) => finiteOrZero(x) - m).as("xc"))
    val cov = centered
      .select(posexplode(col("xc")).as(Seq("i", "xi")), col("xc"))
      .select(col("i"), col("xi"),
        posexplode(slice(col("xc"), col("i") + 1, lit(d) - col("i")))
          .as(Seq("dj", "xj")))
      .select(col("i"), (col("i") + col("dj")).as("j"),
        (col("xi") * col("xj")).as("p"))
      .groupBy(col("i"), col("j"))
      .agg((sum(col("p").cast("decimal(28,12)")).cast("double") / n).as("c"))
      .collect()
    val a = Array.ofDim[Double](d * d)
    cov.foreach { row =>
      val (i, j, c) = (row.getInt(0), row.getInt(1), row.getDouble(2))
      a(i * d + j) = c
      a(j * d + i) = c
    }
    // symmetric, so the column-major constructor reads the same matrix
    val es = breeze.linalg.eigSym(new breeze.linalg.DenseMatrix(d, d, a))
    val order = (0 until d).sortBy(i => -es.eigenvalues(i))
    // greedy eigenvalue allocation: next-largest λ → the open subspace
    // with the smallest Σ log λ so far
    val score = Array.fill(m)(0.0)
    val fill = Array.fill(m)(0)
    val buckets = Array.fill(m)(List.empty[Int])
    order.foreach { i =>
      val b = (0 until m).filter(fill(_) < dsub).minBy(score(_))
      score(b) += math.log(math.max(es.eigenvalues(i), 1e-12))
      fill(b) += 1
      buckets(b) = i :: buckets(b)
    }
    val rows = buckets.flatMap(_.reverse)
    val rot = new Array[Float](d * d)
    for (oi <- 0 until d; j <- 0 until d)
      rot(oi * d + j) = es.eigenvectors(j, rows(oi)).toFloat
    rot
  }

  /** Apply a row-major d×d rotation to an embedding column in one
    * codegen map pass ([[graft.functions.MatVecFloat]]) — schema stays
    * `array<float>`, so every downstream tier (PQ encode, ADC scan,
    * exact rescore) consumes rotated vectors unchanged. */
  def rotate(emb: DataFrame, rot: Array[Float],
      vecCol: String = "embedding"): DataFrame = {
    val d = math.sqrt(rot.length.toDouble).toInt
    require(d * d == rot.length, s"rotation length ${rot.length} not square")
    val bridge = org.apache.spark.sql.GraftSqlBridge
    emb.withColumn(vecCol, bridge.column(graft.functions.MatVecFloat(
      bridge.expression(col(vecCol)), rot, d, d)))
  }

  /** Johnson–Lindenstrauss random projection matrix (Achlioptas 2003's
    * database-friendly Rademacher form: entries ±1/√d′ with the sign
    * drawn from the repo's deterministic md5 stream — engine- and
    * run-reproducible, so the projected tier rebuilds identically).
    * Row-major `dOut×dIn`, applied by the codegen [[MatVecFloat]]
    * kernel like the PCA rotation. Unlike PCA this needs NO training
    * pass — the matrix is data-independent, which is exactly what makes
    * it the right coarse tier for a corpus that changes faster than a
    * rotation could be refit. */
  def buildJlProjection(dIn: Int, dOut: Int,
      salt: String = "jl:"): Array[Float] = {
    require(dIn > 0 && dOut > 0 && dOut <= dIn,
      s"bad JL shape $dIn -> $dOut")
    val scale = (1.0 / math.sqrt(dOut.toDouble)).toFloat
    Array.tabulate(dOut * dIn) { i =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$salt$i".getBytes("UTF-8"))
      if ((md(0) & 1) == 0) scale else -scale
    }
  }

  /** Project a vector column through a `dOut×dIn` JL matrix into a NEW
    * column (the full-precision vector stays for the rescore). One
    * codegen map pass — at 100 TB the projected relation (dOut/dIn of
    * the bytes) is the one you persist and scan. */
  def projectJl(df: DataFrame, proj: Array[Float], dIn: Int, dOut: Int,
      vecCol: String = "embedding", outCol: String = "jlvec"): DataFrame = {
    require(proj.length == dIn * dOut, s"projection length ${proj.length}")
    val bridge = org.apache.spark.sql.GraftSqlBridge
    df.withColumn(outCol, bridge.column(graft.functions.MatVecFloat(
      bridge.expression(col(vecCol)), proj, dOut, dIn)))
  }

  /** JL coarse search: rank by cosine in the projected space (dOut/dIn
    * of the scan arithmetic), overfetch, exact rescore on the
    * full-precision vectors — the [[searchSq8]] shape on the
    * dimension-reduction axis instead of the quantization axis. JL
    * preserves inner products within ±ε w.h.p., so the coarse order is
    * a controlled distortion of the true one; recall is gated like
    * every float tier. */
  def searchJl(emb: DataFrame, jlIndex: DataFrame, proj: Array[Float],
      dIn: Int, dOut: Int, queryVec: DataFrame, k: Int,
      overfetch: Int = 6, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val qp = projectJl(queryVec, proj, dIn, dOut, "qvec", "qjl")
    val cands = jlIndex.crossJoin(broadcast(qp.select(col("qjl"))))
      .select(col(idCol),
        Graft.cosine(col("jlvec"), col("qjl")).as("jsim"))
      .orderBy(col("jsim").desc, col(idCol))
      .limit(k * overfetch)
      .select(col(idCol))
    rescoreExact(emb, cands, queryVec, k, idCol, vecCol)
  }

  /** COMPOUND compression search (r12 verdict #7): JL-prune on the
    * dimension axis, SQ8-rescore on the quantization axis — the serving
    * shape where the full-precision vectors are never scanned AT ALL:
    * the coarse pass reads the dOut/dIn-sized JL relation, the rescore
    * reads int8 codes (4× smaller than float) for the k·overfetch
    * candidate ids only. Together the hot path touches
    * dOut/dIn + ~0 of the float bytes — at 100 TB of embeddings that is
    * the difference between a scan that fits the page cache and one
    * that doesn't. Accuracy compounds two controlled distortions (JL's
    * ±ε inner-product preservation × SQ8's rank noise), so the
    * overfetch sits deeper than either axis alone and the tier is
    * recall-gated like every float tier. */
  def searchJlSq8(jlIndex: DataFrame, quantized: DataFrame,
      proj: Array[Float], dIn: Int, dOut: Int, queryVec: DataFrame,
      k: Int, overfetch: Int = 8, idCol: String = "vec_id"): DataFrame = {
    val qp = projectJl(queryVec, proj, dIn, dOut, "qvec", "qjl")
    val cands = jlIndex.crossJoin(broadcast(qp.select(col("qjl"))))
      .select(col(idCol),
        Graft.cosine(col("jlvec"), col("qjl")).as("jsim"))
      .orderBy(col("jsim").desc, col(idCol))
      .limit(k * overfetch)
      .select(col(idCol))
    quantized.join(broadcast(cands), Seq(idCol), "left_semi")
      .crossJoin(broadcast(queryVec))
      .select(col(idCol),
        sq8Cosine(col("q8"), col("scale"), col("qvec")).as("simil"))
      .orderBy(col("simil").desc, col(idCol))
      .limit(k)
  }

  /** Group-centroid ALIGNMENT filter — the relational analog of
    * CLIP-score filtering (Schuhmann et al. 2021: LAION drops pairs whose
    * embedding alignment falls below a floor), applied per group: every
    * vector is scored by cosine against ITS group's mean vector, and rows
    * below `minCos` are flagged as misaligned/outliers. Also the "remove
    * embedding outliers before clustering" prefilter SemDeDup-style
    * pipelines run.
    *
    * Scale shape: group means come from one posexplode + hash aggregate
    * with DECIMAL(28,12) sums (summation-order-independent, so the means
    * are engine-reproducible — same trick as [[dimMeans]]), collapsed to
    * a #groups-row relation that broadcasts back onto the corpus; the
    * scoring pass is map-only sequential-order HOFs (dot and norms reduce
    * in array order, matching DuckDB's list functions bit-for-bit at the
    * 4 dp gate). Nothing touches the driver.
    *
    * @return (idCol, groupCol, align: double 4 dp, keep: boolean) */
  def alignmentFilter(emb: DataFrame, idCol: String, vecCol: String,
      groupCol: String, minCos: Double): DataFrame = {
    val dimMeansByGroup = emb
      .select(col(groupCol), posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy(col(groupCol), col("dim"))
      // finiteOrZero: one NaN component must degrade, not throw the ANSI
      // decimal cast (and not null out its whole group's mean)
      .agg((sum(finiteOrZero(col("x")).cast("decimal(28,12)")).cast("double") /
        count(lit(1))).as("mu"))
    val means = dimMeansByGroup.groupBy(col(groupCol))
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("mu")))),
        s => s.getField("mu")).as("mvec"))
    val num = aggregate(
      zip_with(col(vecCol), col("mvec"), (x, m) => finiteOrZero(x) * m),
      lit(0.0d), (s, v) => s + v)
    val nv = sqrt(aggregate(col(vecCol), lit(0.0d),
      (s, x) => s + finiteOrZero(x) * finiteOrZero(x)))
    val nm = sqrt(aggregate(col("mvec"), lit(0.0d), (s, x) => s + x * x))
    emb.join(broadcast(means), Seq(groupCol))
      .withColumn("align",
        // + 0.0 folds a -0.0 from rounding a tiny negative, same as the
        // emb_normalize oracle convention
        round(when(nv > 0.0d && nm > 0.0d, num / (nv * nm))
          .otherwise(lit(0.0d)), 4) + 0.0d)
      .select(col(idCol), col(groupCol), col("align"),
        (col("align") >= minCos).as("keep"))
  }

  /** Mean-center and L2-normalize an embedding column — the standard
    * preprocessing before cosine ANN / SemDeDup (centering removes the
    * corpus-wide offset that compresses cosine spread; normalizing makes
    * dot = cosine). Means ride in as a literal (bounded, like the PQ
    * codebook); the per-row math is sequential-order HOFs, so both
    * engines reduce in array order. Zero-norm rows (a vector equal to
    * the mean) normalize to the zero vector rather than NaN. Returns
    * `(idCol, centered_norm: double, normalized: array<double>)`. */
  def centerNormalize(emb: DataFrame, means: Array[Double],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val mu = typedlit(means.toSeq)
    val centered = zip_with(col(vecCol), mu,
      (x, m) => x.cast("double") - m)
    emb
      .withColumn("_c", centered)
      // norm reads col("_c"), NOT the `centered` tree — HOFs are
      // interpreted and a second copy of the zip_with would run the
      // dim-length lambda loop twice per row
      .withColumn("centered_norm",
        sqrt(aggregate(col("_c"), lit(0.0d), (a, v) => a + v * v)))
      .select(col(idCol), col("centered_norm"),
        transform(col("_c"), v =>
          when(col("centered_norm") > 0.0d, v / col("centered_norm"))
            .otherwise(lit(0.0d))).as("normalized"))
  }

  /** Binary quantization: sign-bit binarize every dimension (`x ≥ 0 → 1`)
    * and pack 32 dims per 64-bit word (`array<long>` of `⌈d/32⌉` words,
    * each in `[0, 2³²)` — 32-bit packing sidesteps the sign-bit overflow
    * a full 64-bit pack would hit at `1 << 63`). 1 bit/dim = 32× smaller
    * than the floats (dim 64 → two words), the most compressed tier in
    * the family (SQ8 4×, PQ 16×). The Hamming pre-rank below is pure
    * integer ALU work (`xor` + `bit_count`), and — unlike SQ8/PQ — the
    * whole tier is float-arithmetic-free, so the oracle hash-matches the
    * FULL result (no recall-gate grading needed: sign extraction is an
    * exact comparison, Hamming is integer).
    *
    * Sign binarization of (roughly centered) vectors is the 1-bit
    * degenerate case of Charikar 2002's sign-random-projection sketch
    * with the identity projection; cosine ≈ 1 − 2·ham/d on normalized
    * data, which is all the pre-rank needs.
    *
    * Everything is built-in codegen HOFs; the word fold is MSB-first
    * `acc·2 + bit` so no variable-distance shift is required. Out-of-range
    * bit positions (d not a multiple of 32) read null via `try_element_at`
    * and contribute 0 on both engines. Non-finite components follow SQL
    * comparison semantics, which Spark and DuckDB share: NaN orders
    * GREATER than every value, so NaN ≥ 0 binarizes to 1 (spec-pinned);
    * ±Inf follow their sign. */
  def binarize(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val nWords = ((size(col(vecCol)) + lit(31)) / lit(32)).cast("int")
    emb.select(col(idCol),
      transform(sequence(lit(0), nWords - 1), w =>
        aggregate(sequence(lit(31), lit(0), lit(-1)), lit(0L), (acc, b) =>
          acc * 2 + when(
            try_element_at(col(vecCol), w * 32 + b + 1) >= lit(0.0f),
            lit(1L)).otherwise(lit(0L)))).as("bits"))
  }

  /** Hamming distance between two packed-word arrays from [[binarize]]. */
  def hammingWords(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, v) => acc + v)

  /** ANN via the 1-bit tier + exact rescore: Hamming pre-rank over the
    * 32×-smaller packed-bits relation (top `k·overfetch` by Hamming asc,
    * id asc — `TakeOrderedAndProject`, partial per-partition top-k), then
    * the shared exact-cosine rescore on the bounded candidate set. The
    * coarse scan reads 8 bytes + an id per vector and does two xors and
    * two popcounts per row — at 100 TB of float vectors the bit relation
    * is ~3 TB and the scan is memory-bandwidth-bound, not FLOP-bound.
    *
    * @param bin output of [[binarize]] (pre-materialized at scale:
    *            binarize once, write, serve many queries) */
  def searchBq(emb: DataFrame, bin: DataFrame, queryVec: DataFrame,
      k: Int, overfetch: Int = 4, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val qbits = binarize(
        queryVec.select(lit(0L).as("__qid"), col("qvec").as(vecCol)),
        "__qid", vecCol)
      .select(col("bits").as("qbits"))
    val cands = bin.crossJoin(broadcast(qbits))
      .select(col(idCol), hammingWords(col("bits"), col("qbits")).as("ham"))
      .orderBy(col("ham").asc, col(idCol))
      .limit(k * overfetch)
      .select(col(idCol))
    rescoreExact(emb, cands, queryVec, k, idCol, vecCol)
  }

  /** Batch twin of [[searchBq]]: the packed-bits relation scans ONCE for
    * the whole query set (query bits broadcast), per-query candidates via
    * the partial-aggregable grouped top-k on negated Hamming (desc on
    * `-ham` ≡ asc on `ham`, ties id asc — the single-query order), then
    * the shared per-query exact rescore. Shuffle volume k·overfetch·|Q|·
    * partitions, corpus-size-independent. */
  def searchBqBatch(emb: DataFrame, bin: DataFrame, queries: DataFrame,
      k: Int, overfetch: Int = 4, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val qbits = binarize(
        queries.select(col("qid"), col("qvec").as(vecCol)), "qid", vecCol)
      .select(col("qid"), col("bits").as("qbits"))
    val cands = Knn.groupedTopK(
      bin.crossJoin(broadcast(qbits))
        .select(col("qid"), col(idCol),
          (-hammingWords(col("bits"), col("qbits"))).cast("double")
            .as("nham")),
      k * overfetch, idCol, "nham")
      .select(col("qid"), col(idCol))
    rescoreExactBatch(emb, cands, queries, k, idCol, vecCol)
  }

  /** Fit an MLlib LSH model over the embedding column (converted to ml
    * Vector at this boundary only, per SURVEY §1.2). */
  def lshModel(emb: DataFrame, vecCol: String = "embedding",
      tables: Int = 8, bucketLength: Double = 2.0)
      : (org.apache.spark.ml.feature.BucketedRandomProjectionLSHModel, DataFrame) = {
    val withVec = emb.withColumn("features", array_to_vector(col(vecCol)))
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(tables).setBucketLength(bucketLength).setSeed(42)
    val model = lsh.fit(withVec)
    (model, withVec)
  }
}
