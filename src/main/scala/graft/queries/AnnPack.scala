package graft.queries

import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Graft, Tables}
import graft.operators.{Ann, Bitext, Knn, TextAnalysis}

/** Approximate-nearest-neighbor scale paths. The IVF index is built from
  * md5-deterministic centroids, so the ENTIRE pipeline (centroid pick →
  * nearest-centroid assignment → probe → brute-force within buckets) is
  * reproduced by the DuckDB oracle; MLlib LSH hashes are engine-specific,
  * so those stay rows-only driver checks + recall specs. */
object AnnPack extends QueryPack {

  /** DuckDB re-derivation of the appended IVF (centroids from the even
    * half, assignment over every vector) — shared verbatim by
    * ann_ivf_append_topk and stream_ivf_append, because the streamed
    * fold's fixed point IS the one-shot append. */
  private val ivfAppendOracle: String =
    """WITH c AS (
      |  SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cvec
      |  FROM embeddings WHERE vec_id % 2 = 0
      |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 32),
      |q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0),
      |asg AS (
      |  SELECT vec_id, embedding FROM (
      |    SELECT e.vec_id, e.embedding, c.centroid_id,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cvec) DESC,
      |                 c.centroid_id DESC) AS rn
      |    FROM embeddings e CROSS JOIN c)
      |  WHERE centroid_id IN (
      |    SELECT centroid_id FROM c CROSS JOIN q
      |    ORDER BY list_cosine_similarity(cvec, qvec) DESC, centroid_id
      |    LIMIT 4) AND rn = 1),
      |topk AS (
      |  SELECT vec_id, list_cosine_similarity(embedding::DOUBLE[], qvec) AS s
      |  FROM asg CROSS JOIN q
      |  ORDER BY s DESC, vec_id LIMIT 10)
      |SELECT vec_id, round(s, 4) AS simil FROM topk
      |ORDER BY simil DESC, vec_id""".stripMargin

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // IVF: probe the 4 nearest of 32 fixed centroid buckets, top-10.
    "ann_ivf_topk" -> ((s, dir) => {
      Graft.init(s)
      val e = Tables.load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      Ann.searchIvf(Ann.buildIvf(e), q, nprobe = 4, k = 10)
        .select(col("vec_id"), round(col("simil"), 4).as("simil"))
        .orderBy(col("simil").desc, col("vec_id"))
    }),

    // Ingestion-loop IVF: the index is built on the EVEN half and the odd
    // half is APPENDED against the frozen centroids (appendIvf — work is
    // proportional to the batch, the corpus is never re-assigned, FAISS
    // add()-after-train() shape). md5-deterministic throughout, so unlike
    // the learned tiers this ingestion path is fully hash-matched.
    "ann_ivf_append_topk" -> ((s, dir) => {
      Graft.init(s)
      val e = Tables.load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      val ivf = Ann.appendIvf(
        Ann.buildIvf(e.filter(pmod(col("vec_id"), lit(2)) === 0)),
        e.filter(pmod(col("vec_id"), lit(2)) === 1))
      Ann.searchIvf(ivf, q, nprobe = 4, k = 10)
        .select(col("vec_id"), round(col("simil"), 4).as("simil"))
        .orderBy(col("simil").desc, col("vec_id"))
    }),

    // Deletion from a live IVF index (r14 verdict #5): every 7th vector
    // is tombstoned (deleteFromIvf — ids recorded, no posting list
    // rewritten, FAISS remove_ids semantics with the quantizer frozen)
    // and the search serves from the live view. The oracle re-derives
    // ann_ivf_topk with the SAME full-corpus centroid pick (frozen
    // quantizer) and the deleted ids absent from the assignment
    // relation — hash-matching it states delete-then-search ≡ search
    // of an index whose lists never held those ids.
    "ann_ivf_delete_topk" -> ((s, dir) => {
      Graft.init(s)
      val e = Tables.load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      val ivf = Ann.deleteFromIvf(Ann.buildIvf(e),
        e.filter(pmod(col("vec_id"), lit(7)) === 3).select(col("vec_id")))
      Ann.searchIvf(ivf, q, nprobe = 4, k = 10)
        .select(col("vec_id"), round(col("simil"), 4).as("simil"))
        .orderBy(col("simil").desc, col("vec_id"))
    }),

    // STREAM-MAINTAINED IVF — the 11th streaming state kind under the
    // gate, closing the ingest→serve loop (r13 missing #1): the index
    // is built on the EVEN half, then the odd half arrives as a
    // 4-micro-batch FILE STREAM and each batch is appendIvf-folded into
    // the serving state (assignment against the FROZEN centroids is
    // per-row, so the fold is associative: folding b1 then b2 ≡
    // appending b1 ∪ b2, and the streamed fixed point equals the
    // one-shot append EXACTLY — ann_ivf_append_topk's oracle gates the
    // search result through the streamed index verbatim). Work per
    // trigger ∝ the micro-batch (one broadcast-centroid map pass +
    // max_by); state is the assignments relation itself — the artifact
    // being maintained, growing ∝ ingested data like any index, with
    // constant-depth lineage via the harness's per-batch checkpoint.
    // This is the streaming form of the index refresh the reference
    // re-runs from scratch per build (camp_vec_save.py:59-79).
    "stream_ivf_append" -> ((s, dir) => {
      Graft.init(s)
      val e = Tables.load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      val base = Ann.buildIvf(e.filter(pmod(col("vec_id"), lit(2)) === 0))
      // the frozen quantizer is C rows — pin it once so each trigger's
      // assignment broadcast does not re-derive the centroid pick
      val centroids = base.centroids.localCheckpoint(true)
      val odd = e.filter(pmod(col("vec_id"), lit(2)) === 1)
      val tmp = graft.Graft.scratchDir("graft_stream_ivf")
      odd.repartitionByRange(4, col("vec_id"))
        .write.mode("overwrite").parquet(tmp)
      try {
        val asg = graft.streaming.EventStream.streamFoldExact(
          s, tmp, odd.schema, Some(base.assignments),
          (st, b) => Ann.appendIvf(Ann.Ivf(st.get, centroids), b)
            .assignments).get
        Ann.searchIvf(Ann.Ivf(asg, centroids), q, nprobe = 4, k = 10)
          .select(col("vec_id"), round(col("simil"), 4).as("simil"))
          .orderBy(col("simil").desc, col("vec_id"))
          .localCheckpoint(true)
      } finally graft.streaming.EventStream.deleteDir(tmp)
    }),

    // BATCH IVF: one plan answers 5 queries at once (the IVF twin of
    // ann_lsh_join's batch path — per-query centroid probe, ONE
    // co-located candidate join, qid-partitioned top-k window; no
    // driver-side per-query loop). md5-deterministic index, so unlike
    // the LSH batch this one is fully hash-matched.
    "ann_ivf_batch_topk" -> ((s, dir) => {
      Graft.init(s)
      val e = Tables.load(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Ann.searchIvfBatch(Ann.buildIvf(e), qs, nprobe = 4, k = 10)
        .select(col("qid"), col("vec_id"), round(col("simil"), 4).as("simil"))
        .orderBy(col("qid"), col("simil").desc, col("vec_id"))
    }),

    // BATCH IVF-PQ: the searchIvfBatch shape applied to the fused
    // compressed index — per-query probe, ONE co-located ADC pass over
    // the codes, per-query bounded rescore; 5 queries in one plan.
    // Graded per-query as recall vs the exact top-10.
    "ann_ivfpq_batch_topk" -> ((s, dir) => {
      Graft.init(s)
      val e = Tables.load(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val (ivf, index, cb) = Ann.buildIvfPq(e, numCentroids = 32,
        m = 16, ksub = 32)
      val ann = Ann.searchIvfPqBatch(ivf, index, cb, e, qs,
        nprobe = 16, k = 10, overfetch = 16)
      // measured per-query fixture recall (RecallProbe): min 6/10 at
      // sf0.01 (8,9,6,8,8), min 7/10 at sf0.1 (10,7,9,8,8) — the
      // md5-deterministic index makes the floor exact
      Ann.recallVsExact(Knn.topKPerQuery(e, qs, k = 10), ann,
          k = 10, minRecall = 0.6)
        .orderBy(col("qid"))
    }),

    // LEARNED-centroid IVF (cosine Lloyd k-means): the quality path's
    // build + probe cost, benched alongside the md5-sample IVF. Graded as
    // recall vs the exact top-10 — KMeans float reduction order is not
    // hash-stable across engines, the recall gate boolean is (same grading
    // contract as the LSH queries).
    "ann_ivf_kmeans_topk" -> ((s, dir) => {
      Graft.init(s)
      val e = Tables.load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(lit(0L).as("qid"), col("embedding").as("qvec"))
      // fused-Lloyd coarse fit (one job per round — the
      // buildPqCodebookLloyd shape on the coarse quantizer): maxIter 5,
      // recall gated below. The recall gate's exact side is independent
      // of the fit — materialize it concurrently with the Lloyd chain
      // (r21; the ann_ivfpq_kmeans_topk shape) instead of serializing
      // the corpus scan behind 7 sequential fit round trips
      val (exact, ivf) = Graft.inParallel(
        exactSingle(e, q).localCheckpoint(true),
        Ann.buildIvfKMeansLloyd(e, numCentroids = 32, maxIter = 5))
      val ann = Ann.searchIvf(ivf, q.select(col("qvec")), nprobe = 4, k = 10)
        .select(lit(0L).as("qid"), col("vec_id"))
      // measured fixture recall 7/10 at sf0.01, 10/10 at sf0.1
      // (RecallProbe r10). Floor kept at the historical 0.3 — k-means
      // determinism is partition-layout-dependent, so the floor stays
      // well under the measurement
      // (r8 advisory; same slack convention as the LSH gates)
      Ann.recallVsExact(exact, ann, k = 10, minRecall = 0.3)
    }),

    // Int8 scalar-quantized tier + exact rescore: coarse top-40 on the
    // 4x-smaller dequantized vectors, exact cosine on the candidates only.
    // Graded as recall vs the exact top-10 (float32 rounding at the
    // quantization boundary is not bit-stable across engines; the recall
    // gate boolean is — same contract as the LSH queries).
    "ann_sq8_topk" -> ((s, dir) => {
      Graft.init(s)
      val e = Tables.load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(lit(0L).as("qid"), col("embedding").as("qvec"))
      val ann = Ann.searchSq8(e, Ann.quantizeSq8(e),
          q.select(col("qvec")), k = 10, overfetch = 4)
        .select(lit(0L).as("qid"), col("vec_id"))
      Ann.recallVsExact(exactSingle(e, q), ann, k = 10, minRecall = 0.9)
    }),

    // Batch SQ8: the int8 coarse tier for 5 queries in one plan — the
    // quantized relation scans ONCE, the query side broadcasts, each
    // query keeps its own overfetch + exact rescore. Per-query recall
    // grading like the other quantized tiers.
    "ann_sq8_batch_topk" -> ((s, dir) => {
      Graft.init(s)
      val e = Tables.load(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val ann = Ann.searchSq8Batch(e, Ann.quantizeSq8(e), qs,
        k = 10, overfetch = 4)
      // measured per-query fixture recall 10/10 for every query at BOTH
      // sf0.01 and sf0.1 (RecallProbe); floor at 0.9 = one hit of slack,
      // the single-query sq8 convention (float32 quantization boundary)
      Ann.recallVsExact(Knn.topKPerQuery(e, qs, k = 10), ann,
          k = 10, minRecall = 0.9)
        .orderBy(col("qid"))
    }),

    // Batch PQ: the pure-PQ tier for 5 queries in one plan — one codegen
    // ADC pass over the 16 B/vector codes, per-query overfetch via the
    // partial-aggregable grouped top-k (negated distance), shared exact
    // rescore. Completes the batch family: every quantized tier now has
    // a one-scan batch form.
    "ann_pq_batch_topk" -> ((s, dir) => {
      Graft.init(s)
      val e = Tables.load(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val cb = Ann.buildPqCodebook(e, m = 16, ksub = 32)
      val ann = Ann.searchPqBatch(e, Ann.pqEncode(e, cb), cb, qs,
        k = 10, overfetch = 6)
      // measured per-query fixture recall (RecallProbe r10): min 6/10 at
      // sf0.01, 5/10 at sf0.1 (weakest query; most are 7-10) —
      // md5-deterministic codebook; floor one hit under the weakest
      // measured query, the batch-tier convention
      Ann.recallVsExact(Knn.topKPerQuery(e, qs, k = 10), ann,
          k = 10, minRecall = 0.4)
        .orderBy(col("qid"))
    }),

    // FILTERED vector search (metadata predicate ∧ ANN — the vector-DB
    // "filtered search" feature): the predicate (documents.lang = 'en')
    // prunes the ASSIGNMENTS relation via an id semi-join BEFORE any
    // scoring, composing with the centroid prune — probe still touches
    // nprobe/C of the index, and only predicate-passing rows are ever
    // cosine-scored. At 100 TB the predicate attribute belongs IN the
    // index relation (one scan, pushdown); expressed here as the
    // id-join form a separate attribute table needs. Pure composition
    // of existing pieces; md5-deterministic → fully hash-matched.
    "ann_ivf_filtered_topk" -> ((s, dir) => {
      Graft.init(s)
      val e = Tables.load(s, dir, "embeddings")
      val keep = Tables.load(s, dir, "documents")
        .filter(col("lang") === "en").select(col("doc_id").as("vec_id"))
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      val ivf = Ann.buildIvf(e)
      val filtered = Ann.Ivf(
        ivf.assignments.join(keep, Seq("vec_id"), "left_semi"),
        ivf.centroids)
      Ann.searchIvf(filtered, q, nprobe = 8, k = 10)
        .select(col("vec_id"), round(col("simil"), 4).as("simil"))
        .orderBy(col("simil").desc, col("vec_id"))
    }),

    // 1-BIT binary-quantization tier (32× compression — the SQ8/PQ
    // family's coarsest member): sign-binarize, Hamming pre-rank over
    // packed 32-bit words (pure integer xor+popcount), exact rescore of
    // the k·overfetch candidates. Float-arithmetic-free coarse stage →
    // the oracle re-derives the WHOLE tier and the result is fully
    // hash-matched (stronger than the recall-gate grading the float
    // tiers need). Quality is disclosed, not gated: measured candidate
    // recall@10 at 80 cands is 10,10,6,6,10 (sf0.01) and 6,6,6,4,4
    // (sf0.1) per query — 1 bit/dim is the cheapest, coarsest pre-rank;
    // raise overfetch (cands stay ≪ corpus) or compose it as a
    // pre-filter ahead of SQ8/PQ when quality matters.
    "ann_bq_topk" -> ((s, dir) => {
      Graft.init(s)
      val e = Tables.load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      Ann.searchBq(e, Ann.binarize(e), q, k = 10, overfetch = 8)
        .select(col("vec_id"), round(col("simil"), 4).as("simil"))
        .orderBy(col("simil").desc, col("vec_id"))
    }),

    // Batch BQ: the packed-bits relation scans once for 5 queries
    // (query words broadcast), per-query grouped top-k on negated
    // Hamming, shared exact rescore — fully hash-matched like the
    // single-query form.
    "ann_bq_batch_topk" -> ((s, dir) => {
      Graft.init(s)
      val e = Tables.load(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Ann.searchBqBatch(e, Ann.binarize(e), qs, k = 10, overfetch = 8)
        .select(col("qid"), col("vec_id"), round(col("simil"), 4).as("simil"))
        .orderBy(col("qid"), col("simil").desc, col("vec_id"))
    }),

    // Retrieval EVALUATION under the gate: MRR/recall@10 of the md5-IVF
    // tier against the exact ground truth for a 5-query set — the
    // measurement loop an ANN deployment runs, fully hash-matched (the
    // oracle re-derives the index, the search, the exact ranking, AND
    // the metrics).
    "ann_eval_mrr" -> ((s, dir) => {
      Graft.init(s)
      val e = Tables.load(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val ann = Ann.searchIvfBatch(Ann.buildIvf(e, numCentroids = 32), qs,
        nprobe = 4, k = 10)
      Ann.retrievalMetrics(Knn.topKPerQuery(e, qs, k = 10), ann, k = 10)
        .orderBy(col("qid"))
    }),

    // Cluster-balanced DIVERSITY sampling (the embedding-space analog of
    // per-lang stratified sampling, the "semantic diversity" selection
    // step curation pipelines run after dedup): assign every vector to
    // its md5-IVF cluster, then keep a deterministic md5-ranked quota
    // per cluster — dense regions are capped, sparse regions survive
    // whole. One broadcast assignment pass + one WindowGroupLimit;
    // everything md5-derived, so the sample itself hash-matches.
    "emb_diverse_sample" -> ((s, dir) => {
      Graft.init(s)
      val e = Tables.load(s, dir, "embeddings")
      val asg = Ann.buildIvf(e, numCentroids = 32).assignments
        .select(col("vec_id"), col("centroid_id"))
      TextAnalysis.stratifiedSample(asg, "centroid_id", "vec_id", quota = 10)
        .select(col("centroid_id"), col("vec_id"))
        .orderBy(col("centroid_id"), col("vec_id"))
    }),

    // Pre-ANN preprocessing: corpus mean-centering + L2 normalization.
    // Output is boundary-safe: the centered norm and the first two
    // normalized components, rounded (the full array is spec-checked).
    "emb_normalize" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val n = Ann.centerNormalize(e, Ann.dimMeans(e))
      n.select(col("vec_id"),
          round(col("centered_norm"), 4).as("cnorm"),
          round(element_at(col("normalized"), 1), 4).as("n0"),
          round(element_at(col("normalized"), 2), 4).as("n1"))
        .orderBy(col("vec_id"))
    }),

    // Margin-based bitext mining (Artetxe & Schwenk 2019): align en docs
    // to es docs by RATIO MARGIN — each candidate's cosine over the mean
    // cosine of both endpoints' NN-3 neighborhoods, so dense "hub"
    // regions cancel out — within coarse-cell blocks (the fixtures'
    // label; an IVF centroid id in production — never all-pairs).
    // Hash-matched end to end: neighborhood means sum floor-scaled
    // longs, so DuckDB re-derives every margin bit-for-bit.
    "emb_bitext_mine" -> ((s, dir) => {
      Graft.init(s)
      val e = Tables.load(s, dir, "embeddings")
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"))
      val tagged = e.join(d, e("vec_id") === d("doc_id"))
        .select(col("vec_id"), col("embedding"), col("label"), col("lang"))
      Bitext.minePairs(
          tagged.filter(col("lang") === "en"),
          tagged.filter(col("lang") === "es"),
          "vec_id", "embedding", "label", k = 3, minMargin = 1.0)
        .orderBy(col("src_id"))
    }),

    // Bitext mining over REAL coarse cells: the blocks are md5-IVF
    // centroid assignments (the production contract emb_bitext_mine's
    // scaladoc promises — cell count grows with the corpus), and the
    // whole composition stays hash-matched because the md5 quantizer is
    // DuckDB-reproducible: assignment, block join, and every margin are
    // re-derived end to end.
    "emb_bitext_ivf" -> ((s, dir) => {
      Graft.init(s)
      val e = Tables.load(s, dir, "embeddings")
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"))
      val asg = Ann.buildIvf(e, numCentroids = 16).assignments
        .select(col("vec_id"), col("centroid_id"))
      val tagged = e.join(d, e("vec_id") === d("doc_id"))
        .join(asg, "vec_id")
        .select(col("vec_id"), col("embedding"), col("centroid_id"),
          col("lang"))
      Bitext.minePairs(
          tagged.filter(col("lang") === "en"),
          tagged.filter(col("lang") === "es"),
          "vec_id", "embedding", "centroid_id", k = 3, minMargin = 1.0)
        .orderBy(col("src_id"))
    }),

    // IVF-PQ (the FAISS IVFADC layout): one partition-prunable index
    // relation (vec_id, codes, centroid_id); a query prunes to nprobe/C
    // of the rows, ADC-scores 16 B/row, exact-rescores k·overfetch.
    "ann_ivfpq_topk" -> ((s, dir) => {
      Graft.init(s)
      val e = Tables.load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(lit(0L).as("qid"), col("embedding").as("qvec"))
      val (ivf, index, cb) = Ann.buildIvfPq(e, numCentroids = 32,
        m = 16, ksub = 32)
      val ann = Ann.searchIvfPq(ivf, index, cb, e,
          q.select(col("qvec")), nprobe = 16, k = 10, overfetch = 16)
        .select(lit(0L).as("qid"), col("vec_id"))
      // residual (IVFADC) encoding + cosine-metric IP ADC: measured
      // fixture recall 8/10 (sf0.01) and 10/10 (sf0.1) — RecallProbe; the
      // md5-deterministic index makes the floor exact (raw-vector L2-ADC
      // encoding measured 7/10 and 6/10 at the r8 parameters)
      Ann.recallVsExact(exactSingle(e, q), ann, k = 10, minRecall = 0.75)
    }),

    // Product quantization (16 subspaces x 32 codes — 16 B/vector, 16x
    // smaller than the floats) + ADC coarse scan + exact rescore of the
    // k·overfetch candidates. Recall-gate grading like the other
    // compressed/learned tiers.
    "ann_pq_topk" -> ((s, dir) => {
      Graft.init(s)
      val e = Tables.load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(lit(0L).as("qid"), col("embedding").as("qvec"))
      val cb = Ann.buildPqCodebook(e, m = 16, ksub = 32)
      val ann = Ann.searchPq(e, Ann.pqEncode(e, cb), cb,
          q.select(col("qvec")), k = 10, overfetch = 6)
        .select(lit(0L).as("qid"), col("vec_id"))
      // measured fixture recall 10/10 (sf0.01) and 7/10 (sf0.1) —
      // RecallProbe; md5-deterministic codebook, so the floor is exact
      Ann.recallVsExact(exactSingle(e, q), ann, k = 10, minRecall = 0.7)
    }),

    // LEARNED PQ codebooks: per-subspace seeded k-means (Jégou 2011 §III)
    // instead of the md5-sample entries — same m/ksub, same 16 B/vector
    // index, better-spread codebook entries. Recall-gate grading (k-means
    // float reductions are not hash-stable across engines).
    "ann_pq_kmeans_topk" -> ((s, dir) => {
      Graft.init(s)
      val e = Tables.load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(lit(0L).as("qid"), col("embedding").as("qvec"))
      // fused-Lloyd per-subspace k-means: one codegen encode pass per
      // round for all m subspaces
      val cb = Ann.buildPqCodebookLloyd(e, m = 16, ksub = 32, maxIter = 5)
      val ann = Ann.searchPq(e, Ann.pqEncode(e, cb), cb,
          q.select(col("qvec")), k = 10, overfetch = 6)
        .select(lit(0L).as("qid"), col("vec_id"))
      // measured fixture recall 10/10 (sf0.01) and 8/10 (sf0.1) —
      // RecallProbe; one better than the md5-sample codebook at sf0.1.
      // One hit of slack under the measurement (r8 advisory: KMeans
      // determinism is layout-dependent, see ann_ivf_kmeans_topk)
      Ann.recallVsExact(exactSingle(e, q), ann, k = 10, minRecall = 0.7)
    }),

    // PCA-rotated PQ (OPQ non-parametric init, Ge 2014): rotate onto
    // the principal axes with greedy eigenvalue allocation across the
    // 16 subspaces, then the SAME learned-PQ pipeline over the rotated
    // vectors. Orthogonal rotation preserves cosine exactly, so the
    // recall gate compares against the UNROTATED exact top-k — only the
    // ADC approximation changes. Recall-gate grading like the other
    // learned tiers.
    // JL random-projection coarse tier (Achlioptas 2003): a
    // data-INDEPENDENT 64→16 Rademacher projection (deterministic md5
    // signs, applied by the codegen MatVecFloat kernel) ranks the
    // corpus in the 4x-smaller space, overfetches 48x, exact-rescores.
    // No training pass at all — the right coarse tier when the corpus
    // churns faster than any quantizer could refit. Measured recall
    // 10/10 (sf0.01) and 9/10 (sf0.1) — RecallProbe grid; floor 0.7,
    // the float-tier convention.
    "ann_jl_topk" -> ((s, dir) => {
      Graft.init(s)
      val e = Tables.load(s, dir, "embeddings")
      val proj = Ann.buildJlProjection(64, 16)
      val idx = Ann.projectJl(e, proj, 64, 16)
        .select(col("vec_id"), col("jlvec"))
      val q = e.filter(col("vec_id") === 0)
        .select(lit(0L).as("qid"), col("embedding").as("qvec"))
      val ann = Ann.searchJl(e, idx, proj, 64, 16,
          q.select(col("qvec")), k = 10, overfetch = 48)
        .select(lit(0L).as("qid"), col("vec_id"))
      Ann.recallVsExact(exactSingle(e, q), ann, k = 10, minRecall = 0.7)
    }),

    // COMPOUND tier (r12 verdict #7): JL 64->16 prune x SQ8 int8
    // rescore — the serving path that never scans a full-precision
    // float: coarse order in the 4x-smaller projected space, candidate
    // rescore on the 4x-smaller quantized codes. Distortions compound,
    // so the JL overfetch stays at the standalone tier's depth and the
    // floor at the float-tier 0.7. Measured recall (RecallProbe
    // d'xoverfetch grid, r13): 9/10 at BOTH sf0.01 and sf0.1 at d'=16,
    // of=48 — the SQ8 rescore costs at most one hit vs the
    // exact-rescore JL tier on the same candidate set.
    "ann_jl_sq8_topk" -> ((s, dir) => {
      Graft.init(s)
      val e = Tables.load(s, dir, "embeddings")
      val proj = Ann.buildJlProjection(64, 16)
      val idx = Ann.projectJl(e, proj, 64, 16)
        .select(col("vec_id"), col("jlvec"))
      val q = e.filter(col("vec_id") === 0)
        .select(lit(0L).as("qid"), col("embedding").as("qvec"))
      val ann = Ann.searchJlSq8(idx, Ann.quantizeSq8(e), proj, 64, 16,
          q.select(col("qvec")), k = 10, overfetch = 48)
        .select(lit(0L).as("qid"), col("vec_id"))
      Ann.recallVsExact(exactSingle(e, q), ann, k = 10, minRecall = 0.7)
    }),

    "ann_pq_pca_topk" -> ((s, dir) => {
      Graft.init(s)
      val e = Tables.load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(lit(0L).as("qid"), col("embedding").as("qvec"))
      // the recall gate's exact side is independent of the PCA fit and
      // the PQ codebook — materialize it concurrently with that chain
      // (r21; the ann_ivfpq_kmeans_topk shape) instead of serializing
      // the corpus scan behind the covariance + Lloyd round trips
      val (exact, (rot, cb)) = Graft.inParallel(
        exactSingle(e, q).localCheckpoint(true),
        {
          val rot = Ann.buildPcaRotation(e, m = 16)
          val cb = Ann.buildPqCodebookLloyd(Ann.rotate(e, rot),
            m = 16, ksub = 32, maxIter = 5)
          (rot, cb)
        })
      val er = Ann.rotate(e, rot)
      val qr = Ann.rotate(
        e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qvec")), rot, "qvec")
      val ann = Ann.searchPq(er, Ann.pqEncode(er, cb), cb, qr,
          k = 10, overfetch = 6)
        .select(lit(0L).as("qid"), col("vec_id"))
      // measured fixture recall 10/10 (sf0.01) and 9/10 (sf0.1) —
      // RecallProbe; at or above the unrotated learned tier at sf0.1.
      // One hit of slack under the measurement (KMeans layout advisory)
      Ann.recallVsExact(exact, ann, k = 10, minRecall = 0.7)
    }),

    // Fully-learned IVF-PQ: k-means coarse quantizer composed with
    // k-means PQ codebooks through the same pluggable IVFADC build —
    // the quality-path composition of the two learned tiers above.
    "ann_ivfpq_kmeans_topk" -> ((s, dir) => {
      Graft.init(s)
      val e = Tables.load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(lit(0L).as("qid"), col("embedding").as("qvec"))
      // the recall gate's exact side is INDEPENDENT of the index build —
      // materialize it concurrently with the quantizer fits (the
      // corpusReady concurrent-chain shape, on the shared action pool;
      // this call NESTS buildIvfPq's own inParallel, the composition
      // the cached pool exists to keep deadlock-free) instead of
      // serializing the corpus scan behind them
      val (exact, (ivf, index, cb)) = Graft.inParallel(
        exactSingle(e, q).localCheckpoint(true),
        Ann.buildIvfPq(e, numCentroids = 32,
          m = 16, ksub = 32,
          coarse = Ann.buildIvfKMeansLloyd(_, _, _, _, maxIter = 5),
          codebook = Ann.buildPqCodebookLloyd(_, _, _, _, _, maxIter = 5)))
      val ann = Ann.searchIvfPq(ivf, index, cb, e,
          q.select(col("qvec")), nprobe = 12, k = 10, overfetch = 10)
        .select(lit(0L).as("qid"), col("vec_id"))
      // residual (IVFADC) encoding + cosine-metric IP ADC: measured
      // fixture recall 8/10 (sf0.01) and 9/10 (sf0.1) with both fused-
      // Lloyd quantizers — RecallProbe r10. The floor leaves slack UNDER
      // the measured value: KMeans determinism holds only for a fixed
      // partition layout, so an environment change (core count, split
      // size) may move hits
      // without any real index regression (r8 advisory)
      Ann.recallVsExact(exact, ann, k = 10, minRecall = 0.6)
    }),

    // CLIP-score-analog alignment filter (LAION pattern): score every
    // embedding by cosine against its LANGUAGE group's mean vector and
    // flag anti-aligned outliers (align < 0). Decimal-summed group means +
    // sequential-order HOF cosine make the whole filter hash-matched.
    "emb_align_filter" -> ((s, dir) => {
      Graft.init(s)
      val e = Tables.load(s, dir, "embeddings")
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id").as("vec_id"), col("lang"))
      Ann.alignmentFilter(e.join(d, Seq("vec_id")), "vec_id", "embedding",
          "lang", minCos = 0.0)
        .orderBy(col("vec_id"))
    }),

    // Batch LSH: ONE approxSimilarityJoin for all 5 query vectors — the
    // scale path (no driver-side per-query loop) — graded as recall vs the
    // relational exact top-10 (the oracle-checkable form of an ANN result).
    "ann_lsh_join" -> ((s, dir) => {
      Graft.init(s)
      val e = Tables.load(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val base = e.filter(col("vec_id") >= 5)
      // measured per-query fixture recall ≥ 9/10 at both sf0.01 and sf0.1
      // (RecallProbe); one hit of slack under the minimum — the hashes are
      // seeded but engine-internal, the one non-bit-pinned input here
      Ann.recallVsExact(
          Knn.topKPerQuery(base, qs, k = 10),
          Ann.lshBatchTopK(base, qs, k = 10),
          k = 10, minRecall = 0.8)
        .orderBy(col("qid"))
    }),

    // MLlib BucketedRandomProjectionLSH approxNearestNeighbors — the
    // single-key API (driver-side .head is the MLlib contract; the batch
    // path above is the scale form), graded as recall vs exact.
    "ann_lsh_topk" -> ((s, dir) => {
      Graft.init(s)
      val e = Tables.load(s, dir, "embeddings")
      val (model, withVec) = Ann.lshModel(e)
      val key = Vectors.dense(
        e.filter(col("vec_id") === 0).head().getSeq[Float](1).map(_.toDouble).toArray)
      val ann = model
        .approxNearestNeighbors(withVec.filter(col("vec_id") =!= 0), key, 10)
        .select(lit(0L).as("qid"), col("vec_id"))
      val q = e.filter(col("vec_id") === 0)
        .select(lit(0L).as("qid"), col("embedding").as("qvec"))
      // measured fixture recall 9/10 (sf0.01) and 10/10 (sf0.1) —
      // RecallProbe; one hit of slack under the minimum (seeded but
      // engine-internal hashes)
      Ann.recallVsExact(
        exactSingle(e.filter(col("vec_id") =!= 0), q),
        ann, k = 10, minRecall = 0.8)
    })
  )

  /** Exact top-10 side for the single-query recall gates, via [[Knn.topK]]
    * (TakeOrderedAndProject — partial per-partition top-k, driver merge)
    * rather than [[Knn.topKPerQuery]]: with one LITERAL qid the window's
    * partition spec constant-folds away and the plan degrades to an
    * UNPARTITIONED WindowExec — a single-task global sort that would be
    * the one non-scaling operator in the headline set (spec-asserted
    * absent in PipelineSpec's window-plan probe). */
  private def exactSingle(base: DataFrame, q: DataFrame): DataFrame =
    Knn.topK(base, q.select(col("qvec")), k = 10)
      .select(lit(0L).as("qid"), col("vec_id"), col("simil"))

  override def oracle: Map[String, String] = Map(
    // ann_ivf_topk's re-derivation with the lang predicate applied to
    // the assignment relation and the wider probe.
    "ann_ivf_filtered_topk" ->
      """WITH c AS (
        |  SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cvec
        |  FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 32),
        |q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0),
        |keep AS (SELECT doc_id AS vec_id FROM documents WHERE lang = 'en'),
        |asg AS (
        |  SELECT vec_id, embedding FROM (
        |    SELECT e.vec_id, e.embedding, c.centroid_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cvec) DESC,
        |                 c.centroid_id DESC) AS rn
        |    FROM embeddings e CROSS JOIN c)
        |  WHERE centroid_id IN (
        |    SELECT centroid_id FROM c CROSS JOIN q
        |    ORDER BY list_cosine_similarity(cvec, qvec) DESC, centroid_id
        |    LIMIT 8) AND rn = 1
        |    AND vec_id IN (SELECT vec_id FROM keep)),
        |topk AS (
        |  SELECT vec_id, list_cosine_similarity(embedding::DOUBLE[], qvec) AS s
        |  FROM asg CROSS JOIN q
        |  ORDER BY s DESC, vec_id LIMIT 10)
        |SELECT vec_id, round(s, 4) AS simil FROM topk
        |ORDER BY simil DESC, vec_id""".stripMargin,

    // FULL re-derivation of the 1-bit tier: sign-bit word packing
    // (32 dims per word, `1::BIGINT << (b-1)` ≡ Spark's MSB-first
    // `acc·2 + bit` fold), integer Hamming via bit_count(xor), the
    // (ham, vec_id) candidate cut, and the exact-cosine rescore —
    // hash-matched end to end, no recall gate.
    "ann_bq_topk" ->
      """WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
        |qw AS (
        |  SELECT w, CAST(sum(CASE WHEN embedding[w*32 + b] >= 0
        |    THEN CAST(1 AS BIGINT) << CAST(b - 1 AS INTEGER)
        |    ELSE 0 END) AS BIGINT) AS qword
        |  FROM q, range(0, 2) t(w), range(1, 33) u(b)
        |  GROUP BY w),
        |cw AS (
        |  SELECT vec_id, w, CAST(sum(CASE WHEN embedding[w*32 + b] >= 0
        |    THEN CAST(1 AS BIGINT) << CAST(b - 1 AS INTEGER)
        |    ELSE 0 END) AS BIGINT) AS word
        |  FROM embeddings, range(0, 2) t(w), range(1, 33) u(b)
        |  GROUP BY vec_id, w),
        |ham AS (
        |  SELECT c.vec_id,
        |    CAST(sum(bit_count(xor(c.word, q.qword))) AS BIGINT) AS ham
        |  FROM cw c JOIN qw q USING (w) GROUP BY c.vec_id),
        |cands AS (SELECT vec_id FROM ham ORDER BY ham, vec_id LIMIT 80),
        |qv AS (
        |  SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0),
        |topk AS (
        |  SELECT e.vec_id,
        |    list_cosine_similarity(e.embedding::DOUBLE[], qv.qvec) AS s
        |  FROM embeddings e JOIN cands USING (vec_id) CROSS JOIN qv
        |  ORDER BY s DESC, e.vec_id LIMIT 10)
        |SELECT vec_id, round(s, 4) AS simil FROM topk
        |ORDER BY simil DESC, vec_id""".stripMargin,

    // The batch twin: per-qid Hamming rank + per-qid rescore window.
    "ann_bq_batch_topk" ->
      """WITH qs AS (
        |  SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id < 5),
        |qw AS (
        |  SELECT qid, w, CAST(sum(CASE WHEN embedding[w*32 + b] >= 0
        |    THEN CAST(1 AS BIGINT) << CAST(b - 1 AS INTEGER)
        |    ELSE 0 END) AS BIGINT) AS qword
        |  FROM qs, range(0, 2) t(w), range(1, 33) u(b)
        |  GROUP BY qid, w),
        |cw AS (
        |  SELECT vec_id, w, CAST(sum(CASE WHEN embedding[w*32 + b] >= 0
        |    THEN CAST(1 AS BIGINT) << CAST(b - 1 AS INTEGER)
        |    ELSE 0 END) AS BIGINT) AS word
        |  FROM embeddings, range(0, 2) t(w), range(1, 33) u(b)
        |  GROUP BY vec_id, w),
        |ham AS (
        |  SELECT q.qid, c.vec_id,
        |    CAST(sum(bit_count(xor(c.word, q.qword))) AS BIGINT) AS ham
        |  FROM cw c JOIN qw q USING (w) GROUP BY q.qid, c.vec_id),
        |cands AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
        |      ORDER BY ham, vec_id) AS rn
        |    FROM ham) WHERE rn <= 80),
        |qv AS (
        |  SELECT vec_id AS qid, embedding::DOUBLE[] AS qvec
        |  FROM embeddings WHERE vec_id < 5),
        |topk AS (
        |  SELECT cd.qid, e.vec_id,
        |    list_cosine_similarity(e.embedding::DOUBLE[], qv.qvec) AS s,
        |    row_number() OVER (PARTITION BY cd.qid
        |      ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], qv.qvec)
        |        DESC, e.vec_id) AS rn
        |  FROM cands cd JOIN embeddings e USING (vec_id)
        |  JOIN qv ON qv.qid = cd.qid)
        |SELECT qid, vec_id, round(s, 4) AS simil FROM topk WHERE rn <= 10
        |ORDER BY qid, simil DESC, vec_id""".stripMargin,

    "ann_ivf_topk" ->
      """WITH c AS (
        |  SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cvec
        |  FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 32),
        |q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0),
        |asg AS (
        |  SELECT vec_id, embedding FROM (
        |    SELECT e.vec_id, e.embedding, c.centroid_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cvec) DESC,
        |                 c.centroid_id DESC) AS rn
        |    FROM embeddings e CROSS JOIN c)
        |  WHERE centroid_id IN (
        |    SELECT centroid_id FROM c CROSS JOIN q
        |    ORDER BY list_cosine_similarity(cvec, qvec) DESC, centroid_id
        |    LIMIT 4) AND rn = 1),
        |topk AS (
        |  SELECT vec_id, list_cosine_similarity(embedding::DOUBLE[], qvec) AS s
        |  FROM asg CROSS JOIN q
        |  ORDER BY s DESC, vec_id LIMIT 10)
        |SELECT vec_id, round(s, 4) AS simil FROM topk
        |ORDER BY simil DESC, vec_id""".stripMargin,

    // Identical IVF re-derivation, centroids drawn from the EVEN half only
    // (the build set); assignment still covers every vector — append and
    // build rows are indistinguishable downstream, which is the point.
    "ann_ivf_append_topk" -> ivfAppendOracle,

    // ann_ivf_topk's re-derivation with the FULL-corpus centroid pick
    // (the quantizer is frozen across deletes) and the tombstoned ids
    // excluded from the assignment relation — the rebuild the live
    // delete view must hash-match.
    "ann_ivf_delete_topk" ->
      """WITH c AS (
        |  SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cvec
        |  FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 32),
        |q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0),
        |asg AS (
        |  SELECT vec_id, embedding FROM (
        |    SELECT e.vec_id, e.embedding, c.centroid_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cvec) DESC,
        |                 c.centroid_id DESC) AS rn
        |    FROM embeddings e CROSS JOIN c)
        |  WHERE centroid_id IN (
        |    SELECT centroid_id FROM c CROSS JOIN q
        |    ORDER BY list_cosine_similarity(cvec, qvec) DESC, centroid_id
        |    LIMIT 4) AND rn = 1 AND vec_id % 7 <> 3),
        |topk AS (
        |  SELECT vec_id, list_cosine_similarity(embedding::DOUBLE[], qvec) AS s
        |  FROM asg CROSS JOIN q
        |  ORDER BY s DESC, vec_id LIMIT 10)
        |SELECT vec_id, round(s, 4) AS simil FROM topk
        |ORDER BY simil DESC, vec_id""".stripMargin,

    // the streamed fixed point equals the one-shot append EXACTLY
    // (per-row assignment against frozen centroids is associative), so
    // the stream-maintained index is gated by the SAME oracle
    "stream_ivf_append" -> ivfAppendOracle,

    // Full batch-IVF re-derivation: same centroid pick + assignment as
    // ann_ivf_topk, then a PER-QUERY probe (rank within qid) and a
    // per-query top-10 window over the probed buckets' members.
    "ann_ivf_batch_topk" ->
      """WITH c AS (
        |  SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cvec
        |  FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 32),
        |q AS (
        |  SELECT vec_id AS qid, embedding::DOUBLE[] AS qvec
        |  FROM embeddings WHERE vec_id < 5),
        |asg AS (
        |  SELECT vec_id, embedding, centroid_id FROM (
        |    SELECT e.vec_id, e.embedding, c.centroid_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cvec) DESC,
        |                 c.centroid_id DESC) AS rn
        |    FROM embeddings e CROSS JOIN c)
        |  WHERE rn = 1),
        |probed AS (
        |  SELECT qid, qvec, centroid_id FROM (
        |    SELECT q.qid, q.qvec, c.centroid_id,
        |      row_number() OVER (PARTITION BY q.qid
        |        ORDER BY list_cosine_similarity(c.cvec, q.qvec) DESC,
        |                 c.centroid_id) AS rn
        |    FROM c CROSS JOIN q)
        |  WHERE rn <= 4),
        |topk AS (
        |  SELECT p.qid, a.vec_id,
        |    list_cosine_similarity(a.embedding::DOUBLE[], p.qvec) AS s,
        |    row_number() OVER (PARTITION BY p.qid
        |      ORDER BY list_cosine_similarity(a.embedding::DOUBLE[], p.qvec) DESC,
        |               a.vec_id) AS rn
        |  FROM asg a JOIN probed p ON a.centroid_id = p.centroid_id)
        |SELECT qid, vec_id, round(s, 4) AS simil FROM topk WHERE rn <= 10
        |ORDER BY qid, simil DESC, vec_id""".stripMargin,

    // md5-IVF assignment + md5-ranked per-cluster quota, all re-derived.
    "emb_diverse_sample" ->
      """WITH c AS (
        |  SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cvec
        |  FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 32),
        |asg AS (
        |  SELECT vec_id, centroid_id FROM (
        |    SELECT e.vec_id, c.centroid_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cvec) DESC,
        |                 c.centroid_id DESC) AS rn
        |    FROM embeddings e CROSS JOIN c)
        |  WHERE rn = 1)
        |SELECT centroid_id, vec_id FROM (
        |  SELECT centroid_id, vec_id,
        |    row_number() OVER (PARTITION BY centroid_id
        |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        |  FROM asg)
        |WHERE rn <= 10 ORDER BY centroid_id, vec_id""".stripMargin,

    // Full metric re-derivation: the md5-IVF index + batch search (the
    // ann_ivf_batch_topk machinery), the exact ranking, and MRR/recall
    // arithmetic — all in SQL, hash-matched.
    "ann_eval_mrr" ->
      """WITH c AS (
        |  SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cvec
        |  FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 32),
        |q AS (
        |  SELECT vec_id AS qid, embedding::DOUBLE[] AS qvec
        |  FROM embeddings WHERE vec_id < 5),
        |asg AS (
        |  SELECT vec_id, embedding, centroid_id FROM (
        |    SELECT e.vec_id, e.embedding, c.centroid_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cvec) DESC,
        |                 c.centroid_id DESC) AS rn
        |    FROM embeddings e CROSS JOIN c)
        |  WHERE rn = 1),
        |probed AS (
        |  SELECT qid, qvec, centroid_id FROM (
        |    SELECT q.qid, q.qvec, c.centroid_id,
        |      row_number() OVER (PARTITION BY q.qid
        |        ORDER BY list_cosine_similarity(c.cvec, q.qvec) DESC,
        |                 c.centroid_id) AS rn
        |    FROM c CROSS JOIN q)
        |  WHERE rn <= 4),
        |annk AS (
        |  SELECT qid, vec_id, rn AS rank FROM (
        |    SELECT p.qid, a.vec_id,
        |      row_number() OVER (PARTITION BY p.qid
        |        ORDER BY list_cosine_similarity(a.embedding::DOUBLE[], p.qvec) DESC,
        |                 a.vec_id) AS rn
        |    FROM asg a JOIN probed p ON a.centroid_id = p.centroid_id)
        |  WHERE rn <= 10),
        |exact AS (
        |  SELECT q.qid, e.vec_id,
        |    row_number() OVER (PARTITION BY q.qid
        |      ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qvec) DESC,
        |               e.vec_id) AS rn
        |  FROM embeddings e CROSS JOIN q),
        |t1 AS (SELECT qid, vec_id FROM exact WHERE rn = 1),
        |rr AS (
        |  SELECT t1.qid, COALESCE(round(1.0 / a.rank, 4), 0.0) AS rr
        |  FROM t1 LEFT JOIN annk a ON a.qid = t1.qid AND a.vec_id = t1.vec_id),
        |hits AS (
        |  SELECT ex.qid, count(*)::BIGINT AS n_hit
        |  FROM (SELECT qid, vec_id FROM exact WHERE rn <= 10) ex
        |  JOIN annk a ON a.qid = ex.qid AND a.vec_id = ex.vec_id
        |  GROUP BY ex.qid)
        |SELECT rr.qid, rr.rr, COALESCE(h.n_hit, 0)::BIGINT AS n_hit
        |FROM rr LEFT JOIN hits h ON h.qid = rr.qid ORDER BY rr.qid""".stripMargin,

    // Per-query recall-gate oracle (the ann_lsh_join shape over the full
    // corpus): each query's exact top-1 is itself (queries are corpus
    // vectors), and the gate boolean must come back true.
    "ann_ivfpq_batch_topk" ->
      """WITH q AS (
        |  SELECT vec_id AS qid, embedding::DOUBLE[] AS qvec
        |  FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.qid, e.vec_id,
        |    row_number() OVER (PARTITION BY q.qid
        |      ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qvec) DESC,
        |               e.vec_id) AS rn
        |  FROM embeddings e CROSS JOIN q)
        |SELECT qid, vec_id AS exact_top1, TRUE AS recall_ok
        |FROM scored WHERE rn = 1 ORDER BY qid""".stripMargin,

    // Per-query recall-gate oracle, the ann_ivfpq_batch_topk shape.
    "ann_pq_batch_topk" ->
      """WITH q AS (
        |  SELECT vec_id AS qid, embedding::DOUBLE[] AS qvec
        |  FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.qid, e.vec_id,
        |    row_number() OVER (PARTITION BY q.qid
        |      ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qvec) DESC,
        |               e.vec_id) AS rn
        |  FROM embeddings e CROSS JOIN q)
        |SELECT qid, vec_id AS exact_top1, TRUE AS recall_ok
        |FROM scored WHERE rn = 1 ORDER BY qid""".stripMargin,

    // Per-query recall-gate oracle, the ann_ivfpq_batch_topk shape.
    "ann_sq8_batch_topk" ->
      """WITH q AS (
        |  SELECT vec_id AS qid, embedding::DOUBLE[] AS qvec
        |  FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.qid, e.vec_id,
        |    row_number() OVER (PARTITION BY q.qid
        |      ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qvec) DESC,
        |               e.vec_id) AS rn
        |  FROM embeddings e CROSS JOIN q)
        |SELECT qid, vec_id AS exact_top1, TRUE AS recall_ok
        |FROM scored WHERE rn = 1 ORDER BY qid""".stripMargin,

    // Same recall-gate oracle shape as the LSH queries: re-derive the
    // exact top-1 (vec_id 0 matches itself) and assert the gate held.
    "ann_ivf_kmeans_topk" ->
      """WITH q AS (
        |  SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT e.vec_id,
        |    row_number() OVER (
        |      ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qvec) DESC,
        |               e.vec_id) AS rn
        |  FROM embeddings e CROSS JOIN q)
        |SELECT CAST(0 AS BIGINT) AS qid, vec_id AS exact_top1, TRUE AS recall_ok
        |FROM scored WHERE rn = 1""".stripMargin,

    // The ann_ivf assignment CTEs composed with the bitext margin CTEs —
    // blocks are the re-derived centroid cells (DESC tie-break, as in
    // ann_ivf_topk), then the identical floor-scaled-long margins.
    "emb_bitext_ivf" ->
      """WITH cent AS (
        |  SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cvec
        |  FROM embeddings
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
        |asg AS (
        |  SELECT vec_id, centroid_id FROM (
        |    SELECT e.vec_id, cent.centroid_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
        |                   cent.cvec) DESC,
        |                 cent.centroid_id DESC) AS rn
        |    FROM embeddings e CROSS JOIN cent)
        |  WHERE rn = 1),
        |tagged AS (
        |  SELECT e.vec_id, e.embedding, a.centroid_id, d.lang
        |  FROM embeddings e
        |  JOIN documents d ON e.vec_id = d.doc_id
        |  JOIN asg a ON a.vec_id = e.vec_id),
        |pairs AS (
        |  SELECT a.vec_id AS src_id, b.vec_id AS tgt_id,
        |    list_cosine_similarity(a.embedding::DOUBLE[],
        |                           b.embedding::DOUBLE[]) AS c
        |  FROM tagged a JOIN tagged b ON a.centroid_id = b.centroid_id
        |  WHERE a.lang = 'en' AND b.lang = 'es'),
        |pc AS (SELECT *, CAST(floor(c * 1e12) AS BIGINT) AS cl FROM pairs),
        |fwd AS (
        |  SELECT src_id,
        |    CAST(sum(cl) AS DOUBLE) / (count(*) * 1e12) AS avg_src
        |  FROM (SELECT *, row_number() OVER (
        |      PARTITION BY src_id ORDER BY c DESC, tgt_id) AS rn FROM pc)
        |  WHERE rn <= 3 GROUP BY src_id),
        |bwd AS (
        |  SELECT tgt_id,
        |    CAST(sum(cl) AS DOUBLE) / (count(*) * 1e12) AS avg_tgt
        |  FROM (SELECT *, row_number() OVER (
        |      PARTITION BY tgt_id ORDER BY c DESC, src_id) AS rn FROM pc)
        |  WHERE rn <= 3 GROUP BY tgt_id),
        |m AS (
        |  SELECT p.src_id, p.tgt_id, p.c,
        |    p.c / ((f.avg_src + b.avg_tgt) / 2.0) AS margin
        |  FROM pc p JOIN fwd f USING (src_id) JOIN bwd b USING (tgt_id)),
        |best AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY src_id ORDER BY margin DESC, tgt_id) AS rn
        |  FROM m)
        |SELECT src_id, tgt_id, round(c, 4) AS cos,
        |  round(margin, 6) AS margin
        |FROM best WHERE rn = 1 AND margin >= 1.0
        |ORDER BY src_id""".stripMargin,

    // Full margin re-derivation: same block join, same floor-scaled-long
    // neighborhood sums, same IEEE ratio — independent window machinery.
    "emb_bitext_mine" ->
      """WITH tagged AS (
        |  SELECT e.vec_id, e.embedding, e.label, d.lang
        |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
        |pairs AS (
        |  SELECT a.vec_id AS src_id, b.vec_id AS tgt_id,
        |    list_cosine_similarity(a.embedding::DOUBLE[],
        |                           b.embedding::DOUBLE[]) AS c
        |  FROM tagged a JOIN tagged b ON a.label = b.label
        |  WHERE a.lang = 'en' AND b.lang = 'es'),
        |pc AS (SELECT *, CAST(floor(c * 1e12) AS BIGINT) AS cl FROM pairs),
        |fwd AS (
        |  SELECT src_id,
        |    CAST(sum(cl) AS DOUBLE) / (count(*) * 1e12) AS avg_src
        |  FROM (SELECT *, row_number() OVER (
        |      PARTITION BY src_id ORDER BY c DESC, tgt_id) AS rn FROM pc)
        |  WHERE rn <= 3 GROUP BY src_id),
        |bwd AS (
        |  SELECT tgt_id,
        |    CAST(sum(cl) AS DOUBLE) / (count(*) * 1e12) AS avg_tgt
        |  FROM (SELECT *, row_number() OVER (
        |      PARTITION BY tgt_id ORDER BY c DESC, src_id) AS rn FROM pc)
        |  WHERE rn <= 3 GROUP BY tgt_id),
        |m AS (
        |  SELECT p.src_id, p.tgt_id, p.c,
        |    p.c / ((f.avg_src + b.avg_tgt) / 2.0) AS margin
        |  FROM pc p JOIN fwd f USING (src_id) JOIN bwd b USING (tgt_id)),
        |best AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY src_id ORDER BY margin DESC, tgt_id) AS rn
        |  FROM m)
        |SELECT src_id, tgt_id, round(c, 4) AS cos,
        |  round(margin, 6) AS margin
        |FROM best WHERE rn = 1 AND margin >= 1.0
        |ORDER BY src_id""".stripMargin,

    // Decimal-summed per-dim means, centered vectors, sequential-order
    // norm (list_reduce over a 0-prepended list reduces left-to-right,
    // matching Spark's aggregate) — independently re-derived.
    "emb_normalize" ->
      """WITH m AS (
        |  SELECT i AS dim,
        |    CAST(sum(CAST(embedding[i] AS DECIMAL(28,12))) AS DOUBLE)
        |      / count(*) AS mu
        |  FROM embeddings, range(1, 65) t(i)
        |  GROUP BY i),
        |mu_list AS (SELECT list(mu ORDER BY dim) AS mus FROM m),
        |c AS (
        |  SELECT vec_id,
        |    list_transform(range(1, len(embedding) + 1),
        |      i -> CAST(embedding[i] AS DOUBLE) - mus[i]) AS cent
        |  FROM embeddings CROSS JOIN mu_list),
        |n AS (
        |  SELECT vec_id, cent,
        |    sqrt(list_reduce(
        |      list_prepend(CAST(0.0 AS DOUBLE),
        |        list_transform(cent, v -> v * v)),
        |      (a, b) -> a + b)) AS cnorm
        |  FROM c)
        |SELECT vec_id, round(cnorm, 4) AS cnorm,
        |  -- + 0.0 folds DuckDB's -0.0 (round of a tiny negative) to the
        |  -- +0.0 Spark's round emits, else the stringified hash diverges
        |  round(CASE WHEN cnorm > 0 THEN cent[1] / cnorm ELSE 0.0 END, 4)
        |    + 0.0 AS n0,
        |  round(CASE WHEN cnorm > 0 THEN cent[2] / cnorm ELSE 0.0 END, 4)
        |    + 0.0 AS n1
        |FROM n ORDER BY vec_id""".stripMargin,

    // Per-lang decimal-summed mean vectors re-derived; cosine + keep flag
    // row-for-row (the +0.0 folds -0.0, emb_normalize convention).
    "emb_align_filter" ->
      """WITH e AS (
        |  SELECT em.vec_id, d.lang, em.embedding
        |  FROM embeddings em JOIN documents d ON em.vec_id = d.doc_id),
        |m AS (
        |  SELECT lang, i AS dim,
        |    CAST(sum(CAST(embedding[i] AS DECIMAL(28,12))) AS DOUBLE)
        |      / count(*) AS mu
        |  FROM e, range(1, 65) t(i)
        |  GROUP BY 1, 2),
        |mv AS (SELECT lang, list(mu ORDER BY dim) AS mvec FROM m GROUP BY lang),
        |s AS (
        |  SELECT e.vec_id, e.lang,
        |    round(list_cosine_similarity(e.embedding::DOUBLE[], mv.mvec), 4)
        |      + 0.0 AS align
        |  FROM e JOIN mv ON e.lang = mv.lang)
        |SELECT vec_id, lang, align, align >= 0.0 AS keep
        |FROM s ORDER BY vec_id""".stripMargin,

    // Same recall-gate shape: exact top-1 re-derived, gate must hold.
    "ann_ivfpq_topk" ->
      """WITH q AS (
        |  SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT e.vec_id,
        |    row_number() OVER (
        |      ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qvec) DESC,
        |               e.vec_id) AS rn
        |  FROM embeddings e CROSS JOIN q)
        |SELECT CAST(0 AS BIGINT) AS qid, vec_id AS exact_top1, TRUE AS recall_ok
        |FROM scored WHERE rn = 1""".stripMargin,

    // Same recall-gate shape: exact top-1 re-derived, gate must hold.
    "ann_pq_topk" ->
      """WITH q AS (
        |  SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT e.vec_id,
        |    row_number() OVER (
        |      ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qvec) DESC,
        |               e.vec_id) AS rn
        |  FROM embeddings e CROSS JOIN q)
        |SELECT CAST(0 AS BIGINT) AS qid, vec_id AS exact_top1, TRUE AS recall_ok
        |FROM scored WHERE rn = 1""".stripMargin,

    // Same recall-gate shape: exact top-1 re-derived, gate must hold.
    "ann_pq_kmeans_topk" ->
      """WITH q AS (
        |  SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT e.vec_id,
        |    row_number() OVER (
        |      ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qvec) DESC,
        |               e.vec_id) AS rn
        |  FROM embeddings e CROSS JOIN q)
        |SELECT CAST(0 AS BIGINT) AS qid, vec_id AS exact_top1, TRUE AS recall_ok
        |FROM scored WHERE rn = 1""".stripMargin,

    // Same recall-gate shape as ann_pq_kmeans_topk: the rotation is
    // orthogonal, so the unrotated exact top-1 is the right referent.
    // recall-gate shape: the exact top-1 re-derived; the JL tier's
    // coarse order is engine-specific float work, the gate is what
    // certifies it (the MLlib-LSH argument, recallVsExact scaladoc)
    "ann_jl_topk" ->
      """WITH q AS (
        |  SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT e.vec_id,
        |    row_number() OVER (
        |      ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qvec) DESC,
        |               e.vec_id) AS rn
        |  FROM embeddings e CROSS JOIN q)
        |SELECT CAST(0 AS BIGINT) AS qid, vec_id AS exact_top1, TRUE AS recall_ok
        |FROM scored WHERE rn = 1""".stripMargin,

    // Same recall-gate shape: the compound JL x SQ8 tier is graded on
    // whether its candidate set recovers the exact top-k, exactly like
    // each axis alone.
    "ann_jl_sq8_topk" ->
      """WITH q AS (
        |  SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT e.vec_id,
        |    row_number() OVER (
        |      ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qvec) DESC,
        |               e.vec_id) AS rn
        |  FROM embeddings e CROSS JOIN q)
        |SELECT CAST(0 AS BIGINT) AS qid, vec_id AS exact_top1, TRUE AS recall_ok
        |FROM scored WHERE rn = 1""".stripMargin,

    "ann_pq_pca_topk" ->
      """WITH q AS (
        |  SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT e.vec_id,
        |    row_number() OVER (
        |      ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qvec) DESC,
        |               e.vec_id) AS rn
        |  FROM embeddings e CROSS JOIN q)
        |SELECT CAST(0 AS BIGINT) AS qid, vec_id AS exact_top1, TRUE AS recall_ok
        |FROM scored WHERE rn = 1""".stripMargin,

    // Same recall-gate shape: exact top-1 re-derived, gate must hold.
    "ann_ivfpq_kmeans_topk" ->
      """WITH q AS (
        |  SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT e.vec_id,
        |    row_number() OVER (
        |      ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qvec) DESC,
        |               e.vec_id) AS rn
        |  FROM embeddings e CROSS JOIN q)
        |SELECT CAST(0 AS BIGINT) AS qid, vec_id AS exact_top1, TRUE AS recall_ok
        |FROM scored WHERE rn = 1""".stripMargin,

    // Same recall-gate shape: exact top-1 re-derived, gate must hold.
    "ann_sq8_topk" ->
      """WITH q AS (
        |  SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT e.vec_id,
        |    row_number() OVER (
        |      ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qvec) DESC,
        |               e.vec_id) AS rn
        |  FROM embeddings e CROSS JOIN q)
        |SELECT CAST(0 AS BIGINT) AS qid, vec_id AS exact_top1, TRUE AS recall_ok
        |FROM scored WHERE rn = 1""".stripMargin,

    // The oracle re-derives the exact top-1 neighbor per query and asserts
    // the recall gate held (recall_ok must come back true from Spark —
    // a dip below the floor breaks the row hash).
    "ann_lsh_join" ->
      """WITH q AS (
        |  SELECT vec_id AS qid, embedding::DOUBLE[] AS qvec
        |  FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.qid, e.vec_id,
        |    row_number() OVER (PARTITION BY q.qid
        |      ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qvec) DESC,
        |               e.vec_id) AS rn
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id >= 5)
        |SELECT qid, vec_id AS exact_top1, TRUE AS recall_ok
        |FROM scored WHERE rn = 1 ORDER BY qid""".stripMargin,

    "ann_lsh_topk" ->
      """WITH q AS (
        |  SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT e.vec_id,
        |    row_number() OVER (
        |      ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qvec) DESC,
        |               e.vec_id) AS rn
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0)
        |SELECT CAST(0 AS BIGINT) AS qid, vec_id AS exact_top1, TRUE AS recall_ok
        |FROM scored WHERE rn = 1""".stripMargin
  )
}
