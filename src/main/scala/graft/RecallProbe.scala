package graft

import org.apache.spark.sql.functions._

import graft.operators.{Ann, Knn}

/** Dev tool: measure the ACTUAL recall@10 of every gated ANN tier on a
  * fixture dir, so the `minRecall` floors in [[graft.queries.AnnPack]] can
  * sit just below the measured value (a regressed index then actually
  * fails the gate) instead of at a loose never-fires level. */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val spark = Graft.session()
    spark.sparkContext.setLogLevel("ERROR")

    dirs.foreach { dir =>
      println(s"===== $dir =====")
      val e = Tables.load(spark, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(lit(0L).as("qid"), col("embedding").as("qvec"))
      val exact = Knn.topK(e, q.select(col("qvec")), k = 10)
        .select(lit(0L).as("qid"), col("vec_id"))
      def hits(name: String, ann: org.apache.spark.sql.DataFrame,
          ex: org.apache.spark.sql.DataFrame = exact): Unit = {
        val n = ex.join(ann.select(col("qid"), col("vec_id")),
          Seq("qid", "vec_id"), "left_semi").count()
        println(f"$name%-22s n_hit=$n/10")
      }

      val ivfK = Ann.buildIvfKMeansLloyd(e, numCentroids = 32, maxIter = 5)
      hits("ann_ivf_kmeans_topk", Ann.searchIvf(ivfK,
          q.select(col("qvec")), nprobe = 4, k = 10)
        .select(lit(0L).as("qid"), col("vec_id")))

      hits("ann_sq8_topk", Ann.searchSq8(e, Ann.quantizeSq8(e),
          q.select(col("qvec")), k = 10, overfetch = 4)
        .select(lit(0L).as("qid"), col("vec_id")))

      val cb = Ann.buildPqCodebook(e, m = 16, ksub = 32)
      hits("ann_pq_topk", Ann.searchPq(e, Ann.pqEncode(e, cb), cb,
          q.select(col("qvec")), k = 10, overfetch = 6)
        .select(lit(0L).as("qid"), col("vec_id")))

      val cbK = Ann.buildPqCodebookLloyd(e, m = 16, ksub = 32, maxIter = 5)
      hits("ann_pq_kmeans_topk", Ann.searchPq(e, Ann.pqEncode(e, cbK), cbK,
          q.select(col("qvec")), k = 10, overfetch = 6)
        .select(lit(0L).as("qid"), col("vec_id")))

      val (ivf, index, cb2) = Ann.buildIvfPq(e, numCentroids = 32,
        m = 16, ksub = 32)
      hits("ann_ivfpq_topk", Ann.searchIvfPq(ivf, index, cb2, e,
          q.select(col("qvec")), nprobe = 16, k = 10, overfetch = 16)
        .select(lit(0L).as("qid"), col("vec_id")))

      val (ivfL, indexL, cbL) = Ann.buildIvfPq(e, numCentroids = 32,
        m = 16, ksub = 32,
        coarse = Ann.buildIvfKMeansLloyd(_, _, _, _, maxIter = 5),
        codebook = Ann.buildPqCodebookLloyd(_, _, _, _, _, maxIter = 5))
      hits("ann_ivfpq_kmeans_topk", Ann.searchIvfPq(ivfL, indexL, cbL, e,
          q.select(col("qvec")), nprobe = 12, k = 10, overfetch = 10)
        .select(lit(0L).as("qid"), col("vec_id")))

      for (dOut <- Seq(16, 32); of <- Seq(8, 24, 48)) {
        val projJ = Ann.buildJlProjection(64, dOut)
        val jlIdx = Ann.projectJl(e, projJ, 64, dOut)
          .select(col("vec_id"), col("jlvec"))
        hits(s"ann_jl_topk(d'=$dOut,of=$of)", Ann.searchJl(e, jlIdx,
            projJ, 64, dOut, q.select(col("qvec")), k = 10,
            overfetch = of)
          .select(lit(0L).as("qid"), col("vec_id")))
        // compound: same JL prune, SQ8 int8 rescore instead of exact
        hits(s"ann_jl_sq8_topk(d'=$dOut,of=$of)", Ann.searchJlSq8(jlIdx,
            Ann.quantizeSq8(e), projJ, 64, dOut,
            q.select(col("qvec")), k = 10, overfetch = of)
          .select(lit(0L).as("qid"), col("vec_id")))
      }

      val rot = Ann.buildPcaRotation(e, m = 16)
      val er = Ann.rotate(e, rot)
      val qr = Ann.rotate(e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qvec")), rot, "qvec")
      val cbP = Ann.buildPqCodebookLloyd(er, m = 16, ksub = 32, maxIter = 5)
      hits("ann_pq_pca_topk", Ann.searchPq(er, Ann.pqEncode(er, cbP), cbP,
          qr, k = 10, overfetch = 6)
        .select(lit(0L).as("qid"), col("vec_id")))

      val qsAll = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val exAll = Knn.topKPerQuery(e, qsAll, k = 10)
      val annSq8Batch = Ann.searchSq8Batch(e, Ann.quantizeSq8(e), qsAll,
        k = 10, overfetch = 4)
      exAll.join(annSq8Batch.select(col("qid"), col("vec_id")),
          Seq("qid", "vec_id"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("n_hit"))
        .orderBy("qid").collect()
        .foreach(r => println(
          f"ann_sq8_batch qid=${r.getLong(0)} n_hit=${r.getLong(1)}/10"))
      val annPurePqBatch = Ann.searchPqBatch(e, Ann.pqEncode(e, cb), cb,
        qsAll, k = 10, overfetch = 6)
      exAll.join(annPurePqBatch.select(col("qid"), col("vec_id")),
          Seq("qid", "vec_id"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("n_hit"))
        .orderBy("qid").collect()
        .foreach(r => println(
          f"ann_pq_batch qid=${r.getLong(0)} n_hit=${r.getLong(1)}/10"))
      val annPqBatch = Ann.searchIvfPqBatch(ivf, index, cb2, e, qsAll,
        nprobe = 16, k = 10, overfetch = 16)
      exAll.join(annPqBatch.select(col("qid"), col("vec_id")),
          Seq("qid", "vec_id"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("n_hit"))
        .orderBy("qid").collect()
        .foreach(r => println(
          f"ann_ivfpq_batch qid=${r.getLong(0)} n_hit=${r.getLong(1)}/10"))

      hits("ann_bq_topk", Ann.searchBq(e, Ann.binarize(e),
          q.select(col("qvec")), k = 10, overfetch = 8)
        .select(lit(0L).as("qid"), col("vec_id")))
      val annBqBatch = Ann.searchBqBatch(e, Ann.binarize(e), qsAll,
        k = 10, overfetch = 8)
      exAll.join(annBqBatch.select(col("qid"), col("vec_id")),
          Seq("qid", "vec_id"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("n_hit"))
        .orderBy("qid").collect()
        .foreach(r => println(
          f"ann_bq_batch qid=${r.getLong(0)} n_hit=${r.getLong(1)}/10"))

      val (model, withVec) = Ann.lshModel(e)
      val key = org.apache.spark.ml.linalg.Vectors.dense(
        e.filter(col("vec_id") === 0).head().getSeq[Float](1)
          .map(_.toDouble).toArray)
      val exLsh = Knn.topK(e.filter(col("vec_id") =!= 0),
          q.select(col("qvec")), k = 10)
        .select(lit(0L).as("qid"), col("vec_id"))
      hits("ann_lsh_topk", model
        .approxNearestNeighbors(withVec.filter(col("vec_id") =!= 0), key, 10)
        .select(lit(0L).as("qid"), col("vec_id")), exLsh)

      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val base = e.filter(col("vec_id") >= 5)
      val exJoin = Knn.topKPerQuery(base, qs, k = 10)
      val annJoin = Ann.lshBatchTopK(base, qs, k = 10)
      exJoin.join(annJoin.select(col("qid"), col("vec_id")),
          Seq("qid", "vec_id"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("n_hit"))
        .orderBy("qid").collect()
        .foreach(r => println(
          f"ann_lsh_join qid=${r.getLong(0)} n_hit=${r.getLong(1)}/10"))
    }
    spark.stop()
  }
}
