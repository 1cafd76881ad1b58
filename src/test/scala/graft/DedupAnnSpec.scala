package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Ann, Dedup, Knn}

class DedupAnnSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("simhash: identical texts collide, near-dups are close, disjoint far") {
    val docs = Seq(
      (1L, "g", "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "g", "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "g", "alpha beta gamma delta epsilon zeta eta iota"),
      (4L, "g", "one two three four five six seven eight")
    ).toDF("doc_id", "block", "text")
    val pairs = Dedup.simhashNearDups(docs, "doc_id", "text", "block",
        maxHamming = 64)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs((1L, 2L)) == 0)
    assert(pairs((1L, 3L)) < pairs((1L, 4L)))
    assert(pairs((1L, 3L)) <= 16)
  }

  test("native Simhash60 expression equals the HOF twin on every fixture " +
      "doc (and on empty/blank edge rows)") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .union(Seq((100001L, ""), (100002L, "  "), (100003L, "한글 토큰 테스트"))
        .toDF("doc_id", "text"))
    val mismatches = docs.select(
        Dedup.simhash(col("text")).as("native"),
        Dedup.simhashHof(col("text")).as("hof"))
      .filter(!(col("native") <=> col("hof"))).count()
    assert(mismatches == 0)
  }

  test("native Fingerprint64 expression equals the HOF twin on fixture " +
      "docs and edge rows") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .union(Seq((100001L, ""), (100002L, "  "), (100003L, "한글 토큰 테스트"))
        .toDF("doc_id", "text"))
    val mismatches = docs.select(
        graft.operators.TextAnalysis.fingerprint(col("text")).as("native"),
        graft.operators.TextAnalysis.fingerprintHof(col("text")).as("hof"))
      .filter(!(col("native") <=> col("hof"))).count()
    assert(mismatches == 0)
  }

  test("shingles emit exactly max(tokens-2, 0) full 3-grams, no partials") {
    val df = Seq(
      (1L, "a b c d e"),
      (2L, "a b c"),
      (3L, "a b"),
      (4L, "a"),
      (5L, "")
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1).toSeq)).toMap
    assert(got(1L) == Seq("a b c", "b c d", "c d e"))
    assert(got(2L) == Seq("a b c"))
    assert(got(3L) == Seq.empty)
    assert(got(4L) == Seq.empty)
    // every emitted shingle is a full 3-gram (two spaces)
    assert(got.values.flatten.forall(_.count(_ == ' ') == 2))
  }

  test("minhash LSH finds exact duplicates with jaccard 1.0") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different words nothing shared at all here folks okay then")
    ).toDF("doc_id", "text")
    val out = Dedup.minhashNearDups(docs, "doc_id", "text", minJ = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("banded simhash equals block-local all-pairs exactly") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents").limit(300)
      .withColumn("one", lit("g"))
    val allPairs = Dedup
      .simhashNearDups(docs, "doc_id", "text", "one", maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val banded = Dedup
      .simhashNearDupsBanded(docs, "doc_id", "text", maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded == allPairs && banded.nonEmpty)
  }

  test("jaccardPairs: cooccur and prefix strategies agree exactly") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents").limit(200)
    def run(s: String) =
      Dedup.jaccardPairs(docs, "doc_id", "text", "lang", minJ = 0.8, strategy = s)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
    val cooccur = run("cooccur")
    val prefix = run("prefix")
    assert(cooccur.nonEmpty && cooccur == prefix)
    assert(run("auto") == cooccur) // auto is exact whichever way it routes
  }

  test("jaccard auto-strategy: projected cooccur volume routes the " +
      "default budget to cooccur and a tiny budget to prefix, identically") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents").limit(200)
    val stats = Dedup.dfStats(docs, "doc_id", "text", "lang")
    // this corpus is far under the default budget → auto == cooccur
    assert(stats.volume > 0 && stats.volume < Dedup.DefaultCooccurBudget)
    // κ is the diagnostic, not the router: uniform-hot fixture stays ≈1
    assert(stats.kappa < 3.0, s"fixture kappa ${stats.kappa}")
    def run(s: String, budget: Double = Dedup.DefaultCooccurBudget) =
      Dedup.jaccardPairs(docs, "doc_id", "text", "lang", minJ = 0.8,
          strategy = s, cooccurBudget = budget)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
    val viaCooccur = run("auto") // volume < budget → cooccur
    val viaPrefix = run("auto", budget = 1.0) // forced over budget → prefix
    assert(viaCooccur.nonEmpty && viaCooccur == viaPrefix)
    // sampled probe: volume rescales by 1/p², staying the same order
    val half = Dedup.dfStats(docs, "doc_id", "text", "lang",
      probeFraction = 0.5)
    assert(half.volume > stats.volume / 4 && half.volume < stats.volume * 4)
  }

  test("duplicateClusters: min-label propagation finds exact components, " +
      "including multi-hop chains") {
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L),
      (24L, 23L), (23L, 22L), (22L, 21L), (21L, 20L)) // 5-deep chain
      .toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L, 24L -> 20L))
  }

  test("alternating-star components equal label propagation on seeded " +
      "random graphs and on a deep chain") {
    val rnd = new scala.util.Random(7)
    def assignments(pairs: org.apache.spark.sql.DataFrame) = {
      val a = Dedup.duplicateClusters(pairs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val b = Dedup.duplicateClustersAltStar(pairs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      (a, b)
    }
    (1 to 3).foreach { trial =>
      val n = 60
      val edges = (1 to 80).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val pairs = edges.toDF("id_a", "id_b")
      val (lp, as) = assignments(pairs)
      assert(lp == as, s"trial $trial mismatch")
    }
    // 40-deep chain: label prop needs ~40 rounds, alt-star ~log rounds —
    // both must land every node on the chain minimum
    val chain = (0L until 40L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("id_a", "id_b")
    val (lp, as) = assignments(chain)
    assert(as == lp && as.values.toSet == Set(0L) && as.size == 40)
  }

  test("size-adaptive clusters: the driver union-find branch and the " +
      "forced-distributed branch both equal label propagation") {
    val rnd = new scala.util.Random(11)
    (1 to 3).foreach { trial =>
      val n = 60
      val pairs = (1 to 80).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .toDF("id_a", "id_b")
      val want = Dedup.duplicateClusters(pairs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      // default threshold → driver union-find branch
      val uf = Dedup.duplicateClustersAuto(pairs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      // zero threshold → forced distributed branch through the same entry
      val dist = Dedup.duplicateClustersAuto(pairs, maxDriverEdges = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(uf == want, s"trial $trial union-find branch diverged")
      assert(dist == want, s"trial $trial distributed branch diverged")
    }
  }

  test("contamination: verbatim containment scores 1.0, partial overlap " +
      "in (0,1), disjoint docs are absent") {
    val train = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "k l m n o p q r s t")).toDF("doc_id", "text")
    val test = Seq(
      (11L, "a b c d e f g h i j"),        // verbatim: every 8-gram hits
      (12L, "x a b c d e f g h i j"),      // contains train 8-grams + fresh
      (13L, "u v w x y z aa bb cc dd")     // disjoint
    ).toDF("doc_id", "text")
    val got = Dedup.contamination(train, test, "doc_id", "text", n = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toMap
    assert(got(11L) == 1.0)
    assert(got(12L) > 0.0 && got(12L) < 1.0)
    assert(!got.contains(13L))
  }

  test("contaminationBloom equals the semi-join ground truth exactly " +
      "(bloom prefilter has no false negatives)") {
    def runBoth(train: org.apache.spark.sql.DataFrame,
        test: org.apache.spark.sql.DataFrame) = {
      def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      (norm(Dedup.contamination(train, test, "doc_id", "text", n = 8)),
        norm(Dedup.contaminationBloom(train, test, "doc_id", "text", n = 8)))
    }
    // toy fixture: exact containment structure known
    val train = Seq((1L, "a b c d e f g h i j"),
      (2L, "k l m n o p q r s t")).toDF("doc_id", "text")
    val test = Seq((11L, "a b c d e f g h i j"),
      (12L, "x a b c d e f g h i j"),
      (13L, "u v w x y z aa bb cc dd")).toDF("doc_id", "text")
    val (exactToy, bloomToy) = runBoth(train, test)
    assert(bloomToy == exactToy && exactToy.nonEmpty)
    // real fixture: the dd_contamination gate's own table split
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
    val (exactDocs, bloomDocs) =
      runBoth(docs.limit(250), docs.filter(col("doc_id") >= 200))
    assert(bloomDocs == exactDocs && exactDocs.nonEmpty)
  }

  test("verifyJaccard pins its candidate subtree to ONE evaluation: the " +
      "localCheckpoint scan appears in both routes' physical plans") {
    // cands is referenced three times inside verifyJaccard; without the
    // eager localCheckpoint a planner change could silently re-evaluate
    // the candidate join thrice. The checkpointed RDD surfaces as a Scan
    // ExistingRDD node — if this probe stops matching, the pin is gone.
    val docs = Tables.load(spark, TestSpark.sfDir, "documents").limit(200)
    def hasRddScan(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString.contains("ExistingRDD")
    val mh = Dedup.minhashNearDups(docs, "doc_id", "text", minJ = 0.9)
    assert(hasRddScan(mh), "minhash route lost the candidate checkpoint")
    val pf = Dedup.jaccardPairs(docs, "doc_id", "text", "lang", minJ = 0.8,
      strategy = "prefix")
    assert(hasRddScan(pf), "prefix route lost the candidate checkpoint")
  }

  test("IVF with all buckets probed equals exact brute force") {
    val e = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val ivf = Ann.buildIvf(e)
    val nCentroids = ivf.centroids.count().toInt
    val exact = Knn.topK(e, q, 10).collect().map(_.getLong(0)).toSeq
    val all = Ann.searchIvf(ivf, q, nprobe = nCentroids, k = 10)
      .collect().map(_.getLong(0)).toSeq
    assert(all == exact)
  }

  test("IVF with nprobe=4 keeps decent recall@10") {
    val e = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val exact = Knn.topK(e, q, 10).collect().map(_.getLong(0)).toSet
    val approx = Ann.searchIvf(Ann.buildIvf(e), q, nprobe = 4, k = 10)
      .collect().map(_.getLong(0)).toSet
    val recall = (exact & approx).size / 10.0
    assert(recall >= 0.3, s"recall $recall")
  }

  test("learned (KMeans) IVF centroids: recall@10 >= md5-sample recall@10 " +
      "at the same nprobe, buckets bounded-balanced") {
    // two zero-norm rows ride along: excluded from the fit (the cosine
    // guard gives them no direction) but still assigned
    val zeros = Seq((1000001L, Seq.fill(64)(0f), 0), (1000002L,
      Seq.fill(64)(0f), 0)).toDF("vec_id", "embedding", "label")
    val e = Tables.load(spark, TestSpark.sfDir, "embeddings")
      .unionByName(zeros).localCheckpoint(true)
    val n = e.count()
    val c = 16; val maxIter = 5
    val learned = Ann.buildIvfKMeansLloyd(e, numCentroids = c,
      maxIter = maxIter)
    val sampled = Ann.buildIvf(e, numCentroids = c)
    // mean recall@10 over 8 queries, batched (both builders are fully
    // deterministic — md5-sample init, md5 sample — so this is a fixed
    // number)
    val qs = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("qid"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Knn.topKPerQuery(e, qs, k = 10))
    def meanRecall(ivf: Ann.Ivf): Double =
      (exact & pairs(Ann.searchIvfBatch(ivf, qs, nprobe = 4, k = 10)))
        .size / 80.0
    val rLearned = meanRecall(learned)
    val rSampled = meanRecall(sampled)
    // epsilon + absolute floor, not strict >=: learned beating the sample
    // at this nprobe on this fixture is an empirical fact, not an
    // invariant. What IS the contract: learned centroids are never
    // materially WORSE, and recall stays usable in absolute terms.
    assert(rLearned >= rSampled - 0.05,
      s"learned recall $rLearned < sample recall $rSampled - 0.05")
    assert(rLearned >= 0.5, s"learned recall $rLearned below absolute floor")
    // balance: learned buckets must not collapse — every centroid earns a
    // bucket no larger than 4x the even share, and most are non-empty
    val sizes = learned.assignments.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("sz")).collect().map(_.getLong(1))
    assert(sizes.max <= 4L * n / c,
      s"largest learned bucket ${sizes.max} > 4x even share ${n / c}")
    assert(sizes.length >= c / 2,
      s"only ${sizes.length} of $c learned buckets are non-empty")
    // every row (zero-norm included) is assigned exactly once
    val ids = learned.assignments.select(col("vec_id")).collect()
      .map(_.getLong(0))
    assert(ids.length == n && ids.distinct.length == n)
    assert(Set(1000001L, 1000002L).subsetOf(ids.toSet))

    // plain-Scala cosine-Lloyd reference: identical init (salted-md5
    // sample over the nonzero-norm rows), unit-normalized centers for
    // the assignment, per-dim float differences squared in float and
    // summed in double (the PqEncode arithmetic), first-on-tie argmin,
    // an empty cluster keeps its center, means as double sums
    val rows = e.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .filter(_._2.exists(_ != 0f))
    val dim = rows.head._2.length
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    var ref: Array[Array[Float]] = rows
      .sortBy { case (id, _) => (md5hex(s"coarse:$id"), id) }
      .take(c).map(_._2)
    for (_ <- 1 to maxIter) {
      val unit = ref.map { v =>
        val nv = math.sqrt(v.map(x => x.toDouble * x).sum)
        if (nv == 0.0) v else v.map(x => (x / nv).toFloat)
      }
      val sums = Array.fill(c)(new Array[Double](dim))
      val counts = new Array[Long](c)
      rows.foreach { case (_, v) =>
        var best = 0; var bestD = Double.MaxValue
        for (k <- 0 until c) {
          var d = 0.0
          for (p <- 0 until dim) { val t = v(p) - unit(k)(p); d += t * t }
          if (d < bestD) { bestD = d; best = k }
        }
        counts(best) += 1
        for (p <- 0 until dim) sums(best)(p) += v(p)
      }
      ref = Array.tabulate(c) { k =>
        if (counts(k) == 0) ref(k)
        else Array.tabulate(dim)(p => (sums(k)(p) / counts(k)).toFloat)
      }
    }
    val got = learned.centroids.collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Float](1))).toMap
    assert(got.keySet == (0 until c).toSet)
    for (k <- 0 until c; p <- 0 until dim)
      assert(math.abs(got(k)(p) - ref(k)(p)) < 1e-4f,
        s"centroid[$k][$p]: fused ${got(k)(p)} vs ref ${ref(k)(p)}")
  }

  test("the coarse Lloyd fit rejects C > 256 before it starts a job") {
    val sc = spark.sparkContext
    val group = "coarse-c257"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties != null &&
            j.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "C=257 coarse fit")
      // one row: the fit set is also smaller than C, so the error must
      // name the byte-code cap, not the fit-set size
      val tiny = Seq((1L, Seq(1f, 0f))).toDF("vec_id", "embedding")
      val err = intercept[IllegalArgumentException] {
        Ann.buildIvfKMeansLloyd(tiny, numCentroids = 257)
      }
      assert(err.getMessage.contains("byte codes"), err.getMessage)
      org.apache.spark.graftutil.BusDrain.waitUntilEmpty(sc, 10000)
      assert(jobs.get() == 0, s"${jobs.get()} jobs before the C check")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("retrievalMetrics: perfect retrieval scores rr=1/full hits, a " +
      "missed top-1 scores rr=0, and a shifted ranking scores 1/rank") {
    import spark.implicits._
    def df(rows: (Long, Long, Double)*) =
      rows.toDF("qid", "vec_id", "simil")
    val exact = df((1L, 10L, 0.9), (1L, 11L, 0.8),
      (2L, 20L, 0.9), (2L, 21L, 0.8),
      (3L, 30L, 0.9), (3L, 31L, 0.8))
    // q1: identical; q2: top-1 missing entirely; q3: top-1 at rank 2
    val ann = df((1L, 10L, 0.9), (1L, 11L, 0.8),
      (2L, 21L, 0.8), (2L, 22L, 0.7),
      (3L, 31L, 0.95), (3L, 30L, 0.9))
    val got = Ann.retrievalMetrics(exact, ann, k = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .sortBy(_._1)
    assert(got.toSeq == Seq((1L, 1.0, 2L), (2L, 0.0, 1L), (3L, 0.5, 2L)),
      s"got ${got.toSeq}")
  }

  test("batch LSH similarity join matches exact top-k with decent recall") {
    val e = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val qs = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val pool = e.filter(col("vec_id") >= 3)
    val approx = Ann.lshBatchTopK(pool, qs, 10).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val exact = Knn.topKPerQuery(pool, qs, 10).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = exact.map { case (q, ex) =>
      (approx.getOrElse(q, Set.empty[Long]) & ex).size / 10.0 }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"mean recall@10 = $mean")
  }

  test("embeddingNearPairs: LSH candidates, exact verify, recall >= 0.9") {
    val e = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val got = Dedup.embeddingNearPairs(e, "vec_id", "embedding", minCos = 0.35)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val exact = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .filter(round(Graft.cosine(col("va"), col("vb")), 4) >= 0.35)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    // precision 1.0 (every candidate is verified with the true cosine)
    assert(got.subsetOf(exact))
    val recall = (got & exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall (${got.size}/${exact.size})")
  }

  test("semanticDedup: survivors + removed partition the corpus; every " +
      "removed doc has a surviving >= eps neighbor in its cluster; the " +
      "kept member is the one furthest from its centroid") {
    val e = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val eps = 0.4
    val survivors = Dedup.semanticDedup(e, "vec_id", "embedding",
      numCentroids = 8, eps = eps).collect().map(_.getLong(0)).toSet
    val all = e.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(survivors.subsetOf(all) && survivors.nonEmpty)
    val removed = all -- survivors
    assert(removed.nonEmpty, "fixture should contain semantic dups at eps=0.4")

    // re-derive assignment + within-cluster >= eps pairs independently
    val ivf = Ann.buildIvf(e, numCentroids = 8)
    val asg = ivf.assignments
      .select(col("vec_id"), col("embedding"), col("centroid_id"))
    val pairs = asg.as("a").join(asg.as("b"),
        col("a.centroid_id") === col("b.centroid_id") &&
          col("a.vec_id") < col("b.vec_id"))
      .filter(Graft.cosine(col("a.embedding"), col("b.embedding")) >= eps)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // every removed doc is on >= 1 duplicate pair with a KEPT doc somewhere
    // in its transitive group — weaker local check: it appears on a pair
    val paired = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert(removed.subsetOf(paired),
      s"removed docs off any dup pair: ${(removed -- paired).take(5)}")
    // exactly one survivor per connected group: survivors ∩ paired ==
    // number of connected components over the pair graph
    val comp = Dedup.duplicateClusters(
        pairs.toSeq.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nGroups = comp.values.toSet.size
    assert((survivors & paired).size == nGroups)
    // the kept member minimizes (centroid-cosine, id) within its group
    val cs = asg.join(broadcast(ivf.centroids), Seq("centroid_id"))
      .select(col("vec_id"),
        Graft.cosine(col("embedding"), col("cvec")).as("cs"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    comp.groupBy(_._2).foreach { case (_, members) =>
      val ids = members.keys.toSeq
      val expectKeep = ids.minBy(id => (cs(id), id))
      assert((survivors & ids.toSet) == Set(expectKeep))
    }
  }

  test("dedupIncremental: exact corpus dups, near corpus dups, and " +
      "within-batch dups all drop; fresh docs survive") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val batch = Seq(
      // exact dup of corpus doc 0 → dropped at stage 1
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      // near-dup of corpus doc 2 (one word changed) → dropped at stage 2
      (3L, "one two three four five six seven eight nine TEN"),
      // fresh doc → survives
      (5L, "red orange yellow green blue indigo violet pink brown black"),
      // two near-identical fresh docs → one survives (min id)
      (7L, "cat dog fish bird mouse horse cow sheep goat duck"),
      (9L, "cat dog fish bird mouse horse cow sheep goat duckling")
    ).toDF("doc_id", "text")
    val kept = Dedup.dedupIncremental(corpus, batch, "doc_id", "text",
        minJ = 0.6)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(5L, 7L), s"got $kept")
    // ingesting the SAME batch again against corpus+survivors is a no-op
    // for the survivors' texts (idempotence of the ingestion rule);
    // survivors are re-id'd — the operator contract wants disjoint ids
    val grown = corpus.unionByName(
      batch.filter(col("doc_id").isin(5L, 7L))
        .select((col("doc_id") + 100L).as("doc_id"), col("text")))
    val again = Dedup.dedupIncremental(grown, batch, "doc_id", "text",
        minJ = 0.6)
      .collect().map(_.getLong(0)).toSet
    assert(again.isEmpty, s"re-ingest kept $again")
  }

  test("dedupIncremental via a pre-built CorpusIndex equals the " +
      "convenience overload on the fixture parity split") {
    val d = Tables.load(spark, TestSpark.sfDir, "documents")
    val corpus = d.filter(pmod(col("doc_id"), lit(2)) === 0)
    val batch = d.filter(pmod(col("doc_id"), lit(2)) === 1)
    val direct = Dedup.dedupIncremental(corpus, batch, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    val viaIndex = Dedup.dedupIncremental(
        Dedup.buildCorpusIndex(corpus, "doc_id", "text"),
        batch, "doc_id", "text", k = 12, bands = 4, minJ = 0.6)
      .collect().map(_.getLong(0)).toSet
    assert(direct == viaIndex && direct.nonEmpty)
  }

  test("learned PQ codebook: per-subspace k-means beats the md5-sample " +
      "entries on reconstruction MSE and matches its recall@10 " +
      "(one-hit slack) at equal m/ksub") {
    val e = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val m = 16; val ksub = 32; val maxIter = 5
    val learned = Ann.buildPqCodebookLloyd(e, m, ksub, maxIter = maxIter)

    // plain-Scala reference: identical init (salted-md5 row sample,
    // buildPqCodebook's convention), argmin first-on-tie, empty cluster
    // keeps its center, means as double sums
    val rows = e.select(col("vec_id").cast("long"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val dim = rows.head._2.length; val dsub = dim / m
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val init = rows.sortBy { case (id, _) => (md5hex(s"lloyd:$id"), id) }
      .take(ksub).map(_._2)
    var ref: Array[Array[Array[Float]]] = Array.tabulate(m, ksub) {
      (j, c) => init(c).slice(j * dsub, (j + 1) * dsub) }
    for (_ <- 1 to maxIter) {
      val sums = Array.fill(m, ksub)(new Array[Double](dsub))
      val counts = Array.ofDim[Long](m, ksub)
      rows.foreach { case (_, v) =>
        for (j <- 0 until m) {
          val sub = v.slice(j * dsub, (j + 1) * dsub)
          var bestC = 0; var bestD = Double.MaxValue
          for (c <- 0 until ksub) {
            var d = 0.0
            for (p <- 0 until dsub) {
              val t = (sub(p) - ref(j)(c)(p)).toDouble; d += t * t
            }
            if (d < bestD) { bestD = d; bestC = c }
          }
          counts(j)(bestC) += 1
          for (p <- 0 until dsub) sums(j)(bestC)(p) += sub(p)
        }
      }
      ref = Array.tabulate(m, ksub) { (j, c) =>
        if (counts(j)(c) == 0) ref(j)(c)
        else Array.tabulate(dsub)(p => (sums(j)(c)(p) / counts(j)(c)).toFloat)
      }
    }
    for (j <- 0 until m; c <- 0 until ksub; p <- 0 until dsub)
      assert(math.abs(learned(j)(c)(p) - ref(j)(c)(p)) < 1e-4f,
        s"center[$j][$c][$p]: fused ${learned(j)(c)(p)} vs ref " +
          s"${ref(j)(c)(p)}")

    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val exact = Knn.topK(e, q, k = 10).select(col("vec_id"))
      .localCheckpoint(true)
    // ADC of a vector's own codes against itself IS the reconstruction
    // error Σ_j ‖sub_j(v) − cb[j][codes_j]‖² — the quantity k-means
    // minimizes per subspace (Jégou 2011 eq. 2)
    def mse(cb: Seq[Seq[Seq[Float]]]): Double =
      Ann.pqEncode(e, cb, keep = Seq("embedding"))
        .select(Ann.adc(cb, col("codes"), col("embedding")).as("err"))
        .agg(avg(col("err"))).head().getDouble(0)
    def recall(cb: Seq[Seq[Seq[Float]]]): Long =
      exact.join(
        Ann.searchPq(e, Ann.pqEncode(e, cb), cb, q, k = 10, overfetch = 6)
          .select(col("vec_id")),
        Seq("vec_id"), "left_semi").count()
    val sample = Ann.buildPqCodebook(e, m, ksub)
    val (mseS, mseL) = (mse(sample), mse(learned))
    assert(mseL <= mseS,
      f"learned codebook MSE $mseL%.5f worse than sample $mseS%.5f")
    val (rS, rL) = (recall(sample), recall(learned))
    // epsilon slack: recall@10 of one query is a coarse step function —
    // equal-quality codebooks can differ by a boundary hit
    assert(rL >= rS - 1, s"learned recall $rL vs sample $rS")
  }

  test("parameterized IVF-PQ composes the learned quantizers: same index " +
      "shape as the md5 build, recall within slack of it, deterministic " +
      "across rebuilds") {
    val e = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val exact = Knn.topK(e, q, k = 10).select(col("vec_id"))
      .localCheckpoint(true)
    def run(coarse: (org.apache.spark.sql.DataFrame, Int, String, String)
          => Ann.Ivf,
        codebook: (org.apache.spark.sql.DataFrame, Int, Int, String, String)
          => Seq[Seq[Seq[Float]]]): (Long, Seq[Seq[Seq[Float]]]) = {
      val (ivf, index, cb) = Ann.buildIvfPq(e, numCentroids = 8,
        m = 16, ksub = 32, coarse = coarse, codebook = codebook)
      assert(index.columns.toSet ==
        Set("vec_id", "codes", "vnorm", "centroid_id"))
      val hits = exact.join(
        Ann.searchIvfPq(ivf, index, cb, e, q, nprobe = 4, k = 10,
          overfetch = 6).select(col("vec_id")),
        Seq("vec_id"), "left_semi").count()
      (hits, cb)
    }
    val (rMd5, _) = run(Ann.buildIvf(_, _, _, _),
      Ann.buildPqCodebook(_, _, _, _, _))
    val (rLearned, cb1) = run(
      Ann.buildIvfKMeansLloyd(_, _, _, _, maxIter = 5),
      Ann.buildPqCodebookLloyd(_, _, _, _, _, maxIter = 5))
    assert(rLearned >= rMd5 - 2, s"learned composition $rLearned vs $rMd5")
    // md5-sample inits: the learned codebook is bit-identical across
    // rebuilds
    val (_, cb2) = run(
      Ann.buildIvfKMeansLloyd(_, _, _, _, maxIter = 5),
      Ann.buildPqCodebookLloyd(_, _, _, _, _, maxIter = 5))
    assert(cb1 == cb2, "learned codebook not deterministic across rebuilds")
  }

  test("appendCorpusIndex: append-then-dedup over two sequential batches " +
      "equals dedup against a full index rebuild AND dedupCorpus on the " +
      "union; the parquet round-trip preserves the result") {
    val d = Tables.load(spark, TestSpark.sfDir, "documents")
    // split by ID RANGE (time-ordered ingestion: earlier ids arrived
    // first), so the global min-id representative rule and the
    // incremental keep-the-corpus-doc rule pick the same survivors
    val n = d.agg(max(col("doc_id"))).head().getLong(0)
    // the incremental contract assumes an already-CLEAN corpus — start
    // from dedupCorpus survivors so both paths see identical inputs
    val corpus = d.filter(col("doc_id") <= n / 3)
    val corpusCleanDf = corpus
      .join(Dedup.dedupCorpus(corpus, "doc_id", "text"),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("text"))
      .localCheckpoint(true)
    val b1 = d.filter(col("doc_id") > n / 3 && col("doc_id") <= 2 * n / 3)
    val b2 = d.filter(col("doc_id") > 2 * n / 3)
    // batch 1: dedup against the built index, then APPEND the survivors
    val idx0 = Dedup.buildCorpusIndex(corpusCleanDf, "doc_id", "text")
    // materialize the survivors once (per the appendCorpusIndex contract)
    // — every consumer of the appended index would otherwise re-run the
    // whole batch-1 dedup lineage
    val accepted1 = b1.join(
        Dedup.dedupIncremental(idx0, b1, "doc_id", "text", 12, 4, 0.6),
        Seq("doc_id"), "left_semi").select(col("doc_id"), col("text"))
      .localCheckpoint(true)
    val idx1 = Dedup.appendCorpusIndex(idx0, accepted1, "doc_id", "text")
    // batch 2 against the appended index
    val kept2 = Dedup.dedupIncremental(idx1, b2, "doc_id", "text",
        12, 4, 0.6).collect().map(_.getLong(0)).toSet
    // (a) the associativity the append assumes: appended index ≡ index
    // rebuilt from corpus ∪ accepted — same batch-2 survivors
    val rebuilt = Dedup.buildCorpusIndex(
      corpusCleanDf.unionByName(accepted1), "doc_id", "text")
    val kept2Rebuilt = Dedup.dedupIncremental(rebuilt, b2, "doc_id",
        "text", 12, 4, 0.6).collect().map(_.getLong(0)).toSet
    assert(kept2 == kept2Rebuilt && kept2.nonEmpty)
    // (b) end-to-end: incremental survivors over the whole stream equal
    // one-shot dedupCorpus on the union (corpus side pre-cleaned the same
    // way, since the incremental contract assumes a clean corpus)
    val corpusClean = corpusCleanDf.select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    val accepted1Ids = accepted1.select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    val oneShot = Dedup.dedupCorpus(
        corpusCleanDf
          .unionByName(b1.select(col("doc_id"), col("text")))
          .unionByName(b2.select(col("doc_id"), col("text"))),
        "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(corpusClean ++ accepted1Ids ++ kept2 == oneShot)
    // (c) persist/reload the three artifact frames between batches — the
    // ingestion loop's real shape — and get identical batch-2 survivors
    val dir = java.nio.file.Files.createTempDirectory("graft_cidx").toString
    Dedup.saveCorpusIndex(idx1, dir)
    val kept2Loaded = Dedup.dedupIncremental(
        Dedup.loadCorpusIndex(spark, dir), b2, "doc_id", "text",
        12, 4, 0.6).collect().map(_.getLong(0)).toSet
    assert(kept2Loaded == kept2)
  }

  test("alignmentFilter: a group's own mean scores 1.0, an anti-aligned " +
      "vector is flagged dropped, a self-cancelling group degrades to the " +
      "0.0 guard; fixture keep flags are consistent with the scores") {
    import spark.implicits._
    def vec(xs: Double*) = xs.map(_.toFloat)
    val df = Seq(
      (10L, "solo", vec(3, 4)),            // mean = itself → align 1.0
      (20L, "anti", vec(1, 0)),            // mean (0,0) → zero-norm guard
      (21L, "anti", vec(-1, 0)),
      (30L, "mix", vec(1, 0)),             // mean (1/3, 0)
      (31L, "mix", vec(1, 0)),
      (32L, "mix", vec(-1, 0))
    ).toDF("vec_id", "grp", "embedding")
    val got = Ann.alignmentFilter(df, "vec_id", "embedding", "grp",
        minCos = 0.0)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(2), r.getBoolean(3)))).toMap
    assert(got(10L) == ((1.0, true)))
    assert(got(20L) == ((0.0, true)) && got(21L) == ((0.0, true)))
    assert(got(30L) == ((1.0, true)) && got(31L) == ((1.0, true)))
    assert(got(32L) == ((-1.0, false)))
    // degrade-don't-throw: a NaN/Inf component scores as 0 (PqEncode
    // sentinel convention) instead of failing the ANSI decimal cast or
    // nulling its group's mean
    val dirty = Seq(
      (50L, "g", Array(Float.NaN, 1.0f)),
      (51L, "g", Array(Float.PositiveInfinity, 1.0f))
    ).toDF("vec_id", "grp", "embedding")
    val g = Ann.alignmentFilter(dirty, "vec_id", "embedding", "grp", 0.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(g == Map(50L -> 1.0, 51L -> 1.0)) // both behave as (0, 1)
    // fixture composition: one row per embedding, keep ⇔ align ≥ floor,
    // and the 0-threshold actually separates the corpus
    val e = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val d = Tables.load(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id").as("vec_id"), col("lang"))
    val rows = Ann.alignmentFilter(e.join(d, Seq("vec_id")), "vec_id",
        "embedding", "lang", minCos = 0.0)
      .collect().map(r => (r.getDouble(2), r.getBoolean(3)))
    assert(rows.length == e.count())
    assert(rows.forall { case (a, k) => k == (a >= 0.0) })
    assert(rows.exists(_._2) && rows.exists(!_._2))
  }

  test("appendIvf/appendIvfPq: sequential appends equal one union append, " +
      "cover every vector exactly once with its true nearest base " +
      "centroid; PQ append matches a same-quantizer full encode; " +
      "saveIvfPq/loadIvfPq round-trips the search result") {
    val e = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val base = e.filter(pmod(col("vec_id"), lit(3)) === 0)
    val b1 = e.filter(pmod(col("vec_id"), lit(3)) === 1)
    val b2 = e.filter(pmod(col("vec_id"), lit(3)) === 2)
    val ivf0 = Ann.buildIvf(base, numCentroids = 8)
    val twoStep = Ann.appendIvf(Ann.appendIvf(ivf0, b1), b2)
    val oneShot = Ann.appendIvf(ivf0, b1.unionByName(b2))
    def asMap(i: Ann.Ivf) = i.assignments.select("vec_id", "centroid_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ts = asMap(twoStep)
    assert(ts == asMap(oneShot))
    assert(ts.size == e.count(),
      "append must cover every vector exactly once")
    // every row (base and appended alike) carries the argmax-cosine
    // centroid of the BASE centroid set, same tie-break as the builder
    val recomputed = e.crossJoin(broadcast(ivf0.centroids))
      .select(col("vec_id"), col("centroid_id"),
        Graft.cosine(col("embedding"), col("cvec")).as("cs"))
      .groupBy("vec_id")
      .agg(max_by(col("centroid_id"),
        struct(col("cs"), col("centroid_id"))).as("centroid_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ts == recomputed)
    // IVF-PQ append: residual-encode-with-existing-codebook over the
    // batch equals the full-relation residual encode under the same
    // quantizers (both through the shared public encodeIvfPq step)
    val cb = Ann.buildPqCodebook(base, m = 16, ksub = 16)
    val idx0 = Ann.encodeIvfPq(ivf0, cb)
    val (ivfA, idxA) = Ann.appendIvfPq(ivf0, idx0, cb, b1.unionByName(b2))
    def codesSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0),
        r.getSeq[Byte](1).toSeq, r.getLong(2))).toSet
    assert(codesSet(idxA) ==
      codesSet(Ann.encodeIvfPq(
        Ann.Ivf(oneShot.assignments, ivf0.centroids), cb)))
    // persistence: reloaded artifacts give the identical search answer,
    // and an appended vector queried exactly recovers itself at top-1
    // (exact rescore of the probed bucket)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    Ann.saveIvfPq(ivfA, idxA, cb, dir)
    val (ivfL, idxL, cbL) = Ann.loadIvfPq(spark, dir)
    assert(cbL == cb)
    val q = e.filter(col("vec_id") === 1).select(col("embedding").as("qvec"))
    def hits(ivf: Ann.Ivf, idx: org.apache.spark.sql.DataFrame,
        c: Seq[Seq[Seq[Float]]]) =
      Ann.searchIvfPq(ivf, idx, c, e, q, nprobe = 4, k = 5)
        .collect().map(_.getLong(0)).toSeq
    val mem = hits(ivfA, idxA, cb)
    assert(mem == hits(ivfL, idxL, cbL))
    assert(mem.head == 1L, s"appended vector not recovered: $mem")
  }

  test("capBuckets: a boilerplate corpus (1000 copies of one template) " +
      "stays bounded in both banded joins instead of emitting ~500k " +
      "quadratic pairs, and the capped pair graph still clusters every " +
      "copy into one component") {
    import spark.implicits._
    val template =
      "the quick brown fox jumps over the lazy dog again and again today"
    val docs = ((0L until 1000L).map(i => (i, template)) ++ Seq(
      (2000L, "an entirely different document about completely other things"),
      (2001L, "yet another unrelated text with its own distinct words")))
      .toDF("doc_id", "text")
    // minhash LSH path: every band bucket holds all 1000 copies; uncapped
    // the self-join would emit 1000·999/2 = 499 500 verified pairs
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
      maxBucket = 32).localCheckpoint(true)
    val n = pairs.count()
    assert(n > 0 && n < 4L * 1000 * 32,
      s"minhash pair count $n not bounded by bands·B·maxBucket")
    // the capped graph still connects ALL copies (each band hash-splits
    // the hot set differently, so sub-cliques overlap across bands) —
    // dedup still keeps exactly one representative of the template
    val clusters = Dedup.duplicateClustersAltStar(
      pairs.select(col("id_a"), col("id_b")))
    assert(clusters.select(col("cluster_rep")).distinct().count() == 1,
      "template copies split into multiple components")
    assert(clusters.select(col("doc_id")).distinct().count() == 1000)
    // banded-hamming path (simhash/phash family): identical hashes put all
    // copies in every band bucket; the same cap bounds the self-join
    val hp = Dedup.simhashNearDupsBanded(docs, "doc_id", "text",
      maxHamming = 8, bands = 10, maxBucket = 32)
    val hn = hp.count()
    assert(hn > 0 && hn < 10L * 1000 * 32,
      s"hamming pair count $hn not bounded")
    // fixture-scale buckets sit far under the default cap, so the cap is
    // invisible to the oracle queries: pairs with the default equal pairs
    // with an effectively-unbounded cap on the real corpus
    val d = Tables.load(spark, TestSpark.sfDir, "documents")
    val withCap = Dedup.minhashNearDups(d, "doc_id", "text")
      .select(col("id_a"), col("id_b")).collect().toSet
    val noCap = Dedup.minhashNearDups(d, "doc_id", "text",
        maxBucket = Int.MaxValue)
      .select(col("id_a"), col("id_b")).collect().toSet
    assert(withCap == noCap)
  }

  test("spanScrub: a corpus-repeated span is deleted from EVERY document " +
      "containing it, unique docs reassemble to whitespace-normalized " +
      "identity, fully-duplicated docs keep an empty row") {
    import spark.implicits._
    // "a b c d e" occurs 3x across docs 1, 2, 4 → deleted everywhere
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e x y z w v"),
      (3L, "p q r s t"),
      (4L, "  a b c d e "),
      // empty text: tokens("") is [""] (one empty token → one span unique
      // to no other doc... unless another doc is also empty); the row must
      // survive with no phantom spans from the zero-span guard path
      (5L, "")
    ).toDF("doc_id", "text")
    val out = Dedup.spanScrub(docs, "doc_id", "text", spanTokens = 5)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2))))
      .toMap
    assert(out == Map(
      1L -> (("f g h i j", 1)),
      2L -> (("x y z w v", 1)),
      3L -> (("p q r s t", 0)),
      4L -> (("", 1)),
      5L -> (("", 0))))
    // fixture-level invariants: every doc keeps a row; untouched docs are
    // exactly their whitespace-normalized text; spans removed across the
    // corpus equal the total occurrences of spans seen more than once
    val fixture = Tables.load(spark, TestSpark.sfDir, "documents")
    val scrubbed = Dedup.spanScrub(fixture, "doc_id", "text", spanTokens = 5)
      .localCheckpoint(true)
    assert(scrubbed.count() == fixture.count())
    val joined = scrubbed.join(fixture, Seq("doc_id")).collect()
    joined.filter(_.getAs[Int]("n_removed") == 0).foreach { r =>
      assert(r.getAs[String]("clean_text") ==
        r.getAs[String]("text").trim.split("\\s+").mkString(" "))
    }
    val removedTotal = scrubbed.agg(sum(col("n_removed"))).head().getLong(0)
    val dupOccurrences = fixture
      .select(posexplode(transform(
        sequence(lit(0), ceil(size(split(trim(col("text")), "\\s+")) / 5.0)
          .cast("int") - 1),
        i => array_join(slice(split(trim(col("text")), "\\s+"),
          i * 5 + 1, lit(5)), " "))))
      .groupBy("col").count().filter(col("count") > 1)
      .agg(coalesce(sum("count"), lit(0L))).head().getLong(0)
    assert(removedTotal == dupOccurrences && removedTotal > 0)
  }

  test("dedupKeepBest keeps exactly the max-quality member per cluster " +
      "(ties to smallest id) and passes unclustered docs through") {
    import spark.implicits._
    // three near-identical docs (one cluster), one loner; quality rises
    // with length, and two cluster members tie on quality
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"),
      (4L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val q = operators.TextAnalysis.qualityFeatures(col("text"))
      .collectFirst { case ("quality", c) => c }.get
    val kept = Dedup.dedupKeepBest(docs, "doc_id", "text", q, minJ = 0.6)
      .collect().map(_.getLong(0)).toSet
    // doc 3 is longest (highest lenf → highest quality) → cluster keeper;
    // doc 4 never pairs → passes through
    assert(kept == Set(3L, 4L), s"got $kept")
    // tie case: identical docs 1,2 alone — keeper is the smaller id
    val tied = Seq(
      (7L, "alpha beta gamma delta epsilon zeta eta theta"),
      (5L, "alpha beta gamma delta epsilon zeta eta theta")
    ).toDF("doc_id", "text")
    val keptTied = Dedup.dedupKeepBest(tied, "doc_id", "text", q, minJ = 0.6)
      .collect().map(_.getLong(0)).toSet
    assert(keptTied == Set(5L), s"got $keptTied")
  }

  test("Sq8Quantize codegen expression equals the HOF twin row-for-row " +
      "on the fixture, on null elements, and participates in whole-stage " +
      "codegen") {
    import org.apache.spark.sql.execution.debug._
    val e = Tables.load(spark, TestSpark.sfDir, "embeddings")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("q8"), col("scale"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Byte](1).toList, r.getFloat(2)))
        .sortBy(_._1).toList
    assert(canon(Ann.quantizeSq8(e)) == canon(Ann.quantizeSq8Hof(e)))
    // null ELEMENT quantizes to 0 and is excluded from amax, same as
    // the twin's CASE-through-null lambda behavior
    import spark.implicits._
    val withNull = Seq((1L, Array(2.54f, 0.0f, -1.27f)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), transform(col("embedding"),
        x => when(x === 0.0f, lit(null)).otherwise(x)).as("embedding"))
    assert(canon(Ann.quantizeSq8(withNull)) ==
      canon(Ann.quantizeSq8Hof(withNull)))
    // stays inside whole-stage codegen (the Md5Embed convention)
    val gen = codegenString(
      Ann.quantizeSq8(e).queryExecution.executedPlan)
    assert(gen.contains("Sq8QuantizeUtil"),
      "sq8_quantize not found in generated code")
  }

  test("SQ8 quantization: per-component reconstruction error <= amax/254, " +
      "zero vectors survive, and quantized search recalls the exact top-10") {
    val e = Tables.load(spark, TestSpark.sfDir, "embeddings")
    // reconstruction error bound: |x - q8*scale| <= scale/2 = amax/254
    val q = Ann.quantizeSq8(e)
    val joined = e.join(q, Seq("vec_id"))
      .select(col("vec_id"), col("embedding"),
        Ann.dequantizeSq8(col("q8"), col("scale")).as("deq"), col("scale"))
    val maxErrOverBound = joined.select(
        max(aggregate(zip_with(col("embedding"), col("deq"),
            (x, d) => (abs(x.cast("double") - d.cast("double")) /
              (col("scale").cast("double") * 0.5d + lit(1e-12d)))),
          lit(0.0d), (acc, r) => greatest(acc, r))).as("m"))
      .head.getDouble(0)
    assert(maxErrOverBound <= 1.0 + 1e-3,
      s"reconstruction error exceeded half a quantization step: $maxErrOverBound")
    // the fused codegen sq8_cosine equals the composed dequantize+cosine
    // form bit-for-bit on every fixture row (including a zero query)
    val q0 = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val fusedDiff = q.crossJoin(broadcast(q0))
      .select(
        Ann.sq8Cosine(col("q8"), col("scale"), col("qv")).as("fused"),
        Graft.cosine(Ann.dequantizeSq8(col("q8"), col("scale")), col("qv"))
          .as("composed"))
      .filter(!(col("fused") <=> col("composed"))).count()
    assert(fusedDiff == 0)
    // zero vector: all-zero q8, scale 1 — no NaN/crash
    import spark.implicits._
    val z = Ann.quantizeSq8(
      Seq((99999L, Array.fill(4)(0.0f))).toDF("vec_id", "embedding"))
      .head
    assert(z.getSeq[Byte](1).forall(_ == 0) && z.getFloat(2) == 1.0f)
    // end-to-end: quantized tier + rescore reproduces the exact top-10
    val qv = e.filter(col("vec_id") === 0)
      .select(lit(0L).as("qid"), col("embedding").as("qvec"))
    val exact = Knn.topKPerQuery(e, qv, k = 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val got = Ann.searchSq8(e, q, qv.select(col("qvec")), k = 10, overfetch = 4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = (got & exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"SQ8 recall@10 = $recall")
  }

  test("PQ: codes match a plain-Scala argmin reference, are m bytes wide, " +
      "and ADC + rescore recalls the exact top-10") {
    val e = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val (m, ksub) = (16, 32)
    val cb = Ann.buildPqCodebook(e, m, ksub)
    assert(cb.length == m && cb.forall(_.length == ksub))
    val dsub = cb.head.head.length
    val got = Ann.pqEncode(e, cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    assert(got.values.forall(_.length == m))
    // the native codegen expression equals its interpreted HOF twin
    val hof = Ann.pqEncodeHof(e, cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    assert(got == hof)
    // native ADC equals its HOF twin bit-for-bit on every fixture row
    val q0 = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qvec"))
    val adcDiff = Ann.pqEncode(e, cb).crossJoin(broadcast(q0))
      .select(
        Ann.adc(cb, col("codes"), col("qvec")).as("native"),
        Ann.adcHof(cb, col("codes"), col("qvec")).as("hof"),
        Ann.adcIp(cb, col("codes"), col("qvec")).as("native_ip"),
        Ann.adcIpHof(cb, col("codes"), col("qvec")).as("hof_ip"))
      .filter(!(col("native") <=> col("hof")) ||
        !(col("native_ip") <=> col("hof_ip"))).count()
    assert(adcDiff == 0)
    // plain-Scala reference encode over every fixture vector
    val vecs = e.select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    vecs.foreach { case (id, v) =>
      val want = (0 until m).map { j =>
        val sub = v.slice(j * dsub, (j + 1) * dsub)
        (0 until ksub).minBy { c =>
          val cv = cb(j)(c)
          (sub, cv).zipped.map((x, y) =>
            (x - y).toDouble * (x - y)).sum: Double
        }.toByte
      }
      assert(got(id) == want, s"vec $id")
    }
    // end-to-end recall on the fixture (deterministic given the data)
    val q = e.filter(col("vec_id") === 0)
      .select(lit(0L).as("qid"), col("embedding").as("qvec"))
    val exact = Knn.topKPerQuery(e, q, k = 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val ann = Ann.searchPq(e, Ann.pqEncode(e, cb), cb,
        q.select(col("qvec")), k = 10, overfetch = 6)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = (ann & exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"PQ recall@10 = $recall")
  }

  test("IVF-PQ (residual IVFADC): the index is one (id, codes, vnorm, " +
      "centroid) relation whose codes equal PQ-encoding the coarse " +
      "residuals; with a codebook covering every residual the ADC ranking " +
      "reproduces the exact top-10; pruned probe keeps decent recall") {
    val e = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val (ivf, index, cb) = Ann.buildIvfPq(e, numCentroids = 32,
      m = 16, ksub = 32)
    // codes in the fused index == standalone pqEncode over the residuals
    // x − centroid(x), re-derived here from the public index relations
    val res = ivf.assignments
      .join(broadcast(ivf.centroids), Seq("centroid_id"))
      .select(col("vec_id"),
        zip_with(col("embedding"), col("cvec"),
          (x, c) => (x - c).cast("float")).as("residual"))
    val fused = index.select("vec_id", "codes")
      .collect().map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    val plain = Ann.pqEncode(res, cb, "vec_id", "residual")
      .collect().map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    assert(fused == plain)
    // vnorm stores the RAW vector norm (the cosine denominator a residual
    // code cannot reconstruct)
    val v0 = e.filter(col("vec_id") === 0)
      .select(sqrt(aggregate(col("embedding"), lit(0.0d),
        (a, x) => a + x.cast("double") * x.cast("double"))))
      .head().getDouble(0)
    val n0 = index.filter(col("vec_id") === 0).head()
      .getAs[Float]("vnorm")
    assert(math.abs(n0 - v0) < 1e-4, s"vnorm $n0 vs $v0")
    // exactness invariant: on a ≤ksub-row corpus the salted sample takes
    // EVERY row, so each residual is itself a codebook entry, encoding is
    // lossless, and the cosine-estimating ADC ranks exactly — the est
    // top-10 (overfetch=1: no rescue from the rescore) equals exact KNN
    val small = e.filter(col("vec_id") < 32)
    val (ivfS, idxS, cbS) = Ann.buildIvfPq(small, numCentroids = 8,
      m = 16, ksub = 32)
    val q = e.filter(col("vec_id") === 0)
      .select(lit(0L).as("qid"), col("embedding").as("qvec"))
    val got = Ann.searchIvfPq(ivfS, idxS, cbS, small,
        q.select(col("qvec")), nprobe = 8, k = 10, overfetch = 1)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    val exactSmall = Knn.topK(small, q.select(col("qvec")), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(got == exactSmall)
    // pruned to 16/32 buckets on the full fixture: recall@10 stays useful
    val ann = Ann.searchIvfPq(ivf, index, cb, e, q.select(col("qvec")),
        nprobe = 16, k = 10, overfetch = 16)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val exact = Knn.topKPerQuery(e, q, k = 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = (ann & exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF-PQ recall@10 = $recall")
  }

  test("centerNormalize: centered dims mean ~0, survivors unit-norm, " +
      "a vector equal to the corpus mean maps to the zero vector") {
    import spark.implicits._
    val e = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val means = Ann.dimMeans(e)
    assert(means.length == 64)
    val n = Ann.centerNormalize(e, means)
    // every non-degenerate row is unit-norm after normalization
    val norms = n.filter(col("centered_norm") > 0.0d)
      .select(sqrt(aggregate(col("normalized"), lit(0.0d),
        (a, v) => a + v * v)).as("un"))
      .collect().map(_.getDouble(0))
    assert(norms.nonEmpty && norms.forall(v => math.abs(v - 1.0) < 1e-9))
    // centering: per-dim mean of the centered values is ~0
    val rawCentered = e.select(col("vec_id"),
      zip_with(col("embedding"), typedlit(means.toSeq),
        (x, m) => (x.cast("double") - m).cast("float")).as("embedding"))
    assert(Ann.dimMeans(rawCentered).forall(m => math.abs(m) < 1e-4))
    // degenerate row: exactly the mean vector → zero output, no NaN
    val mv = Seq((9999L, means.map(_.toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val z = Ann.centerNormalize(mv, means)
      .select(col("centered_norm"), col("normalized")).head
    assert(z.getDouble(0) < 1e-6)
    assert(z.getSeq[Double](1).forall(v => !v.isNaN))
  }

  test("native ANN kernels participate in whole-stage codegen: the " +
      "generated Java calls the static helpers (no interpreted fallback)") {
    import org.apache.spark.sql.execution.debug._
    val e = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val cb = Ann.buildPqCodebook(e, m = 16, ksub = 32)
    // a literal query vector keeps the scan a pure Project (a broadcast
    // join would wrap the plan in AQE, which reports no codegen subtrees
    // before execution)
    val qv = typedlit(e.filter(col("vec_id") === 0)
      .head.getSeq[Float](1).toSeq)
    val pqScan = Ann.pqEncode(e, cb)
      .select(Ann.adc(cb, col("codes"), qv).as("adist"),
        Ann.adcIp(cb, col("codes"), qv).as("aip"))
    val pqGen = codegenString(pqScan.queryExecution.executedPlan)
    assert(pqGen.contains("graft.functions.PqUtil.encode"), pqGen.take(500))
    assert(pqGen.contains("graft.functions.PqUtil.adc"), pqGen.take(500))
    assert(pqGen.contains("graft.functions.PqUtil.adcIp"), pqGen.take(500))
    // materialize the quantized relation first (as the real tier does —
    // quantize once, scan many): the quantize transform is an interpreted
    // HOF and would otherwise knock its whole Project out of codegen
    val q8mat = Ann.quantizeSq8(e).localCheckpoint(true)
    val sqScan = q8mat
      .select(Ann.sq8Cosine(col("q8"), col("scale"), qv).as("s"))
    val sqGen = codegenString(sqScan.queryExecution.executedPlan)
    assert(sqGen.contains("graft.functions.Sq8Util.cosine"), sqGen.take(500))
  }

  test("MLlib LSH approxNearestNeighbors returns valid non-empty neighbors") {
    val e = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val (model, withVec) = Ann.lshModel(e)
    val key = org.apache.spark.ml.linalg.Vectors.dense(
      e.filter(col("vec_id") === 0).head.getSeq[Float](1).map(_.toDouble).toArray)
    val nn = model.approxNearestNeighbors(withVec.filter(col("vec_id") =!= 0), key, 10)
      .select("vec_id").collect().map(_.getLong(0))
    assert(nn.length == 10 && !nn.contains(0L))
  }
}
