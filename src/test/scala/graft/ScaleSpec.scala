package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Ann, CampaignRecommend, Scale}

class ScaleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("IVF assignments written partitionBy(centroid_id) partition-prune " +
      "probe reads to the probed buckets") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    val e = Tables.load(spark, TestSpark.sfDir, "embeddings")
    Ann.saveIvf(Ann.buildIvf(e), dir)
    val ivf = Ann.loadIvf(spark, dir)
    val qv = e.filter(col("vec_id") === 0).select(col("embedding")).head
      .getSeq[Float](0)
    val q = Seq(Tuple1(qv)).toDF("qvec")
    val probeIds = ivf.centroids.crossJoin(q)
      .select(col("centroid_id"), Graft.cosine(col("cvec"), col("qvec")).as("cs"))
      .orderBy(col("cs").desc, col("centroid_id")).limit(2)
      .collect().map(_.getLong(0)).toSeq
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val group = "ivf-prune"
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties != null &&
            j.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    // searches on the loaded index: the query and the centroids are local
    // relations, so ranking and reading them starts no job
    def counted[A](f: => A): A = {
      jobs.set(0)
      sc.setJobGroup(group, "searchIvf")
      try f
      finally {
        sc.clearJobGroup()
        org.apache.spark.graftutil.BusDrain.waitUntilEmpty(sc, 10000)
      }
    }
    def search(v: Ann.Ivf) = counted {
      val hits = Ann.searchIvf(v, q, nprobe = 2, k = 10)
      (hits, hits.collect().map(_.getLong(0)).toSeq)
    }
    sc.addSparkListener(listener)
    try {
      val (hits, ids) = search(ivf)
      assert(jobs.get() == 1, s"${jobs.get()} jobs for one search")
      // the probe reaches the scan as a PARTITION filter — only the
      // probed directories are listed/read, the 100 TB prune contract
      val plan = hits.queryExecution.executedPlan
      val text = plan.toString
      assert("PartitionFilters: \\[[^\\]]*centroid_id[^\\]]* IN ".r
        .findFirstIn(text).nonEmpty, s"expected a partition filter in:\n$text")
      assert(!text.contains("BroadcastExchange"), text)
      val filesRead = new org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanHelper {}.collect(plan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value }.sum
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir,
          "assignments")).toArray.map(_.toString)
        .filter(f => f.endsWith(".parquet"))
      val probedFiles = files.count(f => probeIds.exists(c =>
        f.contains(s"/centroid_id=$c/")))
      assert(filesRead == probedFiles && filesRead < files.length,
        s"search read $filesRead of ${files.length} files, " +
          s"$probedFiles in the probed buckets")
      // and the pruned read returns the probed buckets' top rows
      val expected = ivf.assignments
        .filter(col("centroid_id").isin(probeIds: _*))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(ids.nonEmpty && ids.size == math.min(10, expected.size) &&
        ids.forall(expected))
      // pending tombstones: an in-memory delete pays its one tombstone
      // read (the distinct's jobs) on the first search only ...
      val tombed = Ann.deleteFromIvf(ivf, ids.take(2).toDF("vec_id"))
      val tombRead = { counted(tombed.tombs.get.collect()); jobs.get() }
      assert(tombRead >= 1, s"$tombRead jobs to read the tombstones")
      val (_, live) = search(tombed)
      assert(jobs.get() == 1 + tombRead,
        s"${jobs.get()} jobs for a first tombstoned search")
      assert(!live.contains(ids.head) && !live.contains(ids(1)))
      val (_, again) = search(tombed)
      assert(jobs.get() == 1, s"${jobs.get()} jobs for a later tombstoned search")
      assert(again == live)
      // ... and a reloaded tombstoned index searches in one job, with the
      // tombstones a literal filter in the scan's stage, not a broadcast
      val tdir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
      Ann.saveIvf(tombed, tdir)
      val (tombHits, reloaded) = search(Ann.loadIvf(spark, tdir))
      assert(jobs.get() == 1, s"${jobs.get()} jobs for a reloaded tombstoned search")
      assert(reloaded == live)
      val tombText = tombHits.queryExecution.executedPlan.toString
      assert(!tombText.contains("BroadcastExchange"), tombText)
    } finally sc.removeSparkListener(listener)
  }

  test("filters and column pruning reach the parquet scan (regression " +
      "guard for the ExplainProbe evidence)") {
    val df = Tables.load(spark, TestSpark.sfDir, "lineitem")
      .filter(col("l_quantity") > 49)
      .select(col("l_orderkey"), col("l_quantity"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThan(l_quantity"), s"no pushdown in:\n$plan")
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(readSchema.contains("l_orderkey") &&
      readSchema.contains("l_quantity") &&
      !readSchema.contains("l_partkey") && !readSchema.contains("l_comment"),
      s"scan reads more than the projection: $readSchema")
  }

  test("salted aggregation equals direct groupBy exactly") {
    val o = Tables.load(spark, TestSpark.sfDir, "orders")
    val direct = o.groupBy(col("o_orderpriority"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("s"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> ((r.getDecimal(1), r.getLong(2)))).toMap
    val salted = Scale.saltedSum(
        o.withColumn("o_totalprice", col("o_totalprice").cast("decimal(18,2)")),
        "o_orderpriority", "o_totalprice", saltFrom = "o_orderkey")
      .collect().map(r => r.getString(0) -> ((r.getDecimal(1), r.getLong(2)))).toMap
    assert(salted.keySet == direct.keySet)
    direct.foreach { case (k, v) =>
      assert(salted(k)._1.compareTo(v._1) == 0 && salted(k)._2 == v._2) }
  }

  test("salted join equals direct join") {
    val o = Tables.load(spark, TestSpark.sfDir, "orders")
    val c = Tables.load(spark, TestSpark.sfDir, "customer")
      .withColumnRenamed("c_custkey", "o_custkey")
    val direct = o.join(c, Seq("o_custkey")).count()
    val salted = Scale.saltedJoin(o, c, "o_custkey", saltFrom = "o_orderkey").count()
    assert(salted == direct && direct > 0)
  }

  test("bucketed co-located join plans without a shuffle exchange") {
    val o = Tables.load(spark, TestSpark.sfDir, "orders")
    val c = Tables.load(spark, TestSpark.sfDir, "customer")
    o.write.mode("overwrite").bucketBy(8, "o_custkey").sortBy("o_custkey")
      .saveAsTable("orders_bucketed")
    c.write.mode("overwrite").bucketBy(8, "c_custkey").sortBy("c_custkey")
      .saveAsTable("customer_bucketed")
    val joined = spark.table("orders_bucketed").join(
      spark.table("customer_bucketed"),
      col("o_custkey") === col("c_custkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n$plan")
    assert(joined.count() == o.join(c, o("o_custkey") === c("c_custkey")).count())
    spark.sql("DROP TABLE orders_bucketed")
    spark.sql("DROP TABLE customer_bucketed")
  }

  test("template-compiled audience path equals the DataFrame path") {
    val viaTemplates = CampaignRecommend
      .audienceCountViaTemplates(spark, TestSpark.sfDir).head.getLong(0)
    val direct = CampaignRecommend
      .audienceCount(spark, TestSpark.sfDir).head.getLong(0)
    assert(viaTemplates == direct && direct > 0)
  }

  test("topKByGroup equals the window-only form under a total order, " +
      "any partitioning, including groups smaller than k") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(46)
    val df = (1 to 5000).map { i =>
      (s"g${rnd.nextInt(7)}", s"it$i", rnd.nextInt(40).toLong)
    }.toDF("g", "item", "v").repartition(11)
    // group g_small has 2 rows < k
    val withSmall = df.union(
      Seq(("g_small", "a", 1L), ("g_small", "b", 2L)).toDF("g", "item", "v"))
    val ord = Seq(col("v").desc, col("item").asc)
    val got = graft.operators.Scale.topKByGroup(withSmall, Seq("g"), ord, 10)
      .select("g", "item", "v").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val w = Window.partitionBy(col("g")).orderBy(ord: _*)
    val want = withSmall.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10).select("g", "item", "v").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want && got.nonEmpty)
    assert(got.count(_._1 == "g_small") == 2)
  }

  test("rollingOutliers matches a plain-Scala rolling-moment reference " +
      "and respects the warmup") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(461)
    val rows = for {
      u <- 1 to 5; i <- 1 to 60
    } yield (u.toLong, (u * 1000 + i).toLong,
      new java.sql.Timestamp(1700000000000L + i * 60000L),
      if (i % 23 == 0) 400.0 + rnd.nextInt(100) else rnd.nextInt(80) + 0.5)
    val df = rows.toDF("user_id", "event_id", "ts", "value").repartition(5)
    val got = graft.operators.Conditions.rollingOutliers(
        df, "user_id", Seq("ts", "event_id"), "value")
      .select("user_id", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // plain-Scala reference with the same floor-scaled moments
    // .values, not Map.flatMap — the latter would rebuild a Map keyed by
    // user and silently keep one flag per user
    val want = rows.groupBy(_._1).values.flatMap { es =>
      val sorted = es.sortBy(e => (e._3.getTime, e._2))
      sorted.indices.flatMap { i =>
        val hist = sorted.slice(math.max(0, i - 20), i).map(_._4)
        if (hist.size < 10) None
        else {
          val n = hist.size
          val s = hist.map(v => math.floor(v * 1e6).toLong).sum
          val ss = hist.map(v => math.floor(v * v * 1e6).toLong).sum
          val m = s / 1e6 / n
          val va = math.max(0.0, (ss / 1e6 - s / 1e6 * (s / 1e6) / n) / (n - 1))
          if (sorted(i)._4 > m + 3.0 * math.sqrt(va))
            Some((sorted(i)._1, sorted(i)._2))
          else None
        }
      }
    }.toSet
    assert(got == want && got.nonEmpty)
    // nothing may flag inside the 10-row warmup
    assert(got.forall { case (u, eid) => eid - u * 1000 > 10 })
  }

  test("exactKth equals sort-based selection on a fixture with " +
      "negatives, duplicates, and boundary ranks — shared passes for " +
      "multiple ranks") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val vals = Seq.fill(5000)(rnd.nextLong() % 1000000L) ++
      Seq(Long.MinValue + 5, -1L, 0L, 1L, Long.MaxValue - 5) ++
      Seq.fill(200)(42L) // a heavy duplicate
    val df = vals.toDF("v")
    val sorted = vals.sorted
    val n = vals.length.toLong
    val ks = Seq(1L, 2L, n / 4, n / 2, (9 * n + 9) / 10, n)
    val got = Scale.exactKth(df, "v", ks)
    ks.foreach { k =>
      assert(got(k) == sorted((k - 1).toInt),
        s"rank $k: ${got(k)} vs ${sorted((k - 1).toInt)}")
    }
    intercept[Exception] { Scale.exactKth(df, "v", Seq(n + 1)) }
  }

  test("groupMedian equals per-group sort-based lower medians, " +
      "including negatives and single-row groups") {
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    val rows = (1 to 4000).map(_ =>
      (s"g${rnd.nextInt(3)}", rnd.nextLong() % 100000L)) :+
      (("solo", -7L))
    val df = rows.toDF("g", "v")
    val got = Scale.groupMedian(df, "g", "v")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = rows.groupBy(_._1).map { case (g, xs) =>
      val sorted = xs.map(_._2).sorted
      g -> sorted(((sorted.length + 1) / 2 - 1))
    }
    assert(got == expect, s"got $got\nexp $expect")
  }

  test("rankByGroup equals the window-form percent_rank/cume_dist " +
      "bit-for-bit, while sorting only (group, range-bucket) slices") {
    import org.apache.spark.sql.expressions.Window
    val c = Tables.load(spark, TestSpark.sfDir, "customer")
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"))
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    val want = c.select(col("c_custkey"),
        row_number().over(w).cast("long").as("rank"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val twoPass = Scale.rankByGroup(c, Seq("c_mktsegment"),
      Seq("c_acctbal", "c_custkey"), buckets = 16)
    val got = twoPass.select(col("c_custkey"), col("rank"),
        col("pr"), col("cd"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    // bit-identical doubles — same long ratios, so == on doubles is fair
    assert(got == want && got.nonEmpty)
    // structural pin: the expensive window partitions by (group, bucket),
    // never by the 5-value segment alone
    val plan = twoPass.queryExecution.executedPlan.toString
    val winSpecs = "windowspecdefinition\\([^)]*\\)".r
      .findAllIn(plan).toSeq
      .filter(s => s.contains("c_acctbal") && s.contains("c_custkey"))
    assert(winSpecs.nonEmpty && winSpecs.forall(_.contains("__b")),
      s"rank window not bucket-partitioned:\n$plan")
  }

  test("rankByGroup under priority-TIE skew (r18 verdict #1): a CONSTANT " +
      "leading order key still equals the window form bit-for-bit AND " +
      "still splits across range buckets on the later key columns — " +
      "the composite-key boundaries kill the one-bucket degeneration") {
    import org.apache.spark.sql.expressions.Window
    // 3000 rows, ONE dominant group, leading key constant (the real
    // frontier's n_seen=1 regime) — only the unique tail key orders
    val rows = (0 until 3000).map { i =>
      (if (i % 10 < 9) "mega" else s"g${i % 4}", 1L, s"k%05d".format(i))
    }
    val df = spark.createDataFrame(rows).toDF("seg", "pri", "key")
    val w = Window.partitionBy(col("seg"))
      .orderBy(col("pri"), col("key"))
    val want = df.select(col("seg"), col("key"),
        row_number().over(w).cast("long").as("rank"),
        percent_rank().over(w).as("pr"), cume_dist().over(w).as("cd"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    val got = Scale.rankByGroup(df, Seq("seg"), Seq("pri", "key"),
        buckets = 16)
      .select(col("seg"), col("key"), col("rank"), col("pr"), col("cd"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got == want && got.size == 3000)
    // the degeneration pin: with the leading key CONSTANT, bucket
    // assignment must still fan out on the tail key — the r18
    // leading-key-only form put all 3000 rows in bucket 0
    val buckets = df.withColumn("__b",
        Scale.compositeBucketId(df, Seq(("pri", false), ("key", false)),
          16))
      .groupBy(col("__b")).count().collect()
    assert(buckets.length > 4,
      s"constant leading key collapsed to ${buckets.length} bucket(s) — " +
        "composite boundaries are not splitting ties")
    val maxShare = buckets.map(_.getLong(1)).max.toDouble / 3000
    assert(maxShare < 0.5,
      s"one bucket holds ${maxShare * 100}% of a constant-priority " +
        "fixture — the single-task sort is back")
  }

  test("blockedLengthBandPairs equals the brute-force blocked join " +
      "(every |Δlen| <= band pair, once, id_a < id_b)") {
    import spark.implicits._
    val p = Tables.load(spark, TestSpark.sfDir, "part")
      .select(col("p_partkey"), col("p_name"))
    val got = graft.operators.Dedup.blockedLengthBandPairs(
        p, "p_partkey", "p_name",
        split(col("p_name"), " ").getItem(0), band = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    val rows = p.select(col("p_partkey"),
        split(col("p_name"), " ").getItem(0).as("blk"),
        length(col("p_name")).as("len"))
      .as[(Long, String, Int)].collect()
    val want = (for {
      a <- rows; b <- rows
      if a._1 < b._1 && a._2 == b._2 && math.abs(a._3 - b._3) <= 4
    } yield (a._1, b._1)).toSeq
    assert(got.nonEmpty && got.size == got.distinct.size,
      "pairs must be emitted exactly once")
    assert(got.toSet == want.toSet,
      s"banded join != brute force: ${got.size} vs ${want.size}")
  }

  test("blockedLengthBandPairs: N same-block rows do not emit N^2 " +
      "candidates — the length bin is in the join key, and a hot " +
      "(block, bin) bucket is capped") {
    import spark.implicits._
    // one block, lengths spread 1..N: the naive same-block join is
    // N(N-1)/2 pairs; the band key admits only |Δlen| <= 2·band-ish
    val n = 500
    val spread = (1 to n)
      .map(i => (i.toLong, "blk " + ("x" * i)))
      .toDF("id", "s")
    val bandPairs = graft.operators.Dedup.blockedLengthBandPairs(
      spread, "id", "s", lit("blk"), band = 4).count()
    // true pairs: per row at most 8 partners (|Δlen| in 1..4, both
    // sides) — linear in N, nowhere near N²/2
    assert(bandPairs <= n.toLong * 8,
      s"$bandPairs candidates from $n spread-length rows")
    assert(bandPairs == (1 to n).flatMap(i =>
      (i + 1 to math.min(n, i + 4)).map(_ => 1)).size.toLong)
    // worst case — all N rows the SAME length (one hot (block, bin)
    // bucket): the cap splits it instead of emitting N²/2 pairs
    val hot = (1 to n).map(i => (i.toLong, "blk samelen")).toDF("id", "s")
    val capped = graft.operators.Dedup.blockedLengthBandPairs(
      hot, "id", "s", lit("blk"), band = 4, maxBucket = 64).count()
    val quadratic = n.toLong * (n - 1) / 2
    assert(capped > 0 && capped < quadratic / 4,
      s"hot bucket not capped: $capped of $quadratic pairs emitted")
    // and under the cap the same hot block is exact
    val exact = graft.operators.Dedup.blockedLengthBandPairs(
      hot, "id", "s", lit("blk"), band = 4, maxBucket = 10000).count()
    assert(exact == quadratic)
  }

  test("compositeBucketId two-pass contract (r19 watch #3): the sampling " +
      "pass is COLUMN-PRUNED — a parquet-backed caller's sample scan " +
      "reads only the key columns in its ReadSchema, never the wide " +
      "row — and the bucket ids still reproduce the one-window rank") {
    import org.apache.spark.sql.expressions.Window
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cbid_prune").toString
    val wide = spark.range(0, 2000).select(
      col("id"),
      (col("id") % 7).as("prio"),
      concat(lit("https://h"), col("id") % 5, lit(".com/p"), col("id"))
        .as("url"),
      // the expensive payload the sample pass must never scan
      concat_ws("", (0 until 50).map(_ => md5(col("id").cast("string"))): _*)
        .as("payload"))
    wide.write.mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    val slim = Scale.sampleProjection(stored,
      Seq(("prio", true), ("url", false)))
    val plan = slim.queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("prio") && readSchema.contains("url") &&
      !readSchema.contains("payload"),
      s"sample pass not column-pruned:\n$plan")
    // and the two-pass rank over the stored relation stays exact
    val got = Scale.rankByGroup(
        stored.withColumn("host", regexp_extract(col("url"),
          "^https://([^/]+)", 1)),
        Seq("host"), Seq("prio", "url"), buckets = 8)
      .select(col("url"), col("rank")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val w = Window.partitionBy(col("host")).orderBy(col("prio"), col("url"))
    val want = stored
      .withColumn("host", regexp_extract(col("url"),
        "^https://([^/]+)", 1))
      .withColumn("r", row_number().over(w))
      .select(col("url"), col("r")).collect()
      .map(r => r.getString(0) -> r.getInt(1).toLong).toMap
    assert(got == want, "two-pass rank diverged from the window form")
  }
}
