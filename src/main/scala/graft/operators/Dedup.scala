package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Graft

/** Deduplication suite for large-scale text/training-data pipelines:
  * exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design notes:
  *  - Exact dedup is one hash shuffle on the normalized text (or its md5 —
  *    shuffle 16 bytes, not documents).
  *  - MinHash+LSH: signatures are computed in a single codegen'd map pass
  *    (md5-based so the DuckDB oracle can reproduce them bit-for-bit);
  *    banding turns the quadratic all-pairs problem into a groupBy on
  *    (band, key) — only documents sharing a band bucket are joined.
  *    Candidate verification re-checks true Jaccard, so precision is exact.
  *  - SimHash packs a document into one 60-bit long (md5-derived so the
  *    DuckDB oracle reproduces it); near-dup = hamming ≤ r over
  *    block-local pairs (bit_count(xor)) — cheap enough to run pairwise
  *    inside blocks.
  *  - All pair generation is blocked (lang/source/bucket) — never an
  *    unblocked cross join.
  */
object Dedup {

  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Word n-grams as `"w1 … wn"` strings, built from n shifted copies of
    * the token array zipped together — O(len) per document. (The naive
    * `transform(sequence, i => slice(toks, i, n))` form is O(len²): every
    * lambda call re-slices the array; at sf0.1 that was minutes of
    * interpreted array copying.) `arrays_zip` pads to the LONGEST input
    * with nulls (it does not truncate), so the zipped array is sliced to
    * the first `len−n+1` entries — exactly the full n-grams; a document
    * with fewer than n tokens yields none. */
  def ngrams(text: Column, n: Int): Column = ngramsOf(tokens(text), n)

  /** [[ngrams]] over an already-tokenized array column — lets pipelines
    * that materialize one shared token array (tx_corpus_ready) reuse it
    * instead of re-splitting the text for every n-gram consumer. */
  def ngramsOf(toks: Column, n: Int): Column = {
    val shifted = (0 until n).map { i =>
      (if (i == 0) toks
       else slice(toks, lit(i + 1), greatest(size(toks) - i, lit(0))))
        .as(s"t$i")
    }
    slice(
      transform(arrays_zip(shifted: _*),
        s => concat_ws(" ", (0 until n).map(i => s.getField(s"t$i")): _*)),
      lit(1), greatest(size(toks) - (n - 1), lit(0)))
  }

  /** Word 3-gram shingles — the MinHash unit. */
  def shingles(text: Column): Column = ngrams(text, 3)

  /** The base shingle hash: first 15 hex chars of md5(shingle) as a 60-bit
    * long. ONE md5 per shingle — the k per-permutation values derive from
    * this via [[permKey]] XOR, so the signature stage does 1/k-th the
    * hashing work of the naive md5-per-permutation form (measured: the
    * 12×md5+conv stage was the query's dominant CPU sink; under host CPU
    * contention that amplified a ~1 s stage into ~20 s). NUMERIC, not the
    * hex string: `min` over longs keeps the aggregation buffer fixed-width,
    * so Spark uses codegen'd HashAggregate with map-side combine.
    * DuckDB reproduces it exactly: `('0x' || substr(md5(g),1,15))::BIGINT`. */
  def shingleHash(shingle: Column): Column =
    conv(substring(md5(shingle), 1, 15), 16, 10).cast("long")

  /** Permutation key for MinHash permutation `s`: a fixed 60-bit constant,
    * itself md5-derived so the DuckDB oracle computes the identical value
    * (`('0x' || substr(md5('perm:' || s),1,15))::BIGINT`). XOR with a
    * constant is a bijection of the hash space, so `min(h XOR key_s)` is a
    * valid min-wise permutation family (the standard cheap-minhash trick);
    * everything inside the min is one ALU op. Constant-folded by Catalyst
    * — no per-row md5. */
  def permKey(s: Int): Column =
    conv(substring(md5(lit(s"perm:$s")), 1, 15), 16, 10).cast("long")

  /** k MinHash values (longs), HOF form of the explode+min used by
    * [[minhashNearDups]] (spec-checked equal). */
  def minhashSignature(shinglesCol: Column, k: Int = 12): Column = {
    val hashes = transform(shinglesCol, sh => shingleHash(sh))
    array((0 until k).map(s =>
      array_min(transform(hashes, h => h.bitwiseXOR(permKey(s))))): _*)
  }

  /** LSH banding: k-element signature → `bands` buckets of `k/bands` rows;
    * key = md5 of the band slice (elements stringified — the signature is
    * numeric). Returns (idCol, band, key) exploded. */
  def lshBuckets(df: DataFrame, idCol: String, sigCol: String,
      bands: Int, rowsPerBand: Int): DataFrame =
    df.select(col(idCol), posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => md5(concat_ws("|",
            transform(slice(col(sigCol), b * rowsPerBand + 1, lit(rowsPerBand)),
              x => x.cast("string")))))))
      .toDF(idCol, "band", "key")

  /** Exact word-set Jaccard between two DISTINCT token-array columns.
    * One intersect pass; |A∪B| = |A|+|B|−|A∩B| (inputs are de-duped), which
    * halves the per-pair array work vs an explicit array_union. Fine for
    * verifying a bounded candidate set; for all-pairs work use
    * [[jaccardPairs]] instead. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - inter)
  }

  /** Corpus probe behind [[jaccardPairs]]'s `"auto"` strategy: one
    * explode + partial-agg pass over the distinct (block, word) document
    * frequencies, returning
    *
    *  - `volume` = Σdf² — EXACTLY the number of rows cooccur's self-join
    *    emits before any filter, the quantity that decides whether cooccur
    *    is affordable. Grows quadratically in corpus size at fixed
    *    vocabulary, so this—not skew—is the scale guard.
    *  - `kappa` = V·Σdf²/(Σdf)² — normalized df skew (≈1 uniform, ≫1
    *    Zipfian), scale-invariant; a diagnostic for WHY a corpus is
    *    expensive (hot-head vocabulary vs sheer size), logged by
    *    JaccardProbe, not the routing axis. Measured (sf0.1, 32 cores):
    *    the fixture (κ≈1.3) and a 4 k-doc Zipf corpus (κ≈15) BOTH run
    *    cooccur faster, because both volumes (~1e8) are trivially
    *    affordable — skew alone routes wrong at small absolute scale.
    *
    * Under doc-hash sampling (`probeFraction` p ≪ 1 — mandatory at
    * 100 TB) df scales by p, so `volume` is rescaled by 1/p² and `kappa`
    * is ratio-stable. */
  case class JaccardProbeStats(volume: Double, kappa: Double)

  def dfStats(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, probeFraction: Double = 1.0): JaccardProbeStats = {
    val base =
      if (probeFraction >= 1.0) docs
      else docs.where(pmod(xxhash64(col(idCol)), lit(1000000)) <
        lit((probeFraction * 1000000).toLong))
    val r = base
      .select(col(blockCol).as("block"),
        explode(array_distinct(tokens(col(textCol)))).as("word"))
      .groupBy(col("block"), col("word")).agg(count(lit(1)).as("df"))
      .agg(sum(col("df") * col("df")).cast("double").as("s2"),
        sum(col("df")).cast("double").as("s1"),
        count(lit(1)).cast("double").as("v"))
      .head()
    val (s2, s1, v) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
    val p = math.min(probeFraction, 1.0)
    if (s1 == 0.0) JaccardProbeStats(0.0, 1.0)
    else JaccardProbeStats(s2 / (p * p), v * s2 / (s1 * s1))
  }

  /** Backward-compatible κ accessor (diagnostic only — see [[dfStats]]). */
  def dfSkew(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, probeFraction: Double = 1.0): Double =
    dfStats(docs, idCol, textCol, blockCol, probeFraction).kappa

  /** Projected cooccur join volume (rows) above which `"auto"` routes to
    * the prefix strategy. 2e9 rows through one codegen'd shuffle join +
    * partial agg is ~a minute of cluster work (measured ~5e7 rows/s/core
    * on the fixture); past that the quadratic growth of Σdf² makes
    * cooccur the wrong plan and the bounded per-doc prefix work wins.
    * Tunable per deployment via the `cooccurBudget` parameter. */
  val DefaultCooccurBudget: Double = 2e9

  /** All-pairs set-similarity. Two EXACT strategies (identical output;
    * both candidate sets are supersets of the qualifying pairs, and
    * verification computes the true Jaccard):
    *
    *  - `"cooccur"` (default): explode distinct words, self-join on
    *    (block, word), count co-occurrences per pair with map-side partial
    *    aggregation, Jaccard = |∩| / (sa+sb−|∩|). One shuffle join + one
    *    hash agg, everything whole-stage codegen. The size-compatibility
    *    filter (`J ≥ t ⇒ min(sa,sb) ≥ t·max(sa,sb)`) drops impossible
    *    pairs before the aggregation.
    *  - `"prefix"` (PPJoin-style): rank each document's words rarest-first
    *    by document frequency and join only on the `sz − ⌈minJ·sz⌉ + 1`
    *    prefix (the prefix-filter theorem guarantees no qualifying pair is
    *    lost), then verify candidates pairwise.
    *
    * Which one wins is a corpus property, MEASURED at sf0.1 (5 000 docs,
    * ~23 distinct words/doc, ~31-word per-block vocabulary, near-dup-rich;
    * JaccardProbe, 32 cores, warm): cooccur ≈ 1.3–5 s; prefix ≈ 5–12 s —
    * the tiny vocabulary makes every word hot, so the prefix join still
    * emits 2.4 M candidates for 47 k qualifying pairs, and even with the
    * relational [[verifyJaccard]] the extra rank-window + candidate
    * shuffles dominate at this volume. Cooccur's exposure is its join
    * OUTPUT volume Σdf², quadratic in corpus size at fixed vocabulary:
    * once that projection exceeds the work budget, prefix's bounded
    * `(1−minJ)·sz + 1` rare words per document win regardless of
    * constant factors.
    *
    * `"auto"` (the default) measures the corpus instead of trusting the
    * caller: one cheap [[dfStats]] pass projects cooccur's join volume
    * (Σdf², the rows its self-join emits) and routes to prefix only when
    * that exceeds `cooccurBudget` — the quantity that actually decides
    * the contest. (Skew κ alone routes wrong: a 4 k-doc Zipf corpus has
    * κ≈15 but volume ~8e7, and measured cooccur still wins ~1.8×; see
    * [[dfStats]].) At 100 TB, run the probe on a sample via
    * `probeFraction`. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, minJ: Double,
      strategy: String = "auto", probeFraction: Double = 1.0,
      cooccurBudget: Double = DefaultCooccurBudget): DataFrame = {
    val spark = docs.sparkSession
    val np = spark.sparkContext.defaultParallelism
    val chosen =
      if (strategy == "auto") {
        if (dfStats(docs, idCol, textCol, blockCol, probeFraction).volume >
          cooccurBudget) "prefix"
        else "cooccur"
      } else strategy
    val base = docs
      .repartition(np)
      .select(col(idCol).as("id"), col(blockCol).as("block"),
        array_distinct(tokens(col(textCol))).as("w"))
      .withColumn("sz", size(col("w")))
    val words = base.select(col("id"), col("block"), col("sz"),
      explode(col("w")).as("word"))

    if (chosen == "prefix") {
      val dfreq = words.groupBy(col("block"), col("word"))
        .agg(count(lit(1)).as("df"))
      val rankW = Window.partitionBy(col("block"), col("id"))
        .orderBy(col("df"), col("word"))
      // Prefix length sz − ⌈minJ·sz⌉ + 1. The ε inside the ceil keeps an
      // exact integer product from rounding UP in binary double arithmetic
      // (⌈0.95·20⌉ must be 19, not 20) — a too-short prefix silently drops
      // qualifying pairs, breaking the exact-strategy contract. Relaxing by
      // ε can only lengthen the prefix: safe (verification is exact).
      // NOT cached: the self-joined prefix subtree shares one shuffle via
      // exchange reuse, and a leaked InMemoryRelation causes the cross-run
      // planner instability minhashNearDups documents.
      val prefix = words.join(dfreq, Seq("block", "word"))
        .withColumn("rank", row_number().over(rankW))
        .filter(col("rank") <=
          col("sz") - ceil(lit(minJ) * col("sz") - lit(1e-9)) + 1)
        .select(col("block"), col("id"), col("word"))
      val cands = prefix.toDF("block", "id_a", "word")
        .join(prefix.toDF("block", "id_b", "word"), Seq("block", "word"))
        .filter(col("id_a") < col("id_b"))
        .select(col("block"), col("id_a"), col("id_b"))
        .distinct()
      // candidate verification is the relational count-join shape — never
      // per-pair interpreted array_intersect (see verifyJaccard)
      verifyJaccard(cands, base.select(col("id"), col("w")), minJ,
        keepCols = Seq("block"))
        .select(col("block"), col("id_a"), col("id_b"), col("jac"))
    } else {
      val a = words.toDF("id_a", "block", "sa", "word")
      val b = words.toDF("id_b", "block", "sb", "word")
      a.join(b, Seq("block", "word"))
        .filter(col("id_a") < col("id_b") &&
          least(col("sa"), col("sb")) >=
            lit(minJ) * greatest(col("sa"), col("sb")) - lit(1e-9))
        .groupBy(col("block"), col("id_a"), col("id_b"), col("sa"), col("sb"))
        .agg(count(lit(1)).as("inter"))
        .select(col("block"), col("id_a"), col("id_b"),
          Graft.roundExact(col("inter").cast("double") /
            (col("sa") + col("sb") - col("inter")), 4).as("jac"))
        .filter(col("jac") >= minJ)
    }
  }

  /** Exact-Jaccard verification of a candidate-pair set, the scale shape:
    * size-compatibility prefilter (`J ≥ t ⇒ min(sa,sb) ≥ t·max(sa,sb)` —
    * drops pairs that cannot qualify before any word work), then
    * co-occurrence COUNTING via two hash joins + partial aggregation.
    * Everything stays in whole-stage codegen; no per-pair interpreted
    * array_intersect (one such pair-at-a-time pass pinned a whole bench
    * query to a single task for minutes at sf0.1). The explicit
    * repartition spreads candidates across the cluster — AQE otherwise
    * coalesces the small candidate relation to one partition and the
    * entire verify runs single-threaded.
    *
    * @param cands    candidate pairs: `id_a, id_b` (+ `keepCols`)
    * @param idWords  `(id, w: array<string>)` — DISTINCT word sets
    */
  private def verifyJaccard(cands: DataFrame, idWords: DataFrame,
      minJ: Double, keepCols: Seq[String]): DataFrame = {
    val np = cands.sparkSession.sparkContext.defaultParallelism
    // `cands` is referenced three times below (both candIds union branches
    // + the size join), and on every call site the candidate subtree is
    // itself a join (LSH bucket join / prefix self-join). Relying on
    // Catalyst exchange reuse to evaluate it once is planner-version-
    // dependent — a silent change would triple the most expensive subtree —
    // so materialize it ONCE with an eager localCheckpoint. Unlike the
    // cache() this file bans (cross-run planner instability from leaked
    // InMemoryRelations, see minhashNearDups), a localCheckpoint is plain
    // executor-local RDD storage scoped to this query's lineage, and AQE
    // then plans the three consumers on EXACT candidate stats. Cluster
    // caveat: lineage is truncated, so a lost executor fails the job
    // instead of recomputing — acceptable for the bounded candidate
    // relation (pairs, not corpus).
    val candsCk = cands.localCheckpoint(true)
    // Prune the word relation to candidate documents FIRST: candidates are
    // normally ≪ corpus (LSH emits tens of pairs from thousands of docs),
    // and without this the WHOLE corpus was tokenized and exploded twice
    // below just to verify a handful of pairs — the dominant scan+explode
    // volume of the minhash query. The semi-join key is `id` alone, so
    // Catalyst pushes it below idWords' tokenize projection
    // (PushDownLeftSemiAntiJoin) and non-candidate docs drop before any
    // word work. When candidates ≈ corpus (dense prefix-join case) the
    // prune degrades to a cheap id-set semi-join — proportional to the
    // joins that follow, never the bottleneck.
    val candIds = candsCk.select(col("id_a").as("id"))
      .union(candsCk.select(col("id_b").as("id"))).distinct()
    val pruned = idWords.join(candIds, Seq("id"), "left_semi")
    val sizes = pruned.select(col("id"), size(col("w")).as("sz"))
    val candsSz = candsCk
      .join(sizes.toDF("id_a", "sa"), "id_a")
      .join(sizes.toDF("id_b", "sb"), "id_b")
      .filter(least(col("sa"), col("sb")) >=
        lit(minJ) * greatest(col("sa"), col("sb")) - lit(1e-9))
      .repartition(np, col("id_a"), col("id_b"))
    // Words are joined as xxhash64 LONGS, not strings: the co-occurrence
    // count only needs equality, and an 8-byte fixed-width join key both
    // shrinks the explode-join shuffles and keeps the hash-join buffers
    // primitive. (Collision odds over a per-doc word set are ~|w|²/2⁶⁴ —
    // irrelevant.) The sets are distinct, so counts are unchanged.
    val wa = pruned.select(col("id").as("id_a"),
      explode(col("w")).as("word")).withColumn("word", xxhash64(col("word")))
    val wb = pruned.select(col("id").as("id_b"),
      explode(col("w")).as("word")).withColumn("word", xxhash64(col("word")))
    val keep = keepCols.map(col) ++ Seq(col("id_a"), col("id_b"))
    candsSz
      .join(wa, Seq("id_a"))
      .join(wb, Seq("id_b", "word"))
      .groupBy(keep :+ col("sa") :+ col("sb"): _*)
      .agg(count(lit(1)).as("inter"))
      .select(keep :+
        Graft.roundExact(col("inter").cast("double") /
          (col("sa") + col("sb") - col("inter")), 4).as("jac"): _*)
      .filter(col("jac") >= minJ)
  }

  /** MinHash+LSH near-duplicate pairs, verified with true Jaccard ≥ minJ.
    * Returns (id_a, id_b, jac). */
  /** MinHash signatures shared by [[minhashNearDups]] and
    * [[dedupIncremental]]: explode + k codegen min-aggregates (see the
    * call-site comment in minhashNearDups for why not the HOF form). */
  private def sigsOf(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val exploded = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol), explode(shingles(col(textCol))).as("g"))
      .select(col(idCol), shingleHash(col("g")).as("h"))
    val aggs = (0 until k).map(s =>
      min(col("h").bitwiseXOR(permKey(s))).as(s"sig_$s"))
    exploded.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
      .select(col(idCol),
        array((0 until k).map(s => col(s"sig_$s")): _*).as("sig"))
  }

  /** Distinct word sets keyed as (id, w) — [[verifyJaccard]]'s input. */
  private def wsetsOf(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("id"),
        array_distinct(tokens(col(textCol))).as("w"))

  /** Hot-bucket bound for banded candidate joins. A band bucket with B
    * members emits B² candidate pairs from the self-join; boilerplate-heavy
    * web corpora (cookie banners, templated pages) reliably produce
    * million-member buckets at 100 TB, turning the equi-join quadratic.
    * Buckets above `maxBucket` are hash-SPLIT into ⌈B/maxBucket⌉ salted
    * sub-buckets, bounding the per-bucket fan-out at ~B·maxBucket.
    *
    * Recall effect (spec-pinned): pairs split into different sub-buckets
    * are missed IN THAT BAND, but the salt hash includes the band key, so
    * each band partitions the hot set DIFFERENTLY — a same-bucket pair
    * missed in one band can still collide in another, and the duplicate
    * GRAPH of a template cluster stays connected (one representative still
    * survives dedup; what shrinks is the redundant pair list, exactly the
    * part that was quadratic). Buckets at or under `maxBucket` — every
    * bucket of the oracle fixtures — are emitted verbatim with salt 0, so
    * the cap is invisible to the hash gates.
    *
    * One partial-aggregable size count joined back on the bucket key the
    * relation is already partitioned by — no extra shuffle beyond the
    * count's own exchange. */
  def capBuckets(buckets: DataFrame, keyCols: Seq[String], idCol: String,
      maxBucket: Int): DataFrame = {
    require(maxBucket > 0, "maxBucket must be positive")
    val sizes = buckets.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__bsz"))
    buckets.join(sizes, keyCols)
      .withColumn("__salt",
        when(col("__bsz") > maxBucket,
          pmod(xxhash64(col(idCol) +: keyCols.map(col): _*),
            ceil(col("__bsz").cast("double") / maxBucket).cast("long")))
          .otherwise(lit(0L)))
      // a using-columns join reorders (join keys first) — restore the
      // caller's column order so positional toDF renames stay valid
      .select((buckets.columns :+ "__salt").map(col): _*)
  }

  /** Blocked candidate pairs for EDIT-DISTANCE record linkage: rows that
    * share a blocking key AND sit within `band` of each other in string
    * length, produced by a pure EQUI-join — the length band is part of
    * the join KEY, not a post-join filter. Each row gets a length bin
    * `own = ⌊len/band⌋`; one side explodes to bins {own−1, own, own+1}
    * and joins the other side's own bin, so a true pair (|Δlen| ≤ band
    * ⇒ adjacent-or-equal bins) meets in EXACTLY one bin and a far pair
    * never enters the join at all. Without the bin key, a fixed-
    * vocabulary blocking column (e.g. TPC-H part-name first tokens,
    * ~90 values) grows blocks linearly with data and block self-join
    * volume quadratically; with it, join volume per block is
    * Σ_bin |bin|·|±1 bins| — linear in data for any bounded length
    * distribution.
    *
    * Hot (blk, bin) buckets — many same-block rows of near-equal
    * length — are additionally hash-split by [[capBuckets]]: above
    * `maxBucket` the candidate list degrades gracefully (cross-salt
    * pairs in that one bucket are skipped — bounded work bought with
    * recall, same contract as [[bandedHammingPairs]]); at or under the
    * cap the output is EXACTLY the |Δlen| ≤ band pair set (spec-pinned
    * against brute force). Pairs are emitted once, id_a < id_b, with
    * both strings and lengths for the caller's verifier
    * (levenshtein ≤ d, jaro-winkler, …).
    *
    * A blocked self-join is EXPANSIVE — tiny shuffle input (the rows),
    * huge output (the pairs) — which defeats AQE's byte-based
    * coalescing: a 20k-row / 25M-pair workload coalesces to ONE task
    * and runs serial (measured 22 s at sf0.1; 32 cores idle). So the
    * join additionally fans out `fanout` ways — a-side rows take a
    * deterministic sub-salt, the (smaller, own-bin) b-side replicates
    * to every sub-salt, and both sides hash-REPARTITION on the full
    * key so the user-specified exchange pins the parallelism AQE
    * would fold away. Replication is EXACT (each pair still meets
    * exactly once, on the a-row's sub-salt); only [[capBuckets]]'s
    * hot-bucket cap trades recall.
    *
    * @param blockCol blocking-key expression (first name token, phonetic
    *                 code, …) — candidates never cross blocks
    * @param band max |length(a) − length(b)| of an emitted pair; also
    *             the bin width
    * @param fanout replication factor spreading the pair expansion
    *               across tasks (0 = the session's default parallelism) */
  def blockedLengthBandPairs(rows: DataFrame, idCol: String, strCol: String,
      blockCol: Column, band: Int, maxBucket: Int = 4096,
      fanout: Int = 0): DataFrame = {
    require(band > 0, "band must be positive")
    val np = rows.sparkSession.sparkContext.defaultParallelism
    val fo = if (fanout > 0) fanout else math.max(1, np)
    val base = rows
      .select(col(idCol).as("id"), col(strCol).as("s"), blockCol.as("blk"))
      .withColumn("len", length(col("s")))
      .withColumn("own", floor(col("len") / band).cast("long"))
    val exploded = base.select(col("id"), col("s"), col("blk"), col("len"),
      col("own"),
      explode(array(col("own") - 1, col("own"), col("own") + 1)).as("lb"))
    val capped = capBuckets(exploded, Seq("blk", "lb"), "id", maxBucket)
    val a = capped
      .toDF("id_a", "s_a", "blk", "len_a", "own_a", "lb", "salt")
      .withColumn("fan", pmod(xxhash64(col("id_a")), lit(fo.toLong)))
      .repartition(np, col("blk"), col("lb"), col("salt"), col("fan"))
    // b-side keeps only each row's OWN bin: a pair meets exactly once
    // (the a-side copy whose exploded bin equals b's own bin), so no
    // post-join distinct is needed
    val b = capped.filter(col("own") === col("lb"))
      .toDF("id_b", "s_b", "blk", "len_b", "own_b", "lb", "salt")
      .drop("own_b")
      .withColumn("fan", explode(sequence(lit(0L), lit(fo.toLong - 1))))
      .repartition(np, col("blk"), col("lb"), col("salt"), col("fan"))
    a.join(b, Seq("blk", "lb", "salt", "fan"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("len_a") - col("len_b")) <= band)
      .select(col("blk"), col("id_a"), col("s_a"), col("len_a"),
        col("id_b"), col("s_b"), col("len_b"))
  }

  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 12, bands: Int = 4, minJ: Double = 0.6,
      maxBucket: Int = 4096): DataFrame = {
    // Signature via explode + k codegen'd min-aggregates, NOT the
    // higher-order-function form: HOFs are interpreted (nested lambdas ×
    // k permutations was ~100x slower at sf0.1), while the flat exploded
    // rows stay inside whole-stage codegen and the k mins get map-side
    // partial aggregation. ONE md5 per shingle row; the k permutation
    // values are XORs with constant-folded keys (see shingleHash/permKey —
    // same signatures as the HOF twin, spec-checked).
    // The repartition spreads the hash map work: a small parquet source is
    // one input split, which would otherwise serialize the whole scan.
    // NOT cached (the wsets side): recomputing the tokenize is cheaper
    // than the cross-run planner instability a leaked InMemoryRelation
    // causes (measured: alternating 4 s / 60 s runs with a cache here,
    // stable without). verifyJaccard semi-join-prunes this relation to
    // candidate ids before tokenizing, so the corpus is tokenized ONCE
    // (signatures) plus candidates only.
    val wsets = wsetsOf(docs, idCol, textCol)
    verifyJaccard(minhashCandidates(docs, idCol, textCol, k, bands,
        maxBucket), wsets, minJ, keepCols = Seq.empty)
      .select(col("id_a"), col("id_b"), col("jac"))
  }

  /** The BANDING stage alone: LSH candidate pairs BEFORE verification —
    * the relation an evaluation ([[graft.queries.DedupTextPack]]
    * `dd_eval_lsh`) or a custom verifier consumes. Same signature/bucket/
    * hot-bucket-cap machinery [[minhashNearDups]] verifies from. */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 12, bands: Int = 4, maxBucket: Int = 4096): DataFrame = {
    val rows = k / bands
    val buckets = capBuckets(
      lshBuckets(sigsOf(docs, idCol, textCol, k), idCol, "sig", bands, rows),
      Seq("band", "key"), idCol, maxBucket)
    val a = buckets.toDF("id_a", "band", "key", "salt")
    val b = buckets.toDF("id_b", "band", "key", "salt")
    a.join(b, Seq("band", "key", "salt"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Bit width of [[simhash]] — 60 because the per-token hash is the
    * md5-prefix long of [[shingleHash]] (15 hex chars), which DuckDB
    * reproduces bit-for-bit; a full 64-bit value would need an unsigned
    * parse neither engine's BIGINT cast allows. */
  val SimhashBits = 60

  /** 60-bit SimHash of the token stream (md5-derived hash per token, ±1
    * vote per bit, sign → bit) — the native whole-stage-codegen expression
    * ([[graft.functions.Simhash60]]; the interpreted-HOF twin below was
    * measured ~1.8 s / 5 000 docs at sf0.1 purely in lambda dispatch).
    * Fully reproducible in the DuckDB oracle:
    * `CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END` summed per bit. */
  def simhash(text: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.Simhash60(
        org.apache.spark.sql.GraftSqlBridge.expression(tokens(text))))

  /** Higher-order-function twin of [[simhash]] (spec-checked equal) —
    * kept as the executable specification of the bit math. */
  def simhashHof(text: Column): Column = {
    val powers = array((0 until SimhashBits).map(i => lit(1L << i)): _*)
    val bitsum = aggregate(
      transform(tokens(text), t => shingleHash(t)), // ONE md5 per token
      array_repeat(lit(0L), SimhashBits),
      (acc, h) => zip_with(acc,
        transform(powers, p =>
          when(h.bitwiseAND(p) =!= 0, 1L).otherwise(-1L)),
        (a, b) => a + b))
    // sum of selected distinct powers == OR of the sign bits
    aggregate(zip_with(bitsum, powers,
      (s, p) => when(s > 0, p).otherwise(0L)), lit(0L), (a, b) => a + b)
  }

  /** SimHash near-dup pairs within blocks: hamming distance ≤ maxHamming.
    * Block-local all-pairs — exact, fine when blocks are bounded; for
    * unbounded blocks use [[simhashNearDupsBanded]]. */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, maxHamming: Int = 12): DataFrame = {
    val h = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol), col(blockCol), simhash(col(textCol)).as("sh"))
    val a = h.toDF("id_a", "block", "sh_a")
    val b = h.toDF("id_b", "block", "sh_b")
    a.join(b, Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** EXACT banded SimHash near-dup join — the unbounded-scale form.
    *
    * Pigeonhole: split the [[SimhashBits]]-bit key into `bands` equal
    * bit-blocks; a pair with hamming ≤ maxHamming differs in ≤ maxHamming
    * blocks, so with `bands ≥ maxHamming + 1` at least one block matches
    * EXACTLY. Candidates therefore come from an equi-join on (band_idx,
    * band_bits) — no all-pairs anywhere, recall 100% — and are verified
    * with the true popcount. Default 15 bands of 4 bits suits
    * maxHamming ≤ 14; fewer, wider bands prune harder for smaller
    * maxHamming. */
  def simhashNearDupsBanded(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 12, bands: Int = 15,
      maxBucket: Int = 4096): DataFrame = {
    val np = docs.sparkSession.sparkContext.defaultParallelism
    val h = docs.repartition(np)
      .select(col(idCol).as("id"), simhash(col(textCol)).as("sh"))
    bandedHammingPairs(h, "id", "sh", SimhashBits, maxHamming, bands,
      maxBucket)
  }

  /** EXACT banded Hamming pair join over any precomputed bit-hash column —
    * the pigeonhole machinery of [[simhashNearDupsBanded]] factored out so
    * other fingerprint families (image dHash in [[graft.Multimodal]],
    * audio fingerprints, ...) get the same no-all-pairs scale shape.
    * Returns (id_a, id_b, hamming) with id_a < id_b, hamming ≤ maxHamming.
    *
    * @param bits total hash width; every hash value must fit in `bits`
    *             bits of a non-negative long (bands must divide it) */
  def bandedHammingPairs(hashed: DataFrame, idCol: String, hashCol: String,
      bits: Int, maxHamming: Int, bands: Int,
      maxBucket: Int = 4096): DataFrame = {
    require(bands > maxHamming, s"need bands > maxHamming for exact recall")
    require(bits % bands == 0, s"bands must divide $bits")
    val width = bits / bands
    val h = hashed.select(col(idCol).as("id"), col(hashCol).as("sh"))
    val banded = capBuckets(
      h.select(col("id"), col("sh"), posexplode(
          array((0 until bands).map(b =>
            shiftrightunsigned(col("sh"), b * width)
              .bitwiseAND(lit((1L << width) - 1))): _*)))
        .toDF("id", "sh", "band", "bits"),
      Seq("band", "bits"), "id", maxBucket)
    // a capped hot bucket costs exactness: recall is 100% only while every
    // bucket is under maxBucket (the pigeonhole argument needs the FULL
    // band bucket); above it, identical-band hot sets degrade gracefully
    // instead of quadratically (see capBuckets scaladoc — spec-pinned)
    val a = banded.toDF("id_a", "sh_a", "band", "bits", "salt")
    val b = banded.toDF("id_b", "sh_b", "band", "bits", "salt")
    a.join(b, Seq("band", "bits", "salt"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Connected components over a near-dup pair set — the step that turns
    * PAIRS into duplicate GROUPS a dedup pipeline can act on (keep the
    * representative, drop the rest). Min-label propagation: every node
    * starts as its own representative and repeatedly takes the minimum
    * over itself and its neighbors' labels; converges in
    * graph-diameter rounds, and near-dup clusters are shallow (a dup
    * cluster's diameter is small by construction — transitively-similar
    * docs share bands). Each round is one shuffle join + one partial
    * aggregation over the EDGE set only, so cost is O(diameter · |E|) —
    * at web scale swap in the alternating large-star/small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce", same join
    * primitive, O(log n) rounds) if deep chains appear.
    *
    * @param pairs (id_a, id_b) near-dup pairs, any orientation
    * @return (doc_id, cluster_rep) for every node that appears in a pair
    */
  def duplicateClusters(pairs: DataFrame, maxIters: Int = 100): DataFrame = {
    val np = pairs.sparkSession.sparkContext.defaultParallelism
    // partitioned on NB — the per-round join key: the propagation join
    // then reuses this cached partitioning every round instead of
    // re-exchanging the |E| relation each pass (the old id-partitioned
    // form paid exactly that; the groupBy(id) after the join exchanges
    // |V|-sized partial aggregates either way)
    val sym = pairs
      .select(col("id_a").as("id"), col("id_b").as("nb"))
      .union(pairs.select(col("id_b").as("id"), col("id_a").as("nb")))
      .repartition(np, col("nb"))
      .cache()
    // localCheckpoint each round: an iterative DataFrame loop otherwise
    // grows its logical plan every pass and the ANALYZER, not the data,
    // becomes the bottleneck (measured: a 40-round chain hung in planning)
    var lab = sym.select(col("id")).distinct()
      .select(col("id"), col("id").as("rep")).localCheckpoint(true)
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIters) {
      // shuffle_hash on the |V|-sized label side (the q44 pattern):
      // sort-merge would re-sort the cached |E| relation every round —
      // hashing the labels streams it unsorted
      val nbMin = sym.join(lab.toDF("nb", "rep").hint("shuffle_hash"),
          Seq("nb"))
        .groupBy(col("id")).agg(min(col("rep")).as("nbrep"))
      // the convergence counter rides the checkpoint job as an
      // `observe` metric (r20; the duplicateClustersAltStar one-job
      // discipline) — the previous shape paid a separate filter-count
      // job per round whose only output was `changed`
      val obs = org.apache.spark.sql.Observation()
      val next = lab.join(nbMin.hint("shuffle_hash"), Seq("id"), "left_outer")
        .select(col("id"),
          least(col("rep"), coalesce(col("nbrep"), col("rep"))).as("rep"),
          col("rep").as("old"))
        .observe(obs,
          count(when(col("rep") =!= col("old"), 1)).as("changed"))
        .localCheckpoint(true)
      changed = obs.get("changed").asInstanceOf[Long]
      lab = next.select(col("id"), col("rep"))
      i += 1
    }
    sym.unpersist()
    // a silent cap-hit would return WRONG labels (mid-propagation) — fail
    // loudly instead; deep-diameter graphs belong on the alt-star path
    if (changed > 0) throw new IllegalStateException(
      s"duplicateClusters did not converge in $maxIters rounds — " +
        "use duplicateClustersAltStar for deep-diameter graphs")
    lab.select(col("id").as("doc_id"), col("rep").as("cluster_rep"))
  }

  /** Size-adaptive connected components (the jaccardPairs auto-strategy
    * pattern applied to the cluster fold): a dedup graph's VERIFIED
    * near-dup edge set is usually minuscule relative to the corpus (238
    * edges at sf0.1), yet [[duplicateClusters]] pays its per-round fixed
    * job overhead regardless of size — measured ~1.3 s on that 238-edge
    * graph, pure scheduling. Below `maxDriverEdges` the fold is a driver
    * union-find over ONE bounded collect (100k edges ≈ 1.6 MB — the
    * codebook boundary), with reps normalized to the component minimum so
    * the output CONTRACT is identical to label propagation
    * (spec-checked on both branches); above it, the distributed
    * propagation runs unchanged. The size check is one count over the
    * checkpointed pairs, which the distributed path reuses. */
  def duplicateClustersAuto(pairs: DataFrame,
      maxDriverEdges: Long = 100000L): DataFrame = {
    // the size check rides the checkpoint materialization as an
    // `observe` metric (r21; the duplicateClustersAltStar one-job
    // discipline) — the previous shape paid a separate count job whose
    // only output was the branch decision
    val obs = org.apache.spark.sql.Observation()
    val p = pairs
      .select(col("id_a").cast("long").as("id_a"),
        col("id_b").cast("long").as("id_b"))
      .observe(obs, count(lit(1)).as("n"))
      .localCheckpoint(true)
    if (obs.get("n").asInstanceOf[Long] > maxDriverEdges)
      duplicateClusters(p)
    else {
      val edges = p.collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val nxt = parent.getOrElse(c, c); parent(c) = r; c = nxt
        }
        r
      }
      edges.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val reps = parent.keys.toSeq.map(n => (n, find(n)))
      val minRep = reps.groupBy(_._2).map { case (root, ms) =>
        root -> ms.map(_._1).min }
      val rows = reps.map { case (n, root) => (n, minRep(root)) }.sortBy(_._1)
      p.sparkSession.createDataFrame(rows)
        .toDF("doc_id", "cluster_rep")
    }
  }

  /** Connected components in O(log n) rounds — the deep-chain path
    * [[duplicateClusters]]'s scaladoc names: alternating large-star /
    * small-star contractions (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", public algorithm). Each round is two
    * groupBy+join passes over the edge set; the number of rounds is
    * logarithmic in component size rather than linear in diameter, so a
    * pathological million-doc duplicate chain converges in ~20 rounds
    * instead of a million. Same output contract as [[duplicateClusters]]
    * (spec-checked equal on seeded random graphs).
    *
    *  - large-star: every node links its LARGER neighbors to the minimum
    *    of its closed neighborhood;
    *  - small-star: every node links its smaller-or-equal neighbors (and
    *    itself) to that minimum.
    *
    * Convergence = the edge set reaches a fixpoint (stars pointing at
    * component minima); detected by (count, hash-sum) signature. */
  def duplicateClustersAltStar(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    val np = pairs.sparkSession.sparkContext.defaultParallelism

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u"))
        .agg(least(min(col("v")), col("u")).as("m")) // min over Γ⁺(u)
      sym.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
      val mins = dir.groupBy(col("u")).agg(min(col("v")).as("m"))
      val linked = dir.join(mins, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("u"), col("m").as("v")))
      linked.filter(col("u") =!= col("v")).distinct()
    }

    // set signature: (count, XOR of row hashes) — XOR is order-independent
    // and cannot overflow (an ANSI-mode sum of hashes would). Collected
    // via `observe` DURING the checkpoint materialization, so each round
    // runs ONE job, not checkpoint + a separate signature action (the
    // loop is scheduling-bound on small fixtures: ~6 rounds × 1 saved
    // scheduler round trip each).
    def checkpointWithSig(e: DataFrame): (DataFrame, (Long, Long)) = {
      val obs = org.apache.spark.sql.Observation()
      val ce = e.observe(obs, count(lit(1)).as("n"),
          coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)).as("x"))
        .localCheckpoint(true)
      val m = obs.get
      (ce, (m("n").asInstanceOf[Long], m("x").asInstanceOf[Long]))
    }

    var (edges, sig) = checkpointWithSig(pairs
      .select(col("id_a").cast("long").as("u"), col("id_b").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .repartition(np, col("u")))
    var i = 0
    var converged = false
    while (!converged && i < maxIters) {
      // localCheckpoint: truncate the iterative lineage (see
      // duplicateClusters — planning cost, not data, dominates otherwise)
      val (next, nextSig) = checkpointWithSig(smallStar(largeStar(edges)))
      edges = next
      converged = nextSig == sig
      sig = nextSig
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"duplicateClustersAltStar did not converge in $maxIters rounds")
    // fixpoint edges are (member → component-min) stars; add the roots
    val members = edges.select(col("u").as("doc_id"), col("v").as("cluster_rep"))
    val roots = edges.select(col("v")).distinct()
      .select(col("v").as("doc_id"), col("v").as("cluster_rep"))
    members.union(roots).distinct()
  }

  /** Benchmark-contamination detection — the asymmetric twin of dedup: how
    * much of each TEST document's n-gram stream appears anywhere in the
    * TRAIN corpus (the standard 8-gram containment check run before
    * training on scraped data). Returns only contaminated docs:
    * `(idCol, n_grams, n_hit, ratio)`.
    *
    * Scale shape: the train side collapses to DISTINCT 60-bit md5 gram
    * hashes (one shuffle of 8-byte keys — never the gram strings), the
    * test side is one explode + two partial-aggregable counts, and the
    * containment probe is a semi-join on the hash. At extreme train sizes
    * the distinct-hash relation is the natural input to a bloom-filter
    * pushdown ([[contaminationBloom]]); this relational form stays the
    * ground truth. */
  def contamination(train: DataFrame, test: DataFrame, idCol: String,
      textCol: String, n: Int = 8): DataFrame = {
    val np = train.sparkSession.sparkContext.defaultParallelism
    val trainGrams = train.repartition(np)
      .select(explode(ngrams(col(textCol), n)).as("g"))
      .select(shingleHash(col("g")).as("h"))
      .distinct()
    val testGrams = test.repartition(np)
      .select(col(idCol), explode(ngrams(col(textCol), n)).as("g"))
      .select(col(idCol), shingleHash(col("g")).as("h"))
    val totals = testGrams.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"))
    val hits = testGrams.join(trainGrams, Seq("h"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hit"))
    totals.join(hits, Seq(idCol))
      .select(col(idCol), col("n_grams"), col("n_hit"),
        Graft.roundExact(col("n_hit").cast("double") / col("n_grams"), 4)
          .as("ratio"))
  }

  /** [[contamination]] with a broadcast Bloom-filter prefilter on the probe
    * side — the scaladoc'd "bloom-filter pushdown" made real. The distinct
    * train-hash relation (materialized once via localCheckpoint — it feeds
    * both the filter build and the exact semi-join) is aggregated into a
    * Bloom filter (`DataFrameStatFunctions.bloomFilter`: distributed
    * partial sketches, driver merge), broadcast, and applied to the test
    * grams BEFORE the semi-join shuffle. Bloom filters have no false
    * negatives, so every truly-contaminated gram survives the prefilter and
    * the exact semi-join that follows makes the result IDENTICAL to
    * [[contamination]] (spec-pinned); false positives only cost a little
    * shuffle. At scale this turns the probe-side shuffle from "every test
    * gram" into "test grams that might hit" — on mostly-clean corpora a
    * ~fpp-sized trickle.
    *
    * Sizing caveat for 100 TB: the driver-merged filter is ~7.3 bits per
    * distinct train gram at fpp=0.03 (100 M grams ≈ 91 MB — fine; 10¹² is
    * not). Past driver memory, shard the filter by hash range or drop back
    * to [[contamination]] — which remains the ground truth either way. */
  def contaminationBloom(train: DataFrame, test: DataFrame, idCol: String,
      textCol: String, n: Int = 8, fpp: Double = 0.03): DataFrame = {
    val spark = train.sparkSession
    val np = spark.sparkContext.defaultParallelism
    val trainGrams = train.repartition(np)
      .select(explode(ngrams(col(textCol), n)).as("g"))
      .select(shingleHash(col("g")).as("h"))
      .distinct()
      .localCheckpoint(true)
    val nTrain = trainGrams.count()
    // empty train side: nothing can be contaminated, and
    // stat.bloomFilter over an empty relation returns a null sketch
    val probeFilter =
      if (nTrain == 0) lit(false)
      else graft.functions.BloomMightContain(
        spark.sparkContext.broadcast(
          trainGrams.stat.bloomFilter("h", nTrain, fpp)),
        col("h"))
    val testGrams = test.repartition(np)
      .select(col(idCol), explode(ngrams(col(textCol), n)).as("g"))
      .select(col(idCol), shingleHash(col("g")).as("h"))
    val totals = testGrams.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"))
    // codegen broadcast-bitset probe on a map-side path, applied before
    // any shuffle; the exact semi-join after it restores exactness
    val hits = testGrams
      .filter(probeFilter)
      .join(trainGrams, Seq("h"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hit"))
    totals.join(hits, Seq(idCol))
      .select(col(idCol), col("n_grams"), col("n_hit"),
        Graft.roundExact(col("n_hit").cast("double") / col("n_grams"), 4)
          .as("ratio"))
  }

  /** C4-style global SPAN dedup (Raffel et al. 2020 §2.2 removed any
    * three-sentence span occurring more than once in the corpus; Lee et
    * al. 2021 generalizes to exact substrings): cut every document into
    * disjoint `spanTokens`-token spans, count each span ACROSS the whole
    * corpus, delete every occurrence of any span seen more than once, and
    * reassemble the survivors in document order. Unlike document-level
    * dedup this removes boilerplate that recurs inside otherwise-unique
    * documents (headers, disclaimers, templated paragraphs).
    *
    * Fixed-stride token spans stand in for sentence splits (the relational
    * form scales where suffix arrays do not): span boundaries are
    * deterministic, so a repeated paragraph produces identical span
    * strings wherever it appears at the same phase; C4's sentence anchors
    * have the same phase caveat.
    *
    * Scale shape: the span relation is |corpus tokens|/spanTokens rows;
    * the duplicate-span set comes from one partially-aggregated count
    * (map-side combine collapses each partition's repeats first), the
    * delete is a shuffle ANTI-join against that (much smaller) set — AQE
    * broadcasts it when it fits — and the ordered reassembly is one
    * groupBy(id). No stage is quadratic and nothing touches the driver.
    *
    * @return (idCol, clean_text, n_removed) for EVERY input document —
    *         fully-scrubbed documents keep their row with clean_text = "" */
  def spanScrub(docs: DataFrame, idCol: String, textCol: String,
      spanTokens: Int = 5): DataFrame = {
    val w = spanTokens
    // materialize the token array once per row: referencing the split
    // inside the transform lambda would re-split per span (see [[ngrams]])
    val toked = docs.select(col(idCol), tokens(col(textCol)).as("toks"))
      .withColumn("n_spans",
        ceil(size(col("toks")) / lit(w.toDouble)).cast("int"))
    // zero-span guard (r8 advisory): sequence(0, -1) auto-steps DOWN,
    // so an n_spans = 0 row would fan out two phantom spans [0, -1] —
    // unreachable while tokens() never returns an empty array, but that
    // invariant must not be load-bearing here. The filter excludes the
    // case (such docs still exit via the left join: clean_text "",
    // n_removed 0); the explicit +1 step turns any regression into a
    // loud ILLEGAL_SEQUENCE error instead of silent phantom spans
    val spans = toked.filter(col("n_spans") > 0)
      .select(col(idCol), col("n_spans"), posexplode(
        transform(sequence(lit(0), col("n_spans") - 1, lit(1)),
          i => array_join(slice(col("toks"), i * w + 1, lit(w)), " "))))
      .toDF(idCol, "n_spans", "pos", "span")
    val dupSpans = spans.groupBy("span").count()
      .filter(col("count") > 1).select("span")
    val kept = spans.join(dupSpans, Seq("span"), "left_anti")
    val reassembled = kept.groupBy(col(idCol)).agg(
      array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("span")))),
          s => s.getField("span")), " ").as("clean_text"),
      count(lit(1)).cast("int").as("n_kept"))
    toked.select(col(idCol), col("n_spans"))
      .join(reassembled, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("n_spans") - coalesce(col("n_kept"), lit(0)))
          .cast("int").as("n_removed"))
  }

  /** The full corpus-cleaning composition — what a training-data pipeline
    * actually emits: exact dedup first (keep the smallest id per identical
    * text — one hash shuffle), then MinHash near-dup clustering over the
    * survivors ([[minhashNearDups]] → [[duplicateClusters]]), keeping each
    * cluster's representative. Returns the kept `(idCol)` rows.
    *
    * Every stage is a shape proven on its own gate query (dd_keep_first,
    * dd_minhash_lsh, dd_clusters); this operator is their composition, and
    * its oracle re-derives the same survivors with a recursive CTE. */
  def dedupCorpus(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 12, bands: Int = 4, minJ: Double = 0.6): DataFrame = {
    // pin the exact-dedup survivors once: the relation feeds the
    // signature build AND the final anti-join, and without the checkpoint
    // each consumer re-runs the text-hash shuffle over the full corpus
    // (localCheckpoint, not cache — caching relations that feed minhash
    // planning destabilizes the planner, see minhashNearDups)
    val exactKept = docs.groupBy(col(textCol))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol), col(textCol))
      .localCheckpoint(true)
    val pairs = minhashNearDups(exactKept, idCol, textCol, k, bands, minJ)
    // size-adaptive cluster fold: the verified-pair graph is tiny at any
    // healthy dup rate, and the driver union-find skips label
    // propagation's per-round job overhead (see duplicateClustersAuto)
    val dropped = duplicateClustersAuto(pairs.select(col("id_a"), col("id_b")))
      .filter(col("doc_id") =!= col("cluster_rep"))
      .select(col("doc_id").as(idCol))
    exactKept.select(col(idCol))
      .join(dropped, Seq(idCol), "left_anti")
  }

  /** Embedding near-duplicate pairs above a cosine threshold at scale:
    * candidates from MLlib random-projection LSH buckets (unit-norm
    * vectors: euclidean ≤ √(2−2·minCos) ⟺ cosine ≥ minCos), verified
    * with the exact cosine. No all-pairs stage — the join is bucket-
    * co-located — so block size never goes quadratic; recall is the LSH
    * probability (spec-checked ≥ 0.9 on the fixture), not 1.0. This is
    * the 100TB path; [[embeddingTopPairs]] stays the exact small-block
    * form (and the oracle twin). */
  def embeddingNearPairs(emb: DataFrame, idCol: String, vecCol: String,
      minCos: Double, tables: Int = 8, bucketLength: Double = 0.5): DataFrame = {
    val np = emb.sparkSession.sparkContext.defaultParallelism
    val dist = math.sqrt(math.max(0.0, 2.0 - 2.0 * minCos))
    val (model, withVec) = Ann.lshModel(
      emb.repartition(np), vecCol, tables, bucketLength)
    model.approxSimilarityJoin(withVec, withVec, dist, "dist")
      .select(col(s"datasetA.$idCol").as("id_a"),
        col(s"datasetB.$idCol").as("id_b"),
        col("datasetA." + vecCol).as("va"),
        col("datasetB." + vecCol).as("vb"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(Graft.cosine(col("va"), col("vb")), 4).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** Incremental dedup — the INGESTION shape: a small new `batch` arrives
    * against an already-clean `corpus`, and only the batch does new work
    * (the corpus side is its pre-materializable band index + a text-hash
    * anti-join; nothing re-clusters the corpus — at 100 TB that is the
    * whole point). Ids must be disjoint across the two frames.
    *
    * Survivors of the batch, in order:
    *  1. drop exact text matches against the corpus (anti-join), then
    *     exact keep-first WITHIN the batch (min id per text),
    *  2. drop batch docs that are verified MinHash near-dups (Jaccard ≥
    *     `minJ`) of ANY corpus doc — batch band buckets probe the corpus
    *     band buckets, an equi-join whose work scales with the batch,
    *  3. cluster the remaining batch docs among THEMSELVES
    *     ([[minhashNearDups]] → [[duplicateClusters]]) and keep each
    *     cluster's min-id representative.
    * Returns the kept `(idCol)` rows. */
  def dedupIncremental(corpus: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, k: Int = 12, bands: Int = 4,
      minJ: Double = 0.6): DataFrame = {
    val ix = buildCorpusIndex(corpus, idCol, textCol, k, bands)
    // One-shot build path (r21): the corpus-side band index and word
    // sets are each consumed ONCE, several batch jobs into the probe —
    // previously they were evaluated serially INSIDE the consuming jobs
    // (the corpus minhash pass inside the candidate pin, the corpus
    // tokenize pass inside the survivor pin). Start both
    // materializations now on the shared action pool so they run
    // concurrently with the batch pre-work (guide §2.6); the impl joins
    // each future exactly where the relation is first needed. Pins are
    // the build cost the one-shot form always paid — work-∝-batch
    // callers hold a prebuilt index and take the CorpusIndex overload,
    // which pins nothing.
    val fb = graft.Graft.defer(ix.buckets.localCheckpoint(true))
    val fw = graft.Graft.defer(ix.wsets.localCheckpoint(true))
    dedupIncrementalImpl(ix.texts, fb, fw, batch, idCol, textCol,
      k, bands, minJ)
  }

  /** The corpus-side artifacts [[dedupIncremental]] probes — build (or
    * incrementally append to) these ONCE, write them out, and every
    * subsequent batch does only batch-proportional work. Deriving them
    * from raw corpus text costs one full corpus pass; the convenience
    * overload above does exactly that, which is fine for one-shot use but
    * defeats the ingestion shape if called per micro-batch.
    *
    * `texts` carries a per-distinct-text multiplicity `n` (how many
    * corpus docs have exactly that text) so DELETION can decide whether
    * a text is still live without re-scanning the corpus: a deleted
    * doc's text stays in the exact-dup filter iff some surviving doc
    * shares it. `tombs` is the pending tombstone relation —
    * `(id_d, text_d)` rows recorded by [[deleteFromCorpusIndex]],
    * anti-joined/netted out at probe time and folded in by
    * [[compactCorpusIndex]]. `None` ⇒ no pending deletes (the common
    * case pays zero overhead). */
  case class CorpusIndex(texts: DataFrame, buckets: DataFrame,
      wsets: DataFrame, tombs: Option[DataFrame] = None)

  def buildCorpusIndex(corpus: DataFrame, idCol: String, textCol: String,
      k: Int = 12, bands: Int = 4): CorpusIndex = {
    val rows = k / bands
    CorpusIndex(
      corpus.groupBy(col(textCol)).agg(count(lit(1)).as("n")),
      lshBuckets(sigsOf(corpus, idCol, textCol, k),
        idCol, "sig", bands, rows).toDF("id_b", "band", "key"),
      wsetsOf(corpus, idCol, textCol))
  }

  /** GDPR-style deletion from a [[CorpusIndex]] — the incremental form
    * of the reference's truncate-and-reload refresh
    * (/root/reference/camp_vec_save.py:59-79 rebuilds the whole index to
    * pick up removals; at 100 TB a rebuild per delete request is not an
    * option). `deleted` must be the `(idCol, textCol)` rows of docs
    * CURRENTLY in the index (the deleting caller knows its documents;
    * ids must not repeat across calls). The operation only RECORDS
    * tombstones — a distinct + union, work ∝ tombstones, nothing
    * corpus-sized moves — and every probe ([[dedupIncremental]]) serves
    * from the live view: buckets/wsets anti-joined on the tombstoned
    * ids, texts netted against the tombstones' per-text counts (a text
    * stays in the exact-dup filter iff surviving multiplicity > 0).
    * Spec-pinned: delete-then-probe ≡ probe of
    * `buildCorpusIndex(corpus \ deleted)`. Fold the debt in with
    * [[compactCorpusIndex]] once [[tombstoneFraction]] crosses the
    * deployment's threshold. */
  def deleteFromCorpusIndex(index: CorpusIndex, deleted: DataFrame,
      idCol: String, textCol: String): CorpusIndex = {
    val t = deleted
      .select(col(idCol).as("id_d"), col(textCol).as("text_d"))
      .distinct()
    // distinct across CALLS too — this one is correctness, not just
    // bookkeeping: the live view nets text multiplicities by COUNTING
    // tombstone rows, so a re-issued delete of the same (id, text)
    // would subtract a shared text twice and kill it while a surviving
    // owner still holds it
    index.copy(tombs =
      Some(index.tombs.fold(t)(_.unionByName(t).distinct())))
  }

  /** The live (tombstones-applied) view of an index — what every probe
    * reads. No-op (zero plan overhead) when no deletes are pending. */
  private[graft] def liveCorpusIndex(index: CorpusIndex,
      textCol: String): CorpusIndex = index.tombs match {
    case None => index
    case Some(t) =>
      val ids = t.select(col("id_d"))
      val delta = t.groupBy(col("text_d").as(textCol))
        .agg((-count(lit(1))).as("n"))
      CorpusIndex(
        index.texts.unionByName(delta)
          .groupBy(col(textCol)).agg(sum(col("n")).as("n"))
          .filter(col("n") > 0),
        index.buckets.join(ids, col("id_b") === col("id_d"), "left_anti"),
        index.wsets.join(ids, col("id") === col("id_d"), "left_anti"))
  }

  /** Fold pending tombstones into the base artifacts (the threshold-
    * triggered maintenance step: each probe pays the anti-joins until
    * someone compacts). One corpus-sized pass, exactly what the
    * tombstones deferred; the result has no pending deletes. */
  def compactCorpusIndex(index: CorpusIndex,
      textCol: String): CorpusIndex =
    liveCorpusIndex(index, textCol)

  /** Pending-tombstone fraction (tombstoned docs / indexed docs) — the
    * compaction trigger. Costs two counts; callers compact when it
    * crosses their threshold (probe overhead grows with the fraction,
    * so ~0.1 is a sane default):
    * `if (tombstoneFraction(ix) > 0.1) compactCorpusIndex(ix, "text")`. */
  def tombstoneFraction(index: CorpusIndex): Double = index.tombs match {
    case None => 0.0
    case Some(t) =>
      val total = index.wsets.count()
      if (total == 0) 1.0 else t.count().toDouble / total
  }

  /** Close the ingestion loop: fold a batch's ACCEPTED rows (the
    * [[dedupIncremental]] survivors, with their texts) into the index so
    * the NEXT batch dedups against them too — three unions, no join, no
    * corpus re-scan: only the accepted rows are shingled/hashed.
    *
    * Equivalent to `buildCorpusIndex(corpus ∪ accepted)` — the property
    * the incremental shape silently assumes, spec-proven on the fixture —
    * PROVIDED `accepted` really is the survivor set: its texts are then
    * disjoint from the index's (stage-1 anti-join) and distinct within the
    * batch (keep-first per text), so plain unions preserve the build's
    * `distinct()` invariant without re-shuffling the corpus side. Every
    * per-doc artifact (band buckets, word sets) is deterministic per row,
    * so union-of-builds IS build-of-union there.
    *
    * At 100 TB this is the whole point of the index: per-batch cost is
    * batch-proportional (append), never corpus-proportional (rebuild).
    * Persist the result with [[saveCorpusIndex]] between batches.
    * MATERIALIZE `accepted` first (`localCheckpoint`, or it already sits
    * in storage): it feeds all three index frames, and each downstream
    * probe of the un-persisted index would re-run the whole batch-dedup
    * lineage that produced the survivors. */
  def appendCorpusIndex(index: CorpusIndex, accepted: DataFrame,
      idCol: String, textCol: String, k: Int = 12,
      bands: Int = 4): CorpusIndex = {
    val rows = k / bands
    CorpusIndex(
      // accepted survivors are distinct-by-text and disjoint from the
      // LIVE texts, so each arrives with multiplicity 1; a text whose
      // last owner was tombstoned nets back to 1 through the view
      index.texts.unionByName(
        accepted.select(col(textCol), lit(1L).as("n"))),
      index.buckets.unionByName(
        lshBuckets(sigsOf(accepted, idCol, textCol, k),
          idCol, "sig", bands, rows).toDF("id_b", "band", "key")),
      index.wsets.unionByName(wsetsOf(accepted, idCol, textCol)),
      index.tombs)
  }

  /** Materialize the three index frames as parquet under `dir` — the
    * between-batches persistence of the ingestion loop (build or append
    * once, write, reload for the next batch; reloading also truncates the
    * ever-growing union lineage to a flat scan). Buckets are written
    * partitioned by `band`: a batch probe equi-joins on (band, key), so
    * at scale the shuffle reads only the matching band files. */
  def saveCorpusIndex(index: CorpusIndex, dir: String): Unit = {
    index.texts.write.mode("overwrite").parquet(s"$dir/texts")
    index.buckets.write.mode("overwrite").partitionBy("band")
      .parquet(s"$dir/buckets")
    index.wsets.write.mode("overwrite").parquet(s"$dir/wsets")
    saveCorpusTombstones(index, dir)
  }

  /** Persist ONLY the tombstone relation — the delete path's write.
    * A delete request against a saved index is `load → delete → THIS`:
    * work ∝ tombstones (the base artifacts on disk are untouched),
    * which is the whole point of tombstoning over rewrite. */
  def saveCorpusTombstones(index: CorpusIndex, dir: String): Unit =
    index.tombs match {
      case Some(t) => t.write.mode("overwrite").parquet(s"$dir/tombs")
      case None =>
        val p = new Path(s"$dir/tombs")
        val fs = fsOfIndex(p, index.texts)
        if (fs.exists(p)) fs.delete(p, true): Unit
    }

  private def fsOfIndex(p: Path, any: DataFrame) =
    p.getFileSystem(
      any.sparkSession.sparkContext.hadoopConfiguration)

  /** Reload a [[saveCorpusIndex]] directory (pre-multiplicity indexes
    * load with n=1 — exact-dup semantics unchanged; deletes of shared
    * texts need a rebuilt or compacted index to be multiplicity-aware). */
  def loadCorpusIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): CorpusIndex = {
    val textsRaw = spark.read.parquet(s"$dir/texts")
    val texts = if (textsRaw.columns.contains("n")) textsRaw
      else textsRaw.withColumn("n", lit(1L))
    val tombsPath = new Path(s"$dir/tombs")
    val fs = tombsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    CorpusIndex(
      texts,
      spark.read.parquet(s"$dir/buckets")
        .select(col("id_b"), col("band"), col("key")),
      spark.read.parquet(s"$dir/wsets"),
      if (fs.exists(tombsPath)) Some(spark.read.parquet(s"$dir/tombs"))
      else None)
  }

  /** [[dedupIncremental]] against pre-materialized corpus artifacts —
    * every stage here scales with the BATCH: the exact anti-join probes
    * `index.texts`, the batch's bands probe `index.buckets`, and
    * verification prunes `index.wsets` to candidate ids first. */
  def dedupIncremental(rawIndex: CorpusIndex, batch: DataFrame, idCol: String,
      textCol: String, k: Int, bands: Int, minJ: Double): DataFrame = {
    // probes always read the LIVE view — pending tombstones (deleted
    // docs) must neither reject a batch doc (stage 1) nor vote as a
    // near-dup neighbor (stage 2); zero plan change when none pending
    val index = liveCorpusIndex(rawIndex, textCol)
    dedupIncrementalImpl(index.texts, () => index.buckets,
      () => index.wsets, batch, idCol, textCol, k, bands, minJ)
  }

  /** [[dedupIncremental]]'s body over the corpus-side relations as
    * join-on-demand thunks: the prebuilt-index overload passes them
    * verbatim (zero behavior change), the one-shot build overload passes
    * deferred concurrent materializations (r21 — the corpus passes
    * overlap the batch chain instead of serializing inside its jobs). */
  private def dedupIncrementalImpl(corpusTexts: DataFrame,
      corpusBuckets: () => DataFrame, corpusWsets: () => DataFrame,
      batch: DataFrame, idCol: String, textCol: String,
      k: Int, bands: Int, minJ: Double): DataFrame = {
    val rows = k / bands
    val b1 = batch.select(col(idCol), col(textCol))
      .join(corpusTexts, Seq(textCol), "left_anti")
    // the batch-survivor relations are each consumed by SEVERAL
    // downstream stages — unpinned, every consumer re-ran the whole
    // anti-join + cross-verification lineage (measured 13 s at sf0.1;
    // pinned ~4 s). All pins are BATCH-sized, so they keep the
    // work-∝-batch contract; b2's blocks free as soon as its three
    // derivations (sigs, wsets, b3 — each checkpointed) materialize.
    val b2 = b1.groupBy(col(textCol)).agg(min(col(idCol)).as(idCol))
      .select(col(idCol), col(textCol))
      .localCheckpoint(true)
    // signatures and word sets are per-row deterministic, so the batch
    // is shingled/hashed and tokenized ONCE: the cross-probe reads
    // these, and the within-batch stage REUSES them via id semi-joins
    // (the r12 driver profile showed the batch minhashed twice — once
    // for bBuckets, once inside minhashNearDups(b3)). The two
    // materializations are independent reads of the pinned b2, so they
    // run as CONCURRENT jobs on the shared action pool — wall is
    // max(minhash, tokenize), not their sum
    val (sigs2, wsets2) = Graft.inParallel(
      sigsOf(b2, idCol, textCol, k).localCheckpoint(true),
      wsetsOf(b2, idCol, textCol).localCheckpoint(true))
    val bBuckets = lshBuckets(sigs2, idCol, "sig", bands, rows)
      .toDF("id_a", "band", "key")
    val cands = bBuckets.join(corpusBuckets(), Seq("band", "key"))
      .select("id_a", "id_b").distinct()
    val wsetsAll = wsets2.unionByName(corpusWsets())
    val crossHits = verifyJaccard(cands, wsetsAll, minJ, keepCols = Seq.empty)
      .select(col("id_a").as(idCol)).distinct()
    val b3 = b2.join(crossHits, Seq(idCol), "left_anti")
      .localCheckpoint(true)
    org.apache.spark.sql.GraftSqlBridge.freeLocalCheckpoint(b2)
    // within-batch near-dups = minhashNearDups(b3) with the sig/wset
    // work already paid: sigsOf(b3) ≡ sigs2 filtered to b3's ids, and
    // verifyJaccard semi-join-prunes its word relation to candidate
    // ids itself, so the b2 superset stands in for wsetsOf(b3)
    val b3ids = b3.select(col(idCol))
    val sigs3 = sigs2.join(b3ids, Seq(idCol), "left_semi")
    val buckets3 = capBuckets(lshBuckets(sigs3, idCol, "sig", bands, rows),
      Seq("band", "key"), idCol, maxBucket = 4096)
    val a3 = buckets3.toDF("id_a", "band", "key", "salt")
    val c3 = buckets3.toDF("id_b", "band", "key", "salt")
    val cands3 = a3.join(c3, Seq("band", "key", "salt"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val pairs = verifyJaccard(cands3, wsets2, minJ, keepCols = Seq.empty)
    // size-adaptive clustering (the dedupCorpus convention): the
    // WITHIN-BATCH near-dup graph is batch-bounded — far under the
    // driver union-find cutoff on every sane micro-batch — so the
    // common case pays one bounded collect + a broadcast join instead
    // of label propagation's per-round shuffle+checkpoint jobs
    // (measured 5.5 → 4.6 s on the sf0.1 bench split; past the cutoff
    // it falls back to the distributed loop unchanged)
    val dropped = duplicateClustersAuto(pairs.select(col("id_a"), col("id_b")))
      .filter(col("doc_id") =!= col("cluster_rep"))
      .select(col("doc_id").as(idCol))
    b3.select(col(idCol)).join(dropped, Seq(idCol), "left_anti")
  }

  /** Corpus curation: near-dup clustering that keeps the BEST doc per
    * cluster instead of the smallest id — the rule real training-data
    * pipelines use (of N near-identical crawls, keep the highest-quality
    * one, e.g. the least boilerplate-damaged). Clusters come from
    * [[minhashNearDups]] → [[duplicateClusters]] (both oracle-proven
    * shapes); the keep rule is one partial-aggregable `min_by` over
    * `(-quality, id)` — quality ties break to the SMALLEST id, matching
    * [[dedupCorpus]]'s convention, and only the DOUBLE quality is negated
    * (negating the id would fail on string ids and ANSI-overflow on
    * `Long.MinValue`). `quality` must be an engine-agnostic
    * column (rounded via [[graft.Graft.roundExact]]) for the oracle to
    * reproduce the argmax; returns the surviving `(idCol)` rows. */
  def dedupKeepBest(docs: DataFrame, idCol: String, textCol: String,
      quality: Column, k: Int = 12, bands: Int = 4,
      minJ: Double = 0.6): DataFrame = {
    val pairs = minhashNearDups(docs, idCol, textCol, k, bands, minJ)
    val comp = duplicateClustersAuto(pairs.select(col("id_a"), col("id_b")))
      .withColumnRenamed("doc_id", idCol)
    val scored = docs.select(col(idCol), quality.as("q"))
    val best = comp.join(scored, Seq(idCol))
      .groupBy(col("cluster_rep"))
      .agg(min_by(col(idCol), struct(-col("q"), col(idCol))).as(idCol))
      .select(col(idCol))
    scored.select(col(idCol))
      .join(comp, Seq(idCol), "left_anti")
      .union(best)
  }

  /** SemDeDup — semantic deduplication over an embedding column (Abbas et
    * al. 2023, "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication", arXiv:2303.09540 — public algorithm):
    *
    *  1. coarse-cluster the embeddings ([[Ann.buildIvf]]'s deterministic
    *     md5-sample centroids, so the whole pipeline has a DuckDB twin;
    *     [[Ann.buildIvfKMeansLloyd]] drops in for the quality path),
    *  2. generate candidate pairs ONLY within a cluster (the paper's point:
    *     the pair stage is Σ bucket² instead of N² — at 100 TB the
    *     clusters bound the quadratic term, and the self-join is
    *     co-partitioned on centroid_id),
    *  3. connect pairs with cosine ≥ `eps` into duplicate groups
    *     ([[duplicateClusters]]),
    *  4. keep ONE doc per group — per the paper, the member FURTHEST from
    *     its centroid (lowest centroid-cosine; the most atypical example
    *     carries the most training signal), ties broken by id.
    *
    * Returns the surviving `(idCol)` rows: unclustered docs plus one
    * representative per semantic-duplicate group. */
  def semanticDedup(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", numCentroids: Int = 8,
      eps: Double = 0.4): DataFrame = {
    val ivf = Ann.buildIvf(emb, numCentroids, idCol, vecCol)
    // each member's cosine to its OWN centroid — the keep-rule ordering
    val withCs = ivf.assignments
      .join(broadcast(ivf.centroids), Seq("centroid_id"))
      .select(col(idCol), col(vecCol), col("centroid_id"),
        Graft.cosine(col(vecCol), col("cvec")).as("cs"))
      .localCheckpoint(true) // feeds pairs twice + the keep-rule join
    val a = withCs.select(col("centroid_id"), col(idCol).as("id_a"),
      col(vecCol).as("va"))
    val b = withCs.select(col("centroid_id"), col(idCol).as("id_b"),
      col(vecCol).as("vb"))
    val pairs = a.join(b, Seq("centroid_id"))
      .filter(col("id_a") < col("id_b"))
      .filter(Graft.cosine(col("va"), col("vb")) >= eps)
      .select(col("id_a"), col("id_b"))
    val comp = duplicateClusters(pairs) // (doc_id, cluster_rep)
    val keepers = comp
      .join(withCs.select(col(idCol).as("doc_id"), col("cs")), Seq("doc_id"))
      .groupBy(col("cluster_rep"))
      .agg(min_by(col("doc_id"), struct(col("cs"), col("doc_id")))
        .as(idCol))
      .select(col(idCol))
    emb.select(col(idCol))
      .join(comp.select(col("doc_id").as(idCol)), Seq(idCol), "left_anti")
      .union(keepers)
  }

  /** Embedding-cosine near-dup: top `perBlock` most-similar pairs per
    * block (label) — blocked pairwise, ranked, deterministic tie-breaks. */
  def embeddingTopPairs(emb: DataFrame, idCol: String, vecCol: String,
      blockCol: String, perBlock: Int = 3): DataFrame = {
    val a = emb.repartition(emb.sparkSession.sparkContext.defaultParallelism)
      .select(col(blockCol).as("block"), col(idCol).as("id_a"),
        col(vecCol).as("va"))
    val b = emb.select(col(blockCol).as("block"), col(idCol).as("id_b"),
      col(vecCol).as("vb"))
    val pairs = a.join(b, Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .select(col("block"), col("id_a"), col("id_b"),
        Graft.cosine(col("va"), col("vb")).as("cos"))
    val w = Window.partitionBy(col("block"))
      .orderBy(col("cos").desc, col("id_a"), col("id_b"))
    pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= perBlock)
      .select(col("block"), col("id_a"), col("id_b"),
        round(col("cos"), 4).as("cos"))
  }

  /** WINNOWING fingerprints (Schleimer, Wilkerson & Aiken 2003,
    * "Winnowing: Local Algorithms for Document Fingerprinting" — the
    * MOSS scheme): hash every word n-gram, slide a w-position window
    * over the hash sequence, and keep each window's MINIMUM — ties on
    * leftmost position via a combined (hash, position) key, so the
    * selection is a pure windowed `min` both engines compute
    * identically. The guarantees the spec pins: every w consecutive
    * grams contribute ≥ 1 fingerprint (coverage), so any shared run of
    * ≥ w+n−1 tokens shares ≥ 1 fingerprint (detection); expected
    * density is 2/(w+1) — an order-of-magnitude compression of the
    * gram stream that STILL localizes matches (positions ride along),
    * which MinHash signatures cannot do.
    *
    * Scale shape: one repartitioned generator pass (grams never leave
    * their doc's partition), one per-doc window (partition key = doc id
    * — high cardinality), one distinct. The combined key packs
    * `pmod(hash, 2^40)` and the gram position into one long
    * (`h40·2^20 + pos`), so the window aggregates a fixed-width long —
    * codegen HashAggregate territory. Docs must have ≤ 2^20 grams (a
    * million words — chunk longer docs first, [[Retrieval]] chunker);
    * the contract is ENFORCED in-plan (r11 advice): a gram position
    * past the packing width raises rather than silently corrupting the
    * windowed-min key (the check rides inside the key expression, so
    * column pruning cannot drop it).
    *
    * Returns `(idCol, fp: long, pos: int)` — distinct selected
    * fingerprints with the position of their source gram. */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, w: Int = 4): DataFrame = {
    require(n > 0 && w > 0, "winnow needs n > 0 and w > 0")
    val np = docs.sparkSession.sparkContext.defaultParallelism
    val checkedPos = when(col("p") < lit(1L << 20), col("p"))
      .otherwise(raise_error(concat(
        lit("winnowFingerprints: document "), col(idCol).cast("string"),
        lit(" exceeds 2^20 grams — the packed (hash<<20 | pos) window " +
          "key cannot address it; chunk longer docs first"))).cast("long"))
    val grams = docs.repartition(np)
      .select(col(idCol), posexplode(ngrams(col(textCol), n))
        .as(Seq("p", "g")))
      .select(col(idCol), col("p"),
        (pmod(shingleHash(col("g")), lit(1L << 40)) * lit(1L << 20) +
          checkedPos).as("key"))
    val win = Window.partitionBy(col(idCol)).orderBy(col("p"))
      .rowsBetween(Window.currentRow, w - 1)
    val total = Window.partitionBy(col(idCol))
    grams
      .withColumn("mk", min(col("key")).over(win))
      .withColumn("nk", count(lit(1)).over(total))
      // full windows only (start ≤ total − w); a doc shorter than one
      // window contributes its single global minimum
      .filter(col("p") <= greatest(col("nk") - w, lit(0)))
      .select(col(idCol), col("mk")).distinct()
      // bit ops, not `/`: long division routes through double, which
      // cannot represent a 60-bit key exactly
      .select(col(idCol),
        shiftright(col("mk"), 20).as("fp"),
        pmod(col("mk"), lit(1L << 20)).cast("int").as("pos"))
  }

  /** Leakage-free train/val/test split: near-duplicate CLUSTERS are
    * the atomic assignment unit, so two near-duplicate documents can
    * NEVER land in different splits (the eval-contamination failure
    * mode a row-wise random split has — Lee et al. 2021 §6 measure
    * exactly this train/test leakage in deduplicated corpora).
    * Assignment is `md5("split:" ∥ cluster_rep) mod Σweights` ranged by
    * the declared split weights — deterministic and
    * engine-reproducible. Stability contract (r12 advice): re-running
    * on the SAME docs+pairs reproduces the assignment bit-for-bit, but
    * this one-shot form is NOT append-stable — the rep is the
    * component's min id, so a later batch that adds a smaller-id member
    * or bridges two clusters changes the rep and would silently flip
    * already-assigned docs' splits. For appends use
    * [[leakFreeSplitAppend]], which pins prior assignments and only
    * draws slots for genuinely new docs.
    *
    * `pairs` is any near-dup pair relation (`id_a`, `id_b` — minhash,
    * simhash, embedding, winnowing…); singleton documents are their own
    * cluster. Scale shape: [[duplicateClustersAuto]] (driver union-find
    * on the usual tiny verified edge set, label propagation past the
    * bound) + one broadcast-sized hash range per doc — no shuffle
    * beyond the cluster join.
    *
    * Returns `(idCol, split)`. */
  def leakFreeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
      splits: Seq[(String, Int)]): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0),
      "splits need positive weights")
    val total = splits.map(_._2).sum
    val clusters = duplicateClustersAuto(pairs)
      .select(col("doc_id").as(idCol), col("cluster_rep"))
    val withRep = docs.select(col(idCol))
      .join(clusters, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("cluster_rep"), col(idCol)).as("rep"))
    val slot = pmod(shingleHash(
      concat(lit("split:"), col("rep").cast("string"))), lit(total.toLong))
    val bounds = splits.scanLeft(0)(_ + _._2).tail
    val splitCol = splits.zip(bounds).dropRight(1)
      .foldRight(lit(splits.last._1): Column) {
        case (((name, _), ub), acc) =>
          when(slot < lit(ub.toLong), lit(name)).otherwise(acc)
      }
    withRep.select(col(idCol), splitCol.as("split"))
  }

  /** Append-stable leakage-free split (r12 advice): extends
    * [[leakFreeSplit]] to the ingestion loop, where batches arrive
    * after splits have shipped and an already-assigned doc's split MUST
    * NEVER change (a flip moves training rows across the eval boundary
    * between checkpoints — exactly the cross-round leakage the operator
    * exists to prevent).
    *
    * `prior` is the persisted `(idCol, split)` assignment from previous
    * rounds (empty on the first). `pairs` covers the FULL corpus so far
    * (old∪new — re-banding only the new batch against the index gives
    * the same cross pairs, [[dedupIncremental]]'s shape). Precedence per
    * doc:
    *  1. a prior assignment is kept VERBATIM — absolute stability;
    *  2. a new doc whose cluster has prior-assigned members inherits
    *     the split of the smallest-id assigned member (deterministic;
    *     if a new doc BRIDGES clusters that shipped on different sides
    *     the historical leak already exists in the shipped data — the
    *     new member goes to one side deterministically rather than
    *     minting a third);
    *  3. a new doc in a genuinely new cluster draws the same
    *     `md5("split:" ∥ rep) mod Σweights` slot as the one-shot form —
    *     so first-round output (`prior` empty) equals [[leakFreeSplit]]
    *     exactly.
    *
    * Scale shape: the cluster pass is [[duplicateClustersAuto]]; the
    * inheritance is one partial-aggregable `min_by` per rep plus two
    * hash joins on id/rep — nothing corpus-quadratic, work ∝ docs.
    *
    * Returns `(idCol, split)` for ALL docs (prior and new). */
  def leakFreeSplitAppend(docs: DataFrame, idCol: String, pairs: DataFrame,
      splits: Seq[(String, Int)], prior: DataFrame): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0),
      "splits need positive weights")
    val total = splits.map(_._2).sum
    val clusters = duplicateClustersAuto(pairs)
      .select(col("doc_id").as(idCol), col("cluster_rep"))
    val withRep = docs.select(col(idCol))
      .join(clusters, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("cluster_rep"), col(idCol)).as("rep"))
    val withPrior = withRep.join(
      prior.select(col(idCol), col("split").as("_prior_split")),
      Seq(idCol), "left_outer")
    val inherited = withPrior.filter(col("_prior_split").isNotNull)
      .groupBy(col("rep"))
      .agg(min_by(col("_prior_split"), col(idCol)).as("_cluster_split"))
    val slot = pmod(shingleHash(
      concat(lit("split:"), col("rep").cast("string"))), lit(total.toLong))
    val bounds = splits.scanLeft(0)(_ + _._2).tail
    val splitCol = splits.zip(bounds).dropRight(1)
      .foldRight(lit(splits.last._1): Column) {
        case (((name, _), ub), acc) =>
          when(slot < lit(ub.toLong), lit(name)).otherwise(acc)
      }
    withPrior.join(inherited, Seq("rep"), "left_outer")
      .select(col(idCol),
        coalesce(col("_prior_split"), col("_cluster_split"), splitCol)
          .as("split"))
  }

  /** EXACT duplicated-substring spans — Lee et al. 2021
    * ("Deduplicating Training Data Makes Language Models Better",
    * ExactSubstr): every maximal token span of length ≥ `minLen` whose
    * text occurs at ≥ 2 positions in the corpus (including twice
    * within one document). Lee et al. realize this with a distributed
    * suffix array; the shuffle-native EQUIVALENCE used here avoids the
    * suffix sort entirely: a token position lies in a duplicated run
    * of length ≥ L iff it lies in some duplicated L-gram window (any
    * duplicated ≥L substring's L-windows are each duplicated; a
    * duplicated L-gram IS a duplicated L-substring), so the union of
    * duplicated-L-gram windows equals the union of duplicated-≥L
    * substring positions — and THAT is a gram-count aggregation plus a
    * per-document interval merge, both embarrassingly partitionable.
    *
    * Two corpus passes, each shuffle-bounded (r13 verdict #2 — the r12
    * form made THREE: a hash-count pass, then a bloom-filtered site
    * relation feeding both the string-count and the semi-join back, so
    * the posexplode+bloom pass over the corpus ran twice; pinning that
    * per-site relation instead was tried and measured strictly worse
    * at 10× — its size grows with the corpus's duplicated mass, which
    * is exactly what a boilerplate-heavy corpus maximizes):
    *  1. the exact duplicated-gram DICTIONARY in one pass
    *     ([[dupGramsOf]]): group the gram stream on `(hash, gram)` —
    *     map-side partial collapse means at most one row per distinct
    *     gram per partition reaches the exchange — and keep strings
    *     seen ≥ 2 times. Grouping on the full string makes the
    *     dictionary EXACT (a hash collision splits into two groups),
    *     and the result is ONE row per duplicated DISTINCT gram — the
    *     same bounded size class as the bloom built from it, so
    *     pinning it is bloom-cheap;
    *  2. a broadcast bloom over the dictionary's hashes prunes
    *     candidate sites map-side (no false negatives, so every true
    *     site survives), and one semi-join against the dictionary
    *     makes the per-site decision exact — bloom false positives and
    *     hash collisions both die on the string equality; the result
    *     equals the brute-force string count (spec-pinned);
    *  3. gaps-and-islands per document over duplicated gram start
    *     positions merges overlapping windows into maximal spans.
    *
    * Driver sizing caveat (same as [[contaminationBloom]]): the bloom
    * holds ~9.6 bits per duplicated DISTINCT gram at fpp = 0.01 —
    * 100 M duplicated grams ≈ 120 MB (the pinned dictionary holds each
    * such gram's string once — executor storage, not driver); past
    * that, shard by hash range.
    *
    * Returns `(idCol, span_start, span_end, n_dup_grams)` — token
    * index spans, end-exclusive. */
  /** The exact duplicated-gram dictionary of [[exactSubstrSpans]] pass 1,
    * lazy: `(h, g)` for every DISTINCT `minLen`-gram string occurring ≥ 2
    * times in the corpus. One partial-aggregable pass — a
    * `count() OVER (PARTITION BY g)` window here would funnel every
    * occurrence of one hot boilerplate gram into ONE buffering task (r12
    * verdict #3), while the groupBy collapses duplicates map-side: at
    * most one row per distinct gram per partition reaches the exchange,
    * and the filtered output is skew-free by construction (one row per
    * duplicated gram). Package-visible so the plan-shape spec asserts
    * the partial aggregation on THIS relation, not a downstream echo. */
  private[graft] def dupGramsOf(docs: DataFrame, textCol: String,
      minLen: Int): DataFrame =
    docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(explode(ngrams(col(textCol), minLen)).as("g"))
      .select(shingleHash(col("g")).as("h"), col("g"))
      .groupBy(col("h"), col("g")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .select(col("h"), col("g"))

  /** Hash-first twin of [[dupGramsOf]] (r14 advice): pass A counts
    * HASHES only — the exchange carries 8-byte longs instead of
    * minLen-token strings, the difference that dominates on a
    * MOSTLY-UNIQUE corpus where map-side combine collapses nothing —
    * then pass B re-explodes and fetches the strings of might-dup
    * hashes through a broadcast bloom, with the exact `(h, g)` count
    * restoring string-exactness (a hash collision between two
    * singleton grams passes the bloom and then dies on `cnt >= 2`).
    * Costs one extra explode+hash scan; wins when the string-shuffle
    * saving exceeds it. Measured on this box at sf0.1 (DupGramProbe,
    * min-of-3, clean canaries): fixture corpus (dup-moderate)
    * single-pass 1.02 s vs hash-first 1.77 s — the extra scan loses;
    * ZERO-DUP corpus (every token doc-prefixed) single-pass 1.97 s vs
    * hash-first 0.95 s — the string shuffle loses 2×. The regimes
    * genuinely flip, exactly the r14 advice's concern.
    * [[exactSubstrSpans]] keeps the single-pass dictionary as the
    * default because the 100 TB DANGER case is the boilerplate-heavy
    * corpus (duplicated mass maximized — where single-pass wins and
    * where the r13/r14 restructures were measured); a deployment that
    * KNOWS its corpus is mostly unique swaps this twin in (equal
    * output, parity spec-pinned), and on a network-crossing exchange
    * the ~30× byte ratio moves the flip point far toward single-digit
    * dup shares. */
  private[graft] def dupGramsOfHashFirst(docs: DataFrame, textCol: String,
      minLen: Int, fpp: Double = 0.01): DataFrame = {
    val spark = docs.sparkSession
    val np = spark.sparkContext.defaultParallelism
    def grams = docs.repartition(np)
      .select(explode(ngrams(col(textCol), minLen)).as("g"))
    val dupH = grams.select(shingleHash(col("g")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("h"))
      .localCheckpoint(true)
    val nDup = dupH.count()
    // fully-unique corpus: nothing repeats, and stat.bloomFilter over
    // an EMPTY relation returns a null sketch buffer — short-circuit
    if (nDup == 0)
      return grams.select(shingleHash(col("g")).as("h"), col("g")).limit(0)
    val bloom = dupH.stat.bloomFilter("h", nDup, fpp)
    val bloomBc = spark.sparkContext.broadcast(bloom)
    grams.select(shingleHash(col("g")).as("h"), col("g"))
      .filter(graft.functions.BloomMightContain(bloomBc, col("h")))
      .groupBy(col("h"), col("g")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .select(col("h"), col("g"))
  }

  def exactSubstrSpans(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int = 50, fpp: Double = 0.01): DataFrame = {
    require(minLen > 1, s"minLen must be > 1, got $minLen")
    val spark = docs.sparkSession
    val np = spark.sparkContext.defaultParallelism
    // pinned: feeds the bloom build (an action here) and the semi-join
    // in the returned plan — unpinned, the dictionary pass would re-run
    // per consumer
    val dupG = dupGramsOf(docs, textCol, minLen).localCheckpoint(true)
    val nDup = dupG.count()
    // a corpus with NO duplicated gram short-circuits the probe: the
    // span set is empty by definition, and stat.bloomFilter over an
    // empty relation returns a null sketch buffer (NPE on first probe)
    val probeFilter =
      if (nDup == 0) lit(false)
      else graft.functions.BloomMightContain(
        spark.sparkContext.broadcast(dupG.stat.bloomFilter("h", nDup, fpp)),
        col("h"))
    // codegen broadcast-bitset probe applied BEFORE any shuffle; only
    // might-be-duplicated gram strings reach the confirm
    val cand = docs.repartition(np)
      .select(col(idCol).as("id"),
        posexplode(ngrams(col(textCol), minLen)).as(Seq("p", "g")))
      .withColumn("h", shingleHash(col("g")))
      .filter(probeFilter)
    // exact per-site decision: semi-join against the exact dictionary.
    // The probe side streams (AQE skew-splitting applies to a hot
    // boilerplate gram's sites); when the pinned dictionary is small
    // the optimizer broadcasts it and no site row shuffles at all.
    val dupSites = cand.join(dupG, Seq("h", "g"), "left_semi")
      .select(col("id"), col("p"))
    // windows [p, p+L) merge iff the next start is within L of the
    // previous — the standard gaps-and-islands pass, per document
    val wDoc = Window.partitionBy(col("id")).orderBy(col("p"))
    dupSites
      .withColumn("brk",
        when(lag(col("p"), 1).over(wDoc).isNull ||
          col("p") - lag(col("p"), 1).over(wDoc) > minLen, lit(1L))
          .otherwise(lit(0L)))
      .withColumn("island", sum(col("brk")).over(
        wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id"), col("island"))
      .agg(min(col("p")).as("span_start"),
        (max(col("p")) + lit(minLen)).as("span_end"),
        count(lit(1)).as("n_dup_grams"))
      .select(col("id").as(idCol), col("span_start"), col("span_end"),
        col("n_dup_grams"))
  }

  /** Apply [[exactSubstrSpans]]: remove every covered token and
    * reassemble the survivors in document order — the scrub step of
    * ExactSubstr dedup. Span relations are per-doc FEW (bounded by a
    * document's duplicated-run count), so they ride back to their
    * documents as a collected array on a key-equi join and each token
    * tests coverage against its own document's spans in one codegen
    * map pass — the document payload never shuffles beyond that join.
    * Untouched documents pass through text-identical. */
  def exactSubstrScrub(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int = 50): DataFrame = {
    val spans = exactSubstrSpans(docs, idCol, textCol, minLen)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("_spans"))
    val others = docs.columns.filterNot(_ == textCol).map(col).toSeq
    val toks = tokens(col(textCol))
    val kept = filter(
      transform(toks, (t, i) => when(
        exists(col("_spans"), sp =>
          i >= sp.getField("span_start") && i < sp.getField("span_end")),
        lit(null)).otherwise(t)),
      t => t.isNotNull)
    docs.join(spans, Seq(idCol), "left")
      .select(others :+
        when(col("_spans").isNull, col(textCol))
          .otherwise(concat_ws(" ", kept)).as(textCol): _*)
  }

  /** Document-overlap candidates from shared winnowing fingerprints —
    * the MOSS match step as a banded equi-join: fingerprints bucket by
    * VALUE (not position), hot buckets split by [[capBuckets]] (a
    * boilerplate gram shared by everything degrades gracefully, the
    * [[minhashCandidates]] contract), pairs score by
    * `shared / min(|fp_a|, |fp_b|)` — containment, so a small doc
    * embedded in a large one still scores 1.0. Returns pairs at or
    * above `minOverlap`, with the shared-fingerprint count. */
  def winnowOverlapPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, w: Int = 4, minOverlap: Double = 0.5,
      maxBucket: Int = 4096): DataFrame = {
    val fps = winnowFingerprints(docs, idCol, textCol, n, w)
      .select(col(idCol).as("id"), col("fp")).distinct()
    val sizes = fps.groupBy(col("id")).agg(count(lit(1)).as("nfp"))
    val capped = capBuckets(fps, Seq("fp"), "id", maxBucket)
    val a = capped.toDF("id_a", "fp", "salt")
    val b = capped.toDF("id_b", "fp", "salt")
    val shared = a.join(b, Seq("fp", "salt"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.toDF("id_a", "nfp_a"), "id_a")
      .join(sizes.toDF("id_b", "nfp_b"), "id_b")
      .withColumn("overlap",
        col("shared").cast("double") / least(col("nfp_a"), col("nfp_b")))
      .filter(col("overlap") >= minOverlap)
      .select(col("id_a"), col("id_b"), col("shared"),
        round(col("overlap"), 4).as("overlap"))
  }
}
