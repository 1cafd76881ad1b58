package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics as iterated relational algebra — the Pregel-as-join
  * form: one PageRank iteration is `ranks ⋈ adjacency` followed by a
  * re-aggregation on the destination, so the whole computation is
  * shuffles Catalyst already knows how to plan (AQE, partial
  * aggregation, co-partitioning) rather than a bespoke engine.
  * Link-style centrality is a standard corpus-curation quality signal
  * (reference-graph weighting à la Page 1999; the web-scale pipelines
  * weight crawl documents by exactly this).
  *
  * Scale design: the adjacency (with out-degrees pre-joined) is
  * hash-partitioned on `src` ONCE and persisted — each iteration then
  * shuffles only the rank vector (|V| rows, not |E|): the join reuses
  * the adjacency's partitioning, and the `groupBy(dst)` re-partial-
  * aggregates map-side before the |V|-sized exchange. Iteration count
  * is fixed and small (unrolled — no driver-side convergence loop over
  * collected data). Contributions are summed as SCALED INTEGERS
  * (`floor(contrib · 1e15)` longs — `floor` is rounding-mode-free where
  * a double→decimal cast ties at the last digit engine-dependently, and
  * per-node sums are bounded by total mass ≈ 1, so they stay exact
  * under 2^53): the fold is associative bit-for-bit, the result is
  * partitioning-invariant, and the DuckDB oracle re-derives every
  * iteration exactly.
  *
  * Determinism note: `(1 - damping) / n` is computed with the SAME IEEE
  * operations on both engines (literal subtraction then division) —
  * `1 - 0.85` is NOT the double `0.15`, so the oracle must write
  * `(1 - 0.85) / n`, not `0.15 / n`. */
object Graph {

  /** `iters` unrolled PageRank iterations over an UNDIRECTED edge list
    * `(src, dst)` (symmetrized + deduped here; self-loops allowed).
    * Optional `seed`: a one-column (`node`) relation restricting the
    * teleport vector — the personalized-PageRank form (Haveliwala 2002)
    * used for seed-set expansion ("customers like these"); `None`
    * teleports uniformly. Every node of the symmetrized graph has
    * outdeg ≥ 1, so there is no dangling-mass term. Returns
    * `(node, rank)`. */
  def pagerank(edges: DataFrame, iters: Int, damping: Double = 0.85,
      seed: Option[DataFrame] = None,
      distinctDirected: Boolean = false): DataFrame = {
    require(iters >= 1, "pagerank needs at least one iteration")
    val spark = edges.sparkSession
    val shuffle = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // every shared relation materializes EXACTLY ONCE: the directed
    // pairs persist BEFORE the symmetrizing union (the union's two
    // branches otherwise re-evaluate the caller's edge-derivation join
    // twice — measured as the dominant cost at sf0.1); the symmetrized
    // list feeds two consumers (degrees + adjacency) and unpersists as
    // soon as the adjacency is cached; degrees and the teleport vector
    // are |V|-bounded and localCheckpoint-pinned — without the pinning,
    // every iteration of the final lazy chain re-derives the edge join
    // from the source tables.
    //
    // `distinctDirected`: set when the input is ALREADY distinct and no
    // pair appears in both orientations (e.g. a bipartite graph with
    // type-tagged ids) — the symmetrize-dedup shuffle over |E| is then
    // provably a no-op and is skipped.
    val base = edges.select(col("src"), col("dst")).persist()
    val sym0 = base
      .union(base.select(col("dst").as("src"), col("src").as("dst")))
    // only the dedup result is worth a second cache level — the fast
    // path's union over the cached base is cheaper to recompute for its
    // two consumers (degrees, adjacency) than to materialize again
    val sym = if (distinctDirected) sym0 else sym0.distinct().persist()
    // the SEED pin is independent of the adjacency build — overlap it
    // with the adjacency jobs (r20: it ran sequentially after them, one
    // checkpoint + one count of pure wall added to every seeded call)
    val (adj, seedPinned) = graft.Graft.inParallel(
      try {
        // ONE |E| exchange serves BOTH graph-side consumers (r20,
        // guide §2.4 "two operations keyed the same way share one
        // exchange"): hash-partition the symmetrized list on src
        // first — the degree agg clusters on that partitioning
        // without its own exchange. Output partitioning is the same
        // HashPartitioning(src, shuffle) every iteration reuses.
        // r21: the symmetrized pair list IS the adjacency — outdeg
        // rides the |V| rank vector instead of being joined into the
        // |E| relation (see the iteration note below), so the old
        // adjacency ⋈ degree join (a full-|E| op per call) and its
        // wider (src, dst, outdeg) cache are gone outright; symP's
        // cache fills during the degree-checkpoint job that scans it.
        val symP = sym.repartition(shuffle, col("src")).persist()
        // |V| rides the degree checkpoint as an `observe` metric (the
        // duplicateClustersAuto one-job discipline) instead of its own
        // count job over the checkpoint blocks
        val obs = org.apache.spark.sql.Observation()
        val deg = symP.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
          .observe(obs, count(lit(1)).as("n"))
          .localCheckpoint(true)
        val n = obs.get("n").asInstanceOf[Long] // the graph's |V|
        (deg, n, symP)
      } finally { sym.unpersist(); base.unpersist() },
      // teleport vector: uniform 1/n, or 1/|seed| on seed nodes. The
      // uniform form is a pure projection over the ALREADY-checkpointed
      // deg — re-deriving it per consumer is a local-block scan, so its
      // own checkpoint job (one of q44's ~6 fixed jobs) buys nothing.
      // The seeded form pins the SEED (tiny — its count is needed
      // anyway), not the |V|-sized joined vector: each consumer then
      // re-derives reset as deg-checkpoint scan ⋈ broadcast(seed) —
      // shuffle-free — instead of paying a second |V| checkpoint job.
      seed.map { s =>
        // |seed| rides the pin job as an `observe` metric — one job
        // instead of checkpoint + count (r21)
        val sobs = org.apache.spark.sql.Observation()
        val sd = s.select(col("node")).distinct()
          .observe(sobs, count(lit(1)).as("k"))
          .localCheckpoint(true)
        val k = sobs.get("k").asInstanceOf[Long]
        require(k > 0, "personalized pagerank with an empty seed")
        (sd, k)
      })
    val (deg, n, symP) = adj
    try {
      // outdeg RIDES the rank vector (r21): floor(rank/outdeg·1e15)
      // depends only on the source NODE, so it is computed once per
      // node on the |V|-sized side before the shuffle instead of once
      // per EDGE after a join that carried outdeg into the |E|
      // relation — the per-edge doubles are the SAME IEEE operations
      // on the same values, so every scaled-long contribution (and
      // their exact long sums) is bit-identical to the joined form.
      // Costs: +8 B of outdeg per |V| row in flight; buys: the
      // adjacency ⋈ degree build join (a full-|E| op per call) and
      // the (src, dst, outdeg) cache — now just (src, dst) — gone.
      val nodes = deg.select(col("src").as("node"), col("outdeg"))
      require(n > 0, "pagerank over an empty graph")
      val reset: DataFrame = seedPinned match {
        case None =>
          nodes.withColumn("reset", lit(1.0 / n))
        case Some((sd, k)) =>
          nodes.join(broadcast(sd.withColumn("reset", lit(1.0 / k))),
              Seq("node"), "left_outer")
            .select(col("node"), col("outdeg"),
              coalesce(col("reset"), lit(0.0)).as("reset"))
      }
      // SHUFFLED-HASH hints on the |V|-sized sides: Catalyst's default
      // sort-merge join would RE-SORT the persisted |E|-row pair list
      // on every iteration (it is hash-partitioned once but cannot be
      // stored sorted), so each round paid sort(|E|) + 2·sort(|V|)
      // pure overhead. Hashing the per-node contribution vector
      // instead builds a per-partition map over |V|/shuffle rows — the
      // side a cluster sizes its shuffle partitions to fit in executor
      // memory anyway — and streams the pair list unsorted. Measured
      // at sf0.1, same box window (min-of-3/median-of-3): q44
      // 6.33 → 3.92 s median (min 3.58), q45 5.57 → 4.79 s.
      var ranks = reset.select(col("node"), col("outdeg"),
        col("reset").as("rank"))
      for (_ <- 1 to iters) {
        val perNode = ranks.select(col("node").as("src"),
          floor(col("rank") / col("outdeg") * lit(1e15)).as("c"))
        val contribs = symP.join(perNode.hint("shuffle_hash"), Seq("src"))
          .select(col("dst").as("node"), col("c"))
        val summed = contribs.groupBy(col("node"))
          .agg((sum(col("c")) / lit(1e15)).as("s"))
        // nodes can lose ALL in-mass only via a zero-rank neighborhood;
        // the left join keeps them on the teleport term regardless
        ranks = reset.join(summed.hint("shuffle_hash"), Seq("node"),
            "left_outer")
          .select(col("node"), col("outdeg"),
            ((lit(1.0) - lit(damping)) * col("reset") +
              lit(damping) * coalesce(col("s"), lit(0.0))).as("rank"))
      }
      ranks = ranks.select(col("node"), col("rank"))
      // pin the result before unpersisting the adjacency it derives
      // from; deg/reset checkpoint blocks are likewise dead once the
      // result is materialized — free them eagerly instead of leaving
      // |V|-sized blocks to GC + the async cleaner (the r11 session-
      // pressure lesson)
      val out = ranks.localCheckpoint(true)
      org.apache.spark.sql.GraftSqlBridge.freeLocalCheckpoint(deg)
      seedPinned.foreach { case (sd, _) =>
        org.apache.spark.sql.GraftSqlBridge.freeLocalCheckpoint(sd) }
      out
    } finally symP.unpersist()
  }
}
