package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Ann, Dedup, Retrieval}

/** Index deletion via tombstones (r14 verdict #5): delete-then-probe
  * must equal a rebuild on the surviving set — for the corpus dedup
  * index exactly (all per-doc artifacts are deterministic), for IVF
  * under the frozen-quantizer convention (FAISS remove_ids: posting
  * lists shrink, the coarse geometry does not). Plus the maintenance
  * faces: compaction ≡ live view, threshold trigger, and the persisted
  * round-trip carrying the tombstones. */
class TombstoneSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def run(ix: Dedup.CorpusIndex,
      batch: org.apache.spark.sql.DataFrame): Set[Long] =
    Dedup.dedupIncremental(ix, batch, "doc_id", "text", 12, 4, 0.6)
      .collect().map(_.getLong(0)).toSet

  // corpus with a SHARED text (1,2), a unique text (3), and a
  // boilerplate run (5) that near-dups batch doc 11
  private def fixture = {
    val run5 = (1 to 30).map(i => s"t$i").mkString(" ")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // = doc 1
      (3L, (1 to 25).map(i => s"u$i").mkString(" ")),
      (5L, run5)).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"), // exact dup
      (11L, run5 + " x1"), // near-dup of 5
      (12L, (1 to 25).map(i => s"v$i").mkString(" "))) // clean
      .toDF("doc_id", "text")
    (corpus, batch)
  }

  test("corpus index: delete-then-probe equals probe of a rebuild on " +
      "the surviving set — shared texts stay live while any owner " +
      "survives; deleted docs stop voting as near-dup neighbors") {
    val (corpus, batch) = fixture
    val ix = Dedup.buildCorpusIndex(corpus, "doc_id", "text")
    // no deletes: 10 rejected (exact), 11 rejected (near-dup of 5)
    assert(run(ix, batch) == Set(12L))
    // delete doc 2: text of 1/2 still owned by 1 → 10 still rejected
    val del2 = Dedup.deleteFromCorpusIndex(ix,
      corpus.filter(col("doc_id") === 2), "doc_id", "text")
    assert(run(del2, batch) == Set(12L))
    // delete docs 1 AND 2: the shared text is dead → 10 accepted
    val del12 = Dedup.deleteFromCorpusIndex(ix,
      corpus.filter(col("doc_id") <= 2), "doc_id", "text")
    assert(run(del12, batch) == Set(10L, 12L))
    // delete doc 5: its near-dup vote is gone → 11 accepted too
    val del125 = Dedup.deleteFromCorpusIndex(del12,
      corpus.filter(col("doc_id") === 5), "doc_id", "text")
    val got = run(del125, batch)
    assert(got == Set(10L, 11L, 12L))
    // the equivalence statement, end to end: ≡ rebuild on survivors
    val rebuilt = Dedup.buildCorpusIndex(
      corpus.filter(col("doc_id") === 3), "doc_id", "text")
    assert(got == run(rebuilt, batch))
    // IDEMPOTENT re-delete (r16 review — correctness here, not just
    // bookkeeping): re-deleting doc 2 must not net the shared 1/2 text
    // twice and kill it while doc 1 still owns it
    val del2Again = Dedup.deleteFromCorpusIndex(del2,
      corpus.filter(col("doc_id") === 2), "doc_id", "text")
    assert(del2Again.tombs.get.count() == 1)
    assert(run(del2Again, batch) == Set(12L)) // 10 still an exact dup
  }

  test("corpus index: delete cost is tombstone-recording only (base " +
      "frame plans untouched); compaction folds the debt and equals " +
      "the live view; tombstoneFraction reports the trigger") {
    val (corpus, batch) = fixture
    val ix = Dedup.buildCorpusIndex(corpus, "doc_id", "text")
    val del = Dedup.deleteFromCorpusIndex(ix,
      corpus.filter(col("doc_id") <= 2), "doc_id", "text")
    // the delete did not touch the base frames (same object references)
    assert(del.texts eq ix.texts)
    assert(del.buckets eq ix.buckets)
    assert(del.wsets eq ix.wsets)
    assert(ix.tombs.isEmpty && del.tombs.nonEmpty)
    // trigger arithmetic: 2 tombstones over 4 indexed docs
    assert(Dedup.tombstoneFraction(ix) == 0.0)
    assert(math.abs(Dedup.tombstoneFraction(del) - 0.5) < 1e-9)
    // compaction ≡ live view, and the compact index probes identically
    val compacted = Dedup.compactCorpusIndex(del, "text")
    assert(compacted.tombs.isEmpty)
    assert(run(compacted, batch) == run(del, batch))
    // a fully-deleted shared text nets to zero, a half-deleted one to 1
    val liveTexts = compacted.texts.collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(!liveTexts.contains(
      "alpha beta gamma delta epsilon zeta eta theta"))
  }

  test("corpus index: append after a full-text delete re-accepts the " +
      "text; save/load round-trips pending tombstones") {
    val (corpus, batch) = fixture
    val ix = Dedup.buildCorpusIndex(corpus, "doc_id", "text")
    val del12 = Dedup.deleteFromCorpusIndex(ix,
      corpus.filter(col("doc_id") <= 2), "doc_id", "text")
    // accept batch survivors (10 re-adds the deleted text) and append
    val accepted = batch.join(
        Dedup.dedupIncremental(del12, batch, "doc_id", "text", 12, 4, 0.6),
        Seq("doc_id"), "left_semi").select(col("doc_id"), col("text"))
      .localCheckpoint(true)
    val appended = Dedup.appendCorpusIndex(del12, accepted,
      "doc_id", "text")
    // the re-added text is live again with multiplicity 1: a fresh doc
    // with the same text is now an exact dup → rejected
    val probe2 = Seq(
      (20L, "alpha beta gamma delta epsilon zeta eta theta"),
      (21L, (1 to 25).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    assert(run(appended, probe2) == Set(21L))
    // ≡ rebuild on (survivors ∪ accepted)
    val rebuilt = Dedup.buildCorpusIndex(
      corpus.filter(col("doc_id") > 2).unionByName(accepted),
      "doc_id", "text")
    assert(run(appended, probe2) == run(rebuilt, probe2))
    // persisted round-trip: tombstones survive save/load; a second
    // save WITHOUT tombstones clears the tombs dir
    val dir = java.nio.file.Files.createTempDirectory("graft_tomb").toString
    Dedup.saveCorpusIndex(del12, dir)
    val loaded = Dedup.loadCorpusIndex(spark, dir)
    assert(loaded.tombs.nonEmpty)
    assert(run(loaded, batch) == run(del12, batch))
    // compaction writes to a FRESH dir (a lazy plan reading dir cannot
    // overwrite dir in place — the standard Spark self-overwrite rule)
    val dir2 = java.nio.file.Files.createTempDirectory("graft_tomb2").toString
    Dedup.saveCorpusIndex(Dedup.compactCorpusIndex(loaded, "text"), dir2)
    assert(Dedup.loadCorpusIndex(spark, dir2).tombs.isEmpty)
  }

  test("IVF: delete-then-search equals the frozen-quantizer rebuild on " +
      "survivors across exact, batch, and PQ tiers; compaction and " +
      "persisted tombstones agree") {
    val e = Tables.load(spark, TestSpark.sfDir, "embeddings")
      .localCheckpoint(true)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val full = Ann.buildIvf(e)
    val delIds = e.filter(pmod(col("vec_id"), lit(5)) === 2)
      .select(col("vec_id"))
    val deleted = Ann.deleteFromIvf(full, delIds)
    def got(v: Ann.Ivf) = Ann.searchIvf(v, q, nprobe = 4, k = 10)
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e4)))
      .toSeq
    // frozen-quantizer rebuild: survivors assigned against the SAME
    // centroids (append into an empty assignment relation)
    val survivors = e.join(delIds, Seq("vec_id"), "left_anti")
    val rebuilt = Ann.appendIvf(
      Ann.Ivf(full.assignments.limit(0), full.centroids), survivors)
    val want = got(rebuilt)
    assert(got(deleted) == want && want.nonEmpty)
    assert(want.forall(_._1 % 5 != 2))
    // compaction folds the tombstones, same results
    val compacted = Ann.compactIvf(deleted)
    assert(compacted.tombs.isEmpty && got(compacted) == want)
    assert(Ann.ivfTombstoneFraction(full) == 0.0 &&
      Ann.ivfTombstoneFraction(deleted) > 0.15)
    // batch tier honors tombstones
    val qs = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val batchIds = Ann.searchIvfBatch(deleted, qs, nprobe = 4, k = 10)
      .collect().map(_.getLong(1))
    assert(batchIds.nonEmpty && batchIds.forall(_ % 5 != 2))
    // PQ tier: the codes relation shrinks with the assignments
    val (pqIvf, codes, cb) = Ann.buildIvfPq(e, numCentroids = 8,
      m = 8, ksub = 16)
    val pqDel = Ann.deleteFromIvf(pqIvf, delIds)
    val pqIds = Ann.searchIvfPq(pqDel, codes, cb, e, q,
        nprobe = 8, k = 10).collect().map(_.getLong(0))
    assert(pqIds.nonEmpty && pqIds.forall(_ % 5 != 2))
    // persisted round-trip with pending tombstones
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_tomb")
      .toString
    Ann.saveIvf(deleted, dir)
    val loaded = Ann.loadIvf(spark, dir)
    assert(loaded.tombs.nonEmpty && got(loaded) == want)
  }

  test("IVF: a null id in a delete records no tombstone") {
    val ivf = Ann.buildIvf(Tables.load(spark, TestSpark.sfDir, "embeddings"),
      numCentroids = 4)
    val one = Ann.deleteFromIvf(ivf, Seq(Option(7L)).toDF("vec_id"))
    val withNull = Ann.deleteFromIvf(ivf,
      Seq(Option(7L), None).toDF("vec_id"))
    val frac = Ann.ivfTombstoneFraction(one)
    assert(frac > 0.0 && Ann.ivfTombstoneFraction(withNull) == frac)
    // and a later null-only delete adds nothing either
    assert(Ann.ivfTombstoneFraction(Ann.deleteFromIvf(one,
      Seq(None: Option[Long]).toDF("vec_id"))) == frac)
  }

  test("BM25 index: delete-then-search equals a rebuild on survivors " +
      "EXACTLY — including the df/avgdl statistics, not just the result " +
      "set (the drift a result-side filter would leave)") {
    val d = Tables.load(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), col("text")).localCheckpoint(true)
    val terms = Retrieval.seedTerms(d, "doc_id", "text", seedId = 0L, n = 4)
      .localCheckpoint(true)
    val delIds = d.filter(pmod(col("doc_id"), lit(5)) === 2)
      .select(col("doc_id"))
    def got(ix: Retrieval.Bm25Index): Seq[(Long, Double)] =
      Retrieval.bm25IndexTopK(ix, terms, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val full = Retrieval.buildBm25Index(d)
    val deleted = Retrieval.deleteFromBm25Index(full, delIds)
    val rebuilt = Retrieval.buildBm25Index(
      d.join(delIds, Seq("doc_id"), "left_anti"))
    val want = got(rebuilt)
    assert(want.nonEmpty && got(deleted) == want)
    assert(want.forall(_._1 % 5 != 2))
    // the STATISTICS moved: the same query against the undeleted index
    // scores differently (ghost df/avgdl mass) — if this ever matched,
    // the equality above would stop being evidence
    assert(got(full) != want)
    // delete recorded tombstones only; base relations untouched
    assert(deleted.postings eq full.postings)
    assert(deleted.docLens eq full.docLens)
    assert(Retrieval.bm25TombstoneFraction(full) == 0.0 &&
      Retrieval.bm25TombstoneFraction(deleted) > 0.15)
    // IDEMPOTENT re-delete (r16 review): issuing the same delete twice
    // must not inflate the tombstone relation or the fraction
    val twice = Retrieval.deleteFromBm25Index(deleted, delIds)
    assert(twice.tombs.get.count() == deleted.tombs.get.count())
    assert(Retrieval.bm25TombstoneFraction(twice) ==
      Retrieval.bm25TombstoneFraction(deleted))
    // PHANTOM deletes (r16 ADVICE): tombstoning ids absent from the
    // index is free debt — the compaction trigger counts only
    // tombstones the query-time anti-joins actually pay for
    val phantom = Retrieval.deleteFromBm25Index(deleted,
      spark.range(9000000L, 9000500L).select(col("id").as("doc_id")))
    assert(Retrieval.bm25TombstoneFraction(phantom) ==
      Retrieval.bm25TombstoneFraction(deleted))
    // and an EMPTY index with tombstones reads 0.0, never 1.0
    val empty = Retrieval.buildBm25Index(d.filter(lit(false)))
    assert(Retrieval.bm25TombstoneFraction(
      Retrieval.deleteFromBm25Index(empty, delIds)) == 0.0)
    // compaction folds the debt, same scores
    val compacted = Retrieval.compactBm25Index(deleted)
    assert(compacted.tombs.isEmpty && got(compacted) == want)
    // persisted round-trip with pending tombstones; a tombstone-free
    // save clears the tombs dir
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_tomb")
      .toString
    Retrieval.saveBm25Index(deleted, dir)
    val loaded = Retrieval.loadBm25Index(spark, dir)
    assert(loaded.tombs.nonEmpty && got(loaded) == want)
    val dir2 = java.nio.file.Files.createTempDirectory("graft_bm25_tomb2")
      .toString
    Retrieval.saveBm25Index(Retrieval.compactBm25Index(loaded), dir2)
    assert(Retrieval.loadBm25Index(spark, dir2).tombs.isEmpty)
    // append composes with pending deletes: re-adding one deleted doc's
    // row equals rebuilding with it present
    val readd = d.filter(col("doc_id") === 2)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val appended = Retrieval.appendBm25Index(deleted, readd)
    val rebuiltPlus = Retrieval.buildBm25Index(
      d.join(delIds, Seq("doc_id"), "left_anti").unionByName(readd))
    assert(got(appended) == got(rebuiltPlus))
  }
}
