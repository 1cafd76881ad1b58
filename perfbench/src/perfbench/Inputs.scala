package perfbench

import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded input generator with planted ground truth.
  *
  * Two kinds of input. The stored data a workload serves from (tables,
  * base vectors, the document corpus) is a fixed fixture, like a test
  * database: it comes from [[Inputs.FixtureSeed]] and is written by the
  * build whenever the benchmark's sources change. What the client sends
  * (briefs, requests, queries, batches, deletes) comes from the run's seed.
  * Every row and every op input is a pure function of
  * `(seed, stream, index)`, so op i sees the same input
  * however many ops a timed window happened to fit, and table rows do not
  * depend on how Spark partitions their generation. The program under
  * test only ever receives the generated rows. */
final class Inputs(val seed: Long) extends Serializable {
  import Inputs._

  def rng(stream: Long, index: Long = 0L): SplittableRandom =
    new SplittableRandom(mix(mix(seed, stream), index))

  private def fixed(stream: Long, index: Long = 0L): SplittableRandom =
    new SplittableRandom(mix(mix(FixtureSeed, stream), index))

  // ---- rcmn_request tables (sf0.1-shaped: the columns E1/E2/E3 read) ----

  val NParts = 20000
  val NSuppliers = 1000
  val LinesPerPart = 2
  val NCustomers = 15000
  val NOrders = 150000
  val NEmbeddings = 2000

  def part(k: Int): (Long, String, String, String, Int, Double) = {
    val r = fixed(1, k)
    (k.toLong, s"${pick(r, Adjectives)} ${pick(r, Nouns)}",
      s"Brand#${1 + r.nextInt(25)}", pick(r, PartTypes), 1 + r.nextInt(50),
      900.0 + (k % 1000) / 10.0)
  }

  def supplier(k: Int): (Long, String, Int, Double) = {
    val r = fixed(2, k)
    (k.toLong, f"Supplier#$k%09d", r.nextInt(25), cents(r.nextDouble() * 10000.0))
  }

  /** (l_orderkey, l_partkey, l_suppkey) */
  def lineitem(i: Int): (Long, Long, Long) =
    (i.toLong, (i / LinesPerPart).toLong, fixed(3, i).nextInt(NSuppliers).toLong)

  def customer(k: Int): (Long, String, Int, Double, String) = {
    val r = fixed(4, k)
    (k.toLong, f"Customer#$k%09d", r.nextInt(25),
      cents(r.nextDouble() * 10000.0), pick(r, Segments))
  }

  /** (o_orderkey, o_custkey, o_totalprice, o_orderdate epoch-day,
    * o_orderpriority) */
  def order(k: Int): (Long, Long, Double, Int, String) = {
    val r = fixed(5, k)
    (k.toLong, r.nextInt(NCustomers).toLong,
      cents(1000.0 + r.nextDouble() * 499000.0),
      OrderDay0 + r.nextInt(OrderDays), pick(r, Priorities))
  }

  def embedding(k: Int): (Long, Array[Float], Int) = {
    val r = fixed(6, k)
    (k.toLong, Array.fill(Dim)((r.nextDouble() * 2.0 - 1.0).toFloat), r.nextInt(10))
  }

  /** E1 input: a Korean campaign brief. */
  def brief(i: Int): String = {
    val r = rng(10, i)
    s"${pick(r, Seasons)} 시즌 ${pick(r, Targets)} 고객 대상 " +
      s"${pick(r, Offers)} 캠페인 ${r.nextInt(1000000)}"
  }

  /** E2 input: a request with its planted (attr, polarity, codes) rows,
    * already netted the way the request's semantics demand (positive codes
    * minus negated codes of the same attribute). Every request has the same
    * five clauses — a segment, a negated segment, an amount, a negated
    * priority and a date range — so every request plans the same jobs;
    * the seed picks the values. */
  def targeting(i: Int): (String, Set[(String, String, Seq[String])]) = {
    val r = rng(11, i)
    val segs = shuffled(r, Segments)
    val prio = Priorities(r.nextInt(Priorities.length))
    val man = 10 * (1 + r.nextInt(40))
    val (word, op) = AmountOps(r.nextInt(AmountOps.length))
    val d1 = yyyymmdd(OrderDay0 + r.nextInt(OrderDays / 2))
    val d2 = yyyymmdd(OrderDay0 + OrderDays / 2 + r.nextInt(OrderDays / 2))
    val request = s"세그먼트가 ${segs(0)} 인 고객 중 세그먼트가 ${segs(1)} 이 아닌, " +
      s"구매금액이 ${man}만원 $word 사람들, 우선순위가 $prio 이 아닌, " +
      s"주문일자가 $d1 부터 $d2 까지 인 고객 찾아줘"
    (request, Set(
      ("세그먼트", "긍정", Seq(segs(0))), ("세그먼트", "부정", Seq(segs(1))),
      ("구매금액", "긍정", Seq(s"$op${man * 10000L}")),
      ("우선순위", "부정", Seq(prio)),
      ("주문일자", "긍정", Seq(s"BETWEEN $d1 AND $d2"))))
  }

  // ---- ingest_serve: documents, each with a clustered vector ----

  val IvfClusters = 48
  @transient private lazy val clusterCenters: Array[Array[Float]] = {
    val r = fixed(20)
    Array.fill(IvfClusters)(Array.fill(Dim)(r.nextGaussian().toFloat))
  }

  private def clustered(r: SplittableRandom): Array[Float] = {
    val c = clusterCenters(r.nextInt(IvfClusters))
    Array.tabulate(Dim)(d => (c(d) + 0.45 * r.nextGaussian()).toFloat)
  }

  /** The vector of stored document `id` (the fixture corpus). */
  def docVector(id: Long): Array[Float] = clustered(fixed(21, id))

  /** The vector of ingested document `id` (sent with the batch). */
  def batchVector(id: Long): Array[Float] = clustered(rng(23, id))

  def query(i: Int): Array[Float] = clustered(rng(22, i))


  val NDocs = 5000
  val BatchDocs = 500
  /** Half the batch: each planted near-duplicate is one sample of the dedup
    * recall (`quality.secondary`), and at 150 per batch that share moved
    * by 0.075 of its median from seed to seed. */
  val PlantedLive = 250
  val PlantedDeleted = 25

  def document(k: Int): (Long, String) = (k.toLong, freshText(fixed(30, k)))

  /** Batch i: ids from `firstId`, near-dups of the given live and deleted
    * source texts planted at seeded positions. Returns rows and, per
    * planted row, its kind (true = near-dup of a LIVE doc). */
  def batch(i: Int, firstId: Long, liveSources: Seq[String],
      deletedSources: Seq[String]): (Seq[(Long, String)], Map[Long, Boolean]) = {
    val r = rng(31, i)
    val planted = liveSources.map(t => (mutate(r, t), true)) ++
      deletedSources.map(t => (mutate(r, t), false))
    val fresh = Seq.fill(BatchDocs - planted.size)((freshText(r), None))
    val all = shuffled(r, planted.map { case (t, k) => (t, Some(k)) } ++ fresh)
    val rows = all.zipWithIndex.map { case ((t, _), j) => (firstId + j, t) }
    val kinds = all.zipWithIndex.collect { case ((_, Some(k)), j) =>
      (firstId + j) -> k }.toMap
    (rows, kinds)
  }

  /** Seeded choice of which live/deleted docs batch i near-duplicates and
    * which live docs delete i removes. */
  def pickPositions(stream: Long, i: Int, n: Int, b: Int): Array[Int] =
    choose(rng(stream, i), n, b)

  private def freshText(r: SplittableRandom): String =
    Seq.fill(20 + r.nextInt(41))(Vocabulary(r.nextInt(Vocabulary.length)))
      .mkString(" ")

  /** A near-duplicate: replace ~6% of the tokens and drop one. */
  private def mutate(r: SplittableRandom, text: String): String = {
    val toks = text.split(" ").toBuffer
    val n = math.max(1, toks.length * 6 / 100)
    for (_ <- 0 until n)
      toks(r.nextInt(toks.length)) = Vocabulary(r.nextInt(Vocabulary.length))
    toks.remove(r.nextInt(toks.length))
    toks.mkString(" ")
  }

  /** SHA-256 over a canonical serialization of every generated input of
    * the three workloads (tables plus the first `ops` per-op inputs). */
  def digest(ops: Int): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def add(x: Any): Unit = x match {
      case a: Array[Float] => a.foreach(f => add(java.lang.Float.floatToIntBits(f)))
      case a: Array[Int] => a.foreach(add)
      case a: Array[Array[Float]] => a.foreach(add)
      case p: Product => p.productIterator.foreach(add)
      case s: Iterable[_] => s.foreach(add)
      case other => md.update((other.toString + "\u0001").getBytes("UTF-8"))
    }
    def table[A](n: Int, row: Int => A): Unit = (0 until n).foreach(k => add(row(k)))
    table(NParts, part); table(NSuppliers, supplier)
    table(NParts * LinesPerPart, lineitem); table(NCustomers, customer)
    table(NOrders, order); table(NEmbeddings, embedding)
    table(NDocs, document); table(NDocs, (k: Int) => docVector(k.toLong))
    for (i <- 0 until ops) {
      add(brief(i)); add(targeting(i)._1); add(targeting(i)._2.toSeq.map(_.toString).sorted)
      add(query(i)); add(batchVector(100000L + i))
      val docs = (0 until 20).map(document(_)._2)
      add(batch(i, 100000L, docs.take(10), docs.drop(10))._1)
      add(pickPositions(32, i, 1000, 4))
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}

object Inputs {
  val Dim = 64
  val FixtureSeed = 42L

  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
    "MACHINERY")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
    "5-LOW").map(_.replace(' ', '-'))
  val PartTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
    "STANDARD")
  val Adjectives = Seq("almond", "antique", "aquamarine", "azure", "beige",
    "bisque", "black", "blanched", "blue", "blush", "brown", "burlywood",
    "chartreuse", "chiffon", "chocolate", "coral", "cornflower", "cream",
    "cyan", "dark", "deep", "dim", "dodger", "drab", "firebrick", "floral")
  val Nouns = Seq("bolt", "ring", "gear", "valve", "pipe", "spring", "nut",
    "washer", "bracket", "hinge", "clamp", "panel", "seal", "shaft")
  val Seasons = Seq("봄", "여름", "가을", "겨울", "연말", "설날")
  val Targets = Seq("VIP", "신규", "휴면", "20대", "30대", "우수", "이탈위험")
  val Offers = Seq("할인", "적립", "신상품", "재구매", "무료배송", "쿠폰")
  /** (request particle, the L2 operator it normalizes to) */
  val AmountOps = Seq("이상" -> ">=", "이하" -> "<=", "초과" -> ">",
    "미만" -> "<", "넘는" -> ">")

  /** 1995-01-01 .. 1998-08-02 as epoch days. */
  val OrderDay0: Int = java.time.LocalDate.of(1995, 1, 1).toEpochDay.toInt
  val OrderDays = 1310

  def yyyymmdd(epochDay: Int): String =
    java.time.LocalDate.ofEpochDay(epochDay.toLong)
      .format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE)

  /** 3,000 pronounceable words — large enough that two unrelated
    * documents share few words, so every verified near-duplicate pair is
    * one the generator planted or one the text itself repeats. */
  val Vocabulary: IndexedSeq[String] = {
    val on = Seq("b", "d", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v")
    val nu = Seq("a", "e", "i", "o", "u")
    val syll = for (o <- on; v <- nu) yield o + v
    (for (a <- syll; b <- syll; c <- Seq("", "n")) yield a + b + c)
      .take(3000).toIndexedSeq
  }

  private def cents(x: Double): Double = math.round(x * 100.0) / 100.0

  private def pick[A](r: SplittableRandom, xs: Seq[A]): A = xs(r.nextInt(xs.length))

  def shuffled[A](r: SplittableRandom, xs: Seq[A]): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }

  /** `b` distinct values from [0, n), in draw order. */
  def choose(r: SplittableRandom, n: Int, b: Int): Array[Int] = {
    require(b <= n, s"cannot choose $b of $n")
    val seen = new java.util.HashSet[Integer]()
    val out = Array.newBuilder[Int]
    while (seen.size < b) {
      val x = r.nextInt(n)
      if (seen.add(x)) out += x
    }
    out.result()
  }
}
