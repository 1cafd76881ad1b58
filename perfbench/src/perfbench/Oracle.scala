package perfbench

import java.security.MessageDigest

/** Reference arithmetic the checkers share, written from the documented
  * semantics of the program's expressions rather than by calling them. */
object Oracle {

  /** The stub embedding: element i is the first 8 hex digits of
    * md5("i:text") as an integer, mod 1000, scaled to [-1, 1). */
  def md5Embed(text: String, dim: Int = Inputs.Dim): Array[Float] = {
    val md = MessageDigest.getInstance("MD5")
    Array.tabulate(dim) { i =>
      val h = md.digest(s"$i:$text".getBytes("UTF-8"))
      val v = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
        ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
      ((v % 1000).toDouble / 500.0 - 1.0).toFloat
    }
  }

  /** Cosine with double accumulation; 0 when either side has zero norm. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** SQL `round(x, 2)`: HALF_UP on the shortest decimal form of x. */
  def round2(x: Double): Double =
    BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Word-set Jaccard rounded to 4 places, the dedup verifier's measure. */
  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b)
    val j = inter.toDouble / (a.size + b.size - inter)
    BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  def words(text: String): Set[String] = text.trim.split("\\s+").toSet
}
