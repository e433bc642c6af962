package perfbench

import scala.collection.mutable

/** Ground truth for the curation checks, computed on the driver from the
  * generated corpus with the engine's own definitions (word 3-gram
  * shingle sets, |A ∩ B| / |A ∪ B|, unit-cost Levenshtein, cosine over
  * float vectors accumulated in double). No Spark. */
object Truth {

  private val Whitespace = java.util.regex.Pattern.compile("\\s+")

  /** Distinct word 3-grams of `text`; none below three tokens. */
  def shingles(text: String): Set[String] = {
    val t = Whitespace.split(text.trim, -1)
    if (t.length < 3) Set.empty
    else (0 to t.length - 3).map(i => s"${t(i)} ${t(i + 1)} ${t(i + 2)}").toSet
  }

  /** Every pair (a < b) of documents whose shingle-set Jaccard is at least
    * `threshold`, with that Jaccard. Pairs come from an inverted index on
    * shingles, so only pairs sharing a shingle are scored. */
  def jaccardPairs(docs: Seq[Gen.Doc], threshold: Double): Map[(Long, Long), Double] = {
    val sets = docs.map(d => d.docId -> shingles(d.text)).toMap
    val index = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
    for ((id, s) <- sets; sh <- s)
      index.getOrElseUpdate(sh, mutable.ArrayBuffer.empty) += id
    val common = mutable.HashMap.empty[(Long, Long), Int]
    for (ids <- index.valuesIterator; i <- ids.indices; j <- i + 1 until ids.size) {
      val pair = (math.min(ids(i), ids(j)), math.max(ids(i), ids(j)))
      common(pair) = common.getOrElse(pair, 0) + 1
    }
    common.iterator.map { case ((a, b), n) =>
      (a, b) -> n.toDouble / (sets(a).size + sets(b).size - n)
    }.filter(_._2 >= threshold).toMap
  }

  def levenshtein(a: String, b: String): Int = {
    var prev = Array.tabulate(b.length + 1)(identity)
    var cur = new Array[Int](b.length + 1)
    for (i <- 1 to a.length) {
      cur(0) = i
      for (j <- 1 to b.length) {
        val sub = prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)
        cur(j) = math.min(sub, math.min(prev(j), cur(j - 1)) + 1)
      }
      val t = prev; prev = cur; cur = t
    }
    prev(b.length)
  }

  /** Cosine of two float vectors, accumulated as the engine's
    * `vec_cosine` does. */
  def cosine(x: Array[Float], y: Array[Float]): Double = {
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < x.length) {
      val xv = x(i).toDouble
      val yv = y(i).toDouble
      dot += xv * yv
      na += xv * xv
      nb += yv * yv
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** `x` in integer millionths, rounded half up as Spark's `round`. */
  def micros(x: Double): Long =
    BigDecimal(x * 1000000).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** Every pair (a < b) of vectors with cosine, in integer micros, at
    * least `minMicros`. */
  def cosinePairs(vecs: Seq[Gen.Vec], minMicros: Long): Map[(Long, Long), Long] =
    (for {
      i <- vecs.indices.iterator
      j <- (i + 1 until vecs.size).iterator
      c = micros(cosine(vecs(i).embedding, vecs(j).embedding))
      if c >= minMicros
    } yield (vecs(i).vecId, vecs(j).vecId) -> c).toMap

  /** Every unordered pair inside each group, smallest id first. */
  def groupPairs(groups: Seq[Seq[Long]]): Set[(Long, Long)] =
    groups.flatMap(g => g.combinations(2).map(p => (p.min, p.max))).toSet
}
