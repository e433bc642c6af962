package perfbench

import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Generator determinism: the same seed gives byte-identical inputs; a
  * different seed gives different data of the same size with the same
  * number of planted cases. */
class GenSpec extends AnyFunSuite {

  private def digest(parts: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update(p.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def pagesDigest(p: Gen.Pages) = digest(p.digestInput)
  private def corpusDigest(c: Gen.Corpus) =
    digest(c.docs.iterator.map(d => s"${d.docId}\t${d.text}\t${d.lang}\t${d.source}\n"))
  private def vecDigest(vs: Seq[Gen.Vec]) =
    digest(vs.iterator.map(v => s"${v.vecId}\t${v.embedding.mkString(",")}\t${v.label}\n"))
  private def ordersDigest(os: Seq[Gen.Order]) = digest(os.iterator.map(_.toString))

  test("area pages: same seed identical, other seed same size and shares") {
    val a = Gen.areaPages(7, 5000)
    val b = Gen.areaPages(7, 5000)
    val c = Gen.areaPages(8, 5000)
    assert(pagesDigest(a) === pagesDigest(b))
    assert(pagesDigest(a) !== pagesDigest(c))
    assert(a.climbs === 5000 && c.climbs === 5000)
    // every planted case is present, at about its share
    for (p <- Seq(a, c)) {
      assert(p.nullCoordClimbs > 0 && p.nonUsaClimbs > 0)
      assert(math.abs(p.sparseClimbs / 5000.0 - 0.10) < 0.03)
      assert(math.abs(p.inheritingClimbs / 5000.0 - 0.12) < 0.03)
    }
  }

  test("area pages end every country with a short page") {
    val p = Gen.areaPages(3, 20000, pageSize = 100)
    Gen.Countries.map(_._1).foreach { c =>
      val offs = p.areaPages.keys.filter(_._1 == c).map(_._2).toSeq.sorted
      assert(offs === offs.indices.map(_ * 100))
      def areasIn(body: String) = body.split("\"area_name\"").length - 1
      offs.init.foreach(o => assert(areasIn(p.areaPages((c, o))) === 100))
      assert(areasIn(p.areaPages((c, offs.last))) < 100)
    }
  }

  test("corpus: same seed identical, other seed same size and planted counts") {
    val a = Gen.corpus(11, 1000, 0.02, 0.03)
    val b = Gen.corpus(11, 1000, 0.02, 0.03)
    val c = Gen.corpus(12, 1000, 0.02, 0.03)
    assert(corpusDigest(a) === corpusDigest(b))
    assert(corpusDigest(a) !== corpusDigest(c))
    for (x <- Seq(a, c)) {
      assert(x.docs.size === 1000)
      // 20 exact copies and 30 near copies, whatever the seed
      assert(x.exactGroups.map(_.size - 1).sum === 20)
      assert(x.nearDups.size === 30)
      // groups hold identical texts; everything else is distinct
      x.exactGroups.foreach(g => assert(g.map(i => x.docs(i.toInt).text).distinct.size === 1))
      assert(x.docs.map(_.text).distinct.size === 1000 - 20)
    }
  }

  test("embeddings and orders: same seed identical, other seed differs") {
    assert(vecDigest(Gen.embeddings(5, 300, 64, 0.03).vecs) ===
      vecDigest(Gen.embeddings(5, 300, 64, 0.03).vecs))
    assert(vecDigest(Gen.embeddings(5, 300, 64, 0.03).vecs) !==
      vecDigest(Gen.embeddings(6, 300, 64, 0.03).vecs))
    val e = Gen.embeddings(6, 300, 64, 0.03)
    assert(e.vecs.size === 300 && e.vecs.forall(_.embedding.length == 64))
    assert(e.nearPairs.size === 9)
    assert(ordersDigest(Gen.orders(1, 500)) === ordersDigest(Gen.orders(1, 500)))
    assert(ordersDigest(Gen.orders(1, 500)) !== ordersDigest(Gen.orders(2, 500)))
  }

  test("planted near pairs clear the queries' thresholds") {
    for (seed <- 1L to 5L) {
      val c = Gen.corpus(seed, 1000, 0.02, 0.03)
      val jac = Truth.jaccardPairs(c.docs, 0.5)
      c.nearDups.foreach(p => assert(jac.contains(p), s"seed $seed pair $p"))
      Truth.groupPairs(c.exactGroups).foreach(p => assert(jac(p) === 1.0))
      val e = Gen.embeddings(seed, 500, 64, 0.03)
      val cos = Truth.cosinePairs(e.vecs, 300000L)
      e.nearPairs.foreach(p => assert(cos(p) > 950000L, s"seed $seed pair $p"))
    }
  }

  test("ground-truth helpers") {
    assert(Truth.shingles("a b") === Set.empty[String])
    assert(Truth.shingles(" a  b c a b c ") === Set("a b c", "b c a", "c a b"))
    assert(Truth.levenshtein("kitten", "sitting") === 3)
    assert(Truth.levenshtein("", "abc") === 3)
    assert(Truth.levenshtein("same", "same") === 0)
    val docs = Seq(Gen.Doc(0, "a b c d e", "en", "s"),
      Gen.Doc(1, "a b c d x", "en", "s"), Gen.Doc(2, "p q r", "en", "s"))
    // {abc, bcd, cde} vs {abc, bcd, cdx}: 2 / 4
    assert(Truth.jaccardPairs(docs, 0.5) === Map((0L, 1L) -> 0.5))
    assert(Truth.jaccardPairs(docs, 0.51).isEmpty)
    assert(Truth.micros(0.3) === 300000L && Truth.micros(0.1234567) === 123457L)
    assert(Truth.groupPairs(Seq(Seq(3L, 1L, 2L))) === Set((1L, 3L), (1L, 2L), (2L, 3L)))
  }
}
