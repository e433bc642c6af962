package perfbench

import scala.collection.mutable
import scala.util.Random

/** Seeded input generators. Each is a pure function of its seed and sizes,
  * so the same seed gives byte-identical inputs, and the number of planted
  * cases is fixed by the sizes alone (a different seed moves them, never
  * changes how many there are). Nothing here touches Spark. */
object Gen {

  // ---------------------------------------------------------------------
  // OpenBeta area pages (export workload)
  // ---------------------------------------------------------------------

  /** Countries and their share of areas; USA dominates as upstream does,
    * the rest are the non-USA cases. */
  val Countries: Seq[(String, Int)] = Seq("USA" -> 50, "Canada" -> 12,
    "Mexico" -> 8, "France" -> 10, "Spain" -> 8, "Germany" -> 6,
    "Australia" -> 4, "South Africa" -> 2)

  /** Every response body the fake GraphQL endpoint can return, keyed by
    * country and page offset, plus what a correct export must produce. */
  final case class Pages(
      countriesBody: String,
      areaPages: Map[(String, Int), String],
      climbs: Int,
      nullCoordClimbs: Int,
      sparseClimbs: Int,
      inheritingClimbs: Int,
      nonUsaClimbs: Int) {
    /** Concatenation of every body in a fixed order (determinism checks). */
    def digestInput: Iterator[String] =
      Iterator(countriesBody) ++ areaPages.toSeq.sortBy(_._1).iterator.map(_._2)
  }

  private val routeWords = Seq("crack", "arete", "roof", "slab", "dihedral",
    "chimney", "face", "corner", "flake", "traverse", "buttress", "pillar")
  private val descWords = Seq("steep", "juggy", "crimpy", "sustained", "runout",
    "classic", "polished", "exposed", "airy", "bolted", "protected", "thin",
    "pumpy", "technical", "sandbagged", "chossy")
  private val yds = Seq("5.6", "5.7", "5.8", "5.9", "5.10a", "5.10b", "5.10c",
    "5.10d", "5.11a", "5.11c", "5.12a", "5.12d", "5.13b")
  private val french = Seq("5a", "5b", "5c", "6a", "6a+", "6b", "6b+", "6c",
    "7a", "7a+", "7b", "7c", "8a")
  private val safety = Seq("UNSPECIFIED", "PG", "PG13", "R", "X")

  /** A UUID-shaped id drawn from `r`. */
  private def uuid(r: Random): String = {
    def hex(n: Long, digits: Int) = {
      val s = java.lang.Long.toHexString(n)
      if (s.length >= digits) s.takeRight(digits) else "0" * (digits - s.length) + s
    }
    val a = r.nextLong(); val b = r.nextLong()
    s"${hex(a >>> 32, 8)}-${hex(a >>> 16, 4)}-4${hex(a, 3)}-a${hex(b >>> 48, 3)}-${hex(b, 12)}"
  }

  /** A coordinate with six decimals and magnitude in [lo, hi), rendered
    * by `Double.toString` (plain digits in this range). */
  private def coord(r: Random, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 1e6) / 1e6

  private def str(s: String): String = "\"" + s + "\""
  private def strList(xs: Seq[String]): String =
    xs.map(str).mkString("[", ",", "]")

  /** `nClimbs` climbs spread over leaf areas, paged `pageSize` areas per
    * response. Per climb the cases of FIXTURES.md A are drawn by fixed
    * shares: sparse boulders (no YDS grade, no coordinates, two path
    * tokens), climbs that inherit path and coordinates from their area,
    * and climbs left with no coordinates at all (own and area latitude
    * both missing). Area sizes are skewed (1..30 climbs). */
  def areaPages(seed: Long, nClimbs: Int, pageSize: Int = 500): Pages = {
    val r = new Random(seed)
    val total = Countries.map(_._2).sum
    val byCountry = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[String]]
    Countries.foreach { case (c, _) => byCountry(c) = mutable.ArrayBuffer.empty }
    var made = 0
    var areas = 0
    var nullCoord = 0
    var sparse = 0
    var inheriting = 0
    var nonUsa = 0
    while (made < nClimbs) {
      // country by share
      var pick = r.nextInt(total)
      val country = Countries.find { case (_, w) => pick -= w; pick < 0 }.get._1
      val path = Seq(country, s"State ${r.nextInt(12)}", s"Region ${r.nextInt(40)}",
        s"Area ${r.nextInt(400)}", s"Crag ${areas}")
      // 4% of areas carry no coordinates, 1% a falsy 0.0 latitude
      val areaMeta = r.nextInt(100) match {
        case x if x < 4 => None
        case 4 => Some((0.0, 0.0))
        case _ => Some((coord(r, 10, 60), coord(r, 20, 150)))
      }
      val areaLatFalsy = areaMeta.forall(_._1 == 0.0)
      val n = math.min(1 + (r.nextInt(30) * r.nextInt(30)) / 29, nClimbs - made)
      val climbs = new StringBuilder
      var i = 0
      while (i < n) {
        if (i > 0) climbs.append(',')
        val kind = r.nextInt(100)
        val isSparse = kind < 10
        val inherits = kind >= 10 && kind < 22
        val name = s"${routeWords(r.nextInt(routeWords.size))} ${made + i}"
        val grades =
          if (isSparse) s"""{"yds":null,"vscale":"V${r.nextInt(12)}","french":null}"""
          else s"""{"yds":${str(yds(r.nextInt(yds.size)))},"vscale":null,"french":${str(french(r.nextInt(french.size)))}}"""
        val sport = r.nextBoolean()
        val tpe = s"""{"sport":$sport,"trad":${!sport && !isSparse},"bouldering":$isSparse,"alpine":${r.nextInt(20) == 0},"tr":${r.nextInt(4) == 0}}"""
        // own coordinates: missing for sparse and inheriting climbs, a
        // falsy 0.0 for 1% of the rest
        val ownLatNull = isSparse || inherits
        val meta =
          if (inherits) None
          else if (isSparse) Some("""{"lat":null,"lng":null}""")
          else if (r.nextInt(100) == 0) Some("""{"lat":0.0,"lng":0.0}""")
          else Some(s"""{"lat":${coord(r, 10, 60)},"lng":${coord(r, 20, 150)}}""")
        if (ownLatNull && areaLatFalsy) nullCoord += 1
        val ownPath =
          if (inherits) (if (r.nextBoolean()) None else Some("[]"))
          else if (isSparse) Some(strList(path.take(2)))
          else Some(strList(path))
        val desc = Seq.fill(5 + r.nextInt(15))(descWords(r.nextInt(descWords.size)))
          .mkString(" ")
        climbs.append("{\"uuid\":").append(str(uuid(r)))
          .append(",\"name\":").append(str(name))
          .append(",\"fa\":").append(
            if (r.nextInt(5) == 0) "null" else str(s"FA ${1950 + r.nextInt(70)}"))
          .append(",\"length\":").append(
            if (isSparse) "null" else (5 + r.nextInt(60)).toString)
          .append(",\"boltsCount\":").append(
            if (sport) (2 + r.nextInt(14)).toString else "null")
          .append(",\"grades\":").append(grades)
          .append(",\"type\":").append(tpe)
          .append(",\"safety\":").append(str(safety(r.nextInt(safety.size))))
        meta.foreach(m => climbs.append(",\"metadata\":").append(m))
        climbs.append(",\"content\":{\"description\":").append(str(desc)).append('}')
        ownPath.foreach(p => climbs.append(",\"pathTokens\":").append(p))
        climbs.append('}')
        if (isSparse) sparse += 1
        if (inherits) inheriting += 1
        if (country != "USA") nonUsa += 1
        i += 1
      }
      val metaJson = areaMeta match {
        case None => "null"
        case Some((la, ln)) => s"""{"lat":$la,"lng":$ln}"""
      }
      byCountry(country) += s"""{"uuid":${str(uuid(r))},"area_name":${str(path.last)},"pathTokens":${strList(path)},"metadata":$metaJson,"climbs":[$climbs]}"""
      made += n
      areas += 1
    }
    val pages = mutable.Map.empty[(String, Int), String]
    byCountry.foreach { case (c, as) =>
      // every offset the client will ask for, down to the short (or
      // empty) page that ends its pagination
      var off = 0
      var done = false
      while (!done) {
        val chunk = as.slice(off, off + pageSize)
        pages((c, off)) = chunk.mkString("""{"data":{"areas":[""", ",", "]}}")
        done = chunk.size < pageSize
        off += pageSize
      }
    }
    val countriesBody = Countries.map { case (c, _) => s"""{"areaName":${str(c)}}""" }
      .mkString("""{"data":{"countries":[""", ",", "]}}")
    Pages(countriesBody, pages.toMap, made, nullCoord, sparse,
      inheriting, nonUsa)
  }

  // ---------------------------------------------------------------------
  // Curation corpus (curate workload)
  // ---------------------------------------------------------------------

  /** The corpus' token vocabulary; the shapes (10..100 tokens per doc,
    * five languages, twenty sources) follow the engine's corpus tables. */
  val Vocab: IndexedSeq[String] = IndexedSeq("spark", "window", "merge",
    "table", "column", "vector", "stream", "value", "data", "small", "join",
    "filter", "big", "group", "hash", "customer", "sort", "order", "slow",
    "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan",
    "batch")
  private val langs = Seq("en" -> 41, "es" -> 15, "zh" -> 15, "de" -> 14, "fr" -> 15)

  final case class Doc(docId: Long, text: String, lang: String,
      source: String) {
    def nChars: Long = text.length.toLong
  }

  /** Documents with planted duplication. `exactGroups` lists every group of
    * doc_ids sharing one text (smallest id first); `nearDups` pairs a doc
    * with the doc it was copied from and edited (one token changed per
    * twenty, so word-3-gram Jaccard stays well above 0.5). All other
    * texts are distinct by construction. */
  final case class Corpus(docs: IndexedSeq[Doc], exactGroups: Seq[Seq[Long]],
      nearDups: Seq[(Long, Long)])

  /** Which positions of `0 until n` get a planted copy: exactly
    * `round(n * rate)` of them, never position 0 (a copy needs a source). */
  private def plantPositions(r: Random, n: Int, rate: Double): Set[Int] =
    r.shuffle((1 until n).toVector).take(math.round(n * rate).toInt).toSet

  def corpus(seed: Long, nDocs: Int, exactRate: Double,
      nearRate: Double): Corpus = {
    val r = new Random(seed)
    val planted = plantPositions(r, nDocs, exactRate + nearRate).toVector.sorted
    val exactAt = r.shuffle(planted).take(math.round(nDocs * exactRate).toInt).toSet
    val nearAt = planted.toSet -- exactAt
    val seen = mutable.HashSet.empty[String]
    val texts = new Array[String](nDocs)
    val groups = mutable.LinkedHashMap.empty[Long, mutable.ArrayBuffer[Long]]
    val near = Seq.newBuilder[(Long, Long)]
    var i = 0
    while (i < nDocs) {
      if (exactAt(i)) {
        val src = r.nextInt(i)
        // copies of copies join the original's group
        val root = groups.collectFirst { case (k, g) if g.contains(src.toLong) => k }
          .getOrElse(src.toLong)
        texts(i) = texts(src)
        groups.getOrElseUpdate(root, mutable.ArrayBuffer(root)) += i.toLong
      } else {
        var t: String = null
        var src = -1L
        while (t == null || seen(t)) {
          if (nearAt(i)) {
            val s = r.nextInt(i)
            val toks = texts(s).split(' ')
            toks.indices.foreach { j =>
              if (j % 20 == 19 || (j == 0 && toks.length < 20))
                toks(j) = Vocab(r.nextInt(Vocab.size))
            }
            src = s.toLong
            t = toks.mkString(" ")
          } else t = Seq.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.size)))
            .mkString(" ")
        }
        if (src >= 0) near += (src -> i.toLong)
        seen += t
        texts(i) = t
      }
      i += 1
    }
    val docs = texts.indices.map { j =>
      var pick = r.nextInt(100)
      val lang = langs.find { case (_, w) => pick -= w; pick < 0 }.get._1
      Doc(j.toLong, texts(j), lang, s"src${j % 20}")
    }
    Corpus(docs, groups.values.map(_.toSeq.sorted).toSeq, near.result())
  }

  final case class Vec(vecId: Long, embedding: Array[Float], label: Int)

  /** Vectors plus every planted near-neighbour pair (source, copy). */
  final case class Embeddings(vecs: IndexedSeq[Vec], nearPairs: Seq[(Long, Long)])

  /** Unit-norm Gaussian vectors (the engine's embedding table shape) with
    * `round(n * nearRate)` planted near neighbours: a copy of an earlier
    * vector plus small noise, cosine about 0.99. */
  def embeddings(seed: Long, n: Int, dim: Int, nearRate: Double): Embeddings = {
    val r = new Random(seed)
    val nearAt = plantPositions(r, n, nearRate)
    val out = new Array[Array[Float]](n)
    val near = Seq.newBuilder[(Long, Long)]
    def unit(v: Array[Double]): Array[Float] = {
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / norm).toFloat)
    }
    (0 until n).foreach { i =>
      out(i) =
        if (nearAt(i)) {
          val src = r.nextInt(i)
          near += (src.toLong -> i.toLong)
          unit(out(src).map(x => x + 0.01 * r.nextGaussian()))
        } else unit(Array.fill(dim)(r.nextGaussian()))
    }
    Embeddings(out.indices.map(i => Vec(i.toLong, out(i), r.nextInt(10))),
      near.result())
  }

  // ---------------------------------------------------------------------
  // Orders (lakehouse workload)
  // ---------------------------------------------------------------------

  val Priorities: IndexedSeq[String] =
    IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val statuses = IndexedSeq("O", "F", "P")

  /** One orders row; the price is held in whole cents so the driver-side
    * model sums it exactly. */
  final case class Order(key: Long, custKey: Long, status: String,
      cents: Long, dateMillis: Long, priority: String) {
    def price: Double = cents / 100.0
  }

  /** A random order with key `key`. */
  def order(r: Random, key: Long): Order =
    Order(key, 1L + r.nextInt(15000), statuses(r.nextInt(3)),
      90000L + r.nextInt(50000000), // 900.00 .. 500 900.00
      694224000000L + r.nextInt(2500) * 86400000L, // 1992-01-01 + days
      Priorities(r.nextInt(Priorities.size)))

  def orders(seed: Long, n: Int): IndexedSeq[Order] = {
    val r = new Random(seed)
    (0 until n).map(i => order(r, i.toLong))
  }
}
