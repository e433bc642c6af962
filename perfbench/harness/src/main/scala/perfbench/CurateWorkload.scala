package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Dedup
import graft.queries.Registry

/** The LLM-data curation mix: one operation is one pass over twelve
  * dedup, text and vector queries of the Registry against a seeded corpus
  * directory holding `documents` and `embeddings` (the only tables these
  * queries read). As graft.Bench does, the transient query caches are
  * reset before every query and each result is counted. */
final class CurateWorkload(spark: SparkSession, tr: Trace, seed: Long,
    work: String) extends Workload {
  import CurateWorkload._

  private val dir = s"$work/corpus"
  private var corpus: Gen.Corpus = _
  private var vecs: Gen.Embeddings = _
  private var reference: Map[String, Long] = Map.empty

  def generate(rep: Int): Unit = {
    corpus = Gen.corpus(seed, Docs, ExactRate, NearRate)
    vecs = Gen.embeddings(seed + 1, Vectors, Dim, NearRate)
    val docRows = corpus.docs.map(d =>
      Row(d.docId, d.text, d.lang, d.source, d.nChars))
    spark.createDataFrame(java.util.Arrays.asList(docRows: _*), DocSchema)
      .repartition(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val vecRows = vecs.vecs.map(v => Row(v.vecId, v.embedding.toSeq, v.label))
    spark.createDataFrame(java.util.Arrays.asList(vecRows: _*), VecSchema)
      .repartition(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** The warm pass gives the reference row count of every query; then
    * the dedup queries are held to ground truth. */
  def warm(): Unit = {
    reference = pass()._1
    val found = Registry.byName("q23_dedup_exact").run(spark, dir)
      .filter(col("n_copies") > 1).select("keep_id", "n_copies").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = corpus.exactGroups.map(g => (g.min, g.size.toLong)).toSet
    require(found == planted,
      s"q23 found ${found.size} duplicate groups, planted ${planted.size}: " +
        s"missing ${(planted -- found).take(5)}, unexpected ${(found -- planted).take(5)}")
    checkNearDups()
  }

  /** q139 (an exact Jaccard join, then an edit bound) must return exactly
    * the pairs the driver computes. q27 and q33 are LSH searches, which may
    * miss a true pair by chance: every pair they return must be a true pair
    * with its exact score, q27 must find every planted exact-duplicate
    * pair (identical texts share every band), and each must find at least
    * `MinPlantedRecall` of its planted near pairs. */
  private def checkNearDups(): Unit = {
    val jaccard = Truth.jaccardPairs(corpus.docs, JaccardMin)
    def text(id: Long) = corpus.docs(id.toInt).text
    val want139 = jaccard.keySet.filter { case (a, b) =>
      Truth.levenshtein(text(a), text(b)) <= EditsMax }
    val got139 = scored(query("q139_editdist_near_dups"), "doc_a", "doc_b",
      "jaccard").keySet
    require(got139 == want139,
      s"q139 returned ${got139.size} pairs, expected ${want139.size}: missing " +
        s"${(want139 -- got139).take(5)}, unexpected ${(got139 -- want139).take(5)}")

    val got27 = scored(query("q27_minhash_near_dups"), "doc_a", "doc_b", "jaccard")
    val wrong27 = got27.filter { case (p, j) => !jaccard.get(p).contains(j) }
    require(wrong27.isEmpty, s"q27 pairs with wrong Jaccard ${wrong27.take(5)}")
    val missed = Truth.groupPairs(corpus.exactGroups) -- got27.keySet
    require(missed.isEmpty, s"q27 missed exact-duplicate pairs ${missed.take(5)}")
    recall("q27", got27.keySet, corpus.nearDups)

    val cosine = Truth.cosinePairs(vecs.vecs, CosineMinMicros)
    val got33 = scored(query("q33_embedding_near_dups"), "vec_a", "vec_b",
      "cosine_1e6")
    val wrong33 = got33.filter { case (p, c) => !cosine.get(p).contains(c) }
    require(wrong33.isEmpty, s"q33 pairs with wrong cosine ${wrong33.take(5)}")
    recall("q33", got33.keySet, vecs.nearPairs)
  }

  private def query(q: String): DataFrame = {
    Registry.resetTransientCaches()
    Registry.byName(q).run(spark, dir)
  }

  /** (a, b) -> score of a pair relation. */
  private def scored(df: DataFrame, a: String, b: String,
      score: String): Map[(Long, Long), Any] =
    df.select(a, b, score).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.get(2)).toMap

  private def recall(q: String, got: Set[(Long, Long)],
      planted: Seq[(Long, Long)]): Unit = {
    val found = planted.count(got)
    System.err.println(s"[perfbench] $q found $found of ${planted.size} planted near pairs")
    require(found >= MinPlantedRecall * planted.size,
      s"$q found $found of ${planted.size} planted near pairs; missing " +
        s"${planted.filterNot(got).take(5)}")
  }

  private def pass(): (Map[String, Long], Map[String, Double]) = {
    val res = Queries.map { q =>
      Registry.resetTransientCaches()
      val t0 = System.nanoTime()
      val n = tr.span(s"queries.$q")(Registry.byName(q).run(spark, dir).count())
      (q -> n, q -> (System.nanoTime() - t0) / 1e9)
    }
    (res.map(_._1).toMap, res.map(_._2).toMap)
  }

  def unitSeconds: Double = 6.5

  def op(i: Int): Outcome = {
    val (counts, times) = pass()
    Outcome("curate_pass", rows = RowsPerPass,
      extra = Map("query_s" -> times),
      check = () => {
        val bad = Queries.filter(q => counts(q) != reference(q))
        if (bad.isEmpty) None
        else Some(bad.map(q => s"$q ${counts(q)} rows, warm pass ${reference(q)}")
          .mkString("; "))
      })
  }

  /** The MinHash LSH funnel at q27's parameters, in traced runs only. */
  override def finish(traced: Boolean): Map[String, Any] =
    if (!traced) Map.empty
    else {
      val docs = graft.Tables.load(spark, dir, "documents")
      val candidates = Dedup.minHashCandidates(docs, 32, 4).count()
      val result = Registry.byName("q27_minhash_near_dups").run(spark, dir).count()
      Map("dedup_candidate_pairs" -> candidates, "dedup_result_pairs" -> result)
    }
}

object CurateWorkload {
  val Docs = 1000
  val Vectors = 500
  val Dim = 64
  val ExactRate = 0.02
  val NearRate = 0.03
  /** The thresholds of q27, q139 and q33. */
  val JaccardMin = 0.5
  val EditsMax = 10
  val CosineMinMicros = 300000L
  /** The share of planted near pairs an LSH query must find. q27's 8 bands
    * of 4 rows miss a pair at Jaccard 0.75 with chance (1 - 0.75^4)^8,
    * about 5%: over 40 seeds q27 found 26 to 30 of its 30 planted pairs
    * (29 on average) and q33 all 15 of its 15 every time. */
  val MinPlantedRecall = 0.75

  /** Eight of the curation queries: exact, MinHash and Jaccard dedup (the
    * Jaccard join also runs inside q51 and q139), duplicate clusters,
    * edit-distance verification (the Levenshtein prefilter rule), n-gram
    * top-k, BPE training, embedding near-duplicates and a k-NN join. */
  val Queries: Seq[String] = Seq("q23_dedup_exact", "q27_minhash_near_dups",
    "q139_editdist_near_dups", "q51_dup_clusters", "q66_ngram_topk",
    "q154_bpe_train", "q33_embedding_near_dups", "q71_knn_join")
  private val VectorQueries = Set("q33_embedding_near_dups", "q71_knn_join")

  /** Input rows the pass reads: each query scans its table once. */
  val RowsPerPass: Long = Queries.map(q =>
    if (VectorQueries(q)) Vectors.toLong else Docs.toLong).sum

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))
}
