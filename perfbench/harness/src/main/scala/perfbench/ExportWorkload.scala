package perfbench

import java.io.File

import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.etl._

/** The reference's own pipeline: GraphQL fetch → JSON ingest → enrich →
  * canonical SQL → snappy Parquet, worldwide (the values config.yaml
  * sets). Pages are rendered during set-up and served in-process by a
  * `FetchClient.Transport`, so no network is involved; about 2% of requests
  * get a transient 503 first, which the client retries with no backoff. A
  * unit is `ExportsPerUnit` exports. */
final class ExportWorkload(spark: SparkSession, tr: Trace, seed: Long,
    work: String) extends Workload {
  import ExportWorkload._

  private var pages: Gen.Pages = _
  private var done = 0

  def generate(rep: Int): Unit = pages = Gen.areaPages(seed, Climbs)

  /** `WarmExports` untimed exports: the first is cold (~10 s), the
    * second still ~40% slower than the ones after it. */
  def warm(): Unit = (1 to WarmExports).foreach { k =>
    op(-k).check().foreach(p => throw new IllegalStateException(s"warm-up export: $p"))
  }

  override def unitDone: Boolean = done % ExportsPerUnit == 0
  def unitSeconds: Double = 6.5

  def op(i: Int): Outcome = {
    if (i >= 0) done += 1
    val server = new PageServer(pages, seed * 1000003L + i)
    val out = s"$work/export/op-$i"
    val areas = tr.span("etl.GraphQlApi.fetchAllAreas") {
      GraphQlApi.fetchAllAreas(server.transport, ApiUrl,
        policy = FetchClient.RetryPolicy(backoffMs = 0))
    }
    val climbs = tr.span("etl.JsonSource.load") {
      Enrich.flattenAreas(JsonSource.fromRecords(spark, areas, ClimbSchema.area))
    }
    val res = tr.span("etl.ExportPipeline.run") {
      ExportPipeline.run(spark, climbs, Config, DefaultSchemas.canonical, out,
        server.jsonBytes)
    }
    val files = Dirs.files(new File(res.outputPath)).filter(_.getName.endsWith(".parquet"))
    Outcome("export", rows = res.rows,
      extra = Map("json_bytes" -> server.jsonBytes,
        "parquet_bytes" -> files.map(_.length).sum,
        "output_files" -> files.size, "requests" -> server.requests,
        "pages" -> server.served, "retries" -> server.injected),
      check = () => {
        try check(res.outputPath)
        finally Dirs.delete(new File(out))
      })
  }

  /** The read-back row count, distinct climb_id count and null-coordinate
    * count against what the generator planted, and the canonical columns. */
  private def check(path: String): Option[String] = {
    val df = spark.read.parquet(path)
    val cols = df.columns.toSeq
    val r = df.agg(count(lit(1)), countDistinct(col("climb_id")),
      sum(when(col("latitude").isNull, 1).otherwise(0))).head()
    val got = (r.getLong(0), r.getLong(1), r.getLong(2))
    val want = (pages.climbs.toLong, pages.climbs.toLong,
      pages.nullCoordClimbs.toLong)
    if (cols != CanonicalColumns)
      Some(s"columns ${cols.mkString(",")} are not the canonical 22")
    else if (got != want) Some(s"(rows, distinct ids, null coords) $got != $want")
    else None
  }
}

object ExportWorkload {
  val Climbs = 100000
  val ApiUrl = "http://graphql.invalid/graphql"
  val Config = GraftConfig(apiUrl = ApiUrl, regions = Seq.empty,
    outputFilename = "climbs.parquet", compression = "snappy")
  val FailRate = 0.02
  val ExportsPerUnit = 3
  val WarmExports = 2

  val CanonicalColumns: Seq[String] = Seq("climb_id", "climb_name",
    "grade_yds", "grade_vscale", "grade_french", "is_sport", "is_trad",
    "is_boulder", "is_alpine", "is_top_rope", "country", "state_province",
    "region", "area", "crag", "latitude", "longitude", "length_meters",
    "bolts_count", "first_ascent", "safety", "description")

  /** The in-process GraphQL endpoint. A request is failed with a 503 with
    * probability `FailRate`, never twice in a row, so every retry ladder
    * succeeds and the injected count equals the retries made. */
  final class PageServer(pages: Gen.Pages, seed: Long) {
    private val mapper = new ObjectMapper()
    private val rng = new Random(seed)
    private var lastFailed = false
    var requests = 0L
    var served = 0L
    var injected = 0L
    var jsonBytes = 0L

    val transport: FetchClient.Transport = (_, body) => {
      requests += 1
      if (!lastFailed && rng.nextDouble() < FailRate) {
        lastFailed = true
        injected += 1
        (503, "Service Unavailable")
      } else {
        lastFailed = false
        val vars = mapper.readTree(body).path("variables")
        val resp =
          if (!vars.has("tokens")) pages.countriesBody
          else pages.areaPages.getOrElse(
            (vars.get("tokens").get(0).asText(), vars.get("offset").asInt()),
            """{"data":{"areas":[]}}""")
        served += 1
        jsonBytes += resp.length // bodies are ASCII
        (200, resp)
      }
    }
  }
}
