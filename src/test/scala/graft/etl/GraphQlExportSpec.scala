package graft.etl

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory}
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** End-to-end tests for the GraphQL query layer + export CLI core
  * (SURVEY.md §2.1 S1/S2, §2.10 C4): request bodies, envelope unpacking,
  * errors-key semantics (hard at countries level, soft per country),
  * pagination against a fake transport, and the full
  * fetch→enrich→transform→parquet run reproducing export.py main().
  */
/** The fake API lives in the companion so the distributed-fetch test can
  * ship a serializable transport FACTORY to executors (the ObjectMapper is
  * built inside the factory, never serialized). */
object GraphQlExportSpec {

  def areaJson(uuid: String, path: Seq[String], lat: Option[Double],
      climbs: Seq[String]): String = {
    val p = path.map(s => s""""$s"""").mkString("[", ",", "]")
    val meta = lat.map(v => s"""{"lat": $v, "lng": ${v + 1.0}}""").getOrElse("null")
    s"""{"uuid": "$uuid", "area_name": "$uuid", "pathTokens": $p,
        "metadata": $meta, "climbs": [${climbs.mkString(",")}]}"""
  }

  def climbJson(uuid: String, path: Option[Seq[String]],
      lat: Option[Double]): String = {
    val p = path.map(_.map(s => s""""$s"""").mkString("[", ",", "]")).getOrElse("null")
    val meta = lat.map(v => s"""{"lat": $v, "lng": ${v + 1.0}}""").getOrElse("null")
    s"""{"uuid": "$uuid", "name": "route $uuid", "fa": null, "length": 10,
        "boltsCount": 2, "grades": {"yds": "5.9"}, "type": {"sport": true},
        "safety": null, "metadata": $meta,
        "content": {"description": "d"}, "pathTokens": $p}"""
  }

  /** Fake transport: 2 countries; USA has 3 areas served at page size 2
    * (one full + one short page); Atlantis answers every areas request
    * with a GraphQL errors envelope (soft per-country failure, C4). */
  def mkFakeTransport: () => FetchClient.Transport = () => {
    val mapper = new ObjectMapper()
    (_, body) => {
      val req = mapper.readTree(body)
      val q = req.get("query").asText()
      if (q.contains("GetCountries"))
        (200, """{"data": {"countries": [
            {"areaName": "USA"}, {"areaName": "Atlantis"}]}}""")
      else {
        val vars = req.get("variables")
        val country = vars.get("tokens").get(0).asText()
        val offset = vars.get("offset").asInt()
        if (country == "Atlantis")
          (200, """{"data": null, "errors": [{"message": "sunken"}]}""")
        else {
          val usaAreas = Seq(
            areaJson("area-1", Seq("USA", "Utah", "Indian Creek"), Some(38.0),
              Seq(climbJson("cl-inherit", None, None),
                climbJson("cl-own", Some(Seq("USA", "Utah", "IC", "Buttress")), Some(38.1)))),
            areaJson("area-2", Seq("USA", "Nevada"), None,
              Seq(climbJson("cl-zero-lat", None, Some(0.0)))),
            areaJson("area-3", Seq("USA", "Arizona"), Some(34.0), Seq.empty))
          val page = usaAreas.slice(offset, offset + vars.get("limit").asInt())
          (200, s"""{"data": {"areas": [${page.mkString(",")}]}}""")
        }
      }
    }
  }

  /** Fake transport for the partial-country test: one country, Cut,
    * whose first page of 2 areas is whole and whose second is a 200 with
    * a body cut off halfway (a dropped connection behind a 200). */
  def mkTruncatingTransport: () => FetchClient.Transport = () => {
    val mapper = new ObjectMapper()
    (_, body) => {
      val vars = mapper.readTree(body).path("variables")
      if (!vars.has("offset"))
        (200, """{"data": {"countries": [{"areaName": "Cut"}]}}""")
      else {
        val page = s"""{"data": {"areas": [${
          areaJson("cut-1", Seq("Cut"), None, Seq.empty)},${
          areaJson("cut-2", Seq("Cut"), None, Seq.empty)}]}}"""
        if (vars.get("offset").asInt() == 0) (200, page)
        else (200, page.take(page.length / 2))
      }
    }
  }

  /** Attempt log for the retry-isolation test: country → POST attempts
    * observed across all partitions. Executors share the JVM in local
    * mode, so a concurrent map in the companion is visible test-side. */
  val attemptLog = new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** Fake transport for the retry-isolation test: 6 countries, one area
    * each, with per-country failure personalities —
    *  - good-1 / good-2: answer immediately;
    *  - flaky-502: 502 on the first areas attempt, then 200 (retryable
    *    status — [[FetchClient.postWithRetry]] must retry in place);
    *  - flaky-timeout: HttpTimeoutException on the first attempt, then
    *    200 (retryable transport error);
    *  - dead-500: always 500 (non-retryable → soft per-country failure);
    *  - dead-errors: always a GraphQL errors envelope (soft failure).
    * Transient state (first-attempt-failed flags) lives in the transport
    * INSTANCE, so each partition's retry ladder is self-contained. */
  def mkRetryTransport: () => FetchClient.Transport = () => {
    val mapper = new ObjectMapper()
    val failedOnce = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
    (_, body) => {
      val req = mapper.readTree(body)
      if (req.get("query").asText().contains("GetCountries"))
        (200, """{"data": {"countries": [
            {"areaName": "good-1"}, {"areaName": "good-2"},
            {"areaName": "flaky-502"}, {"areaName": "flaky-timeout"},
            {"areaName": "dead-500"}, {"areaName": "dead-errors"}]}}""")
      else {
        val country = req.get("variables").get("tokens").get(0).asText()
        attemptLog.merge(country, 1, (a, b) => a + b)
        def page = (200, s"""{"data": {"areas": [${
          areaJson(s"area-$country", Seq(country), None, Seq.empty)}]}}""")
        country match {
          case "dead-500"   => (500, "ise")
          case "dead-errors" => (200, """{"errors": [{"message": "nope"}]}""")
          case "flaky-502" =>
            if (failedOnce.putIfAbsent(country, true) == null) (502, "bad gateway")
            else page
          case "flaky-timeout" =>
            if (failedOnce.putIfAbsent(country, true) == null)
              throw new java.net.http.HttpTimeoutException("slow")
            else page
          case _ => page
        }
      }
    }
  }
}

class GraphQlExportSpec extends SparkSpec {
  import GraphQlExportSpec.{areaJson, climbJson, mkFakeTransport, mkTruncatingTransport}

  private val mapper = new ObjectMapper()

  private def fakeTransport: FetchClient.Transport = mkFakeTransport()

  // -- request construction + envelope unpacking ----------------------------

  test("request bodies carry the query text and variables (S1/S2)") {
    val c = mapper.readTree(GraphQlApi.countriesBody)
    assert(c.get("query").asText().contains("countries"))
    val a = mapper.readTree(GraphQlApi.areasBody(Seq("USA"), 500, 1000))
    assert(a.get("query").asText().contains("areas(filter:"))
    assert(a.get("variables").get("tokens").get(0).asText() === "USA")
    assert(a.get("variables").get("limit").asInt() === 500)
    assert(a.get("variables").get("offset").asInt() === 1000)
  }

  test("countries envelope unpacks areaName; errors key raises (C4 hard)") {
    val names = GraphQlApi.parseCountries(
      """{"data": {"countries": [{"areaName": "USA"}, {"areaName": "Peru"}]}}""")
    assert(names === Seq("USA", "Peru"))
    val e = intercept[GraphQlApi.GraphQlErrors] {
      GraphQlApi.parseCountries("""{"errors": [{"message": "boom"}]}""")
    }
    assert(e.getMessage.contains("boom"))
  }

  test("areas envelope yields raw area JSON; errors key raises (C4)") {
    val areas = GraphQlApi.parseAreasPage(
      s"""{"data": {"areas": [${areaJson("a", Seq("USA"), Some(1.0), Seq.empty)}]}}""")
    assert(areas.size === 1)
    assert(mapper.readTree(areas.head).get("uuid").asText() === "a")
    intercept[GraphQlApi.GraphQlErrors] {
      GraphQlApi.parseAreasPage("""{"errors": [{"message": "nope"}]}""")
    }
  }

  // -- the streaming page splitter against the tree read it replaced -------

  /** The tree read `parseAreasPage` made before it streamed: the oracle. */
  private def treeAreasPage(body: String): Seq[String] = {
    val root = mapper.readTree(body)
    if (root.has("errors")) throw GraphQlApi.GraphQlErrors(root.get("errors").toString)
    root.path("data").path("areas") match {
      case a: ArrayNode => a.elements().asScala.map(_.toString).toSeq
      case _ => Seq.empty
    }
  }

  private val nodes = JsonNodeFactory.instance

  // pieces that break offsets counted in bytes or in code points (non-ASCII,
  // a surrogate pair) and a naive scan for structure (quotes, backslashes,
  // braces inside strings)
  private val genText: Gen[String] = Gen.choose(0, 6).flatMap(Gen.listOfN(_,
    Gen.oneOf("a", "Zz9", "\u00e9", "\u4e2d\u6587", "\uD83E\uDDD7",
      "\"", "\\", "{", "}", "[", "]", ",", ":", " ", "\n", "\u0001")))
    .map(_.mkString)

  private val genScalar: Gen[JsonNode] = Gen.oneOf(
    genText.map(nodes.textNode),
    Gen.chooseNum(-1000000L, 1000000L).map(nodes.numberNode(_)),
    Gen.chooseNum(-1e6, 1e6).map(nodes.numberNode(_)),
    Gen.oneOf(true, false).map(nodes.booleanNode),
    Gen.const(nodes.nullNode))

  private def genNode(depth: Int): Gen[JsonNode] =
    if (depth == 0) genScalar
    else Gen.frequency(2 -> genScalar, 1 -> genArray(depth), 2 -> genObject(depth))

  private def genArray(depth: Int): Gen[JsonNode] =
    Gen.choose(0, 3).flatMap(Gen.listOfN(_, genNode(depth - 1)))
      .map { vs => val a = nodes.arrayNode(); vs.foreach(a.add); a }

  private def genObject(depth: Int): Gen[JsonNode] =
    Gen.choose(0, 4).flatMap(Gen.listOfN(_, Gen.zip(genText, genNode(depth - 1))))
      .map { kvs =>
        val o = nodes.objectNode()
        kvs.foreach { case (k, v) => o.set[JsonNode](k, v) }
        o
      }

  /** A page body: compact, pretty-printed or with non-ASCII escaped; root
    * keys `data` / `errors` / `extensions` in any order, possibly repeated;
    * `data` null, not an object, or an object whose `areas` is an array
    * (of objects, scalars and nulls), not an array, missing or repeated;
    * one body in six cut short. */
  private val genPage: Gen[String] = for {
    style <- Gen.choose(0, 2)
    writer = style match {
      case 0 => mapper.writer()
      case 1 => mapper.writerWithDefaultPrettyPrinter()
      case _ => mapper.writer().`with`(JsonWriteFeature.ESCAPE_NON_ASCII)
    }
    render = (n: JsonNode) => writer.writeValueAsString(n)
    obj = (kvs: Seq[(String, String)]) =>
      if (style == 1)
        kvs.map { case (k, v) => s"  ${render(nodes.textNode(k))} : $v" }
          .mkString("{\n", ",\n", "\n}")
      else kvs.map { case (k, v) => s"${render(nodes.textNode(k))}:$v" }
        .mkString("{", ",", "}")
    element = Gen.frequency(5 -> genObject(3), 1 -> genScalar).map(render)
    areas = Gen.choose(0, 5).flatMap(Gen.listOfN(_, element))
      .map(_.mkString("[", if (style == 1) ", " else ",", "]"))
    dataEntry = Gen.frequency(
      4 -> areas.map("areas" -> _),
      1 -> Gen.oneOf(genScalar, genObject(1)).map(n => "areas" -> render(n)),
      2 -> Gen.zip(genText, genNode(1).map(render)))
    data = Gen.frequency(
      6 -> Gen.choose(0, 3).flatMap(Gen.listOfN(_, dataEntry)).map(obj),
      1 -> Gen.const("null"),
      1 -> Gen.oneOf(genScalar, genArray(1)).map(render))
    errors = Gen.frequency(
      3 -> genText.map(m => render(nodes.arrayNode().add(
        nodes.objectNode().put("message", m)))),
      1 -> Gen.const("null"))
    rootEntry = Gen.frequency(
      6 -> data.map("data" -> _),
      1 -> errors.map("errors" -> _),
      1 -> genNode(1).map(n => "extensions" -> render(n)))
    entries <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, rootEntry))
    body = obj(entries)
    cut <- Gen.frequency(5 -> Gen.const(body.length),
      1 -> Gen.choose(1, math.max(1, body.length - 1)))
  } yield body.take(cut)

  test("areas page split: the streaming splitter matches the tree read (property)") {
    val strict = mapper.reader().`with`(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    // an element's text must be exactly its value: no surrounding blanks,
    // nothing after it (the strict reader rejects a trailing comma)
    def tree(text: String): JsonNode = {
      assert(text === text.trim)
      strict.readTree(text)
    }
    def outcome(parse: String => Seq[String], body: String): Either[String, Seq[JsonNode]] =
      (try Right(parse(body)) catch {
        case e: GraphQlApi.GraphQlErrors => Left(e.getMessage)
        case _: JsonProcessingException => Left("malformed")
      }).map(_.map(tree))
    val seen = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    for (trial <- 1 to 600) {
      val body = genPage(Gen.Parameters.default, org.scalacheck.rng.Seed(trial.toLong)).get
      val got = outcome(GraphQlApi.parseAreasPage, body)
      assert(got === outcome(treeAreasPage, body), s"page: $body")
      seen(got.fold(e => if (e == "malformed") e else "errors",
        a => if (a.isEmpty) "empty" else "areas")) += 1
    }
    // every kind of outcome was reached
    assert(seen.keySet === Set("malformed", "errors", "empty", "areas"), seen)
  }

  test("a page that does not parse ends its country with the pages already " +
      "fetched, on the driver and the distributed path") {
    val policy = FetchClient.RetryPolicy(backoffMs = 1)
    def ids(areas: Seq[String]) =
      areas.map(a => mapper.readTree(a).get("uuid").asText()).sorted
    val page1 = Seq("cut-1", "cut-2")
    assert(ids(GraphQlApi.fetchCountryAreas(mkTruncatingTransport(), "http://x",
      "Cut", pageSize = 2, policy)) === page1)
    assert(ids(GraphQlApi.fetchAllAreas(mkTruncatingTransport(), "http://x",
      pageSize = 2, policy)) === page1)
    assert(ids(GraphQlApi.fetchAllAreasDistributed(spark, mkTruncatingTransport,
      "http://x", pageSize = 2, policy, parallelism = 2).collect().toSeq) === page1)
  }

  test("single-area fetch: body carries the uuid; envelope unpacks data.area") {
    val b = mapper.readTree(GraphQlApi.areaBody("abc-123"))
    // the uuid rides in variables (never interpolated into the document —
    // a quote/backslash in it would malform or inject GraphQL)
    assert(b.get("query").asText().contains("area(uuid: $uuid)"))
    assert(b.get("variables").get("uuid").asText() === "abc-123")
    assert(!b.get("query").asText().contains("abc-123"))
    val got = GraphQlApi.parseArea(
      s"""{"data": {"area": ${areaJson("a1", Seq("USA"), Some(1.0), Seq.empty)}}}""")
    assert(mapper.readTree(got.get).get("uuid").asText() === "a1")
    assert(GraphQlApi.parseArea("""{"data": {"area": null}}""").isEmpty)
    intercept[GraphQlApi.GraphQlErrors] {
      GraphQlApi.parseArea("""{"errors": [{"message": "x"}]}""")
    }
    // through the transport with retry: one smoke area end-to-end
    val t: FetchClient.Transport = (_, _) =>
      (200, s"""{"data": {"area": ${areaJson("a2", Seq("USA"), None,
        Seq(climbJson("c1", None, None)))}}}""")
    val area = GraphQlApi.fetchArea(t, "http://x", "a2").get
    assert(mapper.readTree(area).get("climbs").size() === 1)
  }

  // -- fetch orchestration --------------------------------------------------

  test("per-country pagination stops on short page; soft failures keep partials") {
    val areas = GraphQlApi.fetchCountryAreas(fakeTransport, "http://x", "USA",
      pageSize = 2, FetchClient.RetryPolicy(backoffMs = 1))
    assert(areas.size === 3) // page of 2 + short page of 1

    // a country answering with a GraphQL errors envelope contributes zero
    // rows but does not throw (export.py:126-128)
    val sunk = GraphQlApi.fetchCountryAreas(fakeTransport, "http://x",
      "Atlantis", pageSize = 2, FetchClient.RetryPolicy(backoffMs = 1))
    assert(sunk.isEmpty)

    // errors envelope on page 2: page 1's areas are kept (partial)
    var calls = 0
    val flaky: FetchClient.Transport = (_, b) => {
      calls += 1
      val off = mapper.readTree(b).get("variables").get("offset").asInt()
      if (off == 0)
        (200, s"""{"data": {"areas": [${
          areaJson("a1", Seq("X"), None, Seq.empty)},${
          areaJson("a2", Seq("X"), None, Seq.empty)}]}}""")
      else (200, """{"errors": [{"message": "mid-country"}]}""")
    }
    val partial = GraphQlApi.fetchCountryAreas(flaky, "http://x", "X",
      pageSize = 2, FetchClient.RetryPolicy(backoffMs = 1))
    assert(partial.size === 2 && calls === 2)

    // 500 after retries: partial, not an exception (export.py:121-123)
    val broken: FetchClient.Transport = (_, _) => (500, "ise")
    assert(GraphQlApi.fetchCountryAreas(broken, "http://x", "X",
      pageSize = 2, FetchClient.RetryPolicy(backoffMs = 1)).isEmpty)
  }

  test("fetchAllAreas: hard failure on countries errors, soft per country") {
    val all = GraphQlApi.fetchAllAreas(fakeTransport, "http://x",
      pageSize = 2, FetchClient.RetryPolicy(backoffMs = 1))
    assert(all.size === 3) // Atlantis contributes nothing, USA all 3

    val deadCountries: FetchClient.Transport = (_, b) =>
      if (mapper.readTree(b).get("query").asText().contains("GetCountries"))
        (200, """{"errors": [{"message": "outage"}]}""")
      else (200, "{}")
    intercept[GraphQlApi.GraphQlErrors] {
      GraphQlApi.fetchAllAreas(deadCountries, "http://x")
    }
    val down: FetchClient.Transport = (_, _) => (500, "down")
    intercept[RuntimeException] {
      GraphQlApi.fetchAllAreas(down, "http://x")
    }
  }

  test("distributed fetch: countries fan out over executors, same soft semantics") {
    val ds = GraphQlApi.fetchAllAreasDistributed(spark, mkFakeTransport,
      "http://x", pageSize = 2, FetchClient.RetryPolicy(backoffMs = 1),
      parallelism = 2)
    val areas = ds.collect()
    assert(areas.length === 3) // USA's 3 areas; Atlantis soft-fails to zero
    assert(areas.forall(a => mapper.readTree(a).get("uuid").asText().startsWith("area-")))
  }

  test("distributed fetch parity: per-partition fetch returns the exact " +
      "area set of the driver-side path") {
    val policy = FetchClient.RetryPolicy(backoffMs = 1)
    val driverSide = GraphQlApi.fetchAllAreas(fakeTransport, "http://x",
      pageSize = 2, policy)
    // parallelism > #countries exercises the partition clamp too
    val distributed = GraphQlApi.fetchAllAreasDistributed(spark,
      mkFakeTransport, "http://x", pageSize = 2, policy, parallelism = 8)
      .collect().toSeq
    assert(distributed.sorted === driverSide.sorted)
  }

  test("distributed fetch: per-partition retry isolation — transient " +
      "failures retry in place, permanent ones soft-fail only their country") {
    GraphQlExportSpec.attemptLog.clear()
    val ds = GraphQlApi.fetchAllAreasDistributed(spark,
      GraphQlExportSpec.mkRetryTransport, "http://x", pageSize = 2,
      FetchClient.RetryPolicy(attempts = 3, backoffMs = 1), parallelism = 3)
    val got = ds.collect().map(a => mapper.readTree(a).get("uuid").asText()).sorted
    // the 4 healthy-or-transient countries contribute exactly their area;
    // both dead countries soft-fail to zero without poisoning the others
    assert(got === Array("area-flaky-502", "area-flaky-timeout",
      "area-good-1", "area-good-2"))
    val log = GraphQlExportSpec.attemptLog
    // transient failures were retried INSIDE the partition (2 attempts:
    // one failure + one success), not resurfaced as unit failures
    assert(log.get("flaky-502") === 2)
    assert(log.get("flaky-timeout") === 2)
    // the non-retryable 500 returns immediately (postWithRetry only
    // retries 502/503/504); the errors envelope is a parsed 200
    assert(log.get("dead-500") === 1)
    assert(log.get("dead-errors") === 1)
    assert(log.get("good-1") === 1 && log.get("good-2") === 1)
  }

  // -- the runnable surface -------------------------------------------------

  test("ExportMain.run: fetch → enrich → transform → parquet with stats (export.py main)") {
    val dir = tmpDir("graft-export-main")
    val code = ExportMain.run(spark,
      GraphQlApi.fetchAllAreas(fakeTransport, _, pageSize = 2,
        FetchClient.RetryPolicy(backoffMs = 1)),
      GraftConfig(apiUrl = "http://x", outputFilename = "climbs.parquet"),
      outDir = dir)
    assert(code === 0)
    val out = spark.read.parquet(s"$dir/climbs.parquet")
      .collect().map(r => r.getAs[String]("climb_id") -> r).toMap
    assert(out.keySet === Set("cl-inherit", "cl-own", "cl-zero-lat"))
    // inheritance applied through the pipeline: area path + coords
    val inh = out("cl-inherit")
    assert(inh.getAs[String]("country") === "USA")
    assert(inh.getAs[String]("region") === "Indian Creek")
    assert(inh.getAs[Double]("latitude") === 38.0)
    val own = out("cl-own")
    assert(own.getAs[Double]("latitude") === 38.1)
    // falsy 0.0 lat inherits the area's coords — but area-2 has none, so
    // the climb keeps its zero coordinate
    assert(out("cl-zero-lat").getAs[Double]("latitude") === 0.0)
    assert(new java.io.File(s"$dir/export-stats.json").exists())

    // zero areas → exit 1 (export.py:290-292)
    assert(ExportMain.run(spark, _ => Seq.empty,
      GraftConfig(apiUrl = "http://x"), outDir = dir) === 1)
    // zero rows after filtering → exit 1 (C3, export.py:297-299)
    assert(ExportMain.run(spark,
      GraphQlApi.fetchAllAreas(fakeTransport, _, pageSize = 2,
        FetchClient.RetryPolicy(backoffMs = 1)),
      GraftConfig(apiUrl = "http://x", regions = Seq("Narnia")),
      outDir = dir) === 1)
  }

  test("Parquet2JsonMain.run: extension picks JSON array vs GeoJSON") {
    val dir = tmpDir("graft-p2j")
    ExportMain.run(spark,
      GraphQlApi.fetchAllAreas(fakeTransport, _, pageSize = 2,
        FetchClient.RetryPolicy(backoffMs = 1)),
      GraftConfig(apiUrl = "http://x", outputFilename = "in.parquet"),
      outDir = dir)

    assert(Parquet2JsonMain.run(spark, s"$dir/out.json", s"$dir/in.parquet") === 0)
    val arr = mapper.readTree(new java.io.File(s"$dir/out.json"))
    assert(arr.isArray && arr.size() === 3)

    assert(Parquet2JsonMain.run(spark, s"$dir/out.geojson", s"$dir/in.parquet") === 0)
    val fc = mapper.readTree(new java.io.File(s"$dir/out.geojson"))
    assert(fc.get("type").asText() === "FeatureCollection")
    // cl-zero-lat has latitude 0.0 (not null) so it stays; 3 features
    assert(fc.get("features").size() === 3)

    // missing input → exit 1
    assert(Parquet2JsonMain.run(spark, s"$dir/x.json", s"$dir/absent.parquet") === 1)
  }

  test("extended schema over the fetch path: unfetched fields surface as defaults") {
    // the AREAS_QUERY selection set (reference parity) does not fetch the
    // extended-only fields; through the REAL fetch→enrich→transform path
    // they must come out as their COALESCE defaults, not errors
    val dir = tmpDir("graft-export-ext")
    val code = ExportMain.run(spark,
      GraphQlApi.fetchAllAreas(fakeTransport, _, pageSize = 2,
        FetchClient.RetryPolicy(backoffMs = 1)),
      GraftConfig(apiUrl = "http://x", outputFilename = "ext.parquet"),
      schemaSql = DefaultSchemas.extended, outDir = dir)
    assert(code === 0)
    val out = spark.read.parquet(s"$dir/ext.parquet")
    assert(out.columns.length === 34)
    val r = out.filter(col("climb_id") === "cl-own").head()
    assert(r.getAs[String]("grade_yds") === "5.9")   // fetched
    assert(r.getAs[String]("grade_ewbank") === "")   // unfetched → default
    assert(r.getAs[Boolean]("is_sport"))             // fetched
    assert(!r.getAs[Boolean]("is_ice"))              // unfetched → default
    assert(r.getAs[String]("protection") === "")     // unfetched → default
    assert(r.getAs[Seq[String]]("full_location_path") ===
      Seq("USA", "Utah", "IC", "Buttress"))
  }

  // -- extended schema golden (P4 whole-array passthrough) ------------------

  test("extended schema: 34 columns, 6th path level, array passthrough, extra fields") {
    val deep = """{"uuid": "deep", "name": "Deep Route", "fa": "F. A. 2001",
      "length": 30, "boltsCount": 12,
      "grades": {"yds": "5.12a", "french": "7a+", "ewbank": "25", "uiaa": "VIII",
                 "za": "24", "british": "E5 6a"},
      "type": {"sport": true, "mixed": true, "ice": true, "snow": false, "aid": true},
      "safety": "PG13", "metadata": {"lat": 40.0, "lng": -105.0},
      "content": {"description": "desc", "location": "loc", "protection": "pro"},
      "pathTokens": ["USA", "Colorado", "Boulder", "Flatirons", "First", "East Face"]}"""
    val bare = """{"uuid": "bare", "name": null, "pathTokens": null}"""
    JsonSource.registerClimbs(
      JsonSource.fromRecords(spark, Seq(deep, bare)))
    val out = SqlTransform(spark, DefaultSchemas.extended)
    assert(out.columns.length === 34)
    val rows = out.collect().map(r => r.getAs[String]("climb_id") -> r).toMap
    val d = rows("deep")
    assert(d.getAs[String]("grade_ewbank") === "25")
    assert(d.getAs[String]("grade_british") === "E5 6a")
    assert(d.getAs[Boolean]("is_mixed") && d.getAs[Boolean]("is_ice") &&
      d.getAs[Boolean]("is_aid") && !d.getAs[Boolean]("is_snow"))
    assert(d.getAs[String]("sub_area") === "East Face")
    // P4: the whole pathTokens array passes through untouched
    assert(d.getAs[Seq[String]]("full_location_path") ===
      Seq("USA", "Colorado", "Boulder", "Flatirons", "First", "East Face"))
    assert(d.getAs[String]("location_description") === "loc")
    assert(d.getAs[String]("protection") === "pro")
    // COALESCE defaults: all-null climb renders as empty strings / zeros
    val b = rows("bare")
    assert(b.getAs[String]("grade_uiaa") === "")
    assert(b.getAs[String]("sub_area") === "")
    assert(b.getAs[Seq[String]]("full_location_path") === null)
    assert(b.getAs[Double]("latitude") === 0.0)
    assert(b.getAs[Long]("length_meters") === 0L)
  }
}
