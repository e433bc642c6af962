package graft.etl

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration

/** GraphQL fetch client (SURVEY.md §2.1 S1/S2, §2.10 C1–C5).
  *
  * Reproduces the reference's ingestion control flow — 3 retries with 2 s
  * backoff on 502/503/504/timeouts, per-unit failure isolation (log + keep
  * partial results), zero-result abort handled by the pipeline — with the
  * transport pluggable so tests (and the zero-egress build env) never
  * touch a network. The offset pagination loop lives in
  * [[GraphQlApi.fetchCountryAreas]].
  *
  * The client runs wherever its caller runs: on the driver under
  * [[GraphQlApi.fetchAllAreas]], inside executor tasks under
  * [[GraphQlApi.fetchAllAreasDistributed]]. Driver-side results enter
  * Spark as in-memory records via [[JsonSource.fromRecords]], never via a
  * temp-file handoff.
  */
object FetchClient {

  final case class RetryPolicy(attempts: Int = 3, backoffMs: Long = 2000,
    timeoutMs: Long = 120000)

  /** Transport: POST a JSON body, return (statusCode, responseBody). */
  type Transport = (String, String) => (Int, String)

  def httpTransport(timeoutMs: Long): Transport = {
    val client = HttpClient.newBuilder()
      .connectTimeout(Duration.ofMillis(timeoutMs)).build()
    (url, body) => {
      val req = HttpRequest.newBuilder(URI.create(url))
        .timeout(Duration.ofMillis(timeoutMs))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8))
        .build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
  }

  private val retryableStatus = Set(502, 503, 504)

  /** One POST with the retry ladder: retry on 502/503/504 and transport
    * timeouts, `attempts` total tries, fixed backoff. */
  def postWithRetry(transport: Transport, url: String, body: String,
      policy: RetryPolicy = RetryPolicy()): (Int, String) = {
    var last: Either[Throwable, (Int, String)] = Left(new IllegalStateException("no attempt"))
    var attempt = 0
    while (attempt < policy.attempts) {
      attempt += 1
      try {
        val r = transport(url, body)
        if (!retryableStatus(r._1)) return r
        last = Right(r)
      } catch {
        case e: java.net.http.HttpTimeoutException => last = Left(e)
        case e: java.io.IOException => last = Left(e)
      }
      if (attempt < policy.attempts) Thread.sleep(policy.backoffMs)
    }
    last.fold(throw _, identity)
  }

  /** Fetch many units (e.g. countries), isolating per-unit failures: a
    * failing unit contributes its partial results and the pipeline
    * continues (reference behavior export.py:118-128). */
  def fetchUnits[A](units: Seq[String])(fetchUnit: String => Seq[A]): Seq[A] =
    units.flatMap { u =>
      try fetchUnit(u)
      catch {
        case e: Exception =>
          System.err.println(s"[fetch] unit $u failed, continuing: ${e.getMessage}")
          Seq.empty
      }
    }
}
