package graft.sources

import graft.operators.Par
import graft.schema.{GeoPoint, RawFetch}

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import scala.util.{Failure, Success, Try}

/** Driver-side HTTP JSON source (SURVEY.md §2.1 S1–S3).
  *
  * The reference fetches 40 single-record payloads per hourly run
  * (`deployment_function.py:72-88`, loop `:296-307`) — a driver-side
  * concern, not a distributed scan: the data volume is bytes, so the
  * Spark-side representation is simply a local `Seq[RawFetch]` turned
  * into a DataFrame, after which extraction runs as one vectorized
  * `select` over all points at once (vs the reference's 40 sequential
  * single-row pipelines). At real scale the fetch layer would be a DSv2
  * `TableProvider`; here the fetch is injectable (`Fetcher`) so tests and
  * the zero-egress environment use fixture payloads.
  */
object HttpJsonSource {

  /** Produces the raw JSON body for one (urlTemplate, point) or fails. */
  type Fetcher = (String, GeoPoint) => Try[String]

  /** URL templates with `{lat}`/`{lon}`/`{key}` placeholders (shape of
    * `deployment_function.py:66-67`; key injected from config, S5).
    */
  def renderUrl(template: String, p: GeoPoint, apiKey: String): String =
    template.replace("{lat}", p.lat).replace("{lon}", p.lon)
      .replace("{key}", apiKey)

  /** Real HTTP fetcher: GET, 200-check (F2), body as UTF-8 string.
    * Unused in tests (zero-egress) but the production wiring.
    */
  def httpFetcher(apiKey: String,
      timeout: Duration = Duration.ofSeconds(10)): Fetcher = {
    lazy val client = HttpClient.newBuilder().connectTimeout(timeout).build()
    (template, p) => Try {
      val req = HttpRequest.newBuilder(URI.create(renderUrl(template, p, apiKey)))
        .timeout(timeout).GET().build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() != 200)
        throw new RuntimeException(
          s"Failed to fetch data for ${p.geo_name}: status ${resp.statusCode()}")
      resp.body()
    }
  }

  /** Retry wrapper — 3 tries, 1 s delay, mirroring `@retry(tries=3,
    * delay=1)` (`deployment_function.py:72`).
    */
  def withRetry(fetcher: Fetcher, tries: Int = 3,
      delayMillis: Long = 1000L): Fetcher = (template, p) => {
    var last: Try[String] = Failure(new IllegalStateException("no attempt"))
    var i = 0
    while (i < tries && last.isFailure) {
      if (i > 0) Thread.sleep(delayMillis)
      last = fetcher(template, p)
      i += 1
    }
    last
  }

  /** Fan-out over every (template, point) pair of a run (O1) with
    * per-unit error isolation (O2): one failed point never aborts the
    * run; failures are returned as a side channel instead of printed
    * (`deployment_function.py:297-307`). The calls are independent
    * round-trips, so they run through [[Par.buildAll]], up to 4 at a
    * time against the APIs; each template's rows and failures come back
    * in point order. A `fetcher` shared by the calls must be
    * thread-safe.
    */
  def fetchAll(templates: Seq[String], points: Seq[GeoPoint], fetcher: Fetcher)
      : Seq[(Seq[RawFetch], Seq[(GeoPoint, Throwable)])] = {
    val n = points.size
    val results = Par.buildAll(for (t <- templates; p <- points) yield (t, p)) {
      case (t, p) => fetcher(t, p)
    }
    templates.indices.map { i =>
      val rs = points.zip(results.slice(i * n, (i + 1) * n))
      (rs.collect { case (p, Success(body)) => RawFetch(p.geo_name, p.lat, p.lon, body) },
        rs.collect { case (p, Failure(e)) => p -> e })
    }
  }
}
