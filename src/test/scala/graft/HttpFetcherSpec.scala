package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.BeforeAndAfterAll

import graft.pipeline.{HttpFetcher, Ingest}

/** [[HttpFetcher]] against a local in-process HTTP stub: meta probe,
  * paginated GETs, raise-on-non-2xx, bounded retry, and the per-page
  * progress listener through both ingest modes — the offline stand-in
  * for `requests.get(...).raise_for_status()` parity. */
class HttpFetcherSpec extends SparkSpec with BeforeAndAfterAll {

  private val Total = 450
  private var server: HttpServer = _
  private var base: String = _
  private val flakyHits = new AtomicInteger(0)

  private def jsonRow(i: Int): String = {
    val addr2 = if (i % 2 == 0) "null" else s""""suite $i"""" // exercise JSON nulls
    s"""{"id":"id-$i","name":"Brew, \\"Co\\" $i","brewery_type":"micro",
       |"city":"Town $i","country":" United States","longitude":${i % 180}.25,
       |"address_2":$addr2,"state":"CA"}""".stripMargin.replace("\n", "")
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/meta", (ex: HttpExchange) =>
      respond(ex, 200, s"""{"total":"$Total"}"""))
    server.createContext("/breweries", (ex: HttpExchange) => {
      val q = Option(ex.getRequestURI.getQuery).getOrElse("")
      val params = q.split("&").filter(_.nonEmpty)
        .map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
      val perPage = params("per_page").toInt
      val page = params("page").toInt
      val lo = (page - 1) * perPage
      val hi = math.min(lo + perPage, Total)
      val rows = (lo until hi).map(jsonRow).mkString("[", ",", "]")
      respond(ex, 200, rows)
    })
    server.createContext("/flaky", (ex: HttpExchange) => {
      if (flakyHits.incrementAndGet() <= 2) respond(ex, 503, "busy")
      else respond(ex, 200, s"""{"total":"7"}""")
    })
    server.createContext("/missing", (ex: HttpExchange) =>
      respond(ex, 404, "not found"))
    server.start()
    base = s"http://127.0.0.1:${server.getAddress.getPort}"
  }

  override def afterAll(): Unit = {
    server.stop(0)
    super.afterAll()
  }

  private def fetcher(retries: Int = 0) =
    new HttpFetcher(s"$base/meta", s"$base/breweries",
      maxRetries = retries, backoffMs = 10)

  test("meta probe and paginated page GETs parse to header-keyed rows") {
    val f = fetcher()
    assert(f.total() == Total)
    val p1 = f.page(1, 200)
    assert(p1.size == 200)
    assert(p1.head("id") == "id-0")
    assert(p1.head("name") == """Brew, "Co" 0""")
    assert(p1.head("longitude") == "0.25")       // number → text
    assert(!p1.head.contains("address_2"))       // JSON null → absent → CSV empty
    assert(p1(1)("address_2") == "suite 1")
    assert(f.page(3, 200).size == 50)            // last partial page
  }

  test("page URL building honors an existing query string on the base URL") {
    val f = new HttpFetcher(s"$base/meta", s"$base/breweries?by_country=x",
      maxRetries = 0, backoffMs = 10)
    // the stub parses by_country as just another param; a '?'-joined URL
    // would send '...?by_country=x?per_page=...' and fail the param parse
    assert(f.page(1, 200).size == 200)
  }

  test("meta response without a 'total' field raises an actionable error") {
    server.createContext("/meta_bad", (ex: HttpExchange) =>
      respond(ex, 200, """{"count": 450}"""))
    val f = new HttpFetcher(s"$base/meta_bad", s"$base/breweries",
      maxRetries = 0, backoffMs = 10)
    val err = intercept[IllegalArgumentException](f.total())
    assert(err.getMessage.contains("total") && err.getMessage.contains("/meta_bad"))
  }

  test("non-2xx raises (raise_for_status parity), 4xx never retried") {
    val f = new HttpFetcher(s"$base/missing", s"$base/missing",
      maxRetries = 3, backoffMs = 10)
    val err = intercept[IllegalStateException](f.total())
    assert(err.getMessage.contains("404"))
  }

  test("5xx gets bounded retries with backoff, then succeeds") {
    flakyHits.set(0)
    val noRetry = new HttpFetcher(s"$base/flaky", s"$base/flaky",
      maxRetries = 0, backoffMs = 10)
    intercept[IllegalStateException](noRetry.total())
    flakyHits.set(0)
    val withRetry = new HttpFetcher(s"$base/flaky", s"$base/flaky",
      maxRetries = 3, backoffMs = 10)
    assert(withRetry.total() == 7)
    assert(flakyHits.get() == 3) // 2 failures + 1 success, bounded
  }

  test("driver-mode ingest over HTTP: pages land, per-page progress fires in order") {
    val root = TempDirs.create("graft_http")
    HttpFetcherSpec.events.clear()
    val runDir = Ingest.ingest(spark, fetcher(), s"$root/bronze",
      Instant.parse("2026-08-12T10:00:00Z"), perPage = 200,
      progress = HttpFetcherSpec.Recorder)
    val files = new java.io.File(runDir).listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.length == 3)
    val back = spark.read.option("header", true).csv(s"$runDir/*.csv")
    assert(back.count() == Total)
    // dirty leading whitespace survives to bronze
    assert(back.filter(org.apache.spark.sql.functions.col("country") === " United States")
      .count() == Total)
    assert(HttpFetcherSpec.drained == Seq(1 -> Total, 2 -> Total, 3 -> Total))
  }

  test("distributed ingest over HTTP: executor fan-out, progress via listener + accumulator") {
    val root = TempDirs.create("graft_http_dist")
    HttpFetcherSpec.events.clear()
    val runDir = Ingest.ingestDistributed(spark, fetcher(), s"$root/bronze",
      Instant.parse("2026-08-12T11:00:00Z"), perPage = 200,
      progress = HttpFetcherSpec.Recorder)
    val back = spark.read.option("header", true).csv(s"$runDir/*.csv")
    assert(back.count() == Total)
    // executor-side events: unordered, but one per page (accumulator
    // equality is asserted inside ingestDistributed itself)
    assert(HttpFetcherSpec.drained.sorted == Seq(1 -> Total, 2 -> Total, 3 -> Total))
  }
}

object HttpFetcherSpec {
  /** JVM-static recorder so the listener observes events even when the
    * closure is serialized to (local-mode) executors. */
  val events = new ConcurrentLinkedQueue[(Int, Int)]()
  def drained: Seq[(Int, Int)] = {
    val it = events.iterator()
    val b = Seq.newBuilder[(Int, Int)]
    while (it.hasNext) b += it.next()
    b.result()
  }
  object Recorder extends Ingest.ProgressListener {
    override def pageFetched(page: Int, total: Int): Unit = events.add(page -> total)
  }
}
