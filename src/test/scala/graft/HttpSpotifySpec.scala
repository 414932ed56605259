package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{BatchedLookup, HttpSpotifyService, TokenCache}

/** Drives [[HttpSpotifyService]] + [[graft.sources.HttpTokenEndpoint]]
  * against a REAL HTTP server on loopback (JDK `HttpServer`, no
  * egress): the full DataSourceV2 scan pulls pages over the wire with
  * bearer tokens that the server expires mid-pagination, so the
  * refresh and revoked-grant re-auth paths run over actual HTTP
  * round-trips — the last seam the offline FakeTokenEndpoint contract
  * tests could not cover.
  */
class HttpSpotifySpec extends AnyFunSuite {

  private lazy val spark = TestSession.spark

  /** Loopback token + resource server, mirroring FakeTokenEndpoint's
    * semantics at the wire level: bearer tokens live for `ttlCalls`
    * resource calls; a refresh lineage survives `maxRefreshes` grants
    * before the server answers 400 invalid_grant.
    */
  private final class StubServer(ttlCalls: Long, maxRefreshes: Int) {
    val exchanges = new AtomicInteger(0)
    val refreshes = new AtomicInteger(0)
    val resourceCalls = new AtomicLong(0)
    private val issued = new ConcurrentHashMap[String, Long]() // token -> expiry call
    private val categories = Array("rock", "pop", "jazz", "folk", "ska")
    private val clientId = "http-client"
    private val clientSecret = "http-secret"
    @volatile var total: Int = 400

    private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))

    def port: Int = server.getAddress.getPort
    def tokenUrl: String = s"http://127.0.0.1:$port/api/token"
    def apiBase: String = s"http://127.0.0.1:$port/v1"

    private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
      val bytes = body.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(status, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }

    private def issue(generation: Int): String = {
      val tok = s"at-${exchanges.get()}-${refreshes.get()}"
      // saturating add: ttlCalls=Long.MaxValue must not wrap negative
      // once resourceCalls > 0 (a wrapped expiry kills every later
      // token and the failure surfaces as an opaque retry exhaustion)
      val expiry = resourceCalls.get() + ttlCalls
      issued.put(tok, if (expiry < resourceCalls.get()) Long.MaxValue else expiry)
      s"""{"access_token":"$tok","refresh_token":"rt-$generation","token_type":"Bearer"}"""
    }

    private def form(body: String): Map[String, String] =
      body.split("&").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, UTF_8) -> java.net.URLDecoder.decode(v, UTF_8)
      }.toMap

    server.createContext("/api/token", (ex: HttpExchange) => {
      val params = form(new String(ex.getRequestBody.readAllBytes(), UTF_8))
      params.get("grant_type") match {
        case Some("client_credentials") =>
          val auth = Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
          val expected = "Basic " + Base64.getEncoder
            .encodeToString(s"$clientId:$clientSecret".getBytes(UTF_8))
          if (auth != expected)
            respond(ex, 401, """{"error":"invalid_client"}""")
          else { exchanges.incrementAndGet(); respond(ex, 200, issue(0)) }
        case Some("refresh_token") =>
          val gen = params("refresh_token").stripPrefix("rt-").toInt
          if (gen >= maxRefreshes)
            respond(ex, 400, """{"error":"invalid_grant","error_description":"Refresh token revoked"}""")
          else { refreshes.incrementAndGet(); respond(ex, 200, issue(gen + 1)) }
        case _ => respond(ex, 400, """{"error":"unsupported_grant_type"}""")
      }
    })

    /** Bearer check consuming one resource call; None = rejected. */
    private def checkBearer(ex: HttpExchange): Boolean = {
      val now = resourceCalls.incrementAndGet()
      val tok = Option(ex.getRequestHeaders.getFirst("Authorization"))
        .filter(_.startsWith("Bearer ")).map(_.stripPrefix("Bearer "))
      tok.flatMap(t => Option(issued.get(t))).exists(now <= _)
    }

    private def query(ex: HttpExchange): Map[String, String] =
      Option(ex.getRequestURI.getQuery).map(form).getOrElse(Map.empty)

    server.createContext("/v1/search", (ex: HttpExchange) => {
      if (!checkBearer(ex)) respond(ex, 401, """{"error":"token_expired"}""")
      else {
        val q = query(ex)
        val offset = q.getOrElse("offset", "0").toInt
        val limit = q.getOrElse("limit", "50").toInt
        val cat = q.get("category")
        val items = (offset until math.min(offset + limit, total))
          .filter(i => cat.forall(_ == categories(i % categories.length)))
          .map(i => s"""{"item_id":$i,"name":"track_$i",""" +
            s""""category":"${categories(i % categories.length)}","popularity":${i * 37 % 101}}""")
        respond(ex, 200, s"""{"items":[${items.mkString(",")}],"total":$total}""")
      }
    })

    server.createContext("/v1/features", (ex: HttpExchange) => {
      if (!checkBearer(ex)) respond(ex, 401, """{"error":"token_expired"}""")
      else {
        val feats = query(ex).getOrElse("ids", "").split(",").filter(_.nonEmpty)
          .map(_.toLong)
          .map(id => s"""{"item_id":$id,"value":${(id * 2654435761L % 1000) / 10.0}}""")
        respond(ex, 200, s"""{"features":[${feats.mkString(",")}]}""")
      }
    })

    server.start()
    def stop(): Unit = server.stop(0)
  }

  private def scan(s: StubServer, total: Int, pageSize: Int) =
    spark.read.format("graft.sources.PagedSourceProvider")
      .option("total", total).option("pageSize", pageSize)
      .option("service", "graft.sources.HttpSpotifyService")
      .option("api_base", s.apiBase).option("token_url", s.tokenUrl)
      .option("client_id", "http-client").option("client_secret", "http-secret")
      .load()

  test("full V2 scan over live loopback HTTP: rows, values, server total wins") {
    TokenCache.clearAll()
    val s = new StubServer(ttlCalls = Long.MaxValue, maxRefreshes = Int.MaxValue)
    try {
      s.total = 230
      val df = scan(s, total = 999, pageSize = 50) // server's probe total overrides
      assert(df.count() == 230)
      assert(df.rdd.getNumPartitions == 5) // ceil(230/50) from the PROBED total
      val r = df.where("item_id = 7").collect()(0)
      assert(r.getString(1) == "track_7" && r.getString(2) == "jazz" &&
        r.getInt(3) == 7 * 37 % 101)
      assert(s.exchanges.get() == 1,
        s"token cache must make a multi-reader scan do ONE exchange, saw ${s.exchanges.get()}")
    } finally { s.stop(); TokenCache.clearAll() }
  }

  test("bearer token expires mid-pagination: refresh over HTTP, scan still exact") {
    TokenCache.clearAll()
    val s = new StubServer(ttlCalls = 3, maxRefreshes = Int.MaxValue)
    try {
      s.total = 400
      assert(scan(s, 400, 50).count() == 400)
      assert(s.refreshes.get() >= 1,
        "ttl=3 calls across 8+ pages must force at least one refresh grant")
      assert(s.exchanges.get() == 1, "expiry must be answered by refresh, not re-exchange")
    } finally { s.stop(); TokenCache.clearAll() }
  }

  test("revoked refresh grant: 400 invalid_grant forces a full re-exchange") {
    TokenCache.clearAll()
    val s = new StubServer(ttlCalls = 3, maxRefreshes = 1)
    try {
      s.total = 400
      assert(scan(s, 400, 50).count() == 400)
      assert(s.exchanges.get() >= 2,
        "grant lineage dies after 1 refresh; completion requires full re-auth")
    } finally { s.stop(); TokenCache.clearAll() }
  }

  test("server-side category filter rides the request; feature batches authenticate") {
    import spark.implicits._
    TokenCache.clearAll()
    val s = new StubServer(ttlCalls = Long.MaxValue, maxRefreshes = Int.MaxValue)
    try {
      s.total = 250
      val jazz = scan(s, 250, 50).where($"category" === "jazz")
      assert(jazz.count() == 50) // every 5th of 250
      // BatchedLookup over the same live service instance
      val svc = new HttpSpotifyService
      svc.connect(Map("api_base" -> s.apiBase, "token_url" -> s.tokenUrl,
        "client_id" -> "http-client", "client_secret" -> "http-secret"))
      val ids = (0L until 120L).toDF("item_id")
      val feats = BatchedLookup.features(ids, "item_id", batchSize = 50, service = svc)
      assert(feats.count() == 120)
      val v = feats.where($"id" === 7L).collect()(0).getDouble(1)
      assert(v == (7L * 2654435761L % 1000) / 10.0)
    } finally { s.stop(); TokenCache.clearAll() }
  }
}
