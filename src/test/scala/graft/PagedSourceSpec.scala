package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SpotifyService

/** A second [[SpotifyService]] implementation proving the seam: caps
  * the probed total (its "server" has fewer items than configured),
  * serves differently-named rows, and records the connect() handshake.
  */
object ToyApi extends SpotifyService {
  @volatile var connects: Int = 0
  @volatile var lastClientId: String = ""
  override def connect(options: Map[String, String]): Unit = {
    connects += 1
    lastClientId = options.getOrElse("clientid", "") // V2 lower-cases keys
  }
  override def probeTotal(configuredTotal: Int): Int = math.min(configuredTotal, 60)
  override def page(offset: Int, limit: Int, total: Int): Seq[(Long, String, String, Int)] =
    (offset until math.min(offset + limit, total)).map(i => (i.toLong, s"toy_$i", "toy", 1))
  override def featureBatch(ids: Seq[Long]): Seq[(Long, Double)] =
    ids.map(_ -> 42.0)
}

class PagedSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def read(total: Int, pageSize: Int) =
    spark.read.format("graft.sources.PagedSourceProvider")
      .option("total", total).option("pageSize", pageSize).load()

  test("row count and content match the API contract") {
    val df = read(total = 503, pageSize = 50)
    assert(df.count() == 503)
    val r = df.where("item_id = 7").collect()(0)
    assert(r.getString(1) == "track_7" && r.getString(2) == "jazz" &&
      r.getInt(3) == 7 * 37 % 101)
  }

  test("one input partition per page") {
    val df = read(total = 503, pageSize = 50)
    assert(df.rdd.getNumPartitions == 11) // ceil(503/50)
  }

  test("empty source -> zero pages, zero rows") {
    val df = read(total = 0, pageSize = 50)
    assert(df.count() == 0 && df.rdd.getNumPartitions == 0)
  }

  test("filters/projection still work through the connector") {
    import spark.implicits._
    val n = read(5000, 50).where($"category" === "ska").count()
    assert(n == 1000)
  }

  test("batched lookup: one batch per <= batchSize ids, values deterministic") {
    import spark.implicits._
    val ids = (0L until 120L).toDF("doc_id").repartition(2)
    val out = graft.sources.BatchedLookup.features(ids, "doc_id", batchSize = 50)
    assert(out.count() == 120)
    val m = out.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m(3L) == (3L * 2654435761L % 1000) / 10.0)
  }

  test("service seam: a second implementation swaps in via the option") {
    ToyApi.connects = 0
    val df = spark.read.format("graft.sources.PagedSourceProvider")
      .option("total", 503).option("pageSize", 25)
      .option("service", "graft.ToyApi")
      .option("clientId", "toy-credentials")
      .load()
    // the TOY's probe caps total at 60 -> 3 pages of 25, 60 rows
    assert(df.rdd.getNumPartitions == 3)
    assert(df.count() == 60)
    assert(df.where("name = 'toy_7'").count() == 1)
    assert(df.where("category = 'toy'").count() == 60)
    // connect() ran (planning probe + one per reader) with the options
    assert(ToyApi.connects >= 4)
    assert(ToyApi.lastClientId == "toy-credentials")
    // the default path is unchanged by the seam
    assert(read(total = 60, pageSize = 25).where("name = 'track_7'").count() == 1)
  }

  test("OAuth2 lifecycle: tokens expiring mid-scan refresh transparently; rows identical") {
    import graft.sources.FakeTokenEndpoint
    // tokens die every 3 API calls and a refresh lineage is revoked
    // after 2 refreshes: a 21-page scan MUST refresh repeatedly and
    // re-exchange at least once, all invisibly to the query
    FakeTokenEndpoint.reset(ttlCalls = 3, maxRefreshes = 2)
    try {
      val df = spark.read.format("graft.sources.PagedSourceProvider")
        .option("total", 503).option("pageSize", 25)
        .option("service", "graft.sources.TokenIssuingFakeApi")
        .option("client_id", "demo-client")
        .option("client_secret", "demo-secret")
        .load()
      val got = df.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      val base = read(503, 25).collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      assert(got.length == 503 && got.toSeq == base.toSeq,
        "authenticated scan's rows differ from the unauthenticated API's")
      assert(FakeTokenEndpoint.refreshes.get() > 0,
        "no token refresh happened mid-scan")
      assert(FakeTokenEndpoint.exchanges.get() > 1,
        "revoked refresh token never forced a full re-exchange")
    } finally FakeTokenEndpoint.reset()
  }

  test("OAuth2 lifecycle: bad credentials fail the handshake; cache spares re-exchanges") {
    import graft.sources.FakeTokenEndpoint
    FakeTokenEndpoint.reset() // eternal tokens
    try {
      val bad = intercept[Exception] {
        spark.read.format("graft.sources.PagedSourceProvider")
          .option("total", 50).option("pageSize", 25)
          .option("service", "graft.sources.TokenIssuingFakeApi")
          .option("client_id", "demo-client")
          .option("client_secret", "wrong-secret")
          .load().collect()
      }
      assert(bad.getMessage.contains("invalid_client") ||
        Option(bad.getCause).exists(_.getMessage.contains("invalid_client")),
        s"expected invalid_client, got: $bad")
      // good credentials: every reader connect()s, but the token cache
      // (the reference's config/.cache) keeps it at ONE exchange total
      FakeTokenEndpoint.reset()
      val n = spark.read.format("graft.sources.PagedSourceProvider")
        .option("total", 503).option("pageSize", 25)
        .option("service", "graft.sources.TokenIssuingFakeApi")
        .load().count()
      assert(n == 503)
      assert(FakeTokenEndpoint.exchanges.get() == 1,
        s"token cache not shared across readers: ${FakeTokenEndpoint.exchanges.get()} exchanges")
    } finally FakeTokenEndpoint.reset()
  }

  test("OAuth2 lifecycle: batched feature lookup authenticates through the same session") {
    import spark.implicits._
    import graft.sources.FakeTokenEndpoint
    FakeTokenEndpoint.reset(ttlCalls = 2)
    try {
      graft.sources.TokenIssuingFakeApi.connect(Map.empty)
      val out = graft.sources.BatchedLookup.features(
        (0L until 120L).toDF("id"), "id", batchSize = 10,
        service = graft.sources.TokenIssuingFakeApi)
      val m = out.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(m.size == 120 && m(3L) == (3L * 2654435761L % 1000) / 10.0)
      assert(FakeTokenEndpoint.refreshes.get() > 0, "batched path never refreshed")
    } finally FakeTokenEndpoint.reset()
  }

  test("service seam: batched lookup takes an injected implementation") {
    import spark.implicits._
    val out = graft.sources.BatchedLookup.features(
      (0L until 10L).toDF("id"), "id", batchSize = 4, service = ToyApi)
    assert(out.collect().forall(_.getDouble(1) == 42.0))
  }
}
