package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.kernel.{Cogify, Raster, Tiff}
import graft.kernel.Cogify.{CogifyTask, CollectionConfig, FetchGridReader}
import graft.kernel.Raster.{Extent, Grid}
import graft.sinks.PublishSink
import graft.sources.Fetch

/** The two authenticated-HTTP seams against a local stub server:
  * download fetch (reference A7, cogify/handler.py:49-71 — Earthdata
  * basic-auth session per process) driven through the cogify kernel via
  * [[FetchGridReader]], and the OAuth2 client-credentials publish
  * transport (reference A19, submit-stac/handler.py:57-93 — one token
  * per process, bearer POST, non-2xx → DLQ).
  */
class FetchPublishSpec extends SparkSuite {

  private def withServer(routes: PartialFunction[(String, HttpExchange), Unit])
      (body: String => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      try {
        val key = ex.getRequestURI.getPath
        if (routes.isDefinedAt((key, ex))) routes((key, ex))
        else { ex.sendResponseHeaders(404, -1) }
      } finally ex.close()
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  private def respond(ex: HttpExchange, code: Int, bytes: Array[Byte]): Unit = {
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length.toLong)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
  }

  private def basicAuthOk(ex: HttpExchange, user: String, pass: String): Boolean = {
    val expect = "Basic " + java.util.Base64.getEncoder
      .encodeToString(s"$user:$pass".getBytes(UTF_8))
    Option(ex.getRequestHeaders.getFirst("Authorization")).contains(expect)
  }

  // a real TIFF payload for the fetch tests: 300×200, top-left affine
  private lazy val tiffBytes: Array[Byte] = {
    val g = Grid(300, 200, Array.tabulate(300 * 200)(i => (i % 251).toFloat), Some(-1f))
    val affine = Raster.topLeftRecipe(Extent(-30, 10, 30, 50), 300, 200)
    Tiff.writeCog(Seq(g), affine)
  }

  test("http fetcher: basic-auth download, 401 without credentials raises") {
    val hits = new AtomicInteger(0)
    withServer({ case ("/granules/g1.tif", ex) =>
      hits.incrementAndGet()
      if (basicAuthOk(ex, "edl_user", "edl_pass")) respond(ex, 200, tiffBytes)
      else respond(ex, 401, Array.empty)
    }) { base =>
      val tmp = tempDir("fetch")
      val authed = new Fetch.HttpFetcher(Some(("edl_user", "edl_pass")))
      val got = authed.fetch(s"$base/granules/g1.tif", tmp)
      assert(got.getName == "g1.tif")
      assert(java.nio.file.Files.readAllBytes(got.toPath).sameElements(tiffBytes))

      val anon = new Fetch.HttpFetcher(None)
      val err = intercept[java.io.IOException] {
        anon.fetch(s"$base/granules/g1.tif", tmp)
      }
      assert(err.getMessage.contains("401"))
      assert(hits.get() == 2)
    }
  }

  test("routing fetcher: http vs hadoop-fs vs already-local") {
    withServer({ case ("/d.bin", ex) => respond(ex, 200, "remote".getBytes(UTF_8)) }) { base =>
      val tmp = tempDir("route")
      val router = new Fetch.RoutingFetcher()
      // http route
      val viaHttp = router.fetch(s"$base/d.bin", tmp)
      assert(new String(java.nio.file.Files.readAllBytes(viaHttp.toPath), UTF_8) == "remote")
      // hadoop-fs route (file: scheme)
      val src = new java.io.File(tmp, "src.bin")
      java.nio.file.Files.write(src.toPath, "fs".getBytes(UTF_8))
      val dstDir = tempDir("routedst")
      val viaFs = router.fetch(s"file:${src.getAbsolutePath}", dstDir)
      assert(viaFs.getParentFile == dstDir.getAbsoluteFile || viaFs.getParentFile == dstDir)
      assert(new String(java.nio.file.Files.readAllBytes(viaFs.toPath), UTF_8) == "fs")
      // already-local short-circuit: same path back, no copy
      assert(router.fetch(src.getAbsolutePath, dstDir).getCanonicalPath == src.getCanonicalPath)
    }
  }

  test("paced fetch: submit -> service prepares -> poll -> download (ERA5/CDS shape)") {
    val polls = new AtomicInteger(0)
    val posted = new java.util.concurrent.atomic.AtomicReference[String]("")
    val payload = "netcdf-bytes-after-preparation".getBytes(UTF_8)
    withServer({
      case ("/era5/retrieve", ex) if ex.getRequestMethod == "POST" =>
        posted.set(new String(ex.getRequestBody.readAllBytes(), UTF_8))
        respond(ex, 200,
          """{"request_id":"r42","state":"queued"}""".getBytes(UTF_8))
      case ("/era5/retrieve/r42", ex) =>
        // the service needs three polls' worth of preparation time
        val n = polls.incrementAndGet()
        val body = if (n < 3) """{"state":"running"}"""
          else """{"state":"completed","location":"/era5/results/r42.nc"}"""
        respond(ex, 200, body.getBytes(UTF_8))
      case ("/era5/results/r42.nc", ex) =>
        if (basicAuthOk(ex, "cds_user", "cds_key")) respond(ex, 200, payload)
        else respond(ex, 401, Array.empty)
    }) { base =>
      val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
      val fetcher = new Fetch.PacedFetcher(Some(("cds_user", "cds_key")),
        requestBody = """{"variable":"cloud_base_height","year":"2021"}""",
        pollMs = 10, maxPollMs = 40, sleeper = sleeps += _)
      val got = fetcher.fetch(s"$base/era5/retrieve", tempDir("paced"))
      assert(got.getName == "r42.nc")
      assert(java.nio.file.Files.readAllBytes(got.toPath).sameElements(payload))
      assert(posted.get().contains("cloud_base_height"), "request body not submitted")
      assert(polls.get() == 3, s"expected 3 status polls, got ${polls.get()}")
      // pacing: the poll loop sleeps BEFORE every status request, backing
      // off 1.5x per poll from pollMs (10, 15, 22) up to maxPollMs
      assert(sleeps.toSeq == Seq(10L, 15L, 22L), sleeps)
    }
  }

  test("paced fetch: failed state and preparation timeout raise retryable IOException") {
    withServer({
      case ("/bad/retrieve", ex) if ex.getRequestMethod == "POST" =>
        respond(ex, 200, """{"request_id":"rf","state":"queued"}""".getBytes(UTF_8))
      case ("/bad/retrieve/rf", ex) =>
        respond(ex, 200,
          """{"state":"failed","error":"quota exceeded"}""".getBytes(UTF_8))
      case ("/slow/retrieve", ex) if ex.getRequestMethod == "POST" =>
        respond(ex, 200, """{"request_id":"rs","state":"queued"}""".getBytes(UTF_8))
      case ("/slow/retrieve/rs", ex) =>
        respond(ex, 200, """{"state":"running"}""".getBytes(UTF_8))
    }) { base =>
      val failed = intercept[java.io.IOException] {
        new Fetch.PacedFetcher(None, pollMs = 1, sleeper = _ => ())
          .fetch(s"$base/bad/retrieve", tempDir("pacedbad"))
      }
      assert(failed.getMessage.contains("quota exceeded"))
      val timedOut = intercept[java.io.IOException] {
        new Fetch.PacedFetcher(None, pollMs = 1, maxPollMs = 1, maxWaitMs = 5,
            sleeper = _ => ())
          .fetch(s"$base/slow/retrieve", tempDir("pacedslow"))
      }
      assert(timedOut.getMessage.contains("not ready"))
    }
  }

  test("paced fetch: credentials never forwarded to a cross-host location") {
    // the stub is one server with two host NAMES: submit on 127.0.0.1,
    // location on localhost — a presigned-object-store stand-in. The
    // download must arrive WITHOUT the provider's Authorization header.
    val crossAuth = new java.util.concurrent.atomic.AtomicReference[String]("unset")
    val payload = "presigned-bytes".getBytes(UTF_8)
    withServer({
      case ("/x/retrieve", ex) if ex.getRequestMethod == "POST" =>
        respond(ex, 200, """{"request_id":"rx","state":"queued"}""".getBytes(UTF_8))
      case ("/x/retrieve/rx", ex) =>
        // same-host status poll MUST still carry auth
        if (!basicAuthOk(ex, "u", "p")) respond(ex, 401, Array.empty)
        else {
          val port = ex.getLocalAddress.getPort
          respond(ex, 200,
            s"""{"state":"completed","location":"http://localhost:$port/x/out.nc"}"""
              .getBytes(UTF_8))
        }
      case ("/x/out.nc", ex) =>
        crossAuth.set(Option(ex.getRequestHeaders.getFirst("Authorization")).orNull)
        respond(ex, 200, payload)
    }) { base =>
      val got = new Fetch.PacedFetcher(Some(("u", "p")), pollMs = 1,
          sleeper = _ => ())
        .fetch(s"$base/x/retrieve", tempDir("pacedxh"))
      assert(java.nio.file.Files.readAllBytes(got.toPath).sameElements(payload))
      assert(crossAuth.get() == null,
        s"credentials leaked to cross-host location: ${crossAuth.get()}")
    }
  }

  test("routing fetcher sends paced prefixes through the async protocol") {
    val payload = "prepared".getBytes(UTF_8)
    withServer({
      case ("/cds/retrieve", ex) if ex.getRequestMethod == "POST" =>
        respond(ex, 200,
          """{"request_id":"p1","state":"completed","location":"/cds/out/p1.nc"}"""
            .getBytes(UTF_8))
      case ("/cds/out/p1.nc", ex) => respond(ex, 200, payload)
      case ("/plain/direct.bin", ex) =>
        // the direct route must stay a plain GET — a POST here would 405
        if (ex.getRequestMethod == "GET") respond(ex, 200, "direct".getBytes(UTF_8))
        else respond(ex, 405, Array.empty)
    }) { base =>
      val router = new Fetch.RoutingFetcher(
        pacedBodies = Map(s"$base/cds" -> """{"format":"netcdf"}"""),
        pacedPollMs = 1)
      val tmp = tempDir("pacedroute")
      // paced prefix: POST submit, already-completed response, download
      val paced = router.fetch(s"$base/cds/retrieve", tmp)
      assert(paced.getName == "p1.nc")
      assert(java.nio.file.Files.readAllBytes(paced.toPath).sameElements(payload))
      // non-paced prefix: the ordinary direct GET path
      val direct = router.fetch(s"$base/plain/direct.bin", tmp)
      assert(new String(java.nio.file.Files.readAllBytes(direct.toPath), UTF_8) == "direct")
    }
  }

  test("per-source credentials: two hosts resolve different basic-auth pairs") {
    // the cross-account seam's HTTP face: one router serves a provider
    // path requiring creds A and a mirror path requiring creds B —
    // longest-prefix routing, no per-source fetcher instances
    withServer({
      case ("/providerA/a.bin", ex) =>
        if (basicAuthOk(ex, "userA", "passA")) respond(ex, 200, "from-A".getBytes(UTF_8))
        else respond(ex, 401, Array.empty)
      case ("/providerB/b.bin", ex) =>
        if (basicAuthOk(ex, "userB", "passB")) respond(ex, 200, "from-B".getBytes(UTF_8))
        else respond(ex, 401, Array.empty)
    }) { base =>
      val tmp = tempDir("multicred")
      val router = new Fetch.RoutingFetcher(
        credentials = Some(("userA", "passA")), // default
        httpCredsBySource = Map(s"$base/providerB" -> (("userB", "passB"))))
      val a = router.fetch(s"$base/providerA/a.bin", tmp)
      assert(new String(java.nio.file.Files.readAllBytes(a.toPath), UTF_8) == "from-A")
      val b = router.fetch(s"$base/providerB/b.bin", tmp)
      assert(new String(java.nio.file.Files.readAllBytes(b.toPath), UTF_8) == "from-B")
      // wrong routing would 401: a router with ONLY the default creds
      // must fail on provider B
      val defaultOnly = new Fetch.RoutingFetcher(Some(("userA", "passA")))
      intercept[java.io.IOException] {
        defaultOnly.fetch(s"$base/providerB/b.bin", tmp)
      }
    }
  }

  test("per-source hadoop conf: two buckets resolve different role settings") {
    import graft.sources.SourceConf
    val base = new org.apache.hadoop.conf.Configuration(false)
    base.set("fs.s3a.endpoint", "default-endpoint")
    val overlays = Map(
      "s3a://provider-bucket" -> Map(
        "fs.s3a.assumed.role.arn" -> "arn:aws:iam::111111111111:role/provider-read",
        "fs.s3a.aws.credentials.provider" ->
          "org.apache.hadoop.fs.s3a.auth.AssumedRoleCredentialProvider"),
      "s3a://provider-bucket/restricted" -> Map(
        "fs.s3a.assumed.role.arn" -> "arn:aws:iam::111111111111:role/provider-restricted"))

    val a = SourceConf.resolve(base, overlays, "s3a://provider-bucket/data/x.nc")
    val restricted = SourceConf.resolve(base, overlays,
      "s3a://provider-bucket/restricted/y.nc")
    val own = SourceConf.resolve(base, overlays, "s3a://own-bucket/out/z.tif")

    assert(a.get("fs.s3a.assumed.role.arn")
      == "arn:aws:iam::111111111111:role/provider-read")
    // longest prefix wins: the restricted subtree gets its own role
    assert(restricted.get("fs.s3a.assumed.role.arn")
      == "arn:aws:iam::111111111111:role/provider-restricted")
    // no match: the base configuration itself, untouched
    assert(own eq base)
    assert(base.get("fs.s3a.assumed.role.arn") == null,
      "resolve must never mutate the base configuration")
    // overlays inherit the base's settings
    assert(a.get("fs.s3a.endpoint") == "default-endpoint")

    // and the s3a-idiomatic per-bucket form expands to the keys S3A
    // resolves natively at filesystem initialization
    val keys = SourceConf.bucketKeys(Map(
      "provider-bucket" -> Map("assumed.role.arn" -> "arn:x", "access.key" -> "AK")))
    assert(keys == Map(
      "fs.s3a.bucket.provider-bucket.assumed.role.arn" -> "arn:x",
      "fs.s3a.bucket.provider-bucket.access.key" -> "AK"))
  }

  test("discovery listing resolves the bucket's conf overlay; base conf untouched") {
    import graft.sources.{Discovery, SourceConf}
    // a file:-scheme "bucket" so the wiring is observable offline: the
    // overlay must reach the configuration the listing runs under
    // without mutating the session's conf
    val dir = tempDir("disc")
    java.nio.file.Files.write(new java.io.File(dir, "a.nc").toPath, Array[Byte](1))
    val bucket = s"file:${dir.getAbsolutePath}"
    val overlays = Map(bucket -> Map("graft.test.marker" -> "provider-role"))
    val listed = Discovery.listKeys(spark,
      Discovery.DiscoveryRequest(bucket = bucket), overlays).collect()
    assert(listed.map(_._1).toSet == Set("a.nc"))
    assert(spark.sparkContext.hadoopConfiguration.get("graft.test.marker") == null,
      "overlay must not leak into the session configuration")
    // and the resolver itself hands the marker to this bucket only
    assert(SourceConf.resolve(spark.sparkContext.hadoopConfiguration,
      overlays, s"$bucket/a.nc").get("graft.test.marker") == "provider-role")
    assert(SourceConf.resolve(spark.sparkContext.hadoopConfiguration,
      overlays, "file:/elsewhere/b.nc").get("graft.test.marker") == null)
  }

  test("cogify kernel drives the authenticated fetch + tiff decode end to end") {
    import spark.implicits._
    withServer({ case ("/granules/g2.tif", ex) =>
      if (basicAuthOk(ex, "u", "p")) respond(ex, 200, tiffBytes)
      else respond(ex, 401, Array.empty)
    }) { base =>
      val out = tempDir("cogfetch").getAbsolutePath
      val tasks = Seq(CogifyTask("C1", s"$base/granules/g2.tif", Some("g2"), upload = false))
      val results = Cogify.run(tasks.toDS(),
        Map("C1" -> CollectionConfig("data", useTopLeftRecipe = true)),
        s"file:$out",
        mkReader = () => new FetchGridReader(() => new Fetch.RoutingFetcher(Some(("u", "p")))))
        .collect()
      assert(results.length == 1 && results.head.error.isEmpty)
      assert(results.head.width == 300 && results.head.height == 200)
      // the output re-encodes the same grid: round-trip and compare
      val outBytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$out/C1/g2.tif.cog.tif"))
      val (grid, _) = Tiff.readGrid(outBytes)
      assert(grid.data.toSeq == Tiff.readGrid(tiffBytes)._1.data.toSeq)
    }
  }

  test("cogify: auth failure exhausts retries then lands in DLQ rows") {
    import spark.implicits._
    val hits = new AtomicInteger(0)
    withServer({ case ("/granules/g3.tif", ex) =>
      hits.incrementAndGet(); respond(ex, 401, Array.empty)
    }) { base =>
      val out = tempDir("cogdlq").getAbsolutePath
      val results = Cogify.run(
        Seq(CogifyTask("C1", s"$base/granules/g3.tif", None, upload = false)).toDS(),
        Map.empty, s"file:$out", maxAttempts = 3,
        mkReader = () => new FetchGridReader(() => new Fetch.HttpFetcher(None)))
        .collect()
      assert(results.length == 1)
      assert(results.head.error.exists(_.contains("401")))
      assert(hits.get() == 3) // IOException is retryable (B5) up to maxAttempts
    }
  }

  test("bearer poster: one token per poster, non-2xx posts land in DLQ") {
    import spark.implicits._
    val tokenHits = new AtomicInteger(0)
    withServer({
      case ("/oauth/token", ex) =>
        tokenHits.incrementAndGet()
        if (basicAuthOk(ex, "client_id", "client_secret") &&
            new String(ex.getRequestBody.readAllBytes(), UTF_8)
              .contains("grant_type=client_credentials"))
          respond(ex, 200, """{"access_token":"tok-abc"}""".getBytes(UTF_8))
        else respond(ex, 401, Array.empty)
      case ("/ingest", ex) =>
        val auth = Option(ex.getRequestHeaders.getFirst("Authorization"))
        val item = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        if (!auth.contains("Bearer tok-abc")) respond(ex, 403, Array.empty)
        else if (item.contains("poison")) respond(ex, 500, "boom".getBytes(UTF_8))
        else respond(ex, 201, Array.empty)
    }) { base =>
      val items = Seq("""{"id":"a"}""", """{"id":"poison"}""", """{"id":"c"}""")
        .toDF("resolved_item").coalesce(1) // one partition → one poster → one token
      val dlq = PublishSink.publish(items, "resolved_item",
        () => new PublishSink.BearerHttpPoster(
          s"$base/oauth/token", s"$base/ingest", "client_id", "client_secret"))
      val failed = dlq.collect().map(r => (r.getString(0), r.getString(1)))
      assert(failed.length == 1)
      assert(failed.head._1.contains("poison"))
      assert(failed.head._2.startsWith("HTTP 500"))
      assert(tokenHits.get() == 1) // token fetched once per poster lifetime
    }
  }

  test("streaming ingest publishes through the OAuth2 poster end to end") {
    import java.nio.file.{Files, Paths}
    import graft.pipeline.Ingest
    import graft.sources.Discovery
    val posted = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    withServer({
      case ("/oauth/token", ex) =>
        respond(ex, 200, """{"access_token":"tok-str"}""".getBytes(UTF_8))
      case ("/ingest", ex) =>
        if (Option(ex.getRequestHeaders.getFirst("Authorization"))
            .contains("Bearer tok-str")) {
          posted.add(new String(ex.getRequestBody.readAllBytes(), UTF_8))
          respond(ex, 201, Array.empty)
        } else respond(ex, 403, Array.empty)
    }) { base =>
      val bucket = tempDir("sbucket")
      Seq("no2/OMI_20160101.tif", "no2/OMI_20160201.tif").foreach { k =>
        val p = Paths.get(bucket.getAbsolutePath, k)
        Files.createDirectories(p.getParent)
        Files.write(p, ("payload:" + k).getBytes(UTF_8))
      }
      val w = tempDir("singest")
      val c = Ingest.IngestConfig(
        targetRoot = s"file:${w.getAbsolutePath}/target",
        spillDir = s"file:${w.getAbsolutePath}/spill",
        dryRunDir = s"${w.getAbsolutePath}/dry")
      val assetDir = tempDir("sassets").getAbsolutePath
      Discovery.discover(spark, Discovery.DiscoveryRequest(
          bucket = s"file:${bucket.getAbsolutePath}", prefix = "no2/",
          filenameRegex = Some("^(?:.*)\\.tif$"), upload = false,
          datetimeRange = Some("month"))).toDF()
        .write.mode("overwrite").parquet(assetDir)
      val q = Ingest.runStream(spark, assetDir, c,
        () => new PublishSink.BearerHttpPoster(
          s"$base/oauth/token", s"$base/ingest", "cid", "csec"),
        maxFilesPerTrigger = 1)
      try q.processAllAvailable() finally q.stop()
      val items = posted.toArray(Array.empty[String])
      assert(items.length == 2, items.toSeq)
      assert(items.forall(_.contains("OMI_")))
    }
  }

  test("bearer poster: token failure DLQs every item with the cause") {
    import spark.implicits._
    withServer({ case ("/oauth/token", ex) => respond(ex, 401, Array.empty) }) { base =>
      val items = Seq("""{"id":"a"}""", """{"id":"b"}""").toDF("resolved_item")
      val dlq = PublishSink.publish(items, "resolved_item",
        () => new PublishSink.BearerHttpPoster(
          s"$base/oauth/token", s"$base/ingest", "bad", "creds"))
      val errs = dlq.collect().map(_.getString(1))
      assert(errs.length == 2)
      assert(errs.forall(_.contains("token fetch failed: HTTP 401")))
    }
  }
}
