package graft.tools

/** Manual smoke entry point (the reference keeps one per handler,
  * e.g. s3-discovery/handler.py:68-78): drives the flagship entry()
  * and the SQL-registered custom expressions with happy-path and
  * adversarial inputs. Run: sbt "runMain graft.tools.Smoke"
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(graft.Session.cpus)
    // injected by GraftExtensions
    println("extensions: " + spark.sql(
      "SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)))").head().getDouble(0))
    println("extensions(sketch fns): " + spark.sql(
      "SELECT size(winnow_fingerprint('the quick brown fox jumps over the lazy dog', 8, 16)), " +
        "size(sign_lsh(array(CAST(0.5 AS FLOAT), CAST(-0.25 AS FLOAT)), 4, 8)), " +
        "size(int_sign_lsh(array(CAST(0.5 AS FLOAT), CAST(-0.25 AS FLOAT)), 4, 6)), " +
        "size(minhash_sig(array('a', 'b', 'c', 'd'), 3, 12)), " +
        "word_grams('one two three four', 3), " +
        "c4_line_gate(array('keep this whole line.', 'nope'), 3, 'javascript'), " +
        "multi_match('a small spark table', 'spark', 'park', 'zzz'), " +
        "robots_match('/fish/file.php', '/fish*.php'), " +
        "byte_unmap(byte_map('round trip ✓')), " +
        "length(nfc_normalize('e\\u0301'))") // e+combining acute -> 1 char
      .head())
    spark.sparkContext.setLogLevel("ERROR")

    val e = graft.SparkEntry.entry(spark)
    println(s"entry() rows=${e.count()}")
    e.show(false)

    spark.sql("""SELECT f, extract_filename_dates(f, r) AS d, derive_item_id(f, rx) AS id
      FROM VALUES
        ('s3://b/x_20200214.tif', 'month', 's3://([^/]*)/(.+)\\.tif$'),
        ('s3://b/nodate.tif', CAST(NULL AS STRING), CAST(NULL AS STRING)),
        ('s3://b/x_202013_bad.tif', CAST(NULL AS STRING), 'nomatch(x)(y)')
      AS t(f, r, rx)""").show(false)

    // ── pipeline demo: discovery → transfer → stac build → spill → publish ──
    import java.nio.file.{Files, Paths}
    val work = Files.createTempDirectory("graft-smoke")
    val bucket = work.resolve("src-bucket"); val target = work.resolve("dst-bucket")
    val spill = work.resolve("spill"); val dry = work.resolve("dryrun")
    Seq("no2/OMI_trno2_20160101.tif", "no2/OMI_trno2_20160201.tif",
      "no2/readme.txt").foreach { k =>
      val p = bucket.resolve(k); Files.createDirectories(p.getParent)
      Files.write(p, ("data:" + k).getBytes)
    }

    import graft.sources.Discovery
    import graft.sinks.{PublishSink, SpillSink, Transfer}
    import graft.functions.GraftFunctions._
    import org.apache.spark.sql.functions._

    val assets = Discovery.discover(spark, Discovery.DiscoveryRequest(
      bucket = s"file:$bucket", prefix = "no2/",
      filenameRegex = Some("^(?:.*)\\.tif$"), upload = true,
      datetimeRange = Some("month"))).toDF()
    println(s"discovered=${assets.count()}")

    val transferred = Transfer.execute(assets, s"file:$target")
    val items = transferred
      .withColumn("dts", extract_filename_dates(col("s3_filename"), col("datetime_range")))
      .withColumn("item_id", derive_item_id(col("s3_filename"), col("id_regex")))
      .withColumn("item_json", to_json(struct(col("item_id"), col("collection"),
        col("s3_filename"), col("dts.start_datetime"), col("dts.end_datetime"))))
    val routed = SpillSink.route(items, "item_json", s"file:$spill", threshold = 160)
    val resolved = SpillSink.resolve(routed)
    val dryPath = dry.toString // capture a String, not a (non-serializable) Path
    val dlq = PublishSink.publish(resolved, "resolved_item",
      () => new PublishSink.DryRunPoster(dryPath))
    println(s"publish dlq=${dlq.count()}")
    resolved.select("item_id", "stac_item", "stac_file_url").show(false)
    println(s"published=${Files.list(dry).count()} file(s); spilled=${
      if (Files.exists(spill)) Files.list(spill).count() else 0}")

    // ── catalog discovery → cogify kernel demo ──
    val catalog = work.resolve("granules.jsonl")
    java.nio.file.Files.write(catalog, Seq(
      """{"collection":"OMDOAO3e","version":"003","granule_id":"g1","time_start":"2016-01-01T00:00:00Z","time_end":"2016-01-31T23:59:59Z","lon_min":-180,"lat_min":-90,"lon_max":180,"lat_max":90,"links":[{"rel":"http://esipfed.org/ns/fedsearch/1.1/data#","href":"https://host/OMI-Aura_L3_2016m0101.he5.nc"}]}""",
      """{"collection":"OMDOAO3e","version":"003","granule_id":"g2","time_start":"2017-06-01T00:00:00Z","time_end":"2017-06-30T23:59:59Z","lon_min":-180,"lat_min":-90,"lon_max":180,"lat_max":90,"links":[{"rel":"http://esipfed.org/ns/fedsearch/1.1/data#","href":"https://host/OMI-Aura_L3_2017m0601.he5.nc"}]}"""
    ).mkString("\n").getBytes)

    import graft.sources.CmrDiscovery
    import graft.kernel.Cogify
    import graft.pipeline.Ingest
    import spark.implicits._
    val cmrEvents = CmrDiscovery.discover(spark, CmrDiscovery.CmrRequest(
      catalog.toString, "OMDOAO3e", "003",
      temporal = Some(("2016-01-01T00:00:00Z", "2016-12-31T23:59:59Z")),
      include = Some("^.+nc$")))
    println(s"catalog discovered=${cmrEvents.count()} (pushed=${
      graft.sources.catalog.GranuleCatalog.lastPushedQuery})")

    // A16: CMR events built with catalog metadata (time_start wins)
    val meta = CmrDiscovery.granules(spark, CmrDiscovery.CmrRequest(
        catalog.toString, "OMDOAO3e", "003"))
      .select(col("granule_id"), col("time_start"))
    val cmrItems = Ingest.buildItems(
      cmrEvents.withColumn("datetime_range", lit(null).cast("string"))
        .withColumn("id_regex", lit(null).cast("string")),
      cmrMeta = Some(meta))
    cmrItems.select("item_id", "item_json").show(false)

    val cogTasks = cmrEvents.select(col("collection"), col("s3_filename").as("href"),
        col("granule_id"), col("upload"))
      .as[Cogify.CogifyTask]
    val cogOut = Cogify.run(cogTasks,
      Map("OMDOAO3e" -> Cogify.CollectionConfig("ColumnAmountO3",
        useTopLeftRecipe = true, flipudFix = true)),
      s"file:${work.resolve("cogs")}", mkReader = () => new Cogify.FakeGridReader())
    cogOut.select("collection", "filename", "width", "height", "n_tiles", "payload_bytes")
      .show(false)

    // ── collections catalog enrichment (A16 generalization) ──
    val collDir = work.resolve("collections")
    java.nio.file.Files.createDirectories(collDir)
    java.nio.file.Files.write(collDir.resolve("no2.json"),
      """{"id":"no2","type":"Collection","title":"NO2","description":"d",
         "license":"MIT","extent":{"spatial":{"bbox":[[-180,-90,180,90]]},
         "temporal":{"interval":[["2016-01-01T00:00:00Z",null]]}},
         "dashboard:is_periodic":true,"dashboard:time_density":"month",
         "item_assets":{}}""".getBytes)
    val enriched = graft.model.StacCollection.enrich(
      items.select(col("collection"), col("item_id"),
        col("dts.start_datetime").as("ts")),
      graft.model.StacCollection.load(spark, collDir.toString), "ts")
    enriched.select("collection", "item_id", "title", "time_density", "in_interval")
      .show(false)

    // ── streaming ingest: same pipeline behind foreachBatch ──
    val assetDir = work.resolve("assets").toString
    assets.write.mode("overwrite").parquet(assetDir)
    val streamDry = work.resolve("stream-dry").toString
    val q = Ingest.runStream(spark, assetDir,
      Ingest.IngestConfig(s"file:${work.resolve("stream-target")}",
        s"file:${work.resolve("stream-spill")}", streamDry),
      () => new PublishSink.DryRunPoster(streamDry), maxFilesPerTrigger = 1,
      dedupKeys = Some(Seq("collection", "s3_filename")))
    try q.processAllAvailable() finally q.stop()
    println(s"stream published=${java.nio.file.Files.list(
      java.nio.file.Paths.get(streamDry)).count()} batch file(s)")

    // ── custom streaming state: per-user totals across micro-batches ──
    import graft.streaming.EventStream
    val evDir = work.resolve("events").toString
    graft.Tables.events(spark, "/root/testdata/sf0.001")
      .write.mode("overwrite").parquet(evDir)
    val sq = EventStream.runToMemory(
      EventStream.statefulUserTotals(
        EventStream.readEvents(spark, evDir, maxFilesPerTrigger = 1)).toDF(),
      "smoke_state")
    try {
      val snap = spark.table("smoke_state")
        .groupBy(col("user_id")).agg(max(col("n_events")).as("n_events"))
      println(s"stateful users=${snap.count()} totalEvents=${
        snap.agg(sum(col("n_events"))).head().getLong(0)}")
    } finally sq.stop()

    spark.stop()
  }
}
