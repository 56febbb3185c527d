package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.pipeline.Ingest
import graft.pipeline.Ingest.IngestConfig
import graft.sinks.{PublishSink, SpillSink}
import graft.sources.Discovery
import graft.sources.Discovery.DiscoveryRequest

/** The composed ingest pipeline, batch and streaming: the reference's
  * end-to-end trace (SURVEY §3.1-3.3) as one plan.
  */
class IngestPipelineSpec extends SparkSuite {

  private def mkBucket(): java.io.File = {
    val bucket = tempDir("ibucket")
    Seq("no2/OMI_20160101.tif", "no2/OMI_20160201.tif", "no2/junk.txt").foreach { k =>
      val p = Paths.get(bucket.getAbsolutePath, k)
      Files.createDirectories(p.getParent)
      Files.write(p, ("payload:" + k).getBytes)
    }
    bucket
  }

  private def cfg(): IngestConfig = {
    val w = tempDir("ingest")
    IngestConfig(
      targetRoot = s"file:${w.getAbsolutePath}/target",
      spillDir = s"file:${w.getAbsolutePath}/spill",
      dryRunDir = s"${w.getAbsolutePath}/dry")
  }

  test("batch ingest: discover → transfer → build → publish, end to end") {
    val bucket = mkBucket()
    val c = cfg()
    val assets = Discovery.discover(spark, DiscoveryRequest(
      bucket = s"file:${bucket.getAbsolutePath}", prefix = "no2/",
      filenameRegex = Some("^(?:.*)\\.tif$"), upload = true,
      datetimeRange = Some("month"))).toDF()

    val dryDir = c.dryRunDir
    val (published, dlq) = Ingest.run(assets, c,
      () => new PublishSink.DryRunPoster(dryDir))

    assert(dlq.count() == 0)
    val rows = published.orderBy("item_id").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[String]("item_id")).toSeq ==
      Seq("OMI_20160101", "OMI_20160201"))
    // month expansion landed in the item JSON
    val json = rows.head.getAs[String]("resolved_item")
    assert(json.contains(""""start_datetime":"2016-01-01T00:00:00Z""""))
    assert(json.contains(""""end_datetime":"2016-01-31T00:00:00Z""""))
    // transfer actually copied the payloads
    assert(Files.exists(Paths.get(
      c.targetRoot.stripPrefix("file:"), "no2", "OMI_20160101.tif")))
    // dry-run capture got both items
    val recorded = new java.io.File(dryDir).listFiles()
      .flatMap(f => scala.io.Source.fromFile(f).getLines()).length
    assert(recorded == 2)
  }

  test("streaming ingest drains asset batches through the same pipeline") {
    val bucket = mkBucket()
    val c = cfg()
    val assetDir = tempDir("assets").getAbsolutePath
    Discovery.discover(spark, DiscoveryRequest(
        bucket = s"file:${bucket.getAbsolutePath}", prefix = "no2/",
        filenameRegex = Some("^(?:.*)\\.tif$"), upload = false,
        datetimeRange = Some("month"))).toDF()
      .write.mode("overwrite").parquet(assetDir)

    val dryDir = c.dryRunDir
    val q = Ingest.runStream(spark, assetDir, c,
      () => new PublishSink.DryRunPoster(dryDir), maxFilesPerTrigger = 1)
    try q.processAllAvailable() finally q.stop()

    val recorded = new java.io.File(dryDir).listFiles()
      .flatMap(f => scala.io.Source.fromFile(f).getLines()).toSeq
    assert(recorded.length == 2)
    assert(recorded.forall(_.contains("OMI_")))
  }

  test("event-union dispatch: CMR events take catalog time, regex events take filename dates") {
    import spark.implicits._
    // mixed batch, like the reference routing tests (test_handler.py:40-102)
    val events = Seq(
      ("no2", "file:/x/file_20160101.tif", null: String, null: String, null: String),
      ("no2", "file:/x/other_20170202.tif", "G-123", null: String, null: String))
      .toDF("collection", "s3_filename", "granule_id", "datetime_range", "id_regex")
    val meta = Seq(("G-123", java.sql.Timestamp.valueOf("2020-05-06 07:08:09")))
      .toDF("granule_id", "time_start")

    val items = Ingest.buildItems(events, Some(meta)).collect()
      .map(r => Option(r.getAs[String]("granule_id")) -> r).toMap

    // regex branch: filename extraction, stem id
    val regexRow = items(None)
    assert(regexRow.getAs[String]("item_id") == "file_20160101")
    assert(regexRow.getAs[String]("item_json").contains(""""datetime":"2016-01-01T00:00:00Z""""))
    // cmr branch: catalog time_start wins over the filename date, id = granule id
    val cmrRow = items(Some("G-123"))
    assert(cmrRow.getAs[String]("item_id") == "G-123")
    assert(cmrRow.getAs[String]("item_json").contains(""""datetime":"2020-05-06T07:08:09Z""""))
    assert(!cmrRow.getAs[String]("item_json").contains("2017-02-02"))

    // offline degradation: no metadata → cmr event falls back to filename
    val fallback = Ingest.buildItems(events, None).collect()
      .find(r => r.getAs[String]("granule_id") == "G-123").get
    assert(fallback.getAs[String]("item_json").contains("2017-02-02"))
    assert(fallback.getAs[String]("item_id") == "G-123") // id rule still holds
  }

  test("the STAC build stays in whole-stage codegen, and codegen equals interpreted eval") {
    import spark.implicits._
    import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import graft.functions.{DeriveItemId, ExtractFilenameDates}
    // regex events (ISO, 8/6/4-digit, several dates, invalid, undated,
    // multi-byte), CMR events with and without catalog metadata, and every
    // datetime_range / id_regex shape
    val N: String = null
    val events = Seq(
      ("no2", "file:/x/a_2016-01-02.tif", N, "month", N),
      ("no2", "file:/x/b_20160304.tif", N, "year", N),
      ("no2", "file:/x/c_201605.tif", N, N, "/x/(c)_(\\d+)"),
      ("no2", "file:/x/d_2016_2017.tif", N, "week", N),
      ("no2", "file:/x/e_20160230.tif", N, N, N),
      ("no2", "file:/x/undated.tif", N, "month", "nomatch"),
      ("no2", "file:/日本/ü_1999.tif", N, "week", N),
      ("no2", "file:/x/f_20180101.tif", "G-1", N, N),
      ("no2", "file:/x/g_20180101.tif", "G-2", "month", "(g)"))
      .toDF("collection", "s3_filename", "granule_id", "datetime_range", "id_regex")
    val meta = Seq(("G-1", java.sql.Timestamp.valueOf("2020-05-06 07:08:09")))
      .toDF("granule_id", "time_start")
    def build() = Ingest.buildItems(events, Some(meta))
      .select("item_id", "item_json", "dts", "valid")

    val spill = tempDir("cgspill").getAbsolutePath
    val q = SpillSink.resolve(SpillSink.route(
      Ingest.buildItems(events, Some(meta)).filter(col("valid")), "item_json",
      s"file:$spill", threshold = 120))
    assert(q.collect().length == 6)
    // (node, inside a generated stage?) over the final adaptive plan
    def walk(p: SparkPlan, inStage: Boolean): Seq[(SparkPlan, Boolean)] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inStage)
      case s: QueryStageExec => walk(s.plan, inStage)
      case w: WholeStageCodegenExec => walk(w.child, inStage = true)
      case i: InputAdapter => walk(i.child, inStage = false)
      case other => (other, inStage) +: other.children.flatMap(walk(_, inStage))
    }
    val plan = q.queryExecution.executedPlan
    val builders = walk(plan, inStage = false).filter { case (n, _) =>
      n.expressions.exists(_.exists {
        case _: ExtractFilenameDates | _: DeriveItemId => true
        case _ => false
      })
    }
    assert(builders.nonEmpty, plan)
    assert(builders.forall(_._2), s"STAC build projection outside codegen:\n$plan")

    def rows() = build().collect().map(_.toString).sorted.toSeq
    val generated = rows()
    val interpreted = {
      val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
      spark.conf.set(keys(0), "false")
      spark.conf.set(keys(1), "NO_CODEGEN")
      try rows() finally keys.foreach(spark.conf.unset)
    }
    assert(generated.length == 9)
    assert(generated == interpreted)
  }

  test("items carry bbox, footprint, proj and raster stats from cogify results") {
    import spark.implicits._
    import graft.kernel.Cogify
    import graft.kernel.Cogify.{CogifyTask, CollectionConfig}
    // cogify a synthetic granule (FakeGridReader: 360x180 global grid,
    // top-left recipe → EPSG:4326), then feed its result row back as the
    // raster dim — the full A12 wiring the reference gets from rio_stac
    val out = tempDir("cogmeta").getAbsolutePath
    val results = Cogify.run(
      Seq(CogifyTask("no2", "file:/x/OMI_trno2_20160101.tif", None,
        upload = false)).toDS(),
      Map("no2" -> CollectionConfig("data", useTopLeftRecipe = true)),
      s"file:$out", mkReader = () => new Cogify.FakeGridReader()).collect()
    assert(results.head.error.isEmpty && results.head.epsg == 4326)
    val stats = results.head.stats.get
    assert(stats.count == 360L * 180L) // FakeGridReader emits no nodata
    assert(stats.min >= 0 && stats.max <= 100 && stats.stddev > 0)

    val meta = Ingest.rasterMeta(spark.createDataset(results.toSeq).toDF())
    val events = Seq(("no2", results.head.filename, null: String,
        null: String, null: String))
      .toDF("collection", "s3_filename", "granule_id", "datetime_range", "id_regex")
    val row = Ingest.buildItems(events, rasterMeta = Some(meta)).head()

    // bbox derives from the affine the kernel computed (extent from
    // coord-center min/max, handler.py:96-103 semantics)
    val Seq(a, _, c, _, e, f) = results.head.affine
    assert(row.getAs[scala.collection.Seq[Double]]("bbox").toSeq ==
      Seq(c, f + e * 180, c + a * 360, f))
    val json = row.getAs[String]("item_json")
    assert(json.contains(""""proj:epsg":4326"""))
    assert(json.contains(""""proj:shape":[180,360]"""))
    assert(json.contains(s""""proj:transform":[$a,0.0,$c,0.0,$e,$f]"""))
    // closed GeoJSON ring, first == last corner
    assert(json.contains(""""type":"Polygon""""))
    assert(json.contains(s"[[[$c,${f + e * 180}],[${c + a * 360},${f + e * 180}]"))
    assert(json.contains(""""raster:bands""""))
    assert(json.contains(""""valid_percent":100.0"""))
    assert(json.contains("image/tiff; application=geotiff; profile=cloud-optimized"))

    // assets without a raster row keep the compact item (null branches
    // dropped from the JSON), and the datetime path is untouched
    val bare = Ingest.buildItems(events).head()
    assert(bare.getAs[Any]("bbox") == null)
    assert(!bare.getAs[String]("item_json").contains("proj:epsg"))

    // per-event asset overrides (events.py:17-20) mixed with defaulted
    // events in ONE frame: the override event renames the asset key and
    // swaps roles/media type; the null-override event keeps
    // stac.py:42-47's defaults exactly; rows with no asset_* columns at
    // all (the `events` frame above) already proved the absent-column
    // path
    val mixed = Seq(
      ("no2", results.head.filename, null: String, null: String,
        null: String, "visual", Seq("overview"), "image/jp2"),
      ("no2", results.head.filename, null: String, null: String,
        null: String, null: String, null: Seq[String], null: String))
      .toDF("collection", "s3_filename", "granule_id", "datetime_range",
        "id_regex", "asset_name", "asset_roles", "asset_media_type")
    val mixedRows = Ingest.buildItems(mixed, rasterMeta = Some(meta))
      .select("asset_name", "item_json").collect()
    val over = mixedRows.find(_.getString(0) == "visual").get.getString(1)
    assert(over.contains(""""visual":{"href""""))
    assert(over.contains(""""type":"image/jp2""""))
    assert(over.contains(""""roles":["overview"]"""))
    assert(!over.contains("cog_default"))
    val dflt = mixedRows.find(_.isNullAt(0)).get.getString(1)
    assert(dflt.contains(""""cog_default":{"href""""))
    assert(dflt.contains("image/tiff; application=geotiff; profile=cloud-optimized"))
    assert(dflt.contains(""""roles":["data","layer"]"""))
  }

  test("records without extractable dates are flagged invalid, not fatal") {
    import spark.implicits._
    val assets = Seq(
      ("no2", "file:/tmp/none/undated.tif", false, null: String, null: String))
      .toDF("collection", "s3_filename", "upload", "datetime_range", "id_regex")
      .withColumn("granule_id", lit(null).cast("string"))
    val items = Ingest.buildItems(assets)
    val row = items.head()
    assert(!row.getAs[Boolean]("valid"))
    assert(row.getAs[String]("item_id") == "undated")
  }

  test("batch ingest dead-letters an undated record instead of publishing it") {
    import spark.implicits._
    val c = cfg()
    val assets = Seq(
      ("no2", "file:/x/no2/undated.tif", false, null: String, null: String),
      ("no2", "file:/x/no2/OMI_20160101.tif", false, null: String, null: String))
      .toDF("collection", "s3_filename", "upload", "datetime_range", "id_regex")
      .withColumn("granule_id", lit(null).cast("string"))
    val dryDir = c.dryRunDir
    val (published, dlq) = Ingest.run(assets, c,
      () => new PublishSink.DryRunPoster(dryDir))

    val dead = dlq.collect()
    assert(dead.length == 1)
    assert(dead.head.getAs[String]("item").contains(""""item_id":"undated""""))
    assert(dead.head.getAs[String]("error") == Ingest.UndatedReason)
    assert(published.select("item_id").as[String].collect().toSeq == Seq("OMI_20160101"))
    val recorded = new java.io.File(dryDir).listFiles()
      .flatMap(f => scala.io.Source.fromFile(f).getLines()).toSeq
    assert(recorded.length == 1)
    assert(recorded.head.contains(""""item_id":"OMI_20160101""""))
  }
}
