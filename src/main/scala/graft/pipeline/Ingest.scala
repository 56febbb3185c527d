package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.functions.GraftFunctions._
import graft.sinks.{PublishSink, SpillSink, Transfer}
import graft.sources.Discovery
import graft.streaming.EventStream

/** The reference's three state machines composed as ONE logical plan
  * (SURVEY §3: discover → [transfer] → build-stac → submit, with the
  * cogify branch split off by the B2 router). What took 7 Lambdas, 3 Step
  * Functions and 2 SQS queues is a single DataFrame pipeline — the
  * process/queue hops become plan stages, and Catalyst sees the whole
  * thing.
  */
object Ingest {

  final case class IngestConfig(
      targetRoot: String, // transfer destination (A10)
      spillDir: String, // oversized-item side storage (A17)
      dryRunDir: String, // publish sink dry-run capture (A19)
      spillThreshold: Int = SpillSink.DefaultThreshold)

  /** Dead-letter reason of an item [[buildItems]] flagged `valid = false`. */
  val UndatedReason: String =
    "undated: no datetime from the catalog, the filename or datetime_range"

  /** Discovered assets → published items. Returns (published items,
    * dead letters as (item, error)): the publish failures, plus the
    * items without a datetime, which are neither spilled nor posted. */
  def run(assets: DataFrame, cfg: IngestConfig,
      makePoster: () => PublishSink.ItemPoster,
      cmrMeta: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    val transferred = Transfer.execute(assets, cfg.targetRoot)

    val items = buildItems(transferred, cmrMeta)
    val routed = SpillSink.route(items.filter(col("valid")), "item_json",
      cfg.spillDir, cfg.spillThreshold)
    val resolved = SpillSink.resolve(routed)
    val failed = PublishSink.publish(resolved, "resolved_item", makePoster)
    val undated = items.filter(!col("valid"))
      .select(col("item_json").as("item"), lit(UndatedReason).as("error"))
    (resolved, failed.unionByName(undated))
  }

  /** The build-stac enrichment with event-union dispatch (A11,
    * reference build-stac/handler.py:40-41): events carrying a
    * `granule_id` are CMR events — their datetime comes from the catalog
    * metadata's `time_start` via a broadcast lookup join (A16,
    * stac.py:113-129, replacing the per-record remote fetch); the rest
    * are regex events — datetime precedence + filename extraction
    * (A13/A14) and id derivation (A15).
    *
    * When `rasterMeta` is supplied (one row per asset href: width,
    * height, affine, epsg, band stats — [[rasterMeta]] derives it from
    * cogify results), items additionally carry the full
    * `rio_stac`-shaped field set (stac.py:32-48 `with_proj=True,
    * with_raster=True`): `bbox` + GeoJSON `geometry` footprint in
    * EPSG:4326, `proj:epsg`/`proj:shape`/`proj:transform` properties,
    * and an asset entry with per-band `raster:bands` statistics. The
    * asset's key/roles/media-type honor the per-event
    * `asset_name`/`asset_roles`/`asset_media_type` overrides
    * (events.py:17-20) with stac.py:42-47's defaults (`cog_default`,
    * `["data","layer"]`, the COG media type) when absent or null.
    *
    * @param cmrMeta optional granule-metadata dim
    *   (granule_id, time_start, time_end), e.g. from the
    *   GranuleCatalog source; without it CMR events fall back to the
    *   regex path (offline degradation).
    * @param rasterMeta optional per-asset raster dim keyed by
    *   `s3_filename`: width, height, affine (array), epsg, stats
    *   struct; assets without a row get the id/datetime-only item.
    */
  def buildItems(events: DataFrame, cmrMeta: Option[DataFrame] = None,
      rasterMeta: Option[DataFrame] = None): DataFrame = {
    // Per-event asset overrides (reference events.py:17-20 → stac.py's
    // `asset_name or "cog_default"` defaulting, stac.py:42-47): events
    // MAY carry asset_name / asset_roles / asset_media_type; absent
    // columns mean "all defaults" — normalized to typed nulls here so
    // one JSON-build expression serves both shapes.
    val events1 = Seq(
      "asset_name" -> "string",
      "asset_roles" -> "array<string>",
      "asset_media_type" -> "string"
    ).foldLeft(events) { case (df, (c, t)) =>
      if (df.columns.contains(c)) df else df.withColumn(c, lit(null).cast(t))
    }
    val withDates = cmrMeta match {
      case Some(meta) =>
        val isCmr = col("granule_id").isNotNull
        val regexDts = extract_filename_dates(col("s3_filename"), col("datetime_range"))
        events1
          .join(broadcast(meta.select(col("granule_id"),
            col("time_start").as("__meta_start"))), Seq("granule_id"), "left")
          .withColumn("dts",
            when(isCmr && col("__meta_start").isNotNull,
              struct(lit(null).cast("timestamp").as("start_datetime"),
                lit(null).cast("timestamp").as("end_datetime"),
                col("__meta_start").as("single_datetime")))
              .otherwise(regexDts))
          .drop("__meta_start")
      case None =>
        events1.withColumn("dts",
          extract_filename_dates(col("s3_filename"), col("datetime_range")))
    }
    val withRaster = rasterMeta match {
      case Some(meta) =>
        // 1:1 enrichment join on the asset href; bbox/footprint derive
        // from the affine (axis-aligned: b = d = 0) and reproject to
        // EPSG:4326 when the grid is web-mercator (the two CRSs the
        // cogify recipes emit)
        val a = element_at(col("__affine"), 1)
        val c = element_at(col("__affine"), 3)
        val e = element_at(col("__affine"), 5)
        val f = element_at(col("__affine"), 6)
        val x0 = c
        val x1 = c + a * col("__w")
        val y0 = f
        val y1 = f + e * col("__h")
        val R = 6378137.0
        def toLon(x: org.apache.spark.sql.Column) =
          when(col("__epsg") === 3857, degrees(x / R)).otherwise(x)
        def toLat(y: org.apache.spark.sql.Column) =
          when(col("__epsg") === 3857,
            degrees(lit(2.0) * atan(exp(y / R)) - lit(math.Pi / 2))).otherwise(y)
        (events2: DataFrame) => events2
          .join(meta.select(col("s3_filename"),
            col("width").as("__w"), col("height").as("__h"),
            col("affine").as("__affine"), col("epsg").as("__epsg"),
            col("stats").as("__stats")), Seq("s3_filename"), "left")
          .withColumn("bbox", when(col("__affine").isNotNull, array(
            least(toLon(x0), toLon(x1)), least(toLat(y0), toLat(y1)),
            greatest(toLon(x0), toLon(x1)), greatest(toLat(y0), toLat(y1)))))
          .withColumn("geometry", when(col("bbox").isNotNull, struct(
            lit("Polygon").as("type"),
            array(array(
              array(element_at(col("bbox"), 1), element_at(col("bbox"), 2)),
              array(element_at(col("bbox"), 3), element_at(col("bbox"), 2)),
              array(element_at(col("bbox"), 3), element_at(col("bbox"), 4)),
              array(element_at(col("bbox"), 1), element_at(col("bbox"), 4)),
              array(element_at(col("bbox"), 1), element_at(col("bbox"), 2))))
              .as("coordinates"))))
      case None =>
        (events2: DataFrame) => events2
          .withColumn("bbox", lit(null).cast("array<double>"))
          .withColumn("geometry", lit(null)
            .cast("struct<type:string,coordinates:array<array<array<double>>>>"))
          .withColumn("__w", lit(null).cast("int"))
          .withColumn("__h", lit(null).cast("int"))
          .withColumn("__affine", lit(null).cast("array<double>"))
          .withColumn("__epsg", lit(null).cast("int"))
          .withColumn("__stats", lit(null).cast(
            "struct<count:bigint,min:double,max:double,mean:double,stddev:double," +
              "p25:double,p50:double,p75:double,p98:double,histogram:array<bigint>>"))
    }
    withRaster(withDates)
      .withColumn("item_id",
        // A15 with the CMR rule of stac.py:118: granule id IS the item id
        coalesce(col("granule_id"),
          derive_item_id(col("s3_filename"), col("id_regex"))))
      .withColumn("item_json", to_json(struct(
        col("item_id"), col("collection"), col("s3_filename"),
        col("granule_id"),
        date_format(col("dts.start_datetime"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
          .as("start_datetime"),
        date_format(col("dts.end_datetime"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
          .as("end_datetime"),
        date_format(col("dts.single_datetime"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
          .as("datetime"),
        // rio_stac's with_proj/with_raster field set (stac.py:32-48);
        // to_json drops null branches, so meta-less assets keep the
        // compact item shape
        col("bbox"), col("geometry"),
        when(col("__epsg").isNotNull, struct(
          col("__epsg").as("proj:epsg"),
          array(col("__h"), col("__w")).as("proj:shape"),
          col("__affine").as("proj:transform"))).as("properties"),
        // the asset key is DYNAMIC (events.py asset_name override, default
        // cog_default) — a map, not a struct field, so to_json emits the
        // per-event key; roles/media-type coalesce to stac.py:42-47's
        // defaults
        when(col("__stats").isNotNull, map(
          coalesce(col("asset_name"), lit("cog_default")), struct(
          col("s3_filename").as("href"),
          coalesce(col("asset_media_type"),
            lit("image/tiff; application=geotiff; profile=cloud-optimized"))
            .as("type"),
          coalesce(col("asset_roles"), array(lit("data"), lit("layer")))
            .as("roles"),
          array(struct(
            col("__stats.min").as("minimum"), col("__stats.max").as("maximum"),
            col("__stats.mean").as("mean"), col("__stats.stddev").as("stddev"),
            (col("__stats.count") * lit(100.0) / (col("__w") * col("__h")))
              .as("valid_percent"))).as("raster:bands")))).as("assets"))))
      // A13 contract: no extractable datetime and no explicit one → the
      // record is dead-letterable, not publishable
      .withColumn("valid", col("dts").isNotNull)
      .drop("__w", "__h", "__affine", "__epsg", "__stats")
  }

  /** Cogify results → the per-asset raster dim [[buildItems]] joins on:
    * the output COG path is the asset href the item will reference. */
  def rasterMeta(cogifyResults: DataFrame): DataFrame =
    cogifyResults.filter(col("error").isNull)
      .select(col("filename").as("s3_filename"), col("width"), col("height"),
        col("affine"), col("epsg"), col("stats"))

  /** Continuous-ingest mode (SURVEY §0 consequence 2): a stream of
    * discovered-asset batches dropped into `assetDir` drains through the
    * SAME batch pipeline via foreachBatch — micro-batch triggers stand in
    * for the reference's SQS batch windows (B6). */
  def runStream(spark: SparkSession, assetDir: String, cfg: IngestConfig,
      makePoster: () => PublishSink.ItemPoster,
      trigger: Trigger = Trigger.ProcessingTime("1 second"),
      maxFilesPerTrigger: Int = 10,
      // at-least-once inputs: drop redeliveries within the micro-batch
      // on these key columns (the reference's A10 idempotence for
      // re-delivered SQS messages); None for exactly-once sources
      dedupKeys: Option[Seq[String]] = None): StreamingQuery = {
    val stream = EventStream.readEvents(spark, assetDir, maxFilesPerTrigger)
    dedupKeys.fold(stream)(ks => stream.dropDuplicates(ks))
      .writeStream
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        run(batch, cfg, makePoster)
        () // side-effecting sink stage
      }
      .start()
  }
}
