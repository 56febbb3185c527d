package perfbench

import java.io.File
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.kernel.Cogify
import graft.kernel.Cogify.{CogifyResult, CogifyTask, CollectionConfig, FetchGridReader}
import graft.pipeline.Ingest
import graft.sinks.{PublishSink, SpillSink, Transfer}
import graft.sources.{Discovery, Fetch}

/** What one pass did: the operations it attempted and the latencies of
  * the batches it ran (one per pass for the bulk workloads). */
final case class PassOut(ops: Long, items: Long, batchLatenciesS: Seq[Double])

/** A benchmark workload. `setup` makes the seeded inputs; each pass runs
  * the pipeline over them, after `clear` removed the previous pass's
  * outputs; `check` verifies the outputs of the last pass. */
abstract class Workload(val spark: SparkSession, val seed: Long, work: File) {
  def name: String
  /** Untimed passes before timing starts: enough for the pass time to
    * reach its plateau (the JIT keeps speeding passes up until then). */
  def warmPasses: Int
  def setup(): Unit
  def pass(t: Tracer): PassOut
  def check(): Seq[String]
  /** Digest of the generated inputs (independent of the engine). */
  def inputDigest(): String
  /** Per-layer metrics of one traced pass: name → (value, unit). */
  def layers(t: Tracer, l: Listeners, pass: Int): Seq[(String, Double, String)]

  protected def dir(rel: String): File = new File(work, rel)
  protected lazy val dryDir = dir(s"out/$name/published")
  protected lazy val spillDir = dir(s"out/$name/spill")
  protected lazy val targetDir = dir(s"out/$name/target")

  def clear(): Unit = {
    Io.rm(dir(s"out/$name"))
    Io.rm(dir("checkpoints"))
    spark.catalog.clearCache()
    System.gc()
  }

  /** Lines of every published item of the last pass. */
  protected def published(): Seq[String] = Io.files(dryDir, ".jsonl")
    .flatMap(f => Files.readAllLines(f.toPath).asScala)

  /** Bytes the pass left in its published outputs: item lines, spilled
    * payloads, and the workload's own artifacts (the COGs). */
  def outputBytes(): Long =
    Io.bytes(dryDir, ".jsonl") + Io.bytes(spillDir, ".json") + extraOutputBytes()
  protected def extraOutputBytes(): Long = 0L

  /** In a traced pass, materialise a lazy layer output at its boundary so
    * the work lands in that layer's span. */
  protected def mat(t: Tracer, df: DataFrame): DataFrame =
    if (!t.enabled) df
    else { val p = df.persist(); p.count(); p }

  /** A dry-run poster factory that captures only the output path. */
  protected def poster(): () => PublishSink.ItemPoster = {
    val d = dryDir.getAbsolutePath
    () => new PublishSink.DryRunPoster(d)
  }

  protected def commonLayers(t: Tracer, l: Listeners, pass: Int)
      : Seq[(String, Double, String)] = {
    val ids = t.passSpans(pass).map(_.id).toSet
    val all = l.forSpans(ids)
    val lines = published()
    val spilled = Io.files(spillDir, ".json")
    Seq(
      ("sinks.spilled_items", spilled.size.toDouble, "count"),
      ("sinks.spill_bytes", spilled.map(_.length).sum.toDouble, "bytes"),
      ("sinks.published_items", lines.size.toDouble, "count"),
      ("sinks.transfer_bytes", Io.bytes(targetDir, "").toDouble, "bytes"),
      ("spark.jobs", all.jobs.toDouble, "count"),
      ("spark.stages", all.stages.toDouble, "count"),
      ("spark.tasks", all.tasks.toDouble, "count"),
      ("spark.job_idle_s", all.jobIdleS, "s"),
      ("spark.task_s", all.taskS, "s"),
      ("spark.task_cpu_s", all.taskCpuS, "s"),
      ("spark.gc_s", all.gcS, "s"),
      ("spark.shuffle_bytes", all.shuffleBytes.toDouble, "bytes"),
      ("spark.spill_bytes", all.spillBytes.toDouble, "bytes"),
      ("plans.planning_s", all.planningS, "s"))
  }

  protected def spanSeconds(t: Tracer, pass: Int, name: String): Double =
    t.passSpans(pass).filter(_.name == name).map(_.seconds).sum

  protected val mapper = new ObjectMapper()
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, work: File): Workload =
    name match {
      case "raster_ingest" => new RasterIngest(spark, seed, work)
      case "catalog_ingest" => new CatalogIngest(spark, seed, work)
      case "stream_ingest" => new StreamIngest(spark, seed, work)
    }
}

/** Discover (with upload) → transfer → cogify → rasterMeta → buildItems
  * → spill → publish over seeded NetCDF-3 global grids. */
final class RasterIngest(spark0: SparkSession, seed0: Long, work: File)
    extends Workload(spark0, seed0, work) {
  import spark.implicits._

  val name = "raster_ingest"
  val warmPasses = 7
  val Granules = 12
  val Spec = Gen.GridSpec(1440, 720)
  val Collection = "grid-bench"
  private val srcDir = dir("inputs/raster")
  private val cogDir = dir(s"out/$name/cogs")
  private var stats: Map[String, Gen.GranuleStats] = Map.empty
  private var lastResults: Seq[CogifyResult] = Nil
  private var lastDlq: DataFrame = _

  def setup(): Unit = {
    val coll = new File(srcDir, Collection)
    coll.mkdirs()
    stats = (0 until Granules).map { g =>
      val gr = Gen.granule(seed, g, Spec)
      Files.write(new File(coll, gr.name).toPath, Gen.netcdf(gr))
      gr.name -> gr.stats
    }.toMap
  }

  def inputDigest(): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    Io.files(new File(srcDir, Collection), ".nc").sortBy(_.getName)
      .foreach(f => md.update(Files.readAllBytes(f.toPath)))
    Gen.hex(md.digest())
  }

  def pass(t: Tracer): PassOut = {
    val assets = t.span("sources.discover") {
      mat(t, Discovery.discover(spark, Discovery.DiscoveryRequest(
        bucket = "file:" + srcDir.getAbsolutePath, prefix = Collection,
        filenameRegex = Some(s"$Collection/.*\\.nc"), collection = Some(Collection),
        upload = true, cogify = true)).toDF())
    }
    // one granule per task: the kernel dominates, so coarse partitions
    // would leave cores idle behind the slowest one
    val tasks = t.span("sinks.transfer") {
      Transfer.execute(assets, "file:" + targetDir.getAbsolutePath)
        .filter(col("cogify"))
        .select(col("collection"), col("s3_filename").as("href"),
          col("granule_id"), col("upload"))
        .as[CogifyTask].collect().toSeq.sortBy(_.href)
    }
    val results = t.span("kernel.cogify") {
      Cogify.run(spark.createDataset(spark.sparkContext.parallelize(tasks, tasks.size)),
        Map(Collection -> CollectionConfig("data", xVariable = Some("lon"),
          yVariable = Some("lat"), useTopLeftRecipe = true)),
        "file:" + cogDir.getAbsolutePath,
        mkReader = () => new FetchGridReader(() => new Fetch.HadoopFetcher()))
        .collect().toSeq
    }
    lastResults = results
    val resultsDf = spark.createDataset(results).toDF()
    val items = t.span("pipeline.build_items") {
      val events = resultsDf.filter(col("error").isNull).select(col("collection"),
        col("filename").as("s3_filename"), col("granule_id"),
        lit(null).cast("string").as("datetime_range"),
        lit(null).cast("string").as("id_regex"))
      mat(t, Ingest.buildItems(events, None, Some(Ingest.rasterMeta(resultsDf))))
    }
    val resolved = t.span("sinks.spill") {
      mat(t, SpillSink.resolve(SpillSink.route(items, "item_json",
        "file:" + spillDir.getAbsolutePath)))
    }
    lastDlq = t.span("sinks.publish") {
      PublishSink.publish(resolved, "resolved_item", poster())
    }
    PassOut(tasks.size.toLong, results.size.toLong, Nil)
  }

  override protected def extraOutputBytes(): Long = Io.bytes(cogDir, ".tif")

  def check(): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val items = published().map(mapper.readTree)
    if (items.size != Granules) errs += s"published ${items.size} items, expected $Granules"
    val ids = items.map(_.get("item_id").asText())
    if (ids.distinct.size != ids.size) errs += "an item was published twice"
    val dlq = lastDlq.count()
    if (dlq != 0) errs += s"$dlq items dead-lettered"
    lastResults.filter(_.error.nonEmpty).foreach(r => errs += s"cogify failed: ${r.error.get}")
    items.foreach { it =>
      val href = it.get("s3_filename").asText()
      val src = href.split('/').last.stripSuffix(".cog.tif")
      stats.get(src) match {
        case None => errs += s"item for unknown granule $href"
        case Some(g) =>
          val band = it.path("assets").path("cog_default").path("raster:bands").path(0)
          def near(k: String, want: Double, tol: Double) = {
            val got = band.path(k).asDouble(Double.NaN)
            if (!(math.abs(got - want) <= tol * math.max(1.0, math.abs(want))))
              errs += s"$src $k = $got, expected $want"
          }
          near("minimum", g.min, 0)
          near("maximum", g.max, 0)
          near("mean", g.mean, 1e-9)
          near("valid_percent", g.validPercent, 1e-12)
          val bbox = it.path("bbox").elements().asScala.map(_.asDouble()).toSeq
          if (bbox.size != 4 || bbox.zip(g.extent).exists { case (a, b) => math.abs(a - b) > 1e-9 })
            errs += s"$src bbox $bbox, expected ${g.extent}"
          val dt = g.date.atStartOfDay().toString + ":00Z"
          if (it.path("datetime").asText() != dt)
            errs += s"$src datetime ${it.path("datetime").asText()}, expected $dt"
      }
    }
    val onDisk = Io.bytes(cogDir, ".tif")
    val reported = lastResults.map(_.payload_bytes).sum
    if (onDisk != reported) errs += s"cogify reported $reported COG bytes, $onDisk on disk"
    // full-resolution pixels of one granule, read back by CogRead
    val g = (seed % Granules).toInt
    val gr = Gen.granule(seed, g, Spec)
    lastResults.find(_.href.endsWith("/" + gr.name)) match {
      case None => errs += s"no COG for ${gr.name}"
      case Some(r) =>
        val (w, h, px) = CogRead.fullRes(Files.readAllBytes(Paths.get(r.filename.stripPrefix("file:"))))
        if (w != Spec.width || h != Spec.height) errs += s"${gr.name} COG is ${w}x$h"
        else {
          val bad = px.indices.count(i =>
            java.lang.Float.floatToRawIntBits(px(i)) != java.lang.Float.floatToRawIntBits(gr.data(i)))
          if (bad != 0) errs += s"${gr.name}: $bad COG pixels differ from the generated grid"
        }
    }
    errs.result()
  }

  def layers(t: Tracer, l: Listeners, pass: Int): Seq[(String, Double, String)] = {
    val kernel = l.forSpans(t.passSpans(pass).filter(_.name == "kernel.cogify").map(_.id).toSet)
    Seq(
      ("sources.discover_s", spanSeconds(t, pass, "sources.discover"), "s"),
      ("sources.keys_listed", Io.files(new File(srcDir, Collection), ".nc").size.toDouble, "count"),
      ("sinks.transfer_s", spanSeconds(t, pass, "sinks.transfer"), "s"),
      ("sinks.spill_s", spanSeconds(t, pass, "sinks.spill"), "s"),
      ("sinks.publish_s", spanSeconds(t, pass, "sinks.publish"), "s"),
      ("kernel.cogify_s", spanSeconds(t, pass, "kernel.cogify"), "s"),
      ("kernel.cogify_task_cpu_s", kernel.taskCpuS, "s"),
      ("kernel.cogify_gc_s", kernel.gcS, "s"),
      ("kernel.tiles", lastResults.map(_.n_tiles.toLong).sum.toDouble, "count"),
      ("kernel.cog_bytes", lastResults.map(_.payload_bytes).sum.toDouble, "bytes"),
      ("pipeline.build_items_s", spanSeconds(t, pass, "pipeline.build_items"), "s"),
      ("pipeline.items_built", lastResults.count(_.error.isEmpty).toDouble, "count")) ++
      commonLayers(t, l, pass)
  }
}

/** Bulk STAC build over seeded discovered-asset events: regex events
  * (no range, month, year) and CMR events dated by a broadcast
  * granule-metadata join, with a fixed share spilled; one batch, the
  * composition of `Ingest.run`. */
final class CatalogIngest(spark0: SparkSession, seed0: Long, work: File)
    extends Workload(spark0, seed0, work) {
  import spark.implicits._

  val name = "catalog_ingest"
  val warmPasses = 7
  val Events = 200000L
  private val eventsDir = dir("inputs/catalog/events.parquet")
  private val metaDir = dir("inputs/catalog/meta.parquet")
  private var lastDlq: DataFrame = _

  def setup(): Unit = {
    val s = seed
    spark.range(0, Events, 1, 8).as[Long].map(i => Gen.event(s, i))
      .write.parquet(eventsDir.getAbsolutePath)
    spark.range(0, Events, 1, 2).as[Long].filter(i => Gen.hasMeta(i)).map(i => Gen.meta(s, i))
      .write.parquet(metaDir.getAbsolutePath)
  }

  def inputDigest(): String = EventDigest(seed, Events)

  def pass(t: Tracer): PassOut = {
    val events = spark.read.parquet(eventsDir.getAbsolutePath)
    val meta = spark.read.parquet(metaDir.getAbsolutePath)
    val transferred = t.span("sinks.transfer") {
      mat(t, Transfer.execute(events, "file:" + targetDir.getAbsolutePath))
    }
    val items = t.span("pipeline.build_items") {
      mat(t, Ingest.buildItems(transferred, Some(meta)))
    }
    val resolved = t.span("sinks.spill") {
      mat(t, SpillSink.resolve(SpillSink.route(items, "item_json",
        "file:" + spillDir.getAbsolutePath, Gen.SpillThreshold)))
    }
    lastDlq = t.span("sinks.publish") {
      PublishSink.publish(resolved, "resolved_item", poster())
    }
    PassOut(Events, Events, Nil)
  }

  def check(): Seq[String] =
    EventChecks(published(), lastDlq.count(), seed, Events, cmrJoin = true,
      Io.files(spillDir, ".json").size, mapper)

  def layers(t: Tracer, l: Listeners, pass: Int): Seq[(String, Double, String)] = {
    Seq(
      ("sources.discover_s", 0.0, "s"),
      ("sources.keys_listed", 0.0, "count"),
      ("sinks.transfer_s", spanSeconds(t, pass, "sinks.transfer"), "s"),
      ("sinks.spill_s", spanSeconds(t, pass, "sinks.spill"), "s"),
      ("sinks.publish_s", spanSeconds(t, pass, "sinks.publish"), "s"),
      ("pipeline.build_items_s", spanSeconds(t, pass, "pipeline.build_items"), "s"),
      ("pipeline.items_built", Events.toDouble, "count")) ++
      Kernel.none ++ commonLayers(t, l, pass)
  }
}

/** The same kind of events dropped as many small files and drained by
  * `Ingest.runStream` with `Trigger.AvailableNow`. */
final class StreamIngest(spark0: SparkSession, seed0: Long, work: File)
    extends Workload(spark0, seed0, work) {
  import spark.implicits._

  val name = "stream_ingest"
  val warmPasses = 5
  val Files_ = 4
  val PerFile = 2000L
  val MaxFilesPerTrigger = 1
  private val assetDir = dir("inputs/stream/assets")
  private var lastBatches = 0
  private var framesLeft = 0

  def setup(): Unit = {
    val s = seed
    spark.range(0, Files_ * PerFile, 1, Files_).as[Long].map(i => Gen.event(s, i))
      .write.parquet(assetDir.getAbsolutePath)
  }

  def inputDigest(): String = EventDigest(seed, Files_ * PerFile)

  def pass(t: Tracer): PassOut = {
    val progress = t.span("stream.drain") {
      val q = Ingest.runStream(spark, assetDir.getAbsolutePath,
        Ingest.IngestConfig("file:" + targetDir.getAbsolutePath,
          "file:" + spillDir.getAbsolutePath, dryDir.getAbsolutePath,
          spillThreshold = Gen.SpillThreshold),
        poster(), Trigger.AvailableNow(), maxFilesPerTrigger = MaxFilesPerTrigger)
      try q.awaitTermination() finally q.stop()
      q.recentProgress.toSeq.filter(_.numInputRows > 0)
    }
    lastBatches = progress.size
    framesLeft = spark.sparkContext.getPersistentRDDs.size
    PassOut(progress.size.toLong, Files_ * PerFile, progress.map(_.batchDuration / 1e3))
  }

  def check(): Seq[String] = {
    val want = Files_ / MaxFilesPerTrigger
    (if (lastBatches != want) Seq(s"drained in $lastBatches micro-batches, expected $want")
     else Nil) ++
      EventChecks(published(), 0L, seed, Files_ * PerFile, cmrJoin = false,
        Io.files(spillDir, ".json").size, mapper)
  }

  def layers(t: Tracer, l: Listeners, pass: Int): Seq[(String, Double, String)] = {
    val prog = l.passProgress(pass).map(_.progress)
    def dur(k: String) = prog.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3
    // the layer calls run inside the engine's foreachBatch, out of reach
    // of benchmark spans, and every stream job carries the query's start
    // call site: attribute by Dataset action instead. Per micro-batch,
    // Ingest.run's only `foreachPartition` is Transfer.execute's copy and
    // its only `count` is PublishSink.publish's, which also runs the lazy
    // buildItems, spill route and resolve
    Seq(
      ("sources.discover_s", 0.0, "s"),
      ("sources.keys_listed", 0.0, "count"),
      ("sinks.transfer_s", l.actionSeconds(pass, "foreachPartition"), "s"),
      ("sinks.spill_s", 0.0, "s"),
      ("sinks.publish_s", l.actionSeconds(pass, "count"), "s"),
      ("pipeline.build_items_s", 0.0, "s"),
      ("pipeline.items_built", (Files_ * PerFile).toDouble, "count"),
      ("stream.batches", prog.size.toDouble, "count"),
      ("stream.query_planning_s", dur("queryPlanning"), "s"),
      ("stream.add_batch_s", dur("addBatch"), "s"),
      ("stream.wal_commit_s", dur("walCommit"), "s"),
      ("stream.frames_left", framesLeft.toDouble, "count")) ++
      Kernel.none ++ commonLayers(t, l, pass)
  }
}

/** The kernel's metrics on workloads that never reach it. */
object Kernel {
  val none: Seq[(String, Double, String)] = Seq(
    ("kernel.cogify_s", 0.0, "s"), ("kernel.cogify_task_cpu_s", 0.0, "s"),
    ("kernel.cogify_gc_s", 0.0, "s"), ("kernel.tiles", 0.0, "count"),
    ("kernel.cog_bytes", 0.0, "bytes"))
}

/** Digest of the generated events, as the input record of a workload. */
object EventDigest {
  def apply(seed: Long, n: Long): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var i = 0L
    while (i < n) { md.update((Gen.event(seed, i).toString + "\n").getBytes("UTF-8")); i += 1 }
    Gen.hex(md.digest())
  }
}

/** Output checks of the event workloads. */
object EventChecks {
  def apply(lines: Seq[String], dlq: Long, seed: Long, n: Long, cmrJoin: Boolean,
      spillFiles: Int, mapper: ObjectMapper): Seq[String] = {
    val errs = Seq.newBuilder[String]
    var got = Gen.Empty
    val ids = new java.util.HashSet[String]()
    var undated = 0L
    lines.foreach { line =>
      val t = {
        val node = mapper.readTree(line)
        def f(k: String) = Option(node.get(k)).map(_.asText()).getOrElse("")
        (f("item_id"), f("datetime"), f("start_datetime"), f("end_datetime"))
      }
      got = got + t
      if (!ids.add(t._1)) errs += s"item ${t._1} published twice"
      if (t._2.isEmpty && (t._3.isEmpty || t._4.isEmpty)) undated += 1
    }
    val want = Gen.expectedDigest(seed, n, cmrJoin)
    if (got != want) errs += s"published digest $got, expected $want"
    if (lines.size + dlq != n) errs += s"published ${lines.size} + dead-lettered $dlq != $n events"
    if (undated != 0) errs += s"$undated published items carry no datetime"
    val long = lines.count(_.length >= Gen.SpillThreshold)
    if (long != Gen.expectedSpills(n)) errs += s"$long items over the spill threshold, expected ${Gen.expectedSpills(n)}"
    if (spillFiles != long) errs += s"$spillFiles spill files for $long items over the threshold"
    errs.result().take(20)
  }
}

/** The full-resolution page of a COG, read with nothing but the TIFF
  * layout (classic or BigTIFF, little-endian, deflate-compressed float32
  * tiles): independent of the engine's own TIFF reader. */
object CogRead {
  def fullRes(bytes: Array[Byte]): (Int, Int, Array[Float]) = {
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(b.get(0) == 'I' && b.get(1) == 'I', "not a little-endian TIFF")
    val big = b.getShort(2) == 43
    val ifd = if (big) b.getLong(8).toInt else b.getInt(4)
    val n = if (big) b.getLong(ifd).toInt else b.getShort(ifd) & 0xffff
    val entrySize = if (big) 20 else 12
    val first = ifd + (if (big) 8 else 2)
    def values(at: Int): Seq[Long] = {
      val typ = b.getShort(at + 2)
      val count = if (big) b.getLong(at + 4).toInt else b.getInt(at + 4)
      val size = typ match { case 3 => 2; case 4 => 4; case 16 => 8; case _ => 1 }
      val slot = if (big) at + 12 else at + 8
      val base = if (size * count <= (if (big) 8 else 4)) slot
        else if (big) b.getLong(slot).toInt else b.getInt(slot)
      (0 until count).map { k =>
        typ match {
          case 3 => (b.getShort(base + 2 * k) & 0xffff).toLong
          case 4 => b.getInt(base + 4 * k) & 0xffffffffL
          case 16 => b.getLong(base + 8 * k)
          case _ => 0L
        }
      }
    }
    val tags = (0 until n).map { k =>
      val at = first + k * entrySize
      (b.getShort(at) & 0xffff) -> values(at)
    }.toMap
    val (w, h) = (tags(256).head.toInt, tags(257).head.toInt)
    val (tw, th) = (tags(322).head.toInt, tags(323).head.toInt)
    require(tags.get(259).map(_.head).contains(8L), "expected deflate compression")
    val offs = tags(324)
    val counts = tags(325)
    val across = (w + tw - 1) / tw
    val out = new Array[Float](w * h)
    offs.indices.foreach { k =>
      val inf = new java.util.zip.Inflater()
      inf.setInput(bytes, offs(k).toInt, counts(k).toInt)
      val raw = new Array[Byte](tw * th * 4)
      var got = 0
      while (got < raw.length && !inf.finished()) got += inf.inflate(raw, got, raw.length - got)
      inf.end()
      val tile = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
      val (tx, ty) = (k % across, k / across)
      var r = 0
      while (r < th) {
        var c = 0
        while (c < tw) {
          val (gr, gc) = (ty * th + r, tx * tw + c)
          if (gr < h && gc < w) out(gr * w + gc) = tile.getFloat((r * tw + c) * 4)
          c += 1
        }
        r += 1
      }
    }
    (w, h, out)
  }
}

/** File helpers over the run's working directory. */
object Io {
  def rm(f: File): Unit = if (f.exists()) {
    Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder[Path]())
      .iterator().asScala.foreach(p => Files.delete(p))
  }

  /** Regular files under `d` whose name ends with `suffix`, skipping the
    * checksum and marker files the Hadoop local filesystem writes. */
  def files(d: File, suffix: String): Seq[File] =
    if (!d.exists()) Nil
    else Files.walk(d.toPath).iterator().asScala.map(_.toFile)
      .filter(f => f.isFile && f.getName.endsWith(suffix) &&
        !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .toSeq

  def bytes(d: File, suffix: String): Long = files(d, suffix).map(_.length).sum
}
