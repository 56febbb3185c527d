package graft.kernel

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Dataset
import org.apache.spark.util.SerializableConfiguration

import graft.sinks.OutputFs

import Raster._

/** The cogify kernel (reference A8, lambdas/cogify/handler.py:74-185):
  * NetCDF/HDF5 variable → per-collection fixups → extent/CRS/affine →
  * float32 cast → 256×256 deflate-tiled cloud-optimized output, run as a
  * partitioned `mapPartitions` stage with broadcast per-collection config
  * and targeted retry (reference B5's RasterioIOError×5).
  *
  * Real here: config registry, array fixups, affine/extent math, the
  * COG output ([[Tiff.writeCog]] — tiling, deflate, overviews,
  * externally parseable tags), NetCDF-3 classic ([[Netcdf]]),
  * NetCDF-4/HDF5 ([[Hdf5]]) and TIFF decode behind [[FetchGridReader]]'s
  * one magic sniff, and the partitioned execution + retry. Callers name
  * their reader; [[FakeGridReader]]'s synthetic grids serve specs and
  * the smoke demo that don't care about source bytes.
  */
object Cogify {

  /** Per-collection physical config (reference example.ini:1-25 via
    * FIXTURES.md §A7) — a typed registry, replacing INI + eval. */
  final case class CollectionConfig(
      variableName: String,
      group: Option[String] = None,
      xVariable: Option[String] = None,
      yVariable: Option[String] = None,
      srcCrs: Option[String] = None, // proj4-style tag, carried as metadata
      useTopLeftRecipe: Boolean = false, // ≈ affine_transformation present
      transposeFix: Boolean = false, // GPM_3IMERGM
      flipudFix: Boolean = false, // OMDOAO3e
      // Extension past the reference's one-variable-per-COG profile
      // (handler.py:78,152): when non-empty, these variables become the
      // bands of ONE multi-band COG (PlanarConfiguration=2), decoded
      // from a single fetch of the container. `variableName` stays the
      // stats/nodata anchor, which is band 0 by construction: a
      // non-empty list must lead with it (enforced, not just documented).
      bandVariables: Seq[String] = Nil) {
    require(bandVariables.isEmpty || bandVariables.head == variableName,
      s"bandVariables must lead with variableName '$variableName' " +
        "(the stats/nodata anchor band)")

    /** The variables a reader decodes, one band each. */
    def bandNames: Seq[String] =
      if (bandVariables.isEmpty) Seq(variableName) else bandVariables
  }

  final case class CogifyTask(collection: String, href: String,
      granule_id: Option[String], upload: Boolean)

  final case class CogifyResult(collection: String, href: String,
      granule_id: Option[String], filename: String,
      width: Int, height: Int, n_bands: Int, n_tiles: Int,
      payload_bytes: Long,
      affine: Seq[Double], epsg: Int, stats: Option[BandStats.Stats],
      error: Option[String])

  /** Pluggable decode stage: one grid per [[CollectionConfig.bandNames]]
    * entry plus the shared x/y coordinate vectors. [[cogifyOne]] rejects
    * a band count that does not match the config. */
  trait GridReader extends Serializable {
    def readBands(task: CogifyTask, config: CollectionConfig):
        (Seq[Grid], Option[Array[Double]], Option[Array[Double]])
  }

  /** STUB reader: one deterministic synthetic grid derived from the href
    * hash, whatever the config names. */
  final class FakeGridReader(width: Int = 360, height: Int = 180) extends GridReader {
    override def readBands(task: CogifyTask, config: CollectionConfig) = {
      val seed = graft.functions.SimHash.fnv1a64(task.href)
      val data = new Array[Float](width * height)
      var i = 0
      while (i < data.length) {
        // splitmix-ish deterministic values in [0, 100)
        var z = seed + i * 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        data(i) = ((z >>> 11).toDouble / (1L << 53).toDouble).toFloat * 100f
        i += 1
      }
      val xs = Array.tabulate(width)(c => -180.0 + 360.0 * (c + 0.5) / width)
      val ys = Array.tabulate(height)(r => -90.0 + 180.0 * (r + 0.5) / height)
      (Seq(Grid(width, height, data, Some(-9999f))), Some(xs), Some(ys))
    }
  }

  /** THE production reader: localize via a [[graft.sources.Fetch.Fetcher]]
    * (authenticated HTTP session per partition, or Hadoop FS — A7,
    * cogify/handler.py:49-71), sniff the container magic once, and
    * decode every configured band from that one fetch and one parse —
    * NetCDF-3 classic through [[Netcdf]] (variables + `_FillValue` +
    * x/y coordinate vars per the collection config, handler.py:84-101),
    * NetCDF-4/HDF5 (magic `\x89HDF`) through [[Hdf5]] with the
    * configured group path, and TIFF through [[Tiff.readBands]], whose
    * coordinate vectors are rebuilt as pixel centers from the file's
    * affine (what a NetCDF x/y variable would carry). Unrecognized
    * containers fail fast with a non-retryable error that routes the
    * task to the DLQ instead of burning retry attempts.
    */
  final class FetchGridReader(mkFetcher: () => graft.sources.Fetch.Fetcher)
      extends GridReader {
    @transient private lazy val fetcher = mkFetcher()

    private def localBytes(task: CogifyTask): Array[Byte] = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-fetch").toFile
      try {
        val local = fetcher.fetch(task.href, tmp)
        java.nio.file.Files.readAllBytes(local.toPath)
      } finally {
        tmp.listFiles().foreach(_.delete()); tmp.delete()
      }
    }

    override def readBands(task: CogifyTask, config: CollectionConfig) = {
      val bytes = localBytes(task)
      bytes.take(4).map(_ & 0xff) match {
        case Array(0x43, 0x44, 0x46, _) => // "CDF" — NetCDF-3 classic
          val nc = Netcdf.parse(bytes)
          (config.bandNames.map(Netcdf.readGrid(nc, _)),
            config.xVariable.map(Netcdf.readCoord(nc, _)),
            config.yVariable.map(Netcdf.readCoord(nc, _)))
        case Array(0x49, 0x49, _, _) | Array(0x4d, 0x4d, _, _) => // "II"/"MM"
          val (planes, affine) = Tiff.readBands(bytes)
          // planes are positional, so the names can't select: a
          // single-variable config takes plane 0, and a band list must
          // match the plane count — a mismatch is a config/file
          // conflict, not something to accept silently
          val bands =
            if (config.bandVariables.isEmpty) planes.take(1)
            else {
              require(planes.size == config.bandVariables.size,
                s"config lists ${config.bandVariables.size} band variables " +
                  s"but the TIFF carries ${planes.size} planes")
              planes
            }
          val xs = Array.tabulate(planes.head.width)(j => affine.c + affine.a * (j + 0.5))
          val ys = Array.tabulate(planes.head.height)(i => affine.f + affine.e * (i + 0.5))
          (bands, Some(xs), Some(ys))
        case Array(0x89, 0x48, 0x44, 0x46) => // "\x89HDF" — NetCDF-4/HDF5
          val h5 = Hdf5.parse(bytes)
          // NetCDF-4 variables are HDF5 datasets, grouped per the config
          // (handler.py:84 `group=...`); coordinate vars live alongside
          val at = (name: String) =>
            (config.group.toSeq :+ name).mkString("/")
          (config.bandNames.map(n => Hdf5.readGrid(h5, at(n))),
            config.xVariable.map(n => Hdf5.readCoord(h5, at(n))),
            config.yVariable.map(n => Hdf5.readCoord(h5, at(n))))
        case other =>
          throw new UnsupportedOperationException(
            s"unrecognized container magic ${other.map(b => f"$b%02x").mkString}")
      }
    }
  }

  /** One task through the kernel: decode → fixups → extent → affine →
    * write the COG. Multi-variable configs (`bandVariables`) produce one
    * multi-band COG; the per-collection fixups apply to every band (they
    * correct the grid orientation of the shared container). */
  def cogifyOne(task: CogifyTask, config: CollectionConfig, reader: GridReader,
      outDir: String, conf: Configuration): CogifyResult = {
    val (raw, xs, ys) = reader.readBands(task, config)
    // whatever the reader, a requested band must never drop silently:
    // a count mismatch fails the task (non-retryable → DLQ row)
    if (raw.size != config.bandNames.size)
      throw new UnsupportedOperationException(
        s"reader ${reader.getClass.getSimpleName} decoded ${raw.size} band(s); " +
          s"config names ${config.bandNames.size}: ${config.bandNames.mkString(", ")}")
    var bands = raw
    if (config.transposeFix) bands = bands.map(transpose) // handler.py:90-91
    if (config.flipudFix) bands = bands.map(flipud) // handler.py:92-93
    val grid = bands.head
    val extent = extentFromCoords(xs, ys) // handler.py:96-103
    val affine =
      if (config.useTopLeftRecipe) topLeftRecipe(extent, grid.width, grid.height)
      else defaultTransformTo3857(extent, grid.width, grid.height) // handler.py:113-131

    // rotated affines ride the GeoTIFF ModelTransformation tag (the
    // writer picks it over PixelScale+Tiepoint when b/d are nonzero),
    // so every payload — rotated or axis-aligned, single- or
    // multi-band — is a real COG
    val name = task.href.substring(task.href.lastIndexOf('/') + 1) + ".cog.tif"
    val outPath = s"${outDir.stripSuffix("/")}/${task.collection}/$name"
    // the top-left recipe keeps the source's geographic degrees; the
    // default recipe reprojects the extent to web-mercator meters
    val epsg = if (config.useTopLeftRecipe) 4326 else 3857
    // the writer tiles every band itself; dims are shared, so the
    // per-band tile count is arithmetic
    val tilesPerBand = ((grid.width + Tiff.TileSize - 1) / Tiff.TileSize) *
      ((grid.height + Tiff.TileSize - 1) / Tiff.TileSize)
    // the reference's GTiff/deflate profile + `cog_translate` overviews
    // (handler.py:25-29): IFD-first layout with a 2×-decimated overview
    // pyramid, multi-band as `PlanarConfiguration=2` planes decimated in
    // lockstep — see [[Tiff]]
    val payload = writeBytes(outPath, conf, Tiff.writeCog(bands, affine, Some(epsg)))
    CogifyResult(task.collection, task.href, task.granule_id, outPath,
      grid.width, grid.height, bands.size,
      bands.size * tilesPerBand, payload,
      Seq(affine.a, affine.b, affine.c, affine.d, affine.e, affine.f),
      epsg, Some(gridStats(grid)), None)
  }

  /** Per-band raster statistics of the decoded grid (reference A12:
    * `rio_stac … with_raster=True` computes them from the COG it just
    * wrote, stac.py:33-48; here the grid is already in memory). Two
    * passes: min/max fix the histogram range, then the mergeable
    * [[BandStats.Agg]] buffer path produces the same Stats shape the
    * relational m03 query uses. */
  def gridStats(g: Grid): BandStats.Stats = {
    var mn = Double.PositiveInfinity
    var mx = Double.NegativeInfinity
    var i = 0
    while (i < g.data.length) {
      val v = g.data(i)
      if (!g.nodata.exists(_ == v) && !v.isNaN) {
        if (v < mn) mn = v
        if (v > mx) mx = v
      }
      i += 1
    }
    val agg =
      if (mn <= mx) BandStats.Agg(mn, mx, nodata = g.nodata)
      else BandStats.Agg(0.0, 1.0, nodata = g.nodata) // all-nodata grid
    agg.finish(agg.reduce(agg.zero, g.data))
  }

  /** Write one COG through [[graft.sinks.OutputFs]] under the caller's
    * (the session's) Hadoop configuration. */
  private def writeBytes(path: String, conf: Configuration,
      bytes: Array[Byte]): Long = {
    val p = new Path(path)
    val out = OutputFs.get(p, conf).create(p, true)
    try out.write(bytes) finally out.close()
    bytes.length.toLong
  }

  /** The distributed stage: tasks → results, per-partition reader, with
    * targeted bounded retry (B5: 5 attempts on retryable failures —
    * step_function_stack.py:167-171). Errors after retries become
    * DLQ-routable result rows, not task failures. */
  def run(tasks: Dataset[CogifyTask], configs: Map[String, CollectionConfig],
      outDir: String, maxAttempts: Int = 5,
      mkReader: () => GridReader): Dataset[CogifyResult] = {
    val spark = tasks.sparkSession
    import spark.implicits._
    val bcConfigs = spark.sparkContext.broadcast(configs)
    val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    tasks.mapPartitions { it =>
      val reader = mkReader()
      it.map { task =>
        val config = bcConfigs.value.getOrElse(task.collection, CollectionConfig("data"))
        var attempt = 0
        var result: CogifyResult = null
        while (result == null) {
          attempt += 1
          try result = cogifyOne(task, config, reader, outDir, conf.value)
          catch {
            case e: java.io.IOException if attempt < maxAttempts => // retryable
            case e: Throwable =>
              result = CogifyResult(task.collection, task.href, task.granule_id,
                "", 0, 0, 0, 0, 0L, Seq.empty, 0, None, Some(e.toString))
          }
        }
        result
      }
    }
  }
}
