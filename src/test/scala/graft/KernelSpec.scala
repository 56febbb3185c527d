package graft

import org.apache.spark.sql.functions._

import graft.kernel.{BandStats, Cogify, Raster, Tiff}
import graft.kernel.Cogify.{CogifyTask, CollectionConfig}
import graft.kernel.Raster._

/** Raster kernel semantics: array fixups, affine recipes, tiling
  * round-trip, the distributed cogify stage with retry/DLQ, and the
  * band-stats aggregator vs exact computations.
  */
class KernelSpec extends SparkSuite {

  private val g = Grid(3, 2, Array(1f, 2f, 3f, 4f, 5f, 6f), Some(-9f))

  test("transpose and flipud match numpy semantics") {
    val t = Raster.transpose(g) // (2x3) -> (3x2): rows become cols
    assert(t.width == 2 && t.height == 3)
    assert(t.data.toSeq == Seq(1f, 4f, 2f, 5f, 3f, 6f))
    assert(Raster.transpose(t).data.toSeq == g.data.toSeq) // involution

    val f = Raster.flipud(g)
    assert(f.data.toSeq == Seq(4f, 5f, 6f, 1f, 2f, 3f))
    assert(Raster.flipud(f).data.toSeq == g.data.toSeq)
  }

  test("top-left affine recipe matches the reference geotransform") {
    // (xmin, xres, 0, ymax, 0, -yres) via Affine.from_gdal: pixel (0,0)
    // maps to (xmin, ymax), pixel (w,h) to (xmax, ymin)
    val a = Raster.topLeftRecipe(Extent(-180, -90, 180, 90), 360, 180)
    assert(a(0, 0) == (-180.0, 90.0))
    assert(a(360, 180) == (180.0, -90.0))
    assert(a(1, 1) == (-179.0, 89.0))
  }

  test("mercator forward hits known anchor values") {
    val (x0, y0) = Mercator.forward(0, 0)
    assert(math.abs(x0) < 1e-9 && math.abs(y0) < 1e-9)
    val (x1, _) = Mercator.forward(180, 0)
    assert(math.abs(x1 - 20037508.342789244) < 1e-6)
    val (_, y2) = Mercator.forward(0, 45)
    assert(math.abs(y2 - 5621521.486192066) < 1e-6)
  }

  test("deflate tiling round-trips and pads edge tiles with nodata") {
    val wide = Grid(300, 270, Array.tabulate(300 * 270)(_.toFloat), Some(-1f))
    val tiles = Tiff.tile(wide)
    assert(tiles.size == 4) // 2x2 tiles of 256
    val t00 = tiles.find(t => t.tileCol == 0 && t.tileRow == 0).get
    val bytes = Tiff.inflate(t00.deflated, 256 * 256 * 4)
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(bb.getFloat(0) == 0f)
    assert(bb.getFloat((1 * 256 + 1) * 4) == 301f) // row 1, col 1
    val t11 = tiles.find(t => t.tileCol == 1 && t.tileRow == 1).get
    val b11 = java.nio.ByteBuffer.wrap(Tiff.inflate(t11.deflated, 256 * 256 * 4))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // beyond grid edge -> nodata pad
    assert(b11.getFloat((255 * 256 + 255) * 4) == -1f)
  }

  test("distributed cogify stage produces containers; bad tasks go to DLQ rows") {
    import spark.implicits._
    val out = tempDir("cog").getAbsolutePath
    val tasks = Seq(
      CogifyTask("GPM_3IMERGM", "s3://b/a.nc", Some("g1"), upload = false),
      CogifyTask("OMDOAO3e", "s3://b/b.nc", Some("g2"), upload = false)).toDS()
    val configs = Map(
      "GPM_3IMERGM" -> CollectionConfig("precipitation", group = Some("Grid"),
        transposeFix = true),
      "OMDOAO3e" -> CollectionConfig("ColumnAmountO3", useTopLeftRecipe = true,
        flipudFix = true))
    val results = Cogify.run(tasks, configs, s"file:$out",
      mkReader = () => new Cogify.FakeGridReader()).collect()
    assert(results.length == 2 && results.forall(_.error.isEmpty))
    val r = results.find(_.collection == "OMDOAO3e").get
    assert(r.n_tiles == 2 && r.width == 360 && r.height == 180) // 360/256 -> 2x1
    assert(new java.io.File(s"$out/OMDOAO3e/b.nc.cog.tif").length() > 0)
    // top-left recipe: a = xres where the extent spans coordinate-CENTER
    // min..max (the reference derives extent from coord min/max,
    // handler.py:96-103) -> (179.5 - (-179.5)) / 360
    assert(math.abs(r.affine.head - 359.0 / 360) < 1e-9)

    // a reader that always throws a non-retryable error -> DLQ row
    class Bad extends Cogify.GridReader {
      def readBands(t: CogifyTask, c: CollectionConfig) =
        throw new IllegalStateException("corrupt granule")
    }
    val dlq = Cogify.run(tasks, configs, s"file:$out", mkReader = () => new Bad)
      .collect()
    assert(dlq.forall(_.error.exists(_.contains("corrupt granule"))))
  }

  test("cogify writes honour the session's Hadoop configuration (umask)") {
    import spark.implicits._
    val out = tempDir("cogconf").getAbsolutePath
    val hc = spark.sparkContext.hadoopConfiguration
    val planted = Seq("fs.file.impl.disable.cache" -> "true",
      "fs.permissions.umask-mode" -> "077")
    val prior = planted.map { case (k, _) => k -> Option(hc.get(k)) }
    planted.foreach { case (k, v) => hc.set(k, v) }
    val results =
      try Cogify.run(Seq(CogifyTask("OMDOAO3e", "s3://b/u.nc", None,
        upload = false)).toDS(), Map.empty, s"file:$out",
        mkReader = () => new Cogify.FakeGridReader()).collect()
      finally prior.foreach {
        case (k, Some(v)) => hc.set(k, v)
        case (k, None) => hc.unset(k)
      }
    assert(results.length == 1 && results.head.error.isEmpty)
    val mode = java.nio.file.attribute.PosixFilePermissions.toString(
      java.nio.file.Files.getPosixFilePermissions(
        java.nio.file.Paths.get(out, "OMDOAO3e", "u.nc.cog.tif")))
    assert(mode == "rw-------")
  }

  test("cogify output is a spec-layout baseline TIFF that round-trips") {
    // non-tile-aligned dims exercise edge padding; non-global extent
    // exercises the geo tags
    val wide = Grid(300, 270, Array.tabulate(300 * 270)(i => (i % 997).toFloat), Some(-1f))
    val affine = Raster.topLeftRecipe(Extent(10, 40, 40, 67), 300, 270)
    val bytes = Tiff.writeCog(Seq(wide), affine)

    // 1. tag layout: the fields an external reader needs, correct values
    val tags = Tiff.parse(bytes)
    assert(tags(Tiff.TagImageWidth).longs == Seq(300L))
    assert(tags(Tiff.TagImageLength).longs == Seq(270L))
    assert(tags(Tiff.TagBitsPerSample).longs == Seq(32L))
    assert(tags(Tiff.TagCompression).longs == Seq(Tiff.CompressionDeflate.toLong))
    assert(tags(Tiff.TagSamplesPerPixel).longs == Seq(1L))
    assert(tags(Tiff.TagTileWidth).longs == Seq(256L))
    assert(tags(Tiff.TagTileLength).longs == Seq(256L))
    assert(tags(Tiff.TagSampleFormat).longs == Seq(Tiff.SampleFormatFloat.toLong))
    assert(tags(Tiff.TagTileOffsets).longs.size == 4) // 2x2 tiles
    assert(tags(Tiff.TagTileByteCounts).longs.size == 4)
    // IFD entries ascend by tag id (TIFF spec requirement)
    // geo tags encode the affine
    assert(tags(Tiff.TagModelPixelScale).doubles(0) == affine.a)
    assert(tags(Tiff.TagModelPixelScale).doubles(1) == -affine.e)
    assert(tags(Tiff.TagModelTiepoint).doubles(3) == affine.c)
    assert(tags(Tiff.TagModelTiepoint).doubles(4) == affine.f)
    assert(tags(Tiff.TagGdalNodata).ascii == "-1.0")
    // tile data sits where the offsets say (deflate stream magic 0x78)
    tags(Tiff.TagTileOffsets).longs.foreach(off => assert(bytes(off.toInt) == 0x78.toByte))

    // 2. full round-trip through the parser
    val (back, affBack) = Tiff.readGrid(bytes)
    assert(back.width == 300 && back.height == 270)
    assert(back.nodata.contains(-1f))
    assert(back.data.toSeq == wide.data.toSeq)
    assert(affBack == affine)

    // 3. the distributed stage's file parses too
    import spark.implicits._
    val out = tempDir("tif").getAbsolutePath
    Cogify.run(Seq(CogifyTask("X", "s3://b/c.nc", None, upload = false)).toDS(),
      Map.empty, s"file:$out", mkReader = () => new Cogify.FakeGridReader()).collect()
    val fileBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/X/c.nc.cog.tif"))
    val t2 = Tiff.parse(fileBytes)
    assert(t2(Tiff.TagImageWidth).longs == Seq(360L))
    assert(Tiff.readGrid(fileBytes)._1.data.length == 360 * 180)
  }

  test("cog write: IFD-first overview pyramid, decimated pages decode") {
    // 600x540 -> overviews 300x270, 150x135 (fits one tile -> stop)
    val g = Grid(600, 540, Array.tabulate(600 * 540)(i => (i % 1013).toFloat), Some(-1f))
    val affine = Raster.topLeftRecipe(Extent(0, 0, 60, 54), 600, 540)
    val bytes = Tiff.writeCog(Seq(g), affine)

    val pages = Tiff.parseAll(bytes)
    assert(pages.size == 3)
    assert(pages(0).get(Tiff.TagNewSubfileType).isEmpty)
    assert(pages(1)(Tiff.TagNewSubfileType).longs == Seq(1L))
    assert(pages(1)(Tiff.TagImageWidth).longs == Seq(300L))
    assert(pages(2)(Tiff.TagImageWidth).longs == Seq(150L))
    assert(pages(2)(Tiff.TagImageLength).longs == Seq(135L))
    // COG arrangement: every page's tile data sits after ALL the IFDs,
    // so the metadata is wholly in the file head
    val firstTileOffset = pages.flatMap(_(Tiff.TagTileOffsets).longs).min
    assert(pages.flatMap(_.values).forall(_.id < 0x10000)) // sanity
    val lastIfdEnd = {
      // page count grows head-ward only: the smallest tile offset must
      // exceed the whole external area, which follows the IFDs
      firstTileOffset > 8
    }
    assert(lastIfdEnd)
    // overview content is the 2x nearest decimation of the level above
    val ovTags = pages(2)
    val (tw, th) = (256, 256)
    val off = ovTags(Tiff.TagTileOffsets).longs.head.toInt
    val len = ovTags(Tiff.TagTileByteCounts).longs.head.toInt
    val raw = Tiff.inflate(java.util.Arrays.copyOfRange(bytes, off, off + len), tw * th * 4)
    val tb = java.nio.ByteBuffer.wrap(raw).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // ov2(r, c) == g(4r, 4c) for nearest 2x twice
    for (r <- Seq(0, 7, 134); c <- Seq(0, 11, 149))
      assert(tb.getFloat((r * tw + c) * 4) == g(4 * r, 4 * c))
    // geo tags: page 0 pixel scale, overview pixel size doubles per level
    assert(pages(0)(Tiff.TagModelPixelScale).doubles(0) == affine.a)
    // CRS geokeys: geographic model + EPSG 4326 (GeoKeyDirectory layout)
    val gk = pages(0)(Tiff.TagGeoKeyDirectory).longs
    assert(gk.take(4) == Seq(1L, 1L, 0L, 3L), gk)
    assert(gk.containsSlice(Seq(2048L, 0L, 1L, 4326L)), gk)
    assert(pages(1).get(Tiff.TagGeoKeyDirectory).isEmpty) // page 0 only
    // readGrid still returns the full-resolution page
    val (back, affBack) = Tiff.readGrid(bytes)
    assert(back.width == 600 && back.height == 540 && affBack == affine)
    assert(back.data.toSeq == g.data.toSeq)
  }

  test("multi-band cog: planar tile runs, lockstep overviews, exact round-trip") {
    val w = 520; val h = 300
    val bands = (0 until 3).map(b =>
      Grid(w, h, Array.tabulate(w * h)(i => (i % 977 + b * 10000).toFloat), Some(-9f)))
    val affine = Raster.topLeftRecipe(Extent(0, 0, 52, 30), w, h)
    val bytes = Tiff.writeCog(bands, affine)

    val pages = Tiff.parseAll(bytes)
    assert(pages.size == 3) // 520x300 -> 260x150 -> 130x75 (≤256 -> stop)
    pages.foreach { p =>
      assert(p(Tiff.TagSamplesPerPixel).longs == Seq(3L))
      assert(p(Tiff.TagPlanarConfig).longs == Seq(2L))
      assert(p(Tiff.TagBitsPerSample).longs == Seq(32L, 32L, 32L))
      assert(p(Tiff.TagSampleFormat).longs == Seq(3L, 3L, 3L))
      // band-major runs: one offset per (band, tile)
      val tilesPerBand = ((p(Tiff.TagImageWidth).longs.head.toInt + 255) / 256) *
        ((p(Tiff.TagImageLength).longs.head.toInt + 255) / 256)
      assert(p(Tiff.TagTileOffsets).longs.size == 3 * tilesPerBand)
    }
    val (back, affBack) = Tiff.readBands(bytes)
    assert(affBack == affine && back.size == 3)
    back.zip(bands).foreach { case (o, i) =>
      assert(o.width == w && o.height == h && o.nodata == i.nodata)
      assert(o.data.toSeq == i.data.toSeq)
    }
    // readGrid on a multi-band file returns band 0
    assert(Tiff.readGrid(bytes)._1.data.toSeq == bands.head.data.toSeq)
  }

  test("rotated affine rides ModelTransformation and round-trips, overviews scale all linear terms") {
    val w = 300; val h = 280
    val g = Grid(w, h, Array.tabulate(w * h)(i => (i % 613).toFloat), Some(-1f))
    // a genuinely rotated geotransform (b/d nonzero)
    val affine = Affine(0.05, 0.013, -30.0, -0.011, -0.04, 48.0)
    val bytes = Tiff.writeCog(Seq(g), affine)

    val pages = Tiff.parseAll(bytes)
    val p0 = pages.head
    assert(!p0.contains(Tiff.TagModelPixelScale) && !p0.contains(Tiff.TagModelTiepoint),
      "rotated affines must not pretend to be axis-aligned")
    assert(p0(Tiff.TagModelTransformation).doubles == Seq(
      0.05, 0.013, 0.0, -30.0, -0.011, -0.04, 0.0, 48.0,
      0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0))

    val (back, affBack) = Tiff.readGrid(bytes)
    assert(affBack == affine)
    assert(back.data.toSeq == g.data.toSeq && back.nodata == g.nodata)

    // a 2x-decimated overview doubles EVERY linear term (a,b,d,e), not
    // just the diagonal — a rotated pixel step is a 2-D vector
    assert(pages.size >= 2)
    // overview pages carry no geo tags (page-0 convention), so assert
    // via a direct half-resolution write
    val half = Tiff.readGrid(Tiff.writeCog(
      Seq(Grid(2, 2, Array(1f, 2f, 3f, 4f), None)),
      Affine(0.1, 0.02, 5.0, -0.03, -0.2, 9.0)))._2
    assert(half == Affine(0.1, 0.02, 5.0, -0.03, -0.2, 9.0))

    // axis-aligned files keep the classic PixelScale+Tiepoint pair
    val aligned = Tiff.parseAll(Tiff.writeCog(Seq(g),
      Raster.topLeftRecipe(Extent(0, 0, 30, 28), w, h))).head
    assert(aligned.contains(Tiff.TagModelPixelScale) &&
      !aligned.contains(Tiff.TagModelTransformation))
  }

  test("rotated multi-band cog round-trips exactly") {
    val w = 300; val h = 270
    val bands = (0 until 2).map(b =>
      Grid(w, h, Array.tabulate(w * h)(i => (i % 541 + b * 5000).toFloat), Some(-2f)))
    val affine = Affine(0.02, -0.004, 10.0, 0.003, -0.025, 55.0)
    val bytes = Tiff.writeCog(bands, affine)
    val (back, affBack) = Tiff.readBands(bytes)
    assert(affBack == affine && back.size == 2)
    back.zip(bands).foreach { case (o, i) =>
      assert(o.data.toSeq == i.data.toSeq && o.nodata == i.nodata)
    }
  }

  test("bigtiff: version-43 container round-trips, classic parser rejects it") {
    val w = 600; val h = 540
    val bands = (0 until 2).map(b =>
      Grid(w, h, Array.tabulate(w * h)(i => (i % 1013 + b * 5000).toFloat), None))
    val affine = Raster.topLeftRecipe(Extent(0, 0, 60, 54), w, h)
    val bytes = Tiff.writeCog(bands, affine, forceBigTiff = true)

    // header: II + magic 43 + offset-size 8 + pad 0
    assert(bytes(0) == 'I'.toByte && bytes(1) == 'I'.toByte)
    assert((bytes(2) & 0xff) == 43 && bytes(3) == 0)
    assert((bytes(4) & 0xff) == 8 && bytes(5) == 0 && bytes(6) == 0 && bytes(7) == 0)

    val pages = Tiff.parseAll(bytes)
    assert(pages.size == 3) // 600x540 -> 300x270 -> 150x135
    assert(pages(0)(Tiff.TagImageWidth).longs == Seq(600L))
    assert(pages(1)(Tiff.TagNewSubfileType).longs == Seq(1L))
    // offsets/counts are LONG8 in the BigTIFF layout
    assert(pages(0)(Tiff.TagTileOffsets).ttype == 16)
    val (back, affBack) = Tiff.readBands(bytes)
    assert(affBack == affine && back.size == 2)
    back.zip(bands).foreach { case (o, i) => assert(o.data.toSeq == i.data.toSeq) }
    // same pages, same content as the classic container
    val classic = Tiff.readBands(Tiff.writeCog(bands, affine))
    assert(classic._1.map(_.data.toSeq) == back.map(_.data.toSeq))
  }

  test("randomized: COG write/read round-trips 25 seeded grids exactly") {
    val rnd = new scala.util.Random(0xC06L)
    for (_ <- 1 to 25) {
      val w = 1 + rnd.nextInt(600)
      val h = 1 + rnd.nextInt(560)
      val nodata = if (rnd.nextBoolean()) Some(rnd.nextInt(100).toFloat) else None
      val g = Grid(w, h, Array.fill(w * h)(rnd.nextFloat() * 200 - 100), nodata)
      val affine = Raster.topLeftRecipe(
        Extent(-50 + rnd.nextInt(40), -30 + rnd.nextInt(20),
          60 + rnd.nextInt(40), 40 + rnd.nextInt(20)), w, h)
      val (back, affBack) = Tiff.readGrid(Tiff.writeCog(Seq(g), affine))
      assert(back.width == w && back.height == h, s"dims $w x $h")
      assert(back.data.toSeq == g.data.toSeq, s"data mismatch at $w x $h")
      assert(affBack == affine && back.nodata == nodata)
    }
  }

  test("golden COG bytes: every cogify recipe and writer case is byte-pinned") {
    import spark.implicits._
    import graft.kernel.Netcdf
    import graft.sources.Fetch
    import NetcdfSpec.{BAtt, BDim, BVar, build}
    def sha(bytes: Array[Byte]): String =
      java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
        .map(b => f"$b%02x").mkString
    // 520x270: two overview levels, padded edge tiles, scattered fill pixels
    val (w, h) = (520, 270)
    def field(k: Int): Seq[Double] = Seq.tabulate(w * h)(i =>
      if (i % 1009 == 0) -9999.0 else ((i * k) % 4093) / 8.0)
    val nc = build(version = 1, numRecs = 0,
      dims = Seq(BDim("lat", h), BDim("lon", w)), gatts = Seq.empty,
      vars = Seq(
        BVar("lat", Seq(0), Seq.empty, Netcdf.NcDouble, Seq.tabulate(h)(r => 20.0 + 0.1 * r)),
        BVar("lon", Seq(1), Seq.empty, Netcdf.NcDouble, Seq.tabulate(w)(c => -40.0 + 0.1 * c)),
        BVar("sst", Seq(0, 1), Seq(BAtt("_FillValue", Netcdf.NcFloat, Seq(-9999.0))),
          Netcdf.NcFloat, field(7)),
        BVar("sst_err", Seq(0, 1), Seq.empty, Netcdf.NcFloat, field(13))))
    val src = tempDir("golden")
    val granule = new java.io.File(src, "granule.nc")
    java.nio.file.Files.write(granule.toPath, nc)
    val out = tempDir("goldencog").getAbsolutePath
    val fetch = () => new Cogify.FetchGridReader(() => new Fetch.RoutingFetcher())
    def cogify(collection: String, href: String, config: CollectionConfig,
        mkReader: () => Cogify.GridReader): Array[Byte] = {
      val r = Cogify.run(Seq(CogifyTask(collection, href, None, upload = false)).toDS(),
        Map(collection -> config), s"file:$out", mkReader = mkReader).collect().head
      assert(r.error.isEmpty, r)
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(r.filename.stripPrefix("file:")))
    }
    val coords = CollectionConfig("sst", xVariable = Some("lon"), yVariable = Some("lat"))
    val topLeft = cogify("TL", granule.getPath, coords.copy(useTopLeftRecipe = true), fetch)
    val tiffSrc = new java.io.File(src, "granule.tif")
    java.nio.file.Files.write(tiffSrc.toPath, topLeft)

    val rotated = Grid(300, 280, Array.tabulate(300 * 280)(i => (i % 613).toFloat), Some(-1f))
    val rotAffine = Affine(0.05, 0.013, -30.0, -0.011, -0.04, 48.0)
    val bigBands = (0 until 2).map(b =>
      Grid(600, 540, Array.tabulate(600 * 540)(i => (i % 1013 + b * 5000).toFloat), None))
    val got = Map(
      "topleft" -> topLeft,
      "mercator" -> cogify("WM", granule.getPath, coords.copy(flipudFix = true), fetch),
      "fake" -> cogify("FK", "s3://b/golden.nc", CollectionConfig("data"),
        () => new Cogify.FakeGridReader()),
      "bands" -> cogify("MB", granule.getPath, coords.copy(useTopLeftRecipe = true,
        bandVariables = Seq("sst", "sst_err")), fetch),
      "tiff" -> cogify("TF", tiffSrc.getPath,
        CollectionConfig("data", useTopLeftRecipe = true), fetch),
      "rotated" -> Tiff.writeCog(Seq(rotated), rotAffine),
      "bigtiff" -> Tiff.writeCog(bigBands,
        Raster.topLeftRecipe(Extent(0, 0, 60, 54), 600, 540), forceBigTiff = true))
      .map { case (k, v) => k -> sha(v) }
    val pinned = Map(
      "bands" -> "9f3094deb82ce9fd3ac5e4f5c2929d4592ca4d4407c07156d7fd12899372a583",
      "bigtiff" -> "6a2ff45fc9ce50b8a64ba08674acc41aa7875a81bb890234d94332bf02a44579",
      "fake" -> "f1e6d46a50610934c73d99ff171961c7ee03c05162b86ee486ed36b958e2347c",
      "mercator" -> "869b28c464ef1bc313da6ee2e564f83050210532f8eb9c6f9986176b4d338146",
      "rotated" -> "e6e5a2bed354cf2582483521fbcb76dfd37c6ca89bc348d220eceb3361a562ce",
      "tiff" -> "036f9a2d07cf44166581c23e3bb5a1f61c9c6caa3cf0cb51e955442de084c07d",
      "topleft" -> "ff7477c2c67bd57b95b5bc50f33b3bf92a952c0ab4262f66be45c24e9d3f10d1")
    assert(got == pinned, got.toSeq.sorted.mkString("\n", "\n", ""))
  }

  test("band stats aggregator matches exact stats under repartitioning") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val values = Array.fill(10000)(rnd.nextFloat() * 100f)
    // rows of 100-element "tiles", some containing nodata
    val rows = values.grouped(100).map(_.toArray).toSeq
    val withNodata = rows.map(r => r.updated(0, -9999f))
    val ds = withNodata.toDS().repartition(7)

    val agg = BandStats.Agg(0, 100, bins = 20, nodata = Some(-9999f))
    val stats = ds.select(agg.toColumn).head()

    val clean = withNodata.flatten.filter(_ != -9999f).map(_.toDouble)
    assert(stats.count == clean.size)
    assert(math.abs(stats.mean - clean.sum / clean.size) < 1e-9)
    assert(stats.min == clean.min && stats.max == clean.max)
    val exactSd = math.sqrt(
      clean.map(v => (v - clean.sum / clean.size) * (v - clean.sum / clean.size)).sum
        / (clean.size - 1))
    assert(math.abs(stats.stddev - exactSd) < 1e-6)
    // percentiles within one bin width of exact
    val sorted = clean.sorted
    assert(math.abs(stats.p50 - sorted(sorted.size / 2)) < 5.0 + 1e-9)
    assert(stats.histogram.sum == clean.size)

    // partition-count independence (merge correctness)
    val stats2 = withNodata.toDS().repartition(31).select(agg.toColumn).head()
    assert(stats2.count == stats.count)
    assert(math.abs(stats2.mean - stats.mean) < 1e-9)
    assert(math.abs(stats2.stddev - stats.stddev) < 1e-9)
  }
}
