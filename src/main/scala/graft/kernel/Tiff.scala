package graft.kernel

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.{Deflater, Inflater}

import Raster.{Affine, Grid}

/** Minimal TIFF/COG (GeoTIFF-flavored) writer + parser for the cogify
  * output (reference COG profile, cogify/handler.py:25-29 +
  * `cog_translate`: GTiff, 256×256 tiles, deflate, overview pyramid).
  * [[writeCog]] is the one writer: little-endian TIFF laid out
  * cloud-optimized, ALL IFDs (the full-resolution page plus 2×-decimated
  * reduced-resolution overviews, `NewSubfileType=1`) first, then the
  * external value areas, then tile data — so a range-read of the file
  * head yields every page's metadata.
  * Tiled float32, Adobe-deflate compressed, GeoTIFF
  * ModelPixelScale/ModelTiepoint carrying axis-aligned affines (the
  * full 4x4 ModelTransformation for rotated ones), GDAL_NODATA ASCII
  * tag — the tag set external readers (GDAL/rasterio/tifffile) need to
  * open the file. The parser is the same contract read back: it drives
  * both the KernelSpec round-trip gate and [[Cogify.FetchGridReader]].
  *
  * Beyond the single-band classic profile (the reference's common case,
  * cogify/handler.py:152): multi-band pages write as separate planes
  * (`PlanarConfiguration=2`, band-major tile order — the layout that
  * keeps each band range-readable on its own). The writer builds the
  * file in one byte array, so a COG stays under 2 GiB and classic
  * 4-byte offsets always suffice; the BigTIFF variant (version 43,
  * 8-byte offsets/counts) is written only on request, so the reader
  * that third-party BigTIFF inputs need stays round-trip tested.
  */
object Tiff {

  // TIFF type codes
  private val SHORT = 3
  private val LONG = 4
  private val ASCII = 2
  private val DOUBLE = 12
  private val LONG8 = 16 // BigTIFF 8-byte unsigned

  val TagPlanarConfig = 284 // 2 = separate planes (band-major tiles)
  val TagNewSubfileType = 254 // 1 = reduced-resolution overview page
  val TagImageWidth = 256
  val TagImageLength = 257
  val TagBitsPerSample = 258
  val TagCompression = 259
  val TagPhotometric = 262
  val TagSamplesPerPixel = 277
  val TagTileWidth = 322
  val TagTileLength = 323
  val TagTileOffsets = 324
  val TagTileByteCounts = 325
  val TagSampleFormat = 339
  val TagModelPixelScale = 33550
  val TagModelTiepoint = 33922
  val TagModelTransformation = 34264 // 4x4 matrix: rotated affines
  val TagGeoKeyDirectory = 34735
  val TagGdalNodata = 42113

  val CompressionDeflate = 8 // Adobe deflate
  val SampleFormatFloat = 3

  private final case class Entry(tag: Int, ttype: Int, count: Int,
      inline: Option[Long] = None, external: Option[Array[Byte]] = None)

  private def typeSize(t: Int): Int = t match {
    case SHORT => 2
    case LONG => 4
    case ASCII => 1
    case DOUBLE => 8
    case LONG8 => 8
    case _ => throw new IllegalArgumentException(s"type $t")
  }

  private def le(n: Int): ByteBuffer =
    ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)

  /** The largest byte array the JVM allocates: the file-size ceiling. */
  private val MaxFileBytes = Int.MaxValue - 8

  val TileSize = 256 // handler.py:28-29

  final case class Tile(tileCol: Int, tileRow: Int, deflated: Array[Byte])

  /** 256×256 deflate tiling of a grid (edge tiles padded with nodata —
    * the TIFF tile convention). */
  def tile(g: Grid): Seq[Tile] = {
    val pad = g.nodata.getOrElse(0f)
    val tilesX = (g.width + TileSize - 1) / TileSize
    val tilesY = (g.height + TileSize - 1) / TileSize
    for {
      ty <- 0 until tilesY
      tx <- 0 until tilesX
    } yield {
      val buf = le(TileSize * TileSize * 4)
      var r = 0
      while (r < TileSize) {
        var c = 0
        while (c < TileSize) {
          val gr = ty * TileSize + r
          val gc = tx * TileSize + c
          buf.putFloat(if (gr < g.height && gc < g.width) g(gr, gc) else pad)
          c += 1
        }
        r += 1
      }
      Tile(tx, ty, deflate(buf.array()))
    }
  }

  private def deflate(bytes: Array[Byte]): Array[Byte] = {
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION)
    d.setInput(bytes); d.finish()
    val out = new ByteArrayOutputStream()
    val chunk = new Array[Byte](8192)
    while (!d.finished()) out.write(chunk, 0, d.deflate(chunk))
    d.end()
    out.toByteArray
  }

  def inflate(bytes: Array[Byte], expectedLen: Int): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(bytes)
    val out = new Array[Byte](expectedLen)
    var off = 0
    while (!inf.finished() && off < expectedLen)
      off += inf.inflate(out, off, expectedLen - off)
    inf.end()
    out
  }

  /** 2x nearest-neighbor decimation (the reference `cog_translate`
    * default resampling). */
  private def decimate(cur: Grid): Grid = {
    val w = math.max(1, (cur.width + 1) / 2)
    val h = math.max(1, (cur.height + 1) / 2)
    val data = new Array[Float](w * h)
    var r = 0
    while (r < h) {
      var c = 0
      while (c < w) {
        data(r * w + c) = cur(math.min(2 * r, cur.height - 1),
          math.min(2 * c, cur.width - 1))
        c += 1
      }
      r += 1
    }
    Grid(w, h, data, cur.nodata)
  }

  /** GeoKeyDirectory content for an EPSG code (GeoTIFF spec §2.4): the
    * 4-short header then (KeyID, TIFFTagLocation=0 → inline, Count=1,
    * Value) rows — geographic model for 4326, projected otherwise. */
  private[kernel] def geoKeys(epsg: Int): Seq[Long] = {
    val keys =
      if (epsg == 4326)
        Seq((1024, 2), (1025, 1), (2048, epsg)) // geographic, PixelIsArea
      else
        Seq((1024, 1), (1025, 1), (3072, epsg)) // projected, PixelIsArea
    (Seq(1L, 1L, 0L, keys.size.toLong)
      ++ keys.flatMap { case (id, v) => Seq(id.toLong, 0L, 1L, v.toLong) })
  }

  /** The COG write: the full-resolution page plus its overview pyramid
    * (2× decimation down to the level that fits one tile, each level's
    * pixel size doubled), every IFD up front. Each band is a separate
    * plane with its own band-major tile run (`PlanarConfiguration=2`
    * when there are several), decimated in lockstep. `epsg` lands in the
    * GeoKeyDirectory so external readers see the CRS, not just the
    * affine. `forceBigTiff` writes the version-43 container. */
  def writeCog(bands: Seq[Grid], affine: Affine,
      epsg: Option[Int] = Some(4326),
      forceBigTiff: Boolean = false): Array[Byte] = {
    require(bands.nonEmpty, "at least one band")
    require(bands.forall(b => b.width == bands.head.width &&
      b.height == bands.head.height), "bands must share dimensions")
    val pages = scala.collection.mutable.ArrayBuffer(
      (bands.map(b => (b, tile(b))), affine))
    var cur = bands
    var aff = affine
    while (math.max(cur.head.width, cur.head.height) > TileSize) {
      cur = cur.map(decimate)
      aff = Affine(aff.a * 2, aff.b * 2, aff.c, aff.d * 2, aff.e * 2, aff.f)
      pages += ((cur.map(b => (b, tile(b))), aff))
    }
    writePages(pages.toSeq, epsg, forceBigTiff)
  }

  /** Multi-page writer. Layout: header | IFD0..IFDn | external value
    * areas | tile data - the COG arrangement (metadata wholly in the file
    * head). Page 0 carries the geo/nodata tags; later pages are marked
    * `NewSubfileType=1` (reduced-resolution). Each page is (bands,
    * affine); multi-band pages write band-major tile runs with
    * `PlanarConfiguration=2`. `bigTiff` selects the version-43 container
    * (8-byte counts and offsets throughout). */
  private def writePages(pages: Seq[(Seq[(Grid, Seq[Tile])], Affine)],
      epsg: Option[Int], bigTiff: Boolean): Array[Byte] = {

    val offType = if (bigTiff) LONG8 else LONG
    def offsBytes(vs: Seq[Long]): Array[Byte] =
      if (bigTiff) { val b = le(8 * vs.size); vs.foreach(b.putLong); b.array() }
      else { val b = le(4 * vs.size); vs.foreach(v => b.putInt(v.toInt)); b.array() }
    def shortsBytes(vs: Seq[Long]): Array[Byte] = {
      val b = le(2 * vs.size); vs.foreach(v => b.putShort(v.toShort)); b.array()
    }
    def doublesBytes(vs: Seq[Double]): Array[Byte] = {
      val b = le(8 * vs.size); vs.foreach(b.putDouble); b.array()
    }

    // entries per page, ascending by tag id (TIFF spec requirement);
    // TileOffsets patched once the data region is placed
    val pageEntries: Seq[Vector[Entry]] = pages.zipWithIndex.map {
      case ((bands, affine), page) =>
        val g = bands.head._1
        val nb = bands.size
        // band-major: all of band 0's tiles, then band 1's … (planar)
        val tileSizes = bands.flatMap(_._2).map(_.deflated.length.toLong)
        val n = tileSizes.size
        // NUL-terminated, the TIFF ASCII-field convention
        val nodataAscii =
          (g.nodata.map(_.toString).getOrElse("nan") + "\u0000").getBytes("US-ASCII")
        val sub: Vector[Entry] =
          if (page == 0) Vector.empty
          else Vector(Entry(TagNewSubfileType, LONG, 1, inline = Some(1L)))
        // axis-aligned affines use the classic PixelScale+Tiepoint pair;
        // rotated ones need the full ModelTransformation 4x4 (GeoTIFF
        // spec B.6 "Coordinate Transformations" — row-major
        // [a b 0 c / d e 0 f / 0 0 0 0 / 0 0 0 1])
        val geoAffine: Vector[Entry] =
          if (affine.b == 0 && affine.d == 0) Vector(
            Entry(TagModelPixelScale, DOUBLE, 3,
              external = Some(doublesBytes(Seq(affine.a, -affine.e, 0.0)))),
            Entry(TagModelTiepoint, DOUBLE, 6,
              external = Some(doublesBytes(Seq(0, 0, 0, affine.c, affine.f, 0)))))
          else Vector(
            Entry(TagModelTransformation, DOUBLE, 16,
              external = Some(doublesBytes(Seq(
                affine.a, affine.b, 0, affine.c,
                affine.d, affine.e, 0, affine.f,
                0, 0, 0, 0,
                0, 0, 0, 1)))))
        val geo: Vector[Entry] =
          if (page != 0) Vector.empty
          else geoAffine ++
            epsg.map { code =>
              val ks = geoKeys(code)
              Entry(TagGeoKeyDirectory, SHORT, ks.size,
                external = Some(shortsBytes(ks)))
            }.toVector ++ Vector(
            Entry(TagGdalNodata, ASCII, nodataAscii.length, external = Some(nodataAscii)))
        val planar: Vector[Entry] =
          if (nb == 1) Vector.empty
          else Vector(Entry(TagPlanarConfig, SHORT, 1, inline = Some(2L)))
        sub ++ Vector(
          Entry(TagImageWidth, LONG, 1, inline = Some(g.width.toLong)),
          Entry(TagImageLength, LONG, 1, inline = Some(g.height.toLong)),
          Entry(TagBitsPerSample, SHORT, nb,
            external = Some(shortsBytes(Seq.fill(nb)(32L)))),
          Entry(TagCompression, SHORT, 1, inline = Some(CompressionDeflate.toLong)),
          Entry(TagPhotometric, SHORT, 1, inline = Some(1L)), // BlackIsZero
          Entry(TagSamplesPerPixel, SHORT, 1, inline = Some(nb.toLong))) ++
          planar ++ Vector(
          Entry(TagTileWidth, LONG, 1, inline = Some(TileSize.toLong)),
          Entry(TagTileLength, LONG, 1, inline = Some(TileSize.toLong)),
          Entry(TagTileOffsets, offType, n,
            external = Some(new Array[Byte](typeSize(offType) * n))),
          Entry(TagTileByteCounts, offType, n,
            inline = if (n == 1) Some(tileSizes.head) else None,
            external = if (n == 1) None else Some(offsBytes(tileSizes))),
          Entry(TagSampleFormat, SHORT, nb,
            external = Some(shortsBytes(Seq.fill(nb)(SampleFormatFloat.toLong))))) ++ geo
    }

    // inline value slot: 4 bytes classic, 8 BigTIFF
    val cap = if (bigTiff) 8 else 4
    def needsExternal(e: Entry): Boolean = typeSize(e.ttype) * e.count > cap

    // region sizes: IFDs, then external areas, then tile data
    val (headerSize, entrySize, ifdOverhead) =
      if (bigTiff) (16, 20, 8 + 8) else (8, 12, 2 + 4)
    val ifdSizes = pageEntries.map(es => ifdOverhead + es.size * entrySize)
    val ifdStarts = ifdSizes.scanLeft(headerSize)(_ + _).init
    val extSizes = pageEntries.map(_.filter(needsExternal).map(_.external.get.length).sum)
    val extStarts = extSizes.scanLeft(ifdStarts.last + ifdSizes.last)(_ + _).init
    val tileSizesAll = pages.map(_._1.flatMap(_._2).map(_.deflated.length.toLong))
    var tileCursor = (extStarts.last + extSizes.last).toLong
    val tileStarts = tileSizesAll.map { sizes =>
      val offs = sizes.scanLeft(tileCursor)(_ + _)
      tileCursor = offs.last
      offs.init
    }

    // patch TileOffsets per page (inline for a single tile)
    val patched = pageEntries.zip(tileStarts).map { case (es, offs) =>
      es.map {
        case e if e.tag == TagTileOffsets && offs.size == 1 =>
          e.copy(inline = Some(offs.head), external = None)
        case e if e.tag == TagTileOffsets =>
          e.copy(external = Some(offsBytes(offs)))
        case e => e
      }
    }

    require(tileCursor <= MaxFileBytes, s"COG would be $tileCursor bytes; the " +
      s"writer builds a file in one byte array, limited to $MaxFileBytes bytes")
    val buf = le(tileCursor.toInt)
    if (bigTiff) // version 43: offset-size descriptor, 8-byte IFD offset
      buf.put('I'.toByte).put('I'.toByte).putShort(43)
        .putShort(8).putShort(0).putLong(headerSize.toLong)
    else buf.put('I'.toByte).put('I'.toByte).putShort(42).putInt(headerSize)
    patched.zipWithIndex.foreach { case (entries, page) =>
      var extCursor = extStarts(page)
      if (bigTiff) buf.putLong(entries.size.toLong)
      else buf.putShort(entries.size.toShort)
      entries.foreach { e =>
        buf.putShort(e.tag.toShort).putShort(e.ttype.toShort)
        if (bigTiff) buf.putLong(e.count.toLong) else buf.putInt(e.count)
        if (needsExternal(e)) {
          if (bigTiff) buf.putLong(extCursor.toLong) else buf.putInt(extCursor)
          extCursor += e.external.get.length
        } else e.external match {
          // small multi-value (or ASCII): bytes pack into the value slot
          case Some(a) => buf.put(java.util.Arrays.copyOf(a, cap))
          case None => e.ttype match {
            case SHORT =>
              buf.putShort(e.inline.getOrElse(0L).toShort)
              buf.put(new Array[Byte](cap - 2))
            case LONG =>
              buf.putInt(e.inline.getOrElse(0L).toInt)
              buf.put(new Array[Byte](cap - 4))
            case LONG8 => buf.putLong(e.inline.getOrElse(0L))
          }
        }
      }
      val next = if (page + 1 < patched.size) ifdStarts(page + 1) else 0
      if (bigTiff) buf.putLong(next.toLong) else buf.putInt(next)
    }
    patched.foreach(_.foreach(e => if (needsExternal(e)) buf.put(e.external.get)))
    pages.foreach(_._1.foreach(_._2.foreach(t => buf.put(t.deflated))))
    buf.array()
  }

  /** One parsed IFD entry: integral values, doubles, or ASCII. */
  final case class Tag(id: Int, ttype: Int, count: Int,
      longs: Seq[Long], doubles: Seq[Double], ascii: String)

  /** Parse the first IFD (the full-resolution page) into a tag map. */
  def parse(bytes: Array[Byte]): Map[Int, Tag] = parseAll(bytes).head

  /** Parse every IFD in the chain (full-res page + overview pages).
    * Handles both classic (magic 42, 4-byte offsets) and BigTIFF
    * (magic 43, 8-byte counts/offsets) containers. */
  def parseAll(bytes: Array[Byte]): Seq[Map[Int, Tag]] = {
    val header = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(header.get() == 'I' && header.get() == 'I', "not a little-endian TIFF")
    val magic = header.getShort()
    val big = magic == 43
    require(big || magic == 42, s"bad TIFF magic $magic")
    if (big) {
      require(header.getShort() == 8, "BigTIFF offset size must be 8")
      require(header.getShort() == 0, "BigTIFF header pad must be 0")
    }
    val pages = scala.collection.mutable.ArrayBuffer.empty[Map[Int, Tag]]
    var next: Long = if (big) header.getLong() else header.getInt().toLong & 0xffffffffL
    while (next != 0) {
      val (tags, after) = parseIfd(bytes, next, big)
      pages += tags
      next = after
    }
    pages.toSeq
  }

  /** One IFD at `ifd`; returns its tags and the next-IFD offset. */
  private def parseIfd(bytes: Array[Byte], ifd: Long,
      big: Boolean): (Map[Int, Tag], Long) = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    buf.position(ifd.toInt)
    val cap = if (big) 8 else 4
    val nEntries = if (big) buf.getLong().toInt else buf.getShort().toInt
    (0 until nEntries).map { _ =>
      val tag = buf.getShort() & 0xffff
      val ttype = buf.getShort().toInt
      val count = if (big) buf.getLong().toInt else buf.getInt()
      val valueSlot = buf.position()
      val byteLen = typeSize(ttype) * count
      val at =
        if (byteLen <= cap) valueSlot
        else if (big) buf.getLong(valueSlot).toInt
        else buf.getInt(valueSlot)
      val v = ByteBuffer.wrap(bytes, at, byteLen).order(ByteOrder.LITTLE_ENDIAN)
      val (longs, doubles, ascii) = ttype match {
        case SHORT => (Seq.fill(count)((v.getShort() & 0xffff).toLong), Seq.empty[Double], "")
        case LONG => (Seq.fill(count)(v.getInt().toLong & 0xffffffffL), Seq.empty[Double], "")
        case LONG8 => (Seq.fill(count)(v.getLong()), Seq.empty[Double], "")
        case DOUBLE => (Seq.empty[Long], Seq.fill(count)(v.getDouble()), "")
        case ASCII =>
          val a = new Array[Byte](count); v.get(a)
          (Seq.empty[Long], Seq.empty[Double], new String(a, "US-ASCII").stripSuffix("\u0000"))
        case other => throw new IllegalArgumentException(s"unsupported TIFF type $other")
      }
      buf.position(valueSlot + cap)
      tag -> Tag(tag, ttype, count, longs, doubles, ascii)
    }.toMap -> (if (big) buf.getLong() // trailing word: next-IFD offset (0 = last)
                else buf.getInt().toLong & 0xffffffffL)
  }

  /** Band 0 of [[readBands]]: the full-resolution grid and its affine. */
  def readGrid(bytes: Array[Byte]): (Grid, Affine) = {
    val (bands, affine) = readBands(bytes)
    (bands.head, affine)
  }

  /** Decode every band of the full-resolution page (classic or BigTIFF):
    * with `PlanarConfiguration=2` the tile run is band-major — all of
    * band 0's tiles, then band 1's, … — so band b owns the run slice
    * `[b·tilesPerBand, (b+1)·tilesPerBand)`. */
  def readBands(bytes: Array[Byte]): (Seq[Grid], Affine) = {
    val tags = parse(bytes)
    def one(id: Int): Long = tags(id).longs.head
    require(one(TagCompression) == CompressionDeflate, "expected deflate tiles")
    require(one(TagSampleFormat) == SampleFormatFloat && one(TagBitsPerSample) == 32,
      "expected float32 samples")
    val nb = tags.get(TagSamplesPerPixel).map(_.longs.head.toInt).getOrElse(1)
    require(nb == 1 || tags.get(TagPlanarConfig).exists(_.longs.head == 2L),
      "multi-band reads expect separate planes (PlanarConfiguration=2)")
    val (w, h) = (one(TagImageWidth).toInt, one(TagImageLength).toInt)
    val (tw, th) = (one(TagTileWidth).toInt, one(TagTileLength).toInt)
    val offsets = tags(TagTileOffsets).longs
    val counts = tags(TagTileByteCounts).longs
    val tilesX = (w + tw - 1) / tw
    val tilesPerBand = tilesX * ((h + th - 1) / th)
    require(offsets.size == nb * tilesPerBand,
      s"expected ${nb * tilesPerBand} tiles, found ${offsets.size}")
    val nodata = tags.get(TagGdalNodata).map(_.ascii).filter(_ != "nan").map(_.toFloat)
    val affine = tags.get(TagModelTransformation).map(_.doubles) match {
      case Some(m) => Affine(m(0), m(1), m(3), m(4), m(5), m(7))
      case None =>
        val scale = tags(TagModelPixelScale).doubles
        val tie = tags(TagModelTiepoint).doubles
        Affine(scale(0), 0, tie(3), 0, -scale(1), tie(4))
    }
    val bands = (0 until nb).map { b =>
      val data = new Array[Float](w * h)
      (0 until tilesPerBand).foreach { i =>
        val run = b * tilesPerBand + i
        val (off, len) = (offsets(run), counts(run))
        val raw = inflate(
          java.util.Arrays.copyOfRange(bytes, off.toInt, (off + len).toInt), tw * th * 4)
        val tb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
        val (tx, ty) = (i % tilesX, i / tilesX)
        var r = 0
        while (r < th) {
          var c = 0
          while (c < tw) {
            val (gr, gc) = (ty * th + r, tx * tw + c)
            val f = tb.getFloat((r * tw + c) * 4)
            if (gr < h && gc < w) data(gr * w + gc) = f
            c += 1
          }
          r += 1
        }
      }
      Grid(w, h, data, nodata)
    }
    (bands, affine)
  }
}
