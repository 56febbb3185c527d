package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

/** Seeded input generators and the expectations computed from them.
  * Everything here is a pure function of (seed, index): the same seed
  * gives byte-identical inputs, and the expected outputs are derived from
  * the generator's own parameters, never by calling the engine. */
object Gen {

  /** splitmix64 finalizer: the one hash every generator draws from. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Uniform double in [0, 1) from (seed, stream, index). */
  def unit(seed: Long, stream: Long, i: Long): Double =
    (mix(mix(seed * 0x632be59bd9b4e019L + stream) + i) >>> 11).toDouble / (1L << 53).toDouble

  /** FNV-1a 64 over UTF-8 bytes, for order-independent digests. */
  def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val b = s.getBytes("UTF-8")
    var i = 0
    while (i < b.length) { h = (h ^ (b(i) & 0xff)) * 0x100000001b3L; i += 1 }
    h
  }

  def hex(bytes: Array[Byte]): String = bytes.map("%02x".format(_)).mkString

  // -------------------------------------------------------------------
  // raster granules: global lat/lon grids in NetCDF-3 classic

  final case class GridSpec(width: Int, height: Int)
  val Fill: Float = -9999f

  final case class Granule(name: String, date: LocalDate, lat: Array[Double],
      lon: Array[Double], data: Array[Float]) {
    def stats: GranuleStats = {
      val valid = data.filter(_ != Fill)
      GranuleStats(name, date, valid.min.toDouble, valid.max.toDouble,
        valid.iterator.map(_.toDouble).sum / valid.length,
        valid.length * 100.0 / data.length,
        Seq(lon.min, lat.min, lon.max, lat.max))
    }
  }

  /** What the published item must report for a granule: band statistics
    * over the non-fill cells and the (xmin, ymin, xmax, ymax) extent of
    * the coordinate vectors. */
  final case class GranuleStats(name: String, date: LocalDate, min: Double,
      max: Double, mean: Double, validPercent: Double, extent: Seq[Double])

  /** Granule `g`: a smooth field (a latitude gradient plus three seeded
    * waves) with seeded blobs of fill cells; rows run north to south. */
  def granule(seed: Long, g: Int, spec: GridSpec): Granule = {
    val w = spec.width
    val h = spec.height
    val p = Array.tabulate(12)(k => unit(seed, 1000 + g, k))
    val lat = Array.tabulate(h)(r => 90.0 - 180.0 * (r + 0.5) / h)
    val lon = Array.tabulate(w)(c => -180.0 + 360.0 * (c + 0.5) / w)
    val data = new Array[Float](w * h)
    val twoPi = 2 * math.Pi
    var r = 0
    while (r < h) {
      val y = r.toDouble / h
      var c = 0
      while (c < w) {
        val x = c.toDouble / w
        val mask = math.sin(twoPi * ((2 + 3 * p(0)) * x + p(1))) *
          math.sin(twoPi * ((1 + 2 * p(2)) * y + p(3)))
        data(r * w + c) =
          if (mask > 0.8) Fill
          else (250.0 + 40.0 * math.cos(math.Pi * (y - 0.5)) +
            12.0 * math.sin(twoPi * ((1 + 4 * p(4)) * x + p(5))) +
            8.0 * math.sin(twoPi * ((1 + 6 * p(6)) * (x + y) + p(7))) +
            3.0 * math.sin(twoPi * ((5 + 20 * p(8)) * x + (3 + 10 * p(9)) * y + p(10)))
          ).toFloat
        c += 1
      }
      r += 1
    }
    val date = LocalDate.of(2000, 1, 1).plusDays((mix(seed * 31 + g) >>> 1) % 9000)
    val name = f"GRID-g$g%03d_${date.format(DateTimeFormatter.BASIC_ISO_DATE)}.nc"
    Granule(name, date, lat, lon, data)
  }

  /** NetCDF-3 classic (CDF-1) bytes: dims lat/lon, double coordinate
    * variables and a float `data(lat, lon)` carrying `_FillValue`. */
  def netcdf(gr: Granule): Array[Byte] = {
    val h = gr.lat.length
    val w = gr.lon.length
    def name(b: ByteBuffer, s: String): Unit = {
      b.putInt(s.length); b.put(s.getBytes("US-ASCII"))
      (0 until (4 - s.length % 4) % 4).foreach(_ => b.put(0.toByte))
    }
    def header(begins: Seq[Int]): ByteBuffer = {
      val b = ByteBuffer.allocate(512).order(ByteOrder.BIG_ENDIAN)
      b.put("CDF".getBytes("US-ASCII")).put(1.toByte).putInt(0)
      b.putInt(0x0A).putInt(2) // dimensions
      name(b, "lat"); b.putInt(h)
      name(b, "lon"); b.putInt(w)
      b.putInt(0).putInt(0) // no global attributes
      b.putInt(0x0B).putInt(3) // variables
      name(b, "lat"); b.putInt(1).putInt(0); b.putInt(0).putInt(0)
      b.putInt(6).putInt(h * 8).putInt(begins(0))
      name(b, "lon"); b.putInt(1).putInt(1); b.putInt(0).putInt(0)
      b.putInt(6).putInt(w * 8).putInt(begins(1))
      name(b, "data"); b.putInt(2).putInt(0).putInt(1)
      b.putInt(0x0C).putInt(1); name(b, "_FillValue"); b.putInt(5).putInt(1).putFloat(Fill)
      b.putInt(5).putInt(w * h * 4).putInt(begins(2))
      b
    }
    val hdr = header(Seq(0, 0, 0)).position()
    val begins = Seq(hdr, hdr + h * 8, hdr + h * 8 + w * 8)
    val out = ByteBuffer.allocate(begins(2) + w * h * 4).order(ByteOrder.BIG_ENDIAN)
    val hb = header(begins)
    out.put(hb.array(), 0, hb.position())
    gr.lat.foreach(out.putDouble)
    gr.lon.foreach(out.putDouble)
    gr.data.foreach(out.putFloat)
    out.array()
  }

  // -------------------------------------------------------------------
  // discovered-asset events for the catalog and stream workloads

  /** The engine's discovered-asset event shape (Discovery.DiscoveredAsset
    * without the passthrough extras). */
  final case class Event(collection: String, s3_filename: String, size: Long,
      upload: Boolean, cogify: Boolean, granule_id: String,
      datetime_range: String, id_regex: String)

  final case class Meta(granule_id: String, time_start: java.sql.Timestamp,
      time_end: java.sql.Timestamp)

  /** One event in `SpillEvery` carries a long archive path, so its
    * serialized item is over [[SpillThreshold]] characters and spills;
    * every other item stays well under it. */
  val SpillEvery = 1000
  val SpillThreshold = 512
  val Bucket = "s3://veda-bench-store"
  val IdRegex = "([a-z]+)-(s[0-9]+)_"
  private val LongDir = "archive-" + ("a" * 420) + "/"

  private val DayFmt = DateTimeFormatter.BASIC_ISO_DATE
  private val IsoZ = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")

  /** Kind of event i, by i mod 10: 0-4 plain dated filenames, 5 dated
    * with an id regex, 6 month range, 7 year range, 8-9 CMR events (one
    * in four of those has no granule-metadata row, so it falls back to
    * its filename). */
  def kind(i: Long): Int = (i % 10).toInt
  def hasMeta(i: Long): Boolean = kind(i) >= 8 && (i / 10) % 4 != 3

  private def dayOf(seed: Long, i: Long): LocalDate =
    LocalDate.of(1995, 1, 1).plusDays((mix(seed * 7919 + i) >>> 1) % 11000)

  def event(seed: Long, i: Long): Event = {
    val h = mix(seed ^ mix(i))
    val coll = s"coll-${(h >>> 8) % 8}"
    val prod = Seq("nox", "aod", "sst", "ndvi", "precip")(((h >>> 20) % 5).toInt)
    val d = dayOf(seed, i)
    val dir = if (i % SpillEvery == 0) LongDir else ""
    val k = kind(i)
    val stamp = k match {
      case 1 => d.toString // the yyyy-mm-dd strategy
      case 6 => d.format(DayFmt).take(6) // _YYYYMM
      case 7 => d.format(DayFmt).take(4) // _YYYY
      case _ => d.format(DayFmt) // _YYYYMMDD
    }
    val file = s"$Bucket/$coll/$dir$prod-s${i}_$stamp.tif"
    Event(coll, file, 1000L + (h >>> 40) % 100000L, upload = false, cogify = false,
      granule_id = if (k >= 8) s"G$i-BENCH" else null,
      datetime_range = k match { case 6 => "month"; case 7 => "year"; case _ => null },
      id_regex = if (k == 5) IdRegex else null)
  }

  /** Granule-metadata row of a CMR event: a start time with a time of
    * day, so it can never be mistaken for the filename's midnight. */
  def metaStart(seed: Long, i: Long): LocalDateTime =
    dayOf(seed, i).minusDays(3).atTime(((mix(seed + i) >>> 1) % 24L).toInt, 17, 42)

  def meta(seed: Long, i: Long): Meta = {
    val start = metaStart(seed, i)
    Meta(s"G$i-BENCH", ts(start), ts(start.plusHours(6)))
  }

  private def ts(t: LocalDateTime): java.sql.Timestamp =
    new java.sql.Timestamp(t.toEpochSecond(ZoneOffset.UTC) * 1000L)

  /** Expected (item_id, datetime, start_datetime, end_datetime) of event
    * i, with "" for an absent field. `cmrJoin` says whether CMR events
    * see the granule-metadata dim (bulk mode) or fall back to their
    * filename (continuous mode runs without it). */
  def expected(seed: Long, i: Long, cmrJoin: Boolean): (String, String, String, String) = {
    val e = event(seed, i)
    val d = dayOf(seed, i)
    val k = kind(i)
    val id =
      if (e.granule_id != null) e.granule_id
      else if (e.id_regex != null) s"${e.s3_filename.split('/').last.takeWhile(_ != '-')}-s$i"
      else e.s3_filename.split('/').last.stripSuffix(".tif")
    def iso(x: LocalDate) = x.atStartOfDay().format(IsoZ)
    if (cmrJoin && hasMeta(i))
      (id, metaStart(seed, i).format(IsoZ), "", "")
    else k match {
      case 6 => (id, "", iso(d.withDayOfMonth(1)), iso(d.withDayOfMonth(d.lengthOfMonth())))
      case 7 => (id, "", iso(d.withDayOfYear(1)), iso(LocalDate.of(d.getYear, 12, 31)))
      case _ => (id, iso(d), "", "")
    }
  }

  /** Order-independent digest of item tuples: (count, sum of hashes). */
  final case class Digest(count: Long, sum: Long) {
    def +(t: (String, String, String, String)): Digest =
      Digest(count + 1, sum + fnv64(Seq(t._1, t._2, t._3, t._4).mkString("\u0001")))
    override def toString: String = f"$count:$sum%016x"
  }
  val Empty = Digest(0, 0)

  def expectedDigest(seed: Long, n: Long, cmrJoin: Boolean): Digest = {
    var d = Empty
    var i = 0L
    while (i < n) { d = d + expected(seed, i, cmrJoin); i += 1 }
    d
  }

  /** Published items whose line is at or over the spill threshold. */
  def expectedSpills(n: Long): Long = (n + SpillEvery - 1) / SpillEvery
}
