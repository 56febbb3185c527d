package graft

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.util.concurrent.atomic.AtomicInteger

import graft.kernel.{Cogify, Netcdf, Tiff}
import graft.kernel.Cogify.{CogifyTask, CollectionConfig, FetchGridReader}
import graft.sources.Fetch

/** NetCDF-3 classic reader (reference A8's decode stage,
  * cogify/handler.py:84-101) against byte streams hand-built from the
  * public Classic Format Specification grammar — the builder below writes
  * the external representation directly (big-endian header, 4-byte
  * aligned names/attribute payloads, fixed data at `begin`, interleaved
  * record slabs) so the parser is checked against the spec, not against
  * itself.
  */
class NetcdfSpec extends SparkSuite {

  import NetcdfSpec._

  test("CDF-1 fixed variables: dims, attrs, coords, scale/offset, fill") {
    val bytes = build(version = 1, numRecs = 0,
      dims = Seq(BDim("lat", 3), BDim("lon", 4)),
      gatts = Seq(BAtt.text("title", "graft test")),
      vars = Seq(
        BVar("lat", Seq(0), Seq.empty, Netcdf.NcFloat, Seq(10, 20, 30)),
        BVar("lon", Seq(1), Seq.empty, Netcdf.NcDouble, Seq(100, 101, 102, 103)),
        // 1-char name exercises name padding; short data exercises the
        // 2-byte external type and payload padding (12 shorts = 24B, ok)
        BVar("q", Seq(0, 1),
          Seq(BAtt("_FillValue", Netcdf.NcShort, Seq(-9)),
            BAtt("scale_factor", Netcdf.NcDouble, Seq(0.5)),
            BAtt("add_offset", Netcdf.NcDouble, Seq(10.0))),
          Netcdf.NcShort,
          Seq(0, 1, 2, 3, 4, -9, 6, 7, 8, 9, 10, 11))))

    val nc = Netcdf.parse(bytes)
    assert(nc.version == 1)
    assert(nc.dims == IndexedSeq(Netcdf.Dim("lat", 3), Netcdf.Dim("lon", 4)))
    assert(nc.gatts("title").text == "graft test")
    assert(nc.vars.keySet == Set("lat", "lon", "q"))

    assert(Netcdf.readCoord(nc, "lat").toSeq == Seq(10.0, 20.0, 30.0))
    assert(Netcdf.readCoord(nc, "lon").toSeq == Seq(100.0, 101.0, 102.0, 103.0))

    val g = Netcdf.readGrid(nc, "q")
    assert(g.width == 4 && g.height == 3)
    assert(g.nodata.contains(-9f))
    assert(g(1, 1) == -9f) // fill kept raw, not scaled
    assert(g(0, 0) == 10f && g(0, 3) == 11.5f && g(2, 3) == 15.5f) // x*0.5+10
  }

  test("record variables: interleaved slabs, record coord, first-slab grid") {
    // two record variables -> per-record stride is the sum of PADDED
    // slabs: t contributes pad4(4)=4, cube pad4(2*3*4)=24
    val bytes = build(version = 1, numRecs = 2,
      dims = Seq(BDim("time", 0), BDim("y", 2), BDim("x", 3)),
      gatts = Seq.empty,
      vars = Seq(
        BVar("t", Seq(0), Seq.empty, Netcdf.NcInt, Seq(5, 6)),
        BVar("cube", Seq(0, 1, 2), Seq.empty, Netcdf.NcFloat,
          Seq(1, 2, 3, 4, 5, 6, /* record 1: */ 7, 8, 9, 10, 11, 12))))

    val nc = Netcdf.parse(bytes)
    assert(nc.numRecs == 2)
    assert(Netcdf.readCoord(nc, "t").toSeq == Seq(5.0, 6.0))
    val g = Netcdf.readGrid(nc, "cube") // variable[0], handler.py:90-91
    assert(g.width == 3 && g.height == 2)
    assert(g.data.toSeq == Seq(1f, 2f, 3f, 4f, 5f, 6f))
  }

  test("CDF-2 (64-bit offset) parses identically") {
    val mk = (v: Int) => build(version = v, numRecs = 0,
      dims = Seq(BDim("x", 5)),
      gatts = Seq.empty,
      vars = Seq(BVar("v", Seq(0), Seq.empty, Netcdf.NcDouble,
        Seq(1.5, 2.5, 3.5, 4.5, 5.5))))
    val (nc1, nc2) = (Netcdf.parse(mk(1)), Netcdf.parse(mk(2)))
    assert(nc2.version == 2)
    assert(Netcdf.readCoord(nc2, "v").toSeq == Netcdf.readCoord(nc1, "v").toSeq)
  }

  test("cogify kernel decodes a classic NetCDF granule end to end") {
    import spark.implicits._
    // 4x6 precip grid with real coordinate variables (non-global extent)
    val vals = Seq.tabulate(24)(i => i.toDouble)
    val lons = Seq(100.25, 100.75, 101.25, 101.75, 102.25, 102.75)
    val lats = Seq(10.25, 10.75, 11.25, 11.75)
    val bytes = build(version = 1, numRecs = 0,
      dims = Seq(BDim("lat", 4), BDim("lon", 6)),
      gatts = Seq.empty,
      vars = Seq(
        BVar("lat", Seq(0), Seq.empty, Netcdf.NcDouble, lats),
        BVar("lon", Seq(1), Seq.empty, Netcdf.NcDouble, lons),
        BVar("precip", Seq(0, 1),
          Seq(BAtt("_FillValue", Netcdf.NcFloat, Seq(-9999.0))),
          Netcdf.NcFloat, vals)))
    val src = new java.io.File(tempDir("nc"), "granule.nc")
    java.nio.file.Files.write(src.toPath, bytes)

    val out = tempDir("nccog").getAbsolutePath
    val results = Cogify.run(
      Seq(CogifyTask("NC1", src.getAbsolutePath, Some("g"), upload = false)).toDS(),
      Map("NC1" -> CollectionConfig("precip", xVariable = Some("lon"),
        yVariable = Some("lat"), useTopLeftRecipe = true)),
      s"file:$out",
      mkReader = () => new FetchGridReader(() => new Fetch.RoutingFetcher()))
      .collect()
    assert(results.length == 1 && results.head.error.isEmpty, results.toSeq)
    assert(results.head.width == 6 && results.head.height == 4)
    // extent from coord min/max (handler.py:96-103): xres = (102.75-100.25)/6
    assert(math.abs(results.head.affine.head - (102.75 - 100.25) / 6) < 1e-12)

    val (grid, _) = Tiff.readGrid(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/NC1/granule.nc.cog.tif")))
    assert(grid.data.toSeq == vals.map(_.toFloat))
    assert(grid.nodata.contains(-9999f))
  }

  test("multi-variable config: one fetch, one multi-band COG, exact bands") {
    import spark.implicits._
    val precip = Seq.tabulate(24)(i => i.toDouble)
    val error = Seq.tabulate(24)(i => (100 + i).toDouble)
    val lons = Seq(100.25, 100.75, 101.25, 101.75, 102.25, 102.75)
    val lats = Seq(10.25, 10.75, 11.25, 11.75)
    val bytes = build(version = 1, numRecs = 0,
      dims = Seq(BDim("lat", 4), BDim("lon", 6)),
      gatts = Seq.empty,
      vars = Seq(
        BVar("lat", Seq(0), Seq.empty, Netcdf.NcDouble, lats),
        BVar("lon", Seq(1), Seq.empty, Netcdf.NcDouble, lons),
        BVar("precip", Seq(0, 1),
          Seq(BAtt("_FillValue", Netcdf.NcFloat, Seq(-9999.0))),
          Netcdf.NcFloat, precip),
        BVar("precip_err", Seq(0, 1), Seq.empty, Netcdf.NcFloat, error)))
    val src = new java.io.File(tempDir("ncmv"), "granule.nc")
    java.nio.file.Files.write(src.toPath, bytes)

    fetchCount.set(0)
    val out = tempDir("ncmvcog").getAbsolutePath
    val results = Cogify.run(
      Seq(CogifyTask("NCMV", src.getAbsolutePath, Some("g"), upload = false)).toDS(),
      Map("NCMV" -> CollectionConfig("precip", xVariable = Some("lon"),
        yVariable = Some("lat"), useTopLeftRecipe = true,
        bandVariables = Seq("precip", "precip_err"))),
      s"file:$out",
      mkReader = () => new FetchGridReader(() => new CountingFetcher))
      .collect()
    assert(results.length == 1 && results.head.error.isEmpty, results.toSeq)
    assert(fetchCount.get() == 1) // both variables decode from ONE fetch
    assert(results.head.n_bands == 2)
    assert(results.head.n_tiles == 2) // one 256-padded tile per band

    val (bands, _) = Tiff.readBands(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/NCMV/granule.nc.cog.tif")))
    assert(bands.size == 2)
    assert(bands(0).data.toSeq == precip.map(_.toFloat))
    assert(bands(1).data.toSeq == error.map(_.toFloat))
    assert(bands(0).nodata.contains(-9999f)) // band 0 anchors nodata
  }

  test("multi-variable guards: anchor-first config; no silent band drops") {
    import spark.implicits._
    // a band list that doesn't lead with the stats/nodata anchor is a
    // config error, caught at construction
    intercept[IllegalArgumentException] {
      CollectionConfig("precip", bandVariables = Seq("precip_err", "precip"))
    }
    // a reader without multi-band decode must error the task (DLQ row),
    // never silently return one band for a two-band config
    val results = Cogify.run(
      Seq(CogifyTask("MB", "s3://b/x.nc", None, upload = false)).toDS(),
      Map("MB" -> CollectionConfig("a", bandVariables = Seq("a", "b"))),
      s"file:${tempDir("mbout").getAbsolutePath}",
      mkReader = () => new Cogify.FakeGridReader()).collect()
    assert(results.head.error.exists(_.contains("decoded 1 band(s); config names 2")))
  }

  test("randomized: 30 seeded spec-grammar files parse back exactly") {
    val rnd = new scala.util.Random(0xCDF1L)
    val numericTypes =
      Seq(Netcdf.NcByte, Netcdf.NcShort, Netcdf.NcInt, Netcdf.NcFloat, Netcdf.NcDouble)
    def intish(t: Int): Boolean = t != Netcdf.NcFloat && t != Netcdf.NcDouble
    for (_ <- 1 to 30) {
      val version = 1 + rnd.nextInt(2)
      val h = 1 + rnd.nextInt(12)
      val w = 1 + rnd.nextInt(15)
      val coordType = numericTypes(rnd.nextInt(numericTypes.size))
      val gridType = numericTypes(rnd.nextInt(numericTypes.size))
      // byte-exact expectations: integral types carry small ints; float
      // types carry values representable in float32
      def vals(n: Int, t: Int): Seq[Double] =
        (0 until n).map(_ => if (intish(t)) rnd.nextInt(100) - 50
          else (rnd.nextInt(4000) - 2000) / 8.0)
      val ys = vals(h, coordType)
      val grid = vals(h * w, gridType)
      val bytes = build(version, numRecs = 0,
        dims = Seq(BDim("y", h), BDim("x", w)),
        gatts = Seq(BAtt.text("title", "rt")),
        vars = Seq(
          BVar("y", Seq(0), Seq.empty, coordType, ys),
          BVar("g", Seq(0, 1), Seq.empty, gridType, grid)))
      val nc = Netcdf.parse(bytes)
      assert(nc.version == version)
      assert(Netcdf.readCoord(nc, "y").toSeq == ys.map(v =>
        if (intish(coordType)) v.toInt.toDouble
        else if (coordType == Netcdf.NcFloat) v.toFloat.toDouble else v))
      val g = Netcdf.readGrid(nc, "g")
      assert(g.width == w && g.height == h)
      assert(g.data.toSeq == grid.map(_.toFloat), s"$version $gridType ${h}x$w")
    }
  }

  test("corrupt HDF5 container fails fast to the DLQ without burning retries") {
    import spark.implicits._
    // real HDF5 now decodes (Hdf5Spec); a truncated/garbage signature is
    // a structural failure — non-retryable, straight to the DLQ
    val h5 = new java.io.File(tempDir("h5"), "granule.h5")
    java.nio.file.Files.write(h5.toPath,
      Array(0x89.toByte, 'H'.toByte, 'D'.toByte, 'F'.toByte) ++ new Array[Byte](16))
    fetchCount.set(0) // JVM-static: closures serialize, statics don't
    val results = Cogify.run(
      Seq(CogifyTask("H5", h5.getAbsolutePath, None, upload = false)).toDS(),
      Map.empty, s"file:${tempDir("h5out").getAbsolutePath}", maxAttempts = 5,
      mkReader = () => new FetchGridReader(() => new CountingFetcher)).collect()
    assert(results.head.error.exists(_.contains("HDF5")))
    assert(fetchCount.get() == 1) // non-retryable: exactly one attempt
  }
}

/** Spec-grammar builder for classic NetCDF bytes (test-side only). */
object NetcdfSpec {

  /** Per-JVM fetch counter (local-mode executors share the JVM, so a
    * static survives closure serialization where an instance field is
    * copied). */
  val fetchCount = new AtomicInteger(0)

  final class CountingFetcher extends Fetch.Fetcher {
    private val inner = new Fetch.RoutingFetcher()
    override def fetch(uri: String, destDir: java.io.File): java.io.File = {
      fetchCount.incrementAndGet(); inner.fetch(uri, destDir)
    }
  }

  final case class BDim(name: String, length: Int) // 0 = record dim
  final case class BAtt(name: String, ncType: Int, values: Seq[Any])
  object BAtt {
    def text(name: String, s: String): BAtt =
      BAtt(name, Netcdf.NcChar, s.getBytes("US-ASCII").toSeq)
  }
  /** `data` is the flattened values; record variables carry all records
    * in record-major order. */
  final case class BVar(name: String, dims: Seq[Int], atts: Seq[BAtt],
      ncType: Int, data: Seq[Any])

  private def pad4(n: Long): Long = (n + 3) & ~3L

  def build(version: Int, numRecs: Int, dims: Seq[BDim], gatts: Seq[BAtt],
      vars: Seq[BVar]): Array[Byte] = {

    def writeName(o: DataOutputStream, s: String): Unit = {
      val b = s.getBytes("UTF-8")
      o.writeInt(b.length); o.write(b)
      (b.length until pad4(b.length.toLong).toInt).foreach(_ => o.writeByte(0))
    }
    def writeValue(o: DataOutputStream, t: Int, v: Any): Unit = {
      val d = v match { case n: Number => n.doubleValue(); case b: Byte => b.toDouble }
      t match {
        case Netcdf.NcByte | Netcdf.NcChar => o.writeByte(d.toInt)
        case Netcdf.NcShort => o.writeShort(d.toInt)
        case Netcdf.NcInt => o.writeInt(d.toInt)
        case Netcdf.NcFloat => o.writeFloat(d.toFloat)
        case Netcdf.NcDouble => o.writeDouble(d)
      }
    }
    def writeAtts(o: DataOutputStream, atts: Seq[BAtt]): Unit =
      if (atts.isEmpty) { o.writeInt(0); o.writeInt(0) }
      else {
        o.writeInt(0x0C); o.writeInt(atts.size)
        atts.foreach { a =>
          writeName(o, a.name)
          o.writeInt(a.ncType); o.writeInt(a.values.size)
          a.values.foreach(writeValue(o, a.ncType, _))
          val payload = a.values.size.toLong * Netcdf.typeSize(a.ncType)
          (payload until pad4(payload)).foreach(_ => o.writeByte(0))
        }
      }

    val isRec = (v: BVar) => v.dims.headOption.exists(dims(_).length == 0)
    val slabBytes = (v: BVar) => v.dims.drop(if (isRec(v)) 1 else 0)
      .map(dims(_).length.toLong).product * Netcdf.typeSize(v.ncType)
    val recVars = vars.filter(isRec)
    val vsize = (v: BVar) =>
      if (isRec(v) && recVars.size == 1) slabBytes(v) else pad4(slabBytes(v))

    def header(begins: Map[String, Long]): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val o = new DataOutputStream(bos)
      o.writeByte('C'); o.writeByte('D'); o.writeByte('F'); o.writeByte(version)
      o.writeInt(numRecs)
      if (dims.isEmpty) { o.writeInt(0); o.writeInt(0) }
      else {
        o.writeInt(0x0A); o.writeInt(dims.size)
        dims.foreach { d => writeName(o, d.name); o.writeInt(d.length) }
      }
      writeAtts(o, gatts)
      if (vars.isEmpty) { o.writeInt(0); o.writeInt(0) }
      else {
        o.writeInt(0x0B); o.writeInt(vars.size)
        vars.foreach { v =>
          writeName(o, v.name)
          o.writeInt(v.dims.size); v.dims.foreach(o.writeInt)
          writeAtts(o, v.atts)
          o.writeInt(v.ncType)
          o.writeInt(vsize(v).toInt)
          if (version == 1) o.writeInt(begins.getOrElse(v.name, 0L).toInt)
          else o.writeLong(begins.getOrElse(v.name, 0L))
        }
      }
      o.flush(); bos.toByteArray
    }

    // pass 1 sizes the header; pass 2 carries the real begin offsets
    val headerLen = header(Map.empty).length.toLong
    var cursor = headerLen
    val beginsFixed = vars.filterNot(isRec).map { v =>
      val b = v.name -> cursor; cursor += pad4(slabBytes(v)); b
    }.toMap
    val recStart = cursor
    val recStride =
      if (recVars.size == 1) slabBytes(recVars.head)
      else recVars.map(v => pad4(slabBytes(v))).sum
    val beginsRec = {
      var off = recStart
      recVars.map { v =>
        val b = v.name -> off
        off += (if (recVars.size == 1) slabBytes(v) else pad4(slabBytes(v)))
        b
      }.toMap
    }

    val bos = new ByteArrayOutputStream()
    val o = new DataOutputStream(bos)
    o.write(header(beginsFixed ++ beginsRec))
    // fixed data, in var order, padded to 4
    vars.filterNot(isRec).foreach { v =>
      v.data.foreach(writeValue(o, v.ncType, _))
      (slabBytes(v) until pad4(slabBytes(v))).foreach(_ => o.writeByte(0))
    }
    // record data: per record, each record var's slab (padded unless sole)
    (0 until numRecs).foreach { r =>
      recVars.foreach { v =>
        val elemsPerRec = (slabBytes(v) / Netcdf.typeSize(v.ncType)).toInt
        v.data.slice(r * elemsPerRec, (r + 1) * elemsPerRec)
          .foreach(writeValue(o, v.ncType, _))
        if (recVars.size > 1)
          (slabBytes(v) until pad4(slabBytes(v))).foreach(_ => o.writeByte(0))
      }
    }
    o.flush(); bos.toByteArray
  }
}
