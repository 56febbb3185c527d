package graft.functions

import java.time.{LocalDate, ZoneOffset}
import org.scalatest.funsuite.AnyFunSuite

/** Golden contract ported from reference
  * build-stac/tests/test_regex.py:8-136 (13 date cases) and :139-168
  * (2 id-regex cases), plus seeded property tests over a random filename
  * grammar.
  */
class FilenameDatesSpec extends AnyFunSuite {

  private def us(y: Int, m: Int, d: Int): Long =
    LocalDate.of(y, m, d).atStartOfDay().toEpochSecond(ZoneOffset.UTC) * 1000000L

  private def ex(fn: String, rng: Option[String]) = FilenameDates.extractDates(fn, rng)
  import FilenameDates.Extracted

  // ── the 13 golden cases ─────────────────────────────────────────────
  val goldenCases: Seq[(String, Option[String], Extracted)] = Seq(
    ("s3://foo/bar/foo_2010-10-31_bar.tif", None,
      Extracted(None, None, Some(us(2010, 10, 31)))),
    ("s3://foo/bar/foo_20051212_bar.tif", None,
      Extracted(None, None, Some(us(2005, 12, 12)))),
    ("s3://foo/bar/foo_200507_bar.tif", None,
      Extracted(None, None, Some(us(2005, 7, 1)))),
    ("s3://foo/bar/foo_2012_bar.tif", None,
      Extracted(None, None, Some(us(2012, 1, 1)))),
    ("s3://foo/bar/foo_2005-07-02_to_2006-09-29_bar.tif", None,
      Extracted(Some(us(2005, 7, 2)), Some(us(2006, 9, 29)), None)),
    ("s3://foo/bar/foo_20050702_to_20060929_bar.tif", None,
      Extracted(Some(us(2005, 7, 2)), Some(us(2006, 9, 29)), None)),
    ("s3://foo/bar/foo_2005_2006_2007_bar.tif", None,
      Extracted(Some(us(2005, 1, 1)), Some(us(2007, 1, 1)), None)),
    ("s3://foo/bar/foo_2005-01-02.tif", Some("month"),
      Extracted(Some(us(2005, 1, 1)), Some(us(2005, 1, 31)), None)),
    ("s3://foo/bar/foo_2005-02-02.tif", Some("month"),
      Extracted(Some(us(2005, 2, 1)), Some(us(2005, 2, 28)), None)),
    ("s3://foo/bar/foo_20050302_bar.tif", Some("month"),
      Extracted(Some(us(2005, 3, 1)), Some(us(2005, 3, 31)), None)),
    ("s3://foo/bar/foo_20050402_bar.tif", Some("month"),
      Extracted(Some(us(2005, 4, 1)), Some(us(2005, 4, 30)), None)),
    ("s3://foo/bar/foo_2005-01-02.tif", Some("year"),
      Extracted(Some(us(2005, 1, 1)), Some(us(2005, 12, 31)), None)),
    ("s3://foo/bar/foo_2005-02-02.tif", Some("year"),
      Extracted(Some(us(2005, 1, 1)), Some(us(2005, 12, 31)), None)),
    ("s3://foo/bar/foo_20050302_bar.tif", Some("year"),
      Extracted(Some(us(2005, 1, 1)), Some(us(2005, 12, 31)), None)),
    ("s3://foo/bar/foo_20050402_bar.tif", Some("year"),
      Extracted(Some(us(2005, 1, 1)), Some(us(2005, 12, 31)), None)))

  test("golden filename→date cases (reference test_regex.py:8-136)") {
    goldenCases.foreach { case (fn, rng, want) =>
      assert(ex(fn, rng) == want, s"for $fn rng=$rng")
    }
  }

  test("no date → error (reference regex.py:59-63)") {
    intercept[IllegalArgumentException](ex("s3://foo/bar/nodates.tif", None))
    assert(FilenameDates.extractDatesOrNull("s3://foo/bar/nodates.tif", None).isEmpty)
  }

  test("invalid calendar date in a matched strategy → error, lenient → None") {
    // _(\d{6}) strategy captures 201613; month 13 must fail like strptime
    intercept[RuntimeException](ex("s3://b/foo_201613_bar.tif", None))
    assert(FilenameDates.extractDatesOrNull("s3://b/foo_201613_bar.tif", None).isEmpty)
  }

  test("first strategy with a hit wins over later ones") {
    // contains both an ISO date and a bare year: ISO strategy must win
    assert(ex("s3://b/foo_2011-05-06_and_1999.tif", None) ==
      Extracted(None, None, Some(us(2011, 5, 6))))
  }

  test("leap-year February month expansion clamps to the 29th") {
    assert(ex("s3://b/foo_2004-02-15.tif", Some("month")) ==
      Extracted(Some(us(2004, 2, 1)), Some(us(2004, 2, 29)), None))
  }

  // ── seeded property tests over a filename grammar ───────────────────
  private def randDate(r: scala.util.Random): LocalDate =
    LocalDate.of(1980 + r.nextInt(56), 1 + r.nextInt(12), 1 + r.nextInt(28))

  test("property: multi ISO dates → (min, max)") {
    val r = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      val ds = List.fill(2 + r.nextInt(2))(randDate(r))
      val fn = "s3://b/x" + ds.map(d => s"_$d").mkString + ".tif"
      val got = ex(fn, None)
      assert(got.start.contains(ds.min.atStartOfDay().toEpochSecond(ZoneOffset.UTC) * 1000000L))
      assert(got.end.contains(ds.max.atStartOfDay().toEpochSecond(ZoneOffset.UTC) * 1000000L))
      assert(got.single.isEmpty)
    }
  }

  test("property: month expansion brackets the date within its month") {
    val r = new scala.util.Random(7)
    (1 to 200).foreach { _ =>
      val d = randDate(r)
      val got = ex(s"s3://b/x_$d.tif", Some("month"))
      val start = LocalDate.ofEpochDay(got.start.get / 86400000000L)
      val end = LocalDate.ofEpochDay(got.end.get / 86400000000L)
      assert(start == d.withDayOfMonth(1))
      assert(end == d.withDayOfMonth(d.lengthOfMonth()))
    }
  }

  // ── item-id derivation (reference test_regex.py:139-168) ────────────
  test("item id via id_regex joins capture groups with '-'") {
    val rx = Some("s3://([^/]*)/(.+).tif$")
    assert(ItemId.derive("s3://OMNO2d_HRM/OMI_trno20.10x0.10_201601_Col3_V4.nc.tif", rx)
      .contains("OMNO2d_HRM-OMI_trno20.10x0.10_201601_Col3_V4.nc"))
    assert(ItemId.derive("s3://OMNO2d_HRMDifference/OMI_trno20.10x0.10_201601_Col3_V4.nc.tif", rx)
      .contains("OMNO2d_HRMDifference-OMI_trno20.10x0.10_201601_Col3_V4.nc"))
  }

  test("item id without regex is the filename stem (pathlib semantics)") {
    assert(ItemId.derive("s3://b/p/file.nc.tif", None).contains("file.nc"))
    assert(ItemId.derive("s3://b/p/file", None).contains("file"))
    assert(ItemId.derive("s3://b/p/.hidden", None).contains(".hidden"))
  }

  test("derive_item_id: one expression instance follows a changing id_regex") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val e = DeriveItemId(BoundReference(0, StringType, nullable = true),
      BoundReference(1, StringType, nullable = true))
    val fn = "s3://OMNO2d_HRM/OMI_trno20.10x0.10_201601_Col3_V4.nc.tif"
    val rows = Seq(Some("s3://([^/]*)/(.+).tif$"), Some("_(\\d{6})_"), None,
      Some("s3://([^/]*)/(.+).tif$"), Some("nomatch"), Some("_(\\d{6})_"))
    rows.foreach { rx =>
      val got = Option(e.eval(InternalRow(UTF8String.fromString(fn),
        rx.map(UTF8String.fromString).orNull))).map(_.toString)
      assert(got == ItemId.derive(fn, rx), s"id_regex $rx")
    }
  }

  test("item id regex matching != once → None (reference assert)") {
    assert(ItemId.derive("nomatch", Some("s3://([^/]*)/(.+).tif$")).isEmpty)
    assert(ItemId.derive("s3://b/x_201601_201602.tif", Some("_(\\d{6})")).isEmpty)
  }

  test("item id stem of a multi-byte name, a dot-file and a bare directory") {
    assert(ItemId.derive("s3://b/p/日本_über.nc.tif", None).contains("日本_über.nc"))
    assert(ItemId.derive("s3://b/日本/.hidden", None).contains(".hidden"))
    assert(ItemId.derive("s3://b/ü.x/", None).contains(""))
    assert(ItemId.derive("日本", None).contains("日本"))
  }

  // ── differential: the byte scanner against the four-regex table ─────
  /** The regex-table implementation the byte scanner replaced, kept as
    * the reference: the first strategy with any hit wins, every hit is
    * parsed through java.time. */
  private object RegexTable {
    import java.time.LocalDateTime
    private val strategies: Seq[(scala.util.matching.Regex, String => LocalDateTime)] = Seq(
      ("_(\\d{4}-\\d{2}-\\d{2})".r,
        (s: String) => LocalDate.parse(s).atStartOfDay()),
      ("_(\\d{8})".r,
        (s: String) => LocalDate.of(s.substring(0, 4).toInt, s.substring(4, 6).toInt,
          s.substring(6, 8).toInt).atStartOfDay()),
      ("_(\\d{6})".r,
        (s: String) => LocalDate.of(s.substring(0, 4).toInt, s.substring(4, 6).toInt, 1)
          .atStartOfDay()),
      ("_(\\d{4})".r,
        (s: String) => LocalDate.of(s.toInt, 1, 1).atStartOfDay()))

    private def micros(dt: LocalDateTime): Long = dt.toEpochSecond(ZoneOffset.UTC) * 1000000L

    def extract(filename: String, datetimeRange: Option[String]): Option[Extracted] =
      try {
        val dates = strategies.iterator
          .map { case (re, parse) => re.findAllMatchIn(filename).map(_.group(1)).toSeq -> parse }
          .find(_._1.nonEmpty)
          .map { case (hits, parse) => hits.map(parse) }
          .getOrElse(Seq.empty)
        dates match {
          case Seq() => None
          case many if many.size > 1 =>
            Some(Extracted(Some(micros(many.min)), Some(micros(many.max)), None))
          case Seq(single) =>
            val d = single.toLocalDate
            datetimeRange match {
              case Some("month") => Some(Extracted(Some(micros(d.withDayOfMonth(1).atStartOfDay())),
                Some(micros(d.withDayOfMonth(d.lengthOfMonth()).atStartOfDay())), None))
              case Some("year") => Some(Extracted(Some(micros(d.withDayOfYear(1).atStartOfDay())),
                Some(micros(LocalDate.of(d.getYear, 12, 31).atStartOfDay())), None))
              case Some(_) => None
              case None => Some(Extracted(None, None, Some(micros(single))))
            }
        }
      } catch { case _: RuntimeException => None }

    def stem(path: String): String = {
      val name = path.substring(path.lastIndexOf('/') + 1)
      val dot = name.lastIndexOf('.')
      if (dot > 0) name.substring(0, dot) else name
    }
  }

  private def agrees(fn: String, rng: Option[String]): Unit = {
    val want = RegexTable.extract(fn, rng)
    assert(FilenameDates.extractDatesOrNull(fn, rng) == want, s"for $fn rng=$rng")
    if (want.isEmpty) intercept[IllegalArgumentException](ex(fn, rng))
    else assert(ex(fn, rng) == want.get, s"strict, for $fn rng=$rng")
  }

  private val ranges = Seq(None, Some("month"), Some("year"), Some("week"))

  test("differential: planted edge cases agree with the regex table") {
    val planted = Seq(
      "s3://b/x_123456789.tif", // an 8-digit hit inside 9 digits
      "s3://b/x_2016_2017.tif", // several hits → (min, max)
      "s3://b/x_20160230.tif", "s3://b/x_2016-02-30.tif", // invalid, no fall-through
      "s3://b/x_20000229.tif", "s3://b/x_19000229.tif", // leap days
      "s3://b/x_0000.tif", // year zero
      "s3://ü/日本_20160101ü.tif", "s3://b/ü_2016-03-04日本", "s3://b/日本_201605",
      "s3://b/x_2016-03-04_1999.tif", "s3://b/x_2016-3-04_1999.tif", "s3://b/_", "",
      "s3://b/x__2016", "s3://b/x_2016-03-0", "s3://b/x_201613_2016.tif")
    planted.foreach(fn => ranges.foreach(agrees(fn, _)))

    assert(FilenameDates.extractDatesOrNull("s3://b/x_123456789.tif", None).isEmpty)
    assert(ex("s3://b/x_2016_2017.tif", Some("week")) ==
      Extracted(Some(us(2016, 1, 1)), Some(us(2017, 1, 1)), None))
    assert(FilenameDates.extractDatesOrNull("s3://b/x_20160230.tif", None).isEmpty)
    assert(FilenameDates.extractDatesOrNull("s3://b/x_2016-02-30.tif", None).isEmpty)
    assert(ex("s3://b/x_20000229.tif", None) == Extracted(None, None, Some(us(2000, 2, 29))))
    assert(FilenameDates.extractDatesOrNull("s3://b/x_19000229.tif", None).isEmpty)
    assert(ex("s3://b/x_0000.tif", Some("year")) ==
      Extracted(Some(us(0, 1, 1)), Some(us(0, 12, 31)), None))
    assert(ex("s3://ü/日本_20160101ü.tif", Some("month")) ==
      Extracted(Some(us(2016, 1, 1)), Some(us(2016, 1, 31)), None))
    assert(FilenameDates.extractDatesOrNull("s3://b/x_2016-03-04.tif", Some("week")).isEmpty)
  }

  test("differential: 10k generated names agree with the regex table") {
    val r = new scala.util.Random(0x5eed)
    def digits(k: Int) = (1 to k).map(_ => ('0' + r.nextInt(10)).toChar).mkString
    def plausible(): String = {
      val y = "%04d".format(if (r.nextInt(8) == 0) r.nextInt(10000) else 1890 + r.nextInt(150))
      val m = "%02d".format(r.nextInt(14))
      val d = "%02d".format(r.nextInt(33))
      r.nextInt(5) match {
        case 0 => s"$y-$m-$d"
        case 1 => s"$y$m$d"
        case 2 => s"$y$m"
        case 3 => y
        case _ => s"$y-$m"
      }
    }
    val pieces: Seq[() => String] = Seq(
      () => "_", () => "_", () => "-", () => ".", () => "/", () => "x", () => "tif",
      () => "ü", () => "日本", () => "\uD83C\uDF0D", () => digits(1 + r.nextInt(10)),
      () => plausible(), () => plausible(), () => "_" + plausible())
    (1 to 10000).foreach { _ =>
      val fn = "s3://b/" + (1 to 1 + r.nextInt(8)).map(_ => pieces(r.nextInt(pieces.size))())
        .mkString
      agrees(fn, ranges(r.nextInt(ranges.size)))
      assert(ItemId.derive(fn, None).contains(RegexTable.stem(fn)), fn)
    }
  }
}
