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
  }
}
