package graft.functions

import java.time.{LocalDate, LocalDateTime}
import scala.util.matching.Regex

/** Filename→date extraction (reference A13,
  * lambdas/build-stac/utils/regex.py:30-83) and calendar-range expansion
  * (regex.py:12-21), re-expressed as a pure Scala core shared by the
  * Catalyst expression [[ExtractFilenameDates]] and the unit tests.
  *
  * Semantics (the 13 golden cases of
  * reference build-stac/tests/test_regex.py:8-136 are the contract):
  *   - Ordered strategies `_(\d{4}-\d{2}-\d{2})`, `_(\d{8})`, `_(\d{6})`,
  *     `_(\d{4})`; the FIRST pattern with any (non-overlapping) hit wins
  *     and ALL its hits are parsed (regex.py:36-50).
  *   - 0 dates → error (regex.py:59-63); the Catalyst expression surfaces
  *     this as a null result so one bad record can be DLQ-routed instead
  *     of failing a 100 TB job (SURVEY §2.3 B7).
  *   - >1 dates → sorted, (min, max, null) (regex.py:66-70).
  *   - 1 date + range=month → (first-of-month, last-of-month, null); the
  *     end clamps like `relativedelta(day=31)` (regex.py:18-21).
  *   - 1 date + range=year → (Jan 1, Dec 31, null) (regex.py:12-15).
  *   - 1 date, no range → (null, null, date).
  *   - All timestamps are midnight UTC (date.replace(tzinfo=utc),
  *     regex.py:51-53) — the range end is *midnight of* the last day, not
  *     end-of-day.
  */
object FilenameDates {

  /** (start, end, single) as epoch micros UTC. */
  final case class Extracted(start: Option[Long], end: Option[Long], single: Option[Long])

  private val strategies: Seq[(Regex, String => LocalDateTime)] = Seq(
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

  private def micros(dt: LocalDateTime): Long = {
    val epochSec = dt.toEpochSecond(java.time.ZoneOffset.UTC)
    epochSec * 1000000L + dt.getNano / 1000L
  }

  private def monthRange(dt: LocalDateTime): (LocalDateTime, LocalDateTime) = {
    val d = dt.toLocalDate
    (d.withDayOfMonth(1).atStartOfDay(), d.withDayOfMonth(d.lengthOfMonth()).atStartOfDay())
  }

  private def yearRange(dt: LocalDateTime): (LocalDateTime, LocalDateTime) = {
    val d = dt.toLocalDate
    (d.withDayOfYear(1).atStartOfDay(), LocalDate.of(d.getYear, 12, 31).atStartOfDay())
  }

  /** Strict extraction: throws on zero dates or an unparseable hit, like
    * the reference (regex.py:59-63; strptime ValueError propagates).
    */
  def extractDates(filename: String, datetimeRange: Option[String]): Extracted = {
    val dates: Seq[LocalDateTime] = strategies.iterator
      .map { case (re, parse) => re.findAllMatchIn(filename).map(_.group(1)).toSeq -> parse }
      .find(_._1.nonEmpty)
      .map { case (hits, parse) => hits.map(parse) }
      .getOrElse(Seq.empty)

    dates match {
      case Seq() =>
        throw new IllegalArgumentException(
          s"No dates provided in filename=$filename. " +
            "At least one date in format yyyy-mm-dd is required.")
      case many if many.size > 1 =>
        val sorted = many.sorted
        Extracted(Some(micros(sorted.head)), Some(micros(sorted.last)), None)
      case Seq(single) =>
        datetimeRange match {
          case Some("month") =>
            val (s, e) = monthRange(single); Extracted(Some(micros(s)), Some(micros(e)), None)
          case Some("year") =>
            val (s, e) = yearRange(single); Extracted(Some(micros(s)), Some(micros(e)), None)
          case Some(other) =>
            throw new IllegalArgumentException(s"Unsupported datetime_range: $other")
          case None => Extracted(None, None, Some(micros(single)))
        }
    }
  }

  /** Lenient form for the Catalyst expression: bad records yield None
    * (callers side-output them, SURVEY §2.3 B7) instead of killing a task.
    */
  def extractDatesOrNull(filename: String, datetimeRange: Option[String]): Option[Extracted] =
    try Some(extractDates(filename, datetimeRange))
    catch { case _: RuntimeException => None }
}

/** Item-id derivation (reference A15, build-stac/utils/events.py:22-29).
  *
  * With `idRegex`: all non-overlapping matches are found; exactly one
  * match is required (the reference `assert len(...) == 1`); its capture
  * groups are joined with "-". (When the regex has a single group the
  * reference's `"-".join(str)` would interleave '-' between characters —
  * an accident of Python string iteration; we join group values, which is
  * what its own 2-group tests exercise, test_regex.py:139-168.)
  * Without: the filename stem — basename minus the final extension, like
  * `pathlib.Path(...).stem`.
  */
object ItemId {

  def stem(path: String): String = {
    val name = path.substring(path.lastIndexOf('/') + 1)
    val dot = name.lastIndexOf('.')
    if (dot > 0) name.substring(0, dot) else name
  }

  def derive(filename: String, idRegex: Option[String]): Option[String] =
    idRegex match {
      case None => Some(stem(filename))
      case Some(rx) => byRegex(filename, rx.r)
    }

  /** The `idRegex` branch of [[derive]] over an already-compiled pattern. */
  def byRegex(filename: String, rx: Regex): Option[String] = {
    val ms = rx.findAllMatchIn(filename).toSeq
    if (ms.size != 1) None
    else {
      val m = ms.head
      val groups = (1 to m.groupCount).map(m.group)
      Some(if (groups.nonEmpty) groups.mkString("-") else m.matched)
    }
  }
}
