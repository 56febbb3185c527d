package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/** Filename→date extraction (reference A13,
  * lambdas/build-stac/utils/regex.py:30-83) and calendar-range expansion
  * (regex.py:12-21), as one byte scanner shared by the Catalyst
  * expression [[ExtractFilenameDates]] (interpreted and generated code)
  * and the unit tests.
  *
  * Semantics (the 13 golden cases of
  * reference build-stac/tests/test_regex.py:8-136 are the contract):
  *   - Ordered strategies `_(\d{4}-\d{2}-\d{2})`, `_(\d{8})`, `_(\d{6})`,
  *     `_(\d{4})`; the FIRST pattern with any (non-overlapping) hit wins
  *     and ALL its hits are parsed (regex.py:36-50).
  *   - A hit of the winning pattern that is not a calendar date → error,
  *     with no fall-through to a later pattern (strptime's ValueError).
  *   - 0 dates → error (regex.py:59-63); the Catalyst expression surfaces
  *     this as a null result so one bad record can be DLQ-routed instead
  *     of failing a 100 TB job (SURVEY §2.3 B7).
  *   - >1 dates → sorted, (min, max, null) (regex.py:66-70).
  *   - 1 date + range=month → (first-of-month, last-of-month, null); the
  *     end clamps like `relativedelta(day=31)` (regex.py:18-21).
  *   - 1 date + range=year → (Jan 1, Dec 31, null) (regex.py:12-15).
  *   - 1 date, no range → (null, null, date); any other range → error.
  *   - All timestamps are midnight UTC (date.replace(tzinfo=utc),
  *     regex.py:51-53) — the range end is *midnight of* the last day, not
  *     end-of-day.
  *
  * The scan reads UTF-8 bytes: `_`, `-` and the ASCII digits (all that
  * Java's `\d` matches) are single bytes that never occur inside a
  * multi-byte sequence, so byte hits are exactly the regex hits. No
  * pattern can contain a second `_`, so every `_` starts an independent
  * candidate and non-overlapping matching needs no extra bookkeeping.
  */
object FilenameDates {

  /** (start, end, single) as epoch micros UTC. */
  final case class Extracted(start: Option[Long], end: Option[Long], single: Option[Long])

  private final val MicrosPerDay = 86400000000L
  private final val Days0000To1970 = 719528L

  // the strategies, in the order they are tried
  private final val IsoDay = 0 // _dddd-dd-dd
  private final val Day8 = 1 // _dddddddd
  private final val Month6 = 2 // _dddddd
  private final val Year4 = 3 // _dddd
  private final val NoHit = 4

  private val Month = UTF8String.fromString("month")
  private val Year = UTF8String.fromString("year")

  /** Strict extraction: throws on zero dates, an invalid calendar date or
    * an unsupported range, like the reference (regex.py:59-63; strptime
    * ValueError propagates).
    */
  def extractDates(filename: String, datetimeRange: Option[String]): Extracted =
    toExtracted(scan(UTF8String.fromString(filename),
      datetimeRange.map(UTF8String.fromString).orNull, strict = true))

  /** Lenient form: bad records yield None (callers side-output them,
    * SURVEY §2.3 B7) instead of killing a task.
    */
  def extractDatesOrNull(filename: String, datetimeRange: Option[String]): Option[Extracted] =
    Option(eval(UTF8String.fromString(filename),
      datetimeRange.map(UTF8String.fromString).orNull)).map(toExtracted)

  /** The expression's row: (start, end, single) epoch micros, or null for
    * a record with no valid date. `datetimeRange` may be null. Static, so
    * generated code calls it directly. */
  def eval(filename: UTF8String, datetimeRange: UTF8String): InternalRow =
    scan(filename, datetimeRange, strict = false)

  private def toExtracted(r: InternalRow): Extracted = {
    def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
    Extracted(opt(0), opt(1), opt(2))
  }

  private def scan(fn: UTF8String, range: UTF8String, strict: Boolean): InternalRow = {
    def fail(msg: => String): InternalRow =
      if (strict) throw new IllegalArgumentException(msg) else null

    val n = fn.numBytes()
    def isDigit(i: Int): Boolean = {
      val b = fn.getByte(i)
      b >= '0' && b <= '9'
    }
    def num(from: Int, len: Int): Int = { // over bytes already known to be digits
      var v = 0; var i = from
      while (i < from + len) { v = v * 10 + (fn.getByte(i) - '0'); i += 1 }
      v
    }

    var best = NoHit
    var hits = 0
    var invalid = false
    var minDay = Long.MaxValue
    var maxDay = Long.MinValue
    var y1, m1 = 0 // the first hit's year and month, for the range expansion

    var i = 0
    while (i < n) {
      if (fn.getByte(i) == '_') {
        val p = i + 1
        var run = 0 // leading digits after the '_', capped at 8
        while (run < 8 && p + run < n && isDigit(p + run)) run += 1
        val shape =
          if (run == 4 && p + 9 < n && fn.getByte(p + 4) == '-' &&
            isDigit(p + 5) && isDigit(p + 6) && fn.getByte(p + 7) == '-' &&
            isDigit(p + 8) && isDigit(p + 9)) IsoDay
          else if (run == 8) Day8
          else if (run >= 6) Month6
          else if (run >= 4) Year4
          else NoHit
        // a candidate fits every later shape its digits allow, never an
        // earlier one, so only the best shape seen so far collects hits
        if (shape < best) {
          best = shape; hits = 0; invalid = false
          minDay = Long.MaxValue; maxDay = Long.MinValue
        }
        if (shape == best && shape != NoHit) {
          val y = num(p, 4)
          val m = shape match {
            case IsoDay => num(p + 5, 2)
            case Day8 | Month6 => num(p + 4, 2)
            case _ => 1
          }
          val d = shape match {
            case IsoDay => num(p + 8, 2)
            case Day8 => num(p + 6, 2)
            case _ => 1
          }
          if (m < 1 || m > 12 || d < 1 || d > monthLength(y, m)) invalid = true
          else {
            val day = epochDay(y, m, d)
            if (hits == 0) { y1 = y; m1 = m }
            if (day < minDay) minDay = day
            if (day > maxDay) maxDay = day
          }
          hits += 1
        }
      }
      i += 1
    }

    if (hits == 0)
      fail(s"No dates provided in filename=$fn. " +
        "At least one date in format yyyy-mm-dd is required.")
    else if (invalid) fail(s"Invalid calendar date in filename=$fn")
    else if (hits > 1) between(minDay, maxDay)
    else if (range == null)
      new GenericInternalRow(Array[Any](null, null, minDay * MicrosPerDay))
    else if (range == Month) between(epochDay(y1, m1, 1), epochDay(y1, m1, monthLength(y1, m1)))
    else if (range == Year) between(epochDay(y1, 1, 1), epochDay(y1, 12, 31))
    else fail(s"Unsupported datetime_range: $range")
  }

  /** (start, end, null) at midnight UTC of two epoch days. */
  private def between(startDay: Long, endDay: Long): InternalRow =
    new GenericInternalRow(Array[Any](startDay * MicrosPerDay, endDay * MicrosPerDay, null))

  private def isLeap(y: Int): Boolean = (y & 3) == 0 && (y % 100 != 0 || y % 400 == 0)

  private def monthLength(y: Int, m: Int): Int = m match {
    case 2 => if (isLeap(y)) 29 else 28
    case 4 | 6 | 9 | 11 => 30
    case _ => 31
  }

  /** Proleptic-Gregorian epoch day of a valid date with year 0..9999
    * (the arithmetic of `java.time.LocalDate.toEpochDay`). */
  private def epochDay(y: Int, m: Int, d: Int): Long = {
    var total = 365L * y + (y + 3) / 4 - (y + 99) / 100 + (y + 399) / 400
    total += (367 * m - 362) / 12 + d - 1
    if (m > 2) total -= (if (isLeap(y)) 1 else 2)
    total - Days0000To1970
  }
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

  def derive(filename: String, idRegex: Option[String]): Option[String] =
    Option(eval(UTF8String.fromString(filename),
      idRegex.map(UTF8String.fromString).orNull, new ItemIdRegex)).map(_.toString)

  /** The expression's value: the stem when `idRegex` is null, else the
    * joined groups of its unique match, or null. Static, so generated code
    * calls it directly; `cache` holds the compiled pattern. */
  def eval(filename: UTF8String, idRegex: UTF8String, cache: ItemIdRegex): UTF8String =
    if (idRegex == null) stem(filename)
    else byRegex(filename.toString, cache.pattern(idRegex))

  /** Basename minus the final extension, over the UTF-8 bytes (`/` and
    * `.` are single bytes, so byte positions are character boundaries). */
  def stem(path: UTF8String): UTF8String = {
    val n = path.numBytes()
    var start = n
    while (start > 0 && path.getByte(start - 1) != '/') start -= 1
    var dot = n - 1
    while (dot > start && path.getByte(dot) != '.') dot -= 1
    val end = if (dot > start) dot else n
    if (start == 0 && end == n) path else path.copyUTF8String(start, end - 1)
  }

  private def byRegex(filename: String, rx: Pattern): UTF8String = {
    val m = rx.matcher(filename)
    if (!m.find()) return null
    val id = if (m.groupCount == 0) m.group() else (1 to m.groupCount).map(m.group).mkString("-")
    if (m.find()) null else UTF8String.fromString(id)
  }
}

/** The last `id_regex` seen and its compiled pattern, held as one
  * immutable pair (a racing reader sees the old pair or the new one,
  * never a mix). One per expression instance or generated class. */
final class ItemIdRegex {
  private[this] var last: (UTF8String, Pattern) = _

  def pattern(rx: UTF8String): Pattern = {
    var c = last
    if (c == null || c._1 != rx) { c = (rx.copy(), Pattern.compile(rx.toString)); last = c }
    c._2
  }
}
