package graft.functions

import scala.util.matching.Regex

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `extract_filename_dates(filename, datetime_range)` — the ordered-
  * strategy filename→date rule of reference build-stac/utils/regex.py:30-83
  * (A13) as a native Catalyst expression returning
  * `struct<start_datetime: timestamp, end_datetime: timestamp,
  * single_datetime: timestamp>`.
  *
  * A record with no extractable date yields a NULL struct rather than a
  * task failure — at scale the caller routes those to a dead-letter side
  * output (SURVEY §2.3 B7) exactly like the reference's DLQ.
  */
case class ExtractFilenameDates(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = ExtractFilenameDates.schema
  override def nullable: Boolean = true
  override def prettyName: String = "extract_filename_dates"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (left.dataType == StringType &&
      (right.dataType == StringType || right.dataType == NullType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (string, string) arguments")
  }

  // CodegenFallback (not doGenCode): this runs at discovery scale (one
  // row per FILE, not per record), where interpreted eval is immaterial —
  // unlike the per-pair sketch expressions which carry real codegen.
  override def eval(input: InternalRow): Any = {
    val fn = left.eval(input)
    if (fn == null) return null
    val rng = right.eval(input) match {
      case null => None
      case s => Some(s.toString)
    }
    FilenameDates.extractDatesOrNull(fn.toString, rng) match {
      case None => null
      case Some(e) =>
        InternalRow(e.start.map(Long.box).orNull, e.end.map(Long.box).orNull,
          e.single.map(Long.box).orNull)
    }
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object ExtractFilenameDates {
  val schema: StructType = StructType(Seq(
    StructField("start_datetime", TimestampType, nullable = true),
    StructField("end_datetime", TimestampType, nullable = true),
    StructField("single_datetime", TimestampType, nullable = true)))
}

/** `derive_item_id(filename, id_regex)` — reference A15
  * (build-stac/utils/events.py:22-29): capture groups of the unique match
  * joined with "-", else the filename stem. NULL when the regex does not
  * match exactly once (the reference's `assert` — again DLQ-routable
  * rather than task-fatal).
  */
case class DeriveItemId(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "derive_item_id"

  // the last id_regex seen and its compiled pattern, as one immutable
  // pair (a racing reader sees the old pair or the new one, never a mix).
  // Transient: each task's deserialized expression compiles its own.
  @transient private[this] var compiled: (String, Regex) = _

  override def eval(input: InternalRow): Any = {
    val fn = left.eval(input)
    if (fn == null) return null
    val id = right.eval(input) match {
      case null => Some(ItemId.stem(fn.toString))
      case s =>
        val rx = s.toString
        var c = compiled
        if (c == null || c._1 != rx) { c = (rx, rx.r); compiled = c }
        ItemId.byRegex(fn.toString, c._2)
    }
    id.map(UTF8String.fromString).orNull
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
