package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The (filename, optional string) argument pair both ingest expressions
  * take: the second argument may be NULL per row — it selects a rule
  * rather than nulling the result — so neither uses `nullSafeEval`. */
private[functions] trait FilenameArgs extends BinaryExpression {

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType &&
      (right.dataType == StringType || right.dataType == NullType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects (string, string) arguments")

  /** Generated code: NULL for a NULL filename, else `call(filename,
    * optional)` with a NULL optional passed as `null`, and a `null` result
    * read as NULL. */
  protected def genCall(ctx: CodegenContext, ev: ExprCode)(
      call: (String, String) => String): ExprCode = {
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    ev.copy(code = code"""
      ${l.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = null;
      if (!${l.isNull}) {
        ${r.code}
        ${ev.value} = ${call(l.value.toString,
          s"(${r.isNull} ? null : (UTF8String) ${r.value})")};
      }
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }
}

/** `extract_filename_dates(filename, datetime_range)` — the ordered-
  * strategy filename→date rule of reference build-stac/utils/regex.py:30-83
  * (A13) as a native Catalyst expression returning
  * `struct<start_datetime: timestamp, end_datetime: timestamp,
  * single_datetime: timestamp>`.
  *
  * A record with no extractable date yields a NULL struct rather than a
  * task failure — at scale the caller routes those to a dead-letter side
  * output (SURVEY §2.3 B7) exactly like the reference's DLQ.
  *
  * It runs once per ingested record, so it carries real codegen (a call
  * to the static [[FilenameDates.eval]]): a `CodegenFallback` node would
  * take the whole STAC-build projection out of whole-stage codegen.
  */
case class ExtractFilenameDates(left: Expression, right: Expression) extends FilenameArgs {

  override def dataType: DataType = ExtractFilenameDates.schema
  override def prettyName: String = "extract_filename_dates"

  override def eval(input: InternalRow): Any = {
    val fn = left.eval(input)
    if (fn == null) null
    else FilenameDates.eval(fn.asInstanceOf[UTF8String],
      right.eval(input).asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    genCall(ctx, ev)((fn, rng) => s"graft.functions.FilenameDates.eval($fn, $rng)")

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
  * joined with "-", else (NULL `id_regex`) the filename stem. NULL when
  * the regex does not match exactly once (the reference's `assert` —
  * again DLQ-routable rather than task-fatal).
  */
case class DeriveItemId(left: Expression, right: Expression) extends FilenameArgs {

  override def dataType: DataType = StringType
  override def prettyName: String = "derive_item_id"

  // Transient: each task's deserialized expression compiles its own.
  @transient private[this] lazy val compiled = new ItemIdRegex

  override def eval(input: InternalRow): Any = {
    val fn = left.eval(input)
    if (fn == null) null
    else ItemId.eval(fn.asInstanceOf[UTF8String],
      right.eval(input).asInstanceOf[UTF8String], compiled)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val compiled = ctx.addMutableState(classOf[ItemIdRegex].getName, "idRegex",
      v => s"$v = new ${classOf[ItemIdRegex].getName}();")
    genCall(ctx, ev)((fn, rx) => s"graft.functions.ItemId.eval($fn, $rx, $compiled)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
