package graft.functions

import com.fasterxml.jackson.core.JsonFactory
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{ExprUtils, Expression, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.json.{JSONOptions, JacksonParser}
import org.apache.spark.sql.catalyst.util.{FailureSafeParser, PermissiveMode}
import org.apache.spark.sql.graft.SqlAccess
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `from_json(json, schema)` with default options, parsed without a
  * reader per record. Spark's `JsonToStructs` wraps every value's bytes in
  * an `InputStreamReader` (`CreateJacksonParser.utf8String`), whose
  * decoder set-up dominates the parse of a short payload. This kernel runs
  * the same `JSONOptions` / `JacksonParser` / `FailureSafeParser` set-up
  * as Spark's `JsonToStructsEvaluator`, but hands Jackson the decoded
  * `record.toString`: the JDK's UTF-8 string decoding replaces a malformed
  * byte sequence with U+FFFD by the same rule as the reader's decoder, so
  * the parser sees the same characters and the result equals
  * `from_json` on every input (JsonRecordSpec checks struct and map
  * schemas on random, malformed, nested, duplicate-key and invalid-UTF-8
  * values, codegen and interpreted). PERMISSIVE mode, the session's time
  * zone and corrupt-record column name, as `from_json` without options.
  * A struct or map schema; the result type is the schema made
  * nullable, as for `from_json`.
  *
  * Unlike `from_json`, the optimizer does not prune the schema to the
  * fields a query reads: callers pass the schema they read. */
case class JsonRecord(child: Expression, schema: DataType, timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression {

  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = SqlAccess.asNullable(schema)
  override def prettyName: String = "json_record"

  override def checkInputDataTypes(): TypeCheckResult = (child.dataType, schema) match {
    case (StringType, _: StructType | _: MapType) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"json_record requires (string, struct|map schema), got " +
        s"(${child.dataType.simpleString}, ${schema.simpleString})")
  }

  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Option(timeZoneId))

  // read on the driver when the expression is built, as `from_json` does
  private val nameOfCorruptRecord = SQLConf.get.columnNameOfCorruptRecord

  @transient private lazy val evaluator =
    JsonRecordEvaluator(dataType, nameOfCorruptRecord, timeZoneId.get)

  override def nullSafeEval(json: Any): Any = evaluator.evaluate(json.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("jsonRecord", evaluator, classOf[JsonRecordEvaluator].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = (${CodeGenerator.boxedType(dataType)}) $ref.evaluate($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The per-task parser of [[JsonRecord]]: Spark's `JsonToStructsEvaluator`
  * with `CreateJacksonParser.string` over the decoded record in place of
  * `CreateJacksonParser.utf8String`. */
final case class JsonRecordEvaluator(nullableSchema: DataType, nameOfCorruptRecord: String,
                                     timeZoneId: String) {

  @transient private lazy val parser: FailureSafeParser[UTF8String] = {
    val options = new JSONOptions(Map.empty[String, String], timeZoneId, nameOfCorruptRecord)
    val (parserSchema, actualSchema) = nullableSchema match {
      case s: StructType =>
        ExprUtils.verifyColumnNameOfCorruptRecord(s, options.columnNameOfCorruptRecord)
        (s, StructType(s.filterNot(_.name == options.columnNameOfCorruptRecord)))
      case other => (StructType(Array(StructField("value", other))), other)
    }
    val raw = new JacksonParser(actualSchema, options, allowArrayAsStructs = false)
    val chars = (f: JsonFactory, record: UTF8String) => f.createParser(record.toString)
    new FailureSafeParser[UTF8String](
      input => raw.parse(input, chars, identity[UTF8String]),
      PermissiveMode, parserSchema, options.columnNameOfCorruptRecord)
  }

  private def convert(rows: Iterator[InternalRow]): Any =
    if (!rows.hasNext) null
    else nullableSchema match {
      case _: StructType => rows.next()
      case _: MapType => rows.next().getMap(0)
    }

  def evaluate(json: UTF8String): Any = if (json == null) null else convert(parser.parse(json))
}

object JsonRecord {
  /** `from_json(json, schema)` through [[JsonRecord]]. */
  def apply(json: Column, schema: DataType): Column =
    SqlAccess.column(JsonRecord(SqlAccess.expression(json), schema))
}
