package graft

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.{Random, Try}

import graft.functions.JsonRecord
import graft.model.Schemas
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, JsonToStructs}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateSafeProjection
import org.apache.spark.sql.functions.{col, from_json}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** [[JsonRecord]] against Spark's `from_json` (`JsonToStructs`) on every
  * input: random, malformed, nested, duplicate-key and invalid-UTF-8
  * values, struct and map schemas, through generated code and
  * interpreted `eval`. A value either parses to the same result in both
  * or raises the same error condition in both. */
class JsonRecordSpec extends SparkSpec {

  private val schemas: Seq[DataType] = Seq(
    StructType.fromDDL("k INT"),
    StructType.fromDDL("a INT, b STRING, c DOUBLE, d ARRAY<INT>, e STRUCT<x: BIGINT, y: STRING>, " +
      "f MAP<STRING, INT>, t TIMESTAMP, dt DATE, z BOOLEAN, dec DECIMAL(10, 2)"),
    StructType.fromDDL("a INT, b STRING, _corrupt_record STRING"),
    MapType(StringType, StringType),
    Schemas.rawLog, Schemas.incidentAlert, Schemas.escalation)

  private val keys = Seq("k", "a", "b", "c", "d", "e", "f", "t", "dt", "z", "dec", "x", "y", "A", "",
    "service", "level", "latency_ms", "timestamp", "window_start", "error_rate", "severity", "_corrupt_record")

  private def str(r: Random): String = {
    val parts = Seq("a", "b", "日本", "é", "😀", "\\\"", "\\\\", "\\n", "\\u00e9", "\\ud83d\\ude00", " ", "42",
      "2024-01-02T03:04:05Z", "2024-01-02", "\\uFEFF")
    "\"" + Seq.fill(r.nextInt(4))(parts(r.nextInt(parts.size))).mkString + "\""
  }

  private def value(r: Random, depth: Int): String = r.nextInt(12) match {
    case 0 => (r.nextInt(2000) - 1000).toString
    case 1 => (r.nextDouble() * 2000 - 1000).toString
    case 2 | 3 => str(r)
    case 4 => Seq("true", "false", "null")(r.nextInt(3))
    case 5 if depth < 3 => obj(r, depth + 1)
    case 6 if depth < 3 => Seq.fill(r.nextInt(4))(value(r, depth + 1)).mkString("[", ",", "]")
    case 7 => Seq("1e400", "-0", "-0.0", "123456789012345678901234567890", "NaN", "Infinity", "-Infinity",
      "0x1F", "01", "1.5e3")(r.nextInt(10))
    case 8 => "\"" + Seq("2024-01-02T03:04:05Z", "2024-01-02 03:04:05", "2024-13-45", "1700000000")(r.nextInt(4)) + "\""
    case _ => r.nextInt(20).toString
  }

  /** An object; keys drawn with replacement, so duplicates occur. */
  private def obj(r: Random, depth: Int): String =
    Seq.fill(r.nextInt(6))(s"\"${keys(r.nextInt(keys.size))}\":${value(r, depth)}").mkString("{", ",", "}")

  /** A record: an object, array or bare value, often damaged. */
  private def record(r: Random): Array[Byte] = {
    val base = r.nextInt(10) match {
      case 0 => value(r, 0)
      case 1 => Seq.fill(r.nextInt(3))(obj(r, 1)).mkString("[", ",", "]")
      case _ => obj(r, 0)
    }
    val text = r.nextInt(8) match {
      case 0 => base.take(r.nextInt(base.length + 1))                      // truncated
      case 1 => base + Seq("}", "x", " {}", "\n", ",", "]")(r.nextInt(6))     // trailing garbage
      case 2 => Seq("", " ", "﻿" + base, "{'k': 1}", "{k: 1}", "{\"k\":1,}")(r.nextInt(6))
      case _ => base
    }
    val bytes = text.getBytes(UTF_8)
    if (r.nextInt(4) != 0) bytes
    else {
      // invalid UTF-8: a lone lead or continuation byte, a truncated or
      // overlong sequence, an encoded surrogate, a byte no UTF-8 has
      val bad = Seq(Array(0xC3), Array(0x80), Array(0xE6, 0x97), Array(0xC0, 0xAF), Array(0xED, 0xA0, 0x80),
        Array(0xFF), Array(0xF4, 0x90, 0x80, 0x80))(r.nextInt(7)).map(_.toByte)
      val at = r.nextInt(bytes.length + 1)
      bytes.take(at) ++ bad ++ bytes.drop(at)
    }
  }

  private val records: Seq[Array[Byte]] = {
    val r = new Random(11)
    Seq.fill(1500)(record(r)) ++ Seq("{\"k\":1,\"k\":2}", "{\"a\":\"1\",\"a\":\"2\"}", "{\"k\":{\"k\":1}}")
      .map(_.getBytes(UTF_8)) :+ null
  }

  /** The Scala value, or the error condition (or class) evaluation raised. */
  private def outcome(e: Expression, eval: InternalRow => Any, in: InternalRow): String =
    Try(eval(in)).map(v => String.valueOf(CatalystTypeConverters.convertToScala(v, e.dataType)))
      .recover { case t: Throwable =>
        t match {
          case s: org.apache.spark.SparkThrowable if s.getCondition != null => s"error ${s.getCondition}"
          case other => s"error ${other.getClass.getName}"
        }
      }.get

  test("json_record == from_json on random, malformed, nested, duplicate-key and invalid-UTF-8 values (property)") {
    for (schema <- schemas) {
      val in = BoundReference(0, StringType, nullable = true)
      val ref = JsonToStructs(schema, Map.empty, in, Some("UTC"))
      val got = JsonRecord(in, schema, Some("UTC"))
      assert(got.dataType == ref.dataType, s"$schema: ${got.dataType} vs ${ref.dataType}")
      val gen = Seq(ref, got).map(e => GenerateSafeProjection.generate(Seq(e)))
      records.foreach { b =>
        val row = InternalRow(if (b == null) null else UTF8String.fromBytes(b))
        val text = if (b == null) "NULL" else new String(b, UTF_8)
        val want = outcome(ref, ref.eval, row)
        assert(outcome(got, got.eval, row) == want, s"interpreted, $schema: $text")
        assert(outcome(got, r => gen(1)(r).get(0, got.dataType), row) ==
          outcome(ref, r => gen(0)(r).get(0, ref.dataType), row), s"codegen, $schema: $text")
      }
    }
  }

  test("json_record == from_json in a query, codegen and interpreted, on the generated values and the fixture's props") {
    val schema = Schemas.incidentAlert
    val values = spark.createDataFrame(spark.sparkContext.parallelize(records.map(Row(_)), 3),
      StructType(Seq(StructField("b", BinaryType)))).select(col("b").cast("string").as("s"))
    val props = graft.oracle.Tables.table(spark, sf0001, "events").select(col("props").as("s"))
    EvalModes.foreach(spark) { mode =>
      for ((df, sch) <- Seq(values -> schema, props -> StructType.fromDDL("k INT"),
                            props -> MapType(StringType, StringType))) {
        val rows = df.select(from_json(col("s"), sch).as("ref"), JsonRecord(col("s"), sch).as("got")).collect()
        assert(rows.length == df.count())
        rows.foreach(r => assert(String.valueOf(r.get(1)) == String.valueOf(r.get(0)), s"$mode $sch"))
      }
    }
  }
}
