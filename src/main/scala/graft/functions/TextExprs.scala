package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.SqlAccess
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native expressions for the text-dedup hot path. Both compute in one
  * fused JVM loop what the composable HOF formulations evaluate through
  * per-element interpreted lambdas; `doGenCode` emits a single static call,
  * so the surrounding projection stays inside whole-stage codegen. Outputs
  * are bit-identical to the HOF forms they replace (pinned by
  * TextExprsSpec), so DuckDB oracle hashes are unaffected.
  */
case class WordNGrams(child: Expression, n: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if n >= 1 => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"word_ngrams requires (array<string>, n >= 1), got ${child.dataType.simpleString}, n=$n")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_ngrams"

  override def nullSafeEval(input: Any): Any =
    WordNGrams.compute(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WordNGrams.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordNGrams {
  private val SPACE = UTF8String.fromString(" ")

  /** Space-joined n-gram instances; identical to
    * `transform(sequence(1, size(ws)-n+1), i -> concat_ws(' ', ws[i]...))`.
    * A window containing a NULL word emits no gram (the input type accepts
    * containsNull=true from arbitrary SQL callers; a silent NPE per task is
    * the alternative). */
  def compute(words: ArrayData, n: Int): ArrayData = {
    val len = words.numElements()
    val m = math.max(0, len - n + 1)
    val out = new scala.collection.mutable.ArrayBuffer[Any](m)
    val gram = new Array[UTF8String](n)
    var i = 0
    while (i < m) {
      var j = 0
      var ok = true
      while (j < n && ok) {
        if (words.isNullAt(i + j)) ok = false
        else { gram(j) = words.getUTF8String(i + j); j += 1 }
      }
      if (ok) out += UTF8String.concatWs(SPACE, gram: _*)
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** All k Carter-Wegman min-hashes of a shingle array in one pass:
  * one MD5 per shingle, h1/h2 = first/second 4 digest bytes as unsigned
  * big-endian (exactly the hex-nibble arithmetic of the SQL formulation,
  * without materializing the hex string), hash_i = (h1 + i*h2) mod 2^31-1,
  * running min per i. Returns array<bigint> of length k; NULL for an empty
  * shingle array (matching array_min-over-empty semantics). */
case class MinhashSignatures(child: Expression, k: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if k >= 1 => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"minhash_signatures requires (array<string>, k >= 1), got ${child.dataType.simpleString}, k=$k")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_signatures"

  override def nullSafeEval(input: Any): Any =
    MinhashSignatures.compute(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.MinhashSignatures.compute($c, $k);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinhashSignatures {
  private val P = 2147483647L

  def compute(shingles: ArrayData, k: Int): ArrayData = {
    val n = shingles.numElements()
    if (n == 0) return null
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val md = java.security.MessageDigest.getInstance("MD5")
    var contributed = 0
    var i = 0
    while (i < n) {
      if (shingles.isNullAt(i)) { i += 1 }
      else {
      contributed += 1
      md.reset()
      val d = md.digest(shingles.getUTF8String(i).getBytes)
      val h1 = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      val h2 = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) | ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
      var j = 0
      while (j < k) {
        val v = (h1 + j * h2) % P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
      }
    }
    // all-null input degenerates to the empty-array case
    if (contributed == 0) null else new GenericArrayData(mins)
  }
}

/** 32-bit SimHash fingerprint of a shingle array in one pass: per shingle,
  * v = big-endian uint32 of the first 4 MD5 digest bytes (≡ the first 8 hex
  * chars of `md5(s)` — bit j of v is exactly what the hex-nibble SQL
  * formulation extracts), each bit votes +1/−1, fp bit j set iff the vote
  * sum is positive. Bit-identical to the aggregate/zip_with HOF chain it
  * replaces (pinned by TextExprsSpec), which interpreted three lambdas per
  * shingle×32 bits; this is one JVM call per document. NULL shingles are
  * skipped; an empty array yields 0 (the HOF's all-zero-sums fixed point). */
case class SimhashFingerprint(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"simhash_fingerprint requires array<string>, got ${child.dataType.simpleString}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_fingerprint"

  override def nullSafeEval(input: Any): Any =
    SimhashFingerprint.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SimhashFingerprint.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimhashFingerprint {
  def compute(shingles: ArrayData): Long = {
    val n = shingles.numElements()
    val sums = new Array[Int](32)
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        md.reset()
        val d = md.digest(shingles.getUTF8String(i).getBytes)
        val v = ((d(0) & 0xff) << 24) | ((d(1) & 0xff) << 16) | ((d(2) & 0xff) << 8) | (d(3) & 0xff)
        var j = 0
        while (j < 32) {
          sums(j) += (if (((v >>> j) & 1) == 1) 1 else -1)
          j += 1
        }
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < 32) {
      if (sums(j) > 0) fp |= 1L << j
      j += 1
    }
    fp
  }
}

/** All ordered 2-element combinations of a SORTED posting list (array of
  * 2-field structs) as array<struct<a_f1, b_f1, a_f2, b_f2>> — the pair
  * generation step of an inverted-index join-free intersection count. One
  * fused loop; the HOF formulation (nested transform + slice + flatten)
  * interprets three lambdas per produced pair and materializes the slice
  * arrays. Output field names/types derive from the input struct. */
case class OrderedPairs(child: Expression) extends UnaryExpression {

  private lazy val elemStruct: StructType =
    child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s: StructType, _) if s.length == 2 => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"ordered_pairs requires array<struct<_,_>> (2 fields), got ${child.dataType.simpleString}")
  }

  override def dataType: DataType = {
    val f = elemStruct.fields
    // propagate input field nullability: a caller may pass structs with
    // nullable fields; declaring false would write nulls through a
    // non-nullable schema (undefined under codegen)
    ArrayType(StructType(Seq(
      StructField(s"a_${f(0).name}", f(0).dataType, f(0).nullable),
      StructField(s"b_${f(0).name}", f(0).dataType, f(0).nullable),
      StructField(s"a_${f(1).name}", f(1).dataType, f(1).nullable),
      StructField(s"b_${f(1).name}", f(1).dataType, f(1).nullable))),
      containsNull = false)
  }

  override def prettyName: String = "ordered_pairs"

  override def nullSafeEval(input: Any): Any =
    OrderedPairs.compute(input.asInstanceOf[ArrayData],
      elemStruct.fields(0).dataType, elemStruct.fields(1).dataType)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t0 = ctx.addReferenceObj("dt0", elemStruct.fields(0).dataType, classOf[DataType].getName)
    val t1 = ctx.addReferenceObj("dt1", elemStruct.fields(1).dataType, classOf[DataType].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.OrderedPairs.compute($c, $t0, $t1);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object OrderedPairs {
  def compute(ids: ArrayData, t0: DataType, t1: DataType): ArrayData = {
    val n = ids.numElements()
    val out = new scala.collection.mutable.ArrayBuffer[Any](n * (n - 1) / 2)
    var i = 0
    while (i < n) {
      if (ids.isNullAt(i)) { i += 1 }
      else {
      val a = ids.getStruct(i, 2)
      val a0 = a.get(0, t0); val a1 = a.get(1, t1)
      var j = i + 1
      while (j < n) {
        if (!ids.isNullAt(j)) {
          val b = ids.getStruct(j, 2)
          out += org.apache.spark.sql.catalyst.InternalRow(a0, b.get(0, t0), a1, b.get(1, t1))
        }
        j += 1
      }
      i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }
}

/** The distinct terms of an `array<string>` with their counts, as
  * `array<struct<term, tf>>` in first-appearance order — a per-row
  * `GROUP BY term` in one hash pass: `explode(term_counts(a))` equals
  * `explode(a)` grouped by (row, term) and counted, as multisets (a NULL
  * element is one more term; an empty array gives no rows, a NULL array
  * is NULL). Counting inside the row needs no (row, term) shuffle, and
  * its rows are each term once per row, so a document frequency is a
  * count over the same rows (q29). */
case class TermCounts(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"term_counts requires array<string>, got ${child.dataType.simpleString}")
  }

  override def dataType: DataType = {
    val termNullable = child.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _ => true
    }
    ArrayType(StructType(Seq(
      StructField("term", StringType, termNullable),
      StructField("tf", LongType, nullable = false))), containsNull = false)
  }

  override def prettyName: String = "term_counts"

  override def nullSafeEval(input: Any): Any = TermCounts.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.functions.TermCounts.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TermCounts {
  def apply(terms: Column): Column = SqlAccess.column(TermCounts(SqlAccess.expression(terms)))

  def compute(terms: ArrayData): ArrayData = {
    val n = terms.numElements()
    // a java HashMap takes the NULL element as one more key
    val slot = new java.util.HashMap[UTF8String, Integer](math.max(16, n * 2))
    val keys = new Array[UTF8String](n)
    val counts = new Array[Long](n)
    var m = 0
    var i = 0
    while (i < n) {
      val t = if (terms.isNullAt(i)) null else terms.getUTF8String(i)
      val j = slot.get(t)
      if (j == null) {
        slot.put(t, m)
        keys(m) = t
        counts(m) = 1L
        m += 1
      } else counts(j) += 1L
      i += 1
    }
    new GenericArrayData(Array.tabulate[Any](m)(j => InternalRow(keys(j), counts(j))))
  }
}
