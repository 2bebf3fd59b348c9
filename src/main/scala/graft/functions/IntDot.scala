package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, MathUtils}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** A left-to-right int64 sum of one term per element pair of two
  * `array<bigint>` columns, fused into one loop — the native form of
  * `aggregate(zip_with(a, b, (x, y) -> term), 0L, (s, t) -> s + t)`, and
  * equal to it on every input:
  *  - NULL when either array is NULL, has a NULL element, or the lengths
  *    differ (`zip_with` pads the shorter array with NULLs);
  *  - in ANSI mode (`ansi`, the session's setting when the expression is
  *    built, as for Spark's own arithmetic) a term or a running sum that
  *    overflows raises ARITHMETIC_OVERFLOW, as the HOF does: every term of
  *    the common prefix is computed, and the sum up to the first NULL;
  *  - otherwise overflow wraps, as the HOF does.
  * The per-element NULL check is generated only for an array type with
  * `containsNull = true`; other callers keep the bare loop. */
abstract class IntPairSum extends BinaryExpression {

  def ansi: Boolean

  /** The term of one element pair (exact in ANSI mode). */
  protected def term(x: Long, y: Long): Long

  /** Java statements that set `t` to the term of `x` and `y`. */
  protected def termCode(x: String, y: String, t: String): String

  protected def add(a: Long, b: Long): Long = if (ansi) MathUtils.addExact(a, b) else a + b
  protected def mul(a: Long, b: Long): Long = if (ansi) MathUtils.multiplyExact(a, b) else a * b
  protected def sub(a: Long, b: Long): Long = if (ansi) MathUtils.subtractExact(a, b) else a - b

  /** Java for one exact-or-wrapping long operation. */
  protected def op(name: String, sym: String, a: String, b: String): String =
    if (ansi) s"org.apache.spark.sql.catalyst.util.MathUtils.${name}Exact($a, $b)" else s"($a $sym $b)"

  private def elemsNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  })

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def stringArgs: Iterator[Any] = Iterator(left, right)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var sum = 0L
    var sawNull = false
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) sawNull = true
      else {
        val t = term(x.getLong(i), y.getLong(i))
        if (!sawNull) sum = add(sum, t)
      }
      i += 1
    }
    if (sawNull || x.numElements() != y.numElements()) null else sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      val t = ctx.freshName("t")
      val sawNull = ctx.freshName("sawNull")
      val x = s"$a.getLong($i)"
      val y = s"$b.getLong($i)"
      val (declare, skipNull, accumulate, result) =
        if (elemsNullable) (
          s"boolean $sawNull = false;",
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { $sawNull = true; continue; }",
          s"if (!$sawNull) $sum = ${op("add", "+", sum, t)};",
          s"$sawNull || $a.numElements() != $b.numElements()")
        else ("", "", s"$sum = ${op("add", "+", sum, t)};", s"$a.numElements() != $b.numElements()")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $sum = 0L;
         |$declare
         |for (int $i = 0; $i < $n; $i++) {
         |  $skipNull
         |  long $t;
         |  ${termCode(x, y, t)}
         |  $accumulate
         |}
         |if ($result) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $sum;
         |}
       """.stripMargin
    })
}

/** Native int64 dot product — the SemDeDup/vector-curation pair-similarity
  * kernel (r17, guide "eliminate non-codegen expressions in the hot path").
  * The HOF it replaces, `aggregate(zip_with(a, b, (x, y) -> x * y), 0L,
  * (s, x) -> s + x)`, materializes the zipped product array and walks it
  * through interpreted lambda evaluation per candidate pair of the
  * within-cell join (the dominant stage of q53/q60/q61); this is one fused
  * loop inside whole-stage codegen. The quantized milli-unit vectors keep
  * every product far inside int64 (|q| ≤ ~10⁴, dim 64 ⇒ |dot| ≤ 6.4·10⁹). */
case class IntDot(left: Expression, right: Expression, ansi: Boolean = SQLConf.get.ansiEnabled)
    extends IntPairSum {

  override def prettyName: String = "int_dot"

  override protected def term(x: Long, y: Long): Long = mul(x, y)

  override protected def termCode(x: String, y: String, t: String): String =
    s"$t = ${op("multiply", "*", x, y)};"

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native int64 squared-L2 distance — the Lloyd assignment kernel
  * (KMeans.assign evaluates it per point per centroid; the HOF
  * `aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0L,
  * (s, x) -> s + x)` paid interpreted lambda walks and a zipped temp array
  * per evaluation). */
case class IntL2(left: Expression, right: Expression, ansi: Boolean = SQLConf.get.ansiEnabled)
    extends IntPairSum {

  override def prettyName: String = "int_l2"

  override protected def term(x: Long, y: Long): Long = {
    val d = sub(x, y)
    mul(d, d)
  }

  override protected def termCode(x: String, y: String, t: String): String =
    s"long ${t}d = ${op("subtract", "-", x, y)}; $t = ${op("multiply", "*", s"${t}d", s"${t}d")};"

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
