package graft

import scala.util.Try

import graft.functions.{IntDot, IntL2}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
import org.scalacheck.{Gen, rng}

/** `int_dot`/`int_l2` against the `aggregate(zip_with)` HOFs they replace,
  * on every input: NULL arrays and elements, ragged lengths, overflow —
  * with ANSI arithmetic on (both raise) and off (both wrap), through
  * whole-stage codegen and interpreted `eval`. */
class IntDotSpec extends SparkSpec {

  private val hofs = Map(
    "int_dot" -> "aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (s, x) -> s + x)",
    "int_l2" -> "aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0L, (s, x) -> s + x)")

  private val big = Gen.oneOf(Long.MaxValue, Long.MinValue, Long.MaxValue / 2, 3037000500L, -3037000500L)
  private val elem: Gen[java.lang.Long] = Gen.frequency(
    6 -> Gen.chooseNum(-20000L, 20000L).map(Long.box),
    1 -> big.map(Long.box),
    1 -> Gen.const(null))
  private val array: Gen[Seq[java.lang.Long]] = Gen.frequency(
    12 -> Gen.choose(0, 6).flatMap(Gen.listOfN(_, elem)),
    1 -> Gen.const(null))
  private val pair: Gen[(Seq[java.lang.Long], Seq[java.lang.Long])] = for {
    a <- array
    ragged <- Gen.frequency(3 -> false, 1 -> true)
    b <- if (ragged || a == null) array else Gen.listOfN(a.size, elem)
  } yield (a, b)

  private def schema(containsNull: Boolean) = StructType(Seq(
    StructField("a", ArrayType(LongType, containsNull)), StructField("b", ArrayType(LongType, containsNull))))

  /** The value, or "overflow" when evaluation raised ARITHMETIC_OVERFLOW. */
  private def outcome(v: => Any): Any = Try(v).recover {
    case e: Throwable if Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("ARITHMETIC_OVERFLOW")) => "overflow"
  }.get

  private def withAnsi[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Through codegen: one job per row, so a raising row cannot hide others. */
  private def viaSql(f: String, a: Seq[java.lang.Long], b: Seq[java.lang.Long], containsNull: Boolean): (Any, Any) = {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(a, b)), 1), schema(containsNull))
    (outcome(df.select(expr(s"$f(a, b)")).head.get(0)), outcome(df.select(expr(hofs(f))).head.get(0)))
  }

  private def lit(xs: Seq[java.lang.Long], containsNull: Boolean): Literal =
    Literal.create(if (xs == null) null else new GenericArrayData(xs.toArray[Any]), ArrayType(LongType, containsNull))

  test("int_dot/int_l2 == the aggregate(zip_with) HOF on nulls, ragged lengths and overflow (property)") {
    GraftExtensions.register(spark)
    val params = Gen.Parameters.default
    val cases = (1 to 40).map(i => pair(params, rng.Seed(i.toLong)).get)
    assert(cases.exists { case (a, b) => a != null && b != null && a.size != b.size })
    for (ansi <- Seq(true, false)) withAnsi(ansi) {
      cases.zipWithIndex.foreach { case ((a, b), i) =>
        val noNulls = Seq(a, b).forall(xs => xs != null && !xs.contains(null))
        for (f <- hofs.keys; containsNull <- if (noNulls) Seq(true, false) else Seq(true)) {
          val (native, hof) = viaSql(f, a, b, containsNull)
          assert(native == hof, s"$f ansi=$ansi containsNull=$containsNull case $i: a=$a b=$b")
          val x = lit(a, containsNull)
          val y = lit(b, containsNull)
          val interpreted = outcome(if (f == "int_dot") IntDot(x, y, ansi).eval() else IntL2(x, y, ansi).eval())
          assert(interpreted == hof, s"$f eval ansi=$ansi case $i: a=$a b=$b")
        }
      }
    }
  }

  test("a non-null element type generates no per-element null check") {
    def code(containsNull: Boolean): String = {
      val ctx = new org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
      IntDot(lit(Seq(1L, 2L).map(Long.box), containsNull), lit(Seq(3L, 4L).map(Long.box), containsNull))
        .genCode(ctx).code.toString
    }
    assert(code(containsNull = true).contains("isNullAt"))
    assert(!code(containsNull = false).contains("isNullAt"))
  }
}
