package graft

import scala.util.Try

import graft.functions.{CosineSim, IntDot, IntL2, MinhashSignatures, SimhashFingerprint}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, rng}

/** The native array functions against the HOF formulations they replace,
  * on every input: NULL arrays and elements, ragged lengths, empty arrays,
  * and for `int_dot`/`int_l2` overflow — with ANSI arithmetic on (both
  * raise) and off (both wrap) — through whole-stage codegen and
  * interpreted `eval`. */
class IntDotSpec extends SparkSpec {

  private val hofs = Map(
    "int_dot" -> "aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (s, x) -> s + x)",
    "int_l2" -> "aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0L, (s, x) -> s + x)")

  private val big = Gen.oneOf(Long.MaxValue, Long.MinValue, Long.MaxValue / 2, 3037000500L, -3037000500L)
  private val elem: Gen[java.lang.Long] = Gen.frequency(
    6 -> Gen.chooseNum(-20000L, 20000L).map(Long.box),
    1 -> big.map(Long.box),
    1 -> Gen.const(null))
  private def arrayOf[T](elem: Gen[T]): Gen[Seq[T]] = Gen.frequency(
    12 -> Gen.choose(0, 6).flatMap(Gen.listOfN(_, elem)),
    1 -> Gen.const(null))
  private def pairOf[T](elem: Gen[T]): Gen[(Seq[T], Seq[T])] = for {
    a <- arrayOf(elem)
    ragged <- Gen.frequency(3 -> false, 1 -> true)
    b <- if (ragged || a == null) arrayOf(elem) else Gen.listOfN(a.size, elem)
  } yield (a, b)
  private val pair = pairOf(elem)

  private def schema(containsNull: Boolean, t: DataType = LongType) = StructType(Seq(
    StructField("a", ArrayType(t, containsNull)), StructField("b", ArrayType(t, containsNull))))

  /** The value, or the error condition evaluation raised (ARITHMETIC_OVERFLOW,
    * DIVIDE_BY_ZERO). A double compares by its bits: NaN equals NaN, and
    * 0.0 differs from -0.0. */
  private def outcome(v: => Any): Any = Try(v).map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case xs: scala.collection.Seq[_] => xs.toList
    case xs: ArrayData => xs.toSeq[Any](LongType).toList // minhash_signatures' array<bigint>
    case other => other
  }.recover {
    case e: Throwable if conditionOf(e).isDefined => conditionOf(e).get
  }.get

  private def conditionOf(e: Throwable): Option[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(c => String.valueOf(c.getMessage))
      .flatMap(m => Seq("ARITHMETIC_OVERFLOW", "DIVIDE_BY_ZERO").find(m.contains)).nextOption()

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

  private def lit(xs: Seq[Any], containsNull: Boolean, t: DataType = LongType): Literal =
    Literal.create(if (xs == null) null else new GenericArrayData(xs.map {
      case s: String => UTF8String.fromString(s)
      case x => x
    }.toArray), ArrayType(t, containsNull))

  /** `native` and `reference` on one row of `a` (and `b`), each through
    * codegen and `native` also through `eval`, for every element
    * nullability the row allows; each outcome goes through `same`. */
  private def agree(name: String, a: Seq[Any], b: Option[Seq[Any]], t: DataType,
                    native: String, reference: String, eval: (Literal, Literal) => Expression,
                    same: (Any, Any) => Boolean = _ == _): Unit = {
    val noNulls = (Seq(a) ++ b).forall(xs => xs != null && !xs.contains(null))
    for (containsNull <- if (noNulls) Seq(true, false) else Seq(true)) {
      val sch = StructType(schema(containsNull, t).fields.take(if (b.isDefined) 2 else 1))
      val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row.fromSeq(Seq(a) ++ b)), 1), sch)
      val ref = outcome(df.select(expr(reference)).head.get(0))
      val viaSql = outcome(df.select(expr(native)).head.get(0))
      assert(same(viaSql, ref), s"$name containsNull=$containsNull: a=$a b=$b native=$viaSql reference=$ref")
      val interpreted = outcome(eval(lit(a, containsNull, t), lit(b.orNull, containsNull, t)).eval())
      assert(same(interpreted, ref), s"$name eval containsNull=$containsNull: a=$a b=$b eval=$interpreted reference=$ref")
    }
  }

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

  private val dbl: Gen[java.lang.Double] = Gen.frequency(
    6 -> Gen.chooseNum(-4.0, 4.0).map(Double.box),
    1 -> Gen.oneOf(0.0, -0.0, 1e-170, 1e200, Double.NaN, Double.PositiveInfinity).map(Double.box),
    1 -> Gen.const(null))
  private val shingle: Gen[String] = Gen.frequency(
    6 -> Gen.choose(0, 6).flatMap(Gen.listOfN(_, Gen.oneOf("a", "b", "c", " ", "é", "日"))).map(_.mkString),
    1 -> Gen.const(null))
  private val shingles = arrayOf(shingle)
  private val norm = "sqrt(aggregate(transform(%s, x -> x * x), cast(0 AS double), (s, x) -> s + x))"
  private val cosineHof = "aggregate(zip_with(a, b, (x, y) -> x * y), cast(0 AS double), (s, x) -> s + x) / " +
    s"(${norm.format("a")} * ${norm.format("b")})"

  test("cosine_sim == the aggregate(zip_with) HOF on nulls, ragged lengths and zero norms (property)") {
    GraftExtensions.register(spark)
    val cases = (1 to 40).map(i => pairOf(dbl)(Gen.Parameters.default, rng.Seed(i.toLong)).get) ++
      Seq((Seq(0.0, 0.0), Seq(1.0, 2.0)), (Seq.empty, Seq.empty), (Seq(1e-170), Seq(1e-170)))
        .map { case (a, b) => (a.map(Double.box), b.map(Double.box)) }
    assert(cases.exists { case (a, b) => a != null && b != null && a.size != b.size })
    assert(cases.exists { case (a, b) => Seq(a, b).forall(_ != null) && (a ++ b).contains(null) })
    for (ansi <- Seq(true, false)) withAnsi(ansi) {
      cases.zipWithIndex.foreach { case ((a, b), i) =>
        agree(s"cosine_sim ansi=$ansi case $i", a, Some(b), DoubleType, "cosine_sim(a, b)", cosineHof,
          (x, y) => CosineSim(x, y))
      }
    }
  }

  /** The md5-hex Carter-Wegman HOF chain `minhash_signatures` replaced, one
    * `array_min` per slot. A signature slot compares with the HOF's slot; a
    * NULL signature (empty or all-NULL input) has every slot NULL. */
  private def minhashSlotsHof(k: Int): String = {
    def hexVal(m: String, off: Int): String = (0 until 8).map { d =>
      s"CAST(instr('0123456789abcdef', substr($m, ${off + d}, 1)) - 1 AS BIGINT) * ${1L << (4 * (7 - d))}"
    }.mkString("(", " + ", ")")
    val hs = s"transform(a, s -> struct(${hexVal("md5(s)", 1)} AS h1, ${hexVal("md5(s)", 9)} AS h2))"
    s"transform(sequence(0, ${k - 1}), i -> array_min(transform($hs, h -> (h.h1 + i * h.h2) % 2147483647)))"
  }

  test("minhash_signatures == the per-slot array_min HOF on nulls and empty arrays (property)") {
    GraftExtensions.register(spark)
    val k = 4
    val cases = (1 to 40).map(i => shingles(Gen.Parameters.default, rng.Seed(i.toLong)).get) ++
      Seq(Seq.empty[String], Seq[String](null, null))
    assert(cases.exists(xs => xs != null && xs.contains(null)))
    def slots(v: Any): Any = v match {
      case null => List.fill(k)(null)
      case other => other
    }
    cases.zipWithIndex.foreach { case (a, i) =>
      agree(s"minhash_signatures case $i", a, None, StringType,
        s"minhash_signatures(a, $k)", minhashSlotsHof(k), (x, _) => MinhashSignatures(x, k),
        (native, hof) => slots(native) == hof)
    }
  }

  /** The vote HOF `simhash_fingerprint` replaced (`TextOps.simhashHof`) adds
    * a NULL vote for a NULL shingle and so returns 0 for any array holding
    * one. The native form skips NULL shingles instead, as the DuckDB oracle
    * does (its votes are a `sum` over shingle rows), so the reference is the
    * HOF over the non-NULL shingles. */
  test("simhash_fingerprint == the vote HOF over the non-NULL shingles (property)") {
    GraftExtensions.register(spark)
    val cases = (1 to 40).map(i => shingles(Gen.Parameters.default, rng.Seed(i.toLong)).get) ++
      Seq(Seq.empty[String], Seq[String](null, null))
    assert(cases.exists(xs => xs != null && xs.contains(null)))
    val overNonNull = graft.ext.TextOps.simhashHof.replace("transform(sarr,", "transform(filter(a, s -> s IS NOT NULL),")
    assert(overNonNull != graft.ext.TextOps.simhashHof)
    cases.zipWithIndex.foreach { case (a, i) =>
      agree(s"simhash_fingerprint case $i", a, None, StringType,
        "simhash_fingerprint(a)", overNonNull, (x, _) => SimhashFingerprint(x))
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
