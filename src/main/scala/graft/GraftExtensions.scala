package graft

import graft.functions._
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** Session-extension injector for the engine's native expressions —
  * the idiomatic deployment path on a cluster:
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *
  * makes every function in [[GraftExtensions.functions]] (`cosine_sim`,
  * `int_dot`, `int_l2`, `word_ngrams`, ...) available in SQL text and
  * `expr(...)` on every session, including Thrift/Connect sessions where
  * driver-side `register(spark)` calls are not reachable. The operator
  * code paths also self-register at first use, so the extension is
  * optional for embedded library use.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name), f.info, f.builder))
    }
}

object GraftExtensions {

  final case class NativeFunction(name: String, clazz: Class[_],
                                  builder: Seq[Expression] => Expression) {
    def info: ExpressionInfo = new ExpressionInfo(clazz.getName, name)
  }

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  /** The one table of native functions: the extension injects it and
    * [[register]] registers it. */
  val functions: Seq[NativeFunction] = Seq(
    NativeFunction("cosine_sim", classOf[CosineSim], a => CosineSim(a.head, a(1))),
    NativeFunction("int_dot", classOf[IntDot], a => IntDot(a.head, a(1))),
    NativeFunction("int_l2", classOf[IntL2], a => IntL2(a.head, a(1))),
    NativeFunction("word_ngrams", classOf[WordNGrams], a => WordNGrams(a.head, intLit(a(1), "n"))),
    NativeFunction("minhash_signatures", classOf[MinhashSignatures],
      a => MinhashSignatures(a.head, intLit(a(1), "k"))),
    NativeFunction("ordered_pairs", classOf[OrderedPairs], a => OrderedPairs(a.head)),
    NativeFunction("simhash_fingerprint", classOf[SimhashFingerprint], a => SimhashFingerprint(a.head)),
    NativeFunction("term_counts", classOf[TermCounts], a => TermCounts(a.head)))

  /** Register every native function in the session's function registry,
    * so `expr(...)` and SQL text can call them without the extension.
    * A registry lookup only — it runs no Spark job. Idempotent per
    * function (re-registering would log a replaced-function warning per
    * call), and synchronized: two `Par.par2` arms building operators at
    * once cannot interleave one's existence check with the other's
    * registration. */
  def register(spark: SparkSession): Unit = synchronized {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { f =>
      val id = FunctionIdentifier(f.name)
      if (!registry.functionExists(id)) registry.registerFunction(id, f.info, f.builder)
    }
  }
}
