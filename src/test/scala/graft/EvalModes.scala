package graft

import org.apache.spark.sql.SparkSession

/** Runs a block under whole-stage codegen and again with every expression
  * interpreted, so a kernel property covers both evaluation paths. */
object EvalModes {

  val modes: Seq[(String, Map[String, String])] = Seq(
    "codegen" -> Map("spark.sql.codegen.wholeStage" -> "true", "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "interpreted" -> Map("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  def foreach(spark: SparkSession)(body: String => Unit): Unit =
    modes.foreach { case (mode, conf) =>
      val prev = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try body(mode)
      finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
}
