package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run in
  * the forked test JVM): the pinned conf plus a private warehouse dir. */
object SparkSpec {
  lazy val spark: SparkSession = Session.build(Session.pinnedConf +
    ("spark.sql.warehouse.dir" -> java.nio.file.Files.createTempDirectory("graft_wh").toString))
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf0001 = "/root/testdata/sf0.001"
}
