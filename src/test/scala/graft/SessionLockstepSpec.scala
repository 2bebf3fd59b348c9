package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Session lockstep: `graft.Session` is the only place a session is
  * configured, so every tool runs the engine `graft.Bench` times. Needs NO
  * Spark — a second builder or a drifted conf fails here in seconds:
  *
  *   sbt "testOnly graft.SessionLockstepSpec"
  */
class SessionLockstepSpec extends AnyFunSuite {

  test("no src/main file but Session.scala builds a SparkSession") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    assert(files.size > 100, s"scanned only ${files.size} files under $root")
    val builders = files.filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map(root.relativize(_: Path).toString)
    assert(builders == Seq("graft/Session.scala"),
      s"SparkSession.builder outside graft.Session (build the session there): $builders")
  }

  test("the engine conf is the one graft.Bench ran on") {
    val advisory = sys.env.getOrElse("SPARK_GRAFT_ADVISORY_PARTITION_BYTES", "2m")
    assert(Session.engineConf(7) == Map(
      "spark.master" -> "local[7]",
      "spark.sql.shuffle.partitions" -> "7",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> advisory,
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false"))
  }

  test("the pinned conf is the one the plan artifacts were generated on") {
    assert(Session.pinnedConf == Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false"))
  }
}
