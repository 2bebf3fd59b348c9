package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Kernel lockstep: each native kernel replaces the code it supersedes
  * rather than sitting beside it, and each is pinned by a property spec
  * against what it replaced. Needs NO Spark:
  *
  *   sbt "testOnly graft.KernelLockstepSpec"
  */
class KernelLockstepSpec extends AnyFunSuite {

  private def sources(dir: String): Map[String, String] = {
    val root = Paths.get(dir)
    Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
      .map(p => root.relativize(p: Path).toString -> Files.readString(p)).toMap
  }

  private lazy val main = sources("src/main/scala")

  private def filesWith(text: String): Set[String] = main.filter(_._2.contains(text)).keySet

  test("from_json( appears in src/main only in the JSON kernel's file") {
    assert(main.size > 100, s"scanned only ${main.size} files")
    assert(filesWith("from_json(") == Set("graft/functions/JsonRecord.scala"),
      "parse JSON through graft.functions.JsonRecord")
  }

  test("Encoders.kryo appears only in the two object buffers left: FreqItems and PercentileDisc") {
    assert(filesWith("Encoders.kryo") == Set("graft/agg/FreqItems.scala", "graft/agg/PercentileDisc.scala"))
    assert(!main("graft/agg/TopK.scala").contains("Aggregator["), "a Kryo top-k Aggregator is back")
  }

  test("every GraftExtensions.functions entry is named in an equivalence-property spec") {
    val props = Seq("IntDotSpec", "TextExprsSpec", "CosineSimSpec", "JsonRecordSpec", "TermCountsSpec")
      .map(n => Files.readString(Paths.get(s"src/test/scala/graft/$n.scala")))
    val missing = GraftExtensions.functions.map(_.name).filterNot(n => props.exists(_.contains(n)))
    assert(missing.isEmpty, s"native functions no property spec names: $missing")
  }
}
