package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Env lockstep: environment variables configure entry points and tools,
  * never operators. An operator that reads `sys.env` changes its plan
  * with the shell it runs in, out of reach of the session conf the plans
  * and benchmarks are pinned on. Needs NO Spark:
  *
  *   sbt "testOnly graft.EnvLockstepSpec"
  */
class EnvLockstepSpec extends AnyFunSuite {

  /** Files allowed to read the environment, relative to src/main/scala. */
  private def allowed(rel: String): Boolean =
    Set("graft/Bench.scala", "graft/Verify.scala", "graft/Session.scala",
      "graft/pipeline/ReplayDemo.scala",
      "graft/ops/ArtifactStore.scala" // the deployment's artifact root
    ).contains(rel) || rel.startsWith("graft/tools/")

  test("sys.env is read only in entry points and tools") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    assert(files.size > 100, s"scanned only ${files.size} files under $root")
    val readers = files
      .filter { p => val src = Files.readString(p)
        src.contains("sys.env") || src.contains("System.getenv") }
      .map(root.relativize(_: Path).toString)
    assert(readers.nonEmpty, "the scan found no env read at all")
    val strays = readers.filterNot(allowed).sorted
    assert(strays.isEmpty,
      s"environment read outside an entry point or tool (use a session conf key): $strays")
  }
}
