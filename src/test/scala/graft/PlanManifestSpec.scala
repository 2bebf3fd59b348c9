package graft

import graft.tools.PlanManifest

/** Plan-stability gate: every registered query's live plan signature must
  * match the checked-in PLAN_MANIFEST.txt. A drifted counter means a plan
  * changed — if intended, regenerate the manifest
  * (`sbt "runMain graft.tools.PlanManifest manifest"`) and commit the one-line
  * diff; if not, this is the regression the manifest exists to catch. */
class PlanManifestSpec extends SparkSpec {

  test("live plan signatures match PLAN_MANIFEST.txt") {
    val path = java.nio.file.Paths.get("PLAN_MANIFEST.txt")
    assert(java.nio.file.Files.exists(path),
      "PLAN_MANIFEST.txt missing — run: sbt \"runMain graft.tools.PlanManifest manifest\"")
    val recorded = scala.jdk.CollectionConverters.ListHasAsScala(
        java.nio.file.Files.readAllLines(path)).asScala
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map { l => val name = l.takeWhile(_ != ' '); name -> l }.toMap
    val live = PlanManifest.lines(spark, sf0001)
      .map { l => val name = l.takeWhile(_ != ' '); name -> l }.toMap
    val missing = live.keySet -- recorded.keySet
    assert(missing.isEmpty,
      s"queries missing from manifest (regenerate): ${missing.toSeq.sorted.mkString(", ")}")
    val stale = recorded.keySet -- live.keySet
    assert(stale.isEmpty,
      s"manifest lists unregistered queries (regenerate): ${stale.toSeq.sorted.mkString(", ")}")
    val drifted = live.keys.toSeq.sorted.flatMap { name =>
      if (recorded(name) != live(name)) Some(s"  recorded: ${recorded(name)}\n  live    : ${live(name)}")
      else None
    }
    assert(drifted.isEmpty, s"plan drift in ${drifted.size} queries:\n${drifted.mkString("\n")}")
  }
}
