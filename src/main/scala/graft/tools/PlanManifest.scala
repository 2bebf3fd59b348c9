package graft.tools

import graft.oracle.{QueryDef, Registry, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, FormattedMode, SimpleMode}

import java.nio.file.{Files, Paths}

/** The plan tool: every checked-in plan artifact is written here, on the
  * pinned session (`graft.Session.pinned`) at sf0.001 unless noted.
  *
  *   sbt "runMain graft.tools.PlanManifest"            # manifest (default)
  *   sbt "runMain graft.tools.PlanManifest dump"       # PLANS.md
  *   sbt "runMain graft.tools.PlanManifest explain <outDir> <tag> <q1,q2,...>"
  *
  *  - `manifest` writes PLAN_MANIFEST.txt, the machine-readable
  *    plan-stability manifest (round-8 verdict Next #8): one line per
  *    registered query counting the scale-relevant physical operators —
  *    exchanges, scans, broadcasts, join strategies. PLANS.md is prose for
  *    humans; this file is the diffable contract: a plan regression (a new
  *    exchange, a broadcast that became a sort-merge join, a cache that
  *    stopped being read) shows up as a one-line `git diff` even where no
  *    hand-written PlanSpec pin exists. `PlanManifestSpec` recomputes every
  *    signature live and fails on any drift, naming the query and the
  *    counter. Counts come from the SimpleMode explain string of the lazy
  *    plan (AQE initial plan — operator multiplicity is partition-count
  *    independent, so the signature is stable across local[4]/local[32]).
  *  - `dump` writes PLANS.md: the plans of the [[PlanDump.notes]] queries
  *    with the note on the scale property each demonstrates. PlanSpec
  *    asserts the same properties mechanically.
  *  - `explain` writes `.explain("formatted")` of the named queries
  *    (exact-or-`_`-prefix, the NameFilter rule) to
  *    `<outDir>/<query>_<tag>.txt`, on the ENGINE session at
  *    SPARK_GRAFT_SF_DIR (default sf0.001), so before/after plan claims in
  *    OPTIMIZATION_rNN.md are checkable without running Spark. */
object PlanManifest {

  /** (counter name, substring counted in the explain output). Substrings
    * are operator names as Spark 4 prints them; counts, not positions, so
    * formatting churn across Spark versions stays survivable. */
  val Counters: Seq[(String, String)] = Seq(
    "hash_exchange" -> "Exchange hashpartitioning",
    "range_exchange" -> "Exchange rangepartitioning",
    "single_exchange" -> "Exchange SinglePartition",
    "parquet_scan" -> "Scan parquet",
    "cache_scan" -> "InMemoryTableScan",
    "rdd_scan" -> "Scan ExistingRDD",
    "broadcast" -> "BroadcastExchange",
    "bhj" -> "BroadcastHashJoin",
    "smj" -> "SortMergeJoin",
    "bnlj" -> "BroadcastNestedLoopJoin",
    "cartesian" -> "CartesianProduct",
    "reused_exchange" -> "ReusedExchange",
    "expand" -> "Expand",
    "window_op" -> "Window",
    "sort" -> "Sort ")

  private def countOcc(haystack: String, needle: String): Int = {
    var n = 0; var i = haystack.indexOf(needle)
    while (i >= 0) { n += 1; i = haystack.indexOf(needle, i + needle.length) }
    n
  }

  /** The plan signature of one SimpleMode explain string. */
  def signature(plan: String): Map[String, Int] =
    Counters.map { case (name, needle) => name -> countOcc(plan, needle) }.toMap

  private def fmt(name: String, sig: Map[String, Int]): String =
    name + " " + Counters.map { case (k, _) => s"$k=${sig(k)}" }.mkString(" ")

  /** The walk every mode shares: release the keyed-persist registry and
    * the cache, so one query's persisted frames can't leak into the next
    * plan, then build the query and explain its lazy plan. */
  private def explain(spark: SparkSession, q: QueryDef, sfDir: String,
                      mode: ExplainMode): String = {
    Tables.releasePersisted()
    spark.catalog.clearCache()
    q.run(spark, sfDir).queryExecution.explainString(mode)
  }

  /** All registered queries' manifest lines at `sfDir`, in name order. */
  def lines(spark: SparkSession, sfDir: String): Seq[String] =
    Registry.all.sortBy(_.name).map(q => fmt(q.name, signature(explain(spark, q, sfDir, SimpleMode))))

  val header: Seq[String] = Seq(
    "# Plan-stability manifest: one line per registered query, counting",
    "# scale-relevant physical operators in the sf0.001 lazy plan.",
    "# Regenerate: sbt \"runMain graft.tools.PlanManifest\"  (after an",
    "# INTENDED plan change; PlanManifestSpec fails on unintended drift).")

  /** PLANS.md: one section per [[PlanDump.notes]] entry. */
  def plansMd(spark: SparkSession, sfDir: String): String = {
    val sb = new StringBuilder
    sb ++= "# PLANS — physical plans of headline queries\n\n"
    sb ++= "Generated by `graft.tools.PlanManifest dump` (sf0.001, AQE initial plans).\n"
    sb ++= "Each plan is annotated with the scale property it demonstrates;\n"
    sb ++= "`PlanSpec` asserts the same properties mechanically in CI.\n"
    PlanDump.notes.foreach { case (name, note) =>
      sb ++= s"\n## $name\n\n$note\n\n```\n"
      val full = explain(spark, Registry.byName(name), sfDir, SimpleMode).trim
      // A cached iterative subtree (the CC label round inside q52) prints
      // its whole per-round lineage under the InMemoryRelation — hundreds
      // of lines that drown every other plan. The top of the tree carries
      // all the shape evidence (what reads which cache, what broadcasts);
      // cap the dump and say so.
      val lines = full.linesIterator.toSeq
      sb ++= (if (lines.length <= 120) full
              else lines.take(120).mkString("\n") +
                s"\n... [truncated ${lines.length - 120} lines: cached-subtree lineage; " +
                "shape evidence above + PlanSpec]")
      sb ++= "\n```\n"
    }
    sb.toString
  }

  private def write(path: String, text: String): Unit =
    Files.write(Paths.get(path), text.getBytes("UTF-8"))

  def main(args: Array[String]): Unit = {
    val sf = "/root/testdata/sf0.001"
    args.toList match {
      case Nil | List("manifest") =>
        val spark = graft.Session.pinned()
        val out = lines(spark, sf)
        write("PLAN_MANIFEST.txt", (header ++ out).mkString("", "\n", "\n"))
        println(s"[manifest] wrote PLAN_MANIFEST.txt (${out.size} queries)")
        spark.stop()
      case List("dump") =>
        val spark = graft.Session.pinned()
        write("PLANS.md", plansMd(spark, sf))
        println(s"[plandump] wrote PLANS.md (${PlanDump.notes.size} plans)")
        spark.stop()
      case List("explain", outDir, tag, queries) =>
        val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", sf)
        val only = Some(queries.split(",").toSeq)
        new java.io.File(outDir).mkdirs()
        val spark = graft.Session.engine()
        Registry.all.filter(q => graft.NameFilter.selected(only, q.name)).foreach { q =>
          val txt = explain(spark, q, sfDir, FormattedMode)
          val f = s"$outDir/${q.name}_$tag.txt"
          write(f, txt)
          println(s"[explain] wrote $f (${txt.length} chars)")
        }
        spark.stop()
      case _ =>
        sys.error("usage: PlanManifest [manifest | dump | explain <outDir> <tag> <q1,q2,...>]")
    }
  }
}
