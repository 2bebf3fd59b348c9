package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.oracle.{QueryDef, Registry, Tables}

/** `scan_batch`: the single-pass band q01–q37 ([[queries]]), one query at a time, each
  * cold — the persist registry and the cache are released after every
  * execution, as `graft.Bench` does. The seed permutes the query order of
  * every pass.
  *
  * Output check: the untimed warm-up pass runs every query once, cold and
  * one at a time on the timed fixture, so with the plans of the timed
  * executions, and writes each result to `<out>/results/<name>`; run.py
  * compares them with the query's DuckDB oracle SQL over the same dir. A
  * query that throws in a timed pass fails too. */
final class ScanBatch(sfDir: String, out: String) extends Workload {

  /** Cold executions per query and pass. A query's first timed execution
    * (its second in the JVM) still runs code JIT has not compiled and costs
    * ~1.5x its later ones, so the fastest of three is, in nearly every run,
    * the faster of two warm executions. */
  val Reps = 3

  val Tables10 = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  /** Every fourth query of the single-pass band q01–q37 (q01, q05, …, q37):
    * every module keeps its share (oracle 3, ext 4, ops 3), and a run, with
    * its warm-up and check passes, fits the benchmark's time budget. */
  val queries: Seq[QueryDef] = Registry.all.filter { q =>
    val n = q.name.drop(1).takeWhile(_.isDigit)
    q.name.startsWith("q") && n.nonEmpty && n.toInt >= 1 && n.toInt <= 37 && n.toInt % 4 == 1
  }.sortBy(_.name)

  /** The module that defines a query: the package of its run function. */
  def module(q: QueryDef): String = q.run.getClass.getName.split('.')(1)

  final case class Staged(rnd: scala.util.Random, columns: Int)

  /** Staging: resolve every fixture table through `Tables.table` (file
    * listing and parquet footer). */
  override def setup(spark: SparkSession, seed: Int, seconds: Double): Staged =
    Staged(new scala.util.Random(seed), Tables10.map(t => Tables.table(spark, sfDir, t).schema.size).sum)

  override def setupInfo(s: Staged): Map[String, Any] =
    Map("fixture_columns" -> s.columns, "queries" -> queries.map(q => Seq(q.name, module(q))))

  private def release(spark: SparkSession): Unit = {
    Tables.releasePersisted()
    spark.catalog.clearCache()
  }

  /** Untimed: every query once, cold and alone on the timed fixture, its
    * result written for the oracle check. It also warms JIT and codegen,
    * so each query's timed executions are its second and third. */
  override def warm(spark: SparkSession, s: Staged, work: String): Unit = {
    val errors = scala.collection.mutable.Map[String, String]()
    s.rnd.shuffle(queries).foreach { q =>
      try q.run(spark, sfDir).write.mode("overwrite").parquet(s"$out/results/${q.name}")
      catch { case e: Throwable => errors(q.name) = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      finally release(spark)
    }
    val oracle = queries.flatMap(q => q.oracle.map(q.name -> _)).toMap
    Files.createDirectories(Paths.get(s"$out/results"))
    Files.writeString(Paths.get(s"$out/results/oracle.json"), Json.render(Map(
      "oracle" -> oracle, "errors" -> errors, "sf" -> sfDir)))
  }

  /** Timed passes: at least one, and another while it is expected to end
    * within `seconds`. Within a pass each query runs [[Reps]] times back to
    * back, each execution cold, as `graft.Bench` times it; the query's time
    * is the fastest of them. */
  override def measure(spark: SparkSession, s: Staged, seconds: Double, rec: Recorder,
                       work: String): Map[String, Any] = {
    val root = rec.start("scan_batch", "workload", 0L)
    val start = Clock.ms
    val passes = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    var last = 0.0
    while (passes.isEmpty || Clock.ms - start + last < seconds * 1000) {
      val p0 = Clock.ms
      val runs = s.rnd.shuffle(queries).flatMap(q => (1 to Reps).map(rep => execute(spark, q, rep, rec, root)))
      last = Clock.ms - p0
      passes += Map("wall_s" -> last / 1000.0, "runs" -> runs)
    }
    rec.end(root)
    Map("passes" -> passes)
  }

  /** One cold execution: `run` (build), then `count()` (action), then the
    * release of the persist registry and the cache. */
  private def execute(spark: SparkSession, q: QueryDef, rep: Int, rec: Recorder, root: Long): Map[String, Any] = {
    val span = rec.start(q.name, module(q), root)
    val c0 = Main.threadCpu()
    val t0 = Clock.ms
    var t1 = t0
    var t2 = t0
    val err =
      try {
        val df = q.run(spark, sfDir)
        t1 = Clock.ms
        df.count()
        t2 = Clock.ms
        None
      } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    // traced only: bytes the persist registry and cache hold before release
    val cached =
      if (rec.enabled) spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum else 0L
    val r0 = Clock.ms
    release(spark)
    val t3 = Clock.ms
    val cpu = Main.threadCpuMsSince(c0)
    rec.end(span, Map("build_ms" -> (t1 - t0), "action_ms" -> (t2 - t1), "release_ms" -> (t3 - r0)))
    Map("name" -> q.name, "rep" -> rep, "module" -> module(q), "start_ms" -> t0, "end_ms" -> t3,
      "build_ms" -> (t1 - t0), "action_ms" -> (t2 - t1), "release_ms" -> (t3 - r0),
      "wall_ms" -> (t3 - t0), "cpu_ms" -> cpu, "cached_bytes" -> cached, "error" -> err)
  }
}
