package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.engine()
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY (dev loop only — the driver never sets it): dump
    // just the named queries (exact or `_`-prefix, see NameFilter);
    // oracle_sql.json still covers all
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    // _SF sentinel: records which sf dir the dumps in outDir came from, so
    // local_verify can refuse a stale-SF compare (the trap was hit twice in
    // round 11). Full dumps stamp unconditionally; an ONLY dump into a dir
    // stamped with a DIFFERENT sf would silently mix scales — refuse.
    val sfSentinel = Paths.get(s"$outDir/_SF")
    if (only.isDefined && Files.exists(sfSentinel)) {
      val prev = Files.readString(sfSentinel).trim
      require(prev == sfDir,
        s"$outDir holds dumps from $prev but SPARK_GRAFT_ONLY run targets $sfDir — " +
          "wipe the dir or run a full dump first")
    }
    // A full dump must not stamp the sentinel UP FRONT: a crash mid-loop (or
    // a per-query failure leaving an earlier run's parquet in place) would
    // leave mixed-SF dumps behind a sentinel claiming the new SF — exactly
    // the stale-compare trap the sentinel refuses. So: full dumps DELETE any
    // existing sentinel first and stamp only after the loop completes; a
    // failing query's stale output dir is deleted so no leftover dump from
    // an earlier SF/run can ever be compared.
    if (only.isEmpty) Files.deleteIfExists(sfSentinel)
    def rmTree(p: java.nio.file.Path): Unit =
      if (Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(Files.delete)
      }
    SparkEntry.queries
      .filter { case (n, _) => NameFilter.selected(only, n) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        rmTree(Paths.get(s"$outDir/$name"))
      }
    }
    Files.writeString(sfSentinel, sfDir)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
