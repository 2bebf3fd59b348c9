package graft.tools

import graft.{Floors, NameFilter}
import graft.io.IO
import graft.oracle.{Registry, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-growth probe (round-8 verdict Next #3; probe-set derivation and
  * events scaling per round-10 verdict Next #1/#5): the 2× bench gate runs
  * at sf0.1, so the 100 TB claims otherwise rest on plan shapes alone. This
  * harness synthesizes ~3×/~10× (optionally ~30×) sf0.1 corpora
  * (self-union with hash-perturbed keys/content — copy i shifts ids by
  * i·10⁹, appends a per-copy token to text, adds a per-copy epsilon to
  * embeddings, and offsets event times by i·366 days, so exact-dup
  * collapse can't fake sub-linear growth while near-dup/cluster/session
  * structure inside each copy survives), then times the most expensive
  * scaled-table-bound queries at each scale and asserts runtime growth
  * stays ≤ ~1.5× data growth. A hidden quadratic (pair expansion without a
  * cap) or a census that silently became corpus-sized (a "bounded"
  * collect whose bound tracks n) shows up here as g10 ≫ 15 — the exact
  * failure class PlanSpec's shape pins cannot see.
  *
  *   SPARK_GRAFT_PROBE_REPS=2 sbt "runMain graft.tools.ScaleProbe"
  *
  * THE PROBE SET IS DERIVED AT RUNTIME, never hardcoded (a round-10
  * finding: a hardcoded list went stale the moment new queries landed).
  * Selection: every registered query is BUILT once at sf0.001 with the
  * fixture read-recorder on ([[graft.oracle.Tables.table]]'s readLog —
  * not `df.inputFiles`, which loses file lineage to InMemoryRelation
  * substitution the moment a subtree persists); a query qualifies if it
  * reads at least one scaled table ([[ScaledTables]]). The probed set is
  * then
  *   { qualifying q with floor ≥ SPARK_GRAFT_PROBE_FLOOR (default 1.2 s) }
  *   ∪ { per scaled table: top-SPARK_GRAFT_PROBE_PER_TABLE (default 5)
  *       qualifying readers by floor }
  * — the union covers both the globally-expensive queries and each table
  * family's local top (the events family's floors are all sub-second, so
  * a pure global threshold would never probe events-bound plans).
  * SPARK_GRAFT_PROBE_ONLY=token,token restricts the derived set (for
  * targeted deep runs, e.g. 30× on the three cost classes); tokens match
  * exact-or-`_`-prefix ([[graft.NameFilter]]), so `q14` no longer sweeps
  * q140–q149.
  *
  * Emits one JSON line per query — {"query","t1","t3","t10"[,"t30"],
  * "g3","g10"[,"g30"],"exp"} with exp = log(gMax)/log(maxScale) (1.0 =
  * perfectly linear) — and a closing summary with any violations
  * (g_k > 1.5·k at any probed scale). Exit 1 on violation so the probe
  * can gate. Scales via SPARK_GRAFT_PROBE_SCALES (default "1,3,10").
  *
  * The 10-copy corpus makes every document a member of a ~10-doc
  * near-duplicate cluster — ALSO a stress test of the banded-LSH caps and
  * the CC label-propagation depth at realistic duplication rates.
  */
object ScaleProbe {

  /** Tables the probe synthesizes at >1×; all other fixture tables are
    * symlinked at 1× into every probe dir. */
  val ScaledTables: Set[String] = Set("documents", "embeddings", "events", "part")

  /** Bumped whenever the synthesis recipe changes (v2: events scaling
    * added; v3/v4: doc copies decade-grouped; v5: part scaling added;
    * v6: events items axis added — users-axis output is byte-identical
    * to v5, but a first broken items build shipped under the v5#items
    * sentinel, so the bump retires it; v7: items-axis guard digit — v6
    * rendered base k=0 copies as leading-zero numbers, malformed JSON
    * that Spark NULLs and DuckDB rejects, silently dropping item 0 from
    * every copied universe. users-axis output is again byte-identical,
    * and the already-recorded v6 users sweep stands) — a dir whose
    * sentinel carries an older version was built by a different recipe
    * and would silently corrupt growth ratios if reused. */
  private val BuildVersion = 7

  /** documents self-union: copy i shifts doc_id and appends ` probe<i>`
    * so copies are near- but not exact-duplicates. Copies are grouped in
    * DECADES (d = i div 10): decade 0 keeps the base text, decade d > 0
    * additionally inserts a decade token after EVERY SECOND word — with
    * 3-word shingles every window then contains a decade token, so the
    * cross-decade shingle intersection is exactly ZERO: decades share no
    * postings at all, posting-list length (and with it pair-expansion
    * mass) is capped by the within-decade 10, and scales beyond 10× grow
    * cluster COUNT — the realistic corpus-growth axis. Within a decade the
    * insertions are identical, so copies stay near-dups.
    *
    * Recipe history (BASELINE.md round-11 notes tell the full story):
    * v2 let cluster size track k — a 30× run measured duplication-RATE
    * stress, pair mass C(k,2): q117 read g30 = 100 ≈ the
    * C(30,2)/C(10,2) = 9.7× pair growth per 3× data, an inherent
    * property of pair expansion, not a plan defect. v3 inserted after
    * every THIRD word — but the word-ALIGNED third of 3-shingles carries
    * no inserted token and stayed shared across ALL copies, so posting
    * lists still grew with k and q117 got WORSE (g30 = 160: same
    * C(k,2) leakage through aligned shingles + 33% more shingle
    * instances). The every-2nd-word form is the unique minimal insertion
    * period at which NO 3-window escapes. For k ≤ 10 all recipes emit
    * byte-identical corpora, so recorded 1×/3×/10× sweeps stay
    * comparable. */
  private def scaleDocs(base: DataFrame, k: Int): DataFrame =
    (0 until k).map { i =>
      val d = i / 10
      val decadeText =
        if (d == 0) col("text")
        else expr(
          s"""array_join(flatten(transform(split(text, ' '), (w, j) ->
             |  CASE WHEN j % 2 = 1 THEN array(w, 'grp$d') ELSE array(w) END)), ' ')""".stripMargin)
      val newText =
        if (i == 0) col("text") else concat(decadeText, lit(s" probe$i"))
      base.select(
        (col("doc_id") + lit(i.toLong * 1000000000L)).as("doc_id"),
        newText.as("text"),
        col("lang"), col("source"),
        (if (i == 0) col("n_chars") else length(newText).cast(base.schema("n_chars").dataType)).as("n_chars"))
    }.reduce(_ unionByName _)

  /** embeddings self-union: copy i shifts vec_id and nudges every
    * component by i·0.001 (cluster structure survives; exact-vector
    * dedup cannot collapse the copies). */
  private def scaleEmbeds(base: DataFrame, k: Int): DataFrame =
    (0 until k).map { i =>
      base.select(
        (col("vec_id") + lit(i.toLong * 1000000000L)).as("vec_id"),
        (if (i == 0) col("embedding")
         else expr(s"transform(embedding, v -> CAST(v + ${i * 0.001} AS FLOAT))")).as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)

  /** events self-union. Default axis (`users`): copy i shifts
    * event_id/user_id by i·10⁹ and offsets ts by i·366 days — the user
    * POPULATION grows k× with per-user depth constant (lag partitions
    * multiply in COUNT, not depth; disjoint time ranges keep windowed
    * aggregations growing in group count, not group size); the item
    * vocabulary stays at 1×, so graph censuses saturate and the probe
    * measures the corpus-lag slice.
    *
    * v7 `items` axis (SPARK_GRAFT_PROBE_EVENTS_AXIS=items): copy i > 0
    * ADDITIONALLY rewrites the numeric props key k by gluing a leading
    * guard digit 1 plus a zero-padded copy suffix onto its TEXT
    * ("k": 17 → "k": 117042 for copy 42 — concat("1", base, pad3(i)),
    * injective per (base, copy) and disjoint from the base's k ≤ 99; no
    * JSON parsing and both engines read the same bytes). The guard
    * digit exists because base 0 + suffix would render "k": 0042 — a
    * leading-zero number that is MALFORMED JSON, which Spark's
    * get_json_object silently NULLs and DuckDB errors on (the v6 recipe
    * had exactly this bug: item 0's copies vanished per universe).
    * Because user_id shifts too, transitions never cross copies: the
    * graph becomes k disjoint universes — the item CATALOG-growth axis,
    * where the edge census, the backbone, the label/degree tables and
    * every census-grain pass grow k× while per-universe structure stays
    * at its 1× shape. This is the axis that stresses the census-grain
    * machinery itself (the declared vocab²-bounded posture), not the
    * upstream lag. */
  private def scaleEvents(base: DataFrame, k: Int, axis: String): DataFrame =
    (0 until k).map { i =>
      val props =
        if (axis == "items" && i > 0)
          // fixture props spell it `"k": 69` (space after the colon) —
          // match both spellings, emit the spaced one. Named group ${b}
          // on purpose: the v7 replacement "1$1042" only worked because
          // Java's Matcher stops consuming group-reference digits at $1
          // when groups 10+ don't exist — adding a second capture group
          // would have silently reparsed the reference as $10 and
          // corrupted every copied key.
          regexp_replace(col("props"), "\"k\": ?(?<b>\\d+)",
            "\"k\": 1${b}" + "%03d".format(i))
        else col("props")
      base.select(
        (col("event_id") + lit(i.toLong * 1000000000L)).as("event_id"),
        (if (i == 0) col("ts") else col("ts") + expr(s"INTERVAL ${i * 366} DAYS")).as("ts"),
        (col("user_id") + lit(i.toLong * 1000000000L)).as("user_id"),
        col("event_type"), col("value"), props.as("props"))
    }.reduce(_ unionByName _)

  /** part self-union (v5, for the q140/q143 name-vocabulary family):
    * copy i shifts p_partkey by i·10⁹ and appends `i` to p_name WITHOUT a
    * space — the digit glues onto the LAST token ("… rod" → "… rod3"), so
    * each copy opens its own parallel last-token-block universe: the name
    * vocabulary and the block COUNT grow k× while per-block membership
    * stays at its 1× size (fixture: 64 names in 8 blocks). That is the
    * catalog-growth axis entity resolution actually faces — more products,
    * not denser name collisions — and it keeps pair-expansion mass linear
    * in k by construction (a space-separated suffix would instead pool
    * every copy-i name into ONE giant `probe-i` block and trip blockCap).
    *
    * Caveat, documented on purpose: scaled p_partkeys have NO matching
    * lineitem/partsupp rows (those tables stay symlinked at 1×), so for
    * part-JOIN queries the probe measures scan + build-side growth (a
    * k×-bigger broadcast is a real stress — AQE may flip the strategy),
    * not match-output growth. The probe set's per-table top-K is floor-
    * ranked, which lands on q143/q140 — the queries whose whole cost IS
    * the part name vocabulary. */
  private def scalePart(base: DataFrame, k: Int): DataFrame =
    (0 until k).map { i =>
      base.select(
        (col("p_partkey") + lit(i.toLong * 1000000000L)).as("p_partkey"),
        (if (i == 0) col("p_name") else concat(col("p_name"), lit(i.toString))).as("p_name"),
        col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice"))
    }.reduce(_ unionByName _)

  /** Build the probe dir for one scale: every [[ScaledTables]] member
    * written as parquet, every other fixture table symlinked at 1×.
    * A `_COMPLETE` sentinel (recording source dir + recipe version) is
    * written LAST: a dir without it is a partial build (crash mid-write),
    * and one whose sentinel names a different srcDir or version was scaled
    * from other data or by an older recipe — either would silently corrupt
    * the growth ratios if reused, so both are torn down and rebuilt. */
  private def buildDir(spark: SparkSession, srcDir: String, root: String, k: Int,
                       eventsAxis: String): String = {
    // the items axis writes a DIFFERENT events universe — its dirs and
    // sentinels are namespaced so the two axes can never cross-pollute
    val dir = if (eventsAxis == "items") s"${root}_items/x$k" else s"$root/x$k"
    val p = java.nio.file.Paths.get(dir)
    val sentinel = p.resolve("_COMPLETE")
    val expected = s"$srcDir#v$BuildVersion#$eventsAxis"
    if (java.nio.file.Files.exists(sentinel) &&
        new String(java.nio.file.Files.readAllBytes(sentinel), "UTF-8") == expected)
      return dir // verified complete build from the same source + recipe — reuse
    if (java.nio.file.Files.exists(p)) {
      System.err.println(s"[probe] $dir incomplete, stale-recipe, or from a different source — rebuilding")
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(java.nio.file.Files.walk(p)) { walk =>
        walk.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(java.nio.file.Files.delete)
      }
    }
    java.nio.file.Files.createDirectories(p)
    graft.oracle.Views.TableNames.filterNot(ScaledTables).foreach { t =>
      java.nio.file.Files.createSymbolicLink(
        p.resolve(s"$t.parquet"),
        java.nio.file.Paths.get(s"$srcDir/$t.parquet"))
    }
    scaleDocs(Tables.table(spark, srcDir, "documents"), k)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    scaleEmbeds(Tables.table(spark, srcDir, "embeddings"), k)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    scaleEvents(Tables.table(spark, srcDir, "events"), k, eventsAxis)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    scalePart(Tables.table(spark, srcDir, "part"), k)
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    java.nio.file.Files.write(sentinel, expected.getBytes("UTF-8"))
    dir
  }

  /** Which scaled tables each registered query reads, recorded at the
    * single fixture entry point ([[Tables.table]]) while each query is
    * BUILT at sf0.001 — the builder runs for real (model-fitting builders
    * run their bounded collects at the smallest fixture), so the answer
    * reflects the actual reads, not a hand-maintained map that can drift.
    * Plan-level detection (`df.inputFiles`) was tried first and is a trap:
    * every query that persists a subtree loses its file lineage to the
    * InMemoryRelation cache substitution. A query whose builder throws is
    * reported and classified CONSERVATIVELY as reading every scaled table
    * (round-11 advice: a builder that threw before its first scaled read
    * used to keep a partial — possibly empty — set and silently drop out
    * of the probe set; over-probing a broken query is a visible failure,
    * under-probing an expensive one is an invisible gap). */
  def scaledTableReaders(spark: SparkSession, detectDir: String,
                         only: Option[Seq[String]] = None): Map[String, Set[String]] = {
    val candidates = Registry.all.filter(q => NameFilter.selected(only, q.name))
    val out = candidates.map { q =>
      val log = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      Tables.readLog = log
      var detectFailed = false
      try q.run(spark, detectDir)
      catch {
        case t: Throwable =>
          detectFailed = true
          System.err.println(s"[probe] detect failed for ${q.name} (classified as reading ALL scaled tables): ${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).linesIterator.take(1).mkString.take(300)}")
      } finally Tables.readLog = null
      import scala.jdk.CollectionConverters._
      q.name -> (if (detectFailed) ScaledTables
                 else log.asScala.toSet.intersect(ScaledTables))
    }.toMap
    Tables.releasePersisted(); spark.catalog.clearCache()
    out
  }

  /** The derived probe set (see object doc): global floor threshold ∪
    * per-scaled-table top-K, restricted to `only` prefixes if given. */
  def deriveProbeSet(readers: Map[String, Set[String]], floorMin: Double,
                     perTable: Int, only: Option[Seq[String]]): Seq[String] = {
    val qualifying = readers.collect {
      case (name, ts) if ts.nonEmpty && Floors.forQuery(name).isDefined =>
        (name, ts, Floors.forQuery(name).get)
    }.toSeq
    val global = qualifying.filter(_._3 >= floorMin).map(_._1)
    val perTbl = ScaledTables.toSeq.flatMap { t =>
      qualifying.filter(_._2.contains(t)).sortBy(-_._3).take(perTable).map(_._1)
    }
    (global ++ perTbl).distinct.sorted
      .filter(n => NameFilter.selected(only, n))
  }

  private def timeCold(spark: SparkSession, name: String, dir: String, reps: Int): Double = {
    val fn = Registry.byName(name).run
    var best = Double.MaxValue
    (0 until reps).foreach { _ =>
      val t0 = System.nanoTime()
      fn(spark, dir).count()
      best = math.min(best, (System.nanoTime() - t0) / 1e9)
      Tables.releasePersisted()
      spark.catalog.clearCache()
    }
    best
  }

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "2").toInt
    val root = sys.env.getOrElse("SPARK_GRAFT_PROBE_DIR", "/tmp/graft_scale_probe")
    val scales = sys.env.getOrElse("SPARK_GRAFT_PROBE_SCALES", "1,3,10")
      .split(",").map(_.trim.toInt).toSeq.sorted
    require(scales.headOption.contains(1), s"scales must start at 1, got $scales")
    val floorMin = sys.env.getOrElse("SPARK_GRAFT_PROBE_FLOOR", "1.2").toDouble
    val perTable = sys.env.getOrElse("SPARK_GRAFT_PROBE_PER_TABLE", "5").toInt
    val only = sys.env.get("SPARK_GRAFT_PROBE_ONLY").map(_.split(",").toSeq)
    val spark = graft.Session.engine()

    val readers = scaledTableReaders(spark, "/root/testdata/sf0.001", only)
    val probeSet = deriveProbeSet(readers, floorMin, perTable, only)
    System.err.println(s"[probe] derived set (${probeSet.size}): ${probeSet.mkString(", ")}")
    // list-only mode: report the derivation (per-query scaled tables +
    // the derived set) and exit — the cheap way to audit set drift
    if (sys.env.get("SPARK_GRAFT_PROBE_LIST").contains("1")) {
      readers.toSeq.sortBy(_._1).foreach { case (n, ts) =>
        println(s"$n tables=${ts.toSeq.sorted.mkString(",")} floor=${Floors.forQuery(n).getOrElse(-1.0)}")
      }
      spark.stop(); return
    }
    if (probeSet.isEmpty) {
      System.err.println("[probe] nothing to probe (no qualifying scaled-table reader) — exiting")
      spark.stop(); return
    }

    val eventsAxis = sys.env.getOrElse("SPARK_GRAFT_PROBE_EVENTS_AXIS", "users")
    require(eventsAxis == "users" || eventsAxis == "items",
      s"SPARK_GRAFT_PROBE_EVENTS_AXIS must be users|items, got $eventsAxis")
    val dirs = scales.map(k => k -> buildDir(spark, srcDir, root, k, eventsAxis)).toMap
    scales.foreach { k =>
      val n = IO.parquet(spark, s"${dirs(k)}/documents.parquet").count()
      val ne = IO.parquet(spark, s"${dirs(k)}/events.parquet").count()
      System.err.println(s"[probe] x$k: $n documents, $ne events")
    }
    // untimed byte-level warm of every probe dir (parquet count() reads
    // only footers, not data pages — see WarmRead for the measured
    // first-touch artifact this kills)
    dirs.values.foreach(WarmRead.warm)

    // warmup at the smallest fixture so JIT cost doesn't land on x1
    probeSet.foreach { q =>
      try Registry.byName(q).run(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }
    }
    Tables.releasePersisted(); spark.catalog.clearCache()

    val maxScale = scales.max
    val results = probeSet.map { q =>
      val ts = scales.map(k => k -> timeCold(spark, q, dirs(k), reps)).toMap
      val gs = scales.filter(_ > 1).map(k => k -> ts(k) / ts(1))
      val exp = math.log(ts(maxScale) / ts(1)) / math.log(maxScale.toDouble)
      val tsJson = scales.map(k => f""""t$k":${ts(k)}%.3f""").mkString(",")
      val gsJson = gs.map { case (k, g) => f""""g$k":$g%.2f""" }.mkString(",")
      println(s"""{"query":"$q",$tsJson,$gsJson,"exp":${f"$exp%.2f"},"tables":${readers(q).toSeq.sorted.mkString("[\"", "\",\"", "\"]")}}""")
      (q, gs, exp)
    }
    val violations = results.filter { case (_, gs, _) => gs.exists { case (k, g) => g > 1.5 * k } }
    val worst = results.maxBy(_._3)
    println(f"""{"metric":"scale_probe","queries":${results.size},"scales":[${scales.mkString(",")}],"violations":${violations.size},"worst_exp":["${worst._1}",${worst._3}%.2f]}""")
    violations.foreach { case (q, gs, e) =>
      val gsS = gs.map { case (k, g) => f"g$k=$g%.2f" }.mkString(" ")
      System.err.println(f"[probe] VIOLATION $q: $gsS exp=$e%.2f")
    }
    spark.stop()
    if (violations.nonEmpty) sys.exit(1)
  }
}
