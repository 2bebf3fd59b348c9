package graft.ext

import graft.io.IO
import graft.oracle.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental delta dedup (q64) — dedup an INCOMING batch against an
  * EXISTING corpus plus itself, the production ingestion shape: the
  * nightly crawl lands next to a 100 TB corpus and only the newcomers
  * need verdicts. Two detectors share one pass, mirroring the batch
  * family exactly so delta verdicts cannot drift from full-corpus ones:
  * exact (q11's sha-256 content hash) and MinHash+LSH near-dup (q12's
  * 12-hash Carter-Wegman signatures, 4×3 bands, shingle-Jaccard ≥ τ
  * verification). An incoming doc is a dup if it matches ANY existing
  * doc (no order among the settled corpus) or an EARLIER (lower-id)
  * incoming doc (greedy-by-id within the batch, the q53 idiom — ids
  * must be unique across both frames).
  *
  * Scale shape — the asymmetry IS the operator: existing×existing pairs
  * are never generated. Both sides shingle+sign in ONE union pass,
  * persisted once (keyed; the exact rollup, band stream and both verify
  * sides read the cache). Band buckets collect the two sides into
  * separate in-row arrays and expand only incoming×(existing ∪ earlier
  * incoming) — for a bucket of E existing and I incoming members that is
  * I·E + I(I−1)/2 pairs, not (E+I)(E+I−1)/2; with the typical delta
  * (I ≪ E) the quadratic term in E vanishes. `maxBucket` still caps the
  * degenerate bucket (the q12 guard); the candidate side stays small by
  * LSH construction, so AQE broadcasts it into the verify joins. The
  * exact detector is one hash-keyed aggregate carrying per-side min ids
  * — newcomers join it co-keyed, never a corpus×corpus self-join.
  *
  * Determinism: verdicts are set-valued (min partner id, exact integer
  * intersections, one IEEE division per verified pair), so the output
  * is independent of partitioning and engine — hash-exact oracle.
  */
object DeltaDedup {

  // ---- signature geometry: ONE source of truth for the shingle width,
  // hash count and band layout. The store fingerprint's geometry tag
  // derives from THESE constants (not a string literal), so changing the
  // geometry invalidates signed artifacts instead of silently reusing
  // signatures written under the old layout.
  /** Word-shingle width (n-gram n). */
  val ShingleN = 3
  /** MinHash signature length ( = Bands × SigsPerBand). */
  val NumHashes = 12
  /** LSH band count. */
  val Bands = 4
  /** Signature rows per band. */
  val SigsPerBand = NumHashes / Bands
  /** The geometry tag every store fingerprint carries. */
  def geometryTag: String = s"b${Bands}x$SigsPerBand|n$ShingleN"
  private val ShingleCase =
    s"CASE WHEN size(ws) >= $ShingleN THEN word_ngrams(ws, $ShingleN) ELSE CAST(array() AS ARRAY<STRING>) END"
  private val SigCase =
    s"CASE WHEN size(sarr) > 0 THEN minhash_signatures(sarr, $NumHashes) END"

  /** General form. Output: ONE row per incoming doc —
    * (doc_id, dup_exact, dup_near, keep, matched_id) where matched_id =
    * the smallest matching partner id across both detectors (NULL when
    * the doc is kept). */
  def deltaDedupOf(existing: DataFrame, incoming: DataFrame,
                   maxBucket: Int = TextOps.DefaultMaxBucket,
                   minJaccard: Double = 0.5): DataFrame = {
    graft.GraftExtensions.register(existing.sparkSession)
    val tagged = existing.select(col("doc_id"), col("text")).withColumn("src", lit(0))
      .unionByName(incoming.select(col("doc_id"), col("text")).withColumn("src", lit(1)))
    val base = Tables.swapPersist("delta_base",
      Tables.fanned(tagged)
        .select(col("doc_id"), col("src"), sha2(col("text"), 256).as("ch"),
          split(col("text"), " ").as("ws"))
        .withColumn("sarr", expr(
          ShingleCase))
        .select(col("doc_id"), col("src"), col("ch"),
          array_distinct(col("sarr")).as("sset"),
          expr(SigCase).as("sig")))
    // exact: one hash-keyed aggregate carrying each side's min id;
    // newcomers pick up their verdict co-keyed on the hash
    val exg = base.groupBy(col("ch")).agg(
      min(when(col("src") === 0, col("doc_id"))).as("min_ex"),
      min(when(col("src") === 1, col("doc_id"))).as("min_in"))
    // near: q12's band buckets, but the two sides collect into separate
    // in-row arrays and only incoming×(existing ∪ earlier-incoming)
    // pairs expand — existing×existing never materializes
    val bandCols = (0 until Bands).map(b =>
      s"$b, concat_ws('|', sig[${SigsPerBand * b}]" + (1 until SigsPerBand).map(j => s", sig[${SigsPerBand * b + j}]").mkString + s")").mkString(", ")
    val cand = base.filter(col("sig").isNotNull)
      .select(col("doc_id"), col("src"), size(col("sset")).as("n"),
        expr(s"stack($Bands, $bandCols)").as(Seq("band", "bk")))
      .groupBy(col("band"), col("bk"))
      .agg(
        sort_array(collect_list(when(col("src") === 0, struct(col("doc_id"), col("n"))))).as("exs"),
        sort_array(collect_list(when(col("src") === 1, struct(col("doc_id"), col("n"))))).as("ins"))
      .filter(size(col("ins")) >= 1 &&
        (size(col("exs")) + size(col("ins"))).between(2, maxBucket))
      .select(explode(expr(
        """flatten(transform(ins, (t, i) ->
          |  transform(concat(exs, slice(ins, 1, i)),
          |            p -> struct(t.doc_id AS tid, t.n AS tn,
          |                        p.doc_id AS pid, p.n AS pn))))""".stripMargin)).as("c"))
      .select(col("c.tid"), col("c.tn"), col("c.pid"), col("c.pn"))
      .distinct()
    val sets = base.select(col("doc_id"), col("sset"))
    val near = cand
      .join(sets.as("st"), col("tid") === col("st.doc_id"))
      .join(sets.as("sp"), col("pid") === col("sp.doc_id"))
      .select(col("tid"), col("pid"),
        size(array_intersect(col("st.sset"), col("sp.sset"))).as("inter"),
        col("tn"), col("pn"))
      .filter(col("inter") / (col("tn") + col("pn") - col("inter")) >= minJaccard)
      .groupBy(col("tid").as("doc_id"))
      .agg(min(col("pid")).as("near_partner"))
    base.filter(col("src") === 1).select(col("doc_id"), col("ch"))
      .join(exg, "ch")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("min_ex").isNotNull || col("doc_id") > col("min_in")).cast("int").as("dup_exact"),
        col("near_partner").isNotNull.cast("int").as("dup_near"),
        (col("min_ex").isNull && col("doc_id") <= col("min_in") &&
          col("near_partner").isNull).cast("int").as("keep"),
        least(col("min_ex"), when(col("min_in") < col("doc_id"), col("min_in")),
          col("near_partner")).as("matched_id"))
  }

  /** One probe key per static doc artifact: the exact content key
    * (`e|sha256`) plus the four LSH band keys (`b<i>|mh|mh|mh`) — both
    * detectors' keys share one bitmap (the prefixes keep them from
    * colliding semantically; bloom FPs remain). Docs below shingle
    * length contribute only their exact key. */
  private def staticKeys(docs: DataFrame): DataFrame = {
    val bandKeys = (0 until Bands).map(b =>
      s"CASE WHEN sig IS NOT NULL THEN concat('b$b|', " +
        s"concat_ws('|', sig[${SigsPerBand * b}]" + (1 until SigsPerBand).map(j => s", sig[${SigsPerBand * b + j}]").mkString + s")) END")
    docs.select(sha2(col("text"), 256).as("ch"), split(col("text"), " ").as("ws"))
      .withColumn("sarr", expr(
        ShingleCase))
      .withColumn("sig", expr(SigCase))
      .select(explode(expr(
        s"filter(array(concat('e|', ch), ${bandKeys.mkString(", ")}), k -> k IS NOT NULL)")).as("k"))
      .withColumn("m", md5(col("k")))
      .withColumn("h1", expr(TextOps.hexVal("m", 1, duck = false)))
      .withColumn("h2", expr(TextOps.hexVal("m", 9, duck = false)))
  }

  /** Stream-static delta-dedup gate — the ingestion-time face of q64: the
    * settled corpus's exact + band keys pack ONCE into a bloom bitset
    * (eager 1-row leaf, the OutlierPrune threshold precedent), and
    * arriving docs probe it entirely MAP-SIDE: shingle+sign in-row, five
    * O(1) shift-mask probes against the broadcast words. No join, no
    * state, no watermark — a pure append-mode projection, so it composes
    * anywhere in a curation chain.
    *
    * Verdict semantics are the production staging contract: `exact_hit` /
    * `near_candidate` are bloom-or-LSH POSITIVE SIGNALS (false positives
    * at the bloom rate; band collision is itself only a candidate) that
    * route the doc to the batch [[deltaDedupOf]] verify at the next
    * compaction, while `guaranteed_new` = no key hit anywhere has NO
    * false negatives — those docs skip the expensive path entirely.
    * Works identically on a batch frame (the spec's stream==batch
    * contract). */
  def deltaGateStreamStatic(streamDocs: DataFrame, staticDocs: DataFrame,
                            mBits: Int = 1 << 14): DataFrame = {
    graft.GraftExtensions.register(staticDocs.sparkSession)
    val bitmap = CurationOps.bloomBitmap(staticKeys(staticDocs), mBits).localCheckpoint()
    def keyProbe(mCol: String): org.apache.spark.sql.Column = {
      val h1 = TextOps.hexVal(mCol, 1, duck = false)
      val h2 = TextOps.hexVal(mCol, 9, duck = false)
      (0 until Bands).map { i =>
        val p = s"pmod($h1 + $i * $h2, ${mBits}L)"
        expr(s"(shiftright(element_at(bits, CAST($p div 64 AS INT) + 1), " +
          s"CAST($p % 64 AS INT)) & 1) = 1")
      }.reduce(_ && _)
    }
    val bandMd5 = (0 until Bands).map(b => expr(
      s"CASE WHEN sig IS NOT NULL THEN md5(concat('b$b|', " +
        s"concat_ws('|', sig[${SigsPerBand * b}]" + (1 until SigsPerBand).map(j => s", sig[${SigsPerBand * b + j}]").mkString + s"))) END").as(s"m$b"))
    streamDocs.select(col("doc_id"), col("text"))
      .withColumn("ws", split(col("text"), " "))
      .withColumn("sarr", expr(
        ShingleCase))
      .withColumn("sig", expr(SigCase))
      .select(Seq(col("doc_id"), md5(concat(lit("e|"), sha2(col("text"), 256))).as("me"),
        col("sig")) ++ bandMd5: _*)
      .crossJoin(broadcast(bitmap))
      .withColumn("exact_hit", keyProbe("me"))
      .withColumn("near_candidate",
        (0 until Bands).map(b => coalesce(keyProbe(s"m$b"), lit(false))).reduce(_ || _))
      .select(col("doc_id"), col("exact_hit"), col("near_candidate"),
        (!col("exact_hit") && !col("near_candidate")).as("guaranteed_new"))
  }

  // ---------------------------------------------------------------- q64
  // Fixture split by id parity: evens are the settled corpus, odds the
  // incoming batch — near-dup fixture pairs land on both sides of the
  // split, so cross-side AND within-batch verdicts are exercised.
  // maxBucket bound at q12's non-default fixture cap (symmetric HAVING).
  def q64(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.table(spark, sfDir, "documents")
    deltaDedupOf(docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1),
      maxBucket = TextOps.FixtureMaxBucket)
  }

  private def q64Sql(maxBucket: Int = TextOps.FixtureMaxBucket,
                     minJaccard: Double = 0.5): String = {
    val p = 2147483647L
    val sigCols = (0 until 12)
      .map(i => s"min((h1 + $i * h2) % $p) AS mh$i").mkString(",\n       |        ")
    val bandSelects = (0 until Bands)
      .map(b => s"SELECT doc_id, src, $b AS band, mh${SigsPerBand * b}" + (1 until SigsPerBand).map(j => s" || '|' || mh${SigsPerBand * b + j}").mkString + s" AS bk FROM sig")
      .mkString("\n       |          UNION ALL ")
    s"""WITH d AS (SELECT doc_id, doc_id % 2 AS src, sha256(text) AS ch,
       |             string_split(text, ' ') AS ws FROM documents),
       |exg AS (SELECT ch, min(CASE WHEN src = 0 THEN doc_id END) AS min_ex,
       |               min(CASE WHEN src = 1 THEN doc_id END) AS min_in
       |        FROM d GROUP BY ch),
       |shraw AS (
       |  SELECT doc_id, src, unnest(list_transform(range(1, len(ws) - 1),
       |         i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])) AS s
       |  FROM d WHERE len(ws) >= 3),
       |shing AS (SELECT DISTINCT doc_id, s FROM shraw),
       |shcnt AS (SELECT doc_id, count(*) AS n FROM shing GROUP BY doc_id),
       |hv AS (SELECT doc_id, src, ${TextOps.hexVal("m", 1, duck = true)} AS h1,
       |               ${TextOps.hexVal("m", 9, duck = true)} AS h2
       |       FROM (SELECT doc_id, src, md5(s) AS m FROM shraw)),
       |sig AS (SELECT doc_id, any_value(src) AS src,
       |        $sigCols
       |        FROM hv GROUP BY doc_id),
       |bands AS ($bandSelects),
       |bsz AS (SELECT band, bk FROM bands GROUP BY band, bk
       |        HAVING count(*) BETWEEN 2 AND $maxBucket
       |           AND sum(CASE WHEN src = 1 THEN 1 ELSE 0 END) >= 1),
       |cand AS (SELECT DISTINCT t.doc_id AS tid, p.doc_id AS pid
       |         FROM bands t JOIN bands p
       |           ON t.band = p.band AND t.bk = p.bk AND t.src = 1
       |          AND (p.src = 0 OR p.doc_id < t.doc_id)
       |         JOIN bsz ON bsz.band = t.band AND bsz.bk = t.bk),
       |inter AS (SELECT tid, pid, count(*) AS inter
       |          FROM cand
       |          JOIN shing sa ON sa.doc_id = tid
       |          JOIN shing sb ON sb.doc_id = pid AND sb.s = sa.s
       |          GROUP BY tid, pid),
       |near AS (SELECT tid AS doc_id, min(pid) AS near_partner
       |         FROM inter
       |         JOIN shcnt ca ON ca.doc_id = tid
       |         JOIN shcnt cb ON cb.doc_id = pid
       |         WHERE inter / (ca.n + cb.n - inter) >= $minJaccard
       |         GROUP BY tid)
       |SELECT i.doc_id,
       |       CASE WHEN min_ex IS NOT NULL OR i.doc_id > min_in THEN 1 ELSE 0 END AS dup_exact,
       |       CASE WHEN near_partner IS NOT NULL THEN 1 ELSE 0 END AS dup_near,
       |       CASE WHEN min_ex IS NULL AND i.doc_id <= min_in
       |             AND near_partner IS NULL THEN 1 ELSE 0 END AS keep,
       |       least(min_ex, CASE WHEN min_in < i.doc_id THEN min_in END,
       |             near_partner) AS matched_id
       |FROM (SELECT doc_id, ch FROM d WHERE src = 1) i
       |JOIN exg USING (ch)
       |LEFT JOIN near USING (doc_id)""".stripMargin
  }

  // ---------------------------------------------------------------- q168
  /** q64's recurring half against a PERSISTED signature store — the
    * artifact-read discipline (q167, [[graft.ops.ArtifactStore]])
    * applied to the dedup family, closing the arc across its last
    * operator class (census q154 → spectral q163 → rank q164 → Lloyd
    * q165 → dedup here): in production the settled corpus's exact
    * hashes and MinHash band buckets live in a signature store written
    * once; the nightly batch signs ITSELF, probes the store, and the
    * settled corpus is touched only to fetch the TEXT of candidate
    * partners (an id-selective join, bounded by the LSH candidate set —
    * signature stores keep signatures, not shingle sets, so verify
    * re-derives the candidate's shingles from its fetched text; the
    * derivation is deterministic, so verdicts are bit-identical).
    *
    * Store layout: `exact/` (ch, min_ex) — the settled exact census;
    * `bands/` (band, bk, exs) — each bucket's settled members as a
    * sorted (doc_id, n) array, exactly the `exs` arm of
    * [[deltaDedupOf]]'s union-grouped bucket. The refresh left-joins
    * its incoming-grouped buckets against `bands/` (absent bucket →
    * empty array), applies the SAME size cap and pair expansion, and
    * the exact verdict left-joins `exact/` — so every verdict equals
    * [[deltaDedupOf]]'s on the incoming side by construction
    * (DeltaStoreSpec collects both and compares; the oracle is q64's
    * SQL verbatim). Fit/staleness protocol is [[graft.ops.ArtifactStore]]'s.
    *
    * Scale shape: the recurring path signs the BATCH only; store reads
    * are signature-grain; the one settled-corpus touch is the
    * candidate-id text fetch. I·E+I²/2 pair asymmetry, `maxBucket` cap
    * and candidate-side broadcast all inherit from q64. */
  def fitStore(spark: SparkSession, existing: DataFrame,
               dir: String, fp: String): String = synchronized {
    graft.GraftExtensions.register(spark)
    graft.ops.ArtifactStore.beginFit(dir)
    val vdir = graft.ops.ArtifactStore.versionDir(dir, fp)
    val base = Tables.swapPersist("q168_fit_base",
      Tables.fanned(existing.select(col("doc_id"), col("text")))
        .select(col("doc_id"), sha2(col("text"), 256).as("ch"),
          split(col("text"), " ").as("ws"))
        .withColumn("sarr", expr(
          ShingleCase))
        .select(col("doc_id"), col("ch"),
          size(array_distinct(col("sarr"))).as("n"),
          expr(SigCase).as("sig")))
    base.groupBy(col("ch")).agg(min(col("doc_id")).as("min_ex"))
      .write.mode("overwrite").parquet(s"$vdir/exact")
    val bandCols = (0 until Bands).map(b =>
      s"$b, concat_ws('|', sig[${SigsPerBand * b}]" + (1 until SigsPerBand).map(j => s", sig[${SigsPerBand * b + j}]").mkString + s")").mkString(", ")
    base.filter(col("sig").isNotNull)
      .select(col("doc_id"), col("n"), expr(s"stack($Bands, $bandCols)").as(Seq("band", "bk")))
      .groupBy(col("band"), col("bk"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("n")))).as("exs"))
      .write.mode("overwrite").parquet(s"$vdir/bands")
    graft.ops.ArtifactStore.commitFit(dir, fp)
    vdir
  }

  /** The recurring half — see [[fitStore]]. `existing` is read ONLY for
    * the candidate-id text fetch. Output schema == [[deltaDedupOf]]. */
  def storeDedupOf(spark: SparkSession, existing: DataFrame, incoming: DataFrame,
                   dir: String, fp: String,
                   maxBucket: Int = TextOps.DefaultMaxBucket,
                   minJaccard: Double = 0.5): DataFrame = {
    // check+fit under ONE lock (fitStore shares the monitor — reentrant):
    // two concurrent callers must not both observe stale and both refit
    synchronized {
      if (!graft.ops.ArtifactStore.isFresh(dir, fp))
        fitStore(spark, existing, dir, fp)
    }
    graft.GraftExtensions.register(spark)
    val vdir = graft.ops.ArtifactStore.versionDir(dir, fp)
    val exact = IO.parquet(spark, s"$vdir/exact")
    val bandsArt = IO.parquet(spark, s"$vdir/bands")
    // the batch signs itself: ONE persisted pass (exact rollup, band
    // stream and the verify tid/early-pid sides all read it)
    val base = Tables.swapPersist("q168_base",
      Tables.fanned(incoming.select(col("doc_id"), col("text")))
        .select(col("doc_id"), sha2(col("text"), 256).as("ch"),
          split(col("text"), " ").as("ws"))
        .withColumn("sarr", expr(
          ShingleCase))
        .select(col("doc_id"), col("ch"),
          array_distinct(col("sarr")).as("sset"),
          expr(SigCase).as("sig")))
    val exg = base.groupBy(col("ch")).agg(min(col("doc_id")).as("min_in"))
      .join(exact, Seq("ch"), "left")
    val bandCols = (0 until Bands).map(b =>
      s"$b, concat_ws('|', sig[${SigsPerBand * b}]" + (1 until SigsPerBand).map(j => s", sig[${SigsPerBand * b + j}]").mkString + s")").mkString(", ")
    // incoming-grouped buckets ⟕ the store's settled members: the same
    // total-size cap and incoming×(settled ∪ earlier-incoming) expansion
    // as the union-grouped q64 bucket — `ps` tags which side a partner
    // came from, so the verify fetch knows which texts to pull
    val cand = Tables.swapPersist("q168_cand",
      base.filter(col("sig").isNotNull)
        .select(col("doc_id"), size(col("sset")).as("n"),
          expr(s"stack($Bands, $bandCols)").as(Seq("band", "bk")))
        .groupBy(col("band"), col("bk"))
        .agg(sort_array(collect_list(struct(col("doc_id"), col("n")))).as("ins"))
        .join(bandsArt, Seq("band", "bk"), "left")
        .withColumn("exs", coalesce(col("exs"),
          expr("CAST(array() AS ARRAY<STRUCT<doc_id: BIGINT, n: INT>>)")))
        .filter(size(col("ins")) >= 1 &&
          (size(col("exs")) + size(col("ins"))).between(2, maxBucket))
        .select(explode(expr(
          """flatten(transform(ins, (t, i) ->
            |  transform(concat(transform(exs, p -> struct(p.doc_id AS pid, p.n AS pn, 0 AS ps)),
            |                   transform(slice(ins, 1, i), p -> struct(p.doc_id AS pid, p.n AS pn, 1 AS ps))),
            |            p -> struct(t.doc_id AS tid, t.n AS tn, p.pid, p.pn, p.ps))))""".stripMargin)).as("c"))
        .select(col("c.tid"), col("c.tn"), col("c.pid"), col("c.pn"), col("c.ps"))
        .distinct())
    // the ONLY settled-corpus touch: fetch candidate partners' text and
    // re-derive their shingle sets (deterministic == the store builder's)
    val settledSets = existing.select(col("doc_id"), col("text"))
      .join(cand.filter(col("ps") === 0).select(col("pid").as("doc_id")).distinct(),
        Seq("doc_id"))
      .withColumn("ws", split(col("text"), " "))
      .withColumn("sarr", expr(
        ShingleCase))
      .select(col("doc_id"), array_distinct(col("sarr")).as("sset"))
    val sets = base.select(col("doc_id"), col("sset")).unionByName(settledSets)
    val near = cand
      .join(sets.as("st"), col("tid") === col("st.doc_id"))
      .join(sets.as("sp"), col("pid") === col("sp.doc_id"))
      .select(col("tid"), col("pid"),
        size(array_intersect(col("st.sset"), col("sp.sset"))).as("inter"),
        col("tn"), col("pn"))
      .filter(col("inter") / (col("tn") + col("pn") - col("inter")) >= minJaccard)
      .groupBy(col("tid").as("doc_id"))
      .agg(min(col("pid")).as("near_partner"))
    base.select(col("doc_id"), col("ch"))
      .join(exg, "ch")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("min_ex").isNotNull || col("doc_id") > col("min_in")).cast("int").as("dup_exact"),
        col("near_partner").isNotNull.cast("int").as("dup_near"),
        (col("min_ex").isNull && col("doc_id") <= col("min_in") &&
          col("near_partner").isNull).cast("int").as("keep"),
        least(col("min_ex"), when(col("min_in") < col("doc_id"), col("min_in")),
          col("near_partner")).as("matched_id"))
  }

  /** Store layout/semantics version — part of the fingerprint. */
  val StoreVersion = 1

  // q64's fixture split (evens settled, odds incoming) so the oracle is
  // q64's SQL verbatim and DeltaStoreSpec can pin q168 == q64 directly.
  def q168(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.table(spark, sfDir, "documents")
    storeDedupOf(spark,
      docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1),
      graft.ops.ArtifactStore.root(sfDir, s"dedup-par0-v$StoreVersion"),
      // fit-time signature geometry (4 bands × 3 sigs, 3-gram shingles)
      // rides the fingerprint so a constant change can't silently reuse
      // artifacts signed under the old geometry
      graft.ops.ArtifactStore.fingerprint(spark, sfDir, "documents",
        s"dedup-par0-v$StoreVersion|$geometryTag"),
      maxBucket = TextOps.FixtureMaxBucket)
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q64_delta_dedup", q64, Some(q64Sql())),
    QueryDef("q168_dedup_store", q168, Some(q64Sql()))
  )
}
