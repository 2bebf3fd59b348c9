package graft.ops

import graft.ext.{CurationOps, ScrubOps, TextOps}
import graft.oracle.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The full curation chain a pre-training corpus runs through — PII scrub →
  * quality score → repetition filter → unigram surprisal → benchmark
  * decontamination → leakage-free split — composed over ONE corpus scan
  * (q52), the way [[CorpusPipeline]] composes the dedup/quality/language
  * chain (q35). Running these six as separate jobs re-reads and re-tokenizes
  * the corpus at every boundary; at 100 TB that is six passes for one.
  *
  * Composition strategy: the scrubbed corpus (doc_id, source, n_pii, text)
  * is materialized ONCE via [[Tables.swapPersist]]; every downstream stage —
  * per-doc map-side stats, the word-frequency aggregation, the shingle
  * vocabulary/overlap, the near-dup pair chain feeding the split — reads
  * that cached projection, so the parquet scan happens exactly once
  * (PlanSpec pins it). Per-doc stats (quality, repetition) are pure
  * projections that never leave the row; surprisal and decontamination are
  * aggregate-derived per-doc frames joined back on doc_id; the split root
  * is a broadcast join (near-dup clusters are small by construction).
  *
  * Every stage reuses the SAME code as its standalone query — scoredDocs
  * (q16), modeExpr thresholds (q40), piiCleanCol (q49), surprisalScoreOf
  * (q43), decontaminationAgainst (q39), ngramJaccardOf + leakageFreeSplit
  * (q14/q48) — so the composition cannot drift from the operators it
  * composes, and the DuckDB oracle re-derives the whole chain end-to-end.
  */
object CurationPipeline {

  /** General form over any (doc_id, source, text) frame. `benchResidue` /
    * `residueMod` carve the deterministic pseudo-eval slice used as the
    * decontamination vocabulary (a real pipeline passes a genuine eval set
    * by splitting upstream and calling the stages directly). Output: one
    * row per (source, split) with gate-level counts and kept-token volume.
    */
  def curationDagOf(docs: DataFrame,
                    qualityFloor: Double = CorpusPipeline.QualityFloor,
                    residueMod: Int = 20, benchResidue: Int = 7): DataFrame = {
    val spark = docs.sparkSession
    graft.GraftExtensions.register(spark)
    // Stage 0 (map-side, fused into the scan): plant-free scrub — counts +
    // redaction in one projection (q49's exact expressions), then the ONE
    // corpus materialization every later stage reads.
    val base = Tables.swapPersist("q52_base", Tables.fanned(
      docs.select(col("doc_id"), col("source"),
        ScrubOps.piiCountCol(col("text")).as("n_pii"),
        ScrubOps.piiCleanCol(col("text")).as("text"))))
    val train = base.filter(col("doc_id") % residueMod =!= benchResidue)
    val bench = base.filter(col("doc_id") % residueMod === benchResidue)

    // Per-doc map-side stats: quality (q16's scoredDocs — identical
    // expression tree) and repetition flags (q40's sorted-run modeExpr) in
    // one projection chain — zero exchanges for these two gates.
    val perDoc = TextOps.scoredDocs(train)
      .withColumn("tw", expr(CurationOps.modeExpr("array_sort(ws)")))
      .withColumn("tg", expr(CurationOps.modeExpr("array_sort(word_ngrams(ws, 2))")))
      .withColumn("rep_flagged",
        when(col("n_words") < 2, lit(0)).otherwise(
          ((col("tw.n") * 100 > col("n_words") * 15) ||
           (col("tg.n") * 100 > (col("n_words") - 1) * 8) ||
           ((col("n_words") - size(array_distinct(col("ws")))) * 100 >
             col("n_words") * 68)).cast("int")))
      .select(col("doc_id"), col("source"), col("n_pii"), col("n_words"),
        col("quality_score"), col("rep_flagged"))

    // Aggregate-derived per-doc frames, joined back on doc_id (the corpus
    // exchanges by doc_id here — unavoidable for corpus-level statistics;
    // AQE reuses the exchange across the co-keyed joins).
    val surp = CurationOps.surprisalScoreOf(train.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("flagged").as("surp_flagged"))
    // r17 (guide §1.2): decontamination and the near-dup pair machinery
    // both shingle the SAME train corpus — word_ngrams is the dominant
    // map expression, so the DAG paid its heaviest projection twice. ONE
    // shingle pass now feeds both consumers, materialized at the ARR
    // grain (one row per doc) via a LAZY localCheckpoint: the CC edge
    // list's eager checkpoint materializes it in the same jobs, and the
    // measured alternatives lose — keyed columnar persist of the arrays
    // 6.0 s, of the exploded instances 5.1 s, this shape 4.3 s (the
    // array<string> columnar encode costs more than the second shingle
    // pass it saves; UnsafeRow checkpoint blocks don't). Trade, stated:
    // checkpoint blocks are executor-local (fine on local[*]; a cluster
    // deployment that needs executor-loss recovery for this corpus-grain
    // frame should swap the checkpoint for the keyed persist) and are
    // released on GC rather than by Tables.releasePersisted.
    val si = TextOps.instancesOfArr(
      TextOps.shingleArr(train, distinct = true).localCheckpoint(false))
    val contam = CurationOps.decontaminationAgainstInstances(si, bench)
      .select(col("doc_id"), lit(1).as("contaminated"))
    val split = Components.leakageFreeSplit(
        train.select(col("doc_id")),
        TextOps.ngramJaccardOfInstances(si).select(col("doc_a"), col("doc_b")))
      .select(col("doc_id"), col("split"))

    perDoc
      .join(surp, "doc_id")
      .join(contam, Seq("doc_id"), "left")
      .join(split, "doc_id")
      .na.fill(0, Seq("contaminated"))
      .withColumn("kept",
        (col("quality_score") >= qualityFloor) && col("rep_flagged") === 0 &&
          col("surp_flagged") === 0 && col("contaminated") === 0)
      .groupBy(col("source"), col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum((col("n_pii") > 0).cast("long")).as("n_pii_docs"),
        sum((col("quality_score") < qualityFloor).cast("long")).as("n_quality_fail"),
        sum(col("rep_flagged").cast("long")).as("n_rep_flagged"),
        sum(col("surp_flagged").cast("long")).as("n_surprisal_flagged"),
        sum(col("contaminated").cast("long")).as("n_contaminated"),
        sum(col("kept").cast("long")).as("n_kept"),
        sum(when(col("kept"), col("n_words")).otherwise(lit(0L))).as("kept_tokens"))
  }

  // ---------------------------------------------------------------- q52
  /** Fixture binding: PII planted (q49's deterministic planting) so the
    * scrub stage is live, then the full DAG over the planted corpus. */
  def q52(spark: SparkSession, sfDir: String): DataFrame =
    curationDagOf(ScrubOps.plantPii(Tables.table(spark, sfDir, "documents"))
      .select(col("doc_id"), col("source"), col("text")))

  private val q52Sql = {
    val floor = CorpusPipeline.QualityFloor
    val threeGrams =
      "list_transform(range(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])"
    s"""WITH RECURSIVE
       |planted AS (SELECT doc_id, source, ${ScrubOps.plantSql} AS text FROM documents),
       |clean AS (SELECT doc_id, source, ${ScrubOps.countSql("text")} AS n_pii,
       |                 ${ScrubOps.scrubSql("text")} AS text
       |          FROM planted),
       |t AS (SELECT doc_id, source, n_pii, string_split(text, ' ') AS ws
       |      FROM clean WHERE doc_id % 20 != 7),
       |qual AS (SELECT doc_id, source, n_pii, len(ws)::BIGINT AS n_words,
       |         floor((0.4 * round(len(list_distinct(ws)) / len(ws), 4)
       |              + 0.3 * least(len(ws) / 100.0, 1.0)
       |              + 0.3 * (1.0 - round(len(list_filter(ws, w -> w in ('the', 'a', 'of', 'and', 'to', 'in'))) / len(ws), 4))) * 10000) / 10000 AS quality_score
       |         FROM t),
       |winst AS (SELECT doc_id, unnest(ws) AS w FROM t),
       |wc AS (SELECT doc_id, w, count(*) AS c FROM winst GROUP BY doc_id, w),
       |tw AS (SELECT doc_id, c FROM (
       |         SELECT doc_id, c, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, w) AS rn
       |         FROM wc) WHERE rn = 1),
       |gc AS (SELECT doc_id, g, count(*) AS c FROM (
       |         SELECT doc_id, unnest(list_transform(range(1, len(ws)),
       |                i -> ws[i] || ' ' || ws[i + 1])) AS g
       |         FROM t WHERE len(ws) >= 2) GROUP BY doc_id, g),
       |tg AS (SELECT doc_id, max(c) AS c FROM gc GROUP BY doc_id),
       |repd AS (SELECT t.doc_id,
       |         CASE WHEN tw.c * 100 > len(t.ws) * 15
       |                OR tg.c * 100 > (len(t.ws) - 1) * 8
       |                OR (len(t.ws) - len(list_distinct(t.ws))) * 100 > len(t.ws) * 68
       |              THEN 1 ELSE 0 END AS rep_flagged
       |         FROM t JOIN tw ON tw.doc_id = t.doc_id JOIN tg ON tg.doc_id = t.doc_id),
       |freq AS (SELECT w, count(*) AS c FROM winst GROUP BY w),
       |tot AS (SELECT count(*) AS n FROM winst),
       |surp AS (SELECT doc_id, count(*) AS n_words, CAST(sum(mb) AS BIGINT) AS sum_millibits
       |         FROM (SELECT doc_id, CAST(round(ln(n / c) / ln(2) * 1000) AS BIGINT) AS mb
       |               FROM winst JOIN freq USING (w) CROSS JOIN tot)
       |         GROUP BY doc_id),
       |shraw AS (SELECT doc_id, unnest($threeGrams) AS s FROM t WHERE len(ws) >= 3),
       |shing AS (SELECT DISTINCT doc_id, s FROM shraw),
       |shcnt AS (SELECT doc_id, count(*) AS n FROM shing GROUP BY doc_id),
       |bvocab AS (SELECT DISTINCT s FROM (
       |             SELECT unnest($threeGrams) AS s
       |             FROM (SELECT string_split(text, ' ') AS ws
       |                   FROM clean WHERE doc_id % 20 = 7)
       |             WHERE len(ws) >= 3)),
       |contam AS (SELECT sh.doc_id FROM shing sh
       |           JOIN shcnt c ON c.doc_id = sh.doc_id
       |           JOIN bvocab b ON b.s = sh.s
       |           GROUP BY sh.doc_id, c.n
       |           HAVING 2 * count(*) >= c.n),
       |ok AS (SELECT s FROM shing GROUP BY s HAVING count(*) <= ${TextOps.DefaultDfCap}),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |          FROM shing a JOIN shing b ON a.s = b.s AND a.doc_id < b.doc_id
       |          JOIN ok ON ok.s = a.s
       |          GROUP BY doc_a, doc_b),
       |pairs AS (SELECT doc_a, doc_b FROM inter
       |          JOIN shcnt ca ON ca.doc_id = doc_a
       |          JOIN shcnt cb ON cb.doc_id = doc_b
       |          WHERE inter / (ca.n + cb.n - inter) >= 0.2),
       |bi AS (SELECT doc_a AS x, doc_b AS y FROM pairs
       |       UNION SELECT doc_b, doc_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT x, x FROM bi
       |  UNION
       |  SELECT r.src, bi.y FROM reach r JOIN bi ON r.dst = bi.x),
       |lbl AS (SELECT src AS v, min(dst) AS cluster_id FROM reach GROUP BY src),
       |rooted AS (SELECT t.doc_id, md5('split|' || coalesce(cluster_id, t.doc_id)) AS hh
       |           FROM t LEFT JOIN lbl ON t.doc_id = v),
       |spl AS (SELECT doc_id,
       |        CASE WHEN bucket < 900 THEN 'train'
       |             WHEN bucket < 950 THEN 'val' ELSE 'test' END AS split
       |        FROM (SELECT doc_id, ${TextOps.hexVal("hh", 1, duck = true)} % 1000 AS bucket
       |              FROM rooted)),
       |per AS (SELECT q.doc_id, q.source, q.n_pii, q.n_words, q.quality_score,
       |               coalesce(r.rep_flagged, 0) AS rep_flagged,
       |               CASE WHEN s.sum_millibits > s.n_words * 5000 THEN 1 ELSE 0 END AS surp_flagged,
       |               CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END AS contaminated,
       |               sp.split AS split
       |        FROM qual q
       |        JOIN surp s ON s.doc_id = q.doc_id
       |        LEFT JOIN repd r ON r.doc_id = q.doc_id
       |        LEFT JOIN contam c ON c.doc_id = q.doc_id
       |        JOIN spl sp ON sp.doc_id = q.doc_id),
       |kept AS (SELECT *, CASE WHEN quality_score >= $floor AND rep_flagged = 0
       |                        AND surp_flagged = 0 AND contaminated = 0
       |                        THEN 1 ELSE 0 END AS kept
       |         FROM per)
       |SELECT source, split,
       |       count(*) AS n_docs,
       |       CAST(sum(CASE WHEN n_pii > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_docs,
       |       CAST(sum(CASE WHEN quality_score < $floor THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_fail,
       |       CAST(sum(rep_flagged) AS BIGINT) AS n_rep_flagged,
       |       CAST(sum(surp_flagged) AS BIGINT) AS n_surprisal_flagged,
       |       CAST(sum(contaminated) AS BIGINT) AS n_contaminated,
       |       CAST(sum(kept) AS BIGINT) AS n_kept,
       |       CAST(sum(CASE WHEN kept = 1 THEN n_words ELSE 0 END) AS BIGINT) AS kept_tokens
       |FROM kept GROUP BY source, split""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q52_curation_dag", q52, Some(q52Sql))
  )
}
