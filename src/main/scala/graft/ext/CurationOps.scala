package graft.ext

import graft.oracle.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline needs on
  * top of the dedup/quality/sampling family in [[TextOps]]/[[graft.ops.ScaleOps]]:
  * benchmark decontamination, Gopher-style repetition filtering, bloom-filter
  * incremental dedup, and temperature-weighted mixture resampling.
  *
  * Scale posture mirrors the rest of the library: per-document statistics are
  * array folds inside whole-stage codegen (zero pre-aggregation shuffle); the
  * only broadcast sides are small BY CONSTRUCTION (an eval set's shingle
  * vocabulary, a bloom bitmap, a per-source rate table); sampling decisions
  * are deterministic hash thresholds (retry/replay-stable, engine-portable),
  * never `rand()`.
  */
object CurationOps {

  // ---------------------------------------------------------------- q39
  /** Benchmark decontamination — flag training documents whose word-3-gram
    * shingles overlap an evaluation set's shingle vocabulary (the standard
    * n-gram-overlap decontamination rule used before LLM training runs).
    *
    * The "benchmark" here is the deterministic pseudo-eval slice
    * `doc_id % 20 == 7` (~5% of the corpus at every SF); a real pipeline
    * passes its own eval table. A training doc is contaminated when at least
    * half of its distinct shingles appear in the benchmark vocabulary
    * (integer predicate `2·overlap ≥ n`, no FP boundary).
    *
    * Scale shape: the eval set is tiny relative to the training corpus by
    * construction, so its distinct-shingle vocabulary is BROADCAST and the
    * overlap count is a map-side broadcast semi-join — the 100 TB corpus is
    * scanned once, never shuffled by shingle; the only hash exchange is the
    * per-document overlap count. */
  /** General form: flag docs in `trainDocs` whose distinct-shingle overlap
    * with `benchDocs`' vocabulary is ≥ minShareNum/minShareDen (integer
    * cross-multiplied — no FP boundary). Both args are (doc_id, text).
    *
    * PRECONDITION on the default `broadcastVocab = true`: `benchDocs` must
    * be an EVAL-SET-sized frame — its distinct-shingle vocabulary is
    * collected to the driver and broadcast, so a corpus-scale bench side
    * would OOM the driver. Real benchmark suites are a few thousand
    * documents (vocabulary ≪ executor memory), which is why broadcast is
    * the default shape; pass `broadcastVocab = false` to decontaminate
    * against a LARGE reference corpus instead — the overlap then runs as a
    * shuffle join keyed by shingle (both sides exchanged, nothing
    * collected anywhere). */
  def decontaminationAgainst(trainDocs: DataFrame, benchDocs: DataFrame,
                             minShareNum: Int = 1, minShareDen: Int = 2,
                             broadcastVocab: Boolean = true): DataFrame =
    decontaminationAgainstInstances(TextOps.shingleInstances(trainDocs),
      benchDocs, minShareNum, minShareDen, broadcastVocab)

  /** [[decontaminationAgainst]] over a pre-computed TRAIN
    * [[TextOps.shingleInstances]] frame — shares one persisted shingle
    * pass with the pair machinery in composed DAGs (see
    * TextOps.shingleInstances). The bench side still shingles its own
    * (eval-sized) docs. */
  def decontaminationAgainstInstances(trainSi: DataFrame, benchDocs: DataFrame,
                                      minShareNum: Int = 1, minShareDen: Int = 2,
                                      broadcastVocab: Boolean = true): DataFrame = {
    val bench = TextOps.shingleArr(benchDocs, distinct = true)
      .select(explode(col("sarr")).as("s")).distinct()
    trainSi
      .select(col("doc_id"), col("n").cast("long").as("n_shingles"), col("s"))
      .join(if (broadcastVocab) broadcast(bench) else bench, "s")
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") * minShareDen >= col("n_shingles") * minShareNum)
      .select(col("doc_id"), col("n_shingles"), col("n_overlap"),
        round(col("n_overlap") / col("n_shingles"), 4).as("overlap_ratio"))
  }

  // ---------------------------------------------------------------- q71
  /** Contamination ATTRIBUTION — q39's actionable follow-up: q39 flags a
    * training doc as contaminated; the reviewer's next question is "by
    * WHICH eval doc?". For every training doc sharing ≥ `minOverlap`
    * distinct shingles with some eval doc, report its strongest eval match
    * (most shared shingles, ties to the lower eval id) and how many eval
    * docs it hits at all — the evidence row an exclusion-list audit needs.
    *
    * Scale shape: the eval side's (shingle, eval_id) pairs are BROADCAST
    * (eval sets are ~10⁴ docs regardless of corpus size — the q39
    * precondition); the corpus is scanned once and never shuffled by
    * shingle. Only OVERLAPPING (train, eval) rows — a corpus-fraction ≈
    * contamination rate — reach the two keyed aggregations (pair counts,
    * then the per-doc struct-argmax with map-side partials). */
  def contaminationAttributionAgainst(trainDocs: DataFrame, benchDocs: DataFrame,
                                      minOverlap: Int = 3): DataFrame = {
    val bench = TextOps.shingleArr(benchDocs, distinct = true)
      .select(col("doc_id").as("eval_id"), explode(col("sarr")).as("s"))
    TextOps.shingleArr(trainDocs, distinct = true)
      .select(col("doc_id"), size(col("sarr")).cast("long").as("n_shingles"),
        explode(col("sarr")).as("s"))
      .join(broadcast(bench), "s")
      .groupBy(col("doc_id"), col("n_shingles"), col("eval_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(max(struct(col("n_overlap").as("no"), (-col("eval_id")).as("ne"))).as("w"),
        count(lit(1)).as("n_eval_hits"))
      .select(col("doc_id"), col("n_shingles"),
        (-col("w.ne")).as("top_eval_id"), col("w.no").as("n_overlap"),
        col("n_eval_hits"),
        round(col("w.no") / col("n_shingles"), 4).as("overlap_ratio"))
  }

  def contaminationAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.table(spark, sfDir, "documents")
    contaminationAttributionAgainst(
      docs.filter(col("doc_id") % 20 =!= 7),
      docs.filter(col("doc_id") % 20 === 7))
  }

  private def q71Sql(minOverlap: Int = 3): String =
    s"""WITH ${TextOps.shingleCte},
       |bench AS (SELECT DISTINCT doc_id AS eval_id, s FROM shing WHERE doc_id % 20 = 7),
       |ov AS (SELECT sh.doc_id, c.n AS n_shingles, b.eval_id, count(*) AS n_overlap
       |       FROM shing sh
       |       JOIN shcnt c ON c.doc_id = sh.doc_id
       |       JOIN bench b ON b.s = sh.s
       |       WHERE sh.doc_id % 20 != 7
       |       GROUP BY 1, 2, 3
       |       HAVING count(*) >= $minOverlap),
       |r AS (SELECT doc_id, n_shingles, eval_id, n_overlap,
       |        row_number() OVER (PARTITION BY doc_id
       |                           ORDER BY n_overlap DESC, eval_id) AS rn,
       |        count(*) OVER (PARTITION BY doc_id) AS n_eval_hits
       |      FROM ov)
       |SELECT doc_id, n_shingles, eval_id AS top_eval_id, n_overlap, n_eval_hits,
       |       round(n_overlap / n_shingles, 4) AS overlap_ratio
       |FROM r WHERE rn = 1""".stripMargin

  /** Stream-static decontamination gate — q39's ingestion-time face: flag
    * (and let the caller drop) eval-contaminated documents BEFORE they
    * land in the corpus, instead of hunting them afterwards. Each arriving
    * doc's distinct shingles intersect the eval vocabulary ENTIRELY
    * map-side — the vocabulary travels as a broadcast literal array under
    * the same eval-set-sized precondition as [[decontaminationAgainst]]'s
    * `broadcastVocab` — so the gate composes into an append-mode streaming
    * chain with zero aggregation state (the DeltaDedup/bloom-gate
    * pattern). Same integer share predicate as q39; docs too short to
    * shingle (< 3 words) pass, matching the batch form, which never emits
    * them. */
  def decontaminationGateStreamStatic(docs: DataFrame, benchDocs: DataFrame,
                                      minShareNum: Int = 1,
                                      minShareDen: Int = 2): DataFrame = {
    graft.GraftExtensions.register(benchDocs.sparkSession)
    val vocab = TextOps.shingleArr(benchDocs, distinct = true)
      .select(explode(col("sarr")).as("s")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    docs.select(col("doc_id"), col("text"))
      .withColumn("ws", split(col("text"), " "))
      .withColumn("sarr", expr(
        "CASE WHEN size(ws) >= 3 THEN array_distinct(word_ngrams(ws, 3)) " +
          "ELSE CAST(array() AS ARRAY<STRING>) END"))
      .withColumn("n_shingles", size(col("sarr")).cast("long"))
      .withColumn("n_overlap",
        size(array_intersect(col("sarr"), typedLit(vocab))).cast("long"))
      .select(col("doc_id"), col("n_shingles"), col("n_overlap"),
        (col("n_shingles") > 0 &&
          col("n_overlap") * minShareDen >= col("n_shingles") * minShareNum)
          .as("contaminated"))
  }

  def decontamination(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.table(spark, sfDir, "documents")
    // The 5%-of-corpus residue slice STANDS IN for a real eval table, whose
    // defining property is being tiny and fixed-size (MMLU and friends are
    // ~10⁴ docs regardless of corpus size). The broadcast precondition
    // documented on decontaminationAgainst holds for real eval sets, not
    // for this slice extrapolated to 100 TB — a corpus-scale reference
    // side must pass broadcastVocab = false there.
    decontaminationAgainst(
      docs.filter(col("doc_id") % 20 =!= 7),
      docs.filter(col("doc_id") % 20 === 7))
  }

  private val q39Sql =
    s"""WITH ${TextOps.shingleCte},
       |bench AS (SELECT DISTINCT s FROM shing WHERE doc_id % 20 = 7),
       |tr AS (SELECT sh.doc_id, c.n AS n_shingles, count(*) AS n_overlap
       |       FROM shing sh
       |       JOIN shcnt c ON c.doc_id = sh.doc_id
       |       JOIN bench b ON b.s = sh.s
       |       WHERE sh.doc_id % 20 != 7
       |       GROUP BY 1, 2)
       |SELECT doc_id, n_shingles, n_overlap,
       |       round(n_overlap / n_shingles, 4) AS overlap_ratio
       |FROM tr WHERE 2 * n_overlap >= n_shingles""".stripMargin

  // ---------------------------------------------------------------- q40
  /** Gopher-style repetition statistics per document: most-frequent-word
    * fraction, most-frequent-2-gram fraction, duplicate-word ratio, and a
    * `flagged` bit when any exceeds its threshold (15% / 8% / 68% — tuned so
    * the synthetic fixture flags ~20%). The thresholds compare in INTEGER
    * arithmetic (`100·top > k·n`) so both engines agree at exact boundaries.
    *
    * The per-doc mode (most frequent element) is computed MAP-SIDE with a
    * sorted-array run scan — `array_sort` then one `aggregate` fold tracking
    * (prev, run, best) — instead of the explode → groupBy(doc, word) → max
    * formulation, which would shuffle every word instance twice. Ties break
    * to the lexicographically smallest element on both engines (first
    * max-run in sorted order ≡ min(word) among max-count). The whole
    * operator is shuffle-free. */
  private[graft] def modeExpr(arr: String): String = {
    val r = "IF(w <=> a.prev, a.run + 1L, 1L)"
    s"""aggregate($arr,
       |  named_struct('prev', CAST(NULL AS STRING), 'run', 0L,
       |               'bw', CAST(NULL AS STRING), 'bn', 0L),
       |  (a, w) -> named_struct('prev', w, 'run', $r,
       |               'bw', IF($r > a.bn, w, a.bw),
       |               'bn', IF($r > a.bn, $r, a.bn)),
       |  a -> named_struct('w', a.bw, 'n', a.bn))""".stripMargin
  }

  def repetitionStats(spark: SparkSession, sfDir: String): DataFrame =
    repetitionStatsOf(Tables.table(spark, sfDir, "documents"))

  /** General form over any (doc_id, text) frame; thresholds are integer
    * percents (flag when `100·top > pct·n`). Documents with fewer than 2
    * words are excluded: they have no 2-grams, so every repetition ratio
    * is degenerate (0/0) and the doc is definitionally unflaggable — both
    * engines agree on the row set instead of diverging on null fractions. */
  def repetitionStatsOf(docs: DataFrame, topWordPct: Int = 15,
                        top2GramPct: Int = 8, dupWordPct: Int = 68): DataFrame = {
    graft.GraftExtensions.register(docs.sparkSession)
    Tables.fanned(docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 2))
      .withColumn("tw", expr(modeExpr("array_sort(ws)")))
      .withColumn("tg", expr(modeExpr("array_sort(word_ngrams(ws, 2))")))
      .select(
        col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        col("tw.w").as("top_word"),
        col("tw.n").as("top_word_n"),
        col("tg.n").as("top_2gram_n"),
        size(col("ws")).cast("long").minus(size(array_distinct(col("ws")))).as("n_dup_words"),
        (size(col("ws")) - lit(1)).cast("long").as("n_2grams"))
      .select(
        col("doc_id"), col("n_words"), col("top_word"), col("top_word_n"),
        col("top_2gram_n"),
        round(col("top_word_n") / col("n_words"), 4).as("top_word_frac"),
        round(col("top_2gram_n") / col("n_2grams"), 4).as("top_2gram_frac"),
        round(col("n_dup_words") / col("n_words"), 4).as("dup_word_ratio"),
        ((col("top_word_n") * 100 > col("n_words") * topWordPct) ||
         (col("top_2gram_n") * 100 > col("n_2grams") * top2GramPct) ||
         (col("n_dup_words") * 100 > col("n_words") * dupWordPct)).cast("int").as("flagged"))
  }

  private val q40Sql =
    """WITH docsw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |w AS (SELECT doc_id, unnest(ws) AS w FROM docsw),
      |wc AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY doc_id, w),
      |tw AS (SELECT doc_id, w, c FROM (
      |         SELECT doc_id, w, c,
      |                row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, w) AS rn
      |         FROM wc) WHERE rn = 1),
      |g AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
      |             i -> ws[i] || ' ' || ws[i + 1])) AS g
      |      FROM docsw WHERE len(ws) >= 2),
      |gc AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g),
      |tg AS (SELECT doc_id, max(c) AS c FROM gc GROUP BY doc_id),
      |d AS (SELECT doc_id, len(ws)::BIGINT AS n_words,
      |             (len(ws) - len(list_distinct(ws)))::BIGINT AS n_dup_words,
      |             (len(ws) - 1)::BIGINT AS n_2grams
      |      FROM docsw)
      |SELECT d.doc_id, n_words, tw.w AS top_word,
      |       CAST(tw.c AS BIGINT) AS top_word_n, CAST(tg.c AS BIGINT) AS top_2gram_n,
      |       round(tw.c / n_words, 4) AS top_word_frac,
      |       round(tg.c / n_2grams, 4) AS top_2gram_frac,
      |       round(n_dup_words / n_words, 4) AS dup_word_ratio,
      |       CASE WHEN tw.c * 100 > n_words * 15 OR tg.c * 100 > n_2grams * 8
      |                 OR n_dup_words * 100 > n_words * 68 THEN 1 ELSE 0 END AS flagged
      |FROM d JOIN tw ON tw.doc_id = d.doc_id JOIN tg ON tg.doc_id = d.doc_id""".stripMargin

  // ---------------------------------------------------------------- q41
  /** Bloom-filter incremental dedup — the shape for "does this incoming
    * batch contain documents already in the corpus" without joining the
    * batch against the full corpus: build an m-bit bloom filter over corpus
    * keys (here the md5 of each doc's first-3-word prefix, which has real
    * collisions in the fixture), broadcast the bitmap, test membership
    * map-side, and run the exact verification join ONLY for bloom hits —
    * non-hits are guaranteed-new (no false negatives), which at scale is
    * the overwhelming majority of the batch and never touches a join.
    *
    * The filter is a deterministic Carter-Wegman construction (k=4 probe
    * positions `(h1 + i·h2) mod m` from the two md5 halves) rather than
    * Spark's built-in `bloom_filter_agg`/`might_contain` so the DuckDB
    * oracle reproduces the membership decision bit-for-bit and the
    * false-positive set is hash-checked exactly, not just contract-checked
    * (the oracle tests `pos ∈ occupied-position set` — semantically
    * identical to the bit test). The bitmap is PACKED: m/64 int64 words
    * built with a `bit_or` aggregate and densified through a map →
    * `sequence` transform, so each probe is one O(1) shift-and-mask over a
    * 2 KiB broadcast array (an `array_contains` over the raw position set
    * would be a linear scan per probe — ~10¹³ comparisons at 10⁹ incoming
    * docs). `m` defaults to 16 Ki bits (~5 bits/key at sf0.1, FP ≈ 16% —
    * deliberately lossy so false positives are exercised; size m at
    * ~10 bits/key for a production 1% FP rate). */
  /** Adds (h, h1, h2) — md5 of the first-3-word prefix split into the two
    * Carter-Wegman hash halves — to any frame with `text`. Input columns
    * are KEPT so gate → scrub → score chains compose on one stream. */
  def prefixKeyed(docs: DataFrame): DataFrame =
    docs
      .withColumn("h", md5(array_join(slice(split(col("text"), " "), 1, 3), " ")))
      .withColumn("h1", expr(TextOps.hexVal("h", 1, duck = false)))
      .withColumn("h2", expr(TextOps.hexVal("h", 9, duck = false)))

  /** Packed bloom bitset over a keyed frame: ONE row with an array<long> of
    * ⌈m/64⌉ words (bit_or aggregate, densified via map → sequence). */
  def bloomBitmap(keyed: DataFrame, mBits: Int): DataFrame = {
    val nWords = (mBits + 63) / 64
    val positions = (0 until 4)
      .map(i => pmod(col("h1") + lit(i.toLong) * col("h2"), lit(mBits.toLong)))
    keyed
      .select(explode(array(positions: _*)).as("pos"))
      .groupBy(expr("CAST(pos div 64 AS INT)").as("wi"))
      .agg(expr("bit_or(shiftleft(1L, CAST(pos % 64 AS INT)))").as("wbits"))
      .agg(map_from_entries(collect_list(struct(col("wi"), col("wbits")))).as("wm"))
      .select(expr(
        s"transform(sequence(0, ${nWords - 1}), i -> coalesce(element_at(wm, i), 0L))")
        .as("bits"))
  }

  /** In-row bloom probe predicate over a lambda-bound md5 hex variable
    * `hVar` against a packed-words array column `bitsCol` — the four O(1)
    * shift-mask tests shared by every per-token/per-window gate
    * (OOV, eval-span, and their composed form). `bitsCol` is a parameter
    * so multiple bitmaps can ride the same projection under different
    * column names. */
  private[graft] def bloomProbePredicate(mBits: Int, hVar: String = "h",
                                         bitsCol: String = "bits"): String = {
    val h1 = TextOps.hexVal(hVar, 1, duck = false)
    val h2 = TextOps.hexVal(hVar, 9, duck = false)
    (0 until 4).map { i =>
      val p = s"pmod(($h1) + $i * ($h2), ${mBits}L)"
      s"(shiftright(element_at($bitsCol, CAST($p div 64 AS INT) + 1), " +
        s"CAST($p % 64 AS INT)) & 1) = 1"
    }.mkString("(", " AND ", ")")
  }

  /** Probe a keyed frame against a broadcast bitmap → adds `bloom_hit`.
    * Works identically on a STREAMING keyed frame (stream-static broadcast
    * join + map-side bit tests) — the standard "skip already-ingested docs"
    * gate on an ingestion stream; non-hits are guaranteed-new and can skip
    * the exact dedup path entirely. */
  def bloomProbe(keyed: DataFrame, bitmap: DataFrame, mBits: Int): DataFrame = {
    // O(1) probe: word = bits[pos div 64], test bit (pos % 64) — arithmetic
    // shiftright keeps bit k intact for any k including the sign bit
    def bitTest(i: Int): Column = {
      val p = s"pmod(h1 + $i * h2, ${mBits}L)"
      expr(s"(shiftright(element_at(bits, CAST($p div 64 AS INT) + 1), " +
        s"CAST($p % 64 AS INT)) & 1) = 1")
    }
    keyed.crossJoin(broadcast(bitmap))
      .withColumn("bloom_hit", (0 until 4).map(bitTest).reduce(_ && _))
      .drop("bits")
  }

  def bloomDedup(spark: SparkSession, sfDir: String, mBits: Int = 16384): DataFrame = {
    val docs = Tables.table(spark, sfDir, "documents")
    bloomDedupAgainst(
      docs.filter(col("doc_id") % 5 =!= 0),
      docs.filter(col("doc_id") % 5 === 0), mBits)
  }

  /** General form: probe `incomingDocs` against a bloom filter built from
    * `corpusDocs` (both (doc_id, text)), exact-verifying only the hits. */
  def bloomDedupAgainst(corpusDocs: DataFrame, incomingDocs: DataFrame,
                        mBits: Int = 16384): DataFrame = {
    val corpus = prefixKeyed(corpusDocs)
    val incoming = prefixKeyed(incomingDocs)
    val bitmap = bloomBitmap(corpus, mBits)
    val corpusKeys = corpus.select(col("h").as("ck")).distinct()
    val probed = bloomProbe(incoming, bitmap, mBits)
      .select(col("doc_id"), col("h"), col("bloom_hit"))
    // No broadcast hint on corpusKeys: the corpus side is the one the
    // bloom filter exists to avoid materializing driver-side (tens of GB
    // of keys at 1e9 docs — a guaranteed broadcast OOM). Unhinted, the
    // planner broadcasts it only while its measured size is actually
    // small; past the threshold this becomes a shuffle join keyed by h,
    // whose probe side is |hits| (bloom-filtered, small by construction)
    // — the corpus keys are exchanged but never collected to one node.
    val verified = probed.filter(col("bloom_hit"))
      .join(corpusKeys, col("h") === col("ck"), "left")
      .select(col("doc_id"), col("bloom_hit"), col("ck").isNotNull.as("exact_dup"))
    val misses = probed.filter(!col("bloom_hit"))
      .select(col("doc_id"), col("bloom_hit"), lit(false).as("exact_dup"))
    verified.unionByName(misses)
      .select(col("doc_id"), col("bloom_hit").cast("int").as("bloom_hit"),
        col("exact_dup").cast("int").as("exact_dup"),
        (col("bloom_hit") && !col("exact_dup")).cast("int").as("false_positive"))
  }

  private val q41Sql = {
    val h1 = TextOps.hexVal("h", 1, duck = true)
    val h2 = TextOps.hexVal("h", 9, duck = true)
    val probes = (0 until 4)
      .map(i => s"(h1 + $i * h2) % 16384 IN (SELECT pos FROM bits)")
      .mkString(" AND ")
    s"""WITH keyed AS (
       |  SELECT doc_id, md5(array_to_string(string_split(text, ' ')[1:3], ' ')) AS h
       |  FROM documents),
       |hv AS (SELECT doc_id, h, $h1 AS h1, $h2 AS h2 FROM keyed),
       |bits AS (SELECT DISTINCT (h1 + i * h2) % 16384 AS pos
       |         FROM hv CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) t
       |         WHERE doc_id % 5 != 0),
       |probed AS (
       |  SELECT doc_id, h, CASE WHEN $probes THEN 1 ELSE 0 END AS bloom_hit
       |  FROM hv WHERE doc_id % 5 = 0),
       |flagged AS (
       |  SELECT doc_id, bloom_hit,
       |         CASE WHEN bloom_hit = 1 AND h IN (SELECT h FROM hv WHERE doc_id % 5 != 0)
       |              THEN 1 ELSE 0 END AS exact_dup
       |  FROM probed)
       |SELECT doc_id, bloom_hit, exact_dup,
       |       CASE WHEN bloom_hit = 1 AND exact_dup = 0 THEN 1 ELSE 0 END AS false_positive
       |FROM flagged""".stripMargin
  }

  // ---------------------------------------------------------------- q42
  /** Temperature-weighted mixture resampling — downsample each source to hit
    * a global token budget (half the corpus) with flattened mixture weights
    * w_s = ⌊√tokens_s⌋ (temperature α = ½: smaller sources keep a HIGHER
    * fraction, the standard multilingual/multi-source rebalancing rule).
    * Per-source keep rate (per-mil) = ⌊1000·budget·w_s / (Σw · tokens_s)⌋,
    * capped at 1000; membership is the same deterministic md5-threshold
    * sampling as q26 (retry-stable, engine-exact, join-alignment-safe).
    *
    * All rate arithmetic is INTEGER (⌊√·⌋ of a bigint is exact in IEEE
    * double well past 2^52; the rate products run in exact 38-digit
    * integers — DECIMAL(38,0) on Spark, HUGEINT on DuckDB — because
    * `1000·budget·w` and `sum_w·src_tok` overflow int64 around corpus ≈
    * 10¹³ tokens, i.e. exactly the 100 TB operating point; 38 digits is
    * safe past a 10³⁰-token corpus), so Spark and DuckDB agree
    * bit-for-bit — no float summation-order hazard crosses the engines. Scale shape: per-source token totals are a tiny aggregate
    * (|sources| rows) broadcast back onto the corpus; the sampling decision
    * itself is map-side; the output aggregate is the only full shuffle, and
    * it is keyed by source with map-side partials. */
  def mixtureResample(spark: SparkSession, sfDir: String): DataFrame =
    mixtureResampleOf(Tables.table(spark, sfDir, "documents"))

  /** General form over any (doc_id, source, text) frame; the token budget is
    * `corpus_tokens · budgetNum / budgetDen` (integer arithmetic). */
  def mixtureResampleOf(rawDocs: DataFrame,
                        budgetNum: Long = 1L, budgetDen: Long = 2L): DataFrame = {
    val docs = rawDocs
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("tok"))
    val perSource = docs.groupBy(col("source"))
      .agg(sum(col("tok")).as("src_tok"))
      .withColumn("w", floor(sqrt(col("src_tok"))).cast("long"))
    val totals = perSource.agg(
      sum(col("src_tok")).as("corpus_tok"), sum(col("w")).as("sum_w"))
    val rates = perSource.crossJoin(broadcast(totals))
      // DECIMAL(38,0) intermediates: the numerator/denominator products
      // exceed int64 near 1e13 corpus tokens; `div` on decimals is exact
      // integer floor division returning BIGINT (the quotient is ≤ 1000·
      // budget, well inside long range)
      .withColumn("rate_pm", least(lit(1000L),
        expr(s"(CAST(1000 AS DECIMAL(38,0)) * (corpus_tok * ${budgetNum}L div ${budgetDen}L) * w)" +
          s" div (CAST(sum_w AS DECIMAL(38,0)) * src_tok)")))
      .select(col("source"), col("src_tok"), col("rate_pm"))
    docs.join(broadcast(rates), "source")
      .withColumn("hh", md5(concat(lit("mix|"), col("doc_id"))))
      .withColumn("bucket", expr(
        (0 until 6).map { k =>
          val mult = 1L << (4 * (5 - k))
          s"CAST(instr('0123456789abcdef', substr(hh, ${1 + k}, 1)) - 1 AS BIGINT) * $mult"
        }.mkString("(", " + ", ") % 1000")))
      .filter(col("bucket") < col("rate_pm"))
      .groupBy(col("source"), col("src_tok"), col("rate_pm"))
      .agg(
        count(lit(1)).as("n_kept"),
        sum(col("tok")).as("kept_tokens"),
        sum(col("doc_id")).as("id_sum"))
  }

  private val q42Sql = {
    val hex6 = (0 until 6).map { k =>
      val mult = 1L << (4 * (5 - k))
      s"CAST(strpos('0123456789abcdef', substr(hh, ${1 + k}, 1)) - 1 AS BIGINT) * $mult"
    }.mkString("(", " + ", ")")
    s"""WITH docs AS (SELECT doc_id, source,
       |                     len(string_split(text, ' '))::BIGINT AS tok
       |              FROM documents),
       |per AS (SELECT source, CAST(sum(tok) AS BIGINT) AS src_tok FROM docs GROUP BY source),
       |perw AS (SELECT source, src_tok, CAST(floor(sqrt(src_tok)) AS BIGINT) AS w FROM per),
       |tot AS (SELECT CAST(sum(src_tok) AS BIGINT) AS corpus_tok,
       |               CAST(sum(w) AS BIGINT) AS sum_w FROM perw),
       |rates AS (SELECT source, src_tok,
       |                 least(1000, CAST((1000::HUGEINT * (corpus_tok // 2) * w)
       |                                  // (sum_w::HUGEINT * src_tok) AS BIGINT)) AS rate_pm
       |          FROM perw CROSS JOIN tot),
       |keyed AS (SELECT d.doc_id, d.source, d.tok, r.src_tok, r.rate_pm,
       |                 md5('mix|' || d.doc_id) AS hh
       |          FROM docs d JOIN rates r ON r.source = d.source)
       |SELECT source, src_tok, CAST(rate_pm AS BIGINT) AS rate_pm,
       |       count(*) AS n_kept,
       |       CAST(sum(tok) AS BIGINT) AS kept_tokens,
       |       CAST(sum(doc_id) AS BIGINT) AS id_sum
       |FROM keyed WHERE $hex6 % 1000 < rate_pm
       |GROUP BY source, src_tok, rate_pm""".stripMargin
  }

  // ---------------------------------------------------------------- q43
  /** Unigram LM surprisal scoring — the CCNet-style quality filter: score
    * each document by its average per-word surprisal (bits) under the
    * corpus's own unigram distribution, and flag documents whose average
    * exceeds 5.0 bits/word (distributionally unusual text: OOV-heavy, wrong
    * register, noise). A real pipeline scores against a fixed reference LM;
    * the self-trained unigram model is the engine-shape demonstration.
    *
    * Float-determinism: per-word surprisal log₂(N/c) is rounded to integer
    * MILLIBITS before the per-doc sum, so the aggregation is exact int64
    * arithmetic with no summation-order hazard across engines (a raw double
    * sum over shuffled rows is partition-order-dependent). The flag compares
    * in integers too: `sum_mb > 5000·n_words`.
    *
    * Scale shape: word frequencies are one hash aggregation by word; the
    * surprisal join re-uses that exchange's partitioning (words co-
    * partitioned); the corpus total is a 1-row broadcast; the per-doc
    * rollup is the only other exchange. Nothing ever collects. */
  def surprisalScore(spark: SparkSession, sfDir: String): DataFrame =
    surprisalScoreOf(Tables.table(spark, sfDir, "documents"))

  /** General form over any (doc_id, text) frame; `flagMillibits` is the
    * per-word average above which a doc is flagged (integer compare). */
  def surprisalScoreOf(docs: DataFrame, flagMillibits: Long = 5000L): DataFrame = {
    // One pass over raw word instances: the per-doc tf table is the first
    // aggregation, and corpus frequencies/totals are derived FROM tf — the
    // 100 TB word stream is exploded and exchanged exactly once (the tf
    // exchange appears in both join branches and is deduplicated by
    // ReuseExchange); every later stage touches only the compressed
    // (doc, word) table. Per-doc sums weight the per-WORD millibits by tf
    // (exact integer multiply — identical to summing per instance).
    val tf = Tables.fanned(docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w")))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val freq = tf.groupBy(col("w")).agg(sum(col("tf")).as("c"))
    val total = freq.agg(sum(col("c")).as("n"))
    tf.join(freq, "w").crossJoin(broadcast(total))
      .select(col("doc_id"), col("tf"),
        expr("CAST(round(ln(n / c) / ln(2) * 1000) AS BIGINT)").as("mb"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_words"), sum(col("tf") * col("mb")).as("sum_millibits"))
      // floor-truncation, not round: sum_millibits/(n_words·1000) routinely
      // terminates at the 5th decimal (e.g. 314256/64000 = 4.91025 exactly),
      // where Spark's BigDecimal HALF_UP and DuckDB's double round disagree
      // (same boundary q16 hit); floor on the identical double is
      // bit-deterministic
      .select(col("doc_id"), col("n_words"), col("sum_millibits"),
        (floor(col("sum_millibits") / (col("n_words") * 1000.0) * 10000) / 10000).as("bits_per_word"),
        (col("sum_millibits") > col("n_words") * flagMillibits).cast("int").as("flagged"))
  }

  private val q43Sql =
    """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |freq AS (SELECT w, count(*) AS c FROM w GROUP BY w),
      |tot AS (SELECT count(*) AS n FROM w),
      |s AS (SELECT doc_id, CAST(round(ln(n / c) / ln(2) * 1000) AS BIGINT) AS mb
      |      FROM w JOIN freq USING (w) CROSS JOIN tot),
      |d AS (SELECT doc_id, count(*) AS n_words, CAST(sum(mb) AS BIGINT) AS sum_millibits
      |      FROM s GROUP BY doc_id)
      |SELECT doc_id, n_words, sum_millibits,
      |       floor(sum_millibits / (n_words * 1000.0) * 10000) / 10000 AS bits_per_word,
      |       CASE WHEN sum_millibits > n_words * 5000 THEN 1 ELSE 0 END AS flagged
      |FROM d""".stripMargin

  // ---------------------------------------------------------------- q44
  /** Per-source KL divergence from the corpus word distribution — the
    * domain-shift / mixture-health dashboard: KL(p_source ‖ p_corpus) =
    * Σ_w p_s(w)·log₂(p_s(w)/p(w)), one row per source. A source whose
    * divergence spikes is distributionally unlike the rest of the mixture
    * (scraper drift, format change, contamination).
    *
    * Each term is rounded to integer MICROBITS before summation (same
    * order-hazard reasoning as q43); the log's ratio is formed from integer
    * products `(c_sw·N)/(n_s·c_w)` so no intermediate float division
    * differs between engines.
    *
    * Scale shape: three hash aggregations — (source, word) counts, word
    * counts, final per-source sum — plus broadcast per-source totals and
    * the 1-row corpus total. The word-frequency join is co-partitioned on
    * the word key. |sources| bounds every broadcast side. */
  def sourceDivergence(spark: SparkSession, sfDir: String): DataFrame =
    sourceDivergenceOf(Tables.table(spark, sfDir, "documents"))

  /** General form over any (source, text) frame. */
  def sourceDivergenceOf(docs: DataFrame): DataFrame = {
    // Same single-pass shape as q43: the raw word stream is exchanged once
    // into (source, word) counts; word totals, source totals and the corpus
    // total all derive from that compressed table (≤ |vocab|·|sources|
    // rows), never from a second explode.
    val bySourceWord = Tables.fanned(docs
        .select(col("source"), explode(split(col("text"), " ")).as("w")))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c_sw"))
    val byWord = bySourceWord.groupBy(col("w")).agg(sum(col("c_sw")).as("c_w"))
    val bySource = bySourceWord.groupBy(col("source")).agg(sum(col("c_sw")).as("n_s"))
    val total = byWord.agg(sum(col("c_w")).as("n"))
    bySourceWord
      .join(byWord, "w")
      .join(broadcast(bySource), "source")
      .crossJoin(broadcast(total))
      .select(col("source"), col("n_s"),
        expr("CAST(round(c_sw / n_s * (ln((c_sw * n) / (n_s * c_w)) / ln(2)) * 1000000) AS BIGINT)")
          .as("ub"))
      .groupBy(col("source"), col("n_s").as("n_words"))
      .agg(count(lit(1)).as("vocab_used"), sum(col("ub")).as("kl_microbits"))
      // floor, not round: microbits ending in …50 put the quotient exactly
      // on the 4-dp half boundary (1-in-100 rows) — same hazard as q43
      .select(col("source"), col("n_words"), col("vocab_used"), col("kl_microbits"),
        (floor(col("kl_microbits") / 100.0) / 10000.0).as("kl_bits"))
  }

  private val q44Sql =
    """WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
      |sw AS (SELECT source, w, count(*) AS c_sw FROM w GROUP BY source, w),
      |cw AS (SELECT w, count(*) AS c_w FROM w GROUP BY w),
      |ns AS (SELECT source, CAST(sum(c_sw) AS BIGINT) AS n_s FROM sw GROUP BY source),
      |tot AS (SELECT CAST(sum(c_w) AS BIGINT) AS n FROM cw),
      |terms AS (
      |  SELECT sw.source, ns.n_s,
      |         CAST(round(c_sw / n_s * (ln((c_sw * n) / (n_s * c_w)) / ln(2)) * 1000000) AS BIGINT) AS ub
      |  FROM sw JOIN cw USING (w) JOIN ns ON ns.source = sw.source CROSS JOIN tot)
      |SELECT source, n_s AS n_words, count(*) AS vocab_used,
      |       CAST(sum(ub) AS BIGINT) AS kl_microbits,
      |       floor(sum(ub) / 100.0) / 10000.0 AS kl_bits
      |FROM terms GROUP BY source, n_s""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q39_decontamination", decontamination, Some(q39Sql)),
    QueryDef("q40_repetition_stats", repetitionStats, Some(q40Sql)),
    QueryDef("q41_bloom_dedup", bloomDedup(_, _), Some(q41Sql)),
    QueryDef("q42_mixture_resample", mixtureResample, Some(q42Sql)),
    QueryDef("q43_surprisal_score", surprisalScore, Some(q43Sql)),
    QueryDef("q44_source_divergence", sourceDivergence, Some(q44Sql)),
    QueryDef("q71_contamination_attr", contaminationAttribution, Some(q71Sql()))
  )
}
