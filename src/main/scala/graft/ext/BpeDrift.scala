package graft.ext

import graft.io.IO
import graft.oracle.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q183 — tokenizer DRIFT inside the maintenance chain (r15 verdict
  * Next #2): q181's fertility is a one-shot census; the production
  * question is "when do the merges need refitting?". This module runs
  * the rolling arc over DOCUMENTS: the tokenizer is fitted ONCE
  * ([[BpeEncode.fitBatched]] — the production trainer) on the SETTLED
  * corpus (the first [[SettledPct]]% of doc_ids), then [[Cycles]]
  * daily shards of new documents arrive and the per-(source, lang)
  * fertility census ROLLS — each cycle encodes ONLY its delta docs
  * under the FIXED merge list and adds the stratum sums (fertility's
  * components n_words/enc_tokens are additive over documents, so the
  * roll is exact by construction; the oracle recomputes every cycle
  * MONOLITHICALLY, making the hash match the proof). The drift column
  * `dfert_micro` = cycle-k fertility − fit-time fertility per stratum
  * is the merge-budget refit trigger a corpus team monitors: a stratum
  * whose arriving text fragments against the frozen merges drifts
  * positive, and crossing a threshold means the tokenizer no longer
  * serves that stratum (the q170 cent_shift discipline applied to the
  * tokenizer artifact). A stratum absent at fit time has no baseline —
  * dfert_micro is honest-NULL, itself actionable (unseen stratum ⇒
  * refit by definition).
  *
  * Encoding unseen words: applying the learned merge list in global
  * order (sweep ASC, rnk ASC) as a chained literal replace over the
  * wrapped-token string IS BPE application — identical to the training
  * replay for fit-time words and well-defined for new ones. Per cycle
  * the encode runs on the DELTA vocabulary only (map-side chain over
  * distinct words, no join against the fit vocab), so recurring cost
  * is delta-sized; the census union/groupBy is stratum-grain.
  *
  * Scale shape: one pass over each arriving shard, vocab-grain encode,
  * census-grain roll under localCheckpoint (the q169 posture). The
  * fit itself is q182's batched economics. */
object BpeDrift {

  /** Rolling cycles after the settled bootstrap. */
  val Cycles = 3

  /** Percent of doc_ids that form the settled fit corpus; each cycle
    * then ships ([[100]] − this)/[[Cycles]] percent. */
  val SettledPct = 70

  /** (… , day): day 0 = settled fit corpus, day k = cycle-k shard —
    * deterministic doc_id percent cuts (both engines compute n_docs
    * the same way). */
  private[graft] def docsWithDay(docs: DataFrame): DataFrame = {
    val step = (100 - SettledPct) / Cycles
    docs.crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs"))))
      .withColumn("pct", expr("doc_id * 100 div n_docs"))
      .withColumn("day", (1 to Cycles).foldLeft(lit(0)) { (acc, k) =>
        when(col("pct") >= SettledPct + (k - 1) * step, lit(k)).otherwise(acc)
      })
      .drop("pct", "n_docs")
  }

  /** Encoded stratum census of one document frame under a FIXED merge
    * list: (source, lang, n_words, enc_tokens). Vocab-grain encode
    * (distinct words → wrapped chars → the merge chain in global
    * order), then the stratum explode joins token counts back. */
  private[graft] def encodedStratumCensus(dk: DataFrame, ml: Seq[(String, String)]): DataFrame = {
    val Sep = BpeEncode.Sep
    val words = dk
      .select(col("source"), col("lang"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 1)
    val applied = ml.foldLeft(
      concat(lit(Sep), array_join(split(col("word"), ""), Sep + Sep), lit(Sep))) {
      case (acc, (a, b)) =>
        replace(acc, lit(s"$Sep$a$Sep$Sep$b$Sep"), lit(s"$Sep$a$b$Sep"))
    }
    val toks = words.select(col("word")).distinct()
      .withColumn("n_tok", size(split(trim(applied, Sep), Sep + Sep)).cast("long"))
    words.join(toks, Seq("word"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_tok")).as("enc_tokens"))
  }

  /** The rolled fertility-drift table: one row per (cycle, source,
    * lang) with the rolled sums, the cycle fertility, and the drift
    * against fit time. */
  def fertilityChainOf(docs: DataFrame): DataFrame = {
    val d = Tables.swapPersist("q183_d", docsWithDay(docs))
    val day0 = d.filter(col("day") === 0)
    val (merges, _) = BpeEncode.fitBatched(day0.select(col("text")))
    val ml = merges.map(m => (m.a, m.b)) // already in (sweep, rnk) order
    var rolled = encodedStratumCensus(day0, ml).localCheckpoint()
    val fit0 = rolled
      .select(col("source"), col("lang"),
        expr("enc_tokens * 1000000 div n_words").as("fert0"))
      .localCheckpoint()
    (1 to Cycles).map { k =>
      val delta = encodedStratumCensus(d.filter(col("day") === k), ml)
      rolled = rolled.unionByName(delta)
        .groupBy(col("source"), col("lang"))
        .agg(sum(col("n_words")).as("n_words"), sum(col("enc_tokens")).as("enc_tokens"))
        .localCheckpoint()
      rolled.join(fit0, Seq("source", "lang"), "left")
        .select(lit(k).as("cycle"), col("source"), col("lang"),
          col("n_words"), col("enc_tokens"),
          expr("enc_tokens * 1000000 div n_words").as("fert_micro"),
          (expr("enc_tokens * 1000000 div n_words") - col("fert0")).as("dfert_micro"))
    }.reduce(_ unionByName _)
  }

  // ---------------------------------------------------------------- q183
  def q183(spark: SparkSession, sfDir: String): DataFrame =
    fertilityChainOf(Tables.table(spark, sfDir, "documents"))

  // ------------------------------------------------- the tokenizer STORE

  /** Bumped on store layout/semantics changes. */
  val StoreVersion = 1

  private def storeTag = s"bpe-p$SettledPct-v$StoreVersion"

  /** Fit-time hyperparameters ride the fingerprint: changing the sweep
    * budget or cap must invalidate stored merges, never reuse them. */
  private def storeExtra =
    s"$storeTag|s${BpeEncode.BatchSweeps}|c${BpeEncode.SweepCap}|t${BpeEncode.TopC}"

  /** Yesterday's job: train the batched tokenizer on the settled corpus
    * and persist BOTH halves of the artifact — the ordered merge table
    * AND the fit-time fertility baseline (production stores the
    * baseline WITH the tokenizer: the drift read must never re-derive
    * "what fertility looked like at fit time" from a corpus that has
    * since grown). */
  def fitStore(spark: SparkSession, docs: DataFrame, dir: String, fp: String): String = synchronized {
    graft.ops.ArtifactStore.beginFit(dir)
    val vdir = graft.ops.ArtifactStore.versionDir(dir, fp)
    val d = Tables.swapPersist("q185_fit_d", docsWithDay(docs))
    val day0 = d.filter(col("day") === 0)
    val (merges, _) = BpeEncode.fitBatched(day0.select(col("text")))
    import spark.implicits._
    merges.toDF("sweep", "rnk", "a", "b", "pair_count")
      .write.mode("overwrite").parquet(s"$vdir/merges")
    encodedStratumCensus(day0, merges.map(m => (m.a, m.b)))
      .select(col("source"), col("lang"), col("n_words"), col("enc_tokens"),
        expr("enc_tokens * 1000000 div n_words").as("fert0"))
      .write.mode("overwrite").parquet(s"$vdir/fert0")
    graft.ops.ArtifactStore.commitFit(dir, fp)
    vdir
  }

  /** The recurring drift read (q185): merges + baseline come from the
    * ARTIFACT (refit only if stale); the arriving corpus (day > 0)
    * encodes under the STORED merge list — delta-sized work — and the
    * rolled fertility joins the stored baseline. Output = q183's final
    * cycle, computed through the store (BpeStoreSpec pins equality;
    * the oracle match additionally proves the parquet round-trip of
    * the merges is lossless — they come back as the literal replace
    * chain). */
  def storeDriftOf(spark: SparkSession, docs: DataFrame, dir: String, fp: String): DataFrame = {
    synchronized {
      if (!graft.ops.ArtifactStore.isFresh(dir, fp)) fitStore(spark, docs, dir, fp)
    }
    val vdir = graft.ops.ArtifactStore.versionDir(dir, fp)
    val ml = IO.parquet(spark, s"$vdir/merges")
      .orderBy(col("sweep"), col("rnk"))
      .collect().map(r => (r.getString(2), r.getString(3))).toSeq
    val fit0 = IO.parquet(spark, s"$vdir/fert0")
    val d = Tables.swapPersist("q185_d", docsWithDay(docs))
    // the ONLY document work is the arriving shard's delta-vocab encode —
    // the settled side rides the artifact's stored stratum sums
    val arriving = encodedStratumCensus(d.filter(col("day") > 0), ml)
    fit0.select(col("source"), col("lang"), col("n_words"), col("enc_tokens"))
      .unionByName(arriving)
      .groupBy(col("source"), col("lang"))
      .agg(sum(col("n_words")).as("n_words"), sum(col("enc_tokens")).as("enc_tokens"))
      .join(fit0.select(col("source"), col("lang"), col("fert0")),
        Seq("source", "lang"), "left")
      .select(col("source"), col("lang"), col("n_words"), col("enc_tokens"),
        expr("enc_tokens * 1000000 div n_words").as("fert_micro"),
        (expr("enc_tokens * 1000000 div n_words") - col("fert0")).as("dfert_micro"))
  }

  // ---------------------------------------------------------------- q185
  def q185(spark: SparkSession, sfDir: String): DataFrame =
    storeDriftOf(spark, Tables.table(spark, sfDir, "documents"),
      graft.ops.ArtifactStore.root(sfDir, storeTag),
      graft.ops.ArtifactStore.fingerprint(spark, sfDir, "documents", storeExtra))

  /** Monolithic oracle: the batched training replayed on the settled
    * subset (q182's CTEs behind a day-0 WHERE), the learned merges
    * flattened into ONE ordered list, then every cycle's census
    * recomputed FROM SCRATCH over the full day ≤ k prefix — the hash
    * match proves the rolled deltas equal the monolithic recompute at
    * every cut. */
  private def q183Sql: String = driftSql(final_only = false)

  /** q185's oracle is q183's final cycle without the cycle column —
    * computing it THROUGH the store must land on the same monolithic
    * answer, which also proves the merges' parquet round-trip is
    * lossless (they return as the literal replace chain). */
  private def q185Sql: String = driftSql(final_only = true)

  private def driftSql(final_only: Boolean): String = {
    val sep = "chr(31)"
    val whereFit =
      s"WHERE doc_id * 100 // (SELECT count(*) FROM documents) < $SettledPct"
    val step = (100 - SettledPct) / Cycles
    val dayCase = (1 to Cycles).reverse
      .map(k => s"WHEN pct >= ${SettledPct + (k - 1) * step} THEN $k")
      .mkString("CASE ", " ", " ELSE 0 END")
    def censusCte(k: Int): String =
      s"""fx$k AS MATERIALIZED (
         |  SELECT source, lang,
         |         CAST(count(*) AS BIGINT) AS n_words,
         |         CAST(sum(n_tok) AS BIGINT) AS enc_tokens
         |  FROM (SELECT source, lang, word FROM dw2 WHERE day <= $k) w
         |  JOIN (SELECT word,
         |          len(string_split(trim(list_reduce(
         |            list_prepend($sep || array_to_string(string_split(word, ''), $sep || $sep) || $sep,
         |                         (SELECT ms FROM ml)),
         |            (acc, m) -> replace(acc,
         |              $sep || split_part(m, $sep, 1) || $sep || $sep || split_part(m, $sep, 2) || $sep,
         |              $sep || split_part(m, $sep, 1) || split_part(m, $sep, 2) || $sep)), $sep),
         |            $sep || $sep)) AS n_tok
         |        FROM (SELECT DISTINCT word FROM dw2 WHERE day <= $k)) e
         |  USING (word)
         |  GROUP BY source, lang)""".stripMargin
    val rows =
      if (final_only) Seq(
        s"""SELECT source, lang, n_words, enc_tokens,
           |       CAST(enc_tokens * 1000000 // n_words AS BIGINT) AS fert_micro,
           |       CAST(enc_tokens * 1000000 // n_words AS BIGINT) - f0.fert0 AS dfert_micro
           |FROM fx$Cycles LEFT JOIN f0 USING (source, lang)""".stripMargin)
      else (1 to Cycles).map { k =>
        s"""SELECT CAST($k AS INT) AS cycle, source, lang, n_words, enc_tokens,
           |       CAST(enc_tokens * 1000000 // n_words AS BIGINT) AS fert_micro,
           |       CAST(enc_tokens * 1000000 // n_words AS BIGINT) - f0.fert0 AS dfert_micro
           |FROM fx$k LEFT JOIN f0 USING (source, lang)""".stripMargin
      }
    s"""WITH ${BpeEncode.batchedCtes(BpeEncode.BatchSweeps, BpeEncode.SweepCap, whereFit)},
       |ml AS MATERIALIZED (
       |  SELECT COALESCE(list(a || $sep || b ORDER BY sweep, rnk), []) AS ms FROM (
       |    ${(1 to BpeEncode.BatchSweeps)
              .map(k => s"SELECT $k AS sweep, rnk, a, b FROM bs$k")
              .mkString("\nUNION ALL\n")})),
       |dd AS MATERIALIZED (
       |  SELECT source, lang, text, $dayCase AS day
       |  FROM (SELECT *, doc_id * 100 // (SELECT count(*) FROM documents) AS pct
       |        FROM documents)),
       |dwords AS MATERIALIZED (
       |  SELECT source, lang, day, unnest(string_split(text, ' ')) AS word FROM dd),
       |dw2 AS MATERIALIZED (SELECT * FROM dwords WHERE length(word) >= 1),
       |f0 AS MATERIALIZED (
       |  SELECT source, lang, CAST(sum(n_tok) * 1000000 // count(*) AS BIGINT) AS fert0
       |  FROM (SELECT source, lang, word FROM dw2 WHERE day = 0) w
       |  JOIN (SELECT word,
       |          len(string_split(trim(list_reduce(
       |            list_prepend($sep || array_to_string(string_split(word, ''), $sep || $sep) || $sep,
       |                         (SELECT ms FROM ml)),
       |            (acc, m) -> replace(acc,
       |              $sep || split_part(m, $sep, 1) || $sep || $sep || split_part(m, $sep, 2) || $sep,
       |              $sep || split_part(m, $sep, 1) || split_part(m, $sep, 2) || $sep)), $sep),
       |            $sep || $sep)) AS n_tok
       |        FROM (SELECT DISTINCT word FROM dw2 WHERE day = 0)) e
       |  USING (word)
       |  GROUP BY source, lang),
       |${(if (final_only) Seq(Cycles) else (1 to Cycles).toSeq).map(censusCte).mkString(",\n")}
       |${rows.mkString("", "\nUNION ALL\n", "")}""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q183_bpe_drift_chain", q183, Some(q183Sql)),
    QueryDef("q185_bpe_store_drift", q185, Some(q185Sql)))
}
