package graft.ext

import graft.agg.TopK
import graft.oracle.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid retrieval with reciprocal-rank fusion (q141) — the standard
  * two-tower retrieval stack, end to end: a LEXICAL arm (word-set
  * Jaccard over an inverted index — the sparse/keyword signal) and a
  * SEMANTIC arm (brute-force cosine over the aligned embeddings —
  * q19's machinery at k=10, via Similarity.cosineRanks), fused by RRF:
  * score(d) = Σ_systems 1/(60+rank_s(d)), the fusion rule RAG stacks
  * and search engines use because it needs no score calibration across
  * heterogeneous systems. Fixture alignment: doc_id and vec_id share
  * the 0..N id space (TESTDATA.md), queries are ids < 20 (q19's set).
  *
  * Exact semantics: both arms emit integer ranks (ties by candidate
  * id); RRF contributions are integer micro-units 1_000_000 div
  * (60+rank), absent-from-one-arm contributes 0; fused order is
  * (rrf_ppm DESC, cand_id), top 5 per query. All-integer, so the
  * cross-engine hash is exact.
  *
  * Scale shape: the tokenized corpus persists ONCE and feeds postings,
  * the df census, and doc lengths (three readers). The lexical join is
  * inverted-index-shaped (one word-keyed exchange, never doc×doc) with
  * q14's dfCap discipline: words with df > cap are dropped from BOTH
  * engines before pairing — a stopword like "the" would otherwise fan
  * out O(df²); dropping it is a DECLARED recall trade that improves
  * retrieval (it is stopword removal). The query side of the join is a
  * bounded set (20 query docs' vocabularies) and broadcasts. The
  * semantic arm broadcasts the query vectors against one corpus scan
  * (q19's posture). Fusion joins two ≤k-per-query rank lists — census
  * grain; its per-query window orders ≤2k rows. */
object HybridRrf {

  /** (query_id, cand_id, lex_rank, cos_rank, rrf_ppm, fused_rank ≤ 5);
    * lex/cos ranks NULL where the arm did not retrieve the candidate. */
  def hybridRrfOf(spark: SparkSession, sfDir: String, k: Int = 10,
                  dfCap: Int = TextOps.DefaultDfCap): DataFrame = {
    val docsW = Tables.swapPersist("q141_words",
      Tables.fanned(Tables.table(spark, sfDir, "documents")
          .select(col("doc_id"), col("text")))
        .select(col("doc_id"),
          array_distinct(filter(split(col("text"), " "), w => w =!= "")).as("ws"))
        .withColumn("nw", size(col("ws")).cast("long")))
    val postings = docsW.select(col("doc_id"), explode(col("ws")).as("word"))
    val okWords = postings.groupBy(col("word")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap).select(col("word"))
    val post = postings.join(okWords, Seq("word"))
    val qpost = post.filter(col("doc_id") < 20)
      .select(col("doc_id").as("query_id"), col("word"))
    val inter = broadcast(qpost).join(post, Seq("word"))
      .filter(col("query_id") =!= col("doc_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("inter"))
    val lens = docsW.select(col("doc_id"), col("nw"))
    val scored = inter
      .join(lens.select(col("doc_id").as("query_id"), col("nw").as("n_q")), Seq("query_id"))
      .join(lens.select(col("doc_id"), col("nw").as("n_d")), Seq("doc_id"))
      .withColumn("jac_bp", expr("(inter * 10000) div (n_q + n_d - inter)"))
    val lex = scored.groupBy(col("query_id"))
      .agg(TopK(k)(col("jac_bp").cast("double"), col("doc_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), col("t.id").as("cand_id"),
        (col("pos") + 1).cast("long").as("lex_rank"))
    val cos = Similarity.cosineRanks(spark, sfDir, k)
      .select(col("query_id"), col("neighbor_id").as("cand_id"),
        col("rank").as("cos_rank"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_ppm").desc, col("cand_id"))
    lex.join(cos, Seq("query_id", "cand_id"), "full_outer")
      .withColumn("rrf_ppm",
        coalesce(expr("1000000 div (60 + lex_rank)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + cos_rank)"), lit(0L)))
      // census-grain window: ≤ 2k rows per query survive the arm top-k
      .withColumn("fused_rank", row_number().over(w).cast("long"))
      .filter(col("fused_rank") <= 5)
      .select(col("query_id"), col("cand_id"), col("lex_rank"),
        col("cos_rank"), col("rrf_ppm"), col("fused_rank"))
  }

  /** Stream-static hybrid-retrieval ingestion gate (the q141 face of the
    * `*GateStreamStatic` family; ext/Pq.scala pqGateStreamStatic is the
    * template): FREEZE the retrieval model over the settled corpus — the
    * df-filtered query vocabularies, per-query unfiltered token counts,
    * each arm's top-k (score, id) lists and the fused top-`alertN`
    * (rrf_ppm, id) lists, all bounded by queries×k, collected once and
    * shipped as plan literals — then score every ARRIVING doc on both
    * arms map-side and alert when it would crack a standing query's fused
    * top-`alertN`. 100% stateless projection work (explode over a
    * constant query sequence + expression folds over literal arrays): no
    * stream-side aggregation, join, or state store, so the plan is legal
    * in append mode and trivially stream==batch.
    *
    * EXACT-INSERTION SEMANTICS, not a heuristic: an arm rank is computed
    * by counting frozen top-k entries strictly ahead of the arriving doc
    * under the batch order (score DESC, id ASC), EXCLUDING the doc's own
    * frozen entry. Everything ranked ahead of a top-k member is itself in
    * the top-k, so for any doc of the frozen corpus replayed through the
    * gate this reproduces its batch [[hybridRrfOf]] row bit-for-bit
    * (RrfGateSpec pins replay == batch on the whole fixture), and for a
    * genuinely new doc it is the true rank against the frozen corpus.
    * DECLARED TRADE (the stream-static approximation shared by the whole
    * gate family): ranks are against the FROZEN corpus — concurrent
    * arrivals don't compete with each other, and the df census doesn't
    * absorb new documents until the next model refresh.
    *
    * `streamDocs` needs (doc_id, text, embedding) — the ingestion record
    * carries both modalities; fixture doc_id/vec_id share one id space. */
  def rrfGateStreamStatic(streamDocs: DataFrame, staticDocs: DataFrame,
                          staticEmbeds: DataFrame, k: Int = 10,
                          dfCap: Int = TextOps.DefaultDfCap,
                          alertN: Int = 5): DataFrame = {
    val spark = staticDocs.sparkSession
    graft.GraftExtensions.register(spark)

    // -------- frozen lexical arm (mirrors hybridRrfOf's lex pipeline)
    val docsW = staticDocs
      .select(col("doc_id"),
        array_distinct(filter(split(col("text"), " "), w => w =!= "")).as("ws"))
      .withColumn("nw", size(col("ws")).cast("long"))
    val postings = docsW.select(col("doc_id"), explode(col("ws")).as("word"))
    val okWords = postings.groupBy(col("word")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap).select(col("word"))
    val post = postings.join(okWords, Seq("word"))
    val qpost = post.filter(col("doc_id") < 20)
      .select(col("doc_id").as("query_id"), col("word"))
    // bounded collects: 20 query vocabularies + 20 lengths
    val qvocab: Map[Long, Seq[String]] = qpost
      .groupBy(col("query_id")).agg(collect_set(col("word")).as("vs")).collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[String]]("vs").toSeq.sorted).toMap
    val nqMap: Map[Long, Long] = docsW.filter(col("doc_id") < 20)
      .select(col("doc_id"), col("nw")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val inter = broadcast(qpost).join(post, Seq("word"))
      .filter(col("query_id") =!= col("doc_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("inter"))
    val lens = docsW.select(col("doc_id"), col("nw"))
    val lexTop: Map[Long, Seq[(Long, Long)]] = inter
      .join(lens.select(col("doc_id").as("query_id"), col("nw").as("n_q")), Seq("query_id"))
      .join(lens.select(col("doc_id"), col("nw").as("n_d")), Seq("doc_id"))
      .withColumn("jac_bp", expr("(inter * 10000) div (n_q + n_d - inter)"))
      .groupBy(col("query_id"))
      .agg(graft.agg.TopK(k)(col("jac_bp").cast("double"), col("doc_id")).as("top"))
      .collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("top")
        .map(t => (t.getAs[Double]("score").toLong, t.getAs[Long]("id"))).toSeq).toMap

    // -------- frozen semantic arm (mirrors Similarity.cosineRanks)
    val emb = staticEmbeds.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x AS double))").as("v"))
    val qVecs: Map[Long, Seq[Double]] = emb.filter(col("vec_id") < 20).collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Double]]("v").toSeq).toMap
    val qe = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val cosTop: Map[Long, Seq[(Double, Long)]] = emb.join(broadcast(qe),
        col("query_id") =!= col("vec_id"))
      .withColumn("sim", round(expr("cosine_sim(qv, v)"), 6))
      .groupBy(col("query_id"))
      .agg(graft.agg.TopK(k)(col("sim"), col("vec_id")).as("top"))
      .collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("top")
        .map(t => (t.getAs[Double]("score"), t.getAs[Long]("id"))).toSeq).toMap

    val qids = qvocab.keySet.union(nqMap.keySet).union(cosTop.keySet).toSeq.sorted
    require(qids.nonEmpty, "no standing queries (no doc_id/vec_id < 20 in the static corpus)")
    require(qids.forall(qVecs.contains),
      s"every standing query needs a vector: lex=$qids cos=${qVecs.keySet.toSeq.sorted} — " +
        "the gate assumes doc_id/vec_id share one id space (TESTDATA.md)")

    // -------- frozen fusion: the batch RRF rule over the two bounded
    // lists, evaluated in driver integer arithmetic (≤ queries × 2k rows)
    val fusedTop: Map[Long, Seq[(Long, Long)]] = qids.map { q =>
      val lexR = lexTop.getOrElse(q, Seq.empty).zipWithIndex
        .map { case ((_, id), i) => id -> (i + 1L) }.toMap
      val cosR = cosTop.getOrElse(q, Seq.empty).zipWithIndex
        .map { case ((_, id), i) => id -> (i + 1L) }.toMap
      val fused = (lexR.keySet ++ cosR.keySet).toSeq.map { id =>
        val ppm = lexR.get(id).map(r => 1000000L / (60L + r)).getOrElse(0L) +
          cosR.get(id).map(r => 1000000L / (60L + r)).getOrElse(0L)
        (ppm, id)
      }.sortBy { case (ppm, id) => (-ppm, id) }.take(alertN)
      q -> fused
    }.toMap

    // -------- literals, aligned by query index
    val nQ = qids.size
    val qidsL = typedLit(qids)
    val qvocabL = typedLit(qids.map(q => qvocab.getOrElse(q, Seq.empty[String])))
    val nqL = typedLit(qids.map(q => nqMap.getOrElse(q, 0L)))
    val qvL = typedLit(qids.map(q => qVecs.getOrElse(q, Seq.empty[Double])))
    val lexSL = typedLit(qids.map(q => lexTop.getOrElse(q, Seq.empty).map(_._1)))
    val lexIL = typedLit(qids.map(q => lexTop.getOrElse(q, Seq.empty).map(_._2)))
    val cosSL = typedLit(qids.map(q => cosTop.getOrElse(q, Seq.empty).map(_._1)))
    val cosIL = typedLit(qids.map(q => cosTop.getOrElse(q, Seq.empty).map(_._2)))
    val fusSL = typedLit(qids.map(q => fusedTop.getOrElse(q, Seq.empty).map(_._1)))
    val fusIL = typedLit(qids.map(q => fusedTop.getOrElse(q, Seq.empty).map(_._2)))

    // "entries strictly ahead under (score DESC, id ASC), excluding self"
    def ahead(sArr: String, iArr: String, score: String): String =
      s"""size(filter(zip_with(element_at($sArr, qidx + 1), element_at($iArr, qidx + 1),
         |  (s, i) -> CASE WHEN i = doc_id THEN false
         |                 WHEN s > $score THEN true
         |                 WHEN s = $score AND i < doc_id THEN true
         |                 ELSE false END), b -> b))""".stripMargin

    streamDocs
      .withColumn("toks", array_distinct(filter(split(col("text"), " "), w => w =!= "")))
      .withColumn("n_d", size(col("toks")).cast("long"))
      .withColumn("v", expr("transform(embedding, x -> cast(x AS double))"))
      .withColumn("qidx", explode(sequence(lit(0), lit(nQ - 1))))
      .withColumn("_qids", qidsL).withColumn("_qvocab", qvocabL)
      .withColumn("_nq", nqL).withColumn("_qv", qvL)
      .withColumn("_lexS", lexSL).withColumn("_lexI", lexIL)
      .withColumn("_cosS", cosSL).withColumn("_cosI", cosIL)
      .withColumn("_fusS", fusSL).withColumn("_fusI", fusIL)
      .withColumn("query_id", expr("element_at(_qids, qidx + 1)"))
      .filter(col("query_id") =!= col("doc_id"))
      .withColumn("inter",
        expr("CAST(size(array_intersect(toks, element_at(_qvocab, qidx + 1))) AS BIGINT)"))
      .withColumn("n_q", expr("element_at(_nq, qidx + 1)"))
      .withColumn("jac_bp", expr(
        "CASE WHEN inter > 0 THEN (inter * 10000) div (n_q + n_d - inter) END"))
      .withColumn("_lexAhead", expr(ahead("_lexS", "_lexI", "jac_bp")))
      .withColumn("lex_rank", expr(
        s"CASE WHEN inter > 0 AND _lexAhead < $k THEN CAST(_lexAhead + 1 AS BIGINT) END"))
      .withColumn("sim", round(expr("cosine_sim(element_at(_qv, qidx + 1), v)"), 6))
      .withColumn("_cosAhead", expr(ahead("_cosS", "_cosI", "sim")))
      .withColumn("cos_rank", expr(
        s"CASE WHEN _cosAhead < $k THEN CAST(_cosAhead + 1 AS BIGINT) END"))
      .withColumn("rrf_ppm",
        coalesce(expr("1000000 div (60 + lex_rank)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + cos_rank)"), lit(0L)))
      .withColumn("_fusAhead", expr(ahead("_fusS", "_fusI", "rrf_ppm")))
      .withColumn("fused_rank", expr("CAST(_fusAhead + 1 AS BIGINT)"))
      // ppm > 0 mirrors the batch full-outer join's domain: a doc retrieved
      // by NEITHER arm has no batch row, so it must not alert here either
      // (reachable only when a query has fewer than alertN static
      // candidates, leaving slack in the fused list)
      .filter(col("rrf_ppm") > 0 && col("fused_rank") <= alertN)
      .select(col("query_id"), col("doc_id").as("cand_id"), col("lex_rank"),
        col("cos_rank"), col("rrf_ppm"), col("fused_rank"))
  }

  // ---------------------------------------------------------------- q141
  def q141(spark: SparkSession, sfDir: String): DataFrame =
    hybridRrfOf(spark, sfDir)

  private def q141Sql(k: Int = 10, dfCap: Int = TextOps.DefaultDfCap): String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |         list_distinct(list_filter(string_split(text, ' '), w -> w != '')) AS ws
       |  FROM documents),
       |n AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS nw FROM d),
       |p0 AS (SELECT doc_id, unnest(ws) AS word FROM d),
       |okw AS (SELECT word FROM p0 GROUP BY word HAVING count(*) <= $dfCap),
       |p AS (SELECT p0.doc_id, p0.word FROM p0 JOIN okw USING (word)),
       |qp AS (SELECT doc_id AS query_id, word FROM p WHERE doc_id < 20),
       |i AS (
       |  SELECT query_id, p.doc_id, CAST(count(*) AS BIGINT) AS inter
       |  FROM qp JOIN p USING (word) WHERE query_id != p.doc_id GROUP BY 1, 2),
       |j AS (
       |  SELECT query_id, i.doc_id,
       |         (inter * 10000) // (nq.nw + nd.nw - inter) AS jac_bp
       |  FROM i JOIN n nq ON nq.doc_id = i.query_id JOIN n nd ON nd.doc_id = i.doc_id),
       |lr AS (
       |  SELECT query_id, doc_id AS cand_id,
       |         row_number() OVER (PARTITION BY query_id ORDER BY jac_bp DESC, doc_id)
       |           AS lex_rank
       |  FROM j),
       |lex AS (SELECT * FROM lr WHERE lex_rank <= $k),
       |${Similarity.embCte},
       |q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < 20),
       |cs AS (
       |  SELECT query_id, vec_id,
       |         round(list_dot_product(qv, v) /
       |               (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) AS sim
       |  FROM q JOIN emb ON query_id != vec_id),
       |cr AS (
       |  SELECT query_id, vec_id AS cand_id,
       |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS cos_rank
       |  FROM cs),
       |cos AS (SELECT * FROM cr WHERE cos_rank <= $k),
       |f AS (
       |  SELECT COALESCE(lex.query_id, cos.query_id) AS query_id,
       |         COALESCE(lex.cand_id, cos.cand_id) AS cand_id,
       |         lex.lex_rank, cos.cos_rank
       |  FROM lex FULL JOIN cos
       |    ON lex.query_id = cos.query_id AND lex.cand_id = cos.cand_id),
       |r AS (
       |  SELECT query_id, cand_id, lex_rank, cos_rank,
       |         COALESCE(1000000 // (60 + lex_rank), 0) +
       |         COALESCE(1000000 // (60 + cos_rank), 0) AS rrf_ppm
       |  FROM f)
       |SELECT query_id, cand_id, lex_rank, cos_rank, rrf_ppm,
       |       CAST(row_number() OVER (PARTITION BY query_id
       |                               ORDER BY rrf_ppm DESC, cand_id) AS BIGINT)
       |         AS fused_rank
       |FROM r
       |QUALIFY fused_rank <= 5""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q141_hybrid_rrf", q141, Some(q141Sql())))
}
