package graft.ext

import graft.oracle.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization codebooks (q98) — the memory side of large-scale
  * ANN (IVF-PQ): split each embedding into M contiguous subvectors, run an
  * independent k-means per subspace (k=16 codes → 4 bits/subspace), and
  * report per-(subspace, code) census: occupancy, quantization distortion
  * (integer inertia) and the centroid checksum. A 64-dim float vector
  * compresses to M=4 codes = 2 bytes — at 100 TB the difference between an
  * index that fits in executor memory and one that doesn't; q20's IVF
  * prunes WHICH cells to visit, PQ shrinks WHAT is stored per cell.
  *
  * Reuses the integer-exact Lloyd arithmetic (KMeans scaladoc: milli-unit
  * quantization, int64 distances, floor-division centroids, lowest-cid
  * tie-break), so even this iterative codebook build is hash-exact
  * against the DuckDB oracle — each subspace's Lloyd loop runs in its
  * own WITH-scope on the oracle side, UNION'd.
  *
  * Shape: embeddings quantized ONCE behind a keyed persist, exploded
  * ONCE to the (vec_id, s, qs) subspace grain (same bytes — M rows of
  * dim/M each, also persisted), and ALL M fits run through the FUSED
  * Lloyd kernel ([[KMeans.fitSub]]): per round, ONE map-side assignment
  * pass (all M·k centroids on one broadcast row; each point folds over
  * its own subspace's structs only) and ONE (s, cid, d) update exchange
  * — 1/M the jobs and exchanges of M sequential fits, bit-identical
  * fixed points (PqSpec pins fused ≡ sequential).
  * Cache reads per build: iters + 1, independent of M.
  */
object Pq {

  val M = 4          // subspaces
  val SubDim = 16    // 64-dim fixture / M
  val Codes = 16     // codes per subspace (4 bits)
  val Iters = 2

  /** The shared quantized corpus, persisted once per invocation. */
  private def pts(spark: SparkSession, sfDir: String): DataFrame =
    Tables.swapPersist("q98_pts",
      KMeans.quantize(Tables.table(spark, sfDir, "embeddings")))

  // ---------------------------------------------------------------- q98
  /** (subspace, cid, n_points, inertia, centroid_checksum) — M·k rows.
    *
    * All M fits run through the FUSED Lloyd kernel ([[KMeans.fitSub]]):
    * one exploded (vec_id, s, qs) frame persisted once, ONE assignment
    * pass and ONE (s, cid, d) update exchange per round instead of M —
    * bit-identical fixed points to M sequential fits (PqSpec pins it),
    * at 1/M the job and exchange count. */
  def q98(spark: SparkSession, sfDir: String): DataFrame = {
    val p = pts(spark, sfDir)
    val sub = Tables.swapPersist("q98_sub", KMeans.subExplode(p, M, SubDim))
    val cents = KMeans.fitSub(p, sub, M, SubDim, Codes, Iters)
    val checksums = cents.select(col("s").as("cs_s"), col("cid").as("ccid"), expr(
      "aggregate(zip_with(cvec, sequence(1L, CAST(size(cvec) AS BIGINT)), (x, i) -> x * i), 0L, (a, x) -> a + x)")
      .as("centroid_checksum"))
    KMeans.assignSub(sub, cents)
      .groupBy(col("s"), col("cid"))
      .agg(count(lit(1)).as("n_points"), sum(col("dist")).as("inertia"))
      .join(broadcast(checksums), col("s") === col("cs_s") && col("cid") === col("ccid"))
      .select(col("s").cast("long").as("subspace"), col("cid").cast("long").as("cid"),
        col("n_points"), col("inertia"), col("centroid_checksum"))
  }

  /** Per-vector PQ code word — (vec_id, codes: array<int> of length M,
    * distortion = Σ subspace inertia contribution). The compressed
    * representation an IVF-PQ index stores per posting. Fused-kernel
    * path: one exploded frame, one fit loop, one assignment pass. */
  def pqCodesOf(embeds: DataFrame, m: Int = M, subDim: Int = SubDim,
                codes: Int = Codes, iters: Int = Iters): DataFrame = {
    val p = Tables.swapPersist("pq_pts", KMeans.quantize(embeds))
    val sub = Tables.swapPersist("pq_sub", KMeans.subExplode(p, m, subDim))
    val cents = KMeans.fitSub(p, sub, m, subDim, codes, iters)
    KMeans.assignSub(sub, cents)
      .groupBy(col("vec_id"))
      .agg(expr("transform(array_sort(collect_list(struct(s, cid))), x -> x.cid)").as("codes"),
        sum(col("dist")).as("distortion"))
  }

  // ---------------------------------------------------------------- q99
  /** IVF-PQ ANN search with asymmetric distance (ADC): candidates are
    * pruned to the query's coarse cell (`label`, q20's convention — the
    * offline coarse quantizer stand-in), but scored against the PQ
    * COMPRESSED corpus: each candidate contributes only its M code ids,
    * and the distance is Σ_s ‖q_s − codebook_s[code_s(v)]‖² — the
    * query-side centroid distances play the role of the ADC lookup
    * tables (table lookup ≡ direct centroid distance, and the latter is
    * what the oracle can express). Top-3 per query by (adc, vec_id).
    *
    * This is the read path q98 builds the memory layout for: at 100 TB
    * the scoring join carries (vec_id, label, 4 small ints) per
    * candidate — never the 64-dim float vector — and the codebooks ride
    * along as a 4×16×16-int literal (~4 KB). All-integer distances →
    * hash-exact oracle despite five k-means models in the plan.
    *
    * Scale shape: one persisted quantized corpus + one persisted
    * subspace explode; all M codebooks from ONE fused Lloyd loop
    * (M·Codes-row checkpointed fixed point); corpus codes from ONE
    * fused assignment pass into ONE (vec_id) exchange; the 20-query
    * frame broadcasts onto the label-pruned candidates; the ADC fold is
    * in-row; the bounded TopK aggregator ships ≤ k rows per
    * (query × partition). The centroid collect is one M·Codes-row
    * census. */
  def q99(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.agg.TopK
    val emb = Tables.table(spark, sfDir, "embeddings")
    // empty corpus: nothing to fit — return the empty result shape rather
    // than letting the dense-cid assertion fire (EmptyInputSpec contract;
    // a NON-empty corpus too small for Codes centroids still fails loudly)
    if (emb.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Long, Long, Long)]
        .toDF("query_id", "cell", "neighbor_id", "rank", "adc_dist")
    }
    val p = Tables.swapPersist("q99_pts", KMeans.quantize(emb))
    val sub = Tables.swapPersist("q99_sub", KMeans.subExplode(p, M, SubDim))
    val labels = emb.select(col("vec_id").as("lv"), col("label"))

    // all M codebooks from ONE fused Lloyd loop (KMeans.fitSub — same
    // fixed points as sequential fits at 1/M the passes); collected once
    // (M·Codes rows) into the dense cid-indexed literal the in-row ADC
    // fold needs (cids are the k smallest vec_ids — dense 0..Codes-1 on
    // the fixtures; assert, don't assume)
    val cents = KMeans.fitSub(p, sub, M, SubDim, Codes, Iters)
    val bySub = cents.collect()
      .groupBy(_.getInt(0))
      .map { case (s, rows) =>
        s -> rows.map(r => r.getInt(1) -> r.getAs[scala.collection.Seq[Long]]("cvec").toSeq).toMap
      }
    (0 until M).foreach { s =>
      val byCid = bySub.getOrElse(s, Map.empty)
      require(byCid.keySet == (0 until Codes).toSet,
        s"subspace $s centroid ids not dense 0..${Codes - 1}: ${byCid.keySet}")
    }
    val centsLit = typedLit((0 until M).map(s => (0 until Codes).map(bySub(s))))

    // corpus PQ codes: ONE fused assignment pass → ONE exchange on vec_id
    val codes = KMeans.assignSub(sub, cents)
      .groupBy(col("vec_id"))
      .agg(expr("transform(array_sort(collect_list(struct(s, cid))), x -> x.cid)").as("codes"))

    val queries = p.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"),
        expr(s"transform(sequence(0, ${M - 1}), s -> slice(q, s * $SubDim + 1, $SubDim))").as("qarr"))
      .join(labels, col("query_id") === col("lv"))
      .select(col("query_id"), col("qarr"), col("label").as("qlabel"))

    val adcExpr =
      s"""aggregate(sequence(0, ${M - 1}), 0L, (acc, s) -> acc +
         |  aggregate(zip_with(
         |      element_at(qarr, CAST(s + 1 AS INT)),
         |      element_at(element_at(_cents, CAST(s + 1 AS INT)),
         |                 CAST(element_at(codes, CAST(s + 1 AS INT)) + 1 AS INT)),
         |      (x, y) -> (x - y) * (x - y)),
         |    0L, (acc2, x) -> acc2 + x))""".stripMargin

    codes.join(labels, col("vec_id") === col("lv"))
      .join(broadcast(queries),
        col("qlabel") === col("label") && col("query_id") =!= col("vec_id"))
      .withColumn("_cents", centsLit)
      .withColumn("adc", expr(adcExpr))
      .groupBy(col("query_id"), col("label"))
      .agg(TopK(3)(-col("adc").cast("double"), col("vec_id")).as("top"))
      .select(col("query_id"), col("label"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), col("label").cast("long").as("cell"),
        col("t.id").as("neighbor_id"), (col("pos") + 1).cast("long").as("rank"),
        (-col("t.score")).cast("long").as("adc_dist"))
  }

  private def q99Sql: String = {
    val blocks = (0 until M).map { s =>
      val a = s * SubDim + 1
      val b = (s + 1) * SubDim
      s"""(WITH ${KMeans.duckFitCtes(Codes, Iters, SubDim, s"embedding[$a:$b]")},
         |qq AS (SELECT vec_id AS query_id, q AS qv FROM pts WHERE vec_id < 20)
         |SELECT qq.query_id, f.vec_id,
         |       CAST(list_sum(list_transform(range(1, ${SubDim + 1}),
         |         j -> (qq.qv[j] - c.cvec[j]) * (qq.qv[j] - c.cvec[j]))) AS BIGINT) AS d2
         |FROM fin f JOIN c$Iters c ON f.cid = c.cid CROSS JOIN qq)""".stripMargin
    }
    s"""WITH lab AS (SELECT vec_id, label FROM embeddings),
       |u AS (${blocks.mkString("\nUNION ALL\n")}),
       |a AS (SELECT query_id, vec_id, CAST(sum(d2) AS BIGINT) AS adc
       |      FROM u GROUP BY query_id, vec_id),
       |cand AS (SELECT a.query_id, CAST(ev.label AS BIGINT) AS cell, a.vec_id, a.adc
       |         FROM a JOIN lab ev ON a.vec_id = ev.vec_id
       |                JOIN lab eq ON a.query_id = eq.vec_id AND ev.label = eq.label
       |         WHERE a.query_id != a.vec_id),
       |r AS (SELECT query_id, cell, vec_id AS neighbor_id, adc,
       |             row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rank
       |      FROM cand)
       |SELECT query_id, cell, neighbor_id, CAST(rank AS BIGINT) AS rank,
       |       adc AS adc_dist
       |FROM r WHERE rank <= 3""".stripMargin
  }

  private def q98Sql: String = {
    val blocks = (0 until M).map { s =>
      val a = s * SubDim + 1
      val b = (s + 1) * SubDim
      s"""(WITH ${KMeans.duckFitCtes(Codes, Iters, SubDim, s"embedding[$a:$b]")},
         |cs AS (
         |  SELECT cid, CAST(list_sum(list_transform(cvec, (x, i) -> x * i)) AS BIGINT)
         |           AS centroid_checksum
         |  FROM c$Iters)
         |SELECT CAST($s AS BIGINT) AS subspace, CAST(fin.cid AS BIGINT) AS cid,
         |       count(*) AS n_points, CAST(sum(dist) AS BIGINT) AS inertia,
         |       cs.centroid_checksum
         |FROM fin JOIN cs ON cs.cid = fin.cid
         |GROUP BY fin.cid, cs.centroid_checksum)""".stripMargin
    }
    blocks.mkString("\nUNION ALL\n")
  }

  // ------------------------------------------- streaming ingestion gate
  /** Streaming vector-ingestion gate: each arriving vector gets its IVF
    * coarse cell AND its M PQ codes entirely MAP-SIDE against models
    * FROZEN from the static corpus — the vector-index write path of the
    * `*GateStreamStatic` family, at 1/16 the per-posting memory of
    * storing raw vectors (M=4 codes ≈ 4 ints vs 64 floats).
    *
    * Freeze shape: the fused-Lloyd codebooks (M·Codes rows ≈ 4 KB) and
    * the coarse quantizer (k rows) are fit ONCE here and ship as
    * literals in the plan — a micro-batch pays zero joins, zero
    * shuffles, zero state (append-mode stateless; spec pins
    * `stateOperators.isEmpty`). The static corpus is NEVER re-read per
    * batch. Arithmetic matches the batch path exactly: same milli-unit
    * quantization, same first-min/lowest-cid tie rule as
    * [[KMeans.assignSub]], so gate codes ≡ [[pqCodesOf]] codes and the
    * gate cell ≡ [[KMeans.assignments]]' cid (spec-pinned).
    *
    * Output: (vec_id, cell, codes array<int>, distortion) — exactly what
    * an IVF-PQ index appends as a posting. */
  def pqGateStreamStatic(streamEmbeds: DataFrame, staticEmbeds: DataFrame,
                         m: Int = M, subDim: Int = SubDim,
                         codes: Int = Codes, iters: Int = Iters,
                         coarseK: Int = 8, coarseIters: Int = 2): DataFrame = {
    graft.GraftExtensions.register(streamEmbeds.sparkSession) // native kernel (r17)
    val p = KMeans.quantize(staticEmbeds)
    val sub = KMeans.subExplode(p, m, subDim)
    val cb = KMeans.fitSub(p, sub, m, subDim, codes, iters)
    val coarse = KMeans.fit(p, coarseK, coarseIters)
    // collect both frozen models: M·codes + coarseK rows — bounded by the
    // model size, never the corpus
    val bySub = cb.collect()
      .groupBy(_.getInt(0))
      .map { case (s, rows) =>
        s -> rows.map(r => r.getInt(1) -> r.getAs[scala.collection.Seq[Long]]("cvec").toSeq).toMap
      }
    (0 until m).foreach { s =>
      val byCid = bySub.getOrElse(s, Map.empty)
      require(byCid.keySet == (0 until codes).toSet,
        s"subspace $s codebook ids not dense 0..${codes - 1}: ${byCid.keySet}")
    }
    val cbLit = typedLit((0 until m).map(s => (0 until codes).map(bySub(s))))
    val coarseRows = coarse.collect()
      .map(r => (r.getInt(0), r.getAs[scala.collection.Seq[Long]]("cvec").toSeq))
      .sortBy(_._1)
    val ccidLit = typedLit(coarseRows.map(_._1).toSeq)
    val cvecLit = typedLit(coarseRows.map(_._2).toSeq)

    KMeans.quantize(streamEmbeds)
      .withColumn("_cb", cbLit)
      .withColumn("_ccid", ccidLit)
      .withColumn("_cvec", cvecLit)
      // coarse cell: first-min over cid-sorted centroids = lowest cid on
      // ties, the KMeans.assign rule
      .withColumn("_cd", expr(
        "transform(_cvec, c -> int_l2(q, c))")) // native kernel (r17)
      .withColumn("cell", expr(
        "CAST(element_at(_ccid, CAST(array_position(_cd, array_min(_cd)) AS INT)) AS BIGINT)"))
      // per-subspace distance arrays once; codes + distortion fold over them
      .withColumn("_sd", expr(
        s"""transform(sequence(0, ${m - 1}), s ->
           |  transform(element_at(_cb, CAST(s + 1 AS INT)), cv ->
           |    int_l2(slice(q, CAST(s * $subDim + 1 AS INT), $subDim), cv)))""".stripMargin))
      .withColumn("codes", expr(
        "transform(_sd, darr -> CAST(array_position(darr, array_min(darr)) - 1 AS INT))"))
      .withColumn("distortion", expr(
        "aggregate(transform(_sd, darr -> array_min(darr)), 0L, (acc, x) -> acc + x)"))
      .select(col("vec_id"), col("cell"), col("codes"), col("distortion"))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q98_pq_codebook", q98, Some(q98Sql)),
    QueryDef("q99_ivfpq_search", q99, Some(q99Sql))
  )
}
