package graft.ops

import graft.oracle.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Cross-source corpus overlap via KMV (k-minimum-values) sketches (q94) —
  * the sketch-based answer to "how much do my crawl sources duplicate each
  * other?" that the exact paths (q14's inverted index, q90's containment)
  * answer by touching every shingle pair. Per source, keep only the k
  * smallest DISTINCT shingle hashes; any two sketches then yield an
  * unbiased Jaccard estimate (fraction of the merged bottom-k present in
  * both) and a distinct-union cardinality estimate ((k−1)·2^52 / h_k, the
  * classic KMV estimator). Reference has nothing like it (no sketches at
  * all, SURVEY §2.6); this is the 100 TB pre-screen that decides WHICH
  * source pairs deserve the exact treatment.
  *
  * Scale shape: shingling is map-side (word_ngrams in codegen); the ONLY
  * exchange is |sources| bounded sketch buffers — the [[MinKDistinct]]
  * aggregator runs map-side, so the shuffle carries ≤ k longs per (source ×
  * input partition) regardless of corpus size. No (source, hash) distinct
  * shuffle: de-dup happens inside the bounded buffer (a duplicate hash is
  * either still in the buffer → skipped, or was evicted by k smaller values
  * → ≥ current max → skipped, so the final buffer is exactly the k smallest
  * distinct hashes). The pair matrix is a |sources|² census on ≤k-element
  * arrays — broadcast, array-function only.
  *
  * Engine-exactness: hash = first 13 md5 nibbles of 'kmv|'+shingle as a
  * 52-bit BIGINT via pure nibble arithmetic (the q12/q26 idiom — identical
  * in Spark and DuckDB); all downstream math is integer (bp ratios, integer
  * division), so oracle hashes are exact, not within-epsilon.
  */
object KmvSketch {

  val K = 64

  /** n-nibble md5 prefix as BIGINT, engine-parametric (Spark `instr` /
    * DuckDB `strpos`) — generalizes TextOps.hexVal beyond 8 nibbles. */
  private def nibVal(m: String, nNib: Int, duck: Boolean): String = {
    val fn = if (duck) "strpos" else "instr"
    (0 until nNib).map { j =>
      val mult = 1L << (4 * (nNib - 1 - j))
      s"CAST($fn('0123456789abcdef', substr($m, ${1 + j}, 1)) - 1 AS BIGINT) * $mult"
    }.mkString("(", " + ", ")")
  }

  /** Bottom-k distinct longs as a partial-aggregation-capable Aggregator —
    * buffer is a sorted array capped at k; `reduce` is map-side (see class
    * doc for why the buffer's local de-dup equals global distinct). */
  final class MinKDistinct(k: Int) extends Aggregator[Long, Array[Long], Array[Long]] {
    override def zero: Array[Long] = Array.emptyLongArray
    override def reduce(buf: Array[Long], x: Long): Array[Long] =
      if (buf.length >= k && x >= buf(buf.length - 1)) buf
      else {
        val pos = java.util.Arrays.binarySearch(buf, x)
        if (pos >= 0) buf // duplicate still in buffer
        else {
          val ins = -pos - 1
          val n = math.min(buf.length + 1, k)
          val out = new Array[Long](n)
          Array.copy(buf, 0, out, 0, ins)
          out(ins) = x
          Array.copy(buf, ins, out, ins + 1, n - ins - 1)
          out
        }
      }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
      b.foldLeft(a)(reduce)
    override def finish(b: Array[Long]): Array[Long] = b
    override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** (source, sk: array<bigint> ascending, ≤k elements). */
  def sketches(spark: SparkSession, sfDir: String, k: Int = K): DataFrame = {
    val docs = Tables.table(spark, sfDir, "documents")
    val sh = graft.ext.TextOps.shingleArrWith(docs, distinct = true, Seq("source"))
    val hashed = sh.select(col("source"), explode(col("sarr")).as("s"))
      .select(col("source"),
        expr(nibVal("md5(concat('kmv|', s))", 13, duck = false)).as("h"))
    val mink = udaf(new MinKDistinct(k), Encoders.scalaLong)
    hashed.groupBy(col("source")).agg(mink(col("h")).as("sk"))
  }

  // ---------------------------------------------------------------- q94
  def q94(spark: SparkSession, sfDir: String): DataFrame = {
    val sk = sketches(spark, sfDir)
    val a = sk.select(col("source").as("src_a"), col("sk").as("ska"))
    val b = sk.select(col("source").as("src_b"), col("sk").as("skb"))
    a.join(broadcast(b), col("src_a") < col("src_b"))
      .withColumn("merged", slice(array_sort(array_union(col("ska"), col("skb"))), 1, K))
      .withColumn("k_used", size(col("merged")))
      .withColumn("inter_k", expr(
        "CAST(size(filter(merged, x -> array_contains(ska, x) AND array_contains(skb, x))) AS BIGINT)"))
      .withColumn("kth", expr("element_at(merged, k_used)"))
      .select(col("src_a"), col("src_b"),
        col("k_used").cast("long").as("k_used"), col("inter_k"),
        expr("(inter_k * 10000) div CAST(k_used AS BIGINT)").as("jaccard_est_bp"),
        expr(s"CASE WHEN kth <= 0 THEN CAST(0 AS BIGINT) " +
          s"ELSE (CAST(k_used - 1 AS BIGINT) * ${1L << 52}) div kth END").as("union_est"))
  }

  /** Global (all-source) bottom-k distinct sketch as one sorted array —
    * exact: any member of the global bottom-k is within its own source's
    * bottom-k (its source sees strictly fewer smaller hashes than the
    * global set does), so one aggregation over the hash stream suffices. */
  def corpusSketch(staticDocs: DataFrame, k: Int = K): Array[Long] = {
    val sh = graft.ext.TextOps.shingleArr(staticDocs, distinct = true)
    val hashed = sh.select(col("doc_id"), explode(col("sarr")).as("s"))
      .select(expr(nibVal("md5(concat('kmv|', s))", 13, duck = false)).as("h"))
    val mink = udaf(new MinKDistinct(k), Encoders.scalaLong)
    hashed.agg(mink(col("h")).as("sk")).collect()(0).getAs[Seq[Long]]("sk").toArray
  }

  /** Stream-static KMV novelty gate — the ingestion-time face of q94:
    * freeze the corpus' global bottom-k sketch once (k longs, a literal),
    * then estimate each ARRIVING doc's containment in the corpus'
    * distinct-shingle set entirely map-side: of the doc's hashes landing
    * at or below the sketch max h_k, the fraction present in the sketch
    * is an unbiased containment estimate (hashes ≤ h_k from the corpus
    * ARE the sketch, by definition — so a fully-contained doc scores
    * exactly 10000 bp, never approximately). No streaming state, no
    * aggregation: composes into append-mode chains like the BM25/
    * calibration/ANN gates.
    *
    * Verdict columns: n_shingles, n_low (hashes ≤ h_k — the evidence
    * count; 0 = too small/too distinctive to judge → is_novel NULL),
    * n_hit, containment_bp, is_novel (containment below `noveltyBp`). */
  def kmvGateStreamStatic(streamDocs: DataFrame, staticDocs: DataFrame,
                          k: Int = K, noveltyBp: Long = 5000): DataFrame = {
    val sk = corpusSketch(staticDocs, k)
    require(sk.nonEmpty, "static corpus produced an empty sketch")
    val hmax = sk.last
    graft.GraftExtensions.register(streamDocs.sparkSession)
    streamDocs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("sarr", expr("array_distinct(word_ngrams(ws, 3))"))
      .withColumn("hs", expr(
        s"transform(transform(sarr, s -> md5(concat('kmv|', s))), m -> ${nibVal("m", 13, duck = false)})"))
      .withColumn("_sk", typedLit(sk.toSeq))
      .withColumn("low", expr(s"filter(hs, h -> h <= ${hmax}L)"))
      .withColumn("n_low", size(col("low")).cast("long"))
      .withColumn("n_hit", expr("CAST(size(array_intersect(low, _sk)) AS BIGINT)"))
      .select(col("doc_id"),
        size(col("sarr")).cast("long").as("n_shingles"),
        col("n_low"), col("n_hit"),
        expr("CASE WHEN n_low = 0 THEN NULL ELSE (n_hit * 10000) div n_low END").as("containment_bp"),
        expr(s"CASE WHEN n_low = 0 THEN NULL ELSE (n_hit * 10000) div n_low < $noveltyBp END").as("is_novel"))
  }

  private val q94Sql = {
    val nib = nibVal("md5('kmv|' || s)", 13, duck = true)
    s"""WITH docsw AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
       |shraw AS (SELECT source, unnest(list_transform(range(1, len(ws) - 1),
       |       i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])) AS s
       |  FROM docsw WHERE len(ws) >= 3),
       |hs AS (SELECT DISTINCT source, $nib AS h FROM shraw),
       |rk AS (SELECT source, h,
       |       row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM hs),
       |ska AS (SELECT source, list_sort(list(h)) AS sk FROM rk WHERE rn <= $K GROUP BY source),
       |pr AS (SELECT a.source AS src_a, b.source AS src_b, a.sk AS ska, b.sk AS skb
       |       FROM ska a JOIN ska b ON a.source < b.source),
       |m AS (SELECT src_a, src_b, ska, skb,
       |             (list_sort(list_distinct(list_concat(ska, skb))))[1:$K] AS merged FROM pr),
       |f AS (SELECT src_a, src_b,
       |             CAST(len(merged) AS BIGINT) AS k_used,
       |             CAST(len(list_filter(merged,
       |                    x -> list_contains(ska, x) AND list_contains(skb, x))) AS BIGINT) AS inter_k,
       |             merged[len(merged)] AS kth
       |      FROM m)
       |SELECT src_a, src_b, k_used, inter_k,
       |       (inter_k * 10000) // k_used AS jaccard_est_bp,
       |       CASE WHEN kth <= 0 THEN 0
       |            ELSE ((k_used - 1) * ${1L << 52}) // kth END AS union_est
       |FROM f""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q94_kmv_overlap", q94, Some(q94Sql))
  )
}
