package graft

import org.apache.spark.sql.functions._

/** Pins the native text expressions to the HOF formulations they replaced —
  * outputs must be bit-identical so DuckDB oracle hashes are unaffected. */
class TextExprsSpec extends SparkSpec {

  private val hofNgrams =
    "transform(sequence(1, size(ws) - 2), i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2)))"

  private def hexVal(m: String, off: Int): String =
    (0 until 8).map { k =>
      val mult = 1L << (4 * (7 - k))
      s"CAST(instr('0123456789abcdef', substr($m, ${off + k}, 1)) - 1 AS BIGINT) * $mult"
    }.mkString("(", " + ", ")")

  test("word_ngrams(ws, 3) == transform(sequence(...)) chain on fixture docs") {
    GraftExtensions.register(spark)
    val docs = graft.oracle.Tables.table(spark, sf0001, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
    val bad = docs
      .select(expr("word_ngrams(ws, 3)").as("a"), expr(hofNgrams).as("b"))
      .filter(not(col("a") === col("b")))
      .count()
    assert(bad == 0)
  }

  test("word_ngrams handles short arrays (empty result), n=1 identity") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val df = Seq(Seq("a"), Seq("a", "b"), Seq("a", "b", "c")).toDF("ws")
    val sizes = df.select(size(expr("word_ngrams(ws, 3)"))).collect().map(_.getInt(0)).toSeq
    assert(sizes == Seq(0, 0, 1))
    val ident = df.select(expr("word_ngrams(ws, 1)").as("g"), col("ws"))
      .filter(not(col("g") === col("ws"))).count()
    assert(ident == 0)
  }

  test("ordered_pairs == nested-transform HOF on fixture posting lists") {
    GraftExtensions.register(spark)
    val inv = graft.ext.TextOps.docShingleArr(spark, sf0001, distinct = true)
      .select(col("doc_id"), size(col("sarr")).as("n"), explode(col("sarr")).as("s"))
      .groupBy(col("s"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("n")))).as("ids"))
      .filter(size(col("ids")) >= 2)
    val hofPairs =
      """flatten(transform(ids, (a, i) ->
        |  transform(slice(ids, i + 2, size(ids)), b ->
        |    struct(a.doc_id AS a_doc_id, b.doc_id AS b_doc_id, a.n AS a_n, b.n AS b_n))))""".stripMargin
    val bad = inv
      .select(expr("ordered_pairs(ids)").as("a"), expr(hofPairs).as("b"))
      .filter(not(col("a") === col("b")))
      .count()
    assert(bad == 0)
    // empty-adjacent edge: 2-element list yields exactly one pair
    import spark.implicits._
    val two = Seq(Seq((1L, 5), (2L, 7))).toDF("ids")
      .select(expr("ordered_pairs(ids)").as("p")).head.getSeq[org.apache.spark.sql.Row](0)
    assert(two.map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))) == Seq((1L, 2L, 5, 7)))
  }

  test("minhash_signatures == md5-hex Carter-Wegman HOF chain on fixture shingles") {
    GraftExtensions.register(spark)
    val sarr = graft.ext.TextOps.docShingleArr(spark, sf0001, distinct = false)
    val hof = sarr
      .withColumn("ms", expr("transform(sarr, s -> md5(s))"))
      .withColumn("hs", expr(
        s"transform(ms, m -> struct(${hexVal("m", 1)} AS h1, ${hexVal("m", 9)} AS h2))"))
    val sigHof = (0 until 12).map(i =>
      expr(s"array_min(transform(hs, h -> (h.h1 + $i * h.h2) % 2147483647))").as(s"a$i"))
    val bad = hof
      .select(col("doc_id") +: expr("minhash_signatures(sarr, 12)").as("sig") +: sigHof: _*)
      .filter((0 until 12).map(i => col("sig")(i) =!= col(s"a$i")).reduce(_ || _))
      .count()
    assert(bad == 0)
  }

  test("simhash_fingerprint == aggregate/zip_with HOF vote on fixture shingles") {
    GraftExtensions.register(spark)
    val sarr = graft.ext.TextOps.docShingleArr(spark, sf0001, distinct = true)
    val bad = sarr
      .select(expr("simhash_fingerprint(sarr)").as("a"),
        expr(graft.ext.TextOps.simhashHof).as("b"))
      .filter(col("a") =!= col("b"))
      .count()
    assert(bad == 0)
    // edge cases: empty array -> 0 (the HOF's all-zero-sums fixed point);
    // null elements skipped; single shingle sets exactly its md5's bits
    import spark.implicits._
    val fps = Seq(Seq.empty[String], Seq[String]("x", null, "y"), Seq[String]("x", "y"))
      .toDF("sarr").select(expr("simhash_fingerprint(sarr)").as("f"))
      .collect().map(_.getLong(0)).toSeq
    assert(fps.head == 0L)
    assert(fps(1) == fps(2))
  }

  test("null elements from arbitrary SQL callers are skipped, not NPEs") {
    import spark.implicits._
    GraftExtensions.register(spark)
    // word_ngrams: a gram window containing NULL emits nothing
    val grams = Seq(Seq[String]("a", "b", null, "c", "d")).toDF("ws")
      .select(expr("word_ngrams(ws, 2)").as("g")).head.getSeq[String](0)
    assert(grams == Seq("a b", "c d"))
    // minhash: null shingles don't contribute; all-null == empty == NULL out
    val sig = Seq(Seq[String]("x", null, "y")).toDF("sarr")
      .select(expr("minhash_signatures(sarr, 4)").as("s"))
    val clean = Seq(Seq[String]("x", "y")).toDF("sarr")
      .select(expr("minhash_signatures(sarr, 4)").as("s"))
    assert(sig.head.getSeq[Long](0) == clean.head.getSeq[Long](0))
    assert(Seq(Seq[String](null, null)).toDF("sarr")
      .select(expr("minhash_signatures(sarr, 4)").as("s")).head.isNullAt(0))
    // ordered_pairs: null posting entries are skipped; null struct FIELDS
    // pass through under the propagated-nullable output schema
    val pairs = spark.sql(
      """SELECT ordered_pairs(array(named_struct('id', 1L, 'n', 5),
        |                           CAST(NULL AS struct<id: bigint, n: int>),
        |                           named_struct('id', CAST(NULL AS bigint), 'n', 7))) AS p""".stripMargin)
      .head.getSeq[org.apache.spark.sql.Row](0)
    assert(pairs.length == 1)
    assert(pairs.head.getLong(0) == 1L && pairs.head.isNullAt(1))
  }
}
