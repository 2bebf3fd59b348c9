package graft

import graft.io.IO
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** `IO.parquet` resolves a table's schema from one footer on the driver:
  * the schema is Spark's own answer (field metadata included), every case
  * Spark must decide still goes to Spark, and the read launches no Spark
  * job. The resolved relation is kept per session, qualified path and
  * resolution conf, and reused only while the path's listing (each file's
  * name, length and modification time) is unchanged: a reuse lists no file
  * through Spark, shares the relation and file index, and has fresh output
  * attributes; a conf flip or a rewrite resolves the path again. */
class ParquetReadSpec extends SparkSpec {

  private val sfs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  private def tmpDir(): String = Files.createTempDirectory("parquet_read").toString

  /** The footer path answered, and with Spark's schema. */
  private def sameAsSpark(path: String): Unit = {
    val footer = IO.footerSchema(spark, path)
    assert(footer.isDefined, s"$path: expected the footer path, got the fallback")
    val expected = spark.read.parquet(path).schema
    assert(IO.parquet(spark, path).schema == expected, s"$path: schema differs from spark.read.parquet")
  }

  /** Both reads fail alike: same exception class and error condition. */
  private def failsAlike(path: String): Unit = {
    def failure(read: => DataFrame): Throwable =
      intercept[Throwable](read.schema)
    val plain = failure(spark.read.parquet(path))
    val ours = failure(IO.parquet(spark, path))
    assert(ours.getClass == plain.getClass, s"$ours vs $plain")
    def condition(t: Throwable): Option[String] = t match {
      case e: org.apache.spark.SparkThrowable => Option(e.getCondition)
      case _ => None
    }
    assert(condition(ours) == condition(plain), s"$ours vs $plain")
  }

  for (sf <- sfs) test(s"the 10 fixtures at ${Paths.get(sf).getFileName}: Spark's schema from the footer") {
    tables.foreach(t => sameAsSpark(s"$sf/$t.parquet"))
  }

  test("Spark-written directories: nested, array, map, decimal, timestamp and field metadata; _SUCCESS and .crc present") {
    val dir = tmpDir() + "/t"
    val meta = new MetadataBuilder().putString("comment", "kept").putLong("n", 7L).build()
    spark.range(0, 40, 1, 3).select(
      col("id"),
      struct(col("id").as("a"), struct((col("id") * 2).as("c")).as("b")).as("nested"),
      array(col("id"), col("id") + 1).as("arr"),
      map(col("id").cast("string"), array(col("id").cast("double"))).as("m"),
      col("id").cast("decimal(18,4)").as("dec"),
      col("id").cast("decimal(38,10)").as("wide"),
      timestamp_seconds(col("id")).as("ts"),
      timestamp_seconds(col("id")).cast("timestamp_ntz").as("ntz"),
      col("id").cast("string").as("s", meta))
      .write.parquet(dir)
    val names = Files.list(Paths.get(dir)).iterator().asScala.map(_.getFileName.toString).toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")) &&
      names.count(_.startsWith("part-")) >= 2, names)
    sameAsSpark(dir)
    assert(IO.parquet(spark, dir).schema("s").metadata == meta)
    assert(IO.parquet(spark, dir).orderBy("id").collect().toSeq ==
      spark.read.parquet(dir).orderBy("id").collect().toSeq)
  }

  test("summary files win, as in Spark: _common_metadata over the data files") {
    val dir = tmpDir() + "/t"
    spark.range(5).select(col("id")).write.parquet(dir)
    // a footer whose schema differs from every data file's: Spark reads it first
    val other = tmpDir() + "/o"
    spark.range(5).select(col("id").cast("string").as("other")).coalesce(1).write.parquet(other)
    val footer = Files.list(Paths.get(other)).iterator().asScala
      .find(_.getFileName.toString.startsWith("part-")).get
    Files.copy(footer, Paths.get(dir, "_common_metadata"))
    sameAsSpark(dir)
    assert(IO.parquet(spark, dir).schema.fieldNames.toSeq == Seq("other"))
  }

  test("fallbacks give Spark's answer: mergeSchema, a partitioned directory") {
    val dir = tmpDir()
    spark.range(4).select(col("id")).write.parquet(s"$dir/m/a")
    spark.range(4).select(col("id"), col("id").as("extra")).write.parquet(s"$dir/m/b")
    val flat = s"$dir/flat"
    Files.createDirectories(Paths.get(flat))
    Seq("a", "b").foreach { sub =>
      Files.list(Paths.get(s"$dir/m/$sub")).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-"))
        .foreach(p => Files.copy(p, Paths.get(flat, s"$sub-${p.getFileName}")))
    }
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      assert(IO.footerSchema(spark, flat).isEmpty)
      assert(IO.parquet(spark, flat).schema == spark.read.parquet(flat).schema)
      assert(IO.parquet(spark, flat).schema.fieldNames.toSeq == Seq("id", "extra"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    assert(IO.parquet(spark, flat).schema == spark.read.parquet(flat).schema)

    val parted = s"$dir/p"
    spark.range(6).select(col("id"), (col("id") % 2).as("k")).write.partitionBy("k").parquet(parted)
    assert(IO.footerSchema(spark, parted).isEmpty)
    assert(IO.parquet(spark, parted).schema == spark.read.parquet(parted).schema)
    assert(IO.parquet(spark, parted).schema.fieldNames.toSeq == Seq("id", "k"))
  }

  test("fallbacks give Spark's error: an empty directory, a non-parquet file, a missing path") {
    val empty = tmpDir()
    assert(IO.footerSchema(spark, empty).isEmpty)
    failsAlike(empty)
    val text = Paths.get(tmpDir(), "notes.parquet")
    Files.writeString(text, "not a parquet file\n")
    assert(IO.footerSchema(spark, text.toString).isEmpty)
    failsAlike(text.toString)
    failsAlike(tmpDir() + "/missing")
  }

  test("no memo: a path rewritten with another schema reads the new schema") {
    val dir = tmpDir() + "/t"
    spark.range(3).select(col("id")).write.parquet(dir)
    assert(IO.parquet(spark, dir).schema.fieldNames.toSeq == Seq("id"))
    spark.range(3).select(col("id").cast("string").as("name"), col("id").as("n"))
      .write.mode("overwrite").parquet(dir)
    sameAsSpark(dir)
    assert(IO.parquet(spark, dir).schema.fieldNames.toSeq == Seq("name", "n"))
  }

  /** The one relation under a read, and its output attributes. */
  private def relationOf(df: DataFrame): LogicalRelation =
    df.queryExecution.analyzed.collect { case r: LogicalRelation => r } match {
      case Seq(r) => r
      case other => fail(s"expected one relation, got $other")
    }

  /** Files Spark's file index listed while `body` ran. */
  private def discovered[T](body: => T): (T, Long) = {
    val before = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    val r = body
    (r, HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - before)
  }

  /** A fresh copy of a fixture, never read before in this session. */
  private def freshCopy(table: String): String = {
    val p = Paths.get(tmpDir(), s"$table.parquet")
    Files.copy(Paths.get(sf0001, s"$table.parquet"), p)
    p.toString
  }

  test("a second read reuses the relation: same file index, fresh attributes, no file listed") {
    val path = freshCopy("lineitem")
    val (_, plain) = discovered(spark.read.parquet(path).schema)
    assert(plain == 1, s"the counter must see Spark's file index list the file, saw $plain")
    val (first, firstListed) = discovered(IO.parquet(spark, path))
    assert(firstListed == 1, s"a first read resolves the path, listed $firstListed")
    val (second, secondListed) = discovered(IO.parquet(spark, path))
    assert(secondListed == 0, s"a reused read listed $secondListed files")
    val (a, b) = (relationOf(first), relationOf(second))
    val (fa, fb) = (a.relation.asInstanceOf[HadoopFsRelation], b.relation.asInstanceOf[HadoopFsRelation])
    assert(fa eq fb)
    assert(fa.location eq fb.location)
    assert(a.output.map(_.exprId).intersect(b.output.map(_.exprId)).isEmpty)
    assert(second.schema == spark.read.parquet(path).schema)
    val (_, fixtureAgain) = discovered(IO.parquet(spark, s"$sf0001/orders.parquet").schema)
    val (_, fixtureReused) = discovered(IO.parquet(spark, s"$sf0001/orders.parquet").schema)
    assert(fixtureAgain <= 1 && fixtureReused == 0, (fixtureAgain, fixtureReused))
  }

  test("a self-join of two reads through df(\"col\") returns Spark's rows") {
    val path = s"$sf0001/nation.parquet"
    def joined(l: DataFrame, r: DataFrame): Seq[(String, String)] =
      l.join(r, l("n_regionkey") === r("n_regionkey") && l("n_nationkey") < r("n_nationkey"))
        .select(l("n_name"), r("n_name")).collect().toSeq.map(x => (x.getString(0), x.getString(1))).sorted
    val (l, r) = (IO.parquet(spark, path), IO.parquet(spark, path))
    val expected = joined(spark.read.parquet(path), spark.read.parquet(path))
    assert(expected.nonEmpty)
    assert(joined(l, r) == expected)
  }

  test("a schema conf flip between two reads gives Spark's schema both times") {
    // written without Spark's row-metadata key, which would pin the type
    val dir = tmpDir()
    val schema = MessageTypeParser.parseMessageType("message m { required int64 id; required binary b; }")
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/part-0.parquet"))
      .withType(schema).build()
    try (0 until 3).foreach(i => writer.write(new SimpleGroup(schema).append("id", i.toLong).append("b", s"v$i")))
    finally writer.close()
    val key = "spark.sql.parquet.binaryAsString"
    val asBinary = IO.parquet(spark, dir).schema
    assert(asBinary == spark.read.parquet(dir).schema)
    assert(asBinary("b").dataType == org.apache.spark.sql.types.BinaryType)
    spark.conf.set(key, "true")
    try {
      val asString = IO.parquet(spark, dir).schema
      assert(asString == spark.read.parquet(dir).schema)
      assert(asString("b").dataType == org.apache.spark.sql.types.StringType)
    } finally spark.conf.unset(key)
    assert(IO.parquet(spark, dir).schema == asBinary)
  }

  test("a rewritten single file and a Spark-overwritten directory are resolved again") {
    val file = Paths.get(tmpDir(), "one.parquet")
    def partOf(dir: String): Path = Files.list(Paths.get(dir)).iterator().asScala
      .find(_.getFileName.toString.startsWith("part-")).get
    val v1 = tmpDir() + "/v1"
    spark.range(4).select(col("id")).coalesce(1).write.parquet(v1)
    val v2 = tmpDir() + "/v2"
    spark.range(6).select(col("id").cast("string").as("name"), (col("id") * 3).as("n"))
      .coalesce(1).write.parquet(v2)
    Files.copy(partOf(v1), file)
    assert(IO.parquet(spark, file.toString).schema.fieldNames.toSeq == Seq("id"))
    Files.copy(partOf(v2), file, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    sameAsSpark(file.toString)
    val rewritten = IO.parquet(spark, file.toString)
    assert(rewritten.schema.fieldNames.toSeq == Seq("name", "n"))
    assert(rewritten.count() == 6)

    val dir = tmpDir() + "/d"
    spark.range(5).select(col("id")).write.parquet(dir)
    assert(IO.parquet(spark, dir).count() == 5)
    spark.range(9).select(col("id"), (col("id") + 1).as("next")).write.mode("overwrite").parquet(dir)
    val again = IO.parquet(spark, dir)
    assert(again.schema == spark.read.parquet(dir).schema)
    assert(again.schema.fieldNames.toSeq == Seq("id", "next"))
    assert(again.count() == 9)
  }

  test("reads from two threads at once: each gets Spark's schema and rows") {
    val paths = Seq("region", "nation", "supplier", "part").map(freshCopy)
    val expected = paths.map { p =>
      val df = spark.read.parquet(p)
      p -> (df.schema, df.collect().map(_.toString).sorted.toSeq)
    }.toMap
    val start = new java.util.concurrent.CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]()
    val threads = (0 until 2).map { t =>
      new Thread(() => {
        start.await()
        for (_ <- 0 until 3; p <- if (t == 0) paths else paths.reverse) {
          val df = IO.parquet(spark, p)
          results.add(p -> ((df.schema, df.collect().map(_.toString).sorted.toSeq) == expected(p)))
        }
      })
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(120000))
    assert(results.size == 2 * 3 * paths.size, s"${results.size} reads finished")
    assert(results.asScala.forall(_._2), results.asScala.filterNot(_._2).map(_._1).toSeq)
  }

  test("a footer read launches no Spark job; Spark's inference launches one") {
    val path = s"$sf0001/lineitem.parquet"
    val (_, ours) = JobCount.of(spark)(IO.parquet(spark, path).schema)
    val (_, plain) = JobCount.of(spark)(spark.read.parquet(path).schema)
    assert(ours == 0, s"IO.parquet launched $ours jobs")
    assert(plain == 1, s"the counter must see Spark's schema job, saw $plain")
  }

  test("lockstep: no src/main read.parquet( outside IO.parquet") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    assert(files.size > 100, s"scanned only ${files.size} files under $root")
    val readers = files.filter(p => "read\\s*\\.\\s*parquet\\(".r.findFirstIn(Files.readString(p)).nonEmpty)
      .map(root.relativize(_: Path).toString)
    assert(readers == Seq("graft/io/IO.scala"),
      s"batch parquet reads outside graft.io.IO.parquet (read through it): $readers")
  }
}
