package graft

import graft.ops.Manifest
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{DriverParquet, FooterStats}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import scala.jdk.CollectionConverters._

/** Stats of new files read from their footers (`graftshim.FooterStats`)
  * equal the manifest's Spark aggregate (`Manifest.statsOf`) exactly, and a
  * snapshot written on the driver (`graftshim.DriverParquet`) reads back as
  * the one a Spark job writes.
  */
class FooterStatsSpec extends SparkSpec {

  private val keys = Seq("l", "i", "d", "s")

  private val schema = StructType(Seq(StructField("l", LongType), StructField("i", IntegerType),
    StructField("d", DateType), StructField("s", StringType), StructField("v", DoubleType)))

  private val rowGen: Gen[Row] = for {
    l <- Gen.option(Gen.choose(-1000000000000L, 1000000000000L))
    i <- Gen.option(Gen.choose(-100000, 100000))
    d <- Gen.option(Gen.choose(-40000, 40000))
    s <- Gen.option(Gen.oneOf(Gen.alphaStr.map(_.take(12)), Gen.oneOf("é", "日本", "😀", "Z", "")))
  } yield Row(l.map(Long.box).orNull, i.map(Int.box).orNull,
    d.map(n => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(n.toLong))).orNull,
    s.orNull, 0.5)

  /** A table's files: several files, some with many row groups, some empty
    * or NULL-only. */
  private val tableGen: Gen[Seq[Seq[Row]]] = Gen.choose(1, 4).flatMap(n => Gen.listOfN(n,
    Gen.oneOf(
      Gen.choose(0, 400).flatMap(Gen.listOfN(_, rowGen)),
      Gen.choose(1, 20).map(Seq.fill(_)(Row(null, null, null, null, 1.0))))))

  /** Footer stats of every file in `dir`, or None. */
  private def footerRows(dir: String, keyCols: Seq[String]): Option[(StructType, Seq[Row])] =
    FooterStats.flatFiles(spark, dir).flatMap(FooterStats.read(spark, _))
      .flatMap(FooterStats.rows(_, keyCols))

  private def sorted(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  test("footer stats equal the Spark aggregate: long/int/date/string keys, row groups, NULLs, odd paths") {
    (1 to 6).foreach { seed =>
      val files = tableGen.pureApply(Gen.Parameters.default, Seed(seed.toLong))
      // A space and a `%xx` in the path: `file` must be input_file_name's.
      val dir = tmpDir("footer_stats") + s"/ft dir%41x$seed"
      files.zipWithIndex.foreach { case (rows, j) =>
        spark.createDataFrame(rows.asJava, schema).coalesce(1).write
          .option("parquet.block.size", "2048")
          .option("parquet.block.size.row.check.min", "5")
          .option("parquet.block.size.row.check.max", "10")
          .mode(if (j == 0) "overwrite" else "append").parquet(dir)
      }
      val spark0 = Manifest.statsOf(spark.read.parquet(dir), keys)
      val want = spark0.collect().toSeq
      val (gotSchema, got) = footerRows(dir, keys).getOrElse(fail(s"seed $seed: no footer stats"))
      assert(gotSchema == spark0.schema, s"seed $seed")
      assert(sorted(got) == sorted(want), s"seed $seed")
    }
  }

  test("INT96 timestamps, partition columns and bloom sketches take the Spark aggregate") {
    val dir = tmpDir("footer_fallback") + "/t"
    spark.range(50).select(col("id"), (col("id") % 2).as("p"),
        timestamp_seconds(col("id")).as("ts"), col("id").cast("string").as("name"))
      .write.partitionBy("p").parquet(dir) // timestamps as INT96, Spark's default
    val parts = FooterStats.read(spark, Seq("p=0", "p=1").flatMap(p =>
      new Path(s"$dir/$p").getFileSystem(spark.sessionState.newHadoopConf())
        .listStatus(new Path(s"$dir/$p")).filter(_.getPath.getName.startsWith("part-")))).get
    assert(FooterStats.rows(parts, Seq("id")).isDefined)
    assert(FooterStats.rows(parts, Seq("ts")).isEmpty, "INT96 carries no statistics")
    assert(FooterStats.rows(parts, Seq("p")).isEmpty, "a partition column is not in the files")
    assert(FooterStats.flatFiles(spark, dir).isEmpty, "a partitioned dir is not flat")
    // Bloom columns: a COW commit on a bloom-profiled table still builds the
    // new file's sketch (the aggregate), and carries the others.
    val flat = tmpDir("footer_bloom") + "/t"
    spark.range(400).select(col("id").as("k"), col("id").cast("string").as("name"))
      .repartitionByRange(4, col("k")).write.parquet(flat)
    Manifest.createWithBloom(spark, flat, Seq("k"), Seq("k"))
    graft.ops.Layout.deleteRange(spark, flat, "k", 10L, 19L)
    val snap = Manifest.files(spark, flat)
    assert(snap.count() == 4 && snap.filter(col("bloom_k").isNull).count() == 0)
    assert(Manifest.countRange(spark, flat, "k", 0L, 399L)._1 == 390L)
  }

  test("a driver-written snapshot reads back as the Spark-written one: schema, metadata, rows") {
    val dir = tmpDir("footer_roundtrip")
    val meta = new MetadataBuilder().putString("comment", "carried").build()
    spark.range(100).select((col("id") * 3).as("k"), col("id").cast("string").as("s"))
      .repartition(3).write.parquet(s"$dir/data")
    val stats: DataFrame = Manifest.statsOf(spark.read.parquet(s"$dir/data"), Seq("k", "s"))
      .withColumn("n_bytes", col("n_bytes").as("n_bytes", meta))
    stats.coalesce(1).write.parquet(s"$dir/spark")
    val toInternal = CatalystTypeConverters.createToCatalystConverter(stats.schema)
    val rows = stats.collect().toSeq
    DriverParquet.write(spark, s"$dir/driver", stats.schema,
      rows.iterator.map(toInternal(_).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]))
    val (a, b) = (spark.read.parquet(s"$dir/spark"), spark.read.parquet(s"$dir/driver"))
    assert(a.schema.json == b.schema.json)
    assert(b.schema("n_bytes").metadata == meta)
    assert(sorted(a.collect().toSeq) == sorted(b.collect().toSeq))
    assert(sorted(b.collect().toSeq) == sorted(rows))
  }
}
