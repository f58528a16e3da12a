package graft

import graft.functions.Hashing
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StringType}

class HashingSpec extends SparkSpec {
  import spark.implicits._

  test("rowHash golden value: md5 of '#'-joined canonical strings") {
    val df = Seq((1, "a", 2.5)).toDF("k", "s", "d")
    val got = df.select(Hashing.rowHash(df, Seq("k", "s", "d")).as("h")).head().getString(0)
    // md5("1#a#2.5") — independently computable
    val exp = java.security.MessageDigest.getInstance("MD5")
      .digest("1#a#2.5".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got == exp)
  }

  test("NullColumnTest: [2,null,null] and [null,2,null] must hash differently (fixed mode)") {
    // Reference bug it guards against at table level: TableConnection.php:472-477
    val df = Seq(
      (1, Option(2), Option.empty[Int], Option.empty[Int]),
      (2, Option.empty[Int], Option(2), Option.empty[Int])).toDF("id", "a", "b", "c")
    val hashes = df.select(Hashing.rowHash(df, Seq("a", "b", "c")).as("h"))
      .collect().map(_.getString(0))
    assert(hashes.distinct.length == 2)
  }

  test("legacyNullSkip reproduces the reference NULL-permutation collision") {
    val df = Seq(
      (1, Option(2), Option.empty[Int], Option.empty[Int]),
      (2, Option.empty[Int], Option(2), Option.empty[Int])).toDF("id", "a", "b", "c")
    val hashes = df.select(Hashing.rowHash(df, Seq("a", "b", "c"), legacyNullSkip = true).as("h"))
      .collect().map(_.getString(0))
    assert(hashes.distinct.length == 1)
  }

  test("tableFingerprint is order-insensitive and content-sensitive") {
    val a = Seq((1, "x"), (2, "y"), (3, "z")).toDF("k", "v")
    val b = Seq((3, "z"), (1, "x"), (2, "y")).toDF("k", "v") // permuted
    val c = Seq((1, "x"), (2, "y"), (3, "w")).toDF("k", "v") // mutated
    val cols = Seq("k", "v")
    assert(Hashing.tableFingerprint(a, cols) == Hashing.tableFingerprint(b, cols))
    assert(Hashing.tableFingerprint(a, cols) != Hashing.tableFingerprint(c, cols))
  }

  test("tableFingerprint distinguishes duplicate multiplicity") {
    val a = Seq((1, "x"), (1, "x")).toDF("k", "v")
    val b = Seq((1, "x")).toDF("k", "v")
    assert(Hashing.tableFingerprint(a, Seq("k", "v")) != Hashing.tableFingerprint(b, Seq("k", "v")))
  }

  test("partitionFingerprints: one row per partition value, matches whole-table semantics") {
    val df = Seq((1, "p1", "a"), (2, "p1", "b"), (3, "p2", "c")).toDF("k", "p", "v")
    val fps = Hashing.partitionFingerprints(df, "p", Seq("k", "p", "v")).collect()
    assert(fps.length == 2)
    val p1 = fps.find(_.getString(0) == "p1").get
    assert(p1.getLong(1) == 2) // fp_count
  }

  test("empty table fingerprints are stable") {
    val df = Seq.empty[(Int, String)].toDF("k", "v")
    assert(Hashing.tableFingerprint(df, Seq("k", "v")) ==
      Hashing.tableFingerprint(df, Seq("k", "v")))
  }

  test("multiset fingerprint is incrementally maintainable (group algebra)") {
    val cols = Seq("k", "v")
    val base = Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("k", "v")
    val deletes = Seq((2, "b"), (4, "d")).toDF("k", "v")
    val inserts = Seq((2, "B2"), (5, "e")).toDF("k", "v")
    val after = Seq((1, "a"), (3, "c"), (2, "B2"), (5, "e")).toDF("k", "v")
    val maintained = Hashing.multisetFp(base, cols)
      .remove(Hashing.multisetFp(deletes, cols))
      .merge(Hashing.multisetFp(inserts, cols))
    assert(maintained == Hashing.multisetFp(after, cols))
    // render matches the one-shot aggregate's string form
    assert(maintained.render ==
      Hashing.multisetFingerprintAgg(after, cols).head().getString(0))
  }

  test("multisetFpDelta: one-pass maintenance equals three-aggregate form") {
    import org.apache.spark.sql.functions._
    val cols = Seq("k", "v")
    // delta = rows with even k get v upper-cased (delete pre-image, insert
    // post-image); one pass over before/after hash images must agree with
    // the recompute over the post-delta frame.
    val base = Seq((1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")).toDF("k", "v")
    val staged = base.withColumn("__v2", upper(col("v")))
    val afterCols = Seq("k", "__v2")
    val maintained = Hashing.multisetFpDelta(
      staged.select((col("k") % 2 === 0).as("__d"),
        Hashing.rowHash(staged, cols).as("__hb"),
        Hashing.rowHash(staged, afterCols).as("__hi")),
      deltaCol = "__d", beforeHash = "__hb", afterHash = "__hi")
    val after = Seq((1, "a"), (2, "B"), (3, "c"), (4, "D"), (5, "e")).toDF("k", "v")
    assert(maintained == Hashing.multisetFp(after, cols))
  }

  /** The groupBy aggregate `fastMapFingerprints` replaced, kept as the
    * reference its one-job fold must reproduce byte for byte.
    */
  private def groupByMapFingerprints(mh: DataFrame, sh: DataFrame): (String, String) = {
    def tag(df: DataFrame, t: String) = df.select(lit(t).as("__side"), col("h1"), col("h2"))
    val d38 = DecimalType(38, 0)
    val rows = tag(mh, "m").unionByName(tag(sh, "s")).groupBy("__side").agg(
        count(lit(1)),
        coalesce(expr("bit_xor(h1)"), lit(0L)),
        pmod(coalesce(sum(col("h1").cast(d38)), lit(0).cast(d38)),
          lit(BigDecimal("18446744073709551616"))),
        coalesce(expr("bit_xor(h2)"), lit(0L)))
      .collect().map(r => r.getString(0) ->
        (s"${r.getLong(1)}:${java.lang.Long.toHexString(r.getLong(2))}:" +
          s"${r.getDecimal(3).toBigInteger.toString(16)}:${java.lang.Long.toHexString(r.getLong(4))}"))
      .toMap
    (rows.getOrElse("m", "0:0:0:0"), rows.getOrElse("s", "0:0:0:0"))
  }

  private def assertSameAsGroupBy(mh: DataFrame, sh: DataFrame): (String, String) = {
    val got = Hashing.fastMapFingerprints(mh, sh)
    assert(got == groupByMapFingerprints(mh, sh))
    got
  }

  test("fastMapFingerprints equals the groupBy aggregate: multi-partition fast-hash maps") {
    val base = spark.range(0, 3000).select(col("id"), (col("id") % 7).as("v"),
      concat(lit("r"), col("id").cast(StringType)).as("s"))
    val m = base.repartition(5)
    val s = base.filter(col("id") % 11 =!= 0)
      .withColumn("v", when(col("id") === 5L, lit(99L)).otherwise(col("v"))).repartition(3)
    val cols = Seq("id", "v", "s")
    val mh = Hashing.fastHashMap(m, Seq("id"), cols)
    val sh = Hashing.fastHashMap(s, Seq("id"), cols)
    val (mFp, sFp) = assertSameAsGroupBy(mh, sh)
    assert(mFp != sFp && mFp.startsWith("3000:"))
    val (a, b) = assertSameAsGroupBy(mh, Hashing.fastHashMap(base.repartition(2), Seq("id"), cols))
    assert(a == b, "same multiset, different partitioning")
  }

  test("fastMapFingerprints: h1 sums wrap past 2^64 in both directions as the aggregate's pmod") {
    val hi = (0 until 40).map(i => (i.toLong, Long.MaxValue - i, Long.MinValue + i))
    val lo = (0 until 40).map(i => (i.toLong, Long.MinValue + i, Long.MaxValue - i))
    val mh = hi.toDF("k", "h1", "h2").repartition(4)
    val sh = (lo ++ Seq((99L, -1L, 0L))).toDF("k", "h1", "h2").repartition(3)
    val (mFp, sFp) = assertSameAsGroupBy(mh, sh)
    assert(mFp.startsWith("40:") && sFp.startsWith("41:"))
  }

  test("fastMapFingerprints: one side empty, both sides empty") {
    val mh = Hashing.fastHashMap(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"), Seq("k", "v"))
      .repartition(3)
    val empty = mh.filter(lit(false))
    assert(assertSameAsGroupBy(mh, empty)._2 == "0:0:0:0")
    assert(assertSameAsGroupBy(empty, mh)._1 == "0:0:0:0")
    assert(assertSameAsGroupBy(empty, empty) == (("0:0:0:0", "0:0:0:0")))
  }
}
