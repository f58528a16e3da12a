package graft

import graft.ops.{Layout, Manifest}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The shared file-skipping planner (`graft.ops.FilePlanner`): every
  * caller collects its picked files under `Manifest.maxPlannedFiles`, and
  * the SQL catalog and the Scala API pick the SAME files for the same
  * predicate, because both ask the one planner.
  */
class FilePlannerSpec extends SparkSpec {

  /** Files a DSv2 plan actually schedules (the scan's input partitions). */
  private def sqlPlannedNames(df: org.apache.spark.sql.DataFrame): Set[String] = {
    val out = scala.collection.mutable.Set.empty[String]
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = p match {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.toBatch.planInputPartitions().foreach {
          case fpart: org.apache.spark.sql.execution.datasources.FilePartition =>
            fpart.files.foreach(f =>
              out += new Path(new java.net.URI(f.urlEncodedPath)).getName)
          case _ => ()
        }
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        walk(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
      case other => other.children.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    out.toSet
  }

  /** File names a Scala-API scan read (`nRead == 0` reads an empty frame
    * over the table root, whose input files are not the picked set).
    */
  private def scalaReadNames(rows: org.apache.spark.sql.DataFrame,
                             nRead: Int): Set[String] =
    if (nRead == 0) Set.empty
    else rows.inputFiles.map(new Path(_).getName).toSet

  /** 8 files: doc_id < 250 range-clustered on doc_id, the rest clustered
    * on lang — so long stats, string stats and both sketches all prune.
    */
  private def fixture(tag: String): String = {
    val dir = tmpDir(tag) + "/docs"
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    docs.filter(col("doc_id") < 250).repartitionByRange(4, col("doc_id"))
      .write.parquet(dir)
    docs.filter(col("doc_id") >= 250).repartitionByRange(4, col("lang"))
      .write.mode("append").parquet(dir)
    Manifest.createWithBloom(spark, dir, Seq("doc_id", "lang"),
      Seq("doc_id", "lang"), expectedItemsPerFile = 1000L)
    dir
  }

  private def withCap[T](cap: Int)(body: => T): T = {
    val prev = Manifest.maxPlannedFiles
    Manifest.maxPlannedFiles = cap
    try body finally Manifest.maxPlannedFiles = prev
  }

  private def causes(e: Throwable): List[Throwable] =
    if (e == null) Nil else e :: causes(e.getCause)

  private def assertCapped(what: String)(body: => Any): Unit = {
    val e = intercept[Exception](body)
    assert(causes(e).exists(c => c.isInstanceOf[IllegalStateException] &&
      String.valueOf(c.getMessage).contains("compact")),
      s"$what must fail typed at the planning cap: $e")
  }

  test("every planner caller collects under maxPlannedFiles") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val dir = tmpDir("planner_cap") + "/docs"
    spark.read.parquet(s"$sf001/documents.parquet")
      .repartitionByRange(8, col("doc_id")).write.parquet(dir)
    Manifest.create(spark, dir, "doc_id")
    val rowsBefore = spark.read.parquet(dir).count()
    withCap(2) {
      // No bloom: the range candidates ARE the plan, and they span 8 files.
      assertCapped("scanKeys")(
        Manifest.scanKeys(spark, dir, "doc_id", Seq(1L, 120L, 250L, 480L)))
      assertCapped("countRange")(
        Manifest.countRange(spark, dir, "doc_id", 0L, 499L))
      assertCapped("deleteRange")(
        Layout.deleteRange(spark, dir, "doc_id", 0L, 499L))
      assertCapped("SQL SELECT")(spark.sql(
        s"SELECT * FROM graft.`$dir` WHERE doc_id BETWEEN 0 AND 499").collect())
    }
    // A refused delete touched nothing.
    assert(spark.read.parquet(dir).count() == rowsBefore)
    // Under the default cap the same calls plan normally.
    assert(Manifest.countRange(spark, dir, "doc_id", 0L, 499L)._1 == rowsBefore)
  }

  test("SQL and the Scala API pick the same files for random range and IN predicates") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val dir = fixture("planner_parity")
    val langs = Seq("de", "en", "es", "fr", "zh", "a", "e", "f", "zz")
    def q(s: String) = s"'$s'"
    // (SQL WHERE clause, the same predicate's Scala-API scan → (rows, filesRead))
    val predGen: Gen[(String, () => (org.apache.spark.sql.DataFrame, Int))] =
      Gen.oneOf(
        for (lo <- Gen.choose(-5L, 505L); w <- Gen.choose(0L, 150L))
          yield (s"doc_id BETWEEN $lo AND ${lo + w}", () => {
            val (r, n, _) = Manifest.scanRange(spark, dir, "doc_id", lo, lo + w)
            (r, n)
          }),
        for (vs <- Gen.nonEmptyListOf(Gen.choose(-5L, 505L)).map(_.take(14)))
          yield (s"doc_id IN (${vs.mkString(", ")})", () => {
            val ks = Manifest.scanKeys(spark, dir, "doc_id", vs)
            (ks.rows, ks.filesRead)
          }),
        for (a <- Gen.oneOf(langs); b <- Gen.oneOf(langs)) yield {
          val (lo, hi) = if (a <= b) (a, b) else (b, a)
          (s"lang BETWEEN ${q(lo)} AND ${q(hi)}", () => {
            val (r, n, _) = Manifest.scanRangeString(spark, dir, "lang", lo, hi)
            (r, n)
          })
        },
        for (vs <- Gen.nonEmptyListOf(Gen.oneOf(langs)).map(_.take(3).distinct))
          yield (s"lang IN (${vs.map(q).mkString(", ")})", () => {
            val ks = Manifest.scanKeysString(spark, dir, "lang", vs)
            (ks.rows, ks.filesRead)
          }))
    val total = Manifest.files(spark, dir).count()
    val pruned = (1 to 30).count { seed =>
      val (where, scala) =
        predGen.pureApply(Gen.Parameters.default, Seed(seed.toLong))
      val sqlNames = sqlPlannedNames(
        spark.sql(s"SELECT * FROM graft.`$dir` WHERE $where"))
      val (rows, nRead) = scala()
      val scalaNames = scalaReadNames(rows, nRead)
      assert(scalaNames.size == nRead, s"[$where] read set vs count")
      assert(sqlNames == scalaNames,
        s"[$where] SQL planned $sqlNames, the Scala API read $scalaNames")
      nRead < total
    }
    assert(pruned > 10, s"the property must exercise pruning: $pruned/30")
  }
}
