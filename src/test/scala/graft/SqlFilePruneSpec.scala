package graft

import graft.functions.Hashing
import graft.ops.{Layout, Manifest}
import org.apache.spark.sql.functions._

/** SQL-plan-time FILE SKIPPING: the catalog's file index hands pushed
  * data filters to the shared planner (`graft.ops.FilePlanner`), so a
  * pushed range/equality predicate prunes FILES at `listFiles` — the same
  * pruning as `Manifest.scanRange`, on both the DSv2 scan and the V1 scan the DV
  * read rewrite swaps in. Without it every snapshot file plans and only
  * row-group stats save the day — a full-listing plan at 100 TB.
  */
class SqlFilePruneSpec extends SparkSpec {

  private val docCols = Seq("doc_id", "text", "lang", "source", "n_chars")

  private def fp(df: org.apache.spark.sql.DataFrame): String =
    Hashing.multisetFingerprintAgg(df.select(docCols.map(col): _*), docCols)
      .head().getString(0)

  private def fixture(tag: String): String = {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val dir = tmpDir(tag) + "/docs"
    spark.read.parquet(s"$sf001/documents.parquet")
      .repartitionByRange(8, col("doc_id")).write.parquet(dir)
    Manifest.create(spark, dir, "doc_id")
    dir
  }

  /** Files a DSv2 plan actually schedules (the scan's input partitions). */
  private def v2PlannedFiles(df: org.apache.spark.sql.DataFrame): Set[String] = {
    val out = scala.collection.mutable.Set.empty[String]
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = p match {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.toBatch.planInputPartitions().foreach {
          case fpart: org.apache.spark.sql.execution.datasources.FilePartition =>
            fpart.files.foreach(f => out += f.urlEncodedPath)
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

  test("a pushed range predicate plans ONLY the overlapping files — DSv2, time travel, and correctness") {
    val dir = fixture("sqlprune_v2")
    val total = Manifest.files(spark, dir).count()
    val expected = spark.read.parquet(dir)
      .filter(col("doc_id").between(100L, 150L))
    val q = spark.sql(
      s"SELECT * FROM graft.`$dir` WHERE doc_id BETWEEN 100 AND 150")
    assert(fp(q) == fp(expected), "pruning must never lose a row")
    val planned = v2PlannedFiles(q)
    assert(planned.nonEmpty && planned.size < total,
      s"range scan must plan a strict subset: ${planned.size}/$total")
    // Unfiltered scans keep planning everything (no constraint, no prune).
    assert(v2PlannedFiles(spark.sql(s"SELECT * FROM graft.`$dir`")).size == total)
    // Equality and IN prune too.
    assert(v2PlannedFiles(spark.sql(
      s"SELECT * FROM graft.`$dir` WHERE doc_id = 42")).size < total)
    assert(v2PlannedFiles(spark.sql(
      s"SELECT * FROM graft.`$dir` WHERE doc_id IN (7, 9)")).size < total)
    // Past inSetConversionThreshold (10) the optimizer emits InSet — the
    // common keyed-lookup shape must prune too.
    val bigIn = (0L to 11L).mkString(", ")
    val inq = spark.sql(s"SELECT * FROM graft.`$dir` WHERE doc_id IN ($bigIn)")
    assert(fp(inq) == fp(spark.read.parquet(dir).filter(col("doc_id") <= 11)))
    assert(v2PlannedFiles(inq).size < total)
    // Time travel prunes with the HISTORICAL snapshot's stats.
    val id = Manifest.latestSnapshotId(spark, dir).get
    val tt = spark.sql(
      s"SELECT * FROM graft.`$dir` VERSION AS OF $id WHERE doc_id < 60")
    assert(fp(tt) == fp(spark.read.parquet(dir).filter(col("doc_id") < 60)))
    assert(v2PlannedFiles(tt).size < total)
    // A predicate on a NON-stats column must not prune (conservative).
    assert(v2PlannedFiles(spark.sql(
      s"SELECT * FROM graft.`$dir` WHERE n_chars > 5")).size == total)
  }

  test("string stats prune SQL plans; OR prunes when both disjuncts translate") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val dir = tmpDir("sqlprune_str") + "/docs"
    // Repartition by lang → per-file string spans separate.
    spark.read.parquet(s"$sf001/documents.parquet")
      .repartition(8, col("lang")).write.parquet(dir)
    Manifest.create(spark, dir, "doc_id", "lang")
    val total = Manifest.files(spark, dir).count()
    val docs = spark.read.parquet(dir)
    // String equality and range prune on binary min/max.
    val qe = spark.sql(s"SELECT * FROM graft.`$dir` WHERE lang = 'zh'")
    assert(fp(qe) == fp(docs.filter(col("lang") === "zh")))
    assert(v2PlannedFiles(qe).size < total,
      s"string equality must prune: ${v2PlannedFiles(qe).size}/$total")
    val qr = spark.sql(
      s"SELECT * FROM graft.`$dir` WHERE lang >= 'de' AND lang <= 'en'")
    assert(fp(qr) == fp(docs.filter(col("lang") >= "de" && col("lang") <= "en")))
    assert(v2PlannedFiles(qr).size < total)
    // OR prunes when BOTH disjuncts translate (files overlapping neither
    // side drop)...
    val qo = spark.sql(
      s"SELECT * FROM graft.`$dir` WHERE lang = 'zh' OR lang = 'de'")
    assert(fp(qo) == fp(docs.filter(col("lang").isin("zh", "de"))))
    assert(v2PlannedFiles(qo).size < total,
      s"OR must prune: ${v2PlannedFiles(qo).size}/$total")
    // Mixed-column OR (doc_id range | lang equality) still prunes files
    // matching NEITHER side.
    val qm = spark.sql(
      s"SELECT * FROM graft.`$dir` WHERE doc_id < 0 OR lang = 'zh'")
    assert(fp(qm) == fp(docs.filter(col("lang") === "zh")))
    assert(v2PlannedFiles(qm).size < total)
    // ...and an OR with an untranslatable side prunes NOTHING (conservative).
    assert(v2PlannedFiles(spark.sql(
      s"SELECT * FROM graft.`$dir` WHERE lang = 'zh' OR n_chars > 5"))
      .size == total)
  }

  test("a bloom point lookup plans fewer files than min/max alone") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val dir = tmpDir("sqlprune_bloom") + "/docs"
    // Random layout: doc_id min/max spans overlap on every file, so range
    // stats prune ~nothing and the sketch is the whole win — the
    // UUID-lookup posture (Manifest.scanKeys' own fixture shape).
    spark.read.parquet(s"$sf001/documents.parquet")
      .repartition(8).write.parquet(dir)
    Manifest.createWithBloom(spark, dir, Seq("doc_id"), Seq("doc_id", "text"))
    val total = Manifest.files(spark, dir).count()
    val docs = spark.read.parquet(dir)
    // Long-key point lookup: min/max overlap everywhere, the sketch prunes.
    val probe = 250L
    val ql = spark.sql(s"SELECT * FROM graft.`$dir` WHERE doc_id = $probe")
    assert(fp(ql) == fp(docs.filter(col("doc_id") === probe)))
    assert(v2PlannedFiles(ql).size < total,
      s"bloom must prune the point lookup: ${v2PlannedFiles(ql).size}/$total")
    // String point lookup over the xxhash64 sketch (no range stats exist
    // for text at all).
    val text = docs.filter(col("doc_id") === 99L).select("text")
      .head().getString(0)
    val lit = text.replace("\\", "\\\\").replace("'", "''")
    val qs = spark.sql(s"SELECT * FROM graft.`$dir` WHERE text = '$lit'")
    assert(fp(qs) == fp(docs.filter(col("text") === text)))
    assert(v2PlannedFiles(qs).size < total,
      s"string bloom must prune: ${v2PlannedFiles(qs).size}/$total")
    // A probe value no file holds plans (near-)zero files but returns an
    // exact empty result.
    assert(spark.sql(
      s"SELECT count(*) c FROM graft.`$dir` WHERE doc_id = 987654321")
      .head().getLong(0) == 0L)
  }

  test("the V1 scan of a DV-bearing snapshot skips files on the same stats") {
    val dir = fixture("sqlprune_v1")
    val total = Manifest.files(spark, dir).count()
    Layout.deleteRangeDV(spark, dir, "doc_id", 0L, 9L)
    val expected = spark.read.parquet(dir)
      .filter(col("doc_id").between(200L, 250L))
    val q = spark.sql(
      s"SELECT * FROM graft.`$dir` WHERE doc_id BETWEEN 200 AND 250")
    assert(fp(q) == fp(expected))
    q.collect() // execute so scan metrics land
    var numFiles = -1L
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = p match {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if !f.relation.location.rootPaths.exists(
            _.toString.contains("/_graft_manifest/")) =>
        numFiles = f.metrics("numFiles").value
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        walk(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(s.plan)
      case other =>
        other.children.foreach(walk); other.subqueries.foreach(walk)
    }
    walk(q.queryExecution.executedPlan)
    assert(numFiles > 0 && numFiles < total,
      s"the swapped V1 data scan must skip files: $numFiles/$total")
    // And the deleted range stays deleted through the pruned plan.
    assert(spark.sql(
      s"SELECT count(*) c FROM graft.`$dir` WHERE doc_id BETWEEN 0 AND 9")
      .head().getLong(0) == 0L)
  }
}
