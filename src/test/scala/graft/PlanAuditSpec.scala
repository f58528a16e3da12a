package graft

import graft.queries.Registry
import graft.sync.{ParquetStore, SyncAction, SyncConfig, SyncEngine}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** PLANS.md's structural claims as regression tests: the plans the corpus
  * was tuned to produce (broadcast star joins, single-exchange windows,
  * zero-shuffle chunking, parquet pushdown, top-k without a global sort)
  * must SURVIVE code movement — a silent fallback to a shuffle or a
  * sort-merge join is a scale regression the oracle check cannot see.
  *
  * Assertions run against the RUNTIME plan (executed once, so AQE's final
  * decisions — not the static estimate — are what's checked).
  *
  * The single-plan tests pin rendered-plan substrings DELIBERATELY: the
  * strings are the operator names a human audits in explain output, and a
  * Spark upgrade that changes them should fail here for re-review. The
  * sync-cascade tests below instead walk plan-node CLASSES — they span many
  * executions, where rendered-text counting would double-count reused
  * caches.
  */
class PlanAuditSpec extends SparkSpec {

  private def finalPlan(df: DataFrame): String = {
    // collect(), not count(): count() runs a SEPARATE QueryExecution (and
    // prunes the audited projections), leaving df's own AdaptiveSparkPlan
    // unfinalized — the assertions would silently run against the static
    // estimate (caught by review; verified against the build's Spark).
    df.collect()
    // A finalized AdaptiveSparkPlan prints BOTH "== Final Plan ==" and
    // "== Initial Plan ==" sections — keep only the final one, or every
    // node (and every Exchange) counts twice.
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  private def planOf(name: String): String =
    finalPlan(Registry.queries(name)(spark, sf001))

  test("pipeline_cdc_chunk: no data-sized shuffle — chunking is a pure map (plus the small-input widen)") {
    val p = planOf("pipeline_cdc_chunk")
    // The compute-dense map may widen a BELOW-CORE-COUNT scan with one
    // round-robin exchange of the raw text; a key-hash exchange would mean
    // the chunker stopped being a map.
    assert(!p.contains("Exchange hashpartitioning"), p.linesIterator.take(12).mkString("\n"))
    val n = "Exchange".r.findAllIn(p).size
    assert(n <= 1, s"expected at most the widen exchange, got $n")
  }

  test("q5_multi_join: all-broadcast star join, fact scanned once, no sort-merge") {
    val p = planOf("q5_multi_join")
    assert(!p.contains("SortMergeJoin"), p.linesIterator.take(20).mkString("\n"))
    val nBhj = "BroadcastHashJoin".r.findAllIn(p).size
    assert(nBhj >= 4, s"expected >=4 broadcast joins, got $nBhj")
    val factScans = p.linesIterator.count(l => l.contains("Scan parquet") && l.contains("lineitem"))
    assert(factScans == 1, s"lineitem must be scanned exactly once, got $factScans")
  }

  test("p2_eq_filter: predicate reaches the parquet scan") {
    val p = planOf("p2_eq_filter")
    assert(p.contains("PushedFilters: [IsNotNull") || p.contains("PushedFilters: [EqualTo"),
      p.linesIterator.filter(_.contains("Scan")).mkString("\n"))
  }

  test("q3_join_topk: top-k via TakeOrderedAndProject, not a global sort") {
    val p = planOf("q3_join_topk")
    assert(p.contains("TakeOrderedAndProject"), p.linesIterator.take(8).mkString("\n"))
  }

  test("j1_anti_missing: anti join is broadcast at small scale (AQE-final)") {
    val p = planOf("j1_anti_missing")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      p.linesIterator.take(20).mkString("\n"))
  }

  test("q1_agg: single exchange between partial and final aggregation") {
    val p = planOf("q1_agg")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 1, s"expected exactly 1 hash exchange, got $n")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "expected partial+final HashAggregate")
  }

  test("knn_brute_topk: per-query top-k via the partial bounded-heap aggregate, no Window/global Sort") {
    val p = planOf("knn_brute_topk")
    assert(p.contains("partial_topkbyscore"),
      "map-side partial heap must ship only k entries per task: " +
        p.linesIterator.take(10).mkString("\n"))
    assert(!p.contains("Window") && !p.contains("Sort "),
      p.linesIterator.filter(l => l.contains("Window") || l.contains("Sort")).mkString("\n"))
  }

  test("q_window_top_order: exactly one hash-partitioning exchange feeds the window") {
    val p = planOf("q_window_top_order")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 1, s"expected exactly 1 hash exchange, got $n:\n" +
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  // ---- Sync-cascade scan contracts -----------------------------------------
  // The cascade is imperative (many actions per cycle), so its scan economy
  // is audited by NODE-walking every QueryExecution the cycle runs: file
  // scans are collected per execution (descending AQE final plans, query
  // stages, and subqueries; skipping reused exchanges), and a cached plan's
  // underlying scan is attributed ONCE per InMemoryRelation — a cache
  // materializes its file scan exactly once, however many legs read it.

  /** Parquet-scan root paths executed while `body` runs, one entry per
    * executed scan (class-matched, not toString-matched).
    */
  private def scanPathsDuring(body: => Unit): Seq[String] = {
    // Dedup key is the relation's cacheBuilder, not the relation: the cache
    // manager substitutes per-use COPIES of an InMemoryRelation (fresh
    // output attrs), but every copy shares the one CachedRDDBuilder that
    // actually materialized the underlying scan.
    val seenCaches = java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[AnyRef, java.lang.Boolean]())
    val paths = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def walk(p: SparkPlan): Unit = {
      p match {
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.foreach(rp => paths.add(rp.toString)): Unit
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case im: InMemoryTableScanExec =>
          if (seenCaches.add(im.relation.cacheBuilder)) walk(im.relation.cachedPlan)
        case _: ReusedExchangeExec => () // re-reads an exchange, not the files
        case other =>
          other.children.foreach(walk)
          other.subqueries.foreach(walk)
      }
    }
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        walk(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try body finally {
      // QueryExecutionListener delivery is asynchronous — drain the bus so
      // the assertion sees every execution the body ran.
      org.apache.spark.GraftSparkTestAccess.flushListenerBus(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    paths.asScala.toSeq
  }

  private def liKeys = Map("lineitem" -> Seq("l_orderkey", "l_linenumber"))

  test("hammingNearDups64: candidate pairing is an equi-join on piece keys, never a cartesian") {
    // The piece bucketing exists to make near-dup pairing shuffle on
    // (piece_id, piece) — a silent fallback to a nested-loop/cartesian
    // form would be the all-pairs plan the design forbids at scale.
    import spark.implicits._
    val sigs = (1L to 200L).map(i => (i, i * 0x9E3779B97F4A7C15L)).toDF("id", "sig")
    val pairs = graft.ops.Dedup.hammingNearDups64(sigs, "id", "sig", maxHamming = 3)
    val p = finalPlan(pairs)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(p.contains("Join"), "expected an equi-join in the candidate plan")
  }

  test("stats_table_profile: the whole profile is ONE scan of the table") {
    // The query's claim: counts, exact ndvs, HLL sketches, and min/max for
    // all profiled columns ride a single aggregate (one Expand), not one
    // scan per column.
    val scans = scanPathsDuring {
      Registry.queries("stats_table_profile")(spark, sf001).collect(): Unit
    }
    val li = scans.count(_.contains("lineitem"))
    assert(li == 1, s"profile scanned lineitem $li times; expected 1\n${scans.mkString("\n")}")
  }

  test("text_length_quantiles: single-exchange grouped aggregate") {
    val p = planOf("text_length_quantiles")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 1, s"expected exactly 1 hash exchange, got $n:\n" +
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("sync cascade: divergent dry-run cycle scans each side exactly ONCE (fused gate)") {
    val mDir = tmpDir("pa_sync_m")
    val sDir = tmpDir("pa_sync_s")
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
    li.write.parquet(s"$mDir/lineitem.parquet")
    li.filter(col("l_orderkey") % 7 =!= 0).write.parquet(s"$sDir/lineitem.parquet")
    // PLANS.md's fused-gate claim: each side reduces ONCE to its narrow
    // hash map; the gate, both diff legs, and the dry-run insert count all
    // reuse those maps — 2 wide scans total, nothing else touches the
    // tables. The legacy md5 map flavor goes through the same path.
    for (legacy <- Seq(false, true)) {
      val engine = new SyncEngine(new ParquetStore(spark, mDir), new ParquetStore(spark, sDir),
        SyncConfig(primaryKeys = liKeys, dryRun = true, legacyNullSkip = legacy))
      val scans = scanPathsDuring { engine.syncTable("lineitem"): Unit }
      val m = scans.count(_.contains(mDir))
      val s = scans.count(_.contains(sDir))
      assert(m == 1, s"legacyNullSkip=$legacy: master scanned $m times; expected exactly 1\n" +
        scans.mkString("\n"))
      assert(s == 1, s"legacyNullSkip=$legacy: slave scanned $s times; expected exactly 1\n" +
        scans.mkString("\n"))
    }
  }

  test("manifest-driven incremental sync: steady cycle plans ONLY the new master files") {
    val mDir = tmpDir("pa_inc_m")
    val sDir = tmpDir("pa_inc_s")
    val mPath = s"$mDir/lineitem.parquet"
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
    li.filter(col("l_orderkey") % 3 =!= 0).repartition(4).write.parquet(mPath)
    spark.read.parquet(mPath).write.parquet(s"$sDir/lineitem.parquet")
    val engine = new SyncEngine(new ParquetStore(spark, mDir), new ParquetStore(spark, sDir),
      SyncConfig(primaryKeys = liKeys, maintainFingerprints = true))
    engine.syncAppendOnlyIncremental("lineitem", mPath) // prime + checkpoint
    def dataFiles(): Set[String] =
      new java.io.File(mPath).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.length > 0)
        .map(_.getName).toSet
    val oldFiles = dataFiles()
    li.filter(col("l_orderkey") % 3 === 0).repartition(2)
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(mPath)
    val newFiles = dataFiles() -- oldFiles
    assert(newFiles.size == 2)
    val scans = scanPathsDuring {
      engine.syncAppendOnlyIncremental("lineitem", mPath): Unit
    }
    // The slave is written by PURE APPEND — a steady cycle never reads it.
    val s = scans.count(_.contains(sDir))
    assert(s == 0, s"slave scanned $s times on an append-only cycle\n${scans.mkString("\n")}")
    // Every master DATA scan is a manifest-picked FILE path belonging to
    // the appended batch: the whole-dir plan (old files included) never
    // appears. Manifest snapshot reads (metadata, under _graft_manifest)
    // are not data scans.
    val masterData = scans.filter(p =>
      p.contains(mPath) && !p.contains("_graft_manifest"))
    assert(masterData.nonEmpty, s"expected file-level master scans\n${scans.mkString("\n")}")
    masterData.foreach { p =>
      assert(p != mPath && !p.stripSuffix("/").endsWith("lineitem.parquet"),
        s"whole-table master plan on a steady cycle: $p\n${scans.mkString("\n")}")
      assert(newFiles.exists(p.endsWith),
        s"scan of an OLD master file on a steady cycle: $p")
    }
  }

  test("sync cascade maintained mode: token-changed but in-sync cycle never scans the slave") {
    val mDir = tmpDir("pa_maint_m")
    val sDir = tmpDir("pa_maint_s")
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
    li.write.parquet(s"$mDir/lineitem.parquet")
    li.write.parquet(s"$sDir/lineitem.parquet")
    val engine = new SyncEngine(new ParquetStore(spark, mDir), new ParquetStore(spark, sDir),
      SyncConfig(primaryKeys = liKeys, maintainFingerprints = true))
    engine.syncTable("lineitem") // prime: fingerprints computed, state stored
    // Rewrite the master with identical content: the change token moves (so
    // the zero-job short-circuit cannot fire) but the data is in-sync — the
    // cycle must re-fingerprint the MASTER once and answer the gate from
    // the maintained slave fingerprint without touching the slave.
    li.write.mode("overwrite").parquet(s"$mDir/lineitem.parquet")
    val scans = scanPathsDuring { engine.syncTable("lineitem"): Unit }
    val m = scans.count(_.contains(mDir))
    val s = scans.count(_.contains(sDir))
    assert(s == 0, s"slave scanned $s times on an in-sync cycle; expected 0\n${scans.mkString("\n")}")
    assert(m == 1, s"master scanned $m times; expected exactly 1\n${scans.mkString("\n")}")
  }

  test("bloom point scan: plans ONLY the sketch-picked files, never the table dir") {
    val stage = tmpDir("pa_bloom") + "/documents"
    spark.read.parquet(s"$sf001/documents.parquet")
      .repartition(8).write.parquet(stage)
    graft.ops.Manifest.createWithBloom(spark, stage, Seq("doc_id"), Seq("doc_id"))
    val ks = graft.ops.Manifest.scanKeys(spark, stage, "doc_id", Seq(123L))
    assert(ks.filesRead >= 1 && ks.filesRead < ks.filesTotal)
    val scans = scanPathsDuring { ks.rows.collect(): Unit }
    val data = scans.filter(p => p.contains(stage) && !p.contains("_graft_manifest"))
    assert(data.nonEmpty, s"expected file-level scans\n${scans.mkString("\n")}")
    data.foreach { p =>
      assert(!p.stripSuffix("/").endsWith("documents"),
        s"whole-table plan under a bloom point scan: $p")
      assert(p.contains("/part-"), s"expected a file path, got: $p")
    }
    // Planned-file count matches the skipping evidence the API reported.
    assert(data.distinct.size == ks.filesRead,
      s"planned ${data.distinct.size} files, API reported ${ks.filesRead}")
  }

  test("change-feed sync cycle: master planned at FILE level (changed + retained files only)") {
    val mDir = tmpDir("pa_cdf_m")
    val sDir = tmpDir("pa_cdf_s")
    val mPath = s"$mDir/lineitem.parquet"
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
    li.repartitionByRange(6, col("l_orderkey")).write.parquet(mPath)
    spark.read.parquet(mPath).write.parquet(s"$sDir/lineitem.parquet")
    graft.ops.Manifest.create(spark, mPath, "l_orderkey")
    val engine = new SyncEngine(new ParquetStore(spark, mDir), new ParquetStore(spark, sDir),
      SyncConfig(primaryKeys = liKeys, maintainFingerprints = true))
    engine.syncViaChangeFeed("lineitem", mPath) // prime + checkpoint
    val maxK = li.agg(org.apache.spark.sql.functions.max(col("l_orderkey"))).head().getLong(0)
    graft.ops.Layout.deleteRange(spark, mPath, "l_orderkey", maxK / 3, maxK / 2)
    val scans = scanPathsDuring { engine.syncViaChangeFeed("lineitem", mPath): Unit }
    // Master data scans are file-granular: the feed reads the mutation's
    // added files (live) and removed originals (retained trash) — the
    // whole-dir plan over untouched files never appears.
    val masterData = scans.filter(p =>
      p.contains(mPath) && !p.contains("_graft_manifest"))
    assert(masterData.nonEmpty, s"expected file-level master scans\n${scans.mkString("\n")}")
    masterData.foreach { p =>
      assert(!p.stripSuffix("/").endsWith("lineitem.parquet"),
        s"whole-table master plan on a feed cycle: $p\n${scans.mkString("\n")}")
      assert(p.contains("/part-") || p.contains("_graft_trash"),
        s"expected a changed-file or trash path, got: $p")
    }
    // The slave pays exactly its COW delta-apply read — one scan.
    val sCount = scans.count(_.contains(sDir))
    assert(sCount == 1, s"slave scanned $sCount times; expected 1\n${scans.mkString("\n")}")
  }

  test("feed cycle ACROSS a compaction: rides the feed (no full-diff fallback), slave never scanned") {
    val mDir = tmpDir("pa_cdf_cmp_m")
    val sDir = tmpDir("pa_cdf_cmp_s")
    val mPath = s"$mDir/lineitem.parquet"
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
    li.repartitionByRange(6, col("l_orderkey")).write.parquet(mPath)
    spark.read.parquet(mPath).write.parquet(s"$sDir/lineitem.parquet")
    graft.ops.Manifest.create(spark, mPath, "l_orderkey")
    val engine = new SyncEngine(new ParquetStore(spark, mDir), new ParquetStore(spark, sDir),
      SyncConfig(primaryKeys = liKeys, maintainFingerprints = true))
    engine.syncViaChangeFeed("lineitem", mPath) // prime + checkpoint
    // Routine maintenance between cycles: the compaction RETAINS its
    // replaced originals, so the next feed resolves them through the trash
    // and nets ZERO rows (pure re-layout cancels in the multiset diff) —
    // the fallback full diff would have answered Skip after re-scanning.
    graft.ops.Layout.compactTable(spark, mPath, targetBytes = 1L << 20)
    val scans = scanPathsDuring {
      val action = engine.syncViaChangeFeed("lineitem", mPath)
      action match {
        case SyncAction.ApplyDelta("lineitem", 0L, 0L) => ()
        case other => fail(s"expected the empty-net feed cycle, got $other " +
          "(Skip would mean the full-diff fallback ran)")
      }
    }
    // Empty net feed ⇒ nothing to apply ⇒ the slave is NEVER read.
    val sCount = scans.count(_.contains(sDir))
    assert(sCount == 0, s"slave scanned $sCount times; expected 0\n${scans.mkString("\n")}")
    // Master reads stay file-granular (changed files + retained trash).
    val masterData = scans.filter(p =>
      p.contains(mPath) && !p.contains("_graft_manifest"))
    masterData.foreach { p =>
      assert(!p.stripSuffix("/").endsWith("lineitem.parquet"),
        s"whole-table master plan on a feed cycle: $p\n${scans.mkString("\n")}")
    }
  }

  test("partitioned COW delete: untouched PARTITIONS never plan") {
    // Partition key ranges disjoint by construction: lang=l<b> owns
    // doc_id [b*1000, b*1000+499] — a delete inside l1's range must not
    // plan, list, or scan any other partition's files.
    val stage = tmpDir("pa_part_cow") + "/docs"
    spark.range(0L, 2000L).selectExpr(
      "concat('l', CAST(id DIV 500 AS INT)) AS lang",
      "(id DIV 500) * 1000 + (id % 500) AS doc_id",
      "concat('payload_', id) AS payload")
      .repartitionByRange(8, col("doc_id"))
      .write.partitionBy("lang").parquet(stage)
    graft.ops.Manifest.create(spark, stage, "doc_id")
    val scans = scanPathsDuring {
      val r = graft.ops.Layout.deleteRange(spark, stage, "doc_id", 1000L, 1099L)
      assert(r.rowsDeleted == 100L)
    }
    val data = scans.filter(p => p.contains(stage) &&
      !p.contains("_graft_manifest") && !p.contains("__delnewp"))
    assert(data.nonEmpty, s"expected file-level scans\n${scans.mkString("\n")}")
    data.foreach { p =>
      assert(p.contains("lang=l1"),
        s"untouched partition planned during a targeted COW delete: $p\n${scans.mkString("\n")}")
      assert(!p.stripSuffix("/").endsWith("docs"),
        s"whole-table plan during a targeted COW delete: $p")
    }
  }

  test("PARTITIONED feed cycle: master planned only in the changed partition; slave pays one delta-apply scan") {
    // Partition key ranges disjoint by construction (lang=l<b> owns
    // doc_id [b*1000, b*1000+499]) — a steady syncViaChangeFeed cycle after
    // a delete confined to l1 must plan master files ONLY under lang=l1
    // (changed live files or their trash-retained originals), never an
    // untouched partition, never the whole table.
    val mDir = tmpDir("pa_cfp_m")
    val sDir = tmpDir("pa_cfp_s")
    val mPath = s"$mDir/docs.parquet"
    val base = spark.range(0L, 2000L).selectExpr(
      "concat('l', CAST(id DIV 500 AS INT)) AS lang",
      "(id DIV 500) * 1000 + (id % 500) AS doc_id",
      "concat('payload_', id) AS payload")
      .repartitionByRange(8, col("doc_id"))
    base.write.partitionBy("lang").parquet(mPath)
    base.write.partitionBy("lang").parquet(s"$sDir/docs.parquet")
    graft.ops.Manifest.create(spark, mPath, "doc_id")
    val engine = new SyncEngine(new ParquetStore(spark, mDir), new ParquetStore(spark, sDir),
      SyncConfig(primaryKeys = Map("docs" -> Seq("doc_id")),
        maintainFingerprints = true))
    engine.syncViaChangeFeed("docs", mPath) // prime + checkpoint
    val r = graft.ops.Layout.deleteRange(spark, mPath, "doc_id", 1000L, 1099L)
    assert(r.rowsDeleted == 100L)
    val scans = scanPathsDuring { engine.syncViaChangeFeed("docs", mPath): Unit }
    val masterData = scans.filter(p =>
      p.contains(mPath) && !p.contains("_graft_manifest"))
    assert(masterData.nonEmpty, s"expected file-level master scans\n${scans.mkString("\n")}")
    masterData.foreach { p =>
      assert(p.contains("lang=l1"),
        s"untouched partition planned on a partitioned feed cycle: $p\n${scans.mkString("\n")}")
      assert(!p.stripSuffix("/").endsWith("docs.parquet"),
        s"whole-table master plan on a partitioned feed cycle: $p")
    }
    val sCount = scans.count(_.contains(sDir))
    assert(sCount == 1, s"slave scanned $sCount times; expected 1\n${scans.mkString("\n")}")
  }

  test("catalog SELECT (v2 scan): filters pushed and columns pruned at the parquet reader") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val stage = tmpDir("pa_catscan") + "/documents"
    spark.read.parquet(s"$sf001/documents.parquet")
      .repartitionByRange(4, col("doc_id")).write.parquet(stage)
    graft.ops.Manifest.create(spark, stage, "doc_id")
    val df = spark.sql(
      s"SELECT doc_id, n_chars FROM graft.`$stage` WHERE doc_id < 50")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") &&
      (p.contains("LessThan(doc_id,50)") || p.contains("LessThan(doc_id")),
      p.linesIterator.filter(_.contains("Scan")).mkString("\n"))
    assert(p.contains("ReadSchema") && !p.contains("text"),
      "projection must prune the wide text column from the read schema:\n" +
        p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n"))
  }

  /** Snapshot `id`'s stats rows keyed by file name (the path cut off). */
  private def statsByName(dir: String, id: Int): Map[String, String] =
    graft.ops.Manifest.snapshotDF(spark, dir, id).collect().map { r =>
      new org.apache.hadoop.fs.Path(new java.net.URI(r.getString(0))).getName ->
        r.toSeq.tail.mkString(",")
    }.toMap

  test("streaming-sink micro-batch: appendOnce plans no table file") {
    val dir = tmpDir("pa_sink") + "/docs"
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    docs.filter(col("doc_id") < 400).repartition(6).write.parquet(dir)
    val id = graft.ops.Manifest.create(spark, dir, "doc_id")
    val batch = docs.filter(col("doc_id") >= 400)
    val scans = scanPathsDuring {
      graft.ops.Layout.appendOnce(spark, dir, "pa-sink", 1L, batch): Unit
    }
    // The batch's stats come from its landed files' footers, so no data
    // file under the table dir is planned at all — neither the old files
    // (the micro-batch cost must never grow to O(table)) nor the batch's.
    val tableData = scans.filter(p =>
      p.contains(dir) && !p.contains("_graft_manifest") && !p.contains("__sinkstage"))
    assert(tableData.isEmpty, s"sink batch planned table files\n${scans.mkString("\n")}")
    // The commit profiled exactly the batch's deterministic part-sink files.
    val before = statsByName(dir, id)
    val after = statsByName(dir, graft.ops.Manifest.latestSnapshotId(spark, dir).get)
    val added = after.keySet -- before.keySet
    assert(added.nonEmpty && added.forall(_.startsWith("part-sink-")), added.mkString(", "))
    assert(before.forall { case (n, st) => after.get(n).contains(st) })
    assert(graft.ops.Manifest.files(spark, dir).agg(sum("n_rows")).head().getLong(0) ==
      docs.count())
  }

  test("restoreSnapshot plans no table file; revived stats exact") {
    val dir = tmpDir("pa_restore") + "/docs"
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    docs.repartitionByRange(6, col("doc_id")).write.parquet(dir)
    val id1 = graft.ops.Manifest.create(spark, dir, "doc_id")
    graft.ops.Layout.deleteRange(spark, dir, "doc_id", 100L, 199L)
    // The files the restore must revive = exactly what the delete retired.
    val fs = new java.io.File(s"$dir/_graft_trash")
    val revivedNames = fs.listFiles().filter(_.getName.startsWith("part-"))
      .map(_.getName).toSet
    assert(revivedNames.nonEmpty)
    val scans = scanPathsDuring {
      graft.ops.Layout.restoreSnapshot(spark, dir, id1): Unit
    }
    // Revived files are byte copies: their stats come from their footers,
    // so no data file — kept or revived — is planned (cost ∝ the state diff).
    val data = scans.filter(p => p.contains(dir) &&
      !p.contains("_graft_manifest") && !p.contains("__delnew"))
    assert(data.isEmpty, s"restore planned table files\n${scans.mkString("\n")}")
    // ...and the restored snapshot describes the target's files with the
    // target's exact stats rows, the revived ones included.
    val restored = statsByName(dir, graft.ops.Manifest.latestSnapshotId(spark, dir).get)
    assert(revivedNames.subsetOf(restored.keySet))
    assert(restored == statsByName(dir, id1))
  }

  test("compactPartition: only the target partition's files are ever planned") {
    val dir = tmpDir("pa_cpart") + "/docs"
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    docs.repartition(3).write.partitionBy("lang").parquet(dir)
    docs.withColumn("doc_id", col("doc_id") + 1000000L)
      .repartition(2).write.mode("append").partitionBy("lang").parquet(dir)
    graft.ops.Manifest.create(spark, dir, "doc_id")
    val lang = docs.select("lang").head().getString(0)
    val seg = s"lang=$lang/"
    val scans = scanPathsDuring {
      graft.ops.Layout.compactPartition(spark, dir, "lang", lang, 64L << 20): Unit
    }
    val data = scans.filter(p => p.contains(dir) &&
      !p.contains("_graft_manifest") && !p.contains("__delnewp"))
    assert(data.nonEmpty, s"expected picked-file scans\n${scans.mkString("\n")}")
    data.foreach { p =>
      assert(p.contains(seg),
        s"a file OUTSIDE the target partition was planned: $p\n${scans.mkString("\n")}")
    }
  }

  test("$files introspection: a distributed parquet scan over the snapshot, blooms pruned") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val dir = tmpDir("pa_meta") + "/docs"
    spark.read.parquet(s"$sf001/documents.parquet")
      .repartition(4).write.parquet(dir)
    graft.ops.Manifest.createWithBloom(spark, dir, Seq("doc_id"), Seq("doc_id"))
    val df = spark.sql(s"SELECT sum(n_rows) AS r FROM graft.`$dir$$files`")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Scan") && p.contains("parquet") && !p.contains("LocalTableScan"),
      s"\\$$files must stay a distributed parquet scan, not a driver materialization:\n$p")
    assert(p.contains("ReadSchema") && !p.contains("bloom_"),
      "bloom sketches must be pruned from the introspection read:\n" +
        p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n"))
  }

  test("partition-drop DELETE (partCol = v) is pure metadata: zero data-file scans") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val stage = tmpDir("pa_partdrop") + "/docs"
    spark.range(0L, 2000L).selectExpr(
      "concat('l', CAST(id DIV 500 AS INT)) AS lang",
      "(id DIV 500) * 1000 + (id % 500) AS doc_id",
      "concat('payload_', id) AS payload")
      .repartitionByRange(8, col("doc_id"))
      .write.partitionBy("lang").parquet(stage)
    graft.ops.Manifest.create(spark, stage, "doc_id")
    val scans = scanPathsDuring {
      spark.sql(s"DELETE FROM graft.`$stage` WHERE lang = 'l2'")
    }
    val data = scans.filter(p => p.contains(stage) && !p.contains("_graft_manifest"))
    assert(data.isEmpty,
      s"a whole-partition drop must not scan any data file\n${scans.mkString("\n")}")
    assert(spark.read.parquet(stage).count() == 1500L)
  }

  test("SQL DELETE FROM plans only manifest-picked + newly-staged files (untouched files never plan)") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val stage = tmpDir("pa_sqldel") + "/documents"
    spark.read.parquet(s"$sf001/documents.parquet")
      .repartitionByRange(8, col("doc_id")).write.parquet(stage)
    graft.ops.Manifest.create(spark, stage, "doc_id")
    def norm(p: String): String =
      try new org.apache.hadoop.fs.Path(new java.net.URI(p)).toUri.getPath
      catch { case _: java.net.URISyntaxException =>
        new org.apache.hadoop.fs.Path(p).toUri.getPath }
    val snap = graft.ops.Manifest.files(spark, stage)
    val picked = snap
      .filter(col("max_doc_id") >= 100L && col("min_doc_id") <= 199L)
      .select("file").collect().map(r => norm(r.getString(0))).toSet
    val before = snap.select("file").collect().map(r => norm(r.getString(0))).toSet
    assert(picked.nonEmpty && picked.size < before.size,
      s"fixture must make the delete targeted: ${picked.size} of ${before.size}")
    val scans = scanPathsDuring {
      spark.sql(s"DELETE FROM graft.`$stage` WHERE doc_id BETWEEN 100 AND 199")
    }
    // Every data scan under the table dir is either a picked file (the
    // rewrite's decode) or a file that did not exist before the statement
    // (the staged survivors' stats pass) — an UNTOUCHED file planning
    // anywhere in the statement is the scale regression this contract pins.
    val tableData = scans.map(norm)
      .filter(p => p.startsWith(stage + "/") && !p.contains("_graft"))
    assert(tableData.nonEmpty, s"expected file-level scans\n${scans.mkString("\n")}")
    tableData.foreach { p =>
      assert(!p.stripSuffix("/").endsWith("/documents"),
        s"whole-table plan under SQL DELETE: $p\n${scans.mkString("\n")}")
      assert(picked.exists(p.endsWith) || !before.exists(p.endsWith),
        s"scan of an untouched file under SQL DELETE: $p\n${scans.mkString("\n")}")
    }
  }
}
