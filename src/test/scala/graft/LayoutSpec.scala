package graft

import graft.functions.Hashing
import graft.ops.{FsMaint, Layout}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Layout maintenance jobs: pure re-layouts (fingerprint-invariant), file
  * counts land on the sizing target, range clustering yields pairwise
  * disjoint per-file key spans, and the two-rename swap heals after a
  * simulated crash.
  */
class LayoutSpec extends SparkSpec {

  private val docCols = Seq("doc_id", "text", "lang", "source", "n_chars")

  private def fp(path: String): String =
    Hashing.multisetFingerprintAgg(spark.read.parquet(path), docCols)
      .head().getString(0)

  private def fileCount(path: String): Long =
    FsMaint.dataFileCount(
      new Path(path).getFileSystem(spark.sessionState.newHadoopConf()),
      new Path(path))

  private def stageDocs(tag: String, parts: Int): String = {
    val stage = tmpDir(tag) + "/documents"
    spark.read.parquet(s"$sf001/documents.parquet")
      .repartition(parts).write.parquet(stage)
    stage
  }

  test("RangePick: picks exactly the files a BETWEEN semi-join over their bounds picks") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def bound(): java.lang.Long = rnd.nextInt(12) match {
      case 0 => null
      case 1 => Long.MaxValue
      case 2 => Long.MinValue
      case _ => rnd.nextInt(400).toLong - 200
    }
    (1 to 6).foreach { round =>
      // Overlapping, nested, inverted, point and NULL-bounded ranges.
      val files = (0 until 3 + rnd.nextInt(30)).map { i =>
        val lo = bound()
        (s"f$i", lo, if (rnd.nextInt(4) == 0) lo else bound())
      }
      val keys = Seq.fill(1 + rnd.nextInt(40))(bound()).filter(_ != null).map(_.longValue) ++
        Seq(Long.MinValue, Long.MaxValue)
      val f = files.toDF("file", "min_k", "max_k")
      val pick = Layout.RangePick.of(f, "k")
      val segs = keys.toDF("k").agg(collect_set(pick.segment(col("k")))).head().getSeq[Int](0)
      val want = files.collect { case (n, lo, hi) if lo != null && hi != null &&
          keys.exists(k => lo <= k && k <= hi) => n }
      assert(pick.files(segs) == want, s"round $round: $files vs keys $keys")
    }
  }

  test("compactTable: content invariant, file count collapses to the byte target") {
    val stage = stageDocs("layout_compact", 16)
    assert(fileCount(stage) == 16)
    val before = fp(stage)
    val n = Layout.compactTable(spark, stage, targetBytes = 64L << 20)
    assert(n == 1, s"small table should compact to 1 file, got $n")
    assert(fileCount(stage) == 1)
    assert(fp(stage) == before)
  }

  test("compactTable: sub-table byte target yields multiple files, still invariant") {
    val stage = stageDocs("layout_compact_multi", 16)
    val before = fp(stage)
    val fs = new Path(stage).getFileSystem(spark.sessionState.newHadoopConf())
    val total = FsMaint.totalDataBytes(fs, new Path(stage))
    val target = math.max(1L, total / 3)
    val n = Layout.compactTable(spark, stage, targetBytes = target)
    assert(n >= 3 && n <= 4, s"expected ~3-4 files for a third-of-table target, got $n")
    assert(fileCount(stage) == n)
    assert(fp(stage) == before)
  }

  test("an interrupted swap is healed before the next rewrite") {
    val stage = stageDocs("layout_heal", 4)
    val before = fp(stage)
    // Simulate a crash between the two renames: store moved aside, the
    // replacement never landed.
    val fs = new Path(stage).getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(new Path(stage), new Path(stage + "__old")))
    val n = Layout.compactTable(spark, stage, targetBytes = 64L << 20)
    assert(n == 1)
    assert(fp(stage) == before)
  }

  test("clusterByZOrder: BOTH dimensions' spans shrink together; 1-D sort leaves one at ~1") {
    val stage = stageDocs("layout_zorder", 16)
    val before = fp(stage)
    Layout.clusterByZOrder(spark, stage, "doc_id", "n_chars", nFiles = 16)
    assert(fp(stage) == before, "z key must be transient — content invariant")
    val sa = Layout.meanNormalizedSpan(spark, stage, "doc_id")
    val sb = Layout.meanNormalizedSpan(spark, stage, "n_chars")
    info(f"z-order spans: doc_id $sa%.3f, n_chars $sb%.3f (ideal ~0.25 at 16 files)")
    // Query gate is 0.6; pin 0.5 here so the gate is known to have margin.
    assert(sa <= 0.5 && sb <= 0.5, s"z-order spans too wide: $sa, $sb")
    // Contrast: the 1-D layout collapses its own dimension but leaves the
    // OTHER spanning essentially the whole domain — the gap z-order closes.
    val stage2 = stageDocs("layout_zorder_1d", 16)
    Layout.clusterByRange(spark, stage2, "doc_id", nFiles = 16)
    val sb1d = Layout.meanNormalizedSpan(spark, stage2, "n_chars")
    info(f"1-D layout n_chars span: $sb1d%.3f")
    assert(sb1d > sb * 2, s"z-order should beat 1-D on the second dim: $sb vs $sb1d")
  }

  test("partitionByColumn: content invariant; equality scan plans only the matching dir") {
    val stage = stageDocs("layout_part", 8)
    val before = fp(stage)
    Layout.partitionByColumn(spark, stage, "lang")
    assert(fp(stage) == before)
    val fs = new Path(stage).getFileSystem(spark.sessionState.newHadoopConf())
    val total = FsMaint.dataFileCount(fs, new Path(stage))
    assert(total >= 5, s"expected >=1 file per lang, got $total") // 5 langs
    val probe = spark.read.parquet(stage).filter(col("lang") === "en")
    probe.collect()
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val nodes = scans(probe.queryExecution.executedPlan)
    assert(nodes.nonEmpty)
    // Planning-time pruning: only lang=en's files are PLANNED (contrast
    // with row-group stats, where every file is still listed and opened).
    val planned = nodes.map(_.metrics("numFiles").value).sum
    assert(planned < total, s"planned $planned of $total files")
    assert(nodes.head.toString.contains("PartitionFilters"),
      nodes.head.toString.linesIterator.take(6).mkString("\n"))
  }

  test("zValueN: corners land exactly; wide mixed-sign domains do not overflow") {
    // Top corner of a 2-key code: first key fills even bit positions.
    def z1(c: org.apache.spark.sql.Column): Long =
      spark.range(1).select(c.as("z")).head().getLong(0)
    assert(z1(Layout.zValue(lit(100L), 0L, 100L, lit(0L), 0L, 100L)) == 0x55555555L)
    assert(z1(Layout.zValue(lit(0L), 0L, 100L, lit(100L), 0L, 100L)) == 0xAAAAAAAAL)
    // Mixed-sign domain spanning nearly the whole int64 range: long
    // subtraction (c - lo) or driver-side (hi - lo) would overflow; the
    // all-double normalization must still hit the exact corners.
    val lo = Long.MinValue + 1; val hi = Long.MaxValue - 1
    assert(z1(Layout.zValue(lit(hi), lo, hi, lit(lo), lo, hi)) == 0x55555555L)
    assert(z1(Layout.zValue(lit(lo), lo, hi, lit(lo), lo, hi)) == 0L)
    // Three keys: bit i of key j sits at position i*3 + j; all-max = 2^48-1.
    val all3 = Layout.zValueN(Seq((lit(10L), 0L, 10L), (lit(10L), 0L, 10L), (lit(10L), 0L, 10L)))
    assert(z1(all3) == (1L << 48) - 1)
    assert(z1(Layout.zValueN(Seq((lit(0L), 0L, 10L), (lit(10L), 0L, 10L), (lit(0L), 0L, 10L))))
      == 0x249249249249L * 2) // key 1's bits at positions 1,4,7,…,46
  }

  test("clusterByZOrderN: three dimensions' spans shrink together; bad key types rejected") {
    // Controlled 20×20×20 uniform grid — every dimension independent, so the
    // per-dimension span gate is a real clustering measurement.
    val stage = tmpDir("layout_zn") + "/grid"
    spark.range(8000).selectExpr("id", "id % 20 AS x", "(id div 20) % 20 AS y",
        "id div 400 AS z")
      .repartition(16).write.parquet(stage)
    val before = Hashing.multisetFingerprintAgg(
      spark.read.parquet(stage), Seq("id", "x", "y", "z")).head().getString(0)
    Layout.clusterByZOrderN(spark, stage, Seq("x", "y", "z"), nFiles = 27)
    assert(Hashing.multisetFingerprintAgg(
      spark.read.parquet(stage), Seq("id", "x", "y", "z")).head().getString(0) == before,
      "z key must be transient — content invariant")
    val spans = Seq("x", "y", "z").map(c => Layout.meanNormalizedSpan(spark, stage, c))
    info(f"3-D z-order spans: ${spans.map(s => f"$s%.3f").mkString(", ")} (ideal ~0.33 at 27 files)")
    assert(spans.forall(_ <= 0.6), s"3-D z-order spans too wide: $spans")
    // The same-defect-class guard as Manifest.create: a string cluster key
    // would normalize to NULL and silently destroy the clustering.
    intercept[IllegalArgumentException] {
      Layout.clusterByZOrderN(spark, stageDocs("layout_zn_bad", 4), Seq("doc_id", "lang"), 4)
    }
  }

  test("clusterByRange: pairwise-disjoint file spans, content invariant") {
    val stage = stageDocs("layout_cluster", 16)
    val before = fp(stage)
    Layout.clusterByRange(spark, stage, "doc_id", nFiles = 4)
    assert(fileCount(stage) == 4)
    assert(fp(stage) == before)
    val spans = Layout.fileSpans(spark, stage, "doc_id")
    assert(spans.length == 4)
    spans.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(lo2 > hi, s"file spans overlap: $spans")
      case _ => ()
    }
    // What the disjoint spans buy: the point predicate is PUSHED to the
    // parquet reader, whose row-group min/max stats on the clustered key
    // now exclude every row group outside one file (vanilla Spark plans all
    // files — file-LEVEL skipping from these same stats is what a
    // manifest-based table format adds on top of this layout; the decode
    // savings here are row-group-level, inside the reader). Assert the
    // pushdown is in place and the probe returns exactly its row.
    val probe = spark.read.parquet(stage).filter(col("doc_id") === spans.head._2)
    assert(probe.count() == 1L)
    val plan = { probe.collect(); probe.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head }
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id"),
      plan.linesIterator.filter(_.contains("Scan")).mkString("\n"))
  }

  test("deleteRange: exact, targeted (rewrites only overlapping files), manifest survives") {
    val stage = tmpDir("layout_del") + "/documents"
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    docs.repartitionByRange(8, col("doc_id")).write.parquet(stage)
    graft.ops.Manifest.create(spark, stage, "doc_id")
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val (lo, hi) = (maxId / 4, maxId / 2)
    val expectDeleted = docs.filter(col("doc_id").between(lo, hi)).count()
    val res = Layout.deleteRange(spark, stage, "doc_id", lo, hi)
    // Targeting: a range-clustered table overlaps the window in a strict
    // subset of files; correctness: survivors are exactly NOT BETWEEN.
    assert(res.filesRewritten > 0 && res.filesRewritten < res.filesTotal, res.toString)
    assert(res.rowsDeleted == expectDeleted, res.toString)
    assert(fp(stage) == Hashing.multisetFingerprintAgg(
      docs.filter(!col("doc_id").between(lo, hi)), docCols).head().getString(0))
    // The recommitted manifest serves pruned scans over the NEW file set.
    val (rows, _, _) = graft.ops.Manifest.scanRange(spark, stage, "doc_id", 0L, lo - 1)
    assert(rows.count() == docs.filter(col("doc_id") < lo).count())
    // Outside the domain: metadata no-op, zero files touched.
    val noop = Layout.deleteRange(spark, stage, "doc_id", maxId + 100, maxId + 200)
    assert(noop == Layout.DeleteResult(0, noop.filesTotal, 0L))
  }

  test("deleteRange guards: manifest required, key covered") {
    val stage = stageDocs("layout_del_guard", 4)
    intercept[IllegalArgumentException] {
      Layout.deleteRange(spark, stage, "doc_id", 0L, 10L) } // no manifest
    graft.ops.Manifest.create(spark, stage, "doc_id")
    intercept[IllegalArgumentException] {
      Layout.deleteRange(spark, stage, "n_chars", 0L, 10L) } // no stats for key
    // Completeness: an append the snapshot never saw could shelter doomed
    // rows / matching keys — stats-targeted mutations must refuse.
    spark.read.parquet(s"$sf001/documents.parquet").limit(5)
      .write.mode("append").parquet(stage)
    intercept[graft.ops.Manifest.StaleManifestException] {
      Layout.deleteRange(spark, stage, "doc_id", 0L, 10L) }
    intercept[graft.ops.Manifest.StaleManifestException] {
      Layout.mergeKeyed(spark, stage, "doc_id",
        spark.read.parquet(s"$sf001/documents.parquet").limit(1)) }
    // …and a fresh snapshot restores service.
    graft.ops.Manifest.create(spark, stage, "doc_id")
    assert(Layout.deleteRange(spark, stage, "doc_id", -10L, -1L).rowsDeleted == 0L)
  }

  test("mergeKeyed: updates replace in place, inserts append, targeting holds") {
    val stage = tmpDir("layout_merge") + "/documents"
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    docs.repartitionByRange(8, col("doc_id")).write.parquet(stage)
    graft.ops.Manifest.create(spark, stage, "doc_id")
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val (lo, hi) = (maxId / 8, maxId / 4)
    // localized updates + out-of-range inserts in one delta
    val updates = docs.filter(col("doc_id").between(lo, hi))
      .withColumn("text", concat(lit("v2:"), col("text")))
    val inserts = docs.filter(col("doc_id") < 10)
      .withColumn("doc_id", col("doc_id") + maxId + 1)
    val res = Layout.mergeKeyed(spark, stage, "doc_id", updates.unionByName(inserts))
    assert(res.rowsUpdated == updates.count() && res.rowsInserted == 10, res.toString)
    assert(res.filesRewritten > 0 && res.filesRewritten < res.filesTotal, res.toString)
    val expect = docs.filter(!col("doc_id").between(lo, hi))
      .unionByName(updates).unionByName(inserts)
    assert(fp(stage) == Hashing.multisetFingerprintAgg(expect, docCols).head().getString(0))
    // Pure inserts rewrite nothing (all keys beyond every file's max).
    val more = docs.filter(col("doc_id") < 5)
      .withColumn("doc_id", col("doc_id") + 10 * maxId)
    val res2 = Layout.mergeKeyed(spark, stage, "doc_id", more)
    assert(res2 == Layout.MergeResult(0, res2.filesTotal, 0L, 5L), res2.toString)
    assert(spark.read.parquet(stage).count() == docs.count() + 15)
    // A double-keyed delta is rejected before anything is touched.
    intercept[IllegalArgumentException] {
      Layout.mergeKeyed(spark, stage, "doc_id", more.unionByName(more)) }
  }

  // Hive-partitioned COW fixture: partition key ranges DISJOINT by
  // construction (lang=l<b> owns doc_id [b*1000, b*1000+499]), so a
  // narrow delete provably touches exactly one partition.
  private def stagePartitionedDisjoint(tag: String): String = {
    val stage = tmpDir(tag) + "/docs"
    spark.range(0L, 2000L).selectExpr(
      "concat('l', CAST(id DIV 500 AS INT)) AS lang",
      "(id DIV 500) * 1000 + (id % 500) AS doc_id",
      "concat('payload_', id) AS payload")
      .repartitionByRange(8, col("doc_id"))
      .write.partitionBy("lang").parquet(stage)
    stage
  }

  private def fpPart(df: org.apache.spark.sql.DataFrame): String =
    Hashing.multisetFingerprintAgg(df, Seq("doc_id", "lang", "payload"))
      .head().getString(0)

  test("deleteRange on a hive-partitioned table: exact, per-partition, untouched partitions untouched") {
    val stage = stagePartitionedDisjoint("layout_part_del")
    val fs = new Path(stage).getFileSystem(spark.sessionState.newHadoopConf())
    val preId = graft.ops.Manifest.create(spark, stage, "doc_id")
    // Materialize expectations BEFORE the mutation: a lazy frame planned
    // over the pre-delete listing would re-execute over moved files.
    val preFp = fpPart(spark.read.parquet(stage))
    val expectedFp = fpPart(spark.read.parquet(stage)
      .filter(!col("doc_id").between(1000L, 1099L)))
    // Untouched-partition evidence: exact (path, mtime) of every data file
    // outside lang=l1 must survive the commit bit-for-bit (no renames).
    def fileStamps(): Map[String, Long] = {
      val out = Map.newBuilder[String, Long]
      val it = fs.listFiles(new Path(stage), true)
      while (it.hasNext) {
        val f = it.next()
        val p = f.getPath.toUri.getPath
        if (f.getPath.getName.startsWith("part-") && !p.contains("_graft") &&
            !p.contains("lang=l1"))
          out += p -> f.getModificationTime
      }
      out.result()
    }
    val before = fileStamps()
    val r = Layout.deleteRange(spark, stage, "doc_id", 1000L, 1099L)
    assert(r.rowsDeleted == 100L && r.filesRewritten >= 1)
    assert(fileStamps() == before, "untouched partitions must not be touched")
    // Exact content, partition column intact.
    val after = spark.read.parquet(stage)
    assert(fpPart(after) == expectedFp)
    assert(after.filter(col("lang").isNull).count() == 0L)
    // Manifest recommitted + complete; history retained at k=v paths.
    assert(graft.ops.Manifest.isComplete(spark, stage))
    val asOf = graft.ops.Manifest.readAsOf(spark, stage, preId)
    assert(fpPart(asOf) == preFp)
    assert(fs.listStatus(new Path(s"$stage/_graft_trash")).forall(s =>
      s.isDirectory && s.getPath.getName.startsWith("lang=")),
      "trash must preserve the k=v structure")
    // Vacuum honors relative-path reachability: nothing reclaimable while
    // the pre-delete snapshot is retained; everything after expiry.
    assert(graft.ops.Manifest.vacuum(spark, stage) == 0)
    graft.ops.Manifest.expireSnapshots(spark, stage, keep = 1)
    assert(graft.ops.Manifest.vacuum(spark, stage) == r.filesRewritten)
  }

  test("mergeKeyed on a hive-partitioned table: updates in place, inserts route to (new) partitions") {
    val stage = stagePartitionedDisjoint("layout_part_merge")
    graft.ops.Manifest.create(spark, stage, "doc_id")
    val origCount = spark.read.parquet(stage).count()
    import spark.implicits._
    // One update (key 2005 lives in lang=l2) + one insert into a BRAND-NEW
    // partition value — the commit must create lang=l9 from the staged dir.
    val delta = Seq(
      (2005L, "updated", "l2"),
      (9999L, "fresh", "l9")
    ).toDF("doc_id", "payload", "lang")
    val m = Layout.mergeKeyed(spark, stage, "doc_id", delta)
    assert(m.rowsUpdated == 1L && m.rowsInserted == 1L)
    val after = spark.read.parquet(stage)
    assert(after.count() == origCount + 1)
    assert(after.filter(col("doc_id") === 2005L).select("payload")
      .head().getString(0) == "updated")
    assert(after.filter(col("lang") === "l9").count() == 1L)
    assert(graft.ops.Manifest.isComplete(spark, stage))
    // Pure insert (no file's range contains the key): partitioned append.
    val m2 = Layout.mergeKeyed(spark, stage, "doc_id",
      Seq((77777L, "pure", "l0")).toDF("doc_id", "payload", "lang"))
    assert(m2.filesRewritten == 0 && m2.rowsInserted == 1L)
    assert(spark.read.parquet(stage).filter(col("doc_id") === 77777L)
      .select("lang").head().getString(0) == "l0")
    assert(graft.ops.Manifest.isComplete(spark, stage))
  }

  test("partitioned COW crash heal: journal forward-completes, junk stage discarded") {
    // Window A — stray stage, NO journal: nothing irreversible happened,
    // the junk is discarded and the table is untouched.
    val a = stagePartitionedDisjoint("layout_part_heal_a")
    graft.ops.Manifest.create(spark, a, "doc_id")
    val fsA = new Path(a).getFileSystem(spark.sessionState.newHadoopConf())
    val preFp = fpPart(spark.read.parquet(a))
    fsA.mkdirs(new Path(a + "__delnewp/lang=l1"))
    val o = fsA.create(new Path(a + "__delnewp/lang=l1/part-junk.parquet"), true)
    o.write("x".getBytes); o.close()
    Layout.recoverDelete(spark, a)
    assert(!fsA.exists(new Path(a + "__delnewp")))
    assert(fpPart(spark.read.parquet(a)) == preFp)
    // Window B — journal committed (point of no return), crash before the
    // moves: the heal forward-completes the delete of one whole file and
    // recommits a fresh snapshot.
    val doomedRel = {
      val dir = fsA.listStatus(new Path(s"$a/lang=l1")).filter(_.isFile)
        .filter(_.getPath.getName.startsWith("part-")).head
      s"lang=l1/${dir.getPath.getName}"
    }
    val doomedRows = spark.read.option("basePath", a)
      .parquet(s"$a/$doomedRel").count()
    val j = fsA.create(new Path(a + "__deletingp"), true)
    j.write(s"D $doomedRel".getBytes("UTF-8")); j.close()
    Layout.recoverDelete(spark, a)
    assert(!fsA.exists(new Path(a + "__deletingp")))
    assert(fsA.exists(new Path(s"$a/_graft_trash/$doomedRel")),
      "heal must retain the doomed file at its relative path")
    assert(spark.read.parquet(a).count() == 2000L - doomedRows)
    assert(graft.ops.Manifest.isComplete(spark, a))
  }

  test("heal's trash carry merges k=v subdirectories (partitioned history survives a flat-COW heal)") {
    // Live table already holding partitioned retained history, plus a
    // set-aside dir (a crashed flat COW) with MORE partitioned history:
    // the heal's merge branch must carry the k=v files by RELATIVE path —
    // a top-level-files-only merge would silently drop them before the
    // old dir is deleted.
    val a = stageDocs("layout_trash_merge", 4)
    graft.ops.Manifest.create(spark, a, "doc_id")
    val fs = new Path(a).getFileSystem(spark.sessionState.newHadoopConf())
    def plant(dir: String, rel: String): Unit = {
      val p = new Path(s"$dir/$rel")
      fs.mkdirs(p.getParent)
      val o = fs.create(p, true); o.write("x".getBytes); o.close()
    }
    plant(a, "_graft_trash/lang=l2/part-live.parquet")
    fs.mkdirs(new Path(a + "__delold"))
    plant(a + "__delold", "_graft_trash/lang=l1/part-old.parquet")
    val j = fs.create(new Path(a + "__deleting"), true)
    j.write("part-none.parquet".getBytes); j.close()
    Layout.recoverDelete(spark, a)
    assert(fs.exists(new Path(s"$a/_graft_trash/lang=l1/part-old.parquet")),
      "k=v trash must survive the merge carry")
    assert(fs.exists(new Path(s"$a/_graft_trash/lang=l2/part-live.parquet")))
    assert(!fs.exists(new Path(a + "__delold")) && !fs.exists(new Path(a + "__deleting")))
  }

  test("deleting every row leaves a consistent empty snapshot; history reports 0/0") {
    val stage = stageDocs("layout_del_all", 4)
    graft.ops.Manifest.create(spark, stage, "doc_id")
    val total = spark.read.parquet(stage).count()
    val r = Layout.deleteRange(spark, stage, "doc_id", Long.MinValue, Long.MaxValue)
    assert(r.rowsDeleted == total && r.filesRewritten == r.filesTotal)
    val h = graft.ops.Manifest.history(spark, stage)
      .orderBy("snapshot").collect()
    assert(h.length == 2)
    assert(h.last.getLong(1) == 0L && h.last.getLong(2) == 0L,
      s"emptied snapshot must report 0 files / 0 rows, got ${h.last}")
    // The pre-delete snapshot still reads exactly, through the trash.
    assert(graft.ops.Manifest.readAsOf(spark, stage, h.head.getInt(0))
      .count() == total)
  }

  test("recoverDelete: both crash windows restore or complete, bit for bit") {
    val fsFor = (p: String) =>
      new Path(p).getFileSystem(spark.sessionState.newHadoopConf())
    // Window A — journal committed, swap never started (crash between
    // steps 2 and 3): heal must discard the stage + journal, table intact.
    val a = tmpDir("layout_heal_a") + "/documents"
    spark.read.parquet(s"$sf001/documents.parquet")
      .repartition(4).write.parquet(a)
    graft.ops.Manifest.create(spark, a, "doc_id")
    val fpA = fp(a)
    val fsA = fsFor(a)
    fsA.mkdirs(new Path(a + "__delnew"))
    val o1 = fsA.create(new Path(a + "__delnew/part-staged1.parquet"), true)
    o1.write("x".getBytes); o1.close()
    val j1 = fsA.create(new Path(a + "__deleting"), true)
    j1.write("part-staged1.parquet".getBytes); j1.close()
    Layout.recoverDelete(spark, a)
    assert(fp(a) == fpA)
    assert(!fsA.exists(new Path(a + "__delnew")) && !fsA.exists(new Path(a + "__deleting")))
    // Window B — crash inside the swap (table missing, some untouched files
    // already carried into the stage): heal must return the carried
    // originals, drop the staged survivors, and restore the exact table.
    val b = tmpDir("layout_heal_b") + "/documents"
    spark.read.parquet(s"$sf001/documents.parquet")
      .repartition(4).write.parquet(b)
    val fpB = fp(b)
    val fsB = fsFor(b)
    fsB.mkdirs(new Path(b + "__delnew"))
    val o2 = fsB.create(new Path(b + "__delnew/part-staged2.parquet"), true)
    o2.write("y".getBytes); o2.close()
    val j2 = fsB.create(new Path(b + "__deleting"), true)
    j2.write("part-staged2.parquet".getBytes); j2.close()
    assert(fsB.rename(new Path(b), new Path(b + "__delold")))
    // carry two untouched originals into the stage, as step 4 would
    val carried = fsB.listStatus(new Path(b + "__delold"))
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-")).take(2)
    carried.foreach { st =>
      assert(fsB.rename(st.getPath, new Path(b + "__delnew", st.getPath.getName)))
    }
    Layout.recoverDelete(spark, b)
    assert(fp(b) == fpB, "heal must restore the exact pre-delete table")
    assert(!fsB.exists(new Path(b + "__delold")) && !fsB.exists(new Path(b + "__deleting")))
  }

  test("recoverSwap forward-completes a crash mid-retention: replaced originals salvaged, history stays readable") {
    // Simulate the exact window FsMaint.swapIn leaves when a rewrite crashes
    // AFTER the second rename but BEFORE the carry/retention: the live store
    // holds the rewritten data only; __old still holds the originals AND the
    // carried-over metadata (_graft_manifest). recoverSwap must carry the
    // manifest, salvage the replaced part- files into the trash, and leave
    // the pre-rewrite snapshot time-travel-readable — not silently discard
    // the files its snapshot still references.
    val stage = stageDocs("layout_salvage", 4)
    val preId = graft.ops.Manifest.create(spark, stage, "doc_id")
    val preFp = fp(stage)
    val fs = new Path(stage).getFileSystem(spark.sessionState.newHadoopConf())
    // Stage the rewrite, then reproduce swapIn's two renames by hand and
    // "crash" before the carry loop.
    val tmp = stage + "__rewrite_sim"
    spark.read.parquet(stage).repartition(1).write.parquet(tmp)
    assert(fs.rename(new Path(stage), new Path(stage + "__old")))
    assert(fs.rename(new Path(tmp), new Path(stage)))
    FsMaint.recoverSwap(fs, stage)
    assert(!fs.exists(new Path(stage + "__old")))
    // Manifest carried; pre-rewrite snapshot resolves through the salvaged trash.
    assert(fs.exists(new Path(stage, "_graft_manifest")))
    val asOf = graft.ops.Manifest.readAsOf(spark, stage, preId)
    assert(Hashing.multisetFingerprintAgg(asOf, docCols).head().getString(0) == preFp,
      "salvaged history must read back exactly")
    // Live store content is the rewrite, still the same multiset.
    assert(fp(stage) == preFp)
  }

  test("mergeKeyed pure insert into an EMPTIED partitioned table (snapshot has zero file rows)") {
    val stage = stagePartitionedDisjoint("layout_part_empty_insert")
    graft.ops.Manifest.create(spark, stage, "doc_id")
    // COW-delete EVERY row: the latest snapshot then holds no file rows,
    // but the table stays hive-partitioned (k=v dirs / trash layout remain).
    val r = Layout.deleteRange(spark, stage, "doc_id", 0L, 10000000L)
    assert(r.rowsDeleted == 2000L)
    // (Direct parquet reads cannot infer a schema from a zero-file table;
    // the manifest read path carries the recorded schema.)
    val emptied = graft.ops.Manifest.readAsOf(spark, stage,
      graft.ops.Manifest.latestSnapshotId(spark, stage).get)
    assert(emptied.count() == 0L)
    import spark.implicits._
    val m = Layout.mergeKeyed(spark, stage, "doc_id",
      Seq((42L, "reborn", "l0")).toDF("doc_id", "payload", "lang"))
    assert(m.rowsInserted == 1L && m.filesRewritten == 0)
    val after = spark.read.parquet(stage)
    assert(after.count() == 1L)
    assert(after.select("lang").head().getString(0) == "l0",
      "partition column must be recovered from the directory layout")
    assert(graft.ops.Manifest.isComplete(spark, stage))
  }
}
