package graft

import graft.functions.Hashing
import graft.ops.{Layout, Manifest}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Manifest snapshots: pruned scans are exact (boundaries inclusive), files
  * genuinely skip, the `_`-prefixed manifest dir is invisible to direct
  * reads, snapshot commits are rename-atomic with orphan-tmp hygiene.
  */
class ManifestSpec extends SparkSpec {

  private val docCols = Seq("doc_id", "text", "lang", "source", "n_chars")

  private def fp(df: org.apache.spark.sql.DataFrame): String =
    Hashing.multisetFingerprintAgg(df, docCols).head().getString(0)

  private def stageClustered(tag: String, nFiles: Int): String = {
    val stage = tmpDir(tag) + "/documents"
    spark.read.parquet(s"$sf001/documents.parquet")
      .repartition(16).write.parquet(stage)
    Layout.clusterByRange(spark, stage, "doc_id", nFiles)
    stage
  }

  test("pruned range scan is exact (inclusive bounds) and actually skips files") {
    val stage = stageClustered("manifest_scan", 8)
    Manifest.create(spark, stage, "doc_id")
    // Bounds chosen on a file boundary: spans at 8 files over 500 docs put
    // ~62 docs per file; [100, 199] crosses 2 files.
    val (rows, nRead, nTotal) = Manifest.scanRange(spark, stage, "doc_id", 100L, 199L)
    assert(nTotal == 8 && nRead < nTotal, s"read $nRead of $nTotal")
    val direct = spark.read.parquet(stage).filter(col("doc_id").between(100, 199))
    assert(fp(rows) == fp(direct))
    assert(rows.count() == 100L)
    // Inclusive boundary rows are present.
    val ids = rows.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(100L) && ids(199L))
  }

  test("box scan over a z-ordered layout: exact, and 2-D stats prune harder than 1-D") {
    val stage = tmpDir("manifest_box") + "/documents"
    spark.read.parquet(s"$sf001/documents.parquet")
      .repartition(16).write.parquet(stage)
    Layout.clusterByZOrder(spark, stage, "doc_id", "n_chars", nFiles = 16)
    Manifest.create(spark, stage, "doc_id", "n_chars")
    val preds = Seq(("doc_id", 100L, 299L), ("n_chars", 200L, 400L))
    val (rows, nRead, nTotal) = Manifest.scanBox(spark, stage, preds)
    val direct = spark.read.parquet(stage)
      .filter(col("doc_id").between(100, 299) && col("n_chars").between(200, 400))
    assert(fp(rows) == fp(direct))
    assert(nRead < nTotal, s"box scan should skip files: $nRead of $nTotal")
    // The second dimension genuinely contributes: pruning on doc_id alone
    // must keep at least as many files as the conjunction.
    val (_, nRead1d, _) = Manifest.scanBox(spark, stage, preds.take(1))
    assert(nRead <= nRead1d, s"2-D pruning ($nRead) worse than 1-D ($nRead1d)")
    info(s"files read: box $nRead, 1-D $nRead1d, total $nTotal")
    // Pruning on an un-profiled column fails fast, never silently full-scans.
    intercept[IllegalArgumentException] {
      Manifest.scanBox(spark, stage, Seq(("lang", 0L, 1L)))
    }
  }

  test("empty overlap returns an empty (but well-formed) result") {
    val stage = stageClustered("manifest_empty", 4)
    Manifest.create(spark, stage, "doc_id")
    val (rows, nRead, _) = Manifest.scanRange(spark, stage, "doc_id", 1000000L, 2000000L)
    assert(nRead == 0)
    assert(rows.count() == 0L)
    assert(rows.columns.contains("doc_id"))
  }

  test("manifest dir is invisible to direct parquet reads; snapshots increment") {
    val stage = stageClustered("manifest_invis", 4)
    val before = spark.read.parquet(stage).count()
    assert(Manifest.create(spark, stage, "doc_id") == 1)
    assert(Manifest.create(spark, stage, "doc_id") == 2)
    assert(spark.read.parquet(stage).count() == before,
      "manifest files must never pollute the data scan")
  }

  test("addedSince reads exactly the appended batch; empty when nothing arrived") {
    val stage = tmpDir("manifest_inc") + "/documents"
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    docs.filter(col("doc_id") % 3 =!= 0).repartition(4).write.parquet(stage)
    val id1 = Manifest.create(spark, stage, "doc_id")
    // Nothing appended yet: the increment over id1 is empty.
    Manifest.create(spark, stage, "doc_id")
    val (none, n0) = Manifest.addedSince(spark, stage, id1)
    assert(n0 == 0 && none.count() == 0L)
    // Batch 2 lands; the increment is exactly batch 2.
    docs.filter(col("doc_id") % 3 === 0).repartition(2).write.mode("append").parquet(stage)
    Manifest.create(spark, stage, "doc_id")
    val (rows, nAdded) = Manifest.addedSince(spark, stage, id1)
    assert(nAdded == 2)
    assert(fp(rows) == fp(docs.filter(col("doc_id") % 3 === 0)))
    // The full table is still intact for direct readers.
    assert(spark.read.parquet(stage).count() == docs.count())
  }

  test("readAsOf: past snapshot reads exactly its batch; failures are typed") {
    val stage = tmpDir("manifest_asof") + "/documents"
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val b1 = docs.filter(col("doc_id") % 3 =!= 0)
    b1.repartition(4).write.parquet(stage)
    val id1 = Manifest.create(spark, stage, "doc_id")
    docs.filter(col("doc_id") % 3 === 0).repartition(2).write.mode("append").parquet(stage)
    val id2 = Manifest.createIncremental(spark, stage, "doc_id")._1
    // Time travel: snapshot 1 sees ONLY batch 1; snapshot 2 sees everything;
    // the current table is untouched (a view into history, not a rollback).
    assert(fp(Manifest.readAsOf(spark, stage, id1)) == fp(b1))
    assert(fp(Manifest.readAsOf(spark, stage, id2)) == fp(docs))
    assert(spark.read.parquet(stage).count() == docs.count())
    // Pruning composes with time travel: the PAST snapshot's stats skip
    // files within the PAST file set — batch-2 rows are invisible even
    // though their doc_ids land squarely in the box.
    val (asOfScan, nRead, nTotal) = Manifest.scanBoxAsOf(spark, stage,
      Seq(("doc_id", 0L, 50L)), id1)
    assert(asOfScan.count() == b1.filter(col("doc_id") <= 50).count())
    assert(nRead <= nTotal && nTotal == 4)
    // Expired snapshot: typed require, names retention.
    Manifest.expireSnapshots(spark, stage, keep = 1)
    val ex = intercept[IllegalArgumentException] { Manifest.readAsOf(spark, stage, id1) }
    assert(ex.getMessage.contains("expired") || ex.getMessage.contains("retention"))
    // A rewrite renames every data file but RETAINS the originals: as-of
    // over the pre-rewrite snapshot reads exactly, through the trash —
    // and so does the rewrite's own recommitted snapshot.
    val idPre = Manifest.create(spark, stage, "doc_id")
    graft.ops.Layout.compactTable(spark, stage, targetBytes = 64L << 20)
    assert(fp(Manifest.readAsOf(spark, stage, idPre)) == fp(docs))
    assert(fp(Manifest.readAsOf(spark, stage, idPre + 1)) == fp(docs))
    // External interference (a manual trash delete out from under a
    // retained snapshot) still fails TYPED, never silently half-reads.
    val fsx = new Path(stage).getFileSystem(spark.sessionState.newHadoopConf())
    val trashed = fsx.listStatus(new Path(s"$stage/_graft_trash"))
      .filter(_.isFile).head.getPath
    fsx.delete(trashed, false)
    intercept[Manifest.StaleManifestException] { Manifest.readAsOf(spark, stage, idPre) }
  }

  test("expireSnapshots keeps the newest N; an expired checkpoint fails fast") {
    val stage = stageClustered("manifest_expire", 4)
    val id1 = Manifest.create(spark, stage, "doc_id")
    Manifest.create(spark, stage, "doc_id")
    val id3 = Manifest.create(spark, stage, "doc_id")
    assert(Manifest.expireSnapshots(spark, stage, keep = 1) == 2)
    // The latest snapshot still serves scans…
    val (rows, nRead, nTotal) = Manifest.scanRange(spark, stage, "doc_id", 0L, 10L)
    assert(nRead == 1 && nTotal == 4 && rows.count() == 11L)
    assert(Manifest.addedSince(spark, stage, id3)._2 == 0)
    // …but an expired checkpoint id fails loudly, never under-reports.
    intercept[Exception] { Manifest.addedSince(spark, stage, id1) }
  }

  test("non-orderable key types are rejected at create, never silently mis-pruned") {
    // A double/decimal key would cast to NULL stats, and the NULL overlap
    // predicate would silently prune EVERY file — the guard turns that
    // into a typed rejection at snapshot time. (STRING keys are supported
    // since round 18: they carry binary-UTF-8 min/max — see the
    // string-stats test below.)
    val stage = tmpDir("manifest_types") + "/docs"
    spark.read.parquet(s"$sf001/documents.parquet")
      .selectExpr("doc_id", "lang", "CAST(n_chars AS DOUBLE) AS score")
      .repartition(4).write.parquet(stage)
    val ex = intercept[IllegalArgumentException] { Manifest.create(spark, stage, "score") }
    assert(ex.getMessage.contains("score"))
    // One good + one bad column: still rejected, and NO partial snapshot
    // was committed (the guard runs before any write).
    intercept[IllegalArgumentException] { Manifest.create(spark, stage, "doc_id", "score") }
    intercept[IllegalStateException] { Manifest.files(spark, stage) }
  }

  test("string stats: binary min/max prune scanRangeString; long-domain surfaces refuse typed") {
    val stage = tmpDir("manifest_strstats") + "/docs"
    // Cluster by lang so per-file string spans separate (range-partition
    // by the column → each file holds few distinct langs, and no empty
    // part files — a plain repartition(8) over 5 langs writes empties the
    // incremental refresh would count as new files).
    spark.read.parquet(s"$sf001/documents.parquet")
      .repartitionByRange(4, col("lang")).write.parquet(stage)
    Manifest.create(spark, stage, "doc_id", "lang")
    val f = Manifest.files(spark, stage)
    assert(f.schema("min_lang").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(f.filter(col("min_lang").isNull).count() == 0L)
    // The string range prunes files and stays value-exact.
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val (rows, nRead, nTotal) =
      Manifest.scanRangeString(spark, stage, "lang", "de", "en")
    assert(nRead < nTotal, s"string stats must prune: $nRead/$nTotal")
    assert(rows.count() ==
      docs.filter(col("lang") >= "de" && col("lang") <= "en").count())
    // Long-domain surfaces refuse typed instead of comparing strings to longs.
    val e = intercept[IllegalArgumentException] {
      Manifest.scanRange(spark, stage, "lang", 0L, 1L)
    }
    assert(e.getMessage.contains("STRING stats"), e.getMessage)
    intercept[IllegalArgumentException] {
      Manifest.minMax(spark, stage, "lang")
    }
    intercept[IllegalArgumentException] {
      Layout.deleteRange(spark, stage, "lang", 0L, 1L)
    }
    // The incremental refresh CARRIES string stats (superset-key contract).
    spark.range(1L, 2L).selectExpr("9900100L AS doc_id", "'probe' AS text",
      "'zz' AS lang", "'p' AS source", "CAST(5 AS BIGINT) AS n_chars")
      .coalesce(1).write.mode("append").parquet(stage)
    val (_, scanned, _) = Manifest.createIncremental(spark, stage, "doc_id")
    assert(scanned == 1)
    assert(Manifest.files(spark, stage)
      .filter(col("min_lang") === "zz").count() == 1L)
    // And scanRangeString refuses on a LONG-stat column, symmetrically.
    intercept[IllegalArgumentException] {
      Manifest.scanRangeString(spark, stage, "doc_id", "a", "b")
    }
  }

  test("timestamp and date keys carry stats in their normalized units (micros / days)") {
    val stage = tmpDir("manifest_ts") + "/events"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.queries.Registry.normalizeEventsTs(
        spark.read.parquet(s"$sf001/events.parquet"))
      .withColumn("day", to_date(col("ts")))
      .repartition(4).write.parquet(stage)
    Layout.clusterByRange(spark, stage, "ts", nFiles = 4)
    Manifest.create(spark, stage, "ts", "day")
    val df = spark.read.parquet(stage)
    val b = df.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    val (lo, hi) = (b.getLong(0), b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 4)
    val (rows, nRead, nTotal) = Manifest.scanRange(spark, stage, "ts", lo, hi)
    val expect = df.filter(unix_micros(col("ts")).between(lo, hi)).count()
    assert(rows.count() == expect && expect > 0)
    assert(nRead < nTotal, s"clustered timestamp scan should skip files: $nRead of $nTotal")
    // Date key: one covered epoch-day returns exactly that day's rows.
    val day = df.agg(min(datediff(col("day"), lit("1970-01-01")))).head().getInt(0).toLong
    val (drows, _, _) = Manifest.scanRange(spark, stage, "day", day, day)
    assert(drows.count() ==
      df.filter(datediff(col("day"), lit("1970-01-01")) === day).count())
  }

  test("glob metacharacters in a data file's path are read literally") {
    val stage = stageClustered("manifest_glob", 2)
    // Rename one data file to a glob-pattern name ('[ab]*' would otherwise
    // be INTERPRETED by the path reader and match nothing — a silent
    // missing-data scan).
    val fs = new Path(stage).getFileSystem(spark.sessionState.newHadoopConf())
    val victim = fs.listStatus(new Path(stage))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    val weird = new Path(victim.getParent, "part-[ab]{0,1}*.parquet")
    assert(fs.rename(victim, weird))
    Manifest.create(spark, stage, "doc_id")
    val (rows, nRead, _) = Manifest.scanRange(spark, stage, "doc_id", 0L, 10000L)
    assert(nRead == 2)
    assert(rows.count() == spark.read.parquet(stage).count())
  }

  test("files deleted after the snapshot raise the typed stale-manifest error") {
    val stage = stageClustered("manifest_stale", 4)
    Manifest.create(spark, stage, "doc_id")
    // Simulate an external rewrite (one not done through Layout): a
    // referenced data file disappears.
    val fs = new Path(stage).getFileSystem(spark.sessionState.newHadoopConf())
    val victim = fs.listStatus(new Path(stage))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    assert(fs.delete(victim, false))
    val ex = intercept[Manifest.StaleManifestException] {
      Manifest.scanRange(spark, stage, "doc_id", 0L, 10000L)
    }
    assert(ex.getMessage.contains("re-run Manifest.create"))
  }

  test("Layout rewrites recommit a fresh snapshot — scans stay correct across them") {
    val stage = stageClustered("manifest_couple", 8)
    val id1 = Manifest.create(spark, stage, "doc_id")
    // compactTable renames EVERY data file; without the coupling the latest
    // snapshot would reference ghosts. The rewrite itself commits id1+1.
    Layout.compactTable(spark, stage, targetBytes = 64L << 20)
    val (rows, nRead, nTotal) = Manifest.scanRange(spark, stage, "doc_id", 100L, 199L)
    assert(nTotal == 1 && nRead == 1)
    assert(rows.count() == 100L)
    // A clustering rewrite refreshes too, and the refreshed stats PRUNE.
    Layout.clusterByRange(spark, stage, "doc_id", nFiles = 8)
    val (rows2, nRead2, nTotal2) = Manifest.scanRange(spark, stage, "doc_id", 100L, 199L)
    assert(nTotal2 == 8 && nRead2 < nTotal2, s"read $nRead2 of $nTotal2")
    assert(fp(rows2) == fp(spark.read.parquet(stage)
      .filter(col("doc_id").between(100, 199))))
    // The refresh recovered the key columns from the old snapshot itself.
    assert(Manifest.files(spark, stage).columns.toSet ==
      Set("file", "min_doc_id", "max_doc_id", "cnt_doc_id", "n_rows", "n_bytes"))
    assert(graft.ops.Manifest.addedSince(spark, stage, id1)._2 == 8,
      "every file is new after a rewrite")
  }

  test("countRange: metadata count for contained files, scan only boundaries, NULLs excluded") {
    import org.apache.spark.sql.SaveMode
    val stage = tmpDir("manifest_cnt") + "/t"
    // 4 files with known disjoint key ranges + a NULL-key row in a fully-
    // contained file (NULL keys are outside EVERY range; a naive n_rows
    // metadata count would include them).
    val df = spark.range(400).selectExpr(
      "CASE WHEN id = 150 THEN NULL ELSE id END AS k", "id AS payload")
    df.write.parquet(stage)
    Layout.clusterByRange(spark, stage, "payload", nFiles = 4) // payload sort ⇒ k nearly sorted
    Manifest.create(spark, stage, "k")
    // [50, 250]: file [100..199] (holding the NULL row) is fully inside;
    // files [0..99] and [200..299] are boundaries.
    val (cnt, boundary, total) = Manifest.countRange(spark, stage, "k", 50L, 250L)
    assert(total == 4)
    assert(boundary == 2, s"expected 2 boundary files, scanned $boundary")
    val expect = spark.read.parquet(stage)
      .filter(col("k").between(50, 250)).count()
    assert(cnt == expect, s"metadata+boundary count $cnt != exact $expect")
    // The NULL row really was excluded (200 ids in [50,250], minus the
    // nulled 150).
    assert(cnt == 200L)
    // Empty range: zero, zero boundary scans.
    assert(Manifest.countRange(spark, stage, "k", 5000L, 6000L) == ((0L, 0, 4)))
    // Whole-domain range: every file is contained — pure metadata answer.
    val (allCnt, allBoundary, _) = Manifest.countRange(spark, stage, "k", 0L, 399L)
    assert(allCnt == 399L && allBoundary == 0, s"$allCnt/$allBoundary")
    // Stale file under the metadata path: vanished files must fail loud
    // even though a fresh count would never open them.
    val fs = new Path(stage).getFileSystem(spark.sessionState.newHadoopConf())
    val victim = fs.listStatus(new Path(stage))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    assert(fs.delete(victim, false))
    intercept[Manifest.StaleManifestException] {
      Manifest.countRange(spark, stage, "k", 0L, 399L)
    }
  }

  test("countBox: metadata for contained no-null files; nullable contained files are scanned") {
    val stage = tmpDir("manifest_cntbox") + "/t"
    // 2-D grid; one row nulls key `b` inside what will be a fully-contained
    // region — per-column counts cannot give the JOINT non-null count, so
    // that file must be scanned, not metadata-counted.
    spark.range(400).selectExpr("id % 20 AS a",
      "CASE WHEN id = 210 THEN NULL ELSE id div 20 END AS b", "id AS payload")
      .write.parquet(stage)
    Layout.clusterByZOrder(spark, stage, "a", "b", nFiles = 8)
    Manifest.create(spark, stage, "a", "b")
    // Box aligned to the first Morton quadrant (a,b ≤ 9 ⇒ normalized top
    // bit 0): the z-curve fills it CONTIGUOUSLY, so whole files fall
    // inside and the metadata path genuinely engages.
    val preds = Seq(("a", 0L, 9L), ("b", 0L, 9L))
    val (cnt, scanned, total) = Manifest.countBox(spark, stage, preds)
    val expect = spark.read.parquet(stage)
      .filter(col("a").between(0, 9) && col("b").between(0, 9)).count()
    assert(cnt == expect, s"box count $cnt != exact $expect")
    assert(total == 8 && scanned < total,
      s"expected a metadata fast path: scanned $scanned of $total")
    // Whole domain: every file contained, but the null-carrying file must
    // still be scanned (its joint non-null count is unknowable from
    // per-column stats).
    val (allCnt, allScanned, _) =
      Manifest.countBox(spark, stage, Seq(("a", 0L, 19L), ("b", 0L, 19L)))
    assert(allCnt == 399L, s"null-key row must not be counted: $allCnt")
    assert(allScanned >= 1, "the nullable file must be scanned, not guessed")
  }

  test("hive-partitioned tables keep their partition columns through pruned scans") {
    val stage = tmpDir("manifest_hive") + "/documents"
    spark.read.parquet(s"$sf001/documents.parquet")
      .repartition(8).write.parquet(stage)
    Layout.partitionByColumn(spark, stage, "lang")
    Manifest.create(spark, stage, "doc_id")
    val (rows, nRead, nTotal) = Manifest.scanRange(spark, stage, "doc_id", 100L, 199L)
    // Partition columns live in the DIRECTORY names — a file-list read
    // without basePath silently drops them (wrong schema, the worst kind).
    assert(rows.columns.contains("lang"), rows.columns.mkString(","))
    assert(nRead <= nTotal && nTotal >= 5)
    assert(fp(rows) == fp(spark.read.parquet(stage)
      .filter(col("doc_id").between(100, 199))))
    // addedSince over a partitioned append keeps them too.
    val extra = spark.read.parquet(s"$sf001/documents.parquet")
      .filter(col("doc_id") < 20)
      .withColumn("doc_id", col("doc_id") + 100000L)
    val id1 = Manifest.create(spark, stage, "doc_id")
    extra.write.mode("append").partitionBy("lang").parquet(stage)
    Manifest.createIncremental(spark, stage, "doc_id")
    val (added, nAdded) = Manifest.addedSince(spark, stage, id1)
    assert(nAdded > 0)
    assert(added.columns.contains("lang"))
    assert(fp(added) == fp(spark.read.parquet(stage).filter(col("doc_id") >= 100000L)))
  }

  test("bloom point lookup: exact rows, prunes where min/max is blind, absent key reads nothing") {
    // UNCLUSTERED layout: hash-repartitioned files each span ~the whole
    // doc_id domain, so min/max prunes nothing — the bloom is the only
    // skipping signal, and each doc_id lives in exactly one file.
    val stage = tmpDir("manifest_bloom") + "/documents"
    spark.read.parquet(s"$sf001/documents.parquet")
      .repartition(8).write.parquet(stage)
    Manifest.createWithBloom(spark, stage, Seq("doc_id"), Seq("doc_id"))

    val one = Manifest.scanKeys(spark, stage, "doc_id", Seq(123L))
    assert(one.filesTotal == 8)
    assert(one.filesRead < one.filesRangeCandidates,
      s"bloom read ${one.filesRead} of ${one.filesRangeCandidates} range candidates")
    assert(fp(one.rows) == fp(spark.read.parquet(stage).filter(col("doc_id") === 123L)))

    // IN-list probe mixing present and absent keys.
    val many = Manifest.scanKeys(spark, stage, "doc_id", Seq(5L, 250L, 10000000L))
    assert(fp(many.rows) ==
      fp(spark.read.parquet(stage).filter(col("doc_id").isin(5L, 250L))))

    // Absent key: every sketch answers "cannot contain" — zero files read,
    // empty but well-formed result.
    val none = Manifest.scanKeys(spark, stage, "doc_id", Seq(10000000L))
    assert(none.filesRead == 0 && none.rows.count() == 0L)
    assert(none.rows.columns.contains("text"))
  }

  test("scanKeys without blooms degrades to min/max pruning, still exact") {
    val stage = stageClustered("manifest_keys_nobloom", 8)
    Manifest.create(spark, stage, "doc_id")
    val ks = Manifest.scanKeys(spark, stage, "doc_id", Seq(123L))
    // Clustered layout: the range stats alone isolate the one owning file.
    assert(ks.filesRead == ks.filesRangeCandidates && ks.filesRead < ks.filesTotal)
    assert(fp(ks.rows) == fp(spark.read.parquet(stage).filter(col("doc_id") === 123L)))
  }

  test("an all-null-key file gets a NULL sketch and is pruned, never breaks the probe") {
    val stage = tmpDir("manifest_bloom_null") + "/t"
    import spark.implicits._
    Seq(1L, 2L, 3L).toDF("id").coalesce(1).write.parquet(stage)
    Seq.fill(3)(Option.empty[java.lang.Long]).toDF("id")
      .coalesce(1).write.mode("append").parquet(stage)
    Manifest.createWithBloom(spark, stage, Seq("id"), Seq("id"))
    val ks = Manifest.scanKeys(spark, stage, "id", Seq(2L))
    assert(ks.filesTotal == 2 && ks.filesRead == 1)
    assert(ks.rows.count() == 1L)
  }

  test("string-key bloom lookup: xxhash sketch is the only signal, exact and pruning") {
    val stage = tmpDir("manifest_bloom_str") + "/documents"
    spark.read.parquet(s"$sf001/documents.parquet")
      .withColumn("uid", md5(col("doc_id").cast("string")))
      .repartition(8).write.parquet(stage)
    // uid is a STRING bloom column next to the integral key column.
    Manifest.createWithBloom(spark, stage, Seq("doc_id"), Seq("uid"))
    val target = spark.read.parquet(stage)
      .filter(col("doc_id") === 123L).select("uid").head().getString(0)
    val ks = Manifest.scanKeysString(spark, stage, "uid", Seq(target))
    assert(ks.filesTotal == 8 && ks.filesRead >= 1 && ks.filesRead < ks.filesTotal)
    assert(ks.rows.count() == 1L && ks.rows.head().getAs[Long]("doc_id") == 123L)
    // Absent key: nothing read; mixed probe still exact.
    val none = Manifest.scanKeysString(spark, stage, "uid", Seq("no-such-uid"))
    assert(none.filesRead == 0 && none.rows.count() == 0L)
    val mixed = Manifest.scanKeysString(spark, stage, "uid", Seq(target, "no-such-uid"))
    assert(mixed.rows.count() == 1L)
    // No sketch for the column → typed refusal, never a silent full scan.
    val e = intercept[IllegalArgumentException] {
      Manifest.scanKeysString(spark, stage, "lang", Seq("en"))
    }
    assert(e.getMessage.contains("no bloom sketch"))
    // A non-key, non-string bloom column is rejected at create.
    val e2 = intercept[IllegalArgumentException] {
      Manifest.createWithBloom(spark, stage, Seq("doc_id"), Seq("n_chars"))
    }
    assert(e2.getMessage.contains("key column or a string column"))
  }

  test("blooms survive a Layout rewrite (profile recreated across the swap)") {
    val stage = tmpDir("manifest_bloom_rw") + "/documents"
    spark.read.parquet(s"$sf001/documents.parquet")
      .repartition(8).write.parquet(stage)
    Manifest.createWithBloom(spark, stage, Seq("doc_id"), Seq("doc_id"))
    val before = Manifest.currentProfile(spark, stage).get
    Layout.compactTable(spark, stage, targetBytes = 32 << 10)
    val after = Manifest.currentProfile(spark, stage).get
    assert(after.bloomCols == Seq("doc_id") && after.bloomBits == before.bloomBits)
    val ks = Manifest.scanKeys(spark, stage, "doc_id", Seq(321L))
    assert(ks.filesRead < ks.filesTotal)
    assert(fp(ks.rows) == fp(spark.read.parquet(stage).filter(col("doc_id") === 321L)))
  }

  test("incremental snapshots bloom NEW files only; appended keys become probeable") {
    val stage = tmpDir("manifest_bloom_inc") + "/documents"
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    docs.filter(col("doc_id") < 400).repartition(4).write.parquet(stage)
    Manifest.createWithBloom(spark, stage, Seq("doc_id"), Seq("doc_id"))
    docs.filter(col("doc_id") >= 400)
      .withColumn("doc_id", col("doc_id") + 100000L)
      .repartition(2).write.mode("append").parquet(stage)
    val (_, scanned, removed) = Manifest.createIncremental(spark, stage, "doc_id")
    assert(scanned == 2 && removed == 0)
    val key = 100450L
    val ks = Manifest.scanKeys(spark, stage, "doc_id", Seq(key))
    assert(ks.filesTotal == 6 && ks.filesRead >= 1 && ks.filesRead < ks.filesTotal)
    assert(ks.rows.count() ==
      spark.read.parquet(stage).filter(col("doc_id") === key).count())
  }

  test("COW delete preserves blooms for rewritten files (commitReplaced path)") {
    val stage = tmpDir("manifest_bloom_cow") + "/documents"
    spark.read.parquet(s"$sf001/documents.parquet")
      .repartitionByRange(4, col("doc_id")).write.parquet(stage)
    Manifest.createWithBloom(spark, stage, Seq("doc_id"), Seq("doc_id"))
    Layout.deleteRange(spark, stage, "doc_id", 100L, 149L)
    assert(Manifest.currentProfile(spark, stage).get.bloomCols == Seq("doc_id"))
    val gone = Manifest.scanKeys(spark, stage, "doc_id", Seq(120L))
    assert(gone.rows.count() == 0L)
    val kept = Manifest.scanKeys(spark, stage, "doc_id", Seq(200L))
    assert(kept.rows.count() == 1L && kept.filesRead < kept.filesTotal)
  }

  test("additive schema evolution: pinned reads, NULL backfill, historical schema in time travel") {
    val stage = tmpDir("manifest_evolve") + "/t"
    import spark.implicits._
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .coalesce(1).write.parquet(stage)
    val snap1 = Manifest.create(spark, stage, "id")
    Seq((10L, "x", 1.5), (11L, "y", 2.5)).toDF("id", "v", "score")
      .coalesce(1).write.mode("append").parquet(stage)
    val (snap2, scanned, _) = Manifest.createIncremental(spark, stage, "id")
    assert(scanned == 1)

    // Current read: evolved schema, old files backfill score with NULL.
    val cur = Manifest.readAsOf(spark, stage, snap2)
    assert(cur.columns.toSeq == Seq("id", "v", "score"))
    assert(cur.filter(col("score").isNull).count() == 3L)
    assert(cur.filter(col("id") === 10L).head().getDouble(2) == 1.5)

    // Pruned scans see the evolved schema too (pinned, not footer-sampled).
    val (rows, _, _) = Manifest.scanRange(spark, stage, "id", 1L, 11L)
    assert(rows.columns.contains("score") && rows.count() == 5L)

    // Time travel reads the HISTORICAL schema: snapshot 1 has no score.
    val old = Manifest.readAsOf(spark, stage, snap1)
    assert(old.columns.toSeq == Seq("id", "v"))
    assert(old.count() == 3L)
  }

  test("layout rewrites and COW deletes carry the EVOLVED schema (no footer-sampling loss)") {
    val stage = tmpDir("manifest_evolve_rw") + "/t"
    import spark.implicits._
    (1L to 40L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartitionByRange(4, col("id")).write.parquet(stage)
    Manifest.create(spark, stage, "id")
    (41L to 60L).map(i => (i, s"v$i", i * 0.5)).toDF("id", "v", "score")
      .coalesce(1).write.mode("append").parquet(stage)
    Manifest.createIncremental(spark, stage, "id")
    // A compaction must not sample a pre-evolution footer and drop `score`.
    Layout.compactTable(spark, stage, targetBytes = 1L << 20)
    val after = spark.read.option("mergeSchema", "true").parquet(stage)
    assert(after.columns.contains("score"))
    assert(after.filter(col("score").isNotNull).count() == 20L)
    // A targeted COW delete rewrites survivors WITH the evolved schema.
    Layout.deleteRange(spark, stage, "id", 45L, 50L)
    val after2 = Manifest.readAsOf(spark, stage,
      Manifest.latestSnapshotId(spark, stage).get)
    assert(after2.filter(col("score").isNotNull).count() == 14L)
    assert(after2.count() == 54L)
  }

  test("a type change is rejected typed at snapshot time; nothing commits") {
    val stage = tmpDir("manifest_evolve_bad") + "/t"
    import spark.implicits._
    Seq((1L, 10L)).toDF("id", "n").coalesce(1).write.parquet(stage)
    Manifest.create(spark, stage, "id")
    Seq((2L, "oops")).toDF("id", "n").coalesce(1).write.mode("append").parquet(stage)
    val before = Manifest.files(spark, stage).count()
    val e = intercept[IllegalStateException] {
      Manifest.createIncremental(spark, stage, "id")
    }
    assert(e.getMessage.contains("changes its type"))
    assert(Manifest.files(spark, stage).count() == before,
      "a rejected evolution must not commit a snapshot")
  }

  test("time travel survives a COW delete: replaced originals are retained in the trash") {
    val stage = tmpDir("manifest_trash_tt") + "/documents"
    spark.read.parquet(s"$sf001/documents.parquet")
      .repartitionByRange(4, col("doc_id")).write.parquet(stage)
    val snap1 = Manifest.create(spark, stage, "doc_id")
    val before = fp(spark.read.parquet(stage))
    Layout.deleteRange(spark, stage, "doc_id", 100L, 199L)
    // Direct read sees the post-delete table (trash is invisible) …
    assert(spark.read.parquet(stage).filter(col("doc_id").between(100, 199)).count() == 0L)
    // … while the pre-delete snapshot still reads bit-for-bit.
    assert(fp(Manifest.readAsOf(spark, stage, snap1)) == before)
    // Historical pruned scans resolve through the trash too.
    val (rows, _, _) = Manifest.scanBoxAsOf(spark, stage,
      Seq(("doc_id", 100L, 199L)), snap1)
    assert(rows.count() == 100L)
  }

  test("changesBetween: net row-level feed across delete + merge, reading only touched files") {
    val stage = tmpDir("manifest_cdf") + "/documents"
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    docs.repartitionByRange(4, col("doc_id")).write.parquet(stage)
    val snap1 = Manifest.create(spark, stage, "doc_id")

    Layout.deleteRange(spark, stage, "doc_id", 100L, 149L)
    val snap2 = Manifest.latestSnapshotId(spark, stage).get
    val d12 = Manifest.changesBetween(spark, stage, snap1, snap2)
    assert(d12.filter(col("change") === "insert").count() == 0L)
    val deleted = d12.filter(col("change") === "delete")
    assert(deleted.count() == 50L)
    assert(deleted.agg(min("doc_id"), max("doc_id")).head() ===
      org.apache.spark.sql.Row(100L, 149L))

    val updates = docs.filter(col("doc_id").between(200, 209))
      .withColumn("text", concat(lit("v2:"), col("text")))
    val inserts = docs.filter(col("doc_id") < 3)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    Layout.mergeKeyed(spark, stage, "doc_id", updates.unionByName(inserts))
    val snap3 = Manifest.latestSnapshotId(spark, stage).get
    val d23 = Manifest.changesBetween(spark, stage, snap2, snap3)
    // updates surface as delete+insert pairs; pure inserts only insert
    assert(d23.filter(col("change") === "delete").count() == 10L)
    assert(d23.filter(col("change") === "insert").count() == 13L)
    assert(d23.filter(col("change") === "insert" &&
      col("text").startsWith("v2:")).count() == 10L)

    // identical endpoints → empty feed; full span = net of both ops
    assert(Manifest.changesBetween(spark, stage, snap1, snap1).count() == 0L)
    val d13 = Manifest.changesBetween(spark, stage, snap1, snap3)
    assert(d13.filter(col("change") === "delete").count() == 60L)
    assert(d13.filter(col("change") === "insert").count() == 13L)
  }

  test("vacuum reclaims unreferenced trash; expired as-of reads fail typed") {
    val stage = tmpDir("manifest_vacuum") + "/documents"
    spark.read.parquet(s"$sf001/documents.parquet")
      .repartitionByRange(4, col("doc_id")).write.parquet(stage)
    val snap1 = Manifest.create(spark, stage, "doc_id")
    Layout.deleteRange(spark, stage, "doc_id", 0L, 99L)
    // While snap1 is retained, vacuum must keep its files.
    assert(Manifest.vacuum(spark, stage) == 0)
    assert(Manifest.readAsOf(spark, stage, snap1).count() ==
      spark.read.parquet(stage).count() + 100L)
    // Expire the window, then reclaim.
    Manifest.expireSnapshots(spark, stage, keep = 1)
    assert(Manifest.vacuum(spark, stage) > 0)
    assert(Manifest.vacuum(spark, stage) == 0) // idempotent
    intercept[IllegalArgumentException] { // expired id: typed at the door
      Manifest.readAsOf(spark, stage, snap1)
    }
    // The live table is untouched by vacuum.
    assert(spark.read.parquet(stage).filter(col("doc_id") < 100).count() == 0L)
  }

  test("minMax: metadata-only bounds; NULL-stats files skipped; all-null is None") {
    val stage = stageClustered("manifest_minmax", 4)
    Manifest.create(spark, stage, "doc_id")
    val direct = spark.read.parquet(stage)
      .agg(min(col("doc_id")), max(col("doc_id"))).head()
    assert(Manifest.minMax(spark, stage, "doc_id")
      .contains((direct.getLong(0), direct.getLong(1))))
    // All-null key table: SQL aggregate semantics, None not a crash.
    val nulls = tmpDir("manifest_minmax_null") + "/t"
    import spark.implicits._
    Seq.fill(3)(Option.empty[java.lang.Long]).toDF("id").coalesce(1).write.parquet(nulls)
    Manifest.create(spark, nulls, "id")
    assert(Manifest.minMax(spark, nulls, "id").isEmpty)
  }

  test("policy triggers: compactIfNeeded and vacuumIfNeeded fire only past their thresholds") {
    val stage = tmpDir("manifest_policy") + "/documents"
    spark.read.parquet(s"$sf001/documents.parquet")
      .repartitionByRange(6, col("doc_id")).write.parquet(stage)
    Manifest.create(spark, stage, "doc_id")
    // Below threshold: pure metadata no-ops.
    assert(Layout.compactIfNeeded(spark, stage, maxFiles = 10, targetBytes = 1L << 20) == 0)
    Layout.deleteRange(spark, stage, "doc_id", 0L, 49L)
    assert(Manifest.vacuumIfNeeded(spark, stage, maxTrashFiles = 100) == 0)
    // Past threshold: real work, same semantics as the unconditional ops.
    Manifest.expireSnapshots(spark, stage, keep = 1)
    assert(Manifest.vacuumIfNeeded(spark, stage, maxTrashFiles = 0) > 0)
    val before = fp(spark.read.parquet(stage))
    assert(Layout.compactIfNeeded(spark, stage, maxFiles = 2, targetBytes = 1L << 26) > 0)
    assert(fp(spark.read.parquet(stage)) == before)
  }

  test("changesBetween rejects reversed endpoints (an inverted feed, not a wrong answer)") {
    val stage = stageClustered("manifest_cdf_rev", 4)
    val id1 = Manifest.create(spark, stage, "doc_id")
    Layout.deleteRange(spark, stage, "doc_id", 0L, 9L)
    val id2 = Manifest.latestSnapshotId(spark, stage).get
    val e = intercept[IllegalArgumentException] {
      Manifest.changesBetween(spark, stage, id2, id1)
    }
    assert(e.getMessage.contains("fromId"))
  }

  test("boundary read raises typed staleness when a file vanishes inside the check-then-read window") {
    val stage = stageClustered("manifest_boundary_stale", 8)
    Manifest.create(spark, stage, "doc_id")
    // Sanity: the untampered aggregate works and uses the metadata path.
    val (cnt, boundary, total) = Manifest.countRange(spark, stage, "doc_id", 100L, 350L)
    assert(cnt == 251L && boundary < total)
    // Vanish every data file AFTER requireFresh approved them (the seam
    // runs exactly inside the check-then-read window): the boundary read
    // must surface the typed staleness error, not a raw executor
    // FileNotFoundException.
    val fs = new Path(stage).getFileSystem(spark.sessionState.newHadoopConf())
    Manifest.interleaveForTest = () =>
      fs.listStatus(new Path(stage)).foreach { st =>
        if (st.isFile && st.getPath.getName.startsWith("part-")) {
          fs.delete(st.getPath, false): Unit
        }
      }
    try {
      intercept[Manifest.StaleManifestException] {
        Manifest.countRange(spark, stage, "doc_id", 100L, 350L)
      }
    } finally Manifest.interleaveForTest = () => ()
  }

  test("layout rewrites retain replaced history: time travel and the change feed survive a compaction") {
    val stage = stageClustered("manifest_rw_retain", 4)
    val id1 = Manifest.create(spark, stage, "doc_id")
    val fpOrig = fp(spark.read.parquet(stage))
    Layout.deleteRange(spark, stage, "doc_id", 0L, 49L)
    val id2 = Manifest.latestSnapshotId(spark, stage).get
    val fpAfterDel = fp(spark.read.parquet(stage))
    // Routine maintenance: the compaction replaces EVERY live file but
    // retains the originals — pre-compaction and pre-delete snapshots stay
    // exactly readable.
    Layout.compactTable(spark, stage, targetBytes = 64L << 20)
    val id3 = Manifest.latestSnapshotId(spark, stage).get
    assert(id3 > id2)
    assert(fp(Manifest.readAsOf(spark, stage, id2)) == fpAfterDel)
    assert(fp(Manifest.readAsOf(spark, stage, id1)) == fpOrig)
    // A pure re-layout nets ZERO feed rows (carried rows cancel) …
    assert(Manifest.changesBetween(spark, stage, id2, id3).count() == 0L)
    // … and across delete + compaction the net feed is exactly the delete.
    val feed = Manifest.changesBetween(spark, stage, id1, id3)
    assert(feed.filter(col("change") === "insert").count() == 0L)
    assert(feed.filter(col("change") === "delete").count() == 50L)
    // Vacuum after retention expiry reclaims what nothing references, and
    // only then does the expired window fail — typed, never silently.
    Manifest.expireSnapshots(spark, stage, keep = 1)
    assert(Manifest.vacuum(spark, stage) > 0)
    intercept[IllegalArgumentException] { Manifest.readAsOf(spark, stage, id1) }
  }

  test("partitioned-original rewrite retains history with k=v structure; time travel recovers partition values") {
    // A hive-partitioned original where ONE task writes several partition
    // dirs gives the SAME part-file name in each dir — the trash preserves
    // the relative `k=v/` structure, so retention never collides and
    // historical reads recover the partition column from the trash path.
    val stage = tmpDir("manifest_rw_part") + "/docs"
    spark.read.parquet(s"$sf001/documents.parquet").repartition(1)
      .write.partitionBy("lang").parquet(stage)
    val fs = new Path(stage).getFileSystem(spark.sessionState.newHadoopConf())
    val names = fs.listStatus(new Path(stage)).filter(_.isDirectory)
      .filter(_.getPath.getName.contains("="))
      .flatMap(d => fs.listStatus(d.getPath).filter(_.isFile).map(_.getPath.getName))
    assert(names.length > names.distinct.length,
      "fixture must share part-file names across partition dirs")
    val id1 = Manifest.create(spark, stage, "doc_id")
    val fpOrig = fp(spark.read.parquet(stage).select(docCols.map(col): _*))
    // The compaction FLATTENS the layout (lang becomes a data column) —
    // content invariant, and the pre-rewrite snapshot stays readable with
    // lang recovered from the retained trash's own k=v dirs.
    Layout.compactTable(spark, stage, targetBytes = 64L << 20)
    assert(fp(spark.read.parquet(stage).select(docCols.map(col): _*)) == fpOrig)
    assert(Manifest.hasSnapshot(spark, stage, id1))
    val asOf = Manifest.readAsOf(spark, stage, id1)
    assert(fp(asOf.select(docCols.map(col): _*)) == fpOrig)
    assert(asOf.filter(col("lang").isNull).count() == 0L,
      "partition values must come from the trash path, never NULL-backfill")
  }

  test("a crashed create's orphan tmp dir is cleaned by the next create") {
    val stage = stageClustered("manifest_heal", 4)
    Manifest.create(spark, stage, "doc_id")
    val fs = new Path(stage).getFileSystem(spark.sessionState.newHadoopConf())
    val orphan = new Path(s"$stage/_graft_manifest/snapshot-99__tmp")
    fs.mkdirs(orphan)
    // Tmp sweeping is lease-gated (a YOUNG tmp may be a live concurrent
    // writer still staging) — zero the lease so the sweep sees this
    // freshly-planted orphan as aged.
    val savedLease = Manifest.claimLeaseMs
    Manifest.claimLeaseMs = -1L
    try Manifest.create(spark, stage, "doc_id")
    finally Manifest.claimLeaseMs = savedLease
    assert(!fs.exists(orphan), "orphan tmp should be swept")
    // The orphan never counted as a snapshot: pruning still works.
    val (rows, nRead, nTotal) = Manifest.scanRange(spark, stage, "doc_id", 0L, 10L)
    assert(nRead == 1 && nTotal == 4)
    assert(rows.count() == 11L)
  }

  test("planning is a distributed job: a 50k-file manifest prunes without driver materialization; over-cap fails typed") {
    val stage = tmpDir("manifest_50k") + "/docs"
    spark.read.parquet(s"$sf001/documents.parquet")
      .repartitionByRange(4, col("doc_id")).write.parquet(stage)
    Manifest.create(spark, stage, "doc_id")
    // Forge a 50k-file snapshot: the real stats rows plus 50k synthetic
    // file entries whose key ranges sit FAR outside the probe box — the
    // shape of a small-file-debt table pre-compaction. Pruning must stay a
    // job (only the final picked list reaches the driver), so the scan
    // works and picks only the real overlapping files.
    val real = spark.read.parquet(s"$stage/_graft_manifest/snapshot-1")
    val fake = spark.range(50000).select(
      concat(lit(s"file:$stage/part-fake-"), col("id"), lit(".parquet")).as("file"),
      (col("id") * 1000L + 10000000L).as("min_doc_id"),
      (col("id") * 1000L + 10000999L).as("max_doc_id"),
      lit(1000L).as("cnt_doc_id"),
      lit(1000L).as("n_rows"),
      lit(4096L).as("n_bytes"))
    real.unionByName(fake).repartition(4)
      .write.parquet(s"$stage/_graft_manifest/snapshot-2")
    val (rows, nRead, nTotal) = Manifest.scanRange(spark, stage, "doc_id", 0L, 49L)
    assert(nTotal == 50004, s"fixture: $nTotal")
    assert(nRead <= 2, s"pruning must pick only overlapping real files, got $nRead")
    assert(rows.count() == 50L)
    // A plan past the cap fails TYPED with the recovery in the message —
    // never balloons driver memory silently.
    val prevCap = Manifest.maxPlannedFiles
    Manifest.maxPlannedFiles = 100
    try {
      val e = intercept[IllegalStateException] {
        Manifest.scanRange(spark, stage, "doc_id", 0L, 100000000000L)
      }
      assert(e.getMessage.contains("compact"), e.getMessage)
    } finally Manifest.maxPlannedFiles = prevCap
  }

  test("updateSchema: drop + widen without rewrite — metadata-only, value-exact, time travel keeps old shapes") {
    import org.apache.spark.sql.types._
    val stage = tmpDir("manifest_dw") + "/docs"
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"),
        col("n_chars").cast("int").as("n_chars"),
        lit("scratch").as("tmp_note"))
    docs.filter(col("doc_id") % 2 === 0).repartition(3).write.parquet(stage)
    val id1 = Manifest.create(spark, stage, "doc_id")
    val fs = new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def dataFiles(): Set[String] =
      graft.ops.FsMaint.listRelative(fs, new org.apache.hadoop.fs.Path(stage))(f =>
        f.getPath.getName.startsWith("part-")).map(_._1)
        .filterNot(_.startsWith("_graft_manifest")).toSet
    val before = dataFiles()
    // Widen n_chars int -> long and DROP tmp_note, one metadata commit each.
    val id2 = Manifest.widenColumn(spark, stage, "n_chars", LongType)
    val id3 = Manifest.dropColumn(spark, stage, "tmp_note")
    assert(dataFiles() == before, "schema evolution must not touch data files")
    assert(id2 == id1 + 1 && id3 == id1 + 2)
    // Latest read: widened type, dropped column gone, values exact from the
    // NARROW files (the reader's widening decode).
    val latest = Manifest.readAsOf(spark, stage, id3)
    assert(latest.schema("n_chars").dataType == LongType)
    assert(!latest.columns.contains("tmp_note"))
    val expectSum = docs.filter(col("doc_id") % 2 === 0)
      .agg(sum(col("n_chars").cast("long"))).head().getLong(0)
    assert(latest.agg(sum("n_chars")).head().getLong(0) == expectSum)
    // Appends AFTER the widen arrive with the wide schema; incremental
    // snapshots keep working and the table unions exactly.
    docs.filter(col("doc_id") % 2 === 1)
      .withColumn("n_chars", col("n_chars").cast("long")).drop("tmp_note")
      .repartition(2).write.mode("append").parquet(stage)
    Manifest.createIncremental(spark, stage, "doc_id")
    val all = Manifest.readAsOf(spark, stage,
      Manifest.latestSnapshotId(spark, stage).get)
    assert(all.count() == docs.count())
    // Time travel: snapshot 1 still reads its OWN shape (int + tmp_note).
    val asOf1 = Manifest.readAsOf(spark, stage, id1)
    assert(asOf1.schema("n_chars").dataType == IntegerType)
    assert(asOf1.columns.contains("tmp_note"))
    // Typed rejections: narrowing, dropping a stats key, non-nullable add.
    val cur = Manifest.storedSchema(spark, stage,
      Manifest.latestSnapshotId(spark, stage).get).get
    intercept[IllegalArgumentException] {
      Manifest.widenColumn(spark, stage, "n_chars", IntegerType) // narrowing
    }
    intercept[IllegalArgumentException] {
      Manifest.dropColumn(spark, stage, "doc_id") // the stats key
    }
    intercept[IllegalArgumentException] {
      Manifest.updateSchema(spark, stage, StructType(cur.fields :+
        StructField("strict", StringType, nullable = false)))
    }
  }

  test("commit instants are explicit markers, not directory mtimes (TIMESTAMP AS OF is rename-safe)") {
    val stage = tmpDir("manifest_commit_at") + "/documents"
    spark.read.parquet(s"$sf001/documents.parquet").repartition(2).write.parquet(stage)
    val before = System.currentTimeMillis() - 1
    val id = Manifest.create(spark, stage, "doc_id")
    val after = System.currentTimeMillis() + 1
    val fs = new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val snapDir = new org.apache.hadoop.fs.Path(
      s"$stage/_graft_manifest/snapshot-$id")
    assert(fs.exists(new org.apache.hadoop.fs.Path(snapDir, "_committed_at")),
      "every commit records its publish instant explicitly")
    // Corrupt the mtime signal the old implementation keyed on: push the
    // snapshot DIR's mtime into the future — resolution must not move.
    fs.setTimes(snapDir, System.currentTimeMillis() + 3600L * 1000, -1)
    assert(Manifest.snapshotIdAsOfTime(spark, stage, after).contains(id))
    assert(Manifest.snapshotIdAsOfTime(spark, stage, before).isEmpty,
      "a snapshot must not be visible before its publish instant")
    // history() reports the same identity.
    val t = Manifest.history(spark, stage)
      .filter(org.apache.spark.sql.functions.col("snapshot") === id)
      .select("committed_at").head().getTimestamp(0).getTime
    assert(t >= before && t <= after, s"history commit time $t outside [$before, $after]")
  }

  test("restat: stats evolve in place — new column prunes, refreshes carry it, keyed mutations target on it") {
    val stage = tmpDir("manifest_restat") + "/documents"
    // Cluster on n_chars so its per-file spans are disjoint, but create
    // the manifest keyed on doc_id ONLY — n_chars stats must not exist.
    spark.read.parquet(s"$sf001/documents.parquet")
      .repartitionByRange(8, org.apache.spark.sql.functions.col("n_chars"))
      .write.parquet(stage)
    Manifest.create(spark, stage, "doc_id")
    intercept[Exception] { Manifest.scanRange(spark, stage, "n_chars", 0L, 10L) }
    // Typed refusals: unknown column, covered column, non-long-normalizable.
    intercept[Exception] { Manifest.restat(spark, stage, "nope") }
    intercept[Exception] { Manifest.restat(spark, stage, "doc_id") }
    val id = Manifest.restat(spark, stage, "n_chars")
    assert(Manifest.latestSnapshotId(spark, stage).contains(id))
    assert(Manifest.currentKeyCols(spark, stage)
      .contains(Seq("doc_id", "n_chars")) ||
      Manifest.currentKeyCols(spark, stage).exists(_.toSet ==
        Set("doc_id", "n_chars")))
    // The new column PRUNES files and the scan is value-exact.
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val mm = docs.agg(org.apache.spark.sql.functions.min("n_chars"),
      org.apache.spark.sql.functions.max("n_chars")).head()
    val (mid, hi) = (mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) * 2 / 5,
      mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) * 3 / 5)
    val (rows, nRead, nTotal) = Manifest.scanRange(spark, stage, "n_chars", mid, hi)
    assert(nRead < nTotal, s"restat stats must prune: $nRead/$nTotal")
    assert(fp(rows.select(docCols.map(org.apache.spark.sql.functions.col): _*)) ==
      fp(docs.filter(org.apache.spark.sql.functions.col("n_chars").between(mid, hi))))
    // An incremental refresh CARRIES the restat column (superset-key
    // contract): append via the caller's ORIGINAL single key.
    spark.range(1L, 2L).selectExpr("9900001L AS doc_id", "'probe' AS text",
      "'en' AS lang", "'p' AS source",
      s"CAST(${mm.getLong(1) + 1000L} AS BIGINT) AS n_chars")
      .coalesce(1).write.mode("append").parquet(stage)
    val (_, scanned, _) = Manifest.createIncremental(spark, stage, "doc_id")
    assert(scanned == 1, "the superset-key refresh must stay incremental")
    val snap = Manifest.files(spark, stage)
    assert(snap.schema.fieldNames.contains("min_n_chars"))
    assert(snap.filter(org.apache.spark.sql.functions.col("min_n_chars") ===
      mm.getLong(1) + 1000L).count() == 1L,
      "the appended file's restat stats must be real values, never NULL")
    // Keyed mutation targeting on the restat column.
    val del = Layout.deleteRangeDV(spark, stage, "n_chars",
      mm.getLong(1) + 1000L, mm.getLong(1) + 1000L)
    assert(del.rowsDeleted == 1L && del.filesRewritten == 0)
    // The bloom half: restatBloom adds a point-lookup sketch for a STRING
    // column (no range stats exist there) — scanKeysString prunes on it
    // immediately, and a live row is found exactly.
    intercept[Exception] {
      Manifest.scanKeysString(spark, stage, "text", Seq("x"))
    }
    intercept[Exception] { Manifest.restatBloom(spark, stage, Seq("nope")) }
    Manifest.restatBloom(spark, stage, Seq("text")): Unit
    val probe = docs.filter(
      org.apache.spark.sql.functions.col("doc_id") === 250L)
      .select("text").head().getString(0)
    val ks = Manifest.scanKeysString(spark, stage, "text", Seq(probe))
    assert(ks.rows.count() >= 1L)
    assert(ks.filesRead < ks.filesTotal,
      s"bloom must prune: ${ks.filesRead}/${ks.filesTotal}")
    intercept[Exception] { Manifest.restatBloom(spark, stage, Seq("text")) }
  }

  test("restat refuses typed on a referenced zero-row file instead of silently un-referencing it") {
    // Failure injection: a referenced file truncated to zero rows (storage
    // corruption / botched manual surgery) still EXISTS, so requireComplete
    // passes — but the restat scan's groupBy(input_file_name) produces no
    // row for it. The round-17 inner join silently DROPPED the file from
    // the new snapshot (un-referencing it, tripping every later
    // requireComplete); the contract is a typed refusal with the file named
    // and NO new snapshot committed.
    val stage = tmpDir("manifest_restat_zero") + "/documents"
    spark.read.parquet(s"$sf001/documents.parquet")
      .repartition(4).write.parquet(stage)
    Manifest.create(spark, stage, "doc_id")
    val id = Manifest.latestSnapshotId(spark, stage).get
    val nFiles = Manifest.files(spark, stage).count()
    // Overwrite one referenced part file with an EMPTY parquet of the same
    // schema (same path, zero rows).
    val victim = Manifest.files(spark, stage).select("file").head().getString(0)
    val victimPath = new org.apache.hadoop.fs.Path(
      new java.net.URI(victim).getPath)
    val emptyDir = tmpDir("manifest_restat_zero_empty")
    spark.read.parquet(s"$sf001/documents.parquet").limit(0)
      .coalesce(1).write.mode("overwrite").parquet(emptyDir)
    val fs = victimPath.getFileSystem(spark.sessionState.newHadoopConf())
    val emptyPart = fs.listStatus(new org.apache.hadoop.fs.Path(emptyDir))
      .map(_.getPath).filter(_.getName.startsWith("part-")).head
    fs.delete(victimPath, false)
    assert(fs.rename(emptyPart, victimPath))
    val e = intercept[Exception] { Manifest.restat(spark, stage, "n_chars") }
    assert(e.getMessage.contains("no rows"), e.getMessage)
    val eb = intercept[Exception] {
      Manifest.restatBloom(spark, stage, Seq("text"))
    }
    assert(eb.getMessage.contains("no rows"), eb.getMessage)
    // Nothing committed, nothing un-referenced.
    assert(Manifest.latestSnapshotId(spark, stage).contains(id))
    assert(Manifest.files(spark, stage).count() == nFiles)
  }

  test("rowsOfFiles fails typed on a staged path the snapshot does not describe") {
    val stage = stageClustered("manifest_rows_of", 4)
    val id = Manifest.create(spark, stage, "doc_id")
    // rowsOfFiles takes filesystem paths; snapshot entries are URL-encoded.
    val entries = Manifest.files(spark, stage).select("file").collect()
      .map(r => Manifest.decodePath(r.getString(0))).toSeq
    assert(Manifest.rowsOfFiles(spark, stage, id, entries) ==
      spark.read.parquet(stage).count())
    val fs = new Path(stage).getFileSystem(spark.sessionState.newHadoopConf())
    def partFile(dir: String): Path = fs.listStatus(new Path(dir))
      .map(_.getPath).filter(_.getName.contains("part-")).head
    // A schema-only file (what an empty stage writes) carries no stats row
    // and no rows: legitimately unmatched, it adds nothing.
    val empty = tmpDir("manifest_rows_of_empty") + "/e"
    spark.read.parquet(stage).limit(0).coalesce(1).write.parquet(empty)
    assert(Manifest.rowsOfFiles(spark, stage, id, entries.take(1) :+ partFile(empty)) ==
      Manifest.rowsOfFiles(spark, stage, id, entries.take(1)))
    // An unmatched file HOLDING rows would silently lower the survivor sum
    // (inflating a COW delete's count): typed refusal naming the path.
    val stray = tmpDir("manifest_rows_of_stray") + "/s"
    spark.read.parquet(stage).limit(5).coalesce(1).write.parquet(stray)
    val e = intercept[IllegalStateException] {
      Manifest.rowsOfFiles(spark, stage, id, entries :+ partFile(stray))
    }
    assert(e.getMessage.contains(partFile(stray).getName), e.getMessage)
  }
}
