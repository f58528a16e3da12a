package graft

import graft.functions.Hashing
import graft.sync._
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

class SyncEngineSpec extends SparkSpec {
  import spark.implicits._

  private def write(dir: String, name: String, df: DataFrame): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(s"$dir/$name.parquet")

  private def mkStores(tag: String): (String, String, ParquetStore, ParquetStore) = {
    val (md, sd) = (tmpDir(s"${tag}_m"), tmpDir(s"${tag}_s"))
    (md, sd, new ParquetStore(spark, md), new ParquetStore(spark, sd))
  }

  private def custDf = Seq(
    (1L, "alice", 10, 5.0), (2L, "bob", 11, 6.0), (3L, "carol", 12, 7.0),
    (4L, "dave", 13, 8.0), (5L, "erin", 14, 9.0)).toDF("id", "name", "nk", "bal")

  private def fp(df: DataFrame): String =
    Hashing.tableFingerprint(df, df.columns.toSeq)

  test("missing table on slave → full copy") {
    val (md, sd, ms, ss) = mkStores("missing")
    write(md, "nation", custDf)
    val engine = new SyncEngine(ms, ss, SyncConfig(primaryKeys = Map("nation" -> Seq("id"))))
    engine.syncDatabase()
    assert(ss.list() == Seq("nation"))
    assert(fp(ss.read("nation")) == fp(ms.read("nation")))
  }

  test("excess table on slave → dropped; ignored tables untouched") {
    val (md, sd, ms, ss) = mkStores("excess")
    write(md, "keep", custDf)
    write(sd, "keep", custDf)
    write(sd, "scratch", custDf)      // excess → dropped
    write(sd, "tmp_x", custDf)        // matches ignore regex → untouched
    val engine = new SyncEngine(ms, ss, SyncConfig(
      ignoreTables = Seq("^tmp_.*$".r), primaryKeys = Map("keep" -> Seq("id"))))
    engine.syncDatabase()
    assert(ss.list().toSet == Set("keep", "tmp_x"))
  }

  test("changed schema → drop + full recopy") {
    val (md, sd, ms, ss) = mkStores("schema")
    write(md, "part", custDf)
    write(sd, "part", custDf.drop("bal")) // slave missing a column
    val engine = new SyncEngine(ms, ss, SyncConfig(primaryKeys = Map("part" -> Seq("id"))))
    val action = engine.syncTable("part")
    assert(action.isInstanceOf[SyncAction.CopyTable])
    assert(fp(ss.read("part")) == fp(ms.read("part")))
  }

  test("already in sync → fingerprint short-circuit, zero writes") {
    val (md, sd, ms, ss) = mkStores("insync")
    write(md, "region", custDf)
    write(sd, "region", custDf.orderBy(desc("id"))) // same multiset, different order
    val engine = new SyncEngine(ms, ss, SyncConfig(primaryKeys = Map("region" -> Seq("id"))))
    val action = engine.syncTable("region")
    assert(action == SyncAction.Skip("region", "already in sync"))
  }

  test("row insert/delete/update converges (hash diff)") {
    val (md, sd, ms, ss) = mkStores("rows")
    write(md, "customer", custDf)
    val slave = custDf.filter($"id" =!= 2L) // deleted row on slave
      .withColumn("bal", when($"id" === 3L, lit(99.0)).otherwise($"bal")) // mutated
      .unionByName(Seq((9L, "eve", 20, 1.0)).toDF("id", "name", "nk", "bal")) // excess
    write(sd, "customer", slave)
    val engine = new SyncEngine(ms, ss, SyncConfig(primaryKeys = Map("customer" -> Seq("id"))))
    engine.syncTable("customer")
    assert(fp(ss.read("customer")) == fp(ms.read("customer")))
    // idempotence: second run short-circuits
    assert(engine.syncTable("customer") == SyncAction.Skip("customer", "already in sync"))
  }

  test("an empty primary-key list is rejected when the engine is built, naming the table") {
    val (_, _, ms, ss) = mkStores("emptypk")
    val e = intercept[IllegalArgumentException](new SyncEngine(ms, ss, SyncConfig(
      primaryKeys = Map("orders" -> Seq("o_orderkey"), "lineitem" -> Nil))))
    assert(e.getMessage.contains("lineitem"), e.getMessage)
  }

  test("no primary key: copy when allowed, skip when not") {
    val (md, sd, ms, ss) = mkStores("nopk")
    write(md, "heap", custDf)
    write(sd, "heap", custDf.filter($"id" =!= 1L))
    val engineCopy = new SyncEngine(ms, ss, SyncConfig(copyTablesWithNoPrimary = true))
    assert(engineCopy.syncTable("heap").isInstanceOf[SyncAction.CopyTable])
    assert(fp(ss.read("heap")) == fp(ms.read("heap")))

    write(sd, "heap", custDf.filter($"id" =!= 2L))
    val engineSkip = new SyncEngine(ms, ss, SyncConfig(copyTablesWithNoPrimary = false))
    assert(engineSkip.syncTable("heap") == SyncAction.Skip("heap", "no primary key"))
    assert(ss.read("heap").count() == 4) // untouched
  }

  test("partitioned table: changed/missing/excess partitions + partition move") {
    val (md, sd, ms, ss) = mkStores("part")
    val masterDf = Seq(
      (1L, "p1", "a"), (2L, "p1", "b"), (3L, "p2", "c"), (4L, "p3", "d")
    ).toDF("id", "part", "v")
    // slave: p1 has a mutated row; p3 missing entirely; excess p9; and id=3
    // moved from p2 (master) to p9 (slave) — the C7 partition-move guard.
    val slaveDf = Seq(
      (1L, "p1", "a"), (2L, "p1", "MUT"), (3L, "p9", "c"), (9L, "p9", "x")
    ).toDF("id", "part", "v")
    write(md, "t", masterDf)
    write(sd, "t", slaveDf)
    val engine = new SyncEngine(ms, ss, SyncConfig(
      primaryKeys = Map("t" -> Seq("id")),
      partitionedTables = Map("t" -> "part")))
    engine.syncTable("t")
    assert(fp(ss.read("t")) == fp(ms.read("t")))
    assert(engine.syncTable("t") == SyncAction.Skip("t", "already in sync"))
  }

  test("dry run plans but does not mutate") {
    val (md, sd, ms, ss) = mkStores("dry")
    write(md, "x", custDf)
    write(sd, "x", custDf.filter($"id" =!= 1L))
    val before = fp(ss.read("x"))
    val engine = new SyncEngine(ms, ss, SyncConfig(
      primaryKeys = Map("x" -> Seq("id")), dryRun = true))
    val action = engine.syncTable("x")
    assert(action.isInstanceOf[SyncAction.ApplyDelta])
    assert(fp(ss.read("x")) == before)
  }

  test("per-table failure is tolerated: other tables still sync (C6 || true)") {
    val (md, sd, ms, ss) = mkStores("tolerate")
    write(md, "good", custDf)
    write(sd, "good", custDf.filter($"id" =!= 1L))
    // corrupt table: slave's parquet dir exists but holds garbage → read throws
    write(md, "bad", custDf)
    val badDir = new java.io.File(s"$sd/bad.parquet"); badDir.mkdirs()
    java.nio.file.Files.writeString(badDir.toPath.resolve("part-0.parquet"), "not parquet")
    // corrupt MASTER table absent on the slave: its full copy throws
    val badMDir = new java.io.File(s"$md/badm.parquet"); badMDir.mkdirs()
    java.nio.file.Files.writeString(badMDir.toPath.resolve("part-0.parquet"), "not parquet")
    val engine = new SyncEngine(ms, ss, SyncConfig(primaryKeys = Map("good" -> Seq("id"))))
    engine.syncDatabase()
    assert(fp(ss.read("good")) == fp(ms.read("good")), "good table must converge")
    Seq("bad", "badm").foreach { t =>
      assert(engine.auditLog.exists {
        case SyncAction.Skip(`t`, r) => r.startsWith("failed:")
        case _ => false
      }, s"$t table failure must be recorded: ${engine.auditLog}")
    }
  }

  test("audit log file: every action appended as a JSON line (S15)") {
    val (md, sd, ms, ss) = mkStores("auditfile")
    write(md, "x", custDf)
    write(sd, "x", custDf.filter($"id" =!= 1L))
    write(sd, "gone", custDf)
    val logPath = tmpDir("auditlog") + "/audit.jsonl"
    val engine = new SyncEngine(ms, ss, SyncConfig(
      primaryKeys = Map("x" -> Seq("id")), auditLogPath = Some(logPath)))
    engine.syncDatabase()
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(logPath))
    assert(lines.size == engine.auditLog.size)
    assert(lines.stream().anyMatch(_.contains(""""action":"DropTable","table":"gone"""")))
    assert(lines.stream().anyMatch(_.contains(""""action":"ApplyDelta","table":"x"""")))
  }

  test("NullColumnTest convergence: NULL-permuted rows sync correctly") {
    val (md, sd, ms, ss) = mkStores("nullcol")
    val m = Seq((1L, Option(2), Option.empty[Int], Option.empty[Int]))
      .toDF("id", "a", "b", "c")
    val s = Seq((1L, Option.empty[Int], Option(2), Option.empty[Int]))
      .toDF("id", "a", "b", "c")
    write(md, "nulls", m)
    write(sd, "nulls", s)
    val engine = new SyncEngine(ms, ss, SyncConfig(primaryKeys = Map("nulls" -> Seq("id"))))
    engine.syncTable("nulls")
    assert(fp(ss.read("nulls")) == fp(ms.read("nulls")))
  }

  test("C1 scale guard: 100 tables complete and audit correctly through the pool") {
    // The driver-side orchestration cost is what bounds a 10k-table sync:
    // per CLEAN table the cascade is one tiny fused-gate job (the A1
    // short-circuit), and the pool overlaps them. 100 tables — 90 clean,
    // 5 dirty, 5 missing — must finish with exactly one audit action each
    // and converge the dirty/missing ones.
    val (md, sd, ms, ss) = mkStores("scale100")
    val names = (0 until 100).map(i => f"t$i%03d")
    names.foreach(t => write(md, t, custDf))
    names.drop(5).take(90).foreach(t => write(sd, t, custDf))              // clean
    names.takeRight(5).foreach(t =>                                        // dirty
      write(sd, t, custDf.filter($"id" =!= 2L)))
    val engine = new SyncEngine(ms, ss, SyncConfig(
      primaryKeys = names.map(_ -> Seq("id")).toMap, tableParallelism = 8))
    val actions = engine.syncDatabase()
    assert(actions.length == 100)
    assert(actions.count(_.isInstanceOf[SyncAction.CopyTable]) == 5)
    assert(actions.count { case SyncAction.Skip(_, r) => r == "already in sync"; case _ => false } == 90)
    assert(actions.count(_.isInstanceOf[SyncAction.ApplyDelta]) == 5)
    assert(ss.list().length == 100)
    val mfp = fp(ms.read("t000"))
    (names.take(5) ++ names.takeRight(5)).foreach { t =>
      assert(fp(ss.read(t)) == mfp, s"table $t did not converge")
    }
  }

  /** Spark jobs submitted from this thread while `body` runs, via job-group
    * tagging + statusTracker. The status store is listener-fed (async), so
    * give it a beat before reading — only matters for catching a REGRESSION
    * (a job that should not exist); a clean run reads 0 either way.
    */
  private def jobsDuring(tag: String)(body: => Unit): Int = {
    spark.sparkContext.setJobGroup(tag, tag, interruptOnCancel = false)
    try body finally spark.sparkContext.clearJobGroup()
    Thread.sleep(500)
    spark.sparkContext.statusTracker.getJobIdsForGroup(tag).length
  }

  test("a parquet sync cycle launches only sync:-tagged Spark jobs (no schema inference)") {
    val (md, sd, ms, ss) = mkStores("tagged")
    write(md, "quiet", custDf)
    write(sd, "quiet", custDf.orderBy(desc("id")))
    write(md, "churned", custDf)
    write(sd, "churned", custDf.filter($"id" =!= 2L)
      .withColumn("bal", when($"id" === 3L, lit(99.0)).otherwise($"bal")))
    // Keyless (absent from primaryKeys) and in sync: gated like the rest.
    write(md, "heap", custDf)
    write(sd, "heap", custDf.orderBy(desc("id")))
    val engine = new SyncEngine(ms, ss, SyncConfig(
      primaryKeys = Map("quiet" -> Seq("id"), "churned" -> Seq("id"))))
    // Jobs are scoped by a local property the engine's table-pool threads
    // inherit; a marker job afterwards drains the listener queue in order.
    val scope = "graft.test.scope"
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(scope))).foreach {
          case "cycle" =>
            descs.add(String.valueOf(e.properties.getProperty("spark.job.description")))
          case _ => drained.countDown()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val actions = try {
      spark.sparkContext.setLocalProperty(scope, "cycle")
      val a = try engine.syncDatabase() finally spark.sparkContext.setLocalProperty(scope, "marker")
      try spark.range(1).count() finally spark.sparkContext.setLocalProperty(scope, null)
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS))
      a
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(actions.toSet == Set(SyncAction.Skip("quiet", "already in sync"),
      SyncAction.Skip("heap", "already in sync"), SyncAction.ApplyDelta("churned", 1, 2)))
    assert(fp(ss.read("churned")) == fp(ms.read("churned")))
    val jobs = descs.toArray(Array.empty[String]).toSeq
    val untagged = jobs.filterNot(_.startsWith("sync:"))
    assert(untagged.isEmpty, s"untagged jobs: ${untagged.mkString(", ")}")
    // The gate is one job per table (no cache stages, no shuffle), and a
    // mutating cycle reads its leg counts off the spill write.
    val perTag = jobs.groupBy(identity).view.mapValues(_.size).toMap
    assert(perTag.get("sync: quiet fused-gate").contains(1) &&
      perTag.get("sync: churned fused-gate").contains(1) &&
      perTag.get("sync: heap fused-gate").contains(1), s"jobs per tag: $perTag")
    assert(!jobs.exists(_.endsWith(" leg counts")), s"jobs per tag: $perTag")
  }

  /** read()-counting store wrapper: read calls proxy for table scans. */
  private class Counting(inner: ParquetStore) extends TableStore {
    val reads = new java.util.concurrent.atomic.AtomicInteger
    def spark = inner.spark
    def list() = inner.list()
    def read(t: String) = { reads.incrementAndGet(); inner.read(t) }
    def drop(t: String) = inner.drop(t)
    def overwrite(t: String, df: DataFrame) = inner.overwrite(t, df)
    def append(t: String, df: DataFrame) = inner.append(t, df)
    def deleteKeys(t: String, k: DataFrame, kc: Seq[String]) = inner.deleteKeys(t, k, kc)
    def deleteWhere(t: String, pc: String, v: Any) = inner.deleteWhere(t, pc, v)
    override def changeToken(t: String) = inner.changeToken(t)
    override def applyDelta(t: String, dk: DataFrame, kc: Seq[String],
                            ins: DataFrame, pd: Option[(String, DataFrame)]) =
      inner.applyDelta(t, dk, kc, ins, pd)
  }

  test("syncAppendOnlyIncremental: appends fold in, no-ops skip, violations fall back") {
    val (md, sd, ms, ss) = mkStores("inc_manifest")
    val batch1 = custDf
    val mPath = s"$md/cust.parquet"
    batch1.repartition(3).write.parquet(mPath)
    batch1.repartition(3).write.parquet(s"$sd/cust.parquet") // primed shape
    val engine = new SyncEngine(ms, ss, SyncConfig(
      primaryKeys = Map("cust" -> Seq("id")), maintainFingerprints = true))
    // Priming cycle: full gate (in sync) + checkpoint recorded.
    assert(engine.syncAppendOnlyIncremental("cust", mPath) ==
      SyncAction.Skip("cust", "already in sync"))
    // Append-only increment: the cycle reports a pure-insert delta and the
    // slave converges to master content.
    val batch2 = Seq((6L, "frank", 15, 10.0), (7L, "grace", 16, 11.0))
      .toDF("id", "name", "nk", "bal")
    batch2.repartition(1).write.mode(SaveMode.Append).parquet(mPath)
    engine.syncAppendOnlyIncremental("cust", mPath) match {
      case SyncAction.ApplyDelta("cust", d, i) => assert(d == 0L && i == 2L)
      case other => fail(s"expected append delta, got $other")
    }
    assert(fp(ss.read("cust")) == fp(ms.read("cust")))
    assert(engine.verifyMaintained("cust"), "maintained fp must track the appends")
    // Nothing new: zero-delta skip (manifest diff is empty).
    assert(engine.syncAppendOnlyIncremental("cust", mPath) ==
      SyncAction.Skip("cust", "no new files"))
    // Append-only VIOLATION: overwrite the master (every file replaced).
    // The cycle must detect the vanished files and fall back to a full
    // diff — correct convergence, never a silent bad increment.
    val rewritten = batch1.unionByName(batch2).filter(col("id") =!= 3L)
    rewritten.repartition(2).write.mode(SaveMode.Overwrite).parquet(mPath)
    val act = engine.syncAppendOnlyIncremental("cust", mPath)
    assert(act.isInstanceOf[SyncAction.ApplyDelta], act.toString)
    assert(fp(ss.read("cust")) == fp(rewritten))
    assert(engine.verifyMaintained("cust"))
  }

  test("syncViaChangeFeed: DML mutations flow as CDC, O(changed files), violations fall back") {
    val (md, sd, ms, ss) = mkStores("cdf_sync")
    val mPath = s"$md/cust.parquet"
    custDf.repartitionByRange(3, col("id")).write.parquet(mPath)
    custDf.repartitionByRange(3, col("id")).write.parquet(s"$sd/cust.parquet")
    graft.ops.Manifest.create(spark, mPath, "id")
    val engine = new SyncEngine(ms, ss, SyncConfig(
      primaryKeys = Map("cust" -> Seq("id")), maintainFingerprints = true))
    // Priming cycle: full gate (in sync) + checkpoint at the current snapshot.
    assert(engine.syncViaChangeFeed("cust", mPath) ==
      SyncAction.Skip("cust", "already in sync"))
    // DML on the master: a COW delete + a keyed merge (update + insert).
    graft.ops.Layout.deleteRange(spark, mPath, "id", 2L, 2L)
    val delta = Seq((1L, "ALICE2", 10, 1.5), (9L, "iris", 18, 13.0))
      .toDF("id", "name", "nk", "bal")
    graft.ops.Layout.mergeKeyed(spark, mPath, "id", delta)
    // One feed-driven cycle: delete pre-images + update pair + pure insert.
    engine.syncViaChangeFeed("cust", mPath) match {
      case SyncAction.ApplyDelta("cust", d, i) => assert(d == 2L && i == 2L)
      case other => fail(s"expected CDC delta, got $other")
    }
    assert(fp(ss.read("cust")) == fp(ms.read("cust")))
    assert(engine.verifyMaintained("cust"), "maintained fp must track the feed")
    // Unchanged master: snapshot id is the checkpoint — zero-IO skip.
    assert(engine.syncViaChangeFeed("cust", mPath) ==
      SyncAction.Skip("cust", "no snapshot change"))
    // Out-of-band append (bypasses the manifest): completeness check fails
    // the cycle over to a full diff — converges, never under-reports.
    Seq((10L, "judy", 19, 14.0)).toDF("id", "name", "nk", "bal")
      .write.mode(SaveMode.Append).parquet(mPath)
    val act = engine.syncViaChangeFeed("cust", mPath)
    assert(act.isInstanceOf[SyncAction.ApplyDelta], act.toString)
    assert(fp(ss.read("cust")) == fp(ms.read("cust")))
    assert(engine.verifyMaintained("cust"))
    // The fallback re-checkpointed: the next cycle rides the feed again.
    graft.ops.Layout.deleteRange(spark, mPath, "id", 10L, 10L)
    engine.syncViaChangeFeed("cust", mPath) match {
      case SyncAction.ApplyDelta("cust", d, i) => assert(d == 1L && i == 0L)
      case other => fail(s"expected feed delete, got $other")
    }
    assert(fp(ss.read("cust")) == fp(ms.read("cust")))
    // A LAYOUT rewrite between cycles now RETAINS the replaced originals:
    // the feed resolves removed files through the trash and rides across
    // routine maintenance (carried rows cancel in the multiset diff), so
    // the appended row still converges the slave either way.
    graft.ops.Layout.compactTable(spark, mPath, targetBytes = 1L << 20)
    Seq((11L, "kate", 20, 15.0)).toDF("id", "name", "nk", "bal")
      .write.mode(SaveMode.Append).parquet(mPath)
    graft.ops.Manifest.createIncremental(spark, mPath, "id")
    val healed = engine.syncViaChangeFeed("cust", mPath)
    assert(healed.isInstanceOf[SyncAction.ApplyDelta], healed.toString)
    assert(fp(ss.read("cust")) == fp(ms.read("cust")))
    assert(engine.verifyMaintained("cust"))
  }

  test("syncAppendOnlyIncremental: checkpoint survives engine restart (stateDir)") {
    val (md, sd, ms, ss) = mkStores("inc_restart")
    val mPath = s"$md/cust.parquet"
    custDf.repartition(2).write.parquet(mPath)
    custDf.repartition(2).write.parquet(s"$sd/cust.parquet")
    val state = tmpDir("inc_state")
    val cfg = SyncConfig(primaryKeys = Map("cust" -> Seq("id")),
      maintainFingerprints = true, stateDir = Some(state))
    new SyncEngine(ms, ss, cfg).syncAppendOnlyIncremental("cust", mPath)
    // New process: the manifest checkpoint resumes from the state file, so
    // the appended batch flows through the INCREMENTAL path (a lost
    // checkpoint would show up here as a full-diff ApplyDelta re-prime).
    val batch2 = Seq((8L, "heidi", 17, 12.0)).toDF("id", "name", "nk", "bal")
    batch2.write.mode(SaveMode.Append).parquet(mPath)
    val resumed = new SyncEngine(ms, ss, cfg)
    resumed.syncAppendOnlyIncremental("cust", mPath) match {
      case SyncAction.ApplyDelta("cust", d, i) => assert(d == 0L && i == 1L)
      case other => fail(s"expected incremental append, got $other")
    }
    assert(fp(ss.read("cust")) == fp(ms.read("cust")))
    assert(resumed.syncAppendOnlyIncremental("cust", mPath) ==
      SyncAction.Skip("cust", "no new files"))
  }

  test("syncAppendOnlyIncremental: snapshot history is self-bounded; no-op cycles commit nothing") {
    val (md, sd, ms, ss) = mkStores("inc_retain")
    val mPath = s"$md/cust.parquet"
    custDf.repartition(2).write.parquet(mPath)
    custDf.repartition(2).write.parquet(s"$sd/cust.parquet")
    val engine = new SyncEngine(ms, ss, SyncConfig(
      primaryKeys = Map("cust" -> Seq("id")), maintainFingerprints = true,
      manifestRetainSnapshots = 2, masterRetentionMaintenance = true))
    engine.syncAppendOnlyIncremental("cust") // prime → snapshot 1 (store-derived path)
    def snapshots(): Int =
      new java.io.File(s"$mPath/_graft_manifest").listFiles()
        .count(_.getName.startsWith("snapshot-"))
    // 4 append cycles: each data-changed cycle commits one snapshot, but
    // retention keeps only the newest 2.
    (0 until 4).foreach { k =>
      Seq((100L + k, s"u$k", 20 + k, 1.0 * k)).toDF("id", "name", "nk", "bal")
        .write.mode(SaveMode.Append).parquet(mPath)
      engine.syncAppendOnlyIncremental("cust") match {
        case SyncAction.ApplyDelta("cust", 0L, 1L) => ()
        case other => fail(s"cycle $k: $other")
      }
      assert(snapshots() <= 2, s"cycle $k left ${snapshots()} snapshots")
    }
    // No-op cycles re-use the latest snapshot: count must not grow.
    val before = snapshots()
    engine.syncAppendOnlyIncremental("cust")
    engine.syncAppendOnlyIncremental("cust")
    assert(snapshots() == before, "no-op cycles must not accrue snapshots")
    assert(fp(ss.read("cust")) == fp(ms.read("cust")))
  }

  test("maintained mode: repeat sync of an unchanged master issues ZERO Spark jobs") {
    val (md, sd, ms, ss) = mkStores("maint0")
    write(md, "acct", custDf)
    write(sd, "acct", custDf.filter($"id" =!= 3L)) // dirty slave
    val engine = new SyncEngine(ms, ss, SyncConfig(
      primaryKeys = Map("acct" -> Seq("id")), maintainFingerprints = true))

    val first = engine.syncTable("acct") // prime + converge
    assert(first.isInstanceOf[SyncAction.ApplyDelta])
    assert(fp(ss.read("acct")) == fp(ms.read("acct")))

    val n = jobsDuring("maint-cycle2") {
      val second = engine.syncTable("acct")
      assert(second == SyncAction.Skip("acct", "unchanged (master change token)"))
    }
    assert(n == 0, s"second sync of an unchanged master ran $n Spark jobs; expected 0")
  }

  test("maintained state persists through a file: URI stateDir (Hadoop FileSystem path)") {
    // State persistence resolves a Hadoop FileSystem from the stateDir URI;
    // a scheme-qualified path exercises the same API surface an HDFS
    // deployment would (mkdirs/create/rename/listStatus/open), with
    // LocalFileSystem as the implementation.
    val (md, sd, ms, ss) = mkStores("mainturi")
    write(md, "acct", custDf)
    write(sd, "acct", custDf.filter($"id" =!= 3L))
    val cfg = SyncConfig(primaryKeys = Map("acct" -> Seq("id")),
      maintainFingerprints = true, stateDir = Some("file:" + tmpDir("fpstate_uri")))
    val e1 = new SyncEngine(ms, ss, cfg)
    assert(e1.syncTable("acct").isInstanceOf[SyncAction.ApplyDelta])
    val e2 = new SyncEngine(ms, ss, cfg)
    val n = jobsDuring("mainturi-restart") {
      assert(e2.syncTable("acct") ==
        SyncAction.Skip("acct", "unchanged (master change token)"))
    }
    assert(n == 0, s"restarted engine re-primed with $n Spark jobs; expected 0")
    assert(e2.maintainedFingerprint("acct").isDefined)
  }

  test("maintained state survives engine RESTART (stateDir): zero jobs on resume") {
    val (md, sd, ms, ss) = mkStores("maintrestart")
    write(md, "acct", custDf)
    write(sd, "acct", custDf.filter($"id" =!= 3L)) // dirty slave
    val cfg = SyncConfig(primaryKeys = Map("acct" -> Seq("id")),
      maintainFingerprints = true, stateDir = Some(tmpDir("fpstate")))
    val e1 = new SyncEngine(ms, ss, cfg)
    assert(e1.syncTable("acct").isInstanceOf[SyncAction.ApplyDelta])
    assert(fp(ss.read("acct")) == fp(ms.read("acct")))

    // RESTART: a brand-new engine instance over the same state dir resumes
    // the persisted token + fingerprint — the unchanged master short-circuits
    // with ZERO Spark jobs and no scan of either table.
    val e2 = new SyncEngine(ms, ss, cfg)
    val n = jobsDuring("maint-restart") {
      assert(e2.syncTable("acct") ==
        SyncAction.Skip("acct", "unchanged (master change token)"))
    }
    assert(n == 0, s"restarted engine re-primed with $n Spark jobs; expected 0")
    // The fingerprint itself resumed too (not just the token): the full-scan
    // audit agrees with the loaded value.
    assert(e2.maintainedFingerprint("acct").isDefined)
    assert(e2.verifyMaintained("acct"))

    // A post-restart master change still converges through the resumed state,
    // without the dedicated slave fingerprint scan (maintained semantics).
    write(md, "acct", custDf.withColumn("bal", $"bal" + 1.0))
    val e3 = new SyncEngine(ms, ss, cfg)
    assert(e3.syncTable("acct").isInstanceOf[SyncAction.ApplyDelta])
    assert(fp(ss.read("acct")) == fp(ms.read("acct")))
  }

  test("maintained state restart, partitioned: snapshot path resumes") {
    val (md, sd, ms, ss) = mkStores("maintrestartp")
    val df = custDf.withColumn("grp", $"id" % 2)
    write(md, "acct", df)
    write(sd, "acct", df.filter($"id" =!= 3L))
    val cfg = SyncConfig(primaryKeys = Map("acct" -> Seq("id")),
      partitionedTables = Map("acct" -> "grp"), maintainFingerprints = true,
      stateDir = Some(tmpDir("fpstate_p")))
    val e1 = new SyncEngine(ms, ss, cfg)
    assert(e1.syncTable("acct").isInstanceOf[SyncAction.ApplyDelta])

    val e2 = new SyncEngine(ms, ss, cfg)
    val n = jobsDuring("maintp-restart") {
      assert(e2.syncTable("acct") ==
        SyncAction.Skip("acct", "unchanged (master change token)"))
    }
    assert(n == 0, s"restarted partitioned engine ran $n Spark jobs; expected 0")

    // Change one partition: the restarted engine's scoped diff runs off the
    // RESUMED snapshot (no slave fingerprint scan) and still converges.
    write(md, "acct", df.withColumn("bal",
      when($"id" === 1L, $"bal" + 10.0).otherwise($"bal")))
    assert(e2.syncTable("acct").isInstanceOf[SyncAction.ApplyDelta])
    assert(fp(ss.read("acct")) == fp(ms.read("acct")))
  }

  test("maintained mode: changed master re-syncs; slave side never rescanned after priming") {
    val (md, sd, ms, ss) = mkStores("maint1")
    write(md, "acct", custDf)
    write(sd, "acct", custDf)
    val cm = new Counting(ms); val cs = new Counting(ss)
    val engine = new SyncEngine(cm, cs, SyncConfig(
      primaryKeys = Map("acct" -> Seq("id")), maintainFingerprints = true))
    engine.syncTable("acct") // priming cycle (equal tables): m + s fingerprints
    val slaveReadsAfterPrime = cs.reads.get()

    // Master changes → token differs → ONE master fingerprint scan + diff;
    // the slave's fingerprint comes from maintained state, not a scan.
    write(md, "acct", custDf.withColumn("bal", $"bal" + 1.0))
    val a = engine.syncTable("acct")
    assert(a.isInstanceOf[SyncAction.ApplyDelta])
    assert(fp(cs.read("acct")) == fp(cm.read("acct")))
    // Slave reads during the changed-master cycle: the DIFF needs one (its
    // anti-join side) and the COW apply reads inside the store — but the
    // old gate's dedicated slave fingerprint scan must be gone. With the
    // non-maintained engine the same cycle reads the slave one extra time.
    val maintainedSlaveReads = cs.reads.get() - slaveReadsAfterPrime - 1 // -1: our assert above
    val (md2, sd2, ms2, ss2) = mkStores("maint1b")
    write(md2, "acct", custDf.withColumn("bal", $"bal" + 1.0))
    write(sd2, "acct", custDf)
    val cs2 = new Counting(ss2)
    new SyncEngine(new Counting(ms2), cs2, SyncConfig(
      primaryKeys = Map("acct" -> Seq("id")))).syncTable("acct")
    // The fused map-gate made the plain engine's divergent cycle equally
    // slave-read-lean (one map scan feeds gate AND diff), so maintained mode
    // may only TIE here; its remaining win is the in-sync cycle (see the
    // zero-jobs test above). It must never scan the slave MORE.
    assert(maintainedSlaveReads <= cs2.reads.get(),
      s"maintained gate should scan the slave no more than the fused map gate " +
        s"($maintainedSlaveReads vs ${cs2.reads.get()})")
  }

  test("maintained mode: applyCdc folds the fingerprint and converges without master scans") {
    val (md, sd, ms, ss) = mkStores("maintcdc")
    write(md, "acct", custDf)
    write(sd, "acct", custDf)
    val cm = new Counting(ms)
    val engine = new SyncEngine(cm, ss, SyncConfig(
      primaryKeys = Map("acct" -> Seq("id")), maintainFingerprints = true))
    engine.syncTable("acct") // prime
    val masterReadsAfterPrime = cm.reads.get()

    // CDC batch: delete id=2 (before image), update id=4 (D+I pair),
    // insert id=6 — an out-of-band feed, no master store involved.
    val changes = Seq(
      ("D", 2L, "bob", 11, 6.0),
      ("D", 4L, "dave", 13, 8.0), ("I", 4L, "dave", 13, 80.0),
      ("I", 6L, "fred", 15, 1.0))
      .toDF("op", "id", "name", "nk", "bal")
    val a = engine.applyCdc("acct", changes)
    assert(a == SyncAction.ApplyDelta("acct", 2L, 2L))
    assert(cm.reads.get() == masterReadsAfterPrime, "applyCdc must not scan the master")

    val expected = Seq(
      (1L, "alice", 10, 5.0), (3L, "carol", 12, 7.0), (5L, "erin", 14, 9.0),
      (4L, "dave", 13, 80.0), (6L, "fred", 15, 1.0)).toDF("id", "name", "nk", "bal")
    assert(fp(ss.read("acct")) == fp(expected))
    // The maintained value tracked the fold exactly (one full-scan audit).
    assert(engine.verifyMaintained("acct"))
  }

  test("applyCdc: malformed feed (I without its D before-image) detected") {
    val (md, sd, ms, ss) = mkStores("maintbadfeed")
    write(md, "acct", custDf)
    write(sd, "acct", custDf)
    val engine = new SyncEngine(ms, ss, SyncConfig(
      primaryKeys = Map("acct" -> Seq("id")), maintainFingerprints = true))
    engine.syncTable("acct") // prime
    // id=2 exists on the slave; an 'I' for it without the paired 'D' is an
    // update missing its before-image.
    val bad = Seq(("I", 2L, "bob", 11, 99.0)).toDF("op", "id", "name", "nk", "bal")
    val ex = intercept[IllegalArgumentException](
      engine.applyCdc("acct", bad, validateFeed = true))
    assert(ex.getMessage.contains("insert-only"))
    assert(engine.verifyMaintained("acct"), "validated reject must not mutate state")
    // The default (no-scan) path applies it and diverges SILENTLY — exactly
    // the documented failure shape; the audit escape hatch catches it.
    engine.applyCdc("acct", bad)
    assert(!engine.verifyMaintained("acct"),
      "undetected malformed feed must at least be visible to the audit")
    // a well-formed pair on a fresh engine still validates cleanly
    val engine2 = new SyncEngine(ms, ss, SyncConfig(
      primaryKeys = Map("acct" -> Seq("id")), maintainFingerprints = true))
    engine2.syncTable("acct")
    val good = Seq(("D", 1L, "alice", 10, 5.0), ("I", 1L, "alice", 10, 50.0),
      ("I", 9L, "zed", 1, 2.0)).toDF("op", "id", "name", "nk", "bal")
    assert(engine2.applyCdc("acct", good, validateFeed = true)
      == SyncAction.ApplyDelta("acct", 1L, 2L))
    assert(engine2.verifyMaintained("acct"))
  }

  test("syncSharedPartitions=false: snapshot records the SLAVE's fingerprints") {
    val (md, sd, ms, ss) = mkStores("maintsharedoff")
    val base = custDf.withColumn("grp", $"id" % 2)
    write(md, "acct", base)
    write(sd, "acct", base)
    val stateDir = tmpDir("fpstate_shared")
    val cfgOff = SyncConfig(primaryKeys = Map("acct" -> Seq("id")),
      partitionedTables = Map("acct" -> "grp"), maintainFingerprints = true,
      syncSharedPartitions = false, stateDir = Some(stateDir))
    new SyncEngine(ms, ss, cfgOff).syncTable("acct") // prime (equal)
    // Master changes a SHARED partition (grp=1) and grows a new one (grp=7):
    // with shared sync off, only grp=7 is copied; grp=1 stays divergent.
    val m2 = base.withColumn("bal",
      when($"id" === 1L, $"bal" + 10.0).otherwise($"bal"))
      .unionByName(Seq((7L, "gina", 16, 2.0, 7L)).toDF("id", "name", "nk", "bal", "grp"))
    write(md, "acct", m2)
    assert(new SyncEngine(ms, ss, cfgOff).syncTable("acct")
      .isInstanceOf[SyncAction.ApplyDelta])
    assert(ss.read("acct").filter($"id" === 7L).count() == 1, "missing partition copied")
    assert(fp(ss.read("acct")) != fp(ms.read("acct")), "shared partition stays divergent")

    // A later engine RE-ENABLES shared sync over the same persisted state:
    // the snapshot must carry the slave's TRUE grp=1 fingerprints, so the
    // gate sees the divergence and repairs it. A snapshot that had spilled
    // the master's values would claim grp=1 converged and skip forever.
    write(md, "acct", m2) // same content, fresh files → fresh change token
    val on = new SyncEngine(ms, ss, cfgOff.copy(syncSharedPartitions = true))
    assert(on.syncTable("acct").isInstanceOf[SyncAction.ApplyDelta])
    assert(fp(ss.read("acct")) == fp(ms.read("acct")), "divergence repaired")
  }

  test("maintained mode, partitioned: snapshot replaces the slave fingerprint scan") {
    val (md, sd, ms, ss) = mkStores("maintpart")
    val df = custDf.withColumn("grp", $"id" % 2)
    write(md, "acct", df)
    write(sd, "acct", df.filter($"id" =!= 3L)) // dirty partition grp=1
    val cfg = SyncConfig(primaryKeys = Map("acct" -> Seq("id")),
      partitionedTables = Map("acct" -> "grp"), maintainFingerprints = true)
    val engine = new SyncEngine(ms, ss, cfg)
    assert(engine.syncTable("acct").isInstanceOf[SyncAction.ApplyDelta]) // prime+converge
    assert(fp(ss.read("acct")) == fp(ms.read("acct")))

    // Plant an OUT-OF-BAND slave row in the untouched partition grp=0 (a
    // deliberate sole-writer violation): a slave fingerprint scan would see
    // grp=0 divergent and repair it; the snapshot gate trusts its own last
    // convergence and must not look at the slave outside the diff scope.
    ss.append("acct", Seq((98L, "ghost", 0, 0.0, 0L)).toDF("id", "name", "nk", "bal", "grp"))
    // Master changes ONLY in partition grp=1 → scoped diff covers grp=1.
    write(md, "acct", df.withColumn("bal",
      when($"id" === 1L, $"bal" + 10.0).otherwise($"bal")))
    assert(engine.syncTable("acct").isInstanceOf[SyncAction.ApplyDelta])
    assert(fp(ss.read("acct").filter($"grp" === 1L)) ==
      fp(ms.read("acct").filter($"grp" === 1L)))
    // The ghost SURVIVED: positive proof the slave fingerprint scan is gone
    // (the two-scan gate would have caught grp=0 and deleted it — verified
    // below), exactly the trust the sole-writer contract documents.
    assert(ss.read("acct").filter($"id" === 98L).count() == 1)

    // The non-maintained gate over the same state repairs the ghost.
    val plain = new SyncEngine(ms, ss, cfg.copy(maintainFingerprints = false))
    assert(plain.syncTable("acct").isInstanceOf[SyncAction.ApplyDelta])
    assert(fp(ss.read("acct")) == fp(ms.read("acct")))
    assert(ss.read("acct").filter($"id" === 98L).count() == 0)

    // Zero-job token skip holds for partitioned tables too (slave-side
    // writes don't move the MASTER token).
    val n = jobsDuring("maintpart-skip") {
      assert(engine.syncTable("acct") ==
        SyncAction.Skip("acct", "unchanged (master change token)"))
    }
    assert(n == 0, s"unchanged partitioned repeat sync ran $n jobs")
  }

  test("maintained mode: schema recopy invalidates maintained state (no stale skip)") {
    val (md, sd, ms, ss) = mkStores("maintschema")
    write(md, "acct", custDf)
    write(sd, "acct", custDf.filter($"id" =!= 5L))
    val engine = new SyncEngine(ms, ss, SyncConfig(
      primaryKeys = Map("acct" -> Seq("id")), maintainFingerprints = true))
    engine.syncTable("acct") // prime+converge on content W
    // Master schema changes → recopy path bypasses the fingerprint gate...
    write(md, "acct", custDf.withColumn("extra", lit(1)))
    assert(engine.syncTable("acct").isInstanceOf[SyncAction.CopyTable])
    // ...then master reverts to the ORIGINAL content: a stale maintained
    // fingerprint would claim "already in sync" while the slave still holds
    // the extra column; the invalidation forces a real cycle instead.
    write(md, "acct", custDf)
    assert(engine.syncTable("acct").isInstanceOf[SyncAction.CopyTable])
    assert(fp(ss.read("acct")) == fp(ms.read("acct")))
    assert(ss.read("acct").columns.toSeq == ms.read("acct").columns.toSeq)
  }
}
