package graft

import graft.functions.Hashing
import graft.ops.{Layout, Manifest}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The NATIVE streaming sink: `writeStream.format("graft")` appends each
  * micro-batch exactly once via the snapshot ledger (txnAppId × batch id) —
  * replays dedup, crashed attempts heal, foreign adoption is detected, and
  * the ledger survives compaction and snapshot expiry.
  */
class GraftStreamSinkSpec extends SparkSpec {

  private val docCols = Seq("doc_id", "text", "lang", "source", "n_chars")

  private def fp(df: org.apache.spark.sql.DataFrame): String =
    Hashing.multisetFingerprintAgg(df.select(docCols.map(col): _*), docCols)
      .head().getString(0)

  private def appTok(app: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(app.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(12)

  test("writeStream(graft): micro-batches land exactly-once; restarts deliver nothing new") {
    val dir = tmpDir("gsink") + "/docs"
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    Manifest.createEmpty(spark, dir, docs.schema, Seq("doc_id"))
    val feed = tmpDir("gsink_feed")
    val ckpt = tmpDir("gsink_ckpt")
    def runOnce(): Unit = {
      val q = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(feed)
        .writeStream.format("graft")
        .option("path", dir).option("txnAppId", "gsink-spec")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    docs.filter(col("doc_id") % 3 === 0).repartition(1)
      .write.mode("append").parquet(feed)
    runOnce()
    val n0 = docs.filter(col("doc_id") % 3 === 0).count()
    assert(spark.read.parquet(dir).count() == n0)
    // More feed files; a SECOND run (restart against the same checkpoint)
    // delivers only them.
    docs.filter(col("doc_id") % 3 =!= 0).repartition(2)
      .write.mode("append").parquet(feed)
    runOnce()
    assert(fp(spark.read.parquet(dir)) == fp(docs),
      "accumulated sink content must be the full corpus, each row once")
    // Idle restart: no new snapshot, no new rows.
    val snapBefore = Manifest.latestSnapshotId(spark, dir).get
    runOnce()
    assert(Manifest.latestSnapshotId(spark, dir).contains(snapBefore),
      "an idle restart must commit nothing")
    assert(fp(spark.read.parquet(dir)) == fp(docs))
    // The ledger recorded the batches for this app.
    assert(Manifest.txnVersion(spark, dir, "gsink-spec").exists(_ >= 1L))
    // The sink's rows are ordinary manifested data: snapshot-targeted
    // reads and incremental consumers see them (complete manifest).
    assert(Manifest.isComplete(spark, dir))
  }

  test("appendOnce: replay dedup, ledger survives compaction, crash-orphan heal, foreign adoption") {
    val dir = tmpDir("gsink_once") + "/docs"
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    docs.filter(col("doc_id") < 100).repartition(2).write.parquet(dir)
    Manifest.create(spark, dir, "doc_id")
    val b1 = docs.filter(col("doc_id").between(100, 149))
    val n1 = Layout.appendOnce(spark, dir, "app", 1L, b1)
    assert(n1 == b1.count(), s"first append lands the batch: $n1")
    assert(Layout.appendOnce(spark, dir, "app", 1L, b1) == -1L,
      "a replayed batch must dedup against the ledger")
    assert(spark.read.parquet(dir).count() == 150L)
    // The ledger is CARRIED through a full rewrite — a compaction renames
    // every file, but the replay check rides the snapshot ledger, not
    // file names.
    Layout.compactTable(spark, dir, 64L << 20)
    assert(Layout.appendOnce(spark, dir, "app", 1L, b1) == -1L,
      "ledger must survive compaction")
    // Crash heal: a leftover file of an UNCOMMITTED attempt (deterministic
    // prefix, unreferenced by any snapshot) is deleted, not doubled.
    val b2 = docs.filter(col("doc_id").between(150, 169))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val scratch = tmpDir("gsink_scratch")
    b2.repartition(1).write.mode("overwrite").parquet(scratch)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(scratch))
      .filter(s => s.getPath.getName.startsWith("part-")).head.getPath
    val orphan = new org.apache.hadoop.fs.Path(dir,
      s"part-sink-${appTok("app")}-2-99.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, part, fs, orphan, false,
      spark.sessionState.newHadoopConf())
    val n2 = Layout.appendOnce(spark, dir, "app", 2L, b2)
    assert(n2 == b2.count())
    assert(spark.read.parquet(dir).count() == 170L,
      "the crashed attempt's orphan must be healed, not doubled")
    assert(!fs.exists(orphan), "the orphan itself is deleted")
    // Foreign adoption: a crashed attempt's file that a FOREIGN incremental
    // snapshot already folded in — the retry records the txn and skips.
    val b3 = docs.filter(col("doc_id").between(170, 179))
    b3.repartition(1).write.mode("overwrite").parquet(scratch)
    val part3 = fs.listStatus(new org.apache.hadoop.fs.Path(scratch))
      .filter(s => s.getPath.getName.startsWith("part-")).head.getPath
    org.apache.hadoop.fs.FileUtil.copy(fs, part3, fs,
      new org.apache.hadoop.fs.Path(dir,
        s"part-sink-${appTok("app")}-3-0.parquet"), false,
      spark.sessionState.newHadoopConf())
    Manifest.createIncremental(spark, dir, "doc_id") // foreign adopt
    assert(Layout.appendOnce(spark, dir, "app", 3L, b3) == 0L,
      "an adopted batch must be recognized, not re-appended")
    assert(spark.read.parquet(dir).count() == 180L)
    assert(Manifest.txnVersion(spark, dir, "app").contains(3L))
    assert(Layout.appendOnce(spark, dir, "app", 3L, b3) == -1L)
    // Content-exact end state.
    assert(fp(spark.read.parquet(dir)) ==
      fp(docs.filter(col("doc_id") < 180)))
  }

  test("appendOnce under concurrency: racing writers of the SAME batch land it exactly once") {
    val dir = tmpDir("gsink_race") + "/docs"
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    docs.filter(col("doc_id") < 100).repartition(2).write.parquet(dir)
    Manifest.create(spark, dir, "doc_id")
    val batch = docs.filter(col("doc_id").between(100, 139))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // Two writers race the same (app, version): the table lock makes the
    // loser FAIL TYPED having touched nothing (the engine's concurrency
    // posture — a streaming sink's retry is the replay path), and the
    // retry observes the winner's ledger entry and dedups.
    val fs2 = (1 to 2).map(_ => Future {
      barrier.await()
      try Right(Layout.appendOnce(spark, dir, "race-app", 7L, batch))
      catch { case e: Manifest.ConcurrentCommitException => Left(e) }
    })
    val results = fs2.map(f => Await.result(f, 120.seconds))
    val landed = results.collect { case Right(n) => n }
    results.collect { case Left(_) => () } match {
      case Seq() => // both serialized through: one landed, one deduped
        assert(landed.sorted == Seq(-1L, batch.count()), s"$results")
      case _ => // the loser failed typed — its RETRY must dedup
        assert(landed == Seq(batch.count()), s"$results")
        assert(Layout.appendOnce(spark, dir, "race-app", 7L, batch) == -1L)
    }
    assert(spark.read.parquet(dir).count() == 140L)
    assert(Manifest.txnVersion(spark, dir, "race-app").contains(7L))
    // Two DIFFERENT apps with the same version id are independent ledgers.
    assert(Layout.appendOnce(spark, dir, "other-app", 7L,
      docs.filter(col("doc_id").between(140, 149))) == 10L)
    assert(spark.read.parquet(dir).count() == 150L)
  }

  test("sink into a hive-partitioned table: batches land in their k=v dirs, exactly-once holds") {
    val dir = tmpDir("gsink_part") + "/docs"
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    docs.filter(col("doc_id") < 100).write.partitionBy("lang").parquet(dir)
    Manifest.create(spark, dir, "doc_id")
    val b1 = docs.filter(col("doc_id").between(100, 179))
    val n1 = Layout.appendOnce(spark, dir, "part-app", 1L, b1)
    assert(n1 == b1.count())
    assert(Layout.appendOnce(spark, dir, "part-app", 1L, b1) == -1L)
    // Batch rows landed UNDER their partition dirs (partition-scoped scans
    // keep pruning), and content is exact including the partition column.
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val rels = graft.ops.FsMaint.listRelative(fs,
      new org.apache.hadoop.fs.Path(dir))(st =>
        st.getPath.getName.startsWith("part-sink-")).map(_._1)
    assert(rels.nonEmpty && rels.forall(_.matches("lang=[^/]+/part-sink-.*")),
      s"sink files must land in k=v dirs: $rels")
    assert(fp(spark.read.parquet(dir)) ==
      fp(docs.filter(col("doc_id") < 180)))
    assert(Manifest.isComplete(spark, dir))
  }

  test("empty micro-batch is a true no-op: no file, no snapshot, no ledger entry") {
    val dir = tmpDir("gsink_empty") + "/docs"
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    docs.limit(50).repartition(1).write.parquet(dir)
    Manifest.create(spark, dir, "doc_id")
    val snapBefore = Manifest.latestSnapshotId(spark, dir).get
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val filesBefore = graft.ops.FsMaint.dataFileCount(fs,
      new org.apache.hadoop.fs.Path(dir))
    // A 0-row frame still writes a schema-only parquet part file when
    // staged — the no-op contract must hold anyway.
    assert(Layout.appendOnce(spark, dir, "empty-app", 1L, docs.limit(0)) == 0L)
    assert(Manifest.latestSnapshotId(spark, dir).contains(snapBefore),
      "an empty batch must commit nothing")
    assert(graft.ops.FsMaint.dataFileCount(fs,
      new org.apache.hadoop.fs.Path(dir)) == filesBefore,
      "an empty batch must land nothing")
    assert(Manifest.txnVersion(spark, dir, "empty-app").isEmpty)
  }

  test("writeStream(graft) Update + mergeKey: exactly-once keyed upserts across restarts") {
    val dir = tmpDir("gsink_up") + "/docs"
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    docs.filter(col("doc_id") < 100).repartition(2).write.parquet(dir)
    Manifest.create(spark, dir, "doc_id")
    val feed = tmpDir("gsink_up_feed")
    val ckpt = tmpDir("gsink_up_ckpt")
    def runOnce(): Unit = {
      val q = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(feed)
        .writeStream.format("graft").outputMode("update")
        .option("path", dir).option("txnAppId", "gsink-up")
        .option("mergeKey", "doc_id")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // Batch 1: updates (keys 50-59, rewritten text) + inserts (100-109).
    val b1 = docs.filter(col("doc_id").between(50, 59))
      .withColumn("text", concat(lit("u1:"), col("text")))
      .unionByName(docs.filter(col("doc_id").between(100, 109)))
    b1.repartition(1).write.mode("append").parquet(feed)
    runOnce()
    val expect1 = docs.filter(col("doc_id") < 100)
      .withColumn("text", when(col("doc_id").between(50, 59),
        concat(lit("u1:"), col("text"))).otherwise(col("text")))
      .unionByName(docs.filter(col("doc_id").between(100, 109)))
    assert(fp(spark.read.parquet(dir)) == fp(expect1),
      "updates must replace in place, inserts must append")
    // Batch 2 re-updates one of batch 1's keys; a RESTART delivers only it.
    docs.filter(col("doc_id") === 55L)
      .withColumn("text", lit("final")).repartition(1)
      .write.mode("append").parquet(feed)
    runOnce()
    assert(spark.read.parquet(dir)
      .filter(col("doc_id") === 55L).head().getString(1) == "final")
    assert(spark.read.parquet(dir).count() == 110L, "no duplicated keys")
    // Idle restart: nothing new, no snapshot.
    val snapBefore = Manifest.latestSnapshotId(spark, dir).get
    runOnce()
    assert(Manifest.latestSnapshotId(spark, dir).contains(snapBefore))
    assert(Manifest.isComplete(spark, dir))
  }

  test("mergeKeyedOnce: replay dedup, ledger atomic with the COW commit, survives compaction") {
    val dir = tmpDir("gsink_mko") + "/docs"
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    docs.filter(col("doc_id") < 100).repartition(2).write.parquet(dir)
    Manifest.create(spark, dir, "doc_id")
    val delta = docs.filter(col("doc_id").between(90, 119))
      .withColumn("source", lit("upsert"))
    val r1 = Layout.mergeKeyedOnce(spark, dir, "doc_id", "mko", 1L, delta)
    assert(r1.rowsUpdated == 10L && r1.rowsInserted == 20L, s"$r1")
    // Replay: the ledger (published atomically with the merge's snapshot)
    // makes the second delivery a no-op.
    val r2 = Layout.mergeKeyedOnce(spark, dir, "doc_id", "mko", 1L, delta)
    assert(r2.filesRewritten == -1, s"replay must dedup: $r2")
    assert(spark.read.parquet(dir).count() == 120L)
    // Ledger survives a full rewrite.
    Layout.compactTable(spark, dir, 64L << 20)
    assert(Layout.mergeKeyedOnce(spark, dir, "doc_id", "mko", 1L, delta)
      .filesRewritten == -1, "ledger must survive compaction")
    // A PURE-INSERT txn merge (keys outside every range) rides appendOnce's
    // crash-safe path and still records the ledger.
    val ins = docs.filter(col("doc_id") < 10)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val r3 = Layout.mergeKeyedOnce(spark, dir, "doc_id", "mko", 2L, ins)
    assert(r3.filesRewritten == 0 && r3.rowsInserted == 10L, s"$r3")
    assert(Layout.mergeKeyedOnce(spark, dir, "doc_id", "mko", 2L, ins)
      .filesRewritten == -1)
    assert(spark.read.parquet(dir).count() == 130L)
    assert(Manifest.txnVersion(spark, dir, "mko").contains(2L))
    // Content-exact end state vs a batch replay of the same operations.
    val expected = docs.filter(col("doc_id") < 90)
      .unionByName(delta).unionByName(ins)
    assert(fp(spark.read.parquet(dir)) == fp(expected))
  }

  test("mergeKeyedOnce crash window: a pure-insert batch's landed-but-uncommitted files heal on replay") {
    val dir = tmpDir("gsink_mkc") + "/docs"
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    docs.filter(col("doc_id") < 100).repartition(2).write.parquet(dir)
    Manifest.create(spark, dir, "doc_id")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val delta = docs.filter(col("doc_id").between(90, 119))
      .withColumn("source", lit("upsert"))
    assert(Layout.mergeKeyedOnce(spark, dir, "doc_id", "mkc", 1L, delta)
      .rowsUpdated == 10L)
    // CRASH WINDOW: batch 2 is a pure insert, so it lands prefix-named
    // files through appendOnce — here one landed and the commit never
    // happened. Its rows (existing keys 0..2) must not leak into the table.
    val scratch = tmpDir("gsink_mkc_scratch")
    docs.filter(col("doc_id") < 3).repartition(1)
      .write.mode("overwrite").parquet(scratch)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(scratch))
      .filter(s => s.getPath.getName.startsWith("part-")).head.getPath
    val orphan = new org.apache.hadoop.fs.Path(dir,
      s"part-sink-${appTok("mkc")}-2-99.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, part, fs, orphan, false,
      spark.sessionState.newHadoopConf())
    // The replay triages the orphan BEFORE the completeness check (which
    // would otherwise refuse every retry) and lands the batch exactly once.
    val ins = docs.filter(col("doc_id") < 10)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val r = Layout.mergeKeyedOnce(spark, dir, "doc_id", "mkc", 2L, ins)
    assert(r.filesRewritten == 0 && r.rowsInserted == 10L, s"$r")
    assert(!fs.exists(orphan), "the crashed batch's orphan is healed")
    assert(Manifest.txnVersion(spark, dir, "mkc").contains(2L))
    assert(Layout.mergeKeyedOnce(spark, dir, "doc_id", "mkc", 2L, ins)
      .filesRewritten == -1, "the healed batch dedups on a later replay")
    assert(fp(spark.read.parquet(dir)) == fp(docs.filter(col("doc_id") < 90)
      .unionByName(delta).unionByName(ins)),
      "replay after the crash lands the batch exactly once, no orphan rows")
  }

  test("mergeKeyedDvOnce: zero rewrites, atomic DV+append+ledger, replay dedup, fold composes") {
    val dir = tmpDir("gsink_mdv") + "/docs"
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    docs.filter(col("doc_id") < 100).repartition(2).write.parquet(dir)
    Manifest.create(spark, dir, "doc_id")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def dataFiles(): Map[String, Long] = {
      val out = Map.newBuilder[String, Long]
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
      while (it.hasNext) {
        val f = it.next()
        val p = f.getPath.toUri.getPath
        if (f.getPath.getName.startsWith("part-") && !p.contains("_graft"))
          out += p -> f.getModificationTime
      }
      out.result()
    }
    val before = dataFiles()
    val delta = docs.filter(col("doc_id").between(90, 119))
      .withColumn("source", lit("dvup"))
    val r1 = Layout.mergeKeyedDvOnce(spark, dir, "doc_id", "mdv", 1L, delta)
    assert(r1.filesRewritten == 0 && r1.rowsUpdated == 10L &&
      r1.rowsInserted == 20L, s"$r1")
    // ZERO data-file rewrites: every pre-existing file untouched, the
    // batch landed as appended sink files only.
    assert(before.toSet.subsetOf(dataFiles().toSet),
      "a DV upsert must not rewrite any existing data file")
    val latest = Manifest.latestSnapshotId(spark, dir).get
    assert(Manifest.hasDv(spark, dir, latest), "matched positions → sidecar")
    // Ledger committed ATOMICALLY with the DV+append snapshot.
    assert(Manifest.txnVersion(spark, dir, "mdv").contains(1L))
    val r2 = Layout.mergeKeyedDvOnce(spark, dir, "doc_id", "mdv", 1L, delta)
    assert(r2.filesRewritten == -1, s"replay must dedup: $r2")
    // Exact content: matched rows replaced once, inserts once.
    val expected = docs.filter(col("doc_id") < 90).unionByName(delta)
    assert(fp(Manifest.readAsOf(spark, dir, latest)) == fp(expected))
    // A second DV batch whose matches live in the FIRST batch's appended
    // files; then the targeted fold returns the table to clean parquet
    // with identical content.
    val delta2 = docs.filter(col("doc_id").between(110, 114))
      .withColumn("source", lit("dvup2"))
    val r3 = Layout.mergeKeyedDvOnce(spark, dir, "doc_id", "mdv", 2L, delta2)
    assert(r3.filesRewritten == 0 && r3.rowsUpdated == 5L, s"$r3")
    val expected2 = docs.filter(col("doc_id") < 90).unionByName(
      delta.filter(!col("doc_id").between(110, 114))).unionByName(delta2)
    val fpBefore = fp(Manifest.readAsOf(spark, dir,
      Manifest.latestSnapshotId(spark, dir).get))
    assert(fpBefore == fp(expected2))
    assert(Layout.compactDeletes(spark, dir) > 0)
    val latest3 = Manifest.latestSnapshotId(spark, dir).get
    assert(!Manifest.hasDv(spark, dir, latest3))
    assert(fp(spark.read.parquet(dir)) == fpBefore, "fold preserves content")
    // Ledger survives the fold.
    assert(Layout.mergeKeyedDvOnce(spark, dir, "doc_id", "mdv", 2L, delta2)
      .filesRewritten == -1)
    // CRASH WINDOW: files of a batch landed (prefix-named) but the commit
    // never happened — the replay must triage them away BEFORE the
    // completeness check and redo the batch exactly once.
    val scratch = tmpDir("gsink_mdv_scratch")
    docs.filter(col("doc_id") < 3).repartition(1)
      .write.mode("overwrite").parquet(scratch)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(scratch))
      .filter(s => s.getPath.getName.startsWith("part-")).head.getPath
    val orphan = new org.apache.hadoop.fs.Path(dir,
      s"part-sink-${appTok("mdv")}-3-99.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, part, fs, orphan, false,
      spark.sessionState.newHadoopConf())
    val delta3 = docs.filter(col("doc_id").between(80, 84))
      .withColumn("source", lit("dvup3"))
    val r4 = Layout.mergeKeyedDvOnce(spark, dir, "doc_id", "mdv", 3L, delta3)
    assert(r4.filesRewritten == 0 && r4.rowsUpdated == 5L, s"$r4")
    assert(!fs.exists(orphan), "the crashed batch's orphan is healed")
    val expected3 = fp(
      docs.filter(col("doc_id") < 90 && !col("doc_id").between(80, 84))
        .unionByName(delta.filter(!col("doc_id").between(110, 114)))
        .unionByName(delta2).unionByName(delta3))
    assert(fp(Manifest.readAsOf(spark, dir,
      Manifest.latestSnapshotId(spark, dir).get)) == expected3,
      "replay after the crash lands the batch exactly once, no orphan rows")
  }

  test("mergeKeyedDv statement identity: a crashed statement's orphans heal; completed work never dedups") {
    val dir = tmpDir("gsink_stmtdv") + "/docs"
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    docs.filter(col("doc_id") < 100).repartition(2).write.parquet(dir)
    Manifest.create(spark, dir, "doc_id")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // Simulate a CRASHED dv-mode statement: prefix-named files landed for
    // the version the NEXT statement will claim (latest+1 = 2), no commit.
    val scratch = tmpDir("gsink_stmtdv_scratch")
    docs.filter(col("doc_id") < 3).repartition(1)
      .write.mode("overwrite").parquet(scratch)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(scratch))
      .filter(s => s.getPath.getName.startsWith("part-")).head.getPath
    val orphan = new org.apache.hadoop.fs.Path(dir,
      s"part-sink-${appTok("__stmt-dv")}-2-99.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, part, fs, orphan, false,
      spark.sessionState.newHadoopConf())
    // A NEW statement at the same version cleans the orphans and lands.
    val delta = docs.filter(col("doc_id").between(90, 109))
      .withColumn("source", lit("stmt"))
    val r = Layout.mergeKeyedDv(spark, dir, "doc_id", delta)
    assert(r.filesRewritten == 0 && r.rowsUpdated == 10L &&
      r.rowsInserted == 10L, s"$r")
    assert(!fs.exists(orphan), "the crashed statement's orphan is healed")
    val expected = fp(docs.filter(col("doc_id") < 90).unionByName(delta))
    assert(fp(Manifest.readAsOf(spark, dir,
      Manifest.latestSnapshotId(spark, dir).get)) == expected,
      "orphan rows must not leak into the committed state")
    // A LATER statement is never falsely deduped by the fixed app id.
    val delta2 = docs.filter(col("doc_id").between(95, 99))
      .withColumn("source", lit("stmt2"))
    val r2 = Layout.mergeKeyedDv(spark, dir, "doc_id", delta2)
    assert(r2.filesRewritten == 0 && r2.rowsUpdated == 5L, s"$r2")
    assert(fp(Manifest.readAsOf(spark, dir,
      Manifest.latestSnapshotId(spark, dir).get)) ==
      fp(docs.filter(col("doc_id") < 90)
        .unionByName(delta.filter(!col("doc_id").between(95, 99)))
        .unionByName(delta2)))
  }

  test("sink refusals: non-append mode, partitionBy, missing txnAppId — all typed") {
    val dir = tmpDir("gsink_bad") + "/docs"
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    Manifest.createEmpty(spark, dir, docs.schema, Seq("doc_id"))
    val feed = tmpDir("gsink_bad_feed")
    docs.limit(10).repartition(1).write.mode("overwrite").parquet(feed)
    def start(f: org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =>
        org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row]): Unit = {
      val q = f(spark.readStream.schema(docs.schema).parquet(feed)
        .writeStream.format("graft")
        .option("checkpointLocation", tmpDir("gsink_bad_ckpt")))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    intercept[Exception] { // no txnAppId
      start(_.option("path", dir))
    }
    intercept[Exception] { // partitionBy
      start(_.option("path", dir).option("txnAppId", "x").partitionBy("lang"))
    }
    intercept[Exception] { // Update mode without mergeKey
      start(_.outputMode("update").option("path", dir).option("txnAppId", "x"))
    }
    intercept[Exception] { // mergeKey in Append mode
      start(_.option("path", dir).option("txnAppId", "x")
        .option("mergeKey", "doc_id"))
    }
    intercept[Exception] { // Complete mode
      start(_.outputMode("complete").option("path", dir).option("txnAppId", "x"))
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // dataFileCount, not hasDataFiles: the latter recurses into the
    // manifest dir and would count the snapshot's own stats parquet.
    assert(graft.ops.FsMaint.dataFileCount(fs,
      new org.apache.hadoop.fs.Path(dir)) == 0L, "refused sinks write nothing")
  }
}
