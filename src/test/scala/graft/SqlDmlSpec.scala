package graft

import graft.functions.Hashing
import graft.ops.{Layout, Manifest}
import org.apache.spark.sql.functions._

/** The WRITABLE SQL surface: `INSERT INTO` / `DELETE FROM` / `MERGE INTO`
  * against `graft.`-catalog tables route to the engine's journaled COW
  * machinery (Layout.append/deleteRange/mergeKeyed) — results exact,
  * targeting preserved (untouched files never planned), unsupported shapes
  * refused typed.
  */
class SqlDmlSpec extends SparkSpec {

  private val docCols = Seq("doc_id", "text", "lang", "source", "n_chars")

  private def fp(df: org.apache.spark.sql.DataFrame): String =
    Hashing.multisetFingerprintAgg(df.select(docCols.map(col): _*), docCols)
      .head().getString(0)

  private def stage(tag: String): String = {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val dir = tmpDir(tag) + "/documents"
    spark.read.parquet(s"$sf001/documents.parquet")
      .repartition(8).write.parquet(dir)
    Layout.clusterByRange(spark, dir, "doc_id", 8)
    Manifest.create(spark, dir, "doc_id")
    dir
  }

  test("DELETE FROM: manifest-targeted COW — exact result, only overlapping files planned") {
    val dir = stage("dml_delete")
    val expected = fp(spark.read.parquet(dir)
      .filter(!col("doc_id").between(100L, 199L)))
    // The files the manifest will pick (range overlap) — the only data
    // files the DELETE is allowed to plan.
    val snap = Manifest.files(spark, dir)
    val picked = snap.filter(col("max_doc_id") >= 100L && col("min_doc_id") <= 199L)
      .select("file").collect().map(_.getString(0)).toSet
    val total = snap.count()
    assert(picked.nonEmpty && picked.size < total,
      s"fixture must make the delete targeted: ${picked.size} of $total")
    val preId = Manifest.latestSnapshotId(spark, dir).get
    spark.sql(s"DELETE FROM graft.`$dir` WHERE doc_id BETWEEN 100 AND 199")
    assert(fp(spark.read.parquet(dir)) == expected)
    // Snapshot diff proves the targeting: untouched files carried verbatim.
    val after = Manifest.files(spark, dir).select("file")
      .collect().map(_.getString(0)).toSet
    val before = snap.select("file").collect().map(_.getString(0)).toSet
    assert((before -- after) == picked, "exactly the picked files were replaced")
    // History contract holds through the SQL surface too.
    assert(fp(Manifest.readAsOf(spark, dir, preId)) !=
      fp(Manifest.readAsOf(spark, dir, preId + 1)))
    assert(Manifest.isComplete(spark, dir))
  }

  test("DELETE FROM under graft.delete.mode=dv: zero rewrites, readable, typed mode check") {
    val dir = stage("dml_dv")
    val docs = spark.read.parquet(dir)
    val expected = fp(docs.filter(!col("doc_id").between(100L, 199L)))
    val nExpected = docs.filter(!col("doc_id").between(100L, 199L)).count()
    spark.sql("SET graft.delete.mode=dv")
    try {
      spark.sql(s"DELETE FROM graft.`$dir` WHERE doc_id BETWEEN 100 AND 199")
    } finally spark.sql("SET graft.delete.mode=cow")
    val latest = Manifest.latestSnapshotId(spark, dir).get
    assert(Manifest.hasDv(spark, dir, latest),
      "dv mode must land as a deletion vector, not a COW rewrite")
    // SQL read applies the vector immediately (GraftDvReadRule).
    val got = spark.sql(s"SELECT * FROM graft.`$dir`")
    assert(got.count() == nExpected && fp(got) == expected)
    // A bogus mode is refused typed before anything runs.
    spark.sql("SET graft.delete.mode=sideways")
    try intercept[Exception] {
      spark.sql(s"DELETE FROM graft.`$dir` WHERE doc_id BETWEEN 0 AND 9")
    } finally spark.sql("SET graft.delete.mode=cow")
  }

  test("MERGE/UPDATE under graft.merge.mode=dv: zero rewrites, append+positions, fold composes") {
    val dir = stage("dml_mdv")
    val docs = spark.read.parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def stamps(): Set[(String, Long)] = {
      val out = Set.newBuilder[(String, Long)]
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
      while (it.hasNext) {
        val st = it.next()
        val p = st.getPath.toUri.getPath
        if (st.getPath.getName.startsWith("part-") && !p.contains("_graft"))
          out += p -> st.getModificationTime
      }
      out.result()
    }
    docs.filter(col("doc_id").between(50L, 69L))
      .withColumn("source", lit("mdv"))
      .unionByName(docs.filter(col("doc_id") < 10)
        .withColumn("doc_id", col("doc_id") + 800000L)
        .withColumn("source", lit("mdv")))
      .createOrReplaceTempView("dml_mdv_src")
    val before = stamps()
    spark.sql("SET graft.merge.mode=dv")
    val (m, u) = try {
      val m0 = spark.sql(
        s"""MERGE INTO graft.`$dir` t USING dml_mdv_src s ON t.doc_id = s.doc_id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin).head()
      val u0 = spark.sql(s"UPDATE graft.`$dir` SET n_chars = n_chars + 3 " +
        "WHERE doc_id BETWEEN 200 AND 219").head()
      (m0, u0)
    } finally spark.sql("SET graft.merge.mode=cow")
    assert(m.getInt(m.fieldIndex("files_rewritten")) == 0 &&
      m.getLong(m.fieldIndex("rows_updated")) == 20L &&
      m.getLong(m.fieldIndex("rows_inserted")) == 10L, s"merge: $m")
    assert(u.getInt(u.fieldIndex("files_rewritten")) == 0 &&
      u.getLong(u.fieldIndex("rows_updated")) == 20L, s"update: $u")
    assert(before.subsetOf(stamps()),
      "DV-mode MERGE/UPDATE must not rewrite any existing data file")
    val latest = Manifest.latestSnapshotId(spark, dir).get
    assert(Manifest.hasDv(spark, dir, latest))
    val expected = fp(docs.filter(!col("doc_id").between(50L, 69L))
      .withColumn("n_chars", when(col("doc_id").between(200L, 219L),
        col("n_chars") + 3L).otherwise(col("n_chars")))
      .unionByName(spark.table("dml_mdv_src")))
    assert(fp(spark.sql(s"SELECT * FROM graft.`$dir`")) == expected)
    // The fold returns clean parquet with identical content.
    assert(Layout.compactDeletes(spark, dir) > 0)
    assert(fp(spark.read.parquet(dir)) == expected)
    // Bogus mode refused typed — by the whole-row and the general
    // row-level command alike, with one message naming both modes.
    import spark.implicits._
    Seq(3L).toDF("doc_id").createOrReplaceTempView("dml_bogus_src")
    spark.sql("SET graft.merge.mode=diagonal")
    val (eUpd, eRow) = try (
      intercept[Exception] {
        spark.sql(s"UPDATE graft.`$dir` SET source = 'x' WHERE doc_id < 5")
      },
      intercept[Exception] {
        spark.sql(
          s"""MERGE INTO graft.`$dir` t USING dml_bogus_src s ON t.doc_id = s.doc_id
             |WHEN MATCHED THEN DELETE""".stripMargin)
      }) finally spark.sql("SET graft.merge.mode=cow")
    for (e <- Seq(eUpd, eRow))
      assert(e.getMessage.contains("`cow`") && e.getMessage.contains("`dv`") &&
        e.getMessage.contains("diagonal"), e.getMessage)
    assert(eUpd.getMessage == eRow.getMessage)
  }

  test("general row-level MERGE under graft.merge.mode=dv: BY SOURCE sync at zero rewrites") {
    val dir = stage("dml_mdv_row")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def stamps(): Set[(String, Long)] = {
      val out = Set.newBuilder[(String, Long)]
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
      while (it.hasNext) {
        val st = it.next()
        val p = st.getPath.toUri.getPath
        if (st.getPath.getName.startsWith("part-") && !p.contains("_graft"))
          out += p -> st.getModificationTime
      }
      out.result()
    }
    // The reference's whole sync as one statement, MERGE-ON-READ: target
    // becomes identical to the source with ZERO data files rewritten.
    val src = spark.read.parquet(s"$sf001/documents.parquet")
      .filter(col("doc_id") % 3 === 0)
      .withColumn("text", concat(lit("s:"), col("text")))
    src.createOrReplaceTempView("dml_mdvr_src")
    val expected = fp(src)
    val nSrc = src.count()
    val nAll = spark.read.parquet(dir).count()
    val before = stamps()
    spark.sql("SET graft.merge.mode=dv")
    val res = try spark.sql(
      s"""MERGE INTO graft.`$dir` t USING dml_mdvr_src s ON t.doc_id = s.doc_id
         |WHEN MATCHED AND t.n_chars >= 0 THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin).head()
    finally spark.sql("SET graft.merge.mode=cow")
    assert(res.getInt(res.fieldIndex("files_rewritten")) == 0, s"$res")
    assert(res.getLong(res.fieldIndex("rows_updated")) == nSrc &&
      res.getLong(res.fieldIndex("rows_deleted")) == nAll - nSrc, s"$res")
    assert(before.subsetOf(stamps()),
      "dv-mode row-level MERGE must not rewrite any existing data file")
    assert(Manifest.hasDv(spark, dir,
      Manifest.latestSnapshotId(spark, dir).get))
    assert(fp(spark.sql(s"SELECT * FROM graft.`$dir`")) == expected,
      "target ≡ source through the vector")
    // Pure-delete clause mix (nUp = 0) publishes a metadata-only DV commit.
    spark.sql("SET graft.merge.mode=dv")
    val res2 = try spark.sql(
      s"""MERGE INTO graft.`$dir` t USING dml_mdvr_src s ON t.doc_id = s.doc_id
         |WHEN MATCHED AND t.doc_id < 30 THEN DELETE""".stripMargin).head()
    finally spark.sql("SET graft.merge.mode=cow")
    assert(res2.getInt(res2.fieldIndex("files_rewritten")) == 0 &&
      res2.getLong(res2.fieldIndex("rows_deleted")) > 0, s"$res2")
    val expected2 = fp(src.filter(col("doc_id") >= 30))
    assert(fp(spark.sql(s"SELECT * FROM graft.`$dir`")) == expected2)
    // Fold equivalence closes the loop.
    assert(Layout.compactDeletes(spark, dir) > 0)
    assert(fp(spark.read.parquet(dir)) == expected2)
    assert(Manifest.isComplete(spark, dir))
  }

  test("DELETE FROM without a targetable range is refused typed (never a hidden full rewrite)") {
    val dir = stage("dml_delete_bad")
    val before = fp(spark.read.parquet(dir))
    intercept[Exception] { // predicate on a non-stats column
      spark.sql(s"DELETE FROM graft.`$dir` WHERE lang = 'en'")
    }
    intercept[Exception] { // unconditioned delete
      spark.sql(s"DELETE FROM graft.`$dir`")
    }
    assert(fp(spark.read.parquet(dir)) == before, "refused DML must touch nothing")
  }

  test("DELETE FROM: IS NOT NULL on a column OTHER than the range key is refused") {
    // Regression: on a multi-key table, `k1 IS NOT NULL AND k2 BETWEEN ..`
    // used to be accepted when the IsNotNull conjunct walked FIRST (the range
    // column hadn't bound yet), silently executing a k2-range delete that
    // ignores the k1 conjunct — deleting NULL-k1 rows the WHERE excludes.
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val dir = tmpDir("dml_notnull") + "/documents"
    spark.read.parquet(s"$sf001/documents.parquet")
      .repartition(4).write.parquet(dir)
    Manifest.create(spark, dir, "doc_id", "n_chars")
    val before = fp(spark.read.parquet(dir))
    // Both conjunct orders must refuse identically (order independence).
    intercept[Exception] {
      spark.sql(s"DELETE FROM graft.`$dir` " +
        "WHERE doc_id IS NOT NULL AND n_chars BETWEEN 5 AND 10")
    }
    intercept[Exception] {
      spark.sql(s"DELETE FROM graft.`$dir` " +
        "WHERE n_chars BETWEEN 5 AND 10 AND doc_id IS NOT NULL")
    }
    assert(fp(spark.read.parquet(dir)) == before, "refused DML must touch nothing")
    // The implied IsNotNull on the BOUND column itself stays accepted.
    spark.sql(s"DELETE FROM graft.`$dir` " +
      "WHERE doc_id IS NOT NULL AND doc_id BETWEEN 0 AND 9")
    assert(spark.read.parquet(dir).filter(col("doc_id") <= 9L).count() == 0L)
  }

  test("INSERT INTO: appended files + incremental snapshot refresh") {
    val dir = stage("dml_insert")
    val preId = Manifest.latestSnapshotId(spark, dir).get
    val preFiles = Manifest.files(spark, dir).select("file")
      .collect().map(_.getString(0)).toSet
    spark.read.parquet(s"$sf001/documents.parquet")
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))
      .limit(25).createOrReplaceTempView("dml_insert_src")
    spark.sql(s"INSERT INTO graft.`$dir` SELECT * FROM dml_insert_src")
    val n = spark.read.parquet(dir).count()
    assert(n == 500L + 25L, s"expected 525 rows after insert, got $n")
    // Incremental refresh: prior files' stats carried, only appends scanned.
    val postFiles = Manifest.files(spark, dir).select("file")
      .collect().map(_.getString(0)).toSet
    assert(preFiles.subsetOf(postFiles), "append must carry every prior file")
    assert(Manifest.latestSnapshotId(spark, dir).get == preId + 1)
    assert(Manifest.isComplete(spark, dir))
    // The appended keys are immediately visible to the SQL read surface.
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$dir` " +
      "WHERE doc_id >= 1000000").head().getLong(0) == 25L)
    // INSERT OVERWRITE (whole table) is ONE atomic replace commit.
    spark.sql(s"INSERT OVERWRITE graft.`$dir` SELECT * FROM dml_insert_src")
    assert(spark.read.parquet(dir).count() == 25L)
    assert(Manifest.isComplete(spark, dir))
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$dir`")
      .head().getLong(0) == 25L)
  }

  test("INSERT OVERWRITE PARTITION + REPLACE WHERE: targeted replaces, violations refused typed") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val dir = tmpDir("dml_overwrite") + "/documents"
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    docs.repartitionByRange(8, col("doc_id"))
      .write.partitionBy("lang").parquet(dir)
    Manifest.create(spark, dir, "doc_id")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def stamps(): Map[String, Long] = {
      val out = Map.newBuilder[String, Long]
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
      while (it.hasNext) {
        val st = it.next()
        val p = st.getPath.toUri.getPath
        if (st.getPath.getName.startsWith("part-") && !p.contains("_graft"))
          out += p -> st.getModificationTime
      }
      out.result()
    }
    docs.createOrReplaceTempView("dml_ow_docs")
    // 1. Static-partition overwrite: lang='en' reloaded, every other
    //    partition's files untouched (mtime-asserted).
    val before = stamps()
    val nEn = docs.filter(col("lang") === "en").count()
    val nOther = docs.filter(col("lang") =!= "en").count()
    spark.sql(s"INSERT OVERWRITE graft.`$dir` PARTITION (lang='en') " +
      "SELECT doc_id, text, 'ow' AS source, n_chars FROM dml_ow_docs " +
      "WHERE lang = 'en'")
    val after1 = stamps()
    assert(before.filterNot(_._1.contains("lang=en")).toSet
      .subsetOf(after1.toSet), "non-target partitions must be untouched")
    assert(spark.read.parquet(dir).count() == nEn + nOther)
    assert(spark.read.parquet(dir)
      .filter(col("source") === "ow").count() == nEn)
    assert(Manifest.isComplete(spark, dir))
    // 2. REPLACE WHERE (range): only overlapping files rewritten; rows of
    //    picked files OUTSIDE the range survive.
    val snap = Manifest.files(spark, dir)
    val picked = snap.filter(col("max_doc_id") >= 0L && col("min_doc_id") <= 49L)
      .select("file").collect().map(_.getString(0)).toSet
    assert(picked.nonEmpty && picked.size < snap.count(),
      "fixture must make the range overwrite targeted")
    docs.filter(col("doc_id") < 25)
      .select(col("doc_id"), col("text"), lit("owr").as("source"),
        lit(9L).as("n_chars"), col("lang"))
      .writeTo(s"graft.`$dir`")
      .overwrite(col("doc_id").between(0L, 49L))
    val afterF = Manifest.files(spark, dir).select("file")
      .collect().map(_.getString(0)).toSet
    val beforeF = snap.select("file").collect().map(_.getString(0)).toSet
    assert((beforeF -- afterF) == picked,
      "exactly the range-overlapping files were replaced")
    val t = spark.read.parquet(dir)
    assert(t.filter(col("doc_id") < 25).count() == 25L)
    assert(t.filter(col("doc_id").between(25L, 49L)).count() == 0L,
      "in-range rows without a replacement are deleted")
    assert(t.filter(col("doc_id").between(50L, 99L)).count() ==
      docs.filter(col("doc_id").between(50L, 99L)).count(),
      "out-of-range rows of picked files survive the rewrite")
    assert(Manifest.isComplete(spark, dir))
    // 3. Violations refuse typed with NOTHING moved: inserted rows outside
    //    the overwritten range / partition.
    val preFp = Hashing.multisetFingerprintAgg(
      spark.read.parquet(dir), docCols).head().getString(0)
    val e1 = intercept[Exception] {
      docs.filter(col("doc_id").between(100L, 120L))
        .select(col("doc_id"), col("text"), lit("bad").as("source"),
          col("n_chars"), col("lang"))
        .writeTo(s"graft.`$dir`").overwrite(col("doc_id").between(0L, 49L))
    }
    assert(e1.getMessage.contains("outside the overwritten"), e1.getMessage)
    // (The SQL static-partition shape cannot violate — the analyzer injects
    // the partition constant into every row — so the cross-partition
    // violation is only reachable through the predicate-overwrite API.)
    val e2 = intercept[Exception] {
      docs.filter(col("lang") === "fr").limit(5)
        .select(col("doc_id"), col("text"), lit("bad").as("source"),
          col("n_chars"), col("lang"))
        .writeTo(s"graft.`$dir`").overwrite(col("lang") === "de")
    }
    assert(e2.getMessage.contains("outside the overwritten"), e2.getMessage)
    // 4. An untargetable predicate refuses typed before anything runs.
    intercept[Exception] {
      docs.limit(1)
        .select(col("doc_id"), col("text"), col("source"),
          col("n_chars"), col("lang"))
        .writeTo(s"graft.`$dir`").overwrite(col("text") === "nope")
    }
    assert(Hashing.multisetFingerprintAgg(spark.read.parquet(dir), docCols)
      .head().getString(0) == preFp, "refused overwrites must touch nothing")
    assert(Manifest.isComplete(spark, dir))
    // 5. DYNAMIC partition overwrite: the inserted data's own partitions
    //    (and ONLY those) are replaced — in one atomic commit.
    val before5 = stamps()
    val nFrPre = spark.read.parquet(dir).filter(col("lang") === "fr").count()
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      spark.sql(s"INSERT OVERWRITE graft.`$dir` " +
        "SELECT doc_id, text, 'dyn' AS source, n_chars, lang " +
        "FROM dml_ow_docs WHERE lang IN ('zh', 'es')")
    } finally {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    }
    val t5 = spark.read.parquet(dir)
    assert(t5.filter(col("lang").isin("zh", "es") &&
      col("source") =!= "dyn").count() == 0,
      "touched partitions fully replaced")
    // The reload re-materializes the SOURCE's rows for those partitions
    // (the earlier range overwrite had thinned zh/es — a reload restores).
    assert(t5.filter(col("lang") === "zh").count() ==
      docs.filter(col("lang") === "zh").count())
    assert(before5.filterNot(p => p._1.contains("lang=zh") ||
        p._1.contains("lang=es")).toSet.subsetOf(stamps().toSet),
      "partitions the data never touched must not move")
    // An untouched partition keeps its PRE-overwrite rows exactly (the
    // earlier range overwrite had already thinned fr — a dynamic reload of
    // zh/es must not resurrect or lose any of them).
    assert(t5.filter(col("lang") === "fr").count() == nFrPre)
    assert(Manifest.isComplete(spark, dir))
  }

  test("MERGE INTO: keyed whole-row upsert via the extension rule — updates in place, inserts append") {
    val dir = stage("dml_merge")
    import spark.implicits._
    Seq(
      (7L, "rewritten text", "xx", "sql-merge", 14L),   // update (key exists)
      (777777L, "brand new", "yy", "sql-merge", 9L)     // insert (key absent)
    ).toDF(docCols: _*).createOrReplaceTempView("dml_merge_src")
    val expected = fp(spark.read.parquet(dir).filter(col("doc_id") =!= 7L)
      .unionByName(spark.table("dml_merge_src")))
    val res = spark.sql(
      s"""MERGE INTO graft.`$dir` t USING dml_merge_src s ON t.doc_id = s.doc_id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    assert(res.length == 1)
    val row = res.head
    assert(row.getLong(row.fieldIndex("rows_updated")) == 1L &&
      row.getLong(row.fieldIndex("rows_inserted")) == 1L,
      s"merge outcome: $row")
    assert(fp(spark.read.parquet(dir)) == expected)
    assert(Manifest.isComplete(spark, dir))
    // Explicit identical assignments are the same shape — accepted.
    val res2 = spark.sql(
      s"""MERGE INTO graft.`$dir` t USING dml_merge_src s ON t.doc_id = s.doc_id
         |WHEN MATCHED THEN UPDATE SET doc_id = s.doc_id, text = s.text,
         |  lang = s.lang, source = s.source, n_chars = s.n_chars
         |WHEN NOT MATCHED THEN INSERT (doc_id, text, lang, source, n_chars)
         |  VALUES (s.doc_id, s.text, s.lang, s.source, s.n_chars)""".stripMargin)
      .collect()
    assert(res2.head.getLong(res2.head.fieldIndex("rows_updated")) == 2L,
      "second run: both keys now exist — two updates, zero inserts")
    assert(fp(spark.read.parquet(dir)) == expected, "idempotent re-merge")
  }

  test("MERGE INTO row-level: conditional partial UPDATE, DELETE, conditional INSERT — exact, first-clause-wins, targeted") {
    val dir = stage("dml_merge_row")
    import spark.implicits._
    Seq(
      (100L, "u1", 1), // matched, mark=1 → UPDATE (also satisfies clause 2: first wins)
      (101L, "u2", 2), // matched, mark=2 → DELETE
      (102L, "u3", 9), // matched, no clause applies → row survives untouched
      (888888L, "i1", 1), // not matched, mark=1 → INSERT
      (999999L, "i2", 9)  // not matched, no insert clause applies → dropped
    ).toDF("doc_id", "payload", "mark").createOrReplaceTempView("dml_mr_src")
    val before = spark.read.parquet(dir)
    val inserted = spark.sql(
      "SELECT CAST(888888 AS BIGINT) AS doc_id, 'i1' AS text, " +
        "CAST(NULL AS STRING) AS lang, 'merged' AS source, CAST(NULL AS BIGINT) AS n_chars")
    val expected = fp(before.filter(col("doc_id") =!= 101L)
      .withColumn("text",
        when(col("doc_id") === 100L, lit("u1")).otherwise(col("text")))
      .withColumn("n_chars",
        when(col("doc_id") === 100L, col("n_chars") + 100L).otherwise(col("n_chars")))
      .unionByName(inserted))
    // Targeting evidence: only files whose key range overlaps a SOURCE key
    // may be replaced (888888/999999 overlap nothing → pure append files).
    val snap = Manifest.files(spark, dir)
    val srcKeys = Seq(100L, 101L, 102L, 888888L, 999999L)
    val overlapping = snap.filter(srcKeys.map(k =>
        col(s"min_doc_id") <= k && col(s"max_doc_id") >= k).reduce(_ || _))
      .select("file").collect().map(_.getString(0)).toSet
    val allBefore = snap.select("file").collect().map(_.getString(0)).toSet
    assert(overlapping.nonEmpty && overlapping.size < allBefore.size,
      "fixture must make the merge targeted")
    val res = spark.sql(
      s"""MERGE INTO graft.`$dir` t USING dml_mr_src s ON t.doc_id = s.doc_id
         |WHEN MATCHED AND s.mark = 1 AND t.n_chars >= 0
         |  THEN UPDATE SET text = s.payload, n_chars = t.n_chars + 100
         |WHEN MATCHED AND s.mark <= 2 THEN DELETE
         |WHEN NOT MATCHED AND s.mark = 1
         |  THEN INSERT (doc_id, text, source) VALUES (s.doc_id, s.payload, 'merged')
         |""".stripMargin).head()
    assert(res.getLong(res.fieldIndex("rows_updated")) == 1L &&
      res.getLong(res.fieldIndex("rows_deleted")) == 1L &&
      res.getLong(res.fieldIndex("rows_inserted")) == 1L, s"merge outcome: $res")
    assert(fp(spark.read.parquet(dir)) == expected)
    assert(Manifest.isComplete(spark, dir))
    // Files without matched keys never rewrite: the replaced set is exactly
    // the overlapping picks.
    val allAfter = Manifest.files(spark, dir).select("file")
      .collect().map(_.getString(0)).toSet
    assert((allBefore -- allAfter) == overlapping,
      "exactly the range-overlapping files were replaced")
    // Refusals stay typed on the general path.
    intercept[org.apache.spark.sql.AnalysisException] { // BY SOURCE scope: no source refs
      spark.sql(s"""MERGE INTO graft.`$dir` t USING dml_mr_src s ON t.doc_id = s.doc_id
                   |WHEN MATCHED THEN DELETE
                   |WHEN NOT MATCHED BY SOURCE AND s.mark = 1 THEN DELETE""".stripMargin)
    }
    intercept[org.apache.spark.sql.AnalysisException] { // key reassignment
      spark.sql(s"""MERGE INTO graft.`$dir` t USING dml_mr_src s ON t.doc_id = s.doc_id
                   |WHEN MATCHED AND s.mark = 1 THEN UPDATE SET doc_id = s.doc_id + 1""".stripMargin)
    }
    intercept[org.apache.spark.sql.AnalysisException] { // target ref in INSERT scope
      spark.sql(s"""MERGE INTO graft.`$dir` t USING dml_mr_src s ON t.doc_id = s.doc_id
                   |WHEN NOT MATCHED AND t.n_chars > 0 THEN INSERT (doc_id) VALUES (s.doc_id)""".stripMargin)
    }
  }

  test("MERGE INTO with a COMPOSITE ON key: tuple identity, multi-clause, typed refusals") {
    val dir = stage("dml_merge_comp")
    import spark.implicits._
    val before = spark.read.parquet(dir)
    // (doc_id, lang) identity: langOf carries the TRUE lang for matching
    // rows; the 'zz' probe shares doc_id 102 but not lang → NOT matched.
    val langOf = before.filter(col("doc_id").isin(100L, 101L, 102L))
      .select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    Seq(
      (100L, langOf(100L), "u"), // matched tuple → partial UPDATE
      (101L, langOf(101L), "d"), // matched tuple → DELETE
      (102L, "zz", "u"),         // same doc_id, wrong lang → INSERT
      (777777L, "xx", "u")       // new doc_id → INSERT
    ).toDF("doc_id", "lang", "mark").createOrReplaceTempView("dml_comp_src")
    val inserted = spark.sql(
      "SELECT CAST(102 AS BIGINT) AS doc_id, CAST(NULL AS STRING) AS text, " +
        "'zz' AS lang, 'cins' AS source, CAST(NULL AS BIGINT) AS n_chars " +
        "UNION ALL SELECT CAST(777777 AS BIGINT), NULL, 'xx', 'cins', NULL")
    val expected = fp(before.filter(col("doc_id") =!= 101L)
      .withColumn("source",
        when(col("doc_id") === 100L, lit("cupd")).otherwise(col("source")))
      .unionByName(inserted))
    val res = spark.sql(
      s"""MERGE INTO graft.`$dir` t USING dml_comp_src s
         |ON t.doc_id = s.doc_id AND t.lang = s.lang
         |WHEN MATCHED AND s.mark = 'd' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET source = 'cupd'
         |WHEN NOT MATCHED THEN INSERT (doc_id, lang, source)
         |  VALUES (s.doc_id, s.lang, 'cins')""".stripMargin).head()
    assert(res.getLong(res.fieldIndex("rows_updated")) == 1L &&
      res.getLong(res.fieldIndex("rows_deleted")) == 1L &&
      res.getLong(res.fieldIndex("rows_inserted")) == 2L, s"outcome: $res")
    assert(fp(spark.read.parquet(dir)) == expected)
    assert(Manifest.isComplete(spark, dir))
    // Component reassignment is a key change — refused typed.
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"""MERGE INTO graft.`$dir` t USING dml_comp_src s
                   |ON t.doc_id = s.doc_id AND t.lang = s.lang
                   |WHEN MATCHED THEN UPDATE SET lang = 'yy'""".stripMargin)
    }
    // Non-equality conjuncts stay refused typed.
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"""MERGE INTO graft.`$dir` t USING dml_comp_src s
                   |ON t.doc_id = s.doc_id AND t.n_chars > s.doc_id
                   |WHEN MATCHED THEN DELETE""".stripMargin)
    }
  }

  test("MERGE cardinality violation: >1 source row per matched target row fails typed") {
    val dir = stage("dml_merge_card")
    import spark.implicits._
    // Two source rows hit target doc_id 100; one resolves to DELETE, the
    // other to no clause — the standard's cardinality violation (and the
    // shape a distinct()ed delete-key set would silently accept).
    Seq((100L, "d"), (100L, "x"), (101L, "d"))
      .toDF("doc_id", "mark").createOrReplaceTempView("dml_card_src")
    val ex = intercept[Exception] {
      spark.sql(s"""MERGE INTO graft.`$dir` t USING dml_card_src s
                   |ON t.doc_id = s.doc_id
                   |WHEN MATCHED AND s.mark = 'd' THEN DELETE""".stripMargin)
    }
    assert(ex.getMessage.contains("cardinality"), ex.getMessage)
    // Nothing landed: the violation fails the whole statement.
    assert(spark.read.parquet(dir).filter(col("doc_id").isin(100L, 101L))
      .count() == 2L)
    // Duplicate pairs that ALL resolve to no clause are harmless — no error.
    val r2 = spark.sql(s"""MERGE INTO graft.`$dir` t USING dml_card_src s
                          |ON t.doc_id = s.doc_id
                          |WHEN MATCHED AND s.mark = 'q' THEN DELETE""".stripMargin).head()
    assert(r2.getLong(r2.fieldIndex("rows_deleted")) == 0L)
  }

  test("MERGE source above graft.merge.maxSourceKeys is refused typed (broadcast contract)") {
    val dir = stage("dml_merge_big")
    import spark.implicits._
    spark.conf.set("graft.merge.maxSourceKeys", "10")
    try {
      Seq.tabulate(25)(i => (i.toLong + 5000000L, "x")).toDF("doc_id", "mark")
        .createOrReplaceTempView("dml_big_src")
      val ex = intercept[Exception] {
        spark.sql(s"""MERGE INTO graft.`$dir` t USING dml_big_src s
                     |ON t.doc_id = s.doc_id
                     |WHEN MATCHED THEN DELETE""".stripMargin)
      }
      assert(ex.getMessage.contains("maxSourceKeys"), ex.getMessage)
    } finally spark.conf.unset("graft.merge.maxSourceKeys")
  }

  test("MERGE INTO row-level: matched-DELETE only — the reference's keyed-delete semantic in SQL") {
    val dir = stage("dml_merge_del")
    import spark.implicits._
    Seq(50L, 51L, 52L, 750000L).toDF("doc_id")
      .createOrReplaceTempView("dml_md_src")
    val expected = fp(spark.read.parquet(dir)
      .filter(!col("doc_id").isin(50L, 51L, 52L)))
    val res = spark.sql(
      s"""MERGE INTO graft.`$dir` t USING dml_md_src s ON t.doc_id = s.doc_id
         |WHEN MATCHED THEN DELETE""".stripMargin).head()
    assert(res.getLong(res.fieldIndex("rows_deleted")) == 3L &&
      res.getLong(res.fieldIndex("rows_updated")) == 0L &&
      res.getLong(res.fieldIndex("rows_inserted")) == 0L, s"outcome: $res")
    assert(fp(spark.read.parquet(dir)) == expected)
    assert(Manifest.isComplete(spark, dir))
  }

  test("MERGE BY SOURCE: upsert + delete-unmatched makes target identical to source — the full sync in one statement") {
    val dir = stage("dml_merge_bysrc")
    import spark.implicits._
    // Source from the ORIGINAL corpus, not the staged dir: the merge
    // replaces the staged files, and a lazy view over them would read
    // paths the COW just retired.
    val src = spark.read.parquet(s"$sf001/documents.parquet")
      .filter(col("doc_id") % 3 === 0)
      .withColumn("text", concat(lit("s:"), col("text")))
    src.createOrReplaceTempView("dml_bs_src")
    val expected = fp(src)
    val nSrc = src.count()
    val nAll = spark.read.parquet(dir).count()
    val res = spark.sql(
      s"""MERGE INTO graft.`$dir` t USING dml_bs_src s ON t.doc_id = s.doc_id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin).head()
    assert(res.getLong(res.fieldIndex("rows_updated")) == nSrc &&
      res.getLong(res.fieldIndex("rows_deleted")) == nAll - nSrc &&
      res.getLong(res.fieldIndex("rows_inserted")) == 0L, s"outcome: $res")
    assert(fp(spark.read.parquet(dir)) == expected,
      "target must be exactly the source after the sync-shaped merge")
    assert(Manifest.isComplete(spark, dir))
    // Conditional BY SOURCE UPDATE (partial SET, target-only condition).
    val res2 = spark.sql(
      s"""MERGE INTO graft.`$dir` t USING dml_bs_src s ON t.doc_id = s.doc_id
         |WHEN NOT MATCHED BY SOURCE AND t.n_chars >= 0 THEN UPDATE SET source = 'stale'
         |""".stripMargin).head()
    assert(res2.getLong(res2.fieldIndex("rows_updated")) == 0L,
      "every row matches the source now — BY SOURCE touches nothing")
  }

  test("MERGE BY SOURCE: the commit narrows to files holding affected rows") {
    // BY SOURCE semantically PLANS the whole table, but a localized set of
    // un-matched rows must not rewrite every file — the commit re-picks by
    // affected keys.
    val dir = stage("dml_bysrc_narrow")
    import spark.implicits._
    // Source = everything except a NARROW key range: the BY SOURCE deletes
    // all live in the files overlapping that range.
    val src = spark.read.parquet(s"$sf001/documents.parquet")
      .filter(!col("doc_id").between(100L, 149L))
    src.createOrReplaceTempView("dml_bsn_src")
    val snap = Manifest.files(spark, dir)
    val before = snap.select("file").collect().map(_.getString(0)).toSet
    val overlapping = snap
      .filter(col("max_doc_id") >= 100L && col("min_doc_id") <= 149L)
      .select("file").collect().map(_.getString(0)).toSet
    assert(overlapping.nonEmpty && overlapping.size < before.size,
      "fixture must localize the unmatched range")
    val res = spark.sql(
      s"""MERGE INTO graft.`$dir` t USING dml_bsn_src s ON t.doc_id = s.doc_id
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin).head()
    assert(res.getLong(res.fieldIndex("rows_deleted")) == 50L, s"$res")
    val after = Manifest.files(spark, dir).select("file")
      .collect().map(_.getString(0)).toSet
    assert((before -- after) == overlapping,
      "exactly the files holding affected rows were replaced")
    assert(spark.read.parquet(dir).count() == 450L)
  }

  test("UPDATE: in-place read-modify-write through the keyed COW upsert") {
    val dir = stage("dml_update")
    val expected = fp(spark.read.parquet(dir).withColumn("n_chars",
        when(col("doc_id").between(10L, 19L), col("n_chars") + 1000L)
          .otherwise(col("n_chars")))
      .withColumn("source",
        when(col("doc_id").between(10L, 19L), lit("upd"))
          .otherwise(col("source"))))
    val res = spark.sql(s"UPDATE graft.`$dir` " +
      "SET n_chars = n_chars + 1000, source = 'upd' " +
      "WHERE doc_id BETWEEN 10 AND 19").collect()
    assert(res.head.getLong(res.head.fieldIndex("rows_updated")) == 10L &&
      res.head.getLong(res.head.fieldIndex("rows_inserted")) == 0L)
    assert(fp(spark.read.parquet(dir)) == expected)
    assert(Manifest.isComplete(spark, dir))
    // Assigning the merge key is refused typed (a key change is not an update).
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"UPDATE graft.`$dir` SET doc_id = doc_id + 1 WHERE doc_id = 3")
    }
  }

  test("DELETE FROM on a partition-column equality: whole-partition drop, pure metadata") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val dir = tmpDir("dml_partdrop") + "/docs"
    spark.range(0L, 2000L).selectExpr(
      "concat('l', CAST(id DIV 500 AS INT)) AS lang",
      "(id DIV 500) * 1000 + (id % 500) AS doc_id",
      "concat('payload_', id) AS payload")
      .repartitionByRange(8, col("doc_id"))
      .write.partitionBy("lang").parquet(dir)
    val preId = Manifest.create(spark, dir, "doc_id")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // Untouched-partition evidence: exact (path, mtime) outside lang=l1
    // must survive bit-for-bit (a metadata drop renames ONLY l1's files).
    def stamps(): Map[String, Long] = {
      val out = Map.newBuilder[String, Long]
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
      while (it.hasNext) {
        val f = it.next()
        val p = f.getPath.toUri.getPath
        if (f.getPath.getName.startsWith("part-") && !p.contains("_graft") &&
            !p.contains("lang=l1"))
          out += p -> f.getModificationTime
      }
      out.result()
    }
    val before = stamps()
    spark.sql(s"DELETE FROM graft.`$dir` WHERE lang = 'l1'")
    assert(stamps() == before, "untouched partitions must not be touched")
    val after = spark.read.parquet(dir)
    assert(after.count() == 1500L)
    assert(after.filter(col("lang") === "l1").count() == 0L)
    assert(Manifest.isComplete(spark, dir))
    // History: the pre-drop snapshot still reads l1 through the trash.
    assert(Manifest.readAsOf(spark, dir, preId)
      .filter(col("lang") === "l1").count() == 500L)
  }

  test("CREATE TABLE AS SELECT + DROP TABLE: full SQL lifecycle over the manifested format") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val dir = tmpDir("dml_ctas") + "/created"
    spark.read.parquet(s"$sf001/documents.parquet").limit(200)
      .createOrReplaceTempView("dml_ctas_src")
    spark.sql(s"CREATE TABLE graft.`$dir` TBLPROPERTIES('graft.keys'='doc_id') " +
      "AS SELECT * FROM dml_ctas_src")
    // The created table is manifested (snapshot per commit: 1 = empty
    // bootstrap, 2 = the CTAS insert) and immediately DML-able.
    assert(Manifest.currentKeyCols(spark, dir).contains(Seq("doc_id")))
    assert(Manifest.latestSnapshotId(spark, dir).contains(2))
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$dir`").head().getLong(0) == 200L)
    assert(fp(spark.read.parquet(dir)) == fp(spark.table("dml_ctas_src")))
    spark.sql(s"DELETE FROM graft.`$dir` WHERE doc_id < 50")
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$dir`").head().getLong(0) ==
      spark.table("dml_ctas_src").filter(col("doc_id") >= 50L).count())
    // CREATE without keys is refused typed; DROP removes the directory.
    intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.`${dir}_nokeys` (id BIGINT) ")
    }
    // Sibling coordination junk (a crashed rewrite's __old) must die with
    // the table — a future CREATE at the same path must not inherit it.
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir + "__old"))
    spark.sql(s"DROP TABLE graft.`$dir`")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + "__old")),
      "DROP TABLE must remove sibling coordination state")
    // Dropping an unmanaged dir through the catalog is refused typed.
    val plain = tmpDir("dml_ctas_plain") + "/plain"
    spark.read.parquet(s"$sf001/documents.parquet").limit(5).write.parquet(plain)
    intercept[Exception] { spark.sql(s"DROP TABLE graft.`$plain`") }
    assert(fs.exists(new org.apache.hadoop.fs.Path(plain)))
  }

  test("NULL and duplicate merge keys: refused typed, never silent loss or duplication") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val dir = tmpDir("dml_nullkey") + "/docs"
    import spark.implicits._
    // One NULL-key row and one duplicated key among normal rows.
    (Seq((java.lang.Long.valueOf(1L), "a"), (java.lang.Long.valueOf(2L), "b"),
      (null.asInstanceOf[java.lang.Long], "nullkey"))
      .toDF("doc_id", "payload")).repartition(2).write.parquet(dir)
    Manifest.create(spark, dir, "doc_id")
    // DELETE range: the NULL-key row is outside every range and SURVIVES
    // (a bare NOT(between) would evaluate NULL and silently delete it).
    spark.sql(s"DELETE FROM graft.`$dir` WHERE doc_id BETWEEN 1 AND 1")
    val after = spark.read.parquet(dir)
    assert(after.count() == 2L)
    assert(after.filter(col("doc_id").isNull).count() == 1L,
      "NULL-key rows must survive a range delete")
    // UPDATE matching the NULL-key row: refused typed (a keyed upsert
    // cannot replace it — it would duplicate instead).
    val e = intercept[Exception] {
      spark.sql(s"UPDATE graft.`$dir` SET payload = 'x' WHERE payload = 'nullkey'")
    }
    assert(e.getMessage.contains("NULL merge key"), e.getMessage)
    // Duplicate-key table: mergeKeyed refuses rather than dropping siblings.
    val dup = tmpDir("dml_dupkey") + "/docs"
    Seq((7L, "first"), (7L, "second"), (8L, "other"))
      .toDF("doc_id", "payload").repartition(1).write.parquet(dup)
    Manifest.create(spark, dup, "doc_id")
    val e2 = intercept[IllegalArgumentException] {
      Layout.mergeKeyed(spark, dup, "doc_id",
        Seq((7L, "updated")).toDF("doc_id", "payload"))
    }
    assert(e2.getMessage.contains("not unique"), e2.getMessage)
    assert(spark.read.parquet(dup).count() == 3L, "refused merge must touch nothing")
  }

  test("INSERT with an incompatible schema fails BEFORE any file lands (no orphan appends)") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val dir = tmpDir("dml_badinsert") + "/docs"
    import spark.implicits._
    Seq((1L, 10L), (2L, 20L)).toDF("doc_id", "n").repartition(1).write.parquet(dir)
    Manifest.create(spark, dir, "doc_id")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val filesBefore = graft.ops.FsMaint.dataFileCount(fs,
      new org.apache.hadoop.fs.Path(dir))
    // A non-widening type change through the engine API (SQL INSERT casts
    // to the table schema, so drive the gate via Layout.append directly).
    intercept[IllegalStateException] {
      Layout.append(spark, dir, Seq((3L, "not-a-long")).toDF("doc_id", "n"))
    }
    assert(graft.ops.FsMaint.dataFileCount(fs,
      new org.apache.hadoop.fs.Path(dir)) == filesBefore,
      "a refused append must leave no orphan files")
    assert(Manifest.isComplete(spark, dir))
  }

  test("MERGE INTO: unsupported shapes are refused typed at analysis") {
    val dir = stage("dml_merge_bad")
    import spark.implicits._
    Seq((7L, "t", "l", "s", 1L)).toDF(docCols: _*)
      .createOrReplaceTempView("dml_mb_src")
    val before = fp(spark.read.parquet(dir))
    // Non-equality ON condition — no key identity to merge on.
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(
        s"""MERGE INTO graft.`$dir` t USING dml_mb_src s ON t.doc_id < s.doc_id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    // BY SOURCE UPDATE must not reassign the merge key.
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(
        s"""MERGE INTO graft.`$dir` t USING dml_mb_src s ON t.doc_id = s.doc_id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET doc_id = doc_id + 1""".stripMargin)
    }
    assert(fp(spark.read.parquet(dir)) == before, "refused DML must touch nothing")
  }

  test("ALTER TABLE: widen + drop + add are metadata-only; refusals typed; time travel keeps old shape") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val dir = tmpDir("dml_alter") + "/docs"
    import spark.implicits._
    Seq((1L, 10, "x"), (2L, 20, "y")).toDF("doc_id", "n", "extra")
      .repartition(1).write.parquet(dir)
    val id1 = Manifest.create(spark, dir, "doc_id")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val filesBefore = graft.ops.FsMaint.dataFileCount(fs,
      new org.apache.hadoop.fs.Path(dir))
    spark.sql(s"ALTER TABLE graft.`$dir` ALTER COLUMN n TYPE BIGINT")
    spark.sql(s"ALTER TABLE graft.`$dir` DROP COLUMN extra")
    spark.sql(s"ALTER TABLE graft.`$dir` ADD COLUMN note STRING")
    assert(graft.ops.FsMaint.dataFileCount(fs,
      new org.apache.hadoop.fs.Path(dir)) == filesBefore,
      "schema evolution must touch zero data files")
    val latest = spark.sql(s"SELECT * FROM graft.`$dir`")
    assert(latest.schema("n").dataType == LongType)
    assert(!latest.columns.contains("extra") && latest.columns.contains("note"))
    assert(latest.filter(col("note").isNull).count() == 2L,
      "pre-evolution files read NULL for the added column")
    val asOf = spark.sql(s"SELECT * FROM graft.`$dir` VERSION AS OF $id1")
    assert(asOf.schema("n").dataType == IntegerType &&
      asOf.columns.contains("extra") && !asOf.columns.contains("note"),
      "as-of reads must return the snapshot's OWN schema")
    // Refusals: key-column drop, narrowing, key-column rename (the stats
    // identity) — all typed, no commit. Non-key renames are supported
    // metadata-only (RenameSpec).
    val snapBefore = Manifest.latestSnapshotId(spark, dir).get
    intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$dir` DROP COLUMN doc_id")
    }
    intercept[Exception] { // long -> int is a narrowing
      spark.sql(s"ALTER TABLE graft.`$dir` ALTER COLUMN n TYPE INT")
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$dir` RENAME COLUMN doc_id TO id")
    }
    assert(Manifest.latestSnapshotId(spark, dir).contains(snapBefore),
      "refused ALTER must commit nothing")
  }

  test("metadata tables: $history and $files introspect through plain SQL") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val dir = tmpDir("dml_meta") + "/docs"
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    docs.filter(col("doc_id") < 300).repartitionByRange(4, col("doc_id"))
      .write.parquet(dir)
    Manifest.create(spark, dir, "doc_id")                       // snapshot 1
    docs.filter(col("doc_id") >= 300).repartition(2)
      .write.mode("append").parquet(dir)
    Manifest.createIncremental(spark, dir, "doc_id")            // snapshot 2
    spark.sql(s"DELETE FROM graft.`$dir` WHERE doc_id BETWEEN 10 AND 19") // 3
    val hist = spark.sql(
      s"SELECT snapshot, n_files, n_rows FROM graft.`$dir$$history` ORDER BY snapshot")
      .collect()
    assert(hist.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(hist(0).getLong(2) == 300L, "snapshot 1 rows")
    assert(hist(1).getLong(2) == 500L, "snapshot 2 rows")
    assert(hist(2).getLong(2) == 490L, "snapshot 3 rows (post-delete)")
    val files = spark.sql(s"SELECT * FROM graft.`$dir$$files`")
    assert(!files.columns.exists(_.startsWith("bloom_")),
      "bloom sketches must be pruned from the introspection schema")
    val agg = spark.sql(
      s"SELECT sum(n_rows) AS rows, count(*) AS files, " +
        s"min(min_doc_id) AS lo FROM graft.`$dir$$files`").head()
    assert(agg.getLong(0) == 490L && agg.getLong(1) > 0L)
    assert(agg.getLong(2) == 0L, "per-file stats surface (min over mins = 0)")
    intercept[Exception] { // unknown suffix: typed
      spark.sql(s"SELECT * FROM graft.`$dir$$nope`").collect()
    }
  }

  test("a table dir containing '$' stays loadable; multi-NULL UPDATE reports the NULL-key error") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    import spark.implicits._
    // '$' in the directory path must not route to the metadata-table
    // parser (only the known $history/$files suffixes do).
    val dollar = tmpDir("dml_dollar") + "/ab$cd"
    Seq((1L, "x"), (2L, "y")).toDF("doc_id", "payload")
      .repartition(1).write.parquet(dollar)
    Manifest.create(spark, dollar, "doc_id")
    assert(spark.sql(s"SELECT * FROM graft.`$dollar`").count() == 2L)
    // TWO matched NULL-key rows: the typed NULL-key guidance, not the
    // misleading "duplicate values" error (they collapse to one group).
    val dir = tmpDir("dml_nulls2") + "/docs"
    (Seq((java.lang.Long.valueOf(5L), "a"),
      (null.asInstanceOf[java.lang.Long], "n1"),
      (null.asInstanceOf[java.lang.Long], "n2"))
      .toDF("doc_id", "payload")).repartition(1).write.parquet(dir)
    Manifest.create(spark, dir, "doc_id")
    val e = intercept[Exception] {
      spark.sql(s"UPDATE graft.`$dir` SET payload = 'x' " +
        "WHERE payload LIKE 'n%'")
    }
    assert(e.getMessage.contains("NULL merge key"), e.getMessage)
  }

  test("CALL graft.system.*: maintenance procedures mutate through the journaled engine jobs") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val dir = tmpDir("dml_call") + "/docs"
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    docs.repartition(12).write.parquet(dir)
    Manifest.create(spark, dir, "doc_id")
    val before = fp(spark.read.parquet(dir))
    val compacted = spark.sql(s"CALL graft.system.compact('$dir', 64)")
      .head().getLong(0)
    assert(compacted >= 1L && compacted < 12L, s"compacted to $compacted files")
    assert(fp(spark.read.parquet(dir)) == before, "compaction is content-invariant")
    val clustered = spark.sql(
      s"CALL graft.system.cluster_range('$dir', 'doc_id', 3)").head().getLong(0)
    assert(clustered == 3L)
    assert(fp(spark.read.parquet(dir)) == before, "re-cluster is content-invariant")
    // Three commits so far: create + compact + cluster = 3 snapshots.
    val expired = spark.sql(
      s"CALL graft.system.expire_snapshots('$dir', 1)").head().getLong(0)
    assert(expired == 2L, s"expected 2 expired snapshots, got $expired")
    val vacuumed = spark.sql(s"CALL graft.system.vacuum('$dir')").head().getLong(0)
    assert(vacuumed >= 12L, s"vacuum must free the unreferenced originals: $vacuumed")
    assert(fp(spark.sql(s"SELECT * FROM graft.`$dir`")) == before,
      "the latest snapshot survives expiry + vacuum intact")
    // Unknown procedure: typed refusal.
    intercept[Exception] { spark.sql(s"CALL graft.system.nope('$dir')") }
    // Procedures are discoverable.
    assert(spark.sql("SHOW PROCEDURES IN graft.system").count() >= 5L)
  }

  test("UPDATE, DELETE and INSERT on a table dir named like an escape (`t%41`)") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    // `%41` must stay three literal characters: decoded, the path is `tA`.
    val dir = tmpDir("dml_pct") + "/t%41"
    spark.range(400).select((col("id") * 2).as("k"), lit(0L).as("v"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k").write.parquet(dir)
    Manifest.create(spark, dir, "k")
    val t = s"graft.`$dir`"
    spark.sql(s"UPDATE $t SET v = 1 WHERE k BETWEEN 100 AND 199")
    spark.sql(s"DELETE FROM $t WHERE k BETWEEN 300 AND 399")
    spark.sql(s"INSERT INTO $t VALUES (301L, 7L), (303L, 7L)")
    val got = spark.sql(s"SELECT k, v FROM $t").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (0L until 800L by 2).filterNot(k => k >= 300 && k <= 399)
      .map(k => k -> (if (k >= 100 && k <= 199) 1L else 0L)).toMap ++
      Map(301L -> 7L, 303L -> 7L)
    assert(got == want)
    assert(Manifest.isComplete(spark, dir))
    assert(!new java.io.File(dir).getParentFile.listFiles().exists(_.getName.startsWith("tA")))
  }
}
