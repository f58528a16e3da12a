package graft

import graft.ops.Manifest

/** Driver-side snapshot cache admission: a snapshot's content is only
  * collected to the driver on the SECOND access to the same (dir,
  * signature) — a churn path that publishes a new snapshot every cycle and
  * reads it once must never pay the eager full-column collect (the
  * round-19 sync_converge regression) — and a cached serve returns the
  * same rows as the lazy first read.
  */
class SnapshotCacheSpec extends SparkSpec {

  test("first access stays lazy, second access admits, content identical") {
    val stage = tmpDir("snapcache") + "/documents"
    spark.read.parquet(s"$sf001/documents.parquet")
      .repartition(4).write.parquet(stage)
    val id = Manifest.create(spark, stage, "doc_id")
    Manifest.clearSnapshotCache()

    val first = Manifest.snapshotDF(spark, stage, id)
    val firstRows = first.orderBy("file").collect()
    assert(Manifest.snapshotCacheSize == 0,
      "first access must not collect the snapshot into the driver cache")

    val second = Manifest.snapshotDF(spark, stage, id)
    val secondRows = second.orderBy("file").collect()
    assert(Manifest.snapshotCacheSize == 1,
      "second access to the same signature must admit the entry")
    assert(first.schema == second.schema)
    assert(firstRows.sameElements(secondRows),
      "cached serve must return the same rows as the lazy read")

    val thirdRows = Manifest.snapshotDF(spark, stage, id)
      .orderBy("file").collect()
    assert(thirdRows.sameElements(secondRows))
  }

  test("a new snapshot of the same table does not evict nor falsely hit") {
    val stage = tmpDir("snapcache_churn") + "/documents"
    spark.read.parquet(s"$sf001/documents.parquet")
      .repartition(2).write.parquet(stage)
    Manifest.clearSnapshotCache()
    val id1 = Manifest.create(spark, stage, "doc_id")
    Manifest.snapshotDF(spark, stage, id1): Unit
    Manifest.snapshotDF(spark, stage, id1): Unit
    assert(Manifest.snapshotCacheSize == 1)
    // Churn: each new snapshot read once — never admitted.
    val id2 = Manifest.create(spark, stage, "doc_id")
    val rows2 = Manifest.snapshotDF(spark, stage, id2).collect()
    assert(Manifest.snapshotCacheSize == 1,
      "single-read snapshot must not be admitted")
    assert(rows2.nonEmpty)
  }

  test("a signature change drops the stale entry at once") {
    val stage = tmpDir("snapcache_sig") + "/documents"
    spark.read.parquet(s"$sf001/documents.parquet")
      .repartition(2).write.parquet(stage)
    val id = Manifest.create(spark, stage, "doc_id")
    Manifest.clearSnapshotCache()
    Manifest.snapshotDF(spark, stage, id): Unit
    Manifest.snapshotDF(spark, stage, id): Unit
    assert(Manifest.snapshotCacheSize == 1)
    // Change the dir's listing signature (a recreated snapshot reusing the
    // id looks like this): the old entry must stop counting right away,
    // not linger until the new signature is admitted.
    val dir = new org.apache.hadoop.fs.Path(s"$stage/_graft_manifest/snapshot-$id")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    fs.create(new org.apache.hadoop.fs.Path(dir, "_touched")).close()
    val rows = Manifest.snapshotDF(spark, stage, id).count()
    assert(Manifest.snapshotCacheSize == 0,
      "a signature-mismatch hit must remove the stale entry")
    assert(rows == Manifest.files(spark, stage).count())
  }

  test("an entry larger than the whole budget is served uncached") {
    val stage = tmpDir("snapcache_big") + "/documents"
    spark.read.parquet(s"$sf001/documents.parquet")
      .repartition(4).write.parquet(stage)
    val id = Manifest.create(spark, stage, "doc_id")
    Manifest.clearSnapshotCache()
    val prev = Manifest.snapCacheTotalBytes
    Manifest.snapCacheTotalBytes = 1L
    try {
      val first = Manifest.snapshotDF(spark, stage, id).orderBy("file").collect()
      val second = Manifest.snapshotDF(spark, stage, id).orderBy("file").collect()
      assert(Manifest.snapshotCacheSize == 0,
        "an entry past snapCacheTotalBytes must never be admitted")
      assert(first.sameElements(second))
    } finally Manifest.snapCacheTotalBytes = prev
  }
}
