package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Durable LSH near-dup index — the persisted form of
  * [[Dedup.incrementalNearDups]]'s band-bucket index, the dedup analog of
  * the sync engine's durable maintained fingerprints
  * (`SyncEngine` stateDir snapshots): each ingest probes the on-disk index
  * and appends its own batch, so a RESTARTED loop never re-shingles the
  * base corpus — `ingest` takes only the incoming batch, the base lives
  * entirely under `stateDir`.
  *
  * State layout (all parquet, append-only):
  *  - `stateDir/buckets`  — `(id, band_id, band_hash)`: the LSH index the
  *    probe joins against; `bands` rows per doc, never text-sized.
  *  - `stateDir/shingles` — `(id, sh: array<string>)`, hash-partitioned by
  *    `id_bucket = pmod(xxhash64(id), idBuckets)` so the exact-verify
  *    lookup of candidate base docs prunes to the touched partitions
  *    instead of scanning the corpus-sized store.
  *
  * Scale shape: per ingest, the only corpus-sized inputs are (a) the bucket
  * index scan on the probe join — incoming buckets are batch-sized, so AQE
  * broadcasts them and the scan never shuffles — and (b) the
  * partition-pruned keyed read of candidate shingle sets, candidate-count-
  * sized. All shuffles are ∝ batch, the recurring-ingest asymmetry of
  * [[Dedup.incrementalNearDups]] made durable.
  *
  * Crash contract: results are materialized BEFORE state is appended (the
  * lazy-plan-over-mutating-files hazard), and shingles land before buckets
  * — a half-appended batch is invisible to probes (bucket rows are the
  * index of record). A failed `ingest` must be retried with the same batch;
  * the probe's pair-level `distinct` plus the deduplicated shingle lookup
  * make a replayed append harmless for results (state carries benign
  * duplicate rows until [[compact]] rewrites them away).
  *
  * `maxBucketSize` caps hot band buckets on the probe ([[Dedup.dropHotBuckets]]):
  * without it a boilerplate cluster of d near-identical docs drives the
  * candidate join toward d² pairs — the data-driven twin of the
  * bands-hygiene degeneration. Recall loss under the cap is confined to
  * giant near-identical clusters; precision is untouched (exact verify).
  */
final class DurableMinHashIndex(
    spark: SparkSession, stateDir: String,
    shingleK: Int = 5, numHashes: Int = 32, bands: Int = 8,
    threshold: Double = 0.7, idBuckets: Int = 64,
    maxBucketSize: Option[Long] = None) {

  require(bands > 0 && bands <= numHashes && numHashes % bands == 0,
    s"bands ($bands) must divide numHashes ($numHashes)")

  private val bucketsPath = s"$stateDir/buckets"
  private val shinglesPath = s"$stateDir/shingles"

  /** All state maintenance (existence probes, the compact swap's renames,
    * recursive deletes) goes through the Hadoop FileSystem resolved from
    * the stateDir URI via the shared [[FsMaint]] primitives — the same
    * abstraction the parquet data path already uses — so the index runs
    * wherever its data does: local `file:`, HDFS, or an HCFS object-store
    * connector. On HDFS the swap renames are atomic per store; on S3A a
    * "rename" is a non-atomic copy+delete, so deployments there should
    * front the stateDir with a consistent rename-capable layer or accept
    * that the healing window widens from two metadata ops to a copy.
    */
  private val fs: FileSystem =
    new Path(stateDir).getFileSystem(spark.sessionState.newHadoopConf())

  // State exists only when a non-empty batch has landed: an empty-batch
  // append can leave a directory with no data files under it (the
  // partitioned shingle store writes no partition dirs for zero rows),
  // which a schema-inferring read would reject. Checked per store — the
  // flat bucket dir and the partitioned shingle dir can disagree after
  // empty appends.
  private def hasState: Boolean = FsMaint.hasDataFiles(fs, new Path(bucketsPath))
  private def hasShingleState: Boolean = FsMaint.hasDataFiles(fs, new Path(shinglesPath))

  private def idBucket(c: org.apache.spark.sql.Column) =
    pmod(xxhash64(c), lit(idBuckets))

  /** Partition count for the bucket-aligned store writes: one task per
    * bucket when cores allow, never more tasks than buckets (a bucket's
    * rows hash to one task either way, so each bucket still gets exactly
    * one file per write).
    */
  private def storeWriteParallelism: Int =
    math.min(idBuckets, spark.sparkContext.defaultParallelism)

  /** Probe the persisted index with `incoming`, return verified near-dup
    * pairs `(id_a, id_b, jaccard)` with `id_a < id_b` where at least one
    * side is from this batch (base–base pairs were found when those batches
    * arrived), then append this batch to the index.
    */
  def ingest(incoming: DataFrame, idCol: String, textCol: String): DataFrame = {
    recoverInterruptedCompact()
    val shingled = Par.fanOut(
        incoming.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"),
        array_distinct(TextAnalysis.shingles(col("__text"), shingleK)).as("sh"))
      .localCheckpoint(true) // batch-sized; shingling runs exactly once
    var baseNeededRef: Option[DataFrame] = None
    var newBucketsRef: Option[DataFrame] = None
    try {
      val sigged = shingled.select(col("id"),
        Dedup.minhashSignatureOfShingles(col("sh"), numHashes).as("sig"))
      val rows = numHashes / bands
      // Checkpointed (batch-sized): reused by the probe side, the index
      // union, the capped path's membership agg, and the final append —
      // four readers that would otherwise each re-run the minhash
      // signatures, the compute-dense step of the ingest.
      val newBuckets = sigged.select(col("id"),
          posexplode(array((0 until bands).map(b =>
            xxhash64(lit(b), concat_ws(",", transform(slice(col("sig"), b * rows + 1, rows),
              x => x.cast("string"))))): _*)).as(Seq("band_id", "band_hash")))
        .localCheckpoint(true)
      newBucketsRef = Some(newBuckets)
      // Probe: this batch's buckets against (persisted ∪ this batch) — the
      // union keeps new–new dups; the batch side is the broadcast side.
      // Hot buckets (boilerplate clusters) are dropped from the INDEX side
      // (Dedup.dropHotBuckets — bounds candidates at cap × batch postings);
      // the membership count is one extra map-side-combined agg over the
      // same bucket scan the probe join reads anyway.
      val index = Dedup.dropHotBuckets(
        (if (hasState) spark.read.parquet(bucketsPath).unionByName(newBuckets)
         else newBuckets),
        maxBucketSize).as("b")
      val cands = newBuckets.as("a").join(index,
          col("a.band_id") === col("b.band_id") &&
          col("a.band_hash") === col("b.band_hash") && col("a.id") =!= col("b.id"))
        .select(least(col("a.id"), col("b.id")).as("id_a"),
                greatest(col("a.id"), col("b.id")).as("id_b"))
        .distinct()
      // Exact verify: batch shingles from the checkpoint; base shingles via
      // a keyed, partition-prunable read of the store (candidate-sized).
      val candIds = cands.select(col("id_a").as("id"))
        .unionByName(cands.select(col("id_b").as("id"))).distinct()
      val baseNeeded = candIds.join(shingled.select("id"), Seq("id"), "left_anti")
        .withColumn("id_bucket", idBucket(col("id")))
        .localCheckpoint(true) // candidate-sized; read twice below
      baseNeededRef = Some(baseNeeded)
      // Static partition prune: the id_bucket domain is ≤ idBuckets values,
      // so collecting the touched buckets is a bounded driver fetch that
      // turns the keyed lookup into a file-index prune of the store — no
      // reliance on runtime DPP. The semi join then filters to exact ids.
      val touched = baseNeeded.select("id_bucket").distinct()
        .limit(idBuckets + 1).collect().map(_.getLong(0))
      // dropDuplicates: a crash-retried append leaves duplicate (id, sh)
      // rows in the store; without it each affected pair would verify (and
      // count toward recall) once per duplicate. Candidate-sized, so cheap.
      val allSh = (if (hasShingleState && touched.nonEmpty)
          shingled.unionByName(
            spark.read.parquet(shinglesPath)
              .filter(col("id_bucket").isin(touched.toIndexedSeq: _*))
              .join(baseNeeded, Seq("id_bucket", "id"), "left_semi")
              .select("id", "sh")
              .dropDuplicates("id"))
        else shingled)
      val verified = cands
        .join(allSh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
        .join(allSh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
        .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
        .withColumn("uni", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
        .select(col("id_a"), col("id_b"),
          when(col("uni") === 0, lit(1.0))
            .otherwise(col("inter").cast("double") / col("uni").cast("double"))
            .as("jaccard"))
        .filter(col("jaccard") >= threshold)
        .localCheckpoint(true) // materialize BEFORE the appends below
      // Append this batch to the store: shingles first, buckets last (see
      // crash contract above). The repartition aligns rows with their
      // target partition dir BEFORE the dynamic-partition write — without
      // it every write task emits a file into every touched bucket
      // (tasks × buckets tiny files per ingest); with it each bucket gets
      // exactly one file per ingest, at the cost of one batch-sized shuffle.
      // The EXPLICIT partition count keeps the write tasks parallel: AQE
      // coalesces a bare repartition(col) of a small batch to ONE task,
      // which then opens every touched bucket's writer serially (measured
      // in round 19: ~1.0 s vs 0.37 s for a KB-sized 64-bucket append);
      // hashing on id_bucket still lands each bucket in exactly one task.
      shingled.withColumn("id_bucket", idBucket(col("id")))
        .repartition(storeWriteParallelism, col("id_bucket"))
        .write.mode("append").partitionBy("id_bucket").parquet(shinglesPath)
      newBuckets.write.mode("append").parquet(bucketsPath)
      verified
    } finally {
      // All checkpoints release even when verify/append throws — a failed
      // ingest must not leak candidate-sized blocks for the session's life.
      Caching.release(shingled)
      newBucketsRef.foreach(Caching.release)
      baseNeededRef.foreach(Caching.release)
    }
  }

  /** Compact the append-only state. The stores grow monotonically by
    * design (`ingest` only appends): a crash-retried batch leaves benign
    * duplicate rows that are otherwise immortal, and every ingest adds at
    * least one file per store — a recurring-ingest loop eventually makes
    * the store itself the bottleneck. Compaction (a) deduplicates bucket
    * rows, (b) drops shingle rows orphaned by a crash between the shingle
    * and bucket appends (their batch was retried, so a duplicate LIVE row
    * exists) plus retry-duplicated shingle rows, and (c) rewrites each
    * id-bucket partition to one file. Probe results are unchanged
    * (DurableDedupIndexSpec proves pre/post equality).
    *
    * Each store is rewritten to a sibling temp dir and swapped in via two
    * renames, so readers never observe a half-written store. The rename
    * window (old store moved aside, new one not yet in place) is healed by
    * [[recoverInterruptedCompact]], which both `ingest` and `compact` run
    * first: a `<store>__old` left next to a missing store is moved back.
    * Run from ONE process at a time, like `ingest` — the stateDir is
    * single-writer by contract.
    */
  def compact(): Unit = {
    recoverInterruptedCompact()
    if (hasState) {
      val tmp = bucketsPath + "__compacting"
      spark.read.parquet(bucketsPath)
        .dropDuplicates("id", "band_id", "band_hash")
        .write.mode("overwrite").parquet(tmp)
      swapIn(bucketsPath, tmp)
      if (hasShingleState) {
        val tmp2 = shinglesPath + "__compacting"
        // Live ids = ids the (just-compacted) bucket index knows. The
        // distinct is a corpus-sized shuffle — compaction is a maintenance
        // job, priced like one.
        val live = spark.read.parquet(bucketsPath).select("id").distinct()
        spark.read.parquet(shinglesPath)
          .join(live, Seq("id"), "left_semi")
          .dropDuplicates("id")
          .repartition(storeWriteParallelism, col("id_bucket"))
          .write.mode("overwrite").partitionBy("id_bucket").parquet(tmp2)
        swapIn(shinglesPath, tmp2)
      }
    }
  }

  /** Policy-triggered maintenance for recurring-ingest loops: compact when
    * the bucket store's data-file count reaches `maxStoreFiles`, so a
    * streaming `foreachBatch` ingest self-maintains instead of relying on
    * an operator remembering to run [[compact]] between jobs. The signal is
    * a metadata-only listing (no data read) — each ingest appends ≥1 file
    * per store, so file count tracks append debt (and, after crash
    * retries, duplicate rows) without a corpus scan. Returns whether a
    * compaction ran.
    */
  def compactIfNeeded(maxStoreFiles: Int): Boolean = {
    require(maxStoreFiles > 0, s"maxStoreFiles must be positive: $maxStoreFiles")
    val due = FsMaint.dataFileCount(fs, new Path(bucketsPath)) >= maxStoreFiles
    if (due) compact()
    due
  }

  /** Heal the non-atomic two-rename swap for both stores — [[FsMaint]]'s
    * recovery contract, run by both `ingest` and `compact` first.
    */
  private def recoverInterruptedCompact(): Unit =
    Seq(bucketsPath, shinglesPath).foreach(FsMaint.recoverSwap(fs, _))

  private def swapIn(path: String, tmp: String): Unit =
    FsMaint.swapIn(fs, path, tmp)
}
