package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Table-layout maintenance jobs — the storage-side half of running a
  * pipeline for years: recurring ingests and deltas accumulate small files
  * (every append is ≥1 file per writer task) and destroy clustering, and at
  * 100 TB the resulting file-count explosion throttles the DRIVER (listing,
  * split planning, footer reads), not the executors. Both jobs rewrite a
  * parquet dir and atomically swap the rewrite in via [[FsMaint]]'s
  * two-rename contract, so concurrent readers never observe a half-written
  * store and a crash at any point is healed on the next run.
  *
  * Content invariance is the correctness contract: both rewrites are pure
  * re-layouts, so the table's multiset fingerprint before ≡ after — gated
  * against the DuckDB oracle by the `layout_*` queries.
  *
  * Manifest coupling: a rewrite renames every data file, so any
  * [[Manifest]] snapshot over the table goes stale the instant the swap
  * lands. Every rewrite here therefore captures the manifest's key
  * columns BEFORE the swap, carries the snapshot history across it, and
  * re-commits a fresh snapshot (one narrow scan) as part of the job — so
  * manifest readers never cross a rewrite unprotected. (Unmanifested
  * tables pay nothing; and [[Manifest.scanBox]] independently detects
  * staleness for rewrites done by anything other than these jobs.)
  */
object Layout {

  /** Rewrite the parquet dir at `path` into ≈`targetBytes`-sized files
    * (small-file compaction). Returns the file count written. The rewrite
    * is one distributed pass: a round-robin repartition to
    * ceil(totalBytes / targetBytes) tasks — no keys, no sort, shuffle
    * carries each row once.
    *
    * Hive-partitioned input FLATTENS: partition columns become data
    * columns (content invariant; pre-rewrite snapshots keep reading the
    * retained trash's `k=v` structure). Partition-preserving maintenance
    * is [[compactPartition]]; the SQL CALL surface refuses partitioned
    * input outright ([[wouldFlatten]]).
    *
    * Sizing note: the estimate uses the CURRENT (compressed, encoded)
    * on-disk bytes, the right proxy for the rewrite since the same codec
    * re-encodes it; real deployments also bound files-per-task memory via
    * `maxRecordsPerFile` when rows are huge.
    */
  def compactTable(spark: SparkSession, path: String, targetBytes: Long): Int = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    FsMaint.withTableLock(fs, path) {
      FsMaint.recoverSwap(fs, path)
      ensureMaterialized(spark, path)
      val manifestKeys = Manifest.currentProfile(spark, path)
      val total = FsMaint.totalDataBytes(fs, new Path(path))
      val nFiles = math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
      val tmp = path + "__compacting"
      // mergeSchema: a rewrite decodes every file anyway; footer-sampling the
      // schema of an additively-EVOLVED table could silently drop a later
      // column from the whole rewrite (permanent data loss). Union schema in,
      // union schema out — createLike then re-records it.
      readTableForRewrite(spark, path).repartition(nFiles)
        .write.mode("overwrite").parquet(tmp)
      swapAndRefresh(spark, fs, path, tmp, manifestKeys)
      nFiles
    }
  }

  /** Policy-triggered [[compactTable]] for recurring loops: fire only when
    * the table's data-file count exceeds `maxFiles` (ONE metadata listing,
    * no Spark job on the no-op path — same trigger shape as
    * `DedupIndex.compactIfNeeded`). Returns the files written, or 0 when
    * below threshold.
    */
  def compactIfNeeded(spark: SparkSession, path: String, maxFiles: Int,
                      targetBytes: Long): Int = {
    require(maxFiles > 0, s"maxFiles must be positive: $maxFiles")
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    if (FsMaint.dataFileCount(fs, new Path(path)) <= maxFiles) 0
    else compactTable(spark, path, targetBytes)
  }

  /** Commit a rewrite: swap the staged dir in (carrying the manifest
    * snapshot history AND prior mutations' retained trash across — both
    * live INSIDE the table dir the swap replaces), RETAIN the replaced
    * originals in the trash so pre-rewrite snapshots stay time-travel- and
    * change-feed-readable (a routine compaction must not destroy the COW
    * history contract), then re-commit a fresh snapshot with the
    * pre-rewrite PROFILE (key columns + bloom columns/bits) so manifest
    * readers never cross a rewrite on stale stats — and a point-lookup
    * bloom index survives layout maintenance. The profile must be captured
    * BEFORE the swap (the old dir is gone after).
    *
    * Unmanifested tables retain nothing (no snapshots = nothing can read
    * history, so retention would be unbounded debt). If retention had to
    * be skipped (partitioned-original name collision — see
    * [[FsMaint.swapIn]]), the now-unreadable prior snapshots are EXPIRED
    * so retention reporting matches what is actually readable.
    */
  private def swapAndRefresh(spark: SparkSession,
                             fs: org.apache.hadoop.fs.FileSystem,
                             path: String, tmp: String,
                             profile: Option[Manifest.Profile]): Unit = {
    val retained = FsMaint.swapIn(fs, path, tmp,
      carryOver = Seq("_graft_manifest", "_graft_trash"),
      retainInto = if (profile.isDefined) Some("_graft_trash") else None)
    profile.foreach { p =>
      // The refresh is a FULL re-profile (no delta to rebase): a racing
      // lock-free committer (restat, a direct incremental refresh) refuses
      // its CAS — re-plan against the new head under the bounded
      // maintenance budget instead of surfacing a typed refusal the caller
      // would have to loop on (the rewrite itself already happened; each
      // retry costs one re-profile scan of the new files).
      Manifest.withMaintenanceRetry("rewrite refresh") {
        Manifest.createLike(spark, path, p): Unit
      }
      // keepTagged = false: these snapshots just became UNREADABLE (their
      // files could not be retained) — a tag must not pin broken history.
      if (!retained)
        Manifest.expireSnapshots(spark, path, keep = 1, keepTagged = false): Unit
    }
  }


  /** The latest snapshot's logical→physical column-name map — [[Manifest]]
    * rename indirection. Layout's COW machinery operates entirely in
    * PHYSICAL names (what the files carry); only the entry points that
    * accept caller frames ([[append]], [[mergeRowLevel]]'s compute — the
    * keyed upserts' delta included) translate at the boundary.
    */
  private def physMapOf(spark: SparkSession, path: String): Map[String, String] =
    Manifest.currentPhysicalNames(spark, path)

  /** Whole-table read for a REWRITE job: union schema (see compactTable's
    * mergeSchema note) with the latest deletion vector APPLIED — a rewrite
    * re-encodes every surviving row, so it is also the fold point for DVs:
    * the rewritten table carries none.
    */
  private def readTableForRewrite(spark: SparkSession,
                                  path: String): org.apache.spark.sql.DataFrame =
    Manifest.applyDv(spark.read.option("mergeSchema", "true").parquet(path),
      Manifest.currentDv(spark, path))

  /** Rename a caller (LOGICAL-named) frame to the table's physical names. */
  private def toPhysicalDf(df: org.apache.spark.sql.DataFrame,
                           m: Map[String, String]): org.apache.spark.sql.DataFrame =
    if (m.isEmpty) df
    else df.select(df.columns.toIndexedSeq.map(c => col(c).as(m.getOrElse(c, c))): _*)

  /** Rename a physical-named frame back to the table's logical names. */
  private def toLogicalDf(df: org.apache.spark.sql.DataFrame,
                          m: Map[String, String]): org.apache.spark.sql.DataFrame =
    if (m.isEmpty) df
    else {
      val inv = m.map(_.swap)
      df.select(df.columns.toIndexedSeq.map(c => col(c).as(inv.getOrElse(c, c))): _*)
    }

  /** Read picked data files of the CURRENT (complete) snapshot with the
    * snapshot's recorded schema when one exists — a footer-sampled read of
    * an additively-evolved table could drop a later column from the
    * rewritten survivors (silent data loss); pre-evolution snapshots fall
    * back to a mergeSchema read over exactly these files.
    */
  private def readPickedPinned(spark: SparkSession, path: String,
                               picked: Seq[String]): org.apache.spark.sql.DataFrame = {
    // Files carry PHYSICAL names: pin the stored (logical) schema through
    // the rename map — the returned frame is PHYSICAL-named, the name
    // space every Layout rewrite reads and writes in.
    val sch = Manifest.latestSnapshotId(spark, path)
      .flatMap(id => Manifest.storedSchema(spark, path, id)
        .map(Manifest.toPhysicalSchema(_, Manifest.physicalNames(spark, path, id))))
    // basePath keeps hive-partition columns on the picked-file read (a
    // no-op for flat tables, where files sit directly under the base).
    // The latest deletion vector applies here too: a COW rewrite must not
    // resurrect DV-deleted rows into its survivors (the rewrite is the
    // fold point — the replaced files' entries drop at commit).
    val r0 = spark.read.option("basePath", path)
    Manifest.applyDv(
      sch.fold(r0.option("mergeSchema", "true"))(r0.schema)
        .parquet(picked.map(Manifest.escapeGlob): _*),
      Manifest.currentDv(spark, path))
  }

  /** The long domain a cluster key is ordered in — shared with
    * [[Manifest]]'s stat normalization so a clustered layout and its
    * manifest agree on what "range" means, and so a string/decimal key is
    * REJECTED here instead of silently casting to NULL (which would
    * normalize every row to the same z-cell and quietly destroy the
    * clustering the caller asked for).
    */
  private def orderedLong(c: String, df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.Column =
    orderedLongOf(col(c), df.schema(c).dataType, c)

  /** The files of a snapshot whose `[min, max]` key range holds some key of
    * a set, found inside a pass the caller already runs over the keys — no
    * join of the keys against the snapshot. The ranges' endpoints cut the
    * long line into segments, each inside a fixed set of files; a key maps
    * to its segment by binary search ([[segment]], evaluated per key), the
    * pass collects the distinct segments (at most two per file), and
    * [[files]] maps them back on the driver in one sweep. A file is picked
    * iff some key lies in its bounds; NULL bounds pick nothing — exactly
    * `k BETWEEN min AND max`.
    */
  private[graft] final class RangePick(names: IndexedSeq[String], lo: Array[Long], hi: Array[Long]) {
    /** Segment starts: every `min` and every `max + 1`, sorted, distinct. */
    private val starts: Array[Long] = (lo.iterator ++
      hi.iterator.filter(_ != Long.MaxValue).map(_ + 1)).toArray.distinct.sorted

    /** The segment of the long key `k`: the index of the last start at or
      * below it, -1 below them all.
      */
    def segment(k: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val st = starts
      udf { (v: Long) =>
        val i = java.util.Arrays.binarySearch(st, v)
        if (i >= 0) i else -i - 2
      }.apply(k)
    }

    /** The files covering any of `segments`, in snapshot order: a sweep
      * over the segments' starts, ascending, with the files taken in `min`
      * order. A file is taken at the first start at or above its `min` if
      * its `max` reaches that start; if not, no later start is inside it.
      */
    def files(segments: Iterable[Int]): IndexedSeq[String] = {
      val points = segments.iterator.filter(_ >= 0).map(starts).toArray.sorted
      val byLo = lo.indices.sortBy(lo(_))
      val out = scala.collection.mutable.ArrayBuffer.empty[Int]
      var next = 0
      points.foreach { p =>
        while (next < byLo.length && lo(byLo(next)) <= p) {
          if (hi(byLo(next)) >= p) out += byLo(next)
          next += 1
        }
      }
      out.sorted.map(names).toIndexedSeq
    }
  }

  private[graft] object RangePick {
    /** The pick over snapshot frame `f`'s `min_`/`max_` of `keyCol` — rows
      * the driver holds for a cached snapshot.
      */
    def of(f: org.apache.spark.sql.DataFrame, keyCol: String): RangePick = {
      val rows = Manifest.metaRows(f.select("file", s"min_$keyCol", s"max_$keyCol"))
        .filter(r => !r.isNullAt(1) && !r.isNullAt(2) && r.getLong(1) <= r.getLong(2))
      new RangePick(rows.map(_.getString(0)), rows.map(_.getLong(1)).toArray,
        rows.map(_.getLong(2)).toArray)
    }
  }

  /** [[orderedLong]] over an arbitrary Column + known type — the form the
    * SQL MERGE rewrite needs (its key is a resolved attribute, not a name
    * in some frame's schema).
    */
  private[graft] def orderedLongOf(c: org.apache.spark.sql.Column,
                                   dt: org.apache.spark.sql.types.DataType,
                                   name: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => c.cast("long")
      case TimestampType => unix_micros(c)
      case DateType => datediff(c, lit("1970-01-01")).cast("long")
      case other => throw new IllegalArgumentException(
        s"cluster column `$name` has unsupported type ${other.simpleString}: " +
          "only integral, date, and timestamp keys carry an orderable long domain")
    }
  }

  /** Rewrite the parquet dir at `path` range-clustered by `clusterCol` into
    * `nFiles` files (each file owns a contiguous, pairwise-disjoint key
    * range, rows sorted within the file) — the single-dimension form of the
    * OPTIMIZE/Z-ORDER layout job. What it buys at scale: row-group min/max
    * statistics on `clusterCol` become DISJOINT across files, so a pushed
    * point/range predicate lets the parquet reader skip every row group
    * outside the overlapping range — decode work proportional to
    * selectivity. (Vanilla Spark still PLANS all files; file-level skipping
    * from these same stats is what [[Manifest]] adds on top of exactly
    * this layout.)
    *
    * One range-partitioning shuffle (sampled boundaries) + an in-task sort;
    * no driver-sized state.
    */
  def clusterByRange(spark: SparkSession, path: String, clusterCol: String,
                     nFiles: Int): Unit = {
    require(nFiles > 0, s"nFiles must be positive: $nFiles")
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    FsMaint.withTableLock(fs, path) {
      FsMaint.recoverSwap(fs, path)
      ensureMaterialized(spark, path)
      val manifestKeys = Manifest.currentProfile(spark, path)
      val tmp = path + "__compacting"
      // mergeSchema: see compactTable — rewrites must carry the union schema.
      readTableForRewrite(spark, path)
        .repartitionByRange(nFiles, col(clusterCol))
        .sortWithinPartitions(clusterCol)
        .write.mode("overwrite").parquet(tmp)
      swapAndRefresh(spark, fs, path, tmp, manifestKeys)
    }
  }

  /** Per-file [min, max] spans of `keyCol` for the parquet dir at `path`,
    * sorted by min — the clustering-quality probe ([[clusterByRange]]'s
    * post-condition: spans pairwise disjoint). One scan of the key column.
    */
  def fileSpans(spark: SparkSession, path: String, keyCol: String): Seq[(Long, Long)] = {
    val df = spark.read.parquet(path)
    val k = orderedLong(keyCol, df)
    df.groupBy(input_file_name().as("f"))
      .agg(min(k).as("lo"), max(k).as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
  }

  /** Morton (Z-order) value of `n` normalized long keys `(col, lo, hi)`:
    * each key is min-max normalized to `min(16, 62/n)` bits and
    * bit-interleaved (bit i of key j lands at position i·n + j) — pure
    * integer arithmetic on built-in expressions, fully codegen'd, no UDF.
    * Degenerate ranges (lo == hi) normalize to 0. For n = 2 this is the
    * classic 32-bit Morton code (first key on even positions).
    *
    * All normalization arithmetic is in DOUBLE from the first operation —
    * `(c - lo)` as long subtraction would overflow for domains spanning
    * more than half the int64 range (e.g. mixed-sign hash keys), and so
    * would `(hi - lo)` on the driver; double precision loss only perturbs
    * rank granularity, not layout correctness.
    */
  def zValueN(keys: Seq[(org.apache.spark.sql.Column, Long, Long)]): org.apache.spark.sql.Column = {
    val n = keys.length
    require(n >= 1, "need at least one z-order key")
    val bits = math.min(16, 62 / n)
    require(bits >= 1, s"too many z-order keys: $n")
    val top = ((1L << bits) - 1).toDouble
    def norm(c: org.apache.spark.sql.Column, lo: Long, hi: Long) =
      if (hi > lo)
        (c.cast("double") - lit(lo.toDouble)) / lit(hi.toDouble - lo.toDouble) * lit(top)
      else lit(0.0)
    keys.zipWithIndex.foldLeft(lit(0L)) { case (acc, ((c, lo, hi), j)) =>
      val u = norm(c, lo, hi).cast("long")
      (0 until bits).foldLeft(acc) { (a, i) =>
        a.bitwiseOR(shiftleft(shiftright(u, i).bitwiseAND(lit(1L)), i * n + j))
      }
    }
  }

  /** Two-key convenience form of [[zValueN]] (a on even bit positions, b
    * on odd).
    */
  def zValue(a: org.apache.spark.sql.Column, aLo: Long, aHi: Long,
             b: org.apache.spark.sql.Column, bLo: Long, bHi: Long): org.apache.spark.sql.Column =
    zValueN(Seq((a, aLo, aHi), (b, bLo, bHi)))

  /** Rewrite the parquet dir at `path` Z-ORDER clustered by `cols`
    * (integral / date / timestamp) into `nFiles` files: rows are
    * range-partitioned and sorted on the Morton interleave of the
    * normalized keys, so each file covers a compact REGION of the
    * n-dimensional key space — per-file min/max spans shrink on EVERY
    * dimension simultaneously (≈ files^(-1/n)-way on each axis for
    * balanced data), where a 1-D sort collapses one dimension and leaves
    * the others spanning the whole range. The multi-predicate form of
    * [[clusterByRange]]'s skipping story; same row-group/manifest caveat.
    * The z column is transient — computed for the shuffle+sort, dropped
    * before the write, so content invariance holds by construction.
    *
    * Cost: one narrow min/max pass (bounds for normalization) + one
    * range-partitioning shuffle + in-task sort.
    */
  def clusterByZOrderN(spark: SparkSession, path: String, cols: Seq[String],
                       nFiles: Int): Unit = {
    require(nFiles > 0, s"nFiles must be positive: $nFiles")
    require(cols.nonEmpty, "need at least one z-order column")
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    FsMaint.withTableLock(fs, path) {
      FsMaint.recoverSwap(fs, path)
      ensureMaterialized(spark, path)
      val manifestKeys = Manifest.currentProfile(spark, path)
      // mergeSchema: see compactTable — rewrites must carry the union schema.
      val df = readTableForRewrite(spark, path)
      val longs = cols.map(c => orderedLong(c, df))
      val statAggs = longs.zipWithIndex.flatMap { case (l, i) =>
        Seq(min(l).as(s"lo$i"), max(l).as(s"hi$i")) }
      val bounds = df.agg(statAggs.head, statAggs.drop(1): _*).head()
      val keys = longs.zipWithIndex.map { case (l, i) =>
        (l, bounds.getLong(bounds.fieldIndex(s"lo$i")), bounds.getLong(bounds.fieldIndex(s"hi$i")))
      }
      val tmp = path + "__compacting"
      df.withColumn("__z", zValueN(keys))
        .repartitionByRange(nFiles, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite").parquet(tmp)
      swapAndRefresh(spark, fs, path, tmp, manifestKeys)
    }
  }

  /** Two-column convenience form of [[clusterByZOrderN]]. */
  def clusterByZOrder(spark: SparkSession, path: String, colA: String, colB: String,
                      nFiles: Int): Unit =
    clusterByZOrderN(spark, path, Seq(colA, colB), nFiles)

  /** Rewrite the parquet dir at `path` hive-partitioned by `partCol`
    * (`…/partCol=value/` dirs) — the layout for CATEGORICAL predicates,
    * complementing the range/Z-order rewrites' numeric spans: an equality
    * filter on `partCol` prunes whole directories at PLANNING time
    * (`PartitionFilters` — the scan never lists, opens, or footer-reads
    * the other partitions' files, unlike row-group stats which every
    * planned file still pays). Same atomic swap contract.
    */
  def partitionByColumn(spark: SparkSession, path: String, partCol: String): Unit = {
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    FsMaint.withTableLock(fs, path) {
      FsMaint.recoverSwap(fs, path)
      ensureMaterialized(spark, path)
      val manifestKeys = Manifest.currentProfile(spark, path)
      val tmp = path + "__compacting"
      // mergeSchema: see compactTable — rewrites must carry the union schema.
      // Explicit partition count keeps the per-dir writers PARALLEL (AQE
      // coalesces a bare repartition(col) of a small table to one task,
      // which opens every partition's writer serially); hashing on partCol
      // still gives each partition value exactly one file per write.
      readTableForRewrite(spark, path)
        .repartition(spark.sparkContext.defaultParallelism, col(partCol))
        .write.mode("overwrite").partitionBy(partCol).parquet(tmp)
      swapAndRefresh(spark, fs, path, tmp, manifestKeys)
    }
  }

  /** Mean per-file normalized span of `keyCol` (span / global range, 0..1)
    * — the clustering-quality metric: ≈1 means every file spans the whole
    * domain (no skipping possible), small means predicates on `keyCol`
    * overlap few files' row groups. One scan of the key column.
    */
  def meanNormalizedSpan(spark: SparkSession, path: String, keyCol: String): Double = {
    val df = spark.read.parquet(path)
    val k = orderedLong(keyCol, df)
    val rows = df
      .groupBy(input_file_name().as("f"))
      .agg(min(k).as("lo"), max(k).as("hi"))
      .agg(avg(col("hi") - col("lo")).as("meanSpan"),
        (max(col("hi")) - min(col("lo"))).cast("double").as("range")).head()
    if (rows.getDouble(1) <= 0) 0.0 else rows.getDouble(0) / rows.getDouble(1)
  }

  /** Result of a copy-on-write delete: how targeted the rewrite was. */
  final case class DeleteResult(filesRewritten: Int, filesTotal: Int, rowsDeleted: Long)

  /** Copy-on-write DELETE of a key range — the Iceberg/Delta `DELETE WHERE`
    * shape: the manifest's per-file stats pick the files whose [min, max]
    * overlaps [lo, hi]; ONLY those are decoded and rewritten without the
    * doomed rows; every untouched file is carried by a pure METADATA
    * rename. Decode/encode cost ∝ overlapping files — on a range-clustered
    * table a narrow delete rewrites a handful of files out of millions —
    * and the file-level commit is protected by a rename-committed journal
    * ([[recoverDelete]]): a crash at ANY point either completes on the
    * next call or restores the exact pre-delete table, never a
    * half-deleted or duplicated state.
    *
    * Commit sequence (journal = the staged survivor file names):
    *   1. survivors staged to `<path>__delnew` (the only Spark write)
    *   2. journal rename-committed to `<path>__deleting`
    *   3. `<path>` → `<path>__delold` (table offline, heal-covered)
    *   4. untouched data files renamed `__delold` → `__delnew`
    *   5. `__delnew` → `<path>` (table back, complete)
    *   6. manifest carried + recommitted; `__delold` and journal removed
    *
    * Hive-partitioned tables take the PER-PARTITION commit instead
    * ([[commitReplacePartitioned]]): survivors staged in hive layout,
    * doomed originals retained at their `k=v/` relative paths, commit by
    * file-level moves — untouched PARTITIONS are never planned, listed, or
    * renamed (the flat swap's carry loop would rename every untouched file;
    * at partitioned 100 TB scale that O(table) metadata pass is the
    * bottleneck the per-partition path removes). Requires a manifest
    * snapshot covering `keyCol`: the stats ARE the targeting mechanism.
    * Bounds are inclusive, in the key's normalized long domain (epoch
    * micros / days for temporal keys, the [[Manifest]] convention).
    */
  def deleteRange(spark: SparkSession, path: String, keyCol: String,
                  lo: Long, hi: Long): DeleteResult = {
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    // The table lock serializes the WHOLE op (heal → target → stage →
    // commit): a second COW writer — or a policy-triggered compaction
    // racing a recurring sync loop — fails typed at entry having touched
    // nothing, instead of interleaving swaps with the live writer. Under
    // the lock, the heals can never stomp a live writer's state.
    FsMaint.withTableLock(fs, path) {
    healDelete(spark, path)
    FsMaint.recoverSwap(fs, path)
    ensureMaterialized(spark, path)
    val keys = Manifest.currentKeyCols(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"deleteRange($path) needs a manifest snapshot (Manifest.create) — " +
          "per-file stats are what make the delete targeted"))
    require(keys.contains(keyCol),
      s"manifest has no stats for $keyCol (has: ${keys.mkString(", ")})")
    Manifest.requireLongStats(spark, path, keyCol)
    // completeness, not just existence: targeting is decided FROM the
    // stats, so an unsnapshotted append would silently shelter doomed rows
    Manifest.requireComplete(spark, path)
    val plan = FilePlanner.plan(Manifest.files(spark, path), path, "deleteRange",
      FilePlanner.between(keyCol, lo, hi), Seq(col("n_rows")))
    val total = plan.total
    if (plan.rows.isEmpty) return DeleteResult(0, total, 0L) // metadata no-op
    val picked = plan.files
    // n_rows counts PHYSICAL rows: with a deletion vector present the
    // visible pre-delete count comes from the (DV-applied) picked read.
    val rowsBefore =
      if (Manifest.currentDv(spark, path).isEmpty) plan.rows.map(_.getLong(2)).sum
      else readPickedPinned(spark, path, picked).count()
    if (isHivePartitioned(fs, path)) {
      // Per-partition COW: stage survivors in hive layout, commit by
      // FILE-LEVEL moves — untouched partitions are never planned, listed
      // into the rewrite, or renamed (cost ∝ files touched, not table).
      val stage = path + PartStageSuffix
      FsMaint.deleteRecursively(fs, new Path(stage))
      val pickedDf = readPickedPinned(spark, path, picked)
      val partCols = partitionColsOf(path, picked)
      // NULL keys are outside every range and must SURVIVE: a bare
      // NOT(between) evaluates to NULL for them and the filter would
      // silently delete null-key rows.
      val k = orderedLong(keyCol, pickedDf)
      pickedDf.filter(!k.between(lo, hi) || k.isNull)
        .write.partitionBy(partCols: _*).mode("overwrite").parquet(stage)
      // Survivor count from the commit's own stats — no second read pass.
      val survivorRows = commitReplacePartitioned(spark, fs, path, picked, stage, keys)
      DeleteResult(picked.length, total, rowsBefore - survivorRows)
    } else {
      // 1. stage the survivors (decode/encode limited to the picked files)
      val stage = path + "__delnew"
      FsMaint.deleteRecursively(fs, new Path(stage))
      val pickedDf = readPickedPinned(spark, path, picked)
      // NULL keys survive — see the partitioned branch's comment.
      val k = orderedLong(keyCol, pickedDf)
      pickedDf.filter(!k.between(lo, hi) || k.isNull)
        .write.mode("overwrite").parquet(stage)
      // Survivor count from the commit's own stats — no second read pass.
      val survivorRows = commitReplace(spark, fs, path, picked, stage, keys)
      DeleteResult(picked.length, total, rowsBefore - survivorRows)
    }
    }
  }

  /** MERGE-ON-READ range delete: [[deleteRange]]'s semantics at ZERO data
    * files rewritten — the deletion-vector write path ([[Manifest]]'s
    * `_dv/` sidecar). The manifest picks the files whose key range
    * overlaps [lo, hi] (files without matching keys are never planned);
    * their matching row POSITIONS (parquet `_metadata.row_index`) append
    * to the sidecar, and one metadata-only snapshot commit publishes the
    * carried stats rows plus the grown vector. Reads apply the vector as
    * an anti-join (the only added work is the sidecar scan); COW rewrites
    * and compaction FOLD it (their reads apply the vector, and rewritten
    * files drop their entries at commit). The right tool for frequent
    * small CDC deletes, where [[deleteRange]]'s copy-on-write would pay
    * file-size × touched-file write amplification per batch; compaction
    * folds the accumulated vectors back into data files.
    */
  def deleteRangeDV(spark: SparkSession, path: String, keyCol: String,
                    lo: Long, hi: Long): DeleteResult = {
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    FsMaint.withTableLock(fs, path) {
      healDelete(spark, path)
      FsMaint.recoverSwap(fs, path)
      ensureMaterialized(spark, path)
      val keys = Manifest.currentKeyCols(spark, path).getOrElse(
        throw new IllegalArgumentException(
          s"deleteRangeDV($path) needs a manifest snapshot (Manifest.create) — " +
            "per-file stats are what make the delete targeted"))
      require(keys.contains(keyCol),
        s"manifest has no stats for $keyCol (has: ${keys.mkString(", ")})")
      Manifest.requireLongStats(spark, path, keyCol)
      Manifest.requireComplete(spark, path)
      val latest = Manifest.latestSnapshotId(spark, path).get
      val plan = FilePlanner.plan(Manifest.files(spark, path), path,
        "deleteRangeDV", FilePlanner.between(keyCol, lo, hi))
      val total = plan.total
      val picked = plan.files
      if (picked.isEmpty) return DeleteResult(0, total, 0L) // metadata no-op
      // Doomed positions: the residual predicate over the picked files,
      // with the EXISTING vector already applied (already-deleted rows
      // must not re-enter — entries stay unique, counts stay exact).
      val pickedDf = readPickedPinned(spark, path, picked)
      val k = orderedLong(keyCol, pickedDf)
      val doomed = pickedDf.filter(k.between(lo, hi))
        .select(Manifest.dvFileName.as("file_name"),
          col("_metadata.row_index").as("pos"))
        .localCheckpoint(true)
      try {
        val nDoomed = doomed.count()
        if (nDoomed == 0L) return DeleteResult(0, total, 0L)
        // The commit grows the base's vector by this DELTA internally —
        // delta-shaped, so concurrent disjoint commits rebase.
        Manifest.commitDv(spark, path, latest, doomed)
        DeleteResult(0, total, nDoomed)
      } finally Caching.release(doomed)
    }
  }

  /** FOLD the deletion vector into data files — the targeted counterpart
    * of a whole-table compaction: rewrites ONLY the files carrying DV
    * entries (their surviving rows re-encode without the deleted
    * positions), leaves every clean file untouched, and commits with the
    * folded entries dropped (the inherit rule prunes replaced files'
    * entries, and no other entries exist). The maintenance step that
    * returns a DV-bearing table to the SQL catalog without paying a
    * whole-table rewrite. Returns files folded (0 = no vector).
    */
  def compactDeletes(spark: SparkSession, path: String): Int = {
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    FsMaint.withTableLock(fs, path) {
      healDelete(spark, path)
      FsMaint.recoverSwap(fs, path)
      ensureMaterialized(spark, path)
      val latest = Manifest.latestSnapshotId(spark, path).getOrElse(
        throw new IllegalArgumentException(
          s"compactDeletes($path) needs a manifest snapshot"))
      val dv = Manifest.dvEntries(spark, path, latest).getOrElse(return 0)
      val keys = Manifest.currentKeyCols(spark, path).get
      Manifest.requireComplete(spark, path)
      val names = dv.select("file_name").distinct()
        .collect().map(_.getString(0)).toSet
      val picked = Manifest.metaRows(Manifest.files(spark, path).select("file"))
        .map(_.getString(0))
        .filter(e => names(Manifest.decodePath(e).getName))
      if (picked.isEmpty) return 0 // stale entries reference no live file
      // readPickedPinned applies the vector — the staged survivors ARE the
      // fold.
      val pickedDf = readPickedPinned(spark, path, picked)
      val partitioned = isHivePartitioned(fs, path)
      val stage = path + (if (partitioned) PartStageSuffix else "__delnew")
      FsMaint.deleteRecursively(fs, new Path(stage))
      if (partitioned) {
        pickedDf.write.partitionBy(partitionColsOf(path, picked): _*)
          .mode("overwrite").parquet(stage)
        commitReplacePartitioned(spark, fs, path, picked, stage, keys): Unit
      } else {
        pickedDf.write.mode("overwrite").parquet(stage)
        commitReplace(spark, fs, path, picked, stage, keys): Unit
      }
      picked.length
    }
  }

  private val PartStageSuffix = "__delnewp"
  private val PartJournalSuffix = "__deletingp"

  /** Is a whole-table rewrite going to FLATTEN a hive layout? The Scala
    * API's whole-dir rewrites deliberately flatten (partition columns
    * become data columns — content invariant, history retained at the
    * trash's own `k=v` structure, exercised by ManifestSpec); the SQL
    * CALL surface REFUSES instead (a statement user two keystrokes from
    * `compact` should not silently lose partition pruning) and routes to
    * [[compactPartition]].
    */
  private[graft] def wouldFlatten(spark: SparkSession, path: String): Boolean =
    isHivePartitioned(
      new Path(path).getFileSystem(spark.sessionState.newHadoopConf()), path)

  /** Compact ONE hive partition into ≈`targetBytes`-sized files — the
    * partitioned table's small-file maintenance (`OPTIMIZE … WHERE
    * partCol = value`): at scale a partitioned table is compacted
    * partition-by-partition as each accrues append debt, never as a
    * whole-table rewrite. Runs on the per-partition journaled COW commit:
    * only this partition's files are planned, decoded, rewritten, or
    * renamed; replaced originals are retained in the trash at their `k=v`
    * paths (time travel and the change feed ride across, exactly like any
    * COW mutation); the manifest recommits carrying untouched partitions'
    * stats verbatim. Returns the number of files written (0 = the
    * partition holds at most one file — metadata no-op).
    */
  def compactPartition(spark: SparkSession, path: String, partCol: String,
                       value: String, targetBytes: Long): Int = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    FsMaint.withTableLock(fs, path) {
      healDelete(spark, path)
      FsMaint.recoverSwap(fs, path)
      ensureMaterialized(spark, path)
      val keys = Manifest.currentKeyCols(spark, path).getOrElse(
        throw new IllegalArgumentException(
          s"compactPartition($path) needs a manifest snapshot"))
      Manifest.requireComplete(spark, path)
      require(isHivePartitioned(fs, path),
        s"compactPartition($path): not a hive-partitioned table — " +
          "compactTable is the flat form")
      val seg = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName(partCol) + "=" +
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .escapePathName(value)
      // Segment match runs where the rows live (see dropPartition) — the
      // driver receives only the picked partition's file list.
      import spark.implicits._
      val tablePath = path
      val segMatch = seg
      val picked = Manifest.files(spark, path).select(col("file")).as[String]
        .filter { p =>
          Manifest.relativeTo(tablePath, Manifest.decodePath(p))
            .split('/').dropRight(1).contains(segMatch)
        }.collect().toIndexedSeq
      if (picked.length <= 1) return 0 // nothing to compact
      val totalBytes = picked.map(p =>
        fs.getFileStatus(Manifest.decodePath(p)).getLen).sum
      val nFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
      val stage = path + PartStageSuffix
      FsMaint.deleteRecursively(fs, new Path(stage))
      readPickedPinned(spark, path, picked).repartition(nFiles)
        .write.partitionBy(partitionColsOf(path, picked): _*)
        .mode("overwrite").parquet(stage)
      commitReplacePartitioned(spark, fs, path, picked, stage, keys): Unit
      nFiles
    }
  }

  private def isHivePartitioned(fs: org.apache.hadoop.fs.FileSystem,
                                path: String): Boolean =
    fs.listStatus(new Path(path)).exists(s =>
      s.isDirectory && s.getPath.getName.contains("="))

  /** Partition columns, in directory order, recovered from a table-relative
    * file path's `k=v` segments (`lang=en/part-x` → Seq("lang")).
    */
  private def partitionColsFromRel(rel: String): Seq[String] =
    rel.split('/').dropRight(1).toSeq
      .filter(_.contains("=")).map(_.takeWhile(_ != '='))

  private def partitionColsOf(path: String, picked: Seq[String]): Seq[String] =
    partitionColsFromRel(
      Manifest.relativeTo(path, Manifest.decodePath(picked.head)))

  /** The table's hive partition columns, read off the latest snapshot's
    * first file — or off the directory layout when that snapshot holds
    * ZERO file rows (a prior COW delete doomed every row).
    */
  private def tablePartitionCols(spark: SparkSession,
                                 fs: org.apache.hadoop.fs.FileSystem,
                                 path: String): Seq[String] =
    Manifest.metaRows(Manifest.files(spark, path).select("file").limit(1)).headOption
      .map(r => partitionColsOf(path, Seq(r.getString(0))))
      .getOrElse(partitionColsFromDirs(fs, path))

  /** Write PHYSICAL-named rows to `dest` in the table's layout: routed
    * into `k=v/` dirs for a hive-partitioned table, flat otherwise.
    */
  private def writeInLayout(spark: SparkSession,
                            fs: org.apache.hadoop.fs.FileSystem,
                            path: String, df: org.apache.spark.sql.DataFrame,
                            dest: String, mode: String): Unit =
    if (isHivePartitioned(fs, path))
      df.write.mode(mode).partitionBy(tablePartitionCols(spark, fs, path): _*).parquet(dest)
    else df.write.mode(mode).parquet(dest)

  /** Partition columns recovered from the table's DIRECTORY layout (the
    * first `k=v/` chain found walking down) — the fallback when the latest
    * snapshot holds no file rows to derive them from (a COW delete that
    * doomed every row leaves an empty but still-partitioned table; an
    * insert into it is legitimate and must not crash untyped).
    */
  private[graft] def partitionColsFromDirs(fs: org.apache.hadoop.fs.FileSystem,
                                           path: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var cur = new Path(path)
    var descend = true
    while (descend) {
      descend = false
      val sub = fs.listStatus(cur).find(s =>
        s.isDirectory && s.getPath.getName.contains("=") &&
          !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      sub.foreach { s =>
        out += s.getPath.getName.takeWhile(_ != '=')
        cur = s.getPath
        descend = true
      }
    }
    out.toSeq
  }

  /** Table-relative paths of the staged hive-layout survivor files. */
  private def stagedRels(fs: org.apache.hadoop.fs.FileSystem,
                         stage: String): IndexedSeq[String] =
    FsMaint.listRelative(fs, new Path(stage))(f =>
      f.getPath.getName.startsWith("part-") && f.getLen > 0)
      .map(_._1).toIndexedSeq

  /** The move phase of the PARTITIONED COW commit, shared by commit and
    * crash heal (each rename is atomic and the whole phase idempotent, so
    * re-running after a crash at any point completes it): doomed originals
    * into the trash AT their relative paths, staged survivors into their
    * partition dirs. Untouched partitions are never listed or renamed —
    * cost ∝ files touched.
    */
  private def movePartitionedCommit(fs: org.apache.hadoop.fs.FileSystem,
                                    path: String, stage: String,
                                    doomedRels: Seq[String],
                                    stagedRels: Seq[String]): Unit = {
    val trash = new Path(path, "_graft_trash")
    doomedRels.foreach { rel =>
      val src = new Path(s"$path/$rel")
      if (fs.exists(src)) {
        val dst = new Path(trash, rel)
        // Already retained (a RESTORE's revive copy of this very entry —
        // see retainReplaced): drop the live copy, keep the trash original.
        if (fs.exists(dst)) fs.delete(src, false): Unit
        else {
          fs.mkdirs(dst.getParent)
          if (!fs.rename(src, dst))
            throw new java.io.IOException(s"cow commit: failed to retain $rel")
        }
      }
    }
    stagedRels.foreach { rel =>
      val src = new Path(s"$stage/$rel")
      val dst = new Path(s"$path/$rel")
      if (fs.exists(src) && !fs.exists(dst)) {
        fs.mkdirs(dst.getParent)
        if (!fs.rename(src, dst))
          throw new java.io.IOException(s"cow commit: failed to land $rel")
      }
    }
  }

  /** PARTITIONED COW commit — the per-partition completion of
    * [[commitReplace]]'s flat sequence, at FILE granularity instead of a
    * whole-dir swap (a partitioned table's untouched partitions must not
    * even be renamed through the commit, let alone planned):
    *   1. survivors staged in hive layout under `<path>__delnewp`
    *   2. journal (doomed + staged relative paths) rename-committed
    *   3. doomed originals → `_graft_trash/<rel>` (atomic renames; history
    *      retained at its k=v structure for time travel / the feed)
    *   4. staged survivors → `<path>/<rel>`
    *   5. manifest recommitted: untouched files' stats carried, only the
    *      staged files scanned
    * A crash at any point forward-completes on the next call
    * ([[recoverDelete]]): every move is idempotent, and the manifest heal
    * re-creates a full snapshot. Readers racing the window (steps 3-4) see
    * a transiently partial table through DIRECT parquet reads; the
    * manifest read paths fail typed instead (picked files resolve to
    * neither place mid-move) — the flat swap's loud-unavailability
    * contract, at file scope.
    */
  /** Returns the committed snapshot's row count over the staged (added)
    * files — from the commit's OWN stats rows, so callers needing the
    * staged row count never pay a second read pass over the rewrite
    * (guide §1.2: don't compute things twice; at scale the stage is the
    * mutation-sized data itself).
    */
  private def commitReplacePartitioned(spark: SparkSession,
                                       fs: org.apache.hadoop.fs.FileSystem,
                                       path: String, picked: Seq[String],
                                       stage: String, keys: Seq[String],
                                       txn: Option[(String, Long)] = None,
                                       dv: Manifest.DvCarry = Manifest.DvInherit): Long = {
    val staged = stagedRels(fs, stage)
    val doomed = picked.map(p => Manifest.relativeTo(path, Manifest.decodePath(p)))
    val journal = new Path(path + PartJournalSuffix)
    val jtmp = new Path(path + PartJournalSuffix + "__tmp")
    val out = fs.create(jtmp, true)
    try out.write((doomed.map("D " + _) ++ staged.map("S " + _))
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
    fs.delete(journal, false)
    if (!fs.rename(jtmp, journal))
      throw new java.io.IOException(s"cow journal commit failed: $journal")
    movePartitionedCommit(fs, path, stage, doomed, staged)
    val addedPaths = staged.map(r => new Path(path, r))
    val id = Manifest.commitReplaced(spark, path, keys, picked.toSet,
      addedPaths, txn, dv)
    fs.delete(journal, false)
    FsMaint.deleteRecursively(fs, new Path(stage))
    Manifest.rowsOfFiles(spark, path, id, addedPaths)
  }

  /** Heal an interrupted PARTITIONED COW commit: no journal means nothing
    * irreversible happened (stray staging discarded); with a journal the
    * moves forward-complete idempotently and a fresh full snapshot is
    * committed (the heal cannot know how far the crashed manifest commit
    * got — the crash path pays O(table) stats once, the safe trade).
    */
  private def healDeletePartitioned(spark: SparkSession, path: String): Unit = {
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    val journal = new Path(path + PartJournalSuffix)
    val stage = path + PartStageSuffix
    fs.delete(new Path(path + PartJournalSuffix + "__tmp"), false): Unit
    if (!fs.exists(journal)) {
      FsMaint.deleteRecursively(fs, new Path(stage))
      return
    }
    val in = fs.open(journal)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toIndexedSeq
      finally in.close()
    val doomed = lines.collect { case l if l.startsWith("D ") => l.drop(2) }
    val staged = lines.collect { case l if l.startsWith("S ") => l.drop(2) }
    movePartitionedCommit(fs, path, stage, doomed, staged)
    Manifest.currentProfile(spark, path)
      .foreach(p => Manifest.createLike(spark, path, p): Unit)
    fs.delete(journal, false): Unit
    FsMaint.deleteRecursively(fs, new Path(stage))
  }

  /** Steps 2-6 of the copy-on-write commit sequence (see [[deleteRange]]),
    * shared by every COW mutation: journal the staged file names, swap the
    * table through `__delold`, carry untouched files by metadata rename,
    * restore the table, carry + recommit the manifest. Crash-healed by
    * [[recoverDelete]] at any point.
    */
  private def commitReplace(spark: SparkSession,
                            fs: org.apache.hadoop.fs.FileSystem,
                            path: String, picked: Seq[String], stage: String,
                            keys: Seq[String],
                            txn: Option[(String, Long)] = None,
                            dv: Manifest.DvCarry = Manifest.DvInherit): Long = {
    val stagedFiles = fs.listStatus(new Path(stage))
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .map(_.getPath.getName).toIndexedSeq
    // 2. rename-commit the journal: from here the op is crash-recoverable
    val journal = new Path(path + "__deleting")
    val jtmp = new Path(path + "__deleting__tmp")
    val out = fs.create(jtmp, true)
    try out.write(stagedFiles.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    fs.delete(journal, false)
    if (!fs.rename(jtmp, journal))
      throw new java.io.IOException(s"cow journal commit failed: $journal")
    // 3.-5. the swap: originals aside, untouched carried by rename, back
    val old = path + "__delold"
    if (!fs.rename(new Path(path), new Path(old)))
      throw new java.io.IOException(s"cow commit: failed to move $path aside")
    val pickedNames = picked.map(Manifest.decodePath(_).getName).toSet
    fs.listStatus(new Path(old)).foreach { st =>
      val n = st.getPath.getName
      if (st.isFile && !pickedNames(n) && !n.startsWith("_") && !n.startsWith("."))
        if (!fs.rename(st.getPath, new Path(stage, n)))
          throw new java.io.IOException(s"cow commit: failed to carry $n")
    }
    if (!fs.rename(new Path(stage), new Path(path)))
      throw new java.io.IOException(s"cow commit: failed to swap $stage into $path")
    // 6. manifest survives the rewrite: carry history, then recommit with
    // untouched files' stats carried verbatim — only the staged files are
    // scanned, so the snapshot cost is ∝ the rewrite, not the table
    val mOld = new Path(old, "_graft_manifest")
    val mNew = new Path(path, "_graft_manifest")
    if (fs.exists(mOld) && !fs.exists(mNew)) { fs.rename(mOld, mNew): Unit }
    // earlier mutations' retained history crosses the swap the same way
    carryTrash(fs, old, path)
    val addedPaths = stagedFiles.map(n => new Path(path, n))
    val id = Manifest.commitReplaced(spark, path, keys, picked.toSet,
      addedPaths, txn, dv)
    // 7. RETAIN the replaced originals: move them into the hidden trash
    // dir (metadata renames) instead of deleting — time travel and the
    // change feed read pre-mutation snapshots through the trash until
    // [[Manifest.vacuum]] reclaims unreferenced files. The `_` prefix
    // keeps direct parquet reads blind to them.
    retainReplaced(fs, path, old)
    fs.delete(journal, false): Unit
    Manifest.rowsOfFiles(spark, path, id, addedPaths)
  }

  /** Carry earlier mutations' retained history (`_graft_trash`) from the
    * set-aside dir into the restored table — one rename when the target
    * has no trash yet, a RECURSIVE relative-path merge when a crashed heal
    * already created it (relative paths are write-job-unique, so merges
    * never collide; a top-level-files-only merge would silently drop the
    * `k=v/` subdirs a partitioned mutation retained, destroying the very
    * history retention promised to keep).
    */
  private def carryTrash(fs: org.apache.hadoop.fs.FileSystem,
                         old: String, path: String): Unit = {
    val tOld = new Path(old, "_graft_trash")
    if (!fs.exists(tOld)) return
    val tNew = new Path(path, "_graft_trash")
    if (!fs.exists(tNew)) { fs.rename(tOld, tNew): Unit }
    else {
      // Batched merge: one destination listing decides skip-if-exists (not
      // a per-file exists RPC); parents created once per distinct parent.
      val moved = FsMaint.listRelative(fs, tOld)(_ => true)
      val existing = FsMaint.listRelative(fs, tNew)(_ => true).map(_._1).toSet
      val fresh = moved.filterNot { case (rel, _) => existing(rel) }
      fresh.map { case (rel, _) => new Path(tNew, rel).getParent }
        .distinct.foreach(fs.mkdirs(_): Unit)
      fresh.foreach { case (rel, st) =>
        if (!fs.rename(st.getPath, new Path(tNew, rel)))
          throw new java.io.IOException(s"cow commit: failed to carry trash $rel")
      }
    }
  }

  /** Move every data file left in the set-aside dir `old` (after
    * untouched files were carried out, exactly the replaced originals)
    * into `<path>/_graft_trash/`, then drop `old`. Shared by the commit
    * and the crash heal so an interruption in this window still retains
    * history.
    */
  private def retainReplaced(fs: org.apache.hadoop.fs.FileSystem,
                             path: String, old: String): Unit = {
    val oldP = new Path(old)
    if (fs.exists(oldP)) {
      val trash = new Path(path, "_graft_trash")
      fs.mkdirs(trash)
      fs.listStatus(oldP).foreach { st =>
        val n = st.getPath.getName
        if (st.isFile && n.startsWith("part-") && st.getLen > 0) {
          val dst = new Path(trash, n)
          // Already retained: a file re-enters the live set only as a
          // RESTORE's copy of this very trash entry (part- names are
          // write-unique), so an existing destination is byte-identical —
          // drop the live copy instead of failing the rename.
          if (fs.exists(dst)) fs.delete(st.getPath, false): Unit
          else if (!fs.rename(st.getPath, dst))
            throw new java.io.IOException(s"cow commit: failed to retain $n")
        }
      }
      FsMaint.deleteRecursively(fs, oldP)
    }
  }

  /** Result of a copy-on-write merge: targeting plus row-level outcome. */
  final case class MergeResult(filesRewritten: Int, filesTotal: Int,
                               rowsUpdated: Long, rowsInserted: Long)

  /** Copy-on-write MERGE (keyed upsert) — the `MERGE INTO` shape on the
    * same journaled commit as [[deleteRange]]: a `delta` row whose `keyCol`
    * matches an existing row REPLACES it; the rest are inserts. Targeting
    * comes from the manifest: a file needs rewriting only if SOME delta key
    * falls inside its [min, max] — a broadcast join between the delta's
    * keys and the metadata-sized file-stats frame — so on a key-clustered
    * table a batch of localized updates rewrites only the files it touches,
    * and pure inserts (keys outside every file's range) rewrite NOTHING:
    * they land as ordinary appended files, manifest refreshed either way.
    *
    * Contract: `delta` carries the table's schema with at most one row per
    * key (enforced — a double-keyed delta makes "replace" ambiguous,
    * including hive-partition columns as ordinary data columns); the table
    * is PK-unique per the sync engine's convention. Hive-partitioned
    * tables route through the per-partition commit, pure inserts land as
    * a partitioned append (see [[deleteRange]]); concurrent writers are
    * serialized by the table lock. `refuseNullKeys` (the SQL `UPDATE`)
    * refuses NULL-key delta rows: a matched NULL-key row cannot be
    * replaced in place. All four keyed upserts are [[mergeRowLevel]]
    * transactions whose delta is the whole action set ([[upsert]]).
    */
  def mergeKeyed(spark: SparkSession, path: String, keyCol: String,
                 delta: org.apache.spark.sql.DataFrame,
                 refuseNullKeys: Boolean = false): MergeResult =
    upsert(spark, path, keyCol, delta, dvMode = false, None, refuseNullKeys)

  /** EXACTLY-ONCE [[mergeKeyed]] — the upsert side of the streaming sink's
    * batch dedup, on the same writer-transaction ledger as
    * [[appendOnce]]: a batch at or below the app's recorded version
    * returns `MergeResult(-1, …)` without touching anything (a replayed
    * `addBatch` after a restart is a no-op), and the ledger entry
    * publishes ATOMICALLY with the merge's own snapshot commit — the COW
    * swap is journaled and crash-healed back to nothing, so a replay
    * either sees the committed (version-recorded) state or a clean
    * pre-merge table, never a half-merge. The pure-insert branch (no file
    * overlaps any delta key) lands through [[appendOnce]]'s prefix-named
    * files, whose crash orphans the replay triages before anything else.
    */
  def mergeKeyedOnce(spark: SparkSession, path: String, keyCol: String,
                     txnApp: String, txnVersion: Long,
                     delta: org.apache.spark.sql.DataFrame): MergeResult =
    upsert(spark, path, keyCol, delta, dvMode = false, Some(txnApp -> txnVersion))

  /** MERGE-ON-READ [[mergeKeyedOnce]] — the exactly-once keyed upsert at
    * ZERO data files rewritten: matched rows' positions land on the
    * deletion-vector sidecar, the whole delta appends as new files, and
    * ONE atomic snapshot commit publishes appended stats + grown vector +
    * txn ledger entry. The streaming sink's Update mode under
    * `mergeMode=dv`: per-minute CDC triggers stop paying
    * file-size × touched-file COW write amplification per batch —
    * amplification returns only at the fold
    * ([[compactDeletes]], policy-triggered from the sink or CALL'd).
    * Same exactly-once contract as the COW variant: a replayed batch at or
    * below the ledger version returns `MergeResult(-1, …)` untouched; a
    * crash between computing positions and the commit recomputes
    * identically on retry (nothing published until the one commit).
    */
  def mergeKeyedDvOnce(spark: SparkSession, path: String, keyCol: String,
                       txnApp: String, txnVersion: Long,
                       delta: org.apache.spark.sql.DataFrame): MergeResult =
    upsert(spark, path, keyCol, delta, dvMode = true, Some(txnApp -> txnVersion))

  /** STATEMENT-level merge-on-read keyed upsert — [[mergeKeyedDvOnce]]'s
    * semantics without a caller-owned replay identity (the
    * `graft.merge.mode=dv` write path of SQL `MERGE INTO` whole-row /
    * `UPDATE`). Crash safety rides the statement identity
    * ([[StmtDvApp]]): see [[mergeRowLevel]].
    */
  def mergeKeyedDv(spark: SparkSession, path: String, keyCol: String,
                   delta: org.apache.spark.sql.DataFrame,
                   refuseNullKeys: Boolean = false): MergeResult =
    upsert(spark, path, keyCol, delta, dvMode = true, None, refuseNullKeys)

  /** A keyed upsert as a [[mergeRowLevel]] transaction: the delta is the
    * whole action set (every row an upsert, no deletes), so no source keys
    * are passed — the body targets off the delta's own keys.
    */
  private def upsert(spark: SparkSession, path: String, keyCol: String,
                     delta: org.apache.spark.sql.DataFrame, dvMode: Boolean,
                     txn: Option[(String, Long)],
                     refuseNullKeys: Boolean = false): MergeResult = {
    val r = mergeRowLevel(spark, path, Seq(keyCol), None, dvMode = dvMode,
      txn = txn, refuseNullKeys = refuseNullKeys)(_ => (delta, None))
    MergeResult(r.filesRewritten, r.filesTotal, r.rowsUpdated, r.rowsInserted)
  }

  /** The FIXED ledger app id of dv-mode STATEMENTS (no caller-owned replay
    * identity): each statement lands with version = the snapshot id it
    * will create, so a completed statement's version is always below any
    * later statement's and the ledger never falsely dedups live work.
    */
  private val StmtDvApp = "__stmt-dv"

  /** The fixed-width file-name token of a sink/statement app id — shared
    * by the landing renames ([[appendOnceDv]]) and every orphan triage
    * (this scheme is load-bearing crash-recovery glue: the cleaners only
    * recognize what the landers named).
    */
  private def sinkAppToken(app: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(app.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(12)

  /** A CRASHED dv-mode STATEMENT's prefix-named files (landed, never
    * committed) would trip `requireComplete` and block every later DML —
    * with the fixed [[StmtDvApp]] id, any live `part-sink-<stmtTok>-` file
    * the latest snapshot does not reference is such an orphan (a completed
    * statement's files are referenced by its own atomic commit): delete
    * them up front. Callers hold the table lock.
    */
  private def cleanStmtOrphans(spark: SparkSession,
                               fs: org.apache.hadoop.fs.FileSystem,
                               path: String): Unit = {
    val prefix = s"part-sink-${sinkAppToken(StmtDvApp)}-"
    val referenced = Manifest.metaRows(Manifest.files(spark, path).select("file")
      .filter(col("file").contains(prefix)))
      .map(r => Manifest.decodePath(r.getString(0)).getName).toSet
    FsMaint.listRelative(fs, new Path(path))(st =>
      st.getPath.getName.startsWith(prefix)).foreach { case (rel, st) =>
      if (!rel.split('/').exists(s => s.startsWith("_") || s.startsWith(".")) &&
          !referenced(st.getPath.getName))
        fs.delete(st.getPath, false): Unit
    }
  }

  /** Classify one (app, version) batch's prefix-named artifacts — the
    * crash-recovery step every txn write needs BEFORE `requireComplete`
    * (an interrupted [[appendOnceDv]] leaves landed-but-uncommitted files
    * the completeness check would refuse forever). ONE recursive listing;
    * deletes UNREFERENCED live orphans (the retry simply redoes the batch)
    * and returns true when ADOPTION evidence exists: a trash-resident
    * artifact (only referenced files are ever retired there), or a live
    * one some retained snapshot references (only a FOREIGN incremental can
    * have done that: the batch's own commit records the ledger atomically,
    * which the caller already checked).
    */
  private def triageSinkBatch(spark: SparkSession,
                              fs: org.apache.hadoop.fs.FileSystem,
                              path: String, prefix: String): Boolean = {
    val artifacts = FsMaint.listRelative(fs, new Path(path))(st =>
      st.getPath.getName.startsWith(prefix))
    if (artifacts.isEmpty) return false
    val (hidden, live) = artifacts.partition { case (rel, _) =>
      rel.split('/').exists(s => s.startsWith("_") || s.startsWith(".")) }
    if (hidden.exists(_._1.startsWith("_graft_trash/"))) return true
    if (live.isEmpty) return false
    val snapDirs = Manifest.snapshotIds(spark, path)
    val referenced = snapDirs.nonEmpty && {
      import org.apache.spark.sql.types.{StringType, StructField, StructType}
      spark.read.schema(StructType(Seq(StructField("file", StringType))))
        .parquet(snapDirs.map(id => s"$path/_graft_manifest/snapshot-$id"): _*)
        .filter(col("file").contains(prefix)).limit(1).collect().nonEmpty
    }
    if (referenced) return true
    live.foreach { case (_, st) => fs.delete(st.getPath, false): Unit }
    false
  }

  /** Result of a row-level (multi-clause) merge. */
  final case class MergeRowResult(filesRewritten: Int, filesTotal: Int,
                                  rowsUpdated: Long, rowsDeleted: Long,
                                  rowsInserted: Long)

  /** The keyed-mutation transaction — the one body behind the four keyed
    * upserts ([[mergeKeyed]] & co.) and the general multi-clause SQL
    * `MERGE INTO` (conditional WHEN MATCHED UPDATE / DELETE, partial
    * updates, conditional WHEN NOT MATCHED INSERT): the reference's
    * delete-the-slave-only-keys-then-insert step
    * (Synchronizer.php:495-501) on the journaled COW commit, or on the
    * deletion vector with `dvMode`. The CLAUSE SEMANTICS live in the
    * caller's pure frame computation; this function owns everything
    * stateful: the table lock, crash healing, replay dedup and orphan
    * triage, manifest targeting (a file is read or rewritten only if SOME
    * key falls inside the [min, max] of the LEADING stats-key column —
    * files without matched keys never plan), verification, and the
    * commit. The reference's keyed-delete semantic
    * (TableConnection.php:367-387) reaches SQL through exactly this path
    * (`WHEN MATCHED THEN DELETE`).
    *
    * Keys may be COMPOSITE (the reference's PK is a column list,
    * TableConnection.php:635-656; the sync core carries `Seq[String]`
    * keys end-to-end, Differ): row identity is the TUPLE of `keyCols`
    * values; file targeting uses the first stats-covered component (it
    * prunes exactly as a prefix index does — the others refine identity,
    * not targeting).
    *
    *   - `sourceKeys`: the source join keys as RAW-TYPED columns named
    *     exactly `keyCols`; rows with ANY NULL component are dropped here
    *     (a NULL key matches no row, so it cannot pick files). `None` =
    *     the actions do not depend on the target rows (the keyed upsert):
    *     compute runs first, over an empty target frame, and the upserts'
    *     own keys target the files — the delta materializes ONCE.
    *   - `compute(picked)`: given the manifest-picked target rows (table
    *     schema, snapshot-pinned), returns `(upserts, deleteKeys)` — the
    *     full-schema rows to land (matched UPDATE results + NOT MATCHED
    *     inserts) and optionally a `keyCols`-schema frame of key tuples to
    *     drop (matched DELETEs). Verified here: upsert keys unique (at most
    *     one action row per key) and disjoint from the delete keys, and the
    *     table key-unique over every affected key.
    *   - `txn`: a caller-owned `(app, version)` ledger entry, published in
    *     the same snapshot commit. A version at or below the app's
    *     recorded one returns `filesRewritten = -1` before any work.
    *   - `refuseNullKeys`: refuse NULL-key upserts (the SQL `UPDATE`: a
    *     matched NULL-key row would survive AND its update append).
    *   - `pickAll`: the WHEN NOT MATCHED BY SOURCE shape — compute reads
    *     the whole table, the commit still narrows to affected files.
    *
    * When no file overlaps an affected key the upserts APPEND and nothing
    * is rewritten: through [[appendOnceDv]]'s prefix-named files when a
    * ledger entry lands (`txn`, or the dv-mode statement identity),
    * otherwise as a plain append + incremental snapshot.
    */
  def mergeRowLevel(spark: SparkSession, path: String, keyCols: Seq[String],
                    sourceKeys: Option[org.apache.spark.sql.DataFrame],
                    pickAll: Boolean = false,
                    dvMode: Boolean = false,
                    txn: Option[(String, Long)] = None,
                    refuseNullKeys: Boolean = false)(
      compute: org.apache.spark.sql.DataFrame =>
        (org.apache.spark.sql.DataFrame, Option[org.apache.spark.sql.DataFrame])
  ): MergeRowResult = {
    require(keyCols.nonEmpty, "mergeRowLevel needs at least one key column")
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    // Same whole-op serialization as deleteRange — see its lock comment.
    FsMaint.withTableLock(fs, path) {
      healDelete(spark, path)
      FsMaint.recoverSwap(fs, path)
      ensureMaterialized(spark, path)
      txn.foreach { case (app, v) =>
        // Replay dedup BEFORE any work: at-least-once delivery must be a
        // no-op for an already-committed (app, version).
        if (Manifest.txnVersion(spark, path, app).exists(_ >= v))
          return MergeRowResult(-1, 0, 0L, 0L, 0L)
        // A crash between a landing's renames and its commit leaves
        // prefix-named orphans the requireComplete below would refuse
        // FOREVER: classify them NOW. Unreferenced orphans delete and the
        // replay redoes the batch. Adopted ones are harmless to a COW
        // replay (the keyed replace re-merges them idempotently), but in
        // dv mode a FOREIGN snapshot adopted the rows WITHOUT the vector:
        // proceeding would cement duplicate keys.
        if (triageSinkBatch(spark, fs, path,
              s"part-sink-${sinkAppToken(app)}-$v-") && dvMode)
          throw new IllegalStateException(
            s"mergeRowLevel($path): batch ($app, $v) crashed mid-landing and " +
              "a FOREIGN snapshot adopted its appended rows without the " +
              "deletion-vector half — the table may hold both old and new " +
              "versions of the batch's keys; dedup (e.g. Layout.mergeKeyed " +
              "after inspecting duplicates), then re-run")
      }
      // The ledger entry a landing publishes: the caller's, or in dv mode
      // the statement identity (whose crashed orphans clean first).
      val landTxn = txn.orElse {
        if (!dvMode) None
        else {
          cleanStmtOrphans(spark, fs, path)
          Some(StmtDvApp ->
            (Manifest.latestSnapshotId(spark, path).getOrElse(0) + 1).toLong)
        }
      }
      val keys = Manifest.currentKeyCols(spark, path).getOrElse(
        throw new IllegalArgumentException(
          s"mergeRowLevel($path) needs a manifest snapshot (Manifest.create) — " +
            "per-file stats are what make the merge targeted"))
      // File targeting prunes on ONE component's [min, max]: the first
      // stats-covered key column (ON order) — the others refine identity.
      val keyCol = keyCols.find(keys.contains).getOrElse(
        throw new IllegalArgumentException(
          s"manifest has stats for none of (${keyCols.mkString(", ")}) " +
            s"(has: ${keys.mkString(", ")}) — at least one merge-key " +
            "component must be a stats key, or every file would plan"))
      // completeness, not just existence — see deleteRange: a file appended
      // after the snapshot could hold a matching key and yield a double-insert
      Manifest.requireComplete(spark, path)
      val f = Manifest.files(spark, path)
      val total = Manifest.metaCount(f).toInt
      val kCols = keyCols.map(col)
      def allNotNull(d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
        d.filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
      // Identity work below runs on PHYSICAL-named frames (toPhysicalDf /
      // readPickedPinned): trailing key components CAN be renamed (only
      // stats keys are rename-refused), so the caller's LOGICAL key names
      // translate once here. The leading stats key is never renamed
      // (logical == physical), so the file pick reads it under one name in
      // the logical source keys and the physical action union alike.
      val phys = physMapOf(spark, path)
      val physKeyCols = keyCols.map(c => phys.getOrElse(c, c))
      val pkCols = physKeyCols.map(col)
      // The contract is TYPED, not hoped-for: the key set broadcasts (every
      // identity join below), so a table-sized
      // source must fail with guidance, not OOM the broadcast. Bound
      // configurable per session (`graft.merge.maxSourceKeys`).
      val maxKeys = spark.conf.get("graft.merge.maxSourceKeys", "10000000").toLong
      def bound(n: Long, what: String): Unit =
        if (n > maxKeys)
          throw new IllegalArgumentException(
            s"mergeRowLevel($path): the merge carries $n $what — above " +
              s"graft.merge.maxSourceKeys=$maxKeys. The keyed merge " +
              "broadcasts its key set (delta-sized by contract); for " +
              "table-sized reconciliation use the sync engine's diff path " +
              "(graft.sync.SyncEngine / Differ), which shuffles instead")
      // The files an affected key can live in, picked inside the pass that
      // already runs over the keys — never by a join of the keys against
      // the snapshot.
      lazy val ranges = RangePick.of(f, keyCol)
      def segments(keysDf: org.apache.spark.sql.DataFrame, keep: org.apache.spark.sql.Column) = {
        val k = orderedLong(keyCol, keysDf) // refuses an unorderable key first
        collect_set(when(keep, ranges.segment(k)))
      }
      def emptyTarget: org.apache.spark.sql.DataFrame = {
        // No target rows (no file can contain a matching key, or the keyed
        // upsert reads none): compute still gets a schema-correct frame.
        val sch = Manifest.latestSnapshotId(spark, path)
          .flatMap(id => Manifest.storedSchema(spark, path, id)
            .map(Manifest.toPhysicalSchema(_, phys)))
          .getOrElse(spark.read.parquet(path).schema)
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), sch)
      }
      // Delta-sized frames materialize ONCE, lazily: the first job over
      // each caches it, later broadcasts read the blocks (no extra job).
      var materialized: List[org.apache.spark.sql.DataFrame] = Nil
      def once(d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
        val m = d.localCheckpoint(false)
        materialized ::= m
        m
      }
      def notUnique = s"mergeRowLevel($path): (${keyCols.mkString(", ")}) is not unique " +
        "among affected rows — a keyed replace/delete would silently " +
        "drop duplicate-key siblings; dedup the table first"
      try {
        // Targeting BEFORE compute when the actions read the target rows;
        // `pickAll` = the BY SOURCE shape: un-matched target rows can live
        // in ANY file, so the whole table plans — semantically required,
        // not a lost optimization.
        val (picked, pickedDf) = sourceKeys match {
          case None => (IndexedSeq.empty[String], emptyTarget)
          case Some(src) =>
            val sk = allNotNull(src.select(kCols: _*)).distinct()
            // ONE pass over the source keys: their count for the bound and,
            // unless the whole table plans, the files their keys hit.
            val s = graft.util.Observed.pass(sk, path, "source key pass")(
              count(lit(1)).as("n") +:
                (if (pickAll) Nil else Seq(segments(sk, lit(true)).as("seg"))): _*)
            bound(s.getLong(0), "distinct source keys")
            val p =
              if (pickAll) Manifest.plannedRows(f.select("file"), path, "mergeRowLevel")
                .map(_.getString(0))
              else ranges.files(s.getSeq[Int](1))
            (p, if (p.nonEmpty) readPickedPinned(spark, path, p) else emptyTarget)
        }
        // compute speaks LOGICAL (it rebinds SQL expressions by column
        // name); the COW machinery below speaks physical.
        val (upserts0, delKeys0) = compute(toLogicalDf(pickedDf, phys))
        val upserts = once(toPhysicalDf(upserts0, phys))
        val delKeys = delKeys0.map(d => once(allNotNull(d.select(kCols: _*))
          .select(keyCols.map(c => col(c).as(phys.getOrElse(c, c))): _*).distinct()))
        // The keyed upsert targets off its affected keys; with `pickAll`
        // the COMMIT narrows back to the files whose key range holds an
        // affected key, so write amplification stays ∝ rows changed, not
        // table size. Either way the pick rides the action pass below.
        val commitPick = sourceKeys.isEmpty || pickAll
        // ONE grouped pass over the tagged action union answers the keyed
        // size bound, the NULL-key refusal, upsert-key uniqueness, the
        // update/delete overlap, both action totals and the commit's file
        // pick, all observed on the groups as they run. NULL keys group as
        // one, preserving the at-most-one-action-row-per-key contract.
        def tag(d: org.apache.spark.sql.DataFrame, a: String) =
          d.select(pkCols :+ lit(a).as("__a"): _*)
        val acts = delKeys.foldLeft(tag(upserts, "u"))((u, d) => u.unionByName(tag(d, "d")))
        val grouped = acts.groupBy(pkCols: _*)
          .agg(sum(when(col("__a") === "u", 1L).otherwise(0L)).as("__cu"),
               sum(when(col("__a") === "d", 1L).otherwise(0L)).as("__cd"))
        def sumOf(c: org.apache.spark.sql.Column, name: String) =
          coalesce(sum(c), lit(0L)).as(name)
        val s = graft.util.Observed.pass(grouped, path, "action pass")(
          Seq(sumOf(col("__cu"), "u"), sumOf(col("__cd"), "d"),
            sumOf(when(col("__cu") > 1, lit(1L)), "dup"),
            sumOf(when(col("__cu") > 0 && col("__cd") > 0, lit(1L)), "both"),
            sumOf(when(pkCols.map(_.isNull).reduce(_ || _), col("__cu")), "nullKey")) ++
          (if (commitPick)
             Seq(segments(grouped, pkCols.map(_.isNotNull).reduce(_ && _)).as("seg"))
           else Nil): _*)
        val nUp = s.getLong(0)
        val nDel = s.getLong(1)
        if (sourceKeys.isEmpty) bound(nUp, "delta rows")
        // Checked BEFORE the uniqueness require: two matched NULL-key rows
        // collapse into one group there and would report the misleading
        // "more than one action row" error instead of this guidance.
        if (refuseNullKeys && s.getLong(4) > 0)
          throw new IllegalArgumentException(
            s"UPDATE on $path matches ${s.getLong(4)} row(s) with a NULL " +
              s"merge key `$keyCol` — a keyed upsert cannot replace them in " +
              "place; route null-key rows through a rewrite instead")
        require(s.getLong(2) == 0L,
          s"MERGE produced more than one action row for some " +
            s"(${keyCols.mkString(", ")}) — replace would be ambiguous")
        require(s.getLong(3) == 0L,
          s"MERGE resolved some (${keyCols.mkString(", ")}) to BOTH an " +
            "update and a delete — clause conditions must pick one action " +
            "per matched row")
        if (nUp == 0 && nDel == 0) return MergeRowResult(0, total, 0L, 0L, 0L)
        // Affected = keys whose target rows are replaced (updates) or
        // dropped (deletes) — UNIQUE per key by the checks above, so the
        // union itself is the tagged broadcast. NULL-component keys match
        // no target row (and orderedLong targeting would null them out).
        val tagged = acts.filter(pkCols.map(_.isNotNull).reduce(_ && _))
        val (commitPicked, commitDf) =
          if (!commitPick) (picked, pickedDf)
          else {
            val p = ranges.files(s.getSeq[Int](5))
            (p, if (p.nonEmpty) readPickedPinned(spark, path, p) else pickedDf)
          }
        if (commitPicked.isEmpty) {
          // Pure insert: no file overlaps an affected key, deletes can
          // match nothing — the upserts append, nothing is rewritten.
          if (nUp == 0) return MergeRowResult(0, total, 0L, 0L, 0L)
          landTxn match {
            case Some((app, v)) =>
              appendOnceDv(spark, path, app, v, toLogicalDf(upserts, phys),
                Manifest.DvInherit): Unit
            case None =>
              writeInLayout(spark, fs, path, upserts, path, "append")
              Manifest.createIncremental(spark, path, keys: _*)
          }
          return MergeRowResult(0, total, 0L, 0L, nUp)
        }
        if (dvMode) {
          // The affected target rows, per action, with their (file name,
          // position) — materialized BEFORE the join (the using-columns
          // join inserts a Project, and `_metadata` does not survive
          // projections) and kept: the sidecar reads it again.
          val matched = once(commitDf
            .select(pkCols ++ Seq(Manifest.dvFileName.as("file_name"),
              col("_metadata.row_index").as("pos")): _*)
            .join(broadcast(tagged), physKeyCols))
          val mStats = matched.groupBy((pkCols :+ col("__a")): _*).count()
            .agg(coalesce(sum(when(col("__a") === "u", col("count"))), lit(0L)),
                 coalesce(sum(when(col("__a") === "d", col("count"))), lit(0L)),
                 coalesce(sum(when(col("count") > 1, lit(1))), lit(0L))).head()
          val updated = mStats.getLong(0)
          val deleted = mStats.getLong(1)
          require(mStats.getLong(2) == 0, notUnique)
          // MERGE-ON-READ commit: affected target rows become deletion-vector
          // POSITIONS (their replacements/inserts append), ZERO data files
          // rewritten — for EVERY clause mix, including BY SOURCE (which
          // must READ the whole table but writes only the sidecar + rows).
          // Delta-shaped: the commit grows the base's vector internally, so
          // a rebase onto a concurrent winner composes both deletes.
          val dv =
            if (updated + deleted == 0L) Manifest.DvInherit
            else Manifest.DvDelta(matched.select("file_name", "pos"))
          if (nUp == 0)
            // Pure delete: one metadata-only commit (an empty append would
            // no-op without committing the vector).
            Manifest.commitDelta(spark, path, Manifest.latestSnapshotId(spark, path).get,
              Set.empty, None, txn = txn, dv = dv): Unit
          else {
            val (app, v) = landTxn.get
            // One atomic commit: appended stats + vector + ledger entry.
            appendOnceDv(spark, path, app, v, toLogicalDf(upserts, phys), dv): Unit
          }
          MergeRowResult(0, total, updated, deleted, nUp - updated)
        } else {
          // ONE read of the picked files: a left-outer join against the
          // affected keys keeps the unmatched rows as survivors, and an
          // Observation on the same write counts the matched rows per
          // action plus a duplicate witness — matched rows against distinct
          // matched keys (tagged keys are unique, so any excess is a key
          // two target rows share). The witness's key set is delta-sized:
          // `tagged` is bounded by graft.merge.maxSourceKeys.
          val obs = org.apache.spark.sql.Observation()
          val survivors = commitDf
            .join(broadcast(tagged), physKeyCols, "left_outer")
            .observe(obs,
              count(when(col("__a") === "u", 1)).as("u"),
              count(when(col("__a") === "d", 1)).as("d"),
              count(col("__a")).as("m"),
              size(collect_set(when(col("__a").isNotNull, struct(pkCols: _*)))).as("k"))
            .filter(col("__a").isNull)
            // the using-columns join moved the keys to the front
            .select(commitDf.columns.toIndexedSeq.map(c => col(s"`${c.replace("`", "``")}`")): _*)
            .unionByName(upserts)
          val partitioned = isHivePartitioned(fs, path)
          val stage = path + (if (partitioned) PartStageSuffix else "__delnew")
          FsMaint.deleteRecursively(fs, new Path(stage))
          if (partitioned)
            survivors.write.partitionBy(partitionColsOf(path, commitPicked): _*)
              .mode("overwrite").parquet(stage)
          else survivors.write.mode("overwrite").parquet(stage)
          // Checked before anything publishes: a refused rewrite leaves
          // neither a snapshot nor its stage behind.
          val m = graft.util.Observed.row(obs, path, "merge survivor write")
          val unique = m.getLong(2) == m.getInt(3).toLong
          if (!unique) FsMaint.deleteRecursively(fs, new Path(stage))
          require(unique, notUnique)
          if (partitioned)
            commitReplacePartitioned(spark, fs, path, commitPicked, stage, keys, txn): Unit
          else commitReplace(spark, fs, path, commitPicked, stage, keys, txn): Unit
          val updated = m.getLong(0)
          MergeRowResult(commitPicked.length, total, updated, m.getLong(1), nUp - updated)
        }
      } finally materialized.foreach(Caching.release)
    }
  }

  /** Drop ONE hive partition by COW retention — the `ALTER TABLE DROP
    * PARTITION` / `DELETE WHERE partCol = v` shape, as a PURE METADATA
    * operation: every live file under the partition's `k=v/` dir moves to
    * the retained trash (atomic renames, journaled like any partitioned
    * COW commit) and the manifest drops their stats rows — ZERO data files
    * are decoded, planned, or written, so the cost is O(partition files)
    * renames at any table size. History contract unchanged: pre-drop
    * snapshots read the partition through the trash until vacuum.
    * `value` is the partition's RAW value (escaped here exactly as the
    * writer escaped it). Returns the targeting evidence; a value matching
    * no partition is a metadata no-op.
    */
  def dropPartition(spark: SparkSession, path: String, partCol: String,
                    value: String): DeleteResult = {
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    FsMaint.withTableLock(fs, path) {
      healDelete(spark, path)
      FsMaint.recoverSwap(fs, path)
      ensureMaterialized(spark, path)
      val keys = Manifest.currentKeyCols(spark, path).getOrElse(
        throw new IllegalArgumentException(
          s"dropPartition($path) needs a manifest snapshot (Manifest.create) — " +
            "the commit carries its stats rows"))
      Manifest.requireComplete(spark, path)
      val seg = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName(partCol) + "=" +
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .escapePathName(value)
      val f = Manifest.files(spark, path)
      val total = Manifest.metaCount(f).toInt
      // The segment match runs WHERE THE ROWS LIVE (a Dataset filter over
      // the snapshot frame) — the driver receives only the PICKED
      // partition's rows, never the table's file list (the same
      // only-the-final-list discipline as Manifest.plannedPaths).
      import spark.implicits._
      val tablePath = path
      val segMatch = seg
      val pickedRows = f.select(col("file"), col("n_rows")).as[(String, Long)]
        .filter { case (p, _) =>
          Manifest.relativeTo(tablePath, Manifest.decodePath(p))
            .split('/').dropRight(1).contains(segMatch)
        }.collect()
      if (pickedRows.isEmpty) return DeleteResult(0, total, 0L)
      val picked = pickedRows.map(_._1).toIndexedSeq
      val doomed = picked.map(p => Manifest.relativeTo(path, Manifest.decodePath(p)))
      // Journaled like the partitioned COW commit (D entries only, no
      // staged survivors) — a crash at any point forward-completes.
      val journal = new Path(path + PartJournalSuffix)
      val jtmp = new Path(path + PartJournalSuffix + "__tmp")
      val out = fs.create(jtmp, true)
      try out.write(doomed.map("D " + _).mkString("\n").getBytes("UTF-8"))
      finally out.close()
      fs.delete(journal, false)
      if (!fs.rename(jtmp, journal))
        throw new java.io.IOException(s"drop-partition journal commit failed: $journal")
      movePartitionedCommit(fs, path, path + PartStageSuffix, doomed, Nil)
      Manifest.commitReplaced(spark, path, keys, picked.toSet, Nil)
      fs.delete(journal, false): Unit
      DeleteResult(picked.length, total, pickedRows.map(_._2).sum)
    }
  }

  /** A non-empty `part-` file: what a stage dir's writers leave as data. */
  private def isDataFile(st: org.apache.hadoop.fs.FileStatus): Boolean =
    st.getPath.getName.startsWith("part-") && st.getLen > 0

  /** The rows in `staged`, the data files of the stage dir `stage`, from
    * their parquet footers — no schema inference and no count job. A
    * footer that does not read falls back to a Spark count of the dir.
    */
  private def stagedRowCount(spark: SparkSession, stage: String,
                             staged: Seq[org.apache.hadoop.fs.FileStatus]): Long =
    if (staged.isEmpty) 0L
    else org.apache.spark.sql.graftshim.FooterStats.read(spark, staged)
      .fold(spark.read.parquet(stage).count())(_.map(_.rowCount).sum)

  /** What an [[overwriteWhere]] replaces — the shapes the manifest/layout
    * can target without planning untouched files (the same contract as the
    * SQL DELETE translation): the whole table, one hive partition, or a
    * contiguous range on a stats-covered key column.
    */
  sealed trait OverwriteTarget
  case object OverwriteAll extends OverwriteTarget
  final case class OverwritePartition(partCol: String, value: String)
    extends OverwriteTarget
  final case class OverwriteRange(keyCol: String, lo: Long, hi: Long)
    extends OverwriteTarget
  /** DYNAMIC partition overwrite (`partitionOverwriteMode=dynamic`):
    * replace exactly the partitions the INSERTED data lands in — derived
    * from the STAGED files' `k=v/` dirs, so the incoming query still
    * executes exactly once and no partition the data never touched moves.
    */
  case object OverwriteDynamicPartitions extends OverwriteTarget

  final case class OverwriteResult(filesReplaced: Int, filesTotal: Int,
                                   rowsDeleted: Long, rowsInserted: Long)

  /** `INSERT OVERWRITE` / `REPLACE WHERE` — the standard pipeline-reload
    * shape (re-materialize one day's partition, reload a key range): DELETE
    * the target's rows and INSERT `data0`, atomically, as ONE journaled COW
    * commit on the same machinery as [[deleteRange]]/[[mergeKeyed]] (a
    * crash either forward-completes or restores the exact pre-op table —
    * never the deleted-but-not-yet-inserted middle a caller-side
    * DELETE+INSERT pair exposes).
    *
    * Cost ∝ the replaced files plus the insert: a partition overwrite
    * plans only that partition's files, a range overwrite only the
    * [min, max]-overlapping files (their out-of-range rows survive into
    * the staged rewrite), untouched files are carried by metadata moves.
    *
    * Inserted rows must SATISFY the target (Delta's replaceWhere
    * contract): a row outside the overwritten partition/range would
    * silently double against the rows it failed to replace — refused
    * typed, with nothing moved (validation reads only the STAGED files, so
    * the incoming query runs exactly once). The SQL static-partition shape
    * (`INSERT OVERWRITE ... PARTITION (p='v')`) satisfies this by
    * construction. Self-referential sources (`INSERT OVERWRITE t SELECT
    * ... FROM t`) are safe: the stage write executes the source query
    * while every original file is still in place.
    */
  def overwriteWhere(spark: SparkSession, path: String,
                     target: OverwriteTarget,
                     data0: org.apache.spark.sql.DataFrame): OverwriteResult = {
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    FsMaint.withTableLock(fs, path) {
      healDelete(spark, path)
      FsMaint.recoverSwap(fs, path)
      ensureMaterialized(spark, path)
      val keys = Manifest.currentKeyCols(spark, path).getOrElse(
        throw new IllegalArgumentException(
          s"overwriteWhere($path) needs a manifest snapshot (Manifest.create)"))
      Manifest.requireComplete(spark, path)
      val latest = Manifest.latestSnapshotId(spark, path).get
      // Additive-evolution gate BEFORE any file lands — same as [[append]].
      Manifest.storedSchema(spark, path, latest)
        .foreach(old => Manifest.mergeAdditive(old, data0.schema): Unit)
      val data = toPhysicalDf(data0, physMapOf(spark, path))
      val f = Manifest.files(spark, path)
      val total = Manifest.metaCount(f).toInt
      val partitioned = isHivePartitioned(fs, path)
      // Targeting: the files whose rows the overwrite dooms. The DYNAMIC
      // shape is decided AFTER staging (its partitions are read off the
      // staged dirs), so it contributes no files here.
      val pickedEarly: IndexedSeq[String] = target match {
        case OverwriteDynamicPartitions =>
          require(partitioned,
            s"dynamic partition overwrite on $path needs a hive-partitioned " +
              "layout — an unpartitioned table has no partitions to replace " +
              "(use a plain INSERT OVERWRITE)")
          IndexedSeq.empty
        case OverwriteAll =>
          Manifest.plannedRows(f.select("file"), path, "overwriteWhere").map(_.getString(0))
        case OverwritePartition(partCol, value) =>
          val seg = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .escapePathName(partCol) + "=" +
            org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .escapePathName(value)
          import spark.implicits._
          val tablePath = path
          f.select("file").as[String].filter { p =>
            Manifest.relativeTo(tablePath, Manifest.decodePath(p))
              .split('/').dropRight(1).contains(seg)
          }.collect().toIndexedSeq
        case OverwriteRange(keyCol, lo, hi) =>
          require(keys.contains(keyCol),
            s"manifest has no stats for $keyCol (has: ${keys.mkString(", ")})")
          Manifest.requireLongStats(spark, path, keyCol)
          FilePlanner.plan(f, path, "overwriteWhere",
            FilePlanner.between(keyCol, lo, hi)).files
      }
      val stage = path + (if (partitioned) PartStageSuffix else "__delnew")
      FsMaint.deleteRecursively(fs, new Path(stage))
      val pCols =
        if (!partitioned) Nil
        else if (pickedEarly.nonEmpty) partitionColsOf(path, pickedEarly)
        else tablePartitionCols(spark, fs, path)
      def stageWrite(df: org.apache.spark.sql.DataFrame): Unit =
        if (partitioned)
          df.write.partitionBy(pCols: _*).mode("append").parquet(stage)
        else df.write.mode("append").parquet(stage)
      // 1a. stage the INSERTED rows first (the only execution of the
      // incoming query), then validate them from the staged files.
      stageWrite(data)
      val staged = FsMaint.listRelative(fs, new Path(stage))(isDataFile).map(_._2)
      val stagedNew = staged.length
      val newRows = stagedRowCount(spark, stage, staged)
      def refuse(n: Long, what: String): Unit = if (n > 0) {
        FsMaint.deleteRecursively(fs, new Path(stage))
        throw new IllegalArgumentException(
          s"overwriteWhere($path): $n inserted row(s) fall outside the " +
            s"overwritten $what — they would silently coexist with the rows " +
            "they failed to replace; fix the source query or widen the target")
      }
      if (stagedNew > 0) target match {
        case OverwriteAll | OverwriteDynamicPartitions => ()
        case OverwritePartition(partCol, value) =>
          val stagedDf = spark.read.parquet(stage)
          refuse(stagedDf.filter(!(col(partCol).cast("string") <=> lit(value)))
            .count(), s"partition $partCol=$value")
        case OverwriteRange(keyCol, lo, hi) =>
          val stagedDf = spark.read.parquet(stage)
          val k = orderedLong(keyCol, stagedDf)
          refuse(stagedDf.filter(k.isNull || !k.between(lo, hi)).count(),
            s"range $keyCol in [$lo, $hi]")
      }
      // DYNAMIC targeting from the staged layout: the distinct `k=v/` dirs
      // the data materialized name exactly the partitions to replace —
      // zero extra executions of the incoming query, and a partition the
      // data never touched can never move.
      val picked: IndexedSeq[String] = target match {
        case OverwriteDynamicPartitions =>
          val touched: Set[String] = {
            val out = Set.newBuilder[String]
            FsMaint.walkFiles(fs, new Path(stage)) { st =>
              if (st.getPath.getName.startsWith("part-")) {
                val rel = Manifest.relativeTo(stage, st.getPath)
                  .split('/').dropRight(1).mkString("/")
                if (rel.nonEmpty) out += rel
              }
              true
            }
            out.result()
          }
          import spark.implicits._
          val tablePath = path
          if (touched.isEmpty) IndexedSeq.empty
          else f.select("file").as[String].filter { p =>
            touched.contains(Manifest.relativeTo(tablePath,
              Manifest.decodePath(p)).split('/').dropRight(1).mkString("/"))
          }.collect().toIndexedSeq
        case _ => pickedEarly
      }
      // Visible rows the overwrite removes (DV-exact, like [[deleteRange]]).
      lazy val pickedDf = readPickedPinned(spark, path, picked)
      val rowsBefore =
        if (picked.isEmpty) 0L
        else if (Manifest.currentDv(spark, path).isEmpty)
          f.filter(col("file").isInCollection(picked))
            .agg(coalesce(sum("n_rows"), lit(0L))).head().getLong(0)
        else pickedDf.count()
      // 1b. stage the SURVIVORS of a range overwrite: picked files may hold
      // out-of-range rows (NULL keys are outside every range and survive —
      // the [[deleteRange]] contract).
      target match {
        case OverwriteRange(keyCol, lo, hi) if picked.nonEmpty =>
          val k = orderedLong(keyCol, pickedDf)
          stageWrite(pickedDf.filter(!k.between(lo, hi) || k.isNull))
        case _ => ()
      }
      if (picked.isEmpty && stagedNew == 0) {
        // Nothing doomed, nothing inserted — a provable no-op.
        FsMaint.deleteRecursively(fs, new Path(stage))
        return OverwriteResult(0, total, 0L, 0L)
      }
      // The commit's stats count every staged file (survivors + inserts);
      // subtracting the inserted rows recovers the survivor count with no
      // second read pass over the stage (zero for non-range targets, whose
      // stage holds only the new data).
      val addedRows =
        if (partitioned)
          commitReplacePartitioned(spark, fs, path, picked, stage, keys)
        else commitReplace(spark, fs, path, picked, stage, keys)
      OverwriteResult(picked.length, total,
        rowsBefore - (addedRows - newRows), newRows)
    }
  }

  /** APPEND `data` to a manifested table — the engine-side `INSERT INTO`:
    * rows land as ordinary appended files (routed into `k=v/` dirs for a
    * hive layout, [[writeInLayout]] — as [[mergeRowLevel]]'s pure inserts
    * land), then the snapshot is refreshed INCREMENTALLY (only
    * the appended files are scanned — cost ∝ the insert, never the table).
    * Serialized against COW/rewrite swaps by the table lock: an append
    * racing a swap window could land rows in a dir mid-rename. Returns the
    * rows appended. Additive schema evolution applies (new nullable columns
    * fold into the recorded schema; a type change fails typed BEFORE the
    * snapshot commits).
    */
  def append(spark: SparkSession, path: String,
             data: org.apache.spark.sql.DataFrame): Long = {
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    FsMaint.withTableLock(fs, path) {
      healDelete(spark, path)
      FsMaint.recoverSwap(fs, path)
      ensureMaterialized(spark, path)
      val keys = Manifest.currentKeyCols(spark, path).getOrElse(
        throw new IllegalArgumentException(
          s"append($path) needs a manifest snapshot (Manifest.create) — " +
            "the incremental refresh is keyed on its stats columns"))
      // Additive-evolution gate BEFORE any file lands: an incompatible
      // insert must leave NOTHING behind (orphan ill-typed parquet files
      // would wedge every later append on the same merge error and leak
      // into direct reads).
      val latest = Manifest.latestSnapshotId(spark, path).get
      Manifest.storedSchema(spark, path, latest)
        .foreach(old => Manifest.mergeAdditive(old, data.schema): Unit)
      if (data.isEmpty) return 0L
      val rowsBefore = Manifest.snapshotRowCount(spark, path)
      // ONE execution of the incoming query (the write); the appended row
      // count comes from the snapshot's METADATA diff — exact even for
      // non-deterministic sources, where a separate count() would run the
      // query twice and report rows that were never written.
      // Appended files must carry the table's PHYSICAL column names (one
      // physical schema per table — the rename invariant).
      val physData = toPhysicalDf(data, physMapOf(spark, path))
      writeInLayout(spark, fs, path, physData, path, "append")
      Manifest.createIncremental(spark, path, keys: _*)
      Manifest.snapshotRowCount(spark, path) - rowsBefore
    }
  }

  /** Outcome of [[restoreSnapshot]]: files copied back from the trash,
    * files retired to it, and files that were already in place.
    */
  final case class RestoreResult(newSnapshotId: Int, revived: Int,
                                 retired: Int, kept: Int)

  /** ROLL BACK the table's LIVE state to retained snapshot `targetId` — the
    * `RESTORE TABLE ... VERSION AS OF` shape, as a new FORWARD commit
    * (history is never rewritten: every snapshot since the target stays
    * readable, and the restore itself is one more entry in the history):
    *
    *   - files of the target state that now sit in the retained trash are
    *     COPIED back live (copies, not moves — the trash entry keeps
    *     serving every OTHER snapshot that references it);
    *   - live files the target state lacks are retired to the trash;
    *   - files in both states stay in place, never read or moved.
    *
    * Runs on the SAME journaled COW commit as delete/merge (flat swap or
    * per-partition moves, crash-healed), so cost is ∝ files changed
    * between the states, never table size. Restore across a schema change
    * is refused typed (v1 contract: the restored data must decode under
    * the current recorded schema); unreachable targets (expired, or
    * vacuumed files) fail typed.
    */
  def restoreSnapshot(spark: SparkSession, path: String,
                      targetId: Int): RestoreResult = {
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    FsMaint.withTableLock(fs, path) {
      healDelete(spark, path)
      FsMaint.recoverSwap(fs, path)
      // NO ensureMaterialized here — restore is the SUBROUTINE of the
      // branch transitions themselves (materializeTo, abandonBranch): a
      // pending logical checkout materializing mid-transition would nest a
      // second transition inside the first and break the one-unpinned-ref
      // invariant. The SQL restore procedure materializes at ITS layer.
      val keys = Manifest.currentKeyCols(spark, path).getOrElse(
        throw new IllegalArgumentException(
          s"restoreSnapshot($path) needs a manifest snapshot"))
      Manifest.requireComplete(spark, path)
      val latest = Manifest.latestSnapshotId(spark, path).get
      val restored = Manifest.snapshotEntriesResolved(spark, path, targetId)
      if (targetId == latest)
        return RestoreResult(latest, 0, 0, restored.size)
      // Deletion vectors restore as ROW-LEVEL state: the new snapshot
      // carries EXACTLY the target's sidecar (restored visibility ≡
      // readAsOf(target)) — entries are (file name, position) and revived
      // copies keep their names, so target entries stay valid verbatim.
      // An explicit EMPTY carry clears the latest's vector when the target
      // had none (inheriting it would keep rows deleted that the target
      // state shows).
      val dvTarget = Manifest.dvEntries(spark, path, targetId)
      val dvDiffers = dvTarget.isDefined || Manifest.hasDv(spark, path, latest)
      val dvCarry: Manifest.DvCarry =
        if (!dvDiffers) Manifest.DvInherit
        else Manifest.DvExplicit(dvTarget.getOrElse(
          spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("file_name",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("pos",
                org.apache.spark.sql.types.LongType))))))
      val sL = Manifest.storedSchema(spark, path, latest)
      val sT = Manifest.storedSchema(spark, path, targetId)
      require(sT.isEmpty || sL == sT,
        s"restoreSnapshot($path): snapshot-$targetId has a different recorded " +
          "schema than the live table — restore across a schema change needs " +
          "an explicit updateSchema first (the restored files must decode " +
          "under the current read schema)")
      val current = Manifest.snapshotEntriesResolved(spark, path, latest)
      val restoredRels = restored.map(r =>
        Manifest.relativeTo(path, Manifest.decodePath(r.entry))).toSet
      // Live files the target lacks — retired by the journaled commit.
      val toRemove = current.collect { case r
        if !restoredRels(Manifest.relativeTo(path, Manifest.decodePath(r.entry))) =>
        r.entry }
      // Target files now in the trash — revived by copy into the stage
      // (the resolver's explicit flag, never a path-string prefix test:
      // scheme-qualified roots would defeat any prefix comparison).
      val toRevive = restored.filter(_.inTrash)
      if (toRemove.isEmpty && toRevive.isEmpty) {
        if (!dvDiffers) return RestoreResult(latest, 0, 0, restored.size)
        // File-identical states with a ROW-LEVEL (DV) difference — e.g.
        // restoring across a DV-only delete: one metadata commit
        // republishes the target's EXACT vector over the carried stats
        // (explicit, not a delta — restore replaces, never grows).
        val id = Manifest.commitDelta(spark, path, latest, Set.empty, None,
          dv = dvCarry)
        return RestoreResult(id, 0, 0, restored.size)
      }
      val partitioned = isHivePartitioned(fs, path)
      val stage = path + (if (partitioned) PartStageSuffix else "__delnew")
      FsMaint.deleteRecursively(fs, new Path(stage))
      fs.mkdirs(new Path(stage))
      val conf = spark.sessionState.newHadoopConf()
      toRevive.foreach { r =>
        val rel = Manifest.relativeTo(path, Manifest.decodePath(r.entry))
        val dest = new Path(stage, rel)
        fs.mkdirs(dest.getParent)
        if (!org.apache.hadoop.fs.FileUtil.copy(fs, new Path(r.resolved),
            fs, dest, false, conf))
          throw new java.io.IOException(s"restore: failed to revive $rel")
      }
      if (partitioned)
        commitReplacePartitioned(spark, fs, path, toRemove, stage, keys,
          dv = dvCarry): Unit
      else commitReplace(spark, fs, path, toRemove, stage, keys, dv = dvCarry): Unit
      RestoreResult(Manifest.latestSnapshotId(spark, path).get,
        toRevive.size, toRemove.size, restored.size - toRevive.size)
    }
  }

  /** EXACTLY-ONCE append — [[append]] guarded by a writer-transaction
    * ledger, the engine side of the streaming sink's batch dedup (the
    * Delta txnAppId/txnVersion idea on this table format):
    *
    *   - The manifest's latest snapshot carries a ledger (app → highest
    *     committed version), published ATOMICALLY with each snapshot
    *     commit. A batch at or below the recorded version returns -1
    *     without touching anything — a replayed `addBatch` after a
    *     restart is a no-op.
    *   - Batch files land under DETERMINISTIC names
    *     (`part-sink-<app>-<version>-<i>`), staged then moved in under the
    *     table lock. A crash between the moves and the snapshot commit
    *     leaves orphans the ledger proves uncommitted — the retry deletes
    *     exactly those and redoes the batch. If a FOREIGN incremental
    *     snapshot adopted them meanwhile (auto-discovery), the rows are in
    *     the table: the retry records the txn metadata-only and skips.
    *
    * Returns rows appended; -1 for a deduped replay; 0 for an empty batch
    * (idempotent — nothing recorded, nothing written).
    */
  def appendOnce(spark: SparkSession, path: String, txnApp: String,
                 txnVersion: Long,
                 data: org.apache.spark.sql.DataFrame): Long =
    appendOnceDv(spark, path, txnApp, txnVersion, data, Manifest.DvInherit)

  /** [[appendOnce]] with an explicit deletion-vector carry for its single
    * snapshot commit — [[mergeRowLevel]]'s landing step (its pure inserts,
    * and every dv-mode upsert): appended rows + grown vector + txn entry,
    * one atomic publish.
    */
  private[ops] def appendOnceDv(spark: SparkSession, path: String,
                                txnApp: String, txnVersion: Long,
                                data: org.apache.spark.sql.DataFrame,
                                dv: Manifest.DvCarry): Long = {
    require(txnApp.nonEmpty && !txnApp.exists(c => c == '\n' || c == '\t'),
      s"txnApp must be a non-empty single-line id: `$txnApp`")
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    FsMaint.withTableLock(fs, path) {
      healDelete(spark, path)
      FsMaint.recoverSwap(fs, path)
      ensureMaterialized(spark, path)
      val keys = Manifest.currentKeyCols(spark, path).getOrElse(
        throw new IllegalArgumentException(
          s"appendOnce($path) needs a manifest snapshot (Manifest.create) — " +
            "the snapshot ledger is what makes the append exactly-once"))
      if (Manifest.txnVersion(spark, path, txnApp).exists(_ >= txnVersion))
        return -1L
      // App ids fold into file names — hash to a fixed-width safe token.
      val prefix = s"part-sink-${sinkAppToken(txnApp)}-$txnVersion-"
      // Foreign-adoption fast path: files of THIS batch referenced by the
      // latest snapshot (metadata-sized filtered collect).
      val adoptedLatest = Manifest.metaRows(Manifest.files(spark, path).select("file")
        .filter(col("file").contains(prefix)).limit(1)).nonEmpty
      // Otherwise crash triage: a crashed attempt's unreferenced orphans
      // delete (the batch is redone below); adoption evidence means the
      // rows are already in the table — record the txn, skip.
      if (adoptedLatest || triageSinkBatch(spark, fs, path, prefix)) {
        Manifest.recordTxn(spark, path, txnApp, txnVersion): Unit
        return 0L
      }
      val latest = Manifest.latestSnapshotId(spark, path).get
      Manifest.storedSchema(spark, path, latest)
        .foreach(old => Manifest.mergeAdditive(old, data.schema): Unit)
      val stage = path + "__sinkstage"
      FsMaint.deleteRecursively(fs, new Path(stage))
      val physData = toPhysicalDf(data, physMapOf(spark, path))
      writeInLayout(spark, fs, path, physData, stage, "overwrite")
      val staged = FsMaint.listRelative(fs, new Path(stage))(isDataFile)
      // A 0-row batch still writes a schema-only part file (length > 0) —
      // its footer says 0 rows, so an empty micro-batch is a true no-op:
      // nothing landed, nothing committed.
      if (stagedRowCount(spark, stage, staged.map(_._2)) == 0L) {
        FsMaint.deleteRecursively(fs, new Path(stage))
        return 0L
      }
      staged.zipWithIndex.foreach { case ((rel, st), i) =>
        val relDir = rel.lastIndexOf('/') match {
          case -1 => ""
          case cut => rel.substring(0, cut + 1)
        }
        val dest = new Path(path, s"$relDir$prefix$i.parquet")
        fs.mkdirs(dest.getParent)
        if (!fs.rename(st.getPath, dest))
          throw new java.io.IOException(s"appendOnce: failed to land $dest")
      }
      FsMaint.deleteRecursively(fs, new Path(stage))
      val rowsBefore = Manifest.snapshotRowCount(spark, path)
      Manifest.createIncrementalDv(spark, path,
        Some(txnApp -> txnVersion), dv, keys: _*): Unit
      Manifest.snapshotRowCount(spark, path) - rowsBefore
    }
  }

  /** CHECK OUT ref `name` ("main" or a branch).
    *
    * DEFAULT (`materialize = false`): METADATA-ONLY — one tiny
    * `ref-current` pointer write, ZERO data movement. The SQL catalog's
    * latest view then serves the target ref's head from its snapshot
    * descriptors (trash-resolved files and all), which is what an
    * experiment switch needs at 100 TB: branches are virtual refs into
    * the shared immutable file pool, the Iceberg/Delta posture. The
    * PHYSICAL working tree (raw `spark.read.parquet(dir)` compatibility)
    * still belongs to the previous holder until the first WRITE — every
    * Layout mutation entry point completes the transition physically
    * first ([[ensureMaterialized]]), paying the COW restore exactly when
    * a commit actually needs the tree.
    *
    * `materialize = true`: the round-17 physical transition — pin the
    * current holder's head, COW-restore the working tree to the target's
    * head, unpin the target. Pin-before-restore ordering is crash-safe:
    * an interruption leaves every ref pinned and readable, and the next
    * checkout completes the transition.
    *
    * Returns the target's head id (what reads of the ref serve).
    */
  def checkoutBranch(spark: SparkSession, path: String, name: String,
                     materialize: Boolean = false): Int = {
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    FsMaint.withTableLock(fs, path) {
      val refs = Manifest.branches(spark, path)
      if (name != "main")
        require(refs.contains(name),
          s"no branch `$name` under $path (branches: " +
            s"${refs.keys.toSeq.sorted.mkString(", ")})")
      val holder = Manifest.currentBranch(spark, path).map(_._1)
        .getOrElse("main")
      val latest = Manifest.latestSnapshotId(spark, path).getOrElse(
        throw new IllegalStateException(s"no manifest snapshot under $path"))
      // The crash state where nobody truly holds the tree (an interrupted
      // physical transition left main's ref-main pin behind with no
      // unpinned branch) must COMPLETE physically — reads of 'main' are
      // frozen at the pin until the restore lands.
      val interrupted = holder == "main" &&
        Manifest.mainRefHead(spark, path).isDefined
      if (materialize || (name == "main" && interrupted)) {
        Manifest.setLogicalRef(spark, path, None)
        materializeTo(spark, path, name)
      } else if (name == holder) {
        // Already the physical holder: just drop any logical detour.
        Manifest.setLogicalRef(spark, path, None)
        latest
      } else {
        Manifest.setLogicalRef(spark, path, Some(name))
        Manifest.resolveRef(spark, path, name).getOrElse(latest)
      }
    }
  }

  /** The physical checkout transition (callers hold the table lock). */
  private def materializeTo(spark: SparkSession, path: String,
                            name: String): Int = {
    val refs = Manifest.branches(spark, path)
    val holder = Manifest.currentBranch(spark, path).map(_._1)
      .getOrElse("main")
    val latest = Manifest.latestSnapshotId(spark, path).getOrElse(
      throw new IllegalStateException(s"no manifest snapshot under $path"))
    if (holder == name &&
        (name != "main" || Manifest.mainRefHead(spark, path).isEmpty))
      return latest
    val target =
      if (name == "main") Manifest.mainRefHead(spark, path).getOrElse(latest)
      else refs(name).head.getOrElse(latest)
    Manifest.pinCurrentHolder(spark, path)
    if (target != latest) restoreSnapshot(spark, path, target): Unit
    Manifest.setCheckedOut(spark, path, name)
    Manifest.latestSnapshotId(spark, path).get
  }

  /** Complete a pending METADATA-ONLY checkout physically — the gate every
    * mutation entry point passes before reading table state: reads serve
    * any ref from its descriptors at zero cost, but a COMMIT needs the
    * working tree to BE the checked-out ref's state (targeting, staging,
    * and the incremental refresh all read the live dir). The pointer is
    * cleared FIRST so the restore's own re-entry no-ops; a crash between
    * clear and restore leaves the table on the previous holder — an
    * un-switched but fully consistent state the user simply re-checks out.
    */
  private[graft] def ensureMaterialized(spark: SparkSession, path: String): Unit =
    if (Manifest.logicalRef(spark, path).isDefined) {
      val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
      FsMaint.withTableLock(fs, path) {
        Manifest.logicalRef(spark, path).foreach { name =>
          Manifest.setLogicalRef(spark, path, None)
          val known = name == "main" ||
            Manifest.branches(spark, path).contains(name)
          if (known) materializeTo(spark, path, name): Unit
        }
      }
    }

  /** Abandon branch `name`: when it is CHECKED OUT, roll the table back to
    * `main`'s pinned head via the journaled COW restore, then drop the ref
    * (restore FIRST: dropping the ref alone would silently fast-forward
    * the branch's commits into main, [[graft.ops.Manifest.fastForward]]).
    * A DORMANT branch just drops its ref — its pinned head was never the
    * working tree, so there is nothing to roll back.
    */
  def abandonBranch(spark: SparkSession, path: String,
                    name: String): RestoreResult = {
    // Same lock as create/checkout/fastForward: the read-restore-dropRef-
    // unpin sequence below rewrites the at-most-one-unpinned-ref state, and
    // an interleaved checkout between restoreSnapshot and setCheckedOut
    // would leave two unpinned refs sharing the working tree (or drop a
    // ref-main pin another transition just wrote). restoreSnapshot
    // re-enters the held lock, so nesting is safe.
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    FsMaint.withTableLock(fs, path) {
      val b = Manifest.branches(spark, path).getOrElse(name,
        throw new IllegalArgumentException(
          s"no branch `$name` under $path (branches: " +
            s"${Manifest.branches(spark, path).keys.toSeq.sorted.mkString(", ")})"))
      // A metadata-only checkout of this branch never moved data — clear
      // the pointer; reads revert to the physical holder. (A pointer at a
      // DIFFERENT ref is untouched.)
      if (Manifest.logicalRef(spark, path).contains(name))
        Manifest.setLogicalRef(spark, path, None)
      b.head match {
        case Some(_) => // dormant: ref drop only
          Manifest.dropBranchRef(spark, path, name): Unit
          RestoreResult(Manifest.latestSnapshotId(spark, path).get, 0, 0, 0)
        case None =>
          val target = Manifest.mainRefHead(spark, path).getOrElse(b.fork)
          val r = restoreSnapshot(spark, path, target)
          Manifest.dropBranchRef(spark, path, name): Unit
          // main takes over the working tree — release its pin.
          Manifest.setCheckedOut(spark, path, "main")
          r
      }
    }
  }

  /** Heal an interrupted [[deleteRange]] (see its commit sequence). With no
    * committed journal nothing irreversible happened — stray staging is
    * discarded. With a journal: a LIVE table means the commit reached step
    * 5, so finish the cleanup; a MISSING table means the crash was inside
    * the swap window — every non-survivor file in the stage is an original
    * carried in step 4 and is renamed back, the original dir is restored,
    * and the staged survivors are discarded: the exact pre-delete table.
    * Distinct dir names (`__del*`) keep this orthogonal to
    * [[FsMaint.recoverSwap]]'s `__old`/`__compacting` healing.
    */
  def recoverDelete(spark: SparkSession, path: String): Unit = {
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    // Healing an IN-FLIGHT commit would roll a live writer back mid-swap:
    // a live (within-lease) table lock means the owner is responsible for
    // its own journal — nothing to heal here. Otherwise heal UNDER the lock
    // ([[FsMaint.withTableLock]] atomically breaks an expired holder's lock
    // via the tombstone rename and CAS-acquires): a plain delete of the
    // expired lock could land AFTER a concurrent writer re-acquired it,
    // silently unlocking that live writer and racing this heal against its
    // in-flight journal/moves. Losing the acquisition race is a no-op — the
    // live owner heals its own journal inside its own lock.
    if (FsMaint.liveTableLock(fs, path)) return
    try FsMaint.withTableLock(fs, path) { healDelete(spark, path) }
    catch { case _: Manifest.ConcurrentCommitException => () }
  }

  /** The journal heal itself — callers must hold (or have excluded) the
    * table lock; [[recoverDelete]] is the lock-aware public entry. Covers
    * both commit shapes: the flat swap journal and the partitioned
    * move journal.
    */
  private def healDelete(spark: SparkSession, path: String): Unit = {
    healDeletePartitioned(spark, path)
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    val journal = new Path(path + "__deleting")
    val stage = new Path(path + "__delnew")
    val old = new Path(path + "__delold")
    fs.delete(new Path(path + "__deleting__tmp"), false): Unit // uncommitted
    if (!fs.exists(journal)) {
      FsMaint.deleteRecursively(fs, stage) // junk: no journal, no renames yet
    } else if (fs.exists(new Path(path))) {
      // reached step 5 (or never left step 2): finish steps 6-7's cleanup —
      // carry the manifest, RETAIN the replaced originals (the heal is
      // history-preserving, same as the uninterrupted commit)
      if (fs.exists(old)) {
        val mOld = new Path(old, "_graft_manifest")
        val mNew = new Path(new Path(path), "_graft_manifest")
        if (fs.exists(mOld) && !fs.exists(mNew)) { fs.rename(mOld, mNew): Unit }
        carryTrash(fs, old.toString, path)
        retainReplaced(fs, path, old.toString)
      }
      FsMaint.deleteRecursively(fs, stage)
      fs.delete(journal, false): Unit
    } else {
      // inside the swap window: undo via the journal
      val in = fs.open(journal)
      val survivors =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toSet
        finally in.close()
      if (fs.exists(stage)) fs.listStatus(stage).foreach { st =>
        val n = st.getPath.getName
        if (st.isFile && !survivors(n) && !n.startsWith("_") && !n.startsWith("."))
          if (!fs.rename(st.getPath, new Path(old, n)))
            throw new java.io.IOException(s"delete heal: failed to return $n")
      }
      if (!fs.exists(old) || !fs.rename(old, new Path(path)))
        throw new java.io.IOException(s"delete heal: failed to restore $path")
      FsMaint.deleteRecursively(fs, stage)
      fs.delete(journal, false): Unit
    }
  }
}
