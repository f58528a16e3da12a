package graft.sync

import graft.functions.Hashing
import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._

import scala.concurrent.Await
import scala.concurrent.duration.Duration

/** The delta needed to converge slave → master.
  * `deletes`: key tuples to remove from slave (reference J2,
  * `Synchronizer.php:531-583`); `insertKeys`: key tuples whose full rows must
  * be copied from `source` (J1, `Synchronizer.php:446-524`). Application
  * order is delete-then-insert — an invariant, because an updated row appears
  * in both sets (C7 guard, `Synchronizer.php:495-501`).
  *
  * The insert ROWS are deliberately not pre-joined: `applyDelta` first
  * materializes the narrow key sets, then fetches rows with an explicitly
  * broadcast key list when the count allows (J3) — a pre-built semi-join plan
  * would shuffle the whole source by key before AQE could see how small the
  * key side is.
  */
final case class Delta(deletes: DataFrame, insertKeys: DataFrame,
                       source: DataFrame, keyCols: Seq[String],
                       /** Optional single-pass (keys, `__leg` ∈ d|k) frame
                         * producing BOTH legs in one execution of the
                         * underlying diff plan — [[Differ.applyDelta]] spills
                         * it instead of unioning `deletes`/`insertKeys`
                         * (which would run the diff join twice). */
                       spillLegs: Option[DataFrame] = None,
                       /** Optional narrow (key…, …) frame with the same
                         * per-row key multiplicity as `source` — dry runs
                         * count insert rows against it instead of re-scanning
                         * the wide source (the maps-based diffs pass their
                         * already-materialized hash map here). */
                       narrowSource: Option[DataFrame] = None) {
  /** Full rows to insert (J3 keyed fetch), as a lazy plan. */
  lazy val inserts: DataFrame = source.join(insertKeys, keyCols, "left_semi")
  // NB deliberately no `isEmpty` helper: it would execute BOTH diff legs as
  // separate jobs. Emptiness falls out of [[Differ.applyDelta]]'s spilled
  // counts, which run each leg exactly once.
}

/** Hash-based diff core (SURVEY §7.2 M2).
  *
  * Scale notes: each side is reduced to (key, row_hash) — a narrow projection
  * that parquet/JDBC scans prune to — then two anti-joins on `row_hash`.
  * Catalyst plans these as broadcast-hash when one side is small, else
  * sort-merge with AQE skew handling; nothing is collected to the driver.
  * The insert side re-reads only matching master rows via a semi-join whose
  * key list is usually tiny relative to the table (broadcast).
  */
object Differ {

  /** Tag the Spark jobs `body` launches with `desc` (restoring the caller's
    * description after) — phase attribution for the UI/event log and the
    * `GRAFT_JOBLOG` profiler.
    */
  def describeJobs[T](spark: org.apache.spark.sql.SparkSession, desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }

  /** Reference-faithful diff: rows match if their *content hash* matches,
    * regardless of key (J1 note in SURVEY §2.3: an updated row shows up as
    * delete+insert; duplicate-content rows with distinct keys are NOT
    * distinguished — `NOT IN` set semantics). `legacyNullSkip` reproduces the
    * reference row-hash NULL bug when true.
    */
  def hashDiff(master: DataFrame, slave: DataFrame, keyCols: Seq[String],
               legacyNullSkip: Boolean = false): Delta = {
    val dataCols = master.columns.toSeq
    // Internal diff currency: the fast 128-bit raw-value hash pair (no
    // string canonicalization — ~3× cheaper per scan). The md5-canonical
    // path is kept for legacy reference semantics, where the NULL-skip
    // behavior itself is the point.
    val (mh, sh, hashCols) =
      if (legacyNullSkip)
        (Hashing.hashMap(master, keyCols, dataCols, legacyNullSkip = true),
         Hashing.hashMap(slave, keyCols, dataCols, legacyNullSkip = true),
         Seq("row_hash"))
      else
        (Hashing.fastHashMap(master, keyCols, dataCols),
         Hashing.fastHashMap(slave, keyCols, dataCols),
         Hashing.FastHashCols)
    antiDiff(mh, sh, hashCols, master, keyCols)
  }

  /** Reference-faithful diff over PRECOMPUTED `(key…, hash…)` maps — the
    * hash-pushdown path ([[TableStore.pushedHashMap]]): both sides' hashes
    * were computed inside their source databases, so the only bytes that
    * crossed the wire before these anti-joins are keys + ~32-byte hashes.
    * Both maps MUST come from the same producer flavor (both pushed with the
    * same dialect expression, or both Spark-side) — server vs Spark casts
    * differ. `source` stays the full-row master read: only the J3 keyed
    * fetch of actual insert rows touches it.
    */
  def hashDiffMaps(mh: DataFrame, sh: DataFrame, source: DataFrame,
                   keyCols: Seq[String]): Delta =
    antiDiff(mh, sh, Seq("row_hash"), source, keyCols)

  private def antiDiff(mh: DataFrame, sh: DataFrame, hashCols: Seq[String],
                       source: DataFrame, keyCols: Seq[String]): Delta = {
    // J2: slave rows whose content is absent from master → delete keys.
    // No distinct() on the right side: anti-join has existence semantics
    // already, and keeping both anti-joins' inputs as the SAME two plans
    // lets ReuseExchange compute each side's shuffle once when both legs
    // run in one action (see applyDelta's single tagged spill).
    val deletes = sh.join(mh.select(hashCols.map(col): _*), hashCols, "left_anti")
      .select(keyCols.map(col): _*)
    // J1: master rows whose content is absent from slave → keys to copy
    val missingKeys = mh.join(sh.select(hashCols.map(col): _*), hashCols, "left_anti")
      .select(keyCols.map(col): _*)
    Delta(deletes, missingKeys, source, keyCols)
  }

  /** Key-aware diff — the correct-by-construction variant (SURVEY §2.3 J1
    * note): full-outer join on the key struct; a key present on both sides
    * with differing content hash is an update (delete+insert), master-only
    * keys are inserts, slave-only keys are deletes. Handles duplicate-content
    * rows the reference mishandles. One shuffle per side on the key columns.
    */
  def keyDiff(master: DataFrame, slave: DataFrame, keyCols: Seq[String]): Delta = {
    val dataCols = master.columns.toSeq
    def pair(df: DataFrame, p: String) =
      Hashing.fastHashMap(df, keyCols, dataCols)
        .withColumnRenamed("h1", s"${p}_h1").withColumnRenamed("h2", s"${p}_h2")
    keyedDiff(pair(master, "m"), pair(slave, "s"),
      Seq("m_h1", "m_h2"), Seq("s_h1", "s_h2"), master, keyCols)
  }

  /** Key-aware diff over PRECOMPUTED `(key…, row_hash)` maps (the pushed
    * analog of [[keyDiff]] — see [[hashDiffMaps]] for the producer-flavor
    * contract). The single md5 hash replaces the local 128-bit pair: its
    * collision bound (~n²/2^129 within one key) is the md5 birthday bound,
    * fine for per-key comparison.
    */
  def keyDiffMaps(mh: DataFrame, sh: DataFrame, source: DataFrame,
                  keyCols: Seq[String]): Delta =
    keyedDiff(mh.withColumnRenamed("row_hash", "m_h"),
      sh.withColumnRenamed("row_hash", "s_h"), Seq("m_h"), Seq("s_h"),
      source, keyCols)

  /** [[hashDiff]] over PRECOMPUTED fast 128-bit pair maps
    * ([[Hashing.fastHashMap]] output) — lets the engine hand the SAME
    * materialized maps to the A1 gate aggregate and the diff legs, so the
    * gate's table scans ARE the diff's.
    */
  def fastDiffMaps(mh: DataFrame, sh: DataFrame, source: DataFrame,
                   keyCols: Seq[String]): Delta =
    antiDiff(mh, sh, Hashing.FastHashCols, source, keyCols)
      .copy(narrowSource = Some(mh))

  /** [[keyDiff]] over the same precomputed fast-pair maps. */
  def fastKeyDiffMaps(mh: DataFrame, sh: DataFrame, source: DataFrame,
                      keyCols: Seq[String]): Delta = {
    def r(df: DataFrame, p: String) =
      df.withColumnRenamed("h1", s"${p}_h1").withColumnRenamed("h2", s"${p}_h2")
    keyedDiff(r(mh, "m"), r(sh, "s"),
      Seq("m_h1", "m_h2"), Seq("s_h1", "s_h2"), source, keyCols)
      .copy(narrowSource = Some(mh))
  }

  private def keyedDiff(mh: DataFrame, sh: DataFrame, mHashCols: Seq[String],
                        sHashCols: Seq[String], source: DataFrame,
                        keyCols: Seq[String]): Delta = {
    // No cache: the two legs below execute in applyDelta's ONE spill action,
    // where the join's input exchanges are reused — a cache here had no
    // owner to unpersist it and leaked executor memory across syncs.
    val joined = mh.join(sh, keyCols, "full_outer")
    val same = mHashCols.zip(sHashCols)
      .map { case (m, s) => col(m) <=> col(s) }.reduce(_ && _)
    val deletes = joined
      .filter(col(sHashCols.head).isNotNull && !same)
      .select(keyCols.map(col): _*)
    val missingKeys = joined
      .filter(col(mHashCols.head).isNotNull && !same)
      .select(keyCols.map(col): _*)
    // Both legs in ONE pass over the join (an update key explodes into
    // d + k): the spill job otherwise executes the full-outer merge twice,
    // once per unioned leg (exchanges are reused, the join itself is not).
    val legs = joined.filter(!same)
      .select(keyCols.map(col) :+ explode(filter(array(
        when(col(sHashCols.head).isNotNull, "d"),
        when(col(mHashCols.head).isNotNull, "k")),
        x => x.isNotNull)).as("__leg"): _*)
    Delta(deletes, missingKeys, source, keyCols, spillLegs = Some(legs))
  }

  /** Apply a delta to `table` in `store`: deletes first, then inserts (C7/C8).
    *
    * The delta is SPILLED to scratch parquet before any mutation — both its
    * legs are lazy plans over the slave's *current* files, which the delete
    * rewrite invalidates. This mirrors the reference's out-of-core hash side
    * tables (`main.php:27-59`): the materialized delta is the engine's
    * restart point, never driver memory.
    */
  /** @return (rows deleted, rows inserted) — counted as the delta spills
    *         (observed on the spill writes of a mutating run), so the diff
    *         plans execute exactly once and no job re-counts a spill.
    */
  /** Insert-key lists below this row count are broadcast for the J3 keyed
    * fetch (a key row is ~tens of bytes; 1M keys ≈ a ~100 MB hashed relation
    * — the safe ceiling for an explicit broadcast). Above it the fetch falls
    * back to a shuffled semi-join, which is the right plan for a
    * near-full-table resync anyway.
    */
  val BroadcastKeyMax = 1000000L

  /** Scratch location for delta spills. Executor tasks write the spill files
    * and later tasks re-read them, so the path MUST be on storage every
    * executor sees — a driver-local `java.io.tmpdir` is only correct in
    * local mode. Default: under `spark.sql.warehouse.dir` (shared fs on a
    * real cluster deployment); override per-engine via
    * [[SyncConfig.scratchDir]] / the `scratchDir` parameter.
    */
  def newScratchDir(spark: org.apache.spark.sql.SparkSession,
                    base: Option[String], tag: String): String = {
    val root = base.getOrElse(
      spark.conf.get("spark.sql.warehouse.dir") + "/_graft_scratch")
    s"$root/${tag}_${java.util.UUID.randomUUID().toString.take(12)}"
  }

  /** Write `df` to the scratch parquet `path` and re-read it with `df`'s own
    * schema: an inferring re-read would launch a one-task footer job per
    * spill just to learn the schema that was just written.
    */
  private[sync] def spill(df: DataFrame, path: String): DataFrame = {
    df.write.parquet(path)
    df.sparkSession.read.schema(df.schema).parquet(path)
  }

  /** Upper bound on the wait for a write's observed metrics. They reach
    * the driver through Spark's asynchronous query-execution listener, and
    * `Observation.get` would wait forever if that delivery never came.
    */
  private val ObservedMetricsTimeout = Duration(5, "min")

  /** The metrics row `obs` observed on a write that has returned. Throws
    * `IllegalStateException` naming `table` when it does not arrive within
    * `timeout`; callers read it before any slave mutation, so the cycle
    * fails for this table and the next one retries.
    */
  private[graft] def observed(obs: Observation, table: String,
                              timeout: Duration = ObservedMetricsTimeout): Row =
    try Await.result(obs.future, timeout)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        throw new IllegalStateException(
          s"sync of $table: the delta spill's row counts did not arrive within $timeout")
    }

  private[sync] def rmScratch(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(p, true)
    ()
  }

  /** Apply (or, when `dryRun`, only plan and count) a delta. Dry runs pay
    * the same scratch key spill — it touches no slave state and makes the
    * counts exact with one execution of each diff leg — but skip the wide
    * insert-row materialization (the count comes straight off the semi-join).
    *
    * `partDeletes` folds a whole-partition delete list (C4 excess-partition
    * cleanup) into the SAME store-level apply, so copy-on-write stores pay
    * one rewrite for partition deletes + row deletes + inserts together.
    */
  /** `keyedFetch`, when provided, may replace the J3 semi-join insert fetch
    * with a store-pushed keyed lookup (`(spilledKeys, count) => rows`) — the
    * wire-efficient path for remote sources: a small delta fetches
    * delta-sized rows instead of scanning the whole source for a Spark-side
    * semi-join ([[JdbcStore.readKeyed]]). Returning None falls back to the
    * semi-join.
    */
  def applyDelta(store: TableStore, table: String, delta: Delta,
                 dryRun: Boolean = false,
                 partDeletes: Option[(String, DataFrame)] = None,
                 scratchDir: Option[String] = None,
                 keyedFetch: Option[(DataFrame, Long) => Option[DataFrame]] = None): (Long, Long) = {
    // Delete-before-insert is mandatory: an update's key is in both sets, and
    // under partition sync a row may have moved partitions (Synchronizer.php:495-501).
    val spark = delta.source.sparkSession
    // Lazy: a dry run without partition deletes never touches scratch, so
    // don't pay the create + delete round trips (remote calls on an
    // object-store warehouse) for a path nothing writes to.
    var scratchUsed = false
    lazy val scratch: String = {
      scratchUsed = true; newScratchDir(spark, scratchDir, s"delta_$table")
    }
    try {
      // ONE tagged materialization of both NARROW key sets ('d' = rows
      // whose content must leave the slave, J2; 'k' = keys of rows to copy,
      // J1); no wide rows move yet. The keyed-delete target is d ∪ k (C7:
      // clear incoming keys before insert), derived below from the spilled
      // frames; the AUDITED delete count stays the J2 leg alone, matching
      // the reference's deleteExcessRows accounting.
      //
      // Mutating runs spill to scratch parquet — the durable restart point
      // BEFORE any slave write — and read both leg counts off the spill
      // write itself (an Observation), so no job re-reads the spilled keys.
      // A dry run mutates nothing, so its legs only need the single-
      // execution guarantee, not durability: a LAZY local checkpoint
      // (populated by the leg-count job below) skips the write + re-list
      // round trip while still freezing a true snapshot — lineage is
      // truncated, so a lost block fails the audit loudly instead of
      // silently recomputing a leg against a source a concurrent writer may
      // have moved since (plain persist() would hand the J3 count and the
      // leg counts views of two different instants in that case).
      val legsPlan = delta.spillLegs.getOrElse(
        delta.deletes.withColumn("__leg", lit("d"))
          .unionByName(delta.insertKeys.withColumn("__leg", lit("k"))))
      val legObs = Observation()
      val keys =
        if (dryRun) legsPlan.localCheckpoint(false)
        else describeJobs(spark, s"sync: $table diff-leg spill")(
          spill(legsPlan.observe(legObs,
            count(when(col("__leg") === "d", 1)).as("d"),
            count(when(col("__leg") === "k", 1)).as("k")), s"$scratch/keys"))
      try {
      val spilledInsKeys = keys.filter(col("__leg") === "k").select(delta.keyCols.map(col): _*)
      val delTarget = keys.select(delta.keyCols.map(col): _*).distinct()
      val (nDel, nInsKeys) =
        if (dryRun) {
          // Both leg counts in ONE pass; this job fills the checkpoint.
          val legCounts = describeJobs(spark, s"sync: $table leg counts")(
            keys.groupBy("__leg").count().collect())
            .map(r => r.getString(0) -> r.getLong(1)).toMap
          (legCounts.getOrElse("d", 0L), legCounts.getOrElse("k", 0L))
        } else {
          val r = observed(legObs, table)
          (r.getLong(0), r.getLong(1))
        }

      // Spill the excess-partition value list too (tiny): the store apply
      // below mutates the very files its lazy plan would re-derive the list
      // from, and on JDBC the in-place deletes would race their own source
      // scan. The spill is the restart point.
      val spilledParts = partDeletes.map { case (pc, values) =>
        (pc, broadcast(spill(values.coalesce(1), s"$scratch/parts")))
      }

      // J3 keyed fetch of full insert rows. The key count is KNOWN now, so
      // broadcast explicitly when small: AQE alone would launch the
      // source's full by-key shuffle before discovering the key side is
      // tiny. A mutating run counts the rows off the spill write.
      val keyList = if (nInsKeys <= BroadcastKeyMax) broadcast(spilledInsKeys) else spilledInsKeys
      val insertPlan = keyedFetch.flatMap(f => f(spilledInsKeys, nInsKeys))
        .getOrElse(delta.source.join(keyList, delta.keyCols, "left_semi"))
      val (nIns, insertSpill) = describeJobs(spark, s"sync: $table insert fetch") {
        if (nInsKeys == 0) (0L, None)
        // Dry-run count over the narrow map when the diff materialized one:
        // same key multiplicity as the source, no wide re-scan.
        else if (dryRun) (delta.narrowSource
          .map(_.join(keyList, delta.keyCols, "left_semi").count())
          .getOrElse(insertPlan.count()), None)
        else {
          val insObs = Observation()
          val spilled = spill(insertPlan.observe(insObs, count(lit(1))), s"$scratch/inserts")
          (observed(insObs, table).getLong(0), Some(spilled))
        }
      }
      val spilledInserts = insertSpill.filter(_ => nIns > 0).getOrElse(
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], delta.source.schema))

      if (!dryRun && (nDel > 0 || nIns > 0 || spilledParts.nonEmpty)) {
        // Same size-informed hint for the store's delete anti-join: without
        // it the rewrite shuffles the whole table by key.
        val delT = if (nDel + nInsKeys <= BroadcastKeyMax) broadcast(delTarget) else delTarget
        describeJobs(spark, s"sync: $table store apply")(
          store.applyDelta(table, delT, delta.keyCols, spilledInserts, spilledParts))
      }
      (nDel, nIns)
      } finally { if (dryRun) graft.ops.Caching.release(keys) }
    } finally { if (scratchUsed) rmScratch(spark, scratch) }
  }
}
