package graft.sync

import graft.functions.Hashing
import graft.util.Observed
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** The delta needed to converge slave → master, as ONE legs frame:
  * `(key…, __leg)` where `__leg = 'd'` marks key tuples to remove from the
  * slave (reference J2, `Synchronizer.php:531-583`) and `'k'` marks keys
  * whose full rows must be copied from `source` (J1,
  * `Synchronizer.php:446-524`). Application order is delete-then-insert —
  * an invariant, because an updated row appears in both legs (C7 guard,
  * `Synchronizer.php:495-501`). [[Differ.applyDelta]] spills `legs` in one
  * execution, so the diff plan runs once for both legs.
  *
  * `narrowSource` is the master's `(key…, h1, h2)` map: the same per-row
  * key multiplicity as `source`, so dry runs count insert rows against it
  * instead of re-scanning the wide source.
  *
  * The insert ROWS are deliberately not pre-joined: `applyDelta` first
  * materializes the narrow key sets, then fetches rows with an explicitly
  * broadcast key list when the count allows (J3) — a pre-built semi-join plan
  * would shuffle the whole source by key before AQE could see how small the
  * key side is.
  */
final case class Delta(legs: DataFrame, narrowSource: DataFrame,
                       source: DataFrame, keyCols: Seq[String]) {
  /** Key tuples to remove from the slave (the J2 leg). */
  def deletes: DataFrame = leg("d")
  /** Keys of master rows to copy (the J1 leg). */
  def insertKeys: DataFrame = leg("k")
  /** Full rows to insert (J3 keyed fetch), as a lazy plan. */
  lazy val inserts: DataFrame = source.join(insertKeys, keyCols, "left_semi")
  private def leg(tag: String): DataFrame =
    legs.filter(col("__leg") === tag).select(keyCols.map(col): _*)
  // NB deliberately no `isEmpty` helper: it would execute the diff plan as
  // a separate job. Emptiness falls out of [[Differ.applyDelta]]'s spilled
  // counts, which run the legs exactly once.
}

/** Hash-based diff core (SURVEY §7.2 M2).
  *
  * Every diff runs over one currency: each side reduced to a `(key…, h1,
  * h2)` map ([[hashMaps]]) — a narrow projection that parquet/JDBC scans
  * prune to — then either two anti-joins on the hash pair (reference
  * semantics) or one full-outer join on the key (key-aware). Catalyst plans
  * these as broadcast-hash when one side is small, else sort-merge with AQE
  * skew handling; nothing is collected to the driver. The insert side
  * re-reads only matching master rows via a semi-join whose key list is
  * usually tiny relative to the table (broadcast).
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

  /** The one map builder: both sides reduced to `(projCols…, h1, h2)`, the
    * 128-bit content-hash pair every gate and diff of the cascade runs on
    * (reference: one per-row hash into a per-side hash table, then both the
    * table hash and the diff from that table, `main.php:27-59`). Hashed
    * columns are all of `master`'s. The map comes from one of:
    *  - `pushed`: both stores' `(projCols…, row_hash)` md5 maps
    *    ([[TableStore.pushedHashMap]]), hashed inside the source databases
    *    so only hashes cross the wire, reduced here by [[ofRowHash]];
    *  - `legacyNullSkip`: the reference's NULL-skipping md5 chain
    *    ([[Hashing.hashMap]]) reduced the same way — its NULL-permutation
    *    collisions are the point of that mode;
    *  - otherwise the raw-value [[Hashing.fastHashMap]] (no string
    *    canonicalization — ~3× cheaper per scan).
    * Both sides always come from the same producer: server and Spark casts
    * differ, so a pushed map never meets a Spark-hashed one. Empty
    * `projCols` gives a keyless map (gate only, nothing to diff on).
    */
  def hashMaps(master: DataFrame, slave: => DataFrame, projCols: Seq[String],
               legacyNullSkip: Boolean = false,
               pushed: Option[(DataFrame, DataFrame)] = None): (DataFrame, DataFrame) =
    pushed match {
      case Some((mh, sh)) => (ofRowHash(mh, projCols), ofRowHash(sh, projCols))
      case None =>
        val dataCols = master.columns.toSeq
        def side(df: DataFrame) =
          if (legacyNullSkip)
            ofRowHash(Hashing.hashMap(df, projCols, dataCols, legacyNullSkip = true), projCols)
          else Hashing.fastHashMap(df, projCols, dataCols)
        (side(master), side(slave))
    }

  /** A `(projCols…, row_hash)` md5 map reduced to the hash pair: `h1`/`h2`
    * are two seeded xxhash64s of the md5, so equal pairs ⇔ equal md5s up to
    * a ~2^-128 collision bound.
    */
  private def ofRowHash(hm: DataFrame, projCols: Seq[String]): DataFrame =
    hm.select(projCols.map(col)
      :+ xxhash64(lit(1), col("row_hash")).as("h1")
      :+ xxhash64(lit(2), col("row_hash")).as("h2"): _*)

  /** Reference-faithful diff: rows match if their *content hash* matches,
    * regardless of key (J1 note in SURVEY §2.3: an updated row shows up as
    * delete+insert; duplicate-content rows with distinct keys are NOT
    * distinguished — `NOT IN` set semantics). `legacyNullSkip` reproduces the
    * reference row-hash NULL bug when true.
    */
  def hashDiff(master: DataFrame, slave: DataFrame, keyCols: Seq[String],
               legacyNullSkip: Boolean = false): Delta = {
    val (mh, sh) = hashMaps(master, slave, keyCols, legacyNullSkip)
    mapsDiff(mh, sh, master, keyCols, keyAware = false)
  }

  /** Key-aware diff — the correct-by-construction variant (SURVEY §2.3 J1
    * note): full-outer join on the key struct; a key present on both sides
    * with differing content hash is an update (delete+insert), master-only
    * keys are inserts, slave-only keys are deletes. Handles duplicate-content
    * rows the reference mishandles. One shuffle per side on the key columns.
    */
  def keyDiff(master: DataFrame, slave: DataFrame, keyCols: Seq[String]): Delta = {
    val (mh, sh) = hashMaps(master, slave, keyCols)
    mapsDiff(mh, sh, master, keyCols, keyAware = true)
  }

  /** The diff over two `(key…, h1, h2)` maps from [[hashMaps]] — the gate's
    * maps themselves, so the gate's table scans ARE the diff's. `source`
    * stays the full-row master read: only the J3 keyed fetch of actual
    * insert rows touches it. `keyAware` picks the full-outer key join over
    * the reference's two hash anti-joins.
    */
  def mapsDiff(mh: DataFrame, sh: DataFrame, source: DataFrame,
               keyCols: Seq[String], keyAware: Boolean): Delta = {
    val keys = keyCols.map(col)
    val legs =
      if (keyAware) {
        // No cache: the legs execute in applyDelta's ONE spill action, where
        // the join's input exchanges are reused — a cache here had no owner
        // to unpersist it and leaked executor memory across syncs.
        def side(df: DataFrame, p: String) =
          df.withColumnRenamed("h1", s"${p}_h1").withColumnRenamed("h2", s"${p}_h2")
        val joined = side(mh, "m").join(side(sh, "s"), keyCols, "full_outer")
        val same = (col("m_h1") <=> col("s_h1")) && (col("m_h2") <=> col("s_h2"))
        // Both legs in ONE pass over the join (an update key explodes into
        // d + k): a union of two filtered legs would execute the full-outer
        // merge twice (exchanges are reused, the join itself is not).
        joined.filter(!same)
          .select(keys :+ explode(filter(array(
            when(col("s_h1").isNotNull, "d"),
            when(col("m_h1").isNotNull, "k")),
            x => x.isNotNull)).as("__leg"): _*)
      } else {
        // J2: slave rows whose content is absent from master → delete keys.
        // J1: master rows whose content is absent from slave → keys to copy.
        // No distinct() on the right sides: anti-join has existence
        // semantics already, and keeping both anti-joins' inputs as the SAME
        // two plans lets ReuseExchange compute each side's shuffle once in
        // the one spill action.
        val hashCols = Hashing.FastHashCols
        def absent(df: DataFrame, other: DataFrame, tag: String) =
          df.join(other.select(hashCols.map(col): _*), hashCols, "left_anti")
            .select(keys: _*).withColumn("__leg", lit(tag))
        absent(sh, mh, "d").unionByName(absent(mh, sh, "k"))
      }
    Delta(legs, mh, source, keyCols)
  }

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

  private[sync] def rmScratch(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(p, true)
    ()
  }

  /** Apply a delta to `table` in `store`: deletes first, then inserts (C7/C8).
    *
    * A mutating run SPILLS the delta to scratch parquet before any mutation
    * — its legs are lazy plans over the slave's *current* files, which the
    * delete rewrite invalidates. This mirrors the reference's out-of-core
    * hash side tables (`main.php:27-59`): the materialized delta is the
    * engine's restart point, never driver memory. A dry run (`dryRun`: plan
    * and count only) mutates nothing, so it freezes the legs in a local
    * checkpoint instead of a scratch spill, and counts insert rows against
    * the delta's narrow map instead of materializing wide rows.
    *
    * `partDeletes` folds a whole-partition delete list (C4 excess-partition
    * cleanup) into the SAME store-level apply, so copy-on-write stores pay
    * one rewrite for partition deletes + row deletes + inserts together.
    *
    * `keyedFetch`, when provided, may replace the J3 semi-join insert fetch
    * with a store-pushed keyed lookup (`(spilledKeys, count) => rows`) — the
    * wire-efficient path for remote sources: a small delta fetches
    * delta-sized rows instead of scanning the whole source for a Spark-side
    * semi-join ([[JdbcStore.readKeyed]]). Returning None falls back to the
    * semi-join.
    *
    * @return (rows deleted, rows inserted) — counted as the delta spills
    *         (observed on the spill writes of a mutating run), so the diff
    *         plans execute exactly once and no job re-counts a spill.
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
      val legObs = Observation()
      val keys =
        if (dryRun) delta.legs.localCheckpoint(false)
        else describeJobs(spark, s"sync: $table diff-leg spill")(
          spill(delta.legs.observe(legObs,
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
          val r = Observed.row(legObs, table, "delta key spill")
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
      val (nIns, insertSpill) = describeJobs(spark, s"sync: $table insert fetch") {
        if (nInsKeys == 0) (0L, None)
        // Dry-run count over the narrow map: same key multiplicity as the
        // source, no wide re-scan.
        else if (dryRun)
          (delta.narrowSource.join(keyList, delta.keyCols, "left_semi").count(), None)
        else {
          val insertPlan = keyedFetch.flatMap(f => f(spilledInsKeys, nInsKeys))
            .getOrElse(delta.source.join(keyList, delta.keyCols, "left_semi"))
          val insObs = Observation()
          val spilled = spill(insertPlan.observe(insObs, count(lit(1))), s"$scratch/inserts")
          (Observed.row(insObs, table, "insert spill").getLong(0), Some(spilled))
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
