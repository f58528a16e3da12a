package graft.sync

import graft.functions.Hashing
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.FooterSchema

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.matching.Regex

/** Engine configuration (reference `settings.php.tmpl`). */
final case class SyncConfig(
    /** Table-name regexes to leave untouched (P4, `settings.php.tmpl:48-53`). */
    ignoreTables: Seq[Regex] = Nil,
    /** Copy keyless tables wholesale vs skip (`settings.php.tmpl:42-45`,
      * `Synchronizer.php:213-222`). */
    copyTablesWithNoPrimary: Boolean = true,
    /** table → logical partition column (`settings.php.tmpl:55-61`). */
    partitionedTables: Map[String, String] = Map.empty,
    /** Also row-diff partitions present on both sides (`settings.php.tmpl:64-67`). */
    syncSharedPartitions: Boolean = true,
    /** table → key columns; tables absent here fall back to no-PK handling.
      * An empty key list is rejected when the engine is built. */
    primaryKeys: Map[String, Seq[String]] = Map.empty,
    /** Reproduce the reference's NULL-skipping row hash (SURVEY P1 note). */
    legacyNullSkip: Boolean = false,
    /** Compute row hashes INSIDE the stores (server-side MD5 — the
      * reference's core wire-efficiency idea, `TableConnection.php:46-51`:
      * only keys + 32-byte hashes cross the network; full rows move only for
      * the J3 insert fetch). Takes effect when BOTH stores can push
      * ([[TableStore.pushedHashMap]]) and the table has a configured primary
      * key; otherwise the cascade falls back to Spark-side hashing. Never
      * mixes a pushed side with a Spark-hashed side — value→string cast
      * semantics belong to each engine.
      */
    hashPushdown: Boolean = false,
    /** Key-aware diff (correct duplicate handling) vs reference hash-match. */
    keyAwareDiff: Boolean = false,
    /** Maintained-fingerprint (O(delta)) mode for the reference's
      * "run frequently" loop (README.md:24): the engine holds per-table
      * [[graft.functions.Hashing.MultisetFp]] state, so the repeat-sync
      * convergence gate stops paying two full fingerprint scans per cycle —
      * an unchanged master (by the store's metadata change token) costs ZERO
      * Spark jobs; a changed master costs ONE fingerprint scan (master only;
      * the slave side is the maintained value); a CDC feed through
      * [[SyncEngine.applyCdc]] costs O(delta) only. REQUIRES this engine to
      * be the slave's sole writer — external slave writes are invisible to
      * the maintained state ([[SyncEngine.verifyMaintained]] is the audit
      * escape hatch for drift). Partitioned tables get the analogous
      * treatment: the slave's per-partition fingerprints are snapshotted to
      * scratch parquet at each convergence (O(partitions) state on storage,
      * never the driver), so a repeat cycle's grouped-fingerprint scan hits
      * only the master.
      */
    maintainFingerprints: Boolean = false,
    /** Plan but do not execute writes (audit-log S15 dry-run analog). */
    dryRun: Boolean = false,
    /** Cross-table driver concurrency (C6; reference: process pool = #cores,
      * `Synchronizer.php:73-92`). Spark parallelizes *within* jobs; this only
      * overlaps small-table jobs to keep the scheduler busy.
      *
      * Scale note (10k+ tables): per CLEAN unpartitioned table the cascade
      * costs one fused-gate job (the A1 short-circuit, whatever the table's
      * keys or hash flavor), so the bound is driver round-trips, not data.
      * Raise this toward the driver's core count to overlap them (each
      * thread holds at most one in-flight Spark job); catalog-backed stores
      * additionally pay one metastore round-trip per table, which
      * serializes on an embedded (Derby) metastore — use an external
      * metastore when table count is the workload.
      * SyncEngineSpec's 100-table guard pins the orchestration behavior. */
    tableParallelism: Int = 4,
    /** Append every recorded action as a JSON line to this file (S15 — the
      * reference appends each write query to `LOG_QUERY_FILE`,
      * `TableConnection.php:730-742`). None = in-memory audit only.
      * Driver-LOCAL by design (java.nio append, like a log4j file): it is
      * an operational log, not engine state — unlike `stateDir`, which goes
      * through the Hadoop FileSystem and may live on HDFS/object stores. */
    auditLogPath: Option[String] = None,
    /** Scratch base for delta spills. Executors write and re-read the spill,
      * so on a multi-node cluster this must be a shared filesystem path;
      * default None resolves under `spark.sql.warehouse.dir`
      * (see [[Differ.newScratchDir]]). */
    scratchDir: Option[String] = None,
    /** Snapshot retention for [[SyncEngine.syncAppendOnlyIncremental]]'s
      * recurring loop: each cycle commits one manifest snapshot, so a
      * years-long loop accrues thousands (the metadata-scale append debt —
      * same argument as file compaction); after each successful cycle all
      * but the newest this-many snapshots are expired. The engine's own
      * checkpoint is always the newest, so it is never expired; OTHER
      * incremental readers of the same master must hold checkpoints within
      * the retained window (an expired one fails fast in `addedSince`,
      * never under-reports). Single-incremental-consumer deployments can
      * set 2; 0 disables retention.
      */
    manifestRetainSnapshots: Int = 10,
    /** Opt-in for the retention above (and the feed path's trash vacuum):
      * those run against the MASTER's manifest — a shared table other
      * time-travel/CDF readers may rely on — so a sync cycle must not
      * destroy its history as a side effect unless this engine is
      * explicitly the master's retention owner. Default OFF: cycles leave
      * master history untouched; bound it with `Manifest.expireSnapshots` /
      * `vacuum` wherever retention ownership actually lives.
      */
    masterRetentionMaintenance: Boolean = false,
    /** Durable home for the maintained-fingerprint state: per-table
      * [[graft.functions.Hashing.MultisetFp]] + master change token (a tiny
      * property file each) and the partitioned-table fingerprint snapshots.
      * `None` = driver memory only, so a RESTARTED engine re-primes every
      * table with one full scan (the reference's loop is one process per
      * run, `README.md:24` — restart cost is its every-cycle cost). Set it
      * and a new engine over the same directory resumes the zero-job
      * change-token gate directly: unchanged tables cost nothing after a
      * restart. The state is O(tables) driver-written metadata — keep it on
      * storage the driver can reach; only partition snapshots need
      * executor-visible storage.
      */
    stateDir: Option[String] = None)

/** Maintained-fingerprint value + the hash flavor it was computed from
  * (server-side pushed md5 h15 vs Spark raw-value xxhash64 — numerically
  * unrelated; a flavor mismatch means "not primed", never "compare anyway").
  */
private[sync] final case class FpState(fp: graft.functions.Hashing.MultisetFp,
                                       pushed: Boolean)

/** Planned/executed actions — the engine's audit log (reference S15 logs every
  * write query, `TableConnection.php:730-742`; here the *plan* is first-class).
  */
sealed trait SyncAction { def table: String }
object SyncAction {
  final case class DropTable(table: String) extends SyncAction
  final case class CopyTable(table: String) extends SyncAction
  final case class Skip(table: String, reason: String) extends SyncAction
  final case class ApplyDelta(table: String, deleted: Long, inserted: Long) extends SyncAction
  final case class DropPartition(table: String, partCol: String, value: Any) extends SyncAction
  final case class CopyPartition(table: String, partCol: String, value: Any) extends SyncAction
}

/** Whole-database / per-table sync orchestration (reference C1-C10,
  * `Synchronizer.php`).
  *
  * The reference's single most important performance idea is the hierarchical
  * short-circuit (SURVEY §4): structure differs → full recopy; fingerprints
  * equal → done; only then pay for the row-level diff. That cascade is driver
  * control flow here. Every unpartitioned table reduces each side ONCE to a
  * `(key…, h1, h2)` hash map ([[Differ.hashMaps]] — Spark-side, legacy md5,
  * or store-pushed; keyless tables get a map without keys), gates on the two
  * maps' order-free fold in ONE Spark job, and diffs over the same maps when
  * the gate trips. Partitioned tables gate per partition value with one
  * grouped aggregate per side and diff the changed partitions' maps;
  * maintained mode gates on a stored fingerprint instead. Every plan is a
  * narrow projection/aggregate that scales with partition count, not driver
  * memory.
  *
  * @throws IllegalArgumentException when `config.primaryKeys` maps a table
  *         to an empty key list (omit the table for no-PK handling).
  */
final class SyncEngine(master: TableStore, slave: TableStore,
                       config: SyncConfig = SyncConfig()) {
  import SyncAction._

  // An empty key list matches every `keyColsOf` case as keyed, then fails
  // deep inside the store apply (an empty null-safe join condition, or a
  // `keyCols.head`) — reject it up front, naming the table.
  config.primaryKeys.collectFirst { case (t, ks) if ks.isEmpty => t }.foreach { t =>
    throw new IllegalArgumentException(
      s"SyncConfig.primaryKeys: table '$t' has an empty key list — " +
        "omit it to sync the table as keyless")
  }

  /** Tag the Spark jobs `body` launches with a cascade-phase description —
    * visible in the UI/event log on a real cluster, and the unit of
    * attribution for the dev job profiler (`GRAFT_JOBLOG`).
    */
  private def phase[T](name: String)(body: => T): T =
    Differ.describeJobs(master.spark, s"sync: $name")(body)

  private val audit = mutable.ArrayBuffer.empty[SyncAction]
  def auditLog: Seq[SyncAction] = audit.synchronized(audit.toSeq)

  /** Opt-in master-history maintenance (expire/vacuum) is BEST-EFFORT: a
    * concurrent COW mutation or compaction holding the table lock refuses
    * it typed — the sync cycle's result is already committed at that
    * point, and the next converged cycle retries the maintenance, so the
    * right response is to skip, not fail the cycle.
    */
  private def bestEffortMaintenance(body: => Unit): Unit =
    try body
    catch { case _: graft.ops.Manifest.ConcurrentCommitException => () }
  private def record(a: SyncAction): SyncAction = {
    audit.synchronized {
      audit += a
      config.auditLogPath.foreach { p =>
        // Escape every string field: Skip reasons carry exception messages
        // (quotes/newlines/backslashes) that would corrupt the JSONL.
        import graft.util.JsonUtil.{quote => jq}
        val json = a match {
          case DropTable(t) => s"""{"action":"DropTable","table":${jq(t)}}"""
          case CopyTable(t) => s"""{"action":"CopyTable","table":${jq(t)}}"""
          case Skip(t, r) => s"""{"action":"Skip","table":${jq(t)},"reason":${jq(r)}}"""
          case ApplyDelta(t, d, i) => s"""{"action":"ApplyDelta","table":${jq(t)},"deleted":$d,"inserted":$i}"""
          case DropPartition(t, c, v) => s"""{"action":"DropPartition","table":${jq(t)},"part_col":${jq(c)},"value":${jq(String.valueOf(v))}}"""
          case CopyPartition(t, c, v) => s"""{"action":"CopyPartition","table":${jq(t)},"part_col":${jq(c)},"value":${jq(String.valueOf(v))}}"""
        }
        java.nio.file.Files.writeString(java.nio.file.Paths.get(p), json + "\n",
          java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
      }
    }
    a
  }

  private def ignored(name: String): Boolean =
    config.ignoreTables.exists(r => r.pattern.matcher(name).matches())

  /** C1: whole-database sync (`Synchronizer.php:34-102`). */
  def syncDatabase(): Seq[SyncAction] = {
    val masterTables = master.list().filterNot(ignored)
    val slaveTables = slave.list().filterNot(ignored)
    val excess = slaveTables.diff(masterTables)
    val missing = masterTables.diff(slaveTables)
    val shared = masterTables.intersect(slaveTables)

    // Per-table failures are recorded and tolerated — one bad table must
    // not kill the database sync (the reference wraps every child command
    // in `|| true`, Synchronizer.php:77).
    def tolerant(t: String)(body: => SyncAction): SyncAction =
      try body
      catch { case e: Exception => record(Skip(t, s"failed: ${e.getMessage}")) }

    excess.foreach { t =>
      tolerant(t) {
        if (!config.dryRun) slave.drop(t)
        record(DropTable(t))
      }
    }
    missing.foreach(t => tolerant(t)(copyTable(t)))

    // C6: overlap independent per-table jobs from the driver. Each job's
    // tasks already fan out across executors; this hides scheduling gaps of
    // many small tables.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, config.tableParallelism))
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val futures = shared.map(t => Future(tolerant(t)(syncTable(t))))
      Await.result(Future.sequence(futures), Duration.Inf)
    } finally pool.shutdown()
    auditLog
  }

  // ---- Maintained-fingerprint state (config.maintainFingerprints) --------
  // Per-table slave fingerprint as of the last convergence, plus the master
  // change token observed then. Thread-safe: syncDatabase's C6 pool runs
  // per-table syncs concurrently. `pushed` tags the hash flavor the value
  // was computed from (server-side md5 h15 vs Spark raw-value xxhash64) —
  // the two flavors are numerically unrelated, so a flavor mismatch must be
  // treated as "not primed", never compared.
  private val maintainedFp =
    scala.collection.concurrent.TrieMap.empty[String, FpState]
  private val lastMasterToken =
    scala.collection.concurrent.TrieMap.empty[String, String]
  // Partitioned-table analog of `maintainedFp`: the slave's per-partition
  // fingerprints as of the last convergence, SPILLED to scratch parquet
  // (one row per partition value — partition cardinality can be huge, so
  // this state lives on storage, not the driver). table → (snapshot path,
  // pushed-flavor flag — same never-cross-compare rule as `maintainedFp`).
  private val partFpSnapshot =
    scala.collection.concurrent.TrieMap.empty[String, (String, Boolean)]
  // Manifest-snapshot checkpoint per table (syncAppendOnlyIncremental):
  // the id of the master-manifest snapshot the slave has fully absorbed.
  private val manifestCheckpoint =
    scala.collection.concurrent.TrieMap.empty[String, Int]

  private def dropPartSnapshot(table: String): Unit =
    partFpSnapshot.remove(table).foreach { case (p, _) =>
      try Differ.rmScratch(master.spark, p) catch { case _: Exception => () }
    }

  // ---- Maintained-state persistence (config.stateDir) --------------------
  // One property file per table, written via tmp + rename after every state
  // mutation; loaded once at engine construction. The values are a few
  // numbers — durability costs microseconds per converged table. All I/O
  // goes through the Hadoop FileSystem resolved from the stateDir URI (like
  // the durable dedup index's state maintenance), so the maintained loop
  // deploys against HDFS/object stores, not just the driver's local disk.

  private val stateFsDir: Option[(FileSystem, Path)] =
    config.stateDir.map { d =>
      val p = new Path(d)
      (p.getFileSystem(master.spark.sessionState.newHadoopConf()), p)
    }

  private val persistLock = new Object

  private def persistState(table: String): Unit = stateFsDir.foreach { case (fs, dir) =>
    persistLock.synchronized {
      val props = new java.util.Properties()
      maintainedFp.get(table).foreach { st =>
        props.setProperty("fp.count", st.fp.count.toString)
        props.setProperty("fp.sum", st.fp.sum.toString)
        props.setProperty("fp.xor", st.fp.xor.toString)
        props.setProperty("fp.pushed", st.pushed.toString)
      }
      lastMasterToken.get(table).foreach(props.setProperty("token", _))
      partFpSnapshot.get(table).foreach { case (p, pushed) =>
        props.setProperty("part.path", p)
        props.setProperty("part.pushed", pushed.toString)
      }
      manifestCheckpoint.get(table).foreach(id =>
        props.setProperty("manifest.id", id.toString))
      val p = new Path(dir, table + ".fpstate")
      fs.mkdirs(dir)
      if (props.isEmpty) { fs.delete(p, false): Unit }
      else {
        val tmp = new Path(dir, table + ".fpstate.tmp")
        val out = fs.create(tmp, true)
        try props.store(out, null) finally out.close()
        // Hadoop rename never overwrites, so replace = delete + rename. A
        // crash inside that window LOSES the state file — which is safe:
        // resume simply re-primes the table (one extra fingerprint scan),
        // it can never trust stale state, and the file is rewritten on the
        // next converged cycle.
        fs.delete(p, false)
        if (!fs.rename(tmp, p))
          throw new java.io.IOException(s"failed to persist sync state $p")
        ()
      }
    }
  }

  // Resume persisted state: a restarted engine picks up the change-token
  // gate (and partition snapshots) exactly where the previous process left
  // off — unchanged tables cost zero Spark jobs from the first cycle.
  stateFsDir.foreach { case (fs, dir) =>
    (if (fs.exists(dir)) fs.listStatus(dir).toSeq else Seq.empty)
      .filter(_.getPath.getName.endsWith(".fpstate")).foreach { f =>
        val table = f.getPath.getName.stripSuffix(".fpstate")
        val props = new java.util.Properties()
        val in = fs.open(f.getPath)
        try props.load(in) finally in.close()
        Option(props.getProperty("fp.count")).foreach { c =>
          maintainedFp.update(table, FpState(Hashing.MultisetFp(c.toLong,
            BigInt(props.getProperty("fp.sum")),
            props.getProperty("fp.xor").toLong),
            props.getProperty("fp.pushed", "false").toBoolean))
        }
        Option(props.getProperty("token"))
          .foreach(lastMasterToken.update(table, _))
        // A snapshot path is only trusted if its files still exist (scratch
        // may have been cleaned independently of the state dir).
        Option(props.getProperty("part.path")).foreach { sp =>
          val ok = try {
            val hp = new org.apache.hadoop.fs.Path(sp)
            hp.getFileSystem(master.spark.sessionState.newHadoopConf()).exists(hp)
          } catch { case _: Exception => false }
          if (ok) partFpSnapshot.update(table,
            (sp, props.getProperty("part.pushed", "false").toBoolean))
        }
        Option(props.getProperty("manifest.id"))
          .foreach(id => manifestCheckpoint.update(table, id.toInt))
      }
  }

  /** The maintained slave fingerprint for `table`, if primed (maintained mode). */
  def maintainedFingerprint(table: String): Option[Hashing.MultisetFp] =
    maintainedFp.get(table).map(_.fp)

  /** Did `action` leave the slave table ≡ master? (Delta applied, recopied,
    * or the gate proved equality.) Token/fingerprint state may only advance
    * on convergence — a Skip("no primary key") or recorded failure must not.
    */
  private def converged(action: SyncAction): Boolean = action match {
    case _: CopyTable | _: ApplyDelta => true
    case Skip(_, reason) => reason.startsWith("already in sync") ||
      reason.startsWith("unchanged")
    case _ => false
  }

  /** C2: per-table cascade (`Synchronizer.php:189-233`). */
  def syncTable(table: String): SyncAction = {
    // Maintained-mode zero-cost gate: if the master's PHYSICAL state is
    // byte-identical to the one this engine last converged against (and the
    // engine is the slave's sole writer), there is nothing to do — no
    // fingerprint job, no schema read, no Spark job at all. This is the
    // steady state of the reference's run-frequently loop. The token is
    // captured BEFORE any scan: a concurrent master write after capture at
    // worst stores a stale token, which re-syncs next cycle (never skips a
    // real change).
    val tok = if (config.maintainFingerprints) master.changeToken(table) else None
    if (tok.isDefined && lastMasterToken.get(table) == tok)
      return record(Skip(table, "unchanged (master change token)"))

    val action = {
      val mSchema = master.schemaOf(table)
      val sSchema = slave.schemaOf(table)
      if (!SchemaCompare.sameStructure(mSchema, sSchema) || ddlDiffers(table)) {
        val a = copyTable(table)
        // The recopy bypassed the fingerprint gate: any maintained value is
        // now stale — drop it so the next cycle re-primes (one slave scan)
        // instead of trusting a fingerprint of pre-copy content.
        if (config.maintainFingerprints && !config.dryRun) {
          maintainedFp.remove(table)
          dropPartSnapshot(table)
        }
        a
      } else config.partitionedTables.get(table) match {
        case Some(partCol) => syncPartitionedTable(table, partCol)
        case None => syncUnpartitionedTable(table)
      }
    }
    if (!config.dryRun && tok.isDefined && converged(action))
      lastMasterToken.update(table, tok.get)
    // ONE durable write per table cycle covers every state mutation the
    // cascade may have made (fingerprint, token, snapshot path).
    if (!config.dryRun) persistState(table)
    action
  }

  private def keyColsOf(table: String): Option[Seq[String]] = config.primaryKeys.get(table)

  /** Both sides' pushed hash maps, when `config.hashPushdown` and both
    * stores can push and the table has keys to project — the precondition
    * for the wire-efficient cascade. All-or-nothing by construction: a
    * pushed map never meets a Spark-hashed one.
    */
  private def pushedMaps(table: String, projCols: Seq[String], cols: Seq[String]) =
    if (!config.hashPushdown) None
    else for {
      mh <- master.pushedHashMap(table, projCols, cols, config.legacyNullSkip)
      sh <- slave.pushedHashMap(table, projCols, cols, config.legacyNullSkip)
    } yield (mh, sh)

  private def syncUnpartitionedTable(table: String): SyncAction = {
    val m = master.read(table)
    val cols = m.columns.toSeq
    val keys = keyColsOf(table)
    // Wire-efficient cascade (config.hashPushdown): both sides hashed inside
    // their stores — only hashes cross the wire; full rows move solely in
    // the J3 insert fetch, scoped to the delta's keys.
    val pushed = keys.flatMap(pushedMaps(table, _, cols))
    def maps() = Differ.hashMaps(m, slave.read(table), keys.getOrElse(Nil),
      config.legacyNullSkip, pushed)
    // The cascade's tail once the gate tripped: the row-level diff over the
    // maps + ordered apply, or the no-PK fallback.
    def diff(mh: DataFrame, sh: DataFrame): SyncAction = keys match {
      case None =>
        if (config.copyTablesWithNoPrimary) copyTable(table)
        else record(Skip(table, "no primary key"))
      case Some(k) => applyDelta(table, Differ.mapsDiff(mh, sh, m, k, config.keyAwareDiff))
    }

    if (config.maintainFingerprints) {
      // Maintained A1 gate: after the priming cycle the slave side is NEVER
      // scanned again — this engine is the slave's only writer, so the
      // fingerprint it converged to IS the slave's fingerprint. A changed
      // master pays ONE scan (its own); the old gate paid two per cycle.
      // The flavor (pushed md5 vs Spark-side) must match the stored value.
      def fp(side: => DataFrame, pushedSide: Option[DataFrame]) =
        pushedSide.fold(Hashing.multisetFp(side, cols, config.legacyNullSkip))(
          Hashing.multisetFpOfHashes(_, "row_hash"))
      val mFp = fp(m, pushed.map(_._1))
      val sFp = maintainedFp.get(table)
        .collect { case FpState(v, p) if p == pushed.isDefined => v }
        .getOrElse(fp(slave.read(table), pushed.map(_._2)))
      if (mFp == sFp) {
        if (!config.dryRun) maintainedFp.update(table, FpState(mFp, pushed.isDefined))
        return record(Skip(table, "already in sync"))
      }
      val (mh, sh) = maps()
      val action = diff(mh, sh)
      // Convergence ⇒ slave ≡ master ⇒ the master fingerprint just computed
      // is the slave's maintained value for the next cycle.
      if (!config.dryRun && converged(action))
        maintainedFp.update(table, FpState(mFp, pushed.isDefined))
      return action
    }

    // A1 gate fused with the diff: each side reduced ONCE to its narrow
    // (key…, h1, h2) map, gated on the maps' order-free fold in one job, and
    // when the gate trips the diff legs run over the SAME maps — the gate's
    // table scans ARE the diff's. Lazy persist, not eager checkpoint: the
    // gate's one job scans both sides, populates both caches as it goes and
    // folds them. A keyless map has no diff to feed, so it is not persisted.
    val persist = keys.isDefined
    val (mh, sh) = maps() match {
      case (a, b) if persist => (a.persist(), b.persist())
      case ab => ab
    }
    try {
      val (mFp, sFp) = phase(s"$table fused-gate")(Hashing.fastMapFingerprints(mh, sh))
      if (mFp == sFp) record(Skip(table, "already in sync")) else diff(mh, sh)
    } finally if (persist) { graft.ops.Caching.release(sh); graft.ops.Caching.release(mh) }
  }

  /** O(delta) CDC apply (maintained mode): fold a master change batch into
    * the slave AND the maintained fingerprint — no scan of either table.
    * `changes` carries `opCol` ('D' = delete, with the full BEFORE image;
    * 'I' = insert, with the full AFTER image; an update is its D+I pair)
    * plus every table column — exactly what a row-image CDC feed (binlog,
    * Debezium-style) delivers. The fingerprint fold is the proven
    * [[Hashing.MultisetFp]] group algebra (`sync_incremental_fp`); the write
    * is the same delete-before-insert store apply as the batch cascade.
    *
    * Requires a primed maintained fingerprint (run [[syncTable]] once first)
    * and a configured primary key. The batch is spilled to scratch before
    * any mutation (same restart-point contract as [[Differ.applyDelta]]).
    *
    * Feed contract: an update MUST arrive as its D+I pair. An 'I' whose key
    * already exists on the slave WITHOUT the paired 'D' (malformed feed)
    * physically replaces the old row — the delete target covers all
    * incoming keys — while the old row's hash never leaves the maintained
    * fingerprint: SILENT divergence, unlike the unknown-op case above which
    * throws. `validateFeed = true` detects it (pure-insert keys semi-joined
    * against the slave — one slave scan, so opt-in: the default path keeps
    * the O(delta) no-table-scan promise; [[verifyMaintained]] is the
    * after-the-fact audit for feeds you don't control).
    */
  def applyCdc(table: String, changes: org.apache.spark.sql.DataFrame,
               opCol: String = "op", validateFeed: Boolean = false): SyncAction = {
    val keys = keyColsOf(table).getOrElse(throw new IllegalArgumentException(
      s"applyCdc($table) requires a primary key in SyncConfig.primaryKeys"))
    val st = maintainedFp.getOrElse(table, throw new IllegalStateException(
      s"applyCdc($table) requires a primed maintained fingerprint — run syncTable($table) first"))
    // A pushed-primed fingerprint is made of SERVER-computed hashes; the
    // Spark-side fold below cannot reproduce the server's cast semantics, so
    // merging the two flavors would silently corrupt the maintained state.
    require(!st.pushed,
      s"applyCdc($table): maintained fingerprint was primed from pushed (server-side) " +
        "hashes — CDC folds are Spark-side; re-prime with hashPushdown off to mix them")
    val prev = st.fp
    val spark = changes.sparkSession
    val dataCols = changes.columns.toSeq.filterNot(_ == opCol)
    val scratch = Differ.newScratchDir(spark, config.scratchDir, s"cdc_$table")
    try {
      val spilled = Differ.spill(changes, s"$scratch/changes")
      // ONE delta-sized aggregate computes fp(deleted) and fp(inserted).
      val zero = Hashing.MultisetFp(0L, BigInt(0), 0L)
      val byOp = Hashing.multisetFpByGroup(spilled, opCol, dataCols, config.legacyNullSkip)
      // Unknown op tags must FAIL, not half-apply: their keys would join the
      // delete target below while contributing nothing to the fingerprint
      // fold — maintained state would silently diverge from content.
      val unknown = byOp.keySet -- Set("D", "I")
      require(unknown.isEmpty,
        s"applyCdc($table): unknown op tag(s) ${unknown.mkString(", ")} — expected 'D'/'I'")
      val (fpD, fpI) = (byOp.getOrElse("D", zero), byOp.getOrElse("I", zero))
      if (validateFeed && fpI.count > 0) {
        // Pure-insert keys (no paired 'D') claim to be NEW: any that already
        // exist on the slave are updates missing their before-image.
        val dK = spilled.filter(col(opCol) === "D").select(keys.map(col): _*)
        val pureIns = spilled.filter(col(opCol) === "I").select(keys.map(col): _*)
          .join(dK, keys, "left_anti")
        val offending = slave.read(table)
          .join(broadcast(pureIns), keys, "left_semi").count()
        require(offending == 0,
          s"applyCdc($table): $offending insert-only key(s) already exist on the " +
            "slave — malformed feed (update without its 'D' before-image); " +
            "applying it would silently diverge the maintained fingerprint")
      }
      if (!config.dryRun && (fpD.count > 0 || fpI.count > 0)) {
        val inserts = spilled.filter(col(opCol) === "I").select(dataCols.map(col): _*)
        // C7 delete-before-insert: clear ALL incoming keys (an update is a
        // D+I pair on the same key; the store applies deletes first).
        val delTarget = spilled.select(keys.map(col): _*).distinct()
        val delT = if (fpD.count + fpI.count <= Differ.BroadcastKeyMax)
          broadcast(delTarget) else delTarget
        slave.applyDelta(table, delT, keys, inserts, None)
        maintainedFp.update(table, FpState(prev.remove(fpD).merge(fpI), pushed = false))
        // Feed-driven cycle: any stored master token is stale now, and so
        // would be a per-partition snapshot of this table.
        lastMasterToken.remove(table)
        dropPartSnapshot(table)
        persistState(table)
      }
      record(ApplyDelta(table, fpD.count, fpI.count))
    } finally Differ.rmScratch(spark, scratch)
  }

  /** Manifest-driven incremental cycle for an APPEND-ONLY parquet master —
    * the file-granularity completion of the reference's "iterative = quick"
    * loop (README.md:24). The master dir carries [[graft.ops.Manifest]]
    * snapshots; each cycle commits an INCREMENTAL snapshot (only new files
    * scanned for stats — parquet files are immutable), reads ONLY the
    * files added since the engine's recorded snapshot id, appends them to
    * the slave, and advances the maintained fingerprint by the delta's
    * own aggregate. Steady-state cost ∝ new files: the old master data is
    * never planned, let alone scanned (executed-scan contract pinned in
    * PlanAuditSpec), and the slave write is a pure append — never the
    * copy-on-write delete pass, which rewrites the whole slave on file
    * stores.
    *
    * `masterPath` is the parquet dir behind `table` on the master store,
    * append-only between cycles. Violations are DETECTED, not trusted: a
    * vanished file (rewrite/compaction/delete) fails the cycle over to a
    * full [[syncTable]] diff, as does a missing checkpoint (priming cycle)
    * or pushed-flavor maintained state (the fold here is Spark-side, same
    * rule as [[applyCdc]]). The delta fingerprint is aggregated BEFORE the
    * append, so a failed write leaves the state untouched — the immutable
    * master files are the restart point, no spill needed.
    *
    * Requires maintained mode and a primary key.
    */
  /** Store-derived form of [[syncAppendOnlyIncremental(table:String,masterPath:String)*]]:
    * the master path comes from the master store itself
    * ([[TableStore.tablePath]]), so the caller cannot hand the engine a
    * directory that is not the table it syncs. Fails fast for stores
    * without a parquet directory per table (JDBC — manifest composition
    * does not apply there).
    */
  def syncAppendOnlyIncremental(table: String): SyncAction =
    syncAppendOnlyIncremental(table, master.tablePath(table).getOrElse(
      throw new IllegalArgumentException(
        s"syncAppendOnlyIncremental($table): the master store exposes no parquet " +
          "directory for this table (TableStore.tablePath) — manifest-driven " +
          "incremental sync needs a file-backed master")))

  def syncAppendOnlyIncremental(table: String, masterPath: String): SyncAction = try {
    require(config.maintainFingerprints,
      s"syncAppendOnlyIncremental($table) requires maintainFingerprints mode")
    keyColsOf(table).getOrElse(throw new IllegalArgumentException(
      s"syncAppendOnlyIncremental($table) requires a primary key in SyncConfig.primaryKeys"))
    val spark = master.spark
    val keys = config.primaryKeys(table)
    val (newId, _, removed) = graft.ops.Manifest.createIncremental(
      spark, masterPath, keys: _*)
    def fullCycle(): SyncAction = {
      val action = syncTable(table)
      if (!config.dryRun && converged(action) &&
          maintainedFp.get(table).exists(st => !st.pushed)) {
        manifestCheckpoint.update(table, newId)
        persistState(table)
        if (config.masterRetentionMaintenance && config.manifestRetainSnapshots > 0)
          bestEffortMaintenance(
            graft.ops.Manifest.expireSnapshots(spark, masterPath,
              config.manifestRetainSnapshots): Unit)
      }
      action
    }
    manifestCheckpoint.get(table) match {
      case Some(lastId) if removed == 0 &&
          maintainedFp.get(table).exists(st => !st.pushed) &&
          // The checkpoint snapshot can vanish (retention, or a whole-dir
          // master rewrite that took _graft_manifest with it): fall back to
          // a full diff instead of crashing in addedSince.
          graft.ops.Manifest.hasSnapshot(spark, masterPath, lastId) =>
        val (rows, nAdded) = graft.ops.Manifest.addedSince(spark, masterPath, lastId)
        if (nAdded == 0) {
          if (!config.dryRun) {
            manifestCheckpoint.update(table, newId)
            persistState(table)
          }
          record(Skip(table, "no new files"))
        } else {
          val prev = maintainedFp(table).fp
          val fpI = Hashing.multisetFp(rows, rows.columns.toSeq, config.legacyNullSkip)
          if (!config.dryRun) {
            slave.append(table, rows)
            maintainedFp.update(table, FpState(prev.merge(fpI), pushed = false))
            // Append-driven cycle: any stored master change token predates
            // this write, and so would a per-partition snapshot.
            lastMasterToken.remove(table)
            dropPartSnapshot(table)
            manifestCheckpoint.update(table, newId)
            persistState(table)
            // Self-maintenance: a recurring loop commits one snapshot per
            // data-changed cycle — bound the history (the engine's own
            // checkpoint is the newest, never expired).
            if (config.masterRetentionMaintenance && config.manifestRetainSnapshots > 0)
              bestEffortMaintenance(
                graft.ops.Manifest.expireSnapshots(spark, masterPath,
                  config.manifestRetainSnapshots): Unit)
          }
          record(SyncAction.ApplyDelta(table, 0L, fpI.count))
        }
      case _ => fullCycle()
    }
  } catch {
    // A concurrent COW mutation / compaction refused this cycle's snapshot
    // commit (typed). The recurring loop's correct response is to SKIP —
    // nothing was applied or checkpointed, the next cycle retries against
    // the settled state.
    case e: graft.ops.Manifest.ConcurrentCommitException =>
      record(Skip(table, s"concurrent commit refused — retry next cycle: ${e.getMessage}"))
  }

  /** Store-derived form of [[syncViaChangeFeed(table:String,masterPath:String)*]]. */
  def syncViaChangeFeed(table: String): SyncAction =
    syncViaChangeFeed(table, master.tablePath(table).getOrElse(
      throw new IllegalArgumentException(
        s"syncViaChangeFeed($table): the master store exposes no parquet " +
          "directory for this table (TableStore.tablePath) — manifest-CDF " +
          "sync needs a file-backed master")))

  /** CHANGE-FEED-driven sync cycle for a master mutated IN PLACE by the
    * COW DML jobs ([[graft.ops.Layout.deleteRange]] / `mergeKeyed`, or
    * appends committed through manifest snapshots) — the general-mutation
    * completion of [[syncAppendOnlyIncremental]]'s append-only story: the
    * row-level feed between the engine's checkpointed master snapshot and
    * the latest one ([[graft.ops.Manifest.changesBetween]] — deletes carry
    * their pre-images because the mutations RETAIN replaced files, updates
    * arrive as D+I pairs) is exactly the CDC batch [[applyCdc]] folds, so
    * a cycle's MASTER IO is ∝ the files the mutations touched (never a
    * master rescan) and fingerprint maintenance is O(delta); the slave
    * pays only its store's delta-apply cost — keyed deletes on JDBC, one
    * key-broadcast COW rewrite on a flat file store, partition-pruned on
    * a partitioned one.
    *
    * Violations are DETECTED, never trusted — no checkpoint (priming
    * cycle), expired checkpoint snapshot, pushed-flavor state, or an
    * INCOMPLETE manifest (a file appended outside the manifest jobs would
    * make the feed under-report) each fall back to a full [[syncTable]]
    * diff that re-checkpoints at the master's current state. With
    * `masterRetentionMaintenance` opted in, converged cycles expire
    * snapshot history to `manifestRetainSnapshots` and vacuum unreferenced
    * trash, so the recurring loop self-bounds both metadata and
    * retained-history debt — opt-in because it mutates the MASTER's
    * history, which other time-travel/CDF readers may rely on.
    */
  def syncViaChangeFeed(table: String, masterPath: String): SyncAction = try {
    require(config.maintainFingerprints,
      s"syncViaChangeFeed($table) requires maintainFingerprints mode")
    val keys = keyColsOf(table).getOrElse(throw new IllegalArgumentException(
      s"syncViaChangeFeed($table) requires a primary key in SyncConfig.primaryKeys"))
    val spark = master.spark
    def fullCycle(): SyncAction = {
      val action = syncTable(table)
      if (!config.dryRun && converged(action) &&
          maintainedFp.get(table).exists(st => !st.pushed)) {
        // Checkpoint at the master's CURRENT state (create/refresh the
        // snapshot with the existing profile's keys, else the PK).
        val mKeys = graft.ops.Manifest.currentKeyCols(spark, masterPath)
          .getOrElse(keys)
        val (id, _, _) =
          graft.ops.Manifest.createIncremental(spark, masterPath, mKeys: _*)
        manifestCheckpoint.update(table, id)
        persistState(table)
      }
      action
    }
    val latest = graft.ops.Manifest.latestSnapshotId(spark, masterPath)
    manifestCheckpoint.get(table) match {
      case Some(lastId) if latest.isDefined &&
          maintainedFp.get(table).exists(st => !st.pushed) &&
          graft.ops.Manifest.hasSnapshot(spark, masterPath, lastId) &&
          graft.ops.Manifest.isComplete(spark, masterPath) =>
        if (latest.get == lastId) record(Skip(table, "no snapshot change"))
        else try {
          val feed = graft.ops.Manifest
            .changesBetween(spark, masterPath, lastId, latest.get)
          val changes = feed.withColumn("__op",
              when(col("change") === "delete", lit("D")).otherwise(lit("I")))
            .drop("change")
          val action = applyCdc(table, changes, opCol = "__op")
          if (!config.dryRun) {
            manifestCheckpoint.update(table, latest.get)
            persistState(table)
            if (config.masterRetentionMaintenance && config.manifestRetainSnapshots > 0)
              bestEffortMaintenance {
                graft.ops.Manifest.expireSnapshots(spark, masterPath,
                  config.manifestRetainSnapshots)
                graft.ops.Manifest.vacuum(spark, masterPath): Unit
              }
          }
          action
        } catch {
          // Layout rewrites retain their replaced originals, so the feed
          // normally rides ACROSS routine maintenance (carried rows cancel
          // in the multiset diff). Staleness can still happen — an external
          // delete, an aggressive vacuum, or a retention-skipped rewrite
          // (partitioned-original collision) — and the recurring loop must
          // survive it: fall back to the full diff, which also
          // re-checkpoints at the master's current state.
          case _: graft.ops.Manifest.StaleManifestException => fullCycle()
        }
      case _ => fullCycle()
    }
  } catch {
    // Same skip-not-crash posture as syncAppendOnlyIncremental: a
    // concurrent COW/compaction refused this cycle's snapshot commit —
    // nothing was applied or checkpointed; the next cycle retries.
    case e: graft.ops.Manifest.ConcurrentCommitException =>
      record(Skip(table, s"concurrent commit refused — retry next cycle: ${e.getMessage}"))
  }

  /** Audit escape hatch for the sole-writer assumption: recompute the slave
    * fingerprint with one full scan and compare to the maintained value.
    * Run it at whatever cadence drift is plausible (the reference's answer
    * is "every cycle"; the maintained mode's answer is "rarely, explicitly").
    */
  def verifyMaintained(table: String): Boolean =
    maintainedFp.get(table).exists { st =>
      val s = slave.read(table)
      val cols = s.columns.toSeq
      if (st.pushed)
        // Recompute in the SAME flavor the state was primed with: one pushed
        // scan of the slave (hashes over the wire, like the gate itself).
        slave.pushedHashMap(table, keyColsOf(table).getOrElse(Nil), cols,
            config.legacyNullSkip)
          .exists(hm => Hashing.multisetFpOfHashes(hm, "row_hash") == st.fp)
      else Hashing.multisetFp(s, cols, config.legacyNullSkip) == st.fp
    }

  /** C3/C4: partitioned cascade (`Synchronizer.php:111-180, 242-291`) — but
    * ONE grouped-fingerprint job per side covers every partition value,
    * replacing the reference's query-per-value loop, and ONE copy-on-write
    * apply covers excess-partition deletes + row deletes + inserts together
    * (the reference pays a write round-trip per partition value).
    *
    * NULL partition values are first-class: the fingerprint full-outer join,
    * the diff-scope semi-joins, and the store-level deletes all use null-safe
    * (`<=>`) semantics — an equi-join would silently never match a NULL
    * partition and the table could never converge while the audit log claims
    * success.
    */
  private def syncPartitionedTable(table: String, partCol: String): SyncAction = {
    val m = master.read(table)
    lazy val s = slave.read(table)
    val cols = m.columns.toSeq

    // Wire-efficient partitioned cascade: with pushdown on both stores the
    // grouped fingerprints AND the scoped diff read only (key, partition,
    // 32-byte hash) projections — the reference computes its per-partition
    // hashes server-side too (`TableConnection.php:510-547`).
    val projCols = keyColsOf(table).map(k => (k :+ partCol).distinct)
    val pushed = projCols.flatMap(pushedMaps(table, _, cols))
    val pushedMode = pushed.isDefined

    val mFp = pushed match {
      case Some((mh, _)) =>
        Hashing.partitionFingerprintsOfHashes(mh, partCol, "row_hash")
      case None => Hashing.partitionFingerprints(m, partCol, cols, config.legacyNullSkip)
    }
    // Maintained mode, partitioned analog: after a convergence the slave's
    // per-partition fingerprints ARE the master's, so they were spilled as a
    // snapshot then — read it (O(partitions), no slave scan) instead of
    // re-fingerprinting the slave table every cycle. Priming / invalidated /
    // flavor-mismatched (pushed vs local — never comparable) state falls
    // back to the full grouped scan.
    val sFpRaw = partFpSnapshot.get(table)
        .filter { case (_, fl) => config.maintainFingerprints && fl == pushedMode } match {
      case Some((path, _)) =>
        // The snapshot may predate this process (stateDir resume), so its
        // schema comes from its own footer, read on the driver.
        val reader = master.spark.read
        FooterSchema.of(master.spark, path).fold(reader)(reader.schema).parquet(path)
      case None => pushed match {
        case Some((_, sh)) =>
          Hashing.partitionFingerprintsOfHashes(sh, partCol, "row_hash")
        case None => Hashing.partitionFingerprints(s, partCol, cols, config.legacyNullSkip)
      }
    }
    val sFp = sFpRaw
      .withColumnRenamed(partCol, "__s_part")
      .withColumnRenamed("fp_count", "s_count").withColumnRenamed("fp_xor", "s_xor")
      .withColumnRenamed("fp_sum", "s_sum")
    val joined = mFp.join(sFp, mFp(partCol) <=> sFp("__s_part"), "full_outer").cache()
    def run(): SyncAction = {
      // Excess slave partitions → delete keys, folded into the single apply
      // below (the reference deletes per value, Synchronizer.php:166-175).
      val excessCond = col("fp_count").isNull && col("s_count").isNotNull
      // Changed or missing partitions → one combined row-level diff scoped to
      // them (needDiff stays distributed: partition cardinality may be huge).
      // `syncSharedPartitions = false` limits the diff to missing partitions
      // (reference SYNC_SHARED_PARTITIONS, settings.php.tmpl:64-67).
      val changed = !(col("fp_xor") <=> col("s_xor")) ||
        !(col("fp_count") <=> col("s_count")) || !(col("fp_sum") <=> col("s_sum"))
      val scopeCond =
        if (config.syncSharedPartitions) col("s_count").isNull || changed
        else col("s_count").isNull
      val needCond = col("fp_count").isNotNull && scopeCond
      // ONE action materializes the cached join AND produces both plan-gate
      // counts (two separate .count()s paid an extra pass each cycle).
      val gate = joined.agg(
        count(when(excessCond, lit(1))), count(when(needCond, lit(1)))).head()
      val (nExcess, nNeed) = (gate.getLong(0), gate.getLong(1))
      val excessDf = joined.filter(excessCond).select(col("__s_part").as(partCol))
      val needDiff = joined.filter(needCond).select(col(partCol).as("__need_part"))
      if (nNeed == 0 && nExcess == 0) return record(Skip(table, "already in sync"))
      if (nExcess > 0) record(DropPartition(table, partCol, s"$nExcess partitions"))
      if (nNeed == 0) {
        // Partition deletes only — one store-level keyed (null-safe) delete.
        if (!config.dryRun) slave.deleteKeys(table, broadcast(excessDf), Seq(partCol))
        return record(ApplyDelta(table, nExcess, 0))
      }

      val keys = keyColsOf(table) match {
        case Some(k) => k
        case None =>
          return if (config.copyTablesWithNoPrimary) copyTable(table)
                 else record(Skip(table, "no primary key"))
      }
      // Nothing has mutated the slave yet (the apply below is the ONLY
      // write), so the diff's lazy plans over the slave's current files stay
      // valid — no defensive spill needed. The changed-partition list's size
      // is KNOWN (just counted) — broadcast it when small so the scoping
      // semi-joins never shuffle the tables by key.
      val needDiffB =
        if (nNeed <= Differ.BroadcastKeyMax) broadcast(needDiff) else needDiff
      def scoped(df: DataFrame) =
        df.join(needDiffB, df(partCol) <=> needDiffB("__need_part"), "left_semi")
      // Both maps carry partCol, so they scope like the tables (a pushed
      // map's diff traffic stays hashes). C7: a row may have moved
      // partitions; keying the diff on the PK alone (not PK+partition) plus
      // delete-before-insert keeps convergence.
      val (mh, sh) = Differ.hashMaps(m, s, (keys :+ partCol).distinct,
        config.legacyNullSkip, pushed)
      def scopedMap(hm: DataFrame) =
        if (keys.contains(partCol)) scoped(hm) else scoped(hm).drop(partCol)
      val delta = Differ.mapsDiff(scopedMap(mh), scopedMap(sh), scoped(m), keys,
        config.keyAwareDiff)
      applyDelta(table, delta,
        partDeletes = if (nExcess > 0) Some(partCol -> excessDf) else None)
    }
    try {
      val action = run()
      // A Skip with an existing snapshot means every master partition
      // fingerprint already equals the snapshot's content — rewriting it
      // would be a pointless write every idle cycle (reachable when the
      // master store has no change token, e.g. JDBC).
      val skipWithSnapshot =
        action.isInstanceOf[Skip] && partFpSnapshot.contains(table)
      if (config.maintainFingerprints && !config.dryRun && converged(action)
          && !skipWithSnapshot) {
        // Slave ≡ master now, so the master-side grouped fingerprints —
        // already materialized in the cached join — ARE the slave's
        // fingerprints: spill them as the next cycle's snapshot (write to a
        // fresh path, then retire the old one, so a concurrent reader of
        // the previous snapshot never sees a half-written dir).
        // Snapshots live under stateDir when durability is configured — a
        // restarted engine re-reads them; scratch may be cleaned between runs.
        val snap = Differ.newScratchDir(master.spark,
          config.stateDir.orElse(config.scratchDir), s"pfp_$table")
        val snapCols =
          if (config.syncSharedPartitions)
            Seq(col(partCol), col("fp_count"), col("fp_xor"), col("fp_sum"))
          else {
            // Shared partitions were OUT OF SCOPE (SYNC_SHARED_PARTITIONS
            // off): the slave kept its own content there, so the snapshot
            // records the SLAVE's fingerprints wherever the slave had the
            // partition — spilling the master's would claim a convergence
            // that did not happen and mask the divergence from any later
            // engine that re-enables shared-partition sync over this state.
            def pick(s: String, m: String) =
              when(col("s_count").isNotNull, col(s)).otherwise(col(m)).as(m)
            Seq(col(partCol), pick("s_count", "fp_count"),
              pick("s_xor", "fp_xor"), pick("s_sum", "fp_sum"))
          }
        joined.filter(col("fp_count").isNotNull)
          .select(snapCols: _*)
          .write.parquet(snap)
        partFpSnapshot.put(table, (snap, pushedMode))
          .foreach { case (p, _) =>
            try Differ.rmScratch(master.spark, p) catch { case _: Exception => () } }
      }
      action
    } finally joined.unpersist()
  }

  /** When wire efficiency is on (`hashPushdown`) and the master is a JDBC
    * store, the J3 insert fetch goes through [[JdbcStore.readKeyed]]: the
    * spilled key list (size already known) collects to the driver below the
    * cap and fetches exactly the delta's rows server-side — completing the
    * reference's transfer story (hashes over the wire for the compare,
    * delta-sized rows for the copy). Above the cap, or for unrenderable key
    * types, the fallback stays the semi-join over the full read.
    */
  private def keyedFetcher(table: String,
                           keys: Seq[String]): Option[(org.apache.spark.sql.DataFrame, Long) => Option[org.apache.spark.sql.DataFrame]] =
    (master, config.hashPushdown) match {
      case (m: JdbcStore, true) => Some { (keysDf, n) =>
        if (n > JdbcStore.KeyedFetchMaxKeys) None
        else m.readKeyed(table, keys,
          keysDf.collect().toSeq.map(r => keys.indices.map(r.get)))
      }
      case _ => None
    }

  private def applyDelta(table: String, delta: Delta,
                         partDeletes: Option[(String, org.apache.spark.sql.DataFrame)] = None): SyncAction = {
    // Counts come from the spilled delta either way — one execution of each
    // diff leg with the hash-map exchanges reused; a dry run just skips the
    // final slave rewrite (scratch spill is not slave state).
    val (nDel, nIns) = Differ.applyDelta(slave, table, delta, dryRun = config.dryRun,
      partDeletes = partDeletes, scratchDir = config.scratchDir,
      keyedFetch = keyedFetcher(table, delta.keyCols))
    if (nDel == 0 && nIns == 0 && !config.dryRun) {
      // Fingerprints differed (we only get here after the short-circuit) yet
      // the diff found nothing — possible only when content-identical rows
      // differ in multiplicity, the hash-match blind spot the reference
      // itself documents (SURVEY §2.3 J1). Full recopy guarantees
      // convergence instead of silently reporting an empty delta.
      copyTable(table)
    } else record(ApplyDelta(table, nDel, nIns))
  }

  /** S4: DDL-level structure compare for JDBC↔JDBC syncs — normalized
    * `SHOW CREATE TABLE` (or metadata-synthesized) strings see what a
    * `StructType` compare cannot: index/constraint-only divergence
    * (reference `Synchronizer.php:196-204`). Non-JDBC stores have no DDL
    * surface beyond the schema and skip this.
    */
  private def ddlDiffers(table: String): Boolean = (master, slave) match {
    case (m: JdbcStore, s: JdbcStore) =>
      // A mixed-dialect pair must synthesize BOTH sides: one side's server-
      // rendered SHOW CREATE TABLE never normalizes equal to the other's
      // metadata synthesis, which would make Skip unreachable (every table
      // recopied on every run).
      val synth = m.dialect != s.dialect
      SchemaCompare.normalizeDdl(m.fetchCreateTable(table, synth)) !=
        SchemaCompare.normalizeDdl(s.fetchCreateTable(table, synth))
    case _ => false
  }

  /** C5: full copy — drop, recreate from master (`Synchronizer.php:330-354`).
    * JDBC↔JDBC replays the master's DDL first (S13) so secondary indexes /
    * keys survive the recopy — Spark's JDBC writer alone would recreate a
    * bare inferred-type table (`Synchronizer.php:330-341`).
    */
  def copyTable(table: String): SyncAction = {
    if (!config.dryRun) (master, slave) match {
      case (m: JdbcStore, s: JdbcStore) =>
        s.createTableFromDdl(table, m.ddlStatements(table))
        s.append(table, m.read(table))
      case _ => slave.overwrite(table, master.read(table))
    }
    record(CopyTable(table))
  }
}
