package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** Minimal manifest/snapshot layer over a parquet dir — the missing step
  * between [[Layout]]'s clustering and actual FILE-level skipping: vanilla
  * Spark plans every file regardless of its min/max stats, so the layout's
  * disjoint spans only pay off inside the parquet reader (row groups). A
  * manifest snapshot records each data file's key range once; a
  * range-predicate scan then reads ONLY the overlapping files — the core
  * data-skipping mechanism of Delta/Iceberg-style table formats, built
  * from scratch on the same Hadoop-FS + atomic-rename primitives as the
  * rest of the storage layer.
  *
  * Layout on disk: `<table>/_graft_manifest/snapshot-<n>/` (parquet, one
  * row per data file: path, per-key min/max/non-null-count, n_rows). The
  * `_`-prefixed
  * dir is invisible to Spark's parquet reader, so manifests never pollute
  * a direct `spark.read.parquet(table)` — the manifest is an ACCELERATOR,
  * not a correctness dependency. Snapshots are immutable and committed
  * under OPTIMISTIC CONCURRENCY (see [[commitSnapshot]]): content staged
  * to a writer-unique tmp dir, the id claimed by an atomic-create CAS,
  * published by one rename — of N concurrent writers exactly one commits,
  * the rest fail with the typed [[ConcurrentCommitException]] having
  * published nothing. A crashed writer leaves at worst an orphan tmp dir
  * or claim marker, healed lease-gated by the next committer.
  *
  * Key-column typing: stats are held as LONG under a per-type
  * normalization — integrals cast losslessly, timestamps become epoch
  * MICROS, dates epoch DAYS — and [[create]] REJECTS any other type
  * (string/decimal/double). The rejection is load-bearing: an unguarded
  * `cast("long")` on a string key yields NULL stats, and a NULL-stats
  * overlap predicate silently prunes EVERY file — a missing-data wrong
  * answer, the worst failure mode a skipping layer can have. Callers of
  * [[scanBox]] phrase bounds in the same normalized unit (micros / days
  * for temporal keys).
  *
  * Staleness: a [[Layout]] rewrite renames every data file, so the
  * rewrite jobs carry the snapshot history across their swap and
  * re-commit a fresh snapshot with the same keys ([[currentKeyCols]])
  * as part of the job. As a second line of defense, [[scanBox]] /
  * [[addedSince]] existence-check the files they picked (one `listStatus`
  * per parent directory, not per file) and throw the typed
  * [[Manifest.StaleManifestException]] instead of letting the read fail
  * mid-scan with a bare `FileNotFoundException` — or worse, half-succeed.
  *
  * Driver math: pruning collects the overlapping FILE PATHS (manifest rows
  * ∝ file count — the same driver-side listing any file index holds, made
  * smaller by the pruning predicate), never data.
  */
object Manifest {

  /** The manifest references files the table no longer contains (a layout
    * rewrite or external delete happened after the snapshot). Recovery:
    * re-run [[create]].
    */
  final class StaleManifestException(msg: String) extends IllegalStateException(msg)

  /** Another writer committed a snapshot between this writer's read of the
    * table state and its commit attempt — optimistic concurrency detected
    * the race and REFUSED the commit. Nothing was published (the staged
    * snapshot content is cleaned up); the operation is safe to re-run
    * against the table's new state, which is exactly the recovery: re-read,
    * recompute, recommit.
    */
  final class ConcurrentCommitException(msg: String)
    extends IllegalStateException(msg)

  private def root(table: String) = s"$table/_graft_manifest"
  private val SnapRe = "snapshot-(\\d+)".r

  /** Cap on the file paths a single plan may materialize on the driver
    * (path strings ≈ 100 B each; the default caps driver planning state at
    * ~1 GB — past that the table needs compaction, not a bigger driver).
    * Every planning collect goes through [[plannedPaths]], which fails
    * TYPED at the cap instead of silently ballooning driver memory.
    * `private[graft] var` so specs exercise the cap without 10M-file
    * fixtures.
    */
  private[graft] var maxPlannedFiles: Int = 10000000

  /** Collect a per-file frame under the [[maxPlannedFiles]] cap —
    * pruning/filtering stays a distributed job; only the FINAL rows land on
    * the driver, and an over-cap plan fails typed with the recovery
    * (compact) in the message.
    */
  private[ops] def plannedRows(df: DataFrame, table: String,
                               what: String): IndexedSeq[org.apache.spark.sql.Row] =
    capped(df.limit(maxPlannedFiles + 1).collect().toIndexedSeq, table, what)

  /** Planned rows past [[maxPlannedFiles]] fail typed. */
  private[ops] def capped[T](rows: IndexedSeq[T], table: String,
                             what: String): IndexedSeq[T] = {
    if (rows.length > maxPlannedFiles)
      throw new IllegalStateException(
        s"$what on $table plans more than $maxPlannedFiles files — the " +
          "file-count debt has outgrown driver-side planning; compact the " +
          "table (Layout.compactTable) or raise Manifest.maxPlannedFiles")
    rows
  }

  /** [[plannedRows]] of a single-string-column frame of file paths. */
  private def plannedPaths(df: DataFrame, table: String,
                           what: String): IndexedSeq[String] =
    plannedRows(df, table, what).map(_.getString(0))

  private def fsOf(spark: SparkSession, table: String) =
    new Path(table).getFileSystem(spark.sessionState.newHadoopConf())

  private[ops] def snapshotIds(spark: SparkSession, table: String): Seq[Int] = {
    val fs = fsOf(spark, table)
    val r = new Path(root(table))
    if (!fs.exists(r)) Nil
    else fs.listStatus(r).toSeq.collect {
      case s if s.isDirectory => s.getPath.getName match {
        case SnapRe(n) => Some(n.toInt)
        case _ => None
      }
    }.flatten
  }

  private def latestId(spark: SparkSession, table: String): Option[Int] =
    snapshotIds(spark, table) match {
      case Seq() => None
      case ids => Some(ids.max)
    }

  /** Driver-side cache of IMMUTABLE snapshot content (guide §5: keep the
    * driver out of repeated metadata work). A published snapshot dir never
    * changes in place (staged + atomic-rename publish), so its stat rows
    * and schema are cacheable; what CAN change is the PATH's meaning — a
    * vacuum/expiry deletes the dir, a dropped-and-recreated table reuses
    * ids. Each entry is therefore keyed on the dir's full listing
    * signature (every name|length|mtime under it, one `listStatus`) and
    * re-validated on every hit: one metadata RPC instead of a fresh
    * `spark.read.parquet` per access — which costs a file listing, a
    * footer schema inference, and (for the consumers that collect) a
    * Spark job, measured at ~40–80 ms each and ×30–60 per SQL DML
    * fixture. Snapshots whose parquet payload exceeds
    * [[snapCacheEntryMaxBytes]] are served DISTRIBUTED and uncached — a
    * 100-TB table's manifest stays a Spark-side frame; the cache absorbs
    * only metadata-sized snapshots (the same tiering as Delta's driver
    * log cache vs its checkpoint reads).
    */
  private final case class SnapEntry(sig: String, bytes: Long,
                                     schema: StructType,
                                     rows: Array[org.apache.spark.sql.Row])
  /** Per-entry cap: bigger snapshots are never collected for the cache. */
  private[graft] var snapCacheEntryMaxBytes: Long = 32L << 20
  /** Total budget across entries; least-recently-used evicted past it.
    * Accounted in estimated DRIVER-HEAP bytes of the collected rows, not
    * on-disk parquet bytes — compressed long-typed stats expand several
    * fold as Row objects, so a disk-byte budget could pin far more heap
    * than it claims.
    */
  private[graft] var snapCacheTotalBytes: Long = 256L << 20
  private val snapCache =
    new java.util.LinkedHashMap[String, SnapEntry](64, 0.75f, true)
  /** Admission ledger: dir → last signature seen. A snapshot is only
    * collected into the cache when its signature is seen a SECOND time —
    * churn-heavy paths (sync-converge/restat loops publish a new snapshot
    * every cycle and read it once) never earn the eager full-column
    * collect that regressed them when the cache admitted on first sight
    * (sync_converge 3.97→5.45 s driver-side, round 19); repeated-access
    * paths (SQL DML/branch lifecycles, 30–60 reads per snapshot) still
    * cache from access #2 on. Bounded LRU: entries are two short strings.
    */
  private val snapSeen =
    new java.util.LinkedHashMap[String, String](128, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, String]): Boolean = size() > 1024
    }

  /** The snapshot's stat frame — cached driver-side when metadata-sized
    * (see [[SnapEntry]]); identical error shape to the direct read when
    * the dir is missing (expired/never existed).
    */
  private[graft] def snapshotDF(spark: SparkSession, table: String,
                                id: Int): DataFrame = {
    val dir = s"${root(table)}/snapshot-$id"
    val fs = fsOf(spark, table)
    val sts =
      try fs.listStatus(new Path(dir))
      catch { case _: java.io.FileNotFoundException =>
        return spark.read.parquet(dir) // uncached error shape (PATH_NOT_FOUND)
      }
    val sig = sts.map(s => s"${s.getPath.getName}|${s.getLen}|${s.getModificationTime}")
      .sorted.mkString("\n")
    val dataBytes = sts.filter { s =>
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }.map(_.getLen).sum
    def localDF(e: SnapEntry): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(e.rows: _*), e.schema)
    snapCache.synchronized {
      val hit = snapCache.get(dir)
      if (hit != null) {
        if (hit.sig == sig) return localDF(hit)
        // The path's meaning changed (vacuum + recreate reusing ids): the
        // stale entry must stop counting against the budget right away.
        snapCache.remove(dir)
      }
    }
    val df = spark.read.parquet(dir)
    val seenBefore = snapCache.synchronized {
      val prev = snapSeen.put(dir, sig)
      prev == sig
    }
    if (!seenBefore || dataBytes > snapCacheEntryMaxBytes) df
    else {
      val rows = df.collect()
      val memBytes = math.max(dataBytes,
        org.apache.spark.util.SizeEstimator.estimate(rows))
      // An entry past the whole budget would pin more heap than the budget
      // claims (eviction never drops the entry just inserted): serve it
      // uncached.
      if (memBytes > snapCacheTotalBytes) return df
      val entry = SnapEntry(sig, memBytes, df.schema, rows)
      snapCache.synchronized {
        snapCache.remove(dir)
        snapCache.put(dir, entry)
        var total = 0L
        snapCache.values().forEach(e => total += e.bytes)
        val it = snapCache.entrySet().iterator()
        while (total > snapCacheTotalBytes && it.hasNext) {
          val e = it.next()
          if (e.getKey != dir) { total -= e.getValue.bytes; it.remove() }
        }
      }
      localDF(entry)
    }
  }

  /** Test seam: number of collected entries currently held. */
  private[graft] def snapshotCacheSize: Int =
    snapCache.synchronized(snapCache.size())

  /** Test/maintenance seam: drop every cached snapshot entry. */
  private[graft] def clearSnapshotCache(): Unit =
    snapCache.synchronized { snapCache.clear(); snapSeen.clear() }

  /** Sum of `n_rows` over snapshot `id`'s entries for exactly `paths` —
    * the staged-rewrite row count a COW commit already computed in its
    * stats scan, so callers never pay a second read pass over the staged
    * files to learn it. Path identity is the scheme-less absolute form
    * (snapshot entries are URL-encoded `input_file_name` strings). A path
    * the snapshot does not describe is legitimate only when it holds no
    * rows (an empty stage still writes one schema-only file, which the
    * stats scan never sees); one holding rows would silently lower the sum
    * — and inflate every count derived from it — so it fails typed.
    */
  private[graft] def rowsOfFiles(spark: SparkSession, table: String, id: Int,
                                 paths: Seq[String]): Long = {
    if (paths.isEmpty) return 0L
    def norm(p: String) = decodePath(p).toUri.getPath
    val want = paths.map(norm).toSet
    val matched = snapshotDF(spark, table, id).select("file", "n_rows").collect()
      .map(r => norm(r.getString(0)) -> r.getLong(1)).filter(e => want(e._1))
    val seen = matched.map(_._1).toSet
    val unmatched = paths.filterNot(p => seen(norm(p)))
    if (unmatched.nonEmpty &&
        spark.read.parquet(unmatched.map(escapeGlob): _*).count() > 0)
      throw new IllegalStateException(
        s"snapshot-$id under $table has no entry for ${unmatched.length} " +
          s"staged file(s) holding rows (${unmatched.mkString(", ")}) — " +
          "their row count is unknown, so the survivor sum would be wrong")
    matched.iterator.map(_._2).sum
  }

  private def trashDir(table: String) = new Path(table, "_graft_trash")

  /** The key column normalized to the long domain its stats live in.
    * Total over exactly the types [[create]] admits; the integral branch
    * is an upcast Catalyst's UnwrapCastInBinaryComparison still pushes
    * down as a plain column predicate.
    */
  private def statCol(c: String, dt: DataType): Column = dt match {
    case ByteType | ShortType | IntegerType | LongType => col(c).cast("long")
    case TimestampType => unix_micros(col(c))
    case DateType => datediff(col(c), lit("1970-01-01")).cast("long")
    case other => throw new IllegalArgumentException(
      s"manifest key column `$c` has unsupported type ${other.simpleString}: " +
        "only integral, date, and timestamp keys carry orderable long stats " +
        "(a decimal/double key would produce NULL stats and silently prune every file)")
  }

  /** The column [[statsOf]] aggregates for `c`: the normalized long for
    * orderable keys; the RAW string for STRING keys — string min/max order
    * in binary UTF-8 (Spark's own string comparison), consumed by
    * [[FilePlanner]] (the SQL scans and [[scanRangeString]]) and the bloom
    * builders — never by the long-domain range surfaces, which
    * refuse typed on string-stat columns ([[requireLongStatsIn]]).
    */
  private def statOrStringCol(c: String, dt: DataType): Column = dt match {
    case StringType => col(c)
    case other => statCol(c, other)
  }

  /** Typed refusal for a long-domain operation pointed at a STRING-stat
    * column (`what` names the surface). String keys skip on binary
    * min/max and bloom sketches, not normalized longs.
    */
  private def requireLongStatsIn(f: DataFrame, keyCol: String,
                                 what: String): Unit =
    require(f.schema(s"min_$keyCol").dataType != StringType,
      s"column `$keyCol` carries STRING stats — $what works in the " +
        "normalized long domain; use scanRangeString/scanKeysString (the " +
        "SQL read path prunes string predicates at plan time on its own)")

  /** [[requireLongStatsIn]] against the LATEST snapshot — the guard the
    * COW range-targeting entry points ([[graft.ops.Layout]]) call before
    * comparing `min_/max_` columns with long bounds.
    */
  private[graft] def requireLongStats(spark: SparkSession, table: String,
                                      keyCol: String): Unit =
    requireLongStatsIn(files(spark, table), keyCol, "range targeting")

  /** The long a bloom sketch holds for column `c`: the normalized stat
    * value for orderable keys, `xxhash64` for STRING keys — strings carry
    * no orderable range stats (the [[statCol]] rejection), but equality
    * wants no order: hashing both the build side and the probe side with
    * the same function keeps the no-false-negative contract (identical
    * strings hash identically; a hash collision is one more false
    * positive, absorbed by the exact residual filter).
    */
  private def bloomProbeCol(c: String, dt: DataType): Column = dt match {
    case StringType => xxhash64(col(c))
    case other => statCol(c, other)
  }

  /** `input_file_name()` returns the URL-ENCODED file path (`[` as `%5B`
    * etc. — Spark's internal `SparkPath` representation); decode it back
    * to the real filesystem path before any name comparison or read.
    */
  private[graft] def decodePath(p: String): Path =
    try new Path(new java.net.URI(p))
    catch { case _: java.net.URISyntaxException => new Path(p) }

  /** Hadoop path globbing is active in `spark.read.parquet(paths: _*)`:
    * a literal path containing `*?[]{}` would be interpreted as a pattern
    * and silently read wrong (or no) files. Decode the manifest's stored
    * URL-encoded form, then escape every metacharacter, so the collected
    * paths are read EXACTLY as listed.
    */
  private[ops] def escapeGlob(p: String): String =
    decodePath(p).toString.replaceAll("([\\[\\]{}*?\\\\])", "\\\\$1")

  /** Fail fast (typed) if any picked file no longer exists — one
    * `listStatus` per distinct parent dir, never a per-file probe, so the
    * check costs O(directories) driver RPCs even when thousands of files
    * were picked.
    */
  private[ops] def requireFresh(spark: SparkSession, table: String,
                                picked: Seq[String]): Unit = {
    resolveForRead(spark, table, picked, useTrash = false): Unit
  }

  /** Test seam: runs between the freshness check and the boundary-file read
    * of the metadata aggregates (the check-then-read window). Production
    * no-op; specs use it to vanish a file inside the window.
    */
  private[graft] var interleaveForTest: () => Unit = () => ()

  /** Execute a boundary-file job that [[requireFresh]] just approved,
    * converting a vanished-file failure into the typed
    * [[StaleManifestException]]: the freshness check is check-then-read, so
    * a file vanishing inside the window must surface with the same typed
    * contract as one that vanished before it — never as a bare executor
    * error half-way into a job. Two shapes exist: analysis-time
    * PATH_NOT_FOUND (file gone before the scan plans) and a mid-job
    * FileNotFoundException (gone between planning and the task read),
    * possibly buried in Spark's task-failure cause chain.
    */
  private def boundaryRead[T](table: String)(body: => T): T = {
    def chain(e: Throwable): List[Throwable] =
      if (e == null) Nil else e :: chain(e.getCause)
    interleaveForTest()
    try body
    catch {
      case e: Throwable if chain(e).exists(c =>
          c.isInstanceOf[java.io.FileNotFoundException] ||
            String.valueOf(c.getMessage).contains("FileNotFoundException") ||
            (c.isInstanceOf[org.apache.spark.sql.AnalysisException] &&
              String.valueOf(c.getMessage).contains("PATH_NOT_FOUND"))) =>
        throw new StaleManifestException(
          s"stale manifest under $table: a referenced file vanished between " +
            "the freshness check and the boundary read — a rewrite, external " +
            "delete, or vacuum raced this aggregate; re-run Manifest.create " +
            s"(cause: ${e.getMessage})")
    }
  }

  /** Resolve snapshot file references to readable literal paths: each file
    * at its recorded location, or — for HISTORICAL reads
    * (`useTrash = true`) — in the hidden `_graft_trash` dir where COW
    * mutations retain replaced originals until [[vacuum]]. A file in
    * neither place raises the typed stale error. One `listStatus` per
    * distinct parent dir plus at most one trash listing — O(directories)
    * driver RPCs, never per-file probes. Latest-snapshot scans stay
    * strict (`useTrash = false`): their files must be live, and trash
    * fallback would mask an external delete.
    */
  /** A file's path RELATIVE to its table root — the identity the retained
    * trash is keyed on: trash entries live at `_graft_trash/<relative>`,
    * which for a flat table is just the file name (the original layout)
    * and for a hive-partitioned table preserves the `k=v/` dirs, so
    * historical reads recover partition values from the trash path itself
    * and two partitions' same-named files never collide.
    */
  private[ops] def relativeTo(table: String, p: Path): String = {
    val root = new Path(table).toUri.getPath.stripSuffix("/")
    val abs = p.toUri.getPath
    if (abs.startsWith(root + "/")) abs.stripPrefix(root + "/") else p.getName
  }

  /** All retained-trash entries as table-relative paths (one recursive
    * listing; empty when no trash exists).
    */
  private def trashRelPaths(fs: org.apache.hadoop.fs.FileSystem,
                            table: String): Set[String] =
    FsMaint.listRelative(fs, trashDir(table))(_ => true).map(_._1).toSet

  private def resolveForRead(spark: SparkSession, table: String,
                             picked: Seq[String],
                             useTrash: Boolean): Seq[String] = {
    if (picked.isEmpty) return Nil
    val fs = fsOf(spark, table)
    lazy val trashRels: Set[String] = trashRelPaths(fs, table)
    val resolved = picked.map(decodePath).groupBy(_.getParent).toSeq.flatMap {
      case (parent, paths) =>
        val existing =
          try fs.listStatus(parent).map(_.getPath.getName).toSet
          catch { case _: java.io.FileNotFoundException => Set.empty[String] }
        paths.map { p =>
          if (existing(p.getName)) Right(p.toString)
          else if (useTrash && trashRels(relativeTo(table, p)))
            Right(new Path(trashDir(table), relativeTo(table, p)).toString)
          else Left(p.toString)
        }
    }
    val missing = resolved.collect { case Left(p) => p }
    if (missing.nonEmpty)
      throw new StaleManifestException(
        s"stale manifest under $table: ${missing.length} referenced file(s) no longer " +
          s"exist (first: ${missing.head}) — a layout rewrite, external delete, or " +
          "vacuum happened after the snapshot; re-run Manifest.create")
    resolved.collect { case Right(p) => p }
  }

  /** One restore-planner entry: the RAW manifest file entry, the file's
    * CURRENT location, and whether that location is the retained trash
    * (the branch that resolved it — an EXPLICIT flag, because re-deriving
    * membership from the resolved path's string prefix breaks on
    * scheme-qualified table paths: `Path.toString` keeps the scheme while
    * `toUri.getPath` strips it, so a `file:/`- or `s3a://`-rooted table
    * would never prefix-match and a restore would silently revive nothing).
    */
  private[ops] final case class ResolvedEntry(entry: String, resolved: String,
                                              inTrash: Boolean)

  /** Snapshot `id`'s RAW file entries paired with each file's CURRENT
    * location (live path, or its retained-trash home) — order-preserving,
    * unlike [[resolveForRead]]'s grouped output. The restore planner's
    * view: entry identity decides set membership, the `inTrash` flag
    * decides whether a revive copy is needed. Fails typed when a
    * referenced file is in neither place (vacuumed).
    */
  private[ops] def snapshotEntriesResolved(spark: SparkSession, table: String,
                                           id: Int): Seq[ResolvedEntry] = {
    require(hasSnapshot(spark, table, id),
      s"no snapshot-$id under $table — never created, or expired by retention")
    val entries = plannedPaths(
      snapshotDF(spark, table, id).select("file"),
      table, "restore planning")
    val fs = fsOf(spark, table)
    lazy val trashRels: Set[String] = trashRelPaths(fs, table)
    val resolved = Map.newBuilder[String, (String, Boolean)]
    entries.map(e => e -> decodePath(e)).groupBy(_._2.getParent).foreach {
      case (parent, es) =>
        val existing =
          try fs.listStatus(parent).map(_.getPath.getName).toSet
          catch { case _: java.io.FileNotFoundException => Set.empty[String] }
        es.foreach { case (e, p) =>
          if (existing(p.getName)) resolved += e -> (p.toString, false)
          else if (trashRels(relativeTo(table, p)))
            resolved += e ->
              (new Path(trashDir(table), relativeTo(table, p)).toString, true)
          else throw new StaleManifestException(
            s"snapshot-$id under $table references $p, which exists neither " +
              "live nor in the retained trash (vacuumed?) — the snapshot is " +
              "no longer restorable")
        }
    }
    val m = resolved.result()
    entries.map { e => val (r, t) = m(e); ResolvedEntry(e, r, t) }
  }

  /** Snapshot the table's current file-level stats for one or more key
    * columns (one `min_<c>`/`max_<c>` pair per column — multi-column stats
    * are what make a Z-ORDERED layout file-skippable on BOX predicates,
    * where single-column stats only serve 1-D ranges). Key columns must be
    * integral / date / timestamp (see the typing contract above; anything
    * else is rejected here rather than silently mis-pruning later). One
    * grouped scan; commit = one dir rename. Returns the new snapshot id.
    */
  def create(spark: SparkSession, table: String, keyCols: String*): Int =
    createTxn(spark, table, None, keyCols: _*)

  /** [[create]] carrying a writer-transaction record into the commit
    * (atomic with the publish — see [[commitSnapshot]]'s ledger note).
    */
  def createTxn(spark: SparkSession, table: String,
                txn: Option[(String, Long)], keyCols: String*): Int = {
    require(keyCols.nonEmpty, "need at least one key column")
    // Optimistic concurrency: observe the snapshot state BEFORE listing
    // files — a concurrent COW/rewrite commit invalidates this scan's
    // file set, and the commit CAS must see that as a moved base.
    val based = latestId(spark, table).getOrElse(0)
    // mergeSchema: a full create is the one path that already touches every
    // file, so pay the footer merge and record the UNION schema — a
    // footer-sampled schema of a mixed-schema (evolved) table would pin
    // whichever file Spark sampled.
    val data = spark.read.option("mergeSchema", "true").parquet(table)
    // Footers carry PHYSICAL names; the recorded schema is LOGICAL — remap
    // through the inherited rename map so a full re-profile never reverts
    // a renamed column.
    val phys = if (based > 0) physicalNames(spark, table, based) else Map.empty[String, String]
    commitSnapshot(spark, table, statsOf(data, keyCols),
      Some(toLogicalSchema(data.schema, phys)),
      basedOn = Some(based), txn = txn)
  }

  /** Create an EMPTY manifested table: snapshot-1 carries zero file rows,
    * the recorded schema, and the stats columns for `keyCols` — the
    * bootstrap for `CREATE TABLE` through the SQL catalog (data then
    * arrives via appends, each refreshed incrementally). Key-column types
    * are validated against `schema` NOW, so an unprofilable key fails at
    * CREATE time, not at first insert. Refuses a dir that already holds
    * data or a manifest (CREATE must not adopt foreign files silently).
    */
  def createEmpty(spark: SparkSession, table: String, schema: StructType,
                  keyCols: Seq[String]): Int = {
    require(keyCols.nonEmpty, "need at least one key column")
    keyCols.foreach { c =>
      require(schema.fieldNames.contains(c), s"no such column: $c")
      statCol(c, schema(c).dataType): Unit // type guard — throws on unsupported
    }
    val fs = fsOf(spark, table)
    val p = new Path(table)
    if (fs.exists(p)) {
      require(!FsMaint.hasDataFiles(fs, p),
        s"createEmpty($table): the directory already holds data files — " +
          "profile them with Manifest.create instead")
      require(latestId(spark, table).isEmpty,
        s"createEmpty($table): a manifest already exists")
    } else fs.mkdirs(p)
    val statSchema = StructType(
      StructField("file", StringType) +:
        keyCols.flatMap(c => Seq(
          StructField(s"min_$c", LongType), StructField(s"max_$c", LongType),
          StructField(s"cnt_$c", LongType))) :+
        StructField("n_rows", LongType) :+
        StructField("n_bytes", LongType))
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), statSchema)
    commitSnapshot(spark, table, empty, Some(schema), basedOn = Some(0))
  }

  /** [[create]] plus per-file BLOOM FILTERS on `bloomCols` (⊆ `keyCols`) —
    * the skipping index for POINT LOOKUPS on a key the layout is NOT
    * clustered by: min/max stats on such a key span ~the whole domain in
    * every file (nothing prunes), while a per-file bloom answers "this
    * file cannot contain key k" with zero data reads. The Delta/Iceberg
    * bloom-index idea on the same snapshot mechanism; blooms are built by
    * Spark's own distributed bloom aggregate (one grouped scan, same job
    * as the min/max stats — no extra pass) and probed by [[scanKeys]].
    *
    * Sizing: `numBits = optimal(expectedItemsPerFile, fpp)` — ~0.9 bytes
    * per expected key at 3% fpp (a 1M-key file costs ~900 KB of snapshot;
    * the snapshot stays metadata-sized relative to the data). A false
    * positive only costs a wasted file read — correctness rides the
    * residual predicate; a false NEGATIVE is impossible, which is the
    * property the oracle gate pins.
    */
  def createWithBloom(spark: SparkSession, table: String,
                      keyCols: Seq[String], bloomCols: Seq[String],
                      expectedItemsPerFile: Long = 100000L,
                      fpp: Double = 0.03): Int = {
    require(keyCols.nonEmpty, "need at least one key column")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1): $fpp")
    val based = latestId(spark, table).getOrElse(0)
    val data = spark.read.option("mergeSchema", "true").parquet(table)
    // A bloom column is either a key column (sketch over the normalized
    // long, composing with its min/max pre-filter) or a STRING column
    // (sketch over xxhash64 — strings carry no range stats, the sketch is
    // the ONLY skipping signal, which is exactly the UUID/URL lookup case).
    bloomCols.foreach { c =>
      require(keyCols.contains(c) ||
        data.schema.fieldNames.contains(c) && data.schema(c).dataType == StringType,
        s"bloom column `$c` must be a key column or a string column")
    }
    require(bloomCols.nonEmpty, "need at least one bloom column")
    val bits = BloomFilter.optimalNumOfBits(expectedItemsPerFile, fpp)
    val specs = bloomCols.map(c => BloomSpec(c, expectedItemsPerFile, bits))
    // Footers carry PHYSICAL names — remap to logical like createTxn, so a
    // re-profile with blooms never reverts a renamed column.
    val phys = if (based > 0) physicalNames(spark, table, based) else Map.empty[String, String]
    commitSnapshot(spark, table, statsOf(data, keyCols, specs),
      Some(toLogicalSchema(data.schema, phys)),
      basedOn = Some(based))
  }

  /** Per-file BLOOM FILTER config: `numBits` sized for
    * `estItems`-many distinct keys per file at the requested false-positive
    * rate. Bounded by Spark's own runtime-filter caps (4M items / 2^26
    * bits ≈ 8 MB — a per-file sketch past that should be a dictionary, not
    * a bloom).
    */
  private final case class BloomSpec(col: String, estItems: Long, numBits: Long)

  private def boundedBloom(estItems: Long, numBits: Long): (Long, Long) =
    (math.min(math.max(1L, estItems), 4000000L),
      math.min(math.max(64L, numBits), 1L << 26))

  /** Spark's own distributed bloom-sketch aggregate (the runtime-filter
    * builder) over the normalized long key — `putLong(raw)` per row,
    * probed driver/executor-side with `mightContainLong(raw)`. Returns
    * NULL for a group with zero non-null keys, which [[scanKeys]] treats
    * as prunable (a file with no non-null keys cannot match an equality).
    */
  private def bloomAgg(c: Column, spec: BloomSpec): Column = {
    val (items, bits) = boundedBloom(spec.estItems, spec.numBits)
    ColumnShim.column(new BloomFilterAggregate(
      ColumnShim.expression(c), Literal(items), Literal(bits))
      .toAggregateExpression())
  }

  /** The per-file stats frame for a data frame (type-guarded). */
  private def statsOf(data: DataFrame, keyCols: Seq[String],
                      blooms: Seq[BloomSpec] = Nil): DataFrame = {
    val schema = data.schema
    keyCols.foreach { c =>
      require(schema.fieldNames.contains(c), s"no such column: $c")
      statOrStringCol(c, schema(c).dataType): Unit // type guard — throws on unsupported
    }
    blooms.foreach(b => require(schema.fieldNames.contains(b.col),
      s"no such column: ${b.col}"))
    val aggs = keyCols.flatMap(c => Seq(
      min(statOrStringCol(c, schema(c).dataType)).as(s"min_$c"),
      max(statOrStringCol(c, schema(c).dataType)).as(s"max_$c"),
      // Non-null key count per file: [[countRange]]'s metadata count must
      // exclude NULL keys (they are outside every range, but n_rows would
      // count them).
      count(statOrStringCol(c, schema(c).dataType)).as(s"cnt_$c"))) ++
      blooms.map(b =>
        bloomAgg(bloomProbeCol(b.col, schema(b.col).dataType), b).as(s"bloom_${b.col}")) :+
      count(lit(1)).as("n_rows") :+
      // Exact byte length from the scan's own metadata (zero fs RPCs) —
      // what lets the SQL catalog plan scans from snapshot DESCRIPTORS
      // alone, without re-listing the filesystem (GraftDescriptorFileIndex;
      // parquet readers locate footers by length, so exactness matters).
      first(col("_metadata.file_size")).as("n_bytes")
    data.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.drop(1): _*)
  }

  /** Write `stats` as the next snapshot and commit it with one rename.
    * `dataSchema`, when given, is recorded as a `schema.json` sidecar
    * INSIDE the snapshot dir (so it commits atomically with the stats and
    * time travel sees the HISTORICAL schema) — the snapshot-pinned read
    * schema that makes additive evolution exact: a footer-sampled read of
    * a mixed-schema table surfaces whichever file's schema it sampled.
    */
  /** Claim lease in milliseconds: a `.claim` marker without its committed
    * snapshot dir that is OLDER than this is an orphan from a writer that
    * crashed between claim and rename, and may be healed by the next
    * committer. The window the lease guards contains NO Spark work (claim →
    * rename is two metadata operations), so 60 s is ~6 orders of magnitude
    * of margin; a `private[ops]` var only so specs can exercise the heal
    * without sleeping.
    */
  private[graft] var claimLeaseMs: Long = 60000L

  /** Test seam: runs between the basedOn freshness check and the claim CAS
    * (the optimistic-concurrency race window). Production no-op; specs use
    * it to interleave a competing commit deterministically.
    */
  private[graft] var commitInterleaveForTest: () => Unit = () => ()

  private def claimPath(table: String, id: Int) =
    new Path(root(table), s"snapshot-$id.claim")

  /** Atomically claim snapshot id `id` — the commit CAS
    * ([[FsMaint.atomicCreate]]: O_EXCL locally, exclusive namenode create
    * on HDFS). Returns false when the id is already claimed or committed —
    * the loser's signal to refuse its commit typed. Claim files are plain
    * files, so [[snapshotIds]]'s directory-only `snapshot-(\d+)` match
    * never sees them.
    */
  private def claimId(fs: org.apache.hadoop.fs.FileSystem,
                      table: String, id: Int): Boolean =
    FsMaint.atomicCreate(fs, claimPath(table, id))

  /** Write `stats` as the next snapshot under OPTIMISTIC CONCURRENCY: the
    * content is staged to a writer-unique tmp dir (the only expensive
    * step, conflict-free by construction), then the snapshot id is claimed
    * by an atomic-create CAS and published by one rename. `basedOn` is the
    * latest snapshot id the caller observed BEFORE computing `stats`
    * (0 = none existed): if the table's snapshot state moved, or the next
    * id is already claimed by a concurrent writer, the commit is REFUSED
    * with a typed [[ConcurrentCommitException]] and nothing is published —
    * the Delta/Iceberg commit contract (read version v, work, commit v+1
    * or fail) on the same Hadoop-FS primitives as the rest of the layer.
    * A claim whose writer crashed before its rename (claim present, dir
    * absent, older than [[claimLeaseMs]]) is healed in passing.
    */
  private def commitSnapshot(spark: SparkSession, table: String,
                             stats: DataFrame,
                             dataSchema: Option[StructType] = None,
                             basedOn: Option[Int] = None,
                             txn: Option[(String, Long)] = None,
                             physical: Option[Map[String, String]] = None,
                             dv: DvCarry = DvInherit): Int = {
    val fs = fsOf(spark, table)
    val tmp = s"${root(table)}/commit-" +
      s"${java.util.UUID.randomUUID().toString.take(12)}__tmp"
    stats.coalesce(1).write.mode("overwrite").parquet(tmp)
    dataSchema.foreach { sch =>
      val out = fs.create(new Path(tmp, "_schema.json"), true)
      try out.write(sch.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    // Deletion-vector carry, SEGMENTED: the sidecar is a LIST of immutable
    // segments in the shared `_dvseg/` pool, and the tiny `_dvlist` staged
    // here publishes atomically with the snapshot. Per-commit cost by
    // shape (the round-16 verdict's write-amplification fix):
    //   - inherit with no files removed (appends, txn records): the base's
    //     list carries VERBATIM — zero DV bytes read or written;
    //   - delta (a DV statement): the base's list plus ONE new segment
    //     holding this statement's positions — O(statement delta), never
    //     O(live deletes). Resolved against whatever base the commit lands
    //     on, so a rebase ([[commitDelta]]) composes concurrent growth;
    //   - inherit/delta with files removed (COW rewrite, fold, legacy
    //     `_dv/`-dir migration): surviving entries merge into ONE segment
    //     (empty ⇒ vector cleared) — O(live) is paid at the fold, by
    //     design.
    def stagedNames: DataFrame = spark.read.parquet(tmp)
      .select(element_at(split(col("file"), "/"), -1).as("file_name"))
    // Does the staged snapshot DROP any of the base's files? (limit-1
    // anti-join over two metadata-sized stats frames; only consulted when
    // the base carries a vector)
    def dropsFiles(b: Int): Boolean =
      snapshotDF(spark, table, b)
        .select(element_at(split(col("file"), "/"), -1).as("file_name"))
        .join(stagedNames, Seq("file_name"), "left_anti")
        .limit(1).count() > 0
    def survivors(b: Int): DataFrame =
      dvEntries(spark, table, b).get
        .join(stagedNames, Seq("file_name"), "left_semi")
    val baseId = basedOn.filter(_ > 0)
    // Segment writes tracked so the hygiene sweep below runs ONLY on
    // commits that touched the pool — a plain append's verbatim carry must
    // not pay an O(retained snapshots) reference scan.
    var wroteSeg = false
    def stageSeg(entries: DataFrame): Option[String] = {
      val r = writeDvSegment(spark, table, entries)
      if (r.isDefined) wroteSeg = true
      r
    }
    val segs: Seq[String] = dv match {
      case DvExplicit(entries) =>
        stageSeg(entries).toSeq
      case DvInherit =>
        baseId.filter(hasDv(spark, table, _)) match {
          case None => Nil
          case Some(b) =>
            val baseList = dvSegmentNames(fs, table, b)
            if (baseList.nonEmpty && !dropsFiles(b)) baseList
            else stageSeg(survivors(b)).toSeq
        }
      case DvDelta(delta) =>
        baseId.filter(hasDv(spark, table, _)) match {
          case None => stageSeg(delta).toSeq
          case Some(b) =>
            val baseList = dvSegmentNames(fs, table, b)
            // AUTO-FOLD past the threshold: a DV statement whose base
            // already lists `dvSegmentFoldThreshold` segments merges the
            // union into ONE fresh segment instead of appending — a
            // high-churn table can never build a thousand-segment list
            // (reads union every segment; the orphan sweep scans
            // references on segment-writing commits). The fold pays
            // O(live deletes) once per threshold statements — amortized
            // O(delta), the LSM posture. Appends/inherits stay verbatim
            // carries: only statements that touch the pool fold.
            if (baseList.nonEmpty && !dropsFiles(b) &&
                baseList.length < dvSegmentFoldThreshold)
              baseList ++ stageSeg(delta)
            else stageSeg(survivors(b).unionByName(delta)).toSeq
        }
    }
    if (segs.nonEmpty) {
      val out = fs.create(new Path(tmp, DvListName), true)
      try out.write(segs.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    // The logical→physical map INHERITS from the base snapshot unless the
    // commit overrides it (rename/drop) — a COW delete, compaction, or
    // incremental refresh must never silently revert renamed columns.
    val physMap = physical.getOrElse(basedOn.filter(_ > 0)
      .map(physicalNames(spark, table, _)).getOrElse(Map.empty))
    if (physMap.nonEmpty) {
      val json = physMap.toSeq.sortBy(_._1).map { case (l, p) =>
        s"${graft.util.JsonUtil.quote(l)}:${graft.util.JsonUtil.quote(p)}"
      }.mkString("{", ",", "}")
      val out = fs.create(new Path(tmp, "_physical.json"), true)
      try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    def refuse(why: String): Nothing = {
      FsMaint.deleteRecursively(fs, new Path(tmp))
      throw new ConcurrentCommitException(
        s"manifest commit on $table refused: $why — another writer " +
          "committed concurrently; nothing was published, re-run against " +
          "the table's current state")
    }
    // A LIVE table lock marks an open COW/rewrite swap window: a snapshot
    // committed from a listing taken mid-move could publish a state that
    // never logically existed (some doomed files gone, survivors not yet
    // landed) — and it would win the id the in-flight COW expects, leaving
    // a permanently wrong version in history. Only the window's OWN
    // recommit (the thread holding the lock) may commit.
    if (FsMaint.liveTableLock(fs, table) && !FsMaint.holdsTableLock(table))
      refuse("a COW/rewrite swap window is open on this table (commit " +
        "lock held by another writer)")
    val cur = latestId(spark, table).getOrElse(0)
    basedOn.foreach { b =>
      if (cur != b)
        refuse(s"snapshot state moved from $b to $cur while this writer " +
          "computed its stats")
    }
    val next = cur + 1
    val dest = s"${root(table)}/snapshot-$next"
    // Heal an orphan claim: present, its snapshot dir absent, past the
    // lease — the signature of a writer that died inside the claim→rename
    // window (which contains no Spark work, so the lease is generous).
    // The break is ATOMIC (rename to a tombstone): a plain delete could
    // land after a racing healer already re-claimed the id, silently
    // un-claiming a live writer and double-publishing the snapshot.
    val cp = claimPath(table, next)
    if (fs.exists(cp) && !fs.exists(new Path(dest)) &&
        System.currentTimeMillis() - fs.getFileStatus(cp).getModificationTime >
          claimLeaseMs)
      FsMaint.breakStale(fs, cp, java.util.UUID.randomUUID().toString.take(8))
    commitInterleaveForTest()
    if (!claimId(fs, table, next))
      refuse(s"snapshot-$next is already claimed by a concurrent writer")
    // Post-claim validation: hygiene deletes the claim of an
    // ALREADY-COMMITTED id, so winning the claim proves nothing when the
    // snapshot dir exists — and a moved latest means a whole commit
    // completed between this writer's basedOn check and its claim. Either
    // way: release, refuse. (Also keeps the local-FS rename — whose Hadoop
    // fallback can NEST a dir into an existing destination — away from an
    // occupied dest.)
    if (fs.exists(new Path(dest)) || latestId(spark, table).getOrElse(0) != cur) {
      fs.delete(cp, false)
      refuse(s"snapshot-$next was committed by a concurrent writer while " +
        "this writer claimed it")
    }
    // Record the commit instant EXPLICITLY (a marker inside the staged dir,
    // atomic with the publish rename): the snapshot dir's mtime is the
    // STAGING-completion time — rename does not update it, and mtime
    // semantics vary across object-store connectors — so TIMESTAMP AS OF
    // keyed on mtime could resolve to a snapshot not yet visible at the
    // queried wall-clock moment. Written microseconds before the rename, so
    // marker time <= visibility time always holds.
    val at = fs.create(new Path(tmp, CommittedAtName), true)
    try at.write(System.currentTimeMillis().toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally at.close()
    // Writer-transaction ledger, CARRIED FORWARD through every commit
    // (compactions, COW rewrites, schema evolutions included) and written
    // into the staged dir so it publishes ATOMICALLY with the snapshot —
    // the exactly-once handshake the streaming sink's batch dedup rides
    // (the Delta txnAppId/txnVersion idea on this commit mechanism). Only
    // the LATEST snapshot's ledger is consulted, so snapshot expiry never
    // forgets a committed batch.
    val txns = readTxns(fs, table, cur) ++ txn
    if (txns.nonEmpty) {
      val tf = fs.create(new Path(tmp, TxnsName), true)
      try tf.write(txns.toSeq.sortBy(_._1)
        .map { case (a, v) => s"$a\t$v" }.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally tf.close()
    }
    if (!fs.rename(new Path(tmp), new Path(dest))) {
      fs.delete(cp, false)
      throw new java.io.IOException(s"manifest commit failed: $dest")
    }
    // Hygiene: claims whose snapshot committed are garbage immediately
    // (writers targeting that id see the DIR first and never reach the
    // claim); orphan tmp dirs and break-tombstones (a healer that crashed
    // between rename and delete) only past the lease — a younger tmp may
    // be a LIVE concurrent writer still staging its content.
    fs.listStatus(new Path(root(table))).foreach { s =>
      val n = s.getPath.getName
      val aged =
        System.currentTimeMillis() - s.getModificationTime > claimLeaseMs
      if (n.endsWith(".claim") &&
          fs.exists(new Path(root(table), n.stripSuffix(".claim"))))
        fs.delete(s.getPath, false): Unit
      else if (n.contains(".claim.broken-") && aged)
        fs.delete(s.getPath, false): Unit
      else if (n.endsWith("__tmp") && aged)
        FsMaint.deleteRecursively(fs, s.getPath)
    }
    // Pool segments orphaned by refused/crashed DV commits (lease-aged —
    // a younger unreferenced segment may belong to a writer still
    // staging). Only segment-WRITING commits pay the reference scan;
    // carries and DV-free tables skip it entirely.
    if (wroteSeg) sweepDvSegments(spark, table, aged = true): Unit
    next
  }

  private val CommittedAtName = "_committed_at"

  private val TxnsName = "_txns"

  /** The writer-transaction ledger of snapshot `id` (app → highest
    * committed version). Empty for id 0 / absent ledger.
    */
  private def readTxns(fs: org.apache.hadoop.fs.FileSystem, table: String,
                       id: Int): Map[String, Long] = {
    val p = new Path(s"${root(table)}/snapshot-$id", TxnsName)
    if (id <= 0 || !fs.exists(p)) Map.empty
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).map { line =>
          val i = line.lastIndexOf('\t')
          line.substring(0, i) -> line.substring(i + 1).toLong
        }.toMap
      finally in.close()
    }
  }

  /** Highest committed writer-transaction version for `app` on this table
    * (the latest snapshot's ledger) — None when `app` never committed.
    * The streaming sink's replay check: a batch at or below this version
    * is already in the table.
    */
  def txnVersion(spark: SparkSession, table: String, app: String): Option[Long] =
    latestId(spark, table).flatMap(id =>
      readTxns(fsOf(spark, table), table, id).get(app))

  /** Record a writer transaction WITHOUT data movement: a metadata-only
    * commit carrying the latest snapshot's stats rows verbatim plus the
    * ledger entry — the adoption path for a crashed sink batch whose files
    * a foreign incremental snapshot already folded in.
    */
  private[ops] def recordTxn(spark: SparkSession, table: String,
                             app: String, version: Long): Int = {
    val id = latestId(spark, table).getOrElse(
      throw new IllegalStateException(s"no manifest snapshot under $table"))
    commitDelta(spark, table, id, Set.empty, None,
      txn = Some(app -> version))
  }

  /** Metadata-only commit growing the deletion vector by this statement's
    * NEW positions — the commit side of [[graft.ops.Layout.deleteRangeDV]]
    * and the row-level DV DML paths. Zero data files read or written; the
    * union with the base's existing entries happens INSIDE the commit
    * against whatever base it lands on, so a rebase onto a concurrent
    * winner composes both writers' deletes.
    */
  private[ops] def commitDv(spark: SparkSession, table: String,
                            basedOn: Int, delta: DataFrame): Int =
    commitDelta(spark, table, basedOn, Set.empty, None, dv = DvDelta(delta))

  /** Rebase budget of [[commitDelta]]: how many times a refused delta
    * commit may recompute against the moved head before giving up typed
    * (each rebase is metadata-sized — re-reading the head's stats rows),
    * and how long it may wait out an open COW swap window. `private[graft]
    * var` so concurrency specs can pin the fail-fast posture.
    */
  private[graft] var commitRebaseAttempts: Int = 6
  private[graft] var commitWaitMs: Long = 120000L

  /** Retry budget for FULL-REWRITE maintenance commits (compaction /
    * zorder / cluster re-profiles, [[restat]]/[[restatBloom]]): their stats
    * ARE the new table state, so there is no delta to rebase — instead the
    * whole (metadata-sized or one-narrow-scan) re-plan re-runs against the
    * moved head. Without this, a scheduled maintenance call racing a busy
    * lock-free committer refuses typed on every attempt and the CALLER
    * must loop (the Iceberg maintenance posture is recompute-and-retry).
    * `private[graft] var` so specs can pin the fail-fast posture.
    */
  private[graft] var maintenanceRetryAttempts: Int = 4

  /** Run `body` (a full-rewrite maintenance op that re-reads the table
    * head itself) under the bounded retry budget: a typed concurrent-commit
    * refusal re-plans by RE-RUNNING the body against the new head; the
    * refusal propagates only once the budget is exhausted. Each attempt
    * pays the body's own cost (one stats scan for restat, one re-profile
    * for a rewrite's refresh) — bounded by [[maintenanceRetryAttempts]].
    */
  private[graft] def withMaintenanceRetry[T](what: String)(body: => T): T = {
    var attempts = 0
    while (true) {
      try return body
      catch {
        case e: ConcurrentCommitException =>
          attempts += 1
          if (attempts > maintenanceRetryAttempts) throw e
          Thread.sleep(50L * attempts)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Commit a DELTA-SHAPED snapshot under ENGINE-LEVEL rebase-and-retry —
    * the Iceberg/Delta conflict-resolution posture on this commit
    * mechanism. The commit is expressed as its delta against snapshot
    * `basedOn`: `removed` stats rows dropped, `addedStats` rows appended,
    * plus optional txn ledger entry and DV carry. On the typed refusal
    * (a concurrent writer moved the head, or a swap window is open) the
    * loser does NOT propagate the failure: it re-reads the NEW head,
    * verifies its delta still applies — the files it removes still live,
    * the files it adds are not already referenced, schema/rename/stats
    * shape unchanged, and its DV delta's target files survived — and
    * re-commits the SAME delta rebased onto the winner's rows. Only a
    * TRUE overlap (the winner rewrote/removed/absorbed files this delta
    * touches) refuses typed, with the overlap named. Open swap windows
    * are waited out (bounded by [[commitWaitMs]]).
    *
    * What this buys at scale: a streaming sink's append, a scheduled
    * compaction's replace, and an ad-hoc DV DELETE can land concurrently
    * and ALL commit — disjoint file sets compose; genuine conflicts stay
    * loud. Full re-profiles ([[create]]) stay non-rebasing: their stats
    * ARE the table state, so a moved head makes them stale by definition.
    */
  private[ops] def commitDelta(spark: SparkSession, table: String,
                               basedOn: Int,
                               removed: Set[String],
                               addedStats: Option[DataFrame],
                               schema: Option[StructType] = None,
                               txn: Option[(String, Long)] = None,
                               dv: DvCarry = DvInherit,
                               physical: Option[Map[String, String]] = None): Int = {
    require(basedOn >= 1, s"commitDelta needs an existing base snapshot: $basedOn")
    // The added FILE PATHS are stable across rebases (parquet files are
    // immutable once staged) — collect them once, lazily, for validation.
    lazy val addedNames: Set[String] = addedStats.fold(Set.empty[String])(a =>
      plannedPaths(a.select("file"), table, "rebase validation").toSet)
    lazy val dvDeltaNames: Set[String] = dv match {
      case DvDelta(d) =>
        d.select("file_name").distinct().collect().map(_.getString(0)).toSet
      case _ => Set.empty
    }
    val schemaExplicit = schema.orElse(storedSchema(spark, table, basedOn))
    var base = basedOn
    var rebases = 0
    var delay = 50L
    val deadline = System.currentTimeMillis() + math.max(0L, commitWaitMs)
    while (true) {
      val baseRows = snapshotDF(spark, table, base)
      val kept =
        if (removed.isEmpty) baseRows
        else baseRows.filter(!col("file").isInCollection(removed.toSeq))
      val stats = addedStats.fold(kept)(a =>
        kept.unionByName(a, allowMissingColumns = true))
      try return commitSnapshot(spark, table, stats, schemaExplicit,
        basedOn = Some(base), txn = txn, physical = physical, dv = dv)
      catch {
        case e: ConcurrentCommitException =>
          val head = latestId(spark, table).getOrElse(0)
          if (head == base) {
            // A swap window is open (or a claim blip with no new head):
            // the holder's commit will move the head or close the window.
            // Wait CHEAPLY here — lock-probe polling, no Spark work — and
            // only re-enter the staging once the state moved; re-staging
            // per poll would burn one stats write (and, for DV deltas,
            // one orphan pool segment) per backoff tick.
            if (System.currentTimeMillis() >= deadline) throw e
            val fs = fsOf(spark, table)
            var waiting = true
            while (waiting) {
              Thread.sleep(delay)
              delay = math.min(delay * 2, 2000L)
              waiting = System.currentTimeMillis() < deadline &&
                latestId(spark, table).getOrElse(0) == base &&
                FsMaint.liveTableLock(fs, table) &&
                !FsMaint.holdsTableLock(table)
            }
            // Deadline expired with the holder still live and the head
            // unmoved: re-entering the staging would pay one full stats
            // write (and, for DV deltas, a fresh orphan pool segment) only
            // to be refused and rethrow here anyway — fail typed NOW.
            if (System.currentTimeMillis() >= deadline &&
                latestId(spark, table).getOrElse(0) == base &&
                FsMaint.liveTableLock(fs, table) &&
                !FsMaint.holdsTableLock(table)) throw e
          } else {
            rebases += 1
            if (rebases > commitRebaseAttempts) throw e
            rebaseConflict(spark, table, base, head, removed, addedNames,
              dvDeltaNames, dv).foreach { why =>
              throw new ConcurrentCommitException(
                s"manifest commit on $table refused: cannot rebase onto " +
                  s"snapshot-$head — $why; this is a TRUE conflict, re-run " +
                  "the operation against the table's current state")
            }
            base = head
          }
      }
    }
    throw new IllegalStateException("unreachable") // the loop returns or throws
  }

  /** Why a delta commit based on `base` canNOT rebase onto `head` — None
    * when the winner's writes are provably disjoint from this delta. The
    * checks, in cheapest-first order: recorded schema moved, rename map
    * moved, stats shape (key/bloom columns) moved, files this delta
    * removes were themselves removed/rewritten, files it adds are already
    * referenced (a concurrent full re-profile absorbed them — committing
    * would double-count), a DV delta's target files were rewritten (their
    * row positions are void), or — for a replace carrying DvInherit — the
    * winner grew the vector while this delta rewrote files (its staged
    * survivors were computed under the OLD vector: rows the winner deleted
    * would resurrect).
    */
  private[graft] def rebaseConflict(spark: SparkSession, table: String,
                                    base: Int, head: Int,
                                    removed: Set[String],
                                    addedNames: Set[String],
                                    dvDeltaNames: Set[String],
                                    dv: DvCarry): Option[String] = {
    if (storedSchema(spark, table, base) != storedSchema(spark, table, head))
      return Some("the concurrent commit changed the recorded schema")
    if (physicalNames(spark, table, base) != physicalNames(spark, table, head))
      return Some("the concurrent commit changed column physical names")
    val headRows = snapshotDF(spark, table, head)
    val baseCols = snapshotDF(spark, table, base)
      .schema.fieldNames.toSet
    if (headRows.schema.fieldNames.toSet != baseCols)
      return Some("the concurrent commit changed the stats columns " +
        "(key/bloom profile)")
    val headFiles = plannedPaths(headRows.select("file"), table,
      "rebase validation").toSet
    val goneRemoved = removed.filterNot(headFiles)
    if (goneRemoved.nonEmpty)
      return Some(s"${goneRemoved.size} file(s) this commit replaces were " +
        s"removed or rewritten concurrently (first: ${goneRemoved.head})")
    val dupAdded = addedNames.filter(headFiles)
    if (dupAdded.nonEmpty)
      return Some(s"${dupAdded.size} file(s) this commit adds are already " +
        s"referenced by the concurrent commit (first: ${dupAdded.head})")
    if (dvDeltaNames.nonEmpty) {
      val headNames = headFiles.map(p => decodePath(p).getName)
      val voided = dvDeltaNames.filterNot(headNames)
      if (voided.nonEmpty)
        return Some(s"the deletion-vector delta targets ${voided.size} " +
          s"file(s) the concurrent commit rewrote (first: ${voided.head}) — " +
          "their row positions are no longer valid")
    }
    dv match {
      case DvInherit if removed.nonEmpty &&
          !dvUnchangedFor(spark, table, base, head,
            removed.map(p => decodePath(p).getName)) =>
        // Only DV movement on files THIS commit removes/rewrites matters:
        // the staged survivors were computed under the old vector for
        // exactly those files, so a winner's delete there would resurrect
        // rows through the replacements. DV growth on DISJOINT files
        // carries forward untouched by the rebase (the kept stats rows and
        // inherited vector still cover them) — refusing on it would turn
        // e.g. a cold-file compaction racing a hot-file DV delete into a
        // spurious conflict.
        Some("the concurrent commit changed the deletion vector on files " +
          "this commit rewrote — the staged survivors were computed under " +
          "the old vector")
      case DvExplicit(_) =>
        Some("explicit deletion-vector carries (restore) do not rebase")
      case _ => None
    }
  }

  /** Is the deletion vector identical between two snapshots RESTRICTED to
    * entries targeting `fileNames`? Sidecars are metadata-sized (rows ∝
    * accumulated deletes), so the two-way except is a small job — and it
    * only runs on the rare replace-rebase path.
    */
  private def dvUnchangedFor(spark: SparkSession, table: String,
                             base: Int, head: Int,
                             fileNames: Set[String]): Boolean =
    dvUnchangedWhere(spark, table, base, head,
      df => df.filter(col("file_name").isInCollection(fileNames.toSeq)))

  /** Whole-vector identity — the fast-forward guard's shape. */
  private def dvUnchanged(spark: SparkSession, table: String,
                          base: Int, head: Int): Boolean =
    dvUnchangedWhere(spark, table, base, head, identity)

  private def dvUnchangedWhere(spark: SparkSession, table: String,
                               base: Int, head: Int,
                               restrict: DataFrame => DataFrame): Boolean = {
    (dvEntries(spark, table, base), dvEntries(spark, table, head)) match {
      case (None, None) => true
      case (Some(a0), Some(b0)) =>
        val (a, b) = (restrict(a0), restrict(b0))
        b.exceptAll(a).isEmpty && a.exceptAll(b).isEmpty
      case (None, Some(b0)) => restrict(b0).isEmpty
      case (Some(a0), None) => restrict(a0).isEmpty
    }
  }

  /** The PUBLISH instant of snapshot `id` (epoch millis): the explicit
    * `_committed_at` marker written just before the publish rename, falling
    * back to the snapshot dir's mtime for snapshots that predate the marker
    * (where mtime = staging time, the best evidence available).
    */
  private[ops] def commitTimeOf(fs: org.apache.hadoop.fs.FileSystem,
                                table: String, id: Int): Long = {
    val dir = new Path(s"${root(table)}/snapshot-$id")
    val marker = new Path(dir, CommittedAtName)
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      finally in.close()
    } else fs.getFileStatus(dir).getModificationTime
  }

  /** The schema recorded with snapshot `id` — None for snapshots that
    * predate schema recording (reads then fall back to footer sampling,
    * the pre-evolution behavior).
    */
  def storedSchema(spark: SparkSession, table: String, id: Int): Option[StructType] = {
    val fs = fsOf(spark, table)
    val p = new Path(s"${root(table)}/snapshot-$id/_schema.json")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val bytes = try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](8192)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        buf.toByteArray
      } finally in.close()
      Some(DataType.fromJson(
        new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
        .asInstanceOf[StructType])
    }
  }

  /** Is `from` → `to` a lossless WIDENING the parquet readers perform at
    * decode time (SPARK-40876: integral upcasts, float→double)? The set is
    * deliberately the reader-supported one — admitting anything else would
    * make every pinned-schema read of old files throw.
    */
  private[ops] def isWidening(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }

  /** IN-PLACE schema evolution beyond additive appends: COLUMN DROP and
    * TYPE WIDENING without a table rewrite — the Delta/Iceberg metadata-only
    * `ALTER TABLE` shape. Validates every transition against the CURRENT
    * recorded schema and commits a new snapshot carrying the latest
    * snapshot's stats rows VERBATIM with the new schema (zero data reads,
    * zero data writes — pure metadata, one commit):
    *
    *   - drop: a recorded column absent from `newSchema`. Old files keep the
    *     bytes; pinned-schema reads project it away. Dropping a stats KEY
    *     column is rejected (the snapshot's min/max/bloom stats — and any
    *     scan residual — are keyed on it).
    *   - widen: integral upcasts and float→double ([[isWidening]] — exactly
    *     what the parquet readers decode losslessly from narrow files).
    *   - add: new columns must be nullable (absent in every existing file).
    *
    * Anything else (narrowing, string→int, …) fails typed — nothing
    * commits. Time travel is unaffected: each snapshot keeps its OWN
    * recorded schema, so as-of reads before the evolution see the old
    * shape. Returns the new snapshot id.
    */
  def updateSchema(spark: SparkSession, table: String,
                   newSchema: StructType): Int = {
    val id = latestId(spark, table).getOrElse(
      throw new IllegalStateException(s"no manifest snapshot under $table"))
    val old = storedSchema(spark, table, id).getOrElse(
      throw new IllegalStateException(
        s"snapshot-$id under $table predates schema recording — run " +
          "Manifest.create once to record a schema before evolving it"))
    val oldByName = old.fields.map(f => f.name -> f).toMap
    val keys = keyColsOf(spark, table, id)
    val physMap = physicalNames(spark, table, id)
    newSchema.fields.foreach { f =>
      oldByName.get(f.name) match {
        case Some(o) if o.dataType == f.dataType => ()
        case Some(o) if isWidening(o.dataType, f.dataType) => ()
        case Some(o) => throw new IllegalArgumentException(
          s"schema evolution on `${f.name}`: ${o.dataType.simpleString} -> " +
            s"${f.dataType.simpleString} is not a supported widening " +
            "(integral upcasts and float->double only); a narrowing or " +
            "type change needs a full rewrite")
        case None =>
          if (!f.nullable) throw new IllegalArgumentException(
            s"added column `${f.name}` must be nullable — it is absent " +
              "from every existing file and reads as NULL")
          // The rename map can hold a LIVE physical name differing from
          // every logical name: adding a logical column named like another
          // column's physical storage would make toPhysicalSchema emit two
          // identical fields — every later pinned read and physical write
          // of this snapshot would fail on the duplicate. Refuse NOW.
          physMap.find { case (l, p) => l != f.name && p == f.name }
            .foreach { case (l, _) => throw new IllegalArgumentException(
              s"cannot add `${f.name}`: column `$l` is physically stored " +
                s"under that name (Manifest.renameColumn) — pick another name") }
      }
    }
    val dropped = old.fields.map(_.name).filterNot(n =>
      newSchema.fields.exists(_.name == n))
    dropped.find(keys.contains).foreach { k =>
      throw new IllegalArgumentException(
        s"cannot drop `$k`: it is a manifest stats key column " +
          s"(${keys.mkString(", ")}) — re-profile the table first")
    }
    // Bloom columns are index-bearing too (a string bloom column is NOT a
    // stats key): dropping one would leave sketches probing a column the
    // pinned read schema no longer surfaces.
    val bloomCols = snapshotDF(spark, table, id)
      .schema.fieldNames.toSeq.collect { case f if f.startsWith("bloom_") => f.drop(6) }
    dropped.find(bloomCols.contains).foreach { k =>
      throw new IllegalArgumentException(
        s"cannot drop `$k`: the snapshot carries a bloom index on it " +
          s"(${bloomCols.mkString(", ")}) — re-profile without the bloom first")
    }
    // Metadata-only commit: the latest snapshot's stats rows carried
    // verbatim (parquet files untouched), new schema recorded alongside.
    // The rename map drops entries for dropped columns (their physical
    // bytes stay in old files, projected away like any dropped column).
    commitSnapshot(spark, table,
      snapshotDF(spark, table, id), Some(newSchema),
      basedOn = Some(id),
      physical = Some(physMap
        .filter { case (l, _) => newSchema.fieldNames.contains(l) }))
  }

  // ---- column RENAME: logical→physical name indirection ------------------
  // `_physical.json` per snapshot holds {logicalName: physicalName} for
  // fields whose on-disk (file footer) name differs from the recorded
  // logical name. RENAME COLUMN is thereby METADATA-ONLY: data files keep
  // the original physical column name forever (one physical schema per
  // table — writes translate logical→physical at the file boundary,
  // [[graft.ops.Layout]]), reads pin the physical schema and alias back to
  // the snapshot's own logical names. The same indirection Iceberg gets
  // from field ids, realized as a name map because this format enforces a
  // single physical schema. Maps inherit across commits ([[commitSnapshot]]
  // carries the base snapshot's map unless a commit overrides it), so COW
  // deletes/merges/compactions and incremental refreshes preserve renames.

  /** Snapshot `id`'s logical→physical field-name map (empty = identity). */
  def physicalNames(spark: SparkSession, table: String,
                    id: Int): Map[String, String] = {
    val fs = fsOf(spark, table)
    val p = new Path(s"${root(table)}/snapshot-$id/_physical.json")
    if (!fs.exists(p)) Map.empty
    else {
      val in = fs.open(p)
      val bytes = try in.readAllBytes() finally in.close()
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
      val b = Map.newBuilder[String, String]
      node.properties().forEach(e => b += e.getKey -> e.getValue.asText())
      b.result()
    }
  }

  /** The LATEST snapshot's logical→physical map (empty when no renames). */
  def currentPhysicalNames(spark: SparkSession, table: String): Map[String, String] =
    latestId(spark, table).map(physicalNames(spark, table, _)).getOrElse(Map.empty)

  /** Rename a schema's fields logical→physical (identity for unmapped). */
  private[graft] def toPhysicalSchema(s: StructType,
                                      m: Map[String, String]): StructType =
    if (m.isEmpty) s
    else StructType(s.fields.map(f => f.copy(name = m.getOrElse(f.name, f.name))))

  /** Rename a schema's fields physical→logical (identity for unmapped). */
  private[graft] def toLogicalSchema(s: StructType,
                                     m: Map[String, String]): StructType =
    if (m.isEmpty) s
    else {
      val inv = m.map(_.swap)
      StructType(s.fields.map(f => f.copy(name = inv.getOrElse(f.name, f.name))))
    }

  /** METADATA-ONLY column rename: commits a new snapshot with the latest
    * snapshot's stats rows verbatim, the renamed logical schema, and the
    * updated physical map — zero data files read or written. Time travel
    * is unaffected (each snapshot keeps its OWN recorded names). Stats key
    * columns, bloom-indexed columns, and hive partition columns are
    * refused (their physical identities are load-bearing in the manifest
    * stats / directory layout). Returns the new snapshot id.
    */
  def renameColumn(spark: SparkSession, table: String,
                   from: String, to: String): Int = {
    val id = latestId(spark, table).getOrElse(
      throw new IllegalStateException(s"no manifest snapshot under $table"))
    val old = storedSchema(spark, table, id).getOrElse(
      throw new IllegalStateException(
        s"snapshot-$id under $table predates schema recording — run " +
          "Manifest.create once to record a schema before renaming"))
    require(to.nonEmpty && to != from, s"invalid rename target `$to`")
    require(old.fieldNames.contains(from), s"no such column: $from")
    require(!old.fieldNames.contains(to), s"column `$to` already exists")
    val keys = keyColsOf(spark, table, id)
    require(!keys.contains(from),
      s"cannot rename `$from`: it is a manifest stats key column " +
        s"(${keys.mkString(", ")}) — re-profile the table first")
    val bloomCols = snapshotDF(spark, table, id)
      .schema.fieldNames.toSeq.collect { case f if f.startsWith("bloom_") => f.drop(6) }
    require(!bloomCols.contains(from),
      s"cannot rename `$from`: the snapshot carries a bloom index on it")
    val fs = fsOf(spark, table)
    // The WHOLE k=v chain (multi-level partitioning descends k1=a/k2=b),
    // not just the top level — a second-level partition column's directory
    // names are its physical identity exactly like the first's.
    val partCols = graft.ops.Layout.partitionColsFromDirs(fs, table).toSet
    require(!partCols(from),
      s"cannot rename `$from`: it is a hive partition column (directory " +
        "names are its physical identity)")
    val prevMap = physicalNames(spark, table, id)
    // `to` must not shadow another column's PHYSICAL storage name either —
    // toPhysicalSchema would emit duplicate fields (same trap as ADD
    // COLUMN onto a renamed column's physical name).
    prevMap.find { case (l, p) => l != from && p == to }.foreach { case (l, _) =>
      throw new IllegalArgumentException(
        s"cannot rename `$from` to `$to`: column `$l` is physically stored " +
          s"under `$to` — pick another name")
    }
    val newMap = ((prevMap - from) + (to -> prevMap.getOrElse(from, from)))
      .filter { case (l, p) => l != p }
    val newSchema = StructType(old.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    commitSnapshot(spark, table,
      snapshotDF(spark, table, id), Some(newSchema),
      basedOn = Some(id), physical = Some(newMap))
  }

  // ---- DELETION VECTORS: merge-on-read position deletes -------------------
  // A snapshot may carry a `_dv/` sidecar (parquet: file_name STRING,
  // pos LONG) of row positions DELETED from its data files — the
  // Iceberg/Delta position-delete idea on this format. A DV delete
  // ([[graft.ops.Layout.deleteRangeDV]]) rewrites ZERO data files: it
  // commits the carried stats rows plus the grown sidecar, and every read
  // surface anti-joins the sidecar on (file name, `_metadata.row_index`).
  // Entries are keyed by file NAME (write-unique per table), so they stay
  // valid when a file is resolved through the retained trash. Sidecars
  // INHERIT across commits restricted to the files each new snapshot still
  // references (a COW rewrite of a file physically folds its deletes, so
  // its entries drop); compaction reads apply DVs and therefore FOLD them.
  // Stats stay conservative: min/max are still valid bounds; `n_rows` /
  // `cnt_<c>` count PHYSICAL rows, so metadata-only counts route through
  // the scan path on DV-bearing snapshots.

  private[ops] val DvDirName = "_dv"
  private[ops] val DvSegDirName = "_dvseg"
  private[ops] val DvListName = "_dvlist"

  /** Segment-count fold trigger: once a snapshot's `_dvlist` reaches this
    * many segments, the NEXT DV statement folds the union into one fresh
    * segment instead of appending (see the [[commitSnapshot]] DvDelta
    * branch). `private[graft] var` so specs exercise the fold without a
    * threshold's worth of statements.
    */
  private[graft] var dvSegmentFoldThreshold: Int = 32

  /** The parquet paths making up snapshot `id`'s deletion vector — Nil
    * when it has none. SEGMENTED layout: the snapshot dir carries a tiny
    * `_dvlist` text file naming immutable segment dirs under the shared
    * `_graft_manifest/_dvseg/` pool (a DV statement appends ONE new
    * segment — O(statement delta) — and inherit-carries copy the list
    * verbatim at zero DV I/O; folds merge the union back into one
    * segment). Snapshots that predate segmentation carry a physical
    * `snapshot-<id>/_dv/` dir instead — still served, first match wins.
    */
  def dvPaths(spark: SparkSession, table: String, id: Int): Seq[String] = {
    val fs = fsOf(spark, table)
    val legacy = new Path(s"${root(table)}/snapshot-$id/$DvDirName")
    if (fs.exists(legacy)) Seq(legacy.toString)
    else dvSegmentNames(fs, table, id)
      .map(n => s"${root(table)}/$DvSegDirName/$n")
  }

  /** Segment dir names listed by snapshot `id`'s `_dvlist` (Nil when the
    * snapshot has no list — including legacy `_dv/`-dir snapshots, whose
    * entries cannot be carried by reference: their segment lives INSIDE a
    * snapshot dir that retention may expire).
    */
  private def dvSegmentNames(fs: org.apache.hadoop.fs.FileSystem,
                             table: String, id: Int): Seq[String] =
    readDvList(fs, new Path(s"${root(table)}/snapshot-$id/$DvListName"))

  /** Parse one `_dvlist` file (published snapshot or staged tmp) — the
    * single decoder, so the sweep's reference scan can never diverge from
    * what reads resolve.
    */
  private def readDvList(fs: org.apache.hadoop.fs.FileSystem,
                         p: Path): Seq[String] =
    if (!fs.exists(p)) Nil
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).toList
      finally in.close()
    }

  /** Does snapshot `id` carry a deletion-vector sidecar? (fs probes only) */
  def hasDv(spark: SparkSession, table: String, id: Int): Boolean =
    dvPaths(spark, table, id).nonEmpty

  /** Snapshot `id`'s position-delete entries, or None when it has none —
    * the union read of its segments (one parquet read; segments are
    * metadata-sized).
    */
  def dvEntries(spark: SparkSession, table: String, id: Int): Option[DataFrame] = {
    val paths = dvPaths(spark, table, id)
    if (paths.isEmpty) None else Some(spark.read.parquet(paths: _*))
  }

  /** The LATEST snapshot's deletion vector, or None. */
  def currentDv(spark: SparkSession, table: String): Option[DataFrame] =
    latestId(spark, table).flatMap(dvEntries(spark, table, _))

  /** The sidecar parquet paths of snapshot `id`'s deletion vector, or
    * None — what the SQL catalog threads into the tables it serves so the
    * read rewrite rule ([[graft.sources]]) can scan them as ordinary
    * parquet for the anti-join (probes here, zero per-query probes later).
    */
  def dvPathsOf(spark: SparkSession, table: String, id: Int): Option[Seq[String]] = {
    val p = dvPaths(spark, table, id)
    if (p.isEmpty) None else Some(p)
  }

  /** Stage `entries` as ONE new immutable segment in the shared pool;
    * None when empty (an empty segment would flag every read into a
    * pointless anti-join). Written BEFORE the commit CAS — unreferenced
    * until some snapshot's `_dvlist` publishes, so a refused/crashed
    * commit leaves only an orphan segment, swept lease-aged by
    * [[sweepDvSegments]].
    */
  private def writeDvSegment(spark: SparkSession, table: String,
                             entries: DataFrame): Option[String] =
    if (entries.isEmpty) None
    else {
      val name = s"seg-${java.util.UUID.randomUUID().toString.take(12)}"
      entries.coalesce(1).write.mode("overwrite")
        .parquet(s"${root(table)}/$DvSegDirName/$name")
      Some(name)
    }

  /** Delete pool segments no live snapshot (or live staged commit)
    * references. `aged = true` (every current caller) restricts to
    * segments past the claim lease: a younger unreferenced segment may
    * belong to a concurrent writer that wrote it milliseconds before its
    * staged `_dvlist` landed — so a segment freshly orphaned by snapshot
    * expiry lingers AT MOST one lease before the next sweep reclaims it,
    * the deliberate safety-over-promptness trade. Returns segments
    * deleted.
    */
  private def sweepDvSegments(spark: SparkSession, table: String,
                              aged: Boolean): Int = {
    val fs = fsOf(spark, table)
    val pool = new Path(s"${root(table)}/$DvSegDirName")
    if (!fs.exists(pool)) return 0
    val referenced: Set[String] =
      (snapshotIds(spark, table).flatMap(dvSegmentNames(fs, table, _)) ++
        // A staged commit's _dvlist references segments before publish.
        fs.listStatus(new Path(root(table))).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.endsWith("__tmp"))
          .flatMap(s => readDvList(fs, new Path(s.getPath, DvListName)))
      ).toSet
    var n = 0
    fs.listStatus(pool).foreach { s =>
      val old = !aged ||
        System.currentTimeMillis() - s.getModificationTime > claimLeaseMs
      if (s.isDirectory && !referenced(s.getPath.getName) && old) {
        FsMaint.deleteRecursively(fs, s.getPath)
        n += 1
      }
    }
    n
  }

  /** The file-name column of a data-file read (last path segment of the
    * parquet `_metadata.file_path`) — the identity DV entries join on.
    */
  private[graft] def dvFileName: Column =
    element_at(split(col("_metadata.file_path"), "/"), -1)

  /** Apply a deletion vector to a frame read DIRECTLY from data files
    * (must sit immediately above the file scan — `_metadata` does not
    * survive unions or projections): anti-join on (file name, row
    * position). The sidecar scan is the ONLY extra work a DV read adds;
    * Spark broadcasts it when small.
    */
  private[graft] def applyDv(df: DataFrame, dv: Option[DataFrame]): DataFrame =
    dv.fold(df)(joinDv(df, _, keep = false))

  /** The (file name, row position) join under [[applyDv]] — `keep = true`
    * inverts it (left_semi) to read exactly the DELETED rows, the change
    * feed's view of a DV-only commit.
    */
  private[graft] def joinDv(df: DataFrame, entries: DataFrame,
                            keep: Boolean): DataFrame = {
    // Materialize the left side's (file name, position) BEFORE the join:
    // the sidecar is itself a parquet read, so an unqualified `_metadata`
    // in the join condition would be ambiguous.
    val withId = df.withColumn("__dv_fn", dvFileName)
      .withColumn("__dv_pos", col("_metadata.row_index"))
    val e = entries.select(col("file_name").as("__dv_efn"),
      col("pos").as("__dv_epos"))
    withId.join(e, col("__dv_fn") === col("__dv_efn") &&
        col("__dv_pos") === col("__dv_epos"),
      if (keep) "left_semi" else "left_anti")
      .drop("__dv_fn", "__dv_pos")
  }

  /** How a commit carries the deletion vector forward. */
  private[graft] sealed trait DvCarry
  /** Inherit the base snapshot's entries, restricted to files the new
    * snapshot still references (the default — rewritten files fold).
    */
  private[graft] case object DvInherit extends DvCarry
  /** Publish exactly these entries (a restore's historical sidecar). */
  private[ops] final case class DvExplicit(entries: DataFrame) extends DvCarry
  /** GROW the base's vector by these NEW (file_name, pos) entries — the
    * delta shape every DV statement commits (deleteRangeDV, row-level DV
    * MERGE/DELETE): resolved against the commit's actual base, so a rebase
    * onto a concurrent winner composes both writers' growth.
    */
  private[ops] final case class DvDelta(entries: DataFrame) extends DvCarry

  /** STATS EVOLUTION — add min/max/count stats columns to an EXISTING
    * manifest without re-creating it (the `ALTER`-shape the round-16
    * verdict asked for): one scan reading ONLY the new columns (column
    * pruning keeps it narrow — parquet never decodes the rest), one
    * metadata commit joining the fresh per-file stats onto the carried
    * rows. After it, range predicates on the new columns prune files
    * ([[scanRange]]/[[scanBox]]), keyed mutations may target on them
    * ([[currentKeyCols]] derives from the stats columns), and every
    * incremental refresh carries them forward. Typed refusals: unknown
    * column, already-covered column, non-normalizable type (same guard as
    * [[create]] — silent NULL stats would prune every file). Concurrent
    * commits refuse typed (every stats row changes — no delta to rebase);
    * DV-bearing tables are fine (bounds cover deleted rows — supersets
    * never un-prune live ones). Returns the new snapshot id.
    */
  def restat(spark: SparkSession, table: String, cols: String*): Int = {
    require(cols.nonEmpty, "restat needs at least one column")
    // Full-shape commit (every stats row changes): a concurrent commit
    // refuses the CAS — re-plan against the new head, bounded.
    withMaintenanceRetry("restat") { restatOnce(spark, table, cols) }
  }

  private def restatOnce(spark: SparkSession, table: String,
                         cols: Seq[String]): Int = {
    val id = latestId(spark, table).getOrElse(
      throw new IllegalStateException(s"no manifest snapshot under $table"))
    val have = keyColsOf(spark, table, id)
    val phys = physicalNames(spark, table, id)
    val physCols = cols.map(c => phys.getOrElse(c, c))
    physCols.foreach(c => require(!have.contains(c),
      s"column `$c` already carries stats (has: ${have.mkString(", ")})"))
    // Stats-targeted mutation contract: the stats rows must describe
    // EXACTLY the current files, or joined stats would miss files — which
    // also makes the direct dir read below scan precisely the snapshot's
    // files (the same read shape [[create]] profiles).
    requireComplete(spark, table)
    val data = spark.read.option("mergeSchema", "true").parquet(table)
    physCols.foreach { c =>
      require(data.schema.fieldNames.contains(c), s"no such column: $c")
      statOrStringCol(c, data.schema(c).dataType): Unit // type guard — throws
    }
    val aggs = physCols.flatMap(c => Seq(
      min(statOrStringCol(c, data.schema(c).dataType)).as(s"min_$c"),
      max(statOrStringCol(c, data.schema(c).dataType)).as(s"max_$c"),
      count(statOrStringCol(c, data.schema(c).dataType)).as(s"cnt_$c"))) :+
      count(lit(1)).as("__restat_rows")
    val fresh = data.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.drop(1): _*)
    // LEFT join + typed check: an inner join would silently DROP any
    // referenced file that produced no groupBy(input_file_name) row (e.g. a
    // zero-row parquet file), un-referencing it and tripping every later
    // requireComplete. The marker count is never NULL on a matched row, so
    // NULL ⇔ the file went unseen by the scan.
    val stats = snapshotDF(spark, table, id)
      .join(fresh, Seq("file"), "left")
    val unseen = stats.filter(col("__restat_rows").isNull)
      .select("file").limit(3).collect().map(_.getString(0))
    require(unseen.isEmpty,
      s"restat scan produced no rows for ${unseen.length}+ referenced " +
        s"file(s) (first: ${unseen.headOption.getOrElse("")}) — zero-row " +
        "files cannot carry column stats; compact the table first")
    commitSnapshot(spark, table, stats.drop("__restat_rows"),
      storedSchema(spark, table, id), basedOn = Some(id))
  }

  /** [[restat]] for POINT-lookup skipping: add per-file BLOOM sketches
    * for more columns to an existing manifest — same one-narrow-scan +
    * one-metadata-commit shape. A bloom column is either an existing
    * stats key (sketch over the normalized long, composing with its
    * min/max pre-filter) or a STRING column (sketch over xxhash64 — the
    * UUID/URL lookup case where no range stats exist and the sketch is
    * the only skipping signal). Bit width follows the snapshot's existing
    * sketches when any (the uniform-width contract incremental refreshes
    * and rewrites rebuild under), else the requested parameters.
    * [[scanKeys]]/[[scanKeysString]] probe the new sketches immediately.
    */
  def restatBloom(spark: SparkSession, table: String, cols: Seq[String],
                  expectedItemsPerFile: Long = 100000L,
                  fpp: Double = 0.03): Int = {
    require(cols.nonEmpty, "need at least one column")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1): $fpp")
    withMaintenanceRetry("restat_bloom") {
      restatBloomOnce(spark, table, cols, expectedItemsPerFile, fpp)
    }
  }

  private def restatBloomOnce(spark: SparkSession, table: String,
                              cols: Seq[String], expectedItemsPerFile: Long,
                              fpp: Double): Int = {
    val id = latestId(spark, table).getOrElse(
      throw new IllegalStateException(s"no manifest snapshot under $table"))
    val snap = snapshotDF(spark, table, id)
    val haveBloom = snap.schema.fieldNames.toSeq.collect {
      case f if f.startsWith("bloom_") => f.drop(6) }
    val haveKeys = keyColsOf(spark, table, id)
    val phys = physicalNames(spark, table, id)
    val physCols = cols.map(c => phys.getOrElse(c, c))
    physCols.foreach(c => require(!haveBloom.contains(c),
      s"column `$c` already carries a bloom sketch"))
    requireComplete(spark, table)
    val data = spark.read.option("mergeSchema", "true").parquet(table)
    physCols.foreach { c =>
      require(data.schema.fieldNames.contains(c), s"no such column: $c")
      require(haveKeys.contains(c) || data.schema(c).dataType == StringType,
        s"bloom column `$c` must be a stats key column or a string column")
    }
    val bits = bloomBitsOf(snap, haveBloom).getOrElse(
      BloomFilter.optimalNumOfBits(expectedItemsPerFile, fpp))
    val items =
      if (haveBloom.nonEmpty) math.max(1L, bits / 7) else expectedItemsPerFile
    val specs = physCols.map(c => BloomSpec(c, items, bits))
    val aggs = specs.map(b =>
      bloomAgg(bloomProbeCol(b.col, data.schema(b.col).dataType), b)
        .as(s"bloom_${b.col}")) :+ count(lit(1)).as("__restat_rows")
    val fresh = data.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.drop(1): _*)
    // Same left-join + typed-check contract as [[restat]]: never silently
    // un-reference a file the scan produced no rows for.
    val stats = snap.join(fresh, Seq("file"), "left")
    val unseen = stats.filter(col("__restat_rows").isNull)
      .select("file").limit(3).collect().map(_.getString(0))
    require(unseen.isEmpty,
      s"restat_bloom scan produced no rows for ${unseen.length}+ referenced " +
        s"file(s) (first: ${unseen.headOption.getOrElse("")}) — zero-row " +
        "files cannot carry bloom sketches; compact the table first")
    commitSnapshot(spark, table, stats.drop("__restat_rows"),
      storedSchema(spark, table, id), basedOn = Some(id))
  }

  /** [[updateSchema]] convenience: drop one column. */
  def dropColumn(spark: SparkSession, table: String, column: String): Int = {
    val id = latestId(spark, table).getOrElse(
      throw new IllegalStateException(s"no manifest snapshot under $table"))
    val old = storedSchema(spark, table, id).getOrElse(
      throw new IllegalStateException(s"snapshot-$id has no recorded schema"))
    require(old.fieldNames.contains(column), s"no such column: $column")
    updateSchema(spark, table, StructType(old.fields.filterNot(_.name == column)))
  }

  /** [[updateSchema]] convenience: widen one column's type. */
  def widenColumn(spark: SparkSession, table: String, column: String,
                  to: DataType): Int = {
    val id = latestId(spark, table).getOrElse(
      throw new IllegalStateException(s"no manifest snapshot under $table"))
    val old = storedSchema(spark, table, id).getOrElse(
      throw new IllegalStateException(s"snapshot-$id has no recorded schema"))
    require(old.fieldNames.contains(column), s"no such column: $column")
    updateSchema(spark, table, StructType(old.fields.map(f =>
      if (f.name == column) f.copy(dataType = to) else f)))
  }

  /** ADDITIVE schema merge: `newer` may append nullable columns; a column
    * present in both must keep its exact type OR differ by a reader-safe
    * WIDENING ([[isWidening]], either direction — the merged schema takes
    * the wider type, which every file decodes losslessly). Any other type
    * change fails typed here (silently coercing would corrupt the pinned
    * read schema for every old file). This is the evolution contract
    * appends are held to; drops/explicit widens go through [[updateSchema]].
    */
  private[ops] def mergeAdditive(old: StructType, newer: StructType): StructType = {
    val newByName = newer.fields.map(f => f.name -> f).toMap
    val kept = old.fields.map { o =>
      newByName.get(o.name) match {
        case None => o
        case Some(f) if o.dataType == f.dataType => o
        case Some(f) if isWidening(f.dataType, o.dataType) => o // narrow append
        case Some(f) if isWidening(o.dataType, f.dataType) =>
          o.copy(dataType = f.dataType) // wide append auto-widens the record
        case Some(f) => throw new IllegalStateException(
          s"schema evolution on column `${o.name}` changes its type " +
            s"(${o.dataType.simpleString} -> ${f.dataType.simpleString}) — only " +
            "ADDITIVE evolution (new nullable columns, widening upcasts) is " +
            "supported; other type changes need a full table rewrite")
      }
    }
    val oldNames = old.fields.map(_.name).toSet
    val added = newer.fields.filterNot(f => oldNames.contains(f.name))
      .map(_.copy(nullable = true)) // absent in old files ⇒ must read as NULL
    StructType(kept ++ added)
  }

  /** Current data files under `table`, keyed by scheme-less absolute path
    * (the normalization both the manifest's stored URL-encoded
    * `input_file_name` strings and the FS listing reduce to). `_`/`.`
    * prefixed directories (the manifest itself, Spark markers) are not
    * data. Metadata-only — one recursive listing, no Spark job.
    */
  private def dataFilePaths(fs: org.apache.hadoop.fs.FileSystem,
                            dir: Path): Map[String, Path] = {
    val base = dir.toUri.getPath
    val out = Map.newBuilder[String, Path]
    FsMaint.walkFiles(fs, dir) { f =>
      val p = f.getPath
      val rel = p.toUri.getPath.stripPrefix(base)
      val hidden = rel.split('/').exists(s => s.startsWith("_") || s.startsWith("."))
      if (!hidden && f.getLen > 0 && p.getName.startsWith("part-"))
        out += p.toUri.getPath -> p
      true
    }
    out.result()
  }

  /** Require the latest snapshot to describe EXACTLY the table's current
    * data files, both directions. Read paths ([[scanBox]]) only need
    * EXISTENCE of the picked files ([[requireFresh]]) — skipping a file the
    * snapshot never saw just loses an optimization. Mutations that decide
    * what to rewrite from stats (COW delete/merge) need COMPLETENESS: a
    * file appended after the snapshot has no stats row, so doomed/matching
    * rows inside it would silently escape targeting. One recursive listing,
    * metadata-only.
    */
  private[ops] def requireComplete(spark: SparkSession, table: String): Unit = {
    val listed = dataFilePaths(fsOf(spark, table), new Path(table))
    val snap = plannedPaths(files(spark, table).select("file"), table,
      "completeness check").map(p => decodePath(p).toUri.getPath).toSet
    val vanished = snap -- listed.keySet
    if (vanished.nonEmpty)
      throw new StaleManifestException(
        s"manifest under $table is not complete: ${vanished.size} vanished " +
          s"file(s) (first: ${vanished.head}) — re-run Manifest.create " +
          "before a stats-targeted mutation")
    // Listed-but-unsnapshotted files are only acceptable when EMPTY (a
    // zero-row part file has bytes but no rows, so statsOf never saw it and
    // it cannot shelter rows). Deciding takes a footer-only count of just
    // those files — still no data pages read.
    val extra = (listed.keySet -- snap).toIndexedSeq
    if (extra.nonEmpty) {
      val rows = boundaryRead(table) {
        spark.read
          .parquet(extra.map(p => escapeGlob(listed(p).toString)): _*).count()
      }
      if (rows > 0)
        throw new StaleManifestException(
          s"manifest under $table is not complete: ${extra.size} " +
            s"unsnapshotted data file(s) holding $rows row(s) (first: " +
            s"${extra.head}) — re-run Manifest.create before a " +
            "stats-targeted mutation")
    }
  }

  /** Non-throwing completeness probe — does the latest snapshot describe
    * EXACTLY the table's current data files? For callers choosing between
    * a snapshot-driven fast path and a full rescan (the typed
    * [[StaleManifestException]] stays the contract for mutations, which
    * must not proceed at all).
    */
  def isComplete(spark: SparkSession, table: String): Boolean =
    latestId(spark, table).isDefined && {
      try { requireComplete(spark, table); true }
      catch { case _: StaleManifestException => false }
    }

  /** Snapshot after a FILE-LEVEL REPLACEMENT (COW delete/merge): stats rows
    * of untouched files are carried verbatim from the pre-op snapshot
    * (parquet files are immutable, and the caller proved the snapshot
    * complete before mutating), rows of `removed` files are dropped, and
    * ONLY `addedPaths` are scanned — so the snapshot cost of a targeted
    * mutation is ∝ the files it rewrote, not the table (the same
    * O(new)-not-O(table) argument as [[createIncremental]], for the
    * replace shape instead of the append shape). Returns the snapshot id.
    */
  private[ops] def commitReplaced(spark: SparkSession, table: String,
                                  keyCols: Seq[String], removed: Set[String],
                                  addedPaths: Seq[String],
                                  txn: Option[(String, Long)] = None,
                                  dv: DvCarry = DvInherit): Int = {
    val snapId = latestId(spark, table).getOrElse(
      throw new IllegalStateException(s"no manifest snapshot under $table"))
    val snap = snapshotDF(spark, table, snapId)
    // basePath keeps hive-partition columns on the added-files scan, so a
    // partitioned table's replacement stats see the same schema a full
    // create would.
    val added =
      if (addedPaths.isEmpty) None
      else Some(statsOf(spark.read.option("basePath", table)
        .parquet(addedPaths.map(escapeGlob): _*), keyCols,
        bloomSpecsLike(snap)))
    // COW mutations preserve the table schema — carry the recorded one.
    // Delta-shaped, so a concurrent DISJOINT commit rebases instead of
    // failing the whole mutation ([[commitDelta]]).
    commitDelta(spark, table, snapId, removed, added,
      schema = storedSchema(spark, table, snapId), txn = txn, dv = dv)
  }

  /** Bloom specs matching an existing snapshot's bloom columns (so stats
    * built for NEW files union cleanly with carried rows and probe with
    * the same bit width) — Nil when the snapshot carries no blooms.
    */
  private def bloomSpecsLike(snap: DataFrame): Seq[BloomSpec] = {
    val blooms = snap.schema.fieldNames.toSeq.collect {
      case f if f.startsWith("bloom_") => f.drop(6) }
    if (blooms.isEmpty) Nil
    else {
      val bits = bloomBitsOf(snap, blooms)
        .getOrElse(BloomFilter.optimalNumOfBits(100000L, 0.03))
      blooms.map(c => BloomSpec(c, math.max(1L, bits / 7), bits))
    }
  }

  /** INCREMENTAL snapshot for an append-only table: parquet data files are
    * immutable, so stats of files already present in the latest snapshot
    * are CARRIED OVER and only files added since are scanned — the
    * snapshot cost a recurring loop pays becomes ∝ new files, not table
    * size (the full [[create]] is the priming cycle's cost). Falls back
    * to a full create when there is no usable previous snapshot (none
    * committed yet, or profiled with different key columns).
    *
    * Returns `(snapshotId, filesScanned, filesRemoved)`. `filesRemoved`
    * counts previously-known files that have VANISHED — an append-only
    * contract violation (rewrite/delete happened); their stats rows are
    * dropped from the new snapshot (never carried as ghosts), and callers
    * treat `filesRemoved > 0` as "fall back to a full diff".
    *
    * Driver math: the previous snapshot's rows are collected (∝ file
    * count — the same driver-side listing [[scanBox]] holds) and matched
    * against one recursive listing.
    */
  def createIncremental(spark: SparkSession, table: String,
                        keyCols: String*): (Int, Int, Int) =
    createIncrementalTxn(spark, table, None, keyCols: _*)

  /** [[createIncremental]] carrying a writer-transaction record into the
    * commit (atomic with the publish — see [[commitSnapshot]]'s ledger
    * note). NOTE the no-change fast path does NOT commit, so a txn is only
    * recorded when the snapshot actually moves — callers recording an
    * empty batch must treat "nothing changed" as already-applied.
    */
  def createIncrementalTxn(spark: SparkSession, table: String,
                           txn: Option[(String, Long)],
                           keyCols: String*): (Int, Int, Int) =
    createIncrementalDv(spark, table, txn, DvInherit, keyCols: _*)

  /** [[createIncrementalTxn]] with an explicit deletion-vector carry — the
    * merge-on-read streaming upsert's commit shape: appended files' stats,
    * the GROWN vector (existing entries ∪ this batch's matched positions),
    * and the txn ledger entry all publish in ONE atomic snapshot.
    */
  private[ops] def createIncrementalDv(spark: SparkSession, table: String,
                                       txn: Option[(String, Long)],
                                       dv: DvCarry,
                                       keyCols: String*): (Int, Int, Int) = {
    require(keyCols.nonEmpty, "need at least one key column")
    // SUPERSET keys stay usable: [[restat]] may have ADDED stats columns
    // after the caller configured its key. The refresh then profiles new
    // files with the previous snapshot's FULL column list — a fallback
    // re-create keyed on only the caller's columns would silently drop
    // the restat stats, and a union with missing columns would plant NULL
    // stats (which prune wrongly, the worst failure mode).
    val prevKeys = currentKeyCols(spark, table)
    val usablePrev = prevKeys.exists(pk => keyCols.forall(pk.contains))
    val effKeys: Seq[String] =
      if (usablePrev) prevKeys.get else keyCols.toSeq
    if (!usablePrev) {
      val id = createTxn(spark, table, txn, keyCols: _*)
      val n = snapshotDF(spark, table, id).count().toInt
      return (id, n, 0)
    }
    val fs = fsOf(spark, table)
    val prevId = latestId(spark, table).get
    val prev = snapshotDF(spark, table, prevId)
    // Driver holds PATH STRINGS only (∝ file count — the same listing any
    // planner holds). The stats rows themselves — whose bloom sketches can
    // be KB-MB each — are never collected: carried rows flow executor-side
    // from the previous snapshot into the new one as a filtered frame.
    val prevFiles = prev.select("file").collect().map(_.getString(0))
    val current = dataFilePaths(fs, new Path(table))
    val (carriedEnc, removedEnc) = prevFiles.partition(f =>
      current.contains(decodePath(f).toUri.getPath))
    val known = carriedEnc.map(f => decodePath(f).toUri.getPath).toSet
    val newPaths = current.collect { case (n, p) if !known(n) => p }.toSeq
    // Nothing changed ⇒ the previous snapshot IS the current state: return
    // its id without committing a duplicate (a recurring no-op cycle would
    // otherwise accrue one identical snapshot per run — metadata append
    // debt with zero information).
    if (newPaths.isEmpty && removedEnc.isEmpty)
      return (prevId, 0, 0)
    val prevSchema = storedSchema(spark, table, prevId)
    val (added, schema) =
      if (newPaths.isEmpty) (None: Option[DataFrame], prevSchema)
      else {
        // mergeSchema over the NEW files only (O(new) footers): appends
        // between two snapshots may themselves carry mixed schemas.
        val fresh = spark.read.option("basePath", table).option("mergeSchema", "true")
          .parquet(newPaths.map(p => escapeGlob(p.toString)): _*)
        // Additive evolution gate: new columns fold into the recorded
        // schema; a type change fails typed BEFORE any snapshot commits.
        // The footer schema is PHYSICAL — compare in physical space, store
        // the merge back in logical (a renamed column must not read as a
        // drop + add).
        val physInc = physicalNames(spark, table, prevId)
        val merged = prevSchema.map(old => toLogicalSchema(
          mergeAdditive(toPhysicalSchema(old, physInc), fresh.schema), physInc))
        (Some(statsOf(fresh, effKeys, bloomSpecsLike(prev))), merged)
      }
    // Delta-shaped: a concurrent DISJOINT commit (a DV delete, a txn
    // record, another writer's append of different files) rebases instead
    // of failing this refresh ([[commitDelta]]); a concurrent full
    // re-profile that absorbed these files refuses typed.
    (commitDelta(spark, table, prevId, removedEnc.toSet, added,
       schema = schema, txn = txn, dv = dv),
      newPaths.length, removedEnc.length)
  }

  /** Key columns of the latest snapshot, recovered from the snapshot's own
    * schema (`min_<c>` stat columns) — None when the table is
    * unmanifested. [[Layout]]'s rewrite jobs capture this BEFORE their
    * swap (the swap replaces the table dir, carrying the snapshot history
    * across) and re-commit a fresh snapshot with the same keys after, so a
    * rewrite never leaves a stale snapshot as the latest.
    */
  /** Key columns (stats coverage) of a SPECIFIC retained snapshot — what
    * the read surface consults to decide whether a pushed range filter can
    * become file-level skipping via [[scanBoxAsOf]].
    */
  def keyColsOf(spark: SparkSession, table: String, id: Int): Seq[String] = {
    require(hasSnapshot(spark, table, id),
      s"no snapshot-$id under $table")
    snapshotDF(spark, table, id)
      .schema.fieldNames.toSeq.collect { case f if f.startsWith("min_") => f.drop(4) }
  }

  def currentKeyCols(spark: SparkSession, table: String): Option[Seq[String]] =
    latestId(spark, table).map { id =>
      snapshotDF(spark, table, id)
        .schema.fieldNames.toSeq.collect { case f if f.startsWith("min_") => f.drop(4) }
    }

  /** What a rewrite must recreate: the latest snapshot's key columns AND
    * bloom columns with their bit width — captured BEFORE a swap, replayed
    * by [[createLike]] after, so a layout rewrite preserves the point-
    * lookup index, not just the range stats. `bloomBits` is recovered from
    * the serialized sketches themselves (the snapshot carries no separate
    * config row).
    */
  final case class Profile(keyCols: Seq[String], bloomCols: Seq[String],
                           bloomBits: Option[Long])

  def currentProfile(spark: SparkSession, table: String): Option[Profile] =
    latestId(spark, table).map { id =>
      val snap = snapshotDF(spark, table, id)
      val keys = snap.schema.fieldNames.toSeq.collect {
        case f if f.startsWith("min_") => f.drop(4) }
      val blooms = snap.schema.fieldNames.toSeq.collect {
        case f if f.startsWith("bloom_") => f.drop(6) }
      Profile(keys, blooms, bloomBitsOf(snap, blooms))
    }

  /** Bit width of the snapshot's serialized blooms (first non-null sketch;
    * all are built uniform). None when the snapshot has no bloom columns
    * or every sketch is null (all-null key files only — degenerate).
    */
  private def bloomBitsOf(snap: DataFrame, bloomCols: Seq[String]): Option[Long] =
    bloomCols.headOption.flatMap { c =>
      snap.select(col(s"bloom_$c")).filter(col(s"bloom_$c").isNotNull)
        .limit(1).collect().headOption
        .map(r => BloomFilter.readFrom(r.getAs[Array[Byte]](0)).bitSize())
    }

  /** Recreate a snapshot matching `p` (a rewrite's post-swap refresh).
    * Rebuild items-per-file is derived from the recovered bit width at the
    * ~3% design point (bits/items ≈ 7.3) — it only tunes the sketch's hash
    * count, never correctness.
    */
  def createLike(spark: SparkSession, table: String, p: Profile): Int =
    if (p.bloomCols.isEmpty) create(spark, table, p.keyCols: _*)
    else {
      val bits = p.bloomBits.getOrElse(
        BloomFilter.optimalNumOfBits(100000L, 0.03))
      val specs = p.bloomCols.map(c => BloomSpec(c, math.max(1L, bits / 7), bits))
      val based = latestId(spark, table).getOrElse(0)
      val data = spark.read.option("mergeSchema", "true").parquet(table)
      val phys = if (based > 0) physicalNames(spark, table, based) else Map.empty[String, String]
      commitSnapshot(spark, table,
        statsOf(data, p.keyCols, specs),
        Some(toLogicalSchema(data.schema, phys)),
        basedOn = Some(based))
    }

  /** Does snapshot `id` exist under `table`? Checkpoint validation for
    * incremental readers: a recorded id can vanish through retention
    * ([[expireSnapshots]]) or a table rewrite that replaced the whole dir —
    * callers fall back to a full read instead of crashing in
    * [[addedSince]].
    */
  def hasSnapshot(spark: SparkSession, table: String, id: Int): Boolean =
    fsOf(spark, table).exists(new Path(s"${root(table)}/snapshot-$id"))

  /** The latest snapshot's file rows `(file, min_*, max_*, n_rows)`. */
  def files(spark: SparkSession, table: String): DataFrame = {
    val id = latestId(spark, table).getOrElse(
      throw new IllegalStateException(s"no manifest snapshot under $table"))
    snapshotDF(spark, table, id)
  }

  /** Manifest-pruned BOX scan: read ONLY the files whose per-column
    * [min, max] overlaps EVERY predicate's [lo, hi], then apply the
    * residual row predicate. Bounds are in each key's normalized long
    * domain (epoch micros for timestamp keys, epoch days for date keys).
    * Returns (rows, filesRead, filesTotal) — the file counts are the
    * skipping evidence callers gate on. Columns not in the snapshot
    * cannot be pruned on (fails fast rather than silently scanning
    * everything); files missing on disk raise [[StaleManifestException]].
    */
  def scanBox(spark: SparkSession, table: String,
              preds: Seq[(String, Long, Long)]): (DataFrame, Int, Int) = {
    val id = latestId(spark, table).getOrElse(
      throw new IllegalStateException(s"no manifest snapshot under $table"))
    scanBoxFrom(spark, table,
      snapshotDF(spark, table, id), preds,
      storedSchema(spark, table, id), physicalNames(spark, table, id),
      dvEntries(spark, table, id), useTrash = false)
  }

  /** [[scanBox]] AS OF a retained snapshot — pruning and time travel
    * compose: the box predicate skips files using the PAST snapshot's own
    * stats, so a historical range query reads only the overlapping files
    * of the historical file set (same typed failure modes as
    * [[readAsOf]]).
    */
  def scanBoxAsOf(spark: SparkSession, table: String,
                  preds: Seq[(String, Long, Long)], id: Int): (DataFrame, Int, Int) = {
    require(hasSnapshot(spark, table, id),
      s"no snapshot-$id under $table — never created, or expired by retention " +
        "(expireSnapshots); time travel reaches only retained snapshots")
    scanBoxFrom(spark, table,
      snapshotDF(spark, table, id), preds,
      storedSchema(spark, table, id), physicalNames(spark, table, id),
      dvEntries(spark, table, id), useTrash = true)
  }

  /** File-list read pinned to the snapshot's recorded schema when one was
    * stored: on an additively-evolved table, old files surface the added
    * columns as NULL (and time travel reads the HISTORICAL schema) —
    * where footer sampling would return whichever file's schema Spark
    * happened to pick. Falls back to inference for pre-evolution
    * snapshots. `basePath` keeps hive-partition columns either way —
    * trash-resolved files are read with the TRASH dir as their base, so
    * the `k=v/` structure the retention preserved yields the partition
    * values of historical files exactly as the live layout does.
    */
  private def readFiles(spark: SparkSession, table: String,
                        picked: Seq[String],
                        schema: Option[StructType],
                        physical: Map[String, String] = Map.empty,
                        dv: Option[DataFrame] = None,
                        dvKeep: Boolean = false): DataFrame = {
    val trashRoot = trashDir(table).toString
    // Files carry PHYSICAL column names; `schema` is the snapshot's LOGICAL
    // shape — pin the physical translation for the scan, alias back after.
    val physSchema = schema.map(toPhysicalSchema(_, physical))
    // The DV anti-join must sit DIRECTLY above each file scan (`_metadata`
    // does not survive the live/trash union), so it applies per branch.
    def readWith(base: String, paths: Seq[String]): DataFrame = {
      val r0 = spark.read.option("basePath", base)
      val r = physSchema.fold(r0)(r0.schema)
      dv.fold(r.parquet(paths.map(escapeGlob): _*))(
        joinDv(r.parquet(paths.map(escapeGlob): _*), _, dvKeep))
    }
    val raw =
      if (picked.isEmpty) {
        val r0 = spark.read.option("basePath", table)
        physSchema.fold(r0)(r0.schema).parquet(table).limit(0)
      } else {
        val (trashed, live) = picked.partition(_.startsWith(trashRoot + "/"))
        val parts = Seq(
          if (live.nonEmpty) Some(readWith(table, live)) else None,
          if (trashed.nonEmpty) Some(readWith(trashRoot, trashed)) else None
        ).flatten
        parts.reduce(_.unionByName(_))
      }
    if (physical.isEmpty || schema.isEmpty) raw
    else {
      val inv = physical.map(_.swap)
      raw.select(raw.columns.toIndexedSeq.map(c =>
        col(c).as(inv.getOrElse(c, c))): _*)
    }
  }

  private def scanBoxFrom(spark: SparkSession, table: String, f: DataFrame,
                          preds: Seq[(String, Long, Long)],
                          schema: Option[StructType],
                          physical: Map[String, String],
                          dv: Option[DataFrame],
                          useTrash: Boolean): (DataFrame, Int, Int) = {
    require(preds.nonEmpty, "need at least one range predicate")
    preds.foreach { case (c, _, _) =>
      require(f.columns.contains(s"min_$c"),
        s"manifest snapshot has no stats for column $c")
      requireLongStatsIn(f, c, "scanBox/scanRange") }
    val plan = FilePlanner.plan(f, table, "scanBox", boxOf(preds))
    val base = readFiles(spark, table,
      resolveForRead(spark, table, plan.files, useTrash), schema, physical, dv)
    val residual = preds.map { case (c, lo, hi) =>
      statCol(c, base.schema(c).dataType).between(lo, hi) }.reduce(_ && _)
    (base.filter(residual), plan.rows.length, plan.total)
  }

  /** A box's per-column ranges as planner conjuncts. */
  private def boxOf(preds: Seq[(String, Long, Long)]) =
    preds.flatMap { case (c, lo, hi) => FilePlanner.between(c, lo, hi) }

  /** 1-D convenience form of [[scanBox]]. */
  def scanRange(spark: SparkSession, table: String, keyCol: String,
                lo: Long, hi: Long): (DataFrame, Int, Int) =
    scanBox(spark, table, Seq((keyCol, lo, hi)))

  /** [[scanRange]] over a STRING stats column — bounds compare in binary
    * UTF-8 (Spark's own string order, the order the snapshot's min/max
    * aggregates were produced in), so a URL/category prefix range prunes
    * files exactly like a long range does on an orderable key. Inclusive
    * bounds; the residual filter keeps the result value-exact.
    */
  def scanRangeString(spark: SparkSession, table: String, keyCol: String,
                      lo: String, hi: String): (DataFrame, Int, Int) = {
    val id = latestId(spark, table).getOrElse(
      throw new IllegalStateException(s"no manifest snapshot under $table"))
    val f = snapshotDF(spark, table, id)
    require(f.columns.contains(s"min_$keyCol"),
      s"manifest snapshot has no stats for column $keyCol")
    require(f.schema(s"min_$keyCol").dataType == StringType,
      s"column `$keyCol` carries long-normalized stats — use scanRange")
    val plan = FilePlanner.plan(f, table, "scanRangeString",
      FilePlanner.betweenStrings(keyCol, lo, hi))
    val base = readFiles(spark, table,
      resolveForRead(spark, table, plan.files, useTrash = false),
      storedSchema(spark, table, id), physicalNames(spark, table, id),
      dvEntries(spark, table, id))
    (base.filter(col(keyCol).between(lo, hi)), plan.rows.length, plan.total)
  }

  /** A point-lookup scan's skipping evidence: `filesRead` after bloom
    * probing vs `filesRangeCandidates` after min/max alone vs
    * `filesTotal` — on a layout not clustered by the probe key, min/max
    * prunes ~nothing and the bloom gap is the whole win.
    */
  final case class KeyScan(rows: DataFrame, filesRead: Int,
                           filesRangeCandidates: Int, filesTotal: Int)

  /** Manifest-pruned POINT/IN-LIST scan on `keyCol`: files are pruned by
    * min/max overlap with any probe value, then — when the snapshot
    * carries a bloom for `keyCol` ([[createWithBloom]]) — by the per-file
    * bloom sketch, and only surviving files are read (+ exact residual
    * equality filter, so a bloom false positive costs IO, never a wrong
    * row; false negatives cannot happen — every inserted key probes
    * true). Values are in the key's normalized long domain (micros/days
    * for temporal keys), bounded like any IN list.
    *
    * Scale shape: the probe runs WHERE THE SKETCHES LIVE — a filter over
    * the snapshot frame — so the driver receives surviving file paths
    * only, never the bloom bytes (snapshot rows ∝ file count; sketch
    * bytes are the wide column). A NULL sketch means the file holds zero
    * non-null keys (the aggregate's contract) and cannot match an
    * equality — pruned.
    */
  def scanKeys(spark: SparkSession, table: String, keyCol: String,
               values: Seq[Long]): KeyScan = {
    require(values.nonEmpty, "need at least one probe value")
    val id = latestId(spark, table).getOrElse(
      throw new IllegalStateException(s"no manifest snapshot under $table"))
    val f = snapshotDF(spark, table, id)
    require(f.columns.contains(s"min_$keyCol"),
      s"manifest snapshot has no stats for column $keyCol")
    requireLongStatsIn(f, keyCol, "scanKeys")
    val plan = FilePlanner.plan(f, table, "scanKeys", FilePlanner.in(keyCol, values))
    val base = readFiles(spark, table,
      resolveForRead(spark, table, plan.files, useTrash = false),
      storedSchema(spark, table, id), physicalNames(spark, table, id),
      dvEntries(spark, table, id))
    val residual =
      statCol(keyCol, base.schema(keyCol).dataType).isInCollection(values)
    KeyScan(base.filter(residual), plan.rows.length, plan.rangeCandidates,
      plan.total)
  }

  /** STRING-key point/IN-list scan — the UUID/URL lookup case: string
    * keys carry no orderable range stats (rejected at [[create]]), so the
    * per-file bloom sketch over `xxhash64(key)` ([[createWithBloom]] with
    * a string bloom column) is the ONLY skipping signal; every file is a
    * candidate and the sketch alone decides what is read. Probe hashes
    * are computed with the SAME Catalyst expression the build side
    * aggregated, so identical strings always probe true (no false
    * negatives); hash collisions and sketch false positives both cost one
    * wasted file read behind the exact string-equality residual.
    */
  def scanKeysString(spark: SparkSession, table: String, keyCol: String,
                     values: Seq[String]): KeyScan = {
    require(values.nonEmpty, "need at least one probe value")
    val id = latestId(spark, table).getOrElse(
      throw new IllegalStateException(s"no manifest snapshot under $table"))
    val f = snapshotDF(spark, table, id)
    require(f.columns.contains(s"bloom_$keyCol"),
      s"manifest snapshot has no bloom sketch for column $keyCol — string keys " +
        "carry no range stats; build one with createWithBloom")
    val plan = FilePlanner.plan(f, table, "scanKeysString",
      FilePlanner.inStrings(keyCol, values))
    val base = readFiles(spark, table,
      resolveForRead(spark, table, plan.files, useTrash = false),
      storedSchema(spark, table, id), physicalNames(spark, table, id),
      dvEntries(spark, table, id))
    KeyScan(base.filter(col(keyCol).isInCollection(values)),
      plan.rows.length, plan.rangeCandidates, plan.total)
  }

  /** Metadata-accelerated range COUNT: files whose key range is FULLY
    * inside [lo, hi] are counted from the snapshot's per-file non-null key
    * count (`cnt_<c>` — zero data reads); only BOUNDARY files (overlapping
    * but not contained) are scanned with the residual predicate. At scale
    * this answers a selective COUNT over a petabyte-sized clustered table
    * from metadata plus a handful of edge files — the aggregate analog of
    * [[scanBox]]'s skipping, and the reason the snapshot carries row
    * counts at all (the Iceberg/Delta `COUNT(*)` fast path). Freshness is
    * checked over EVERY overlapping file: the metadata-counted ones are
    * never opened, so a vanished file would otherwise contribute ghost
    * rows silently. Returns (count, boundaryFilesScanned, filesTotal).
    */
  /** n-D BOX form of [[countRange]]: a file fully contained on EVERY
    * predicate dimension is counted from metadata, everything overlapping
    * is scanned with the residual. One subtlety the per-column stats force:
    * `cnt_<c>` counts each column's non-null rows SEPARATELY, so a
    * contained file's in-box count is only known from metadata when NO key
    * column has nulls there (every `cnt_<c> == n_rows`); a contained file
    * with nullable keys is scanned like a boundary file instead of
    * guessing — exactness is the contract, the metadata path is just the
    * fast case. Returns (count, filesScanned, filesTotal).
    */
  def countBox(spark: SparkSession, table: String,
               preds: Seq[(String, Long, Long)]): (Long, Int, Int) = {
    require(preds.nonEmpty, "need at least one range predicate")
    val f = files(spark, table)
    preds.foreach { case (c, _, _) =>
      require(f.columns.contains(s"min_$c"),
        s"manifest snapshot has no stats for column $c")
      require(f.columns.contains(s"cnt_$c"),
        s"manifest snapshot predates per-key counts — re-run Manifest.create")
    }
    val noNulls = preds.map { case (c, _, _) =>
      col(s"cnt_$c") === col("n_rows") }.reduce(_ && _)
    val plan = FilePlanner.plan(f, table, "countBox", boxOf(preds),
      Seq(noNulls, col("n_rows")))
    requireFresh(spark, table, plan.files)
    val (meta, boundary) =
      plan.rows.partition(r => r.getBoolean(1) && r.getBoolean(2))
    val metaCount = meta.map(_.getLong(3)).sum
    val scan = boundary.map(_.getString(0))
    val scanCount =
      if (scan.isEmpty) 0L
      else boundaryRead(table) {
        val base = spark.read.option("basePath", table)
          .parquet(scan.map(escapeGlob): _*)
        base.filter(preds.map { case (c, lo, hi) =>
          statCol(c, base.schema(c).dataType).between(lo, hi) }.reduce(_ && _))
          .count()
      }
    (metaCount + scanCount, scan.length, plan.total)
  }

  /** Metadata-only global MIN/MAX of a profiled key (normalized long
    * units): fold the snapshot's per-file stats — zero data reads at any
    * table size (the Iceberg/Delta manifest-answered aggregate). NULL
    * stats rows (all-null-key files) contribute nothing, matching SQL
    * null-skipping aggregate semantics; a table whose every key is NULL
    * returns None. Freshness-checked over every file, like [[countRange]]:
    * none is opened, so a vanished file would otherwise contribute ghost
    * bounds silently.
    */
  def minMax(spark: SparkSession, table: String,
             keyCol: String): Option[(Long, Long)] = {
    val f = files(spark, table)
    require(f.columns.contains(s"min_$keyCol"),
      s"manifest snapshot has no stats for column $keyCol")
    requireLongStatsIn(f, keyCol, "minMax")
    requireFresh(spark, table, plannedPaths(f.select("file"), table, "minMax"))
    FilePlanner.bounds(f, keyCol)
  }

  def countRange(spark: SparkSession, table: String, keyCol: String,
                 lo: Long, hi: Long): (Long, Int, Int) = {
    val f = files(spark, table)
    require(f.columns.contains(s"min_$keyCol"),
      s"manifest snapshot has no stats for column $keyCol")
    requireLongStatsIn(f, keyCol, "countRange")
    require(f.columns.contains(s"cnt_$keyCol"),
      s"manifest snapshot predates per-key counts — re-run Manifest.create")
    val plan = FilePlanner.plan(f, table, "countRange",
      FilePlanner.between(keyCol, lo, hi), Seq(col(s"cnt_$keyCol")))
    requireFresh(spark, table, plan.files)
    // A deletion vector invalidates the metadata count (cnt_<c> counts
    // PHYSICAL rows): every overlapping file becomes a boundary file,
    // counted through the scan with the DV applied — correct, just not
    // metadata-only.
    val dvCnt = currentDv(spark, table)
    val (inside, outside) =
      plan.rows.partition(r => dvCnt.isEmpty && r.getBoolean(1))
    val metaCount = inside.map(_.getLong(2)).sum
    val boundary = outside.map(_.getString(0))
    val boundaryCount =
      if (boundary.isEmpty) 0L
      else boundaryRead(table) {
        val base = applyDv(spark.read.option("basePath", table)
          .parquet(boundary.map(escapeGlob): _*), dvCnt)
        base.filter(statCol(keyCol, base.schema(keyCol).dataType).between(lo, hi))
          .count()
      }
    (metaCount + boundaryCount, boundary.length, plan.total)
  }

  /** Rows in files ADDED after snapshot `sinceId` (latest ∖ since, by file
    * path) — the incremental-processing contract for a recurring job over
    * an append-only table: each cycle snapshots, processes only what
    * arrived since its previous snapshot id, and records the new id as its
    * checkpoint. File-granular and exact (immutable snapshots are the
    * source of truth — no mtime heuristics, no missed late files, no
    * double reads), which is the property streaming file sources
    * approximate with listing state. Returns (rows, filesAdded).
    */
  def addedSince(spark: SparkSession, table: String, sinceId: Int): (DataFrame, Int) = {
    val since = snapshotDF(spark, table, sinceId)
    val latest = latestId(spark, table).getOrElse(
      throw new IllegalStateException(s"no manifest snapshot under $table"))
    val added = plannedPaths(
      snapshotDF(spark, table, latest)
        .join(since.select("file"), Seq("file"), "left_anti")
        .select("file"), table, "addedSince")
    // Read with the LATEST snapshot's schema: an increment that introduced
    // a new column surfaces it; one that didn't reads NULLs for it.
    (readFiles(spark, table,
      resolveForRead(spark, table, added, useTrash = false),
      storedSchema(spark, table, latest),
      physicalNames(spark, table, latest),
      dvEntries(spark, table, latest)), added.length)
  }

  /** TIME TRAVEL: read the table exactly as snapshot `id` recorded it —
    * the file list of a PAST immutable snapshot, nothing newer (the
    * Iceberg/Delta `VERSION AS OF` read, from the same metadata that
    * drives [[scanBox]] and [[addedSince]]). Works because appends never
    * touch committed files: an as-of read of an append-only table is exact
    * for as long as the snapshot is retained. The two ways it can stop
    * being answerable both fail TYPED, never silently: an expired snapshot
    * id throws here ([[expireSnapshots]] retention), and an external
    * delete or vacuum of a referenced file raises
    * [[StaleManifestException]]. COW mutations AND layout rewrites
    * (compaction/re-clustering) retain the files they replace in the
    * hidden trash, so as-of reads survive routine maintenance until
    * [[vacuum]] reclaims what no retained snapshot references.
    */
  /** Resolved, READABLE file paths of snapshot `id`: live files at their
    * recorded locations, replaced files through the retained trash — the
    * public hook the SQL catalog surface builds its scans on (same typed
    * failure modes as [[readAsOf]]).
    */
  def snapshotFiles(spark: SparkSession, table: String, id: Int): Seq[String] = {
    require(hasSnapshot(spark, table, id),
      s"no snapshot-$id under $table — never created, or expired by retention " +
        "(expireSnapshots); time travel reaches only retained snapshots")
    val picked = plannedPaths(
      snapshotDF(spark, table, id).select("file"),
      table, "snapshot read")
    resolveForRead(spark, table, picked, useTrash = true)
  }

  def readAsOf(spark: SparkSession, table: String, id: Int): DataFrame = {
    // The snapshot's OWN recorded schema (time travel across an additive
    // evolution reads the table as it was), resolving replaced files
    // through the retained trash — as-of reads survive COW mutations.
    readFiles(spark, table, snapshotFiles(spark, table, id),
      storedSchema(spark, table, id), physicalNames(spark, table, id),
      dvEntries(spark, table, id))
  }

  /** The newest committed snapshot id — the handle mutation jobs leave
    * behind for [[readAsOf]] / [[changesBetween]] callers.
    */
  /** Snapshot HISTORY — the `DESCRIBE HISTORY` analog: one row per
    * retained snapshot (id asc) with its file count, row count, commit
    * time (the explicit `_committed_at` marker, [[commitTimeOf]]), and
    * stats-covered key columns.
    * ONE metadata-sized job over the snapshot parquet (pinned to the two
    * columns every snapshot shares — stat/bloom columns vary); rows ∝
    * retained snapshots.
    */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val ids = snapshotIds(spark, table).sorted
    val fs = fsOf(spark, table)
    if (ids.isEmpty)
      return Seq.empty[(Int, Long, Long, java.sql.Timestamp, String)]
        .toDF("snapshot", "n_files", "n_rows", "committed_at", "key_cols")
    // Greedy `.*` pins the LAST snapshot-<n> path segment: a table whose
    // own directory name happens to contain "snapshot-<digits>" must not
    // swallow every file into one bogus group.
    val perId = spark.read
      .schema(StructType(Seq(StructField("file", StringType),
        StructField("n_rows", LongType))))
      .parquet(ids.map(id => s"${root(table)}/snapshot-$id"): _*)
      .withColumn("snapshot",
        regexp_extract(input_file_name(), ".*/snapshot-(\\d+)/", 1).cast("int"))
      .groupBy("snapshot")
      .agg(count(lit(1)).as("n_files"), sum("n_rows").as("n_rows"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rows = ids.map { id =>
      // A snapshot CAN be empty (a COW delete that doomed every row):
      // report 0/0, never crash the history view.
      val (nf, nr) = perId.getOrElse(id, (0L, 0L))
      val dir = s"${root(table)}/snapshot-$id"
      val mtime = new java.sql.Timestamp(commitTimeOf(fs, table, id))
      val kc = spark.read.parquet(dir).schema.fieldNames.toSeq
        .collect { case f if f.startsWith("min_") => f.drop(4) }
      (id, nf, nr, mtime, kc.mkString(","))
    }
    rows.toDF("snapshot", "n_files", "n_rows", "committed_at", "key_cols")
  }

  /** The newest snapshot COMMITTED at or before `epochMs` — commit time =
    * the explicit publish-instant marker ([[commitTimeOf]], the identity
    * [[history]] reports). None when every retained snapshot is newer.
    * Backs the catalog's `TIMESTAMP AS OF`.
    */
  def snapshotIdAsOfTime(spark: SparkSession, table: String,
                         epochMs: Long): Option[Int] = {
    val fs = fsOf(spark, table)
    snapshotIds(spark, table)
      .filter(id => commitTimeOf(fs, table, id) <= epochMs)
      .sorted.lastOption
  }

  def latestSnapshotId(spark: SparkSession, table: String): Option[Int] =
    latestId(spark, table)

  /** Row-level CHANGE DATA FEED between two retained snapshots: every row
    * tagged `delete` left the table and every row tagged `insert` entered
    * it between `fromId` and `toId` (updates surface as a delete+insert
    * pair — the CDF contract of Delta/Iceberg readers). Exact by
    * construction AND cheap by construction: parquet files are immutable,
    * so only rows in files REMOVED since `fromId` can have left and only
    * rows in files ADDED can have entered — files present in both
    * snapshots never decode. Rows a rewrite merely CARRIED into a new
    * file appear on both sides and cancel in the multiset difference
    * (`exceptAll`), so the feed is the NET change, with IO and shuffle
    * ∝ files touched between the versions, never table size.
    *
    * Both reads are pinned to the TO snapshot's recorded schema (additive
    * evolution NULL-backfills the before-rows; a column gained between
    * the versions shows only where files were actually rewritten). Same
    * typed failure modes as [[readAsOf]]: expired ids throw here, files
    * deleted out-of-band raise [[StaleManifestException]].
    */
  def changesBetween(spark: SparkSession, table: String,
                     fromId: Int, toId: Int): DataFrame = {
    // Reversed endpoints would silently swap the delete/insert tags (and pin
    // the schema to the OLDER snapshot) — an inverted feed is a wrong
    // answer, so order is validated like existence.
    require(fromId <= toId,
      s"changesBetween($table): fromId ($fromId) must be <= toId ($toId) — " +
        "reversed endpoints would invert the feed's delete/insert tags")
    Seq(fromId, toId).foreach { id =>
      require(hasSnapshot(spark, table, id),
        s"no snapshot-$id under $table — never created, or expired by retention " +
          "(expireSnapshots); the change feed reaches only retained snapshots")
    }
    def fileSet(id: Int): Set[String] =
      snapshotDF(spark, table, id)
        .select("file").collect().map(_.getString(0)).toSet
    val from = fileSet(fromId)
    val to = fileSet(toId)
    val removed = (from -- to).toIndexedSeq
    val added = (to -- from).toIndexedSeq
    val schema = storedSchema(spark, table, toId)
      .orElse(storedSchema(spark, table, fromId))
    // Physical names are table-invariant (one physical schema per table);
    // the map matching the CHOSEN logical schema translates both sides.
    val physCdf =
      if (storedSchema(spark, table, toId).isDefined) physicalNames(spark, table, toId)
      else physicalNames(spark, table, fromId)
    // Each side reads under ITS OWN deletion vector: `before` is what was
    // visible at fromId, `after` what is visible at toId.
    val dvFrom = dvEntries(spark, table, fromId)
    val dvTo = dvEntries(spark, table, toId)
    // Removed files live in the retained trash (COW mutations move their
    // originals there); added files are live.
    val before = readFiles(spark, table,
      resolveForRead(spark, table, removed, useTrash = true), schema, physCdf,
      dvFrom)
    val after = readFiles(spark, table,
      resolveForRead(spark, table, added, useTrash = true), schema, physCdf,
      dvTo)
    // A DV-only delete changes NO files, so the file diff cannot see it:
    // entries in dvTo but not dvFrom on files present in BOTH snapshots
    // are rows that were visible at fromId and deleted by toId — read
    // exactly those positions (semi-join) and tag them deletes. Entries on
    // files added inside the window stay out (those rows were never
    // visible at fromId).
    val dvDeletes: Option[DataFrame] = dvTo.flatMap { t =>
      // NOT checkpointed: the returned feed has caller-owned lifetime, so
      // cached blocks would leak; the delta is sidecar-sized over two
      // IMMUTABLE snapshot dirs — recomputing it inside the feed's own
      // execution is cheaper than retaining blocks across the session.
      val delta = dvFrom.fold(t)(f => t.exceptAll(f))
      val commonByName = from.intersect(to).toIndexedSeq
        .map(e => decodePath(e).getName -> e).toMap
      val touched = delta.select("file_name").distinct()
        .collect().map(_.getString(0)).filter(commonByName.contains)
      if (touched.isEmpty) None
      else Some(readFiles(spark, table,
        resolveForRead(spark, table,
          touched.map(commonByName).toIndexedSeq, useTrash = true),
        schema, physCdf, Some(delta), dvKeep = true)
        .withColumn("change", lit("delete")))
    }
    // One-sided fast paths: exceptAll against an empty side is the
    // identity, and the two exceptAll aggregations are the feed's only
    // shuffles — a pure APPEND diff (the streaming source's every
    // micro-batch) becomes a zero-shuffle tagged scan of the added files.
    val base =
      if (removed.isEmpty) after.withColumn("change", lit("insert"))
      else if (added.isEmpty) before.withColumn("change", lit("delete"))
      else
        before.exceptAll(after).withColumn("change", lit("delete"))
          .unionByName(after.exceptAll(before).withColumn("change", lit("insert")))
    dvDeletes.fold(base)(base.unionByName(_))
  }

  /** Reclaim retained history: delete every trash file no RETAINED
    * snapshot references (snapshots define reachability — run
    * [[expireSnapshots]] first to shrink the retained window, then vacuum
    * to free the bytes, the Delta/Iceberg VACUUM split). After a vacuum,
    * as-of reads of the expired window fail typed, never silently.
    * Metadata-only: one trash listing + the retained snapshots' file
    * columns (rows ∝ file count). Returns the number of files deleted.
    */
  /** Policy-triggered [[vacuum]]: fire only when the trash holds more than
    * `maxTrashFiles` files (one listing, nothing else on the no-op path) —
    * the retained-history analog of compaction's file-count trigger, so a
    * recurring DML loop bounds its trash debt without paying the
    * referenced-set scan every cycle. Returns files deleted (0 below
    * threshold).
    */
  def vacuumIfNeeded(spark: SparkSession, table: String,
                     maxTrashFiles: Int): Int = {
    require(maxTrashFiles >= 0, s"maxTrashFiles must be >= 0: $maxTrashFiles")
    val fs = fsOf(spark, table)
    val t = trashDir(table)
    if (!fs.exists(t) || fs.listStatus(t).count(_.isFile) <= maxTrashFiles) 0
    else vacuum(spark, table)
  }

  def vacuum(spark: SparkSession, table: String): Int = {
    val fs = fsOf(spark, table)
    val t = trashDir(table)
    if (!fs.exists(t)) return 0
    // Vacuum mutates the trash a concurrent COW commit is actively moving
    // files into (carry + retain are multi-step renames) — take the same
    // table lock the COW/rewrite jobs hold, failing typed if one is live.
    FsMaint.withTableLock(fs, table) {
    // ONE job over every retained snapshot (snapshots may carry different
    // stat columns, so pin the schema to the one column they all share).
    // Reachability is keyed on TABLE-RELATIVE paths — the identity trash
    // entries are stored under, which disambiguates same-named files from
    // different partition dirs.
    val ids = snapshotIds(spark, table)
    val referenced =
      if (ids.isEmpty) Set.empty[String]
      else plannedPaths(spark.read
        .schema(StructType(Seq(StructField("file", StringType))))
        .parquet(ids.map(id => s"${root(table)}/snapshot-$id"): _*),
        table, "vacuum reachability")
        .map(p => relativeTo(table, decodePath(p))).toSet
    var n = 0
    val doomed = FsMaint.listRelative(fs, t)(_ => true)
      .collect { case (rel, st) if !referenced(rel) => st.getPath }
    doomed.foreach { p => if (fs.delete(p, false)) n += 1 }
    // Partition subdirs emptied by the reclaim are metadata debt — sweep.
    fs.listStatus(t).foreach { st =>
      if (st.isDirectory &&
          FsMaint.walkFiles(fs, st.getPath)(_ => false) /* true ⇔ no files */)
        FsMaint.deleteRecursively(fs, st.getPath)
    }
    n
    }
  }

  /** Retention: drop all but the newest `keep` snapshots (each is a few
    * KB, but a years-long recurring loop accrues thousands — the same
    * append-debt argument as data-file compaction, at metadata scale).
    * Incremental readers must hold checkpoint ids within the retained
    * window; expiring an id a reader still references makes its next
    * `addedSince` fail fast on the missing snapshot rather than
    * under-report. Returns the number of snapshots removed.
    */
  def expireSnapshots(spark: SparkSession, table: String, keep: Int): Int =
    expireSnapshots(spark, table, keep, keepTagged = true)

  /** `keepTagged = false` is for internal heals that expire now-UNREADABLE
    * history (a tag on an unreadable snapshot is debt, not protection).
    */
  def expireSnapshots(spark: SparkSession, table: String, keep: Int,
                      keepTagged: Boolean): Int = {
    require(keep >= 1, s"must keep at least 1 snapshot: $keep")
    val fs = fsOf(spark, table)
    val r = new Path(root(table))
    if (!fs.exists(r)) 0
    else {
      val ids = fs.listStatus(r).toSeq.collect {
        case s if s.isDirectory => s.getPath.getName match {
          case SnapRe(n) => Some(n.toInt)
          case _ => None
        }
      }.flatten.sorted
      // A TAGGED snapshot is pinned history (the Iceberg tag-retention
      // contract): retention counts it but never deletes it. Every branch
      // ref pins its FORK and its HEAD (a dormant branch's head is its
      // only readable identity), and `main`'s pinned head pins the same
      // way — fast-forward/abandon/checkout release the pins.
      val pinned: Set[Int] =
        (if (keepTagged) tags(spark, table).values.toSet else Set.empty) ++
          branches(spark, table).values.flatMap(b => b.fork +: b.head.toSeq) ++
          mainRefHead(spark, table)
      val drop = ids.dropRight(keep).filterNot(pinned)
      drop.foreach(id => FsMaint.deleteRecursively(fs, new Path(s"${root(table)}/snapshot-$id")))
      // keepTagged = false can expire a TAGGED snapshot — its tag must die
      // with it, or it dangles forever: tags() would keep pinning a
      // nonexistent id and VERSION AS OF '<name>' would resolve to a
      // deleted snapshot instead of failing as an unknown tag.
      if (!keepTagged && drop.nonEmpty) {
        val dropped = drop.toSet
        tags(spark, table).foreach { case (name, id) =>
          if (dropped(id)) dropTag(spark, table, name): Unit
        }
      }
      // Expired snapshots may have been the last referents of pool
      // segments — reclaim them (lease-aged: a concurrent writer may have
      // staged a fresh segment milliseconds before its `_dvlist` lands).
      if (drop.nonEmpty) sweepDvSegments(spark, table, aged = true): Unit
      drop.length
    }
  }

  // ---- snapshot TAGS: named, human-stable refs into retained history
  // (the Iceberg tag idea on this snapshot mechanism). A tag file is
  // `_graft_manifest/tag-<name>` holding the snapshot id — written
  // atomically (tmp + rename), read by `VERSION AS OF '<name>'` through
  // the SQL catalog, and pinning its snapshot against [[expireSnapshots]].

  private val TagRe = "^[A-Za-z0-9][A-Za-z0-9._-]{0,63}$".r

  private def tagPath(table: String, name: String): Path = {
    require(TagRe.matches(name),
      s"tag name must match ${TagRe.regex}: `$name` (it becomes a file name " +
        "and a VERSION AS OF literal)")
    require(name.toIntOption.isEmpty,
      s"tag name `$name` would shadow a numeric snapshot id")
    // `tag-<x>__tmp` is the staging file of tag <x>: a user tag named
    // `foo__tmp` would alias tag `foo`'s staging file (created/clobbered by
    // setTag("foo"), deleted by dropTag("foo"), and resolvable as `foo__tmp`
    // via the mid-move tmp fallback) — refuse the suffix outright.
    require(!name.endsWith("__tmp"),
      s"tag name `$name` ends in `__tmp`, the reserved staging suffix")
    new Path(root(table), s"tag-$name")
  }

  /** Create or move tag `name` to retained snapshot `id`. */
  def tag(spark: SparkSession, table: String, name: String, id: Int): Unit = {
    require(hasSnapshot(spark, table, id),
      s"cannot tag snapshot-$id under $table: not retained")
    require(!branches(spark, table).contains(name),
      s"`$name` is a BRANCH ref — a tag of the same name would be " +
        "shadowed by the branch in VERSION AS OF resolution")
    require(name != "main",
      "`main` is the implicit trunk ref — it cannot be a tag")
    val fs = fsOf(spark, table)
    val p = tagPath(table, name)
    val tmp = new Path(p.getParent, p.getName + "__tmp")
    val out = fs.create(tmp, true)
    try out.write(id.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(p, false)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"tag commit failed: $p")
  }

  /** Drop tag `name`; returns whether it existed. The snapshot itself
    * stays retained until a later [[expireSnapshots]]. A staged `__tmp`
    * dies too — [[taggedId]]'s fallback would resurrect the tag from it.
    */
  def dropTag(spark: SparkSession, table: String, name: String): Boolean = {
    val fs = fsOf(spark, table)
    val p = tagPath(table, name)
    val tmpGone = fs.delete(new Path(p.getParent, p.getName + "__tmp"), false)
    fs.delete(p, false) || tmpGone
  }

  /** Resolve tag `name` to its snapshot id. Falls back to the staged
    * `__tmp` file: a tag MOVE is tmp-write → delete → rename (no portable
    * rename-over), so a reader racing — or a crash inside — that window
    * still resolves the tag (to its NEW target, which the tmp holds by
    * then), and the pin against [[expireSnapshots]] never lapses.
    */
  def taggedId(spark: SparkSession, table: String, name: String): Option[Int] = {
    val fs = fsOf(spark, table)
    def readInt(q: Path): Option[Int] =
      if (!fs.exists(q)) None
      else {
        val in = fs.open(q)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt)
        finally in.close()
      }
    val p = tagPath(table, name)
    readInt(p).orElse(readInt(new Path(p.getParent, p.getName + "__tmp")))
  }

  /** All tags (name → snapshot id). One listing; rows ∝ tags. A tag whose
    * move is mid-window (only its `__tmp` present) still lists — its
    * retention pin must not lapse during the overwrite.
    */
  def tags(spark: SparkSession, table: String): Map[String, Int] = {
    val fs = fsOf(spark, table)
    val r = new Path(root(table))
    if (!fs.exists(r)) Map.empty
    else fs.listStatus(r).toSeq.collect {
      case s if s.isFile && s.getPath.getName.startsWith("tag-") =>
        s.getPath.getName.stripPrefix("tag-").stripSuffix("__tmp")
    }.distinct.flatMap(name =>
      taggedId(spark, table, name).map(name -> _)).toMap
  }

  // ---- snapshot BRANCHES: N named refs on one physical snapshot chain,
  // git-working-tree posture. Exactly ONE ref is CHECKED OUT at a time —
  // the table dir is its working tree, and every commit (append, DML,
  // rewrite) advances it implicitly (its head IS the latest snapshot). A
  // DORMANT branch's head is PINNED in its ref file; `main`'s pinned head
  // lives in `ref-main` while main is not checked out (absent ⇒ main is
  // checked out and reads the latest). Divergence works on the linear id
  // chain because every snapshot is self-contained:
  // [[graft.ops.Layout.checkoutBranch]] pins the current holder's head,
  // COW-restores the working tree to the target's head, and unpins the
  // target — so branch B's commits on a restored-from-main tree never
  // contain branch A's, whatever the id order. [[fastForward]] merges the
  // CHECKED-OUT branch into main by metadata only;
  // [[graft.ops.Layout.abandonBranch]] discards a branch (restoring
  // main's head first when the branch is checked out). Ref file
  // `_graft_manifest/branch-<name>`: line 1 = fork id, line 2 = pinned
  // head id (absent/-1 ⇒ checked out; a bare single-line file is a
  // pre-multi-branch ref, read as checked out). Forks, pinned heads, and
  // `ref-main` all pin their snapshots against [[expireSnapshots]].

  /** One branch ref: the fork it diverged at, and its pinned head —
    * None ⇒ this branch is CHECKED OUT (head = the latest snapshot).
    */
  final case class BranchRef(fork: Int, head: Option[Int])

  private def branchPath(table: String, name: String): Path = {
    require(TagRe.matches(name),
      s"branch name must match ${TagRe.regex}: `$name`")
    require(name.toIntOption.isEmpty,
      s"branch name `$name` would shadow a numeric snapshot id")
    require(!name.endsWith("__tmp"),
      s"branch name `$name` ends in `__tmp`, the reserved staging suffix")
    require(name != "main",
      "`main` is the implicit trunk ref — it cannot be a branch name")
    new Path(root(table), s"branch-$name")
  }

  private def mainRefPath(table: String): Path =
    new Path(root(table), "ref-main")

  private def logicalRefPath(table: String): Path =
    new Path(root(table), "ref-current")

  /** The LOGICALLY checked-out ref, when a METADATA-ONLY checkout is
    * active ([[graft.ops.Layout.checkoutBranch]] with `materialize =
    * false`, the default): the catalog's latest view serves this ref's
    * head from its snapshot descriptors, while the PHYSICAL working tree
    * still belongs to the unpinned holder. None = physical holder is
    * current (the only state before round 18). The pointed-at ref's head
    * is pinned by its own ref file (or `ref-main`), so retention needs no
    * extra pinning here.
    */
  private[graft] def logicalRef(spark: SparkSession, table: String): Option[String] = {
    val fs = fsOf(spark, table)
    val p = logicalRefPath(table)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
      if (s.isEmpty) None else Some(s)
    }
  }

  /** Write (Some) or clear (None) the logical-checkout pointer — one
    * staged-tmp + rename, atomic like every ref write. Callers hold the
    * table lock (ref transitions serialize).
    */
  private[graft] def setLogicalRef(spark: SparkSession, table: String,
                                   name: Option[String]): Unit = {
    val fs = fsOf(spark, table)
    val p = logicalRefPath(table)
    name match {
      case None => fs.delete(p, false): Unit
      case Some(n) =>
        val tmp = new Path(p.getParent, p.getName + "__tmp")
        val out = fs.create(tmp, true)
        try out.write(n.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        fs.delete(p, false)
        if (!fs.rename(tmp, p))
          throw new java.io.IOException(s"logical ref write failed: $p")
    }
  }

  /** The snapshot id the SQL catalog's LATEST view serves: the logical
    * ref's head while a metadata-only checkout is active (falling back to
    * latest if the pointer went stale — e.g. the ref was fast-forwarded
    * away), else the latest snapshot.
    */
  def effectiveHeadId(spark: SparkSession, table: String): Option[Int] =
    logicalRef(spark, table).flatMap(resolveRef(spark, table, _))
      .orElse(latestId(spark, table))

  /** All branch refs (name → fork + pinned head). Staging files and
    * unparseable content are SKIPPED, never thrown: the ref surface (tags,
    * `main`, retention pinning) must survive a crash mid-create.
    */
  def branches(spark: SparkSession, table: String): Map[String, BranchRef] = {
    val fs = fsOf(spark, table)
    val r = new Path(root(table))
    if (!fs.exists(r)) Map.empty
    else fs.listStatus(r).toSeq.flatMap {
      case s if s.isFile && s.getPath.getName.startsWith("branch-") &&
          !s.getPath.getName.endsWith("__tmp") =>
        val in = fs.open(s.getPath)
        val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().map(_.trim).filter(_.nonEmpty).toList
        finally in.close()
        (lines.headOption.flatMap(_.toIntOption), lines.lift(1).flatMap(_.toIntOption)) match {
          case (Some(fork), head) =>
            Some(s.getPath.getName.stripPrefix("branch-") ->
              BranchRef(fork, head.filter(_ >= 0)))
          case _ => None
        }
      case _ => None
    }.toMap
  }

  /** The CHECKED-OUT branch (name, fork), or None when `main` holds the
    * working tree. At most one ref has no pinned head, by construction.
    */
  def currentBranch(spark: SparkSession, table: String): Option[(String, Int)] =
    branches(spark, table).collectFirst {
      case (name, BranchRef(fork, None)) => (name, fork)
    }

  /** `main`'s explicitly pinned head (the `ref-main` file), or None when
    * main is checked out. Legacy single-branch refs (created before
    * multi-branch) pinned main AT THE FORK without a ref-main file — the
    * fallback preserves their reads.
    */
  private[graft] def mainRefHead(spark: SparkSession, table: String): Option[Int] = {
    val fs = fsOf(spark, table)
    val p = mainRefPath(table)
    val explicit =
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toIntOption
        finally in.close()
      }
    explicit.orElse(currentBranch(spark, table).map(_._2))
  }

  /** Do two retained snapshots describe the SAME table state — identical
    * file sets (by table-relative path, so restore-revived copies match
    * their originals) and identical deletion vectors? Metadata-sized: two
    * snapshot reads plus (only when both carry vectors) a small except
    * job. The fast-forward guard's state identity.
    */
  private def sameTableState(spark: SparkSession, table: String,
                             a: Int, b: Int): Boolean = {
    def rels(id: Int): Set[String] = plannedPaths(
      snapshotDF(spark, table, id).select("file"),
      table, "state comparison")
      .map(p => relativeTo(table, decodePath(p))).toSet
    rels(a) == rels(b) && dvUnchanged(spark, table, a, b)
  }

  /** Resolve ref `name` ("main", a branch, or a tag) to a snapshot id. */
  def resolveRef(spark: SparkSession, table: String, name: String): Option[Int] =
    if (name == "main")
      mainRefHead(spark, table).orElse(latestId(spark, table))
    else branches(spark, table).get(name)
      .map(b => b.head.getOrElse(latestId(spark, table).get))
      .orElse(taggedId(spark, table, name))

  /** Overwrite-or-create ref `name` (staged tmp + delete + rename — the
    * tag-move discipline; `create = true` refuses an existing destination
    * typed, the branch-create race loser).
    */
  private def writeBranchRef(spark: SparkSession, table: String, name: String,
                             fork: Int, head: Option[Int],
                             create: Boolean): Unit = {
    val fs = fsOf(spark, table)
    val p = branchPath(table, name)
    val tmp = new Path(p.getParent, p.getName + "__tmp")
    val out = fs.create(tmp, true)
    try out.write(s"$fork\n${head.getOrElse(-1)}"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (create) {
      if (fs.exists(p) || !fs.rename(tmp, p)) {
        fs.delete(tmp, false)
        throw new IllegalArgumentException(
          s"branch `$name` already exists under $table")
      }
    } else {
      fs.delete(p, false)
      if (!fs.rename(tmp, p))
        throw new java.io.IOException(s"branch ref write failed: $p")
    }
  }

  private def writeMainRef(spark: SparkSession, table: String, id: Int): Unit = {
    val fs = fsOf(spark, table)
    val p = mainRefPath(table)
    val tmp = new Path(p.getParent, p.getName + "__tmp")
    val out = fs.create(tmp, true)
    try out.write(id.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(p, false)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"main ref write failed: $p")
  }

  /** PIN the current working-tree holder's head at the latest snapshot —
    * the first half of every checkout/fork transition (pin BEFORE the
    * restore moves `latest`; a crash between leaves everything pinned and
    * every ref readable, never a dangling head).
    */
  private[graft] def pinCurrentHolder(spark: SparkSession, table: String): Unit = {
    val latest = latestId(spark, table).getOrElse(
      throw new IllegalStateException(s"no manifest snapshot under $table"))
    currentBranch(spark, table) match {
      case Some((b, fork)) => writeBranchRef(spark, table, b, fork,
        Some(latest), create = false)
      case None =>
        if (!fsOf(spark, table).exists(mainRefPath(table)))
          writeMainRef(spark, table, latest)
    }
  }

  /** Mark branch `name` checked out (head unpinned); `main` checked out =
    * ref-main deleted.
    */
  private[graft] def setCheckedOut(spark: SparkSession, table: String,
                                   name: String): Unit =
    if (name == "main") {
      fsOf(spark, table).delete(mainRefPath(table), false): Unit
    } else {
      val b = branches(spark, table).getOrElse(name,
        throw new IllegalArgumentException(s"no branch `$name` under $table"))
      writeBranchRef(spark, table, name, b.fork, None, create = false)
    }

  /** Fork branch `name` at the LATEST snapshot and check it out; the
    * previous holder (main or another branch) pins its head. Returns the
    * fork id. To fork from a ref other than the working tree, check that
    * ref out first ([[graft.ops.Layout.checkoutBranch]]) — the fork point
    * is always the tree you are on, the git posture.
    */
  def createBranch(spark: SparkSession, table: String, name: String): Int = {
    branchPath(table, name): Unit // name validation BEFORE any side effect
    // The ref-model invariant (at most ONE unpinned ref) is multi-file
    // state: serialize ref transitions on the table lock — two concurrent
    // creates of DIFFERENT names would otherwise both pass the duplicate
    // check and leave two checked-out refs sharing one working tree.
    FsMaint.withTableLock(fsOf(spark, table), table) {
      val fork = latestId(spark, table).getOrElse(
        throw new IllegalStateException(
          s"no manifest snapshot under $table — nothing to branch"))
      require(!branches(spark, table).contains(name),
        s"branch `$name` already exists under $table")
      require(taggedId(spark, table, name).isEmpty,
        s"a tag `$name` exists — the branch would shadow it in VERSION AS OF")
      pinCurrentHolder(spark, table)
      writeBranchRef(spark, table, name, fork, None, create = true)
      fork
    }
  }

  /** Fast-forward merge: `main` advances to the CHECKED-OUT branch's head
    * (pure metadata — the head IS the physical latest; the ref drops and
    * main takes over the working tree). A dormant branch must be checked
    * out first: merging a tree you are not on is not a fast-forward.
    * Returns the new main head id.
    */
  def fastForward(spark: SparkSession, table: String, name: String): Int = {
    val fs = fsOf(spark, table)
    // Same ref-transition serialization as createBranch/checkout.
    FsMaint.withTableLock(fs, table) {
      val b = branches(spark, table).getOrElse(name,
        throw new IllegalArgumentException(
          s"no branch `$name` under $table (branches: " +
            s"${branches(spark, table).keys.toSeq.sorted.mkString(", ")})"))
      require(b.head.isEmpty,
        s"branch `$name` is not checked out (head pinned at " +
          s"snapshot-${b.head.get}) — CALL graft.system.checkout_branch " +
          "first; fast-forward merges the tree you are on")
      // NON-fast-forward guard: main's pinned STATE must still be the
      // branch's fork state — if main advanced after the fork (checkout
      // main, commit, checkout back), deleting its pin would silently
      // discard those trunk commits behind a merge that claims to be a
      // fast-forward. Git refuses exactly this; so do we. Compared by
      // state (file set + vector), not id: checkout round-trips create
      // restore commits whose ids differ from the fork while the content
      // is identical — those must still fast-forward.
      mainRefHead(spark, table)
        .filter(m => m != b.fork && !sameTableState(spark, table, m, b.fork))
        .foreach { m =>
          throw new IllegalArgumentException(
            s"fast_forward(`$name`) is not a fast-forward: main advanced to " +
              s"snapshot-$m after the branch forked at snapshot-${b.fork} — " +
              "main's commits would be silently discarded; abandon the " +
              "branch, or re-fork it from the current main")
        }
      val head = latestId(spark, table).get
      fs.delete(branchPath(table, name), false): Unit
      // main takes over the working tree: its pin releases (main = latest).
      fs.delete(mainRefPath(table), false): Unit
      // A logical pointer at the merged (now dropped) branch is stale —
      // clear it so the latest view serves main.
      if (logicalRef(spark, table).contains(name))
        setLogicalRef(spark, table, None)
      head
    }
  }

  /** Drop branch `name`'s ref file only — [[graft.ops.Layout.abandonBranch]]
    * is the public abandon (it restores main's head FIRST when the branch
    * is checked out; dropping the ref alone would silently fast-forward).
    */
  private[graft] def dropBranchRef(spark: SparkSession, table: String,
                                   name: String): Boolean =
    fsOf(spark, table).delete(branchPath(table, name), false)
}
