package graft.ops

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** Shared Hadoop-FileSystem maintenance primitives for on-disk stores the
  * engine rewrites in place — the durable dedup index's state dirs and the
  * [[Layout]] table-maintenance jobs. Everything goes through the
  * `FileSystem` resolved from the store's URI, so the same code runs on
  * local disk, HDFS, or an HCFS object-store connector (on S3A a "rename"
  * is a non-atomic copy+delete — see the swap contract below).
  *
  * Swap contract (two renames): the rewritten store is staged at
  * `<path>__compacting`, then `<path>` → `<path>__old`, stage → `<path>`,
  * delete `<path>__old`. The window between the renames (store moved
  * aside, replacement not yet in place) is healed by [[recoverSwap]],
  * which every reader/rewriter runs first: a `__old` next to a MISSING
  * store is moved back; a `__old` next to a live store or a stray stage
  * dir is stale output and is deleted. Single-writer per store by
  * contract.
  */
private[graft] object FsMaint {

  /** Recursive walk of every file under `dir` via per-directory
    * `listStatus` — NEVER `FileSystem.listFiles(dir, recursive)`: the
    * default `listFiles` materializes BLOCK LOCATIONS per file, which on
    * the local/checksum FS stack costs ~5 ms PER FILE (measured in round
    * 19: 2.4 s for a 512-file tree vs 27 ms for this walk), and
    * every caller here needs names and lengths only. `visit` returns
    * whether to CONTINUE, so existence probes stop at the first hit.
    * A directory vanishing mid-walk (concurrent maintenance) is treated as
    * empty, matching the iterator semantics this replaces. Returns false
    * iff the walk was aborted by `visit`.
    *
    * Depth-first in listing order, with an explicit stack of open listings
    * instead of recursion: a deep tree costs heap, never the thread stack.
    */
  def walkFiles(fs: FileSystem, dir: Path)(visit: FileStatus => Boolean): Boolean = {
    def statuses(d: Path): Iterator[FileStatus] =
      try fs.listStatus(d).iterator
      catch { case _: java.io.FileNotFoundException => Iterator.empty }
    val open = scala.collection.mutable.Stack(statuses(dir))
    while (open.nonEmpty) {
      val it = open.top
      if (!it.hasNext) open.pop()
      else {
        val st = it.next()
        if (st.isDirectory) open.push(statuses(st.getPath))
        else if (!visit(st)) return false
      }
    }
    true
  }

  /** Non-empty data files under `dir`, recursively (metadata-only). */
  def hasDataFiles(fs: FileSystem, dir: Path): Boolean =
    !walkFiles(fs, dir)(f =>
      !(f.getPath.getName.startsWith("part-") && f.getLen > 0))

  /** Is `p` under a hidden (`_`/`.`-prefixed) directory relative to
    * `base`? Hidden dirs hold metadata (manifest snapshots, retained
    * trash) that Spark's reader ignores — sizing and file-count signals
    * must ignore them too, or a `part-…` file inside a manifest snapshot
    * counts as table data.
    */
  private def underHiddenDir(base: Path, p: Path): Boolean = {
    val rel = p.toUri.getPath.stripPrefix(base.toUri.getPath)
    rel.split('/').dropRight(1).exists(s => s.startsWith("_") || s.startsWith("."))
  }

  /** Count of non-empty data files under `dir` (metadata-only) — the
    * append-debt signal compaction policies key on.
    */
  def dataFileCount(fs: FileSystem, dir: Path): Long = {
    var n = 0L
    walkFiles(fs, dir) { f =>
      if (f.getPath.getName.startsWith("part-") && f.getLen > 0 &&
        !underHiddenDir(dir, f.getPath)) n += 1
      true
    }
    n
  }

  /** Total bytes across data files under `dir` (metadata-only). */
  def totalDataBytes(fs: FileSystem, dir: Path): Long = {
    var b = 0L
    walkFiles(fs, dir) { f =>
      if (f.getPath.getName.startsWith("part-") && f.getLen > 0 &&
        !underHiddenDir(dir, f.getPath)) b += f.getLen
      true
    }
    b
  }

  /** Recursive file listing under `root` as (root-relative path, status)
    * pairs — THE shared walk behind every relative-path identity in the
    * storage layer (trash retention and resolution, vacuum reachability,
    * staged-commit enumeration), so the convention lives in one place.
    */
  def listRelative(fs: FileSystem, root: Path)(
      pred: FileStatus => Boolean): Seq[(String, FileStatus)] = {
    val rootAbs = root.toUri.getPath.stripSuffix("/")
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, FileStatus)]
    walkFiles(fs, root) { f =>
      if (f.isFile && pred(f))
        out += f.getPath.toUri.getPath.stripPrefix(rootAbs + "/") -> f
      true
    }
    out.toSeq
  }

  /** Heal an interrupted [[swapIn]] for `path` (see the swap contract).
    * The old-next-to-LIVE-store branch (crash between the second rename and
    * the final delete) FORWARD-COMPLETES the interrupted swap instead of
    * discarding `__old`: the carry-over metadata (`_graft_manifest`,
    * `_graft_trash`) is moved/merged into the live store if the crash
    * preceded the carry, and — when the live store has snapshot history
    * that may reference them — the replaced data files are salvaged into
    * the retained trash rather than deleted (a crash mid-retention would
    * otherwise silently discard files whose snapshots remain "retained",
    * leaving readability diverged from retention reporting). Stores with
    * no manifest (dedup-index state dirs) keep the old delete-only
    * behavior: nothing can ever read their history.
    */
  def recoverSwap(fs: FileSystem, path: String): Unit = {
    val dir = new Path(path)
    val old = new Path(path + "__old")
    if (fs.exists(old) && !fs.exists(dir)) {
      if (!fs.rename(old, dir))
        throw new java.io.IOException(s"failed to restore $path from interrupted swap")
    } else if (fs.exists(old)) {
      // Forward-complete the carry: metadata still inside __old means the
      // crash hit between the swap and swapIn's carry loop.
      // Every move here THROWS on a failed rename: the unconditional
      // deleteRecursively(old) below would otherwise destroy exactly the
      // files this branch exists to preserve.
      Seq("_graft_manifest", "_graft_trash").foreach { name =>
        val src = new Path(old, name)
        val dst = new Path(dir, name)
        if (fs.exists(src)) {
          if (!fs.exists(dst)) {
            if (!fs.rename(src, dst))
              throw new java.io.IOException(s"swap heal: failed to carry $name")
          } else listRelative(fs, src)(_ => true).foreach { case (rel, st) =>
            val d = new Path(dst, rel)
            fs.mkdirs(d.getParent)
            if (!fs.exists(d) && !fs.rename(st.getPath, d))
              throw new java.io.IOException(s"swap heal: failed to merge $name/$rel")
          }
        }
      }
      // Salvage replaced originals into the trash when snapshot history
      // exists to reference them (idempotent: skip-if-exists).
      if (fs.exists(new Path(dir, "_graft_manifest"))) {
        val trash = new Path(dir, "_graft_trash")
        listRelative(fs, old)(f =>
          f.getPath.getName.startsWith("part-") && f.getLen > 0 &&
            !underHiddenDir(old, f.getPath)).foreach { case (rel, st) =>
          val d = new Path(trash, rel)
          fs.mkdirs(d.getParent)
          if (!fs.exists(d) && !fs.rename(st.getPath, d))
            throw new java.io.IOException(s"swap heal: failed to salvage $rel")
        }
      }
      deleteRecursively(fs, old)
    }
    val tmp = new Path(path + "__compacting")
    if (fs.exists(tmp)) deleteRecursively(fs, tmp)
  }

  /** Swap the staged rewrite at `tmp` into `path` via two renames.
    * `carryOver` names subdirectories of the OLD store (e.g. the
    * `_graft_manifest` snapshot history) to move into the new store before
    * the old one is deleted — metadata that must survive a data rewrite.
    * A crash between the swap and the carry loses only the carried
    * metadata (the next reader sees "no manifest", a loud re-create
    * signal), never data.
    *
    * `retainInto = Some(trashName)` additionally RETAINS the replaced
    * data files under `<path>/<trashName>/<relative-path>` (metadata
    * renames, PRESERVING `k=v/` partition structure) instead of deleting
    * them — what keeps pre-rewrite manifest snapshots time-travel-readable
    * through the trash, the same retention contract as the COW mutations.
    * Relative paths are unique within a table's lifetime (job-unique part
    * names), so collisions cannot occur by construction; the defensive
    * check remains as an all-or-nothing valve: on a collision the old
    * files are deleted as before and `false` is returned so the caller can
    * expire the now-unreadable snapshots rather than report retention it
    * cannot serve.
    */
  def swapIn(fs: FileSystem, path: String, tmp: String,
             carryOver: Seq[String] = Nil,
             retainInto: Option[String] = None): Boolean = {
    val dir = new Path(path)
    val old = new Path(path + "__old")
    deleteRecursively(fs, old)
    if (!fs.rename(dir, old))
      throw new java.io.IOException(s"swap: failed to move $path aside")
    if (!fs.rename(new Path(tmp), dir)) {
      fs.rename(old, dir) // roll back so the store stays readable
      throw new java.io.IOException(s"swap: failed to swap $tmp into $path")
    }
    carryOver.foreach { name =>
      val src = new Path(old, name)
      val dst = new Path(dir, name)
      if (fs.exists(src) && !fs.exists(dst)) { fs.rename(src, dst): Unit }
    }
    val retained = retainInto.exists { trashName =>
      val trash = new Path(dir, trashName)
      val files = listRelative(fs, old)(f =>
        f.getPath.getName.startsWith("part-") && f.getLen > 0 &&
          !underHiddenDir(old, f.getPath))
      // Batched metadata ops: ONE trash listing decides every collision
      // (instead of a per-file exists RPC), and parent dirs are created
      // once per distinct parent (instead of a per-file mkdirs) — the
      // retention pass costs one rename per replaced file plus O(dirs)
      // overhead, not 3 RPCs per file.
      val existing = listRelative(fs, trash)(_ => true).map(_._1).toSet
      val collisionFree = files.forall { case (rel, _) => !existing(rel) }
      if (collisionFree && files.nonEmpty) {
        files.map { case (rel, _) => new Path(trash, rel).getParent }
          .distinct.foreach(fs.mkdirs(_): Unit)
        files.foreach { case (rel, st) =>
          if (!fs.rename(st.getPath, new Path(trash, rel)))
            throw new java.io.IOException(s"swap: failed to retain $rel")
        }
      }
      collisionFree
    }
    deleteRecursively(fs, old)
    retained
  }

  def deleteRecursively(fs: FileSystem, p: Path): Unit =
    if (fs.exists(p)) { fs.delete(p, true): Unit }

  /** Atomically create `p` as an empty file — the CAS primitive the commit
    * protocols build on. Exactly one of N concurrent callers returns true:
    * O_EXCL creation on a local filesystem (`java.nio` createFile —
    * Hadoop's RawLocalFileSystem `create` is check-then-act, NOT atomic
    * across processes), the namenode's atomic exclusive create on HDFS
    * (`create` with overwrite = false).
    */
  def atomicCreate(fs: FileSystem, p: Path): Boolean =
    try {
      if (fs.getUri.getScheme == "file")
        java.nio.file.Files.createFile(
          java.nio.file.Paths.get(p.toUri.getPath)): Unit
      else fs.create(p, false).close()
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: java.io.IOException if fs.exists(p) => false
    }

  /** Lease for the table-level COW/rewrite lock: a lock file OLDER than
    * this belongs to a writer presumed crashed and may be broken by the
    * next writer (after journal healing restores the table). The lock is
    * held across staging + swap — Spark jobs, potentially minutes at
    * scale — so the lease is generous; `private[graft]` var only so specs
    * can exercise the break-in without sleeping.
    */
  private[graft] var tableLockLeaseMs: Long = 15 * 60 * 1000L

  def tableLockPath(path: String): Path = new Path(path + "__cowlock")

  /** Is a LIVE (within-lease) writer holding the table lock for `path`? */
  def liveTableLock(fs: FileSystem, path: String): Boolean = {
    val lock = tableLockPath(path)
    fs.exists(lock) &&
      System.currentTimeMillis() - fs.getFileStatus(lock).getModificationTime <=
        tableLockLeaseMs
  }

  /** Atomically BREAK a stale coordination file: rename it to a
    * caller-unique tombstone, then delete the tombstone. Of N concurrent
    * breakers exactly one rename succeeds (the source vanishes for the
    * rest) — a plain exists/delete would let a slow breaker's delete land
    * AFTER the winner already re-created the file, silently unlocking a
    * live successor. Losers simply fall through: the follow-up
    * atomic-create decides ownership either way.
    */
  def breakStale(fs: FileSystem, p: Path, tag: String): Unit = {
    val tomb = new Path(p.getParent, s"${p.getName}.broken-$tag")
    if (fs.rename(p, tomb)) fs.delete(tomb, false): Unit
  }

  /** Lock paths held by the CURRENT thread (driver-side bookkeeping):
    * [[graft.ops.Manifest]]'s commit path refuses snapshot commits while a
    * table's swap window is open, EXCEPT for the window's own recommit —
    * which runs on the thread that took the lock.
    */
  private val heldLocks = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }
  def holdsTableLock(path: String): Boolean =
    heldLocks.get.contains(tableLockPath(path).toString)

  /** How long a writer WAITS for a live table lock before the typed
    * refusal — the engine-level retry that lets a streaming sink trigger,
    * a scheduled compaction, and ad-hoc DML race the same table and ALL
    * eventually commit (each op re-reads the table state AFTER acquiring
    * the lock, so waiting writers always plan against the winner's
    * result). 0 restores the fail-fast posture (refuse typed immediately,
    * having touched nothing) — what the concurrency specs assert when
    * they need a deterministic loser. Bounded: past the deadline the
    * refusal is the same typed [[Manifest.ConcurrentCommitException]] as
    * before, so a wedged-but-within-lease holder can never hang callers
    * forever.
    */
  private[graft] var lockWaitMs: Long = 120000L

  /** Run `body` holding the exclusive table lock for `path` — the
    * serialization point for every job that swaps the table's data files
    * (COW DELETE/MERGE, compaction, re-clustering) and for trash-mutating
    * maintenance (vacuum). A live lock means a concurrent writer owns the
    * commit window: WAIT it out (bounded by [[lockWaitMs]], backoff-polled)
    * and then fail typed, having touched NOTHING — the waiting variant of
    * the optimistic-concurrency posture (every locked op re-reads the
    * table state inside the lock, so a writer that waited plans against
    * the winner's committed result). An expired lock (crashed holder) is
    * broken ATOMICALLY (see [[breakStale]]); the lock file carries a
    * holder token so release deletes only the holder's OWN lock (a
    * lease-breaker may have replaced it mid-body — the replaced holder
    * must not unlock the successor). The CALLER is responsible for running
    * its journal heal inside `body` (under the lock, a heal can never
    * stomp a live writer's state).
    */
  def withTableLock[T](fs: FileSystem, path: String)(body: => T): T = {
    val lock = tableLockPath(path)
    // REENTRANT within the owning thread: a locked job may compose another
    // locked primitive (e.g. an exactly-once merge delegating its pure-
    // insert branch to appendOnce) — the outer frame owns the commit
    // window, and releases it.
    if (holdsTableLock(path)) return body
    val token = java.util.UUID.randomUUID().toString
    val deadline = System.currentTimeMillis() + math.max(0L, lockWaitMs)
    var delay = 25L
    var acquired = false
    while (!acquired) {
      if (fs.exists(lock) && liveTableLock(fs, path)) {
        if (System.currentTimeMillis() >= deadline)
          throw new Manifest.ConcurrentCommitException(
            s"table commit on $path refused: another writer holds the " +
              s"commit lock ($lock) — a concurrent COW mutation, rewrite, or " +
              "vacuum owns the swap window; nothing was touched, re-run " +
              "after it completes")
        Thread.sleep(delay)
        delay = math.min(delay * 2, 2000L)
      } else {
        if (fs.exists(lock) && !liveTableLock(fs, path))
          breakStale(fs, lock, token.take(8)) // crashed holder past the lease
        if (atomicCreate(fs, lock)) acquired = true
        else if (System.currentTimeMillis() >= deadline)
          throw new Manifest.ConcurrentCommitException(
            s"table commit on $path refused: lost the commit-lock race " +
              s"($lock) to a concurrent writer; nothing was touched, re-run " +
              "after it completes")
        // lost the create race to a concurrent writer — loop back into the
        // wait (its lease is fresh, so the live branch paces the polling)
      }
    }
    // Stamp the holder token (also refreshes the lease clock). Safe to
    // overwrite: the path exists only because OUR atomic create made it.
    val out = fs.create(lock, true)
    try out.write(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val key = lock.toString
    heldLocks.set(heldLocks.get + key)
    try body
    finally {
      heldLocks.set(heldLocks.get - key)
      val mine =
        try {
          val in = fs.open(lock)
          try new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8) == token
          finally in.close()
        } catch { case _: java.io.IOException => false }
      if (mine) fs.delete(lock, false): Unit
    }
  }
}
