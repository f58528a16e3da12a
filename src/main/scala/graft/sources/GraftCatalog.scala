package graft.sources

import graft.ops.{FilePlanner, Manifest}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL time travel for the table format — a READ-ONLY `TableCatalog`
  * exposing manifested parquet dirs as catalog tables, so `VERSION AS OF`
  * composes in plain SQL (the Delta/Iceberg posture on this engine's
  * snapshots):
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
  * spark.sql("SELECT * FROM graft.`/data/docs`")                  -- latest snapshot
  * spark.sql("SELECT * FROM graft.`/data/docs` VERSION AS OF 3")  -- time travel
  * }}}
  *
  * The identifier IS the table directory (one backquoted part). Each load
  * resolves the requested snapshot's file list (live files + replaced
  * originals through the retained trash) and hands Spark a NATIVE v2
  * parquet table over exactly those files, pinned to the snapshot's
  * recorded schema — so the scan is the stock vectorized parquet read with
  * full filter/column pushdown, and additive evolution reads historically
  * (old snapshots see their own columns). Mutations go through the engine
  * APIs, never SQL DDL — every write surface here throws. The change feed
  * is read through `spark.read.format("graft")` (`changesFrom`/`changesTo`);
  * a feed has its own schema (the change tag), which is a read option, not
  * a catalog table.
  */
final class GraftCatalog extends TableCatalog with ProcedureCatalog {

  private var catalogName: String = "graft"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  override def name(): String = catalogName

  private def pathOf(ident: Identifier): String = {
    require(ident.namespace.isEmpty,
      s"graft catalog identifiers are single-part table DIRECTORIES " +
        s"(backquote the path): got namespace ${ident.namespace.mkString(".")}")
    ident.name
  }

  private def tableFor(ident: Identifier, version: Option[Int]): Table = {
    val spark = SparkSession.active
    val path = pathOf(ident)
    // The LATEST view serves the EFFECTIVE head: the logically checked-out
    // ref's pinned head while a metadata-only checkout is active (branch
    // switching is a ref-pointer write — zero data movement; files resolve
    // through the retained trash like any snapshot read), else the latest
    // snapshot.
    val id = version.getOrElse(Manifest.effectiveHeadId(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"no manifest snapshot under $path — run Manifest.create, or read the " +
          "dir directly with spark.read.parquet")))
    // Merge-on-read deletes: the stock vectorized parquet scan served here
    // cannot apply a position-delete sidecar itself — the table instead
    // CARRIES the sidecar dir, and the extension rule
    // ([[GraftDvReadRule]]) rewrites every read of a DV-bearing relation
    // into the V1 parquet scan (same descriptor file index, full pushdown,
    // `_metadata.row_index` support) with the sidecar anti-join directly
    // above it — so SQL reads never resurrect deleted rows, with or
    // without `CALL graft.system.compact_deletes`.
    val dvPaths = Manifest.dvPathsOf(spark, path, id)
    // Guard the EXTENSION-LESS session: without GraftDvReadRule a read of
    // this table would serve the raw scan and RESURRECT deleted rows —
    // refuse at load, exactly like the pre-rule catalog did. The check
    // rides the STATIC conf (it cannot be set after session build, so its
    // presence proves the extensions were applied); sessions installing
    // the extensions programmatically must also carry the conf.
    if (dvPaths.isDefined && !spark.conf.get("spark.sql.extensions", "")
        .contains("graft.GraftExtensions"))
      throw new UnsupportedOperationException(
        s"graft.`$path` snapshot-$id carries a deletion-vector sidecar and " +
          "this session lacks the graft extensions (set " +
          "spark.sql.extensions=graft.GraftExtensions at session BUILD — " +
          "analyzer rules cannot attach later): a raw read would resurrect " +
          "deleted rows. Alternatively fold the vector with " +
          s"CALL graft.system.compact_deletes('$path')")
    val files = Manifest.snapshotFiles(spark, path, id)
    val logical: Option[StructType] = Manifest.storedSchema(spark, path, id)
    // Descriptor plan handoff: snapshots carrying per-file byte lengths
    // (n_bytes) let the served table build its scan's file index from the
    // manifest's own descriptors — zero filesystem listing at plan time.
    // Keyed by the trash-stripped RELATIVE path ([[GraftPathKey]]): names
    // alone collide across partition dirs, and trash-resolved paths still
    // match (the trash layout preserves the k=v/ segments).
    val snapFrame = Manifest.snapshotDF(spark, path, id)
    val sizes: Option[Map[String, Long]] =
      if (!snapFrame.columns.contains("n_bytes")) None
      else {
        val rows = Manifest.plannedRows(snapFrame.select("file", "n_bytes"), path,
          "descriptor planning")
        if (rows.isEmpty || rows.exists(_.isNullAt(1))) None
        else Some(rows.map(r =>
          GraftPathKey.of(path, Manifest.decodePath(r.getString(0))) ->
            r.getLong(1)).toMap)
      }
    // SQL-plan-time FILE SKIPPING: the scan's pushed data filters pick files
    // through the same planner the Scala path uses (min/max stats plus one
    // bloom probe over the snapshot frame — on the driver when the snapshot
    // is cached, else distributed, so an uncached snapshot's sketches are
    // never collected), keyed like the descriptors.
    val pick = (filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
      FilePlanner.pick(snapFrame, path, filters).map(_.iterator.map(f =>
        GraftPathKey.of(path, Manifest.decodePath(f))).toSet)
    // Rename indirection: files carry PHYSICAL column names; the served
    // table reports the snapshot's LOGICAL names and the scan layer
    // translates (GraftRenamedTable / RenamingScanBuilder).
    val renames = Manifest.physicalNames(spark, path, id)
    val physSchema = logical.map(Manifest.toPhysicalSchema(_, renames))
    // GraftParquetTable computes partition values itself (trash-retained
    // files carry the same k=v identity as live ones once the trash
    // segment is stripped — Spark's own directory inference would reject
    // the two roots as conflicting).
    if (version.isEmpty)
      // The LATEST view is writable: INSERT INTO / DELETE FROM (and MERGE
      // INTO via the extension rule) route to the engine's COW machinery.
      new GraftMutableTable(s"$catalogName.$path@v$id", spark,
        files.toIndexedSeq, path, physSchema, renames, sizes, dvPaths, pick)
    else {
      val base = new GraftParquetTable(s"$catalogName.$path@v$id", spark,
        CaseInsensitiveStringMap.empty(), files.toIndexedSeq, path, physSchema,
        sizes, dvPaths, pick)
      if (renames.isEmpty) base else new GraftRenamedTable(base, renames)
    }
  }

  /** Introspection suffixes (the Iceberg metadata-table posture):
    * `graft.`/t$history`` — one row per retained snapshot (id, files,
    * rows, commit instant, stats keys; [[Manifest.history]]);
    * `graft.`/t$files`` — the LATEST snapshot's per-file stats served as a
    * native parquet scan over the snapshot itself (rows ∝ file count, so
    * it stays a distributed scan, never a driver materialization; bloom
    * sketch columns are pruned from the read schema);
    * `graft.`/t$tags`` — the named refs (tag → snapshot id);
    * `graft.`/t$refs`` — the whole ref model (main / active branch / tags).
    */
  private def metaTableFor(path: String, suffix: String): Table = {
    val spark = SparkSession.active
    suffix match {
      case "history" =>
        new GraftMetaTable(s"$catalogName.$path$$history",
          Manifest.history(spark, path))
      case "tags" =>
        import spark.implicits._
        new GraftMetaTable(s"$catalogName.$path$$tags",
          Manifest.tags(spark, path).toSeq.sortBy(_._1)
            .toDF("tag", "snapshot"))
      case "refs" =>
        // The whole ref model in one view: main (trunk — its pinned head
        // while not checked out, else the latest), every branch (a
        // checked-out branch's head = the physical latest, a dormant one's
        // = its pinned head), and every tag.
        import spark.implicits._
        val latest = Manifest.latestSnapshotId(spark, path).getOrElse(
          throw new IllegalArgumentException(
            s"no manifest snapshot under $path — nothing to introspect"))
        val rows =
          Seq(("main", "trunk",
            Manifest.mainRefHead(spark, path).getOrElse(latest))) ++
          Manifest.branches(spark, path).toSeq.sortBy(_._1)
            .map { case (b, ref) => (b, "branch", ref.head.getOrElse(latest)) } ++
          Manifest.tags(spark, path).toSeq.sortBy(_._1)
            .map { case (t, id) => (t, "tag", id) }
        new GraftMetaTable(s"$catalogName.$path$$refs",
          rows.toDF("ref", "kind", "snapshot"))
      case "files" =>
        val id = Manifest.latestSnapshotId(spark, path).getOrElse(
          throw new IllegalArgumentException(
            s"no manifest snapshot under $path — nothing to introspect"))
        val snapDir = s"$path/_graft_manifest/snapshot-$id"
        val fs = new org.apache.hadoop.fs.Path(snapDir)
          .getFileSystem(spark.sessionState.newHadoopConf())
        val parts = fs.listStatus(new org.apache.hadoop.fs.Path(snapDir))
          .collect { case st if st.isFile &&
            st.getPath.getName.startsWith("part-") && st.getLen > 0 =>
            st.getPath.toUri.getPath }.toIndexedSeq
        val lean = StructType(spark.read.parquet(snapDir).schema.fields
          .filterNot(_.name.startsWith("bloom_")).toIndexedSeq)
        new GraftParquetTable(s"$catalogName.$path$$files@v$id", spark,
          CaseInsensitiveStringMap.empty(), parts, snapDir, Some(lean))
      case other => throw new IllegalArgumentException(
        s"unknown graft metadata table `$$${other}` — available: " +
          MetaSuffixes.toSeq.sorted.map("$" + _).mkString(", "))
    }
  }

  private val MetaSuffixes = Set("history", "files", "tags", "refs")

  override def loadTable(ident: Identifier): Table = {
    val name = pathOf(ident)
    val cut = name.lastIndexOf('$')
    // Only the KNOWN suffixes route to introspection — a directory whose
    // path legitimately contains '$' stays loadable as an ordinary table.
    if (cut > 0 && MetaSuffixes(name.drop(cut + 1)))
      metaTableFor(name.take(cut), name.drop(cut + 1))
    else tableFor(ident, None)
  }

  /** `VERSION AS OF <n | 'ref'>` — the analyzer routes the version string
    * here: an integer is a snapshot id; `main` is the trunk ref (its
    * pinned head while not checked out, else the latest snapshot); a
    * branch name is the branch head (the physical latest when checked
    * out, its pinned head when dormant); anything else resolves as a
    * snapshot TAG (`Manifest.tag` / `CALL graft.system.tag`).
    */
  override def loadTable(ident: Identifier, version: String): Table =
    tableFor(ident, Some(version.toIntOption.getOrElse {
      val spark = SparkSession.active
      val path = pathOf(ident)
      Manifest.resolveRef(spark, path, version).getOrElse(
        throw new IllegalArgumentException(
          s"graft VERSION AS OF: `$version` is neither a snapshot id, a " +
            s"ref (main${Manifest.branches(spark, path).keys.toSeq.sorted
              .map(", " + _).mkString}), nor an " +
            s"existing tag (tags: ${Manifest.tags(spark, path)
              .keys.toSeq.sorted.mkString(", ")})"))
    }))

  /** `TIMESTAMP AS OF <t>` — resolved against each snapshot's PUBLISH
    * instant (the explicit `_committed_at` marker each commit writes just
    * before its publish rename — the same identity [[Manifest.history]]
    * reports): the newest snapshot committed at or before `t`. The
    * analyzer hands micros since epoch.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val spark = SparkSession.active
    val path = pathOf(ident)
    val id = Manifest.snapshotIdAsOfTime(spark, path, timestamp / 1000L)
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot under $path committed at or before " +
          s"${java.time.Instant.ofEpochMilli(timestamp / 1000L)} — the oldest " +
          "retained snapshot is newer (or none exist); TIMESTAMP AS OF " +
          "reaches only retained history"))
    tableFor(ident, Some(id))
  }

  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array.empty // paths are the namespace; there is nothing to enumerate

  /** Only the TYPED not-a-table signals mean "does not exist"
    * (IllegalArgumentException: multi-part identifier or no manifest
    * snapshot; IllegalStateException: stale/absent manifest state). A
    * transient IO or permission failure PROPAGATES — reporting it as
    * "table does not exist" would route callers (e.g. INSERT-path existence
    * checks) down the wrong branch on infrastructure errors.
    */
  override def tableExists(ident: Identifier): Boolean =
    try { loadTable(ident); true }
    catch {
      case _: IllegalArgumentException => false
      case _: IllegalStateException => false
    }

  private def readOnly(op: String): Nothing =
    throw new UnsupportedOperationException(
      s"graft catalog does not support $op — use the engine APIs " +
        "(Layout rewrites, Manifest.create*) for layout/profile changes")

  /** `CREATE TABLE graft.`/dir`` (incl. CTAS): bootstraps an EMPTY
    * manifested table ([[Manifest.createEmpty]] — zero file rows, recorded
    * schema, stats columns validated NOW). The stats key columns come from
    * the REQUIRED table property `graft.keys` (comma-separated) — the
    * manifest is what makes every later DML statement targeted, so a table
    * without keys would be a trap. CTAS's SELECT then lands as an ordinary
    * INSERT (appended files + incremental snapshot). Hive-partitioned
    * CREATE is not wired (partition via `Layout.partitionByColumn` after
    * load).
    */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      "graft CREATE TABLE does not take PARTITIONED BY — load flat, then " +
        "Layout.partitionByColumn (the layout is a rewrite concern, not DDL)")
    val keys = Option(properties.get("graft.keys")).map(_.trim).filter(_.nonEmpty)
      .getOrElse(throw new IllegalArgumentException(
        "graft CREATE TABLE requires TBLPROPERTIES('graft.keys'='<col>[,<col>…]') " +
          "— the manifest stats keys that make DML statements targeted"))
      .split(',').map(_.trim).toSeq
    val spark = SparkSession.active
    val path = pathOf(ident)
    Manifest.createEmpty(spark, path, schema, keys)
    loadTable(ident)
  }

  /** `ALTER TABLE graft.`/dir`` ADD COLUMN / DROP COLUMN / ALTER COLUMN
    * TYPE` — the statement surface of [[Manifest.updateSchema]]'s
    * metadata-only schema evolution: ONE snapshot commit records the new
    * schema (stats rows carried verbatim, zero data files touched), adds
    * must be nullable, type changes must be reader-safe widenings, and
    * key/bloom-bearing drops are refused — all enforced by the engine, so
    * the SQL surface inherits exactly the library's contract. Time travel
    * still returns each snapshot's own schema. Anything beyond
    * add/drop/widen (renames, comments, property edits) fails typed.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val spark = SparkSession.active
    val path = pathOf(ident)
    val id = Manifest.latestSnapshotId(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"ALTER TABLE graft.`$path`: no manifest snapshot — not a " +
          "graft-managed table"))
    val old = Manifest.storedSchema(spark, path, id).getOrElse(
      throw new IllegalStateException(
        s"snapshot-$id under $path predates schema recording — run " +
          "Manifest.create once before ALTER TABLE"))
    def topLevel(field: Array[String], what: String): String = {
      require(field.length == 1,
        s"ALTER TABLE $what on nested field `${field.mkString(".")}` is not " +
          "supported — graft evolution is top-level columns only")
      field.head
    }
    // RENAME COLUMN is its own metadata commit (it moves the logical→
    // physical map, which updateSchema's add/drop/widen path never touches).
    changes match {
      case Seq(r: TableChange.RenameColumn) =>
        Manifest.renameColumn(spark, path,
          topLevel(r.fieldNames, "RENAME COLUMN"), r.newName)
        return loadTable(ident)
      case _ => ()
    }
    val evolved = changes.foldLeft(old) {
      case (schema, a: TableChange.AddColumn) =>
        val name = topLevel(a.fieldNames, "ADD COLUMN")
        require(a.isNullable,
          s"added column `$name` must be nullable — it is absent from " +
            "every existing file and reads as NULL")
        require(!schema.fieldNames.contains(name), s"column exists: $name")
        schema.add(org.apache.spark.sql.types.StructField(
          name, a.dataType, nullable = true))
      case (schema, d: TableChange.DeleteColumn) =>
        val name = topLevel(d.fieldNames, "DROP COLUMN")
        require(schema.fieldNames.contains(name), s"no such column: $name")
        StructType(schema.fields.filterNot(_.name == name))
      case (schema, t: TableChange.UpdateColumnType) =>
        val name = topLevel(t.fieldNames, "ALTER COLUMN TYPE")
        require(schema.fieldNames.contains(name), s"no such column: $name")
        StructType(schema.fields.map(f =>
          if (f.name == name) f.copy(dataType = t.newDataType) else f))
      case (_, other) =>
        readOnly(s"ALTER TABLE ${other.getClass.getSimpleName} — only ADD " +
          "COLUMN (nullable), DROP COLUMN, and ALTER COLUMN TYPE " +
          "(widening) evolve without a rewrite")
    }
    // One metadata-only commit for the whole statement; updateSchema
    // re-validates widenings and key/bloom-bearing drops against the
    // LATEST snapshot under its own CAS.
    Manifest.updateSchema(spark, path, evolved)
    loadTable(ident)
  }

  /** `DROP TABLE graft.`/dir``: removes the table DIRECTORY (data +
    * manifest + retained trash) under the table lock — refuses typed while
    * a COW/rewrite swap window is open, and only drops graft-MANAGED dirs
    * (a manifest must exist; dropping an arbitrary parquet dir through the
    * catalog would be an unguarded filesystem delete).
    */
  override def dropTable(ident: Identifier): Boolean = {
    val spark = SparkSession.active
    val path = pathOf(ident)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new org.apache.hadoop.fs.Path(path))) return false
    if (Manifest.latestSnapshotId(spark, path).isEmpty)
      throw new IllegalArgumentException(
        s"DROP TABLE graft.`$path` refused: no manifest — not a graft-managed " +
          "table (delete the directory explicitly if that is really intended)")
    graft.ops.FsMaint.withTableLock(fs, path) {
      graft.ops.FsMaint.deleteRecursively(fs,
        new org.apache.hadoop.fs.Path(path))
      // Sibling coordination state MUST die with the table: a crashed
      // rewrite's `__old` / COW journals / staging dirs left beside the
      // path would otherwise be "healed" INTO a future CREATE TABLE at the
      // same path (recoverSwap would merge the dead table's snapshots and
      // salvage its data files into the new table).
      Seq("__old", "__compacting", "__delnew", "__delold", "__deleting",
        "__deleting__tmp", "__delnewp", "__deletingp", "__deletingp__tmp")
        .foreach(sfx => graft.ops.FsMaint.deleteRecursively(fs,
          new org.apache.hadoop.fs.Path(path + sfx)))
    }
    true
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    readOnly("RENAME TABLE")

  /** `CALL graft.system.<proc>(…)` — see [[GraftProcedures]]. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.list(namespace)
}
