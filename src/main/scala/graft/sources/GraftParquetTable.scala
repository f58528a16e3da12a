package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, ExprId, Expression, GenericInternalRow}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.execution.datasources.{FileFormat, FileStatusCache, PartitionDirectory, PartitionPath, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetUtils}
import org.apache.spark.sql.execution.datasources.v2.FileTable
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** A read-only v2 parquet table over an EXACT file list — what the SQL
  * catalog serves for a snapshot read. Differs from Spark's own
  * `ParquetTable` in one load-bearing way: the partition values are
  * computed HERE (from each file's directory path relative to the table
  * root, with the retained-trash segment stripped), not inferred by
  * walking directory structures — a time-travel read mixes live files
  * (`<table>/k=v/f`) with trash-retained ones (`<table>/_graft_trash/k=v/f`),
  * which Spark's inference rejects as conflicting roots, while both shapes
  * carry the SAME partition identity once the trash segment is ignored.
  * The scan itself is the stock vectorized `ParquetScanBuilder` (full
  * filter/column pushdown); the explicit file list means newer appends or
  * COW rewrites never leak into a pinned snapshot.
  */
class GraftParquetTable(
    tableName: String, spark: SparkSession, opts: CaseInsensitiveStringMap,
    files: Seq[String], val tableRoot: String,
    userSchema: Option[StructType],
    fileSizes: Option[Map[String, Long]] = None,
    val dvPaths: Option[Seq[String]] = None,
    pick: Seq[Expression] => Option[Set[String]] = _ => None)
  extends FileTable(spark, opts, files, userSchema) {

  override def name(): String = tableName
  override def formatName: String = "Parquet"
  override def fallbackFileFormat: Class[_ <: FileFormat] =
    classOf[ParquetFileFormat]

  override def inferSchema(fileStatuses: Seq[FileStatus]): Option[StructType] =
    ParquetUtils.inferSchema(spark, opts.asScala.toMap, fileStatuses)

  // NOTE: no DV guard here — the optimizer's V2ScanRelationPushDown builds
  // a scan for EVERY DSv2 relation including DML targets (whose scans never
  // execute; the engine rewrite reads through the vector on its own paths),
  // so a refusal at scan-build time would break DELETE/UPDATE/MERGE on
  // DV-bearing tables. The extension-less-session guard lives at catalog
  // LOAD time instead (GraftCatalog.tableFor).
  override def newScanBuilder(options: CaseInsensitiveStringMap): ParquetScanBuilder =
    ParquetScanBuilder(spark, fileIndex, schema, dataSchema, mergedOptions(options))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    throw new UnsupportedOperationException(
      s"$tableName is a read-only snapshot view — mutations go through the " +
        "engine APIs (Layout.deleteRange/mergeKeyed, appends + Manifest.create*)")

  /** Partition values per distinct parent directory, parsed from the
    * `k=v` segments of the dir's path relative to the table root (trash
    * segment stripped). Value types come from the recorded schema when one
    * exists; string and integral partition columns are supported (the
    * layout surface [[graft.ops.Layout.partitionByColumn]] produces).
    */
  private def partitionSpecOf(): PartitionSpec = {
    val rootAbs = new Path(tableRoot).toUri.getPath.stripSuffix("/")
    val trashAbs = rootAbs + "/_graft_trash"
    def segmentsOf(parent: Path): Seq[(String, String)] = {
      val abs = parent.toUri.getPath
      val rel =
        if (abs.startsWith(trashAbs)) abs.stripPrefix(trashAbs)
        else abs.stripPrefix(rootAbs)
      rel.split('/').filter(_.nonEmpty).toSeq.map { seg =>
        val i = seg.indexOf('=')
        require(i > 0, s"non-partition directory segment `$seg` under $tableRoot")
        (ExternalCatalogUtils.unescapePathName(seg.take(i)),
          ExternalCatalogUtils.unescapePathName(seg.drop(i + 1)))
      }
    }
    val parents = files.map(f => new Path(f).getParent).distinct
    val parsed = parents.map(p => p -> segmentsOf(p))
    if (parsed.forall(_._2.isEmpty)) return PartitionSpec.emptySpec
    val colNames = parsed.collectFirst { case (_, s) if s.nonEmpty => s.map(_._1) }.get
    parsed.foreach { case (p, s) =>
      require(s.map(_._1) == colNames,
        s"inconsistent partition columns under $tableRoot: $p has " +
          s"${s.map(_._1).mkString("/")}, expected ${colNames.mkString("/")}")
    }
    val types = colNames.map(c =>
      userSchema.flatMap(_.fields.find(_.name == c)).map(_.dataType)
        .getOrElse(StringType))
    def convert(v: String, dt: DataType): Any =
      if (v == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
      else dt match {
        case StringType => UTF8String.fromString(v)
        case LongType => java.lang.Long.valueOf(v)
        case IntegerType => java.lang.Integer.valueOf(v)
        case ShortType => java.lang.Short.valueOf(v)
        case ByteType => java.lang.Byte.valueOf(v)
        case DateType =>
          java.lang.Integer.valueOf(java.time.LocalDate.parse(v).toEpochDay.toInt)
        case other => throw new IllegalArgumentException(
          s"unsupported partition column type ${other.simpleString} " +
            s"for `$v` under $tableRoot")
      }
    val cols = StructType(colNames.zip(types).map { case (c, t) =>
      StructField(c, t, nullable = true) })
    val partitions = parsed.map { case (p, segs) =>
      PartitionPath(new GenericInternalRow(
        segs.zip(types).map { case ((_, v), t) => convert(v, t) }.toArray), p)
    }
    PartitionSpec(cols, partitions)
  }

  // NOT an InMemoryFileIndex: Spark's listing filters `_`-prefixed
  // directories, which would silently DROP every trash-retained file from
  // a historical read (a missing-data wrong answer). With per-file byte
  // lengths from the manifest (`n_bytes`, keyed by trash-stripped relative
  // path) the index is built from DESCRIPTORS ALONE — the driver materializes
  // one FileStatus per file with ZERO filesystem RPCs, the Iceberg-style
  // plan handoff: the distributed pruning's output IS the scan's partition
  // listing. Pre-n_bytes snapshots fall back to the exact listing index
  // (one listStatus per parent dir).
  override lazy val fileIndex: PartitioningAwareFileIndex = {
    val paths = files.map(new Path(_)).toIndexedSeq
    // Descriptor maps key on the trash-stripped RELATIVE path
    // ([[GraftPathKey]]) — bare names collide across partition dirs.
    val key = (p: Path) => GraftPathKey.of(tableRoot, p)
    fileSizes match {
      case Some(m) if paths.forall(p => m.contains(key(p))) =>
        new GraftDescriptorFileIndex(spark,
          paths.map(p => p -> m(key(p))), partitionSpecOf(), pick, key)
      case _ =>
        new GraftExactFileIndex(spark, paths, partitionSpecOf(), pick, key)
    }
  }
}

/** LOGICAL-name view over a physical-schema snapshot table — the read
  * surface of [[graft.ops.Manifest.renameColumn]]'s metadata-only rename.
  * The delegate [[GraftParquetTable]] is built with the files' PHYSICAL
  * column names (so the stock vectorized parquet scan resolves columns in
  * every file, old and new); this wrapper translates at the boundary:
  * `schema()` reports logical names, pruning and pushed filters translate
  * logical→physical on the way in, and the built scan's `readSchema()`
  * translates back so the scan's output attributes line up with the
  * relation's logical attrs. Row data is positional — a rename never
  * reorders or retypes — so the delegate's batches serve unchanged, with
  * full pushdown intact.
  */
final class GraftRenamedTable(val delegate: GraftParquetTable,
                              val renames: Map[String, String])
  extends org.apache.spark.sql.connector.catalog.Table
  with org.apache.spark.sql.connector.catalog.SupportsRead {
  private val inv = renames.map(_.swap)
  override def name(): String = delegate.name()
  override def schema(): StructType =
    StructType((delegate: org.apache.spark.sql.connector.catalog.Table)
      .schema().fields.map(f => f.copy(name = inv.getOrElse(f.name, f.name))))
  override def capabilities(): java.util.Set[org.apache.spark.sql.connector.catalog.TableCapability] =
    delegate.capabilities()
  override def newScanBuilder(options: CaseInsensitiveStringMap): org.apache.spark.sql.connector.read.ScanBuilder =
    new RenamingScanBuilder(delegate.newScanBuilder(options), renames)
}

/** The translating ScanBuilder behind [[GraftRenamedTable]] /
  * [[GraftMutableTable]]: logical names in (pruning, catalyst filters),
  * physical delegation, logical `readSchema` out.
  */
private[sources] final class RenamingScanBuilder(
    delegate: ParquetScanBuilder, renames: Map[String, String])
  extends org.apache.spark.sql.connector.read.ScanBuilder
  with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
  with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters {
  private val inv = renames.map(_.swap)
  private def toPhys(e: Expression): Expression = e.transform {
    case a: AttributeReference if renames.contains(a.name) =>
      a.withName(renames(a.name))
  }
  private def toLogical(e: Expression): Expression = e.transform {
    case a: AttributeReference if inv.contains(a.name) => a.withName(inv(a.name))
  }
  override def pruneColumns(requiredSchema: StructType): Unit =
    delegate.pruneColumns(StructType(requiredSchema.fields.map(f =>
      f.copy(name = renames.getOrElse(f.name, f.name)))))
  override def pushFilters(filters: Seq[Expression]): Seq[Expression] =
    // Residuals come back physical-named; translate back so the post-scan
    // Filter references the relation's logical output attrs.
    delegate.pushFilters(filters.map(toPhys)).map(toLogical)
  override def pushedFilters(): Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    delegate.pushedFilters // physical names in EXPLAIN — cosmetic only
  override def build(): org.apache.spark.sql.connector.read.Scan =
    new RenamingScan(delegate.build(), inv)
}

private[sources] final class RenamingScan(
    delegate: org.apache.spark.sql.connector.read.Scan,
    inv: Map[String, String])
  extends org.apache.spark.sql.connector.read.Scan
  with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  override def readSchema(): StructType =
    StructType(delegate.readSchema().fields.map(f =>
      f.copy(name = inv.getOrElse(f.name, f.name))))
  override def toBatch: org.apache.spark.sql.connector.read.Batch = delegate.toBatch
  override def description(): String = delegate.description()
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    delegate match {
      case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
        s.estimateStatistics()
      case _ => new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.empty()
        override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
      }
    }
}

/** Manifest-stats FILE SKIPPING for the catalog's file indexes: `pick`
  * hands a scan's pushed data filters to the shared planner
  * ([[graft.ops.FilePlanner]]) and gets back the keys ([[GraftPathKey]]) of
  * the files that can match — None when nothing constrains — so a
  * `SELECT ... WHERE key BETWEEN lo AND hi` PLANS only the overlapping
  * files, by exactly the rules the Scala path prunes with. Applied after
  * partition pruning; memoized per filter set, since one plan lists files
  * more than once — keyed by column NAME, because one statement can scan
  * the table through several relations whose attribute ids differ. The DV
  * read rewrite keeps the same index, so merge-on-read SQL scans skip
  * identically.
  */
private[sources] trait PlannedListing extends PartitioningAwareFileIndex {
  protected def pick: Seq[Expression] => Option[Set[String]]
  protected def keyOf: Path => String
  private val picked = TrieMap.empty[Seq[Expression], Option[Set[String]]]

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val base = super.listFiles(partitionFilters, dataFilters)
    val byName = dataFilters.map(_.transform {
      case a: AttributeReference => a.withExprId(ExprId(0)) })
    picked.getOrElseUpdate(byName, pick(dataFilters)).fold(base) { keep =>
      base.flatMap { pd =>
        val kept = pd.files.filter(f => keep(keyOf(f.getPath)))
        if (kept.isEmpty) None
        else if (kept.length == pd.files.length) Some(pd)
        else Some(pd.copy(files = kept))
      }
    }
  }
}

/** A [[PartitioningAwareFileIndex]] over caller-supplied (path, length)
  * DESCRIPTORS — zero filesystem calls at plan time. The manifest's
  * distributed pruning already knows every surviving file's exact byte
  * length (`n_bytes`, captured from `_metadata.file_size` at stats time),
  * so the driver holds nothing heavier than the partition descriptors
  * Spark's planner needs anyway; parquet readers locate footers by this
  * length, which is why exactness is load-bearing.
  */
private[graft] final class GraftDescriptorFileIndex(
    spark: SparkSession, entries: Seq[(Path, Long)], spec: PartitionSpec,
    protected val pick: Seq[Expression] => Option[Set[String]] = _ => None,
    protected val keyOf: Path => String = _.getName)
  extends PartitioningAwareFileIndex(spark, Map.empty, None,
    FileStatusCache.getOrCreate(spark)) with PlannedListing {

  // FileStatus paths are FS-QUALIFIED at construction (scheme + authority
  // — pure string work against the cached FileSystem object, zero RPCs).
  // The parent map registers BOTH key forms: the unpartitioned allFiles()
  // path qualifies each root before its lookups, while the partitioned
  // listFiles() path looks up the partition spec's dirs AS GIVEN (which
  // may be unqualified, e.g. a trash-resolved `k=v` dir) — one key form
  // alone silently drops whichever lookup style misses.
  private val byParent: Map[Path, Array[FileStatus]] = {
    val conf = spark.sessionState.newHadoopConf()
    entries.groupBy(_._1.getParent).flatMap { case (parent, es) =>
      val fs = parent.getFileSystem(conf)
      val statuses = es.map { case (p, len) =>
        new FileStatus(len, false, 1, 128L << 20, 0L, fs.makeQualified(p))
      }.toArray
      Seq(parent -> statuses, fs.makeQualified(parent) -> statuses)
    }
  }

  override def partitionSpec(): PartitionSpec = spec
  // LAZY VAL, not def: allFiles() consults leafFiles once per ROOT PATH —
  // per-file roots with a rebuilt map would be O(files^2) at plan time.
  override protected lazy val leafFiles: scala.collection.mutable.LinkedHashMap[Path, FileStatus] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[Path, FileStatus]
    byParent.valuesIterator.flatten.foreach(st => m(st.getPath) = st)
    m
  }
  override protected def leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    byParent
  override def rootPaths: Seq[Path] = entries.map(_._1)
  override def refresh(): Unit = ()
}

/** A [[PartitioningAwareFileIndex]] over an EXPLICIT file list with a
  * caller-supplied partition spec — no directory walking, no hidden-path
  * filtering, no inference. Exactly the snapshot's files, wherever they
  * live.
  */
private[sources] final class GraftExactFileIndex(
    spark: SparkSession, filePaths: Seq[Path], spec: PartitionSpec,
    protected val pick: Seq[Expression] => Option[Set[String]] = _ => None,
    protected val keyOf: Path => String = _.getName)
  extends PartitioningAwareFileIndex(spark, Map.empty, None,
    FileStatusCache.getOrCreate(spark)) with PlannedListing {

  private val byParent: Map[Path, Array[FileStatus]] =
    filePaths.groupBy(_.getParent).map { case (parent, paths) =>
      val fs = parent.getFileSystem(spark.sessionState.newHadoopConf())
      val names = paths.map(_.getName).toSet
      parent -> fs.listStatus(parent)
        .filter(st => st.isFile && names(st.getPath.getName))
    }

  override def partitionSpec(): PartitionSpec = spec
  // lazy val for the same O(files^2) reason as GraftDescriptorFileIndex.
  override protected lazy val leafFiles: scala.collection.mutable.LinkedHashMap[Path, FileStatus] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[Path, FileStatus]
    byParent.valuesIterator.flatten.foreach(st => m(st.getPath) = st)
    m
  }
  override protected def leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    byParent
  override def rootPaths: Seq[Path] = filePaths
  override def refresh(): Unit = ()
}
