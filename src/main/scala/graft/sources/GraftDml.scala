package graft.sources

import graft.ops.{Layout, Manifest}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsDelete, TableCapability}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Shared normalization of SQL filter VALUES into the long domain the
  * manifest's stats live in (the [[graft.ops.Manifest]] statCol convention):
  * integrals as-is, timestamps to epoch micros, dates to epoch days. None =
  * not range-translatable — file-level targeting must not use the value.
  */
private[sources] object StatDomain {
  def toLong(v: Any): Option[Long] = v match {
    case n: java.lang.Byte => Some(n.longValue)
    case n: java.lang.Short => Some(n.longValue)
    case n: java.lang.Integer => Some(n.longValue)
    case n: java.lang.Long => Some(n.longValue)
    case t: java.sql.Timestamp =>
      Some(t.getTime * 1000L + (t.getNanos / 1000L) % 1000L)
    case t: java.time.Instant =>
      Some(t.getEpochSecond * 1000000L + t.getNano / 1000L)
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case _ => None
  }
}

/** The WRITABLE SQL surface of a `graft.`-catalog table (latest snapshot
  * only — version-pinned loads stay read-only views): routes engine-executed
  * statements to the SAME journaled COW machinery the Scala API uses, so a
  * user reaches every write path from SQL, matching the reference's
  * statement-executed delete/upsert surface (TableConnection.php:367-387,
  * Synchronizer.php:496-507):
  *
  *   - `INSERT INTO graft.`/t` ...`  → [[Layout.append]] (appended files +
  *     incremental snapshot, cost ∝ the insert)
  *   - `DELETE FROM graft.`/t` WHERE <range on a stats key>` →
  *     [[Layout.deleteRange]] (manifest-targeted COW — untouched files are
  *     carried by metadata rename, never decoded or planned)
  *   - `MERGE INTO graft.`/t`` → [[Layout.mergeKeyed]] via the extension
  *     rule ([[GraftMergeRule]], installed by [[graft.GraftExtensions]])
  *
  * DELETE translation contract: every conjunct must constrain ONE
  * stats-covered key column to a contiguous range (the shape the manifest
  * can target). Anything else is refused at `canDeleteWhere`, so Spark
  * fails the statement TYPED before anything runs — a silent fallback to a
  * full-table rewrite would hide an O(table) cost behind a WHERE clause.
  */
final class GraftMutableTable(
    tableName: String, spark: SparkSession,
    files: Seq[String], val tableRoot: String,
    userSchema: Option[StructType],
    val renames: Map[String, String] = Map.empty,
    fileSizes: Option[Map[String, Long]] = None,
    val dvPaths: Option[Seq[String]] = None,
    pick: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
      Option[Set[String]] = _ => None)
  extends org.apache.spark.sql.connector.catalog.Table
  with org.apache.spark.sql.connector.catalog.SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite
  with SupportsDelete {

  import scala.jdk.CollectionConverters._

  // Reads delegate to the file-backed snapshot view (exact file index,
  // stock vectorized parquet scan, full pushdown). Deliberately NOT a
  // FileTable subclass itself: the analyzer's FallBackFileSourceV2 rewrites
  // INSERTs over FileTables into a direct V1 file write — which would
  // bypass the table lock and the manifest refresh entirely (a silent
  // unmanifested append), or reject the multi-path relation outright.
  // `userSchema` arrives in the files' PHYSICAL names; `renames`
  // (logical→physical) translates the user-facing surface — see
  // [[GraftRenamedTable]].
  private[sources] val readDelegate = new GraftParquetTable(tableName, spark,
    CaseInsensitiveStringMap.empty(), files, tableRoot, userSchema, fileSizes,
    dvPaths, pick)
  private val invRenames = renames.map(_.swap)

  override def name(): String = tableName
  override def schema(): StructType = {
    val phys = (readDelegate: org.apache.spark.sql.connector.catalog.Table).schema()
    if (renames.isEmpty) phys
    else StructType(phys.fields.map(f =>
      f.copy(name = invRenames.getOrElse(f.name, f.name))))
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): org.apache.spark.sql.connector.read.ScanBuilder = {
    val base = readDelegate.newScanBuilder(options)
    if (renames.isEmpty) base else new RenamingScanBuilder(base, renames)
  }

  // No ACCEPT_ANY_SCHEMA (the analyzer must align INSERT schemas) and no
  // plain BATCH_WRITE (writes route through the V1 InsertableRelation).
  // TRUNCATE + OVERWRITE_BY_FILTER admit INSERT OVERWRITE / REPLACE WHERE
  // past TableCapabilityCheck; the WriteBuilder's SupportsOverwrite routes
  // them to one COW commit.
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER).asJava

  /** Stats-covered key columns of the LATEST snapshot — the columns a
    * DELETE's WHERE can be targeted on.
    */
  private def statKeys: Seq[String] =
    Manifest.currentKeyCols(spark, tableRoot).getOrElse(Nil)

  /** The (keyCol, lo, hi) box implied by the pushed conjuncts, or None when
    * the filters are not a single-key contiguous range. Bounds are
    * intersected; strict bounds tighten by one unit of the normalized long
    * domain (micros for timestamps, days for dates — exact, since stats
    * live at that granularity).
    */
  private def rangeOf(filters: Array[Filter]): Option[(String, Long, Long)] = {
    val keys = statKeys.toSet
    var col: Option[String] = None
    var lo = Long.MinValue
    var hi = Long.MaxValue
    // IsNotNull conjuncts are collected, not judged in walk order: an
    // IsNotNull(k1) seen BEFORE the range column binds would otherwise be
    // accepted against an empty `col` and then silently dropped — the
    // executed delete would ignore the `k1 IS NOT NULL` conjunct and remove
    // NULL-k1 rows the WHERE excludes. Membership is decided once, after
    // every conjunct has been walked.
    val notNullCols = scala.collection.mutable.Set.empty[String]
    def constrain(c: String, l: Long, h: Long): Boolean = {
      if (!keys(c) || col.exists(_ != c)) return false
      col = Some(c); lo = math.max(lo, l); hi = math.min(hi, h); true
    }
    def walk(f: Filter): Boolean = f match {
      case EqualTo(a, v) => StatDomain.toLong(v).exists(x => constrain(a, x, x))
      case GreaterThan(a, v) => StatDomain.toLong(v).exists(x =>
        x < Long.MaxValue && constrain(a, x + 1, Long.MaxValue))
      case GreaterThanOrEqual(a, v) =>
        StatDomain.toLong(v).exists(x => constrain(a, x, Long.MaxValue))
      case LessThan(a, v) => StatDomain.toLong(v).exists(x =>
        x > Long.MinValue && constrain(a, Long.MinValue, x - 1))
      case LessThanOrEqual(a, v) =>
        StatDomain.toLong(v).exists(x => constrain(a, Long.MinValue, x))
      case And(l, r) => walk(l) && walk(r)
      case IsNotNull(a) => notNullCols += a; keys(a)
      case _ => false
    }
    if (filters.nonEmpty && filters.forall(walk) && col.isDefined &&
        // A range predicate never matches NULL keys, so IsNotNull on the
        // BOUND column is implied; IsNotNull on any OTHER column is a
        // conjunct the range delete cannot honor — refuse.
        notNullCols.forall(col.contains))
      Some((col.get, lo, hi))
    else None
  }

  /** A `partCol = value` equality on a hive PARTITION column — the
    * whole-partition drop shape ([[Layout.dropPartition]]: pure metadata,
    * zero files decoded). Values keep their path-encoded string form (the
    * identity partition dirs are named by).
    */
  private def partitionDropOf(filters: Array[Filter]): Option[(String, String)] = {
    val fs = new org.apache.hadoop.fs.Path(tableRoot)
      .getFileSystem(spark.sessionState.newHadoopConf())
    lazy val partCols = Layout.partitionColsFromDirs(fs, tableRoot).toSet
    filters match {
      case Array(EqualTo(a, v)) if partCols(a) =>
        v match {
          case s: String => Some((a, s))
          case n @ (_: java.lang.Integer | _: java.lang.Long |
                    _: java.lang.Short | _: java.lang.Byte) =>
            Some((a, n.toString))
          case _ => None
        }
      case _ => None
    }
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    rangeOf(filters).isDefined || partitionDropOf(filters).isDefined

  /** The write path a range `DELETE FROM` takes, per the session conf
    * `graft.delete.mode` (`SET graft.delete.mode = dv` from SQL):
    * `cow` (default) rewrites exactly the overlapping files
    * ([[Layout.deleteRange]]); `dv` appends the doomed positions to the
    * snapshot's deletion-vector sidecar ([[Layout.deleteRangeDV]]) —
    * ZERO data files rewritten, the right mode for frequent small CDC
    * deletes (write amplification returns only at the fold,
    * `CALL graft.system.compact_deletes`). Readable either way:
    * [[GraftDvReadRule]] serves DV-bearing snapshots to SQL. Partition
    * drops stay pure-metadata regardless (cheaper than both).
    */
  private def deleteMode: String =
    spark.conf.get("graft.delete.mode", "cow").trim.toLowerCase match {
      case m @ ("cow" | "dv") => m
      case other => throw new IllegalArgumentException(
        s"graft.delete.mode must be `cow` (copy-on-write rewrite) or `dv` " +
          s"(merge-on-read deletion vector), got `$other`")
    }

  override def deleteWhere(filters: Array[Filter]): Unit =
    rangeOf(filters) match {
      case Some((keyCol, lo, hi)) if deleteMode == "dv" =>
        Layout.deleteRangeDV(spark, tableRoot, keyCol, lo, hi): Unit
      case Some((keyCol, lo, hi)) =>
        Layout.deleteRange(spark, tableRoot, keyCol, lo, hi): Unit
      case None => partitionDropOf(filters) match {
        case Some((partCol, value)) =>
          Layout.dropPartition(spark, tableRoot, partCol, value): Unit
        case None => throw new UnsupportedOperationException(
          s"graft DELETE on $tableRoot supports a contiguous range on ONE " +
            s"stats-covered key column (${statKeys.mkString(", ")}) or an " +
            "equality on one partition column — the shapes the manifest/" +
            "layout target without planning untouched files; got: " +
            filters.mkString(", "))
      }
    }

  /** Declared identity partitioning (recovered from the hive layout) —
    * what lets the analyzer resolve `INSERT OVERWRITE ... PARTITION (p=v)`
    * into an overwrite-by-expression against this table. Flat tables
    * declare none.
    */
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] = {
    val fs = new org.apache.hadoop.fs.Path(tableRoot)
      .getFileSystem(spark.sessionState.newHadoopConf())
    Layout.partitionColsFromDirs(fs, tableRoot)
      .map(c => org.apache.spark.sql.connector.expressions.Expressions
        .identity(invRenames.getOrElse(c, c))).toArray
  }

  /** Translate an overwrite predicate into a [[Layout.OverwriteTarget]]:
    * TRUE → the whole table, one partition equality → that partition, a
    * contiguous stats-key range → that range. Anything else refuses typed —
    * a silent fallback would hide an O(table) rewrite behind a WHERE clause
    * (the same contract as the DELETE translation). The SQL static-
    * partition shape arrives as `EqualNullSafe(p, v)` — normalized to the
    * equality the partition translation matches (partition values are
    * never NULL here: a hive `k=v` dir encodes NULL as a sentinel string).
    */
  private def overwriteTargetOf(filters: Array[Filter]): Layout.OverwriteTarget = {
    val effective = filters.filterNot(_.isInstanceOf[AlwaysTrue]).map {
      case EqualNullSafe(a, v) => EqualTo(a, v)
      case f => f
    }
    if (effective.isEmpty) Layout.OverwriteAll
    else partitionDropOf(effective) match {
      case Some((c, v)) => Layout.OverwritePartition(c, v)
      case None => rangeOf(effective) match {
        case Some((c, lo, hi)) => Layout.OverwriteRange(c, lo, hi)
        case None => throw new UnsupportedOperationException(
          s"graft INSERT OVERWRITE on $tableRoot supports the whole table, " +
            s"one partition equality, or a contiguous range on ONE " +
            s"stats-covered key column (${statKeys.mkString(", ")}) — the " +
            "shapes the layout replaces without planning untouched files; " +
            s"got: ${effective.mkString(", ")}")
      }
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsOverwrite {
      // Set by the optimizer's V2Writes rule for INSERT OVERWRITE /
      // DataFrame overwrite(condition); absent for plain INSERT INTO.
      @volatile private var replaceFilters: Option[Array[Filter]] = None
      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        replaceFilters = Some(filters)
        this
      }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                                overwrite: Boolean): Unit = replaceFilters match {
              case Some(fs) =>
                Layout.overwriteWhere(spark, tableRoot,
                  overwriteTargetOf(fs), data): Unit
              case None =>
                Layout.append(spark, tableRoot, data): Unit
            }
          }
      }
    }
}
