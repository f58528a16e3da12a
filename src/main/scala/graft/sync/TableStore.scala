package graft.sync

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.FooterSchema
import org.apache.spark.sql.types.StructType

/** Storage abstraction the sync engine runs against (SURVEY §7.1).
  *
  * The reference hard-codes MySQL (`DatabaseConnection.php`); here catalog +
  * DDL + data movement go through this trait so the same diff/merge DAG runs
  * against parquet directories (test/bench) or a JDBC database (parity).
  * Only catalog/DDL are imperative; all data movement is DataFrames.
  */
trait TableStore {
  def spark: SparkSession

  /** Catalog scan (S1; reference `DatabaseConnection.php:48-64` SHOW TABLES). */
  def list(): Seq[String]
  /** Full scan (S5). */
  def read(table: String): DataFrame
  /** Schema scan (S2/S4). The default analyzes a [[read]]; stores that
    * know the schema from metadata answer without building a DataFrame —
    * a parquet [[FileStore]] reads one footer on the driver and launches
    * no Spark job.
    */
  def schemaOf(table: String): StructType = read(table).schema
  /** DDL sink: drop (S12; `DatabaseConnection.php:95-100`). */
  def drop(table: String): Unit
  /** Full copy (C5; `Synchronizer.php:330-354`) — overwrite `table` with df. */
  def overwrite(table: String, df: DataFrame): Unit
  /** Bulk insert sink (S9; `TableConnection.php:289-360`). */
  def append(table: String, df: DataFrame): Unit
  /** Keyed delete sink (S10; `TableConnection.php:367-387`): remove rows whose
    * key-tuple appears in `keys` (a DataFrame of exactly `keyCols`).
    */
  def deleteKeys(table: String, keys: DataFrame, keyCols: Seq[String]): Unit
  /** Delete a whole logical partition (C4 excess-partition delete,
    * `Synchronizer.php:166-175`).
    */
  def deleteWhere(table: String, partCol: String, value: Any): Unit

  /** Cheap PHYSICAL change token: equal tokens ⇒ unchanged content; any
    * content change ⇒ a new token. MUST be O(metadata) — no data scan, no
    * Spark job — because the maintained-fingerprint sync mode uses it as the
    * zero-cost "nothing to do" gate of the run-frequently loop. `None` =
    * this store has no metadata-only signal (the engine falls back to
    * fingerprint scans).
    */
  def changeToken(table: String): Option[String] = None

  /** The table's backing parquet directory, when the store IS a parquet
    * directory per table — what manifest-composed operations
    * ([[SyncEngine.syncAppendOnlyIncremental]]) need to locate the
    * `_graft_manifest` snapshots. None for stores without one (JDBC,
    * bucketed catalogs): manifest composition does not apply there.
    */
  def tablePath(table: String): Option[String] = None

  /** Compute-pushdown hash projection (SURVEY §4; reference
    * `TableConnection.php:46-51`): `(projCols…, row_hash)` where `row_hash`
    * was computed INSIDE the store's own engine, so only ~32-byte hashes per
    * row cross the wire — for a WAN-separated source this turns the diff's
    * scan traffic from full rows into hashes. `None` = the store cannot push
    * (the engine hashes in Spark after a full-row read). Contract: the hash
    * must be the lowercase-hex md5 of the `'#'`-joined canonical string form
    * of `dataCols` per [[graft.functions.Hashing.rowHash]] (with the
    * reference's NULL-skip when `legacyNullSkip`) — but value→string cast
    * semantics belong to the SERVER, so two pushed maps only ever compare
    * against each other, never against a Spark-side [[graft.functions.Hashing.hashMap]].
    */
  def pushedHashMap(table: String, projCols: Seq[String], dataCols: Seq[String],
                    legacyNullSkip: Boolean = false): Option[DataFrame] = None

  /** Apply a delta: remove whole logical partitions in `partDeletes` (C4
    * excess-partition cleanup), remove rows whose key-tuple is in `delKeys`,
    * add `inserts` — delete-before-insert order (C7,
    * `Synchronizer.php:495-501`). Default = the three sink calls;
    * copy-on-write stores fuse everything into ONE table rewrite (a third of
    * the write I/O per applied partitioned delta).
    */
  def applyDelta(table: String, delKeys: DataFrame, keyCols: Seq[String],
                 inserts: DataFrame,
                 partDeletes: Option[(String, DataFrame)] = None): Unit = {
    partDeletes.foreach { case (pc, values) => deleteKeys(table, values, Seq(pc)) }
    deleteKeys(table, delKeys, keyCols)
    append(table, inserts)
  }
}

object TableStore {

  /** Metadata-only change token for the files under `root`: md5 over the
    * sorted (path, length, mtime) listing, `"__absent__"` when `root` does
    * not exist — O(#files), no data read, no Spark job. The walk goes
    * through the Hadoop FileSystem ([[graft.ops.FsMaint.walkFiles]]), so the
    * same token works on local fs, HDFS and object stores.
    */
  private[sync] def listingToken(spark: SparkSession, root: org.apache.hadoop.fs.Path): String = {
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return "__absent__"
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    graft.ops.FsMaint.walkFiles(fs, root) { f =>
      entries += s"${f.getPath}|${f.getLen}|${f.getModificationTime}"
      true
    }
    val digest = java.security.MessageDigest.getInstance("MD5")
    entries.sorted.foreach(e =>
      digest.update(e.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    digest.digest().map(b => f"$b%02x").mkString
  }
}

/** Copy-on-write deletes: every keyed/partition delete is an anti-join +
  * whole-table overwrite — the same model Delta/Iceberg use; at cluster
  * scale the rewrite is partition-pruned by the table's physical layout, and
  * the anti-join broadcasts the key set when small. Concrete stores supply
  * `read`/`overwrite` (which MUST tolerate `df` reading from the table being
  * replaced — stage then swap).
  */
trait CopyOnWriteStore extends TableStore {

  /** Null-safe key anti-join: `usingColumns` equi-joins never match NULL =
    * NULL, so a NULL key/partition value would silently survive every delete
    * (the table never converges). `<=>` per component fixes that.
    */
  protected def antiKeys(cur: DataFrame, keys: DataFrame, keyCols: Seq[String]): DataFrame =
    cur.join(keys, keyCols.map(k => cur(k) <=> keys(k)).reduce(_ && _), "left_anti")

  override def deleteKeys(table: String, keys: DataFrame, keyCols: Seq[String]): Unit = {
    // No broadcast hint: the key set is usually small (AQE broadcasts it at
    // runtime), but a bulk delete can be table-sized and a forced broadcast
    // would OOM the driver.
    val cur = read(table)
    overwrite(table, antiKeys(cur, keys, keyCols))
  }

  override def deleteWhere(table: String, partCol: String, value: Any): Unit = {
    val cur = read(table)
    overwrite(table, cur.filter(!(col(partCol) <=> lit(value))))
  }

  override def applyDelta(table: String, delKeys: DataFrame, keyCols: Seq[String],
                          inserts: DataFrame,
                          partDeletes: Option[(String, DataFrame)] = None): Unit = {
    val cur = read(table)
    val afterParts = partDeletes match {
      case Some((pc, values)) => antiKeys(cur, values, Seq(pc))
      case None => cur
    }
    overwrite(table,
      antiKeys(afterParts, delKeys, keyCols)
        .unionByName(inserts.select(cur.columns.map(col).toSeq: _*)))
  }
}

/** File-directory store: each table is `<dir>/<name>.<format>`, moved
  * through the named DataSource format ("parquet", "csv", "json", "orc" —
  * anything with a directory-based reader/writer). CSV/JSON default to
  * header+schema inference on read; pass explicit `options` to pin types
  * for production use.
  *
  * Parquet without reader options: `read` and `schemaOf` launch no Spark
  * job. The schema comes from the footer of the table's first data file
  * (by sorted path), read on the driver — the same file and result as
  * Spark's non-merging inference, which would run a one-task job for it on
  * every read. Spark infers as before when `spark.sql.parquet.mergeSchema`
  * is on, when the table directory has subdirectories (hive partitions) or
  * `_metadata`/`_common_metadata` summary files, when it has no data file
  * (Spark's own error surfaces), and for any other format or any options.
  */
class FileStore(val spark: SparkSession, dir: String,
                format: String = "parquet",
                options: Map[String, String] = Map.empty) extends CopyOnWriteStore {
  private def path(t: String) = s"$dir/$t.$format"

  private def defaultOptions: Map[String, String] = format match {
    case "csv" => Map("header" -> "true", "inferSchema" -> "true")
    case _ => Map.empty
  }

  override def list(): Seq[String] = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(s".$format"))
      .map(_.getName.stripSuffix(s".$format")).sorted.toSeq
  }

  /** Schema from one parquet footer read on the driver, when it is the
    * schema Spark's inference would return (plain parquet, no reader
    * options; see [[org.apache.spark.sql.graftshim.FooterSchema]] for the
    * other fallbacks). `None` = let Spark infer.
    */
  private def footerSchema(table: String): Option[StructType] =
    if (format == "parquet" && options.isEmpty) FooterSchema.of(spark, path(table))
    else None

  override def read(table: String): DataFrame = {
    val reader = spark.read.format(format).options(defaultOptions ++ options)
    footerSchema(table).fold(reader)(reader.schema).load(path(table))
  }

  override def schemaOf(table: String): StructType =
    footerSchema(table).map(FooterSchema.nullable).getOrElse(read(table).schema)

  override def tablePath(table: String): Option[String] =
    if (format == "parquet") Some(path(table)) else None

  /** Metadata-only token over the table directory's file listing
    * ([[TableStore.listingToken]]). Spark/parquet commits write fresh
    * unique part-file names, so any rewrite changes the token even inside
    * mtime granularity.
    */
  override def changeToken(table: String): Option[String] =
    Some(TableStore.listingToken(spark, new org.apache.hadoop.fs.Path(path(table))))

  override def drop(table: String): Unit = deleteRecursively(new java.io.File(path(table)))

  override def overwrite(table: String, df: DataFrame): Unit = {
    // Stage then swap: df may itself read from `path(table)`.
    val tmp = path(table) + ".tmp"
    df.write.mode(SaveMode.Overwrite).format(format)
      .options(defaultOptions ++ options).save(tmp)
    drop(table)
    if (!new java.io.File(tmp).renameTo(new java.io.File(path(table))))
      throw new java.io.IOException(s"rename failed for $table")
  }

  override def append(table: String, df: DataFrame): Unit =
    if (new java.io.File(path(table)).exists())
      df.write.mode(SaveMode.Append).format(format)
        .options(defaultOptions ++ options).save(path(table))
    else overwrite(table, df)

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(); ()
  }
}

/** Parquet-directory store — the default [[FileStore]] instantiation
  * (each table `<dir>/<name>.parquet`). */
final class ParquetStore(spark: SparkSession, dir: String)
  extends FileStore(spark, dir, "parquet")
