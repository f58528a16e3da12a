package graft.sync

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Shared plumbing for catalog-table stores. */
private[sync] object CatalogStores {
  /** The in-memory catalog dies with the process but its warehouse
    * directories persist; a managed-table name whose directory survives a
    * previous process (tables are catalog-absent but disk-present) makes
    * `saveAsTable`/`ALTER TABLE RENAME` refuse the location. Clear the
    * orphan — only when the catalog genuinely has no such table.
    */
  def clearOrphanLocation(spark: SparkSession, name: String): Unit =
    if (!spark.catalog.tableExists(name)) {
      val p = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), name.toLowerCase)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(p)) { fs.delete(p, true); () }
    }

  /** Metadata-only change token for a catalog table: the listing token
    * ([[TableStore.listingToken]]) of the table's resolved location. It
    * feeds [[SyncConfig.maintainFingerprints]]'s zero-job skip, which
    * matters most for exactly these stores (the co-located recurring-sync
    * layout).
    */
  def changeToken(spark: SparkSession, name: String): Option[String] =
    if (!spark.catalog.tableExists(name)) Some("__absent__")
    else Some(TableStore.listingToken(spark, new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(name)).location)))
}

/** Bucketed catalog-table store: each table is a managed Spark table
  * clustered AND sorted by its declared bucket keys
  * (`bucketBy(numBuckets, keys).sortBy(keys)`).
  *
  * This is the co-located layout for a RECURRING sync at 100 TB: the
  * key-aware diff's full-outer join (and every other equi-join/aggregation
  * on the bucket keys) reads both sides pre-partitioned, so the per-run plan
  * carries zero table-sized shuffle exchanges — the shuffle is paid once at
  * write time instead of on every sync cycle. Master and slave must share
  * `numBuckets` for the exchange to be elided on both sides.
  *
  * Tables are namespaced `<prefix>_<name>` in the session catalog; writes
  * stage to `<name>__stage` then swap via a metadata-only rename, so an
  * overwrite may consume a plan that reads the table being replaced (the
  * same stage-then-swap contract as [[FileStore]]).
  */
final class BucketedStore(val spark: SparkSession, prefix: String,
                          bucketKeys: Map[String, Seq[String]],
                          numBuckets: Int = 8) extends CopyOnWriteStore {
  private def qname(t: String) = s"${prefix}_$t"

  private def keysOf(table: String, df: DataFrame): Seq[String] =
    bucketKeys.getOrElse(table, Seq(df.columns.head))

  override def list(): Seq[String] =
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(prefix + "_"))
      .filterNot(_.endsWith("__stage"))
      .map(_.stripPrefix(prefix + "_")).sorted.toSeq

  override def read(table: String): DataFrame = spark.table(qname(table))

  override def changeToken(table: String): Option[String] =
    CatalogStores.changeToken(spark, qname(table))

  override def drop(table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${qname(table)}"); ()
  }

  override def overwrite(table: String, df: DataFrame): Unit = {
    val keys = keysOf(table, df)
    val stage = qname(table) + "__stage"
    spark.sql(s"DROP TABLE IF EXISTS $stage")
    CatalogStores.clearOrphanLocation(spark, stage)
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(stage)
    drop(table)
    CatalogStores.clearOrphanLocation(spark, qname(table))
    spark.sql(s"ALTER TABLE $stage RENAME TO ${qname(table)}")
    ()
  }

  override def append(table: String, df: DataFrame): Unit =
    if (spark.catalog.tableExists(qname(table))) {
      val keys = keysOf(table, df)
      df.write.mode(SaveMode.Append)
        .bucketBy(numBuckets, keys.head, keys.tail: _*)
        .sortBy(keys.head, keys.tail: _*)
        .format("parquet")
        .saveAsTable(qname(table))
    } else overwrite(table, df)
}
