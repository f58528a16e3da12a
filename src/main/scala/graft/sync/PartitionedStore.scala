package graft.sync

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Hive-layout partitioned catalog store: each table is a managed Spark
  * table `partitionBy(partCol)`, and every delta application rewrites ONLY
  * the affected partitions — the partition-pruned copy-on-write that
  * [[FileStore]]'s whole-table rewrite scaladoc promises at cluster scale,
  * made physical (the Delta/Iceberg `MERGE` pruning model without the
  * manifest layer).
  *
  * Apply mechanics: affected partitions = partitions holding a delete key ∪
  * partitions receiving an insert (one column-pruned semi-join scan); the
  * scoped rewrite is spilled to scratch (it reads the table it replaces),
  * then written back with dynamic partition overwrite, which leaves every
  * other partition's files physically untouched (asserted by mtime in
  * PartitionedStoreSpec). Partitions left empty — and C4 excess-partition
  * deletes — become metadata-only `ALTER TABLE … DROP PARTITION` calls,
  * with NULL partition values mapped to Hive's default-partition sentinel.
  *
  * The affected-partition VALUE list is collected to the driver: it is
  * bounded by the count of *changed* partitions (the engine's partitioned
  * cascade already counts and broadcasts the same list), not by table size
  * — and every such collect is guarded by `maxCollectedPartitions`, so a
  * MIS-declared high-cardinality partition column fails loudly (naming the
  * column) instead of OOMing the driver.
  */
final class PartitionedStore(val spark: SparkSession, prefix: String,
                             partCols: Map[String, String],
                             /** Ceiling on any driver-collected partition-
                               * value list (SURVEY §1.1 declares logical
                               * partitions LOW-cardinality; 100k values ≈
                               * a few MB driver-side — beyond it the
                               * declaration is a bug, not a workload). */
                             maxCollectedPartitions: Int = 100000)
    extends CopyOnWriteStore {
  private def qname(t: String) = s"${prefix}_$t"
  private def pcOf(t: String): String = partCols.getOrElse(t,
    throw new IllegalArgumentException(s"no partition column declared for table $t"))

  /** Bounded distinct-value collect (ONE job, ≤ bound+1 rows to the driver):
    * a `limit(bound+1)` under the hood, so the failure mode is a loud error
    * naming the mis-declared column, never an OOM'd driver.
    */
  private def collectPartValues(table: String, values: DataFrame): Seq[Any] = {
    val got = values.distinct().limit(maxCollectedPartitions + 1).collect()
    if (got.length > maxCollectedPartitions)
      throw new IllegalStateException(
        s"table '$table': partition column '${pcOf(table)}' exceeds " +
          s"$maxCollectedPartitions distinct values — logical partitions are " +
          "declared low-cardinality (SURVEY §1.1); re-declare the partition " +
          "column or raise maxCollectedPartitions explicitly")
    got.map(_.get(0)).toSeq
  }

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
    if (readsFromTable(df, qname(table))) {
      // Self-reading rewrite: stage then swap (the write would otherwise
      // destroy its own input mid-scan).
      val stage = qname(table) + "__stage"
      spark.sql(s"DROP TABLE IF EXISTS $stage")
      CatalogStores.clearOrphanLocation(spark, stage)
      df.write.mode(SaveMode.Overwrite).partitionBy(pcOf(table))
        .format("parquet").saveAsTable(stage)
      drop(table)
      CatalogStores.clearOrphanLocation(spark, qname(table))
      spark.sql(s"ALTER TABLE $stage RENAME TO ${qname(table)}")
      // The in-memory catalog's rename moves the data directory but keeps
      // the old partition locations — recover them from the moved layout.
      spark.sql(s"MSCK REPAIR TABLE ${qname(table)}")
    } else {
      // Common path (fixtures, full recopy from ANOTHER store): one direct
      // overwrite — no stage table, no RENAME, no MSCK directory walk. The
      // catalog round-trips were the dominant cost of a recopy, not the
      // data volume.
      CatalogStores.clearOrphanLocation(spark, qname(table))
      df.write.mode(SaveMode.Overwrite).partitionBy(pcOf(table))
        .format("parquet").saveAsTable(qname(table))
    }
    ()
  }

  /** Does `df`'s plan scan the catalog table `name`? (Decides stage-and-swap
    * vs direct overwrite.)
    */
  private def readsFromTable(df: DataFrame, name: String): Boolean =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation
        if r.catalogTable.exists(_.identifier.table.equalsIgnoreCase(name)) => r
    }.nonEmpty

  override def append(table: String, df: DataFrame): Unit =
    if (spark.catalog.tableExists(qname(table))) {
      // insertInto is positional — align to the table's (partition-last) order.
      val cols = read(table).columns.toSeq
      df.select(cols.map(col): _*).write.insertInto(qname(table))
    } else overwrite(table, df)

  /** Whole-partition delete on the partition column is metadata-only. */
  override def deleteWhere(table: String, partCol: String, value: Any): Unit =
    if (partCol == pcOf(table)) dropPartitionValues(table, Seq(value))
    else super.deleteWhere(table, partCol, value)

  override def deleteKeys(table: String, keys: DataFrame, keyCols: Seq[String]): Unit =
    if (keyCols == Seq(pcOf(table))) {
      // The engine's excess-partition cleanup arrives as a keyed delete on
      // the partition column — a list of DROP PARTITIONs, no rewrite.
      dropPartitionValues(table, collectPartValues(table, keys.select(col(keyCols.head))))
    } else {
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], read(table).schema)
      applyDelta(table, keys, keyCols, empty, None)
    }

  override def applyDelta(table: String, delKeys: DataFrame, keyCols: Seq[String],
                          inserts: DataFrame,
                          partDeletes: Option[(String, DataFrame)] = None): Unit = {
    val pc = pcOf(table)
    partDeletes.foreach { case (c, values) =>
      require(c == pc, s"partition delete on $c but table is partitioned by $pc")
      dropPartitionValues(table, collectPartValues(table, values.select(col(c))))
    }
    val cur = read(table)
    val tableCols = cur.columns.toSeq
    // Affected partitions: where delete keys live (column-pruned semi-join
    // scan) plus where inserts land. Null-safe throughout.
    val delParts = cur
      .join(delKeys, keyCols.map(k => cur(k) <=> delKeys(k)).reduce(_ && _), "left_semi")
      .select(col(pc)).distinct()
    val insParts = inserts.select(col(pc)).distinct()
    val affected = collectPartValues(table, delParts.unionByName(insParts))
    if (affected.isEmpty) return

    val nonNull = affected.filterNot(_ == null)
    val pred = (
      (if (nonNull.nonEmpty) Seq(col(pc).isin(nonNull: _*)) else Nil) ++
      (if (affected.contains(null)) Seq(col(pc).isNull) else Nil)
    ).reduce(_ || _)

    val rewritten = antiKeys(cur.filter(pred), delKeys, keyCols)
      .unionByName(inserts.select(tableCols.map(col): _*))
    // Spill: the rewrite reads the very partitions it replaces.
    val scratch = Differ.newScratchDir(spark, None, s"pcow_$table")
    try {
      val rw = Differ.spill(rewritten, s"$scratch/rw")
      val present = collectPartValues(table, rw.select(col(pc))).toSet
      if (present.nonEmpty) withDynamicOverwrite {
        rw.select(tableCols.map(col): _*).write.mode(SaveMode.Overwrite)
          .insertInto(qname(table))
      }
      // Partitions whose every row was deleted get no file from the dynamic
      // overwrite — drop them explicitly or stale data survives.
      dropPartitionValues(table, affected.filterNot(present.contains))
    } finally Differ.rmScratch(spark, scratch)
  }

  private def withDynamicOverwrite[A](body: => A): A = {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.get(key, "static")
    spark.conf.set(key, "dynamic")
    try body finally spark.conf.set(key, prev)
  }

  /** One batched `ALTER TABLE … DROP PARTITION …, PARTITION …` — a single
    * catalog round-trip however many partitions drop (the per-value loop
    * serialized one metastore call per partition; at 10k dropped partitions
    * that loop IS the sync time).
    */
  private def dropPartitionValues(table: String, values: Seq[Any]): Unit =
    if (values.nonEmpty) {
      val specs = values.map { v =>
        val sqlLit =
          if (v == null) "'__HIVE_DEFAULT_PARTITION__'"
          else "'" + v.toString.replace("'", "''") + "'"
        s"PARTITION (${pcOf(table)}=$sqlLit)"
      }
      spark.sql(s"ALTER TABLE ${qname(table)} DROP IF EXISTS ${specs.mkString(", ")}")
      ()
    }
}
