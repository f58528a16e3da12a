package org.apache.spark.sql.graftshim

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

import scala.util.control.NonFatal

/** The schema `spark.read.parquet(dir)` would infer, read from one footer on
  * the driver. Spark's non-merging inference reads a single footer too, but
  * through a one-task Spark job per `DataFrameReader` call; a caller that
  * passes this result to `spark.read.schema(...)` gets the same relation
  * without the job.
  *
  * Same file as Spark's pick: the first data file by sorted path, names
  * starting with `_` or `.` (and `._COPYING_` leftovers) skipped. `None` —
  * the caller keeps Spark's own inference — wherever the two could differ:
  *  - `spark.sql.parquet.mergeSchema` is on (inference reads every footer);
  *  - `dir` is not a directory, or holds visible subdirectories (hive
  *    partitions add partition columns) or `_metadata`/`_common_metadata`
  *    summary files (inference prefers those);
  *  - there is no data file, or its footer does not read — Spark's inference
  *    then raises its own error, unchanged.
  * Reader options are the caller's to check: any option that could change
  * the listing or the schema (`mergeSchema`, `pathGlobFilter`,
  * `recursiveFileLookup`, …) means calling Spark instead.
  */
object FooterSchema {

  /** Spark's listing filter (`HadoopFSUtils.shouldFilterOutPathName`). */
  private[graftshim] def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !(name.startsWith("_common_metadata") || name.startsWith("_metadata"))

  def of(spark: SparkSession, dir: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) return None
    try {
      val hadoopConf = spark.sessionState.newHadoopConf()
      val root = new Path(dir)
      val fs = root.getFileSystem(hadoopConf)
      val qualified = fs.makeQualified(root)
      val visible = fs.listStatus(root).filterNot(st => hidden(st.getPath.getName))
      // A file path lists as itself; summary files and `_k=v` partition
      // directories are the visible names that start with `_`.
      if (visible.exists(st => st.isDirectory || st.getPath == qualified ||
          st.getPath.getName.startsWith("_"))) return None
      visible.sortBy(_.getPath.toString).headOption.map { first =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(first, hadoopConf), SKIP_ROW_GROUPS)
        // The converter settings of Spark's footer-reading inference job
        // (`ParquetFileFormat.mergeSchemasInParallel`).
        val converter = new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = conf.isParquetBinaryAsString,
          assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
          inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
          nanosAsLong = conf.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
        ParquetFileFormat.readSchemaFromFooter(new Footer(first.getPath, footer), converter)
      }
    } catch { case NonFatal(_) => None }
  }

  /** `schema` with every field nullable — what a file-source relation
    * reports for it (`StructType.asNullable` is `private[spark]`). */
  def nullable(schema: StructType): StructType = schema.asNullable
}
