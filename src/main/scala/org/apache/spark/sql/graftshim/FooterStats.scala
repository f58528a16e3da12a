package org.apache.spark.sql.graftshim

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.{ColumnPath, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation._
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Per-file key statistics read from parquet footers on the driver — the
  * rows a manifest's per-file aggregate (`file`, then `min_`/`max_`/`cnt_`
  * per key column, `n_rows`, `n_bytes`) computes with a Spark job over the
  * files' data, answered from what the writer already recorded:
  *  - `min_`/`max_` from the column-chunk statistics of every row group:
  *    integral columns as long, DATE as epoch days, TIMESTAMP as epoch
  *    micros, STRING in binary UTF-8 order (the order Spark's `min`/`max`
  *    use);
  *  - `cnt_` = value count − null count (the non-null values);
  *  - `n_rows` = the row groups' row counts, `n_bytes` = the file length;
  *  - `file` = `SparkPath.fromFileStatus(st).urlEncoded`, the string
  *    `input_file_name()` returns for the file.
  * A file without rows has no row (the aggregate never sees it).
  *
  * `None` — the caller keeps the Spark aggregate — wherever a footer cannot
  * answer exactly: a footer that does not read, a key column absent from a
  * file (a hive partition column, or a column added after the file was
  * written), files disagreeing on a key's type, a type outside the table
  * above (INT96 and nanosecond timestamps, unsigned integers, decimals,
  * doubles), datetimes Spark would rebase on read, or statistics the
  * writer left out (INT96 columns carry none; parquet drops min/max of
  * binary values past 4 KB).
  */
object FooterStats {

  /** One file's footer: its status, the schema Spark reads it with, and the
    * parquet metadata.
    */
  final class FileFooter private[FooterStats] (val status: FileStatus,
                                               val schema: StructType,
                                               private[FooterStats] val meta: ParquetMetadata) {
    def rowCount: Long = meta.getBlocks.asScala.map(_.getRowCount).sum
  }

  /** The footers of `files`; `None` when any of them does not read. */
  def read(spark: SparkSession, files: Seq[FileStatus]): Option[Seq[FileFooter]] = {
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    // The converter settings of Spark's footer-reading schema inference.
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    try Some(files.map { st =>
      val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(st, hadoopConf), NO_FILTER)
      new FileFooter(st, ParquetFileFormat.readSchemaFromFooter(new Footer(st.getPath, meta), converter)
        .asNullable, meta)
    })
    catch { case NonFatal(_) => None }
  }

  /** The files `spark.read.parquet(dir)` reads when `dir` is flat: its
    * visible files (Spark's listing filter), in listing order. `None` when a
    * visible entry is a directory (hive partitions), a summary file or an
    * empty file, or there is no file — Spark's read then decides.
    */
  def flatFiles(spark: SparkSession, dir: String): Option[Seq[FileStatus]] = {
    val root = new Path(dir)
    val visible =
      try root.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(root).toSeq
        .filterNot(st => FooterSchema.hidden(st.getPath.getName))
      catch { case NonFatal(_) => return None }
    if (visible.isEmpty || visible.exists(st => st.isDirectory || st.getLen == 0 ||
        st.getPath.getName.startsWith("_"))) None
    else Some(visible)
  }

  /** The schema a read of `footers`' files reports when they all share one
    * (merging identical schemas changes nothing); `None` when they differ or
    * there are none.
    */
  def commonSchema(footers: Seq[FileFooter]): Option[StructType] =
    footers.headOption.map(_.schema).filter(s => footers.forall(_.schema == s))

  /** The stats frame's schema for key columns of the given Spark types —
    * names, types and nullability of the aggregate's output.
    */
  def statsSchema(keys: Seq[(String, DataType)]): StructType = StructType(
    StructField("file", StringType, nullable = false) +:
      keys.flatMap { case (c, dt) =>
        val t = if (dt == StringType) StringType else LongType
        Seq(StructField(s"min_$c", t), StructField(s"max_$c", t),
          StructField(s"cnt_$c", LongType, nullable = false))
      } :+
      StructField("n_rows", LongType, nullable = false) :+
      StructField("n_bytes", LongType))

  /** The stats rows of `footers` for `keyCols`, with their schema. */
  def rows(footers: Seq[FileFooter], keyCols: Seq[String]): Option[(StructType, Seq[Row])] = {
    val types = keyCols.map { c =>
      footers.map(f => f.schema.find(_.name == c).map(_.dataType)).distinct match {
        case Seq(Some(dt)) => c -> dt
        case _ => return None
      }
    }
    val out = footers.filter(_.rowCount > 0).map { f =>
      val keyStats = types.flatMap { case (c, dt) =>
        columnStats(f, c, dt) match {
          case Some((mn, mx, n)) => Seq(mn, mx, n)
          case None => return None
        }
      }
      Row.fromSeq((SparkPath.fromFileStatus(f.status).urlEncoded +: keyStats) :+
        f.rowCount :+ f.status.getLen)
    }
    Some((statsSchema(types), out))
  }

  /** Spark rebases no datetime of a file it wrote without the legacy
    * calendar; files of other writers follow the session's read mode.
    */
  private def noRebase(f: FileFooter): Boolean = {
    val kv = f.meta.getFileMetaData.getKeyValueMetaData
    kv.containsKey("org.apache.spark.version") && !kv.containsKey("org.apache.spark.legacyDateTime")
  }

  /** `(min, max, non-null count)` of column `c` over the file's row groups,
    * normalized like the aggregate; `None` when the footer cannot answer.
    */
  private def columnStats(f: FileFooter, c: String, dt: DataType): Option[(Any, Any, Long)] = {
    val schema = f.meta.getFileMetaData.getSchema
    if (!schema.containsField(c)) return None
    val field = schema.getType(schema.getFieldIndex(c))
    if (!field.isPrimitive) return None
    val pt = field.asPrimitiveType()
    val ann = pt.getLogicalTypeAnnotation
    def signedInt(bits: Int) = ann match {
      case null => true
      case i: IntLogicalTypeAnnotation => i.isSigned && i.getBitWidth <= bits
      case _ => false
    }
    // How a statistics value maps into the stats domain of `dt`.
    val value: Option[Any => Any] = (dt, pt.getPrimitiveTypeName) match {
      case (ByteType | ShortType | IntegerType, PrimitiveTypeName.INT32) if signedInt(32) =>
        Some(v => v.asInstanceOf[Integer].longValue)
      case (LongType, PrimitiveTypeName.INT64) if signedInt(64) =>
        Some(v => v.asInstanceOf[java.lang.Long].longValue)
      case (DateType, PrimitiveTypeName.INT32) if ann.isInstanceOf[DateLogicalTypeAnnotation] &&
          noRebase(f) =>
        Some(v => v.asInstanceOf[Integer].longValue)
      case (TimestampType, PrimitiveTypeName.INT64) if noRebase(f) => ann match {
        case t: TimestampLogicalTypeAnnotation if t.isAdjustedToUTC =>
          t.getUnit match {
            case TimeUnit.MICROS => Some(v => v.asInstanceOf[java.lang.Long].longValue)
            case TimeUnit.MILLIS => Some(v => Math.multiplyExact(v.asInstanceOf[java.lang.Long].longValue, 1000L))
            case _ => None
          }
        case _ => None
      }
      case (StringType, PrimitiveTypeName.BINARY) if ann.isInstanceOf[StringLogicalTypeAnnotation] =>
        Some(v => UTF8String.fromBytes(v.asInstanceOf[Binary].getBytes))
      case _ => None
    }
    value.flatMap { conv =>
      val path = ColumnPath.get(c)
      var mn: Any = null
      var mx: Any = null
      var n = 0L
      def less(a: Any, b: Any): Boolean = (a, b) match {
        case (x: UTF8String, y: UTF8String) => x.binaryCompare(y) < 0
        case (x: Long, y: Long) => x < y
        case _ => throw new IllegalStateException("mixed stats domains")
      }
      f.meta.getBlocks.asScala.foreach { block =>
        val chunk = block.getColumns.asScala.find(_.getPath == path).getOrElse(return None)
        val st = chunk.getStatistics
        if (st == null || !st.isNumNullsSet) return None
        val nonNull = chunk.getValueCount - st.getNumNulls
        if (nonNull > 0) {
          if (!st.hasNonNullValue) return None
          val (lo, hi) = (conv(st.genericGetMin), conv(st.genericGetMax))
          if (mn == null || less(lo, mn)) mn = lo
          if (mx == null || less(mx, hi)) mx = hi
          n += nonNull
        }
      }
      def external(v: Any): Any = v match {
        case s: UTF8String => s.toString
        case other => other
      }
      Some((external(mn), external(mx), n))
    }
  }
}
