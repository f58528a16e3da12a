package org.apache.spark.sql.graftshim

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Writes a handful of rows as ONE parquet file on the driver, through the
  * writer a Spark job's task would use (`ParquetFileFormat.prepareWrite`
  * with the session's Hadoop conf): same schema, footer metadata, codec and
  * encodings as `df.coalesce(1).write.parquet(dir)`, with no job. For
  * metadata-sized content the driver already holds; the part file is named
  * like a task's, and no `_SUCCESS` marker is written.
  */
object DriverParquet {

  def write(spark: SparkSession, dir: String, schema: StructType,
            rows: Iterator[InternalRow]): Unit = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    val jobId = new JobID("graft", 0)
    val context = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID(jobId, TaskType.MAP, 0), 0))
    val file = new Path(dir,
      s"part-00000-${java.util.UUID.randomUUID()}-c000${factory.getFileExtension(context)}")
    val writer = factory.newInstance(file.toString, schema, context)
    try rows.foreach(writer.write)
    finally writer.close()
  }
}
