package graft

import graft.ops.{Layout, Manifest}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** What a SQL DML statement launches on a manifest table whose snapshot
  * the driver already holds: manifest metadata (reading the snapshot,
  * counting its files or rows, stats of the files a statement wrote, and
  * writing the next snapshot) is answered on the driver, so Spark jobs are
  * left for the table's data alone.
  *
  * Jobs are scoped by a local property; each job is reported by the first
  * `graft.` frame of its call site (the long form Spark records on every
  * stage), and a job whose call site enters through a `DataFrameReader` is
  * schema inference (reads are otherwise lazy).
  */
class SqlDmlJobsSpec extends SparkSpec {
  import SqlDmlJobsSpec.Job

  private val scope = "graft.test.dmlScope"

  /** The first `graft.` frame of a long-form call site, the spec's own
    * frames excluded.
    */
  private def graftFrame(details: String): Option[String] =
    details.linesIterator.map(_.trim)
      .find(l => l.startsWith("graft.") && !l.startsWith("graft.SqlDmlJobsSpec"))

  /** The jobs `body` launches, in order. A job launched off the statement's
    * thread (a broadcast, an adaptive query stage) carries no `graft.` frame
    * of its own; it is reported by its SQL execution's call site. A marker
    * job afterwards drains the listener queue.
    */
  private def jobsOf(body: => Unit): Seq[Job] = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]
    val execSites = new java.util.concurrent.ConcurrentHashMap[String, String]
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          graftFrame(s.details).foreach(execSites.put(s.executionId.toString, _))
        case _ =>
      }
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(scope))).foreach {
          case "stmt" =>
            val details = e.stageInfos.headOption.map(_.details).getOrElse("")
            val exec = Option(e.properties.getProperty("spark.sql.execution.id"))
            val site = graftFrame(details)
              .orElse(exec.flatMap(id => Option(execSites.get(id))))
              .getOrElse("<statement>")
            jobs.add(Job(site,
              details.linesIterator.nextOption().exists(_.contains("DataFrameReader"))))
          case _ => drained.countDown()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setLocalProperty(scope, "stmt")
      try body finally spark.sparkContext.setLocalProperty(scope, "marker")
      try spark.range(1).count() finally spark.sparkContext.setLocalProperty(scope, null)
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.asScala.toSeq
  }

  private val schema = StructType(Seq(StructField("k", LongType), StructField("grp", IntegerType),
    StructField("qty", LongType), StructField("note", StringType)))

  private def source(rows: Seq[(Long, Long)], tag: String): Unit =
    spark.createDataFrame(rows.map { case (k, q) => Row(k, (k % 16).toInt, q, tag) }.asJava,
      schema).createOrReplaceTempView("dml_jobs_src")

  /** A range-clustered, manifest-backed table of 4,000 rows in 8 files. */
  private def stage(dir: String): String = {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.range(4000).select((col("id") * 4).as("k"), (col("id") % 16).cast("int").as("grp"),
        (col("id") % 1000).as("qty"), lit("v0").as("note"))
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
      .write.parquet(dir)
    Manifest.create(spark, dir, "k")
    dir
  }

  private def statements(t: String, round: Int): Seq[(String, () => Unit)] = {
    val base = 4000L * round
    Seq(
      "DELETE" -> (() => spark.sql(s"DELETE FROM $t WHERE k BETWEEN ${base + 100} AND ${base + 199}"): Unit),
      "INSERT" -> { () =>
        source((0 until 20).map(j => (base + 8L * j + 1, j.toLong)), s"i$round")
        spark.sql(s"INSERT INTO $t SELECT * FROM dml_jobs_src"): Unit
      },
      "UPDATE" -> (() => spark.sql(
        s"UPDATE $t SET qty = qty + 1, note = 'u$round' WHERE k BETWEEN ${base + 400} AND ${base + 499}"): Unit),
      "MERGE" -> { () =>
        source((0 until 50).map(j => (base + 600 + 2L * j, j.toLong)), s"m$round")
        spark.sql(s"MERGE INTO $t t USING dml_jobs_src s ON t.k = s.k " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"): Unit
      })
  }

  test("SQL DML on a cached manifest table: one job per DELETE/INSERT, no metadata or inference job") {
    val dir = stage(tmpDir("dml_jobs") + "/t")
    val t = s"graft.`$dir`"
    // Warm-up round: the snapshot the next statement reads is then the one
    // the previous statement wrote.
    statements(t, 0).foreach(_._2())
    val perKind = statements(t, 1).map { case (kind, run) => kind -> jobsOf(run()) }
    val report = perKind.map { case (k, js) => s"$k: ${js.length} job(s)\n  " + js.mkString("\n  ") }
      .mkString("\n")
    info(report)
    def metadata(j: Job) = j.site.startsWith("graft.ops.Manifest") ||
      j.site.startsWith("graft.ops.FilePlanner")
    perKind.foreach { case (kind, js) =>
      assert(!js.exists(_.reader), s"$kind launched a schema-inference job\n$report")
      assert(!js.exists(metadata), s"$kind launched a manifest metadata job\n$report")
    }
    val counts = perKind.map { case (k, js) => k -> js.length }.toMap
    assert(counts("DELETE") == 1 && counts("INSERT") == 1, report)
    // The statements did what they say.
    val got = spark.sql(s"SELECT k, qty, note FROM $t WHERE k BETWEEN 4000 AND 4700")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(!got.keySet.exists(k => k % 4 == 0 && k >= 4100 && k <= 4199))
    assert(got.get(4001L).contains((0L, "i1")))
    assert(got.get(4400L).contains((101L, "u1")))
    assert(got.get(4602L).contains((1L, "m1")) && got.get(4600L).contains((0L, "m1")))
  }
}

object SqlDmlJobsSpec {
  /** One job: its call site, and whether it entered through a reader. */
  private final case class Job(site: String, reader: Boolean) {
    override def toString: String = s"$site${if (reader) " (DataFrameReader)" else ""}"
  }
}
