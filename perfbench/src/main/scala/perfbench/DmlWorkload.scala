package perfbench

import graft.ops.Manifest
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.Path
import scala.jdk.CollectionConverters._

/** `dml_mix`: a seeded statement mix through `spark.sql` against one
  * `graft.` catalog table `(k, grp, qty, note)`, manifest-backed and
  * range-clustered on the unique key `k`, in the default COW mode. Every
  * block of 20 statements holds exactly 8 point SELECTs, 4 range aggregate
  * SELECTs, 3 small-range UPDATEs, 2 small-range DELETEs, 2 MERGEs of a
  * 1,000-row batch and 1 INSERT of 200 rows, in a seeded order. Warm-up
  * is one statement of each kind.
  *
  * A driver-side model of the table checks every read result and every
  * rows-affected count the statement returns, and the whole table content
  * at the end.
  */
final class DmlWorkload(run: Runner, seed: Long) extends Workload {
  import DmlWorkload._
  private val spark = run.spark
  private var dir: Path = _
  private var model: Model = _
  private var rnd: java.util.Random = _
  private var block: List[Kind] = Nil
  private var statement = 0
  private val measured = scala.collection.mutable.Map.empty[Kind, Int].withDefaultValue(0)

  private def table = s"graft.`$dir`"
  private val seedTerm = Math.floorMod(seed, 1000003L)

  override def fixture(d: Path): Unit = {
    dir = d.resolve("t")
    rnd = new java.util.Random(seed)
    block = Nil
    statement = 0
    measured.clear()
    spark.range(Rows).select((col("id") * 4).as("k"), (col("id") % 16).cast("int").as("grp"),
        pmod(col("id") * Mult + seedTerm, lit(1000L)).as("qty"), lit("v0").as("note"))
      .repartitionByRange(Files, col("k")).sortWithinPartitions("k")
      .write.parquet(dir.toString)
    Manifest.create(spark, dir.toString, "k")
    model = new Model(Rows * 4)
    (0 until Rows).foreach(i => model.put(4L * i, Math.floorMod(i * Mult + seedTerm, 1000L), 0))
  }

  /** One statement of each kind; measurement then starts a fresh block. */
  override def warmup(): Unit = {
    val kinds = new java.util.ArrayList[Kind](Kinds.asJava)
    java.util.Collections.shuffle(kinds, rnd)
    kinds.asScala.foreach(k => statementOf(k, traced = false))
  }

  private def nextKind(): Kind = {
    if (block.isEmpty) {
      val b = new java.util.ArrayList[Kind](Block.asJava)
      java.util.Collections.shuffle(b, rnd)
      block = b.asScala.toList
    }
    val k = block.head
    block = block.tail
    k
  }

  /** A window start so that `[a, a + width)` lies inside the key space. */
  private def windowStart(width: Long): Long =
    4L * rnd.nextInt(math.max(1, ((model.capacity - width) / 4).toInt))

  /** Measurement runs whole blocks, so every run has the exact mix. */
  override def more(timed: Double, seconds: Int): Boolean = block.nonEmpty || timed < seconds

  /** Traces every other measured statement of each kind when `trace` is
    * on, so traced and untraced latencies compare within a kind. */
  override def step(trace: Boolean): Op = {
    val kind = nextKind()
    measured(kind) += 1
    statementOf(kind, trace && measured(kind) % 2 == 1)
  }

  private def statementOf(kind: Kind, traced: Boolean): Op = {
    statement += 1
    kind match {
      case Point =>
        val k = 4L * rnd.nextInt(Rows) + (if (rnd.nextInt(8) == 0) 1 else 0)
        read(traced, kind, s"SELECT k, grp, qty, note FROM $table WHERE k = $k") { got =>
          got.map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3))).toSeq ==
            model.get(k).toSeq.map { case (q, v) => (k, grp(k), q, "v" + v) }
        }
      case RangeAgg =>
        val width = 4L * (500 + rnd.nextInt(4500))
        val a = windowStart(width)
        read(traced, kind, s"SELECT count(*) AS n, coalesce(sum(qty), 0) AS s FROM $table " +
            s"WHERE k BETWEEN $a AND ${a + width - 1}") { got =>
          val live = model.range(a, a + width - 1)
          got.length == 1 && got(0).getLong(0) == live.size &&
            got(0).getLong(1) == live.map(k => model.get(k).get._1).sum
        }
      case Update =>
        val width = 4L * (20 + rnd.nextInt(180))
        val a = windowStart(width)
        val d = 1 + rnd.nextInt(9)
        val keys = model.range(a, a + width - 1)
        write(traced, kind, keys.size,
            s"UPDATE $table SET qty = qty + $d, note = 'v$statement' " +
              s"WHERE k BETWEEN $a AND ${a + width - 1}") { got =>
          got.length == 1 && got(0).getAs[Long]("rows_updated") == keys.size
        } {
          keys.foreach(k => model.put(k, model.get(k).get._1 + d, statement))
        }
      case Delete =>
        val width = 4L * (10 + rnd.nextInt(90))
        val a = windowStart(width)
        val keys = model.range(a, a + width - 1)
        write(traced, kind, keys.size,
            s"DELETE FROM $table WHERE k BETWEEN $a AND ${a + width - 1}")(_ => true) {
          keys.foreach(model.remove)
        }
      case Merge =>
        // Step 2 over a window: multiples of 4 are original keys, the
        // others are insert keys, so a batch mixes updates and inserts.
        val a = windowStart(2L * MergeBatch)
        val batch = (0 until MergeBatch).map(j => (a + 2L * j, rnd.nextInt(1000).toLong))
        val matched = batch.count { case (k, _) => model.get(k).isDefined }
        source(batch)
        write(traced, kind, batch.size,
            s"MERGE INTO $table t USING $Source s ON t.k = s.k " +
              "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *") { got =>
          got.length == 1 && got(0).getAs[Long]("rows_updated") == matched &&
            got(0).getAs[Long]("rows_inserted") == batch.size - matched
        } {
          batch.foreach { case (k, q) => model.put(k, q, statement) }
        }
      case Insert =>
        val a = windowStart(4L * InsertBatch)
        val batch = (0 until InsertBatch).map(j => a + 4L * j + 1)
          .filter(k => model.get(k).isEmpty).map(k => (k, rnd.nextInt(1000).toLong))
        source(batch)
        write(traced, kind, batch.size, s"INSERT INTO $table SELECT * FROM $Source")(_ => true) {
          batch.foreach { case (k, q) => model.put(k, q, statement) }
        }
    }
  }

  /** Registers `batch` as the statement's source view, noted with the
    * current statement number. */
  private def source(batch: Seq[(Long, Long)]): Unit =
    spark.createDataFrame(batch.map { case (k, q) => Row(k, grp(k), q, "v" + statement) }.asJava,
      Schema).createOrReplaceTempView(Source)

  private def read(traced: Boolean, kind: Kind, sql: String)(ok: Array[Row] => Boolean): Op = {
    val ((df, got), wall, jobs, spans) = run.timed(kind.name, traced) {
      val df = spark.sql(sql)
      (df, df.collect())
    }
    run.attempted += 1
    if (!ok(got)) run.fail(s"statement $statement: $sql returned ${got.mkString(", ")}")
    val (analysis, planning) = phases(df)
    Op(kind.name, wall, traced, jobs, spans, FsBytes.Written(0, 0), 0L, Map(
      "analysis_s" -> analysis, "planning_s" -> planning,
      "files_scanned" -> filesScanned(df.queryExecution.executedPlan).toDouble,
      "files_total" -> DataFiles.live(dir).toDouble))
  }

  private def write(traced: Boolean, kind: Kind, changed: Long, sql: String)
                   (ok: Array[Row] => Boolean)(applyToModel: => Unit): Op = {
    val before = FsBytes.list(Seq(dir))
    val ((df, got), wall, jobs, spans) = run.timed(kind.name, traced) {
      val df = spark.sql(sql)
      (df, df.collect())
    }
    run.attempted += 1
    if (!ok(got)) run.fail(s"statement $statement: $sql returned ${got.mkString(", ")}")
    applyToModel
    val (analysis, planning) = phases(df)
    Op(kind.name, wall, traced, jobs, spans, FsBytes.written(before, FsBytes.list(Seq(dir))),
      changed, Map("analysis_s" -> analysis, "planning_s" -> planning))
  }

  override def finish(): Map[String, Double] = {
    val got = spark.sql(s"SELECT k, grp, qty, note FROM $table")
    val want = spark.createDataFrame(model.rows.map { case (k, q, v) =>
      Row(k, grp(k), q, "v" + v) }.asJava, Schema)
    if (!SyncWorkload.sameRows(got, want)) run.fail("final table content differs from the model")
    Map(
      "Manifest.snapshots_end" ->
        Manifest.latestSnapshotId(spark, dir.toString).getOrElse(0).toDouble,
      "Manifest.live_files_end" -> Manifest.files(spark, dir.toString).count().toDouble)
  }

  override def detail(ops: Seq[Op]): Seq[(String, Double)] = {
    def lat(prefix: String, xs: Seq[Double]) = {
      val t = Stats.tailOrMax(xs)
      Seq(s"${prefix}_p50_s" -> Stats.median(xs), s"${prefix}_tail_s" -> t.value,
        s"${prefix}_tail_percentile" -> t.percentile.toDouble, s"${prefix}_samples" -> xs.size.toDouble)
    }
    val (reads, writes) = ops.partition(isRead)
    lat("read", reads.map(_.wallS)) ++ lat("write", writes.map(_.wallS))
  }

  override def layers(ops: Seq[Op], end: Map[String, Double]): Map[String, Double] = {
    val traced = ops.filter(_.traced)
    def mean(xs: Seq[Op])(f: Op => Double) = if (xs.isEmpty) 0.0 else xs.map(f).sum / xs.size
    val reads = traced.filter(isRead)
    val writes = ops.filterNot(isRead)
    val w = writes.map(_.wallS)
    val decile = math.max(1, w.size / 10)
    end ++ Map(
      "sources.analysis_s" -> mean(traced)(_.fact("analysis_s")),
      "sources.planning_s" -> mean(traced)(_.fact("planning_s")),
      "sources.exec_s" -> mean(traced)(o => o.wallS - o.fact("analysis_s") - o.fact("planning_s")),
      "sources.files_scanned" -> mean(reads)(_.fact("files_scanned")),
      "sources.files_total" -> mean(reads)(_.fact("files_total")),
      "sources.jobs" -> mean(traced)(_.jobs.size),
      "sources.write_drift" ->
        (if (w.isEmpty) 0.0 else Stats.median(w.takeRight(decile)) / Stats.median(w.take(decile))),
      "Layout.bytes_written_per_write" -> mean(writes)(_.written.bytes.toDouble),
      "Layout.files_written_per_write" -> mean(writes)(_.written.files.toDouble))
  }
}

object DmlWorkload {
  /** A statement kind; `name` is the kind of the ops it records. */
  sealed abstract class Kind(val name: String, val reads: Boolean)
  case object Point extends Kind("point", reads = true)
  case object RangeAgg extends Kind("range", reads = true)
  case object Update extends Kind("update", reads = false)
  case object Delete extends Kind("delete", reads = false)
  case object Merge extends Kind("merge", reads = false)
  case object Insert extends Kind("insert", reads = false)

  val Kinds: Seq[Kind] = Seq(Point, RangeAgg, Update, Delete, Merge, Insert)
  def isRead(o: Op): Boolean = Kinds.exists(k => k.reads && k.name == o.kind)

  val Block: Seq[Kind] = Seq.fill(8)(Point) ++ Seq.fill(4)(RangeAgg) ++ Seq.fill(3)(Update) ++
    Seq.fill(2)(Delete) ++ Seq.fill(2)(Merge) :+ Insert

  /** Table rows at the start, and the data files they are clustered into. */
  val Rows = 200000
  val Files = 16
  val MergeBatch = 1000
  val InsertBatch = 200
  private val Mult = 2654435761L
  private val Source = "perfbench_src"

  val Schema: StructType = StructType(Seq(StructField("k", LongType), StructField("grp", IntegerType),
    StructField("qty", LongType), StructField("note", StringType)))

  def grp(k: Long): Int = ((k / 4) % 16).toInt

  /** Seconds in (parsing + analysis) and (optimization + planning), from
    * the statement's own planning tracker. */
  def phases(df: DataFrame): (Double, Double) = {
    val p = df.queryExecution.tracker.phases
    def s(names: String*) = names.flatMap(p.get).map(_.durationMs).sum / 1e3
    (s("parsing", "analysis"), s("optimization", "planning"))
  }

  /** Distinct data files the executed plan's scans read. */
  def filesScanned(plan: SparkPlan): Int = {
    def scans(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case b: BatchScanExec => b.inputPartitions.collect { case f: FilePartition =>
        f.files.map(_.filePath.toString).toSeq }.flatten
      case f: FileSourceScanExec => Seq.fill(f.metrics.get("numFiles").map(_.value.toInt).getOrElse(0))(
        f.toString)
      case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
    }
    scans(plan).distinct.size
  }

  /** The expected table: key → (qty, version of the statement that last
    * wrote it), over the key space `[0, capacity)`. */
  final class Model(val capacity: Int) {
    private val alive = new java.util.BitSet(capacity)
    private val qty = new Array[Long](capacity)
    private val ver = new Array[Int](capacity)
    def get(k: Long): Option[(Long, Int)] =
      if (k >= 0 && k < capacity && alive.get(k.toInt)) Some((qty(k.toInt), ver(k.toInt))) else None
    def put(k: Long, q: Long, v: Int): Unit = {
      alive.set(k.toInt); qty(k.toInt) = q; ver(k.toInt) = v
    }
    def remove(k: Long): Unit = alive.clear(k.toInt)
    /** Live keys in `[lo, hi]`. */
    def range(lo: Long, hi: Long): Seq[Long] = {
      val out = Seq.newBuilder[Long]
      var i = alive.nextSetBit(math.max(0L, lo).toInt)
      while (i >= 0 && i <= hi) { out += i.toLong; i = alive.nextSetBit(i + 1) }
      out.result()
    }
    def rows: Seq[(Long, Long, Int)] = range(0, capacity - 1).map(k => (k, qty(k.toInt), ver(k.toInt)))
  }
}
