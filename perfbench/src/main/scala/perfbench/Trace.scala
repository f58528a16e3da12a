package perfbench

import graft.sync.TableStore
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import scala.collection.mutable

/** The phase tags the engine already puts on its Spark jobs: a job
  * description reads `sync: <table> <tag>`. A job whose description ends in
  * none of them is `untagged`, so a renamed tag shows up as work moving to
  * `untagged`, never as work disappearing.
  */
object Tags {
  val FusedGate = "fused-gate"
  val Spill = "diff-leg spill"
  val LegCounts = "leg counts"
  val Fetch = "insert fetch"
  val Apply = "store apply"
  val Untagged = "untagged"
  val known: Seq[String] = Seq(FusedGate, Spill, LegCounts, Fetch, Apply)

  def of(description: String): String =
    Option(description).flatMap(d => known.find(t => d.endsWith(" " + t))).getOrElse(Untagged)
}

/** One finished Spark job, attributed to the op that launched it. Times are
  * wall-clock milliseconds from the scheduler events. */
final case class JobRec(op: Long, tag: String, startMs: Long, endMs: Long,
                        tasks: Int, cpuNs: Long, gcMs: Long, inputBytes: Long,
                        shuffleWriteBytes: Long)

/** Collects per-job task metrics for the jobs launched while an op runs.
  * Ops are marked by the local property [[JobLedger.OpProperty]], which
  * Spark copies into the threads the engine's table pool creates, so jobs
  * from every table of a cycle land on the cycle.
  */
final class JobLedger extends SparkListener {
  private final class Acc(val op: Long, val tag: String, val startMs: Long) {
    var tasks = 0; var cpuNs = 0L; var gcMs = 0L; var input = 0L; var shuffle = 0L
  }
  private val open = mutable.Map.empty[Int, Acc]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val done = mutable.ArrayBuffer.empty[JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(JobLedger.OpProperty))).foreach { op =>
      val desc = props.map(_.getProperty("spark.job.description")).orNull
      open(e.jobId) = new Acc(op.toLong, Tags.of(desc), e.time)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (job <- stageJob.get(e.stageId); a <- open.get(job); m <- Option(e.taskMetrics)) {
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.input += m.inputMetrics.bytesRead
      a.shuffle += m.shuffleWriteMetrics.bytesWritten
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { a =>
      done += JobRec(a.op, a.tag, a.startMs, e.time, a.tasks, a.cpuNs, a.gcMs,
        a.input, a.shuffle)
    }
  }

  /** Removes and returns the finished jobs of `op`; call after the op
    * returned and the listener bus drained. */
  def take(op: Long): Seq[JobRec] = synchronized {
    val (mine, rest) = done.partition(_.op == op)
    done.clear(); done ++= rest
    stageJob.filterInPlace((_, j) => open.contains(j))
    mine.toSeq
  }
}

object JobLedger {
  val OpProperty = "perfbench.op"

  /** Runs `body` with its Spark jobs attributed to `op`. */
  def withOp[T](spark: SparkSession, op: Long)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(OpProperty, op.toString)
    try body finally sc.setLocalProperty(OpProperty, null)
  }
}

/** A timed region recorded by the benchmark around a call into a public
  * library function. Times are `System.nanoTime`. */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long, parent: Long, op: Long)

/** Span recorder. Parents come from a per-thread stack that threads
  * inherit on creation, so calls the engine makes from its table pool nest
  * under the engine call that created the pool. Recording is on only while
  * `enabled`; otherwise `span` just runs its body.
  */
final class Spans {
  @volatile var enabled = false
  @volatile var op = 0L
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val stack = new InheritableThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val recorded = mutable.ArrayBuffer.empty[Span]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      val start = System.nanoTime()
      stack.set(id :: parents)
      try body
      finally {
        stack.set(parents)
        val s = Span(id, name, start, System.nanoTime(), parents.headOption.getOrElse(0L), op)
        recorded.synchronized { recorded += s }
      }
    }

  /** Adds a span timed elsewhere (a Spark job, from scheduler events). */
  def add(name: String, startNs: Long, endNs: Long, parent: Long, op: Long): Unit =
    recorded.synchronized { recorded += Span(ids.incrementAndGet(), name, startNs, endNs, parent, op) }

  def all: Seq[Span] = recorded.synchronized(recorded.toSeq)
  def of(op: Long): Seq[Span] = recorded.synchronized(recorded.filter(_.op == op).toSeq)
}

object Spans {
  /** Self time per span: its length minus the union of its children's, as
    * seconds summed by span name. */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil)
          .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        math.max(0L, (s.endNs - s.startNs) - Stats.unionLength(kids)) / 1e9
      }.sum
    }
  }

  def toJsonl(spans: Seq[Span]): String =
    spans.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent},"op":${s.op}}"""
    }.mkString("", "\n", "\n")
}

/** A [[TableStore]] that forwards every member to `inner`, recording a span
  * named `TableStore.<member>` around each call. The engine sees the same
  * store behaviour; only the clock reads are added.
  */
final class TracedStore(inner: TableStore, spans: Spans) extends TableStore {
  private def t[T](member: String)(body: => T): T = spans.span("TableStore." + member)(body)

  override def spark: SparkSession = inner.spark
  override def list(): Seq[String] = t("list")(inner.list())
  override def read(table: String): DataFrame = t("read")(inner.read(table))
  override def schemaOf(table: String): StructType = t("schemaOf")(inner.schemaOf(table))
  override def drop(table: String): Unit = t("drop")(inner.drop(table))
  override def overwrite(table: String, df: DataFrame): Unit =
    t("overwrite")(inner.overwrite(table, df))
  override def append(table: String, df: DataFrame): Unit = t("append")(inner.append(table, df))
  override def deleteKeys(table: String, keys: DataFrame, keyCols: Seq[String]): Unit =
    t("deleteKeys")(inner.deleteKeys(table, keys, keyCols))
  override def deleteWhere(table: String, partCol: String, value: Any): Unit =
    t("deleteWhere")(inner.deleteWhere(table, partCol, value))
  override def changeToken(table: String): Option[String] =
    t("changeToken")(inner.changeToken(table))
  override def tablePath(table: String): Option[String] = t("tablePath")(inner.tablePath(table))
  override def pushedHashMap(table: String, projCols: Seq[String], dataCols: Seq[String],
                             legacyNullSkip: Boolean): Option[DataFrame] =
    t("pushedHashMap")(inner.pushedHashMap(table, projCols, dataCols, legacyNullSkip))
  override def applyDelta(table: String, delKeys: DataFrame, keyCols: Seq[String],
                          inserts: DataFrame,
                          partDeletes: Option[(String, DataFrame)]): Unit =
    t("applyDelta")(inner.applyDelta(table, delKeys, keyCols, inserts, partDeletes))
}
