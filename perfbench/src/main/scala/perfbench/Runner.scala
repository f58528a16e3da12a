package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import java.nio.file.Path

/** One measured op: a sync cycle or a SQL statement. `wallS` is the timed
  * region only; generator work and checks around it are not in it. */
final case class Op(kind: String, wallS: Double, traced: Boolean, jobs: Seq[JobRec],
                    spans: Seq[Span], written: FsBytes.Written, changedRows: Long,
                    facts: Map[String, Double] = Map.empty) {
  def fact(name: String): Double = facts.getOrElse(name, 0.0)
  def spanSeconds(name: String): Double =
    spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum
  def spanCount(name: String): Int = spans.count(_.name == name)
  def jobsTagged(tag: String): Seq[JobRec] = jobs.filter(_.tag == tag)
}

object Op {
  def unionSeconds(jobs: Seq[JobRec]): Double =
    Stats.unionLength(jobs.map(j => (j.startMs, j.endMs))) / 1e3
}

/** The run's shared state: the session, the op counter, the tracing
  * machinery when on, and the tally of attempted and failed ops. */
final class Runner(val spark: SparkSession, val cores: Int, val trace: Boolean) {
  val spans = new Spans
  private val ledger = if (trace) Some(new JobLedger) else None
  ledger.foreach(spark.sparkContext.addSparkListener)
  private var nextOp = 0L
  var attempted = 0
  var failed = 0
  private val epochNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  /** Runs `body` as op `kind`, timing it; with tracing on and `traced`,
    * records its spans and Spark jobs too. Returns the result, the timed
    * seconds, and the jobs and spans of the op. */
  def timed[T](kind: String, traced: Boolean)(body: => T): (T, Double, Seq[JobRec], Seq[Span]) = {
    nextOp += 1
    val id = nextOp
    val tracing = trace && traced
    spans.op = id
    spans.enabled = tracing
    val start = System.nanoTime()
    val r =
      try ledger.fold(spans.span("op:" + kind)(body))(_ =>
        JobLedger.withOp(spark, id)(spans.span("op:" + kind)(body)))
      finally spans.enabled = false
    val wall = (System.nanoTime() - start) / 1e9
    val jobs = ledger.fold(Seq.empty[JobRec]) { l =>
      PerfbenchBus.drain(spark.sparkContext)
      l.take(id)
    }
    if (!tracing) return (r, wall, Nil, Nil)
    val own = spans.of(id)
    val root = own.find(_.parent == 0L).map(_.id).getOrElse(0L)
    jobs.foreach(j => spans.add("job:" + j.tag, j.startMs * 1000000L + epochNs,
      j.endMs * 1000000L + epochNs, root, id))
    (r, wall, jobs, own)
  }

  /** Counts a failed correctness check or op; the run then exits non-zero. */
  def fail(what: String): Unit = {
    failed += 1
    System.err.println(s"perfbench: FAILED: $what")
  }
}

/** A workload: a fixture built from the seed, warm-up ops, then measured
  * ops in a closed loop with one client. */
trait Workload {
  /** Builds a fresh fixture under `dir` from the seed with plain Spark
    * writes; the next ops run against it. */
  def fixture(dir: Path): Unit
  /** Runs the warm-up ops: checked, but not recorded. */
  def warmup(): Unit
  /** Whether to run another measured op, given the timed total so far:
    * by default until it reaches `seconds`. */
  def more(timed: Double, seconds: Int): Boolean = timed < seconds
  /** Runs one measured op plus its untimed preparation and checks. With
    * `trace` on, it traces every other op of each kind. */
  def step(trace: Boolean): Op
  /** Untimed end-of-run checks; returns end-state figures. */
  def finish(): Map[String, Double]
  /** Workload-specific end-to-end figures, for the detail line. */
  def detail(ops: Seq[Op]): Seq[(String, Double)]
  /** Per-layer figures, mostly over the traced ops among `ops`. */
  def layers(ops: Seq[Op], end: Map[String, Double]): Map[String, Double]
}
