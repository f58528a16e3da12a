package perfbench

import graft.sync.{ParquetStore, SyncAction, SyncConfig, SyncEngine, TableStore}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Path}

/** `sync_churn`: repeated `SyncEngine.syncDatabase()` over the seven-table
  * TPC-H database in `data`, held as a master and a slave `ParquetStore`,
  * with default `SyncConfig` plus primary keys.
  *
  * Before each cycle the master's orders and lineitem take a seeded churn
  * (updates, deletes, inserts) through plain Spark writes; the cycle must
  * report exactly the generator's counts, the other five tables must be
  * skipped with no bytes written, and afterwards slave and master must hold
  * the same rows both ways.
  */
final class SyncWorkload(run: Runner, seed: Long, data: Path) extends Workload {
  import SyncWorkload._
  private val spark = run.spark
  private val config = SyncConfig(primaryKeys = Tpch.Keys, tableParallelism = run.cores)
  private var dir: Path = _
  private var cycle = 0

  private def masterDir = dir.resolve("master")
  private def slaveDir = dir.resolve("slave")

  override def fixture(d: Path): Unit = {
    dir = d
    cycle = 0
    for (t <- Tpch.Tables) {
      val m = masterDir.resolve(s"$t.parquet")
      val df = Tpch.table(spark, data, t)
      val laidOut =
        if (!Tpch.Churned.contains(t)) df.coalesce(1)
        else {
          val keys = Tpch.Keys(t).map(col)
          df.repartitionByRange(run.cores, keys: _*).sortWithinPartitions(keys: _*)
        }
      laidOut.write.parquet(m.toString)
      copyTree(m, slaveDir.resolve(s"$t.parquet"))
    }
  }

  /** Warm-up cycles check the actions and untouched tables; the row
    * comparison is left to measured cycles. */
  override def warmup(): Unit =
    (1 to WarmupCycles).foreach(_ => runCycle(traced = false, compare = false))

  /** Traces every other measured cycle when `trace` is on. */
  override def step(trace: Boolean): Op =
    runCycle(trace && (cycle - WarmupCycles) % 2 == 0, compare = true)

  /** Mutates the master, times one cycle, checks it; with `compare`, also
    * compares the changed tables' rows. */
  private def runCycle(traced: Boolean, compare: Boolean): Op = {
    cycle += 1
    val expected = mutateMaster()
    val quiet = Tpch.Tables.filterNot(expected.contains)
    def quietDirs = quiet.flatMap(t => Seq(masterDir, slaveDir).map(_.resolve(s"$t.parquet")))
    val changedDirs = expected.keys.toSeq.map(t => slaveDir.resolve(s"$t.parquet"))
    val before = FsBytes.list(quietDirs)
    val beforeChanged = FsBytes.list(changedDirs)
    val master = new ParquetStore(spark, masterDir.toString)
    val slave = new ParquetStore(spark, slaveDir.toString)
    val (actions, wall, jobs, spans) = run.timed("cycle", traced) {
      def wrap(s: TableStore) = if (traced) new TracedStore(s, run.spans) else s
      val engine = new SyncEngine(wrap(master), wrap(slave), config)
      run.spans.span("SyncEngine.syncDatabase")(engine.syncDatabase())
    }
    run.attempted += 1
    val written = FsBytes.written(beforeChanged, FsBytes.list(changedDirs))
    val ok =
      try check(actions, expected, if (compare) expected.keySet else Set.empty,
        FsBytes.written(before, FsBytes.list(quietDirs)))
      catch { case e: Exception => System.err.println(s"perfbench: check threw $e"); false }
    if (!ok) run.fail(s"cycle $cycle: ${actions.mkString(", ")}")
    val deltas = actions.collect { case SyncAction.ApplyDelta(_, d, i) => d + i }
    Op("cycle", wall, traced, jobs, spans, written,
      changedRows = expected.values.map(c => c.updated + c.deleted + c.inserted).sum,
      facts = Map(
        "delta_rows" -> deltas.sum.toDouble,
        "tables_applied" -> deltas.size.toDouble,
        "tables_skipped" -> actions.count(_.isInstanceOf[SyncAction.Skip]).toDouble))
  }

  /** Plain Spark rewrite of the churned master tables, one thread per
    * table; returns the exact per-table change counts. */
  private def mutateMaster(): Map[String, Churn] = inParallel(Tpch.Churned) { t =>
    val path = masterDir.resolve(s"$t.parquet")
    val staged = dir.resolve(s"staged-$t.parquet")
    val (next, counts) = Tpch.churn(spark, seed, t, readTable(masterDir, t), cycle)
    next.write.mode(SaveMode.Overwrite).parquet(staged.toString)
    deleteTree(path)
    Files.move(staged, path)
    counts
  }

  /** Reads a table with the schema its fixture was written with, which
    * spares a schema-inference job per read. */
  private def readTable(side: Path, t: String): DataFrame =
    spark.read.schema(schemas(t)).parquet(side.resolve(s"$t.parquet").toString)
  private lazy val schemas: Map[String, org.apache.spark.sql.types.StructType] =
    Tpch.Tables.map(t => t -> spark.read.parquet(masterDir.resolve(s"$t.parquet").toString).schema).toMap

  /** The cycle's actions match the generator's counts, tables the master
    * did not change got no new bytes on either side, and each table in
    * `compared` holds the master's rows on the slave. */
  private def check(actions: Seq[SyncAction], expected: Map[String, Churn],
                    compared: Set[String], untouched: FsBytes.Written): Boolean = {
    val byTable = actions.groupBy(_.table)
    val decided = Tpch.Tables.forall(t => byTable.get(t).exists(_.size == 1)) &&
      byTable.size == Tpch.Tables.size
    val actionsOk = decided && Tpch.Tables.forall { t =>
      (byTable(t).head, expected.get(t)) match {
        case (SyncAction.Skip(_, reason), None) => reason.startsWith("already in sync")
        case (SyncAction.ApplyDelta(_, d, i), Some(c)) =>
          d == c.expectDeleted && i == c.expectInserted
        case _ => false
      }
    }
    actionsOk && untouched.bytes == 0L &&
      inParallel(compared.toSeq)(t => sameRows(readTable(masterDir, t), readTable(slaveDir, t)))
        .values.forall(identity)
  }

  override def finish(): Map[String, Double] = Map.empty

  override def detail(ops: Seq[Op]): Seq[(String, Double)] = {
    val walls = ops.map(_.wallS)
    val tail = Stats.tailOrMax(walls)
    Seq("cycle_p50_s" -> Stats.median(walls), "cycle_tail_s" -> tail.value,
      "cycle_tail_percentile" -> tail.percentile.toDouble, "cycle_samples" -> walls.size.toDouble,
      "delta_rows_per_s" -> ops.map(_.fact("delta_rows")).sum / walls.sum)
  }

  override def layers(ops: Seq[Op], end: Map[String, Double]): Map[String, Double] = {
    val traced = ops.filter(_.traced)
    def mean(f: Op => Double) = traced.map(f).sum / traced.size
    def wall(tag: String)(o: Op) = Op.unionSeconds(o.jobsTagged(tag))
    Map(
      "SyncEngine.driver_gap_s" -> mean(o => o.wallS - Op.unionSeconds(o.jobs)),
      "SyncEngine.jobs" -> mean(_.jobs.size),
      "SyncEngine.untagged_job_s" -> mean(wall(Tags.Untagged)),
      "SyncEngine.tables_skipped" -> mean(_.fact("tables_skipped")),
      "SyncEngine.tables_applied" -> mean(_.fact("tables_applied")),
      "Hashing.gate_wall_s" -> mean(wall(Tags.FusedGate)),
      "Hashing.gate_cpu_s" -> mean(_.jobsTagged(Tags.FusedGate).map(_.cpuNs).sum / 1e9),
      "Hashing.gate_input_bytes" -> mean(_.jobsTagged(Tags.FusedGate).map(_.inputBytes).sum.toDouble),
      "Hashing.gate_jobs" -> mean(_.jobsTagged(Tags.FusedGate).size),
      "Differ.spill_wall_s" -> mean(wall(Tags.Spill)),
      "Differ.spill_shuffle_bytes" ->
        mean(_.jobsTagged(Tags.Spill).map(_.shuffleWriteBytes).sum.toDouble),
      "Differ.legcount_wall_s" -> mean(wall(Tags.LegCounts)),
      "Differ.fetch_wall_s" -> mean(wall(Tags.Fetch)),
      "Differ.delta_keys" -> mean(_.fact("delta_rows")),
      "TableStore.read_calls" -> mean(_.spanCount("TableStore.read")),
      "TableStore.read_s" -> mean(_.spanSeconds("TableStore.read")),
      "TableStore.list_s" -> mean(_.spanSeconds("TableStore.list")),
      "TableStore.schema_s" -> mean(_.spanSeconds("TableStore.schemaOf")),
      "TableStore.apply_wall_s" -> mean(_.spanSeconds("TableStore.applyDelta")),
      "TableStore.apply_bytes_written" -> mean(_.written.bytes.toDouble),
      "TableStore.apply_files_written" -> mean(_.written.files.toDouble))
  }
}

object SyncWorkload {
  /** Cycles run before measurement; their time counts in set-up. */
  val WarmupCycles = 3

  /** `f` over `xs`, one thread each; untimed generator and check work. */
  def inParallel[A, B](xs: Seq[A])(f: A => B): Map[A, B] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    Await.result(Future.sequence(xs.map(x => Future(x -> f(x)))), Duration.Inf).toMap
  }

  /** Both-way multiset equality, with no engine hashing: `exceptAll` each
    * way must be empty (both ways checked in one job). */
  def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.schema == b.schema && a.exceptAll(b).unionAll(b.exceptAll(a)).isEmpty

  def copyTree(from: Path, to: Path): Unit = {
    Files.createDirectories(to.getParent)
    val s = Files.walk(from)
    try s.forEach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
    finally s.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }
}
