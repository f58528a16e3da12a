package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}

/** Benchmark entry point:
  *
  * {{{
  * perfbench.Main --workload <sync_churn|dml_mix> --seed <n> --seconds <s>
  *                --trace <0|1> --dir <work dir> --data <data dir>
  * }}}
  *
  * Builds the workload's fixture from the seed (and, for sync_churn, the
  * TPC-H files in `--data`), runs the warm-up ops, and reports as set-up
  * time the session start plus the fixture build plus the warm-up. It
  * then runs measured ops in a closed loop with one client until their
  * timed total reaches `--seconds` (dml_mix: in whole blocks of its
  * statement mix).
  * The last stdout line is the result object: end-to-end metrics with
  * `--trace 0`, per-layer metrics with `--trace 1`. The line before it,
  * `perfbench detail: {...}`, repeats the end-to-end metrics and adds the
  * workload's own figures (cycle, read and write latencies and tails), all
  * with units. A failed check prints `"correct": false` and exits 1.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, dir: Path,
                        data: Path)

  val Workloads: Seq[String] = Seq("sync_churn", "dml_mix")

  /** End-to-end metric → unit, in output order. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_geomean_s" -> "s", "ops_per_s" -> "ops/s", "heap_retained_mb" -> "MB",
    "bytes_written_per_changed_row" -> "B")

  /** Units of the detail line's figures (the workload's own latencies,
    * throughput and write amplification). */
  val DetailUnits: Map[String, String] = Map(
    "session_s" -> "s", "warmup_s" -> "s", "op_p50_s" -> "s", "op_tail_s" -> "s",
    "cycle_p50_s" -> "s", "cycle_tail_s" -> "s", "read_p50_s" -> "s", "read_tail_s" -> "s",
    "write_p50_s" -> "s", "write_tail_s" -> "s", "delta_rows_per_s" -> "rows/s",
    "bytes_written_per_changed_row" -> "B", "ops_attempted" -> "count", "ops_failed" -> "count",
    "fixture_s" -> "s", "measured_s" -> "s").withDefault(k =>
      if (k.endsWith("_percentile")) "percentile" else if (k.endsWith("_samples")) "count" else "s")

  /** Per-layer metric → unit, in output order. Layers a workload bypasses
    * report 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "SyncEngine.driver_gap_s" -> "s", "SyncEngine.jobs" -> "count",
    "SyncEngine.untagged_job_s" -> "s", "SyncEngine.tables_skipped" -> "count",
    "SyncEngine.tables_applied" -> "count",
    "Hashing.gate_wall_s" -> "s", "Hashing.gate_cpu_s" -> "s",
    "Hashing.gate_input_bytes" -> "B", "Hashing.gate_jobs" -> "count",
    "Differ.spill_wall_s" -> "s", "Differ.spill_shuffle_bytes" -> "B",
    "Differ.legcount_wall_s" -> "s", "Differ.fetch_wall_s" -> "s", "Differ.delta_keys" -> "count",
    "TableStore.read_calls" -> "count", "TableStore.read_s" -> "s", "TableStore.list_s" -> "s",
    "TableStore.schema_s" -> "s", "TableStore.apply_wall_s" -> "s",
    "TableStore.apply_bytes_written" -> "B", "TableStore.apply_files_written" -> "count",
    "sources.analysis_s" -> "s", "sources.planning_s" -> "s", "sources.exec_s" -> "s",
    "sources.files_scanned" -> "count", "sources.files_total" -> "count",
    "sources.jobs" -> "count", "sources.write_drift" -> "ratio",
    "Manifest.snapshots_end" -> "count", "Manifest.live_files_end" -> "count",
    "Layout.bytes_written_per_write" -> "B", "Layout.files_written_per_write" -> "count",
    "spark.tasks" -> "count", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "B", "trace.overhead_s" -> "s")

  def parse(argv: Seq[String]): Args = {
    val kv = argv.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"unexpected argument ${other.mkString(" ")}")
    }.toMap
    val unknown = kv.keySet -- Set("workload", "seed", "seconds", "trace", "dir", "data")
    if (unknown.nonEmpty) usage(s"unknown option --${unknown.head}")
    def need(k: String) = kv.getOrElse(k, usage(s"missing --$k"))
    val w = need("workload")
    if (!Workloads.contains(w)) usage(s"unknown workload $w")
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => usage(s"--trace must be 0 or 1, got $t")
    }
    val seconds = need("seconds").toInt
    if (seconds < 1) usage("--seconds must be positive")
    Args(w, need("seed").toLong, seconds, trace, Paths.get(need("dir")).toAbsolutePath,
      Paths.get(need("data")).toAbsolutePath)
  }

  private def usage(why: String): Nothing =
    throw new IllegalArgumentException(s"$why; usage: --workload <${Workloads.mkString("|")}> " +
      "--seed <n> --seconds <s> --trace <0|1> --dir <work dir> --data <data dir>")

  def main(argv: Array[String]): Unit = {
    val entry = System.nanoTime()
    val args = parse(argv.toSeq)
    val work = args.dir.resolve(s"${args.workload}-${args.seed}-${ProcessHandle.current().pid()}")
    SyncWorkload.deleteTree(work)
    Files.createDirectories(work)
    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))
    val spark = session(work, cores)
    val code =
      try measure(spark, args, work, cores, entry)
      finally {
        spark.stop()
        SyncWorkload.deleteTree(work)
      }
    sys.exit(code)
  }

  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.catalogImplementation", "in-memory")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def measure(spark: SparkSession, args: Args, work: Path, cores: Int, entry: Long): Int = {
    val sessionS = (System.nanoTime() - entry) / 1e9
    val run = new Runner(spark, cores, args.trace)
    val wl: Workload = args.workload match {
      case "sync_churn" => new SyncWorkload(run, args.seed, args.data)
      case "dml_mix" => new DmlWorkload(run, args.seed)
    }
    def seconds(body: => Unit): Double = {
      val t = System.nanoTime()
      body
      (System.nanoTime() - t) / 1e9
    }
    val fixtureS = seconds(wl.fixture(work.resolve("fixture")))
    val warmupS = seconds(wl.warmup())
    val setupS = sessionS + fixtureS + warmupS

    val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
    val wallStart = System.nanoTime()
    // Bounds the measured phase on a slow host, so a run ends within 180 s.
    val wallCap = args.seconds * 2.0 + 30
    var broken = false
    while (!broken && wl.more(ops.map(_.wallS).sum, args.seconds) &&
        (System.nanoTime() - wallStart) / 1e9 < wallCap) {
      try ops += wl.step(args.trace)
      catch {
        case e: Exception =>
          // A throwing op is a failed op; the fixture's state is then
          // unknown, so measurement stops here.
          run.attempted += 1
          run.fail(s"op ${ops.size + 1} threw $e")
          broken = true
      }
    }
    if (ops.isEmpty) {
      println(Json.obj(Seq("correct" -> "false", "attempted" -> run.attempted.toString,
        "failed" -> run.failed.toString, "metrics" -> "{}")))
      return 1
    }
    val heapMb = heapAfterGc()
    val end = wl.finish()

    val walls = ops.map(_.wallS).toSeq
    System.err.println("perfbench: op walls " + ops.map(o => f"${o.kind} ${o.wallS}%.3f").mkString(", "))
    val e2e = Seq("setup_s" -> setupS, "op_geomean_s" -> Stats.geomean(walls),
      "ops_per_s" -> walls.size / walls.sum, "heap_retained_mb" -> heapMb,
      "bytes_written_per_changed_row" ->
        ops.map(_.written.bytes).sum.toDouble / math.max(1L, ops.map(_.changedRows).sum))
    val tail = Stats.tailOrMax(walls)
    val detail = e2e ++
      Seq("session_s" -> sessionS, "fixture_s" -> fixtureS, "warmup_s" -> warmupS,
        "measured_s" -> walls.sum, "op_p50_s" -> Stats.median(walls), "op_tail_s" -> tail.value,
        "op_tail_percentile" -> tail.percentile.toDouble, "op_samples" -> walls.size.toDouble) ++
      wl.detail(ops.toSeq) ++
      Seq("ops_attempted" -> run.attempted.toDouble, "ops_failed" -> run.failed.toDouble)
    val allUnits = (EndToEnd ++ PerLayer).toMap.withDefault(DetailUnits)
    def withUnits(ms: Seq[(String, Double)]) = Json.obj(ms.map { case (k, v) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(allUnits(k))))
    })
    println("perfbench detail: " + withUnits(detail))

    val metrics: Seq[(String, Double)] =
      if (!args.trace) e2e
      else {
        val layered = wl.layers(ops.toSeq, end)
        val traced = ops.filter(_.traced).toSeq
        val overhead = Stats.pairedOverhead(ops.map(o => (o.kind, o.traced, o.wallS)).toSeq)
        println(s"perfbench trace overhead: ${overhead.getOrElse(Double.NaN)} s, from " +
          s"${traced.size} traced and ${ops.size - traced.size} untraced ops of " +
          s"${ops.map(_.kind).distinct.size} kinds")
        def perOp(f: Op => Double) = traced.map(f).sum / math.max(1, traced.size)
        val common = Map(
          "spark.tasks" -> perOp(_.jobs.map(_.tasks).sum.toDouble),
          "spark.executor_cpu_s" -> perOp(_.jobs.map(_.cpuNs).sum / 1e9),
          "spark.gc_s" -> perOp(_.jobs.map(_.gcMs).sum / 1e3),
          "spark.shuffle_write_bytes" -> perOp(_.jobs.map(_.shuffleWriteBytes).sum.toDouble),
          "trace.overhead_s" -> overhead.getOrElse(0.0))
        val spansFile = work.getParent.resolve(s"spans-${args.workload}-${args.seed}.jsonl")
        Files.writeString(spansFile, Spans.toJsonl(run.spans.all))
        val self = Spans.selfSeconds(run.spans.all).toSeq.sortBy(-_._2)
        println(s"perfbench spans: $spansFile")
        println("perfbench self time: " + Json.obj(self.map { case (k, v) => k -> Json.num(v) }))
        PerLayer.map { case (name, _) => name -> (layered ++ common).getOrElse(name, 0.0) }
      }
    val correct = run.failed == 0
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> run.attempted.toString,
      "failed" -> run.failed.toString,
      "metrics" -> withUnits(metrics))))
    if (correct) 0 else 1
  }

  /** Driver heap in use after full collections, in MB. */
  private def heapAfterGc(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
