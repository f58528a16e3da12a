package graft
import org.apache.spark.sql.SparkSession

/** Dev tool: time a NAMED SUBSET of the declared queries bench-style
  * (same session config, same warmup/prestage, best-of-N) in one JVM —
  * the cheap A/B loop for optimization work. Never used by the driver;
  * the formal artifact stays [[Bench]]'s.
  * Usage: runMain graft.BenchSome <query> [<query> ...]
  */
object BenchSome {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BenchSome <query> [<query> ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(';').foreach { kv =>
      kv.split("=", 2) match { case Array(k, v) => builder.config(k.trim, v.trim); case _ => () }
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count().count()
      graft.queries.SyncQueries.prestage(spark, sfDir)
      graft.queries.SourceQueries.prestage(spark, sfDir)
    } catch { case _: Throwable => () }
    val calib = Bench.calibrate(spark)
    // Warm-up: the first scan pays JIT and page-cache cost; only the
    // second is the printed calib_scan_sec baseline.
    Bench.calibrateScan(spark, sfDir): Unit
    val calibScan = Bench.calibrateScan(spark, sfDir)
    println(f"""{"calib_sec":$calib%.3f,"calib_scan_sec":$calibScan%.3f}""")
    val repeats = math.max(1, sys.env.get("SPARK_GRAFT_BENCH_REPEATS")
      .flatMap(s => scala.util.Try(s.toInt).toOption).getOrElse(3))
    args.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      var failed = false
      val samples = (1 to repeats).map { _ =>
        val t0 = System.nanoTime()
        try {
          val df = fn(spark, sfDir)
          df.count()
          graft.ops.Caching.release(df)
        } catch { case e: Throwable => failed = true; println(s"ERR $name: $e") }
        (System.nanoTime() - t0) / 1e9
      }.sorted
      // A fast failure must not read as a speedup in an A/B comparison.
      val err = if (failed) ""","err":true""" else ""
      println(f"""{"query":"$name","sec":${samples.head}%.3f,"spread":${samples(samples.length / 2) - samples.head}%.3f$err}""")
    }
    spark.stop()
  }
}
