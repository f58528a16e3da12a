package graft.sources

import graft.ops.Manifest
import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** The PUBLIC read surface of the table format — snapshots, time travel,
  * and the change feed behind `spark.read.format("graft")`, so a user
  * composes manifest reads through Spark's own source API instead of
  * engine-internal Scala calls (the `VERSION AS OF` / CDF read posture of
  * Delta/Iceberg, on this engine's manifest):
  *
  * {{{
  * spark.read.format("graft").load(path)                       // latest snapshot
  * spark.read.format("graft").option("snapshotId", 3).load(path)   // time travel
  * spark.read.format("graft")
  *   .option("changesFrom", 1).option("changesTo", 4).load(path)   // change feed
  * }}}
  *
  * Implemented as a V1 relation DELEGATING to the manifest read paths: the
  * inner plan is a real parquet scan over exactly the snapshot's resolved
  * files (live + retained trash), so column pruning and pushed filters
  * reach the parquet reader ([[GraftRelation.buildScan]] applies both to
  * the inner frame before handing Spark the RDD), and every typed failure
  * mode of the Scala API (expired snapshot, stale manifest, reversed feed
  * endpoints) surfaces unchanged. Spark re-applies all filters above the
  * source (`unhandledFilters` default), so a partial pushdown translation
  * can never change results.
  */
final class DefaultSource extends RelationProvider with DataSourceRegister
  with StreamSourceProvider with StreamSinkProvider {
  override def shortName(): String = "graft"

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft source requires a path: spark.read.format(\"graft\").load(<table dir>)"))
    GraftRelation(sqlContext, path, parameters)
  }

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft stream requires a path: spark.readStream.format(\"graft\").load(<table dir>)"))

  private def streamIntOpt(parameters: Map[String, String],
                           k: String): Option[Int] =
    parameters.get(k).map { v =>
      try v.trim.toInt
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"graft stream: option `$k` must be an integer, got `$v`")
      }
    }

  private def withChanges(parameters: Map[String, String]): Boolean =
    parameters.get("withChanges").exists(_.trim.equalsIgnoreCase("true"))

  /** Stream schema = the LATEST snapshot's recorded schema at stream start
    * (the standard fixed-schema streaming contract; columns added by later
    * additive evolution are simply not surfaced until the stream restarts),
    * plus the `change` tag column when the stream is a change feed
    * (`withChanges`). Requires a manifested table — snapshots are the
    * offsets.
    */
  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    val s = schema.getOrElse {
      val id = Manifest.latestSnapshotId(spark, path).getOrElse(
        throw new IllegalArgumentException(
          s"no manifest snapshot under $path — the graft stream rides snapshot " +
            "history (run Manifest.create first)"))
      Manifest.storedSchema(spark, path, id)
        .getOrElse(Manifest.readAsOf(spark, path, id).schema)
    }
    (shortName(),
      if (withChanges(parameters))
        s.add(org.apache.spark.sql.types.StructField(
          "change", org.apache.spark.sql.types.StringType, nullable = false))
      else s)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): org.apache.spark.sql.execution.streaming.Source = {
    val maxPer = streamIntOpt(parameters, "maxSnapshotsPerTrigger")
    maxPer.foreach(m => require(m >= 1,
      s"maxSnapshotsPerTrigger must be >= 1, got $m"))
    new GraftStreamSource(sqlContext.sparkSession, pathOf(parameters),
      sourceSchema(sqlContext, schema, providerName, parameters)._2,
      streamIntOpt(parameters, "startingSnapshotId"), maxPer,
      withChanges(parameters),
      if (maxPer.isDefined) Some(metadataPath) else None)
  }

  /** NATIVE streaming sink —
    * `df.writeStream.format("graft").option("path", t)` appends each
    * micro-batch to the manifested table EXACTLY ONCE:
    * [[graft.ops.Layout.appendOnce]] dedups replayed batches against the
    * snapshot ledger (app = the REQUIRED `txnAppId` option — stable across
    * restarts, per sink per table; version = the micro-batch id), so an
    * at-least-once `addBatch` replay after a crash lands no duplicate
    * rows. Append output mode only — updates flow through the DML surface
    * (MERGE INTO / the change-feed apply), not a streaming sink.
    */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode): org.apache.spark.sql.execution.streaming.Sink = {
    val mergeKey = parameters.get("mergeKey").map(_.trim).filter(_.nonEmpty)
    outputMode match {
      case m if m == org.apache.spark.sql.streaming.OutputMode.Append() =>
        require(mergeKey.isEmpty,
          "graft sink: option(\"mergeKey\", ...) requires Update output " +
            "mode — Append mode never replaces rows")
      case m if m == org.apache.spark.sql.streaming.OutputMode.Update() =>
        require(mergeKey.isDefined,
          "graft sink in Update mode requires option(\"mergeKey\", <stats " +
            "key column>) — each batch row REPLACES the table row with the " +
            "same key (new keys insert), via the exactly-once keyed merge")
      case other => throw new IllegalArgumentException(
        s"graft sink supports Append (plain exactly-once appends) and " +
          s"Update with option(\"mergeKey\") (exactly-once keyed upserts); " +
          s"got $other")
    }
    // Upsert WRITE PATH (both Layout.mergeRowLevel transactions): `cow`
    // (default) rewrites the matched files per batch (mergeKeyedOnce);
    // `dv` is merge-on-read — matched positions land on the deletion-vector
    // sidecar and the batch appends, ZERO data files rewritten per trigger
    // (mergeKeyedDvOnce). With minute-level
    // triggers COW pays file-size × touched-files amplification per batch;
    // dv defers that to the FOLD, policy-triggered every
    // `compactDeletesEvery` batches (0 = only via CALL compact_deletes).
    val mergeMode = parameters.getOrElse("mergeMode", "cow").trim.toLowerCase match {
      case m @ ("cow" | "dv") => m
      case other => throw new IllegalArgumentException(
        s"graft sink mergeMode must be `cow` or `dv`, got `$other`")
    }
    val compactEvery = parameters.get("compactDeletesEvery").map(_.trim.toInt)
      .getOrElse(0)
    require(mergeMode == "dv" || parameters.get("compactDeletesEvery").isEmpty,
      "graft sink: compactDeletesEvery only applies to mergeMode=dv")
    require(compactEvery >= 0, "compactDeletesEvery must be >= 0")
    require(partitionColumns.isEmpty,
      "graft sink does not take partitionBy — the table's own layout " +
        "(flat or hive-partitioned at create time) decides where rows land")
    val path = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft sink requires a path: writeStream.format(\"graft\").option(\"path\", <table dir>)"))
    val app = parameters.getOrElse("txnAppId", throw new IllegalArgumentException(
      "graft sink requires option(\"txnAppId\", <stable id>) — the " +
        "writer-transaction id batch dedup is keyed on; it must survive " +
        "restarts (a checkpoint-derived default would silently fork the " +
        "ledger when a checkpoint is rebuilt)"))
    new GraftStreamSink(sqlContext.sparkSession, path, app, mergeKey,
      mergeMode == "dv", compactEvery)
  }
}

/** See [[DefaultSource.createSink]]. Append mode lands each micro-batch
  * via [[graft.ops.Layout.appendOnce]]; Update mode (with `mergeKey`)
  * routes it through [[graft.ops.Layout.mergeKeyedOnce]] (or
  * [[graft.ops.Layout.mergeKeyedDvOnce]] under `mergeMode=dv`) — the keyed
  * upsert under the SAME writer-transaction ledger, published in the
  * merge's own snapshot commit, so updates, inserts, and replayed batches
  * are all exactly-once across restarts, crashes and compaction. The
  * natural upstream is an aggregation in update mode (one row per changed
  * key per trigger) or a CDC-style deduped feed.
  */
private[sources] final class GraftStreamSink(
    spark: org.apache.spark.sql.SparkSession, path: String, txnApp: String,
    mergeKey: Option[String] = None, dvMode: Boolean = false,
    compactEvery: Int = 0)
  extends org.apache.spark.sql.execution.streaming.Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // The incoming frame is flagged streaming — rebuild a BATCH frame over
    // the same physical rows for the engine's append/merge path.
    val batch = org.apache.spark.sql.graftshim.ColumnShim.batchDataFrame(
      spark, data.queryExecution.toRdd, data.schema)
    mergeKey match {
      case Some(k) if dvMode =>
        val res = graft.ops.Layout.mergeKeyedDvOnce(
          spark, path, k, txnApp, batchId, batch)
        // Policy fold: bound sidecar growth without a second scheduler.
        // Only after a LIVE (non-replayed) batch, on the batch-id cadence —
        // replays must stay pure no-ops or restart-recovery would compact.
        if (compactEvery > 0 && res.filesRewritten != -1 &&
            (batchId + 1) % compactEvery == 0)
          graft.ops.Layout.compactDeletes(spark, path): Unit
      case Some(k) =>
        graft.ops.Layout.mergeKeyedOnce(spark, path, k, txnApp, batchId, batch): Unit
      case None =>
        graft.ops.Layout.appendOnce(spark, path, txnApp, batchId, batch): Unit
    }
  }
}

/** Offset = manifest snapshot id (immutable, dense, checkpoint-stable). */
private[sources] final case class GraftSnapshotOffset(id: Int)
  extends org.apache.spark.sql.execution.streaming.Offset {
  override def json: String = id.toString
}

/** NATIVE streaming source over the table format —
  * `spark.readStream.format("graft").load(path)` rides the manifest's
  * snapshot history with snapshot ids as offsets (the Delta streaming-source
  * posture on this engine's snapshots):
  *
  *   - The FIRST batch delivers the full latest snapshot (load-then-stream);
  *     every subsequent batch delivers exactly the NET ROWS INSERTED between
  *     its two snapshot ids ([[Manifest.changesBetween]]'s insert side).
  *   - EXACTLY-ONCE across layout maintenance: a compaction/re-cluster
  *     rewrites every file, but rewritten rows appear on both sides of the
  *     snapshot diff and cancel in the multiset difference — the stream
  *     delivers nothing for a content-invariant rewrite, where a file-diff
  *     source would re-deliver the whole table. COW deletes likewise emit
  *     nothing (append-only stream semantics; the row-level feed including
  *     deletes is the batch `changesFrom`/`changesTo` read).
  *   - Typed failure modes pass through: a checkpointed snapshot id expired
  *     by retention fails fast on the missing snapshot, never under-reports.
  *
  * Cost per micro-batch ∝ files touched between the snapshots (the
  * changesBetween contract), never table size.
  */
private[sources] final class GraftStreamSource(
    spark: org.apache.spark.sql.SparkSession, path: String,
    override val schema: StructType,
    startingId: Option[Int] = None,
    maxSnapshotsPerTrigger: Option[Int] = None,
    withChanges: Boolean = false,
    metadataPath: Option[String] = None)
  extends org.apache.spark.sql.execution.streaming.Source {

  private def idOf(o: org.apache.spark.sql.connector.read.streaming.Offset): Int =
    o match {
      case GraftSnapshotOffset(id) => id
      case other => other.json.trim.toInt // checkpoint-deserialized form
    }

  private def cursorFile: Option[Path] =
    metadataPath.map(m => new Path(m, "graft-rate-cursor"))

  private def fs(p: Path) = p.getFileSystem(spark.sessionState.newHadoopConf())

  /** The newest snapshot id this source has HANDED OUT — what
    * `maxSnapshotsPerTrigger` rate-limits from. PERSISTED in the source's
    * checkpoint-scoped metadata dir: on restart Spark only replays an
    * UNCOMMITTED batch (whose end is in the offset log), so an in-memory
    * cursor would reset to `startingId` after a committed batch and hand
    * out an offset at or below the committed one — a permanently stalled
    * stream. Handed-out-but-uncommitted is the safe direction to resume
    * from: the offset log itself replays that batch.
    */
  @volatile private var lastSeen: Option[Int] =
    cursorFile.flatMap { p =>
      // The overwrite is tmp-write → delete → rename (no portable
      // rename-over); a crash inside the delete→rename window loses the
      // main file, so recovery takes the NEWER of main and tmp — the tmp
      // always holds the latest handed-out offset at that point, and a
      // regressed cursor would re-deliver already-committed snapshots.
      def readInt(q: Path): Option[Int] = {
        val f = fs(q)
        if (!f.exists(q)) None
        else {
          val in = f.open(q)
          try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt)
          finally in.close()
        }
      }
      val tmp = new Path(p.getParent, p.getName + ".tmp")
      (readInt(p).toSeq ++ readInt(tmp).toSeq).maxOption
    }

  private def persistCursor(id: Int): Unit = cursorFile.foreach { p =>
    val f = fs(p)
    f.mkdirs(p.getParent)
    val tmp = new Path(p.getParent, p.getName + ".tmp")
    val out = f.create(tmp, true)
    try out.write(id.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    f.delete(p, false)
    if (!f.rename(tmp, p))
      throw new java.io.IOException(s"graft stream: cursor persist failed: $p")
  }

  override def getOffset: Option[org.apache.spark.sql.execution.streaming.Offset] =
    Manifest.latestSnapshotId(spark, path).map { latest =>
      // Rate limit: at most N snapshot ids per micro-batch, measured from
      // the last handed-out offset (or the starting snapshot for a fresh
      // stream) — bounds a backfill's batch size so a long-idle consumer
      // catches up in `history/N` controlled steps instead of one giant
      // batch. Under a recurring trigger this caps EVERY batch; under
      // AvailableNow (whose V1 wrapper pins the target offset once at
      // start) each RUN advances at most N snapshots — run again to take
      // the next step. The initial full-snapshot load is ONE batch by
      // definition (a single snapshot id), so the cap only shapes the tail.
      val base = lastSeen.orElse(startingId)
      val capped = (maxSnapshotsPerTrigger, base) match {
        case (Some(n), Some(b)) => math.min(latest, b + n)
        case _ => latest
      }
      if (maxSnapshotsPerTrigger.isDefined && !lastSeen.contains(capped)) {
        persistCursor(capped)
        lastSeen = Some(capped)
      }
      GraftSnapshotOffset(capped)
    }

  override def getBatch(start: Option[org.apache.spark.sql.execution.streaming.Offset],
                        end: org.apache.spark.sql.execution.streaming.Offset): DataFrame = {
    val endId = idOf(end)
    if (lastSeen.forall(_ < endId)) lastSeen = Some(endId)
    val feed = start.map(idOf).orElse(startingId) match {
      case Some(s0) if s0 >= endId =>
        Manifest.readAsOf(spark, path, endId)
          .withColumn("change", org.apache.spark.sql.functions.lit("insert"))
          .limit(0)
      case Some(s0) => Manifest.changesBetween(spark, path, s0, endId)
      case None =>
        Manifest.readAsOf(spark, path, endId)
          .withColumn("change", org.apache.spark.sql.functions.lit("insert"))
    }
    // Plain stream: net inserts only (append-only semantics; COW deletes
    // are silent). withChanges: the tagged row-level feed — inserts AND
    // deletes, the streaming CDF read.
    val batch =
      if (withChanges) feed
      else feed.filter(col("change") === "insert").drop("change")
    // Pin the stream's declared schema (additive evolution between the
    // snapshots must not widen a running stream's batches), and hand the
    // engine a STREAMING frame — MicroBatchExecution asserts the flag.
    val pinned = batch.select(schema.fieldNames.toIndexedSeq.map(col): _*)
    org.apache.spark.sql.graftshim.ColumnShim.streamingDataFrame(
      spark, pinned.queryExecution.toRdd, pinned.schema)
  }

  override def commit(end: org.apache.spark.sql.execution.streaming.Offset): Unit = ()
  override def stop(): Unit = ()
}

object GraftRelation {
  /** Test seam: the last scan's file-skipping evidence —
    * Some((filesRead, filesTotal)) when the box-scan routing fired, None
    * when the scan fell through to the plain snapshot read. Written by
    * [[GraftRelation.buildScan]]; specs assert pushed range filters
    * actually became file-level skipping.
    */
  private[graft] var lastScanEvidence: Option[(Int, Int)] = None
}

final case class GraftRelation(sqlContext: SQLContext, path: String,
                               parameters: Map[String, String])
  extends BaseRelation with PrunedFilteredScan {

  private def intOpt(k: String): Option[Int] = parameters.get(k).map { v =>
    try v.trim.toInt
    catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"graft source: option `$k` must be an integer snapshot id, got `$v`")
    }
  }

  /** The relation's frame — resolved per scan so a new snapshot committed
    * between reads of a LATEST-mode relation is picked up, matching
    * `spark.read.parquet`'s freshness.
    */
  /** `timestampAsOf` (ISO-8601 instant or epoch millis) resolved to a
    * snapshot id against the explicit commit instants — the option-surface
    * twin of SQL `TIMESTAMP AS OF`.
    */
  private def timestampOpt: Option[Int] = parameters.get("timestampAsOf").map { v =>
    val epochMs =
      try v.trim.toLong
      catch {
        case _: NumberFormatException =>
          try java.time.Instant.parse(v.trim).toEpochMilli
          catch {
            case _: java.time.format.DateTimeParseException =>
              throw new IllegalArgumentException(
                s"graft source: option `timestampAsOf` must be epoch millis " +
                  s"or an ISO-8601 instant, got `$v`")
          }
      }
    Manifest.snapshotIdAsOfTime(sqlContext.sparkSession, path, epochMs)
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot under $path committed at or before " +
          s"${java.time.Instant.ofEpochMilli(epochMs)} — timestampAsOf " +
          "reaches only retained history"))
  }

  private def frame(): DataFrame = {
    val spark = sqlContext.sparkSession
    require(!(parameters.contains("snapshotId") &&
              parameters.contains("timestampAsOf")),
      "graft source: snapshotId and timestampAsOf are mutually exclusive")
    (intOpt("snapshotId").orElse(timestampOpt),
     intOpt("changesFrom"), intOpt("changesTo")) match {
      case (Some(id), None, None) => Manifest.readAsOf(spark, path, id)
      case (None, Some(from), Some(to)) =>
        Manifest.changesBetween(spark, path, from, to)
      case (None, None, None) =>
        val latest = Manifest.latestSnapshotId(spark, path).getOrElse(
          throw new IllegalArgumentException(
            s"no manifest snapshot under $path — run Manifest.create, or read " +
              "the dir directly with spark.read.parquet"))
        Manifest.readAsOf(spark, path, latest)
      case _ => throw new IllegalArgumentException(
        "graft source: pass either snapshotId/timestampAsOf, or BOTH " +
          "changesFrom and changesTo, or neither (latest snapshot)")
    }
  }

  override val schema: StructType = frame().schema

  /** Source filters translated to Column predicates on the inner frame —
    * Catalyst then pushes them into the parquet scan of the resolved
    * files. Untranslatable filters are simply not applied here (None);
    * Spark evaluates every filter again above the source, so this is an
    * optimization, never a correctness dependency.
    */
  private def translate(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === v)
    case GreaterThan(a, v) => Some(col(a) > v)
    case GreaterThanOrEqual(a, v) => Some(col(a) >= v)
    case LessThan(a, v) => Some(col(a) < v)
    case LessThanOrEqual(a, v) => Some(col(a) <= v)
    case In(a, vs) => Some(col(a).isInCollection(vs.toSeq))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, p) => Some(col(a).startsWith(p))
    case StringEndsWith(a, s) => Some(col(a).endsWith(s))
    case StringContains(a, s) => Some(col(a).contains(s))
    case And(l, r) =>
      for { lc <- translate(l); rc <- translate(r) } yield lc && rc
    case Or(l, r) =>
      for { lc <- translate(l); rc <- translate(r) } yield lc || rc
    case Not(c) => translate(c).map(!_)
    case _ => None
  }

  /** A pushed filter value normalized to the long domain the manifest
    * stats live in (the [[Manifest]] statCol convention): integrals as-is,
    * timestamps to epoch micros, dates to epoch days. None = the value
    * isn't range-translatable, so file-level skipping must not use it.
    */
  private def statLong(v: Any): Option[Long] = v match {
    case n: java.lang.Byte => Some(n.longValue)
    case n: java.lang.Short => Some(n.longValue)
    case n: java.lang.Integer => Some(n.longValue)
    case n: java.lang.Long => Some(n.longValue)
    case t: java.sql.Timestamp =>
      Some(t.getTime * 1000L + (t.getNanos / 1000L) % 1000L)
    case t: java.time.Instant =>
      Some(t.getEpochSecond * 1000000L + t.getNano / 1000L)
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case _ => None
  }

  /** Per-column [lo, hi] box implied by the pushed conjuncts on columns
    * the snapshot carries stats for — the hook that turns a pushed range
    * predicate into FILE-level skipping ([[Manifest.scanBoxAsOf]]), on top
    * of the row-group skipping the inner parquet scan gets anyway. Spark
    * hands `filters` pre-split into conjuncts, so intersecting per column
    * is sound; columns without stats or with untranslatable values simply
    * don't contribute.
    */
  private def boxOf(filters: Array[Filter],
                    statCols: Set[String]): Seq[(String, Long, Long)] = {
    val bounds = scala.collection.mutable.Map.empty[String, (Long, Long)]
    def tighten(c: String, lo: Long, hi: Long): Unit = {
      val (l0, h0) = bounds.getOrElse(c, (Long.MinValue, Long.MaxValue))
      bounds(c) = (math.max(l0, lo), math.min(h0, hi))
    }
    filters.foreach {
      case EqualTo(a, v) if statCols(a) =>
        statLong(v).foreach(x => tighten(a, x, x))
      case GreaterThan(a, v) if statCols(a) =>
        statLong(v).foreach(x => if (x < Long.MaxValue) tighten(a, x + 1, Long.MaxValue))
      case GreaterThanOrEqual(a, v) if statCols(a) =>
        statLong(v).foreach(x => tighten(a, x, Long.MaxValue))
      case LessThan(a, v) if statCols(a) =>
        statLong(v).foreach(x => if (x > Long.MinValue) tighten(a, Long.MinValue, x - 1))
      case LessThanOrEqual(a, v) if statCols(a) =>
        statLong(v).foreach(x => tighten(a, Long.MinValue, x))
      case _ => ()
    }
    bounds.toSeq.map { case (c, (lo, hi)) => (c, lo, hi) }
  }

  override def buildScan(requiredColumns: Array[String],
                         filters: Array[Filter]): RDD[Row] = {
    val spark = sqlContext.sparkSession
    // Snapshot reads route range conjuncts through the manifest's box scan
    // when possible — pushed filters become file-level skipping, the same
    // plan the Scala API's scanBoxAsOf produces. Feed reads and unbounded
    // scans fall through to the plain snapshot read.
    val base0 = intOpt("snapshotId")
      .orElse(if (parameters.contains("changesFrom")) None
              else Manifest.latestSnapshotId(spark, path)) match {
      case Some(id) =>
        val box = boxOf(filters, Manifest.keyColsOf(spark, path, id).toSet)
        if (box.nonEmpty) {
          val (rows, nRead, nTotal) = Manifest.scanBoxAsOf(spark, path, box, id)
          GraftRelation.lastScanEvidence = Some((nRead, nTotal))
          rows
        } else { GraftRelation.lastScanEvidence = None; frame() }
      case None => GraftRelation.lastScanEvidence = None; frame()
    }
    val base = filters.flatMap(translate).foldLeft(base0)((d, c) => d.filter(c))
    val pruned =
      if (requiredColumns.isEmpty) base // count-style scan: rows, no columns
      else base.select(requiredColumns.map(col).toIndexedSeq: _*)
    pruned.rdd
  }
}
