package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row / table hashing core.
  *
  * Re-expresses the reference's hash canonicalization Spark-first:
  *  - per-row MD5 fingerprint over a '#'-joined canonical string form of each
  *    column (reference: `TableConnection.php:46-48` generates
  *    `MD5(CONCAT_WS('#', col1..colN))`);
  *  - NULL handling: the reference's row-level hash *skips* NULLs (MySQL
  *    CONCAT_WS semantics), so `[2,NULL,NULL]` and `[NULL,2,NULL]` collide —
  *    the bug its own comment flags (`TableConnection.php:472-474`). Default
  *    here is the fixed semantics (`COALESCE(col,'NULL')` per column, matching
  *    the reference's *table*-level hash, `TableConnection.php:475-477`);
  *    `legacyNullSkip = true` reproduces reference row-hash behavior.
  *  - table fingerprint: the reference collapses a table to one MD5 via
  *    `MD5(GROUP_CONCAT(rowHash))` with **no ORDER BY**
  *    (`TableConnection.php:483-486`) — order-dependent and not reproducible
  *    on a distributed engine. We define fingerprints over the row-hash
  *    *multiset* instead: equal multisets ⇔ equal fingerprints.
  *
  * Scale: `rowHash` is pure codegen'd built-ins (md5/concat_ws/coalesce) —
  * no UDFs, stays inside whole-stage codegen. `tableFingerprint` is a single
  * ungrouped aggregate with map-side partial aggregation: O(1) result per
  * partition crosses the shuffle, so it holds at 100 TB. The exact
  * (sorted-concat) variant is for small/oracle use only.
  */
object Hashing {

  val Sep = "#"
  val NullSentinel = "NULL"

  /** Canonical string form of one column, pinned so that hashes are stable
    * across engines and runs (the reference delegates to MySQL's text casts).
    */
  def canonicalize(c: Column): Column = c.cast(StringType)

  private def canonCols(df: DataFrame, cols: Seq[String], legacyNullSkip: Boolean): Seq[Column] =
    cols.map { n =>
      val s = canonicalize(df(n))
      if (legacyNullSkip) s else coalesce(s, lit(NullSentinel))
    }

  /** MD5 row fingerprint over `cols` (all non-key data columns, typically). */
  def rowHash(df: DataFrame, cols: Seq[String], legacyNullSkip: Boolean = false): Column =
    md5(concat_ws(Sep, canonCols(df, cols, legacyNullSkip): _*))

  /** Fast content hash: seeded xxhash64 over the RAW column values — no
    * string canonicalization (casting timestamps/doubles to string dominates
    * the md5 path's cost). Spark's hash fold *skips* nulls (the very
    * NULL-permutation collision the reference suffers from,
    * `TableConnection.php:472-477`), so each column is followed by its
    * isnull flag, which restores discrimination: [2,NULL,NULL] hashes the
    * arg stream (2,0,1,1) vs [NULL,2,NULL] → (1,2,0,1).
    */
  def fastRowHash(df: DataFrame, cols: Seq[String], seed: Int): Column =
    xxhash64(lit(seed) +: cols.flatMap(c => Seq(df(c), isnull(df(c)))): _*)

  /** Names of the fast hash-pair columns used by [[fastHashMap]]. */
  val FastHashCols: Seq[String] = Seq("h1", "h2")

  /** Key + 128-bit content hash (two independent seeds). A single 64-bit
    * hash has ~n²/2^65 birthday collisions — ~10^4 silently-missed diffs at
    * 10^12 rows; joining on the pair pushes that to ~2^-128-scale. This is
    * the engine's internal diff currency; md5 [[hashMap]] is the
    * cross-engine/MySQL-parity form.
    */
  def fastHashMap(df: DataFrame, keyCols: Seq[String], dataCols: Seq[String]): DataFrame =
    df.select(keyCols.map(df(_))
      :+ fastRowHash(df, dataCols, 1).as("h1")
      :+ fastRowHash(df, dataCols, 2).as("h2"): _*)

  /** Key + md5 row-hash projection — the reference's hash side table
    * (`master_hashes`/`slave_hashes`, `main.php:27-59`) in its MySQL-parity
    * form. The sync cascade reduces it to the [[fastHashMap]] pair shape
    * when it runs in legacy mode ([[graft.sync.Differ.hashMaps]]).
    */
  def hashMap(df: DataFrame, keyCols: Seq[String], dataCols: Seq[String],
              legacyNullSkip: Boolean = false): DataFrame =
    df.select(keyCols.map(df(_)) :+ rowHash(df, dataCols, legacyNullSkip).as("row_hash"): _*)

  /** Order-insensitive multiset fingerprint aggregates: (count, xor, sum) of
    * the 64-bit hash of the md5 row-hash. count+xor+sum-mod-2^64 makes
    * accidental multiset collisions vanishingly unlikely (SURVEY §7.4).
    * Scales: map-side partial aggregation, constant-size state per group.
    * Input column must be named `__h64`.
    */
  private val TwoPow64 = BigDecimal("18446744073709551616")

  private val fingerprintAggs: Seq[Column] = Seq(
    count(lit(1)).as("fp_count"),
    coalesce(expr("bit_xor(__h64)"), lit(0L)).as("fp_xor"),
    // Sum in decimal(38,0): 1e12 rows × |h|≤9.3e18 stays < 1e38, so this is
    // ANSI-safe at 100 TB scale; reduce mod 2^64 for a compact stable value.
    pmod(coalesce(sum(col("__h64").cast(DecimalType(38, 0))), lit(0).cast(DecimalType(38, 0))),
      lit(TwoPow64)).as("fp_sum"))

  /** Per-row 64-bit hash feeding the multiset fingerprints: the fast raw-
    * value hash normally; the md5-canonical chain when legacy reference
    * semantics are requested.
    */
  private def fingerprintRowHash(df: DataFrame, cols: Seq[String], legacyNullSkip: Boolean): Column =
    if (legacyNullSkip) xxhash64(rowHash(df, cols, legacyNullSkip = true))
    else fastRowHash(df, cols, seed = 42)

  /** Whole-table fingerprint (reference A1, `TableConnection.php:464-501`) as
    * a single stable string. Equal multisets of rows ⇔ equal fingerprints.
    * One aggregate over the table; the sync cascade gates on
    * [[fastMapFingerprints]] over its hash maps instead.
    */
  def tableFingerprint(df: DataFrame, cols: Seq[String],
                       legacyNullSkip: Boolean = false): String = {
    val row = df.select(fingerprintRowHash(df, cols, legacyNullSkip).as("__h64"))
      .agg(fingerprintAggs.head, fingerprintAggs.tail: _*).head()
    s"${row.getLong(0)}:${java.lang.Long.toHexString(row.getLong(1))}:${row.getDecimal(2).toBigInteger.toString(16)}"
  }

  /** Order-insensitive A1 fingerprints of two ALREADY-COMPUTED hash-pair
    * maps (frames with `h1`/`h2` columns: [[fastHashMap]] output or any map
    * of [[graft.sync.Differ.hashMaps]]) — (count, xor+sum of h1, xor of h2)
    * per side — in ONE Spark job: each partition of the side-tagged union folds
    * its rows into four longs per side, and the driver merges the folds.
    * The plan has no exchange, so AQE adds no query stages: when the maps
    * are `persist()`ed, the same job scans both tables, builds both caches
    * and folds them (a `groupBy` aggregate would add a cache stage per
    * map, a shuffle-map job and a result job). The sum wraps mod 2^64,
    * which is exactly what the rendered fingerprint keeps. A side with zero
    * rows yields the empty fingerprint `0:0:0:0`.
    */
  def fastMapFingerprints(mh: DataFrame, sh: DataFrame): (String, String) = {
    def tag(df: DataFrame, side: Int) =
      df.select(lit(side).as("__side"), col("h1"), col("h2"))
    val qe = tag(mh, 0).unionByName(tag(sh, 1)).queryExecution
    // Per side s: acc(4s) count, acc(4s+1) xor h1, acc(4s+2) sum h1,
    // acc(4s+3) xor h2 (xxhash64 values, never NULL).
    val folds = org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe) {
      qe.toRdd.mapPartitions { rows =>
        val acc = new Array[Long](8)
        rows.foreach { r =>
          val o = 4 * r.getInt(0)
          acc(o) += 1
          acc(o + 1) ^= r.getLong(1)
          acc(o + 2) += r.getLong(1)
          acc(o + 3) ^= r.getLong(2)
        }
        Iterator.single(acc)
      }.collect()
    }
    // Counts and sums (even slots) add, xors (odd slots) xor.
    val acc = folds.reduceOption((a, b) =>
      Array.tabulate(8)(i => if (i % 2 == 0) a(i) + b(i) else a(i) ^ b(i)))
      .getOrElse(new Array[Long](8))
    def render(o: Int) =
      s"${acc(o)}:${java.lang.Long.toHexString(acc(o + 1))}:" +
        s"${java.lang.Long.toUnsignedString(acc(o + 2), 16)}:${java.lang.Long.toHexString(acc(o + 3))}"
    (render(0), render(4))
  }

  /** Per-partition-value fingerprints (reference A2,
    * `TableConnection.php:510-547`) — ONE grouped aggregate job for all
    * partition values instead of the reference's query-per-value loop.
    */
  def partitionFingerprints(df: DataFrame, partCol: String, cols: Seq[String],
                            legacyNullSkip: Boolean = false): DataFrame =
    df.select(col(partCol), fingerprintRowHash(df, cols, legacyNullSkip).as("__h64"))
      .groupBy(partCol)
      .agg(fingerprintAggs.head, fingerprintAggs.tail: _*)

  /** Order-insensitive multiset fingerprint over the md5 row-hash as ONE
    * stable string `"count:sum:xor"` (sum/xor of the hash's first 15 hex
    * digits as a 60-bit integer; sum in decimal(38,0) — exact to 10^12+
    * rows). Cross-engine reproducible (DuckDB parses the same hex slice),
    * fully distributed: ONE aggregate, nothing collected — the convergence-
    * gate replacement for [[exactFingerprint]]'s driver-side sorted digest.
    * Emits (fingerprint string, n_rows long).
    */
  def multisetFingerprintAgg(df: DataFrame, cols: Seq[String],
                             legacyNullSkip: Boolean = false): DataFrame =
    df.select(rowHash(df, cols, legacyNullSkip).as("h"))
      .select(expr("cast(conv(substring(h, 1, 15), 16, 10) as bigint)").as("h15"))
      .agg(
        concat_ws(":",
          count(lit(1)).cast(StringType),
          coalesce(sum(col("h15").cast(DecimalType(38, 0))),
            lit(0).cast(DecimalType(38, 0))).cast(StringType),
          coalesce(expr("bit_xor(h15)"), lit(0L)).cast(StringType)).as("fingerprint"),
        count(lit(1)).as("n_rows"))

  /** The multiset fingerprint as a value with group algebra: (count, sum,
    * xor) is commutative and invertible per row, so a maintained fingerprint
    * tracks a table through deltas WITHOUT rescanning — at 100 TB the
    * convergence gate's per-cycle cost drops from two table scans to
    * O(delta): `fpAfter = fpBefore.remove(fp(deletedRows)).merge(fp(insertedRows))`.
    * `render` emits the same `"count:sum:xor"` string as
    * [[multisetFingerprintAgg]] (asserted in HashingSpec).
    */
  final case class MultisetFp(count: Long, sum: BigInt, xor: Long) {
    def merge(o: MultisetFp): MultisetFp =
      MultisetFp(count + o.count, sum + o.sum, xor ^ o.xor)
    def remove(o: MultisetFp): MultisetFp =
      MultisetFp(count - o.count, sum - o.sum, xor ^ o.xor)
    def render: String = s"$count:$sum:$xor"
  }

  /** One distributed aggregate → the fingerprint value (for maintenance /
    * combination; [[multisetFingerprintAgg]] is the one-shot query form).
    */
  def multisetFp(df: DataFrame, cols: Seq[String],
                 legacyNullSkip: Boolean = false): MultisetFp = {
    val r = df.select(rowHash(df, cols, legacyNullSkip).as("h"))
      .select(expr("cast(conv(substring(h, 1, 15), 16, 10) as bigint)").as("h15"))
      .agg(count(lit(1)),
        coalesce(sum(col("h15").cast(DecimalType(38, 0))),
          lit(0).cast(DecimalType(38, 0))),
        coalesce(expr("bit_xor(h15)"), lit(0L))).head()
    MultisetFp(r.getLong(0), BigInt(r.getDecimal(1).toBigInteger), r.getLong(2))
  }

  /** Multiset fingerprint over an EXISTING md5 row-hash column — the JDBC
    * hash-pushdown path ([[graft.sync.TableStore.pushedHashMap]]): the hashes
    * were computed inside the source database and are the only thing that
    * crossed the wire, so the fingerprint costs one aggregate over ~32-byte
    * strings. Same h15 algebra as [[multisetFp]] with `legacyNullSkip = true`
    * flavor — two PUSHED fingerprints always compare; comparing a pushed
    * fingerprint against a Spark-side one is sound only when the server's
    * value→string casts match Spark's (never assume it across engines).
    */
  def multisetFpOfHashes(df: DataFrame, hashCol: String): MultisetFp = {
    val r = df
      .select(expr(s"cast(conv(substring($hashCol, 1, 15), 16, 10) as bigint)").as("h15"))
      .agg(count(lit(1)),
        coalesce(sum(col("h15").cast(DecimalType(38, 0))),
          lit(0).cast(DecimalType(38, 0))),
        coalesce(expr("bit_xor(h15)"), lit(0L))).head()
    MultisetFp(r.getLong(0), BigInt(r.getDecimal(1).toBigInteger), r.getLong(2))
  }

  /** Per-partition fingerprints over an EXISTING md5 row-hash column (the
    * pushed analog of [[partitionFingerprints]]) — same output columns
    * (`fp_count`/`fp_xor`/`fp_sum`), but the per-row hash is the h15 slice of
    * the server-computed md5, NOT the raw-value xxhash64 chain: pushed and
    * local partition fingerprints are different flavors and must never be
    * compared with each other.
    */
  def partitionFingerprintsOfHashes(df: DataFrame, partCol: String, hashCol: String): DataFrame =
    df.select(col(partCol),
        expr(s"cast(conv(substring($hashCol, 1, 15), 16, 10) as bigint)").as("__h64"))
      .groupBy(partCol)
      .agg(fingerprintAggs.head, fingerprintAggs.tail: _*)

  /** Per-group multiset fingerprints in ONE aggregate, folded driver-side —
    * the CDC apply's input shape: `df` is a change BATCH (delta-sized, never
    * a table scan) and `groupCol` its op tag, so `fp(deleted)`/`fp(inserted)`
    * come out of a single job over the delta alone.
    */
  def multisetFpByGroup(df: DataFrame, groupCol: String, cols: Seq[String],
                        legacyNullSkip: Boolean = false): Map[String, MultisetFp] =
    df.select(col(groupCol).cast(StringType).as("__g"),
        rowHash(df, cols, legacyNullSkip).as("h"))
      .select(col("__g"), expr("cast(conv(substring(h, 1, 15), 16, 10) as bigint)").as("h15"))
      .groupBy("__g")
      .agg(count(col("h15")),
        coalesce(sum(col("h15").cast(DecimalType(38, 0))),
          lit(0).cast(DecimalType(38, 0))),
        coalesce(expr("bit_xor(h15)"), lit(0L)))
      .collect()
      .map(r => r.getString(0) -> MultisetFp(r.getLong(1),
        BigInt(r.getDecimal(2).toBigInteger), r.getLong(3)))
      .toMap

  /** One-pass CDC fingerprint maintenance: from a frame carrying each row's
    * BEFORE-image hash, AFTER-image hash, and a delta membership flag,
    * compute fp(before), fp(deleted) and fp(inserted) in a single aggregate
    * and fold them with the [[MultisetFp]] group algebra — the O(delta)
    * convergence gate pays one scan total instead of three. `beforeHash` /
    * `afterHash` are md5 row-hash columns ([[rowHash]]); rows where
    * `deltaCol` is false contribute only to the before-fingerprint.
    */
  def multisetFpDelta(df: DataFrame, deltaCol: String,
                      beforeHash: String, afterHash: String): MultisetFp = {
    def h15(c: String) = expr(s"cast(conv(substring($c, 1, 15), 16, 10) as bigint)")
    val d = col(deltaCol)
    val hb = h15(beforeHash)
    val hi = h15(afterHash)
    val hbDel = when(d, hb)
    val hiIns = when(d, hi)
    // count(hb), not count(*): all three before-components then skip a NULL
    // hash consistently (a NULL beforeHash is contract-violating input; an
    // inconsistent count/sum/xor triple would silently corrupt the algebra).
    val r = df.agg(
      count(hb),
      coalesce(sum(hb.cast(DecimalType(38, 0))), lit(0).cast(DecimalType(38, 0))),
      coalesce(bit_xor(hb), lit(0L)),
      count(hbDel),
      coalesce(sum(hbDel.cast(DecimalType(38, 0))), lit(0).cast(DecimalType(38, 0))),
      coalesce(bit_xor(hbDel), lit(0L)),
      count(hiIns),
      coalesce(sum(hiIns.cast(DecimalType(38, 0))), lit(0).cast(DecimalType(38, 0))),
      coalesce(bit_xor(hiIns), lit(0L))).head()
    def at(i: Int) = MultisetFp(r.getLong(i),
      BigInt(r.getDecimal(i + 1).toBigInteger), r.getLong(i + 2))
    at(0).remove(at(3)).merge(at(6))
  }

  /** Driver-collect cap for [[exactFingerprint]]: 16 B/hash × 10M rows is a
    * ~160 MB driver materialization — the utility's ceiling. Beyond it the
    * collect itself is the scale bug; use [[multisetFingerprintAgg]], which
    * is the engine's declared A1 form and never collects.
    */
  val ExactFingerprintMaxRows = 10000000L

  /** Exact, order-canonical fingerprint: md5 of the row-hashes sorted and
    * concatenated. Byte-stable across engines (DuckDB:
    * `md5(string_agg(h,'' ORDER BY h))`) — use for oracle checks and small
    * tables only; the digest is O(table) on the driver, unlike the multiset
    * fingerprints. Sort and hashing run distributed; the driver streams
    * the sorted hashes through an incremental MD5 (a single-task
    * `sort_array(collect_list(...))` concat was ~3× slower and built the
    * whole concatenated string in one executor).
    */
  def exactFingerprint(df: DataFrame, cols: Seq[String],
                       legacyNullSkip: Boolean = false,
                       maxRows: Long = ExactFingerprintMaxRows): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // Count BEFORE collecting: fail fast with a clear message instead of an
    // OOM'd driver. One cheap aggregate — this is an oracle/small-table
    // utility, not a production path (see ExactFingerprintMaxRows).
    val n = df.count()
    require(n <= maxRows,
      s"exactFingerprint collects O(table) to the driver; $n rows > cap $maxRows — " +
        "use multisetFingerprintAgg for large tables")
    // Hash distributed, collect the narrow hash column as BINARY (16 bytes —
    // half the hex form's transfer and none of its UTF8String decode), sort
    // driver-side (no shuffle — a global orderBy would shuffle the whole
    // hash set just to feed a sequential digest anyway). Unsigned byte order
    // == hex-string order, so the digest matches DuckDB's
    // md5(string_agg(h, '' ORDER BY h)) exactly.
    val hs = df.select(unhex(rowHash(df, cols, legacyNullSkip)).as("h"))
      .as[Array[Byte]].collect()
    java.util.Arrays.sort(hs, new java.util.Comparator[Array[Byte]] {
      override def compare(a: Array[Byte], b: Array[Byte]): Int = {
        var i = 0
        while (i < a.length && i < b.length) {
          val d = (a(i) & 0xff) - (b(i) & 0xff)
          if (d != 0) return d
          i += 1
        }
        a.length - b.length
      }
    })
    val digest = java.security.MessageDigest.getInstance("MD5")
    val hexDigits = "0123456789abcdef".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val buf = new Array[Byte](32)
    hs.foreach { h =>
      var i = 0
      while (i < 16) {
        buf(2 * i) = hexDigits((h(i) >> 4) & 0xf)
        buf(2 * i + 1) = hexDigits(h(i) & 0xf)
        i += 1
      }
      digest.update(buf)
    }
    val fp = digest.digest().map(b => f"$b%02x").mkString
    Seq(fp).toDF("fingerprint")
  }
}
