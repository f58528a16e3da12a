package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions.{array, coalesce, col, count, exists, lit, max, min, udf, when}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** The one FILE-SKIPPING planner: which files of a snapshot can hold a row
  * matching a conjunction of Catalyst predicates. Every reader that narrows
  * by per-file stats goes through it — the Scala scans and counts of
  * [[Manifest]], COW delete/overwrite targeting in [[Layout]], and the SQL
  * catalog's file indexes — so they all prune by the same rules:
  *
  *   - supported conjuncts: `=`, `<`, `<=`, `>`, `>=` (attribute vs literal
  *     on either side), `IN`/`InSet`, `AND`, and `OR` when BOTH sides
  *     translate (a file survives if EITHER side can match); anything else
  *     contributes no constraint — pruning never loses a row;
  *   - integral/date/timestamp columns compare on the normalized long
  *     stats (a Catalyst literal's internal value IS that long: days for
  *     dates, micros for timestamps); STRING columns compare on the string
  *     stats in binary UTF-8 order, the order Spark's min/max aggregates
  *     produced them in; a column whose stats have the other domain, or no
  *     stats at all, never prunes;
  *   - a file whose stats are NULL for a constrained column holds no
  *     non-null value there, and NULL matches no comparison — pruned;
  *   - `=`/`IN` conjuncts at the TOP level additionally probe the per-file
  *     bloom sketch of their column (raw longs for orderable keys,
  *     `xxhash64` for strings — what the sketch was built over); a NULL
  *     sketch means no non-null value and prunes. Leaves inside an OR never
  *     probe: a sketch miss there refutes only one disjunct.
  *
  * The stats predicate and the bloom probe are one filter over the snapshot
  * frame, answered through [[Manifest.plannedRows]] under
  * [[Manifest.maxPlannedFiles]]: a snapshot the metadata cache holds is
  * filtered on the driver by the same resolved predicate, with no job (the
  * common case — a statement's snapshot is cached); an uncached one is
  * filtered by a distributed job (rows ∝ file count; sketch bytes never
  * reach the driver) and only the picked rows are collected. The file
  * counts and key bounds are answered the same way.
  */
private[graft] object FilePlanner {

  /** A plan: one row per picked file — `(file, inside, extra…)`, where
    * `inside` holds when EVERY non-null value of the file satisfies the
    * predicate (what metadata-answered counts rely on; never true for a
    * conjunct that does not translate). `total` and `rangeCandidates` (the
    * files the min/max stats alone keep) are counted on first use.
    */
  final class Plan private[FilePlanner] (val rows: IndexedSeq[Row],
                                         countAll: () => (Int, Int)) {
    def files: IndexedSeq[String] = rows.map(_.getString(0))
    private lazy val counts = countAll()
    def total: Int = counts._1
    def rangeCandidates: Int = counts._2
  }

  /** Plan `conjuncts` over the snapshot frame `snap`; `what` names the
    * caller in the over-cap error. `extra` columns ride along each row.
    */
  def plan(snap: DataFrame, table: String, what: String,
           conjuncts: Seq[Expression], extra: Seq[Column] = Nil): Plan = {
    val t = translate(snap.schema, conjuncts)
    planOf(snap, table, what, t,
      coalesce(t.inside, lit(false)).as("inside") +: extra)
  }

  /** The file entries `conjuncts` can match — None when no conjunct
    * constrains any stats or sketch column (nothing to prune, no job run).
    */
  def pick(snap: DataFrame, table: String,
           conjuncts: Seq[Expression]): Option[IndexedSeq[String]] = {
    val t = translate(snap.schema, conjuncts)
    if (t.range.isEmpty && t.bloom.isEmpty) None
    else Some(planOf(snap, table, "SQL scan planning", t, Nil).files)
  }

  /** Metadata-only global [min, max] of a long-stats column over every
    * file; None when every file's stats are NULL (all-null column).
    */
  def bounds(snap: DataFrame, c: String): Option[(Long, Long)] = {
    val mn = col(s"`min_$c`"); val mx = col(s"`max_$c`")
    Manifest.driverRows(snap.select(mn, mx)) match {
      case Some(rows) =>
        val (mins, maxs) = (rows.filterNot(_.isNullAt(0)), rows.filterNot(_.isNullAt(1)))
        if (mins.isEmpty) None
        else Some((mins.map(_.getLong(0)).min, maxs.map(_.getLong(1)).max))
      case None =>
        val r = snap.agg(min(mn), max(mx)).head()
        if (r.isNullAt(0)) None else Some((r.getLong(0), r.getLong(1)))
    }
  }

  /** The picked rows: `file` and then `cols`. */
  private def planOf(snap: DataFrame, table: String, what: String,
                     t: Translated, cols: Seq[Column]): Plan = {
    val keep = t.range.getOrElse(lit(true))
    val picked =
      snap.filter(t.bloom.fold(keep)(keep && _)).select(col("file") +: cols: _*)
    new Plan(Manifest.plannedRows(picked, table, what), () =>
      Manifest.driverRows(snap.select(keep)) match {
        case Some(rows) => (rows.length, rows.count(r => !r.isNullAt(0) && r.getBoolean(0)))
        case None =>
          val r = snap.agg(count(lit(1)), count(when(keep, 1))).head()
          (r.getLong(0).toInt, r.getLong(1).toInt)
      })
  }

  /** `c BETWEEN lo AND hi` over the key's normalized long domain. */
  def between(c: String, lo: Long, hi: Long): Seq[Expression] = {
    val a = AttributeReference(c, LongType)()
    Seq(GreaterThanOrEqual(a, Literal(lo)), LessThanOrEqual(a, Literal(hi)))
  }

  /** `c BETWEEN lo AND hi` over a string column, binary UTF-8 order. */
  def betweenStrings(c: String, lo: String, hi: String): Seq[Expression] = {
    val a = AttributeReference(c, StringType)()
    Seq(GreaterThanOrEqual(a, Literal(lo)), LessThanOrEqual(a, Literal(hi)))
  }

  /** `c IN (values)` over the key's normalized long domain. */
  def in(c: String, values: Seq[Long]): Seq[Expression] =
    Seq(In(AttributeReference(c, LongType)(), values.map(Literal(_))))

  /** `c IN (values)` over a string column. */
  def inStrings(c: String, values: Seq[String]): Seq[Expression] =
    Seq(In(AttributeReference(c, StringType)(), values.map(Literal(_))))

  private sealed trait Op
  private case object Gt extends Op
  private case object Ge extends Op
  private case object Lt extends Op
  private case object Le extends Op
  private case object InList extends Op

  /** One comparison of column `c` with stats-domain values (Longs for
    * orderable columns, Strings for string columns).
    */
  private final case class Leaf(c: String, op: Op, values: Seq[Any]) {
    def string: Boolean = values.head.isInstanceOf[String]
  }

  /** Past this many values an `InSet` degrades to its [min, max] envelope
    * (longs) or no constraint (strings), and probes no sketch.
    */
  private val MaxInValues = 1000

  private def domain(dt: DataType, v: Any): Option[Any] = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType | TimestampType =>
      v match {
        case l: java.lang.Long => Some(l.longValue)
        case i: java.lang.Integer => Some(i.longValue)
        case s: java.lang.Short => Some(s.longValue)
        case b: java.lang.Byte => Some(b.longValue)
        case _ => None
      }
    case StringType => v match {
      case s: UTF8String => Some(s.toString)
      case s: String => Some(s)
      case _ => None
    }
    case _ => None
  }

  private def leaf(a: AttributeReference, op: Op, v: Any): Seq[Leaf] =
    domain(a.dataType, v).map(d => Leaf(a.name, op, Seq(d))).toSeq

  private def inLeaf(a: AttributeReference, vs: Seq[Any]): Seq[Leaf] = {
    val ds = vs.map(domain(a.dataType, _))
    if (ds.isEmpty || ds.exists(_.isEmpty)) Nil
    else Seq(Leaf(a.name, InList, ds.flatten))
  }

  /** The conjunction of leaves one Catalyst leaf predicate means — Nil for
    * any shape outside the supported set (no constraint).
    */
  private def leavesOf(e: Expression): Seq[Leaf] = e match {
    case EqualTo(a: AttributeReference, Literal(v, _)) => inLeaf(a, Seq(v))
    case EqualTo(Literal(v, _), a: AttributeReference) => inLeaf(a, Seq(v))
    case GreaterThan(a: AttributeReference, Literal(v, _)) => leaf(a, Gt, v)
    case GreaterThan(Literal(v, _), a: AttributeReference) => leaf(a, Lt, v)
    case GreaterThanOrEqual(a: AttributeReference, Literal(v, _)) => leaf(a, Ge, v)
    case GreaterThanOrEqual(Literal(v, _), a: AttributeReference) => leaf(a, Le, v)
    case LessThan(a: AttributeReference, Literal(v, _)) => leaf(a, Lt, v)
    case LessThan(Literal(v, _), a: AttributeReference) => leaf(a, Gt, v)
    case LessThanOrEqual(a: AttributeReference, Literal(v, _)) => leaf(a, Le, v)
    case LessThanOrEqual(Literal(v, _), a: AttributeReference) => leaf(a, Ge, v)
    case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      inLeaf(a, vs.map(_.asInstanceOf[Literal].value))
    // The optimizer turns IN lists past inSetConversionThreshold (default
    // 10) into InSet — the common keyed-lookup shape.
    case InSet(a: AttributeReference, hset) =>
      inLeaf(a, hset.toSeq) match {
        case Seq(l) if l.values.size > MaxInValues =>
          if (l.string) Nil
          else {
            val ls = l.values.map(_.asInstanceOf[Long])
            Seq(Leaf(l.c, Ge, Seq(ls.min)), Leaf(l.c, Le, Seq(ls.max)))
          }
        case other => other
      }
    case _ => Nil
  }

  /** (can-overlap, every-value-inside) of one leaf, or None when the
    * snapshot carries no stats of the leaf's domain for its column.
    */
  private def statsOf(schema: StructType, l: Leaf): Option[(Column, Column)] = {
    val names = schema.fieldNames.toSet
    val want = if (l.string) StringType else LongType
    if (!names(s"min_${l.c}") || !names(s"max_${l.c}") ||
        schema(s"min_${l.c}").dataType != want) None
    else {
      val mn = col(s"`min_${l.c}`"); val mx = col(s"`max_${l.c}`")
      val v = lit(l.values.head)
      Some(l.op match {
        case Gt => (mx > v, mn > v)
        case Ge => (mx >= v, mn >= v)
        case Lt => (mn < v, mx < v)
        case Le => (mn <= v, mx <= v)
        case InList =>
          (exists(array(l.values.map(lit): _*), x => mn <= x && mx >= x),
            mn === mx && mn.isin(l.values: _*))
      })
    }
  }

  /** A translated predicate: `range` keeps the files that can overlap
    * (None = no constraint), `inside` holds for fully-contained files.
    */
  private final case class Pred(range: Option[Column], inside: Column)

  private def and(ps: Seq[Pred]): Pred =
    Pred(ps.flatMap(_.range).reduceOption(_ && _),
      ps.map(_.inside).reduceOption(_ && _).getOrElse(lit(true)))

  private def predOf(schema: StructType, e: Expression): Pred = e match {
    case And(l, r) => and(Seq(predOf(schema, l), predOf(schema, r)))
    case Or(l, r) =>
      val (pl, pr) = (predOf(schema, l), predOf(schema, r))
      Pred(for (a <- pl.range; b <- pr.range) yield a || b, pl.inside || pr.inside)
    case _ =>
      leavesOf(e) match {
        case Nil => Pred(None, lit(false))
        case ls => and(ls.map(l => statsOf(schema, l).fold(Pred(None, lit(false))) {
          case (range, inside) => Pred(Some(range), inside)
        }))
      }
  }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  /** The `xxhash64` (seed 42, the function's default) a string sketch holds. */
  private def hash64(s: String): Long =
    new XxHash64(Seq(Literal(UTF8String.fromString(s), StringType)))
      .eval(null).asInstanceOf[Long]

  /** One sketch probe per column over the top-level `=`/`IN` leaves. */
  private def bloomOf(schema: StructType, conjuncts: Seq[Expression]): Option[Column] = {
    val names = schema.fieldNames.toSet
    conjuncts.flatMap(splitAnd).flatMap(leavesOf)
      .filter(l => l.op == InList && names(s"bloom_${l.c}"))
      .groupBy(_.c).toSeq.map { case (c, ls) =>
        val probes = ls.flatMap(_.values).distinct.map {
          case s: String => hash64(s)
          case l => l.asInstanceOf[Long]
        }.toArray
        val mightContain = udf((sketch: Array[Byte]) => sketch != null && {
          val bf = BloomFilter.readFrom(sketch)
          probes.exists(bf.mightContainLong)
        })
        mightContain(col(s"`bloom_$c`"))
      }.reduceOption(_ && _)
  }

  /** The whole predicate: stats range and containment, plus the probe. */
  private final case class Translated(range: Option[Column], inside: Column,
                                      bloom: Option[Column])

  private def translate(schema: StructType, conjuncts: Seq[Expression]): Translated = {
    val p = and(conjuncts.map(predOf(schema, _)))
    Translated(p.range, p.inside, bloomOf(schema, conjuncts))
  }
}
