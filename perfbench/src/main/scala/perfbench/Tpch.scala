package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import java.nio.file.Path

/** The seven TPC-H tables the sync workload runs over (region, nation,
  * supplier, customer, part, orders, lineitem), read from the TPC-H scale
  * 0.01 files under `perfbench/data`, plus the seeded churn applied to the
  * master before each cycle.
  */
object Tpch {
  val Tables: Seq[String] =
    Seq("region", "nation", "supplier", "customer", "part", "orders", "lineitem")

  val Keys: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey"), "nation" -> Seq("n_nationkey"),
    "supplier" -> Seq("s_suppkey"), "customer" -> Seq("c_custkey"),
    "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber"))

  /** Per-cycle churn in units of 1/100000 of the table's rows. */
  final case class Rate(update: Long, delete: Long, insert: Long)
  val Rates: Map[String, Rate] = Map(
    "lineitem" -> Rate(update = 1000, delete = 200, insert = 200),
    "orders" -> Rate(update = 300, delete = 50, insert = 50))
  val Churned: Seq[String] = Seq("orders", "lineitem")

  private val FreshKeyBase = 1000000000L
  private val FreshKeyStride = 1000000L

  /** Table `name` as the fixture holds it. lineitem's
    * (l_orderkey, l_linenumber) is not unique in the data files (45,832
    * distinct pairs in 60,000 rows), so `l_linenumber` is renumbered 1..n
    * within each order key, in the order of all columns, which makes the
    * key unique and the result the same on every run.
    */
  def table(spark: SparkSession, data: Path, name: String): DataFrame = {
    val df = spark.read.parquet(data.resolve(s"$name.parquet").toString)
    if (name != "lineitem") df
    else df.withColumn("l_linenumber", row_number().over(
      Window.partitionBy("l_orderkey").orderBy(df.columns.map(col): _*)))
  }

  /** The master's next state for churn cycle `cycle` of `table` (orders or
    * lineitem): disjoint seeded shares of rows updated, deleted, and copied
    * as inserts under keys no earlier cycle used. Which rows fall in each
    * share is a hash of (seed, cycle, key). Returns the new content and the
    * exact (updated, deleted, inserted) counts.
    */
  def churn(spark: SparkSession, seed: Long, table: String, current: DataFrame,
            cycle: Int): (DataFrame, Churn) = {
    val rate = Rates(table)
    val keyCols = Keys(table).map(col)
    val u = pmod(xxhash64((lit(seed) +: lit("churn") +: lit(cycle) +: keyCols): _*), lit(100000L))
    val upd = u < rate.update
    val del = u >= rate.update && u < rate.update + rate.delete
    val ins = u >= rate.update + rate.delete && u < rate.update + rate.delete + rate.insert
    val (bumped, keyCol) = if (table == "lineitem") ("l_quantity", "l_orderkey")
                           else ("o_totalprice", "o_orderkey")
    val kept = current.filter(!del)
      .withColumn(bumped, when(upd, col(bumped) + 1.0).otherwise(col(bumped)))
    val counts = current.agg(count_if(upd), count_if(del), count_if(ins)).head()
    val base = FreshKeyBase + cycle.toLong * FreshKeyStride
    val fresh = current.filter(ins)
      .withColumn(keyCol, row_number().over(Window.orderBy(keyCols: _*)) + base)
    val inserted = if (table == "lineitem") fresh.withColumn("l_linenumber", lit(1)) else fresh
    (kept.unionByName(inserted), Churn(counts.getLong(0), counts.getLong(1), counts.getLong(2)))
  }
}

/** Exact per-cycle change counts; the engine's row diff must report
  * updated + deleted rows deleted and updated + inserted rows inserted. */
final case class Churn(updated: Long, deleted: Long, inserted: Long) {
  def expectDeleted: Long = updated + deleted
  def expectInserted: Long = updated + inserted
}
