package graft.util

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}

import scala.concurrent.Await
import scala.concurrent.duration.Duration

/** The metrics row an `Observation` collected on a write that has returned:
  * how the engine learns the row counts of what it just wrote without a
  * second job over the written (or the read) rows.
  */
object Observed {

  /** Upper bound on the wait for a write's observed metrics. They reach
    * the driver through Spark's asynchronous query-execution listener, and
    * `Observation.get` would wait forever if that delivery never came.
    */
  val Timeout: Duration = Duration(5, "min")

  /** The row `obs` observed on `what` (the write) of `table`. Throws
    * `IllegalStateException` naming both when it does not arrive within
    * `timeout`; callers read it before they publish anything, so the
    * operation fails and a retry redoes it.
    */
  def row(obs: Observation, table: String, what: String,
          timeout: Duration = Timeout): Row =
    try Await.result(obs.future, timeout)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        throw new IllegalStateException(
          s"$table: the observed metrics of the $what did not arrive within $timeout")
    }

  /** The aggregate `metrics` (each named) over `df`, taken by an
    * `Observation` while `df` runs into the no-op sink: one pass whose rows
    * are dropped, where `df.agg(...)` would add a stage to gather them.
    */
  def pass(df: DataFrame, table: String, what: String)(metrics: Column*): Row = {
    val obs = Observation()
    df.observe(obs, metrics.head, metrics.tail: _*).write.format("noop").mode("overwrite").save()
    row(obs, table, what)
  }
}
