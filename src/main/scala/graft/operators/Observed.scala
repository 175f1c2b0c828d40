package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import scala.concurrent.Await
import scala.concurrent.duration._

/** In-flight pipeline metrics via `Dataset.observe` — the zero-cost
  * observability story for a 100 TB pass: the counters are
  * accumulator-backed aggregate expressions evaluated AS the rows stream
  * through the existing plan, so quality telemetry (row counts, null
  * counts, violation counts) costs no second scan, no cache, and no
  * extra shuffle. This is how a production run reports "rows read /
  * rows rejected / bytes of nulls" per stage without re-reading input.
  *
  * Contrast with ProfileQueries.q_profile_stats (a dedicated ANALYZE
  * pass): observe() piggybacks on whatever action the caller was already
  * running. The metrics become available once ANY action completes on
  * the returned frame.
  */
object Observed {

  /** Attach standard quality counters for `valueCol` to `df`.
    * Returns the instrumented frame plus the Observation handle;
    * `obs.get` blocks until the caller's first action finishes.
    */
  def withQualityMetrics(df: DataFrame, valueCol: String): (DataFrame, Observation) = {
    val obs = Observation()
    val instrumented = df.observe(obs,
      count(lit(1)).as("n_rows"),
      count(col(valueCol)).as("n_nonnull"),
      sum(when(col(valueCol) < 0, 1).otherwise(0)).cast("long").as("n_negative"),
      max(col(valueCol)).as("max_value"))
    (instrumented, obs)
  }

  /** The bound on the wait for an action's observed row: it arrives
    * with the action, and `get` would wait forever if it never did.
    */
  val MetricsWait: FiniteDuration = 60.seconds

  /** Run `action` over `df` with the metrics observed on it: the
    * action's value plus the metrics row, in place of a follow-up count
    * or collect job. Throws if the row is not there [[MetricsWait]]
    * after the action.
    */
  def observing[A](df: DataFrame, metric: Column, more: Column*)(
      action: DataFrame => A): (A, Row) = {
    val obs = Observation()
    val out = action(df.observe(obs, metric, more: _*))
    (out, Await.result(obs.future, MetricsWait))
  }

  /** `df.localCheckpoint()` with the metrics observed on its own job. On
    * empty input a `count` reads 0 and a `collect_set` an empty array.
    */
  def checkpoint(df: DataFrame, metric: Column, more: Column*): (DataFrame, Row) =
    observing(df, metric, more: _*)(_.localCheckpoint())
}
