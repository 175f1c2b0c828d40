package graft.streaming

import graft.operators.RollupNav
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming rollup maintenance: a fact stream keeps the [[RollupNav]]
  * day-grain cube continuously queryable — the "dashboards read the
  * rollup, never the firehose" loop, composed exactly like the other
  * sinks (foreachBatch + an idempotent storage commit).
  *
  * Exactly-once EFFECT from at-least-once delivery: deltas are not
  * content-idempotent (a replayed batch would double-count), so
  * [[RollupNav.maintain]] is handed the trigger's `batchId`, which
  * commits as the cube manifest's `hw` line and rides every later
  * commit, maintenance ones included. The WHOLE batch publishes in one
  * manifest rename, so there is no partially-applied state: a replayed
  * trigger finds its id at `hw` and no-ops; a crash before the commit
  * leaves the previous version intact plus unreferenced orphans the
  * next vacuum sweeps — proven by RollupNavSpec's replay and
  * crash-window tests.
  *
  * Scale shape per trigger: one batch-sized aggregate, a manifest-
  * pruned read of just the touched days' partials, and ONE staged
  * write regardless of how many days the batch spans — cost tracks the
  * STREAM rate and the day span of its events, never the cube's
  * history, and a backfill batch costs the same job count as a
  * steady-state one.
  */
object RollupSink {

  /** Start the sink: `facts` streams rows carrying `day` plus the
    * rollup's dims and long measures; `dir` must hold a cube built by
    * [[RollupNav.materialize]] (possibly over zero days).
    */
  def start(facts: DataFrame, dir: String, rollup: RollupNav.Rollup,
            checkpoint: String): StreamingQuery =
    facts.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // an empty batch aggregates to no days, and maintain returns
        // before committing
        RollupNav.maintain(batch.sparkSession, dir, rollup, batch, Some(batchId))
      }
      .option("checkpointLocation", checkpoint)
      .start()
}
