package graft.streaming

import graft.operators.UserErase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming head of the USER-keyed erasure composition: a deletion
  * queue of `user_id` tickets driving [[graft.operators.UserErase]]
  * every trigger — the user-granularity sibling of the doc-keyed
  * [[EraseSink]]. All the semantics live in UserErase (journal,
  * content-convergent replay, per-store recompute doctrine); this
  * wrapper only adds the queue plumbing:
  *
  *  - malformed / null ids `try_cast` to NULL and drop instead of
  *    killing the query — a poisoned ticket on a PUBLIC queue must not
  *    wedge the checkpoint replay forever (the r11 sink lesson);
  *  - the crash journal lives UNDER the checkpoint dir, so retrying a
  *    trigger and resuming the query see the same journal by
  *    construction;
  *  - exactly-once EFFECT from at-least-once foreachBatch, with no
  *    batch markers: a replayed completed trigger finds no snapshot
  *    rows, an empty journal, and no serving state, so no store
  *    commits anything.
  *
  * The EraseSink ordering caveat applies: tickets must not overtake the
  * ingest writing the user's events — quiesce/flush ingest ahead of
  * this queue, or accept that a racing ticket erases only what has
  * landed.
  */
object UserEraseSink {

  /** Start the erasure queue consumer. `requests` needs a `user_id`
    * column (any castable type). `dayCol` is the snapshot's partition
    * column — the cube's day-grain column when `cube` is set.
    */
  def start(requests: DataFrame, snapshotDir: String, dayCol: String,
            cube: Option[UserErase.CubeTarget], servingDir: Option[String],
            checkpoint: String,
            servingEventsOf: DataFrame => DataFrame =
              _.select(col("ts"), col("user_id"))): StreamingQuery =
    requests.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val ids = batch.selectExpr("try_cast(user_id AS LONG) AS user_id")
          .filter(col("user_id").isNotNull)
          .distinct().collect().map(_.getLong(0)).toSeq
        // run even on an id-less trigger: a crashed predecessor's
        // journal may still owe the cube a refresh
        UserErase.eraseUsers(spark, ids, snapshotDir, dayCol, cube,
          servingDir, servingEventsOf,
          journalDir = Some(s"$checkpoint/_user_erase"))
        ()
      }
      .option("checkpointLocation", checkpoint)
      .start()
}
