package graft.streaming

import graft.operators.MergeInto
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming MERGE sink: every micro-batch upserts into a
  * dir-partitioned parquet snapshot via MergeInto.mergeFiles — the
  * "CDC stream maintains a queryable table" loop (streaming-ETL's
  * MERGE INTO sink, on plain parquet).
  *
  * Exactly-once EFFECT from at-least-once delivery: foreachBatch can
  * replay a batch after a failure, and the merge is content-idempotent
  * (source-wins on match, deletes stay deleted — MergeSpec) AND commits
  * atomically (one manifest rename publishes the whole multi-partition
  * version; a crash at any earlier point leaves only unreferenced files
  * that readers never see — MergeSpec's orphan test), so a replayed
  * batch re-derives the same snapshot content with no duplicate rows.
  * Readers use MergeInto.readSnapshot to resolve the committed version.
  * Only the batch's affected partitions are touched per trigger
  * (mergeFiles' copy-on-write), so steady-state cost tracks the CDC
  * rate, not the snapshot size — the property that matters when the
  * snapshot is 100 TB and a trigger carries a few thousand rows.
  *
  * Within a batch, several changes to ONE key collapse to the latest by
  * `orderCol` (max_by per key) BEFORE the merge — micro-batches are
  * sets, not sequences, so the reduction is what makes "latest wins"
  * well-defined.
  */
object UpsertSink {

  /** Start the sink: `updates` is a streaming DataFrame carrying the
    * snapshot schema plus `orderCol` (dedup priority within a batch)
    * and optionally `tombstoneCol`.
    */
  def start(updates: DataFrame, dir: String, keys: Seq[String],
            partitionCol: String, orderCol: String, checkpoint: String,
            tombstoneCol: Option[String] = None): StreamingQuery = {
    import org.apache.spark.sql.functions._
    updates.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // no emptiness probe: an empty batch touches no partition, so
        // the merge commits nothing
        val cols = batch.columns.filterNot(_ == orderCol)
        // latest change per key inside the batch (deterministic:
        // orderCol is made unique by construction upstream)
        val latest = batch
          .groupBy(keys.map(col): _*)
          .agg(max_by(struct(cols.map(col): _*), col(orderCol)).as("_r"))
          .select(cols.map(c => col(s"_r.$c").as(c)): _*)
        MergeInto.mergeFiles(batch.sparkSession, dir, latest, keys,
          partitionCol, tombstoneCol)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .start()
  }
}
