package graft.streaming

import graft.operators.DedupStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming dedup-at-ingest: a document stream lands in a persisted
  * [[DedupStore]], every micro-batch dropping content the store has
  * already accepted — re-crawls, mirror copies, at-least-once replays —
  * BEFORE it costs storage or a downstream pipeline pass. The fourth
  * stream-maintained store (full-text: IndexSink, ANN: AnnIndexSink,
  * rollup: RollupSink), same composition: foreachBatch + an idempotent
  * atomic storage commit.
  *
  * Exactly-once EFFECT from at-least-once delivery with no batch
  * markers: [[DedupStore.appendBatch]] is content-convergent — a
  * replayed trigger finds every fingerprint already committed and
  * returns WITHOUT writing a version (the EraseSink doctrine); a crash
  * mid-stage leaves only unreferenced orphans the replay ignores and
  * [[DedupStore.vacuum]] sweeps.
  *
  * Scale per trigger: one batch-sized fingerprint aggregate plus a
  * seen-set probe pruned to the fingerprint buckets the batch touches
  * (~batch × corpus/buckets rows read), never the whole seen-set. No
  * job probes the batch for emptiness first: an empty trigger costs the
  * keep-first checkpoint alone and commits nothing.
  */
object DedupSink {

  /** Start the sink over a stream bearing `doc_id` and `text` (other
    * columns ride along into the store). `buckets` and `near` bind only
    * on the store's FIRST commit; later triggers use the baked values.
    * `near` arms MinHash-LSH near-dup rejection next to the exact md5
    * set — a re-crawl with one changed sentence drops at ingest too
    * (the r13 near mode; survivors ≡ batch MinHashDedup keep-first,
    * DedupSinkSpec). Once the probe sets' file count passes
    * `maxSeenFiles`, the trigger folds both back to one file per bucket
    * ([[DedupStore.compactSeen]] — the IndexSink maxSegments symmetry),
    * so the membership probe's fan-in stays bounded under an endless
    * stream.
    */
  def start(docs: DataFrame, dir: String, checkpoint: String,
            buckets: Int = 64, maxSeenFiles: Int = 256,
            near: Option[DedupStore.NearConfig] = None,
            emb: Option[DedupStore.EmbConfig] = None): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        // no emptiness probe: nothing survives keep-first on an empty
        // batch, so the append commits nothing
        DedupStore.appendBatch(spark, batch, dir, buckets, near, emb)
        if (DedupStore.seenFileCount(spark, dir) > maxSeenFiles)
          DedupStore.compactSeen(spark, dir)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .start()
}
