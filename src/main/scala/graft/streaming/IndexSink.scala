package graft.streaming

import graft.operators.InvertedIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming inverted-index maintenance: a document stream keeps the
  * persisted [[InvertedIndex]] phrase-searchable fresh — the third of
  * the three stream-maintained stores (ANN index: [[AnnIndexSink]],
  * rollup cube: [[RollupSink]], full-text index: here), all the same
  * composition: foreachBatch + an idempotent atomic storage commit.
  *
  * Exactly-once EFFECT from at-least-once delivery: each trigger writes
  * ONE segment whose data lands before the manifest rename commits it
  * together with `hw = batchId` — [[InvertedIndex.append]] returns at
  * once for the batch at `hw`, so a replayed trigger (a restart from
  * this query's checkpoint) is a no-op, and a crash before the commit
  * leaves only an unreferenced dir. A restart from a fresh checkpoint
  * is refused: its batch ids restart at 0, below or at `hw` under a new
  * query id. An empty trigger below the cap commits nothing: append
  * learns that from the count it observes on its own posting write.
  * Search-after-stream ≡ batch rebuild of the same documents
  * (InvertedIndexSpec).
  *
  * Scale shape per trigger: one batch-sized tokenize + aggregate and
  * ≤ `buckets` files — cost tracks the STREAM rate, not index size.
  * Segment COUNT stays bounded: when one more segment would exceed
  * `maxSegments`, append folds the batch into [[InvertedIndex.compact]]
  * — a Lucene-style SIZE-TIERED merge (the batch and the smallest
  * segments become one segment, leaving half the cap; the largest
  * carry forward untouched), so lookup fan-in is O(maxSegments) and
  * write amplification per document O(log corpus). Readers racing a
  * merge resolve the pre-merge manifest and never double-count.
  */
object IndexSink {

  /** Start the sink over a stream of (doc_id, text) rows; `dir` may
    * start empty or hold an index built by [[InvertedIndex.write]].
    * `buckets` founds an empty dir's bucket count; a committed store
    * keeps its own.
    */
  def start(docs: DataFrame, dir: String, checkpoint: String,
            buckets: Int = 32, maxSegments: Int = 8): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        InvertedIndex.append(batch, dir, batchId, buckets, maxSegments)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .start()
}
