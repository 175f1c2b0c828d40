package graft.streaming

import graft.operators.{AnnIndexStore, DedupStore, InvertedIndex, Observed, StoreManifest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.streaming.StreamingQuery

/** The ingest TOPOLOGY: a raw document stream → dedup-at-ingest
  * ([[DedupStore]]) → full-text index ([[InvertedIndex]]) → ANN store
  * ([[AnnIndexStore]], r13, when the stream carries embeddings) —
  * duplicates never reach either derived store, and all three stay
  * exactly-once under at-least-once replay WITHOUT any cross-store
  * transaction.
  *
  * The composition trick: every derived store reads the dedup store's
  * COMMITTED VERSIONS, never the in-flight batch. Driving appends off
  * the trigger's accepted frame would lose updates — a crash between
  * the dedup commit and a derived append replays into a no-op
  * appendBatch (every fingerprint already committed), so the accepted
  * docs would never reach the derived store. Instead each trigger runs
  * a catch-up per store: every retained dedup version carrying the
  * `ingest` manifest tag and above the derived store's applied `hw`
  * (the [[StoreManifest]] replay guard, committed in the same rename as
  * the version's data) appends now, keyed by the version, reading
  * exactly the doc files that version added (its `v<version>-` prefixed
  * names). Versions ascend and none is skipped, so `v <= hw` is exactly
  * "done" — whatever compaction later does to segment names.
  * Maintenance versions (delete, compactSeen) carry no tag, so a
  * survivor rewrite can never be re-ingested as new content. Every half
  * is idempotent (dedup appendBatch is content-convergent; index append
  * and ANN appendBatch skip a version at their `hw`), so any crash
  * point replays to the same end state.
  *
  * Ordering constraint: [[DedupStore.vacuum]] must never expire an
  * ingest version a derived store has not committed yet — a retain
  * COUNT alone is not enough, because maintenance commits (compactSeen,
  * erasure deletes) also consume versions and can push a lagging
  * ingest version past any fixed window while the pipeline is crashed
  * (ADVICE r12). [[vacuumSafe]] is the pipeline's vacuum: it pins
  * every version from the oldest un-consumed ingest version forward
  * (across ALL derived stores — the `keepFrom` floor on
  * [[DedupStore.vacuum]]), so the catch-ups' source files survive any
  * crash length.
  *
  * Erasure interleaving (ADVICE r12 medium): a crash can land between
  * an ingest commit v and v's catch-up, and an [[EraseSink]] erase of
  * one of v's docs then commits to the dedup store but — deliberately
  * — tombstones nothing downstream (the id was never indexed; both
  * derived deletes refuse unknown ids). The replayed catch-ups
  * therefore re-derive v's survivors instead of trusting v's file
  * list ([[versionSurvivors]]): files the CURRENT manifest still
  * references are untouched by any delete and ingest whole; files it
  * no longer references were rewritten/dropped by an erasure, so their
  * docs ingest only if still in the current accepted set (matched on
  * (doc_id, fp)) and not re-accepted by a LATER ingest version (which
  * ingests them as its own) — without this, the erased doc would
  * resurrect into a derived store permanently, breaking the composed
  * erasure guarantee.
  *
  * Scale per trigger: the dedup probe reads the touched seen buckets
  * (batch × corpus/buckets); each catch-up reads only the NEW doc
  * files (batch-sized); segment count stays bounded by the
  * append's fold into a compaction ([[InvertedIndex.append]]'s
  * `maxSegments`), list files by the cell-keyed append.
  * No job probes the batch for emptiness, and no job re-reads a frame
  * the trigger has just materialized: counts and touched-bucket sets
  * are observed on the checkpoints and writes that run anyway
  * ([[graft.operators.Observed]]). Measured on a 24-message delivery
  * with near mode, the ANN arm and a compaction per trigger: 32 Spark
  * jobs — DedupStore 21, InvertedIndex 6 (one merged segment write; 15
  * when the append and the compaction wrote a segment each),
  * AnnIndexStore 4, this object 1.
  */
object IngestPipeline {

  /** Start the composed sink over a stream bearing `doc_id` and `text`.
    * `near` arms the dedup store's MinHash-LSH near-dup rejection (the
    * r13 near mode) — near-dup re-crawls then never reach the derived
    * stores either, since they derive from accepted versions only.
    * `annDir` (r13) adds the ANN arm: the stream must then also carry
    * an `embedding` column (it rides along into `docs/`); the first
    * non-empty version trains the geometry, every version's vectors
    * append via [[AnnIndexStore.appendBatch]] keyed by the DEDUP
    * VERSION — so a pipeline-fed ANN store must not also be fed by an
    * independent [[AnnIndexSink]] (batch-id collision).
    */
  def start(docs: DataFrame, dedupDir: String, indexDir: String,
            checkpoint: String, buckets: Int = 64, idxBuckets: Int = 32,
            maxSeenFiles: Int = 256, maxSegments: Int = 8,
            near: Option[DedupStore.NearConfig] = None,
            annDir: Option[String] = None, annNlist: Int = 16,
            vacuumRetain: Int = 0,
            emb: Option[DedupStore.EmbConfig] = None,
            metricsDir: Option[String] = None): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // no emptiness probe: nothing survives keep-first on an empty
        // batch, so the append commits nothing. Per-gate accounting runs
        // only when somebody will read it
        val stats =
          if (metricsDir.isDefined)
            DedupStore.appendBatchStats(spark, batch, dedupDir, buckets, near, emb)
          else DedupStore.AppendStats(0L, 0L, 0L,
            DedupStore.appendBatch(spark, batch, dedupDir, buckets, near, emb), -1L)
        if (DedupStore.seenFileCount(spark, dedupDir) > maxSeenFiles)
          DedupStore.compactSeen(spark, dedupDir)
        // AFTER the append so this trigger's version lands immediately;
        // also sweeps any version a prior crash left un-consumed
        indexCatchUp(spark, dedupDir, indexDir, idxBuckets, maxSegments)
        annDir.foreach(ad => annCatchUp(spark, dedupDir, ad, annNlist))
        // vacuumRetain > 0 bounds the dedup store's manifest/file growth
        // under an ENDLESS stream (each trigger commits versions; the
        // index bounds itself inside append) — always through the
        // catch-up floor, never a bare vacuum, and AFTER the catch-ups
        // so the common case retains nothing extra
        if (vacuumRetain > 0)
          vacuumSafe(spark, dedupDir, indexDir, vacuumRetain, annDir)
        // LAST: the lag fields must reflect this trigger's healed state
        // (the version-keyed records inside heal crash gaps themselves)
        metricsDir.foreach(md => IngestMetrics.record(spark, md, batchId,
          stats, dedupDir, indexDir, annDir))
        ()
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** Version v's surviving docs as the CURRENT manifest sees them (the
    * erasure-interleaving guard in the object scaladoc), with `cols`
    * selected. None = the version added no doc files. Both probe joins
    * are empty in the no-crash steady state; their sides carry no
    * stats — SHUFFLE_HASH (r5) — and are batch-scale.
    */
  private def versionSurvivors(spark: SparkSession, dedupDir: String, v: Long,
                               ingestVersions: Seq[Long],
                               curDocFiles: Set[String],
                               cols: Seq[String]): Option[DataFrame] = {
    val newFiles = StoreManifest.read(spark, dedupDir, v, "doc")
      .filter(_.startsWith(s"v$v-"))
    if (newFiles.isEmpty) return None
    val schema = DedupStore.schemaAt(spark, dedupDir, v)
    def read(fs: Seq[String]) = StoreManifest.scan(spark, s"$dedupDir/docs", schema, fs)
    // files the current manifest still references are untouched by any
    // delete — the common case, ingested whole with no extra read
    val (live, rewritten) = newFiles.partition(curDocFiles.contains)
    val liveDocs =
      if (live.isEmpty) None else Some(read(live).select(cols.map(col): _*))
    // files the current manifest dropped were rewritten by an erasure:
    // keep only docs (a) still accepted NOW under the same (doc_id, fp)
    // — an erased doc, or one re-accepted with new content, drops here —
    // and (b) not re-accepted by a LATER ingest version (same id AND
    // content re-entering after erasure: that version's own catch-up
    // ingests it; ingesting both would double it)
    val reDocs =
      if (rewritten.isEmpty) None
      else {
        val accepted = DedupStore.readDocs(spark, dedupDir)
          .select("doc_id", "fp")
        val laterClaimed = ingestVersions.filter(_ > v).flatMap { w =>
          StoreManifest.read(spark, dedupDir, w, "doc")
            .filter(_.startsWith(s"v$w-"))
        }
        val base = read(rewritten)
          .join(accepted.hint("shuffle_hash"), Seq("doc_id", "fp"), "left_semi")
        val filtered =
          if (laterClaimed.isEmpty) base
          else base.join(read(laterClaimed).select("doc_id").hint("shuffle_hash"),
            Seq("doc_id"), "left_anti")
        Some(filtered.select(cols.map(col): _*))
      }
    Some((liveDocs.toSeq ++ reDocs.toSeq).reduce(_ unionByName _))
  }

  private[streaming] def ingestVersionsOf(spark: SparkSession, dedupDir: String): Seq[Long] =
    StoreManifest.versions(spark, dedupDir)
      .filter(v => StoreManifest.read(spark, dedupDir, v, "ingest").nonEmpty)

  /** Index every retained ingest version above the index's `hw`
    * ([[InvertedIndex.highWater]]), ascending; returns versions
    * consumed. Each version's survivors append keyed by the version,
    * which commits the segment and the raised `hw` together; a version
    * with no surviving docs raises `hw` alone
    * ([[InvertedIndex.markApplied]]) so it stops lagging and stops
    * pinning [[vacuumSafe]]. Safe to call at any time.
    */
  def indexCatchUp(spark: SparkSession, dedupDir: String, indexDir: String,
                   idxBuckets: Int = 32, maxSegments: Int = Int.MaxValue): Long = {
    val cur = StoreManifest.currentVersion(spark, dedupDir)
    if (cur < 0) return 0L
    val curDocFiles = StoreManifest.read(spark, dedupDir, cur, "doc").toSet
    val ingestVersions = ingestVersionsOf(spark, dedupDir)
    val hw = InvertedIndex.highWater(spark, indexDir)
    var consumed = 0L
    for (v <- ingestVersions if v > hw) {
      val docsV = versionSurvivors(spark, dedupDir, v, ingestVersions,
        curDocFiles, Seq("doc_id", "text"))
      // append commits nothing for a version whose docs were all erased
      if (!docsV.exists(InvertedIndex.append(_, indexDir, v, idxBuckets, maxSegments)))
        InvertedIndex.markApplied(spark, indexDir, v)
      consumed += 1
    }
    consumed
  }

  /** ANN-index every retained ingest version above the ANN store's
    * `hw`; returns versions consumed. The FIRST version with any vectors
    * trains the geometry ([[AnnIndexStore.train]]); ALL data, including
    * the training version's, then flows through
    * [[AnnIndexStore.appendBatch]] keyed by the dedup version, which
    * commits the vectors and the raised `hw` together. Versions ascend
    * and none is skipped, so `v <= hw` is exactly "done". A version with
    * no vectors (or whose docs were all erased) commits an `hw` raise
    * ([[AnnIndexStore.markApplied]]) so it stops lagging. Rows with a
    * null `embedding` land in the other stores but not here.
    */
  def annCatchUp(spark: SparkSession, dedupDir: String, annDir: String,
                 nlist: Int = 16): Long = {
    val cur = StoreManifest.currentVersion(spark, dedupDir)
    if (cur < 0) return 0L
    val curDocFiles = StoreManifest.read(spark, dedupDir, cur, "doc").toSet
    val ingestVersions = ingestVersionsOf(spark, dedupDir)
    val hw = AnnIndexStore.highWater(spark, annDir)
    var appended = 0L
    for (v <- ingestVersions if v > hw) {
      // a version ingested before the ANN arm was armed may have a
      // pinned schema with NO `embedding` column — selecting it would
      // throw on EVERY trigger (ADVICE r13). Such a version is
      // vector-less by definition: it only raises `hw` below.
      val hasEmbCol = DedupStore.schemaAt(spark, dedupDir, v).fieldNames.contains("embedding")
      // the version's non-empty vectors, checkpointed (read once: train
      // + append) with the emptiness test a count observed on that job
      val vecs =
        if (!hasEmbCol) None
        else versionSurvivors(spark, dedupDir, v, ingestVersions,
            curDocFiles, Seq("doc_id", "embedding"))
          .map(df => Observed.checkpoint(df.filter(col("embedding").isNotNull)
            .select(col("doc_id").as("vec_id"), col("embedding")),
            count(lit(1)).as("n")))
          .collect { case (vs, n) if n.getLong(0) > 0L => vs }
      vecs match {
        case Some(vs) =>
          if (!AnnIndexStore.trained(spark, annDir))
            AnnIndexStore.train(spark, vs, annDir, nlist)
          AnnIndexStore.appendBatch(spark, vs, annDir, v)
        case None => AnnIndexStore.markApplied(spark, annDir, v)
      }
      appended += 1
    }
    appended
  }

  /** The oldest ingest-tagged dedup version some derived store has NOT
    * committed yet (None = fully caught up) — the floor [[vacuumSafe]]
    * pins.
    */
  def oldestLagging(spark: SparkSession, dedupDir: String, indexDir: String,
                    annDir: Option[String] = None): Option[Long] =
    oldestLagging(spark, dedupDir, Some(indexDir), annDir)

  /** [[oldestLagging]] for any combination of derived arms — an
    * index-less pipeline (dedup + ANN only) still needs its floor:
    * without it a dedup vacuum can expire ingest versions the ANN arm
    * has not consumed, exactly the silent-data-loss mode the floor
    * exists to prevent (ADVICE r13).
    */
  def oldestLagging(spark: SparkSession, dedupDir: String,
                    indexDir: Option[String],
                    annDir: Option[String]): Option[Long] = {
    if (StoreManifest.currentVersion(spark, dedupDir) < 0) return None
    val hw = math.min(
      indexDir.fold(Long.MaxValue)(InvertedIndex.highWater(spark, _)),
      annDir.fold(Long.MaxValue)(AnnIndexStore.highWater(spark, _)))
    ingestVersionsOf(spark, dedupDir).find(_ > hw)
  }

  /** Vacuum the dedup store WITHOUT ever expiring a version an
    * un-consumed ingest version's catch-up still needs: every version
    * from the oldest lagging ingest version forward survives — across
    * the index AND the ANN arm — regardless of how many maintenance
    * commits (compactSeen, erasure deletes) landed after it while the
    * pipeline was down (ADVICE r12). Use this — never a bare
    * [[DedupStore.vacuum]] — on a pipeline-fed store. The ANN store,
    * when armed, vacuums under the same `retain`. Returns files deleted.
    */
  def vacuumSafe(spark: SparkSession, dedupDir: String, indexDir: String,
                 retain: Int = 2, annDir: Option[String] = None): Long = {
    val swept = DedupStore.vacuum(spark, dedupDir, retain,
      keepFrom = oldestLagging(spark, dedupDir, indexDir, annDir))
    swept + annDir.fold(0L)(ad => AnnIndexStore.vacuum(spark, ad, retain))
  }
}
