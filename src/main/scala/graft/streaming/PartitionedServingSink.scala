package graft.streaming

import graft.operators.StoreManifest
import graft.sources.JsonIngest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Paths}
import java.time.format.DateTimeFormatter

/** The 100 TB evolution of [[ServingSink]]: serving views PARTITIONED BY
  * HOUR with partition-level incremental rewrite.
  *
  * ServingSink rewrites each whole view per micro-batch — correct, but
  * per-batch work grows with total key cardinality. Here a micro-batch
  * rewrites ONLY the hour partitions it touches (bounded by the
  * watermark horizon, typically 1–2 hours), regardless of how much
  * history the store holds; untouched partitions are neither read nor
  * written. Layout:
  *
  * {{{
  * store/
  *   _graft_manifest/v<N>.manifest  one `hour\t<key>\t<ver>` line per hour
  *                                  (the COMPLETE map of which snapshot
  *                                  serves each hour) plus one `hw` line
  *   counts_per_user/h<key>/v<N>/   (parquet snapshot)
  *   uniques_hourly/h<key>/v<N>/
  *   rejects/v<batch>/
  * }}}
  *
  * Commit protocol: a [[StoreManifest]] store. Write the touched
  * partitions' new snapshots, then commit the full hour map as the next
  * version in ONE manifest rename, with `hw` = the applied ingest batch.
  * The batch at `hw` is a replay, skipped before any write; one below it,
  * or at it from another streaming query, comes from a checkpoint that
  * did not feed this store and is refused ([[StoreManifest.replayed]]).
  * A crash before the rename leaves orphan snapshot dirs that the next
  * commit's GC removes.
  * Readers resolve the current manifest → per-hour snapshot paths, so
  * they always see one consistent version set; the previous version's
  * snapshots survive one more commit for in-flight readers.
  *
  * The merge math is ServingSink's: counters merge by SUM, uniques merge
  * by HLL sketch union (mergeable state, never a rescan of raw events).
  */
object PartitionedServingSink {

  /** The stored schema of a `counts_per_user` snapshot (`hour` is plain
    * TIMESTAMP: date_trunc's type under the UTC session).
    */
  val CountsSchema: StructType = StructType.fromDDL(
    "hour TIMESTAMP, user_id BIGINT, cnt BIGINT, sum_value DECIMAL(18,2)")

  /** The stored schema of a `uniques_hourly` snapshot. */
  val UniquesSchema: StructType = StructType.fromDDL("hour TIMESTAMP, sketch BINARY")

  /** Hour-key → snapshot version serving that hour, and the replay
    * guard (`hw`, the applied ingest batch), of store version `v` (empty
    * and unapplied before the first commit).
    */
  private def committed(spark: SparkSession, storeDir: String,
                        v: Long): (Map[String, Long], StoreManifest.HighWater) = {
    val lines = if (v < 0) Nil else StoreManifest.readLines(spark, storeDir, v)
    val hours = lines.collect { case l if l.startsWith("hour\t") =>
      val Array(_, k, ver) = l.split('\t')
      k -> ver.toLong
    }.toMap
    (hours, if (v < 0) StoreManifest.NoHighWater else StoreManifest.guard(storeDir, lines))
  }

  /** Commit store version `v` — the complete hour map plus `hw` — then
    * collect the snapshots no retained version serves.
    */
  private def commit(spark: SparkSession, storeDir: String, v: Long,
                     hours: Map[String, Long], hw: StoreManifest.HighWater): Unit = {
    StoreManifest.commit(spark, storeDir, v,
      hours.toSeq.sorted.map { case (k, ver) => s"hour\t$k\t$ver" } :+ hw.line)
    gc(spark, storeDir)
  }

  /** A snapshot's dir, relative to the store dir. */
  private def partDir(table: String, hourKey: String, ver: Long): String =
    s"$table/h$hourKey/v$ver"

  /** Idempotent micro-batch commit; see the protocol in the scaladoc.
    * Replay detection is against the applied-batch `hw`, not the store
    * version — a maintenance commit between two ingest triggers must
    * not make the second trigger look replayed.
    */
  def upsertBatch(spark: SparkSession, storeDir: String,
                  parsed: DataFrame, batchId: Long): Unit = {
    val prev = StoreManifest.currentVersion(spark, storeDir)
    // no manifest yet: only a crashed first batch's `v0` snapshots can
    // be here. Any other snapshot was published by a manifest this dir
    // has lost (or by a layout before the manifest) — refused, since the
    // commit's GC would delete it
    require(prev >= 0 || snapshots(storeDir).forall(_.getName == "v0"),
      s"serving store $storeDir holds snapshots but no manifest — restore " +
        "the manifest or rebuild the store into a new dir")
    val (prevManifest, hw) = committed(spark, storeDir, prev)
    if (StoreManifest.replayed(spark, storeDir, hw, batchId)) return
    val version = prev + 1
    val batch = parsed.cache()
    try {
      val valid = JsonIngest.valid(batch)
        .select(date_trunc("hour", col("ts")).as("hour"),
          col("user_id"), col("value"))

      JsonIngest.rejects(batch).write.mode("overwrite")
        .parquet(s"$storeDir/rejects/v$batchId")

      // the batch's touched hours — bounded by the watermark horizon, so
      // the collect is a handful of rows no matter how big history is
      val countsDelta = valid.groupBy("hour", "user_id")
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)").as("sum_value"))
        .cache()
      // hour keys as strings end to end (UTC session): date_trunc yields
      // plain TIMESTAMP, so string keys sidestep LTZ/NTZ round-trips
      val hourKey = date_format(col("hour"), "yyyy-MM-dd'T'HH")
      val touched = countsDelta.select(hourKey.as("k")).distinct().collect()
        .map(_.getString(0))
      try {
        touched.foreach { key =>
          val dC = countsDelta.filter(hourKey === key)
          val mergedCounts = prevManifest.get(key) match {
            case Some(prevVer) =>
              StoreManifest.scan(spark, storeDir, CountsSchema,
                  Seq(partDir("counts_per_user", key, prevVer)))
                .unionByName(dC)
                .groupBy("hour", "user_id")
                .agg(sum("cnt").cast("long").as("cnt"),
                  sum("sum_value").cast("decimal(18,2)").as("sum_value"))
            case None => dC
          }
          mergedCounts.write.mode("overwrite")
            .parquet(s"$storeDir/${partDir("counts_per_user", key, version)}")

          val dU = valid.filter(hourKey === key).groupBy("hour")
            .agg(expr("hll_sketch_agg(user_id)").as("sketch"))
          val mergedUniq = prevManifest.get(key) match {
            case Some(prevVer) =>
              StoreManifest.scan(spark, storeDir, UniquesSchema,
                  Seq(partDir("uniques_hourly", key, prevVer)))
                .unionByName(dU)
                .groupBy("hour").agg(expr("hll_union_agg(sketch)").as("sketch"))
            case None => dU
          }
          mergedUniq.write.mode("overwrite")
            .parquet(s"$storeDir/${partDir("uniques_hourly", key, version)}")
        }
      } finally { countsDelta.unpersist(); () }

      // complete manifest for this commit: untouched hours keep serving
      // their old snapshots — those files were never opened
      commit(spark, storeDir, version, prevManifest ++ touched.map(_ -> version),
        StoreManifest.applying(spark, batchId))
    } finally { batch.unpersist(); () }
  }

  /** USER-KEYED ERASURE over the serving views (the GDPR path,
    * r12) — rewrite ONLY the hour partitions where any of `userIds`
    * holds state, through the exact same stage → manifest protocol as
    * ingest, consuming NO ingest batch id (`hw` carries verbatim):
    *
    *  - `counts_per_user` retracts EXACTLY: the user's (hour, user_id)
    *    rows ARE the user's whole contribution, so an anti-filter is
    *    bit-identical to a rebuild without the user.
    *  - `uniques_hourly` sketches are NOT retractable (HLL has no
    *    delete) — touched hours RECOMPUTE their sketch from
    *    `survivingEvents` (the post-erasure fact rows: `ts`,
    *    `user_id`), the same recompute-from-surviving-facts doctrine as
    *    RollupNav.refreshDays' MIN/MAX.
    *
    * An hour whose survivors are empty drops out of the manifest
    * entirely (its bytes go at the next commit's GC). Touched-hour
    * discovery reads the counts VIEW, not the corpus — cost tracks the
    * user's state, never history size. Content-level no-op when no
    * maintained hour holds any of the ids: returns 0 and commits
    * NOTHING (the repo-wide delete-API replay contract). Single-writer
    * with ingest quiesced, like every maintenance pass here; the next
    * ingest trigger after this commit applies normally because `hw` is
    * untouched.
    *
    * Returns the number of hour partitions rewritten or dropped.
    */
  def eraseUsers(spark: SparkSession, storeDir: String, userIds: Seq[Long],
                 survivingEvents: DataFrame): Long = {
    if (userIds.isEmpty) return 0L
    val prev = StoreManifest.currentVersion(spark, storeDir)
    if (prev < 0) return 0L // empty store: vacuously erased
    val (prevManifest, hw) = committed(spark, storeDir, prev)
    val version = prev + 1
    val hourKey = date_format(col("hour"), "yyyy-MM-dd'T'HH")
    val touched = countsPerUser(spark, storeDir)
      .filter(col("user_id").isin(userIds: _*))
      .select(hourKey.as("k")).distinct().collect().map(_.getString(0)).sorted
    if (touched.isEmpty) return 0L // no state held: commit nothing
    val dropped = scala.collection.mutable.ArrayBuffer.empty[String]
    touched.foreach { key =>
      val prevVer = prevManifest(key) // touched ⇒ manifested by construction
      val kept = StoreManifest.scan(spark, storeDir, CountsSchema,
          Seq(partDir("counts_per_user", key, prevVer)))
        .filter(!col("user_id").isin(userIds: _*))
      if (kept.isEmpty) { dropped += key; () }
      else {
        kept.write.mode("overwrite")
          .parquet(s"$storeDir/${partDir("counts_per_user", key, version)}")
        // sketch recompute from surviving facts — scoped to THIS hour
        survivingEvents
          .select(date_trunc("hour", col("ts")).as("hour"), col("user_id"))
          .filter(date_format(col("hour"), "yyyy-MM-dd'T'HH") === key)
          .groupBy("hour").agg(expr("hll_sketch_agg(user_id)").as("sketch"))
          .write.mode("overwrite")
          .parquet(s"$storeDir/${partDir("uniques_hourly", key, version)}")
      }
    }
    // `hw` carries VERBATIM: this commit consumed no ingest batch, and
    // the next real trigger must not look replayed
    commit(spark, storeDir, version,
      (prevManifest -- dropped) ++ (touched.toSet -- dropped).map(_ -> version), hw)
    touched.length.toLong
  }

  /** Keep the newest two manifests (in-flight readers hold at most the
    * previous commit) and delete every `table/h<key>/v<ver>` snapshot
    * neither serves — crashed batches' orphans included.
    */
  private def gc(spark: SparkSession, storeDir: String): Unit = {
    val served = StoreManifest.expire(spark, storeDir, retain = 2)
      .flatMap(v => committed(spark, storeDir, v)._1)
      .map { case (k, ver) => s"h$k/v$ver" }.toSet
    snapshots(storeDir)
      .filterNot(snap => served(s"${snap.getParentFile.getName}/${snap.getName}"))
      .foreach(snap => graft.Fs.rmTree(snap.toString))
  }

  /** Every `table/h<key>/v<ver>` snapshot dir on disk. */
  private def snapshots(storeDir: String): Seq[java.io.File] = {
    def ls(d: java.io.File) = Option(d.listFiles()).toSeq.flatten
    for (table <- Seq("counts_per_user", "uniques_hourly");
         hourDir <- ls(new java.io.File(storeDir, table));
         snap <- ls(hourDir)) yield snap
  }

  /** Launch the topology: tail `inDir` NDJSON → validated ingest →
    * partition-incremental serving views under `storeDir`.
    */
  def start(spark: SparkSession, inDir: String, storeDir: String,
            ckptDir: String, trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    Files.createDirectories(Paths.get(storeDir))
    JsonIngest.streamJsonLines(spark, inDir)
      .writeStream
      .foreachBatch((df: DataFrame, id: Long) =>
        upsertBatch(spark, storeDir, df, id))
      .option("checkpointLocation", ckptDir)
      .trigger(trigger)
      .start()
  }

  // ---- read path: resolve manifest → per-hour snapshots ----

  private def servedHours(spark: SparkSession, storeDir: String): Seq[(String, Long)] =
    committed(spark, storeDir, StoreManifest.currentVersion(spark, storeDir))._1.toSeq.sorted

  /** The served snapshots of `table` among `hours`, relative to the store dir. */
  private def served(storeDir: String, table: String,
                     hours: Seq[(String, Long)]): Seq[String] =
    hours.map { case (k, v) => partDir(table, k, v) }
      .filter(p => Files.exists(Paths.get(storeDir, p)))

  /** Keyed per-user counters — only the manifest-listed snapshots load. */
  def countsPerUser(spark: SparkSession, storeDir: String): DataFrame =
    StoreManifest.scan(spark, storeDir, CountsSchema,
      served(storeDir, "counts_per_user", servedHours(spark, storeDir)))

  /** Distinct users per hour from the merged sketches. */
  def uniquesHourly(spark: SparkSession, storeDir: String): DataFrame =
    StoreManifest.scan(spark, storeDir, UniquesSchema,
        served(storeDir, "uniques_hourly", servedHours(spark, storeDir)))
      .select(col("hour"), expr("hll_sketch_estimate(sketch)").as("approx_users"))

  /** Distinct users over an hour range — union of per-hour sketch state;
    * partition pruning happens at the MANIFEST level: out-of-range hours'
    * files are never opened.
    */
  def uniquesRange(spark: SparkSession, storeDir: String,
                   fromHour: String, untilHour: String): DataFrame = {
    val from = java.time.LocalDateTime.parse(fromHour.replace(' ', 'T'))
    val until = java.time.LocalDateTime.parse(untilHour.replace(' ', 'T'))
    val snaps = served(storeDir, "uniques_hourly", servedHours(spark, storeDir)
      .filter { case (k, _) =>
        val h = java.time.LocalDateTime.parse(k + ":00:00", DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss"))
        !h.isBefore(from) && h.isBefore(until)
      })
    val sketches = StoreManifest.scan(spark, storeDir, UniquesSchema, snaps)
    // a range serving no hour answers no row, not one NULL estimate
    if (snaps.isEmpty) sketches.select(expr("hll_sketch_estimate(sketch)").as("approx_users"))
    else sketches.agg(expr("hll_sketch_estimate(hll_union_agg(sketch))").as("approx_users"))
  }
}
