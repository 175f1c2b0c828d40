package graft.streaming

import graft.sources.JsonIngest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.format.DateTimeFormatter
import scala.jdk.CollectionConverters._

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
  *   _COMMIT                    last committed batch id (atomic pointer)
  *   manifest/v<batch>.manifest hour-key|version lines: the COMPLETE map
  *                              of which snapshot serves each hour
  *   counts_per_user/h<key>/v<batch>/   (parquet snapshot)
  *   uniques_hourly/h<key>/v<batch>/
  *   rejects/v<batch>/
  * }}}
  *
  * Commit protocol (unchanged from ServingSink, now two-level): write the
  * touched partitions' new snapshots, write the full manifest for this
  * batch, then flip `_COMMIT` atomically. A replayed batch id is skipped
  * before any write; a crash before the flip leaves orphan snapshot dirs
  * that the next successful commit's GC removes. Readers resolve
  * `_COMMIT` → manifest → per-hour snapshot paths, so they always see one
  * consistent version set; the previously-committed version of every
  * partition survives one more commit for in-flight readers.
  *
  * The merge math is ServingSink's: counters merge by SUM, uniques merge
  * by HLL sketch union (mergeable state, never a rescan of raw events).
  */
object PartitionedServingSink {

  private def commitFile(storeDir: String) = Paths.get(storeDir, "_COMMIT")

  /** Committed store VERSION, -1 if the store is empty. Store versions
    * and ingest batch ids are decoupled (r12): `_COMMIT` line 1 is the
    * version every snapshot/manifest path resolves through; line 2 is
    * the highest APPLIED ingest batch id, which alone drives the
    * replay-skip test. The split is what lets a maintenance commit that
    * consumes no ingest batch — [[eraseUsers]] — bump the version
    * without making the replay guard swallow the NEXT real micro-batch
    * (version N+1 would otherwise read as "batch N+1 already applied"
    * and its data would be silently dropped).
    */
  def committedBatch(storeDir: String): Long = {
    val f = commitFile(storeDir)
    if (Files.exists(f)) Files.readAllLines(f).get(0).trim.toLong else -1L
  }

  /** Highest ingest batch id already folded into the committed state —
    * the replay-skip floor (line 2 of `_COMMIT`).
    */
  def appliedIngestBatch(storeDir: String): Long = {
    val f = commitFile(storeDir)
    if (!Files.exists(f)) -1L
    else {
      val lines = Files.readAllLines(f)
      require(lines.size() == 2,
        s"$f holds ${lines.size()} line(s); a store commit writes two " +
          s"(version, applied batch) — $storeDir is not a committed store")
      lines.get(1).trim.toLong
    }
  }

  /** Atomic two-line commit pointer flip (version, applied batch). */
  private def flipCommit(storeDir: String, version: Long, batch: Long): Unit = {
    val tmp = Files.createTempFile(Paths.get(storeDir), "_commit", ".tmp")
    Files.writeString(tmp, s"$version\n$batch", StandardCharsets.UTF_8)
    Files.move(tmp, commitFile(storeDir), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def manifestPath(storeDir: String, batchId: Long): Path =
    Paths.get(storeDir, "manifest", s"v$batchId.manifest")

  /** hour-key → snapshot version serving that hour, for a committed batch. */
  private def readManifest(storeDir: String, batchId: Long): Map[String, Long] = {
    val p = manifestPath(storeDir, batchId)
    if (batchId < 0 || !Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.filter(_.nonEmpty).map { line =>
      val Array(k, v) = line.split('|')
      k -> v.toLong
    }.toMap
  }

  private def partDir(storeDir: String, table: String, hourKey: String, ver: Long): String =
    s"$storeDir/$table/h$hourKey/v$ver"

  /** Idempotent micro-batch commit; see the protocol in the scaladoc.
    * Replay detection is against the APPLIED-BATCH floor, not the store
    * version — a maintenance commit between two ingest triggers must
    * not make the second trigger look replayed.
    */
  def upsertBatch(spark: SparkSession, storeDir: String,
                  parsed: DataFrame, batchId: Long): Unit = {
    if (batchId <= appliedIngestBatch(storeDir)) return // replayed batch
    val prevCommitted = committedBatch(storeDir)
    val version = prevCommitted + 1
    val prevManifest = readManifest(storeDir, prevCommitted)
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
              spark.read.parquet(partDir(storeDir, "counts_per_user", key, prevVer))
                .unionByName(dC)
                .groupBy("hour", "user_id")
                .agg(sum("cnt").cast("long").as("cnt"),
                  sum("sum_value").cast("decimal(18,2)").as("sum_value"))
            case None => dC
          }
          mergedCounts.write.mode("overwrite")
            .parquet(partDir(storeDir, "counts_per_user", key, version))

          val dU = valid.filter(hourKey === key).groupBy("hour")
            .agg(expr("hll_sketch_agg(user_id)").as("sketch"))
          val mergedUniq = prevManifest.get(key) match {
            case Some(prevVer) =>
              spark.read.parquet(partDir(storeDir, "uniques_hourly", key, prevVer))
                .unionByName(dU)
                .groupBy("hour").agg(expr("hll_union_agg(sketch)").as("sketch"))
            case None => dU
          }
          mergedUniq.write.mode("overwrite")
            .parquet(partDir(storeDir, "uniques_hourly", key, version))
        }
      } finally { countsDelta.unpersist(); () }

      // complete manifest for this commit: untouched hours keep serving
      // their old snapshots — those files were never opened
      val newManifest = prevManifest ++ touched.map(_ -> version)
      writeManifest(storeDir, version, newManifest)
      flipCommit(storeDir, version, batchId)

      gc(storeDir, prevCommitted, prevManifest)
    } finally { batch.unpersist(); () }
  }

  private def writeManifest(storeDir: String, version: Long,
                            manifest: Map[String, Long]): Unit = {
    Files.createDirectories(Paths.get(storeDir, "manifest"))
    val mTmp = Files.createTempFile(Paths.get(storeDir, "manifest"), "_m", ".tmp")
    Files.writeString(mTmp,
      manifest.toSeq.sorted.map { case (k, v) => s"$k|$v" }.mkString("\n"),
      StandardCharsets.UTF_8)
    Files.move(mTmp, manifestPath(storeDir, version),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** USER-KEYED ERASURE over the serving views (the GDPR path,
    * r12) — rewrite ONLY the hour partitions where any of `userIds`
    * holds state, through the exact same stage → manifest → pointer
    * protocol as ingest, consuming NO ingest batch id (the version/
    * batch split above):
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
    * ingest trigger after this commit applies normally because the
    * replay floor is untouched.
    *
    * Returns the number of hour partitions rewritten or dropped.
    */
  def eraseUsers(spark: SparkSession, storeDir: String, userIds: Seq[Long],
                 survivingEvents: DataFrame): Long = {
    if (userIds.isEmpty) return 0L
    val prevCommitted = committedBatch(storeDir)
    if (prevCommitted < 0) return 0L // empty store: vacuously erased
    val prevManifest = readManifest(storeDir, prevCommitted)
    val version = prevCommitted + 1
    val hourKey = date_format(col("hour"), "yyyy-MM-dd'T'HH")
    val touched = countsPerUser(spark, storeDir)
      .filter(col("user_id").isin(userIds: _*))
      .select(hourKey.as("k")).distinct().collect().map(_.getString(0)).sorted
    if (touched.isEmpty) return 0L // no state held: commit nothing
    val dropped = scala.collection.mutable.ArrayBuffer.empty[String]
    touched.foreach { key =>
      val prevVer = prevManifest(key) // touched ⇒ manifested by construction
      val kept = spark.read
        .parquet(partDir(storeDir, "counts_per_user", key, prevVer))
        .filter(!col("user_id").isin(userIds: _*))
      if (kept.isEmpty) { dropped += key; () }
      else {
        kept.write.mode("overwrite")
          .parquet(partDir(storeDir, "counts_per_user", key, version))
        // sketch recompute from surviving facts — scoped to THIS hour
        survivingEvents
          .select(date_trunc("hour", col("ts")).as("hour"), col("user_id"))
          .filter(date_format(col("hour"), "yyyy-MM-dd'T'HH") === key)
          .groupBy("hour").agg(expr("hll_sketch_agg(user_id)").as("sketch"))
          .write.mode("overwrite")
          .parquet(partDir(storeDir, "uniques_hourly", key, version))
      }
    }
    val newManifest = (prevManifest -- dropped) ++
      (touched.toSet -- dropped).map(_ -> version)
    writeManifest(storeDir, version, newManifest)
    // the applied-batch floor carries VERBATIM: this commit consumed no
    // ingest batch, and the next real trigger must not look replayed
    flipCommit(storeDir, version, appliedIngestBatch(storeDir))
    gc(storeDir, prevCommitted, prevManifest)
    touched.length.toLong
  }

  /** Drop snapshots no manifest at or after `prevCommitted` references:
    * per hour dir, keep versions ≥ the previous manifest's version for
    * that hour (in-flight readers hold at most the previous commit);
    * drop manifests below the previous commit; sweep orphan tmp files.
    */
  private def gc(storeDir: String, prevCommitted: Long,
                 prevManifest: Map[String, Long]): Unit = {
    def deleteTree(p: Path): Unit = graft.Fs.rmTree(p)
    Seq("counts_per_user", "uniques_hourly").foreach { table =>
      val tDir = Paths.get(storeDir, table)
      if (Files.isDirectory(tDir)) {
        Files.list(tDir).iterator().asScala.filter(_.getFileName.toString.startsWith("h"))
          .toList.foreach { hourDir =>
            val key = hourDir.getFileName.toString.drop(1)
            // an hour absent from the previous manifest is brand new —
            // nothing older than it can exist, so GC nothing there
            val floor = prevManifest.getOrElse(key, Long.MinValue)
            Files.list(hourDir).iterator().asScala.toList.foreach { vp =>
              val n = vp.getFileName.toString
              if (n.startsWith("v") && n.drop(1).forall(_.isDigit) && n.length > 1 &&
                  n.drop(1).toLong < floor) deleteTree(vp)
            }
          }
      }
    }
    val mDir = Paths.get(storeDir, "manifest")
    if (Files.isDirectory(mDir)) {
      Files.list(mDir).iterator().asScala.toList.foreach { p =>
        val n = p.getFileName.toString
        if (n.startsWith("_m") && n.endsWith(".tmp")) Files.delete(p)
        else if (n.startsWith("v") && n.endsWith(".manifest") &&
          n.stripPrefix("v").stripSuffix(".manifest").forall(_.isDigit) &&
          n.stripPrefix("v").stripSuffix(".manifest").toLong < prevCommitted)
          Files.delete(p)
      }
    }
    Files.list(Paths.get(storeDir)).iterator().asScala.toList.foreach { p =>
      val n = p.getFileName.toString
      if (n.startsWith("_commit") && n.endsWith(".tmp")) Files.delete(p)
    }
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

  // ---- read path: resolve _COMMIT → manifest → per-hour snapshots ----

  private def servingPaths(storeDir: String, table: String): Seq[String] = {
    val b = committedBatch(storeDir)
    readManifest(storeDir, b).toSeq.sorted
      .map { case (k, v) => partDir(storeDir, table, k, v) }
      .filter(p => Files.exists(Paths.get(p)))
  }

  // hour is plain TIMESTAMP in snapshots (see ServingSink.emptyCounts)
  private def emptyCounts(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(java.sql.Timestamp, Long, Long, java.math.BigDecimal)]
      .toDF("hour", "user_id", "cnt", "sum_value")
      .select(col("hour"), col("user_id"), col("cnt"),
        col("sum_value").cast("decimal(18,2)"))
  }

  /** Keyed per-user counters — only the manifest-listed snapshots load. */
  def countsPerUser(spark: SparkSession, storeDir: String): DataFrame = {
    val paths = servingPaths(storeDir, "counts_per_user")
    if (paths.isEmpty) emptyCounts(spark)
    else spark.read.parquet(paths: _*)
  }

  /** Distinct users per hour from the merged sketches. */
  def uniquesHourly(spark: SparkSession, storeDir: String): DataFrame = {
    import spark.implicits._
    val paths = servingPaths(storeDir, "uniques_hourly")
    if (paths.isEmpty)
      Seq.empty[(java.sql.Timestamp, Long)].toDF("hour", "approx_users")
    else spark.read.parquet(paths: _*)
      .select(col("hour"), expr("hll_sketch_estimate(sketch)").as("approx_users"))
  }

  /** Distinct users over an hour range — union of per-hour sketch state;
    * partition pruning happens at the MANIFEST level: out-of-range hours'
    * files are never opened.
    */
  def uniquesRange(spark: SparkSession, storeDir: String,
                   fromHour: String, untilHour: String): DataFrame = {
    import spark.implicits._
    val from = java.time.LocalDateTime.parse(fromHour.replace(' ', 'T'))
    val until = java.time.LocalDateTime.parse(untilHour.replace(' ', 'T'))
    val b = committedBatch(storeDir)
    val paths = readManifest(storeDir, b).toSeq.sorted
      .filter { case (k, _) =>
        val h = java.time.LocalDateTime.parse(k + ":00:00", DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss"))
        !h.isBefore(from) && h.isBefore(until)
      }
      .map { case (k, v) => partDir(storeDir, "uniques_hourly", k, v) }
      .filter(p => Files.exists(Paths.get(p)))
    if (paths.isEmpty) Seq.empty[Long].toDF("approx_users")
    else spark.read.parquet(paths: _*)
      .agg(expr("hll_sketch_estimate(hll_union_agg(sketch))").as("approx_users"))
  }
}
