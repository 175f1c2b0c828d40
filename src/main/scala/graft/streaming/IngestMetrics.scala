package graft.streaming

import graft.operators.{AnnIndexStore, DedupStore, InvertedIndex, StoreManifest}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Per-trigger observability for the composed ingest pipeline (VERDICT
  * r13 #4 — "today you'd read manifests by hand"): one JSON sidecar
  * file per trigger under `metricsDir`, carrying the two kinds of
  * truth the exactly-once machinery produces, kept deliberately apart:
  *
  *   - **attempt-scoped** (`t<batchId>.json`): this delivery's gate
  *     waterfall — batch rows, dropped per gate (exact/invalid,
  *     lexical, semantic), accepted. A REPLAYED trigger overwrites its
  *     file with the replay's truth (typically accepted = 0, everything
  *     droppedExact — the store already has the docs). These are
  *     diagnostics; summing them across a crash double-counts BY
  *     DESIGN, which is why they are never the cumulative source.
  *   - **version-keyed, write-once** (`v<N>.json`): one file per
  *     committed dedup INGEST version, derived from the manifest's
  *     `ingest` tag — the same commit record the derived-store
  *     catch-ups key off. Written catch-up-style (every retained
  *     tagged version missing its file gets one, so a crash between
  *     the dedup commit and the metrics write heals on the next
  *     trigger), never overwritten, and never lost to vacuum (the
  *     file outlives its manifest). `Σ v-files == docs ever accepted`
  *     holds under ANY replay interleaving — the no-double-count
  *     counter (reconciliation asserted in IngestPipelineSpec).
  *
  * The trigger snapshot also reports catch-up LAG as the three
  * high-waters the pipeline's derivations advance (max ingest version
  * vs the index's `hw` vs the ANN store's `hw`) plus
  * [[IngestPipeline.oldestLagging]], and per-store live-object counts
  * (retained manifests, doc/seen files, index segments, ANN manifests) —
  * the numbers an operator needs to see a stuck derivation or an
  * unbounded store without reading manifests by hand.
  *
  * Commit discipline matches the stores: every file stages as a dot-tmp
  * and lands by ONE atomic rename ([[graft.Fs.atomicMove]]); a torn
  * write is an invisible orphan swept by the next write's staging.
  */
object IngestMetrics {

  /** Write the version-keyed acceptance records (idempotent catch-up)
    * and this trigger's attempt snapshot. Call AFTER the catch-ups so
    * the lag fields reflect the healed state of this trigger.
    */
  def record(spark: SparkSession, metricsDir: String, batchId: Long,
             stats: DedupStore.AppendStats, dedupDir: String,
             indexDir: String, annDir: Option[String]): Unit = {
    val md = new Path(metricsDir)
    val fs = md.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(md)
    // ---- version-keyed, write-once: heal every retained tagged version
    val ingestVersions = IngestPipeline.ingestVersionsOf(spark, dedupDir)
    for (v <- ingestVersions if !fs.exists(new Path(md, s"v$v.json"))) {
      val n = StoreManifest.read(spark, dedupDir, v, "ingest").head.toLong
      writeAtomic(fs, md, s"v$v.json",
        s"""{"version":$v,"accepted":$n}""")
    }
    // ---- attempt-scoped trigger snapshot (replay overwrites)
    val cur = StoreManifest.currentVersion(spark, dedupDir)
    val ingestHw = if (ingestVersions.isEmpty) -1L else ingestVersions.max
    val dvHw = InvertedIndex.highWater(spark, indexDir)
    val annHw = annDir.fold(-1L)(ad => AnnIndexStore.highWater(spark, ad))
    val lagging = IngestPipeline.oldestLagging(spark, dedupDir,
      Some(indexDir), annDir)
    val (docFiles, seenFiles) =
      if (cur < 0) (0L, 0L)
      else (StoreManifest.read(spark, dedupDir, cur, "doc").length.toLong,
        DedupStore.seenFileCount(spark, dedupDir))
    val segments = InvertedIndex.segments(spark, indexDir).length.toLong
    val annManifests = annDir.fold(0)(ad => StoreManifest.versions(spark, ad).length)
    writeAtomic(fs, md, s"t$batchId.json",
      s"""{"batch_id":$batchId,"batch_rows":${stats.batchRows},""" +
        s""""accepted":${stats.accepted},""" +
        s""""dropped_exact":${stats.droppedExact},""" +
        s""""dropped_lexical":${stats.droppedLexical},""" +
        s""""dropped_semantic":${stats.droppedSemantic},""" +
        s""""dedup_version":$cur,"ingest_high_water":$ingestHw,""" +
        s""""dv_high_water":$dvHw,"ann_high_water":$annHw,""" +
        s""""lagging":${lagging.getOrElse(-1L)},""" +
        s""""manifests":${StoreManifest.versions(spark, dedupDir).length},""" +
        s""""doc_files":$docFiles,"seen_files":$seenFiles,""" +
        s""""index_segments":$segments,"ann_manifests":$annManifests}""")
  }

  /** Σ of the version-keyed acceptance records — the exactly-once
    * cumulative count (see object scaladoc). Survives replay, crash,
    * AND vacuum (manifest expiry does not touch these files).
    */
  def acceptedTotal(spark: SparkSession, metricsDir: String): Long = {
    val md = new Path(metricsDir)
    val fs = md.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val Acc = """.*"accepted":(\d+).*""".r
    if (!fs.exists(md)) 0L
    else fs.listStatus(md).map(_.getPath)
      .filter(p => p.getName.startsWith("v") && p.getName.endsWith(".json"))
      .map { p =>
        val in = fs.open(p)
        val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        s.trim match { case Acc(n) => n.toLong; case _ => 0L }
      }.sum
  }

  /** The latest trigger snapshot for `batchId` as raw JSON (None if the
    * trigger never recorded).
    */
  def readTrigger(spark: SparkSession, metricsDir: String,
                  batchId: Long): Option[String] = {
    val p = new Path(metricsDir, s"t$batchId.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
  }

  private def writeAtomic(fs: org.apache.hadoop.fs.FileSystem, dir: Path,
                          name: String, content: String): Unit = {
    val tmp = new Path(dir, s".$name-${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    fs.delete(new Path(dir, name), false)
    require(fs.rename(tmp, new Path(dir, name)),
      s"metrics commit $tmp -> $dir/$name failed")
  }
}
