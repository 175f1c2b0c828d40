package graft

import graft.operators.{DedupStore, InvertedIndex}
import graft.streaming.IngestPipeline
import org.apache.spark.sql.functions._

/** The ingest topology (stream → DedupStore → InvertedIndex):
  * duplicates never reach the index, the catch-up derivation heals the
  * cross-store crash window, and maintenance versions never re-index.
  * (Erasure across the composed stores is EraseSink's job — covered in
  * ErasureSpec with dedupDir + indexDir both maintained.)
  */
class IngestPipelineSpec extends SparkSpec {

  import spark.implicits._

  private def mkDocs(rows: (Long, String)*) =
    rows.toSeq.toDF("doc_id", "text")

  private def indexedDocIds(dir: String): Set[Long] =
    InvertedIndex.docLengths(spark, dir)
      .select("doc_id").as[Long].collect().toSet

  test("stream → dedup → index: duplicates never reach the index; search ≡ fresh build over accepted docs") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = java.nio.file.Files.createTempDirectory("graft_ipipe")
    val dedupDir = s"$base/dedup"; val idxDir = s"$base/idx"
    try {
      val in = MemoryStream[(Long, String)]
      val q = IngestPipeline.start(in.toDF().toDF("doc_id", "text"),
        dedupDir, idxDir, s"$base/ckpt", buckets = 8)
      try {
        in.addData((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
          (3L, "delta epsilon zeta"))
        q.processAllAvailable()
        in.addData((11L, "alpha beta gamma"), (12L, "eta theta iota"))
        q.processAllAvailable()
      } finally q.stop()
      assert(indexedDocIds(idxDir) == Set(1L, 3L, 12L),
        "the index must hold exactly the accepted docs")
      // ranked retrieval over the pipeline's segmented index must equal
      // a fresh single-shot index of the accepted corpus
      val freshDir = s"$base/fresh"
      InvertedIndex.write(InvertedIndex.build(
        DedupStore.readDocs(spark, dedupDir).select("doc_id", "text")), freshDir)
      val terms = Seq("alpha", "epsilon", "iota")
      def search(d: String) = InvertedIndex.searchBm25(spark, d, terms)
        .orderBy("doc_id").collect().toSeq
      assert(search(idxDir) == search(freshDir),
        "pipeline index diverged from the fresh build over accepted docs")
    } finally Fs.rmTree(base.toString)
  }

  test("catch-up heals the crash window between dedup commit and index append") {
    val base = java.nio.file.Files.createTempDirectory("graft_ipipe_cw")
    val dedupDir = s"$base/dedup"; val idxDir = s"$base/idx"
    try {
      // trigger 1 completed both halves
      DedupStore.appendBatch(spark, mkDocs((1L, "alpha beta")), dedupDir, buckets = 4)
      assert(IngestPipeline.indexCatchUp(spark, dedupDir, idxDir) == 1L)
      // trigger 2 "crashed" after the dedup commit, before the index
      // append — the replayed trigger's appendBatch is a no-op...
      DedupStore.appendBatch(spark, mkDocs((2L, "gamma delta")), dedupDir)
      assert(DedupStore.appendBatch(spark, mkDocs((2L, "gamma delta")), dedupDir) == 0L)
      // ...and catch-up still indexes the committed-but-unindexed version
      assert(IngestPipeline.indexCatchUp(spark, dedupDir, idxDir) == 1L)
      assert(indexedDocIds(idxDir) == Set(1L, 2L))
      // a second catch-up is a clean no-op
      assert(IngestPipeline.indexCatchUp(spark, dedupDir, idxDir) == 0L)
    } finally Fs.rmTree(base.toString)
  }

  test("maintenance versions never re-index: delete and compactSeen add no segments") {
    val base = java.nio.file.Files.createTempDirectory("graft_ipipe_mv")
    val dedupDir = s"$base/dedup"; val idxDir = s"$base/idx"
    try {
      DedupStore.appendBatch(spark,
        mkDocs((1L, "alpha beta"), (2L, "gamma delta")), dedupDir, buckets = 4)
      assert(IngestPipeline.indexCatchUp(spark, dedupDir, idxDir) == 1L)
      val segs = InvertedIndex.segments(spark, idxDir)
      // delete rewrites survivor doc files under a NEW version prefix —
      // the ingest tag (absent) is what keeps them out of the index
      DedupStore.delete(spark, dedupDir, Seq(1L))
      DedupStore.compactSeen(spark, dedupDir)
      assert(IngestPipeline.indexCatchUp(spark, dedupDir, idxDir) == 0L)
      assert(InvertedIndex.segments(spark, idxDir) == segs,
        "maintenance rewrites must not become index segments")
    } finally Fs.rmTree(base.toString)
  }

  test("erasure inside the crash window cannot resurrect into the index (ADVICE r12)") {
    val base = java.nio.file.Files.createTempDirectory("graft_ipipe_rez")
    val dedupDir = s"$base/dedup"; val idxDir = s"$base/idx"
    try {
      DedupStore.appendBatch(spark,
        mkDocs((1L, "alpha beta"), (2L, "gamma delta")), dedupDir, buckets = 4)
      assert(IngestPipeline.indexCatchUp(spark, dedupDir, idxDir) == 1L)
      // trigger 2 "crashed" after the dedup commit, before catch-up...
      DedupStore.appendBatch(spark,
        mkDocs((3L, "epsilon zeta"), (4L, "eta theta")), dedupDir)
      // ...and an erasure ticket for one of its docs lands meanwhile
      // (DedupStore commits; InvertedIndex.delete would refuse — the id
      // was never indexed)
      assert(DedupStore.delete(spark, dedupDir, Seq(3L)) == 1L)
      // the replayed catch-up must index the version's SURVIVORS only
      assert(IngestPipeline.indexCatchUp(spark, dedupDir, idxDir) == 1L)
      assert(indexedDocIds(idxDir) == Set(1L, 2L, 4L),
        "erased doc resurrected into the index through the lagging version")
      assert(IngestPipeline.indexCatchUp(spark, dedupDir, idxDir) == 0L)
    } finally Fs.rmTree(base.toString)
  }

  test("an all-erased lagging version still commits its (empty) segment and stops lagging") {
    val base = java.nio.file.Files.createTempDirectory("graft_ipipe_empty")
    val dedupDir = s"$base/dedup"; val idxDir = s"$base/idx"
    try {
      DedupStore.appendBatch(spark, mkDocs((1L, "alpha beta")), dedupDir, buckets = 4)
      assert(IngestPipeline.indexCatchUp(spark, dedupDir, idxDir) == 1L)
      DedupStore.appendBatch(spark, mkDocs((3L, "epsilon zeta")), dedupDir)
      assert(DedupStore.delete(spark, dedupDir, Seq(3L)) == 1L)
      assert(IngestPipeline.oldestLagging(spark, dedupDir, idxDir).contains(1L))
      assert(IngestPipeline.indexCatchUp(spark, dedupDir, idxDir) == 1L)
      assert(indexedDocIds(idxDir) == Set(1L))
      // the version's `hw` mark ended the lag — nothing pins vacuum anymore
      assert(IngestPipeline.oldestLagging(spark, dedupDir, idxDir).isEmpty)
      assert(IngestPipeline.indexCatchUp(spark, dedupDir, idxDir) == 0L)
      // and ranked search over the healed index still works
      assert(InvertedIndex.searchBm25(spark, idxDir, Seq("alpha")).count() == 1L)
      // a fresh index whose first version is all erased: its store names
      // no segment, and every read answers "no documents"
      val dedup2 = s"$base/dedup2"; val idx2 = s"$base/idx2"
      DedupStore.appendBatch(spark, mkDocs((5L, "eta theta")), dedup2, buckets = 4)
      assert(DedupStore.delete(spark, dedup2, Seq(5L)) == 1L)
      assert(IngestPipeline.indexCatchUp(spark, dedup2, idx2) == 1L)
      assert(IngestPipeline.oldestLagging(spark, dedup2, idx2).isEmpty)
      assert(InvertedIndex.segments(spark, idx2).isEmpty)
      assert(InvertedIndex.docLengths(spark, idx2).count() == 0L)
      assert(InvertedIndex.searchBm25TopK(spark, idx2, Seq("eta"), 3).count() == 0L)
      assert(InvertedIndex.maxScorePlan(spark, idx2, Seq("eta"), 3) == (Seq("eta"), None))
      assert(InvertedIndex.corpusStats(spark, idx2).head().getLong(0) == 0L)
    } finally Fs.rmTree(base.toString)
  }

  test("same id+content re-accepted after a crash-window erasure indexes exactly once") {
    val base = java.nio.file.Files.createTempDirectory("graft_ipipe_re")
    val dedupDir = s"$base/dedup"; val idxDir = s"$base/idx"
    try {
      DedupStore.appendBatch(spark, mkDocs((1L, "alpha beta")), dedupDir, buckets = 4)
      assert(IngestPipeline.indexCatchUp(spark, dedupDir, idxDir) == 1L)
      // lagging version accepts doc 3; erased; the SAME (id, content)
      // re-ingests (dedup delete forgets the fingerprint — re-entry is
      // the documented semantics) — all before catch-up runs
      DedupStore.appendBatch(spark, mkDocs((3L, "epsilon zeta")), dedupDir)
      assert(DedupStore.delete(spark, dedupDir, Seq(3L)) == 1L)
      assert(DedupStore.appendBatch(spark, mkDocs((3L, "epsilon zeta")), dedupDir) == 1L)
      assert(IngestPipeline.indexCatchUp(spark, dedupDir, idxDir) == 2L)
      assert(indexedDocIds(idxDir) == Set(1L, 3L))
      // postings must not double: doc 3 appears once in the length table
      // and its term frequency is 1
      assert(InvertedIndex.docLengths(spark, idxDir)
        .filter(col("doc_id") === 3L).count() == 1L,
        "re-accepted doc indexed by both its own and the lagging version")
      val hits = InvertedIndex.searchBm25(spark, idxDir, Seq("epsilon"))
        .select("doc_id", "n_terms").collect()
      assert(hits.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((3L, 1L)))
    } finally Fs.rmTree(base.toString)
  }

  test("vacuumSafe never expires a lagging ingest version, however many maintenance commits follow (ADVICE r12)") {
    val base = java.nio.file.Files.createTempDirectory("graft_ipipe_vac")
    val dedupDir = s"$base/dedup"; val idxDir = s"$base/idx"
    try {
      DedupStore.appendBatch(spark,
        mkDocs((1L, "alpha beta"), (2L, "gamma delta")), dedupDir, buckets = 4)
      assert(IngestPipeline.indexCatchUp(spark, dedupDir, idxDir) == 1L)
      // version 1 ingests and the pipeline "crashes" before catch-up
      DedupStore.appendBatch(spark, mkDocs((3L, "epsilon zeta")), dedupDir)
      // maintenance keeps committing versions while it is down: 3
      // commits push v1 past any retain=2 window
      DedupStore.compactSeen(spark, dedupDir)
      DedupStore.delete(spark, dedupDir, Seq(2L))
      DedupStore.compactSeen(spark, dedupDir)
      IngestPipeline.vacuumSafe(spark, dedupDir, idxDir, retain = 2)
      // the lagging version's manifest AND doc files must have survived:
      // the recovered pipeline still indexes it (doc 2 stays indexed —
      // it was committed by ingest version 0 and index-side erasure is EraseSink's
      // InvertedIndex.delete, not the dedup delete's job)
      assert(IngestPipeline.indexCatchUp(spark, dedupDir, idxDir) == 1L)
      assert(indexedDocIds(idxDir) == Set(1L, 2L, 3L))
      // caught up now — the next vacuum is free to expire normally
      assert(IngestPipeline.oldestLagging(spark, dedupDir, idxDir).isEmpty)
      IngestPipeline.vacuumSafe(spark, dedupDir, idxDir, retain = 2)
      assert(operators.StoreManifest.versions(spark, dedupDir).length == 2)
    } finally Fs.rmTree(base.toString)
  }

  test("near mode through the pipeline: a perturbed re-crawl never reaches the index") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = java.nio.file.Files.createTempDirectory("graft_ipipe_near")
    val dedupDir = s"$base/dedup"; val idxDir = s"$base/idx"
    def para(salt: Int): String =
      (0 until 24).map(i => s"w${salt}x$i").mkString(" ")
    try {
      val in = MemoryStream[(Long, String)]
      val q = IngestPipeline.start(in.toDF().toDF("doc_id", "text"),
        dedupDir, idxDir, s"$base/ckpt", buckets = 8,
        near = Some(DedupStore.NearConfig()))
      try {
        in.addData((1L, para(1)), (2L, para(2)))
        q.processAllAvailable()
        // one changed token per doc — exact md5 would accept both
        in.addData((11L, para(1) + " edit"), (12L, "v2 " + para(2)),
          (13L, para(13)))
        q.processAllAvailable()
      } finally q.stop()
      assert(indexedDocIds(idxDir) == Set(1L, 2L, 13L),
        "near-dup re-crawl leaked into the index")
    } finally Fs.rmTree(base.toString)
  }

  test("vacuumRetain bounds dedup manifest growth under the stream; nothing lost") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = java.nio.file.Files.createTempDirectory("graft_ipipe_av")
    val dedupDir = s"$base/dedup"; val idxDir = s"$base/idx"
    try {
      val in = MemoryStream[(Long, String)]
      val q = IngestPipeline.start(in.toDF().toDF("doc_id", "text"),
        dedupDir, idxDir, s"$base/ckpt", buckets = 4, vacuumRetain = 1)
      try {
        for (t <- 0 until 4) {
          in.addData((t * 2).toLong -> s"alpha t$t", (t * 2 + 1).toLong -> s"beta t$t")
          q.processAllAvailable()
        }
      } finally q.stop()
      // per-trigger vacuum with retain=1 after a clean catch-up: one
      // retained manifest, not one per trigger
      assert(operators.StoreManifest.versions(spark, dedupDir).length == 1,
        "auto-vacuum must expire per-trigger manifests")
      assert(indexedDocIds(idxDir) == (0L until 8L).toSet,
        "auto-vacuum must not cost a single document")
    } finally Fs.rmTree(base.toString)
  }

  test("full composition: three gates + three stores + auto-vacuum + mid-stream erasure, one stream") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = java.nio.file.Files.createTempDirectory("graft_ipipe_full")
    val dedupDir = s"$base/dedup"; val idxDir = s"$base/idx"
    val annDir = s"$base/ann"
    def para(salt: Int): String =
      (0 until 24).map(i => s"w${salt}x$i").mkString(" ")
    def v8(axis: Int, jitter: Float = 0f): Seq[Float] =
      (0 until 8).map(i => (if (i == axis) 1f else 0f) +
        (if (i == (axis + 1) % 8) jitter else 0f))
    try {
      val in = MemoryStream[(Long, String, Seq[Float])]
      val q = IngestPipeline.start(in.toDF().toDF("doc_id", "text", "embedding"),
        dedupDir, idxDir, s"$base/ckpt", buckets = 8,
        near = Some(DedupStore.NearConfig()),
        emb = Some(DedupStore.EmbConfig(dim = 8)),
        annDir = Some(annDir), annNlist = 2, vacuumRetain = 2)
      try {
        in.addData((1L, para(1), v8(0)), (2L, para(2), v8(3)))
        q.processAllAvailable()
        // 11 exact dup; 12 lexical near-dup (fresh vector); 13 semantic
        // re-encode (fresh text, jittered vector); 14 fresh on all axes
        in.addData((11L, para(1), v8(5)), (12L, para(2) + " tail", v8(6)),
          (13L, para(13), v8(0, 0.1f)), (14L, para(14), v8(4)))
        q.processAllAvailable()
      } finally q.stop()
      val accepted = DedupStore.readDocs(spark, dedupDir)
        .select("doc_id").as[Long].collect().toSet
      assert(accepted == Set(1L, 2L, 14L), s"gate composition wrong: $accepted")
      assert(indexedDocIds(idxDir) == Set(1L, 2L, 14L))
      assert(annVecIds(annDir) == Set(1L, 2L, 14L))
      // erase doc 1 everywhere via the per-store deletes (EraseSink's
      // recipe); the semantic re-encode then re-enters and flows to ALL
      // derived stores through the next trigger's catch-ups
      operators.InvertedIndex.delete(spark, idxDir, Seq(1L))
      operators.AnnIndexStore.delete(spark, annDir, Seq(1L))
      DedupStore.delete(spark, dedupDir, Seq(1L))
      val in2 = in // same stream, next trigger
      val q2 = IngestPipeline.start(in2.toDF().toDF("doc_id", "text", "embedding"),
        dedupDir, idxDir, s"$base/ckpt", buckets = 8,
        annDir = Some(annDir), annNlist = 2, vacuumRetain = 2)
      try {
        in2.addData((23L, para(23), v8(0, 0.1f)))
        q2.processAllAvailable()
      } finally q2.stop()
      assert(DedupStore.readDocs(spark, dedupDir)
        .select("doc_id").as[Long].collect().toSet == Set(2L, 14L, 23L))
      assert(indexedDocIds(idxDir) == Set(2L, 14L, 23L),
        "post-erasure re-entry must reach the index; erased doc must not")
      // the ANN store tombstones at delete (unreturnable now) and drops
      // bytes at purge — assert both halves of that contract
      val searchable = operators.AnnIndexStore.readLists(spark, annDir)
        .join(operators.AnnIndexStore.loadTombstones(spark, annDir)
          .select(col("vec_id")), Seq("vec_id"), "left_anti")
        .select("vec_id").as[Long].collect().toSet
      assert(searchable == Set(2L, 14L, 23L),
        s"erased vector still searchable: $searchable")
      assert(operators.AnnIndexStore.purgeDeletes(spark, annDir) == 1L)
      assert(annVecIds(annDir) == Set(2L, 14L, 23L),
        "purge must drop the erased vector's bytes")
      // auto-vacuum kept the manifest count bounded through all of it
      assert(operators.StoreManifest.versions(spark, dedupDir).length <= 2)
    } finally Fs.rmTree(base.toString)
  }

  // ---- ANN arm (r13): one stream builds dedup + index + ANN ----

  private def vec(seed: Long): Seq[Float] =
    (0 until 8).map(i => (((seed * 31 + i * 7) % 13) - 6).toFloat / 6f)

  private def mkEmb(rows: (Long, String)*) =
    rows.toSeq.map { case (id, t) => (id, t, vec(id)) }
      .toDF("doc_id", "text", "embedding")

  private def annVecIds(dir: String): Set[Long] =
    operators.AnnIndexStore.readLists(spark, dir).select("vec_id").as[Long].collect().toSet

  test("ANN arm: one stream builds all three stores; dups reach none; hybrid retrieval runs over them") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = java.nio.file.Files.createTempDirectory("graft_ipipe_ann")
    val dedupDir = s"$base/dedup"; val idxDir = s"$base/idx"
    val annDir = s"$base/ann"
    try {
      val in = MemoryStream[(Long, String, Seq[Float])]
      val q = IngestPipeline.start(
        in.toDF().toDF("doc_id", "text", "embedding"),
        dedupDir, idxDir, s"$base/ckpt", buckets = 8,
        annDir = Some(annDir), annNlist = 2)
      try {
        in.addData((1L, "alpha beta gamma", vec(1)),
          (2L, "alpha beta gamma", vec(2)), (3L, "delta epsilon zeta", vec(3)))
        q.processAllAvailable()
        in.addData((11L, "alpha beta gamma", vec(11)),
          (12L, "eta theta iota", vec(12)))
        q.processAllAvailable()
      } finally q.stop()
      // the accepted set, in every store: dedup docs, index, ANN lists
      assert(indexedDocIds(idxDir) == Set(1L, 3L, 12L))
      assert(annVecIds(annDir) == Set(1L, 3L, 12L),
        "ANN store must hold exactly the accepted docs' vectors")
      // hybrid retrieval over the pipeline-built stores: MaxScore BM25
      // top-k over the index + probed-cell ANN search, RRF-fused
      val kw = InvertedIndex.searchBm25TopK(spark, idxDir, Seq("alpha"), k = 5)
        .select(col("doc_id"), col("bm25"))
      val vecTop = operators.AnnIndexStore.searchTopK(spark, annDir,
          mkEmb(1L -> "probe").select(col("doc_id").as("vec_id"), col("embedding")),
          k = 2, nprobe = 2)
        .select(col("neighbor_id").as("doc_id"), col("rn"))
      val rrf = kw.join(vecTop, Seq("doc_id"), "full_outer")
      assert(rrf.count() >= 2, "hybrid fusion must see both arms' candidates")
      assert(kw.select("doc_id").as[Long].collect().toSet.subsetOf(Set(1L, 3L, 12L)))
      assert(vecTop.select("doc_id").as[Long].collect().toSet.subsetOf(Set(3L, 12L)),
        "ANN neighbors of probe 1 exclude the probe and erased/dup ids")
    } finally Fs.rmTree(base.toString)
  }

  test("metrics sidecar: counters reconcile with the stores across crash/replay; cumulative never double-counts (VERDICT r13 #4)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.IngestMetrics
    val base = java.nio.file.Files.createTempDirectory("graft_ipipe_mx")
    val dedupDir = s"$base/dedup"; val idxDir = s"$base/idx"
    val annDir = s"$base/ann"; val mDir = s"$base/metrics"
    try {
      // trigger 0's dedup commit happened, then the pipeline "crashed"
      // BEFORE catch-ups and before any metrics write — the replayed
      // trigger will re-deliver the same rows
      val b0 = mkEmb(1L -> "alpha beta", 2L -> "gamma delta", 2L -> "gamma delta")
      assert(DedupStore.appendBatch(spark, b0, dedupDir, buckets = 4) == 2L)
      val in = MemoryStream[(Long, String, Seq[Float])]
      val q = IngestPipeline.start(in.toDF().toDF("doc_id", "text", "embedding"),
        dedupDir, idxDir, s"$base/ckpt", buckets = 4,
        annDir = Some(annDir), annNlist = 2, metricsDir = Some(mDir))
      try {
        // the replay: same rows, every one drops at the exact gate —
        // but the version-keyed record heals from the COMMITTED tag
        in.addData((1L, "alpha beta", vec(1)), (2L, "gamma delta", vec(2)),
          (2L, "gamma delta", vec(2)))
        q.processAllAvailable()
        val t0 = IngestMetrics.readTrigger(spark, mDir, 0L).get
        assert(t0.contains("\"accepted\":0") &&
          t0.contains("\"dropped_exact\":3"),
          s"replayed trigger must report ITS truth (all dropped): $t0")
        assert(IngestMetrics.acceptedTotal(spark, mDir) == 2L,
          "cumulative must come from the committed ingest tag, not the attempt")
        // a fresh trigger with a per-gate drop: 12 is an exact dup of 11
        // within the batch, 13 is fresh
        in.addData((11L, "epsilon zeta", vec(11)), (12L, "epsilon zeta", vec(12)),
          (13L, "eta theta", vec(13)))
        q.processAllAvailable()
      } finally q.stop()
      val t1 = IngestMetrics.readTrigger(spark, mDir, 1L).get
      assert(t1.contains("\"batch_rows\":3") && t1.contains("\"accepted\":2") &&
        t1.contains("\"dropped_exact\":1"), s"gate waterfall wrong: $t1")
      // reconciliation: Σ version-keyed records == docs in the store
      val docsNow = DedupStore.readDocs(spark, dedupDir).count()
      assert(IngestMetrics.acceptedTotal(spark, mDir) == docsNow,
        "cumulative acceptance must reconcile with the store")
      // lag fields reflect the healed state: all high-waters level, no
      // lagging version
      assert(t1.contains("\"lagging\":-1"), s"no version may lag after the trigger: $t1")
      assert(t1.contains("\"ingest_high_water\":1") &&
        t1.contains("\"dv_high_water\":1") && t1.contains("\"ann_high_water\":1"),
        s"high-waters must be level after catch-up: $t1")
      // the ANN store's retained manifests: train, then one append per
      // ingest version
      assert(t1.contains("\"ann_manifests\":3"), s"ANN manifest count wrong: $t1")
      // re-recording the same trigger (a metrics-write replay) moves
      // nothing: version files are write-once
      IngestMetrics.record(spark, mDir, 1L,
        DedupStore.AppendStats(0L, 0L, 0L, 0L, -1L), dedupDir, idxDir, Some(annDir))
      assert(IngestMetrics.acceptedTotal(spark, mDir) == docsNow,
        "version-keyed records must be write-once under metrics replay")
      // and vacuum cannot erode the cumulative: expire all but the
      // newest manifest, the v-files persist
      IngestPipeline.vacuumSafe(spark, dedupDir, idxDir, retain = 1, Some(annDir))
      assert(IngestMetrics.acceptedTotal(spark, mDir) == docsNow,
        "cumulative acceptance must survive manifest expiry")
    } finally Fs.rmTree(base.toString)
  }

  test("ANN arm armed on a store with pre-ANN history: embedding-less versions adopt as bare markers (ADVICE r13)") {
    val base = java.nio.file.Files.createTempDirectory("graft_ipipe_leg")
    val dedupDir = s"$base/dedup"; val annDir = s"$base/ann"
    try {
      // two versions ingested BEFORE the ANN arm existed — their pinned
      // schemas have no `embedding` column at all
      DedupStore.appendBatch(spark, mkDocs((1L, "alpha beta")), dedupDir, buckets = 4)
      DedupStore.appendBatch(spark, mkDocs((2L, "gamma delta")), dedupDir)
      // arming the arm must NOT crash-loop on the legacy versions: they
      // are vector-less by definition and only raise the store's hw
      assert(IngestPipeline.annCatchUp(spark, dedupDir, annDir, nlist = 2) == 2L)
      assert(!operators.AnnIndexStore.trained(spark, annDir),
        "nothing to train on yet")
      assert(IngestPipeline.oldestLagging(spark, dedupDir, None, Some(annDir)).isEmpty)
      // the first embedding-bearing version trains and appends as usual
      DedupStore.appendBatch(spark, mkEmb(3L -> "epsilon zeta"), dedupDir)
      assert(IngestPipeline.annCatchUp(spark, dedupDir, annDir, nlist = 2) == 1L)
      assert(annVecIds(annDir) == Set(3L))
      assert(IngestPipeline.annCatchUp(spark, dedupDir, annDir) == 0L)
    } finally Fs.rmTree(base.toString)
  }

  test("ANN arm: catch-up heals a crashed trigger; replay appends nothing; erased docs never enter") {
    val base = java.nio.file.Files.createTempDirectory("graft_ipipe_annc")
    val dedupDir = s"$base/dedup"; val idxDir = s"$base/idx"
    val annDir = s"$base/ann"
    try {
      DedupStore.appendBatch(spark, mkEmb(1L -> "alpha beta", 2L -> "gamma delta"),
        dedupDir, buckets = 4)
      assert(IngestPipeline.annCatchUp(spark, dedupDir, annDir, nlist = 2) == 1L)
      assert(annVecIds(annDir) == Set(1L, 2L))
      // trigger 2 "crashed" after the dedup commit; an erase of one of
      // its docs lands before recovery — the catch-up must skip it
      DedupStore.appendBatch(spark, mkEmb(3L -> "epsilon zeta", 4L -> "eta theta"),
        dedupDir)
      assert(DedupStore.delete(spark, dedupDir, Seq(3L)) == 1L)
      assert(IngestPipeline.oldestLagging(spark, dedupDir, idxDir,
        Some(annDir)).contains(0L)) // index never caught up here at all
      // the first recovery attempt dies after staging its append, before
      // the commit; the next one heals
      crashBeforeCommit(annDir)(d => IngestPipeline.annCatchUp(spark, dedupDir, d))
      assert(annVecIds(annDir) == Set(1L, 2L))
      assert(IngestPipeline.annCatchUp(spark, dedupDir, annDir) == 1L)
      assert(annVecIds(annDir) == Set(1L, 2L, 4L),
        "erased doc resurrected into the ANN store through the lagging version")
      assert(operators.AnnIndexStore.readLists(spark, annDir).count() == 3L,
        "the store must hold each vec_id exactly once after the replay")
      // replay: no versions lag, nothing commits
      assert(IngestPipeline.annCatchUp(spark, dedupDir, annDir) == 0L)
      // index still lags both versions — the ann arm being current must
      // not unpin vacuum for the index's sake
      assert(IngestPipeline.oldestLagging(spark, dedupDir, idxDir,
        Some(annDir)).contains(0L))
      assert(IngestPipeline.indexCatchUp(spark, dedupDir, idxDir) == 2L)
      assert(IngestPipeline.oldestLagging(spark, dedupDir, idxDir,
        Some(annDir)).isEmpty)
    } finally Fs.rmTree(base.toString)
  }
}
