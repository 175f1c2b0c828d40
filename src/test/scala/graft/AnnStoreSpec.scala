package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Index persistence: search over a reloaded index must equal the fresh
  * in-memory build bit-for-bit, appended vectors must be findable
  * without retraining, codebooks must round-trip, and the probed-cell
  * pruning must reach the lists scan as PARTITION filters.
  */
class AnnStoreSpec extends SparkSpec {

  private lazy val emb = Tables.t(spark, sfDir, "embeddings")

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq

  test("s_hybrid_store_rrf: kw arm == exhaustive BM25 re-rank; ANN side overlaps the exact cosine top-20") {
    def triples(name: String) =
      graft.SparkEntry.queries(name)(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val exact = triples("q_hybrid_rrf")
    val stored = triples("s_hybrid_store_rrf")
    // the keyword arm rides searchBm25TopK (MaxScore pruning, r12) —
    // its ranks must equal the EXHAUSTIVE BM25 ordering over the same
    // index with the probe doc dropped, computed here independently of
    // the pruned path (MaxScore ≡ exhaustive is separately hash-graded
    // by s_text_bm25_topk; this pins the hybrid's k+1-then-drop-probe
    // composition on top of it)
    val docs = Tables.t(spark, sfDir, "documents")
    val (idx, _) = graft.queries.Fixtures.store("invidx", sfDir) { fx =>
      InvertedIndex.write(InvertedIndex.build(docs), fx)
      Map.empty
    }
    val qt = docs.filter(col("doc_id") === 0)
      .select(slice(split(col("text"), " "), 1, 5).as("t"))
      .head().getSeq[String](0).distinct
    val exKw = InvertedIndex.searchBm25(spark, idx, qt)
      .filter(col("doc_id") =!= 0)
      .orderBy(col("bm25").desc, col("doc_id")).limit(20)
      .collect().zipWithIndex
      .map { case (r, i) => r.getLong(r.fieldIndex("doc_id")) -> (i + 1L) }.toMap
    val stKw = stored.filter(_._2 > 0).map(t => t._1 -> t._2).toMap
    assert(stKw == exKw,
      s"pruned keyword ranks diverge from the exhaustive BM25 re-rank: $stKw vs $exKw")
    // the ANN side is approximate by design — recall floor vs the
    // exact cosine top-20 (64/24 coarse scan, exact vectors in lists)
    val exVec = exact.filter(_._3 > 0).map(_._1).toSet
    val stVec = stored.filter(_._3 > 0).map(_._1).toSet
    assert(exVec.size == 20 && stVec.nonEmpty)
    val overlap = (exVec & stVec).size
    assert(overlap >= 12, s"ANN top-20 overlap with exact cosine too low: $overlap/20")
  }

  test("autoConfig store (nlist=0): routed ASSIGNMENT past the threshold; recall floor holds") {
    // r16 (VERDICT r15 #5): a 700-vector synthetic corpus puts
    // autoConfig past RoutedAssignThreshold (10·√700 ≈ 265 ≥ 256), so
    // save/append ASSIGN through the two-level router (AnnIvf.assign).
    // Probe-side cell ranking stays exhaustive — the routed variant is
    // a measured negative (see AnnPq's r16 note: recall 0.66 vs 0.98).
    // The contract is the recall floor vs brute-force cosine — never
    // flat-vs-routed internal agreement (the r15 near-tie doctrine).
    import spark.implicits._
    val dim = 16
    def vec(i: Long): Array[Float] =
      Array.tabulate(dim)(d => math.sin(i * 31.0 + d * 7.0).toFloat)
    val n = 700
    val synth = (0L until n).map(i => (i, vec(i))).toDF("vec_id", "embedding")
      .localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_auto").toString
    try {
      AnnIndexStore.save(spark, synth, dir, nlist = 0)
      val nlist = AnnIndexStore.centroidCount(spark, dir).toInt
      assert(nlist >= AnnPq.RoutedAssignThreshold,
        s"autoConfig picked $nlist cells — the routed path is not engaged")
      // brute-force cosine top-5 per probe (self excluded)
      val all = synth.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var d = 0
        while (d < dim) { dot += a(d) * b(d); na += a(d) * a(d); nb += b(d) * b(d); d += 1 }
        dot / math.sqrt(na * nb)
      }
      val exact = all.filter(_._1 < 10).map { case (p, pv) =>
        p -> all.filter(_._1 != p)
          .map { case (q, qv) => (q, cos(pv, qv)) }
          .sortBy { case (q, s) => (-s, q) }.take(5).map(_._1).toSet
      }.toMap
      val got = AnnIndexStore
        .searchTopK(spark, dir, synth.filter(col("vec_id") < 10), nprobe = 0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      val recalls = exact.map { case (p, ex) =>
        got.get(p).map(g => g.intersect(ex).size.toDouble / ex.size).getOrElse(0.0)
      }
      val recall = recalls.sum / recalls.size
      assert(recall >= 0.9, s"routed autoConfig store recall@5 $recall < 0.9")
    } finally graft.Fs.rmTree(dir)
  }

  test("search after save+reload equals the fresh in-memory build") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ann").toString
    try {
      AnnIndexStore.save(spark, emb, dir)
      val fresh = rows(AnnIvf.approxTopK(spark, emb))
      val stored = rows(AnnIndexStore.searchTopK(spark, dir,
        emb.filter(col("vec_id") < 10)))
      assert(stored == fresh, s"stored $stored\nfresh $fresh")
    } finally graft.Fs.rmTree(dir)
  }

  test("append assigns against persisted centroids; appended vectors are found") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_app").toString
    try {
      AnnIndexStore.save(spark, emb, dir)
      // exact copies of the probes under new ids: cosine 1.0 to their
      // originals, same cell by the same argmin — must surface at rank 1
      val copies = emb.filter(col("vec_id") < 10)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      AnnIndexStore.append(spark, copies, dir)
      val got = AnnIndexStore.searchTopK(spark, dir, emb.filter(col("vec_id") < 10))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      (0L until 10L).foreach { pid =>
        val top = got.filter(_._1 == pid).minBy(_._4)
        assert(top._2 == pid + 1000000L && top._3 == 1.0,
          s"probe $pid: expected its appended twin at rank 1, got $top")
      }
    } finally graft.Fs.rmTree(dir)
  }

  private def ids(dir: String): Set[Long] = {
    import spark.implicits._
    AnnIndexStore.readLists(spark, dir).select("vec_id").as[Long].collect().toSet
  }

  test("rebuild: retrains from live content, drops tombstoned ids for good, retires tombstones; crash re-runs converge") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_rb").toString
    val twin = java.nio.file.Files.createTempDirectory("graft_ann_rb_twin").toString
    try {
      AnnIndexStore.save(spark, emb, dir, nlist = 4)
      AnnIndexStore.append(spark,
        emb.filter(col("vec_id") < 3)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")), dir)
      assert(AnnIndexStore.delete(spark, dir, Seq(11L, 12L)) == 2L)
      val n = AnnIndexStore.rebuild(spark, dir, nlist = 8)
      val lists = AnnIndexStore.readLists(spark, dir)
      assert(n == lists.count(), "returned count must match the rebuilt lists")
      val live = lists.select("vec_id").as[Long].collect().toSet
      assert(!live.contains(11L) && !live.contains(12L),
        "tombstoned ids must not survive a rebuild")
      assert(live.contains(1000001L), "appended vectors must survive a rebuild")
      assert(!AnnIndexStore.hasTombstones(spark, dir),
        "rebuild purges, so tombstones retire with it")
      // the rebuilt geometry serves: every probe still finds its exact
      // appended twin at rank 1 (cosine 1.0 survives any quantizer)
      def search(d: String) = rows(AnnIndexStore.searchTopK(spark, d,
        emb.filter(col("vec_id") < 3), k = 3, nprobe = 8))
      val got = search(dir)
      (0L until 3L).foreach { pid =>
        val top = got.filter(_._1 == pid).minBy(_._4)
        assert(top._2 == pid + 1000000L && top._3 == 1.0, s"probe $pid: $top")
      }
      // crash window: a rebuild that dies after staging its geometry and
      // lists, before its commit — the old version keeps answering, and
      // the re-run converges to the crash-free rebuild (on a twin)
      AnnIndexStore.delete(spark, dir, Seq(13L))
      val before = ids(dir) - 13L
      val served = search(dir)
      graft.Fs.cpTree(dir, twin)
      AnnIndexStore.rebuild(spark, twin, nlist = 8)
      crashBeforeCommit(dir)(d => AnnIndexStore.rebuild(spark, d, nlist = 8))
      assert(search(dir) == served && AnnIndexStore.tombstoneCount(spark, dir) == 1L,
        "an uncommitted rebuild must not change what the store answers")
      AnnIndexStore.rebuild(spark, dir, nlist = 8)
      val after = ids(dir)
      assert(after == before, s"crash re-run diverged: ${after -- before} / ${before -- after}")
      assert(search(dir) == search(twin), "crash re-run != crash-free rebuild")
      // a rebuild whose base version moves before its commit (a write
      // out of the single-writer contract) aborts and commits nothing:
      // the listener commits a copy of the current manifest as the next
      // version when the rebuild's first job starts
      val v = StoreManifest.currentVersion(spark, dir)
      val mDir = java.nio.file.Paths.get(dir, StoreManifest.ManifestDir)
      val bump = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          synchronized {
            val to = mDir.resolve(s"v${v + 1}.manifest")
            if (!java.nio.file.Files.exists(to))
              java.nio.file.Files.copy(mDir.resolve(s"v$v.manifest"), to)
          }
      }
      spark.sparkContext.addSparkListener(bump)
      val e = try intercept[IllegalStateException](AnnIndexStore.rebuild(spark, dir, nlist = 8))
        finally spark.sparkContext.removeSparkListener(bump)
      assert(e.getMessage.contains("nothing committed"), e.getMessage)
      assert(StoreManifest.currentVersion(spark, dir) == v + 1 &&
        StoreManifest.readLines(spark, dir, v + 1) == StoreManifest.readLines(spark, dir, v),
        "an aborted rebuild must commit nothing")
      assert(ids(dir) == before && search(dir) == search(twin))
    } finally { graft.Fs.rmTree(dir); graft.Fs.rmTree(twin) }
  }

  test("rebuild snapshot self-expires: appends landing after a crashed rebuild survive the re-run (ADVICE r13)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_rb2").toString
    // a rebuild that dies after staging everything, before its commit
    def crashedRebuild(): Unit =
      crashBeforeCommit(dir)(d => AnnIndexStore.rebuild(spark, d, nlist = 4))
    try {
      AnnIndexStore.save(spark, emb, dir, nlist = 4)
      val baseIds = ids(dir)
      // --- case 1 (THE ADVICE scenario): crash before the commit, the
      // pipeline appends batch 7, the rebuild re-runs — the appended
      // vectors must survive it
      crashedRebuild()
      AnnIndexStore.appendBatch(spark,
        emb.filter(col("vec_id") < 5)
          .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding")),
        dir, batchId = 7L)
      AnnIndexStore.rebuild(spark, dir, nlist = 4)
      assert(ids(dir) == baseIds ++ (2000000L until 2000005L),
        "vectors appended after a crashed rebuild must survive the re-run")
      // --- case 2: a crashed rebuild, then a crashed append (its files
      // staged, uncommitted), then a committed append — recovery is the
      // committed content, exactly
      crashedRebuild()
      crashBeforeCommit(dir)(d => AnnIndexStore.appendBatch(spark,
        emb.filter(col("vec_id") < 9)
          .select((col("vec_id") + 4000000L).as("vec_id"), col("embedding")),
        d, batchId = 8L))
      AnnIndexStore.appendBatch(spark,
        emb.filter(col("vec_id") < 3)
          .select((col("vec_id") + 3000000L).as("vec_id"), col("embedding")),
        dir, batchId = 8L)
      AnnIndexStore.rebuild(spark, dir, nlist = 4)
      assert(ids(dir) == baseIds ++ (2000000L until 2000005L) ++ (3000000L until 3000003L),
        "recovery must be the committed content: no crashed rebuild or append leaks in")
      // --- case 3: a delete landing after a crashed rebuild must still
      // erase, and its tombstone retires with the re-run
      crashedRebuild()
      assert(AnnIndexStore.delete(spark, dir, Seq(2000001L)) == 1L)
      AnnIndexStore.rebuild(spark, dir, nlist = 4)
      assert(!ids(dir).contains(2000001L),
        "a delete landing after a crashed rebuild must not resurrect")
      assert(!AnnIndexStore.hasTombstones(spark, dir))
      // --- case 4: a purge committed after a crashed rebuild survives
      // the re-run: the purged vector stays gone
      crashedRebuild()
      assert(AnnIndexStore.delete(spark, dir, Seq(2000002L)) == 1L)
      assert(AnnIndexStore.purgeDeletes(spark, dir) == 1L)
      AnnIndexStore.rebuild(spark, dir, nlist = 4)
      assert(ids(dir) == baseIds ++ Set(2000000L, 2000003L, 2000004L) ++
        (3000000L until 3000003L),
        "a purge committed after a crashed rebuild must survive the re-run")
    } finally graft.Fs.rmTree(dir)
  }

  test("PQ codebooks round-trip bitwise") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_pq").toString
    try {
      AnnIndexStore.save(spark, emb, dir, m = 8)
      val want = AnnPq.trainCodebooks(
        AnnIvf.collectTrain(emb, 65536), m = 8, k = 16, seed = 42)
      val got = AnnIndexStore.loadCodebooks(spark, dir)
      assert(got.length == want.length)
      for (b <- want.indices; j <- want(b).indices)
        assert(java.util.Arrays.equals(got(b)(j), want(b)(j)),
          s"codebook ($b,$j) drifted through parquet")
    } finally graft.Fs.rmTree(dir)
  }

  test("streaming maintenance: crash-replayed appends leave the index == batch rebuild") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = java.nio.file.Files.createTempDirectory("graft_ann_s")
    val streamed = base.resolve("streamed").toString
    val batch = base.resolve("batch").toString
    val ckpt = base.resolve("ckpt").toString
    try {
      val seed = emb.filter(col("vec_id") >= 100)
      val newV = emb.filter(col("vec_id") < 100)
        .select(col("vec_id"), col("embedding"))
      // same frozen geometry on both paths: identical save() inputs
      AnnIndexStore.save(spark, seed, streamed)
      AnnIndexStore.save(spark, seed, batch)
      AnnIndexStore.append(spark, newV, batch) // the one-shot reference

      // stream the same vectors in two triggers
      val newRows = newV.as[(Long, Seq[Float])].collect().toSeq
      val in = MemoryStream[(Long, Seq[Float])]
      val q = graft.streaming.AnnIndexSink.start(
        in.toDF().toDF("vec_id", "embedding"), streamed, ckpt)
      try {
        val (b1, b2) = newRows.splitAt(newRows.size / 2)
        in.addData(b1); q.processAllAvailable()
        in.addData(b2); q.processAllAvailable()
      } finally q.stop()

      // at-least-once replay: Spark re-runs only a checkpoint's latest
      // batch — re-deliver it under its committed batchId, and the
      // store's hw must short-circuit. An older id comes from a
      // checkpoint that did not feed the store: refused
      val (b1again, b2again) = newRows.splitAt(newRows.size / 2)
      AnnIndexStore.appendBatch(spark,
        b2again.toDF("vec_id", "embedding"), streamed, batchId = 1L)
      intercept[IllegalArgumentException](AnnIndexStore.appendBatch(spark,
        b1again.toDF("vec_id", "embedding"), streamed, batchId = 0L))
      // crash before the commit: a third batch's files land uncommitted —
      // searches and counts still answer from the previous version, and
      // the replay commits the batch once
      val probes = emb.filter(col("vec_id") < 10)
      val served = rows(AnnIndexStore.searchTopK(spark, streamed, probes))
      val third = seed.filter(col("vec_id") < 120)
        .select((col("vec_id") + 5000000L).as("vec_id"), col("embedding"))
      crashBeforeCommit(streamed)(d => AnnIndexStore.appendBatch(spark, third, d, batchId = 2L))
      assert(rows(AnnIndexStore.searchTopK(spark, streamed, probes)) == served &&
        AnnIndexStore.tombstoneCount(spark, streamed) == 0L,
        "an uncommitted append must not change what the store answers")
      AnnIndexStore.appendBatch(spark, third, streamed, batchId = 2L)
      AnnIndexStore.append(spark, third, batch)

      val nStream = AnnIndexStore.readLists(spark, streamed).count()
      val nBatch = AnnIndexStore.readLists(spark, batch).count()
      assert(nStream == nBatch,
        s"replay duplicated rows: streamed $nStream vs batch $nBatch")
      assert(rows(AnnIndexStore.searchTopK(spark, streamed, probes)) ==
             rows(AnnIndexStore.searchTopK(spark, batch, probes)),
        "search-after-stream diverged from the batch rebuild")
    } finally graft.Fs.rmTree(base)
  }

  test("AnnIndexSink: an empty trigger commits no store version") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = java.nio.file.Files.createTempDirectory("graft_ann_empty")
    val dir = base.resolve("store").toString
    val ckpt = base.resolve("ckpt").toString
    try {
      AnnIndexStore.save(spark, emb.filter(col("vec_id") >= 100), dir)
      val saved = graft.operators.StoreManifest.currentVersion(spark, dir)
      val newRows = emb.filter(col("vec_id") < 20).select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect().toSeq
      val in = MemoryStream[(Long, Seq[Float])]
      val q = graft.streaming.AnnIndexSink.start(
        in.toDF().toDF("vec_id", "embedding"), dir, ckpt)
      def version = graft.operators.StoreManifest.currentVersion(spark, dir)
      try {
        in.addData(Seq.empty[(Long, Seq[Float])]); q.processAllAvailable()
        assert(version == saved, "an empty first trigger committed a version")
        in.addData(newRows); q.processAllAvailable()
        assert(version == saved + 1 && AnnIndexStore.highWater(spark, dir) == 1L)
        in.addData(Seq.empty[(Long, Seq[Float])]); q.processAllAvailable()
        assert(version == saved + 1, "an empty trigger committed a version")
      } finally q.stop()
      assert((0L until 20L).toSet.subsetOf(ids(dir)), "a streamed vector is missing")
    } finally graft.Fs.rmTree(base.toString)
  }

  test("probed cells prune the lists scan as partition filters") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_plan").toString
    try {
      AnnIndexStore.save(spark, emb, dir)
      val df = AnnIndexStore.searchTopK(spark, dir, emb.filter(col("vec_id") < 10))
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[.*list_id".r.findFirstIn(p).isDefined,
        s"cell pruning must reach the scan as a partition filter:\n$p")
    } finally graft.Fs.rmTree(dir)
  }
}
