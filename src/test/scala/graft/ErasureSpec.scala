package graft

import graft.operators.{AnnIndexStore, InvertedIndex, StoreManifest}
import org.apache.spark.sql.functions._

/** End-to-end erasure through the DERIVED stores (VERDICT r10 gap #1):
  * MergeInto.deleteWhere erases the corpus snapshot, but a real
  * pipeline with deletion obligations also needs the full-text index
  * and the ANN store to forget. Contract proven here:
  *
  *  - the instant a delete commits, the doc/vector is unreachable via
  *    every search path (logical erasure, atomic with the commit);
  *  - post-delete BM25 is BIT-EQUAL to an index rebuilt without the
  *    erased docs (the tombstone carries dl, so corpus stats adjust
  *    exactly — delete ≡ rebuild-without);
  *  - deletes replay as no-ops; a crashed delete (data dir landed,
  *    commit didn't) is invisible and vacuum sweeps it;
  *  - compact / purgeDeletes make the bytes physically gone while
  *    search results stay identical, and tombstones retire.
  */
class ErasureSpec extends SparkSpec {

  private def docs = Tables.t(spark, sfDir, "documents")

  private def bm25Rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
    df.select("doc_id", "n_terms", "bm25").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq

  /** Raw posting scan of the LIVE segments (bypassing the read-path
    * tombstone filter) — the "are the bytes still there" probe.
    */
  private def rawDocIds(dir: String): Set[Long] = {
    val segs = InvertedIndex.segments(spark, dir)
    spark.read.option("basePath", dir).parquet(segs.map(s => s"$dir/$s"): _*)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
  }

  test("InvertedIndex.delete: unreachable everywhere at commit; BM25 ≡ rebuild-without, bit for bit") {
    val full = java.nio.file.Files.createTempDirectory("graft_era_full").toString
    val rebuilt = java.nio.file.Files.createTempDirectory("graft_era_reb").toString
    try {
      InvertedIndex.write(InvertedIndex.build(docs), full)
      val terms = InvertedIndex.topSpan(docs).split(' ').toSeq.distinct
      val before = InvertedIndex.searchBm25(spark, full, terms)
      val matched = before.select("doc_id").collect().map(_.getLong(0)).sorted
      assert(matched.length >= 3, "fixture too small to exercise deletion")
      val dead = matched.take(2).toSeq // provably-reachable docs
      val n = InvertedIndex.delete(spark, full, dead)
      assert(n == 2L, s"expected 2 newly erased, got $n")

      // unreachable via every read path, immediately
      val after = InvertedIndex.searchBm25(spark, full, terms)
      assert(bm25Rows(after).forall(r => !dead.contains(r._1)))
      assert(InvertedIndex.readForTerms(spark, full, terms)
        .filter(col("doc_id").isin(dead: _*)).isEmpty)
      assert(InvertedIndex.docLengths(spark, full)
        .filter(col("doc_id").isin(dead: _*)).isEmpty)

      // delete ≡ rebuild-without: scores (stats-adjusted) bit-equal
      InvertedIndex.write(
        InvertedIndex.build(docs.filter(!col("doc_id").isin(dead: _*))), rebuilt)
      assert(bm25Rows(after) == bm25Rows(
        InvertedIndex.searchBm25(spark, rebuilt, terms)))

      // replay no-op: nothing new tombstoned, no new version committed
      val v = StoreManifest.currentVersion(spark, full)
      assert(InvertedIndex.delete(spark, full, dead) == 0L)
      assert(StoreManifest.currentVersion(spark, full) == v)

      // absent ids are no-ops too
      assert(InvertedIndex.delete(spark, full, Seq(-1L, Long.MaxValue)) == 0L)
    } finally { Fs.rmTree(full); Fs.rmTree(rebuilt) }
  }

  test("tombstone filters do not break the bucket-pruned scan") {
    // the anti-join sits ABOVE the posting scan — PartitionFilters must
    // still prune to the probed buckets with tombstones present
    val dir = java.nio.file.Files.createTempDirectory("graft_era_prune").toString
    try {
      InvertedIndex.write(InvertedIndex.build(docs), dir)
      val toks = InvertedIndex.topSpan(docs).split(' ').toSeq
      val dead = InvertedIndex.searchPhrase(spark, dir, toks)
        .select("doc_id").head().getLong(0)
      InvertedIndex.delete(spark, dir, Seq(dead))
      val scan = InvertedIndex.readForTerms(spark, dir, toks)
      scan.collect()
      val plan = scan.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [bucket"),
        s"bucket pruning lost under the tombstone anti-join:\n$plan")
      val wanted = toks.map(t => InvertedIndex.bucketOf(t, 32)).distinct.size
      val opened = PlanDigest.nodes(scan.queryExecution.executedPlan)
        .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.metrics("numFiles").value > 0 => f.metrics("numFiles").value }
      assert(opened.contains(wanted.toLong),
        s"posting scan opened $opened files, expected the $wanted probed buckets")
    } finally Fs.rmTree(dir)
  }

  test("InvertedIndex.delete: phrase search forgets; crash-window tomb dir invisible and swept") {
    val dir = java.nio.file.Files.createTempDirectory("graft_era_ph").toString
    try {
      InvertedIndex.write(InvertedIndex.build(docs), dir)
      val span = InvertedIndex.topSpan(docs)
      val toks = span.split(' ').toSeq
      val hits = InvertedIndex.searchPhrase(spark, dir, toks)
        .select("doc_id").collect().map(_.getLong(0)).sorted
      assert(hits.nonEmpty, "top span must occur somewhere")
      val dead = hits.head

      // CRASH WINDOW: a tomb dir that landed without its commit must be
      // invisible to readers and swept by vacuum
      val orphan = new java.io.File(dir, "tomb=t99")
      import spark.implicits._
      Seq((dead, 1L)).toDF("doc_id", "dl")
        .coalesce(1).write.parquet(orphan.toString)
      assert(InvertedIndex.searchPhrase(spark, dir, toks)
        .filter(col("doc_id") === dead).count() == 1L,
        "uncommitted tombstone must not hide the doc")
      InvertedIndex.vacuum(spark, dir)
      assert(!orphan.exists(), "vacuum must sweep the unreferenced tomb dir")

      // committed delete: phrase search forgets the doc, keeps the rest
      InvertedIndex.delete(spark, dir, Seq(dead))
      val after = InvertedIndex.searchPhrase(spark, dir, toks)
        .select("doc_id").collect().map(_.getLong(0)).sorted
      assert(after.toSeq == hits.filterNot(_ == dead).toSeq)
    } finally Fs.rmTree(dir)
  }

  test("InvertedIndex: compact drops erased bytes, shrinks tombstones, search unchanged; erased id re-appendable after") {
    val dir = java.nio.file.Files.createTempDirectory("graft_era_cmp").toString
    try {
      // two segments so a PARTIAL fold exercises the kept-tombstone path
      val old = docs.filter(col("doc_id") % 2 === 0)
      val fresh = docs.filter(col("doc_id") % 2 === 1)
      InvertedIndex.write(InvertedIndex.build(old), dir)
      InvertedIndex.append(fresh, dir, 1L)
      val terms = InvertedIndex.topSpan(docs).split(' ').toSeq.distinct
      val matched = InvertedIndex.searchBm25(spark, dir, terms)
        .select("doc_id").collect().map(_.getLong(0)).sorted
      val deadEven = matched.find(_ % 2 == 0).get
      val deadOdd = matched.find(_ % 2 == 1).get
      InvertedIndex.delete(spark, dir, Seq(deadEven, deadOdd))
      val logical = bm25Rows(InvertedIndex.searchBm25(spark, dir, terms))
      assert(rawDocIds(dir).contains(deadEven), "pre-compact bytes still present")

      // FULL fold: every tombstone physically applies and retires
      assert(InvertedIndex.compact(spark, dir, targetSegs = 1, retainVersions = 1) == 2)
      val raw = rawDocIds(dir)
      assert(!raw.contains(deadEven) && !raw.contains(deadOdd),
        "compaction must physically drop erased docs")
      val cur = StoreManifest.currentVersion(spark, dir)
      assert(StoreManifest.read(spark, dir, cur, "tomb").isEmpty,
        "a full fold retires every tombstone")
      assert(Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .forall(f => !f.getName.startsWith("tomb=")),
        "vacuum at retain=1 sweeps the now-unreferenced tomb dir")
      assert(bm25Rows(InvertedIndex.searchBm25(spark, dir, terms)) == logical,
        "physical erasure must not change what search returns")

      // the store has genuinely forgotten: the id is re-appendable
      InvertedIndex.append(
        docs.filter(col("doc_id") === deadEven), dir, 2L)
      assert(InvertedIndex.searchBm25(spark, dir, terms)
        .filter(col("doc_id") === deadEven).count() == 1L)
    } finally Fs.rmTree(dir)
  }

  test("InvertedIndex: PARTIAL compact keeps tombstones for docs in kept segments") {
    val dir = java.nio.file.Files.createTempDirectory("graft_era_part").toString
    try {
      // big base (kept by size-tiering) + two small appends (merged)
      InvertedIndex.write(
        InvertedIndex.build(docs.filter(col("doc_id") % 4 =!= 1)
          .filter(col("doc_id") % 4 =!= 2)), dir)
      InvertedIndex.append(docs.filter(col("doc_id") % 4 === 1), dir, 1L)
      InvertedIndex.append(docs.filter(col("doc_id") % 4 === 2), dir, 2L)
      val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
      val deadKept = ids.find(_ % 4 == 0).get  // lives in the big base
      val deadMerged = ids.find(_ % 4 == 1).get // lives in a small seg
      InvertedIndex.delete(spark, dir, Seq(deadKept, deadMerged))
      val terms = InvertedIndex.topSpan(docs).split(' ').toSeq.distinct
      val logical = bm25Rows(InvertedIndex.searchBm25(spark, dir, terms))

      assert(InvertedIndex.compact(spark, dir, targetSegs = 2, retainVersions = 1) == 2)
      val cur = StoreManifest.currentVersion(spark, dir)
      val tomb = InvertedIndex.tombstones(spark, dir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(tomb == Set(deadKept),
        s"tombstones must shrink to kept-segment docs, got $tomb")
      val raw = rawDocIds(dir)
      assert(!raw.contains(deadMerged), "merged-away doc physically gone")
      assert(raw.contains(deadKept), "kept-segment doc still physical (masked)")
      assert(StoreManifest.read(spark, dir, cur, "tomb").nonEmpty)
      assert(bm25Rows(InvertedIndex.searchBm25(spark, dir, terms)) == logical)
      assert(InvertedIndex.docLengths(spark, dir)
        .filter(col("doc_id").isin(deadKept, deadMerged)).isEmpty)
    } finally Fs.rmTree(dir)
  }

  test("AnnIndexStore.delete + purgeDeletes: unreturnable at commit, bytes gone at purge, results stable") {
    val dir = java.nio.file.Files.createTempDirectory("graft_era_ann").toString
    try {
      val emb = Tables.t(spark, sfDir, "embeddings")
      AnnIndexStore.save(spark, emb, dir, nlist = 16)
      val probes = emb.filter(col("vec_id") < 5)
      val before = AnnIndexStore.searchTopK(spark, dir, probes, k = 5, nprobe = 6)
      // erase two vectors that provably appear as neighbors
      val dead = before.select("neighbor_id").distinct()
        .collect().map(_.getLong(0)).sorted.take(2).toSeq
      assert(AnnIndexStore.delete(spark, dir, dead) == 2L)
      assert(AnnIndexStore.delete(spark, dir, dead) == 0L, "replay is a no-op")
      assert(AnnIndexStore.delete(spark, dir, Seq(-1L, Long.MaxValue)) == 0L,
        "ids never indexed must not tombstone (they would mask a later append)")
      // the manifest's tombstone count (what the sink's per-trigger
      // maxTombstones check reads — no Spark job, ADVICE r11) is exact
      assert(AnnIndexStore.tombstoneCount(spark, dir) ==
        AnnIndexStore.loadTombstones(spark, dir).count())

      val masked = AnnIndexStore.searchTopK(spark, dir, probes, k = 5, nprobe = 6)
      val maskedRows = masked.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
      assert(maskedRows.forall(r => !dead.contains(r._2)),
        "tombstoned vectors must be unreturnable immediately")

      // purge: bytes gone, tombstones retired, search IDENTICAL
      val purged = AnnIndexStore.purgeDeletes(spark, dir)
      assert(purged == 2L, s"expected 2 physically erased, got $purged")
      assert(AnnIndexStore.readLists(spark, dir)
        .filter(col("vec_id").isin(dead: _*)).isEmpty, "bytes must be gone")
      assert(!AnnIndexStore.hasTombstones(spark, dir), "tombstones retired")
      val after = AnnIndexStore.searchTopK(spark, dir, probes, k = 5, nprobe = 6)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
      assert(after == maskedRows, "purge must not change search results")

      // purge with nothing to purge is a no-op
      assert(AnnIndexStore.purgeDeletes(spark, dir) == 0L)
    } finally Fs.rmTree(dir)
  }

  test("EraseSink: a stream of deletion requests erases snapshot + index + ANN + dedup; identical replays commit nothing") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_era_sink")
    val snapDir = s"$root/snap"; val idxDir = s"$root/idx"; val annDir = s"$root/ann"
    val dedupDir = s"$root/dedup"
    try {
      val corpus = docs.select(col("doc_id"), col("lang"), col("text"))
      operators.MergeInto.mergeFiles(spark, snapDir, corpus,
        Seq("doc_id"), "lang")
      InvertedIndex.write(InvertedIndex.build(docs), idxDir)
      AnnIndexStore.save(spark, Tables.t(spark, sfDir, "embeddings"),
        annDir, nlist = 16)
      operators.DedupStore.appendBatch(spark,
        docs.select(col("doc_id"), col("text")), dedupDir)
      val terms = InvertedIndex.topSpan(docs).split(' ').toSeq.distinct
      val dead = InvertedIndex.searchBm25(spark, idxDir, terms)
        .select("doc_id").collect().map(_.getLong(0)).sorted.take(2).toSeq

      // a STRING-typed queue: the public shape of a ticket stream, and
      // it lets the poisoned-request case (non-castable id) in below
      val in = MemoryStream[String]
      val q = streaming.EraseSink.start(in.toDF().withColumnRenamed("value", "doc_id"),
        snapDir, "lang", Some(idxDir), Some(annDir),
        s"$root/ckpt", dedupDir = Some(dedupDir))
      try {
        in.addData(dead.map(_.toString): _*); q.processAllAvailable()
        // gone everywhere, atomically with each store's commit
        assert(operators.MergeInto.readSnapshot(spark, snapDir)
          .filter(col("doc_id").isin(dead: _*)).isEmpty, "snapshot still holds erased docs")
        assert(InvertedIndex.searchBm25(spark, idxDir, terms)
          .filter(col("doc_id").isin(dead: _*)).isEmpty, "index still serves erased docs")
        assert(AnnIndexStore.loadTombstones(spark, annDir)
          .collect().map(_.getLong(0)).toSet == dead.toSet,
          "ANN tombstones must cover exactly the erased ids")
        assert(operators.DedupStore.readDocs(spark, dedupDir)
          .filter(col("doc_id").isin(dead: _*)).isEmpty,
          "dedup store still serves erased docs")
        // a second trigger with the SAME ids (the at-least-once shape)
        // converges without committing any new store version
        val snapV = operators.MergeInto.currentVersion(spark, snapDir)
        val idxV = operators.StoreManifest.currentVersion(spark, idxDir)
        val dedupV = operators.StoreManifest.currentVersion(spark, dedupDir)
        val annV = operators.StoreManifest.currentVersion(spark, annDir)
        def committedNothing() =
          operators.MergeInto.currentVersion(spark, snapDir) == snapV &&
            operators.StoreManifest.currentVersion(spark, idxDir) == idxV &&
            operators.StoreManifest.currentVersion(spark, dedupDir) == dedupV &&
            operators.StoreManifest.currentVersion(spark, annDir) == annV
        in.addData(dead.map(_.toString): _*); q.processAllAvailable()
        assert(committedNothing(), "replaying an applied erase batch must commit nothing")
        // an empty trigger commits nothing either
        in.addData(Seq.empty[String]); q.processAllAvailable()
        assert(committedNothing(), "an empty trigger must commit nothing")
        // ids the corpus never held, and POISONED ids that cast to null,
        // are absorbed silently — neither wedges the queue nor commits
        in.addData("-5", Long.MaxValue.toString, "not-a-doc-id")
        q.processAllAvailable()
        assert(q.isActive, "a poisoned request must not kill the query")
        assert(operators.MergeInto.currentVersion(spark, snapDir) == snapV &&
          operators.StoreManifest.currentVersion(spark, dedupDir) == dedupV &&
          operators.StoreManifest.currentVersion(spark, annDir) == annV)
      } finally q.stop()
    } finally Fs.rmTree(root.toString)
  }

  test("AnnIndexSink maxTombstones: the maintenance stream purges accumulated deletes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_era_autop")
    val dir = s"$root/ann"
    try {
      val emb = Tables.t(spark, sfDir, "embeddings")
      AnnIndexStore.save(spark, emb.filter(col("vec_id") >= 100), dir, nlist = 8)
      val probes = emb.filter(col("vec_id") >= 100 && col("vec_id") < 103)
      val dead = AnnIndexStore.searchTopK(spark, dir, probes, k = 3, nprobe = 4)
        .select("neighbor_id").distinct().collect().map(_.getLong(0)).take(2).toSeq
      AnnIndexStore.delete(spark, dir, dead)
      val masked = AnnIndexStore.searchTopK(spark, dir, probes, k = 3, nprobe = 4)
        .collect().toSeq
      // stream one append batch through the maintenance sink — the
      // threshold (2) is met, so the trigger purges after appending
      val newRows = emb.filter(col("vec_id") < 100)
        .select("vec_id", "embedding")
        .as[(Long, Seq[Float])].collect().toSeq
      val in = MemoryStream[(Long, Seq[Float])]
      val q = streaming.AnnIndexSink.start(in.toDF().toDF("vec_id", "embedding"),
        dir, s"$root/ckpt", maxTombstones = 2)
      try { in.addData(newRows: _*); q.processAllAvailable() } finally q.stop()
      assert(!AnnIndexStore.hasTombstones(spark, dir),
        "the sink must purge once tombstones reach the bound")
      assert(AnnIndexStore.readLists(spark, dir)
        .filter(col("vec_id").isin(dead: _*)).isEmpty, "bytes must be gone")
      // erased stays erased AND the appended vectors are searchable
      val after = AnnIndexStore.searchTopK(spark, dir, probes, k = 3, nprobe = 4)
      assert(after.filter(col("neighbor_id").isin(dead: _*)).isEmpty)
      assert(AnnIndexStore.readLists(spark, dir)
        .filter(col("vec_id") < 100).count() > 0, "append must have landed")
      assert(masked.nonEmpty && after.count() > 0)
    } finally Fs.rmTree(root.toString)
  }

  test("AnnIndexStore: crash-window overlap inside a cell dedups away; replayed purge converges") {
    val dir = java.nio.file.Files.createTempDirectory("graft_era_annc").toString
    try {
      val emb = Tables.t(spark, sfDir, "embeddings")
      AnnIndexStore.save(spark, emb, dir, nlist = 8)
      val probes = emb.filter(col("vec_id") < 3)
      val dead = AnnIndexStore.searchTopK(spark, dir, probes, k = 3, nprobe = 4)
        .select("neighbor_id").distinct().collect().map(_.getLong(0)).take(1).toSeq
      AnnIndexStore.delete(spark, dir, dead)
      val masked = AnnIndexStore.searchTopK(spark, dir, probes, k = 3, nprobe = 4)
        .collect().toSeq

      // the purge crash window: a purge that dies after staging the
      // rewritten cell, before its commit — readers keep the previous
      // version (tombstone filter included), so results are unchanged
      val tombs = AnnIndexStore.tombstoneCount(spark, dir)
      crashBeforeCommit(dir)(d => AnnIndexStore.purgeDeletes(spark, d))
      assert(AnnIndexStore.searchTopK(spark, dir, probes, k = 3, nprobe = 4)
        .collect().toSeq == masked,
        "a purge's uncommitted files must not change results")
      assert(AnnIndexStore.tombstoneCount(spark, dir) == tombs,
        "an uncommitted purge must not retire tombstones")

      // the real purge then converges: drops the erased vector, leaves
      // every other vector exactly once
      AnnIndexStore.purgeDeletes(spark, dir)
      val all = AnnIndexStore.readLists(spark, dir)
      assert(all.filter(col("vec_id").isin(dead: _*)).isEmpty)
      assert(all.groupBy("vec_id").count().filter(col("count") > 1).isEmpty,
        "purge must leave each vector exactly once")
      assert(AnnIndexStore.searchTopK(spark, dir, probes, k = 3, nprobe = 4)
        .collect().toSeq == masked)
    } finally Fs.rmTree(dir)
  }

  test("EraseSink pendingDir: a ticket racing ahead of ingest parks as pending and erases once the doc lands (ADVICE r11)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_era_pend")
    val snapDir = s"$root/snap"; val idxDir = s"$root/idx"
    val annDir = s"$root/ann"; val pendDir = s"$root/pending"
    def pendingLines(): Seq[String] = {
      val f = new java.io.File(pendDir, "pending.tsv")
      if (!f.exists()) Nil
      else scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq
    }
    try {
      val emb = Tables.t(spark, sfDir, "embeddings")
      // a doc that exists in BOTH tables (doc_id ≡ vec_id contract) but
      // whose ingest "lags": every store starts WITHOUT it
      val lateId = docs.select("doc_id").join(emb.select(col("vec_id").as("doc_id")),
        Seq("doc_id"), "left_semi").orderBy("doc_id").head().getLong(0)
      val corpus = docs.select(col("doc_id"), col("lang"), col("text"))
      operators.MergeInto.mergeFiles(spark, snapDir,
        corpus.filter(col("doc_id") =!= lateId), Seq("doc_id"), "lang")
      InvertedIndex.write(InvertedIndex.build(docs.filter(col("doc_id") =!= lateId)), idxDir)
      AnnIndexStore.save(spark, emb.filter(col("vec_id") =!= lateId), annDir, nlist = 16)

      val in = MemoryStream[String]
      val q = streaming.EraseSink.start(in.toDF().withColumnRenamed("value", "doc_id"),
        snapDir, "lang", Some(idxDir), Some(annDir), s"$root/ckpt", Some(pendDir))
      try {
        // the racing ticket: no store knows the id yet — instead of the
        // silent absorb (the ADVICE r11 hazard), it parks fully pending
        in.addData(lateId.toString); q.processAllAvailable()
        // no dedup store maintained here → its flag is born settled
        assert(pendingLines() == Seq(s"$lateId\ttrue\ttrue\ttrue\tfalse"),
          "an unmatched ticket must persist with every maintained store outstanding")
        assert(InvertedIndex.tombstones(spark, idxDir).isEmpty &&
          !AnnIndexStore.hasTombstones(spark, annDir),
          "a parked ticket must not tombstone anything")

        // ingest catches up in every store
        operators.MergeInto.mergeFiles(spark, snapDir,
          corpus.filter(col("doc_id") === lateId), Seq("doc_id"), "lang")
        InvertedIndex.append(docs.filter(col("doc_id") === lateId), idxDir, 0L)
        AnnIndexStore.appendBatch(spark, emb.filter(col("vec_id") === lateId), annDir, 99L)

        // ANY later trigger (here: a junk ticket for an id that never
        // arrives) replays the pending set and settles the late doc
        in.addData("999999999"); q.processAllAvailable()
        assert(operators.MergeInto.readSnapshot(spark, snapDir)
          .filter(col("doc_id") === lateId).isEmpty, "late doc must be erased from the snapshot")
        assert(InvertedIndex.tombstones(spark, idxDir)
          .select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(lateId),
          "late doc must be tombstoned in the index")
        assert(AnnIndexStore.loadTombstones(spark, annDir)
          .collect().map(_.getLong(0)).toSeq == Seq(lateId),
          "late doc must be tombstoned in the ANN store")
        // the never-arriving junk id stays parked (documented residual:
        // pending never loses a ticket, it only retries vacuous deletes)
        assert(pendingLines() == Seq("999999999\ttrue\ttrue\ttrue\tfalse"),
          "settled ids drain from pending; never-arrived ids stay parked")
      } finally q.stop()
    } finally Fs.rmTree(root.toString)
  }

  // ---- USER-keyed erasure (UserErase / UserEraseSink, r12) ----

  private def userEvent(id: Long, ts: String, user: Long, typ: String, v: Double): String =
    s"""{"event_id": $id, "ts": "$ts", "user_id": $user, "event_type": "$typ", "value": $v, "props": "{}"}"""

  test("UserEraseSink: one user_id ticket erases snapshot + cube + serving views; replay commits nothing; ingest resumes") {
    import graft.operators.{MergeInto, RollupNav, UserErase}
    import graft.streaming.PartitionedServingSink
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_uera")
    val snapDir = s"$root/snap"; val cubeDir = s"$root/cube"
    val servDir = s"$root/serving"
    val inDir = java.nio.file.Files.createDirectory(root.resolve("in")).toString
    try {
      // one event stream feeds BOTH stores: NDJSON → serving views;
      // the same rows (as a frame) → snapshot + cube
      val lines = Seq(
        userEvent(1, "2024-01-01T00:10:00", 1, "view", 2.0),
        userEvent(2, "2024-01-01T00:20:00", 2, "view", 3.0),
        userEvent(3, "2024-01-01T01:10:00", 2, "click", 1.0),
        userEvent(4, "2024-01-01T01:15:00", 3, "view", 9.0),
        userEvent(5, "2024-01-02T05:00:00", 2, "view", 4.0)) // user 2 ALONE in this hour+day
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(inDir, "b1.ndjson"), lines.mkString("\n"))
      PartitionedServingSink.start(spark, inDir, servDir, s"$root/ckpt_ingest")
        .awaitTermination()
      val ev = Seq(
        (1L, "2024-01-01 00:10:00", 1L, "view", 2.0),
        (2L, "2024-01-01 00:20:00", 2L, "view", 3.0),
        (3L, "2024-01-01 01:10:00", 2L, "click", 1.0),
        (4L, "2024-01-01 01:15:00", 3L, "view", 9.0),
        (5L, "2024-01-02 05:00:00", 2L, "view", 4.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("ts", col("ts").cast("timestamp"))
        .withColumn("day", to_date(col("ts")).cast("string"))
      val shape = RollupNav.Rollup(Seq("event_type"), Seq("v_us"))
      def factsOf(s: org.apache.spark.sql.DataFrame) =
        s.select(col("day"), col("event_type"),
          (col("value").cast("decimal(18,6)") * 1000000).cast("long").as("v_us"))
      MergeInto.mergeFiles(spark, snapDir, ev, Seq("event_id"), "day")
      RollupNav.materialize(factsOf(MergeInto.readSnapshot(spark, snapDir)),
        shape, cubeDir)

      val in = MemoryStream[String]
      val q = graft.streaming.UserEraseSink.start(
        in.toDF().withColumnRenamed("value", "user_id"), snapDir, "day",
        Some(UserErase.CubeTarget(cubeDir, shape, factsOf)), Some(servDir),
        s"$root/ckpt_erase")
      try {
        in.addData("2", "not-a-user-id"); q.processAllAvailable()

        // snapshot: user 2 gone, others intact
        val snap = MergeInto.readSnapshot(spark, snapDir)
        assert(snap.filter(col("user_id") === 2).isEmpty, "user 2 must leave the snapshot")
        assert(snap.count() == 2, "other users' rows must survive")

        // cube ≡ rebuild-without-user: byte-identical stored partials
        // (incl. the non-retractable MIN/MAX), and day 2024-01-02 —
        // user 2's alone — vanishes entirely
        val rebuilt = s"$root/cube_rebuilt"
        RollupNav.materialize(factsOf(ev.filter(col("user_id") =!= 2)), shape, rebuilt)
        def cubeRows(d: String) = RollupNav.readStore(spark, d)
          .collect().map(_.toSeq).toSet
        assert(cubeRows(cubeDir) == cubeRows(rebuilt),
          "erased cube must equal a cube rebuilt without the user")
        assert(RollupNav.readStore(spark, cubeDir)
          .filter(col("day") === "2024-01-02").isEmpty,
          "a day with no surviving facts must vanish from the cube")

        // serving: counters retract exactly; the user-only hour drops;
        // HLL recomputes (exact at this cardinality) per touched hour
        val counts = PartitionedServingSink.countsPerUser(spark, servDir)
        assert(counts.filter(col("user_id") === 2).isEmpty,
          "user 2 must leave counts_per_user")
        assert(counts.count() == 2)
        val uniq = PartitionedServingSink.uniquesHourly(spark, servDir)
          .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
        assert(uniq == Map("2024-01-01 00:00:00.0" -> 1L, "2024-01-01 01:00:00.0" -> 1L),
          s"uniques must recompute from surviving users, got $uniq")

        // replay convergence: the same ticket again commits NOTHING
        val (snapV, cubeV, servV) = (MergeInto.currentVersion(spark, snapDir),
          graft.operators.StoreManifest.currentVersion(spark, cubeDir),
          graft.operators.StoreManifest.currentVersion(spark, servDir))
        def committedNothing() =
          MergeInto.currentVersion(spark, snapDir) == snapV &&
            graft.operators.StoreManifest.currentVersion(spark, cubeDir) == cubeV &&
            graft.operators.StoreManifest.currentVersion(spark, servDir) == servV
        in.addData("2"); q.processAllAvailable()
        assert(committedNothing(), "a replayed ticket must not commit a version in any store")
        // an empty trigger commits nothing either
        in.addData(Seq.empty[String]); q.processAllAvailable()
        assert(committedNothing(), "an empty trigger must not commit a version in any store")
        assert(!new java.io.File(s"$root/ckpt_erase/_user_erase/user_erase_journal.tsv").exists(),
          "the crash journal must drain after a completed trigger")
      } finally q.stop()

      // the version/batch split: erasure bumped the serving version, but
      // the NEXT ingest batch from the SAME checkpoint must still apply
      // (pre-r12 the replay guard read version N+1 as batch N+1 done and
      // silently dropped it)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(inDir, "b2.ndjson"),
        userEvent(6, "2024-01-01T03:00:00", 4, "view", 1.0))
      PartitionedServingSink.start(spark, inDir, servDir, s"$root/ckpt_ingest")
        .awaitTermination()
      assert(PartitionedServingSink.countsPerUser(spark, servDir)
        .filter(col("user_id") === 4).count() == 1,
        "post-erasure ingest batch must not be swallowed by the replay guard")
    } finally Fs.rmTree(root.toString)
  }

  test("UserErase journal: a crash between snapshot delete and cube refresh cannot strand the cube stale") {
    import graft.operators.{MergeInto, RollupNav, UserErase}
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_uera_j")
    val snapDir = s"$root/snap"; val cubeDir = s"$root/cube"
    val jDir = s"$root/journal"
    try {
      val ev = Seq(
        (1L, "2024-01-01", 1L, "view", 10L),
        (2L, "2024-01-01", 2L, "view", 20L),
        (3L, "2024-01-02", 2L, "click", 30L),
        (4L, "2024-01-02", 3L, "view", 40L))
        .toDF("event_id", "day", "user_id", "event_type", "v_us")
      val shape = RollupNav.Rollup(Seq("event_type"), Seq("v_us"))
      def factsOf(s: org.apache.spark.sql.DataFrame) =
        s.select(col("day"), col("event_type"), col("v_us"))
      MergeInto.mergeFiles(spark, snapDir, ev, Seq("event_id"), "day")
      RollupNav.materialize(factsOf(MergeInto.readSnapshot(spark, snapDir)),
        shape, cubeDir)

      // simulate the crash window: the snapshot delete committed, the
      // journal holds the discovered days, the cube refresh never ran —
      // the days are no longer discoverable from the snapshot
      MergeInto.deleteWhere(spark, snapDir, col("user_id") === 2, "day")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(jDir))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(jDir, "user_erase_journal.tsv"),
        "ids\t2\ndays\t2024-01-01,2024-01-02")
      assert(RollupNav.readStore(spark, cubeDir)
          .agg(sum("n_rows")).head().getLong(0) == 4,
        "precondition: cube still counts the deleted rows (stale)")

      // ANY later trigger — here one with no new ids at all — must merge
      // the journal back in and settle the cube
      UserErase.eraseUsers(spark, Seq.empty, snapDir, "day",
        cube = Some(UserErase.CubeTarget(cubeDir, shape, factsOf)),
        journalDir = Some(jDir))
      val rebuilt = s"$root/cube_rebuilt"
      RollupNav.materialize(factsOf(ev.filter(col("user_id") =!= 2)), shape, rebuilt)
      def cubeRows(d: String) = RollupNav.readStore(spark, d)
        .collect().map(_.toSeq).toSet
      assert(cubeRows(cubeDir) == cubeRows(rebuilt),
        "the journal replay must refresh the stranded days to rebuild-without")
      assert(!new java.io.File(jDir, "user_erase_journal.tsv").exists(),
        "journal drains once every store committed")
    } finally Fs.rmTree(root.toString)
  }
}
