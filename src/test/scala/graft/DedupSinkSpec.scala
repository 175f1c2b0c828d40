package graft

import graft.operators.{DedupStore, StoreManifest}
import org.apache.spark.sql.functions._

/** Dedup-at-ingest (operators.DedupStore + streaming.DedupSink): the
  * persisted seen-set accepts each content fingerprint exactly once
  * across triggers, converges under checkpoint replay without batch
  * markers, survives crash-window orphans, and probes the seen-set
  * bucket-pruned. The registry's hash-grade oracle
  * (s_dedup_stream_ingest) covers the read path; this covers the build.
  */
class DedupSinkSpec extends SparkSpec {

  import spark.implicits._

  private def mkDocs(rows: (Long, String)*) =
    rows.toSeq.toDF("doc_id", "text")

  test("streaming: accepted set == batch keep-first; replayed trigger commits nothing") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = java.nio.file.Files.createTempDirectory("graft_dsink")
    val dir = base.resolve("store").toString
    try {
      val in = MemoryStream[(Long, String)]
      val q = graft.streaming.DedupSink.start(
        in.toDF().toDF("doc_id", "text"), dir,
        base.resolve("ckpt").toString, buckets = 8)
      try {
        // batch 1: a within-batch duplicate (2 repeats 1's text)
        in.addData((1L, "alpha beta"), (2L, "alpha beta"), (3L, "gamma"))
        q.processAllAvailable()
        // batch 2: a cross-batch duplicate (11 repeats 1) + fresh content
        in.addData((11L, "alpha beta"), (12L, "delta"))
        q.processAllAvailable()
      } finally q.stop()
      val got = DedupStore.readDocs(spark, dir)
        .select("doc_id", "text").as[(Long, String)].collect().toSet
      assert(got == Set((1L, "alpha beta"), (3L, "gamma"), (12L, "delta")),
        s"accepted set wrong: $got")
      // at-least-once replay of batch 1's content: content-convergent —
      // nothing fresh, so NO version commits (the no-marker exactly-once)
      val vBefore = StoreManifest.currentVersion(spark, dir)
      val n = DedupStore.appendBatch(spark,
        mkDocs((1L, "alpha beta"), (2L, "alpha beta"), (3L, "gamma")), dir)
      assert(n == 0L && StoreManifest.currentVersion(spark, dir) == vBefore,
        "replayed trigger must not commit a version")
    } finally Fs.rmTree(base.toString)
  }

  test("crash window: staged-but-uncommitted files are invisible and vacuum sweeps them") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsink_cw").toString
    try {
      DedupStore.appendBatch(spark, mkDocs((1L, "a"), (2L, "b")), dir, buckets = 4)
      // simulate a crash after the data rename, before the manifest
      // commit: hand-plant orphans under both data dirs
      val docsOrphan = new java.io.File(s"$dir/docs/v99-part-orphan.parquet")
      mkDocs((50L, "orphan")).withColumn("fp", md5(col("text").cast("binary")))
        .coalesce(1).write.parquet(s"$dir/.merge-tmp-orphanstage")
      val staged = new java.io.File(s"$dir/.merge-tmp-orphanstage").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(staged.toPath, docsOrphan.toPath)
      assert(DedupStore.readDocs(spark, dir).count() == 2,
        "manifest readers must not see uncommitted files")
      val swept = DedupStore.vacuum(spark, dir, retain = 1)
      assert(swept >= 1 && !docsOrphan.exists(), "vacuum must sweep the orphan")
      assert(DedupStore.readDocs(spark, dir).count() == 2)
    } finally Fs.rmTree(dir)
  }

  test("seen probe prunes to the touched fingerprint buckets") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsink_bk").toString
    try {
      // enough distinct texts that all 8 buckets populate
      DedupStore.appendBatch(spark,
        mkDocs((0L until 64L).map(i => i -> s"text $i"): _*), dir, buckets = 8)
      val all = DedupStore.readSeen(spark, dir)
      val one = DedupStore.readSeen(spark, dir, touched = Some(Set(3L)))
      assert(one.select("b").distinct().collect().map(_.getLong(0)).toSeq == Seq(3L))
      assert(one.inputFiles.length < all.inputFiles.length,
        "bucket-pruned probe must read strictly fewer files")
      assert(all.count() == 64)
    } finally Fs.rmTree(dir)
  }

  test("compactSeen: the probe's file fan-in stays bounded under many triggers; dedup unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsink_cs").toString
    try {
      // 6 triggers × 4 buckets would accrue up to 24 seen files
      for (t <- 0 until 6)
        DedupStore.appendBatch(spark,
          mkDocs((0 until 8).map(i => (t * 8 + i).toLong -> s"text ${t * 8 + i}"): _*),
          dir, buckets = 4)
      val before = DedupStore.seenFileCount(spark, dir)
      assert(before > 4, s"fixture should accrue per-trigger files, got $before")
      assert(DedupStore.compactSeen(spark, dir) <= 4)
      assert(DedupStore.seenFileCount(spark, dir) <= 4)
      // the folded seen-set dedups exactly as before: replaying every
      // trigger's content accepts nothing
      for (t <- 0 until 6)
        assert(DedupStore.appendBatch(spark,
          mkDocs((0 until 8).map(i =>
            (1000 + t * 8 + i).toLong -> s"text ${t * 8 + i}"): _*), dir) == 0L)
      assert(DedupStore.readDocs(spark, dir).count() == 48)
      // superseded per-trigger files drop at vacuum
      assert(DedupStore.vacuum(spark, dir, retain = 1) >= before - 4)
    } finally Fs.rmTree(dir)
  }

  test("delete: doc + fingerprint leave together; replay no-op; content re-acceptable") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsink_del").toString
    try {
      DedupStore.appendBatch(spark,
        mkDocs((1L, "erase me"), (2L, "keeper"), (3L, "bystander")), dir, buckets = 4)
      // the duplicate of doc 1 was dropped at ingest, as designed
      assert(DedupStore.appendBatch(spark, mkDocs((9L, "erase me")), dir) == 0L)
      assert(DedupStore.delete(spark, dir, Seq(1L, 777L)) == 1L,
        "one real target, one absent id")
      val after = DedupStore.readDocs(spark, dir)
        .select("doc_id").as[Long].collect().toSet
      assert(after == Set(2L, 3L), s"got $after")
      // the fingerprint is FORGOTTEN (the right-to-be-forgotten reading:
      // blocking re-entry would itself remember the content) — the same
      // content re-ingests fresh under a new id
      val vMid = StoreManifest.currentVersion(spark, dir)
      assert(DedupStore.delete(spark, dir, Seq(1L)) == 0L &&
        StoreManifest.currentVersion(spark, dir) == vMid,
        "replayed delete must commit nothing")
      assert(DedupStore.appendBatch(spark, mkDocs((9L, "erase me")), dir) == 1L)
      val back = DedupStore.readDocs(spark, dir)
        .select("doc_id").as[Long].collect().toSet
      assert(back == Set(2L, 3L, 9L), s"got $back")
      // pre-delete bytes stay auditable until vacuum, then drop
      assert(DedupStore.vacuum(spark, dir, retain = 1) >= 1L)
      assert(DedupStore.readDocs(spark, dir)
        .select("doc_id").as[Long].collect().toSet == back)
    } finally Fs.rmTree(dir)
  }

  // ---- near-dup mode (r13): MinHash-LSH band seen-set ----

  private val near = Some(DedupStore.NearConfig()) // 64 hashes, 16 bands, θ=0.3

  /** A paragraph with enough shared shingles to near-dup its perturbed
    * copy; `salt` makes unrelated texts share nothing.
    */
  private def para(salt: Int): String =
    (0 until 24).map(i => s"w${salt}x$i").mkString(" ")

  test("near mode, single batch: survivors == batch MinHashDedup keep-first (VERDICT r12 #1)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsink_n1").toString
    try {
      // 1,2 near-dup pair (perturbed copy); 3 unrelated; 4 short
      // (no signature — exact-only domain); 5 a perturbed copy of 1 too
      val rows = Seq(
        1L -> para(1), 2L -> (para(1) + " tail"), 3L -> para(3),
        4L -> "too short", 5L -> ("head " + para(1)))
      val docs = mkDocs(rows: _*)
      // the twin: the BATCH operator's thresholded pairs, keep-first =
      // drop every b of a pair (a < b)
      val pairs = operators.MinHashDedup.nearDupPairs(docs, threshold = 0.3)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      // 2 and 5 are both perturbed copies of 1, so (2,5) pairs too —
      // keep-first drops every b-side id either way
      assert(pairs.map(_._2) == Set(2L, 5L),
        s"fixture must near-drop exactly 2 and 5, got $pairs")
      val expect = rows.map(_._1).toSet -- pairs.map(_._2)
      assert(DedupStore.appendBatch(spark, docs, dir, buckets = 4,
        near = near) == expect.size.toLong)
      val got = DedupStore.readDocs(spark, dir)
        .select("doc_id").as[Long].collect().toSet
      assert(got == expect, s"streamed survivors $got != batch twin $expect")
    } finally Fs.rmTree(dir)
  }

  test("near mode, cross-batch: a perturbed re-crawl drops against the ACCEPTED set; replay commits nothing") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = java.nio.file.Files.createTempDirectory("graft_dsink_n2")
    val dir = base.resolve("store").toString
    try {
      val t1 = Seq(1L -> para(1), 2L -> para(2), 3L -> para(3))
      // re-crawl: one changed/added token per doc — the exact-md5 store
      // would accept all three; near mode must drop them. 14 is fresh.
      val t2 = Seq(11L -> (para(1) + " edit"), 12L -> ("v2 " + para(2)),
        13L -> (para(3) + " tweak"), 14L -> para(14))
      val in = MemoryStream[(Long, String)]
      val q = graft.streaming.DedupSink.start(
        in.toDF().toDF("doc_id", "text"), dir,
        base.resolve("ckpt").toString, buckets = 8, near = near)
      try {
        in.addData(t1: _*); q.processAllAvailable()
        in.addData(t2: _*); q.processAllAvailable()
      } finally q.stop()
      // twin expectation, computed BY the batch operator over the whole
      // delivered stream: accepted ids are ordered before re-crawl ids,
      // so keep-first == drop-b_id over the union's thresholded pairs
      val all = mkDocs((t1 ++ t2): _*)
      val dropB = operators.MinHashDedup.nearDupPairs(all, threshold = 0.3)
        .select("b_id").as[Long].collect().toSet
      val expect = (t1 ++ t2).map(_._1).toSet -- dropB
      assert(expect == Set(1L, 2L, 3L, 14L), s"fixture drifted: $expect")
      val got = DedupStore.readDocs(spark, dir)
        .select("doc_id").as[Long].collect().toSet
      assert(got == expect, s"streamed survivors $got != batch twin $expect")
      // at-least-once replay of the re-crawl trigger: content-convergent
      val vBefore = StoreManifest.currentVersion(spark, dir)
      assert(DedupStore.appendBatch(spark, mkDocs(t2: _*), dir) == 0L &&
        StoreManifest.currentVersion(spark, dir) == vBefore,
        "replayed near trigger must not commit a version")
      // the near config is baked — a caller passing None cannot disarm it
      assert(DedupStore.appendBatch(spark,
        mkDocs(21L -> (para(1) + " another edit")), dir) == 0L)
    } finally Fs.rmTree(base.toString)
  }

  test("near mode: delete forgets the bands too — near-dup content re-enters after erasure") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsink_n3").toString
    try {
      DedupStore.appendBatch(spark,
        mkDocs(1L -> para(1), 2L -> para(2)), dir, buckets = 4, near = near)
      // near-dup of doc 1 drops while 1 is accepted...
      assert(DedupStore.appendBatch(spark,
        mkDocs(5L -> (para(1) + " tail")), dir) == 0L)
      assert(DedupStore.delete(spark, dir, Seq(1L)) == 1L)
      // ...and re-enters once 1 is erased (bands forgotten with the doc;
      // keeping them would silently block the content's re-entry)
      assert(DedupStore.appendBatch(spark,
        mkDocs(5L -> (para(1) + " tail")), dir) == 1L)
      val got = DedupStore.readDocs(spark, dir)
        .select("doc_id").as[Long].collect().toSet
      assert(got == Set(2L, 5L), s"got $got")
      // and 5's own bands now guard the store: 1's original text is a
      // near-dup of the re-entered copy and drops
      assert(DedupStore.appendBatch(spark, mkDocs(9L -> para(1)), dir) == 0L)
    } finally Fs.rmTree(dir)
  }

  test("near mode: compactSeen folds band files; probe fan-in bounded, decisions unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsink_n4").toString
    try {
      for (t <- 0 until 5)
        DedupStore.appendBatch(spark,
          mkDocs((t * 3 until t * 3 + 3).map(i => i.toLong -> para(i)): _*),
          dir, buckets = 4, near = near)
      val before = DedupStore.seenFileCount(spark, dir)
      assert(before > 8, s"fixture should accrue fp + near files, got $before")
      val after = DedupStore.compactSeen(spark, dir)
      assert(after <= 8 && DedupStore.seenFileCount(spark, dir) == after,
        s"fold must cap at one file per populated bucket per family, got $after")
      // the folded band set still rejects a perturbed re-crawl of every doc
      for (t <- 0 until 5)
        assert(DedupStore.appendBatch(spark,
          mkDocs((t * 3 until t * 3 + 3).map(i =>
            (100 + i).toLong -> (para(i) + " edit")): _*), dir) == 0L)
      assert(DedupStore.readDocs(spark, dir).count() == 15)
      assert(DedupStore.vacuum(spark, dir, retain = 1) >= 1L)
      assert(DedupStore.readDocs(spark, dir).count() == 15)
    } finally Fs.rmTree(dir)
  }

  test("near mode, randomized: per-batch rule == batch operators, 3 batches, seeded corpus") {
    // the EXACT streamed contract, checked on an adversarial random
    // corpus (tiny vocab → dense accidental near-dups, including the
    // chains where greedy-vs-global differ): per delivered batch,
    //   accepted = exactFirst(batch)
    //     − {b | ∃ a<b in batch: pair(a,b) ≥ θ}            (batch rule)
    //     − {d | ∃ s ∈ ACCEPTED-so-far: pair(d,s) ≥ θ}      (store rule)
    // with pair() computed BY MinHashDedup.candidatePairs — the one
    // shared banding/threshold text.
    import operators.MinHashDedup
    val rnd = new scala.util.Random(1337)
    // mutated copies of 5 base paragraphs: dense near-dup clusters plus
    // the a~b~c chains where a greedy rule and a global drop-b differ
    val bases = (0 until 5).map(b => (0 until 20).map(i => s"b${b}t$i").toArray)
    val docs = (0L until 30L).map { id =>
      val t = bases(rnd.nextInt(bases.length)).clone()
      (0 until rnd.nextInt(4)).foreach { _ =>
        t(rnd.nextInt(t.length)) = s"mut${rnd.nextInt(50)}"
      }
      id -> t.mkString(" ")
    }
    val batches = docs.grouped(10).toSeq // ascending-id batches
    def pairsOf(rows: Seq[(Long, String)]): Set[(Long, Long)] =
      MinHashDedup.nearDupPairs(mkDocs(rows: _*), threshold = 0.3)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val dir = java.nio.file.Files.createTempDirectory("graft_dsink_nr").toString
    try {
      var accepted = Vector.empty[(Long, String)]
      for (b <- batches) {
        // exact keep-first within the batch (min id per text)
        val exactFirst = b.groupBy(_._2).values.map(_.minBy(_._1)).toSeq
          .filterNot { case (_, t) => accepted.exists(_._2 == t) }
          .sortBy(_._1)
        val batchPairs = pairsOf(exactFirst)
        val dropWithin = batchPairs.map(_._2)
        val kept = exactFirst.filterNot(d => dropWithin(d._1))
        // store rule: pairs between accepted (smaller ids) and the batch
        val crossPairs = pairsOf(accepted ++ kept)
          .filter { case (a, bb) =>
            accepted.exists(_._1 == a) && kept.exists(_._1 == bb) }
        val dropCross = crossPairs.map(_._2)
        accepted = accepted ++ kept.filterNot(d => dropCross(d._1))
        DedupStore.appendBatch(spark, mkDocs(b: _*), dir, buckets = 4,
          near = Some(DedupStore.NearConfig()))
      }
      val got = DedupStore.readDocs(spark, dir)
        .select("doc_id").as[Long].collect().toSet
      val expect = accepted.map(_._1).toSet
      assert(got == expect,
        s"streamed ${got.toSeq.sorted} != per-batch-rule twin ${expect.toSeq.sorted}")
      // the fixture must actually exercise near-drops, not just exact ones
      assert(expect.size < docs.map(_._2).distinct.size,
        "fixture produced no near-dup drops — tighten the vocab")
    } finally Fs.rmTree(dir)
  }

  test("near mode: staged-but-uncommitted band files are invisible and vacuum sweeps them") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsink_n5").toString
    try {
      DedupStore.appendBatch(spark, mkDocs(1L -> para(1)), dir,
        buckets = 4, near = near)
      // crash after the near-file rename, before the manifest commit:
      // hand-plant an orphan band file in a live pb dir
      val pbDir = new java.io.File(s"$dir/near").listFiles()
        .filter(_.getName.startsWith("pb=")).head
      val orphan = new java.io.File(pbDir, "v99-part-orphan.parquet")
      val live = pbDir.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(live.toPath, orphan.toPath)
      // probes resolve the manifest — the orphan must not change any
      // accept/reject decision (same text still drops, fresh passes)
      assert(DedupStore.appendBatch(spark, mkDocs(5L -> (para(1) + " x")), dir) == 0L)
      assert(DedupStore.appendBatch(spark, mkDocs(6L -> para(6)), dir) == 1L)
      assert(DedupStore.vacuum(spark, dir, retain = 1) >= 1L)
      assert(!orphan.exists(), "vacuum must sweep the orphaned band file")
      // and the committed near set still guards
      assert(DedupStore.appendBatch(spark, mkDocs(7L -> (para(6) + " y")), dir) == 0L)
    } finally Fs.rmTree(dir)
  }

  // ---- semantic (embedding-cosine) mode (r13): the third family ----

  private val embCfg = Some(DedupStore.EmbConfig(dim = 8)) // AnnLsh defaults, θ=0.4

  /** Unit-ish 8-dim vectors: same `axis` → cosine ≈ 1 after the jitter;
    * different axes → cosine 0. Texts stay distinct so the lexical
    * gates never fire and the semantic gate is what's under test.
    */
  private def ev(axis: Int, jitter: Float = 0f): Seq[Float] =
    (0 until 8).map(i => (if (i == axis) 1f else 0f) +
      (if (i == (axis + 1) % 8) jitter else 0f))

  private def mkEmbDocs(rows: (Long, String, Seq[Float])*) =
    rows.toSeq.toDF("doc_id", "text", "embedding")

  test("emb mode, single batch: survivors == batch AnnLsh.nearDupPairs keep-first") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsink_e1").toString
    try {
      // 1~2 same axis (cos≈0.995), 3 orthogonal, 4 near 3, 5 null-exempt
      val rows = Seq(
        (1L, "text one", ev(0)), (2L, "text two", ev(0, 0.1f)),
        (3L, "text three", ev(4)), (4L, "text four", ev(4, 0.2f)),
        (5L, "text five", null.asInstanceOf[Seq[Float]]))
      val docs = mkEmbDocs(rows: _*)
      val pairs = operators.AnnLsh.nearDupPairs(spark,
          docs.filter(col("embedding").isNotNull)
            .select(col("doc_id").as("vec_id"), col("embedding")))
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      assert(pairs.map(_._2) == Set(2L, 4L), s"fixture drifted: $pairs")
      assert(DedupStore.appendBatch(spark, docs, dir, buckets = 4,
        emb = embCfg) == 3L)
      val got = DedupStore.readDocs(spark, dir)
        .select("doc_id").as[Long].collect().toSet
      assert(got == Set(1L, 3L, 5L),
        s"streamed survivors $got != batch twin {1,3,5} (5 is null-exempt)")
    } finally Fs.rmTree(dir)
  }

  test("emb mode: zero-norm embeddings are exempt like nulls, in stream AND batch (ADVICE r13)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsink_e0").toString
    try {
      val zero = Seq.fill(8)(0f)
      // cosine(0⃗, anything) is 0/0 = NaN, and Spark orders NaN above
      // every double — without the guard the second zero-vector doc
      // silently drops as a "semantic dup" of the first
      val batch1 = mkEmbDocs((1L, "text one", zero), (2L, "text two", zero),
        (3L, "text three", ev(0)))
      val pairs = operators.AnnLsh.nearDupPairs(spark,
          batch1.select(col("doc_id").as("vec_id"), col("embedding")))
        .collect()
      assert(pairs.isEmpty, s"zero vectors must pair with nothing: ${pairs.toSeq}")
      assert(DedupStore.appendBatch(spark, batch1, dir, buckets = 4,
        emb = embCfg) == 3L, "zero-norm docs must be exempt, not dropped")
      // cross-batch: a third zero vector is still exempt (nothing of the
      // first two landed in the emb seen-set); a true dup still drops
      assert(DedupStore.appendBatch(spark,
        mkEmbDocs((11L, "text eleven", zero), (12L, "text twelve", ev(0, 0.1f))),
        dir) == 1L)
      assert(DedupStore.readDocs(spark, dir)
        .select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L, 11L))
    } finally Fs.rmTree(dir)
  }

  test("emb mode composes with near mode: a re-encoded doc (new text, same embedding) drops; delete re-admits") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsink_e2").toString
    try {
      DedupStore.appendBatch(spark,
        mkEmbDocs((1L, para(1), ev(0)), (2L, para(2), ev(3))), dir,
        buckets = 4, near = near, emb = embCfg)
      // same CONTENT re-encoded: brand-new text (md5 and MinHash both
      // pass) but the embedding is a jittered copy — the semantic gate
      // is the only thing standing
      assert(DedupStore.appendBatch(spark,
        mkEmbDocs((11L, para(11), ev(0, 0.1f))), dir) == 0L,
        "re-encoded near-dup sailed past the semantic gate")
      // a lexical near-dup still drops at the MinHash gate even with an
      // orthogonal embedding — the gates COMPOSE
      assert(DedupStore.appendBatch(spark,
        mkEmbDocs((12L, para(1) + " tail", ev(6))), dir) == 0L,
        "lexical near-dup sailed past with a fresh embedding")
      // fresh on both axes: accepted
      assert(DedupStore.appendBatch(spark,
        mkEmbDocs((13L, para(13), ev(5))), dir) == 1L)
      // erasure forgets the embedding buckets too: the re-encoded copy
      // re-enters once doc 1 is erased
      assert(DedupStore.delete(spark, dir, Seq(1L)) == 1L)
      assert(DedupStore.appendBatch(spark,
        mkEmbDocs((11L, para(11), ev(0, 0.1f))), dir) == 1L)
      val got = DedupStore.readDocs(spark, dir)
        .select("doc_id").as[Long].collect().toSet
      assert(got == Set(2L, 11L, 13L), s"got $got")
      // and the re-entered copy's buckets now guard the store
      assert(DedupStore.appendBatch(spark,
        mkEmbDocs((14L, para(14), ev(0))), dir) == 0L)
      // replay convergence: nothing fresh, no version
      val v = StoreManifest.currentVersion(spark, dir)
      assert(DedupStore.appendBatch(spark,
        mkEmbDocs((13L, para(13), ev(5))), dir) == 0L &&
        StoreManifest.currentVersion(spark, dir) == v)
    } finally Fs.rmTree(dir)
  }

  test("emb mode, randomized: per-batch rule == batch operator, 3 batches, seeded vectors (VERDICT r13 #3)") {
    // the semantic twin of the randomized near-mode case: per delivered
    // batch,
    //   accepted = exactFirst(batch)
    //     − {b | ∃ a<b in batch: embPair(a,b)}              (batch rule)
    //     − {d | ∃ s ∈ ACCEPTED-so-far: embPair(d,s)}       (store rule)
    // with embPair() computed BY AnnLsh.nearDupPairs — the one shared
    // bucketing/threshold text (tables/planes/seed/θ = EmbConfig
    // defaults). Perturbations straddle θ=0.4 (dense boundary pairs +
    // a~b~c chains where greedy-vs-global differ); null and zero-norm
    // rows ride along as exempt.
    import operators.AnnLsh
    val rnd = new scala.util.Random(4242)
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      if (n > 0) v.map(x => (x / n).toFloat) else v
    }
    val bases = Array.fill(4)(unit(Array.fill(8)(rnd.nextGaussian().toFloat)))
    val docs: Seq[(Long, String, Seq[Float])] = (0L until 30L).map { id =>
      val emb: Seq[Float] =
        if (id % 11 == 10) null // null-exempt rows among the randomized ones
        else if (id == 25L) Seq.fill(8)(0f) // zero-norm-exempt too
        else {
          val b = bases(rnd.nextInt(4))
          val sigma = 0.3 + rnd.nextDouble() * 1.2
          unit(Array.tabulate(8)(i =>
            b(i) + (sigma * rnd.nextGaussian()).toFloat)).toSeq
        }
      (id, s"unique text $id", emb)
    }
    def gated(rows: Seq[(Long, String, Seq[Float])]) =
      rows.filter(r => r._3 != null && r._3.exists(_ != 0f))
    def pairsOf(rows: Seq[(Long, String, Seq[Float])]): Set[(Long, Long)] =
      AnnLsh.nearDupPairs(spark,
          mkEmbDocs(gated(rows): _*)
            .select(col("doc_id").as("vec_id"), col("embedding")))
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val batches = docs.grouped(10).toSeq // ascending-id batches
    val dir = java.nio.file.Files.createTempDirectory("graft_dsink_er").toString
    try {
      var accepted = Vector.empty[(Long, String, Seq[Float])]
      for (b <- batches) {
        // texts are all unique → the exact gate keeps everything
        val batchPairs = pairsOf(b)
        val dropWithin = batchPairs.map(_._2)
        val kept = b.filterNot(d => dropWithin(d._1))
        val crossPairs = pairsOf(accepted ++ kept)
          .filter { case (a, bb) =>
            accepted.exists(_._1 == a) && kept.exists(_._1 == bb) }
        val dropCross = crossPairs.map(_._2)
        accepted = accepted ++ kept.filterNot(d => dropCross(d._1))
        DedupStore.appendBatch(spark, mkEmbDocs(b: _*), dir, buckets = 4,
          emb = embCfg)
      }
      val got = DedupStore.readDocs(spark, dir)
        .select("doc_id").as[Long].collect().toSet
      val expect = accepted.map(_._1).toSet
      assert(got == expect,
        s"streamed ${got.toSeq.sorted} != per-batch-rule twin ${expect.toSeq.sorted}")
      // the fixture must exercise real semantic drops AND real keeps
      // among the gated rows, and every exempt row must be accepted
      val exempt = docs.filterNot(d => gated(Seq(d)).nonEmpty).map(_._1).toSet
      assert(exempt.subsetOf(got), s"exempt rows must all be accepted: $exempt vs $got")
      val gatedCount = docs.size - exempt.size
      assert(expect.size - exempt.size < gatedCount,
        "fixture produced no semantic drops — widen the perturbations")
      assert(expect.size - exempt.size > gatedCount / 4,
        "fixture dropped nearly everything — tighten the perturbations")
    } finally Fs.rmTree(dir)
  }

  test("composed gates disagreeing on one batch: each doc drops at its own gate; seen-rows land only for the accepted") {
    // one batch where the three families give CONFLICTING verdicts per
    // doc — the composition order (exact → lexical → semantic) and the
    // land-only-final-accepted invariant are what is under test
    val dir = java.nio.file.Files.createTempDirectory("graft_dsink_cg").toString
    try {
      assert(DedupStore.appendBatch(spark,
        mkEmbDocs((1L, para(1), ev(0))), dir, buckets = 4,
        near = near, emb = embCfg) == 1L)
      val batch = mkEmbDocs(
        (21L, para(1) + " tail", ev(3)),      // lexical dup of 1, semantically fresh → DROP (lexical)
        (22L, para(22), ev(0, 0.1f)),         // lexically fresh, semantic re-encode of 1 → DROP (semantic)
        (23L, para(1), ev(5)),                // exact dup of 1 (same text) → DROP (exact)
        (24L, para(24), ev(6)))               // fresh on all three axes → ACCEPT
      assert(DedupStore.appendBatch(spark, batch, dir) == 1L)
      val got = DedupStore.readDocs(spark, dir)
        .select("doc_id").as[Long].collect().toSet
      assert(got == Set(1L, 24L), s"composed gate verdicts wrong: $got")
      // land-only-final-accepted: doc 21 passed the exact gate and doc
      // 22 passed the lexical gate, but NONE of their probe rows may be
      // in any family's seen-set — staging a gate's rows for a doc a
      // later gate drops would poison future probes
      val nearIds = spark.read.parquet(s"$dir/near")
        .select("doc_id").as[Long].collect().toSet
      val embIds = spark.read.parquet(s"$dir/embs")
        .select("doc_id").as[Long].collect().toSet
      assert(nearIds == Set(1L, 24L), s"near bands leaked for dropped docs: $nearIds")
      assert(embIds == Set(1L, 24L), s"emb rows leaked for dropped docs: $embIds")
      // and the fp seen-set holds exactly the accepted fingerprints
      val fpCount = DedupStore.readSeen(spark, dir).count()
      assert(fpCount == 2L, s"fp rows must be the accepted set only: $fpCount")
    } finally Fs.rmTree(dir)
  }

  // ---- the one-join near-dup probe: batch rule and store rule fused ----

  /** Disjoint word runs: `run(k, n)` never shares a token with another k. */
  private def run(k: Int, n: Int): String =
    (0 until n).map(i => s"r${k}x$i").mkString(" ")

  test("near probe: a chain a < b < c with b~a, c~b, c!~a drops both b and c (batch rule)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsink_ch").toString
    try {
      // b shares a 30-token run with a and another with c; a and c share
      // nothing. At J ≈ 0.45 a pair meets in a band only about two times
      // in three, so the fixture takes the first of 12 disjoint chains
      // whose thresholded pairs are exactly (a, b) and (b, c)
      def chain(s: Int) = Seq(100L * s + 1 -> (run(10 * s + 1, 4) + " " + run(10 * s + 2, 30)),
        100L * s + 2 -> (run(10 * s + 2, 30) + " " + run(10 * s + 3, 30)),
        100L * s + 3 -> (run(10 * s + 3, 30) + " " + run(10 * s + 4, 4)))
      val pairs = operators.MinHashDedup.nearDupPairs(
          mkDocs((0 until 12).flatMap(chain): _*), threshold = 0.3)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      val s = (0 until 12).find(s => pairs.filter(_._1 / 100 == s) ==
        Set(100L * s + 1 -> (100L * s + 2), 100L * s + 2 -> (100L * s + 3)))
      assert(s.isDefined, s"fixture drifted: no exact chain among $pairs")
      val rows = chain(s.get).map { case (id, text) => (id % 100) -> text }
      // keep-first drops the b-side of EVERY thresholded pair, so c drops
      // on b even though b itself drops (a greedy rule would keep c)
      assert(DedupStore.appendBatch(spark, mkDocs(rows: _*), dir, buckets = 4,
        near = near) == 1L)
      assert(DedupStore.readDocs(spark, dir).select("doc_id").as[Long]
        .collect().toSet == Set(1L))
      assert(spark.read.parquet(s"$dir/near").select("doc_id").as[Long]
        .collect().toSet == Set(1L), "bands land for the accepted doc only")
    } finally Fs.rmTree(dir)
  }

  test("near probe: a doc that is both a batch drop and a store drop drops once; bands land for the accepted only") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsink_bs").toString
    try {
      assert(DedupStore.appendBatch(spark, mkDocs(1L -> para(1)), dir,
        buckets = 4, near = near) == 1L)
      // 11 is a near-dup of the stored 1 AND of the smaller batch id 10
      val batch = mkDocs(10L -> (para(1) + " tail"), 11L -> (para(1) + " end"),
        12L -> para(12))
      val pairs = operators.MinHashDedup.nearDupPairs(
          mkDocs(1L -> para(1), 10L -> (para(1) + " tail"),
            11L -> (para(1) + " end"), 12L -> para(12)), threshold = 0.3)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      assert(Set(1L -> 10L, 1L -> 11L, 10L -> 11L).subsetOf(pairs) &&
        !pairs.exists(_._2 == 12L), s"fixture drifted: $pairs")
      val st = DedupStore.appendBatchStats(spark, batch, dir)
      assert(st.exactFresh == 3L && st.lexicalKept == 1L && st.accepted == 1L, st.toString)
      assert(DedupStore.readDocs(spark, dir).select("doc_id").as[Long]
        .collect().toSet == Set(1L, 12L))
      val nearRows = spark.read.parquet(s"$dir/near")
      assert(nearRows.select("doc_id").as[Long].collect().toSet == Set(1L, 12L))
      assert(nearRows.count() == 2L * near.get.bands, "one band row per band per doc")
    } finally Fs.rmTree(dir)
  }

  test("appendBatchStats: the gate waterfall over every drop kind") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsink_wf").toString
    try {
      assert(DedupStore.appendBatch(spark, mkEmbDocs((1L, para(1), ev(0))), dir,
        buckets = 4, near = near, emb = embCfg) == 1L)
      val batch = Seq(
        ("x", "unparseable id", ev(4)),   // invalid → exact
        ("2", para(1), ev(5)),            // exact dup of the store → exact
        ("3", para(3), ev(1)),            // fresh → accepted
        ("4", para(3), ev(2)),            // within-batch exact dup of 3 → exact
        ("5", para(1) + " tail", ev(3)),  // lexical dup of 1 → lexical
        ("6", para(6), ev(0, 0.1f)),      // semantic dup of 1 → semantic
        ("7", para(7), ev(6)))            // fresh → accepted
        .toDF("doc_id", "text", "embedding")
      val v = StoreManifest.currentVersion(spark, dir)
      assert(DedupStore.appendBatchStats(spark, batch, dir) ==
        DedupStore.AppendStats(batchRows = 7L, exactFresh = 4L, lexicalKept = 3L,
          accepted = 2L, version = v + 1))
      assert(DedupStore.readDocs(spark, dir).select("doc_id").as[Long]
        .collect().toSet == Set(1L, 3L, 7L))
    } finally Fs.rmTree(dir)
  }

  test("an all-invalid batch and an empty batch commit nothing and return") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsink_ev").toString
    try {
      val invalid = Seq(("x", "bad", ev(0)), (null, "bad too", ev(1)))
        .toDF("doc_id", "text", "embedding")
      val empty = invalid.limit(0)
      def timed[A](f: => A): A = {
        val t0 = System.nanoTime()
        val out = f
        assert((System.nanoTime() - t0) / 1e9 < operators.Observed.MetricsWait.toSeconds)
        out
      }
      // on a fresh store (nothing committed yet) and on a committed one
      for (prime <- Seq(false, true)) {
        if (prime) assert(DedupStore.appendBatch(spark, mkEmbDocs((1L, para(1), ev(0))),
          dir, buckets = 4, near = near, emb = embCfg) == 1L)
        val v = StoreManifest.currentVersion(spark, dir)
        for (batch <- Seq(invalid, empty)) {
          assert(timed(DedupStore.appendBatch(spark, batch, dir, buckets = 4,
            near = near, emb = embCfg)) == 0L)
          val st = timed(DedupStore.appendBatchStats(spark, batch, dir, buckets = 4,
            near = near, emb = embCfg))
          assert(st == DedupStore.AppendStats(batch.count(), 0L, 0L, 0L, -1L), st.toString)
          assert(StoreManifest.currentVersion(spark, dir) == v, "nothing may commit")
        }
      }
    } finally Fs.rmTree(dir)
  }

  test("emb probe: a chain a < b < c drops both b and c; a store match drops a batch doc once") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsink_ec").toString
    try {
      // b sits between a's axis and c's (cosine ≈ 0.71 to each); a and c
      // are orthogonal
      val diag = Seq(1f, 1f) ++ Seq.fill(6)(0f)
      val rows = Seq((1L, "text one", ev(0)), (2L, "text two", diag),
        (3L, "text three", ev(1)))
      val pairs = operators.AnnLsh.nearDupPairs(spark,
          mkEmbDocs(rows: _*).select(col("doc_id").as("vec_id"), col("embedding")))
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      assert(pairs == Set(1L -> 2L, 2L -> 3L), s"fixture drifted: $pairs")
      assert(DedupStore.appendBatch(spark, mkEmbDocs(rows: _*), dir, buckets = 4,
        emb = embCfg) == 1L)
      // 11 and 12 both match the stored 1, and 12 also matches the
      // smaller batch id 11; 13 is fresh
      val st = DedupStore.appendBatchStats(spark, mkEmbDocs(
        (11L, "text eleven", ev(0, 0.1f)), (12L, "text twelve", ev(0, 0.2f)),
        (13L, "text thirteen", ev(5))), dir)
      assert(st.lexicalKept == 3L && st.accepted == 1L, st.toString)
      assert(DedupStore.readDocs(spark, dir).select("doc_id").as[Long]
        .collect().toSet == Set(1L, 13L))
      assert(spark.read.parquet(s"$dir/embs").select("doc_id").as[Long]
        .collect().toSet == Set(1L, 13L), "emb rows land for the accepted only")
    } finally Fs.rmTree(dir)
  }

  test("poison rows drop instead of wedging the trigger; bucket modulus is baked") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsink_p").toString
    try {
      val poisoned = Seq(("7", "keep"), ("not-a-long", "drop"), (null, "drop2"))
        .toDF("doc_id", "text")
      assert(DedupStore.appendBatch(spark, poisoned, dir, buckets = 4) == 1L)
      // a later caller passing a DIFFERENT modulus must not poison the
      // probe: the store's baked value wins (r11 bucket-modulus lesson)
      assert(DedupStore.appendBatch(spark,
        mkDocs((8L, "keep"), (9L, "fresh")), dir, buckets = 32) == 1L)
      val got = DedupStore.readDocs(spark, dir)
        .select("doc_id").as[Long].collect().toSet
      assert(got == Set(7L, 9L), s"got $got")
      val cur = StoreManifest.currentVersion(spark, dir)
      assert(StoreManifest.read(spark, dir, cur, "buckets") == Seq("4"),
        "first commit's modulus must stay baked")
    } finally Fs.rmTree(dir)
  }
}
