package graft

import graft.operators.{InvertedIndex, StoreManifest}
import org.apache.spark.sql.functions._

/** Positional inverted index (operators.InvertedIndex): exact phrase
  * semantics on a hand corpus (overlaps, repeated terms, no match),
  * persisted-search ≡ in-memory recomputation on real documents,
  * bucket function fidelity vs Spark's xxhash64, and the
  * directory-level prune that makes a lookup O(terms).
  */
class InvertedIndexSpec extends SparkSpec {

  private def handCorpus = {
    import spark.implicits._
    Seq(
      (1L, "a b c a b c"),   // "a b" twice; "b c a" once
      (2L, "a a a"),          // "a a" overlaps: twice
      (3L, "c b a"),          // reversed — no "a b"
      (4L, "a b")             // exactly one "a b"
    ).toDF("doc_id", "text")
  }

  private def occ(phrase: String): Map[Long, Long] = {
    val idx = InvertedIndex.build(handCorpus)
    InvertedIndex.phraseOccurrences(idx,
        InvertedIndex.phraseFrame(spark, phrase.split(' ').toSeq))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("phrase semantics: overlap counted, repeated terms, absent phrase") {
    assert(occ("a b") == Map(1L -> 2L, 4L -> 1L))
    assert(occ("a a") == Map(2L -> 2L)) // overlapping occurrences
    assert(occ("b c a") == Map(1L -> 1L))
    assert(occ("c a c") == Map.empty[Long, Long]) // never occurs
  }

  test("bucketOf matches Spark's xxhash64 pmod for every corpus term") {
    import spark.implicits._
    val buckets = 32
    val terms = Tables.t(spark, sfDir, "documents")
      .select(explode(split(col("text"), " ")).as("term")).distinct()
    val sparkSide = terms
      .select(col("term"), pmod(xxhash64(col("term")), lit(buckets.toLong)).as("b"))
      .as[(String, Long)].collect()
    val bad = sparkSide.filter { case (t, b) =>
      InvertedIndex.bucketOf(t, buckets) != b
    }
    assert(bad.isEmpty, s"bucketOf diverges from xxhash64 for: ${bad.take(5).mkString(", ")}")
  }

  test("append: search-after-append == full rebuild; old postings untouched") {
    import spark.implicits._
    val docs = Tables.t(spark, sfDir, "documents")
    val old = docs.filter(col("doc_id") % 2 === 0)
    val fresh = docs.filter(col("doc_id") % 2 === 1)
    val incDir = java.nio.file.Files.createTempDirectory("graft_idxinc").toString
    val fullDir = java.nio.file.Files.createTempDirectory("graft_idxfull").toString
    try {
      InvertedIndex.write(InvertedIndex.build(old), incDir)
      val beforeFiles = spark.read.parquet(incDir).inputFiles.toSet
      assert(InvertedIndex.append(fresh, incDir, 0L))
      assert(spark.read.parquet(incDir).inputFiles.toSet.intersect(beforeFiles)
        == beforeFiles, "append rewrote pre-existing posting files")
      // a replayed append of the same batch is a committed no-op
      val afterFiles = spark.read.parquet(incDir).inputFiles.toSet
      assert(!InvertedIndex.append(fresh, incDir, 0L))
      assert(spark.read.parquet(incDir).inputFiles.toSet == afterFiles)
      InvertedIndex.write(InvertedIndex.build(docs), fullDir)
      val toks = docs.orderBy("doc_id")
        .select(split(col("text"), " ").as("t")).head().getSeq[String](0)
        .take(3).toSeq
      def res(dir: String) = InvertedIndex.searchPhrase(spark, dir, toks)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val (inc, full) = (res(incDir), res(fullDir))
      assert(inc == full, "incremental index search != full-rebuild search")
      assert(inc.nonEmpty)
    } finally { Fs.rmTree(incDir); Fs.rmTree(fullDir) }
  }

  test("IndexSink: streamed index == batch rebuild; torn tmp heals on replay") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.t(spark, sfDir, "documents")
    val rows = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val slices = rows.grouped((rows.size + 1) / 2).toSeq
    val streamDir = java.nio.file.Files.createTempDirectory("graft_idxsink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_idxsink_ck").toString
    val freshCkpt = java.nio.file.Files.createTempDirectory("graft_idxsink_ck2").toString
    val fullDir = java.nio.file.Files.createTempDirectory("graft_idxsink_full").toString
    try {
      // a torn earlier attempt: junk where batch 0's segment lands
      val torn = new java.io.File(streamDir, "seg=b0")
      torn.mkdirs()
      java.nio.file.Files.writeString(
        new java.io.File(torn, "junk.parquet").toPath, "not parquet")
      val in = MemoryStream[(Long, String)]
      def start() = graft.streaming.IndexSink.start(
        in.toDF().toDF("doc_id", "text"), streamDir, ckpt)
      val q = start()
      try { in.addData(slices(0)); q.processAllAvailable() } finally q.stop()
      val v0 = StoreManifest.currentVersion(spark, streamDir)
      // a fresh checkpoint restarts at batch 0 — the store's high-water,
      // applied by another query: refused, nothing committed
      val other = MemoryStream[(Long, String)]
      val qf = graft.streaming.IndexSink.start(
        other.toDF().toDF("doc_id", "text"), streamDir, freshCkpt)
      try {
        other.addData(slices(1))
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
          qf.processAllAvailable())
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(c => Option(c.getMessage).exists(_.contains("fresh checkpoint"))), e.toString)
      } finally qf.stop()
      assert(StoreManifest.currentVersion(spark, streamDir) == v0, "the refused batch committed")
      // the query dies after the store's commit, before Spark's commit
      // log: its restart re-runs batch 0 under the same query id — a no-op
      Seq("0", ".0.crc").foreach(f => java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(ckpt, "commits", f)))
      val q2 = start()
      try {
        q2.processAllAvailable()
        assert(java.nio.file.Files.exists(java.nio.file.Paths.get(ckpt, "commits", "0")),
          "test premise: the restart re-ran batch 0")
        assert(StoreManifest.currentVersion(spark, streamDir) == v0, "the replayed batch committed")
        in.addData(slices(1)); q2.processAllAvailable()
        // an empty trigger commits no index version
        val v = graft.operators.StoreManifest.currentVersion(spark, streamDir)
        in.addData(Seq.empty[(Long, String)]); q2.processAllAvailable()
        assert(graft.operators.StoreManifest.currentVersion(spark, streamDir) == v,
          "an empty trigger committed an index version")
      } finally q2.stop()
      InvertedIndex.write(InvertedIndex.build(docs), fullDir)
      val toks = docs.orderBy("doc_id")
        .select(split(col("text"), " ").as("t")).head().getSeq[String](0)
        .take(3).toSeq
      def res(dir: String) = InvertedIndex.searchPhrase(spark, dir, toks)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val (streamed, full) = (res(streamDir), res(fullDir))
      assert(streamed == full, "streamed index search != batch rebuild")
      assert(streamed.nonEmpty)
      // the aux rides every streamed segment's commit too: BM25 off the
      // stream-built store must equal a batch build BITWISE — per-term
      // scores are IEEE-identical and the per-doc sum is a term-sorted
      // left fold, so no layout-dependent summation order survives
      def bm(dir: String) = InvertedIndex.searchBm25(spark, dir, toks.distinct)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val (sb, fb) = (bm(streamDir), bm(fullDir))
      assert(sb == fb, "streamed-store BM25 != batch-store BM25 (bitwise)")
      assert(sb.nonEmpty)
    } finally { Fs.rmTree(streamDir); Fs.rmTree(ckpt); Fs.rmTree(freshCkpt); Fs.rmTree(fullDir) }
  }

  test("a store committed without an hw line is refused by writes and still served") {
    val docs = Tables.t(spark, sfDir, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_idxold").toString
    try {
      InvertedIndex.write(InvertedIndex.build(docs.filter(col("doc_id") % 2 === 0)), dir)
      val n = InvertedIndex.docLengths(spark, dir).count()
      // the layout before the guard: the same lines, no `hw`
      StoreManifest.commit(spark, dir, 1L, StoreManifest.readLines(spark, dir, 0L)
        .filterNot(_.startsWith("hw\t")))
      val e = intercept[IllegalArgumentException](
        InvertedIndex.append(docs.filter(col("doc_id") % 2 === 1), dir, 0L))
      assert(e.getMessage.contains("no `hw` line") && e.getMessage.contains(dir), e.getMessage)
      intercept[IllegalArgumentException](InvertedIndex.highWater(spark, dir))
      assert(StoreManifest.currentVersion(spark, dir) == 1L, "the refused append committed")
      assert(InvertedIndex.docLengths(spark, dir).count() == n)
    } finally Fs.rmTree(dir)
  }

  test("bucket count is committed: reads ignore a mismatched caller; append/compact inherit it") {
    // ADVICE r10: a store written with B buckets but searched with the
    // default pruned the wrong dirs and silently missed postings; the
    // count is now a manifest line every path resolves
    val docs = Tables.t(spark, sfDir, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_idxbkt").toString
    try {
      InvertedIndex.write(InvertedIndex.build(docs.filter(col("doc_id") % 2 === 0)),
        dir, buckets = 8)
      // the append passes a WRONG count — the store's committed 8 must win
      assert(InvertedIndex.append(docs.filter(col("doc_id") % 2 === 1),
        dir, 0L, buckets = 16))
      def bucketDirs(seg: String): Set[String] =
        Option(new java.io.File(dir, seg).listFiles()).toSeq.flatten
          .map(_.getName).filter(_.startsWith("bucket=")).toSet
      for (seg <- InvertedIndex.segments(spark, dir))
        assert(bucketDirs(seg).forall(_.stripPrefix("bucket=").toInt < 8),
          s"$seg was written outside the store's 8-bucket layout")
      val toks = docs.orderBy("doc_id")
        .select(split(col("text"), " ").as("t")).head().getSeq[String](0)
        .take(3).toSeq
      def phr() = InvertedIndex.searchPhrase(spark, dir, toks)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val truth = phr()
      assert(truth.nonEmpty)
      // searchBm25TopK still takes a count: the default 32 must prune
      // with the committed 8 and find every candidate the exhaustive
      // scorer finds
      val exhaustive = topkRows(InvertedIndex.searchBm25(spark, dir, toks.distinct)
        .orderBy(col("bm25").desc, col("doc_id")).limit(5))
      assert(exhaustive.nonEmpty)
      assert(topkRows(InvertedIndex.searchBm25TopK(spark, dir, toks.distinct, 5,
        buckets = 32)) == exhaustive, "default-count top-k diverged from the store's count")
      // compact must rewrite in the committed count, not re-bucket
      assert(InvertedIndex.compact(spark, dir) > 0)
      for (seg <- InvertedIndex.segments(spark, dir))
        assert(bucketDirs(seg).forall(_.stripPrefix("bucket=").toInt < 8),
          s"compact re-bucketed $seg out from under committed readers")
      assert(phr() == truth, "post-compact search diverged")
      assert(graft.operators.StoreManifest.read(spark, dir,
        graft.operators.StoreManifest.currentVersion(spark, dir), "buckets") == Seq("8"))
    } finally Fs.rmTree(dir)
  }

  test("append refuses to adopt a superseded pre-compaction segment dir") {
    // ADVICE r10: a compacted-away segment dir, retained on disk for an
    // older manifest's readers, passed the crash-window heal under a
    // reused name (fresh checkpoint restarting at b0) — the new batch's
    // data was silently replaced by stale pre-compaction postings. The
    // fresh checkpoint's batch 0 sits at the store's high-water under a
    // new query id: refused, not taken for a replay
    val docs = Tables.t(spark, sfDir, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_idxadopt").toString
    try {
      InvertedIndex.write(InvertedIndex.build(docs.filter(col("doc_id") % 3 === 0)), dir)
      assert(asQuery("checkpoint-a")(
        InvertedIndex.append(docs.filter(col("doc_id") % 3 === 1), dir, 0L)))
      assert(InvertedIndex.compact(spark, dir) > 0)
      // default retention keeps the pre-compaction manifest, so its
      // segment dirs survive vacuum — exactly the trap
      assert(new java.io.File(dir, "seg=b0").exists(),
        "test premise: superseded seg dir must still be on disk")
      val before = InvertedIndex.segments(spark, dir)
      val e = intercept[IllegalArgumentException](asQuery("checkpoint-b")(
        InvertedIndex.append(docs.filter(col("doc_id") % 3 === 2), dir, 0L)))
      assert(e.getMessage.contains("fresh checkpoint") &&
        e.getMessage.contains(dir), e.getMessage)
      assert(InvertedIndex.segments(spark, dir) == before,
        "refused append must commit nothing")
    } finally Fs.rmTree(dir)
  }

  test("compact: search-after-compact == search-before; one live segment; inputs swept") {
    import spark.implicits._
    val docs = Tables.t(spark, sfDir, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_idxcpt").toString
    try {
      // five appended segments (disjoint doc slices)
      (0 until 5).foreach { i =>
        assert(InvertedIndex.append(docs.filter(col("doc_id") % 5 === i),
          dir, i.toLong))
      }
      assert(InvertedIndex.segments(spark, dir).size == 5)
      val toks = docs.orderBy("doc_id")
        .select(split(col("text"), " ").as("t")).head().getSeq[String](0)
        .take(3).toSeq
      def res() = InvertedIndex.searchPhrase(spark, dir, toks)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val before = res()
      assert(before.nonEmpty)
      assert(InvertedIndex.compact(spark, dir, retainVersions = 1) == 5)
      assert(res() == before, "compaction changed search results")
      assert(InvertedIndex.segments(spark, dir).size == 1,
        "compaction must leave exactly one live segment")
      // retainVersions = 1: merged inputs are unreferenced and swept
      val onDisk = new java.io.File(dir).listFiles()
        .map(_.getName).filter(_.startsWith("seg=")).toSeq
      assert(onDisk == Seq(InvertedIndex.segments(spark, dir).head),
        s"merged input segments not swept: $onDisk")
      // a second compact below threshold is a no-op
      assert(InvertedIndex.compact(spark, dir) == 0)
      // posting content (not just phrase counts) matches a fresh build:
      // (term, doc_id, positions, tf) sets are identical
      val live = InvertedIndex.segments(spark, dir).head
      val stored = spark.read.parquet(s"$dir/$live")
        .select(col("term"), col("doc_id"),
          concat_ws(",", col("positions").cast("array<string>")).as("p"), col("tf"))
        .as[(String, Long, String, Long)].collect().toSet
      val fresh = InvertedIndex.build(docs)
        .select(col("term"), col("doc_id"),
          concat_ws(",", col("positions").cast("array<string>")).as("p"), col("tf"))
        .as[(String, Long, String, Long)].collect().toSet
      assert(stored == fresh, "compacted postings diverge from a fresh build")
    } finally Fs.rmTree(dir)
  }

  test("append crash window: data renamed, manifest not committed — replay commits it") {
    val docs = Tables.t(spark, sfDir, "documents")
    val old = docs.filter(col("doc_id") % 2 === 0)
    val fresh = docs.filter(col("doc_id") % 2 === 1)
    val toks = docs.orderBy("doc_id")
      .select(split(col("text"), " ").as("t")).head().getSeq[String](0)
      .take(3).toSeq
    def res(d: String) = InvertedIndex.searchPhrase(spark, d, toks)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def bm(d: String) = InvertedIndex.searchBm25(spark, d, toks.distinct)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val full = java.nio.file.Files.createTempDirectory("graft_idxcw_full").toString
    try {
      InvertedIndex.write(InvertedIndex.build(docs), full)
      // the crashed append joins a committed base, or was the first
      // append into an empty dir (healed as version 0)
      for (withBase <- Seq(true, false)) {
        val dir = java.nio.file.Files.createTempDirectory("graft_idxcw").toString
        try {
          if (withBase) InvertedIndex.write(InvertedIndex.build(old), dir)
          crashBeforeCommit(dir)(d => InvertedIndex.append(fresh, d, 0L))
          // readers on the committed version do not see the orphan segment
          val committed = if (withBase) Seq("seg=base") else Nil
          assert(InvertedIndex.segments(spark, dir) == committed)
          // the replayed append rewrites the orphan and commits it
          assert(InvertedIndex.append(fresh, dir, 0L))
          assert(graft.operators.StoreManifest.currentVersion(spark, dir) ==
            (if (withBase) 1L else 0L), s"withBase=$withBase: heal committed the wrong version")
          assert(InvertedIndex.segments(spark, dir).toSet == (committed :+ "seg=b0").toSet)
          if (!withBase) assert(InvertedIndex.append(old, dir, 1L))
          assert(res(dir) == res(full), s"withBase=$withBase: healed phrase search != full rebuild")
          assert(bm(dir) == bm(full), s"withBase=$withBase: healed BM25 != full rebuild (bitwise)")
        } finally Fs.rmTree(dir)
      }
      assert(res(full).nonEmpty && bm(full).nonEmpty)
    } finally Fs.rmTree(full)
  }

  test("compact crash window: merged segment written, manifest not committed — readers keep the previous version; replay converges") {
    val docs = Tables.t(spark, sfDir, "documents")
    val toks = docs.orderBy("doc_id")
      .select(split(col("text"), " ").as("t")).head().getSeq[String](0)
      .take(3).toSeq
    def res(d: String) = InvertedIndex.searchPhrase(spark, d, toks)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def bm(d: String) = InvertedIndex.searchBm25(spark, d, toks.distinct)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val dir = java.nio.file.Files.createTempDirectory("graft_idxccw").toString
    val twin = java.nio.file.Files.createTempDirectory("graft_idxccw_twin").toString
    try {
      for (d <- Seq(dir, twin); i <- 0 until 3)
        assert(InvertedIndex.append(docs.filter(col("doc_id") % 3 === i), d, i.toLong))
      val (segs, phrase, scores) = (InvertedIndex.segments(spark, dir), res(dir), bm(dir))
      crashBeforeCommit(dir)(d => InvertedIndex.compact(spark, d))
      assert(InvertedIndex.segments(spark, dir) == segs,
        "an uncommitted merged segment became live")
      assert(res(dir) == phrase && bm(dir) == scores,
        "readers of the previous version saw the crashed compaction")
      // the replayed compaction converges to a crash-free one
      assert(InvertedIndex.compact(spark, dir) == 3)
      assert(InvertedIndex.compact(spark, twin) == 3)
      assert(InvertedIndex.segments(spark, dir).size == 1)
      assert(res(dir) == res(twin) && bm(dir) == bm(twin),
        "the replayed compaction diverges from a crash-free one")
      // the crashed attempt's segment is swept: disk = retained segments
      val referenced = graft.operators.StoreManifest.versions(spark, dir).flatMap(v =>
        segNames(dir, v)).toSet
      val onDisk = new java.io.File(dir).listFiles()
        .map(_.getName).filter(_.startsWith("seg=")).toSet
      assert(onDisk == referenced, s"crashed compaction left ${onDisk -- referenced}")
    } finally { Fs.rmTree(dir); Fs.rmTree(twin) }
  }

  test("rebuild never claims a crashed append's segment name; the replayed batch survives") {
    import spark.implicits._
    val docs = Tables.t(spark, sfDir, "documents")
    val old = docs.filter(col("doc_id") % 2 === 0)
    val fresh = docs.filter(col("doc_id") % 2 === 1)
    val dir = java.nio.file.Files.createTempDirectory("graft_idxclaim").toString
    try {
      InvertedIndex.write(InvertedIndex.build(old), dir) // v0: seg=base
      // a crashed append: data written, manifest never committed
      crashBeforeCommit(dir)(d => InvertedIndex.append(fresh, d, 0L))
      // an in-place rebuild interleaves BEFORE the replay: claiming
      // seg=b0 would make the replay see its name committed and no-op —
      // the appended batch would be silently lost forever
      InvertedIndex.write(InvertedIndex.build(old), dir)
      val rebuilt = InvertedIndex.segments(spark, dir)
      assert(rebuilt.size == 1 && rebuilt != Seq("seg=b0"),
        "rebuild claimed the crashed append's segment name")
      // the replay re-applies the batch (restaging from source if the
      // rebuild's vacuum already swept the unreferenced orphan)
      assert(InvertedIndex.append(fresh, dir, 0L),
        "replay of the crashed append no-opped — its batch is lost")
      val toks = docs.orderBy("doc_id")
        .select(split(col("text"), " ").as("t")).head().getSeq[String](0)
        .take(3).toSeq
      val full = java.nio.file.Files.createTempDirectory("graft_idxclaim_full").toString
      try {
        InvertedIndex.write(InvertedIndex.build(docs), full)
        def res(d: String) = InvertedIndex.searchPhrase(spark, d, toks)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(res(dir) == res(full),
          "rebuild + replayed append diverges from a full rebuild")
      } finally Fs.rmTree(full)
    } finally Fs.rmTree(dir)
  }

  test("IndexSink bounds segment count: compaction keeps fan-in <= maxSegments") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.t(spark, sfDir, "documents")
    val rows = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val slices = rows.grouped(math.max(1, rows.size / 8)).toSeq // ~8+ triggers
    val dir = java.nio.file.Files.createTempDirectory("graft_idxbnd").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_idxbnd_ck").toString
    val fullDir = java.nio.file.Files.createTempDirectory("graft_idxbnd_full").toString
    try {
      val in = MemoryStream[(Long, String)]
      val q = graft.streaming.IndexSink.start(
        in.toDF().toDF("doc_id", "text"), dir, ckpt, maxSegments = 3)
      val maxSeen = scala.collection.mutable.ArrayBuffer.empty[Int]
      try slices.foreach { s =>
        in.addData(s); q.processAllAvailable()
        maxSeen += InvertedIndex.segments(spark, dir).size
      } finally q.stop()
      assert(slices.size >= 8, s"fixture too small: ${slices.size} triggers")
      assert(maxSeen.max <= 4, // one append past the threshold triggers the merge
        s"segment count unbounded under streaming: $maxSeen")
      InvertedIndex.write(InvertedIndex.build(docs), fullDir)
      val toks = docs.orderBy("doc_id")
        .select(split(col("text"), " ").as("t")).head().getSeq[String](0)
        .take(3).toSeq
      def res(d: String) = InvertedIndex.searchPhrase(spark, d, toks)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(res(dir) == res(fullDir),
        "compacting streamed index diverges from batch rebuild")
    } finally { Fs.rmTree(dir); Fs.rmTree(ckpt); Fs.rmTree(fullDir) }
  }

  test("tiered compaction: smallest segments fold; the largest segment's files are not rewritten") {
    import spark.implicits._
    val docs = Tables.t(spark, sfDir, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_idxtier").toString
    try {
      assert(InvertedIndex.append(docs.filter(col("doc_id") % 10 < 7), dir, 0L))
      (7 to 9).foreach { i =>
        assert(InvertedIndex.append(docs.filter(col("doc_id") % 10 === i), dir, i.toLong))
      }
      def filesOf(seg: String): Map[String, Long] = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
          else Seq(f)
        walk(new java.io.File(dir, seg))
          .map(f => f.getPath -> f.lastModified()).toMap
      }
      val bigBefore = filesOf("seg=b0")
      // 4 live, target 2: the 3 smallest (the s* slices) fold into one;
      // the big segment graduates out of the merge pool untouched —
      // write amplification must not track index size
      assert(InvertedIndex.compact(spark, dir, targetSegs = 2) == 3)
      val live = InvertedIndex.segments(spark, dir)
      assert(live.size == 2 && live.contains("seg=b0"),
        s"tiered merge rewrote the large segment: $live")
      assert(filesOf("seg=b0") == bigBefore,
        "the kept segment's files were rewritten or touched")
      // at/below target: no-op
      assert(InvertedIndex.compact(spark, dir, targetSegs = 2) == 0)
      // search parity with a full rebuild
      val toks = docs.orderBy("doc_id")
        .select(split(col("text"), " ").as("t")).head().getSeq[String](0)
        .take(3).toSeq
      val full = java.nio.file.Files.createTempDirectory("graft_idxtier_full").toString
      try {
        InvertedIndex.write(InvertedIndex.build(docs), full)
        def res(d: String) = InvertedIndex.searchPhrase(spark, d, toks)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(res(dir) == res(full), "tiered compaction changed search results")
        // doc lengths survive the merge: the folded segment's _doclen is
        // re-derived from its merged postings, kept segments keep theirs
        def dls(d: String) = InvertedIndex.docLengths(spark, d)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(dls(dir) == dls(full),
          "doc-length aux diverges from a fresh build after tiered merge")
      } finally Fs.rmTree(full)
    } finally Fs.rmTree(dir)
  }

  test("bm25: hand-checked scores; persisted retrieval == in-memory formula") {
    import spark.implicits._
    // hand corpus, query {a, b}: N=4, dl = (6,3,3,2), df(a)=4, df(b)=3
    val idx = InvertedIndex.build(handCorpus)
    def stats(ix: org.apache.spark.sql.DataFrame) =
      ix.select(col("doc_id"), col("dl")).distinct()
        .agg(count(lit(1)).as("n_docs"), sum("dl").as("tot_dl"))
    val got = InvertedIndex.bm25(idx.filter(col("term").isin("a", "b")), stats(idx))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def s(tf: Long, df: Long, dl: Long): Double = // Bm25ScoreSql, same op order
      math.log(1.0 + (4L - df + 0.5) / (df + 0.5)) * (tf * (1.2 + 1.0)) /
        (tf + 1.2 * ((1.0 - 0.75) + (0.75 * dl) / (14L.toDouble / 4L)))
    val exp = Map(
      1L -> (2L, s(2, 4, 6) + s(2, 3, 6)),
      2L -> (1L, s(3, 4, 3)),
      3L -> (2L, s(1, 4, 3) + s(1, 3, 3)),
      4L -> (2L, s(1, 4, 2) + s(1, 3, 2)))
    assert(got.keySet == exp.keySet, s"candidate set wrong: ${got.keySet}")
    exp.foreach { case (d, (n, sc)) =>
      assert(got(d)._1 == n, s"doc $d matched-term count")
      assert(math.abs(got(d)._2 - sc) < 2e-6,
        s"doc $d score ${got(d)._2} != expected $sc")
    }
    // persisted path (pruned buckets + manifest stats) == in-memory formula
    val docs = Tables.t(spark, sfDir, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_idxbm25").toString
    try {
      InvertedIndex.write(InvertedIndex.build(docs), dir)
      val terms = InvertedIndex.topSpan(docs).split(' ').toSeq.distinct
      val full = InvertedIndex.build(docs).localCheckpoint()
      val direct = InvertedIndex.bm25(
          full.filter(col("term").isin(terms: _*)), stats(full))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val stored = InvertedIndex.searchBm25(spark, dir, terms)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      // bitwise: the ordered fold makes persisted == in-memory exact
      assert(stored == direct, "persisted BM25 != in-memory BM25 (bitwise)")
      assert(stored.nonEmpty)
      // the public corpusStats accessor agrees with the doc-length table
      val st = InvertedIndex.corpusStats(spark, dir).collect()(0)
      val viaDl = InvertedIndex.docLengths(spark, dir)
        .agg(count(lit(1)), sum("dl")).collect()(0)
      assert((st.getLong(0), st.getLong(1)) == (viaDl.getLong(0), viaDl.getLong(1)),
        "manifest corpus stats diverge from the _doclen table")
    } finally Fs.rmTree(dir)
  }

  /** The segment dir names of version `v` (a `seg` line's first field). */
  private def segNames(dir: String, v: Long): Seq[String] =
    StoreManifest.read(spark, dir, v, "seg").map(_.takeWhile(_ != '\t'))

  /** Live segment `seg`'s manifest corpus stats, as `n_docs|tot_dl`. */
  private def segStats(dir: String, seg: String): String =
    StoreManifest.read(spark, dir, StoreManifest.currentVersion(spark, dir), "seg")
      .find(_.startsWith(seg + "\t")).get.split('\t').drop(1).mkString("|")

  /** A live segment's postings, `_doclen` and `_terms` as sorted row
    * lists (row multisets), and its manifest stats.
    */
  private def segContents(dir: String, seg: String): Map[String, Seq[String]] = {
    def rows(path: String, cols: Seq[String]) =
      spark.read.parquet(path).select(cols.map(col): _*)
        .collect().map(_.toSeq.map {
          case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
          case v => String.valueOf(v)
        }.mkString("|")).toSeq.sorted
    val segDir = s"$dir/$seg"
    Map(
      "postings" -> rows(segDir, Seq("bucket", "term", "doc_id", "positions", "tf", "dl")),
      "_doclen" -> rows(s"$segDir/_doclen", Seq("doc_id", "dl")),
      "stats" -> Seq(segStats(dir, seg)),
      "_terms" -> rows(s"$segDir/_terms", Seq("term", "df", "max_tf", "min_dl")))
  }

  test("compact of inline-dl segments == write(build(survivors)), with and without a tombstone") {
    import spark.implicits._
    val docs = Tables.t(spark, sfDir, "documents")
    for (tomb <- Seq(false, true)) {
      val dir = java.nio.file.Files.createTempDirectory("graft_idxrw").toString
      val ref = java.nio.file.Files.createTempDirectory("graft_idxrw_ref").toString
      try {
        (0 until 3).foreach { i =>
          assert(InvertedIndex.append(docs.filter(col("doc_id") % 3 === i), dir, i.toLong))
        }
        val erased = docs.filter(col("doc_id") % 7 === 0).select("doc_id")
          .as[Long].collect().toSet
        if (tomb) assert(InvertedIndex.delete(spark, dir, erased.toSeq) == erased.size)
        val before = InvertedIndex.segments(spark, dir)
        // the tombstone case folds two of three segments, so the kept
        // segment's tombstones must carry forward; the other folds all
        val target = if (tomb) 2 else 1
        assert(InvertedIndex.compact(spark, dir, targetSegs = target) == 4 - target)
        val after = InvertedIndex.segments(spark, dir)
        val kept = before.intersect(after)
        val merged = after.diff(before)
        assert(merged.size == 1 && kept.size == target - 1, s"$before -> $after")
        val foldedRes = before.diff(kept).map(_.stripPrefix("seg=b").toInt)
        val survivors = docs.filter(col("doc_id").isin(
          docs.select("doc_id").as[Long].collect().filter(id =>
            foldedRes.contains((id % 3).toInt) && !(tomb && erased(id))).toSeq: _*))
        InvertedIndex.write(InvertedIndex.build(survivors), ref)
        val got = segContents(dir, merged.head)
        val want = segContents(ref, InvertedIndex.segments(spark, ref).head)
        for (part <- want.keys)
          assert(got(part) == want(part), s"tomb=$tomb: $part differs from a rebuild")
        val dls = got("_doclen").map(_.split('|')(1).toLong)
        assert(got("stats") == Seq(s"${dls.size}|${dls.sum}"),
          s"tomb=$tomb: the manifest stats are not (count, sum) of _doclen")
        val keptTombs = InvertedIndex.tombstones(spark, dir).select("doc_id")
          .as[Long].collect().toSet
        val keptRes = kept.map(_.stripPrefix("seg=b").toInt)
        assert(keptTombs == erased.filter(id => keptRes.contains((id % 3).toInt)),
          s"tomb=$tomb: tombstones must shrink to the kept segment's docs")
      } finally { Fs.rmTree(dir); Fs.rmTree(ref) }
    }
  }

  test("folded append == write(build(survivors)), with and without a tombstone") {
    import spark.implicits._
    val docs = Tables.t(spark, sfDir, "documents")
    for (tomb <- Seq(false, true)) {
      val dir = java.nio.file.Files.createTempDirectory("graft_idxfold").toString
      val ref = java.nio.file.Files.createTempDirectory("graft_idxfold_ref").toString
      try {
        (0 until 4).foreach { i =>
          assert(InvertedIndex.append(docs.filter(col("doc_id") % 5 === i), dir, i.toLong))
        }
        val erased = docs.filter(col("doc_id") % 7 === 0 && col("doc_id") % 5 < 4)
          .select("doc_id").as[Long].collect().toSet
        if (tomb) assert(InvertedIndex.delete(spark, dir, erased.toSeq) == erased.size)
        val before = InvertedIndex.segments(spark, dir)
        // batch 4 would be a fifth segment: at cap 4 it folds with the
        // three smallest (one segment kept, so its tombstones carry
        // forward); at cap 1 with all four
        val cap = if (tomb) 4 else 1
        assert(InvertedIndex.append(docs.filter(col("doc_id") % 5 === 4), dir, 4L,
          maxSegments = cap))
        val after = InvertedIndex.segments(spark, dir)
        val kept = before.intersect(after)
        val merged = after.diff(before)
        assert(merged.size == 1 && kept.size == math.max(1, cap / 2) - 1, s"$before -> $after")
        assert(InvertedIndex.highWater(spark, dir) == 4L)
        val foldedRes = before.diff(kept).map(_.stripPrefix("seg=b").toInt) :+ 4
        val survivors = docs.filter(col("doc_id").isin(
          docs.select("doc_id").as[Long].collect().filter(id =>
            foldedRes.contains((id % 5).toInt) && !(tomb && erased(id))).toSeq: _*))
        InvertedIndex.write(InvertedIndex.build(survivors), ref)
        val got = segContents(dir, merged.head)
        val want = segContents(ref, InvertedIndex.segments(spark, ref).head)
        for (part <- want.keys)
          assert(got(part) == want(part), s"tomb=$tomb: $part differs from a rebuild")
        val dls = got("_doclen").map(_.split('|')(1).toLong)
        assert(got("stats") == Seq(s"${dls.size}|${dls.sum}"),
          s"tomb=$tomb: the manifest stats are not (count, sum) of _doclen")
        val keptTombs = InvertedIndex.tombstones(spark, dir).select("doc_id")
          .as[Long].collect().toSet
        val keptRes = kept.map(_.stripPrefix("seg=b").toInt)
        assert(keptTombs == erased.filter(id => tomb && keptRes.contains((id % 5).toInt)),
          s"tomb=$tomb: tombstones must shrink to the kept segment's docs")
      } finally { Fs.rmTree(dir); Fs.rmTree(ref) }
    }
  }

  test("folded append crash window: merged segment written, manifest not committed — readers keep the previous version; replay converges") {
    val docs = Tables.t(spark, sfDir, "documents")
    val toks = docs.orderBy("doc_id")
      .select(split(col("text"), " ").as("t")).head().getSeq[String](0)
      .take(3).toSeq
    def res(d: String) = InvertedIndex.searchPhrase(spark, d, toks)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def bm(d: String) = InvertedIndex.searchBm25(spark, d, toks.distinct)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def stats(d: String) = InvertedIndex.corpusStats(spark, d).head().toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_idxfcw").toString
    val twin = java.nio.file.Files.createTempDirectory("graft_idxfcw_twin").toString
    try {
      for (d <- Seq(dir, twin); i <- 0 until 2)
        assert(InvertedIndex.append(docs.filter(col("doc_id") % 3 === i), d, i.toLong))
      val batch = docs.filter(col("doc_id") % 3 === 2)
      val (segs, phrase, scores) = (InvertedIndex.segments(spark, dir), res(dir), bm(dir))
      crashBeforeCommit(dir)(d => InvertedIndex.append(batch, d, 2L, maxSegments = 2))
      assert(InvertedIndex.segments(spark, dir) == segs,
        "an uncommitted merged segment became live")
      assert(res(dir) == phrase && bm(dir) == scores && InvertedIndex.highWater(spark, dir) == 1L,
        "readers of the previous version saw the crashed fold")
      // the replayed batch folds again and converges to a crash-free twin
      assert(InvertedIndex.append(batch, dir, 2L, maxSegments = 2))
      assert(InvertedIndex.append(batch, twin, 2L, maxSegments = 2))
      assert(InvertedIndex.segments(spark, dir).size == 1)
      assert(res(dir) == res(twin) && bm(dir) == bm(twin) && stats(dir) == stats(twin),
        "the replayed fold diverges from a crash-free one")
      assert(InvertedIndex.highWater(spark, dir) == 2L)
      val referenced = StoreManifest.versions(spark, dir).flatMap(v => segNames(dir, v)).toSet
      val onDisk = new java.io.File(dir).listFiles()
        .map(_.getName).filter(_.startsWith("seg=")).toSet
      assert(onDisk == referenced, s"crashed fold left ${onDisk -- referenced}")
    } finally { Fs.rmTree(dir); Fs.rmTree(twin) }
  }

  test("a version whose segment lines carry no corpus stats is refused by writes and reads") {
    val docs = Tables.t(spark, sfDir, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_idxnostats").toString
    try {
      InvertedIndex.write(InvertedIndex.build(docs.filter(col("doc_id") % 2 === 0)), dir)
      // the layout before the stats: the same lines, each `seg` line
      // holding only its name
      StoreManifest.commit(spark, dir, 1L, StoreManifest.readLines(spark, dir, 0L)
        .map(l => if (l.startsWith("seg\t")) l.split('\t').take(2).mkString("\t") else l))
      def refused(op: => Any): Unit = {
        val e = intercept[IllegalArgumentException](op)
        assert(e.getMessage.contains("without corpus stats") && e.getMessage.contains(dir),
          e.getMessage)
      }
      refused(InvertedIndex.append(docs.filter(col("doc_id") % 2 === 1), dir, 0L))
      refused(InvertedIndex.compact(spark, dir))
      refused(InvertedIndex.delete(spark, dir, Seq(0L)))
      refused(InvertedIndex.searchBm25(spark, dir, Seq("a")).collect())
      refused(InvertedIndex.searchBm25TopK(spark, dir, Seq("a"), 5).collect())
      refused(InvertedIndex.searchPhrase(spark, dir, Seq("a", "b")).collect())
      refused(InvertedIndex.docLengths(spark, dir).collect())
      refused(InvertedIndex.corpusStats(spark, dir).collect())
      assert(StoreManifest.currentVersion(spark, dir) == 1L, "a refused write committed")
    } finally Fs.rmTree(dir)
  }

  test("searchBm25: unmanifested dir fails loudly; committed zero-segment store answers empty") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idxempty").toString
    try {
      // no manifest, even with a whole segment on disk: a typo'd path or
      // a store whose manifest was lost — every read must raise, not
      // silently report "no relevant documents"
      crashBeforeCommit(dir)(d => InvertedIndex.append(handCorpus, d, 0L))
      assert(InvertedIndex.segments(spark, dir).isEmpty)
      def refused(read: => Any): Unit = intercept[IllegalArgumentException](read)
      refused(InvertedIndex.searchBm25(spark, dir, Seq("a")).collect())
      refused(InvertedIndex.searchBm25TopK(spark, dir, Seq("a"), 5).collect())
      refused(InvertedIndex.readForTerms(spark, dir, Seq("a")).collect())
      refused(InvertedIndex.searchPhrase(spark, dir, Seq("a", "b")).collect())
      refused(InvertedIndex.docLengths(spark, dir).collect())
      refused(InvertedIndex.corpusStats(spark, dir).collect())
      refused(InvertedIndex.maxScorePlan(spark, dir, Seq("a"), 5))
      // a COMMITTED store with zero segments legitimately answers empty
      graft.operators.StoreManifest.commit(spark, dir, 0, Seq("buckets\t32"))
      assert(InvertedIndex.searchBm25(spark, dir, Seq("a")).collect().isEmpty)
    } finally Fs.rmTree(dir)
  }

  test("in-place rebuild: committed data survives; old version stays readable until vacuum") {
    import spark.implicits._
    val docs = Tables.t(spark, sfDir, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_idxrb").toString
    try {
      InvertedIndex.write(InvertedIndex.build(docs.filter(col("doc_id") % 2 === 0)), dir)
      val v0Seg = InvertedIndex.segments(spark, dir)
      assert(v0Seg == Seq("seg=base"))
      // rebuild IN PLACE over the full corpus: the live base segment
      // must never be deleted before the new manifest commits
      InvertedIndex.write(InvertedIndex.build(docs), dir)
      assert(InvertedIndex.segments(spark, dir) == Seq("seg=r1"))
      // retain=2 default: v0's segment is still on disk and resolvable
      assert(new java.io.File(dir, "seg=base").exists(),
        "rebuild destroyed the previous version's committed data")
      assert(segNames(dir, 0L) == Seq("seg=base"))
      val toks = docs.orderBy("doc_id")
        .select(split(col("text"), " ").as("t")).head().getSeq[String](0)
        .take(3).toSeq
      val full = java.nio.file.Files.createTempDirectory("graft_idxrb_full").toString
      try {
        InvertedIndex.write(InvertedIndex.build(docs), full)
        def res(d: String) = InvertedIndex.searchPhrase(spark, d, toks)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(res(dir) == res(full), "rebuilt index search != fresh build")
      } finally Fs.rmTree(full)
      // vacuum to 1 retained version sweeps the superseded base segment
      InvertedIndex.vacuum(spark, dir, retain = 1)
      assert(!new java.io.File(dir, "seg=base").exists())
    } finally Fs.rmTree(dir)
  }

  test("bounded growth: long append+compact stream keeps disk = live + retained segments") {
    import spark.implicits._
    val docs = Tables.t(spark, sfDir, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_idxgrow").toString
    try {
      // the one layout every writer keeps: one buckets line per
      // manifest, every live segment carries its two aux dirs, and its
      // manifest line its corpus stats
      def assertOneLayout(after: String): Unit = {
        val cur = graft.operators.StoreManifest.currentVersion(spark, dir)
        assert(graft.operators.StoreManifest.read(spark, dir, cur, "buckets").size == 1,
          s"$after: v$cur must carry exactly one buckets line")
        for (seg <- InvertedIndex.segments(spark, dir)) {
          for (aux <- Seq("_doclen", "_terms"))
            assert(new java.io.File(s"$dir/$seg/$aux").isDirectory, s"$after: $seg lacks $aux")
          assert(segStats(dir, seg).split('|').length == 2, s"$after: $seg lacks its stats")
        }
      }
      // 12 appended slices with compaction every time the live list
      // exceeds 3 — the IndexSink loop, run synchronously
      (0 until 12).foreach { i =>
        InvertedIndex.append(docs.filter(col("doc_id") % 12 === i), dir, i.toLong)
        assertOneLayout(s"append b$i")
        if (InvertedIndex.segments(spark, dir).size > 3) {
          InvertedIndex.compact(spark, dir)
          assertOneLayout(s"compact after b$i")
        }
      }
      val live = InvertedIndex.segments(spark, dir)
      assert(live.size <= 4, s"live segments unbounded: $live")
      // disk = segments referenced by the <= 2 retained manifests
      val versions = graft.operators.StoreManifest.versions(spark, dir)
      assert(versions.size <= 2, s"manifests grow with stream age: $versions")
      val referenced = versions.flatMap(v => segNames(dir, v)).toSet
      val onDisk = new java.io.File(dir).listFiles()
        .map(_.getName).filter(_.startsWith("seg=")).toSet
      assert(onDisk == referenced,
        s"unreferenced segments accumulating: ${onDisk -- referenced}")
      // content still equals a fresh full build
      val toks = docs.orderBy("doc_id")
        .select(split(col("text"), " ").as("t")).head().getSeq[String](0)
        .take(3).toSeq
      val full = java.nio.file.Files.createTempDirectory("graft_idxgrow_full").toString
      try {
        InvertedIndex.write(InvertedIndex.build(docs), full)
        def res(d: String) = InvertedIndex.searchPhrase(spark, d, toks)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(res(dir) == res(full))
      } finally Fs.rmTree(full)
      val first = docs.agg(min("doc_id")).head().getLong(0)
      assert(InvertedIndex.delete(spark, dir, Seq(first)) == 1L)
      assertOneLayout("delete")
    } finally Fs.rmTree(dir)
  }

  test("persisted search == in-memory recomputation on real documents; prune proven") {
    val docs = Tables.t(spark, sfDir, "documents")
    val idx = InvertedIndex.build(docs)
    val dir = java.nio.file.Files.createTempDirectory("graft_idxspec").toString
    try {
      InvertedIndex.write(idx, dir)
      // a phrase that certainly exists: the first doc's first trigram
      val first = docs.orderBy("doc_id")
        .select(split(col("text"), " ").as("t")).head().getSeq[String](0)
      val toks = first.take(3).toSeq
      val stored = InvertedIndex.searchPhrase(spark, dir, toks)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val direct = InvertedIndex
        .phraseOccurrences(idx, InvertedIndex.phraseFrame(spark, toks))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(stored == direct, "persisted-index search != direct recomputation")
      assert(stored.nonEmpty, "probe phrase missing from its own document")
      // the pruned read lists only the probed buckets' directories
      val scan = InvertedIndex.readForTerms(spark, dir, toks)
      scan.collect()
      val plan = scan.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [bucket"),
        s"bucket filter must prune partitions:\n$plan")
      // runtime file count from the executed scan (inputFiles reflects the
      // unpruned relation): one file per bucket by construction, so the
      // scan must open exactly the probed buckets' files
      val wanted = toks.map(t => InvertedIndex.bucketOf(t, 32)).distinct.toSet
      val opened = PlanDigest.nodes(scan.queryExecution.executedPlan)
        .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value }
      assert(opened == Seq(wanted.size.toLong),
        s"scan opened $opened files, expected exactly ${wanted.size} " +
          s"(buckets $wanted of 32)")
    } finally Fs.rmTree(dir)
  }

  private def topkRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  test("searchBm25TopK: identical to the exhaustive top-k on real documents, every k") {
    val docs = Tables.t(spark, sfDir, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_wand").toString
    try {
      InvertedIndex.write(InvertedIndex.build(docs), dir)
      val terms = InvertedIndex.topSpan(docs).split(' ').toSeq.distinct :+ "no_such_term"
      // empty term list answers empty instead of crashing the planner
      assert(InvertedIndex.searchBm25TopK(spark, dir, Seq.empty, 5).isEmpty)
      for (k <- Seq(1, 3, 10, 1000)) {
        val exhaustive = InvertedIndex.searchBm25(spark, dir, terms)
          .orderBy(col("bm25").desc, col("doc_id")).limit(k)
        assert(topkRows(InvertedIndex.searchBm25TopK(spark, dir, terms, k)) ==
          topkRows(exhaustive), s"pruned top-$k diverged from exhaustive")
      }
    } finally Fs.rmTree(dir)
  }

  test("searchBm25TopK: skewed query prunes to the essential term; measured row reduction; sound after delete") {
    import spark.implicits._
    // 100 docs all matching the common terms; only 3 match the rare one
    val docs = (0 until 100).map { i =>
      val rare = if (i < 3) " zebra" else ""
      (i.toLong, s"c1 c2 x$i y$i$rare")
    }.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_wand_skew").toString
    try {
      InvertedIndex.write(InvertedIndex.build(docs), dir)
      val terms = Seq("zebra", "c1", "c2")
      val (essential, theta) = InvertedIndex.maxScorePlan(spark, dir, terms, k = 2)
      assert(theta.isDefined, "3 zebra docs must yield a k=2 threshold")
      assert(essential == Seq("zebra"),
        s"common terms must prune out of the essential set, got $essential")
      // measured scored-row reduction: only essential-matching docs'
      // postings enter the aggregate
      val posts = InvertedIndex.readForTerms(spark, dir, terms)
      val candDocs = posts.filter(col("term").isin(essential: _*))
        .select("doc_id").distinct()
      val scored = posts.join(candDocs, Seq("doc_id"), "left_semi").count()
      val all = posts.count()
      assert(scored <= all / 10,
        s"expected >=10x scored-row reduction, got $scored of $all")
      // and the pruned result is still exactly the exhaustive one
      def exhaustive(k: Int) = InvertedIndex.searchBm25(spark, dir, terms)
        .orderBy(col("bm25").desc, col("doc_id")).limit(k)
      assert(topkRows(InvertedIndex.searchBm25TopK(spark, dir, terms, 2)) ==
        topkRows(exhaustive(2)))
      // after erasing a zebra doc the persisted df over-counts; the plan
      // compensates (df lower bound) and stays exact
      InvertedIndex.delete(spark, dir, Seq(0L))
      assert(topkRows(InvertedIndex.searchBm25TopK(spark, dir, terms, 2)) ==
        topkRows(exhaustive(2)), "post-delete pruned top-k diverged")
    } finally Fs.rmTree(dir)
  }
}
