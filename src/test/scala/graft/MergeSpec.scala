package graft

import graft.operators.MergeInto
import org.apache.spark.sql.functions._

/** MergeInto semantics: the three MERGE clauses row-for-row on a hand
  * table, idempotent replay (the verdict's acceptance test), degenerate
  * inputs, and the type-2 variant's close/open/fresh/untouched split.
  */
class MergeSpec extends SparkSpec {

  private def snap = {
    import spark.implicits._
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "v")
  }

  private def batch = {
    import spark.implicits._
    Seq((2L, "b2", 21.0, false), // matched → update
        (3L, "c", 30.0, true),   // matched → delete
        (4L, "d", 40.0, false))  // not matched → insert
      .toDF("id", "name", "v", "del")
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq

  test("merge: update, delete, insert and carry-through in one pass") {
    val m = MergeInto.merge(snap, batch, Seq("id"), Some("del"))
    assert(rows(m) == Seq((1L, "a", 10.0), (2L, "b2", 21.0), (4L, "d", 40.0)))
  }

  test("merge: replaying the same batch is a no-op (idempotent)") {
    val once = MergeInto.merge(snap, batch, Seq("id"), Some("del"))
    val twice = MergeInto.merge(once, batch, Seq("id"), Some("del"))
    assert(rows(twice) == rows(once))
  }

  test("merge: empty batch returns the snapshot; empty snapshot inserts the batch") {
    val m0 = MergeInto.merge(snap, batch.limit(0), Seq("id"), Some("del"))
    assert(rows(m0) == rows(snap))
    val m1 = MergeInto.merge(snap.limit(0), batch, Seq("id"), Some("del"))
    assert(rows(m1) == Seq((2L, "b2", 21.0), (4L, "d", 40.0)),
      "tombstones for absent keys must not insert")
  }

  test("merge: no tombstone column means pure upsert") {
    val m = MergeInto.merge(snap, batch.drop("del"), Seq("id"))
    assert(rows(m) == Seq((1L, "a", 10.0), (2L, "b2", 21.0), (3L, "c", 30.0), (4L, "d", 40.0)))
  }

  test("mergeFiles: copy-on-write rewrites only affected partitions; moves, deletes, inserts") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cow").toString
    try {
      Seq((1L, "d1", 10.0), (2L, "d2", 20.0), (3L, "d3", 30.0), (4L, "d4", 40.0))
        .toDF("id", "day", "v")
        .write.partitionBy("day").mode("overwrite").parquet(dir)
      def files(day: String) = {
        val d = new java.io.File(s"$dir/day=$day")
        if (!d.exists) Map.empty[String, Long]
        else d.listFiles.filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName -> f.lastModified).toMap
      }
      val d4Before = files("d4")
      assert(d4Before.nonEmpty)
      // update in place (1), tombstone d2's only row (2), MOVE 3 from d3
      // to d1, insert 5 into d1 — d4 must not be touched
      val batch = Seq(
        (1L, "d1", 11.0, false), (2L, "d2", 20.0, true),
        (3L, "d1", 33.0, false), (5L, "d1", 50.0, false))
        .toDF("id", "day", "v", "del")
      val (live, rewritten) = MergeInto.mergeFiles(
        spark, dir, batch, Seq("id"), "day", Some("del"))
      assert(live == 2 && rewritten == 3, s"($live, $rewritten)")
      val got = MergeInto.readSnapshot(spark, dir).orderBy("id")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
      assert(got == Seq((1L, 11.0, "d1"), (3L, 33.0, "d1"), (4L, 40.0, "d4"),
        (5L, 50.0, "d1")), got.toString)
      // the untouched partition is bytes-identical (its files are never
      // rewritten, only re-referenced by the next manifest)
      assert(files("d4") == d4Before, "untouched partition was rewritten")
      // replay: content idempotent (2 stays deleted, values unchanged);
      // the replay's auto-vacuum (retain=2) drops v0, so the vanished
      // partitions' last files go with it
      MergeInto.mergeFiles(spark, dir, batch, Seq("id"), "day", Some("del"))
      val again = MergeInto.readSnapshot(spark, dir).orderBy("id")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
      assert(again == got, "replay must be a content no-op")
      assert(files("d2").isEmpty && files("d3").isEmpty,
        "vanished partitions must clear once their last referencing version ages out")
      assert(files("d4") == d4Before)
    } finally graft.Fs.rmTree(dir)
  }

  test("deleteWhere: erases matching rows COW-style; untouched partitions keep their bytes; time travel sees pre-delete data until vacuum") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_del").toString
    try {
      MergeInto.mergeFiles(spark, dir,
        Seq((1L, "d1", 10.0), (2L, "d1", 20.0), (3L, "d2", 30.0),
          (4L, "d3", 40.0), (5L, "d3", 50.0)).toDF("id", "day", "v"),
        Seq("id"), "day", retainVersions = 3)
      def files(day: String) = {
        val d = new java.io.File(s"$dir/day=$day")
        if (!d.exists) Map.empty[String, Long]
        else d.listFiles.filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName -> f.lastModified).toMap
      }
      val d3Before = files("d3")
      // delete ids 2 and 3 — hits d1 and d2 (d2 vanishes), d3 untouched
      val (nDel, nParts) = MergeInto.deleteWhere(
        spark, dir, col("id") === 2L || col("id") === 3L, "day",
        retainVersions = 3)
      assert(nDel == 2L && nParts == 2L, s"($nDel, $nParts)")
      val got = MergeInto.readSnapshot(spark, dir).orderBy("id")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
      assert(got == Seq((1L, 10.0, "d1"), (4L, 40.0, "d3"), (5L, 50.0, "d3")),
        got.toString)
      assert(files("d3") == d3Before, "untouched partition was rewritten")
      // auditable-erasure window: v0 still reads the deleted rows
      assert(MergeInto.readSnapshot(spark, dir, Some(0L)).count() == 5L)
      // CDC classifies the whole change as deletes
      val diff = MergeInto.diffSnapshots(spark, dir, 0L, 1L, Seq("id"))
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(diff == Seq((2L, "delete"), (3L, "delete")), diff.toString)
      // no-match predicate: no new version, zero work
      val v = MergeInto.currentVersion(spark, dir)
      assert(MergeInto.deleteWhere(spark, dir, col("id") === 99L, "day") == (0L, 0L))
      assert(MergeInto.currentVersion(spark, dir) == v, "no-op must not commit")
      // NULL predicate keeps the row (SQL DELETE semantics)
      val (n2, _) = MergeInto.deleteWhere(spark, dir,
        when(col("id") === 1L, lit(true)), "day", retainVersions = 1)
      assert(n2 == 1L, "only the TRUE row deletes; NULLs keep theirs")
      // retainVersions=1 → immediate erasure: pre-delete bytes are gone
      assertThrows[Exception](
        MergeInto.readSnapshot(spark, dir, Some(0L)).collect())
    } finally graft.Fs.rmTree(dir)
  }

  test("mergeFiles: partition values with ':', ' ', '%' and leading zeros round-trip; null rejected") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cow_esc").toString
    try {
      // '01' must NOT come back as int 1; the timestamp-like value needs
      // path escaping — both were silent row-droppers before the fix
      Seq((1L, "01", 1.0), (2L, "2024-01-01 00:30:00", 2.0), (3L, "a%b", 3.0))
        .toDF("id", "day", "v")
        .write.partitionBy("day").mode("overwrite").parquet(dir)
      val batch = Seq((1L, "01", 11.0, false), (2L, "2024-01-01 00:30:00", 22.0, false),
        (3L, "a%b", 33.0, true), (4L, "x:y", 44.0, false))
        .toDF("id", "day", "v", "del")
      val (_, rewritten) = MergeInto.mergeFiles(
        spark, dir, batch, Seq("id"), "day", Some("del"))
      assert(rewritten == 4, s"rewritten $rewritten")
      val got = MergeInto.readSnapshot(spark, dir).orderBy("id")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
      assert(got == Seq((1L, 11.0, "01"), (2L, 22.0, "2024-01-01 00:30:00"),
        (4L, 44.0, "x:y")), got.toString)
      // null partition value → fail fast, not silent loss
      val e = intercept[IllegalArgumentException] {
        MergeInto.mergeFiles(spark, dir,
          Seq((9L, null: String, 9.0, false)).toDF("id", "day", "v", "del"),
          Seq("id"), "day", Some("del"))
      }
      assert(e.getMessage.contains("NULL"), e.getMessage)
      assert(MergeInto.currentVersion(spark, dir) == 1L, "a refused merge committed")
      // the same batch into an empty dir (the bootstrap) is refused before
      // any write: the dir keeps no data file and no manifest
      val fresh = java.nio.file.Files.createTempDirectory("graft_cow_null").toString
      try {
        val eb = intercept[IllegalArgumentException] {
          MergeInto.mergeFiles(spark, fresh,
            Seq((9L, null: String, 9.0, false)).toDF("id", "day", "v", "del"),
            Seq("id"), "day", Some("del"))
        }
        assert(eb.getMessage.contains("NULL"), eb.getMessage)
        assert(new java.io.File(fresh).list().isEmpty,
          new java.io.File(fresh).list().mkString(", "))
      } finally graft.Fs.rmTree(fresh)
    } finally graft.Fs.rmTree(dir)
  }

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("mergeFiles: atomic commit — v(N−1) reads consistently during/after N; orphans invisible; vacuum converges") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_snap").toString
    try {
      // v0 via bootstrap
      MergeInto.mergeFiles(spark,
        dir, Seq((1L, "d1", 10.0), (2L, "d2", 20.0)).toDF("id", "day", "v"),
        Seq("id"), "day")
      assert(MergeInto.currentVersion(spark, dir) == 0L)
      def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("id")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
      val v0Want = Seq((1L, 10.0, "d1"), (2L, 20.0, "d2"))
      // an in-flight reader resolves v0 BEFORE the next merge commits...
      val inFlight = MergeInto.readSnapshot(spark, dir)
      MergeInto.mergeFiles(spark,
        dir, Seq((1L, "d1", 11.0), (3L, "d3", 30.0)).toDF("id", "day", "v"),
        Seq("id"), "day")
      assert(MergeInto.currentVersion(spark, dir) == 1L)
      // ...and still sees the complete old version after v1 commits
      assert(rows(inFlight) == v0Want, "in-flight v0 reader saw v1's merge")
      val v1Want = Seq((1L, 11.0, "d1"), (2L, 20.0, "d2"), (3L, 30.0, "d3"))
      assert(rows(MergeInto.readSnapshot(spark, dir)) == v1Want)
      // explicit time travel
      assert(rows(MergeInto.readSnapshot(spark, dir, Some(0L))) == v0Want)
      // a crashed merge's already-moved file (no manifest commit) is
      // INVISIBLE to readers and healed by replay — the round-6 ADVICE
      // crash-duplicate window is closed by construction
      val d1 = new java.io.File(s"$dir/day=d1")
      val src = d1.listFiles.filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(src.toPath,
        d1.toPath.resolve("v99-part-orphan.parquet"))
      assert(rows(MergeInto.readSnapshot(spark, dir)) == v1Want,
        "unreferenced file leaked into the snapshot read")
      MergeInto.mergeFiles(spark,
        dir, Seq((1L, "d1", 11.0), (3L, "d3", 30.0)).toDF("id", "day", "v"),
        Seq("id"), "day")
      assert(rows(MergeInto.readSnapshot(spark, dir)) == v1Want,
        "replay over a crashed commit must not duplicate rows")
      // vacuum to a single version: orphan + old versions swept, plain
      // dir read and snapshot read now agree
      MergeInto.vacuum(spark, dir, retain = 1)
      assert(!d1.listFiles.exists(_.getName == "v99-part-orphan.parquet"))
      assert(rows(spark.read.parquet(dir)) == v1Want)
      val e = intercept[IllegalArgumentException](
        MergeInto.readSnapshot(spark, dir, Some(0L)).collect())
      assert(e.getMessage.contains("version"), e.getMessage)
    } finally graft.Fs.rmTree(dir)
  }

  test("diffSnapshots: row-level CDF equals the batch effect; identical rewrites cancel; carried files never read; diff(v,v) empty") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cdf_spec").toString
    try {
      MergeInto.mergeFiles(spark, dir,
        Seq((1L, "d1", 10.0), (2L, "d2", 20.0), (3L, "d3", 30.0), (4L, "d4", 40.0))
          .toDF("id", "day", "v"), Seq("id"), "day")
      val batch = Seq(
        (1L, "d1", 11.0, false), // update
        (2L, "d2", 20.0, true),  // delete
        (5L, "d1", 50.0, false), // insert
        (3L, "d3", 30.0, false)) // matched with IDENTICAL content
        .toDF("id", "day", "v", "del")
      MergeInto.mergeFiles(spark, dir, batch, Seq("id"), "day", Some("del"),
        retainVersions = 2)
      val diff = MergeInto.diffSnapshots(spark, dir, 0L, 1L, Seq("id"))
      val got = diff
        .select(col("id"), col("change"),
          col("before.v").as("bv"), col("after.v").as("av"))
        .orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1),
          Option(r.get(2)), Option(r.get(3)))).toSeq
      // row 3's partition WAS rewritten (its key matched) but the row is
      // byte-identical — the struct-equality filter cancels it
      assert(got == Seq(
        (1L, "update", Some(10.0), Some(11.0)),
        (2L, "delete", Some(20.0), None),
        (5L, "insert", None, Some(50.0))), got.toString)
      // the 100 TB property: partition d4 was untouched, its file is
      // carried by BOTH manifests, and it must enter NEITHER side of the
      // diff's scan (diff cost tracks change volume, not snapshot size)
      val d4files = new java.io.File(s"$dir/day=d4").listFiles
        .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
      assert(d4files.nonEmpty)
      assert(diff.inputFiles.forall(f => !d4files.exists(f.contains)),
        "carried (unchanged) file entered the diff scan")
      assert(MergeInto.diffSnapshots(spark, dir, 1L, 1L, Seq("id")).isEmpty)
    } finally graft.Fs.rmTree(dir)
  }

  test("compactSnapshot: fragmented partitions collapse to one file; content identical; untouched files carried; time travel intact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_csnap_spec").toString
    try {
      // 'd:1' fragments into 8 files via repartition(8) and needs path
      // escaping (exercises the dir-name → value unescape); 'd2' holds a
      // single row → single file → must be carried, not rewritten
      val frag = ((1L to 16L).map(i => (i, "d:1", i * 1.0)) :+ ((100L, "d2", 1.0)))
        .toDF("id", "day", "v")
        .repartition(8)
      MergeInto.mergeFiles(spark, dir, frag, Seq("id"), "day", retainVersions = 3)
      def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("id")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
      def files(day: String) = {
        val d = new java.io.File(s"$dir/day=$day")
        if (!d.exists) Map.empty[String, Long]
        else d.listFiles.filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName -> f.lastModified).toMap
      }
      val want = rows(MergeInto.readSnapshot(spark, dir))
      val d1Before = files("d%3A1").size
      val d2Before = files("d2")
      assert(d1Before > 1, s"setup must fragment d:1, got $d1Before file(s)")
      assert(d2Before.size == 1, s"setup wants a single-file d2, got ${d2Before.size}")
      val (nParts, nRemoved) = MergeInto.compactSnapshot(
        spark, dir, "day", retainVersions = 3)
      assert(nParts == 1L, s"only d:1 needed compaction, got $nParts")
      assert(nRemoved == d1Before - 1, s"removed $nRemoved of $d1Before")
      assert(MergeInto.currentVersion(spark, dir) == 1L)
      val compacted = MergeInto.readSnapshot(spark, dir)
      assert(rows(compacted) == want, "compaction changed snapshot content")
      assert(compacted.inputFiles.length == 2,
        s"want one file per partition, got ${compacted.inputFiles.length}")
      assert(files("d2") == d2Before, "single-file partition was rewritten")
      // v0 (retained) still reads the pre-compaction layout
      val v0 = MergeInto.readSnapshot(spark, dir, Some(0L))
      assert(rows(v0) == want && v0.inputFiles.length == d1Before + 1)
      // already-compact snapshot → metadata-only no-op, no new version
      assert(MergeInto.compactSnapshot(spark, dir, "day") == (0L, 0L))
      assert(MergeInto.currentVersion(spark, dir) == 1L)
    } finally graft.Fs.rmTree(dir)
  }

  test("mergeFiles: widened source types cast back to the manifest schema (target-schema-wins)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cow_schema").toString
    try {
      val base = Seq((1L, "d1", BigDecimal("10.00")), (2L, "d2", BigDecimal("20.00")))
        .toDF("id", "day", "v")
        .select(col("id"), col("day"), col("v").cast("decimal(18,2)").as("v"))
      MergeInto.mergeFiles(spark, dir, base, Seq("id"), "day")
      // DECIMAL(18,2) + 1 widens to (19,2) — parquet would switch from
      // INT64 to FIXED_LEN_BYTE_ARRAY and break reads under the pinned
      // manifest schema if the merge didn't cast back
      MergeInto.mergeFiles(spark, dir,
        base.filter(col("id") === 1L).withColumn("v", col("v") + 1),
        Seq("id"), "day")
      val snap = MergeInto.readSnapshot(spark, dir)
      assert(snap.schema("v").dataType.simpleString == "decimal(18,2)")
      val got = snap.orderBy("id").collect()
        .map(r => (r.getLong(0), r.getDecimal(1).toPlainString)).toSeq
      assert(got == Seq((1L, "11.00"), (2L, "20.00")), got.toString)
    } finally graft.Fs.rmTree(dir)
  }

  test("addColumn: metadata-only evolution — zero rewrite, null-filled reads, time travel sees the old schema, merges populate it") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_evolve").toString
    try {
      // v0 via bootstrap merge
      val v0 = Seq((1L, "d1", 10.0), (2L, "d1", 20.0), (3L, "d2", 30.0))
        .toDF("id", "day", "v")
      MergeInto.mergeFiles(spark, dir, v0, Seq("id"), "day", retainVersions = 10)
      def dataFiles() = new java.io.File(dir).listFiles
        .filter(_.getName.startsWith("day="))
        .flatMap(_.listFiles).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified).toMap
      val before = dataFiles()

      // ADD COLUMN publishes v1 with the widened schema, SAME files
      val v1 = MergeInto.addColumn(spark, dir, "score",
        org.apache.spark.sql.types.DoubleType)
      assert(v1 == 1L)
      assert(dataFiles() == before, "addColumn must rewrite zero data files")
      val widened = MergeInto.readSnapshot(spark, dir)
      // the path-derived partition column renders last regardless of
      // manifest order; the evolved column lands after the data columns
      assert(widened.columns.toSeq == Seq("id", "v", "score", "day"))
      assert(widened.filter(col("score").isNotNull).count() == 0,
        "pre-evolution rows must read the new column as NULL")
      assert(widened.count() == 3)

      // time travel: v0 still reads the OLD schema
      assert(!MergeInto.readSnapshot(spark, dir, Some(0L))
        .columns.contains("score"))

      // duplicate add refused; diff across the boundary refused
      intercept[IllegalArgumentException] {
        MergeInto.addColumn(spark, dir, "score",
          org.apache.spark.sql.types.DoubleType)
      }
      intercept[IllegalArgumentException] {
        MergeInto.diffSnapshots(spark, dir, 0L, 1L, Seq("id"))
      }

      // a post-evolution batch populates the column for some keys; old
      // rows keep NULL (target-schema-wins casting handles the new col)
      val batch = Seq((2L, "d1", 21.0, 0.9), (4L, "d2", 40.0, 0.5))
        .toDF("id", "day", "v", "score")
      MergeInto.mergeFiles(spark, dir, batch, Seq("id"), "day",
        retainVersions = 10)
      val got = MergeInto.readSnapshot(spark, dir).orderBy("id")
        .select("id", "v", "score")
        .collect()
        .map(r => (r.getLong(0), r.getDouble(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
      assert(got == Seq((1L, 10.0, None), (2L, 21.0, Some(0.9)),
        (3L, 30.0, None), (4L, 40.0, Some(0.5))), got.toString)
      // diff within the evolved era works
      val d = MergeInto.diffSnapshots(spark, dir, 1L, 2L, Seq("id"))
      assert(d.count() == 2) // one update, one insert
    } finally graft.Fs.rmTree(dir)
  }

  test("mergeScd2: changed keys close+reopen, unchanged and history pass through, new keys insert") {
    import spark.implicits._
    val dim = Seq(
      (1L, "gold", ts("2024-01-01 00:00:00"), Some(ts("2024-03-01 00:00:00")), false),
      (1L, "plat", ts("2024-03-01 00:00:00"), None, true),  // will change → close+open
      (2L, "base", ts("2024-01-01 00:00:00"), None, true))  // unchanged
      .toDF("id", "tier", "valid_from", "valid_to", "is_current")
    val updates = Seq(
      (1L, "diamond", ts("2024-06-01 00:00:00")),
      (2L, "base", ts("2024-06-01 00:00:00")),              // same attrs → no-op
      (9L, "fresh", ts("2024-06-01 00:00:00")))             // new key
      .toDF("id", "tier", "valid_from")
    val got = MergeInto.mergeScd2(dim, updates, Seq("id"), Seq("tier"))
      .orderBy("id", "valid_from")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2),
        Option(r.getTimestamp(3)), r.getBoolean(4))).toSeq
    assert(got == Seq(
      (1L, "gold", ts("2024-01-01 00:00:00"), Some(ts("2024-03-01 00:00:00")), false),
      (1L, "plat", ts("2024-03-01 00:00:00"), Some(ts("2024-06-01 00:00:00")), false),
      (1L, "diamond", ts("2024-06-01 00:00:00"), None, true),
      (2L, "base", ts("2024-01-01 00:00:00"), None, true),
      (9L, "fresh", ts("2024-06-01 00:00:00"), None, true)))
  }

  test("mergeScd2: replaying the same update batch is a no-op") {
    import spark.implicits._
    val dim = Seq((1L, "plat", ts("2024-03-01 00:00:00"),
      None: Option[java.sql.Timestamp], true))
      .toDF("id", "tier", "valid_from", "valid_to", "is_current")
    val updates = Seq((1L, "diamond", ts("2024-06-01 00:00:00")))
      .toDF("id", "tier", "valid_from")
    val once = MergeInto.mergeScd2(dim, updates, Seq("id"), Seq("tier"))
    val twice = MergeInto.mergeScd2(once, updates, Seq("id"), Seq("tier"))
    val norm = (df: org.apache.spark.sql.DataFrame) =>
      df.orderBy("id", "valid_from").collect().toSeq
    assert(norm(twice) == norm(once))
  }
}
