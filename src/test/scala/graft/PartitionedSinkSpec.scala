package graft

import graft.operators.{Fanout, StoreManifest}
import graft.sources.JsonIngest
import graft.streaming.PartitionedServingSink
import java.nio.file.{Files, Paths}

/** Partition-level incremental serving: a micro-batch must rewrite ONLY
  * the hour partitions it touches (untouched hours keep serving their old
  * snapshot files), while the read path stays equal to the batch views
  * and the replay/restart guarantees match ServingSinkSpec.
  */
class PartitionedSinkSpec extends SparkSpec {

  private def event(id: Long, ts: String, user: Long, typ: String, v: Double): String =
    s"""{"event_id": $id, "ts": "$ts", "user_id": $user, "event_type": "$typ", "value": $v, "props": "{}"}"""

  test("empty store: typed empty frames") {
    val store = Files.createTempDirectory("graft_psink_empty").toString
    assert(PartitionedServingSink.countsPerUser(spark, store).count() == 0)
    assert(PartitionedServingSink.uniquesHourly(spark, store).count() == 0)
    assert(PartitionedServingSink.uniquesRange(spark, store,
      "2024-01-01 00:00:00", "2024-01-02 00:00:00").count() == 0)
  }

  test("hour partitions rewrite incrementally; reads match batch; replay-safe") {
    val dir = Files.createTempDirectory("graft_psink")
    val in = Files.createDirectory(dir.resolve("in")).toString
    val ckpt = dir.resolve("ckpt").toString
    val store = dir.resolve("store").toString

    def writeBatch(name: String, rows: Seq[String]): Unit = {
      val tmp = Files.createTempFile(dir, "stage", ".ndjson")
      Files.writeString(tmp, rows.mkString("\n"))
      Files.move(tmp, Paths.get(in, name))
    }
    // every commit carries exactly one `hw` line: the last applied batch
    // (then the id of the query that applied it)
    def hwLines(): Seq[String] = StoreManifest.read(spark, store,
      StoreManifest.currentVersion(spark, store), "hw").map(_.split('\t').head)
    def drain(batch: Long): Unit = {
      val q = PartitionedServingSink.start(spark, in, store, ckpt)
      q.awaitTermination()
      assert(hwLines() == Seq(batch.toString),
        s"the manifest must hold exactly one hw line, $batch: ${hwLines()}")
    }

    // batch 0 touches hours 00 and 01
    writeBatch("b1.ndjson", Seq(
      event(1, "2024-01-01T00:10:00", 1, "view", 2.0),
      event(2, "2024-01-01T00:20:00", 2, "view", 3.0),
      event(3, "2024-01-01T01:10:00", 1, "click", 1.0),
      "this is not json"))
    drain(0L)
    assert(Files.exists(Paths.get(store, "counts_per_user", "h2024-01-01T00", "v0")))
    assert(Files.exists(Paths.get(store, "counts_per_user", "h2024-01-01T01", "v0")))
    val rejects = spark.read.parquet(s"$store/rejects/v0").collect()
    assert(rejects.length == 1 && rejects(0).getString(0) == "this is not json")

    // batch 1 touches ONLY hour 02 (after a checkpoint restart): hour 00
    // and 01 must NOT get a v1 snapshot — their files are never rewritten
    writeBatch("b2.ndjson", Seq(
      event(4, "2024-01-01T02:05:00", 2, "view", 7.0),
      event(5, "2024-01-01T02:35:00", 3, "view", 4.0)))
    drain(1L)
    assert(Files.exists(Paths.get(store, "counts_per_user", "h2024-01-01T02", "v1")))
    assert(!Files.exists(Paths.get(store, "counts_per_user", "h2024-01-01T00", "v1")),
      "untouched hour 00 must not be rewritten")
    assert(!Files.exists(Paths.get(store, "counts_per_user", "h2024-01-01T01", "v1")),
      "untouched hour 01 must not be rewritten")

    // batch 2 merges INTO hour 00 (user 1 gets a second view there):
    // hour 00 advances to v2, hours 01/02 stay on their old snapshots
    writeBatch("b3.ndjson", Seq(
      event(6, "2024-01-01T00:40:00", 1, "view", 5.0)))
    drain(2L)
    assert(Files.exists(Paths.get(store, "counts_per_user", "h2024-01-01T00", "v2")))
    assert(!Files.exists(Paths.get(store, "counts_per_user", "h2024-01-01T01", "v2")))
    assert(!Files.exists(Paths.get(store, "counts_per_user", "h2024-01-01T02", "v2")))
    // the pinned snapshot schemas are the ones Spark infers from what the
    // sink wrote, on a first write (v0) and on a merge (v2) alike
    for (snap <- Seq("h2024-01-01T01/v0", "h2024-01-01T00/v2")) {
      assert(spark.read.parquet(s"$store/counts_per_user/$snap").schema ==
        PartitionedServingSink.CountsSchema)
      assert(spark.read.parquet(s"$store/uniques_hourly/$snap").schema ==
        PartitionedServingSink.UniquesSchema)
    }

    // read path equals the batch Fanout views over all events
    val allValid = JsonIngest.valid(JsonIngest.readJsonLines(spark, in))
    val batchViews = Fanout.views(allValid)
    val expectCounts = batchViews("counts_per_user")
      .collect().map(r => (r.get(0).toString, r.getLong(1)) ->
        (r.getLong(2), r.getDecimal(3).toPlainString)).toMap
    val gotCounts = PartitionedServingSink.countsPerUser(spark, store)
      .collect().map(r => (r.get(0).toString, r.getLong(1)) ->
        (r.getLong(2), r.getDecimal(3).toPlainString)).toMap
    assert(gotCounts == expectCounts, s"counts: got $gotCounts expected $expectCounts")

    val expectUniq = batchViews("uniques_hourly")
      .collect().map(r => r.get(0).toString -> r.getLong(2)).toMap
    val gotUniq = PartitionedServingSink.uniquesHourly(spark, store)
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    assert(gotUniq == expectUniq, s"uniques: got $gotUniq expected $expectUniq")

    // manifest-level pruning: range [00,02) unions hours 00+01 only —
    // user 1 active in both must count once (true distinct = 2: users 1,2)
    val ranged = PartitionedServingSink.uniquesRange(spark, store,
      "2024-01-01 00:00:00", "2024-01-01 02:00:00").collect()
    assert(ranged.length == 1 && ranged(0).getLong(0) == 2L, ranged.mkString)

    // replay storm from a fresh checkpoint: its batch 0 re-delivers every
    // file below the store's high-water — refused, nothing committed
    val before = StoreManifest.currentVersion(spark, store)
    val q = PartitionedServingSink.start(spark, in, store, dir.resolve("ckpt2").toString)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.awaitTermination())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => Option(c.getMessage).exists(_.contains("below the applied high-water"))),
      e.toString)
    assert(StoreManifest.currentVersion(spark, store) == before)
    assert(hwLines() == Seq("2"), s"the manifest must hold exactly one hw line: ${hwLines()}")
    val replayed = PartitionedServingSink.countsPerUser(spark, store)
      .collect().map(r => (r.get(0).toString, r.getLong(1)) ->
        (r.getLong(2), r.getDecimal(3).toPlainString)).toMap
    assert(replayed == expectCounts, "replay must not change any counter")
  }

  test("crash before the manifest commit: readers keep the previous version; the replay converges") {
    val dir = Files.createTempDirectory("graft_psink_crash")
    try {
      def batchOf(name: String, rows: String*) = {
        val f = dir.resolve(name)
        Files.writeString(f, rows.mkString("\n"))
        JsonIngest.readJsonLines(spark, f.toString)
      }
      val b0 = batchOf("b0.ndjson",
        event(1, "2024-01-01T00:10:00", 1, "view", 2.0),
        event(2, "2024-01-01T01:10:00", 2, "view", 3.0))
      // batch 1 merges into hour 00 and opens hour 02
      val b1 = batchOf("b1.ndjson",
        event(3, "2024-01-01T00:20:00", 3, "click", 1.0),
        event(4, "2024-01-01T02:05:00", 3, "view", 4.0))
      def state(store: String) = (
        PartitionedServingSink.countsPerUser(spark, store).collect()
          .map(r => (r.get(0).toString, r.getLong(1)) ->
            (r.getLong(2), r.getDecimal(3).toPlainString)).toMap,
        PartitionedServingSink.uniquesHourly(spark, store).collect()
          .map(r => r.get(0).toString -> r.getLong(1)).toMap)
      val store = dir.resolve("store").toString
      val truth = dir.resolve("truth").toString
      PartitionedServingSink.upsertBatch(spark, store, b0, 0L)
      val before = state(store)
      crashBeforeCommit(store)(d => PartitionedServingSink.upsertBatch(spark, d, b1, 1L))
      assert(Files.exists(Paths.get(store, "counts_per_user", "h2024-01-01T02", "v1")),
        "test premise: the crashed batch's snapshots are on disk")
      assert(StoreManifest.currentVersion(spark, store) == 0L)
      assert(state(store) == before, "an uncommitted snapshot leaked into a read")
      // the replay converges to the crash-free end state
      PartitionedServingSink.upsertBatch(spark, store, b1, 1L)
      PartitionedServingSink.upsertBatch(spark, truth, b0, 0L)
      PartitionedServingSink.upsertBatch(spark, truth, b1, 1L)
      assert(state(store) == state(truth), "the replayed batch diverges from a crash-free run")
      assert(state(store) != before)
    } finally Fs.rmTree(dir.toString)
  }
}
