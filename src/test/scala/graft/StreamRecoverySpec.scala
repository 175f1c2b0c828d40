package graft

import graft.streaming.StreamOps
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Exactly-once recovery: a file-source streaming aggregation is stopped
  * mid-stream and restarted from its checkpoint; the final result must
  * equal the batch computation over all input — no loss, no double count.
  * This is the durability story the reference delegates to MQ acks +
  * idempotent KV updates.
  */
class StreamRecoverySpec extends SparkSpec {

  test("UpsertSink: CDC stream maintains a partitioned snapshot via COW merge") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("graft_upsert")
    val snap = dir.resolve("snap").toString
    val ckpt = dir.resolve("ckpt").toString
    val input = MemoryStream[(Long, String, Double, Long, Boolean)]
    val q = graft.streaming.UpsertSink.start(
      input.toDF().toDF("id", "day", "v", "seq", "del"),
      snap, Seq("id"), "day", "seq", ckpt, Some("del"))
    try {
      // bootstrap batch
      input.addData(Seq((1L, "d1", 10.0, 1L, false), (2L, "d2", 20.0, 2L, false)))
      q.processAllAvailable()
      // two changes to key 1 in ONE batch → latest (seq 4) wins; new key 3
      input.addData(Seq((1L, "d1", 11.0, 3L, false),
        (1L, "d1", 12.0, 4L, false), (3L, "d3", 30.0, 5L, false)))
      q.processAllAvailable()
      // tombstone wipes d2's only row → partition disappears
      input.addData(Seq((2L, "d2", 0.0, 6L, true)))
      q.processAllAvailable()
    } finally q.stop()
    val got = graft.operators.MergeInto.readSnapshot(spark, snap).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
    assert(got == Seq((1L, 12.0, "d1"), (3L, 30.0, "d3")), got.toString)
    // the sink rides the versioned commit path: the tombstoned partition
    // leaves the current snapshot immediately and its files clear once
    // no retained version references them
    graft.operators.MergeInto.vacuum(spark, snap, retain = 1)
    assert(!new java.io.File(s"$snap/day=d2").exists, "tombstoned partition must vanish")
    assert(spark.read.parquet(snap).count() == 2)
  }

  test("UpsertSink: an empty trigger commits no snapshot version") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("graft_upsert_empty")
    val snap = dir.resolve("snap").toString
    val ckpt = dir.resolve("ckpt").toString
    val input = MemoryStream[(Long, String, Double, Long, Boolean)]
    val q = graft.streaming.UpsertSink.start(
      input.toDF().toDF("id", "day", "v", "seq", "del"),
      snap, Seq("id"), "day", "seq", ckpt, Some("del"))
    def version = graft.operators.StoreManifest.currentVersion(spark, snap)
    try {
      // before the bootstrap batch, and after it
      input.addData(Seq.empty[(Long, String, Double, Long, Boolean)]); q.processAllAvailable()
      assert(version == -1L, "an empty first trigger committed a version")
      input.addData(Seq((1L, "d1", 10.0, 1L, false))); q.processAllAvailable()
      val v = version
      assert(v >= 0L)
      input.addData(Seq.empty[(Long, String, Double, Long, Boolean)]); q.processAllAvailable()
      assert(version == v, "an empty trigger committed a version")
    } finally q.stop()
    val got = graft.operators.MergeInto.readSnapshot(spark, snap)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
    assert(got == Seq((1L, 10.0, "d1")), got.toString)
    Fs.rmTree(dir.toString)
  }

  test("file-stream aggregation survives stop/restart via checkpoint") {
    val dir = Files.createTempDirectory("graft_recover")
    val in = Files.createDirectory(dir.resolve("in")).toString
    val ckpt = dir.resolve("ckpt").toString
    val out = dir.resolve("out").toString

    def writeBatch(name: String, rows: Seq[String]): Unit = {
      val tmp = Files.createTempFile(dir, "stage", ".ndjson")
      Files.writeString(tmp, rows.mkString("\n"))
      Files.move(tmp, java.nio.file.Paths.get(in, name))
    }

    def event(id: Long, ts: String, user: Long, typ: String): String =
      s"""{"event_id": $id, "ts": "$ts", "user_id": $user, "event_type": "$typ", "value": 1.0, "props": "{}"}"""

    // append-mode file sink requires a watermark to finalize windows
    def run(): Unit = {
      val parsed = graft.sources.JsonIngest.parse(spark.readStream.text(in))
      val validated = parsed.filter(col("reject_reason").isNull)
        .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
          col("user_id"), col("event_type"), col("value"))
        .withWatermark("ts", "0 seconds")
      val agg = validated
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("window.start").as("hour"), col("event_type"), col("cnt"))
      val q = agg.writeStream
        .format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    writeBatch("b1.ndjson", Seq(
      event(1, "2024-01-01T00:10:00", 1, "view"),
      event(2, "2024-01-01T00:20:00", 2, "view"),
      event(3, "2024-01-01T01:10:00", 1, "click")))
    run() // processes batch 1, then terminates (AvailableNow)

    writeBatch("b2.ndjson", Seq(
      event(4, "2024-01-01T01:30:00", 3, "click"),
      event(5, "2024-01-01T02:05:00", 1, "view"),
      event(6, "2024-01-01T03:00:00", 2, "view"))) // advances watermark past 02:xx
    run() // restart from checkpoint — must not re-emit batch-1 windows

    val result = spark.read.parquet(out)
      .groupBy("hour", "event_type").agg(sum("cnt").as("cnt"))
      .collect().map(r => (r.get(0).toString, r.getString(1)) -> r.getLong(2)).toMap
    // windows finalized once the watermark passed them; no duplicates:
    assert(result(("2024-01-01 00:00:00.0", "view")) == 2L, s"got $result")
    assert(result(("2024-01-01 01:00:00.0", "click")) == 2L, s"got $result")
    assert(result.values.forall(_ <= 2L), s"duplicate emission: $result")
  }
}
