package graft

import graft.operators.RollupNav
import org.apache.spark.sql.functions._

/** Aggregate navigator (operators.RollupNav): routed answers are
  * bit-identical to fact-table recomputation at every grain, the
  * router refuses what the cube cannot answer, and a day-ranged
  * question prunes the rollup store at the directory level.
  */
class RollupNavSpec extends SparkSpec {

  private def base = Tables.events(spark, sfDir)
    .select(to_date(col("ts")).as("day"), col("event_type"), col("user_id"),
      (col("value").cast("decimal(18,6)") * 1000000).cast("long").as("v_us"))

  private val shape = RollupNav.Rollup(Seq("event_type"), Seq("v_us"))

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_navspec").toString

  test("routed == recomputed on every measure, at day and month grain") {
    val dir = tmp()
    try {
      RollupNav.materialize(base, shape, dir)
      for (grain <- Seq("day", "month")) {
        val routed = RollupNav.answer(spark, dir, shape,
          Seq("event_type"), grain).get
        val direct = base
          .groupBy(col("event_type"),
            (grain match {
              case "day" => col("day")
              case _ => date_trunc(grain, col("day")).cast("date")
            }).as("grain"))
          .agg(count(lit(1)).as("n_rows"), sum("v_us").as("v_us_sum"),
            min("v_us").as("v_us_min"), max("v_us").as("v_us_max"))
          .withColumn("v_us_avg",
            expr("(2 * v_us_sum + n_rows) div (2 * n_rows)"))
        assert(routed.exceptAll(direct).isEmpty &&
          direct.exceptAll(routed).isEmpty,
          s"routed answer diverges from fact recomputation at grain=$grain")
      }
    } finally Fs.rmTree(dir)
  }

  test("null-day fact rows fail fast, identically on both maintenance paths") {
    // ADVICE r10: materialize silently routed null days to
    // __HIVE_DEFAULT_PARTITION__ while maintain NPE'd collecting the day
    // list — now both paths raise the same contract error pre-commit
    val withNull = base.unionByName(
      base.limit(1).withColumn("day", lit(null).cast("date")))
    val dir = tmp()
    try {
      val eM = intercept[Exception](RollupNav.materialize(withNull, shape, dir))
      // a failed materialize must not have committed anything
      assert(graft.operators.StoreManifest.currentVersion(spark, dir) < 0,
        "failed materialize left a committed manifest behind")
      RollupNav.materialize(base, shape, dir)
      val eI = intercept[Exception](
        RollupNav.maintain(spark, dir, shape, withNull, batchId = Some(7L)))
      for ((e, path) <- Seq((eM, "materialize"), (eI, "maintain"))) {
        def msgs(t: Throwable): Seq[String] =
          Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
        assert(msgs(e).exists(_.contains("null day fact row")),
          s"$path raised, but not the named contract error: $e")
      }
      // the failed batch committed nothing: routing still answers from v0
      assert(RollupNav.answer(spark, dir, shape, Seq("event_type"), "month").isDefined)
    } finally Fs.rmTree(dir)
  }

  test("router refuses dims outside the cube and grains finer than stored") {
    val dir = tmp()
    try {
      RollupNav.materialize(base, shape, dir)
      assert(RollupNav.answer(spark, dir, shape, Seq("user_id"), "month").isEmpty,
        "user_id is not a cube dim — must not be answerable")
      assert(RollupNav.answer(spark, dir, shape, Seq("event_type"), "hour").isEmpty,
        "hour is finer than the day grain — must not be answerable")
    } finally Fs.rmTree(dir)
  }

  test("refreshDays erasure: cube == materialize-over-survivors; untouched days carried; erased day vanishes; audit window") {
    import graft.operators.StoreManifest
    val dir = tmp()
    val ref = tmp()
    try {
      RollupNav.materialize(base, shape, dir)
      val v0Files = StoreManifest.readFiles(spark, dir, 0L)._2.toSet
      // erase every 'click' fact from the 3 earliest days, plus EVERY
      // fact of the 4th day (the vanishing-day case)
      val days = base.select(col("day").cast("string")).distinct()
        .orderBy("day").limit(4).collect().map(_.getString(0)).toSeq
      val gone = (col("day").cast("string").isin(days.take(3): _*) &&
        col("event_type") === "click") ||
        col("day").cast("string") === days(3)
      val kept = base.filter(!gone)
      RollupNav.refreshDays(spark, dir, shape, kept, days)

      // cube content == a cube materialized from the survivors
      RollupNav.materialize(kept, shape, ref)
      val got = RollupNav.readStore(spark, dir)
      val want = RollupNav.readStore(spark, ref)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        "post-erasure cube diverges from materialize-over-survivors")
      // the erased day's dir is gone from the manifest
      val v1Files = StoreManifest.readFiles(spark, dir, 1L)._2
      assert(!v1Files.exists(_.startsWith(s"day=${days(3)}")),
        "fully-erased day must vanish from the manifest")
      // untouched days' manifest entries carried VERBATIM (no rewrite)
      val touched = days.map(d => s"day=$d").toSet
      assert(v1Files.filterNot(f => touched.contains(f.takeWhile(_ != '/'))).toSet ==
        v0Files.filterNot(f => touched.contains(f.takeWhile(_ != '/'))),
        "untouched days must carry forward without rewriting")
      // audit window: v0 still answers with the pre-erasure facts
      val v0 = spark.read.option("basePath", dir)
        .schema(StoreManifest.readFiles(spark, dir, 0L)._1)
        .parquet(StoreManifest.readFiles(spark, dir, 0L)._2.map(f => s"$dir/$f"): _*)
      assert(v0.filter(col("day") === days(3)).count() > 0,
        "previous version must keep the erased day until vacuum")
      // replay converges (content-idempotent): same store content
      RollupNav.refreshDays(spark, dir, shape, kept, days)
      val again = RollupNav.readStore(spark, dir)
      assert(again.exceptAll(want).isEmpty && want.exceptAll(again).isEmpty)
      // vacuum at retain=1 erases the window physically
      RollupNav.vacuum(spark, dir, retain = 1)
      val onDisk = Option(new java.io.File(dir, s"day=${days(3)}").listFiles())
        .toSeq.flatten
      assert(onDisk.isEmpty, "erased day's bytes must be gone after vacuum")
    } finally { Fs.rmTree(dir); Fs.rmTree(ref) }
  }

  test("incremental maintenance == one-shot materialize (merge and new-day paths)") {
    val oneShot = tmp()
    try {
      RollupNav.materialize(base, shape, oneShot)
      val truth = RollupNav.answer(spark, oneShot, shape, Seq("event_type"), "day").get

      // merge pressure: three user slices, every batch touches every day
      val merged = tmp()
      try {
        RollupNav.materialize(base.filter(col("user_id") % 3 === 0), shape, merged)
        RollupNav.maintain(spark, merged, shape, base.filter(col("user_id") % 3 === 1))
        RollupNav.maintain(spark, merged, shape, base.filter(col("user_id") % 3 === 2))
        val inc = RollupNav.answer(spark, merged, shape, Seq("event_type"), "day").get
        assert(inc.exceptAll(truth).isEmpty && truth.exceptAll(inc).isEmpty,
          "user-sliced maintenance diverges from one-shot materialize")
      } finally Fs.rmTree(merged)

      // new-day path: the second batch's days do not exist in the store yet
      val grown = tmp()
      try {
        RollupNav.materialize(base.filter(col("day") < "2024-01-15"), shape, grown)
        RollupNav.maintain(spark, grown, shape, base.filter(col("day") >= "2024-01-15"))
        val inc = RollupNav.answer(spark, grown, shape, Seq("event_type"), "day").get
        assert(inc.exceptAll(truth).isEmpty && truth.exceptAll(inc).isEmpty,
          "new-day maintenance diverges from one-shot materialize")
      } finally Fs.rmTree(grown)
    } finally Fs.rmTree(oneShot)
  }

  test("batchId in the manifest: a replayed trigger is an exact no-op") {
    def answers(dir: String) =
      RollupNav.answer(spark, dir, shape, Seq("event_type"), "day").get
    val truthDir = tmp()
    try {
      RollupNav.materialize(base.filter(col("day") <= "2024-01-11"), shape, truthDir)
      val batch = base.filter(col("day").between("2024-01-10", "2024-01-11"))
      // what lands between the commit and its replay: nothing, or a
      // maintenance commit that consumes no batch id (an erasure's
      // refreshDays of an earlier, unchanged day)
      val between: Seq[(String, String => Unit)] = Seq(
        "plain replay" -> (_ => ()),
        "replay after refreshDays" -> (d =>
          RollupNav.refreshDays(spark, d, shape, base, Seq("2024-01-05"))))
      for ((name, interleave) <- between) {
        val dir = tmp()
        try {
          RollupNav.materialize(base.filter(col("day") < "2024-01-10"), shape, dir)
          RollupNav.maintain(spark, dir, shape, batch, Some(2L))
          interleave(dir)
          val vAfter = graft.operators.StoreManifest.currentVersion(spark, dir)
          // replays of the committed trigger: no new version, no double count
          RollupNav.maintain(spark, dir, shape, batch, Some(2L))
          RollupNav.maintain(spark, dir, shape, batch, Some(2L))
          assert(graft.operators.StoreManifest.currentVersion(spark, dir) == vAfter,
            s"$name: a replayed batch must not commit a new version")
          val (inc, truth) = (answers(dir), answers(truthDir))
          assert(inc.exceptAll(truth).isEmpty && truth.exceptAll(inc).isEmpty,
            s"$name: replayed maintenance double-counted or lost a day")
        } finally Fs.rmTree(dir)
      }
    } finally Fs.rmTree(truthDir)
  }

  test("bulk backfill: one maintain over 20+ days costs a day-count-independent job count") {
    val dir = tmp()
    val truthDir = tmp()
    try {
      RollupNav.materialize(base.filter(col("day") < "2024-01-05"), shape, dir)
      val backfill = base.filter(col("day") >= "2024-01-05") // 26 distinct days
      assert(backfill.select("day").distinct().count() >= 20)
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        RollupNav.maintain(spark, dir, shape, backfill)
        // listener delivery is async — wait for the count to stabilize
        var last = -1
        while (jobs.get() != last) { last = jobs.get(); Thread.sleep(300) }
      } finally spark.sparkContext.removeSparkListener(listener)
      // the r9 shape ran one write JOB per touched day (26 here); the
      // manifest protocol stages every day in ONE write — a handful of
      // jobs total (delta days + staged write), regardless of day span
      assert(jobs.get() <= 8,
        s"backfill ran ${jobs.get()} jobs — day count is leaking into job count")
      RollupNav.materialize(base, shape, truthDir)
      val inc = RollupNav.answer(spark, dir, shape, Seq("event_type"), "day").get
      val truth = RollupNav.answer(spark, truthDir, shape, Seq("event_type"), "day").get
      assert(inc.exceptAll(truth).isEmpty && truth.exceptAll(inc).isEmpty,
        "backfilled cube diverges from one-shot materialize")
    } finally { Fs.rmTree(dir); Fs.rmTree(truthDir) }
  }

  test("RollupSink: a fact stream maintains the cube to the one-shot answer") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = base
      .select(col("day").cast("string"), col("event_type"), col("v_us"))
      .as[(String, String, Long)].collect().toSeq
    val slices = rows.grouped((rows.size + 2) / 3).toSeq
    val dir = tmp()
    val ckpt = tmp()
    try {
      val in = MemoryStream[(String, String, Long)]
      val q = graft.streaming.RollupSink.start(
        in.toDF().toDF("day", "event_type", "v_us"), dir, shape, ckpt)
      // an empty trigger commits no version, before the first batch
      // (the dir stays uncommitted) and after the last
      def emptyTrigger(): Unit = {
        val v = graft.operators.StoreManifest.currentVersion(spark, dir)
        in.addData(Seq.empty[(String, String, Long)]); q.processAllAvailable()
        assert(graft.operators.StoreManifest.currentVersion(spark, dir) == v,
          "an empty trigger committed a cube version")
      }
      try {
        emptyTrigger()
        slices.foreach { s => in.addData(s); q.processAllAvailable() }
        emptyTrigger()
      } finally q.stop()
      val streamed = RollupNav.answer(spark, dir, shape, Seq("event_type"), "day").get
      val oneShotDir = tmp()
      try {
        RollupNav.materialize(base, shape, oneShotDir)
        val truth = RollupNav.answer(spark, oneShotDir, shape, Seq("event_type"), "day").get
        assert(streamed.exceptAll(truth).isEmpty && truth.exceptAll(streamed).isEmpty,
          "streamed cube diverges from one-shot materialize")
      } finally Fs.rmTree(oneShotDir)
    } finally { Fs.rmTree(dir); Fs.rmTree(ckpt) }
  }

  test("crash before the manifest commit: readers keep version N; replay heals; vacuum sweeps orphans") {
    val dir = tmp()
    try {
      RollupNav.materialize(base.filter(col("day") < "2024-01-10"), shape, dir)
      val truthBefore = RollupNav.answer(spark, dir, shape, Seq("event_type"), "day").get
        .collect().toSet
      // simulate a maintain that died AFTER moving its day files in but
      // BEFORE the manifest rename: orphan data + a torn staging dir
      val day = new java.io.File(dir).listFiles()
        .map(_.getName).filter(_.startsWith("day=")).sorted.head
      java.nio.file.Files.writeString(
        new java.io.File(new java.io.File(dir, day), "v9-orphan.parquet").toPath,
        "not parquet")
      val torn = new java.io.File(dir, ".merge-tmp-dead")
      torn.mkdirs()
      java.nio.file.Files.writeString(
        new java.io.File(torn, "junk").toPath, "not parquet")
      // readers resolve the committed manifest — the orphan is invisible
      val seen = RollupNav.answer(spark, dir, shape, Seq("event_type"), "day").get
        .collect().toSet
      assert(seen == truthBefore, "an uncommitted orphan file leaked into a read")
      // the replayed trigger applies cleanly; its vacuum sweeps the junk
      RollupNav.maintain(spark, dir, shape,
        base.filter(col("day") >= "2024-01-10"), Some(7L))
      RollupNav.vacuum(spark, dir, retain = 1)
      assert(!new java.io.File(new java.io.File(dir, day), "v9-orphan.parquet").exists(),
        "vacuum left the crashed batch's orphan file")
      assert(!torn.exists(), "vacuum left the crashed batch's staging dir")
      val truthDir = tmp()
      try {
        RollupNav.materialize(base, shape, truthDir)
        val truth = RollupNav.answer(spark, truthDir, shape, Seq("event_type"), "day").get
        val healed = RollupNav.answer(spark, dir, shape, Seq("event_type"), "day").get
        assert(healed.exceptAll(truth).isEmpty && truth.exceptAll(healed).isEmpty,
          "post-crash replay diverges from one-shot materialize")
      } finally Fs.rmTree(truthDir)
    } finally Fs.rmTree(dir)
  }

  test("manifest-less versioned files: crashed bootstrap replays clean; stripped manifest refuses") {
    // crashed bootstrap: v0- files staged on a manifest-less dir are
    // orphans of the batch about to replay — adopting them as legacy
    // history would double-count it (and reading this junk file would
    // fail loudly, proving adoption never ran)
    val dir = tmp()
    try {
      val batch = base.filter(col("day") < "2024-01-10")
      val day = new java.io.File(dir, "day=2024-01-01")
      day.mkdirs()
      val orphan = new java.io.File(day, "v0-crashed.parquet")
      java.nio.file.Files.writeString(orphan.toPath, "not parquet")
      RollupNav.maintain(spark, dir, shape, batch, Some(0L))
      assert(!orphan.exists(), "vacuum left the crashed bootstrap's orphan")
      val truthDir = tmp()
      try {
        RollupNav.materialize(batch, shape, truthDir)
        val got = RollupNav.answer(spark, dir, shape, Seq("event_type"), "day").get
        val truth = RollupNav.answer(spark, truthDir, shape, Seq("event_type"), "day").get
        assert(got.exceptAll(truth).isEmpty && truth.exceptAll(got).isEmpty,
          "crashed-bootstrap replay double-counted or lost rows")
      } finally Fs.rmTree(truthDir)
    } finally Fs.rmTree(dir)

    // any other data file on a manifest-less dir: maintain refuses
    // rather than adopt a guess and let vacuum delete the rest, and
    // readStore refuses to read it. Inputs: a stripped manifest (v1+
    // files prove a manifest once committed them) and a plain
    // day-partitioned parquet tree that no manifest ever committed
    val stripped = (d: String) => {
      RollupNav.materialize(base.filter(col("day") < "2024-01-10"), shape, d)
      RollupNav.maintain(spark, d, shape,
        base.filter(col("day").between("2024-01-10", "2024-01-11")), Some(1L))
      Fs.rmTree(new java.io.File(d, graft.operators.StoreManifest.ManifestDir).toString)
    }
    val unmanifested = (d: String) => {
      base.filter(col("day") < "2024-01-10")
        .groupBy(col("day").cast("string").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n_rows"), sum("v_us").as("v_us_sum"),
          min("v_us").as("v_us_min"), max("v_us").as("v_us_max"))
        .write.partitionBy("day").mode("overwrite").parquet(d)
    }
    for ((name, stage) <- Seq("stripped manifest" -> stripped, "unmanifested tree" -> unmanifested)) {
      val dir2 = tmp()
      try {
        stage(dir2)
        assert(graft.operators.StoreManifest.currentVersion(spark, dir2) == -1L)
        val e = intercept[IllegalArgumentException] {
          RollupNav.maintain(spark, dir2, shape,
            base.filter(col("day") >= "2024-01-12"), Some(2L))
        }
        assert(e.getMessage.contains("manifest"),
          s"$name: refusal must name the lost manifest: ${e.getMessage}")
        intercept[IllegalArgumentException](RollupNav.readStore(spark, dir2))
        assert(graft.operators.StoreManifest.currentVersion(spark, dir2) == -1L,
          s"$name: a refused maintain must commit nothing")
      } finally Fs.rmTree(dir2)
    }
  }

  test("bounded growth: 30 maintenance batches leave <= 2 manifests and only referenced files") {
    val dir = tmp()
    try {
      RollupNav.materialize(base.filter(lit(false)), shape, dir) // empty cube
      val days = base.select(col("day").cast("string")).distinct()
        .collect().map(_.getString(0)).sorted
      assert(days.length == 30)
      days.zipWithIndex.foreach { case (d, i) =>
        RollupNav.maintain(spark, dir, shape,
          base.filter(col("day") === d), Some(i.toLong))
      }
      // manifests: vacuum(retain=2) bounds the version count forever
      val manifests = new java.io.File(dir, "_graft_manifest").listFiles()
        .map(_.getName).filter(_.endsWith(".manifest"))
      assert(manifests.length <= 2,
        s"manifest count grows with stream age: ${manifests.length}")
      // data files on disk = union of the retained manifests' references
      // (no orphan accumulation across 30 commits)
      val versions = graft.operators.StoreManifest.versions(spark, dir)
      val referenced = versions.flatMap(v =>
        graft.operators.StoreManifest.read(spark, dir, v, "file")).toSet
      val onDisk = new java.io.File(dir).listFiles()
        .filter(d => d.isDirectory && d.getName.startsWith("day="))
        .flatMap(d => d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => s"${d.getName}/${f.getName}")).toSet
      assert(onDisk == referenced,
        s"unreferenced data accumulating: ${(onDisk -- referenced).take(5)}")
      // and the 30-batch stream equals the one-shot materialize
      val truthDir = tmp()
      try {
        RollupNav.materialize(base, shape, truthDir)
        val inc = RollupNav.answer(spark, dir, shape, Seq("event_type"), "day").get
        val truth = RollupNav.answer(spark, truthDir, shape, Seq("event_type"), "day").get
        assert(inc.exceptAll(truth).isEmpty && truth.exceptAll(inc).isEmpty)
      } finally Fs.rmTree(truthDir)
    } finally Fs.rmTree(dir)
  }

  test("day-ranged answer prunes the rollup store at the directory level") {
    val dir = tmp()
    try {
      RollupNav.materialize(base, shape, dir)
      val ranged = RollupNav.answer(spark, dir, shape, Seq("event_type"),
        "day", Some(("2024-01-03", "2024-01-05"))).get
      ranged.collect()
      val plan = ranged.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [isnotnull(day"),
        s"day range must prune partitions:\n$plan")
      // and the ranged answer equals the unranged one filtered after the fact
      val full = RollupNav.answer(spark, dir, shape, Seq("event_type"), "day").get
        .filter(col("grain").between("2024-01-03", "2024-01-05"))
      assert(ranged.exceptAll(full).isEmpty && full.exceptAll(ranged).isEmpty)
    } finally Fs.rmTree(dir)
  }
}
