package graft

/** The shared per-query loop keeps going past a failing query and leaves
  * no job group behind, and every main's session carries exactly Bench's
  * confs.
  */
class HarnessSpec extends SparkSpec {

  test("each: a throwing query is recorded, the next still runs, the job group is cleared") {
    val sc = spark.sparkContext
    val registry: Seq[(String, Harness.Query)] = Seq(
      "a_throws" -> ((_, _) => throw new IllegalStateException("boom")),
      "b_runs" -> ((s, _) => s.range(3).toDF("id")))
    val groups = Seq.newBuilder[String]
    val out = Harness.each(spark, registry, passes = 2) { (_, fn) =>
      groups += sc.getLocalProperty("spark.jobGroup.id")
      fn(spark, sfDir).count()
    }
    assert(out.map(_.name) == Seq("a_throws", "b_runs"))
    assert(out(0).passes.isEmpty)
    assert(out(0).error.exists(_.getMessage == "boom"))
    assert(out(1).passes == Seq(3L, 3L) && out(1).error.isEmpty)
    assert(groups.result() == Seq("a_throws", "b_runs", "b_runs"),
      "every pass runs under a job group named after its query")
    assert(sc.getLocalProperty("spark.jobGroup.id") == null)
  }

  test("session confs are exactly Bench's five") {
    assert(Harness.confs(4).toMap == Map(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.ui.enabled" -> "false"))
    assert(Harness.confs(4).size == 5)
  }

  test("measure: a shuffling query's layers add up") {
    import org.apache.spark.sql.functions.col
    val (rows, l) = Harness.measure(spark) {
      spark.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).count().collect().length
    }
    assert(rows == 7)
    assert(l.jobs >= 1 && l.stages >= 2 && l.tasks >= l.stages, l.toString)
    assert(l.shuffleWrite > 0 && l.shuffleRead > 0, l.toString)
    assert(l.outsideStageMs >= 0 && l.outsideStageMs <= l.wallMs, l.toString)
    assert(l.sqlExecutions > 0 && l.planningMs > 0, l.toString)
    // the record carries the bytes as integers, so a small shuffle
    // reads non-zero instead of rounding to 0.00 MB
    val rec = Harness.record("q", rows, l, l, 0.25)
    val field = """"(\w+_bytes)":(\d+)""".r
    val bytes = field.findAllMatchIn(rec).map(m => m.group(1) -> m.group(2).toLong).toMap
    assert(bytes.keySet == Set("shuffle_read_bytes", "shuffle_write_bytes",
      "spilled_bytes", "input_bytes"), rec)
    assert(bytes("shuffle_read_bytes") == l.shuffleRead && bytes("shuffle_read_bytes") > 0, rec)
    assert(bytes("shuffle_write_bytes") == l.shuffleWrite && bytes("shuffle_write_bytes") > 0, rec)
    assert(rec.contains(s""""sql_executions":${l.sqlExecutions},"planning_ms":${l.planningMs},"""), rec)
    // the noop-write pass's seconds, beside the count() passes' cold and warm
    assert(rec.contains(""""noop_s":0.250,"""), rec)
  }
}
