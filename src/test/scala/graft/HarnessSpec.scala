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
  }
}
