package graft

/** Plan-inspection main: prints `explain(formatted)` for selected queries
  * (all of them with no args). Used to keep the physical plans honest —
  * pushed filters, pruned ReadSchema, broadcast joins on dims,
  * partial+final HashAggregate, WholeStageCodegen spans.
  *
  * Usage: runMain graft.Explain [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir("/root/testdata/sf0.01")
    val spark = Harness.session(Harness.cpus)
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      println(s"\n========== $name ==========")
      try SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
