package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for test suites — mirrors the harness config
  * (UTC, nanos-as-long, small shuffle partitions).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  /** sf0.001 by default; GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 replays
    * the driver's exact t2 scale through the whole suite.
    */
  val sfDir: String =
    sys.env.getOrElse("GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

  /** Run `body` on this thread as a batch of streaming query `id` — the
    * property Spark's stream thread carries while it runs the query's
    * foreachBatch function. A restart from the query's checkpoint keeps
    * its id; a fresh checkpoint gets a new one.
    */
  def asQuery[T](id: String)(body: => T): T = {
    val key = org.apache.spark.sql.execution.streaming.runtime.StreamExecution.QUERY_ID_KEY
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(key)
    sc.setLocalProperty(key, id)
    try body finally sc.setLocalProperty(key, prev)
  }

  /** Leave `dir` as a store writer leaves it when it dies after staging
    * its files and before its manifest commit: `write` runs on a copy
    * of `dir`, and every file it added there, except manifests, is
    * copied back.
    */
  def crashBeforeCommit(dir: String)(write: String => Unit): Unit = {
    val src = java.nio.file.Paths.get(dir)
    val clone = java.nio.file.Files.createTempDirectory("graft_crash")
    try {
      Fs.cpTree(src, clone)
      write(clone.toString)
      val tree = java.nio.file.Files.walk(clone)
      try tree.filter(p => java.nio.file.Files.isRegularFile(p)).forEach { p =>
        val rel = clone.relativize(p)
        val to = src.resolve(rel)
        if (!rel.startsWith(graft.operators.StoreManifest.ManifestDir) &&
            !java.nio.file.Files.exists(to)) {
          java.nio.file.Files.createDirectories(to.getParent)
          java.nio.file.Files.copy(p, to)
        }
      } finally tree.close()
    } finally Fs.rmTree(clone)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
