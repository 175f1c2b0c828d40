package graftbench

import graft.SparkEntry
import java.nio.file.Paths
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.collection.mutable

/** `analytics`: passes over a fixed mix of registry queries, each result
  * collected in full, in a seeded order per pass. The writes are the
  * registry's store-maintenance entries. The warm-up pass's results are
  * dumped as parquet after the window for `run.py` to compare with DuckDB
  * running `SparkEntry.oracleSql`; every measured result must equal the
  * warm-up result of its query, and the maintenance entries must satisfy
  * their self-proving outputs.
  */
final class Analytics(spark: SparkSession, a: Main.Args, rec: Recorder) extends Workload {
  import Analytics._

  def cycleSeconds: Double = 7.0
  override def minCycles: Int = 1

  private val rnd = new scala.util.Random(a.seed)
  private val mix = (if (a.smoke) SmokeReads else Reads) ++ Writes
  private val queries = SparkEntry.queries
  private val reference = mutable.LinkedHashMap[String, (StructType, Array[Row])]()
  private var corruptPending = a.corrupt

  private def canon(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  /** Self-proving outputs of the maintenance entries. */
  private def selfCheck(name: String, rows: Array[Row]): Option[String] = {
    def col(n: String) = rows.map(r => r.get(r.fieldIndex(n)))
    name match {
      case _ if rows.isEmpty => Some("no rows")
      case "s_snapshot_compact" =>
        val n = col("n_rows").map(_.toString.toLong).distinct
        if (n.length == 1) None else Some(s"rows change across compaction: ${n.mkString(",")}")
      case _ => None
    }
  }

  private def run(name: String, warm: Boolean): Unit = {
    val isRead = !Writes.contains(name)
    rec.op(name, isRead) {
      val df = queries(name)(spark, a.data)
      (df.schema, df.collect())
    } { case (schema, rows0) =>
      // the self-test corrupts one warm-up reference of a query with an
      // oracle: the DuckDB check in run.py must then fail that query
      val rows = if (warm && corruptPending && rows0.nonEmpty && SparkEntry.oracleSql.contains(name)) {
        corruptPending = false
        Row.fromSeq(rows0.head.toSeq.map {
          case l: Long => l + 1; case i: Int => i + 1; case d: Double => d + 1; case v => v
        }) +: rows0.tail
      } else rows0
      selfCheck(name, rows).orElse {
        if (warm) { reference(name) = (schema, rows); None }
        else if (canon(rows) == canon(reference(name)._2)) None
        else Some("result differs from the warm-up result")
      }
    }
    graft.Blocks.dropAll(spark)
  }

  /** Warm-up: one pass in mix order, whose results become the references. */
  def setup(): Unit = mix.foreach(run(_, warm = true))

  def cycle(): Unit = rnd.shuffle(mix).foreach(run(_, warm = false))

  /** Dump each reference result for the DuckDB comparison in run.py
    * (four writes at a time: each is a tiny job, so the time is overhead).
    */
  override def check(): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    import scala.jdk.CollectionConverters._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(reference.toSeq.map { case (name, (schema, rows)) =>
      Future(spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(Paths.get("dumps", name).toAbsolutePath.toString))
    }), Duration.Inf)
    finally pool.shutdown()
  }

  override def extra(): Seq[(String, String)] = {
    val oracle = SparkEntry.oracleSql
    Seq("dumps" -> J.str(Paths.get("dumps").toAbsolutePath.toString),
      "oracle" -> J.obj(mix.filter(oracle.contains).map(n => n -> J.str(oracle(n)))))
  }
}

object Analytics {
  /** `q_recursive_reach` (34 Spark jobs, most of its time outside any
    * stage), the five BASELINE analogs, and two cheap-tail queries that
    * plan through graft's own TopKPerKey and RollupRewrite. With seven
    * cheap reads against one heavy one, the median read falls inside the
    * cheap group, not in the gap between the groups.
    */
  val Reads: Seq[String] = Seq(
    "q_recursive_reach",
    "q_agg_pricing_summary", "q_join_inner_equi", "q_win_rank_topn",
    "q_evt_tumbling_hourly", "q_sim_cosine_topk",
    "s_topk_custom_plan", "q_agg_routed_rollup")
  /** The store-maintenance entry (13 Spark jobs) whose output proves
    * itself: the row count of every snapshot version.
    */
  val Writes: Seq[String] = Seq("s_snapshot_compact")
  val SmokeReads: Seq[String] = Seq("q_agg_pricing_summary", "s_topk_custom_plan")
}
