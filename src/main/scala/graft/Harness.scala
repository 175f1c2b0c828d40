package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** What every graft main shares: the bench session and the environment
  * it reads, Bench's warm-up, the per-query loop, and the one task
  * listener.
  *
  * `runMain graft.Harness OUT.json [query...]` runs each named query
  * (default: every SparkEntry query) against SPARK_GRAFT_SF_DIR, cold
  * and then warm, both under the listener, timing `count()` as Bench
  * does; then once more through a `noop` write, which computes every
  * output column that `count()` lets Catalyst prune. It prints one line
  * per query and writes one JSON record per query to OUT: cold/warm/noop
  * seconds and rows, then the warm run's layers — SQL executions,
  * Catalyst planning ms, jobs, stages, tasks, time outside every stage,
  * summed stage wall, task run, task CPU and GC time, and
  * shuffle_read_bytes / shuffle_write_bytes / spilled_bytes /
  * input_bytes as integers.
  */
object Harness {

  type Query = (SparkSession, String) => DataFrame

  /** SPARK_GRAFT_CPUS: the `local[cpus]` width and shuffle partitions. */
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** SPARK_GRAFT_SF_DIR, else `default`. */
  def sfDir(default: String = "/root/testdata/sf0.1"): String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", default)

  /** Local-iteration filter for Bench and Verify: GRAFT_ONLY holds
    * comma-separated names or substrings; unset keeps every query.
    */
  def only(queries: Seq[(String, Query)]): Seq[(String, Query)] = {
    val keep = sys.env.get("GRAFT_ONLY").map(_.split(',').toSeq)
    queries.filter { case (name, _) => keep.forall(_.exists(name.contains)) }
  }

  /** The bench confs, without the master. */
  def confs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // coalesce tiny post-shuffle partitions down to the target size
    // instead of defending parallelism — at bench scale most shuffles
    // are far below one 64MB partition and the 32-way task scheduling
    // IS the cost; big shuffles still split by size. Results are
    // partition-count-invariant by construction, which Verify's 7-cpu
    // determinism probe re-proves
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.ui.enabled" -> "false")

  /** The bench session at `local[cpus]`. */
  def session(cpus: Int): SparkSession = {
    val spark = confs(cpus)
      .foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Bench's warm-up: pay one-off session/JIT/codegen/parquet-footer/
    * page-cache costs before the timing loop so the first timed query
    * measures the query, not JVM startup (BASELINE.md notes ~2s of
    * one-off session cost otherwise). One cheap query per base table: the
    * alphabetically first query touching a table otherwise absorbs its
    * whole cold-scan cost (q_curate_fuzzy was charged ~2.5s of
    * first-documents-read).
    */
  val warmUpQueries: Seq[String] = Seq("q_agg_pricing_summary",
    "q_agg_distinct_daily", "q_text_quality", "q_sim_cosine_topk")

  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    val qs = SparkEntry.queries
    warmUpQueries.flatMap(qs.get).foreach { fn =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
    }
  }

  /** One query's turn in `each`: the passes that finished, in order, and
    * the error that ended the rest.
    */
  final case class Outcome[A](name: String, passes: Seq[A], error: Option[Throwable])

  /** The per-query loop every harness main shares. Each query runs `pass`
    * up to `passes` times under a job group named after it; the first
    * error ends that query's passes and is kept, not thrown, so one
    * failing query never ends the loop. After each query, pass or fail,
    * the job group is cleared and every block dropped: operators cache
    * intermediates for intra-query reuse, and dropping them (and leaked
    * result-checkpoint blocks) between queries keeps a 200-query session
    * from accumulating storage that squeezes later queries.
    */
  def each[A](spark: SparkSession, queries: Seq[(String, Query)], passes: Int = 1)
             (pass: (String, Query) => A): Seq[Outcome[A]] = {
    val sc = spark.sparkContext
    queries.map { case (name, fn) =>
      val done = Seq.newBuilder[A]
      val error =
        try {
          sc.setJobGroup(name, name)
          for (_ <- 1 to passes) done += pass(name, fn)
          None
        } catch { case e: Throwable => Some(e) }
        finally {
          sc.clearJobGroup()
          Blocks.dropAll(spark)
        }
      Outcome(name, done.result(), error)
    }
  }

  /** `Class: message` of `e` on one line, cut to `max` chars. */
  def describe(e: Throwable, max: Int): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage))
      .linesIterator.mkString(" ").take(max)

  /** Wall seconds of `body`. */
  def secs(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** What one measured window did, from the public listener buses. Times
    * are ms; the last four are bytes. `planningMs` sums the Catalyst
    * phases (analysis, optimization, planning) of every query execution
    * that ended in the window.
    */
  final case class Layers(wallMs: Long, sqlExecutions: Long, planningMs: Long,
                          jobs: Long, stages: Long, tasks: Long,
                          outsideStageMs: Long, stageMs: Long, taskRunMs: Long,
                          taskCpuMs: Long, gcMs: Long, shuffleRead: Long,
                          shuffleWrite: Long, spilled: Long, input: Long)

  private final class Meter extends SparkListener with QueryExecutionListener {
    val sqlExecs, planMs, jobs, stages, tasks, stageMs, runMs, cpuNs, gcMs,
        read, write, spill, input = new AtomicLong
    private val counters = Seq(sqlExecs, planMs, jobs, stages, tasks, stageMs,
      runMs, cpuNs, gcMs, read, write, spill, input)
    /** (submission, completion) wall ms of every completed stage. */
    val spans = new ConcurrentLinkedQueue[(Long, Long)]

    override def onOtherEvent(e: SparkListenerEvent): Unit =
      if (e.isInstanceOf[SparkListenerSQLExecutionStart]) sqlExecs.incrementAndGet()
    private def planned(qe: QueryExecution): Unit =
      planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = planned(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = planned(qe)
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      for (s <- e.stageInfo.submissionTime; c <- e.stageInfo.completionTime) {
        stageMs.addAndGet(c - s)
        spans.add(s -> c)
      }
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
        input.addAndGet(m.inputMetrics.bytesRead)
      }
    }

    private def snap: Seq[Long] = counters.map(_.get)
    /** Listener delivery is async: poll until the counters go quiet (two
      * identical reads 100 ms apart) instead of racing the bus.
      */
    def settle(): Unit = {
      var prev = snap
      var tries = 0
      var quiet = false
      while (!quiet && tries < 100) {
        Thread.sleep(100)
        val cur = snap
        quiet = cur == prev
        prev = cur
        tries += 1
      }
    }
  }

  /** Total length of the union of `spans`, each clipped to [lo, hi]. */
  private def covered(spans: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var cur = lo
    spans.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > cur) { total += b - math.max(a, cur); cur = b }
      }
    total
  }

  /** Runs `fn` under a fresh listener; returns its value and its layers. */
  def measure[A](spark: SparkSession)(fn: => A): (A, Layers) = {
    val m = new Meter
    val sc = spark.sparkContext
    val executions = spark.listenerManager
    sc.addSparkListener(m)
    executions.register(m)
    try {
      val t0 = System.currentTimeMillis()
      val out = fn
      val t1 = System.currentTimeMillis()
      m.settle()
      val wall = t1 - t0
      (out, Layers(wall, m.sqlExecs.get, m.planMs.get, m.jobs.get, m.stages.get, m.tasks.get,
        math.max(0L, wall - covered(m.spans.asScala.toSeq, t0, t1)),
        m.stageMs.get, m.runMs.get, m.cpuNs.get / 1000000L, m.gcMs.get,
        m.read.get, m.write.get, m.spill.get, m.input.get))
    } finally { executions.unregister(m); sc.removeSparkListener(m) }
  }

  /** `measure`'s byte counters alone: (shuffle read, shuffle write,
    * spilled, input).
    */
  def bytes(spark: SparkSession)(fn: => Unit): (Long, Long, Long, Long) = {
    val l = measure(spark)(fn)._2
    (l.shuffleRead, l.shuffleWrite, l.spilled, l.input)
  }

  def fmt(v: Double, digits: Int = 3): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))

  /** `s` as a JSON string: backslash, quote and ALL control chars (<0x20)
    * escaped — a tab or CR in hand-written SQL would otherwise make a
    * reader's json.load fail.
    */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Writes `text` to `path`. A failed write is reported on stderr, never
    * thrown: no run is failed over its file copy, and none is hidden.
    */
  def save(path: String, text: String): Unit =
    try Files.write(Paths.get(path), text.getBytes(UTF_8))
    catch { case e: Throwable => System.err.println(s"[graft] could not write $path: $e") }

  /** One query's JSON record: cold, warm and `noop`-write seconds, rows,
    * and the warm run's layers, bytes as integers.
    */
  def record(name: String, rows: Long, cold: Layers, w: Layers, noopS: Double): String =
    s"""${quote(name)}: {"cold_s":${fmt(cold.wallMs / 1e3)},"warm_s":${fmt(w.wallMs / 1e3)},""" +
      s""""noop_s":${fmt(noopS)},"rows":$rows,""" +
      s""""sql_executions":${w.sqlExecutions},"planning_ms":${w.planningMs},""" +
      s""""jobs":${w.jobs},"stages":${w.stages},"tasks":${w.tasks},"outside_stage_ms":${w.outsideStageMs},""" +
      s""""stage_ms":${w.stageMs},"task_run_ms":${w.taskRunMs},"task_cpu_ms":${w.taskCpuMs},"gc_ms":${w.gcMs},""" +
      s""""shuffle_read_bytes":${w.shuffleRead},"shuffle_write_bytes":${w.shuffleWrite},"spilled_bytes":${w.spilled},"input_bytes":${w.input}}"""

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("LAYERS.json")
    val sf = sfDir()
    val spark = session(cpus)
    val registry = SparkEntry.queries
    val names = if (args.length > 1) args.toSeq.drop(1) else registry.keys.toSeq.sorted
    val (known, unknown) = names.partition(registry.contains)
    unknown.foreach(n => println(s"[harness] unknown query: $n"))
    val records = each(spark, known.map(n => n -> registry(n))) { (_, fn) =>
      val (rows, cold) = measure(spark)(fn(spark, sf).count())
      val (_, w) = measure(spark)(fn(spark, sf).count())
      (rows, cold, w, secs(fn(spark, sf).write.format("noop").mode("overwrite").save()))
    }.map {
      case Outcome(name, Seq((rows, cold, w, noopS)), _) =>
        println(f"[harness] $name%-28s cold ${cold.wallMs / 1e3}%6.2f s  warm ${w.wallMs / 1e3}%6.2f s  noop $noopS%6.2f s  rows $rows  sql ${w.sqlExecutions}  planning ${w.planningMs} ms  jobs ${w.jobs}  stages ${w.stages}  tasks ${w.tasks}  outside ${w.outsideStageMs} ms")
        record(name, rows, cold, w, noopS)
      case o =>
        val msg = o.error.fold("no result")(describe(_, 200))
        println(s"[harness] ${o.name} failed: $msg")
        s"""${quote(o.name)}: {"err":${quote(msg)}}"""
    }
    save(out, records.mkString("{\n  ", ",\n  ", "\n}\n"))
    println(s"[harness] wrote ${records.size} records to $out")
    spark.stop()
  }
}
