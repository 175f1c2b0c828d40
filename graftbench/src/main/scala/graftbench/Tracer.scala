package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The traced run's per-layer record, gathered only through Spark's public
  * listener interfaces, attached from outside graft:
  *  - a SparkListener for jobs, stages and task metrics;
  *  - a QueryExecutionListener for the Catalyst phases (`qe.tracker`) and
  *    for whether the executed plan holds a graft node;
  *  - a StreamingQueryListener for each trigger's `durationMs`.
  *
  * Jobs are attributed to operations by time: the client is a closed
  * loop, so operations never overlap. Spark pins every job a streaming
  * query runs to the call site of the query's `start()`, so the call site
  * cannot say which graft file issued a trigger's job; a sampler reads the
  * stream execution thread's stack every few milliseconds instead, and a
  * trigger's time is split by the innermost graft file on that stack.
  */
final class Tracer(detectGraftNodes: Boolean) {
  import Tracer.SampleMs
  final case class JobRec(start: Long, stream: Boolean, stageIds: Seq[Int])
  final class StageRec {
    @volatile var submit, complete = -1L
    @volatile var tasks = 0L
    @volatile var cpuNs, runMs, shuffleW, inputR, outputW, spill = 0L
  }
  final case class QeRec(start: Long, planningMs: Double, graftNode: Boolean)
  final case class Trigger(start: Long, triggerMs: Double, addBatchMs: Double,
                           rows: Long)

  final case class Sample(at: Long, file: String, compacting: Boolean)
  val samples = new ConcurrentLinkedQueue[Sample]()

  /** Innermost graft frame of a stack, as `<package>.<File>`. */
  def fileOf(st: Array[StackTraceElement]): String =
    st.find(f => f.getClassName.startsWith("graft.") && f.getFileName != null)
      .map { f =>
        val pkg = f.getClassName.split('.')
        val file = f.getFileName.stripSuffix(".scala")
        if (pkg.length > 2) s"${pkg(1)}.$file" else file
      }.getOrElse("engine")

  private val sampler = new Thread("graftbench-stack-sampler") {
    override def run(): Unit = {
      var streamThreads = Seq.empty[Thread]
      var refreshed = 0L
      while (!isInterrupted) {
        val now = System.currentTimeMillis()
        if (now - refreshed > 500) {
          streamThreads = Thread.getAllStackTraces.keySet.asScala.toSeq
            .filter(_.getName.startsWith("stream execution thread"))
          refreshed = now
        }
        streamThreads.foreach { t =>
          val st = t.getStackTrace
          samples.add(Sample(now, fileOf(st), st.exists(f =>
            f.getClassName.startsWith("graft.operators.InvertedIndex") && f.getMethodName == "compact")))
        }
        try Thread.sleep(SampleMs) catch { case _: InterruptedException => interrupt() }
      }
    }
  }
  sampler.setDaemon(true)
  sampler.start()
  def stop(): Unit = sampler.interrupt()

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val qes = new ConcurrentLinkedQueue[QeRec]()
  val triggers = new ConcurrentLinkedQueue[Trigger]()
  @volatile var windowStart, windowEnd = 0L

  private def stage(id: Int) = stages.computeIfAbsent(id, _ => new StageRec)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val stream = e.properties != null &&
        e.properties.getProperty("sql.streaming.queryId") != null
      jobs.put(e.jobId, JobRec(e.time, stream, e.stageIds))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = stage(e.stageInfo.stageId)
      s.submit = e.stageInfo.submissionTime.getOrElse(-1L)
      s.complete = e.stageInfo.completionTime.getOrElse(-1L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stage(e.stageId)
      val m = e.taskMetrics
      s.synchronized {
        s.tasks += 1
        if (m != null) {
          s.cpuNs += m.executorCpuTime; s.runMs += m.executorRunTime
          s.shuffleW += m.shuffleWriteMetrics.bytesWritten
          s.inputR += m.inputMetrics.bytesRead
          s.outputW += m.outputMetrics.bytesWritten
          s.spill += m.diskBytesSpilled
        }
      }
    }
  }

  private def roots(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Set[String] =
    p.collect { case l: LogicalRelation => l.relation match {
      case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
      case _ => Nil
    } }.flatten.toSet

  /** TopKPerKey, `graft_dot`, or a RollupRewrite route (the optimized plan
    * scans a path the analyzed plan does not).
    */
  def graftNode(qe: QueryExecution): Boolean = {
    val phys = qe.executedPlan.toString
    phys.contains("TopKPerKey") || phys.contains("graft_dot") ||
      !roots(qe.optimizedPlan).subsetOf(roots(qe.analyzed))
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      val planning = Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
      val start = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.startTimeMs).min
      val node = detectGraftNodes && (try graftNode(qe) catch { case _: Throwable => false })
      qes.add(QeRec(start, planning, node))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String) = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      triggers.add(Trigger(java.time.Instant.parse(p.timestamp).toEpochMilli,
        ms("triggerExecution"), ms("addBatch"), p.numInputRows))
    }
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  /** Total length of the union of `ivs`, each clipped to [lo, hi]. */
  private def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var cur = lo
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > cur) { total += b - math.max(a, cur); cur = b }
      }
    total
  }

  /** Per-layer figures over the measured operations, as a JSON object. */
  def report(ops: Seq[Recorder#Op]): String = {
    val allJobs = jobs.values.asScala.toSeq
    def jobsIn(o: Recorder#Op) = allJobs.filter(j => j.start >= o.startMs && j.start <= o.endMs)
    def ranStages(js: Seq[JobRec]) = js.flatMap(_.stageIds).distinct
      .flatMap(id => Option(stages.get(id))).filter(_.complete >= 0)
    def outside(o: Recorder#Op) = {
      val ivs = ranStages(jobsIn(o)).map(s => (s.submit, s.complete))
      math.max(0.0, o.ms - covered(ivs, o.startMs, o.endMs))
    }
    val reads = ops.filter(_.isRead); val writes = ops.filterNot(_.isRead)
    def per(xs: Seq[Double], n: Int) = if (n == 0) 0.0 else xs.sum / n
    val winJobs = allJobs.filter(j => j.start >= windowStart && j.start <= windowEnd)
    val winStages = ranStages(winJobs)
    val nOps = math.max(1, ops.size)
    val mb = 1e6
    val readQes = qes.asScala.toSeq.filter(q => reads.exists(o => q.start >= o.startMs && q.start <= o.endMs))
    val trig = triggers.asScala.toSeq.filter(t => t.rows > 0 && t.start >= windowStart && t.start <= windowEnd)
    val pickups = writes.flatMap { o =>
      trig.filter(_.start >= o.startMs - 1000).sortBy(_.start).headOption
        .map(t => math.max(0L, t.start - o.startMs).toDouble) }
    val allSamples = samples.asScala.toSeq
    def samplesIn(o: Recorder#Op) = allSamples.filter(x => x.at >= o.startMs && x.at <= o.endMs)
    // each write's time split by the share of its samples per graft file
    val fileMs = mutable.HashMap[String, Double]().withDefaultValue(0.0)
    writes.foreach { o =>
      val ss = samplesIn(o)
      ss.groupBy(_.file).foreach { case (f, xs) => fileMs(f) += o.ms * xs.size / ss.size / writes.size }
    }
    val writeJobs = writes.flatMap(jobsIn)
    val byKind = ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, os) =>
      val stats = J.obj(Seq("ms" -> J.num(median(os.map(_.ms))),
        "jobs" -> J.num(os.map(o => jobsIn(o).size.toDouble).sum / os.size),
        "read" -> os.head.isRead.toString,
        "graft_node" -> qes.asScala.exists(q => q.graftNode &&
          os.exists(o => q.start >= o.startMs && q.start <= o.endMs)).toString,
        "n" -> os.size.toString))
      k -> stats
    }
    J.obj(Seq(
      "spark.jobs_per_read" -> J.num(per(reads.map(jobsIn(_).size.toDouble), reads.size)),
      "spark.outside_stage_ms_per_read" -> J.num(per(reads.map(outside), reads.size)),
      "spark.jobs_per_write" -> J.num(per(writes.map(jobsIn(_).size.toDouble), writes.size)),
      "spark.outside_stage_ms_per_write" -> J.num(per(writes.map(outside), writes.size)),
      "spark.stages_per_op" -> J.num(winStages.size.toDouble / nOps),
      "spark.tasks_per_op" -> J.num(winStages.map(_.tasks).sum.toDouble / nOps),
      "spark.planning_ms_per_read" -> J.num(per(readQes.map(_.planningMs), reads.size)),
      "spark.task_cpu_ratio" -> J.num({
        val run = winStages.map(_.runMs).sum
        if (run == 0) 0.0 else winStages.map(_.cpuNs).sum / 1e6 / run }),
      "spark.shuffle_mb_per_op" -> J.num(winStages.map(_.shuffleW).sum / mb / nOps),
      "spark.input_mb_per_op" -> J.num(winStages.map(_.inputR).sum / mb / nOps),
      "spark.spill_mb" -> J.num(winStages.map(_.spill).sum / mb),
      "streaming.trigger_ms" -> J.num(median(trig.map(_.triggerMs))),
      "streaming.sink_ms" -> J.num(median(trig.map(_.addBatchMs))),
      "streaming.engine_ms" -> J.num(median(trig.map(t => t.triggerMs - t.addBatchMs))),
      "streaming.pickup_ms" -> J.num(median(pickups)),
      "streaming.jobs_per_trigger" -> J.num(
        if (trig.isEmpty) 0.0 else winJobs.count(_.stream).toDouble / trig.size),
      "store.written_mb" -> J.num(ranStages(writeJobs).map(_.outputW).sum / mb),
      "operators.compactions" -> writes.count(o => samplesIn(o).exists(_.compacting)).toString,
      "write_ms_by_file" -> J.obj(fileMs.toSeq.sortBy(_._1).map { case (f, v) => f -> J.num(v) }),
      "by_kind" -> J.obj(byKind)))
  }
}

object Tracer {
  val SampleMs = 20

  def install(spark: SparkSession, detectGraftNodes: Boolean): Tracer = {
    val t = new Tracer(detectGraftNodes)
    spark.sparkContext.addSparkListener(t.sparkListener)
    spark.listenerManager.register(t.qeListener)
    spark.streams.addListener(t.streamListener)
    t
  }
}
