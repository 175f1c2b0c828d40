package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** One measured benchmark run in a fresh JVM. `run.py` launches it in a
  * scratch working directory, reads the raw samples it writes to `--out`,
  * checks the analytics dumps against DuckDB and prints the metrics.
  *
  * Arguments: `--workload serve|analytics|docs --seed N --seconds S
  * --trace 0|1 --cpus K --data SF_DIR --events PARQUET --out FILE --launched-ms EPOCH_MS
  * [--smoke 1] [--corrupt 1]`. `--smoke` shrinks the inputs for the
  * self-test; `--corrupt` falsifies one answer before it is checked, so
  * the self-test can show that the checkers count it as a failure.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, events: String, out: String,
                        launchedMs: Long, smoke: Boolean, corrupt: Boolean)

  /** Longest measured window: a stalled host ends the run early rather
    * than past the run's time limit.
    */
  val WindowCapS = 90.0

  /** The session `graft.Bench` builds (same confs), at `local[cpus]`. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get("spark-local").toAbsolutePath.toString)
      .config("spark.sql.warehouse.dir", Paths.get("warehouse").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.get("trace").contains("1"), kv("data"), kv("events"), kv("out"),
      kv("launched-ms").toLong, kv.get("smoke").contains("1"),
      kv.get("corrupt").contains("1"))
    val cpus = math.min(kv("cpus").toInt, Runtime.getRuntime.availableProcessors())
    val spark = session(cpus)
    val tracer = if (a.trace) Some(Tracer.install(spark, a.workload == "analytics")) else None
    val rec = new Recorder(tracer)
    val workload: Workload = a.workload match {
      case "serve" => new Serve(spark, a, rec)
      case "analytics" => new Analytics(spark, a, rec)
      case "docs" => new Docs(spark, a, rec)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    try {
      rec.phase("session")
      workload.setup()
      rec.phase("warm-up")
      // a fixed count of cycles, so every run does the same work whatever
      // the host's speed; the cap only bounds a run on a stalled host
      val cycles = math.max(workload.minCycles, math.round(a.seconds / workload.cycleSeconds).toInt)
      rec.startWindow()
      var i = 0
      while (i < cycles && !rec.windowOver(WindowCapS)) { workload.cycle(); i += 1 }
      rec.endWindow()
      rec.phase(s"window ($i of $cycles cycles)")
      // let the listener bus deliver the window's last events
      tracer.foreach { t => Thread.sleep(1000); t.stop() }
      workload.check()
      val extra = workload.extra()
      val json = rec.toJson(a, cpus, extra)
      Files.write(Paths.get(a.out), json.getBytes(StandardCharsets.UTF_8))
    } finally {
      workload.close()
      spark.stop()
    }
  }
}

/** One benchmark workload: set-up (inputs, stores, warm-up), one cycle of
  * closed-loop operations, and the correctness check of every answer.
  */
trait Workload {
  /** Length of one cycle on the reference host (4 vCPU, k = 2): a run of
    * `--seconds S` measures `max(minCycles, round(S / cycleSeconds))`
    * cycles, a count that does not depend on how fast the host is.
    */
  def cycleSeconds: Double
  def minCycles: Int = 2
  def setup(): Unit
  def cycle(): Unit
  /** Post-window checks that need the final store state. */
  def check(): Unit = ()
  /** Workload-specific fields for the result file (JSON fragments). */
  def extra(): Seq[(String, String)] = Nil
  def close(): Unit = ()
}

/** Samples of one run: every operation's kind, class (read/write),
  * latency and outcome, plus process CPU, GC and memory over the window.
  */
final class Recorder(val tracer: Option[Tracer]) {
  final case class Op(kind: String, isRead: Boolean, startMs: Long,
                      endMs: Long, ms: Double, var ok: Boolean, var err: String)
  val ops = ArrayBuffer[Op]()
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcMs = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  }
  private var w0Ns, w1Ns, cpu0, cpu1, gc0, gc1 = 0L
  var w0Ms, w1Ms = 0L
  /** Wall-clock marks of the run's phases, for the run log. */
  private val phases = ArrayBuffer[(String, Long)]()
  def phase(name: String): Unit = phases += (name -> System.currentTimeMillis())

  def startWindow(): Unit = {
    w0Ms = System.currentTimeMillis(); w0Ns = System.nanoTime()
    cpu0 = os.getProcessCpuTime; gc0 = gcMs
    tracer.foreach(_.windowStart = w0Ms)
  }
  def windowOver(seconds: Double): Boolean = (System.nanoTime() - w0Ns) / 1e9 >= seconds
  def endWindow(): Unit = {
    w1Ms = System.currentTimeMillis(); w1Ns = System.nanoTime()
    cpu1 = os.getProcessCpuTime; gc1 = gcMs
    tracer.foreach(_.windowEnd = w1Ms)
  }
  def measuring: Boolean = w0Ns != 0L && w1Ns == 0L

  /** Time `body`; an exception or a `false` answer from `verify` marks the
    * operation failed. Outside the window the op runs but is not kept.
    */
  def op[T](kind: String, isRead: Boolean)(body: => T)(verify: T => Option[String]): Option[T] = {
    val s = System.currentTimeMillis(); val t = System.nanoTime()
    val r = try Right(body) catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t) / 1e6
    val o = Op(kind, isRead, s, System.currentTimeMillis(), ms, ok = true, err = null)
    r match {
      case Left(e) => o.ok = false; o.err = s"${e.getClass.getSimpleName}: ${e.getMessage}"
      case Right(v) =>
        val bad = try verify(v) catch { case e: Throwable => Some(s"check failed: $e") }
        bad.foreach { m => o.ok = false; o.err = m }
    }
    if (measuring) ops += o
    else if (!o.ok) throw new IllegalStateException(s"set-up $kind failed: ${o.err}")
    r.toOption
  }

  /** Record an operation timed elsewhere (a write whose latency runs from
    * publish to commit).
    */
  def timed(kind: String, isRead: Boolean, startMs: Long, ms: Double, err: Option[String]): Op = {
    val o = Op(kind, isRead, startMs, startMs + math.round(ms), ms, err.isEmpty, err.orNull)
    if (measuring) ops += o
    else if (!o.ok) throw new IllegalStateException(s"set-up $kind failed: ${o.err}")
    o
  }

  def toJson(a: Main.Args, cpus: Int, extra: Seq[(String, String)]): String = {
    val hwmKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    val opsJson = ops.map { o =>
      s"""{"kind":${J.str(o.kind)},"read":${o.isRead},"ms":${o.ms},"ok":${o.ok},"err":${J.str(o.err)}}"""
    }.mkString("[", ",", "]")
    val fields = Seq(
      "workload" -> J.str(a.workload), "cpus" -> cpus.toString,
      "setup_done_ms" -> w0Ms.toString, "launched_ms" -> a.launchedMs.toString,
      "window_s" -> ((w1Ns - w0Ns) / 1e9).toString,
      "cpu_ms" -> ((cpu1 - cpu0) / 1e6).toString, "gc_ms" -> (gc1 - gc0).toString,
      "peak_rss_kb" -> hwmKb.toString, "ops" -> opsJson,
      "phases" -> J.obj(phases.toSeq.zip(a.launchedMs +: phases.toSeq.map(_._2)).map {
        case ((n, t), prev) => n -> J.num((t - prev) / 1000.0) })) ++
      tracer.map(t => "trace" -> t.report(ops.toSeq)).toSeq ++ extra
    J.obj(fields)
  }
}

object J {
  def str(s: String): String =
    if (s == null) "null"
    else s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }.mkString("\"", "", "\"")
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
