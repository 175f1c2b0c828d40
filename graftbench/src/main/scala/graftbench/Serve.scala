package graftbench

import graft.Fs
import graft.sources.QueueIngest
import graft.streaming.ServingSink
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import scala.collection.mutable

/** `serve`: the reference topology. One cycle publishes one NDJSON
  * delivery into the spool a running `ServingSink.start` query tails,
  * waits for its commit, then issues point lookups, one distinct-users
  * range read and one top-k read. Every answer is checked against the
  * benchmark's own in-memory model of the committed events.
  *
  * The deliveries are consecutive rows of the repository's `events` table
  * (time order) from a seeded start, so user skew, event-type mix, value
  * range and time spread are the table's own. The seed also picks which
  * lines are turned invalid: `InvalidShare` of each reject reason.
  */
final class Serve(spark: SparkSession, a: Main.Args, rec: Recorder) extends Workload {
  import Serve._

  def cycleSeconds: Double = 2.6

  private val rnd = new scala.util.Random(a.seed)
  private val perDelivery = if (a.smoke) 100 else 500
  private val inDir = Paths.get("serve/spool").toAbsolutePath.toString
  private val storeDir = Paths.get("serve/store").toAbsolutePath.toString
  private val ckptDir = Paths.get("serve/ckpt").toAbsolutePath.toString

  final case class Event(id: Long, ts: String, user: Long, tpe: String, value: Double,
                         props: String) {
    def hour: Long = java.time.LocalDateTime.parse(ts.take(13) + ":00")
      .toEpochSecond(java.time.ZoneOffset.UTC) / 3600
    def cents: Long = BigDecimal(value).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      .underlying.movePointRight(2).longValueExact()
    def json(user: String = user.toString, tpe: String = tpe, value: String = value.toString): String =
      s"""{"event_id":$id,"ts":"$ts",${if (user == null) "" else s""""user_id":$user,"""}""" +
        s""""event_type":"$tpe","value":$value,"props":${J.str(props)}}"""
  }
  /** Consecutive rows of the events table from a seeded start, written
    * by `run.py` as tab-separated text; deliveries take them in order and
    * wrap around.
    */
  private lazy val events: IndexedSeq[Event] = {
    val src = scala.io.Source.fromFile(a.events, "UTF-8")
    try src.getLines().map(_.split('\t')).map { f =>
      Event(f(0).toLong, f(1), f(2).toLong, f(3), f(4).toDouble, f(5))
    }.toIndexedSeq finally src.close()
  }
  private lazy val sliceUsers = events.map(_.user).distinct.sorted

  // model of the committed events: (hour, user) -> (count, cents)
  private val counts = mutable.HashMap[(Long, Long), (Long, Long)]()
  private val usersByHour = mutable.HashMap[Long, mutable.Set[Long]]()
  private val committedUsers = mutable.ArrayBuffer[Long]() // one per valid event
  // batch id -> generated invalid lines by reason
  private val rejectsExpected = mutable.LinkedHashMap[Long, Map[String, Long]]()
  private val batchOfWrite = mutable.HashMap[Long, Recorder#Op]()
  private var next = 0
  private var deliveries = 0
  private var publishedBytes = 0L
  private var query: StreamingQuery = _
  private var corruptPending = a.corrupt

  /** One delivery: the next `perDelivery` events of the slice, each turned
    * invalid with probability `InvalidShare` per reject reason.
    */
  private def delivery(): (Seq[String], Seq[Event], Map[String, Long]) = {
    val lines = Seq.newBuilder[String]
    val valid = Seq.newBuilder[Event]
    val bad = mutable.HashMap[String, Long]().withDefaultValue(0L)
    for (_ <- 0 until perDelivery) {
      val e = events(next % events.size)
      next += 1
      val u = rnd.nextDouble()
      if (u < InvalidShare) {
        lines += e.json().take(30) // truncated JSON
        bad("malformed_json") += 1
      } else if (u < 2 * InvalidShare) {
        lines += e.json(tpe = "bogus")
        bad("unknown_event_type") += 1
      } else if (u < 3 * InvalidShare) {
        lines += e.json(value = s"-${e.value + 1}")
        bad("negative_value") += 1
      } else if (u < 4 * InvalidShare) {
        lines += e.json(user = null)
        bad("missing_user_id") += 1
      } else {
        lines += e.json()
        valid += e
      }
    }
    (lines.result(), valid.result(), bad.toMap)
  }

  /** Publish one delivery and wait until ServingSink commits it. */
  private def write(): Unit = {
    val (lines, valid, bad) = delivery()
    val before = ServingSink.committedBatch(storeDir)
    val start = System.currentTimeMillis(); val t = System.nanoTime()
    QueueIngest.publish(inDir, f"d$deliveries%05d", lines)
    var committed = before
    while (committed == before && query.isActive &&
      (System.nanoTime() - t) < CommitTimeoutNs) {
      Thread.sleep(2)
      committed = ServingSink.committedBatch(storeDir)
    }
    val ms = (System.nanoTime() - t) / 1e6
    deliveries += 1
    val err =
      if (committed == before) Some(Option(query.exception.orNull).fold("no commit")(_.toString))
      else if (committed != before + 1) Some(s"one delivery committed as batches ${before + 1}..$committed")
      else None
    val op = rec.timed("delivery", isRead = false, start, ms, err)
    if (committed > before) {
      valid.foreach { e =>
        val (n, s) = counts.getOrElse((e.hour, e.user), (0L, 0L))
        counts((e.hour, e.user)) = (n + 1, s + e.cents)
        usersByHour.getOrElseUpdate(e.hour, mutable.Set[Long]()) += e.user
        committedUsers += e.user
      }
      rejectsExpected(committed) = bad
      if (rec.measuring) { batchOfWrite(committed) = op; publishedBytes += lines.map(_.length + 1).sum }
    }
  }

  private def hourOf(r: Row, i: Int): Long = r.getTimestamp(i).getTime / 3600000L
  private def hourText(h: Long): String =
    java.time.LocalDateTime.ofEpochSecond(h * 3600, 0, java.time.ZoneOffset.UTC)
      .toString.replace('T', ' ') + ":00"

  private def pointRead(user: Long): Unit =
    rec.op("point", isRead = true) {
      ServingSink.countsPerUser(spark, storeDir).filter(col("user_id") === user).collect()
    } { rows =>
      val got = rows.map(r => hourOf(r, 0) -> (r.getLong(2),
        r.getDecimal(3).movePointRight(2).longValueExact())).toMap
      val got2 = if (corruptPending && rec.measuring && got.nonEmpty) {
        corruptPending = false
        got.map { case (h, (n, s)) => h -> (n + 1, s) } } else got
      val want = counts.collect { case ((h, u), v) if u == user => h -> v }.toMap
      if (got2 == want) None else Some(s"user $user: got $got2, want $want")
    }

  private def rangeRead(from: Long, until: Long): Unit =
    rec.op("range", isRead = true) {
      ServingSink.uniquesRange(spark, storeDir, hourText(from), hourText(until)).collect()
    } { rows =>
      val exact = (from until until).flatMap(h => usersByHour.getOrElse(h, Nil)).toSet.size
      val est = if (rows.isEmpty || rows.head.isNullAt(0)) 0L else rows.head.getLong(0)
      // HLL (lgK 12): relative standard error 1.6%; 3 sigma plus one
      if (math.abs(est - exact) <= 0.05 * exact + 1) None
      else Some(s"uniques [$from,$until): estimate $est, exact $exact")
    }

  private def topkRead(): Unit =
    rec.op("topk", isRead = true) {
      ServingSink.topkHourly(spark, storeDir, TopK).collect()
    } { rows =>
      val got = rows.groupBy(hourOf(_, 0)).map { case (h, rs) =>
        h -> rs.sortBy(_.getAs[Int]("rn")).map(r => (r.getLong(1), r.getLong(2))).toSeq }
      val want = counts.toSeq.groupBy(_._1._1).map { case (h, es) =>
        h -> es.map { case ((_, u), (n, _)) => (u, n) }
          .sortBy { case (u, n) => (-n, u) }.take(TopK) }
      if (got == want) None else Some("top-k per hour differs from the model")
    }

  private def reads(): Unit = {
    // three users drawn by activity (the user of a random committed
    // event), three uniformly from the users of the slice
    for (_ <- 0 until 3) pointRead(committedUsers(rnd.nextInt(committedUsers.size)))
    for (_ <- 0 until 3) pointRead(sliceUsers(rnd.nextInt(sliceUsers.size)))
    val (lo, hi) = (usersByHour.keys.min, usersByHour.keys.max)
    val from = lo + rnd.nextLong(math.max(1L, hi - lo - RangeHours + 2))
    rangeRead(from, from + RangeHours)
    topkRead()
  }

  def setup(): Unit = {
    events
    Seq(inDir, storeDir, ckptDir).foreach(d => Fs.rmTree(d))
    Files.createDirectories(Paths.get(inDir))
    query = ServingSink.start(spark, inDir, storeDir, ckptDir, Trigger.ProcessingTime(0L))
    // warm-up: codegen and JIT for every read shape and for both kinds of
    // commit (the first has no snapshot to merge, the second does)
    write(); reads(); write()
  }

  def cycle(): Unit = { write(); reads() }

  /** Dead-letter check: each measured batch's rejects equal the invalid
    * lines generated for it, reason by reason.
    */
  override def check(): Unit =
    batchOfWrite.toSeq.sortBy(_._1).foreach { case (b, op) =>
      val got = try spark.read.parquet(s"$storeDir/rejects/v$b").groupBy("reject_reason")
        .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      catch { case e: Throwable => Map("error: " + e.getMessage -> 0L) }
      if (got != rejectsExpected(b)) {
        op.ok = false; op.err = s"batch $b rejects $got, generated ${rejectsExpected(b)}"
      }
    }

  override def extra(): Seq[(String, String)] = Seq(
    "published_mb" -> J.num(publishedBytes / 1e6),
    "store_mb" -> J.num(dirBytes(storeDir) / 1e6),
    "deliveries" -> deliveries.toString)

  override def close(): Unit = if (query != null) { query.stop(); query.awaitTermination(30000) }
}

object Serve {
  val TopK = 5
  val RangeHours = 6
  /** Share of lines turned invalid for each of the four reject reasons
    * (4% of lines in all). The events table holds no invalid line, so
    * this is a parameter of the benchmark, not a measured share: it puts
    * about five lines of each reason in every delivery.
    */
  val InvalidShare = 0.01
  val CommitTimeoutNs = 60L * 1000 * 1000 * 1000

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try { var n = 0L; s.forEach(f => if (Files.isRegularFile(f)) n += Files.size(f)); n }
      finally s.close()
    }
  }
}
