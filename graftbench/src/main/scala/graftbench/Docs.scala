package graftbench

import graft.Fs
import graft.operators.{AnnIndexStore, DedupStore, InvertedIndex}
import graft.sources.QueueIngest
import graft.streaming.IngestPipeline
import java.nio.file.Paths
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.streaming.StreamingQuery
import scala.collection.mutable

/** `docs`: document ingest. One cycle publishes one delivery through
  * `QueueIngest.publish` into the spool a running `IngestPipeline.start`
  * tails (near-dup mode and the ANN arm on), waits for the commit, then
  * issues one read, a BM25 top-k or an ANN top-k in turn. A delivery
  * holds new documents with embeddings, exact redeliveries of earlier
  * messages and near-duplicate edits of earlier documents.
  *
  * `maxSegments = 1` makes every delivery after the base delivery trigger
  * an index compaction, so every measured write compacts and the window
  * holds one compaction per delivery (at least two). The set-up is the
  * base delivery and one read of each kind; the first compaction therefore
  * runs cold inside the window, the same in every run.
  */
final class Docs(spark: SparkSession, a: Main.Args, rec: Recorder) extends Workload {
  import Docs._

  def cycleSeconds: Double = 9.0

  private val rnd = new scala.util.Random(a.seed)
  private val newPerDelivery = if (a.smoke) 8 else 20
  private val baseDocs = if (a.smoke) 30 else BaseDocs
  private val spool = Paths.get("docs/spool").toAbsolutePath.toString
  private val dedupDir = Paths.get("docs/dedup").toAbsolutePath.toString
  private val indexDir = Paths.get("docs/index").toAbsolutePath.toString
  private val annDir = Paths.get("docs/ann").toAbsolutePath.toString
  private val ckpt = Paths.get("docs/ckpt").toAbsolutePath.toString

  // vocabulary: general words plus one word list per topic
  private val vocab: IndexedSeq[String] = {
    val seen = mutable.LinkedHashSet[String]()
    while (seen.size < VocabSize)
      seen += Iterator.fill(3 + rnd.nextInt(6))(('a' + rnd.nextInt(26)).toChar).mkString
    seen.toIndexedSeq
  }
  private val topicWords = (0 until Topics).map(t => vocab.slice(1000 + t * 250, 1000 + (t + 1) * 250))
  private val general = new Zipf(1000, 1.0, rnd) // ranks of the general words
  private val centroids = Array.fill(Topics, Dim)(rnd.nextGaussian())

  final case class Doc(id: Long, text: String, emb: Array[Float], delivery: Int) {
    def json: String =
      s"""{"doc_id":$id,"text":"$text","embedding":[${emb.map(f => f"$f%.5f").mkString(",")}]}"""
  }
  private val docs = mutable.LongMap[Doc]()
  private val sent = mutable.ArrayBuffer[Doc]()
  private var nextId = 0L
  private var deliveries = 0
  private var query: StreamingQuery = _
  private val writeOps = mutable.HashMap[Int, Recorder#Op]()
  private var corruptPending = a.corrupt

  private def embedding(topic: Int): Array[Float] = {
    val v = centroids(topic).map(_ + 0.6 * rnd.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  private def newDoc(): Doc = {
    val t = rnd.nextInt(Topics)
    val words = Seq.fill(40 + rnd.nextInt(21)) {
      if (rnd.nextDouble() < 0.6) topicWords(t)(rnd.nextInt(topicWords(t).size))
      else vocab(general.next())
    }
    nextId += 1
    Doc(nextId, words.mkString(" "), embedding(t), deliveries)
  }

  /** One delivery: fresh docs, exact redeliveries of sent messages, and
    * near-duplicates (one word replaced, new id) of sent docs.
    */
  private def delivery(fresh: Int): Seq[Doc] = {
    val out = mutable.ArrayBuffer[Doc]()
    for (_ <- 0 until fresh) out += newDoc()
    if (sent.nonEmpty) {
      for (_ <- 0 until Redeliveries) out += sent(rnd.nextInt(sent.size))
      for (_ <- 0 until NearDups) {
        val src = sent(rnd.nextInt(sent.size))
        val ws = src.text.split(" ")
        ws(rnd.nextInt(ws.length)) = vocab(rnd.nextInt(1000))
        nextId += 1
        out += Doc(nextId, ws.mkString(" "), src.emb, deliveries)
      }
    }
    out.toSeq
  }

  private def write(fresh: Int): Unit = {
    val ds = delivery(fresh)
    ds.foreach(d => if (!docs.contains(d.id)) docs(d.id) = d)
    val expected = deliveries.toLong // one delivery per micro-batch
    val start = System.currentTimeMillis(); val t = System.nanoTime()
    QueueIngest.publish(spool, f"d$deliveries%05d", ds.map(_.json))
    def done = query.recentProgress.exists(p => p.batchId == expected && p.numInputRows > 0)
    while (!done && query.isActive && (System.nanoTime() - t) < Serve.CommitTimeoutNs)
      Thread.sleep(2)
    val ms = (System.nanoTime() - t) / 1e6
    val err = if (done) None
      else Some(Option(query.exception.orNull).fold("no commit")(_.toString))
    sent ++= ds.filter(d => d.delivery == deliveries)
    val op = rec.timed("delivery", isRead = false, start, ms, err)
    if (rec.measuring) writeOps(deliveries) = op
    deliveries += 1
  }

  // reads are checked after the window, against the final accepted set
  private val bm25Reads = mutable.ArrayBuffer[(Recorder#Op, Seq[String], Array[Row])]()
  private val annReads = mutable.ArrayBuffer[(Recorder#Op, Array[Float], Int, Array[Long])]()

  private def bm25Read(): Unit = {
    val t = rnd.nextInt(Topics)
    val terms = Seq(topicWords(t)(rnd.nextInt(topicWords(t).size)), vocab(general.next()))
    var rows: Array[Row] = null
    rec.op("bm25", isRead = true) {
      InvertedIndex.searchBm25TopK(spark, indexDir, terms, K, IdxBuckets).collect()
    } { r => rows = r; None }
    if (rows != null && rows.nonEmpty && corruptPending && rec.measuring) {
      corruptPending = false // an id no document has
      rows = new GenericRowWithSchema((-42L +: rows.head.toSeq.tail).toArray, rows.head.schema) +: rows.tail
    }
    if (rec.measuring && rows != null) bm25Reads += ((rec.ops.last, terms, rows))
  }

  private def annRead(): Unit = {
    val probe = embedding(rnd.nextInt(Topics))
    import spark.implicits._
    var ids: Array[Long] = null
    rec.op("ann", isRead = true) {
      AnnIndexStore.searchTopK(spark, annDir,
        Seq((-1L, probe)).toDF("vec_id", "embedding"), K, NProbe).collect()
    } { r => ids = r.map(_.getAs[Long]("neighbor_id")); None }
    if (rec.measuring && ids != null) annReads += ((rec.ops.last, probe, deliveries - 1, ids))
  }


  def setup(): Unit = {
    Seq(spool, dedupDir, indexDir, annDir, ckpt).foreach(d => Fs.rmTree(d))
    query = IngestPipeline.start(QueueIngest.streamDocs(spark, spool), dedupDir, indexDir, ckpt,
      buckets = SeenBuckets, idxBuckets = IdxBuckets, maxSegments = 1,
      near = Some(DedupStore.NearConfig()), annDir = Some(annDir), annNlist = Nlist)
    write(baseDocs) // cold: also trains the ANN store's cells
    rec.phase("docs base delivery")
    bm25Read(); annRead()
  }

  /** One delivery, then one read: BM25 and ANN in turn. */
  def cycle(): Unit = {
    write(newPerDelivery)
    if (deliveries % 2 == 0) bm25Read() else annRead()
  }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private var accepted = 0L
  private var recall = 0.0

  override def check(): Unit = {
    def fail(op: Recorder#Op, m: String): Unit = if (op.ok) { op.ok = false; op.err = m }
    val acc = DedupStore.readDocs(spark, dedupDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    accepted = acc.size
    // exact dedup: no fingerprint accepted twice
    acc.toSeq.groupBy { case (_, t) => md5(t) }.values.filter(_.size > 1).flatten
      .foreach { case (id, _) => docs.get(id).flatMap(d => writeOps.get(d.delivery))
        .foreach(fail(_, s"exact duplicate accepted twice: doc $id")) }
    for ((op, terms, rows) <- bm25Reads) {
      val ids = rows.map(_.getAs[Long]("doc_id"))
      val scores = rows.map(_.getAs[Double]("bm25"))
      ids.find(id => !acc.contains(id)).foreach(id => fail(op, s"bm25 returned unaccepted doc $id"))
      ids.find(id => acc.get(id).exists(t => !t.split(" ").exists(terms.contains)))
        .foreach(id => fail(op, s"bm25 hit $id holds no query term"))
      if (scores.sliding(2).exists(p => p.length == 2 && p(0) < p(1)))
        fail(op, "bm25 hits out of score order")
    }
    // ANN recall@K against exact cosine over the docs accepted by then
    val recalls = annReads.map { case (op, probe, upTo, ids) =>
      ids.find(id => !acc.contains(id)).foreach(id => fail(op, s"ann returned unaccepted doc $id"))
      val exact = acc.keys.toSeq.map(docs).filter(_.delivery <= upTo)
        .map(d => (d.id, d.emb.zip(probe).map { case (x, y) => x * y }.sum))
        .sortBy { case (id, s) => (-s, id) }.take(K).map(_._1).toSet
      ids.count(exact.contains).toDouble / math.max(1, exact.size)
    }
    recall = if (recalls.isEmpty) 1.0 else recalls.sum / recalls.size
    if (recall < RecallBound)
      annReads.foreach { case (op, _, _, _) => fail(op, f"mean ANN recall@$K $recall%.3f < $RecallBound") }
  }

  override def extra(): Seq[(String, String)] = Seq(
    "accepted_docs" -> accepted.toString, "ann_recall" -> J.num(recall),
    "store_mb" -> J.num(Seq(dedupDir, indexDir, annDir).map(Serve.dirBytes).sum / 1e6),
    "deliveries" -> deliveries.toString)

  override def close(): Unit = if (query != null) { query.stop(); query.awaitTermination(30000) }
}

object Docs {
  val VocabSize = 3000
  val Topics = 8
  val Dim = 32
  val BaseDocs = 60
  val Redeliveries = 2
  val NearDups = 2
  val K = 5
  val Nlist = 4
  val NProbe = 2
  val SeenBuckets = 4
  val IdxBuckets = 4
  /** Mean recall@K the ANN reads of a run must reach (IVF, 2 of 4 cells). */
  val RecallBound = 0.8
}

/** Zipf(s) over the ranks 0 until `n`. */
final class Zipf(n: Int, s: Double, rnd: scala.util.Random) {
  private val cdf = {
    val w = (1 to n).map(i => 1.0 / math.pow(i, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  def next(): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}
