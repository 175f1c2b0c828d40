package graft

/** IVF-PQ recall/scan tuning harness (the r10/r13 trade tables):
  * `runMain graft.PqTune [sfDir]` prints mean recall@5 vs the exact
  * cosine top-5 for a grid of (nlist, nprobe, spill, kmIters, rerank)
  * variants at EQUAL scan fraction, so coarse-quantizer changes are
  * judged on the only axis that matters (recall at fixed I/O).
  */
object PqTune {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = Harness.session(Harness.cpus)
    val emb = Tables.t(spark, sfDir, "embeddings")
    val exact = graft.queries.SimQueries.queries("q_sim_cosine_topk")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap

    def recall(nlist: Int, nprobe: Int, spill: Int, kmIters: Int,
               rerank: Int): Double = {
      val approx = graft.operators.AnnPq.approxTopK(spark, emb,
          nlist = nlist, nprobe = nprobe, spill = spill, kmIters = kmIters,
          rerank = rerank)
        .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      Blocks.dropAll(spark)
      val rs = exact.map { case (p, ex) =>
        approx.get(p).map(ap => ap.intersect(ex).size.toDouble / ex.size)
          .getOrElse(0.0)
      }
      rs.sum / rs.size
    }

    // every row scans spill*nprobe/nlist = 37.5% of the corpus codes
    val n = emb.count()
    val grid = Seq(
      ("r10 baseline  64/24 s1 it10 rr64", (64, 24, 1, 10, 64)),
      ("r13 config    64/24 s1 it10 rr256", (64, 24, 1, 10, 256)),
      // r14 grid: separate the two candidate causes of the sf0.1 decay —
      // rerank-cut re-binding (candidates = 0.375·n grows past 256) vs
      // coarse-cell dilution (nlist=64 is corpus-independent)
      ("r14 rr-scaled 64/24 s1 it10 rr.6n", (64, 24, 1, 10,
        math.max(256, (0.6 * n * 24 / 64).toInt))),
      ("r14 nl-scaled √n  s1 it10 rr256", (4 * math.sqrt(n.toDouble).toInt / 2 * 2,
        (4 * math.sqrt(n.toDouble).toInt / 2 * 2) * 3 / 8, 1, 10, 256)),
      ("r14 both-scaled  s1 it10 rr.6n", (4 * math.sqrt(n.toDouble).toInt / 2 * 2,
        (4 * math.sqrt(n.toDouble).toInt / 2 * 2) * 3 / 8, 1, 10,
        math.max(256, (0.6 * n * 3 / 8).toInt))),
      ("r14 AUTO (AnnPq.autoConfig)", {
        val (nl, np, rr) = graft.operators.AnnPq.autoConfig(n)
        (nl, np, 1, 10, rr)
      }),
      // r15 grid (VERDICT r14 #6): hold recall@5 >= 0.9 at <= 25% scan.
      // Coarse recall binds on this corpus (r10/r13/r14), so the lever
      // tested is FINER CELLS at the lower scan fraction (the r14
      // finding — coefficient 4.0 beat 2.86 at equal scan), with rerank
      // still tracking candidate volume; an rr-heavy control separates
      // rerank-cut effects from coarse dilution.
      ("r15 25% c4:  4√n np=nl/4 rr.6c", {
        val nl = math.max(16, (4.0 * math.sqrt(n.toDouble)).round.toInt)
        val np = math.max(1, nl / 4)
        (nl, np, 1, 10, math.max(256, math.ceil(0.6 * n * np / nl).toInt))
      }),
      ("r15 25% c4 rr-heavy: rr1.0c", {
        val nl = math.max(16, (4.0 * math.sqrt(n.toDouble)).round.toInt)
        val np = math.max(1, nl / 4)
        (nl, np, 1, 10, math.max(256, math.ceil(1.0 * n * np / nl).toInt))
      }),
      ("r15 25% c6:  6√n np=nl/4 rr.6c", {
        val nl = math.max(16, (6.0 * math.sqrt(n.toDouble)).round.toInt)
        val np = math.max(1, nl / 4)
        (nl, np, 1, 10, math.max(256, math.ceil(0.6 * n * np / nl).toInt))
      }),
      ("r15 25% c8:  8√n np=nl/4 rr.6c", {
        val nl = math.max(16, (8.0 * math.sqrt(n.toDouble)).round.toInt)
        val np = math.max(1, nl / 4)
        (nl, np, 1, 10, math.max(256, math.ceil(0.6 * n * np / nl).toInt))
      }),
      ("r15 18.75% c8: 8√n np=3nl/16", {
        val nl = math.max(16, (8.0 * math.sqrt(n.toDouble)).round.toInt)
        val np = math.max(1, nl * 3 / 16)
        (nl, np, 1, 10, math.max(256, math.ceil(0.6 * n * np / nl).toInt))
      }),
      ("r15 25% c10: 10√n np=nl/4 rr.6c", {
        val nl = math.max(16, (10.0 * math.sqrt(n.toDouble)).round.toInt)
        val np = math.max(1, nl / 4)
        (nl, np, 1, 10, math.max(256, math.ceil(0.6 * n * np / nl).toInt))
      }),
      ("r15 25% c12: 12√n np=nl/4 rr.6c", {
        val nl = math.max(16, (12.0 * math.sqrt(n.toDouble)).round.toInt)
        val np = math.max(1, nl / 4)
        (nl, np, 1, 10, math.max(256, math.ceil(0.6 * n * np / nl).toInt))
      }),
      // r16 (VERDICT r15 #6): does c12's extra headroom buy a scan cut?
      // 12√n cells at nprobe = nlist/5 = 20% scan vs the adopted c10/25%
      ("r16 20% c12: 12√n np=nl/5 rr.6c", {
        val nl = math.max(16, (12.0 * math.sqrt(n.toDouble)).round.toInt)
        val np = math.max(1, nl / 5)
        (nl, np, 1, 10, math.max(256, math.ceil(0.6 * n * np / nl).toInt))
      }))
    for ((name, (nl, np, sp, it, rr)) <- grid) {
      val r = recall(nl, np, sp, it, rr)
      println(f"[pqtune] $name%-36s nlist=$nl nprobe=$np rr=$rr recall@5 = $r%.3f (scan ${sp * np * 100.0 / nl}%.1f%%) n=$n")
    }

    // r16 (VERDICT r15 #5): the PERSISTED path at autoConfig sizing —
    // save(nlist=0) + searchTopK(nprobe=0), routed probe ranking active
    // past RoutedAssignThreshold (engages at sf0.1's n=2000 → 447 cells)
    {
      val dir = java.nio.file.Files.createTempDirectory("graft_pqtune_store").toString
      graft.operators.AnnIndexStore.save(spark, emb, dir, nlist = 0)
      val approx = graft.operators.AnnIndexStore
        .searchTopK(spark, dir, emb.filter(org.apache.spark.sql.functions.col("vec_id") < 10),
          nprobe = 0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      Blocks.dropAll(spark)
      val rs = exact.map { case (p, ex) =>
        approx.get(p).map(ap => ap.intersect(ex).size.toDouble / ex.size)
          .getOrElse(0.0)
      }
      val nl = graft.operators.AnnIndexStore.centroidCount(spark, dir)
      println(f"[pqtune] r16 PERSISTED autoConfig store        nlist=$nl nprobe=${math.max(1, nl / 4)} recall@5 = ${rs.sum / rs.size}%.3f (scan 25.0%%, routed=${nl >= graft.operators.AnnPq.RoutedAssignThreshold}) n=$n")
      graft.Fs.rmTree(dir)
    }
    spark.stop()
  }
}
