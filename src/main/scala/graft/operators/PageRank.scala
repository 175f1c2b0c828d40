package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Damped PageRank over an edge DataFrame — the iterative-graph-analytics
  * family member next to DedupClusters' connected components (Page et al.,
  * "The PageRank Citation Ranking"; the MapReduce formulation follows
  * Malewicz et al.'s Pregel contribs/sum shape).
  *
  * Spark shape: every round is (ranks ⋈ out-degrees) → per-edge
  * contributions → groupBy dst SUM — all shuffles keyed on node id, the
  * same keying every round, so a 100 TB run pre-partitions `edges` once
  * and every round's join reuses that layout without re-exchanging the
  * edge table. DANGLING nodes (no out-edges) donate their mass to every
  * node uniformly: that mass is computed as a 1-row aggregate and folded
  * in via crossJoin — a broadcast of one row, never a driver action, so
  * the whole round stays declarative and the loop issues exactly one job
  * per round (the localCheckpoint that truncates the growing lineage —
  * the DedupClusters discipline, freed deterministically on exit).
  *
  * Convergence: ranks form a contraction with factor `damping`, so
  * ‖r_t − r*‖₁ ≤ d^t·‖r_0 − r*‖₁ — iters=12 at d=0.85 puts the residual
  * below 0.15% of total mass. `tol > 0` adds an early exit when the L1
  * rank movement of a round drops below `tol`: fast-mixing graphs reach
  * stability well before the worst-case bound and the fixed count then
  * burns rounds re-deriving an already-stable vector. The bound is TIGHT
  * on bipartite graphs (the walk's −1 eigenvalue survives damping as a
  * period-2 oscillation: the bench co-trade graph decays at exactly
  * 0.85×/round, measured), so the ε-exit is a guard, not a guarantee —
  * the iteration cap stays the binding limit for such graphs. The
  * movement check is an aggregate over the round's checkpointed
  * (in-memory) frame — a cheap rank-table-sized action, nothing
  * upstream re-runs.
  */
object PageRank {

  /** (id, rank) for every node in `edges`; Σ rank = 1 (mass conserved —
    * dangling redistribution, damping teleport). `tol = 0` disables the
    * early exit (exactly `iters` rounds — what the exactness specs pin);
    * `tol > 0` stops after the first round whose L1 movement is below it.
    */
  def run(edges: DataFrame, iters: Int = 12, damping: Double = 0.85,
          srcCol: String = "src", dstCol: String = "dst",
          tol: Double = 0.0): DataFrame =
    runCounted(edges, iters, damping, srcCol, dstCol, tol)._1

  /** `run` plus the number of rounds actually executed — the observable
    * the ε-exit specs assert on (strictly fewer than the cap when the
    * graph reaches `tol` early).
    */
  def runCounted(edges: DataFrame, iters: Int = 12, damping: Double = 0.85,
                 srcCol: String = "src", dstCol: String = "dst",
                 tol: Double = 0.0): (DataFrame, Int) = {
    require(iters >= 0, s"iters must be non-negative, got $iters")
    val sc = edges.sparkSession.sparkContext
    val beforeIds = sc.getPersistentRDDs.keySet
    // materialize the (possibly expensive) upstream pair detector once;
    // every round re-reads only these raw rows
    // static per-run state, built ONCE and checkpointed: the edge table
    // with its source's out-degree folded in (repartitioned by src so
    // every round's contribution join reuses this layout and exchanges
    // only the small rank table), the node set, and the dangling-node
    // set — the first version recomputed degree + dangling inside the
    // loop and paid two extra corpus-sized shuffles per round (3.5×
    // slower end to end at sf0.1)
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
    // out-degree via a count window over src: ONE shuffle produces both
    // the degree column and the by-src layout every round's join reuses
    // (a groupBy+join+repartition build paid three exchanges for the same)
    val eDeg = e
      .withColumn("deg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("src")))
      .localCheckpoint()
    val nodes = eDeg.select(col("src").as("id"))
      .union(eDeg.select(col("dst").as("id"))).distinct().localCheckpoint()
    // dangling = appears only as a destination (no out-edges). The set is
    // STATIC, so a graph with none (every undirected/symmetric graph)
    // skips the per-round mass branch entirely — two stages per round.
    val danglingNodes = nodes
      .join(eDeg.select(col("src").as("id")).distinct(), Seq("id"), "left_anti")
      .localCheckpoint()
    val hasDangling = !danglingNodes.isEmpty
    val nDf = nodes.agg(count(lit(1)).cast("double").as("n"))
    val staticIds = sc.getPersistentRDDs.keySet
    var ranks = nodes.crossJoin(nDf)
      .select(col("id"), (lit(1.0) / col("n")).as("rank"))
      .localCheckpoint()
    // ids backing the CURRENT ranks checkpoint — the superseded one is
    // freed INSIDE the loop as soon as its successor is materialized
    // (localCheckpoint is eager, so the old blocks back nothing once the
    // new frame exists). Round 8 kept all `iters` rank tables alive
    // until exit; in a 182-query bench JVM that block-manager residue
    // compounded across every query that ran after an iterative one.
    var curRankIds = sc.getPersistentRDDs.keySet -- staticIds
    var it = 0
    var converged = false
    while (it < iters && !converged) {
      val idsBeforeRound = sc.getPersistentRDDs.keySet
      // per-edge contribution rank/deg, summed into each destination —
      // the round's one corpus-sized shuffle (the groupBy). SHUFFLE_HASH
      // hints everywhere a rank-sized table meets another: checkpointed
      // tables carry no stats, so the planner would pick sort-merge and
      // re-SORT the edge table every round (measured 3× the round cost);
      // hash joins stream the big side and co-partition with eDeg's
      // layout — also the right shape when ranks outgrow any broadcast.
      val contribs = eDeg
        .join(ranks.withColumnRenamed("id", "src").hint("shuffle_hash"), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("rank") / col("deg")).as("m"))
      // dangling mass as a 1-row aggregate — crossJoin broadcasts it, the
      // round needs no driver-side action. Joining from `ranks` (not
      // `nodes` — same id set, one row per node) carries the previous
      // rank along as `prev`, so the movement check below is a column
      // diff on the checkpointed frame, not an extra rank-vs-rank join.
      val base = ranks.select(col("id"), col("rank").as("prev"))
        .join(contribs.hint("shuffle_hash"), Seq("id"), "left")
        .crossJoin(nDf)
      val next = (if (hasDangling) {
        val dangling = ranks
          .join(danglingNodes.hint("shuffle_hash"), Seq("id"), "left_semi")
          .agg(coalesce(sum("rank"), lit(0.0)).as("dm"))
        base.crossJoin(dangling)
          .select(col("id"), col("prev"),
            (lit(1.0 - damping) / col("n") +
              lit(damping) * (coalesce(col("m"), lit(0.0)) + col("dm") / col("n")))
              .as("rank"))
      } else {
        base.select(col("id"), col("prev"),
          (lit(1.0 - damping) / col("n") +
            lit(damping) * coalesce(col("m"), lit(0.0))).as("rank"))
      }).localCheckpoint()
      ranks = next.select(col("id"), col("rank"))
      // next is materialized — the previous round's rank blocks back
      // nothing anymore; free them now instead of at exit
      val newIds = sc.getPersistentRDDs.keySet -- idsBeforeRound
      curRankIds.foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
      curRankIds = newIds
      it += 1
      if (tol > 0.0) {
        // rank-table-sized scan of in-memory checkpoint blocks — cheap;
        // coalesce: sum over ZERO rows (empty graph) is null, and the
        // old tol=0 path tolerated empty input without error
        val moved = next.agg(coalesce(sum(abs(col("rank") - col("prev"))), lit(0.0)))
          .first().getDouble(0)
        converged = moved < tol
      }
    }
    // free every checkpoint block this method created except the one
    // backing the returned table (ids are monotonic — max is the result's)
    val added = sc.getPersistentRDDs.keySet -- beforeIds
    if (added.nonEmpty)
      (added - added.max).foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    (ranks, it)
  }

  /** FIXED-POINT PageRank — every arithmetic step is integer (ranks in
    * units of `scale`⁻¹ of total mass, damping as the exact rational
    * dampNum/dampDen, divisions truncating), so rank sums are
    * partition-order-FREE and the result is bit-identical across
    * engines: the r12 promotion of s_graph_pagerank to a hash-grade
    * DuckDB oracle (the q_evt_interpolate µ-unit doctrine applied to an
    * iterative op; every term is non-negative, so Spark's truncating
    * `div` ≡ DuckDB's flooring `//`). The float [[run]] stays the
    * analytical operator — same plan shape; this variant trades ~1e-12
    * relative truncation per round for cross-engine exactness.
    *
    * Recurrence (all BIGINT):
    * {{{
    *   r₀(v)   = scale div n
    *   m(v)    = Σ_{u→v} r(u) div deg(u)
    *   dm      = Σ_{u dangling} r(u)
    *   r'(v)   = ((dampDen−dampNum)·scale) div (dampDen·n)
    *           + (dampNum · (m(v) + dm div n)) div dampDen
    * }}}
    */
  def runExact(edges: DataFrame, iters: Int, scale: Long = 1000000000000L,
               dampNum: Long = 17L, dampDen: Long = 20L,
               srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(iters >= 0, s"iters must be non-negative, got $iters")
    require(dampNum > 0 && dampDen > dampNum, "damping must satisfy 0 < num < den")
    require(scale > 0, s"scale must be positive, got $scale")
    // every product in the recurrence must stay inside Long under
    // non-ANSI Spark (a silent wrap would poison ranks; ADVICE r12
    // extended the r12 guard to ALL the terms, not just the damped one):
    //   4·dampNum itself (the next guard's own arithmetic),
    require(dampNum <= Long.MaxValue / 4, s"dampNum too large: $dampNum")
    //   dampNum·(Σm + dm) ≤ dampNum·4·scale (Σm ≤ scale, dm ≤ scale,
    //   truncation slack ≤ 2·scale),
    require(scale <= Long.MaxValue / (4 * dampNum), "scale too large for the damped product")
    //   the teleport numerator (dampDen − dampNum)·scale,
    require(dampDen - dampNum <= Long.MaxValue / scale,
      s"(dampDen - dampNum) * scale would overflow: dampDen=$dampDen dampNum=$dampNum scale=$scale")
    val sc = edges.sparkSession.sparkContext
    val beforeIds = sc.getPersistentRDDs.keySet
    // identical static-state shape (and checkpoint discipline) as
    // runCounted — see the scaladoc there for why
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
    val eDeg = e
      .withColumn("deg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("src")))
      .localCheckpoint()
    val nodes = eDeg.select(col("src").as("id"))
      .union(eDeg.select(col("dst").as("id"))).distinct().localCheckpoint()
    val danglingNodes = nodes
      .join(eDeg.select(col("src").as("id")).distinct(), Seq("id"), "left_anti")
      .localCheckpoint()
    val hasDangling = !danglingNodes.isEmpty
    val nDf = nodes.agg(count(lit(1)).as("n"))
    // ... and the teleport denominator dampDen·n, which is data-dependent:
    // check once n is known (nodes is checkpointed — a cheap count)
    val nVal = nDf.first().getLong(0)
    require(nVal == 0 || dampDen <= Long.MaxValue / nVal,
      s"dampDen * n would overflow: dampDen=$dampDen n=$nVal")
    val teleport = s"((${dampDen - dampNum} * ${scale}L) div ($dampDen * n))"
    // r17 measured NEGATIVE (do not redo): dropping the shuffle_hash
    // hints so AQE broadcasts the checkpointed ranks (legal since the
    // r10 stats-through-checkpoint discovery) produced MORE jobs
    // (73 vs 61 — one broadcast-exchange materialization per join per
    // round) and no wall-clock win (interleaved A/B at sf0.1:
    // 4.9/4.3/3.7 s hint-free vs 9.5/3.6/3.5 s hinted — a wash inside
    // host noise). The hinted SHJ stays: same values either way
    // (exact integer ranks), fewer scheduler round-trips.
    val staticIds = sc.getPersistentRDDs.keySet
    var ranks = nodes.crossJoin(nDf)
      .select(col("id"), expr(s"${scale}L div n").as("rank")).localCheckpoint()
    var curRankIds = sc.getPersistentRDDs.keySet -- staticIds
    var it = 0
    while (it < iters) {
      val idsBeforeRound = sc.getPersistentRDDs.keySet
      val contribs = eDeg
        .join(ranks.withColumnRenamed("id", "src").hint("shuffle_hash"), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum(expr("rank div deg")).as("m")) // exact integer sum — order-free
      val base = ranks.select(col("id"))
        .join(contribs.hint("shuffle_hash"), Seq("id"), "left")
        .crossJoin(nDf)
      val next = (if (hasDangling) {
        val dangling = ranks
          .join(danglingNodes.hint("shuffle_hash"), Seq("id"), "left_semi")
          .agg(coalesce(sum("rank"), lit(0L)).as("dm"))
        base.crossJoin(dangling)
          .select(col("id"), expr(
            s"$teleport + ($dampNum * (coalesce(m, 0L) + dm div n)) div $dampDen")
            .as("rank"))
      } else {
        base.select(col("id"), expr(
          s"$teleport + ($dampNum * coalesce(m, 0L)) div $dampDen").as("rank"))
      }).localCheckpoint()
      ranks = next
      val newIds = sc.getPersistentRDDs.keySet -- idsBeforeRound
      curRankIds.foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
      curRankIds = newIds
      it += 1
    }
    val added = sc.getPersistentRDDs.keySet -- beforeIds
    if (added.nonEmpty)
      (added - added.max).foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    ranks
  }

  /** The DuckDB twin of [[runExact]] as CTE text — ONE shared recurrence
    * that every fixed-point-PageRank oracle interpolates (the r10
    * Bm25OracleSql doctrine: shared textual expression, never copied).
    * `edgesCtes` must define `edges(src, dst)` — both directions already
    * present, deduped — and may define any helper CTEs before it. The
    * returned text opens `WITH RECURSIVE` and leaves `pr(iter, st)`
    * in scope: state is one LIST-of-struct row per iteration (the
    * s_graph_kcore pattern); callers append their final SELECT over
    * `pr ... WHERE iter = <iters>`.
    *
    * NOTE every dedup inside is DISTINCT-over-UNION-ALL, never UNION:
    * inside WITH RECURSIVE DuckDB parses a CTE-level UNION as an
    * anchor/step pair and SKIPS the dedup (measured r12: 234 "nodes"
    * from 117 — every rank halved).
    */
  def exactOracleCtes(edgesCtes: String, iters: Int,
                      scale: Long = 1000000000000L,
                      dampNum: Long = 17L, dampDen: Long = 20L): String =
    s"""WITH RECURSIVE
       |$edgesCtes,
       |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
       |nodes AS (SELECT DISTINCT id FROM
       |            (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
       |pr(iter, st) AS (
       |  SELECT 0, (SELECT list({'id': id,
       |                          'r': $scale // (SELECT COUNT(*) FROM nodes)}
       |                         ORDER BY id) FROM nodes)
       |  UNION ALL
       |  SELECT iter + 1,
       |    (SELECT list({'id': x.id, 'r': x.nr} ORDER BY x.id)
       |     FROM (
       |       SELECT n.id,
       |              (${dampDen - dampNum} * $scale) // ($dampDen * nn.n)
       |              + ($dampNum * (COALESCE(m.m, 0) + dmv.dm // nn.n)) // $dampDen AS nr
       |       FROM nodes n
       |       CROSS JOIN (SELECT COUNT(*) AS n FROM nodes) nn
       |       CROSS JOIN (SELECT COALESCE(SUM((t.s).r), 0) AS dm
       |                   FROM unnest(pr.st) AS t(s)
       |                   WHERE (t.s).id NOT IN (SELECT src FROM deg)) dmv
       |       LEFT JOIN (
       |         SELECT e.dst AS id, SUM(rs.r // d.deg) AS m
       |         FROM edges e
       |         JOIN deg d ON d.src = e.src
       |         JOIN (SELECT (u.s).id AS id, (u.s).r AS r
       |               FROM unnest(pr.st) AS u(s)) rs
       |           ON rs.id = e.src
       |         GROUP BY e.dst) m ON m.id = n.id
       |     ) x)
       |  FROM pr WHERE iter < $iters
       |)""".stripMargin
}
