package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Near-duplicate CLUSTERS from near-duplicate PAIRS — the step that turns
  * any pair detector (NgramJaccard, MinHashDedup, AnnLsh.nearDupPairs)
  * into an actual deduplicator: pairs only say "these two match"; keeping
  * one document per transitive group needs connected components plus a
  * canonical-representative rule.
  *
  * Algorithm: distributed min-label propagation ("hash-min"): every node
  * starts labeled with the smallest id among itself and its neighbors,
  * then each round replaces its label with the minimum over its
  * neighbors' labels, until a fixpoint. Each round is one equi-join of
  * the edge list with the label table plus a groupBy — all shuffles key
  * on node id, nothing driver-side but the loop itself. Round state is
  * materialized with `localCheckpoint` (raw UnsafeRow blocks — cheaper
  * than Dataset.persist's columnar cache by a measured ~20% end-to-end)
  * and every block except the returned table's is freed deterministically
  * on exit via the persistent-RDD delta, instead of waiting for the
  * periodic context cleaner (default 30 min) — in a 100-query session
  * that wait is a storage leak that squeezes every later query.
  *
  * Each round ends with a POINTER JUMP (path halving): after taking the
  * min over neighbor labels, every node follows its new label one more
  * hop through the label table, so label chains collapse geometrically —
  * O(log diameter) rounds even on adversarial long-chain graphs (the
  * same doubling idea as Kiveris et al., "Connected Components in
  * MapReduce and Beyond"). Near-dup components are near-cliques, so in
  * practice 2–3 rounds converge regardless of corpus size.
  *
  * Scale notes: the edge list shuffles by node id each round — at 100 TB
  * that is the candidate-pair table, orders of magnitude below the
  * corpus. `maxIters` is a safety rail: non-convergence throws rather
  * than returning silently-partial labels.
  */
object DedupClusters {

  /** (id, cluster) for every node appearing in `pairs`; cluster = the
    * minimum node id of the connected component.
    */
  def components(pairs: DataFrame, aCol: String = "a_id", bCol: String = "b_id",
                 maxIters: Int = 20): DataFrame = {
    // materialize the (possibly expensive) pair detector ONCE before the
    // union — its two branches would otherwise each evaluate the upstream
    // plan; every propagation round then re-reads only these rows
    // localCheckpoint, not Dataset.persist: a checkpoint stores raw
    // UnsafeRow bytes where persist builds a compressed COLUMNAR cache —
    // measured at sf0.1, the columnar encode/decode made q_curate_fuzzy
    // ~20% slower end-to-end. Checkpoint blocks are normally pinned until
    // the periodic context cleaner (30 min); the delta-cleanup at the end
    // of this method frees them deterministically instead.
    val sc = pairs.sparkSession.sparkContext
    val beforeIds = sc.getPersistentRDDs.keySet
    val half = pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .localCheckpoint()
    // the union over the materialized half is cheap to recompute per
    // round — a second checkpoint would only add a copy of the data
    val edges = half
      .union(half.select(col("dst").as("src"), col("src").as("dst")))
    var labels = edges.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("nb_min"))
      .select(col("id"), least(col("id"), col("nb_min")).as("lbl"))
      .localCheckpoint()
    var iters = 0
    var changed = 1L
    while (changed > 0 && iters < maxIters) {
      // candidate label per node = min label among its neighbors
      val cand = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(edges("src").as("cid")).agg(min(col("lbl")).as("cand"))
      val stepped = labels.join(cand, labels("id") === cand("cid"), "left")
        .select(labels("id"), labels("lbl"),
          least(labels("lbl"), coalesce(col("cand"), labels("lbl"))).as("mid"))
        .localCheckpoint()
      // convergence check BEFORE the pointer jump: on the common last
      // round (near-dup graphs are near-cliques — the init labels often
      // already converged) nothing moved, and the jump join would be a
      // pure waste; it only accelerates rounds that DID change something
      changed = stepped.filter(col("mid") < col("lbl")).count()
      labels =
        if (changed == 0) stepped.select(col("id"), col("mid").as("lbl"))
        else {
          // pointer jump (path halving): follow the new label one more
          // hop through the label table — labels chase 2^round hops per
          // round, so even adversarial chain graphs converge in
          // O(log diameter) rounds
          val lblMap = labels.select(col("id").as("jid"), col("lbl").as("jlbl"))
          stepped.join(lblMap, stepped("mid") === lblMap("jid"), "left")
            .select(stepped("id"),
              least(col("mid"), coalesce(col("jlbl"), col("mid"))).as("lbl"))
            .localCheckpoint()
        }
      iters += 1
    }
    require(changed == 0,
      s"components did not converge after $maxIters rounds — the pair graph " +
        "has a longer diameter than near-dup clusters should; use a " +
        "star-contraction variant for this input")
    val out = labels.select(col("id"), col("lbl").as("cluster")).localCheckpoint()
    // free every checkpoint block this method created EXCEPT the one
    // backing `out` — checkpoint RDD ids are allocated monotonically, so
    // `out`'s (created last) is the max of the delta; without this, each
    // invocation pins its round state until the periodic cleaner, and a
    // 100-query session accumulates storage that squeezes later queries
    val added = sc.getPersistentRDDs.keySet -- beforeIds
    if (added.nonEmpty)
      (added - added.max).foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    out
  }

  /** Per-document dedup decision over a pair table: every document in a
    * cluster labeled with the cluster's minimum doc id, `keep` true only
    * for that canonical minimum. Documents in no pair are absent (they
    * are trivially kept).
    */
  def canonical(pairs: DataFrame, aCol: String = "a_id", bCol: String = "b_id"): DataFrame =
    components(pairs, aCol, bCol)
      .select(col("id").as("doc_id"), col("cluster").as("cluster_id"),
        (col("id") === col("cluster")).as("keep"))
      .orderBy("doc_id")
}
