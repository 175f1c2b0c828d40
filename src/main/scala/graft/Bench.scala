package graft
object Bench {

  /** Queries surfaced in the compact stdout line: the five BASELINE.md
    * analogs plus every historically-heavy operator worth watching.
    */
  private val headline = Seq(
    "q_agg_pricing_summary", // b_q1
    "q_join_inner_equi",     // b_join3
    "q_win_rank_topn",       // b_window
    "q_evt_tumbling_hourly", // b_events
    "q_sim_cosine_topk",     // cosine HOF baseline
    "q_dedup_ngram_jaccard",
    "q_dedup_components",
    "q_curate_fuzzy",
    "q_tpch_q3",
    "s_dedup_minhash",
    "s_dedup_ngram_dfcut",
    "s_sim_ann_ivfpq",
    "s_graph_pagerank",
    "s_layout_zorder",
    "s_topk_custom_plan")

  /** `value` stays the COLD total (comparable round-over-round with
    * r1–r6); `queries` carries the WARM (second-run) per-query time —
    * the number host-load noise can't fake (VERDICT r6: four rounds of
    * warm-vs-driver adjudication because single cold runs carry ±2-3×
    * noise). `warm_total` sums the warm times.
    *
    * Round-8 (VERDICT r7 item 2): a failing query can no longer masquerade
    * as a 50 ms success — its `queries` value is the string "err", it is
    * EXCLUDED from both totals, and the line carries `n_failed` plus an
    * `errors` name→message map.
    */
  private def jsonLine(total: Double, warmTotal: Double,
                       entries: Seq[(String, Either[String, Double])],
                       errors: Seq[(String, String)],
                       sfDir: String, n: Int, withErrors: Boolean): String = {
    val qs = entries.map {
      case (k, Right(v)) => "\"" + k + "\":" + Harness.fmt(v)
      case (k, Left(_))  => "\"" + k + "\":\"err\""
    }.mkString("{", ",", "}")
    val errField =
      if (!withErrors) ""
      else errors.map { case (k, m) => "\"" + k + "\":" + Harness.quote(m) }
        .mkString(""","errors":{""", ",", "}")
    s"""{"metric":"total","value":${Harness.fmt(total)},"unit":"sec","timing":"queries are warm (2nd run); value is cold total; failed queries are 'err' and excluded from totals","warm_total":${Harness.fmt(warmTotal)},"n_failed":${errors.size}$errField,"queries":$qs,"sf":"$sfDir","n_queries":$n}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir()
    val spark = Harness.session(Harness.cpus)
    Harness.warmUp(spark, sfDir)
    // cold/warm pair per query, same JVM, no cache clear inside the pair;
    // Harness.each clears the cache BETWEEN queries so operators'
    // intra-query persists don't charge later queries for earlier ones'
    // storage (the clear itself is outside both timed windows). A cold
    // failure fails both runs; a warm one only the warm.
    val results = Harness.each(spark,
        Harness.only(SparkEntry.queries.toSeq.sortBy(_._1)), passes = 2) {
      (_, fn) => Harness.secs(fn(spark, sfDir).count())
    }.map { o =>
      def run(i: Int): Either[String, Double] = o.passes.lift(i)
        .toRight(o.error.fold("")(Harness.describe(_, 200)))
      (o.name, run(0), run(1))
    }
    val total = results.flatMap(_._2.toOption).sum
    val warmTotal = results.flatMap(_._3.toOption).sum
    val warmEntries = results.map { case (n, _, w) => n -> w }
    val errors = results.collect { case (n, _, Left(m)) => n -> m }
    val full = jsonLine(total, warmTotal, warmEntries, errors, sfDir,
      results.length, withErrors = true)
    // Default file copy is UNTRACKED scratch (gitignored): the driver's
    // per-round bench also runs this main, and two rounds running it
    // overwrote the committed local warm baseline. The round-close
    // baseline is written explicitly to a round-stamped path
    // (SPARK_GRAFT_BENCH_OUT=/root/repo/BENCH_LOCAL_r{N}.json) that no
    // other invocation ever touches.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/BENCH_LOCAL.json")
    Harness.save(outPath, full + "\n")
    // stop BEFORE printing: shutdown logging must not push the JSON out of
    // the driver's tail window
    spark.stop()
    // full detail first (humans, the file copy above), then a COMPACT line
    // LAST: the driver keeps only the final ~2000 chars of stdout and tries
    // to parse a JSON line out of them — the 97-query full line is longer
    // than that window and gets decapitated (BENCH_r01/r02 "parsed": null),
    // so the last line must be one that always fits whole.
    println(full)
    val byName = warmEntries.toMap
    val compact = jsonLine(total, warmTotal,
      headline.flatMap(q => byName.get(q).map(q -> _)), errors, sfDir,
      results.length, withErrors = false)
    println(compact)
  }
}
