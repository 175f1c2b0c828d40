package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Aggregate navigator over a materialized day-grain rollup — the OLAP
  * "answer the month query from the daily cube" pattern: materialize
  * ONE additive rollup of the fact table (day × dims, re-aggregable
  * measures only), then ROUTE coarser queries to it instead of the
  * fact table. At 100 TB the fact scan happens once per day for the
  * day's partition; every dashboard query after that reads kilobytes
  * of rollup, partition-pruned by the day directory.
  *
  * Soundness rests on measure additivity: COUNT and SUM re-aggregate by
  * SUM, MIN by MIN, MAX by MAX — and AVG is DERIVED as sum/count at
  * answer time (never stored, it does not re-aggregate). Sums are
  * stored in exact integer micro-units (the repo's fixed-point
  * doctrine), so routed answers are bit-identical to recomputation —
  * RollupNavSpec proves routed ≡ base on every measure at every grain.
  *
  * Routing is name-based and conservative: a query is answerable iff
  * its grouping dims ⊆ the rollup's dims and its grain is day or any
  * coarsening of day; anything else returns None and the caller falls
  * back to the fact table. (A DISTINCT-style measure would be a
  * counter-example to additivity — that is what the mergeable-sketch
  * rollup in [[SketchStore]] is for; compose the two for distincts.)
  * [[graft.plans.RollupRewrite]] applies the same test inside the
  * optimizer, so a plain fact-table aggregate can route with no caller
  * opt-in at all.
  *
  * Storage commits through the [[StoreManifest]] pointer (r10 — ADVICE
  * r9 found the old per-day directory swap let a concurrent reader
  * transiently see a day missing): every maintenance batch writes its
  * day files FIRST (one staged `partitionBy("day")` job regardless of
  * how many days the batch spans — a 365-day backfill is one write, not
  * 365), then ONE manifest rename commits them. Readers resolve the
  * manifest, so they see the cube before the batch or after it, never
  * between; a crash before the commit leaves only unreferenced orphans
  * the next [[vacuum]] sweeps. Single-writer, like every store here.
  */
object RollupNav {

  /** Rollup shape: grouping dims (beyond `day`) and the measure columns
    * (must be exact integer/long in the prepared base — cast money to
    * µ-units BEFORE materializing).
    */
  case class Rollup(dims: Seq[String], measures: Seq[String])

  private def aggregateRollup(base: DataFrame, rollup: Rollup): DataFrame = {
    val aggs = count(lit(1)).as("n_rows") +: rollup.measures.flatMap(m => Seq(
      sum(col(m)).as(s"${m}_sum"),
      min(col(m)).as(s"${m}_min"),
      max(col(m)).as(s"${m}_max")))
    // a NULL day (e.g. an unparseable ts through to_date) is not
    // representable in the day-partitioned cube — before this guard the
    // two maintenance paths DISAGREED on it: materialize silently routed
    // the rows to __HIVE_DEFAULT_PARTITION__ while maintain NPE'd on the
    // collected day list mid-protocol (ADVICE r10). Fail fast in the
    // shared aggregate so both paths raise the same contract error.
    val day = when(col("day").isNotNull, col("day").cast("string"))
      .otherwise(raise_error(lit(
        "null day fact row: not representable in the day-partitioned " +
          "rollup cube — filter or repair unparseable timestamps upstream")))
    base.groupBy((day.as("day") +: rollup.dims.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  private def dayOf(rel: String): String = rel.takeWhile(_ != '/')

  /** Commit a cube version with its applied high-water — `hw` rides
    * every commit, so a maintenance commit never drops the replay guard.
    */
  private def commit(spark: SparkSession, dir: String, version: Long,
                     schema: org.apache.spark.sql.types.StructType,
                     files: Seq[String], hw: StoreManifest.HighWater): Unit =
    StoreManifest.commitFiles(spark, dir, version, schema, files, Seq(hw.line))

  /** The current version's replay guard. */
  private def guard(spark: SparkSession, dir: String): StoreManifest.HighWater =
    StoreManifest.guard(spark, dir, StoreManifest.currentVersion(spark, dir))

  /** The current committed cube as a frame (day STRING + dims +
    * partial-aggregate columns): the [[StoreManifest.scan]] of the
    * current manifest's files under its pinned schema, so an in-flight
    * maintenance batch is invisible until its one-rename commit. A dir
    * with no manifest holds no cube and throws.
    */
  def readStore(spark: SparkSession, dir: String): DataFrame = {
    val cur = StoreManifest.currentVersion(spark, dir)
    require(cur >= 0, s"no committed rollup cube under $dir (no manifest)")
    val (schema, files) = StoreManifest.readFiles(spark, dir, cur)
    StoreManifest.scan(spark, dir, schema, files)
  }

  /** Materialize `base` (already carrying a `day` column and long
    * measures) into a day-partitioned rollup at `dir` and commit it as
    * manifest version 0. One shuffle of the fact table; stored rows =
    * |days × dim combinations|.
    */
  def materialize(base: DataFrame, rollup: Rollup, dir: String): Unit =
    // maintenance work must read the FACTS, never route to a (stale or
    // half-built) cube — see RollupRewrite.withoutRouting
    graft.plans.RollupRewrite.withoutRouting {
      val spark = base.sparkSession
      val agg = aggregateRollup(base, rollup).repartition(col("day"))
      val schema = agg.schema
      val next = StoreManifest.currentVersion(spark, dir) + 1
      val moved = StoreManifest.stageAndMove(spark,
        new org.apache.hadoop.fs.Path(dir), agg, "day", None, next)
      // a rebuild keeps the stream's replay guard
      commit(spark, dir, next, schema, moved, guard(spark, dir))
      vacuum(spark, dir)
    }

  /** INCREMENTAL maintenance: fold a batch of new fact rows into the
    * rollup without rescanning history. The batch partial-aggregates to
    * day grain, merges with the stored partials of ONLY the touched
    * days (manifest-file-pruned read — partials re-aggregate because
    * every measure is additive: sums add, counts add, min/max fold),
    * and publishes as ONE new manifest version: touched days' new files
    * move in (one staged write job — day count does NOT multiply jobs,
    * so a 365-day backfill costs the same scheduling as a 1-day
    * trigger), untouched days' manifest entries carry forward verbatim,
    * one rename commits. Work is bounded by days-touched per batch, not
    * cube size (RollupNavSpec proves batched maintenance ≡ one-shot
    * materialize, byte-identical answers).
    *
    * DELTAS ARE NOT IDEMPOTENT — a replayed batch would double-count —
    * so streaming callers pass the trigger's `batchId`, which commits as
    * the manifest's `hw` ([[StoreManifest.replayed]]): the batch at `hw`
    * no-ops, and a lower one, or the one at `hw` from another streaming
    * query, throws. Every other commit ([[refreshDays]],
    * [[materialize]], an id-less maintain) carries `hw` forward, so the
    * guard outlives maintenance between a commit and its replay. The
    * whole batch commits in one rename, so there is no partially-applied
    * state to recover — a crash anywhere before the commit leaves
    * version N intact plus unreferenced orphans, and the replay
    * re-derives every day from N.
    */
  def maintain(spark: SparkSession, dir: String, rollup: Rollup,
               batch: DataFrame, batchId: Option[Long] = None): Unit =
    // the delta aggregate has exactly the routable shape over what may
    // be a REGISTERED fact path — without the exemption it would read
    // the stale cube and fold an empty delta (RollupRewriteSpec)
    graft.plans.RollupRewrite.withoutRouting {
      maintainImpl(spark, dir, rollup, batch, batchId)
    }

  private def maintainImpl(spark: SparkSession, dir: String, rollup: Rollup,
                           batch: DataFrame, batchId: Option[Long]): Unit = {
    import spark.implicits._
    val cur = StoreManifest.currentVersion(spark, dir)
    // cur < 0: never materialized — the batch bootstraps version 0 (lets
    // a streaming rollup sink start from an empty dir). The dir may then
    // hold only `v0-` data files: orphans of a crashed, never-committed
    // bootstrap (the sole writer that stages at version 0), which the
    // replay ignores and vacuum sweeps. Any other data file means a
    // manifest once committed it and was lost: which files it referenced
    // is unknowable, so REFUSE rather than commit a guess and let vacuum
    // delete the rest.
    if (cur < 0) {
      val crashedBootstrap = """v0-.*""".r
      val foreign = Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .filter(d => d.isDirectory && d.getName.startsWith("day="))
        .flatMap(d => Option(d.listFiles()).toSeq.flatten
          .filter(f => f.isFile && f.getName.endsWith(".parquet"))
          .map(_.getName))
        .filterNot(crashedBootstrap.matches)
      require(foreign.isEmpty,
        s"cube at $dir holds data files but no manifest — the manifest " +
          "dir was lost; restore it (or rebuild with materialize) instead " +
          "of adopting an unknowable file set")
    }
    val hw = guard(spark, dir)
    if (batchId.exists(StoreManifest.replayed(spark, dir, hw, _))) return // replay no-op
    val delta = aggregateRollup(batch, rollup)
    val days = delta.select("day").distinct().as[String].collect().sorted
    if (days.isEmpty) return
    val (schema, curFiles) =
      if (cur >= 0) StoreManifest.readFiles(spark, dir, cur)
      else (delta.schema, Seq.empty[String])
    val dayDirs = days.map(d => s"day=${StoreManifest.esc(d)}").toSet
    val touched = curFiles.filter(f => dayDirs.contains(dayOf(f)))
    // manifest prune: touched days only
    val existing = StoreManifest.scan(spark, dir, schema, touched)
    val merged = existing.select(delta.columns.map(col): _*)
      .unionByName(delta)
      .groupBy((col("day") +: rollup.dims.map(col)): _*)
      .agg(sum(col("n_rows")).as("n_rows"),
        rollup.measures.flatMap(m => Seq(
          sum(col(s"${m}_sum")).as(s"${m}_sum"),
          min(col(s"${m}_min")).as(s"${m}_min"),
          max(col(s"${m}_max")).as(s"${m}_max"))): _*)
      .repartition(col("day"))
    val next = cur + 1
    val moved = StoreManifest.stageAndMove(spark,
      new org.apache.hadoop.fs.Path(dir), merged, "day", Some(days.toSet), next)
    val carried = curFiles.filterNot(f => dayDirs.contains(dayOf(f)))
    commit(spark, dir, next, schema, carried ++ moved,
      batchId.fold(hw)(StoreManifest.applying(spark, _))) // THE commit point
    vacuum(spark, dir)
  }

  /** REPLACE the given days' partials with a fresh aggregate of
    * `facts` (the post-change fact rows for those days) — the cube's
    * ERASURE path, completing the deleteWhere story across all three
    * derived stores (index and ANN tombstone-delete; the cube cannot:
    * COUNT/SUM retract, but MIN/MAX partials are not retractable, so
    * erased days RECOMPUTE from the surviving facts — cost tracks the
    * touched days' fact partitions, never cube or corpus size).
    *
    * Same one-rename discipline as [[maintain]]: the touched days'
    * new files stage and move in (one write job for any day count),
    * untouched days carry forward verbatim, one manifest rename
    * commits. A day with NO surviving facts vanishes from the manifest
    * (its bytes go at the next vacuum). Unlike maintain's deltas this
    * is content-idempotent — a replay re-derives the same partials —
    * so it consumes no batch id and carries `hw` forward. The previous
    * version stays readable until vacuum expires it: the same
    * auditable-erasure window as MergeInto.deleteWhere.
    */
  def refreshDays(spark: SparkSession, dir: String, rollup: Rollup,
                  facts: DataFrame, days: Seq[String]): Unit = {
    if (days.isEmpty) return
    graft.plans.RollupRewrite.withoutRouting { // maintenance reads FACTS
      val cur = StoreManifest.currentVersion(spark, dir)
      require(cur >= 0,
        s"refreshDays requires a materialized (manifested) cube at $dir")
      val (schema, curFiles) = StoreManifest.readFiles(spark, dir, cur)
      val delta = aggregateRollup(
        facts.filter(col("day").cast("string").isin(days: _*)), rollup)
      val next = cur + 1
      val moved = StoreManifest.stageAndMove(spark,
        new org.apache.hadoop.fs.Path(dir), delta.repartition(col("day")),
        "day", Some(days.toSet), next)
      val dayDirs = days.map(d => s"day=${StoreManifest.esc(d)}").toSet
      val carried = curFiles.filterNot(f => dayDirs.contains(dayOf(f)))
      commit(spark, dir, next, schema, carried ++ moved,
        guard(spark, dir)) // THE commit point
      vacuum(spark, dir)
    }
  }

  /** Expire manifests beyond the newest `retain` versions and delete
    * data files no surviving manifest references (crashed-batch orphans
    * included); returns files deleted. retain ≥ 2 keeps the previous
    * version readable for in-flight readers.
    */
  def vacuum(spark: SparkSession, dir: String, retain: Int = 2): Long =
    StoreManifest.vacuumFiles(spark, dir, retain, StoreManifest.readFiles(spark, dir, _)._2)

  /** Route a (groupDims, grain) aggregate to the rollup. Returns None
    * when the rollup cannot answer it (dims outside the cube or a grain
    * finer than day). The answer carries, per measure m: m_sum, m_min,
    * m_max and the derived m_avg — the half-up integer division
    * `(2·sum + n) div (2·n)` in the measure's own units, so an
    * oracle-checked consumer can cast it once instead of re-deriving
    * the exact form (requires non-negative sums, the same precondition
    * as everywhere the repo uses this formula: with a negative sum
    * Spark's truncating div and DuckDB's flooring // disagree) — plus
    * n_rows, all re-aggregated from the stored partials.
    */
  def answer(spark: SparkSession, dir: String, rollup: Rollup,
             groupDims: Seq[String], grain: String,
             dayRange: Option[(String, String)] = None): Option[DataFrame] = {
    if (!groupDims.forall(rollup.dims.contains)) return None
    val grainCol = grain match {
      case "day"   => to_date(col("day")).as("grain")
      case "week"  => date_trunc("week", to_date(col("day"))).cast("date").as("grain")
      case "month" => date_trunc("month", to_date(col("day"))).cast("date").as("grain")
      case _       => return None // finer than stored grain — not answerable
    }
    val stored = readStore(spark, dir)
    val ranged = dayRange.fold(stored) { case (lo, hi) =>
      stored.filter(col("day") >= lo && col("day") <= hi) // partition prune
    }
    val aggs = sum(col("n_rows")).as("n_rows") +:
      rollup.measures.flatMap(m => Seq(
        sum(col(s"${m}_sum")).as(s"${m}_sum"),
        min(col(s"${m}_min")).as(s"${m}_min"),
        max(col(s"${m}_max")).as(s"${m}_max")))
    val rolled = ranged
      .groupBy((groupDims.map(col) :+ grainCol): _*)
      .agg(aggs.head, aggs.tail: _*)
    // derived averages: half-up integer division — exact, oracle-safe
    val withAvg = rollup.measures.foldLeft(rolled) { (df, m) =>
      df.withColumn(s"${m}_avg",
        expr(s"(2 * ${m}_sum + n_rows) div (2 * n_rows)"))
    }
    Some(withAvg)
  }
}
