package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-file zone maps (min / max / null count per column) and the
  * file-skipping read they enable — the data-skipping half of the layout
  * story (ZOrderLayout is the clustering half; zone maps turn its
  * locality into files that are never opened). This is the same
  * metadata-pruning design Delta/Iceberg file statistics and parquet
  * row-group stats implement; materializing it as a side table makes the
  * pruning decision a metadata-sized driver step, independent of any
  * table format.
  *
  * Scale shape: `build` is ONE column-pruned scan producing a
  * file-count-sized table (metadata, not data — the same order as a
  * Delta log replay); `readPruned`'s plan-time work is a scan of that
  * zone-map table, and its data-side plan reads only surviving files.
  * On a 100 TB table laid out by ZOrderLayout or a range sort, a narrow
  * range predicate opens a handful of files instead of all of them.
  */
object ZoneMaps {

  /** Build the zone-map table for `cols` of the parquet tree at `path`:
    * one row per data file with per-column min/max/null-count. One scan,
    * column-pruned to `cols`, combined map-side per file.
    */
  def build(spark: SparkSession, path: String, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "zone maps need at least one column")
    val aggs = statsOf(cols)
    spark.read.parquet(path)
      .select(cols.map(col): _*)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** A zone map's per-file aggregates: row count, then min / max / null
    * count per column.
    */
  private def statsOf(cols: Seq[String]): Seq[Column] =
    count(lit(1)).as("n_rows") +: cols.flatMap(c => Seq(
      min(col(c)).as(s"${c}__min"),
      max(col(c)).as(s"${c}__max"),
      sum(when(col(c).isNull, 1).otherwise(0)).cast("long").as(s"${c}__nulls")))

  /** Range read through the zone map: open only files whose [min, max]
    * envelope on `c` intersects [lo, hi], then apply the exact predicate
    * to the surviving rows.
    *
    * Soundness: a file with max < lo or min > hi cannot hold a matching
    * row; a file whose min/max are NULL holds only NULLs in `c`, which
    * fail any range predicate — the null-propagating NOT(…) filter drops
    * those files too, correctly. Completeness is by contrapositive: any
    * matching row's value lies in its file's envelope, so its file
    * survives. Result therefore EQUALS full-scan-plus-filter (proved in
    * ZoneMapsSpec against shuffled layouts).
    *
    * Returns (rows, filesRead, filesTotal). The file-list collect is
    * metadata-sized (one string per file), the standard driver-side
    * pruning step of every stats-based reader.
    */
  def readPruned(spark: SparkSession, path: String, zonemap: DataFrame,
                 c: String, lo: Any, hi: Any): (DataFrame, Long, Long) = {
    val total = zonemap.count()
    val keep = zonemap
      .filter(!(col(s"${c}__max") < lit(lo) || col(s"${c}__min") > lit(hi)))
      .select("file").collect().map(_.getString(0))
    val pruned =
      if (keep.isEmpty)
        spark.read.parquet(path).filter(lit(false)) // typed empty frame
      else spark.read.parquet(keep.toIndexedSeq: _*)
    (pruned.filter(col(c) >= lit(lo) && col(c) <= lit(hi)),
      keep.length.toLong, total)
  }

  // -------------------------------------------------------------------
  // Snapshot-store integration: zone maps keyed by the manifest's
  // RELATIVE file paths, maintained incrementally across versions.
  // -------------------------------------------------------------------

  /** Zone maps for a COMMITTED snapshot version (MergeInto store): one
    * row per manifest data file, `file` = the manifest's relative path.
    *
    * Incremental maintenance: pass the previous version's map as `prev`
    * and only files NEW in this manifest are scanned — carried files'
    * stats are reused verbatim (data files are immutable, so their
    * stats cannot have changed; ZoneMapsSpec proves the reuse with a
    * sentinel). After a one-partition merge of a 100 TB snapshot, the
    * refresh reads that partition's new files and nothing else — the
    * same cost profile as the merge itself.
    */
  def forSnapshot(spark: SparkSession, dir: String, cols: Seq[String],
                  version: Option[Long] = None,
                  prev: Option[DataFrame] = None): DataFrame = {
    require(cols.nonEmpty, "zone maps need at least one column")
    val v = version.getOrElse(MergeInto.currentVersion(spark, dir))
    require(v >= 0, s"no committed snapshot under $dir")
    val (schema, files) = StoreManifest.readFiles(spark, dir, v)
    // read ONLY the given files, under the manifest schema; relativize the
    // absolute scan path back to the manifest's key so the map joins
    // across versions
    def mapOf(fs: Seq[String]): DataFrame = {
      val aggs = statsOf(cols)
      StoreManifest.scan(spark, dir, schema, fs)
        .select((cols.map(col)) :+ input_file_name().as("__abs"): _*)
        .groupBy(regexp_extract(col("__abs"), "([^/]+/[^/]+)$", 1).as("file"))
        .agg(aggs.head, aggs.tail: _*)
    }
    if (files.isEmpty) // degenerate: empty snapshot → empty map
      return prev.map(_.limit(0)).getOrElse(mapOf(Nil))
    val carried = prev.map(_.filter(col("file").isin(files: _*)))
    val newFiles = carried match {
      case None => files
      case Some(p) =>
        val have = p.select("file").collect().map(_.getString(0)).toSet
        files.filterNot(have)
    }
    val fresh = if (newFiles.isEmpty) None else Some(mapOf(newFiles))
    (carried, fresh) match {
      case (Some(p), Some(f)) => p.unionByName(f)
      case (Some(p), None)    => p
      case (None, Some(f))    => f
      case (None, None)       => throw new IllegalStateException("unreachable")
    }
  }

  /** Range read of a committed snapshot through its zone map: the pinned
    * manifest schema read of MergeInto.readSnapshot, restricted to files
    * whose envelope intersects [lo, hi]. Returns (rows, filesRead,
    * filesTotal); result ≡ readSnapshot + filter.
    */
  def readPrunedSnapshot(spark: SparkSession, dir: String, zonemap: DataFrame,
                         c: String, lo: Any, hi: Any,
                         version: Option[Long] = None): (DataFrame, Long, Long) = {
    val v = version.getOrElse(MergeInto.currentVersion(spark, dir))
    val (schema, files) = StoreManifest.readFiles(spark, dir, v)
    val keep = zonemap
      .filter(!(col(s"${c}__max") < lit(lo) || col(s"${c}__min") > lit(hi)))
      .select("file").collect().map(_.getString(0)).toSet
    val chosen = files.filter(keep)
    (StoreManifest.scan(spark, dir, schema, chosen)
        .filter(col(c) >= lit(lo) && col(c) <= lit(hi)),
      chosen.size.toLong, files.size.toLong)
  }
}
