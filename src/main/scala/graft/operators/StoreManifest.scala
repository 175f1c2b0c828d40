package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** The ONE commit primitive every versioned store publishes through —
  * the Delta/Iceberg-style pointer protocol [[MergeInto]] proved out,
  * extracted so the full-text index ([[InvertedIndex]]), the rollup
  * cube ([[RollupNav]]), the dedup store ([[DedupStore]]), the ANN
  * store ([[AnnIndexStore]]) and the hour-partitioned serving store
  * ([[graft.streaming.PartitionedServingSink]]) commit the same way
  * instead of via direct directory renames or pointer files (ADVICE r9:
  * two sequential renames let a concurrent reader transiently see a day
  * missing; a plain `Files.move` silently degrades to copy+delete on
  * filesystems where rename is not atomic).
  *
  * Contract: a version is a newline-joined list of `tag\tvalue` lines
  * under `_graft_manifest/v<N>.manifest`. Manifests are written to a
  * dot-tmp name and renamed into place — the rename IS the commit, and
  * the newest complete manifest IS the current-version pointer. Data
  * files land BEFORE their manifest references them, so at every
  * instant a reader resolving version N sees exactly N's files: no
  * torn segment, no missing day, no half-merged partition. A crash
  * before the rename leaves only unreferenced orphans that the store's
  * vacuum sweeps.
  *
  * Object-store note: this is the shape that PORTS. Directory renames
  * are not atomic on S3-class storage; a single small-file rename (or,
  * there, a conditional PUT of the pointer) is the one primitive a
  * store needs. Everything here funnels through that primitive.
  */
object StoreManifest {

  val ManifestDir = "_graft_manifest"
  private val ManifestRe = """v(\d+)\.manifest""".r

  def esc(v: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(v)

  def unesc(v: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(v)

  private[operators] def hfs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Latest committed version under `dir`, -1 if never committed. */
  def currentVersion(spark: SparkSession, dir: String): Long = {
    val mDir = new Path(dir, ManifestDir)
    val fs = hfs(spark, mDir)
    if (!fs.exists(mDir)) -1L
    else fs.listStatus(mDir).map(_.getPath.getName)
      .collect { case ManifestRe(n) => n.toLong }
      .foldLeft(-1L)(math.max)
  }

  /** All retained committed versions, ascending. */
  def versions(spark: SparkSession, dir: String): Seq[Long] = {
    val mDir = new Path(dir, ManifestDir)
    val fs = hfs(spark, mDir)
    if (!fs.exists(mDir)) Seq.empty
    else fs.listStatus(mDir).map(_.getPath.getName)
      .collect { case ManifestRe(n) => n.toLong }.toSeq.sorted
  }

  /** Raw manifest lines of a committed version. */
  def readLines(spark: SparkSession, dir: String, version: Long): Seq[String] = {
    val p = new Path(new Path(dir, ManifestDir), s"v$version.manifest")
    val fs = hfs(spark, p)
    require(fs.exists(p), s"store version $version does not exist under $dir")
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    text.split('\n').toSeq.filter(_.nonEmpty)
  }

  /** Values of `tag` lines in a committed version (e.g. every `file`). */
  def read(spark: SparkSession, dir: String, version: Long,
           tag: String): Seq[String] =
    readLines(spark, dir, version).collect {
      case l if l.startsWith(s"$tag\t") => l.substring(tag.length + 1)
    }

  /** The replay guard of every stream-fed store (the full-text index,
    * the rollup cube, the ANN store, the partitioned serving store):
    * one `hw\t<batch>[\t<query>]` line — the highest batch id the store
    * has applied, and the id of the streaming query that applied it
    * (empty outside one). Spark keeps a query's id in its checkpoint, so
    * a restart from that checkpoint keeps it and a fresh checkpoint gets
    * a new one. Every commit writes the line, carrying it forward
    * verbatim unless it applies a new batch, so the guard survives
    * maintenance commits and commits in the same rename as the batch's
    * data.
    */
  final case class HighWater(batch: Long, query: String) {
    def line: String = if (query.isEmpty) s"hw\t$batch" else s"hw\t$batch\t$query"
  }

  /** The guard of a store that has applied no batch. */
  val NoHighWater: HighWater = HighWater(-1L, "")

  /** The guard that commits `batch` applied by this thread. */
  def applying(spark: SparkSession, batch: Long): HighWater =
    HighWater(batch, runningQuery(spark))

  /** The id of the streaming query whose batch this thread runs — the
    * property Spark sets on a query's stream thread, which runs its
    * foreachBatch function; empty outside a query.
    */
  private def runningQuery(spark: SparkSession): String =
    Option(spark.sparkContext.getLocalProperty(
      org.apache.spark.sql.execution.streaming.runtime.StreamExecution.QUERY_ID_KEY))
      .getOrElse("")

  /** The guard of a committed version's lines. Every commit of a
    * stream-fed store writes one, so a version without it predates the
    * guard: its replay state (IngestPipeline's mark dir beside the
    * index, the cube's `batch` lines) is not read here, and taking it
    * for "nothing applied" would apply batches again — refused.
    */
  def guard(dir: String, lines: Seq[String]): HighWater =
    lines.collectFirst { case l if l.startsWith("hw\t") => l.split('\t') }
      .map(f => HighWater(f(1).toLong, f.lift(2).getOrElse("")))
      .getOrElse(throw new IllegalArgumentException(s"the store under $dir " +
        "has no `hw` line: it was written before the manifest carried its " +
        "replay guard — rebuild it into a new dir"))

  /** The guard of version `v` ([[NoHighWater]] before the first commit). */
  def guard(spark: SparkSession, dir: String, v: Long): HighWater =
    if (v < 0) NoHighWater else guard(dir, readLines(spark, dir, v))

  /** The applied high-water of the current version; -1 if none. */
  def highWater(spark: SparkSession, dir: String): Long =
    guard(spark, dir, currentVersion(spark, dir)).batch

  /** Whether applying `batch` to a store guarded by `hw` is a replay of
    * the applied batch. Under one checkpoint Spark re-runs only its
    * latest batch, under the same query id, so two cases are refused
    * loudly instead of silently skipped or applied twice: an id below
    * `hw`, and the id at `hw` from another query — both come from a
    * checkpoint that did not feed this store (a fresh checkpoint
    * restarts at batch 0).
    */
  def replayed(spark: SparkSession, dir: String, hw: HighWater, batch: Long): Boolean = {
    require(batch >= hw.batch, s"batch $batch is below the applied high-water " +
      s"${hw.batch} of the store under $dir — it comes from a checkpoint that " +
      "did not feed this store; restart from that store's own checkpoint")
    val query = runningQuery(spark)
    require(batch > hw.batch || hw.query.isEmpty || query.isEmpty || query == hw.query,
      s"batch $batch of streaming query $query is at the applied high-water of " +
        s"the store under $dir, which query ${hw.query} applied — a fresh " +
        "checkpoint's batch, not a replay; restart from that store's own checkpoint")
    batch == hw.batch
  }

  /** Commit the current version's lines again as the next version with
    * the guard raised to `batch` — how a feeder records a batch that
    * brought no data. A no-op at or below the high-water.
    */
  def markApplied(spark: SparkSession, dir: String, batch: Long): Unit = {
    val cur = currentVersion(spark, dir)
    if (batch > guard(spark, dir, cur).batch)
      commit(spark, dir, cur + 1, (if (cur < 0) Nil else readLines(spark, dir, cur))
        .filterNot(_.startsWith("hw\t")) :+ applying(spark, batch).line)
  }

  /** Commit `lines` as version `version`: tmp write, ONE rename — the
    * atomic pointer flip every store publish funnels through.
    */
  def commit(spark: SparkSession, dir: String, version: Long,
             lines: Seq[String]): Unit = {
    val mDir = new Path(dir, ManifestDir)
    val fs = hfs(spark, mDir)
    fs.mkdirs(mDir)
    val tmp = new Path(mDir, s".v$version-${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, false)
    try out.write(lines.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dst = new Path(mDir, s"v$version.manifest")
    require(fs.rename(tmp, dst), s"manifest commit $tmp -> $dst failed")
  }

  /** Commit a (pinned schema, data files, extra lines) version — the
    * shared encoding of every file-listing store (MergeInto snapshots,
    * RollupNav cubes): one `schema\t<json>` line, sorted `file\t<rel>`
    * lines, then any store-specific lines (e.g. RollupNav's `hw`).
    */
  def commitFiles(spark: SparkSession, dir: String, version: Long,
                  schema: StructType,
                  files: Seq[String], extra: Seq[String] = Nil): Unit =
    commit(spark, dir, version,
      s"schema\t${schema.json}" +: (files.sorted.map("file\t" + _) ++ extra))

  /** Decode a [[commitFiles]] manifest: (pinned schema, relative data
    * file paths).
    */
  def readFiles(spark: SparkSession, dir: String, version: Long)
      : (StructType, Seq[String]) = {
    val lines = readLines(spark, dir, version)
    val schema = DataType.fromJson(lines.head.stripPrefix("schema\t"))
      .asInstanceOf[StructType]
    (schema, lines.collect { case l if l.startsWith("file\t") => l.substring(5) })
  }

  /** The ONE read of store data: `paths` (files or dirs, relative to
    * `dir`, as a version's manifest lists them) under `schema`. No
    * paths is a typed empty frame. Partition columns are declared, not
    * discovered: a `k=` dir in the paths becomes column `k` only when
    * `schema` declares `k` (the read is then based at `dir`); otherwise
    * the paths are read as leaves, and no column outside `schema`
    * comes back. Several dirs that hold `k=` dirs below them are read
    * together only with `k` declared (Spark refuses the conflicting
    * roots). With a schema and at most 32 paths the read resolves
    * without a Spark job.
    */
  def scan(spark: SparkSession, dir: String, schema: StructType,
           paths: Seq[String]): DataFrame =
    if (paths.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else {
      val declared = schema.fieldNames.toSet
      val partitioned = paths.exists(_.split('/').exists(d =>
        d.contains('=') && declared(d.takeWhile(_ != '='))))
      val reader = spark.read.schema(schema)
      val df = (if (partitioned) reader.option("basePath", dir) else reader)
        .parquet(paths.map(p => s"$dir/$p"): _*)
      // a dir read as a leaf still discovers the `k=` dirs below it
      val undeclared = df.columns.filterNot(declared)
      if (undeclared.isEmpty) df else df.drop(undeclared.toIndexedSeq: _*)
    }

  /** Delete manifests older than the newest `retain` versions and return
    * the SURVIVING versions (callers sweep their own unreferenced data
    * from that set — file layouts differ per store).
    */
  def expire(spark: SparkSession, dir: String, retain: Int): Seq[Long] = {
    require(retain >= 1, s"must retain at least the current version, got $retain")
    val mDir = new Path(dir, ManifestDir)
    val fs = hfs(spark, mDir)
    val all = versions(spark, dir).reverse
    all.drop(retain).foreach(v =>
      fs.delete(new Path(mDir, s"v$v.manifest"), false))
    all.take(retain)
  }

  /** Write `df` partitioned by `partitionCol` into a scratch dir under
    * `root`, move its data files into the live `partitionCol=value`
    * dirs under version-prefixed names, and return the moved files'
    * root-relative paths. ONE write job regardless of how many
    * partition values the frame spans (the bulk-backfill shape); until
    * the caller's [[commit]], every moved file is an unreferenced
    * orphan invisible to manifest readers.
    */
  def stageAndMove(spark: SparkSession, root: Path, df: DataFrame,
                   partitionCol: String, values: Option[Set[String]],
                   next: Long): Seq[String] = {
    val fs = hfs(spark, root)
    val tmp = scratch(root)
    df.write.partitionBy(partitionCol).mode("overwrite").parquet(tmp.toString)
    // values = None moves every staged partition (bulk backfill: the
    // caller need not pre-collect the touched values — the ONE staged
    // write already enumerated them)
    val dirs = values.map(_.map(v => s"$partitionCol=${esc(v)}"))
      .getOrElse(fs.listStatus(tmp).map(_.getPath.getName)
        .filter(_.startsWith(s"$partitionCol=")).toSet)
    val moved = dirs.toSeq.flatMap(d =>
      moveStaged(fs, new Path(tmp, d), new Path(root, d), next))
    fs.delete(tmp, true)
    moved
  }

  /** [[stageAndMove]] for an unpartitioned frame: its data files move
    * into `root/sub` under version-prefixed names (a store's small
    * side files — the ANN store's centroids, codebooks, tombstones).
    */
  def stageInto(spark: SparkSession, root: Path, df: DataFrame, sub: String,
                next: Long): Seq[String] = {
    val fs = hfs(spark, root)
    val tmp = scratch(root)
    df.write.mode("overwrite").parquet(tmp.toString)
    val moved = moveStaged(fs, tmp, new Path(root, sub), next)
    fs.delete(tmp, true)
    moved
  }

  private def scratch(root: Path): Path =
    new Path(root, s".merge-tmp-${java.util.UUID.randomUUID()}")

  /** Move `from`'s parquet files into `to` as `v<next>-<name>`; returns
    * their paths relative to `to`'s parent.
    */
  private def moveStaged(fs: org.apache.hadoop.fs.FileSystem, from: Path,
                         to: Path, next: Long): Seq[String] =
    if (!fs.exists(from)) Nil
    else {
      fs.mkdirs(to)
      fs.listStatus(from)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .toSeq.map { f =>
          val name = s"v$next-${f.getPath.getName}"
          val dst = new Path(to, name)
          require(fs.rename(f.getPath, dst), s"rename ${f.getPath} -> $dst failed")
          s"${to.getName}/$name"
        }
    }

  /** The vacuum of every store whose manifests name data files one dir
    * below the root: expire manifests past the newest `retain`, remove
    * crashed staging dirs (`.merge-tmp*`), delete each file in a data
    * dir (`isData`, by default every `col=value` dir) that no surviving
    * version's `files` names, and drop data dirs left empty. Returns
    * data files deleted. Single-writer, like every store write.
    */
  def vacuumFiles(spark: SparkSession, dir: String, retain: Int,
                  files: Long => Seq[String],
                  isData: String => Boolean = _.contains("=")): Long = {
    require(retain >= 1, s"must retain at least the current version, got $retain")
    if (currentVersion(spark, dir) < 0) return 0L
    val root = new Path(dir)
    val fs = hfs(spark, root)
    val referenced = expire(spark, dir, retain).flatMap(files).toSet
    val entries = fs.listStatus(root)
    entries.filter(_.getPath.getName.startsWith(".merge-tmp"))
      .foreach(p => fs.delete(p.getPath, true))
    var deleted = 0L
    entries.filter(d => d.isDirectory && isData(d.getPath.getName)).foreach { d =>
      fs.listStatus(d.getPath).filter(_.isFile).foreach { f =>
        if (!referenced(s"${d.getPath.getName}/${f.getPath.getName}")) {
          fs.delete(f.getPath, false); deleted += 1
        }
      }
      if (fs.listStatus(d.getPath).isEmpty) fs.delete(d.getPath, true)
    }
    deleted
  }
}
