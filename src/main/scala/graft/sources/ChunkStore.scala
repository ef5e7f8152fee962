package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Lakehouse persistence for the chunk corpus — the batch
  * re-expression of qurio's chunk store (reference:
  * apps/backend/internal/adapter/weaviate/store.go keeps chunks in a
  * Weaviate class keyed by sourceId/url; here the same access paths
  * become physical layout decisions the optimizer exploits).
  *
  * Layout rules for 100 TB:
  *  - partition directories on the delete/filter key (`source`):
  *    DeleteChunksBySourceID becomes a directory drop; per-source
  *    scans read only their partition (PartitionFilters, zero I/O on
  *    other sources).
  *  - bucket + sort the join key (`doc_id`): chunk⋈embedding and
  *    chunk⋈chunk joins between co-bucketed tables plan with no
  *    Exchange and no Sort — at 100 TB that removes the biggest
  *    shuffle in the pipeline. Bucket counts must match across
  *    co-joined tables.
  */
object ChunkStore {

  /** The canonical DocumentChunk schema — property for property the
    * class the reference ensures in Weaviate (vector/schema.go:25-70
    * EnsureSchema: content, sourceId, sourceName, chunkIndex, title,
    * url, type, language, author, createdAt, pageCount), with the
    * embedding as a column instead of a vectorizer slot. */
  val DocumentChunkSchema: StructType = StructType(Seq(
    StructField("content", StringType),
    StructField("sourceId", StringType),
    StructField("sourceName", StringType),
    StructField("chunkIndex", IntegerType),
    StructField("title", StringType),
    StructField("url", StringType),
    StructField("type", StringType),
    StructField("language", StringType),
    StructField("author", StringType),
    StructField("createdAt", TimestampType),
    StructField("pageCount", IntegerType),
    StructField("embedding", ArrayType(DoubleType))))

  /** EnsureSchema (vector/schema.go:18-102) re-expressed for the
    * lakehouse: create the store with the canonical schema when
    * absent; when present, surface any canonical columns the stored
    * files predate. Parquet has no in-place ALTER — evolution is a
    * READ-time property ([[readCanonical]] aligns old files to the
    * full schema), so "AddProperty" here records nothing and rewrites
    * nothing, exactly the metadata-only semantics a Delta/Iceberg
    * ALTER TABLE ADD COLUMN has. Returns the canonical columns that
    * were missing from the stored schema (empty = already current).
    * Idempotent like the reference. */
  def ensureSchema(spark: SparkSession, path: String): Seq[String] = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dir)) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          DocumentChunkSchema)
        .write.mode("overwrite").parquet(path)
      Seq.empty
    } else {
      val existing = spark.read.parquet(path).schema.fieldNames.toSet
      DocumentChunkSchema.fieldNames.toSeq.filterNot(existing)
    }
  }

  /** Read the store aligned to the canonical schema: canonical
    * columns the stored files lack come back as typed nulls (the
    * evolved-read view EnsureSchema's AddProperty provides in
    * Weaviate); extra stored columns are preserved after the
    * canonical set. */
  def readCanonical(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val df = spark.read.parquet(path)
    val have = df.schema.fieldNames.toSet
    val canonical = DocumentChunkSchema.fields.map { f =>
      if (have(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    val extras = df.schema.fieldNames
      .filterNot(DocumentChunkSchema.fieldNames.contains).map(col)
    df.select(canonical ++ extras: _*)
  }

  /** Write partitioned by the delete/filter key. */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCol: String = "source"): Unit =
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Register a bucketed, per-bucket-sorted table (external at `path`)
    * so equi-joins on `key` between tables with the same bucketing
    * need no shuffle. Spark's FileSourceScanExec reports the bucketing
    * as outputPartitioning = HashPartitioning(key, buckets), which
    * satisfies the join's ClusteredDistribution requirement. */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    buckets: Int = 32, key: String = "doc_id"): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .option("path", path)
      .format("parquet")
      .saveAsTable(table)

  /** Compact a partitioned store in place: streaming foreachBatch
    * appends leave one small file per (epoch, partition, task), and
    * scan parallelism degrades into file-listing overhead. Rewrites
    * each partition's data into `filesPerPartition` files via a
    * partition-local repartition (no cross-partition shuffle of the
    * sort keys — the partition column is constant per output dir).
    * localCheckpoint breaks lineage so the path can be overwritten
    * while being read. On Delta/Iceberg this is OPTIMIZE/rewrite. */
  def compact(spark: SparkSession, path: String,
              partitionCol: String = "source",
              filesPerPartition: Int = 1): Unit = {
    import org.apache.spark.sql.functions.{col, lit, pmod, struct, xxhash64}
    val df = spark.read.parquet(path)
    // cluster rows of one directory-partition together: hashing on the
    // partition column alone yields exactly one file per directory;
    // a deterministic row-hash salt widens that to N files
    val clustered =
      if (filesPerPartition <= 1) df.repartition(col(partitionCol))
      else df.repartition(col(partitionCol),
        pmod(xxhash64(struct(df.columns.map(col): _*)), lit(filesPerPartition)))
    clustered
      .localCheckpoint(true)
      .write.mode("overwrite")
      .partitionBy(partitionCol)
      .parquet(path)
  }

  /** Z-ORDER clustered write — the OPTIMIZE ZORDER BY of the
    * lakehouse engines, for the store's two-predicate scans (e.g.
    * doc_id ranges × chunkIndex, or createdAt × source hash): each
    * row's two cluster columns are scaled to 16-bit cells and
    * interleaved into a Morton key (q42's codegen kernel); a RANGE
    * repartition on that key then makes every output file a
    * contiguous z-range, so per-file min/max stats stay tight on
    * BOTH dimensions at once and either predicate prunes files —
    * a single-column sort gives tight stats on one dimension and
    * useless stats on the other.
    *
    * Cell scaling here is linear over the observed [min, max] (one
    * cheap aggregate, broadcast as literals — fine for the
    * roughly-uniform keys a store's ids and timestamps are);
    * production layouts on heavily skewed columns swap in sampled
    * quantile boundaries at the same seam. Cost shape: one scan for
    * the bounds, one range exchange (the same price as any sorted
    * write), no extra pass. */
  def writeZordered(df: DataFrame, path: String,
                    colA: String, colB: String,
                    targetFiles: Int = 16): Unit = {
    import org.apache.spark.sql.functions.{col, floor, lit, when}
    val spark = df.sparkSession
    import spark.implicits._
    val bounds = df.agg(
        org.apache.spark.sql.functions.min(col(colA)).cast("double"),
        org.apache.spark.sql.functions.max(col(colA)).cast("double"),
        org.apache.spark.sql.functions.min(col(colB)).cast("double"),
        org.apache.spark.sql.functions.max(col(colB)).cast("double"),
        org.apache.spark.sql.functions.count(
          when(col(colA).isNull || col(colB).isNull, 1)))
      .head
    // fail fast instead of silently unboxing null bounds to 0.0 (an
    // empty frame) or clustering null-keyed rows arbitrarily: a
    // z-order layout over nulls has no defined cell, so the caller
    // must filter or impute before clustering
    require((0 to 3).forall(!bounds.isNullAt(_)),
      s"writeZordered: empty input or all-null cluster column ($colA/$colB)")
    require(bounds.getLong(4) == 0L,
      s"writeZordered: ${bounds.getLong(4)} rows have null $colA/$colB; " +
        "null cluster keys have no z-cell — filter or impute first")
    val Array(loA, hiA, loB, hiB) =
      (0 to 3).map(bounds.getDouble).toArray
    def cell(c: String, lo: Double, hi: Double) =
      if (hi <= lo) lit(0L)
      else floor((col(c).cast("double") - lit(lo)) / lit(hi - lo) * 65535.0)
        .cast("long")
    val z = graft.operators.EngineQueries.mortonKey(
      cell(colA, loA, hiA), cell(colB, loB, hiB))
    df.withColumn("_z", z)
      .repartitionByRange(targetFiles, $"_z")
      .sortWithinPartitions($"_z")
      .drop("_z")
      .write.mode("overwrite").parquet(path)
  }

  /** Paginated chunk listing — GetChunks(sourceID, limit, offset)
    * (store.go:238) re-expressed KEYSET-style: the reference pages
    * with LIMIT/OFFSET, but an offset over a big store is itself an
    * anti-pattern — page k re-scans and re-sorts offset+limit rows,
    * so deep pages cost O(k). A keyset cursor (rows strictly after
    * the last-seen `(chunkIndex, doc_id)`) makes every page the same
    * cost as page one: the source filter prunes to one partition
    * directory, the cursor range predicate pushes to the parquet
    * scan, and the per-page order+limit plans as
    * TakeOrderedAndProject (per-partition top-n heaps merged on the
    * driver — no global Sort, no range Exchange).
    *
    * `after = None` is the first page; pass the last row's
    * `(chunkIndex, doc_id)` to fetch the next. Pages tile the full
    * per-source listing exactly (ChunkStoreSpec proves
    * page₁ ∪ … ∪ pageₖ == the full ordered listing) because
    * `(chunkIndex, idCol)` is a unique key per source. */
  def pageChunks(spark: SparkSession, path: String, source: String,
                 after: Option[(Int, Long)], limit: Int,
                 sourceCol: String = "source",
                 indexCol: String = "chunkIndex",
                 idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val scoped = spark.read.parquet(path).filter(col(sourceCol) === source)
    val page = after match {
      case Some((ci, id)) => scoped.filter(
        col(indexCol) > lit(ci) ||
          (col(indexCol) === lit(ci) && col(idCol) > lit(id)))
      case None => scoped
    }
    page.orderBy(col(indexCol), col(idCol)).limit(limit)
  }

  /** Per-FILE column-statistics MANIFEST — the Iceberg/Delta
    * data-skipping pattern as an explicit table: one pass over the
    * store (column-pruned to the stat columns) computes min/max/
    * null-count per physical file via the `_metadata.file_path`
    * column, written under `_manifest` (an underscore-prefixed
    * sibling, which Spark's file discovery treats as metadata and
    * never reads as data). At 100 TB the manifest is one row per
    * file — a ~10⁶-row table for a ~10⁹-row store — and planning a
    * pruned read costs a manifest scan, not a footer fetch per file
    * (the Iceberg planning model; parquet footer stats alone still
    * require touching every file's footer on every query). Tight
    * stats come from the write layout: [[writeZordered]] exists
    * precisely to make these per-file ranges narrow on two columns
    * at once. */
  def writeManifest(spark: SparkSession, path: String,
                    cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val statAggs = cols.flatMap(c => Seq(
      min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c")))
    spark.read.parquet(path)
      .groupBy(normPath(col("_metadata.file_path")).as("file"))
      .agg(count(lit(1)).as("rows"), statAggs: _*)
      .write.mode("overwrite").parquet(s"$path/_manifest")
    spark.read.parquet(s"$path/_manifest")
  }

  /** scheme-independent file identity (file:///x vs file:/x) */
  private def normPath(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.functions.regexp_replace(c, "^[a-z]+:/+", "/")

  /** Manifest-driven file pruning for a range predicate on `c`:
    * returns (surviving file paths, total file count). A file
    * survives iff [min_c, max_c] intersects [lo, hi]; all-null files
    * (null min/max) are pruned because a range predicate never
    * matches NULL. Fails fast on a STALE manifest (a file on disk
    * that the manifest doesn't cover would otherwise be silently
    * dropped from results — the failure mode that makes ad-hoc
    * skipping indexes dangerous; Iceberg avoids it by making the
    * manifest the commit log itself). */
  def pruneFiles(spark: SparkSession, path: String, c: String,
                 lo: Any, hi: Any): (Seq[String], Int) = {
    import org.apache.spark.sql.functions._
    val mf = spark.read.parquet(s"$path/_manifest")
      .select(col("file"), col(s"min_$c"), col(s"max_$c")).cache()
    try {
      val manifestFiles = mf.select("file").collect().map(_.getString(0)).toSet
      val dir = new org.apache.hadoop.fs.Path(path)
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      // Walk RECURSIVELY (skipping underscore-prefixed metadata dirs
      // like _manifest) so partitioned/nested layouts — e.g. the
      // key=... dirs dropSourcePartition leaves — are covered; the
      // manifest keys on _metadata.file_path of EVERY data file, so a
      // top-level-only listing would always flag nested stores stale.
      def walk(p: org.apache.hadoop.fs.Path): Seq[String] =
        fs.listStatus(p).toSeq.flatMap { s =>
          if (s.isDirectory) {
            if (s.getPath.getName.startsWith("_")) Seq.empty else walk(s.getPath)
          } else if (s.getPath.getName.endsWith(".parquet"))
            Seq(s.getPath.toUri.getPath)
          else Seq.empty
        }
      val live = walk(dir).toSet
      require(live == manifestFiles,
        s"stale manifest for $path: ${(live -- manifestFiles).size} unindexed / " +
          s"${(manifestFiles -- live).size} ghost files — rerun writeManifest")
      val kept = mf
        .filter(col(s"min_$c") <= lit(hi) && col(s"max_$c") >= lit(lo))
        .select("file").collect().map(_.getString(0)).toSeq
      (kept, manifestFiles.size)
    } finally { mf.unpersist(); () }
  }

  /** Range read planned off the manifest: only surviving files are
    * opened; the residual predicate still applies (file stats are an
    * over-approximation). Zero surviving files short-circuits to an
    * empty frame without touching storage. */
  def prunedRead(spark: SparkSession, path: String, c: String,
                 lo: Any, hi: Any): DataFrame = {
    import org.apache.spark.sql.functions._
    val (kept, _) = pruneFiles(spark, path, c, lo, hi)
    if (kept.isEmpty)
      spark.read.parquet(path).filter(lit(false))
    else
      spark.read.parquet(kept: _*)
        .filter(col(c) >= lit(lo) && col(c) <= lit(hi))
  }

  /** VERSIONED store commits — the snapshot-isolation core of a
    * Delta/Iceberg table reduced to its two moving parts: immutable
    * version directories (`v=N`, parquet, never rewritten) and one
    * tiny `_latest` pointer file whose atomic swap IS the commit.
    * Readers resolve the pointer once and then read an immutable
    * snapshot: a concurrent commit cannot tear their view (writers
    * write v=N+1 fully before the pointer moves), failed commits
    * leave garbage directories but never a torn table, and any
    * retained version stays time-travel readable. The pointer write
    * goes through create-temp + overwrite rename
    * (FileContext.rename(OVERWRITE)) so there is no delete→rename
    * window where the pointer is missing; on FileSystems without
    * overwrite-rename semantics, [[currentVersion]] additionally
    * retries a pointer miss before concluding the store is empty.
    * At 100 TB the
    * pointer swap is O(1) metadata; versions share nothing here
    * (full snapshots) — the manifest/compaction machinery above is
    * where incremental data layout lives. */
  def commitVersion(df: DataFrame, path: String,
                    manifestCols: Seq[String] = Nil): Long = {
    val spark = df.sparkSession
    val next = currentVersion(spark, path).getOrElse(0L) + 1L
    df.write.mode("errorifexists").parquet(s"$path/v=$next")
    // The manifest lives INSIDE the version directory, so "data +
    // skipping index" become visible in the same pointer swap — a
    // reader can never resolve new data with a stale (or missing)
    // manifest, the Iceberg manifest-is-the-commit-log property.
    if (manifestCols.nonEmpty)
      writeManifest(spark, s"$path/v=$next", manifestCols): Unit
    swapPointer(spark, path, next)
    next
  }

  /** OPTIMIZE as one atomic commit: rewrite the current snapshot
    * compacted to `targetFiles` files, refresh its data-skipping
    * manifest, and bump the version — all behind a single pointer
    * swap. Closes the rewrite-invalidates-manifest gap: a reader
    * either resolves version N (old files + old manifest, intact for
    * time travel) or N+1 (compacted files + freshly-built manifest);
    * [[prunedRead]] against the new snapshot can never fail-fast on
    * staleness because the manifest is written before the commit is
    * visible. The rewrite is a shuffle-free coalesce of the snapshot
    * scan — the standard small-file OPTIMIZE shape; at 100 TB the
    * same call runs per partition off [[Compaction.planFiles]]
    * groups. */
  def compactCommitted(spark: SparkSession, path: String,
                       manifestCols: Seq[String],
                       targetFiles: Int = 1): Long = {
    val cur = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $path"))
    commitVersion(readVersion(spark, path, cur).coalesce(targetFiles),
      path, manifestCols)
  }

  /** Atomic `_latest` pointer swap shared by the commit paths — the
    * shared marker write (overwrite-rename: no delete-then-rename
    * window where a concurrent reader sees no pointer at all). */
  private def swapPointer(spark: SparkSession, path: String,
                          next: Long): Unit =
    Markers.write(spark, s"$path/_latest", next.toString, "commit pointer")

  /** The committed version, or None for an empty store. A pointer
    * miss is retried briefly: on FileSystems without overwrite-rename
    * a concurrent commit has a short delete→rename window. */
  def currentVersion(spark: SparkSession, path: String): Option[Long] = {
    val store = new org.apache.hadoop.fs.Path(path)
    val fs = store.getFileSystem(spark.sessionState.newHadoopConf())
    // Only retry when a v=* sibling exists — evidence a commit
    // happened, so the missing pointer may be a concurrent
    // delete→rename window. A pointer-less store with no version
    // dirs (e.g. a crashed first commit, or no store dir at all)
    // will never grow one by waiting; don't tax every read with the
    // retry latency.
    def committedBefore: Boolean =
      try fs.listStatus(store).exists(_.getPath.getName.startsWith("v="))
      catch { case _: java.io.FileNotFoundException => false }
    var res = Markers.read(spark, s"$path/_latest")
    var attempt = 0
    while (res.isEmpty && attempt < 2 && committedBefore) {
      attempt += 1
      Thread.sleep(20L * attempt)
      res = Markers.read(spark, s"$path/_latest")
    }
    res.map { v =>
      require(v.matches("\\d+"),
        s"torn or malformed version pointer at $path/_latest: '$v'")
      v.toLong
    }
  }

  /** Time-travel read: the exact bytes committed as version `n`. */
  def readVersion(spark: SparkSession, path: String, n: Long): DataFrame =
    spark.read.parquet(s"$path/v=$n")

  /** Snapshot-isolated read of the latest commit: the pointer is
    * resolved ONCE — the returned frame keeps reading version N even
    * if version N+1 commits while the query runs. */
  def readLatest(spark: SparkSession, path: String): DataFrame = {
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $path"))
    readVersion(spark, path, v)
  }

  /** Retention: drop versions older than `keep` behind the pointer.
    * Never touches the current version; returns the dropped ids. */
  def vacuumVersions(spark: SparkSession, path: String, keep: Int = 2): Seq[Long] = {
    val cur = currentVersion(spark, path).getOrElse(return Nil)
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val versions = fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .map(_.getPath.getName.stripPrefix("v=").toLong).sorted
    val drop = versions.filter(_ <= cur - keep)
    drop.foreach(v => fs.delete(new org.apache.hadoop.fs.Path(s"$path/v=$v"), true))
    drop
  }

  /** Does the store directory hold any DATA at all — i.e. any
    * non-hidden entry (underscore/dot names are Spark bookkeeping:
    * _SUCCESS, _checkpoints)? A store whose every partition was
    * dropped keeps its _SUCCESS marker, so a bare `fs.exists` says
    * "present" while `spark.read.parquet` throws schema-inference
    * errors — the probe every reader of a mutable store needs. */
  def hasDataFiles(spark: SparkSession, path: String): Boolean = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(dir) && fs.listStatus(dir).exists { s =>
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** Drop one source partition — DeleteChunksBySourceID as a metadata
    * operation (no rewrite of surviving data). Goes through the
    * Hadoop FileSystem API, so the same call works on local disk,
    * HDFS, or an object store via its Hadoop connector; on
    * Delta/Iceberg this becomes a partition-predicate DELETE with
    * snapshot isolation. Returns the surviving view for
    * verification — when the dropped partition was the store's LAST
    * (the read would otherwise throw on schema inference over
    * bookkeeping-only leftovers, wedging a single-source resync
    * after its purge step), the return is an empty frame carrying
    * the PRE-DELETE schema, so callers can still select/filter the
    * documented columns on it. */
  def deleteSourcePartition(spark: SparkSession, path: String,
                            partitionCol: String, value: String): DataFrame = {
    // capture the schema before deleting: if this drop empties the
    // store, the surviving view must keep its columns
    val preSchema =
      if (hasDataFiles(spark, path))
        scala.util.Try(spark.read.parquet(path).schema).toOption
      else None
    val dir = new org.apache.hadoop.fs.Path(s"$path/$partitionCol=$value")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(dir)) fs.delete(dir, true): Unit
    if (hasDataFiles(spark, path)) spark.read.parquet(path)
    else preSchema.map(s => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s))
      .getOrElse(spark.emptyDataFrame)
  }
}
