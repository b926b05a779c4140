package graft.core

import java.net.URI

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Name → storage-path table registry with idempotent materialization.
  *
  * Plays the role of the reference's `get_s3` / `materialise_s3` /
  * `materialise_s3_if_not_exists` helpers (reference:
  * etl_textreuse/spark_utils.py:47-136 and the Scala twins in
  * etl_textreuse/assets/spark_functionality.sc:61-119): every logical
  * table is an immutable parquet directory, re-registered as a temp view
  * by name on each use, written zstd-compressed, with write-if-absent
  * and pointer-committed atomic publish via the Hadoop FileSystem API.
  *
  * Scale notes: paths may be any Hadoop-supported filesystem (s3a://,
  * hdfs://, file://); atomic materialization writes a fresh immutable
  * version directory and commits by swapping a one-line `_CURRENT`
  * pointer file — no directory rename anywhere, so the crash guarantee
  * holds on object stores (where rename is a non-atomic copy) exactly
  * as it does on HDFS, and a failed job never leaves a half-written
  * table registered.
  *
  * Layout of a versioned table `t` under the base directory:
  * {{{
  * t.versions/
  *   vNNNNN.parquet/        one immutable directory per version
  *     part-*.parquet
  *     _SUCCESS             the committer's completeness marker
  *     _graft_schema.json   the written DataFrame's schema, as JSON
  *   _CURRENT               one-line pointer: the live version number
  *   _DEPS                  AssetDag's dependency tokens (asset tables only)
  * }}}
  * The schema file is written after the data job and before the
  * `_CURRENT` commit, so every committed version carries one. Reads pass
  * it to `spark.read.schema`, which skips the job Spark otherwise
  * submits to infer the schema from a footer. A missing or unparsable
  * schema file (an un-versioned path, an external table, a crash between
  * the data write and the schema write) means "infer". The file's leading
  * `_` hides it from Spark's file index and from `*.parquet` globs.
  */
final class Catalog(val spark: SparkSession, baseDir: String) {

  def path(name: String): String = s"$baseDir/$name.parquet"

  private[core] def fs(p: String): FileSystem =
    FileSystem.get(new URI(p), spark.sparkContext.hadoopConfiguration)

  def exists(name: String): Boolean = {
    val p = path(name)
    fs(p).exists(new Path(p)) || currentVersion(name).isDefined
  }

  def delete(name: String): Unit = {
    val p = path(name)
    fs(p).delete(new Path(p), true)
    fs(p).delete(new Path(versionsDir(name)), true)
  }

  /** The physical directory a read of `name` resolves to: the
    * pointer-committed current version when one exists (tables
    * published by [[materializeAtomic]] / [[materializeVersioned]] /
    * [[materializeAudited]]), else the plain `<name>.parquet` path.
    */
  def dataDir(name: String): String =
    currentVersion(name).map(versionPath(name, _)).getOrElse(path(name))

  /** Read a materialized table and register it as a temp view. */
  def get(name: String): DataFrame = {
    val df = read(dataDir(name))
    df.createOrReplaceTempView(name)
    df
  }

  /** Read a parquet directory with its schema file's schema, or by
    * inference when the file is missing or unparsable. Spark applies
    * `asNullable` to a given file schema, so both paths yield the same
    * schema.
    */
  private def read(dir: String): DataFrame =
    readSchema(dir).fold(spark.read)(s => spark.read.schema(s)).parquet(dir)

  private def readSchema(dir: String): Option[StructType] =
    scala.util.Try {
      val in = fs(dir).open(new Path(dir, Catalog.SchemaFile))
      try DataType.fromJson(new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }.toOption.collect { case s: StructType => s }

  /** One small-file PUT, no rename: safe on object stores. */
  private def writeSchema(dir: String, schema: StructType): Unit = {
    val out = fs(dir).create(new Path(dir, Catalog.SchemaFile), true)
    try out.write(schema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Write `df` as parquet under `name` (overwrite), re-read + register.
    * Re-reading truncates lineage — load-bearing for iterative consumers
    * (reference: chinese_label_propagation.py:189-197).
    */
  def materialize(name: String, df: DataFrame): DataFrame = {
    df.write.mode("overwrite").parquet(path(name))
    get(name)
  }

  /** Atomic publish by POINTER COMMIT, not rename: the new data lands
    * whole in a fresh immutable version directory (nothing existing is
    * touched), and the single commit point is the `_CURRENT` pointer
    * write. A crash anywhere before the pointer write leaves the
    * previous version both on disk AND still the one every reader
    * resolves — there is no window where neither table is readable and
    * no step whose atomicity depends on filesystem rename. That is the
    * property directory-rename protocols lose on object stores, where
    * rename is a non-atomic copy-then-delete (the reference's own sink
    * is S3 — spark_utils.py:113-122); here the only thing "swapped" is
    * a one-line file, and even a torn pointer degrades to the
    * newest-complete-version fallback in [[currentVersion]], never to
    * a half-written table.
    *
    * The previous version is retained as rollback insurance and reaped
    * on the NEXT publish (a two-version window — [[vacuumVersions]]
    * with keep=1 reclaims sooner if storage is tight).
    */
  def materializeAtomic(name: String, df: DataFrame): DataFrame = {
    publishVersion(name, df)
    get(name)
  }

  /** Write `df` as the next version of `name`, pointer-commit it, and
    * bound history: keep the new current plus one predecessor, and
    * drop a legacy un-versioned `<name>.parquet` directory once a
    * pointer-committed version supersedes it. Shared by
    * [[materializeAtomic]] and [[materializeAudited]] (which audits
    * between the data write and the pointer commit). The written
    * version is read back only when there is an audit.
    */
  private def publishVersion(name: String, df: DataFrame,
      audit: Option[DataFrame => Unit] = None): Long = {
    val v = versions(name).lastOption.getOrElse(0L) + 1L
    val vp = versionPath(name, v)
    try {
      writeVersion(vp, df)
      audit.foreach(_(read(vp)))
    } catch {
      case e: Throwable => fs(vp).delete(new Path(vp), true); throw e
    }
    writePointer(name, v)
    vacuumVersions(name, keep = 2)
    val legacy = path(name)
    fs(legacy).delete(new Path(legacy), true)
    v
  }

  // ---------------------------------------------------------------------
  // Versioned materialization: publish KEEPS history — every publish is
  // an immutable `v<n>` directory plus a tiny `_CURRENT` pointer file,
  // so time travel is "read an old dir" and rollback is "repoint", with
  // no data movement. The poor-man's table-format layer a re-materialized
  // asset pipeline needs for "yesterday's model was better" incidents;
  // versions never mutate, so concurrent readers of any version are safe.
  // Crash contract: versions are written whole before the pointer moves;
  // if a crash loses the pointer, currentVersion falls back to the
  // newest complete version on disk.
  // ---------------------------------------------------------------------

  private[core] def versionsDir(name: String): String = s"$baseDir/$name.versions"
  private def versionPath(name: String, v: Long): String =
    f"${versionsDir(name)}/v$v%05d.parquet"
  private def pointerPath(name: String): String = s"${versionsDir(name)}/_CURRENT"

  /** The data job, then the schema file; the caller commits the pointer. */
  private def writeVersion(vp: String, df: DataFrame): Unit = {
    df.write.mode("overwrite").parquet(vp)
    writeSchema(vp, df.schema)
  }

  /** All COMPLETE versions of `name`, ascending — complete means the
    * directory carries the committer's `_SUCCESS` marker, so a version
    * abandoned mid-write (crash during the data job) is invisible to
    * both the next-version counter and the pointer-loss fallback.
    */
  def versions(name: String): Seq[Long] = {
    val dir = versionsDir(name)
    val f = fs(dir)
    if (!f.exists(new Path(dir))) Seq.empty
    else f.listStatus(new Path(dir)).toSeq
      .collect { case s
        if s.getPath.getName.startsWith("v") &&
          s.getPath.getName.endsWith(".parquet") &&
          f.exists(new Path(s.getPath, "_SUCCESS")) =>
        s.getPath.getName.stripPrefix("v").stripSuffix(".parquet").toLong }
      .sorted
  }

  /** The pointer target, or the newest complete version on disk when
    * the pointer is missing or unreadable (crash between version write
    * and pointer move, or a torn pointer write on a filesystem without
    * atomic single-file PUT).
    */
  def currentVersion(name: String): Option[Long] = {
    val p = pointerPath(name)
    val f = fs(p)
    val pointed =
      if (!f.exists(new Path(p))) None
      else {
        val in = f.open(new Path(p))
        val s = try new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8).trim
        finally in.close()
        scala.util.Try(s.toLong).toOption
      }
    pointed.orElse(versions(name).lastOption)
  }

  /** The commit point of every versioned publish: one small-file write
    * with overwrite — a PUT, which object stores make atomic (and the
    * one operation a directory-rename protocol cannot get from them).
    * No rename anywhere: on filesystems where overwrite-create is NOT
    * atomic the worst case is a torn pointer, which [[currentVersion]]
    * degrades to the newest-complete-version fallback — still a whole
    * table, never a partial one.
    */
  private def writePointer(name: String, v: Long): Unit = {
    val p = pointerPath(name)
    val f = fs(p)
    val out = f.create(new Path(p), true)
    try out.write(v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Read the CURRENT version and register it as the `name` view. */
  def getVersioned(name: String): DataFrame = {
    val v = currentVersion(name).getOrElse(
      throw new java.util.NoSuchElementException(s"$name has no versions"))
    val df = read(versionPath(name, v))
    df.createOrReplaceTempView(name)
    df
  }

  /** Publish `df` as the next version of `name` and point `_CURRENT` at
    * it. Returns (registered current DataFrame, new version id).
    */
  def materializeVersioned(name: String, df: DataFrame): (DataFrame, Long) = {
    val v = versions(name).lastOption.getOrElse(0L) + 1L
    writeVersion(versionPath(name, v), df)
    writePointer(name, v)
    (getVersioned(name), v)
  }

  /** Read `name` at an explicit version (time travel); does not move the
    * pointer or re-register the current view.
    */
  def getVersion(name: String, v: Long): DataFrame = {
    require(versions(name).contains(v), s"$name has no version $v")
    read(versionPath(name, v))
  }

  /** Repoint `_CURRENT` at an existing version — no data movement; the
    * abandoned versions stay on disk for [[vacuumVersions]] to reap.
    */
  def rollback(name: String, v: Long): DataFrame = {
    require(versions(name).contains(v), s"$name has no version $v to roll back to")
    writePointer(name, v)
    getVersioned(name)
  }

  /** Delete all but the newest `keep` versions — never the pointer
    * target, whatever its age. Returns the versions deleted.
    */
  def vacuumVersions(name: String, keep: Int = 3): Seq[Long] = {
    require(keep >= 1, "must keep at least one version")
    val all = versions(name)
    val cur = currentVersion(name)
    val reap = all.dropRight(keep).filterNot(cur.contains)
    reap.foreach(v => fs(baseDir).delete(new Path(versionPath(name, v)), true))
    reap
  }

  /** Write-audit-publish: write `df` whole as an uncommitted next
    * version, evaluate every audit as a boolean aggregate over the
    * WRITTEN rows (one scan, one row — e.g. `count(*) > 0`,
    * `count(CASE WHEN id IS NULL THEN 1 END) = 0`), and only then
    * pointer-commit it. A failing audit deletes the staged version and
    * throws, naming the failed audits — the pointer never moved, so
    * readers keep the previously published version while the bad batch
    * is investigated. This is the production answer to "the pipeline
    * succeeded but wrote garbage": at 100 TB you cannot un-publish, so
    * the gate runs BEFORE the commit, on the exact bytes that would go
    * live. (Residual double-failure window: a crash DURING the audit
    * leaves a complete-but-unaudited version dir, which only becomes
    * visible if the pointer is ALSO lost afterwards — the fallback
    * cannot tell it from a committed one.)
    */
  def materializeAudited(name: String, df: DataFrame,
      audits: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    require(audits.nonEmpty, "materializeAudited needs at least one audit")
    publishVersion(name, df, audit = Some { written =>
      val row = written.agg(audits.head._2.as(audits.head._1),
        audits.tail.map { case (n, c) => c.as(n) }: _*).head()
      val failed = audits.indices.collect {
        case i if row.isNullAt(i) || !row.getBoolean(i) => audits(i)._1
      }
      if (failed.nonEmpty) throw new IllegalStateException(
        s"audit failed for '$name': ${failed.mkString(", ")} — previous table untouched")
    })
    get(name)
  }

  /** Build + materialize only if absent (reference: spark_utils.py:96-136). */
  def ifNotExists(name: String)(build: => DataFrame): DataFrame =
    if (exists(name)) get(name) else materialize(name, build)

  /** Incremental upsert-by-key (poor-man's MERGE for plain parquet):
    * merge `updates` into the materialized table, keeping per key the
    * row with the greatest `versionCol` — updates win version ties, so
    * a same-version re-delivery is idempotent. Resolution is a rank-1
    * filter over (version, update-priority), which Spark plans with a
    * map-side WindowGroupLimit — a hot key does not sort its full
    * history on one reducer. The rewrite goes through the pointer-commit
    * publish, which also makes read-own-table safe: the new data lands
    * in a fresh version directory while the current one is still being
    * scanned.
    *
    * At 100 TB prefer a table format (Iceberg/Delta) whose MERGE
    * rewrites only affected files; the resolution operator here is the
    * same — this rewrites the whole table, which is the right trade
    * only while the table ≪ the update cadence allows.
    */
  def mergeByKey(name: String, updates: DataFrame, keyCols: Seq[String],
      versionCol: String): DataFrame = {
    require(keyCols.nonEmpty, "need at least one merge key column")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, lit, row_number}
    val merged =
      if (!exists(name)) updates
      else {
        val tagged = get(name).withColumn("_prio", lit(0))
          .unionByName(updates.withColumn("_prio", lit(1)))
        val w = Window.partitionBy(keyCols.map(col): _*)
          .orderBy(col(versionCol).desc, col("_prio").desc)
        tagged.withColumn("_rn", row_number().over(w))
          .where(col("_rn") === 1).drop("_rn", "_prio")
      }
    materializeAtomic(name, merged)
  }

  /** Compact a materialized table's file layout: rewrite it as
    * ceil(bytes / targetFileBytes) files through the pointer-commit
    * publish. The small-file problem is the slow killer of long-lived
    * 100 TB tables — every incremental drop appends task-count files,
    * and a year later a scan plans millions of splits and the namenode/
    * listing dominates query time. Returns (filesBefore, filesAfter).
    *
    * coalesce, not repartition: compaction must not pay a shuffle —
    * it only glues existing partitions together (row order within
    * files is preserved, stats stay tight for sorted/z-ordered data).
    */
  def compact(name: String, targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    // resolve the CURRENT physical directory (version dir for
    // pointer-committed tables, plain path otherwise) — re-resolved
    // after the rewrite, since the publish moves the pointer
    def dataFiles: Array[org.apache.hadoop.fs.FileStatus] = {
      val p = dataDir(name)
      // a partitioned table (Hive directory layout) must NOT be
      // flattened into a single unpartitioned rewrite — refuse instead
      // of silently destroying the partition pruning a consumer
      // depends on
      require(!fs(p).listStatus(new Path(p)).exists(_.isDirectory),
        s"compact: '$name' has a partitioned directory layout — compact partitions individually")
      fs(p).listStatus(new Path(p))
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
    }
    val before = dataFiles
    val totalBytes = before.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    materializeAtomic(name, get(name).coalesce(nOut))
    (before.length, dataFiles.length)
  }

  /** Remove crash leftovers: `_tmp_*` staging directories and `_old_*`
    * previous-table copies — leftovers of the pre-pointer rename
    * protocol this catalog once used (and of any external tool still
    * staging under those prefixes). Pointer-committed versions need no
    * vacuum pass for crash safety ([[vacuumVersions]] bounds their
    * history instead). Registered tables are never touched — only the
    * two well-known transient prefixes. Returns the deleted paths so
    * operational logs can record what was reclaimed. Run it at pipeline
    * start, not concurrently with a materialization.
    */
  def vacuum(): Seq[String] = {
    val base = new Path(baseDir)
    val f = fs(baseDir)
    if (!f.exists(base)) Seq.empty
    else f.listStatus(base).toSeq
      .map(_.getPath)
      .filter { p =>
        p.getName.startsWith("_tmp_") || p.getName.startsWith("_old_")
      }
      .map { p => f.delete(p, true); p.toString }
  }

  /** Bucketed + sorted materialization through the session catalog, for
    * shuffle-free iterative re-joins (reference: S5,
    * chinese_label_propagation.py:45-50 — bucketBy(256,"piece_id")).
    * The bucket count is a parameter: 256 matched the reference's cluster;
    * size it to ~shuffle-partition granularity at the target scale.
    */
  def materializeBucketed(name: String, df: DataFrame, buckets: Int, cols: Seq[String]): DataFrame = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    df.write
      .bucketBy(buckets, cols.head, cols.tail: _*)
      .sortBy(cols.head, cols.tail: _*)
      .option("path", path(name))
      .format("parquet")
      .mode("overwrite")
      .saveAsTable(name)
    spark.table(name)
  }

  /** Hive-style partitioned materialization — the data-layout knob for
    * predicate-aligned scans at 100 TB: a filter on the partition
    * columns prunes whole directories at PLANNING time (the scan's
    * `PartitionFilters`, CatalogSpec-asserted), so a per-language or
    * per-date query reads only its slice of the corpus instead of
    * filtering all of it. Partition columns must be low-cardinality
    * (languages, dates, sources) — high-cardinality partitioning
    * explodes the file count and kills listing performance.
    */
  def materializePartitioned(name: String, df: DataFrame,
      partitionCols: Seq[String]): DataFrame = {
    require(partitionCols.nonEmpty, "need at least one partition column")
    df.write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(path(name))
    get(name)
  }

  /** Collect table + column statistics for a METASTORE table (one
    * written by [[materializeBucketed]]) so Catalyst's cost-based
    * optimizer has real rowCount/sizeInBytes/NDV instead of file-size
    * guesses — at scale this is what flips borderline joins to
    * broadcast and orders multi-way joins sensibly. Not applicable to
    * path-registered temp views ([[get]]), whose stats come from file
    * sizes.
    */
  def analyze(name: String, columns: Seq[String] = Seq.empty): Unit = {
    val forCols = if (columns.isEmpty) "" else s" FOR COLUMNS ${columns.mkString(", ")}"
    spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS$forCols")
  }

  /** Eager named cache (reference: S8, spark_utils.py:57-65). */
  def cache(name: String, df: DataFrame): DataFrame = {
    df.createOrReplaceTempView(s"${name}_source")
    spark.sql(s"CACHE TABLE $name AS TABLE ${name}_source")
    spark.table(name)
  }
}

object Catalog {
  /** Per-version schema file; see the class doc for the layout. */
  val SchemaFile = "_graft_schema.json"
}
