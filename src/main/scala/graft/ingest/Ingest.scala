package graft.ingest

import java.io.{BufferedReader, Closeable, InputStreamReader}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Ingestion sources (SURVEY.md §2.1 S1/S4).
  *
  * The reference streams zip-of-JSONL archives from S3: the driver lists
  * the zip central directory, parallelizes the entry list, and every
  * task opens the archive and parses its assigned entries
  * (raw_textreuses.py:43-68, 80-133). `readZippedJsonl` reproduces that
  * execution shape on any Hadoop filesystem (file://, hdfs://, s3a://)
  * — driver indexes the central directory (ZipIndex), executors seek
  * straight to their entries — with two deliberate deviations
  * (SURVEY.md §7.3): parsing is delegated to Spark's JSON reader
  * against an explicit schema (vectorized, typed) instead of per-row
  * Python dict coercion, and malformed records surface through the
  * reader's columnNameOfCorruptRecord mechanism instead of being
  * silently swallowed (raw_textreuses.py:39-40).
  *
  * Scale notes: one driver pass over the central directory (metadata
  * only); entry payloads are only read inside tasks, each exactly once
  * (seek-based — see ZipIndex for why ZipInputStream would multiply
  * archive I/O by the partition count). Tasks are sized by bytes, not
  * by entry: entries pack into splits under Spark's file-scan bound
  * ([[Ingest.zipSplits]]) instead of the reference's 200-way
  * parallelize, which ran one small entry per task — on 4 vCPUs a
  * 50-entry archive's 50 tasks spent 2.5 s of CPU deserializing
  * against 1.0 s running. Plain JSONL/CSV directories should use the
  * direct readers — the zip path exists for parity with archival
  * inputs.
  */
object Ingest {

  /** JSONL with an explicit schema (never inferred — a schema-inference
    * pass over 100 TB is a full extra scan).
    */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** JSONL with corrupt-record CAPTURE (PERMISSIVE + a quarantine
    * column): a 100 TB crawl drop always contains malformed lines, and
    * the two failure postures are both wrong at scale — FAILFAST kills
    * the whole pass on row one billion, DROPMALFORMED silently loses
    * data with no audit trail. This keeps every line: well-formed rows
    * parse into the schema, broken ones land intact in `corruptCol`
    * (schema fields null), so the caller can route them to a quarantine
    * sink and account for every input byte.
    *
    * Spark restriction: a query that projects ONLY the corrupt column
    * from the raw scan is rejected (QUERY_ONLY_CORRUPT_RECORD_COLUMN) —
    * cache or persist the parsed frame before splitting it into
    * clean/quarantine branches, which a real ingest does anyway (one
    * parse, two sinks).
    */
  def readJsonlPermissive(spark: SparkSession, path: String, schema: StructType,
      corruptCol: String = "_corrupt_record"): DataFrame = {
    val withCorrupt = StructType(schema.fields :+
      org.apache.spark.sql.types.StructField(corruptCol,
        org.apache.spark.sql.types.StringType, nullable = true))
    spark.read
      .schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .json(path)
  }

  /** JSONL write, gzip-compressed — the interchange face for consumers
    * that ingest line-JSON (annotation tooling, external corpora
    * pipelines). Gzip over zstd here: line-JSON interchange targets
    * maximum-compatibility readers.
    */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("compression", "gzip").json(path)

  /** CSV with header, all columns string (reference:
    * upstream_metadata.py:20); callers normalize types downstream.
    */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path)

  /** ORC read — the interchange format when downstream consumers are
    * Hive/Trino-side rather than parquet-native. Column pruning and
    * predicate pushdown work the same as the parquet scans (both are
    * Spark DataSource v1 file sources with vectorized readers).
    */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** ORC write, zstd-compressed like every parquet sink in the engine. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("compression", "zstd").orc(path)

  /** CSV write with header, gzip — the export twin of [[readCsv]], for
    * consumers that want flat interchange files (spreadsheets, legacy
    * loaders). Quoting/escaping stays at Spark's RFC-4180 defaults so
    * commas/quotes/newlines in text round-trip — but records with
    * embedded NEWLINES need [[readCsvMultiline]] on the way back in.
    */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true")
      .option("compression", "gzip").csv(path)

  /** CSV read for files whose quoted fields may span lines. Named apart
    * from [[readCsv]] deliberately: multiLine parsing cannot split a
    * file across tasks (record boundaries are no longer line
    * boundaries), so each FILE becomes one task — fine for interchange
    * drops, wrong as the default for bulk scans.
    */
  def readCsvMultiline(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("multiLine", "true").csv(path)

  /** XML read via Spark 4's NATIVE xml source (the spark-xml donation —
    * in the core distribution, no external package): one row per
    * `rowTag` element, schema inferred or caller-supplied. The format
    * XML-era metadata corpora (TEI, METS/ALTO, library catalogs)
    * actually arrive in.
    */
  def readXml(spark: SparkSession, path: String, rowTag: String): DataFrame =
    spark.read.option("rowTag", rowTag).xml(path)

  /** XML write, one `rowTag` element per row under `rootTag`. */
  def writeXml(df: DataFrame, path: String, rowTag: String,
      rootTag: String = "rows"): Unit =
    df.write.mode("overwrite").option("rowTag", rowTag)
      .option("rootTag", rootTag).xml(path)

  /** Schema-evolution parquet read: merge the per-file schemas into
    * their union instead of trusting the first footer sampled. The
    * long-corpus reality is that drops accumulate columns over months;
    * without mergeSchema a scan planned off an OLD file silently drops
    * the new columns from every file that has them. Spark leaves the
    * option off by default because footer-merging costs a pass over
    * file metadata — so the engine names the evolution read explicitly
    * rather than flipping the global conf. Columns absent in a file
    * read as null (additive evolution only; incompatible type changes
    * still fail loudly at merge time, which is correct).
    */
  def readParquetMerged(spark: SparkSession, paths: String*): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(paths: _*)

  /** Multi-format date normalization for string metadata columns
    * (reference: upstream_metadata.py:27-36, publication_date.py:30-56).
    */
  def normalizeDate(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    coalesce(
      try_to_timestamp(c, lit("yyyy-MM-dd")),
      try_to_timestamp(c, lit("LLLL d, yyyy")),
      try_to_timestamp(c, lit("yyyy"))).cast("date")

  /** Zip-of-JSONL ingest: the driver parses the archive's CENTRAL
    * DIRECTORY once (ZipIndex — one tail read + one directory read,
    * metadata only), packs the entry list into byte-sized splits
    * ([[zipSplits]]), and each task SEEKS directly to its split's
    * entries over one open file handle. Total archive I/O is O(archive
    * size) regardless of partition count — a ZipInputStream-based task
    * would have to stream-and-discard every preceding entry, reading
    * the archive once PER PARTITION. Works on any seekable Hadoop
    * filesystem (file://, hdfs://, s3a:// ranged reads — the same
    * shape as the reference's seekable smart_open S3 stream,
    * raw_textreuses.py:60-66).
    *
    * The Hadoop conf ships once per executor as a broadcast, as in
    * Spark's file sources, not once per task inside the closure. Lines
    * stream lazily: each entry's stream closes when exhausted (releasing
    * the DEFLATE Inflater's native buffers), and the file handle — plus
    * the entry of a task that stops early — closes on task completion.
    */
  def readZippedJsonl(spark: SparkSession, zipPath: String, schema: StructType): DataFrame = {
    val sc = spark.sparkContext
    val p0 = new Path(zipPath)
    val splits = zipSplits(spark, ZipIndex.entries(p0.getFileSystem(sc.hadoopConfiguration), p0))
    val conf = sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
    val lines = sc.parallelize(splits, math.max(1, splits.size)).mapPartitions { it =>
      val entries = it.flatten
      if (!entries.hasNext) Iterator.empty
      else {
        val p = new Path(zipPath)
        val in = p.getFileSystem(conf.value.value).open(p)
        var current: Closeable = null
        TaskContext.get().addTaskCompletionListener[Unit] { _ =>
          try if (current != null) current.close() finally in.close()
        }
        // flatMap opens the next entry only once the last is exhausted,
        // so the entries share the one handle's seek position in turn
        entries.flatMap { e =>
          val reader = new BufferedReader(
            new InputStreamReader(ZipIndex.openEntry(in, e), StandardCharsets.UTF_8))
          current = reader
          Iterator.continually(reader.readLine()).takeWhile { line =>
            if (line == null) { reader.close(); current = null }
            line != null
          }
        }.filter(_.nonEmpty)
      }
    }
    spark.read.schema(schema).json(spark.createDataset(lines)(Encoders.STRING))
  }

  /** The ingest's task splits, planned the way Spark plans a file scan
    * (`FilePartition`): entries, in archive order so a task's seeks run
    * forward, are packed next-fit by `uncompressedSize` plus
    * `spark.sql.files.openCostInBytes` under `FilePartition.maxSplitBytes`
    * = min(maxPartitionBytes, max(openCost, total / (minPartitionNum or
    * the default parallelism))). Small entries thus share a task — about
    * one split per core — while an entry larger than the bound gets a
    * split to itself.
    */
  private[graft] def zipSplits(spark: SparkSession,
      entries: Seq[ZipIndex.Entry]): Vector[Vector[ZipIndex.Entry]] = {
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val maxSplit = FilePartition.maxSplitBytes(spark,
      entries.map(_.uncompressedSize + openCost).sum)
    entries.foldLeft((Vector.empty[Vector[ZipIndex.Entry]], 0L)) { case ((done, size), e) =>
      if (done.nonEmpty && size + e.uncompressedSize <= maxSplit)
        (done.init :+ (done.last :+ e), size + e.uncompressedSize + openCost)
      else (done :+ Vector(e), e.uncompressedSize + openCost)
    }._1
  }
}
