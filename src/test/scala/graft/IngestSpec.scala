package graft

import java.io.{File, FileOutputStream}
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ingest.Ingest

class IngestSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("score", DoubleType)))

  private def writeZip(entries: (String, Seq[String])*): String = {
    val f = File.createTempFile("graft-ingest", ".zip")
    f.deleteOnExit()
    val zos = new ZipOutputStream(new FileOutputStream(f))
    entries.foreach { case (name, lines) =>
      zos.putNextEntry(new ZipEntry(name))
      zos.write(lines.mkString("\n").getBytes("UTF-8"))
      zos.closeEntry()
    }
    zos.close()
    f.getAbsolutePath
  }

  test("readZippedJsonl: driver lists entries, tasks re-read and parse") {
    val zip = writeZip(
      "a.jsonl" -> Seq("""{"id":1,"name":"x","score":1.5}""",
        """{"id":2,"name":"y","score":2.5}"""),
      "b.jsonl" -> Seq("""{"id":3,"name":"z","score":3.5}"""),
      "dir/c.jsonl" -> Seq("""{"id":4,"name":"w","score":4.5}"""))
    val p = new org.apache.hadoop.fs.Path(zip)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(graft.ingest.ZipIndex.entries(fs, p).map(_.name).toSet ===
      Set("a.jsonl", "b.jsonl", "dir/c.jsonl"))
    val df = Ingest.readZippedJsonl(spark, zip, schema)
    assert(df.schema === schema)
    val rows = df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(rows.sorted === Seq((1L, "x", 1.5), (2L, "y", 2.5), (3L, "z", 3.5), (4L, "w", 4.5)))
  }

  test("ZipIndex: central directory parse + seek-based entry reads") {
    import org.apache.hadoop.fs.{FileSystem, Path}
    // mixed STORED and DEFLATED entries, a directory entry to skip, and
    // an archive comment (pushes the EOCD away from the file tail)
    val f = File.createTempFile("graft-zipidx", ".zip")
    f.deleteOnExit()
    val zos = new ZipOutputStream(new FileOutputStream(f))
    val storedData = "stored-line-1\nstored-line-2".getBytes("UTF-8")
    val se = new ZipEntry("stored.txt")
    se.setMethod(ZipEntry.STORED)
    se.setSize(storedData.length)
    se.setCompressedSize(storedData.length)
    val crc = new java.util.zip.CRC32()
    crc.update(storedData)
    se.setCrc(crc.getValue)
    zos.putNextEntry(se)
    zos.write(storedData)
    zos.closeEntry()
    zos.putNextEntry(new ZipEntry("dir/"))
    zos.closeEntry()
    zos.putNextEntry(new ZipEntry("deflated.txt"))
    zos.write(("x" * 10000).getBytes("UTF-8"))
    zos.closeEntry()
    // comment embeds the EOCD signature bytes — the backward scan must
    // reject the phantom record (comment-length validation) and find
    // the real one
    zos.setComment("fake sig PK\u0005\u0006 inside an archive comment")
    zos.close()
    val p = new Path(f.getAbsolutePath)
    val conf = spark.sparkContext.hadoopConfiguration
    // parameterized over FileSystem implementations: the checksummed
    // LocalFileSystem (what file:// resolves to) and RawLocalFileSystem
    // (different open/seek path, no .crc side files) — proving ZipIndex
    // holds no java.io.File assumptions and goes through the Hadoop FS
    // API only, the same seam hdfs:// and s3a:// plug into
    val checksummed = FileSystem.get(p.toUri, conf)
    assert(checksummed.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem])
    val raw = new org.apache.hadoop.fs.RawLocalFileSystem()
    raw.initialize(java.net.URI.create("file:///"), conf)
    try {
      for (fs <- Seq[FileSystem](checksummed, raw)) {
        val idx = graft.ingest.ZipIndex.entries(fs, p)
        assert(idx.map(_.name) === Seq("stored.txt", "deflated.txt")) // dir/ skipped
        val st = idx.find(_.name == "stored.txt").get
        val df = idx.find(_.name == "deflated.txt").get
        assert(st.method === 0 && st.compressedSize === storedData.length.toLong)
        assert(df.method === 8 && df.uncompressedSize === 10000L
          && df.compressedSize < 10000L) // actually compressed
        val in = fs.open(p)
        try {
          // read DEFLATED first — seek order independent of file order
          assert(new String(graft.ingest.ZipIndex.openEntry(in, df).readAllBytes(),
            "UTF-8") === "x" * 10000)
          assert(new String(graft.ingest.ZipIndex.openEntry(in, st).readAllBytes(),
            "UTF-8") === "stored-line-1\nstored-line-2")
        } finally in.close()
      }
    } finally raw.close()
  }

  /** `body` with the two file-scan sizing confs set to `maxBytes` and
    * `openCost`, restored afterwards.
    */
  private def withSplitConf[T](maxBytes: Long, openCost: Long)(body: => T): T = {
    val keys = Seq("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.zip(Seq(maxBytes, openCost)).foreach { case (k, v) => spark.conf.set(k, v.toString) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** One byte per split: every entry gets a partition to itself. */
  private def entryPerSplit[T](body: => T): T = withSplitConf(1L, 0L)(body)

  private def idRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted

  test("readZippedJsonl reads each entry exactly once across many partitions") {
    val entries = (0 until 23).map(i =>
      s"part_$i.jsonl" -> Seq(s"""{"id":$i,"name":"n$i","score":$i.5}""",
        s"""{"id":$i,"name":"m$i","score":$i.5}"""))
    val zip = writeZip(entries: _*)
    val expected = (0 until 23).flatMap(i => Seq((i.toLong, s"n$i"), (i.toLong, s"m$i"))).sorted
    // a sorted Seq is a multiset: an entry read twice adds rows
    assert(idRows(Ingest.readZippedJsonl(spark, zip, schema)) === expected)
    entryPerSplit {
      val df = Ingest.readZippedJsonl(spark, zip, schema)
      assert(df.rdd.getNumPartitions === 23)
      assert(idRows(df) === expected)
    }
  }

  test("zip splits follow Spark's file-scan sizing rule") {
    def lines(i: Int, n: Int) =
      (0 until n).map(j => s"""{"id":$i,"name":"n${i}_$j","score":$j.5}""")
    val zip = writeZip((0 until 50).map(i => s"e_$i.jsonl" -> lines(i, 20)): _*)
    val p = new org.apache.hadoop.fs.Path(zip)
    val entries = graft.ingest.ZipIndex.entries(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    // small entries pack to about one split per core, in archive order
    val splits = Ingest.zipSplits(spark, entries)
    assert(splits.size <= spark.sparkContext.defaultParallelism + 1)
    assert(splits.flatten === entries)
    val df = Ingest.readZippedJsonl(spark, zip, schema)
    val (rows, sample) = Profile.measure(spark)(idRows(df))
    assert(sample.jobs === 1 && sample.tasks === splits.size)
    assert(rows.size === 50 * 20)
    assert(rows === entryPerSplit(idRows(Ingest.readZippedJsonl(spark, zip, schema))))

    // an entry larger than maxPartitionBytes gets a partition to itself,
    // while entries below it still share one
    val mixed = writeZip((0 until 12).map(i =>
      s"e_$i.jsonl" -> lines(i, if (i == 5) 200 else 20)): _*)
    val small = entries.head.uncompressedSize
    withSplitConf(maxBytes = 4 * small, openCost = 0L) {
      val byPartition = Ingest.readZippedJsonl(spark, mixed, schema)
        .select(spark_partition_id(), col("id")).collect()
        .groupBy(_.getInt(0)).values.map(_.map(_.getLong(1)).toSet).toSeq
      assert(byPartition.flatten.sorted === (0L until 12L))
      assert(byPartition.filter(_.contains(5L)) === Seq(Set(5L)))
      assert(byPartition.exists(_.size > 1))
    }
  }

  test("normalizeDate parses the reference's three formats") {
    import spark.implicits._
    val df = Seq("1745-03-02", "1745", "March 2, 1745", "garbage").toDF("s")
      .select(col("s"), Ingest.normalizeDate(col("s")).as("d"))
    val m = df.collect().map(r => r.getString(0) -> Option(r.getDate(1)).map(_.toString)).toMap
    assert(m("1745-03-02") === Some("1745-03-02"))
    assert(m("1745") === Some("1745-01-01"))
    assert(m("March 2, 1745") === Some("1745-03-02"))
    assert(m("garbage") === None)
  }

  test("readCsv reads header'd csv as all-string columns") {
    val f = File.createTempFile("graft-csv", ".csv")
    f.deleteOnExit()
    java.nio.file.Files.writeString(f.toPath, "a,b\n1,x\n2,y\n")
    val df = Ingest.readCsv(spark, f.getAbsolutePath)
    assert(df.schema.fields.forall(_.dataType == StringType))
    assert(df.count() === 2)
  }

  test("JSONL round-trip through writeJsonl/readJsonl preserves rows") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = tempDir("graft-jsonl").toFile
    val path = s"${dir.getAbsolutePath}/d.jsonl"
    val src = Seq((1L, "a \"quoted\" line", 1.5), (2L, "unicode ü 九", -0.5))
      .toDF("id", "s", "v")
    Ingest.writeJsonl(src, path)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("s", StringType), StructField("v", DoubleType)))
    val back = Ingest.readJsonl(spark, path, schema).select("id", "s", "v")
    assert(back.orderBy("id").collect().toSeq === src.orderBy("id").collect().toSeq)
    assert(new File(path).listFiles().exists(_.getName.endsWith(".json.gz")))
  }

  test("permissive JSONL quarantines corrupt lines without dropping or failing") {
    import org.apache.spark.sql.types._
    val dir = tempDir("graft-jsonl-bad").toFile
    val path = s"${dir.getAbsolutePath}/mixed.jsonl"
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      ("""{"id": 1, "s": "good"}""" + "\n" +
        """{"id": 2 "s": "missing comma"}""" + "\n" +
        """not json at all""" + "\n" +
        """{"id": 3, "s": "also good"}""" + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("s", StringType)))
    // cache before branching: Spark rejects corrupt-only projections on
    // the raw scan (see readJsonlPermissive scaladoc); one parse, two
    // sinks is the real ingest shape anyway
    val back = Ingest.readJsonlPermissive(spark, path, schema).cache()
    // every input line is accounted for — none dropped, no job failure
    assert(back.count() === 4L)
    val good = back.where(col("_corrupt_record").isNull)
      .select("id", "s").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(good === Set((1L, "good"), (3L, "also good")))
    val bad = back.where(col("_corrupt_record").isNotNull)
      .select("_corrupt_record").collect().map(_.getString(0)).toSet
    // quarantined lines arrive intact for audit/repair
    assert(bad === Set("""{"id": 2 "s": "missing comma"}""", "not json at all"))
  }

  test("ORC round-trip preserves schema and rows, zstd-compressed") {
    import spark.implicits._
    val dir = tempDir("graft-orc").toFile
    val path = s"${dir.getAbsolutePath}/t.orc"
    val src = Seq((1L, "a", 1.5), (2L, "b", -0.5), (3L, null, 0.0))
      .toDF("id", "s", "v")
    Ingest.writeOrc(src, path)
    val back = Ingest.readOrc(spark, path)
    // file sources widen nullability on read; names and types round-trip
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      src.schema.map(f => (f.name, f.dataType)))
    assert(back.orderBy("id").collect().toSeq === src.orderBy("id").collect().toSeq)
    // the files on disk really are zstd ORC
    assert(new File(path).listFiles().exists(_.getName.contains(".zstd.orc")))
  }

  test("CSV round-trip: header + RFC-4180 quoting survives hostile text") {
    import spark.implicits._
    val dir = tempDir("graft-csv").toFile
    val path = s"${dir.getAbsolutePath}/t.csv"
    val src = Seq(
      (1L, "plain"),
      (2L, "comma, inside"),
      (3L, "a \"quoted\" value"),
      (4L, "line\nbreak"))
      .toDF("id", "s")
    Ingest.writeCsv(src, path)
    // embedded newlines require the multiLine reader (readCsv is the
    // fast line-splittable face and would break such records apart)
    val back = Ingest.readCsvMultiline(spark, path)
      .select(col("id").cast("long").as("id"), col("s"))
    assert(back.orderBy("id").collect().toSeq ===
      src.orderBy("id").collect().toSeq)
    assert(new File(path).listFiles().exists(_.getName.endsWith(".csv.gz")))
  }

  test("XML round-trip via Spark 4's native xml source") {
    import spark.implicits._
    val dir = tempDir("graft-xml").toFile
    val path = s"${dir.getAbsolutePath}/t.xml"
    val src = Seq((1L, "alpha & <beta>", 1.5), (2L, "ü 九", -0.5))
      .toDF("id", "s", "v")
    Ingest.writeXml(src, path, rowTag = "doc")
    val back = Ingest.readXml(spark, path, rowTag = "doc")
      .select(col("id").cast("long"), col("s"), col("v").cast("double"))
    // entity escaping (&, <, >) and unicode must survive the round-trip
    assert(back.orderBy("id").collect().toSeq === src.orderBy("id").collect().toSeq)
  }

  test("readParquetMerged unions evolved schemas; absent columns read null") {
    import spark.implicits._
    val dir = tempDir("graft-evolve").toFile
    val d1 = s"${dir.getAbsolutePath}/drop1"
    val d2 = s"${dir.getAbsolutePath}/drop2"
    // month 1 had (doc_id, text); month 2 added a lang column
    Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text").write.parquet(d1)
    Seq((3L, "gamma", "en")).toDF("doc_id", "text", "lang").write.parquet(d2)
    val merged = Ingest.readParquetMerged(spark, d1, d2)
    assert(merged.columns.toSet === Set("doc_id", "text", "lang"))
    val rows = merged.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
    assert(rows.toSeq === Seq(
      (1L, "alpha", None), (2L, "beta", None), (3L, "gamma", Some("en"))))
  }
}
