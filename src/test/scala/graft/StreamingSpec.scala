package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.Events
import graft.streaming.Events.Event

/** Streaming faces: the same transforms as the batch oracles, executed
  * through Structured Streaming (MemoryStream → watermark → stateful op
  * → memory sink).
  */
class StreamingSpec extends SparkTestBase {

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("streamingTumblingCounts matches the batch aggregation") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val events = Seq(
      Event(1, ts(0), 1, "click", 1.0), Event(2, ts(5), 1, "click", 2.0),
      Event(3, ts(10), 2, "view", 3.0))
    input.addData(events: _*)

    val q = Events.streamingTumblingCounts(input.toDF(), width = "1 hour")
      .writeStream.format("memory").queryName("tumbling")
      .outputMode(OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      val got = spark.table("tumbling")
        .select("event_type", "n_events", "sum_value")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      val exp = Events.tumblingCounts(events.toDF(), width = "1 hour")
        .select("event_type", "n_events", "sum_value")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === exp)
      assert(got === Set(("click", 2L, 3.0), ("view", 1L, 3.0)))
    } finally q.stop()
  }

  test("streamingSlidingCounts matches the batch sliding aggregation") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val events = Seq(
      Event(1, ts(0), 1, "click", 1.0),  // windows starting 09:15..10:00
      Event(2, ts(20), 1, "click", 2.0), // windows starting 09:30..10:15
      Event(3, ts(50), 2, "view", 3.0))
    input.addData(events: _*)
    val q = Events.streamingSlidingCounts(input.toDF())
      .writeStream.format("memory").queryName("sliding")
      .outputMode(OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      val got = spark.table("sliding")
        .select(col("window_start").cast("long"), col("event_type"), col("n_events"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val exp = Events.slidingCounts(events.toDF())
        .select("window_start_s", "event_type", "n_events")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(got === exp)
      // each event appears in exactly width/slide = 4 windows
      assert(got.filter(_._2 == "view").toSeq.map(_._3).sum === 4L)
      // clicks at 10:00 and 10:20 share the 09:30/09:45/10:00 windows
      assert(got.count { case (_, t, n) => t == "click" && n == 2L } === 3)
    } finally q.stop()
  }

  test("streamingSessionize closes sessions on gap timeout") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val q = Events.streamingSessionize(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      // session 1: two events 5 min apart; then a 40-min gap; the late
      // event advances the watermark past session 1's horizon
      input.addData(Event(1, ts(0), 7, "click", 1.0), Event(2, ts(5), 7, "click", 2.0))
      q.processAllAvailable()
      input.addData(Event(3, ts(45), 7, "click", 4.0))
      q.processAllAvailable()
      // far-future events so the watermark passes session 2's horizon
      // (timeouts fire on the batch AFTER the watermark advances)
      input.addData(Event(4, Timestamp.valueOf("2024-01-01 12:00:00"), 8, "view", 0.5))
      q.processAllAvailable()
      input.addData(Event(5, Timestamp.valueOf("2024-01-01 13:00:00"), 9, "view", 0.5))
      q.processAllAvailable()
      val got = spark.table("sessions")
        .select("user_id", "n_events", "sum_value")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got.contains((7L, 2L, 3.0)), s"first session missing: $got")
      assert(got.contains((7L, 1L, 4.0)), s"second session missing: $got")
    } finally q.stop()
  }

  test("streaming session_window matches the batch session_window face") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = Seq(
      Event(1, ts(0), 7, "click", 1.0), Event(2, ts(5), 7, "click", 2.0),
      Event(3, ts(45), 7, "click", 4.0),   // 40-min gap → new session
      Event(4, ts(10), 8, "view", 0.5))
    val input = MemoryStream[Event]
    input.addData(rows: _*)
    val q = Events.streamingSessionWindowCounts(input.toDF(), gapMinutes = 30)
      .writeStream.format("memory").queryName("swc")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      // push the watermark far past every session horizon so all emit
      input.addData(Event(9, Timestamp.valueOf("2024-01-02 00:00:00"), 99, "view", 0.0))
      q.processAllAvailable()
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.where(col("user_id") < 99)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getDouble(4))).toSet
      val got = canon(spark.table("swc"))
      val exp = canon(Events.sessionWindowCounts(rows.toDF(), gapMinutes = 30))
      assert(got === exp)
      assert(exp.size === 3, s"fixture must produce 3 sessions: $exp")
    } finally q.stop()
  }

  test("streamingDedup drops duplicate keys within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val q = Events.streamingDedup(input.toDF(), Seq("event_id"), watermark = "1 hour")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Event(1, ts(0), 1, "click", 1.0), Event(1, ts(1), 1, "click", 1.0),
        Event(2, ts(2), 1, "view", 2.0))
      q.processAllAvailable()
      input.addData(Event(1, ts(3), 1, "click", 1.0)) // dup within watermark
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").select("event_id")
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === Seq(1L, 2L))
    } finally q.stop()
  }

  test("streamingIntervalJoin matches the batch interval join") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[Event]
    val views = MemoryStream[Event]
    // views at 10:00/10:01/10:10 for user 1; clicks at 10:02 (catches
    // 10:00+10:01), 10:10 (catches only 10:10 — 120s horizon), and a
    // user-2 click that matches nothing
    clicks.addData(Event(100, ts(2), 1, "click", 0), Event(101, ts(10), 1, "click", 0),
      Event(102, ts(2), 2, "click", 0))
    views.addData(Event(200, ts(0), 1, "view", 0), Event(201, ts(1), 1, "view", 0),
      Event(202, ts(10), 1, "view", 0))
    val joined = Events.streamingIntervalJoin(
      clicks.toDF().select("event_id", "user_id", "ts"),
      views.toDF().select("event_id", "user_id", "ts"),
      key = "user_id", timeCol = "ts", maxDelaySeconds = 120L)
    val q = joined.select("event_id", "r_event_id")
      .writeStream.format("memory").queryName("interval_join")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val got = spark.table("interval_join").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((100L, 200L), (100L, 201L), (101L, 202L)))
      // identical pairs from the batch face on the same rows
      val batch = Events.intervalJoin(
        Seq(Event(100, ts(2), 1, "click", 0), Event(101, ts(10), 1, "click", 0),
          Event(102, ts(2), 2, "click", 0)).toDF().select("event_id", "user_id", "ts"),
        Seq(Event(200, ts(0), 1, "view", 0), Event(201, ts(1), 1, "view", 0),
          Event(202, ts(10), 1, "view", 0)).toDF().select("event_id", "user_id", "ts"),
        key = "user_id", timeCol = "ts", maxDelaySeconds = 120L)
        .select("event_id", "r_event_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batch === got)
    } finally q.stop()
  }

  test("streamingAsOf matches the batch as-of join") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[Event]
    val views = MemoryStream[Event]
    // reference (views) for user 1 at 10:00/10:05/10:30; probes (clicks)
    // at 10:03 (→ view e200), 10:05 (tie → inclusive, e201), 10:40
    // (→ e202); a user-2 probe with NO preceding reference (→ None)
    val leftRows = Seq(Event(100, ts(3), 1, "click", 1.0),
      Event(101, ts(5), 1, "click", 2.0), Event(102, ts(40), 1, "click", 3.0),
      Event(103, ts(4), 2, "click", 4.0))
    val rightRows = Seq(Event(200, ts(0), 1, "view", 10.0),
      Event(201, ts(5), 1, "view", 20.0), Event(202, ts(30), 1, "view", 30.0))
    clicks.addData(leftRows: _*)
    views.addData(rightRows: _*)
    val q = Events.streamingAsOf(clicks.toDS(), views.toDS(), watermark = "10 minutes")
      .writeStream.format("memory").queryName("asof_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      // advance the watermark past every probe (both streams feed the
      // same watermark), then trigger once more so event-time timeouts
      // fire for keys with no further data
      clicks.addData(Event(900, Timestamp.valueOf("2024-01-01 13:00:00"), 99, "click", 0.0))
      views.addData(Event(901, Timestamp.valueOf("2024-01-01 13:00:00"), 99, "view", 0.0))
      q.processAllAvailable()
      clicks.addData(Event(902, Timestamp.valueOf("2024-01-01 14:00:00"), 99, "click", 0.0))
      q.processAllAvailable()
      val got = spark.table("asof_stream").where($"user_id" =!= 99)
        .select("event_id", "r_event_id", "r_value")
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
      assert(got === Set(
        (100L, Some(200L), Some(10.0)),
        (101L, Some(201L), Some(20.0)),
        (102L, Some(202L), Some(30.0)),
        (103L, None, None)))
      // face parity: the batch as-of join on the same rows agrees
      val batch = graft.operators.AsOf.asOfJoin(
        leftRows.toDF().select("event_id", "user_id", "ts"),
        rightRows.toDF().select(col("user_id"), col("ts"),
          col("event_id").as("r_event_id"), col("value").as("r_value")),
        keys = Seq("user_id"), timeCol = "ts",
        valueCols = Seq("r_event_id", "r_value"))
        .select("event_id", "r_event_id", "r_value")
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
      assert(batch === got)
    } finally q.stop()
  }

  test("stateless curation ops (splits, weighted sampling) run unchanged on streams") {
    // the point under test: the hash-bucket curation family is pure
    // map-only column logic, so the SAME functions drive batch and
    // streaming — no separate streaming implementation to drift
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.sampling.Sampling
    val rows = (1L to 200L).map(i => (i, if (i % 2 == 0) "en" else "de"))
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val rates = Map("en" -> 0.8)
    def curate(df: org.apache.spark.sql.DataFrame) =
      Sampling.sampleByHashWeighted(
        Sampling.assignSplits(df, "doc_id", splits, salt = 3),
        keyCol = "doc_id", groupCol = "lang", rates = rates,
        defaultRate = 0.5, salt = 2)

    val input = MemoryStream[(Long, String)]
    input.addData(rows: _*)
    val q = curate(input.toDF().toDF("doc_id", "lang"))
      .writeStream.format("memory").queryName("curation")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val got = spark.table("curation").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      val exp = curate(rows.toDF("doc_id", "lang")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(got === exp)
      assert(got.nonEmpty && got.size < rows.size, "sampling must drop some rows")
    } finally q.stop()
  }

  test("multimodal feature extraction runs unchanged on streams (map-only face)") {
    // extractFeatures is a stateless mapPartitions — the same function
    // drives the batch oracle query and a streaming asset feed
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.multimodal.Multimodal
    val rows = (0L until 10L).map(i =>
      (i, if (i % 2 == 0) "text" else "video", s"payload body $i with bytes".getBytes("UTF-8")))
    def canon(ds: org.apache.spark.sql.Dataset[Multimodal.AssetFeatures]) =
      ds.collect().map(f =>
        (f.asset_id, f.modality, f.n_bytes, f.features.toSeq, f.decoded)).toSet
    val input = MemoryStream[(Long, String, Array[Byte])]
    input.addData(rows: _*)
    val q = Multimodal.extractFeatures(
        input.toDF().toDF("asset_id", "modality", "payload"))
      .writeStream.format("memory").queryName("mmfeat")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val got = canon(spark.table("mmfeat").as[Multimodal.AssetFeatures])
      val exp = canon(Multimodal.extractFeatures(
        rows.toDF("asset_id", "modality", "payload")))
      assert(got === exp)
      assert(got.size === 10)
      // undecodable payloads rode the stub path, not an exception
      assert(got.forall(!_._5))
    } finally q.stop()
  }

  test("frozen BPE tokenization runs unchanged on streams (stateless fold face)") {
    // applyLearned is a chain of per-row array folds — the same frozen
    // merge table tokenizes a streaming document feed identically to
    // the batch face (the shipped-tokenizer deployment shape)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val corpus = Seq((1L, "a b c a b"), (2L, "a a a a"), (3L, "x y a b"))
    val (merges, _) = graft.text.Bpe.train(corpus.toDF("doc_id", "text"), rounds = 2)
    def collectT(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val input = MemoryStream[(Long, String)]
    input.addData(corpus: _*)
    val q = graft.text.Bpe.applyLearned(
        input.toDF().toDF("doc_id", "text"), merges)
      .writeStream.format("memory").queryName("bpe_frozen")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val got = collectT(spark.table("bpe_frozen"))
      val exp = collectT(graft.text.Bpe.applyLearned(
        corpus.toDF("doc_id", "text"), merges))
      assert(got === exp)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("int8 quantization runs unchanged on streams (stateless map-only face)") {
    // quantizeInt8 is pure per-row column logic — the same function
    // drives the batch oracle query and a streaming embedding feed
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = (0L until 50L).map(i =>
      (i, Seq.tabulate(8)(d => ((i * 7 + d * 3) % 13 - 6).toFloat / 4f)))
    def collectQ(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Int](2))).toSet

    val input = MemoryStream[(Long, Seq[Float])]
    input.addData(rows: _*)
    val q = graft.similarity.Similarity.quantizeInt8(
        input.toDF().toDF("vec_id", "embedding"))
      .writeStream.format("memory").queryName("quant")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val got = collectQ(spark.table("quant"))
      val exp = collectQ(graft.similarity.Similarity.quantizeInt8(
        rows.toDF("vec_id", "embedding")))
      assert(got === exp)
      assert(got.size === 50)
    } finally q.stop()
  }

  test("linear inference runs unchanged on streams (stateless map-only face)") {
    // linearClassify is a pure projection — the same function drives
    // the batch oracle query and a streaming embedding feed
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = (0L until 40L).map(i =>
      (i, Seq.tabulate(6)(d => ((i * 11 + d * 5) % 17 - 8).toFloat / 3f)))
    def collectC(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val input = MemoryStream[(Long, Seq[Float])]
    input.addData(rows: _*)
    val q = graft.ml.Inference.linearClassify(
        input.toDF().toDF("vec_id", "embedding"), nClasses = 4)
      .writeStream.format("memory").queryName("infer_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val got = collectC(spark.table("infer_stream"))
      val exp = collectC(graft.ml.Inference.linearClassify(
        rows.toDF("vec_id", "embedding"), nClasses = 4))
      assert(got === exp)
      assert(got.size === 40)
    } finally q.stop()
  }

  test("the native frequent-items aggregate runs in a streaming aggregation") {
    // TypedImperativeAggregate buffers must serialize across streaming
    // state-store boundaries (the percentile_approx protocol) — this
    // proves FreqItemsAgg streams: windowed heavy hitters over an
    // event-type stream, complete-mode parity with the batch sketch
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val events = (1 to 40).map(i => Event(i.toLong, ts(i % 50),
      i.toLong % 5, if (i % 4 == 0) "rare" + i else "click", 1.0))
    input.addData(events: _*)

    val q = input.toDF()
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), "1 hour"))
      .agg(graft.expressions.FreqItemsAgg(col("event_type"), 64).as("items"))
      .select(explode(col("items")).as("f"))
      .select(col("f.item"), col("f.estimate"))
      .writeStream.format("memory").queryName("freq_stream")
      .outputMode(OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      val got = spark.table("freq_stream").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // "click" (30 occurrences) dominates; its estimate is exact here
      // (one window, no evictions at map size 64 with <=11 distinct)
      assert(got("click") === 30L)
      assert(got.keySet.contains("click"))
    } finally q.stop()
  }

  test("streaming incremental dedup: foreachBatch accepts only never-seen docs") {
    // the daily-drop loop as a stream: each micro-batch dedups against
    // itself AND the accumulated accepted-hash history (foreachBatch is
    // the right sink for cross-batch state that lives in a table, not
    // in operator state) — batch 2 must reject batch 1's re-deliveries
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String)]
    var history = spark.emptyDataset[(Long, Long)].toDF("doc_id", "canon_hash")
      .select(col("canon_hash"))
    val accepted = scala.collection.mutable.ArrayBuffer[Long]()

    val q = input.toDF().toDF("doc_id", "text")
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val result = graft.dedup.Dedup.exactIncremental(batch, history)
          .where(col("is_kept")).select(col("doc_id"), col("canon_hash"))
          .collect()
        accepted ++= result.map(_.getLong(0))
        history = history.unionByName(
          result.map(_.getLong(1)).toSeq.toDF("canon_hash")).distinct()
        ()
      }.start()
    try {
      input.addData(1L -> "alpha text", 2L -> "beta text", 3L -> "alpha  text")
      q.processAllAvailable() // batch 1: 3 is a canon-dup of 1
      input.addData(10L -> "alpha text", 11L -> "gamma text", 12L -> "gamma text")
      q.processAllAvailable() // batch 2: 10 seen historically, 12 batch-dup
      assert(accepted.toSet === Set(1L, 2L, 11L))
    } finally q.stop()
  }

  test("streaming incremental novelty: foreachBatch history fold == batch scores") {
    // the crawl-drop loop as a stream: each micro-batch scores against
    // the accumulated first-seen table, then merges its own first
    // occurrences in — the concatenated per-batch scores must equal
    // the batch noveltyScores over the whole corpus (min over the
    // union is least of the mins, which is what makes this exact)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val corpus = Seq(
      1L -> "a b c d e f", 2L -> "a b c d e f", 3L -> "a b c x y z",
      10L -> "a b c d e f", 11L -> "p q r s t u", 12L -> "x y z p q")
    val input = MemoryStream[(Long, String)]
    var history = Seq.empty[(Long, Long)].toDF("h", "first_doc")
    val scored = scala.collection.mutable.Map[Long, (Long, Long)]()
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.text.TextAnalysis.noveltyIncremental(batch, history)
          .collect().foreach(r =>
            scored(r.getLong(0)) = (r.getLong(1), r.getLong(2)))
        history = history
          .unionByName(graft.text.TextAnalysis.firstSeenShingles(batch))
          .groupBy("h").agg(org.apache.spark.sql.functions.min("first_doc")
            .as("first_doc"))
          .localCheckpoint()
        ()
      }.start()
    try {
      input.addData(corpus.take(3): _*)
      q.processAllAvailable()
      input.addData(corpus.drop(3): _*)
      q.processAllAvailable()
    } finally q.stop()
    val full = graft.text.TextAnalysis
      .noveltyScores(corpus.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(scored.toMap === full)
  }

  test("batch sessionize splits on gap > 30min, aggregates per session") {
    import spark.implicits._
    val df = Seq(
      (1L, ts(0), 7L, "c", 1.0), (2L, ts(10), 7L, "c", 2.0),
      (3L, ts(50), 7L, "c", 4.0),
      (4L, ts(0), 8L, "v", 8.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Events.sessionizeBatch(df, gapMinutes = 30)
      .select("user_id", "session_seq", "n_events", "sum_value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(out === Set((7L, 1L, 2L, 3.0), (7L, 2L, 1L, 4.0), (8L, 1L, 1L, 8.0)))
  }

  test("streamingSessionizeTws (transformWithState) matches the fMGWS face") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // transformWithState requires the RocksDB state store provider
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[Event]
    val q = Events.streamingSessionizeTws(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions_tws")
      .outputMode(OutputMode.Append()).start()
    try {
      // same drive as the flatMapGroupsWithState case: a 2-event
      // session, a 40-min gap, then far-future rows to advance the
      // watermark past both horizons (timers fire a batch later)
      input.addData(Event(1, ts(0), 7, "click", 1.0), Event(2, ts(5), 7, "click", 2.0))
      q.processAllAvailable()
      input.addData(Event(3, ts(45), 7, "click", 4.0))
      q.processAllAvailable()
      input.addData(Event(4, Timestamp.valueOf("2024-01-01 12:00:00"), 8, "view", 0.5))
      q.processAllAvailable()
      input.addData(Event(5, Timestamp.valueOf("2024-01-01 13:00:00"), 9, "view", 0.5))
      q.processAllAvailable()
      val got = spark.table("sessions_tws")
        .select("user_id", "session_start", "session_end", "n_events", "sum_value")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
          r.getLong(3), r.getDouble(4))).toSet
      assert(got.contains((7L, ts(0), ts(5), 2L, 3.0)), s"first session: $got")
      assert(got.contains((7L, ts(45), ts(45), 1L, 4.0)), s"second session: $got")
      assert(got.contains((8L, Timestamp.valueOf("2024-01-01 12:00:00"),
        Timestamp.valueOf("2024-01-01 12:00:00"), 1L, 0.5)), s"user-8 session: $got")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streamingSessionizeTws state survives a checkpointed restart") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = tempDir("tws_ckpt").toString
    val input = MemoryStream[Event]
    // memory sink cannot recover from a checkpoint; foreachBatch can
    val sunk = scala.collection.mutable.ArrayBuffer[(Long, Timestamp, Timestamp, Long, Double)]()
    def start() = Events.streamingSessionizeTws(input.toDS(), gapMinutes = 30)
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Events.Session], _: Long) =>
        val rows = batch.collect()
          .map(x => (x.user_id, x.session_start, x.session_end, x.n_events, x.sum_value))
        sunk.synchronized { sunk ++= rows }
        ()
      }
      .start()
    val q1 = start()
    try {
      // open a session, then KILL the query with the session unflushed
      input.addData(Event(1, ts(0), 7, "click", 1.0), Event(2, ts(5), 7, "click", 2.0))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart from the same checkpoint: the open session (and its
    // timer) must come back from RocksDB, extend with in-gap data, and
    // flush as ONE session when the watermark passes
    val q2 = start()
    try {
      input.addData(Event(3, ts(20), 7, "click", 4.0)) // in-gap: extends
      q2.processAllAvailable()
      input.addData(Event(4, Timestamp.valueOf("2024-01-01 13:00:00"), 8, "view", 0.5))
      q2.processAllAvailable()
      input.addData(Event(5, Timestamp.valueOf("2024-01-01 14:00:00"), 9, "view", 0.5))
      q2.processAllAvailable()
      val got = sunk.synchronized {
        sunk.filter(_._1 == 7L).map(x => (x._2, x._3, x._4, x._5)).toSeq
      }
      assert(got === Seq((ts(0), ts(20), 3L, 7.0)),
        s"restart must resume the open session, not fragment it: $got")
    } finally {
      q2.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("trending: streamingTumblingCounts + foreachBatch rank == batch face") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = Seq(
      Event(1, ts(0), 1, "click", 0), Event(2, ts(1), 2, "click", 0),
      Event(3, ts(2), 3, "click", 0), Event(4, ts(3), 1, "view", 0),
      Event(5, ts(4), 2, "view", 0), Event(6, ts(5), 1, "buy", 0),
      Event(7, ts(6), 1, "refund", 0))
    val input = MemoryStream[Event]
    input.addData(rows: _*)
    // the documented streaming composition: windowed counts stream;
    // the rank (top-3 per window) applies per sink batch in
    // foreachBatch, where windows-over-aggregates ARE allowed
    val sink = scala.collection.mutable.Set[(Long, String, Long, Long)]()
    val q = Events.streamingTumblingCounts(input.toDF(), width = "1 hour")
      .writeStream.outputMode(OutputMode.Complete())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("window_start"))
          .orderBy(col("n_events").desc, col("event_type"))
        sink.synchronized {
          sink.clear()
          sink ++= batch
            .withColumn("rank", row_number().over(w).cast("long"))
            .where(col("rank") <= 3)
            .select(col("window_start").cast("long").as("window_start_s"),
              col("event_type"), col("n_events"), col("rank"))
            .collect()
            .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      val exp = Events.trendingTopK(rows.toDF(), width = "1 hour", k = 3)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(sink.synchronized(sink.toSet) === exp)
      assert(exp.size === 3, s"fixture must rank exactly 3 of 4 types: $exp")
    } finally q.stop()
  }

  test("streamingBloomDedup: no duplicate ever emitted, cross-batch, bounded state") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[Event]
    val q = Events.streamingBloomDedup(input.toDS(), nBuckets = 8)
      .writeStream.format("memory").queryName("bloom_dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: ids 1..40 with 3 intra-batch duplicates
      input.addData((1L to 40L).map(i => Event(i, ts(0), i, "c", 1.0)) ++
        Seq(Event(5, ts(1), 99, "dup", 9.0), Event(6, ts(1), 99, "dup", 9.0),
          Event(7, ts(1), 99, "dup", 9.0)): _*)
      q.processAllAvailable()
      // batch 2: cross-batch replays of 1..10 (must ALL drop — no
      // watermark horizon protects them; this is the forever contract)
      // plus novel ids 41..60
      input.addData((1L to 10L).map(i => Event(i, ts(2), 98, "replay", 2.0)) ++
        (41L to 60L).map(i => Event(i, ts(2), i, "c", 1.0)): _*)
      q.processAllAvailable()
      val got = spark.table("bloom_dedup")
        .select("event_id", "event_type").as[(Long, String)].collect()
      assert(got.map(_._1).distinct.length === got.length,
        s"duplicate event_id emitted: ${got.toSeq.sorted}")
      assert(!got.exists(_._2 == "replay"), "cross-batch duplicate leaked")
      assert(!got.exists(_._2 == "dup"), "intra-batch duplicate leaked")
      // at 8 buckets × 256 words the filter is far under capacity for
      // 60 keys: every novel id must have survived (no false drops)
      assert(got.map(_._1).toSet === (1L to 60L).toSet,
        s"novel ids falsely dropped: ${(1L to 60L).toSet -- got.map(_._1).toSet}")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streamingBloomDedup: an over-capacity filter loses novelty, never emits dups") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[Event]
    // ONE bucket of ONE 63-bit word: 500 keys × 4 probes cannot fit —
    // false drops are arithmetically guaranteed, duplicates still never
    // pass. This is the documented degradation mode, pinned.
    val q = Events.streamingBloomDedup(input.toDS(), nBuckets = 1, nWords = 1)
      .writeStream.format("memory").queryName("bloom_dedup_tiny")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L to 500L).map(i => Event(i, ts(0), i, "c", 1.0)): _*)
      q.processAllAvailable()
      input.addData((1L to 500L).map(i => Event(i, ts(1), i, "r", 1.0)): _*)
      q.processAllAvailable()
      val got = spark.table("bloom_dedup_tiny")
        .select("event_id", "event_type").as[(Long, String)].collect()
      assert(got.map(_._1).distinct.length === got.length, "duplicate emitted")
      assert(!got.exists(_._2 == "r"), "replayed key emitted")
      val kept = got.length
      assert(kept < 500 && kept > 0,
        s"1-word filter must drop some of 500 novel keys and keep some early ones, kept $kept")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }
}
