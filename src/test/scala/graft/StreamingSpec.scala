package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Streams

/** Streaming surface: the windowed aggregation runs as a REAL stream
  * (parquet source → watermark → memory sink) and matches its own
  * batch execution; the stateful sessionizer matches the declarative
  * window-function sessionizer. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def normalizedEvents(sf: String) =
    Tables.eventsWithTs(spark, sf)
      .select($"event_id", $"event_ts", $"user_id", $"event_type", $"value")

  test("windowed counts: streaming run equals batch run") {
    val dir = Files.createTempDirectory("graft_stream").toString
    val batchIn = normalizedEvents("/root/testdata/sf0.001")
    batchIn.write.mode("overwrite").parquet(dir)

    val q = Streams.windowedEventCounts(Streams.eventsStream(spark, dir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("win_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = spark.table("win_out")
      .orderBy("window_start", "event_type")
      .as[(java.sql.Timestamp, String, Long, Double)].collect()
    val batch = Streams.windowedEventCounts(batchIn)
      .orderBy("window_start", "event_type")
      .as[(java.sql.Timestamp, String, Long, Double)].collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("stream-stream interval join: two watermarked sides, streaming equals batch") {
    val dir = Files.createTempDirectory("graft_ssj").toString
    val batchIn = normalizedEvents("/root/testdata/sf0.001")
    batchIn.write.mode("overwrite").parquet(dir)

    // two streams carved from one file source — a genuine two-sided
    // streaming join (each side gets its own watermark and state store)
    val src = Streams.eventsStream(spark, dir)
    val q = Streams.intervalJoin(
      src.filter($"event_type" === "click"),
      src.filter($"event_type" === "purchase"),
      windowMinutes = 120)
      .writeStream.outputMode("append")
      .format("memory").queryName("ssj_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("purchase_id", "click_id")
        .as[(Long, Long, Long, Long)].collect().toSeq
    val streamed = rows(spark.table("ssj_out"))
    val batch = rows(Streams.intervalJoin(
      batchIn.filter($"event_type" === "click"),
      batchIn.filter($"event_type" === "purchase"),
      windowMinutes = 120))
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("stream-static join and watermarked dedup run as a real stream") {
    val dir = Files.createTempDirectory("graft_stream2").toString
    val batchIn = normalizedEvents("/root/testdata/sf0.001")
    // duplicate every event to give the dedup something to drop
    batchIn.union(batchIn).write.mode("overwrite").parquet(dir)
    val dim = Seq(("click", 1.0), ("view", 0.1), ("purchase", 10.0))
      .toDF("t", "weight")

    val stream = Streams.enrichWithDim(
      Streams.dedupEvents(Streams.eventsStream(spark, dir)),
      dim, "event_type", "t")
      .groupBy($"weight").agg(count(lit(1)).as("n"))
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("enriched_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = spark.table("enriched_out")
      .orderBy("weight").as[(Double, Long)].collect()
    val batch = Streams.enrichWithDim(
      Streams.dedupEvents(batchIn.union(batchIn)), dim, "event_type", "t")
      .groupBy($"weight").agg(count(lit(1)).as("n"))
      .orderBy("weight").as[(Double, Long)].collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
    // dedup actually dropped the duplicates
    val total = streamed.map(_._2).sum
    val distinctIds = batchIn.filter($"event_type".isin("click", "view", "purchase"))
      .select($"event_id").distinct().count()
    assert(total == distinctIds)
  }

  test("streaming sessionizer: sessions emit on gap break and on event-time timeout") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    val events = mem.toDF.toDF("event_id", "user_id", "event_ts", "value")
    val q = Streams.sessionizeStream(events, gapMinutes = 30, watermark = "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("sess_stream").start()
    try {
      // batch 1: user 1 — two events 10 min apart (one open session),
      // then an event 110 min later → gap break closes session 1 inside
      // the batch and opens session 2
      mem.addData(
        (1L, 1L, t("2024-01-01 10:00:00"), 1.0),
        (2L, 1L, t("2024-01-01 10:10:00"), 1.0),
        (3L, 1L, t("2024-01-01 12:00:00"), 1.0))
      q.processAllAvailable()
      // batch 2 advances the watermark to 19:50 (> 12:30 timeout of the
      // open session) — but timeouts evaluate against the PREVIOUS
      // batch's watermark, so a third batch makes it observable
      mem.addData((4L, 1L, t("2024-01-01 20:00:00"), 1.0))
      q.processAllAvailable()
      mem.addData((5L, 2L, t("2024-01-01 23:00:00"), 1.0))
      q.processAllAvailable()
      val got = spark.table("sess_stream")
        .select($"user_id", $"session_no", $"startMicros", $"endMicros", $"n_events")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val m = (s: String) => t(s).getTime * 1000L
      // session 1 closed by the in-batch gap break; session 2 (12:00)
      // timed out once the watermark passed 12:30; session 3 (20:00)
      // timed out via the no-data batch Spark runs when batch 3's
      // watermark advance (22:50) passed 20:30. User 2's open session
      // (23:00, timeout 23:30 > watermark) is correctly NOT emitted.
      assert(got == Set(
        (1L, 1L, m("2024-01-01 10:00:00"), m("2024-01-01 10:10:00"), 2L),
        (1L, 2L, m("2024-01-01 12:00:00"), m("2024-01-01 12:00:00"), 1L),
        (1L, 3L, m("2024-01-01 20:00:00"), m("2024-01-01 20:00:00"), 1L)),
        s"got $got")
    } finally q.stop()
  }

  // the streaming sinks are the library's continuous writers — on the
  // reference's own object-store substrate they need the manifest
  // store's put-if-absent commit, so every differential below runs
  // under BOTH table stores
  private val sinkStores: Seq[(String, graft.ext.TableStore)] =
    Seq(("swap", graft.ext.SwapStore),
        ("manifest", graft.ext.ManifestStore))

  for ((storeName, store) <- sinkStores)
  test(s"streaming sessions land in a gold table [$storeName] via foreachBatch upsert and re-read") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val base = java.nio.file.Files.createTempDirectory(s"graft_sess_gold_$storeName").toString
    val mem = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    val events = mem.toDF.toDF("event_id", "user_id", "event_ts", "value")
    val q = Streams.sessionsToGold(
      Streams.sessionizeStream(events, gapMinutes = 30, watermark = "10 minutes"),
      s"$base/gold/sessions", s"$base/ckpt", store)
    try {
      mem.addData(
        (1L, 1L, t("2024-01-01 10:00:00"), 1.0),
        (2L, 1L, t("2024-01-01 10:10:00"), 1.0),
        (3L, 1L, t("2024-01-01 12:00:00"), 1.0))
      q.processAllAvailable()
      mem.addData((4L, 1L, t("2024-01-01 20:00:00"), 1.0))
      q.processAllAvailable()
      // the sink table is plain parquet (direct or manifest-resolved):
      // re-read it cold through the store
      val gold = store.readLive(spark, s"$base/gold/sessions")
        .select($"user_id", $"session_no", $"n_events")
        .as[(Long, Long, Long)].collect().toSet
      assert(gold.contains((1L, 1L, 2L)), s"expected closed session 1 in gold, got $gold")
      // upsert keyed on (user_id, startMicros): no duplicate sessions
      val keys = store.readLive(spark, s"$base/gold/sessions")
        .select($"user_id", $"startMicros").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(keys.length == keys.distinct.length)
    } finally q.stop()
  }

  test("streaming sessionizer: single-user batch flood stays correct (primitive-sort path)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    // 50k events for ONE user in ONE batch, adversarially interleaved
    // (reverse-ordered pairs), 10s apart → one giant session; a second
    // user far in the future advances the watermark to flush it
    val flood = (0 until 50000).map { i =>
      val j = if (i % 2 == 0) i + 1 else i - 1 // within-batch disorder
      (j.toLong, 1L, new java.sql.Timestamp(base + j * 10000L), 1.0)
    }
    val mem = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    val events = mem.toDF.toDF("event_id", "user_id", "event_ts", "value")
    val q = Streams.sessionizeStream(events, gapMinutes = 30, watermark = "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("sess_flood").start()
    try {
      mem.addData(flood)
      q.processAllAvailable()
      mem.addData((999999L, 2L, new java.sql.Timestamp(base + 10L * 24 * 3600 * 1000), 1.0))
      q.processAllAvailable()
      val got = spark.table("sess_flood").filter($"user_id" === 1L)
        .select($"session_no", $"startMicros", $"endMicros", $"n_events")
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(got == Seq((1L, base * 1000L, (base + 49999L * 10000L) * 1000L, 50000L)),
        s"got $got")
    } finally q.stop()
  }

  test("streaming decontamination gate equals batch decontaminate; stays stateless") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // eval suite: two 8-token probes; corpus docs 2 and 4 embed one
    val probe1 = "alpha beta gamma delta epsilon zeta eta theta"
    val probe2 = "one two three four five six seven eight"
    val bench = Seq((100L, probe1), (101L, probe2)).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "clean text with nothing shared at all here truly"),
      (2L, s"prefix words then $probe1 and a suffix"),
      (3L, "short doc"), // under k tokens: no windows, must pass
      (4L, s"$probe2 leaked right at the start of this document"),
      (5L, "another clean document that talks about something else entirely"))
    val batch = docs.toDF("doc_id", "text")
    val expected = graft.ext.Dedup.decontaminate(batch, bench, "text", "doc_id")
      .select($"doc_id").as[Long].collect().sorted
    val mem = MemoryStream[(Long, String)]
    val gated = Streams.decontaminateStream(
      mem.toDF.toDF("doc_id", "text"), bench, "text", "doc_id")
    // stateless contract: the gate must not introduce a state store
    // (works in append mode with no watermark)
    val q = gated.writeStream.outputMode("append").format("memory")
      .queryName("decon_stream").start()
    try {
      mem.addData(docs.take(2): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(2): _*)
      q.processAllAvailable()
      val got = spark.table("decon_stream").select($"doc_id").as[Long].collect().sorted
      assert(got.toSeq == expected.toSeq && got.toSeq == Seq(1L, 3L, 5L))
    } finally q.stop()
  }

  test("decontamination gate Bloom regime: same verdicts, bounded plan (no literal hash array)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val probe1 = "alpha beta gamma delta epsilon zeta eta theta"
    val probe2 = "one two three four five six seven eight"
    val bench = Seq((100L, probe1), (101L, probe2)).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "clean text with nothing shared at all here truly"),
      (2L, s"prefix words then $probe1 and a suffix"),
      (3L, "short doc"),
      (4L, s"$probe2 leaked right at the start of this document"),
      (5L, "another clean document that talks about something else entirely"))
    // maxExactWindows = 0 forces the Bloom regime on the same fixture;
    // at fpp 1e-8 the (deterministic) filter has no false positive on
    // these windows, so the verdicts must be IDENTICAL to the exact
    // regime — the Bloom guarantee (no false negatives) plus measured
    // absence of false positives here
    val batchGate = Streams.decontaminateStream(
      docs.toDF("doc_id", "text"), bench, "text", "doc_id",
      maxExactWindows = 0, bloomFpp = 1e-8)
    assert(batchGate.select($"doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L, 5L))
    // the plan must carry the Bloom binary, not a typedlit of every
    // window hash: no array literal of the eval set in the tree
    val plan = batchGate.queryExecution.analyzed.toString
    assert(plan.contains("might_contain"), s"expected a Bloom gate in:\n$plan")
    assert(!plan.contains("arrays_overlap"), "Bloom regime must not inline the hash array")
    // and the stream form still runs stateless end-to-end
    val mem = MemoryStream[(Long, String)]
    val gated = Streams.decontaminateStream(
      mem.toDF.toDF("doc_id", "text"), bench, "text", "doc_id",
      maxExactWindows = 0, bloomFpp = 1e-8)
    val q = gated.writeStream.outputMode("append").format("memory")
      .queryName("decon_stream_bloom").start()
    try {
      mem.addData(docs: _*)
      q.processAllAvailable()
      val got = spark.table("decon_stream_bloom").select($"doc_id").as[Long].collect().sorted
      assert(got.toSeq == Seq(1L, 3L, 5L))
    } finally q.stop()
  }

  test("near-dup LSH gate: streaming run equals batch; exact dup refused, clean passes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val histText = "the quick brown fox jumps over the lazy dog again and again"
    val history = Seq((1L, histText),
      (2L, "entirely different historical content about databases and queries"))
      .toDF("doc_id", "text")
    val index = graft.ext.Dedup.lshBandIndex(history, "text", "doc_id")
    val incoming = Seq(
      (10L, histText), // exact dup of history: identical signature, refused
      (11L, "fresh unseen document with completely novel words throughout today"),
      (12L, "entirely different historical content about databases and queries"))
    val batch = incoming.toDF("doc_id", "text")
    val expected = graft.ext.Dedup.nearDupGate(batch, index, "text", "doc_id")
      .select($"doc_id").as[Long].collect().sorted
    assert(expected.toSeq == Seq(11L))
    val mem = MemoryStream[(Long, String)]
    val gated = graft.ext.Dedup.nearDupGate(
      mem.toDF.toDF("doc_id", "text"), index, "text", "doc_id")
    // stateless contract: append mode, no watermark, no state store —
    // the membership check is nBands stream-static left joins
    val q = gated.writeStream.outputMode("append").format("memory")
      .queryName("neardup_stream").start()
    try {
      mem.addData(incoming.take(1): _*)
      q.processAllAvailable()
      mem.addData(incoming.drop(1): _*)
      q.processAllAvailable()
      val got = spark.table("neardup_stream").select($"doc_id").as[Long]
        .collect().sorted
      assert(got.toSeq == expected.toSeq)
    } finally q.stop()
  }

  for ((storeName, store) <- sinkStores)
  test(s"streaming CDC [$storeName]: per-batch change log partitions + exact table; replay overwrites its own log") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory(s"graft_cdc_$storeName").toString
    val mem = MemoryStream[(Long, String)]
    val q = Streams.upsertsToGoldCdc(mem.toDF.toDF("id", "v"),
      s"$base/gold", s"$base/cdf", Seq("id"), s"$base/ckpt", store)
    try {
      mem.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      mem.addData((2L, "B"), (3L, "c"))
      q.processAllAvailable()
      // table = the merge of both batches
      val gold = store.readLive(spark, s"$base/gold").orderBy("id")
        .as[(Long, String)].collect()
      assert(gold.toSeq == Seq((1L, "a"), (2L, "B"), (3L, "c")))
      // log: batch 0 bootstrap inserts; batch 1 insert + pre/post pair
      val log = spark.read.parquet(s"$base/cdf")
        .select($"batch_id".cast("long"), $"id", $"v", $"_change_type")
        .orderBy("batch_id", "id", "_change_type")
        .as[(Long, Long, String, String)].collect()
      assert(log.toSeq == Seq(
        (0L, 1L, "a", "insert"),
        (0L, 2L, "b", "insert"),
        (1L, 2L, "B", "update_postimage"),
        (1L, 2L, "b", "update_preimage"),
        (1L, 3L, "c", "insert")))
      // the replay mechanics: a re-delivered batch rewrites ITS OWN
      // log partition (dynamic overwrite), never duplicates into it
      Seq((1L, "a", "insert", 0L), (2L, "b", "insert", 0L))
        .toDF("id", "v", "_change_type", "batch_id")
        .write.partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(s"$base/cdf")
      assert(spark.read.parquet(s"$base/cdf").count() == 5,
        "replayed batch-0 write must replace partition batch_id=0, not append or wipe others")
    } finally q.stop()
  }

  for ((storeName, store) <- sinkStores)
  test(s"streaming MV [$storeName]: batches fold into the aggregate view; equals direct aggregation") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory(s"graft_mv_$storeName").toString
    val mem = MemoryStream[(Long, Double)]
    val q = Streams.aggregateToGold(mem.toDF.toDF("k", "x"),
      s"$base/view", Seq("k"), "n", Seq("x"), s"$base/ckpt", store)
    try {
      mem.addData((1L, 10.0), (1L, 20.0), (2L, 5.0))
      q.processAllAvailable()
      mem.addData((2L, 7.0), (3L, 1.0))
      q.processAllAvailable()
      val got = store.readLive(spark, s"$base/view").orderBy("k")
        .as[(Long, Long, Double)].collect()
      assert(got.toSeq == Seq((1L, 2L, 30.0), (2L, 2L, 12.0), (3L, 1L, 1.0)))
    } finally q.stop()
    // crash window: a bootstrap that died mid-write must not be read
    // as the view by the next stream. Each store's residue differs:
    // swap leaves the staged tmp dir; the manifest store leaves an
    // orphaned uncommitted data dir (no manifest references it)
    val base2 = Files.createTempDirectory(s"graft_mv2_$storeName").toString
    val wreck = store match {
      case graft.ext.SwapStore => s"$base2/view__upsert_tmp"
      case _                   => s"$base2/view/v00000000_data"
    }
    Files.createDirectories(java.nio.file.Paths.get(wreck))
    Files.writeString(java.nio.file.Paths.get(s"$wreck/garbage"), "partial")
    val mem2 = MemoryStream[(Long, Double)]
    val q2 = Streams.aggregateToGold(mem2.toDF.toDF("k", "x"),
      s"$base2/view", Seq("k"), "n", Seq("x"), s"$base2/ckpt", store)
    try {
      mem2.addData((7L, 3.0))
      q2.processAllAvailable()
      val got2 = store.readLive(spark, s"$base2/view").as[(Long, Long, Double)].collect()
      assert(got2.toSeq == Seq((7L, 1L, 3.0)))
    } finally q2.stop()
  }

  test("stateful sessionizer equals declarative gap sessionizer") {
    val ev = normalizedEvents("/root/testdata/sf0.001")
    val typed = ev.select($"event_id", $"user_id",
      unix_micros($"event_ts").as("tsMicros"), $"value")
      .as[Streams.SessionEvent]
    implicit val s = spark
    val stateful = Streams.sessionizeStateful(typed, 30)
      .select($"user_id", $"session_no", $"startMicros", $"endMicros", $"n_events")
      .orderBy("user_id", "session_no")
      .as[(Long, Long, Long, Long, Long)].collect()
    val declarative = Streams.sessionsByGap(ev, 30)
      .select($"user_id", $"session_no",
        unix_micros($"session_start"), unix_micros($"session_end"), $"n_events")
      .orderBy("user_id", "session_no")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(stateful.nonEmpty)
    assert(stateful.toSeq == declarative.toSeq)
  }

  test("versioned streaming source over a PARTITIONED chain: batches carry real partition values, not nulls") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    val dir = Files.createTempDirectory("graft_vstream_part").toString + "/t"
    Versioned.writeVersion(
      Seq((1L, "a"), (2L, "b")).toDF("id", "status"), dir, partCols = Seq("status"))
    val ckpt = Files.createTempDirectory("graft_vstream_part_ckpt").toString
    val outDir = Files.createTempDirectory("graft_vstream_part_out").toString + "/out"
    def runCk() = {
      val q = spark.readStream.format("graft.sql.VersionedStreamProvider")
        .option("path", dir).load()
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    def sunk() = spark.read.parquet(outDir).select("id", "status")
      .as[(Long, Option[String])].collect().toSet
    // snapshot batch: partition values present
    runCk()
    assert(sunk() == Set((1L, Some("a")), (2L, Some("b"))), sunk().toString)
    // APPEND batch: the incremental path must re-attach partition
    // values too (files don't hold the column — a plain schema'd read
    // would stream it as null)
    Versioned.writeVersion(
      Seq((3L, "c")).toDF("id", "status"), dir, SaveMode.Append, Seq("status"))
    runCk()
    assert(sunk() == Set((1L, Some("a")), (2L, Some("b")), (3L, Some("c"))),
      sunk().toString)
  }

  test("versioned streaming sink: exactly-once commits; replayed epoch skipped; versioned-to-versioned round trip") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    val src = Files.createTempDirectory("graft_vsink_src").toString + "/t"
    val dst = Files.createTempDirectory("graft_vsink_dst").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_vsink_ckpt").toString
    Versioned.writeVersion(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), src)
    def run() = {
      val q = spark.readStream.format("graft.sql.VersionedStreamProvider")
        .option("path", src).load()
        .writeStream.format("graft.sql.VersionedStreamProvider")
        .option("path", dst).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    def sunk() = Versioned.readLatest(spark, dst).as[(Long, String)].collect().toSeq
    // round trip: versioned source → versioned sink, both manifest-committed
    run()
    assert(sunk().toSet == Set((1L, "a"), (2L, "b")))
    // the manifest carries the (appId, batchId) watermark — appId
    // defaults to the checkpointLocation option string
    assert(Versioned.lastCommittedBatch(spark, dst, ckpt).contains(0L))
    // appends flow incrementally
    Versioned.writeVersion(Seq((3L, "c")).toDF("id", "v"), src, SaveMode.Append)
    run()
    assert(sunk().toSet == Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(Versioned.lastCommittedBatch(spark, dst, ckpt).contains(1L))
    val vAfter = Versioned.latestVersion(spark, dst).get
    // crash window: the engine wrote the sink commit but died before
    // recording its own commits/<n> marker — on restart it RE-DELIVERS
    // that epoch. Simulate by removing the newest commit marker; the
    // sink must detect the replay from the manifest and skip it
    // (without the txn guard this duplicates every row of the batch).
    val commitsDir = new java.io.File(s"$ckpt/commits")
    val newest = commitsDir.listFiles().filter(_.getName.forall(_.isDigit))
      .maxBy(_.getName.toInt)
    assert(newest.delete())
    // the local filesystem keeps a checksum sibling; leaving it would
    // fail the engine's own re-commit rename, which is not the crash
    // being simulated
    new java.io.File(commitsDir, s".${newest.getName}.crc").delete()
    run()
    assert(sunk().toSet == Set((1L, "a"), (2L, "b"), (3L, "c")),
      s"replayed epoch duplicated rows: ${sunk()}")
    assert(sunk().size == 3, s"replayed epoch duplicated rows: ${sunk()}")
    assert(Versioned.latestVersion(spark, dst).contains(vAfter),
      "a skipped replay must not commit a version")
    // a NORMAL append between stream batches carries the watermark
    // forward (other writers don't erase the stream's txn line)
    Versioned.writeVersion(Seq((50L, "x")).toDF("id", "v"), dst, SaveMode.Append)
    assert(Versioned.lastCommittedBatch(spark, dst, ckpt).contains(1L))
    // direct API: batchId monotonicity — an old epoch is refused even
    // after unrelated commits, a new one lands
    assert(Versioned.writeVersionStreamBatch(
      Seq((60L, "y")).toDF("id", "v"), dst, ckpt, batchId = 1L).isEmpty)
    assert(Versioned.writeVersionStreamBatch(
      Seq((60L, "y")).toDF("id", "v"), dst, ckpt, batchId = 2L).nonEmpty)
    assert(sunk().toSet == Set((1L, "a"), (2L, "b"), (3L, "c"), (50L, "x"), (60L, "y")))
    // Update mode refuses with the MERGE path named
    val eU = intercept[Exception] {
      spark.readStream.format("graft.sql.VersionedStreamProvider")
        .option("path", src).load()
        .writeStream.format("graft.sql.VersionedStreamProvider")
        .option("path", dst).option("checkpointLocation", ckpt + "_u")
        .outputMode("update")
        .trigger(Trigger.AvailableNow()).start()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(eU).exists(m => m.contains("Append and Complete") || m.toLowerCase.contains("update")),
      msgs(eU).mkString("; "))
  }

  test("versioned streaming sink with partitionBy: epochs land hive-laid-out; first batch creates the chain; empty append epoch skips") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    val src = Files.createTempDirectory("graft_vpsink_src").toString + "/t"
    val dst = Files.createTempDirectory("graft_vpsink_dst").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_vpsink_ckpt").toString
    Versioned.writeVersion(Seq((1L, "a"), (2L, "b")).toDF("id", "cat"), src)
    def run() = {
      val q = spark.readStream.format("graft.sql.VersionedStreamProvider")
        .option("path", src).load()
        .writeStream.format("graft.sql.VersionedStreamProvider")
        .partitionBy("cat")
        .option("path", dst).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    // first batch CREATES the partitioned chain
    run()
    assert(Versioned.snapshot(spark, dst,
      Versioned.latestVersion(spark, dst).get).partitionCols == Seq("cat"))
    assert(Versioned.readLatest(spark, dst).select("id", "cat")
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
    // appended epochs match the spec; partition values real, not null
    Versioned.writeVersion(Seq((3L, "a")).toDF("id", "cat"), src, SaveMode.Append)
    run()
    assert(Versioned.readLatest(spark, dst)
      .filter($"cat" === "a").select("id").as[Long].collect().toSet == Set(1L, 3L))
    // SQL serves it partition-pruned like any partitioned chain
    spark.conf.set("spark.sql.catalog.graft_vps", "graft.sql.VersionedCatalog")
    assert(spark.sql(s"SELECT id FROM graft_vps.`$dst` WHERE cat = 'b'")
      .as[Long].collect().toSeq == Seq(2L))
    // an EMPTY append epoch commits nothing (a partitionBy write of
    // zero rows has no partition values to land) — direct API leg
    val vNow = Versioned.latestVersion(spark, dst).get
    assert(Versioned.writeVersionStreamBatch(
      Seq.empty[(Long, String)].toDF("id", "cat"), dst, ckpt, batchId = 99L,
      partCols = Seq("cat")).isEmpty)
    assert(Versioned.latestVersion(spark, dst).contains(vNow))
    // an empty COMPLETE epoch is a real truncation: metadata-only
    // overwrite, schema AND spec kept, watermark recorded
    assert(Versioned.writeVersionStreamBatch(
      Seq.empty[(Long, String)].toDF("id", "cat"), dst, ckpt, batchId = 100L,
      mode = SaveMode.Overwrite, partCols = Seq("cat")).nonEmpty)
    assert(Versioned.readLatest(spark, dst).count() == 0)
    assert(Versioned.snapshot(spark, dst,
      Versioned.latestVersion(spark, dst).get).partitionCols == Seq("cat"))
    assert(Versioned.lastCommittedBatch(spark, dst, ckpt).contains(100L))
    // and the truncated partitioned chain takes the next epoch
    assert(Versioned.writeVersionStreamBatch(
      Seq((9L, "z")).toDF("id", "cat"), dst, ckpt, batchId = 101L,
      partCols = Seq("cat")).nonEmpty)
    assert(Versioned.readLatest(spark, dst).select("cat").as[String].head() == "z")
  }

  test("versioned streaming source: commits become micro-batches; uncommitted files invisible; overwrite fails; ignoreDeletes") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    val dir = Files.createTempDirectory("graft_vstream").toString + "/t"
    Versioned.writeVersion(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)

    def startStream(name: String, ignoreDeletes: Boolean = false) =
      spark.readStream.format("graft.sql.VersionedStreamProvider")
        .option("path", dir)
        .option("ignoreDeletes", ignoreDeletes.toString)
        .load()
        .writeStream.outputMode("append").format("memory").queryName(name)
        .trigger(Trigger.AvailableNow()).start()

    // batch 1: the full table as of stream start
    val q1 = startStream("vstream_out"); q1.awaitTermination(120000)
    def got(name: String) = spark.table(name).as[(Long, String)].collect().toSet
    assert(got("vstream_out") == Set((1L, "a"), (2L, "b")))

    // an UNCOMMITTED writer dir (data written, manifest not landed)
    // must be invisible to the stream — the property a raw file
    // watcher over the same tree lacks
    Seq((99L, "junk")).toDF("id", "v").write
      .parquet(new org.apache.hadoop.fs.Path(dir, "v00000001_data_deadbeef").toString)
    val q2 = startStream("vstream_out2"); q2.awaitTermination(120000)
    assert(got("vstream_out2") == Set((1L, "a"), (2L, "b")),
      "uncommitted dir leaked into the stream")

    // appends arrive as new batches; restart-with-checkpoint serves
    // ONLY the appended dirs after the recorded offset (the memory
    // sink cannot recover a checkpoint, so these legs sink to parquet)
    val ckpt = Files.createTempDirectory("graft_vstream_ckpt").toString
    val outDir = Files.createTempDirectory("graft_vstream_sink").toString + "/out"
    def runCk(ignoreDeletes: Boolean = false) = {
      val q = spark.readStream.format("graft.sql.VersionedStreamProvider")
        .option("path", dir).option("ignoreDeletes", ignoreDeletes.toString)
        .load()
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    def sunk() = spark.read.parquet(outDir).as[(Long, String)].collect().toSet
    runCk()
    assert(sunk() == Set((1L, "a"), (2L, "b")))
    Versioned.writeVersion(Seq((3L, "c")).toDF("id", "v"), dir, SaveMode.Append)
    runCk()
    assert(sunk() == Set((1L, "a"), (2L, "b"), (3L, "c")),
      s"restart must serve only the append, got ${sunk()}")

    // a DELETE fails the checkpointed stream unless ignoreDeletes
    Versioned.deleteByKeys(spark, dir, Seq(2L).toDF("id"), "id")
    Versioned.writeVersion(Seq((4L, "d")).toDF("id", "v"), dir, SaveMode.Append)
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t
      while (c.getCause != null) c = c.getCause
      String.valueOf(c.getMessage)
    }
    val eDel = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runCk()
    }
    assert(rootMsg(eDel).contains("DELETE"), s"wrong failure: ${rootMsg(eDel)}")
    runCk(ignoreDeletes = true)
    assert(sunk() == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))

    // a FRESH stream over the dv-bearing table: the initial snapshot
    // is the MASKED read — pre-stream deletes were never served rows
    val qSnap = startStream("vstream_masked"); qSnap.awaitTermination(120000)
    assert(got("vstream_masked") == Set((1L, "a"), (3L, "c"), (4L, "d")),
      s"initial snapshot must be masked, got ${got("vstream_masked")}")

    // dv COMPACTION mid-stream: dirs change, mask content does not —
    // routine maintenance must not read as a phantom DELETE even with
    // ignoreDeletes OFF (the comparison is by key content)
    Versioned.deleteByKeys(spark, dir, Seq(2L).toDF("id"), "id") // same key again
    runCk(ignoreDeletes = true) // advance the offset past the second dv
    assert(Versioned.compactDeletionVectors(spark, dir).nonEmpty)
    Versioned.writeVersion(Seq((5L, "e")).toDF("id", "v"), dir, SaveMode.Append)
    runCk() // ignoreDeletes = FALSE: must still serve the append
    assert(sunk() == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")),
      s"compaction read as a delete: ${sunk()}")

    // an OVERWRITE breaks the appends-only premise and must fail
    Versioned.writeVersion(Seq((9L, "z")).toDF("id", "v"), dir)
    val eOw = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runCk(ignoreDeletes = true)
    }
    assert(rootMsg(eOw).contains("non-append"), s"wrong failure: ${rootMsg(eOw)}")
  }

  /** Drain a rate-limited stream into a per-batch map (batchId →
    * rows). foreachBatch replays carry the SAME batchId, so keying by
    * id makes the union exactly-once even across restarts. */
  private def drainBatches(dir: String, ckpt: String, opts: Map[String, String])
      : scala.collection.concurrent.TrieMap[Long, Array[(Long, String)]] = {
    val acc = new scala.collection.concurrent.TrieMap[Long, Array[(Long, String)]]
    val q = spark.readStream.format("graft.sql.VersionedStreamProvider")
      .option("path", dir).options(opts).load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        acc.put(id, df.collect().map(r => (r.getLong(0), r.getString(1))))
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    acc
  }

  test("versioned streaming source admission control: maxFilesPerTrigger/maxBytesPerTrigger bound every batch; split snapshot stays masked; AvailableNow drains to completion") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    val dir = Files.createTempDirectory("graft_vadm").toString + "/t"
    // 4 commits, one file each, 10 rows each
    def commit(from: Int, tag: String): Unit = {
      val df = (from until from + 10).map(i => (i.toLong, tag)).toDF("id", "v").coalesce(1)
      if (Versioned.latestVersion(spark, dir).isEmpty) Versioned.writeVersion(df, dir)
      else Versioned.writeVersion(df, dir, SaveMode.Append)
    }
    commit(0, "a"); commit(10, "b"); commit(20, "c"); commit(30, "d")
    // a pre-stream DELETE: the split snapshot must still subtract it
    Versioned.deleteByKeys(spark, dir, Seq(5L).toDF("id"), "id")

    // ── maxFilesPerTrigger=1: the initial snapshot splits into one
    // batch per dir, each masked, and AvailableNow drains ALL of them
    // (the SupportsTriggerAvailableNow path — a capped first offset
    // must not become the run's endpoint)
    val ckpt1 = Files.createTempDirectory("graft_vadm_c1").toString
    val acc1 = drainBatches(dir, ckpt1, Map("maxFilesPerTrigger" -> "1"))
    val nonEmpty1 = acc1.values.filter(_.nonEmpty).toSeq
    assert(nonEmpty1.size == 4, s"expected 4 single-dir snapshot slices, got ${acc1.size}")
    assert(nonEmpty1.forall(_.length <= 10), "a batch exceeded one dir's rows")
    val all1 = acc1.values.flatten.map(_._1).toSet
    assert(all1 == (0L until 40L).toSet - 5L,
      s"split snapshot must be complete and masked, got ${all1.toSeq.sorted}")

    // ── appends backlog under maxFilesPerTrigger=2: two more commits
    // arrive; the SAME checkpoint admits them two-dirs-then-done
    commit(40, "e"); commit(50, "f"); commit(60, "g")
    val acc2 = drainBatches(dir, ckpt1, Map("maxFilesPerTrigger" -> "2"))
    val sizes2 = acc2.values.map(_.length).toSeq.sorted
    assert(sizes2 == Seq(10, 20), s"expected a 2-dir batch then a 1-dir batch, got $sizes2")
    assert(acc2.values.flatten.map(_._1).toSet == (40L until 70L).toSet,
      "appends backlog must serve exactly the new commits")

    // ── maxBytesPerTrigger: a tiny byte budget still admits at least
    // one dir per batch (7 commits → 7 batches); a huge one drains in
    // a single batch. Weights come from manifest stats — no listing.
    val accTiny = drainBatches(dir,
      Files.createTempDirectory("graft_vadm_c2").toString,
      Map("maxBytesPerTrigger" -> "1"))
    assert(accTiny.values.count(_.nonEmpty) == 7,
      s"1-byte budget must admit exactly one dir per batch, got ${accTiny.size}")
    val accBig = drainBatches(dir,
      Files.createTempDirectory("graft_vadm_c3").toString,
      Map("maxBytesPerTrigger" -> (10L * 1024 * 1024 * 1024).toString))
    assert(accBig.values.count(_.nonEmpty) == 1,
      s"a 10 GiB budget must drain the snapshot in one batch, got ${accBig.size}")
    assert(accBig.values.flatten.map(_._1).toSet == (0L until 70L).toSet - 5L)

    // ── restart MID-snapshot: stop a rate-limited ProcessingTime
    // stream after its first slices, then drain the same checkpoint —
    // no row is lost or duplicated across the restart boundary
    val ckptR = Files.createTempDirectory("graft_vadm_cr").toString
    val accR = new scala.collection.concurrent.TrieMap[Long, Array[(Long, String)]]
    val qR = spark.readStream.format("graft.sql.VersionedStreamProvider")
      .option("path", dir).option("maxFilesPerTrigger", "1").load()
      .writeStream.option("checkpointLocation", ckptR)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        accR.put(id, df.collect().map(r => (r.getLong(0), r.getString(1))))
        ()
      }
      .trigger(Trigger.ProcessingTime("10 milliseconds")).start()
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (accR.size < 2 && System.nanoTime() < deadline) Thread.sleep(20)
    qR.stop(); qR.awaitTermination(120000)
    assert(accR.size >= 2, "the rate-limited stream never produced its first slices")
    val qR2 = spark.readStream.format("graft.sql.VersionedStreamProvider")
      .option("path", dir).option("maxFilesPerTrigger", "1").load()
      .writeStream.option("checkpointLocation", ckptR)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        accR.put(id, df.collect().map(r => (r.getLong(0), r.getString(1))))
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    qR2.awaitTermination(120000)
    val allR = accR.values.flatten.map(_._1).toSeq
    assert(allR.size == allR.toSet.size, "restart duplicated rows across batches")
    assert(allR.toSet == (0L until 70L).toSet - 5L,
      s"restart lost rows: ${((0L until 70L).toSet - 5L) -- allR.toSet}")
  }

  test("versioned streaming source startingVersion: skips the snapshot, serves raw appends from the pinned version; 'latest' serves only post-start commits; beyond-latest refuses") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    val dir = Files.createTempDirectory("graft_vsv").toString + "/t"
    def commit(from: Int, tag: String): Unit = {
      val df = (from until from + 3).map(i => (i.toLong, tag)).toDF("id", "v").coalesce(1)
      if (Versioned.latestVersion(spark, dir).isEmpty) Versioned.writeVersion(df, dir)
      else Versioned.writeVersion(df, dir, SaveMode.Append)
    }
    commit(0, "a") // v0
    commit(3, "b") // v1
    Versioned.deleteByKeys(spark, dir, Seq(1L).toDF("id"), "id") // v2: a dv
    commit(6, "c") // v3

    // startingVersion=1: no snapshot; versions >= 1 serve as RAW
    // appends (the dv-delete at v2 is crossed → needs ignoreDeletes;
    // raw means the pre-stream-deleted id 1 does NOT mask here — but
    // id 1 lives in v0, which startingVersion=1 skips entirely)
    val acc1 = drainBatches(dir,
      Files.createTempDirectory("graft_vsv_c1").toString,
      Map("startingVersion" -> "1", "ignoreDeletes" -> "true"))
    assert(acc1.values.flatten.map(_._1).toSet == Set(3L, 4L, 5L, 6L, 7L, 8L),
      s"startingVersion=1 must serve v1..v3 only, got ${acc1.values.flatten.toSeq.sorted}")

    // startingVersion=0 serves EVERYTHING as raw appends — including
    // the row a pre-stream dv masks out of a fresh snapshot stream
    val acc0 = drainBatches(dir,
      Files.createTempDirectory("graft_vsv_c0").toString,
      Map("startingVersion" -> "0", "ignoreDeletes" -> "true"))
    assert(acc0.values.flatten.map(_._1).toSet == (0L until 9L).toSet,
      "startingVersion=0 must serve raw appends incl. the dv-masked row")
    val snap = drainBatches(dir,
      Files.createTempDirectory("graft_vsv_cs").toString, Map.empty)
    assert(snap.values.flatten.map(_._1).toSet == (0L until 9L).toSet - 1L,
      "the default snapshot stream must stay masked")

    // 'latest': nothing now; only commits after stream start flow
    val ckptL = Files.createTempDirectory("graft_vsv_cl").toString
    val accL = drainBatches(dir, ckptL, Map("startingVersion" -> "latest"))
    assert(accL.values.forall(_.isEmpty),
      s"'latest' must serve nothing at start, got ${accL.values.flatten.toSeq}")
    commit(9, "d") // v4
    val accL2 = drainBatches(dir, ckptL, Map("startingVersion" -> "latest"))
    assert(accL2.values.flatten.map(_._1).toSet == Set(9L, 10L, 11L),
      "'latest' must serve exactly the post-start commit")

    // beyond latest+1 refuses loudly, not silently-empty
    val eBad = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format("graft.sql.VersionedStreamProvider")
        .option("path", dir).option("startingVersion", "99").load()
        .writeStream.format("memory").queryName("vsv_bad")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t
      while (c.getCause != null) c = c.getCause
      String.valueOf(c.getMessage)
    }
    assert(rootMsg(eBad).contains("beyond the latest"),
      s"wrong failure: ${rootMsg(eBad)}")

    // rate limits compose with startingVersion
    val accC = drainBatches(dir,
      Files.createTempDirectory("graft_vsv_cc").toString,
      Map("startingVersion" -> "3", "maxFilesPerTrigger" -> "1"))
    assert(accC.values.count(_.nonEmpty) == 2 &&
      accC.values.flatten.map(_._1).toSet == (6L until 12L).toSet,
      s"startingVersion=3 + maxFilesPerTrigger=1 must serve v3,v4 as two slices, " +
        s"got ${accC.values.map(_.toSeq).toSeq}")
  }

  test("versioned streaming CHANGE DATA FEED: per-commit change rows with _change_type/_commit_version; recorded feeds serve; deletes and overwrites flow as rows; default base is 'latest'; replay from version 0 serves inserts") {
    import graft.ext.Versioned
    val dir = Files.createTempDirectory("graft_vcdf").toString + "/t"
    // v0: initial state; v1: one update + one delete + one insert
    // (recorded feed); v2: an overwrite that only updates
    Versioned.writeVersionWithChangeFeed(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), dir, Seq("id"))
    Versioned.writeVersionWithChangeFeed(
      Seq((1L, "a2"), (3L, "c"), (4L, "d")).toDF("id", "v"), dir, Seq("id"))
    Versioned.writeVersionWithChangeFeed(
      Seq((1L, "a2"), (3L, "c3"), (4L, "d")).toDF("id", "v"), dir, Seq("id"))

    def drainCdf(ckpt: String, opts: Map[String, String])
        : scala.collection.concurrent.TrieMap[Long, Array[(Long, String, String, Int)]] = {
      val acc = new scala.collection.concurrent.TrieMap[Long, Array[(Long, String, String, Int)]]
      val q = spark.readStream.format("graft.sql.VersionedStreamProvider")
        .option("path", dir).option("readChangeFeed", "true").option("keys", "id")
        .options(opts).load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          acc.put(id, df.collect().map(r => (r.getLong(0), r.getString(1),
            r.getString(2), r.getLong(3).toInt)))
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      acc
    }

    // full replay from version 0: v0 as inserts, then exact feeds
    val accAll = drainCdf(Files.createTempDirectory("graft_vcdf_c0").toString,
      Map("startingVersion" -> "0"))
    val rows = accAll.values.flatten.toSet
    val expected = Set(
      (1L, "a", "insert", 0), (2L, "b", "insert", 0), (3L, "c", "insert", 0),
      (1L, "a", "update_preimage", 1), (1L, "a2", "update_postimage", 1),
      (2L, "b", "delete", 1), (4L, "d", "insert", 1),
      (3L, "c", "update_preimage", 2), (3L, "c3", "update_postimage", 2))
    assert(rows == expected, s"got ${rows.toSeq.sortBy(r => (r._4, r._1, r._3))}")

    // the schema carries the two CDF metadata columns
    val cdfDf = spark.readStream.format("graft.sql.VersionedStreamProvider")
      .option("path", dir).option("readChangeFeed", "true").option("keys", "id").load()
    assert(cdfDf.columns.toSeq ==
      Seq("id", "v", "_change_type", "_commit_version", "_commit_timestamp"))
    assert(cdfDf.schema("_commit_version").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(cdfDf.schema("_commit_timestamp").dataType ==
      org.apache.spark.sql.types.TimestampType)

    // a byte cap has no meaning over a feed admitted whole commits —
    // it refuses with the working knob named, never silently unbounded
    val eBytes = intercept[Exception] {
      spark.readStream.format("graft.sql.VersionedStreamProvider")
        .option("path", dir).option("readChangeFeed", "true").option("keys", "id")
        .option("maxBytesPerTrigger", "1024").load()
        .writeStream.format("memory").queryName("vcdf_bytes")
        .trigger(Trigger.AvailableNow()).start().awaitTermination(120000)
    }
    def chainB(t: Throwable) = Iterator.iterate[Throwable](t)(_.getCause)
      .takeWhile(_ != null).flatMap(c => Option(c.getMessage)).mkString(" | ")
    assert(chainB(eBytes).contains("maxFilesPerTrigger"),
      s"wrong failure: ${chainB(eBytes)}")

    // default base is 'latest': nothing now, only post-start commits
    val ckptL = Files.createTempDirectory("graft_vcdf_cl").toString
    assert(drainCdf(ckptL, Map.empty).values.forall(_.isEmpty))
    Versioned.writeVersionWithChangeFeed(
      Seq((1L, "a2"), (4L, "d4")).toDF("id", "v"), dir, Seq("id")) // v3: del 3, upd 4
    val accL = drainCdf(ckptL, Map.empty)
    assert(accL.values.flatten.toSet == Set(
      (3L, "c3", "delete", 3),
      (4L, "d", "update_preimage", 3), (4L, "d4", "update_postimage", 3)),
      s"got ${accL.values.flatten.toSeq}")

    // maxFilesPerTrigger caps COMMITS per CDF batch
    val accRl = drainCdf(Files.createTempDirectory("graft_vcdf_cr").toString,
      Map("startingVersion" -> "1", "maxFilesPerTrigger" -> "1"))
    assert(accRl.values.count(_.nonEmpty) == 3,
      s"3 commits at 1/trigger must be 3 batches, got ${accRl.size}")
    assert(accRl.values.flatten.map(_._4).toSet == Set(1, 2, 3))

    // keys are required — the feed is key-classified
    val eKeys = intercept[Exception] {
      spark.readStream.format("graft.sql.VersionedStreamProvider")
        .option("path", dir).option("readChangeFeed", "true").load()
        .writeStream.format("memory").queryName("vcdf_nokeys")
        .trigger(Trigger.AvailableNow()).start().awaitTermination(120000)
    }
    def chain(t: Throwable) = Iterator.iterate[Throwable](t)(_.getCause)
      .takeWhile(_ != null).flatMap(c => Option(c.getMessage)).mkString(" | ")
    assert(chain(eKeys).contains("keys"), s"wrong failure: ${chain(eKeys)}")
  }

  test("versioned streaming sink schema evolution: a widened micro-batch union-evolves the sink table like any append; earlier rows null-backfill") {
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.types.{StringType, StructField}
    import graft.ext.Versioned
    val root = Files.createTempDirectory("graft_vsinkev").toString
    val src = root + "/src"
    val sink = root + "/sink"
    val ckpt = root + "/ckpt"
    Versioned.writeVersion(Seq((1L, "a")).toDF("id", "v").coalesce(1), src)
    def drainInto(): Unit = {
      val q = spark.readStream.format("graft.sql.VersionedStreamProvider")
        .option("path", src).load()
        .writeStream.format("graft.sql.VersionedStreamProvider")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    drainInto()
    assert(Versioned.readLatest(spark, sink).columns.toSeq == Seq("id", "v"))
    // widen the SOURCE and append a widened commit; the restarted
    // stream serves the new column and the SINK union-evolves
    Versioned.addColumns(spark, src, Seq(StructField("extra", StringType)))
    Versioned.writeVersion(Seq((2L, "b", "X")).toDF("id", "v", "extra").coalesce(1),
      src, SaveMode.Append)
    drainInto()
    val got = Versioned.readLatest(spark, sink)
    assert(got.columns.toSet == Set("id", "v", "extra"),
      s"the sink must union-evolve: ${got.columns.toSeq}")
    assert(got.select($"id", $"v", $"extra").as[(Long, String, Option[String])]
      .collect().toSet == Set((1L, "a", None), (2L, "b", Some("X"))),
      "earlier sink rows must null-backfill the widened column")
  }

  test("versioned streaming source across ADD COLUMNS: a running stream keeps its frozen schema; a restart from the same checkpoint serves the widened schema; old files null-backfill") {
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.types.{StringType, StructField}
    import graft.ext.Versioned
    val dir = Files.createTempDirectory("graft_vwiden").toString + "/t"
    Versioned.writeVersion(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), dir)
    Versioned.writeVersion(Seq((3L, "c")).toDF("id", "v").coalesce(1), dir,
      SaveMode.Append)

    // ── leg 1: the widen + a widened APPEND land while the stream
    // RUNS — the frozen schema keeps serving (the new column is
    // dropped from in-flight batches), never a failure
    val ckpt = Files.createTempDirectory("graft_vwiden_c").toString
    val cols = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]
    val served = new scala.collection.concurrent.TrieMap[Long, Array[Long]]
    @volatile var widened = false
    val q = spark.readStream.format("graft.sql.VersionedStreamProvider")
      .option("path", dir).option("maxFilesPerTrigger", "1").load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        cols.add(df.columns.toSeq)
        served.put(id, df.collect().map(_.getLong(0)))
        if (!widened) {
          widened = true
          Versioned.addColumns(spark, dir, Seq(StructField("extra", StringType)))
          Versioned.writeVersion(Seq((4L, "d", "X")).toDF("id", "v", "extra")
            .coalesce(1), dir, SaveMode.Append)
        }
        ()
      }
      .trigger(Trigger.ProcessingTime("10 milliseconds")).start()
    val deadline = System.nanoTime() + 90L * 1000 * 1000 * 1000
    while (!served.values.flatten.toSet.contains(4L) && System.nanoTime() < deadline)
      Thread.sleep(20)
    // drain + COMMIT the epoch that served 4 before stopping — a stop
    // right after the sink observes the rows races the engine's own
    // offset commit, and leg 2 would (legitimately, at-least-once)
    // see that epoch replayed
    q.processAllAvailable()
    q.stop(); q.awaitTermination(120000)
    assert(served.values.flatten.toSet == Set(1L, 2L, 3L, 4L),
      s"the running stream must keep serving across the widen: ${served.values.flatten.toSeq}")
    assert(cols.toArray.forall(_ == Seq("id", "v")),
      s"a RUNNING stream keeps its frozen schema (Delta's contract): got $cols")

    // ── leg 2: a RESTART from the SAME checkpoint re-resolves the
    // table's widened schema and serves the new column from there on
    Versioned.writeVersion(Seq((5L, "e", "Y")).toDF("id", "v", "extra")
      .coalesce(1), dir, SaveMode.Append)
    val cols2 = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]
    val rows2 = new scala.collection.concurrent.TrieMap[Long, Array[(Long, Option[String])]]
    val q2 = spark.readStream.format("graft.sql.VersionedStreamProvider")
      .option("path", dir).load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        cols2.add(df.columns.toSeq)
        rows2.put(id, df.collect().map(r =>
          (r.getLong(0), Option(r.getString(df.columns.indexOf("extra"))))))
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(120000)
    assert(cols2.toArray.forall(_ == Seq("id", "v", "extra")),
      s"a restart must serve the widened schema: got $cols2")
    val afterRestart = rows2.values.flatten.toMap
    assert(afterRestart == Map(5L -> Some("Y")),
      s"the restart serves only the un-served commit, with the new column: $afterRestart")

    // ── leg 3: a FRESH stream's initial snapshot null-backfills the
    // column for files that PRE-DATE it
    val rows3 = new scala.collection.concurrent.TrieMap[Long, Array[(Long, Option[String])]]
    val q3 = spark.readStream.format("graft.sql.VersionedStreamProvider")
      .option("path", dir).load()
      .writeStream.option("checkpointLocation",
        Files.createTempDirectory("graft_vwiden_c3").toString)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        rows3.put(id, df.collect().map(r =>
          (r.getLong(0), Option(r.getString(df.columns.indexOf("extra"))))))
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q3.awaitTermination(120000)
    assert(rows3.values.flatten.toMap == Map(1L -> None, 2L -> None, 3L -> None,
      4L -> Some("X"), 5L -> Some("Y")),
      s"old files must null-backfill the widened column: ${rows3.values.flatten.toMap}")
  }

  test("dataChange=false: a mid-stream compaction is SKIPPED, never fatal and never re-served; a lagging restart reads the pre-compaction dirs; CDF emits nothing for it; an overwrite still fails") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    val dir = Files.createTempDirectory("graft_rearr").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_rearr_c").toString
    // five one-file commits: v0..v4
    (0 until 5).foreach(i => Versioned.writeVersion(
      Seq((i.toLong, s"x$i")).toDF("id", "v").coalesce(1), dir,
      if (i == 0) SaveMode.Overwrite else SaveMode.Append))

    def drain(c: String): Set[(Long, String)] = {
      val got = new scala.collection.concurrent.TrieMap[Long, Array[(Long, String)]]
      val q = spark.readStream.format("graft").option("path", dir)
        .option("maxFilesPerTrigger", "2").load()
        .writeStream.option("checkpointLocation", c)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          got.put(id, df.collect().map(r => (r.getLong(0), r.getString(1)))); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      got.values.flatten.toSet
    }
    // serve the full table (snapshot), then compact it mid-history
    assert(drain(ckpt) == (0 until 5).map(i => (i.toLong, s"x$i")).toSet)
    val preDirs = Versioned.snapshot(spark, dir,
      Versioned.latestVersion(spark, dir).get).dataDirs
    val cv = Versioned.compactSmallDirs(spark, dir, minDirs = 2)
    assert(cv.nonEmpty, "fixture: the compaction must fire")
    // ── the compaction alone serves NOTHING (its coalesced dir holds
    // only rows already served) and does not fail the stream
    assert(drain(ckpt).isEmpty)
    // ── appends after the compaction flow normally
    Versioned.writeVersion(Seq((100L, "y")).toDF("id", "v").coalesce(1), dir,
      SaveMode.Append)
    assert(drain(ckpt) == Set((100L, "y")))

    // ── a LAGGING stream (checkpoint parked before the compaction)
    // still serves the original small dirs — the rearranged-away
    // files outlive the commit until retention reclaims them
    val ckptLag = Files.createTempDirectory("graft_rearr_lag").toString
    val dir2 = Files.createTempDirectory("graft_rearr2").toString + "/t"
    (0 until 4).foreach(i => Versioned.writeVersion(
      Seq((i.toLong, s"a$i")).toDF("id", "v").coalesce(1), dir2,
      if (i == 0) SaveMode.Overwrite else SaveMode.Append))
    // park the stream at startingVersion 1 (v0 skipped): batch 0
    // (one dir under maxFilesPerTrigger=1) commits, batch 1 THROWS —
    // the offset rests mid-history, deterministically
    val got2 = new scala.collection.concurrent.TrieMap[Long, Array[(Long, String)]]
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q2 = spark.readStream.format("graft").option("path", dir2)
        .option("startingVersion", "1").option("maxFilesPerTrigger", "1").load()
        .writeStream.option("checkpointLocation", ckptLag)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          if (id >= 1L) throw new RuntimeException("park the checkpoint here")
          got2.put(id, df.collect().map(r => (r.getLong(0), r.getString(1)))); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q2.awaitTermination(120000)
    }
    assert(got2.values.flatten.toSet == Set((1L, "a1")))
    // compact behind the parked offset, then resume: v2/v3's original
    // dirs still serve (physical files outlive the rearrange)
    assert(Versioned.compactSmallDirs(spark, dir2, minDirs = 2).nonEmpty)
    val got3 = new scala.collection.concurrent.TrieMap[Long, Array[(Long, String)]]
    val q3 = spark.readStream.format("graft").option("path", dir2).load()
      .writeStream.option("checkpointLocation", ckptLag)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        got3.put(id, df.collect().map(r => (r.getLong(0), r.getString(1)))); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q3.awaitTermination(120000)
    assert(got3.values.flatten.toSet == Set((2L, "a2"), (3L, "a3")),
      s"the lagging resume must serve exactly the un-served appends: ${got3.values.flatten.toSet}")

    // ── a CDF stream crossing the rearrange version emits nothing
    // for it (and doesn't pay the derive)
    val gotCdf = new scala.collection.concurrent.TrieMap[Long, Array[(Long, String)]]
    val qc = spark.readStream.format("graft").option("path", dir2)
      .option("readChangeFeed", "true").option("startingVersion", "1")
      .option("keys", "id").load()
      .writeStream.option("checkpointLocation",
        Files.createTempDirectory("graft_rearr_cdf").toString)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        gotCdf.put(id, df.collect().map(r =>
          (r.getLong(r.fieldIndex("id")), r.getString(r.fieldIndex("_change_type"))))); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    qc.awaitTermination(120000)
    assert(gotCdf.values.flatten.toSet ==
      Set((1L, "insert"), (2L, "insert"), (3L, "insert")),
      s"the rearrange version must emit NO change rows: ${gotCdf.values.flatten.toSet}")

    // ── a REAL overwrite still fails the stream (the premise broke)
    Versioned.writeVersion(Seq((999L, "z")).toDF("id", "v"), dir2, SaveMode.Overwrite)
    val eO = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format("graft").option("path", dir2).load()
        .writeStream.option("checkpointLocation", ckptLag)
        .foreachBatch { (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => () }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(eO).exists(_.contains("non-append commit")), msgs(eO).mkString("; "))
  }

  test("format(\"graft\") streaming: the batch short name serves readStream AND writeStream; the first sink epoch creates the chain; CDF rides the same name; travel options refuse") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    val src = Files.createTempDirectory("graft_fmt_src").toString + "/t"
    val dst = Files.createTempDirectory("graft_fmt_dst").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_fmt_ckpt").toString
    Versioned.writeVersion(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), src)

    def run(): Unit = {
      val q = spark.readStream.format("graft").load(src)
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start(dst)
      q.awaitTermination(120000)
    }
    // dst does NOT exist yet — the V1-fallback sink's first epoch must
    // create it (the DSv2 probe sees the capability-less placeholder,
    // not a refusal)
    run()
    def sunk() = Versioned.readLatest(spark, dst).as[(Long, String)].collect().toSet
    assert(sunk() == Set((1L, "a"), (2L, "b")))
    // the exactly-once txn watermark rides the same path as the
    // long-name provider
    assert(Versioned.lastCommittedBatch(spark, dst, ckpt).contains(0L))
    // appends flow incrementally on restart from the same checkpoint
    Versioned.writeVersion(Seq((3L, "c")).toDF("id", "v"), src, SaveMode.Append)
    run()
    assert(sunk() == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // round trip inside ONE format string: the batch reader serves
    // what the streaming sink committed
    assert(spark.read.format("graft").load(dst).count() == 3)

    // a CDF stream through the same name (schema + replayed inserts)
    val qc = spark.readStream.format("graft")
      .option("readChangeFeed", "true").option("startingVersion", "0")
      .option("keys", "id").load(src)
      .writeStream.format("memory").queryName("fmt_cdf")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_fmt_cdf").toString)
      .trigger(Trigger.AvailableNow()).start()
    qc.awaitTermination(120000)
    val cdf = spark.table("fmt_cdf")
    assert(Seq("_change_type", "_commit_version", "_commit_timestamp")
      .forall(cdf.columns.contains))
    assert(cdf.where($"_change_type" === "insert").count() == 3)

    // time travel is a batch notion — the stream refuses both options
    // with the working knob named
    Seq("versionAsOf" -> "0", "timestampAsOf" -> "2026-01-01 00:00:00").foreach {
      case (k, v) =>
        val e = intercept[Exception] {
          spark.readStream.format("graft").option(k, v).load(src)
        }
        def msgs(t: Throwable): Seq[String] =
          if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
        assert(msgs(e).exists(_.contains("startingVersion")), msgs(e).mkString("; "))
    }

    // batch read of a chain with no versions refuses at analysis,
    // naming the create paths (the placeholder's whole purpose is
    // that the STREAM sink doesn't hit this)
    val missing = Files.createTempDirectory("graft_fmt_missing").toString + "/t"
    val eB = intercept[Exception] {
      spark.read.format("graft").load(missing).collect()
    }
    def msgsB(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgsB(t.getCause)
    assert(msgsB(eB).exists(_.contains("no versions committed yet")),
      msgsB(eB).mkString("; "))
  }

  test("versioned streaming source: a POSITIONAL delete fails the stream like any DELETE; ignoreDeletes streams past; pdv compaction is not a phantom delete") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    val dir = Files.createTempDirectory("graft_vstream_pdv").toString + "/t"
    Versioned.writeVersion(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    val ckpt = Files.createTempDirectory("graft_vspdv_ckpt").toString
    val outDir = Files.createTempDirectory("graft_vspdv_sink").toString + "/out"
    def runCk(ignoreDeletes: Boolean = false) = {
      val q = spark.readStream.format("graft")
        .option("path", dir).option("ignoreDeletes", ignoreDeletes.toString)
        .load()
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    def sunk() = spark.read.parquet(outDir).as[(Long, String)].collect().toSet
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t
      while (c.getCause != null) c = c.getCause
      String.valueOf(c.getMessage)
    }
    runCk()
    assert(sunk() == Set((1L, "a"), (2L, "b")))
    // a POSITIONAL delete masks a row already served — the stream must
    // fail exactly like a key-mask DELETE would
    assert(Versioned.deleteWhere(spark, dir, "id >= 2 AND v = 'b'").nonEmpty)
    Versioned.writeVersion(Seq((3L, "c")).toDF("id", "v"), dir, SaveMode.Append)
    val eDel = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runCk()
    }
    assert(rootMsg(eDel).contains("DELETE"), s"wrong failure: ${rootMsg(eDel)}")
    runCk(ignoreDeletes = true)
    assert(sunk() == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // pdv COMPACTION mid-stream: dirs merge, the (file, pos) set does
    // not — an ignoreDeletes=FALSE restart whose priming replay and
    // next batch both cross the compaction must NOT read it as a
    // phantom delete. (The engine re-primes a V1 source with the last
    // COMMITTED batch's range on restart, so the pdv version itself
    // is drained under ignoreDeletes=true first — the same discipline
    // the key-mask leg follows.)
    assert(Versioned.deleteWhere(spark, dir, "id = 1 AND v = 'a'").nonEmpty)
    runCk(ignoreDeletes = true) // drain past the second pdv
    assert(Versioned.compactDeletionVectors(spark, dir).nonEmpty)
    Versioned.writeVersion(Seq((4L, "d")).toDF("id", "v"), dir, SaveMode.Append)
    runCk(ignoreDeletes = true) // commit a batch spanning ONLY compaction+append
    assert(sunk() == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    Versioned.writeVersion(Seq((5L, "e")).toDF("id", "v"), dir, SaveMode.Append)
    runCk() // ignoreDeletes = FALSE: replay + new batch cross the
            // compaction; the (file,pos) content compare keeps it alive
    assert(sunk() == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")))
    // a FRESH stream's snapshot is the masked read: both pdv'd rows gone
    val q = spark.readStream.format("graft").load(dir)
      .writeStream.format("memory").queryName("vspdv_snap")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_vspdv_snap").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(spark.table("vspdv_snap").as[(Long, String)].collect().toSet ==
      Set((3L, "c"), (4L, "d"), (5L, "e")))
  }

  test("streaming by TABLE NAME: readStream.table drains a named versioned table; writeStream.toTable creates and feeds one; restart serves only the appends, exactly once") {
    import graft.ext.Versioned
    val root = Files.createTempDirectory("graft_nmstream").toString
    spark.conf.set("spark.sql.catalog.graft_ns", "graft.sql.VersionedCatalog")
    spark.conf.set("spark.sql.catalog.graft_ns.warehouse", root + "/wh")
    spark.sql("CREATE TABLE graft_ns.db.src (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft_ns.db.src VALUES (1, 'a'), (2, 'b')")
    val ckpt = root + "/ckpt"
    def run(): Unit = {
      // .format("graft") names the provider the sink must match —
      // Delta's own documented toTable usage shape
      val q = spark.readStream.table("graft_ns.db.src")
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).toTable("graft_ns.db.dst")
      q.awaitTermination(120000)
      ()
    }
    // dst does not exist: toTable's first run creates it through the
    // catalog, then sinks through the V1 fallback's txn commits
    run()
    def sunk() = spark.sql("SELECT id, v FROM graft_ns.db.dst")
      .as[(Long, String)].collect().toSet
    assert(sunk() == Set((1L, "a"), (2L, "b")))
    // the sink is the SAME exactly-once txn path as format("graft"):
    // the dst chain carries the checkpoint-keyed batch watermark
    // managed named tables live at <warehouse>/<ns>/<name>
    val dstDir = root + "/wh/db/dst"
    assert(Versioned.lastCommittedBatch(spark, dstDir, ckpt).contains(0L))
    // an append to the SOURCE flows incrementally on restart — the
    // by-name source is the same per-version-delta offset machinery
    spark.sql("INSERT INTO graft_ns.db.src VALUES (3, 'c')")
    run()
    assert(sunk() == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // the sunk table is a full versioned chain: travel works
    assert(spark.sql("SELECT count(*) AS c FROM graft_ns.db.dst VERSION AS OF 1")
      .as[Long].head() == 2L)
  }
}
