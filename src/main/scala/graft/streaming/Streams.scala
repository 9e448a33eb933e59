package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface of the engine.
  *
  * The reference is batch-only (SURVEY.md §2.9) — its "incrementality"
  * is a monthly Airflow tick. This module is the Spark-native upgrade
  * path: the same transforms run as a stream (`readStream` → watermark
  * → windowed agg / stateful sessions → sink) or as batch (the
  * functions below accept either kind of DataFrame — windowed
  * aggregation and `flatMapGroupsWithState` are meaningful in both
  * modes, which is also how they're oracle-checked).
  */
object Streams {

  /** Schema of the normalized event feed ([[graft.Tables.eventsWithTs]]
    * without the raw ns column). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("event_ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** Open the event feed as a real stream over a parquet directory. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** Tumbling-window counts/sums per event type with a watermark for
    * late data. Works identically on batch input (window() is a plain
    * grouping expression there; the watermark is a no-op). */
  def windowedEventCounts(events: DataFrame,
                          windowDur: String = "1 hour",
                          watermark: String = "30 minutes"): DataFrame = {
    val wm = if (events.isStreaming) events.withWatermark("event_ts", watermark) else events
    wm.groupBy(window(col("event_ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))
  }

  /** Gap-based sessionization, declarative form: a new session starts
    * when the gap to the previous event of the same user exceeds
    * `gapMinutes`. lag + running-sum over a per-user window — fully
    * parallel across users (shuffle on user_id only). */
  def sessionsByGap(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_ts"))
    val gapMicros = gapMinutes * 60L * 1000000L
    events
      .withColumn("prev_us", lag(unix_micros(col("event_ts")), 1).over(w))
      .withColumn("new_sess",
        (col("prev_us").isNull ||
          unix_micros(col("event_ts")) - col("prev_us") > gapMicros).cast("long"))
      .withColumn("session_no",
        sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_no"))
      .agg(
        min(col("event_ts")).as("session_start"),
        max(col("event_ts")).as("session_end"),
        count(lit(1)).as("n_events"))
  }

  /** Stream-static enrichment: join the (possibly streaming) event
    * feed against a static dimension on a key. Catalyst broadcasts the
    * static side per micro-batch — no state, no watermark needed for
    * stream-static inner joins; identical semantics in batch.
    * Side-qualified references keep same-named keys unambiguous. */
  def enrichWithDim(events: DataFrame, dim: DataFrame, eventKey: String,
                    dimKey: String): DataFrame =
    events.join(broadcast(dim), events(eventKey) === dim(dimKey))

  /** Stream-stream interval join — click→purchase attribution
    * candidates: every purchase pairs with the same user's clicks in
    * the preceding `windowMinutes`. On streaming inputs both sides
    * carry watermarks and the two-sided time-range predicate is what
    * lets Spark EXPIRE buffered join state (a click older than
    * `watermark + windowMinutes` behind the purchase-side watermark can
    * never match again and is evicted — bounded state, the
    * stream-stream join admission requirement). Inner joins emit
    * eagerly on match, so results don't wait for watermark advance.
    * On batch inputs the identical code is a plain equi+range join
    * (SortMergeJoin on user_id, range as post-filter — the time
    * predicates are timestamp-typed and conjoined with the equality,
    * so RangeJoinRewrite's numeric point-in-interval pattern
    * deliberately does not fire). Output carries ids + the
    * click→purchase delay in microseconds (integer-exact, no
    * timestamp rendering in the hash path). */
  def intervalJoin(clicks: DataFrame, purchases: DataFrame,
                   windowMinutes: Int = 120,
                   watermark: String = "30 minutes"): DataFrame = {
    val c0 = clicks.select(col("event_id").as("click_id"),
      col("user_id"), col("event_ts").as("click_ts"))
    val p0 = purchases.select(col("event_id").as("purchase_id"),
      col("user_id").as("p_user_id"), col("event_ts").as("purchase_ts"))
    val c = if (c0.isStreaming) c0.withWatermark("click_ts", watermark) else c0
    val p = if (p0.isStreaming) p0.withWatermark("purchase_ts", watermark) else p0
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))).as("delay_us"))
  }

  /** Streaming dedup on event id with a watermark bound on state:
    * `dropDuplicatesWithinWatermark` evicts a key's state once the
    * watermark passes its event time, so long-running streams don't
    * grow state forever (plain `dropDuplicates(id)` would — Spark only
    * bounds that form when the event-time column is part of the keys).
    * Duplicates arriving within the watermark horizon dedup exactly;
    * in batch mode this is a plain dropDuplicates — same rows out,
    * which is how it's differentially tested. */
  def dedupEvents(events: DataFrame, idCol: String = "event_id",
                  timeCol: String = "event_ts",
                  watermark: String = "1 hour"): DataFrame =
    if (events.isStreaming)
      events.withWatermark(timeCol, watermark).dropDuplicatesWithinWatermark(idCol)
    else events.dropDuplicates(idCol)

  /** Streaming decontamination gate — [[graft.ext.Dedup.decontaminate]]
    * applied at INGEST time, so benchmark text never reaches the
    * training corpus in the first place. The evaluation suite's
    * distinct k-token window hashes are computed ONCE (batch side —
    * an eval suite, not a second corpus; same asymmetry argument as
    * q68); the stream-side check is stateless either way: no UDF, no
    * state store, no stream-static join shuffle — a map-side filter
    * that works in any output mode and costs nothing when the
    * document is clean.
    *
    * Two regimes on the eval set's size (the plan-literal guard):
    *
    *   - ≤ `maxExactWindows` distinct windows: the hashes inline as
    *     an array literal and the gate is an EXACT
    *     `arrays_overlap` — zero false drops.
    *   - above it (a mega benchmark collection — MMLU+BBH+…, ~10⁶
    *     windows): a typedlit array would bloat the plan by
    *     megabytes and blow up codegen, so the gate flips to a
    *     broadcast-able Bloom filter over the window hashes
    *     (`might_contain` inside an `exists` over the document's
    *     windows — the q84 runtime-filter shape). Bloom false
    *     positives only ever drop EXTRA documents (conservative for
    *     decontamination — no contaminated doc survives either
    *     regime); at the default `bloomFpp` = 1e-6 the expected
    *     false-drop rate is ~1e-6 per window, and the filter is
    *     ~3.5 MB at 10⁶ windows vs a multi-MB expression tree. */
  def decontaminateStream(docs: DataFrame, benchmark: DataFrame,
                          textCol: String, idCol: String, k: Int = 8,
                          maxExactWindows: Long = 65536,
                          bloomFpp: Double = 1e-6): DataFrame = {
    require(maxExactWindows >= 0, "maxExactWindows must be >= 0")
    val evalWh = graft.ext.Dedup.windowHashes(benchmark, textCol, idCol, k)
      .select(col("wh")).distinct()
    val toks = graft.ext.TextStats.tokens(col(textCol))
    val docHashes = when(size(toks) >= k,
        graft.functions.TextFunctions.tokenWindowHashes(toks, k))
      .otherwise(array().cast("array<long>"))
    val nWindows = evalWh.count()
    if (nWindows == 0) docs
    else if (nWindows <= maxExactWindows) {
      val evalHashes = evalWh.collect().map(_.getLong(0)).toSeq
      docs.filter(!arrays_overlap(docHashes, typedlit(evalHashes)))
    } else {
      import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
      import org.apache.spark.sql.graftshim.ColumnShim
      val bloom = evalWh.stat.bloomFilter("wh", nWindows, bloomFpp)
      val ser = {
        val bos = new java.io.ByteArrayOutputStream()
        bloom.writeTo(bos); bos.toByteArray
      }
      val hit = exists(docHashes, h => ColumnShim.column(BloomFilterMightContain(
        Literal.create(ser, org.apache.spark.sql.types.BinaryType),
        ColumnShim.expression(h))))
      docs.filter(!hit)
    }
  }

  case class SessionEvent(event_id: Long, user_id: Long, tsMicros: Long, value: Double)
  case class SessionOut(user_id: Long, session_no: Long, startMicros: Long,
                        endMicros: Long, n_events: Long)
  case class SessionBuf(sessions: List[SessionOut], openStart: Long, openEnd: Long, openN: Long)

  /** Typed row for the STREAMING sessionizer: keeps the real timestamp
    * column so the watermark can bind to it. */
  case class TimedEvent(event_id: Long, user_id: Long,
                        event_ts: java.sql.Timestamp, value: Double)

  /** Per-user open-session state carried across micro-batches:
    * `sessionsStarted` doubles as the open session's 1-based number. */
  case class OpenSession(sessionsStarted: Long, openStart: Long,
                         openEnd: Long, openN: Long)

  private def micros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** TRUE streaming sessionization: each user's open session lives in
    * `GroupState`; a closed session is emitted the moment a same-user
    * event breaks the gap, and the LAST session of an idle user is
    * emitted when `EventTimeTimeout` fires — i.e. once the watermark
    * passes `openEnd + gap`, at which point no admissible event can
    * extend it (anything older is dropped by the watermark before the
    * state function runs). State per user is one fixed-size record, so
    * a 100 TB/day stream holds |active users| × O(1) state, evicted on
    * timeout.
    *
    * Ordering contract: events are sorted within each micro-batch, so
    * session BOUNDARIES equal [[sessionsByGap]] whenever per-user
    * disorder across batches stays within the gap (a late-but-in-
    * watermark event lands in the still-open session; its span widens
    * by min/max). This is the standard streaming relaxation of batch
    * sessionization.
    *
    * Identity contract: `session_no` is an ordinal within one state
    * lifetime — timeout eviction discards the counter, so a user who
    * returns after the gap restarts at 1. Keying downstream state on
    * (user_id, session_no) across evictions is therefore wrong; use
    * (user_id, startMicros), which is unique and stable. (Preserving a
    * global per-user ordinal would require state that never evicts —
    * exactly what the timeout exists to prevent.)
    */
  def sessionizeStream(events: DataFrame, gapMinutes: Int = 30,
                       watermark: String = "1 hour"): Dataset[SessionOut] = {
    require(events.isStreaming,
      "sessionizeStream is the streaming form; use sessionizeStateful for batch")
    val spark = events.sparkSession
    import spark.implicits._
    val gapMicros = gapMinutes * 60L * 1000000L
    events
      .withWatermark("event_ts", watermark)
      .select(col("event_id"), col("user_id"), col("event_ts"), col("value"))
      .as[TimedEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[TimedEvent], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            // watermark passed openEnd + gap: the session can no longer
            // be extended — emit and evict
            val st = state.get
            state.remove()
            Iterator.single(
              SessionOut(userId, st.sessionsStarted, st.openStart, st.openEnd, st.openN))
          } else {
            // The fold below only reads event TIMES (value/event_id
            // never enter the session span), and equal-timestamp order
            // cannot change boundaries or min/max spans — so buffer the
            // batch slice as a primitive long[] and sort that: ~8
            // bytes/event instead of an object per event, keeping even
            // a pathological single-user batch flood (10⁷ events ≈
            // 80 MB) inside an executor's working memory. True
            // incremental processing without the sort would mis-split
            // sessions on out-of-order arrival WITHIN the batch, which
            // Spark does not forbid.
            val ts = it.map(e => micros(e.event_ts)).toArray
            java.util.Arrays.sort(ts)
            var st = state.getOption.getOrElse(OpenSession(0L, 0L, 0L, 0L))
            var out = List.empty[SessionOut]
            ts.foreach { t =>
              if (st.openN == 0L)
                st = OpenSession(st.sessionsStarted + 1, t, t, 1L)
              else if (t - st.openEnd > gapMicros) {
                out ::= SessionOut(userId, st.sessionsStarted, st.openStart, st.openEnd, st.openN)
                st = OpenSession(st.sessionsStarted + 1, t, t, 1L)
              } else {
                // in-gap event; min/max so late-but-admissible arrivals
                // widen rather than corrupt the open span
                st = st.copy(openStart = math.min(st.openStart, t),
                  openEnd = math.max(st.openEnd, t), openN = st.openN + 1L)
              }
            }
            state.update(st)
            // fires once the watermark passes the earliest instant at
            // which the open session is unextendable
            state.setTimeoutTimestamp((st.openEnd + gapMicros) / 1000L)
            out.reverseIterator
          }
      }
  }

  /** The streaming-to-serving hand-off: drive [[sessionizeStream]]'s
    * emitted sessions into a gold parquet table through `foreachBatch`
    * → [[graft.gold.Upsert.upsertTable]]. Each micro-batch upserts
    * on (user_id, startMicros) — the stable session identity (see the
    * identity contract above; session_no resets across state
    * lifetimes, so it must NOT key the sink) — making the sink
    * idempotent under micro-batch replay: a batch re-delivered after a
    * failure overwrites its own rows instead of duplicating them.
    *
    * `store` is the commit seam ([[graft.ext.TableStore]]): the
    * default [[graft.ext.SwapStore]] publishes by directory rename
    * (HDFS/POSIX); a continuous writer on an object store —
    * the reference's own substrate (S3A/MinIO,
    * ref: mnt/spark-conf/spark-defaults.conf:4-10) — passes
    * [[graft.ext.ManifestStore]] so every micro-batch
    * publish is a conditional manifest create with no rename on the
    * commit path. Returns the started query; callers own its
    * lifecycle. */
  def sessionsToGold(sessions: Dataset[SessionOut], path: String,
                     checkpointDir: String,
                     store: graft.ext.TableStore = graft.ext.SwapStore)
  : org.apache.spark.sql.streaming.StreamingQuery =
    sessions.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[SessionOut], _: Long) =>
        graft.gold.Upsert.upsertTable(batch.sparkSession, path,
          batch.toDF(), Seq("user_id", "startMicros"), store)
      }
      .start()

  /** Stateful sessionization via `flatMapGroupsWithState` — the
    * custom-state path. In batch mode Spark calls the function once
    * per user with all its events and the same session list falls out
    * as [[sessionsByGap]], which is how it's tested. A production
    * stream would switch to `GroupStateTimeout.EventTimeTimeout` and
    * keep the open session in `state`, emitting it on timeout. */
  def sessionizeStateful(events: Dataset[SessionEvent], gapMinutes: Int = 30)
                        (implicit spark: SparkSession): Dataset[SessionOut] = {
    // batch-only: the function never touches GroupState, so on a real
    // stream each micro-batch would re-sessionize only its own slice
    // (split sessions, colliding session_no) — refuse rather than be
    // silently wrong; a streaming version needs EventTimeTimeout state
    require(!events.isStreaming,
      "sessionizeStateful is the batch form; streaming needs open-session state + EventTimeTimeout")
    import spark.implicits._
    val gapMicros = gapMinutes * 60L * 1000000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionBuf, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[SessionEvent], state: GroupState[SessionBuf]) =>
          val sorted = it.toSeq.sortBy(e => (e.tsMicros, e.event_id))
          var sessions = List.empty[SessionOut]
          var no = 0L; var start = 0L; var end = 0L; var n = 0L
          sorted.foreach { e =>
            if (n == 0L || e.tsMicros - end > gapMicros) {
              if (n > 0L) sessions ::= SessionOut(userId, no, start, end, n)
              no += 1; start = e.tsMicros; end = e.tsMicros; n = 1
            } else { end = e.tsMicros; n += 1 }
          }
          if (n > 0L) sessions ::= SessionOut(userId, no, start, end, n)
          sessions.reverseIterator
      }
  }

  /** Streaming CDC hand-off: a stream of key-addressed updates drives
    * a gold parquet table AND a change-data-feed audit log — the
    * streaming face of [[graft.gold.Upsert.mergeChanges]] (q95) /
    * `applyChanges` (q100). Per micro-batch:
    *
    *   1. derive the change feed against the CURRENT table state
    *      (insert / update_preimage / update_postimage — a plain
    *      upsert stream has no delete clause);
    *   2. land it at `logPath/batch_id=N` via dynamic partition
    *      overwrite — a REPLAYED batch overwrites its own partition
    *      instead of duplicating (the reference's own idempotent-
    *      rerun mechanism, SURVEY §2.1 S7);
    *   3. apply the updates through the crash-safe idempotent
    *      [[graft.gold.Upsert.upsertTable]] publish (applying a
    *      mergeChanges feed ≡ the direct merge — the q100 law — so
    *      the apply step needs no second feed pass).
    *
    * Log-before-apply ordering makes the common crash window exact: a
    * failure between 2 and 3 replays into identical log rows (the
    * table hasn't moved). The residual window — crash after 3, before
    * the checkpoint commit — replays against the already-updated
    * table, degrading that batch's update rows to preimage==postimage
    * no-ops; the TABLE stays exact (the upsert is idempotent). Delta
    * closes that window with a transaction log spanning both writes;
    * one parquet table plus one log directory cannot, so it is
    * documented instead (and pinned by spec).
    *
    * `store` picks the table's commit primitive: [[graft.ext.SwapStore]]
    * (default, directory-rename publish — HDFS/POSIX) or
    * [[graft.ext.ManifestStore]] for object stores,
    * where the table resolves through manifests and every batch
    * commit is a conditional put (the CDC LOG needs no seam: its
    * dynamic partition overwrite into `batch_id=N` is already
    * idempotent under replay — re-landing a partition wholesale is
    * the object-store-safe write shape). */
  def upsertsToGoldCdc(updates: DataFrame, path: String, logPath: String,
                       keys: Seq[String], checkpointDir: String,
                       store: graft.ext.TableStore = graft.ext.SwapStore)
  : org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // recover any interrupted publish BEFORE the existence check:
        // under the swap store a prior batch that crashed mid-swap
        // leaves the live dir parked at __old and `path` missing —
        // without recovery the replay would take the bootstrap branch
        // and mislabel every row 'insert' in the CDC log before the
        // upsert restored the table. (Manifest-store recovery is a
        // no-op by construction: an uncommitted version is invisible.)
        store.recover(spark, path)
        val deduped = graft.gold.Upsert.dedupByKeys(batch, keys)
        val feed =
          if (store.exists(spark, path))
            graft.gold.Upsert.mergeChanges(store.readLive(spark, path), deduped, keys)
          else deduped.withColumn("_change_type", lit("insert")) // bootstrap
        feed.withColumn("batch_id", lit(batchId))
          .write.partitionBy("batch_id")
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite").parquet(logPath)
        graft.gold.Upsert.upsertTable(spark, path, deduped, keys, store)
      }
      .start()

  /** Streaming incremental view maintenance: each micro-batch of raw
    * rows folds into a materialized additive-aggregate table via
    * [[graft.ext.Materialized.refreshAdditive]] (q103's delta
    * algebra) — the view refresh reads the batch plus the
    * group-sized view, never the accumulated history. The refreshed
    * view lands through the crash-safe atomic swap. This is what
    * Spark's own streaming aggregation state does, externalized to a
    * plain parquet table any engine can read.
    *
    * Replay caveat (same class as the CDC log): re-delivery of a
    * batch after a crash between swap and checkpoint commit would
    * fold it twice. Delta closes this with txn metadata; plain
    * parquet cannot, so EXACTLY-once here relies on the checkpoint
    * committing (Spark's normal guarantee) — a stricter deployment
    * keys batches idempotently via [[upsertsToGoldCdc]] instead.
    *
    * `store` is the commit seam: [[graft.ext.SwapStore]] (default)
    * publishes each refreshed view by directory swap and stages the
    * bootstrap all-or-nothing itself; [[graft.ext.ManifestStore]]
    * over a conditional put makes the refresh object-store-safe —
    * every batch's view is an immutable version, which also gives the
    * materialization free time travel. */
  def aggregateToGold(rows: DataFrame, path: String, keys: Seq[String],
                      countCol: String, sumCols: Seq[String], checkpointDir: String,
                      store: graft.ext.TableStore = graft.ext.SwapStore)
  : org.apache.spark.sql.streaming.StreamingQuery =
    rows.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        // recover any interrupted publish BEFORE the existence check,
        // so a swap-store live dir parked at __old is restored rather
        // than re-bootstrapped over; store.rewrite stages the
        // bootstrap all-or-nothing (a plain write that crashed
        // mid-flight would otherwise leave a partial dir the next
        // batch's refresh branch would read as the view)
        store.recover(spark, path)
        if (!store.exists(spark, path))
          store.rewrite(spark, path) { tmp =>
            graft.ext.Materialized.aggregate(batch, keys, countCol, sumCols)
              .write.mode("overwrite").parquet(tmp)
          }
        else
          store.rewrite(spark, path) { tmp =>
            graft.ext.Materialized.refreshAdditive(
              store.readLive(spark, path), batch, keys, countCol, sumCols)
              .write.parquet(tmp)
          }
      }
      .start()
}
