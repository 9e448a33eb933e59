package graft.sql

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, Offset => OffsetV2, ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Sink, Source}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.ext.Versioned

/** Delta's STREAMING SOURCE role for the manifest store: treat a
  * versioned table as an unbounded stream of its appends —
  *
  * {{{
  *   spark.readStream.format("graft.sql.VersionedStreamProvider")
  *     .option("path", dir).load()
  * }}}
  *
  * Offsets are VERSION NUMBERS, optionally refined to a position
  * INSIDE a version's ADDED-dir delta (admission control, below;
  * during the initial snapshot the position indexes the pinned
  * snapshot version's FULL list instead — the `/s` flag). Indexing
  * per-version deltas rather than one shared global list is what
  * lets a dataChange=false REARRANGEMENT (compaction: dirs dropped,
  * coalesced dir added, rows preserved) pass through without
  * shifting anything already served. A micro-batch serves exactly
  * the added dirs between two offsets.
  * Commit atomicity does the heavy lifting: a writer's files are
  * invisible until its manifest lands, so the stream can NEVER
  * observe half a commit — the exact property a raw file-watcher
  * source over the same directory lacks (it would stream uncommitted
  * and orphaned writer files; measured in StreamingSpec).
  *
  * Semantics mirror Delta's source contract:
  *   - the FIRST batch(es) serve the full table as of stream start
  *     through the MASKED read (pre-stream deletes are subtracted —
  *     they were never served rows);
  *   - subsequent batches serve appended dirs only;
  *   - a non-append commit in the offset range — overwrite or restore,
  *     i.e. a version that DROPPED dirs — fails the stream (the
  *     appends-only premise broke; Delta raises the same);
  *   - a DELETE (a deletion-vector entry whose KEY CONTENT changed —
  *     dv compaction merges dirs without changing the mask and must
  *     not read as a phantom delete) fails unless
  *     `.option("ignoreDeletes", "true")` — masked rows already
  *     served cannot be unserved, which is precisely Delta's
  *     ignoreDeletes contract. With the option set, dv additions are
  *     skipped and appended data keeps flowing (note the RAW appended
  *     rows flow, pre-mask — the stream is an append feed, not a
  *     snapshot serve).
  *
  * ADMISSION CONTROL (the 100 TB posture — without it the initial
  * snapshot of a large table is ONE micro-batch, which no cluster
  * survives; Delta's source has the same three knobs):
  *   - `maxFilesPerTrigger` / `maxBytesPerTrigger` bound each batch.
  *     The admission unit is a DATA DIR (one commit's write — the
  *     atomicity unit); dirs are admitted in manifest order until the
  *     next dir would exceed a bound, always at least one. Weights
  *     come from the manifest's stats lines — rate limiting reads NO
  *     filesystem metadata. Both the initial snapshot and a backlog
  *     of appends split into bounded batches; partial positions are
  *     encoded in the offset (`v/k` = first k dirs of version v's
  *     list served; `v/k/s` while still inside the initial snapshot,
  *     which stays pinned to — and masked by — the snapshot version's
  *     line set, so a split snapshot is still ONE consistent
  *     snapshot). Implemented as [[SupportsAdmissionControl]] +
  *     [[SupportsTriggerAvailableNow]] (the FileStreamSource shape),
  *     so the limits hold under ProcessingTime, Once AND AvailableNow
  *     triggers — AvailableNow pins its endpoint at prepare time and
  *     drains to it in bounded batches.
  *   - `startingVersion` (a version number, or "latest") skips the
  *     initial snapshot and serves appends from that version on
  *     (inclusive) — the restart-a-pipeline-without-rereading-history
  *     knob. "latest" is resolved ONCE and pinned in the stream's
  *     checkpoint metadata, so a crash-replay of batch 0 cannot
  *     re-resolve it later and silently drop the commits in between.
  *
  * The schema is FROZEN at stream start (recorded manifest schema);
  * later evolved dirs read through it — extra columns ignored,
  * missing columns null-backfilled — the streaming-contract behavior.
  *
  * Scale shape: latestOffset is manifest arithmetic only; each batch
  * is one multi-path parquet scan over only its admitted dirs,
  * planned with the frozen schema (zero footer reads). No state
  * beyond the offset. */
class VersionedStreamProvider extends StreamSourceProvider with StreamSinkProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-versioned"

  /** Delta's STREAMING SINK role — `writeStream.format(...)` straight
    * into the versioned store, EXACTLY-ONCE:
    *
    * {{{
    *   df.writeStream.format("graft.sql.VersionedStreamProvider")
    *     .option("path", dir).option("checkpointLocation", ckpt)
    *     .start()
    * }}}
    *
    * Each micro-batch is one atomic append commit that ALSO records
    * `txn:<batchId>:<appId>` in the manifest
    * ([[Versioned.writeVersionStreamBatch]]). After a crash between
    * the sink commit and the engine's own offset commit, the restarted
    * query re-delivers that epoch — the manifest's recorded batch id
    * detects the replay and the sink skips it without writing a byte:
    * at-least-once delivery + idempotent commit = exactly-once, the
    * published Delta sink design, with no sink-side state file (the
    * manifest IS the state). `appId` defaults to the query's
    * checkpoint location (stable across restarts — the engine's
    * batchId sequence is only meaningful per checkpoint); override
    * with `.option("txnAppId", …)` when two queries share one table
    * from distinct checkpoints. Append mode = commutative append
    * commit (concurrent batch writers all land, OCC retry); Complete
    * mode = overwrite commit per epoch; Update refuses (this store
    * has MERGE for that, via foreachBatch + Upsert). */
  override def createSink(sqlContext: SQLContext, parameters: Map[String, String],
                          partitionColumns: Seq[String], outputMode: OutputMode): Sink = {
    val dir = parameters.getOrElse("path",
      throw new IllegalArgumentException("option 'path' is required"))
    val appId = parameters.get("txnAppId")
      .orElse(parameters.get("checkpointLocation"))
      .getOrElse(throw new IllegalArgumentException(
        "versioned sink needs a stable writer id: set checkpointLocation (usual) " +
          "or option 'txnAppId'"))
    val mode = outputMode match {
      case m if m == OutputMode.Append()   => org.apache.spark.sql.SaveMode.Append
      case m if m == OutputMode.Complete() => org.apache.spark.sql.SaveMode.Overwrite
      case other => throw new IllegalArgumentException(
        s"versioned sink supports Append and Complete, got $other — Update-mode " +
          "upserts go through foreachBatch + graft.gold.Upsert (MERGE)")
    }
    // `writeStream.partitionBy(...)` makes the sink commit each epoch
    // hive-laid-out — the first batch may CREATE the partitioned
    // chain, and appends must match the recorded spec like any
    // partitioned write
    new VersionedStreamSink(sqlContext.sparkSession, dir, appId, mode,
      partitionColumns)
  }

  private def resolveSchema(spark: SparkSession, dir: String): StructType = {
    val v = Versioned.latestVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"no versions at $dir — commit one before streaming from it"))
    Versioned.snapshot(spark, dir, v).schema
      .getOrElse(Versioned.readVersion(spark, dir, v).schema)
  }

  private def cdfMode(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").exists(_.toBoolean)

  /** The CDF stream's schema: the table's value columns plus Delta
    * CDF's three metadata columns — `_commit_version` is a LONG and
    * `_commit_timestamp` is served from the recorded in-commit clock,
    * the column set consumers ported from the reference's change feed
    * expect. */
  private def cdfSchema(value: StructType): StructType =
    StructType(value.fields :+
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType) :+
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType) :+
      org.apache.spark.sql.types.StructField("_commit_timestamp",
        org.apache.spark.sql.types.TimestampType))

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    val dir = parameters.getOrElse("path",
      throw new IllegalArgumentException("option 'path' is required"))
    val value = schema.getOrElse(resolveSchema(sqlContext.sparkSession, dir))
    (shortName(), if (cdfMode(parameters)) cdfSchema(value) else value)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source = {
    val spark = sqlContext.sparkSession
    val dir = parameters.getOrElse("path",
      throw new IllegalArgumentException("option 'path' is required"))
    val maxFiles = parameters.get("maxFilesPerTrigger").map { s =>
      val n = s.trim.toInt
      require(n > 0, s"maxFilesPerTrigger must be positive, got $s")
      n
    }
    val maxBytes = parameters.get("maxBytesPerTrigger").map { s =>
      val n = s.trim.toLong
      require(n > 0, s"maxBytesPerTrigger must be positive, got $s")
      n
    }
    val cdf = cdfMode(parameters)
    // a CDF stream with no explicit start serves changes from NOW —
    // Delta's contract; 'latest' also reuses its pinning machinery so
    // a batch-0 replay cannot re-resolve later
    val startingVersion = parameters.get("startingVersion").map(_.trim).map { s =>
      require(s == "latest" || (s.nonEmpty && s.forall(_.isDigit)),
        s"startingVersion must be a version number or 'latest', got '$s'")
      s
    }.orElse(if (cdf) Some("latest") else None)
    val cdfKeys = parameters.get("keys").map(
      _.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
    // a change feed has no stats line to weigh bytes from — the
    // admission unit is the COMMIT. Silently ignoring a byte cap
    // would contradict the documented rate-limit contract; refuse it
    // with the working knob named
    if (cdf) require(maxBytes.isEmpty,
      "maxBytesPerTrigger does not apply to readChangeFeed streams (a feed is " +
        "admitted whole commits, which carry no byte weight) — cap commits per " +
        "batch with maxFilesPerTrigger instead")
    if (cdf) require(cdfKeys.nonEmpty,
      "readChangeFeed needs option 'keys' (comma-separated key columns — this " +
        "store's change feeds are key-classified, recorded at write time by " +
        "writeVersionWithChangeFeed and derived per commit otherwise)")
    val value = schema.getOrElse(resolveSchema(spark, dir))
    new VersionedStreamSource(spark, dir,
      if (cdf) cdfSchema(value) else value,
      ignoreDeletes = parameters.get("ignoreDeletes").exists(_.toBoolean),
      maxFilesPerTrigger = maxFiles, maxBytesPerTrigger = maxBytes,
      startingVersion = startingVersion, metadataPath = metadataPath,
      cdf = cdf, cdfKeys = cdfKeys)
  }
}

/** One micro-batch = one manifest commit; see createSink for the
  * exactly-once contract. The incoming DataFrame carries the
  * streaming (incremental) plan — it is re-wrapped over the SAME
  * distributed rows as a batch plan (no driver materialization)
  * before the ordinary versioned write path runs. */
private[sql] class VersionedStreamSink(spark: SparkSession, dir: String,
                                       appId: String,
                                       mode: org.apache.spark.sql.SaveMode,
                                       partCols: Seq[String] = Seq.empty) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // data.sparkSession, not the construction-time session: the
    // engine runs batches on a cloned session with stream-scoped confs
    val batch = org.apache.spark.sql.classic.GraftStreamShim
      .batchFrom(data.sparkSession, data, data.schema)
    Versioned.writeVersionStreamBatch(batch, dir, appId, batchId, mode,
      partCols = partCols)
    ()
  }

  override def toString: String = s"VersionedStreamSink[$dir, appId=$appId]"
}

/** A stream position. `served < 0` = version `v` fully served (the
  * legacy single-number encoding, byte-compatible with pre-admission
  * checkpoints); `served >= 0` = the first `served` dirs of version
  * `v`'s data-dir list served; `snap` = still inside the initial
  * snapshot (which stays pinned to version `v`'s line set — masked,
  * consistent). */
/** `v` = versions ≤ v-1 fully served; `served` ≥ 0 = the first
  * `served` dirs of v's ADDED-dir delta served (complete = all of
  * v's); `snap` = still inside the initial snapshot, where `served`
  * indexes the PINNED snapshot version's full list instead. Offsets
  * from builds predating the delta semantics parse unchanged
  * (complete offsets mean the same thing under append-only history);
  * only a mid-flight PARTIAL append-phase offset would re-slice — no
  * cross-build checkpoint carries one. */
private[sql] case class VersionOffset(v: Long, served: Long = -1L, snap: Boolean = false)
  extends org.apache.spark.sql.execution.streaming.Offset {
  def complete: Boolean = served < 0L
  override def json(): String =
    if (complete) v.toString
    else if (snap) s"$v/$served/s"
    else s"$v/$served"
}

private[sql] object VersionOffset {
  def parse(json: String): VersionOffset = json.trim.split('/') match {
    case Array(v)         => VersionOffset(v.trim.toLong)
    case Array(v, k)      => VersionOffset(v.trim.toLong, k.trim.toLong)
    case Array(v, k, "s") => VersionOffset(v.trim.toLong, k.trim.toLong, snap = true)
    case _ => throw new IllegalArgumentException(s"bad versioned-stream offset: $json")
  }
}

/** `cdf = true` turns the source into Delta's STREAMING CHANGE DATA
  * FEED (`readChangeFeed`): each micro-batch serves the per-commit
  * change rows of the versions it crosses — keys + value columns +
  * `_change_type` (insert / delete / update_preimage /
  * update_postimage) + `_commit_version` — recorded feeds
  * ([[Versioned.writeVersionWithChangeFeed]]) served O(feed), other
  * commits derived per step. No initial snapshot: the default base
  * is 'latest' (changes from NOW, pinned in checkpoint metadata);
  * `startingVersion = N` replays history from commit N on, version 0
  * serving its full state as `insert` rows. Deletes and overwrites
  * do NOT fail a CDF stream — they ARE its rows. Admission control:
  * `maxFilesPerTrigger` caps COMMITS per batch here (a feed has no
  * per-dir stats line to weigh; the commit is the natural unit). */
private[sql] class VersionedStreamSource(spark: SparkSession, dir: String,
                                         frozenSchema: StructType,
                                         ignoreDeletes: Boolean,
                                         maxFilesPerTrigger: Option[Int] = None,
                                         maxBytesPerTrigger: Option[Long] = None,
                                         startingVersion: Option[String] = None,
                                         metadataPath: String = "",
                                         cdf: Boolean = false,
                                         cdfKeys: Seq[String] = Seq.empty)
    extends Source with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  override def schema: StructType = frozenSchema

  // ───────────── offsets and positions ─────────────

  private def asVersionOffset(o: AnyRef): VersionOffset = o match {
    case v: VersionOffset => v
    case other: OffsetV2  => VersionOffset.parse(other.json())
    case other => throw new IllegalStateException(s"unexpected stream offset $other")
  }

  private def dirCount(v: Long): Int =
    if (v < 0) 0 else Versioned.snapshot(spark, dir, v.toInt).dataDirNames.size

  /** A position's index into the (shared, append-ordered) dir list. */
  private def globalIdx(o: VersionOffset): Long =
    if (o.complete) dirCount(o.v).toLong else o.served

  /** The fresh-stream base when `startingVersion` is set: everything
    * at or before this position is skipped (no initial snapshot).
    * "latest" is resolved once and PINNED in the stream's checkpoint
    * metadata — a crash-replay of batch 0 must slice from the same
    * base, not from a later re-resolution that would silently drop
    * the commits in between. */
  private lazy val startingBase: Option[VersionOffset] = startingVersion.map { sv =>
    val marker = new Path(metadataPath, "graft.startingVersion")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pinned =
      if (metadataPath.nonEmpty && fs.exists(marker)) {
        val in = fs.open(marker)
        try Some(VersionOffset.parse(
          scala.io.Source.fromInputStream(in, "UTF-8").mkString))
        finally in.close()
      } else None
    pinned.getOrElse {
      val latest = Versioned.latestVersion(spark, dir).getOrElse(-1)
      val resolved = sv match {
        case "latest" => VersionOffset(latest.toLong)
        case n =>
          val v = java.lang.Long.parseLong(n)
          require(v <= latest + 1L,
            s"startingVersion $v is beyond the latest committed version $latest at $dir")
          if (v == 0L) { if (cdf) VersionOffset(-1L) else VersionOffset(0L, 0L) }
          else VersionOffset(v - 1L)
      }
      if (metadataPath.nonEmpty) {
        val out = fs.create(marker, true)
        try out.write(resolved.json().getBytes("UTF-8")) finally out.close()
      }
      resolved
    }
  }

  // ───────────── admission control ─────────────

  override def getDefaultReadLimit: ReadLimit = {
    val ls = maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n)).toSeq ++
      maxBytesPerTrigger.map(n => ReadLimit.maxBytes(n)).toSeq
    ls match {
      case Seq()    => ReadLimit.allAvailable()
      case Seq(one) => one
      case many     => ReadLimit.compositeLimit(many.toArray)
    }
  }

  private def boundsOf(limit: ReadLimit): (Option[Long], Option[Long]) = limit match {
    case _: ReadAllAvailable => (None, None)
    case f: ReadMaxFiles     => (Some(f.maxFiles.toLong), None)
    case b: ReadMaxBytes     => (None, Some(b.maxBytes))
    case c: CompositeReadLimit =>
      c.getReadLimits.foldLeft((Option.empty[Long], Option.empty[Long])) {
        case ((f, b), x: ReadMaxFiles) => (Some(x.maxFiles.toLong), b)
        case ((f, b), x: ReadMaxBytes) => (f, Some(x.maxBytes))
        case (acc, _)                  => acc
      }
    // an engine-side limit shape this source doesn't know: fall back
    // to the declared options (never silently unbounded)
    case _ => (maxFilesPerTrigger.map(_.toLong), maxBytesPerTrigger)
  }

  /** Admit dirs from `from` in list order until the NEXT dir would
    * exceed a bound — always at least one (a single oversized commit
    * must still flow, Delta's same at-least-one contract). */
  private def advance(adm: IndexedSeq[Versioned.DirAdmission], from: Long,
                      maxF: Option[Long], maxB: Option[Long]): Long = {
    if (maxF.isEmpty && maxB.isEmpty) return adm.size.toLong
    var k = from.toInt
    var f = 0L
    var b = 0L
    while (k < adm.size) {
      val d = adm(k)
      val df = math.max(d.files, 1L)
      if (k > from && (maxF.exists(f + df > _) || maxB.exists(b + d.bytes > _)))
        return k.toLong
      f += df; b += d.bytes; k += 1
    }
    adm.size.toLong
  }

  /** One admission step from `pos` toward `effLatest` under bounds. */
  private def admit(pos: VersionOffset, effLatest: Int,
                    maxF: Option[Long], maxB: Option[Long]): VersionOffset = {
    if (pos.snap && !pos.complete) {
      // mid-snapshot: stay pinned to the snapshot version's dir list
      val adm = Versioned.dirAdmission(spark, dir, pos.v.toInt)
      val k2 = advance(adm, pos.served, maxF, maxB)
      if (k2 >= adm.size) VersionOffset(pos.v) // snapshot complete
      else VersionOffset(pos.v, k2, snap = true)
    } else {
      // per-version DELTA admission: a non-snap offset (v, k) means
      // versions ≤ v-1 fully served and the first k dirs of v's ADDED
      // list served (complete = all of v's). Indexing deltas — not a
      // shared global list — is what lets a rearrangement commit
      // (compaction: dirs dropped, coalesced dir added, rows
      // preserved) pass through without shifting anything already
      // served; its own delta is empty by definition.
      if (pos.v >= effLatest.toLong && pos.complete) return pos
      if (pos.v > effLatest.toLong) return pos // AvailableNow target behind us
      var f = 0L; var b = 0L; var admitted = 0L
      var w = math.max(pos.v, 0L).toInt
      var from = if (pos.complete) { w = pos.v.toInt + 1; 0L } else pos.served
      while (w <= effLatest) {
        val adm = Versioned.dirAdmissionDelta(spark, dir, w)
        var k = from
        while (k < adm.size) {
          val d = adm(k.toInt)
          val df = math.max(d.files, 1L)
          if (admitted > 0 &&
              (maxF.exists(f + df > _) || maxB.exists(b + d.bytes > _)))
            return VersionOffset(w.toLong, k)
          f += df; b += d.bytes; admitted += 1; k += 1
        }
        from = 0L
        w += 1
      }
      // everything through effLatest admitted (possibly zero dirs —
      // the version pointer still advances past metadata-only and
      // delete-only commits so getBatch's checks see them)
      if (admitted == 0 && pos.v >= effLatest.toLong) pos
      else VersionOffset(effLatest.toLong)
    }
  }

  @volatile private var availableNowTarget: Option[VersionOffset] = None

  /** Pin the AvailableNow endpoint: the stream drains to the latest
    * version AS OF PREPARE in bounded batches, then stops — commits
    * landing mid-drain wait for the next run. */
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(VersionOffset(
      Versioned.latestVersion(spark, dir).getOrElse(-1).toLong))

  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val start = Option(startOffset).map(asVersionOffset)
      .filter(o => o.v >= 0L || !o.complete) // initialOffset sentinel = fresh
    val latestNow = Versioned.latestVersion(spark, dir) match {
      case Some(l) => l
      case None    => return startOffset // nothing committed yet
    }
    val effLatest = availableNowTarget
      .map(t => math.min(latestNow.toLong, t.v).toInt).getOrElse(latestNow)
    if (effLatest < 0) return startOffset // AvailableNow over an empty table
    val pos = start.orElse(startingBase)
      .getOrElse(VersionOffset(effLatest.toLong, 0L, snap = true))
    val (maxF, maxB) = boundsOf(limit)
    if (cdf) {
      // change-feed admission: whole COMMITS per batch (a feed dir
      // carries no stats line to weigh — the commit is the unit);
      // the step saturates at the pending count (an unbounded cap
      // must not overflow the add)
      if (pos.v >= effLatest.toLong) return startOffset
      val pending = effLatest.toLong - pos.v
      val step = math.max(1L, math.min(maxF.getOrElse(pending), pending))
      return VersionOffset(pos.v + step)
    }
    val next = admit(pos, effLatest, maxF, maxB)
    if (next == pos) startOffset else next
  }

  override def reportLatestOffset(): OffsetV2 =
    Versioned.latestVersion(spark, dir).map(v => VersionOffset(v.toLong)).orNull

  override def initialOffset(): OffsetV2 = VersionOffset(-1L)

  override def deserializeOffset(json: String): OffsetV2 = VersionOffset.parse(json)

  override def commit(end: OffsetV2): Unit = () // stateless — the offset IS the state

  /** The legacy (non-admission) poll: the engine never calls this on
    * a [[SupportsAdmissionControl]] source, but keep it correct — the
    * uncapped latest position. */
  override def getOffset: Option[org.apache.spark.sql.execution.streaming.Offset] =
    Versioned.latestVersion(spark, dir).map(v => VersionOffset(v.toLong))

  // ───────────── serving ─────────────

  override def getBatch(start: Option[org.apache.spark.sql.execution.streaming.Offset],
                        end: org.apache.spark.sql.execution.streaming.Offset): DataFrame = {
    import org.apache.spark.sql.functions.col
    val endOff = asVersionOffset(end)
    val endV = endOff.v.toInt

    if (cdf) {
      // change-feed batch: the per-commit feeds of versions
      // (from, endV] — recorded O(feed) where present, derived per
      // step otherwise; version 0 serves its state as inserts
      import org.apache.spark.sql.functions.lit
      val from = start.map(asVersionOffset).orElse(startingBase)
        .map(_.v.toInt).getOrElse(-1)
      val parts = (from + 1 to endV).flatMap { v =>
        // a flagged REARRANGEMENT (dataChange=false: compaction,
        // Z-order) changes no served row — skip it outright instead
        // of paying the O(both versions) derive to learn that
        if (v > 0 && Versioned.snapshot(spark, dir, v).isRearrange) None
        // changeFeed carries the CDF commit columns; version 0 serves
        // its state as inserts and adds them the same way
        else if (v == 0)
          Some(Versioned.withCommitMetadata(Versioned.readVersion(spark, dir, 0)
            .withColumn("_change_type", lit("insert")), Versioned.snapshot(spark, dir, 0)))
        else Some(Versioned.changeFeed(spark, dir, v - 1, v, cdfKeys))
      }
      val all =
        if (parts.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], frozenSchema)
        else {
          // evolution-tolerant: older feeds lack newer columns —
          // null-pad to the frozen CDF schema, the streaming contract
          val u = parts.reduce(_.unionByName(_, allowMissingColumns = true))
          frozenSchema.fields.foldLeft(u) { (d, f) =>
            if (d.columns.exists(_.equalsIgnoreCase(f.name))) d
            else d.withColumn(f.name, lit(null).cast(f.dataType))
          }
        }
      return org.apache.spark.sql.classic.GraftStreamShim.streamingFrom(spark,
        all.select(frozenSchema.fieldNames.map(col).toSeq: _*), frozenSchema)
    }

    val endDirs = Versioned.snapshot(spark, dir, endV).dataDirs

    // base position: an explicit start offset, else the pinned
    // startingVersion base, else zero (initial snapshot from the top)
    val startOff = start.map(asVersionOffset)
      .filter(o => o.v >= 0L || !o.complete) // initialOffset sentinel = fresh
      .orElse(startingBase)
    // a batch is masked while it belongs to the initial snapshot:
    // either the very first slice (no start offset at all) or a
    // continuation whose start carries the snapshot flag
    val masked = startOff.isEmpty || startOff.exists(_.snap)

    // what to serve: the pinned snapshot version's full list sliced by
    // index (masked phase), or the ADDED-dirs deltas of the versions
    // this batch crosses (append phase) — per-version deltas, so a
    // flagged rearrangement (compaction: dirs dropped, rows preserved)
    // contributes nothing and shifts nothing already served
    val serveByVersion: Seq[(Int, Seq[String])] =
      if (masked) {
        val baseIdx = startOff.map(globalIdx).getOrElse(0L)
        val endIdx = if (endOff.complete) endDirs.size.toLong else endOff.served
        Seq(endV -> endDirs.slice(math.min(baseIdx, endIdx).toInt, endIdx.toInt))
      } else {
        val sOff = startOff.get
        val sv = sOff.v.toInt
        val out = Seq.newBuilder[(Int, Seq[String])]
        if (!sOff.complete && sv >= 0) {
          val d = Versioned.addedDataDirs(spark, dir, sv)
          val upto = if (endV == sv && !endOff.complete) endOff.served.toInt else d.size
          out += sv -> d.slice(sOff.served.toInt, upto)
        }
        var w = math.max(sv, -1) + 1
        while (w <= endV) {
          val isRearr = Versioned.snapshot(spark, dir, w).isRearrange
          // integrity per crossed version: a commit that DROPPED dirs
          // is fatal — overwrite or restore broke the appends-only
          // premise — UNLESS it declared itself a content-preserving
          // rearrangement (dataChange=false), which streams skip.
          // The DELETE check walks the same steps: a dv-set change is
          // a real DELETE (rows already served cannot be unserved)
          // except AT a rearrangement, where the masks were applied
          // PHYSICALLY to the rewritten files and retired — nothing
          // served changed.
          if (!isRearr && w > 0) {
            val prevSnap = Versioned.snapshot(spark, dir, w - 1)
            val curSnap = Versioned.snapshot(spark, dir, w)
            val dropped = prevSnap.dataDirs.toSet -- curSnap.dataDirs.toSet
            if (dropped.nonEmpty) throw new IllegalStateException(
              s"versioned stream at $dir hit a non-append commit at v$w " +
                s"(${dropped.size} data dir(s) dropped — overwrite or restore). " +
                "Streaming serves appends only; restart the stream from the new state.")
            if (!ignoreDeletes &&
                ((prevSnap.dvDirs != curSnap.dvDirs &&
                  !sameDvContent(prevSnap.dvDirs, curSnap.dvDirs)) ||
                 prevSnap.scopedDvs != curSnap.scopedDvs ||
                 // POSITIONAL deletes are deletes too: a pdv commit
                 // masks rows already served. Content-compared, like
                 // the key masks — dv compaction merges pdv dirs
                 // WITHOUT changing the (file, pos) set and must not
                 // read as a phantom DELETE
                 (prevSnap.posDvs != curSnap.posDvs &&
                  !samePdvContent(prevSnap.posDvs, curSnap.posDvs))))
              throw new IllegalStateException(
                s"versioned stream at $dir hit a DELETE at v$w; " +
                  "rows already served cannot be unserved. Pass " +
                  "option ignoreDeletes=true to keep streaming appends past deletes.")
          }
          val d = Versioned.addedDataDirs(spark, dir, w)
          val upto = if (w == endV && !endOff.complete) endOff.served.toInt else d.size
          out += w -> d.slice(0, upto)
          w += 1
        }
        out.result()
      }

    val nonEmpty = serveByVersion.filter(_._2.nonEmpty)
    val batch =
      if (nonEmpty.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], frozenSchema)
      else {
        // manifest-aware subset read: partitioned chains re-attach
        // partition values (the files don't hold the column), colmap
        // serves logical names, and stats plan from manifest bytes.
        // Snapshot slices apply the masks (applyDv) — pre-stream
        // deletes were never served rows, and scoped dvs apply only
        // to the dirs they scope; append slices serve RAW, pre-mask
        // (the stream is an append feed, not a snapshot serve).
        // ONE multi-dir read through the end version when it still
        // lists every served dir (every batch not racing a
        // rearrangement); a dir compacted away LATER IN THE RANGE
        // reads through the manifest of the version that added it —
        // the physical files outlive the rearrange until retention.
        val endSet = endDirs.toSet
        val all = nonEmpty.flatMap(_._2)
        val read =
          if (all.forall(endSet.contains))
            Versioned.readVersionDirs(spark, dir, endV, all.toSet, applyDv = masked)
          else nonEmpty.map { case (w, ds) =>
            Versioned.readVersionDirs(spark, dir, w, ds.toSet, applyDv = masked)
          }.reduce(_.unionByName(_, allowMissingColumns = true))
        // evolution-tolerant both ways: a RESTART after ADD COLUMNS
        // may replay a batch whose end version PREDATES the widen —
        // the frozen (now wider) schema null-pads what that version's
        // recorded schema lacks, exactly as old FILES null-backfill
        // under a wider recorded schema
        frozenSchema.fields.foldLeft(read) { (d, f) =>
          if (d.columns.exists(_.equalsIgnoreCase(f.name))) d
          else d.withColumn(f.name,
            org.apache.spark.sql.functions.lit(null).cast(f.dataType))
        }.select(frozenSchema.fieldNames.map(col).toSeq: _*)
      }
    // the engine asserts isStreaming on the returned plan — stamp it
    // the way FileStreamSource does
    org.apache.spark.sql.classic.GraftStreamShim.streamingFrom(spark, batch, frozenSchema)
  }

  /** Deletion-vector equality by CONTENT, not by directory name:
    * [[Versioned.compactDeletionVectors]] merges dv dirs WITHOUT
    * changing the mask, and routine maintenance must not kill running
    * consumers as a phantom DELETE. Only consulted when the dir sets
    * differ (rare); key sets are broadcast-sized by the dv contract,
    * so the comparison is two tiny reads. */
  private def sameDvContent(a: Seq[(String, Seq[String])],
                            b: Seq[(String, Seq[String])]): Boolean = {
    // keys compared in their NATIVE type — a cast-to-string comparison
    // would collide a NULL key with the literal string "null", letting
    // a real mask change read as equal and a genuine DELETE stream
    // past consumers without ignoreDeletes. NULL keys are excluded
    // outright: the mask is an anti-join / set-contains on the key, and
    // null never matches either, so a null entry changes no read — it
    // must not read as a phantom DELETE here.
    def keySets(dv: Seq[(String, Seq[String])]): Map[String, Set[Any]] =
      dv.groupBy(_._1).map { case (k, es) =>
        k -> graft.Tables.readParquetNoInfer(spark, es.flatMap(_._2))
          .select(org.apache.spark.sql.functions.col(k)).na.drop()
          .distinct().collect().map(_.get(0)).toSet
      }.filter(_._2.nonEmpty) // an empty key set masks nothing
    keySets(a) == keySets(b)
  }

  /** Positional-mask equality by (file, pos) CONTENT, the
    * [[sameDvContent]] twin: compaction merges pdv dirs without
    * changing the mask, and routine maintenance must not kill running
    * consumers as a phantom DELETE. Only consulted when the dir sets
    * differ; sets are bounded by the positional size contract. */
  private def samePdvContent(a: Seq[String], b: Seq[String]): Boolean = {
    def posSet(dirs: Seq[String]): Set[(String, Long)] =
      if (dirs.isEmpty) Set.empty
      else spark.read.schema(graft.ext.Versioned.PdvDirSchema).parquet(dirs: _*)
        .select("_file", "_pos").distinct()
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    posSet(a) == posSet(b)
  }

  override def stop(): Unit = ()

  override def toString: String = s"VersionedStreamSource[$dir]"
}
