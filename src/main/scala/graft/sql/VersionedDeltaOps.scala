package graft.sql

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ext.{Snapshot, Versioned}

/** DELTA-BASED row-level operations (Spark's `SupportsDelta` seam —
  * the Iceberg merge-on-read pattern; cf. reference role: Delta's
  * deletion-vector UPDATE/MERGE): instead of rewriting every touched
  * file (the group-based copy-on-write seam in [[VersionedRowOps]]),
  * the rewrite plan reads candidate files WITH their row addresses
  * (the `_file`/`_pos` metadata columns, [[RowIds]]), Spark hands the
  * writer just the CHANGED rows — deletes as `(file, pos)` ids,
  * updates split into delete+reinsert
  * (`representUpdateAsDeleteAndInsert`) — and the commit is one
  * positional-dv sidecar plus one appended dir
  * ([[Versioned.commitFileRewrite]]'s `addPdv` leg). On a 100 TB
  * table a selective UPDATE stops paying the full rewrite of every
  * touched file: untouched rows in touched files are never read into
  * the replacement, never rewritten, never shuffled — the write cost
  * is O(changed rows), the delete cost O(positions).
  *
  * The two staged artifacts are written DISTRIBUTED by the tasks
  * themselves (each task drives two lazily-created native parquet
  * writers — inserts into a staged data dir, position deletes into a
  * staged sidecar dir), so nothing row-shaped ever passes through the
  * driver; the driver-side commit is manifest arithmetic plus one
  * small job over the sidecar to split masked files by data dir.
  *
  * Fallbacks: `spark.graft.rowops.mode=cow` forces the group-based
  * seam (the remedy when a change exceeds the positional-mask size
  * contract); legacy manifests without file lists and tables whose
  * data columns shadow `_file`/`_pos` fall back automatically. The
  * commit composes with the existing surface because its shape IS
  * the two primitives everything already interprets: streams see the
  * sidecar as deletes and the dir as inserts, compaction applies the
  * positions physically, travel serves pre-change versions, OCC
  * refuses when a masked file was concurrently rewritten. */
private[sql] object GraftDeltaOps {
  /** [[graft.Knobs.rowOpsMode]]: `delta` (default) routes UPDATE /
    * MERGE / untranslatable DELETE through position masks; `cow`
    * keeps the copy-on-write rewrite. */
  def enabled(spark: SparkSession): Boolean = graft.Knobs.rowOpsMode(spark) != "cow"
}

private[sql] class GraftDeltaOperation(spark: SparkSession, dir: String, snap: Snapshot,
                                       fullSchema: StructType,
                                       partCols: Seq[String],
                                       dvDirsPhys: Seq[(String, Seq[String])],
                                       scopedPhys: Seq[(String, String, Set[String])],
                                       posDvs: Seq[String],
                                       colMap: Map[String, String],
                                       info: RowLevelOperationInfo)
  extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = info.command()

  /** The row id IS the row's physical address — the thing a position
    * mask needs and nothing more. Non-nullable by declaration
    * ([[RowIds.metadataColumns]]), as the delta plan requires. */
  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(RowIds.FileCol), Expressions.column(RowIds.PosCol))

  /** An UPDATE splits into delete(address) + reinsert(new image):
    * exactly the sidecar + appended-dir commit shape. */
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def description(): String = s"VersionedDelta[$dir]"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new DeltaCandidateScanBuilder(spark, dir, snap, fullSchema, partCols,
      dvDirsPhys, scopedPhys, posDvs, colMap, options)

  override def newWriteBuilder(winfo: LogicalWriteInfo): DeltaWriteBuilder = {
    def seg(n: String) = n.substring(n.lastIndexOf('/') + 1)
    val snapshot = dvDirsPhys.flatMap { case (k, ds) => ds.map(d => (k, seg(d))) } ++
      scopedPhys.map { case (k, d, _) => (k, seg(d)) } ++
      posDvs.map(d => (Versioned.PdvSnapshotKey, seg(d)))
    new GraftDeltaWriteBuilder(spark, dir, snap.version, winfo, partCols, snapshot, colMap)
  }
}

/** The delta read: candidate FILES from the manifest's per-file stats
  * (the pushed condition selects them; every filter is returned as
  * post-scan — Spark re-evaluates on the rows, which is exactly what
  * the delta plan wants: matched rows only), served through the same
  * masked, row-id-capable tier as any read ([[DvScanBuilder]]) so
  * position-deleted rows can never resurrect into the rewrite and
  * every row carries its `_file`/`_pos` address. */
private[sql] class DeltaCandidateScanBuilder(spark: SparkSession, dir: String, snap: Snapshot,
                                             fullSchema: StructType,
                                             partCols: Seq[String],
                                             dvDirsPhys: Seq[(String, Seq[String])],
                                             scopedPhys: Seq[(String, String, Set[String])],
                                             posDvs: Seq[String],
                                             colMap: Map[String, String],
                                             options: CaseInsensitiveStringMap)
  extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters {

  private val physSchema = ColumnMapped.toPhysicalSchema(fullSchema, colMap)
  private var requested: StructType = fullSchema
  private var candidates: Option[Map[String, Set[String]]] = None

  override def pruneColumns(req: StructType): Unit = requested = req

  override def pushFilters(
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    val translated = filters.flatMap(f =>
      org.apache.spark.sql.execution.datasources.GraftFilterShim.translate(f))
    candidates = Versioned.rowLevelCandidateFiles(spark, snap, translated)
    filters
  }

  override def pushedFilters(): Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    Array.empty

  override def build(): Scan = {
    // no pushable condition (e.g. a MERGE whose ON references only the
    // source side): every live file is a candidate — still positions
    // plus appends, never a rewrite
    val files = candidates.getOrElse(Versioned.allLiveFilesMap(spark, dir, snap.version))
    val subsetIndex = Versioned.manifestPartitioningIndexSubset(spark, snap, files)
    val dataSchema = StructType(physSchema.fields.filterNot(f =>
      partCols.contains(f.name)))
    val pb = org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder(
      spark, subsetIndex, physSchema, dataSchema, options)
    val dvb = new DvScanBuilder(pb, physSchema, dvDirsPhys, scopedPhys, dir, posDvs)
    dvb.pruneColumns(ColumnMapped.toPhysicalSchema(requested, colMap))
    val raw = dvb.build()
    if (colMap.isEmpty) raw else new ColumnMappedScan(raw, colMap)
  }
}

/** One task's commit: the insert delegate's native message, the name
  * of the position-sidecar file this task wrote (if any) — the driver
  * prunes the sidecar dir to exactly the committed names, so a failed
  * attempt's partial file can never reach a read — and the DISTINCT
  * data files this task masked: the task sees every address it
  * deletes, so shipping the set here saves the driver a whole Spark
  * job re-deriving it from the sidecar (bounded by the same
  * maxPositions contract that bounds the sidecar itself). */
private[sql] case class GraftDeltaTaskCommit(insert: Option[WriterCommitMessage],
                                             pdvFile: Option[String],
                                             maskedFiles: Array[String])
  extends WriterCommitMessage

/** Per-task fan-out: inserts (and reinserts — the post-image half of
  * a split update) stream into the staged data dir through Spark's
  * own committed parquet write; deletes stream into a UNIQUELY-NAMED
  * sidecar file this task writes DIRECTLY (a plain
  * [[org.apache.spark.sql.execution.datasources.OutputWriter]], no
  * commit protocol). One task may drive only ONE driver-coordinated
  * commit — [[org.apache.spark.scheduler.OutputCommitCoordinator]]
  * authorizes a single ask per partition (a second Hadoop-committed
  * writer in the same task is DENIED, measured) — so the sidecar
  * bypasses the committer and gets its exactly-once semantics from
  * the commit message instead: unlisted files are pruned by the
  * driver before anything reads the dir. Lazy creation: a task that
  * only deletes writes no empty data file and vice versa. */
private[sql] case class GraftDeltaWriterFactory(insertFactory: DataWriterFactory,
                                                pdvFactory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
                                                pdvConf: org.apache.spark.SerializableWritable[org.apache.hadoop.conf.Configuration],
                                                pdvDirUri: String,
                                                pdvSchema: StructType)
  extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      private var ins: DataWriter[InternalRow] = _
      private var del: org.apache.spark.sql.execution.datasources.OutputWriter = _
      private var delName: String = _
      private val buf = new GenericInternalRow(2)
      private val masked = new java.util.LinkedHashSet[String]()

      override def delete(meta: InternalRow, id: InternalRow): Unit = {
        if (del == null) {
          import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
          val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
            pdvConf.value,
            new TaskAttemptID(new TaskID(new JobID("graft-pdv", 0), TaskType.MAP,
              partitionId), (taskId & Int.MaxValue).toInt))
          val nonce = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
          delName = f"part-$partitionId%05d-$taskId-$nonce" +
            pdvFactory.getFileExtension(ctx)
          del = pdvFactory.newInstance(s"$pdvDirUri/$delName", pdvSchema, ctx)
        }
        // the parquet writer encodes the bytes during write(): the
        // projecting id row may be reused by the next record safely
        buf.update(0, id.getUTF8String(0))
        buf.update(1, id.getLong(1))
        masked.add(id.getUTF8String(0).toString)
        del.write(buf)
      }

      override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit =
        throw new IllegalStateException(
          "updates are represented as delete+reinsert; update() must not be called")

      override def reinsert(meta: InternalRow, row: InternalRow): Unit = insert(row)

      override def insert(row: InternalRow): Unit = {
        if (ins == null) ins = insertFactory.createWriter(partitionId, taskId)
        ins.write(row)
      }

      override def commit(): WriterCommitMessage = {
        if (del != null) { del.close(); del = null }
        GraftDeltaTaskCommit(Option(ins).map(_.commit()), Option(delName),
          masked.toArray(Array.empty[String]))
      }

      override def abort(): Unit = {
        if (ins != null) ins.abort()
        if (del != null) { del.close(); del = null } // partial file: driver prune removes it
      }

      override def close(): Unit = {
        if (ins != null) ins.close()
        if (del != null) { del.close(); del = null }
      }
    }
}

private[sql] class GraftDeltaWriteBuilder(spark: SparkSession, dir: String, v: Int,
                                          info0: LogicalWriteInfo,
                                          partCols: Seq[String],
                                          dvSnapshot: Seq[(String, String)],
                                          colMap: Map[String, String])
  extends DeltaWriteBuilder {

  // a mapped table's staged files carry the chain's PHYSICAL names
  // (rows are positional; only parquet column names change)
  private val info = ColumnMapped.physicalWriteInfo(info0, colMap)

  override def build(): DeltaWrite = new DeltaWrite {
    private val batch = new GraftDeltaBatchWrite(spark, dir, v, info, partCols, dvSnapshot)
    override def toBatch: DeltaBatchWrite = batch
    override def description(): String = s"VersionedDeltaWrite[$dir]"
  }
}

private[sql] class GraftDeltaBatchWrite(spark: SparkSession, dir: String, v: Int,
                                        info: LogicalWriteInfo,
                                        partCols: Seq[String],
                                        dvSnapshot: Seq[(String, String)])
  extends DeltaBatchWrite {

  private val stagedAdd = Versioned.stageDataDir(spark, dir)
  // the sidecar is a POSITION MASK, not data: the house `_pdv_` naming
  // keeps it visually (and for any name-pattern tooling) distinct from
  // data dirs even while staged
  private val stagedPdv = stagedAdd.replace("_data_", "_pdv_")
  private def pathOf(n: String) = new Path(new Path(dir), n)

  private val pdvSchema = StructType(Seq(
    StructField("_file", StringType, nullable = false),
    StructField("_pos", LongType, nullable = false)))

  private def infoFor(s: StructType): LogicalWriteInfo = new LogicalWriteInfo {
    override def queryId(): String = info.queryId()
    override def options(): CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty()
    override def schema(): StructType = s
    // the delegates are PLAIN parquet writes: no row-id/metadata legs
    // (the interface defaults throw rather than answer empty)
    override def rowIdSchema(): java.util.Optional[StructType] =
      java.util.Optional.empty()
    override def metadataSchema(): java.util.Optional[StructType] =
      java.util.Optional.empty()
  }

  // a DELETE-only plan carries an EMPTY row schema (the statement
  // inserts nothing): no insert delegate at all — the commit is the
  // sidecar alone
  private val insertsPossible = info.schema().nonEmpty
  private lazy val insertBatch =
    VersionedSqlUtil.parquetTable(s"delta-insert:$dir", spark,
        CaseInsensitiveStringMap.empty(), Seq(pathOf(stagedAdd).toString),
        Some(info.schema()))
      .newWriteBuilder(infoFor(info.schema())).build().toBatch

  override def createBatchWriterFactory(p: PhysicalWriteInfo): DeltaWriterFactory = {
    // the sidecar writers are COMMITTER-FREE (see GraftDeltaWriterFactory
    // — one coordinated commit per task is all the coordinator allows):
    // prepare the parquet output machinery once, ship its conf
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.sparkContext.hadoopConfiguration)
    val owf = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, pdvSchema)
    val fs = pathOf(stagedPdv).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(pathOf(stagedPdv))
    GraftDeltaWriterFactory(
      if (insertsPossible) insertBatch.createBatchWriterFactory(p) else null,
      owf, new org.apache.spark.SerializableWritable(job.getConfiguration),
      fs.makeQualified(pathOf(stagedPdv)).toString, pdvSchema)
  }

  override def useCommitCoordinator(): Boolean =
    insertsPossible && insertBatch.useCommitCoordinator

  override def onDataWriterCommit(m: WriterCommitMessage): Unit = m match {
    case GraftDeltaTaskCommit(i, _, _) => i.foreach(insertBatch.onDataWriterCommit)
    case _ => ()
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val parts = messages.collect { case m: GraftDeltaTaskCommit => m }
    if (insertsPossible) insertBatch.commit(parts.flatMap(_.insert.toSeq))
    val fs = pathOf(stagedAdd).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // exactly-once for the committer-free sidecar: keep ONLY the files
    // the committed tasks named (a retried attempt's partial file is
    // unlisted debris — removed before anything reads the dir)
    val committedPdv = parts.flatMap(_.pdvFile).toSet
    if (fs.exists(pathOf(stagedPdv)))
      fs.listStatus(pathOf(stagedPdv))
        .filterNot(st => committedPdv.contains(st.getPath.getName))
        .foreach(st => fs.delete(st.getPath, true))
    def hasParquet(p: Path) =
      fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet"))
    // the masked files, split at the DIR-NAME boundary the manifest
    // spells (cloned refs are absolute; hive file entries carry
    // subpaths) — from the TASK-CARRIED sets, zero extra jobs,
    // bounded by the same contract commitFileRewrite enforces on the
    // position count
    val masked = parts.iterator.flatMap(_.maskedFiles).toSet
    val pdvFor: Option[(String, Map[String, Set[String]])] =
      if (masked.isEmpty) { fs.delete(pathOf(stagedPdv), true); None }
      else {
        val cap = Versioned.maxDvPositions(spark)
        if (masked.size > cap) {
          fs.delete(pathOf(stagedPdv), true)
          fs.delete(pathOf(stagedAdd), true)
          throw new IllegalArgumentException(
            s"row-level rewrite masks ${masked.size} files — past the positional " +
              s"deletion-vector size contract (spark.graft.dv.maxPositions=$cap). " +
              "Re-run with spark.graft.rowops.mode=cow")
        }
        val dirNames = Versioned.allLiveFilesMap(spark, dir, v).keys.toSeq.sortBy(-_.length)
        // `_file` spells relative under the table root, absolute for
        // foreign refs. Relative spellings prefix-match their relative
        // dir; an ADOPTED chain (CONVERT) names the root itself as its
        // absolute data dir, and that dir's files spell with NO dir
        // prefix — root-dir membership is the fallback
        val rootAbs = Versioned.rootUriPath(spark, dir)
        val byDir = masked.toSeq.map { f =>
          val d = dirNames.find(n => f.startsWith(n + "/"))
            .orElse(dirNames.find(n => n == rootAbs && !f.startsWith("/")))
            .getOrElse(throw new IllegalStateException(
              s"masked file $f matches no data dir of $dir@v$v"))
          (d, if (f.startsWith(d + "/")) f.stripPrefix(d + "/") else f)
        }.groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).toSet }
        Some((stagedPdv, byDir))
      }
    // inserts: flat for a flat chain; re-landed hive-laid-out for a
    // partitioned one (a rewrite never downgrades the layout). Lazy
    // writer creation means a committed parquet file always holds
    // rows — no emptiness probe needed
    val replacement: Option[String] =
      if (!hasParquet(pathOf(stagedAdd))) { fs.delete(pathOf(stagedAdd), true); None }
      else if (partCols.isEmpty) Some(stagedAdd)
      else {
        val landed = Versioned.stageDataDir(spark, dir)
        spark.read.schema(info.schema()).parquet(pathOf(stagedAdd).toString)
          .write.partitionBy(partCols: _*)
          .mode(org.apache.spark.sql.SaveMode.ErrorIfExists)
          .parquet(pathOf(landed).toString)
        fs.delete(pathOf(stagedAdd), true)
        Some(landed)
      }
    if (pdvFor.isEmpty && replacement.isEmpty) return // no-op statement
    // requested CDF capture (graft.cdf.* — recorded only when the
    // table opts in): pre-images from the masked files, post-images
    // from the staged inserts, one keyed feed beside the commit
    val feed = Versioned.rowOpsFeed(spark, dir, v, pdvFor, replacement)
    Versioned.commitFileRewrite(spark, dir, Map.empty, replacement, partCols,
      dvSnapshot, addPdv = pdvFor, changeFeed = feed)
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val parts = messages.collect { case m: GraftDeltaTaskCommit => m }
    try { if (insertsPossible) insertBatch.abort(parts.flatMap(_.insert.toSeq)) }
    finally {
      // the staged dirs were never referenced: plain orphan removal
      val fs = pathOf(stagedAdd).getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(pathOf(stagedAdd), true)
      fs.delete(pathOf(stagedPdv), true)
      ()
    }
  }
}
