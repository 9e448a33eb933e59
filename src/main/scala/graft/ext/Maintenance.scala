package graft.ext

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Table maintenance the reference inherits from Delta and we provide
  * as library ops over plain parquet: small-file compaction (Delta
  * `OPTIMIZE`'s role). A month of streaming upserts or incremental
  * loads leaves a table as thousands of kilobyte files; at 100 TB the
  * resulting task/open-file overhead dominates scans, so compaction is
  * a first-class lifecycle op, not an afterthought.
  *
  * File listing goes through the Hadoop FileSystem API (not java.nio),
  * so the size accounting works on any supported storage; the rewrite
  * publishes through a [[TableStore]] — [[SwapStore]]'s crash-safe
  * dir swap by default (holds where rename is atomic: HDFS/POSIX), or
  * [[ManifestStore]], where the commit is one manifest publish through
  * the primitive the path's scheme picks (a conditional create with no
  * rename on object stores).
  */
object Maintenance {

  case class CompactStats(filesBefore: Int, filesAfter: Int, totalBytes: Long)

  private def parquetFiles(spark: SparkSession, path: String): Seq[(String, Long)] = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(hPath), s"no table at $path")
    val it = fs.listFiles(hPath, true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) buf += ((f.getPath.toString, f.getLen))
    }
    buf.toSeq
  }

  /** Compact an UNPARTITIONED parquet table to
    * ceil(totalBytes / targetFileBytes) files. Row content is
    * preserved exactly (one repartition, no ordering contract —
    * parquet tables carry none). `store` picks the publish protocol:
    * [[SwapStore]] (default — dir swap, holds on HDFS/POSIX rename)
    * or [[ManifestStore]] for object stores, where the compacted
    * state lands as a new immutable version and old
    * files are reclaimed by [[Versioned.pruneVersions]] — Delta
    * OPTIMIZE's own shape. */
  def compact(spark: SparkSession, path: String,
              targetFileBytes: Long = 128L * 1024 * 1024,
              store: TableStore = SwapStore): CompactStats = {
    // a PARTITIONED manifest chain compacts through the spec-keeping
    // partition-shaped rewrite (re-lands hive-laid-out, file-granular
    // commit) instead of the flat overwrite below, which would
    // silently drop the spec
    store match {
      case ManifestStore =>
      val partCols = Versioned.latestVersion(spark, path)
        .map(v => Versioned.snapshot(spark, path, v).partitionCols)
        .getOrElse(Seq.empty)
      if (partCols.nonEmpty) {
        val before = Versioned.latestVersion(spark, path).map(v =>
          Versioned.allLiveFilesMap(spark, path, v)).get
        val bytes = Versioned.fileBytesOf(spark, path,
          Versioned.latestVersion(spark, path).get, before)
        compactPartitionShaped(spark, path, None, targetFileBytes)
        val afterV = Versioned.latestVersion(spark, path).get
        return CompactStats(before.valuesIterator.map(_.size).sum,
          Versioned.allLiveFilesMap(spark, path, afterV).valuesIterator.map(_.size).sum,
          bytes)
      }
      // FLAT chain on the manifest store: compaction preserves content
      // — commit it file-granularly with the dataChange=false flag
      // (commutes with concurrent appends; streams skip it). Legacy
      // pre-file-list manifests fall back to the overwrite below.
      val beforeFlat = store.liveFiles(spark, path)
      val bytesFlat = beforeFlat.map(_._2).sum
      val nOutFlat = math.max(1, math.ceil(bytesFlat.toDouble / targetFileBytes).toInt)
      Versioned.rewriteAllAsRearrange(spark, path)(
          _.repartition(nOutFlat)) match {
        case Some(_) => return CompactStats(beforeFlat.length,
          store.liveFiles(spark, path).length, bytesFlat)
        case None => () // legacy or empty: the overwrite path below
      }
      case _ => ()
    }
    store.recover(spark, path)
    val before = store.liveFiles(spark, path)
    val totalBytes = before.map(_._2).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    store.rewrite(spark, path) { tmp =>
      store.readLive(spark, path).repartition(nOut)
        .write.mode(SaveMode.Overwrite).parquet(tmp)
    }
    CompactStats(before.length, store.liveFiles(spark, path).length, totalBytes)
  }

  case class VersionedMaintStats(dvCompactedVersion: Option[Int],
                                 prune: Versioned.PruneStats,
                                 compact: Option[CompactStats] = None)

  /** The manifest store's routine maintenance pass — Delta's
    * OPTIMIZE-adjacent housekeeping in one call: (1) merge a
    * delete-heavy chain's deletion-vector dirs into one per key
    * column ([[Versioned.compactDeletionVectors]] — bounds the dv
    * chain without waiting for an overwrite to apply the mask
    * physically), (2) OPTIONAL fragmentation-gated file compaction
    * (`compactTargetBytes` > 0: rewrite only when the live file count
    * exceeds TWICE the ideal `ceil(bytes/target)` — a routine tick on
    * a healthy table costs one manifest read, never a rewrite;
    * partitioned chains compact through the spec-keeping
    * partition-shaped rewrite), then (3) apply retention
    * ([[Versioned.pruneVersions]] — expired manifests dropped, their
    * unshared dirs reclaimed, in-flight writers protected by the
    * orphan age window). Safe to run any time, concurrent-append
    * tolerant (the dv merge retries through the commit race like any
    * commutative commit). */
  def maintainVersioned(spark: SparkSession, path: String, keepLast: Int,
                        orphanMinAgeMs: Long = 15 * 60 * 1000L,
                        backfillStats: Boolean = false,
                        compactTargetBytes: Long = 0L): VersionedMaintStats = {
    // opt-in because the footer sweep of un-statted dirs, while
    // one-time, is real IO a routine maintenance tick shouldn't imply
    if (backfillStats) Versioned.backfillStats(spark, path)
    val compacted = Versioned.compactDeletionVectors(spark, path)
    // the try covers ONLY the fragmentation PROBE: a legacy
    // pre-file-list chain can't answer it — skip just the gate
    // (backfill_stats upgrades the chain) so dv compaction and
    // retention still run. A failure of the compaction ITSELF must
    // surface, never read as "no compaction needed".
    val gate: Option[Unit] =
      if (compactTargetBytes <= 0L) None
      else try {
        val live = Versioned.latestVersion(spark, path)
          .map(v => Versioned.allLiveFilesMap(spark, path, v))
          .getOrElse(Map.empty)
        val nFiles = live.valuesIterator.map(_.size).sum
        val bytes = Versioned.latestVersion(spark, path)
          .map(v => Versioned.fileBytesOf(spark, path, v, live)).getOrElse(0L)
        val ideal = math.max(1, math.ceil(bytes.toDouble / compactTargetBytes).toInt)
        if (nFiles <= 2 * ideal) None else Some(())
      } catch {
        case _: IllegalArgumentException => None
      }
    val compactStats = gate.map(_ =>
      compact(spark, path, compactTargetBytes, store = ManifestStore))
    VersionedMaintStats(compacted,
      Versioned.pruneVersions(spark, path, keepLast, orphanMinAgeMs),
      compactStats)
  }

  /** Recover an interrupted [[compactBucketed]]: a missing live table
    * with the tmp table present means the crash hit between DROP and
    * RENAME — the tmp table holds the complete compacted data, so the
    * rename completes the swap. A tmp table BESIDE a live one is a
    * pre-drop leftover: dropped (the original is still authoritative;
    * re-running compaction redoes the work). Safe to call any time. */
  def recoverBucketedCompact(spark: SparkSession, table: String): Unit = {
    val tmp = table + "__compact_tmp"
    if (!spark.catalog.tableExists(table) && spark.catalog.tableExists(tmp))
      spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    else if (spark.catalog.tableExists(tmp))
      spark.sql(s"DROP TABLE $tmp")
  }

  /** Compact a BUCKETED catalog table to ONE FILE PER BUCKET while
    * preserving the bucket layout contract (so co-located joins stay
    * shuffle-free afterwards — the whole point of the table). Each
    * append/incremental write leaves one file per (task, bucket) pair;
    * repartitioning on the bucket key with the bucket count routes
    * every bucket to exactly one task — `repartition(n, key)` and
    * `bucketBy(n, key)` share Spark's Murmur3 hash-partitioning, so
    * task boundaries align with bucket boundaries. The directory swap
    * protocol can't cover catalog metadata, so the swap here is
    * catalog-level: write `<table>__compact_tmp`, DROP the original,
    * RENAME tmp into place; [[recoverBucketedCompact]] closes both
    * crash windows. */
  def compactBucketed(spark: SparkSession, table: String): CompactStats = {
    recoverBucketedCompact(spark, table)
    val meta = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
    val spec = meta.bucketSpec.getOrElse(
      throw new IllegalArgumentException(s"$table is not bucketed — use compact()"))
    val before = parquetFiles(spark, meta.location.toString)
    val bCols = spec.bucketColumnNames
    val tmp = table + "__compact_tmp"
    // read by PATH, not spark.table: the catalog scan claims the
    // bucket HashPartitioning, which makes the planner elide the
    // repartition below — while the actual read stays file-based
    // (auto-bucketed-scan disables it), so write tasks would hold
    // mixed buckets and emit one file per (task, bucket) pair again
    // (measured: 16 files instead of 4). The path read carries no
    // layout claim, so the aligning shuffle survives.
    val writer = spark.read.parquet(meta.location.toString)
      .repartition(spec.numBuckets, bCols.map(col): _*)
      .write.format("parquet")
      .bucketBy(spec.numBuckets, bCols.head, bCols.tail: _*)
      .mode(SaveMode.Overwrite)
    (if (spec.sortColumnNames.nonEmpty)
       writer.sortBy(spec.sortColumnNames.head, spec.sortColumnNames.tail: _*)
     else writer).saveAsTable(tmp)
    spark.sql(s"DROP TABLE $table")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    val after = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
    CompactStats(before.length,
      parquetFiles(spark, after.location.toString).length,
      before.map(_._2).sum)
  }

  case class VacuumStats(filesDeleted: Int, bytesReclaimed: Long,
                         dryRun: Boolean, deleted: Seq[String])

  /** Delta `VACUUM`'s role for plain parquet tables: delete files that
    * are NOT part of the current table state and are older than
    * `horizonMs` — the other half of the maintenance story next to
    * [[compact]]. With a transaction log the live set would come from
    * the log; a plain parquet table's live set is every non-hidden
    * data file, so the garbage is exactly the write machinery's
    * leavings:
    *
    *   - sibling swap dirs (`__old`, `__upsert_tmp`) abandoned by a
    *     crashed [[SwapStore.rewrite]] — but ONLY when
    *     the live dir exists; a missing live dir means `__old` IS the
    *     table and recovery ([[SwapStore.recover]]) owns
    *     it, so vacuum refuses rather than racing it;
    *   - in-table hidden files/dirs (leading `_` or `.`): crashed-task
    *     `_temporary` trees, `.staging` files, checksum droppings —
    *     everything a reader never references. `_SUCCESS` markers are
    *     kept (harmless, and some orchestrators poll them).
    *
    * The horizon compares against the newest mtime in each candidate
    * SUBTREE (a dir's own mtime goes stale while children still
    * change), so an in-flight write inside the horizon is never
    * yanked — same contract as Delta's retention check. `dryRun`
    * reports without deleting. Safe to call any time; idempotent. */
  def vacuum(spark: SparkSession, path: String,
             horizonMs: Long = 7L * 24 * 3600 * 1000,
             dryRun: Boolean = false): VacuumStats = {
    require(horizonMs >= 0, "horizonMs must be >= 0")
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(hPath), s"no table at $path")
    val cutoff = System.currentTimeMillis() - horizonMs

    def subtreeStats(p: org.apache.hadoop.fs.Path): (Long, Long, Int) = {
      // (newest mtime, total bytes, file count) of the subtree
      val st = fs.getFileStatus(p)
      if (st.isFile) (st.getModificationTime, st.getLen, 1)
      else fs.listStatus(p).foldLeft((st.getModificationTime, 0L, 0)) {
        case ((mt, bytes, n), child) =>
          val (cmt, cb, cn) = subtreeStats(child.getPath)
          (math.max(mt, cmt), bytes + cb, n + cn)
      }
    }

    val candidates = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.Path]
    for (suffix <- Seq("__old", "__upsert_tmp")) {
      val p = new org.apache.hadoop.fs.Path(path.stripSuffix("/") + suffix)
      if (fs.exists(p)) candidates += p
    }
    def collectHidden(dir: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if ((name.startsWith("_") || name.startsWith(".")) && name != "_SUCCESS")
          candidates += st.getPath
        else if (st.isDirectory) collectHidden(st.getPath) // partition dirs
      }
    collectHidden(hPath)

    var deletedBytes = 0L
    var deletedFiles = 0
    val deletedPaths = scala.collection.mutable.ArrayBuffer.empty[String]
    candidates.foreach { p =>
      val (newest, bytes, nFiles) = subtreeStats(p)
      if (newest < cutoff) {
        if (!dryRun) fs.delete(p, true)
        deletedBytes += bytes
        deletedFiles += nFiles
        deletedPaths += p.toString
      }
    }
    VacuumStats(deletedFiles, deletedBytes, dryRun, deletedPaths.toSeq)
  }

  /** Compact a PARTITIONED table to one file per partition directory:
    * repartitioning on the partition columns routes each directory's
    * rows to a single task, so each dir is rewritten as one file (the
    * right grain for month-partitioned gold facts). The partition
    * column layout is preserved. */
  def compactPartitioned(spark: SparkSession, path: String,
                         partitionCols: Seq[String]): CompactStats = {
    require(partitionCols.nonEmpty, "partitionCols must be non-empty")
    val before = parquetFiles(spark, path)
    val totalBytes = before.map(_._2).sum
    SwapStore.rewrite(spark, path) { tmp =>
      spark.read.parquet(path)
        .repartition(partitionCols.map(col): _*)
        .write.partitionBy(partitionCols: _*).mode(SaveMode.Overwrite).parquet(tmp)
    }
    CompactStats(before.length, parquetFiles(spark, path).length, totalBytes)
  }

  /** Morton (Z-order) interleave of the low `bits` bits of two
    * non-negative integer columns: bit i of `a` lands at result bit 2i,
    * bit i of `b` at 2i+1. Pure built-ins (shift/and/or), disjoint
    * target bits so the OR-reduction is order-free — one codegen'd
    * projection, no UDF. Values are taken mod 2^bits (callers with
    * unbounded or skewed domains should quantile-rank into
    * [0, 2^bits) first — the standard Delta/Databricks Z-order
    * preprocessing; raw low bits keep the key oracle-checkable). */
  def zKey(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
           bits: Int = 16): org.apache.spark.sql.Column =
    zKeyN(Seq(a, b), bits)

  /** N-COLUMN Morton interleave (Delta `ZORDER BY (c1, …, cN)` role):
    * bit i of column j lands at result bit i*N + j — the 2-column
    * [[zKey]] is the N=2 case bit-for-bit. Same shape: pure
    * shift/mask/or built-ins, disjoint target bits, one codegen'd
    * projection. N*bits must fit a long's sign-safe 63 bits, so 3
    * columns keep 16-bit resolution, 4 columns drop to 15; `bits <= 0`
    * derives the widest legal resolution, min(16, 63/N), so callers
    * never have to do that arithmetic themselves. */
  def zKeyN(cols: Seq[org.apache.spark.sql.Column],
            bits: Int = 16): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{shiftleft, shiftright}
    val n = cols.length
    require(n >= 2, s"z-ordering wants at least 2 columns, got $n")
    val b = if (bits <= 0) math.min(16, 63 / n) else bits
    require(n * b <= 63,
      s"bits must satisfy columns*bits <= 63, got $n*$b")
    val terms = for {
      i <- 0 until b
      (c, j) <- cols.zipWithIndex
    } yield shiftleft(shiftright(c.cast("long"), i).bitwiseAND(1), i * n + j)
    terms.reduce(_.bitwiseOR(_))
  }

  /** Delta `OPTIMIZE … ZORDER BY (colA, colB)` role: rewrite a table
    * range-partitioned and sorted on the Morton key, so each output
    * file covers a compact RECTANGLE in (colA, colB) space. Parquet
    * footer min/max on BOTH columns then stay tight per file, and a
    * selective predicate on EITHER column skips most files — the
    * multi-dimensional data-skipping a single-column sort cannot give
    * (lexicographic (a,b) order leaves every file spanning b's full
    * range; ExtSpec asserts the bounding-box contrast directly).
    *
    * Scale shape: one `repartitionByRange` (sampled boundaries — the
    * extra sampling job is RangePartitioner's own, deterministic seed)
    * + in-partition sort; no global sort, no driver collection. At
    * 100 TB this is the same shuffle a compaction rewrite pays anyway,
    * buying file-level pruning on every subsequent scan. */
  def zorderWrite(df: org.apache.spark.sql.DataFrame, colA: String, colB: String,
                  path: String, nFiles: Int, bits: Int = 16): Unit = {
    df.withColumn("__zkey", zKey(col(colA), col(colB), bits))
      .repartitionByRange(nFiles, col("__zkey"))
      .sortWithinPartitions("__zkey")
      .drop("__zkey")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Delta `OPTIMIZE tbl ZORDER BY (colA, colB)` for the VERSIONED
    * store: commit a Morton-ordered rewrite of the latest state as a
    * new version. The rewrite reads through [[Versioned.readLatest]]
    * (so any deletion-vector mask is applied PHYSICALLY and the dv
    * chain drops with the overwrite), the range-partition + in-file
    * sort makes every output file a compact rectangle in
    * (colA, colB) space, and the commit's footer harvest records
    * those now-TIGHT per-file min/max bounds in the manifest — after
    * which a selective predicate on EITHER column prunes most files
    * of the commit from manifest bytes ([[Versioned.planDataFiles]];
    * the per-file stats format exists precisely so this rewrite pays
    * off). Time travel to the pre-optimize layout still works; the
    * old files are reclaimed when their versions are pruned — the
    * same lifecycle as every overwrite. Returns the new version. */
  def zorderVersioned(spark: SparkSession, dir: String, colA: String, colB: String,
                      nFiles: Int, bits: Int = 16): Int =
    zorderVersionedCols(spark, dir, Seq(colA, colB), nFiles, bits)

  /** [[zorderVersioned]] over N columns ([[zKeyN]]). `nFiles <= 0`
    * derives the count from the rewritten bytes at the standard
    * 128 MiB target — OPTIMIZE without guessing a file count. */
  def zorderVersionedCols(spark: SparkSession, dir: String, zCols: Seq[String],
                          nFiles: Int, bits: Int = 16): Int = {
    // a PARTITIONED chain z-orders through the spec-keeping
    // partition-shaped rewrite: range-clustered on (partition cols,
    // Morton key) and re-landed hive-laid-out, so files are compact
    // rectangles WITHIN each partition — a flat rewrite would both
    // downgrade the layout and lose the z-order to the hive writer's
    // partition sort
    val partCols = Versioned.latestVersion(spark, dir)
      .map(v => Versioned.snapshot(spark, dir, v).partitionCols)
      .getOrElse(Seq.empty)
    if (partCols.nonEmpty)
      return zorderPartitionShaped(spark, dir, None, zCols, nFiles, bits)
        .getOrElse(Versioned.latestVersion(spark, dir).get) // empty table: no-op
    val nOut =
      if (nFiles > 0) nFiles
      else math.max(1, math.ceil(
        Versioned.liveFiles(spark, dir).map(_._2).sum / (128.0 * 1024 * 1024)).toInt)
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("__zkey", zKeyN(zCols.map(col), bits))
        .repartitionByRange(nOut, col("__zkey"))
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
    // Z-order preserves content: commit it file-granularly with the
    // dataChange=false flag — concurrent appends commute (bounded OCC
    // retry, not a lost overwrite race) and downstream streams skip
    // it. Legacy pre-file-list manifests fall back to the overwrite.
    Versioned.rewriteAllAsRearrange(spark, dir)(shape).getOrElse {
      val current = Versioned.readLatest(spark, dir)
      Versioned.writeVersionWith(spark, dir)(tmp =>
        shape(current).write.mode(SaveMode.ErrorIfExists).parquet(tmp))
    }
  }

  /** INCREMENTAL OPTIMIZE/Z-ORDER (Delta's clustering cadence): Morton-
    * cluster ONLY the data dirs appended since the last rearrangement.
    * A whole-table Z-order is O(table) per run — at 100 TB the only
    * affordable cadence is "cluster the increment": dirs a previous
    * OPTIMIZE produced (dataChange=false commits) are the CLUSTERED
    * BASE and carry VERBATIM (same names, same stats lines, zero IO);
    * the unclustered increment — appends since, plus any CoW
    * replacement dirs — rewrites range-clustered among itself and
    * commits file-granularly with the rearrange flag, so running
    * streams skip it and concurrent appends commute. Per-file bounds
    * stay tight per clustered batch, which is what the manifest's
    * per-file pruning consumes — global ordering across batches is
    * deliberately NOT re-established every run (that is the full
    * [[zorderVersionedCols]], amortized to rare).
    *
    * On a PARTITIONED chain the increment re-lands hive-laid-out,
    * range-clustered on (partition cols, Morton key) — each output
    * file a compact rectangle WITHIN its partition, exactly the
    * [[zorderVersionedWhere]] shape but scoped to the unclustered
    * dirs instead of a partition predicate. Returns
    * (filesRewritten, bytesRewritten, version); None when everything
    * live is already clustered base. */
  def zorderVersionedIncremental(spark: SparkSession, dir: String, zCols: Seq[String],
                                 nFiles: Int = 0, bits: Int = 16)
      : Option[(Int, Long, Int)] = {
    val v = Versioned.latestVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no versions at $dir"))
    val snap = Versioned.snapshot(spark, dir, v)
    val partCols = snap.partitionCols
    val victims = Versioned.unclusteredLiveFiles(spark, dir, v)
    if (victims.valuesIterator.forall(_.isEmpty)) return None
    val selectedBytes = Versioned.fileBytesOf(spark, dir, v, victims)
    val nOut =
      if (nFiles > 0) nFiles
      else math.max(1, math.ceil(selectedBytes / (128.0 * 1024 * 1024)).toInt)
    val staged = Versioned.stageDataDir(spark, dir)
    val stagedPath = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(dir), staged)
    // the masked subset read serves LOGICAL names; the staged
    // replacement lands physical-named beside the chain's files,
    // clustered among ITSELF (this increment's rows only). A
    // partitioned chain clusters WITHIN partitions and re-lands
    // hive-laid-out (a rewrite never downgrades the layout)
    val keys = (partCols :+ "__zkey").map(col)
    val shaped = Versioned.toPhysical(
      Versioned.readVersionFiles(spark, dir, v, victims)
        .withColumn("__zkey", zKeyN(zCols.map(col), bits))
        .repartitionByRange(nOut, keys: _*)
        .sortWithinPartitions(keys: _*)
        .drop("__zkey"),
      snap.colMap)
    (if (partCols.isEmpty) shaped.write
     else shaped.write.partitionBy(partCols: _*))
      .mode(SaveMode.ErrorIfExists).parquet(stagedPath.toString)
    Versioned.commitFileRewrite(spark, dir, victims, Some(staged), partCols,
      snap.dvSnapshot, dataChange = false)
      .map(cv => (victims.valuesIterator.map(_.size).sum, selectedBytes, cv))
  }

  /** Delta `OPTIMIZE tbl WHERE part = … ZORDER BY (colA, colB)` —
    * PARTITION-SCOPED z-order for a partitioned versioned chain. The
    * `where` predicate (partition columns only, evaluated EXACTLY per
    * distinct partition tuple from manifest bytes —
    * [[Versioned.partitionScopedFiles]]) selects the files to rewrite;
    * the read applies any deletion-vector masks (so masked rows drop
    * physically, like every optimize); the replacement re-lands
    * hive-laid-out range-clustered on (partition cols, Morton key),
    * so each output file is a compact rectangle WITHIN its partition;
    * and the commit is the file-granular remove+add
    * ([[Versioned.commitFileRewrite]]) — every file of a
    * NON-matching partition is carried VERBATIM (same name, same
    * stats line), and the commit commutes with concurrent appends to
    * disjoint files. Returns the committed version, None when the
    * predicate selects no files. */
  def zorderVersionedWhere(spark: SparkSession, dir: String, where: String,
                           colA: String, colB: String, nFiles: Int, bits: Int = 16): Option[Int] =
    zorderPartitionShaped(spark, dir, Some(where), Seq(colA, colB), nFiles, bits)

  /** [[zorderVersionedWhere]] over N columns ([[zKeyN]]). */
  def zorderVersionedColsWhere(spark: SparkSession, dir: String, where: String,
                               zCols: Seq[String], nFiles: Int, bits: Int = 16): Option[Int] =
    zorderPartitionShaped(spark, dir, Some(where), zCols, nFiles, bits)

  private def zorderPartitionShaped(spark: SparkSession, dir: String,
                                    where: Option[String], zCols: Seq[String],
                                    nFiles: Int, bits: Int): Option[Int] =
    rewritePartitionScoped(spark, dir, where) { (subset, partCols, selectedBytes) =>
      val nOut =
        if (nFiles > 0) nFiles
        else math.max(1, math.ceil(selectedBytes / (128.0 * 1024 * 1024)).toInt)
      val keys = (partCols :+ "__zkey").map(col)
      subset.withColumn("__zkey", zKeyN(zCols.map(col), bits))
        .repartitionByRange(nOut, keys: _*)
        .sortWithinPartitions(keys: _*)
        .drop("__zkey")
    }.map(_._3)

  /** Partition-scoped small-file compaction: rewrite just the files
    * the partition predicate selects into ~targetFileBytes files,
    * re-landed hive-laid-out; all other partitions' files carry
    * verbatim through the same file-granular commit. Returns
    * (filesSelected, selectedBytes, committedVersion) — None when
    * nothing matched. */
  def compactVersionedWhere(spark: SparkSession, dir: String, where: String,
                            targetFileBytes: Long = 128L * 1024 * 1024): Option[(Int, Long, Int)] =
    compactPartitionShaped(spark, dir, Some(where), targetFileBytes)

  private def compactPartitionShaped(spark: SparkSession, dir: String,
                                     where: Option[String],
                                     targetFileBytes: Long): Option[(Int, Long, Int)] =
    rewritePartitionScoped(spark, dir, where) { (subset, partCols, selectedBytes) =>
      val nOut = math.max(1, math.ceil(selectedBytes.toDouble / targetFileBytes).toInt)
      subset.repartitionByRange(nOut, partCols.map(col): _*)
    }

  /** The shared partition-scoped rewrite shape: select files by the
    * partition predicate (every live file when `where` is None — the
    * whole-table OPTIMIZE of a partitioned chain), read them masked
    * through the manifest path, let `shape` arrange the replacement
    * (given the subset, the partition columns, and the selected
    * bytes), stage it hive-laid-out, and publish through the
    * file-granular copy-on-write commit. Returns
    * (filesSelected, selectedBytes, version). */
  private def rewritePartitionScoped(spark: SparkSession, dir: String,
                                     where: Option[String])
                                    (shape: (org.apache.spark.sql.DataFrame, Seq[String], Long)
                                      => org.apache.spark.sql.DataFrame): Option[(Int, Long, Int)] = {
    val v = Versioned.latestVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no versions at $dir"))
    val snap = Versioned.snapshot(spark, dir, v)
    val partCols = snap.partitionCols
    require(partCols.nonEmpty,
      s"partition-shaped rewrite needs a PARTITIONED chain at $dir")
    val files = where match {
      case Some(w) => Versioned.partitionScopedFiles(spark, dir, v, w)
      case None    => Versioned.allLiveFilesMap(spark, dir, v)
    }
    if (files.valuesIterator.forall(_.isEmpty)) return None
    val selectedBytes = Versioned.fileBytesOf(spark, dir, v, files)
    val staged = Versioned.stageDataDir(spark, dir)
    val stagedPath = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(dir), staged)
    // the subset read serves LOGICAL names (shape's zCols/partCols are
    // user-facing); the staged replacement lands beside the chain's
    // files and must carry PHYSICAL names like any partial rewrite
    Versioned.toPhysical(
        shape(Versioned.readVersionFiles(spark, dir, v, files), partCols, selectedBytes),
        snap.colMap)
      .write.partitionBy(partCols: _*)
      .mode(SaveMode.ErrorIfExists).parquet(stagedPath.toString)
    // compaction and Z-order PRESERVE served content — the commit
    // carries the dataChange=false flag so downstream streams skip it
    // instead of dying on the dropped dirs (Delta's OPTIMIZE contract);
    // its conflict guard pins the dv set the rewrite's read applied
    Versioned.commitFileRewrite(spark, dir, files, Some(staged), partCols,
      snap.dvSnapshot, dataChange = false)
      .map(cv => (files.valuesIterator.map(_.size).sum, selectedBytes, cv))
  }
}
