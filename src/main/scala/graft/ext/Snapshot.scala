package graft.ext

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.fs.Path

/** The versioned store's manifest format, and one resolved version of
  * it. The `Line` ADT, its parser and renderer, the delta fold
  * (`applyOps`), checkpoint/fold resolution and the snapshot cache
  * all live here; [[Versioned]] commits lines and reads
  * [[Snapshot]]s, never raw manifest text. */
private[graft] object Snapshot {
  private[ext] val VDIR = "_versions"

  private[ext] def fsFor(spark: SparkSession, dir: String) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private[ext] def manifestPath(dir: String, v: Int) =
    new Path(dir, f"$VDIR/$v%08d.manifest")

  private[ext] def checkpointPath(dir: String, v: Int) =
    new Path(dir, f"$VDIR/$v%08d.checkpoint")

  private def readManifest(spark: SparkSession, dir: String, v: Int): Seq[String] = {
    val (fs, _) = fsFor(spark, dir)
    val mp = manifestPath(dir, v)
    require(fs.exists(mp), s"no version $v at $dir")
    val in = fs.open(mp)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty).toList
    finally in.close()
  }

  /** One manifest line. Data and dv lines carry directory names; the
    * schema line carries the version's union schema; a stats line
    * carries one data dir's column statistics. */
  private[graft] sealed trait Line
  private[graft] final case class DataEntry(name: String) extends Line
  private[graft] final case class DvEntry(keyCol: String, name: String) extends Line
  /** A deletion vector SCOPED to the data dirs present when the
    * delete committed (`dvs:<keyCol>:<dvDir>:<d1,d2,…>`) — SQL DELETE
    * semantics: the statement removes the rows that exist NOW, so a
    * later INSERT of a masked key is visible (dirs committed after
    * the delete are outside the scope). The unscoped [[DvEntry]] keeps
    * the library's key-level erasure contract (GDPR: a re-appended
    * key STAYS masked); [[graft.sql.VersionedCatalog]]'s DELETE
    * routes here so SQL users get SQL semantics. */
  private[graft] final case class ScopedDvEntry(keyCol: String, name: String,
                                         scope: Seq[String]) extends Line
  /** A POSITIONAL deletion vector (`pdv:<dirName>`) — Delta's
    * row-index deletion-vector role. The dir holds parquet rows
    * `(_file STRING, _pos BIGINT)`: `_file` in the manifest's own
    * file spelling (`<dataDirName>/<fileSubpath>`, or the absolute
    * path for adopted/cloned refs — exactly [[planDataFiles]]'
    * output), `_pos` the row's 0-based index within that parquet
    * file. Any filter-expressible DELETE — range, multi-column,
    * string predicates — commits as ONE such sidecar plus one
    * manifest line: NO data file is rewritten (the key-set
    * [[DvEntry]]/[[ScopedDvEntry]] forms cover only one-column
    * equality/IN). Positions are inherently file-scoped, so SQL
    * DELETE's "rows that exist now" semantics need no scope list: a
    * file committed later is untouched by construction, and a
    * removed file's entries are inert. Reads subtract by
    * `(file, row_index)` using Spark's own parquet row-index
    * generation (correct under row-group pruning, so predicate
    * pushdown survives — the property the whole design rests on);
    * rewrites/compaction apply the mask physically and retire the
    * line. Size contract: `spark.graft.dv.maxPositions`. */
  private[graft] final case class PdvEntry(name: String) extends Line
  private[graft] final case class SchemaEntry(schema: StructType) extends Line
  /** Delta `SetTransaction`'s role: the highest streaming batch id a
    * given writer (appId) has committed. Written by
    * [[writeVersionStreamBatch]], carried forward by appends, and the
    * idempotence check a restarted streaming query's replayed epoch
    * fails against — exactly-once without any sink-side state file.
    * Format `txn:<batchId>:<appId>` (batch first: appIds may contain
    * colons — they default to checkpoint paths). */
  private[graft] final case class TxnEntry(batchId: Long, appId: String) extends Line
  /** One SOURCE FILE already loaded by COPY INTO (`ingest:<absPath>`)
    * — the per-file idempotence ledger (Delta COPY INTO's role): a
    * re-run skips every path recorded here. Carried by appends inside
    * prevLines and by data overwrites explicitly (like txn watermarks
    * — maintenance must never re-open the exactly-once window);
    * REPLACE TABLE resets it with the rest of the definition. */
  private[graft] final case class IngestEntry(path: String) extends Line
  /** The table's partition columns, in order (`partition:<c1,c2>`).
    * A partitioned version's data dirs hold hive-layout subtrees
    * (`dataDir/col=value/part-*.parquet`); the recorded union schema
    * carries the partition columns LAST (Spark's read order), the
    * per-file stats record each file's partition values as min=max
    * bounds derived from its subpath, and reads serve through the
    * partition-aware [[ManifestFileIndex]] so `PartitionFilters`
    * prune at plan time — the reference's own partition-pruning idiom
    * (ref: mnt/spark/apps/bronze_to_silver.py:143-151) composed with
    * time travel. */
  private[graft] final case class PartitionEntry(cols: Seq[String]) extends Line
  /** A change feed RECORDED at write time (Delta CDF's `_change_data`
    * role): `dirName` holds the classified diff from `vFrom` to `vTo`
    * over `keys`, written by [[writeVersionWithChangeFeed]] in the
    * same commit as the new state. [[changesBetween]] serves it
    * instead of re-deriving (O(feed) instead of O(both versions) for
    * every repeated CDC consumer); manifests without a matching line
    * fall back to the derive path. Format
    * `changes:<vFrom>:<vTo>:<k1,k2>:<dirName>`. */
  private[graft] final case class ChangesEntry(vFrom: Int, vTo: Int, keys: Seq[String],
                                        name: String) extends Line
  /** An enforced CHECK constraint (Delta CHECK-constraint role):
    * `constraint:<name>:<predicateSql>`. SQL semantics — a row
    * violates only when the predicate evaluates FALSE (NULL passes).
    * Constraints ride every commit (append AND overwrite: they are
    * table definition, not data), every WRITE validates its new dir
    * against them before the manifest commit, and Spark's own
    * analyzer additionally enforces them plan-side on SQL writes
    * (the table reports them via DSv2 `Table.constraints()`). */
  private[graft] final case class ConstraintEntry(name: String, predicateSql: String) extends Line
  /** An enforced NOT NULL column constraint (`notnull:<col>`): every
    * write validates the new dir holds no null for the column — from
    * the footer harvest's null counts in the passing case, so
    * enforcement usually costs zero extra IO — and a write whose
    * files LACK the column refuses too (the union-schema read would
    * null-backfill it). The SQL catalog additionally reports the
    * column non-nullable through the table schema, so Spark's ANSI
    * store assignment injects the plan-side runtime check on SQL
    * writes. Like CHECK constraints, NOT NULL is table definition:
    * carried by appends and data overwrites, dropped by REPLACE
    * TABLE, versioned like everything else (time travel to a
    * pre-constraint version serves a nullable column). */
  private[graft] final case class NotNullEntry(col: String) extends Line

  /** COLUMN MAPPING (Delta column-mapping 'name' mode's role, top-level
    * columns): `colmap:<logical>=<physical>,…` — the singleton line
    * mapping each RENAMED column's logical (user-facing) name to the
    * physical name its bytes carry in every parquet file of the chain.
    * A rename is then a METADATA-ONLY commit: the files, their footer
    * stats, the deletion-vector key columns, and the NOT NULL lines
    * all keep the PHYSICAL name — the whole internal pipeline stays
    * physical — and exactly two boundaries translate: reads rename
    * physical→logical as their final projection (predicate pushdown
    * and column pruning translate back automatically through the
    * alias), and DataFrame writes rename logical→physical before any
    * byte lands ([[toPhysical]]). Identity entries are never stored;
    * an OVERWRITE starts the physical layout fresh from its own files
    * and drops the line. */
  private[graft] final case class ColMapEntry(entries: Seq[(String, String)]) extends Line

  /** BLOOM-INDEX DECLARATION (`bloomcol:<physCol>:<bits>`): the table's
    * one declared point-lookup column — every commit from then on
    * builds a [[Bloom]] filter per new file (one column-pruned scan of
    * the new dir, O(delta)) and stores it in the manifest, so an
    * EqualTo/In on the column prunes FILES whose min/max ranges all
    * overlap the key — the interleaved-key layout bounds cannot touch.
    * Table definition: carried by appends and data overwrites, dropped
    * by REPLACE TABLE. */
  private[graft] final case class BloomColEntry(col: String, bits: Int) extends Line

  /** One data dir's per-file blooms for the declared column. Two
    * serializations, one in-memory shape:
    *
    *   - INLINE (`bloom:<dir>:<col>:<file>=<base64>,…`), `sidecar`
    *     None — small dirs keep the store's zero-metadata-call plan
    *     contract;
    *   - SIDECAR (`bloomref:<dir>:<col>:<absolute sidecar path>`),
    *     `sidecar` Some — once a dir's blob payload crosses
    *     `spark.graft.sidecar.minBytes` the blobs move to an
    *     immutable content-addressed file under `_versions/blooms/`
    *     and the manifest carries ONE line. Without this a 10⁶-file
    *     chain at the default 32 KiB blob is a ~44 GB manifest that
    *     every checkpoint re-writes; with it the manifest stays
    *     O(dirs) and each sidecar is read once per JVM (cached — the
    *     file is immutable, its name is its content hash).
    *
    * Replaced wholesale when a file rewrite trims the dir (the trim
    * drops the ref: content changed ⇒ new sidecar or back inline);
    * dropped with the dir. [[pruneVersions]] reclaims local sidecars
    * no surviving manifest references. */
  private[graft] final case class BloomEntry(dir: String, col: String,
                                      files: Map[String, Array[Byte]],
                                      sidecar: Option[String] = None) extends Line

  /** IDENTITY high-water mark (`hwm:<physCol>:<next>`): the NEXT
    * value a `GENERATED … AS IDENTITY` assignment may use. Advanced
    * in the SAME atomic commit as the data it covers (the claim IS
    * the OCC), monotone in the step's direction, initialized to the
    * declared start at CREATE. Identity values may have GAPS (the
    * distributed assignment trades density for zero extra jobs,
    * Delta's documented contract); they never repeat. */
  private[graft] final case class HwmEntry(col: String, next: Long) extends Line

  /** The FORMAT-VERSION gate (`protocol:<n>`) — Delta's protocol
    * action's role. The manifest format has accreted ~20 line types
    * across rounds; without a recorded version the first line type a
    * FUTURE writer adds would hit an older reader's fallthrough and
    * parse as garbage instead of a clean refusal. Every commit stamps
    * the writer's protocol (at the same single seam as `ts:`); a
    * reader meeting a HIGHER number — or any unknown `<word>:` line
    * type, the belt to this suspender — refuses with "upgrade
    * required" rather than misread committed state. Bump
    * [[SupportedProtocol]] exactly when a change would make an older
    * reader WRONG (new line type, changed line semantics) — never for
    * additive metadata an old reader can safely ignore. */
  private[graft] final case class ProtocolEntry(n: Int) extends Line

  /** The highest manifest protocol this build reads and the one it
    * writes. History: 1 = every format through round 15 (the strict
    * parser and the stamp itself landed together — all earlier
    * manifests are protocol-1 shaped and read unchanged). */
  private[ext] val SupportedProtocol = 1

  /** A PROTOCOL FEATURE declaration (`feature:<name>:required|optional`)
    * — Delta's reader/writer table-feature role: independent format
    * features gate independently instead of forcing a linear protocol
    * bump. A reader meeting a REQUIRED feature it does not support
    * refuses NAMING it (misreading committed state is never an
    * option); an unsupported OPTIONAL feature is carried verbatim and
    * ignored (it declares something a reader may exploit, never
    * something it must understand). Features are stamped by the first
    * commit that uses them (positional deletion vectors stamp `pdv`),
    * ride appends and file rewrites with the lines they gate, and
    * retire through the explicit [[dropTableFeature]] — which refuses
    * while the feature is still in use. An OVERWRITE resets them
    * together with the gated lines themselves: manifests here are
    * FULL self-describing state, so unlike Delta's shared log a
    * post-overwrite manifest genuinely contains nothing the feature
    * gates, while time travel to gated versions re-reads their own
    * declarations. Readers from builds predating this line type
    * refuse it through the strict unknown-line gate, so the clean
    * upgrade-required message still reaches them. */
  private[graft] final case class FeatureEntry(name: String,
                                             required: Boolean) extends Line

  /** The protocol features this build understands. */
  private[ext] val SupportedFeatures: Set[String] = Set("pdv", "ingest")

  /** The IN-COMMIT timestamp (`ts:<epochMillis>`) — Delta's
    * inCommitTimestamps role. `TIMESTAMP AS OF` resolved by file
    * MODIFICATION time breaks the moment the log leaves one
    * filesystem's custody: object-store copies, backup restores, and
    * clones all reset mtime, and multi-writer clock skew can make it
    * non-monotone. The commit seam stamps every manifest with a
    * RECORDED clock instead, forced monotone against the parent
    * (`max(now, parent+1)`); readers fall back to mtime only for
    * manifests that predate the line. */
  private[graft] final case class TsEntry(millis: Long) extends Line

  /** One TABLE PROPERTY (`prop:<key>:<value>`) — Delta's
    * TBLPROPERTIES role. Keys are dotted-word-shaped (they embed in
    * the manifest), values one-line; properties REPLACE by key, drop
    * with `-prop:<key>`, survive data overwrites like constraints
    * (table definition, not data) and reset on REPLACE TABLE. The
    * engine itself consults `graft.autoCompact.*` and
    * `graft.optimizeWrite.enabled` here when the session conf doesn't
    * override — Delta's delta.autoOptimize.* idiom. */
  private[graft] final case class PropEntry(key: String, value: String) extends Line

  /** The DATA-CHANGE=FALSE marker (`rearrange:1`) — Delta's
    * `dataChange=false` file-action role, version-scoped. Present in
    * version v's resolved lines ⟺ v's commit REARRANGED bytes without
    * changing served content (small-dir compaction, partition-scoped
    * compaction/Z-order): files moved, rows didn't. Streaming sources
    * skip such versions instead of failing the appends-only premise,
    * and change feeds emit nothing for them. The flag never inherits:
    * delta resolution strips the parent's before folding ops, full
    * manifests drop it at the commit seam (clone/restore render old
    * state), and checkpoints carry it only for the flagged version
    * itself. */
  private[graft] final case class RearrangeEntry() extends Line

  /** One data dir's statistics — dir-aggregate rows/col bounds plus
    * the per-FILE list reads plan from. Two serializations, one
    * in-memory shape (the [[BloomEntry]] sidecar pattern):
    *
    *   - INLINE (`stats:<dir>:<json>`), `sidecar` None — small dirs
    *     keep the zero-metadata-call contract;
    *   - SIDECAR (`statsref:<dir>:<absolute path>`), `sidecar` Some —
    *     once a dir's stats JSON crosses
    *     `spark.graft.sidecar.minBytes` the payload moves to an
    *     immutable content-addressed file under `_versions/stats/`
    *     and the manifest carries ONE line. This is the LAST O(files)
    *     metadata surface: at 10⁶ files the inline form is tens of MB
    *     of JSON re-written every checkpoint and parsed per JVM
    *     (Delta's answer is the parquet checkpoint + v2 sidecars).
    *
    * Unlike a bloom blob, the file list is LOAD-BEARING (reads plan
    * from it; a trimmed dir's physical files include REMOVED ones), so
    * a missing sidecar REFUSES the parse rather than degrade — the
    * Delta-honest posture for required metadata. Shallow AND deep
    * clones copy stats sidecars into the target (they are small), so
    * only external interference can orphan one. */
  private[graft] final case class StatsEntry(name: String, rows: Long,
                                           cols: Map[String, ColStats],
                                           files: Seq[FileStats],
                                           sidecar: Option[String] = None) extends Line

  /** Footer-aggregated statistics of one column over one data dir.
    * `min`/`max` are canonical strings in the column's comparison
    * domain ([[Skipping.canonicalOf]]); None when the dir holds no
    * non-null value for the column. `nulls` is None when any footer
    * lacked a null count (statistics unusable → never skip on it). */
  private[graft] final case class ColStats(min: Option[String], max: Option[String],
                                         nulls: Option[Long])

  /** One parquet file of a data dir, as the manifest records it:
    * name + size (so reads plan with zero filesystem metadata calls)
    * plus the file's OWN row count and column bounds — Delta's
    * per-add-file stats role. Dir-granular min/max cannot prune
    * inside a single large commit (at 100 TB one append is thousands
    * of files spanning the full key range); per-file bounds let
    * [[ManifestFileIndex.listFiles]] drop individual files of a
    * surviving dir. `rows` is None for entries recorded before the
    * per-file-stats format — such files are always read. */
  private[graft] final case class FileStats(name: String, bytes: Long,
                                          rows: Option[Long],
                                          cols: Map[String, ColStats])

  private[ext] def parseLine(line: String, loadSidecars: Boolean = true): Line =
    if (line.startsWith("schema:"))
      SchemaEntry(org.apache.spark.sql.types.DataType
        .fromJson(line.drop(7)).asInstanceOf[StructType])
    else if (line.startsWith("stats:")) {
      val rest = line.drop(6)
      val i = rest.indexOf(':')
      require(i > 0, s"malformed stats manifest line: $line")
      val (rows, cols, files) = StatsJson.parse(rest.substring(i + 1))
      StatsEntry(rest.substring(0, i), rows, cols, files)
    } else if (line.startsWith("statsref:")) {
      // dir names are ':'-free (commit-time guards); the TAIL is the
      // sidecar's absolute scheme-free path, taken whole
      val rest = line.drop(9)
      val i = rest.indexOf(':')
      require(i > 0 && i < rest.length - 1,
        s"malformed stats-sidecar manifest line: $line")
      val (rows, cols, files) =
        if (loadSidecars) loadStatsSidecar(rest.substring(i + 1))
        else (0L, Map.empty[String, ColStats], Seq.empty[FileStats])
      StatsEntry(rest.substring(0, i), rows, cols, files,
        Some(rest.substring(i + 1)))
    } else if (line.startsWith("changes:")) {
      val parts = line.drop(8).split(":", 4)
      require(parts.length == 4, s"malformed change-feed manifest line: $line")
      ChangesEntry(parts(0).toInt, parts(1).toInt,
        parts(2).split(',').map(_.trim).filter(_.nonEmpty).toSeq, parts(3))
    } else if (line.startsWith("constraint:")) {
      val rest = line.drop(11)
      val i = rest.indexOf(':')
      require(i > 0 && i < rest.length - 1,
        s"malformed constraint manifest line: $line")
      ConstraintEntry(rest.substring(0, i), rest.substring(i + 1))
    } else if (line.startsWith("partition:")) {
      PartitionEntry(line.drop(10).split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    } else if (line.startsWith("txn:")) {
      val rest = line.drop(4)
      val i = rest.indexOf(':')
      require(i > 0 && i < rest.length - 1,
        s"malformed transaction manifest line: $line")
      TxnEntry(rest.substring(0, i).toLong, rest.substring(i + 1))
    } else if (line.startsWith("notnull:")) {
      val c = line.drop(8)
      require(c.nonEmpty, s"malformed not-null manifest line: $line")
      NotNullEntry(c)
    } else if (line.startsWith("hwm:")) {
      val rest = line.drop(4)
      val i = rest.lastIndexOf(':')
      require(i > 0 && i < rest.length - 1,
        s"malformed identity high-water-mark manifest line: $line")
      HwmEntry(rest.substring(0, i), rest.substring(i + 1).toLong)
    } else if (line.startsWith("ts:")) {
      TsEntry(line.drop(3).trim.toLong)
    } else if (line.startsWith("prop:")) {
      val rest = line.drop(5)
      val i = rest.indexOf(':')
      require(i > 0, s"malformed table-property manifest line: $line")
      PropEntry(rest.substring(0, i), rest.substring(i + 1))
    } else if (line.startsWith("rearrange:")) {
      RearrangeEntry()
    } else if (line.startsWith("protocol:")) {
      val n = line.drop(9).trim.toInt
      if (n > SupportedProtocol) throw new IllegalStateException(
        s"this table was written with graft manifest protocol $n; this reader " +
          s"supports protocol $SupportedProtocol — upgrade the engine before " +
          "reading (refusing is the contract: misparsing a newer format risks " +
          "silently wrong state)")
      ProtocolEntry(n)
    } else if (line.startsWith("bloomcol:")) {
      val rest = line.drop(9)
      val i = rest.lastIndexOf(':')
      require(i > 0 && i < rest.length - 1,
        s"malformed bloom-column manifest line: $line")
      BloomColEntry(rest.substring(0, i), rest.substring(i + 1).toInt)
    } else if (line.startsWith("bloom:")) {
      val parts = line.drop(6).split(":", 3)
      // the FILE-LIST tail may be empty — a dir that is all-null in
      // the declared column has no per-file bloom (nothing to hash),
      // renders as `bloom:<dir>:<col>:`, and the one-sided skipping
      // contract already treats a bloom-less file as "keep". Refusing
      // the empty tail here made such a committed manifest unreadable.
      require(parts.length == 3 && parts(0).nonEmpty && parts(1).nonEmpty,
        s"malformed bloom manifest line: $line")
      BloomEntry(parts(0), parts(1),
        parts(2).split(',').iterator.filter(_.nonEmpty).map { e =>
          // the separator is the LAST '=' before the blob: a hive
          // subpath file name legally contains '=' ("bucket=0/part-…"),
          // while a base64 BODY never does ('=' is only trailing
          // padding, stripped before the search)
          var k = e.length
          while (k > 0 && e.charAt(k - 1) == '=') k -= 1
          val j = e.lastIndexOf('=', k - 1)
          require(j > 0, s"malformed bloom file entry: $e")
          e.substring(0, j) -> Bloom.fromBase64(e.substring(j + 1))
        }.toMap)
    } else if (line.startsWith("bloomref:")) {
      // dir and col are ':'-free (commit-time guards); the TAIL is the
      // sidecar's absolute path, taken whole (split limit 3)
      val parts = line.drop(9).split(":", 3)
      require(parts.length == 3 && parts.forall(_.nonEmpty),
        s"malformed bloom-sidecar manifest line: $line")
      BloomEntry(parts(0), parts(1),
        if (loadSidecars) loadBloomSidecar(parts(2)) else Map.empty, Some(parts(2)))
    } else if (line.startsWith("colmap:")) {
      ColMapEntry(line.drop(7).split(',').map(_.trim).filter(_.nonEmpty).toSeq.map { e =>
        val i = e.indexOf('=')
        require(i > 0 && i < e.length - 1, s"malformed column-mapping manifest line: $line")
        (e.substring(0, i), e.substring(i + 1))
      })
    } else if (line.startsWith("dvs:")) {
      val parts = line.drop(4).split(":", 3)
      require(parts.length == 3 && parts.forall(_.nonEmpty),
        s"malformed scoped deletion-vector manifest line: $line")
      ScopedDvEntry(parts(0), parts(1),
        parts(2).split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    } else if (line.startsWith("dv:")) {
      val rest = line.drop(3)
      val i = rest.indexOf(':')
      require(i > 0 && i < rest.length - 1,
        s"malformed deletion-vector manifest line: $line")
      DvEntry(rest.substring(0, i), rest.substring(i + 1))
    } else if (line.startsWith("pdv:")) {
      val n = line.drop(4)
      require(n.nonEmpty, s"malformed positional deletion-vector manifest line: $line")
      PdvEntry(n)
    } else if (line.startsWith("ingest:")) {
      val p = line.drop(7)
      require(p.nonEmpty, s"malformed ingest-ledger manifest line: $line")
      IngestEntry(p)
    } else if (line.startsWith("feature:")) {
      val parts = line.drop(8).split(":", 2)
      require(parts.length == 2 && parts(0).nonEmpty &&
        (parts(1) == "required" || parts(1) == "optional"),
        s"malformed protocol-feature manifest line: $line")
      val required = parts(1) == "required"
      if (required && !SupportedFeatures.contains(parts(0)))
        throw new IllegalStateException(
          s"this table requires the manifest protocol feature '${parts(0)}', which " +
            s"this reader does not support (has: ${SupportedFeatures.toSeq.sorted.mkString(", ")}) " +
            "— upgrade the engine before reading (refusing is the contract: " +
            "misparsing state written under an unknown required feature risks " +
            "silently wrong results)")
      FeatureEntry(parts(0), required)
    } else if (line.matches("[A-Za-z][A-Za-z0-9_.-]*:.*")) {
      // STRICT fallthrough: a word-shaped `<kind>:` prefix this reader
      // does not know is a FUTURE line type, never a data dir — data
      // entries are machine-named `v%08d_<kind>_<nonce>` or colon-free
      // absolute paths (commit-time guards), so they can never match.
      // Treating the line as a phantom DataEntry (the old fallthrough)
      // would at best fail the read on a missing dir and at worst
      // serve a WRONG dir set.
      throw new IllegalStateException(
        s"unknown manifest entry type '${line.takeWhile(_ != ':')}:' — written " +
          s"by a newer graft (this reader supports manifest protocol " +
          s"$SupportedProtocol); upgrade the engine before reading this table")
    } else DataEntry(line)


  /** Resolved-snapshot LRU cache. Sound because a committed manifest is
    * IMMUTABLE: the put-if-absent claim is its only writer, restore
    * commits a NEW version, and only prune/drop ever delete one (both
    * evict — within THIS JVM; a foreign driver dropping and
    * re-creating a table at the same path is the one staleness
    * window, the same one Delta's snapshot cache accepts, and it
    * surfaces as a read error on the vanished dirs, never as silent
    * wrong rows). The cost this removes is real at scale — one SQL
    * read consults the version several times (load → scan → serving
    * index), and with per-file stats at 10⁶ files a manifest is tens
    * of MB whose parse should happen once per JVM, not once per plan
    * step. The cached value is the [[Snapshot]] itself, so the facts
    * it derives are computed once too.
    *
    * Bounded by WEIGHT, not entry count: an entry's weight is its
    * recorded file-stats count (the dominant allocation — a
    * 10⁶-file manifest must not be multiplied by an entry-count
    * bound), 2M in total. */
  private[ext] val manifestCache =
    new BoundedCache[String, Snapshot](2L * 1000 * 1000, s => lineWeight(s.lines))

  private def lineWeight(ls: Seq[Line]): Long =
    ls.iterator.map {
      case s: StatsEntry => 1L + s.files.length
      // a bloom blob is ~hundreds of FileStats-equivalents of memory
      case b: BloomEntry => 1L + b.files.valuesIterator.map(_.length.toLong).sum / 64
      case _ => 1L
    }.sum

  /** Cache keys are the FILESYSTEM-QUALIFIED manifest path: the same
    * table addressed through equivalent-but-different spellings
    * (scheme-qualified vs plain, trailing slash) must fill and evict
    * under ONE key, or a prune/drop through one spelling would leave
    * the other spelling serving a deleted version's cached parse. */
  private def cacheKey(spark: SparkSession, dir: String, v: Int): String = {
    val (fs, _) = fsFor(spark, dir)
    fs.makeQualified(manifestPath(dir, v)).toString
  }

  // ───────────── O(delta) manifests: incremental commits ─────────────
  // A manifest file is either FULL STATE (the original format: every
  // line a fact) or a DELTA against its parent — first line
  // `parent:<v>`, then ops. At 10⁶ files with per-file stats a full
  // manifest is tens of MB; re-serializing it on EVERY append made
  // each commit's metadata write O(table). A delta commit writes only
  // what changed (Delta Lake's log is O(delta) JSON actions for the
  // same reason), and every Nth commit — plus every overwrite, which
  // starts the state fresh anyway — is a FULL checkpoint bounding the
  // resolution chain. Readers are untouched above the parser: [[resolve]]
  // resolves a delta by folding its ops over the parent's RESOLVED
  // lines (cached, so the fold happens once per JVM per version).
  //
  // Delta ops:
  //   `+<rendered line>`   add, with replace-by-key semantics per kind
  //                        (schema/partition replace the singleton;
  //                        txn replaces the same appId; stats replaces
  //                        the same dir; constraint replaces the same
  //                        name; a data dir adds if absent)
  //   `-data:<dir>`        drop a data dir AND its stats entry
  //   `-dv:<dir>`          drop a deletion-vector entry by dir name
  //   `-txn:<appId>`       drop a writer's txn watermark
  //   `-constraint:<name>` drop a CHECK constraint
  //
  // Checkpoints are SIDECARS (`<v>.checkpoint` beside `<v>.manifest`),
  // not alternate manifest contents: the manifest that claimed a
  // version is immutable, while a checkpoint is DERIVED state that can
  // be (re)created any time from the chain — which is what lets
  // [[pruneVersions]] keep its exact keepLast contract: before
  // dropping a kept delta's parents it materializes the boundary
  // version's checkpoint, then reclaims. Delta's `_delta_log` has the
  // same json-actions + parquet-checkpoint split.

  /** Fold one delta manifest's ops over the parent's resolved lines.
    * The parent's rearrange flag strips FIRST — it describes the
    * parent's own commit, never this one's; a rearrange commit
    * re-adds it through its `+rearrange:1` op. With `loadSidecars`
    * off, added sidecar refs keep their refs but not their payloads —
    * enough to render the result, which is all a commit folding its
    * own checkpoint does with it. */
  private[ext] def applyOps(base: Seq[Line], ops: Seq[String],
                            loadSidecars: Boolean = true): Seq[Line] =
    ops.foldLeft(base.filterNot(_.isInstanceOf[RearrangeEntry])) { (acc, op) =>
      if (op.startsWith("+")) parseLine(op.drop(1), loadSidecars) match {
        case s: SchemaEntry    => s +: acc.filterNot(_.isInstanceOf[SchemaEntry])
        case p: PartitionEntry => p +: acc.filterNot(_.isInstanceOf[PartitionEntry])
        case t: TxnEntry       => acc.filterNot {
          case TxnEntry(_, a) => a == t.appId; case _ => false } :+ t
        case s: StatsEntry     => acc.filterNot {
          case e: StatsEntry => e.name == s.name; case _ => false } :+ s
        case c: ConstraintEntry => acc.filterNot {
          case e: ConstraintEntry => e.name.equalsIgnoreCase(c.name); case _ => false } :+ c
        case nn: NotNullEntry  => acc.filterNot {
          case e: NotNullEntry => e.col.equalsIgnoreCase(nn.col); case _ => false } :+ nn
        case h: HwmEntry       => acc.filterNot {
          case e: HwmEntry => e.col.equalsIgnoreCase(h.col); case _ => false } :+ h
        case t: TsEntry        => t +: acc.filterNot(_.isInstanceOf[TsEntry])
        case p: PropEntry      => acc.filterNot {
          case e: PropEntry => e.key.equalsIgnoreCase(p.key); case _ => false } :+ p
        case p: ProtocolEntry  => p +: acc.filterNot(_.isInstanceOf[ProtocolEntry])
        case f: FeatureEntry   => acc.filterNot {
          case e: FeatureEntry => e.name.equalsIgnoreCase(f.name); case _ => false } :+ f
        case cm: ColMapEntry   => acc.filterNot(_.isInstanceOf[ColMapEntry]) :+ cm
        case bc: BloomColEntry => acc.filterNot {
          case e: BloomColEntry => e.col.equalsIgnoreCase(bc.col); case _ => false } :+ bc
        case b: BloomEntry     => acc.filterNot {
          case e: BloomEntry => e.dir == b.dir && e.col.equalsIgnoreCase(b.col)
          case _ => false } :+ b
        case d: DataEntry      => if (acc.contains(d)) acc else acc :+ d
        case i: IngestEntry    => if (acc.contains(i)) acc else acc :+ i
        case other             => acc :+ other // dv, changes: plain adds
      } else if (op.startsWith("-data:")) {
        val n = op.drop(6)
        acc.filterNot {
          case DataEntry(e)       => e == n
          case s: StatsEntry      => s.name == n
          case b: BloomEntry      => b.dir == n
          case _ => false
        }
      } else if (op.startsWith("-bloomcol:")) {
        // undeclare ONE column: its declaration and its blobs drop;
        // other declared columns' blooms stay live
        val c = op.drop(10)
        acc.filterNot {
          case e: BloomColEntry => e.col.equalsIgnoreCase(c)
          case e: BloomEntry    => e.col.equalsIgnoreCase(c)
          case _ => false
        }
      } else if (op.startsWith("-bloomcol")) {
        // undeclaring (all columns) drops every (now-stale) blob with it
        acc.filterNot(l => l.isInstanceOf[BloomColEntry] || l.isInstanceOf[BloomEntry])
      } else if (op.startsWith("-bloom:")) {
        val n = op.drop(7)
        acc.filterNot { case b: BloomEntry => b.dir == n; case _ => false }
      } else if (op.startsWith("-dv:")) {
        val n = op.drop(4)
        acc.filterNot {
          case DvEntry(_, e) => e == n
          case ScopedDvEntry(_, e, _) => e == n
          case PdvEntry(e) => e == n
          case _ => false
        }
      } else if (op.startsWith("-txn:")) {
        val a = op.drop(5)
        acc.filterNot { case TxnEntry(_, e) => e == a; case _ => false }
      } else if (op == "-ingest") {
        // forget the WHOLE COPY INTO ledger (retention reset): the
        // next copyInto re-considers every source file
        acc.filterNot(_.isInstanceOf[IngestEntry])
      } else if (op.startsWith("-constraint:")) {
        val n = op.drop(12)
        acc.filterNot { case ConstraintEntry(e, _) => e.equalsIgnoreCase(n); case _ => false }
      } else if (op.startsWith("-prop:")) {
        val k = op.drop(6)
        acc.filterNot { case PropEntry(e, _) => e.equalsIgnoreCase(k); case _ => false }
      } else if (op.startsWith("-feature:")) {
        val n = op.drop(9)
        acc.filterNot { case FeatureEntry(e, _) => e.equalsIgnoreCase(n); case _ => false }
      } else if (op.startsWith("-notnull:")) {
        val c = op.drop(9)
        acc.filterNot { case NotNullEntry(e) => e.equalsIgnoreCase(c); case _ => false }
      } else if (op.startsWith("-hwm:")) {
        val c = op.drop(5) // the identity column was dropped
        acc.filterNot { case HwmEntry(e, _) => e.equalsIgnoreCase(c); case _ => false }
      } else if (op == "-colmap") {
        acc.filterNot(_.isInstanceOf[ColMapEntry]) // rename chain folded back to identity
      } else throw new IllegalStateException(s"malformed delta-manifest op: $op")
    }

  /** Resolve one version to its full line set: a checkpoint sidecar
    * parses directly (unless `useCheckpoint` is off); so does a full
    * manifest; a delta folds over the parent's (cached) resolution. */
  private def resolveLines(spark: SparkSession, dir: String, v: Int,
                           useCheckpoint: Boolean): Seq[Line] = {
    val (fs, _) = fsFor(spark, dir)
    val cp = checkpointPath(dir, v)
    if (useCheckpoint && fs.exists(cp)) {
      val in = fs.open(cp)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim).filter(_.nonEmpty).map(parseLine(_)).toList
      finally in.close()
    } else {
      val raw = readManifest(spark, dir, v)
      raw.headOption.filter(_.startsWith("parent:")) match {
        case None => raw.map(parseLine(_))
        case Some(head) =>
          val parent = head.drop(7).trim.toInt
          applyOps(resolve(spark, dir, parent).lines, raw.tail)
      }
    }
  }

  /** Version `v` of the table at `dir`, resolved once per JVM and
    * served from the cache after that. A cached snapshot resolved
    * under another spelling of `dir` is re-wrapped, so its absolute
    * paths always extend the caller's spelling. */
  private[ext] def resolve(spark: SparkSession, dir: String, v: Int): Snapshot = {
    val key = cacheKey(spark, dir, v)
    val s = manifestCache.get(key).getOrElse {
      val parsed = new Snapshot(dir, v, resolveLines(spark, dir, v, useCheckpoint = true))
      manifestCache.put(key, parsed)
      parsed
    }
    if (s.dir == dir) s else new Snapshot(dir, v, s.lines)
  }

  /** Version `v` resolved both ways, uncached: through its checkpoint
    * sidecar (None when it has none) and through the delta fold. The
    * two must agree — the test seam for that contract. */
  private[graft] def resolveEachWay(spark: SparkSession, dir: String, v: Int)
      : (Option[Snapshot], Snapshot) = {
    val (fs, _) = fsFor(spark, dir)
    val viaCheckpoint =
      if (!fs.exists(checkpointPath(dir, v))) None
      else Some(new Snapshot(dir, v, resolveLines(spark, dir, v, useCheckpoint = true)))
    (viaCheckpoint, new Snapshot(dir, v, resolveLines(spark, dir, v, useCheckpoint = false)))
  }

  /** Drop cached snapshots of versions that no longer exist (prune,
    * drop) — serving a deleted manifest from cache would resurrect a
    * pruned version's file list. */
  private[ext] def evict(spark: SparkSession, dir: String, vs: Iterable[Int]): Unit =
    manifestCache.remove(vs.map(cacheKey(spark, dir, _)))

  /** Drop every cached snapshot of any version under `dir` — the
    * fresh-chain (v0) claim path. */
  private[ext] def evictDir(spark: SparkSession, dir: String): Unit = {
    val (fs, root) = fsFor(spark, dir)
    val prefix = fs.makeQualified(new Path(root, VDIR)).toString + "/"
    manifestCache.removeIf(_.startsWith(prefix))
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.ext.Snapshot")

  /** Read one sidecar through `cache`, parsing its text with `parse`
    * on a miss. A MISSING file returns None and caches nothing, so a
    * restored file serves on the next read; each kind decides what a
    * missing sidecar means. */
  private def readSidecar[V](cache: BoundedCache[String, V], path: String)
                            (parse: String => V): Option[V] =
    cache.get(path).orElse {
      val p = new Path(path)
      val fs = p.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
      val body =
        try {
          val in = fs.open(p)
          try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString) finally in.close()
        } catch { case _: java.io.FileNotFoundException => None }
      body.map { b =>
        val parsed = parse(b)
        cache.put(path, parsed)
        parsed
      }
    }

  /** Bloom sidecar parses, bounded by blob bytes. */
  private[ext] val bloomSidecarCache = new BoundedCache[String, Map[String, Array[Byte]]](
    256L * 1024 * 1024, _.valuesIterator.map(_.length.toLong).sum)

  /** Read one bloom sidecar (cached). A MISSING sidecar degrades to an
    * empty map with a warning rather than bricking the table: blooms
    * are one-sided skipping metadata — no bloom means every file is
    * read, never a wrong row. The case is reachable only by external
    * interference (the documented clone caveat: the SOURCE owns a
    * cloned ref's file and its prune may reclaim it). */
  private def loadBloomSidecar(path: String): Map[String, Array[Byte]] =
    readSidecar(bloomSidecarCache, path) { body =>
      body.split('\n').iterator.filter(_.nonEmpty).map { e =>
        var k = e.length
        while (k > 0 && e.charAt(k - 1) == '=') k -= 1
        val j = e.lastIndexOf('=', k - 1)
        require(j > 0, s"malformed bloom sidecar entry in $path: $e")
        e.substring(0, j) -> Bloom.fromBase64(e.substring(j + 1))
      }.toMap
    }.getOrElse {
      log.warn(s"bloom sidecar $path is missing — point-lookup skipping " +
        "degrades to reading every file of its dir (results stay exact); " +
        "was the clone SOURCE pruned?")
      Map.empty
    }

  /** Stats sidecar parses, weighted by recorded file count — the same
    * unit and bound as the manifest cache. */
  private[ext] val statsSidecarCache =
    new BoundedCache[String, (Long, Map[String, ColStats], Seq[FileStats])](
      2L * 1000 * 1000, 1L + _._3.length)

  /** Read one stats sidecar (cached). A MISSING file REFUSES with the
    * remedy named — unlike a bloom blob, the file list is what reads
    * PLAN from, and a silent fallback to directory listing would serve
    * rows a CoW rewrite already removed from a trimmed dir. */
  private def loadStatsSidecar(path: String): (Long, Map[String, ColStats], Seq[FileStats]) =
    readSidecar(statsSidecarCache, path)(body => StatsJson.parse(body.trim)).getOrElse(
      throw new IllegalStateException(
        s"stats sidecar $path is MISSING — the manifest's per-file lists " +
          "live there and reads plan from them, so this table cannot be " +
          "served exactly. Restore the file, or re-create the state it " +
          "described (was a foreign table's prune pointed at this tree?)"))

  private[ext] def renderLine(l: Line): String = l match {
    case DataEntry(n)      => n
    case DvEntry(k, n)     => s"dv:$k:$n"
    case ScopedDvEntry(k, n, sc) => s"dvs:$k:$n:${sc.mkString(",")}"
    case PdvEntry(n)       => s"pdv:$n"
    case FeatureEntry(n, req) => s"feature:$n:${if (req) "required" else "optional"}"
    case SchemaEntry(s)    => s"schema:${s.json}"
    case TxnEntry(b, a)    => s"txn:$b:$a"
    case IngestEntry(p)    => s"ingest:$p"
    case PartitionEntry(cs) => s"partition:${cs.mkString(",")}"
    case ConstraintEntry(n, sql) => s"constraint:$n:$sql"
    case NotNullEntry(c)   => s"notnull:$c"
    case HwmEntry(c, n)    => s"hwm:$c:$n"
    case TsEntry(ms)       => s"ts:$ms"
    case PropEntry(k, v)   => s"prop:$k:$v"
    case RearrangeEntry()  => "rearrange:1"
    case ProtocolEntry(n)  => s"protocol:$n"
    case ColMapEntry(es)   => s"colmap:${es.map { case (l, p) => s"$l=$p" }.mkString(",")}"
    case BloomColEntry(c, bits) => s"bloomcol:$c:$bits"
    case BloomEntry(d, c, _, Some(ref)) => s"bloomref:$d:$c:$ref"
    case BloomEntry(d, c, fs, None) => s"bloom:$d:$c:" +
      fs.toSeq.sortBy(_._1).map { case (f, b) => s"$f=${Bloom.toBase64(b)}" }.mkString(",")
    case ChangesEntry(f, t, ks, n) => s"changes:$f:$t:${ks.mkString(",")}:$n"
    case StatsEntry(n, _, _, _, Some(ref)) => s"statsref:$n:$ref"
    case StatsEntry(n, r, c, f, None) => s"stats:$n:${StatsJson.render(r, c, f)}"
  }
}

/** One resolved version of a versioned table: the lines of its
  * manifest and every fact readers derive from them. Immutable and
  * shared — the manifest cache holds snapshots, and each field is
  * derived from `lines` once, on first use, by referencing the parsed
  * entries rather than copying them. Column names are PHYSICAL (as in
  * the files and their stats) unless a field says logical; dir fields
  * are absolute paths under `dir` unless they say names. */
private[graft] final class Snapshot(val dir: String, val version: Int,
                                    private[ext] val lines: Seq[Snapshot.Line]) {
  import Snapshot._

  private def abs(n: String): String = new Path(new Path(dir), n).toString

  /** The recorded union schema; None for a manifest that predates the
    * schema line (reads fall back to mergeSchema). */
  lazy val schema: Option[StructType] = lines.collectFirst { case SchemaEntry(s) => s }

  /** LOGICAL → PHYSICAL name of every renamed column; empty for a
    * table never renamed (or whose last overwrite reset the layout). */
  lazy val colMap: Map[String, String] =
    lines.collectFirst { case ColMapEntry(es) => es.toMap }.getOrElse(Map.empty)

  /** The schema under its LOGICAL names — what a user of the table sees. */
  lazy val logicalSchema: Option[StructType] =
    schema.map(Versioned.toLogicalSchema(_, colMap))

  lazy val partitionCols: Seq[String] =
    lines.collectFirst { case PartitionEntry(cs) => cs }.getOrElse(Seq.empty)

  lazy val dataDirNames: Seq[String] = lines.collect { case DataEntry(n) => n }
  lazy val dataDirs: Seq[String] = dataDirNames.map(abs)

  /** Each data dir's statistics, by dir name. */
  lazy val stats: Map[String, StatsEntry] =
    lines.collect { case e: StatsEntry => e.name -> e }.toMap

  /** Every data dir carries a recorded file list (false for chains
    * that predate the format until backfillStats upgrades them). */
  lazy val fileListed: Boolean =
    dataDirNames.forall(n => stats.get(n).exists(_.files.nonEmpty))

  /** The recorded file names of data dir `d`. */
  def fileNames(d: String): Set[String] = stats(d).files.map(_.name).toSet

  /** Exact (rows, bytes) from the stats lines alone; None when a data
    * dir predates stats recording. */
  lazy val sizeStats: Option[(Long, Long)] =
    if (!dataDirNames.forall(stats.contains)) None
    else Some((dataDirNames.map(stats(_).rows).sum,
      dataDirNames.flatMap(stats(_).files).map(_.bytes).sum))

  /** Key-set deletion vectors grouped by key column (sorted), absolute dirs. */
  lazy val dvDirs: Seq[(String, Seq[String])] =
    lines.collect { case DvEntry(k, n) => (k, abs(n)) }.groupBy(_._1).toSeq
      .sortBy(_._1).map { case (k, xs) => (k, xs.map(_._2)) }

  lazy val scopedDvEntries: Seq[ScopedDvEntry] = lines.collect { case s: ScopedDvEntry => s }

  /** SQL-DELETE scoped masks: (keyCol, absolute dv dir, scoped data-dir NAMES). */
  lazy val scopedDvs: Seq[(String, String, Set[String])] =
    scopedDvEntries.map(s => (s.keyCol, abs(s.name), s.scope.toSet))

  /** Positional deletion vectors ((_file, _pos) parquet), absolute dirs. */
  lazy val posDvs: Seq[String] = lines.collect { case PdvEntry(n) => abs(n) }

  /** Every mask line as (keyCol, dir name), positional masks keyed
    * [[Versioned.PdvSnapshotKey]] — the set a rewrite pins at its scan
    * and re-checks at its commit. */
  lazy val dvSnapshot: Seq[(String, String)] = lines.collect {
    case DvEntry(k, n)          => (k, n)
    case ScopedDvEntry(k, n, _) => (k, n)
    case PdvEntry(n)            => (Versioned.PdvSnapshotKey, n)
  }

  /** Data and mask dir names, in manifest order — what this version
    * keeps alive on disk. */
  lazy val liveDirNames: Seq[String] = lines.collect {
    case DataEntry(n)           => n
    case DvEntry(_, n)          => n
    case ScopedDvEntry(_, n, _) => n
    case PdvEntry(n)            => n
  }

  /** Enforced NOT NULL columns, in manifest order. */
  lazy val notNull: Seq[String] = lines.collect { case NotNullEntry(c) => c }
  lazy val logicalNotNull: Seq[String] = {
    val inv = colMap.map(_.swap)
    notNull.map(c => inv.getOrElse(c, c))
  }

  /** Enforced CHECK constraints as (name, predicateSql), in manifest order. */
  lazy val constraints: Seq[(String, String)] =
    lines.collect { case ConstraintEntry(n, s) => (n, s) }

  lazy val properties: Map[String, String] = lines.collect { case PropEntry(k, x) => k -> x }.toMap

  /** Declared protocol features as (name, required). */
  lazy val features: Seq[(String, Boolean)] = lines.collect { case FeatureEntry(n, r) => (n, r) }
  def hasFeature(name: String): Boolean = features.exists(_._1.equalsIgnoreCase(name))

  lazy val bloomDecls: Seq[BloomColEntry] = lines.collect { case b: BloomColEntry => b }

  /** Declared bloom columns (LOGICAL names) with their bits, in manifest order. */
  lazy val bloomColumns: Seq[(String, Int)] = {
    val inv = colMap.map(_.swap)
    bloomDecls.map(b => (inv.getOrElse(b.col, b.col), b.bits))
  }

  lazy val bloomEntries: Seq[BloomEntry] = lines.collect { case b: BloomEntry => b }

  /** Per-file blooms by (column, dir name). */
  lazy val blooms: Map[(String, String), Map[String, Array[Byte]]] =
    bloomEntries.map(b => (b.col, b.dir) -> b.files).toMap

  /** Each streaming writer's last committed batch, by appId. */
  lazy val txns: Map[String, Long] = lines.collect { case TxnEntry(b, a) => a -> b }.toMap

  /** The identity high-water mark of `col`, if it has one. */
  def hwm(col: String): Option[Long] =
    lines.collectFirst { case HwmEntry(c, n) if c.equalsIgnoreCase(col) => n }

  /** The COPY INTO ledger: every source file already loaded. */
  lazy val ingested: Set[String] = lines.collect { case IngestEntry(p) => p }.toSet

  /** Change feeds recorded at this version's commit. */
  lazy val changes: Seq[ChangesEntry] = lines.collect { case c: ChangesEntry => c }

  /** The in-commit clock as recorded (`ts:` line). */
  lazy val recordedTimestamp: Option[Long] = lines.collectFirst { case TsEntry(m) => m }

  /** The commit clock: the recorded in-commit timestamp, falling back
    * to the manifest file's mtime for manifests that predate it. */
  lazy val commitTimestamp: Long = recordedTimestamp.getOrElse {
    val p = manifestPath(dir, version)
    p.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
      .getFileStatus(p).getModificationTime
  }

  /** Was this commit a content-preserving rearrangement (dataChange = false)? */
  lazy val isRearrange: Boolean = lines.exists(_.isInstanceOf[RearrangeEntry])

  /** This version with every deletion mask dropped — a RAW read of its dirs. */
  def withoutMasks: Snapshot = new Snapshot(dir, version, lines.filterNot {
    case _: DvEntry | _: ScopedDvEntry | _: PdvEntry => true
    case _ => false
  })

  /** This version restricted to a file subset (dir name → file names):
    * other data dirs drop, and each kept dir's stats keep only its
    * named files. */
  def restrictedToFiles(keep: Map[String, Set[String]]): Snapshot =
    new Snapshot(dir, version, lines.flatMap {
      case DataEntry(n) if !keep.get(n).exists(_.nonEmpty) => None
      case s: StatsEntry if keep.get(s.name).exists(_.nonEmpty) =>
        Some(s.copy(files = s.files.filter(f => keep(s.name).contains(f.name))))
      case _: StatsEntry => None
      case other => Some(other)
    })
}
