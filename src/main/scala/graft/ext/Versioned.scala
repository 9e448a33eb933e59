package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.hadoop.fs.Path
import graft.Knobs
import graft.Tables.{parquetSchemaDriver, readParquetNoInfer}

/** Delta time travel's role for plain parquet: a versioned table whose
  * every write is a new immutable VERSION, readable forever (until
  * pruned) via `readVersion(dir, v)` — `SELECT … VERSION AS OF n`.
  *
  * Layout (ref: the reference gets this from Delta's `_delta_log`,
  * `mnt/spark-conf/spark-defaults.conf:13`):
  *
  * {{{
  *   dir/_versions/00000000.manifest   control file, one line per fact
  *   dir/v00000000_data/part-*.parquet immutable; never rewritten
  *   dir/v00000002_dv/part-*.parquet   deletion vector: keys masked
  *                                     out of v2+ reads (line format
  *                                     `dv:<keyCol>:<dirName>`)
  * }}}
  *
  * A manifest file is either FULL STATE or an O(delta) INCREMENT
  * against its parent (`parent:<v>` + add/remove ops — see the delta
  * section of [[Snapshot]]): appends write only what changed, a
  * full checkpoint lands every `spark.graft.manifest.checkpointInterval`
  * commits (and on every overwrite), and readers resolve deltas by
  * folding over the parent's cached resolution — Delta's log/checkpoint
  * shape, which retires the last O(table) metadata cost per commit.
  *
  * A resolved manifest carries these line kinds (Delta's log actions,
  * reduced to the minimum this store needs):
  *
  *   - `<dirName>` — a live data dir (Delta `add`).
  *   - `dv:<keyCol>:<dirName>` — a deletion vector (key-mask sidecar).
  *   - `schema:<StructType.json>` — the version's UNION schema,
  *     recorded at commit time (Delta `metaData`). Reads apply it with
  *     `.schema(...)`, so planning touches NO parquet footer — the
  *     pre-round-8 `mergeSchema` read paid a plan-time footer-merge
  *     job over every referenced file on every read, which at 100 TB /
  *     10⁶ files is a cluster job before the first task of the actual
  *     query. Manifests without a schema line (written before this
  *     format) still read correctly via the mergeSchema fallback.
  *   - `stats:<dirName>:{"rows":N,"cols":{…}}` — per-dir column
  *     min/max/null-count, harvested from the parquet FOOTERS of the
  *     just-written dir at commit time (the writer already paid for
  *     those statistics; this lifts them one level so PLANNING can
  *     skip whole dirs without opening a single footer — Delta's
  *     data-skipping role). [[readVersionSkipping]] consults them.
  *
  * Each write lands its rows in a fresh `v<N>_data` directory, then
  * commits by publishing `_versions/<N>.manifest` through
  * [[Commit.putIfAbsent]] — the manifest's appearance IS the commit
  * point. The path's scheme picks the primitive, in that one place: a
  * hardlink on local POSIX, a conditional create on object stores (S3
  * `If-None-Match: *` — the reference's own substrate, S3A/MinIO,
  * ref: mnt/spark-conf/spark-defaults.conf:4-10), and stage-and-rename
  * on HDFS-like schemes. Rename is used only where it is atomic and
  * fails on an existing destination; POSIX rename silently replaces
  * one, so two local racers could both "win" — a lost update the
  * racing spec measures.
  *
  * An overwrite manifest lists only its own data dir; an
  * append manifest lists the previous version's dirs plus its own —
  * so old versions stay readable from the SAME immutable files and an
  * append never rewrites history (storage cost is one copy per
  * distinct file, like Delta's add-file actions, NOT one copy per
  * version). A crash before the manifest commit leaves an orphaned
  * data dir no reader references; [[pruneVersions]] reclaims those
  * along with expired versions.
  *
  * Write path: a DataFrame enters through ONE entry point,
  * [[writeVersion]]`(df, dir, mode, partCols)` — append or overwrite,
  * partitioned or not — and every new data version, DataFrame-written,
  * staged by an external writer, or metadata-only (a truncate, an empty
  * streaming epoch, an empty REPLACE), commits through one function,
  * [[writeVersionCore]]. What an overwrite keeps of its parent is one
  * function too, [[carriedDefinition]], so an empty version keeps
  * exactly what a data-bearing one keeps.
  *
  * Concurrency: version numbers are claimed by the manifest commit —
  * the claim fails on an existing destination on every scheme,
  * surfacing concurrent writers as a [[CommitConflict]] instead of
  * silently dropping one (single-writer is the expectation, as in the
  * reference's Airflow `max_active_runs=1`,
  * `mnt/airflow/dags/yelp_pipeline.py:21`). The operation decides the
  * retry, not the caller: appends and key deletes commute with
  * concurrent commits and retry a lost race at the next version;
  * overwrites and file rewrites replace state they have not seen and
  * surface it.
  *
  * Scale shape: manifests are line lists of directories plus one
  * schema and per-dir stats (bytes per version); reads plan ONE
  * multi-path parquet scan over the listed dirs — partition pruning,
  * pushdown, and vectorized read all apply unchanged, and the
  * recorded schema means planning reads no data at all. No driver
  * state beyond the manifest read.
  */
object Versioned {
  import Snapshot._

  /** The parquet schema of a versioned sidecar: `(_file, _pos)` rows
    * of a positional deletion vector — known by construction, so its
    * reads never pay schema inference. */
  private[graft] val PdvDirSchema: StructType = StructType(Seq(
    StructField("_file", org.apache.spark.sql.types.StringType),
    StructField("_pos", org.apache.spark.sql.types.LongType)))

  private val ManifestName = """(\d{1,10})\.manifest""".r

  /** Versions committed so far, ascending (empty for a fresh dir).
    * Only names that are EXACTLY `<digits>.manifest` count: staging
    * files, editor droppings, or anything else a crashed writer left
    * beside the manifests must not crash the lister or masquerade as
    * a committed version. */
  def versions(spark: SparkSession, dir: String): Seq[Int] = {
    val (fs, root) = fsFor(spark, dir)
    val listed =
      try fs.listStatus(new Path(root, VDIR))
      catch { case _: java.io.FileNotFoundException => Array.empty[org.apache.hadoop.fs.FileStatus] }
    listed.map(_.getPath.getName)
      .collect { case ManifestName(digits) => digits.toInt }
      .sorted.toSeq
  }

  def latestVersion(spark: SparkSession, dir: String): Option[Int] =
    versions(spark, dir).lastOption

  /** [[latestVersion]], refusing a dir with no versions. */
  private def requireLatest(spark: SparkSession, dir: String): Int =
    latestVersion(spark, dir).getOrElse(throw new IllegalArgumentException(s"no versions at $dir"))

  /** Version `v` of the table at `dir`, resolved once per JVM into an
    * immutable [[Snapshot]] (refuses a version that does not exist). */
  private[graft] def snapshot(spark: SparkSession, dir: String, v: Int): Snapshot =
    Snapshot.resolve(spark, dir, v)

  /** A checkpoint sidecar lands every [[Knobs.checkpointInterval]]
    * commits (≤1 = every commit), bounding every resolution chain.
    * Overwrite commits need none: their manifests are full state
    * already. */
  private def checkpointDue(spark: SparkSession, v: Int): Boolean = {
    val i = Knobs.checkpointInterval(spark)
    i <= 1 || (i > 0 && v % i == 0)
  }

  /** Materialize a version's resolved state as its checkpoint sidecar.
    * Derived data, so losing the put-if-absent race just means another
    * writer checkpointed the same (immutable) content first.
    *
    * A checkpoint over [[Knobs.checkpointSpillBytes]] spills its LARGEST
    * inline stats/bloom payloads to sidecar files until it fits. The
    * checkpoint is the one metadata blob re-written every interval and
    * re-parsed per JVM, while per-dir sidecars are immutable and cached
    * ACROSS checkpoints, so spilling bounds the recurring cost to
    * O(dirs) lines + O(changed dirs) sidecar reads. Spilling goes
    * largest-first, not wholesale, so a long tail of small dirs stays
    * inline instead of becoming thousands of tiny sidecar files. The
    * per-dir thresholds already externalize big single commits at
    * write time; this seam catches the accumulation case (many small
    * dirs whose inline lines are individually cheap but collectively
    * tens of MB re-rendered every checkpoint). */
  private def writeCheckpoint(spark: SparkSession, dir: String, v: Int,
                              fullLines: Seq[Line]): Unit = {
    val (fs, _) = fsFor(spark, dir)
    def render(ls: Seq[Line]) =
      (ls.map(renderLine).mkString("\n") + "\n").getBytes("UTF-8")
    val budget = Knobs.checkpointSpillBytes(spark)
    var out = fullLines
    var bytes = render(out)
    if (bytes.length > budget) {
      val sized = out.map(l => renderLine(l).length + 1L)
      val spillable = out.zipWithIndex.collect {
        case (s: StatsEntry, i) if s.sidecar.isEmpty && s.files.nonEmpty => (i, sized(i))
        case (b: BloomEntry, i) if b.sidecar.isEmpty && b.files.nonEmpty => (i, sized(i))
      }.sortBy(-_._2)
      var total = sized.sum
      val spill = scala.collection.mutable.Set[Int]()
      val it = spillable.iterator
      while (total > budget && it.hasNext) {
        val (i, sz) = it.next()
        spill += i
        total -= math.max(0L, sz - 120L) // a ref line replaces the payload
      }
      if (spill.nonEmpty) {
        val arr = out.toArray
        spill.foreach { i =>
          arr(i) = arr(i) match {
            case s: StatsEntry => externalizeStats(spark, dir, Seq(s), force = true).head
            case b: BloomEntry => externalizeBlooms(spark, dir, Seq(b), force = true).head
            case other         => other
          }
        }
        out = arr.toSeq
        bytes = render(out)
      }
    }
    Commit.putIfAbsent(fs, checkpointPath(dir, v), bytes)
    ()
  }

  /** The parent version of a DELTA manifest, None for a full one —
    * read from the first line only (prune consults this without
    * paying a full parse). */
  private def manifestParent(spark: SparkSession, dir: String, v: Int): Option[Int] = {
    val (fs, _) = fsFor(spark, dir)
    val in = fs.open(manifestPath(dir, v))
    try {
      val br = new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8"))
      Option(br.readLine()).map(_.trim).filter(_.startsWith("parent:"))
        .map(_.drop(7).trim.toInt)
    } finally in.close()
  }

  /** Commit the child of `parent` as a DELTA manifest (parent + ops),
    * and land the periodic checkpoint sidecar when due. Returns the
    * committed version, `parent.version + 1`. The manifest commit is
    * the atomic claim; a crash before the sidecar lands costs nothing
    * (resolution folds the chain). The checkpoint is the fold readers
    * use — the parent's lines under the exact ops the manifest
    * carries, its `+ts`/`+protocol` stamps included — so a
    * checkpointed read and a folded read of a version cannot differ.
    * The checkpoint renders sidecar refs, never their payloads, so the
    * fold does not read back the sidecars this commit just wrote. */
  private def commitChild(spark: SparkSession, dir: String, parent: Snapshot,
                          ops: Seq[String]): Int = {
    val v = parent.version + 1
    val stamped = commitManifest(spark, dir, v, s"parent:${parent.version}" +: ops)
    if (checkpointDue(spark, v))
      writeCheckpoint(spark, dir, v,
        applyOps(parent.lines, stamped.tail, loadSidecars = false))
    v
  }

  private def addOp(l: Line): String = "+" + renderLine(l)

  // ───────────── sidecar files (manifest stays O(dirs)) ─────────────
  // Heavy per-dir payloads — bloom blobs and per-file stats JSON —
  // move out of the manifest into CONTENT-ADDRESSED sidecar files
  // (`_versions/<kind>/<sha256-16>.<ext>`) and the manifest keeps a
  // ref line. Written once, never rewritten (a trim writes a NEW
  // sidecar), so their parse caches can never serve stale bytes. A
  // payload moves once it reaches [[Knobs.sidecarMinBytes]]: small
  // tables stay zero-metadata-call, large commits stop growing the
  // manifest with file count.

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.ext.Versioned")

  private def bloomsDirPath(root: Path) = new Path(root, s"$VDIR/blooms")
  private def statsDirPath(root: Path) = new Path(root, s"$VDIR/stats")

  /** Write `body` as the sidecar `<kindDir>/<sha256-16>.<ext>` of the
    * table at `dir` and return its qualified, scheme-free path. tmp +
    * rename, so the content-addressed name only ever appears COMPLETE;
    * an existing file is reused, and losing a same-name race is benign
    * (same hash = same bytes). */
  private def writeSidecar(spark: SparkSession, dir: String, kindDir: Path => Path,
                           ext: String, body: String): String = {
    val bytes = body.getBytes("UTF-8")
    val hash = java.security.MessageDigest.getInstance("SHA-256")
      .digest(bytes).take(16).map("%02x".format(_)).mkString
    val (fs, root) = fsFor(spark, dir)
    val target = new Path(kindDir(root), s"$hash.$ext")
    if (!fs.exists(target)) {
      fs.mkdirs(target.getParent)
      val tmp = new Path(target.getParent,
        s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      val out = fs.create(tmp, false)
      try out.write(bytes) finally out.close()
      if (!fs.rename(tmp, target)) {
        // lost the race to an identical writer — their bytes serve
        fs.delete(tmp, false)
        require(fs.exists(target), s"$ext sidecar rename to $target failed")
      }
    }
    fs.makeQualified(target).toUri.getPath
  }

  /** Every metadata cache's counters, by name — for profiling tools
    * and the cache tests. */
  private[graft] def cacheStats: Seq[(String, BoundedCache.Stats)] = Seq(
    "manifest" -> manifestCache.stats,
    "bloom-sidecar" -> bloomSidecarCache.stats,
    "stats-sidecar" -> statsSidecarCache.stats)

  /** Move heavy inline bloom entries to sidecar files — called at
    * every seam that CREATES blobs (per-commit build, backfill,
    * rewrite trim/replacement), before the entry renders into a
    * manifest. Entries already carrying a ref pass through (the file
    * exists and is immutable); light entries stay inline. */
  private def externalizeBlooms(spark: SparkSession, dir: String,
                                entries: Seq[Line],
                                force: Boolean = false): Seq[Line] = {
    lazy val minBytes = Knobs.sidecarMinBytes(spark)
    entries.map {
      case b @ BloomEntry(_, _, files, None) if files.nonEmpty =>
        val payload = files.iterator.map { case (f, bits) =>
          f.length + 2L + 4L * ((bits.length + 2) / 3)
        }.sum
        if (!force && payload < minBytes) b
        else b.copy(sidecar = Some(writeSidecar(spark, dir, bloomsDirPath, "bloom",
          files.toSeq.sortBy(_._1)
            .map { case (f, bb) => s"$f=${Bloom.toBase64(bb)}" }.mkString("\n") + "\n")))
      case other => other
    }
  }

  /** Move heavy inline stats entries to sidecar files — called at
    * every seam that CREATES a stats line (commit harvest, CONVERT,
    * backfill, rewrite trim/replacement), before the entry renders
    * into a manifest. Entries already carrying a ref pass through
    * (immutable file, exists); light entries stay inline. */
  private def externalizeStats(spark: SparkSession, dir: String,
                               entries: Seq[Line],
                               force: Boolean = false): Seq[Line] = {
    lazy val minBytes = Knobs.sidecarMinBytes(spark)
    entries.map {
      case s @ StatsEntry(_, rows, cols, files, None) if files.nonEmpty =>
        val json = StatsJson.render(rows, cols, files)
        if (!force && json.length < minBytes) s
        else s.copy(sidecar = Some(writeSidecar(spark, dir, statsDirPath, "stats", json + "\n")))
      case other => other
    }
  }

  private[graft] def toLogicalSchema(s: StructType, m: Map[String, String]): StructType =
    if (m.isEmpty) s
    else {
      val inv = m.map(_.swap)
      StructType(s.fields.map(f => inv.get(f.name).map(l => f.copy(name = l)).getOrElse(f)))
    }

  private[graft] def toPhysicalSchema(s: StructType, m: Map[String, String]): StructType =
    if (m.isEmpty) s
    else StructType(s.fields.map(f => f.copy(name = m.getOrElse(f.name, f.name))))

  /** Final read-boundary projection: physical→logical. A pure rename
    * (one Project of aliases), so Catalyst pushes filters and prunes
    * columns straight through it down to the physical scan. */
  private def toLogicalDf(df: DataFrame, m: Map[String, String]): DataFrame =
    if (m.isEmpty) df
    else {
      val inv = m.map(_.swap)
      df.toDF(df.columns.map(c => inv.getOrElse(c, c)): _*)
    }

  /** Write-boundary translation: rename a LOGICAL-named DataFrame to
    * the chain's PHYSICAL column names before any byte lands. Refuses
    * a column whose (logical) name is OCCUPIED as another column's
    * physical storage name — appending it would silently serve its
    * values under the other column after the union-schema merge (the
    * re-add-after-rename collision Delta's id-mapping exists to
    * prevent; this store prevents it by refusal). */
  private[graft] def toPhysical(df: DataFrame, m: Map[String, String]): DataFrame = {
    if (m.isEmpty) return df
    val inv = m.map(_.swap)
    df.columns.foreach { c =>
      require(m.contains(c) || !inv.contains(c),
        s"column name '$c' is occupied as the physical storage name of logical column " +
          s"'${inv.getOrElse(c, c)}' — add it under a different name")
    }
    df.toDF(df.columns.map(c => m.getOrElse(c, c)): _*)
  }

  // ───────────── GENERATED columns (GENERATED ALWAYS AS (expr)) ─────────────

  /** The field-metadata key Spark's DDL uses for `GENERATED ALWAYS AS`
    * (GeneratedColumn.GENERATION_EXPRESSION_METADATA_KEY). Spark
    * validates the expression at CREATE time (deterministic, no
    * subqueries, references only non-generated columns) and stores it
    * here; the STORE owns the semantics — [[withGeneratedColumns]]
    * computes an omitted column at the df write seams, and every
    * commit validates value <=> expr like an implicit CHECK, so a
    * DSv2-staged rewrite can never silently diverge from the
    * declaration. */
  private[graft] val GenerationKey = "GENERATION_EXPRESSION"

  /** (field name in `schema`'s own name space, generation SQL) of
    * every generated column. The SQL text speaks LOGICAL names. */
  private[graft] def generatedColumnsOf(schema: StructType): Seq[(String, String)] =
    schema.fields.toSeq.collect {
      case f if f.metadata.contains(GenerationKey) =>
        f.name -> f.metadata.getString(GenerationKey)
    }

  /** Spark's own field-metadata keys for `GENERATED … AS IDENTITY`
    * (IdentityColumn.IDENTITY_INFO_*): the parsed start/step/
    * explicit-insert policy rides the schema the manifest records,
    * exactly like GENERATION_EXPRESSION — the declaration IS schema. */
  private val IdStartKey = "identity.start"
  private val IdStepKey = "identity.step"
  private val IdAllowKey = "identity.allowExplicitInsert"

  private[graft] def identityMetadata(base: org.apache.spark.sql.types.Metadata,
                                      start: Long, step: Long,
                                      allowExplicitInsert: Boolean)
      : org.apache.spark.sql.types.Metadata =
    new org.apache.spark.sql.types.MetadataBuilder().withMetadata(base)
      .putLong(IdStartKey, start).putLong(IdStepKey, step)
      .putBoolean(IdAllowKey, allowExplicitInsert).build()

  /** One declared identity column: field name in the schema's own
    * name space + the parsed spec. `GENERATED ALWAYS` refuses
    * explicit values at the df entry points; `BY DEFAULT` accepts
    * them (uniqueness among EXPLICIT values is the caller's contract,
    * as in Delta — the mark only guarantees generated values never
    * collide with anything already assigned or accepted). */
  private[graft] final case class IdentitySpec(col: String, start: Long, step: Long,
                                               allowExplicitInsert: Boolean)

  private[graft] def identityColumnsOf(schema: StructType): Seq[IdentitySpec] =
    schema.fields.toSeq.collect {
      case f if f.metadata.contains(IdStartKey) && f.metadata.contains(IdStepKey) =>
        IdentitySpec(f.name, f.metadata.getLong(IdStartKey),
          f.metadata.getLong(IdStepKey),
          f.metadata.contains(IdAllowKey) && f.metadata.getBoolean(IdAllowKey))
    }

  /** The shared df write-entry preparation, ONE manifest resolve for
    * both duties: fill OMITTED generated columns whose dependencies
    * the df carries (SQL inserts arrive complete and are validated
    * instead; a df also missing a DEPENDENCY leaves the column absent
    * — an append's union read serves null there, which the null-safe
    * validation accepts, and an overwrite retires the declaration),
    * then translate logical→physical when the write lands beside a
    * renamed chain's files. */
  private def prepareWrite(df: DataFrame, dir: String,
                           translate: Boolean): (DataFrame, Option[Int]) =
    latestVersion(df.sparkSession, dir).fold((df, Option.empty[Int])) { v =>
      val snap = snapshot(df.sparkSession, dir, v)
      val cmap = snap.colMap
      val logical = snap.logicalSchema
      val filled = logical.fold(df) { s =>
        generatedColumnsOf(s)
          .filterNot { case (n, _) => df.columns.exists(_.equalsIgnoreCase(n)) }
          .filter { case (_, sql) => constraintRefCols(df.sparkSession, sql)
            .forall(r => df.columns.exists(_.equalsIgnoreCase(r))) }
          .foldLeft(df) { case (d, (n, sql)) =>
            d.withColumn(n, org.apache.spark.sql.functions.expr(sql)
              .cast(s(n).dataType))
          }
      }
      // GENERATED … AS IDENTITY: NULL values of an identity column
      // assign DISTRIBUTED — id = hwm + step · monotonically_
      // increasing_id() — zero extra jobs (no count pass, no global
      // sort; Delta's documented may-have-gaps contract,
      // deliberately: an exact per-partition offset pass would
      // recompute the whole input lineage once more, which at 100 TB
      // doubles the insert). NULL is the omission signal because it
      // is what Spark's own analyzer pads when a SQL INSERT lists
      // the other columns (the V1 seam never sees the column list);
      // a library df that omits the column entirely gets it added.
      // GENERATED ALWAYS refuses non-null explicit values IN the
      // assignment expression (raise_error fires inside the single
      // write pass — no validation job); BY DEFAULT keeps them.
      // Uniqueness against concurrent writers: the commit refuses
      // when its parent is not the version this assignment read (the
      // read basis [[writeVersionCore]] checks), and an append's retry
      // re-fills.
      var idBasis: Option[Int] = None
      val withIds = logical.fold(filled) { s =>
        identityColumnsOf(s).foldLeft(filled) { (d, spec) =>
          import org.apache.spark.sql.functions.{coalesce, concat, lit,
            monotonically_increasing_id, raise_error, when, col => fcol}
          val base = snap.hwm(cmap.getOrElse(spec.col, spec.col)).getOrElse(spec.start)
          val dt = s(spec.col).dataType
          val assignedRaw = lit(base) + lit(spec.step) * monotonically_increasing_id()
          // BIGINT casts are the identity (declarations refuse anything
          // narrower). A LEGACY chain that declared INT before the
          // refusal gets an in-pass range guard instead of a silent
          // mod-2³² wrap: partition p's offset is step·p·2³³, which any
          // non-zero p pushes out of the int range — the raise_error
          // fires inside the single write pass, no validation job
          val assigned =
            if (dt == org.apache.spark.sql.types.LongType) assignedRaw.cast(dt)
            else when(assignedRaw.between(Int.MinValue.toLong, Int.MaxValue.toLong),
                assignedRaw.cast(dt))
              .otherwise(raise_error(concat(
                lit(s"identity column '${spec.col}' is ${dt.simpleString} and the " +
                  "assigned value "),
                assignedRaw.cast("string"),
                lit(" leaves its range — the distributed assignment needs BIGINT; " +
                  "redeclare the column (Delta's identity contract)")))
                .cast(dt))
          idBasis = Some(v)
          if (!d.columns.exists(_.equalsIgnoreCase(spec.col)))
            d.withColumn(spec.col, assigned)
          else if (spec.allowExplicitInsert)
            d.withColumn(spec.col, coalesce(fcol(spec.col), assigned))
          else
            d.withColumn(spec.col, when(fcol(spec.col).isNotNull,
              raise_error(concat(
                lit(s"column '${spec.col}' is GENERATED ALWAYS AS IDENTITY — " +
                  "explicit values refuse (got "),
                fcol(spec.col).cast("string"),
                lit("); omit the column, or declare GENERATED BY DEFAULT")))
                .cast(dt))
              .otherwise(assigned))
        }
      }
      (if (translate) toPhysical(withIds, cmap) else withIds, idBasis)
    }

  /** Stats maps are keyed by PHYSICAL names (they come from parquet
    * footers); the explicit skipping APIs take filters in LOGICAL
    * names — rekey the stats (and rename the schema) instead of
    * rewriting every filter tree. */
  private def rekeyToLogical(cols: Map[String, ColStats],
                             m: Map[String, String]): Map[String, ColStats] =
    if (m.isEmpty) cols
    else {
      val inv = m.map(_.swap)
      cols.map { case (k, v) => inv.getOrElse(k, k) -> v }
    }

  /** `ALTER TABLE … RENAME COLUMN`'s role, WITHOUT a rewrite — the gap
    * Delta closes with column mapping: one METADATA-ONLY commit that
    * updates the logical→physical mapping; no data file, stats line,
    * deletion vector, or NOT NULL line changes (they all keep the
    * physical name). Time travel to a pre-rename version serves the
    * old name; an overwrite later resets the physical layout and
    * drops the mapping.
    *
    * Honest refusals: partition columns (the hive layout and the
    * partition index are keyed on the physical dir names), chains
    * whose manifests lack per-dir file lists (run backfill_stats
    * first — the serving tiers below assume the file-listed index),
    * columns a CHECK constraint reads (the stored predicate SQL is
    * logical text this commit cannot rewrite), and a target name that
    * already exists — as a logical column OR as another column's
    * physical storage name (the resurrect-collision guard). */
  def renameColumns(spark: SparkSession, dir: String,
                    renames: Seq[(String, String)]): Int = {
    require(renames.nonEmpty, "no columns to rename")
    val snap = snapshot(spark, dir, requireLatest(spark, dir))
    val physical = snap.schema.getOrElse(
      throw new IllegalArgumentException(
        s"cannot rename columns of a pre-schema manifest at $dir — commit once to record the schema"))
    val partCols = snap.partitionCols
    require(snap.fileListed,
      s"cannot rename columns at $dir: manifest lacks per-dir file lists — " +
        "run backfillStats (CALL system.backfill_stats) to upgrade the chain first")
    var m = snap.colMap
    // CHECK constraints and GENERATION expressions FOLLOW the rename
    // (Delta's behavior): their stored SQL is LOGICAL text, rewritten
    // through the mapping in the same metadata-only commit
    var constraints = snap.constraints.map(ConstraintEntry.tupled)
    val rewrittenConstraints = scala.collection.mutable.LinkedHashSet.empty[String]
    var physSchema = physical
    var genRewritten = false
    renames.foreach { case (from, to) =>
      require(to.nonEmpty && !to.exists(c => c == ',' || c == '=' || c == ':' ||
          c == '\n' || c == '\r'),
        s"new column name '$to' must not contain , = : or line breaks " +
          "(it is embedded in the line-based manifest)")
      val logicalNow = toLogicalSchema(physical, m)
      val resolved = logicalNow.fieldNames.find(_.equalsIgnoreCase(from)).getOrElse(
        throw new IllegalArgumentException(
          s"no column '$from' in ${logicalNow.fieldNames.mkString(",")}"))
      // DATA columns of a partitioned chain rename fine (the hive
      // layout never encodes them); a PARTITION column's physical name
      // is baked into every `col=value` path segment and the partition
      // index — that one still refuses
      require(!partCols.exists(_.equalsIgnoreCase(resolved)),
        s"cannot rename PARTITION column '$resolved' — its physical name is the " +
          "hive directory layout itself; rewrite instead (REPLACE TABLE … AS SELECT)")
      require(!logicalNow.fieldNames.exists(_.equalsIgnoreCase(to)),
        s"column '$to' already exists")
      require(!physical.fieldNames.exists(n => n.equalsIgnoreCase(to) &&
          !n.equalsIgnoreCase(m.getOrElse(resolved, resolved))),
        s"'$to' is the physical storage name of another column — pick a different name")
      constraints = constraints.map { case c @ ConstraintEntry(cn, sql) =>
        if (constraintRefCols(spark, sql).contains(resolved.toLowerCase)) {
          rewrittenConstraints += cn
          ConstraintEntry(cn, renameInConstraintSql(spark, sql, resolved, to))
        } else c
      }
      physSchema = StructType(physSchema.fields.map { f =>
        if (f.metadata.contains(GenerationKey) &&
            constraintRefCols(spark, f.metadata.getString(GenerationKey))
              .contains(resolved.toLowerCase)) {
          genRewritten = true
          f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString(GenerationKey, renameInConstraintSql(spark,
              f.metadata.getString(GenerationKey), resolved, to))
            .build())
        } else f
      })
      val phys = m.getOrElse(resolved, resolved)
      // the PHYSICAL name embeds in the comma-delimited colmap line
      // too (the files legally carry names the logical validation
      // above never saw — Spark 4 parquet writes columns named
      // 'a:b'): a comma or line break would commit a line the parser
      // refuses, bricking the table, and the parse-side entry trim
      // would mangle edge whitespace — refuse, never corrupt, the
      // same guard deleteByKeysCore applies to translated dv keys
      require(!phys.exists(c => c == ',' || c == '\n' || c == '\r') && phys == phys.trim,
        s"the physical storage name '$phys' of '$from' cannot be column-mapped — " +
          "it would corrupt the comma-delimited manifest line; rewrite the column " +
          "(REPLACE TABLE … AS SELECT) to a plain name instead")
      m = (m - resolved) ++ (if (to == phys) Map.empty[String, String] else Map(to -> phys))
    }
    val colMapOp =
      if (m.isEmpty) "-colmap" else addOp(ColMapEntry(m.toSeq.sortBy(_._1)))
    commitChild(spark, dir, snap, colMapOp +:
      (constraints.filter(c => rewrittenConstraints.contains(c.name)).map(addOp) ++
        (if (genRewritten) Seq(addOp(SchemaEntry(physSchema))) else Seq.empty)))
  }

  // ───────────── bloom-filter file skipping (see [[Bloom]]) ─────────────

  /** Declare the table's bloom-indexed point-lookup column and
    * backfill a per-file bloom for every live dir (the only time the
    * index reads old data — one column-pruned scan per batch; every
    * later commit builds its own dir's blooms at write time,
    * O(delta)). Integral/string DATA columns only — a PARTITION
    * column's values already prune from manifest bytes; partitioned
    * chains declare on a data column and the bloom prunes files
    * WITHIN the surviving partitions (the needle-in-100-TB lookup on
    * a non-partition key).
    *
    * The backfill is CHUNKED: dirs group into batches of at most
    * [[Knobs.bloomBackfillFiles]] recorded files (by default derived
    * from [[Knobs.bloomBackfillBytes]]), each batch one scan job + one commit — the
    * driver holds one batch of bitsets at a time (~312 MiB at the
    * default 32 KiB blob), never one per live file of a 10⁶-file
    * table. The DECLARATION rides the first commit, so every file is
    * served correctly throughout (a file whose batch has not landed
    * simply has no bloom yet — the one-sided contract reads it), and
    * a write racing between batches builds its own blooms at commit
    * time as usual. Returns the final committed version. */
  def declareBloomColumn(spark: SparkSession, dir: String, col: String,
                         bits: Int = Bloom.defaultBits): Int = {
    require(bits >= 64 && bits % 8 == 0,
      s"bloom bits must be a positive multiple of 8, got $bits")
    val snap = snapshot(spark, dir, requireLatest(spark, dir))
    val physical = snap.schema.getOrElse(
      throw new IllegalArgumentException(s"no recorded schema at $dir"))
    val cmap = snap.colMap
    val logical = toLogicalSchema(physical, cmap)
    val resolved = logical.fieldNames.find(_.equalsIgnoreCase(col)).getOrElse(
      throw new IllegalArgumentException(
        s"no column '$col' in ${logical.fieldNames.mkString(",")}"))
    val phys = cmap.getOrElse(resolved, resolved)
    require(!snap.partitionCols.exists(_.equalsIgnoreCase(phys)),
      s"'$resolved' is a PARTITION column — its values prune from manifest bytes " +
        "already; declare the bloom on a data column")
    require(Bloom.supportedType(physical(phys).dataType),
      s"bloom columns are integral or string; '$resolved' is ${physical(phys).dataType}")
    // the PHYSICAL name embeds in the ':'-delimited bloomcol/bloom
    // lines — refuse what the format cannot carry (the dv-key guard's
    // sibling), never commit a manifest that fails to parse back
    require(!phys.exists(c => c == ':' || c == ',' || c == '\n' || c == '\r') &&
        phys == phys.trim,
      s"the physical storage name '$phys' of '$resolved' cannot carry a bloom " +
        "declaration (it is embedded in the line-based manifest); rewrite the " +
        "column (REPLACE TABLE … AS SELECT) to a plain name first")
    val decl = BloomColEntry(phys, bits)
    // the per-commit cap bounds the DRIVER-transient bitset pull, so
    // its default derives from BYTES, not a file count — a bare file
    // cap would silently scale the pull with `bits` (10⁴ files is
    // 320 MB at the default 32 KiB blob but 2.5 GB at 2²¹ bits). An
    // explicit backfillFilesPerCommit still wins; the 2¹⁶ file
    // ceiling bounds the name-list side when blobs are tiny.
    val batchLimit = math.max(1, Knobs.bloomBackfillFiles(spark).getOrElse(
      math.min(1L << 16, math.max(1L, Knobs.bloomBackfillBytes(spark) / (bits / 8))).toInt))
    def weight(n: String) = snap.stats.get(n).map(_.files.length).getOrElse(batchLimit)
    val batches = snap.dataDirNames.foldLeft(Vector.empty[(Vector[String], Int)]) {
      case (acc, n) =>
        val w = weight(n)
        acc.lastOption match {
          case Some((b, bw)) if bw + w <= batchLimit =>
            acc.init :+ (b :+ n, bw + w)
          case _ => acc :+ (Vector(n), w)
        }
    }.map(_._1)
    def buildEntries(batch: Seq[String]): Seq[Line] = {
      val built = Bloom.buildBlooms(spark,
        batch.map(n => n -> new Path(new Path(dir), n).toString),
        physical, phys, bits)
      externalizeBlooms(spark, dir,
        batch.map(n => BloomEntry(n, phys, built.getOrElse(n, Map.empty))))
    }
    // first commit: the declaration + the first batch (an empty table
    // commits the declaration alone). The ops START by retiring any
    // prior declaration OF THIS COLUMN and its old blobs (a stale
    // bitset left live would answer the new build's lookups with
    // false negatives); OTHER declared columns' declarations and
    // blooms stay untouched — bloom indexes are per-column, and a
    // table may declare several (Delta's per-column bloom indexes).
    val first: Seq[Line] = decl +: batches.headOption.map(buildEntries).getOrElse(Seq.empty)
    val v = commitChild(spark, dir, snap, s"-bloomcol:$phys" +: first.map(addOp))
    // remaining batches: one bounded build + commit each; each commit
    // is a child of the CURRENT latest, so a concurrent append between
    // batches keeps its own (write-time) blooms
    batches.drop(1).foldLeft(v) { (_, batch) =>
      val entries = buildEntries(batch)
      commitChild(spark, dir, snapshot(spark, dir, requireLatest(spark, dir)),
        entries.map(addOp))
    }
  }

  /** Drop a bloom declaration (and its blobs) — metadata-only.
    * `col = None` drops EVERY declared column (the original
    * whole-index undeclare); a named column drops only its own
    * declaration and blooms, other columns stay live. */
  def dropBloomColumn(spark: SparkSession, dir: String,
                      col: Option[String] = None): Option[Int] = {
    val snap = snapshot(spark, dir, requireLatest(spark, dir))
    val phys = col.map { c =>
      val cmap = snap.colMap
      cmap.getOrElse(
        cmap.keys.find(_.equalsIgnoreCase(c)).getOrElse(c), c)
    }
    val victim: Line => Boolean = phys match {
      case None => l => l.isInstanceOf[BloomColEntry] || l.isInstanceOf[BloomEntry]
      case Some(p) => {
        case e: BloomColEntry => e.col.equalsIgnoreCase(p)
        case e: BloomEntry    => e.col.equalsIgnoreCase(p)
        case _ => false
      }
    }
    if (!snap.bloomDecls.exists(victim)) None
    else Some(commitChild(spark, dir, snap, Seq(phys.fold("-bloomcol")(p => s"-bloomcol:$p"))))
  }

  // ───────────── shallow CLONE (zero-copy table fork) ─────────────

  /** Delta `CREATE TABLE … SHALLOW CLONE src`'s role: create `targetDir`
    * as a NEW chain whose v0 manifest references the SOURCE version's
    * data (and deletion-vector, and bloom) state by ABSOLUTE path — no
    * byte of data copies. The clone then lives its own life: appends
    * land local dirs beside the foreign refs, copy-on-write rewrites
    * replace foreign files at manifest granularity (the source's bytes
    * are never touched), and the clone's own retention reclaims ONLY
    * local dirs — [[pruneVersions]] deletes from a listing of the
    * clone's root, where a foreign ref never appears.
    *
    * The inherited Delta caveat, verbatim: the SOURCE owns the shared
    * files. VACUUM/prune/DROP on the source reclaims data a clone
    * still references — run the clone's own OPTIMIZE (compact) to
    * localize it first if the source's lifecycle is shorter.
    *
    * Honest bounds: source and target must share one filesystem
    * namespace, addressed by COLON-FREE absolute paths (the line-based
    * manifest splits several line kinds on ':'; within one default
    * filesystem — HDFS or an object store alike — scheme-free absolute
    * paths are the normal form). SQL-DELETE scoped masks group by dir
    * NAME, which a foreign ref cannot carry — apply them physically
    * (overwrite/compact) before cloning. Writer txn watermarks and
    * recorded change feeds do not clone (they speak the source's
    * writer ids and version numbers). */
  def cloneTable(spark: SparkSession, sourceDir: String, targetDir: String,
                 version: Option[Int] = None): Int = {
    val srcV = version.getOrElse(latestVersion(spark, sourceDir).getOrElse(
      throw new IllegalArgumentException(s"no versions at $sourceDir")))
    require(versions(spark, sourceDir).contains(srcV),
      s"no version $srcV at $sourceDir")
    require(latestVersion(spark, targetDir).isEmpty,
      s"target $targetDir already exists — DROP it, or clone elsewhere")
    val (srcFs, srcRoot) = fsFor(spark, sourceDir)
    val (tgtFs, _) = fsFor(spark, targetDir)
    // the one-namespace bound is ENFORCED, not just documented: a
    // cross-filesystem ref would strip its scheme/authority and
    // silently resolve inside the target's filesystem
    require(srcFs.getUri == tgtFs.getUri,
      s"clone source and target must share one filesystem namespace; " +
        s"got ${srcFs.getUri} vs ${tgtFs.getUri}")
    val rootAbs = srcFs.makeQualified(srcRoot).toUri.getPath
    require(!rootAbs.contains(":") && !rootAbs.contains(","),
      s"clone sources are addressed by colon/comma-free absolute paths within one " +
        s"filesystem namespace; got '$rootAbs'")
    val src = snapshot(spark, sourceDir, srcV)
    require(src.scopedDvEntries.isEmpty,
      s"$sourceDir@v$srcV carries SQL-DELETE scoped masks, which group by local dir " +
        "name — apply them physically (INSERT OVERWRITE the read, or compact) first")
    require(src.posDvs.isEmpty,
      s"$sourceDir@v$srcV carries positional deletion vectors, whose file refs are " +
        "root-relative — apply them physically (INSERT OVERWRITE the read, or " +
        "compact) first, or deep clone")
    def abs(n: String) =
      if (n.startsWith("/")) n else s"${rootAbs.stripSuffix("/")}/$n"
    // stats sidecars COPY into the clone (KB-scale metadata, one small
    // file per large dir): the file lists are load-bearing, so leaving
    // them as refs into the source's tree would extend the shallow-
    // clone caveat from "skipping degrades" (blooms) to "reads refuse"
    // the moment the source prunes. Content-addressed names make the
    // copy idempotent and collision-free.
    val (tgtFs2, tgtRoot) = fsFor(spark, targetDir)
    val tgtStatsDir = statsDirPath(tgtRoot)
    def localizeStats(s: StatsEntry): StatsEntry = s.sidecar match {
      case None => s.copy(name = abs(s.name))
      case Some(ref) =>
        val target = new Path(tgtStatsDir, new Path(ref).getName)
        if (!tgtFs2.exists(target)) {
          tgtFs2.mkdirs(tgtStatsDir)
          org.apache.hadoop.fs.FileUtil.copy(srcFs, new Path(ref), tgtFs2, target,
            false, true, spark.sparkContext.hadoopConfiguration)
        }
        s.copy(name = abs(s.name),
          sidecar = Some(tgtFs2.makeQualified(target).toUri.getPath))
    }
    val cloned: Seq[Line] = src.lines.flatMap {
      case DataEntry(n)      => Some(DataEntry(abs(n)))
      case s: StatsEntry     => Some(localizeStats(s))
      case DvEntry(k, n)     => Some(DvEntry(k, abs(n)))
      case b: BloomEntry     => Some(b.copy(dir = abs(b.dir)))
      case _: TxnEntry       => None // the source's writers' replay guards
      case _: ChangesEntry   => None // speaks the source's version numbers
      case other             => Some(other) // schema/partition/colmap/notnull/constraint/bloomcol
    }
    commitManifest(spark, targetDir, 0, cloned.map(renderLine))
    0
  }

  /** Delta `CREATE TABLE … DEEP CLONE src`'s role: a FULLY INDEPENDENT
    * fork — every referenced byte (data files, deletion vectors, bloom
    * sidecars) COPIES into the target, which then shares nothing with
    * the source: vacuum, prune, or DROP the source and the clone
    * serves on. This retires the shallow clone's documented caveat
    * (the source owns a shallow ref's files and its prune may reclaim
    * them) at the price of the copy.
    *
    * The copy is a SPARK JOB — the file list comes from the manifest
    * (per-file stats lists; dirs without one fall back to a driver
    * listing), and tasks stream each file src→dst, so cloning a
    * 100 TB table is cluster-wide IO, not a driver loop. Because
    * bytes move through streams (not manifest refs), deep clone also
    * lifts two shallow-clone restrictions: the target may live on a
    * DIFFERENT filesystem namespace (the migration story), and
    * SQL-DELETE scoped masks clone fine — local dir names are
    * preserved, so their scopes stay valid; masks apply in the clone
    * exactly as in the source. Absolute refs (a shallow-cloned or
    * converted source) localize under deterministic names, every
    * keyed line (stats, dv, scoped-dv scopes, blooms) rewritten
    * through the same map.
    *
    * Carried: schema, partition spec, stats (file names unchanged —
    * skipping works immediately), constraints, NOT NULL, column
    * mapping, identity marks, bloom declaration + blobs/sidecars.
    * Dropped like the shallow clone: txn watermarks and recorded
    * change feeds (they speak the source's writer ids and version
    * numbers). The clone starts its OWN history at version 0 with a
    * fresh in-commit timestamp. */
  /** (bytesCopied, filesSkipped) of the LAST deep-clone copy job in
    * this JVM — a test seam for the resume contract, not an API. */
  @volatile private[graft] var lastDeepCloneCounts: (Long, Long) = (0L, 0L)

  def cloneTableDeep(spark: SparkSession, sourceDir: String, targetDir: String,
                     version: Option[Int] = None): Int = {
    val srcV = version.getOrElse(latestVersion(spark, sourceDir).getOrElse(
      throw new IllegalArgumentException(s"no versions at $sourceDir")))
    require(versions(spark, sourceDir).contains(srcV),
      s"no version $srcV at $sourceDir")
    require(latestVersion(spark, targetDir).isEmpty,
      s"target $targetDir already exists — DROP it, or clone elsewhere")
    val (srcFs, srcRoot) = fsFor(spark, sourceDir)
    val (tgtFs, tgtRoot) = fsFor(spark, targetDir)
    val rootAbs = srcFs.makeQualified(srcRoot).toString
    val tgtAbs = tgtFs.makeQualified(tgtRoot).toString
    val src = snapshot(spark, sourceDir, srcV)
    def abs(n: String) =
      if (n.startsWith("/")) srcFs.makeQualified(new Path(n)).toString
      else s"${rootAbs.stripSuffix("/")}/$n"

    // every referenced dir localizes: local names keep themselves
    // (scoped-dv scopes reference them), absolute refs get a
    // deterministic content-addressed local name
    val dirRefs = src.liveDirNames.distinct
    // a positional dv's `_file` refs survive the deep clone only
    // because LOCAL dir names map to themselves; an adopted/absolute
    // data ref renames, which would orphan any position pointing into
    // it — refuse that (rare) combination with the same remedy as the
    // shallow clone
    require(src.posDvs.isEmpty || src.dataDirNames.forall(!_.startsWith("/")),
      s"$sourceDir@v$srcV carries positional deletion vectors over adopted " +
        "(absolute-ref) data dirs, which the deep clone renames — apply the masks " +
        "physically (INSERT OVERWRITE the read, or compact) first")
    def md8(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    val nameMap: Map[String, String] = dirRefs.map { r =>
      r -> (if (r.startsWith("/")) s"v00000000_adopted_${md8(r)}" else r)
    }.toMap
    // rewritten refs keep the store's scheme-free absolute-path form
    // (`toUri.getPath`, what externalizeBlooms writes): pruneVersions'
    // sidecar reclaim compares refs in exactly that spelling — a
    // scheme-qualified ref would never match and the copied sidecar
    // would age out as garbage. Scheme-free refs resolve on the
    // DEFAULT filesystem only, so a cross-namespace target INLINES
    // the blobs instead (they are already parsed in memory; the
    // clone's own next declare/backfill re-externalizes if heavy).
    val refsRoundTrip = tgtFs.getUri ==
      org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration).getUri
    val tgtPathAbs = tgtFs.makeQualified(tgtRoot).toUri.getPath
    val sidecarRefs =
      if (!refsRoundTrip) Seq.empty
      else src.bloomEntries.flatMap(_.sidecar).distinct
    val sidecarMap: Map[String, String] = sidecarRefs.map { ref =>
      ref -> s"${tgtPathAbs.stripSuffix("/")}/$VDIR/blooms/${new Path(ref).getName}"
    }.toMap
    // stats sidecars copy the same way (same-namespace targets); a
    // cross-namespace target re-externalizes them INTO the target
    // below instead — the file lists are load-bearing and must never
    // stay refs into the source's tree on a deep clone
    val statsRefs =
      if (!refsRoundTrip) Seq.empty
      else src.stats.values.flatMap(_.sidecar).toSeq.distinct
    val statsMap: Map[String, String] = statsRefs.map { ref =>
      ref -> s"${tgtPathAbs.stripSuffix("/")}/$VDIR/stats/${new Path(ref).getName}"
    }.toMap

    // the copy list: (src file, dst file) — manifest-served for
    // stats-listed data dirs (zero listing), driver-listed for dv
    // dirs and pre-file-list dirs (small / legacy)
    val copies = scala.collection.mutable.ArrayBuffer[(String, String)]()
    dirRefs.foreach { ref =>
      val srcDir = abs(ref)
      val dstDir = s"${tgtAbs.stripSuffix("/")}/${nameMap(ref)}"
      src.stats.get(ref).filter(_.files.nonEmpty) match {
        case Some(st) =>
          st.files.foreach(f => copies += ((s"$srcDir/${f.name}", s"$dstDir/${f.name}")))
        case None =>
          val srcDirPath = new Path(srcDir)
          val base = srcFs.makeQualified(srcDirPath).toString.stripSuffix("/") + "/"
          val it = srcFs.listFiles(srcDirPath, true)
          while (it.hasNext) {
            val st = it.next()
            val full = st.getPath.toString
            require(full.startsWith(base), s"listing escaped $base: $full")
            copies += ((full, s"$dstDir/${full.stripPrefix(base)}"))
          }
      }
    }
    sidecarRefs.foreach(ref => copies += ((ref, sidecarMap(ref))))
    statsRefs.foreach(ref => copies += ((ref, statsMap(ref))))

    // distributed copy, a job whatever the file count: tasks stream
    // each file; cross-namespace is fine (both ends resolve their own
    // filesystem from the conf). RESUMABLE: the commit lands only
    // after every byte, so a crashed 100 TB clone leaves files but no
    // manifest — the re-run must not start from zero. Each task skips
    // (returns None for) a destination that already exists with the
    // SOURCE's length (source files are immutable and content moves
    // whole-file, so equal length = completed copy; a crashed partial
    // is shorter and re-copies with overwrite), a per-file metadata
    // call INSIDE the task, never a driver loop.
    if (copies.nonEmpty) {
      val results = Skipping.runAsJob(spark, copies.toSeq,
          s"graft: deep clone copy (${copies.length} files)") { case (conf, (s, d)) =>
        val sp = new Path(s)
        val dp = new Path(d)
        val sfs = sp.getFileSystem(conf)
        val dfs = dp.getFileSystem(conf)
        val srcLen = sfs.getFileStatus(sp).getLen
        val done =
          try dfs.getFileStatus(dp).getLen == srcLen
          catch { case _: java.io.FileNotFoundException => false }
        if (done) None
        else if (org.apache.hadoop.fs.FileUtil.copy(sfs, sp, dfs, dp, false, true, conf))
          Some(srcLen)
        else throw new java.io.IOException(s"deep clone copy failed: $s -> $d")
      }
      val copied = results.flatten.sum
      val skipped = results.count(_.isEmpty).toLong
      if (skipped > 0)
        log.info(s"deep clone $sourceDir -> $targetDir resumed: " +
          s"$skipped of ${copies.length} files were already complete; " +
          s"$copied bytes copied this run")
      lastDeepCloneCounts = (copied, skipped)
    }

    val cloned: Seq[Line] = src.lines.flatMap {
      case DataEntry(n)       => Some(DataEntry(nameMap(n)))
      case s: StatsEntry      =>
        val renamed = s.copy(name = nameMap.getOrElse(s.name, s.name))
        Some(
          if (refsRoundTrip) renamed.copy(sidecar = renamed.sidecar.map(statsMap))
          else externalizeStats(spark, targetDir,
            Seq(renamed.copy(sidecar = None))).head.asInstanceOf[StatsEntry])
      case DvEntry(k, n)      => Some(DvEntry(k, nameMap(n)))
      case ScopedDvEntry(k, n, sc0) =>
        Some(ScopedDvEntry(k, nameMap(n), sc0.map(x => nameMap.getOrElse(x, x))))
      case PdvEntry(n)        => Some(PdvEntry(nameMap(n)))
      case b: BloomEntry      => Some(b.copy(dir = nameMap.getOrElse(b.dir, b.dir),
        sidecar = if (refsRoundTrip) b.sidecar.map(sidecarMap) else None))
      case _: TxnEntry        => None // the source's writers' replay guards
      case _: ChangesEntry    => None // speaks the source's version numbers
      case other              => Some(other)
    }
    commitManifest(spark, targetDir, 0, cloned.map(renderLine))
    0
  }

  // ───────────── CONVERT in place (adopt plain parquet) ─────────────

  /** Delta `CONVERT TO DELTA`'s role: adopt an existing PLAIN parquet
    * directory as version 0 of a versioned chain IN PLACE — one footer
    * harvest (the stats/skipping upgrade every migration wants anyway)
    * plus one manifest commit; zero bytes move. The v0 manifest
    * references the directory by ABSOLUTE path exactly like a shallow
    * [[cloneTable]] ref, so every later operation — appends, CoW
    * rewrites, deletes, OPTIMIZE, time travel — works unchanged: new
    * versions land nonce'd dirs BESIDE the adopted files, and
    * [[pruneVersions]] (which reclaims only `v########_*` children)
    * can never touch the originals. The flip side, documented like the
    * clone caveat: once an overwrite or compaction retires the adopted
    * files from every kept version, prune does NOT reclaim them —
    * delete the originals by hand when the pre-convert layout is no
    * longer wanted.
    *
    * A hive-partitioned directory converts by declaring its partition
    * columns (their types come from Spark's own inference and must be
    * hive-path-exact); the per-file stats then record each file's
    * partition values and the partitioned manifest index serves
    * PartitionFilters pruning immediately. Refusals, never surprises:
    * an already-versioned dir, hive `col=value` segments without the
    * declaration (the union read would null-fill the partition
    * columns), and parquet inside HIDDEN subtrees (a crashed writer's
    * `_temporary` leftovers would silently join the table — clean
    * first). */
  def convertParquetDir(spark: SparkSession, dir: String,
                        partCols: Seq[String] = Seq.empty): Int = {
    val (fs, root) = fsFor(spark, dir)
    require(fs.exists(root), s"no directory at $dir")
    require(latestVersion(spark, dir).isEmpty,
      s"$dir is already a versioned chain — CONVERT adopts plain parquet only")
    val rootAbs = fs.makeQualified(root).toUri.getPath
    require(!rootAbs.contains(":") && !rootAbs.contains(","),
      s"converted tables are addressed by colon/comma-free absolute paths " +
        s"(the line-based manifest embeds them); got '$rootAbs'")
    val hiddenHits = scala.collection.mutable.ArrayBuffer.empty[String]
    var anyParquet = false
    var anyHiveSegment = false
    var anyNested = false
    def walk(p: Path, hidden: Boolean, depth: Int): Unit =
      fs.listStatus(p).foreach { st =>
        val n = st.getPath.getName
        val h = hidden || n.startsWith("_") || n.startsWith(".")
        if (st.isDirectory) {
          if (n.contains('=') && !h) anyHiveSegment = true
          walk(st.getPath, h, depth + 1)
        } else if (n.endsWith(".parquet")) {
          if (h) hiddenHits += st.getPath.toString
          else { anyParquet = true; if (depth > 0) anyNested = true }
        }
      }
    walk(root, hidden = false, depth = 0)
    require(hiddenHits.isEmpty,
      s"$dir holds parquet inside hidden staging subtrees (${hiddenHits.head}, " +
        s"${hiddenHits.length} total) — a reader must never see a crashed " +
        "writer's leftovers; clean them first")
    require(anyParquet, s"no parquet files under $dir — nothing to convert")
    require(partCols.nonEmpty || !anyHiveSegment,
      s"$dir is hive-partitioned (col=value subdirs) — declare the partition " +
        "columns, or the union read would null-fill them")
    // nested NON-hive parquet would silently miss the flat footer
    // harvest (top-level listing): the committed stats would claim 0
    // of those rows and value-predicate reads would prune dirs that
    // hold data. Refuse; a flat parquet table has flat files.
    require(partCols.nonEmpty || !anyNested,
      s"$dir holds parquet in NESTED subdirectories without a hive layout — " +
        "CONVERT adopts flat or hive-partitioned tables only; flatten or " +
        "declare the partition columns")
    val schema = partitionedReadOrder(asNullable(spark.read.parquet(dir).schema), partCols)
    val (rows, cols, files) =
      if (partCols.isEmpty) Skipping.collectDirStats(spark, root, schema)
      else Skipping.collectDirStatsPartitioned(spark, root, schema,
        StructType(partCols.map(c => schema(c))))
    val v0: Seq[Line] = Seq(SchemaEntry(schema)) ++
      (if (partCols.nonEmpty) Seq(PartitionEntry(partCols)) else Seq.empty) ++
      (DataEntry(rootAbs) +:
        externalizeStats(spark, dir, Seq(StatsEntry(rootAbs, rows, cols, files))))
    commitManifest(spark, dir, 0, v0.map(renderLine))
    0
  }

  /** Delta `COPY INTO`'s role: idempotent file ingestion into an
    * EXISTING versioned table. Lists the source's data files (hidden
    * subtrees skipped, extension matched to `format`), skips every
    * path already in the table's ingest ledger (`ingest:` lines),
    * reads EXACTLY the fresh files, aligns them to the target's
    * logical schema BY NAME with store-assignment casts (a source
    * column the target lacks refuses; omitted target columns fall to
    * the identity/default fill and the NOT NULL gate), and commits
    * ONE append whose manifest atomically records the loaded paths —
    * so a crashed or re-run ingestion never double-loads a file, with
    * no sink-side state beyond the manifest itself. The ledger rides
    * overwrites like txn watermarks (maintenance never re-opens the
    * window), resets with REPLACE TABLE, and is retired explicitly by
    * [[forgetIngestHistory]]. The first ingest stamps the `ingest`
    * protocol feature (optional: readers without it still serve the
    * data correctly).
    *
    * Scale shape: the listing is one recursive enumeration of the
    * SOURCE (the same O(source files) every engine pays), the
    * skip-set check is set arithmetic on the driver, and the read is
    * a plain distributed scan of only the fresh files. The ledger
    * grows O(total ingested files) in the manifest — the checkpoint
    * spill bounds the recurring blob, and [[forgetIngestHistory]] is
    * the retention valve once a source prefix is retired.
    *
    * Returns (filesLoaded, rowsLoaded, version); None when every
    * listed file is already ingested. */
  def copyInto(spark: SparkSession, dir: String, source: String,
               format: String = "parquet",
               schema: Option[StructType] = None,
               options: Map[String, String] = Map.empty): Option[(Int, Long, Int)] = {
    val fmt = format.trim.toLowerCase(java.util.Locale.ROOT)
    val exts = fmt match {
      case "parquet" => Seq(".parquet")
      case "json"    => Seq(".json", ".jsonl", ".json.gz")
      case "csv"     => Seq(".csv", ".csv.gz", ".tsv")
      case other => throw new IllegalArgumentException(
        s"copyInto supports parquet/json/csv, got '$other'")
    }
    val (srcFs, srcRoot) = fsFor(spark, source)
    require(srcFs.exists(srcRoot), s"no source directory at $source")
    val found = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(p: Path): Unit = srcFs.listStatus(p).foreach { st =>
      val n = st.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".")) {
        if (st.isDirectory) walk(st.getPath)
        else if (exts.exists(n.endsWith)) {
          val spelled = uriPathOf(srcFs.makeQualified(st.getPath).toString)
          require(!spelled.contains("\n") && !spelled.contains("\r"),
            s"source file path embeds a newline — the line-based ledger cannot " +
              s"record it: $spelled")
          found += spelled
        }
      }
    }
    walk(srcRoot)
    if (found.isEmpty) return None
    var loaded = 0
    // an append: each attempt re-reads the ledger, and its read version
    // pins the commit — anything committed between the skip-set read
    // and the claim refuses and retries, so two racing copyInto runs
    // can never both load a file
    commitFrame(spark, dir, SaveMode.Append) { () =>
      val prev = latestVersion(spark, dir).getOrElse(
        throw new IllegalArgumentException(
          s"COPY INTO needs an existing table at $dir — CREATE it first " +
            "(the target schema governs the alignment)"))
      val snap = snapshot(spark, dir, prev)
      val fresh = found.toSeq.filterNot(snap.ingested).sorted
      if (fresh.isEmpty) None
      else {
        val logical = snap.logicalSchema.getOrElse(throw new IllegalArgumentException(
          s"COPY INTO at $dir needs a recorded schema — commit once to record it"))
        val partCols = snap.partitionCols
        var reader = spark.read.format(fmt).options(options)
        schema.foreach(s => reader = reader.schema(s))
        val raw = reader.load(fresh: _*)
        val unknown = raw.columns.filterNot(c =>
          logical.fieldNames.exists(_.equalsIgnoreCase(c)))
        require(unknown.isEmpty,
          s"COPY INTO source carries column(s) the target lacks: " +
            s"${unknown.mkString(", ")} — ALTER TABLE ... ADD COLUMNS first, " +
            "or project them away in a staging view")
        val present = logical.fields.filter(f =>
          raw.columns.exists(_.equalsIgnoreCase(f.name)))
        require(present.nonEmpty, s"COPY INTO source shares no column with $dir")
        require(partCols.forall(pc => present.exists(_.name.equalsIgnoreCase(pc))),
          s"COPY INTO into the partitioned table $dir needs the partition " +
            s"column(s) ${partCols.mkString(", ")} present in the source")
        val aligned = raw.select(present.toSeq.map { f =>
          org.apache.spark.sql.functions
            .col(raw.columns.find(_.equalsIgnoreCase(f.name)).get)
            .cast(f.dataType).as(f.name)
        }: _*)
        val feat: Seq[Line] =
          if (snap.hasFeature("ingest")) Seq.empty
          else Seq(FeatureEntry("ingest", required = false))
        loaded = fresh.length
        Some(Frame(aligned, partCols, readAt = Some(prev),
          extra = _ => feat ++ fresh.map(IngestEntry)))
      }
    }.map { v =>
      val added = addedDataDirs(spark, dir, v)
        .map(a => a.substring(a.lastIndexOf('/') + 1)).toSet
      val rows = snapshot(spark, dir, v).stats.valuesIterator
        .filter(s => added.contains(s.name)).map(_.rows).sum
      (loaded, rows, v)
    }
  }

  /** Retire the COPY INTO ledger in one metadata commit (the
    * retention valve — and the precondition for dropping the `ingest`
    * protocol feature): the next [[copyInto]] re-considers every
    * source file, so forget only once a source prefix is itself
    * retired or re-loading is intended. Returns the committed
    * version; None when the ledger is already empty. */
  def forgetIngestHistory(spark: SparkSession, dir: String): Option[Int] =
    withCommitRetry { () =>
      val snap = snapshot(spark, dir, requireLatest(spark, dir))
      if (snap.ingested.isEmpty) None
      else Some(commitChild(spark, dir, snap, Seq("-ingest")))
    }

  /** Commit `df` as the next version — the one DataFrame entry point.
    * `SaveMode.Overwrite` starts the table state from this write alone
    * (keeping the table's definition, [[carriedDefinition]]);
    * `SaveMode.Append` extends the previous version's file set.
    * `partCols` lay the rows out hive-style
    * (`dataDir/col=value/part-*.parquet`) inside the commit's single
    * data dir: the manifest records the partition spec and each file's
    * partition values as exact per-file bounds, so a filter on a
    * partition column prunes from manifest bytes at plan time. Appends
    * must use the table's partition columns; partition column types
    * are the hive-path-exact set (string/int/long/short/byte/date/
    * boolean).
    *
    * Retry contract: an APPEND commutes with concurrent appends and
    * deletes, so a lost version race retries at the next version —
    * each attempt re-reads the table and writes a fresh uniquely-named
    * data dir, and losers' dirs stay invisible until pruned. An
    * OVERWRITE replaces state it has not seen, so a lost race surfaces
    * as a [[CommitConflict]] to the caller, who may no longer want the
    * overwrite at all — the same reason Delta fails conflicting
    * non-commutative commits. The manifest publishes through
    * [[Commit.putIfAbsent]], so `dir`'s scheme picks the commit
    * primitive. Returns the committed version — the latest one when a
    * partitioned append lands no rows (nothing commits). */
  def writeVersion(df: DataFrame, dir: String,
                   mode: SaveMode = SaveMode.Overwrite,
                   partCols: Seq[String] = Seq.empty): Int =
    commitFrame(df.sparkSession, dir, mode)(() => Some(Frame(df, partCols)))
      .getOrElse(requireLatest(df.sparkSession, dir))

  /** [[writeVersion]] with a caller-supplied data writer — the
    * [[ManifestStore]] rewrite hook: `write` receives the immutable
    * data-dir path for the new version and must produce the complete
    * parquet state there; the version becomes visible only when the
    * manifest commits afterwards.
    *
    * The commit also records (a) the version's union schema and (b)
    * the new dir's column min/max/null stats, both harvested from the
    * parquet footers of the JUST-WRITTEN dir — cost O(files in this
    * commit), never O(table) — so reads plan with zero footer access
    * and selective reads can skip whole dirs. */
  def writeVersionWith(spark: SparkSession, dir: String,
                       mode: SaveMode = SaveMode.Overwrite)
                      (write: String => Unit): Int =
    writeVersionCore(spark, dir, mode, txn = None, WriteNow(write, None)).get

  /** Exactly-once STREAMING sink commit (Delta's (appId, batchId)
    * idempotent-txn design, public in the Delta paper/docs): commit
    * `df` as the next version AND record `txn:<batchId>:<appId>` in
    * the same atomic manifest. A replayed epoch — checkpoint restore
    * re-delivering a batch the sink already committed — is detected
    * from the manifest (same appId, batchId ≤ recorded) and skipped
    * BEFORE any data is written; the check re-runs inside every OCC
    * retry, so a replay can't slip in behind a concurrent commit.
    * [[writeVersion]]'s retry contract: Append-mode batches retry a
    * lost race, Complete-mode overwrites surface it. An empty
    * partitioned batch lands no file: Append skips it, Complete commits
    * the empty state metadata-only. Returns the committed version, or
    * None for a skipped replay or empty append. */
  def writeVersionStreamBatch(df: DataFrame, dir: String, appId: String,
                              batchId: Long, mode: SaveMode = SaveMode.Append,
                              partCols: Seq[String] = Seq.empty): Option[Int] = {
    require(appId.nonEmpty, "appId must be non-empty")
    commitFrame(df.sparkSession, dir, mode, txn = Some((appId, batchId)))(() =>
      Some(Frame(df, partCols)))
  }

  /** One attempt's input to [[commitFrame]]: the rows to land, their
    * partition columns, the version the attempt's inputs were read at
    * (the commit refuses as a [[CommitConflict]] when anything landed
    * since), and the lines the version records beside the rows, given
    * the prepared frame. */
  private final case class Frame(df: DataFrame, partCols: Seq[String] = Seq.empty,
                                 readAt: Option[Int] = None,
                                 extra: DataFrame => Seq[Line] = _ => Seq.empty)

  /** A DataFrame made ready to land at `dir`: omitted GENERATED and
    * IDENTITY columns filled (and translated to the chain's physical
    * names when `translate`), the partition columns checked, the
    * writer that lands it — reshaped by optimize-write, hive-laid-out
    * by `partCols` — in the dir it is handed, and the version the
    * identity fill read. */
  private final case class Prepared(out: DataFrame, rows: WriteNow,
                                    partitionBy: Option[StructType], idBasis: Option[Int])

  private def prepare(df: DataFrame, dir: String, partCols: Seq[String],
                      translate: Boolean): Prepared = {
    val (out, idBasis) = prepareWrite(df, dir, translate)
    val schema = partitionedReadOrder(out.schema, partCols)
    Prepared(out, WriteNow({ path =>
      val w = optimizeWriteShape(out, dir, partCols).write.mode(SaveMode.ErrorIfExists)
      (if (partCols.isEmpty) w else w.partitionBy(partCols: _*)).parquet(path)
    }, Some(schema)), partitionSchema(schema, partCols), idBasis)
  }

  /** The one body from DataFrame to version: each attempt takes its
    * [[Frame]] from `next` (None = nothing to commit), prepares it —
    * an APPEND's rows translate to the chain's physical names, an
    * overwrite resets the layout and needs none — and commits it
    * through [[writeVersionCore]]. An append retries a lost race
    * ([[withCommitRetry]]: every attempt re-resolves the table, so a
    * concurrent rename or identity advance is seen); an overwrite
    * surfaces it. The post-commit maintenance tick runs once, after
    * the commit and outside the retry. */
  private def commitFrame(spark: SparkSession, dir: String, mode: SaveMode,
                          txn: Option[(String, Long)] = None)
                         (next: () => Option[Frame]): Option[Int] = {
    def attempt(): Option[Int] = next().flatMap { f =>
      val p = prepare(f.df, dir, f.partCols, translate = mode == SaveMode.Append)
      writeVersionCore(spark, dir, mode, txn, p.rows, partitionBy = p.partitionBy,
        extraLines = f.extra(p.out), readAt = f.readAt.orElse(p.idBasis))
    }
    val v = if (mode == SaveMode.Append) withCommitRetry(() => attempt()) else attempt()
    // the epoch stream is THE small-file generator autoCompact exists
    // for — tick after every committed (not replayed/empty) write
    if (v.nonEmpty) maintenanceTick(spark, dir)
    v
  }

  /** `schema` in the recorded read order — data columns first,
    * partition columns last, what Spark's partitioned reader emits —
    * after checking each partition column exists with a
    * hive-path-exact type. */
  private def partitionedReadOrder(schema: StructType, partCols: Seq[String]): StructType = {
    partCols.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"partition column '$c' not in ${schema.fieldNames.mkString(",")}")
      require(Skipping.partitionableType(schema(c).dataType),
        s"partition column '$c' has type ${schema(c).dataType} — hive-path-exact " +
          "types only (string/int/long/short/byte/date/boolean)")
    }
    if (partCols.isEmpty) schema
    else StructType(schema.fields.filterNot(f => partCols.contains(f.name)) ++
      partCols.map(schema(_)))
  }

  /** The partition columns' fields of `schema`; None for an
    * unpartitioned write. */
  private def partitionSchema(schema: StructType, partCols: Seq[String]): Option[StructType] =
    if (partCols.isEmpty) None else Some(StructType(partCols.map(schema(_))))

  /** Claim a data-dir NAME for a write whose bytes an external engine
    * will produce (the DSv2 row-level ReplaceData write): nonce'd and
    * invisible until [[commitStagedOverwrite]] publishes it — the same
    * lifecycle as every writeVersion data dir (a crashed or aborted
    * write leaves an orphan for [[pruneVersions]]). */
  private[graft] def stageDataDir(spark: SparkSession, dir: String): String = {
    val v = latestVersion(spark, dir).map(_ + 1).getOrElse(0)
    val nonce = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    f"v$v%08d_data_$nonce" // the digits are cosmetic; nothing parses them
  }

  /** Publish a dir staged by [[stageDataDir]] (bytes already written)
    * as the next OVERWRITE version: footer harvest + schema recording
    * + atomic manifest commit — the post-write half of writeVersion.
    * A lost version race surfaces (overwrite semantics). */
  private[graft] def commitStagedOverwrite(spark: SparkSession, dir: String,
                                           dataDir: String): Int =
    writeVersionCore(spark, dir, SaveMode.Overwrite, txn = None, Staged(dataDir)).get

  /** SQL `DELETE FROM t` with no WHERE — and a copy-on-write rewrite
    * that removed every row: the next version is the table's own
    * (logical) schema and partition spec with zero data dirs, and it
    * keeps everything a data overwrite keeps ([[carriedDefinition]]).
    * A lost version race surfaces (overwrite semantics). */
  private[graft] def truncate(spark: SparkSession, dir: String): Int = {
    val v = requireLatest(spark, dir)
    val snap = snapshot(spark, dir, v)
    val schema = toLogicalSchema(schemaOf(spark, snap), snap.colMap)
    val partCols = snap.partitionCols
    // the schema and spec were read at v: a commit since (an ALTER)
    // surfaces instead of being overwritten by the stale definition
    writeVersionCore(spark, dir, SaveMode.Overwrite, txn = None,
      NoRows(partitionedReadOrder(schema, partCols)),
      partitionBy = partitionSchema(schema, partCols), readAt = Some(v)).get
  }

  /** FILE-GRANULAR copy-on-write commit (Delta's rewrite-touched-files
    * role): publish a new version that removes exactly the `removed`
    * files (dirName → file names within it) and adds the pre-written
    * `replacementDir`, carrying every untouched file VERBATIM — the
    * manifest ops are O(touched files), and a selective SQL UPDATE
    * stops being a whole-table rewrite. Partially-consumed dirs keep
    * their DataEntry with a shrunk file list and re-aggregated bounds;
    * fully-consumed dirs drop. Deletion vectors, constraints, txn
    * watermarks, partition spec, and schema all carry unchanged.
    *
    * Concurrency: commutes with concurrent appends and key-deletes
    * over DISJOINT files (bounded OCC retry — the reason a
    * file-granular commit beats the overwrite it replaces, which
    * serialized against every append). Two conflicts surface instead
    * of retrying: (a) a file being replaced is no longer in the live
    * set (someone else rewrote it — the scan's snapshot is stale) and
    * (b) the deletion-vector set changed since the rewrite's scan
    * applied it (`dvSnapshot`) — the replacement rows would silently
    * undo the concurrent delete.
    *
    * Returns the committed version, or None when nothing was removed
    * and nothing added (a no-op DML statement commits no version). */
  /** `exclusivePartitions`: canonical partition tuples this rewrite
    * claims EXCLUSIVELY (dynamic partition overwrite) — any live file
    * in a claimed partition that is not in `removed` is a concurrent
    * write the statement has not seen, and surfaces as a conflict
    * instead of silently surviving the overwrite. */
  private[graft] def commitFileRewrite(spark: SparkSession, dir: String,
                                       removed: Map[String, Set[String]],
                                       replacementDir: Option[String],
                                       partCols: Seq[String],
                                       dvSnapshot: Seq[(String, String)],
                                       exclusivePartitions: Set[Seq[Option[String]]] =
                                         Set.empty,
                                       preHarvested: Option[(Long, Map[String, ColStats], Seq[FileStats])] =
                                         None,
                                       identityBasis: Option[Int] = None,
                                       // REPLACE WHERE's WriteSerializable leg: (the basis
                                       // version's data-dir names, the predicate's pushed
                                       // conjuncts in LOGICAL names, the predicate text).
                                       // A dir committed concurrently whose stats cannot
                                       // EXCLUDE the predicate conflicts — 'replace where X'
                                       // must not commit past appended rows matching X
                                       replaceConflict: Option[(Set[String],
                                         Seq[org.apache.spark.sql.sources.Filter], String)] =
                                         None,
                                       // a pre-written change-feed dir (keys, dirName) to
                                       // record in the SAME commit — the rewrite's version
                                       // numbers are known only inside the retry, so the
                                       // ChangesEntry is stamped here
                                       changeFeed: Option[(Seq[String], String)] =
                                         None,
                                       // false = the rewrite PRESERVES served content
                                       // (compaction, Z-order): the commit stamps the
                                       // version-scoped `rearrange:1` flag so streaming
                                       // sources skip it and change feeds emit nothing —
                                       // Delta's dataChange=false
                                       dataChange: Boolean = true,
                                       // true = the rewrite covered EVERY live file with
                                       // the masks applied physically, so the dv lines
                                       // retire with the files they masked (the
                                       // whole-table OPTIMIZE contract). A PARTIAL
                                       // rewrite must keep them — untouched dirs still
                                       // need the mask.
                                       dropDvs: Boolean = false,
                                       // a pre-written POSITIONAL-dv sidecar committed
                                       // WITH the rewrite (the delta-based UPDATE/MERGE/
                                       // DELETE commit shape: mask + append, zero file
                                       // removal): (staged sidecar dir, masked files per
                                       // data dir — each must still be live at commit,
                                       // or the positions would point at files a
                                       // concurrent rewrite replaced)
                                       addPdv: Option[(String, Map[String, Set[String]])] =
                                         None): Option[Int] = {
    val removedNonEmpty = removed.filter(_._2.nonEmpty)
    if (removedNonEmpty.isEmpty && replacementDir.isEmpty && addPdv.isEmpty) return None
    val (fs, root) = fsFor(spark, dir)
    val base0 = snapshot(spark, dir, requireLatest(spark, dir))
    val schema = schemaOf(spark, base0)
    // the sidecar's positions, from the just-written footers (metadata
    // only): empty → no mask line (the dir is deleted); over the size
    // contract → refuse whole (the reader ships the set with the task
    // binary, exactly the deleteWhere contract)
    val pdvEntry: Option[Line] = addPdv.flatMap { case (nd, _) =>
      val p = new Path(root, nd)
      val nPos = Skipping.collectDirStats(spark, p, asNullable(StructType(Seq(
        StructField("_file", org.apache.spark.sql.types.StringType),
        StructField("_pos", org.apache.spark.sql.types.LongType)))))._1
      if (nPos == 0L) { fs.delete(p, true); None }
      else {
        val cap = maxDvPositions(spark)
        if (nPos > cap) {
          fs.delete(p, true)
          replacementDir.foreach(rd => fs.delete(new Path(root, rd), true))
          throw new IllegalArgumentException(
            s"row-level rewrite: $nPos deleted positions exceeds the positional " +
              s"deletion-vector size contract (spark.graft.dv.maxPositions=$cap). " +
              "Every mask reader ships the position set with the task binary; a " +
              "change this size belongs in a copy-on-write rewrite — re-run with " +
              "spark.graft.rowops.mode=cow")
        }
        Some(PdvEntry(nd))
      }
    }
    // harvest + constraint-validate the replacement ONCE — its content
    // is snapshot-determined, not manifest-determined, so retries
    // reuse it (a caller that already harvested the staged dir passes
    // the result through rather than paying the footer sweep twice)
    val newEntries: Seq[Line] = replacementDir.toSeq.flatMap { nd =>
      val p = new Path(root, nd)
      val (rows, cols, files) = preHarvested.getOrElse {
        if (partCols.isEmpty) {
          val s = asNullable(parquetSchemaDriver(spark, Seq(p.toString)))
          Skipping.collectDirStats(spark, p, s)
        } else Skipping.collectDirStatsPartitioned(spark, p, schema,
          StructType(partCols.map(c => schema(c))))
      }
      // an all-rows-deleted rewrite can still land one 0-row part
      // file (the writer's task artifact): reference nothing — the
      // removal ops ARE the whole change
      if (rows == 0L) { fs.delete(p, true); Seq.empty }
      else {
        // a bloom-indexed table's replacement dir gets its own blobs,
        // one per DECLARED column (same O(delta) scans as any commit)
        val bloom = externalizeBlooms(spark, dir, base0.bloomDecls.map { b =>
            BloomEntry(nd, b.col,
              Bloom.buildDirBlooms(spark, p.toString, schema, b.col, b.bits))
          })
        (DataEntry(nd) +:
          externalizeStats(spark, dir, Seq(StatsEntry(nd, rows, cols, files)))) ++ bloom
      }
    }
    if (removedNonEmpty.isEmpty && newEntries.isEmpty && pdvEntry.isEmpty) return None
    val validatedConstraints = base0.constraints.map(ConstraintEntry.tupled)
    val rewriteGenCols = generatedColumnsOf(schema)
    if ((validatedConstraints.nonEmpty || rewriteGenCols.nonEmpty) && newEntries.nonEmpty) {
      import org.apache.spark.sql.functions.{coalesce, expr, lit, not, col => fcol}
      // constraint/generation SQL is LOGICAL text (it follows
      // renames); the staged files carry PHYSICAL names — evaluate
      // under logical, the same boundary writeVersionCore applies
      val cmapHere = base0.colMap
      val invHere = cmapHere.map(_.swap)
      val staged = toLogicalDf(
        spark.read.schema(schema)
          .parquet(new Path(root, replacementDir.get).toString),
        cmapHere)
      validatedConstraints.foreach { c =>
        require(staged.filter(not(coalesce(expr(c.predicateSql), lit(true)))).isEmpty,
          s"rewrite of $dir violates CHECK constraint '${c.name}' " +
            s"(${c.predicateSql}); nothing was committed")
      }
      // GENERATED columns hold through row-level rewrites too: an
      // UPDATE/MERGE that produced value != expr refuses (update the
      // generated column consistently, or update through a path that
      // recomputes it). One combined job in the passing case.
      if (rewriteGenCols.nonEmpty) {
        def violatesGen(n: String, sql: String) =
          not(fcol(invHere.getOrElse(n, n)) <=> expr(sql))
        if (!staged.filter(rewriteGenCols.map((violatesGen _).tupled).reduce(_ || _)).isEmpty) {
          val (n, sql) = rewriteGenCols.find { case (cn, csql) =>
            !staged.filter(violatesGen(cn, csql)).isEmpty }.get
          throw new IllegalArgumentException(
            s"rewrite of $dir violates GENERATED column '${invHere.getOrElse(n, n)}' " +
              s"= ($sql); nothing was committed")
        }
      }
    }
    // NOT NULL columns: the replacement's footer harvest already holds
    // the null counts — same zero-IO check as writeVersionCore's
    newEntries.collectFirst { case s: StatsEntry => s }.foreach { st =>
      base0.notNull.foreach { nn =>
        val violated = st.rows > 0 && (st.cols.get(nn) match {
          case None     => true
          case Some(cs) => cs.nulls match {
            case Some(n) => n > 0
            case None =>
              !spark.read.schema(schema)
                .parquet(new Path(root, replacementDir.get).toString)
                .filter(org.apache.spark.sql.functions.col(nn).isNull).isEmpty
          }
        })
        require(!violated,
          s"rewrite of $dir violates NOT NULL constraint on '$nn'; " +
            "nothing was committed")
      }
    }
    def conflict(msg: String) = throw new IllegalStateException(
      s"file rewrite at $dir $msg — the rewrite's snapshot is stale; re-run the statement")
    withCommitRetry { () =>
      val prev = latestVersion(spark, dir).get
      val snap = snapshot(spark, dir, prev)
      val stats = snap.stats
      // every file being replaced must still be live, byte-identical
      removedNonEmpty.foreach { case (d, files) =>
        val have = stats.get(d).map(_.files.map(_.name).toSet).getOrElse(Set.empty)
        val gone = files -- have
        if (gone.nonEmpty) conflict(s"lost ${gone.size} file(s) of $d to a concurrent rewrite")
      }
      // …and every file the new positional mask points into: positions
      // are per file CONTENT — a concurrent rewrite that replaced a
      // masked file would leave the mask aimed at bytes that no longer
      // serve, silently resurrecting (or re-deleting) the wrong rows
      if (pdvEntry.nonEmpty) addPdv.foreach { case (_, masked) =>
        masked.foreach { case (d, files) =>
          val have = stats.get(d).map(_.files.map(_.name).toSet).getOrElse(Set.empty)
          val gone = files -- have
          if (gone.nonEmpty)
            conflict(s"lost ${gone.size} position-masked file(s) of $d to a concurrent rewrite")
        }
      }
      // names normalize to their LAST segment: a cloned chain's dv
      // refs are absolute, the snapshot's were taken through the same
      // last-segment view (the snapshot serves absolute dirs either way)
      def seg(n: String) = n.substring(n.lastIndexOf('/') + 1)
      def segs(dvs: Seq[(String, String)]) = dvs.map { case (k, n) => (k, seg(n)) }.toSet
      if (segs(snap.dvSnapshot) != segs(dvSnapshot))
        conflict("saw the deletion-vector set change under it")
      if (snap.constraints.toSet != base0.constraints.toSet)
        conflict("saw the CHECK constraints change under it")
      if (snap.notNull.toSet != base0.notNull.toSet)
        conflict("saw the NOT NULL constraints change under it")
      if (snap.partitionCols != partCols)
        conflict(s"saw the partition spec change to ${snap.partitionCols.mkString(",")}")
      replaceConflict.foreach { case (basis, filters, predSql) =>
        val cmapNow = snap.colMap
        val logicalNow = toLogicalSchema(snap.schema.getOrElse(schema), cmapNow)
        val newcomers = stats.values.filterNot(s => basis.contains(s.name))
        // a newcomer survives only when some pushed conjunct PROVES it
        // holds no matching row; an untranslatable predicate (no
        // conjuncts) keeps every newcomer — conservative, like Delta
        val overlapping = newcomers.filterNot(st =>
          filters.exists(f => Skipping.excludes(st.rows,
            rekeyToLogical(st.cols, cmapNow), logicalNow, f)))
        if (overlapping.nonEmpty) conflict(
          s"saw ${overlapping.size} concurrently-committed dir(s) whose rows may " +
            s"match the replace predicate ($predSql) — a REPLACE WHERE must not " +
            "commit past concurrent writes it would have replaced")
      }
      if (exclusivePartitions.nonEmpty) {
        val foreign = stats.values.flatMap { st =>
          val mine = removedNonEmpty.getOrElse(st.name, Set.empty)
          st.files.filterNot(f => mine.contains(f.name)).filter(f =>
            exclusivePartitions.contains(partCols.map(c => f.cols.get(c).flatMap(_.min))))
        }
        if (foreign.nonEmpty)
          conflict(s"saw ${foreign.size} file(s) land concurrently in a partition " +
            "this statement overwrites")
      }
      val ops = Seq.newBuilder[String]
      val bloomByDir = snap.bloomEntries.groupBy(_.dir)
      val replacedStats = removedNonEmpty.flatMap { case (d, files) =>
        val st = stats(d)
        val remaining = st.files.filterNot(f => files.contains(f.name))
        if (remaining.isEmpty) { ops += s"-data:$d"; None }
        else {
          val (rows, cols, _) = Skipping.aggregateDir(schema, remaining)
          // a trim's content changed ⇒ the old sidecar (if any) drops
          // and the survivor re-externalizes if still heavy — the
          // orphaned file ages out through pruneVersions
          val replaced = externalizeStats(spark, dir,
            Seq(StatsEntry(d, rows, cols, remaining))).head.asInstanceOf[StatsEntry]
          ops += addOp(replaced)
          Some(d -> replaced)
        }
      }
      // a trimmed dir's bloom line sheds the removed files' blobs with
      // it (a stale blob is only wasted bytes — the file is gone from
      // the stats list — but the manifest must not grow garbage). The
      // trim DROPS any sidecar ref (content changed; sidecars are
      // immutable) and re-externalizes if still heavy — the old
      // sidecar orphans and pruneVersions reclaims it
      replacedStats.foreach { case (d, st) =>
        val keep = st.files.map(_.name).toSet
        bloomByDir.getOrElse(d, Seq.empty).foreach { b =>
          ops += addOp(externalizeBlooms(spark, dir, Seq(
            b.copy(files = b.files.filter { case (f, _) => keep.contains(f) },
              sidecar = None))).head)
        }
      }
      newEntries.foreach(l => ops += addOp(l))
      // IDENTITY high-water marks advance with the rewrite commit: a
      // MERGE-inserted (or dynamic-overwrite-filled) value above the
      // mark moves it, so later generated values can never collide.
      // A dynamic overwrite whose FILL basis went stale under a
      // concurrent commit aborts like every other stale-snapshot
      // conflict (each retry attempt re-reads the mark; the staged
      // values do not change, so a moved mark is unrecoverable here).
      identityBasis.foreach { b =>
        if (prev != b) conflict(
          s"filled identity values against version $b but the table is at $prev")
      }
      identityColumnsOf(schema).foreach { spec =>
        val base = snap.hwm(spec.col).getOrElse(spec.start)
        val bounds = newEntries.collectFirst { case s: StatsEntry => s }
          .flatMap(_.cols.get(spec.col)).filter(_.min.nonEmpty)
          .map(cs => (cs.min.get.toLong, cs.max.get.toLong))
        val next = bounds.fold(base) { case (mn, mx) =>
          if (spec.step > 0) math.max(base, Math.addExact(mx, spec.step))
          else math.min(base, Math.addExact(mn, spec.step))
        }
        if (next != base) ops += addOp(HwmEntry(spec.col, next))
      }
      // the recorded feed speaks THIS commit's version numbers —
      // derived content is basis-exact (the conflict checks above
      // refuse anything that would make it stale)
      changeFeed.foreach { case (ks, nd) => ops += addOp(ChangesEntry(prev, prev + 1, ks, nd)) }
      // the first positional mask on a chain STAMPS the protocol
      // feature, exactly like deleteWhere's sidecar commit
      if (pdvEntry.nonEmpty && !snap.hasFeature("pdv"))
        ops += addOp(FeatureEntry("pdv", required = true))
      pdvEntry.foreach(l => ops += addOp(l))
      if (!dataChange) ops += addOp(RearrangeEntry())
      if (dropDvs) snap.dvSnapshot.map(_._2).toSet.foreach((n: String) => ops += s"-dv:$n")
      Some(commitChild(spark, dir, snap, ops.result()))
    }
  }

  /** DYNAMIC PARTITION OVERWRITE (the reference pipeline's
    * `partitionOverwriteMode=dynamic` semantics, on the versioned
    * store): replace exactly the partitions PRESENT IN the staged
    * hive-laid-out dir, carry every other partition's files verbatim,
    * as ONE file-granular commit. The touched tuples come from the
    * staged dir's own harvest; the victim files from manifest bytes;
    * and the commit claims the touched partitions EXCLUSIVELY — a
    * file landed concurrently in one of them surfaces as a conflict
    * (the statement replaces state it has not seen), while appends to
    * untouched partitions commute. Returns the committed version,
    * None when the staged dir holds no rows (an empty dynamic
    * overwrite replaces nothing — the staged dir is deleted). */
  private[graft] def commitDynamicPartitionOverwrite(spark: SparkSession, dir: String,
                                                     stagedHive: String,
                                                     partCols: Seq[String],
                                                     identityBasis: Option[Int] = None)
      : Option[Int] = {
    val (fs, root) = fsFor(spark, dir)
    val snap = snapshot(spark, dir, requireLatest(spark, dir))
    require(snap.partitionCols == partCols,
      s"dynamic overwrite partitioning ${partCols.mkString(",")} does not match " +
        s"the table's ${snap.partitionCols.mkString(",")}")
    val schema = schemaOf(spark, snap)
    val partSchema = StructType(partCols.map(c => schema(c)))
    val stagedPath = new Path(root, stagedHive)
    val harvested =
      Skipping.collectDirStatsPartitioned(spark, stagedPath, schema, asNullable(partSchema))
    val (rows, _, stagedFiles) = harvested
    if (rows == 0L) { fs.delete(stagedPath, true); return None }
    def tupleOf(f: FileStats) = partCols.map(c => f.cols.get(c).flatMap(_.min))
    val touched = stagedFiles.map(tupleOf).toSet
    require(snap.fileListed,
      s"dynamic partition overwrite at $dir needs manifest file lists — run backfillStats")
    val victims = snap.dataDirNames.map { d =>
      d -> snap.stats(d).files.filter(f => touched.contains(tupleOf(f))).map(_.name).toSet
    }.filter(_._2.nonEmpty).toMap
    commitFileRewrite(spark, dir, victims, Some(stagedHive), partCols, snap.dvSnapshot,
      exclusivePartitions = touched, preHarvested = Some(harvested),
      identityBasis = identityBasis)
  }

  /** [[writeVersion]] of a partitioned table with DYNAMIC overwrite
    * semantics: only the partitions present in `df` are replaced; all
    * others carry verbatim. Returns the committed version, None for an
    * empty input. */
  def writeVersionPartitionedDynamic(df: DataFrame, dir: String, partCols: Seq[String])
      : Option[Int] = {
    require(partCols.nonEmpty, "partCols must be non-empty")
    val spark = df.sparkSession
    val staged = stageDataDir(spark, dir)
    // staged files land BESIDE the chain's existing files — a renamed
    // chain needs them in PHYSICAL names like any append
    val p = prepare(df, dir, partCols, translate = true)
    p.rows.write(new Path(new Path(dir), staged).toString)
    val r = commitDynamicPartitionOverwrite(spark, dir, staged, partCols,
      identityBasis = p.idBasis)
    if (r.nonEmpty) maintenanceTick(spark, dir)
    r
  }

  /** The ATOMIC CTAS / RTAS commit (the StagingTableCatalog seam):
    * publish a staged dir — bytes already written by the SQL insert,
    * hive-laid-out when `partCols` is non-empty — as version 0
    * (`fresh = true`, CREATE TABLE AS SELECT: a racing creator makes
    * the v0 claim itself fail) or as the next overwrite version
    * (`fresh = false`, REPLACE TABLE AS SELECT: the replace IS a
    * version, so the pre-replace table still time-travels). A staged
    * dir with no parquet content (empty CTAS result, REPLACE TABLE
    * without a select) commits METADATA-ONLY: the declared schema and
    * partition spec with zero data dirs — the same empty-table shape
    * [[createTable]] commits. A REPLACE starts a new definition: of
    * the old version it keeps only the txn watermarks (they guard a
    * writer's replay, not the table), empty or not. */
  private[graft] def commitStagedTable(spark: SparkSession, dir: String,
                                       stagedDir: String, declared: StructType,
                                       partCols: Seq[String], fresh: Boolean): Int = {
    val (fs, root) = fsFor(spark, dir)
    val stagedPath = new Path(root, stagedDir)
    val hasContent = fs.exists(stagedPath) &&
      CommitFiles.parquetUnder(spark, Seq(stagedPath.toString)).nonEmpty
    // CTAS nullability follows the file-source convention: the
    // query's schema lands fully-nullable (a literal-derived
    // non-nullable column is an artifact of the query, not a declared
    // contract — NOT NULL comes from explicit CREATE TABLE column
    // syntax or CALL system.set_not_null)
    if (!hasContent && fresh) createTable(spark, dir, asNullable(declared), partCols)
    else {
      val ordered = partitionedReadOrder(declared, partCols)
      writeVersionCore(spark, dir, SaveMode.Overwrite, txn = None,
        if (hasContent) Staged(stagedDir) else NoRows(ordered),
        partitionBy = partitionSchema(ordered, partCols),
        requireFresh = fresh, replaceDefinition = true).get
    }
  }

  /** The newest batch id `appId` has committed to `dir`, from manifest
    * bytes (None for a writer the table has never seen). */
  def lastCommittedBatch(spark: SparkSession, dir: String, appId: String): Option[Long] =
    latestVersion(spark, dir).flatMap(v => snapshot(spark, dir, v).txns.get(appId))

  /** Delta OPTIMIZE WRITE's role — reshape a batch about to land so
    * its file count tracks the AQE advisory size instead of the
    * query's shuffle shape (a 200-task aggregate otherwise lands 200
    * files PER COMMIT, and a month of commits is a small-file fleet).
    * Gated by [[Knobs.optimizeWrite]] (default off).
    * The implementation is the engine's own REBALANCE hint — AQE sizes
    * the output partitions to
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes` (the file-size
    * target) and SPLITS skewed ones, which is Delta's optimized-writes
    * bin-packing done by the optimizer this library already rides.
    * Partitioned writes rebalance BY the partition columns so each
    * hive partition's rows converge onto few writer tasks (without
    * this every task writes a sliver of every partition:
    * tasks × partitions files per commit). */
  private def optimizeWriteShape(out: DataFrame, dir: String,
                                 partCols: Seq[String]): DataFrame = {
    val conf = out.sparkSession.conf
    if (!Knobs.optimizeWrite(out.sparkSession, liveProps(out.sparkSession, dir))) out
    // REBALANCE is an AQE feature; without AQE the hint plans a plain
    // shuffle to spark.sql.shuffle.partitions — MORE files, not fewer.
    // A streaming sink's cloned session is the case that matters
    // (ResolveWriteToStream force-disables AQE there): fall through to
    // the batch's natural shape and let the autoCompact tick absorb
    // the fragments instead.
    else if (!conf.getOption("spark.sql.adaptive.enabled").forall(_.toBoolean)) out
    else if (partCols.nonEmpty) out.hint("rebalance", partCols: _*)
    else out.hint("rebalance")
  }

  /** BOUNDED small-dir compaction — Delta AUTO COMPACT's role as a
    * library op. Coalesces up to `maxDirs` of the SMALLEST live data
    * dirs, each under `targetBytes`, into one rewritten dir (masked
    * read: dv'd rows apply physically on the way through), committed
    * FILE-GRANULARLY so it commutes with concurrent appends to
    * untouched dirs. Cost is O(bytes of the picked dirs), never
    * O(table) — the property that lets the post-commit tick run after
    * every streaming epoch without becoming the epoch. Legacy dirs
    * without manifest file lists never qualify (removal is
    * file-granular); a healthy table pays one manifest read. Returns
    * the committed version, None when fewer than `minDirs` qualify. */
  def compactSmallDirs(spark: SparkSession, dir: String,
                       targetBytes: Long = 128L * 1024 * 1024,
                       minDirs: Int = 8, maxDirs: Int = 64): Option[Int] = {
    require(minDirs >= 2, "minDirs must be at least 2 — compacting one dir is a no-op")
    require(targetBytes > 0 && maxDirs >= minDirs,
      s"need targetBytes > 0 and maxDirs >= minDirs, got $targetBytes/$maxDirs/$minDirs")
    val snap = snapshot(spark, dir, requireLatest(spark, dir))
    val physSchema = snap.schema.getOrElse(
      throw new IllegalArgumentException(
        s"compactSmallDirs at $dir needs a recorded schema — run backfillStats"))
    val partCols = snap.partitionCols
    val weighed = snap.dataDirNames
      .flatMap(n => snap.stats.get(n).filter(_.files.nonEmpty)
        .map(s => (n, s.files.map(_.bytes).sum)))
    val small = weighed.filter(_._2 < targetBytes).sortBy(_._2).take(maxDirs)
    if (small.length < minDirs) return None
    val (fs, root) = fsFor(spark, dir)
    val removed = small.map { case (n, _) => n -> snap.fileNames(n) }.toMap
    val candNames = small.map(_._1).toSet
    val nOut = math.max(1, math.ceil(small.map(_._2).sum.toDouble / targetBytes).toInt)
    val payload = toPhysical(readVersionFrom(spark, snap, candNames), snap.colMap)
      .select(physSchema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)
      .coalesce(nOut)
    val staged = stageDataDir(spark, dir)
    val stagedPath = new Path(root, staged)
    val w = payload.write.mode(SaveMode.ErrorIfExists)
    (if (partCols.isEmpty) w else w.partitionBy(partCols: _*)).parquet(stagedPath.toString)
    try commitFileRewrite(spark, dir, removed, Some(staged), partCols, snap.dvSnapshot,
      dataChange = false)
    catch { case t: Throwable => fs.delete(stagedPath, true); throw t }
  }

  /** Whole-table CONTENT-PRESERVING rewrite (flat chains) as a
    * file-granular dataChange=false commit — the flat OPTIMIZE /
    * Z-ORDER seam. `shape` rearranges the masked read (repartition,
    * Morton sort); the commit removes every prior file, adds the
    * staged dir, and stamps the rearrange flag, so it COMMUTES with
    * concurrent appends (they surface as a bounded OCC retry, not a
    * lost overwrite race) and downstream STREAMS skip it. Deletion
    * vectors RETIRE with the commit (the masked read applied every
    * mask physically and the rewrite covered every file — the
    * whole-table OPTIMIZE contract: "overwrite or compact to apply
    * the mask physically" keeps holding). Returns None when the
    * manifest predates file lists or the table is empty — callers
    * fall back to the legacy overwrite. */
  private[ext] def rewriteAllAsRearrange(spark: SparkSession, dir: String)
                                        (shape: DataFrame => DataFrame): Option[Int] = {
    val v0 = requireLatest(spark, dir)
    val snap = snapshot(spark, dir, v0)
    val physSchema = snap.schema.getOrElse(return None)
    require(snap.partitionCols.isEmpty,
      s"$dir is partitioned — rewrite through the partition-shaped path")
    val removed =
      try allLiveFilesMap(spark, dir, v0)
      catch { case _: IllegalArgumentException => return None }
    if (removed.valuesIterator.forall(_.isEmpty)) return None
    val (fs, root) = fsFor(spark, dir)
    val payload = toPhysical(shape(readVersion(spark, dir, v0)), snap.colMap)
      .select(physSchema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)
    val staged = stageDataDir(spark, dir)
    val stagedPath = new Path(root, staged)
    payload.write.mode(SaveMode.ErrorIfExists).parquet(stagedPath.toString)
    try commitFileRewrite(spark, dir, removed, Some(staged), Seq.empty, snap.dvSnapshot,
      dataChange = false, dropDvs = true)
    catch { case t: Throwable => fs.delete(stagedPath, true); throw t }
  }

  /** Delta `FSCK REPAIR TABLE`'s role: find manifest references to
    * data files GONE from storage (out-of-band deletion, a botched
    * restore, a partial copy) and — with `repair = true` — commit one
    * file-granular version dropping exactly those references, so
    * reads stop dying on FileNotFound. The rows were lost either way;
    * the repair makes the loss EXPLICIT, versioned, and
    * time-travel-auditable (the pre-repair version still names them).
    * Existence probes dispatch as a Spark job at or above
    * [[Knobs.distributedMinItems]] referenced files — never an
    * O(table) driver loop. A dir emptied by the
    * repair drops from the manifest, and a downstream STREAM correctly
    * fails on it (data it may not have served vanished — that is a
    * data change, nothing like a rearrangement). Returns the missing
    * (dirName, fileName) pairs; empty = clean, and nothing commits. */
  def fsck(spark: SparkSession, dir: String, repair: Boolean = false): Seq[(String, String)] = {
    val snap = snapshot(spark, dir, requireLatest(spark, dir))
    val root = new Path(dir)
    val expected = snap.dataDirNames.flatMap { d =>
      snap.stats.get(d).toSeq.flatMap(_.files.map(f =>
        (d, f.name, new Path(new Path(root, d), f.name).toString)))
    }
    val missing = Skipping.onDriverOrJob(spark, expected,
        s"graft: fsck existence probe (${expected.length} files)") { case (conf, (d, n, p)) =>
      val hp = new Path(p)
      if (hp.getFileSystem(conf).exists(hp)) None else Some((d, n))
    }.flatten.sorted
    if (repair && missing.nonEmpty) {
      val removed = missing.groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).toSet }
      commitFileRewrite(spark, dir, removed, None, snap.partitionCols, snap.dvSnapshot)
    }
    missing
  }

  /** `ALTER TABLE … SET TBLPROPERTIES`: one metadata commit replacing
    * the named keys (case-insensitively), everything else verbatim.
    * Keys are dotted-word-shaped, values one-line — both embed in the
    * manifest. Returns the committed version. */
  def setTableProperties(spark: SparkSession, dir: String,
                         props: Map[String, String]): Int = {
    require(props.nonEmpty, "SET TBLPROPERTIES needs at least one key")
    props.foreach { case (k, x) =>
      require(k.matches("[A-Za-z0-9_.\\-]+"),
        s"property key must be dotted-word-shaped (it embeds in the manifest), got '$k'")
      require(!x.exists(c => c == '\n' || c == '\r'),
        s"property value for '$k' must be one line")
    }
    commitChild(spark, dir, snapshot(spark, dir, requireLatest(spark, dir)),
      props.toSeq.sortBy(_._1).map { case (k, x) => addOp(PropEntry(k, x)) })
  }

  /** `ALTER TABLE … UNSET TBLPROPERTIES`: drop the named keys (missing
    * keys are a no-op — the UNSET IF EXISTS contract). Returns the
    * committed version, None when nothing matched (no empty commit). */
  def unsetTableProperties(spark: SparkSession, dir: String, keys: Seq[String]): Option[Int] = {
    require(keys.nonEmpty, "UNSET TBLPROPERTIES needs at least one key")
    val snap = snapshot(spark, dir, requireLatest(spark, dir))
    val present = keys.filter(k => snap.properties.keys.exists(_.equalsIgnoreCase(k)))
    if (present.isEmpty) None
    else Some(commitChild(spark, dir, snap, present.sorted.map(k => s"-prop:$k")))
  }

  /** The latest version's table properties, which back the
    * table-backed [[Knobs]]; a failed read counts as no properties. */
  private def liveProps(spark: SparkSession, dir: String): Map[String, String] =
    try latestVersion(spark, dir).fold(Map.empty[String, String])(snapshot(spark, dir, _).properties)
    catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** The data dirs version `v` ADDED over `v-1` (absolute paths, in
    * v's list order) — the streaming source's serving unit: offsets
    * index per-version deltas, so a rearrangement (which removes dirs
    * and adds its coalesced one) can't shift anything already served.
    * A rearrange version's delta is EMPTY by definition — its added
    * dir holds only rows the original dirs already served. */
  private[graft] def addedDataDirs(spark: SparkSession, dir: String, v: Int)
      : Seq[String] = {
    if (v < 0) return Seq.empty
    val cur = snapshot(spark, dir, v)
    if (cur.isRearrange) Seq.empty
    else if (v == 0) cur.dataDirs
    else {
      val prev = snapshot(spark, dir, v - 1).dataDirNames.toSet
      cur.dataDirNames.zip(cur.dataDirs).collect { case (n, a) if !prev(n) => a }
    }
  }

  /** Version `v`'s live files restricted to dirs that are NOT part of
    * the clustered base — the selection seam of an INCREMENTAL
    * OPTIMIZE. A dir belongs to the clustered base iff the commit
    * that ADDED it was a content-preserving rearrangement
    * (dataChange=false: a previous OPTIMIZE/Z-order/compaction
    * produced it); everything else — plain appends, CoW replacement
    * dirs — is the increment a cadenced OPTIMIZE rewrites. Dir
    * lineage is read from the retained manifest chain only; a dir
    * whose adding commit was pruned away classifies conservatively as
    * unclustered (re-clustering preserved content is wasted work,
    * never wrong work). Returns dirName → file names; empty when the
    * whole table is clustered base. */
  private[graft] def unclusteredLiveFiles(spark: SparkSession, dir: String, v: Int)
      : Map[String, Set[String]] = {
    val snap = snapshot(spark, dir, v)
    require(snap.fileListed,
      s"incremental OPTIMIZE at $dir needs manifest file lists for every data dir — " +
        "run backfillStats to upgrade pre-file-list manifests")
    val avail = versions(spark, dir).filter(_ <= v).toSet
    val clustered = avail.iterator
      .filter(w => w > 0 && avail.contains(w - 1) && snapshot(spark, dir, w).isRearrange)
      .flatMap { w =>
        val prev = snapshot(spark, dir, w - 1).dataDirNames.toSet
        snapshot(spark, dir, w).dataDirNames.filterNot(prev)
      }.toSet
    snap.dataDirNames.filterNot(clustered).map(d => d -> snap.fileNames(d)).toMap
  }

  /** [[dirAdmission]] restricted to version `v`'s ADDED dirs — the
    * admission weights of one version's delta. */
  private[graft] def dirAdmissionDelta(spark: SparkSession, dir: String, v: Int)
      : IndexedSeq[DirAdmission] = {
    val added = addedDataDirs(spark, dir, v).toSet
    if (added.isEmpty) IndexedSeq.empty
    else dirAdmission(spark, dir, v).filter(d => added.contains(d.absDir))
  }

  /** The post-commit maintenance tick every write path fires:
    * auto-clustering first (when declared, it merges AND Morton-
    * clusters the increment — small files included), then auto
    * compaction for tables that only declared that. Each section is
    * independently gated and independently failure-isolated. */
  private def maintenanceTick(spark: SparkSession, dir: String): Unit = {
    autoClusterTick(spark, dir)
    autoCompactTick(spark, dir)
  }

  /** Post-commit AUTO CLUSTER tick (Delta liquid clustering's
    * cadence, property-driven): when the table (or session) declares
    * `graft.autoCluster.columns`, a successful write probes the
    * UNCLUSTERED increment from manifest bytes — O(dirs) driver
    * arithmetic, no job — and once it passes
    * `graft.autoCluster.minBytes` Morton-clusters
    * exactly that increment via
    * [[Maintenance.zorderVersionedIncremental]]: an O(increment)
    * dataChange=false rearrange that streams skip and concurrent
    * appends commute with. The triggering write has already
    * committed, so a tick failure drops with a warning and the next
    * write re-probes. No recursion: the rearrange commits through
    * commitFileRewrite, which never ticks. */
  private def autoClusterTick(spark: SparkSession, dir: String): Unit = {
    lazy val props = liveProps(spark, dir)
    val cols = Knobs.autoClusterColumns(spark, props)
    if (cols.isEmpty) return
    try {
      val minBytes = Knobs.autoClusterMinBytes(spark, props)
      val bits = Knobs.autoClusterBits(spark, props)
      // target output file size (Delta's file-size tuning role):
      // the increment re-lands as ceil(bytes / targetBytes) files
      val targetBytes = Knobs.autoClusterTargetBytes(spark, props)
      latestVersion(spark, dir).foreach { v =>
        val victims = unclusteredLiveFiles(spark, dir, v)
        val bytes =
          if (victims.valuesIterator.forall(_.isEmpty)) 0L
          else fileBytesOf(spark, dir, v, victims)
        if (bytes >= math.max(1L, minBytes)) {
          Maintenance.zorderVersionedIncremental(spark, dir, cols,
            nFiles = math.max(1L, math.ceil(bytes.toDouble / targetBytes).toLong).toInt,
            bits = bits)
          ()
        }
      }
    } catch {
      case scala.util.control.NonFatal(t) => log.warn(
        s"autoCluster tick at $dir dropped (${t.getClass.getSimpleName}: " +
          s"${t.getMessage}) — the write that triggered it already committed; " +
          "the next write re-probes")
    }
  }

  /** Post-commit AUTO COMPACT tick (Delta autoCompact's role): when
    * [[Knobs.autoCompact]] is on, a successful write probes the
    * manifest and coalesces the smallest fragments via
    * [[compactSmallDirs]] (bounded by the `autoCompact.*` knobs).
    * The user's write has ALREADY committed when the tick runs, so a
    * tick failure — an OCC loss to a concurrent writer, a legacy
    * manifest — must not fail the write that triggered it: it drops,
    * and the next write re-probes. */
  private def autoCompactTick(spark: SparkSession, dir: String): Unit = {
    lazy val props = liveProps(spark, dir)
    if (!Knobs.autoCompact(spark, props)) return
    try {
      compactSmallDirs(spark, dir,
        targetBytes = Knobs.autoCompactTargetBytes(spark, props),
        minDirs = Knobs.autoCompactMinDirs(spark, props),
        maxDirs = Knobs.autoCompactMaxDirs(spark, props))
      ()
    } catch {
      case scala.util.control.NonFatal(t) => log.warn(
        s"autoCompact tick at $dir dropped (${t.getClass.getSimpleName}: " +
          s"${t.getMessage}) — the write that triggered it already committed; " +
          "the next write re-probes")
    }
  }

  /** The data of a new version, as [[writeVersionCore]] commits it. */
  private sealed trait VersionData
  /** Rows written now: `write` lands them in the fresh data dir it is
    * handed. A partitioned write that lands no file (zero rows name no
    * partition dir) commits `schema` metadata-only; None refuses it. */
  private final case class WriteNow(write: String => Unit,
                                    schema: Option[StructType]) extends VersionData
  /** Rows an external writer already staged in `dataDir`, a dir name
    * under the table root ([[stageDataDir]]). */
  private final case class Staged(dataDir: String) extends VersionData
  /** No rows: a metadata-only version of the declared `schema`, in
    * read order. */
  private final case class NoRows(schema: StructType) extends VersionData

  /** The one version commit behind every DataFrame write, staged
    * publish and metadata-only overwrite: harvest the new data dir's
    * footers (schema + stats), validate its rows against the table's
    * CHECK, GENERATED and NOT NULL declarations, then publish — an
    * APPEND as O(delta) ops over its parent, an OVERWRITE as a full
    * manifest holding what [[carriedDefinition]] keeps of the parent.
    * `readAt` is the version the write's inputs were read at (an
    * identity fill's high-water mark, a COPY INTO ledger, a change
    * feed's pre-image). Returns None for a replayed streaming batch and
    * for an append that lands no rows. */
  private def writeVersionCore(spark: SparkSession, dir: String, mode: SaveMode,
                               txn: Option[(String, Long)], data: VersionData,
                               partitionBy: Option[StructType] = None,
                               extraLines: Seq[Line] = Seq.empty,
                               requireFresh: Boolean = false,
                               replaceDefinition: Boolean = false,
                               readAt: Option[Int] = None): Option[Int] = {
    require(mode == SaveMode.Overwrite || mode == SaveMode.Append,
      s"versioned writes are Overwrite or Append, got $mode")
    val (fs, root) = fsFor(spark, dir)
    val prev = latestVersion(spark, dir)
    val prevSnap = prev.map(snapshot(spark, dir, _))
    // an atomic-CREATE commit (staged CTAS): the table must still not
    // exist. This check is advisory; the real guard is the manifest
    // claim below — v is 0 here, so a racing creator's v0 makes the
    // put-if-absent itself fail
    if (requireFresh) require(prev.isEmpty,
      s"table $dir was created concurrently — retry as REPLACE, or drop it")
    // the read basis: if anything committed since, the assigned
    // identity values (or the skipped ledger files, or the recorded
    // feed) may collide with the interloper's — refuse BEFORE any byte
    // is written and let a commutative caller retry. (The version claim
    // below closes the remaining window: a commit that lands after
    // this check makes the put-if-absent itself fail.)
    readAt.foreach { b =>
      if (!prev.contains(b)) throw new CommitConflict(
        s"write at $dir was based on version $b but the table is now at " +
          s"${prev.getOrElse(-1)} — committed concurrently — retry the write")
    }
    val v = prev.map(_ + 1).getOrElse(0)
    // a streaming sink's first batch may CREATE the table; a plain
    // library Append to a non-existent table stays an error (it
    // extends state the caller assumed exists)
    require(mode == SaveMode.Overwrite || prev.nonEmpty || txn.nonEmpty,
      "cannot Append to a table with no versions")
    // replay guard BEFORE any data write: a batch this appId already
    // committed (batchId ≤ recorded) is an exact re-delivery after a
    // checkpoint restore — skipping it IS the exactly-once contract
    val replay = txn.exists { case (appId, batchId) =>
      prevSnap.exists(_.txns.get(appId).exists(batchId <= _))
    }
    if (replay) return None
    // a partitioned chain stays partitioned the same way: appends with
    // a different (or no) spec would mix layouts one read can't serve
    val prevPart = prevSnap.map(_.partitionCols).filter(_.nonEmpty)
    if (mode == SaveMode.Append && prev.nonEmpty) {
      val want = partitionBy.map(_.fieldNames.toSeq)
      require(prevPart == want,
        s"append partitioning ${want.getOrElse("none")} does not match the table's " +
          s"${prevPart.getOrElse("none")} — overwrite to change the layout")
    }
    // the data first (invisible until the manifest lands). The nonce
    // makes a written dir unique PER ATTEMPT (Delta writes
    // uniquely-named files for the same reason): two writers racing
    // the same version number each write their own dir, the manifest
    // claim picks the winner, and the loser's dir is an invisible
    // orphan for [[pruneVersions]] — without it the loser would
    // clobber the winner's in-flight data. A crashed attempt's dir is
    // equally invisible and needs no clearing for the retry.
    val (dataDir, declared) = data match {
      case Staged(d)  => (Some(d), None)
      case NoRows(sc) => (None, Some(sc))
      case WriteNow(write, sc) =>
        val nonce = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
        val d = f"v$v%08d_data_$nonce"
        val p = new Path(root, d)
        write(p.toString)
        val landed = partitionBy.isEmpty || fs.exists(p) && fs.listStatus(p).exists { st =>
          val n = st.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        }
        if (landed) (Some(d), None)
        else {
          fs.delete(p, true)
          (None, Some(sc.getOrElse(throw new IllegalArgumentException(
            s"write to $dir landed no parquet file"))))
        }
    }
    // nothing to land: an append commits nothing (exactly-once holds
    // by vacuity), an overwrite commits the empty state metadata-only
    if (dataDir.isEmpty && mode == SaveMode.Append) return None
    val dataPath = dataDir.map(new Path(root, _))
    def refuse(msg: String): Nothing = {
      if (data.isInstanceOf[WriteNow]) dataPath.foreach(fs.delete(_, true))
      throw new IllegalArgumentException(msg)
    }
    // footer harvest of the new dir only: schema + stats
    val (dirSchema, (rows, colStats, dirFiles)) = (dataPath, partitionBy) match {
      case (None, _) =>
        (asNullable(declared.get), (0L, Map.empty[String, ColStats], Seq.empty[FileStats]))
      case (Some(p), Some(ps)) =>
        // read-back infers partition columns (appended last); their
        // TYPES are pinned to the caller's declaration, not to what
        // the path values happen to parse as
        // driver-side footer read — no schema-inference job per
        // commit; hive layout strips partition values into paths so
        // only data columns come back, partition fields append below
        val inferred = parquetSchemaDriver(spark, Seq(p.toString))
        val s = asNullable(StructType(
          inferred.fields.filterNot(f => ps.fieldNames.contains(f.name)) ++ ps.fields))
        (s, Skipping.collectDirStatsPartitioned(spark, p, s, asNullable(ps)))
      case (Some(p), None) =>
        val s = asNullable(parquetSchemaDriver(spark, Seq(p.toString)))
        (s, Skipping.collectDirStats(spark, p, s))
    }
    // the chain's column mapping (logical→physical), empty when never
    // renamed. An APPEND's staged files must carry PHYSICAL names —
    // the df entry points translate ([[toPhysical]]); a raw
    // writeVersionWith callback that wrote a mapped LOGICAL name is
    // refused here (the union merge would otherwise record it as a
    // NEW column and its values would vanish from the logical view)
    val chainMap = prevSnap.map(_.colMap).getOrElse(Map.empty)
    if (mode == SaveMode.Append && chainMap.nonEmpty) {
      dirSchema.fieldNames.find(n => chainMap.get(n).exists(_ != n)).foreach { n =>
        refuse(s"append to $dir staged column '$n', which is a RENAMED logical name — " +
          s"files must carry the physical name '${chainMap(n)}'; write through " +
          "writeVersion (it translates) instead of a raw callback")
      }
    }
    // parquet footers round-trip Spark field metadata, so a df read
    // FROM a generated table and written elsewhere would smuggle its
    // GENERATION_EXPRESSION into the new chain and silently turn on
    // enforcement the user never declared — generation is DDL, so a
    // written schema is STRIPPED of it here and the definition
    // re-enters only through the legitimate carriers (an append's
    // union keeps the prior fields; an overwrite's carried
    // definition; a metadata-only version's DECLARED schema)
    val dirSchemaClean =
      if (data.isInstanceOf[NoRows]) dirSchema
      else StructType(dirSchema.fields.map { f =>
        if (!f.metadata.contains(GenerationKey) && !f.metadata.contains(IdStartKey)) f
        else f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).remove(GenerationKey)
          .remove(IdStartKey).remove(IdStepKey).remove(IdAllowKey).build())
      })
    // do the new files carry the chain's physical names? Appends do
    // (translated entry points + the guard above); a staged overwrite
    // does too — its bytes come from the catalog's physical-named
    // writer; an overwrite written here (or with no files) starts the
    // physical layout fresh, so the mapping drops and the carried
    // physical-keyed lines rename to logical
    val stagedPhysical = mode == SaveMode.Append || data.isInstanceOf[Staged]
    val stagedMap = if (stagedPhysical) chainMap else Map.empty[String, String]
    val invChain = chainMap.map(_.swap)
    val (newSchema, carried) = (mode, prevSnap) match {
      case (SaveMode.Append, Some(p)) => (unionSchema(schemaOf(spark, p), dirSchemaClean), Seq.empty)
      case (_, Some(p)) =>
        carriedDefinition(spark, p, dirSchemaClean, stagedPhysical, replaceDefinition, txn)
      case _ => (dirSchemaClean, Seq.empty)
    }
    // enforced CHECK constraints: validate the JUST-WRITTEN dir before
    // the commit — O(delta), one combined job in the passing case; a
    // violation deletes the still-invisible dir and refuses, so a bad
    // write never becomes a version. SQL writes are additionally
    // refused plan-side by Spark's own CheckInvariant injection (the
    // catalog reports the constraints); this is the uniform backstop
    // every library path shares. NULL predicate results PASS (the SQL
    // CHECK contract). Read under the union schema so a constraint on
    // a column this commit's files lack evaluates over nulls.
    // `replaceDefinition` (REPLACE TABLE … AS SELECT): the statement
    // replaces the table DEFINITION, not just its rows — the old
    // constraints neither validate the new rows (they may not even
    // resolve against the new schema) nor survive into the new table.
    // Every DATA write (insert, overwrite, row-level rewrite) keeps
    // validating and carrying them.
    val activeConstraints =
      if (replaceDefinition) Seq.empty
      else prevSnap.toSeq.flatMap(_.constraints.map(ConstraintEntry.tupled))
    if (activeConstraints.nonEmpty && rows > 0) {
      import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
      def violates(c: ConstraintEntry) =
        not(coalesce(expr(c.predicateSql), lit(true)))
      // constraint predicates are LOGICAL sql text; the staged files
      // are physical — validate under the logical names
      val staged = toLogicalDf(
        spark.read.schema(newSchema).parquet(dataPath.get.toString), stagedMap)
      if (!staged.filter(activeConstraints.map(violates).reduce(_ || _)).isEmpty) {
        val culprit = activeConstraints.find(c =>
          !staged.filter(violates(c)).isEmpty).get
        refuse(s"write to $dir violates CHECK constraint '${culprit.name}' " +
          s"(${culprit.predicateSql}); nothing was committed")
      }
    }
    // GENERATED columns: value <=> expr on every committed row — the
    // implicit-CHECK backstop that covers ALL write paths (the df
    // entry points compute omitted columns; a DSv2-staged write that
    // produced a mismatching value refuses here instead of silently
    // diverging from the declaration). Null-safe: a null expression
    // result must be stored as null. REPLACE TABLE starts a fresh
    // definition, so nothing prior applies — the declared schema's own
    // metadata (if any) still validates.
    val genCols = generatedColumnsOf(newSchema)
    if (genCols.nonEmpty && rows > 0) {
      import org.apache.spark.sql.functions.{expr, not, col => fcol}
      val stagedG = toLogicalDf(
        spark.read.schema(newSchema).parquet(dataPath.get.toString), stagedMap)
      def logicalName(n: String) = if (stagedPhysical) invChain.getOrElse(n, n) else n
      def violatesGen(n: String, sql: String) =
        not(fcol(logicalName(n)) <=> expr(sql))
      // ONE combined job in the passing case (the CHECK pattern); the
      // culprit is identified only on violation
      if (!stagedG.filter(genCols.map((violatesGen _).tupled).reduce(_ || _)).isEmpty) {
        val (n, sql) = genCols.find { case (cn, csql) =>
          !stagedG.filter(violatesGen(cn, csql)).isEmpty }.get
        refuse(s"write to $dir violates GENERATED column '${logicalName(n)}' = ($sql) — " +
          "provide the computed value, or omit the column on a library write " +
          "(it fills itself); nothing was committed")
      }
    }
    // NOT NULL columns: validate the JUST-WRITTEN dir from its footer
    // harvest — zero extra IO in the passing case (null counts are
    // already in hand); a dir whose files LACK the column refuses too
    // (the union-schema read would null-backfill it); only an
    // untrusted footer (no null count) pays a scan of the new dir.
    val activeNotNull =
      if (replaceDefinition) Seq.empty
      else prevSnap.toSeq.flatMap(_.notNull)
    if (rows > 0) activeNotNull.foreach { nn =>
      // notnull lines are keyed PHYSICAL; a fresh overwrite's staged
      // files (and harvested stats) use the logical names
      val effCol = if (stagedPhysical) nn else invChain.getOrElse(nn, nn)
      val violated = colStats.get(effCol) match {
        case None                          => true // column absent from the dir
        case Some(cs) => cs.nulls match {
          case Some(n)                     => n > 0
          case None =>
            !spark.read.schema(newSchema).parquet(dataPath.get.toString)
              .filter(org.apache.spark.sql.functions.col(effCol).isNull).isEmpty
        }
      }
      if (violated)
        refuse(s"write to $dir violates NOT NULL constraint on '$effCol'; " +
          "nothing was committed")
    }
    // IDENTITY high-water marks: advance in the SAME atomic claim as
    // the data (the version's put-if-absent IS the OCC — the basis
    // check at the top of this commit plus the claim make a stale
    // assignment impossible). Explicit BY DEFAULT values above the
    // mark advance it too — generated values can then never collide
    // with them; explicit values below it leave it unchanged.
    val idSpecsCore = identityColumnsOf(newSchema)
    // a FRESH identity declaration (no prior hwm line — a df whose
    // schema carries the identity metadata creating or re-defining a
    // table) holds to the same BIGINT-only contract as createTable;
    // legacy chains that declared INT before the refusal keep working
    // through prepareWrite's in-pass range guard
    val hwmBasis = if (replaceDefinition) None else prevSnap
    idSpecsCore.foreach { spec =>
      require(hwmBasis.exists(_.hwm(spec.col).nonEmpty) ||
          newSchema(spec.col).dataType == org.apache.spark.sql.types.LongType,
        s"identity column '${spec.col}' must be BIGINT, got " +
          s"${newSchema(spec.col).dataType} — a narrower cast collapses the " +
          "distributed assignment's partition offsets mod 2³² into duplicate ids")
    }
    val hwmLines: Seq[Line] = idSpecsCore.map { spec =>
      val base = hwmBasis.flatMap(_.hwm(spec.col)).getOrElse(spec.start)
      val bounds: Option[(Long, Long)] =
        if (rows == 0) None
        else colStats.get(spec.col) match {
          case Some(cs) if cs.min.nonEmpty =>
            Some((cs.min.get.toLong, cs.max.get.toLong))
          case Some(cs) if cs.nulls.isDefined => None // trusted all-null dir
          case None => None // column absent from this commit's files
          case Some(_) => // untrusted footer: one bounded agg over the new dir
            val r = spark.read.schema(newSchema).parquet(dataPath.get.toString)
              .agg(org.apache.spark.sql.functions.min(spec.col).cast("long"),
                org.apache.spark.sql.functions.max(spec.col).cast("long")).head()
            if (r.isNullAt(0)) None else Some((r.getLong(0), r.getLong(1)))
        }
      val next = bounds.fold(base) { case (mn, mx) =>
        if (spec.step > 0) math.max(base, Math.addExact(mx, spec.step))
        else math.min(base, Math.addExact(mn, spec.step))
      }
      HwmEntry(spec.col, next)
    }
    // declared bloom columns: build this commit's per-file blooms,
    // one column-pruned scan of the NEW dir per declaration —
    // O(delta), only when the table opted in. Appends inherit the
    // declarations; an overwrite carries them (re-keyed and filtered
    // by [[carriedDefinition]])
    val bloomDecls = mode match {
      case SaveMode.Append => prevSnap.toSeq.flatMap(_.bloomDecls)
        .filter(b => newSchema.fieldNames.contains(b.col))
      case _ => carried.collect { case b: BloomColEntry => b }
    }
    val bloomLines: Seq[Line] =
      if (rows > 0 && bloomDecls.nonEmpty)
        externalizeBlooms(spark, dir, bloomDecls.map(b => BloomEntry(dataDir.get, b.col,
          Bloom.buildDirBlooms(spark, dataPath.get.toString, newSchema, b.col, b.bits))))
      else Seq.empty
    val dataLines: Seq[Line] = dataDir.toSeq.flatMap(d => Seq(DataEntry(d),
      externalizeStats(spark, dir, Seq(StatsEntry(d, rows, colStats, dirFiles))).head))
    // … then the atomic manifest commit publishes it. An APPEND
    // publishes O(delta) ops — schema only when the union CHANGED,
    // this writer's txn watermark, the new dir + its stats — never a
    // re-serialization of the whole table's file list; an OVERWRITE is
    // a full manifest (it resets the state: the checkpoint is free).
    (mode, prevSnap) match {
      case (SaveMode.Append, Some(p)) =>
        val ops = Seq.newBuilder[String]
        if (!p.schema.contains(newSchema))
          ops += addOp(SchemaEntry(newSchema))
        txn.foreach { case (a, b) => ops += addOp(TxnEntry(b, a)) }
        extraLines.foreach(l => ops += addOp(l))
        bloomLines.foreach(l => ops += addOp(l))
        hwmLines.foreach(l => ops += addOp(l)) // replace-by-col semantics
        dataLines.foreach(l => ops += addOp(l))
        commitChild(spark, dir, p, ops.result())
      case _ =>
        val newLines = SchemaEntry(newSchema) +:
          (partitionBy.map(ps => PartitionEntry(ps.fieldNames.toSeq)).toSeq ++
            carried ++ hwmLines ++
            txn.map { case (a, b) => TxnEntry(b, a) } ++ extraLines ++ bloomLines ++
            dataLines)
        commitManifest(spark, dir, v, newLines.map(renderLine))
    }
    Some(v)
  }

  /** What an OVERWRITE version keeps of its parent `p` — the one
    * answer every overwrite shares, so a zero-row or metadata-only
    * version keeps exactly what a data-bearing one keeps. Returns
    * `schema0` with the parent's column definitions re-attached, and
    * the carried lines in manifest order:
    *
    *   - table DEFINITION — NOT NULL and CHECK constraints, table
    *     properties, the column mapping (staged physical-named files
    *     only), bloom declarations whose column survives, and column
    *     DEFAULT / IDENTITY / GENERATED metadata. REPLACE TABLE
    *     (`replaceDefinition`) starts without all of it;
    *   - WRITER bookkeeping — other writers' txn watermarks (always:
    *     they guard a writer's replay, not the definition), and the
    *     COPY INTO ledger with its `ingest` feature (reset with the
    *     definition).
    *
    * Files written fresh (`stagedPhysical` false) start the physical
    * layout from their own names: the mapping drops, and the
    * physical-keyed NOT NULL and bloom lines rename to logical. The
    * identity high-water marks ride [[writeVersionCore]], which
    * advances them by the new rows. */
  private def carriedDefinition(spark: SparkSession, p: Snapshot, schema0: StructType,
                                stagedPhysical: Boolean, replaceDefinition: Boolean,
                                txn: Option[(String, Long)]): (StructType, Seq[Line]) = {
    val chainMap = p.colMap
    val invChain = chainMap.map(_.swap)
    def named(physical: String) =
      if (stagedPhysical) physical else invChain.getOrElse(physical, physical)
    // txn watermarks are WRITER bookkeeping, not data: an overwrite
    // (INSERT OVERWRITE, UPDATE/MERGE rewrite, zorder, compact,
    // truncate) must not erase another writer's (appId, batchId)
    // replay guard, or a checkpoint-recovery replay after the
    // maintenance commit would re-commit an already-committed epoch
    // and duplicate rows — the reason Delta retains SetTransaction app
    // versions across commits. Only the committing writer's own
    // watermark is replaced (by the commit).
    val txns = p.lines.collect { case t: TxnEntry if !txn.exists(_._1 == t.appId) => t }
    if (replaceDefinition) return (schema0, txns)
    // column DEFAULTs, IDENTITY and GENERATED ALWAYS AS are table
    // definition carried as FIELD METADATA: re-attach them to the new
    // version's fields. A generated column whose dependency the new
    // data OMITS retires its declaration (the bloom-declaration
    // precedent) — the expression could never evaluate again
    val priorMd = schemaOf(spark, p).fields.map(f => named(f.name) -> f.metadata).toMap
    val schema = StructType(schema0.fields.map { f =>
      priorMd.get(f.name) match {
        case Some(md) if md.contains("CURRENT_DEFAULT") || md.contains("EXISTS_DEFAULT") ||
            md.contains(GenerationKey) || md.contains(IdStartKey) =>
          val mb = new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
          if (md.contains("CURRENT_DEFAULT"))
            mb.putString("CURRENT_DEFAULT", md.getString("CURRENT_DEFAULT"))
          if (md.contains("EXISTS_DEFAULT"))
            mb.putString("EXISTS_DEFAULT", md.getString("EXISTS_DEFAULT"))
          if (md.contains(IdStartKey)) {
            mb.putLong(IdStartKey, md.getLong(IdStartKey))
            mb.putLong(IdStepKey, md.getLong(IdStepKey))
            if (md.contains(IdAllowKey))
              mb.putBoolean(IdAllowKey, md.getBoolean(IdAllowKey))
          }
          // the expression text is LOGICAL; staged-physical files
          // carry physical field names
          if (md.contains(GenerationKey) &&
              constraintRefCols(spark, md.getString(GenerationKey)).forall(r =>
                schema0.fieldNames.exists(n =>
                  (if (stagedPhysical) invChain.getOrElse(n, n) else n).equalsIgnoreCase(r))))
            mb.putString(GenerationKey, md.getString(GenerationKey))
          f.copy(metadata = mb.build())
        case _ => f
      }
    })
    // the mapping itself: a STAGED overwrite (catalog CoW rewrite —
    // its files are physical-named) carries it, restricted to columns
    // still present; fresh files drop it
    val colMap: Seq[Line] =
      if (!stagedPhysical || chainMap.isEmpty) Seq.empty
      else {
        val kept = chainMap.toSeq.sortBy(_._1)
          .filter { case (_, phys) => schema.fieldNames.contains(phys) }
        if (kept.isEmpty) Seq.empty else Seq(ColMapEntry(kept))
      }
    // an overwrite whose data omits a declared bloom column retires
    // that declaration with the column (building a bloom over a
    // missing column would fail every later write)
    val blooms = p.bloomDecls.map(b => BloomColEntry(named(b.col), b.bits))
      .filter(b => schema.fieldNames.contains(b.col))
    // the COPY INTO ledger is writer bookkeeping like txn watermarks
    // (a maintenance rewrite or a truncate must not re-open the
    // per-file exactly-once window), and its protocol stamp rides
    // with it — a feature flag carries exactly when its subject lines do
    val ingests = p.lines.filter(_.isInstanceOf[IngestEntry])
    val features =
      if (ingests.isEmpty) Seq.empty
      else p.features.filter(_._1.equalsIgnoreCase("ingest")).map(FeatureEntry.tupled)
    (schema, p.notNull.map(c => NotNullEntry(named(c))) ++
      p.constraints.map(ConstraintEntry.tupled) ++
      p.lines.filter(_.isInstanceOf[PropEntry]) ++ colMap ++ blooms ++ txns ++
      ingests ++ features)
  }

  /** A version's schema: the recorded one where present, else derived
    * ONCE from the data dirs via mergeSchema (legacy manifests — the
    * next commit records the union, upgrading the table in place). */
  private def schemaOf(spark: SparkSession, snap: Snapshot): StructType =
    snap.schema.getOrElse(asNullable(
      spark.read.option("mergeSchema", "true").parquet(snap.dataDirs: _*).schema))

  /** Fully-nullable normalization, RECURSIVE: append chains null-
    * backfill at every nesting level, and the same logical type can
    * arrive with different inner-field nullability (parquet round-trip
    * vs typed Dataset) — comparing un-normalized types would
    * spuriously reject an append that changes nothing. */
  private def asNullable(s: StructType): StructType =
    nullableOf(s).asInstanceOf[StructType]

  private def nullableOf(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
    dt match {
      case st: StructType => StructType(st.fields.map(f =>
        StructField(f.name, nullableOf(f.dataType), nullable = true, f.metadata)))
      case at: org.apache.spark.sql.types.ArrayType =>
        org.apache.spark.sql.types.ArrayType(nullableOf(at.elementType), containsNull = true)
      case mt: org.apache.spark.sql.types.MapType =>
        org.apache.spark.sql.types.MapType(nullableOf(mt.keyType),
          nullableOf(mt.valueType), valueContainsNull = true)
      case other => other
    }

  /** Union-with-null-backfill schema for an append chain: `a`'s fields
    * in order, then `b`'s additions. Evolution in this store ADDS or
    * DROPS columns (the S8/q111 semantics); a same-name field must
    * keep its type — a type change needs a rewrite, not an append. */
  /** The widenings this store serves METADATA-ONLY: Spark 4's parquet
    * readers (vectorized included) promote narrower physical values to
    * these read types natively, AND the manifest's canonical min/max
    * strings stay EXACT under the promotion (every byte/short/int is
    * exact as long or double). float→double is deliberately absent:
    * a float's canonical decimal re-parsed as double differs from the
    * widened value in the last bits, which would break the skipping
    * contract's one-sidedness — that change rewrites instead. */
  private def legalWidening(from: org.apache.spark.sql.types.DataType,
                            to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
      case (ShortType, IntegerType | LongType | DoubleType) => true
      case (IntegerType, LongType | DoubleType) => true
      case _ => false
    }
  }

  private def unionSchema(a: StructType, b: StructType): StructType = {
    val aNames = a.fieldNames.toSet
    b.fields.filter(f => aNames.contains(f.name)).foreach { f =>
      val prior = nullableOf(a(f.name).dataType)
      // a NARROWER incoming dir is fine after a type widening — the
      // recorded (wider) type keeps serving it, exactly how the
      // pre-widening files already read
      require(prior == nullableOf(f.dataType) ||
          legalWidening(nullableOf(f.dataType), prior),
        s"append changes type of column '${f.name}' ($prior -> ${f.dataType}); " +
          "widen via alterTableAtomic/ALTER COLUMN … TYPE, or overwrite")
    }
    StructType(a.fields ++ b.fields.filterNot(f => aNames.contains(f.name)))
  }

  /** The commit point, factored so the conflict guard is directly
    * testable: stamp the manifest lines and publish them at `v`
    * through [[Commit.putIfAbsent]], whose primitive the path's scheme
    * picks. Losing the claim (an existing manifest for `v`) surfaces
    * the concurrent writer as a [[CommitConflict]] instead of
    * silently dropping one. Returns the lines exactly as written, so a
    * delta commit folds its checkpoint from the same stamped ops. */
  private[graft] def commitManifest(spark: SparkSession, dir: String, v: Int,
                                    dirs: Seq[String]): Seq[String] = {
    val (fs, root) = fsFor(spark, dir)
    fs.mkdirs(new Path(root, VDIR))
    // stamp the IN-COMMIT timestamp at the single commit seam, forced
    // monotone against the parent — every commit path (append delta,
    // overwrite, clone, restore, convert) carries it. Any ts the
    // caller's line set brought along (clone/restore render old
    // state) is dropped first: the stamp is THIS commit's clock, not
    // the copied history's.
    // the protocol stamp shares the seam: every commit declares the
    // format version it wrote (caller-carried stamps drop for the
    // same reason the ts does — clone/restore render old state)
    // the version-scoped rearrange flag drops from FULL line sets the
    // same way (clone/restore render a flagged version's old state);
    // a delta commit's own `+rearrange:1` op survives untouched
    val body = dirs.filterNot(l => l.startsWith("ts:") || l.startsWith("+ts:") ||
      l.startsWith("protocol:") || l.startsWith("+protocol:") ||
      l.startsWith("rearrange:"))
    val parentTs =
      if (v == 0) None
      else try snapshot(spark, dir, v - 1).recordedTimestamp
      catch { case _: Exception => None }
    val ts = math.max(System.currentTimeMillis(), parentTs.fold(Long.MinValue)(_ + 1L))
    val stamped = body.headOption.filter(_.startsWith("parent:")) match {
      case Some(h) => h +: s"+ts:$ts" +: s"+protocol:$SupportedProtocol" +: body.tail
      case None    => s"ts:$ts" +: s"protocol:$SupportedProtocol" +: body
    }
    val bytes = (stamped.mkString("\n") + "\n").getBytes("UTF-8")
    if (!Commit.putIfAbsent(fs, manifestPath(dir, v), bytes))
      throw new CommitConflict(
        s"version $v at $dir was committed concurrently — retry the write")
    // a SUCCESSFUL claim proves any cached parse under this key
    // described a DELETED file (a raw `rm -r` of a chain followed by
    // re-creation at the same path — CONVERT, CREATE — is the one
    // drop path that cannot evict for itself); serving it would
    // resurrect the old chain's file list. A v0 claim means the WHOLE
    // prior chain is gone — its higher versions may be cached too,
    // and a time-travel read would serve them without touching disk
    if (v == 0) Snapshot.evictDir(spark, dir)
    else Snapshot.evict(spark, dir, Seq(v))
    stamped
  }

  /** Absolute paths of every dir the NEWEST version references — data
    * dirs AND deletion-vector dirs (both are part of the live state a
    * retention pass must not reclaim; older versions' dirs coexist on
    * disk until pruned). */
  def liveDataDirs(spark: SparkSession, dir: String): Seq[String] = {
    snapshot(spark, dir, requireLatest(spark, dir)).liveDirNames
      .map(n => new Path(new Path(dir), n).toString)
  }

  /** The deletion-vector size contract, ENFORCED (not just documented):
    * every dv reader — the library anti-join's broadcast plan, the
    * DSv2 in-reader mask, the stream source's content compare — pulls
    * the key set to the driver or broadcasts it, so a mask is only
    * sound while the key set is small next to the table. This cap
    * turns the silent scale cliff (a 10⁸-key delete OOMing a reader
    * with no pointer at the contract) into a refusal AT DELETE TIME
    * that names the alternative: apply the delete physically via an
    * overwrite commit (`writeVersion(readLatest().join(keys,
    * "left_anti"), dir)` — one rewrite, no mask). Configurable per
    * session via [[Knobs.dvMaxKeys]]. */
  def maxDvKeys(spark: SparkSession): Long = Knobs.dvMaxKeys(spark)

  /** Delta deletion vectors' role (public design: DELETE marks rows
    * dead in a sidecar instead of rewriting data files): commit a new
    * version that references the SAME immutable data dirs plus a
    * small parquet dir of deleted KEYS. No data file is touched —
    * DELETE costs one key-set write + one manifest commit regardless
    * of table size, and time travel to any pre-delete version still
    * sees the rows. Reads of this and later versions anti-join the
    * key set (broadcast-sized against a 100 TB table). The mask is
    * KEY-level, not positional: an append that re-introduces a
    * deleted key stays masked until a physical rewrite — the contract
    * erasure workloads (GDPR) actually want, where a re-crawled row
    * must STAY deleted; Delta's positional vectors make the opposite
    * choice. The next Overwrite version (upsert, compaction) applies
    * the mask physically — its writer reads through [[readVersion]],
    * which already subtracts the keys — and drops the dv references;
    * [[pruneVersions]] then reclaims the dv dirs. A key mask commutes
    * with appends and other key deletes, so a lost version race
    * retries at the next version. Returns the new version id. */
  def deleteByKeys(spark: SparkSession, dir: String, keys: DataFrame, keyCol: String): Int =
    withCommitRetry(() => deleteByKeysCore(spark, dir, keys, keyCol, scoped = false))

  /** [[deleteByKeys]] with SQL DELETE semantics: the mask is SCOPED to
    * the data dirs present at commit time, so rows appended AFTER the
    * delete — including a re-INSERT of a masked key — are visible
    * (the reference's SQL DELETE removes current rows only). The SQL
    * catalog's DELETE routes here; the unscoped form stays the
    * library's key-level erasure contract. */
  def deleteByKeysScoped(spark: SparkSession, dir: String, keys: DataFrame, keyCol: String): Int =
    withCommitRetry(() => deleteByKeysCore(spark, dir, keys, keyCol, scoped = true))

  private def deleteByKeysCore(spark: SparkSession, dir: String, keys: DataFrame,
                               keyCol0: String, scoped: Boolean): Int = {
    require(keyCol0.matches("[A-Za-z0-9_]+"),
      s"keyCol must be word-shaped (it is embedded in the manifest), got '$keyCol0'")
    val (fs, root) = fsFor(spark, dir)
    val prev = requireLatest(spark, dir)
    // the caller names the LOGICAL column; the dv line, the dv
    // parquet's column, and every mask join run PHYSICAL — one
    // translation here keeps deletes working across renames. The
    // TRANSLATED name is re-validated: it is the one embedded in the
    // colon-delimited dv line (a physical name with ':' would parse
    // back as a different key + dir — refuse, never corrupt)
    val snap = snapshot(spark, dir, prev)
    val keyCol = snap.colMap.getOrElse(keyCol0, keyCol0)
    require(keyCol.matches("[A-Za-z0-9_]+"),
      s"the physical storage name '$keyCol' of '$keyCol0' is not word-shaped — " +
        "deletion vectors embed it in the line-based manifest; rewrite the column " +
        "(REPLACE TABLE AS SELECT) to a plain name first")
    // a scoped delete against a table with no data dirs masks nothing
    // (there are no "current rows"): nothing to commit
    if (scoped && snap.dataDirNames.isEmpty)
      return prev
    val v = prev + 1
    // unique per attempt for the same racing-writer reason as
    // writeVersionWith's data dirs
    val nonce = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val dvDir = f"v$v%08d_dv_$nonce"
    val dvPath = new Path(root, dvDir)
    val keyDf = keys.select(
      org.apache.spark.sql.functions.col(keyCol0).as(keyCol)).distinct()
    keyDf.write.mode(SaveMode.ErrorIfExists).parquet(dvPath.toString)
    // size guard BEFORE the commit (footer row count of the
    // just-written key set — metadata only): an oversized mask is
    // refused while it is still an invisible orphan dir, never after
    // readers depend on it
    val nKeys = Skipping.collectDirStats(spark, dvPath,
      asNullable(keyDf.schema))._1
    val cap = maxDvKeys(spark)
    if (nKeys > cap) {
      fs.delete(dvPath, true)
      throw new IllegalArgumentException(
        s"deleteByKeys: $nKeys distinct keys exceeds the deletion-vector size " +
          s"contract (spark.graft.dv.maxKeys=$cap). Every dv reader broadcasts the " +
          "key set; a mask this size belongs in a physical rewrite instead: " +
          "writeVersion(readLatest(dir).join(keys, Seq(keyCol), \"left_anti\"), dir)")
    }
    // schema and stats lines ride along unchanged: a delete touches
    // no data dir, so neither the union schema nor any dir's stats
    // move — the delta commit is ONE dv line. A scoped delete
    // snapshots the CURRENT data dirs: that is its statement-time
    // "rows that exist now".
    val dv: Line =
      if (scoped) ScopedDvEntry(keyCol, dvDir, snap.dataDirNames)
      else DvEntry(keyCol, dvDir)
    commitChild(spark, dir, snap, Seq(addOp(dv)))
  }

  /** Positional-deletion-vector size contract: the ceiling on TOTAL
    * recorded `(file, pos)` pairs per delete — every positional mask
    * reader pulls the set to the driver and ships it with the task
    * binary (the [[maxDvKeys]] shape, sorted-long arrays instead of a
    * key hash set). Session override [[Knobs.dvMaxPositions]]. */
  def maxDvPositions(spark: SparkSession): Long = Knobs.dvMaxPositions(spark)

  /** ANY-predicate DELETE as a POSITIONAL deletion vector — Delta's
    * row-index DV role, the one row-level operation the key-set masks
    * cannot express. `DELETE FROM t WHERE price < 10 AND cat = 'x'`
    * on a 100 TB table becomes: (1) one candidate-file selection from
    * the manifest's per-file stats (zero IO), (2) one scan of JUST
    * those files recording `_metadata.row_index` per matching row —
    * Spark's own parquet row-index generation, (3) one small
    * `(_file, _pos)` parquet sidecar + one manifest line. NO data
    * file is rewritten; time travel to pre-delete versions serves the
    * rows; compaction/OPTIMIZE later applies the mask physically and
    * retires it. Returns the committed version, or None when no row
    * matched (a no-op DELETE commits nothing).
    *
    * The predicate is ANSI SQL over the table's (logical) columns.
    * Size contract: [[maxDvPositions]] — a delete past it belongs in
    * a copy-on-write rewrite (SQL UPDATE/DELETE's group-based path,
    * or INSERT OVERWRITE of the complement read) and refuses with
    * that remedy. */
  def deleteWhere(spark: SparkSession, dir: String, predicateSql: String): Option[Int] =
    withCommitRetry { () =>
      deleteWhereCore(spark, dir, Left(predicateSql))
    }

  /** [[deleteWhere]] over pre-translated V1 filters (LOGICAL names) —
    * the SQL catalog's non-key DELETE routes here. */
  private[graft] def deleteWherePositional(spark: SparkSession, dir: String,
                                           filters: Seq[org.apache.spark.sql.sources.Filter])
      : Option[Int] =
    withCommitRetry { () =>
      deleteWhereCore(spark, dir, Right(filters))
    }

  /** A V1 filter as a Column predicate — the mirror of Spark's
    * catalyst→sources translation for the handful of node kinds
    * [[graft.sql]]'s DELETE routing admits. None for a kind outside
    * that set (the router then refuses the statement to the
    * copy-on-write path rather than delete the wrong rows). */
  private[graft] def filterToColumn(f: org.apache.spark.sql.sources.Filter): Option[Column] = {
    import org.apache.spark.sql.functions.{col, lit, not}
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v)            => Some(col(a) === lit(v))
      case EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
      case GreaterThan(a, v)        => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v)           => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
      case In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
      case IsNull(a)                => Some(col(a).isNull)
      case IsNotNull(a)             => Some(col(a).isNotNull)
      case StringStartsWith(a, v)   => Some(col(a).startsWith(v))
      case StringEndsWith(a, v)     => Some(col(a).endsWith(v))
      case StringContains(a, v)     => Some(col(a).contains(v))
      case AlwaysTrue               => Some(lit(true))
      case AlwaysFalse              => Some(lit(false))
      case And(l, r) => for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
      case Or(l, r)  => for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
      case Not(c)    => filterToColumn(c).map(not)
      case _         => None
    }
  }

  private def deleteWhereCore(spark: SparkSession, dir: String,
                              predicate: Either[String, Seq[org.apache.spark.sql.sources.Filter]])
      : Option[Int] = {
    import org.apache.spark.sql.functions.{col, expr, lit, when}
    val (fs, root) = fsFor(spark, dir)
    val prev = requireLatest(spark, dir)
    val snap = snapshot(spark, dir, prev)
    val schema = snap.schema.getOrElse(
      throw new IllegalStateException(
        s"positional DELETE at $dir needs a recorded schema — this manifest " +
          "predates the schema line; rewrite the table (INSERT OVERWRITE) to upgrade"))
    if (snap.dataDirNames.isEmpty) return None // no current rows: nothing to delete
    require(snap.fileListed,
      s"positional DELETE at $dir needs manifest file lists for every data dir — " +
        "run backfillStats to upgrade pre-file-list manifests")
    require(!schema.fieldNames.contains(PdvFileCol) && !schema.fieldNames.contains(PdvPosCol),
      s"positional DELETE reserves the column names $PdvFileCol/$PdvPosCol")
    // the predicate in both forms: a Column for the row filter
    // (LOGICAL space — the scan renames physical→logical first) and
    // LOGICAL V1 conjuncts for the stats-based candidate-file prune
    val (predCol, logFilters) = predicate match {
      case Right(filters) =>
        val cols = filters.map(f => filterToColumn(f).getOrElse(
          throw new IllegalArgumentException(
            s"positional DELETE cannot express filter $f")))
        (cols.reduceOption(_ && _).getOrElse(lit(true)), filters)
      case Left(sql) =>
        // resolve through the table's own read so names, types, and
        // coercions mean exactly what the same WHERE means in a query
        import org.apache.spark.sql.catalyst.expressions.{And => CAnd, Expression}
        val analyzed = readVersion(spark, dir, prev).filter(expr(sql))
          .queryExecution.analyzed
        def conjuncts(e: Expression): Seq[Expression] = e match {
          case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
          case o          => Seq(o)
        }
        val cond = analyzed.collectFirst {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition }
        (expr(sql),
          cond.toSeq.flatMap(conjuncts).flatMap(e =>
            org.apache.spark.sql.execution.datasources.GraftFilterShim.translate(e)))
    }
    // candidate FILES from per-file stats (one-sided: a kept file may
    // still match nothing); no translatable conjunct → every file
    val cand: Map[String, Set[String]] =
      rowLevelCandidateFiles(spark, snap, logFilters).getOrElse(
        snap.dataDirNames.map(d => d -> snap.fileNames(d)).toMap)
    if (cand.forall(_._2.isEmpty)) return None // stats exclude every file
    val partCols = snap.partitionCols
    val subsetIndex = manifestPartitioningIndexSubset(spark, snap, cand)
    val dataSchema = StructType(schema.fields.filterNot(f => partCols.contains(f.name)))
    val raw = spark.baseRelationToDataFrame(
      org.apache.spark.sql.execution.datasources.HadoopFsRelation(
        subsetIndex, StructType(partCols.map(schema(_))), dataSchema, None,
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
        Map.empty)(spark))
    val rootUri = rootUriPath(spark, dir)
    // rows scan RAW (pre-mask): re-recording an already-masked row's
    // position is a harmless union — and the raw scan keeps this one
    // job free of the mask joins
    val withMeta = raw.select(col("*"),
      uriPathOfCol(col("_metadata.file_path")).as(PdvFileCol),
      col("_metadata.row_index").as(PdvPosCol))
    val fileCol = col(PdvFileCol)
    val positions = toLogicalDf(withMeta, snap.colMap)
      .filter(predCol)
      .select(
        when(fileCol.startsWith(rootUri + "/"),
          fileCol.substr(lit(rootUri.length + 2), lit(Int.MaxValue)))
          .otherwise(fileCol).as("_file"),
        col(PdvPosCol).cast("long").as("_pos"))
    val v = prev + 1
    val nonce = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val dvDir = f"v$v%08d_pdv_$nonce"
    val dvPath = new Path(root, dvDir)
    positions.write.mode(SaveMode.ErrorIfExists).parquet(dvPath.toString)
    // size + emptiness from the just-written footers (metadata only),
    // decided while the dir is still an invisible orphan
    val nPos = Skipping.collectDirStats(spark, dvPath,
      asNullable(positions.schema))._1
    if (nPos == 0L) { fs.delete(dvPath, true); return None }
    val cap = maxDvPositions(spark)
    if (nPos > cap) {
      fs.delete(dvPath, true)
      throw new IllegalArgumentException(
        s"deleteWhere: $nPos deleted positions exceeds the positional " +
          s"deletion-vector size contract (spark.graft.dv.maxPositions=$cap). Every " +
          "mask reader ships the position set with the task binary; a delete this " +
          "size belongs in a rewrite instead: INSERT OVERWRITE the complement read " +
          "(SELECT * FROM t WHERE NOT (predicate))")
    }
    val pdv: Line = PdvEntry(dvDir)
    // the first positional delete on a chain STAMPS the protocol
    // feature — readers without pdv support then refuse by NAME
    // instead of by raw unknown-line fallthrough
    val feat: Seq[Line] =
      if (snap.hasFeature("pdv")) Seq.empty
      else Seq(FeatureEntry("pdv", required = true))
    Some(commitChild(spark, dir, snap, feat.map(addOp) :+ addOp(pdv)))
  }

  /** Delta `ALTER TABLE … DROP FEATURE`'s role: retire a protocol
    * feature declaration so pre-feature readers can serve the table
    * again. Refuses while the feature is STILL IN USE (a `pdv` drop
    * with live positional dv lines would un-gate readers that would
    * then silently serve deleted rows — apply the masks physically
    * first: compact, or INSERT OVERWRITE the masked read). One
    * metadata commit. Returns the committed version; None when the
    * feature was never declared. */
  def dropTableFeature(spark: SparkSession, dir: String, feature: String): Option[Int] =
    withCommitRetry { () =>
      val snap = snapshot(spark, dir, requireLatest(spark, dir))
      if (!snap.hasFeature(feature)) return None
      if (feature.equalsIgnoreCase("pdv"))
        require(snap.posDvs.isEmpty,
          s"cannot drop feature 'pdv' at $dir: positional deletion vectors are " +
            "still live — apply them physically first (compact, or INSERT " +
            "OVERWRITE the masked read), then drop the feature")
      if (feature.equalsIgnoreCase("ingest"))
        require(snap.ingested.isEmpty,
          s"cannot drop feature 'ingest' at $dir: the COPY INTO ledger is " +
            "still live — forgetIngestHistory first (re-runs would then " +
            "re-load every source file), then drop the feature")
      Some(commitChild(spark, dir, snap, Seq(s"-feature:$feature")))
    }

  /** A delete-heavy table accumulates one dv dir per [[deleteByKeys]]
    * until the next overwrite applies the mask physically. This bounds
    * the chain WITHOUT waiting for that overwrite: merge all dv dirs
    * of the same key column into one distinct key set and commit the
    * result as a new version over the SAME data dirs. Masked reads are
    * identical before and after (set union is the mask either way);
    * pre-compaction versions still time-travel to the un-merged chain;
    * the old dv dirs are reclaimed when those versions are pruned.
    *
    * SCOPED dvs (SQL DELETEs) compact by DIR COVERAGE: a data dir's
    * mask is the union of the keys of every scoped dv whose scope
    * contains it, so grouping the LIVE dirs by which scoped dvs cover
    * them and writing ONE merged dv per coverage group — scope = the
    * group's dirs, keys = the union — preserves every dir's mask
    * exactly while bounding the line count at the number of distinct
    * coverage groups (the same number of union branches the scoped
    * read already plans: [[readVersionFrom]] groups dirs the same
    * way). Dead scope entries (dirs since rewritten away) are trimmed
    * in the process — which itself can unify coverages and shrink the
    * plan's union. Commutes with concurrent appends/deletes, so a lost
    * manifest race retries against the refreshed chain. Returns the
    * new version, or None when nothing would change. */
  def compactDeletionVectors(spark: SparkSession, dir: String): Option[Int] =
    withCommitRetry { () =>
      val (fs, root) = fsFor(spark, dir)
      val snap = snapshot(spark, dir, requireLatest(spark, dir))
      val v = snap.version + 1
      val dvByKey = snap.lines.collect { case e: DvEntry => e }
        .groupBy(_.keyCol).toSeq.sortBy(_._1)
      val liveDirs = snap.dataDirNames
      val scopedAll = snap.scopedDvEntries
      // one group per (key column, distinct coverage): every live dir
      // in the group is masked by exactly the same scoped dvs, so one
      // merged dv with keys = their union and scope = the group's dirs
      // serves the group's mask verbatim. Scoped dvs covering NO live
      // dir drop entirely (their masked rows are gone).
      val coverageGroups: Seq[(String, Seq[ScopedDvEntry], Seq[String])] =
        scopedAll.map(_.keyCol).distinct.sorted.flatMap { k =>
          val dvs = scopedAll.filter(_.keyCol == k)
          liveDirs.map(d => d -> dvs.filter(_.scope.contains(d)))
            .filter(_._2.nonEmpty)
            .groupBy(_._2.map(_.name))
            .toSeq.sortBy(_._1.mkString(","))
            .map { case (_, xs) => (k, xs.head._2, xs.map(_._1)) }
        }
      // worth a commit when any plain-dv key column has >1 dir, any
      // coverage group merges >1 scoped dv, or the scoped line set
      // changes shape at all (dead dvs dropped, dead scope entries
      // trimmed)
      val scopedUnchanged =
        coverageGroups.length == scopedAll.length &&
          coverageGroups.forall { case (_, dvs, scope) =>
            dvs.length == 1 && dvs.head.scope == scope }
      val pdvAll = snap.lines.collect { case e: PdvEntry => e }
      if (!dvByKey.exists(_._2.length > 1) && scopedUnchanged && pdvAll.length <= 1) None
      else {
        val ops = Seq.newBuilder[String]
        def mergeDirs(k: String, names: Seq[String]): String = {
          val nonce = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
          val dvDir = f"v$v%08d_dv_$nonce"
          readParquetNoInfer(spark, names.map(n => new Path(root, n).toString))
            .select(org.apache.spark.sql.functions.col(k)).distinct()
            .write.mode(SaveMode.ErrorIfExists)
            .parquet(new Path(root, dvDir).toString)
          dvDir
        }
        dvByKey.foreach { case (k, es) =>
          if (es.length > 1) {
            val dvDir = mergeDirs(k, es.map(_.name))
            es.foreach(e => ops += s"-dv:${e.name}")
            ops += addOp(DvEntry(k, dvDir))
          }
        }
        // verbatim-surviving scoped lines emit no op; everything else
        // is removed by name FIRST (a scope-trim reuses its key dir,
        // and the removal op matches by name) and re-added after
        val scopedOut = coverageGroups.map { case (k, dvs, scope) =>
          if (dvs.length == 1 && dvs.head.scope == scope) (dvs.head, false)
          else {
            // a single-dv group with a stale scope reuses its key dir
            // (trim is metadata-only); multi-dv groups merge key sets
            val dvDir = if (dvs.length == 1) dvs.head.name
              else mergeDirs(k, dvs.map(_.name))
            (ScopedDvEntry(k, dvDir, scope), true)
          }
        }
        val verbatim = scopedOut.collect { case (e, false) => e }.toSet
        scopedAll.filterNot(verbatim).foreach(e => ops += s"-dv:${e.name}")
        scopedOut.collect { case (e, true) => e }.foreach(e => ops += addOp(e))
        // positional dvs merge by (file, pos) union — one sidecar
        // serves every accumulated DELETE's mask verbatim
        if (pdvAll.length > 1) {
          val nonce = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
          val pdvDir = f"v$v%08d_pdv_$nonce"
          spark.read.schema(PdvDirSchema)
            .parquet(pdvAll.map(e => new Path(root, e.name).toString): _*)
            .select("_file", "_pos").distinct()
            .write.mode(SaveMode.ErrorIfExists)
            .parquet(new Path(root, pdvDir).toString)
          pdvAll.foreach(e => ops += s"-dv:${e.name}")
          ops += addOp(PdvEntry(pdvDir))
        }
        Some(commitChild(spark, dir, snap, ops.result()))
      }
    }

  /** (path, bytes) of every parquet file in the newest version —
    * served from the manifest's recorded file lists where present
    * (zero listing), falling back to a directory listing for dirs
    * that predate the file-list format and for dv dirs (which carry
    * no stats line; their key sets are tiny). */
  private[ext] def liveFiles(spark: SparkSession, dir: String): Seq[(String, Long)] = {
    val snap = snapshot(spark, dir, requireLatest(spark, dir))
    def abs(name: String) = new Path(new Path(dir), name).toString
    val (listed, unlisted) =
      snap.dataDirNames.partition(n => snap.stats.get(n).exists(_.files.nonEmpty))
    listed.flatMap { n =>
      snap.stats(n).files.map(f => (new Path(new Path(abs(n)), f.name).toString, f.bytes))
    } ++ CommitFiles.parquetUnder(spark, unlisted.map(abs) ++ snap.dvDirs.flatMap(_._2))
  }

  /** Delta `DESCRIBE HISTORY`'s role: one row per committed version,
    * assembled from manifest BYTES alone (plus one file-status per
    * manifest for the commit time) — no data file is touched.
    * `n_rows` sums the recorded per-dir stats and is NULL when any
    * dir of the version predates stats recording; `n_columns` is the
    * recorded schema's width, NULL for legacy manifests;
    * `committed_at` is the manifest file's mtime (the same clock
    * [[graft.sql.VersionedCatalog]] resolves `TIMESTAMP AS OF`
    * against — honest caveat: filesystem mtimes survive most but not
    * all copies/restores, which is why the VERSION number is the
    * primary travel key). */
  def history(spark: SparkSession, dir: String): DataFrame = {
    val (fs, _) = fsFor(spark, dir)
    import spark.implicits._
    versions(spark, dir).map { v =>
      val snap = snapshot(spark, dir, v)
      (v,
        new java.sql.Timestamp(snap.commitTimestamp),
        snap.dataDirNames.length,
        snap.dvSnapshot.length,
        snap.schema.map(_.fields.length),
        snap.sizeStats.map(_._1),
        snap.isRearrange)
    }.toDF("version", "committed_at", "n_data_dirs", "n_dv_dirs", "n_columns",
      "n_rows", "rearranged")
  }

  /** The newest version whose commit clock
    * ([[Snapshot.commitTimestamp]]) is at or before `tsMillis` —
    * `TIMESTAMP AS OF` resolution. */
  def versionAsOfTimestamp(spark: SparkSession, dir: String, tsMillis: Long): Option[Int] =
    versions(spark, dir).filter(v => snapshot(spark, dir, v).commitTimestamp <= tsMillis)
      .lastOption

  /** Upgrade a pre-round-8 table to the full skipping/schema read path
    * WITHOUT rewriting a byte of data: harvest footer stats for every
    * data dir the current manifest lacks them for, derive-and-record
    * the union schema if absent, and commit the enriched manifest as a
    * new version over the SAME dirs. Cost: one footer sweep of the
    * un-statted dirs (once, ever), one commutative commit — after
    * which reads plan with zero footer access and selective reads
    * skip. Returns the new version, or None when the manifest already
    * carries schema + full stats. */
  def backfillStats(spark: SparkSession, dir: String): Option[Int] =
    withCommitRetry { () =>
      val (_, root) = fsFor(spark, dir)
      val snap = snapshot(spark, dir, requireLatest(spark, dir))
      val stats = snap.stats
      // candidates: dirs with no stats line at all, a stats line from
      // before the file-list format (empty files), or file lists from
      // before the per-FILE-stats format (entries without row counts)
      // — each re-harvests so the newest read path can engage
      val candidates = snap.dataDirNames.filter(n => stats.get(n).forall(st =>
        st.files.isEmpty || st.files.exists(_.rows.isEmpty)))
      // a partitioned chain harvests recursively with its partition
      // spec — the flat harvest would record an empty file list and
      // DOWNGRADE the entry (partitioned reads require file lists)
      val harvested = candidates.map { n =>
        val p = new Path(root, n)
        val (rows, cols, dirFiles) =
          if (snap.partitionCols.nonEmpty) {
            val full = schemaOf(spark, snap)
            Skipping.collectDirStatsPartitioned(spark, p, full,
              StructType(snap.partitionCols.map(c => full(c))))
          } else {
            val dirSchema = asNullable(spark.read.parquet(p.toString).schema)
            Skipping.collectDirStats(spark, p, dirSchema)
          }
        StatsEntry(n, rows, cols, dirFiles)
      }
      // idempotence: a nested-layout dir (no top-level files) harvests
      // the same empty entry every time — only a real CONTENT change
      // commits (the prior entry may carry a sidecar ref; compare the
      // stats themselves, not the serialization)
      val changed = harvested.exists(h => !stats.get(h.name)
        .exists(p => (p.rows, p.cols, p.files) == (h.rows, h.cols, h.files)))
      if (!changed && snap.schema.nonEmpty) None
      else {
        val schema = schemaOf(spark, snap) // derives once when absent
        Some(commitChild(spark, dir, snap,
          addOp(SchemaEntry(schema)) +: externalizeStats(spark, dir, harvested).map(addOp)))
      }
    }

  /** `VERSION AS OF v`: one multi-path parquet scan over the version's
    * data dirs, minus the keys of its deletion vectors (one anti-join
    * per distinct key column — key sets are tiny next to the data, so
    * the join broadcasts). When the manifest records the schema (every
    * commit from this code), the scan applies it with `.schema(...)`
    * and planning reads NO footer; an append chain spanning schema
    * evolution null-backfills missing columns from the union schema
    * exactly as mergeSchema would, without its per-read footer-merge
    * job. Pre-schema manifests fall back to mergeSchema — correct,
    * with the old plan-time cost, until their next commit records the
    * union. */
  def readVersion(spark: SparkSession, dir: String, v: Int): DataFrame =
    readVersionFrom(spark, snapshot(spark, dir, v), _ => true)

  /** [[readVersion]] with manifest-level data skipping: dirs whose
    * recorded min/max/null stats PROVE no row can satisfy `filters`
    * (a conjunction) are dropped from the plan entirely — the
    * file-pruning half of Delta data skipping, done on manifest bytes
    * with zero footer reads. The same filters are then applied to the
    * surviving scan (and pushed into parquet by Catalyst as usual),
    * so the result is exact whether or not any dir could be skipped:
    * stats only ever REMOVE provably-empty work. Dirs without stats
    * (legacy) are always read. */
  def readVersionSkipping(spark: SparkSession, dir: String, v: Int,
                          filters: Seq[org.apache.spark.sql.sources.Filter]): DataFrame = {
    val snap = snapshot(spark, dir, v)
    // filters arrive in LOGICAL names; the stats are keyed physical —
    // rekey the stats once instead of rewriting every filter tree
    val keep: String => Boolean = name => snap.stats.get(name) match {
      case Some(st) if snap.schema.nonEmpty =>
        !filters.exists(f => Skipping.excludes(st.rows,
          rekeyToLogical(st.cols, snap.colMap), snap.logicalSchema.get, f))
      case _ => true
    }
    val pred = filters.map(Skipping.toColumn)
      .reduceOption(_ && _)
    pred.fold(readVersionFrom(spark, snap, keep))(p =>
      readVersionFrom(spark, snap, keep).filter(p))
  }

  /** The dirs a skipping read of version `v` would plan — exposed so
    * tests (and operators reporting skip effectiveness) can assert the
    * prune without running the query. */
  private[graft] def planDataDirs(spark: SparkSession, dir: String, v: Int,
                                  filters: Seq[org.apache.spark.sql.sources.Filter]): Seq[String] = {
    val snap = snapshot(spark, dir, v)
    val schema = snap.logicalSchema
    // a predicate on the SOURCE of a generated partition column
    // derives a partition predicate — skipping-only, never re-applied
    val all = filters ++ schema.toSeq.flatMap(s =>
      Skipping.derivePartitionFilters(spark, s, snap.partitionCols, filters))
    snap.dataDirNames.filter { name =>
      snap.stats.get(name) match {
        case Some(st) if schema.nonEmpty =>
          !all.exists(f =>
            Skipping.excludes(st.rows, rekeyToLogical(st.cols, snap.colMap), schema.get, f))
        case _ => true
      }
    }
  }

  /** The FILES a skipping read of version `v` would plan, after both
    * the dir-level and per-file prune — the file-granularity twin of
    * [[planDataDirs]], exposed so tests (and operators reporting skip
    * effectiveness) can assert that a selective filter prunes INSIDE
    * a surviving dir. Returns `dirName/fileName` relative paths. */
  private[graft] def planDataFiles(spark: SparkSession, dir: String, v: Int,
                                   filters: Seq[org.apache.spark.sql.sources.Filter]): Seq[String] = {
    val snap = snapshot(spark, dir, v)
    val cmap = snap.colMap
    val schema = snap.logicalSchema
    // declared bloom columns (LOGICAL names for matching the filters)
    // + the per-(col, dir) blobs: the point-lookup prune bounds
    // cannot do — every declared column gets its own consultation
    val bloomColsHere = snap.bloomColumns.map(_._1).zip(snap.bloomDecls.map(_.col))
    def bloomKeeps(dirName: String, fileName: String): Boolean =
      bloomColsHere.forall { case (logicalC, physC) =>
        snap.blooms.get((physC, dirName)).flatMap(_.get(fileName)).forall(bits =>
          !filters.exists(flt => Bloom.excludes(flt, logicalC, bits)))
      }
    // derived generated-partition filters prune FILES too (each file
    // carries its partition values as point stats)
    val all = filters ++ schema.toSeq.flatMap(s =>
      Skipping.derivePartitionFilters(spark, s, snap.partitionCols, filters))
    val keptDirs = planDataDirs(spark, dir, v, filters)
    keptDirs.flatMap { name =>
      snap.stats.get(name) match {
        case Some(st) if schema.nonEmpty && st.files.nonEmpty =>
          st.files.filter(f => (f.rows.isEmpty ||
              !all.exists(flt => Skipping.excludes(f.rows.get,
                rekeyToLogical(f.cols, cmap), schema.get, flt))) &&
              bloomKeeps(name, f.name))
            .map(f => s"$name/${f.name}")
        case Some(st) if st.files.nonEmpty => st.files.map(f => s"$name/${f.name}")
        case _ => Seq(name) // unlisted dir: read whole
      }
    }
  }

  /** Scoped-mask dispatch: data dirs group by WHICH scoped deletion
    * vectors cover them (a scoped dv inside its scope behaves exactly
    * like a plain dv, so each group reads through the plain path with
    * the applicable scoped masks appended as dv lines), and the groups
    * union. Dirs committed after a scoped delete are in no scope —
    * the SQL DELETE semantics the scope exists for. Typical shape:
    * one scoped delete → two groups → two manifest-planned scans. */
  private def readVersionFrom(spark: SparkSession, snap: Snapshot,
                              keep: String => Boolean): DataFrame = {
    val dataNames = snap.dataDirNames.filter(keep)
    val scoped = snap.scopedDvEntries
    if (scoped.isEmpty) return readVersionPlain(spark, snap, dataNames, snap.dvDirs)
    val groups = dataNames
      .groupBy(n => scoped.filter(_.scope.contains(n)))
      .toSeq.sortBy(_._1.map(_.name).mkString(","))
    if (groups.isEmpty) return readVersionPlain(spark, snap, Seq.empty, snap.dvDirs)
    // a scoped dv inside its scope masks exactly like a plain one
    val plainMasks = snap.dvDirs.flatMap { case (k, ds) => ds.map(k -> _) }
    groups.map { case (applicable, dirs) =>
      val masks = (plainMasks ++ applicable.map(s =>
          (s.keyCol, new Path(new Path(snap.dir), s.name).toString)))
        .groupBy(_._1).toSeq.sortBy(_._1).map { case (k, xs) => (k, xs.map(_._2)) }
      readVersionPlain(spark, snap, dirs, masks)
    }.reduce(_.unionByName(_))
  }

  /** One manifest-planned scan of `dataEntries` (dir names of `snap`),
    * minus the key-set masks `keyMasks` (key column → absolute dv
    * dirs) and the version's positional masks. */
  private def readVersionPlain(spark: SparkSession, snap: Snapshot, dataEntries: Seq[String],
                               keyMasks: Seq[(String, Seq[String])]): DataFrame = {
    val dir = snap.dir
    def abs(name: String) = new Path(new Path(dir), name).toString
    val partCols = snap.partitionCols
    val fileListed = dataEntries.flatMap(n => snap.stats.get(n).filter(_.files.nonEmpty))
    val base = snap.schema match {
      case Some(s) if dataEntries.isEmpty =>
        // every dir provably excluded: the empty relation, schema intact
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
      case Some(s) if partCols.nonEmpty =>
        // partitioned chain: the files hold only data columns (hive
        // layout strips the partition values into the paths), so the
        // read MUST go through the partition-aware manifest index,
        // which regroups files by their recorded partition values and
        // lets Spark's reader re-attach them — plus PartitionFilters
        // pruning at plan time, from manifest bytes
        require(fileListed.length == dataEntries.length,
          s"partitioned versioned read at $dir needs manifest file lists for every " +
            "data dir — run backfillStats to upgrade pre-file-list manifests")
        val partSchema = StructType(partCols.map(n => s(n)))
        val dataSchema = StructType(s.fields.filterNot(f => partCols.contains(f.name)))
        spark.baseRelationToDataFrame(
          org.apache.spark.sql.execution.datasources.HadoopFsRelation(
            new ManifestFileIndex(new Path(dir), s, fileListed, partSchema,
              bloomCols = snap.bloomDecls.map(_.col), blooms = snap.blooms),
            partSchema, dataSchema, None,
            new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
            Map.empty)(spark))
      case Some(s) if fileListed.length == dataEntries.length =>
        // the full-manifest read path (Delta's TahoeFileIndex role):
        // every file status is served from manifest bytes — the plan
        // touches NO filesystem metadata, the manifest's file list is
        // the AUTHORITY (a stray file in a data dir is invisible), and
        // the index applies stats skipping to the PUSHED filters of
        // any plain .filter() read, not just the explicit skipping API
        spark.baseRelationToDataFrame(
          org.apache.spark.sql.execution.datasources.HadoopFsRelation(
            new ManifestFileIndex(new Path(dir), s, fileListed,
              bloomCols = snap.bloomDecls.map(_.col), blooms = snap.blooms),
            org.apache.spark.sql.types.StructType(Nil), s, None,
            new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
            Map.empty)(spark))
      case Some(s) => spark.read.schema(s).parquet(dataEntries.map(abs): _*)
      case None    => spark.read.option("mergeSchema", "true").parquet(dataEntries.map(abs): _*)
    }
    // POSITIONAL masks ride Spark's own parquet row-index generation:
    // `_metadata.row_index` is computed from row-group metadata, so it
    // stays correct under row-group pruning — pushdown survives the
    // mask. The metadata columns attach at the RELATION (they do not
    // resolve past arbitrary plans), the subtraction is one left-anti
    // join against the small (file, pos) set, broadcast by size.
    val pdvDirs = snap.posDvs
    val base1 =
      if (pdvDirs.isEmpty || dataEntries.isEmpty) base
      else base.select(org.apache.spark.sql.functions.col("*"),
        uriPathOfCol(org.apache.spark.sql.functions.col("_metadata.file_path"))
          .as(PdvFileCol),
        org.apache.spark.sql.functions.col("_metadata.row_index").as(PdvPosCol))
    val masked = keyMasks.foldLeft(base1) { case (df, (k, dvs)) =>
      df.join(
        readParquetNoInfer(spark, dvs).select(org.apache.spark.sql.functions.col(k)).distinct(),
        Seq(k), "left_anti")
    }
    val posMasked =
      if (pdvDirs.isEmpty || dataEntries.isEmpty) masked
      else {
        import org.apache.spark.sql.functions.{broadcast, col}
        val rootUri = rootUriPath(spark, dir)
        val dv = spark.read.schema(PdvDirSchema).parquet(pdvDirs: _*)
          .select(pdvAbsFileCol(col("_file"), rootUri).as("_file"), col("_pos"))
          .distinct()
        masked.join(broadcast(dv),
            masked(PdvFileCol) === dv("_file") && masked(PdvPosCol) === dv("_pos"),
            "left_anti")
          .drop(PdvFileCol, PdvPosCol)
      }
    // the ONE read-boundary translation: everything above (schema,
    // file index, stats, dv keys) ran in physical name space; the
    // final aliasing Project serves the logical names, and pushdown
    // through it translates user predicates back to physical for free
    toLogicalDf(posMasked, snap.colMap)
  }

  /** Temp column names the positional-mask join attaches; refused as
    * data columns at delete time, dropped before rows are served. */
  private[ext] val PdvFileCol = "__graft_pdv_file__"
  private[ext] val PdvPosCol = "__graft_pdv_pos__"

  /** The "key column" a positional dv reports in deletion-vector
    * SNAPSHOTS (the rewrite-conflict sets): positional masks have no
    * key column, and '#' keeps the sentinel outside every legal
    * word-shaped column name. */
  private[graft] val PdvSnapshotKey = "#pos"

  /** The scheme-free path of a file URI STRING, keeping any
    * percent-encoding verbatim — `file:///a/b` | `file:/a/b` |
    * `hdfs://nn:8020/a/b` | `/a/b` all yield `/a/b`. The Scala twin
    * of [[uriPathOfCol]]; the two MUST stay in lockstep — positional
    * deletion vectors store `_file` in this spelling and every mask
    * (DataFrame join and DSv2 reader) compares through one of the
    * twins. */
  private[graft] def uriPathOf(s: String): String = {
    val afterAuthority = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*(/.*)$".r
    val afterScheme = "^[a-zA-Z][a-zA-Z0-9+.-]*:(/.*)$".r
    s match {
      case afterAuthority(p) => p
      case afterScheme(p)    => p
      case other             => other
    }
  }

  /** SQL twin of [[uriPathOf]] for `_metadata.file_path`. */
  private def uriPathOfCol(c: Column): Column = {
    import org.apache.spark.sql.functions.regexp_replace
    regexp_replace(
      regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*/", "/"),
      "^[a-zA-Z][a-zA-Z0-9+.-]*:/", "/")
  }

  /** The table root as a scheme-free absolute path — the prefix
    * positional `_file` refs resolve against. */
  private[graft] def rootUriPath(spark: SparkSession, dir: String): String = {
    val (fs, root) = fsFor(spark, dir)
    fs.makeQualified(root).toUri.getPath.stripSuffix("/")
  }

  /** A positional dv `_file` (manifest spelling) as an absolute
    * scheme-free path: local refs prefix the table root, adopted/
    * cloned refs are already absolute. */
  private def pdvAbsFileCol(c: Column, rootUri: String): Column = {
    import org.apache.spark.sql.functions.{concat, lit, when}
    when(c.startsWith("/"), c).otherwise(concat(lit(rootUri + "/"), c))
  }

  /** One data dir's weight for streaming admission control. */
  private[graft] final case class DirAdmission(absDir: String, files: Long, bytes: Long)

  /** Per-data-dir admission stats of version `v` — file count and
    * total bytes straight from the manifest's stats lines (ZERO
    * filesystem IO — rate-limiting a 100 TB stream must not list or
    * stat anything), in manifest (append) order. A dir recorded
    * before the per-file-list format counts as one file of unknown
    * (0) size — it still admits, just without a byte weight. The
    * streaming source's `maxFilesPerTrigger` / `maxBytesPerTrigger`
    * admit whole dirs from this list: a dir is one commit's write
    * (the atomicity unit), so it is also the admission unit. */
  private[graft] def dirAdmission(spark: SparkSession, dir: String, v: Int)
      : IndexedSeq[DirAdmission] = {
    val snap = snapshot(spark, dir, v)
    snap.dataDirNames.zip(snap.dataDirs).map { case (n, a) =>
      val (f, b) = snap.stats.get(n).filter(_.files.nonEmpty)
        .map(e => (e.files.size.toLong, e.files.map(_.bytes).sum))
        .getOrElse((1L, 0L))
      DirAdmission(a, f, b)
    }.toIndexedSeq
  }

  /** A SUBSET of version `v`'s data dirs (absolute paths), read
    * through the full manifest-aware path — recorded schema,
    * manifest-served file index, PARTITION VALUES re-attached for
    * partitioned chains (a raw `spark.read.schema(...).parquet(dirs)`
    * of a partitioned dir would silently serve the partition columns
    * as null: the files don't hold them). `applyDv = false` serves the
    * dirs RAW, pre-mask — the streaming source's append-feed
    * semantics. */
  private[graft] def readVersionDirs(spark: SparkSession, dir: String, v: Int,
                                     keepAbs: Set[String],
                                     applyDv: Boolean): DataFrame = {
    val snap = snapshot(spark, dir, v)
    readVersionFrom(spark, if (applyDv) snap else snap.withoutMasks,
      n => keepAbs.contains(new Path(new Path(dir), n).toString))
  }

  /** The manifest-backed serving index of version `v` for the SQL
    * catalog ([[ManifestPartitioningIndex]] — typed here because the
    * manifest line model is package-private): partition spec (empty
    * for unpartitioned chains), leaf files, and per-file stats all
    * from manifest bytes. None when the manifest predates the
    * file-list format (caller falls back to the listing tier until
    * `backfillStats` upgrades the table); partitioned manifests always
    * carry file lists, so a missing list there is an error. */
  private[graft] def manifestPartitioningIndex(spark: SparkSession, snap: Snapshot)
      : Option[org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex] = {
    val schema = snap.schema.getOrElse(
      throw new IllegalStateException(s"no recorded schema at ${snap.dir} v${snap.version}"))
    if (!snap.fileListed) {
      if (snap.partitionCols.nonEmpty) throw new IllegalStateException(
        s"partitioned read at ${snap.dir} needs manifest file lists — run backfillStats")
      None
    } else Some(new ManifestPartitioningIndex(spark, new Path(snap.dir), schema,
      StructType(snap.partitionCols.map(c => schema(c))), snap.dataDirNames.map(snap.stats),
      bloomCols = snap.bloomDecls.map(_.col), blooms = snap.blooms))
  }

  /** The files of version `v` a row-level rewrite of `filters` must
    * treat as its group: the survivors of dir- and per-file stats
    * pruning (one-sided, so every file that COULD hold a matching row
    * is included), as dirName → file names. None when any data dir
    * lacks a manifest file list (legacy tier — the caller falls back
    * to the whole-table group) or when no filter was pushed at all. */
  private[graft] def rowLevelCandidateFiles(spark: SparkSession, snap: Snapshot,
                                            filters: Seq[org.apache.spark.sql.sources.Filter])
      : Option[Map[String, Set[String]]] = {
    // files recorded without per-file bounds are still sound: the
    // prune keeps them as candidates (one-sided), they just rewrite
    if (filters.isEmpty || snap.schema.isEmpty || !snap.fileListed) return None
    val dataDirs = snap.dataDirNames
    val kept = planDataFiles(spark, snap.dir, snap.version, filters)
    // split each `dirName/fileName` at the DIR-NAME boundary, not the
    // first '/': cloned refs are absolute (slashes inside the name)
    // and hive file entries carry subpaths (slashes inside the file)
    Some(kept.map { rel =>
      val d = dataDirs.filter(n => rel.startsWith(n + "/")).maxBy(_.length)
      (d, rel.stripPrefix(d + "/"))
    }.groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).toSet })
  }

  /** The live files of version `v` whose PARTITION VALUES satisfy
    * `predicateSql` — the selection seam of a partition-scoped
    * OPTIMIZE (`CALL system.zorder/compact_files(…, where => …)`).
    * EXACT, not one-sided: the predicate may reference partition
    * columns only (anything else refuses — a data-column predicate
    * cannot decide file membership), and each distinct partition
    * tuple is evaluated through Spark's own analyzer over a local
    * relation (driver-sized: one row per distinct tuple), so type
    * coercion matches what the same WHERE clause means in a query.
    * Returns dirName → file names; empty when nothing matches. */
  private[graft] def partitionScopedFiles(spark: SparkSession, dir: String, v: Int,
                                          predicateSql: String): Map[String, Set[String]] = {
    val snap = snapshot(spark, dir, v)
    val partCols = snap.partitionCols
    require(partCols.nonEmpty,
      s"partition-scoped file selection needs a PARTITIONED chain; $dir has no " +
        "partition spec — the unscoped maintenance call rewrites the whole table")
    val schema = snap.schema.getOrElse(
      throw new IllegalStateException(s"no recorded schema at $dir v$v"))
    val parsed = spark.sessionState.sqlParser.parseExpression(predicateSql)
    val refs = parsed.collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.mkString(".")
    }
    require(refs.nonEmpty && refs.forall(n => partCols.exists(_.equalsIgnoreCase(n))),
      s"partition-scoped maintenance takes a predicate over the partition columns " +
        s"(${partCols.mkString(", ")}) only; got '$predicateSql' referencing " +
        s"${refs.mkString(", ")}")
    require(snap.fileListed,
      s"partition-scoped selection at $dir needs manifest file lists for every " +
        "data dir — run backfillStats to upgrade pre-file-list manifests")
    val partSchema = StructType(partCols.map(c => schema(c)))
    def keyOf(f: FileStats): Seq[Option[String]] =
      partCols.map(c => f.cols.get(c).flatMap(_.min))
    val byKey: Seq[(Seq[Option[String]], Seq[(String, String)])] =
      snap.dataDirNames.flatMap(d => snap.stats(d).files.map(f => (keyOf(f), (d, f.name))))
        .groupBy(_._1).toSeq.map { case (k, xs) => (k, xs.map(_._2)) }
    // canonical stats string → the EXTERNAL value the local relation
    // row wants (null partition value stays null → predicate NULL →
    // not selected, standard WHERE semantics)
    import org.apache.spark.sql.types._
    def external(c: String, dt: DataType): Any = dt match {
      case ByteType    => c.toLong.toByte
      case ShortType   => c.toLong.toShort
      case IntegerType => c.toLong.toInt
      case LongType    => c.toLong
      case DateType    => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(c.toLong))
      case StringType  => c
      case BooleanType => c.toBoolean
      case other => throw new IllegalStateException(s"unsupported partition type $other")
    }
    import scala.jdk.CollectionConverters._
    val rows = byKey.zipWithIndex.map { case ((k, _), i) =>
      org.apache.spark.sql.Row.fromSeq(
        partSchema.fields.zip(k).map {
          case (pf, Some(c)) => external(c, pf.dataType)
          case (_, None)     => null
        }.toSeq :+ i)
    }.toList.asJava
    val tupleSchema = StructType(partSchema.fields :+
      org.apache.spark.sql.types.StructField("__graft_tuple_idx", IntegerType, nullable = false))
    val matched = spark.createDataFrame(rows, tupleSchema)
      .filter(org.apache.spark.sql.functions.expr(predicateSql))
      .select("__graft_tuple_idx")
      .collect().map(_.getInt(0)).toSet // driver-sized: one row per distinct tuple
    byKey.zipWithIndex.collect { case ((_, files), i) if matched.contains(i) => files }
      .flatten.groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).toSet }
  }

  /** EVERY live file of version `v`, as dirName → file names — the
    * whole-table selection of a partitioned OPTIMIZE. Requires
    * manifest file lists (backfillStats upgrades legacy chains). */
  private[graft] def allLiveFilesMap(spark: SparkSession, dir: String,
                                     v: Int): Map[String, Set[String]] = {
    val snap = snapshot(spark, dir, v)
    require(snap.fileListed,
      s"whole-table file selection at $dir needs manifest file lists for every " +
        "data dir — run backfillStats to upgrade pre-file-list manifests")
    snap.dataDirNames.map(d => d -> snap.fileNames(d)).toMap
  }

  /** SHOW PARTITIONS from manifest bytes: one entry per live
    * partition tuple — `col1=v1/col2=v2` hive spelling (null values
    * as the hive default token), file count, exact rows, bytes.
    * Driver-sized: one row per partition, never per file. */
  private[graft] def partitionSummary(spark: SparkSession, dir: String, v: Int)
      : Seq[(String, Int, Long, Long)] = {
    val snap = snapshot(spark, dir, v)
    val partCols = snap.partitionCols
    require(partCols.nonEmpty, s"$dir is not partitioned — use detail for table totals")
    val schema = snap.schema.getOrElse(
      throw new IllegalStateException(s"no recorded schema at $dir v$v"))
    require(snap.fileListed,
      s"partition summary at $dir needs manifest file lists — run backfillStats")
    def render(tuple: Seq[Option[String]]): String =
      partCols.zip(tuple).map {
        case (c, Some(canon)) =>
          val dt = schema(c).dataType
          val shown = dt match {
            case org.apache.spark.sql.types.DateType =>
              java.time.LocalDate.ofEpochDay(canon.toLong).toString
            case _ => canon
          }
          s"$c=$shown"
        case (c, None) => s"$c=__HIVE_DEFAULT_PARTITION__"
      }.mkString("/")
    snap.dataDirNames.flatMap(d => snap.stats(d).files)
      .groupBy(f => partCols.map(c => f.cols.get(c).flatMap(_.min)))
      .toSeq
      .map { case (tuple, files) =>
        (render(tuple), files.length, files.flatMap(_.rows).sum, files.map(_.bytes).sum)
      }
      .sortBy(_._1)
  }

  /** Total bytes of a file selection, from manifest stats alone. */
  private[graft] def fileBytesOf(spark: SparkSession, dir: String, v: Int,
                                 keep: Map[String, Set[String]]): Long = {
    val stats = snapshot(spark, dir, v).stats
    keep.iterator.flatMap { case (d, names) =>
      stats.get(d).toSeq.flatMap(_.files.filter(f => names.contains(f.name)).map(_.bytes))
    }.sum
  }

  /** Read a FILE SUBSET of version `v` through the full
    * manifest-aware path — recorded schema, partition values
    * re-attached, deletion vectors applied (scoped masks dispatched
    * per dir group, exactly as any read of the version) — the
    * rewrite-side read of a partition-scoped OPTIMIZE. */
  private[graft] def readVersionFiles(spark: SparkSession, dir: String, v: Int,
                                      keep: Map[String, Set[String]]): DataFrame = {
    readVersionFrom(spark, snapshot(spark, dir, v).restrictedToFiles(keep), _ => true)
  }

  /** [[manifestPartitioningIndex]] restricted to a file subset — the
    * serving index of a row-level rewrite's candidate-file scan. */
  private[graft] def manifestPartitioningIndexSubset(spark: SparkSession, snap: Snapshot,
                                                     keep: Map[String, Set[String]])
      : org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex = {
    val subset = snap.restrictedToFiles(keep)
    val schema = subset.schema.getOrElse(
      throw new IllegalStateException(s"no recorded schema at ${snap.dir} v${snap.version}"))
    new ManifestPartitioningIndex(spark, new Path(snap.dir), schema,
      StructType(subset.partitionCols.map(c => schema(c))),
      subset.dataDirNames.flatMap(subset.stats.get))
  }

  def readLatest(spark: SparkSession, dir: String): DataFrame = {
    val v = requireLatest(spark, dir)
    readVersion(spark, dir, v)
  }

  /** Delta `table_changes(tab, vFrom, vTo)` role, DERIVED on read: the
    * manifest store keeps no change log (every version is a full
    * state), so the change feed between two versions is recomputed
    * from the versions themselves — one full-outer join on the keys,
    * one explode, the [[graft.gold.Upsert.mergeChanges]] plan shape
    * (never a join per change class). Differences from mergeChanges'
    * MERGE-feed semantics: rows present in both versions with EQUAL
    * values emit NOTHING (a version diff has no "touched but
    * unchanged" notion), and schema evolution between the versions is
    * tolerated — the feed carries the union columns, null-padded per
    * side. Change classes: `insert` (key only in vTo), `delete` (key
    * only in vFrom), `update_preimage`/`update_postimage` (key in
    * both, any value column differs under null-safe equality).
    *
    * At 100 TB the DERIVE path is two manifest-planned scans + one
    * key-partitioned join — the price of not storing a log. Writers
    * that care about repeated CDC consumers record the feed at COMMIT
    * time instead ([[writeVersionWithChangeFeed]], Delta CDF's
    * `_change_data` role): when vTo's manifest carries a recorded
    * feed for exactly this (span, keys), it is served as one O(feed)
    * read and the derive never runs; [[changeFeed]] is the per-commit
    * multi-hop form. [[graft.gold.Upsert.mergeChanges]] (q95) stays
    * the MERGE-side twin. */
  def changesBetween(spark: SparkSession, dir: String, vFrom: Int, vTo: Int,
                     keys: Seq[String]): DataFrame = {
    require(vFrom <= vTo, s"vFrom $vFrom must be <= vTo $vTo")
    // KEYLESS form: a row-tracked table diffs on its stable row ids —
    // Delta's row-tracking payoff. Both endpoints must carry the
    // declaration (a span reaching before enablement has versions
    // whose rows HAVE no ids; refuse with the remedy, never join on a
    // null-backfilled key)
    val effKeys =
      if (keys.nonEmpty) keys
      else {
        def tracked(v: Int) = snapshot(spark, dir, v).schema
          .exists(s => identityColumnsOf(s).exists(_.col.equalsIgnoreCase(RowIdCol)))
        require(tracked(vFrom) && tracked(vTo),
          s"keyless changesBetween needs ROW TRACKING on both endpoints of the " +
            s"span (v$vFrom, v$vTo) at $dir — enableRowTracking first, or pass " +
            "key columns")
        Seq(RowIdCol)
      }
    // a feed RECORDED at vTo's commit for exactly this span and key
    // set serves directly — O(feed) instead of O(both versions)
    recordedFeed(spark, dir, vFrom, vTo, effKeys)
      .map(n => readParquetNoInfer(spark, Seq(new Path(new Path(dir), n).toString)))
      .getOrElse(diffFeedFrames(
        readVersion(spark, dir, vFrom), readVersion(spark, dir, vTo), effKeys))
  }

  /** The reserved ROW-TRACKING column: a BIGINT identity every
    * row-tracked write assigns and every rewrite carries verbatim. */
  val RowIdCol = "_row_id"

  /** Delta ROW TRACKING's role: give every row a STABLE id —
    * assigned at write, never repeated, carried VERBATIM through
    * copy-on-write rewrites, compaction and Z-order (the rewrites
    * move the rows WITH their columns, and the id is a column) — so
    * [[changesBetween]] works KEYLESS and MERGE-style diffs stop
    * paying the full-outer derive on user keys.
    *
    * Implementation is deliberately a composition of two existing
    * contracts rather than new machinery: `_row_id` is declared a
    * `GENERATED BY DEFAULT AS IDENTITY` BIGINT (the distributed
    * assignment, gap-tolerant and never-repeating, with the
    * high-water mark advanced in the same atomic commit), and the
    * existing rows BACKFILL in one file-granular dataChange=false
    * rewrite (served rows unchanged — pre-existing streams' frozen
    * schemas ignore the new column). Unlike Delta's hidden metadata
    * column the id is VISIBLE in the schema — the honest shape for a
    * library (SELECT * shows it; writers may carry it through
    * explicitly, e.g. a MERGE copying rows).
    *
    * A partitioned chain's backfill re-lands the whole hive tree once
    * (the adoption price, same as Delta's backfill); from then on
    * appends assign incrementally. Returns the backfill version (= the
    * declaration version on an empty table). */
  def enableRowTracking(spark: SparkSession, dir: String): Int = {
    import org.apache.spark.sql.functions.{coalesce, lit, monotonically_increasing_id, col => fcol}
    val schema0 = snapshot(spark, dir, requireLatest(spark, dir)).schema.getOrElse(
      throw new IllegalArgumentException(
        s"row tracking at $dir needs a recorded schema — commit once to record it"))
    require(!schema0.fieldNames.exists(_.equalsIgnoreCase(RowIdCol)),
      s"$dir already carries a '$RowIdCol' column — row tracking is enabled, or " +
        "the name is taken")
    // 1. declare: one metadata-only widen; appends from here assign
    addColumns(spark, dir, Seq(org.apache.spark.sql.types.StructField(
      RowIdCol, org.apache.spark.sql.types.LongType, nullable = true,
      identityMetadata(org.apache.spark.sql.types.Metadata.empty,
        start = 0L, step = 1L, allowExplicitInsert = true))))
    // 2. backfill: every EXISTING row gets its id in one rearrange
    withCommitRetry { () =>
      val v = latestVersion(spark, dir).get
      val victims = allLiveFilesMap(spark, dir, v)
      if (victims.valuesIterator.forall(_.isEmpty)) v // empty table: declared is enabled
      else {
        val snap = snapshot(spark, dir, v)
        val base = snap.hwm(RowIdCol).getOrElse(0L)
        val staged = stageDataDir(spark, dir)
        val stagedPath = new Path(new Path(dir), staged)
        // a partitioned chain's backfill re-lands the whole hive tree
        // ONCE (adoption price, like Delta's backfill); the commit
        // stays the rearrange every stream skips
        val partCols = snap.partitionCols
        val filled = toPhysical(
          readVersionFiles(spark, dir, v, victims)
            .withColumn(RowIdCol, coalesce(fcol(RowIdCol),
              lit(base) + monotonically_increasing_id())),
          snap.colMap)
        (if (partCols.isEmpty) filled.write
         else filled.write.partitionBy(partCols: _*))
          .mode(SaveMode.ErrorIfExists).parquet(stagedPath.toString)
        // the rewrite commit advances the _row_id high-water mark from
        // the staged footers' bounds — the same atomic-claim contract
        // as every identity write
        commitFileRewrite(spark, dir, victims, Some(staged), partCols,
          snap.dvSnapshot, dataChange = false).getOrElse(v)
      }
    }
  }

  /** The dir name of the feed recorded for (vFrom → vTo] over `keys`,
    * if vTo's manifest carries one. */
  private def recordedFeed(spark: SparkSession, dir: String, vFrom: Int,
                           vTo: Int, keys: Seq[String]): Option[String] =
    snapshot(spark, dir, vTo).changes
      .find(c => c.vFrom == vFrom && c.vTo == vTo && c.keys == keys).map(_.name)

  /** True iff [[changesBetween]] over this span would serve a
    * RECORDED feed — exposed so tests pin the serve path. */
  private[graft] def hasRecordedChanges(spark: SparkSession, dir: String,
                                        vFrom: Int, vTo: Int, keys: Seq[String]): Boolean =
    recordedFeed(spark, dir, vFrom, vTo, keys).nonEmpty

  /** Delta CDF's `table_changes(tab, vFrom, vTo)` MULTI-COMMIT form:
    * one feed row set per commit in (vFrom, vTo], each tagged with its
    * `_commit_version` — recorded feeds served where present, derived
    * per step otherwise. Note the semantic difference from the
    * two-point [[changesBetween]]: a row inserted at v1 and deleted at
    * v2 appears in BOTH steps here, and not at all in the net diff —
    * per-commit history is what CDC consumers replay. */
  def changeFeed(spark: SparkSession, dir: String, vFrom: Int, vTo: Int,
                 keys: Seq[String]): DataFrame = {
    require(vFrom < vTo, s"need at least one commit in the span, got ($vFrom, $vTo]")
    (vFrom + 1 to vTo).map(v =>
      withCommitMetadata(changesBetween(spark, dir, v - 1, v, keys), snapshot(spark, dir, v)))
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** The CDF metadata contract (batch and stream alike): a LONG
    * `_commit_version` plus `_commit_timestamp` from the snapshot's
    * commit clock. Both ride as DATA (a nullary UDF holds them), not
    * as literals: Catalyst inlines a long literal into generated code,
    * so every version's feed would otherwise compile its own classes. */
  private[graft] def withCommitMetadata(df: DataFrame, snap: Snapshot): DataFrame = {
    import org.apache.spark.sql.functions.udf
    val v = snap.version.toLong
    val ts = new java.sql.Timestamp(snap.commitTimestamp)
    df.withColumn("_commit_version", udf(() => v).asNonNullable()())
      .withColumn("_commit_timestamp", udf(() => ts).asNonNullable()())
  }

  /** Commit `df` as the next version AND record the classified change
    * feed from the previous latest in the SAME commit — the write-time
    * CDF capture that turns every later [[changesBetween]] over this
    * step from an O(both versions) derive into an O(feed) read. The
    * diff is computed once, at the only moment both states are already
    * in hand; a first commit (no previous version) records nothing
    * (Delta's CDF starts at the second commit too). Either commit is
    * a [[writeVersion]] overwrite — GENERATED/IDENTITY filling,
    * optimize-write, the maintenance tick — and a lost race surfaces,
    * as for every overwrite. */
  def writeVersionWithChangeFeed(df: DataFrame, dir: String, keys: Seq[String]): Int = {
    val spark = df.sparkSession
    keys.foreach(k => require(k.matches("[A-Za-z0-9_]+"),
      s"key column must be word-shaped (it is embedded in the manifest), got '$k'"))
    commitFrame(spark, dir, SaveMode.Overwrite) { () =>
      Some(latestVersion(spark, dir).fold(Frame(df)) { p =>
        Frame(df, readAt = Some(p), extra = { filled =>
          val (_, root) = fsFor(spark, dir)
          val nonce = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
          val chDir = f"v${p + 1}%08d_changes_$nonce"
          // feed first (invisible until the manifest lands, exactly
          // like the data dir; a lost commit race leaves it an orphan),
          // diffed against the rows as they land — filled columns too
          diffFeedFrames(readVersion(spark, dir, p), filled, keys)
            .write.mode(SaveMode.ErrorIfExists).parquet(new Path(root, chDir).toString)
          Seq(ChangesEntry(p, p + 1, keys, chDir))
        })
      })
    }.get
  }

  /** Write-time CDF capture for a DELTA-BASED row-level commit
    * (Delta `enableChangeDataFeed`'s role for UPDATE/MERGE/DELETE):
    * when the table (or session) opts in, the merge-on-read commit
    * records the classified change feed alongside its position mask
    * and appended rows, turning every later [[changesBetween]] over
    * the step into an O(feed) read instead of an O(two versions)
    * derive that must also pay the mask. Key resolution:
    * `graft.cdf.keys` (comma-separated) wins; else
    * `graft.cdf.enabled=true` on a ROW-TRACKED table keys the feed on
    * `_row_id`; else no feed (the feed format is keyed — without
    * stable keys there is nothing exact to record). Cost, paid only
    * when enabled: ONE scan of the masked files semi-joined against
    * the (broadcast-small, contract-bounded) sidecar for the
    * pre-images, one read-back of the staged inserts, one small
    * parquet write — all invisible orphans until the manifest lands.
    * Returns the (keys, feedDir) pair for commitFileRewrite's
    * changeFeed leg; None when not enabled. */
  private[graft] def rowOpsFeed(spark: SparkSession, dir: String, v: Int,
                                masked: Option[(String, Map[String, Set[String]])],
                                insertDir: Option[String]): Option[(Seq[String], String)] = {
    import org.apache.spark.sql.functions.{broadcast, col => fcol}
    lazy val props = liveProps(spark, dir)
    val explicit = Knobs.cdfKeys(spark, props)
    if (explicit.isEmpty && !Knobs.cdfEnabled(spark, props)) return None
    val snap = snapshot(spark, dir, v)
    val cmap = snap.colMap
    val logicalSchema = snap.logicalSchema.getOrElse(return None)
    val keys =
      if (explicit.nonEmpty) explicit
      else if (identityColumnsOf(logicalSchema)
          .exists(_.col.equalsIgnoreCase(RowIdCol))) Seq(RowIdCol)
      else {
        log.warn(s"graft.cdf.enabled is set at $dir but the table is not " +
          "row-tracked and graft.cdf.keys is unset — no exact keyed feed can " +
          "be recorded; enableRowTracking or set graft.cdf.keys")
        return None
      }
    keys.foreach(k => require(k.matches("[A-Za-z0-9_]+") &&
      logicalSchema.fieldNames.exists(_.equalsIgnoreCase(k)),
      s"CDF key '$k' must be a word-shaped column of $dir"))
    val (_, root) = fsFor(spark, dir)
    val fields = logicalSchema.fieldNames.toSeq
    def emptyLogical =
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        asNullable(logicalSchema))
    // pre-images: the masked files read RAW with addresses, kept to
    // exactly the newly-masked positions (they were live at v by
    // construction — a just-matched row cannot have been pre-masked)
    val pre = masked match {
      case Some((sidecarDir, byDir)) =>
        val partCols = snap.partitionCols
        val physSchema = snap.schema.get
        val subsetIndex = manifestPartitioningIndexSubset(spark, snap, byDir)
        val dataSchema = StructType(
          physSchema.fields.filterNot(f => partCols.contains(f.name)))
        val raw = spark.baseRelationToDataFrame(
          org.apache.spark.sql.execution.datasources.HadoopFsRelation(
            subsetIndex, StructType(partCols.map(physSchema(_))), dataSchema, None,
            new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
            Map.empty)(spark))
        val rootUri = rootUriPath(spark, dir)
        import org.apache.spark.sql.functions.{lit, when}
        val fileRaw = uriPathOfCol(fcol("_metadata.file_path"))
        val withMeta = raw.select(fcol("*"),
          when(fileRaw.startsWith(rootUri + "/"),
            fileRaw.substr(lit(rootUri.length + 2), lit(Int.MaxValue)))
            .otherwise(fileRaw).as(PdvFileCol),
          fcol("_metadata.row_index").cast("long").as(PdvPosCol))
        val sc = spark.read.schema(PdvDirSchema)
          .parquet(new Path(root, sidecarDir).toString)
          .select(fcol("_file").as(PdvFileCol), fcol("_pos").cast("long").as(PdvPosCol))
        toLogicalDf(withMeta, cmap)
          .join(broadcast(sc), Seq(PdvFileCol, PdvPosCol), "leftsemi")
          .select(fields.map(fcol): _*)
      case None => emptyLogical
    }
    // post-images: the staged inserts, read back (hive re-lands
    // self-describe their partition values), served logical
    val ins = insertDir match {
      case Some(nd) =>
        toLogicalDf(spark.read.parquet(new Path(root, nd).toString), cmap)
          .select(fields.map(fcol): _*)
      case None => emptyLogical
    }
    val nonce = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val chDir = f"v$v%08d_changes_$nonce"
    diffFeedFrames(pre, ins, keys.map(k =>
        logicalSchema.fieldNames.find(_.equalsIgnoreCase(k)).get))
      .write.mode(SaveMode.ErrorIfExists).parquet(new Path(root, chDir).toString)
    Some((keys.map(k => logicalSchema.fieldNames.find(_.equalsIgnoreCase(k)).get),
      chDir))
  }

  private def diffFeedFrames(oldV: DataFrame, newV: DataFrame,
                             keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{array, col, explode, lit, struct, when}
    keys.foreach(k => require(oldV.columns.contains(k) && newV.columns.contains(k),
      s"key column '$k' must exist in both versions"))
    // union value columns (evolution-tolerant): vFrom's order, then
    // vTo's additions; each side null-pads what it lacks
    val dataCols = (oldV.columns.filterNot(keys.contains) ++
      newV.columns.filterNot(c => keys.contains(c) || oldV.columns.contains(c))).toSeq
    def pad(df: DataFrame, side: String) = dataCols.foldLeft(df) { (d, c) =>
      if (d.columns.contains(c)) d.withColumnRenamed(c, s"__${side}_$c")
      else d.withColumn(s"__${side}_$c", lit(null))
    }
    val t = pad(oldV, "t").withColumn("__in_t", lit(1))
    val u = pad(newV, "u").withColumn("__in_u", lit(1))
    def img(side: String, tag: String) =
      struct(dataCols.map(c => col(s"__${side}_$c").as(c)) :+
        lit(tag).as("_change_type"): _*)
    val same = dataCols.map(c => col(s"__t_$c") <=> col(s"__u_$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    val changes =
      when(col("__in_t").isNull, array(img("u", "insert")))
        .when(col("__in_u").isNull, array(img("t", "delete")))
        .otherwise(array(img("t", "update_preimage"), img("u", "update_postimage")))
    t.join(u, keys, "full_outer")
      // matched-and-EQUAL rows emit nothing: the flag rides beside the
      // explode (an empty-array branch would need a typed empty
      // literal; the filter folds into the same projection)
      .select(keys.map(col) :+ same.as("__same") :+ explode(changes).as("__chg"): _*)
      .filter(!(col("__same") && col("__chg._change_type").startsWith("update")))
      .select(keys.map(col) ++
        (dataCols :+ "_change_type").map(c => col(s"__chg.$c")): _*)
  }

  /** Bounded optimistic retry for commits that lost a version-number
    * race: re-reads the new latest state and re-attempts at the next
    * number. Safe ONLY for COMMUTATIVE operations — append, delete-
    * by-keys, and dv compaction extend whatever the latest manifest
    * is, so the retried commit means the same thing after the
    * concurrent write as before it. Retries a [[CommitConflict]] and
    * nothing else; tries one commit at most 16 times.
    *
    * Multi-writer safety rests on the manifest claim being ATOMIC on
    * the storage, which [[Commit.putIfAbsent]] guarantees per scheme:
    * a hardlink on local POSIX, a conditional PUT on object stores,
    * and rename only under HDFS-like semantics, where rename-to-existing
    * FAILS. POSIX rename would silently REPLACE the destination, so
    * two local racers could both "win" — which is why the local branch
    * links instead of renaming. */
  private def withCommitRetry[T](attempt: () => T): T = {
    val maxAttempts = 16
    var n = 1
    while (true) {
      try return attempt()
      catch { case _: CommitConflict if n < maxAttempts => n += 1 }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Delta `RESTORE TABLE … TO VERSION AS OF v` role: commit version
    * v's manifest — file list, schema, and stats — as the newest
    * version. No data is copied or rewritten (the manifest
    * re-references v's immutable dirs), and the restore itself is a
    * new version, so it is also undoable. Returns the new version id. */
  def restoreVersion(spark: SparkSession, dir: String, v: Int): Int = {
    // RESOLVED state, written FULL: a restored delta would otherwise
    // depend on a parent chain that retention may later reclaim, and
    // the restore's content is v's state, not a delta against latest
    val resolved = snapshot(spark, dir, v) // validates v exists
    val next = latestVersion(spark, dir).get + 1
    commitManifest(spark, dir, next, resolved.lines.map(renderLine))
    next
  }

  // ───────────── SQL DDL: table lifecycle as manifest commits ─────────────

  /** `CREATE TABLE`'s role for the versioned store: commit version 0
    * as a METADATA-ONLY manifest — recorded schema (and partition
    * spec), zero data dirs — so the canonical SQL flow (CREATE TABLE,
    * then INSERT INTO) works without seeding a dummy write through
    * the library first. Reads of the empty version serve the empty
    * relation with the schema intact ([[readVersion]]'s zero-dir
    * case); the first INSERT is an ordinary append commit. Creation
    * is the same put-if-absent claim as every commit, so of two
    * racing CREATEs exactly one wins and the loser surfaces.
    * `partCols` (recorded LAST in the schema — the partitioned read
    * order) make the chain partitioned from birth: every append must
    * match the spec, and partition-column filters prune from manifest
    * bytes as on any partitioned chain. Returns the committed
    * version (always 0). */
  def createTable(spark: SparkSession, dir: String, schema: StructType,
                  partCols: Seq[String] = Seq.empty,
                  constraints: Seq[(String, String)] = Seq.empty,
                  props: Map[String, String] = Map.empty): Int = {
    require(schema.fields.nonEmpty, "cannot create a table with no columns")
    props.foreach { case (k, x) =>
      require(k.matches("[A-Za-z0-9_.\\-]+"),
        s"property key must be dotted-word-shaped (it embeds in the manifest), got '$k'")
      require(!x.exists(c => c == '\n' || c == '\r'),
        s"property value for '$k' must be one line")
    }
    require(latestVersion(spark, dir).isEmpty,
      s"table $dir already exists (has committed versions)")
    constraints.foreach { case (n, sql) =>
      require(n.matches("[A-Za-z0-9_]+"),
        s"constraint name must be word-shaped, got '$n'")
      requireOneLine(sql, n)
    }
    val ordered = partitionedReadOrder(schema, partCols)
    require(partCols.isEmpty || partCols.length < schema.fields.length,
      "a table cannot be partitioned by every column")
    // non-nullable declared fields become enforced NOT NULL lines (the
    // recorded schema itself stays fully-nullable — append chains
    // null-backfill, and the constraint is what enforces)
    val notNull = ordered.fields.filterNot(_.nullable).map(f => NotNullEntry(f.name))
    // identity declarations open their high-water mark at the start
    // value; the column name embeds in the ':'-split hwm line
    val idSpecs = identityColumnsOf(ordered)
    idSpecs.foreach { s =>
      require(s.step != 0, s"identity column '${s.col}' cannot step by 0")
      require(ordered(s.col).dataType == org.apache.spark.sql.types.LongType,
        s"identity column '${s.col}' must be BIGINT, got ${ordered(s.col).dataType} — " +
          "the distributed assignment is hwm + step·monotonically_increasing_id(), " +
          "whose per-partition offsets (step·partitionId·2³³) collapse mod 2³² after " +
          "a narrower cast: an INT identity silently assigns DUPLICATE ids on any " +
          "multi-partition insert. Delta's identity contract is BIGINT-only too.")
      require(!s.col.exists(c => c == ':' || c == ',' || c == '\n' || c == '\r') &&
          s.col == s.col.trim,
        s"identity column name '${s.col}' cannot carry a high-water-mark line")
      require(!partCols.exists(_.equalsIgnoreCase(s.col)),
        s"identity column '${s.col}' cannot be a partition column (every insert " +
          "would open new partitions)")
    }
    val ls: Seq[Line] = SchemaEntry(asNullable(ordered)) +:
      ((if (partCols.isEmpty) Seq.empty[Line] else Seq[Line](PartitionEntry(partCols))) ++
        notNull ++ constraints.map { case (n, sql) => ConstraintEntry(n, sql) } ++
        idSpecs.map(s => HwmEntry(s.col, s.start)) ++
        props.toSeq.sortBy(_._1).map { case (k, x) => PropEntry(k, x) })
    commitManifest(spark, dir, 0, ls.map(renderLine))
    0
  }

  /** `DROP TABLE`'s role: delete the chain ROOT — manifests, data and
    * dv dirs, recorded feeds, and any orphans. Guarded: only a dir
    * that IS a versioned chain (has at least one committed manifest)
    * is touched — false for anything else, so a mistyped path can
    * never delete foreign content. Irreversible by design: this is
    * the one lifecycle operation that cannot commit a version,
    * because it removes the manifests a version would live in. */
  def dropTableChain(spark: SparkSession, dir: String): Boolean = {
    val (fs, root) = fsFor(spark, dir)
    val vs = versions(spark, dir)
    Snapshot.evict(spark, dir, vs) // a re-created table must not serve the old parse
    vs.nonEmpty && fs.delete(root, true)
  }

  /** Shared shape of the metadata-only schema commits: replace the
    * recorded schema, carry every other manifest line forward
    * unchanged (data dirs, stats, dvs, txn watermarks, partition
    * spec), commit as the next version — so a schema change is
    * itself history: time travel to the pre-ALTER version serves the
    * pre-ALTER schema. */
  private def commitSchemaChange(spark: SparkSession, dir: String)
                                (change: (StructType, Snapshot) => StructType): Int = {
    val snap = snapshot(spark, dir, requireLatest(spark, dir))
    // pre-schema manifests: derive the union once — the ALTER commit
    // then records it, upgrading the table in place like any commit
    val prior = schemaOf(spark, snap)
    val next = asNullable(change(prior, snap))
    // a dropped column takes its mapping entry with it (the physical
    // field is gone from the recorded schema; a stale entry would
    // keep its old name reserved forever)
    val priorMap = snap.colMap
    val keptMap = priorMap.filter { case (_, p) => next.fieldNames.contains(p) }
    val mapOps: Seq[String] =
      if (keptMap == priorMap) Seq.empty
      else if (keptMap.isEmpty) Seq("-colmap")
      else Seq(addOp(ColMapEntry(keptMap.toSeq.sortBy(_._1))))
    commitChild(spark, dir, snap, addOp(SchemaEntry(next)) +: mapOps)
  }

  /** `ALTER TABLE … ADD COLUMNS`'s role: a METADATA-ONLY commit that
    * widens the recorded schema — no data file is touched, existing
    * files simply lack the new columns and the recorded-schema read
    * null-backfills them (exactly how an evolving APPEND already
    * behaves; this is the same union, declared ahead of data).
    * Columns land after the existing data columns and BEFORE the
    * partition columns, preserving the partitioned read order.
    *
    * Name-addressed parquet caveat (the trade Delta makes in its
    * pre-column-mapping mode, which this store follows): re-adding a
    * previously DROPPED name resurrects values still present in live
    * files — with the SAME type that is well-defined (the drop was
    * metadata-only too); with a DIFFERENT type the read fails on
    * those files. Add under a fresh name to start clean. */
  def addColumns(spark: SparkSession, dir: String, cols: Seq[StructField]): Int = {
    require(cols.nonEmpty, "no columns to add")
    commitSchemaChange(spark, dir) { (prior, snap) =>
      val cmap = snap.colMap
      val logicalLower = toLogicalSchema(prior, cmap)
        .fieldNames.map(_.toLowerCase).toSet
      cols.foreach { f =>
        require(!logicalLower.contains(f.name.toLowerCase),
          s"column '${f.name}' already exists")
        // the resurrect-collision guard: a renamed-away column's
        // PHYSICAL name is still live in every file — a new column
        // landing on it would serve the old bytes as its own
        require(!cmap.values.exists(_.equalsIgnoreCase(f.name)),
          s"'${f.name}' is the physical storage name of a renamed column — " +
            "add it under a different name")
      }
      require(cols.map(_.name.toLowerCase).distinct.length == cols.length,
        s"duplicate names in ${cols.map(_.name).mkString(",")}")
      val (dataF, partF) = prior.fields.partition(f => !snap.partitionCols.contains(f.name))
      StructType(dataF ++ cols ++ partF)
    }
  }

  /** `ALTER TABLE … DROP COLUMN`'s role: a METADATA-ONLY commit that
    * narrows the recorded schema. The bytes stay in the files (every
    * version is immutable); the recorded-schema read simply stops
    * projecting them, and the pre-ALTER version still serves the
    * column under time travel. Refused for partition columns (the
    * layout is keyed on them) and for deletion-vector key columns
    * (the mask could no longer be evaluated). For ERASURE semantics
    * a metadata drop is not enough — rewrite via
    * `writeVersion(readLatest(dir).drop(col), dir)` and prune. */
  def dropColumns(spark: SparkSession, dir: String, names: Seq[String]): Int = {
    require(names.nonEmpty, "no columns to drop")
    commitSchemaChange(spark, dir) { (prior, snap) =>
      val cmap = snap.colMap
      val logical = toLogicalSchema(prior, cmap)
      // callers name LOGICAL columns; the schema line and every guard
      // below speak physical
      val resolved = names.map { n =>
        val l = logical.fields.map(_.name).find(_.equalsIgnoreCase(n)).getOrElse(
          throw new IllegalArgumentException(
            s"no column '$n' in ${logical.fieldNames.mkString(",")}"))
        (l, cmap.getOrElse(l, l))
      }
      val partCols = snap.partitionCols
      val dvKeys = (snap.dvDirs.map(_._1) ++ snap.scopedDvs.map(_._1)).toSet
      // columns a CHECK constraint reads are load-bearing too: the
      // write-time validation could no longer evaluate the predicate
      val constraintRefs = snap.constraints.map { case (cn, sql) =>
        cn -> constraintRefCols(spark, sql)
      }
      resolved.foreach { case (l, n) =>
        require(!partCols.contains(n), s"cannot drop partition column '$n'")
        require(!dvKeys.contains(n),
          s"cannot drop '$n': it keys a live deletion vector — compact or " +
            "overwrite to apply the mask physically first")
        // constraint predicates are LOGICAL sql — compare the logical name
        constraintRefs.find(_._2.contains(l.toLowerCase)).foreach { case (cn, _) =>
          throw new IllegalArgumentException(
            s"cannot drop '$l': CHECK constraint '$cn' reads it — DROP CONSTRAINT first")
        }
        // a GENERATED column's dependencies are load-bearing the same
        // way — unless the generated column drops in the SAME call
        // (dropping the generated column itself is always fine: its
        // expression leaves with it)
        generatedColumnsOf(prior).find { case (g, sql) =>
          !g.equalsIgnoreCase(n) &&
            !resolved.exists(_._2.equalsIgnoreCase(g)) &&
            constraintRefCols(spark, sql).contains(l.toLowerCase)
        }.foreach { case (g, _) =>
          throw new IllegalArgumentException(
            s"cannot drop '$l': GENERATED column '${cmap.map(_.swap).getOrElse(g, g)}' " +
              "is computed from it — drop the generated column first (or in the " +
              "same call)")
        }
        // this single-purpose commit cannot remove the constraint line
        // with the column; the atomic ALTER can (and does)
        require(!snap.notNull.exists(_.equalsIgnoreCase(n)),
          s"cannot drop '$l': it carries NOT NULL — use alterTableAtomic " +
            "(SQL ALTER TABLE), which drops the constraint with the column")
        require(!snap.bloomDecls.exists(_.col.equalsIgnoreCase(n)),
          s"cannot drop '$l': it is the bloom-indexed column — drop_bloom first, " +
            "or use alterTableAtomic (SQL ALTER TABLE), which retires the index " +
            "with the column")
      }
      val dropSet = resolved.map(_._2).toSet
      val kept = prior.fields.filterNot(f => dropSet.contains(f.name))
      require(kept.nonEmpty, "cannot drop every column")
      StructType(kept)
    }
  }

  /** `ALTER TABLE … ADD CONSTRAINT name CHECK (expr)`'s role (Delta
    * CHECK constraints): validate that EVERY existing row satisfies
    * the predicate (one scan of the current masked state — a
    * constraint that the data already violates refuses, Delta's
    * contract), then commit the constraint as a METADATA-ONLY
    * version. From then on every write — library or SQL — validates
    * its new rows before committing ([[writeVersionCore]]'s
    * backstop), and the SQL catalog reports the constraint through
    * DSv2 `Table.constraints()` so Spark's analyzer also refuses
    * violating INSERTs plan-side. NULL predicate results PASS (SQL
    * CHECK semantics). */
  /** The manifest is line-based: a predicate containing a line break
    * would render as two manifest lines, the second parsing as a
    * phantom data dir — every later read of the table would fail. */
  private def requireOneLine(sql: String, name: String): Unit =
    require(sql.nonEmpty && !sql.exists(c => c == '\n' || c == '\r'),
      s"CHECK predicate of '$name' must be non-empty single-line SQL " +
        s"(it is embedded in the line-based manifest); got ${sql.length} chars " +
        "with a line break")

  def addCheckConstraint(spark: SparkSession, dir: String, name: String,
                         predicateSql: String): Int = {
    require(name.matches("[A-Za-z0-9_]+"),
      s"constraint name must be word-shaped (it is embedded in the manifest), got '$name'")
    requireOneLine(predicateSql, name)
    val prev = requireLatest(spark, dir)
    val snap = snapshot(spark, dir, prev)
    require(!snap.constraints.exists(_._1.equalsIgnoreCase(name)),
      s"constraint '$name' already exists")
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    val violating = readVersion(spark, dir, prev)
      .filter(not(coalesce(expr(predicateSql), lit(true))))
    require(violating.isEmpty,
      s"cannot add CHECK constraint '$name' ($predicateSql): existing rows violate it " +
        s"— e.g. ${violating.head()}")
    commitChild(spark, dir, snap, Seq(addOp(ConstraintEntry(name, predicateSql))))
  }

  /** `ALTER TABLE … DROP CONSTRAINT`'s role: metadata-only removal.
    * Returns the new version, or None when no such constraint exists
    * (the caller decides whether that is an error — IF EXISTS). */
  def dropCheckConstraint(spark: SparkSession, dir: String, name: String): Option[Int] = {
    val snap = snapshot(spark, dir, requireLatest(spark, dir))
    if (!snap.constraints.exists(_._1.equalsIgnoreCase(name))) None
    else Some(commitChild(spark, dir, snap, Seq(s"-constraint:$name")))
  }

  /** The changes of ONE SQL `ALTER TABLE` statement, to be applied as
    * ONE metadata-only manifest commit by [[alterTableAtomic]].
    * `dropChecks` carries (name, ifExists). */
  final case class AlterSpec(addCols: Seq[StructField] = Seq.empty,
                             dropCols: Seq[String] = Seq.empty,
                             addChecks: Seq[(String, String)] = Seq.empty,
                             dropChecks: Seq[(String, Boolean)] = Seq.empty,
                             setNotNull: Seq[String] = Seq.empty,
                             dropNotNull: Seq[String] = Seq.empty,
                             // ALTER COLUMN … TYPE: metadata-only widenings
                             // ([[legalWidening]]); (column, new type)
                             widenCols: Seq[(String, org.apache.spark.sql.types.DataType)] =
                               Seq.empty,
                             // ALTER COLUMN … SET/DROP DEFAULT: the
                             // CURRENT_DEFAULT field-metadata update
                             // (None = drop); EXISTS_DEFAULT never moves
                             setDefaults: Seq[(String, Option[String])] = Seq.empty) {
    def isEmpty: Boolean =
      addCols.isEmpty && dropCols.isEmpty && addChecks.isEmpty &&
        dropChecks.isEmpty && setNotNull.isEmpty && dropNotNull.isEmpty &&
        widenCols.isEmpty && setDefaults.isEmpty
  }

  /** The column names a CHECK predicate reads (top-level attributes of
    * the parsed expression, lower-cased). */
  private def constraintRefCols(spark: SparkSession, sql: String): Set[String] =
    spark.sessionState.sqlParser.parseExpression(sql).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.head.toLowerCase
    }.toSet

  /** Rewrite a stored CHECK predicate's references from one LOGICAL
    * column name to another (the constraint-follows-rename seam):
    * parse, rename the attribute heads, re-render. The predicate text
    * is logical by contract, so a rename only ever touches it here. */
  private def renameInConstraintSql(spark: SparkSession, sql: String,
                                    from: String, to: String): String =
    spark.sessionState.sqlParser.parseExpression(sql).transform {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if a.nameParts.head.equalsIgnoreCase(from) =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
          to +: a.nameParts.tail)
    }.sql

  /** Apply one ALTER TABLE statement's changes — column adds/drops and
    * CHECK constraint adds/drops — as ONE manifest commit, with EVERY
    * refusal condition checked BEFORE anything commits. The per-change
    * commit shape ([[addColumns]] then [[dropColumns]] then constraint
    * changes) can refuse mid-sequence and leave the statement durably
    * HALF-APPLIED (columns added, constraint missing); a statement is
    * atomic or it is nothing. Returns the committed version, or None
    * for an empty spec. Semantics match the individual operations:
    * drops resolve against the PRE-alter schema, an added constraint
    * must hold on the existing rows (added columns read as null —
    * NULL passes, the SQL CHECK contract), and the usual guards apply
    * (partition / dv-key / constraint-referenced columns cannot be
    * dropped unless the referencing constraint is dropped in the SAME
    * statement). */
  def alterTableAtomic(spark: SparkSession, dir: String, alter: AlterSpec): Option[Int] = {
    if (alter.isEmpty) return None
    val prev = requireLatest(spark, dir)
    val snap = snapshot(spark, dir, prev)
    val prior = schemaOf(spark, snap)
    val partCols = snap.partitionCols
    val dvKeys = (snap.dvDirs.map(_._1) ++ snap.scopedDvs.map(_._1)).toSet
    val existingChecks = snap.constraints.map(ConstraintEntry.tupled)
    // ── validate EVERYTHING first; commit once at the end ──
    // constraint drops: strict names must exist
    val dropCheckNames = alter.dropChecks.flatMap { case (n, ifExists) =>
      val found = existingChecks.exists(_.name.equalsIgnoreCase(n))
      if (found) Some(n)
      else if (ifExists) None
      else throw new IllegalArgumentException(
        s"no CHECK constraint '$n' on $dir (have: ${existingChecks.map(_.name).mkString(", ")})")
    }
    val remainingChecks = existingChecks.filterNot(c =>
      dropCheckNames.exists(_.equalsIgnoreCase(c.name)))
    // constraint adds: shape + uniqueness (vs survivors and each other)
    alter.addChecks.foreach { case (n, sql) =>
      require(n.matches("[A-Za-z0-9_]+"),
        s"constraint name must be word-shaped (it is embedded in the manifest), got '$n'")
      requireOneLine(sql, n)
      require(!remainingChecks.exists(_.name.equalsIgnoreCase(n)),
        s"constraint '$n' already exists")
    }
    require(alter.addChecks.map(_._1.toLowerCase).distinct.length == alter.addChecks.length,
      s"duplicate constraint names in ${alter.addChecks.map(_._1).mkString(",")}")
    // the column mapping: user-facing names in this spec are LOGICAL;
    // the schema line, stats, dv keys and notnull lines are PHYSICAL
    val cmap = snap.colMap
    val priorLogical = toLogicalSchema(prior, cmap)
    // column adds: no collisions with the prior schema, the physical
    // image (the resurrect guard — see addColumns), or each other
    val priorLower = priorLogical.fieldNames.map(_.toLowerCase).toSet
    alter.addCols.foreach { f =>
      require(!priorLower.contains(f.name.toLowerCase),
        s"column '${f.name}' already exists")
      require(!cmap.values.exists(_.equalsIgnoreCase(f.name)),
        s"'${f.name}' is the physical storage name of a renamed column — " +
          "add it under a different name")
    }
    require(alter.addCols.map(_.name.toLowerCase).distinct.length == alter.addCols.length,
      s"duplicate names in ${alter.addCols.map(_.name).mkString(",")}")
    // column drops: resolve against the PRE-alter schema; the guards
    // consider the POST-alter constraint set (dropping a constraint
    // and the column it reads in one statement is legal)
    val resolvedDrops = alter.dropCols.map { n =>
      val l = priorLogical.fields.map(_.name).find(_.equalsIgnoreCase(n)).getOrElse(
        throw new IllegalArgumentException(
          s"no column '$n' in ${priorLogical.fieldNames.mkString(",")}"))
      (l, cmap.getOrElse(l, l))
    }
    val finalChecks = remainingChecks ++
      alter.addChecks.map { case (n, sql) => ConstraintEntry(n, sql) }
    val checkRefs = finalChecks.map(c => c.name -> constraintRefCols(spark, c.predicateSql))
    resolvedDrops.foreach { case (l, n) =>
      require(!partCols.contains(n), s"cannot drop partition column '$n'")
      require(!dvKeys.contains(n),
        s"cannot drop '$n': it keys a live deletion vector — compact or " +
          "overwrite to apply the mask physically first")
      checkRefs.find(_._2.contains(l.toLowerCase)).foreach { case (cn, _) =>
        throw new IllegalArgumentException(
          s"cannot drop '$l': CHECK constraint '$cn' reads it — DROP CONSTRAINT first")
      }
      // a GENERATED column's dependencies are load-bearing the same
      // way — unless the generated column drops in the SAME statement
      generatedColumnsOf(prior).find { case (g, sql) =>
        !g.equalsIgnoreCase(n) &&
          !resolvedDrops.exists(_._2.equalsIgnoreCase(g)) &&
          constraintRefCols(spark, sql).contains(l.toLowerCase)
      }.foreach { case (g, _) =>
        throw new IllegalArgumentException(
          s"cannot drop '$l': GENERATED column '${cmap.map(_.swap).getOrElse(g, g)}' " +
            "is computed from it — drop the generated column first (or in the " +
            "same statement)")
      }
    }
    // type widenings: resolve (logical) names, require a legal
    // metadata-only promotion, and guard the columns whose machinery
    // is typed to the files — dv keys (the mask join and the DSv2 key
    // pull read the dv parquet under its written type) widen only
    // after the mask applies physically
    val widenByPhys: Map[String, org.apache.spark.sql.types.DataType] =
      alter.widenCols.map { case (n, to) =>
        val l = priorLogical.fields.map(_.name).find(_.equalsIgnoreCase(n)).getOrElse(
          throw new IllegalArgumentException(
            s"no column '$n' in ${priorLogical.fieldNames.mkString(",")}"))
        val phys = cmap.getOrElse(l, l)
        val from = prior(phys).dataType
        require(legalWidening(from, to),
          s"cannot change '$l' from $from to $to — metadata-only widenings are " +
            "byte/short/int up the integral ladder or to double (Spark's parquet " +
            "readers promote those natively); anything else rewrites: " +
            "REPLACE TABLE … AS SELECT")
        require(!partCols.contains(phys), s"cannot widen partition column '$l'")
        require(!dvKeys.contains(phys),
          s"cannot widen '$l': it keys a live deletion vector — compact or " +
            "overwrite to apply the mask physically first")
        // integral widenings keep the blooms valid (values hash as
        // longs either way); a double is no longer hashable
        require(to != org.apache.spark.sql.types.DoubleType ||
            !snap.bloomDecls.exists(_.col.equalsIgnoreCase(phys)),
          s"cannot widen bloom-indexed '$l' to double — drop_bloom first")
        phys -> to
      }.toMap
    // final schema (PHYSICAL names): data columns minus drops plus
    // adds, widenings applied, partition columns last (the partitioned
    // read order)
    // SET/DROP DEFAULT rewrites only the CURRENT_DEFAULT metadata key
    // (future inserts); EXISTS_DEFAULT — what files pre-dating the
    // column read — stays pinned to its ADD-time value
    val defaultByPhys: Map[String, Option[String]] =
      alter.setDefaults.map { case (n, sql) =>
        val l = priorLogical.fields.map(_.name).find(_.equalsIgnoreCase(n)).getOrElse(
          throw new IllegalArgumentException(
            s"no column '$n' in ${priorLogical.fieldNames.mkString(",")}"))
        cmap.getOrElse(l, l) -> sql
      }.toMap
    def applyDefault(f: StructField): StructField =
      defaultByPhys.get(f.name) match {
        case None => f
        case Some(sqlOpt) =>
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata).remove("CURRENT_DEFAULT")
          sqlOpt.foreach(s => mb.putString("CURRENT_DEFAULT", s))
          f.copy(metadata = mb.build())
      }
    val dropSet = resolvedDrops.map(_._2).toSet
    val (dataF, partF) = prior.fields.partition(f => !partCols.contains(f.name))
    val keptData = dataF.filterNot(f => dropSet.contains(f.name))
      .map(f => widenByPhys.get(f.name).map(t => f.copy(dataType = t)).getOrElse(f))
      .map(applyDefault)
    val finalSchema = asNullable(StructType(keptData ++ alter.addCols ++ partF))
    require(finalSchema.fields.nonEmpty, "cannot drop every column")
    val finalMap = cmap.filter { case (_, p) => finalSchema.fieldNames.contains(p) }
    val finalLogical = toLogicalSchema(finalSchema, finalMap)
    // added constraints must resolve against the FINAL schema …
    val finalLower = finalLogical.fieldNames.map(_.toLowerCase).toSet
    alter.addChecks.foreach { case (n, sql) =>
      val unknown = constraintRefCols(spark, sql) -- finalLower
      require(unknown.isEmpty,
        s"CHECK constraint '$n' ($sql) references unknown column(s) ${unknown.mkString(",")}")
    }
    // … and hold on the EXISTING rows (added columns read as null;
    // NULL passes — the SQL CHECK contract)
    if (alter.addChecks.nonEmpty) {
      import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
      val base = alter.addCols.foldLeft(readVersion(spark, dir, prev)) { (df, f) =>
        df.withColumn(f.name, lit(null).cast(f.dataType))
      }
      alter.addChecks.foreach { case (n, sql) =>
        val violating = base.filter(not(coalesce(expr(sql), lit(true))))
        require(violating.isEmpty,
          s"cannot add CHECK constraint '$n' ($sql): existing rows violate it " +
            s"— e.g. ${violating.head()}")
      }
    }
    // NOT NULL changes, against the final schema. SET validates the
    // existing rows — from manifest stats in the provable case (every
    // data dir's null count for the column is a recorded zero), one
    // masked scan otherwise; a SET on a column just added in the same
    // statement passes only on an empty table (existing rows would
    // null-backfill it). DROP NOT NULL on a nullable column is a
    // no-op, like Delta's.
    val existingNotNull = snap.notNull.map(NotNullEntry)
    // (logical, physical) pairs: the lines and the stats lookup speak
    // physical; the validation scan (readVersion) serves logical
    val resolvedSet = alter.setNotNull.map { n =>
      val l = finalLogical.fieldNames.find(_.equalsIgnoreCase(n)).getOrElse(
        throw new IllegalArgumentException(
          s"no column '$n' in ${finalLogical.fieldNames.mkString(",")}"))
      (l, finalMap.getOrElse(l, l))
    }.filterNot { case (_, p) => existingNotNull.exists(_.col.equalsIgnoreCase(p)) }
    val resolvedDropNn = alter.dropNotNull.flatMap { n =>
      val p = finalMap.collectFirst {
        case (l, phys) if l.equalsIgnoreCase(n) => phys }.getOrElse(n)
      existingNotNull.map(_.col).find(_.equalsIgnoreCase(p))
    }
    require(resolvedSet.map(_._2).toSet.intersect(resolvedDropNn.toSet).isEmpty,
      "a column cannot be both SET and DROP NOT NULL in one statement")
    if (resolvedSet.nonEmpty) {
      def provablyNoNulls(c: String) = snap.dataDirNames.forall(d =>
        snap.stats.get(d).exists(st =>
          st.rows == 0 || st.cols.get(c).exists(_.nulls.contains(0L))))
      val unproven = resolvedSet.filterNot { case (_, p) => provablyNoNulls(p) }
      if (unproven.nonEmpty) {
        import org.apache.spark.sql.functions.{col => fcol, lit}
        val base = alter.addCols.foldLeft(readVersion(spark, dir, prev)) { (df, f) =>
          df.withColumn(f.name, lit(null).cast(f.dataType))
        }
        unproven.foreach { case (l, _) =>
          require(base.filter(fcol(l).isNull).isEmpty,
            s"cannot SET NOT NULL on '$l': existing rows hold nulls — " +
              s"backfill them first (UPDATE … SET $l = … WHERE $l IS NULL)")
        }
      }
    }
    // ── the single commit ──
    // a dropped column takes its NOT NULL line with it, like Delta
    val droppedNn = existingNotNull.filter(n =>
      dropSet.exists(_.equalsIgnoreCase(n.col)) ||
        resolvedDropNn.exists(_.equalsIgnoreCase(n.col)))
    val mapShrank = finalMap != cmap
    // dropping a bloom-indexed column retires ITS index with it
    // (like a NOT NULL line): an orphaned declaration would make every
    // later write try to bloom a column its files no longer carry.
    // Other declared columns' indexes stay live.
    val droppedBloomCols = snap.bloomDecls.map(_.col).filter(c => dropSet.exists(_.equalsIgnoreCase(c)))
    // a dropped identity column takes its high-water mark with it (a
    // stale mark would collide with a later column of the same name)
    val droppedHwm = snap.lines.collect {
      case h: HwmEntry if dropSet.exists(_.equalsIgnoreCase(h.col)) => h.col
    }
    val mapOps: Seq[String] =
      if (!mapShrank) Seq.empty
      else if (finalMap.isEmpty) Seq("-colmap")
      else Seq(addOp(ColMapEntry(finalMap.toSeq.sortBy(_._1))))
    Some(commitChild(spark, dir, snap,
      (addOp(SchemaEntry(finalSchema)) +:
        (dropCheckNames.map(n => s"-constraint:$n") ++
          droppedNn.map(n => s"-notnull:${n.col}") ++
          droppedHwm.map(c => s"-hwm:$c") ++ mapOps ++
          droppedBloomCols.map(c => s"-bloomcol:$c"))) ++
        alter.addChecks.map { case (n, sql) => addOp(ConstraintEntry(n, sql)) } ++
        resolvedSet.map { case (_, p) => addOp(NotNullEntry(p)) }))
  }

  /** FLOAT → DOUBLE widening — the ONE step on the type ladder that
    * cannot be metadata-only (a float's canonical decimal re-parsed
    * as double differs from the widened value in the last bits, which
    * would break the skipping contract) — served as a COPY-ON-WRITE
    * REWRITE: every float is exactly representable as a double, so
    * the cast preserves values bit-for-bit; the rewrite is an
    * OVERWRITE commit (its own version — time travel to the FLOAT
    * schema keeps working), deletion masks apply physically on the
    * way through, and the new files' footer harvest records EXACT
    * double stats. Deliberately a data job, priced like one. */
  def widenFloatToDoubleRewrite(spark: SparkSession, dir: String, col: String): Int = {
    val prev = requireLatest(spark, dir)
    val snap = snapshot(spark, dir, prev)
    val logical = snap.logicalSchema
      .getOrElse(throw new IllegalArgumentException(s"no recorded schema at $dir"))
    val l = logical.fieldNames.find(_.equalsIgnoreCase(col)).getOrElse(
      throw new IllegalArgumentException(
        s"no column '$col' in ${logical.fieldNames.mkString(",")}"))
    require(logical(l).dataType == org.apache.spark.sql.types.FloatType,
      s"'$l' is ${logical(l).dataType}, not FLOAT — the metadata-only widenings " +
        "go through ALTER COLUMN … TYPE / alterTableAtomic")
    val partCols = snap.partitionCols
    val df = readVersion(spark, dir, prev)
      .withColumn(l, org.apache.spark.sql.functions.col(l).cast("double"))
    writeVersion(df, dir, SaveMode.Overwrite, partCols)
  }

  /** Delta `replaceWhere` / Spark SQL `INSERT INTO … REPLACE WHERE`'s
    * role: ONE atomic commit that removes every row matching
    * `predicateSql` and inserts `df` — the reload-a-slice primitive
    * (re-land one day of a date-partitioned table, re-score one
    * source's documents) that two commits (DELETE + append) cannot
    * give a concurrent reader, who must never observe the slice
    * half-gone or doubled.
    *
    * The inserted rows must THEMSELVES satisfy the predicate —
    * otherwise "replace where X" would also smuggle rows outside X
    * into the table (Delta's replaceWhere constraint check). Enforced
    * IN the write pass via raise_error: a mis-scoped reload refuses
    * before a byte is referenced, with no extra validation job.
    *
    * Two selection tiers, by predicate shape:
    *   - PARTITION-ONLY predicate on a partitioned chain: the exact
    *     file set comes from the manifest's partition values
    *     ([[partitionScopedFiles]]) — the replaced files DROP with
    *     zero data read; the commit is remove(files)+add(new dir).
    *     This is the 100 TB path: replacing one partition of a
    *     million-file table reads nothing outside the new data.
    *   - general predicate: one-sided dir-stats pruning selects the
    *     candidate dirs ([[planDataDirs]] — any dir that COULD hold a
    *     matching row); their NON-matching rows ride into the
    *     replacement dir (masked read: deleted rows do not
    *     resurrect), everything else carries verbatim through the
    *     file-granular commit. NULL predicate rows are kept, standard
    *     WHERE semantics. Conjuncts the pushdown translator cannot
    *     carry only widen the candidate set — never the semantics.
    *
    * CHECK constraints, GENERATED columns, NOT NULL, blooms, identity
    * marks, and the dv-snapshot conflict check all apply through
    * [[commitFileRewrite]], exactly as for any row-level rewrite; the
    * commit commutes with concurrent appends to untouched files and
    * surfaces (not retries) a stale snapshot. Streams over the table
    * see a non-append commit, as they must.
    *
    * Returns the committed version; None when the statement was a
    * complete no-op (no row matched AND `df` was empty). */
  def replaceWhere(df: DataFrame, dir: String, predicateSql: String,
                   // non-empty = RECORD the change feed in the same commit
                   // (writeVersionWithChangeFeed's role for the replace):
                   // the diff is known AT WRITE TIME — pre-image rows are the
                   // predicate's matches, post-image rows are the insert — so
                   // a bulk reload is exactly the commit where deriving CDF
                   // later (O(both versions)) is most wasteful
                   keys: Seq[String] = Seq.empty): Option[Int] = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not, raise_error, when, col => fcol}
    val spark = df.sparkSession
    val v0 = latestVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"replaceWhere needs an existing table at $dir — write version 0 first"))
    val snap = snapshot(spark, dir, v0)
    val cmap = snap.colMap
    val physSchema = snap.schema.getOrElse(
      throw new IllegalArgumentException(
        s"replaceWhere at $dir needs a recorded schema (pre-schema manifest)"))
    val logicalSchema = toLogicalSchema(physSchema, cmap)
    val partCols = snap.partitionCols
    val (fs, root) = fsFor(spark, dir)

    // resolve the predicate against the table's LOGICAL schema once —
    // a typo'd column refuses here, before any write
    val probe = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], logicalSchema)
      .filter(expr(predicateSql))
    val resolvedCond = probe.queryExecution.analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.headOption.getOrElse(throw new IllegalArgumentException(
      s"could not resolve replaceWhere predicate '$predicateSql'"))
    def conjunctsOf(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        conjunctsOf(l) ++ conjunctsOf(r)
      case x => Seq(x)
    }
    val pushed = conjunctsOf(resolvedCond).flatMap(
      org.apache.spark.sql.execution.datasources.GraftFilterShim.translate(_))

    val partitionOnly = partCols.nonEmpty && {
      val refs = spark.sessionState.sqlParser.parseExpression(predicateSql).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.mkString(".")
      }
      refs.nonEmpty && refs.forall(n => partCols.exists(_.equalsIgnoreCase(n)))
    }

    val (removed: Map[String, Set[String]], survivors: Option[DataFrame]) =
      if (partitionOnly)
        (partitionScopedFiles(spark, dir, v0, predicateSql), None)
      else {
        val candNames = planDataDirs(spark, dir, v0, pushed)
        require(candNames.forall(n => snap.stats.get(n).exists(_.files.nonEmpty)),
          s"replaceWhere at $dir needs manifest file lists for every candidate " +
            "dir — run backfillStats to upgrade pre-file-list manifests")
        val rm = candNames.map(n => n -> snap.fileNames(n)).toMap
        val surv =
          if (candNames.isEmpty) None
          else Some(readVersionFrom(spark, snap, candNames.toSet)
            .filter(not(coalesce(expr(predicateSql), lit(false)))))
        (rm, surv)
      }

    // the shared entry prep runs FIRST — fill omitted GENERATED
    // columns and assign identity values, still in LOGICAL names — so
    // a predicate referencing a generated column the insert omitted
    // (a generated-partition reload, typically) guards against the
    // FILLED value instead of failing analysis
    val (filled, idBasis) = prepareWrite(df, dir, translate = false)
    // the inserted rows must satisfy the predicate — raise_error
    // fires inside the single write pass on the first violator. The
    // guard anchors on a column the prepared rows actually CARRY (a
    // df missing a generated column's DEPENDENCIES can still leave
    // the column absent)
    val guardCol = logicalSchema.fields
      .find(f => filled.columns.exists(_.equalsIgnoreCase(f.name))).map(_.name)
      .getOrElse(throw new IllegalArgumentException(
        s"replaceWhere at $dir: the insert shares no column with the table schema " +
          s"(${logicalSchema.fieldNames.mkString(", ")})"))
    val guarded = filled.withColumn(guardCol,
      when(coalesce(expr(predicateSql), lit(false)), fcol(guardCol))
        .otherwise(raise_error(lit(
          s"replaceWhere at $dir: an inserted row does not satisfy the " +
            s"predicate ($predicateSql); nothing was committed"))
          .cast(logicalSchema(guardCol).dataType)))
    val physNew = toPhysical(guarded, cmap).select(physSchema.fields.map(f =>
      fcol(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
    val payload = survivors match {
      case None    => physNew
      case Some(s) =>
        toPhysical(s, cmap)
          .select(physSchema.fieldNames.map(fcol).toSeq: _*)
          .unionByName(physNew)
    }

    val staged = stageDataDir(spark, dir)
    val stagedPath = new Path(root, staged)
    val w = payload.write.mode(SaveMode.ErrorIfExists)
    (if (partCols.isEmpty) w else w.partitionBy(partCols: _*))
      .parquet(stagedPath.toString)

    // requested CDF capture: the classified diff of the SLICE — rows
    // matching the predicate at v0 (masked read: deleted rows were
    // never served, so they emit no delete) against the slice's NEW
    // content read back from the STAGED bytes (not a re-evaluation of
    // the insert plan, whose identity assignment is not deterministic
    // across jobs). Survivors don't match the predicate, so the
    // staged-side filter isolates exactly the inserted slice; untouched
    // rows appear on neither side and emit nothing. Invisible until
    // the manifest lands, like the data dir.
    val feedDir = if (keys.isEmpty) None else {
      keys.foreach(k => require(k.matches("[A-Za-z0-9_]+"),
        s"key column must be word-shaped (it is embedded in the manifest), got '$k'"))
      val nonce = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      val chDir = f"v${v0 + 1}%08d_changes_$nonce"
      val stagedNew = toLogicalDf(
          spark.read.schema(physSchema).parquet(stagedPath.toString), cmap)
        .select(logicalSchema.fieldNames.map(fcol).toSeq: _*)
        .filter(coalesce(expr(predicateSql), lit(false)))
      diffFeedFrames(
        readVersion(spark, dir, v0).filter(expr(predicateSql)), stagedNew, keys)
        .write.mode(SaveMode.ErrorIfExists).parquet(new Path(root, chDir).toString)
      Some((keys, chDir))
    }

    try commitFileRewrite(spark, dir, removed, Some(staged), partCols,
      snap.dvSnapshot, identityBasis = idBasis,
      replaceConflict = Some((snap.dataDirNames.toSet, pushed, predicateSql)),
      changeFeed = feedDir)
    catch { case t: Throwable =>
      fs.delete(stagedPath, true)
      feedDir.foreach { case (_, nd) => fs.delete(new Path(root, nd), true) }
      throw t
    }
  }

  /** Render pushed-down overwrite filters as ONE predicate-SQL string
    * (what [[replaceWhere]] takes — the SQL seam's
    * `INSERT INTO … REPLACE WHERE` hands the store `sources.Filter`s).
    * None when a filter shape or literal the store cannot re-apply
    * exactly is present: the seam then refuses at ANALYSIS time
    * rather than mis-scope a replace. Rendered by hand — a filter
    * tree is tiny and closed, and the predicate must round-trip
    * through the SQL parser byte-faithfully. */
  private[graft] def filtersPredicateSql(
      filters: Seq[org.apache.spark.sql.sources.Filter]): Option[String] = {
    import org.apache.spark.sql.sources._
    // string literals re-parse under Spark's DEFAULT lexer
    // (escapedStringLiterals=false), which interprets backslash
    // escapes — a raw backslash must double or 'a\tb' round-trips to
    // a different string and the replace silently mis-scopes. Quote
    // doubling ('') is the lexer's other escape; backslashes double
    // FIRST (the quote escape introduces none).
    def str(s: String): String =
      "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"
    // timestamp values render in UTC WITH an explicit offset: a bare
    // `TIMESTAMP '…'` literal re-reads under whatever
    // spark.sql.session.timeZone the re-parse runs in, shifting the
    // predicate when it differs from the writer's zone
    def ts(i: java.time.Instant): String =
      "TIMESTAMP '" + java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
        .withZone(java.time.ZoneOffset.UTC).format(i) + "+00:00'"
    def lit(v: Any): String = v match {
      case null                  => "NULL"
      case s: String             => str(s)
      case s: org.apache.spark.unsafe.types.UTF8String => str(s.toString)
      case d: java.sql.Date      => s"DATE '$d'"
      case d: java.time.LocalDate => s"DATE '$d'"
      case t: java.sql.Timestamp => ts(t.toInstant)
      case t: java.time.Instant  => ts(t)
      case b: Boolean            => b.toString
      case n @ (_: Byte | _: Short | _: Int | _: Long) => n.toString
      case n @ (_: Float | _: Double) => s"CAST($n AS DOUBLE)"
      case n: java.math.BigDecimal => n.toPlainString
      case n: BigDecimal         => n.underlying.toPlainString
      case other => throw new IllegalArgumentException(
        s"literal ${other.getClass.getName} does not render to predicate SQL")
    }
    def col(a: String): String =
      if (a.contains(".") || a.contains("`")) throw new IllegalArgumentException(
        s"nested or backquoted attribute '$a' does not render to predicate SQL")
      else "`" + a + "`"
    def render(f: Filter): String = f match {
      case EqualTo(a, v)            => s"${col(a)} = ${lit(v)}"
      case EqualNullSafe(a, v)      => s"${col(a)} <=> ${lit(v)}"
      case GreaterThan(a, v)        => s"${col(a)} > ${lit(v)}"
      case GreaterThanOrEqual(a, v) => s"${col(a)} >= ${lit(v)}"
      case LessThan(a, v)           => s"${col(a)} < ${lit(v)}"
      case LessThanOrEqual(a, v)    => s"${col(a)} <= ${lit(v)}"
      case In(a, vs)                => s"${col(a)} IN (${vs.map(lit).mkString(", ")})"
      case IsNull(a)                => s"${col(a)} IS NULL"
      case IsNotNull(a)             => s"${col(a)} IS NOT NULL"
      case StringStartsWith(a, p)   =>
        // a prefix holding LIKE metacharacters (or a backslash, which
        // the SQL parser would re-interpret) cannot round-trip through
        // predicate text exactly — refuse rather than widen the scope
        if (p.exists(c => c == '%' || c == '_' || c == '\\'))
          throw new IllegalArgumentException(
            s"prefix '$p' holds LIKE metacharacters; it does not render to predicate SQL")
        s"${col(a)} LIKE ${lit(p + "%")}"
      case And(l, r)                => s"(${render(l)} AND ${render(r)})"
      case Or(l, r)                 => s"(${render(l)} OR ${render(r)})"
      case Not(c)                   => s"(NOT ${render(c)})"
      case other => throw new IllegalArgumentException(
        s"filter $other does not render to predicate SQL")
    }
    if (filters.isEmpty) None
    else try Some(filters.map(render).mkString("(", " AND ", ")"))
    catch { case _: IllegalArgumentException => None }
  }

  case class PruneStats(versionsDropped: Seq[Int], dirsDeleted: Seq[String],
                        dirsSkippedYoung: Seq[String] = Seq.empty)

  /** Delta `VACUUM`'s retention half for the versioned store: drop all
    * but the newest `keepLast` manifests, then delete every data dir
    * no SURVIVING manifest references. Append-chain dirs shared with
    * a kept version survive. Idempotent.
    *
    * Orphan dirs — nonce'd dirs NO manifest (kept or dropped) ever
    * referenced — are reclaimed only once older than `orphanMinAgeMs`
    * (Delta VACUUM's retention-window role): a young unreferenced dir
    * may be an IN-FLIGHT writer between its data write and manifest
    * commit, and reclaiming it would make that writer's version
    * unreadable the moment it commits. Dirs referenced by a DROPPED
    * manifest were committed history and are reclaimed regardless of
    * age. Crashed staging files in `_versions/` (both protocols'
    * prefixes) get the same age guard — a young one may be a commit
    * in flight. */
  /** `dryRun` reports exactly what a live call WOULD drop — versions,
    * dead dirs, young-orphan skips — while writing and deleting
    * NOTHING (not even the boundary checkpoint): the operator's
    * pre-flight for a retention policy change. */
  def pruneVersions(spark: SparkSession, dir: String, keepLast: Int,
                    orphanMinAgeMs: Long = 15 * 60 * 1000L,
                    dryRun: Boolean = false): PruneStats = {
    require(keepLast >= 1, "must keep at least one version")
    val (fs, root) = fsFor(spark, dir)
    // a never-written table (or bare root with no _versions) has
    // nothing to prune — listing it would throw FileNotFoundException,
    // contradicting the idempotent/safe-any-time contract
    if (!fs.exists(root) || !fs.exists(new Path(root, VDIR)))
      return PruneStats(Seq.empty, Seq.empty)
    val all = versions(spark, dir)
    val (drop, keep) = all.splitAt(math.max(0, all.length - keepLast))
    // the oldest KEPT version may be a delta that resolves through the
    // manifests about to be dropped — materialize its checkpoint
    // sidecar FIRST (derived data: safe to create any time, atomic via
    // the same put-if-absent primitive as every commit), so retention
    // keeps its exact keepLast contract without breaking resolution
    if (!dryRun && drop.nonEmpty) keep.headOption.foreach { b =>
      if (manifestParent(spark, dir, b).nonEmpty &&
          !fs.exists(checkpointPath(dir, b)))
        writeCheckpoint(spark, dir, b, snapshot(spark, dir, b).lines)
    }
    // live names span BOTH dir kinds: a deletion-vector dir referenced
    // by a surviving manifest is load-bearing (reclaiming it would
    // resurrect deleted rows)
    def dirNames(v: Int) = {
      val s = snapshot(spark, dir, v)
      s.liveDirNames ++ s.changes.map(_.name) // a recorded feed is live state too
    }
    val live = keep.flatMap(dirNames).toSet
    // names committed history once referenced — captured BEFORE the
    // manifests holding the references are deleted
    val droppedRefs = drop.flatMap(dirNames).toSet
    // newest-dropped first: a crash mid-prune then leaves the
    // surviving prefix a complete chain (a delta whose parent had
    // been deleted first would be unresolvable until the next prune)
    if (!dryRun) {
      drop.reverse.foreach { v =>
        fs.delete(manifestPath(dir, v), false)
        fs.delete(checkpointPath(dir, v), false)
      }
      Snapshot.evict(spark, dir, drop)
    }
    val now = System.currentTimeMillis()
    val candidates = fs.listStatus(root)
      .filter(st => st.getPath.getName.matches("""v\d{8}_(data|dv|pdv|changes)(_[0-9a-f]{8})?""") &&
        !live.contains(st.getPath.getName))
    val (dead, young) = candidates.partition(st =>
      droppedRefs.contains(st.getPath.getName) ||
        now - st.getModificationTime >= orphanMinAgeMs)
    if (!dryRun) {
      // the reclaim is the one O(dead dirs) byte-touching pass of a
      // retention run: below the threshold the driver deletes
      // directly (no job for a handful of dirs); at or above it the
      // deletes dispatch as a Spark job — a 100 TB table's first
      // vacuum after a retention-policy change reclaims tens of
      // thousands of dirs, and a driver RPC loop over them is the
      // same wall the footer harvest already hit
      Skipping.onDriverOrJob(spark, dead.map(_.getPath.toString).toSeq,
          s"graft: distributed vacuum reclaim (${dead.length} dirs)") { (conf, p) =>
        new Path(p).getFileSystem(conf).delete(new Path(p), true) }
      // staging files from commits that crashed between create and
      // publish are invisible to readers but never self-clean; both
      // both commit branches' staging prefixes are swept (`.tmp-` =
      // stage-and-rename, `.put-` = the local hardlink branch)
      fs.listStatus(new Path(root, VDIR))
        .filter { st =>
          val n = st.getPath.getName
          (n.startsWith(".tmp-") || n.startsWith(".put-")) &&
            now - st.getModificationTime >= orphanMinAgeMs
        }
        .foreach(st => fs.delete(st.getPath, false))
      // sidecars referenced by NO surviving manifest are dead (a
      // trim, re-declare or overwrite orphaned them, or their versions
      // were just dropped), and so are a crashed sidecar write's
      // `.tmp-` leftovers. The age guard covers the one race: a
      // concurrent commit writes its sidecar BEFORE claiming its
      // manifest, so a young unreferenced sidecar may be a commit in
      // flight. Only LOCAL files are candidates — a cloned bloom ref
      // points into the SOURCE's tree, which this listing never sees.
      val referenced = keep.iterator.flatMap { v =>
        val s = snapshot(spark, dir, v)
        s.bloomEntries.flatMap(_.sidecar) ++ s.stats.valuesIterator.flatMap(_.sidecar)
      }.toSet
      Seq(bloomsDirPath(root), statsDirPath(root)).filter(fs.exists(_))
        .flatMap(fs.listStatus(_))
        .filter(st => !referenced.contains(
          fs.makeQualified(st.getPath).toUri.getPath) &&
          now - st.getModificationTime >= orphanMinAgeMs)
        .foreach(st => fs.delete(st.getPath, false))
    }
    PruneStats(drop, dead.map(_.getPath.getName).toSeq,
      young.map(_.getPath.getName).toSeq)
  }
}

/** Delta TahoeFileIndex's role: a `FileIndex` whose every file status
  * is served from the MANIFEST's recorded file lists — the read plans
  * with ZERO filesystem metadata calls (no directory listing, no
  * per-file status), which at 10⁶ files on an object store is the
  * difference between a plan and a LIST storm. Consequences, both
  * spec-pinned:
  *
  *   - the manifest is the authority down to the FILE level: a stray
  *     file that somehow lands in a data dir is invisible to reads
  *     (dir-listing reads would serve it);
  *   - `listFiles` applies the manifest's per-dir stats to the PUSHED
  *     data filters, so ANY `.filter()` over a versioned read skips
  *     provably-empty dirs at execution planning — data skipping
  *     engages on plain reads, not just the explicit
  *     [[Versioned.readVersionSkipping]] API.
  *
  * File mtimes are reported as 0 (the manifest does not record them;
  * nothing on the scan path consumes them). */
private[ext] class ManifestFileIndex(tableDir: Path, schema: StructType,
                                     dirs: Seq[Snapshot.StatsEntry],
                                     override val partitionSchema: StructType =
                                       StructType(Nil),
                                     // declared bloom columns (PHYSICAL — the pushed
                                     // filters here already are) + per-(col, dir) blobs
                                     bloomCols: Seq[String] = Seq.empty,
                                     blooms: Map[(String, String), Map[String, Array[Byte]]] =
                                       Map.empty)
  extends org.apache.spark.sql.execution.datasources.FileIndex {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.execution.datasources.{FileStatusWithMetadata, PartitionDirectory}

  private val perDir: Seq[(Snapshot.StatsEntry, Seq[(Snapshot.FileStats, FileStatusWithMetadata)])] =
    dirs.map { st =>
      val dirPath = new Path(tableDir, st.name)
      (st, st.files.map { f =>
        (f, FileStatusWithMetadata(new org.apache.hadoop.fs.FileStatus(
          f.bytes, false, 1, 128L * 1024 * 1024, 0L, new Path(dirPath, f.name)), Map.empty))
      })
    }

  override def rootPaths: Seq[Path] = Seq(tableDir)
  override def sizeInBytes: Long = perDir.iterator.flatMap(_._2).map(_._2.getLen).sum
  override def inputFiles: Array[String] =
    perDir.flatMap(_._2).map(_._2.getPath.toString).toArray
  override def refresh(): Unit = ()

  /** A file's partition values, rebuilt from its recorded min=max
    * stats (the partitioned harvest records each partition value as an
    * exact bound; all-null stats = the hive null partition). The key
    * form groups files; the row form is what Spark's reader appends
    * to every row of the group. */
  private def partKey(f: Snapshot.FileStats): Seq[Option[String]] =
    partitionSchema.fields.map(pf => f.cols.get(pf.name).flatMap(_.min)).toSeq

  private def partRow(key: Seq[Option[String]]): InternalRow =
    InternalRow.fromSeq(partitionSchema.fields.zip(key).map {
      case (pf, Some(canon)) => Skipping.canonicalToCatalyst(canon, pf.dataType)
      case (_, None)         => null
    }.toSeq)

  override def listFiles(
      partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[PartitionDirectory] = {
    val pushed = dataFilters.flatMap(f =>
      org.apache.spark.sql.execution.datasources.GraftFilterShim.translate(f))
    // a predicate on the SOURCE of a generated partition column
    // derives a partition predicate (skipping-only, evaluated against
    // the recorded point stats — the original filters stay on the
    // scan, so a shape outside the proven set just derives nothing)
    val translated = pushed ++ Skipping.derivePartitionFilters(
      SparkSession.active, schema, partitionSchema.fieldNames.toSeq, pushed)
    // two-granularity prune, both one-sided: dir bounds first (cheap,
    // one check covering every file of the dir), then each surviving
    // dir's PER-FILE bounds — the level that still cuts when one
    // commit wrote thousands of files spanning the dir's full key
    // range. Files recorded before the per-file-stats format carry no
    // row count and are always read.
    val kept = perDir.filter { case (st, _) =>
      !translated.exists(f => Skipping.excludes(st.rows, st.cols, schema, f))
    }.flatMap { case (st, files) =>
      files.filter { case (fs, _) =>
        (fs.rows.isEmpty ||
          !translated.exists(f => Skipping.excludes(fs.rows.get, fs.cols, schema, f))) &&
        // third granularity: each declared column's per-file bloom
        // (point lookups on interleaved keys — bounds overlap, the
        // bloom still proves absence)
        bloomCols.forall(c =>
          blooms.get((c, st.name)).flatMap(_.get(fs.name)).forall(bits =>
            !translated.exists(f => Bloom.excludes(f, c, bits))))
      }
    }
    if (partitionSchema.isEmpty)
      Seq(PartitionDirectory(InternalRow.empty, kept.map(_._2)))
    else {
      // partitioned: regroup by recorded partition values, then
      // evaluate the pushed PartitionFilters EXACTLY against each
      // group's values (the PartitioningAwareFileIndex contract) —
      // partition pruning from manifest bytes, no directory listing
      val groups = kept.groupBy { case (fs, _) => partKey(fs) }.toSeq
        .sortBy(_._1.map(_.getOrElse("\u0000")).mkString("/"))
      val pruned = if (partitionFilters.isEmpty) groups
      else {
        import org.apache.spark.sql.catalyst.expressions._
        val predicate = partitionFilters.reduce(And)
        val bound = Predicate.createInterpreted(predicate.transform {
          case a: AttributeReference =>
            val i = partitionSchema.fieldIndex(a.name)
            BoundReference(i, partitionSchema.fields(i).dataType, nullable = true)
        })
        groups.filter { case (key, _) => bound.eval(partRow(key)) }
      }
      pruned.map { case (key, files) => PartitionDirectory(partRow(key), files.map(_._2)) }
    }
  }

  override def toString: String =
    s"ManifestFileIndex[$tableDir, ${dirs.length} dirs, ${perDir.map(_._2.length).sum} files" +
      (if (partitionSchema.isEmpty) "]" else s", partitioned by ${partitionSchema.fieldNames.mkString(",")}]")
}

/** The PARTITIONED chains' DSv2 serving index: a
  * [[org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex]]
  * whose partition spec, leaf files, and per-file statistics all come
  * from MANIFEST BYTES — Spark's own partition-discovery machinery
  * refuses this store's layout (sibling nonce'd roots each holding a
  * hive subtree read as CONFLICTING_DIRECTORY_STRUCTURES), and a
  * listing-based index would pay the metadata storm the manifest
  * exists to avoid. Plugged straight into Spark's public
  * `ParquetScanBuilder`, so the SQL tier gets the NATIVE partitioned
  * scan — PartitionFilters pruning, vectorized read, row-group
  * pushdown — planned with zero filesystem metadata calls, plus this
  * store's per-file stats skipping layered on the pruned groups
  * (one-sided as always: pushed filters are still evaluated by the
  * scan). */
private[graft] class ManifestPartitioningIndex(spark: SparkSession, tableDir: Path,
                                               fullSchema: StructType,
                                               partSchema: StructType,
                                               dirs: Seq[Snapshot.StatsEntry],
                                               bloomCols: Seq[String] = Seq.empty,
                                               blooms: Map[(String, String), Map[String, Array[Byte]]] =
                                                 Map.empty)
  extends org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex(
    spark, Map.empty, Some(fullSchema),
    org.apache.spark.sql.execution.datasources.NoopCache) {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.execution.datasources.{PartitionDirectory, PartitionPath, PartitionSpec}

  // (absolute file path, status, per-file stats) from the manifest
  private val fileEntries: Seq[(Path, org.apache.hadoop.fs.FileStatus, Snapshot.FileStats)] =
    dirs.flatMap { st =>
      val dirPath = new Path(tableDir, st.name)
      st.files.map { f =>
        val p = new Path(dirPath, f.name)
        (p, new org.apache.hadoop.fs.FileStatus(
          f.bytes, false, 1, 128L * 1024 * 1024, 0L, p), f)
      }
    }

  private val statsByPath: Map[Path, Snapshot.FileStats] =
    fileEntries.map(e => e._1 -> e._3).toMap

  // blooms keyed by RESOLVED path (the manifest spelling of a cloned
  // chain's dir is an absolute path — a parent-NAME lookup would
  // silently miss and forfeit the pruning)
  private val bloomByPath: Map[(String, Path), Array[Byte]] =
    if (bloomCols.isEmpty) Map.empty
    else dirs.flatMap { st =>
      bloomCols.flatMap { c =>
        blooms.get((c, st.name)).toSeq.flatMap { m =>
          val dirPath = new Path(tableDir, st.name)
          st.files.flatMap(f =>
            m.get(f.name).map(b => (c, new Path(dirPath, f.name)) -> b))
        }
      }
    }.toMap

  private def partRow(f: Snapshot.FileStats): InternalRow =
    InternalRow.fromSeq(partSchema.fields.map { pf =>
      f.cols.get(pf.name).flatMap(_.min) match {
        case Some(canon) => Skipping.canonicalToCatalyst(canon, pf.dataType)
        case None        => null
      }
    }.toSeq)

  override val partitionSpec: PartitionSpec = {
    // one PartitionPath per LEAF DIR (several commits may hold the
    // same partition value in distinct leaves — each is its own entry,
    // exactly as discovery would produce)
    val leaves = fileEntries.groupBy(_._1.getParent).toSeq
      .sortBy(_._1.toString)
      .map { case (leaf, files) => PartitionPath(partRow(files.head._3), leaf) }
    PartitionSpec(partSchema, leaves)
  }

  override val leafFiles: scala.collection.mutable.LinkedHashMap[Path, org.apache.hadoop.fs.FileStatus] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[Path, org.apache.hadoop.fs.FileStatus]
    fileEntries.foreach(e => m += (e._1 -> e._2))
    m
  }

  override val leafDirToChildrenFiles: Map[Path, Array[org.apache.hadoop.fs.FileStatus]] =
    fileEntries.groupBy(_._1.getParent)
      .map { case (d, fs) => d -> fs.map(_._2).toArray }

  override def rootPaths: Seq[Path] = Seq(tableDir)
  override def refresh(): Unit = ()

  /** The parent's allFiles() resolves children relative to ROOT paths
    * — this store's files live under nonce'd data dirs below the
    * root, so an unpartitioned (empty partition schema) listing would
    * come back empty. The manifest inventory IS the answer. */
  override def allFiles(): Seq[org.apache.hadoop.fs.FileStatus] =
    fileEntries.map(_._2)

  /** Parent handles exact partition pruning; the per-file stats prune
    * is layered on the survivors (same one-sided contract as
    * [[ManifestFileIndex]]). */
  override def listFiles(
      partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[PartitionDirectory] = {
    val base = super.listFiles(partitionFilters, dataFilters)
    val pushed = dataFilters.flatMap(f =>
      org.apache.spark.sql.execution.datasources.GraftFilterShim.translate(f))
    // generated-partition derivation: a src-only WHERE prunes the
    // partitioned groups through each file's partition point stats
    val translated = pushed ++ Skipping.derivePartitionFilters(
      spark, fullSchema, partSchema.fieldNames.toSeq, pushed)
    if (translated.isEmpty) base
    else base.map { pd =>
      PartitionDirectory(pd.values, pd.files.filter { f =>
        val bloomKeeps = bloomCols.forall(c =>
          bloomByPath.get((c, f.getPath)).forall(bits =>
            !translated.exists(flt => Bloom.excludes(flt, c, bits))))
        bloomKeeps && (statsByPath.get(f.getPath) match {
          case Some(fs) if fs.rows.nonEmpty =>
            !translated.exists(flt =>
              Skipping.excludes(fs.rows.get, fs.cols, fullSchema, flt))
          case _ => true
        })
      })
    }.filter(_.files.nonEmpty)
  }

  override def toString: String =
    s"ManifestPartitioningIndex[$tableDir, ${dirs.length} dirs, ${fileEntries.length} files, " +
      s"partitioned by ${partSchema.fieldNames.mkString(",")}]"
}

/** Manifest-level data skipping: harvest parquet-footer statistics at
  * commit time, decide dir-level exclusion at plan time. Pure
  * metadata work — collection reads footers of the one new dir
  * (O(delta), never O(table)); evaluation reads nothing.
  *
  * Exclusion is deliberately one-sided: a dir is skipped only when
  * its stats PROVE the conjunction can match no row. Columns whose
  * type has no canonical stats domain, footers that omit statistics
  * (parquet-mr already drops stats it cannot trust, e.g. pre-1.8
  * binary orderings), NaN bounds, and dirs without a stats line all
  * evaluate to "cannot exclude" — the filters are re-applied to the
  * surviving scan, so skipping can never change a result. */
private[ext] object Skipping {
  import org.apache.spark.sql.sources._
  import org.apache.spark.sql.types._
  import org.apache.spark.sql.functions.{col, lit}
  import graft.ext.Snapshot.{ColStats, FileStats}
  import org.apache.hadoop.conf.Configuration
  import scala.jdk.CollectionConverters._
  import scala.reflect.ClassTag

  // ───── partition-filter derivation from GENERATED columns ─────
  // Delta's optimization, re-derived for this store: when a PARTITION
  // column is `GENERATED ALWAYS AS (g(src))`, a pushed predicate on
  // src implies one on the partition column — src = v implies
  // part = g(v) for any deterministic g, and src ≥ v implies
  // part ≥ g(v) when g is MONOTONE non-decreasing (cast-to-date,
  // year, date_trunc, trunc, substring prefix). The derived filters
  // join the SKIPPING evaluation only (dir bounds, per-file bounds,
  // partition point stats) — they are never added to the re-applied
  // predicates, so a wrong derivation could only ever under-prune,
  // and the derivation itself refuses anything outside the proven
  // shapes. The commit-time value⇔expr validation is what makes the
  // implication sound: every stored row satisfies part = g(src).

  private final case class GenShape(src: String, monotone: Boolean)

  /** Structural match of a generation expression against the proven
    * shapes. Monotone set: identity, CAST(src AS DATE), year,
    * date_trunc, trunc, substring(src, 1, n). Equality-only set
    * (deterministic but not monotone): month/day/hour/… and other
    * casts. Anything else derives nothing. */
  private def genShape(spark: SparkSession, sql: String): Option[GenShape] = try {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
    def attr(x: Expression): Option[String] = x match {
      case a: UnresolvedAttribute if a.nameParts.length == 1 => Some(a.nameParts.head)
      case _ => None
    }
    spark.sessionState.sqlParser.parseExpression(sql) match {
      case a: UnresolvedAttribute => attr(a).map(GenShape(_, monotone = true))
      case c: Cast => attr(c.child).map(GenShape(_, monotone = c.dataType == DateType))
      case f: UnresolvedFunction =>
        (f.nameParts.last.toLowerCase, f.arguments) match {
          case ("year", Seq(x)) => attr(x).map(GenShape(_, monotone = true))
          case ("date_trunc", Seq(Literal(_, _), x)) => attr(x).map(GenShape(_, monotone = true))
          case ("trunc", Seq(x, Literal(_, _))) => attr(x).map(GenShape(_, monotone = true))
          case ("substring" | "substr", Seq(x, Literal(p, _), Literal(_, _)))
              if p == 1 => attr(x).map(GenShape(_, monotone = true))
          case ("month" | "day" | "dayofmonth" | "hour" | "quarter" | "dayofyear"
                | "weekofyear", Seq(x)) => attr(x).map(GenShape(_, monotone = false))
          case ("date_format", Seq(x, Literal(_, _))) =>
            attr(x).map(GenShape(_, monotone = false))
          case _ => None
        }
      case _ => None
    }
  } catch { case scala.util.control.NonFatal(_) => None }

  /** Evaluate g(v) on the driver — one single-row local plan; any
    * failure (type mismatch, overflow, null result) derives nothing. */
  private def evalGen(spark: SparkSession, sql: String, srcField: StructField,
                      target: DataType, v: Any): Option[Any] = try {
    val df = spark.createDataFrame(
      java.util.Collections.singletonList(org.apache.spark.sql.Row(v)),
      StructType(Seq(StructField(srcField.name, srcField.dataType, nullable = true))))
    val r = df.select(org.apache.spark.sql.functions.expr(sql).cast(target)).head()
    if (r.isNullAt(0)) None else Some(r.get(0))
  } catch { case scala.util.control.NonFatal(_) => None }

  /** The derived partition filters for one pushed-filter conjunction.
    * `schema` must speak the FILTERS' name space and carry the
    * GENERATION_EXPRESSION metadata (a renamed chain's physical seam
    * simply derives nothing — one-sided). */
  private[graft] def derivePartitionFilters(spark: SparkSession, schema: StructType,
                                            partCols: Seq[String],
                                            filters: Seq[Filter]): Seq[Filter] = {
    if (filters.isEmpty || partCols.isEmpty) return Seq.empty
    val gens = graft.ext.Versioned.generatedColumnsOf(schema)
      .filter { case (n, _) => partCols.exists(_.equalsIgnoreCase(n)) }
    if (gens.isEmpty) return Seq.empty
    def conjuncts(f: Filter): Seq[Filter] = f match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val flat = filters.flatMap(conjuncts)
    gens.flatMap { case (partName, sql) =>
      genShape(spark, sql).toSeq.flatMap { sh =>
        (schema.fieldNames.find(_.equalsIgnoreCase(sh.src)),
          schema.fieldNames.find(_.equalsIgnoreCase(partName))) match {
          case (Some(srcName), Some(pName)) =>
            val srcField = schema(srcName)
            val target = schema(pName).dataType
            def g(v: Any) = evalGen(spark, sql, srcField, target, v)
            def isSrc(a: String) = a.equalsIgnoreCase(srcName)
            flat.flatMap {
              case EqualTo(a, v) if isSrc(a) && v != null =>
                g(v).map(EqualTo(pName, _))
              case EqualNullSafe(a, v) if isSrc(a) && v != null =>
                g(v).map(EqualTo(pName, _))
              case In(a, vs) if isSrc(a) && vs.nonEmpty && vs.forall(_ != null) =>
                val gs = vs.toSeq.map(g)
                if (gs.forall(_.isDefined)) Seq(In(pName, gs.map(_.get).toArray))
                else Seq.empty
              case GreaterThan(a, v) if sh.monotone && isSrc(a) && v != null =>
                g(v).map(GreaterThanOrEqual(pName, _))
              case GreaterThanOrEqual(a, v) if sh.monotone && isSrc(a) && v != null =>
                g(v).map(GreaterThanOrEqual(pName, _))
              case LessThan(a, v) if sh.monotone && isSrc(a) && v != null =>
                g(v).map(LessThanOrEqual(pName, _))
              case LessThanOrEqual(a, v) if sh.monotone && isSrc(a) && v != null =>
                g(v).map(LessThanOrEqual(pName, _))
              case _ => Seq.empty
            }
          case _ => Seq.empty
        }
      }
    }
  }

  /** What the footer harvest needs to know about one file before
    * opening it — listing output, small and serializable, so the
    * harvest itself can run either on the driver or as Spark tasks. */
  private final case class HarvestSpec(path: String, bytes: Long, name: String,
                                       partVals: Seq[(String, Option[String])])

  /** Hadoop `Configuration` is not `Serializable`; this is the
    * standard write()/readFields() envelope so [[runAsJob]] tasks see
    * the driver's filesystem configuration. */
  private[ext] final class SerConf(@transient var value: org.apache.hadoop.conf.Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new org.apache.hadoop.conf.Configuration(false)
      value.readFields(in)
    }
  }

  /** Read the footers of `specs`, sequentially on the driver below
    * [[Knobs.distributedMinItems]] (per-commit O(delta) dirs stay a
    * few in-process reads with no job overhead), as a SPARK JOB at or
    * above it: CONVERT and
    * backfillStats run this over a WHOLE table, and a 10⁶-footer
    * sweep is hours single-threaded on the driver but minutes as
    * tasks (Delta's CONVERT distributes exactly this step). Only the
    * small FileStats structs come back to the driver. Output is
    * name-sorted so both paths commit byte-identical stats lines. */
  private def harvestFileStats(spark: SparkSession, schema: StructType,
                               specs: Seq[HarvestSpec]): Seq[FileStats] = {
    val sorted = specs.sortBy(_.name)
    onDriverOrJob(spark, sorted,
        s"graft: distributed footer harvest (${sorted.length} files)") { (conf, sp) =>
      fileStats(conf, new Path(sp.path), sp.bytes, sp.name, schema, sp.partVals)
    }
  }

  /** Run `f` over `items` as ONE Spark job labeled `label`: the
    * driver's hadoop conf ships once as a broadcast, the items split
    * into at most 4 × defaultParallelism slices, and the caller's job
    * description is restored afterwards. Results come back in item
    * order. */
  def runAsJob[A: ClassTag, B: ClassTag](spark: SparkSession, items: Seq[A], label: String)
                                        (f: (Configuration, A) => B): Seq[B] = {
    val sc = spark.sparkContext
    val bc = sc.broadcast(new SerConf(sc.hadoopConfiguration))
    val slices = math.max(1, math.min(items.length, sc.defaultParallelism * 4))
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try sc.parallelize(items, slices).map(a => f(bc.value.value, a)).collect().toSeq
    finally { sc.setJobDescription(prev); bc.destroy() }
  }

  /** `f` over `items` on the driver, in order, below
    * [[Knobs.distributedMinItems]] items (no job overhead for the
    * common small case); as [[runAsJob]] at or above it. */
  def onDriverOrJob[A: ClassTag, B: ClassTag](spark: SparkSession, items: Seq[A], label: String)
                                             (f: (Configuration, A) => B): Seq[B] =
    if (items.length < math.max(1, Knobs.distributedMinItems(spark)))
      items.map(f(spark.sparkContext.hadoopConfiguration, _))
    else runAsJob(spark, items, label)(f)

  /** (rows, per-column stats, per-file stats) of one just-written data
    * dir, from its parquet footers. A column of unsupported type, or
    * with any untrusted footer, is recorded as fully-unknown (present
    * but no bounds) — distinguishing it from a column ABSENT from the
    * dir's files, which under the union schema reads as all-null and
    * is recorded by omission.
    *
    * Stats are computed at FILE granularity and aggregated up to the
    * dir: the per-file bounds are what lets a selective read prune
    * INSIDE a commit (one append at 100 TB is thousands of files —
    * dir-level min/max over them spans the full key range and prunes
    * nothing), the dir aggregate is what lets [[readVersionSkipping]]
    * and the DSv2 seam drop whole dirs without touching file lists.
    *
    * The driver only LISTS; footer reads dispatch through
    * [[harvestFileStats]] (driver below the file threshold, Spark
    * tasks at or above it). */
  def collectDirStats(spark: SparkSession, dataPath: Path,
                      dirSchema: StructType): (Long, Map[String, ColStats], Seq[FileStats]) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dataPath.getFileSystem(conf)
    val specs = fs.listStatus(dataPath)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(st => HarvestSpec(st.getPath.toString, st.getLen,
        st.getPath.getName, Seq.empty)).toSeq
    aggregateDir(dirSchema, harvestFileStats(spark, dirSchema, specs))
  }

  /** The partitioned-dir variant: the data dir holds a hive-layout
    * subtree (`col=value/part-*.parquet`); files are recorded under
    * their RELATIVE subpaths, and each file's partition values —
    * parsed from its subpath, canonicalized into the stats domain —
    * become exact min=max bounds (a partition value IS a point
    * statistic), so one evaluator serves both pruning kinds. */
  def collectDirStatsPartitioned(spark: SparkSession, dataPath: Path,
                                 fullSchema: StructType, partSchema: StructType)
      : (Long, Map[String, ColStats], Seq[FileStats]) = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dataPath.getFileSystem(conf)
    def walk(p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) Seq(st)
        else Seq.empty
      }
    val basePrefix = dataPath.toUri.getPath.stripSuffix("/") + "/"
    val specs = walk(dataPath).map { st =>
      val rel = st.getPath.toUri.getPath.stripPrefix(basePrefix)
      val segs = rel.split('/').dropRight(1)
        .flatMap { seg =>
          val i = seg.indexOf('=')
          if (i <= 0) None
          else Some(ExternalCatalogUtils.unescapePathName(seg.substring(0, i)) ->
            seg.substring(i + 1))
        }.toMap
      val partVals = partSchema.fields.map { f =>
        val raw = segs.getOrElse(f.name, throw new IllegalStateException(
          s"file $rel lacks a path value for partition column '${f.name}'"))
        val canon =
          if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) None
          else partValueToCanonical(ExternalCatalogUtils.unescapePathName(raw), f.dataType)
        (f.name, canon)
      }.toSeq
      HarvestSpec(st.getPath.toString, st.getLen, rel, partVals)
    }
    aggregateDir(fullSchema, harvestFileStats(spark, fullSchema, specs))
  }

  /** Hive partition-path string → the canonical stats domain of the
    * column type. Partitionable types are the exact-parse subset. */
  private def partValueToCanonical(s: String, dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some(s.toLong.toString)
    case StringType  => Some(s)
    case DateType    => Some(java.time.LocalDate.parse(s).toEpochDay.toString)
    case BooleanType => Some(s.toBoolean.toString)
    case _           => None
  }

  /** Canonical stats-domain string → the Catalyst-internal value of
    * the partition column type (what a PartitionDirectory row holds). */
  private[ext] def canonicalToCatalyst(c: String, dt: DataType): Any = dt match {
    case ByteType    => c.toLong.toByte
    case ShortType   => c.toLong.toShort
    case IntegerType => c.toLong.toInt
    case LongType    => c.toLong
    case DateType    => c.toLong.toInt // canonical form is epoch days
    case StringType  => org.apache.spark.unsafe.types.UTF8String.fromString(c)
    case BooleanType => c.toBoolean
    case other => throw new IllegalStateException(s"unsupported partition type $other")
  }

  private[ext] def partitionableType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType |
         DateType | BooleanType => true
    case _ => false
  }

  /** Footer scan of one file. `partVals` are canonical partition
    * values to overlay as exact bounds (None value = hive null
    * partition → all-null stats for that column). Runs on the driver
    * OR inside a harvest task — everything it touches is
    * serializable state of this object. */
  private def fileStats(conf: org.apache.hadoop.conf.Configuration,
                        file: Path, len: Long, name: String,
                        schema: StructType,
                        partVals: Seq[(String, Option[String])]): FileStats = {
    val supported = schema.fields.map(f => f.name -> f.dataType)
      .filter { case (_, dt) => comparableType(dt) }.toMap
    var fileRows = 0L
    // per column: (min, max, nulls, valueCount, trusted)
    val acc = scala.collection.mutable.Map.empty[String, (Option[String], Option[String], Long, Long, Boolean)]
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try {
      val footer = reader.getFooter
      for (block <- footer.getBlocks.asScala) {
        fileRows += block.getRowCount
        for (chunk <- block.getColumns.asScala) {
          val path = chunk.getPath
          if (path.size == 1) {
            val colName = path.iterator.next()
            supported.get(colName).foreach { dt =>
              val prior = acc.getOrElse(colName, (None, None, 0L, 0L, true))
              acc(colName) = mergeChunk(prior, chunk, dt)
            }
          }
        }
      }
    } finally reader.close()
    // EVERY schema field gets an entry (unknown for unsupported or
    // untrusted) — in [[excludes]] a column ABSENT from the map means
    // "not in this dir's write at all" (union-schema backfill reads
    // it as all-null), and a per-file map that omitted an
    // unsupported-type column would let that rule wrongly exclude
    // the file on a predicate over it
    val cols = schema.fields.map { f =>
      f.name -> (acc.get(f.name) match {
        // value counts must cover every row, else some chunk was
        // missing for this column and the bounds are partial
        case Some((mn, mx, nulls, vc, true)) if vc == fileRows =>
          ColStats(mn, mx, Some(nulls))
        case _ => ColStats(None, None, None)
      })
    }.toMap
    val partCols = partVals.map {
      case (c, Some(canon)) => c -> ColStats(Some(canon), Some(canon), Some(0L))
      case (c, None)        => c -> ColStats(None, None, Some(fileRows))
    }
    FileStats(name, len, Some(fileRows), cols ++ partCols)
  }

  private[ext] def aggregateDir(dirSchema: StructType, perFile: Seq[FileStats])
      : (Long, Map[String, ColStats], Seq[FileStats]) = {
    val supported = dirSchema.fields.map(f => f.name -> f.dataType)
      .filter { case (_, dt) => comparableType(dt) }.toMap
    val rows = perFile.flatMap(_.rows).sum
    // dir aggregate = fold of the per-file stats: bounds widen, null
    // counts add, and any file-level unknown poisons the dir entry
    // (same one-sided rule — unknown can only DISABLE skipping).
    // A trusted file entry always carries a null count; a trusted
    // ALL-NULL file carries the count with no bounds — so
    // `nulls.isDefined` is exactly the trusted flag here.
    val cols = dirSchema.fields.map { f =>
      val stat = supported.get(f.name) match {
        case None => ColStats(None, None, None)
        case Some(dt) =>
          val per = perFile.map(_.cols.get(f.name))
          if (per.exists(o => o.isEmpty || o.get.nulls.isEmpty)) ColStats(None, None, None)
          else {
            val cs = per.map(_.get)
            val nulls = Some(cs.map(_.nulls.get).sum)
            val withBounds = cs.filter(_.min.nonEmpty)
            if (withBounds.isEmpty) ColStats(None, None, nulls) // all-null dir
            else ColStats(
              Some(withBounds.map(_.min.get).reduce((a, b) => if (cmp(dt, a, b) <= 0) a else b)),
              Some(withBounds.map(_.max.get).reduce((a, b) => if (cmp(dt, a, b) >= 0) a else b)),
              nulls)
          }
      }
      f.name -> stat
    }.toMap
    (rows, cols, perFile)
  }

  private def mergeChunk(prior: (Option[String], Option[String], Long, Long, Boolean),
                         chunk: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
                         dt: DataType): (Option[String], Option[String], Long, Long, Boolean) = {
    val (mn0, mx0, n0, vc0, ok0) = prior
    if (!ok0) prior
    else {
      val stats = chunk.getStatistics
      val vc = vc0 + chunk.getValueCount
      if (stats == null || !stats.isNumNullsSet) (None, None, 0L, vc, false)
      else {
        val nulls = n0 + stats.getNumNulls
        if (!stats.hasNonNullValue) {
          // a chunk of pure nulls contributes no bounds; all-null is
          // only provable when the null count covers the value count
          if (stats.getNumNulls == chunk.getValueCount) (mn0, mx0, nulls, vc, true)
          else (None, None, 0L, vc, false)
        } else {
          val ann = Option(chunk.getPrimitiveType).flatMap(t =>
            Option(t.getLogicalTypeAnnotation))
          (statToCanonical(stats.genericGetMin, dt, ann, isMax = false),
            statToCanonical(stats.genericGetMax, dt, ann, isMax = true)) match {
            case (Some(lo), Some(hi)) =>
              (Some(mn0.fold(lo)(m => if (cmp(dt, lo, m) < 0) lo else m)),
                Some(mx0.fold(hi)(m => if (cmp(dt, hi, m) > 0) hi else m)),
                nulls, vc, true)
            case _ => (None, None, 0L, vc, false)
          }
        }
      }
    }
  }

  private def comparableType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         FloatType | DoubleType | StringType | BooleanType |
         TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Footer stat value → canonical string in the comparison domain.
    * None (→ no skipping) for anything surprising, NaN above all:
    * parquet min/max are undefined in the presence of NaN.
    *
    * Timestamps: the canonical domain is MICROSECONDS (what
    * [[valueToCanonical]] emits for filter literals), but an INT64
    * footer bound is in whatever unit the file's logical-type
    * annotation declares — a dir written under
    * `spark.sql.parquet.outputTimestampType=TIMESTAMP_MILLIS` carries
    * millis, and treating them as micros would let excludes() wrongly
    * prove a dir empty (one-sided-contract violation). Bounds are
    * normalized per the annotation: MICROS as-is, MILLIS ×1000
    * (exact), NANOS floor/ceil-divided so min stays ≤ true min and
    * max ≥ true max; a missing or non-timestamp annotation (e.g.
    * legacy INT96) records no bound. */
  private def statToCanonical(v: Any, dt: DataType,
                              ann: Option[org.apache.parquet.schema.LogicalTypeAnnotation],
                              isMax: Boolean): Option[String] = (v, dt) match {
    case (i: java.lang.Integer, ByteType | ShortType | IntegerType | DateType) =>
      Some(i.longValue.toString)
    case (l: java.lang.Long, LongType) => Some(l.toString)
    case (l: java.lang.Long, TimestampType | TimestampNTZType) =>
      import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
      ann.collect { case t: TimestampLogicalTypeAnnotation => t.getUnit }.flatMap {
        case TimeUnit.MICROS => Some(l.longValue.toString)
        case TimeUnit.MILLIS => Some(Math.multiplyExact(l.longValue, 1000L).toString)
        case TimeUnit.NANOS  =>
          Some((if (isMax) Math.floorDiv(Math.addExact(l.longValue, 999L), 1000L)
                else Math.floorDiv(l.longValue, 1000L)).toString)
        case _ => None
      }
    case (f: java.lang.Float, FloatType) =>
      if (f.isNaN) None else Some(f.doubleValue.toString)
    case (d: java.lang.Double, DoubleType) =>
      if (d.isNaN) None else Some(d.toString)
    case (b: org.apache.parquet.io.api.Binary, StringType) =>
      Some(b.toStringUsingUTF8)
    case (b: java.lang.Boolean, BooleanType) => Some(b.toString)
    case _ => None
  }

  /** Filter literal → the same canonical domain. */
  private def valueToCanonical(v: Any, dt: DataType): Option[String] = (v, dt) match {
    case (null, _) => None
    case (n: Number, ByteType | ShortType | IntegerType | LongType) =>
      Some(n.longValue.toString)
    case (n: Number, FloatType | DoubleType) =>
      val d = n.doubleValue; if (d.isNaN) None else Some(d.toString)
    case (s: String, StringType) => Some(s)
    case (d: java.sql.Date, DateType) => Some(d.toLocalDate.toEpochDay.toString)
    case (d: java.time.LocalDate, DateType) => Some(d.toEpochDay.toString)
    case (t: java.sql.Timestamp, TimestampType | TimestampNTZType) =>
      Some((t.getTime * 1000L + (t.getNanos % 1000000L) / 1000L).toString)
    case (t: java.time.Instant, TimestampType) =>
      Some((t.getEpochSecond * 1000000L + t.getNano / 1000L).toString)
    case (b: Boolean, BooleanType) => Some(b.toString)
    case _ => None
  }

  private def cmp(dt: DataType, a: String, b: String): Int = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType =>
      java.lang.Long.compare(a.toLong, b.toLong)
    case FloatType | DoubleType => java.lang.Double.compare(a.toDouble, b.toDouble)
    case StringType             =>
      // UTF-8 BINARY order — the order parquet's unsigned footer
      // bounds and Spark's UTF8String comparisons use. Java
      // String.compareTo is UTF-16 code-unit order, which DISAGREES
      // for supplementary-plane characters vs U+E000..U+FFFF: under
      // it a dir could be wrongly proven empty and rows silently
      // dropped (ExtSpec pins the emoji-vs-U+FFFF case)
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
    case BooleanType            => java.lang.Boolean.compare(a.toBoolean, b.toBoolean)
    case other => throw new IllegalStateException(s"no canonical order for $other")
  }

  /** True iff `stats` PROVE no row of the dir can satisfy `f`. A
    * column with no entry at all is one the dir's files do not carry
    * — under the union schema it reads as all-null (the evolution
    * backfill), so value predicates and IsNotNull exclude the dir. */
  def excludes(rows: Long, cols: Map[String, ColStats],
               schema: StructType, f: org.apache.spark.sql.sources.Filter): Boolean = {
    def statsFor(attr: String): Option[(ColStats, DataType)] =
      schema.fields.find(_.name == attr).map(_.dataType).map { dt =>
        (cols.getOrElse(attr, ColStats(None, None, Some(rows))), dt)
      }
    def allNull(c: ColStats): Boolean = c.nulls.contains(rows)
    def outside(attr: String, v: Any)(test: (Int, Int) => Boolean): Boolean =
      statsFor(attr).exists { case (c, dt) =>
        if (allNull(c)) true // null never satisfies a value predicate
        else (for { lo <- c.min; hi <- c.max; cv <- valueToCanonical(v, dt) }
          yield test(cmp(dt, cv, lo), cmp(dt, cv, hi))).getOrElse(false)
      }
    f match {
      case EqualTo(a, v)            => outside(a, v)((l, h) => l < 0 || h > 0)
      case EqualNullSafe(a, v)      =>
        if (v == null) excludes(rows, cols, schema, IsNull(a))
        else excludes(rows, cols, schema, EqualTo(a, v))
      case GreaterThan(a, v)        => outside(a, v)((_, h) => h >= 0)
      case GreaterThanOrEqual(a, v) => outside(a, v)((_, h) => h > 0)
      case LessThan(a, v)           => outside(a, v)((l, _) => l <= 0)
      case LessThanOrEqual(a, v)    => outside(a, v)((l, _) => l < 0)
      case In(a, vs)                => vs.nonEmpty &&
        vs.forall(v => excludes(rows, cols, schema, EqualTo(a, v)))
      case IsNull(a)    => statsFor(a).exists(_._1.nulls.contains(0L))
      case IsNotNull(a) => statsFor(a).exists { case (c, _) => allNull(c) && rows > 0 }
      // prefix predicates (the optimizer's translation of
      // `LIKE 'p%'`): every matching string s satisfies
      // p <= s < succ(p) in UTF-8 BYTE order (the same order the
      // stats' canonical strings compare under), so a dir whose max
      // is below p, or whose min is at or above succ(p), is provably
      // empty — one-sided as always, a dir overlapping the range is
      // kept. succ(p) = p with its last non-0xFF byte incremented and
      // the tail dropped; an all-0xFF prefix has no upper bound.
      case StringStartsWith(a, p) if p != null && p.nonEmpty =>
        statsFor(a).exists { case (c, dt) =>
          dt == StringType && (allNull(c) ||
            (for { lo <- c.min; hi <- c.max } yield {
              val pb = org.apache.spark.unsafe.types.UTF8String.fromString(p)
              if (org.apache.spark.unsafe.types.UTF8String.fromString(hi)
                    .compareTo(pb) < 0) true
              else Skipping.prefixSuccessor(pb) match {
                case Some(succ) =>
                  org.apache.spark.unsafe.types.UTF8String.fromString(lo)
                    .compareTo(succ) >= 0
                case None => false
              }
            }).getOrElse(false))
        }
      case And(l, r) => excludes(rows, cols, schema, l) || excludes(rows, cols, schema, r)
      case Or(l, r)  => excludes(rows, cols, schema, l) && excludes(rows, cols, schema, r)
      case _ => false
    }
  }

  /** The smallest UTF8String strictly greater than EVERY string with
    * prefix `p` (byte order): increment the last non-0xFF byte, drop
    * the tail. None when every byte is 0xFF (no finite bound). */
  private[ext] def prefixSuccessor(p: org.apache.spark.unsafe.types.UTF8String)
      : Option[org.apache.spark.unsafe.types.UTF8String] = {
    val bytes = p.getBytes.clone()
    var i = bytes.length - 1
    while (i >= 0 && bytes(i) == 0xFF.toByte) i -= 1
    if (i < 0) None
    else {
      bytes(i) = (bytes(i) + 1).toByte
      Some(org.apache.spark.unsafe.types.UTF8String.fromBytes(bytes, 0, i + 1))
    }
  }

  /** The exact-semantics half: every accepted filter re-applied to the
    * surviving scan as a Catalyst predicate (pushed into parquet by
    * the optimizer as usual). Unsupported shapes fail fast — the
    * caller asked for skipping semantics this module cannot honor. */
  def toColumn(f: org.apache.spark.sql.sources.Filter): Column = f match {
    case EqualTo(a, v)            => col(a) === lit(v)
    case EqualNullSafe(a, v)      => col(a) <=> lit(v)
    case StringStartsWith(a, p)   => col(a).startsWith(lit(p))
    case GreaterThan(a, v)        => col(a) > lit(v)
    case GreaterThanOrEqual(a, v) => col(a) >= lit(v)
    case LessThan(a, v)           => col(a) < lit(v)
    case LessThanOrEqual(a, v)    => col(a) <= lit(v)
    case In(a, vs)                => col(a).isin(vs.toIndexedSeq: _*)
    case IsNull(a)                => col(a).isNull
    case IsNotNull(a)             => col(a).isNotNull
    case And(l, r)                => toColumn(l) && toColumn(r)
    case Or(l, r)                 => toColumn(l) || toColumn(r)
    case other => throw new IllegalArgumentException(
      s"unsupported skipping filter: $other")
  }
}

/** JSON (de)serialization of one stats line's payload, via the Jackson
  * already on Spark's classpath — strings are escaped, so a stats line
  * stays a single manifest line whatever the column values contain. */
private[ext] object StatsJson {
  import com.fasterxml.jackson.databind.ObjectMapper
  import com.fasterxml.jackson.databind.node.ObjectNode
  import graft.ext.Snapshot.{ColStats, FileStats}
  private val mapper = new ObjectMapper()

  private def renderCols(parent: ObjectNode, key: String,
                         cols: Map[String, ColStats]): Unit = {
    val cn = parent.putObject(key)
    cols.toSeq.sortBy(_._1).foreach { case (name, c) =>
      val o = cn.putObject(name)
      c.min.foreach(o.put("min", _))
      c.max.foreach(o.put("max", _))
      c.nulls.foreach(o.put("nulls", _))
    }
  }

  private def parseCols(node: com.fasterxml.jackson.databind.JsonNode): Map[String, ColStats] = {
    val b = Map.newBuilder[String, ColStats]
    val it = node.fields()
    while (it.hasNext) {
      val e = it.next()
      val o = e.getValue
      b += e.getKey -> ColStats(
        Option(o.get("min")).map(_.asText()),
        Option(o.get("max")).map(_.asText()),
        Option(o.get("nulls")).map(_.asLong()))
    }
    b.result()
  }

  def render(rows: Long, cols: Map[String, ColStats],
             files: Seq[FileStats]): String = {
    val root = mapper.createObjectNode()
    root.put("rows", rows)
    renderCols(root, "cols", cols)
    val fn = root.putArray("files")
    files.foreach { f =>
      val o = fn.addObject(); o.put("n", f.name); o.put("b", f.bytes)
      f.rows.foreach(o.put("r", _))
      if (f.cols.nonEmpty) renderCols(o, "c", f.cols)
    }
    mapper.writeValueAsString(root)
  }

  def parse(json: String): (Long, Map[String, ColStats], Seq[FileStats]) = {
    val root = mapper.readTree(json)
    val rows = root.get("rows").asLong()
    val cols = Option(root.get("cols")).map(parseCols).getOrElse(Map.empty)
    // files absent = a stats line from before the file-list format
    // (readers fall back to directory listing for that dir); an entry
    // without "r" is from the per-DIR-stats format — always read
    val files = Option(root.get("files")).map { fn =>
      val b = Seq.newBuilder[FileStats]
      val it = fn.elements()
      while (it.hasNext) {
        val o = it.next()
        b += FileStats(o.get("n").asText(), o.get("b").asLong(),
          Option(o.get("r")).map(_.asLong()),
          Option(o.get("c")).map(parseCols).getOrElse(Map.empty))
      }
      b.result()
    }.getOrElse(Seq.empty)
    (rows, cols, files)
  }
}
