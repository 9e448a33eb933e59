package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ext.{Snapshot, Versioned}

/** The SQL serving surface over [[graft.ext.Versioned]]'s manifest
  * store — the role the reference's users get from Trino-over-Delta
  * (ref: mnt/trino/etc/catalog/delta-lake.properties:1-3, which gives
  * them `VERSION AS OF` and friends in plain SQL). A DataSource V2
  * `TableCatalog`, registered on a LIVE session with one conf:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.versioned", "graft.sql.VersionedCatalog")
  *   spark.sql("SELECT * FROM versioned.`/path/to/table` VERSION AS OF 2")
  *   spark.sql("SELECT * FROM versioned.`/path/to/table`")   // latest
  * }}}
  *
  * The table identifier IS the table path (Delta's `delta.`/path``
  * idiom). Spark's own parser/analyzer handle the time-travel syntax
  * — `VERSION AS OF n` resolves through [[loadTable(Identifier,String)]],
  * the DSv2 seam built for exactly this.
  *
  * Plan quality, not a compatibility shim — three tiers by what the
  * manifest carries:
  *
  *   1. schema+stats manifest (every commit from this code), no dv:
  *      [[SkippingTable]] — a WHERE clause's pushed conjuncts are
  *      evaluated against the manifest's per-dir min/max/null stats
  *      and provably-empty dirs drop out of the scan BEFORE any file
  *      listing (Delta data skipping, at the DSv2 pushdown seam); the
  *      surviving dirs are served by Spark's own ParquetTable, so
  *      vectorized read, row-group pushdown, and column pruning all
  *      stay native.
  *   2. deletion vectors present: [[DvMaskedTable]] wraps tier 1 —
  *      dir skipping and pushdown still apply under the mask (the
  *      mask only REMOVES rows, so a dir the stats prove empty stays
  *      empty); the mask itself is applied row-level in the partition
  *      readers, with column pruning widened by the key columns and
  *      projected back. Aggregate pushdown is deliberately
  *      surrendered here — a pushed count() would count masked rows.
  *   3. pre-schema manifests: Spark's ParquetTable with mergeSchema —
  *      correct, with the legacy plan-time cost, until the table's
  *      next commit records schema+stats.
  *
  * SQL WRITES keep the commit-protocol story ([[VersionedWriteBuilder]]):
  * `INSERT INTO` = commutative append with OCC retry, `INSERT
  * OVERWRITE` = fresh version that surfaces a lost race — both publish
  * through the manifest commit, so a crashed SQL insert leaves only an
  * invisible orphan dir. DDL (create/alter/drop) stays with the
  * library, which owns table lifecycle.
  */
class VersionedCatalog extends TableCatalog with StagingTableCatalog
    with ProcedureCatalog with SupportsNamespaces {
  private var catName: String = "versioned"
  private var warehouse: Option[String] = None

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    // `spark.sql.catalog.<name>.warehouse` turns on NAME addressing:
    // `db.t` resolves under this root (see [[pathOf]])
    warehouse = Option(options.get("warehouse")).map(_.stripSuffix("/"))
  }

  override def name(): String = catName

  /** The analyzer refuses constraint DDL against catalogs that do not
    * declare support — this store enforces CHECK constraints at both
    * the plan seam and the commit. COLUMN DEFAULTs ride Spark's own
    * machinery end to end: the default lands as CURRENT_DEFAULT /
    * EXISTS_DEFAULT field metadata (which the manifest's schema json
    * persists verbatim), the analyzer fills omitted INSERT columns
    * from CURRENT_DEFAULT, and the parquet readers fill files that
    * PRE-DATE the column from EXISTS_DEFAULT instead of null. */
  override def capabilities(): java.util.Set[TableCatalogCapability] =
    java.util.EnumSet.of(TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      // GENERATED ALWAYS AS (expr): Spark validates the expression
      // (deterministic, non-generated refs, no subqueries) and hands
      // it over as GENERATION_EXPRESSION field metadata; the STORE
      // enforces the semantics — library writes compute an omitted
      // generated column, and EVERY commit validates value = expr
      // like an implicit CHECK (see Versioned.generatedColumnsOf)
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      // GENERATED … AS IDENTITY: Spark parses the spec (start/step/
      // explicit-insert policy) and hands it over on the v2 Column;
      // the STORE owns assignment — a `hwm:` manifest line tracks the
      // next value, library/SQL inserts fill the omitted column
      // distributed, and the commit advances the mark under the same
      // OCC claim as the data (see Versioned.identityColumnsOf)
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS)

  // ── name addressing (the Delta+metastore role, without the service) ──
  //
  // With `spark.sql.catalog.<cat>.warehouse=/root` configured, a
  // name-shaped identifier `db.t` resolves to the DIRECTORY
  // `<warehouse>/db/t` — the registry IS the filesystem (the public
  // Iceberg HadoopCatalog design), so resolution survives JVM
  // restarts with no metastore service, no single live-connection
  // bottleneck (embedded derby's), and no second source of truth that
  // can disagree with the storage. Two table flavors, Delta's own
  // split:
  //
  //   - MANAGED: the chain lives AT `<warehouse>/db/t`; DROP deletes
  //     data (the chain root).
  //   - EXTERNAL (`CREATE TABLE db.t … LOCATION '/abs/path'`): the
  //     dir holds ONE `_location` pointer file naming the chain root
  //     elsewhere; DROP removes the POINTER only — Delta's external-
  //     table contract. A LOCATION pointing at an EXISTING chain
  //     registers it (CONVERT-then-register migration path).
  //
  // Path-shaped identifiers (`` cat.`/abs/path` ``) keep working
  // unchanged beside names — with no warehouse configured they are
  // the only form, the pre-round-15 behavior.

  private val LocationFile = "_location"

  private def hadoopFs(p: org.apache.hadoop.fs.Path) =
    // read-only FS lookup: the shared sparkContext conf (where
    // FastLocalFs installs) — newHadoopConf() would copy+intern
    // ~1.5k entries per call on a catalog-op hot path
    p.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)

  private def isPathIdent(ident: Identifier): Boolean =
    (ident.namespace() :+ ident.name()).mkString("/").startsWith("/")

  private def requireWarehouse(what: String): String = warehouse.getOrElse(
    throw new UnsupportedOperationException(
      s"$what needs name addressing — set spark.sql.catalog.$catName.warehouse " +
        "to a root directory, or address tables by absolute path " +
        s"(`$catName`.`/abs/path`)"))

  private def namedDir(ident: Identifier): String =
    (requireWarehouse(s"table ${ident.toString}") +:
      (ident.namespace() :+ ident.name()).toSeq).mkString("/")

  /** Follow a named table's `_location` pointer, if present. */
  private def resolveNamed(ident: Identifier): String = {
    val dir = namedDir(ident)
    val marker = new org.apache.hadoop.fs.Path(dir, LocationFile)
    val fs = hadoopFs(marker)
    if (!fs.exists(marker)) dir
    else {
      val in = fs.open(marker)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
  }

  private def isTableDir(fs: org.apache.hadoop.fs.FileSystem,
                         p: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(p, "_versions")) ||
      fs.exists(new org.apache.hadoop.fs.Path(p, LocationFile))

  /** `SHOW TABLES IN cat.db` — the dirs under the namespace that ARE
    * tables (a committed chain or an external pointer). Path-addressed
    * tables have no namespace to enumerate, as before. */
  override def listTables(namespace: Array[String]): Array[Identifier] =
    warehouse match {
      case None => Array.empty
      case Some(w) =>
        val nsPath = new org.apache.hadoop.fs.Path(
          (w +: namespace.toSeq).mkString("/"))
        val fs = hadoopFs(nsPath)
        if (!fs.exists(nsPath))
          throw new org.apache.spark.sql.catalyst.analysis
            .NoSuchNamespaceException(namespace.toSeq)
        fs.listStatus(nsPath).filter(_.isDirectory)
          .filter(st => isTableDir(fs, st.getPath))
          .map(st => Identifier.of(namespace, st.getPath.getName))
          .sortBy(_.name())
    }

  override def namespaceExists(namespace: Array[String]): Boolean =
    // the EMPTY namespace always exists — path-addressed identifiers
    // live there, warehouse or not
    namespace.isEmpty || warehouse.exists { w =>
      val p = new org.apache.hadoop.fs.Path((w +: namespace.toSeq).mkString("/"))
      val fs = hadoopFs(p)
      fs.exists(p) && fs.getFileStatus(p).isDirectory && !isTableDir(fs, p)
    }

  override def listNamespaces(): Array[Array[String]] = warehouse match {
    case None => Array.empty
    case Some(w) =>
      val p = new org.apache.hadoop.fs.Path(w)
      val fs = hadoopFs(p)
      if (!fs.exists(p)) Array.empty
      else fs.listStatus(p).filter(_.isDirectory)
        .filterNot(st => isTableDir(fs, st.getPath))
        .map(st => Array(st.getPath.getName)).sortBy(_.head)
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else warehouse match {
      case None => Array.empty
      case Some(w) =>
        val p = new org.apache.hadoop.fs.Path((w +: namespace.toSeq).mkString("/"))
        val fs = hadoopFs(p)
        if (!fs.exists(p))
          throw new org.apache.spark.sql.catalyst.analysis
            .NoSuchNamespaceException(namespace.toSeq)
        fs.listStatus(p).filter(_.isDirectory)
          .filterNot(st => isTableDir(fs, st.getPath))
          .map(st => namespace :+ st.getPath.getName)
    }

  override def loadNamespaceMetadata(namespace: Array[String])
      : java.util.Map[String, String] =
    if (namespaceExists(namespace)) java.util.Collections.emptyMap()
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchNamespaceException(namespace.toSeq)

  override def createNamespace(namespace: Array[String],
                               metadata: java.util.Map[String, String]): Unit = {
    val w = requireWarehouse(s"namespace ${namespace.mkString(".")}")
    require(namespace.forall(n => !n.contains("/") && !n.startsWith("_") &&
        !n.startsWith(".")),
      s"namespace levels must be plain directory names, got ${namespace.mkString(".")}")
    if (namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NamespaceAlreadyExistsException(namespace)
    val p = new org.apache.hadoop.fs.Path((w +: namespace.toSeq).mkString("/"))
    hadoopFs(p).mkdirs(p)
    ()
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      s"catalog '$catName' namespaces are directories and carry no properties")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val w = requireWarehouse(s"namespace ${namespace.mkString(".")}")
    if (!namespaceExists(namespace)) false
    else {
      val p = new org.apache.hadoop.fs.Path((w +: namespace.toSeq).mkString("/"))
      val fs = hadoopFs(p)
      if (!cascade && fs.listStatus(p).nonEmpty)
        throw new org.apache.spark.sql.catalyst.analysis
          .NonEmptyNamespaceException(namespace)
      fs.delete(p, true)
    }
  }

  override def loadTable(ident: Identifier): Table = load(ident, None)

  /** `VERSION AS OF v` — the analyzer routes the parsed literal here. */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, Some(version))

  /** `TIMESTAMP AS OF ts` — the analyzer passes epoch MICROseconds;
    * resolved against manifest commit times ([[Versioned.history]]'s
    * clock, with its documented mtime caveat). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val spark = SparkSession.active
    val dir = pathOf(ident)
    val v = Versioned.versionAsOfTimestamp(spark, dir, timestamp / 1000L)
      .getOrElse(throw new IllegalArgumentException(
        s"no version of $dir committed at or before timestamp ${timestamp / 1000L} ms " +
          s"(earliest is ${Versioned.versions(spark, dir).headOption.orNull})"))
    load(ident, Some(v.toString))
  }

  /** The chain-root directory an identifier addresses: a `/`-leading
    * identifier IS the path (the pre-name idiom, unchanged); anything
    * else resolves by NAME under the configured warehouse, following
    * an external table's `_location` pointer. */
  private def pathOf(ident: Identifier): String =
    if (isPathIdent(ident)) (ident.namespace() :+ ident.name()).mkString("/")
    else resolveNamed(ident)

  private def load(ident: Identifier, version: Option[String]): Table = {
    val spark = SparkSession.active
    val dir = pathOf(ident)
    if (Versioned.versions(spark, dir).isEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        (ident.namespace() :+ ident.name()).toSeq)
    val t = VersionedTableLoader.tableForPath(spark, dir, version, catName)
    // stamp the user-addressed identifier on the streaming fallback:
    // the engine's post-batch refreshTable RESOLVES the fallback
    // CatalogTable's identifier through the session, so it must be the
    // real name, not a display synthetic (which ResolveSQLOnFile would
    // even read as a direct file query when it collides with a
    // datasource short name)
    t match {
      case f: GraftV1StreamFallback =>
        val tid = ident.namespace() match {
          case Array()   => // path-addressed: `cat`.`/abs/path`
            org.apache.spark.sql.catalyst.TableIdentifier(ident.name(), Some(catName))
          case Array(db) =>
            org.apache.spark.sql.catalyst.TableIdentifier(
              ident.name(), Some(db), Some(catName))
          case deeper    => // best effort; streams prefer 1-level namespaces
            org.apache.spark.sql.catalyst.TableIdentifier(
              ident.name(), Some(deeper.mkString(".")), Some(catName))
        }
        f.withStreamIdent(tid)
      case _ => ()
    }
    t
  }

  /** `CALL <catalog>.system.<proc>(…)` — the SQL maintenance surface
    * (Delta's OPTIMIZE/VACUUM/RESTORE role), served through Spark 4's
    * DSv2 stored-procedure seam. See [[VersionedProcedures]]. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    VersionedProcedures.load(ident).getOrElse(
      throw new RuntimeException(
        s"no procedure ${ident.namespace().mkString(".")}.${ident.name()} — " +
          s"have: ${VersionedProcedures.list(Array("system")).map(_.name()).mkString(", ")}"))

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    VersionedProcedures.list(namespace)

  /** Identity partition transforms → partition column names; anything
    * else (bucket, days, …) refuses — the store's layout is
    * hive-by-value on plain columns. */
  private def partColsOf(partitions: Array[Transform]): Seq[String] =
    partitions.toSeq.map {
      case t if t.name == "identity" && t.references().length == 1 =>
        t.references()(0).fieldNames match {
          case Array(n) => n
          case nested => throw new UnsupportedOperationException(
            s"cannot partition by nested field ${nested.mkString(".")}")
        }
      case other => throw new UnsupportedOperationException(
        s"versioned tables partition by plain columns only (hive-by-value); got $other")
    }

  /** `CREATE TABLE` — version 0 as a metadata-only manifest commit
    * ([[Versioned.createTable]]): recorded schema (and partition
    * spec), zero data dirs, so CREATE-then-INSERT is the whole SQL
    * flow. `PARTITIONED BY (col, …)` makes the chain partitioned from
    * birth. Table properties are not stored (the manifest is the
    * whole catalog state) — any are refused rather than dropped. */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): Table =
    createWithConstraints(ident, schema, partitions, properties, Seq.empty)

  /** `TableInfo.schema()` bridges v2 Columns to StructType but DROPS
    * `generationExpression` (it rides as its own Column field, not in
    * the metadata JSON) — re-attach it under Spark's own metadata key
    * so the recorded schema carries the declaration the store
    * enforces. */
  private def schemaWithGeneration(info: TableInfo): StructType = {
    val gens = info.columns().flatMap(c =>
      Option(c.generationExpression()).map(c.name() -> _)).toMap
    val ids = info.columns().flatMap(c =>
      Option(c.identityColumnSpec()).map(c.name() -> _)).toMap
    if (gens.isEmpty && ids.isEmpty) info.schema()
    else StructType(info.schema().fields.map { f =>
      val withGen = gens.get(f.name).fold(f)(g => f.copy(metadata =
        new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putString(Versioned.GenerationKey, g).build()))
      // identityColumnSpec is ALSO its own Column field the schema()
      // bridge drops — re-attach under Spark's own metadata keys
      ids.get(f.name).fold(withGen)(spec => withGen.copy(metadata =
        Versioned.identityMetadata(withGen.metadata, spec.getStart,
          spec.getStep, spec.isAllowExplicitInsert)))
    })
  }

  /** The [[TableInfo]] form is the one that carries inline
    * constraints (`CREATE TABLE t (…, CONSTRAINT c CHECK (…))`) —
    * the default chain would silently DROP them on the way down to
    * the StructType form. */
  override def createTable(ident: Identifier, info: TableInfo): Table =
    createWithConstraints(ident, schemaWithGeneration(info), info.partitions(),
      info.properties(), checksOf(info.constraints()))

  private def checksOf(cs: Array[org.apache.spark.sql.connector.catalog.constraints.Constraint])
      : Seq[(String, String)] =
    cs.toSeq.map {
      case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
        // NOT ENFORCED would be stored-then-enforced anyway (the
        // manifest has no enforcement flag, and both seams check
        // unconditionally) — refuse rather than silently override
        // the user's declared intent
        if (!c.enforced()) throw new UnsupportedOperationException(
          s"CHECK constraint '${c.name()}' is NOT ENFORCED — this store enforces " +
            "every stored constraint; drop the NOT ENFORCED clause, or keep " +
            "advisory rules in the expectations operator instead")
        (c.name(), Option(c.predicateSql()).getOrElse(
          throw new UnsupportedOperationException(
            s"CHECK constraint '${c.name()}' carries no SQL predicate")))
      case other => throw new UnsupportedOperationException(
        s"only enforced CHECK constraints are supported; got ${other.toDDL}")
    }

  private def createWithConstraints(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: java.util.Map[String, String],
                                    checks: Seq[(String, String)]): Table = {
    val spark = SparkSession.active
    val userProps = userPropertiesOf(properties)
    // Spark qualifies LOCATION to a URI (`file:/…`) before it reaches
    // the catalog — normalize to the store's scheme-free absolute form
    val location = Option(properties.get(TableCatalog.PROP_LOCATION))
      .map(raw => new org.apache.hadoop.fs.Path(raw.stripSuffix("/")).toUri.getPath)
      .filter(_.nonEmpty)
    val dir =
      if (isPathIdent(ident)) pathOf(ident)
      else location match {
        case None => namedDir(ident) // MANAGED: the chain lives in place
        case Some(loc) => // EXTERNAL: a `_location` pointer names the chain
          require(loc.startsWith("/") && !loc.contains(":") && !loc.contains(","),
            s"LOCATION must be a colon/comma-free absolute path, got '$loc'")
          val named = new org.apache.hadoop.fs.Path(namedDir(ident))
          val fs = hadoopFs(named)
          if (isTableDir(fs, named))
            throw new org.apache.spark.sql.catalyst.analysis
              .TableAlreadyExistsException(ident)
          val existing = Versioned.latestVersion(spark, loc).nonEmpty
          if (existing) require(schema.fields.isEmpty,
            s"a versioned chain already exists at $loc — register it with no " +
              "column list (CREATE TABLE … USING graft LOCATION), or pick a " +
              "fresh location to create with this schema")
          else require(schema.fields.nonEmpty,
            s"no versioned chain at $loc — give a column list to create one there")
          if (!existing)
            Versioned.createTable(spark, loc, schema, partColsOf(partitions),
              constraints = checks, props = userProps)
          // the pointer lands LAST: a crash before it leaves no
          // half-registered name (at worst an unregistered chain)
          fs.mkdirs(named)
          val out = fs.create(new org.apache.hadoop.fs.Path(named, LocationFile), false)
          try out.write((loc + "\n").getBytes("UTF-8")) finally out.close()
          return load(ident, None)
      }
    if (Versioned.latestVersion(spark, dir).nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
    Versioned.createTable(spark, dir, schema, partColsOf(partitions),
      constraints = checks, props = userProps)
    load(ident, None)
  }

  /** `ALTER TABLE … ADD COLUMNS / DROP COLUMN` — METADATA-ONLY
    * manifest commits ([[Versioned.addColumns]]/[[Versioned.dropColumns]]):
    * no data file is touched, the ALTER is itself a version (time
    * travel to the pre-ALTER schema keeps working), and existing
    * files null-backfill added columns on read. Everything else
    * (rename, type change, comments, properties) refuses with the
    * honest alternative: renames and type changes need a rewrite in a
    * name-addressed parquet store, not a metadata edit. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val spark = SparkSession.active
    val dir = pathOf(ident)
    // `ALTER TABLE … RENAME COLUMN a TO b` — METADATA-ONLY through the
    // store's column mapping ([[Versioned.renameColumns]]): no file is
    // touched, reads serve the new name, time travel keeps the old.
    // A rename statement carries exactly its RenameColumn changes, so
    // it routes whole (its own single commit) before the AlterSpec path.
    // `ALTER TABLE … SET/UNSET TBLPROPERTIES` — metadata-only commits
    // through the manifest's prop: lines (Delta's TBLPROPERTIES role);
    // a property statement carries exactly its property changes, so it
    // routes whole before the AlterSpec path, like renames
    val propSets = changes.collect { case s: TableChange.SetProperty => s }
    val propUnsets = changes.collect { case r: TableChange.RemoveProperty => r }
    if (propSets.nonEmpty || propUnsets.nonEmpty) {
      require(propSets.length + propUnsets.length == changes.length,
        "SET/UNSET TBLPROPERTIES cannot combine with other ALTER changes in one statement")
      if (propSets.nonEmpty)
        Versioned.setTableProperties(spark, dir,
          propSets.map(s => s.property() -> s.value()).toMap)
      if (propUnsets.nonEmpty)
        Versioned.unsetTableProperties(spark, dir, propUnsets.map(_.property()).toSeq)
      return loadTable(ident)
    }
    val renames = changes.collect { case r: TableChange.RenameColumn => r }
    if (renames.nonEmpty) {
      require(renames.length == changes.length,
        "RENAME COLUMN cannot combine with other ALTER changes in one statement")
      renames.foreach(r =>
        if (r.fieldNames.length != 1) throw new UnsupportedOperationException(
          s"cannot rename nested field ${r.fieldNames.mkString(".")} — top-level columns only"))
      Versioned.renameColumns(spark, dir,
        renames.map(r => r.fieldNames.head -> r.newName()).toSeq)
      return loadTable(ident)
    }
    // `ALTER COLUMN c TYPE DOUBLE` on a FLOAT column: the one ladder
    // step that cannot be metadata-only (exactness) — routes WHOLE to
    // the copy-on-write rewrite, its own overwrite version, exactly
    // like RENAME routes whole above
    val floatToDouble = changes.collect {
      case ut: TableChange.UpdateColumnType if ut.fieldNames.length == 1 &&
          ut.newDataType() == org.apache.spark.sql.types.DoubleType => ut
    }.filter { ut =>
      Versioned.latestVersion(spark, dir).flatMap(v =>
        Versioned.snapshot(spark, dir, v).logicalSchema).exists(sc =>
        sc.fieldNames.find(_.equalsIgnoreCase(ut.fieldNames.head))
          .exists(n => sc(n).dataType == org.apache.spark.sql.types.FloatType))
    }
    if (floatToDouble.nonEmpty) {
      require(floatToDouble.length == changes.length,
        "FLOAT → DOUBLE widening is a data REWRITE (floats have no exact " +
          "canonical stats as doubles) and cannot combine with other ALTER " +
          "changes in one statement")
      floatToDouble.foreach(ut =>
        Versioned.widenFloatToDoubleRewrite(spark, dir, ut.fieldNames.head))
      return loadTable(ident)
    }
    // refuse-first, commit-once: shape-level refusals here, then the
    // WHOLE statement — column adds/drops and constraint changes —
    // applies as ONE manifest commit ([[Versioned.alterTableAtomic]]),
    // whose semantic refusals (dv-key/partition/constraint-referenced
    // drops, constraint validation against existing rows) all fire
    // BEFORE anything commits. The earlier per-group commit shape
    // could leave an ALTER durably half-applied when a later group
    // refused.
    changes.foreach {
      case add: TableChange.AddColumn =>
        if (add.fieldNames.length != 1) throw new UnsupportedOperationException(
          s"cannot add nested field ${add.fieldNames.mkString(".")} — top-level columns only")
        if (add.position() != null) throw new UnsupportedOperationException(
          "FIRST/AFTER positions are not supported — new columns land after the " +
            "existing data columns (before any partition columns)")
        if (!add.isNullable) throw new UnsupportedOperationException(
          "added columns must be nullable: existing files have no values for them")
      case del: TableChange.DeleteColumn =>
        if (del.fieldNames.length != 1) throw new UnsupportedOperationException(
          s"cannot drop nested field ${del.fieldNames.mkString(".")} — top-level columns only")
      case _: TableChange.AddConstraint => // validated by checksOf below
      case _: TableChange.DropConstraint => ()
      case un: TableChange.UpdateColumnNullability =>
        if (un.fieldNames.length != 1) throw new UnsupportedOperationException(
          s"cannot alter nullability of nested field ${un.fieldNames.mkString(".")}")
      case ut: TableChange.UpdateColumnType =>
        if (ut.fieldNames.length != 1) throw new UnsupportedOperationException(
          s"cannot alter type of nested field ${ut.fieldNames.mkString(".")}")
      case ud: TableChange.UpdateColumnDefaultValue =>
        if (ud.fieldNames.length != 1) throw new UnsupportedOperationException(
          s"cannot alter default of nested field ${ud.fieldNames.mkString(".")}")
      case other => throw new UnsupportedOperationException(
        s"versioned ALTER TABLE supports ADD COLUMNS, DROP COLUMN, RENAME COLUMN, " +
          s"SET/DROP NOT NULL, and ADD/DROP CONSTRAINT … CHECK only; got $other. " +
          "Type changes rewrite instead: REPLACE TABLE … AS SELECT")
    }
    val adds = changes.collect { case a: TableChange.AddColumn =>
      val md = Option(a.defaultValue()) match {
        case Some(dv) =>
          // CURRENT_DEFAULT serves future INSERTs (re-evaluated per
          // statement); EXISTS_DEFAULT serves the rows in files that
          // pre-date the column and is FOLDED to the ADD-time
          // constant — `DEFAULT CURRENT_DATE` must fill old rows with
          // the date of the ALTER, not of each later read
          val existsSql = Option(dv.getValue)
            .map(lv => org.apache.spark.sql.catalyst.expressions
              .Literal(lv.value, lv.dataType).sql)
            .getOrElse(dv.getSql)
          new org.apache.spark.sql.types.MetadataBuilder()
            .putString("CURRENT_DEFAULT", dv.getSql)
            .putString("EXISTS_DEFAULT", existsSql)
            .build()
        case None => org.apache.spark.sql.types.Metadata.empty
      }
      org.apache.spark.sql.types.StructField(a.fieldNames.head, a.dataType,
        nullable = true, metadata = md) }
    val (delIfExists, delStrict) = changes.collect {
      case d: TableChange.DeleteColumn => d }
      .partition(d => d.ifExists != null && d.ifExists.booleanValue())
    val dropNames = delStrict.map(_.fieldNames.head) ++ {
      val have = Versioned.snapshot(spark, dir,
        Versioned.latestVersion(spark, dir).getOrElse(
          throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
            (ident.namespace() :+ ident.name()).toSeq))).schema
        .map(_.fieldNames.map(_.toLowerCase).toSet).getOrElse(Set.empty)
      delIfExists.map(_.fieldNames.head).filter(n => have.contains(n.toLowerCase))
    }
    val addChecks = changes.collect { case ac: TableChange.AddConstraint => ac }
      .flatMap(ac => checksOf(Array(ac.constraint())))
    val dropChecks = changes.collect { case dc: TableChange.DropConstraint =>
      (dc.name(), dc.ifExists()) }
    val setNn = changes.collect {
      case un: TableChange.UpdateColumnNullability if !un.nullable() => un.fieldNames.head }
    val dropNn = changes.collect {
      case un: TableChange.UpdateColumnNullability if un.nullable() => un.fieldNames.head }
    // `ALTER COLUMN … TYPE` — metadata-only widenings (the integral
    // ladder / to double); anything else refuses inside with the
    // rewrite alternative named
    val widens = changes.collect {
      case ut: TableChange.UpdateColumnType => (ut.fieldNames.head, ut.newDataType()) }
    // SET DEFAULT / DROP DEFAULT: future INSERTs only — EXISTS_DEFAULT
    // (what pre-column files read) is pinned at ADD COLUMN time
    val setDefaults = changes.collect {
      case ud: TableChange.UpdateColumnDefaultValue =>
        (ud.fieldNames.head,
          Option(ud.newCurrentDefault()).map(_.getSql).filter(s => s != null && s.nonEmpty))
    }
    Versioned.alterTableAtomic(spark, dir,
      Versioned.AlterSpec(adds, dropNames, addChecks, dropChecks, setNn, dropNn,
        widenCols = widens, setDefaults = setDefaults))
    load(ident, None)
  }

  /** `DROP TABLE` — path-addressed and MANAGED named tables delete the
    * chain root ([[Versioned.dropTableChain]]); an EXTERNAL named
    * table drops only its `_location` pointer and the chain's bytes
    * stay (Delta's external-table contract). False = no such table. */
  override def dropTable(ident: Identifier): Boolean = {
    val spark = SparkSession.active
    if (isPathIdent(ident)) Versioned.dropTableChain(spark, pathOf(ident))
    else {
      val named = new org.apache.hadoop.fs.Path(namedDir(ident))
      val fs = hadoopFs(named)
      if (fs.exists(new org.apache.hadoop.fs.Path(named, LocationFile)))
        fs.delete(named, true) // the pointer dir only — the chain stays
      else Versioned.dropTableChain(spark, named.toString)
    }
  }

  /** `ALTER TABLE … RENAME TO` — an EXTERNAL named table renames by
    * moving its tiny pointer dir (pure metadata, Delta-with-metastore
    * semantics). Managed and path-addressed tables refuse with the
    * remedy: their name IS their storage location, and renaming would
    * move every byte (object stores have no atomic dir move). */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (isPathIdent(oldIdent) || isPathIdent(newIdent))
      throw new UnsupportedOperationException(
        s"catalog '$catName' path-addressed tables cannot rename — the identifier " +
          "IS the chain directory; register the path as an external NAMED table " +
          "(CREATE TABLE db.t USING graft LOCATION …) and rename that")
    val oldDir = new org.apache.hadoop.fs.Path(namedDir(oldIdent))
    val newDir = new org.apache.hadoop.fs.Path(namedDir(newIdent))
    val fs = hadoopFs(oldDir)
    if (!isTableDir(fs, oldDir))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        (oldIdent.namespace() :+ oldIdent.name()).toSeq)
    if (!fs.exists(new org.apache.hadoop.fs.Path(oldDir, LocationFile)))
      throw new UnsupportedOperationException(
        s"table ${oldIdent.toString} is MANAGED — its name is its storage " +
          "location, and renaming would move the whole chain; DEEP CLONE to the " +
          "new name (or make the table external) instead")
    if (fs.exists(newDir))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(newIdent)
    require(fs.exists(newDir.getParent) || fs.mkdirs(newDir.getParent),
      s"cannot create namespace dir ${newDir.getParent}")
    require(fs.rename(oldDir, newDir),
      s"rename $oldDir -> $newDir failed at the filesystem")
  }

  /** The USER-set table properties of a CREATE, with Spark's reserved
    * bookkeeping keys (owner, provider, location, …) stripped — those
    * describe the catalog call, not the table. `option.`-prefixed keys
    * refuse: write options are per-statement, and persisting them as
    * properties would silently change later statements' behavior. */
  private def userPropertiesOf(properties: java.util.Map[String, String])
      : Map[String, String] = {
    val foreign = new java.util.HashMap[String, String](properties)
    foreign.remove(TableCatalog.PROP_OWNER)
    foreign.remove(TableCatalog.PROP_PROVIDER)
    foreign.remove(TableCatalog.PROP_LOCATION)
    foreign.remove(TableCatalog.PROP_EXTERNAL)
    foreign.remove(TableCatalog.PROP_COMMENT)
    import scala.jdk.CollectionConverters._
    val m = foreign.asScala.toMap
    m.keys.find(_.toLowerCase.startsWith("option.")).foreach(k =>
      throw new UnsupportedOperationException(
        s"'$k' is a write option, not a table property — pass it per statement"))
    m
  }

  /** The STAGING seams (CTAS/RTAS) don't thread properties into their
    * atomic commit — refuse rather than silently drop, with the
    * working path named. */
  private def requireNoProperties(properties: java.util.Map[String, String]): Unit =
    if (userPropertiesOf(properties).nonEmpty)
      throw new UnsupportedOperationException(
        s"CTAS/RTAS does not carry TBLPROPERTIES " +
          s"(got ${userPropertiesOf(properties).keys.mkString(", ")}) — create, " +
          "then ALTER TABLE … SET TBLPROPERTIES (one metadata commit)")

  // ── atomic CTAS / RTAS: the StagingTableCatalog seam ──
  // The SQL insert writes parquet into a nonce'd INVISIBLE dir claimed
  // from the store, and commitStagedChanges publishes it as ONE
  // manifest commit — version 0 for CREATE AS SELECT (a racing
  // creator makes the v0 claim fail), the next overwrite version for
  // REPLACE AS SELECT (the replace is history: the pre-replace table
  // still time-travels). A crashed or aborted CTAS leaves only an
  // invisible orphan for pruneVersions — never a half-created table.

  // the TableInfo forms refuse inline constraints rather than let the
  // default chain silently drop them: a CTAS's rows were never
  // validated against the constraint — CREATE with the constraint,
  // then INSERT (validated), or ALTER … ADD CONSTRAINT after (which
  // validates the existing rows)
  private def noCtasConstraints(info: TableInfo): Unit =
    if (info.constraints().nonEmpty) throw new UnsupportedOperationException(
      "CREATE TABLE … AS SELECT with constraints is not supported: create the " +
        "table with the constraint and INSERT (each insert validates), or add the " +
        "constraint after the CTAS (ALTER validates the existing rows)")

  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable = {
    noCtasConstraints(info)
    stageCreate(ident, schemaWithGeneration(info), info.partitions(), info.properties())
  }

  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable = {
    noCtasConstraints(info)
    stageReplace(ident, schemaWithGeneration(info), info.partitions(), info.properties())
  }

  override def stageCreateOrReplace(ident: Identifier, info: TableInfo): StagedTable = {
    noCtasConstraints(info)
    stageCreateOrReplace(ident, schemaWithGeneration(info), info.partitions(),
      info.properties())
  }

  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): StagedTable = {
    val spark = SparkSession.active
    requireNoProperties(properties)
    if (Versioned.latestVersion(spark, pathOf(ident)).nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
    new VersionedStagedTable(spark, pathOf(ident), schema,
      partColsOf(partitions), fresh = true)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: java.util.Map[String, String]): StagedTable = {
    val spark = SparkSession.active
    requireNoProperties(properties)
    if (Versioned.latestVersion(spark, pathOf(ident)).isEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        (ident.namespace() :+ ident.name()).toSeq)
    new VersionedStagedTable(spark, pathOf(ident), schema,
      partColsOf(partitions), fresh = false)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: java.util.Map[String, String]): StagedTable = {
    val spark = SparkSession.active
    requireNoProperties(properties)
    new VersionedStagedTable(spark, pathOf(ident), schema, partColsOf(partitions),
      fresh = Versioned.latestVersion(spark, pathOf(ident)).isEmpty)
  }
}

/** The one table-construction seam: every serving tier (catalog
  * identifiers, the `format("graft")` batch provider) resolves a
  * chain root + optional version to the SAME tiered Table — skipping
  * index, partitioned manifest index, dv mask, legacy fallback. */
private[sql] object VersionedTableLoader {

  def tableForPath(spark: SparkSession, dir: String, version: Option[String],
                   display: String): Table = {
    val vs = Versioned.versions(spark, dir)
    if (vs.isEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(Seq(dir))
    val v = version.map { raw =>
      val n = try raw.trim.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"VERSION AS OF wants an integer version, got '$raw'")
      }
      require(vs.contains(n), s"no version $n at $dir (have ${vs.mkString(",")})")
      n
    }.getOrElse(vs.last)
    val snap = Versioned.snapshot(spark, dir, v)
    // enforced NOT NULL columns serve as non-nullable SCHEMA — Spark's
    // ANSI store assignment then injects the plan-side runtime null
    // check into every SQL write (the commit-time footer check stays
    // the uniform backstop), and readers see the real contract.
    // Everything in the snapshot is PHYSICAL names — nullability marks
    // first (notNull is physical too), THEN the schema renames to logical.
    val logicalSchema = snap.schema.map { s =>
      val marked =
        if (snap.notNull.isEmpty) s
        else StructType(s.fields.map(f =>
          if (snap.notNull.exists(_.equalsIgnoreCase(f.name))) f.copy(nullable = false)
          else f))
      Versioned.toLogicalSchema(marked, snap.colMap)
    }
    val tableName = s"$display.$dir@v$v"
    val base: Table with SupportsRead = logicalSchema match {
      case Some(schema) if snap.partitionCols.nonEmpty =>
        // PARTITIONED chain: the files hold only data columns — the
        // partition values live in the per-commit hive subtrees and
        // the manifest. Spark's own discovery refuses this layout
        // (sibling nonce'd roots → CONFLICTING_DIRECTORY_STRUCTURES),
        // so the tier is served by the MANIFEST-BACKED partitioning
        // index plugged into Spark's public ParquetScanBuilder: the
        // native partitioned scan (PartitionFilters pruning,
        // vectorized read, row-group pushdown) planned from manifest
        // bytes, plus per-file stats skipping on the survivors. A
        // RENAMED chain's mapping rides the same seam as the flat
        // tier (partition columns themselves never rename, so the
        // hive layout and PartitionFilters stay name-stable).
        new PartitionedVersionedTable(tableName, spark, dir, snap, schema)
      case Some(schema) =>
        new SkippingTable(tableName, spark, dir, snap, schema)
      case None =>
        // pre-schema manifest: mergeSchema fallback, exactly like the
        // library read path — correct, with the legacy plan-time cost.
        // WRAPPED rather than returned raw: ParquetTable implements
        // SupportsWrite with a DIRECT file write into its paths, which
        // against this store would add files to an immutable data dir
        // — visible to every version referencing it, history rewritten.
        // The wrapper serves reads through the native table and routes
        // writes through the manifest commit like every other tier.
        new LegacyVersionedTable(VersionedSqlUtil.parquetTable(tableName, spark,
          new CaseInsensitiveStringMap(java.util.Map.of("mergeSchema", "true")),
          snap.dataDirs, None), spark, dir, snap)
    }
    if (snap.dvDirs.isEmpty && snap.scopedDvs.isEmpty && snap.posDvs.isEmpty) base
    else new DvMaskedTable(base, base.schema(), spark, dir, snap)
  }
}

/** One staged CTAS/RTAS target: the write lands in a claimed
  * invisible dir (hive-laid-out for a partitioned create), and
  * commit publishes it atomically through [[Versioned.commitStagedTable]]
  * — which also handles the zero-row result as a metadata-only
  * commit. Abort just deletes the staged dir (it was never visible). */
private[sql] class VersionedStagedTable(spark: SparkSession, dir: String,
                                        declared: StructType, partCols: Seq[String],
                                        fresh: Boolean)
  extends StagedTable with SupportsWrite {

  private val staged = Versioned.stageDataDir(spark, dir)
  private def stagedPath = new org.apache.hadoop.fs.Path(
    new org.apache.hadoop.fs.Path(dir), staged)

  override def name(): String = s"staged:$dir"
  override def schema(): StructType = declared
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.V1_BATCH_WRITE,
      TableCapability.BATCH_READ, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsOverwrite {
      // the CTAS/RTAS insert arrives as overwrite-by-AlwaysTrue; the
      // staged dir is empty by construction, so "truncate" is the
      // same write (a selective filter would be a partial replace of
      // a table that does not exist yet — refuse)
      override def canOverwrite(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
        filters.forall(_ == org.apache.spark.sql.sources.AlwaysTrue)
      override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter])
          : org.apache.spark.sql.connector.write.WriteBuilder = {
        require(canOverwrite(filters),
          s"staged CTAS write is whole-state only; got ${filters.mkString(", ")}")
        this
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
            new org.apache.spark.sql.sources.InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame,
                                  overwrite: Boolean): Unit = {
                val w = data.write.mode(org.apache.spark.sql.SaveMode.ErrorIfExists)
                (if (partCols.isEmpty) w else w.partitionBy(partCols: _*))
                  .parquet(stagedPath.toString)
              }
            }
        }
    }

  override def commitStagedChanges(): Unit = {
    Versioned.commitStagedTable(spark, dir, staged, declared, partCols, fresh)
    ()
  }

  override def abortStagedChanges(): Unit = {
    val fs = stagedPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(stagedPath, true)
    ()
  }
}

private[sql] object VersionedSqlUtil {
  def parquetTable(name: String, spark: SparkSession,
                   options: CaseInsensitiveStringMap, paths: Seq[String],
                   schema: Option[StructType])
      : org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable =
    org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable(
      name, spark, options, paths, schema,
      classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat])
}

/** `DELETE FROM versioned.&#96;path&#96; WHERE k = … / k IN (…)` — SQL
  * row-level deletes routed to the store's deletion-vector commit
  * ([[Versioned.deleteByKeysScoped]]): no data file is touched, the
  * delete is one key-set write + one manifest commit, and time travel
  * to pre-delete versions still serves the rows — the Delta SQL
  * surface (`DELETE FROM`) over this store's own mechanism.
  *
  * Routing, decided at ANALYSIS time via canDeleteWhere: an
  * unfiltered `DELETE FROM t` truncates (one EMPTY overwrite commit,
  * schema kept — the same "new version, history intact" shape as
  * every other write); equality/IN on ONE column routes to the
  * KEY-SET mask (plus redundant IsNotNull on the same column, which
  * the optimizer adds); every OTHER fully-translatable predicate —
  * range, multi-column, string — routes to a POSITIONAL deletion
  * vector ([[Versioned.deleteWherePositional]]): one candidate-file
  * stats prune, one scan recording `(file, row_index)` per matching
  * row, one sidecar commit — Delta's row-index DV design, still zero
  * data rewrite. Only a predicate Spark cannot translate to filters
  * at all falls through to the copy-on-write rewrite path
  * ([[VersionedRowOps]]).
  *
  * Semantics: SQL DELETE removes the rows that exist NOW — the mask
  * is SCOPED to the data dirs present at commit time
  * ([[Versioned.deleteByKeysScoped]]), so a later INSERT of a deleted
  * key is visible, exactly the reference's SQL DELETE behavior. The
  * library's unscoped [[Versioned.deleteByKeys]] keeps the key-level
  * erasure contract for GDPR-style workloads. The delete inherits the
  * dv size contract (`spark.graft.dv.maxKeys`). */
private[sql] trait VersionedDeletes extends org.apache.spark.sql.connector.catalog.SupportsDelete {
  protected def vdSpark: SparkSession
  protected def vdDir: String
  protected def vdSchema: StructType

  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    VersionedDeletes.plan(vdSchema, filters).isDefined

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit =
    VersionedDeletes.plan(vdSchema, filters) match {
      case Some(VersionedDeletes.Truncate) => // DELETE FROM t (no WHERE): truncate commit.
        // METADATA-ONLY empty overwrite: keeps the recorded schema, the
        // PARTITION SPEC (a plain unpartitioned writeVersion here would
        // silently downgrade a partitioned chain's layout and later
        // inserts would land flat), and everything else a data
        // overwrite keeps — a truncate is a DATA change, not a
        // definition change
        Versioned.truncate(vdSpark, vdDir)
        ()
      case Some(VersionedDeletes.KeyMask(keyCol, values)) =>
        if (values.nonEmpty) {
          import org.apache.spark.sql.functions.col
          val dt = vdSchema(keyCol).dataType
          // keys as LOCAL ROWS, typed to the TABLE column (an
          // int-literal delete against a bigint key must write bigint
          // dv keys, or the in-reader mask's typed contains() would
          // never match). NOT array(lit, lit, …): a thousands-child
          // literal expression tree costs seconds of analysis/codegen
          // per DELETE — measured 5.6 s vs 0.9 s for the comparable
          // INSERT workload before this form.
          import scala.jdk.CollectionConverters._
          val litType = org.apache.spark.sql.catalyst.expressions.Literal(values.head).dataType
          val rows = values.map(v => org.apache.spark.sql.Row(v)).toList.asJava
          val keys = vdSpark.createDataFrame(rows,
              StructType(Seq(org.apache.spark.sql.types.StructField(keyCol, litType))))
            .select(col(keyCol).cast(dt).as(keyCol))
          Versioned.deleteByKeysScoped(vdSpark, vdDir, keys, keyCol)
        }
        ()
      case Some(VersionedDeletes.Positional(fs)) =>
        // any-predicate metadata delete: positions, not keys — one
        // sidecar commit, zero data rewrite (Delta's row-index DVs)
        Versioned.deleteWherePositional(vdSpark, vdDir, fs)
        ()
      case None => throw new UnsupportedOperationException(
        s"versioned DELETE takes a filter-translatable predicate (key mask or " +
          s"positional deletion vector); got ${filters.mkString(", ")} — rewrite " +
          "instead: INSERT OVERWRITE the filtered read")
    }
}

/** STREAMING BY TABLE NAME — `spark.readStream.table("cat.db.t")` /
  * `df.writeStream.toTable("cat.db.t")`, Delta's day-one streaming
  * surface. The serving tables report batch capabilities only, so
  * Spark's resolution consults this [[org.apache.spark.sql.connector.catalog.V2TableWithV1Fallback]]
  * seam: the analyzer (RelationResolution) wraps the returned
  * CatalogTable as a streaming UnresolvedCatalogRelation, which
  * FindDataSourceTable turns into a V1 StreamingRelation over the
  * recorded `provider` ("graft") with `path` from the storage
  * location — landing on the SAME
  * [[VersionedStreamProvider]] source/sink (admission control,
  * per-version-delta offsets, exactly-once txn sink) the
  * `format("graft")` surface serves. DataStreamWriter.toTable routes
  * the sink through the identical fallback. One caveat, documented:
  * per-stream READER options (maxFilesPerTrigger, startingVersion,
  * readChangeFeed) do not traverse the by-name fallback — Spark
  * builds the fallback relation from the CatalogTable alone — so an
  * option-bearing stream uses `format("graft").load(dir)`; the
  * by-name surface is the zero-option common case. */
private[sql] trait GraftV1StreamFallback
    extends org.apache.spark.sql.GraftSqlShims.V2TableWithV1Fallback {
  protected def vdSpark: SparkSession
  protected def vdDir: String
  protected def vdSchema: StructType

  /** The user-addressed identifier, stamped by the catalog's load —
    * the engine RESOLVES this identifier after every sink batch
    * (refreshTable), so it must be the real catalog name. The
    * synthetic fallback only serves loads that bypassed a catalog
    * (never consulted for streaming there). */
  @volatile private var streamIdent
      : Option[org.apache.spark.sql.catalyst.TableIdentifier] = None
  private[sql] def withStreamIdent(
      id: org.apache.spark.sql.catalyst.TableIdentifier): Unit =
    streamIdent = Some(id)

  override def v1Table: org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType}
    val displayName = vdDir.substring(vdDir.lastIndexOf('/') + 1)
    CatalogTable(
      identifier = streamIdent.getOrElse(
        org.apache.spark.sql.catalyst.TableIdentifier(
          displayName, Some("graft_v1"))),
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty.copy(
        locationUri = Some(new org.apache.hadoop.fs.Path(vdDir).toUri)),
      schema = vdSchema,
      provider = Some("graft"))
  }
}

/** Reports the version's enforced CHECK constraints through DSv2
  * `Table.constraints()` — Spark's own `ResolveTableConstraints` then
  * injects plan-side enforcement into every SQL write against the
  * table (a violating INSERT fails in the write job, before the
  * store's commit-time backstop even runs). Constraints are read from
  * the loaded version's snapshot: what you travel to is what was
  * contractually true then. */
private[sql] trait ReportsCheckConstraints extends Table { this: VersionedDeletes =>
  /** The snapshot the table was planned from. */
  protected def vcSnapshot: Snapshot
  /** TBLPROPERTIES serve from the version's manifest — SHOW
    * TBLPROPERTIES / DESCRIBE EXTENDED read them here, versioned like
    * everything else (travel to an old version, see its properties). */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    vcSnapshot.properties.foreach { case (k, x) => m.put(k, x) }
    m
  }
  override def constraints(): Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    vcSnapshot.constraints.map { case (n, sql) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint.check(n)
        .predicateSql(sql)
        .enforced(true)
        .validationStatus(
          org.apache.spark.sql.connector.catalog.constraints.Constraint.ValidationStatus.VALID)
        .rely(true)
        .build(): org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray
}

private[sql] object VersionedDeletes {
  import org.apache.spark.sql.sources._

  sealed trait DeletePlan
  /** `DELETE FROM t` without WHERE: one empty overwrite commit. */
  case object Truncate extends DeletePlan
  /** Single-column equality/IN: the KEY-SET deletion-vector commit. */
  final case class KeyMask(col: String, values: Seq[Any]) extends DeletePlan
  /** Any other fully-translatable predicate: the POSITIONAL
    * deletion-vector commit (row indexes per file, zero rewrite). */
  final case class Positional(filters: Seq[Filter]) extends DeletePlan

  /** None = fall through to the copy-on-write rewrite path. */
  def plan(schema: StructType, filters: Array[Filter]): Option[DeletePlan] = {
    def conjuncts(f: Filter): Seq[Filter] = f match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other     => Seq(other)
    }
    val cs = filters.toSeq.flatMap(conjuncts).filterNot(_ == AlwaysTrue)
    if (cs.isEmpty) return Some(Truncate)
    val keyed = cs.collect {
      case EqualTo(a, v) if v != null       => (a, Seq(v))
      case EqualNullSafe(a, v) if v != null => (a, Seq(v))
      case In(a, vs) if vs.forall(_ != null) => (a, vs.toSeq)
    }
    val keyPlan = keyed match {
      case Seq((col, values)) =>
        val others = cs.filterNot {
          case EqualTo(a, _) => a == col
          case EqualNullSafe(a, _) => a == col
          case In(a, _) => a == col
          case IsNotNull(a) => a == col // optimizer-added, implied by the equality
          case _ => false
        }
        if (others.isEmpty && col.matches("[A-Za-z0-9_]+") &&
            schema.fieldNames.contains(col)) Some(KeyMask(col, values))
        else None
      case _ => None
    }
    keyPlan.orElse {
      // the positional path needs every conjunct expressible as a
      // Column over plain top-level columns — anything else must fall
      // through to the rewrite rather than delete the wrong rows
      val ok = cs.forall(f => graft.ext.Versioned.filterToColumn(f).isDefined &&
        f.references.forall(r =>
          r.matches("[A-Za-z0-9_]+") && schema.fieldNames.contains(r)))
      if (ok) Some(Positional(cs)) else None
    }
  }
}

/** SQL `UPDATE` and `MERGE INTO` (and non-key `DELETE`) — the
  * GROUP-BASED (copy-on-write) row-level operation seam, Delta's SQL
  * surface completed, with FILE-GRANULAR groups: Spark pushes the
  * statement's target-table condition into the row-level scan
  * ([[org.apache.spark.sql.execution.datasources.v2.GroupBasedRowLevelOperationScanPlanning]]
  * → PushDownUtils → our SupportsPushDownCatalystFilters), and this
  * seam uses it ONLY to select candidate FILES from the manifest's
  * per-file stats — every filter is returned as post-scan, because
  * the scan must serve EVERY row of a selected file (row-level
  * filtering inside the group would silently drop the unaffected
  * rows from the replacement; measured in round 9). The scan then
  * reads just those files (masked, schema'd), Spark computes the
  * replacement rows, and the write stages parquet via Spark's native
  * DSv2 parquet writer and commits remove(files)+add(files) through
  * [[graft.ext.Versioned.commitFileRewrite]] — a selective UPDATE on
  * a 100 TB table scans and rewrites only the files its predicate
  * touches, and the commit COMMUTES with concurrent appends to
  * disjoint files (the whole-table overwrite it replaces serialized
  * against every append).
  *
  * Fallbacks keep the old whole-table-group shape: no pushable
  * condition (MERGE whose ON references only the source side),
  * legacy manifests without file lists — the scan reads the whole
  * table and the commit is a full overwrite version, correct as
  * before.
  *
  * Composition with [[VersionedDeletes]]: Spark's optimizer still
  * routes key-shaped DELETEs (`k = …`, `k IN (…)`) to the METADATA
  * path — a deletion-vector commit, no data rewrite — and only
  * non-key predicates fall through to this copy-on-write rewrite.
  * Both are spec-pinned. */
private[sql] trait VersionedRowOps
  extends org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  this: Table with SupportsRead with VersionedDeletes =>

  /** Non-empty on partitioned chains: the replacement commit re-lands
    * hive-laid-out so a rewrite never downgrades the layout. */
  protected def vroPartCols: Seq[String] = Seq.empty

  /** The loaded version (the snapshot the rewrite scans). */
  protected def vcSnapshot: Snapshot

  /** Deletion vectors the table's scan applies — the rewrite captures
    * them as its snapshot so the commit can detect a concurrent
    * delete (whose mask the replacement rows would silently undo). */
  protected def vroDvDirs: Seq[(String, Seq[String])] = Seq.empty

  /** Scoped deletion vectors (SQL DELETEs), same snapshot role. */
  protected def vroScopedDvs: Seq[(String, String, Set[String])] = Seq.empty

  /** Positional deletion vectors (absolute dirs), same snapshot role
    * — AND the candidate scan must apply them, or an UPDATE would
    * resurrect position-deleted rows into its replacement files. */
  protected def vroPosDvs: Seq[String] = Seq.empty

  /** Column mapping (logical→physical) of a RENAMED table: the
    * candidate scan and the staged replacement files must both speak
    * physical; everything the analyzer sees stays logical. */
  protected def vroColMap: Map[String, String] = Map.empty

  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => {
      // DELTA-BASED first ([[GraftDeltaOperation]] — position masks +
      // appends, zero file rewrite): needs the manifest file lists
      // (row addressing) and the `_file`/`_pos` names free; legacy
      // manifests, shadowed names, and rowops.mode=cow keep the
      // group-based copy-on-write below
      val deltaOk = GraftDeltaOps.enabled(vdSpark) &&
        !RowIds.conflicts(vdSchema) &&
        !RowIds.conflicts(ColumnMapped.toPhysicalSchema(vdSchema, vroColMap)) &&
        Versioned.manifestPartitioningIndex(vdSpark, vcSnapshot).isDefined
      if (deltaOk)
        new GraftDeltaOperation(vdSpark, vdDir, vcSnapshot, vdSchema, vroPartCols,
          vroDvDirs, vroScopedDvs, vroPosDvs, vroColMap, info)
      else groupBasedOperation(info)
    }

  private def groupBasedOperation(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperation =
    new org.apache.spark.sql.connector.write.RowLevelOperation {
      // the one operation instance is shared between the scan and the
      // write (RowLevelOperationTable caches it): the scan records the
      // candidate-file group here, the write's commit replaces exactly
      // that group. None = the whole-table group (no pushable filter
      // or a legacy manifest).
      @volatile private var candidates: Option[Map[String, Set[String]]] = None

      override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command =
        info.command()

      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
        new ScanBuilder
          with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters {
          private val inner = VersionedRowOps.this.newScanBuilder(options)

          // the pushed GROUP FILTER selects files; EVERY filter is
          // returned as post-scan so no row of a selected file is
          // dropped from the replacement
          override def pushFilters(
              filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
              : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
            val translated = filters.flatMap(f =>
              org.apache.spark.sql.execution.datasources.GraftFilterShim.translate(f))
            candidates = Versioned.rowLevelCandidateFiles(vdSpark, vcSnapshot, translated)
            filters
          }
          override def pushedFilters()
              : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
            Array.empty

          override def build(): Scan = candidates match {
            case Some(files) =>
              // candidate-file scan: the manifest-backed subset index
              // into Spark's own parquet scan (no data filters pushed
              // — whole files, every row), masked like any read when
              // the version carries deletion vectors. A mapped table
              // scans under the PHYSICAL schema (the files' names) and
              // the read schema renames back to logical for the plan.
              val physSchema = ColumnMapped.toPhysicalSchema(vdSchema, vroColMap)
              val subsetIndex = Versioned.manifestPartitioningIndexSubset(
                vdSpark, vcSnapshot, files)
              val dataSchema = StructType(physSchema.fields.filterNot(f =>
                vroPartCols.contains(f.name)))
              val parquetBuilder =
                org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder(
                  vdSpark, subsetIndex, physSchema, dataSchema, options)
              val raw =
                if (vroDvDirs.isEmpty && vroScopedDvs.isEmpty && vroPosDvs.isEmpty)
                  parquetBuilder.build()
                else new DvScanBuilder(parquetBuilder, physSchema, vroDvDirs,
                  vroScopedDvs, vdDir, vroPosDvs).build()
              if (vroColMap.isEmpty) raw else new ColumnMappedScan(raw, vroColMap)
            case None => inner.build()
          }
        }

      override def newWriteBuilder(winfo: org.apache.spark.sql.connector.write.LogicalWriteInfo)
          : org.apache.spark.sql.connector.write.WriteBuilder =
        new ReplaceVersionWriteBuilder(vdSpark, vdDir, winfo, vroPartCols,
          () => candidates, vroDvDirs.flatMap { case (k, dirs) =>
            dirs.map(d => (k, d.substring(d.lastIndexOf('/') + 1)))
          } ++ vroScopedDvs.map { case (k, d, _) =>
            (k, d.substring(d.lastIndexOf('/') + 1))
          } ++ vroPosDvs.map(d =>
            (Versioned.PdvSnapshotKey, d.substring(d.lastIndexOf('/') + 1))),
          vroColMap)

      override def description(): String = s"VersionedReplace[$vdDir]"
    }
}

/** The ReplaceData write: Spark's own DSv2 parquet writer targets a
  * staged dir claimed from the store ([[Versioned.stageDataDir]] —
  * nonce'd, invisible, orphan-on-abort), and the batch commit
  * publishes it as the next overwrite version (footer harvest +
  * schema recording + atomic manifest commit). Distributed end to
  * end: executors write parquet as for any DSv2 file write; only the
  * manifest commit is driver-side. */
private[sql] class ReplaceVersionWriteBuilder(spark: SparkSession, dir: String,
                                              info0: org.apache.spark.sql.connector.write.LogicalWriteInfo,
                                              partCols: Seq[String] = Seq.empty,
                                              candidates: () => Option[Map[String, Set[String]]] =
                                                () => None,
                                              dvSnapshot: Seq[(String, String)] = Seq.empty,
                                              colMap: Map[String, String] = Map.empty)
  extends org.apache.spark.sql.connector.write.WriteBuilder {
  import org.apache.spark.sql.connector.write.{BatchWrite, PhysicalWriteInfo, WriterCommitMessage}

  // a mapped table's staged replacement files must carry the chain's
  // PHYSICAL names (a file-granular commit carries the untouched files
  // verbatim — mixing name spaces inside one version would corrupt the
  // union read). Rows are positional; only parquet column names change.
  private val info = ColumnMapped.physicalWriteInfo(info0, colMap)

  override def build(): org.apache.spark.sql.connector.write.Write = {
    val staged = Versioned.stageDataDir(spark, dir)
    val stagingPath = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(dir), staged)
    val delegate = VersionedSqlUtil.parquetTable(s"replace:$dir", spark,
        CaseInsensitiveStringMap.empty(), Seq(stagingPath.toString),
        Some(info.schema()))
      .newWriteBuilder(info).build()
    new org.apache.spark.sql.connector.write.Write {
      override def toBatch: BatchWrite = new BatchWrite {
        private val db = delegate.toBatch
        // Spark's group-based rewrites hand the writer the RAW query
        // rows — `__row_operation` first, table columns last — and
        // only apply ReplaceDataProjections when the connector
        // declared metadata columns (ReplaceDataExec.writingTask picks
        // the plain task otherwise). Project to the declared write
        // schema here, exactly as Spark's own projecting task would:
        // suffix-aligned (the rewrite appends table columns in order),
        // pass-through when widths already match (group-based DELETE).
        override def createBatchWriterFactory(p: PhysicalWriteInfo)
            : org.apache.spark.sql.connector.write.DataWriterFactory = {
          val inner = db.createBatchWriterFactory(p)
          val schema = info.schema()
          new org.apache.spark.sql.connector.write.DataWriterFactory {
            override def createWriter(partitionId: Int, taskId: Long)
                : org.apache.spark.sql.connector.write.DataWriter[InternalRow] = {
              val w = inner.createWriter(partitionId, taskId)
              new org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
                private var proj: org.apache.spark.sql.catalyst.ProjectingInternalRow = _
                override def write(row: InternalRow): Unit =
                  if (row.numFields == schema.length) w.write(row)
                  else {
                    if (proj == null) proj = org.apache.spark.sql.catalyst.ProjectingInternalRow(
                      schema, (row.numFields - schema.length) until row.numFields)
                    proj.project(row)
                    w.write(proj)
                  }
                override def commit(): WriterCommitMessage = w.commit()
                override def abort(): Unit = w.abort()
                override def close(): Unit = w.close()
              }
            }
          }
        }
        override def useCommitCoordinator: Boolean = db.useCommitCoordinator
        override def onDataWriterCommit(m: WriterCommitMessage): Unit =
          db.onDataWriterCommit(m)
        override def commit(messages: Array[WriterCommitMessage]): Unit = {
          db.commit(messages)
          val fs = stagingPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val hasContent = fs.exists(stagingPath) &&
            fs.listStatus(stagingPath).exists(_.getPath.getName.endsWith(".parquet"))
          candidates() match {
            case Some(removed) =>
              // FILE-GRANULAR copy-on-write: the scan read exactly the
              // candidate files, so the staged parquet is their full
              // replacement — commit remove(files)+add(dir), every
              // untouched file carried verbatim, commuting with
              // concurrent appends to disjoint files
              val replacement =
                if (!hasContent) None
                else if (partCols.isEmpty) Some(staged)
                else {
                  // partitioned chain: the rewrite wrote the
                  // replacement FLAT; re-land it hive-laid-out in a
                  // second staged dir before the commit
                  val df = spark.read.schema(info.schema()).parquet(stagingPath.toString)
                  if (df.isEmpty) { fs.delete(stagingPath, true); None }
                  else {
                    val landed = Versioned.stageDataDir(spark, dir)
                    df.write.partitionBy(partCols: _*)
                      .mode(org.apache.spark.sql.SaveMode.ErrorIfExists)
                      .parquet(new org.apache.hadoop.fs.Path(
                        new org.apache.hadoop.fs.Path(dir), landed).toString)
                    fs.delete(stagingPath, true)
                    Some(landed)
                  }
                }
              Versioned.commitFileRewrite(spark, dir, removed, replacement,
                partCols, dvSnapshot)
              return
            case None => // whole-table group: full overwrite below
          }
          // all rows removed (no file staged): a metadata-only
          // overwrite keeps the schema, the partition spec and the
          // table's contract with zero data dirs — a DATA rewrite, the
          // definition survives its own truncation
          if (!hasContent) { fs.delete(stagingPath, true); Versioned.truncate(spark, dir) }
          else if (partCols.isEmpty) Versioned.commitStagedOverwrite(spark, dir, staged)
          else {
            // PARTITIONED chain: the rewrite wrote the replacement
            // FLAT (partition values as ordinary columns in the
            // staged files); re-land it hive-laid-out through the
            // partitioned overwrite so a rewrite never downgrades the
            // layout (a 0-row staged file lands no partition: the
            // overwrite commits metadata-only). The flat dir is
            // deleted after the commit — a crash in between leaves it
            // as an invisible nonce'd orphan for pruneVersions.
            Versioned.writeVersion(
              spark.read.schema(info.schema()).parquet(stagingPath.toString), dir,
              org.apache.spark.sql.SaveMode.Overwrite, partCols)
            fs.delete(stagingPath, true)
          }
          ()
        }
        override def abort(messages: Array[WriterCommitMessage]): Unit =
          db.abort(messages) // staged dir stays an invisible orphan
      }
    }
  }
}

/** The PARTITIONED-chain tier: reads through Spark's own
  * `ParquetScanBuilder` over the manifest-backed
  * [[graft.ext.ManifestPartitioningIndex]] — native partition-pruned
  * plans with zero listing. Full read+write surface: `INSERT INTO`
  * appends a hive-laid-out commit matching the recorded spec
  * (commutative OCC append), `INSERT OVERWRITE` replaces state with
  * a fresh partitioned version, key DELETEs commit deletion vectors,
  * and row-level rewrites (UPDATE / MERGE / non-key DELETE) go
  * through the copy-on-write seam with the replacement RE-LANDED
  * hive-laid-out ([[ReplaceVersionWriteBuilder]]'s partitioned
  * commit) — a rewrite never downgrades the layout. */
private[sql] class PartitionedVersionedTable(tableName: String, spark: SparkSession,
                                             dir: String, snap: Snapshot,
                                             fullSchema: StructType)
  extends Table with SupportsRead with SupportsWrite with VersionedDeletes
    with VersionedRowOps with ReportsCheckConstraints
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with GraftV1StreamFallback {

  override protected def vdSpark: SparkSession = spark
  override protected def vdDir: String = dir
  override protected def vdSchema: StructType = fullSchema
  override protected def vcSnapshot: Snapshot = snap
  private def partCols = snap.partitionCols
  private def colMap = snap.colMap
  override protected def vroPartCols: Seq[String] = partCols
  override protected def vroColMap: Map[String, String] = colMap

  override def name(): String = tableName
  override def schema(): StructType = fullSchema
  override def partitioning(): Array[Transform] =
    partCols.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(c)).toArray
  override def capabilities(): java.util.Set[TableCapability] =
    VersionedWrite.capabilities

  // `_file`/`_pos` row-address metadata ([[RowIds]]); partitioned
  // chains always carry the manifest index this tier needs
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    if (RowIds.conflicts(fullSchema) ||
        RowIds.conflicts(ColumnMapped.toPhysicalSchema(fullSchema, colMap)))
      Array.empty
    else RowIds.metadataColumns

  // a RENAMED chain's inner scan runs under the PHYSICAL schema (the
  // files' names; partition columns never rename, so the partition
  // index is name-stable) and [[ColumnMappedScanBuilder]] translates
  // at the seam, exactly as in [[SkippingTable]]
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val physSchema = ColumnMapped.toPhysicalSchema(fullSchema, colMap)
    val inner = new ManifestStatsScanBuilder(
      org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder(
        spark, Versioned.manifestPartitioningIndex(spark, snap).get, physSchema,
        StructType(physSchema.fields.filterNot(f => partCols.contains(f.name))),
        options),
      snap.sizeStats, dir)
    if (colMap.isEmpty) inner
    else new ColumnMappedScanBuilder(inner, colMap)
  }

  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new VersionedWriteBuilder(spark, dir, partCols, Some(info))
}

/** DSv2 `SupportsReportStatistics` from MANIFEST BYTES: the manifest
  * records every version's exact rows and file bytes, so a scan with
  * nothing pushed reports them exactly and Spark plans a broadcast
  * against a small versioned table UP FRONT — the same planning
  * Delta's tables get — instead of relying on AQE's runtime detour.
  * Once filters or an aggregate are pushed the exact numbers no
  * longer describe the scan, and the native estimate (file-index
  * bytes) serves as before. */
private[sql] class ManifestStatsScanBuilder(
    inner: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder,
    rowsAndBytes: Option[(Long, Long)],
    // the table root, for `_file`/`_pos` metadata-column serving
    // ([[RowIds]]); "" = this tier never sees them (e.g. a path whose
    // table did not declare them)
    tableDir: String = "")
  extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownVariantExtractions {

  private var exactStillValid = true
  private var rowIdsRequested: StructType = null // null = plain read

  override def pruneColumns(req: StructType): Unit = {
    if (RowIds.requestedIn(req, inner.schema).nonEmpty) rowIdsRequested = req
    inner.pruneColumns(RowIds.strip(req, inner.schema))
  }
  override def pushFilters(filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    if (filters.nonEmpty) exactStillValid = false
    inner.pushFilters(filters)
  }
  override def pushedFilters(): Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    inner.pushedFilters
  override def pushAggregation(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    val pushed = inner.pushAggregation(agg)
    if (pushed) exactStillValid = false
    pushed
  }
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    inner.supportCompletePushDown(agg)
  override def pushVariantExtractions(
      variantExtractions: Array[org.apache.spark.sql.connector.read.VariantExtraction]): Array[Boolean] =
    inner.pushVariantExtractions(variantExtractions)

  override def build(): Scan = {
    val scan = inner.build()
    val base = rowsAndBytes match {
      case Some((rows, bytes)) if exactStillValid =>
        new ManifestStatsScan(scan, rows, bytes)
      case _ => scan
    }
    // `_file`/`_pos` requested on a mask-free table: the same serving
    // tier the dv scans use, with no masks — row-index injection plus
    // the partition-constant file slot
    if (rowIdsRequested == null) base
    else new DvMaskedScan(base, rowIdsRequested, Nil, Nil, tableDir, Nil,
      serveRowIds = true)
  }
}

/** The stats-reporting wrapper around Spark's own parquet scan:
  * everything delegates, only `estimateStatistics` answers from the
  * manifest's exact numbers. */
private[graft] class ManifestStatsScan(val inner: Scan, rows: Long, bytes: Long)
  extends Scan with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
  override def readSchema(): StructType = inner.readSchema()
  override def description(): String = inner.description()
  override def toBatch: Batch = inner.toBatch
  // runtime (join-derived) filters pass straight through — the stats
  // wrapper must not cost the native scan its dynamic file pruning
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    inner match {
      case r: org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering =>
        r.filterAttributes()
      case _ => Array.empty
    }
  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    inner match {
      case r: org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering =>
        r.filter(predicates)
      case _ => ()
    }
  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    inner.supportedCustomMetrics()
  override def reportDriverMetrics(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    inner.reportDriverMetrics()
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    inner.columnarSupportMode()
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rows)
    }
}

/** Tier-1 serving: Spark's native parquet v2 table, gated by manifest
  * data skipping — see [[SkippingScanBuilder]]. */
private[sql] class SkippingTable(tableName: String, spark: SparkSession,
                                 dir: String, snap: Snapshot,
                                 fullSchema: StructType)
  extends Table with SupportsRead with SupportsWrite with VersionedDeletes
    with VersionedRowOps with ReportsCheckConstraints
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with GraftV1StreamFallback {

  override protected def vdSpark: SparkSession = spark
  override protected def vdDir: String = dir
  override protected def vdSchema: StructType = fullSchema
  override protected def vcSnapshot: Snapshot = snap
  private def colMap = snap.colMap
  override protected def vroColMap: Map[String, String] = colMap

  override def name(): String = tableName
  override def schema(): StructType = fullSchema
  override def capabilities(): java.util.Set[TableCapability] =
    VersionedWrite.capabilities

  // `_file`/`_pos` row-address metadata ([[RowIds]]) — hidden when a
  // data column claims either name in LOGICAL or PHYSICAL space (a
  // physical `_file` would collide inside the pruned parquet schema)
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    if (RowIds.conflicts(fullSchema) ||
        RowIds.conflicts(ColumnMapped.toPhysicalSchema(fullSchema, colMap)) ||
        Versioned.manifestPartitioningIndex(spark, snap).isEmpty)
      Array.empty
    else RowIds.metadataColumns

  // the manifest-backed index when the manifest carries file lists
  // (every commit from this code): the native parquet scan planned
  // with ZERO filesystem metadata calls, dir- AND per-FILE stats
  // skipping applied to the pushed filters in the index's listFiles.
  // Pre-file-list manifests fall back to the listing tier
  // ([[SkippingScanBuilder]] — dir-level skipping, then a listed scan
  // of the survivors) until backfillStats upgrades the table.
  //
  // A RENAMED table (colMap non-empty) builds the inner parquet scan
  // under the PHYSICAL schema — the files, footer stats and row-group
  // pushdown all speak physical — and [[ColumnMappedScanBuilder]]
  // translates exactly two things at the seam: requested columns and
  // pushed predicates logical→physical on the way down, the read
  // schema physical→logical on the way up. Rows are positional; no
  // per-row work is added. (renameColumns refuses pre-file-list
  // chains, so the fallback tier never sees a mapping.)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    Versioned.manifestPartitioningIndex(spark, snap) match {
      case Some(index) =>
        val physSchema = ColumnMapped.toPhysicalSchema(fullSchema, colMap)
        val inner = new ManifestStatsScanBuilder(
          org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder(
            spark, index, physSchema, physSchema, options),
          snap.sizeStats, dir)
        if (colMap.isEmpty) inner
        else new ColumnMappedScanBuilder(inner, colMap)
      case None =>
        new SkippingScanBuilder(spark, tableName, options, dir, snap.version, snap.dataDirs,
          fullSchema)
    }

  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new VersionedWriteBuilder(spark, dir, info = Some(info))
}

/** The column-mapping seam helpers shared by the mapped scan/write
  * wrappers: pure name translation, no row-level work anywhere. */
private[graft] object ColumnMapped {
  import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}

  /** logical-named struct → physical-named and back — ONE
    * implementation, in the store ([[Versioned]]); these are aliases
    * so the scan wrappers and the catalog load can never diverge. */
  def toPhysicalSchema(s: StructType, m: Map[String, String]): StructType =
    Versioned.toPhysicalSchema(s, m)

  def toLogicalSchema(s: StructType, m: Map[String, String]): StructType =
    Versioned.toLogicalSchema(s, m)

  def renameAttrs(e: Expression, m: Map[String, String]): Expression =
    e.transform {
      case a: AttributeReference if m.contains(a.name) => a.withName(m(a.name))
    }

  /** Rebuild a CONNECTOR (v2) expression with top-level field
    * references renamed — the runtime-filter seam speaks v2
    * expressions, which have no transform API. None for a node kind
    * this doesn't know (the caller then skips that predicate — a
    * runtime filter is an optimization, never a correctness need). */
  def renameV2(e: org.apache.spark.sql.connector.expressions.Expression,
               m: Map[String, String])
      : Option[org.apache.spark.sql.connector.expressions.Expression] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, GeneralScalarExpression, Literal, NamedReference}
    e match {
      // Predicate extends GeneralScalarExpression: match it first
      case p: org.apache.spark.sql.connector.expressions.filter.Predicate =>
        val kids = p.children().map(c => renameV2(c, m))
        if (kids.exists(_.isEmpty)) None
        else Some(new org.apache.spark.sql.connector.expressions.filter.Predicate(
          p.name(), kids.map(_.get)))
      case g: GeneralScalarExpression =>
        val kids = g.children().map(c => renameV2(c, m))
        if (kids.exists(_.isEmpty)) None
        else Some(new GeneralScalarExpression(g.name(), kids.map(_.get)))
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        Some(Expressions.column(m.getOrElse(nr.fieldNames()(0), nr.fieldNames()(0))))
      case nr: NamedReference if !m.contains(nr.fieldNames()(0)) =>
        Some(nr) // nested ref whose top level is unmapped
      case l: Literal[_] => Some(l)
      case _ => None // unknown node kind: the caller skips the predicate
    }
  }

  /** A [[org.apache.spark.sql.connector.write.LogicalWriteInfo]] whose
    * schema carries the PHYSICAL names — handed to the staged-file
    * writers of a mapped table so their bytes match the chain. */
  def physicalWriteInfo(info: org.apache.spark.sql.connector.write.LogicalWriteInfo,
                        m: Map[String, String])
      : org.apache.spark.sql.connector.write.LogicalWriteInfo =
    if (m.isEmpty) info
    else new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def queryId(): String = info.queryId()
      override def options(): CaseInsensitiveStringMap = info.options()
      override def schema(): StructType = toPhysicalSchema(info.schema(), m)
      override def rowIdSchema(): java.util.Optional[StructType] = info.rowIdSchema()
      override def metadataSchema(): java.util.Optional[StructType] = info.metadataSchema()
    }
}

/** The mapped read seam: delegates pruning and pushdown to the inner
  * (physical-schema) builder with names translated logical→physical,
  * and serves the built scan's read schema back under the logical
  * names. Pushed predicates are ALSO returned as post-scan filters
  * (one-sided as everywhere in this store: the physical pushdown only
  * prunes files/row-groups; Spark re-evaluates on the logical rows,
  * which it does for parquet data filters anyway). Aggregate pushdown
  * is deliberately not forwarded — its connector expressions would
  * need their own translation layer for a rarely-hit optimization. */
private[sql] class ColumnMappedScanBuilder(inner: ManifestStatsScanBuilder,
                                           colMap: Map[String, String])
  extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters {

  override def pruneColumns(req: StructType): Unit =
    inner.pruneColumns(ColumnMapped.toPhysicalSchema(req, colMap))

  override def pushFilters(filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    inner.pushFilters(filters.map(f => ColumnMapped.renameAttrs(f, colMap)))
    filters // every filter re-evaluates post-scan on the logical rows
  }

  override def pushedFilters(): Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    inner.pushedFilters()

  override def build(): Scan = new ColumnMappedScan(inner.build(), colMap)
}

private[graft] class ColumnMappedScan(val inner: Scan, colMap: Map[String, String])
  extends Scan with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
  override def readSchema(): StructType =
    ColumnMapped.toLogicalSchema(inner.readSchema(), colMap)
  override def description(): String = s"ColumnMapped(${inner.description()})"
  override def toBatch: Batch = inner.toBatch

  // runtime (join-derived) filters forward with the same
  // logical→physical translation as static pushdown — without this a
  // rename would silently forfeit dynamic file pruning
  private val invMap = colMap.map(_.swap)
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    inner match {
      case r: org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering =>
        r.filterAttributes().map { ref =>
          if (ref.fieldNames().length == 1 && invMap.contains(ref.fieldNames()(0)))
            org.apache.spark.sql.connector.expressions.Expressions.column(
              invMap(ref.fieldNames()(0)))
          else ref
        }
      case _ => Array.empty
    }
  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    inner match {
      case r: org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering =>
        r.filter(predicates.flatMap(p => ColumnMapped.renameV2(p, colMap).collect {
          case q: org.apache.spark.sql.connector.expressions.filter.Predicate => q
        }))
      case _ => ()
    }
  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    inner.supportedCustomMetrics()
  override def reportDriverMetrics(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    inner.reportDriverMetrics()
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    inner.columnarSupportMode()
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    inner match {
      case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
        s.estimateStatistics()
      case _ => new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.empty()
        override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
      }
    }
}

/** SQL writes that keep the store's crash-safety story: `INSERT INTO`
  * is a COMMUTATIVE append (bounded OCC retry — concurrent SQL
  * inserters all land, the racing-appender guarantee); `INSERT
  * OVERWRITE` commits a fresh single-dir version and deliberately
  * SURFACES a lost race instead of retrying (it replaces state it has
  * not seen — the library's overwrite contract). Both publish through
  * the manifest commit protocol: a crashed INSERT leaves only an
  * invisible orphan dir, never a partial table. Served through the
  * V1Write seam — the insert IS a DataFrame write, so the whole
  * existing commit path (schema recording, footer stats harvest,
  * nonce'd dirs) applies verbatim. */
private[sql] object VersionedWrite {
  // AUTOMATIC_SCHEMA_EVOLUTION serves `MERGE INTO … WITH SCHEMA
  // EVOLUTION` (the library's mergeEvolve union-schema semantics at
  // the SQL seam): the analyzer derives the AddColumn changes from the
  // source schema and routes them through this catalog's alterTable —
  // a metadata-only manifest commit, existing files null-backfill —
  // before planning the merge against the widened table. Plain MERGE
  // is unchanged: Spark requires BOTH the clause and the capability.
  // BATCH_WRITE rides alongside V1_BATCH_WRITE for exactly one plan:
  // OverwritePartitionsDynamicExec has no V1 fallback, and the
  // capability check wants the v2 claim. Appends and plain overwrites
  // still dispatch to the V1 execs — the strategy picks by the Write
  // OBJECT type (V1Write), not by this set.
  val capabilities: java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
}

private[sql] class VersionedWriteBuilder(spark: SparkSession, dir: String,
                                         partCols: Seq[String] = Seq.empty,
                                         info: Option[org.apache.spark.sql.connector.write.LogicalWriteInfo] = None)
  extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsOverwrite
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {

  private var overwrite = false
  private var dynamic = false
  private var replacePredicate: Option[String] = None

  /** `INSERT OVERWRITE` under `partitionOverwriteMode=dynamic` (the
    * reference pipeline's own write mode — S7 — now on the versioned
    * SQL surface): only the partitions present in the written data
    * are replaced, every other partition's files carry VERBATIM
    * through one file-granular commit, and a file landed concurrently
    * in an overwritten partition surfaces as a conflict. */
  override def overwriteDynamicPartitions(): org.apache.spark.sql.connector.write.WriteBuilder = {
    require(partCols.nonEmpty,
      "dynamic partition overwrite needs a PARTITIONED versioned table")
    require(info.nonEmpty, "dynamic partition overwrite is unavailable on this seam")
    dynamic = true; this
  }

  // the declared OVERWRITE_BY_FILTER capability serves two shapes:
  // the trivial AlwaysTrue conjunction (INSERT OVERWRITE /
  // DataFrameWriterV2.overwrite(lit(true))) is the truncate this
  // store expresses as a fresh single-dir version; any other
  // translatable conjunction is `INSERT INTO … REPLACE WHERE` — ONE
  // atomic predicate-scoped replace through
  // [[Versioned.replaceWhere]] (exact partition-pruned drop when the
  // predicate is partition-only; stats-pruned copy-on-write
  // otherwise, inserted rows validated against the predicate in the
  // write pass). A filter shape the store cannot re-apply exactly
  // refuses at ANALYSIS time (clear error) instead of passing
  // analysis and dying at write planning.
  override def canOverwrite(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(_ == org.apache.spark.sql.sources.AlwaysTrue) ||
      Versioned.filtersPredicateSql(filters.toSeq).isDefined

  override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter])
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    if (filters.forall(_ == org.apache.spark.sql.sources.AlwaysTrue)) overwrite = true
    else replacePredicate = Some(Versioned.filtersPredicateSql(filters.toSeq).getOrElse(
      throw new IllegalArgumentException(
        s"versioned REPLACE WHERE cannot re-apply filters ${filters.mkString(", ")} " +
          "exactly — use a predicate of =, <=>, <, <=, >, >=, IN, IS [NOT] NULL, " +
          "LIKE 'p%', AND, OR")))
    this
  }

  // Delta's `.option("replaceWhere", predicate)` writer idiom: an
  // OVERWRITE carrying the option scopes to the predicate slice —
  // the same one-commit Versioned.replaceWhere as the SQL seam, with
  // the predicate given as TEXT instead of pushed filters. An append
  // carrying it refuses (an append cannot replace).
  private def optionReplaceWhere: Option[String] =
    info.flatMap(i => Option(i.options().get("replaceWhere")))
      .map(_.trim).filter(_.nonEmpty)

  // Delta's IDEMPOTENT-WRITE writer options (`txnAppId` +
  // `txnVersion`): the commit records the (appId, version) watermark
  // in the same atomic manifest, and a RETRY of an already-committed
  // version is detected from manifest bytes and skipped before a byte
  // is written — the foreachBatch-retry contract, on the batch writer.
  // The machinery IS the streaming sink's ([[Versioned
  // .writeVersionStreamBatch]]); the options just expose it.
  private def txnOption: Option[(String, Long)] =
    info.flatMap { i =>
      val app = Option(i.options().get("txnAppId")).map(_.trim).filter(_.nonEmpty)
      val ver = Option(i.options().get("txnVersion")).map(_.trim).filter(_.nonEmpty)
      (app, ver) match {
        case (Some(a), Some(v)) => Some((a, v.toLong))
        case (None, None)       => None
        case _ => throw new IllegalArgumentException(
          "idempotent writes need BOTH txnAppId and txnVersion (Delta's same " +
            "option pair) — got only one")
      }
    }

  override def build(): org.apache.spark.sql.connector.write.Write =
    if (dynamic) dynamicWrite()
    else new org.apache.spark.sql.connector.write.V1Write {
      override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
        new org.apache.spark.sql.sources.InsertableRelation {
          override def insert(data: org.apache.spark.sql.DataFrame,
                              overwriteFlag: Boolean): Unit = {
            val effective = replacePredicate.orElse(optionReplaceWhere.map { p =>
              require(overwrite || overwriteFlag,
                "option 'replaceWhere' needs mode(\"overwrite\") — an append " +
                  "cannot replace rows")
              p
            })
            (effective, txnOption) match {
              case (Some(pred), None) => Versioned.replaceWhere(data, dir, pred)
              case (Some(_), Some(_)) => throw new IllegalArgumentException(
                "txnAppId/txnVersion does not compose with replaceWhere yet — " +
                  "make the reload idempotent at the orchestrator, or use the " +
                  "plain overwrite")
              case (None, Some((app, ver))) =>
                Versioned.writeVersionStreamBatch(data, dir, app, ver,
                  mode = if (overwrite || overwriteFlag)
                    org.apache.spark.sql.SaveMode.Overwrite
                  else org.apache.spark.sql.SaveMode.Append,
                  partCols = partCols)
              case (None, None) =>
                Versioned.writeVersion(data, dir,
                  if (overwrite || overwriteFlag) org.apache.spark.sql.SaveMode.Overwrite
                  else org.apache.spark.sql.SaveMode.Append, partCols)
            }
            ()
          }
        }
    }

  /** The dynamic-overwrite Write: Spark's own DSv2 parquet writer
    * stages the rows FLAT in a claimed invisible dir (no V1 fallback
    * exists for OverwritePartitionsDynamicExec), the batch commit
    * re-lands them hive-laid-out and publishes through
    * [[Versioned.commitDynamicPartitionOverwrite]] — the touched
    * partitions replaced, all others verbatim, one atomic manifest
    * commit. Abort leaves only invisible orphans. */
  private def dynamicWrite(): org.apache.spark.sql.connector.write.Write = {
    import org.apache.spark.sql.connector.write.{BatchWrite, PhysicalWriteInfo, WriterCommitMessage}
    require(txnOption.isEmpty,
      "txnAppId/txnVersion does not compose with dynamic partition overwrite — " +
        "silently ignoring the guard would break the idempotence contract")
    val winfo = info.get
    val stagedFlat = Versioned.stageDataDir(spark, dir)
    val flatPath = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(dir), stagedFlat)
    val delegate = VersionedSqlUtil.parquetTable(s"dynover:$dir", spark,
        CaseInsensitiveStringMap.empty(), Seq(flatPath.toString), Some(winfo.schema()))
      .newWriteBuilder(winfo).build()
    new org.apache.spark.sql.connector.write.Write {
      override def toBatch: BatchWrite = new BatchWrite {
        private val db = delegate.toBatch
        override def createBatchWriterFactory(p: PhysicalWriteInfo)
            : org.apache.spark.sql.connector.write.DataWriterFactory =
          db.createBatchWriterFactory(p)
        override def useCommitCoordinator: Boolean = db.useCommitCoordinator
        override def onDataWriterCommit(m: WriterCommitMessage): Unit =
          db.onDataWriterCommit(m)
        override def commit(messages: Array[WriterCommitMessage]): Unit = {
          db.commit(messages)
          val fs = flatPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val hasContent = fs.exists(flatPath) &&
            fs.listStatus(flatPath).exists(_.getPath.getName.endsWith(".parquet"))
          if (!hasContent) { fs.delete(flatPath, true); return }
          val df = spark.read.schema(winfo.schema()).parquet(flatPath.toString)
          val committed = Versioned.writeVersionPartitionedDynamic(df, dir, partCols)
          fs.delete(flatPath, true)
          if (committed.isEmpty) () // zero rows staged: nothing replaced
        }
        override def abort(messages: Array[WriterCommitMessage]): Unit =
          db.abort(messages) // staged dir stays an invisible orphan
      }
    }
  }
}

/** Legacy-manifest tier: reads delegate to the native mergeSchema
  * parquet table; writes route through the manifest commit (see the
  * catalog's load() for why the raw ParquetTable must not leak). */
private[sql] class LegacyVersionedTable(inner: Table with SupportsRead,
                                        spark: SparkSession, dir: String, snap: Snapshot)
  extends Table with SupportsRead with SupportsWrite with VersionedDeletes
    with VersionedRowOps with ReportsCheckConstraints
    with GraftV1StreamFallback {

  override protected def vdSpark: SparkSession = spark
  override protected def vdDir: String = dir
  override protected def vdSchema: StructType = inner.schema()
  override protected def vcSnapshot: Snapshot = snap

  override def name(): String = inner.name()
  override def schema(): StructType = inner.schema()
  override def capabilities(): java.util.Set[TableCapability] =
    VersionedWrite.capabilities

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    inner.newScanBuilder(options)

  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new VersionedWriteBuilder(spark, dir, info = Some(info))
}

/** Delegates pushdown/pruning to Spark's own ParquetScanBuilder, but
  * at `build()` time first evaluates the PUSHED conjuncts against the
  * manifest's per-dir stats ([[Versioned.planDataDirs]]) and rebuilds
  * the parquet scan over only the surviving dirs — whole directories
  * of a 100 TB table drop out of the plan from manifest bytes alone,
  * before any file listing or footer read. One-sided as always:
  * untranslatable conjuncts simply skip nothing, and every pushed
  * filter is still evaluated by parquet/Spark on the surviving scan,
  * so skipping can never change a result. */
private[sql] class SkippingScanBuilder(spark: SparkSession, tableName: String,
                                       options: CaseInsensitiveStringMap,
                                       dir: String, v: Int, dataDirs: Seq[String],
                                       fullSchema: StructType)
  extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters {

  private def parquetBuilder(paths: Seq[String]) =
    VersionedSqlUtil.parquetTable(tableName, spark, options, paths, Some(fullSchema))
      .newScanBuilder(options)

  // NOTHING is built during negotiation: constructing the parquet
  // builder forces its file index, which LISTS every dir — paying the
  // listing for dirs skipping is about to prune. Negotiation needs
  // only bookkeeping (the table schema answers pruning; filters are
  // all returned for post-scan evaluation, which Spark does for
  // parquet data filters anyway); the one real builder is created at
  // build() over the SURVIVORS only, with the pushdown replayed so
  // parquet row-group skipping still applies.
  private var pushedExprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Nil
  private var translated: Seq[org.apache.spark.sql.sources.Filter] = Nil
  private var required: Option[StructType] = None

  override def pushFilters(filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    pushedExprs = filters
    // the optimizer pushes a WHERE clause as its And-split conjuncts,
    // so each translated filter may independently prove a dir empty
    translated = filters.flatMap(f =>
      org.apache.spark.sql.execution.datasources.GraftFilterShim.translate(f))
    filters
  }

  // informational only (the final Scan's own description carries the
  // real pushed set, which is what formatted explain shows)
  override def pushedFilters(): Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    Array.empty

  override def pruneColumns(req: StructType): Unit =
    required = Some(req)

  override def build(): Scan = {
    val surviving =
      if (translated.isEmpty) dataDirs
      else {
        val keep = Versioned.planDataDirs(spark, dir, v, translated).toSet
        dataDirs.filter(p => keep.contains(p.substring(p.lastIndexOf('/') + 1)))
      }
    val b = parquetBuilder(surviving)
    if (pushedExprs.nonEmpty) b.pushFilters(pushedExprs)
    required.foreach(b.pruneColumns)
    b.build()
  }
}

/** Tier-2 serving — a version carrying deletion vectors: the inner
  * table (tier 1, so dir skipping still applies), minus every row
  * whose key is in a dv key set. The mask is applied ROW-level in the
  * partition readers — the same semantics as the library read path's
  * broadcast anti-join, expressed at the DSv2 seam so plain SQL gets
  * it. */
/** Row-address metadata columns — Iceberg's `_file`/`_pos` role (per
  * Iceberg `SparkTable.metadataColumns`; Spark's own `_metadata`
  * serves only its FileTable classes): `_file` is the row's data file
  * as the MANIFEST spells it (relative under the table root, absolute
  * for a clone's foreign refs — the same spelling positional-dv
  * sidecars key on), `_pos` the row's parquet row index within that
  * file, derived from row-group metadata so it stays correct under
  * row-group pruning. Non-null by declaration: every served row has
  * both. These are also the delta-based row-level operations' row id
  * ([[GraftDeltaOperation.rowId]]) — the reason UPDATE/MERGE/DELETE
  * can commit position masks instead of rewriting touched files.
  * Hidden when the table declares SAME-NAMED data columns (the user's
  * columns win; delta row ops then fall back to copy-on-write). */
private[graft] object RowIds {
  val FileCol = "_file"
  val PosCol = "_pos"
  def conflicts(schema: StructType): Boolean =
    schema.fieldNames.exists(n =>
      n.equalsIgnoreCase(FileCol) || n.equalsIgnoreCase(PosCol))
  /** The requested `_file`/`_pos` fields that are NOT data columns of
    * `tableSchema` — the ones the scan must synthesize. */
  def requestedIn(req: StructType, tableSchema: StructType): Seq[String] =
    if (conflicts(tableSchema)) Seq.empty
    else req.fieldNames.toSeq.filter(n => n == FileCol || n == PosCol)
  def strip(req: StructType, tableSchema: StructType): StructType =
    StructType(req.fields.filterNot(f =>
      requestedIn(req, tableSchema).contains(f.name)))
  import org.apache.spark.sql.connector.catalog.MetadataColumn
  val metadataColumns: Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = FileCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.StringType
      override def isNullable: Boolean = false
      override def comment(): String =
        "data file serving the row, as the manifest spells it"
    },
    new MetadataColumn {
      override def name(): String = PosCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType
      override def isNullable: Boolean = false
      override def comment(): String = "row index within _file"
    })
}

private[sql] class DvMaskedTable(inner: Table with SupportsRead,
                                 fullSchema: StructType,
                                 spark: SparkSession, dir: String, snap: Snapshot)
  extends Table with SupportsRead with SupportsWrite with VersionedDeletes
    with VersionedRowOps with ReportsCheckConstraints
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with GraftV1StreamFallback {

  override protected def vdSpark: SparkSession = spark
  override protected def vdDir: String = dir
  override protected def vdSchema: StructType = fullSchema
  override protected def vcSnapshot: Snapshot = snap
  private def partCols = snap.partitionCols
  private def colMap = snap.colMap
  // dv key columns translate to logical for the SCAN-side mask (it
  // evaluates against the logical read schema); the snapshot's
  // PHYSICAL pairs stay on the rewrite seams (candidate scans, dv
  // snapshots). Positional masks are name-free.
  private val inv = colMap.map(_.swap)
  private val dvDirs = snap.dvDirs.map { case (k, ds) => (inv.getOrElse(k, k), ds) }
  private val scopedDvs = snap.scopedDvs.map { case (k, d, sc) => (inv.getOrElse(k, k), d, sc) }
  // a dv mask over a PARTITIONED chain must keep carrying the spec:
  // without it a row-level rewrite would re-land the replacement
  // unpartitioned (silent layout downgrade) and an INSERT INTO would
  // refuse at commit against the recorded spec
  override protected def vroPartCols: Seq[String] = partCols
  // the rewrite's candidate-file scan applies the same mask the
  // table's own scan does, and its commit snapshots the dv set
  override protected def vroDvDirs: Seq[(String, Seq[String])] = snap.dvDirs
  override protected def vroScopedDvs: Seq[(String, String, Set[String])] = snap.scopedDvs
  override protected def vroPosDvs: Seq[String] = snap.posDvs
  override protected def vroColMap: Map[String, String] = colMap
  override def partitioning(): Array[Transform] =
    partCols.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(c)).toArray

  override def name(): String = inner.name()
  override def schema(): StructType = fullSchema
  override def capabilities(): java.util.Set[TableCapability] =
    VersionedWrite.capabilities

  // `_file`/`_pos` serve through [[DvScanBuilder]]'s own row-id tier
  // (the masks and the row addresses share the injection machinery);
  // hidden when the base tier can't row-index (no manifest file lists)
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    if (RowIds.conflicts(fullSchema) ||
        RowIds.conflicts(ColumnMapped.toPhysicalSchema(fullSchema, colMap)) ||
        Versioned.manifestPartitioningIndex(spark, snap).isEmpty)
      Array.empty
    else RowIds.metadataColumns

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new DvScanBuilder(inner.newScanBuilder(options), fullSchema, dvDirs, scopedDvs, dir,
      snap.posDvs)

  // appends to a delete-bearing table are routine; the KEY-level mask
  // keeps deleted keys masked through them (the erasure contract)
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new VersionedWriteBuilder(spark, dir, partCols, Some(info))
}

/** Forwards column pruning (widened by the mask's key columns so the
  * reader can evaluate it, projected back afterwards) and filter
  * pushdown to the inner builder. Deliberately does NOT forward
  * aggregate pushdown: an aggregate computed inside the scan would
  * see masked rows. */
private[sql] class DvScanBuilder(inner: ScanBuilder,
                                 fullSchema: StructType,
                                 dvDirs: Seq[(String, Seq[String])],
                                 scopedDvs: Seq[(String, String, Set[String])] = Seq.empty,
                                 tableDir: String = "",
                                 posDvs: Seq[String] = Seq.empty)
  extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters {

  private val keyCols = (dvDirs.map(_._1) ++ scopedDvs.map(_._1)).distinct.toSet
  private var requested: StructType = fullSchema
  private var serveRowIds = false

  override def pruneColumns(req: StructType): Unit = {
    // `_file`/`_pos` metadata columns are synthesized at THIS tier
    // (never demanded from the files): strip them from the inner
    // prune, remember them in the requested output
    serveRowIds = RowIds.requestedIn(req, fullSchema).nonEmpty
    requested = req
    val names = RowIds.strip(req, fullSchema).fieldNames.toSet
    val widened = StructType(fullSchema.fields.filter(f =>
      names.contains(f.name) || keyCols.contains(f.name)))
    inner match {
      case p: SupportsPushDownRequiredColumns => p.pruneColumns(widened)
      case _ =>
    }
  }

  override def pushFilters(filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = inner match {
    case p: org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters =>
      p.pushFilters(filters)
    case _ => filters
  }

  override def pushedFilters(): Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    inner match {
      case p: org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters =>
        p.pushedFilters
      case _ => Array.empty
    }

  override def build(): Scan =
    new DvMaskedScan(inner.build(), requested, dvDirs, scopedDvs, tableDir, posDvs,
      serveRowIds)
}

private[graft] class DvMaskedScan(val inner: Scan, requested: StructType,
                                dvDirs: Seq[(String, Seq[String])],
                                scopedDvs: Seq[(String, String, Set[String])] = Seq.empty,
                                tableDir: String = "",
                                posDvs: Seq[String] = Seq.empty,
                                // serve the `_file`/`_pos` fields of `requested`
                                // ([[RowIds]]) — forces file-homogeneous partitions
                                // and the row-index injection even with no mask
                                serveRowIds: Boolean = false) extends Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  override def readSchema(): StructType = requested
  override def description(): String = s"DvMasked(${inner.description()})"

  /** Bytes from the inner scan's estimate (the mask reads the same
    * files); ROWS deliberately unreported — the mask removes an
    * unknown count, and an overcount could flip a join the wrong way.
    * Without this forward the masked tier reported no stats at all
    * and a small dv-bearing dimension never planned its broadcast. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = inner match {
        case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
          s.estimateStatistics().sizeInBytes()
        case _ => java.util.OptionalLong.empty()
      }
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }

  /** The data-dir name a file belongs to, AS THE MANIFEST SPELLS IT:
    * the path segment right under the table root for local dirs, or —
    * for a CLONED chain's foreign refs, which live under the SOURCE
    * root — the longest scope entry that prefixes the path (falling
    * back to the parent dir). The grouping and the reader's scope
    * test both resolve through this one function, so a scoped mask
    * applies identically to local and foreign files. */
  private lazy val scopeNamesByLen: Array[String] =
    scopedDvs.flatMap(_._3).distinct.sortBy(-_.length).toArray
  private def dataDirOf(rootUriPath: String, fileUriPath: String): String = {
    val rootPrefix = rootUriPath.stripSuffix("/") + "/"
    if (fileUriPath.startsWith(rootPrefix))
      fileUriPath.stripPrefix(rootPrefix).takeWhile(_ != '/')
    else scopeNamesByLen.find(n => fileUriPath.startsWith(n.stripSuffix("/") + "/"))
      .getOrElse(fileUriPath.substring(0, fileUriPath.lastIndexOf('/')))
  }

  override def toBatch: Batch = new Batch {
    /** POSITIONAL masks need each row's file row index. Spark's
      * parquet readers generate it when the read schema carries the
      * public [[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat.ROW_INDEX_FIELD]]
      * marker — derived from row-group metadata, so it stays correct
      * under row-group pruning and PREDICATE PUSHDOWN SURVIVES the
      * mask (the property Delta's DV reads rest on). The field is
      * injected into the underlying ParquetScan's readDataSchema; the
      * stats/mapping wrappers above it only forward `toBatch`, so the
      * injected scan's batch serves directly. */
    private val (innerBatch, wide, rowIdxPos) =
      if (posDvs.isEmpty && !serveRowIds) (inner.toBatch, inner.readSchema(), -1)
      else {
        def unwrap(s: Scan): org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =
          s match {
            case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan => p
            case m: ManifestStatsScan => unwrap(m.inner)
            case c: ColumnMappedScan  => unwrap(c.inner)
            case other => throw new IllegalStateException(
              s"positional deletion vectors need the manifest-backed parquet scan " +
                s"tier, got ${other.getClass.getName} — run backfillStats to upgrade " +
                "the table, or apply the masks physically (compact)")
          }
        val p = unwrap(inner)
        // the TEMPORARY name is the marker the parquet readers key
        // generation on (ParquetRowIndexUtil.findRowIndexColumnIndexInSchema);
        // ROW_INDEX_FIELD's public name ("row_index") is the _metadata
        // SUBFIELD name and would be demanded from the file itself
        // nullable: the column is MISSING from every file by design —
        // the reader null-fills missing nullable columns, then the
        // row-index generator overwrites the vector with real indexes
        val rif = org.apache.spark.sql.types.StructField(
          org.apache.spark.sql.execution.datasources.parquet
            .ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
          org.apache.spark.sql.types.LongType, nullable = true)
        val idx = p.readDataSchema.length
        val injected = p.copy(readDataSchema = StructType(p.readDataSchema.fields :+ rif))
        // the row layout is [data columns…, row index, partition
        // columns…]; `wide` must mirror it under the names the outer
        // projection resolves (the inner scan's, logical if mapped)
        val w0 = inner.readSchema()
        val w = StructType((w0.fields.take(idx) :+ rif) ++ w0.fields.drop(idx))
        (injected.toBatch, w, idx)
      }

    private lazy val rootUriPath: String = {
      val p = new org.apache.hadoop.fs.Path(tableDir)
      p.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
        .makeQualified(p).toUri.getPath
    }

    /** Per-file deleted row indexes, sorted for binary search —
      * driver-pulled once per batch, bounded by the same size
      * contract the delete enforced ([[Versioned.maxDvPositions]],
      * re-checked here as defense in depth). Keys are scheme-free
      * absolute file paths in [[Versioned.uriPathOf]]'s spelling —
      * the one normalization the delete, this pull, and the reader
      * all share. */
    private lazy val posMasks: Map[String, Array[Long]] =
      if (posDvs.isEmpty) Map.empty
      else {
        val spark = SparkSession.active
        val cap = Versioned.maxDvPositions(spark)
        // the set lands on the driver either way; the direct footer/
        // page read skips a whole Spark job per masked batch (falls
        // back to the distributed read on any unexpected file shape)
        val pairs: Iterator[(String, Long)] =
          localPosPairs(spark, cap).getOrElse(sparkPosPairs(spark, cap))
        pairs.map { case (f, pos) =>
          val abs = if (f.startsWith("/")) f else s"$rootUriPath/$f"
          (abs, pos)
        }.toArray.groupBy(_._1).map { case (f, xs) =>
          f -> xs.map(_._2).distinct.sorted
        }
      }

    private def posCapError(cap: Long) = new IllegalStateException(
      s"positional deletion vectors exceed the size contract " +
        s"(spark.graft.dv.maxPositions=$cap): the in-reader mask ships the " +
        "position set with the tasks. Apply the masks physically — compact, or " +
        "INSERT OVERWRITE the masked read — before serving this version over SQL.")

    private def localPosPairs(spark: SparkSession,
                              cap: Long): Option[Iterator[(String, Long)]] = {
      val seen = new java.util.LinkedHashSet[(String, Long)]()
      val ok = graft.ext.LocalParquet.foreachRow(
        spark.sparkContext.hadoopConfiguration, posDvs, Array("_file", "_pos")) { row =>
        if (row(0) != null && row(1) != null)
          seen.add((row(0).asInstanceOf[String], row(1).asInstanceOf[Long]))
        seen.size <= cap
      }
      if (!ok) None
      else if (seen.size > cap) throw posCapError(cap)
      else Some(scala.jdk.CollectionConverters.IteratorHasAsScala(seen.iterator()).asScala)
    }

    private def sparkPosPairs(spark: SparkSession, cap: Long): Iterator[(String, Long)] = {
      val limit = if (cap >= Int.MaxValue - 1) Int.MaxValue else cap.toInt + 1
      val rows = spark.read.schema(Versioned.PdvDirSchema).parquet(posDvs: _*)
        .select("_file", "_pos").distinct().limit(limit).collect()
      if (rows.length > cap) throw posCapError(cap)
      rows.iterator.map(r => (r.getString(0), r.getLong(1)))
    }

    /** The [[Versioned.uriPathOf]] spelling of a partitioned file's
      * path — posMask keys and partition grouping both use it. */
    private def fileKeyOf(f: org.apache.spark.sql.execution.datasources.PartitionedFile): String =
      Versioned.uriPathOf(f.filePath.toString)

    /** With SCOPED masks, a partition must be homogeneous in the data
      * dir its files come from (the scope decides per DIR whether a
      * mask applies, the mask itself is evaluated per ROW); with
      * POSITIONAL masks, homogeneous in the masked FILE (the mask set
      * is per file and rows carry no file attribution): mixed
      * FilePartitions split, indices reassigned. Splits of one file
      * may stay together — the generated row index is split-correct. */
    override def planInputPartitions(): Array[InputPartition] = {
      val parts = innerBatch.planInputPartitions()
      if (scopedDvs.isEmpty && posDvs.isEmpty && !serveRowIds) parts
      else parts.flatMap {
        case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
          fp.files.groupBy { f =>
            val scopeKey =
              if (scopedDvs.isEmpty) ""
              else dataDirOf(rootUriPath, f.filePath.toPath.toUri.getPath)
            val posKey = {
              val k = fileKeyOf(f)
              // `_file` is partition-constant by construction: with
              // row ids requested EVERY file is its own group
              if (serveRowIds || posMasks.contains(k)) k else ""
            }
            (scopeKey, posKey)
          }.values.toSeq
        case other => throw new IllegalStateException(
          s"deletion-vector masks need file-based partitions, got $other")
      }.zipWithIndex.map { case (files, i) =>
        org.apache.spark.sql.execution.datasources.FilePartition(i, files)
      }.toArray
    }

    override def createReaderFactory(): PartitionReaderFactory = {
      val spark = SparkSession.active
      // driver pull of the key sets, in INTERNAL row representation
      // (UTF8String etc.) so executor-side comparison is allocation-free.
      // The dv size contract is enforced at delete time
      // (Versioned.deleteByKeys refuses past spark.graft.dv.maxKeys);
      // the same cap re-checked here is defense in depth — a dv dir
      // grown out of band (older writer, foreign tool) fails with the
      // remedy named instead of OOMing the driver mid-collect.
      val cap = graft.ext.Versioned.maxDvKeys(spark)
      def keyCapError(k: String) = new IllegalStateException(
        s"deletion vector on '$k' exceeds the size contract " +
          s"(spark.graft.dv.maxKeys=$cap): the in-reader mask broadcasts the key " +
          "set. Apply the mask physically — overwrite (INSERT OVERWRITE the masked " +
          "read) or compact — before serving this version over SQL.")
      // the key set lands on the driver either way (it ships with the
      // tasks); reading the tiny single-column dv dir directly on the
      // driver skips one Spark job per dv per masked scan. Values are
      // converted to the INTERNAL representation the executor-side
      // comparison uses (UTF8String for strings); any type outside
      // the dv writers' flat-primitive shapes falls back to the
      // distributed read below.
      def localKeySet(dt: DataType, dirs: Seq[String],
                      k: String): Option[java.util.HashSet[Any]] = {
        import org.apache.spark.sql.types._
        val conv: Option[Any => Any] = dt match {
          case LongType => Some(v => v.asInstanceOf[java.lang.Long])
          case IntegerType | DateType => Some(v => v.asInstanceOf[java.lang.Integer])
          case StringType => Some(v => org.apache.spark.unsafe.types.UTF8String
            .fromString(v.asInstanceOf[String]))
          case DoubleType => Some(v => v.asInstanceOf[java.lang.Double])
          case FloatType => Some(v => v.asInstanceOf[java.lang.Float])
          case BooleanType => Some(v => v.asInstanceOf[java.lang.Boolean])
          case ShortType => Some(v => java.lang.Short.valueOf(
            v.asInstanceOf[java.lang.Integer].shortValue()))
          case ByteType => Some(v => java.lang.Byte.valueOf(
            v.asInstanceOf[java.lang.Integer].byteValue()))
          case _ => None
        }
        conv.flatMap(c => graft.ext.LocalParquet.distinctColumn(
            spark.sparkContext.hadoopConfiguration, dirs, k, cap, c))
          .map { set => if (set.size > cap) throw keyCapError(k) else set }
      }
      def pullKeys(k: String, dirs: Seq[String]): Option[(Int, DataType, java.util.HashSet[Any])] =
        if (!wide.fieldNames.contains(k)) None // key col absent from read: nothing to mask on
        else {
          val idx = wide.fieldIndex(k)
          val dt = wide(idx).dataType
          val set = localKeySet(dt, dirs, k).getOrElse {
            // a RENAMED table's dv files carry the PHYSICAL column name
            // while this mask keys on the logical one — dv dirs are
            // single-column by construction (deleteByKeys writes exactly
            // the key column), so fall back to position when the name
            // is absent (localKeySet applies the same rule)
            val raw = graft.Tables.readParquetNoInfer(spark, dirs)
            val src = if (raw.columns.contains(k)) k else raw.columns.head
            val keyRows = raw
              .select(org.apache.spark.sql.functions.col(src)).distinct()
              .limit(if (cap >= Int.MaxValue - 1) Int.MaxValue else cap.toInt + 1) // bounds the pull itself, not just the check
              .queryExecution.toRdd.map(_.copy()).collect()
            if (keyRows.length > cap) throw keyCapError(k)
            val s = new java.util.HashSet[Any]()
            keyRows.foreach(r => if (!r.isNullAt(0)) s.add(r.get(0, dt)))
            s
          }
          Some((idx, dt, set))
        }
      val masks = dvDirs.flatMap { case (k, dirs) => pullKeys(k, dirs) }
      val scopedMasks = scopedDvs.flatMap { case (k, dvDir, scope) =>
        pullKeys(k, Seq(dvDir)).map { case (i, dt, set) => (i, dt, set, scope) }
      }
      // `_pos` projects the injected row-index field; `_file` projects
      // the appended partition-constant slot (index wide.length — the
      // reader joins it on); data columns project from the wide row
      val projIdx = requested.fields.map(_.name match {
        case RowIds.FileCol if serveRowIds => wide.length
        case RowIds.PosCol if serveRowIds  => rowIdxPos
        case n                             => wide.fieldIndex(n)
      })
      new DvReaderFactory(innerBatch.createReaderFactory(), wide, masks.toArray,
        projIdx, scopedMasks.toArray, rootUriPath, scopeNamesByLen,
        posMasks, rowIdxPos, serveRowIds)
    }
  }
}

/** Row-based reader wrapper: skip rows whose key is masked, project
  * the widened row back to the requested columns. Row-based (not
  * columnar) because the mask is per-row — the price a dv-bearing
  * version pays until overwrite/compaction applies it physically.
  * Scoped masks apply only to partitions whose files live in a
  * scoped data dir (partitions are dir-homogeneous by construction —
  * [[DvMaskedScan.planInputPartitions]] splits mixed ones). */
private[sql] class DvReaderFactory(inner: PartitionReaderFactory,
                                   wide: StructType,
                                   masks: Array[(Int, DataType, java.util.HashSet[Any])],
                                   projIdx: Array[Int],
                                   scopedMasks: Array[(Int, DataType, java.util.HashSet[Any], Set[String])] =
                                     Array.empty,
                                   rootUriPath: String = "",
                                   scopeNamesByLen: Array[String] = Array.empty,
                                   // absolute file path → its deleted row indexes
                                   // (sorted); rowIdxPos names the generated
                                   // row-index column's position in `wide`
                                   posMasks: Map[String, Array[Long]] = Map.empty,
                                   rowIdxPos: Int = -1,
                                   // serve `_file` as a partition-constant slot
                                   // appended at index wide.length (partitions are
                                   // file-homogeneous by construction then)
                                   serveRowIds: Boolean = false)
  extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean = false

  /** MUST mirror [[DvMaskedScan.dataDirOf]]: local files name their
    * first segment under the root; a clone's foreign files name the
    * longest scope entry prefixing them. */
  private def dataDirOf(fileUriPath: String): String = {
    val rootPrefix = rootUriPath.stripSuffix("/") + "/"
    if (fileUriPath.startsWith(rootPrefix))
      fileUriPath.stripPrefix(rootPrefix).takeWhile(_ != '/')
    else scopeNamesByLen.find(n => fileUriPath.startsWith(n.stripSuffix("/") + "/"))
      .getOrElse(fileUriPath.substring(0, fileUriPath.lastIndexOf('/')))
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val r = inner.createReader(p)
    def partitionFiles = p match {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition => fp.files
      case other => throw new IllegalStateException(
        s"deletion-vector masks need file-based partitions, got $other")
    }
    val applicable: Array[(Int, DataType, java.util.HashSet[Any])] =
      if (scopedMasks.isEmpty) masks
      else {
        val dirs = partitionFiles.map(f =>
          dataDirOf(f.filePath.toPath.toUri.getPath)).toSet
        masks ++ scopedMasks.collect {
          case (i, dt, set, scope) if dirs.subsetOf(scope) => (i, dt, set)
        }
      }
    // the partition's positional mask: partitions are FILE-homogeneous
    // when positional masks exist (DvMaskedScan splits them), so the
    // whole partition shares one mask set — or none
    val posMask: Array[Long] =
      if (posMasks.isEmpty) null
      else {
        val keys = partitionFiles
          .map(f => graft.ext.Versioned.uriPathOf(f.filePath.toString))
          .distinct.filter(posMasks.contains)
        if (keys.isEmpty) null
        else if (keys.length == 1) posMasks(keys.head)
        else throw new IllegalStateException(
          s"positional masks need file-homogeneous partitions; got ${keys.length}")
      }
    // the partition's `_file` value, spelled as the MANIFEST does
    // (relative under the root, absolute for foreign refs) — one
    // constant per partition, joined onto every row at wide.length
    val fileConst: org.apache.spark.sql.catalyst.InternalRow =
      if (!serveRowIds) null
      else {
        val keys = partitionFiles
          .map(f => graft.ext.Versioned.uriPathOf(f.filePath.toString)).distinct
        if (keys.length != 1) throw new IllegalStateException(
          s"row-id serving needs file-homogeneous partitions; got ${keys.length}")
        val rootPrefix = rootUriPath.stripSuffix("/") + "/"
        val spelled =
          if (keys.head.startsWith(rootPrefix)) keys.head.stripPrefix(rootPrefix)
          else keys.head
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString(spelled)))
      }
    val bound = projIdx.toIndexedSeq.map(i =>
      if (serveRowIds && i == wide.length)
        org.apache.spark.sql.catalyst.expressions.BoundReference(
          i, org.apache.spark.sql.types.StringType, nullable = false)
      else org.apache.spark.sql.catalyst.expressions.BoundReference(
        i, wide(i).dataType, wide(i).nullable))
    val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(bound)
    val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = {
        while (r.next()) {
          val row = r.get()
          val masked = (posMask != null &&
            java.util.Arrays.binarySearch(posMask, row.getLong(rowIdxPos)) >= 0) ||
            applicable.exists { case (i, dt, set) =>
              !row.isNullAt(i) && set.contains(row.get(i, dt))
            }
          if (!masked) { current = row; return true }
        }
        false
      }
      override def get(): InternalRow =
        if (serveRowIds) proj(joined(current, fileConst)) else proj(current)
      override def close(): Unit = r.close()
    }
  }
}
