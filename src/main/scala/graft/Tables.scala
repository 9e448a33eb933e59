package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver testdata tables (`TESTDATA.md`), and the one
  * place graft sessions are built and configured.
  *
  * Every entry point builds its session with [[Tables.session]], which
  * applies the session-level requirements once, before any table load:
  *
  *   - `spark.sql.legacy.parquet.nanosAsLong=true`: `events.parquet`
  *     carries `TIMESTAMP(NANOS)` which Spark's Parquet reader rejects
  *     by default; with the flag it surfaces as epoch-nanos `LongType`
  *     and [[Tables.eventsWithTs]] derives a proper timestamp column.
  *   - ANSI off: the reference runs Spark 3.3 semantics (SURVEY.md §4.3)
  *     where malformed casts yield NULL instead of throwing.
  */
object Tables {
  private val LocalMaster = """local\[(\d+)(?:,\d+)?\]""".r
  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.Tables")
  private val CodegenCacheSize = "spark.sql.codegen.cache.maxEntries"
  private val CodegenCacheEntries = "2048"

  /** Build (or return the running) graft session on `master`: shuffle
    * partitions match the local thread count, the UI is off, then the
    * caller's `conf` pairs apply (and win), and [[configure]] runs once.
    * `-Dspark.*` system properties reach the same SparkConf, so an A/B
    * of any conf that neither this nor [[configure]] sets needs no code
    * change. */
  def session(master: String, conf: (String, String)*): SparkSession = {
    val cores = master match {
      case LocalMaster(n) => n
      case _ => Runtime.getRuntime.availableProcessors.toString
    }
    configure(SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config(conf.toMap)
      .getOrCreate())
  }

  /** Confs, functions and planner extensions every graft session needs;
    * safe on a running session and idempotent. Refuses a `spark.graft.*`
    * key that [[Knobs]] lacks, and a value that does not parse. Two
    * static Spark confs get a default unless explicitly configured
    * (setting one is the opt-out): `spark.shuffle.sort.bypassMergeThreshold`
    * = 4 (Spark: 200) and `spark.sql.codegen.cache.maxEntries` = 2048
    * (Spark: 100). The codegen cache is sized once per JVM, so the
    * latter needs configure to run before the JVM's first compile; a
    * later configure logs one WARN instead. */
  def configure(spark: SparkSession): SparkSession = {
    Knobs.validate(spark)
    graft.hadoop.FastLocalFs.install(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // Let AQE right-size PERSISTED plans' partitioning (off by default
    // in Spark): the iterative operators (star-contraction CC, BPE
    // training) persist |vocab|- or |mismatch|-row tables whose cached
    // plans otherwise pin the full shuffle fan-out — every per-level/
    // per-round job then pays shuffle.partitions near-empty tasks
    // (q48 profiled 25 jobs × up to 161 tasks over a 55-row result).
    // Scale-adaptive by construction: AQE coalesces from observed
    // sizes, so a genuinely large cached table keeps its parallelism.
    // Set ONCE here rather than toggled per operator call — a
    // set/restore around one call is racy on a shared session (it
    // would flip cached-plan partitioning for every concurrent query).
    spark.conf.set("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    // Deliberately NOT set: spark.sql.adaptive.coalescePartitions.
    // parallelismFirst=false (byte-targeted coalescing, the setting
    // Spark's config doc suggests for production). Measured here
    // (r17, 26-query A/B at 32 threads): it regressed EVERY family
    // 0.57–0.96× — at bench scale the shuffles are kilobytes but the
    // post-shuffle work is real CPU (exact percentile collects,
    // window evals, bm25 folds), so coalescing to one task serializes
    // compute worth far more than the near-empty-task overhead it
    // saves. parallelism-first is the right default for this engine's
    // CPU-heavy-small-bytes profile.
    // Shuffle writer choice (guide §2.2 "fewer, larger blocks" / §6
    // small-files): below spark.shuffle.sort.bypassMergeThreshold
    // (default 200) reduce partitions, Spark's bypass-merge writer
    // creates one file PER REDUCER per map task and then re-opens all
    // of them to concatenate — O(M·R) opens/creates/deletes per
    // shuffle. jstack sampling of a warm q93 loop attributed ~49% of
    // busy executor samples to FileOutputStream.open0 (+map/unmap/
    // delete) in exactly that path. The sort-based writer buffers in
    // memory and writes ONE data + index file per map task. Lowering
    // the threshold to 4 flips small-R shuffles to the sort writer
    // (subset A/B at 32 threads: q93 ×1.41, q101 ×1.36, q26 ×1.47,
    // q69 ×1.28, q48 ×1.20, none regressed). Scale-adaptive: at
    // production reducer counts (R > 200) bypass is already off, so
    // this only affects the small-R regime where per-file overhead
    // dominates. The threshold is STATIC SparkConf (read per shuffle
    // registration from the live conf), so it is applied to the
    // running SparkEnv's conf. An explicitly configured threshold is
    // respected, which is also the opt-out: set
    // spark.shuffle.sort.bypassMergeThreshold=200 for Spark's default.
    val env = org.apache.spark.SparkEnv.get
    if (env != null && !env.conf.contains("spark.shuffle.sort.bypassMergeThreshold"))
      env.conf.set("spark.shuffle.sort.bypassMergeThreshold", "4")
    // Codegen cache size: Spark keeps compiled classes in an LRU of
    // spark.sql.codegen.cache.maxEntries (default 100), but one
    // perfbench pass generates ~190 (yelp_etl) to ~230 (serving_mix)
    // distinct classes. A cyclic working set above an LRU's size
    // evicts everything, so at 100 every re-run query recompiles every
    // class (13-40 ms each). 2048 also holds a full catalog pass (an
    // sf0.01 Bench pass then recompiles under 50). The conf is STATIC:
    // the cache is built once per JVM, from SQLConf.get, when
    // CodeGenerator is first used. So the value goes into this
    // session's SQLConf (read by that first use) and the SparkContext's
    // conf (inherited by later sessions and task confs); it takes
    // effect only if no class was compiled before, and a late configure
    // says so. An explicitly configured size is respected, which is
    // also the opt-out: set spark.sql.codegen.cache.maxEntries=100 for
    // Spark's default.
    val sqlConf = org.apache.spark.sql.GraftSqlShims.sessionSqlConf(spark)
    if (!sqlConf.contains(CodegenCacheSize)) {
      if (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount > 0)
        log.warn(s"classes were compiled before Tables.configure: Spark's codegen " +
          s"cache keeps its size, and $CodegenCacheSize=$CodegenCacheEntries " +
          "takes effect only in a JVM that compiles nothing before configure")
      sqlConf.setConfString(CodegenCacheSize, CodegenCacheEntries)
      if (env != null) env.conf.setIfMissing(CodegenCacheSize, CodegenCacheEntries)
    }
    graft.functions.VectorFunctions.register(spark)
    graft.functions.TextFunctions.register(spark)
    graft.plans.GraftExtensions.install(spark)
    spark
  }

  /** Inferred schema per table path, cached for the JVM. The driver
    * testdata is immutable, but every bare `spark.read.parquet(path)`
    * re-runs footer schema inference — a Spark JOB (plus a gzipped
    * hadoop-conf broadcast) per DataFrame creation, ~25–50 ms at
    * local[32], paid by every `Tables.X` call of every query of every
    * bench pass. The FIRST read of a path keeps Spark's own inference
    * (so the cached schema is bit-identical to what inference
    * returns, nullability included); later reads pass it explicitly,
    * which parquet documents as the skip-inference fast path. This is
    * metadata caching (like Spark's own file-listing cache), not
    * result caching: every query still computes from the parquet
    * bytes. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  def load(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    val path = s"$sfDir/$table.parquet"
    // cache key carries (length, mtime) so a rewritten path in a
    // long-lived JVM re-infers instead of silently serving the stale
    // schema (one local getFileStatus per call — microseconds)
    val key = try {
      val p = new org.apache.hadoop.fs.Path(path)
      val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
      s"$path:${st.getLen}:${st.getModificationTime}"
    } catch { case _: java.io.IOException => path }
    val cached = schemaCache.get(key)
    if (cached != null) spark.read.schema(cached).parquet(path)
    else {
      val df = spark.read.parquet(path)
      schemaCache.put(key, df.schema)
      df
    }
  }

  /** Spark schema of parquet dir(s), read DRIVER-SIDE from the first
    * footer found — what `spark.read.parquet(dirs).schema` infers
    * (mergeSchema=false: one representative footer), WITHOUT the
    * footer-reading Spark job (and its serialized-hadoop-conf
    * broadcast) that inference launches per call. The versioned
    * layer needs a schema once per COMMIT (footer harvest of the
    * just-written dir) and once per SIDECAR read (dv key sets,
    * recorded change feeds), and the monthly pipeline once per
    * silver/gold read; the per-call job overhead — measured
    * 30–60 ms each at local[32] — dominated the multi-commit
    * protocol meters (optimization guide §1.2: remove work, then
    * tune). Spark-written files carry the exact Spark schema as
    * footer key-value JSON, the same source inference prefers;
    * foreign files fall back to MessageType conversion under the
    * session's parquet semantics. */
  private[graft] def parquetSchemaDriver(spark: SparkSession, dirs: Seq[String]): StructType = {
    val conf = org.apache.spark.sql.GraftSqlShims.sessionHadoopConf(spark)
    def firstFile(p: Path, fs: org.apache.hadoop.fs.FileSystem): Option[Path] = {
      // hidden-path rule mirrors Spark's InMemoryFileIndex: never
      // descend into _temporary/.staging leftovers or read an
      // in-flight task file's footer
      val st = fs.listStatus(p).sortBy(_.getPath.getName.toString)
        .filterNot { s =>
          val n = s.getPath.getName
          n.startsWith("_") || n.startsWith(".")
        }
      st.collectFirst {
        case s if !s.isDirectory && s.getPath.getName.endsWith(".parquet") => s.getPath
      }.orElse(st.iterator.filter(_.isDirectory)
        .flatMap(d => firstFile(d.getPath, fs)).nextOption())
    }
    val head = dirs.iterator.flatMap { d =>
      val p = new Path(d)
      firstFile(p, p.getFileSystem(conf))
    }.nextOption().getOrElse(throw new IllegalArgumentException(
      s"no parquet files under ${dirs.mkString(", ")}"))
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(head, conf))
    try {
      val fmd = reader.getFooter.getFileMetaData
      Option(fmd.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
        .flatMap(j => scala.util.Try(
          org.apache.spark.sql.types.DataType.fromJson(j)
            .asInstanceOf[StructType]).toOption)
        .getOrElse(new org.apache.spark.sql.execution.datasources.parquet
          .ParquetToSparkSchemaConverter(conf).convert(fmd.getSchema))
    } finally reader.close()
  }

  /** [[parquetSchemaDriver]] applied as an explicit read schema: the
    * no-inference-job replacement for `spark.read.parquet(dirs…)` on
    * engine-written dirs. */
  private[graft] def readParquetNoInfer(spark: SparkSession, dirs: Seq[String]): DataFrame =
    spark.read.schema(parquetSchemaDriver(spark, dirs)).parquet(dirs: _*)

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** `events` with `ts` normalized to a TimestampType `event_ts`
    * column at microsecond precision (Spark's native resolution).
    * The driver has shipped `events.parquet` with `ts` as both
    * TIMESTAMP(NANOS) (surfacing as epoch-nanos LongType under the
    * legacy flag) and TIMESTAMP(MICROS) (surfacing as TIMESTAMP_NTZ),
    * so the conversion dispatches on the read schema; the oracle side
    * needs no twin because DuckDB's `epoch_ns()` accepts either
    * physical precision. */
  def eventsWithTs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw = events(s, d)
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // `div` = exact integral division; `/` would detour through
        // double and lose low bits at 1e18-scale epoch nanos.
        raw.withColumn("event_ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        // NTZ wall-clock == UTC instant under the pinned UTC session
        raw.withColumn("event_ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }
}
