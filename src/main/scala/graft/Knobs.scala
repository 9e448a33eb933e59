package graft

import org.apache.spark.sql.SparkSession

/** One engine setting: its `spark.graft.*` session key, default and doc
  * and, for a table-backed knob, the `graft.*` table property that
  * supplies the value when the session leaves it unset. A value that
  * does not parse fails naming the key and the value. */
final case class Knob[T](key: String, default: T, doc: String,
                         tableKey: Option[String] = None)(parse: String => T) {
  private[graft] def parsed(source: String, raw: String): T =
    try parse(raw.trim) catch {
      case scala.util.control.NonFatal(e) => throw new IllegalArgumentException(
        s"invalid value '$raw' for $source (${e.getMessage})", e)
    }

  /** The session value, else the default. */
  def apply(spark: SparkSession): T =
    spark.conf.getOption(key).fold(default)(parsed(key, _))

  /** The session value (it wins both ways), else the table property
    * (key matched case-insensitively), else the default. `props` is
    * only evaluated when the session leaves the knob unset. */
  def apply(spark: SparkSession, props: => Map[String, String]): T =
    spark.conf.getOption(key) match {
      case Some(raw) => parsed(key, raw)
      case None => tableKey.flatMap(tk => props.collectFirst {
        case (k, raw) if k.equalsIgnoreCase(tk) => parsed(tk, raw)
      }).getOrElse(default)
    }
}

/** The registry: every `spark.graft.*` knob the engine reads, declared
  * once with its default. Nothing else reads a `spark.graft.*` key. */
object Knobs {
  private def knob[T](k: String, d: T, doc: String, table: Boolean)(parse: String => T) =
    Knob[T](k, d, doc, if (table) Some(k.stripPrefix("spark.")) else None)(parse)
  private def long(k: String, d: Long, doc: String, table: Boolean = false) =
    knob(k, d, doc, table)(_.toLong)
  private def int(k: String, d: Int, doc: String, table: Boolean = false) =
    knob(k, d, doc, table)(_.toInt)
  private def bool(k: String, d: Boolean, doc: String, table: Boolean = false) =
    knob(k, d, doc, table)(_.toBoolean)
  private def columns(k: String, doc: String) = knob[Seq[String]](k, Seq.empty, doc,
    table = true)(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
  private val MiB = 1024L * 1024

  val checkpointInterval = int("spark.graft.manifest.checkpointInterval", 10,
    "a full checkpoint lands every N commits (≤1 = every commit)")
  val checkpointSpillBytes = long("spark.graft.checkpoint.spillBytes", 4 * MiB,
    "a checkpoint above this spills its largest inline payloads to sidecars")
  val sidecarMinBytes = long("spark.graft.sidecar.minBytes", 256 * 1024,
    "a dir's bloom blobs or stats JSON at or above this move to a sidecar file")
  val bloomBackfillFiles = knob[Option[Int]]("spark.graft.bloom.backfillFilesPerCommit", None,
    "files per bloom-backfill commit (unset: derived from the bytes cap)", false)(s => Some(s.toInt))
  val bloomBackfillBytes = long("spark.graft.bloom.backfillBytesPerCommit", 256 * MiB,
    "bloom bytes per backfill commit when the file cap is unset")
  val distributedMinItems = int("spark.graft.distributed.minItems", 64,
    "fsck probes, vacuum deletes and footer harvests run as a Spark job from this many items")
  val dvMaxKeys = long("spark.graft.dv.maxKeys", 10L * 1000 * 1000,
    "largest key set one key-deletion vector may record")
  val dvMaxPositions = long("spark.graft.dv.maxPositions", 10L * 1000 * 1000,
    "largest (file, pos) set one positional deletion vector may record")
  val rowOpsMode = knob("spark.graft.rowops.mode", "delta",
    "delta: UPDATE/MERGE/DELETE write position masks; cow: copy-on-write rewrites", false) { s =>
    val m = s.toLowerCase(java.util.Locale.ROOT)
    require(m == "delta" || m == "cow", "expected delta or cow")
    m
  }
  val rangeJoinEnabled = bool("spark.graft.rangeJoin.enabled", true,
    "rewrite point-in-interval joins into banded equi-joins")
  val rangeJoinMaxBands = long("spark.graft.rangeJoin.maxBands", 256,
    "intervals spanning more bands take the raw-join fallback branch")
  val ccReliableCheckpoint = bool("spark.graft.cc.reliableCheckpoint", false,
    "connected components checkpoint to the checkpoint dir instead of locally")
  val optimizeWrite = bool("spark.graft.optimizeWrite.enabled", false,
    "rebalance a versioned write so its file count tracks the AQE advisory size", table = true)
  val autoCompact = bool("spark.graft.autoCompact.enabled", false,
    "after a write, coalesce the smallest data dirs", table = true)
  val autoCompactTargetBytes = long("spark.graft.autoCompact.targetBytes", 128 * MiB,
    "auto compact picks dirs under this size", table = true)
  val autoCompactMinDirs = int("spark.graft.autoCompact.minDirs", 8,
    "auto compact runs once this many small dirs exist", table = true)
  val autoCompactMaxDirs = int("spark.graft.autoCompact.maxDirs", 64,
    "auto compact coalesces at most this many dirs", table = true)
  val autoClusterColumns = columns("spark.graft.autoCluster.columns",
    "after a write, Morton-cluster the unclustered increment on these columns")
  val autoClusterMinBytes = long("spark.graft.autoCluster.minBytes", 256 * MiB,
    "auto cluster runs once the unclustered increment reaches this size", table = true)
  val autoClusterBits = int("spark.graft.autoCluster.bits", 16,
    "Morton bits per clustering column", table = true)
  val autoClusterTargetBytes = long("spark.graft.autoCluster.targetBytes", 128 * MiB,
    "target output file size of an auto-cluster rewrite", table = true)
  val cdfEnabled = bool("spark.graft.cdf.enabled", false,
    "record a change feed on row-tracked tables, keyed on _row_id", table = true)
  val cdfKeys = columns("spark.graft.cdf.keys", "record a change feed keyed on these columns")

  val all: Seq[Knob[_]] = Seq(checkpointInterval, checkpointSpillBytes, sidecarMinBytes,
    bloomBackfillFiles, bloomBackfillBytes, distributedMinItems, dvMaxKeys, dvMaxPositions,
    rowOpsMode, rangeJoinEnabled, rangeJoinMaxBands, ccReliableCheckpoint, optimizeWrite,
    autoCompact, autoCompactTargetBytes, autoCompactMinDirs, autoCompactMaxDirs,
    autoClusterColumns, autoClusterMinBytes, autoClusterBits, autoClusterTargetBytes,
    cdfEnabled, cdfKeys)

  /** Refuse a `spark.graft.*` session key the registry does not know
    * (a deleted or misspelt knob would otherwise be ignored silently)
    * or a known one whose value does not parse. */
  def validate(spark: SparkSession): Unit =
    spark.conf.getAll.foreach { case (k, raw) =>
      if (k.startsWith("spark.graft.")) all.find(_.key == k) match {
        case Some(knob) => knob.parsed(k, raw)
        case None => throw new IllegalArgumentException(
          s"unknown engine setting $k=$raw; the known spark.graft.* keys are " +
            all.map(_.key).sorted.mkString(", "))
      }
    }
}
