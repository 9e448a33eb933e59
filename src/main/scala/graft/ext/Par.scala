package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Input rebalancing for expensive per-row kernels (optimization
  * guide §2: partitioning that avoids stragglers and idle capacity).
  *
  * A parquet ROW GROUP is the scan-splittability atom, so a table
  * that arrives as one (or few) row groups serializes every per-row
  * kernel that runs in the scan stage — tokenize/shingle/minhash
  * front-ends, codec synthesize/decode chains — onto as many cores as
  * there are row groups, regardless of cluster size. The bench
  * testdata is exactly that shape (one file, one row group per
  * table), and profiles showed multi-second single-task stages.
  *
  * [[spread]] rebalances the kernel's input to the session's core
  * count ONLY when the input is a pure projection/filter over one
  * parquet relation whose driver-side footer metadata shows fewer row
  * groups than cores:
  *
  *   - a table that already scans wide (any production-sized input)
  *     passes through untouched — the row-group guard is what keeps
  *     the fix 100 TB-shaped rather than a local-mode hack;
  *   - a COMPOSED input (anything containing a join/aggregate/window
  *     upstream) passes through untouched: post-shuffle parallelism
  *     is AQE's job there, and the r16 guard (`df.rdd`) was a
  *     measured disaster on such inputs — under AQE `Dataset.rdd`
  *     materializes the adaptive plan's query stages, i.e. EXECUTES
  *     the upstream pipeline, whose shuffle output the subsequent
  *     `repartition` then discards (q83 1.26 s → 8.09 s in the r16
  *     driver bench). The logical-plan walk plus a cached footer read
  *     makes the decision without building a physical plan at all.
  *
  * When it does fire, the shuffled payload is the kernel's input
  * projection, and the work it unlocks is the kernel itself — orders
  * of magnitude larger. Explicit-N so AQE keeps the fan-out
  * (byte-based coalescing would undo it: the inputs are tiny in
  * bytes but expensive per row). The partitioning is HASH on
  * xxhash64(all columns) rather than round-robin: a keyless
  * `repartition(n)` first pays a full local sort of the input rows
  * per map task (spark.sql.execution.sortBeforeRepartition, on by
  * default since SPARK-23207) so that retried tasks reproduce the
  * same row placement — for document payloads that sort compared
  * whole text rows and dominated the spread stage. Hashing row
  * content is deterministic under retries BY CONSTRUCTION (the
  * guide §2.5 synthetic-key form), needs no sort, and the spread
  * inputs are high-cardinality scan projections so 32-way balance
  * holds.
  */
private[graft] object Par {
  /** Row-group count per parquet file, one driver-side footer read for
    * the JVM's lifetime. Keyed on (path, length, mtime) so a rewritten
    * file (long-lived test JVMs) can never serve a stale count. */
  private val rowGroupCache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** The files under the plan's scan when the plan is a pure
    * Project/Filter chain over ONE file-source relation; None for
    * anything composed (join/aggregate/window/local data/...). */
  private def scanFiles(plan: LogicalPlan): Option[Seq[String]] = plan match {
    case Project(_, c) => scanFiles(c)
    case Filter(_, c) => scanFiles(c)
    case SubqueryAlias(_, c) => scanFiles(c)
    case l: LogicalRelation => l.relation match {
      case r: HadoopFsRelation => Some(r.location.inputFiles.toSeq)
      case _ => None
    }
    case _ => None
  }

  private def rowGroups(spark: SparkSession, file: String): Int = {
    // read-only footer access: the shared conf, not a per-call copy
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(file)
    val st = p.getFileSystem(conf).getFileStatus(p)
    val key = s"$file:${st.getLen}:${st.getModificationTime}"
    rowGroupCache.computeIfAbsent(key, { _ =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      try reader.getRowGroups.size() finally reader.close()
    })
  }

  def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val n = spark.sparkContext.defaultParallelism
    if (n <= 1) return df
    scanFiles(df.queryExecution.analyzed) match {
      // many files ⇒ at least as many row groups ⇒ already wide; only
      // few-file scans pay (cached) footer reads
      case Some(files) if files.nonEmpty && files.length < n
          && files.iterator.map(rowGroups(spark, _)).sum < n =>
        df.repartition(n, org.apache.spark.sql.functions.xxhash64(
          df.columns.map(df(_)).toIndexedSeq: _*))
      case _ => df
    }
  }
}
