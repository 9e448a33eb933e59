package graft.tools

import org.apache.spark.SparkEnv
import org.apache.spark.sql.SaveMode

/** MULTI-EXECUTOR smoke for the versioned store — the one claim twelve
  * rounds of `local[32]` could never make: that nothing in the serving
  * path assumes driver-local state. `local-cluster[2,2,1024]` runs TWO
  * REAL EXECUTOR JVMs (the reference's own parity rig is a 2-worker
  * standalone cluster, ref: docker-compose.yml:33-68), so every
  * structure the plan ships to tasks — the manifest-built file index,
  * per-file bloom bitsets, deletion-vector mask joins, column-mapping
  * projections, partition pruning — must actually SERIALIZE and
  * evaluate off-driver, or this main exits non-zero.
  *
  * Driven by [[graft.ClusterSpec]] as a forked JVM (a second
  * SparkContext cannot share the suite JVM); runnable by hand:
  *
  * {{{
  *   SPARK_HOME=/opt/spark java -cp <classes+spark jars> \
  *     -Dspark.master=local-cluster[2,2,1024] graft.tools.ClusterSmoke /tmp/out
  * }}}
  */
object ClusterSmoke {

  private def fail(msg: String): Nothing = {
    // the spec greps stdout; make the failure reason land there too
    println(s"CLUSTER_SMOKE FAIL: $msg")
    sys.exit(1)
  }

  private def check(cond: Boolean, msg: => String): Unit =
    if (!cond) fail(msg)

  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_cluster").toString)
    // master/executor conf comes from the forked JVM's -D flags
    val spark = graft.Tables.session(sys.props("spark.master"),
      "spark.app.name" -> "graft-cluster-smoke",
      "spark.sql.shuffle.partitions" -> "8")
    import spark.implicits._
    import graft.ext.Versioned

    check(spark.sparkContext.master.startsWith("local-cluster"),
      s"smoke must run on local-cluster, got ${spark.sparkContext.master}")

    // 0) prove the work really lands on >=2 executor JVMs, none of
    // them the driver — otherwise every assertion below proves nothing
    val execs = spark.sparkContext.parallelize(1 to 64, 16)
      .map(_ => SparkEnv.get.executorId).distinct().collect().toSet
    check(execs.size >= 2 && !execs.contains("driver"),
      s"expected >=2 non-driver executors, tasks ran on $execs")

    val dir = s"$root/t"
    spark.conf.set("spark.sql.catalog.graft_cs", "graft.sql.VersionedCatalog")

    // 1) versioned write + read across executors (manifest file index
    // + recorded schema serialize into the scan tasks)
    val base = spark.range(0, 10000).select($"id",
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("p"), $"id").as("payload"))
    Versioned.writeVersion(base.repartition(8), dir)
    check(Versioned.readLatest(spark, dir).count() == 10000, "v0 read lost rows")

    // 2) copy-on-write UPDATE through the SQL catalog (file-granular
    // rewrite: the surviving-file subset index must reach the tasks)
    spark.sql(s"UPDATE graft_cs.`$dir` SET payload = 'patched' WHERE id = 7")
    check(spark.sql(s"SELECT payload FROM graft_cs.`$dir` WHERE id = 7")
      .as[String].head() == "patched", "CoW update not visible")
    check(Versioned.readLatest(spark, dir).count() == 10000, "CoW changed row count")

    // 3) SQL DELETE = scoped deletion vector; the mask is an executor-
    // side anti-join against the dv parquet, never a driver structure
    spark.sql(s"DELETE FROM graft_cs.`$dir` WHERE id = 8")
    check(spark.sql(s"SELECT count(*) FROM graft_cs.`$dir`").as[Long].head() == 9999,
      "scoped-dv mask lost or over-applied")
    check(spark.sql(s"SELECT count(*) FROM graft_cs.`$dir` WHERE id = 8")
      .as[Long].head() == 0, "deleted key still visible")

    // 4) bloom-pruned point lookup: interleave a second commit so
    // min/max bounds cannot prune, then declare the index — the pruned
    // read's per-file bitsets ride the serialized file index
    Versioned.writeVersion(
      spark.range(0, 10000).select(($"id" * 2 + 100000).as("id"),
        org.apache.spark.sql.functions.lit("even").as("payload")).repartition(4),
      dir, SaveMode.Append)
    Versioned.declareBloomColumn(spark, dir, "id")
    val v = Versioned.latestVersion(spark, dir).get
    val all = Versioned.planDataFiles(spark, dir, v, Seq.empty).length
    val pruned = Versioned.planDataFiles(spark, dir, v,
      Seq(org.apache.spark.sql.sources.EqualTo("id", 100042L))).length
    check(pruned < all, s"bloom pruned nothing: $pruned of $all files planned")
    check(spark.sql(s"SELECT payload FROM graft_cs.`$dir` WHERE id = 100042")
      .as[String].head() == "even", "bloom-pruned lookup lost its row")
    check(spark.sql(s"SELECT count(*) FROM graft_cs.`$dir` WHERE id = 424242424")
      .as[Long].head() == 0, "absent key matched")

    // 5) column-mapped read: rename is metadata-only; the physical->
    // logical projection and the pushed-down physical filter must
    // both survive the executor boundary
    spark.sql(s"ALTER TABLE graft_cs.`$dir` RENAME COLUMN id TO doc_id")
    check(spark.sql(s"SELECT payload FROM graft_cs.`$dir` WHERE doc_id = 100042")
      .as[String].head() == "even", "column-mapped lookup broke")
    check(Versioned.readLatest(spark, dir).columns.contains("doc_id"),
      "logical schema missing renamed column")

    // 6) partitioned chain: ManifestFileIndex partition pruning with
    // hive-laid-out dirs, planned on the driver, scanned on executors
    val pdir = s"$root/p"
    Versioned.writeVersion(
      spark.range(0, 4000).select($"id", ($"id" % 4).cast("int").as("bucket")),
      pdir, partCols = Seq("bucket"))
    check(spark.sql(s"SELECT count(*) FROM graft_cs.`$pdir` WHERE bucket = 2")
      .as[Long].head() == 1000, "partition-pruned count wrong")

    // 7) a shuffle-heavy library op for good measure: exact dedup
    // (hash groupBy) must produce the same answer it does on local[*]
    val docs = spark.range(0, 2000).select(
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("doc"), $"id" % 500).as("text"),
      $"id".as("doc_id"))
    check(graft.ext.Dedup.exact(docs, "text", "doc_id").count() == 500,
      "exact dedup wrong on cluster")

    println(s"CLUSTER_SMOKE OK executors=${execs.toSeq.sorted.mkString(",")}")
    spark.stop()
  }
}
