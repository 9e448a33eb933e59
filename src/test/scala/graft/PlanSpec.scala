package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions — the scale contract, not just results:
  * filters reach the parquet scan, projections prune the read schema,
  * dims broadcast, bucketed joins need no shuffle. A plan regression
  * here is a 100 TB incident that a value-equality test would miss.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val d = "/root/testdata/sf0.001"

  /** Formatted explain (scan details: PushedFilters, ReadSchema). */
  private def planOf(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  /** Final adaptive plan, after execution (codegen spans resolved).
    * Only the "Final Plan" section — executedPlan.toString appends an
    * "Initial Plan" section under AQE, which would double-count nodes
    * in structural assertions. */
  private def executedPlanOf(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  test("filter pushdown reaches the parquet scan (q13)") {
    val plan = planOf(SparkEntry.queries("q13_top10_brands")(spark, d))
    assert(plan.contains("EqualTo(l_returnflag,R)") && plan.contains("PushedFilters"),
      s"expected returnflag pushdown in:\n$plan")
  }

  test("column pruning: projection-only query reads only selected columns (q17)") {
    val plan = planOf(SparkEntry.queries("q17_dim_customer")(spark, d))
    // customer has 5 columns; the query uses 4 — c_nationkey must not be read
    assert(plan.contains("ReadSchema") && !plan.contains("c_nationkey"),
      s"expected pruned ReadSchema without c_nationkey in:\n$plan")
  }

  test("dimension joins broadcast; top-k plans as TakeOrderedAndProject (q13)") {
    val plan = planOf(SparkEntry.queries("q13_top10_brands")(spark, d))
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k operator in:\n$plan")
  }

  test("bucketed co-located join plans with no shuffle exchange") {
    import graft.operators.Bucketing
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable broadcast so the join must choose SMJ/shuffle-hash —
      // the bucket layout is what removes the exchanges
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val orders = Tables.orders(spark, d)
      val lineitem = Tables.lineitem(spark, d)
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
      Bucketing.saveBucketed(orders, "b_orders", "o_orderkey", 4)
      Bucketing.saveBucketed(lineitem, "b_lineitem", "o_orderkey", 4)
      val joined = Bucketing.colocatedJoin(spark, "b_orders", "b_lineitem", "o_orderkey")
      val plan = planOf(joined)
      assert(!plan.contains("Exchange"), s"expected shuffle-free bucketed join:\n$plan")
      assert(plan.contains("SelectedBucketsCount"), s"expected bucketed scan in:\n$plan")
      // and the result is the plain join's result
      val plain = orders.join(lineitem, Seq("o_orderkey"))
      assert(joined.count() == plain.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("RangeJoinRewrite turns inequality joins into banded equi-joins BY DEFAULT") {
    import graft.plans.GraftExtensions
    GraftExtensions.install(spark)
    val points = Tables.customer(spark, d).select(col("c_custkey"), col("c_acctbal"))
    val intervals = Tables.supplier(spark, d).select(col("s_suppkey"),
      (col("s_acctbal") - 50).as("lo"), (col("s_acctbal") + 50).as("hi"))
    def rawJoin = points.join(intervals,
      col("c_acctbal") >= col("lo") && col("c_acctbal") < col("hi"))
      .select(col("c_custkey"), col("s_suppkey"))
    try {
      // default ON: no conf set, the inequality join still bands
      spark.conf.unset("spark.graft.rangeJoin.enabled")
      val rewritten = rawJoin
      val planBefore = rewritten.queryExecution.executedPlan.toString
      assert(planBefore.contains("__graft_band"),
        s"expected banded equi-join by default, got:\n$planBefore")
      val got = rewritten.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      // all intervals here are 1 band wide → the wide-fallback branch
      // is empty, and AQE's empty-relation propagation must erase its
      // nested-loop join from the final plan
      // (executedPlan.toString prints Final and Initial sections; the
      // fallback legitimately exists in the initial plan)
      val planAfter = rewritten.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(!planAfter.contains("BroadcastNestedLoopJoin"),
        s"expected AQE to erase the empty fallback branch, got:\n$planAfter")
      spark.conf.set("spark.graft.rangeJoin.enabled", "false")
      val expected = rawJoin.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(got.nonEmpty && got.toSeq == expected.toSeq)
      // and the disabled plan really is the nested loop
      assert(rawJoin.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    } finally spark.conf.unset("spark.graft.rangeJoin.enabled")
  }

  test("RangeJoinRewrite: intervals past maxBands fall back to the raw join branch") {
    import graft.plans.GraftExtensions
    GraftExtensions.install(spark)
    val points = Tables.customer(spark, d).select(col("c_custkey"), col("c_acctbal"))
    // mixed widths: odd suppliers get a narrow interval (1 band at
    // W=100), even suppliers a huge one (≫ maxBands below)
    val intervals = Tables.supplier(spark, d).select(col("s_suppkey"),
      (col("s_acctbal") - 50).as("lo"),
      when(col("s_suppkey") % 2 === 0, col("s_acctbal") + 100000)
        .otherwise(col("s_acctbal") + 50).as("hi"))
    def rawJoin = points.join(intervals,
      col("c_acctbal") >= col("lo") && col("c_acctbal") < col("hi"))
      .select(col("c_custkey"), col("s_suppkey"))
    try {
      spark.conf.unset("spark.graft.rangeJoin.enabled")
      spark.conf.set("spark.graft.rangeJoin.maxBands", "16")
      val hybrid = rawJoin
      val plan = hybrid.queryExecution.executedPlan.toString
      // both branches present: a banded equi-join (hash join on the
      // band) AND the nested-loop fallback for the wide intervals
      assert(plan.contains("BroadcastNestedLoopJoin") &&
        (plan.contains("SortMergeJoin") || plan.contains("HashJoin")),
        s"expected hybrid banded+fallback plan, got:\n$plan")
      val got = hybrid.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      spark.conf.set("spark.graft.rangeJoin.enabled", "false")
      val expected = rawJoin.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(got.nonEmpty && got.toSeq == expected.toSeq)
    } finally {
      spark.conf.unset("spark.graft.rangeJoin.enabled")
      spark.conf.unset("spark.graft.rangeJoin.maxBands")
    }
  }

  test("IVF index: probe partition-prunes to its nProbe list directories; results match direct IVF") {
    import graft.ext.Similarity
    val emb = Tables.embeddings(spark, d)
    val corpus = emb.filter(col("vec_id") =!= 0)
    val probe = emb.filter(col("vec_id") === 0).select(col("embedding").as("probe_vec"))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
    val cents = Similarity.ivfWriteIndex(corpus, "vec_id", "embedding", dir, nLists = 8)
    val indexed = Similarity.ivfTopKIndexed(spark, dir, cents, probe,
      "vec_id", "embedding", k = 10, nProbe = 2)
    // partition pruning: the scan's PartitionFilters carry the literal
    // list ids — only those directories are read
    val plan = planOf(indexed)
    assert(plan.contains("PartitionFilters") && plan.contains("list_id"),
      s"expected list_id partition filters in:\n$plan")
    assert("""list_id.* IN \(""".r.findFirstIn(plan).isDefined ||
      plan.contains("list_id#"), s"expected literal IN filter on list_id in:\n$plan")
    // identical answer to the scan-and-assign path (same training call
    // → same centroids → same lists)
    val direct = Similarity.ivfTopK(corpus, probe, "vec_id", "embedding",
      k = 10, nLists = 8, nProbe = 2)
    val a = indexed.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = direct.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a.nonEmpty && a == b)
  }

  test("deletion-vector read: one multi-dir scan, key mask is a broadcast anti-join (q110)") {
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_dv_plan").toString + "/t"
    val base = Tables.orders(spark, d)
      .select(col("o_orderkey"), col("o_totalprice"))
    Versioned.writeVersion(base, dir)
    Versioned.deleteByKeys(spark, dir,
      base.filter(col("o_totalprice") > 180000).select(col("o_orderkey")), "o_orderkey")
    val served = Versioned.readLatest(spark, dir)
    val plan = executedPlanOf(served)
    // the mask must never shuffle the table: the key set broadcasts
    // into a LeftAnti hash join (at 100 TB the keys are tiny next to
    // the data; a sort-merge anti would re-sort the corpus per read)
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected broadcast anti-join in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected sort-merge join in:\n$plan")
    // and the data side is ONE parquet scan over the manifest's dirs
    assert("Scan parquet".r.findAllIn(plan).length == 2, // data + dv key set
      s"expected exactly data+dv scans in:\n$plan")
  }

  test("SQL catalog: dv-free VERSION AS OF plans the native DSv2 parquet scan, pruned and pushed; dv version masks in-reader with no join") {
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_sqlcat_plan").toString + "/t"
    val base = Tables.orders(spark, d).select(col("o_orderkey"), col("o_totalprice"))
    Versioned.writeVersion(base, dir)
    Versioned.deleteByKeys(spark, dir,
      base.filter(col("o_totalprice") > 180000).select(col("o_orderkey")), "o_orderkey")
    spark.conf.set("spark.sql.catalog.graft_vplan", "graft.sql.VersionedCatalog")
    // dv-free version: Spark's OWN v2 parquet table serves it — the
    // scan is a BatchScan with the filter pushed and the read schema
    // pruned to the selected column (the whole point of delegating to
    // the native source instead of shimming one)
    val v0 = spark.sql(
      s"SELECT o_orderkey FROM graft_vplan.`$dir` VERSION AS OF 0 WHERE o_orderkey > 100")
    val p0 = planOf(v0)
    assert(p0.contains("BatchScan"), s"expected native DSv2 scan in:\n$p0")
    assert(p0.contains("PushedFilters") && p0.contains("GreaterThan(o_orderkey,100)"),
      s"expected pushed filter in:\n$p0")
    assert(p0.contains("ReadSchema") && !p0.contains("o_totalprice"),
      s"expected o_orderkey-only read in:\n$p0")
    assert(v0.count() == base.filter(col("o_orderkey") > 100).count())
    // dv-bearing version: the mask is applied INSIDE the partition
    // readers — no join node anywhere in the plan (the library path's
    // broadcast anti-join is the DataFrame twin; at the DSv2 seam the
    // mask rides the scan itself) — and the result equals the library
    // read. Selecting only o_totalprice forces the widen-then-project
    // path (the key column must be read for the mask, then dropped).
    val v1 = spark.sql(s"SELECT o_totalprice FROM graft_vplan.`$dir` VERSION AS OF 1")
    val p1 = planOf(v1)
    assert(!p1.contains("Join"), s"dv mask must not plan a join:\n$p1")
    val viaSql = v1.as[Double](org.apache.spark.sql.Encoders.scalaDouble)
      .collect().sorted.toSeq
    val viaLib = Versioned.readVersion(spark, dir, 1)
      .select(col("o_totalprice")).as[Double](org.apache.spark.sql.Encoders.scalaDouble)
      .collect().sorted.toSeq
    assert(viaSql == viaLib && viaSql.nonEmpty)
    // latest (no AS OF) resolves through the same catalog
    assert(spark.sql(s"SELECT count(*) FROM graft_vplan.`$dir`").head().getLong(0) ==
      viaLib.length)
  }

  test("CHECK constraints enforce IN THE PLAN: the analyzed SQL insert carries Spark's CheckInvariant") {
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_ck_plan").toString + "/t"
    spark.conf.set("spark.sql.catalog.graft_ckp", "graft.sql.VersionedCatalog")
    spark.sql(s"CREATE TABLE graft_ckp.`$dir` (id BIGINT, price DOUBLE, " +
      "CONSTRAINT price_pos CHECK (price > 0.0))")
    // analysis only — a DML Dataset would execute eagerly
    val stmt = s"INSERT INTO graft_ckp.`$dir` VALUES (1, 10.0)"
    val analyzed = spark.sessionState.executePlan(
      spark.sessionState.sqlParser.parsePlan(stmt)).analyzed.toString
    // ResolveTableConstraints injected the enforcement expression
    // because the table REPORTS the constraint via DSv2 — the refusal
    // happens in the write job's plan, before the store's
    // commit-time backstop ever runs
    assert(analyzed.toLowerCase.contains("checkinvariant"),
      s"plan-side enforcement missing:\n$analyzed")
    assert(analyzed.contains("price_pos"), analyzed)
    // and a table WITHOUT constraints plans no invariant node
    val dir2 = java.nio.file.Files.createTempDirectory("graft_ck_plan2").toString + "/t"
    spark.sql(s"CREATE TABLE graft_ckp.`$dir2` (id BIGINT, price DOUBLE)")
    val plain = spark.sessionState.executePlan(
      spark.sessionState.sqlParser.parsePlan(
        s"INSERT INTO graft_ckp.`$dir2` VALUES (1, 10.0)")).analyzed.toString
    assert(!plain.toLowerCase.contains("checkinvariant"), plain)
  }

  test("SQL catalog data skipping: a pushed WHERE drops provably-empty dirs from the planned scan") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_sqlskip_plan").toString + "/t"
    def batch(lo: Long, hi: Long) =
      spark.range(lo, hi).toDF("id").repartition(1)
    Versioned.writeVersion(batch(0, 100), dir)
    Versioned.writeVersion(batch(100, 200), dir, SaveMode.Append)
    Versioned.writeVersion(batch(200, 300), dir, SaveMode.Append)
    spark.conf.set("spark.sql.catalog.graft_vskip", "graft.sql.VersionedCatalog")
    // planned FILES, post-pruning: the manifest-backed index applies
    // dir/file stats skipping inside listFiles, so the honest measure
    // is the scan's actual input partitions, not the index inventory
    def filesPlanned(sql: String): Int = {
      val df = spark.sql(sql)
      df.queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          // unwrap the SupportsReportStatistics wrapper the catalog adds
          // when nothing is pushed — it delegates toBatch verbatim
          val scan = b.scan match {
            case m: graft.sql.ManifestStatsScan => m.inner
            case other => other
          }
          scan match {
            case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =>
              p.toBatch.planInputPartitions().map {
                case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
                  fp.files.length
                case _ => 0
              }.sum
          }
      }.sum
    }
    // unfiltered: every dir's file is in the plan — and the plan is
    // served by the MANIFEST-BACKED index (zero filesystem listing)
    val sqlPlan = spark.sql(s"SELECT id FROM graft_vskip.`$dir`")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(sqlPlan.contains("ManifestPartitioningIndex"), sqlPlan)
    assert(filesPlanned(s"SELECT id FROM graft_vskip.`$dir`") == 3)
    // one conjunct proves two dirs empty from manifest stats alone —
    // BEFORE any listing: the scan's file index holds ONE file
    assert(filesPlanned(s"SELECT id FROM graft_vskip.`$dir` WHERE id >= 250") == 1)
    assert(filesPlanned(
      s"SELECT id FROM graft_vskip.`$dir` WHERE id > 99 AND id <= 200") == 2)
    // provably-empty predicate: zero files planned, zero rows, no error
    assert(filesPlanned(s"SELECT id FROM graft_vskip.`$dir` WHERE id > 1000") == 0)
    assert(spark.sql(s"SELECT id FROM graft_vskip.`$dir` WHERE id > 1000").count() == 0)
    // exactness: the pruned plan returns the same rows as the predicate
    val got = spark.sql(s"SELECT id FROM graft_vskip.`$dir` WHERE id >= 250")
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    assert(got == (250L until 300L).toSet)
  }

  test("manifest-served file index: plan from manifest bytes; plain filters skip dirs at execution; stray files invisible") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_mfi_plan").toString + "/t"
    def batch(lo: Long, hi: Long) = spark.range(lo, hi).toDF("id").repartition(1)
    Versioned.writeVersion(batch(0, 100), dir)
    Versioned.writeVersion(batch(100, 200), dir, SaveMode.Append)
    Versioned.writeVersion(batch(200, 300), dir, SaveMode.Append)
    // the read plans over the manifest-served index — Delta's
    // TahoeFileIndex role: zero filesystem metadata calls at plan time
    val plan = planOf(Versioned.readLatest(spark, dir))
    assert(plan.contains("ManifestFileIndex"), s"expected manifest-served index in:\n$plan")
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      val exec = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      exec.collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        .map(_.metrics("numFiles").value).sum
    }
    // a PLAIN .filter() read — no explicit skipping API — must prune
    // dirs at execution planning from the pushed filters
    assert(filesRead(Versioned.readLatest(spark, dir)) == 3)
    assert(filesRead(Versioned.readLatest(spark, dir).filter(col("id") >= 250)) == 1)
    assert(filesRead(Versioned.readLatest(spark, dir)
      .filter(col("id") > 99 && col("id") <= 200)) == 2)
    assert(filesRead(Versioned.readLatest(spark, dir).filter(col("id") > 1000)) == 0)
    // file-level authority: a stray parquet file dropped into a data
    // dir is INVISIBLE (the manifest's file list is the source of
    // truth; a dir-listing read would serve it)
    val dataDir = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("v00000000_data")).head
    spark.range(9000, 9010).toDF("id").repartition(1)
      .write.parquet(dataDir.getAbsolutePath + "__rogue_tmp")
    val rogue = new java.io.File(dataDir.getAbsolutePath + "__rogue_tmp")
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(rogue.toPath,
      new java.io.File(dataDir, "part-rogue.parquet").toPath)
    val ids = Versioned.readLatest(spark, dir)
      .select("id").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    assert(ids == (0L until 300L).toSet, "stray file leaked into a manifest-listed read")
  }

  test("per-file skipping: plain filters prune files WITHIN a surviving dir (q119 shape)") {
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_fileskip_plan").toString + "/t"
    // one commit, one dir, four range-partitioned files — the dir
    // bound spans everything, so any numFiles cut below is the
    // manifest's PER-FILE stats pruning inside the surviving dir
    Versioned.writeVersionWith(spark, dir)(tmp =>
      spark.range(0, 400).toDF("id")
        .repartitionByRange(4, col("id")).sortWithinPartitions("id")
        .write.mode(org.apache.spark.sql.SaveMode.ErrorIfExists).parquet(tmp))
    val plan = planOf(Versioned.readLatest(spark, dir))
    assert(plan.contains("ManifestFileIndex"), s"expected manifest-served index in:\n$plan")
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      val exec = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      exec.collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        .map(_.metrics("numFiles").value).sum
    }
    assert(filesRead(Versioned.readLatest(spark, dir)) == 4)
    assert(filesRead(Versioned.readLatest(spark, dir).filter(col("id") >= 350)) == 1)
    assert(filesRead(Versioned.readLatest(spark, dir)
      .filter(col("id") > 99 && col("id") <= 200)) == 2)
    assert(filesRead(Versioned.readLatest(spark, dir).filter(col("id") > 1000)) == 0)
    // and the q119 query itself plans through the manifest index
    val q119 = planOf(SparkEntry.queries("q119_file_skipping")(spark, d))
    assert(q119.contains("ManifestFileIndex"), s"q119 must plan via the manifest index:\n$q119")
  }

  test("partitioned versioned read: PartitionFilters prune dirs/files from manifest bytes (q122 shape)") {
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_vpart_plan").toString + "/t"
    val df = spark.range(0, 300).toDF("id")
      .withColumn("bucket", (col("id") % 3).cast("int"))
      .repartition(2)
    Versioned.writeVersion(df, dir, partCols = Seq("bucket"))
    // the partition column rides in the plan as a real partitionSchema
    val plan = planOf(Versioned.readLatest(spark, dir).filter(col("bucket") === 1))
    assert(plan.contains("ManifestFileIndex"), s"expected manifest index in:\n$plan")
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"expected a pushed partition filter in:\n$plan")
    def filesRead(dfq: org.apache.spark.sql.DataFrame): Long = {
      dfq.collect()
      val exec = dfq.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      exec.collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        .map(_.metrics("numFiles").value).sum
    }
    val all = filesRead(Versioned.readLatest(spark, dir))
    val one = filesRead(Versioned.readLatest(spark, dir).filter(col("bucket") === 1))
    assert(all > one && one > 0, s"partition pruning: $one of $all files")
    // exactness under the pruned plan
    assert(Versioned.readLatest(spark, dir).filter(col("bucket") === 1)
      .select("id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().toSet == (0L until 300L).filter(_ % 3 == 1).toSet)
  }

  /** Hash shuffles Spark planned to meet an operator's distribution
    * requirement (`ShuffleExchangeExec` with `HashPartitioning` and
    * ENSURE_REQUIREMENTS origin), counted in the physical plan before
    * execution. The sanctioned input spread (Par.spread's
    * `repartition(n, xxhash64(…))`) has REPARTITION_BY_NUM origin and
    * a presentation ORDER BY range-partitions, so neither counts. */
  private def hashExchanges(df: DataFrame): Int = {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan // the initial plan, exchanges inserted
      case p => p
    }
    plan.collect {
      case s: ShuffleExchangeExec if s.shuffleOrigin == ENSURE_REQUIREMENTS &&
          s.outputPartitioning.isInstanceOf[HashPartitioning] => s
    }.length
  }

  test("curation-operator plans: chunking stays map-side, packing reuses its window shuffle") {
    // q62 chunking: scan → project → generate, no data shuffle
    val chunk = SparkEntry.queries("q62_chunk_documents")(spark, d)
    assert(hashExchanges(chunk) == 0,
      s"chunking must not shuffle data, got:\n${planOf(chunk)}")
    // q55 packing: ONE hash exchange (the shard window); the (shard,
    // bin) groupBy must reuse the shard partitioning, not re-shuffle
    val pack = SparkEntry.queries("q55_pack_bins")(spark, d)
    assert(hashExchanges(pack) == 1,
      s"expected exactly one hash exchange in:\n${planOf(pack)}")
    // q53 split: only doc_id is read from the 5-column documents table
    val splitPlan = planOf(SparkEntry.queries("q53_hash_split")(spark, d))
    assert(splitPlan.contains("ReadSchema: struct<doc_id:bigint>"),
      s"expected doc_id-only ReadSchema in:\n$splitPlan")
  }

  test("partition pruning: filter on partition column prunes the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_prune").toString
    Tables.orders(spark, d)
      .withColumn("o_year", year(col("o_orderdate")))
      .write.partitionBy("o_year").mode("overwrite").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("o_year") === 1997)
    val plan = planOf(pruned)
    assert(plan.contains("PartitionFilters: [isnotnull(o_year"),
      s"expected partition filter in:\n$plan")
    // the un-pruned read sees >1 partition value; the pruned one sees 1
    assert(pruned.select("o_year").distinct().count() == 1)
  }

  test("span-dedup/decontamination plan contracts (q64, q68, q69)") {
    // q64: no WindowExec — cross-doc detection must be the partial-agg
    // groupBy (a boilerplate hash repeated corpus-wide would serialize
    // its whole occurrence list onto one un-splittable WindowExec task;
    // partial aggregation crushes the hot key map-side instead)
    val spanPlan = executedPlanOf(SparkEntry.queries("q64_dedup_spans")(spark, d))
    assert(!spanPlan.contains("Window ["),
      s"q64 must not window over the repeated-span hash, got:\n$spanPlan")
    assert(spanPlan.contains("partial_min") && spanPlan.contains("partial_max"),
      s"q64 dup-hash detection must partial-aggregate map-side, got:\n$spanPlan")
    // and the explode+md5 pipeline still runs exactly once: both
    // consumers (dup-hash agg + join-back probe) read the persisted
    // windows, never re-explode
    assert("TableCacheQueryStage".r.findAllIn(spanPlan).length >= 2,
      s"q64 must read the persisted windows on both sides, got:\n$spanPlan")
    // q68: asymmetric by design — two window explodes (corpus + eval),
    // with the eval side behind a BroadcastExchange
    val deconPlan = executedPlanOf(SparkEntry.queries("q68_decontaminate")(spark, d))
    assert("Generate posexplode".r.findAllIn(deconPlan).length == 2 &&
      deconPlan.contains("BroadcastExchange"),
      s"q68 must broadcast the eval windows, got:\n$deconPlan")
    // q69: losers drop via an anti-join, never a full-corpus rewrite
    val keepPlan = executedPlanOf(SparkEntry.queries("q69_near_dedup_keep")(spark, d))
    assert(keepPlan.contains("LeftAnti"),
      s"q69 must materialize survivors via anti-join, got:\n$keepPlan")
  }

  test("bloom-gated incremental dedup: codegen'd gate on the store scan, then anti-join (q84)") {
    val plan = executedPlanOf(SparkEntry.queries("q84_incremental_bloom")(spark, d))
    // the store side must pass through Spark's native bloom predicate
    // (BloomFilterMightContain — codegen'd, not a UDF) before the join:
    // at 100 TB the gate is what keeps the anti-join's right side at
    // ~|batch|·(1+fpp) instead of the whole history
    assert(plan.contains("might_contain"),
      s"q84 must gate the store scan with might_contain, got:\n$plan")
    assert(plan.contains("LeftAnti"),
      s"q84 must remove seen fingerprints via anti-join, got:\n$plan")
  }

  test("two-phase cap plans: histogram partial-aggregates, prefilter sits below the window (q78)") {
    val plan = executedPlanOf(SparkEntry.queries("q78_cap_two_phase")(spark, d))
    // phase 1 must be a partial-aggregating groupBy (the hot-key
    // crusher), not a window
    assert(plan.contains("partial_"),
      s"expected map-side partial aggregation in the histogram, got:\n$plan")
    // the bucket prefilter must sit BELOW the Window node — plans
    // print top-down, so "__thr" must appear in the window's input
    // subtree (here Catalyst folds it into the threshold join's
    // condition, even better than a standalone Filter)
    val winIdx = plan.indexOf("Window [")
    assert(winIdx >= 0, s"expected a ranking window in:\n$plan")
    assert(plan.indexOf("__thr", winIdx) >= 0,
      s"threshold prefilter must bound the window input, got:\n$plan")
    // the threshold join must BROADCAST (one row per stratum): a
    // sort-merge join here would reuse the window's stratum exchange
    // and sort the FULL input on the skewed key before the prefilter
    // — SKEWBENCH measured 95 s vs 2.4 s at 32M rows on this exact
    // difference
    assert(plan.contains("BroadcastHashJoin"),
      s"threshold join must broadcast, got:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no sort-merge join may precede the prefilter:\n$plan")
  }

  /** Every node of the FINAL adaptive plan, query stages expanded,
    * WITHOUT descending into InMemoryRelation cached plans — the
    * string form nests a whole child AdaptiveSparkPlan under each
    * cache read, which breaks structural counting. */
  private def finalPlanNodes(df: DataFrame): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    df.collect()
    def expand(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case o => o.children
      }
      p +: kids.flatMap(expand)
    }
    expand(df.queryExecution.executedPlan)
  }
  private def countNodes(nodes: Seq[org.apache.spark.sql.execution.SparkPlan],
                         name: String): Int =
    nodes.count(_.getClass.getSimpleName.contains(name))

  test("LM scoring reuses one corpus tokenization for all three LM tables (q89)") {
    val nodes = finalPlanNodes(SparkEntry.queries("q89_lm_perplexity")(spark, d))
    // context and vocab counts derive from the PERSISTED bigram table
    // (column pruning would otherwise specialize each consumer's
    // exchange and defeat reuse, re-tokenizing the corpus per table).
    assert(countNodes(nodes, "InMemoryTableScan") >= 2,
      "q89 LM tables must read the persisted bigram counts")
    // exactly two explode passes remain: LM build (inside the cache,
    // not counted here) + scoring
    assert(countNodes(nodes, "GenerateExec") <= 2,
      "q89 must tokenize the corpus at most twice (build + score)")
  }

  test("DSIR bin-score lookup broadcasts; top-k is TakeOrdered (q90)") {
    val plan = executedPlanOf(SparkEntry.queries("q90_importance_resample")(spark, d))
    // the per-token score join must NEVER shuffle the token stream —
    // the bin table is `buckets` rows by construction
    assert(plan.contains("BroadcastHashJoin"),
      s"q90 bin lookup must broadcast, got:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"q90 global top-k must plan as TakeOrdered, not a global sort, got:\n$plan")
  }

  test("near-dup gate: index pipeline computes once, membership joins broadcast (q92)") {
    val nodes = finalPlanNodes(SparkEntry.queries("q92_neardup_gate")(spark, d))
    // four per-band filters sit over ONE persisted distinct(band,
    // bucket) build — the history minhash pipeline must not run four
    // times (the filters would push below the distinct and re-derive
    // it per band on an unmaterialized index)
    assert(countNodes(nodes, "InMemoryTableScan") >= 4,
      "q92 index build must be computed once and cache-read per band")
    assert(countNodes(nodes, "BroadcastHashJoin") == 4,
      "q92 gate must be 4 broadcast membership joins")
    assert(countNodes(nodes, "WindowExec") == 0,
      "q92 gate must stay window-free (stateless at ingest)")
  }

  test("BM25: df/stats broadcast back, term filter below the first shuffle, top-k is TakeOrdered (q93)") {
    // eager=false: the catalog entry materializes eagerly (to release
    // the postings cache); the shape contract needs the lazy plan,
    // which is exactly what the eager path executes via collect()
    val df = graft.ext.TextStats.bm25(
      graft.Tables.documents(spark, d), "text", "doc_id",
      Seq("spark", "join", "window", "vector"), topK = 15, eager = false)
    val plan = planOf(df)
    // the query-term isin must run map-side (inside the generate/
    // filter stage), so only postings that mention a query term reach
    // the tf groupBy's exchange — `tok IN …` must appear as a Filter,
    // not as a post-shuffle HashAggregate condition
    assert(plan.contains("Filter") && plan.contains("tok"),
      s"expected a map-side term filter in:\n$plan")
    val nodes = finalPlanNodes(df)
    assert(countNodes(nodes, "BroadcastHashJoin") >= 1 &&
      countNodes(nodes, "BroadcastNestedLoopJoin") >= 1,
      "df lookup must broadcast-hash-join; the one-row stats must broadcast-cross-join")
    assert(countNodes(nodes, "TakeOrderedAndProject") == 1,
      "BM25 top-k must plan as TakeOrderedAndProject, not a global sort")
    assert(countNodes(nodes, "WindowExec") == 0, "no window over data keys")
    // tf and df both read the PERSISTED matched postings — the corpus
    // must not be re-tokenized per consumer (q89 lesson)
    assert(countNodes(nodes, "InMemoryTableScan") >= 2,
      "matched postings must compute once and cache-read for tf and df")
  }

  test("heavy hitters: candidate gate broadcasts; recount partial-aggregates; TWO corpus scans (q97)") {
    // eager=false: the catalog entry materializes eagerly (to release
    // the sketch cache); the shape contract needs the lazy plan,
    // which is what the eager path executes via collect()
    val nodes = finalPlanNodes(graft.ext.TextStats.heavyHitters(
      graft.Tables.documents(spark, d), "text", sketchSize = 32, eager = false))
    // the exact recount must be gated by a broadcast semi-join on the
    // MG candidates (plus the broadcast one-row total) — never a
    // shuffle of the raw token stream against the candidate set
    assert(countNodes(nodes, "BroadcastHashJoin") >= 1,
      "candidate gate must be a broadcast semi-join")
    // partial aggregation before the exchange: the hot token arrives
    // at its reducer as one row per map task (the q64 lesson)
    val aggs = countNodes(nodes, "HashAggregate")
    assert(aggs >= 2, s"expected partial+final recount aggregates, got $aggs")
    assert(countNodes(nodes, "WindowExec") == 0, "no window over the token key")
    // genuinely two-pass: the corpus is tokenized in the sketch pass
    // and the gated recount, and NOWHERE else — N rides out of the
    // sketch as per-partition counts, not a third scan
    val scans = nodes.count(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
    assert(scans <= 2, s"documents must be scanned at most twice, got $scans")
    // both sketch consumers (candidates, N) read the persisted sketch
    assert(countNodes(nodes, "InMemoryTableScan") >= 2,
      "sketch output must compute once and cache-read for candidates and N")
  }

  test("random projection is one map-side projection: no exchange, no UDF (q96)") {
    // sort comes from the catalog ORDER BY; everything below it must
    // be scan → project (the 8 dots are literal-matrix expressions)
    val plan = planOf(SparkEntry.queries("q96_random_project")(spark, d))
    assert(!plan.contains("Exchange hashpartitioning"),
      s"projection must not shuffle:\n$plan")
    assert(!plan.toLowerCase.contains("batchevalpython") && !plan.contains("SQLAppliedFunction"),
      "projection must stay in codegen built-ins")
    assert(plan.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"),
      s"expected pruned ReadSchema in:\n$plan")
  }

  test("merge CDF: ONE join + explode fan-out — never a join or scan per change class (q95)") {
    val nodes = finalPlanNodes(SparkEntry.queries("q95_merge_cdf")(spark, d))
    // the union-of-filters formulation looks reusable but Catalyst
    // specializes the outer join per branch: 4 joins, 8 scans. The
    // change-array explode keeps it at exactly one join and one scan
    // per side at any scale
    val joins = nodes.count(n => n.getClass.getSimpleName.contains("Join"))
    assert(joins == 1, s"CDF must be ONE full-outer join, got $joins")
    val scans = nodes.count(_.getClass.getSimpleName.contains("FileSourceScan"))
    assert(scans == 2, s"CDF must scan each side once, got $scans")
    assert(countNodes(nodes, "Generate") == 1, "change fan-out must be one explode")
  }

  test("expectations: 5 rules = ONE scan and one partial+final aggregate (q98)") {
    val nodes = finalPlanNodes(SparkEntry.queries("q98_expectations")(spark, d))
    val scans = nodes.count(_.getClass.getSimpleName.contains("FileSourceScan"))
    assert(scans == 1, s"rule count must never add scans, got $scans")
    assert(countNodes(nodes, "HashAggregate") +
      countNodes(nodes, "SortAggregate") >= 2, "expected partial+final aggregation")
  }

  test("column stats: exact multi-distinct plans via Expand over one scan (q99)") {
    val nodes = finalPlanNodes(SparkEntry.queries("q99_column_stats")(spark, d))
    assert(nodes.count(_.getClass.getSimpleName.contains("FileSourceScan")) == 1,
      "ANALYZE must read the table once")
    assert(countNodes(nodes, "Expand") >= 1,
      "multiple exact COUNT(DISTINCT)s should plan through Expand, not per-column scans")
  }

  test("mv refresh: delta partial-aggregates; one group-keyed join; no window (q103)") {
    val nodes = finalPlanNodes(SparkEntry.queries("q103_mv_refresh")(spark, d))
    // both sides aggregate with partial+final (map-side combine), the
    // merge is ONE full-outer join on the group key — at scale the
    // join carries group-cardinality rows, never raw history
    assert(countNodes(nodes, "HashAggregate") >= 4,
      "view + delta aggregations must each be partial+final")
    val joins = nodes.count(_.getClass.getSimpleName.contains("Join"))
    assert(joins == 1, s"refresh must be one group-keyed join, got $joins")
    assert(countNodes(nodes, "WindowExec") == 0)
  }

  test("BPE tokenization stays map-side: scan → project, no exchange before the sort (q72)") {
    val bpe = SparkEntry.queries("q72_bpe_tokens")(spark, d)
    val plan = planOf(bpe)
    assert(hashExchanges(bpe) == 0,
      s"BPE tokenization must not shuffle data, got:\n$plan")
    // and it reads only the two columns it needs from documents
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"expected pruned ReadSchema in:\n$plan")
  }

  test("multimodal stub pipeline stays in codegen: no UDF node in the q49 plan (q49)") {
    // resize/frameSample are pure byte arithmetic — built-ins, not
    // UDFs; the imperative *Udf forms exist only as the real-codec seam
    val plan = executedPlanOf(SparkEntry.queries("q49_multimodal_frames")(spark, d))
    assert(!plan.contains("UDF") && !plan.contains("BatchEvalPython"),
      s"q49 must not row-box through a UDF, got:\n$plan")
  }

  test("whole-stage codegen covers the aggregation pipeline (q01)") {
    val plan = executedPlanOf(SparkEntry.queries("q01_pricing_summary")(spark, d))
    // codegen'd operators print as "*(n) Operator" in the final plan
    assert("""\*\(\d+\)""".r.findFirstIn(plan).isDefined,
      s"expected codegen spans in:\n$plan")
  }

  test("DSv2 statistics from manifest bytes: exact rows match history; dv-masked dims still broadcast pre-AQE") {
    import graft.ext.Versioned
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_stats").toString + "/t"
    spark.conf.set("spark.sql.catalog.graft_st", "graft.sql.VersionedCatalog")
    Versioned.writeVersion(spark.range(0, 500).toDF("id")
      .withColumn("name", concat(lit("n"), col("id"))), dir)
    Versioned.writeVersion(spark.range(500, 700).toDF("id")
      .withColumn("name", concat(lit("n"), col("id"))), dir,
      org.apache.spark.sql.SaveMode.Append)
    // a filterless scan reports the manifest's EXACT rows — the same
    // number history() serves
    def scanRel(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
      }.get
    val rel = scanRel(spark.sql(s"SELECT * FROM graft_st.`$dir`"))
    assert(rel.stats.rowCount.contains(BigInt(700)),
      s"expected exact manifest rows, got ${rel.stats}")
    val historyRows = Versioned.history(spark, dir)
      .orderBy(col("version").desc).select("n_rows").as[Option[Long]].head()
    assert(historyRows.contains(700L), historyRows.toString)
    // a dv-bearing version must NOT report pre-mask rows as exact …
    Versioned.deleteByKeys(spark, dir, Seq(1L).toDF("id"), "id")
    val relDv = scanRel(spark.sql(s"SELECT * FROM graft_st.`$dir`"))
    assert(relDv.stats.rowCount.isEmpty,
      "masked scans must not claim an exact (over)count")
    // … but it still reports its BYTES, so a small dv-bearing
    // dimension broadcasts at PLANNING time (pre-fix it reported
    // nothing → defaultSizeInBytes → sort-merge until AQE's detour)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (256 * 1024).toString)
      val big = spark.range(0, 2L * 1000 * 1000).toDF("id") // ~16 MB of stats: over threshold
      val j = big.join(spark.sql(s"SELECT * FROM graft_st.`$dir`"), "id")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"),
        s"small masked dim must broadcast pre-AQE:\n$plan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    }
  }

  test("row-level rewrite scan reads ONLY candidate files: selective UPDATE numFiles pinned (q133)") {
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_rlp").toString + "/t"
    spark.conf.set("spark.sql.catalog.graft_rlp", "graft.sql.VersionedCatalog")
    // 4 files with disjoint id ranges: per-file stats admit id=5 in one
    Versioned.writeVersion(spark.range(0, 400).toDF("id")
      .withColumn("price", col("id") * 1.0)
      .repartitionByRange(4, col("id")).sortWithinPartitions("id"), dir)
    // the DML executes eagerly; its physical plan rides in the
    // CommandResult node of the returned frame
    def rewriteScanFiles(sql: String): Long = {
      val res = spark.sql(sql)
      val qe = res.queryExecution
      val cmd = qe.commandExecuted.collectFirst {
        case cr: org.apache.spark.sql.catalyst.plans.logical.CommandResult =>
          cr.commandPhysicalPlan
      }.orElse(qe.executedPlan.collectFirst {
        case ce: org.apache.spark.sql.execution.CommandResultExec =>
          ce.commandPhysicalPlan
      }).getOrElse(fail(s"no executed command plan found in:\n${qe.commandExecuted}"))
      def unwrap(s: org.apache.spark.sql.connector.read.Scan)
          : org.apache.spark.sql.connector.read.Scan = s match {
        case m: graft.sql.ManifestStatsScan => unwrap(m.inner)
        // the delta rewrite's candidate scan serves row addresses
        // through the mask tier even with no mask live
        case d: graft.sql.DvMaskedScan => unwrap(d.inner)
        case other => other
      }
      cmd.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
      }.map(unwrap).collect {
        case f: org.apache.spark.sql.execution.datasources.v2.FileScan =>
          f.fileIndex.inputFiles.length.toLong
      }.sum
    }
    // the pushed group filter selects ONE candidate file; the scan
    // reads exactly that file (whole — every row of it must reach the
    // replacement), not the table
    assert(rewriteScanFiles(s"UPDATE graft_rlp.`$dir` SET price = 0.0 WHERE id = 5") == 1)
    // an unpushable rewrite (MERGE joining on the source) falls back
    // to the whole-table group — correct, just unpruned
    import spark.implicits._
    val got = spark.sql(s"SELECT price FROM graft_rlp.`$dir` WHERE id = 5").as[Double].head()
    assert(got == 0.0)
    // a range DELETE no longer plans a rewrite scan AT ALL: it routes
    // to the positional deletion-vector commit (the candidate-file
    // prune runs inside that command — one covering file scanned for
    // positions — and the data-file list is untouched)
    val vPre = Versioned.latestVersion(spark, dir).get
    val filesPre = Versioned.planDataFiles(spark, dir, vPre, Seq.empty).toSet
    assert(rewriteScanFiles(
      s"DELETE FROM graft_rlp.`$dir` WHERE id >= 300 AND price >= 350.0") == 0,
      "a positional DELETE must not plan a copy-on-write rewrite scan")
    val vPost = Versioned.latestVersion(spark, dir).get
    assert(vPost == vPre + 1)
    assert(Versioned.planDataFiles(spark, dir, vPost, Seq.empty).toSet == filesPre,
      "a positional DELETE must leave the data-file list untouched")
    assert(spark.sql(s"SELECT count(*) AS c FROM graft_rlp.`$dir`").as[Long].head() == 350)
  }

  test("prefix skipping reaches the SQL plan: a pushed LIKE 'p%' drops provably-out-of-range files from the planned scan (q141)") {
    import graft.ext.Versioned
    import org.apache.spark.sql.SaveMode
    val dir = java.nio.file.Files.createTempDirectory("graft_pxplan").toString + "/t"
    def month(m: String) = spark.range(0, 50).toDF("id")
      .withColumn("k", concat(lit(m + "-"), lpad(col("id").cast("string"), 2, "0")))
      .repartition(1)
    Versioned.writeVersion(month("2021-01"), dir)
    Versioned.writeVersion(month("2021-02"), dir, SaveMode.Append)
    Versioned.writeVersion(month("2022-01"), dir, SaveMode.Append)
    spark.conf.set("spark.sql.catalog.graft_pxp", "graft.sql.VersionedCatalog")
    def filesPlanned(sql: String): Int =
      spark.sql(sql).queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          (b.scan match {
            case m: graft.sql.ManifestStatsScan => m.inner
            case other => other
          }) match {
            case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =>
              p.toBatch.planInputPartitions().map {
                case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
                  fp.files.length
                case _ => 0
              }.sum
          }
      }.sum
    assert(filesPlanned(s"SELECT k FROM graft_pxp.`$dir`") == 3)
    assert(filesPlanned(s"SELECT k FROM graft_pxp.`$dir` WHERE k LIKE '2021-02%'") == 1)
    assert(filesPlanned(s"SELECT k FROM graft_pxp.`$dir` WHERE k LIKE '2021%'") == 2)
    assert(filesPlanned(s"SELECT k FROM graft_pxp.`$dir` WHERE k LIKE '2023%'") == 0)
    // exactness under the pruned plan
    assert(spark.sql(s"SELECT count(*) AS c FROM graft_pxp.`$dir` WHERE k LIKE '2021%'")
      .collect().head.getLong(0) == 100)
  }

  test("partition-scoped OPTIMIZE reads ONLY the selected partition's files (q135)") {
    import graft.ext.Versioned
    import org.apache.spark.sql.SaveMode
    val dir = java.nio.file.Files.createTempDirectory("graft_psopt").toString + "/t"
    val df = spark.range(0, 800).toDF("id")
      .withColumn("p", when(col("id") % 2 === 0, "x").otherwise("y"))
    Versioned.writeVersion(df.repartition(4), dir, partCols = Seq("p"))
    // 4 files per partition (one per task per value)
    val selected = Versioned.partitionScopedFiles(spark, dir, 0, "p = 'x'")
    assert(selected.valuesIterator.map(_.size).sum == 4, selected.toString)
    // the rewrite-side read plans EXACTLY the selected files — the
    // manifest-subset index serves nothing else, so a 100 TB table's
    // scoped optimize scans O(selected partition), not O(table)
    val read = Versioned.readVersionFiles(spark, dir, 0, selected)
    val planned = read.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.inputFiles.length
    }.sum
    assert(planned == 4, s"subset read planned $planned files")
    // and the partition values re-attach from the manifest (hive
    // layout strips them from the files)
    assert(read.select("p").distinct().collect().map(_.getString(0)).toSeq == Seq("x"))
    assert(read.count() == 400)
  }

  test("column mapping reaches the SQL plan: a filter on the RENAMED column pushes as the physical name and prunes files (q142)") {
    import graft.ext.Versioned
    import org.apache.spark.sql.SaveMode
    val dir = java.nio.file.Files.createTempDirectory("graft_cmplan").toString + "/t"
    Versioned.writeVersion(spark.range(0, 100).toDF("id")
      .withColumn("score", col("id") * 2.0).repartition(1), dir)
    Versioned.writeVersion(spark.range(100, 200).toDF("id")
      .withColumn("score", col("id") * 2.0).repartition(1), dir, SaveMode.Append)
    Versioned.renameColumns(spark, dir, Seq("score" -> "rating"))
    spark.conf.set("spark.sql.catalog.graft_cmp", "graft.sql.VersionedCatalog")
    def scanOf(sql: String) =
      spark.sql(sql).queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.head
    def unwrap(s: org.apache.spark.sql.connector.read.Scan): org.apache.spark.sql.connector.read.Scan =
      s match {
        case cm: graft.sql.ColumnMappedScan => unwrap(cm.inner)
        case m: graft.sql.ManifestStatsScan => unwrap(m.inner)
        case other => other
      }
    def filesPlanned(sql: String): Int =
      unwrap(scanOf(sql).scan).toBatch.planInputPartitions().map {
        case fp: org.apache.spark.sql.execution.datasources.FilePartition => fp.files.length
        case _ => 0
      }.sum
    // the read serves the LOGICAL name; the pushed predicate prunes the
    // file whose physical 'score' bounds miss — through the mapping
    assert(filesPlanned(s"SELECT id FROM graft_cmp.`$dir`") == 2)
    assert(filesPlanned(s"SELECT id FROM graft_cmp.`$dir` WHERE rating > 300.0") == 1)
    // (probe strictly below every value: a 0.0 minimum is footer-recorded
    // as -0.0 — PARQUET-1222's conservative convention — so `< 0.0`
    // stays one-sidedly unprovable, by design)
    assert(filesPlanned(s"SELECT id FROM graft_cmp.`$dir` WHERE rating < -5.0") == 0)
    // the pushed-filter description speaks the PHYSICAL name (the scan
    // IS the physical scan; only the read schema renames)
    val desc = unwrap(scanOf(s"SELECT id FROM graft_cmp.`$dir` WHERE rating > 300.0").scan)
      .description()
    assert(desc.contains("score"), s"pushed filters should be physical: $desc")
    // column PRUNING translates too: reading only the renamed column
    // plans a read schema of exactly the physical column
    val prunedSchema = scanOf(s"SELECT rating FROM graft_cmp.`$dir`").scan.readSchema()
    assert(prunedSchema.fieldNames.toSeq == Seq("rating"), prunedSchema.toString)
    // exactness under the mapped plan
    assert(spark.sql(s"SELECT sum(rating) FROM graft_cmp.`$dir` WHERE rating > 300.0")
      .collect().head.getDouble(0) == (151L until 200L).map(_ * 2.0).sum)
  }

  test("column mapping on a PARTITIONED chain: PartitionFilters keep firing and the renamed data column pushes physically (q147)") {
    import graft.ext.Versioned
    import org.apache.spark.sql.SaveMode
    val dir = java.nio.file.Files.createTempDirectory("graft_cmpart_plan").toString + "/t"
    val df = spark.range(0, 300).toDF("id")
      .withColumn("score", col("id") * 2.0)
      .withColumn("bucket", (col("id") % 3).cast("int"))
      .repartition(2)
    Versioned.writeVersion(df, dir, partCols = Seq("bucket"))
    Versioned.renameColumns(spark, dir, Seq("score" -> "rating"))
    // append through the LOGICAL name: hive subtrees stage the physical
    Versioned.writeVersion(
      spark.range(300, 600).toDF("id")
        .withColumn("rating", col("id") * 2.0)
        .withColumn("bucket", (col("id") % 3).cast("int")).repartition(2),
      dir, SaveMode.Append, Seq("bucket"))
    spark.conf.set("spark.sql.catalog.graft_cmp2", "graft.sql.VersionedCatalog")
    def scanOf(sql: String) =
      spark.sql(sql).queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.head
    def unwrap(s: org.apache.spark.sql.connector.read.Scan): org.apache.spark.sql.connector.read.Scan =
      s match {
        case cm: graft.sql.ColumnMappedScan => unwrap(cm.inner)
        case m: graft.sql.ManifestStatsScan => unwrap(m.inner)
        case other => other
      }
    def filesPlanned(sql: String): Int =
      unwrap(scanOf(sql).scan).toBatch.planInputPartitions().map {
        case fp: org.apache.spark.sql.execution.datasources.FilePartition => fp.files.length
        case _ => 0
      }.sum
    val all = filesPlanned(s"SELECT id FROM graft_cmp2.`$dir`")
    // PARTITION pruning still plans from manifest bytes through the rename
    val onePart = filesPlanned(s"SELECT id FROM graft_cmp2.`$dir` WHERE bucket = 1")
    assert(onePart > 0 && onePart < all, s"partition pruning: $onePart of $all")
    // the RENAMED data column prunes via its physical footer stats
    assert(filesPlanned(s"SELECT id FROM graft_cmp2.`$dir` WHERE rating < -5.0") == 0)
    // and the pushed description speaks the physical name
    val desc = unwrap(scanOf(s"SELECT id FROM graft_cmp2.`$dir` WHERE rating > 700.0").scan)
      .description()
    assert(desc.contains("score"), s"pushed filters should be physical: $desc")
    // exactness across the whole renamed partitioned union
    assert(spark.sql(s"SELECT count(*) FROM graft_cmp2.`$dir` WHERE bucket = 1")
      .collect().head.getLong(0) == 200L)
    assert(spark.sql(s"SELECT sum(rating) FROM graft_cmp2.`$dir`")
      .collect().head.getDouble(0) == (0L until 600L).map(_ * 2.0).sum)
  }

  test("bloom skipping reaches the SQL plan: an EqualTo on the declared column drops interleaved files bounds cannot (q143)") {
    import graft.ext.Versioned
    import org.apache.spark.sql.SaveMode
    val dir = java.nio.file.Files.createTempDirectory("graft_blplan").toString + "/t"
    import spark.implicits._
    val even = (0L until 1000L by 2).toDF("id").repartition(1)
    val odd  = (1L until 1000L by 2).toDF("id").repartition(1)
    Versioned.writeVersion(even, dir)
    Versioned.writeVersion(odd, dir, SaveMode.Append)
    Versioned.declareBloomColumn(spark, dir, "id")
    spark.conf.set("spark.sql.catalog.graft_blp", "graft.sql.VersionedCatalog")
    def filesPlanned(sql: String): Int =
      spark.sql(sql).queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          (b.scan match {
            case m: graft.sql.ManifestStatsScan => m.inner
            case other => other
          }) match {
            case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =>
              p.toBatch.planInputPartitions().map {
                case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
                  fp.files.length
                case _ => 0
              }.sum
          }
      }.sum
    // both files span [0, 1000): bounds keep 2; the bloom keeps 1
    assert(filesPlanned(s"SELECT id FROM graft_blp.`$dir`") == 2)
    assert(filesPlanned(s"SELECT id FROM graft_blp.`$dir` WHERE id = 42") == 1)
    // exactness: the pruned plan still serves the row
    assert(spark.sql(s"SELECT count(*) FROM graft_blp.`$dir` WHERE id = 42")
      .collect().head.getLong(0) == 1)
  }

  test("runtime filtering forwards through the scan wrappers (graceful on Spark 4.1's non-filtering FileScan)") {
    import graft.ext.Versioned
    import org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    // Spark 4.1's FileScan dropped SupportsRuntimeFiltering (file-source
    // DPP routes elsewhere), so the inner parquet scan exposes no
    // runtime-filter attributes — the wrappers must still BE
    // runtime-filter-capable and degrade gracefully (empty attributes,
    // no-op filter), so a future filtering inner scan forwards for free
    // and today's plans never crash on the instanceof probe.
    val dir = java.nio.file.Files.createTempDirectory("graft_rtf").toString + "/t"
    Versioned.writeVersion(spark.range(0, 100).toDF("id")
      .withColumn("score", col("id") * 2.0), dir)
    spark.conf.set("spark.sql.catalog.graft_rtf", "graft.sql.VersionedCatalog")
    def scanOf(sql: String) =
      spark.sql(sql).queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
      }.head
    val plain = scanOf(s"SELECT id FROM graft_rtf.`$dir`")
    assert(plain.isInstanceOf[SupportsRuntimeV2Filtering])
    val pr = plain.asInstanceOf[SupportsRuntimeV2Filtering]
    assert(pr.filterAttributes().isEmpty)
    pr.filter(Array.empty) // no-op, never throws
    Versioned.renameColumns(spark, dir, Seq("score" -> "rating"))
    val mapped = scanOf(s"SELECT id FROM graft_rtf.`$dir`")
    assert(mapped.isInstanceOf[SupportsRuntimeV2Filtering])
    val mr = mapped.asInstanceOf[SupportsRuntimeV2Filtering]
    assert(mr.filterAttributes().isEmpty)
    mr.filter(Array.empty)
    // the v2-expression renamer itself is pinned directly: a Predicate
    // over the logical name rebuilds under the physical one
    import org.apache.spark.sql.connector.expressions.Expressions
    val pred = new org.apache.spark.sql.connector.expressions.filter.Predicate("=",
      Array(Expressions.column("rating"),
        Expressions.literal(1.0)))
    val renamed = graft.sql.ColumnMapped.renameV2(pred, Map("rating" -> "score"))
    assert(renamed.get.toString.contains("score"), renamed.toString)
  }
}
