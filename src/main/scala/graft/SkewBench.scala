package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SKEWBENCH: measure that the de-skewed operator shapes beat the
  * shapes they replaced ON SKEWED DATA — the hazard the plan
  * contracts (PlanSpec) prove structurally, demonstrated as
  * wall-clock. Three old-vs-new pairs:
  *
  *   - q64 span dedup: window-over-wh (the hot boilerplate hash's
  *     whole occurrence list serializes onto one WindowExec task)
  *     vs groupBy(wh)+join-back (map-side partial agg crushes the
  *     hot key; probe side AQE-splittable);
  *   - q78 stratum cap: single-phase window-per-stratum (the hot
  *     stratum — half the corpus — sorts on one task) vs two-phase
  *     bucket-threshold prefilter (phase 1 cuts the window input to
  *     ~maxRows per stratum);
  *   - q97 heavy hitters: the pre-fix three-tokenization form
  *     (sketch + separate global count + recount) vs the two-pass
  *     form (N rides out of the sketch pass).
  *
  * Each pair gets a fixture matched to ITS hazard (generated into
  * /tmp once):
  *
  *   - q64: `SPARK_GRAFT_SKEW_DOCS` docs; 10% are the SAME 8-token
  *     boilerplate page — ONE hot window hash (the C4 exact-template
  *     condition), everything else unique;
  *   - q78: `SPARK_GRAFT_SKEW_ROWS` narrow rows where stratum `hot`
  *     holds 50% — the single-phase shape must sort half the corpus
  *     on ONE window task;
  *   - q97: `SPARK_GRAFT_SKEW_LONGDOCS` long documents (~150 tokens)
  *     — tokenization is the dominant cost, so the two-pass vs
  *     three-scan difference is visible instead of drowning in fixed
  *     overhead.
  *
  * Timings via the same noop write + median-of-runs discipline as
  * [[Bench]], with the cache cleared and shapes interleaved between
  * runs. Run on a settled box (see QUIET_BENCH.md). */
object SkewBench {

  /** Longest single task (ms) across everything run since reset — the
    * straggler. On 32 local threads a skewed task hides behind spare
    * cores; on a 1000-executor cluster the stage's wall-clock IS its
    * slowest task, so this is the number that extrapolates. */
  private object MaxTaskListener extends org.apache.spark.scheduler.SparkListener {
    @volatile var maxMs: Long = 0L
    override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      if (t.taskInfo != null)
        maxMs = math.max(maxMs, t.taskInfo.duration)
  }

  /** (median wall seconds, median max-task seconds). Interleaving and
    * cache hygiene both matter: several shapes under test persist
    * intermediates (dedupSpans' window table) — left cached, run N's
    * leavings throttle run N+1 and the OTHER shape (measured: a 7x
    * inversion); and back-to-back same-shape runs let JIT/page-cache
    * drift favor whichever shape runs later, so the caller interleaves
    * shapes per round instead. */
  private def measure(spark: SparkSession)(mk: => DataFrame): (Double, Double) = {
    spark.catalog.clearCache()
    MaxTaskListener.maxMs = 0L
    val t0 = System.nanoTime()
    mk.write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    (wall, MaxTaskListener.maxMs / 1000.0)
  }

  private def medians(xs: Seq[(Double, Double)]): (Double, Double) = {
    def med(v: Seq[Double]) = v.sorted.apply(v.length / 2)
    (med(xs.map(_._1)), med(xs.map(_._2)))
  }

  def main(args: Array[String]): Unit = {
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_SKEW_DOCS", "8000000").toLong
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // Skew is RELATIVE to task granularity: a hot key holding 10% of
    // the data is a 3x straggler at 32 tasks but a 100x one at 1000 —
    // so the shuffle partitioning emulates the 1000-executor regime
    // the de-skewed shapes exist for, not the 32-thread default.
    val parts = sys.env.getOrElse("SPARK_GRAFT_SKEW_PARTS", "1024").toInt
    val loadStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // AQE stays ON — the production config both shapes ship under.
    // It can skew-split and broadcast-convert the NEW shapes' joins
    // but can NOT split a window partition (they are atomic), which
    // is precisely the hazard this bench demonstrates.
    val spark = Tables.session(s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> parts.toString)
    spark.sparkContext.setLogLevel("WARN")

    // ── fixtures ──
    val dir = s"/tmp/graft_skewbench_v2_$nDocs"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir))) {
      // 10% of docs are the SAME 8-token boilerplate page (exact
      // template duplicates — cookie banners, error pages): ONE hot
      // window hash whose occurrence list is nDocs/10 rows. The rest
      // carry 8 unique tokens → one unique window each. Avg rows per
      // window-key task is ~nDocs·0.9/parts, so the hot key is a
      // ~parts/10× straggler for any shape that serializes its
      // occurrence list.
      val boiler = (1 to 8).map(i => s"boilertoken$i").mkString(" ")
      def filler(seed: String) = concat_ws(" ",
        (0 until 8).map(i => substring(md5(concat(lit(seed), col("id"))), i * 4 + 1, 4)): _*)
      spark.range(nDocs)
        .select(col("id").as("doc_id"),
          when(col("id") % 10 === 0, lit(boiler))
            .otherwise(filler("x")).as("text"))
        .repartition(32)
        .write.mode("overwrite").parquet(dir)
    }
    val docs = spark.read.parquet(dir)
    docs.count() // warm FS cache + JIT

    val nRows = sys.env.getOrElse("SPARK_GRAFT_SKEW_ROWS", "32000000").toLong
    val rowsDir = s"/tmp/graft_skewbench_rows_$nRows"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(rowsDir))) {
      spark.range(nRows)
        .select(col("id").as("doc_id"),
          when(col("id") % 2 === 0, lit("hot"))
            .otherwise(concat(lit("s"), (col("id") % 20).cast("string"))).as("source"))
        .repartition(32)
        .write.mode("overwrite").parquet(rowsDir)
    }
    val rows = spark.read.parquet(rowsDir)
    rows.count()

    val nLong = sys.env.getOrElse("SPARK_GRAFT_SKEW_LONGDOCS", "300000").toLong
    val longDir = s"/tmp/graft_skewbench_long_$nLong"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(longDir))) {
      // ~150 tokens per doc, 10% drawn from 20 common tokens (so the
      // heavy-hitter output is non-empty), the rest unique
      spark.range(nLong)
        .select(col("id").as("doc_id"),
          concat_ws(" ", expr(
            "transform(sequence(1, 150), i -> " +
              "if ((id + i) % 10 = 0, concat('common', i % 20), " +
              "substr(md5(concat(cast(id as string), '-', cast(i as string))), 1, 6)))"))
            .as("text"))
        .repartition(32)
        .write.mode("overwrite").parquet(longDir)
    }
    val longDocs = spark.read.parquet(longDir)
    longDocs.count()

    import graft.ext.{Dedup, Sampling, TextStats}

    // ── q64 span dedup: old window shape vs shipped groupBy+join-back ──
    def dedupSpansWindowShape(df: DataFrame, k: Int): DataFrame = {
      // the pre-round-4 formulation: dup detection via min/max OVER
      // (PARTITION BY wh) — kept here only as the skew contrast
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("wh"))
      val toked = df.select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      val windows = Dedup.windowHashes(df, "text", "doc_id", k)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dupStarts = windows
        .withColumn("mn", min(col("doc_id")).over(w))
        .withColumn("mx", max(col("doc_id")).over(w))
        .filter(col("mn") =!= col("mx"))
        .groupBy(col("doc_id"))
        .agg(collect_list(col("start")).as("starts"))
      val out = toked
        .join(dupStarts, Seq("doc_id"), "left")
        .select(col("doc_id"), col("toks"),
          coalesce(col("starts"), array().cast("array<int>")).as("st"))
        .select(col("doc_id"),
          size(col("toks")).as("n_tokens"),
          size(col("st")).as("n_dup_windows"),
          array_join(filter(col("toks"),
            (x, i) => !exists(col("st"), s => s <= i && i < s + k)), " ")
            .as("clean_text"))
      out
    }
    spark.sparkContext.addSparkListener(MaxTaskListener)

    // ── q97 heavy hitters: three-tokenization form vs two-pass ──
    def heavyHittersThreeScan(df: DataFrame, sketchSize: Int): DataFrame = {
      import spark.implicits._
      val toked = df.select(explode(TextStats.tokens(col("text"))).as("tok"))
      val candidates = toked.as[String].mapPartitions { it =>
        val counters = new scala.collection.mutable.HashMap[String, Long]
        it.foreach { t =>
          if (counters.contains(t)) counters(t) += 1L
          else if (counters.size < sketchSize - 1) counters(t) = 1L
          else counters.keys.toArray.foreach { k =>
            val c = counters(k) - 1L
            if (c == 0L) counters.remove(k) else counters(k) = c
          }
        }
        counters.keysIterator
      }.toDF("tok").distinct()
      val total = toked.agg(count(lit(1)).as("n_tokens")) // the third scan
      toked.join(broadcast(candidates), Seq("tok"), "left_semi")
        .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
        .crossJoin(broadcast(total))
        .filter(col("freq") * sketchSize > col("n_tokens"))
        .select(col("tok"), col("freq"),
          round(col("freq").cast("double") / col("n_tokens"), 6).as("share"))
        .orderBy(col("freq").desc, col("tok"))
    }
    // interleaved rounds: (pair name, new shape, old shape)
    val pairs: Seq[(String, () => DataFrame, () => DataFrame)] = Seq(
      ("q64", () => Dedup.dedupSpans(docs, "text", "doc_id", 8),
              () => dedupSpansWindowShape(docs, 8)),
      ("q78", () => Sampling.capPerStratumTwoPhase(rows, "doc_id", "source", maxRows = 1000),
              () => Sampling.capPerStratum(rows, "doc_id", "source", maxRows = 1000)),
      ("q97", () => TextStats.heavyHitters(longDocs, "text", sketchSize = 32,
                eager = true),
              () => heavyHittersThreeScan(longDocs, 32)))
    val samples = scala.collection.mutable.Map.empty[String, List[(Double, Double)]]
      .withDefaultValue(Nil)
    for (_ <- 1 to runs; (name, mkNew, mkOld) <- pairs) {
      samples(s"${name}_new") = samples(s"${name}_new") :+ measure(spark)(mkNew())
      samples(s"${name}_old") = samples(s"${name}_old") :+ measure(spark)(mkOld())
    }
    def fmt(name: String): String = {
      val (wNew, mNew) = medians(samples(s"${name}_new"))
      val (wOld, mOld) = medians(samples(s"${name}_old"))
      f""""${name}_old":{"wall":$wOld%.2f,"max_task":$mOld%.2f},""" +
        f""""${name}_new":{"wall":$wNew%.2f,"max_task":$mNew%.2f}"""
    }
    val loadEnd = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    println(s"""{"metric":"skewbench","n_docs":$nDocs,"n_rows":$nRows,""" +
      s""""n_longdocs":$nLong,"runs":$runs,"cpus":$cpus,""" +
      s""""parts":$parts,${fmt("q64")},${fmt("q78")},${fmt("q97")},""" +
      s""""load_start":$loadStart,"load_end":$loadEnd}""")
    spark.stop()
  }
}
