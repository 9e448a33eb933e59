package graft
/** Timing main: one untimed warm-up pass over the catalog, then N
  * interleaved timed passes, per-query medians as one JSON line.
  *
  * Usage: runMain graft.Bench [queryName ...] — with names, only those
  * queries are timed (an A/B on a subset; add `-Dspark.x=y` to compare
  * confs).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val names = SparkEntry.selectQueries(args.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // median-of-N within one JVM: single-shot numbers on a shared box
    // swing 2-4x under contention (q48 measured 6x between runs) — the
    // per-query median across interleaved passes discards a spiky pass
    // without rewarding cache-only reruns
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // Settle-wait before the timed passes (round-9 ask): a bench
    // launched minutes after a test suite reads 1.3-2x hot (measured —
    // the 5-MIN loadavg is the honest signal; the 1-min recovers long
    // before the page cache / cpu thermals do). Poll /proc/loadavg
    // until the 5-min average drops under 1.0, bounded by
    // SPARK_GRAFT_BENCH_SETTLE_SEC (default 900; 0 disables), and
    // RECORD the wait so the artifact is self-describing either way.
    def load5(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split("\\s+")(1).toDouble
      catch { case _: Throwable => -1.0 } // non-Linux: no signal, no wait
    val settleMax = sys.env.getOrElse("SPARK_GRAFT_BENCH_SETTLE_SEC", "900").toLong
    // r10 post-mortem: a run that settled to load5 0.98 under a 1.0
    // threshold still read 1.37x hot — the honest settled band is
    // ~0.3, and a capped-out wait must STAMP the run contended rather
    // than silently start (the r10 artifact cost an adjudication)
    val settleTo = sys.env.getOrElse("SPARK_GRAFT_BENCH_SETTLE_LOAD5", "0.3").toDouble
    val settleT0 = System.nanoTime()
    while (load5() > settleTo && (System.nanoTime() - settleT0) / 1e9 < settleMax) {
      System.err.println(f"[bench] waiting for 5-min loadavg to settle (now ${load5()}%.2f, target $settleTo%.2f)")
      Thread.sleep(30000)
    }
    val settleWaitSec = (System.nanoTime() - settleT0) / 1e9
    val load5Start = load5()
    val loadStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val spark = Tables.session(s"local[$cpus]")
    spark.sparkContext.setLogLevel("WARN")
    // Warm-up: touch the scan + shuffle + codegen paths once so the
    // first timed query doesn't absorb session/JIT startup.
    Tables.lineitem(spark, sfDir).groupBy("l_returnflag").count().collect()
    // One UNTIMED execution of the whole catalog before the timed
    // passes. Build-once lifecycle queries (IVF index builds, versioned
    // fixtures) do their one-off construction on pass 1 — with 3 timed
    // passes their "median" was max(warm1, warm2), so ONE contention
    // spike became the headline number (q74 in r6, q66 in r7: both
    // burned a judge adjudication to prove no regression). The warm-up
    // pass absorbs construction AND first-serve JIT; the timed passes
    // then sample the steady serve state the query claims to measure.
    for ((name, fn) <- names)
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $name failed: ${e.getMessage}") }
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    // mid-run contention probe (r11 ask: the settle gate only sees the
    // START — BENCH_r11 carried a 20 s contention window invisible to
    // it). Loadavg DURING the run is dominated by our own 32 threads,
    // so the honest signal is EXTERNAL cpu: total busy jiffies
    // (/proc/stat) minus this process's own (/proc/self/stat, all
    // threads), sampled per interleaved pass. Sustained >0.5 cores of
    // someone else's work during a timed pass stamps the run contended.
    def jiffies(): (Long, Long) =
      try {
        val tot = scala.io.Source.fromFile("/proc/stat").getLines().next()
          .trim.split("\\s+").drop(1).map(_.toLong)
        // busy = user+nice+system+irq+softirq+steal (idle=3, iowait=4 excluded)
        val busy = tot(0) + tot(1) + tot(2) + tot.drop(5).take(3).sum
        val raw = scala.io.Source.fromFile("/proc/self/stat").mkString
        val f = raw.substring(raw.lastIndexOf(')') + 2).split(" ")
        (busy, f(11).toLong + f(12).toLong) // utime+stime, fields 14-15
      } catch { case _: Throwable => (-1L, -1L) }
    var extCpuMax = 0.0
    var load5MaxMid = load5Start
    // passes interleave over the whole catalog (not N back-to-back runs
    // per query), so one machine-load spike lands in one pass and the
    // median drops it
    for (pass <- 1 to runs) {
      val (b0, s0) = jiffies()
      val passT0 = System.nanoTime()
      for ((name, fn) <- names) {
      // untimed: a timed query must not reuse what the warm-up or an
      // earlier query cached (perfbench clears before each op too)
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      // noop write consumes every output column, so Catalyst cannot
      // prune away the expressions being timed — a plain count() would
      // collapse projection-final queries to scan-and-count and hide
      // regressions in exactly the operators under test
      val ok = try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
      // failures surface as -1 (never as an innocent-looking small time)
      samples(name) = samples(name) :+ (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
      }
      val (b1, s1) = jiffies()
      val passWall = (System.nanoTime() - passT0) / 1e9
      if (b0 >= 0 && b1 >= 0 && passWall > 0) {
        // USER_HZ is 100 on every mainstream Linux; a wrong constant
        // scales the estimate, it cannot invent external load
        val extCores = math.max(0.0, ((b1 - b0) - (s1 - s0)) / 100.0 / passWall)
        extCpuMax = math.max(extCpuMax, extCores)
        System.err.println(f"[bench] pass $pass: external cpu $extCores%.2f cores, load5 ${load5()}%.2f")
      }
      load5MaxMid = math.max(load5MaxMid, load5())
    }
    val results = names.map { case (name, _) =>
      val s = samples(name)
      name -> (if (s.contains(-1.0)) -1.0 else s.sorted.apply(s.length / 2))
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // load annotation: timings on a shared box swing 2-4x under
    // contention, so every bench records the 1-min loadavg at start and
    // end — a reader comparing rounds can discard contended runs
    // instead of chasing phantom regressions (QUIET_BENCH.md holds the
    // quiet-box reference).
    val loadEnd = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // structural contention stamp (round-6 ask): a run started on a
    // busy box (1-min loadavg > 1) is self-labelled so no reader ever
    // has to re-derive from load_start whether the numbers are
    // comparable — QUIET_BENCH.md holds the settled-box reference and
    // contended artifacts are for failure-detection only
    // the 5-MIN loadavg at start is the signal that actually predicts
    // inflation (r10: load5 0.98 at start → uniform 1.37x, stamped
    // "contended": false off the recovered 1-min number) — so the
    // stamp now reads BOTH: contended iff the box was hot on either
    // … and contention arriving MID-run (r11's 20 s window) is caught
    // by the per-pass external-cpu probe
    val contended = loadStart > 1.0 || load5Start > 0.5 || extCpuMax > 0.5
    // "warmup":true marks the round-8 estimator change: medians are
    // over steady-state serves, comparable to QUIET_BENCH's settled
    // numbers but NOT to pre-r8 artifacts for build-once queries
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"runs":$runs,"warmup":true,"sf":"$sfDir","cpus":$cpus,"load_start":$loadStart,"load_end":$loadEnd,"contended":$contended,"settle_wait_sec":${f"$settleWaitSec%.1f"},"load5_at_start":$load5Start,"external_cpu_cores_max":${f"$extCpuMax%.2f"},"load5_max_mid":$load5MaxMid}"""
    println(json)
    // the full line ALSO lands in a file: three rounds of driver
    // artifacts lost their head to tail-capture truncation ("parsed":
    // null) — a file write cannot be truncated by a console buffer
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}") }
    // LAST line is a SHORT self-contained summary: the driver's inline
    // capture keeps the console TAIL, and the full per-query line above
    // has outgrown it every round since r5 ("parsed": null) — a line
    // this small survives any tail window and still carries the
    // headline number + the contention stamp (full detail: bench_out)
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.length},"contended":$contended,"load5_at_start":$load5Start,"external_cpu_cores_max":${f"$extCpuMax%.2f"},"detail":"$outFile"}""")
    spark.stop()
  }
}
