package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Per-Spark-job profile of a single catalog query: records every job
  * launched during one warm execution (start offset, duration, stage
  * count, total task count, description) so fixed per-job overhead —
  * the dominant cost of the multi-commit protocol meters — is visible
  * per call site, plus each versioned-store metadata cache's hit, miss
  * and eviction change over the run (a miss is a manifest or sidecar
  * re-parse), and the classes Spark's codegen cache compiled during it
  * (its misses). Dev-only; the bench contract is untouched.
  *
  * Usage: runMain graft.tools.ProfileOne <queryName> [sfDir]
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val Seq((name, fn)) = graft.SparkEntry.selectQueries(Seq(args(0)))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Tables.session(s"local[$cpus]")
    spark.sparkContext.setLogLevel("WARN")
    graft.Tables.lineitem(spark, sfDir).groupBy("l_returnflag").count().collect()
    // warm pass (build-once lifecycle + JIT), matching Bench methodology
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()

    case class Job(id: Int, startNs: Long, desc: String, nTasks: Int,
                   var endNs: Long = -1L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        // the result stage's name is the callsite ("collect at Foo.scala:12")
        val site = e.stageInfos.lastOption.map(_.name).getOrElse("")
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .map(d => s"$d | $site").getOrElse(site)
        val nTasks = e.stageInfos.map(_.numTasks).sum
        val j = Job(e.jobId, System.nanoTime(), desc, nTasks)
        jobs.put(e.jobId, j); order.add(e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId)
        if (j != null) j.endNs = System.nanoTime()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val cachesBefore = graft.ext.Versioned.cacheStats.toMap
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
    // let the async listener bus drain
    Thread.sleep(500)
    spark.sparkContext.removeSparkListener(listener)
    println(f"PROFILE $name wall=$wall%.3f s")
    var covered = 0.0
    val it = order.iterator()
    while (it.hasNext) {
      val j = jobs.get(it.next())
      val dur = if (j.endNs > 0) (j.endNs - j.startNs) / 1e9 else -1.0
      if (dur > 0) covered += dur
      val off = (j.startNs - t0) / 1e9
      println(f"  job ${j.id}%4d  +$off%7.3f  ${dur}%7.3f s  tasks=${j.nTasks}%4d  ${j.desc.take(140)}")
    }
    println(f"  jobs=${jobs.size()} job-covered=$covered%.3f s (gaps = driver-side work)")
    graft.ext.Versioned.cacheStats.foreach { case (cache, now) =>
      val d = now.since(cachesBefore(cache))
      println(f"  cache $cache%-13s hits=${d.hits}%6d misses=${d.misses}%6d " +
        f"evictions=${d.evictions}%6d (now ${d.size} entries, weight ${d.weight})")
    }
    println(f"  codegen compiles=$compiles%6d (cache misses) compile=$compileMs%.1f ms")
    spark.stop()
  }
}
