package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.SparkEnv
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.GraftSqlShims
import org.scalatest.funsuite.AnyFunSuite

/** Smoke: every catalog query runs on sf0.001 and the oracle map only
  * references existing queries. */
class EntrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("a factory session is configured before any table load, and a load leaves its confs alone") {
    // TestSpark is built by Tables.session: functions and planner
    // extensions are in place without any Tables.load
    val row = spark.sql("SELECT clean_string(\"u'Hello_True'\") AS c, " +
      "vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").head()
    assert(row.getString(0) == "Hello_true" && row.getDouble(1) == 11.0)
    assert(spark.experimental.extraOptimizations
      .exists(_.isInstanceOf[graft.plans.RangeJoinRewrite]))
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      Tables.customer(spark, sf)
      assert(spark.conf.get("spark.sql.ansi.enabled") == "true",
        "Tables.load must not rewrite session confs")
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  private val codegenCacheSize = "spark.sql.codegen.cache.maxEntries"
  private def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("the factory session's codegen cache keeps a working set above Spark's 100 entries compiled") {
    assert(GraftSqlShims.sessionSqlConf(spark).getConfString(codegenCacheSize) == "2048")
    assert(SparkEnv.get.conf.get(codegenCacheSize) == "2048")
    // 150 distinct classes: each literal pair is inlined into its own
    // whole-stage class, so a 100-entry LRU would evict them all
    // between rounds
    def round(): Long = {
      val before = compiles
      for (i <- 1 to 150) spark.range(1).selectExpr(s"id * $i + ${i * 7} AS v").collect()
      compiles - before
    }
    val first = round()
    assert(first > 100, s"the first round compiled only $first classes")
    assert(round() == 0, "the second round recompiled evicted classes")
  }

  test("configure leaves an explicitly set codegen cache size alone") {
    val s = spark.newSession()
    val conf = GraftSqlShims.sessionSqlConf(s)
    conf.setConfString(codegenCacheSize, "77")
    Tables.configure(s)
    assert(conf.getConfString(codegenCacheSize) == "77")
    assert(SparkEnv.get.conf.get(codegenCacheSize) == "2048")
  }

  test("a configure after the JVM's first compile warns once; a repeat is silent and nothing throws") {
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("codegen-cache-warn", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) warnings.add(e.getMessage.getFormattedMessage)
    }
    val logger = LogManager.getLogger("graft.Tables").asInstanceOf[CoreLogger]
    appender.start()
    logger.addAppender(appender)
    try {
      spark.range(1).selectExpr("id + 1").collect()
      assert(compiles > 0)
      val s = spark.newSession()
      GraftSqlShims.sessionSqlConf(s).unsetConf(codegenCacheSize)
      Tables.configure(s)
      assert(warnings.size == 1 && warnings.peek().contains(codegenCacheSize), warnings)
      Tables.configure(s)
      Tables.configure(spark)
      assert(warnings.size == 1, warnings)
    } finally {
      logger.removeAppender(appender)
      appender.stop()
    }
  }

  test("selectQueries: all in name order, a named subset, unknown names rejected and listed") {
    assert(SparkEntry.selectQueries(Nil).map(_._1) == SparkEntry.queries.keys.toSeq.sorted)
    assert(SparkEntry.selectQueries(Seq("q93_bm25_search", "q01_pricing_summary")).map(_._1) ==
      Seq("q01_pricing_summary", "q93_bm25_search"))
    val err = intercept[IllegalArgumentException] {
      SparkEntry.selectQueries(Seq("q01_pricing_summary", "q_typo", "q_other"))
    }
    assert(err.getMessage.contains("unknown queries: q_typo, q_other"))
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs on sf0.001") {
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty)
      df.count() // executes the plan
    }
  }
}
