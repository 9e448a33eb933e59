package graft

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
