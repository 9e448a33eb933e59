package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.silver.{Clean, Silver}

object TestSpark {
  lazy val spark: SparkSession = {
    val s = Tables.session("local[4]",
      "spark.sql.warehouse.dir" -> "/tmp/graft-test-warehouse")
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Edge-semantics unit tests for the Bronze→Silver cleaning library —
  * the hazards catalogued in SURVEY.md §2.7 / FIXTURES.md §A. */
class SilverSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cleanStringValue strips u'…' wrappers, normalizes booleans, nulls 'none'") {
    val df = Seq("u'full_bar'", "'quiet'", "True", "False", "none", "None",
      "{'garage': False, 'street': True}", "plain").toDF("v")
    val got = df.select(Clean.cleanStringValue($"v").as("c")).as[Option[String]].collect()
    assert(got.toSeq == Seq(
      Some("full_bar"), Some("quiet"), Some("true"), Some("false"),
      None, None,
      Some("{'garage': false, 'street': true}"), // substring True→true INSIDE strings too
      Some("plain")))
  }

  test("boolean normalization is substring-based (reference parity, b2s:28-29)") {
    val got = Seq("TrueStory").toDF("v")
      .select(Clean.cleanStringValue($"v").as("c")).as[String].head()
    assert(got == "trueStory")
  }

  test("processUsers: empty elite/friends → null arrays and zero counts") {
    val df = Seq(
      ("u1", "2015,2016", "a, b, c", "2012-03-14 04:21:06"),
      ("u2", "", "", "2013-01-01 00:00:00"))
      .toDF("user_id", "elite", "friends", "yelping_since")
    val got = Silver.processUsers(df)
      .select("user_id", "elite_years_count", "friends_count")
      .as[(String, Int, Int)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(("u1", 2, 3), ("u2", 0, 0)))
  }

  test("processCheckins: comma-split with leading spaces parses timestamps") {
    val df = Seq(("b1", "2016-04-26 19:49:16, 2016-08-30 18:36:57")).toDF("business_id", "date")
    val got = Silver.processCheckins(df)
    assert(got.count() == 2)
    val months = got.select("month").as[Int].collect().sorted
    assert(months.toSeq == Seq(4, 8))
    assert(got.filter($"date".isNull).count() == 0)
  }

  test("parseJsonColumnSampled replicates the reference's schema_of_json flow") {
    val df = Seq("""{"garage": false, "street": true}""", """{"garage": true, "street": false}""")
      .toDF("parking")
    val parsed = Clean.parseJsonColumnSampled(df, "parking")
    val r = parsed.select("parking.garage", "parking.street")
      .as[(Boolean, Boolean)].collect().sortBy(_._1)
    assert(r.toSeq == Seq((false, true), (true, false)))
    // no JSON-shaped sample → typed NULL string column (b2s:53)
    val none = Clean.parseJsonColumnSampled(Seq("plain", "text").toDF("c"), "c")
    assert(none.schema("c").dataType.typeName == "string")
    assert(none.filter($"c".isNotNull).count() == 0)
  }

  test("processBusiness: flattens attributes/hours, splits day ranges, casts is_open") {
    val schema = StructType(Seq(
      StructField("business_id", StringType),
      StructField("is_open", LongType),
      StructField("attributes", StructType(Seq(
        StructField("WiFi", StringType), StructField("NoiseLevel", StringType)))),
      StructField("hours", StructType(Seq(StructField("Monday", StringType))))))
    val rows = java.util.Arrays.asList(
      Row("b1", 1L, Row("u'no'", "none"), Row("9:0-17:0")))
    val df = spark.createDataFrame(rows, schema)
    val got = Silver.processBusiness(df)
    val r = got.select("is_open", "attributes_wifi", "attributes_noiselevel",
      "monday_opening_time", "monday_closing_time").head()
    assert(r.getBoolean(0) === true)
    assert(r.getString(1) == "no")
    assert(r.isNullAt(2))
    assert(r.getString(3) == "9:0" && r.getString(4) == "17:0")
  }
}
