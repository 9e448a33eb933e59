package graft.tools

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import graft.pipeline.Runner
import graft.schemas.YelpSchemas
import graft.silver.Silver

/** Cross-JVM metastore persistence check, driven by PipelineSpec as
  * two FORKED processes over the same base dir (a genuine JVM restart,
  * which an in-process `newSession()` cannot simulate):
  *
  *   write <base>  — build a tiny gold_dim_time, register it through
  *                   Runner.registerGold in a derby-backed hive session,
  *                   and write one bronze review with a malformed date
  *                   through Silver.processReviewsAndTips, printing
  *                   `SILVER_ROWS=<n> SILVER_NULL_DATES=<k>` (the row
  *                   survives with a NULL date, as in the reference)
  *   read <base>   — a fresh JVM resolves `spark.table("gold_dim_time")`
  *                   by NAME from the same metastore and prints
  *                   `METASTORE_ROWS=<n>`
  */
object MetastoreCheck {
  def main(args: Array[String]): Unit = {
    val (mode, base) = (args(0), args(1))
    val spark = Runner.hiveSession(base)
    spark.sparkContext.setLogLevel("ERROR")
    mode match {
      case "write" =>
        spark.range(3)
          .select(col("id").cast("int").as("date_key"),
            date_add(lit("2021-01-01").cast("date"), col("id").cast("int")).as("date"))
          .write.mode("overwrite").parquet(s"$base/gold/dim_time")
        new Runner(spark, base).registerGold("dim_time", partitioned = false)
        println("METASTORE_WROTE=gold_dim_time")
        val review = """{"review_id":"r1","user_id":"u1","business_id":"b1",""" +
          """"stars":5.0,"useful":0,"funny":0,"cool":0,"text":"ok","date":"2018-13-45 99:99:99"}"""
        Silver.processReviewsAndTips(spark.read.schema(YelpSchemas.review)
            .json(spark.createDataset(Seq(review))(Encoders.STRING)))
          .write.mode("overwrite").partitionBy("year", "month").parquet(s"$base/silver/reviews")
        val silver = spark.read.parquet(s"$base/silver/reviews")
        println(s"SILVER_ROWS=${silver.count()} " +
          s"SILVER_NULL_DATES=${silver.filter(col("date").isNull).count()}")
      case "read" =>
        println(s"METASTORE_ROWS=${spark.table("gold_dim_time").count()}")
    }
    spark.stop()
  }
}
