package graft.gold

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Silver→Gold star-schema builders — Scala ports of the reference's
  * build_* functions (ref: mnt/airflow/scripts/silver_to_gold_on_minio.py:18-124)
  * plus `dim_user`, declared in the reference's schema diagram
  * (ref: assets/schema.png) but never built by its code (SURVEY.md §1.4).
  *
  * Scale notes (100 TB posture):
  *  - `dim_time` / category dims are small (thousands of rows): the
  *    un-partitioned `row_number()` window is single-task by design and
  *    acceptable; [[Surrogate.denseId]] offers the scale-safe variant.
  *  - Fact⋈dim joins broadcast the dim side (Catalyst auto-broadcasts
  *    under the threshold; AQE converts at runtime otherwise).
  *  - dim_time is built once and held by callers that reuse it (the
  *    pipeline collects it into a driver-local relation; the reference
  *    recomputes it per action — SURVEY.md §3.2 hazard).
  */
object Gold {

  /** ref: silver_to_gold_on_minio.py:18-35.
    * Distinct dates from reviews ∪ checkins → calendar dim with a dense
    * `date_id` surrogate (row_number over date order). */
  def buildDimTime(reviews: DataFrame, checkins: DataFrame): DataFrame = {
    val dates = reviews.select(to_date(col("date")).as("date"))
      .union(checkins.select(to_date(col("date")).as("date")))
      .distinct()
    dates
      .withColumn("date_id", row_number().over(Window.orderBy("date")))
      .select(
        col("date_id"), col("date"),
        year(col("date")).as("year"),
        month(col("date")).as("month"),
        dayofmonth(col("date")).as("day"),
        date_format(col("date"), "E").as("weekday"),
        quarter(col("date")).as("quarter"),
        date_format(col("date"), "E").isin("Sat", "Sun").as("is_weekend"))
  }

  /** Incremental-safe dim_time: `date_id = yyyymmdd` — a pure function
    * of the date, so ids NEVER shift between monthly runs (the
    * row_number surrogate restarts at 1 every run, silently re-keying
    * history — the reference has exactly this bug: it rebuilds and
    * overwrites dim_time per month while fact partitions accumulate).
    * `existingDates` carries the dates already in gold so the
    * overwritten dim keeps covering historical facts. */
  def buildDimTimeStable(reviews: DataFrame, checkins: DataFrame,
                         existingDates: Option[DataFrame]): DataFrame = {
    val current = reviews.select(to_date(col("date")).as("date"))
      .union(checkins.select(to_date(col("date")).as("date")))
    val all = existingDates.fold(current)(e => current.union(e.select(to_date(col("date")).as("date"))))
    all.distinct()
      .withColumn("date_id",
        (year(col("date")) * 10000 + month(col("date")) * 100 + dayofmonth(col("date")))
          .cast("int"))
      .select(
        col("date_id"), col("date"),
        year(col("date")).as("year"),
        month(col("date")).as("month"),
        dayofmonth(col("date")).as("day"),
        date_format(col("date"), "E").as("weekday"),
        quarter(col("date")).as("quarter"),
        date_format(col("date"), "E").isin("Sat", "Sun").as("is_weekend"))
  }

  /** ref: silver_to_gold_on_minio.py:37-52 — pure projection/rename. */
  def buildDimBusiness(business: DataFrame): DataFrame =
    business.select(
      col("business_id"), col("name"), col("address"), col("city"),
      col("state"), col("postal_code"), col("latitude"), col("longitude"),
      col("stars").as("stars_avg"), col("review_count"), col("is_open"))

  /** Declared in assets/schema.png, absent from the reference code —
    * projection of Silver users (SURVEY.md §1.4). */
  def buildDimUser(users: DataFrame): DataFrame =
    users.select(
      col("user_id"), col("name"), col("yelping_since"), col("review_count"),
      col("average_stars"), col("useful"), col("funny"), col("cool"),
      col("fans"), col("elite_years_count"), col("friends_count"))

  /** ref: silver_to_gold_on_minio.py:54-85.
    * Comma-split `categories`, explode (NULL categories drop the business
    * — `explode`, not `explode_outer`, for parity), trim, drop empties,
    * assign `category_id` by name order, emit distinct
    * (business_id, category_id, category_name) rows. */
  def buildBridgeBusinessCategory(business: DataFrame): DataFrame = {
    val exploded = business
      .select(col("business_id"), explode(split(col("categories"), ",\\s*")).as("category_name"))
      .withColumn("category_name", trim(col("category_name")))
      .filter(col("category_name") =!= "")
      .distinct()
    val dim = exploded.select("category_name").distinct()
      .withColumn("category_id", row_number().over(Window.orderBy("category_name")))
    exploded.join(dim, Seq("category_name"))
      .select(col("business_id"), col("category_id"), col("category_name"))
      .distinct()
  }

  /** Incremental-safe bridge: category ids are assigned ONCE and kept
    * forever — existing (id, name) pairs are reused, genuinely new
    * names get max(existing id) + row_number(name order). A per-run
    * row_number (the reference's scheme) re-keys categories whenever
    * the observed name set changes, so upserts on (business_id,
    * category_id) strand stale rows under retired ids. */
  def buildBridgeBusinessCategoryStable(business: DataFrame,
                                        existingBridge: Option[DataFrame]): DataFrame = {
    val exploded = business
      .select(col("business_id"), explode(split(col("categories"), ",\\s*")).as("category_name"))
      .withColumn("category_name", trim(col("category_name")))
      .filter(col("category_name") =!= "")
      .distinct()
    val existingCats = existingBridge.map(
      _.select(col("category_id"), col("category_name")).distinct())
    val maxExisting: Int = existingCats
      .map(_.agg(coalesce(max(col("category_id")), lit(0))).head().getInt(0))
      .getOrElse(0)
    val newNames = existingCats.fold(exploded.select("category_name").distinct()) { ec =>
      exploded.select("category_name").distinct()
        .join(ec.select("category_name"), Seq("category_name"), "left_anti")
    }
    val newCats = newNames
      .withColumn("category_id",
        (row_number().over(Window.orderBy("category_name")) + maxExisting))
      .select(col("category_id"), col("category_name"))
    val dim = existingCats.fold(newCats)(_.unionByName(newCats))
    exploded.join(broadcast(dim), Seq("category_name"))
      .select(col("business_id"), col("category_id"), col("category_name"))
      .distinct()
  }

  /** ref: silver_to_gold_on_minio.py:87-105.
    * Reviews ⋈ dim_time (left outer, date key) → fact with surrogate FK. */
  def buildFactReview(reviews: DataFrame, dimTime: DataFrame): DataFrame =
    reviews
      .withColumn("review_date", to_date(col("date")))
      .join(broadcast(dimTime.select(col("date_id"), col("date").as("review_date"),
        col("year").as("t_year"), col("month").as("t_month"))),
        Seq("review_date"), "left")
      .select(
        col("review_id"), col("user_id"), col("business_id"), col("date_id"),
        col("stars"), col("useful"), col("funny"), col("cool"),
        col("t_year").as("year"), col("t_month").as("month"))

  /** ref: silver_to_gold_on_minio.py:106-124.
    * Per-(business, date) checkin counts ⋈ dim_time. */
  def buildFactCheckin(checkins: DataFrame, dimTime: DataFrame): DataFrame =
    checkins
      .withColumn("checkin_date", to_date(col("date")))
      .groupBy(col("business_id"), col("checkin_date"))
      .agg(count(lit(1)).as("checkin_count"))
      .join(broadcast(dimTime.select(col("date_id"), col("date").as("checkin_date"),
        col("year").as("t_year"), col("month").as("t_month"))),
        Seq("checkin_date"), "left")
      .select(
        col("business_id"), col("date_id"), col("checkin_count"),
        col("t_year").as("year"), col("t_month").as("month"))
}

/** Scale-safe dense surrogate IDs.
  *
  * `row_number()` with no partition collapses to one task — fine for a
  * calendar or category dim, fatal for a billion-row dim. This variant
  * sorts, then combines per-partition offsets with intra-partition
  * ranks: same dense 1..N assignment, fully parallel.
  */
object Surrogate {
  def denseId(df: DataFrame, orderCol: String, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val sorted = df.repartitionByRange(col(orderCol)).sortWithinPartitions(orderCol)
    val withIdx = sorted.rdd.zipWithIndex.map { case (row, idx) =>
      Row.fromSeq(row.toSeq :+ (idx + 1L))
    }
    spark.createDataFrame(withIdx,
      StructType(sorted.schema.fields :+ StructField(idCol, LongType, nullable = false)))
  }
}
