package graft.pipeline

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CompletionException, Executors}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import graft.Tables
import graft.schemas.YelpSchemas
import graft.silver.Silver
import graft.gold.{Gold, Upsert}

/** End-to-end bronze→silver→gold orchestration — the role the
  * reference delegates to Airflow (ref: mnt/airflow/dags/yelp_pipeline.py),
  * in-process and parameterized by (year, month) exactly like the
  * DAG's templated spark-submit args.
  *
  * Storage is plain partitioned Parquet with dynamic partition
  * overwrite set PER WRITE (not as session-global conf — that would
  * silently change overwrite semantics for unrelated jobs sharing the
  * session), reproducing the reference's incremental-monthly-load
  * semantics (SURVEY.md §2.1 S5–S9) without Delta.
  *
  * Incremental correctness (deliberate fixes of reference bugs —
  * its dims are rebuilt per month with run-local surrogate ids while
  * fact partitions accumulate, silently re-keying history):
  *  - dim_time uses the STABLE `yyyymmdd` date key and is rebuilt over
  *    current ∪ previously-seen dates;
  *  - bridge category ids are assigned once and extended, never
  *    reshuffled ([[Gold.buildBridgeBusinessCategoryStable]]).
  */
class Runner(spark: SparkSession, base: String) {

  private def bronze(table: String, yearMonth: Option[(Int, Int)]): DataFrame = {
    val schema = table match {
      case "business" => YelpSchemas.business
      case "review" => YelpSchemas.review
      case "user" => YelpSchemas.user
      case "checkin" => YelpSchemas.checkin
      case "tip" => YelpSchemas.tip
    }
    val path = yearMonth match {
      case Some((y, m)) => f"$base/bronze/$table/year=$y/month=$m%02d"
      case None => s"$base/bronze/$table"
    }
    spark.read.schema(schema).json(path)
  }

  private def writeMonthPartitioned(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(Runner.MonthPartitions: _*)
      .parquet(path)

  /** Stage 1 (ref: bronze_to_silver_on_minio.py:138-190). Business and
    * checkins are full loads; review/tip/user are month-scoped. The
    * five writes share no input or output, so they run at once. */
  def bronzeToSilver(year: Int, month: Int): Unit = {
    val ym = Some((year, month))
    Runner.concurrently(spark)(
      () => Silver.processBusiness(bronze("business", None))
        .write.mode(SaveMode.Overwrite).parquet(s"$base/silver/business"),
      () => writeMonthPartitioned(Silver.processCheckins(bronze("checkin", None)),
        s"$base/silver/checkins"),
      () => writeMonthPartitioned(Silver.processReviewsAndTips(bronze("review", ym)),
        s"$base/silver/reviews"),
      () => writeMonthPartitioned(Silver.processReviewsAndTips(bronze("tip", ym)),
        s"$base/silver/tips"),
      () => Silver.processUsers(bronze("user", ym))
        .write.mode(SaveMode.Overwrite).parquet(s"$base/silver/users"))
  }

  // silver and gold dirs are engine-written: their schema is read from
  // one footer on the driver, never by a schema-inference job
  private def silver(table: String): DataFrame =
    Tables.readParquetNoInfer(spark, Seq(s"$base/silver/$table"))

  private def goldIfExists(table: String): Option[DataFrame] =
    if (Files.exists(Paths.get(s"$base/gold/$table")))
      Some(Tables.readParquetNoInfer(spark, Seq(s"$base/gold/$table")))
    else None

  /** Stage 2 (ref: silver_to_gold_on_minio.py:147-223), as four
    * concurrent branches over disjoint outputs: dim_time and then the
    * two facts that join it; dim_business; dim_user; the bridge.
    * Divergences from the reference, all deliberate (SURVEY.md §7.5 +
    * the incremental fixes in the class doc): dim_time is built once
    * and held on the driver (the reference recomputes it per
    * consumer), the month-scoped reads prune on partition COLUMNS over
    * the table root (a month with no data yields an empty frame
    * instead of a missing-path failure), and `dim_user` (declared in
    * its schema diagram, never built) is materialized. */
  def silverToGold(year: Int, month: Int): Unit = {
    def thisMonth(table: String): DataFrame =
      silver(table).filter(col("year") === year && col("month") === month)

    Runner.concurrently(spark)(
      () => {
        val reviews = thisMonth("reviews")
        val checkins = thisMonth("checkins")
        val dimTime = writeDimTime(reviews, checkins)
        writeMonthPartitioned(Gold.buildFactReview(reviews, dimTime),
          s"$base/gold/fact_review")
        writeMonthPartitioned(Gold.buildFactCheckin(checkins, dimTime),
          s"$base/gold/fact_checkin")
      },
      () => Upsert.upsertParquet(spark, s"$base/gold/dim_business",
        Gold.buildDimBusiness(silver("business")), Seq("business_id")),
      () => Upsert.upsertParquet(spark, s"$base/gold/dim_user",
        Gold.buildDimUser(silver("users")), Seq("user_id")),
      () => Upsert.upsertParquet(spark, s"$base/gold/bridge_business_category",
        Gold.buildBridgeBusinessCategoryStable(silver("business"),
          goldIfExists("bridge_business_category")),
        Seq("business_id", "category_id")))

    Seq("dim_time" -> false, "dim_business" -> false, "dim_user" -> false,
      "bridge_business_category" -> false,
      "fact_review" -> true, "fact_checkin" -> true)
      .foreach { case (t, partitioned) => registerGold(t, partitioned) }
  }

  /** Rebuild gold dim_time over this month's dates plus the ones it
    * already holds, write it, and return it as a driver-local
    * relation. The dim is a bounded calendar (one row per distinct
    * date), so it is collected once: the overwrite then reads nothing
    * from the path it replaces ("Cannot overwrite a path that is also
    * being read from"), the facts broadcast it without recomputing it,
    * and no persisted block outlives the stage. It is served as one
    * partition, so one task writes it (one file, like the shuffle
    * output it replaces) and one task feeds each broadcast. */
  private def writeDimTime(reviews: DataFrame, checkins: DataFrame): DataFrame = {
    val built = Gold.buildDimTimeStable(reviews, checkins,
      goldIfExists("dim_time").map(_.select("date")))
    val dimTime = spark.createDataFrame(built.collect().toSeq.asJava, built.schema).coalesce(1)
    dimTime.write.mode(SaveMode.Overwrite).parquet(s"$base/gold/dim_time")
    dimTime
  }

  /** Register a gold output in the catalog as an external parquet
    * table over its path — the reference's Hive-metastore role
    * (ref: mnt/hive-conf/hive-site.xml:35-41, so Trino can address gold
    * by NAME). With a plain session the entries live in the shared
    * in-memory external catalog (every session on this SparkContext —
    * `spark.newSession()` included — resolves `spark.table("gold_…")`,
    * gone on JVM exit); with [[Runner.hiveSession]] they persist in a
    * derby-backed Hive metastore and SURVIVE JVM restarts, matching
    * the reference's always-on metastore service. Re-registration per
    * run keeps the schema current: it is declared from the footer the
    * way the pipeline reads it (no schema-inference job), with the
    * month partition columns of partitioned facts, which then get
    * partition recovery so month directories are visible through the
    * catalog. */
  def registerGold(table: String, partitioned: Boolean): Unit = {
    val name = s"gold_$table"
    val path = s"$base/gold/$table"
    val schema = Tables.readParquetNoInfer(spark, Seq(path)).schema
    val partitionedBy =
      if (partitioned) Runner.MonthPartitions.mkString(" PARTITIONED BY (", ", ", ")") else ""
    val location = path.replace("\\", "\\\\").replace("'", "\\'")
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    spark.sql(s"CREATE TABLE `$name` (${schema.toDDL}) USING parquet$partitionedBy " +
      s"LOCATION '$location'")
    if (partitioned) spark.catalog.recoverPartitions(name)
  }

  def runMonth(year: Int, month: Int): Unit = {
    bronzeToSilver(year, month)
    silverToGold(year, month)
  }

  def gold(table: String): DataFrame =
    Tables.readParquetNoInfer(spark, Seq(s"$base/gold/$table"))
}

object Runner {

  /** Partition columns of the month-scoped silver and gold tables. */
  private val MonthPartitions = Seq("year", "month")

  /** One pool for every stage branch: cached, so it grows to the
    * widest stage and idles out after; daemon threads, so it never
    * holds the JVM open. */
  private lazy val branchPool = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, "graft-pipeline-branch")
    t.setDaemon(true)
    t
  }

  /** Run one stage's independent branches at once and return when all
    * have finished. Each branch goes through
    * `SQLExecution.withThreadLocalCaptured`, so its jobs carry the
    * caller's active session and local properties (job group,
    * description, scheduler pool). A failing branch cancels nothing:
    * every branch is joined first, then the first failure in branch
    * order is rethrown with the others suppressed on it, so no branch
    * is still running when this throws. */
  private def concurrently(spark: SparkSession)(branches: (() => Unit)*): Unit = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val running = branches.map(b => SQLExecution.withThreadLocalCaptured(session, branchPool)(b()))
    val failures = running.flatMap { f =>
      try { f.join(); None }
      catch { case e: CompletionException => Some(Option(e.getCause).getOrElse(e)) }
    }
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
  }

  /** A SparkSession whose catalog PERSISTS across JVM restarts: Hive
    * support over an embedded derby metastore rooted under `base`
    * (ref: the reference's standalone Hive metastore + postgres,
    * mnt/hive-conf/hive-site.xml:35-41 — one self-contained directory
    * here instead of two services). Any table registered through
    * [[Runner#registerGold]] in one JVM resolves by name in the next
    * (asserted cross-JVM in PipelineSpec via forked processes).
    *
    * Derby allows ONE live connection per metastore directory, which
    * matches the reference's single-metastore-service topology; a
    * multi-writer deployment swaps the ConnectionURL for a networked
    * metastore db exactly as hive-site.xml would. Built by
    * [[Tables.session]] like every graft session, so the pipeline run
    * here has the same ANSI-off, UTC semantics. */
  def hiveSession(base: String, master: String = "local[4]"): SparkSession = {
    // keep derby's log inside the warehouse root, not the process cwd
    System.setProperty("derby.system.home", base)
    Tables.session(master,
      "spark.sql.catalogImplementation" -> "hive",
      "spark.sql.warehouse.dir" -> s"$base/warehouse",
      "javax.jdo.option.ConnectionURL" ->
        s"jdbc:derby:;databaseName=$base/metastore_db;create=true")
  }
}
