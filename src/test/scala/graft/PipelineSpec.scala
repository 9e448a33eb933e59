package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.GraftTestShims
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Runner
import graft.analytics.Dashboard

/** End-to-end bronze→silver→gold golden test on synthetic Yelp-shaped
  * JSON (FIXTURES.md §A), including idempotent re-run. */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val silverTables = Seq("business", "checkins", "reviews", "tips", "users")
  private val goldTables = Seq("dim_time", "dim_business", "dim_user",
    "bridge_business_category", "fact_review", "fact_checkin")

  /** Job id → (job group, end time), as Spark's listener events report them. */
  private final class JobLog extends SparkListener {
    val groups = new ConcurrentHashMap[Int, String]()
    val ends = new ConcurrentHashMap[Int, Long]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      groups.put(e.jobId, Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("<none>"))
    override def onJobEnd(e: SparkListenerJobEnd): Unit = ends.put(e.jobId, e.time)
  }

  /** Run `body` with a [[JobLog]] registered; the log is complete
    * (bus drained) when it is handed to `check`. */
  private def withJobLog[T](body: => T)(check: (T, JobLog) => Unit): Unit = {
    val sc = spark.sparkContext
    GraftTestShims.drainListenerBus(sc)
    val log = new JobLog
    sc.addSparkListener(log)
    val out = try body finally {
      GraftTestShims.drainListenerBus(sc)
      sc.removeSparkListener(log)
    }
    check(out, log)
  }

  private def goldRows(runner: Runner): Map[String, Seq[String]] =
    goldTables.map(t => t -> runner.gold(t).collect().map(_.toString).toSeq.sorted).toMap

  private def writeFixtures(base: String): Unit = {
    def put(rel: String, lines: Seq[String]): Unit = {
      val p = Paths.get(base, rel)
      Files.createDirectories(p.getParent)
      Files.write(p, String.join("\n", lines: _*).getBytes("UTF-8"))
    }
    put("bronze/business/business.json", Seq(
      """{"business_id":"b1","name":"Acme","address":"724 Iberville","city":"New Orleans","state":"LA","postal_code":"70130","latitude":29.95,"longitude":-90.07,"stars":4.0,"review_count":2,"is_open":1,"attributes":{"WiFi":"u'no'","NoiseLevel":"none","BikeParking":"True"},"categories":"Seafood, Restaurants","hours":{"Monday":"9:0-17:0"}}""",
      """{"business_id":"b2","name":"NullCat","address":"1 Way","city":"Tampa","state":"FL","postal_code":"33601","latitude":27.95,"longitude":-82.46,"stars":3.0,"review_count":1,"is_open":0,"attributes":null,"categories":null,"hours":null}"""))
    put("bronze/checkin/checkin.json", Seq(
      """{"business_id":"b1","date":"2018-07-07 19:49:16, 2018-07-07 20:00:00, 2018-07-08 01:00:00"}"""))
    put("bronze/review/year=2018/month=07/r.json", Seq(
      """{"review_id":"r1","user_id":"u1","business_id":"b1","stars":5.0,"useful":1,"funny":0,"cool":0,"text":"Great!","date":"2018-07-07 22:09:11"}""",
      """{"review_id":"r2","user_id":"u1","business_id":"b2","stars":3.0,"useful":0,"funny":0,"cool":0,"text":"Meh","date":"2018-07-08 10:00:00"}"""))
    put("bronze/tip/year=2018/month=07/t.json", Seq(
      """{"user_id":"u1","business_id":"b1","text":"Try oysters","date":"2018-07-07 15:31:04","compliment_count":0}"""))
    put("bronze/user/year=2018/month=07/u.json", Seq(
      """{"user_id":"u1","name":"Anna","review_count":2,"yelping_since":"2012-03-14 04:21:06","useful":42,"funny":10,"cool":7,"fans":3,"average_stars":3.87,"elite":"2015,2016","friends":"u2, u3"}""",
      """{"user_id":"u2","name":"Ben","review_count":0,"yelping_since":"2013-01-01 00:00:00","useful":0,"funny":0,"cool":0,"fans":0,"average_stars":0.0,"elite":"","friends":""}"""))
  }

  test("full pipeline: bronze→silver→gold, facts/dims correct, re-run idempotent") {
    val base = Files.createTempDirectory("graft_e2e").toString
    writeFixtures(base)
    val runner = new Runner(spark, base)
    runner.runMonth(2018, 7)

    val dimTime = runner.gold("dim_time")
    assert(dimTime.count() == 2) // 2018-07-07, 2018-07-08

    val factReview = runner.gold("fact_review")
    assert(factReview.count() == 2)

    val factCheckin = runner.gold("fact_checkin")
    val counts = factCheckin.orderBy("date_id").select("checkin_count")
      .collect().map(_.getLong(0))
    assert(counts.toSeq == Seq(2L, 1L))

    val bridge = runner.gold("bridge_business_category")
    assert(bridge.count() == 2) // b1×{Seafood,Restaurants}; b2 dropped (null categories)

    val dimUser = runner.gold("dim_user")
    assert(dimUser.count() == 2)

    // dashboard panels over gold
    assert(Dashboard.totalReviews(factReview).head().getLong(0) == 2)
    assert(Dashboard.totalCheckins(factCheckin).head().getLong(0) == 3)
    val top = Dashboard.topBusinessesBy5Star(factReview, runner.gold("dim_business")).collect()
    assert(top.length == 1 && top(0).getString(0) == "Acme")

    // serving layer: same panels via spark.sql over registered views
    Dashboard.registerViews(spark, Map(
      "fact_review" -> factReview, "fact_checkin" -> factCheckin,
      "dim_business" -> runner.gold("dim_business"), "dim_time" -> dimTime))
    val sqlTop = spark.sql(
      """SELECT b.name, count(*) AS n FROM fact_review f
        |JOIN dim_business b USING (business_id)
        |WHERE f.stars = 5 GROUP BY b.name ORDER BY n DESC, b.name LIMIT 10""".stripMargin)
      .collect()
    assert(sqlTop.length == 1 && sqlTop(0).getString(0) == "Acme")
    val sqlWeekday = spark.sql(
      """SELECT t.weekday, count(*) AS n FROM fact_review f
        |JOIN dim_time t USING (date_id) GROUP BY t.weekday ORDER BY t.weekday""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(sqlWeekday.toSeq == Seq(("Sat", 1L), ("Sun", 1L)))

    // S10: gold is registered in the shared external catalog — a NEW
    // session on the same warehouse resolves every table by name and
    // runs the panel SQL with no DataFrame handles
    val served = spark.newSession()
    assert(served.table("gold_dim_time").count() == 2)
    assert(served.table("gold_fact_review").count() == 2)
    assert(served.table("gold_fact_checkin").count() == 2)
    val catTop = served.sql(Dashboard.panelSql("top_businesses_5star")).collect()
    assert(catTop.length == 1 && catTop(0).getString(0) == "Acme")
    val catCheckins = served.sql(Dashboard.panelSql("total_checkins")).head().getLong(0)
    assert(catCheckins == 3)
    val catCats = served.sql(Dashboard.panelSql("popular_categories_checkins"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(catCats.toSeq == Seq(("Restaurants", 3L), ("Seafood", 3L)))

    // idempotence: re-running the same month changes nothing
    runner.runMonth(2018, 7)
    assert(runner.gold("fact_review").count() == 2)
    assert(runner.gold("bridge_business_category").count() == 2)
    assert(runner.gold("dim_user").count() == 2)
    assert(spark.newSession().table("gold_dim_user").count() == 2)
  }

  test("incremental load: month 2 keeps month 1's date_ids and category ids stable") {
    val base = Files.createTempDirectory("graft_e2e_incr").toString
    writeFixtures(base)
    // August drop: a new review, a new user, and a business whose
    // categories sort BEFORE the existing ones (the id-shift trap)
    def put(rel: String, lines: Seq[String]): Unit = {
      val p = Paths.get(base, rel)
      Files.createDirectories(p.getParent)
      Files.write(p, String.join("\n", lines: _*).getBytes("UTF-8"))
    }
    val runner = new Runner(spark, base)
    runner.runMonth(2018, 7)
    val julyFactByReview = runner.gold("fact_review")
      .select("review_id", "date_id").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    val julyBridge = runner.gold("bridge_business_category")
      .select("category_name", "category_id").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap

    put("bronze/business/business.json", Seq(
      """{"business_id":"b1","name":"Acme","address":"724 Iberville","city":"New Orleans","state":"LA","postal_code":"70130","latitude":29.95,"longitude":-90.07,"stars":4.0,"review_count":3,"is_open":1,"attributes":null,"categories":"Seafood, Restaurants","hours":null}""",
      """{"business_id":"b3","name":"AAA Bar","address":"2 Way","city":"Austin","state":"TX","postal_code":"78701","latitude":30.27,"longitude":-97.74,"stars":4.5,"review_count":1,"is_open":1,"attributes":null,"categories":"Bars, Seafood","hours":null}"""))
    put("bronze/review/year=2018/month=08/r.json", Seq(
      """{"review_id":"r3","user_id":"u1","business_id":"b3","stars":4.0,"useful":0,"funny":0,"cool":0,"text":"Nice","date":"2018-08-15 12:00:00"}"""))
    put("bronze/tip/year=2018/month=08/t.json", Seq(
      """{"user_id":"u1","business_id":"b3","text":"Go","date":"2018-08-15 13:00:00","compliment_count":0}"""))
    put("bronze/user/year=2018/month=08/u.json", Seq(
      """{"user_id":"u3","name":"Cleo","review_count":1,"yelping_since":"2014-02-02 00:00:00","useful":1,"funny":0,"cool":0,"fans":0,"average_stars":4.0,"elite":"","friends":""}"""))
    runner.runMonth(2018, 8)

    // July facts still resolve to July dates through the rebuilt dim
    val dimTime = runner.gold("dim_time")
    assert(dimTime.count() == 3) // 07-07, 07-08 preserved + 08-15
    val dates = dimTime.select("date_id", "date").collect()
      .map(r => r.getInt(0) -> r.getDate(1).toString).toMap
    assert(dates(20180707) == "2018-07-07" && dates(20180815) == "2018-08-15")
    val factNow = runner.gold("fact_review")
      .select("review_id", "date_id").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(factNow("r1") == julyFactByReview("r1")) // unchanged history
    assert(factNow("r3") == 20180815)
    assert(factNow.size == 3)

    // category ids: existing names keep their ids; the new name
    // ("Bars", alphabetically first) gets a NEW id, not id 1
    val bridgeNow = runner.gold("bridge_business_category")
      .select("category_name", "category_id").distinct().collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(julyBridge.forall { case (name, id) => bridgeNow(name) == id })
    assert(bridgeNow("Bars") == julyBridge.values.max + 1)
    // no duplicate (business, category) rows survived the upsert
    val pairs = runner.gold("bridge_business_category")
      .select("business_id", "category_name").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(pairs.length == pairs.distinct.length)

    // dims accumulated across months
    assert(runner.gold("dim_user").count() == 3)
  }

  test("every silver and gold dir reads with its inferred schema; gold_* tables declare it") {
    val base = Files.createTempDirectory("graft_e2e_schema").toString
    writeFixtures(base)
    new Runner(spark, base).runMonth(2018, 7)
    for (dir <- silverTables.map(t => s"$base/silver/$t") ++ goldTables.map(t => s"$base/gold/$t")) {
      // StructType equality covers names, types, order and nullability
      assert(Tables.readParquetNoInfer(spark, Seq(dir)).schema == spark.read.parquet(dir).schema, dir)
    }
    for (t <- goldTables) {
      val inferred = spark.read.parquet(s"$base/gold/$t").schema
      assert(spark.table(s"gold_$t").schema == inferred, t)
      val partitionCols = spark.catalog.listColumns(s"gold_$t").collect()
        .filter(_.isPartition).map(_.name).toSeq
      assert(partitionCols == (if (t.startsWith("fact_")) Seq("year", "month") else Nil), t)
    }
    // the registered facts see their month partitions
    assert(spark.table("gold_fact_review").where("year = 2018 AND month = 7").count() == 2)
  }

  test("concurrent stage branches run in the caller's job group") {
    val base = Files.createTempDirectory("graft_e2e_group").toString
    writeFixtures(base)
    val runner = new Runner(spark, base)
    val sc = spark.sparkContext
    withJobLog {
      sc.setJobGroup("pipeline-month", "runMonth", interruptOnCancel = false)
      try runner.runMonth(2018, 7) finally sc.clearJobGroup()
    } { (_, log) =>
      val groups = log.groups.asScala
      assert(groups.nonEmpty)
      assert(groups.values.forall(_ == "pipeline-month"), groups.filter(_._2 != "pipeline-month"))
    }
  }

  test("a failing branch fails the stage only after its siblings finish; a re-run converges") {
    val clean = Files.createTempDirectory("graft_e2e_clean").toString
    writeFixtures(clean)
    val expected = { val r = new Runner(spark, clean); r.runMonth(2018, 7); goldRows(r) }

    val base = Files.createTempDirectory("graft_e2e_fail").toString
    writeFixtures(base)
    val runner = new Runner(spark, base)
    runner.bronzeToSilver(2018, 7)
    val users = Paths.get(base, "silver", "users")
    val parked = Paths.get(base, "users_parked")
    Files.move(users, parked)
    withJobLog {
      val err = intercept[java.io.FileNotFoundException](runner.silverToGold(2018, 7))
      (err, System.currentTimeMillis())
    } { case ((err, thrownAt), log) =>
      // the dim_user branch's own error, not a wrapper
      assert(err.getMessage.contains("silver/users"), err.getMessage)
      // the sibling branches ran their jobs, and all had ended by the
      // throw (Spark stamps and posts a job's end before its caller
      // returns, so no job was still active when the stage threw)
      assert(!log.groups.isEmpty)
      for (id <- log.groups.keySet.asScala) {
        assert(log.ends.containsKey(id), s"job $id never ended")
        assert(log.ends.get(id) <= thrownAt, s"job $id ended after the stage threw")
      }
    }
    assert(Files.exists(Paths.get(base, "gold", "fact_checkin")))
    assert(!Files.exists(Paths.get(base, "gold", "dim_user")))

    Files.move(parked, users)
    runner.runMonth(2018, 7)
    assert(goldRows(runner) == expected)
  }

  test("hive metastore: gold table registered in one JVM resolves by name after a restart") {
    // a GENUINE restart: two forked JVMs over the same derby-backed
    // warehouse dir (an in-process newSession() shares the external
    // catalog and cannot observe metastore persistence)
    val base = java.nio.file.Files.createTempDirectory("graft_metastore").toString
    val cp = sys.props("java.class.path")
    val javaBin = new java.io.File(new java.io.File(sys.props("java.home"), "bin"), "java").getPath
    def fork(mode: String): String = {
      val pb = new ProcessBuilder(javaBin, "-Xmx2g", "-cp", cp,
        "graft.tools.MetastoreCheck", mode, base)
      pb.redirectErrorStream(true)
      val p = pb.start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      assert(p.waitFor() == 0, s"MetastoreCheck $mode failed:\n$out")
      out
    }
    val wrote = fork("write")
    assert(wrote.contains("METASTORE_WROTE=gold_dim_time"))
    // the hive session has the same ANSI-off semantics as every graft
    // session: a malformed review date is NULL, not a failed write
    assert(wrote.contains("SILVER_ROWS=1 SILVER_NULL_DATES=1"), wrote)
    assert(fork("read").contains("METASTORE_ROWS=3"),
      "fresh JVM must resolve gold_dim_time from the derby metastore")
  }

  test("named versioned tables: a name created in one JVM resolves (and time-travels) after a restart") {
    val wh = java.nio.file.Files.createTempDirectory("graft_namedwh").toString + "/wh"
    val cp = sys.props("java.class.path")
    val javaBin = new java.io.File(new java.io.File(sys.props("java.home"), "bin"), "java").getPath
    def fork(mode: String): String = {
      val pb = new ProcessBuilder(javaBin, "-Xmx2g", "-cp", cp,
        "graft.tools.NamedTableCheck", mode, wh)
      pb.redirectErrorStream(true)
      val p = pb.start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      assert(p.waitFor() == 0, s"NamedTableCheck $mode failed:\n$out")
      out
    }
    assert(fork("write").contains("NAMED_WROTE=db.t"))
    val read = fork("read")
    assert(read.contains("NAMED_ROWS=3/2"),
      s"fresh JVM must resolve named.db.t and time-travel it: $read")
    assert(read.contains("NAMED_SHOW=t"), s"SHOW TABLES must survive restart: $read")
  }
}
