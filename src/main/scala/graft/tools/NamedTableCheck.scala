package graft.tools

import org.apache.spark.sql.SparkSession

/** Cross-JVM NAME-resolution check for the versioned catalog's
  * warehouse-rooted named tables, driven by PipelineSpec as two FORKED
  * processes over the same warehouse dir (a genuine restart, which an
  * in-process `newSession()` cannot simulate — though for this catalog
  * the registry IS the filesystem, the spec still proves the contract
  * end to end):
  *
  *   write <warehouse> — CREATE NAMESPACE db + CREATE TABLE db.t by
  *                       NAME, two INSERTs (two versions)
  *   read <warehouse>  — a fresh JVM resolves `db.t` by name from the
  *                       same warehouse root and prints
  *                       `NAMED_ROWS=<latest>/<v1>` (latest count and
  *                       `VERSION AS OF 1` count)
  */
object NamedTableCheck {
  private def session(warehouse: String): SparkSession = {
    val s = graft.Tables.session("local[4]",
      "spark.sql.catalog.named" -> "graft.sql.VersionedCatalog",
      "spark.sql.catalog.named.warehouse" -> warehouse)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val (mode, warehouse) = (args(0), args(1))
    val spark = session(warehouse)
    mode match {
      case "write" =>
        spark.sql("CREATE NAMESPACE IF NOT EXISTS named.db")
        spark.sql("CREATE TABLE named.db.t (id BIGINT, v STRING)")
        spark.sql("INSERT INTO named.db.t VALUES (1, 'a'), (2, 'b')")
        spark.sql("INSERT INTO named.db.t VALUES (3, 'c')")
        println("NAMED_WROTE=db.t")
      case "read" =>
        val latest = spark.sql("SELECT count(*) FROM named.db.t").head().getLong(0)
        val v1 = spark.sql("SELECT count(*) FROM named.db.t VERSION AS OF 1")
          .head().getLong(0)
        val shown = spark.sql("SHOW TABLES IN named.db")
          .select("tableName").collect().map(_.getString(0)).mkString(",")
        println(s"NAMED_ROWS=$latest/$v1 NAMED_SHOW=$shown")
    }
    spark.stop()
  }
}
