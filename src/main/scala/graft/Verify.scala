package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: restrict to named queries (dev iteration;
    // the driver always passes exactly two args → full run)
    val only = args.drop(2).toSet
    val selected = SparkEntry.selectQueries(only.toSeq)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Tables.session(s"local[$cpus]")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      // drop any previous run's output FIRST: a failing query must
      // leave nothing behind, or the driver's compare would score a
      // stale-but-well-formed result from an earlier run as passing
      val qOut = Paths.get(s"$outDir/$name")
      if (Files.exists(qOut))
        Files.walk(qOut).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => Files.delete(p))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // data-derived oracles (q45's IVF centroids) are rebuilt for THIS
    // sf dir and merged in; skipped when a dev-filtered run doesn't
    // touch them
    val dynamic =
      if (only.isEmpty || only("q45_ann_ivf") || only("q66_ann_ivf_indexed") ||
          only("q74_ivf_append_serve") || only("q82_ivf_retrain_serve"))
        SparkEntry.dynamicOracleSql(spark, sfDir)
      else Map.empty[String, String]
    val json = (SparkEntry.oracleSql ++ dynamic)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
