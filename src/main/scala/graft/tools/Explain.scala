package graft.tools

/** Plan auditor: prints the formatted physical plan of selected
  * catalog queries so scan pushdown (`PushedFilters`/`ReadSchema`),
  * join strategy (BroadcastHashJoin vs SortMergeJoin) and
  * whole-stage-codegen coverage can be eyeballed per query.
  *
  * Usage: runMain graft.tools.Explain <sfDir> [queryName ...]
  */
object Explain {
  /** Builders that RUN distributed work while constructing their
    * DataFrame (Lloyd collects, label-propagation fixpoints) — a plan
    * printer shouldn't execute minutes of jobs, so these are skipped
    * unless named explicitly. */
  private val driverIterative = Set("q45_ann_ivf", "q48_dedup_components")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val named = graft.SparkEntry.selectQueries(args.drop(1).toSeq)
    val selected = if (args.length > 1) named
      else named.filterNot { case (n, _) => driverIterative(n) }
    val spark = graft.Tables.session("local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    selected.foreach { case (n, fn) =>
      println(s"\n========== $n ==========")
      fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
