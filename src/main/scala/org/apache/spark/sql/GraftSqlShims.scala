package org.apache.spark.sql

/** Package-placed alias for `V2TableWithV1Fallback`, which is
  * `private[sql]` in Spark's Scala signature (the BYTECODE is public —
  * Delta's DeltaTableV2 extends it the same way from a shim). It is
  * the one resolution seam that lets a batch-capability DSv2 table
  * serve `spark.readStream.table(...)` / `writeStream.toTable(...)`
  * through a V1 streaming provider: the analyzer reads the returned
  * CatalogTable's provider + location and builds the V1
  * StreamingRelation from them. Same pattern and rationale as
  * [[org.apache.spark.sql.execution.datasources.GraftFilterShim]]. */
object GraftSqlShims {
  type V2TableWithV1Fallback = connector.catalog.V2TableWithV1Fallback

  /** The session's Hadoop conf WITH the SQL confs embedded
    * (`sessionState.newHadoopConf()` is `private[sql]`) — what a
    * driver-side parquet footer read needs so schema conversion of
    * foreign files honors the session's parquet semantics
    * (binaryAsString, nanosAsLong, …). */
  def sessionHadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.sessionState.newHadoopConf()

  /** The session's own SQLConf (`sessionState` is `private[sql]`). A
    * static SQL conf can only be given a default here:
    * `spark.conf.set` refuses static keys. */
  def sessionSqlConf(spark: SparkSession): internal.SQLConf =
    spark.sessionState.conf
}
