package graft.gold

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** MERGE-upsert emulation over plain Parquet.
  *
  * The reference uses Delta `MERGE … whenMatchedUpdateAll /
  * whenNotMatchedInsertAll` (ref: mnt/airflow/scripts/silver_to_gold_on_minio.py:127-144).
  * With no Delta in the environment we reproduce the exact row-level
  * semantics as a library op (SURVEY.md §7.3/7.4):
  *
  *   result = target ⟕anti updates ∪ updates       (whole-row update)
  *
  * For the path-based form, read-modify-write on the same directory
  * would hit "Cannot overwrite a path that is also being read from", so
  * we write to a sibling temp dir and atomically swap.
  */
object Upsert {

  /** Pure DataFrame form: rows of `target` whose key matches a row in
    * `updates` are replaced wholesale; unmatched `updates` rows are
    * inserted. Schemas must be union-compatible by name. */
  def merge(target: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame =
    target.join(updates.select(keys.map(org.apache.spark.sql.functions.col): _*), keys, "left_anti")
      .unionByName(updates)

  /** [[merge]] with Delta-style schema evolution
    * (`mergeSchema`/`spark.databricks.delta.schema.autoMerge` role —
    * the reference gets this from Delta for free, SURVEY §2.1 S8):
    * columns only in `updates` are ADDED to the result (pre-existing
    * target rows read NULL there), columns only in `target` are KEPT
    * (inserted/updated rows read NULL there — Delta's
    * `whenNotMatchedInsertAll` with a missing source column), and
    * columns present on both sides keep the TARGET's type, with the
    * updates side cast to it (Delta's implicit-cast-on-write rule —
    * an incompatible cast fails analysis loudly rather than silently
    * widening the table's type). Pure column algebra on the plan —
    * no shuffle beyond [[merge]]'s own. */
  def mergeEvolve(target: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val tCols = target.columns.toSeq
    val uCols = updates.columns.toSeq
    val evolvedTarget = uCols.filterNot(tCols.contains).foldLeft(target)((df, c) =>
      df.withColumn(c, lit(null).cast(updates.schema(c).dataType)))
    val aligned = tCols.filter(uCols.contains).filterNot(keys.contains)
      .foldLeft(updates)((df, c) => df.withColumn(c, col(c).cast(target.schema(c).dataType)))
    val evolvedUpdates = tCols.filterNot(uCols.contains).foldLeft(aligned)((df, c) =>
      df.withColumn(c, lit(null).cast(target.schema(c).dataType)))
    merge(evolvedTarget, evolvedUpdates, keys)
  }

  /** Path-based [[mergeEvolve]]: the schema-evolving upsert through
    * the same crash-safe directory swap as [[upsertParquet]].
    * After the swap the live table carries the union schema. */
  def upsertParquetEvolve(spark: SparkSession, path: String, updates: DataFrame,
                          keys: Seq[String]): Unit =
    upsertTableEvolve(spark, path, updates, keys, graft.ext.SwapStore)

  /** [[upsertParquetEvolve]] over any [[graft.ext.TableStore]] — the
    * schema-evolving twin of [[upsertTable]]: same commit seam
    * (directory swap or object-store manifest conditional-put), with
    * [[mergeEvolve]]'s union-schema semantics on the matched rows.
    * After the publish the live state carries the union schema either
    * way. */
  def upsertTableEvolve(spark: SparkSession, path: String, updates: DataFrame,
                        keys: Seq[String], store: graft.ext.TableStore): Unit =
    upsertWith(spark, path, updates, keys, store)(mergeEvolve)

  /** Delta Change Data Feed's role for [[merge]]: the row-level change
    * stream a MERGE produces, for downstream incremental consumers
    * (gold→serving syncs, cache invalidation, audit). Delta emits CDF
    * rows tagged `insert` / `update_preimage` / `update_postimage` /
    * `delete` (public semantics; the reference's Delta 2.3 ships it
    * behind `delta.enableChangeDataFeed`). Here:
    *
    *   - unmatched `updates` key → one `insert` row;
    *   - matched key → `update_preimage` (target row) AND
    *     `update_postimage` (updates row) — Delta's
    *     whenMatchedUpdateAll updates every matched row, changed or
    *     not, and so do we;
    *   - target key absent from `updates` → `delete` row when
    *     `deleteUnmatched` (the whenNotMatchedBySourceDelete clause),
    *     else no change row (plain MERGE leaves it untouched).
    *
    * ONE full outer join on the keys, fanned into change rows by a
    * per-row change-struct ARRAY + explode — matched keys emit two
    * structs (pre, post), unmatched one. The naive alternative (a
    * union of four filters over the join) looks like plan reuse but
    * is not: Catalyst specializes the outer join per branch (inner /
    * left / right) and re-scans both tables once per change class —
    * eight scans and four joins at 100 TB. The explode form is one
    * join, one scan per side, map-side fan-out (PlanSpec asserts it).
    * Columns: target/updates columns + `_change_type`. Apply the
    * post-state with [[merge]] (`deleteUnmatched = true`'s post-state
    * is just `updates`); this op only derives the feed. */
  def mergeChanges(target: DataFrame, updates: DataFrame, keys: Seq[String],
                   deleteUnmatched: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{array, col, explode, lit, struct, when}
    require(!target.columns.contains("_change_type") && !updates.columns.contains("_change_type"),
      "_change_type is reserved for the change feed (Delta reserves it too)")
    val dataCols = target.columns.filterNot(keys.contains).toSeq
    val t = dataCols.foldLeft(target)((df, c) => df.withColumnRenamed(c, s"__t_$c"))
      .withColumn("__in_t", lit(1))
    val u = dataCols.foldLeft(updates)((df, c) => df.withColumnRenamed(c, s"__u_$c"))
      .withColumn("__in_u", lit(1))
    def chg(side: String, tag: String) =
      struct(dataCols.map(c => col(s"__${side}_$c").as(c)) :+
        lit(tag).as("_change_type"): _*)
    val changes =
      when(col("__in_t").isNull, array(chg("u", "insert")))
        .when(col("__in_u").isNull, array(chg("t", "delete")))
        .otherwise(array(chg("t", "update_preimage"), chg("u", "update_postimage")))
    t.join(u, keys, "full_outer")
      .select(keys.map(col) :+ explode(changes).as("__chg"): _*)
      // constant-folds away when deleteUnmatched; plain MERGE has no
      // delete clause, so by-source-unmatched target rows emit nothing
      .filter(lit(deleteUnmatched) || col("__chg._change_type") =!= "delete")
      .select(keys.map(col) ++
        (dataCols :+ "_change_type").map(c => col(s"__chg.$c")): _*)
  }

  /** Consume a change feed back into a table — the DLT `APPLY CHANGES
    * INTO` role, the other half of CDC next to [[mergeChanges]]:
    * `insert`/`update_postimage` rows upsert, `delete` rows remove,
    * `update_preimage` rows are audit-only and ignored. One anti-join
    * on every touched key (delete and update alike — updates re-enter
    * from their postimage), then the upserts append: the same
    * two-shuffle shape as [[merge]]. Deriving a feed with
    * [[mergeChanges]] and applying it here reproduces [[merge]]'s
    * post-state exactly (the q100 round-trip oracle). */
  def applyChanges(target: DataFrame, changes: DataFrame, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val upserts = changes
      .filter(col("_change_type").isin("insert", "update_postimage"))
      .drop("_change_type")
    val touched = changes
      .filter(col("_change_type") =!= "update_preimage")
      .select(keys.map(col): _*).distinct()
    target.join(touched, keys, "left_anti").unionByName(upserts)
  }

  /** Deterministically keep one row per key: rows ordered by every
    * non-key column, first wins. Delta MERGE would ERROR on duplicate
    * update keys; resolving deterministically keeps re-delivered
    * bronze records from permanently duplicating dimension rows. */
  def dedupByKeys(df: DataFrame, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, row_number}
    val others = df.columns.filterNot(keys.contains).toSeq
    if (others.isEmpty) df.dropDuplicates(keys)
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*).orderBy(others.map(col): _*)
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }
  }

  /** Path-based form with bootstrap: if `path` doesn't exist yet, plain
    * overwrite (the reference's `DeltaTable.isDeltaTable` branch,
    * ref: silver_to_gold_on_minio.py:131-144). Publishes through
    * [[graft.ext.SwapStore.rewrite]]'s crash-safe directory swap,
    * which holds where directory rename is atomic (HDFS/POSIX; for
    * object stores use [[upsertTable]] with
    * [[graft.ext.ManifestStore]]). There is no window
    * in which the table is missing, so the bootstrap branch can never
    * re-create it from one month's rows; an interrupted merge is
    * repaired and simply re-runs on the next call. */
  def upsertParquet(spark: SparkSession, path: String, updates: DataFrame, keys: Seq[String]): Unit =
    upsertTable(spark, path, updates, keys, graft.ext.SwapStore)

  /** [[upsertParquet]] over any [[graft.ext.TableStore]] — the commit
    * seam. With [[graft.ext.SwapStore]] (the default entry above)
    * the publish is the directory swap: fast, zero indirection,
    * guaranteed where rename is atomic (HDFS/POSIX). With
    * [[graft.ext.ManifestStore]] the merged state lands in an
    * immutable uniquely-named data dir and becomes visible via ONE
    * manifest commit — on an object store a conditional create with
    * no rename on any commit path, which is what object stores
    * (S3A/MinIO, the reference's actual storage) require for the
    * crash-window guarantees to hold. Same merge semantics either
    * way; read the live state back with `store.readLive`. */
  def upsertTable(spark: SparkSession, path: String, updates: DataFrame,
                  keys: Seq[String], store: graft.ext.TableStore): Unit =
    upsertWith(spark, path, updates, keys, store)(merge)

  /** The shared upsert body: repair, dedup the updates, then bootstrap
    * or publish `combine(live, updates, keys)` through `store`. */
  private def upsertWith(spark: SparkSession, path: String, updates: DataFrame,
                         keys: Seq[String], store: graft.ext.TableStore)
                        (combine: (DataFrame, DataFrame, Seq[String]) => DataFrame): Unit = {
    store.recover(spark, path)
    val deduped = dedupByKeys(updates, keys)
    if (!store.exists(spark, path))
      store.rewrite(spark, path)(tmp =>
        deduped.write.mode(SaveMode.Overwrite).parquet(tmp))
    else
      store.rewrite(spark, path) { tmp =>
        val target = store.readLive(spark, path)
        combine(target, deduped, keys).write.mode(SaveMode.Overwrite).parquet(tmp)
      }
  }
}
