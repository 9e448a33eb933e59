package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Brute-force cosine top-k is the exact baseline (one pass, no
  * shuffle until the final top-k). The scale path is sign-random-
  * projection LSH: deterministic pseudo-random hyperplanes hash each
  * vector into a bucket; search touches only the probe's bucket —
  * a broadcast-join instead of a full scan at 100 TB.
  */
object Similarity {

  /** Σ aᵢ·bᵢ as double (sequential left-to-right — deterministic).
    * Backed by the codegen'd [[graft.functions.VecDotProduct]]
    * expression; [[dotHof]] is the built-in-only formulation with
    * bit-identical results (asserted in ExtSpec). */
  def dot(a: Column, b: Column): Column = graft.functions.VectorFunctions.vecDot(a, b)

  /** Higher-order-function formulation of [[dot]] — reference
    * semantics for the custom expression, and the fallback if the
    * session can't register functions. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k by cosine against the single probe row
    * `probe(probe_vec)`: broadcast the probe, score every vector,
    * order by rounded similarity (stable across engines) with id
    * tie-break. */
  def bruteForceTopK(vectors: DataFrame, probe: DataFrame, idCol: String, vecCol: String,
                     k: Int): DataFrame =
    vectors
      .crossJoin(broadcast(probe))
      .select(col(idCol), round(cosine(col(vecCol), col("probe_vec")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)

  /** Deterministic ±1 hyperplanes: component d of plane p is the sign
    * of bit (d mod 128) of md5("plane-p"). Pure driver-side constants —
    * no data dependence, no RNG. */
  def hyperplanes(nPlanes: Int, dim: Int): Seq[Seq[Double]] = {
    val mdf = java.security.MessageDigest.getInstance("MD5")
    (0 until nPlanes).map { p =>
      val bytes = mdf.digest(s"plane-$p".getBytes("UTF-8"))
      (0 until dim).map { d =>
        val bit = (bytes((d / 8) % 16) >> (d % 8)) & 1
        if (bit == 1) 1.0 else -1.0
      }
    }
  }

  /** LSH bucket id: for each hyperplane, 1 bit = sign of ⟨v, h⟩;
    * bucket = the packed bit string. Vectors in the same bucket are
    * near-duplicate candidates. */
  def lshBucket(vecCol: Column, planes: Seq[Seq[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (h, i) =>
      val hLit = array(h.map(lit): _*)
      when(dot(vecCol, hLit) >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** ANN via LSH buckets: score the probe only against vectors sharing
    * one of its probe buckets, then exact-rank within them.
    *
    * With `multiProbe=false` only the probe's own bucket is searched —
    * lowest latency, but an empty/thin bucket returns fewer than k
    * results. With `multiProbe=true` (the 100 TB recall path) the
    * probe also searches every Hamming-1 neighbor bucket (each of the
    * nPlanes sign bits flipped — the buckets a true neighbor most
    * likely fell into, since each flip corresponds to the probe lying
    * close to one hyperplane). The probe side explodes its nPlanes+1
    * bucket ids and the corpus equi-joins on the bucket key, so the
    * search stays a broadcast hash join touching ~(nPlanes+1)/2^nPlanes
    * of the data — never a scan. A corpus vector matches at most one
    * probe bucket (the probe's bucket list is distinct by
    * construction), so no post-join dedup is needed. */
  def lshTopK(vectors: DataFrame, probe: DataFrame, idCol: String, vecCol: String,
              k: Int, nPlanes: Int = 12, dim: Int = 64,
              multiProbe: Boolean = false): DataFrame = {
    val planes = hyperplanes(nPlanes, dim)
    val bucketed = vectors.withColumn("bucket", lshBucket(col(vecCol), planes))
    val pb = lshBucket(col("probe_vec"), planes)
    val probeBuckets =
      if (multiProbe) array(pb +: (0 until nPlanes).map(i => pb.bitwiseXOR(lit(1L << i))): _*)
      else array(pb)
    val probeB = broadcast(probe.select(col("probe_vec"), explode(probeBuckets).as("bucket")))
    bucketed
      .join(probeB, Seq("bucket"))
      .select(col(idCol), round(cosine(col(vecCol), col("probe_vec")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  // ---- IVF (inverted-file) ANN ----------------------------------------

  private def sqnorm(c: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    s
  }

  /** Per-centroid [dist, list_id] pairs as a single projection
    * expression: the centroid matrix is ONE nested-array literal (not
    * nLists × dim separate literal nodes — keeps the expression tree
    * small however many lists), and `transform` computes
    * −2·⟨v,c⟩ + ‖c‖² per centroid — squared L2 minus the per-vector
    * constant ‖v‖², irrelevant to the argmin. `array_min` over the
    * [dist, id] pairs is lexicographic, so equal distances tie-break
    * on the lower list id deterministically. No shuffle, no crossJoin —
    * nLists dot products inline in whole-stage codegen via [[dot]]. */
  private def assignArrays(vecCol: Column, cents: Seq[Array[Double]]): Column = {
    val centsLit = typedlit(cents.map(_.toSeq))
    val normsLit = typedlit(cents.map(sqnorm))
    transform(centsLit, (c, i) =>
      array(dot(vecCol, c) * -2 + element_at(normsLit, i + 1), i.cast("double")))
  }

  private def assignedList(vecCol: Column, cents: Seq[Array[Double]]): Column =
    array_min(assignArrays(vecCol, cents)).getItem(1).cast("int")

  /** Lloyd-iterated IVF centroids. Initialization is the `nLists`
    * vectors with the lowest ids (deterministic, like the reference
    * corpus order); each iteration assigns every vector to its nearest
    * centroid with [[assignExpr]] (map-only) and recomputes element-wise
    * means via posexplode → groupBy(list, pos) → avg — the only
    * shuffle, keyed on (list, pos) with cardinality nLists × dim.
    * Centroids (nLists × dim doubles) collect to the driver per
    * iteration, exactly like MLlib's k-means does between rounds. */
  def ivfCentroids(vectors: DataFrame, idCol: String, vecCol: String,
                   nLists: Int, iters: Int = 2): Seq[Array[Double]] = {
    val init = vectors.orderBy(col(idCol)).limit(nLists)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray).toSeq
    (0 until iters).foldLeft(init) { (cents, _) =>
      // centroid update via the typed VectorMean Aggregator: the
      // shuffle carries one dim-wide partial buffer per (partition,
      // list) — not one row per vector ELEMENT as a posexplode →
      // groupBy(list, pos) → avg formulation would
      val means = vectors
        .select(assignedList(col(vecCol), cents).as("list_id"), col(vecCol).as("vec"))
        .groupBy(col("list_id"))
        .agg(graft.functions.VectorMean.vecMean(col("vec")).as("centroid"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
      // empty lists keep their previous centroid
      cents.indices.map(i => means.getOrElse(i, cents(i)))
    }
  }

  /** IVF ANN top-k: score the probe only against vectors whose
    * centroid is among the probe's `nProbe` nearest lists. At scale
    * the assignment is a map-only pass (or a precomputed partition
    * column — partition-prune straight to the lists), so a query
    * touches ~nProbe/nLists of the data instead of all of it. */
  def ivfTopK(vectors: DataFrame, probe: DataFrame, idCol: String, vecCol: String,
              k: Int, nLists: Int = 16, nProbe: Int = 4, iters: Int = 2): DataFrame = {
    val cents = ivfCentroids(vectors, idCol, vecCol, nLists, iters)
    val probeB = broadcast(probe
      .select(col("probe_vec"),
        transform(slice(array_sort(assignArrays(col("probe_vec"), cents)), 1, nProbe),
          x => x.getItem(1).cast("int")).as("lists")))
    vectors
      .withColumn("list_id", assignedList(col(vecCol), cents))
      .join(probeB, array_contains(col("lists"), col("list_id")))
      .select(col(idCol), round(cosine(col(vecCol), col("probe_vec")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Materialize an IVF index: assign every vector its nearest list
    * and write the corpus PARTITIONED BY `list_id`. Probes then
    * partition-prune straight to their nProbe list directories instead
    * of scanning and re-assigning the whole corpus per query — the
    * genuine 100 TB ANN serving shape (train once, write once, prune
    * every query). Returns the trained centroids, which the query side
    * needs to rank lists for a probe. */
  def ivfWriteIndex(vectors: DataFrame, idCol: String, vecCol: String, path: String,
                    nLists: Int = 16, iters: Int = 2): Seq[Array[Double]] = {
    val cents = ivfCentroids(vectors, idCol, vecCol, nLists, iters)
    vectors
      .withColumn("list_id", assignedList(col(vecCol), cents))
      .write.mode("overwrite").partitionBy("list_id").parquet(path)
    cents
  }

  /** Append new vectors to a materialized IVF index WITHOUT
    * retraining: assign against the index's existing centroids and
    * append-write into the matching list_id directories — the
    * incremental-ingest path that keeps serving live between periodic
    * retrain+rebuild cycles (standard IVF practice; recall drifts only
    * as far as the data distribution does). Queries over the index see
    * appended vectors immediately, since probes prune by directory.
    *
    * The default contract is EXACTLY-ONCE input: the append blindly
    * adds rows, so an at-least-once ingest retry would duplicate ids
    * in every later top-k (identical (cos_sim, vec_id) rows). Callers
    * whose upstream can replay set `guardIds=true`: appended ids
    * anti-join the existing index first (an id-column-pruned scan of
    * the index — cheap relative to the write, and the same idempotence
    * the repo's upsert sinks provide).
    *
    * Every append leaves one file per (write task, touched list) pair,
    * so a continuous-ingest index accumulates small files without
    * bound — at 100 TB the per-file open/footer overhead would come to
    * dominate every probe's pruned scan. `maxFilesPerList` bounds
    * that: when any list directory exceeds it after the append, the
    * index is [[ivfCompact]]ed back to one file per list in place
    * (same crash-safe swap as [[ivfRetrainSwap]]). Compaction rewrites
    * layout only — assignments, row content, and serve results are
    * unchanged (asserted in ExtSpec). Pass `Int.MaxValue` to manage
    * compaction externally. */
  def ivfAppend(vectors: DataFrame, idCol: String, vecCol: String, path: String,
                cents: Seq[Array[Double]], guardIds: Boolean = false,
                maxFilesPerList: Int = 16): Unit = {
    val fresh =
      if (guardIds)
        vectors.join(vectors.sparkSession.read.parquet(path).select(col(idCol)),
          Seq(idCol), "left_anti")
      else vectors
    fresh
      .withColumn("list_id", assignedList(col(vecCol), cents))
      .write.mode("append").partitionBy("list_id").parquet(path)
    if (indexMaxFilesPerList(vectors.sparkSession, path) > maxFilesPerList)
      ivfCompact(vectors.sparkSession, path)
  }

  /** Max parquet-file count over a materialized index's list
    * directories — the [[ivfAppend]] compaction trigger. One recursive
    * Hadoop-FS listing (works on any supported storage), no Spark job. */
  def indexMaxFilesPerList(spark: org.apache.spark.sql.SparkSession, path: String): Int = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(hPath, true)
    val counts = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet"))
        counts(f.getPath.getParent.toString) += 1
    }
    if (counts.isEmpty) 0 else counts.values.max
  }

  /** Partition-preserving compaction of a materialized IVF index:
    * rewrite to ONE file per list directory while keeping the
    * `list_id=` layout probes prune on. [[Maintenance.compact]] is the
    * wrong tool here — it repartitions by size and would flatten the
    * partition dirs, turning every later probe's directory prune back
    * into a full scan. Routing the rewrite through
    * `repartition(col("list_id"))` puts each list in exactly one task,
    * so the partitioned write emits exactly one file per list; the
    * swap is the same crash-safe protocol as [[ivfRetrainSwap]]
    * (readers see old layout until the atomic rename; every crash
    * window recovers on the next call). */
  def ivfCompact(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    SwapStore.rewrite(spark, path) { tmp =>
      spark.read.parquet(path)
        .repartition(col("list_id"))
        .write.partitionBy("list_id").parquet(tmp)
    }

  /** Retrain-and-swap — the rebuild half of the IVF lifecycle:
    * [[ivfAppend]] keeps serving live between rebuilds, but appended
    * vectors sit in lists chosen by STALE centroids, so recall drifts
    * with the data distribution; this op retrains on the index's full
    * current contents and atomically replaces the partition layout via
    * [[SwapStore.rewrite]] (readers see the old index
    * until the swap, every crash window recovers on the next call).
    * Training reads the index itself — the original corpus need not be
    * kept. Returns the new centroids the serving layer must adopt
    * (deterministic: identical to training on the original corpus,
    * since init orders by id and Lloyd updates are order-free). */
  def ivfRetrainSwap(spark: org.apache.spark.sql.SparkSession, path: String,
                     idCol: String, vecCol: String,
                     nLists: Int = 16, iters: Int = 2): Seq[Array[Double]] = {
    var cents: Seq[Array[Double]] = Seq.empty
    SwapStore.rewrite(spark, path) { tmp =>
      // reading the live dir inside the write callback is safe by the
      // swap contract: nothing has moved yet
      val current = spark.read.parquet(path).drop("list_id")
      cents = ivfWriteIndex(current, idCol, vecCol, tmp, nLists, iters)
    }
    cents
  }

  /** The probe's nProbe nearest lists, computed driver-side (the probe
    * is one vector) with the same −2·⟨v,c⟩ + ‖c‖² ranking and
    * (dist, id) tie-break as [[assignArrays]]. */
  def probeNearestLists(v: Array[Double], cents: Seq[Array[Double]], nProbe: Int): Seq[Int] = {
    cents.zipWithIndex.map { case (c, i) =>
      var dp = 0.0
      var j = 0
      while (j < c.length) { dp += v(j) * c(j); j += 1 }
      (dp * -2 + sqnorm(c), i)
    }.sorted.take(nProbe).map(_._2)
  }

  /** Top-k over a materialized IVF index ([[ivfWriteIndex]] output):
    * the probe's list ids become LITERAL filters on the partition
    * column, so the scan reads only those directories (PlanSpec asserts
    * the PartitionFilters). `probe` must be a single row with an
    * `probe_vec` array column. */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                     cents: Seq[Array[Double]], probe: DataFrame,
                     idCol: String, vecCol: String,
                     k: Int, nProbe: Int = 4): DataFrame = {
    val pv = probe.head().getSeq[Float](0).map(_.toDouble).toArray
    val lists = probeNearestLists(pv, cents, nProbe)
    spark.read.parquet(indexPath)
      .filter(col("list_id").isin(lists: _*))
      .crossJoin(broadcast(probe))
      .select(col(idCol), round(cosine(col(vecCol), col("probe_vec")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Symmetric int8 quantization report per vector — the storage-
    * reduction pass a 100 TB embedding corpus runs before ANN serving
    * (4× smaller than float32): per-vector scale = max|x| / 127,
    * q_i = round(x_i / scale), plus the max reconstruction error
    * |q_i·scale − x_i|. Pure map-side array expressions; the report
    * flattens to scalars (scale, quantized-value aggregates, error)
    * so it stays oracle-checkable. Zero vectors quantize to all-zero
    * with scale 0 and error 0. */
  def quantizeStats(vectors: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = transform(col(vecCol), x => x.cast("double"))
    val withScale = vectors.select(col(idCol), v.as("v"),
      (array_max(transform(v, x => abs(x))) / 127.0).as("scale"))
    val q = when(col("scale") === 0.0, transform(col("v"), _ => lit(0.0)))
      .otherwise(transform(col("v"), x => round(x / col("scale"))))
    // "q" multiply-referenced → its own projection (evaluated once).
    // The rounded display scale gets ITS OWN projection after the
    // stats: aliasing `round(scale, 6) AS scale` in the same select
    // that references col("scale") inside a lambda makes Spark's
    // lateral-column-alias resolution bind the lambda to the ROUNDED
    // alias, silently computing errors against the wrong scale.
    withScale.select(col(idCol), col("v"), col("scale"), q.as("q"))
      .select(col(idCol), col("scale"),
        aggregate(col("q"), lit(0L), (acc, x) => acc + x.cast("long")).as("sum_q"),
        array_min(col("q")).cast("long").as("min_q"),
        array_max(col("q")).cast("long").as("max_q"),
        round(array_max(zip_with(col("q"), col("v"),
          (qi, xi) => abs(qi * col("scale") - xi))), 6).as("max_err"))
      .select(col(idCol), round(col("scale"), 6).as("scale"),
        col("sum_q"), col("min_q"), col("max_q"), col("max_err"))
  }

  /** All near-duplicate pairs by embedding cosine ≥ `threshold`,
    * restricted to LSH-bucket collisions (no O(n²) cross join).
    *
    * The bucket self-join is quadratic in bucket occupancy, so buckets
    * larger than `maxBucket` are dropped before pairing — one
    * degenerate bucket (e.g. near-zero vectors all hashing to the same
    * sign pattern) would otherwise dominate the whole job at scale.
    * Same deterministic guard as [[Dedup.minhashBuckets]]; a production
    * caller re-probes oversized buckets with more planes instead. The
    * occupancy count is a groupBy on the (≤2^nPlanes-cardinality)
    * bucket key followed by a semi-join — no data blowup. */
  def nearDupPairs(vectors: DataFrame, idCol: String, vecCol: String,
                   threshold: Double, nPlanes: Int = 12, dim: Int = 64,
                   maxBucket: Int = 10000, multiProbe: Boolean = false): DataFrame = {
    val planes = hyperplanes(nPlanes, dim)
    // norms precomputed per vector (not per pair — the self-join fans
    // each vector out to many candidate pairs)
    val bucketed = vectors.select(col(idCol), col(vecCol),
      norm(col(vecCol)).as("nrm"), lshBucket(col(vecCol), planes).as("bucket"))
    // the occupancy cap is always on the TRUE bucket — multi-probe
    // widens which buckets a vector SEARCHES, not which it lives in
    val pairable = bucketed
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= (if (multiProbe) 1 else 2) && col("n") <= maxBucket)
      .select(col("bucket"))
    val capped = bucketed.join(pairable, Seq("bucket"), "left_semi")
    // multi-probe (the recall path): the LEFT side also probes every
    // Hamming-1 neighbor bucket, catching pairs that straddle exactly
    // one hyperplane — the dominant miss mode of single-bucket LSH.
    // Each qualifying pair matches EXACTLY once: a same-bucket pair
    // only via the identity probe (flipped probes land one bit away),
    // and a Hamming-1 pair only via the lower id's matching flip (the
    // higher id's flip also collides, but id_a < id_b discards that
    // orientation). Fan-out is (nPlanes+1)× on one side only.
    val probes =
      if (multiProbe) array(col("bucket") +:
        (0 until nPlanes).map(i => col("bucket").bitwiseXOR(lit(1L << i))): _*)
      else array(col("bucket"))
    val a = capped.select(explode(probes).as("jb"), col(idCol).as("id_a"),
      col(vecCol).as("vec_a"), col("nrm").as("nrm_a"))
    val b = capped.select(col("bucket").as("jb"), col(idCol).as("id_b"),
      col(vecCol).as("vec_b"), col("nrm").as("nrm_b"))
    a.join(b, Seq("jb"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(dot(col("vec_a"), col("vec_b")) / (col("nrm_a") * col("nrm_b")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .distinct()
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, public): cluster
    * embeddings with the Lloyd-trained IVF centroids, compare cosine
    * similarity ONLY within a cluster, and drop every vector that has a
    * smaller-id neighbor at `round(cos, 6) >= tau` — the deterministic
    * keep-the-canonical-representative rule. Returns kept
    * `(idCol, list_id)` rows.
    *
    * Scale shape: assignment is map-only (the centroid matrix is one
    * literal, [[assignArrays]]); the quadratic pair comparison is
    * confined to one cluster and gated by the same occupancy cap as
    * [[nearDupPairs]] — a cluster larger than `maxPerList` skips
    * pairing entirely and keeps all its rows (conservative, never
    * drops on unverified similarity). The cap count is a
    * `groupBy(list_id)` — map-side partial aggregation crushes a hot
    * cluster key (the q64 lesson: no window over the data key). At
    * 100 TB the cluster count scales with the corpus so per-cluster
    * occupancy stays bounded; the loser set is a distinct id column
    * (8-byte shuffle rows) and the final anti-join is AQE-broadcastable
    * when the drop rate is low. */
  def semanticDedup(vectors: DataFrame, idCol: String, vecCol: String,
                    nLists: Int = 8, tau: Double = 0.30, iters: Int = 2,
                    maxPerList: Int = 10000): DataFrame = {
    val cents = ivfCentroids(vectors, idCol, vecCol, nLists, iters)
    val assigned = vectors.select(col(idCol), col(vecCol),
      norm(col(vecCol)).as("nrm"),
      assignedList(col(vecCol), cents).as("list_id"))
    val pairable = assigned
      .groupBy(col("list_id")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2 && col("n") <= maxPerList)
      .select(col("list_id"))
    val capped = assigned.join(pairable, Seq("list_id"), "left_semi")
    val a = capped.select(col("list_id"), col(idCol).as("id_a"),
      col(vecCol).as("vec_a"), col("nrm").as("nrm_a"))
    val b = capped.select(col("list_id"), col(idCol).as("id_b"),
      col(vecCol).as("vec_b"), col("nrm").as("nrm_b"))
    val losers = a.join(b, Seq("list_id"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(dot(col("vec_a"), col("vec_b")) / (col("nrm_a") * col("nrm_b")), 6) >= tau)
      .select(col("id_b").as(idCol)).distinct()
    assigned.join(losers, Seq(idCol), "left_anti")
      .select(col(idCol), col("list_id"))
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009, public) —
    * the standard hybrid-search combiner: fuse two rankings (dense
    * ANN cosine, sparse BM25) as Σ 1/(k + rank) per document. Rank
    * arithmetic only — no score normalization across incomparable
    * scales, which is why RRF is the production default.
    *
    * Inputs are `(idCol, rank)` tables (rank 1-based). One full-outer
    * join on the id; both contributions are exact doubles of integer
    * ranks and the two-term add is order-free (IEEE addition is
    * commutative), so the result is engine-exact without rounding.
    * Scale: the fused lists are top-k cuts (tiny) — the join
    * broadcasts; never a corpus-sized operation. */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String,
              kRank: Int = 60, topK: Int = 10): DataFrame = {
    val wa = a.select(col(idCol), (lit(1.0) / (lit(kRank) + col("rank"))).as("w_a"))
    val wb = b.select(col(idCol), (lit(1.0) / (lit(kRank) + col("rank"))).as("w_b"))
    wa.join(wb, Seq(idCol), "full_outer")
      .select(col(idCol),
        (coalesce(col("w_a"), lit(0.0)) + coalesce(col("w_b"), lit(0.0))).as("rrf_score"),
        (col("w_a").isNotNull.cast("int") + col("w_b").isNotNull.cast("int")).as("n_sources"))
      .orderBy(col("rrf_score").desc, col(idCol))
      .limit(topK)
  }

  /** Hybrid search as ONE operator a user can call: the exact dense
    * retriever ([[bruteForceTopK]] — q25/q30's ranking) and the BM25
    * sparse retriever ([[graft.ext.TextStats.bm25]] — q93) each
    * produce a top-k cut, and [[rrfFuse]] combines them. The two
    * retrievals are independent scans fused on tiny rank tables —
    * composing them changes nothing about either retriever's scale
    * shape (probe broadcast + TakeOrdered dense; term-filtered
    * postings + TakeOrdered sparse; broadcast-sized fusion). */
  def hybridSearch(vectors: DataFrame, probe: DataFrame, docs: DataFrame,
                   idCol: String, vecCol: String, textCol: String, docIdCol: String,
                   queryTerms: Seq[String], kDense: Int = 20, kSparse: Int = 20,
                   kRank: Int = 60, topK: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dense = bruteForceTopK(vectors, probe, idCol, vecCol, kDense)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cos_sim").desc, col(idCol))))
      .select(col(idCol).as(docIdCol), col("rank"))
    // eager: the bm25 postings cache has no release handle once this
    // composes into the RRF fusion — materialize the ≤ kSparse rows
    // and free it here rather than leak it past the operator boundary
    val sparse = graft.ext.TextStats.bm25(docs, textCol, docIdCol, queryTerms,
        topK = kSparse, eager = true)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col(docIdCol))))
      .select(col(docIdCol), col("rank"))
    rrfFuse(dense, sparse, docIdCol, kRank, topK)
  }

  /** Johnson–Lindenstrauss sign random projection (Achlioptas 2001,
    * public): compress each embedding to `outDims` dimensions as
    * rp[j] = ⟨v, s_j⟩ / √outDims with s_j the deterministic ±1 rows of
    * [[hyperplanes]] — the cheap dimensionality-reduction pass before
    * storing or clustering 100 TB of vectors (pairwise distances are
    * preserved to (1±ε) with outDims = O(ln n / ε²)).
    *
    * Purely map-side: the projection matrix is outDims literal arrays
    * baked into the plan, each output component one codegen'd
    * [[dot]] — no shuffle, no driver state, no RNG (the matrix derives
    * from md5 like the LSH planes, so an engine-independent oracle
    * inlines the same constants). Components round to 6dp, absorbing
    * the ulp skew of the engines' float→double promotion order. */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
                    outDims: Int, dim: Int = 64): DataFrame = {
    require(outDims > 0 && outDims <= dim, "need 0 < outDims <= dim")
    val scale = 1.0 / math.sqrt(outDims.toDouble)
    val comps = hyperplanes(outDims, dim).map { h =>
      round(dot(col(vecCol), array(h.map(lit): _*)) * lit(scale), 6)
    }
    df.select(col(idCol), array(comps: _*).as("rp"))
  }
}
