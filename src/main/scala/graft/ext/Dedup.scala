package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale posture: every op is a hash-partitioned groupBy/join on a
  * derived key — no cross joins, no driver collection. The LSH band
  * join is the classic shingle→minhash→band→bucket-join pipeline; at
  * 100 TB the band hash is the shuffle key and bucket sizes are bounded
  * by `maxBucket` to cap worst-case pair blowup (standard LSH practice).
  *
  * Hash choice: md5 (a Spark AND DuckDB builtin with identical output)
  * rather than Spark's murmur3 `hash()`, so every stage is
  * oracle-checkable; lexicographic min over md5 hex strings is a valid
  * min-hash (any total order over a uniform hash works).
  */
object Dedup {

  /** Exact dedup: group by content hash, keep the lowest id. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** w-token shingles over an already-materialized token-array COLUMN
    * (w=3): positions 0..n-w joined with single spaces. Documents
    * shorter than w tokens contribute their full token string as one
    * shingle.
    *
    * IMPORTANT: `toks` must be a plain attribute (a column produced by
    * a previous projection), not an inline `split(...)` expression —
    * this expression references it O(tokens) times, and an inlined
    * split would be re-evaluated at every reference. CollapseProject
    * keeps the upstream projection separate because the alias is
    * multiply-referenced and non-cheap. */
  def shinglesFromTokens(toks: Column, w: Int = 3): Column =
    when(size(toks) < w, array(concat_ws(" ", toks)))
      .otherwise(transform(
        sequence(lit(0), size(toks) - w),
        i => concat_ws(" ", (0 until w).map(o => element_at(toks, i + o + 1)): _*)))

  /** Convenience form over raw text for tests/small inputs. NOTE: the
    * inline tokenizer is re-evaluated per shingle position (the hazard
    * [[shinglesFromTokens]] documents) — production callers go through
    * [[explodedShingles]]/[[minhashSignatures]], which materialize the
    * token array once per row first. */
  def shingles(text: Column, w: Int = 3): Column =
    shinglesFromTokens(TextStats.tokens(text), w)

  /** (id, shingle) rows with the token array materialized once per
    * row before shingling. */
  def explodedShingles(df: DataFrame, textCol: String, idCol: String, w: Int = 3): DataFrame =
    Par.spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol), TextStats.tokens(col(textCol)).as("toks"))
      .select(col(idCol), explode(shinglesFromTokens(col("toks"), w)).as("shingle"))

  /** MinHash signature columns: for seed s, min over shingles of
    * md5("<s>|" + shingle). Returns (idCol, sig0..sig{k-1}).
    *
    * Computed row-locally by the [[graft.functions.MinHashSignature]]
    * expression — one pass over each document's token array, no
    * explode and no shuffle. The declarative formulation it replaces
    * (and must stay bit-identical to; asserted in ExtSpec) is
    * [[minhashSignaturesExploded]]. Null-text rows are dropped, as
    * explode-of-nothing dropped them in the exploded form. */
  def minhashSignatures(df: DataFrame, textCol: String, idCol: String, k: Int = 8): DataFrame = {
    // spread BEFORE the signature projection: the one-pass minhash
    // kernel is the expensive step, and a one-row-group input would
    // otherwise run it on one core (Par.spread's contract)
    val sigs = Par.spread(
        df.filter(col(textCol).isNotNull).select(col(idCol), col(textCol)))
      .select(col(idCol),
        graft.functions.TextFunctions.minhashSigs(TextStats.tokens(col(textCol)), 3, k).as("sigs"))
    // "sigs" is multiply-referenced, so CollapseProject keeps the
    // expression evaluated once in its own projection.
    sigs.select(col(idCol) +: (0 until k).map(i =>
      element_at(col("sigs"), i + 1).as(s"sig$i")): _*)
  }

  /** Built-in-only formulation of [[minhashSignatures]] (reference
    * semantics for the custom expression): explode shingles, hash per
    * seed, groupBy-min. One full shuffle of every (doc, shingle) row. */
  def minhashSignaturesExploded(df: DataFrame, textCol: String, idCol: String, k: Int = 8): DataFrame = {
    val sigs = (0 until k).map(s =>
      min(md5(concat(lit(s + "|"), col("shingle")))).as(s"sig$s"))
    explodedShingles(df, textCol, idCol).groupBy(col(idCol)).agg(sigs.head, sigs.tail: _*)
  }

  /** The (band, bucket) collision groups behind [[minhashCandidates]]:
    * one row per qualifying bucket with the collected id list. Buckets
    * of size 1 carry no dedup signal; buckets larger than `maxBucket`
    * are degenerate hot keys that would explode quadratically at scale
    * and are dropped (deterministic, standard LSH practice). */
  def minhashBuckets(sig: DataFrame, idCol: String, k: Int = 8,
                     rowsPerBand: Int = 2, maxBucket: Int = 100): DataFrame = {
    require(k % rowsPerBand == 0,
      s"k=$k must be divisible by rowsPerBand=$rowsPerBand — truncating would " +
        "silently drop trailing signature columns from every band")
    bandKeys(sig, idCol, k, rowsPerBand)
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(col(idCol)).as("ids"))
      .filter(size(col("ids")) >= 2 && size(col("ids")) <= maxBucket)
  }

  /** One (band, bucket) row per band of each row's signature — the
    * unit [[minhashBuckets]] groups and [[lshBandIndex]] indexes. One
    * projection + one explode produces all bands in a single pass (a
    * per-band union would recompute the signature pipeline nBands
    * times). */
  private[graft] def bandKeys(sig: DataFrame, idCol: String, k: Int,
                              rowsPerBand: Int): DataFrame = {
    val nBands = k / rowsPerBand
    val bandStructs = (0 until nBands).map { b =>
      val cols = (0 until rowsPerBand).map(r => col(s"sig${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), md5(concat_ws("|", cols: _*)).as("bucket"))
    }
    sig
      .select(col(idCol), explode(array(bandStructs: _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** The historical corpus's LSH membership index: every DISTINCT
    * (band, bucket) key any historical document occupies. This is what
    * [[nearDupGate]] checks incoming documents against — build it once
    * from the corpus, persist it as a table, rebuild on corpus
    * growth (or append new docs' keys incrementally: distinct-union
    * is idempotent). */
  def lshBandIndex(df: DataFrame, textCol: String, idCol: String,
                   k: Int = 8, rowsPerBand: Int = 2): DataFrame =
    bandKeys(minhashSignatures(df, textCol, idCol, k), idCol, k, rowsPerBand)
      .select(col("band"), col("bucket")).distinct()

  /** Near-dup LSH GATE — admission control for a training corpus:
    * drop any incoming document that shares at least one LSH band
    * bucket with the historical index ([[lshBandIndex]]), keeping the
    * rest untouched. The streaming counterpart of [[minhashCandidates]]
    * — instead of pairing candidates after the fact, candidates are
    * refused at ingest.
    *
    * Works identically on a BATCH or a STREAMING `docs` frame: the
    * signature and band keys are map-side expressions (the one-pass
    * [[graft.functions.MinHashSignature]] kernel — no state), and the
    * membership check is nBands stream-static LEFT joins against the
    * per-band bucket sets, each at most one match per row (the index
    * is distinct by construction — a non-distinct index would fan
    * rows out), so the gate is stateless, append-mode safe, and needs
    * no watermark. At 100 TB the index side shuffle-joins (per-band
    * broadcast when it fits); a skew-prone deployment would bucket
    * the index table on `bucket` to keep the join exchange one-sided.
    *
    * Pass a MATERIALIZED index (a table read, or `.persist()`ed): the
    * per-band filters push below [[lshBandIndex]]'s distinct and would
    * re-derive the history minhash pipeline once per band otherwise. */
  def nearDupGate(docs: DataFrame, index: DataFrame, textCol: String,
                  idCol: String, k: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    require(k % rowsPerBand == 0, s"k=$k must divide into rowsPerBand=$rowsPerBand bands")
    val nBands = k / rowsPerBand
    // signature array materialized once per row (multiply referenced
    // below — same CollapseProject note as minhashSignatures)
    val withSig = docs.filter(col(textCol).isNotNull).withColumn("__sigs",
      graft.functions.TextFunctions.minhashSigs(
        TextStats.tokens(col(textCol)), 3, k))
    val withKeys = (0 until nBands).foldLeft(withSig) { (acc, b) =>
      val cols = (0 until rowsPerBand)
        .map(r => element_at(col("__sigs"), b * rowsPerBand + r + 1))
      acc.withColumn(s"__bk$b", md5(concat_ws("|", cols: _*)))
    }
    val joined = (0 until nBands).foldLeft(withKeys) { (acc, b) =>
      val idxB = index.filter(col("band") === b).select(col("bucket").as(s"__hit$b"))
      acc.join(idxB, col(s"__bk$b") === col(s"__hit$b"), "left")
    }
    joined
      .filter((0 until nBands).map(b => col(s"__hit$b").isNull).reduce(_ && _))
      .select(docs.columns.map(col): _*)
  }

  /** LSH candidate pairs: band the k-wide signature into bands of
    * `rowsPerBand`, hash each band, emit all a<b pairs within each
    * (band, bucket) group (see [[minhashBuckets]] for the grouping and
    * the `maxBucket` guard).
    *
    * Plan shape: ONE linear pipeline — explode bands → groupBy (band,
    * bucket) collecting ids → per-group pair expansion as an array
    * expression → distinct. No self-join, so the signature pipeline is
    * computed once with no cache; the per-group expansion is bounded by
    * maxBucket² (≤10⁴ structs for the default 100), evaluated inside
    * codegen. The groupBy key (band, bucket) is the only data shuffle;
    * `distinct` shuffles the (already-small) candidate set. */
  def minhashCandidates(sig: DataFrame, idCol: String, k: Int = 8,
                        rowsPerBand: Int = 2, maxBucket: Int = 100): DataFrame = {
    // all ordered pairs (ids[i], ids[j]) with i < j over the sorted
    // id list — id_a < id_b holds by construction (2-element arrays,
    // not structs: lambda-built struct field names don't survive
    // Column-API resolution)
    val pairsOfSorted = {
      val ids = array_sort(col("ids"))
      flatten(transform(ids, (a, i) =>
        transform(slice(ids, i + 2, size(ids)), b => array(a, b))))
    }
    minhashBuckets(sig, idCol, k, rowsPerBand, maxBucket)
      .select(explode(pairsOfSorted).as("p"))
      .select(element_at(col("p"), 1).as("id_a"), element_at(col("p"), 2).as("id_b"))
      .distinct()
  }

  /** Connected components over an undirected pair list — turns
    * near-duplicate PAIRS into duplicate GROUPS (the step between
    * candidate generation and "keep one per cluster").
    *
    * Iterative min-label propagation: every node starts labeled with
    * itself; each round every node takes the min label among itself
    * and its neighbors; converged when no label changes. The final
    * label is the component's minimum node id — the same fixpoint a
    * transitive-closure formulation reaches, which is how the DuckDB
    * recursive-CTE oracle states it (q48).
    *
    * Each round is one shuffle on node id. Rounds needed = graph
    * diameter (near-dup clusters are shallow — a handful). `maxIter`
    * bounds pathological chains; convergence is checked per round so
    * typical inputs stop early. Labels persist per round and unpersist
    * after the next round materializes. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // pairs is consumed twice (one union branch per direction) — cache
    // it so an expensive upstream pipeline (LSH candidate generation)
    // isn't computed once per branch
    val pairsP = pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // no distinct: pairs are already unique with id_a < id_b, so the
    // two directions can't collide — and min-label propagation is
    // duplicate-insensitive anyway
    val edges = pairsP.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairsP.select(col("id_b").as("src"), col("id_a").as("dst")))
    val seeds = edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
    val result = propagateMinLabels(edges, seeds, maxIter)
    pairsP.unpersist()
    result
  }

  /** Connected components straight from LSH bucket groups
    * ([[minhashBuckets]] output) — the scale path for q48-style
    * dedup-group building. Two structural wins over pair-list CC:
    *
    *  - **Star edges, not cliques.** Every (band, bucket) group is a
    *    clique, so connecting each member to the bucket's min id
    *    preserves connectivity with Σ|bucket| edges instead of
    *    Σ|bucket|² pair rows — the edge set stays LINEAR in the data
    *    at 100 TB.
    *  - **Recursive star contraction, not flat rounds.** Every node is
    *    seeded at min(bucket min over its buckets); nodes whose buckets
    *    agree on one hub (the overwhelming majority) are FINAL after
    *    that single pass, and only the multi-hub nodes — where all
    *    cross-bucket connectivity lives — recurse as a strictly
    *    smaller child problem (see [[contractComponents]]).
    *
    * Same fixpoint as [[connectedComponents]] over the expanded pair
    * list (asserted in ExtSpec; the q48 oracle's recursive-CTE closure
    * agrees). */
  def componentsFromBuckets(buckets: DataFrame, maxIter: Int = 20): DataFrame =
    contractComponents(buckets.select(col("ids")), depth = 0, maxDepth = maxIter)

  /** Recursive star contraction (the MapReduce-CC family of Kiveris et
    * al., adapted to bucket cliques). One level:
    *
    *  1. Seed every node with the min hub over its buckets — ONE
    *     groupBy pass that also records the node's distinct-hub set
    *     (bounded by the number of bands a document can land in, so the
    *     set is O(nBands), never O(data)).
    *  2. **Short-circuit**: if every node sees a single distinct hub,
    *     every star edge (h, v) already joins equal labels (v's only
    *     hub is h, and h — a member of its own bucket — can then only
    *     carry h), so the seeds ARE the fixpoint: zero further work.
    *  3. Otherwise all cross-component connectivity flows through the
    *     multi-hub nodes (a single-hub node is a leaf: its only edges
    *     go to its one hub). Contract: each multi-hub node's hub set
    *     becomes a child "bucket", and the child problem — components
    *     over hubs only — recurses. The child input is |mismatch
    *     nodes| rows — strictly smaller than this level's input, and
    *     typically a tiny fraction of it — unlike a flat fixpoint that
    *     re-shuffles the FULL node set every round.
    *  4. Resolve down: final(v) = childLabel(seed(v)), defaulting to
    *     seed(v) for hubs the child never saw (isolated in the hub
    *     graph). The component min is always itself a hub (the min
    *     node m of a component is in some bucket whose hub h ≤ m and h
    *     is in the same component, so h = m), so resolving through the
    *     hub labels is exhaustive.
    *
    * The resolve join's right side is the contracted result — small by
    * construction; AQE turns it into a broadcast join at runtime once
    * its size is known (data-dependent at 100 TB, so the choice is
    * deliberately left to AQE rather than a hard broadcast() that
    * could OOM on adversarial inputs). `maxDepth` bounds pathological
    * hub chains exactly as maxIter bounded flat rounds.
    *
    * Each level finalizes through a checkpoint to truncate lineage
    * (the recursion would otherwise stack plans depth-deep). The
    * default `localCheckpoint` is NOT fault-tolerant: blocks live only
    * on their executors, so losing one after the checkpoint fails the
    * job unrecoverably (the lineage is gone). Single-box and small-
    * cluster runs re-run cheaply; a long 1000-executor job should set
    * `spark.graft.cc.reliableCheckpoint=true` AND a
    * `sparkContext.setCheckpointDir` so levels persist to the DFS and
    * survive executor loss. */
  private def finalizeLevel(df: DataFrame): DataFrame = {
    val ss = df.sparkSession
    if (graft.Knobs.ccReliableCheckpoint(ss) && ss.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint()
    else df.localCheckpoint(true)
  }

  private def contractComponents(idSets: DataFrame, depth: Int, maxDepth: Int): DataFrame = {
    if (depth >= maxDepth)
      throw new IllegalStateException(
        s"star contraction exceeded $maxDepth levels — component hub-chain " +
          "depth is pathological; raise maxIter and re-run (returning " +
          "partial labels would split clusters)")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val members = idSets
      .select(array_min(col("ids")).as("hub"), explode(col("ids")).as("id"))
      .persist(lvl)
    val seedsExt = members.groupBy(col("id"))
      .agg(min(col("hub")).as("component"), collect_set(col("hub")).as("hubs"))
      .persist(lvl)
    val nMismatch = seedsExt
      .agg(coalesce(sum((size(col("hubs")) > 1).cast("long")), lit(0L)))
      .head().getLong(0)
    val seeds = seedsExt.select(col("id"), col("component"))
    val result =
      if (nMismatch == 0L) finalizeLevel(seeds)
      else {
        val childSets = seedsExt.filter(size(col("hubs")) > 1).select(col("hubs").as("ids"))
        val hubLabels = contractComponents(childSets, depth + 1, maxDepth)
          .select(col("id").as("h_id"), col("component").as("h_comp"))
        finalizeLevel(seeds
          .join(hubLabels, seeds("component") === col("h_id"), "left")
          .select(col("id"), coalesce(col("h_comp"), seeds("component")).as("component")))
      }
    members.unpersist()
    seedsExt.unpersist()
    result
  }

  /** Iterative min-label propagation to a fixpoint: each round every
    * node takes the min label among itself and its neighbors; converged
    * when no label changes. With consistent seeds (every seed is the id
    * of some node in the same component, and seed(v) <= v) the fixpoint
    * is the component's minimum node id — the same answer a
    * transitive-closure formulation reaches, which is how the DuckDB
    * recursive-CTE oracle states it (q48).
    *
    * Scale posture: the fixpoint's shuffles are sized to the EDGE
    * COUNT, not the session default — a few-hundred-edge graph runs
    * single-task rounds while a 10⁹-edge graph still spreads. Edges are
    * pre-hash-partitioned on src and labels on id with the same
    * partition count, so the per-round join needs no exchange; the only
    * per-round shuffle is the neighbor-min groupBy. Rounds needed =
    * cross-bucket graph diameter (near-dup clusters are shallow);
    * `maxIter` bounds pathological chains, and convergence is checked
    * per round so typical inputs stop early. */
  private def propagateMinLabels(edges0: DataFrame, seeds: DataFrame,
                                 maxIter: Int): DataFrame = {
    val spark = edges0.sparkSession
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val edgesAll = edges0.persist(lvl)
    val nEdges = edgesAll.count()
    val defPart = spark.sessionState.conf.numShufflePartitions
    val nPart = math.max(1L, math.min(defPart.toLong, nEdges / 500000 + 1)).toInt
    val edges = edgesAll.repartition(nPart, col("src")).persist(lvl)
    var persisted = seeds.repartition(nPart, col("id")).persist(lvl)
    var labels = persisted
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // one round = one action: the neighbor-min left join carries the
      // old label alongside the new one, so materializing `next` (via
      // persist) and testing convergence is a single aggregate pass —
      // no second join-and-count job per round
      val nbMin = labels
        .join(edges, labels("id") === edges("src"))
        .repartition(nPart, col("dst"))
        .groupBy(col("dst").as("id")).agg(min(col("component")).as("nb_min"))
      val next = labels.withColumnRenamed("component", "old")
        .join(nbMin, Seq("id"), "left")
        .select(col("id"),
          least(col("old"), coalesce(col("nb_min"), col("old"))).as("component"),
          col("old"))
        .persist(lvl)
      // coalesce: max over an EMPTY frame (no edges at all) is null
      val changed = next
        .agg(coalesce(max((col("component") =!= col("old")).cast("int")), lit(0)).as("c"))
        .head().getInt(0)
      persisted.unpersist()
      persisted = next
      labels = next.select(col("id"), col("component"))
      converged = changed == 0
      iter += 1
    }
    edges.unpersist()
    edgesAll.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter rounds — " +
          "component diameter exceeds maxIter; raise it and re-run " +
          "(silently returning partial labels would split clusters)")
    // cut lineage off the session-lifetime cache: the checkpointed
    // result lives only as long as the returned frame's RDD, so the
    // per-round persists can be released now
    val result = labels.localCheckpoint(true)
    persisted.unpersist()
    result
  }

  /** Exact substring (repeated-span) dedup — the Lee et al.
    * "Deduplicating Training Data" operator family, in its scalable
    * Spark shape: hashed k-token windows instead of suffix arrays.
    *
    *  1. Every document emits one row per k-token window:
    *     (md5(window), doc_id, start). Linear fan-out — n_tokens rows
    *     per doc, same shape as [[explodedShingles]].
    *  2. A window hash is a CROSS-DOCUMENT repeated span iff it occurs
    *     in ≥2 distinct docs — detected with min(doc_id) ≠ max(doc_id),
    *     a bounded-state aggregate that never buffers the occurrence
    *     list, so boilerplate spans repeated millions of times cost the
    *     same as a pair (no countDistinct, no hot-key blowup).
    *  3. Each doc's duplicated window starts join back (hash-keyed semi
    *     shape) and every token covered by any such window is stripped;
    *     uncovered tokens reassemble in order, like
    *     [[TextStats.stripBoilerplate]] does for lines.
    *
    * The coverage filter is O(n_tokens × n_dup_windows) per row in the
    * worst case (a fully-duplicated doc); both factors are bounded by
    * the doc length, and the common case (few duplicated spans) is
    * near-linear. Docs shorter than k tokens emit no windows and pass
    * through untouched.
    *
    * Returns (idCol, n_tokens, n_dup_windows, clean_text). */
  /** (idCol, start, wh) — one row per k-token window with its packed
    * 64-bit rolling hash (the [[graft.functions.TokenWindowHashes]]
    * expression: tokens md5'd once each, windows rolled in O(1), an
    * 8-byte long shuffle key); docs shorter than k emit nothing.
    * Linear fan-out (n_tokens rows per doc), map-side only. The shared
    * front end of [[dedupSpans]] and [[contaminationHits]]. Downstream
    * consumers use `wh` only as an equality key, so the hash choice is
    * invisible in their output (the DuckDB oracles keep the per-window
    * md5 formulation and still hash-match end to end). */
  def windowHashes(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame =
    // NO Par.spread here: dedupSpans persists this frame, and an
    // exchange inside the cached subtree costs more than the explode
    // front-end saves (r16 driver: q68 ×0.62) while also burying the
    // outer plan's partial-agg contract under a nested adaptive plan
    df.select(col(idCol), TextStats.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col(idCol),
        posexplode(graft.functions.TextFunctions.tokenWindowHashes(col("toks"), k))
          .as(Seq("start", "wh")))

  /** Built-in-only formulation of [[windowHashes]] (reference
    * semantics for the rolling-hash expression; bit-parity asserted in
    * ExtSpec): per-token 32-bit values materialize once per row, then
    * each window folds its k values through the same two mod-prime
    * Horner recurrences and packs the residues. O(n·k) arithmetic (no
    * roll), O(n) md5s. */
  def windowHashesHof(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    val (p1, b1) = (lit(2147483647L), lit(1000003L))
    val (p2, b2) = (lit(2147483629L), lit(999983L))
    val rolled = transform(sequence(lit(0), size(col("vs")) - k), i =>
      aggregate(slice(col("vs"), i + 1, lit(k)),
        array(lit(0L), lit(0L)),
        (acc, v) => array(
          (element_at(acc, 1) * b1 + v % p1) % p1,
          (element_at(acc, 2) * b2 + v % p2) % p2),
        acc => shiftleft(element_at(acc, 1), 31).bitwiseOR(element_at(acc, 2))))
    // "vs" is multiply-referenced (every window slices it) — it must
    // stay a materialized projection (see shinglesFromTokens' hazard
    // note)
    df.select(col(idCol), TextStats.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col(idCol), transform(col("toks"),
        t => conv(substring(md5(coalesce(t, lit(""))), 1, 8), 16, 10).cast("long")).as("vs"))
      .select(col(idCol), posexplode(rolled).as(Seq("start", "wh")))
  }

  def dedupSpans(df: DataFrame, textCol: String, idCol: String, k: Int = 8): DataFrame = {
    val toked = df.select(col(idCol), TextStats.tokens(col(textCol)).as("toks"))
    // Cross-doc detection is groupBy(wh) → join-back, NOT a window
    // over wh: a globally-repeated window hash — boilerplate, the
    // operator's exact target — would put its whole occurrence list on
    // ONE WindowExec task (spill-backed but serial, and AQE cannot
    // split window partitions). The aggregate formulation gets
    // map-side partial aggregation, so the hot key reaches its reducer
    // as one row per map task, and the join-back probe side is
    // AQE-skew-splittable. The explode+md5 pipeline still runs exactly
    // once: `windows` is persisted (lineage kept — executor loss just
    // recomputes), because the `transform` lambda in the token-hash
    // front end defeats exchange-reuse canonicalization and an
    // unpersisted plan would re-explode per consumer. Nothing is ever
    // broadcast — the dup-hash set is sized by the data (every
    // cross-doc boilerplate window), the OOM path at 100 TB. The cache
    // entry stays registered after the action (Spark evicts LRU);
    // callers looping over many corpora can unpersist via the catalog.
    val windows = windowHashes(df, textCol, idCol, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dupHashes = windows
      .groupBy(col("wh"))
      .agg(min(col(idCol)).as("mn"), max(col(idCol)).as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select(col("wh"))
    val dupStarts = windows
      .join(dupHashes, Seq("wh"))
      .groupBy(col(idCol))
      .agg(collect_list(col("start")).as("starts"))
    toked
      .join(dupStarts, Seq(idCol), "left")
      .select(col(idCol), col("toks"),
        coalesce(col("starts"), array().cast("array<int>")).as("st"))
      .select(
        col(idCol),
        size(col("toks")).as("n_tokens"),
        size(col("st")).as("n_dup_windows"),
        array_join(filter(col("toks"),
          (x, i) => !exists(col("st"), s => s <= i && i < s + k)), " ")
          .as("clean_text"))
  }

  /** Benchmark decontamination — the pretraining-hygiene counterpart
    * of [[dedupSpans]]: flag corpus documents that share k-token
    * windows with an EVALUATION set, so test data can be removed from
    * the training mix before it leaks into the model. Asymmetric by
    * design: the benchmark side is small (an eval suite, not a second
    * corpus), so its distinct window hashes are `broadcast` — the
    * corpus-side explode stays map-side and nothing shuffles except
    * the per-doc hit counts. Returns (idCol, n_hit_windows), one row
    * per contaminated doc — n_hit_windows counts DISTINCT shared
    * window hashes. */
  def contaminationHits(corpus: DataFrame, benchmark: DataFrame,
                        textCol: String, idCol: String, k: Int = 8): DataFrame = {
    val bw = windowHashes(benchmark, textCol, idCol, k).select(col("wh")).distinct()
    windowHashes(corpus, textCol, idCol, k)
      .select(col(idCol), col("wh")).distinct()
      .join(broadcast(bw), Seq("wh"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hit_windows"))
  }

  /** Per-document NOVELTY vs a historical corpus — the dedup-aware
    * sampling signal (the D4/SemDeDup-era recipe scores how much of a
    * document is already in the training set and down-weights the
    * stale ones): for each batch document, the fraction of its
    * distinct k-token windows NOT present in the history.
    *
    * Unlike [[contaminationHits]] (eval side small by definition →
    * broadcast), the history here is corpus-sized, so the membership
    * probe is a shuffle join on the 8-byte window hash — partial-agg
    * distinct on both sides first, AQE broadcasts if the history turns
    * out small. Documents shorter than k tokens have no windows and
    * are absent (same contract as the span ops). Exact integer
    * counts; one rounded ratio. */
  def noveltyStats(batch: DataFrame, history: DataFrame,
                   textCol: String, idCol: String, k: Int = 8): DataFrame = {
    val hw = windowHashes(history, textCol, idCol, k).select(col("wh")).distinct()
    windowHashes(batch, textCol, idCol, k)
      .select(col(idCol), col("wh")).distinct()
      .join(hw.withColumn("__seen", lit(1)), Seq("wh"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("__seen"), lit(0))).cast("long").as("n_seen"))
      .select(col(idCol), col("n_windows"), col("n_seen"),
        round((col("n_windows") - col("n_seen")).cast("double") / col("n_windows"), 6)
          .as("novelty"))
  }

  /** The removal form of [[contaminationHits]]: corpus rows whose
    * distinct shared-window count is below `minHits` (anti-join on the
    * hit list — clean docs stream through untouched). */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    textCol: String, idCol: String,
                    k: Int = 8, minHits: Int = 1): DataFrame = {
    val hits = contaminationHits(corpus, benchmark, textCol, idCol, k)
      .filter(col("n_hit_windows") >= minHits)
      .select(col(idCol))
    corpus.join(hits, Seq(idCol), "left_anti")
  }

  /** Incremental exact dedup — the recurring-crawl shape: keep only
    * NEW documents whose normalized fingerprint is unique within the
    * batch (min id wins) and unseen in the historical store. History
    * is a fingerprint-only table (one md5 per ever-ingested document),
    * so each increment costs one batch groupBy + one anti-join on the
    * fingerprint — the full historical TEXT is never rescanned. */
  def incrementalNew(newDocs: DataFrame, textCol: String, idCol: String,
                     seenFps: DataFrame): DataFrame = {
    val winners = newDocs
      .groupBy(TextStats.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as(idCol))
    winners.join(seenFps.select(col("fp")), Seq("fp"), "left_anti")
  }

  /** [[incrementalNew]] with a Bloom gate on the historical store scan
    * — the runtime-filter shape for dedup-vs-history at 100 TB, where
    * the store dwarfs the batch and a plain anti-join would shuffle
    * the ENTIRE store on `fp` just to discard almost all of it.
    *
    * The filter is built over the batch's distinct fingerprints
    * (small by definition) via `stat.bloomFilter` — one bounded sketch
    * to the driver (~1.2 MB at 1 M items / 3% fpp; the same
    * bounded-sketch-collect pattern as MLlib's k-means centroids) —
    * and applied to the store scan through Spark's own codegen'd
    * [[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]]
    * over `xxhash64(fp)` (the exact mechanism of Spark's injected
    * runtime bloom filters, constructed explicitly because the
    * optimizer only injects them under shuffle-join heuristics it
    * can't see through a `left_anti` against a pre-aggregated batch).
    *
    * Store rows surviving the gate ≈ true matches + fpp·|store|, so
    * pick `fpp` ≲ k/|store| for a constant-size survivor set; AQE then
    * broadcasts the gated side into the anti-join. No false negatives
    * (Bloom guarantee) ⇒ output is row-identical to [[incrementalNew]]
    * (asserted differentially in ExtSpec; q84 shares q60's oracle). */
  def incrementalNewBloom(newDocs: DataFrame, textCol: String, idCol: String,
                          seenFps: DataFrame,
                          expectedItems: Long = 1L << 20,
                          fpp: Double = 0.03): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftshim.ColumnShim
    val winners = newDocs
      .groupBy(TextStats.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as(idCol))
    val bloom = winners.select(xxhash64(col("fp")).as("h"))
      .stat.bloomFilter("h", expectedItems, fpp)
    val ser = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos); bos.toByteArray
    }
    val gate = ColumnShim.column(BloomFilterMightContain(
      Literal.create(ser, org.apache.spark.sql.types.BinaryType),
      ColumnShim.expression(xxhash64(col("fp")))))
    val gatedSeen = seenFps.select(col("fp")).filter(gate)
    winners.join(gatedSeen, Seq("fp"), "left_anti")
  }

  /** 32-bit SimHash over whitespace tokens: per token take the first 8
    * hex chars of md5 as a 32-bit value; each fingerprint bit is the
    * sign of the per-bit vote sum (+1 if set, −1 if not) across tokens.
    * Returns (idCol, simhash: long). */
  def simhash(df: DataFrame, textCol: String, idCol: String, bits: Int = 32): DataFrame = {
    val toked = Par.spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(TextStats.tokens(col(textCol))).as("tok"))
      .withColumn("h", conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"))
    val votes = (0 until bits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$b")
    }
    val voted = toked.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
    val fp = (0 until bits).map { b =>
      when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    voted.select(col(idCol), fp.as("simhash"))
  }

  /** Exact n-gram Jaccard similarity for given candidate pairs
    * (pairs: id_a, id_b): |shingles∩| / |shingles∪| on distinct
    * shingle sets. */
  def ngramJaccard(docs: DataFrame, pairs: DataFrame, textCol: String, idCol: String,
                   w: Int = 3): DataFrame = {
    val sh = docs
      .select(col(idCol).as("jid"), TextStats.tokens(col(textCol)).as("toks"))
      .select(col("jid"), array_distinct(shinglesFromTokens(col("toks"), w)).as("sh"))
    pairs
      .join(sh.select(col("jid").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("jid").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))), 6).as("jaccard"))
  }
}
