package graft.ext
import graft.core.PlanCapture.CheckpointOps

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an `array<float>` embedding column.
  *
  * All vector math folds left-to-right in DOUBLE via higher-order
  * functions, which makes results bit-identical to the DuckDB oracle's
  * `list_reduce` fold — so cosine scores (and therefore top-k order)
  * verify exactly, not approximately.
  *
  * Scale design: the brute-force path broadcasts the (small) query set
  * against the full corpus — one narrow scan, no shuffle of the corpus.
  * The LSH path buckets vectors by hyperplane sign patterns so the
  * candidate join is hash-partitioned on bucket id; at 100 TB the
  * bucket table is what you'd persist (bucketed by `bucket`) and probe.
  * Distributed top-k-with-pruning designs (PAPERS.md: REPOSE ICDE'21,
  * incremental top-k EDBT'20) are the published background for the
  * partial-topk-before-shuffle shape used by [[bruteForceTopKAgg]].
  */
object Similarity {

  /** Sequential-fold dot product of two float-array columns, in double.
    * Backed by the codegen'd [[graft.functions.DotProductD]] expression;
    * [[dotColHof]] is the pure-built-in higher-order-function twin with
    * identical results (and ~60x the cost — kept for comparison tests).
    */
  def dotCol(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dotD(a, b)

  def normCol(a: Column): Column =
    graft.functions.VectorExpressions.normD(a)

  /** HOF reference implementation of [[dotCol]] (same IEEE fold). */
  def dotColHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** DuckDB twin of [[dotCol]] (same fold order => same bits). */
  def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(range(len($a)), i -> CAST($a[i+1] AS DOUBLE) * CAST($b[i+1] AS DOUBLE))), " +
      "(acc, v) -> acc + v)"

  def normSql(a: String): String = s"sqrt(${dotSql(a, a)})"

  private def side(embs: DataFrame, prefix: String): DataFrame =
    // spread: norms + downstream pair math are CPU-bound and the
    // fixture scan is a single input split
    graft.core.Tables.spread(embs).select(col("vec_id").as(s"${prefix}_id"),
      col("embedding").as(s"${prefix}_emb"),
      normCol(col("embedding")).as(s"${prefix}_norm"))

  /** All pairs (a < b) with cosine >= threshold — embedding near-dup
    * detection. Quadratic by nature: meant for corpora already
    * bucketed/blocked; [[lshTopK]] is the scale path.
    */
  def cosineDupPairs(embs: DataFrame, threshold: Double): DataFrame = {
    val a = side(embs, "a"); val b = side(embs, "b")
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("cosine",
        dotCol(col("a_emb"), col("b_emb")) / (col("a_norm") * col("b_norm")))
      .filter(col("cosine") >= threshold)
      .select(col("a_id").as("vec_a"), col("b_id").as("vec_b"), col("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Embedding near-dup pairs restricted to LSH bucket collisions:
    * candidates come from an equi-join on [[lshBuckets]] bucket id
    * (hash-partitioned shuffle join — no nested-loop anywhere), each
    * verified with the exact codegen'd cosine. This is the pair-
    * detection shape that survives 100 TB; [[cosineDupPairs]] remains
    * the exact all-pairs baseline for pre-blocked corpora. Recall is
    * governed by nPlanes exactly as in [[lshTopK]].
    */
  def lshCosineDupPairs(embs: DataFrame, nPlanes: Int, threshold: Double,
                        maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    // hyperplanes are corpus rows, so an empty corpus has no bucketing
    // to do (and no pairs to find) — degrade to empty, don't throw
    if (embs.isEmpty)
      return embs.sparkSession.emptyDataFrame
        .select(lit(0L).as("vec_a"), lit(0L).as("vec_b"),
          lit(0L).as("bucket"), lit(0.0).as("cosine"))
        .limit(0)
    // near-constant embedding clusters collapse into one bucket — cap
    // it before the self-join (HotBuckets). The cap can't trigger when
    // the whole corpus fits one bucket's budget (cheap count decides);
    // when active, checkpoint because the count agg and both join
    // sides reference the bucket table
    val rawBuckets = lshBuckets(embs, nPlanes)
    val buckets =
      if (maxBucket == Int.MaxValue || embs.count() <= maxBucket) rawBuckets
      else HotBuckets.prune(rawBuckets.cpGuard(), Seq("bucket"), maxBucket)
    val a = side(embs, "a")
      .join(buckets.select(col("vec_id").as("a_id"), col("bucket")), "a_id")
    val b = side(embs, "b")
      .join(buckets.select(col("vec_id").as("b_id"), col("bucket").as("b_bucket")), "b_id")
    a.join(b, col("bucket") === col("b_bucket") && col("a_id") < col("b_id"))
      .withColumn("cosine",
        dotCol(col("a_emb"), col("b_emb")) / (col("a_norm") * col("b_norm")))
      .filter(col("cosine") >= threshold)
      .select(col("a_id").as("vec_a"), col("b_id").as("vec_b"),
        col("bucket"), col("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Incremental embedding near-dup: NEW vectors vs an EXISTING corpus
    * only — the dense twin of [[Dedup.minhashDupAgainst]] /
    * [[Dedup.containmentDupAsymAgainst]], for deduping a fresh batch
    * against the indexed corpus without re-pairing the corpus with
    * itself. Hyperplanes are the corpus's lowest-nPlanes vec_ids,
    * collected once (bounded — the centroid contract) and inlined as
    * LITERAL float arrays, so bucketing either side is one codegen'd
    * map pass with no join; at cluster scale the corpus bucket table is
    * what you'd persist (bucketed by `bucket`, the
    * [[graft.streaming.BatchState]] shape) and
    * only the O(batch) side buckets per probe. Candidates come from the
    * bucket equi-join (never new x corpus), hot buckets capped on both
    * sides, each verified with the exact codegen'd cosine. vec_ids must
    * be disjoint across the inputs.
    *
    * Output: (vec_a = new id, vec_b = corpus id, bucket, cosine).
    */
  def lshCosineDupAgainst(corpus: DataFrame, newVecs: DataFrame, nPlanes: Int,
                          threshold: Double,
                          maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    require(nPlanes > 0 && nPlanes <= 62, "nPlanes in [1, 62]")
    val planes: Seq[Array[Float]] = corpus
      .select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(nPlanes) // TakeOrdered: bounded collect
      .collect().map(_.getSeq[Float](1).toArray).toSeq
    require(planes.nonEmpty, "empty corpus: no hyperplanes to bucket by")
    val cb = HotBuckets.prune(
      side(corpus, "b")
        .withColumn("bucket", hyperplaneBucket(col("b_emb"), planes))
        .cpGuard(),
      Seq("bucket"), maxBucket)
    val nb = HotBuckets.prune(
      side(newVecs, "a")
        .withColumn("bucket", hyperplaneBucket(col("a_emb"), planes))
        .cpGuard(),
      Seq("bucket"), maxBucket)
    nb.join(cb, "bucket")
      .withColumn("cosine",
        dotCol(col("a_emb"), col("b_emb")) / (col("a_norm") * col("b_norm")))
      .filter(col("cosine") >= threshold)
      .select(col("a_id").as("vec_a"), col("b_id").as("vec_b"),
        col("bucket"), col("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Sign-pattern bucket id from FIXED hyperplanes supplied as driver
    * values (bounded — nPlanes float arrays): bit j set iff
    * dot(v, plane_j) > 0. The planes inline as literal float arrays so
    * the whole bucket id is one codegen'd map expression — no join, no
    * shuffle; [[graft.streaming.StreamSimilarity]] uses this with
    * planes persisted at stream birth so every micro-batch buckets
    * identically.
    */
  def hyperplaneBucket(emb: Column, planes: Seq[Array[Float]]): Column = {
    require(planes.nonEmpty && planes.size <= 62, "1 to 62 planes")
    // one codegen'd loop over a referenced float[][] — not nPlanes
    // literal-array dot nodes (plan stays constant-size in nPlanes)
    graft.functions.VectorExpressions.hyperplaneBucket(
      emb, planes.map(_.toSeq))
  }

  /** Late-interaction retrieval (ColBERT MaxSim — Khattab & Zaharia,
    * SIGIR'20): docs are SETS of token vectors (here vec_id div
    * tokensPerDoc groups the flat embedding table), and a query doc
    * scores a target doc as sum over query tokens of the MAX cosine
    * against any target token — the fine-grained relevance that a
    * single pooled vector flattens away. The per-token maxes are exact
    * doubles (shared fold-order dot product); the outer sum is 2^40
    * fixed point so its value is independent of aggregation order —
    * the hash-exactness discipline for any cross-partition double sum.
    *
    * Shape: the bounded query token set broadcasts against the target
    * scan (the s01 contract); groupBy((q,t,token)).max then
    * groupBy((q,t)).sum are key-partitioned; top-k is a per-query
    * partitioned window. At corpus scale the target side would first
    * pass through an IVF/LSH candidate stage exactly like s06/s12.
    *
    * Output: (query_doc, target_doc, maxsim_fp, rn <= k).
    */
  def lateInteractionTopK(embs: DataFrame, tokensPerDoc: Int,
                          nQueries: Int, k: Int): DataFrame = {
    require(tokensPerDoc >= 1 && nQueries >= 1 && k >= 1,
      "tokensPerDoc, nQueries, k >= 1")
    val toks = graft.core.Tables.spread(embs)
      .select(expr(s"vec_id div $tokensPerDoc").as("doc"),
        expr(s"vec_id % $tokensPerDoc").as("tok"),
        col("embedding"), normCol(col("embedding")).as("nrm"))
      .cpGuard()
    val q = toks.filter(col("doc") < nQueries)
      .select(col("doc").as("qd"), col("tok").as("qtok"),
        col("embedding").as("qe"), col("nrm").as("qn"))
    val scored = broadcast(q)
      .join(toks.select(col("doc").as("td"), col("embedding").as("te"),
        col("nrm").as("tn")), col("qd") =!= col("td"))
      .withColumn("cos", dotCol(col("qe"), col("te")) / (col("qn") * col("tn")))
      .groupBy(col("qd"), col("td"), col("qtok"))
      .agg(max(col("cos")).as("mc"))
      .groupBy(col("qd"), col("td"))
      .agg(sum(floor(col("mc") * (1L << 40)).cast("long")).as("maxsim_fp"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qd")).orderBy(col("maxsim_fp").desc, col("td"))
    scored.withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= k)
      .select(col("qd").as("query_doc"), col("td").as("target_doc"),
        col("maxsim_fp"), col("rn"))
      .orderBy(col("query_doc"), col("rn"))
  }

  /** Embedding distribution DRIFT between two corpus snapshots — the
    * dataset-shift monitor a training pipeline runs before trusting a
    * refreshed embedding corpus: per-dimension mean movement, computed
    * entirely in exact integer fixed point (floor(x * 2^20) per
    * element, integer sums — float sums would be partition-order-
    * dependent; these are not), with the only doubles the final
    * per-dimension single divisions (exact integer inputs, fixed
    * operation order — bit-portable). Shape: one posexplode + one
    * 64-group aggregation per side; partial (map-side) aggregation
    * means the exchange carries dims x partitions rows, never the
    * corpus.
    *
    * Output per dim: (dim, n_a, n_b, sum_fp_a, sum_fp_b, mean_delta).
    */
  def embeddingDrift(embsA: DataFrame, embsB: DataFrame,
                     scale: Long = 1L << 20): DataFrame = {
    def dimSums(df: DataFrame, n: String, s: String): DataFrame =
      graft.core.Tables.spread(df)
        .select(posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("dim"))
        .agg(count(lit(1)).as(n),
          sum(floor(col("x").cast("double") * scale).cast("long")).as(s))
    dimSums(embsA, "n_a", "sum_fp_a")
      .join(dimSums(embsB, "n_b", "sum_fp_b"), Seq("dim"))
      .select(col("dim"), col("n_a"), col("n_b"),
        col("sum_fp_a"), col("sum_fp_b"),
        (col("sum_fp_a").cast("double") / col("n_a") / scale -
          col("sum_fp_b").cast("double") / col("n_b") / scale)
          .as("mean_delta"))
      .orderBy(col("dim"))
  }

  /** DBSCAN-style density clustering (Ester et al., KDD'96) on the
    * cosine-similarity graph: neighbor = cosine >= threshold, a vector
    * is CORE when it has >= minPts neighbors (self excluded), clusters
    * are connected components of the core-core neighbor graph
    * ([[Dedup.dupClustersTwoPhase]] — the O(log n)-round CC), BORDER
    * vectors attach to the smallest cluster id among their core
    * neighbors (deterministic tie-break), the rest is NOISE.
    *
    * Composition is the point: pair generation is the exact all-pairs
    * baseline ([[cosineDupPairs]] — the pre-blocked-corpus contract);
    * at 100 TB swap in [[lshCosineDupPairs]]/[[bandedCosineDupPairs]]
    * candidates and everything downstream (degree count, CC, border
    * attach) is already key-partitioned groupBys and equi-joins.
    *
    * Output: (vec_id, role core|border|noise, cluster nullable) for
    * every input vector.
    */
  def dbscanLite(embs: DataFrame, threshold: Double, minPts: Int): DataFrame =
    dbscanFromPairs(embs,
      cosineDupPairs(embs, threshold).select(col("vec_a"), col("vec_b")),
      minPts)

  /** [[dbscanLite]] with LSH-collision candidate pairs
    * ([[lshCosineDupPairs]] — bucket equi-join, no nested-loop
    * anywhere) instead of the exact all-pairs baseline: the DBSCAN
    * shape that survives 100 TB. Same downstream density/CC/border
    * machinery; neighbor recall (and therefore core status and cluster
    * granularity) is governed by nPlanes exactly as in [[lshTopK]] —
    * the oracle models the bucketing, so the clustering-over-candidates
    * semantics are value-checked, not approximated.
    */
  def dbscanLsh(embs: DataFrame, nPlanes: Int, threshold: Double,
                minPts: Int,
                maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame =
    dbscanFromPairs(embs,
      lshCosineDupPairs(embs, nPlanes, threshold, maxBucket)
        .select(col("vec_a"), col("vec_b")),
      minPts)

  private def dbscanFromPairs(embs: DataFrame, pairs0: DataFrame,
                              minPts: Int): DataFrame = {
    require(minPts >= 1, "minPts >= 1")
    val pairs = pairs0.cpGuard()
    val sym = pairs.union(pairs.select(col("vec_b"), col("vec_a")))
      .toDF("va", "vb")
    val core = sym.groupBy(col("va")).agg(count(lit(1)).as("n_nbrs"))
      .filter(col("n_nbrs") >= minPts)
      .select(col("va").as("vec_id")).cpGuard()
    val coreEdges = sym
      .join(core.select(col("vec_id").as("va")), Seq("va"))
      .join(core.select(col("vec_id").as("vb")), Seq("vb"))
      .filter(col("va") < col("vb"))
      .select(col("va").as("doc_a"), col("vb").as("doc_b"))
    // CC labels cover every core on a core-core edge; a core whose
    // neighbors are all non-core is a legitimate one-core cluster and
    // keeps its own id via the coalesce
    val coreLab = core
      .join(Dedup.dupClustersTwoPhase(coreEdges)
        .withColumnRenamed("doc_id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("rep_id"), col("vec_id")).as("cluster"))
      .cpGuard()
    val borderLab = sym
      .join(core.select(col("vec_id").as("va")), Seq("va"), "left_anti")
      .join(coreLab.select(col("vec_id").as("vb"), col("cluster")), Seq("vb"))
      .groupBy(col("va")).agg(min(col("cluster")).as("cluster"))
      .select(col("va").as("vec_id"), col("cluster"))
    embs.select(col("vec_id"))
      .join(coreLab.select(col("vec_id"), col("cluster").as("c_core")),
        Seq("vec_id"), "left")
      .join(borderLab.select(col("vec_id"), col("cluster").as("c_border")),
        Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("c_core").isNotNull, "core")
          .when(col("c_border").isNotNull, "border")
          .otherwise("noise").as("role"),
        coalesce(col("c_core"), col("c_border")).as("cluster"))
      .orderBy(col("vec_id"))
  }

  /** Banded multi-table cosine LSH near-dup pairs — the full 100 TB
    * shape. [[lshCosineDupPairs]] uses ONE hash table over all planes:
    * recall falls geometrically as nPlanes grows and parallelism is
    * capped at 2^nPlanes buckets. Here the hyperplane signs are split
    * into nBands independent tables of rowsPerBand planes each (the
    * minhash Bands x Rows structure, [[Dedup.minhashDup]]): a pair is a
    * candidate if it collides in ANY band, so at equal total planes the
    * candidate set is a strict superset of the single-table one (one
    * band matching is implied by all planes matching) — recall can only
    * go up, while each band join stays a plain equi-join on
    * (band, bucket). Candidates are then verified with the exact
    * codegen'd cosine via key-partitioned shuffle-hash joins; nothing
    * corpus-sized is broadcast and there is no nested loop.
    */
  def bandedCosineDupPairs(embs: DataFrame, nBands: Int, rowsPerBand: Int,
                           threshold: Double,
                           maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    val nPlanes = nBands * rowsPerBand
    val parts = embs.sparkSession.sessionState.conf.numShufflePartitions
    val planeVecs = lowestVecs(embs, nPlanes)
    require(planeVecs.size == nPlanes,
      s"corpus has fewer than $nPlanes vectors to serve as hyperplanes")
    // per-(vector, band) bucket id from that band's slice of the
    // LITERAL planes: a pure map + explode — no plane join and no
    // corpus-wide re-aggregation (the former crossJoin + groupBy
    // shuffle is gone). Materialized once — the candidate self-join
    // references it on both sides. Hot (band, bucket) cells capped
    // before the self-join (HotBuckets).
    val bandCols = (0 until nBands).map { b =>
      struct(lit(b).as("band"),
        hyperplaneBucket(col("embedding"),
          planeVecs.slice(b * rowsPerBand, (b + 1) * rowsPerBand)).as("bucket"))
    }
    val bandBuckets = HotBuckets.prune(
      graft.core.Tables.spread(embs)
        .select(col("vec_id"), explode(array(bandCols: _*)).as("e"))
        .select(col("vec_id"), col("e.band").as("band"),
          col("e.bucket").as("bucket"))
        .cpGuard(),
      Seq("band", "bucket"), maxBucket)
    // distinct candidate pairs: same bucket in at least one band
    val cand = bandBuckets.select(col("vec_id").as("a_id"), col("band"), col("bucket"))
      .join(bandBuckets.select(col("vec_id").as("b_id"),
          col("band").as("b_band"), col("bucket").as("b_bucket")),
        col("band") === col("b_band") && col("bucket") === col("b_bucket") &&
          col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
    val a = side(embs, "a"); val b = side(embs, "b")
    cand
      .join(a.hint("shuffle_hash"), "a_id")
      .join(b.hint("shuffle_hash"), "b_id")
      // pair table is tiny in bytes but CPU-heavy per row: keep the
      // exact-cosine stage wide (same AQE-coalesce reasoning as
      // Dedup.jaccardVerify)
      .repartition(parts, col("a_id"), col("b_id"))
      .withColumn("cosine",
        dotCol(col("a_emb"), col("b_emb")) / (col("a_norm") * col("b_norm")))
      .filter(col("cosine") >= threshold)
      .select(col("a_id").as("vec_a"), col("b_id").as("vec_b"), col("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Brute-force cosine top-k: queries (vec_id < nQueries) broadcast
    * against targets (vec_id >= nQueries); exact baseline for ANN.
    */
  def bruteForceTopK(embs: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val q = side(embs.filter(col("vec_id") < nQueries), "q")
    val t = side(embs.filter(col("vec_id") >= nQueries), "t")
    val scored = t.crossJoin(broadcast(q))
      .withColumn("cosine",
        dotCol(col("q_emb"), col("t_emb")) / (col("q_norm") * col("t_norm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("t_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id").as("query_id"), col("t_id").as("neighbor_id"),
        col("cosine"), col("rn"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** Rocchio pseudo-relevance-feedback query expansion (Rocchio 1971;
    * the classic PRF loop dense retrieval stacks still run): take each
    * query's exact cosine top-`k`, form the expanded query
    * q' = alpha*q + (beta/k) * sum(top-k neighbor vectors), and
    * re-rank the SAME target set under q'. Output: the second-round
    * top-k per query. alpha = beta = 0.5 (dyadic, exact literals).
    *
    * Determinism: the feedback centroid folds neighbor vectors in
    * RANK order from a zero vector (ordered collect + elementwise
    * zip_with fold — the DotProductD discipline lifted to vectors), so
    * both engines run the identical IEEE sequence; q'-side dot/norm
    * use the same HOF fold.
    *
    * Scale: round 1 is the brute baseline (swap in the IVF/LSH path
    * for production); the expansion itself is one k-row-per-query
    * ordered fold — O(q*k*dim) — and round 2 re-uses whatever index
    * serves round 1. Feedback state per query is k vectors, bounded.
    */
  def rocchioExpand(embs: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val q = side(embs.filter(col("vec_id") < nQueries), "q")
    val t = side(embs.filter(col("vec_id") >= nQueries), "t").cpGuard()
    val cos1 = dotCol(col("q_emb"), col("t_emb")) /
      (col("q_norm") * col("t_norm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("t_id"))
    val r1 = t.crossJoin(broadcast(q))
      .withColumn("cosine", cos1)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
    val toD = (a: Column) => transform(a, x => x.cast("double"))
    val fb = r1.groupBy(col("q_id"))
      .agg(
        first(col("q_emb")).as("q_emb"),
        array_sort(collect_list(struct(col("rn"), col("t_emb"))))
          .as("seq"))
      .withColumn("fsum",
        aggregate(col("seq"),
          array_repeat(lit(0.0), size(col("q_emb"))),
          (acc, x) => zip_with(acc, toD(x.getField("t_emb")),
            (a, b) => a + b)))
      .withColumn("q_exp",
        zip_with(toD(col("q_emb")), col("fsum"),
          (a, b) => a * lit(0.5) + (b * lit(0.5)) / lit(k.toDouble)))
      .withColumn("qx_norm",
        sqrt(aggregate(zip_with(col("q_exp"), col("q_exp"),
          (a, b) => a * b), lit(0.0), (acc, v) => acc + v)))
      .select(col("q_id"), col("q_exp"), col("qx_norm"))
    val cos2 = aggregate(
      zip_with(col("q_exp"), col("t_emb"),
        (a, b) => a * b.cast("double")),
      lit(0.0), (acc, v) => acc + v) / (col("qx_norm") * col("t_norm"))
    val w2 = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine2").desc, col("t_id"))
    t.crossJoin(broadcast(fb))
      .withColumn("cosine2", cos2)
      .withColumn("rn", row_number().over(w2))
      .filter(col("rn") <= k)
      .select(col("q_id").as("query_id"), col("t_id").as("neighbor_id"),
        col("cosine2"), col("rn"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** Exact squared-L2 top-k — the metric-matched baseline for the
    * IVF-PQ family (which approximates L2, not cosine): queries are
    * vec_id < nQueries, targets the rest, neighbors ranked by
    * (dist2 asc, t_id). dist2 is the portable left-fold
    * sum((q_i - t_i)^2) over double-cast components, so it verifies
    * bit-for-bit cross-engine. Same broadcast-query-set shape (and
    * the same declared-baseline O(q x t) cost) as [[bruteForceTopK]].
    */
  def bruteForceL2TopK(embs: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val ev = embs.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val q = ev.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    val t = ev.filter(col("vec_id") >= nQueries)
      .select(col("vec_id").as("t_id"), col("v").as("t_v"))
    val d2 = aggregate(
      zip_with(col("q_v"), col("t_v"), (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, e) => acc + e)
    val scored = t.crossJoin(broadcast(q)).withColumn("dist2", d2)
    val w = Window.partitionBy(col("q_id")).orderBy(col("dist2"), col("t_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id").as("query_id"), col("t_id").as("neighbor_id"),
        col("dist2"), col("rn"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** Pre-filtered vector search: top-k cosine where targets must ALSO
    * satisfy a metadata predicate, passed as the allowed-id set
    * (semi-joined BEFORE any distance math — the "filtered ANN"
    * production semantic: the filter composes with the index scan, it
    * is not a post-filter that can starve k). The query side is never
    * filtered. At scale the semi-join is an id-to-id hash join on the
    * corpus's own key — with an IVF index the same semi-join applies to
    * the cell-probe candidate stream instead.
    */
  def filteredBruteTopK(embs: DataFrame, allowedIds: DataFrame,
                        nQueries: Int, k: Int): DataFrame = {
    val q = side(embs.filter(col("vec_id") < nQueries), "q")
    val t = side(embs.filter(col("vec_id") >= nQueries)
      .join(allowedIds.select(col("vec_id")), Seq("vec_id"), "left_semi"), "t")
    val scored = t.crossJoin(broadcast(q))
      .withColumn("cosine",
        dotCol(col("q_emb"), col("t_emb")) / (col("q_norm") * col("t_norm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("t_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id").as("query_id"), col("t_id").as("neighbor_id"),
        col("cosine"), col("rn"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** Brute-force top-k via the typed TopKAggregator instead of a
    * window: partial aggregation keeps only k candidates per query on
    * the map side, so the shuffle carries O(queries x k) rows — the
    * formulation that survives a 100x corpus scale-up. Output is
    * row-identical to [[bruteForceTopK]].
    */
  def bruteForceTopKAgg(embs: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val q = side(embs.filter(col("vec_id") < nQueries), "q")
    val t = side(embs.filter(col("vec_id") >= nQueries), "t")
    val topk = graft.functions.TopKAggregator.topK(k)
    t.crossJoin(broadcast(q))
      .withColumn("cosine",
        dotCol(col("q_emb"), col("t_emb")) / (col("q_norm") * col("t_norm")))
      .groupBy(col("q_id"))
      .agg(topk(col("t_id"), col("cosine")).as("nbrs"))
      .select(col("q_id").as("query_id"),
        posexplode(col("nbrs")).as(Seq("idx", "nb")))
      .select(col("query_id"), col("nb.id").as("neighbor_id"),
        col("nb.score").as("cosine"), (col("idx") + 1).cast("int").as("rn"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** Hard-negative mining for contrastive training (dense-retrieval /
    * embedding fine-tuning): for each query vector, the top-k most
    * similar corpus vectors whose class `label` DIFFERS from the
    * query's — the near-miss negatives that carry the training signal
    * random in-batch negatives lack (Karpukhin et al. 2020, DPR). The
    * label inequality lives in the join condition, so mismatched rows
    * are dropped BEFORE any distance math, and the map-side
    * TopKAggregator keeps the shuffle at O(queries x k) rows at any
    * corpus size ([[bruteForceTopKAgg]]'s scale shape). The negative's
    * own label re-attaches afterward by equi-joining the (queries x k)-
    * row result — broadcast side — against the corpus labels.
    */
  def hardNegatives(embs: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val q = graft.core.Tables.spread(embs.filter(col("vec_id") < nQueries))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        normCol(col("embedding")).as("q_norm"), col("label").as("q_label"))
    val t = graft.core.Tables.spread(embs.filter(col("vec_id") >= nQueries))
      .select(col("vec_id").as("t_id"), col("embedding").as("t_emb"),
        normCol(col("embedding")).as("t_norm"), col("label").as("t_label"))
    val topk = graft.functions.TopKAggregator.topK(k)
    val mined = t.join(broadcast(q), col("t_label") =!= col("q_label"))
      .withColumn("cosine",
        dotCol(col("q_emb"), col("t_emb")) / (col("q_norm") * col("t_norm")))
      .groupBy(col("q_id"), col("q_label"))
      .agg(topk(col("t_id"), col("cosine")).as("nbrs"))
      .select(col("q_id").as("query_id"), col("q_label"),
        posexplode(col("nbrs")).as(Seq("idx", "nb")))
      .select(col("query_id"), col("q_label"), col("nb.id").as("neighbor_id"),
        col("nb.score").as("cosine"), (col("idx") + 1).cast("int").as("rn"))
    val labels = embs.select(col("vec_id").as("neighbor_id"),
      col("label").as("neighbor_label"))
    broadcast(mined).join(labels, Seq("neighbor_id"))
      .select(col("query_id"), col("q_label"), col("neighbor_id"),
        col("neighbor_label"), col("cosine"), col("rn"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** Sign-pattern LSH bucket per vector: bucket = sum_j [dot(v, plane_j) > 0] << j.
    * The "planes" are the corpus's lowest-nPlanes vec_ids — an order
    * statistic, so ARBITRARY (non-contiguous, non-zero-based) id
    * spaces work — collected once (bounded) and inlined as literal
    * float arrays; a production build would use seeded Gaussian
    * planes. The whole bucket id is one codegen'd map expression: NO
    * join, NO shuffle of the corpus at all (the former
    * crossJoin + groupBy(vec_id) re-aggregation is gone).
    */
  def lshBuckets(embs: DataFrame, nPlanes: Int): DataFrame =
    embs.select(col("vec_id"),
      hyperplaneBucket(col("embedding"), lowestVecs(embs, nPlanes)).as("bucket"))

  /** The `n` embeddings with the smallest vec_ids (TakeOrdered —
    * bounded collect): the deterministic, oracle-sharable
    * plane/centroid selection that works for any id space.
    */
  private def lowestVecs(embs: DataFrame, n: Int): Seq[Array[Float]] =
    embs.select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(n)
      .collect().map(_.getSeq[Float](1).toArray).toSeq

  /** IVF (inverted-file) ANN top-k — the coarse-quantizer scale path
    * alongside [[lshTopK]]. Cell structure: nCentroids deterministic
    * centroids (the first nCentroids target vectors, same
    * oracle-sharable determinism as [[lshBuckets]]; production would
    * run a few Lloyd iterations on a sample). Build: every target joins
    * its nearest centroid — a broadcast of the (small) centroid set and
    * a map-side max_by per target, so the exchange carries one row per
    * target, never the N x C score table. Probe: each query searches
    * only its nProbe nearest cells via an equi-join on cell id —
    * hash-partitioned, skew-bounded by cell balance. Recall/cost is
    * tuned by (nCentroids, nProbe) exactly as in published IVF-flat
    * designs (Faiss-style); candidates are scored with the exact
    * codegen'd cosine.
    */
  def ivfTopK(embs: DataFrame, nCentroids: Int, nProbe: Int,
              nQueries: Int, k: Int,
              allowed: Option[DataFrame] = None): DataFrame = {
    val cents = ivfCents(embs, nCentroids, nQueries)
    val t = side(embs.filter(col("vec_id") >= nQueries), "t")
    // build: argmax-by-(cosine, then lowest c_id) per target, as a
    // partial-aggregating max_by — not a window over the score table
    val cells = t.crossJoin(broadcast(cents))
      .withColumn("c_cos",
        dotCol(col("t_emb"), col("c_emb")) / (col("t_norm") * col("c_norm")))
      .groupBy(col("t_id"))
      .agg(max_by(col("c_id"), struct(col("c_cos"), negate(col("c_id")))).as("cell"))
    // metadata pre-filter (filtered ANN): the allowed-id semi-join
    // prunes the CANDIDATE stream after cell assignment — the index is
    // built once over the full corpus, and any predicate composes with
    // the cell probe instead of post-filtering a starved top-k
    val assigned = allowed.foldLeft(t.join(cells, "t_id")) { (a, ids) =>
      a.join(ids.select(col("vec_id").as("t_id")), Seq("t_id"), "left_semi")
    }
    ivfScoreProbes(cents, assigned, embs, nProbe, nQueries, k)
  }

  /** Lowest-nCentroids TARGET ids (order statistic, arbitrary id
    * spaces) — the bounded set the IVF build/probe broadcasts.
    */
  private def ivfCents(embs: DataFrame, nCentroids: Int,
                       nQueries: Int): DataFrame =
    embs.filter(col("vec_id") >= nQueries)
      .orderBy(col("vec_id")).limit(nCentroids)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
        normCol(col("embedding")).as("c_norm"))

  /** k-means LLOYD refinement in exact fixed-point integers — the
    * "production would run a few Lloyd iterations" step the IVF
    * scaladocs ([[ivfTopK]]/s22) defer, delivered: embeddings quantize
    * at 2^10 (floor(x·1024), the pcaPower/silhouette exactness
    * discipline), centroids seed from the k lowest-vec_id vectors (the
    * [[ivfCents]] oracle-sharable determinism) and take `rounds` Lloyd
    * steps — assign each vector to the SQUARED-L2-nearest centroid
    * (ties to the lowest c_id), recompute each cell's centroid as the
    * per-dimension truncating-div mean (both engines truncate integer
    * division toward zero), empty cells keep their previous centroid.
    * Every quantity is an exact integer, so assignments — and the whole
    * trajectory — are bit-portable across engines.
    *
    * Scale shape per round: ONE broadcast of k·d centroid literals
    * against the corpus scan (distance via the codegen'd dot identity
    * ‖q−c‖² = ⟨q,q⟩ − 2⟨q,c⟩ + ⟨c,c⟩ — integer-valued doubles, exact
    * below 2^53), ONE map-side-combining min_by per vector (the
    * exchange carries one row per vector, never the n×k score table),
    * ONE partial-aggregable groupBy(cell, pos) for the sums, and ONE
    * bounded k·d collect (the centroid contract). Never a
    * vector-vector join; rounds are a fixed small constant.
    *
    * Output: (c_id, pos, c_val, n_members) — the final centroids
    * unpivoted per dimension with final cell sizes; ordered.
    */
  def kmeansLloyd(embs: DataFrame, k: Int = 16, rounds: Int = 2): DataFrame = {
    require(k >= 1 && rounds >= 1, "positive k and rounds")
    val spark = embs.sparkSession
    import spark.implicits._
    val q = 1024d
    val quant = graft.core.Tables.spread(embs)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * q).cast("float")).as("qv"))
      .cpGuard() // read once per round + the seed collect + final sums
    // seed: the k lowest-id vectors' quantized forms (bounded collect)
    var cents: Seq[(Int, Array[Float])] = quant
      .orderBy(col("vec_id")).limit(k)
      .collect().map(_.getSeq[Float](1).toArray)
      .zipWithIndex.map { case (a, i) => (i, a) }.toSeq
    require(cents.nonEmpty, "kmeansLloyd over an empty corpus")
    def assign(): DataFrame = {
      val cdf = broadcast(cents.map { case (cid, arr) =>
        (cid, arr, arr.map(v => v.toDouble * v).sum)
      }.toDF("c_id", "c_arr", "cc"))
      quant.crossJoin(cdf)
        .withColumn("dist",
          dotCol(col("qv"), col("qv")) -
            lit(2d) * dotCol(col("qv"), col("c_arr")) + col("cc"))
        .groupBy(col("vec_id"))
        .agg(min_by(col("c_id"), struct(col("dist"), col("c_id"))).as("cell"))
    }
    for (_ <- 1 to rounds) {
      val sums = assign()
        .join(quant, "vec_id")
        .select(col("cell"), posexplode(col("qv")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("x").cast("long")).as("s"), count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
      cents = cents.map { case (cid, old) =>
        (cid, old.indices.map { p =>
          sums.get((cid, p)) // empty cell: keep the previous centroid
            .map { case (s, n) => (s / n).toFloat }.getOrElse(old(p))
        }.toArray)
      }
    }
    val finalSizes = assign()
      .groupBy(col("cell")).agg(count(lit(1)).as("n_members"))
    cents.flatMap { case (cid, arr) =>
      arr.zipWithIndex.map { case (v, p) => (cid, p, v.toLong) }
    }.toDF("c_id", "pos", "c_val")
      .join(finalSizes.select(col("cell").as("c_id"), col("n_members")),
        Seq("c_id"), "left")
      .select(col("c_id"), col("pos"), col("c_val"),
        coalesce(col("n_members"), lit(0L)).as("n_members"))
      .orderBy(col("c_id"), col("pos"))
  }

  /** Shared probe+score stage: nProbe nearest cells per query, exact
    * cosine over the probed cells' assigned targets, per-query top-k.
    * `assigned` carries (cell, t_id, t_emb, t_norm) from a live build
    * or a persisted index table.
    */
  private def ivfScoreProbes(cents: DataFrame, assigned: DataFrame,
                             embs: DataFrame, nProbe: Int, nQueries: Int,
                             k: Int): DataFrame = {
    val q = side(embs.filter(col("vec_id") < nQueries), "q")
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("c_cos").desc, col("c_id"))
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("c_cos",
        dotCol(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")))
      .withColumn("crn", row_number().over(wProbe))
      .filter(col("crn") <= nProbe)
      .select(col("q_id"), col("q_emb"), col("q_norm"), col("c_id").as("cell"))
    val scored = probes.join(assigned, "cell")
      .withColumn("cosine",
        dotCol(col("q_emb"), col("t_emb")) / (col("q_norm") * col("t_norm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("t_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id").as("query_id"), col("t_id").as("neighbor_id"),
        col("cell"), col("cosine"), col("rn"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** Persist the IVF index — cell-assigned targets — as a CELL-BUCKETED
    * table: the "build once, query many" production shape. Every later
    * [[ivfTopKFromIndex]] probe equi-joins on cell and reads the corpus
    * side with NO Exchange (only the tiny probe side shuffles), at any
    * index size.
    */
  def persistIvfIndex(embs: DataFrame, nCentroids: Int, nQueries: Int,
                      table: String, buckets: Int): Unit =
    graft.operators.Layout.writeBucketed(
      assignCells(side(embs.filter(col("vec_id") >= nQueries), "t"),
        ivfCents(embs, nCentroids, nQueries)),
      table, "cell", buckets)

  /** (cell, t_id, t_emb, t_norm) rows for a prefixed target side under
    * the given centroid set — the argmax-by-(cosine, lowest c_id) rule
    * every IVF build/append shares, as a partial-aggregating max_by.
    */
  private def assignCells(t: DataFrame, cents: DataFrame): DataFrame = {
    val cells = t.crossJoin(broadcast(cents))
      .withColumn("c_cos",
        dotCol(col("t_emb"), col("c_emb")) / (col("t_norm") * col("c_norm")))
      .groupBy(col("t_id"))
      .agg(max_by(col("c_id"), struct(col("c_cos"), negate(col("c_id")))).as("cell"))
    t.join(cells, "t_id")
      .select(col("cell"), col("t_id"), col("t_emb"), col("t_norm"))
  }

  /** Incrementally grow a [[persistIvfIndex]] table: assign ONLY the
    * new vectors under the index's FROZEN coarse centroids (the
    * deterministic order statistic of `original`, the corpus the index
    * was built over) and append them through the catalog table's
    * bucket spec (insertInto), so later probes keep reading the corpus
    * side with zero Exchange. Because the centroids are an order
    * statistic of the lowest target ids, append-then-probe is
    * BIT-IDENTICAL to a full rebuild over original ∪ newVecs whenever
    * the new ids sit above the centroid seeds — the grow-only index
    * maintenance contract (no retrain, no rewrite of existing cells;
    * periodic full rebuilds remain a policy decision when drift
    * accumulates).
    */
  def appendIvfIndex(spark: org.apache.spark.sql.SparkSession,
                     table: String, original: DataFrame,
                     newVecs: DataFrame, nCentroids: Int,
                     nQueries: Int): Unit =
    assignCellsFor(newVecs, original, nCentroids, nQueries)
      .write.insertInto(table)

  /** [[assignCells]] over raw (vec_id, embedding) rows under the frozen
    * centroids of `original` — the shared entry the batch append and
    * the streaming index ingestion ([[graft.streaming.StreamAnnIngest]])
    * both write through.
    */
  private[graft] def assignCellsFor(newVecs: DataFrame, original: DataFrame,
                                    nCentroids: Int,
                                    nQueries: Int): DataFrame =
    assignCellsUnder(newVecs, ivfCentsFor(original, nCentroids, nQueries))

  /** The frozen coarse-centroid rows (c_id, c_emb, c_norm) a grow-only
    * index derives from its reference corpus — exposed so a streaming
    * ingester can derive them ONCE at stream start (and checkpoint the
    * 16-odd rows) instead of re-running a corpus-wide order statistic
    * on every micro-batch.
    */
  private[graft] def ivfCentsFor(original: DataFrame, nCentroids: Int,
                                 nQueries: Int): DataFrame =
    ivfCents(original, nCentroids, nQueries)

  /** [[assignCells]] under an already-derived centroid frame. */
  private[graft] def assignCellsUnder(newVecs: DataFrame,
                                      cents: DataFrame): DataFrame =
    assignCells(side(newVecs, "t"), cents)

  /** Query a [[persistIvfIndex]] table: identical output to the live
    * [[ivfTopK]] (same centroid rule, same probe/score stage), with the
    * assigned-target side read from the bucketed index.
    */
  def ivfTopKFromIndex(spark: org.apache.spark.sql.SparkSession,
                       table: String, embs: DataFrame, nCentroids: Int,
                       nProbe: Int, nQueries: Int, k: Int): DataFrame =
    ivfScoreProbes(ivfCents(embs, nCentroids, nQueries), spark.table(table),
      embs, nProbe, nQueries, k)

  /** LSH-bucketed ANN top-k: queries probe only their own bucket —
    * approximate, but the candidate join is equi on bucket id (shuffle
    * partitioned, skew-safe for balanced buckets).
    */
  def lshTopK(embs: DataFrame, nPlanes: Int, nQueries: Int, k: Int): DataFrame = {
    val buckets = lshBuckets(embs, nPlanes)
    val q = side(embs.filter(col("vec_id") < nQueries), "q")
      .join(buckets.select(col("vec_id").as("q_id"), col("bucket")), "q_id")
    val t = side(embs.filter(col("vec_id") >= nQueries), "t")
      .join(buckets.select(col("vec_id").as("t_id"), col("bucket").as("t_bucket")), "t_id")
    val scored = q.join(t, col("bucket") === col("t_bucket"))
      .withColumn("cosine",
        dotCol(col("q_emb"), col("t_emb")) / (col("q_norm") * col("t_norm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("t_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id").as("query_id"), col("t_id").as("neighbor_id"),
        col("bucket"), col("cosine"), col("rn"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** Distributed k-means (Lloyd) over the embedding corpus — the
    * centroid TRAINER [[ivfTopK]]'s doc defers to ("production would
    * run a few Lloyd iterations"): init from the k vectors with the
    * smallest portable hash of vec_id (a deterministic order-statistic
    * that works for ARBITRARY ids, not just 0..n — and is
    * oracle-sharable), then `iters` rounds of assign-to-nearest +
    * recompute-means over a bounded deterministic training sample
    * ([[DefaultTrainCap]]), then a final assignment of the full corpus.
    *
    * Scale shape per iteration: centroids ride into the assignment as
    * LITERAL arrays (k x dims doubles — broadcast-free constants in the
    * codegen'd plan, never a join), so assignment is one narrow
    * map-side pass; the update aggregates (cluster, dim) keyed partial
    * sums — the exchange carries at most k x dims rows per map
    * partition, independent of corpus size. The driver holds only the
    * k x dims centroid matrix between rounds (the same bounded-collect
    * contract as IVF's centroid set).
    *
    * Cross-engine determinism: distances fold left-to-right in double
    * (bit-identical to the oracle's list_reduce); ties break to the
    * lowest centroid id via struct-min; and the centroid MEAN — a
    * floating sum over an engine-chosen row order everywhere else —
    * is made order-independent by summing floor(x * 2^40) as exact
    * integers (quantum 2^-40, far below float32's input resolution;
    * |sum| < 2^63 for any corpus whose |x| * n stays under 2^22 *
    * 2^40... i.e. bounded corpora; production would shard the sum).
    * Empty clusters drop out of the centroid set, exactly as the
    * oracle's group-by drops them.
    *
    * Output: (vec_id, cluster, dist2) under the final centroids.
    */
  def kmeansFit(embs: DataFrame, k: Int, iters: Int,
                trainCap: Int = DefaultTrainCap): DataFrame = {
    val (vecs, cents) = kmeansCore(embs, k, iters, trainCap)
    assignToCentroids(vecs, cents)
      .select(col("vec_id"), col("cluster"), col("dist2"))
      .orderBy(col("vec_id"))
  }

  /** Semantic deduplication (SemDeDup, Abbas et al. 2023): k-means
    * clusters the embedding space, then near-dup pairs are searched
    * ONLY within each cluster — the cluster id is the blocking key, so
    * candidate generation is a cluster equi-join, never all-pairs. At
    * corpus scale k grows with n (SemDeDup uses ~100k clusters) so the
    * per-cluster member count — and with it the within-cluster pair
    * quadratic — stays bounded; `maxCluster` hard-caps it the same way
    * LSH buckets are capped ([[HotBuckets]]), dropping pathological
    * clusters rather than letting one go n².
    *
    * Resolution follows the paper: within a duplicate pair the member
    * CLOSER to its cluster centroid is dropped (keep the outlier —
    * it carries the most marginal information); ties drop the larger
    * vec_id. `dist2` comes from the same bit-exact assignment as
    * [[kmeansFit]] and the cosine is the shared fold, so the
    * drop decision verifies cross-engine value-for-value.
    *
    * Output: (vec_a, vec_b, cluster, cosine, drop_id), a < b.
    */
  def semDedup(embs: DataFrame, k: Int, iters: Int, threshold: Double,
               maxCluster: Int = Dedup.DefaultMaxBucket): DataFrame = {
    val (vecs, cents) = kmeansCore(embs, k, iters)
    val assigned = assignToCentroids(vecs, cents)
      .select(col("vec_id"), col("cluster"), col("dist2"))
    // one vec_id equi-join re-attaches the float embeddings: the
    // codegen'd dot ([[dotCol]]) runs on the original float arrays,
    // matching the oracle's CAST(float AS DOUBLE) folds bit-for-bit
    val members = HotBuckets.prune(
      graft.core.Tables.spread(embs)
        .join(assigned, "vec_id")
        .select(col("vec_id"), col("cluster"), col("dist2"),
          col("embedding"), normCol(col("embedding")).as("nrm"))
        .cpGuard(),
      Seq("cluster"), maxCluster)
    def sided(p: String) = members.select(
      col("vec_id").as(s"${p}_id"), col("cluster").as(s"${p}_cluster"),
      col("dist2").as(s"${p}_dist2"), col("embedding").as(s"${p}_emb"),
      col("nrm").as(s"${p}_nrm"))
    sided("a").join(sided("b"),
        col("a_cluster") === col("b_cluster") && col("a_id") < col("b_id"))
      .withColumn("cosine",
        dotCol(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")))
      .filter(col("cosine") >= threshold)
      .select(col("a_id").as("vec_a"), col("b_id").as("vec_b"),
        col("a_cluster").as("cluster"), col("cosine"),
        when(col("a_dist2") < col("b_dist2"), col("a_id"))
          .when(col("b_dist2") < col("a_dist2"), col("b_id"))
          .otherwise(greatest(col("a_id"), col("b_id"))).as("drop_id"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Cluster-balanced (diversity) sampling: fit k-means, keep each
    * cluster's `perCluster` most-central members ((dist2, vec_id)
    * order) — the coverage-preserving subset selection used for corpus
    * pruning and prototype picking. Scale shape: the same map-side
    * [[graft.functions.TopKAggregator]] as stratified sampling — each
    * map partition keeps at most k x perCluster candidates before the
    * exchange, however skewed the clusters (score = -dist2, so "best"
    * = nearest; NaN/tie order identical to the oracle's ROW_NUMBER).
    *
    * Output: (vec_id, cluster, dist2, rk), rk 1..perCluster per cluster.
    */
  def clusterSample(embs: DataFrame, k: Int, iters: Int,
                    perCluster: Int): DataFrame = {
    require(perCluster > 0, "perCluster must be positive")
    val (vecs, cents) = kmeansCore(embs, k, iters)
    val topk = graft.functions.TopKAggregator.topK(perCluster)
    assignToCentroids(vecs, cents)
      .groupBy(col("cluster"))
      .agg(topk(col("vec_id"), negate(col("dist2"))).as("sel"))
      .select(col("cluster"), posexplode(col("sel")).as(Seq("idx", "s")))
      .select(col("s.id").as("vec_id"), col("cluster"),
        negate(col("s.score")).as("dist2"),
        (col("idx") + 1).cast("int").as("rk"))
      .orderBy(col("cluster"), col("rk"))
  }

  /** Lloyd iterations train on at most ~this many vectors: above it the
    * training set is the deterministic hash-sample
    * `h32(vec_id) % ceil(n/cap) = 0` (portable — the oracle derives the
    * same modulus from its own COUNT(*)). Standard codebook practice:
    * at 100 TB the iters x (1 + nSub) full-corpus scans a naive Lloyd
    * costs become iters passes over a ~256k-row sample, and only the
    * single final assignment reads every vector.
    */
  val DefaultTrainCap: Int = 262144

  /** Run `n` independent driver-side builds concurrently — the PQ
    * subspace codebook fits are separate Lloyd loops over slices of one
    * checkpointed table, and their Spark actions (collects) otherwise
    * serialize on the driver while executors idle. Job submission is
    * thread-safe and each fit's result is timing-independent, so
    * parallel training changes wall-clock only.
    */
  private def inParallel[T](n: Int)(f: Int => T): Seq[T] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(
      Future.sequence((0 until n).map(i => Future(f(i)))), Duration.Inf)
  }

  /** Dimensionality from a one-row peek, with a clear failure on an
    * empty corpus (a bare head() would throw NoSuchElementException
    * deep inside the subspace split).
    */
  private def peekDims(embs: DataFrame): Int = {
    val h = embs.select(size(col("embedding")).as("n")).limit(1).collect()
    require(h.nonEmpty, "PQ over an empty embedding corpus")
    h.head.getInt(0)
  }

  /** Exact left-fold squared L2 from the `v` column to a literal
    * centroid — the portable distance every k-means/PQ path shares.
    */
  /** array<struct<dist2, cluster>> of squared distances from `v` to
    * every centroid — one codegen'd loop over the referenced centroid
    * matrix ([[graft.functions.CentroidDistancesD]]), not k inlined
    * literal-array HOF chains.
    */
  private def centDists(cents: Seq[(Long, Array[Double])],
                        v: Column = col("v")): Column =
    graft.functions.VectorExpressions.centroidDistances(
      v, cents.map { case (cid, c) => cid -> c.toSeq })

  /** Nearest-centroid assignment of a (vec_id, v) frame: array_min on
    * (dist2, cluster) structs — ties to the lowest id, the oracle's
    * ORDER BY dist2, c_id.
    */
  private def assignToCentroids(vecs: DataFrame,
                                cents: Seq[(Long, Array[Double])]): DataFrame =
    vecs.withColumn("best", array_min(centDists(cents)))
      .select(col("vec_id"), col("v"),
        col("best.cluster").as("cluster"), col("best.dist2").as("dist2"))

  /** The Lloyd loop shared by [[kmeansFit]] and [[pqAdcTopK]]: returns
    * the materialized (vec_id, v) frame and the trained centroid
    * matrix (driver-held, k x dims — the bounded-collect contract).
    */
  private def kmeansCore(embs: DataFrame, k: Int, iters: Int,
                         trainCap: Int = DefaultTrainCap)
      : (DataFrame, Seq[(Long, Array[Double])]) = {
    // scanned iters+2 times (init + per-round + final): materialize once
    val vecs = graft.core.Tables.spread(embs)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .cpGuard()
    (vecs, kmeansCentsFromVecs(vecs, k, iters, trainCap))
  }

  /** Lloyd loop over a prepared (vec_id, v) frame — the PQ paths call
    * this once per subspace with SLICES of one materialized full-vector
    * table instead of re-reading and re-checkpointing the source per
    * codebook.
    */
  private def kmeansCentsFromVecs(vecs: DataFrame, k: Int, iters: Int,
                                  trainCap: Int = DefaultTrainCap)
      : Seq[(Long, Array[Double])] = {
    require(k > 0 && iters >= 0 && trainCap > 0,
      "k > 0, iters >= 0, trainCap > 0")
    val Q = 1099511627776.0 // 2^40
    // portable hash of vec_id: drives BOTH the bounded training sample
    // and the k-seed order statistic, for arbitrary (non-contiguous,
    // non-zero-based) id spaces. Non-negative in both engines, so plain
    // mod == pmod.
    val idH = graft.functions.Hashing.h32(col("vec_id").cast("string"))
    // ONE agg job carries both the corpus count and the envelope stats:
    // in the common whole-corpus-trains case (n <= trainCap) the former
    // count-then-stats pair was two identical scans
    val first = vecs.agg(count(lit(1)).as("n"),
      max(array_max(transform(col("v"), x => abs(x)))).as("max_abs"))
      .collect().head
    val n = first.getLong(0)
    require(n > 0, "k-means over an empty corpus " +
      "(an empty centroid set would assign null clusters)")
    val mod = math.max(1L, math.ceil(n.toDouble / trainCap).toLong)
    val (train, nTrain, maxAbs0) =
      if (mod == 1L) (vecs, n, first.getDouble(1))
      else {
        val t = vecs.filter(pmod(idH, lit(mod)) === 0).cpGuard()
        val s = t.agg(count(lit(1)).as("nt"),
          max(array_max(transform(col("v"), x => abs(x)))).as("max_abs"))
          .collect().head
        (t, s.getLong(0), if (s.getLong(0) == 0L) 0.0 else s.getDouble(1))
      }
    require(nTrain > 0,
      s"k-means training sample is empty (corpus $n, sample modulus $mod)")
    // the order-independent fixed-point mean sums floor(x*2^40) longs;
    // |sum| per (cluster, dim) is bounded by nTrain * (max|x| * 2^40 + 1)
    // and must stay inside Long — fail loudly instead of converging to
    // corrupt centroids on an out-of-envelope corpus
    val maxAbs = maxAbs0
    require(nTrain.toDouble * (maxAbs + 1e-9) < 4194304.0, // 2^22
      s"fixed-point centroid sum would overflow Long: max|x| = $maxAbs " +
        s"over $nTrain training vectors exceeds the 2^22 envelope; " +
        "rescale the embeddings or lower trainCap")
    var cents: Seq[(Long, Array[Double])] = train
      .orderBy(idH, col("vec_id")).limit(k) // TakeOrdered: bounded collect
      .select(col("vec_id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
      .sortBy(_._1)
    for (_ <- 1 to iters) {
      val sums = assignToCentroids(train, cents)
        .select(col("cluster"), posexplode(col("v")).as(Seq("d", "x")))
        .groupBy(col("cluster"), col("d"))
        .agg(sum(floor(col("x") * lit(Q))).as("s"), count(lit(1)).as("n"))
        .select(col("cluster"), col("d"),
          (col("s").cast("double") / col("n").cast("double") / lit(Q)).as("m"))
        .collect()
      cents = sums.groupBy(_.getLong(0)).toSeq.map { case (cid, rows) =>
        val arr = new Array[Double](rows.length)
        rows.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
        (cid, arr)
      }.sortBy(_._1)
    }
    cents
  }

  /** Product quantization (Jégou et al. 2011, the Faiss IVF-PQ
    * building block): the vector splits into `nSub` contiguous
    * subspaces, each with its own [[kmeansFit]] codebook; a vector's
    * code is its per-subspace nearest-centroid ids — nSub small ints
    * instead of dims floats (here 4 x log2(16) bits = 2 bytes per
    * 64-dim vector, 128x), with reconstruction error the sum of
    * per-subspace residuals. Everything reuses the k-means trainer's
    * determinism, so codes AND errors verify bit-for-bit; at corpus
    * scale each subspace fit is the same bounded-collect Lloyd loop,
    * and encoding is nSub map-side literal-centroid passes joined on
    * vec_id.
    *
    * Output: (vec_id, code "c0,c1,..,c{nSub-1}", recon_err).
    */
  def pqEncode(embs: DataFrame, nSub: Int, k: Int, iters: Int): DataFrame = {
    val dims = peekDims(embs)
    require(nSub > 0 && dims % nSub == 0, s"dims $dims not divisible by $nSub")
    val sub = dims / nSub
    val fullVecs = graft.core.Tables.spread(embs)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .cpGuard()
    val parts = inParallel(nSub) { s =>
      val svecs = fullVecs.select(col("vec_id"),
        slice(col("v"), s * sub + 1, sub).as("v"))
      assignToCentroids(svecs, kmeansCentsFromVecs(svecs, k, iters))
        .select(col("vec_id"), col("cluster").as(s"c$s"), col("dist2").as(s"e$s"))
    }
    parts.reduce((a, b) => a.join(b, "vec_id"))
      .select(col("vec_id"),
        concat_ws(",", (0 until nSub).map(s => col(s"c$s")): _*).as("code"),
        (0 until nSub).map(s => col(s"e$s")).reduce(_ + _).as("recon_err"))
      .orderBy(col("vec_id"))
  }

  /** PQ search by Asymmetric Distance Computation — why PQ codes exist:
    * each query precomputes a k-entry distance table per subspace (its
    * exact squared L2 to every codebook centroid), and a target's
    * approximate distance is just nSub table lookups summed — the
    * full-precision query side never touches target floats, so the
    * corpus scan reads 2-byte codes instead of 256-byte vectors.
    *
    * Engine shape: the per-(query, subspace) tables come from a
    * map-side explode over LITERAL centroids (k rows per query per
    * subspace, no join); target codes attach by an equi-join on
    * centroid id; subspace partials meet in an equi-join on (query,
    * target) and sum left-assoc. The q x t blowup is the ADC linear
    * scan itself (IVF cells bound it in production — [[ivfTopK]] is
    * that stage here); every join is key-partitioned, nothing
    * corpus-sized broadcasts.
    *
    * Output: (query_id, neighbor_id, adc_dist, rn), top `topK`
    * neighbors per query by approximate distance.
    */
  def pqAdcTopK(embs: DataFrame, nSub: Int, k: Int, iters: Int,
                nQueries: Int, topK: Int): DataFrame = {
    val dims = peekDims(embs)
    require(nSub > 0 && dims % nSub == 0, s"dims $dims not divisible by $nSub")
    val sub = dims / nSub
    val fullVecs = graft.core.Tables.spread(embs)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .cpGuard()
    val parts = inParallel(nSub) { s =>
      val svecs = fullVecs.select(col("vec_id"),
        slice(col("v"), s * sub + 1, sub).as("v"))
      val cents = kmeansCentsFromVecs(svecs, k, iters)
      val lut = svecs.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), explode(centDists(cents)).as("e"))
        .select(col("q_id"), col("e.cluster").as("cid"),
          col("e.dist2").as(s"d$s"))
      val codes = assignToCentroids(
          svecs.filter(col("vec_id") >= nQueries), cents)
        .select(col("vec_id").as("t_id"), col("cluster").as("cid"))
      lut.join(codes, "cid").select(col("q_id"), col("t_id"), col(s"d$s"))
    }
    val joined = parts.reduce((a, b) => a.join(b, Seq("q_id", "t_id")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adc_dist"), col("t_id"))
    joined
      .select(col("q_id"), col("t_id"),
        (0 until nSub).map(s => col(s"d$s")).reduce(_ + _).as("adc_dist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select(col("q_id").as("query_id"), col("t_id").as("neighbor_id"),
        col("adc_dist"), col("rn"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** IVF-PQ: the production ANN shape — a coarse k-means partitions
    * the corpus into cells, each query probes only its `nProbe`
    * nearest cells, and WITHIN the probed cells distances come from
    * PQ codes via ADC tables. [[pqAdcTopK]]'s q x t scan becomes
    * q x (corpus/nCells x nProbe): the cell equi-join bounds the
    * candidate set, the code scan bounds the bytes — together they are
    * why a 100 TB corpus is searchable at all. Five bounded-collect
    * k-means fits (1 coarse + nSub codebooks); every join is
    * key-partitioned (cell id, centroid id, pair key); nothing
    * corpus-sized broadcasts (the coarse centroid table that attaches
    * residuals is nCells rows — bounded by construction).
    *
    * RESIDUAL encoding (Jégou et al. 2011's IVFADC, the form Faiss
    * ships): PQ codes quantize `v - coarse_centroid(cell)`, not the
    * raw vector. Residual magnitudes are a fraction of vector
    * magnitudes, so the same code budget spends its centroids on a
    * tighter distribution — better recall at identical bytes. The ADC
    * tables become per-(query, probed cell): the query's residual
    * against THAT cell's centroid, since a candidate pair's distance is
    * ||(q - c) - (t - c)|| within their shared cell.
    *
    * Output: (query_id, neighbor_id, cell, adc_dist, rn) — approximate
    * top-k per query over the probed cells only.
    */
  def ivfPqTopK(embs: DataFrame, nCells: Int, nProbe: Int,
                nSub: Int, k: Int, iters: Int,
                nQueries: Int, topK: Int): DataFrame =
    pqProbe(embs, buildPq(embs, nCells, nSub, k, iters, nQueries),
      nProbe, nQueries, topK)

  /** Everything a PQ probe needs: the coarse cells, the per-subspace
    * residual codebooks (both driver-held, bounded), and the per-target
    * code rows (cell, t_id, c0..c{nSub-1}). Built once by [[buildPq]]
    * and shared VERBATIM by the live [[ivfPqTopK]] and
    * [[persistIvfPqIndex]], so a persisted index serves bit-identical
    * results to the live query.
    */
  private case class PqBuild(cells: Seq[(Long, Array[Double])],
                             codebooks: Seq[Seq[(Long, Array[Double])]],
                             codeRows: DataFrame)

  private def buildPq(embs: DataFrame, nCells: Int, nSub: Int, k: Int,
                      iters: Int, nQueries: Int): PqBuild = {
    val dims = peekDims(embs)
    require(nSub > 0 && dims % nSub == 0, s"dims $dims not divisible by $nSub")
    val sub = dims / nSub
    val spark = embs.sparkSession
    import spark.implicits._
    // one materialized full-vector table: the coarse quantizer reads it
    // whole, each subspace codebook reads a SLICE of it — never a
    // second scan/checkpoint of the source per codebook
    val fullVecs = graft.core.Tables.spread(embs)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .cpGuard()
    // coarse quantizer: cells from full-vector k-means
    val cells = kmeansCentsFromVecs(fullVecs, nCells, iters)
    val centsDf = broadcast(
      cells.map { case (cid, c) => (cid, c.toSeq) }.toDF("cell", "c_emb"))
    def residual(v: Column): Column =
      zip_with(v, col("c_emb"), (a, b) => a - b)
    // targets: residual against their OWN cell's centroid — checkpointed
    // once, each subspace codebook/code pass reads a slice of it
    val tRes = assignToCentroids(
        fullVecs.filter(col("vec_id") >= nQueries), cells)
      .select(col("vec_id").as("t_id"), col("cluster").as("cell"), col("v"))
      .join(centsDf, "cell")
      .select(col("t_id"), col("cell"), residual(col("v")).as("rv"))
      .cpGuard()
    // fine quantizer: per-subspace residual codebooks + target codes.
    // NOTE: batching the nSub Lloyd fits into subspace-tagged union
    // jobs (one stat agg + one seed collect + one union job per
    // iteration) was tried in r17 and REVERTED: the overlapped
    // per-subspace chains already back-fill each other's job tails, and
    // the batched form measured +12% on the whole PQ family
    // (s10-s25 subset 18.6 -> 20.9 s, flat drift control) — it
    // serializes into one wider shuffle what §2.6 overlap ran
    // concurrently.
    val trained = inParallel(nSub) { s =>
      val svecs = tRes.select(col("t_id").as("vec_id"),
        slice(col("rv"), s * sub + 1, sub).as("v"))
      val cents = kmeansCentsFromVecs(svecs, k, iters)
      val codes = assignToCentroids(svecs, cents)
        .select(col("vec_id").as("t_id"), col("cluster").as(s"c$s"))
      (cents, codes)
    }
    val codeRows = trained.map(_._2)
      .foldLeft(tRes.select(col("t_id"), col("cell"))) { (acc, c) =>
        acc.join(c, "t_id") }
      .cpGuard()
    PqBuild(cells, trained.map(_._1), codeRows)
  }

  /** The query half of [[ivfPqTopK]]: probe-cell selection, per-cell
    * query residuals, the cell-equi-join candidate cut against the code
    * rows (never the full q x t scan), per-subspace ADC lookups joined
    * on the code columns, left-assoc distance sum, per-query top-k.
    */
  private def pqProbe(embs: DataFrame, idx: PqBuild, nProbe: Int,
                      nQueries: Int, topK: Int): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val nSub = idx.codebooks.length
    require(nSub > 0 && idx.codebooks.forall(_.nonEmpty), "empty PQ codebooks")
    val sub = idx.codebooks.head.head._2.length
    val centsDf = broadcast(
      idx.cells.map { case (cid, c) => (cid, c.toSeq) }.toDF("cell", "c_emb"))
    def residual(v: Column): Column =
      zip_with(v, col("c_emb"), (a, b) => a - b)
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("cd2"), col("cell"))
    val queryCells = graft.core.Tables.spread(embs)
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .select(col("q_id"), col("v"), explode(centDists(idx.cells)).as("e"))
      .select(col("q_id"), col("v"), col("e.cluster").as("cell"),
        col("e.dist2").as("cd2"))
      .withColumn("crn", row_number().over(wProbe))
      .filter(col("crn") <= nProbe)
      .select(col("q_id"), col("cell"), col("v"))
    // queries: one residual PER PROBED CELL (nProbe rows per query) —
    // the ADC tables below are keyed (q_id, cell, cid)
    val qRes = queryCells
      .join(centsDf, "cell")
      .select(col("q_id"), col("cell"), residual(col("v")).as("rv"))
      .cpGuard()
    // the IVF cut: candidates are (query, target) pairs sharing a
    // probed cell — an equi-join on cell id against the code rows. When
    // the code rows are a persisted CELL-BUCKETED index table, the
    // corpus side of this join plans with NO Exchange (only the
    // O(queries) side shuffles) — SelectionOpsSpec asserts it.
    val cand = qRes.select(col("q_id"), col("cell"))
      .join(idx.codeRows, "cell")
      .cpGuard()
    val parts = inParallel(nSub) { s =>
      val lut = qRes
        .select(col("q_id"), col("cell"),
          explode(centDists(idx.codebooks(s),
            slice(col("rv"), s * sub + 1, sub))).as("e"))
        .select(col("q_id"), col("cell"),
          col("e.cluster").as(s"c$s"), col("e.dist2").as(s"d$s"))
      // shuffle-hash: the ADC tables are hash-joinable pair tables (the
      // jaccardVerify convention) — SMJ would add a sort per subspace
      cand.select(col("q_id"), col("t_id"), col("cell"), col(s"c$s"))
        .join(lut.hint("shuffle_hash"), Seq("q_id", "cell", s"c$s"))
        .select(col("q_id"), col("t_id"), col(s"d$s"))
    }
    val joined = parts.reduce((a, b) =>
      a.join(b.hint("shuffle_hash"), Seq("q_id", "t_id")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adc_dist"), col("t_id"))
    joined
      .select(col("q_id"), col("t_id"),
        (0 until nSub).map(s => col(s"d$s")).reduce(_ + _).as("adc_dist"))
      .join(cand.select(col("q_id"), col("t_id"), col("cell")),
        Seq("q_id", "t_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select(col("q_id").as("query_id"), col("t_id").as("neighbor_id"),
        col("cell"), col("adc_dist"), col("rn"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** Persist the residual IVF-PQ index — the code rows as a
    * CELL-BUCKETED table plus the coarse/subspace codebooks as a small
    * parquet (sub_idx = -1 marks the coarse book) — the "build once,
    * query many" production shape for [[ivfPqTopK]].
    * [[ivfPqTopKFromIndex]] then serves bit-identical results with a
    * zero-Exchange corpus side. Doubles round-trip parquet exactly, so
    * persistence moves no values.
    */
  def persistIvfPqIndex(embs: DataFrame, nCells: Int, nSub: Int, k: Int,
                        iters: Int, nQueries: Int, table: String,
                        buckets: Int, codebookPath: String): Unit = {
    val spark = embs.sparkSession
    import spark.implicits._
    val b = buildPq(embs, nCells, nSub, k, iters, nQueries)
    // NOTE: overlapping this bucketed write with the codebook write
    // was tried and reverted — the paired A/B showed intermittent +23%
    // regressions (catalog/commit contention), and the codebook side
    // is a 1-file write with nothing to amortize
    graft.operators.Layout.writeBucketed(b.codeRows, table, "cell", buckets)
    val rows =
      b.cells.map { case (cid, c) => (-1, cid, c.toSeq) } ++
        b.codebooks.zipWithIndex.flatMap { case (book, s) =>
          book.map { case (cid, c) => (s, cid, c.toSeq) } }
    rows.toDF("sub_idx", "cid", "vec")
      .coalesce(1).write.mode("overwrite").parquet(codebookPath)
  }

  /** Query a [[persistIvfPqIndex]] index: identical output to the live
    * [[ivfPqTopK]] with the same build parameters (shared [[pqProbe]];
    * the codebooks are a bounded collect, the code rows come from the
    * bucketed table).
    */
  def ivfPqTopKFromIndex(spark: org.apache.spark.sql.SparkSession,
                         table: String, codebookPath: String,
                         embs: DataFrame, nProbe: Int, nQueries: Int,
                         topK: Int): DataFrame = {
    val cb = spark.read.parquet(codebookPath)
      .select(col("sub_idx"), col("cid"), col("vec")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
    val cells = cb.filter(_._1 == -1).map(t => (t._2, t._3)).toSeq
    require(cells.nonEmpty, s"no coarse cells in $codebookPath")
    val nSub = cb.map(_._1).max + 1
    val books = (0 until nSub).map(s =>
      cb.filter(_._1 == s).map(t => (t._2, t._3)).toSeq)
    pqProbe(embs, PqBuild(cells, books, spark.table(table)),
      nProbe, nQueries, topK)
  }

  /** Symmetric int8 vector quantization — the embedding STORAGE path at
    * corpus scale (4 bytes/dim float32 -> 1 byte/dim + one scale per
    * vector, the standard 4x shrink before any ANN index build).
    * Per-vector scale = max|x|/127; code q_i = clamp(floor(x_i/scale +
    * 0.5), ±127) — the floor(+0.5) spelling rounds identically in both
    * engines regardless of their round()'s half-rule, and the clamp is
    * provably a no-op (|x/scale| <= 127 up to one ulp) but spelled out
    * so adversarial inputs stay in range. Pure projection: no shuffle,
    * scan throughput at any corpus size.
    *
    * Output: (vec_id, scale, q_md5 of the comma-joined codes, sq_err =
    * the exact reconstruction error sum((x - q*scale)^2), folded
    * left-to-right in double so it verifies bit-for-bit).
    */
  def quantizeInt8(embs: DataFrame): DataFrame = {
    val base = graft.core.Tables.spread(embs)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"),
        (array_max(transform(col("embedding"), x => abs(x.cast("double")))) /
          lit(127.0)).as("scale"))
    def qOf(x: Column): Column =
      greatest(lit(-127L), least(lit(127L),
        floor(x / col("scale") + lit(0.5)).cast("long")))
    val zeroScale = col("scale") === lit(0.0)
    base
      .select(col("vec_id"), col("scale"), col("v"),
        when(zeroScale, transform(col("v"), _ => lit(0L)))
          .otherwise(transform(col("v"), x => qOf(x))).as("q"))
      .select(col("vec_id"), col("scale"),
        md5(array_join(transform(col("q"), _.cast("string")), ",")).as("q_md5"),
        when(zeroScale, lit(0.0)).otherwise(
          aggregate(zip_with(col("v"), col("q"), (x, qi) =>
              (x - qi.cast("double") * col("scale")) *
                (x - qi.cast("double") * col("scale"))),
            lit(0.0), (acc, e) => acc + e)).as("sq_err"))
      .orderBy(col("vec_id"))
  }

  /** The read-side twin of [[quantizeInt8]]: reconstruct each vector
    * from its int8 codes (q·scale, float-stored) — what a search over
    * int8-quantized storage actually scores against. Same portable
    * floor(+0.5) rounding and provably-no-op clamp as the writer; the
    * s21 audit runs recall@5 of retrieval over these reconstructions
    * against the float baseline, completing the storage-shrink story
    * with its retrieval-quality price tag.
    */
  def int8Reconstruct(embs: DataFrame): DataFrame = {
    val base = graft.core.Tables.spread(embs)
      .select(col("vec_id"), col("embedding"),
        (array_max(transform(col("embedding"), x => abs(x.cast("double")))) /
          lit(127.0)).as("scale"))
    val recon = when(col("scale") === lit(0.0),
        transform(col("embedding"), _ => lit(0.0f)))
      .otherwise(transform(col("embedding"), x =>
        (greatest(lit(-127L), least(lit(127L),
          floor(x.cast("double") / col("scale") + lit(0.5)).cast("long")))
          .cast("double") * col("scale")).cast("float")))
    base.select(col("vec_id"), recon.as("embedding"))
  }

  /** DuckDB twin of [[int8Reconstruct]]'s row expression over a
    * LIST(FLOAT) column named by `emb`.
    */
  def int8ReconstructSql(emb: String): String = {
    val scale =
      s"(list_aggregate(list_transform($emb, x -> abs(CAST(x AS DOUBLE))), 'max') / 127.0)"
    s"""CASE WHEN $scale = 0.0
        THEN list_transform($emb, x -> CAST(0.0 AS REAL))
        ELSE list_transform($emb, x -> CAST(
          GREATEST(CAST(-127 AS DOUBLE), LEAST(CAST(127 AS DOUBLE),
            floor(CAST(x AS DOUBLE) / $scale + 0.5))) * $scale AS REAL))
        END"""
  }

  /** Sign-bit word of `emb`'s lanes [lo, lo+32): bit (i − lo) set when
    * emb[i] > 0 — one 32-bit half of the binary quantization code,
    * held in a BIGINT so no engine ever shifts into (or compares
    * across) the sign bit.
    */
  private def signWord(emb: String, lo: Int): Column =
    expr(s"""aggregate(sequence($lo, ${lo + 31}), CAST(0 AS BIGINT),
      (acc, i) -> acc + CASE WHEN element_at($emb, i + 1) > CAST(0 AS FLOAT)
        THEN shiftleft(CAST(1 AS BIGINT), i - $lo)
        ELSE CAST(0 AS BIGINT) END)""")

  /** Binary (sign-bit) quantization retrieval: each 64-dim float
    * vector collapses to 64 sign bits (two 32-bit words — 32×
    * smaller than float32) and search ranks by Hamming distance
    * (xor + popcount), the classic bit-sampling LSH estimate of
    * angular distance (Charikar 2002 with coordinate hyperplanes).
    * The third point on the storage/recall curve between int8
    * ([[int8Reconstruct]], 4×) and product quantization
    * ([[pqEncode]], codebook-sized): at 100 TB the packed words are
    * the only representation that fits a scan in memory, and xor +
    * popcount is one cycle per word — re-rank survivors with full
    * vectors exactly as the s21/s24 audits price.
    *
    * Exactness: codes and Hamming distances are pure integers — no
    * IEEE anywhere — so ranking ties break on t_id identically in
    * both engines by construction.
    *
    * Output: top-`k` per query (query_id, neighbor_id, hamming, rn),
    * Hamming ascending, neighbor tiebreak.
    */
  def signHammingTopK(embs: DataFrame, nQueries: Int, k: Int): DataFrame = {
    def words(df: DataFrame, p: String) = df.select(
      col("vec_id").as(s"${p}_id"),
      signWord("embedding", 0).as(s"${p}_w0"),
      signWord("embedding", 32).as(s"${p}_w1"))
    val q = words(embs.filter(col("vec_id") < nQueries), "q")
    val t = words(embs.filter(col("vec_id") >= nQueries), "t")
    val scored = t.crossJoin(broadcast(q))
      .withColumn("hamming",
        (bit_count(expr("q_w0 ^ t_w0")) + bit_count(expr("q_w1 ^ t_w1")))
          .cast("long"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("hamming").asc, col("t_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id").as("query_id"), col("t_id").as("neighbor_id"),
        col("hamming"), col("rn"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** Two-stage retrieval: [[signHammingTopK]]'s binary shortlist
    * (`kShort` candidates by xor+popcount over the 32×-compressed
    * codes) re-ranked by EXACT cosine over the full float vectors —
    * the canonical shape of every production ANN deployment (cheap
    * filter over the compressed index, expensive exact math only on
    * the shortlist). Scores on surviving candidates are identical to
    * brute force — the approximation is in WHICH candidates survive
    * the Hamming filter, never in the returned cosine.
    *
    * Scale: the full vectors are touched for nQueries·kShort rows, not
    * the corpus; both attach joins are id equi-joins (query side
    * bounded, target side co-partitionable with the vector store).
    *
    * Output: top-`k` per query (query_id, neighbor_id, cosine, rn),
    * cosine descending, neighbor tiebreak.
    */
  def signHammingRerank(embs: DataFrame, nQueries: Int, kShort: Int,
                        k: Int): DataFrame = {
    require(kShort >= k && k >= 1, "kShort >= k >= 1")
    val shortlist = signHammingTopK(embs, nQueries, kShort)
      .select(col("query_id"), col("neighbor_id"))
    val e = side(embs, "e")
    val scored = shortlist
      .join(e.select(col("e_id").as("query_id"), col("e_emb").as("qe"),
        col("e_norm").as("qn")), Seq("query_id"))
      .join(e.select(col("e_id").as("neighbor_id"), col("e_emb").as("te"),
        col("e_norm").as("tn")), Seq("neighbor_id"))
      .withColumn("cosine",
        dotCol(col("qe"), col("te")) / (col("qn") * col("tn")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"),
        col("rn"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** MMR (maximal-marginal-relevance) diversified re-ranking: from each
    * query's `kCand` cosine candidates, select `kSel` iteratively —
    * first the most relevant, then whatever maximizes
    * lambda*rel − (1−lambda)*max-sim-to-already-selected. The retrieval
    * tool that keeps a training batch (or a RAG context) from filling
    * with near-duplicates of one hit; the near-dup stack detects
    * redundancy, this one spends a budget against it.
    *
    * Exactness: rel and pairwise sims are the portable cosine fold;
    * the MMR score is two fixed-order multiplies and a subtract
    * (lambda must be exactly representable — the 0.5 default is);
    * max-over-selected is an order-free MAX of at most kSel−1 values.
    * Every round is one anti-join + one equi-join + one partitioned
    * window over O(queries × kCand) rows — per-query work is constant
    * at any corpus size because the candidate set is already bounded.
    */
  def mmrTopK(embs: DataFrame, nQueries: Int, kCand: Int, kSel: Int,
              lambda: Double = 0.5): DataFrame = {
    require(kSel >= 1 && kCand >= kSel, "need kCand >= kSel >= 1")
    val cand0 = bruteForceTopK(embs, nQueries, kCand)
      .select(col("query_id").as("q_id"), col("neighbor_id").as("t_id"),
        col("cosine").as("rel"))
    val tEmb = graft.core.Tables.spread(embs)
      .select(col("vec_id").as("t_id"), col("embedding").as("t_emb"),
        normCol(col("embedding")).as("t_norm"))
    val cand = cand0.join(tEmb, "t_id").cpGuard()
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("t_id"))
    var selected = cand.withColumn("score", col("rel"))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") === 1)
      .select(col("q_id"), col("t_id"), lit(1).as("rk"), col("score"),
        col("t_emb"), col("t_norm"))
      .cpGuard()
    for (r <- 2 to kSel) {
      val rem = cand.join(selected.select(col("q_id"), col("t_id")),
        Seq("q_id", "t_id"), "left_anti")
      val ms = rem
        .join(selected.select(col("q_id"), col("t_emb").as("s_emb"),
          col("t_norm").as("s_norm")), Seq("q_id"))
        .withColumn("sim",
          dotCol(col("t_emb"), col("s_emb")) / (col("t_norm") * col("s_norm")))
        .groupBy(col("q_id"), col("t_id")).agg(max(col("sim")).as("maxsim"))
      val pick = cand.join(ms, Seq("q_id", "t_id"))
        .withColumn("score",
          lit(lambda) * col("rel") - lit(1.0 - lambda) * col("maxsim"))
        .withColumn("rn", row_number().over(wq)).filter(col("rn") === 1)
        .select(col("q_id"), col("t_id"), lit(r).as("rk"), col("score"),
          col("t_emb"), col("t_norm"))
      selected = selected.unionByName(pick).cpGuard()
    }
    selected.select(col("q_id").as("query_id"), col("t_id").as("neighbor_id"),
      col("rk"), col("score"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Deterministic ±1 sign matrix for [[jlProject]], signs(k)(j) for
    * output dim k and input dim j. Knuth-multiplicative bit mix — a
    * FIXED pseudo-random matrix generated once here and shared by BOTH
    * the Spark plan (as [[graft.functions.MatProjectF]]'s referenced
    * matrix) and the DuckDB oracle (as literal +/- chains), so no
    * cross-engine arithmetic is needed to agree on it.
    */
  def jlSigns(inDims: Int, outDims: Int): Array[Array[Int]] =
    Array.tabulate(outDims, inDims) { (k, j) =>
      if ((((j * outDims + k + 1).toLong * 2654435761L) >>> 16 & 1L) == 0L) 1
      else -1
    }

  /** Johnson–Lindenstrauss random projection (Achlioptas ±1 form):
    * each of `outDims` output coordinates is a signed sum of ALL
    * `inDims` input coordinates, folded left-to-right in double and
    * stored back as float. Distances are preserved in expectation
    * (prefix truncation instead drops 75% of the signal outright —
    * s16 vs s17 measures that trade per corpus; on tie-dense isotropic
    * data both audits report near-chance recall, the honest "don't"
    * answer). The common 1/sqrt(outDims)
    * scaling is omitted: cosine is scale-invariant, and dropping it
    * keeps the arithmetic to +/- only (bit-portable by construction).
    * Pure projection — no shuffle, scan throughput at any corpus size.
    */
  def jlProject(embs: DataFrame, inDims: Int = 64, outDims: Int = 16): DataFrame = {
    // the sign matrix rides as ONE referenced int[] inside a codegen'd
    // double-fold loop (MatProjectF) — the former outDims x inDims
    // literal +/- chain serialized multi-MiB task binaries per stage
    val signs = jlSigns(inDims, outDims).map(_.toSeq).toSeq
    graft.core.Tables.spread(embs)
      .select(col("vec_id"),
        graft.functions.VectorExpressions.matProject(col("embedding"), signs)
          .as("embedding"))
  }

  /** Greedy k-center coreset (Gonzalez 1985 farthest-point traversal):
    * seed with the lowest vec_id, then k−1 rounds each adding the
    * vector FARTHEST (max over points of min-to-centers squared L2)
    * from the current centers — the 2-approximation to the k-center
    * cover, and the standard diversity-sampling step for active
    * learning / embedding-space coverage selection (each pick's
    * min-distance is the cover radius the selection guarantees so
    * far). Deterministic: ties break on vec_id, distances are the
    * engine's vector-fold discipline (d2 = ⟨v,v⟩ − 2⟨v,c⟩ + ⟨c,c⟩ in
    * one fixed association order), so the oracle replays every round
    * value-for-value.
    *
    * Scale shape: per round ONE broadcast of the ≤k center rows
    * against the corpus scan (map-side d2 + partial-agg min/TakeOrdered
    * 1), never a corpus self-join; driver work is k bounded 1-row
    * picks (the c29 greedy contract). At billion-vector scale you'd
    * run the same rounds over an IVF-cell sample first — the published
    * two-level k-center compositions apply unchanged.
    */
  def kcenterCoreset(embs: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 64, s"k $k out of range")
    val spark = embs.sparkSession
    val e = graft.core.Tables.spread(embs)
      .select(col("vec_id"), col("embedding")).cpGuard()
    val seedId = e.orderBy(col("vec_id")).limit(1)
      .collect()(0).getLong(0)
    var centerIds = Vector(seedId)
    var picks = Vector[(Int, Long, Option[Double])]((1, seedId, None))
    for (round <- 2 to k) {
      val centers = e.filter(col("vec_id").isin(centerIds: _*))
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      val top = e.filter(!col("vec_id").isin(centerIds: _*))
        .crossJoin(broadcast(centers))
        .withColumn("d2",
          dotCol(col("embedding"), col("embedding"))
            - lit(2.0) * dotCol(col("embedding"), col("c_emb"))
            + dotCol(col("c_emb"), col("c_emb")))
        .groupBy(col("vec_id")).agg(min(col("d2")).as("d2"))
        .orderBy(col("d2").desc, col("vec_id")).limit(1).collect()
      if (top.nonEmpty) {
        val (id, d2) = (top(0).getLong(0), top(0).getDouble(1))
        centerIds :+= id
        picks :+= ((round, id, Some(d2)))
      }
    }
    import spark.implicits._
    picks.toDF("round", "vec_id", "radius_d2").orderBy(col("round"))
  }

  /** Hybrid retrieval via reciprocal-rank fusion (Cormack & Clarke,
    * SIGIR'09): fuse a dense cosine top-`depth` ranking (embeddings)
    * with a sparse BM25 top-`depth` ranking (documents) into one list,
    * score(d) = Σ_systems floor(2^40 / (rrfK + rank_system(d))).
    *
    * RRF consumes only the RANKS, never the raw scores, so the fused
    * score is an exact BIGINT the moment both input rankings are exact
    * (both are separately oracle-gated: s01 / t16) — no score
    * normalization, no libm. Assumes `vec_id` and `doc_id` name the
    * same corpus (vector i embeds document i), the usual hybrid-search
    * contract.
    *
    * Distribution shape: both rankers already end in per-query top-k
    * lists (nQueries x depth rows each) — the fusion join, score sum
    * and final window all run on that bounded table, so fusion cost is
    * independent of corpus size. At 100 TB the rankers are the
    * persisted-index paths (s22/s25 IVF, a posting-list BM25); fusion
    * itself never touches the corpus.
    */
  def hybridRrfTopK(docs: DataFrame, embs: DataFrame, nQueries: Int,
                    depth: Int, k: Int, rrfK: Int = 60): DataFrame = {
    val Q = 1099511627776.0 // 2^40
    def contrib(rn: Column): Column =
      coalesce(floor(lit(Q) / (lit(rrfK).cast("double") + rn.cast("double")))
        .cast("long"), lit(0L))
    val dense = bruteForceTopK(embs, nQueries, depth)
      .select(col("query_id"), col("neighbor_id"), col("rn").as("rn_dense"))
    val sparse = graft.ext.TextAnalysis.bm25TopK(docs, nQueries, depth)
      .select(col("query_id"), col("neighbor_id"), col("rn").as("rn_sparse"))
    val fused = dense.join(sparse, Seq("query_id", "neighbor_id"), "full_outer")
      .withColumn("rrf_score", contrib(col("rn_dense")) + contrib(col("rn_sparse")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("neighbor_id"))
    fused.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rrf_score"), col("rn"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** Graph-based ANN: greedy BEAM SEARCH over a kNN proximity graph —
    * the NSW/HNSW family (Malkov & Yashunin 2016), the one modern ANN
    * index family next to the LSH (s02) and IVF/IVF-PQ (s12/s22)
    * paths. The index is a `g`-NN directed graph over the targets;
    * search starts from the `beam` lowest target ids (multi-entry, the
    * NSW convention) and for `rounds` iterations expands every beam node's neighbors, scores
    * the unseen ones, and keeps the best `beam` — returning the final
    * top-`k` of everything scored, each hit flagged `in_exact` against
    * the brute-force baseline (the recall audit riding along).
    *
    * Determinism: beam selection and the final cut order by
    * (cosine DESC, id); cosines are the portable DotProductD fold, and
    * re-scored duplicates carry identical bits so the per-round
    * DISTINCT is value-stable. The oracle unrolls the identical
    * rounds.
    *
    * Scale shape: the SEARCH is the scale path — per query the state
    * is ≤ beam + rounds·beam·g scored nodes (bounded, independent of
    * corpus size), advanced by equi-joins on node id against the
    * persisted edge table; this is exactly why graph indexes win at
    * billion-vector scale. The BUILD here is the exact all-pairs
    * kNN (one shuffle-hash self-join + per-node top-g window) — the
    * DECLARED exact baseline (d07 contract, spec-only);
    * [[nswSearchLsh]] is the registered scale path whose build is an
    * LSH-banded equi-join writing the same (a_id, b_id) edge table,
    * with everything downstream shared through [[nswBeam]].
    */
  def nswSearch(embs: DataFrame, nQueries: Int, g: Int = 8,
                beam: Int = 4, rounds: Int = 3, k: Int = 5): DataFrame = {
    require(g >= 1 && beam >= 1 && rounds >= 1 && k >= 1, "positive params")
    val qSide = side(embs.filter(col("vec_id") < nQueries), "q").cpGuard()
    val tSide = side(embs.filter(col("vec_id") >= nQueries), "t").cpGuard()
    // ---- index build: per-target top-g out-neighbors by cosine ----
    val a = tSide.toDF("a_id", "a_emb", "a_norm")
    val b = tSide.toDF("b_id", "b_emb", "b_norm")
    val wg = Window.partitionBy(col("a_id"))
      .orderBy(col("gcos").desc, col("b_id"))
    val edges = a.join(b.hint("shuffle_hash"), col("a_id") =!= col("b_id"))
      .withColumn("gcos", dotCol(col("a_emb"), col("b_emb")) /
        (col("a_norm") * col("b_norm")))
      .withColumn("grn", row_number().over(wg))
      .filter(col("grn") <= g)
      .select(col("a_id"), col("b_id"))
      .cpGuard() // the persisted index artifact
    nswBeam(embs, edges, qSide, tSide, nQueries, beam, rounds, k)
  }

  /** NSW with an LSH-BANDED graph build — the registered scale path
    * of [[nswSearch]]: instead of the exact all-pairs kNN (quadratic,
    * a nested-loop at any scale), candidate edges come from sign-LSH
    * band collisions. Each target's `nPlanes`-bit hyperplane bucket
    * ([[lshBuckets]] — planes are the corpus's lowest-id vectors, the
    * oracle-sharable determinism of s02) splits into
    * nPlanes/`bandBits` bands; two targets are candidate neighbors
    * iff they collide in ANY band (the minhash-banding OR-construction,
    * so the union graph stays connected across the hash space — a
    * single-bucket build would partition the graph into 2^nPlanes
    * islands the beam search could never cross). Per target the top-`g`
    * candidates by exact cosine become its out-edges; the beam search
    * is [[nswBeam]], byte-identical to the exact build's.
    *
    * Scale shape: banding is one codegen'd map pass (bucket id) + a
    * posexplode to nBands rows/target; candidate generation is an
    * equi-join on (band, band_key) — hash-partitioned, never a
    * nested loop — with [[HotBuckets]] capping pathological bands
    * (near-constant embedding clusters) before the join, the d31-d34
    * oracle-modeled guard. Recall/cost is governed by (nPlanes,
    * bandBits) exactly as in banded-minhash designs: at 100 TB you
    * raise nPlanes (more, smaller cells) and keep bandBits·nBands =
    * nPlanes. The `in_exact` recall audit rides along unchanged.
    */
  def nswSearchLsh(embs: DataFrame, nQueries: Int, nPlanes: Int = 8,
                   bandBits: Int = 4, g: Int = 8, beam: Int = 4,
                   rounds: Int = 3, k: Int = 5,
                   maxBucket: Int = Dedup.DefaultMaxBucket,
                   requireUnpruned: Boolean = false): DataFrame = {
    require(beam >= 1 && rounds >= 1 && k >= 1, "positive params")
    if (embs.isEmpty) // no planes to bucket by — degrade like lshCosineDupPairs
      return embs.sparkSession.emptyDataFrame
        .select(lit(0L).as("query_id"), lit(0L).as("neighbor_id"),
          lit(0.0).as("cosine"), lit(0).as("rn"), lit(false).as("in_exact"))
        .limit(0)
    val (edges, qSide, tSide) =
      lshGraph(embs, nQueries, nPlanes, bandBits, g, maxBucket, requireUnpruned)
    nswBeam(embs, edges, qSide, tSide, nQueries, beam, rounds, k)
  }

  /** The LSH-banded proximity-graph build of [[nswSearchLsh]], shared
    * with the s40 NN-descent refinement audit: returns the (a_id,
    * b_id) top-`g` edge table plus the query/target sides.
    */
  private def lshGraph(embs: DataFrame, nQueries: Int, nPlanes: Int,
                       bandBits: Int, g: Int, maxBucket: Int,
                       requireUnpruned: Boolean)
      : (DataFrame, DataFrame, DataFrame) = {
    require(g >= 1, "positive params")
    require(nPlanes >= 1 && bandBits >= 1 && nPlanes % bandBits == 0,
      "bandBits must divide nPlanes")
    // NOTE: overlapping the two side checkpoints with the banded-table
    // build (Par.eval3) was tried and reverted — paired A/B showed a
    // consistent +15% on s34 (three concurrent 32-task scan jobs over
    // the same tiny parquet thrash instead of amortizing); the §2.6
    // overlap only pays when branches are substantial pipelines
    val qSide = side(embs.filter(col("vec_id") < nQueries), "q").cpGuard()
    val tSide = side(embs.filter(col("vec_id") >= nQueries), "t").cpGuard()
    val nBands = nPlanes / bandBits
    val mask = (1L << bandBits) - 1L
    val bandedRaw = lshBuckets(embs, nPlanes)
      .filter(col("vec_id") >= nQueries)
      .select(col("vec_id"), posexplode(array((0 until nBands).map(j =>
        shiftright(col("bucket"), j * bandBits).bitwiseAND(mask)): _*))
        .as(Seq("band", "bkey")))
      .cpGuard() // count agg + both join sides read it
    val banded =
      if (requireUnpruned) {
        // cap-blind-oracle mode (s34): rather than silently pruning a
        // hot band and failing the gate as an opaque hash mismatch on
        // a larger fixture, assert the prune short-circuit precondition
        // so the failure is attributable (raise maxBucket or model the
        // cap in the oracle as d31-d34 do)
        val n = bandedRaw.count()
        require(n <= maxBucket,
          s"nswSearchLsh(requireUnpruned): $n banded rows exceed " +
            s"maxBucket=$maxBucket — the cap-blind oracle would diverge")
        bandedRaw
      } else HotBuckets.prune(bandedRaw, Seq("band", "bkey"), maxBucket)
    // a pair colliding in several bands must score once: distinct ids
    // BEFORE the cosine, so the per-node window sees no duplicates
    val cand = banded.toDF("a_id", "band", "bkey")
      .join(banded.toDF("b_id", "band", "bkey"), Seq("band", "bkey"))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
    val wg = Window.partitionBy(col("a_id"))
      .orderBy(col("gcos").desc, col("b_id"))
    val edges = cand
      .join(tSide.toDF("a_id", "a_emb", "a_norm"), "a_id")
      .join(tSide.toDF("b_id", "b_emb", "b_norm"), "b_id")
      .withColumn("gcos", dotCol(col("a_emb"), col("b_emb")) /
        (col("a_norm") * col("b_norm")))
      .withColumn("grn", row_number().over(wg))
      .filter(col("grn") <= g)
      .select(col("a_id"), col("b_id"))
      .cpGuard() // the persisted index artifact
    (edges, qSide, tSide)
  }

  /** NN-descent refinement of a proximity graph (Dong, Moses &
    * Li, WWW'11): per round, each node's candidate pool is its current
    * out-neighbors plus its neighbors' out-neighbors (one equi-join of
    * the edge table with itself), re-scored by exact cosine and cut to
    * the per-node top-`g`. The old edges stay in the pool, so each
    * node's neighbor list improves WEAKLY MONOTONICALLY in cosine —
    * band collisions give the seed, descent converges it toward the
    * true kNN graph. Candidate volume per round is bounded by n·g²
    * (g² two-hop pairs per node); the window partitions by node id.
    */
  def nnDescentRefine(edges: DataFrame, tSide: DataFrame, g: Int,
                      refineRounds: Int): DataFrame = {
    require(refineRounds >= 0, "refineRounds >= 0")
    var e = edges
    val wg = Window.partitionBy(col("a_id"))
      .orderBy(col("gcos").desc, col("b_id"))
    for (_ <- 1 to refineRounds) {
      val twoHop = e.toDF("a_id", "m_id")
        .join(e.toDF("m_id", "b_id"), "m_id")
        .filter(col("a_id") =!= col("b_id"))
        .select(col("a_id"), col("b_id"))
      e = e.select(col("a_id"), col("b_id")).unionAll(twoHop).distinct()
        .join(tSide.toDF("a_id", "a_emb", "a_norm"), "a_id")
        .join(tSide.toDF("b_id", "b_emb", "b_norm"), "b_id")
        .withColumn("gcos", dotCol(col("a_emb"), col("b_emb")) /
          (col("a_norm") * col("b_norm")))
        .withColumn("grn", row_number().over(wg))
        .filter(col("grn") <= g)
        .select(col("a_id"), col("b_id"))
        .cpGuard()
    }
    e
  }

  /** Recall audit of NN-descent refinement over the LSH-banded NSW
    * build (the s40 query): run [[nswBeam]] over the banded graph AND
    * over the refinement — the per-node top-g of [[nnDescentRefine]]
    * UNIONED with the original banded edges. Keeping the banded seed
    * edges is load-bearing: pure descent converges toward the exact
    * kNN graph, whose short-only links are famously hard to NAVIGATE
    * greedily (measured here: banded 29/50 hits at sf0.001 vs 28 after
    * one pure-descent round), while the union keeps the band
    * collisions' long-range links and adds descent's converged short
    * links — degree ≤ 2g, recall strictly up (29 -> 33 at sf0.001,
    * 20 -> 26 at sf0.01 for one round). Output: exact-integer recall@k
    * numerators for both variants plus the monotonicity verdict; the
    * oracle replays both graphs and both beam unrolls value-for-value.
    */
  def nswRefineAudit(embs: DataFrame, nQueries: Int, nPlanes: Int = 8,
                     bandBits: Int = 4, g: Int = 8, beam: Int = 4,
                     rounds: Int = 3, k: Int = 5, refineRounds: Int = 1,
                     maxBucket: Int = Dedup.DefaultMaxBucket,
                     requireUnpruned: Boolean = false): DataFrame = {
    require(beam >= 1 && rounds >= 1 && k >= 1, "positive params")
    // the graph chain (banded build + descent round) and the brute
    // baseline are independent eager pipelines — overlap their jobs
    // (guide §2.6); values are unchanged, only scheduling overlaps
    val (graphSide, exact) = graft.core.Par.eval2(
      {
        val (edges, qSide, tSide) = lshGraph(embs, nQueries, nPlanes,
          bandBits, g, maxBucket, requireUnpruned)
        val refined = nnDescentRefine(edges, tSide, g, refineRounds)
          .unionAll(edges).distinct().cpGuard()
        (edges, qSide, tSide, refined)
      },
      // ONE exact baseline shared by both variants' recall flags (the
      // brute pass is the audit's single most expensive stage)
      bruteForceTopK(embs, nQueries, k).cpGuard())
    val (edges, qSide, tSide, refined) = graphSide
    def hits(e: DataFrame, tag: String): DataFrame =
      nswBeam(embs, e, qSide, tSide, nQueries, beam, rounds, k,
        sharedExact = Some(exact))
        .agg(sum(when(col("in_exact"), 1L).otherwise(0L)).as(s"hits_$tag"),
          count(lit(1)).as(s"rows_$tag"))
    // the two beam searches read only checkpointed inputs (edge
    // tables, sides, the shared baseline) — overlap their round jobs
    val (hitsBanded, hitsRefined) = graft.core.Par.eval2(
      hits(edges, "banded"), hits(refined, "refined"))
    hitsBanded.crossJoin(hitsRefined)
      .select(col("hits_banded"), col("hits_refined"),
        col("rows_banded").as("n_rows"),
        (col("hits_refined") >= col("hits_banded")).as("refined_ge_banded"))
  }

  /** The shared greedy beam search + recall audit over a prebuilt
    * (a_id, b_id) proximity-graph edge table — the scale half of
    * [[nswSearch]]/[[nswSearchLsh]] (see nswSearch's scaladoc for the
    * bounded-state argument).
    */
  private def nswBeam(embs: DataFrame, edges: DataFrame, qSide: DataFrame,
                      tSide: DataFrame, nQueries: Int, beam: Int,
                      rounds: Int, k: Int,
                      sharedExact: Option[DataFrame] = None): DataFrame = {
    val entryIds = tSide.orderBy(col("t_id")).limit(beam)
      .collect().map(_.getLong(0))
    val qcos = dotCol(col("q_emb"), col("t_emb")) /
      (col("q_norm") * col("t_norm"))
    var scored = tSide.filter(col("t_id").isin(entryIds: _*))
      .crossJoin(broadcast(qSide))
      .withColumn("cosine", qcos)
      .select(col("q_id"), col("t_id"), col("cosine"))
      .cpGuard()
    var beamDf = scored
    val wb = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("t_id"))
    for (_ <- 1 to rounds) {
      val cand = beamDf.select(col("q_id"), col("t_id").as("a_id"))
        .join(edges, "a_id")
        .select(col("q_id"), col("b_id").as("t_id"))
        .distinct()
      val fresh = cand.join(tSide, "t_id")
        .join(broadcast(qSide), "q_id")
        .withColumn("cosine", qcos)
        .select(col("q_id"), col("t_id"), col("cosine"))
      scored = scored.union(fresh).distinct().cpGuard()
      // the beam cut derives lazily from the CHECKPOINTED scored set —
      // one window over a materialized table per round, not a second
      // materialization job (the round cost is job latency, not data)
      beamDf = scored.withColumn("rn", row_number().over(wb))
        .filter(col("rn") <= beam).drop("rn")
    }
    val exact = sharedExact.getOrElse(bruteForceTopK(embs, nQueries, k))
      .select(col("query_id").as("q_id"), col("neighbor_id").as("t_id"),
        lit(true).as("in_exact"))
    scored.withColumn("rn", row_number().over(wb))
      .filter(col("rn") <= k)
      .join(exact, Seq("q_id", "t_id"), "left")
      .select(col("q_id").as("query_id"), col("t_id").as("neighbor_id"),
        col("cosine"), col("rn"),
        coalesce(col("in_exact"), lit(false)).as("in_exact"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** Silhouette audit of the `label` partition (Rousseeuw 1987) under
    * SQUARED L2 — per point, a = mean squared distance to its own
    * cluster (self excluded), b = min over other clusters of the mean
    * squared distance, s = (b − a)/max(a, b); reported as the per-label
    * mean. The clustering-quality number behind any label-driven
    * curation cut (does cluster c actually cohere before we
    * subsample/dedup within it?).
    *
    * The 100 TB trick: Σ_{y∈C} ||x−y||² = n_C·||x||² − 2⟨x, S_C⟩ +
    * Σ_{y∈C}||y||², so all pairwise sums collapse to per-cluster
    * moments (n, per-dim sum vector S, sum of squared norms) — NEVER a
    * point-to-point join; cost is one per-dim groupBy plus a
    * (points × dims) ⋈ (clusters × dims) broadcast join, linear in the
    * corpus for fixed dims and cluster count.
    *
    * Exactness: inputs floor-quantized at 2^10 (floor(x·1024), exact:
    * power-of-two scale on exact float→double casts), so every moment
    * and every D = n·ss − 2·dot + ssum is a BIGINT (envelope: |f| <
    * 2^10·|x|, D < n·dim·f² — at 10^9 points/cluster and |x| ≤ 1 still
    * < 2^57). Per point exactly three IEEE divisions in one fixed
    * order (a = aD/an, b-candidates D/n with an order-free MIN, final
    * s), then floor(s·2^40) BIGINTs make the per-label mean
    * aggregation-order-free. Singleton clusters score s = 0 (the
    * Rousseeuw convention), as does the a = b = 0 degenerate.
    *
    * Output: (label, n_points, mean_s), ascending label.
    */
  def silhouette(embs: DataFrame): DataFrame = {
    val q = 1024L               // 2^10 input quantization
    val s40 = 1099511627776.0   // 2^40 silhouette quantization
    val base = graft.core.Tables.spread(embs)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"),
          x => floor(x.cast("double") * q).cast("long")).as("f"))
      .withColumn("ss", aggregate(col("f"), lit(0L),
        (a: Column, x: Column) => a + x * x))
      .cpGuard() // feeds the dim explode AND the per-point join
    val dims = base.select(col("vec_id"), col("label").as("own"),
      posexplode(col("f")).as(Seq("pos", "fx")))
    val cdim = dims.groupBy(col("own").as("label"), col("pos"))
      .agg(sum(col("fx")).as("s_pos"))
    val cstat = base.groupBy(col("label"))
      .agg(count(lit(1)).as("n"), sum(col("ss")).as("ssum"))
    // ⟨x, S_c⟩ for every (point, cluster): the only wide intermediate,
    // points×dims rows fanned out by the (tiny, broadcast) per-dim
    // cluster sums — partial-aggregable back down to points×clusters
    val dots = dims.join(broadcast(cdim), Seq("pos"))
      .groupBy(col("vec_id"), col("own"), col("label"))
      .agg(sum(col("fx") * col("s_pos")).as("dot"))
    val dd = dots
      .join(broadcast(cstat), Seq("label"))
      .join(base.select(col("vec_id"), col("ss")), Seq("vec_id"))
      .withColumn("bigD",
        col("n") * col("ss") - lit(2L) * col("dot") + col("ssum"))
    val ab = dd.groupBy(col("vec_id"), col("own"))
      .agg(
        max(when(col("label") === col("own"), col("bigD"))).as("aD"),
        (max(when(col("label") === col("own"), col("n"))) - 1L).as("an"),
        min(when(col("label") =!= col("own"),
          col("bigD").cast("double") / col("n").cast("double"))).as("b"))
    val aVal = col("aD").cast("double") / col("an").cast("double")
    val mx = greatest(aVal, col("b"))
    val sq = ab.withColumn("sqv",
      when(col("an") === 0L || mx === lit(0.0), lit(0L))
        .otherwise(floor((col("b") - aVal) / mx * s40).cast("long")))
    sq.groupBy(col("own").as("label"))
      .agg(count(lit(1)).as("n_points"), sum(col("sqv")).as("sum_q"))
      .select(col("label"), col("n_points"),
        ((col("sum_q").cast("double") / col("n_points").cast("double"))
          / s40).as("mean_s"))
      .orderBy(col("label"))
  }

  /** Top principal direction of the embedding cloud by POWER ITERATION
    * on the exact integer scatter matrix — the PCA-prep primitive
    * (dominant drift axis, whitening direction, 1-d projection for
    * stratification) done in the engine's exact-arithmetic discipline.
    *
    * Inputs floor-quantize at 2^10 (the [[silhouette]] rule); the
    * CENTERED scatter is the cross-multiplied integer S = n·Σff^T −
    * (Σf)(Σf)^T — no float mean ever subtracted. The corpus collapses
    * to (d per-dim sums) + (d×d Gram) in ONE partial-aggregable
    * aggregation pass over a per-vector d² fan-out (linear in corpus
    * size for fixed dims — never a point-pair join), and the iteration
    * runs on the collected d×d matrix in arbitrary-precision integers
    * (the c23/c25 bounded-collect contract: d² values, independent of
    * corpus size; BigInt so no envelope cliff at any n).
    *
    * Each round: u = S·v, then renormalize v' = sign(u)·(|u|·512 /
    * max|u|) with TRUNCATING division on the non-negative magnitude
    * (truncation = floor there, identical in both engines) — v stays
    * in [−512, 512], every round is exact integer arithmetic, and the
    * whole trajectory replays digit-for-digit in the oracle's unrolled
    * HUGEINT CTEs. Fixed `rounds` (the [[graft.ext.Graphs.pageRank]]
    * determinism contract); sign fixed by the all-512 start.
    *
    * `lambda_u20` = floor(v^T S v · 2^20 / (v^T v · n²)) — the
    * Rayleigh quotient normalized per point-pair, so it stays BIGINT
    * at any corpus size (it is the per-point variance along v, scaled
    * 2^20).
    *
    * Output: (pos, v, lambda_u20) for pos 0..d−1 ascending.
    */
  def pcaPower(embs: DataFrame, rounds: Int = 6): DataFrame = {
    require(rounds >= 1, "rounds >= 1")
    val q = 1024L
    val base = graft.core.Tables.spread(embs)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * q).cast("long")).as("f"))
    val dims = base
      .select(col("vec_id"), posexplode(col("f")).as(Seq("pos", "fx")))
      .cpGuard() // feeds sums AND both sides of the Gram fan-out
    val n = BigInt(base.count())
    val sums = dims.groupBy(col("pos")).agg(sum(col("fx")).as("s"))
      .collect().map(r => r.getInt(0) -> BigInt(r.getLong(1))).toMap
    val da = dims.select(col("vec_id"), col("pos").as("i"), col("fx").as("fa"))
    val db = dims.select(col("vec_id"), col("pos").as("j"), col("fx").as("fb"))
    val gram = da.join(db, Seq("vec_id"))
      .groupBy(col("i"), col("j")).agg(sum(col("fa") * col("fb")).as("g"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> BigInt(r.getLong(2))).toMap
    val d = sums.size
    require(d > 0, "pcaPower over an empty corpus")
    val scat = Array.tabulate(d, d)((i, j) => n * gram((i, j)) - sums(i) * sums(j))
    var v = Array.fill(d)(BigInt(512))
    for (_ <- 1 to rounds) {
      val u = Array.tabulate(d)(i =>
        (0 until d).map(j => scat(i)(j) * v(j)).sum)
      val mx = u.map(_.abs).max
      require(mx > BigInt(0), "degenerate zero scatter (constant corpus)")
      v = u.map(x =>
        (if (x.signum < 0) BigInt(-1) else BigInt(1)) * (x.abs * 512 / mx))
    }
    val vSv = (0 until d).map(i =>
      (0 until d).map(j => v(i) * scat(i)(j) * v(j)).sum).sum
    val vv = v.map(x => x * x).sum
    val lambda = (vSv * BigInt(1048576)) / (vv * n * n)
    val spark = embs.sparkSession
    import spark.implicits._
    (0 until d).map(i => (i, v(i).toLong, lambda.toLong))
      .toDF("pos", "v", "lambda_u20")
      .orderBy(col("pos"))
  }

  /** DuckDB twin of [[jlProject]]'s row expression: the projected list
    * literal-for-literal in the same fold order (`emb` names a
    * LIST(FLOAT) column).
    */
  def jlProjectSql(emb: String, inDims: Int = 64, outDims: Int = 16): String = {
    val signs = jlSigns(inDims, outDims)
    val dims = (0 until outDims).map { k =>
      val chain = (0 until inDims).foldLeft("CAST(0.0 AS DOUBLE)") { (acc, j) =>
        val op = if (signs(k)(j) > 0) "+" else "-"
        s"($acc $op CAST($emb[${j + 1}] AS DOUBLE))"
      }
      s"CAST($chain AS REAL)"
    }
    dims.mkString("list_value(", ", ", ")")
  }
}
