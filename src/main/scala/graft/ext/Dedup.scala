package graft.ext
import graft.core.PlanCapture.CheckpointOps

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Hashing
import graft.functions.Hashing.{h32, MersennePrime => P}

/** Deduplication operators for large text corpora.
  *
  * Four families, in increasing fuzziness:
  *  - exact:     md5-of-text group-by (one shuffle on a 16-byte key);
  *  - MinHash:   word-shingle minhash signatures -> LSH band buckets ->
  *               candidate pairs -> exact Jaccard verification. Only
  *               candidate pairs are verified, so the quadratic step is
  *               confined to hash buckets — the standard 100 TB dedup
  *               shape (shuffles are all key-partitioned; no global
  *               cross join anywhere);
  *  - SimHash:   64-bit sign-of-weighted-sum fingerprint (Manku et al.);
  *               near-dup candidates share one of four 16-bit bands,
  *               verified by Hamming distance;
  *  - n-gram:    character-n-gram Jaccard over metadata-restricted
  *               candidate pairs (same lang, similar length).
  *
  * Everything is built from codegen'd column expressions (no UDFs) and
  * is verified value-for-value against a DuckDB oracle (ExtQueries).
  */
object Dedup {

  val ShingleSize = 3
  val Bands = 4
  val Rows = 4 // Bands * Rows == Hashing.perms.size

  /** SimHash shape (Manku et al., WWW'07): 64 fingerprint bits cut into
    * 4 bands of 16 bits. Band-key cardinality is Bands * 2^BandBits =
    * 262,144 — the candidate join fans out over that keyspace instead of
    * the 1,024 keys a 32-bit/8-bit-band shape caps out at, so expected
    * random collisions per bucket shrink by 256x and parallelism scales
    * with the corpus. Pairs within Hamming distance SimhashBands-1 are
    * guaranteed to share a band (pigeonhole).
    */
  val SimhashBits = 64
  val SimhashBands = 4
  val SimhashBandBits: Int = SimhashBits / SimhashBands // 16
  val SimhashBandMask: Long = (1L << SimhashBandBits) - 1 // 65535

  /** Default hot-bucket cap for candidate self-joins ([[HotBuckets]]):
    * one bucket then yields at most ~5e7 pairs — a bounded task, not a
    * runaway. Far above any bucket the verification corpora produce
    * (the oracles assume the cap is not hit at test scale); tune per
    * corpus at production scale.
    */
  val DefaultMaxBucket = 10000

  /** Exact-duplicate groups: docs whose full text hashes identically.
    * At scale this is one hash-partitioned aggregation on md5(text).
    */
  def exactDupGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_md5"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
      .filter(col("n_copies") > 1)
      .orderBy(col("text_md5"))

  /** Corpus-level dedup stats: total vs distinct docs. */
  def exactDupStats(docs: DataFrame): DataFrame =
    docs.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(md5(col("text"))).as("n_unique"),
      (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dupes"))

  /** (doc_id, shingle) exploded table of distinct word shingles.
    * The scan is spread first: shingling + hashing is CPU-bound and the
    * explode otherwise inherits the input's split count.
    */
  def shingleTable(docs: DataFrame): DataFrame =
    graft.core.Tables.spread(docs).select(col("doc_id"),
      explode(TextOps.wordShingles(col("text"), ShingleSize)).as("s"))

  /** MinHash signatures: one row per doc, columns m0..m15. One pass per
    * document via [[graft.functions.MinhashSigOf]] — no shingle explode,
    * no 16-min aggregate, no shuffle; [[minhashSignaturesViaAgg]] is the
    * composed twin kept for the equivalence spec.
    */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    val sig = graft.core.Tables.spread(docs)
      .select(col("doc_id"),
        graft.functions.MinhashSigOf(col("text"), ShingleSize).as("sig"))
      .filter(col("sig").isNotNull) // < ShingleSize words: no signature
    sig.select(col("doc_id") +:
      Hashing.perms.indices.map(j => col("sig")(j).as(s"m$j")): _*)
  }

  /** Explode + aggregate formulation of [[minhashSignatures]]. */
  def minhashSignaturesViaAgg(docs: DataFrame): DataFrame = {
    val hashed = shingleTable(docs).withColumn("h", h32(col("s")))
    val mins = Hashing.perms.zipWithIndex.map { case ((a, b), j) =>
      min(pmod(lit(a) * col("h") + lit(b), lit(P))).as(s"m$j")
    }
    hashed.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** (doc_id, band_idx, band_key) — LSH buckets from the signature. */
  def minhashBands(sig: DataFrame): DataFrame =
    minhashBandsShaped(sig, Bands, Rows)

  /** [[minhashBands]] at an arbitrary (bands, rows) cut of the
    * signature (bands * rows <= permutation count) — the LSH tuning
    * axis: more/shorter bands collide more (higher recall, more
    * candidates to verify); fewer/longer bands are cheaper but
    * blinder. The d36 sweep measures exactly this trade.
    */
  def minhashBandsShaped(sig: DataFrame, bands: Int, rows: Int): DataFrame = {
    require(bands >= 1 && rows >= 1 && bands * rows <= Hashing.perms.size,
      s"bands * rows must fit the ${Hashing.perms.size}-permutation signature")
    val bandCols = (0 until bands).map { bi =>
      concat_ws(",", (0 until rows).map(ri => col(s"m${bi * rows + ri}")): _*)
    }
    sig.select(col("doc_id"),
      posexplode(array(bandCols: _*)).as(Seq("band_idx", "band_key")))
  }

  /** Estimator-accuracy audit for the minhash family: for every LSH
    * candidate pair, the SIGNATURE-based Jaccard estimate (matching
    * components / permutation count — the unbiased minhash estimator)
    * next to the exact shingle Jaccard, with the absolute error. This
    * is the calibration table that justifies trusting the signature
    * at 100 TB (where exact verification is reserved for candidates):
    * a drifting error distribution means the permutation count is too
    * small for the corpus's similarity regime.
    *
    * Both scores are single IEEE divisions of exact integers, and the
    * error is one subtraction + abs — hash-verifiable cross-engine.
    * Cost shape = one extra bounded-width column on the d05 candidate
    * path (signatures join by doc id, never a second exploded join).
    */
  def minhashEstimatorError(docs: DataFrame,
                            maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val nPerms = Hashing.perms.size
    val cand = minhashSelfCandidates(docs, maxBucket).cpGuard()
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b"))).distinct()
    val needed = docs.join(candDocs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        graft.functions.MinhashSigOf(col("text"), ShingleSize).as("sig"),
        array_sort(TextOps.wordShingles(col("text"), ShingleSize))
          .as("arr"))
      .cpGuard() // feeds both pair joins
    val scored = cand
      .join(needed.select(col("doc_id").as("doc_a"),
        col("sig").as("sig_a"), col("arr").as("arr_a"))
        .hint("shuffle_hash"), "doc_a")
      .join(needed.select(col("doc_id").as("doc_b"),
        col("sig").as("sig_b"), col("arr").as("arr_b"))
        .hint("shuffle_hash"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(filter(zip_with(col("sig_a"), col("sig_b"),
          (a, b) => a === b), x => x)).as("n_match"),
        graft.functions.SortedIntersectCount(col("arr_a"), col("arr_b"))
          .as("n_common"),
        size(col("arr_a")).as("na"), size(col("arr_b")).as("nb"))
    val est = col("n_match").cast("double") / lit(nPerms.toDouble)
    val exact = col("n_common").cast("double") /
      (col("na") + col("nb") - col("n_common"))
    scored
      .withColumn("est_jaccard", est)
      .withColumn("jaccard", exact)
      .withColumn("abs_err", abs(est - exact))
      .select(col("doc_a"), col("doc_b"), col("n_match"), col("n_common"),
        col("est_jaccard"), col("jaccard"), col("abs_err"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Near-duplicate pairs with exact Jaccard >= threshold.
    * Pipeline: signatures -> band buckets (hot buckets capped, see
    * [[HotBuckets]]) -> distinct candidate pairs -> per-pair
    * array_intersect verification (codegen'd set intersection on the
    * two shingle arrays — no second exploded shuffle join).
    * Output: (doc_a, doc_b, n_common, jaccard).
    */
  def minhashDup(docs: DataFrame, threshold: Double,
                 maxBucket: Int = DefaultMaxBucket): DataFrame =
    jaccardVerify(minhashSelfCandidates(docs, maxBucket), docs,
      array_sort(TextOps.wordShingles(col("text"), ShingleSize)), threshold)

  /** Near-SUPERSET pairs: exact Jaccard CONTAINMENT
    * |A∩B| / min(|A|,|B|) >= threshold over the same minhash-band
    * candidates as [[minhashDup]] — the boilerplate-wrapper /
    * quoted-reply shape where one doc's shingles nearly embed in
    * another's, which plain Jaccard under-scores when sizes differ.
    * Scoped honestly: symmetric minhash banding recalls pairs of
    * comparable size; a small doc swallowed by a 100x larger one needs
    * asymmetric banding (band only the smaller side's shingle subsets)
    * to collide — same verification, different candidate generator.
    * Output: (doc_a, doc_b, n_common, containment).
    */
  def containmentDup(docs: DataFrame, threshold: Double,
                     maxBucket: Int = DefaultMaxBucket): DataFrame =
    jaccardVerify(minhashSelfCandidates(docs, maxBucket), docs,
      array_sort(TextOps.wordShingles(col("text"), ShingleSize)), threshold,
      scoreName = "containment",
      score = (n, sa, sb) => n.cast("double") / least(sa, sb))

  /** ASYMMETRIC containment dedup — the recall path [[containmentDup]]
    * scopes out: a doc whose shingles nearly embed in a 100x larger doc
    * never collides with it under symmetric minhash banding (their
    * Jaccard is tiny), but its BOTTOM-K smallest shingle hashes are,
    * with probability ~containment each, present in the host doc. So
    * the probe side is each doc's K minimal shingle hashes and the host
    * side is the full inverted shingle index; any hash hit makes a
    * DIRECTED candidate (probe, host), verified exactly as
    * |A∩B| / |A| >= threshold.
    *
    * Scale shape: the candidate join is keyed by shingle hash — the
    * inverted-index build a production system persists once. Stop-like
    * shingles shared by everyone are the hot keys here, and
    * [[HotBuckets.prune]] caps postings per shingle before the join
    * (capped shingles can't nominate candidates; a doc contained via
    * only ultra-common shingles is boilerplate better caught by
    * [[repeatedPassages]]). Probe rows are K per doc regardless of doc
    * size — the asymmetry that makes small-in-large recall size-free.
    *
    * Output: DIRECTED (doc_a, doc_b, n_common, containment) with doc_a
    * the contained candidate.
    */
  def containmentDupAsym(docs: DataFrame, threshold: Double,
                         probeK: Int = 4, minProbeHits: Int = 2,
                         maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(probeK > 0 && minProbeHits >= 1 && minProbeHits <= probeK,
      "probeK > 0, 1 <= minProbeHits <= probeK")
    val spread = graft.core.Tables.spread(docs)
    // per-doc SORTED DISTINCT shingle hashes in one compiled pass
    // (ShingleHashesOf): no exploded distinct, no per-doc window, and no
    // per-shingle interpreted md5 expression tree — checkpointed compact
    // (one array row per doc) so probes, the inverted index, and the
    // pruner's bucket count all derive from one hashing pass. The
    // bottom-K probe sketch is just the array's first K elements.
    val indexed = spread
      .select(col("doc_id"),
        graft.functions.ShingleHashesOf(col("text"), ShingleSize).as("hs"))
      .filter(col("hs").isNotNull)
      .cpGuard()
    val probes = indexed
      .select(col("doc_id").as("doc_a"),
        explode(slice(col("hs"), 1, probeK)).as("h"))
    val host = HotBuckets.prune(
      indexed.select(col("doc_id").as("doc_b"), explode(col("hs")).as("h")),
      Seq("h"), maxBucket)
    // A's bottom-K is a uniform sample of A's shingles, so the number
    // of probe agreements j estimates containment as j/K — requiring
    // minProbeHits >= 2 of 4 drops the long tail of single-shared-
    // shingle pairs (measured 60x fewer candidates at sf0.1) and for
    // threshold 0.8 misses a true pair with probability
    // P[Binom(4, 0.8) <= 1] ~ 2.7%, the documented recall trade.
    val cand = probes.join(host.hint("shuffle_hash"), "h")
      .filter(col("doc_a") =!= col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("__hits"))
      .filter(col("__hits") >= minProbeHits)
      .select(col("doc_a"), col("doc_b"))
    jaccardVerify(cand, docs,
      array_sort(TextOps.wordShingles(col("text"), ShingleSize)), threshold,
      scoreName = "containment",
      score = (n, sa, _) => n.cast("double") / sa)
  }

  /** Incremental [[containmentDupAsym]]: bottom-K probes of the NEW
    * batch only against the inverted shingle index of the EXISTING
    * corpus — the ingestion-time question ("is this fresh doc
    * near-contained in something we already hold?") without re-pairing
    * the corpus with itself. At cluster scale the corpus index is what
    * you'd persist bucketed by `h` (exactly the
    * [[graft.streaming.BatchState]] shape StreamDedup uses for minhash
    * bands) so the per-batch probe joins
    * the corpus side exchange-free; probe rows stay K per new doc
    * regardless of corpus size. doc_ids must be disjoint across the
    * two inputs. Output: DIRECTED (doc_a = new contained candidate,
    * doc_b = corpus host, n_common, containment).
    */
  def containmentDupAsymAgainst(corpus: DataFrame, newDocs: DataFrame,
                                threshold: Double,
                                probeK: Int = 4, minProbeHits: Int = 2,
                                maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(probeK > 0 && minProbeHits >= 1 && minProbeHits <= probeK,
      "probeK > 0, 1 <= minProbeHits <= probeK")
    def hashed(docs: DataFrame): DataFrame = graft.core.Tables.spread(docs)
      .select(col("doc_id"),
        graft.functions.ShingleHashesOf(col("text"), ShingleSize).as("hs"))
      .filter(col("hs").isNotNull)
    val probes = hashed(newDocs)
      .select(col("doc_id").as("doc_a"),
        explode(slice(col("hs"), 1, probeK)).as("h"))
    val host = HotBuckets.prune(
      hashed(corpus).cpGuard() // prune count + candidate join
        .select(col("doc_id").as("doc_b"), explode(col("hs")).as("h")),
      Seq("h"), maxBucket)
    val cand = probes.join(host.hint("shuffle_hash"), "h")
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("__hits"))
      .filter(col("__hits") >= minProbeHits)
      .select(col("doc_a"), col("doc_b"))
    jaccardVerify(cand, corpus.unionByName(newDocs),
      array_sort(TextOps.wordShingles(col("text"), ShingleSize)), threshold,
      scoreName = "containment",
      score = (n, sa, _) => n.cast("double") / sa)
  }

  /** Incremental [[containmentDupAsymAgainst]] against a PREBUILT
    * corpus posting table (doc_id, h) — the persisted-state shape
    * [[graft.streaming.StreamContainment]] maintains as an h-bucketed
    * batch table, so the per-batch probe equi-join reads the corpus
    * side with NO Exchange (only the K-per-doc probe rows shuffle).
    * Corpus docs ride separately: text is needed only to verify the
    * (pair-sized) candidate set exactly. Output: DIRECTED (doc_a = new
    * contained candidate, doc_b = corpus host, n_common, containment).
    */
  def containmentDupAsymAgainstPostings(corpusPostings: DataFrame,
                                        corpusDocs: DataFrame,
                                        newDocs: DataFrame,
                                        threshold: Double,
                                        probeK: Int = 4, minProbeHits: Int = 2,
                                        maxBucket: Int = DefaultMaxBucket)
      : DataFrame = {
    require(probeK > 0 && minProbeHits >= 1 && minProbeHits <= probeK,
      "probeK > 0, 1 <= minProbeHits <= probeK")
    val probes = graft.core.Tables.spread(newDocs)
      .select(col("doc_id"),
        graft.functions.ShingleHashesOf(col("text"), ShingleSize).as("hs"))
      .filter(col("hs").isNotNull)
      .select(col("doc_id").as("doc_a"),
        explode(slice(col("hs"), 1, probeK)).as("h"))
    // the hot-posting count and the anti-join both group on h — over the
    // h-bucketed table each plans without an Exchange of the corpus side
    val host = HotBuckets.prune(
      corpusPostings.select(col("doc_id").as("doc_b"), col("h")),
      Seq("h"), maxBucket)
    val cand = probes.join(host.hint("shuffle_hash"), "h")
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("__hits"))
      .filter(col("__hits") >= minProbeHits)
      .select(col("doc_a"), col("doc_b"))
    jaccardVerify(cand, corpusDocs.unionByName(newDocs),
      array_sort(TextOps.wordShingles(col("text"), ShingleSize)), threshold,
      scoreName = "containment",
      score = (n, sa, _) => n.cast("double") / sa)
  }

  /** Distinct candidate pairs (doc_a < doc_b) from a minhash-band
    * self-join, hot buckets capped — the shared front half of
    * [[minhashDup]] and [[containmentDup]].
    */
  private def minhashSelfCandidates(docs: DataFrame, maxBucket: Int)
      : DataFrame =
    selfCandidatesFromBands(minhashBands(minhashSignatures(docs)), docs,
      maxBucket)

  /** Distinct (doc_a < doc_b) candidate pairs from any banded table.
    * The cap cannot trigger when the whole corpus fits in one bucket's
    * budget — one cheap row count (narrow parquet scan) decides, and
    * the uncapped shape keeps the plan free of the checkpoint + prune
    * jobs. When active: checkpointed, because the banded table is
    * referenced by the bucket-count agg and both self-join sides (the
    * multi-reference rule).
    */
  private def selfCandidatesFromBands(rawBands: DataFrame, docs: DataFrame,
                                      maxBucket: Int): DataFrame = {
    val bands =
      if (maxBucket == Int.MaxValue || docs.count() <= maxBucket) rawBands
      else HotBuckets.prune(rawBands.cpGuard(),
        Seq("band_idx", "band_key"), maxBucket)
    bands.as("x").join(bands.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
        col("x.band_key") === col("y.band_key") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** [[minhashDup]] at an arbitrary (bands, rows) signature cut — same
    * candidate/verify pipeline, shaped banding
    * ([[minhashBandsShaped]]).
    */
  def minhashDupShaped(docs: DataFrame, threshold: Double, bands: Int,
                       rows: Int,
                       maxBucket: Int = DefaultMaxBucket): DataFrame =
    minhashDupShapedFromSig(minhashSignatures(docs), docs, threshold,
      bands, rows, maxBucket)

  /** [[minhashDupShaped]] with the signature table precomputed — a
    * band-shape SWEEP (d36) hashes the corpus ONCE and cuts the same
    * m0..m15 signature at every (bands, rows) point, instead of
    * re-shingling and re-hashing per point; the signature is the
    * expensive pass, the cut is a projection.
    */
  def minhashDupShapedFromSig(sig: DataFrame, docs: DataFrame,
                              threshold: Double, bands: Int, rows: Int,
                              maxBucket: Int = DefaultMaxBucket): DataFrame =
    jaccardVerify(
      selfCandidatesFromBands(
        minhashBandsShaped(sig, bands, rows), docs,
        maxBucket),
      docs,
      array_sort(TextOps.wordShingles(col("text"), ShingleSize)), threshold)

  /** Incremental near-dedup: MinHash+LSH candidates between NEW docs
    * and an EXISTING corpus only — the production ingestion shape
    * (dedup a fresh crawl batch against the indexed corpus without
    * re-pairing the corpus with itself). Candidates come from a
    * new-bands x corpus-bands equi-join (no self-pairs by
    * construction), then exact Jaccard verification over both sides.
    * At scale the corpus band table is what you'd persist (bucketed by
    * band key) and probe per batch. doc_ids must be disjoint across
    * the two inputs. Output: (doc_a = new id, doc_b = corpus id,
    * n_common, jaccard).
    */
  def minhashDupAgainst(corpus: DataFrame, newDocs: DataFrame,
                        threshold: Double,
                        maxBucket: Int = DefaultMaxBucket): DataFrame =
    minhashDupAgainstBands(
      // checkpointed: the prune's count and the candidate join both
      // read it; a persisted band table (the other overload's caller)
      // is already materialized
      minhashBands(minhashSignatures(corpus)).cpGuard(),
      corpus, newDocs, threshold, maxBucket)

  /** [[minhashDupAgainst]] with the corpus BAND TABLE precomputed — the
    * truly incremental form: the caller persists (doc_id, band_idx,
    * band_key) once (bucketed by band key at scale) and each new batch
    * only bands ITSELF, probes the table, and appends its own bands.
    * Banding the accumulated corpus per batch goes from O(corpus) to
    * O(batch); [[graft.streaming.StreamDedup]] keeps its state this
    * way. `corpusDocs` supplies texts for exact verification of the
    * candidate docs only (semi-joined down inside jaccardVerify).
    */
  def minhashDupAgainstBands(corpusBands: DataFrame, corpusDocs: DataFrame,
                             newDocs: DataFrame, threshold: Double,
                             maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val cand = bandProbeJoin(corpusBands,
      minhashBands(minhashSignatures(newDocs)).cpGuard(), maxBucket)
      .distinct()
    jaccardVerify(cand, corpusDocs.unionByName(newDocs),
      array_sort(TextOps.wordShingles(col("text"), ShingleSize)), threshold)
  }

  /** The probe half of [[minhashDupAgainstBands]] before pair-dedup:
    * new-bands x corpus-bands equi-join on (band_idx, band_key), hot
    * buckets capped on both sides, emitting DIRECTED raw candidates
    * (doc_a = new, doc_b = corpus). Factored out so plan tests can
    * assert the scale contract directly: when `corpusBands` is a table
    * bucketed by the two join keys (a [[graft.streaming.BatchState]] —
    * [[graft.streaming.StreamDedup]]'s state shape), this join plans with NO Exchange on the corpus side;
    * only the O(batch) new side shuffles.
    */
  private[graft] def bandProbeJoin(corpusBands: DataFrame, newBands: DataFrame,
                                   maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val cb = HotBuckets.prune(corpusBands, Seq("band_idx", "band_key"), maxBucket)
    val nb = HotBuckets.prune(newBands, Seq("band_idx", "band_key"), maxBucket)
    nb.as("x").join(cb.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
        col("x.band_key") === col("y.band_key"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
  }

  /** Exact-Jaccard verification of candidate pairs against per-doc
    * element arrays: a codegen'd sorted-merge intersect count over a
    * pair join (the arrays are sorted once per doc; per-pair cost is
    * then an allocation-free O(n+m) scan instead of array_intersect's
    * per-row hash set). `arrExpr` must produce the final (sorted)
    * per-doc value; `sizeOf` maps it to its element count (overridden
    * when the value is a struct of alternative representations).
    *
    * Scale shape: the corpus is semi-joined down to docs that appear in
    * some candidate pair BEFORE the array expression is applied — the
    * join-then-project order is explicit here because Catalyst does NOT
    * push a left-semi join below a projection, so projecting first
    * would shingle the whole corpus to verify a handful of pairs (at
    * sf0.1: 3.7 s of wasted corpus-wide shingling, measured). The
    * candidate arrays then attach to the pairs with two key-partitioned
    * shuffle-hash joins. Nothing corpus-sized is broadcast or sorted
    * anywhere in the stage.
    */
  private def jaccardVerify(cand0: DataFrame, docs: DataFrame,
                            arrExpr: Column, threshold: Double,
                            intersect: (Column, Column) => Column =
                              graft.functions.SortedIntersectCount(_, _),
                            sizeOf: Column => Column = size,
                            scoreName: String = "jaccard",
                            score: (Column, Column, Column) => Column =
                              (n, sa, sb) => n.cast("double") / (sa + sb - n))
      : DataFrame = {
    val parts = cand0.sparkSession.sessionState.conf.numShufflePartitions
    // The plan below references the candidate-pair subtree three times
    // (join left + the semi-join inside each `needed` branch); the
    // minhash/band candidate generation is too expensive to risk
    // re-execution if ReuseExchange fails to dedupe the subtrees (AQE
    // can specialize them apart) — materialize once, as dupClusters does.
    val cand = cand0.cpGuard()
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b")))
      .distinct()
    // materialized for the same reason as cand: `needed` (the
    // shingle/ngram arrays of candidate docs) feeds BOTH pair joins.
    // spread AFTER the semi-join, BEFORE the array expression: the
    // broadcast semi-join preserves the scan's partitioning (one task
    // per input file — measured 1.5 s of single-task shingling on d34
    // over a one-file corpus), and only the surviving candidate docs
    // move, never the corpus
    val needed = graft.core.Tables
      .spread(docs.join(candDocs, Seq("doc_id"), "left_semi"))
      .select(col("doc_id"), arrExpr.as("arr"))
      .cpGuard()
    cand
      .join(needed.select(col("doc_id").as("doc_a"), col("arr").as("arr_a"))
        .hint("shuffle_hash"), "doc_a")
      .join(needed.select(col("doc_id").as("doc_b"), col("arr").as("arr_b"))
        .hint("shuffle_hash"), "doc_b")
      // Explicit repartition: the surviving pair table is tiny in bytes,
      // so AQE would coalesce it into one partition — and then the
      // expensive per-pair intersections below would run in a single
      // task. Spreading by pair key keeps the CPU-bound stage wide.
      .repartition(parts, col("doc_a"), col("doc_b"))
      .withColumn("n_common", intersect(col("arr_a"), col("arr_b")))
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        score(col("n_common"),
          sizeOf(col("arr_a")), sizeOf(col("arr_b"))).as(scoreName))
      .filter(col(scoreName) >= threshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Connected components over near-duplicate pairs: every doc in a dup
    * cluster gets the cluster's minimum doc_id as representative — the
    * step that turns pair detection into actual dedup groups (keep the
    * rep, drop the rest).
    *
    * Iterative min-label propagation: each round joins labels across
    * edges and keeps the minimum; stops at fixpoint. Near-dup graphs
    * are bounded-diameter (clusters are small), so rounds stay in the
    * single digits at any corpus size; each round is one shuffle join —
    * the standard large-scale CC shape (cf. GraphX/connected components)
    * without a graph library dependency.
    *
    * Output: (doc_id, rep_id) for every doc appearing in a pair, with
    * rep_id < doc_id rows marking the drops.
    */
  def dupClusters(pairs: DataFrame,
                  driverThreshold: Long = SmallInput.DefaultThreshold): DataFrame = {
    import org.apache.spark.sql.Observation
    // undirected edges + self-loops, materialized once by the gate
    // (localCheckpoint, not cache) so the upstream candidate-generation
    // pipeline is never replayed — and so each round's plan starts from
    // a materialized RDD instead of nesting one join deeper per round
    // (unbounded lineage would make recovery from an executor loss
    // replay the whole chain). A dup-pair graph at or below the
    // threshold doesn't need iterative shuffle rounds: each distributed
    // round costs whole jobs of fixed overhead regardless of size. Same
    // min-label answer from a driver union-find; the loop below remains
    // the shape for graphs that genuinely don't fit.
    SmallInput.gate(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b"), col("doc_a")))
        .distinct(), driverThreshold)(driverUnionFind) { (edges, _) =>
      // labels only ever decrease, so the label sum is a monotone
      // fixpoint witness: unchanged sum <=> converged (cheaper than a
      // per-round diff join). The sum rides on the checkpoint job via
      // observe(), so each round is exactly ONE job.
      def materialize(df: DataFrame, obsName: String): (DataFrame, Long) = {
        val obs = Observation(obsName)
        val chk = df.observe(obs, sum(col("rep_id")).as("label_sum"))
          .cpGuard()
        (chk, obs.get("label_sum").asInstanceOf[Long])
      }
      var (labels, prevSum) = materialize(
        edges.select(col("src").as("doc_id"))
          .union(edges.select(col("dst")))
          .distinct()
          .withColumn("rep_id", col("doc_id")),
        "cc_init")
      var changed = true
      var rounds = 0
      while (changed && rounds < 50) {
        val viaEdges = edges
          .join(labels.withColumnRenamed("doc_id", "dst_id"),
            col("dst") === col("dst_id"))
          .select(col("src").as("doc_id"), col("rep_id"))
        val (next, curSum) = materialize(
          labels.select(col("doc_id"), col("rep_id"))
            .union(viaEdges)
            .groupBy(col("doc_id"))
            .agg(min(col("rep_id")).as("rep_id")),
          s"cc_round_$rounds")
        changed = curSum != prevSum
        prevSum = curSum
        labels = next
        rounds += 1
      }
      labels.orderBy(col("doc_id"))
    }
  }

  /** Min-union find over collected (src, dst) edge rows — the shared
    * below-threshold path of [[dupClusters]] and [[dupClustersTwoPhase]]:
    * identical labels to either distributed loop (root chosen by
    * min-union IS the component minimum), one bounded collect instead
    * of whole jobs of fixed overhead per round.
    */
  private def driverUnionFind(small: SmallInput.Collected): DataFrame = {
    val spark = small.input.sparkSession
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    small.rows.foreach { e =>
      val (ra, rb) = (find(e.getAs[Number](0).longValue),
        find(e.getAs[Number](1).longValue))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // root chosen by min-union, so root IS the component minimum
    parent.keys.toSeq.map(v => (v, find(v)))
      .toDF("doc_id", "rep_id").orderBy(col("doc_id"))
  }

  /** Connected components by alternating large-star / small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the O(log n)-round scale path next to [[dupClusters]]'s
    * min-label loop, whose round count is the graph DIAMETER: a near-dup
    * chain of D exact-copies-of-copies costs D shuffle rounds there but
    * ~log D here, because both star operations contract whole
    * neighborhoods onto their minimum at once.
    *
    * Per round: large-star connects every neighbor v > u to
    * m = min(Γ⁺(u)); small-star connects every neighbor v <= u (and u)
    * to m. Each is one groupBy(u).min + one co-partitioned equi-join +
    * distinct — the same per-round shuffle shape as [[Graphs.pageRank]],
    * with per-round localCheckpoints bounding lineage. The fixpoint test
    * is exact set equality (count + one-sided exceptAll), not a
    * fingerprint — a hash-collision false fixpoint would silently
    * mislabel components — and non-convergence inside maxRounds fails
    * loudly rather than emitting partial labels. At the fixpoint the
    * edge set IS the component stars, so rep_id = min(Γ⁺) and roots
    * label themselves.
    *
    * Output: (doc_id, rep_id) for every node in `pairs` — identical to
    * [[dupClusters]] (oracle-shared d09/d09b/d09c).
    */
  def dupClustersTwoPhase(pairs: DataFrame, maxRounds: Int = 50,
                          driverThreshold: Long = SmallInput.DefaultThreshold): DataFrame = {
    def symmetrize(dir: DataFrame): DataFrame =
      dir.union(dir.select(col("v").as("u"), col("u").as("v")))
        .filter(col("u") =!= col("v")).distinct()
    def minsOf(e: DataFrame): DataFrame =
      e.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
    def largeStar(e: DataFrame): DataFrame =
      symmetrize(e.join(minsOf(e), "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
    def smallStar(e: DataFrame): DataFrame = {
      val withM = e.join(minsOf(e), "u")
      symmetrize(withM.filter(col("v") < col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(withM.select(col("u"), col("m").as("v"))))
    }
    // the dupClusters driver contract: a below-threshold graph pays
    // whole jobs of fixed overhead per star round for no reason — the
    // min-union find computes the IDENTICAL labels (root = component
    // minimum). The star loop below remains the shape for graphs that
    // genuinely don't fit; d09c pins it with driverThreshold = 0. The
    // edge count rides the symmetrize checkpoint the gate takes.
    SmallInput.gate(
      symmetrize(pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))),
      driverThreshold)(driverUnionFind) { (first, n0) =>
      var cur = first
      var nCur = n0
      val nodeCount = cur.select(col("u")).distinct().count()
      var converged = false
      var rounds = 0
      while (!converged && rounds < maxRounds) {
        // edge count rides on the checkpoint job (observe): per round one
        // materialization + the one-sided exceptAll — never a third job.
        // Equal DISTINCT-set sizes + empty next∖cur ⟺ set equality, so
        // the exactness of the fixpoint test is unchanged
        val nObs = org.apache.spark.sql.Observation()
        val next = smallStar(largeStar(cur))
          .observe(nObs, count(lit(1)).as("n")).cpGuard()
        val nNext = nObs.get("n").asInstanceOf[Long]
        converged = nNext == nCur && next.exceptAll(cur).isEmpty
        cur = next
        nCur = nNext
        rounds += 1
      }
      require(converged,
        s"two-phase connected components did not converge in $maxRounds rounds")
      val labels = cur.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u").as("doc_id"), least(col("mv"), col("u")).as("rep_id"))
        .cpGuard()
      require(labels.count() == nodeCount,
        "two-phase star cover lost nodes — refusing to emit partial labels")
      labels.orderBy(col("doc_id"))
    }
  }

  /** Near-dup cluster RESOLUTION — the end product a training-set
    * dedup actually ships: every minhash-connected component keeps its
    * single highest-quality member ([[TextAnalysis.qualityScore]];
    * ties keep the smallest doc_id) and drops the rest. Composes
    * [[minhashDup]] -> [[dupClusters]] -> one quality equi-join + a
    * per-cluster argmax (max_by over a (quality, -doc_id) struct — a
    * partial-aggregable shape, no window). Docs outside every cluster
    * are implicitly kept and don't appear. The quality doubles are the
    * bit-exact t02 values, so the winner choice verifies cross-engine.
    *
    * Output: (doc_id, rep_id, quality, keep) for clustered docs only.
    */
  def nearDupResolution(docs: DataFrame, threshold: Double): DataFrame = {
    val clusters = dupClusters(
      minhashDup(docs, threshold).select(col("doc_a"), col("doc_b")))
    val jj = clusters.join(
      TextAnalysis.qualityScore(docs).select(col("doc_id"), col("quality")),
      "doc_id")
    val winners = jj.groupBy(col("rep_id"))
      .agg(max_by(col("doc_id"),
        struct(col("quality"), (-col("doc_id")).as("neg_id"))).as("keep_id"))
    jj.join(winners, "rep_id")
      .select(col("doc_id"), col("rep_id"), col("quality"),
        (col("doc_id") === col("keep_id")).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** KMV (k-minimum-values) distinct-count sketch over document texts.
    * The estimator is (k-1) * 2^32 / h_k where h_k is the k-th smallest
    * distinct 32-bit hash — deterministic given the hash, so unlike
    * HLL-style sketches the ESTIMATE itself verifies value-for-value
    * against the oracle (both engines share the md5-derived h32). When
    * the sketch is NOT full (fewer than k distinct hashes) it holds the
    * whole distinct set, and the standard KMV answer is exactly k_used —
    * the ratio formula would under-report there, and a lone zero hash
    * would even divide by zero. At scale: one distinct on the hash
    * (map-side combined) and a TakeOrdered of k rows; the sketch state
    * is k longs however large the corpus — the mergeable-summary shape
    * (cf. Bar-Yossef et al.'s KMV / Beyer et al.'s unbiased DV
    * estimators).
    */
  def kmvDistinct(docs: DataFrame, k: Int): DataFrame = {
    val h32doc = expr("CAST(conv(substring(md5(text), 1, 8), 16, 10) AS BIGINT)")
    val hashes = graft.core.Tables.spread(docs)
      .select(h32doc.as("hv")).distinct()
    val kmv = hashes.orderBy(col("hv")).limit(k)
      .agg(count(lit(1)).as("k_used"), max(col("hv")).as("kth_hash"))
      .select(col("k_used"), col("kth_hash"),
        when(col("k_used") < k, col("k_used").cast("double"))
          .otherwise((col("k_used") - 1).cast("double") * lit(4294967296.0) /
            col("kth_hash")).as("estimate"))
    val exact = docs.agg(countDistinct(md5(col("text"))).as("n_exact"))
    kmv.crossJoin(exact)
      .select(col("n_exact"), col("k_used"), col("kth_hash"), col("estimate"))
  }

  /** HyperLogLog distinct sketch (Flajolet et al. 2007), the fourth
    * mergeable summary next to [[kmvDistinct]] (KMV), bloom membership,
    * and Count-Min: bucket = top `p` bits of the portable 32-bit text
    * hash, register = max leading-zero rank of the remaining bits —
    * fixed 2^p-register state, mergeable by per-bucket MAX, one
    * map-side-combined aggregation over the corpus (never a distinct,
    * unlike KMV: rank-max is insensitive to repeats by construction).
    *
    * Everything is integer or exactly-rounded IEEE arithmetic so the
    * estimate verifies VALUE-for-value cross-engine: the rank comes
    * from bit-smear + bit_count (floating log2 is not correctly rounded
    * in libm and differs across engines at power-of-two boundaries),
    * 2^-M terms are dyadic rationals summed without rounding (every
    * partial sum fits a 53-bit mantissa for p=8, ranks <= 25), and the
    * alpha_m bias constant is spelled as the same literal expression on
    * both sides. The small/large-range corrections are intentionally
    * omitted — they need ln(), which is engine-dependent; the raw
    * estimator is the mergeable, portable core (n_exact rides along for
    * accuracy audit, as in [[kmvDistinct]]).
    *
    * Output: one row (n_exact, n_buckets_used, denom, estimate).
    */
  def hllDistinct(docs: DataFrame, p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 16, "p in [4,16]")
    val rows = graft.core.Tables.spread(docs)
      .select(h32(col("text")).as("hv"))
    val regs = rows
      .select(hllBucket(col("hv"), p).as("bucket"), hllRho(col("hv"), p).as("rho"))
      .groupBy(col("bucket")).agg(max(col("rho")).as("m_rho"))
    val exact = docs.agg(countDistinct(md5(col("text"))).as("n_exact"))
    hllSummary(regs, p).crossJoin(exact)
      .select(col("n_exact"), col("n_buckets_used"), col("denom"),
        col("estimate"))
  }

  /** HLL register table (bucket, m_rho) of a key column — the
    * mergeable 2^p-long state: per-bucket MAX combines registers from
    * any partitioning of the data ([[hllSliceMerge]] proves the
    * identity; [[graft.streaming.StreamSketch]] persists these per
    * micro-batch).
    */
  def hllRegisters(rows: DataFrame, key: Column, p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 16, "p in [4,16]")
    rows.select(h32(key.cast("string")).as("hv"))
      .select(hllBucket(col("hv"), p).as("bucket"),
        hllRho(col("hv"), p).as("rho"))
      .groupBy(col("bucket")).agg(max(col("rho")).as("m_rho"))
  }

  /** One-row (n_buckets_used, denom, estimate) from a register table —
    * public face of the summary for register state persisted elsewhere.
    */
  def hllEstimate(regs: DataFrame, p: Int = 8): DataFrame =
    hllSummary(regs, p)

  /** Top `p` bits of the portable 32-bit hash: the register index. */
  private def hllBucket(hv: Column, p: Int): Column = shiftright(hv, 32 - p)

  /** Rank of the low 32-p bits: wBits+1 - bit_length, where bit_length
    * is bit_count of the bit-smeared value (propagate the MSB into
    * every lower position; a zero suffix smears to 0 and ranks
    * wBits+1). Integer-only on purpose — floating log2 is not
    * correctly rounded in libm and differs across engines.
    */
  private def hllRho(hv: Column, p: Int): Column = {
    val wBits = 32 - p
    val w = hv.bitwiseAND(lit((1L << wBits) - 1))
    val s1 = w.bitwiseOR(shiftright(w, 1))
    val s2 = s1.bitwiseOR(shiftright(s1, 2))
    val s4 = s2.bitwiseOR(shiftright(s2, 4))
    val s8 = s4.bitwiseOR(shiftright(s4, 8))
    val s16 = s8.bitwiseOR(shiftright(s8, 16))
    (lit(wBits + 1) - bit_count(s16)).cast("int")
  }

  /** One-row (n_buckets_used, denom, estimate) from a register table
    * (bucket, m_rho). All dyadic/exactly-rounded arithmetic — see
    * [[hllDistinct]].
    */
  private def hllSummary(regs: DataFrame, p: Int): DataFrame = {
    val m = 1L << p
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))
    regs
      .agg(count(lit(1)).as("n_buckets_used"),
        sum(lit(1.0) / expr("shiftleft(CAST(1 AS BIGINT), m_rho)")
          .cast("double")).as("sum_used"))
      // empty registers contribute 2^-0 = 1 each to the denominator
      .select(col("n_buckets_used"),
        (col("sum_used") +
          (lit(m.toDouble) - col("n_buckets_used").cast("double"))).as("denom"))
      .select(col("n_buckets_used"), col("denom"),
        (alpha * lit(m.toDouble) * lit(m.toDouble) / col("denom"))
          .as("estimate"))
  }

  /** The MERGE property of [[hllDistinct]]'s registers, demonstrated
    * in-engine on sliced data: per-hour register tables over the event
    * stream's user ids (the shape a streaming job persists per window),
    * merged across slices by per-bucket MAX, must estimate EXACTLY what
    * a direct pass over all events estimates — max-of-maxes is the
    * global max, so the merged register table is identical, bucket for
    * bucket, rank for rank. That identity is what lets 1000 executors
    * (or 30 days of hourly state) each keep 2^p longs and combine them
    * associatively, and here it's oracle-checked as a value equality,
    * not hand-waved.
    *
    * Output: one row (n_exact, n_slices, merged_estimate,
    * direct_estimate, merge_exact).
    */
  def hllSliceMerge(events: DataFrame, p: Int = 8): DataFrame = {
    val rows = graft.core.Tables.spread(events)
      .select(date_trunc("hour", col("ts")).as("slice"),
        h32(col("user_id").cast("string")).as("hv"))
      .select(col("slice"), hllBucket(col("hv"), p).as("bucket"),
        hllRho(col("hv"), p).as("rho"))
    val sliced = rows.groupBy(col("slice"), col("bucket"))
      .agg(max(col("rho")).as("m_rho"))
    val merged = sliced.groupBy(col("bucket"))
      .agg(max(col("m_rho")).as("m_rho"))
    val direct = rows.groupBy(col("bucket"))
      .agg(max(col("rho")).as("m_rho"))
    val counts = events.agg(
      countDistinct(col("user_id")).as("n_exact"),
      countDistinct(date_trunc("hour", col("ts"))).as("n_slices"))
    counts
      .crossJoin(hllSummary(merged, p)
        .select(col("estimate").as("merged_estimate")))
      .crossJoin(hllSummary(direct, p)
        .select(col("estimate").as("direct_estimate")))
      .select(col("n_exact"), col("n_slices"), col("merged_estimate"),
        col("direct_estimate"),
        (col("merged_estimate") === col("direct_estimate")).as("merge_exact"))
  }

  /** SLIDING-window distinct users from hourly HLL register slices —
    * the operational payoff of the d18 merge identity: "distinct users
    * in the trailing K hours, every hour" without ever re-scanning
    * events. Each hour keeps its 2^p-register slice (the persisted
    * streaming state); a trailing window's registers are the per-bucket
    * MAX over its K slices, built by exploding each slice to the
    * windows it serves (an equi-join on window id — no range join, no
    * nested loop) and one groupBy(win, bucket). The per-window
    * estimate uses the dyadic 1/2^rho sum (each term and every partial
    * sum exactly representable, so the grouped double sum is
    * order-independent and bit-portable). Exact trailing distinct
    * rides along as the per-window audit column.
    *
    * Output: (win, n_exact, hll_estimate) per hour with data.
    */
  def slidingDistinctHll(events: DataFrame, trailingHours: Int = 3,
                         p: Int = 8): DataFrame = {
    require(trailingHours >= 1 && p >= 4 && p <= 16,
      "trailingHours >= 1, p in [4,16]")
    val rows = graft.core.Tables.spread(events)
      .select(date_trunc("hour", col("ts")).as("slice"),
        h32(col("user_id").cast("string")).as("hv"), col("user_id"))
      .select(col("slice"), hllBucket(col("hv"), p).as("bucket"),
        hllRho(col("hv"), p).as("rho"), col("user_id"))
      .cpGuard() // registers AND the exact audit read it
    val sliced = rows.groupBy(col("slice"), col("bucket"))
      .agg(max(col("rho")).as("m_rho"))
    val wins = sliced.select(col("slice").as("win")).distinct()
    def toWins(df: DataFrame): DataFrame = df
      .withColumn("win", explode(array((0 until trailingHours).map(k =>
        expr(s"slice + INTERVAL '$k' HOUR")): _*)))
      .join(wins.hint("shuffle_hash"), Seq("win"))
    val merged = toWins(sliced)
      .groupBy(col("win"), col("bucket")).agg(max(col("m_rho")).as("m_rho"))
    val m = 1L << p
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))
    val est = merged.groupBy(col("win"))
      .agg(count(lit(1)).as("nb"),
        sum(lit(1.0) / expr("shiftleft(CAST(1 AS BIGINT), m_rho)")
          .cast("double")).as("sum_used"))
      .select(col("win"),
        (alpha * lit(m.toDouble) * lit(m.toDouble) /
          (col("sum_used") + (lit(m.toDouble) - col("nb").cast("double"))))
          .as("hll_estimate"))
    val exact = toWins(rows.select(col("slice"), col("user_id")))
      .groupBy(col("win"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    est.join(exact, Seq("win"))
      .select(col("win"), col("n_exact"), col("hll_estimate"))
      .orderBy(col("win"))
  }

  /** HLL sketch ALGEBRA: the distinct-user overlap of two event types
    * from register state alone — union by per-bucket MAX (the
    * mergeability d18 proves), intersection by inclusion-exclusion
    * (estA + estB − estUnion). This is how overlap questions are
    * answered at 100 TB without a set join: per-side registers are 2^p
    * longs wherever they were accumulated, and every estimate is the
    * bit-portable integer-rank/dyadic form, so even the inclusion-
    * exclusion DOUBLE verifies exactly (fixed operation order). The
    * exact semi-join count rides along as the audit column.
    */
  def hllIntersection(events: DataFrame, typeA: String, typeB: String,
                      p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 16, "p in [4,16]")
    val rows = graft.core.Tables.spread(events)
      .filter(col("event_type").isin(typeA, typeB))
      .select(col("event_type"),
        h32(col("user_id").cast("string")).as("hv"))
      .select(col("event_type"), hllBucket(col("hv"), p).as("bucket"),
        hllRho(col("hv"), p).as("rho"))
    val perType = rows.groupBy(col("event_type"), col("bucket"))
      .agg(max(col("rho")).as("m_rho"))
      .cpGuard()
    val ra = perType.filter(col("event_type") === typeA)
      .select(col("bucket"), col("m_rho"))
    val rb = perType.filter(col("event_type") === typeB)
      .select(col("bucket"), col("m_rho"))
    val ru = perType.groupBy(col("bucket")).agg(max(col("m_rho")).as("m_rho"))
    val exact = events.filter(col("event_type") === typeA)
      .select(col("user_id"))
      .join(events.filter(col("event_type") === typeB).select(col("user_id")),
        Seq("user_id"), "left_semi")
      .agg(countDistinct(col("user_id")).as("n_exact_intersection"))
    hllSummary(ra, p).select(col("estimate").as("est_a"))
      .crossJoin(hllSummary(rb, p).select(col("estimate").as("est_b")))
      .crossJoin(hllSummary(ru, p).select(col("estimate").as("est_union")))
      .crossJoin(exact)
      .select(col("est_a"), col("est_b"), col("est_union"),
        ((col("est_a") + col("est_b")) - col("est_union"))
          .as("est_intersection"),
        col("n_exact_intersection"))
  }

  /** Mergeable per-hour QUANTILE sketch over event values — the rank
    * twin of the HLL cardinality sketch: exact percentiles (w07) need
    * a full per-window sort at 100 TB, so production keeps a bounded
    * sample per window instead. The sample is the k rows with the
    * SMALLEST portable hash of event_id — bottom-k order statistics,
    * i.e. KMV's uniform-without-replacement sample applied to rank
    * estimation — kept with the map-side-combining [[graft.functions
    * .TopKAggregator]] so the exchange carries O(windows x k) rows at
    * any corpus size. Quantile estimates are the sample's exact rank
    * statistics at integer ranks ceil(m/2) / ceil(9m/10) (integer
    * `div` arithmetic — a float p*m can land on the wrong side of an
    * integer boundary).
    *
    * Mergeability is the KMV property — bottom-k of a union equals
    * bottom-k of the merged per-part bottom-ks — and like [[d18's
    * hllSliceMerge]] it is PROVEN in-engine as an oracle-checked
    * VALUE: the sketch rebuilt from two event_id-parity halves must
    * select EXACTLY the direct sketch's rows (merge_exact column).
    * That identity is what lets per-executor / per-micro-batch sample
    * state combine without re-reading history.
    *
    * Output per hour: (hour, m, p50_est, p90_est, p50_merged,
    * p90_merged, merge_exact).
    */
  def quantileSketchMerge(events: DataFrame, k: Int = 64): DataFrame = {
    require(k > 0, "k > 0")
    import org.apache.spark.sql.expressions.Window
    val topk = graft.functions.TopKAggregator.topK(k)
    // null values carry no rank information; excluded in both engines
    // (Spark sorts nulls first, DuckDB last — never give them a rank)
    val rows = graft.core.Tables.spread(events)
      .filter(col("value").isNotNull)
      .select(date_trunc("hour", col("ts")).as("hour"),
        col("event_id"), col("value"),
        h32(col("event_id").cast("string")).as("h"))
      .cpGuard() // direct sketch + parity halves + value attach
    // bottom-k by (h, event_id): TopKAggregator keeps (score desc, id
    // asc), so score = -h is smallest-hash-first with the id tiebreak;
    // h < 2^32 so the double negation is exact and invertible
    def expand(agged: DataFrame): DataFrame = agged
      .select(col("hour"), explode(col("smp")).as("e"))
      .select(col("hour"), col("e.id").as("event_id"),
        negate(col("e.score")).cast("long").as("h"))
    val direct = expand(rows.groupBy(col("hour"))
      .agg(topk(col("event_id"), negate(col("h").cast("double"))).as("smp")))
    val halves = expand(rows
      .groupBy(col("hour"), pmod(col("event_id"), lit(2)).as("par"))
      .agg(topk(col("event_id"), negate(col("h").cast("double"))).as("smp")))
    val merged = halves
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("hour")).orderBy(col("h"), col("event_id"))))
      .filter(col("rn") <= k).drop("rn")
    // rank statistics over a sample: attach values (sampled ids only —
    // the semi-join shape), rank by value inside the <= k-row window
    def quants(smp: DataFrame, p50Name: String, p90Name: String): DataFrame = {
      val wv = Window.partitionBy(col("hour"))
        .orderBy(col("value"), col("event_id"))
      smp
        .join(rows.select(col("event_id"), col("value")).hint("shuffle_hash"),
          "event_id")
        .withColumn("vr", row_number().over(wv))
        .withColumn("m", count(lit(1)).over(Window.partitionBy(col("hour"))))
        .groupBy(col("hour"))
        .agg(max(col("m")).as(s"__m_$p50Name"),
          max(when(col("vr") === expr("(m + 1) div 2"), col("value")))
            .as(p50Name),
          max(when(col("vr") === expr("(9 * m + 9) div 10"), col("value")))
            .as(p90Name))
    }
    quants(direct, "p50_est", "p90_est")
      .withColumnRenamed("__m_p50_est", "m")
      .join(quants(merged, "p50_merged", "p90_merged")
        .drop("__m_p50_merged"), "hour")
      .select(col("hour"), col("m"), col("p50_est"), col("p90_est"),
        col("p50_merged"), col("p90_merged"),
        (col("p50_est") === col("p50_merged") &&
          col("p90_est") === col("p90_merged")).as("merge_exact"))
      .orderBy(col("hour"))
  }

  /** Repeated-passage detection (the exact-substring-dedup family, cf.
    * Lee et al. 2022 "Deduplicating Training Data Makes Language Models
    * Better"): every `windowChars`-char rolling window (stride 1) of
    * every doc, grouped corpus-wide; windows appearing in at least
    * `minDocs` DISTINCT docs are boilerplate/repeated passages. Shape
    * at scale: explode to (doc, window) then one hash aggregation on
    * the window text — key-partitioned, no pairwise docs anywhere; the
    * window table is the corpus x windowChars blowup a production run
    * would stride>1 or hash-sample, both just parameters here.
    * Output: (passage_md5, n_docs, n_occurrences, first_doc).
    */
  def repeatedPassages(docs: DataFrame, windowChars: Int,
                       minDocs: Int): DataFrame = {
    require(windowChars > 0 && minDocs >= 2, "windowChars > 0, minDocs >= 2")
    // one-pass CharWindows expression, not transform+substr: the HOF
    // lambda is interpreted per element — ~n_chars virtual calls per
    // doc vs one tight loop (spec-equal, astral text included)
    val windows = graft.core.Tables.spread(docs)
      .select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= windowChars)
      .select(col("doc_id"),
        explode(graft.functions.CharWindows(col("text"), windowChars)).as("w"))
    // countDistinct(doc_id) would plan an Expand that DOUBLES the
    // shuffled window rows (the dominant stage: ~text_len windows per
    // doc); the per-(window, doc) pre-agg below gets the same counts
    // from two lean hash aggregations, the first map-side-combining
    // repeats of a window within a doc. md5 stays post-filter, computed
    // only for the handful of surviving passages.
    windows
      .groupBy(col("w"), col("doc_id"))
      .agg(count(lit(1)).as("occ"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("occ")).as("n_occurrences"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= minDocs)
      .select(md5(col("w")).as("passage_md5"), col("n_docs"),
        col("n_occurrences"), col("first_doc"))
      .orderBy(col("passage_md5"))
  }

  /** Maximal repeated-SPAN extraction — the per-document form of
    * exact-substring dedup (Lee et al. 2022's "remove duplicated
    * spans", built on [[repeatedPassages]]' fixed windows): a window is
    * SHARED when >= minDocs docs contain it; per doc, maximal runs of
    * consecutive shared window positions merge into one span of
    * run_length + windowChars - 1 characters. Output is what a cleaner
    * actually cuts: (doc_id, span_start [1-based], span_chars,
    * n_windows).
    *
    * Scale shape: the corpus-wide stage is the same two lean hash
    * aggregations as [[repeatedPassages]] (per-(window, doc) pre-agg,
    * never an Expand); the run merge is a window partitioned by doc_id
    * over only the MARKED positions (boilerplate hits, not all
    * windows) using the pos − row_number island trick.
    */
  def repeatedSpans(docs: DataFrame, windowChars: Int,
                    minDocs: Int): DataFrame = {
    require(windowChars > 0 && minDocs >= 2, "windowChars > 0, minDocs >= 2")
    val windows = graft.core.Tables.spread(docs)
      .select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= windowChars)
      .select(col("doc_id"),
        posexplode(graft.functions.CharWindows(col("text"), windowChars))
          .as(Seq("pos0", "w")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
        col("w"))
      .cpGuard() // referenced by both the shared-set agg and the mark join
    val shared = windows
      .groupBy(col("w"), col("doc_id")).agg(count(lit(1)).as("occ"))
      .groupBy(col("w")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("w"))
    val marked = windows.join(shared, "w").select(col("doc_id"), col("pos"))
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    marked
      .withColumn("rid", col("pos") - row_number().over(wd))
      .groupBy(col("doc_id"), col("rid"))
      .agg(min(col("pos")).as("span_start"),
        (count(lit(1)) + lit((windowChars - 1).toLong)).as("span_chars"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_chars"),
        col("n_windows"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** Bloom-filter membership sketch: build an m-bit filter over the
    * corpus's distinct text hashes, probe another table against it —
    * the third mergeable summary alongside [[kmvDistinct]] (distinct
    * count) and TextAnalysis.countMinWords (frequency). Deterministic
    * bit positions from the shared portable hash + minhash permutation
    * constants, so the filter words, every probe verdict, and even the
    * false positives verify value-for-value against the oracle. The
    * filter state is m/64 longs regardless of corpus size, mergeable by
    * OR; the build is one distinct + one map-side-combined bit_or
    * aggregation, the probe a broadcast join of the (tiny) word table —
    * no corpus-sized shuffle anywhere. No false negatives by
    * construction (asserted in the spec); FPR is tuned by (mBits,
    * kHashes) as usual. Words pack 63 bits each, leaving the sign bit
    * clear — the oracle engine's checked left shift cannot produce a
    * 1<<63, and the packing must be identical on both sides.
    *
    * Output per probe doc: (doc_id, maybe_in_corpus, actually_in_corpus).
    */
  def bloomMembership(corpus: DataFrame, probes: DataFrame,
                      mBits: Int, kHashes: Int): DataFrame = {
    require(mBits >= 64, "mBits must be at least 64")
    require(kHashes >= 1 && kHashes <= Hashing.perms.size,
      s"kHashes must be 1..${Hashing.perms.size}")
    val h = h32(col("text"))
    def positions: Column = array(Hashing.perms.take(kHashes).map {
      case (a, b) => pmod(pmod(lit(a) * col("h") + lit(b), lit(P)), lit(mBits.toLong))
    }: _*)
    val corpusHashes = graft.core.Tables.spread(corpus)
      .select(h.as("h")).distinct().cpGuard() // filter build + exact check
    val filterWords = corpusHashes
      .select(explode(positions).as("p"))
      .select(expr("p div 63").as("word_idx"), pmod(col("p"), lit(63L)).as("bit"))
      .groupBy(col("word_idx"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT)))").as("word"))
    val probePos = graft.core.Tables.spread(probes)
      .select(col("doc_id"), h.as("h"))
      .select(col("doc_id"), col("h"), posexplode(positions).as(Seq("j", "p")))
      .select(col("doc_id"), col("h"), expr("p div 63").as("word_idx"),
        pmod(col("p"), lit(63L)).as("bit"))
    val verdicts = probePos
      .join(broadcast(filterWords), Seq("word_idx"), "left")
      .withColumn("hit", col("word").isNotNull &&
        expr("shiftright(word, CAST(bit AS INT)) & 1") === 1L)
      .groupBy(col("doc_id"), col("h"))
      .agg(expr("bool_and(hit)").as("maybe_in_corpus"))
    verdicts
      .join(corpusHashes.withColumn("__in", lit(true)), Seq("h"), "left")
      .select(col("doc_id"), col("maybe_in_corpus"),
        coalesce(col("__in"), lit(false)).as("actually_in_corpus"))
      .orderBy(col("doc_id"))
  }

  /** 64-bit SimHash per doc from word-occurrence weights: bit j is set
    * when sum over word occurrences of (+1 if word-hash bit j else -1)
    * is positive; word-hash bits 0-31 come from h32, 32-63 from h32b
    * (both BIGINT-safe in the oracle engine). Computed per document in
    * one pass by the [[graft.functions.SimhashOf]] expression — no
    * explode, no 64-column aggregation, no shuffle; [[simhashViaAgg]] is
    * the composed column twin kept for the equivalence spec. Null texts
    * are dropped (the composed form loses them at the explode; the
    * one-pass form must filter to agree — and a NULL fingerprint must
    * never reach banding).
    */
  def simhash(docs: DataFrame): DataFrame =
    graft.core.Tables.spread(docs)
      .select(col("doc_id"),
        graft.functions.SimhashOf(col("text")).as("simhash"))
      .filter(col("simhash").isNotNull)
      .orderBy(col("doc_id"))

  /** Explode + aggregate formulation of [[simhash]] (identical values). */
  def simhashViaAgg(docs: DataFrame): DataFrame = {
    val wordTable = graft.core.Tables.spread(docs).select(col("doc_id"),
      explode(TextOps.words(col("text"))).as("w"))
      .withColumn("hlo", h32(col("w")))
      .withColumn("hhi", Hashing.h32b(col("w")))
    val bitSums = (0 until SimhashBits).map { j =>
      val (h, b) = if (j < 32) (col("hlo"), j) else (col("hhi"), j - 32)
      sum(when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"s$j")
    }
    val sums = wordTable.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    // j=63: 1L << 63 == Long.MinValue — the sign bit, added last so the
    // running sum of the lower 63 terms (<= 2^63-1) never overflows
    val sh = (0 until SimhashBits).map { j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    sums.select(col("doc_id"), sh.as("simhash")).orderBy(col("doc_id"))
  }

  /** SimHash near-dup pairs: candidates share one of [[SimhashBands]]
    * [[SimhashBandBits]]-bit bands (hot buckets capped, see
    * [[HotBuckets]]), verified by Hamming distance <= maxHamming.
    * Arithmetic-vs-logical shift is irrelevant: the mask keeps only
    * bits below the shifted-in sign bits.
    */
  def simhashDup(docs: DataFrame, maxHamming: Int,
                 maxBucket: Int = DefaultMaxBucket): DataFrame =
    fingerprintNearDup(
      simhash(docs).select(col("doc_id"), col("simhash").as("fp")),
      minHamming = 0, maxHamming = maxHamming, maxBucket = maxBucket)

  /** Banded Hamming near-dup over ANY 64-bit fingerprint column — the
    * blocking engine behind [[simhashDup]] (text) and the perceptual
    * image-hash dedup ([[graft.ext.Multimodal.dhash64]]). `fps` carries
    * (doc_id, fp); candidates share one of [[SimhashBands]]
    * [[SimhashBandBits]]-bit bands (hot buckets capped), then verify by
    * popcount of XOR. `minHamming` > 0 reports only strictly-near pairs
    * (exact duplicates have their own groupBy path — no pair blowup on
    * a corpus of identical fingerprints). Arithmetic-vs-logical shift
    * is irrelevant: the mask keeps only bits below the shifted-in sign
    * bits.
    */
  def fingerprintNearDup(fps: DataFrame, minHamming: Int, maxHamming: Int,
                         maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // checkpointed: the candidate self-join references the banded table
    // on both sides (same multi-reference rule as jaccardVerify)
    val banded = HotBuckets.prune(
      fps.select(col("doc_id"), col("fp"),
        posexplode(array((0 until SimhashBands).map(k =>
          shiftright(col("fp"), SimhashBandBits * k)
            .bitwiseAND(lit(SimhashBandMask))): _*))
          .as(Seq("band_idx", "band_val")))
        .cpGuard(),
      Seq("band_idx", "band_val"), maxBucket)
    val pairs = banded.as("x").join(banded.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
        col("x.band_val") === col("y.band_val") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.fp").as("fp_a"), col("y.fp").as("fp_b"))
      .distinct()
    pairs
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= maxHamming &&
        col("hamming") >= minHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Character-n-gram Jaccard dedup over metadata-restricted candidates
    * (same lang, |n_chars| within maxLenDiff). The metadata blocking is
    * what keeps this sub-quadratic: pairs are generated per (lang)
    * partition and length-banded, not corpus-wide; each surviving pair
    * is verified with one codegen'd array_intersect.
    */
  /** Character-edit-distance near-dup — the third verify family next
    * to set-overlap (Jaccard) and bit-distance (simhash): levenshtein
    * catches in-place character edits that barely move n-gram sets.
    * Candidates come from the same (lang, length-band) blocking as
    * [[ngramJaccardDup]] (every qualifying pair reachable exactly
    * once), on a deterministic doc_id % sampleMod sample that bounds
    * the in-block quadratic verify; at corpus scale the candidate
    * stream is minhash bands ([[minhashDup]]) with this as the
    * verifier. Scope is explicitly single-byte texts IN BOTH ENGINES
    * (`length == octet_length`): Spark's levenshtein counts characters
    * while DuckDB's counts bytes, and excluding multi-byte docs in the
    * operator — not just in the fixture — keeps the oracle equivalence
    * by construction.
    */
  def editDistanceDup(docs: DataFrame, maxDist: Int, maxLenDiff: Int = 5,
                      sampleMod: Long = 2L): DataFrame = {
    val base = graft.core.Tables.spread(docs)
      .filter(col("doc_id") % sampleMod === 0 &&
        length(col("text")) === octet_length(col("text")))
      .cpGuard()
    val meta = base.select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("bkt", (col("n_chars") / maxLenDiff).cast("int"))
    val lhs = meta.withColumn("bkt",
      explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)))
    val cand = lhs.as("a").join(meta.as("b"),
        col("a.lang") === col("b.lang") &&
        col("a.bkt") === col("b.bkt") &&
        abs(col("a.n_chars") - col("b.n_chars")) <= maxLenDiff &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val texts = base.select(col("doc_id"), col("text"))
    cand
      .join(texts.toDF("doc_a", "ta"), "doc_a")
      .join(texts.toDF("doc_b", "tb"), "doc_b")
      .withColumn("dist", levenshtein(col("ta"), col("tb")))
      .filter(col("dist") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("dist"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The (lang, length-bucket) blocking join of [[ngramJaccardDup]],
    * exposed so the skew spec can meter ITS tasks in isolation (the
    * downstream verify reads all pairs and would mask the join stage).
    */
  private[graft] def ngramCandidates(docs: DataFrame, maxLenDiff: Int,
                                     salts: Int): DataFrame = {
    val meta = docs.select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("bkt", (col("n_chars") / maxLenDiff).cast("int"))
    val left = meta.withColumn("bkt",
      explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)))
    if (salts <= 1)
      left.as("a").join(meta.as("b"),
          col("a.lang") === col("b.lang") &&
          col("a.bkt") === col("b.bkt") &&
          abs(col("a.n_chars") - col("b.n_chars")) <= maxLenDiff &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    else
      graft.operators.Layout.saltedJoin(
          left,
          meta.select(col("doc_id").as("doc_id_b"), col("lang"),
            col("n_chars").as("n_chars_b"), col("bkt")),
          Seq("lang", "bkt"), salts, entropyCol = "doc_id")
        .filter(abs(col("n_chars") - col("n_chars_b")) <= maxLenDiff &&
          col("doc_id") < col("doc_id_b"))
        .select(col("doc_id").as("doc_a"), col("doc_id_b").as("doc_b"))
  }

  def ngramJaccardDup(docs: DataFrame, n: Int, maxLenDiff: Int,
                      threshold: Double, salts: Int = 1): DataFrame = {
    // Blocking key = (lang, length bucket). Joining on lang alone gives
    // ~5 distinct keys — a skewed, near-serial join. Bucketing n_chars
    // by maxLenDiff and exploding each left row into its 3 neighbor
    // buckets keeps every qualifying pair reachable exactly once while
    // the join fans out over lang x bucket keys. When a corpus is
    // power-law WITHIN one (lang, bucket) cell — one hot key owning
    // most docs — `salts` > 1 routes the candidate join through
    // [[graft.operators.Layout.saltedJoin]]: the a-side salts on
    // doc_id, the b-side replicates to all salts, the pair set is
    // provably identical (LayoutSpec asserts both the equality and the
    // per-task shuffle-read flattening on a planted hot key).
    val cand = ngramCandidates(docs, maxLenDiff, salts)
    // n-grams travel as packed longs (code-point windows, injective on
    // the packing's domain, so counts and Jaccard are exactly the
    // string form's) — the 100k+ surviving pairs then merge-scan longs
    // instead of UTF8 strings. For n == 4 the 16-bit packing can't
    // carry astral code points: those (rare) docs fall back to the
    // string-array form, and a pair touches strings only when at least
    // one side is such a doc (the packed side unpacks on the fly —
    // order-preserving, so the merge scan stays valid).
    val packed = array_sort(graft.functions.PackedCharNgrams(col("text"), n))
    val hybrid = struct(
      packed.as("p"),
      when(packed.isNull,
        array_sort(TextOps.charNgrams(col("text"), n))).as("s"))
    def strsOf(c: Column): Column =
      coalesce(c("s"), graft.functions.UnpackCharNgrams(c("p"), n))
    jaccardVerify(cand, docs, hybrid, threshold,
      intersect = (a, b) =>
        when(a("p").isNotNull && b("p").isNotNull,
          graft.functions.SortedLongIntersectCount(a("p"), b("p")))
          .otherwise(graft.functions.SortedIntersectCount(strsOf(a), strsOf(b))),
      sizeOf = c => coalesce(size(c("p")), size(c("s"))))
  }

  /** EXACT set-similarity self-join via prefix filtering (AllPairs,
    * Bayardo et al. WWW'07; PPJoin, Xiao et al. WWW'08) — the lossless
    * complement to [[minhashDup]]'s probabilistic LSH recall. Token
    * sets are each doc's distinct word [[ShingleSize]]-shingles (the
    * same unit minhash signatures summarize); output is EVERY pair
    * with Jaccard >= num/denom, with zero false negatives.
    *
    * Why it scales without a hot-bucket cap: tokens are globally
    * ordered rarest-first (ascending document frequency, then token),
    * and each doc indexes only its first p = n - ceil(t*n) + 1 tokens
    * in that order. Any qualifying pair's SMALLEST common token (in
    * the global order) provably sits inside BOTH prefixes — the tokens
    * of x ranked before it are all absent from y, and x has at most
    * n_x - ceil(t*n_x) = p-1 such tokens — so the prefix-token
    * equi-join reaches every qualifying pair while indexing only the
    * RAREST slice of each doc. Stop-word buckets never form: a token
    * lands in a prefix only when a doc has almost nothing rarer, which
    * its global frequency makes rare by construction. Capping here
    * would break the losslessness the oracle proves, and the frequency
    * ordering is exactly what makes the cap unnecessary.
    *
    * Shape at 100 TB: one groupBy(token) for document frequencies, one
    * equi-join to attach them (AQE skew-handles the stop-word attach
    * keys — it is 1 row per token on the build side, never
    * pair-generating), one groupBy(doc_id) to assemble ordered arrays,
    * then a prefix-token equi-join whose keys are rare by design, and
    * the same semi-join + shuffle-hash exact-intersection verify as
    * every other family ([[jaccardVerify]]). The length filter
    * (t*max(n_a,n_b) <= min(n_a,n_b), required by J >= t) and the
    * PPJoin POSITIONAL filter (see [[prefixCandidates]] — both proved
    * lossless) prune candidates before the distinct. Threshold
    * compares as integers (inter * denom >= num * union) — no float
    * edge at the boundary.
    *
    * Output: (doc_a, doc_b, n_common, jaccard), doc_a < doc_b.
    */
  def prefixJaccardDup(docs: DataFrame, num: Int, denom: Int): DataFrame = {
    require(num > 0 && denom > 0 && num <= denom, "0 < num/denom <= 1")
    val arrs = prefixOrderedArrays(docs, num, denom)
    val cand = prefixCandidates(arrs, num, denom)
    val lex = arrs.select(col("doc_id"),
      array_sort(col("ord_toks")).as("arr"))
    cand
      .join(lex.select(col("doc_id").as("doc_a"), col("arr").as("arr_a"))
        .hint("shuffle_hash"), "doc_a")
      .join(lex.select(col("doc_id").as("doc_b"), col("arr").as("arr_b"))
        .hint("shuffle_hash"), "doc_b")
      .withColumn("n_common",
        graft.functions.SortedIntersectCount(col("arr_a"), col("arr_b")))
      .withColumn("n_union",
        size(col("arr_a")) + size(col("arr_b")) - col("n_common"))
      .filter(col("n_common") * denom >= col("n_union") * num)
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        (col("n_common").cast("double") / col("n_union")).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** [[prefixJaccardDup]]'s per-doc ordered token arrays: rarest-first
    * (df, tok) global order with the prefix length p = n - ceil(t*n)
    * + 1 attached. Package-visible so the candidate-pruning spec can
    * count candidates from the same materialized artifact.
    */
  private[graft] def prefixOrderedArrays(docs: DataFrame, num: Int,
                                         denom: Int): DataFrame = {
    val spread = graft.core.Tables.spread(docs)
    // token set = the minhash family's own unit, distinct word
    // 3-shingles — discriminative enough that both the prefix index
    // and the output stay near-dup-sized (single words are not: a
    // small shared vocabulary makes every doc pair word-similar)
    val toks = spread
      .select(col("doc_id"),
        explode(TextOps.wordShingles(col("text"), ShingleSize)).as("tok"))
      .filter(col("tok") =!= "")
    val docFreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    // per-doc token array in global rarest-first (df, tok) order; the
    // ordered array is the one artifact both the prefix index and the
    // exact verify derive from, so it materializes once
    toks.join(docFreq, Seq("tok"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("tok"))))
        .as("ord"))
      .select(col("doc_id"),
        expr("transform(ord, s -> s.tok)").as("ord_toks"))
      .withColumn("n", size(col("ord_toks")))
      // p = n - ceil(t*n) + 1, ceil in exact integer arithmetic
      .withColumn("p",
        expr(s"cast(n - (n * $num + $denom - 1) div $denom + 1 as int)"))
      .cpGuard() // feeds prefix index AND both verify attaches
  }

  /** Candidate pairs from the prefix-token equi-join, with the PPJOIN
    * POSITIONAL filter (Xiao et al. WWW'08) on by default: a shared
    * prefix token at 1-based rank i of x and j of y can witness at
    * most 1 + min(n_x - i, n_y - j) overlapping tokens (everything
    * common ranks at or after it on both sides), so occurrences where
    * that bound falls below the overlap threshold α = ceil(t/(1+t) ·
    * (n_x+n_y)) generate no pair. LOSSLESS: a qualifying pair's
    * smallest common token sits in both prefixes (the AllPairs
    * argument) AND satisfies the bound there — the true overlap is
    * itself ≤ the bound at that occurrence — so at least that
    * occurrence survives. Integer form: ubound·(num+denom) ≥
    * num·(n_x+n_y) (ubound ≥ ceil(a/b) ⟺ ubound·b ≥ a). The length
    * filter stays; `positional = false` keeps the plain AllPairs
    * candidate set for the pruning spec's A/B count.
    */
  private[graft] def prefixCandidates(arrs: DataFrame, num: Int, denom: Int,
                                      positional: Boolean = true): DataFrame = {
    val prefix = arrs.select(col("doc_id"), col("n"),
      posexplode(slice(col("ord_toks"), lit(1), col("p")))
        .as(Seq("pi", "tok")))
    val lengthOk =
      // J >= t forces t*|larger| <= |smaller|
      col("a.n") * num <= col("b.n") * denom &&
        col("b.n") * num <= col("a.n") * denom
    val positionOk =
      // pi is 0-based: n - (pi+1) tokens rank after this occurrence
      (lit(1) + least(col("a.n") - col("a.pi") - 1,
        col("b.n") - col("b.pi") - 1)) * (num + denom) >=
        (col("a.n") + col("b.n")) * num
    prefix.as("a")
      .join(prefix.as("b"),
        col("a.tok") === col("b.tok") &&
        col("a.doc_id") < col("b.doc_id") &&
        (if (positional) lengthOk && positionOk else lengthOk))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Cross-document shared SUBSTRING spans — the token-level exact
    * duplicated-passage detector of Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better"), re-expressed as
    * relational diagonals instead of a suffix array: a positional
    * n-gram match between two docs at (posA, posB) lies on diagonal
    * d = posA - posB, and a MAXIMAL shared substring is a maximal run
    * of consecutive positions on one diagonal. Runs come from the
    * gaps-and-islands trick (posA - row_number() is constant within a
    * run) in a (doc_a, doc_b, d)-PARTITIONED window — never a global
    * sort, never doc texts side by side.
    *
    * n-grams occurring more than maxOcc times in the whole corpus are
    * excluded up front (a deterministic frequency threshold, not a
    * hash-order cap): boilerplate grams would otherwise quadratically
    * explode the diagonal join, and a span seeded ONLY by boilerplate
    * is exactly what substring dedup is not looking for. The skipped
    * lexicon is the [[graft.ext.TextAnalysis.boilerplateCoverage]]
    * family's concern.
    *
    * Output: one row per maximal run with at least minRun consecutive
    * n-gram matches — (doc_a, doc_b, start_a, start_b, span_tokens =
    * run + n - 1), doc_a < doc_b, ordered.
    */
  def substringSpans(docs: DataFrame, n: Int, minRun: Int,
                     maxOcc: Long = 50L): DataFrame = {
    require(n >= 1 && minRun >= 1 && maxOcc >= 2, "n,minRun >= 1; maxOcc >= 2")
    val sh = posShingleTable(docs, n)
      .cpGuard() // feeds the frequency filter AND both join sides
    val rare = sh.groupBy(col("s")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") <= maxOcc).select(col("s"))
    val r = sh.join(rare.hint("shuffle_hash"), Seq("s"))
    val matches = r.select(col("doc_id").as("doc_a"), col("pos").as("pa"),
        col("s"))
      .join(r.select(col("doc_id").as("doc_b"), col("pos").as("pb"),
        col("s")), Seq("s"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("pa"),
        (col("pa") - col("pb")).as("d"))
    diagonalRuns(matches, n, minRun)
  }

  /** Incremental [[substringSpans]]: NEW docs against an EXISTING
    * corpus only — the substring-dedup twin of [[minhashDupAgainst]]
    * for catching duplicated passages at ingestion without re-pairing
    * the corpus with itself. The frequency threshold uses CORPUS
    * occurrence counts (exactly what a persisted positional posting
    * index carries as statistics); at scale the corpus side IS that
    * persisted index, bucketed by shingle, and only the O(batch) side
    * explodes per probe. doc_ids must be disjoint across the inputs.
    *
    * Output: (doc_a = new id, doc_b = corpus id, start_a, start_b,
    * span_tokens), ordered.
    */
  def substringSpansAgainst(corpus: DataFrame, newDocs: DataFrame, n: Int,
                            minRun: Int, maxOcc: Long = 50L): DataFrame = {
    require(n >= 1 && minRun >= 1 && maxOcc >= 2, "n,minRun >= 1; maxOcc >= 2")
    val cSh = posShingleTable(corpus, n)
      .cpGuard() // feeds the corpus-side frequency stats AND the probe
    val rare = cSh.groupBy(col("s")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") <= maxOcc).select(col("s"))
    val cR = cSh.join(rare.hint("shuffle_hash"), Seq("s"))
      .select(col("doc_id").as("doc_b"), col("pos").as("pb"), col("s"))
    val matches = posShingleTable(newDocs, n)
      .select(col("doc_id").as("doc_a"), col("pos").as("pa"), col("s"))
      .join(cR, Seq("s"))
      .select(col("doc_a"), col("doc_b"), col("pa"),
        (col("pa") - col("pb")).as("d"))
    diagonalRuns(matches, n, minRun)
  }

  private def posShingleTable(docs: DataFrame, n: Int): DataFrame =
    graft.core.Tables.spread(docs)
      .select(col("doc_id"),
        posexplode(TextOps.allWordShingles(col("text"), n)).as(Seq("pos", "s")))

  /** Maximal consecutive runs per (pair, diagonal) — the shared
    * gaps-and-islands closure of the substring-span family. */
  private def diagonalRuns(matches: DataFrame, n: Int,
                           minRun: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_a"), col("doc_b"), col("d")).orderBy(col("pa"))
    matches
      .withColumn("grp", col("pa") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("d"), col("grp"))
      .agg(min(col("pa")).as("start_a"), count(lit(1)).as("run"))
      .filter(col("run") >= minRun)
      .select(col("doc_a"), col("doc_b"),
        col("start_a").cast("long").as("start_a"),
        (col("start_a") - col("d")).cast("long").as("start_b"),
        (col("run") + (n - 1)).cast("long").as("span_tokens"))
      .orderBy(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"))
  }
}
