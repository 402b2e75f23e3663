package graft.ext
import graft.core.PlanCapture.CheckpointOps

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Hashing.{h32, MersennePrime => P}

/** Text-analysis operators for a training-data pipeline: language ID,
  * quality scoring, token counting, document fingerprinting.
  *
  * All pure column expressions over one documents scan — each operator
  * is a narrow projection (no shuffle at all), so at 100 TB these run
  * at parquet-scan speed and pipeline into downstream filters.
  */
object TextAnalysis {

  /** Tiny per-language stopword lists for the n-gram-free heuristic
    * language ID. Order matters: ties resolve in this sequence.
    */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "la", "de", "y", "que"),
    "fr" -> Seq("le", "les", "des", "et", "un"),
    "de" -> Seq("der", "die", "das", "und", "ein"),
    "zh" -> Seq("de5", "shi4", "zai4", "le5", "wo3"))

  private def stopCount(ws: Column, lang: String): Column = {
    val set = stopwords.toMap.apply(lang)
    size(filter(ws, w => w.isin(set: _*)))
  }

  /** Predicted language by max stopword hits (ties -> stopwords order),
    * plus the per-language scores.
    */
  def langId(docs: DataFrame): DataFrame = {
    val ws = TextOps.words(col("text"))
    val scored = graft.core.Tables.spread(docs).select(
      (col("doc_id") +: col("lang").as("labeled_lang") +:
        stopwords.map { case (l, _) => stopCount(ws, l).as(s"n_$l") }): _*)
    scored
      .withColumn("predicted_lang",
        priorityMax(stopwords.map { case (l, _) => l -> col(s"n_$l") }))
      .orderBy(col("doc_id"))
  }

  /** Nested max-with-priority over (lang, score) pairs: lang i wins
    * iff its score is >= every later lang's — the t01 tie-break
    * shared by [[langId]] and [[langSegments]].
    */
  private def priorityMax(scores: Seq[(String, Column)]): Column = {
    val langs = scores.map(_._1)
    val byLang = scores.toMap
    langs.init.zipWithIndex.foldRight(lit(langs.last)) {
      case ((l, i), elseCol) =>
        val beatsRest = langs.drop(i + 1)
          .map(m => byLang(l) >= byLang(m)).reduce(_ && _)
        when(beatsRest, l).otherwise(elseCol)
    }
  }

  /** Predicted language of ONE token-array column — the t01 predictor
    * applied below doc granularity.
    */
  def langIdOf(ws: Column): Column =
    priorityMax(stopwords.map { case (l, set) =>
      l -> size(filter(ws, w => w.isin(set: _*)))
    })

  /** Language SEGMENTATION — the code-switching/mixed-language
    * detector doc-level langid (t01) is blind to: a doc that is half
    * English and half German scores as one language at the doc level
    * but flips prediction between its windows. Non-overlapping
    * `window`-token slices each get the t01 predictor; per doc the
    * audit reports window count, distinct predicted languages, and
    * adjacent-window switches (the curation gate cuts or routes docs
    * with n_langs > 1 before monolingual training mixes).
    *
    * Scale shape: one narrow projection + bounded explode (⌈n/window⌉
    * rows/doc) + a doc-PARTITIONED lag window + one partial-aggregable
    * groupBy — the only shuffle is on doc_id.
    */
  def langSegments(docs: DataFrame, window: Int = 16): DataFrame = {
    require(window >= 1, "window >= 1")
    val chunks = graft.core.Tables.spread(docs)
      .select(col("doc_id"), TextOps.words(col("text")).as("ws"))
      .withColumn("st",
        explode(sequence(lit(0), size(col("ws")) - 1, lit(window))))
      .select(col("doc_id"),
        expr(s"CAST(st div $window AS INT)").as("chunk_idx"),
        langIdOf(slice(col("ws"), col("st") + 1, lit(window))).as("pred"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("chunk_idx"))
    chunks.withColumn("prev", lag(col("pred"), 1).over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("pred")).as("n_langs"),
        sum(when(col("prev").isNotNull && col("pred") =!= col("prev"), 1L)
          .otherwise(0L)).as("n_switches"))
      .orderBy(col("doc_id"))
  }

  /** Heuristic quality score from exact integer counts and single
    * IEEE divisions (deterministic across engines):
    * 0.4*distinct_ratio + 0.4*(1-stopword_ratio) + 0.2*min(avg_word_len/10, 1).
    * Counts come from the one-pass [[graft.functions.QualityCountsOf]]
    * expression (no per-doc HOF interpretation, no word arrays);
    * [[qualityScoreViaHof]] is the composed twin kept for the
    * equivalence spec.
    */
  def qualityScore(docs: DataFrame): DataFrame =
    qualityFrom(graft.core.Tables.spread(docs)
      .withColumn("__q",
        graft.functions.QualityCountsOf(col("text"), stopwords.flatMap(_._2)))
      .select(col("doc_id"), col("n_chars"),
        col("__q.n_words").as("n_words"),
        col("__q.n_distinct").as("n_distinct"),
        col("__q.n_stop").as("n_stop"),
        col("__q.len").as("len")))

  /** Composed higher-order-function formulation of [[qualityScore]]
    * (identical values). */
  def qualityScoreViaHof(docs: DataFrame): DataFrame = {
    val ws = TextOps.words(col("text"))
    val allStop = stopwords.flatMap(_._2)
    qualityFrom(graft.core.Tables.spread(docs)
      .select(col("doc_id"), col("n_chars"),
        size(ws).as("n_words"),
        size(array_distinct(ws)).as("n_distinct"),
        size(filter(ws, w => w.isin(allStop: _*))).as("n_stop"),
        length(col("text")).as("len")))
  }

  /** The t02 quality score from the exact integer counts — the ONE
    * definition of the 0.4/0.4/0.2 formula, shared by [[qualityFrom]]
    * (t02 itself) and the c40 composite's stage 5
    * ([[graft.ext.Crawl.scoreStage]]): a weight tuned in one place
    * must not silently diverge in the other.
    */
  def qualityScoreOf(nWords: Column, nDistinct: Column, nStop: Column,
                     len: Column): Column =
    lit(0.4) * (nDistinct.cast("double") / nWords) +
      lit(0.4) * (lit(1.0) - nStop.cast("double") / nWords) +
      lit(0.2) * least(
        (len - nWords + 1).cast("double") / nWords / lit(10.0), lit(1.0))

  private def qualityFrom(counts: DataFrame): DataFrame =
    counts
      .withColumn("avg_word_len",
        (col("len") - col("n_words") + 1).cast("double") / col("n_words"))
      .withColumn("distinct_ratio", col("n_distinct").cast("double") / col("n_words"))
      .withColumn("stopword_ratio", col("n_stop").cast("double") / col("n_words"))
      .withColumn("quality", qualityScoreOf(col("n_words"),
        col("n_distinct"), col("n_stop"), col("len")))
      .drop("len")
      .orderBy(col("doc_id"))

  /** Count-Min frequency sketch over corpus words, evaluated on the
    * exact top-k words. Four hash rows (the first four minhash
    * permutations over the portable h32, reduced mod `width`); a
    * word's estimate is the MIN of its four bucket counts — always an
    * over-estimate, never under (the CMS guarantee, asserted in the
    * oracle comparison by construction since both engines compute the
    * same buckets). Deterministic hashing makes the ESTIMATES
    * oracle-exact, like [[graft.ext.Dedup.kmvDistinct]]. At scale the
    * sketch is a (4 x width) table built by one map-side-combined
    * aggregation — mergeable across partitions/streams by addition.
    */
  def countMinWords(docs: org.apache.spark.sql.DataFrame, width: Int,
                    topK: Int): org.apache.spark.sql.DataFrame = {
    import graft.functions.Hashing
    val rows = Hashing.perms.take(4)
    val words = graft.core.Tables.spread(docs)
      .select(explode(TextOps.words(col("text"))).as("w"))
      .withColumn("h", Hashing.h32(col("w")))
    def bucketOf(j: Int): Column = {
      val (a, b) = rows(j)
      pmod(pmod(lit(a) * col("h") + lit(b), lit(Hashing.MersennePrime)),
        lit(width.toLong))
    }
    val sketch = words
      .select(posexplode(array((0 until 4).map(bucketOf): _*))
        .as(Seq("row_idx", "bucket")))
      .groupBy(col("row_idx"), col("bucket"))
      .agg(count(lit(1)).as("bucket_n"))
    val top = words.groupBy(col("w"))
      .agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("w")).limit(topK)
      .withColumn("h", Hashing.h32(col("w")))
    top
      .select(col("w"), col("n_exact"),
        posexplode(array((0 until 4).map(bucketOf): _*))
          .as(Seq("row_idx", "bucket")))
      .join(sketch, Seq("row_idx", "bucket"))
      .groupBy(col("w"), col("n_exact"))
      .agg(min(col("bucket_n")).as("n_est"))
      .orderBy(col("n_exact").desc, col("w"))
  }

  /** Gopher-style repetition metrics (Rae et al. 2021 §A1.1): the
    * quality dimension [[qualityScore]] doesn't cover — templated/spam
    * text repeats itself. Per doc, from exact integer counts and single
    * IEEE divisions (deterministic across engines):
    *   - dup_word_frac:  1 - distinct words / words;
    *   - top_word_frac:  occurrences of the most frequent word / words;
    *   - dup_3gram_frac: 1 - distinct word-3-grams / word-3-grams;
    *   - keep: all three under their thresholds.
    * Shape at scale: one explode + two hash aggregations on doc_id —
    * skew-free (doc_id keys), map-side combined.
    */
  def repetitionMetrics(docs: DataFrame,
                        maxDupWord: Double = 0.6,
                        maxTopWord: Double = 0.3,
                        maxDup3gram: Double = 0.6): DataFrame = {
    val spread = graft.core.Tables.spread(docs)
    val wordStats = spread
      .select(col("doc_id"), explode(TextOps.words(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_words"),
        count(lit(1)).as("n_distinct_words"),
        max(col("c")).as("top_word_n"))
    val shingleStats = spread.select(col("doc_id"),
        greatest(size(TextOps.words(col("text"))) - 2, lit(0)).as("n_3g"),
        size(TextOps.wordShingles(col("text"), 3)).as("n_distinct_3g"))
    wordStats.join(shingleStats, "doc_id")
      .withColumn("dup_word_frac",
        lit(1.0) - col("n_distinct_words").cast("double") / col("n_words").cast("double"))
      .withColumn("top_word_frac",
        col("top_word_n").cast("double") / col("n_words").cast("double"))
      .withColumn("dup_3gram_frac",
        when(col("n_3g") > 0,
          lit(1.0) - col("n_distinct_3g").cast("double") / col("n_3g").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("keep",
        col("dup_word_frac") <= maxDupWord &&
        col("top_word_frac") <= maxTopWord &&
        col("dup_3gram_frac") <= maxDup3gram)
      .orderBy(col("doc_id"))
  }

  /** Token counts: whitespace tokens plus a BPE-ish regex segmentation
    * (letter runs / digit runs / single other chars).
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    graft.core.Tables.spread(docs).select(col("doc_id"),
        size(TextOps.words(col("text"))).as("n_ws_tokens"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
          .as("n_bpe_tokens"),
        length(col("text")).as("n_chars_calc"))
      .withColumn("chars_per_token",
        col("n_chars_calc").cast("double") / col("n_ws_tokens"))
      .orderBy(col("doc_id"))

  /** PII scrubbing: count and redact emails, phone numbers, and IPv4
    * addresses — the privacy pass a training corpus runs before
    * release. Conservative character-class patterns chosen to behave
    * identically under Java regex (Spark) and RE2 (oracle); redaction
    * applies email → phone → IP in that fixed order so both engines
    * transform identically. Counts are over the ORIGINAL text; the
    * redacted text is fingerprinted (md5) rather than emitted. Pure
    * projection — scan speed, no shuffle.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  def piiRedact(docs: DataFrame): DataFrame = {
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"), EmailPattern, "<EMAIL>"),
        PhonePattern, "<PHONE>"),
      Ipv4Pattern, "<IP>")
    // typed function, not expr(): SQL string literals would eat the
    // pattern's backslashes
    def nMatches(pat: String) =
      size(regexp_extract_all(col("text"), lit(pat), lit(0)))
    graft.core.Tables.spread(docs).select(col("doc_id"),
        nMatches(EmailPattern).as("n_emails"),
        nMatches(PhonePattern).as("n_phones"),
        nMatches(Ipv4Pattern).as("n_ips"),
        md5(redacted).as("redacted_md5"))
      .withColumn("has_pii",
        col("n_emails") + col("n_phones") + col("n_ips") > 0)
      .orderBy(col("doc_id"))
  }

  /** Statistical LM-quality proxy (the CCNet-style corpus-frequency
    * filter, without the external LM): each doc scores the MEAN corpus
    * DOCUMENT-frequency of its DISTINCT word bigrams (wordShingles
    * dedups within a doc, so cnt counts documents containing the
    * bigram, not occurrences — deliberately repetition-blind: a doc
    * repeating one common construction 100x scores as if it used it
    * once; occurrence-level repetition is [[repetitionMetrics]]'s job).
    * Fluent prose built from common constructions scores high,
    * gibberish and boilerplate-of-rare-tokens score low; in a curation
    * DAG the score ranks docs the way a real LM-perplexity bucket
    * would, from nothing but the corpus itself.
    *
    * Scale shape: one hash-partitioned bigram count aggregation (the
    * corpus LM "training"), one bigram-keyed fact join to attach each
    * distinct bigram's frequency, one per-doc aggregation. The mean is a
    * floating sum over an engine-chosen row order, so it's summed as
    * floor(freq * 2^40) exact integers — the same fixed-point trick as
    * the k-means centroid means — making the score bit-portable.
    * No logs on purpose: libm log is not correctly rounded and differs
    * across engines; the mean-frequency ranks identically to mean-log
    * for filtering cutlines at matched bigram counts.
    *
    * Output: (doc_id, n_bigrams = the doc's DISTINCT bigram count,
    * mean_freq), docs with >= 1 bigram.
    */
  def lmQualityScore(docs: DataFrame): DataFrame = {
    val Q = 1099511627776.0 // 2^40
    val bi = graft.core.Tables.spread(docs)
      .select(col("doc_id"),
        explode(TextOps.wordShingles(col("text"), 2)).as("bigram"))
      .cpGuard() // read by counts, the total, and the fact join
    val counts = bi.groupBy(col("bigram")).agg(count(lit(1)).as("cnt"))
    val total = bi.agg(count(lit(1)).as("total"))
    bi.join(counts.hint("shuffle_hash"), "bigram")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        (col("cnt").cast("double") / col("total").cast("double")).as("freq"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(floor(col("freq") * lit(Q))).cast("double")
          / count(lit(1)).cast("double") / lit(Q)).as("mean_freq"))
      .orderBy(col("doc_id"))
  }

  /** Order-sensitive document fingerprint: polynomial rolling hash over
    * the word-hash sequence, mod 2^31-1. Content AND order sensitive
    * (unlike minhash), exact in 64-bit integer arithmetic.
    */
  def fingerprint(docs: DataFrame): DataFrame =
    graft.core.Tables.spread(docs).select(col("doc_id"),
        aggregate(
          transform(TextOps.words(col("text")), w => h32(w)),
          lit(0L),
          (acc, x) => pmod(acc * 31 + x, lit(P))).as("fingerprint"),
        md5(col("text")).as("exact_md5"))
      .orderBy(col("doc_id"))

  /** BM25-style ranked retrieval: docs with doc_id < nQueries are the
    * query set, the rest are the searchable corpus — the sparse
    * (lexical) retrieval shape a curation/RAG pipeline runs next to
    * the dense ANN stack ([[Similarity]]).
    *
    * Scoring is the BM25 term-frequency saturation (k1 = 1.2,
    * b = 0.75) with a RATIONAL idf normalized by corpus size:
    * `(N - df + 0.5) / (df + 0.5) / N` — no libm `ln` (whose last ulp
    * differs across engines), monotone-in-df like the standard idf,
    * and bounded <= ~2 at ANY corpus size, which keeps the per-doc
    * fixed-point partial sums inside Long forever. The 1/N factor is a
    * per-query uniform scale, so rankings are exactly those of the
    * un-normalized rational idf. Per-(query, doc) scores sum
    * `floor(term_score * 2^40)` longs — order-independent across
    * partitions (the k-means centroid-mean discipline) — and the rank
    * ties on the integer sum, identically in both engines.
    *
    * Scale shape: postings (tf + df + dl attach by equi-joins) are
    * term-partitioned — the standard inverted-index layout a production
    * system persists bucketed by term; the corpus-wide stats row is a
    * 1-row broadcast. Nothing corpus-sized broadcasts; the only
    * skew risk is stop-like terms, which at scale get the same
    * [[HotBuckets]] treatment as hot shingles.
    *
    * Output: (query_id, neighbor_id, score, rn) — top `topK` corpus
    * docs per query by BM25-style score.
    */
  def bm25TopK(docs: DataFrame, nQueries: Int, topK: Int): DataFrame = {
    val Q = 1099511627776.0 // 2^40
    val words = graft.core.Tables.spread(docs).select(col("doc_id"),
      explode(split(col("text"), " ")).as("w"))
    // ONE corpus-scale aggregation: tf is the only pass over the
    // exploded words; dl (= sum of tf per doc), df (= tf rows per term
    // — (t_id, w) is already distinct) and the corpus stats all derive
    // from the much smaller tf table
    val tf = words.filter(col("doc_id") >= nQueries)
      .groupBy(col("doc_id").as("t_id"), col("w"))
      .agg(count(lit(1)).as("tf"))
      .cpGuard()
    val dl = tf.groupBy(col("t_id"))
      .agg(sum(col("tf")).as("dl"))
      .cpGuard() // read by the pair join and the stats row
    val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("n_words"))
    val qt = words.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("q_id"), col("w")).distinct()
    val nD = col("n_docs").cast("double")
    val avgdl = col("n_words").cast("double") / nD
    val idf = ((nD - col("df").cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))) / nD
    val tfd = col("tf").cast("double")
    val termScore = idf * ((tfd * lit(2.2)) /
      (tfd + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl))))
    val scored = qt
      .join(tf, "w")
      .join(dfreq, "w")
      .join(dl.hint("shuffle_hash"), "t_id")
      .crossJoin(broadcast(stats))
      .groupBy(col("q_id"), col("t_id"))
      .agg(sum(floor(termScore * lit(Q))).as("s"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("s").desc, col("t_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select(col("q_id").as("query_id"), col("t_id").as("neighbor_id"),
        (col("s").cast("double") / lit(Q)).as("score"), col("rn"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** Model-based quality filtering, the GPT-3/LLaMA corpus-curation
    * shape: train a linear classifier to separate a curated positive
    * corpus from the raw crawl, then score EVERY document and keep the
    * positives. The model here is the exact-count odds form — for each
    * token, w(t) = n_pos(t)·N_neg − n_neg(t)·N_pos (sign = which class
    * the token favors after normalizing class sizes; the integer-exact
    * stand-in for the log-odds weight, trainable in one aggregation,
    * no libm). A document's score is the sum of its tokens' weights;
    * keep = score > 0.
    *
    * Distribution shape: training is ONE partial-aggregable groupBy
    * over the labeled subset's exploded tokens; the learned weight
    * table is vocabulary-of-the-training-sample sized and BROADCAST to
    * the scoring join — the full-corpus score pass is map-side (no
    * shuffle on token, so stop-word skew can't hot-key it), followed
    * by one groupBy(doc_id). The only driver-side values are the two
    * class token totals (one 2-long collect — they parameterize the
    * weight formula and its overflow envelope). Envelope, enforced:
    * N_pos·N_neg < 2^40 keeps every weight under 2^40 and any document
    * below 2^22 tokens under the Long sum bound — at real scale the
    * training sample is deliberately bounded (quality classifiers
    * train on samples, not the corpus), so the envelope is a sampling
    * contract, not a size limit.
    */
  def oddsQualityClassifier(docs: DataFrame, posSources: Seq[String],
                            negSources: Seq[String]): DataFrame = {
    require(posSources.nonEmpty && negSources.nonEmpty &&
      posSources.intersect(negSources).isEmpty,
      "positive/negative source sets must be non-empty and disjoint")
    val spread = graft.core.Tables.spread(docs)
    val tok = spread.select(col("doc_id"),
      explode(TextOps.words(col("text"))).as("tk"))
    val lab = docs
      .filter(col("source").isin(posSources ++ negSources: _*))
      .select(col("doc_id"), col("source").isin(posSources: _*).as("pos"))
    val cnt = tok.join(lab, "doc_id").groupBy(col("tk"))
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(!col("pos"), 1L).otherwise(0L)).as("n_neg"))
      .cpGuard() // read twice: totals row + weight projection
    val totals = cnt.agg(
      coalesce(sum(col("n_pos")), lit(0L)).cast("long"),
      coalesce(sum(col("n_neg")), lit(0L)).cast("long")).collect()(0)
    val (np, nn) = (totals.getLong(0), totals.getLong(1))
    require(np > 0 && nn > 0, "both classes need at least one token")
    require(np < (1L << 31) && nn < (1L << 31) && np * nn < (1L << 40),
      s"class token totals $np x $nn exceed the 2^40 weight envelope: " +
      "train on a bounded sample (weights, then doc sums, would " +
      "overflow Long)")
    val wt = cnt.select(col("tk"),
      (col("n_pos") * lit(nn) - col("n_neg") * lit(np)).as("w"))
    val sc = tok.join(broadcast(wt), Seq("tk"))
      .groupBy(col("doc_id")).agg(sum(col("w")).as("score"))
    spread.select(col("doc_id"),
        size(TextOps.words(col("text"))).as("n_tokens"))
      .join(sc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("score"), lit(0L)).as("score"),
        (coalesce(col("score"), lit(0L)) > 0L).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Byte-pair-encoding merge training (Sennrich et al. 2016, the
    * word-frequency-dictionary formulation every BPE tokenizer trainer
    * uses): start from character sequences over the corpus's top
    * `vocabTop` words (deterministic (freq DESC, word) cut — a
    * TakeOrdered, not a global window), then `iters` times (a) count
    * adjacent symbol pairs weighted by word frequency, (b) pick the
    * argmax pair with (count DESC, pair) tie-break, (c) merge it
    * leftmost-non-overlapping in every sequence. Returns one row per
    * learned merge: (iter, sym_a, sym_b, pair_count).
    *
    * Distribution shape: each iteration is one explode + one partial-
    * aggregable groupBy over the vocab table; the only driver-side
    * value is the single argmax row per iteration (the same bounded-
    * collect contract as the k-means Lloyd loop — merges ARE the
    * model). Sequences hold symbols as " sym " units separated by two
    * spaces, so the merge is a plain leftmost string replace of
    * " a  b " with " ab " — adjacent occurrences keep disjoint
    * delimiters and no symbol can match inside another's name; the
    * same replace() semantics hold in the oracle engine, making every
    * iteration value-verifiable.
    */
  def bpeMerges(docs: DataFrame, vocabTop: Int = 200,
                iters: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    learnBpeMerges(docs, vocabTop, iters)
      .toDF("iter", "sym_a", "sym_b", "pair_count")
      .orderBy(col("iter"))
  }

  /** The [[bpeMerges]] training loop, returning the learned merges as
    * driver values (one bounded argmax row per iteration).
    */
  private def learnBpeMerges(docs: DataFrame, vocabTop: Int,
                             iters: Int): Seq[(Int, String, String, Long)] = {
    var vocab = graft.core.Tables.spread(docs)
      .select(explode(TextOps.words(col("text"))).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word")).limit(vocabTop)
      .withColumn("seq", regexp_replace(col("word"), "(.)", " $1 "))
      .cpGuard()
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (i <- 1 to iters) {
      val syms = vocab
        .select(col("freq"), split(trim(col("seq")), "  ").as("sy"))
        .filter(size(col("sy")) > 1)
      val top = syms
        .select(col("freq"), explode(
            transform(sequence(lit(1), size(col("sy")) - 1), j =>
              struct(element_at(col("sy"), j).as("a"),
                element_at(col("sy"), j + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      require(top.nonEmpty, s"BPE iteration $i: no adjacent pairs left")
      val (a, b, cnt) =
        (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
      merges += ((i, a, b, cnt))
      vocab = vocab.withColumn("seq",
          expr(s"replace(seq, ' $a  $b ', ' $a$b ')"))
        .cpGuard()
    }
    merges.result()
  }

  /** Train-then-APPLY: tokenize the whole corpus with the merges
    * [[bpeMerges]] learns, reporting per-language vocabulary
    * compression. Merges are word-internal (standard BPE): each word
    * becomes its " c " unit sequence, the learned replaces run in
    * merge order, units are counted back per word and summed per
    * language — one explode + the same leftmost-replace semantics as
    * training, then a partial-aggregable groupBy; chars_per_unit is a
    * single per-group IEEE division over exact integer sums.
    */
  def bpeTokenize(docs: DataFrame, vocabTop: Int = 200,
                  iters: Int = 3): DataFrame = {
    val merges = learnBpeMerges(docs, vocabTop, iters)
    val seq0 = regexp_replace(col("word"), "(.)", " $1 ")
    // the Column form of replace — the exact twin of the SQL replace
    // the training loop used, applied in merge order
    val seqCol = merges.foldLeft(seq0) { case (acc, (_, a, b, _)) =>
      call_function("replace", acc, lit(s" $a  $b "), lit(s" $a$b "))
    }
    graft.core.Tables.spread(docs)
      .select(col("lang"), explode(TextOps.words(col("text"))).as("word"))
      .select(col("lang"), length(col("word")).cast("long").as("n_chars"),
        size(split(trim(seqCol), "  ")).cast("long").as("n_units"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_chars")).as("n_chars"),
        sum(col("n_units")).as("n_units"))
      .withColumn("chars_per_unit",
        col("n_chars").cast("double") / col("n_units").cast("double"))
      .orderBy(col("lang"))
  }

  /** Shingle NOVELTY per document: the fraction of a doc's distinct
    * word shingles whose FIRST corpus occurrence (in doc_id order —
    * the ingestion order) is this doc. A crawler re-fetching mostly
    * boilerplate scores near 0; genuinely new text scores near 1 — the
    * marginal-information signal dedup thresholds are too blunt for
    * (a doc can be 40% recycled yet worth keeping).
    *
    * Shape: one shingle explode -> groupBy(shingle).min(doc_id) (the
    * first-occurrence index a production pipeline persists and
    * min-merges incrementally — the same grow-only idea as the
    * StreamDedup band state) -> join back on shingle -> one
    * groupBy(doc). All key-partitioned; no windows, no driver state.
    * Docs too short to shingle report n_shingles = 0, novelty null.
    */
  /** Vocabulary growth curve (Heaps' law): distinct-shingle count and
    * total shingle occurrences among the first-c docs (doc_id order),
    * at a fixed checkpoint ladder — the corpus statistic that says
    * whether more data still buys new content or the crawl has gone
    * circular. "First c docs" means the c lowest doc_ids by RANK
    * (graft.operators.SeqNumber — range-partitioned, no unpartitioned
    * window), so sparse or offset id spaces cut at the right docs, not
    * at a literal id value. ONE pass after ranking: the
    * first-occurrence table ([[noveltyScore]]'s index) reduces to
    * |checkpoints| conditional sums — never a scan per checkpoint.
    * Output: (checkpoint, n_tokens, vocab) ascending.
    */
  def vocabGrowth(docs: DataFrame,
                  checkpoints: Seq[Long] = Seq(16L, 64L, 256L, 1024L, 4096L,
                    16384L)): DataFrame = {
    require(checkpoints.nonEmpty && checkpoints == checkpoints.sorted,
      "ascending non-empty checkpoints")
    val ranked = graft.operators.SeqNumber.withSeq(
      graft.core.Tables.spread(docs).select(col("doc_id"), col("text")),
      Seq(col("doc_id")), "pos")
    val sh = ranked
      .select(col("pos"),
        explode(TextOps.wordShingles(col("text"), Dedup.ShingleSize)).as("s"))
    val first = sh.groupBy(col("s"))
      .agg(min(col("pos")).as("first_pos"), count(lit(1)).as("occ_all"))
    // occurrences among the first-c docs need the per-doc counts, not
    // occ_all (a shingle first seen early can recur late) — so tokens
    // come from the raw (pos, s) pairs, vocab from the first table
    // coalesce: sum over an EMPTY corpus is null, the curve reads 0
    val tokCols = checkpoints.map(c =>
      coalesce(sum(when(col("pos") <= c, 1L).otherwise(0L)), lit(0L))
        .as(s"t$c"))
    val tokRow = sh.agg(tokCols.head, tokCols.tail: _*)
    val vocCols = checkpoints.map(c =>
      coalesce(sum(when(col("first_pos") <= c, 1L).otherwise(0L)), lit(0L))
        .as(s"v$c"))
    val vocRow = first.agg(vocCols.head, vocCols.tail: _*)
    val spark = docs.sparkSession
    import spark.implicits._
    val cps = checkpoints.toDF("checkpoint")
    cps.crossJoin(broadcast(tokRow)).crossJoin(broadcast(vocRow))
      .select(col("checkpoint"),
        checkpoints.map(c => when(col("checkpoint") === c, col(s"t$c")))
          .reduce(coalesce(_, _)).as("n_tokens"),
        checkpoints.map(c => when(col("checkpoint") === c, col(s"v$c")))
          .reduce(coalesce(_, _)).as("vocab"))
      .orderBy(col("checkpoint"))
  }

  def noveltyScore(docs: DataFrame): DataFrame = {
    val sh = graft.core.Tables.spread(docs)
      .select(col("doc_id"),
        explode(TextOps.wordShingles(col("text"), Dedup.ShingleSize)).as("s"))
    val first = sh.groupBy(col("s")).agg(min(col("doc_id")).as("first_doc"))
    val scored = sh.join(first.hint("shuffle_hash"), Seq("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        (col("n_novel").cast("double") / col("n_shingles").cast("double"))
          .as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** Reliability diagram for the odds quality classifier
    * ([[oddsQualityClassifier]]'s construction) on HELD-OUT labeled
    * docs — the calibration audit that says whether the score is a
    * probability-like signal or just a ranking: weights train on the
    * even-doc_id half, the odd labeled half is scored and rank-binned
    * into nBins equal-count bins ((score, doc_id) order via SeqNumber —
    * no unpartitioned window), and each bin reports its observed
    * positive rate next to its mean score. A calibrated classifier's
    * pos_rate rises monotonically with the bin.
    *
    * All counts and score sums exact BIGINTs; the two per-bin doubles
    * are single divisions. Output: (bin, n, n_pos, pos_rate,
    * sum_score, mean_score) ascending.
    */
  def qualityCalibration(docs: DataFrame, posSources: Seq[String],
                         negSources: Seq[String], nBins: Int): DataFrame = {
    require(nBins >= 2, "nBins >= 2")
    val scored = heldOutScored(docs, posSources, negSources)
    val ranked = graft.operators.SeqNumber.withSeq(scored,
      Seq(col("score"), col("doc_id")), "rk")
    val nTot = scored.agg(count(lit(1)).cast("long").as("n_total"))
    ranked.crossJoin(broadcast(nTot))
      .select(col("pos"), col("score"),
        expr(s"CAST((rk - 1) * $nBins div n_total AS BIGINT) + 1").as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).cast("long").as("n"),
        coalesce(sum(when(col("pos"), 1L).otherwise(0L)), lit(0L))
          .cast("long").as("n_pos"),
        coalesce(sum(col("score")), lit(0L)).cast("long").as("sum_score"))
      .select(col("bin"), col("n"), col("n_pos"),
        (col("n_pos").cast("double") / col("n").cast("double"))
          .as("pos_rate"),
        col("sum_score"),
        (col("sum_score").cast("double") / col("n").cast("double"))
          .as("mean_score"))
      .orderBy(col("bin"))
  }

  /** Shared held-out scoring pass for the classifier-evaluation
    * operators ([[qualityCalibration]], [[aucAudit]]): train the
    * [[oddsQualityClassifier]] weight table on even doc_ids, score the
    * odd LABELED docs, return (doc_id, pos, score) with unmatched docs
    * scored 0. Same envelope contract as the classifier (2^40 weight
    * bound, bounded 2-long totals collect).
    */
  private def heldOutScored(docs: DataFrame, posSources: Seq[String],
                            negSources: Seq[String]): DataFrame = {
    require(posSources.nonEmpty && negSources.nonEmpty &&
      posSources.intersect(negSources).isEmpty,
      "positive/negative source sets must be non-empty and disjoint")
    val spread = graft.core.Tables.spread(docs)
    val train = spread.filter(col("doc_id") % 2 === 0)
    val test = spread.filter(col("doc_id") % 2 === 1 &&
      col("source").isin(posSources ++ negSources: _*))
    val tokTrain = train.select(col("doc_id"),
      explode(TextOps.words(col("text"))).as("tk"))
    val labTrain = train
      .filter(col("source").isin(posSources ++ negSources: _*))
      .select(col("doc_id"), col("source").isin(posSources: _*).as("pos"))
    val cnt = tokTrain.join(labTrain, "doc_id").groupBy(col("tk"))
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(!col("pos"), 1L).otherwise(0L)).as("n_neg"))
      .cpGuard() // read twice: totals row + weight projection
    val totals = cnt.agg(
      coalesce(sum(col("n_pos")), lit(0L)).cast("long"),
      coalesce(sum(col("n_neg")), lit(0L)).cast("long")).collect()(0)
    val (np, nn) = (totals.getLong(0), totals.getLong(1))
    require(np > 0 && nn > 0, "both classes need at least one training token")
    require(np < (1L << 31) && nn < (1L << 31) && np * nn < (1L << 40),
      s"class token totals $np x $nn exceed the 2^40 weight envelope")
    val wt = cnt.select(col("tk"),
      (col("n_pos") * lit(nn) - col("n_neg") * lit(np)).as("w"))
    val sc = test.select(col("doc_id"),
        explode(TextOps.words(col("text"))).as("tk"))
      .join(broadcast(wt), Seq("tk"))
      .groupBy(col("doc_id")).agg(sum(col("w")).as("score"))
    test
      .select(col("doc_id"), col("source").isin(posSources: _*).as("pos"))
      .join(sc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("pos"),
        coalesce(col("score"), lit(0L)).as("score"))
  }

  /** Exact ROC AUC of the held-out classifier scores — the
    * discrimination companion to [[qualityCalibration]]'s calibration
    * bins, via the Mann-Whitney rank-sum identity AUC = (ΣR⁺ −
    * n⁺(n⁺+1)/2) / (n⁺n⁻) with MIDRANKS for tied scores (the exact
    * trapezoidal-ROC value, Hanley & McNeil 1982). All integer: per
    * distinct score, 2·midrank = 2·(rows before) + (rows at) + 1, so
    * 2ΣR⁺ = Σ_s n⁺_s·(2C_s + n_s + 1) and auc_ppm = (2ΣR⁺ −
    * n⁺(n⁺+1))·10⁶ div (2n⁺n⁻) — DECIMAL(38,0) intermediates, one
    * integral `div`, no IEEE arithmetic anywhere.
    *
    * Scale shape: scores collapse to one partial-aggregable
    * groupBy(score); the rows-before count C_s is an exclusive
    * [[graft.operators.PrefixSum.withRunningSum]] over score order
    * (range-partitioned — never a single-task window); the rest is one
    * constant-size total aggregation. Output: ONE row (n_pos, n_neg,
    * n_distinct_scores, auc_num, auc_den, auc_ppm) where auc_num/den
    * is the exact rational AUC·den.
    */
  def aucAudit(docs: DataFrame, posSources: Seq[String],
               negSources: Seq[String]): DataFrame =
    aucFromScored(heldOutScored(docs, posSources, negSources))

  /** The rank-sum AUC core of [[aucAudit]] over an already-scored
    * (pos: boolean, score: integral) table — exposed so the midrank
    * arithmetic is spec-testable on hand values.
    */
  def aucFromScored(scored: DataFrame): DataFrame = {
    val grp = scored
      .groupBy(col("score"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("np"))
    val c = graft.operators.PrefixSum.withRunningSum(
      grp, Seq(col("score").asc), "n", "c_before")
    c.agg(
        sum(col("np").cast("decimal(38,0)") *
          (lit(2) * col("c_before") + col("n") + lit(1))).as("s2"),
        sum(col("np")).cast("decimal(38,0)").as("npos"),
        sum(col("n") - col("np")).cast("decimal(38,0)").as("nneg"),
        count(lit(1)).as("n_distinct_scores"))
      .select(
        col("npos").cast("long").as("n_pos"),
        col("nneg").cast("long").as("n_neg"),
        col("n_distinct_scores"),
        (col("s2") - col("npos") * (col("npos") + lit(1)))
          .cast("long").as("auc_num"),
        (lit(2) * col("npos") * col("nneg")).cast("long").as("auc_den"),
        expr("""CAST(CASE WHEN npos > 0 AND nneg > 0
                 THEN (s2 - npos * (npos + 1)) * 1000000
                      div (2 * npos * nneg)
                 ELSE NULL END AS BIGINT)""").as("auc_ppm"))
  }

  /** Collocation extraction by lift (the PMI ranking without the log:
    * monotone in pointwise mutual information for fixed scaling, so
    * the top-k by lift IS the top-k by PMI — and stays exact integer,
    * the c31/g19 no-runtime-libm discipline): bigrams occurring >=
    * `minCount` times ranked by observed/expected under unigram
    * independence, lift_ppm = floor(c_ab * N_uni * 10⁶ / (c_a * c_b))
    * (expected adjacent-pair count ≈ c_a·c_b/N_uni over the corpus's
    * adjacency slots). Church & Hanks 1990's association measure, the
    * standard phrase-mining signal ("new york" ranks; "of the" does
    * not despite its raw count).
    *
    * Scale shape: two partial-aggregable groupBys (unigram + bigram
    * occurrence counts, the t06 shingle discipline), two equi-joins of
    * the thresholded bigram table against the unigram counts, a 1-row
    * token-total broadcast, and a TakeOrdered top-k — never a window,
    * never all-pairs. DECIMAL(38,0) intermediates; ties break (w_a,
    * w_b).
    */
  def collocations(docs: DataFrame, minCount: Long = 5L,
                   topK: Int = 50): DataFrame = {
    require(minCount >= 1 && topK >= 1, "minCount >= 1, topK >= 1")
    val spread = graft.core.Tables.spread(docs)
    val uni = spread
      .select(explode(TextOps.words(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .cpGuard() // read three times: token total + both component joins
    val nUni = uni.agg(sum(col("c")).as("n_uni"))
    val bi = spread
      .select(explode(TextOps.allWordShingles(col("text"), 2)).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
      .select(split(col("bigram"), " ").getItem(0).as("w_a"),
        split(col("bigram"), " ").getItem(1).as("w_b"), col("c_ab"))
    bi.join(uni.toDF("w_a", "c_a"), Seq("w_a"))
      .join(uni.toDF("w_b", "c_b"), Seq("w_b"))
      .crossJoin(broadcast(nUni))
      .select(col("w_a"), col("w_b"), col("c_ab"), col("c_a"), col("c_b"),
        expr("""CAST(CAST(c_ab AS DECIMAL(38,0)) * n_uni * 1000000
                 div (CAST(c_a AS DECIMAL(38,0)) * c_b) AS BIGINT)""")
          .as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("w_a"), col("w_b"))
      .limit(topK)
  }

  /** Cross-document boilerplate coverage — the C4/CCNet-style scrub
    * statistic (Raffel et al. 2020 §2.2 remove repeated lines; here on
    * word shingles because the corpus is single-line): a word n-gram
    * occurring in >= minDocs DISTINCT docs is boilerplate, and a doc's
    * covered-token count is the length of the UNION of all boilerplate
    * shingle intervals [pos, pos+n) — overlapping shingles count each
    * token once (the gaps-and-islands union, not a naive n-per-hit
    * sum, which would overshoot on runs).
    *
    * Shape: one positional shingle explode -> groupBy(shingle)
    * distinct-doc count (the boilerplate lexicon a production pipeline
    * persists) -> equi-join back -> per-doc PARTITIONED window over
    * positions for the interval union. No unpartitioned window, no
    * driver state; the lexicon join is a key-partitioned shuffle join
    * (broadcastable when the lexicon is small).
    *
    * Output: (doc_id, n_tokens, covered, frac) for every doc,
    * frac = covered / n_tokens (null on empty docs).
    */
  def boilerplateCoverage(docs: DataFrame, n: Int = Dedup.ShingleSize,
                          minDocs: Long = 20L): DataFrame = {
    require(n >= 1 && minDocs >= 2, "n >= 1, minDocs >= 2")
    val sh = graft.core.Tables.spread(docs)
      .select(col("doc_id"),
        posexplode(TextOps.allWordShingles(col("text"), n)).as(Seq("pos", "s")))
    val boiler = sh.groupBy(col("s"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("s"))
    // interval union per doc: contribution of [pos, pos+n) is the part
    // past the furthest end seen so far (rows sorted by pos)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val covered = sh.join(boiler.hint("shuffle_hash"), Seq("s"))
      .withColumn("prev_end", coalesce(max(col("pos") + n).over(w), col("pos")))
      .withColumn("contrib",
        greatest(lit(0), col("pos") + n - greatest(col("pos"), col("prev_end"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib")).cast("long").as("covered"))
    docs.select(col("doc_id"),
        size(TextOps.words(col("text"))).cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("covered"), lit(0L)).as("covered"),
        (coalesce(col("covered"), lit(0L)).cast("double") /
          col("n_tokens").cast("double")).as("frac"))
      .orderBy(col("doc_id"))
  }

  /** Boilerplate SCRUB — [[boilerplateCoverage]] made actionable, the
    * C4 removal step itself: tokens covered by any boilerplate shingle
    * interval are dropped and the surviving tokens reassemble (in
    * position order) into the cleaned text. Covered positions come
    * from exploding each boilerplate hit into its n positions (bounded
    * n-fold fanout of HITS, not tokens) and anti-joining the token
    * table — no range join. Reassembly is a per-doc sort of collected
    * (pos, token) structs: docs are bounded-length rows by contract,
    * so the per-group array is bounded (the same contract as every
    * per-doc aggregation here).
    *
    * Output: (doc_id, n_tokens, n_kept, scrubbed_text) for every doc.
    */
  def boilerplateScrub(docs: DataFrame, n: Int = Dedup.ShingleSize,
                       minDocs: Long = 20L): DataFrame = {
    require(n >= 1 && minDocs >= 2, "n >= 1, minDocs >= 2")
    val spread = graft.core.Tables.spread(docs)
    val sh = spread
      .select(col("doc_id"),
        posexplode(TextOps.allWordShingles(col("text"), n)).as(Seq("pos", "s")))
      .cpGuard() // feeds the lexicon AND the hit join
    val boiler = sh.groupBy(col("s"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("s"))
    val covered = sh.join(boiler.hint("shuffle_hash"), Seq("s"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("cpos"))
      .distinct()
    val toks = spread.select(col("doc_id"),
      posexplode(TextOps.words(col("text"))).as(Seq("pos", "tok")))
    val kept = toks
      .join(covered.withColumnRenamed("cpos", "pos"),
        Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_kept"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok"))).as("scrubbed_text"))
    spread.select(col("doc_id"),
        size(TextOps.words(col("text"))).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("scrubbed_text"), lit("")).as("scrubbed_text"))
      .orderBy(col("doc_id"))
  }

  /** Intra-document repetition profile — the Gopher repetition rules
    * (Rae et al. 2021, Table A1) at token granularity: duplicate-word
    * fraction (1 - distinct/total) and the share of all bigram
    * occurrences taken by the single most frequent bigram. High values
    * mean degenerate/templated text that survives cross-doc dedup
    * because it repeats only WITHIN the doc.
    *
    * Shape: two explode+groupBy passes (words, bigrams), both keyed by
    * (doc, token) then (doc) — partial-aggregable, skew-bounded by doc
    * length. Output: (doc_id, n_words, n_distinct, dup_frac,
    * top_bigram_n, n_bigrams, top_bigram_share) — shares null when the
    * denominator is zero (sub-bigram docs).
    */
  def intraDocRepetition(docs: DataFrame): DataFrame = {
    val d = graft.core.Tables.spread(docs)
    val wordStats = d
      .select(col("doc_id"), explode(TextOps.words(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("long").as("n_words"),
        count(lit(1)).cast("long").as("n_distinct"))
    val biStats = d
      .select(col("doc_id"),
        explode(TextOps.allWordShingles(col("text"), 2)).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).cast("long").as("top_bigram_n"),
        sum(col("c")).cast("long").as("n_bigrams"))
    docs.select(col("doc_id"))
      .join(wordStats, Seq("doc_id"), "left")
      .join(biStats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("n_words"), col("n_distinct"),
        ((col("n_words") - col("n_distinct")).cast("double") /
          col("n_words").cast("double")).as("dup_frac"),
        coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        when(coalesce(col("n_bigrams"), lit(0L)) > 0,
          col("top_bigram_n").cast("double") / col("n_bigrams").cast("double"))
          .as("top_bigram_share"))
      .orderBy(col("doc_id"))
  }

  /** Add-one-smoothed conditional bigram LM score per document: for
    * every bigram occurrence (w1 w2), p = (c(w1 w2) + 1) / (c(w1) + V)
    * with corpus-wide counts and vocabulary size V. Doc score = mean p
    * over the doc's bigram occurrences, in the t15 fixed-point
    * discipline (each p is ONE IEEE division of exact integers,
    * floor-quantized at 2^40, integer-summed, divided once) — no libm
    * log, so the score hash-matches cross-engine. This is the
    * perplexity-filter shape (CCNet/KenLM stage) with the monotone
    * probability mean standing in for exp(-mean log p).
    *
    * Scale: two hash aggregations (unigram + bigram counts) and one
    * shuffle-hash join of occurrences to counts — per-key state is the
    * n-gram's count, never the corpus.
    */
  def bigramLmScore(docs: DataFrame): DataFrame = {
    val Q = 1099511627776.0 // 2^40
    val d = graft.core.Tables.spread(docs)
    val uni = d.select(explode(TextOps.words(col("text"))).as("w"))
      .cpGuard() // read by both the unigram counts and the vocab size
    val uniCnt = uni.groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(countDistinct(col("w")).as("v"))
    val bi = d.select(col("doc_id"),
        explode(TextOps.allWordShingles(col("text"), 2)).as("bigram"))
      .withColumn("w1", element_at(split(col("bigram"), " "), 1))
      .cpGuard() // read by the bigram counts and the per-doc scoring
    val biCnt = bi.groupBy(col("bigram")).agg(count(lit(1)).as("c12"))
    bi.join(biCnt.hint("shuffle_hash"), "bigram")
      .join(uniCnt.hint("shuffle_hash"), col("w1") === col("w"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        ((col("c12") + 1).cast("double") /
          (col("c1") + col("v")).cast("double")).as("p"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(floor(col("p") * lit(Q))).cast("double")
          / count(lit(1)).cast("double") / lit(Q)).as("lm_score"))
      .orderBy(col("doc_id"))
  }

  /** Readability profile per document — Flesch reading ease with a
    * vowel-group syllable proxy, words-per-sentence, and type-token
    * ratio. Pure narrow projection (regexp counts + one split), no
    * shuffle: at 100 TB this runs at parquet-scan speed. Every ratio
    * is a single IEEE division and the Flesch polynomial is evaluated
    * in one fixed association order, so the doubles verify exactly.
    */
  def readability(docs: DataFrame): DataFrame = {
    val ws = TextOps.words(col("text"))
    val w = size(ws).cast("long")
    val syl = regexp_count(col("text"), lit("[aeiou]+")).cast("long")
    val sent = greatest(lit(1L),
      regexp_count(col("text"), lit("[.!?]")).cast("long"))
    val wps = w.cast("double") / sent.cast("double")
    val spw = syl.cast("double") / w.cast("double")
    docs.select(col("doc_id"),
        w.as("n_words"), syl.as("n_syllables"), sent.as("n_sentences"),
        wps.as("words_per_sentence"),
        spw.as("syllables_per_word"),
        (lit(206.835) - lit(1.015) * wps - lit(84.6) * spw)
          .as("flesch"),
        (array_size(array_distinct(ws)).cast("double") /
          w.cast("double")).as("ttr"))
      .orderBy(col("doc_id"))
  }

  /** RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    * maximal stopword-free word runs; word score = deg(w)/freq(w)
    * where deg sums the lengths of phrases containing w; phrase score
    * sums its word scores. Ratios are floor-quantized at 2^40 before
    * the sum (the t15 discipline) so ranking ties break identically
    * cross-engine; returns the global top `topK` phrase strings by
    * (score, phrase).
    *
    * Scale shape: phrase assembly is one window pass per doc (the
    * island id is pos - rank-among-kept), then two bounded hash
    * aggregations over (phrase, word) stats; the final top-k is a
    * TakeOrdered, never a global sort.
    */
  def rakeKeywords(docs: DataFrame, stop: Seq[String] = Seq("a", "the"),
                   topK: Int = 10): DataFrame = {
    val Q = 1099511627776.0 // 2^40
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val toks = graft.core.Tables.spread(docs)
      .select(col("doc_id"), posexplode(TextOps.words(col("text"))))
      .withColumnRenamed("col", "tok")
      .withColumn("keep", !col("tok").isin(stop: _*))
      .withColumn("grp",
        col("pos") - sum(when(col("keep"), 1L).otherwise(0L)).over(w))
    val phrases = toks.filter(col("keep"))
      .groupBy(col("doc_id"), col("grp"))
      .agg(array_sort(collect_list(struct(col("pos"), col("tok"))))
        .as("seq"))
      .select(concat_ws(" ", col("seq.tok")).as("phrase"),
        size(col("seq")).cast("long").as("plen"))
      .cpGuard() // read by word stats and by phrase scoring
    val wordStats = phrases
      .select(explode(split(col("phrase"), " ")).as("w1"), col("plen"))
      .groupBy(col("w1"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .withColumn("wscore",
        floor(col("deg").cast("double") / col("freq").cast("double")
          * lit(Q)).cast("long"))
    phrases
      .select(col("phrase")).distinct() // unique phrases scored once
      .select(col("phrase"),
        explode(split(col("phrase"), " ")).as("w1"))
      .join(wordStats.hint("shuffle_hash"), "w1")
      .groupBy(col("phrase"))
      .agg(sum(col("wscore")).as("qscore"),
        count(lit(1)).as("n_words_inc_dup"))
      .select(col("phrase"),
        (col("qscore").cast("double") / lit(Q)).as("score"))
      .orderBy(col("score").desc, col("phrase"))
      .limit(topK)
  }

  /** Gopher-style rule filter (Rae et al. 2021 §A1.1, adapted to the
    * corpus): per-document keep/drop verdict with the sorted list of
    * failed-rule names. Every threshold is evaluated in cross-
    * multiplied integer arithmetic (3*W <= chars <= 10*W instead of a
    * float mean), so the verdicts are exact. Narrow projection — one
    * scan, no shuffle; composes upstream of dedup in a curation DAG.
    *
    * Rules: word count in [minWords, maxWords]; mean word length in
    * [3, 10]; at least two stopword occurrences; no single word
    * exceeding 1/5 of the doc (dominance/repetition).
    */
  def gopherRules(docs: DataFrame, minWords: Int = 20,
                  maxWords: Int = 90,
                  stop: Seq[String] = Seq("a", "the")): DataFrame = {
    val ws = TextOps.words(col("text"))
    val w = size(ws).cast("long")
    // word chars = doc chars minus the (W-1) separating spaces
    val chars = (length(col("text")) - w + 1).cast("long")
    val stops = size(filter(ws, t => t.isin(stop: _*))).cast("long")
    // dominant-word count via explode + two partial-aggregable
    // groupBys (whole-stage codegen) — the nested per-doc
    // count-each-distinct HOF is interpreted and O(W * distinct),
    // measurably slower even at test scale
    val top = graft.core.Tables.spread(docs)
      .select(col("doc_id"), explode(ws).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_word_n"))
    val reasons = array(
      when(col("n_words") < minWords, lit("too_short")),
      when(col("n_words") > maxWords, lit("too_long")),
      when(col("n_word_chars") < col("n_words") * 3,
        lit("words_too_short")),
      when(col("n_word_chars") > col("n_words") * 10,
        lit("words_too_long")),
      when(col("n_stops") < 2, lit("no_stopwords")),
      when(col("top_word_n") * 5 > col("n_words"), lit("dominant_word")))
    docs.select(col("doc_id"), w.as("n_words"), chars.as("n_word_chars"),
        stops.as("n_stops"))
      .join(top, Seq("doc_id"))
      .withColumn("reasons",
        concat_ws(",", array_sort(filter(reasons, r => r.isNotNull))))
      .withColumn("kept", col("reasons") === "")
      .select(col("doc_id"), col("n_words"), col("n_word_chars"),
        col("n_stops"), col("top_word_n"), col("reasons"), col("kept"))
      .orderBy(col("doc_id"))
  }

  /** Vocabulary-coverage estimators per language from the same
    * frequency spectrum as [[yuleK]]: Good-Turing unseen-species mass
    * (Good 1953) p₀ = V(1)/N — the probability the NEXT token is a
    * never-seen type, i.e. how much vocabulary the corpus still
    * misses — and the bias-corrected Chao1 richness floor (Chao 1984)
    * V + V(1)·(V(1)−1)/(2·(V(2)+1)) — a lower bound on the TRUE
    * vocabulary size including unseen types. Together they answer the
    * curation question "is more data from this feed still buying new
    * vocabulary".
    *
    * Exactness: unseen mass as floor-ppm (BIGINT); Chao1's correction
    * term is an exact integer ratio with ONE IEEE division added to
    * the integer type count at the read edge (the +1 in the
    * denominator is the standard bias correction AND makes V(2)=0
    * safe). Same spectrum shape as [[yuleK]]: everything
    * partial-aggregable, nothing collected.
    *
    * Output: (lang, n_tokens, n_types, v1, v2, unseen_ppm, chao1).
    */
  def vocabCoverage(docs: DataFrame): DataFrame = {
    val spectrum = docs
      .select(col("lang"), explode(TextOps.words(col("text"))).as("w"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("m"))
      .groupBy(col("lang"), col("m")).agg(count(lit(1)).as("v"))
    spectrum.groupBy(col("lang"))
      .agg(sum(col("m") * col("v")).as("n_tokens"),
        sum(col("v")).as("n_types"),
        sum(when(col("m") === 1, col("v")).otherwise(lit(0L))).as("v1"),
        sum(when(col("m") === 2, col("v")).otherwise(lit(0L))).as("v2"))
      .select(col("lang"), col("n_tokens"), col("n_types"),
        col("v1"), col("v2"),
        expr("1000000 * v1 div n_tokens").as("unseen_ppm"),
        (col("n_types").cast("double")
          + (col("v1") * (col("v1") - 1)).cast("double")
            / (lit(2) * (col("v2") + 1)).cast("double")).as("chao1"))
      .orderBy(col("lang"))
  }

  /** TextRank keyword ranking (Mihalcea & Tarau, EMNLP 2004): PageRank
    * over the word co-occurrence graph — adjacent word pairs form
    * UNDIRECTED edges (both directions, weight = co-occurrence count),
    * and a word's rank is its stationary importance under the damped
    * random walk. Catches corpus-level keyphrases frequency alone
    * misses (a rare word adjacent to many hub words outranks a frequent
    * word in a repetitive context) — the graph-centrality companion to
    * [[collocations]]' pairwise lift and [[rakeKeywords]]' phrase
    * scores.
    *
    * Exactness: delegates to [[Graphs.pageRank]]'s 2^40 integer fixed
    * point (floor division per edge contribution, integer teleport) —
    * ranks are BIGINTs both engines agree on digit-for-digit, no
    * convergence epsilon. The undirected construction leaves no
    * dangling nodes, so the dropped-dangling-mass caveat there is
    * vacuous here.
    *
    * Scale shape: bigram explode → one groupBy(src, dst) for the edge
    * list, then pageRank's per-iteration join+groupBy on word keys;
    * the word graph is vocabulary-sized (≪ corpus-sized), and the
    * final top-k is a TakeOrdered, never a global sort.
    *
    * Output: top-`topK` (word, rank_fp), rank descending, word tiebreak.
    */
  def textrankKeywords(docs: DataFrame, iters: Int = 3,
                       topK: Int = 30): DataFrame = {
    // adjacent word pairs built as structs directly — the former
    // concat_ws-then-split round-trip allocated and re-parsed a string
    // per bigram occurrence for nothing (the other bigram operators
    // need the joined string as their groupBy key; this one never does)
    val pairs = docs
      .select(TextOps.words(col("text")).as("ws"))
      .select(explode(when(size(col("ws")) >= 2,
        transform(sequence(lit(1), size(col("ws")) - 1),
          i => struct(element_at(col("ws"), i).as("a"),
            element_at(col("ws"), i + 1).as("b"))))
        .otherwise(array().cast("array<struct<a:string,b:string>>")))
        .as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .filter(col("a") =!= col("b")) // no self-loops (TextRank convention)
    // aggregate on the CANONICAL pair first, then emit both directions:
    // the former unionAll-then-groupBy embedded the corpus-wide bigram
    // explode under BOTH union branches (two full explode passes) and
    // shuffled 2x the exploded rows; w(src,dst) = count{(a,b)} +
    // count{(b,a)} = the canonical pair's count, so the symmetric edge
    // list is identical while the explode runs once and the exchange
    // carries the vocabulary-sized aggregated pairs
    val canon = pairs
      .groupBy(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .agg(count(lit(1)).as("w"))
      // vocabulary-sized; materialized so the union below cannot
      // re-execute the corpus explode per branch if ReuseExchange
      // fails to dedupe the two references (AQE can specialize them)
      .cpGuard()
    val edges = canon.select(col("u").as("src"), col("v").as("dst"), col("w"))
      .unionAll(canon.select(col("v"), col("u"), col("w")))
    // no local checkpoint here: pageRank materializes its edge input
    // exactly once now, so the corpus-wide bigram explode runs once —
    // a second checkpoint at this boundary would only re-write the
    // same table (measured +14% on t33)
    Graphs.pageRank(edges, iters)
      .orderBy(col("r").desc, col("k"))
      .limit(topK)
      .select(col("k").as("word"), col("r").as("rank_fp"))
  }

  /** Yule's K vocabulary-richness characteristic per language — the
    * classic repeat-rate statistic (Yule 1944) corpus QA reads next to
    * type-token ratio, because unlike TTR it is (asymptotically)
    * length-invariant: K = 10⁴·(Σ_m m²·V(m) − N)/N², where V(m) is the
    * number of word TYPES occurring exactly m times and N the token
    * count. High K = a few types dominate (templated/boilerplate
    * feeds); natural prose sits around 100-200.
    *
    * Scale shape: explode → groupBy(lang, word) for type counts →
    * groupBy(lang, m) for the frequency SPECTRUM (tiny: one row per
    * distinct occurrence count) → one aggregation per language. All
    * partial-aggregable; moments in DECIMAL(38,0) (a stop-word's m²
    * would pass 2⁶³ long before the corpus reaches 100 TB), BIGINT at
    * the output edge, one IEEE division for the read-edge K.
    *
    * Output: (lang, n_tokens, n_types, k_num = 10⁴(Σm²V − N), yule_k).
    */
  def yuleK(docs: DataFrame): DataFrame = {
    val spectrum = docs
      .select(col("lang"), explode(TextOps.words(col("text"))).as("w"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("m"))
      .groupBy(col("lang"), col("m")).agg(count(lit(1)).as("v"))
    val d38 = "decimal(38,0)"
    spectrum.groupBy(col("lang"))
      .agg(sum(col("m").cast(d38) * col("v")).as("nt"),
        sum(col("v")).as("n_types"),
        sum(col("m").cast(d38) * col("m") * col("v")).as("s2"))
      .select(col("lang"), col("nt").cast("long").as("n_tokens"),
        col("n_types"),
        (lit(10000L) * (col("s2") - col("nt"))).cast("long").as("k_num"),
        ((lit(10000L) * (col("s2") - col("nt"))).cast("double")
          / (col("nt").cast("double") * col("nt").cast("double")))
          .as("yule_k"))
      .orderBy(col("lang"))
  }

  /** Per-doc DEFLATE length at a pinned level — the compression-ratio
    * quality signal web-scale curation pipelines deploy (CCNet/
    * RefinedWeb-style: near-incompressible text is noise/binary
    * spill, ultra-compressible text is boilerplate/repetition; both
    * get cut). One `java.util.zip.Deflater` per partition (reset per
    * doc, pinned level, no preset dictionary) — pure map work, scan
    * throughput. The raw byte count rides along so every consumer
    * band is an exact integer comparison.
    *
    * Output: (doc_id, n_bytes, n_deflate).
    */
  def deflateLengths(docs: DataFrame, level: Int = 6): DataFrame = {
    require(level >= 0 && level <= 9, "deflate level in [0, 9]")
    val spark = docs.sparkSession
    import spark.implicits._
    graft.core.Tables.spread(docs)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val defl = new java.util.zip.Deflater(level)
        val buf = new Array[Byte](64 * 1024)
        it.map { case (id, text) =>
          val in = Option(text).getOrElse("")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          defl.reset(); defl.setInput(in); defl.finish()
          var total = 0L
          while (!defl.finished()) total += defl.deflate(buf)
          (id, in.length.toLong, total)
        }
      }
      .toDF("doc_id", "n_bytes", "n_deflate")
  }

  /** The classic encoding-corruption byte signatures a web-scale text
    * corpus accumulates: UTF-8 bytes re-read as Latin-1. Each marker
    * is a LITERAL substring (never a regex — regex dialects diverge
    * across engines; literal counting is exact everywhere).
    */
  val MojibakeMarkers: Seq[(String, String)] = Seq(
    "utf8_latin1" -> "Ã", // Ã — leader of é/à/ü read as Latin-1
    "punct_utf8" -> "â€", // â€ — curly quote/dash mojibake leader
    "replacement" -> "�", // U+FFFD — a decoder already gave up
    "nbsp_latin1" -> "Â") // Â — NBSP/degree-sign double-encode leader

  /** Deterministic encoding-corruption PLANT (the m03/m14 synthetic
    * discipline applied to text): docs in the `residue` class of
    * `modulus` get every 'e' replaced by the DOUBLE-ENCODED é — on an
    * ASCII corpus, replace(text, 'e', 'Ã©') is byte-identical to
    * `new String(text.replace("e", "é").getBytes(UTF_8), ISO_8859_1)`,
    * the canonical UTF-8-written-then-read-as-Latin-1 accident. Kept
    * as the built-in replace so the plant stays codegen'd and the
    * oracle shares it literally.
    */
  def mojibakeCorrupt(docs: DataFrame, modulus: Int = 7,
                      residue: Int = 3): DataFrame = {
    require(modulus > 0 && residue >= 0 && residue < modulus, "residue in [0, modulus)")
    docs.withColumn("text",
      when(col("doc_id") % modulus === residue,
        replace(col("text"), lit("e"), lit("Ã©")))
        .otherwise(col("text")))
  }

  /** Encoding-corruption audit — the curation gate that catches
    * double-encoded feeds before they poison a training mix: per
    * source, exact occurrence counts of each [[MojibakeMarkers]]
    * signature (counted by the length-difference identity
    * (len − len(remove(marker)))/len(marker) — pure built-ins, exact
    * integers, no regex), the count of affected docs, non-ASCII byte
    * excess (octet_length − char_length: 0 for pure ASCII, so a
    * supposedly-English feed with a large excess is itself a flag),
    * and the affected-docs rate in ppm (integral div).
    *
    * Scale shape: one narrow map pass over the corpus (every marker
    * count is a per-row expression) + one partial-aggregable groupBy
    * (source) — scan throughput, no shuffle beyond the source rollup.
    */
  def encodingAudit(docs: DataFrame): DataFrame = {
    val spread = graft.core.Tables.spread(docs)
    def markerCount(m: String) = {
      val removed = replace(col("text"), lit(m), lit(""))
      ((length(col("text")) - length(removed)) / m.length).cast("long")
    }
    val perDoc = spread.select(
      col("source") +:
        (octet_length(col("text")) - length(col("text")))
          .cast("long").as("excess") +:
        MojibakeMarkers.map { case (name, m) => markerCount(m).as(name) }: _*)
    val anyBad = MojibakeMarkers
      .map { case (name, _) => col(name) > 0L }
      .reduce(_ || _)
    perDoc
      .withColumn("bad", when(anyBad, 1L).otherwise(0L))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("bad")).as("n_bad_docs") +:
          MojibakeMarkers.map { case (name, _) =>
            sum(col(name)).as(s"c_$name") } :+
          sum(col("excess")).as("excess_bytes"): _*)
      .withColumn("bad_ppm",
        expr("CAST(n_bad_docs * 1000000 div n_docs AS BIGINT)"))
      .orderBy(col("source"))
  }

  /** Deterministic compound/OOV plant for [[wordpieceApply]] (the t37
    * tail discipline): each doc's text gains ONE closed-form tail word
    * by doc_id % 3 — two vocab-word compounds the greedy matcher must
    * split ('joinhash' → join ##hash, 'hashjoinrow' → hash ##join
    * ##row) and one carrying letters outside the top-K vocab's
    * alphabet ('scanqz' → [UNK]: 'scan' matches but 'q' has no unit,
    * and WordPiece fails the WHOLE word). Counts (~n/3 each) sit far
    * below the top-K corpus words at every sf, so the plant never
    * perturbs the learned vocab.
    */
  def wordpiecePlant(docs: DataFrame): DataFrame =
    docs.withColumn("text", concat(col("text"), lit(" "),
      when(col("doc_id") % 3 === 0, lit("joinhash"))
        .when(col("doc_id") % 3 === 1, lit("hashjoinrow"))
        .otherwise(lit("scanqz"))))

  /** WordPiece greedy longest-match tokenization APPLY (Wu et al.
    * 2016 §4.1 / Devlin et al. 2019 — the deployed-tokenizer twin of
    * [[bpeTokenize]]'s merge-order apply): the vocab is the top
    * `vocabTop` corpus words by (freq DESC, word) — the t17 literal-
    * vocab convention — plus every single character those words use;
    * each distinct corpus word is split left-to-right, at each
    * position taking the LONGEST vocab unit matching there
    * (continuations render with the `##` prefix); a position no unit
    * matches fails the WHOLE word to `[UNK]` (the standard contract —
    * never a partial emit).
    *
    * Shape: one explode + groupBy(word) builds the distinct-word
    * table (the only shuffle); the greedy loop is a bounded
    * `maxUnits`-step column fold over that table — a literal-array
    * higher-order match per step, no UDF, no driver iteration beyond
    * the bounded top-K vocab collect (the bpeMerges contract). At
    * 100 TB the distinct-word table is the corpus vocabulary (zipf-
    * bounded), so apply cost is independent of corpus token count; a
    * per-token tokenized corpus is this table broadcast-joined back.
    * A word unconsumed after `maxUnits` units fails LOUDLY.
    * Envelope: this flat form scans the unit array per position —
    * O(maxUnits·|units|) per distinct word, exactly right at the
    * literal-vocab contract sizes here; [[wordpieceApplyMapped]] is
    * the production-vocab twin (first-char-bucketed map probe, same
    * walk, byte-identical output).
    *
    * Output: (word, n_occurrences, is_unk, n_units, pieces) per
    * distinct word, ordered by word.
    */
  def wordpieceApply(docs: DataFrame, vocabTop: Int = 20,
                     maxUnits: Int = 12): DataFrame = {
    require(vocabTop >= 1, "vocabTop >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val wordsTbl = distinctWords(docs)
    val top = wordsTbl.filter(col("word").rlike("^[a-z]+$"))
      .orderBy(col("n_occurrences").desc, col("word"))
      .limit(vocabTop).select("word").as[String].collect().toSeq
    val letters = top.flatMap(_.toSeq).distinct.map(_.toString)
    greedyWalk(wordsTbl, (top ++ letters).distinct, maxUnits)
  }

  /** [[wordpieceApply]] with an EXTERNAL unit vocabulary — the
    * deployed-tokenizer path: the units come from a training artifact
    * (e.g. [[wordpieceTrainedUnits]]), not the top-K literal
    * convention. Same greedy longest-match walk, same whole-word
    * [UNK] and loud-unroll contracts.
    */
  def wordpieceApplyWith(docs: DataFrame, units: Seq[String],
                         maxUnits: Int = 12): DataFrame =
    greedyWalk(distinctWords(docs), units, maxUnits)

  /** [[wordpieceApplyWith]] in the production-vocab shape: the flat
    * array scan costs O(|vocab|) per position — fine at the literal
    * contract sizes, wrong at a 30k-unit deployed vocabulary. Here the
    * units are grouped by FIRST CHARACTER into a map literal (first
    * char → that bucket's units sorted by length DESC), codegen'd into
    * the projection like any broadcast dictionary: a step probes only
    * its own first-char bucket and the FIRST hit is the longest match,
    * so per-position cost drops to the bucket size (|vocab|/alphabet
    * on average; a real trie is the same idea one level deeper).
    * Byte-identical output to the flat walk by construction — the spec
    * and the shared t41 oracle both pin it.
    */
  def wordpieceApplyMapped(docs: DataFrame, units: Seq[String],
                           maxUnits: Int = 12): DataFrame =
    greedyWalk(distinctWords(docs), units, maxUnits, mode = "bucketed")

  /** [[wordpieceApplyWith]] through the codegen'd TRIE probe
    * ([[graft.functions.LongestUnitMatch]]): per position one trie
    * descent, O(longest unit) independent of |vocab| — the deployed
    * 30k-unit tokenizer shape the t43 buckets approximate one level
    * of. Byte-identical to the flat and bucketed walks by
    * construction — the spec and the shared t41 oracle both pin it.
    */
  def wordpieceApplyTrie(docs: DataFrame, units: Seq[String],
                         maxUnits: Int = 12): DataFrame =
    greedyWalk(distinctWords(docs), units, maxUnits, mode = "trie")

  /** Distinct corpus words with occurrence counts — the one shuffle
    * the apply paths share.
    */
  private def distinctWords(docs: DataFrame): DataFrame =
    graft.core.Tables.spread(docs)
      .select(explode(TextOps.words(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("n_occurrences"))
      .cpGuard()

  private def greedyWalk(wordsTbl: DataFrame, units: Seq[String],
                         maxUnits: Int,
                         mode: String = "flat"): DataFrame = {
    require(Set("flat", "bucketed", "trie")(mode), s"unknown mode $mode")
    require(units.nonEmpty && maxUnits >= 1, "units non-empty, maxUnits >= 1")
    require(units.forall(_.matches("^[a-z]+$")),
      "units must be lowercase ascii words (the t17 dictionary " +
        "convention keeps them SQL-literal-safe)")
    // unit literals bind ONCE into the runtime aggregate() fold below.
    // The previous maxUnits-UNROLLED column fold re-embedded them once
    // per step and re-analyzed the accumulated expression tree at every
    // withColumn — driver planning dominated the apply queries (the
    // unigramViterbiEm finding: wall 2x the sum of job times).
    val vlitC = typedLit(units)
    // first-char buckets, longest-first: the first match IS the longest
    lazy val mlitC = typedLit(units.groupBy(_.head.toString).map {
      case (c, us) => c -> us.sortBy(u => (-u.length, u))
    })
    // longest vocab unit matching at 0-based position `pos` (0 = none):
    // flat form folds the whole unit array; bucketed form probes only
    // the position's first-char bucket (missing bucket -> null ->
    // length 0), taking the first (= longest) hit. The map probe MUST
    // be try_element_at: plain element_at on a missing map key throws
    // MAP_KEY_DOES_NOT_EXIST under ANSI mode, and a word whose first
    // char starts no vocab unit is a legal input, not an error.
    // The trie mode's probe is the same trie-descent Expression as
    // before (interpreted inside the lambda rather than codegen'd —
    // one descent per position either way). Identical semantics,
    // pinned by the shared oracle STRING and the cross-mode specs.
    def matchLen(posC: Column): Column = mode match {
      case "bucketed" =>
        length(coalesce(try_element_at(filter(
          try_element_at(mlitC, col("word").substr(posC + 1, lit(1))),
          u => col("word").substr(posC + 1, length(u)) === u), lit(1)),
          lit("")))
      case "trie" =>
        graft.functions.LongestUnitMatch.of(col("word"), posC, units)
      case _ =>
        aggregate(filter(vlitC,
            u => col("word").substr(posC + 1, length(u)) === u),
          lit(0), (m, u) => greatest(m, length(u)))
    }
    val initSt = struct(lit(0).as("pos"), lit(0).as("n_units"),
      lit(false).as("unk"), lit("").as("pieces"))
    val fold = aggregate(sequence(lit(1), lit(maxUnits)), initSt,
      (st, _) => {
        val ml0 = when(!st("unk") && st("pos") < length(col("word")),
          matchLen(st("pos"))).otherwise(0)
        // inner 1-element aggregate binds the step's match length once
        // (all four state fields read it)
        aggregate(array(ml0), st, (s2, ml) => struct(
          (s2("pos") + ml).as("pos"),
          (s2("n_units") + when(ml > 0, 1).otherwise(0)).as("n_units"),
          (s2("unk") ||
            (s2("pos") < length(col("word")) && ml === 0)).as("unk"),
          when(ml === 0, s2("pieces"))
            .when(s2("pos") === 0, col("word").substr(lit(1), ml))
            .otherwise(concat(s2("pieces"), lit(" ##"),
              col("word").substr(s2("pos") + 1, ml))).as("pieces")))
      })
    val walked = wordsTbl.withColumn("st", fold)
      .select(col("word"), col("n_occurrences"),
        col("st.pos").as("pos"), col("st.n_units").as("n_units"),
        col("st.unk").as("unk"), col("st.pieces").as("pieces"))
    val obs = org.apache.spark.sql.Observation()
    val out = walked
      .observe(obs, sum(when(!col("unk") && col("pos") < length(col("word")),
        1L).otherwise(0L)).as("n_open"))
      .select(col("word"), col("n_occurrences"), col("unk").as("is_unk"),
        when(col("unk"), 1).otherwise(col("n_units")).as("n_units"),
        when(col("unk"), lit("[UNK]")).otherwise(col("pieces")).as("pieces"))
      .orderBy(col("word"))
      .cpGuard()
    require(obs.get("n_open").asInstanceOf[Long] == 0L,
      s"wordpieceApply: a word needs more than $maxUnits units — raise " +
        "maxUnits (the loud-unroll contract)")
    out
  }

  /** WordPiece vocabulary TRAINING (Schuster & Nakajima ICASSP 2012;
    * the likelihood-gain objective in Wu et al. 2016 §4.1 — the merge
    * rule deployed tokenizers are actually trained with, vs
    * [[bpeMerges]]'s raw pair frequency): over the t17 corpus
    * convention (top `vocabTop` lowercase words by (freq DESC, word),
    * char-unit start, " a  b " delimiter scheme), each iteration picks
    * the adjacent unit pair maximizing freq(pair)/(freq(a)·freq(b)) —
    * the pair whose merge most raises the unigram-LM corpus
    * likelihood. The rational score is compared EXACTLY as the scaled
    * integer floor((pair << `scaleBits`) / (freq_a·freq_b)) with
    * (score DESC, a, b) tie-break, so both engines rank candidates
    * bit-identically (the repo's fixed-point discipline); unit
    * frequencies are corpus occurrences (word-freq-weighted) over the
    * CURRENT segmentation, recounted each iteration, words already
    * fully merged still counting toward their units' totals.
    *
    * Overflow envelope, loudly enforced per iteration: max unit freq
    * < 2^31 (then pair <= min(fa, fb) < 2^31, fa·fb < 2^62, and
    * pair << 30 < 2^61) — at corpus scale one trains on a bounded
    * sample, the [[oddsQualityClassifier]] sampling contract.
    *
    * Distribution shape = [[bpeMerges]]: per iteration one explode +
    * two partial-aggregable groupBys + a broadcast-size join of pair
    * counts to unit counts, and ONE argmax row collected (merges ARE
    * the model). Output: (iter, sym_a, sym_b, pair_count, freq_a,
    * freq_b, score_q), ordered by iter.
    */
  def wordpieceTrain(docs: DataFrame, vocabTop: Int = 200,
                     iters: Int = 4, scaleBits: Int = 30): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    learnWordpieceMerges(dictionary(docs, vocabTop), iters, scaleBits)
      .toDF("iter", "sym_a", "sym_b", "pair_count", "freq_a", "freq_b",
        "score_q")
      .orderBy(col("iter"))
  }

  /** The trained WordPiece vocabulary — every single character of the
    * training dictionary plus each merge's product, the unit set
    * [[wordpieceApplyWith]] consumes (a deployed tokenizer ships
    * exactly this artifact).
    */
  def wordpieceTrainedUnits(docs: DataFrame, vocabTop: Int = 200,
                            iters: Int = 4,
                            scaleBits: Int = 30): Seq[String] =
    // ONE dictionary pass feeds both the char alphabet and the merge
    // loop (it is checkpointed, so the loop reads it, not the corpus)
    trainedUnitsFrom(dictionary(docs, vocabTop), iters, scaleBits)

  /** The vocab-assembly core shared by [[wordpieceTrainedUnits]] and
    * [[unigramPrune]] — one definition, so the pruned vocab can never
    * silently diverge from the applied one.
    */
  private def trainedUnitsFrom(dict: DataFrame, iters: Int,
                               scaleBits: Int): Seq[String] = {
    val spark = dict.sparkSession
    import spark.implicits._
    val letters = dict.select("word").as[String]
      .collect().toSeq.flatMap(_.toSeq).distinct.map(_.toString)
    val merged = learnWordpieceMerges(dict, iters, scaleBits)
      .map { case (_, a, b, _, _, _, _) => a + b }
    (letters ++ merged).distinct
  }

  /** t42: unigram-LM vocabulary PRUNING (the SentencePiece prune step,
    * Kudo ACL 2018 §3.2, in the one formulation that is INTEGER-exact:
    * under a uniform unit prior the corpus log-likelihood is
    * −(total segmented units)·log|V|, so the likelihood loss of
    * removing a unit is, to the common scale factor, the TOKEN
    * INFLATION its removal causes — how many extra pieces the corpus
    * segments into without it). Over the t40 training corpus (the
    * top-`vocabTop` dictionary) and the t40-trained unit set: each
    * prune round scores every multi-char unit by
    * loss(u) = T(U∖{u}) − T(U) where T is the freq-weighted greedy
    * segmentation size (the deployed t39 walk — single-BEST
    * segmentation, deterministic), removes the argmin
    * (loss ASC, unit ASC — the t40 tie-break discipline), and
    * re-segments. Single chars are never pruned (they are the
    * segmentability floor, exactly as SentencePiece protects them).
    *
    * The prune ORDER is the point: it is NOT raw unit-frequency order
    * — a rare long unit can be load-bearing (its removal doubles every
    * use) while a frequent short one is cheap to lose (its uses fall
    * to two pieces that are themselves units) — the spec pins a case
    * where the two orders differ.
    *
    * Shape per round: the dictionary fans out by (candidate ∪
    * baseline) via ONE narrow explode of a literal array — no join —
    * then one runtime aggregate() fold of the bounded `maxUnits` greedy
    * steps (the greedyWalk machinery with a per-row excluded unit; the
    * unit literal binds once, not once per step) and ONE
    * partial-aggregable groupBy(cand); a single ≤|candidates|+1-row
    * collect picks the argmin (merges/prunes ARE the model — the
    * wordpieceTrain collect discipline). A word left unconsumed after
    * `maxUnits` units fails LOUDLY (the loud-unroll contract).
    *
    * Output: (iter, pruned_unit, loss_tokens, tokens_before,
    * tokens_after) per prune round, ordered by iter.
    */
  def unigramPrune(docs: DataFrame, vocabTop: Int = 200, iters: Int = 4,
                   pruneIters: Int = 2, maxUnits: Int = 12): DataFrame = {
    require(pruneIters >= 1, "pruneIters >= 1")
    require(maxUnits >= 1, "maxUnits >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    // ONE dictionary pass feeds the alphabet, the merge training and
    // every prune round's walk (it is checkpointed)
    val dict = dictionary(docs, vocabTop)
    var units = trainedUnitsFrom(dict, iters, scaleBits = 30)
    val prunes = Seq.newBuilder[(Int, String, Long, Long, Long)]
    for (p <- 1 to pruneIters) {
      val cands = units.filter(_.length > 1).sorted
      require(cands.nonEmpty, s"unigramPrune round $p: no multi-char " +
        "units left to prune")
      val vlit = units.map(u => s"'$u'").mkString("array(", ", ", ")")
      val fan = dict.select(col("word"), col("freq"))
        .withColumn("cand", explode(typedLit(cands.map(Option(_)) :+
          (None: Option[String]))))
      // the greedy walk with the row's candidate EXCLUDED from the
      // unit set (cand null = the baseline segmentation). ONE runtime
      // aggregate() fold over the maxUnits steps, not a maxUnits-
      // unrolled column fold: unrolling embedded the |units| literal
      // array once per step and re-analyzed the growing tree per
      // withColumn — driver planning dominated the query (the t44
      // finding; t42's bench max/median spread was 3.5x). The inner
      // 1-element aggregate binds the step's match length `ml` once
      // (the state update reads it twice). Identical walk per row.
      val walked = fan.withColumn("st", expr(
        s"""aggregate(sequence(1, $maxUnits),
             struct(0 AS pos, CAST(0 AS BIGINT) AS n_units),
             (st, i) -> CASE WHEN st.pos >= length(word) THEN st ELSE
               aggregate(array(
                   aggregate(filter($vlit,
                       u -> u IS DISTINCT FROM cand
                         AND substring(word, st.pos + 1, length(u)) = u),
                     0, (m, u) -> greatest(m, length(u)))),
                 st,
                 (s2, ml) -> struct(s2.pos + ml AS pos,
                   s2.n_units + CAST(CASE WHEN ml > 0 THEN 1 ELSE 0 END
                     AS BIGINT) AS n_units))
             END)"""))
        .withColumn("pos", col("st.pos"))
        .withColumn("n_units", col("st.n_units"))
      val rows = walked
        .groupBy(col("cand"))
        .agg(sum(col("freq") * col("n_units")).as("tok"),
          sum(when(col("pos") < length(col("word")), 1L).otherwise(0L))
            .as("n_open"))
        .collect()
      require(rows.forall(_.getLong(2) == 0L),
        s"unigramPrune round $p: a word needs more than $maxUnits " +
          "units — raise maxUnits (the loud-unroll contract)")
      val t0 = rows.find(_.isNullAt(0)).map(_.getLong(1))
        .getOrElse(sys.error("unigramPrune: baseline row missing"))
      val best = rows.filter(!_.isNullAt(0))
        .map(r => (r.getString(0), r.getLong(1)))
        .minBy { case (u, tok) => (tok - t0, u) }
      prunes += ((p, best._1, best._2 - t0, t0, best._2))
      units = units.filterNot(_ == best._1)
    }
    prunes.result()
      .toDF("iter", "pruned_unit", "loss_tokens", "tokens_before",
        "tokens_after")
      .orderBy(col("iter"))
  }

  /** t44: unigram-LM VITERBI-EM training (Kudo ACL 2018 §3.2 in
    * SentencePiece's practical one-best mode, made integer-exact —
    * closing the t42 refusal): over the t40 training corpus and the
    * t40-trained unit set, EM alternates an E-step that one-best
    * segments every dictionary word under the current unit scores with
    * an M-step that re-estimates each unit's score as its
    * freq-weighted use count.
    *
    * The E-step is an exact Viterbi DP per word under the INTEGER
    * ordering the t42 likelihood induces: minimize
    * (piece count, −Σ score(piece), piece string) lexicographically —
    * the uniform-prior likelihood term (−n·log|V|, t42's exact loss
    * currency) dominates, the learned counts refine equal-piece ties
    * (exactly the tokenization-ambiguity case unigram LMs exist to
    * adjudicate), and the piece string is a pure determinism
    * tie-break. The TRUE lattice posterior (and the log-prob Viterbi
    * sum) is the documented refusal: per-path probabilities are
    * rationals whose comparison needs Π c(u)·T^Δn products beyond any
    * fixed width — Viterbi-EM under the integer ordering is
    * SentencePiece's practical mode with every quantity a bounded
    * BIGINT, bit-identical across engines. Round 1's all-zero scores
    * reduce the E-step to fewest-pieces segmentation; later rounds
    * depend on the learned scores, so segmentations genuinely flip
    * (the spec pins a word whose round-2 path differs from round-1's)
    * and the final ranking diverges from the t40 merge order.
    *
    * Shape per round: ONE runtime aggregate() fold per dictionary word
    * building the per-prefix DP array (a literal scored-unit array —
    * bound once, not once per unrolled step — probed with
    * filter/transform/array_min; no join, no shuffle in the walk;
    * `dpSteps` stays the loudly-enforced length bound), ONE
    * partial-aggregable explode+groupBy M-step, and a ≤|units|-row
    * collect carrying scores to the next round (the wordpieceTrain
    * merges-are-the-model discipline).
    *
    * Output: (em_round, unit, uses) for every trained unit and round;
    * uses = 0 when the unit lost every position that round.
    */
  def unigramViterbiEm(docs: DataFrame, vocabTop: Int = 200,
                       iters: Int = 4, emRounds: Int = 3,
                       dpSteps: Int = 16): DataFrame = {
    require(emRounds >= 1 && dpSteps >= 1, "emRounds, dpSteps >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val dict = dictionary(docs, vocabTop)
    val maxLen = dict.agg(max(length(col("word")))).collect()(0).getInt(0)
    require(maxLen <= dpSteps,
      s"unigramViterbiEm: a dictionary word has $maxLen chars > " +
        s"dpSteps=$dpSteps — raise dpSteps (the loud-unroll contract)")
    val units = trainedUnitsFrom(dict, iters, scaleBits = 30)
    require(units.forall(_.matches("^[a-z]+$")),
      "units must be lowercase ascii (the t17 dictionary convention)")
    var scores = Map.empty[String, Long] // round 1: uniform (all zero)
    val out = Seq.newBuilder[(Int, String, Long)]
    for (r <- 1 to emRounds) {
      val slit = units.sorted.map { u =>
        s"struct(CAST(${scores.getOrElse(u, 0L)} AS BIGINT) AS s, " +
          s"${u.length} AS l, '$u' AS u)"
      }.mkString("array(", ", ", ")")
      // dp(i+1) = best (n, g, p) over units u ending at prefix i:
      // n pieces, g = -Σ score, p = the piece string; element 1 is the
      // empty prefix. The sentinel (unreachable) never survives an
      // array_min against a real path and is loudly rejected at the end.
      // ONE runtime aggregate() fold over the word's positions, not a
      // dpSteps-unrolled column fold: the unrolled form embedded the
      // |units|-struct literal array once PER STEP, and Catalyst
      // re-analyzed the accumulated tree at every withColumn — ~3 s of
      // driver planning per query run (JobProfile r17: wall 5.7 s vs
      // 2.8 s of jobs) and the t44 pass-to-pass variance. Folding
      // sequence(1, length(word)) runs the identical DP per row (the
      // unrolled steps past length(word) were identity), with the
      // literal bound once. dpSteps stays the loud contract bound:
      // maxLen <= dpSteps is still required above.
      val walked = dict.select(col("word"), col("freq"))
        .withColumn("dp", expr(
          s"""aggregate(sequence(1, length(word)),
              array(struct(0 AS n, CAST(0 AS BIGINT) AS g, '' AS p)),
              (dp, i) -> concat(dp, array(coalesce(
                array_min(transform(
                  filter($slit, t -> t.l <= i AND
                    substring(word, i - t.l + 1, t.l) = t.u),
                  t -> struct(
                    element_at(dp, i - t.l + 1).n + 1 AS n,
                    element_at(dp, i - t.l + 1).g - t.s AS g,
                    concat(element_at(dp, i - t.l + 1).p,
                      CASE WHEN element_at(dp, i - t.l + 1).p = ''
                           THEN '' ELSE ' ' END, t.u) AS p))),
                struct(1000000 AS n, CAST(0 AS BIGINT) AS g, '' AS p)))))"""))
        .withColumn("best", expr("element_at(dp, length(word) + 1)"))
        .cpGuard() // read twice: the reachability check and the M-step
      val unreachable = walked.filter(col("best.n") >= 1000000).count()
      require(unreachable == 0L,
        s"unigramViterbiEm round $r: $unreachable words have no " +
          "segmentation — the alphabet no longer covers the dictionary")
      val counts = walked
        .select(col("freq"), explode(split(col("best.p"), " ")).as("u"))
        .groupBy(col("u")).agg(sum(col("freq")).as("cnt"))
        .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      units.sorted.foreach { u => out += ((r, u, counts.getOrElse(u, 0L))) }
      scores = counts
    }
    out.result().toDF("em_round", "unit", "uses")
      .orderBy(col("em_round"), col("unit"))
  }

  /** Top-`vocabTop` lowercase-word dictionary with char-unit start
    * sequences — the shared t17/t39/t40 training-corpus convention.
    */
  private def dictionary(docs: DataFrame, vocabTop: Int): DataFrame = {
    require(vocabTop >= 1, "vocabTop >= 1")
    graft.core.Tables.spread(docs)
      .select(explode(TextOps.words(col("text"))).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word")).limit(vocabTop)
      .withColumn("seq", regexp_replace(col("word"), "(.)", " $1 "))
      .cpGuard()
  }

  private def learnWordpieceMerges(dict: DataFrame,
      iters: Int, scaleBits: Int):
      Seq[(Int, String, String, Long, Long, Long, Long)] = {
    require(iters >= 1 && scaleBits >= 1 && scaleBits <= 30,
      "iters >= 1, scaleBits in [1, 30]")
    var vocab = dict
    val merges = Seq.newBuilder[(Int, String, String, Long, Long, Long, Long)]
    for (i <- 1 to iters) {
      val units = vocab
        .select(col("freq"), split(trim(col("seq")), "  ").as("sy"))
        .cpGuard() // read thrice: unit freqs, the envelope, pair freqs
      val ufObs = org.apache.spark.sql.Observation()
      val uf = units
        .select(col("freq"), explode(col("sy")).as("u"))
        .groupBy(col("u")).agg(sum(col("freq")).as("f"))
        .observe(ufObs, coalesce(max(col("f")), lit(0L)).as("fmax"))
        .cpGuard()
      require(ufObs.get("fmax").asInstanceOf[Long] < (1L << 31),
        s"wordpieceTrain iteration $i: a unit frequency reaches 2^31 " +
          "and the exact fixed-point score would overflow — train on " +
          "a bounded sample (the corpus-scale contract)")
      val top = units.filter(size(col("sy")) > 1)
        .select(col("freq"), explode(
            transform(sequence(lit(1), size(col("sy")) - 1), j =>
              struct(element_at(col("sy"), j).as("a"),
                element_at(col("sy"), j + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .join(broadcast(uf.select(col("u").as("a"), col("f").as("fa"))), "a")
        .join(broadcast(uf.select(col("u").as("b"), col("f").as("fb"))), "b")
        .withColumn("score_q",
          expr(s"cnt * CAST(${1L << scaleBits} AS BIGINT) div (fa * fb)"))
        .orderBy(col("score_q").desc, col("a"), col("b"))
        .limit(1).select("a", "b", "cnt", "fa", "fb", "score_q").collect()
      require(top.nonEmpty, s"wordpieceTrain iteration $i: no adjacent " +
        "pairs left")
      val (a, b) = (top(0).getString(0), top(0).getString(1))
      merges += ((i, a, b, top(0).getLong(2), top(0).getLong(3),
        top(0).getLong(4), top(0).getLong(5)))
      vocab = vocab.withColumn("seq",
          expr(s"replace(seq, ' $a  $b ', ' $a$b ')"))
        .cpGuard()
    }
    merges.result()
  }

  /** Deterministic synthetic-HTML wrapper (the t35/m03 plant
    * discipline for markup): each doc's text is embedded as the main
    * `<p>` content of a one-line page carrying the canonical
    * crawl noise an extractor must defeat — `<title>`, a `<style>`
    * sheet, a `<script>` (with a fake tracker call), a nav link bar,
    * an ads block on the doc_id % 5 == 2 class, a second content
    * paragraph with ONE inline anchor (must survive), an HTML
    * comment, and a link-dense footer. Everything is closed-form over
    * (doc_id, text), so an oracle rebuilds the page byte-for-byte
    * with plain string concatenation.
    */
  def htmlWrap(docs: DataFrame): DataFrame = {
    val d = col("doc_id").cast("string")
    val ads = when(col("doc_id") % 5 === 2,
      lit("<div>ad <a href=\"/buy\">buy now</a> " +
        "<a href=\"/sub\">subscribe today</a></div>")).otherwise(lit(""))
    docs.withColumn("html", concat(
      lit("<html><head><title>Doc "), d,
      lit("</title><style>.nav{color:#fff}</style><script>var t=\""), d,
      lit("\";track(t);</script></head><body>" +
        "<div><a href=\"/\">home</a> <a href=\"/about\">about</a> " +
        "<a href=\"/contact\">contact</a></div>"),
      ads,
      lit("<p>"), col("text"),
      lit("</p><p>related reading material worth your time see " +
        "<a href=\"/more\">more like doc "), d,
      lit("</a></p><!-- rendered in 3ms -->" +
        "<div><a href=\"/terms\">terms</a> " +
        "<a href=\"/privacy\">privacy</a> (c) site</div></body></html>")))
  }

  /** Block sentinel for [[htmlExtract]] — a marker string that cannot
    * occur in content (the corpus is a plain-word vocabulary). */
  private val BlockSentinel = "@@BLK@@"

  /** HTML/markup → text extraction — stage zero of every crawl-fed
    * pipeline (Trafilatura/jusText-style, cf. Barbaresi ACL'21 demo;
    * the link-density block rule is Kohlschütter et al. WSDM'10
    * boilerplate detection reduced to its strongest single feature):
    *
    *  1. drop non-content SPANS: `<script>…</script>`,
    *     `<style>…</style>`, `<!-- … -->` (non-greedy, so adjacent
    *     blocks survive);
    *  2. segment into BLOCKS at closing block-level tags
    *     (`</p> </div> </title> </li> </h1-3>`);
    *  3. per block: visible text = remaining tags stripped,
    *     whitespace collapsed, trimmed; anchor chars = total length
    *     of `<a …>…</a>` inner texts (the linkful portion);
    *  4. KEEP a block iff it has >= `minWords` words AND
    *     anchor_chars * 100 <= text_chars * `maxLinkDensityPct` —
    *     nav bars / ad units / footers are mostly-anchor and fall to
    *     the density rule, titles/breadcrumbs to the word floor;
    *  5. the document's extracted text is the kept blocks' texts in
    *     document order, space-joined.
    *
    * Everything is built-in string/array expressions in ONE narrow
    * projection per doc — no explode, no shuffle, no UDF — so at
    * 100 TB extraction runs at parquet-scan speed ahead of the dedup/
    * quality/langid stages that assume clean text (t01/t02/t23).
    * Integer math only (char counts, pct threshold), so a SQL oracle
    * replays the decision rule exactly.
    *
    * Output: (doc_id, source, n_blocks, n_kept, text_chars,
    * anchor_chars, extracted), ordered by doc_id.
    */
  def htmlExtract(docs: DataFrame, minWords: Int = 3,
                  maxLinkDensityPct: Int = 30): DataFrame = {
    require(minWords >= 1 && maxLinkDensityPct >= 0 &&
      maxLinkDensityPct <= 100, "minWords >= 1, density pct in [0, 100]")
    val cleaned = regexp_replace(regexp_replace(regexp_replace(col("html"),
      "<script[^>]*>.*?</script>", " "),
      "<style[^>]*>.*?</style>", " "),
      "<!--.*?-->", " ")
    val marked =
      regexp_replace(cleaned, "</(p|div|title|li|h1|h2|h3)>", BlockSentinel)
    // per-block struct: visible text + anchor-text char count (the
    // concat-then-length identity sidesteps empty-list sums)
    val blocks = expr(
      s"""filter(transform(split(marked, '$BlockSentinel'), b -> struct(
            trim(regexp_replace(regexp_replace(b, '<[^>]*>', ' '),
              ' +', ' ')) AS txt,
            length(array_join(
              regexp_extract_all(b, '<a[^>]*>([^<]*)</a>', 1), ''))
              AS achars)),
          s -> length(s.txt) > 0)""")
    val kept = expr(
      s"""filter(blocks, s -> size(split(s.txt, ' ')) >= $minWords
            AND s.achars * 100 <= length(s.txt) * $maxLinkDensityPct)""")
    graft.core.Tables.spread(docs)
      .withColumn("marked", marked)
      .withColumn("blocks", blocks)
      .withColumn("kept", kept)
      .select(col("doc_id"), col("source"),
        size(col("blocks")).as("n_blocks"),
        size(col("kept")).as("n_kept"),
        expr("length(array_join(transform(blocks, s -> s.txt), ''))")
          .cast("long").as("text_chars"),
        expr("aggregate(blocks, 0L, (a, s) -> a + s.achars)")
          .as("anchor_chars"),
        expr("array_join(transform(kept, s -> s.txt), ' ')")
          .as("extracted"))
      .orderBy(col("doc_id"))
  }
}
