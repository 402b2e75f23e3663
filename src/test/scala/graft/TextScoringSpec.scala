package graft

import org.apache.spark.sql.functions._

import graft.ext.TextAnalysis

/** Semantic pins for the round-9 text scorers (the oracle gate proves
  * cross-engine equality; these prove the SEMANTICS on hand-checkable
  * corpora).
  */
class TextScoringSpec extends SparkSpec {

  private def docs(texts: String*) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, "en", "src0", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("bigramLmScore: repeated bigram scores higher than a unique one") {
    // corpus: "x y" appears 3x, "p q" once; smoothing V = 4 distinct
    val d = docs("x y x y x y", "p q")
    val got = TextAnalysis.bigramLmScore(d).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got(0L) > got(1L))
    // doc 1: one bigram "p q", c12=1, c1(p)=1, V=4 -> p=(1+1)/(1+4)=0.4
    assert(math.abs(got(1L) - 0.4) < 1e-9)
  }

  test("readability counts words, vowel groups, sentences, TTR") {
    val d = docs("see the tree. run far!")
    val r = TextAnalysis.readability(d).collect().head
    assert(r.getAs[Long]("n_words") == 5L)
    // vowel groups: ee, e, ee, u, a -> 5
    assert(r.getAs[Long]("n_syllables") == 5L)
    assert(r.getAs[Long]("n_sentences") == 2L)
    assert(r.getAs[Double]("ttr") == 1.0)
    val wps = 5.0 / 2.0; val spw = 5.0 / 5.0
    assert(r.getAs[Double]("flesch") == 206.835 - 1.015 * wps - 84.6 * spw)
  }

  test("rake splits phrases on stopwords and scores deg/freq") {
    // "fast car" and "fast" as phrases: deg(fast)=2+1=3 freq=2 ->1.5
    // deg(car)=2 freq=1 -> 2.0; phrase "fast car" = 3.5, "fast" = 1.5
    val d = docs("fast car the fast")
    val got = TextAnalysis.rakeKeywords(d).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet == Set("fast car", "fast"))
    assert(math.abs(got("fast car") - 3.5) < 1e-9)
    assert(math.abs(got("fast") - 1.5) < 1e-9)
  }

  test("rake scores a repeated phrase once") {
    val d = docs("red fox the red fox")
    val got = TextAnalysis.rakeKeywords(d).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // both words: freq=2, deg=4 -> 2.0 each; one "red fox" row at 4.0
    assert(got == Map("red fox" -> 4.0))
  }

  test("ipfRaking moves both marginals toward their equal-share targets") {
    import spark.implicits._
    // skewed: lang en={a,b,c}, fr={d}; source s1={a,b}, s2={c,d}
    val d = Seq(
      (0L, "en", "s1"), (1L, "en", "s1"), (2L, "en", "s2"),
      (3L, "fr", "s2"))
      .map { case (i, l, s) => (i, "t", l, s, 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val w = graft.ext.Curation.ipfRaking(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reimplement the integer recurrence
    val scale = 1L << 20
    val docs = Seq((0L, "en", "s1"), (1L, "en", "s1"), (2L, "en", "s2"),
      (3L, "fr", "s2"))
    val tL = 4 * scale / 2; val tS = 4 * scale / 2
    var ws = docs.map(_ => scale)
    for (_ <- 0 until 2) {
      val cl = docs.zip(ws).groupBy(_._1._2).view.mapValues(_.map(_._2).sum)
      ws = docs.zip(ws).map { case ((_, l, _), w0) => w0 * tL / cl(l) }
      val cs = docs.zip(ws).groupBy(_._1._3).view.mapValues(_.map(_._2).sum)
      ws = docs.zip(ws).map { case ((_, _, s), w0) => w0 * tS / cs(s) }
    }
    assert(w == docs.map(_._1).zip(ws).toMap)
    // the minority-language doc gained weight; the doc sharing both
    // majority margins ends at-or-below its starting weight (its lang
    // loss and source gain cancel exactly in this fixture)
    assert(w(3L) > scale && w(0L) <= scale && w(2L) < scale)
  }

  test("gopherRules flags each rule and keeps a healthy doc") {
    val d = docs(
      // kept: 20+ words, the/a present, no dominant word, sane lengths
      "the quick brown fox jumps over a lazy dog while many other words " +
        "keep this document long enough to pass every single rule here",
      "tiny doc", // too_short + no_stopwords + trivially dominant
      "the the the the the the the the the the the the the the the the " +
        "the the the the the") // dominant_word (and stopwords pass)
    val got = TextAnalysis.gopherRules(d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("reasons"), r.getAs[Boolean]("kept"))).toMap
    assert(got(0L)._2, got(0L)._1)
    assert(got(1L)._1.split(",").toSet ==
      Set("dominant_word", "no_stopwords", "too_short"))
    assert(got(2L)._1.contains("dominant_word") && !got(2L)._2)
  }

  test("auc: midrank ties give the exact trapezoidal value (0.875 by hand)") {
    import spark.implicits._
    // sorted: 1(neg) 2(neg) 2(pos) 3(pos); midrank of the tied 2s is
    // 2.5, so sumR+ = 2.5 + 4 = 6.5 and AUC = (6.5 - 3)/4 = 7/8
    val scored = Seq((1L, true, 3L), (2L, true, 2L),
      (3L, false, 2L), (4L, false, 1L)).toDF("doc_id", "pos", "score")
    val Array(r) = TextAnalysis.aucFromScored(scored).collect()
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L) // n_pos, n_neg
    assert(r.getLong(2) == 3L) // distinct scores
    assert(r.getLong(3) == 7L && r.getLong(4) == 8L) // 7/8
    assert(r.getLong(5) == 875000L)
  }

  test("collocations: lift ranks the bound phrase above the frequent word pair") {
    import spark.implicits._
    // "new york": 3 of 3/3 unigrams; "big big": 3 of 5/5 — lift
    // separates them exactly: 3*13e6/9 = 4333333 vs 3*13e6/25 = 1560000
    val d = Seq((1L, "new york is big big big"), (2L, "new york wins"),
      (3L, "big big new york")).toDF("doc_id", "text")
    val got = TextAnalysis.collocations(d, minCount = 2L, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == Seq(("new", "york", 3L, 3L, 3L, 4333333L),
      ("big", "big", 3L, 5L, 5L, 1560000L)))
  }

  test("auc: perfect separation scores 1.0, reversed separation 0.0") {
    import spark.implicits._
    val perfect = Seq((1L, true, 10L), (2L, true, 9L),
      (3L, false, 2L), (4L, false, 1L)).toDF("doc_id", "pos", "score")
    val Array(p) = TextAnalysis.aucFromScored(perfect).collect()
    assert(p.getLong(3) == p.getLong(4) && p.getLong(5) == 1000000L)
    val reversed = perfect.withColumn("pos", !col("pos"))
    val Array(q) = TextAnalysis.aucFromScored(reversed).collect()
    assert(q.getLong(3) == 0L && q.getLong(5) == 0L)
  }

  test("auc: one-sided labels degrade to NULL ppm, never divide-by-zero") {
    import spark.implicits._
    // All-positive and all-negative label sets: AUC is undefined
    // (n_pos·n_neg = 0); the contract is NULL, not an ANSI crash.
    for (side <- Seq(true, false)) {
      val oneSided = Seq((1L, side, 3L), (2L, side, 2L), (3L, side, 2L))
        .toDF("doc_id", "pos", "score")
      val Array(r) = TextAnalysis.aucFromScored(oneSided).collect()
      assert(r.getLong(0) + r.getLong(1) == 3L)
      assert((r.getLong(0) == 0L) != side)
      assert(r.isNullAt(5), s"auc_ppm must be NULL for one-sided side=$side")
    }
  }

  test("encoding audit: planted mojibake counted exactly, clean stays zero") {
    import spark.implicits._
    val docs = Seq(
      (3L, "he remembers", "feedA"),  // 3 % 7 == 3: gets the plant (4 e's)
      (1L, "clean ascii here", "feedA"),
      (2L, "pre�corrupted â€œquoteâ€ and Â space", "feedB"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.encodingAudit(TextAnalysis.mojibakeCorrupt(docs))
      .collect().map(r => r.getString(0) -> r).toMap
    val a = got("feedA")
    // doc 3: 4x 'e' -> 'Ã©' (4 markers, +2 bytes each); doc 1 clean
    assert((a.getLong(1), a.getLong(2)) == (2L, 1L)) // n_docs, n_bad
    assert(a.getLong(3) == 4L, "c_utf8_latin1")      // the 4 planted Ã
    assert(a.getLong(7) == 8L, "excess_bytes")
    assert(a.getLong(8) == 500000L, "bad_ppm: 1 of 2 docs")
    val b = got("feedB")
    assert(b.getLong(4) == 2L, "c_punct_utf8: two â€ leaders")
    assert(b.getLong(5) == 1L, "c_replacement")
    assert(b.getLong(6) == 1L, "c_nbsp_latin1: the lone Â")
  }

  test("lang segments: code-switched doc flips windows, monolingual stays flat") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the a of and el la de y"), // en window then es window
      (2L, "the a of and"),            // one en window
      (3L, "el la de y que el la de")) // two es windows, no switch
      .toDF("doc_id", "text")
    val got = TextAnalysis.langSegments(docs, window = 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got(1L) == (2L, 2L, 1L), "en->es switch detected")
    assert(got(2L) == (1L, 1L, 0L))
    assert(got(3L) == (2L, 1L, 0L), "same language twice is no switch")
  }

  test("deflate lengths: repetition compresses hard, hex noise barely, with margin") {
    import spark.implicits._
    val docs = Seq(
      (1L, "ab" * 200),
      (2L, (0 until 16).map(i => java.security.MessageDigest
        .getInstance("MD5").digest(i.toString.getBytes)
        .map("%02x".format(_)).mkString).mkString),
      (3L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.deflateLengths(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (rawRep, defRep) = got(1L)
    assert(rawRep == 400L)
    assert(defRep * 8 < rawRep, s"repetition ratio too weak: $defRep/$rawRep")
    val (rawHex, defHex) = got(2L)
    assert(rawHex == 512L)
    assert(defHex * 2 > rawHex, s"hex noise compressed too well: $defHex/$rawHex")
    // empty doc: zero input, a few header bytes out, never a crash
    assert(got(3L)._1 == 0L && got(3L)._2 > 0L)
  }

  test("yuleK: hand spectrum — 'a a b' gives K = 10^4·(5-3)/9") {
    val d = docs("a a b")
    val r = TextAnalysis.yuleK(d).collect().head
    // types a(m=2), b(m=1): N=3, types=2, s2 = 4+1 = 5
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == (3L, 2L, 20000L))
    assert(r.getDouble(4) == 20000.0 / 9.0)
    // all-distinct corpus: s2 = N so K = 0 exactly
    val flat = TextAnalysis.yuleK(docs("p q r s")).collect().head
    assert(flat.getLong(3) == 0L && flat.getDouble(4) == 0.0)
  }

  test("vocabCoverage: Good-Turing mass and Chao1 from a hand spectrum") {
    // "a a a b b c d": m(a)=3, m(b)=2, m(c)=m(d)=1
    // N=7, V=4, V1=2, V2=1: p0 = 2/7 -> 285714 ppm;
    // chao1 = 4 + 2*1/(2*2) = 4.5
    val r = TextAnalysis.vocabCoverage(docs("a a a b b c d")).collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      (7L, 4L, 2L, 1L))
    assert(r.getLong(5) == 285714L)
    assert(r.getDouble(6) == 4.5)
    // saturated corpus (no singletons): zero unseen mass, chao1 = V
    val sat = TextAnalysis.vocabCoverage(docs("x x y y")).collect().head
    assert(sat.getLong(5) == 0L && sat.getDouble(6) == 2.0)
  }

  test("textrank: the co-occurrence hub outranks its leaves") {
    // star graph: hub adjacent to a, b, c; leaves only touch hub
    // (trailing hub so every leaf sits in exactly two bigrams)
    val d = docs("hub a hub b hub c hub")
    val got = TextAnalysis.textrankKeywords(d).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(got.head._1 == "hub")
    assert(got.map(_._1).toSet == Set("hub", "a", "b", "c"))
    // leaves are symmetric by construction: identical ranks
    val leaves = got.filter(_._1 != "hub").map(_._2).toSet
    assert(leaves.size == 1)
    // self-loops are dropped: a one-word-repeated doc leaves an empty
    // graph, which pageRank rejects loudly rather than returning junk
    intercept[IllegalArgumentException] {
      TextAnalysis.textrankKeywords(docs("x x x")).collect()
    }
  }

  private def pages(htmls: String*) = {
    import spark.implicits._
    htmls.zipWithIndex.map { case (h, i) => (i.toLong, "src0", h) }
      .toDF("doc_id", "source", "html")
  }

  test("htmlExtract: keeps content, drops nav/title, survives malformed markup") {
    val got = TextAnalysis.htmlExtract(pages(
      // canonical page: title (word floor), nav (density), content
      "<title>My Page</title>" +
        "<div><a href=\"/a\">one</a> <a href=\"/b\">two</a></div>" +
        "<p>alpha beta gamma delta epsilon</p>",
      // nested divs split at EACH close tag; script containing a '<p>'
      // is dropped whole (non-greedy span, not tag-blind)
      "<script>if(a<b){x=\"<p>\"}</script>" +
        "<div>outer words here <div>inner words also here</div>" +
        " trailing three words</div>",
      // unclosed <p> (no closing tag): text still lands in the final
      // block; attribute soup with ? & = never leaks into text
      "<p class=\"x\" data-q=\"a=1&b=2\">unclosed paragraph survives fine",
      // empty page
      "",
      // comment-only plus anchor-only block
      "<!-- hidden --><div><a href=\"/x\">link</a></div>"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(2), r.getInt(3), r.getAs[String]("extracted")))).toMap
    assert(got(0L) == ((3, 1, "alpha beta gamma delta epsilon")))
    // two </div> closes -> two blocks: the inner close ends the first
    assert(got(1L) == ((2, 2,
      "outer words here inner words also here trailing three words")))
    assert(got(2L) == ((1, 1, "unclosed paragraph survives fine")))
    assert(got(3L) == ((0, 0, "")))
    assert(got(4L) == ((1, 0, "")))
  }

  test("htmlWrap + htmlExtract: wrap noise falls away, both paragraphs kept") {
    val d = docs("alpha beta gamma delta epsilon zeta", "eta theta iota")
      .withColumn("doc_id", col("doc_id") + 1) // doc 2 -> ads class
    val got = TextAnalysis.htmlExtract(TextAnalysis.htmlWrap(d))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(2), r.getInt(3), r.getAs[String]("extracted")))).toMap
    // doc 1: title + nav + two paragraphs + footer = 5 blocks
    assert(got(1L) == ((5, 2,
      "alpha beta gamma delta epsilon zeta related reading material " +
        "worth your time see more like doc 1")))
    // doc 2 sits in the doc_id % 5 == 2 ads class: one extra (dropped) block
    assert(got(2L) == ((6, 2,
      "eta theta iota related reading material worth your time see " +
        "more like doc 2")))
  }

  test("wordpieceApply: longest match, ## continuation, OOV -> UNK, char fallback") {
    // vocab (top-2 by freq desc, word): play(2), ground(1) + their
    // letters p l a y g r o u n d
    val d = docs("play ground playground qq yap play")
    val got = TextAnalysis.wordpieceApply(d, vocabTop = 2).collect()
      .map(r => r.getString(0) ->
        ((r.getBoolean(2), r.getInt(3), r.getString(4)))).toMap
    assert(got("play") == ((false, 1, "play")))
    assert(got("ground") == ((false, 1, "ground")))
    // greedy longest: 'play' beats 'p' at the start, then '##ground'
    assert(got("playground") == ((false, 2, "play ##ground")))
    // single-char fallback: no multi-char unit matches anywhere
    assert(got("yap") == ((false, 3, "y ##a ##p")))
    // 'q' is outside the vocab alphabet: the WHOLE word fails
    assert(got("qq") == ((true, 1, "[UNK]")))
    // a word needing more units than the unroll bound fails loudly
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.wordpieceApply(d, vocabTop = 2, maxUnits = 2).collect()
    }
    assert(e.getMessage.contains("more than 2 units"))
  }

  test("wordpieceTrain: likelihood argmax, not frequency argmax, exact scores") {
    // (a,b) is the most FREQUENT pair (6) but a and b are common units
    // (freq 16 each, inflated by aa/bb), while (q,u) is rare (2) yet
    // perfectly cohesive (q only ever precedes u) — the likelihood
    // objective must pick qu FIRST, where bpeMerges would pick ab
    val d = docs(("ab " * 6 + "qu " * 2 + "aa " * 5 + "bb " * 5).trim)
    val got = TextAnalysis.wordpieceTrain(d, vocabTop = 10, iters = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    // score_q = (pair << 30) div (fa*fb), exact integers:
    // qu: (2 << 30) div (2*2) = 2^29; ab: (6 << 30) div (16*16)
    assert(got(0) == ((1, "q", "u", 2L, 2L, 2L, 536870912L)), got(0).toString)
    assert(got(1) == ((2, "a", "b", 6L, 16L, 16L, 25165824L)), got(1).toString)
    // the frequency objective on the same corpus picks ab first
    val bpe = TextAnalysis.bpeMerges(d, vocabTop = 10, iters = 1)
      .collect().head
    assert(bpe.getString(1) == "a" && bpe.getString(2) == "b")
  }

  test("trained vocab lowers the UNK rate over the literal top-K vocab") {
    val d = docs("play ground playground qq yap play")
    def unkOccurrences(rows: Array[org.apache.spark.sql.Row]): Long =
      rows.collect { case r if r.getBoolean(2) => r.getLong(1) }.sum
    // literal top-2 vocab: 'q' is outside play/ground's alphabet
    val literal = TextAnalysis.wordpieceApply(d, vocabTop = 2).collect()
    assert(unkOccurrences(literal) == 1L)
    // the TRAINED vocab carries every dictionary char + merge products
    val units = TextAnalysis.wordpieceTrainedUnits(d, vocabTop = 10, iters = 2)
    assert(units.contains("q") && units.contains("gr") && units.contains("gro"),
      units.toString) // tie-break (score DESC, a, b): gr then gro
    val trained = TextAnalysis.wordpieceApplyWith(d, units).collect()
    assert(unkOccurrences(trained) == 0L, "trained vocab must cover qq")
    val byWord = trained.map(r => r.getString(0) -> r.getString(4)).toMap
    assert(byWord("qq") == "q ##q")
    // greedy longest-match consumes the merged unit where it applies
    assert(byWord("playground") == "p ##l ##a ##y ##gro ##u ##n ##d")
    assert(byWord("ground") == "gro ##u ##n ##d")
  }

  test("unigramPrune: inflation order, not frequency order, exact losses") {
    // training on this corpus merges xy, then xyz, then de (exact
    // likelihood scores: 2^29 ties resolve (x,y) before (y,z), then
    // (xy,z) at 2^29 beats (d,e) at floor(3<<30/9)). Greedy 'xyz'
    // MASKS 'xy' entirely, so unit-frequency order is
    // (xy:0, xyz:2, de:3) — but removal INFLATION is xy:0 (unused),
    // xyz:2 (its words fall back to xy+z), de:3. Round 1 prunes xy;
    // in round 2 xyz's fallback is now letters (loss 4 > de's 3), so
    // inflation prunes de where a frequency pruner would drop the
    // load-bearing xyz. Baseline tokens: 2 words x 1 unit + 3 x 1 = 5.
    val d = docs("xyz xyz de de de")
    val got = TextAnalysis.unigramPrune(d, vocabTop = 10, iters = 3,
      pruneIters = 2).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got(0) == ((1, "xy", 0L, 5L, 5L)), got(0).toString)
    assert(got(1) == ((2, "de", 3L, 5L, 8L)), got(1).toString)
  }

  test("unigramPrune: maxUnits = 0 is refused, not walked as two steps") {
    // sequence(1, 0) counts DOWN to [1, 0], so an unguarded walk would
    // silently take two greedy steps
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.unigramPrune(docs("xyz xyz de de de"), vocabTop = 10,
        iters = 3, pruneIters = 1, maxUnits = 0)
    }
    assert(e.getMessage.contains("maxUnits >= 1"), e.getMessage)
  }

  test("viterbi-EM: learned scores flip an ambiguous segmentation, then converge") {
    // corpus engineered so iters=3 trains units {a,b,c,d,ab,abc,cd}
    // (merge order ab, abc, cd) and 'abcd' has TWO minimal-piece
    // segmentations: [ab cd] vs [abc d]. Round 1 (zero scores) takes
    // the piece-string tie-break [ab cd]; round 1's counts score abc=10
    // d=5 vs ab=3 cd=3, so round 2's E-step flips 'abcd' to [abc d];
    // round 3 reproduces round 2 — the EM fixed point. The final
    // ranking (abc > d > ab = cd) also diverges from the t40 merge
    // order (ab first), which raw merge-order ranking would get wrong.
    val d = docs((Seq.fill(10)("abc") ++ Seq.fill(2)("ab") ++
      Seq.fill(2)("cd") ++ Seq("abcd") ++ Seq.fill(5)("d"))
      .mkString(" "))
    val got = TextAnalysis.unigramViterbiEm(d, vocabTop = 10, iters = 3,
      emRounds = 3).collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got.size == 21) // 3 rounds x 7 units
    // round 1: 'abcd' segmented [ab cd] by the determinism tie-break
    assert(got((1, "abc")) == 10L && got((1, "d")) == 5L)
    assert(got((1, "ab")) == 3L && got((1, "cd")) == 3L)
    // round 2: the learned scores flip it to [abc d]
    assert(got((2, "abc")) == 11L && got((2, "d")) == 6L)
    assert(got((2, "ab")) == 2L && got((2, "cd")) == 2L)
    // round 3 == round 2: converged
    for (u <- Seq("a", "b", "c", "d", "ab", "abc", "cd"))
      assert(got((3, u)) == got((2, u)), s"round 3 diverges at $u")
    // chars never win a position here
    for (r <- 1 to 3; u <- Seq("a", "b", "c"))
      assert(got((r, u)) == 0L)
  }

  test("bucketed-map walk is byte-identical to the flat-array walk") {
    // the production-vocab form (first-char buckets, longest-first)
    // must reproduce the flat walk EXACTLY — including the longest-
    // match, ## continuation, UNK, and shared-prefix tie cases; 'gro'
    // and 'gr' land in one bucket, so first-hit-wins is only correct
    // if the bucket really is sorted by length desc
    val d = docs("play ground playground qq yap play gr grit")
    val units = TextAnalysis.wordpieceTrainedUnits(d, vocabTop = 10,
      iters = 2)
    val flat = TextAnalysis.wordpieceApplyWith(d, units).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2),
        r.getInt(3), r.getString(4))).toSeq
    val mapped = TextAnalysis.wordpieceApplyMapped(d, units).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2),
        r.getInt(3), r.getString(4))).toSeq
    assert(mapped == flat, s"mapped $mapped\nflat $flat")
  }

  test("codegen trie walk is byte-identical to the flat walk") {
    // trained vocab incl. shared-prefix units ('gro'/'gr'), UNK words,
    // a mid-word dead end, and a word with a multi-byte char (the trie
    // walks BYTES; a UTF-8 lead/continuation byte must dead-end
    // exactly where the char-based substring compare does)
    val d = docs("play ground playground qq yap play gr grit zap naïve")
    val units = TextAnalysis.wordpieceTrainedUnits(d, vocabTop = 10,
      iters = 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2),
        r.getInt(3), r.getString(4))).toSeq
    assert(rows(TextAnalysis.wordpieceApplyTrie(d, units)) ==
      rows(TextAnalysis.wordpieceApplyWith(d, units)))
  }

  test("codegen trie walk matches the flat walk at a 1k-unit vocab") {
    // the scale case the trie exists for: 1014 units (all 676 bigrams
    // + 338 four-char units sharing bigram prefixes, so longest-match
    // vs first-match matters). Words with an odd tail dead-end on
    // their final char (no single-char units) and must go [UNK] in
    // both walks
    val units = (for (a <- 'a' to 'z'; b <- 'a' to 'z') yield s"$a$b") ++
      (for (a <- 'a' to 'z'; s <- Seq("abc", "xyz", "qzv", "mnp",
        "tuv", "hij", "rst", "klm", "bcd", "fgh", "nop", "uvw",
        "efg")) yield s"$a$s")
    assert(units.distinct.size == 1014)
    val d = docs("hello world zqzqzq abcdxy oddone pxyz tuvklm " +
      "aaaaaaaaaaaaaaaaaaaaa q")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getBoolean(2), r.getInt(3),
        r.getString(4))).toSeq
    val trie = rows(TextAnalysis.wordpieceApplyTrie(d, units.distinct))
    assert(trie == rows(TextAnalysis.wordpieceApplyWith(d, units.distinct)))
    // spot-pin the semantics, not just the equivalence
    val m = trie.map(t => t._1 -> ((t._2, t._4))).toMap
    assert(m("q") == ((true, "[UNK]")))
    assert(m("zqzqzq") == ((false, "zq ##zq ##zq")))
    assert(m("hello") == ((true, "[UNK]"))) // odd tail dead-ends
  }

  test("bucketed-map walk survives a word with no first-char bucket") {
    // 'zap' starts no vocab unit, so its first-char map probe misses
    // entirely — the walk must produce [UNK] (matching the flat walk),
    // not throw MAP_KEY_DOES_NOT_EXIST under ANSI element_at semantics;
    // 'abzz' exercises a MID-WORD miss (bucket 'a' hits, then 'z'
    // misses) for the same reason
    val d = docs("zap ab abzz")
    val units = Seq("ab", "b")
    val flat = TextAnalysis.wordpieceApplyWith(d, units).collect()
      .map(r => (r.getString(0), r.getBoolean(2), r.getString(4))).toSeq
    val mapped = TextAnalysis.wordpieceApplyMapped(d, units).collect()
      .map(r => (r.getString(0), r.getBoolean(2), r.getString(4))).toSeq
    assert(mapped == flat, s"mapped $mapped\nflat $flat")
    assert(mapped.map(t => (t._1, t._2)) ==
      Seq(("ab", false), ("abzz", true), ("zap", true)), mapped.toString)
  }
}
