package graft

import org.apache.spark.sql.functions._

import graft.ext.{Graphs, Multimodal, Reconcile, TextAnalysis}

/** Direct property checks for the graph/reconciliation/BPE/perceptual
  * operators (their oracle twins prove cross-engine exactness on the
  * star tables; these pin the SEMANTIC claims on hand-built inputs).
  */
class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank: symmetric cycle ranks equally, sink of a star ranks highest") {
    val cycle = Seq((1L, 2L, 1L), (2L, 1L, 1L)).toDF("src", "dst", "w")
    val rc = Graphs.pageRank(cycle, iters = 3).collect()
    assert(rc.length == 2 && rc.map(_.getLong(1)).distinct.length == 1)

    // star: 1,2,3 all point at 4; 4 points at 1 — 4 must out-rank all
    val star = Seq((1L, 4L, 1L), (2L, 4L, 1L), (3L, 4L, 1L), (4L, 1L, 1L))
      .toDF("src", "dst", "w")
    val rs = Graphs.pageRank(star, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rs(4L) > rs(1L) && rs(1L) > rs(2L) && rs(2L) == rs(3L))
  }

  test("pageRank family: driver shortcuts equal the distributed sweeps") {
    // multi-path weighted graph with a dangling node (5) and an
    // isolated source (4): the floors, the dropped dangling mass and
    // the no-in-edge teleport floor all exercise. driverThreshold = 0
    // pins the distributed path against the default driver pass.
    val edges = Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 1L, 2L), (1L, 3L, 1L),
      (4L, 1L, 1L), (3L, 5L, 1L)).toDF("src", "dst", "w")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(rows(Graphs.pageRank(edges, iters = 3)) ==
      rows(Graphs.pageRank(edges, iters = 3, driverThreshold = 0)))
    assert(rows(Graphs.hits(edges, iters = 2)) ==
      rows(Graphs.hits(edges, iters = 2, driverThreshold = 0)))
    val seeds = Seq(1L, 4L).toDF("k")
    assert(rows(Graphs.personalizedPageRank(edges, seeds, iters = 3)) ==
      rows(Graphs.personalizedPageRank(edges, seeds, iters = 3,
        driverThreshold = 0)))
    // refresh: a seed snapshot covering SOME nodes (2, 3) — the rest
    // start at the uniform floor on both paths; 9 is a stale seed key
    // not in the graph and must be ignored on both paths
    val start = Seq((2L, 123456789L), (3L, 42L), (9L, 7L)).toDF("k", "r")
    def sortedRows(df: org.apache.spark.sql.DataFrame) =
      rows(df.orderBy(col("k")))
    assert(sortedRows(Graphs.pageRankRefresh(edges, start, refreshIters = 2)) ==
      sortedRows(Graphs.pageRankRefresh(edges, start, refreshIters = 2,
        driverThreshold = 0)))

    // INT src beside BIGINT dst: both paths key nodes by the
    // union-coerced BIGINT, so the driver pass must equal the
    // all-BIGINT distributed sweep
    val mixed = edges.select(col("src").cast("int").as("src"), col("dst"),
      col("w"))
    assert(rows(Graphs.pageRank(mixed, iters = 3)) ==
      rows(Graphs.pageRank(edges, iters = 3, driverThreshold = 0)))
    assert(rows(Graphs.hits(mixed, iters = 2)) ==
      rows(Graphs.hits(edges, iters = 2, driverThreshold = 0)))
    assert(rows(Graphs.personalizedPageRank(mixed, seeds, iters = 3)) ==
      rows(Graphs.personalizedPageRank(edges, seeds, iters = 3,
        driverThreshold = 0)))
    assert(sortedRows(Graphs.pageRankRefresh(mixed, start, refreshIters = 2)) ==
      sortedRows(Graphs.pageRankRefresh(edges, start, refreshIters = 2,
        driverThreshold = 0)))

    // an over-envelope weight on a null-src edge: it carries no rank
    // mass, but both paths must refuse the input alike
    val nullSrc = edges.union(
      Seq((Option.empty[Long], 2L, 1L << 22)).toDF("src", "dst", "w"))
    def refusal(body: => Any): String =
      intercept[IllegalArgumentException](body).getMessage
    for (thr <- Seq(Long.MaxValue, 0L)) {
      assert(refusal(Graphs.pageRank(nullSrc, iters = 1,
        driverThreshold = thr)).contains("2^22"))
      assert(refusal(Graphs.personalizedPageRank(nullSrc, seeds, iters = 1,
        driverThreshold = thr)).contains("2^22"))
      assert(refusal(Graphs.pageRankRefresh(nullSrc, start, refreshIters = 1,
        driverThreshold = thr)).contains("2^22"))
      assert(refusal(Graphs.hits(nullSrc, iters = 1,
        driverThreshold = thr)).contains("envelope"))
    }
    // in-envelope edges with a null endpoint: the distributed joins move
    // no mass along them, and the driver pass must not either
    val nullEnds = edges.union(Seq((Option.empty[Long], Option(2L), 1L),
      (Option(3L), Option.empty[Long], 2L)).toDF("src", "dst", "w"))
    assert(rows(Graphs.pageRank(nullEnds, iters = 3)) ==
      rows(Graphs.pageRank(nullEnds, iters = 3, driverThreshold = 0)))
    assert(rows(Graphs.hits(nullEnds, iters = 2)) ==
      rows(Graphs.hits(nullEnds, iters = 2, driverThreshold = 0)))
    assert(rows(Graphs.personalizedPageRank(nullEnds, seeds, iters = 3)) ==
      rows(Graphs.personalizedPageRank(nullEnds, seeds, iters = 3,
        driverThreshold = 0)))
    assert(sortedRows(Graphs.pageRankRefresh(nullEnds, start, refreshIters = 2)) ==
      sortedRows(Graphs.pageRankRefresh(nullEnds, start, refreshIters = 2,
        driverThreshold = 0)))

    // the six edges fit driverThreshold = 6, but a 7-row rank snapshot
    // or seed set does not: the gate must take the distributed path
    // (its result reads checkpoints, not a driver-built local relation)
    // and still equal the driverThreshold = 0 sweep
    def onDriver(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.collectLeaves().forall(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val bigStart = (1L to 7L).map(k => (k, k * 1000L)).toDF("k", "r")
    val bigSeeds = (1L to 7L).toDF("k")
    assert(onDriver(Graphs.pageRankRefresh(edges, start, refreshIters = 2,
      driverThreshold = 6)))
    val refreshBig = Graphs.pageRankRefresh(edges, bigStart, refreshIters = 2,
      driverThreshold = 6)
    assert(!onDriver(refreshBig))
    assert(sortedRows(refreshBig) ==
      sortedRows(Graphs.pageRankRefresh(edges, bigStart, refreshIters = 2,
        driverThreshold = 0)))
    assert(onDriver(Graphs.personalizedPageRank(edges, seeds, iters = 3,
      driverThreshold = 6)))
    val pprBig = Graphs.personalizedPageRank(edges, bigSeeds, iters = 3,
      driverThreshold = 6)
    assert(!onDriver(pprBig))
    assert(rows(pprBig) == rows(Graphs.personalizedPageRank(edges, bigSeeds,
      iters = 3, driverThreshold = 0)))
  }

  test("pageRank: rank mass is bounded by scale and deterministic across runs") {
    val edges = Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 1L, 2L), (1L, 3L, 1L))
      .toDF("src", "dst", "w")
    val a = Graphs.pageRank(edges, iters = 4).collect().toSeq
    val b = Graphs.pageRank(edges, iters = 4).collect().toSeq
    assert(a == b)
    assert(a.map(_.getLong(1)).sum <= (1L << 40))
  }

  test("pageRank refuses weights outside the fixed-point envelope") {
    import spark.implicits._
    val over = Seq((1L, 2L, 1L << 22), (2L, 1L, 1L))
      .toDF("src", "dst", "w")
    val e = intercept[IllegalArgumentException] {
      graft.ext.Graphs.pageRank(over, iters = 1)
    }
    assert(e.getMessage.contains("2^22"))
    val negative = Seq((1L, 2L, -1L)).toDF("src", "dst", "w")
    val e2 = intercept[IllegalArgumentException] {
      graft.ext.Graphs.pageRank(negative, iters = 1)
    }
    assert(e2.getMessage.contains(">= 0"))
  }

  test("hits: hub/authority separation on a directory-page fixture") {
    // 1 links to both authorities (the directory page), 2 and 3 link
    // only to 10; 10 and 11 emit nothing
    val edges = Seq((1L, 10L, 1L), (1L, 11L, 1L), (2L, 10L, 1L),
      (3L, 10L, 1L)).toDF("src", "dst", "w")
    val got = Graphs.hits(edges, iters = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // pure sources score zero authority; pure sinks zero hub
    assert(Seq(1L, 2L, 3L).forall(k => got(k)._1 == 0L))
    assert(Seq(10L, 11L).forall(k => got(k)._2 == 0L))
    // 10 is the strongest authority (3 in-links vs 1), 1 the strongest
    // hub (it links to both authorities); integer renormalization puts
    // the max of each vector in [scale, 2*scale)
    def inBand(x: Long) = x >= (1L << 20) && x < (2L << 20)
    assert(got(10L)._1 > got(11L)._1 && inBand(got(10L)._1))
    assert(got(1L)._2 > got(2L)._2 && inBand(got(1L)._2))
    assert(got(2L)._2 == got(3L)._2) // symmetric hubs tie exactly
  }

  test("hits refuses weights outside the fixed-point envelope") {
    val bad = Seq((1L, 2L, 1L << 22)).toDF("src", "dst", "w")
    val e = intercept[IllegalArgumentException] {
      Graphs.hits(bad, iters = 1).collect()
    }
    assert(e.getMessage.contains("envelope"))
    val neg = Seq((1L, 2L, -1L)).toDF("src", "dst", "w")
    val e2 = intercept[IllegalArgumentException] {
      Graphs.hits(neg, iters = 1).collect()
    }
    assert(e2.getMessage.contains(">= 0"))
  }

  test("bfsHops: chain distances, hop cap, unreachable absent, multi-source min") {
    // 5 -> 1 -> 2 -> 3 -> 4: from seed {1}, 5 is upstream (unreachable)
    val chain = Seq((5L, 1L), (1L, 2L), (2L, 3L), (3L, 4L))
      .toDF("src", "dst")
    val seeds1 = Seq(1L).toDF("k")
    val got = Graphs.bfsHops(chain, seeds1, maxHops = 3).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))
    // cap at 2 hops: node 4 not yet discovered
    val capped = Graphs.bfsHops(chain, seeds1, maxHops = 2).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(capped == Map(1L -> 0, 2L -> 1, 3L -> 2))
    // multi-source: distance is the MIN over seeds; seed 4 shadows the
    // long path, and a cycle must not resurrect a visited node
    val cyc = chain.unionAll(Seq((4L, 1L)).toDF("src", "dst"))
    val multi = Graphs.bfsHops(cyc, Seq(1L, 4L).toDF("k"), maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(multi == Map(1L -> 0, 4L -> 0, 2L -> 1, 3L -> 2))
  }

  test("kCore: pendants and chains peel away, the dense core survives with its degree") {
    // triangle {1,2,3} + pendant 4-1 + chain 4-5-6; minDeg=2 leaves
    // exactly the triangle (each member at within-core degree 2)
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (4L, 5L), (5L, 6L))
      .toDF("src", "dst")
    val core = Graphs.kCore(g, minDeg = 2, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(1L -> 2, 2L -> 2, 3L -> 2))
    // a bare chain fully peels (ends first, then the stranded middle);
    // direction/multiplicity/self-loops must not resurrect anything
    val chain = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 4L))
      .toDF("src", "dst")
    assert(Graphs.kCore(chain, minDeg = 2, iters = 3).count() == 0)
    // iters is an upper bound: once converged (round 3 here — 6, then
    // 5, then 4 peel off), extra rounds are no-ops
    val a = Graphs.kCore(g, minDeg = 2, iters = 3).collect().toSeq
    val b = Graphs.kCore(g, minDeg = 2, iters = 6).collect().toSeq
    assert(a == b)
  }

  test("tableDiff: identical tables match everywhere, drill is empty") {
    val t1 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "v")
    val diff = Reconcile.tableDiff(t1, t1, "doc_id", Seq("doc_id", "v"), 8)
    assert(diff.filter(!col("is_match")).count() == 0)
    assert(Reconcile.tableDiffDrill(t1, t1, "doc_id", Seq("doc_id", "v"), 8)
      .count() == 0)
  }

  test("tableDiff drill classifies added/deleted/modified") {
    val t1 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "v")
    val t2 = Seq((1L, "a"), (2L, "B"), (4L, "d")).toDF("doc_id", "v")
    val drill = Reconcile
      .tableDiffDrill(t1, t2, "doc_id", Seq("doc_id", "v"), 8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(drill == Map(2L -> "modified", 3L -> "deleted", 4L -> "added"))
    // and the matching row never appears
    assert(!drill.contains(1L))
  }

  test("tableDiff null-safety: NULL column vs literal empty string differ") {
    val t1 = Seq((1L, Some("x")), (2L, None)).toDF("doc_id", "v")
    val t2 = Seq((1L, Some("x")), (2L, Some(""))).toDF("doc_id", "v")
    val drill = Reconcile
      .tableDiffDrill(t1, t2, "doc_id", Seq("doc_id", "v"), 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(drill == Map(2L -> "modified"))
  }

  test("bpeMerges learns the dominant pair first, then its extension") {
    // "abab" x10 dominates: pair (a,b) weight 20; after merging,
    // (ab, ab) weight 10 wins the second round
    val docs = Seq((1L, Seq.fill(10)("abab").mkString(" ")))
      .toDF("doc_id", "text")
    val m = TextAnalysis.bpeMerges(docs, vocabTop = 10, iters = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    assert(m(0) == ((1, "a", "b", 20L)))
    assert(m(1) == ((2, "ab", "ab", 10L)))
  }

  test("bpeMerges merge is leftmost non-overlapping (aaa -> one merge)") {
    val docs = Seq((1L, "aaa aaa")).toDF("doc_id", "text")
    // pairs in "a a a": (a,a) x2 per word x2 words = 4; after merging
    // leftmost, each word is [aa, a] — second round merges (aa, a) x2
    val m = TextAnalysis.bpeMerges(docs, vocabTop = 10, iters = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    assert(m(0) == ((1, "a", "a", 4L)))
    assert(m(1) == ((2, "aa", "a", 2L)))
  }

  test("dhash64 drops undecodable payloads instead of failing the pass") {
    val junk = Seq((1L, Array[Byte](1, 2, 3)),
      (2L, Array.empty[Byte])).toDF("doc_id", "payload")
    val good = Multimodal.syntheticPatternImages(
      Seq((3L, "x")).toDF("doc_id", "text"))
    val out = Multimodal.dhash64(junk.unionByName(good))
    assert(out.collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("triangleCounts: K4, a square, and a pendant count exactly") {
    // K4 on 1..4 (each node in C(3,2)=3 triangles), a 4-cycle on
    // 5..8 (wedges but zero closure), node 9 pendant off the cycle
    val und = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (6L, 7L), (7L, 8L), (8L, 5L),
      (8L, 9L))
    val edges = und.map { case (a, b) => (a, b, 1L) }
      .toDF("src", "dst", "w")
    val got = Graphs.triangleCounts(edges).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    for (k <- 1L to 4L) assert(got(k) == ((3L, 3L, 3L)), s"node $k")
    for (k <- Seq(5L, 6L, 7L)) assert(got(k)._3 == 0L, s"node $k")
    assert(got(8L) == ((3L, 3L, 0L)) && got(9L) == ((1L, 0L, 0L)))
  }

  test("triangleCounts ignores direction, multiplicity, and self-loops") {
    // same triangle asserted as duplicated anti-parallel weighted
    // edges plus a self-loop: still exactly one triangle per node
    val messy = Seq((1L, 2L, 5L), (2L, 1L, 7L), (2L, 3L, 1L),
      (3L, 1L, 2L), (1L, 3L, 9L), (2L, 2L, 4L))
      .toDF("src", "dst", "w")
    val got = Graphs.triangleCounts(messy).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("labelPropagation converges two bridged triangles to two communities") {
    // triangles {1,2,3} and {4,5,6} with a 3-4 bridge: by iteration 3
    // (hand-computed under the min-label tie-break) every node carries
    // its community's label — 1 on the left, 3 on the right
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val edges = und.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w")
    val l3 = Graphs.labelPropagation(edges, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l3 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L), s"got $l3")
    // weight beats count: a single heavy neighbor out-votes two light ones
    val heavy = Seq((10L, 11L, 10L), (10L, 12L, 1L), (10L, 13L, 1L))
      .toDF("src", "dst", "w")
    val l1 = Graphs.labelPropagation(heavy, iters = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l1(10L) == 11L, s"got $l1")
  }

  test("zorder interleave places x on even bits, y on odd bits") {
    import graft.operators.ZOrder
    val z = spark.sql(
      s"""SELECT ${ZOrder.interleaveSparkSql("x", "y", 4)} AS z FROM VALUES
          (CAST(3 AS BIGINT), CAST(0 AS BIGINT)),
          (CAST(0 AS BIGINT), CAST(3 AS BIGINT)),
          (CAST(15 AS BIGINT), CAST(15 AS BIGINT)),
          (CAST(5 AS BIGINT), CAST(10 AS BIGINT)) AS t(x, y)""")
      .collect().map(_.getLong(0)).toSeq
    assert(z == Seq(5L, 10L, 255L, 153L))
  }

  test("zorder skippingAudit: aligned box prunes to one z file") {
    import graft.operators.ZOrder
    // the full 16x16 grid, 4 simulated files per layout; the box is
    // the top-right quadrant, exactly one z file but two linear files
    val grid = (for (x <- 0 until 16; y <- 0 until 16) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val audit = ZOrder.skippingAudit(grid, bits = 4, fileBits = 2,
      x0 = 8, x1 = 15, y0 = 8, y1 = 15).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(audit("zorder") == ((4L, 1L, 64L, 64L)))
    assert(audit("linear") == ((4L, 2L, 128L, 64L)))
  }

  test("zorder physical layout: Spark's parquet scan actually skips row groups") {
    import graft.operators.ZOrder
    // full 32x32 grid written as REAL parquet in both layouts (16
    // files each, one row group per file); box = an aligned quadrant
    // eighth. The assertion reads Spark's own scan metric — rows
    // emitted after parquet row-group min/max pruning — not a
    // simulation: z-order must beat the linear-on-x layout, and both
    // must beat a full scan
    val dir = java.nio.file.Files.createTempDirectory("zorder_phys").toString
    val grid = (for (x <- 0 until 32; y <- 0 until 32)
      yield (x.toLong, y.toLong)).toDF("x", "y")
    ZOrder.writeLayouts(grid, dir, bits = 5, nFiles = 16)
    val zFiles = new java.io.File(s"$dir/z").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(zFiles == 16)
    val (zScan, zN, zSx, zSy) =
      ZOrder.boxScan(spark, s"$dir/z", 8, 15, 16, 23)
    val (lScan, lN, lSx, lSy) =
      ZOrder.boxScan(spark, s"$dir/lin", 8, 15, 16, 23)
    assert(zN == 64L && lN == 64L && zSx == lSx && zSy == lSy)
    // 16 files of ~64 rows; the 8x8 box is one contiguous 64-value z
    // run -> at most two z files (boundary straddle) vs a quarter
    // x-stripe spanning ~4 linear files; full scan would be 1024
    assert(zScan >= 64L && zScan <= 128L, s"z layout scanned $zScan rows")
    assert(lScan >= 192L && lScan <= 320L, s"linear layout scanned $lScan rows")
    assert(zScan < lScan)
    // and the audit wrapper banding agrees
    val verdict = ZOrder.prunedScanAudit(grid, s"$dir/audit", bits = 5,
      nFiles = 16, x0 = 8, x1 = 15, y0 = 16, y1 = 23).collect()(0)
    assert(verdict.getLong(0) == 64L)
    assert((3 to 7).forall(verdict.getBoolean))
  }

  test("dhash64 is invariant across renderings of the same pattern") {
    // doc_ids 16 apart share a pattern but render at different sizes
    val docs = Seq((1L, "x"), (17L, "x"), (33L, "x"), (2L, "y"))
      .toDF("doc_id", "text")
    val hashed = Multimodal.dhash64(Multimodal.syntheticPatternImages(docs))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getLong(3))).toMap
    // different pixel dimensions…
    assert(Set(hashed(1L)._1, hashed(17L)._1, hashed(33L)._1).size > 1)
    // …same perceptual hash; a different pattern hashes far away
    assert(hashed(1L)._3 == hashed(17L)._3 &&
      hashed(17L)._3 == hashed(33L)._3)
    assert(java.lang.Long.bitCount(hashed(1L)._3 ^ hashed(2L)._3) > 10)
  }

  test("linkPrediction: scores non-adjacent wedge pairs, excludes edges") {
    // path 1-2-3-4 plus 5-2: candidates through wedge centers only
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (5L, 2L, 1L))
      .toDF("src", "dst", "w")
    val got = Graphs.linkPrediction(edges, topN = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // every adjacent pair is excluded
    assert(!got.contains((1L, 2L)) && !got.contains((2L, 3L)) &&
      !got.contains((3L, 4L)) && !got.contains((2L, 5L)))
    // wedges through 2: {1,3},{1,5},{3,5}; through 3: {2,4} (adjacent)
    assert(got((1L, 3L)) == ((1L, 2L)), "cn=1, pa=deg(1)*deg(3)=1*2")
    assert(got((1L, 5L)) == ((1L, 1L)))
    assert(got((3L, 5L)) == ((1L, 2L)))
    assert(got((2L, 4L)) == ((1L, 3L)), "2-4 via 3, pa=deg(2)*deg(4)=3*1")
    assert(got.size == 4)
  }

  test("linkPrediction: hot wedge centers are pruned by maxWedgeDeg") {
    // hub 0 connects 1..5 (deg 5); 1-2 also share low-degree center 9
    val hub = (1L to 5L).map(v => (0L, v, 1L))
    val side = Seq((9L, 1L, 1L), (9L, 2L, 1L))
    val edges = (hub ++ side).toDF("src", "dst", "w")
    val capped = Graphs.linkPrediction(edges, topN = 100, maxWedgeDeg = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // pairs wedged ONLY through the deg-5 hub vanish; 1-2 survives via 9
    assert(capped.contains((1L, 2L)) && capped((1L, 2L)) == 1L)
    assert(!capped.contains((3L, 4L)) && !capped.contains((4L, 5L)))
    val uncapped = Graphs.linkPrediction(edges, topN = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(uncapped((1L, 2L)) == 2L, "both centers count uncapped")
    assert(uncapped.contains((3L, 4L)))
  }

  test("personalizedPageRank: mass stays near seeds, unreachable nodes get zero") {
    // chain 1 -> 2 -> 3; isolated pair 8 -> 9. Seeding {1}: rank decays
    // along the chain and 8/9 (unreachable from the seed) end at zero
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (8L, 9L, 1L))
      .toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("k")
    val r = Graphs.personalizedPageRank(edges, seeds, iters = 3)
      .collect().map(x => x.getLong(0) -> (x.getBoolean(1), x.getLong(2))).toMap
    assert(r(1L)._1 && !r(2L)._1)
    assert(r(1L)._2 > r(2L)._2 && r(2L)._2 > r(3L)._2 && r(3L)._2 > 0L)
    assert(r(8L)._2 == 0L && r(9L)._2 == 0L, "unreachable must hold zero mass")
    // uniform pageRank gives 8/9 nonzero teleport mass — the contrast
    val u = Graphs.pageRank(edges, iters = 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(u(9L) > 0L)
  }

  test("randomWalks: hash-min picks, dead-end truncation, determinism") {
    // 1 -> {2,3}; 2 -> {4}; 3 -> {}; 4 -> {}: walk from 1 picks the
    // min-hash neighbor, then continues only while out-edges exist
    val edges = Seq((1L, 2L, 1L), (1L, 3L, 1L), (2L, 4L, 1L))
      .toDF("src", "dst", "w")
    val got = Graphs.randomWalks(edges, steps = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // expected step-1 pick from node 1: argmin over h32("1:0:2"),
    // h32("1:0:3") — recompute driver-side with the same portable hash
    def h(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(4).map(b => f"$b%02x").mkString, 16)
    val pick = if (h("1:0:2") < h("1:0:3") ||
      (h("1:0:2") == h("1:0:3") && 2L < 3L)) 2L else 3L
    assert(got((1L, 0)) == 1L && got((1L, 1)) == pick)
    if (pick == 2L) {
      assert(got((1L, 2)) == 4L, "walk must continue 2 -> 4")
      assert(!got.contains((1L, 3)), "dead-end at 4 truncates the walk")
    } else assert(!got.contains((1L, 2)), "dead-end at 3 truncates the walk")
    // walks start only from nodes with out-edges, and are reproducible
    assert(got.keys.map(_._1).toSet == Set(1L, 2L))
    val again = Graphs.randomWalks(edges, steps = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(again == got)
  }

  test("dupClustersTwoPhase equals union-find labels, incl. a deep chain") {
    import graft.ext.Dedup
    // components: a 40-node chain (diameter stress — the min-label
    // loop's worst case), a triangle, a 2-clique, shuffled ids so
    // component minima are not positional
    val chain = (0 until 39).map(i => (100L + i, 101L + i))
    val tri = Seq((7L, 3L), (3L, 5L), (5L, 7L))
    val duo = Seq((93L, 91L))
    val pairs = (chain ++ tri ++ duo).toDF("doc_a", "doc_b")
    // driverThreshold = 0 pins the distributed star loop (the default
    // would take the driver union-find shortcut and test nothing)
    val got = Dedup.dupClustersTwoPhase(pairs, driverThreshold = 0L)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"two-phase diverged from union-find")
    // and the shortcut path itself must agree label-for-label
    val viaDriver = Dedup.dupClustersTwoPhase(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDriver == want, s"two-phase driver shortcut diverged")
    assert(got(139L) == 100L && got(7L) == 3L && got(93L) == 91L)
  }

  test("keyframes: one per shot boundary in a shot-structured video") {
    val docs = Seq((0L, "t", "en", "src0", 1L), (1L, "t", "en", "src0", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val vids = Multimodal.syntheticShotVideos(docs, nFrames = 12, shotLen = 4)
    val got = Multimodal.keyframes(vids, sampleEvery = 1).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getInt(1)).toSet).toMap
    // shots at frames 0-3, 4-7, 8-11 -> keyframes exactly at 0, 4, 8
    assert(got(0L) == Set(0, 4, 8) && got(1L) == Set(0, 4, 8))
  }

  test("keyframes: sampling stride still detects the surviving cuts") {
    val docs = Seq((0L, "t", "en", "src0", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val vids = Multimodal.syntheticShotVideos(docs, nFrames = 12, shotLen = 4)
    // sampled frames 0,3,6,9: hash changes at 3->6? both shot1... frames
    // 0,3 share shot 0; 6 is shot 1; 9 is shot 2 -> keyframes 0, 6, 9
    val got = Multimodal.keyframes(vids, sampleEvery = 3).collect()
      .map(_.getInt(1)).toSet
    assert(got == Set(0, 6, 9))
  }

  test("audio energy segments merge consecutive active windows against the sample model") {
    val docs = Seq((3L, "t", "en", "src0", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val wav = Multimodal.syntheticAudio(docs)
    // recompute expected segments from the closed-form sample model
    val id = 3L
    val n = (256 + (id % 7) * 64).toInt
    val energies = (0 until n / 64).map { w =>
      (w * 64 until (w + 1) * 64).map { i =>
        val v = ((id * 31 + i.toLong * 7) % 2001) - 1000
        v * v
      }.sum
    }
    val thr = 21500000L
    val active = energies.zipWithIndex.filter(_._1 > thr).map(_._2)
    val segs = active.foldLeft(List.empty[(Int, Int)]) {
      case ((s, e) :: rest, w) if w == e + 1 => (s, w) :: rest
      case (acc, w) => (w, w) :: acc
    }.reverse.map { case (s, e) => (s.toLong, (e - s + 1).toLong) }
    val got = Multimodal
      .audioEnergySegments(wav, windowSamples = 64, energyThreshold = thr)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(got == segs, s"expected $segs from the sample model, got $got")
  }

  test("rocchio expansion keeps the dominant neighbor and re-ranks by the expanded query") {
    import graft.ext.Similarity
    val embs = Seq(
      (0L, Array(1f, 0f), 0), (5L, Array(1f, 0f), 0),
      (6L, Array(0f, 1f), 0), (7L, Array(0.6f, 0.8f), 0))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.rocchioExpand(embs, nQueries = 1, k = 2).collect()
      .map(r => (r.getLong(1), r.getInt(3)))
    // round 1 top-2: t5 (cos 1.0), t7 (cos 0.6); q' = (0.9, 0.2) still
    // ranks t5 first, t7 second
    assert(got.toSeq == Seq((5L, 1), (7L, 2)))
  }

  test("kTruss keeps the clique, sheds the star, reports final support") {
    // K4 on {1,2,3,4} plus a star hub 1 -> {10,11,12}: every K4 edge
    // sits in 2 triangles (4-truss); star spokes have support 0
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val star = Seq((1L, 10L), (1L, 11L), (1L, 12L))
    val edges = (k4 ++ star).toDF("src", "dst")
    val got = Graphs.kTruss(edges, k = 4, iters = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.keySet == k4.toSet, s"expected only the K4 edges: $got")
    assert(got.values.forall(_ == 2L)) // each K4 edge closes 2 triangles
  }

  test("kTruss peels cascades: a triangle chain thins from the ends") {
    // triangles sharing edges: 1-2-3, 2-3-4 -> edge (2,3) has support
    // 2 but all others 1 < k-2 -> everything peels at k=4
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    assert(Graphs.kTruss(edges, k = 4, iters = 2).collect().isEmpty)
    // at k=3 (support >= 1) nothing peels in round 1... except that
    // removing nothing keeps both triangles: all 5 edges survive
    assert(Graphs.kTruss(edges, k = 3, iters = 2).collect().length == 5)
  }

  test("centrality on a directed path: hops, closeness, harmonic, ecc") {
    // 1 -> 2 -> 3 -> 4: from 1 (radius 3) reach {2@1, 3@2, 4@3}
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = Graphs.centrality(path, maxHops = 3).collect()
      .map(r => r.getLong(0) -> r).toMap
    val n1 = got(1L)
    assert(n1.getLong(1) == 3L && n1.getLong(2) == 6L) // n_reached, sum_hops
    assert(n1.getInt(3) == 3)                          // ecc
    assert(n1.getDouble(4) == 3.0 / 6.0)               // closeness
    assert(n1.getDouble(5) == 0.0 + 1.0 / 1.0 + 1.0 / 2.0 + 1.0 / 3.0)
    // sink node 4 reaches nothing: zeroes and null closeness
    val n4 = got(4L)
    assert(n4.getLong(1) == 0L && n4.isNullAt(4) && n4.getDouble(5) == 0.0)
  }

  test("centrality radius bounds the neighborhood") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = Graphs.centrality(path, maxHops = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 0L))
  }

  test("scc: cycles group, bridges and sinks are singletons") {
    // 3-cycle {1,2,3} -> 2-cycle {4,5} -> sink 6; direction matters:
    // the 3->4 bridge joins nothing. driverThreshold = 0 pins the
    // distributed FW-BW phase loop (the default would take the
    // driver-Tarjan shortcut on a fixture this small)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (4L, 5L), (5L, 4L), (5L, 6L)).toDF("src", "dst")
    val got = Graphs.scc(edges, driverThreshold = 0).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L) == (1L, 3L) && got(2L) == (1L, 3L) && got(3L) == (1L, 3L))
    assert(got(4L) == (4L, 2L) && got(5L) == (4L, 2L))
    assert(got(6L) == (6L, 1L))
  }

  test("scc: a pure DAG chain is all singletons (trim path, not phase-per-node)") {
    val chain = (10L until 20L).map(i => (i, i + 1)).toDF("src", "dst")
    val got = Graphs.scc(chain, maxPhases = 2, driverThreshold = 0).collect()
    assert(got.length == 11)
    assert(got.forall(r => r.getLong(0) == r.getLong(1) && r.getLong(2) == 1L))
  }

  test("scc: two cycles sharing a one-way bridge stay separate; self-loops ignored") {
    val edges = Seq((1L, 1L), // self-loop: dropped
      (1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 3L)).toDF("src", "dst")
    val got = Graphs.scc(edges, driverThreshold = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
  }

  test("betweenness: path graph and diamond score textbook values") {
    // directed path 1 -> 2 -> 3 -> 4: bc(2) counts pairs (1,3), (1,4);
    // bc(3) counts (1,4), (2,4); endpoints zero. sigma = 1 everywhere,
    // so each term is exactly scale = 2^20
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = Graphs.betweenness(path).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val S = 1L << 20
    assert(got == Map(1L -> 0L, 2L -> (2 * S), 3L -> (2 * S), 4L -> 0L))
    // diamond 1 -> {2, 3} -> 4: two shortest 1~>4 paths, each middle
    // node carries sigma_sv * sigma_vt / sigma_st = 1 * 1 / 2 -> S/2
    val diamond = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val d = Graphs.betweenness(diamond).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(1L -> 0L, 2L -> (S / 2), 3L -> (S / 2), 4L -> 0L))
  }

  test("betweenness: cycle symmetry, and non-closure fails loudly") {
    // directed 4-cycle: one-way routing puts THREE ordered pairs
    // through each node (for node 2: (1,3), (1,4), (4,3)), sigma = 1
    // everywhere -> uniform bc = 3 * scale. driverThreshold = 0 pins
    // the distributed BFS loop
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val got = Graphs.betweenness(cyc, driverThreshold = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.toSet == Set(3L << 20))
    // a 6-chain cannot close its BFS in 3 rounds — loud, not partial,
    // on BOTH paths
    val chain = (1L to 6L).sliding(2).map(p => (p(0), p(1))).toSeq
      .toDF("src", "dst")
    for (thr <- Seq(0L, 1L << 20)) {
      val e = intercept[IllegalArgumentException] {
        Graphs.betweenness(chain, maxRounds = 3, driverThreshold = thr)
          .collect()
      }
      assert(e.getMessage.contains("did not close"))
    }
  }

  test("betweenness: driver path equals the distributed BFS loop") {
    // asymmetric graph with multiple shortest paths and unreachable
    // pairs — both paths must agree term-for-term
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L),
      (5L, 2L), (6L, 1L)).toDF("src", "dst")
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val driver = m(Graphs.betweenness(edges))
    val dist = m(Graphs.betweenness(edges, driverThreshold = 0))
    assert(driver == dist)
    assert(driver(4L) > driver(2L)) // 4 bridges everything into 5
  }

  test("betweennessSampled: all-pivots sample reproduces exact term for term") {
    // K = n makes the pivot-pair restriction vacuous: bc_raw_q must
    // equal the exact floored-triple bc_q BIT FOR BIT, and the
    // n(n-1)/(K(K-1)) extrapolation factor is exactly 1
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L),
      (5L, 2L), (6L, 1L)).toDF("src", "dst")
    val exact = Graphs.betweenness(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sampled = Graphs.betweennessSampled(edges, numSources = 6)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(sampled.map(t => t._1 -> t._2).toMap == exact)
    sampled.foreach { case (_, raw, est) => assert(raw == est) }
  }

  test("betweennessSampled: pivot pairs only, extrapolated by the pair ratio") {
    // path 1 -> 2 -> 3 -> 4; Lehmer hash k*48271 is monotone on small
    // ids, so K = 3 picks pivots {1, 2, 3}. The only pivot pair with
    // an interior node is (1, 3) through 2; pairs through 3 — (1,4),
    // (2,4) — have t = 4 unsampled, so bc_raw(3) = 0 (the estimator's
    // blind spot the n(n-1)/(K(K-1)) factor prices in expectation)
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = Graphs.betweennessSampled(path, numSources = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val S = 1L << 20
    assert(got(2L) == ((S, 2 * S))) // est = raw * 4*3 div (3*2)
    assert(got(1L) == ((0L, 0L)) && got(3L) == ((0L, 0L)) &&
      got(4L) == ((0L, 0L)))
    // no maxNodes bound applies: state is O(K*n) by construction
  }

  test("betweennessSampled: driver shortcut equals the distributed pyramids") {
    // multi-path graph (1->2->4, 1->3->4 gives sigma(1,4) = 2, so the
    // triple floors actually divide); driverThreshold = 0 pins the
    // distributed two-pyramid path against the default driver pass
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L),
      (5L, 2L), (6L, 1L)).toDF("src", "dst")
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val driver = m(Graphs.betweennessSampled(edges, numSources = 4))
    val dist = m(Graphs.betweennessSampled(edges, numSources = 4,
      driverThreshold = 0))
    assert(driver == dist)
  }

  test("betweenness: node bound fails loudly on BOTH paths") {
    // 6 nodes, 5 edges: under any edge driverThreshold, yet over
    // maxNodes = 4 — the driver shortcut must refuse (its O(n^2)
    // arrays are bounded by NODES, not edges), not just the
    // distributed loop
    val chain = (1L to 6L).sliding(2).map(p => (p(0), p(1))).toSeq
      .toDF("src", "dst")
    for (thr <- Seq(0L, 1L << 20)) {
      val e = intercept[IllegalArgumentException] {
        Graphs.betweenness(chain, maxNodes = 4, driverThreshold = thr)
          .collect()
      }
      assert(e.getMessage.contains("exceeds the exact all-pairs bound"))
    }
  }

  test("scc: driver Tarjan path equals the distributed phase loop") {
    // ascending-id SCC chain — the case where single-direction coloring
    // peels one component per phase; both paths must agree exactly
    val edges = Seq(
      (1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 3L), (4L, 5L),
      (5L, 6L), (6L, 5L), (6L, 7L), // 3 ascending 2-cycles + bridges
      (9L, 8L), (8L, 9L), (7L, 8L)).toDF("src", "dst")
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val driver = asMap(Graphs.scc(edges)) // default threshold: driver path
    val dist = asMap(Graphs.scc(edges, driverThreshold = 0))
    assert(driver == dist)
    assert(driver(1L) == (1L, 2L) && driver(3L) == (3L, 2L)
      && driver(5L) == (5L, 2L) && driver(7L) == (7L, 1L)
      && driver(8L) == (8L, 2L) && driver(9L) == (8L, 2L))
  }

  test("hyperBall: linear-counting regime counts a chain exactly; balls are monotone") {
    // 1 -> 2 -> 3 -> 4: out-ball of node 1 grows 1,2,3,4; node 4 never
    // grows. At n << m=64 with collision-free buckets linear counting
    // is exact, so these are equalities, not tolerances.
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = Graphs.hyperBall(chain, maxT = 3).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert((0 to 3).forall(t => got((t, 4L)) == 1L))
    assert((0 to 3).map(t => got((t, 1L))) == Seq(1L, 2L, 3L, 4L))
    assert((0 to 3).map(t => got((t, 2L))) == Seq(1L, 2L, 3L, 3L))
    // monotone per node: registers only grow
    for (k <- 1L to 4L; t <- 1 to 3)
      assert(got((t, k)) >= got((t - 1, k)), s"node $k shrank at t=$t")
  }

  test("hyperBall: linearCountTable is the exact-at-small-n inverse of occupancy") {
    // floor(m*ln(m/(m-n))) == n for n well below m (the property the
    // chain test rides on) — check the whole exact band for m=64
    val lc = Graphs.linearCountTable(64)
    for (n <- 1 to 10) assert(lc(63 - n) == n.toLong, s"lc at n=$n")
    // beyond the exact band the quadratic bias term n^2/2m kicks in
    assert(lc(63 - 11) == 12L)
    assert(lc.length == 63 && lc.head == lc.max && lc.last == 1L)
  }

  test("sssp: a cheap 2-edge detour beats the heavy direct edge; bound honored") {
    // 1 -10-> 4 direct, but 1 -1-> 2 -1-> 4 costs 2; node 5 is 3 hops out
    val edges = Seq((1L, 4L, 10L), (1L, 2L, 1L), (2L, 4L, 1L),
      (4L, 5L, 1L)).toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("k")
    val r1 = Graphs.sssp(edges, seeds, rounds = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(1L -> 0L, 2L -> 1L, 4L -> 10L)) // only 1-edge paths
    val r2 = Graphs.sssp(edges, seeds, rounds = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2 == Map(1L -> 0L, 2L -> 1L, 4L -> 2L, 5L -> 11L))
    val r3 = Graphs.sssp(edges, seeds, rounds = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r3(5L) == 3L) // detour's extension wins one round later
  }

  test("sssp: unit weights reproduce bfsHops distances; multi-seed min wins") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (9L, 3L))
      .toDF("src", "dst").withColumn("w", lit(1L))
    val seeds = Seq(1L, 9L).toDF("k")
    val viaSssp = Graphs.sssp(edges, seeds, rounds = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaBfs = Graphs.bfsHops(edges, seeds, maxHops = 3).collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    assert(viaSssp == viaBfs)
    assert(viaSssp(3L) == 1L) // seed 9 reaches 3 in one hop, not 1's two
  }

  test("reciprocity: mutual pair counts both ways, self-loops and dup edges don't") {
    // 1<->2 mutual; 1->3 one-way; 4->4 self-loop ignored; duplicate
    // 1->2 row collapses: 3 simple edges, 2 reciprocal -> 666666 ppm
    val ed = Seq((1L, 2L, 1L), (1L, 2L, 1L), (2L, 1L, 1L), (1L, 3L, 1L),
      (4L, 4L, 1L)).toDF("src", "dst", "w")
    val Array(r) = Graphs.reciprocity(ed).collect()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ==
      (3L, 2L, 666666L))
  }

  test("pageRank warm start: empty delta equals one more cold iteration") {
    val ed = Seq((1L, 2L, 2L), (2L, 3L, 1L), (3L, 1L, 1L), (1L, 3L, 1L))
      .toDF("src", "dst", "w")
    val none = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
    val warm = Graphs.pageRankWarmStart(ed, none, baseIters = 3,
      refreshIters = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val cold4 = Graphs.pageRank(ed, iters = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(warm == cold4, "warm refresh over an unchanged graph IS iteration 4")
  }

  test("pageRank warm start: a brand-new node starts at the uniform floor") {
    val ed = Seq((1L, 2L, 1L), (2L, 1L, 1L)).toDF("src", "dst", "w")
    val delta = Seq((2L, 9L, 1L)).toDF("src", "dst", "w")
    val got = Graphs.pageRankWarmStart(ed, delta, baseIters = 2,
      refreshIters = 1).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    // node 9 is new: r_start = scale/3 (union has 3 nodes)
    assert(got(9L)._1 == (1L << 40) / 3)
    // and mass flowed: someone moved
    assert(got.values.exists(_._2 != 0L))
  }

  test("incremental triangles: duplicate/self-loop batch yields no delta") {
    val old = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val noop = Seq((2L, 1L), (3L, 3L)).toDF("src", "dst") // dup (reversed) + self-loop
    assert(Graphs.incrementalTriangles(old, noop).count() == 0)
    // a genuinely new closing edge counts each member once
    val close = Seq((1L, 4L), (2L, 4L)).toDF("src", "dst")
    val got = Graphs.incrementalTriangles(old, close).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 4L -> 1L))
  }

  test("reciprocity: all-self-loop edge list degrades to NULL ppm, no crash") {
    val ed = Seq((4L, 4L, 1L), (7L, 7L, 1L)).toDF("src", "dst", "w")
    val Array(r) = Graphs.reciprocity(ed).collect()
    assert((r.getLong(0), r.getLong(1)) == (0L, 0L))
    assert(r.isNullAt(2), "reciprocity_ppm must be NULL on an empty simple-edge set")
  }

  test("bowtie: pivot SCC is the core, reaches split in/out, islands are other") {
    // 0 -> 1 <-> 2 -> 3, island 5 -> 6; pivot = node 1 (deg 3, id tie)
    val ed = Seq((0L, 1L), (1L, 2L), (2L, 1L), (2L, 3L), (5L, 6L))
      .toDF("src", "dst")
    val got = Graphs.bowTie(ed).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(0L -> "in", 1L -> "core", 2L -> "core",
      3L -> "out", 5L -> "other", 6L -> "other"))
  }

  test("motif census: one FFL, one cycle counted once, dyads contribute neither") {
    val ed = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L),  // feed-forward loop
      (4L, 5L), (5L, 6L), (6L, 4L),  // 3-cycle (counted once, not 3x)
      (7L, 8L), (8L, 7L))            // mutual dyad: no triad
      .toDF("src", "dst")
    val got = Graphs.motifCensus(ed).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("cycle" -> 1L, "ffl" -> 1L))
    // a mutual EDGE inside a transitive triangle: 1<->3 makes the
    // reversed copy {3->1 with 1->2? no} — adding 3->1 creates the
    // cycle 1->2,2->3,3->1 alongside the original FFL
    val got2 = Graphs.motifCensus(
      ed.unionAll(Seq((3L, 1L)).toDF("src", "dst"))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got2 == Map("cycle" -> 2L, "ffl" -> 1L))
  }

  test("exif scrub: GPS block stripped byte-exactly, benign EXIF untouched") {
    import spark.implicits._
    val docs = Seq((1L, "imgdata", "s"), (3L, "imgdata", "s"),
      (4L, "imgdata", "s")).toDF("doc_id", "text", "source")
    val got = Multimodal.exifGpsScrub(Multimodal.exifPlant(docs)).collect()
      .map { r =>
        r.getAs[Long]("doc_id") ->
          ((r.getAs[Boolean]("has_exif"), r.getAs[Boolean]("has_gps"),
            new String(r.getAs[Array[Byte]]("payload_scrubbed"), "UTF-8"),
            r.getAs[Long]("orig_bytes") - r.getAs[Long]("scrubbed_bytes")))
      }.toMap
    // doc 1: GPS=-89,-173 (1%180-90, 7%360-180) — block removed, the
    // removed byte count is exactly the block's length
    assert(got(1L) == ((true, true, "EXIF;IMG;imgdata",
      "GPS=-89,-173;".length.toLong)))
    // doc 3: benign camera tag kept whole; doc 4: no EXIF at all
    assert(got(3L) == ((true, false, "EXIF;CAM=fx9;IMG;imgdata", 0L)))
    assert(got(4L) == ((false, false, "IMG;imgdata", 0L)))
    // rollup: flags and byte totals per source
    val audit = Multimodal.exifPrivacyAudit(docs).collect().head
    assert(audit.getAs[Long]("n_docs") == 3L)
    assert(audit.getAs[Long]("n_exif") == 2L)
    assert(audit.getAs[Long]("n_gps") == 1L)
    assert(audit.getAs[Long]("removed_bytes") == "GPS=-89,-173;".length)
  }

  test("tiff walker: both endiannesses parse to the closed-form geometry") {
    // id 13: 13%3!=0 -> II little-endian; GPS class (13%4=1),
    // lat = 13%180-90 = -77, lon = 91-180 = -89
    val (e1, w1, h1, x1, g1, _) = Multimodal.tiffWalkScrub(
      Multimodal.tiffBytes(13L))
    assert((e1, w1, h1, x1, g1) ==
      (("II", 4 + 13 % 13, 3 + 13 % 7, false, Some((-77, -89)))))
    // id 9: 9%3==0 -> MM big-endian; GPS class too (9%4=1),
    // lat = 9-90 = -81, lon = 63-180 = -117
    val (e2, w2, h2, _, g2, _) = Multimodal.tiffWalkScrub(
      Multimodal.tiffBytes(9L))
    assert((e2, w2, h2, g2) == (("MM", 13, 5, Some((-81, -117)))))
    // id 3: MM, Software-tag class (3%4=3), no GPS
    val (e3, _, _, x3, g3, s3) = Multimodal.tiffWalkScrub(
      Multimodal.tiffBytes(3L))
    assert(e3 == "MM" && x3 && g3.isEmpty)
    assert(s3.length == Multimodal.tiffBytes(3L).length, "no-GPS: untouched")
  }

  test("tiff scrub: valid re-walkable output under both byte orders") {
    for (id <- Seq(13L, 9L)) { // LE GPS doc and BE GPS doc
      val orig = Multimodal.tiffBytes(id)
      val (_, w, h, _, _, scrubbed) = Multimodal.tiffWalkScrub(orig)
      assert(orig.length - scrubbed.length == 42,
        "12-byte pointer entry + 30-byte GPS IFD removed")
      // the scrubbed TIFF re-walks cleanly: geometry preserved, GPS
      // gone, and a second scrub is the identity (idempotence)
      val (_, w2, h2, _, g2, again) = Multimodal.tiffWalkScrub(scrubbed)
      assert(w2 == w && h2 == h && g2.isEmpty)
      assert(again.sameElements(scrubbed))
      // StripOffsets was patched: the strip lands at its new offset
      // (3 entries after removal -> 14 + 36) with the pixel rule intact
      val stripOff = 14 + 12 * 3
      (0 until w * h).foreach { i =>
        assert(scrubbed(stripOff + i) == ((id * 31 + i) % 256).toByte,
          s"pixel $i of doc $id moved or corrupted")
      }
    }
  }

  test("tiff walker: foreign or truncated bytes fail loudly, never pass") {
    def boom(b: Array[Byte], msg: String): Unit = {
      val e = intercept[IllegalArgumentException](Multimodal.tiffWalkScrub(b))
      assert(e.getMessage.contains(msg), e.getMessage)
    }
    boom(Array[Byte](73, 73), "truncated header")
    boom("XXXXXXXX".getBytes, "byte-order mark")
    boom("II".getBytes ++ Array[Byte](43, 0, 8, 0, 0, 0), "bad magic")
    // header claims an IFD the buffer does not contain
    boom("II".getBytes ++ Array[Byte](42, 0, 99, 0, 0, 0), "truncated IFD")
    // entry count larger than the remaining bytes
    val short = Multimodal.tiffBytes(13L).take(12)
    boom(short, "truncated IFD")
  }

  test("betweennessSource: σ=1 at K=n equals exact betweenness exactly") {
    // unique shortest paths everywhere -> no floor ever truncates, and
    // at K = n the n/K factor is 1: the δ-recursion estimator must
    // reproduce the exact pair-dependency values term for term
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 5L))
      .toDF("src", "dst")
    val exact = Graphs.betweenness(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact(2L) == 3L << 20 && exact(3L) == 2L << 20)
    val est = Graphs.betweennessSource(edges, numSources = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    est.foreach { case (k, raw, e) =>
      assert(e == exact(k), s"node $k: est $e vs exact ${exact(k)}")
      assert(raw == e, "n/K extrapolation is the identity at K = n")
    }
  }

  test("betweennessSource: floored δ over multi-path graphs, hand-exact") {
    // diamond + tail: σ(1,4) = σ(1,5) = 2. Hand recursion for s=1:
    // δq(4) = floor(2·(2^20+0)/2) = 2^20; δq(2) = δq(3) =
    // floor(1·(2^20 + 2^20)/2) = 2^20. Sources 2 and 3 each add 2^20
    // to node 4 (their unique paths to 5 route through it).
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val got = Graphs.betweennessSource(edges, numSources = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> (1L << 20), 3L -> (1L << 20),
      4L -> (3L << 20), 5L -> 0L), got.toString)
    // on this graph the per-edge floors happen to lose nothing: the
    // estimator agrees with the exact pair-dependency form too
    val exact = Graphs.betweenness(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == exact)
    // the distributed sweep (forced via driverThreshold = 0) is
    // byte-equal to the driver shortcut — the floors are
    // order-independent, so the two paths cannot round apart
    val dist = Graphs.betweennessSource(edges, numSources = 5,
        driverThreshold = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val drv = Graphs.betweennessSource(edges, numSources = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(dist == drv, s"distributed $dist vs driver $drv")
    // fewer sources than nodes: raw shrinks to the sampled sources'
    // δ mass and the n/K factor rescales — K=2 picks seeds by the
    // Lehmer rule, and est = raw·5 div 2
    val s2 = Graphs.betweennessSource(edges, numSources = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    s2.foreach { case (_, raw, e) => assert(e == raw * 5L / 2L) }
  }

  test("jpeg exif scrub: segment walk, APP1 length patch, idempotence") {
    // id 13: GPS class, II TIFF inside the APP1 — the scanner must
    // skip the COM segment and patch the BIG-endian APP1 length even
    // though the embedded TIFF is little-endian
    val orig = Multimodal.jpegExifBytes(13L)
    val (he, facts, out) = Multimodal.jpegWalkScrub(orig)
    assert(he && facts.get._1 == "II" && facts.get._5 == Some((-77, -89)))
    assert(orig.length - out.length == 42,
      "the same 42 bytes the bare-TIFF scrub removes")
    // APP1 sits at offset 2; its patched length = 2 + 6 + scrubbed tiff
    val newLen = ((out(4) & 0xFF) << 8) | (out(5) & 0xFF)
    assert(newLen == 2 + 6 + (Multimodal.tiffBytes(13L).length - 42))
    // the scrubbed JPEG re-walks: EXIF present, GPS gone, second scrub
    // is the identity; the spliced COM+EOI trailer is byte-identical
    val (he2, facts2, again) = Multimodal.jpegWalkScrub(out)
    assert(he2 && facts2.get._5.isEmpty && again.sameElements(out))
    assert(out.takeRight(11).sameElements(orig.takeRight(11)))
    // big-endian TIFF inside: id 9 (GPS class, 9 % 3 == 0 -> MM)
    val (_, f9, out9) = Multimodal.jpegWalkScrub(Multimodal.jpegExifBytes(9L))
    assert(f9.get._1 == "MM" && f9.get._5 == Some((-81, -117)))
    assert(Multimodal.jpegExifBytes(9L).length - out9.length == 42)
    // no-APP1 class: passes through byte-identically
    val b2 = Multimodal.jpegExifBytes(2L)
    val (he3, f3, s3) = Multimodal.jpegWalkScrub(b2)
    assert(!he3 && f3.isEmpty && s3.sameElements(b2))
    // benign-EXIF class: APP1 parsed (Software tag), no GPS, untouched
    val b3 = Multimodal.jpegExifBytes(3L)
    val (he4, f4, s4) = Multimodal.jpegWalkScrub(b3)
    assert(he4 && f4.get._4 && f4.get._5.isEmpty && s4.sameElements(b3))
  }

  test("jpeg walker: foreign or truncated bytes fail loudly") {
    def boom(b: Array[Byte], msg: String): Unit = {
      val e = intercept[IllegalArgumentException](Multimodal.jpegWalkScrub(b))
      assert(e.getMessage.contains(msg), e.getMessage)
    }
    boom("nope".getBytes, "missing SOI")
    boom(Array(0xFF.toByte, 0xD8.toByte, 0x00.toByte, 0x01.toByte),
      "misaligned marker")
    // segment claims more bytes than the buffer holds
    boom(Array(0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xFE.toByte,
      0x00.toByte, 0x63.toByte), "segment overruns")
    boom(Multimodal.jpegExifBytes(2L) :+ 0x00.toByte, "bytes after EOI")
    // chopping the tail makes the APP1 claim bytes that are not there
    boom(Multimodal.jpegExifBytes(13L).dropRight(20), "segment overruns")
    // DUPLICATE APP1-Exif segments: scrubbing one and passing the
    // other would leak — refuse loudly instead (splice the GPS doc's
    // APP1 in twice: SOI ++ app1 ++ app1 ++ rest)
    val withApp1 = Multimodal.jpegExifBytes(13L)
    val app1Len = (((withApp1(4) & 0xFF) << 8) | (withApp1(5) & 0xFF)) + 2
    val app1 = withApp1.slice(2, 2 + app1Len)
    boom(withApp1.take(2) ++ app1 ++ withApp1.drop(2),
      "multiple APP1 Exif segments")
  }
}
