package graft

/** Benchmark main: times every declared query at the target scale
  * factor and prints one JSON line for the driver.
  *
  * Each query materializes through the noop sink (full plan execution —
  * a bare count() would let Catalyst prune unused projections and
  * under-report). One untimed warmup pass absorbs JIT/codegen compile
  * and FS cache effects so the timed pass measures steady-state
  * throughput, which is what matters at cluster scale.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = graft.core.Sessions.local(cpus.toInt)

    // -1.0 marks a FAILED query (never a partial elapsed time, which
    // would read as a fast pass in the harness)
    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        -1.0
      }
    }

    // optional args subset the run — the micro-bench loop for tuning
    // one operator without paying for the whole registry. Unknown names
    // fail up front with the full list, not NoSuchElementException
    // mid-warmup.
    val unknown = args.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(
        s"[bench] unknown queries: ${unknown.sorted.mkString(", ")}\n" +
          s"[bench] known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
      spark.stop()
      sys.exit(2)
    }
    val names =
      if (args.nonEmpty) args.toSeq.sorted
      else SparkEntry.queries.keys.toSeq.sorted
    names.foreach(runOnce) // warmup (untimed)

    // ---- interleaved A/B mode (SPARK_GRAFT_BENCH_AB=1): -----------
    // 2*rounds timed passes alternate labels A,B,A,B,... in ONE
    // session, so external CPU-contention drift hits both sides
    // near-symmetrically and a per-query A-vs-B delta is attributable:
    // same HEAD by construction (one JVM), any out-of-band delta IS
    // the environment's noise floor, measured — the protocol that
    // replaces "one same-day rerun" as the drift counter-evidence.
    // (Two different HEADs cannot share a JVM: run Bench in each
    // checkout alternately with SPARK_GRAFT_BENCH_PASSES=1 and pair
    // the detail files with scripts/bench_ab.py instead.)
    if (sys.env.get("SPARK_GRAFT_BENCH_AB").contains("1")) {
      val rounds = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt
      val labeled = (1 to 2 * rounds).map { i =>
        (if (i % 2 == 1) "a" else "b") -> names.map(n => n -> runOnce(n)).toMap
      }
      def med(rs: Seq[Double]): Double =
        if (rs.exists(_ < 0)) -1.0 else rs.sorted.apply(rs.size / 2)
      def r3b(v: Double): Double = math.rint(v * 1000) / 1000
      val per = names.map { n =>
        val as = labeled.collect { case ("a", m) => m(n) }
        val bs = labeled.collect { case ("b", m) => m(n) }
        val (am, bm) = (med(as), med(bs))
        // band = side A's observed spread widened 10% (the
        // bench_compare.py regression bar); B's median inside it
        // means the delta is indistinguishable from noise
        val inBand = am >= 0 && bm >= 0 &&
          bm <= as.max * 1.10 && bm >= as.min * 0.90
        (n, as, bs, am, bm, inBand)
      }
      val outOfBand = per.collect { case (n, _, _, _, _, false) => n }
      val qjson = per.map { case (n, as, bs, am, bm, inBand) =>
        "\"" + n + "\":{\"a\":[" + as.map(r3b).mkString(",") +
          "],\"b\":[" + bs.map(r3b).mkString(",") +
          s"],\"a_med\":${r3b(am)},\"b_med\":${r3b(bm)}," +
          s""""in_band":$inBand}"""
      }.mkString("{", ",", "}")
      val oob = outOfBand.map("\"" + _ + "\"").mkString("[", ",", "]")
      // a query failed on EITHER side leaves BOTH totals — summing it
      // into just the healthy side would compare different query sets
      // and skew the headline delta
      val okPairs = per.collect {
        case (_, _, _, am, bm, _) if am >= 0 && bm >= 0 => (am, bm)
      }
      val aTot = r3b(okPairs.map(_._1).sum)
      val bTot = r3b(okPairs.map(_._2).sum)
      val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_ab.json")
      val line =
        s"""{"metric":"ab","rounds":$rounds,"a_total":$aTot,"b_total":$bTot,"n_queries":${names.size},"n_paired":${okPairs.size},"n_out_of_band":${outOfBand.size},"out_of_band":$oob,"sf":"$sfDir","queries":$qjson}"""
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      spark.stop()
      println(s"""{"metric":"ab","rounds":$rounds,"a_total":$aTot,"b_total":$bTot,"n_queries":${names.size},"n_paired":${okPairs.size},"n_out_of_band":${outOfBand.size},"out_of_band":$oob,"sf":"$sfDir","detail":"$out"}""")
      return
    }
    // 3 timed passes: the environment shows bursty external CPU
    // contention (identical plans vary 4x run-to-run), and single-shot
    // timings made round-over-round drift unfalsifiable — the MEDIAN is
    // the headline number and (min, max) records each query's observed
    // spread, so a later round can distinguish "regression" from
    // "within this query's own noise band". Any failed pass poisons
    // the query to -1. SPARK_GRAFT_BENCH_PASSES overrides the pass
    // count (1 for the cross-checkout A/B protocol's per-invocation
    // passes — see scripts/bench_ab.py).
    val nTimed = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val passes = Seq.fill(nTimed)(names.map(n => n -> runOnce(n)).toMap)
    val runs = names.map(n => n -> passes.map(_(n))).toMap
    val results = names.map { n =>
      val rs = runs(n)
      n -> (if (rs.exists(_ < 0)) -1.0 else rs.sorted.apply(rs.size / 2))
    }
    val failed = results.collect { case (n, v) if v < 0 => n }
    // min-of-passes total: the r14 same-HEAD A/B showed identical code
    // drifting +11.8% between interleaved sides on a noisy day, so a
    // MEDIAN total from one session is weakly comparable across rounds;
    // the per-query MIN is the least contention-inflated observation
    // each side produced, and its sum is the noise-robust secondary
    // headline a round-over-round reader should prefer when the paired
    // A/B artifact is not available. It carries the SAME -1 sentinel
    // as `value` on any failure: a subset-sum over only the queries
    // that happened to pass must never be compared against a
    // full-registry round (the surviving subset sum is still recorded,
    // as passed_min_total)
    val passedMinTotal = names.map(n => runs(n))
      .filter(_.forall(_ >= 0)).map(_.min).sum
    val minTotal = if (failed.nonEmpty) -1.0 else passedMinTotal

    // ms precision keeps the line a few hundred bytes — the driver's
    // stdout-tail capture has truncated the full-precision form before
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    val qs = results.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val passedTotal = r3(results.map(_._2).filter(_ >= 0).sum)
    // a run with failures reports value:-1, not the sum of the queries
    // that happened to pass — a consumer comparing totals across rounds
    // must not read a failure as a speedup (passed_total carries the sum)
    val total = if (failed.nonEmpty) -1.0 else passedTotal
    // a SUBSET run (args given) must never clobber the committed
    // full-registry artifact — it writes its own file instead. The cpu
    // count is stamped into the default name because the driver benches
    // at TWO core counts back to back (32 then 8) and a shared default
    // made the second run clobber the first's per-query detail (r16);
    // the compact stdout line names the file either way ("detail").
    val defaultOut =
      if (args.nonEmpty) "bench_out_subset.json" else s"bench_out_c$cpus.json"
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    // full form (with the per-query map) goes to the file; the stdout
    // line is the compact form only — a 90+-query map is ~3.4 KB and
    // the driver's stdout-tail capture keeps ~2 KB, which truncated the
    // head of the JSON (and failed its parse) three rounds running
    // per-query {median,min,max} — the variance record a round-over-round
    // comparison needs to flag only regressions beyond the noise band
    val spread = names.map { n =>
      val rs = runs(n)
      val (mn, mx) =
        if (rs.exists(_ < 0)) (-1.0, -1.0) else (rs.min, rs.max)
      "\"" + n + "\":{\"median\":" + r3(results.toMap.apply(n)) +
        ",\"min\":" + r3(mn) + ",\"max\":" + r3(mx) + "}"
    }.mkString("{", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","passed_total":$passedTotal,"min_total":${r3(minTotal)},"passed_min_total":${r3(passedMinTotal)},"queries":$qs,"spread":$spread,"failed":$failedJson,"sf":"$sfDir"}"""
    val compactLine =
      s"""{"metric":"total","value":$total,"unit":"sec","passed_total":$passedTotal,"min_total":${r3(minTotal)},"passed_min_total":${r3(passedMinTotal)},"n_queries":${names.size},"failed":$failedJson,"sf":"$sfDir","detail":"$out"}"""
    val outPath = java.nio.file.Paths.get(out)
    // a full-registry run also refreshes the canonical bench_out.json
    // beside it: the stable path per-query consumers read
    val paths =
      if (args.nonEmpty) Seq(outPath)
      else Seq(outPath, outPath.resolveSibling("bench_out.json")).distinct
    paths.foreach(java.nio.file.Files.write(_,
      (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    // print LAST, after session teardown, so nothing else can land
    // between the JSON line and the end of the captured output
    spark.stop()
    println(compactLine)
  }
}
