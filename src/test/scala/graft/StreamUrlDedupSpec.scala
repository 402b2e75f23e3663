package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.ext.Curation
import graft.streaming.{BatchState, StreamUrlDedup}

class StreamUrlDedupSpec extends SparkSpec {

  private def writeUrls(dir: String, name: String,
                        docs: Seq[(Long, String)]): Unit = {
    val lines = docs.map { case (id, u) =>
      s"""{"doc_id": $id, "url": "$u"}"""
    }.mkString("\n")
    Files.writeString(Paths.get(dir, name), lines)
    ()
  }

  private def dropPairs(out: String): Set[(Long, Long)] =
    spark.read.parquet(out)
      .select(col("doc_id"), col("keep_doc")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("streaming frontier dedup: cross-batch and intra-batch drops") {
    val landing = Files.createTempDirectory("su_landing").toString
    val state = Files.createTempDirectory("su_state").toString
    val out = Files.createTempDirectory("su_out").toString + "/drops"
    val ckpt = Files.createTempDirectory("su_ckpt").toString

    // batch 1: two spellings of ONE canonical URL + a singleton
    writeUrls(landing, "b1.json", Seq(
      0L -> "https://Example.com/a?utm_source=x",
      1L -> "https://example.com:443/a#frag",
      2L -> "https://other.org/b"))
    StreamUrlDedup.run(spark, landing, state, out, ckpt).awaitTermination()
    assert(dropPairs(out) == Set((1L, 0L)))
    // state: one row per distinct norm_url
    assert(spark.read.parquet(s"$state/urls").count() == 2)

    // batch 2: a third spelling of the batch-1 URL (drops against the
    // ORIGINAL keeper, not anything in this batch) + a fresh URL
    writeUrls(landing, "b2.json", Seq(
      10L -> "https://example.com/a",
      11L -> "https://fresh.net/c"))
    StreamUrlDedup.run(spark, landing, state, out, ckpt).awaitTermination()
    assert(dropPairs(out) == Set((1L, 0L), (10L, 0L)))
    assert(spark.read.parquet(s"$state/urls").count() == 3)

    // same landing dir again: the checkpoint is the ledger
    StreamUrlDedup.run(spark, landing, state, out, ckpt).awaitTermination()
    assert(dropPairs(out) == Set((1L, 0L), (10L, 0L)))
    assert(spark.read.parquet(s"$state/urls").count() == 3)
  }

  test("split cohorts: streaming drops == the batch c39 keeper rule") {
    import spark.implicits._
    val state = Files.createTempDirectory("su_state2").toString
    val out = Files.createTempDirectory("su_out2").toString + "/drops"
    // ids in fetch order (the c39 convention: lowest id = first fetch);
    // urls collide across the cohort split and within each cohort
    val all = Seq(
      0L -> "https://a.example.com/x",
      1L -> "https://A.example.com/x#f", // intra-cohort dup of 0
      2L -> "https://b.example.org/y",
      3L -> "https://c.example.net/z",
      10L -> "https://a.example.com/x?utm_a=1", // cross-cohort dup of 0
      11L -> "https://b.example.org:443/y", // cross-cohort dup of 2
      12L -> "https://d.example.io/w",
      13L -> "https://d.example.io/w") // intra-cohort dup of 12
    val (c1, c2) = all.partition(_._1 < 10L)
    StreamUrlDedup.processBatch(spark, c1.toDF("doc_id", "url"), 0L,
      state, out)
    StreamUrlDedup.processBatch(spark, c2.toDF("doc_id", "url"), 1L,
      state, out)
    // the BATCH oracle over the union corpus: c39's group report
    val batchPairs = Curation.urlDedup(all.toDF("doc_id", "url"))
      .select(col("norm_url"), col("keep_doc"), col("n_docs")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = spark.read.parquet(out)
      .groupBy(col("norm_url"), col("keep_doc"))
      .agg((count(lit(1)) + 1L).as("n_docs")) // drops + the keeper
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(streamed == batchPairs, s"streamed $streamed vs $batchPairs")
  }

  test("micro-batch replay is idempotent (at-least-once foreachBatch)") {
    import spark.implicits._
    val state = Files.createTempDirectory("su_state3").toString
    val out = Files.createTempDirectory("su_out3").toString + "/drops"
    val b0 = Seq(0L -> "https://a.org/p", 1L -> "https://b.org/q")
      .toDF("doc_id", "url")
    StreamUrlDedup.processBatch(spark, b0, 0L, state, out)
    val b1 = Seq(10L -> "https://a.org/p", 11L -> "https://c.org/r",
      12L -> "https://c.org/r").toDF("doc_id", "url")
    StreamUrlDedup.processBatch(spark, b1, 1L, state, out)
    def snapshot() = (dropPairs(out),
      spark.read.parquet(s"$state/urls").count())
    val once = snapshot()
    assert(once._1 == Set((10L, 0L), (12L, 11L)) && once._2 == 3, once)
    // crash-after-write replay: same batch, same id — state and report
    // byte-stable, and the batch must not drop against its own attempt
    StreamUrlDedup.processBatch(spark, b1, 1L, state, out)
    assert(snapshot() == once, "replay changed state or output")
  }

  test("compaction folds old partitions; probes, replay, guard intact") {
    import spark.implicits._
    // twin states: one compacted, one not — every downstream artifact
    // must stay identical
    val stateA = Files.createTempDirectory("su_state5a").toString
    val outA = Files.createTempDirectory("su_out5a").toString + "/drops"
    val stateB = Files.createTempDirectory("su_state5b").toString
    val outB = Files.createTempDirectory("su_out5b").toString + "/drops"
    val b0 = Seq(0L -> "https://a.org/p").toDF("doc_id", "url")
    val b1 = Seq(10L -> "https://b.org/q").toDF("doc_id", "url")
    val b2 = Seq(20L -> "https://a.org/p", 21L -> "https://c.org/r")
      .toDF("doc_id", "url")
    for ((st, o) <- Seq((stateA, outA), (stateB, outB))) {
      StreamUrlDedup.processBatch(spark, b0, 0L, st, o)
      StreamUrlDedup.processBatch(spark, b1, 1L, st, o)
      StreamUrlDedup.processBatch(spark, b2, 2L, st, o)
    }
    StreamUrlDedup.compactState(spark, stateA, 1L)
    def stateRows(st: String) = spark.read.parquet(s"$st/urls")
      .select(col("norm_url"), col("domain"), col("keep_doc")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    def parts(st: String) = spark.read.parquet(s"$st/urls")
      .select(col("batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    // batch 0 folded into 1; the newest batch untouched
    assert(parts(stateA) == Set(1L, 2L), parts(stateA).toString)
    assert(stateRows(stateA) == stateRows(stateB))
    // idempotent: a re-run (the crashed-compaction contract) is a no-op
    StreamUrlDedup.compactState(spark, stateA, 1L)
    assert(parts(stateA) == Set(1L, 2L) && stateRows(stateA) == stateRows(stateB))
    // the newest batch can still replay byte-identically
    StreamUrlDedup.processBatch(spark, b2, 2L, stateA, outA)
    assert(dropPairs(outA) == dropPairs(outB))
    // and the next batch's probes see every compacted keeper
    val b3 = Seq(30L -> "https://b.org/q", 31L -> "https://d.org/s")
      .toDF("doc_id", "url")
    StreamUrlDedup.processBatch(spark, b3, 3L, stateA, outA)
    StreamUrlDedup.processBatch(spark, b3, 3L, stateB, outB)
    assert(dropPairs(outA) == dropPairs(outB) &&
      dropPairs(outA).contains((30L, 10L)))
    // guard: the newest batch may still replay — refuse to compact it
    val e = intercept[IllegalArgumentException] {
      StreamUrlDedup.compactState(spark, stateA, 3L)
    }
    assert(e.getMessage.contains("strictly below"))
  }

  test("half-compacted state refuses probes until compaction re-runs") {
    import spark.implicits._
    val state = Files.createTempDirectory("su_state6").toString
    val out = Files.createTempDirectory("su_out6").toString + "/drops"
    StreamUrlDedup.processBatch(spark,
      Seq(0L -> "https://a.org/p").toDF("doc_id", "url"), 0L, state, out)
    StreamUrlDedup.processBatch(spark,
      Seq(10L -> "https://b.org/q").toDF("doc_id", "url"), 1L, state, out)
    StreamUrlDedup.processBatch(spark,
      Seq(20L -> "https://c.org/r").toDF("doc_id", "url"), 2L, state, out)
    // simulate a compaction crash AFTER the merged write, BEFORE the
    // drops: the marker is still up, so a stream resume must fail
    // loudly instead of probing double-matching state
    Files.createFile(Paths.get(state, "urls", "_COMPACTING"))
    val e = intercept[IllegalArgumentException] {
      StreamUrlDedup.processBatch(spark,
        Seq(30L -> "https://d.org/s").toDF("doc_id", "url"), 3L, state, out)
    }
    assert(e.getMessage.contains("_COMPACTING"), e.getMessage)
    // re-running compaction IS the recovery path: it converges and
    // lowers the marker, after which the stream resumes normally
    StreamUrlDedup.compactState(spark, state, 1L)
    assert(!Files.exists(Paths.get(state, "urls", "_COMPACTING")))
    StreamUrlDedup.processBatch(spark,
      Seq(30L -> "https://a.org/p").toDF("doc_id", "url"), 3L, state, out)
    assert(dropPairs(out).contains((30L, 0L)))
  }

  test("frontier probe joins the bucketed URL state with no Exchange") {
    import spark.implicits._
    val state = Files.createTempDirectory("su_state4").toString
    val out = Files.createTempDirectory("su_out4").toString + "/drops"
    val corpus = (0L until 200L).map(i => (i, s"https://h$i.example.com/p$i"))
      .toDF("doc_id", "url")
    StreamUrlDedup.processBatch(spark, corpus, 0L, state, out)
    val batch = Curation.urlNormalize(
        (1000L until 1020L).map(i => (i, s"https://h$i.example.com/p$i"))
          .toDF("doc_id", "url"))
      .select(col("doc_id"), col("norm_url"), col("domain"))
    val seen = spark.table(BatchState.tableName(s"$state/urls"))
      .filter(col("batch") < 1).drop("batch")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = batch.join(seen.select("norm_url"), Seq("norm_url"),
        "left_anti")
      val plan = probe.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges == 1, s"expected only the batch-side shuffle:\n$plan")
      assert(plan.contains("SelectedBucketsCount"),
        s"URL state not read as a bucketed scan:\n$plan")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }
}
